package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bit-identity pin for `Dsl.rlong` (r18 opt): the pure-IEEE
  * half-away-from-zero device must equal Spark's BigDecimal-backed
  * `round(y, 0).cast("bigint")` for every finite double, INCLUDING the
  * adversarial near-tie classes where the naive `floor(y + 0.5)` device
  * diverges (values one ulp below a .5 boundary, where the +0.5
  * addition rounds up across the tie). The hot 1e9-scaled-BIGINT
  * aggregations swap to rlong on this guarantee — the oracle SQL keeps
  * plain ROUND, so this equivalence IS the correctness argument. The
  * JVM twin `Dsl.rlong(Double)` (the PowerIter kernel's per-arc
  * rounding) is checked on every input as well.
  */
class FastRoundSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def bothWays(xs: Seq[Double]): Unit = {
    val df = xs.toDF("x")
      .select(col("x"), round(col("x"), 0).cast("bigint").as("slow"),
        engine.Dsl.rlong(col("x")).as("fast"))
    val bad = df.filter(col("slow") =!= col("fast") ||
      col("slow").isNull =!= col("fast").isNull).collect()
    assert(bad.isEmpty, s"rlong diverges from round: ${bad.take(5).mkString("; ")}")
    // the JVM twin the power-iteration kernel sums with
    val badTwin = df.collect().filter(r => engine.Dsl.rlong(r.getDouble(0)) != r.getLong(1))
    assert(badTwin.isEmpty,
      s"JVM rlong diverges from round: ${badTwin.take(5).mkString("; ")}")
  }

  test("rlong == round(x,0).cast(bigint) on adversarial tie classes") {
    val nearTies = Seq(
      0.5, -0.5, 1.5, -1.5, 2.5, -2.5,
      0.49999999999999994, -0.49999999999999994, // +0.5 rounds to 1.0 in IEEE
      Math.nextDown(0.5), Math.nextUp(0.5),
      Math.nextDown(2.5), Math.nextUp(2.5), Math.nextDown(-2.5), Math.nextUp(-2.5),
      2147483647.5, -2147483647.5, // int-boundary ties
      Math.nextDown(1e15 + 0.5), 1e15 + 0.5,
      4503599627370495.5, // largest x.5 exactly representable (2^52 - 0.5)
      9.007199254740992e15, -9.007199254740992e15, // 2^53
      0.0, -0.0, 1e-300, -1e-300, 1.0, -1.0)
    bothWays(nearTies)
  }

  test("rlong == round(x,0).cast(bigint) across the scaled-term range") {
    // the hot sites feed x·1e9 with |x| ≲ 30 → magnitudes up to ~3e10;
    // sweep magnitudes 1e-3..1e15 with dense coverage around .5 offsets
    val rnd = new scala.util.Random(20260819)
    val xs = Seq.tabulate(20000) { i =>
      val mag = math.pow(10, -3 + 18.0 * (i % 997) / 997.0)
      val base = math.floor(rnd.nextDouble() * mag)
      (i % 5) match {
        case 0 => base + 0.5
        case 1 => Math.nextDown(base + 0.5)
        case 2 => Math.nextUp(base + 0.5)
        case 3 => rnd.nextDouble() * mag
        case _ => -(base + rnd.nextDouble())
      }
    }
    bothWays(xs)
  }

  test("rlong == round(x,0).cast(bigint) on raw random bit patterns") {
    val rnd = new scala.util.Random(42)
    // cast to BIGINT must not overflow (ANSI throws past ±2^63 on BOTH
    // forms — equal behavior, but not assertable via collect)
    val xs = Seq.fill(40000) {
      java.lang.Double.longBitsToDouble(rnd.nextLong())
    }.filter(d => !d.isNaN && !d.isInfinite && math.abs(d) < 9.0e18)
    bothWays(xs)
  }
}

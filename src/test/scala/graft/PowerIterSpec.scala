package graft

import scala.collection.mutable

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.PowerIter
import graft.engine.PowerIter.{Cell, VecLeg}

/** Property pins for the kernel's min-relaxation and vector-sum modes
  * against plain-Scala references — union-find for labels, BFS for hops,
  * synchronous Bellman-Ford for weighted distances, a superstep replay
  * for vector sums — on random small graphs, in both placements of the
  * state (the default guard holds it on the driver, guard 0 partitions
  * it). */
class PowerIterSpec extends AnyFunSuite {
  import TestSpark._

  private val guardKey = "spark.graft.stateBroadcastMaxRows"

  private def check(p: Prop, label: String): Unit =
    for (guard <- Seq(None, Some("0"))) {
      guard.foreach(spark.conf.set(guardKey, _))
      try {
        val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), p)
        assert(res.passed, s"$label (guard ${guard.getOrElse("default")}): ${res.status}")
      } finally spark.conf.unset(guardKey)
    }

  type Arc = (Long, Long, Long)
  private val node = Gen.chooseNum(0L, 11L)
  private val arcs: Gen[List[Arc]] =
    Gen.listOf(Gen.zip(node, node, Gen.chooseNum(1L, 5L))).map(_.filter(a => a._1 != a._2))
  private def sym(as: List[Arc]): List[Arc] = as ++ as.map { case (a, b, w) => (b, a, w) }
  /** 0–3 distinct seeds: an empty seed list is an empty initial state. */
  private val seeds: Gen[List[Long]] = Gen.frequency(
    1 -> Gen.const(Nil), 5 -> Gen.choose(1, 3).flatMap(Gen.listOfN(_, node)).map(_.distinct))

  private def arcFrame(as: List[Arc]) = {
    val s = spark
    import s.implicits._
    as.toDF("a", "b", "w")
  }

  /** Runs the kernel from per-lane seeds (lane = the seed itself) and
    * returns (lane, node) → value. */
  private def relaxLanes(as: List[Arc], ss: List[Long], hop: Long,
      weight: Option[String], rounds: Int): Map[(Long, Long), Long] = {
    val s = spark
    import s.implicits._
    PowerIter.relax(spark, "prop", ss.map(x => (x, x, 0L)).toDF("seed", "node", "d"),
        arcFrame(as), "a", "b", hop, weight, rounds)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
  }

  test("labels: min relaxation over symmetrized arcs equals union-find's min member") {
    check(Prop.forAll(arcs, Gen.listOf(node)) { (as, isolated) =>
      val und = sym(as)
      val nodes = (und.map(_._1) ++ isolated).distinct
      val parent = mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else find(p) }
      und.foreach { case (a, b, _) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val s = spark
      import s.implicits._
      val got = PowerIter.relax(spark, "prop", nodes.map(x => (x, x)).toDF("node", "lbl"),
        arcFrame(und), "b", "a").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == nodes.map(x => x -> find(x)).toMap
    }, "union-find labels")
  }

  test("hops: multi-lane BFS under a round cap equals per-seed BFS to that depth") {
    check(Prop.forAll(arcs, seeds, Gen.choose(1, 6)) { (as, ss, cap) =>
      val want = ss.flatMap { sd =>
        val dist = mutable.LinkedHashMap(sd -> 0L)
        var level = List(sd)
        for (d <- 1 to cap) {
          level = level.flatMap(u => as.collect { case (`u`, v, _) => v })
            .distinct.filterNot(dist.contains)
          level.foreach(v => dist(v) = d.toLong)
        }
        dist.map { case (v, d) => (sd, v) -> d }
      }.toMap
      relaxLanes(as, ss, hop = 1L, weight = None, rounds = cap) == want
    }, "BFS hops")
  }

  test("weights: capped min relaxation equals synchronous Bellman-Ford, per lane") {
    check(Prop.forAll(arcs, seeds, Gen.choose(1, 8)) { (as, ss, cap) =>
      val want = ss.flatMap { sd =>
        var d = Map(sd -> 0L)
        for (_ <- 1 to cap) {
          val next = mutable.HashMap.from(d)
          for ((u, v, w) <- as; du <- d.get(u))
            if (du + w < next.getOrElse(v, Long.MaxValue)) next(v) = du + w
          d = next.toMap
        }
        d.map { case (v, x) => (sd, v) -> x }
      }.toMap
      relaxLanes(as, ss, hop = 0L, weight = Some("w"), rounds = cap) == want
    }, "Bellman-Ford distances")
  }

  test("vector sums: summed, counted cells per superstep equal a plain-Scala replay") {
    // 3 Long lanes per key; the f64 lane, when present, holds small
    // integers, so its sums are exact in any order
    val cells: Gen[Map[Long, Seq[Long]]] = Gen.frequency(1 -> Gen.const(Map.empty[Long, Seq[Long]]),
      5 -> Gen.mapOf(Gen.zip(node, Gen.listOfN(3, Gen.chooseNum(-1000L, 1000L)))))
    def update(key: Any, c: Cell, n: Long): Cell =
      Cell(c.q.map(_ * 2 + n + key.asInstanceOf[Long]), Option(c.f).map(_.map(_ + n)).orNull)
    // leg i runs a → b when even, b → a when odd; leg 0 reads its
    // from-key as `from % 5`, a derived key
    def ends(i: Int, arc: Arc): (Long, Long) =
      if (i % 2 == 0) (if (i == 0) arc._1 % 5 else arc._1, arc._2) else (arc._2, arc._1)
    check(Prop.forAll(arcs, cells, Gen.choose(1, 3), Gen.oneOf(false, true)) { (as, init, legs, f64) =>
      type V = (Seq[Long], Option[Seq[Double]])
      var want: Map[Long, V] = init.map { case (k, q) => k -> (q, Option.when(f64)(q.map(_.toDouble))) }
      for (i <- 0 until legs) {
        want = as.flatMap { arc => val (f, t) = ends(i, arc); want.get(f).map(t -> _) }
          .groupMap(_._1)(_._2).map { case (t, vs) =>
            val q = vs.map(_._1).transpose.map(_.sum)
            val fs = vs.head._2.map(_ => vs.flatMap(_._2).transpose.map(_.sum))
            val c = update(t, Cell(q.toArray, fs.map(_.toArray).orNull), vs.size.toLong)
            t -> (c.q.toSeq, Option(c.f).map(_.toSeq))
          }
      }
      val s = spark
      import s.implicits._
      val initDf = if (f64) init.toSeq.map { case (k, q) => (k, q, q.map(_.toDouble)) }.toDF("node", "q", "f")
        else init.toSeq.toDF("node", "q")
      val vlegs = (0 until legs).map { i =>
        val (from, to) = if (i % 2 == 0) ("a", "b") else ("b", "a")
        val key: Any => Any = if (i == 0) k => k.asInstanceOf[Long] % 5 else identity
        VecLeg(arcFrame(as), from, to, update, 12L, key)
      }
      val got = PowerIter.vsum(spark, "prop", initDf, if (f64) 6 else 3, vlegs).collect()
        .map(r => r.getLong(0) -> (r.getSeq[Long](1), Option(r.getSeq[Double](2)))).toMap
      got == want
    }, "vector sums")
  }
}

package graft

import scala.collection.mutable

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.PowerIter

/** Property pins for the kernel's min-relaxation mode against plain-Scala
  * references — union-find for labels, BFS for hops, synchronous
  * Bellman-Ford for weighted distances — on random small graphs, in both
  * placements of the state (the default guard holds it on the driver,
  * guard 0 partitions it). */
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
}

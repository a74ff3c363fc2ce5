package graft

import scala.collection.mutable

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{array, lit}
import org.apache.spark.sql.graft.SessionBridge
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.PowerIter
import graft.engine.PowerIter.{Cell, VecLeg}

/** Property pins for the kernel's min-relaxation and vector-sum modes
  * against plain-Scala references — union-find for labels, BFS for hops,
  * synchronous Bellman-Ford for weighted distances, a superstep replay
  * for vector sums — on random small graphs, in the three placements of
  * the state; and pins of the placements themselves: the jobs a run
  * launches, and the order of the f64 lane's sums. */
class PowerIterSpec extends AnyFunSuite {
  import TestSpark._

  private val guardKey = "spark.graft.stateBroadcastMaxRows"

  /** Runs `p` under three guards: the default holds the state and the
    * arcs on the driver (the local placement); `held` holds every state
    * the samples reach, but beside it the arcs of most samples do not
    * fit (the narrow step); 0 partitions the state. */
  private def check(p: Prop, label: String, held: Long): Unit =
    for (guard <- Seq(None, Some(held.toString), Some("0"))) {
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
    }, "union-find labels", held = 12)
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
    }, "BFS hops", held = 36)
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
    }, "Bellman-Ford distances", held = 36)
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
    check(Prop.forAll(arcs, cells, Gen.choose(1, 4), Gen.oneOf(false, true)) { (as, init, legs, f64) =>
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
      // every leg reads one frame: legs 0 and 2 differ only in their
      // key, and leg 3 reads the arcs as leg 1 does
      val af = arcFrame(as)
      val vlegs = (0 until legs).map { i =>
        val (from, to) = if (i % 2 == 0) ("a", "b") else ("b", "a")
        val key: Any => Any = if (i == 0) k => k.asInstanceOf[Long] % 5 else identity
        VecLeg(af, from, to, update, 12L, key)
      }
      val got = PowerIter.vsum(spark, "prop", initDf, if (f64) 6 else 3, vlegs).collect()
        .map(r => r.getLong(0) -> (r.getSeq[Long](1), Option(r.getSeq[Double](2)))).toMap
      got == want
      // the narrow step's partials bound: 4 scan tasks × 12 keys × 6 lanes
    }, "vector sums", held = 288)
  }

  /** Runs `body` on this thread under a job group of its own and returns
    * it with the descriptions of the jobs it launched, in order. */
  private def jobs[A](body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"poweriter-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group)
          seen.add(e.jobId -> e.properties.getProperty("spark.job.description"))
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "")
    try {
      val a = body
      SessionBridge.drainListeners(spark)
      (a, seen.asScala.toSeq.sortBy(_._1).map(_._2))
    } finally { sc.clearJobGroup(); sc.removeSparkListener(l) }
  }

  test("within the guard a run launches as many jobs for 1 step as for 10") {
    val s = spark
    import s.implicits._
    // a path of 12 arcs: the frontier of `relax` lives 10 rounds
    val path = arcFrame((0L until 12L).map(i => (i, i + 1, 1L)).toList)
    val nodes = (0L to 12L).toDF("node")
    def launched(steps: Int): Seq[Seq[String]] = Seq(
      jobs(PowerIter.run(spark, "steps", nodes.select($"node", lit(1.0).as("x")), steps,
        Seq(PowerIter.Leg(path, "a", "b", (x, _, _) => x / 2))))._2,
      jobs(PowerIter.relax(spark, "steps", Seq((0L, 0L)).toDF("node", "d"), path, "a", "b",
        hop = 1L, maxRounds = steps))._2,
      jobs(PowerIter.vsum(spark, "steps", nodes.select($"node", array($"node").as("q")), 1,
        Seq.fill(steps)(VecLeg(path, "a", "b", (_, c, _) => c, 13L))))._2)
    // one read of the state and one of the arcs
    assert(launched(1) == launched(10))
    assert(launched(10).forall(_ == Seq("steps/iter0", "steps/iter1/arcs:local")))
  }

  test("arcs that do not fit beside the state cost no job: one job per step, as narrow") {
    val s = spark
    import s.implicits._
    val path = arcFrame((0L until 12L).map(i => (i, i + 1, 1L)).toList)
    def halve() = jobs(PowerIter.run(spark, "try", (0L to 12L).map(k => (k, 1.0)).toDF("node", "x"),
      10, Seq(PowerIter.Leg(path, "a", "b", (x, _, _) => x / 2))).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap)
    // 20 holds the 13 keys of the state, not the 24 arc cells beside it
    spark.conf.set(guardKey, "20")
    val (narrow, tags) = try halve() finally spark.conf.unset(guardKey)
    // the first step's job tries the arcs; the second goes narrow (the
    // untagged job is the caller's collect)
    assert(tags.filter(_.nonEmpty) == Seq("try/iter0", "try/iter1/arcs:local", "try/iter2/arcs:narrow") ++
      (3 to 10).map(i => s"try/iter$i"))
    // ten steps along the path leave its last three nodes
    assert(narrow.keySet == Set(10L, 11L, 12L) && narrow == halve()._1)
  }

  test("a driver-held final state is one partition: a global sort plans no exchange") {
    val s = spark
    import s.implicits._
    val out = PowerIter.run(spark, "sorted", (0L until 40L).map(k => (k, 1.0)).toDF("node", "x"),
      2, Seq(PowerIter.Leg(arcFrame((0L until 40L).map(i => (i, (i * 7) % 40, 1L)).toList),
        "a", "b", (x, _, _) => x))).orderBy($"x".desc, $"node")
    assert(out.rdd.getNumPartitions == 1)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("each placement tags its first arc read; local and narrow sum the f64 lane alike") {
    val s = spark
    import s.implicits._
    // 300 arcs over 40 keys in 3 scan tasks; the f64 cells' sums round
    // differently in another order of addition
    val rnd = new scala.util.Random(7)
    val as = List.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong, 1L))
    val init = (0L until 40L).map(k => (k, Seq(k, 2 * k, 3 * k), Seq.fill(3)(rnd.nextDouble() * 1e3)))
      .toDF("node", "q", "f")
    def sums(guard: Option[String]): (Map[Long, (Seq[Long], Seq[Double])], Seq[String]) = {
      guard.foreach(spark.conf.set(guardKey, _))
      try jobs(PowerIter.vsum(spark, "tags", init, 6, Seq(
          VecLeg(arcFrame(as), "a", "b", (_, c, _) => c, 40L),
          VecLeg(arcFrame(as), "b", "a", (_, c, _) => c, 40L)), width = 3)
        .collect().map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getSeq[Double](2))).toMap)
      finally spark.conf.unset(guardKey)
    }
    // 720 = 3 tasks × 40 keys × 6 lanes holds the state and the partials,
    // not the 1,200 arc cells of the two legs beside the state
    val (local, lt) = sums(None)
    val (narrow, nt) = sums(Some("720"))
    val (parted, pt) = sums(Some("0"))
    def arcTags(ts: Seq[String]) = ts.filter(_.contains("/arcs:"))
    assert(arcTags(lt) == Seq("tags/iter1/arcs:local"))
    assert(arcTags(nt) == Seq("tags/iter1/arcs:local", "tags/iter2/arcs:narrow"))
    assert(arcTags(pt) == Seq("tags/iter1/arcs:partitioned", "tags/iter2/arcs:partitioned"))
    def bits(m: Map[Long, (Seq[Long], Seq[Double])]) =
      m.map { case (k, (q, f)) => k -> (q, f.map(java.lang.Double.doubleToLongBits)) }
    assert(local.nonEmpty && bits(local) == bits(narrow))
    assert(parted.keySet == local.keySet && parted.forall { case (k, (q, f)) =>
      q == local(k)._1 && f.zip(local(k)._2).forall { case (x, y) => math.abs(x - y) <= 1e-9 * y }
    })
  }

  test("legs over the same arcs share one read and one count of their cells") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val as = arcFrame(List.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong, 1L)))
    val init = (0L until 40L).map(k => (k, Seq(k, 2 * k, 3 * k, 4 * k, 5 * k, 6 * k))).toDF("node", "q")
    def tags(guard: String): Seq[String] = {
      spark.conf.set(guardKey, guard)
      try jobs(PowerIter.vsum(spark, "shared", init, 6,
          Seq.fill(3)(VecLeg(as, "a", "b", (_, c, _) => c, 40L)), width = 3).collect())._2
        .filter(_.contains("/arcs:"))
      finally spark.conf.unset(guardKey)
    }
    // 1,200 holds the 240 state cells, the 720 partials' cells and the
    // 600 arc cells once (each of the 3 read tasks may send 320 of the
    // 960 left), not three times
    assert(tags("1200") == Seq("shared/iter1/arcs:local"))
    assert(tags("0") == Seq("shared/iter1/arcs:partitioned"))
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Equality pins for the r18 optimization rewrites: every rewrite that
  * restructured an operator's internals must return byte-identical
  * rows to its pre-rewrite shape (the oracle re-checks against DuckDB;
  * these tests pin Spark-vs-Spark equality so a drift is caught at
  * `sbt test` speed, without DuckDB).
  */
class OptimizationR18Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import TestSpark.{sf0001, sf001}

  /** The relational HITS the kernel replaced (normalize into a hub/auth
    * projection per leg, then matvec the normalized table through a
    * probe-gated state join) — the reference q_graph_hits must equal. */
  private def hitsUnfusedTwin(s: SparkSession, dir: String): DataFrame = {
    import engine.{Dsl, GraphOps}
    import engine.Ckpt.CkptOps
    val e = GraphOps.edges(s, dir).coalesce(GraphOps.iterWidth(s, dir))
    var auth = e.select(col("dst").as("node")).distinct()
      .select(col("node"), lit(1.0).as("a"))
    for (_ <- 1 to GraphOps.HitsIters) {
      // each raw leg is checkpointed: the max-norm broadcast and the
      // main chain both read it
      val hRaw = e.join(GraphOps.stateHint(s, dir, auth.select(col("node").as("an"), col("a")), "an"),
          col("dst") === col("an"))
        .groupBy(col("src"))
        .agg((sum(Dsl.rlong(col("a") * 1e9)).cast("double") / 1e9).as("h"))
        .ckpt()
      val hRawF = GraphOps.freshStats(s, hRaw)
      val hub = hRawF.crossJoin(broadcast(hRawF.agg(max(col("h")).as("hm"))))
        .select(col("src"), (col("h") / col("hm")).as("h"))
      val aRaw = e.join(GraphOps.stateHint(s, dir, hub.select(col("src").as("hn"), col("h")), "hn"),
          col("src") === col("hn"))
        .groupBy(col("dst"))
        .agg((sum(Dsl.rlong(col("h") * 1e9)).cast("double") / 1e9).as("ar"))
        .ckpt()
      val aRawF = GraphOps.freshStats(s, aRaw)
      auth = aRawF.crossJoin(broadcast(aRawF.agg(max(col("ar")).as("am"))))
        .select(col("dst").as("node"), (col("ar") / col("am")).as("a"))
    }
    auth.select(col("node").as("part_key"), round(col("a"), 6).as("authority"))
      .orderBy(col("authority").desc, col("part_key").asc)
      .limit(20)
  }

  test("hits max-norm fusion returns rows identical to the unfused twin") {
    val fused = engine.GraphOps.q_graph_hits(spark, sf001).collect().toSeq
    val twin = hitsUnfusedTwin(spark, sf001).collect().toSeq
    assert(fused == twin)
  }

  test("rfm parallel axes == sequential ntile fold (exact grid)") {
    import engine.{Dist, Dsl, Tables}
    val out = engine.Relational.q_agg_rfm(spark, sf001).collect().toSeq
    // sequential-fold twin: the pre-r18 shape (axis k ntiles the output
    // of axis k-1; extra columns never enter the order, so buckets are
    // the same — this asserts it)
    val per = Tables.orders(spark, sf001)
      .groupBy(col("o_custkey"))
      .agg(max(datediff(col("o_orderdate"), lit("1970-01-01").cast("date")))
          .as("last_days"),
        count(lit(1)).as("freq"),
        sum((Dsl.dec(col("o_totalprice")) * 100).cast("long")).as("cents"))
      .localCheckpoint()
    val withQ = Seq(
      (Seq(col("last_days"), col("o_custkey")), "r_q"),
      (Seq(col("freq"), col("o_custkey")), "f_q"),
      (Seq(col("cents"), col("o_custkey")), "m_q"))
      .foldLeft(per) { case (df, (ord, n)) => Dist.ntile(df, 5, ord, n) }
    val twin = withQ
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_customers"),
        (sum(col("cents")).cast("double") / 100.0).as("monetary_sum"))
      .orderBy("r_q", "f_q", "m_q")
      .collect().toSeq
    assert(out == twin)
  }

  test("Par.run preserves order, propagates failures, and keeps Ckpt capture") {
    import engine.{Ckpt, Par}
    import engine.Ckpt.CkptOps
    // order
    assert(Par.run(spark, Seq(() => 1, () => 2, () => 3)) == Seq(1, 2, 3))
    // failure propagation
    val boom = intercept[RuntimeException] {
      Par.run[Int](spark, Seq(() => 1, () => throw new RuntimeException("leg failed")))
    }
    assert(boom.getMessage == "leg failed")
    // a worker-thread ckpt must stay visible to the plan-audit capture
    // (the r17 blocker for overlapping the RFM axes)
    val (_, recorded) = Ckpt.record {
      Par.run(spark, Seq(() => {
        import spark.implicits._
        Seq(1, 2).toDF("x").ckpt("par-worker-leg").count()
      }))
    }
    assert(recorded.exists(_._1 == "par-worker-leg"),
      s"worker ckpt not captured: ${recorded.map(_._1)}")
  }

  test("job descriptions tag kernel iterations, MV builds and Par legs " +
      "and restore the caller's; the job group is untouched") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graft.SessionBridge
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    import engine.{GraphOps, Mv, Par}
    import engine.Ckpt.CkptOps
    val sc = spark.sparkContext
    // a first call builds the katz call's MV and edge-count probe, so
    // every job of the second one is the kernel's
    GraphOps.q_graph_katz(spark, sf0001)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val katzJobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val narrowJobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var inKatz = false
    @volatile var inNarrow = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val t = (e.properties.getProperty("spark.job.description"),
          e.properties.getProperty("spark.jobGroup.id"))
        seen.add(t)
        if (inKatz) katzJobs.add(t)
        if (inNarrow) narrowJobs.add(t._1)
      }
    }
    val mvKey = s"jobTagProbe|${System.nanoTime()}"
    sc.addSparkListener(listener)
    sc.setJobGroup("tag-group", "caller")
    try {
      SessionBridge.drainListeners(spark)
      inKatz = true
      val katz = GraphOps.q_graph_katz(spark, sf0001)
      SessionBridge.drainListeners(spark)
      inKatz = false
      katz.collect()
      // a guard that holds the state but not the arcs beside it: every
      // round is a narrow job of its own
      val ue = GraphOps.undProj(spark, sf0001, GraphOps.TriangleMinCooccur)
      val guard = ue.select("a").distinct().count() + ue.count()
      spark.conf.set("spark.graft.stateBroadcastMaxRows", guard.toString)
      try {
        SessionBridge.drainListeners(spark)
        inNarrow = true
        GraphOps.q_graph_katz(spark, sf0001)
        SessionBridge.drainListeners(spark)
        inNarrow = false
      } finally spark.conf.unset("spark.graft.stateBroadcastMaxRows")
      Mv.memo(spark, mvKey)(bs => bs.range(8).toDF("x").ckpt("probe"))
      Par.run(spark, Seq(() => spark.range(5).count(), () => spark.range(6).count()))
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      assert(sc.getLocalProperty("spark.jobGroup.id") == "tag-group")
    } finally {
      sc.clearJobGroup()
      Mv.evict(spark, mvKey)
    }
    import scala.jdk.CollectionConverters._
    // steps run on the driver launch no job: the kernel's jobs are its
    // state and arc reads, all under the query's name
    val kernel = katzJobs.asScala.toSeq
    assert(kernel.nonEmpty && kernel.forall(t => t._1.startsWith("q_graph_katz/") &&
      t._2 == "tag-group"), s"katz jobs: $kernel")
    // the narrow call's rounds: iter0 reads the state, iter1's step also
    // tries the arcs, and iter2 is the first narrow step after it
    val narrow = narrowJobs.asScala.toSeq
    assert((0 to GraphOps.KatzIters).forall(i => narrow.exists(d =>
      d == s"q_graph_katz/iter$i" || d.startsWith(s"q_graph_katz/iter$i/"))), s"narrow jobs: $narrow")
    assert(Seq("iter1/arcs:local", "iter2/arcs:narrow").forall(t => narrow.contains(s"q_graph_katz/$t")),
      s"narrow jobs: $narrow")
    val want = Seq(s"mv:$mvKey/ckpt:probe", "caller/leg0", "caller/leg1")
    try eventually(timeout(20.seconds)) {
      val tags = seen.asScala.toSeq
      assert(want.forall(w => tags.exists(_._1 == w)), s"missing tags in ${tags.map(_._1)}")
      assert(tags.filter(t => want.contains(t._1)).forall(_._2 == "tag-group"),
        "every tagged job keeps the caller's job group")
    } finally sc.removeSparkListener(listener)
  }

  test("eigenvector max-norm fusion == unfused twin") {
    import engine.{Dsl, GraphOps}
    val out = GraphOps.q_graph_eigenvector(spark, sf001).collect().toSeq
    // unfused twin: the pre-r18 shape (normalize into an intermediate
    // projection per step, matvec the normalized table)
    val ue = GraphOps.undProj(spark, sf001, GraphOps.TriangleMinCooccur)
    var x = ue.select(col("a").as("node")).distinct()
      .select(col("node"), lit(1.0).as("x"))
    for (_ <- 1 to GraphOps.EigIters) {
      val raw = ue
        .join(broadcast(x.select(col("node").as("xn"), col("x"))),
          col("b") === col("xn"))
        .groupBy(col("a"))
        .agg((sum(Dsl.rlong(col("x") * 1e9)).cast("double") / 1e9).as("xr"))
        .localCheckpoint()
      x = raw.crossJoin(broadcast(raw.agg(max(col("xr")).as("xm"))))
        .select(col("a").as("node"), (col("xr") / col("xm")).as("x"))
    }
    val twin = x.select(col("node").as("part_key"), round(col("x"), 6).as("eigen"))
      .orderBy(col("eigen").desc, col("part_key").asc)
      .limit(20)
      .collect().toSeq
    assert(out == twin)
  }

  test("scc parallel sweeps return the sequential census (fixture pin)") {
    // pure-orchestration change (two independent sweeps overlapped):
    // pin the census against the committed sf0.001 expectation by
    // recomputing both sweep label tables sequentially from the MV
    import engine.GraphOps
    val out = GraphOps.q_graph_scc_colors(spark, sf0001).collect().toSeq
    val t = GraphOps.transEdges(spark, sf0001)
    val nodes = t.select(col("src").as("v"))
      .union(t.select(col("dst").as("v"))).distinct().localCheckpoint()
    def sweep(srcCol: String, dstCol: String, lbl: String) = {
      var x = nodes.select(col("v"), col("v").as(lbl)).localCheckpoint()
      for (_ <- 1 to GraphOps.SccHops) {
        val prop = t.join(x, col(srcCol) === col("v"))
          .select(col(dstCol).as("v"), col(lbl))
        x = x.union(prop).groupBy(col("v")).agg(min(col(lbl)).as(lbl))
          .localCheckpoint()
      }
      x
    }
    val twin = sweep("src", "dst", "f").join(sweep("dst", "src", "b"), Seq("v"))
      .groupBy(col("f").as("f_label"), col("b").as("b_label"))
      .agg(count(lit(1)).as("class_size"))
      .orderBy(col("class_size").desc, col("f_label").asc, col("b_label").asc)
      .limit(10)
      .collect().toSeq
    assert(out == twin)
  }
}

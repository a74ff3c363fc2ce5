package graft

import java.sql.Timestamp

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SessionBridge
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.engine.{Ckpt, Mv, StreamingGnn, StreamingOps}

/** Development entry point, not part of the Verify/Bench contract:
  *
  *   sbt "runMain graft.Dev <command> [args]"
  *
  *   time q...                         seconds and rows per call (repeat a name for warm samples)
  *   profile q...                      jobs and stages of each query's warm run
  *   explain [q...]                    formatted physical plans (default: every query)
  *   sweep [q...]                      PlanHazards per final and checkpointed plan (default: every query)
  *   scale [group...] [rebuild]        1x / 4x / 16x replica timings per operator family
  *   stream [keys] [events [batches]]  events/s through the streaming maintainers
  *   bounds                            approximate-operator error bounds, written to APPROX_BOUNDS.json
  *
  * Every command reads the fixture dir from SPARK_GRAFT_SF_DIR and the
  * core count from SPARK_GRAFT_CPUS (the Harness defaults). `time` and
  * `profile` first run Bench's untimed warmups, so their numbers compare
  * with the bench's steady state. Every timed call collects the query's
  * rows, the rows the oracle checks; counting would let the optimizer
  * prune the final projection.
  */
object Dev {
  type Command = (SparkSession, String, Seq[String]) => Unit

  val commands: Map[String, Command] = Map(
    "time" -> ((s, d, a) => { time(s, d, a); () }),
    "profile" -> profile,
    "explain" -> explain,
    "sweep" -> ((s, d, a) => { sweep(s, d, a); () }),
    "scale" -> scale,
    "stream" -> stream,
    "bounds" -> bounds)

  private val timing = Set("time", "profile")

  def main(args: Array[String]): Unit = run(args.toSeq, () => Harness.session())

  /** Validate the command line, then run it on a session from `session`,
    * stopped at the end; a bad command line fails before any session. */
  private[graft] def run(args: Seq[String], session: () => SparkSession): Unit = {
    val cmd = args.headOption.getOrElse("")
    require(commands.contains(cmd),
      s"unknown command '$cmd' — valid: ${commands.keys.toSeq.sorted.mkString(", ")}")
    if (cmd == "scale") scaleGroups(args.tail)
    val spark = session()
    try {
      val dir = Harness.sfDir()
      if (timing(cmd)) warm(spark, dir)
      commands(cmd)(spark, dir, args.tail)
    } finally spark.stop()
  }

  /** Bench's untimed warmups; a failure is named on stderr, so a failed
    * MV build cannot land unnoticed on the first timed query. */
  def warm(spark: SparkSession, dir: String): Unit =
    Bench.warmups(spark, dir).foreach { case (name, body) =>
      try body() catch { case NonFatal(e) =>
        System.err.println(s"[dev] warmup $name FAILED: ${e.getMessage}")
      }
    }

  /** One call of `q`: (seconds, rows collected). */
  def timeRows(spark: SparkSession, dir: String, q: String): (Double, Int) = {
    val t0 = System.nanoTime()
    val n = SparkEntry.queries(q)(spark, dir).collect().length
    ((System.nanoTime() - t0) / 1e9, n)
  }

  private def orAll(names: Seq[String]): Seq[String] =
    if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted

  /** Times each named call; returns the row counts. */
  def time(spark: SparkSession, dir: String, names: Seq[String]): Seq[Int] =
    names.map { q =>
      val (sec, n) = timeRows(spark, dir, q)
      println(f"[timeq] $q%-28s $sec%7.2f s  rows=$n")
      n
    }

  case class StageRec(id: Int, name: String, tasks: Int,
      taskTimeMs: Long, shufWriteB: Long, shufReadB: Long,
      inRec: Long, outRec: Long)

  /** Job and stage records of the jobs since the last `reset`. */
  class L extends SparkListener {
    val jobStart = mutable.Map.empty[Int, Long]
    val jobEnd = mutable.Map.empty[Int, Long]
    val jobStages = mutable.Map.empty[Int, Seq[Int]]
    val jobDesc = mutable.Map.empty[Int, String]
    val stages = mutable.Map.empty[Int, StageRec]
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart(e.jobId) = e.time
      jobStages(e.jobId) = e.stageIds
      jobDesc(e.jobId) = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnd(e.jobId) = e.time
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      stages(si.stageId) = StageRec(si.stageId, si.name.takeWhile(_ != '\n'),
        si.numTasks, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.inputMetrics.recordsRead, m.outputMetrics.recordsWritten)
    }
    def reset(): Unit = {
      jobStart.clear(); jobEnd.clear(); jobStages.clear(); jobDesc.clear(); stages.clear()
    }
  }

  /** Per query, one untimed and one timed call; prints the timed call's
    * jobs (wall, description) and their stages (tasks, task time,
    * shuffle bytes, records). The listener bus is drained before the
    * reset and before the print, so no event of the untimed call is
    * counted and none of the timed call is missed. */
  def profile(spark: SparkSession, dir: String, names: Seq[String]): Unit = {
    val l = new L
    spark.sparkContext.addSparkListener(l)
    try names.foreach { q =>
      timeRows(spark, dir, q)
      SessionBridge.drainListeners(spark)
      l.reset()
      val (wall, n) = timeRows(spark, dir, q)
      SessionBridge.drainListeners(spark)
      println(f"%n===== $q warm: $wall%.3f s, rows=$n =====")
      val jobs = l.jobStart.keys.toSeq.sorted
      var covered = 0L
      jobs.foreach { j =>
        val dur = (l.jobEnd.getOrElse(j, l.jobStart(j)) - l.jobStart(j)) / 1e3
        covered += (dur * 1000).toLong
        println(f"  job $j%3d ${dur}%7.3f s  ${l.jobDesc.getOrElse(j, "")}")
        l.jobStages.getOrElse(j, Nil).sorted.foreach { sid =>
          l.stages.get(sid).foreach { st =>
            println(f"    stage ${st.id}%4d tasks=${st.tasks}%3d taskTime=${st.taskTimeMs}%6d ms " +
              f"sw=${st.shufWriteB / 1024}%7d KB sr=${st.shufReadB / 1024}%7d KB " +
              f"in=${st.inRec}%9d out=${st.outRec}%7d  ${st.name}")
          }
        }
      }
      println(f"  jobs=${jobs.size} jobWallSum=${covered / 1e3}%.3f s (gaps = driver/planning time)")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  def explain(spark: SparkSession, dir: String, names: Seq[String]): Unit =
    orAll(names).foreach { n =>
      println(s"\n===== $n =====")
      try SparkEntry.queries(n)(spark, dir).explain("formatted")
      catch { case NonFatal(e) => println(s"explain failed: ${e.getMessage}") }
    }

  /** The hazards of each query's final plan and of every plan it
    * checkpoints, at the locations PlanAuditSpec's gate reports
    * (`q[final]`, `q[ckpt:<tag>]`); returns the printed lines. The MV
    * registry is evicted first, as the gate does, so every memoized
    * build runs, and is captured, inside the sweep. */
  def sweep(spark: SparkSession, dir: String, names: Seq[String]): Seq[String] = {
    Mv.keys(spark).foreach(k => Mv.evict(spark, k))
    orAll(names).flatMap { q =>
      val lines = try {
        val (df, recorded) = Ckpt.record { SparkEntry.queries(q)(spark, dir) }
        (("final" -> df.queryExecution.sparkPlan) +:
          recorded.map { case (tag, p) => s"ckpt:$tag" -> p })
          .flatMap { case (where, p) => hazards(p).map(h => s"[sweep] $q[$where] $h") }
      } catch { case NonFatal(e) => Seq(s"[sweep] $q BUILD_FAIL ${e.getMessage}") }
      lines.foreach(println)
      lines
    }
  }

  private def hazards(p: SparkPlan): Seq[String] = {
    val cart = if (PlanHazards.cartesian(p)) Seq("CartesianProduct") else Nil
    val bnlj = PlanHazards.unboundedBnlj(p).map { j =>
      "UNBOUNDED_BNLJ side=" +
        PlanHazards.buildSide(j).collect { case n => n.nodeName }.take(8).mkString(">")
    }
    val win = PlanHazards.globalWindows(p)
    cart ++ bnlj ++ (if (win.nonEmpty) Seq(s"unpartitioned ${win.mkString("+")}") else Nil)
  }

  // ---- scale: replica tiers of the fixture dir --------------------------

  /** A set of replica tiers (copies, dir) and how one tier is built from
    * the base dir. */
  private[graft] case class TierSet(name: String, tiers: Seq[(Int, String)],
      build: (SparkSession, String, Int, String) => Unit)

  private[graft] case class Group(name: String, title: String, tiers: TierSet,
      probes: Seq[String], exclude: Set[(String, Int)] = Set.empty)

  // key spans chosen >> max key so shifted copies never collide; all
  // are multiples of 10 so deterministic `% 10` samples keep their rate
  private val OSpan = 100000000L
  private val DSpan = 10000000L

  private def replicate(spark: SparkSession, base: String, out: String, copies: Int,
      name: String, shifts: Map[String, Long]): Unit = {
    val t = spark.read.parquet(s"$base/$name.parquet")
    (0 until copies).map { k =>
      shifts.foldLeft(t) { case (df, (c, span)) => df.withColumn(c, col(c) + lit(k * span)) }
    }.reduce(_.union(_)).write.mode("overwrite").parquet(s"$out/$name.parquet")
  }

  private def copyTables(spark: SparkSession, base: String, out: String, names: Seq[String]): Unit =
    names.foreach { t =>
      spark.read.parquet(s"$base/$t.parquet").write.mode("overwrite").parquet(s"$out/$t.parquet")
    }

  /** FACT tiers: k copies of the facts over the same dimensions, the
    * realistic growth axis (more orders/docs/events over one catalog).
    * Customers are not shifted, so this scales basket DENSITY, the
    * super-linear axis pairCounts documents. */
  private val factTiers = TierSet("fact",
    Seq(4 -> "/tmp/graft_scale/sf0.4", 16 -> "/tmp/graft_scale/sf1.6"), (s, base, copies, out) => {
      replicate(s, base, out, copies, "lineitem", Map("l_orderkey" -> OSpan))
      replicate(s, base, out, copies, "orders", Map("o_orderkey" -> OSpan))
      replicate(s, base, out, copies, "events", Map("event_id" -> DSpan))
      replicate(s, base, out, copies, "documents", Map("doc_id" -> DSpan))
      replicate(s, base, out, copies, "embeddings", Map("vec_id" -> DSpan))
      copyTables(s, base, out, Seq("region", "nation", "customer", "supplier", "part"))
    })

  /** GRAPH tiers: every fact AND dimension key is shifted, so each copy
    * is a DISJOINT replica of the co-purchase graph — |V| and |E| scale
    * by the copy count while basket sizes, fixpoint round counts and
    * component diameters stay the base graph's: the horizontal axis the
    * iterative tier is measured on. */
  private val graphTiers = TierSet("graph",
    Seq(4 -> "/tmp/graft_scale/g4", 16 -> "/tmp/graft_scale/g16"), (s, base, copies, out) => {
      replicate(s, base, out, copies, "lineitem", Map("l_orderkey" -> OSpan, "l_partkey" -> DSpan))
      replicate(s, base, out, copies, "orders", Map("o_orderkey" -> OSpan, "o_custkey" -> DSpan))
      replicate(s, base, out, copies, "customer", Map("c_custkey" -> DSpan))
      replicate(s, base, out, copies, "part", Map("p_partkey" -> DSpan))
      copyTables(s, base, out, Seq("region", "nation", "supplier", "events", "documents", "embeddings"))
    })

  /** PERTURBED-DOCUMENT tiers: copy k > 0 appends `·k` to EVERY token, a
    * uniform bijection per copy, so J(A_k, B_k) = J(A, B) within a copy
    * and cross-copy token sets are disjoint: k× the docs at the BASE
    * near-dup rate, where naive replication would hand every doc k-1
    * exact twins. The middle dot is outside the fixture's token
    * alphabet; a bare digit suffix collides for k ≥ 10 ("x"+"11" ==
    * "x1"+"1"). */
  private val perturbTiers = TierSet("perturbed",
    Seq(4 -> "/tmp/graft_scale/p4", 16 -> "/tmp/graft_scale/p16"), (s, base, copies, out) => {
      val docs = s.read.parquet(s"$base/documents.parquet")
      (0 until copies).map { k =>
        val shifted = docs.withColumn("doc_id", col("doc_id") + lit(k * DSpan))
        if (k == 0) shifted
        else shifted.withColumn("text", regexp_replace(col("text"), "(\\S+)", "$1·" + k.toString))
      }.reduce(_.union(_)).write.mode("overwrite").parquet(s"$out/documents.parquet")
      copyTables(s, base, out, Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "embeddings"))
    })

  /** The probe groups, in run order (`scale` with no group runs all). */
  private val groups = Seq(
    // q_llm_minhash_md5 is excluded from the fact-tier 16×: naive
    // replication manufactures ~256× the true near-dup pairs; its
    // realistic 16× curve is the `lsh` group on the perturbed corpus
    Group("fact", "fact tiers (density axis)", factTiers, Seq(
      "q_agg_pricing_summary",  // fact scan + partial/final agg
      "q_join_star_5way",       // broadcast-dim star join
      "q_llm_dedup_exact",      // hash-groupBy dedup
      "q_llm_minhash_md5",      // banded MinHash LSH (the 100 TB dedup path)
      "q_text_token_count",     // text scan + per-lang agg
      "q_llm_cosine_topk",      // embedding scan + top-k
      "q_graph_degree",         // fact-join edge build + keyed count
      "q_win_topk_per_group"),  // keyed rank window over the fact table
      Set("q_llm_minhash_md5" -> 16)),
    // per-round cost should scale ~linearly with |E| while round counts
    // stay flat (component structure is copy-invariant)
    Group("iter", "graph tiers (iterative/fixpoint, horizontal axis)", graphTiers, Seq(
      "q_graph_cc", "q_graph_label_prop", "q_graph_hits", "q_graph_ppr",
      "q_graph_betweenness", "q_graph_pagerank")),
    // calendar-bounded stats should grow with the event scan but keep
    // their day²-bounded tails flat; basket_lift reads pairCounts
    Group("r16", "round-16 tiers (fact/density axis)", factTiers, Seq(
      "q_time_markov", "q_time_kendall_tau", "q_agg_cohort_retention",
      "q_text_heaps_law", "q_embed_outliers", "q_agg_basket_lift")),
    Group("r16iter", "round-16 tiers (centralities, horizontal axis)", graphTiers, Seq(
      "q_graph_katz", "q_graph_eigenvector", "q_graph_harmonic")),
    // key-bounded maintainer state should track the linear scan; the
    // day-bounded sweeps and DP/rank stats stay near-flat past it
    Group("r18", "round-18 tiers (streaming maintainers + sweeps)", factTiers, Seq(
      "q_stream_rfm", "q_stream_isotropy", "q_stream_minhash",
      "q_agg_concurrency", "q_time_burst", "q_time_pettitt")),
    // Dist prefix-rank consumers: the rank input is near-constant as
    // facts grow, so cost tracks the scan plus a flat per-job overhead
    Group("r19", "round-19 tiers (Dist consumers, fact axis)", factTiers, Seq(
      "q_agg_rfm", "q_agg_pareto", "q_llm_tokenizer_coverage",
      "q_llm_pipeline_e2e", "q_src_zorder_layout")),
    // its own group: the per-tier MV caches of a combined run outgrow
    // local-mode storage memory
    Group("r19g", "round-19 tiers (GNN stack + motifs, horizontal axis)", graphTiers, Seq(
      "q_gnn_layer_k", "q_graph_motif_find")),
    Group("lsh", "perturbed-doc tiers (realistic near-dup rate)", perturbTiers, Seq(
      "q_llm_minhash_md5", "q_llm_dedup_clusters")),
    // the Louvain sweep and coarsening must track the edge count
    Group("r20g", "round-14 tiers (Louvain sweep + coarsening, horizontal axis)", graphTiers, Seq(
      "q_graph_louvain_move", "q_graph_coarsen")),
    Group("r21g", "round-15 tier (Louvain level-2 weighted sweep, horizontal axis)", graphTiers, Seq(
      "q_graph_louvain_level2")),
    // scale-adaptive capacity (nlist = ⌊√n⌋): semdedup pairs grow as
    // n^1.5, the IVF/LSH candidate sets sub-linearly
    Group("emb", "round-16 tiers (embedding axis, scale-adaptive capacity)", factTiers, Seq(
      "q_llm_semdedup", "q_llm_ann_ivf", "q_llm_ann_ivfpq", "q_llm_ann_lsh")),
    // the sampled-quadratic bitmap ground truth is EXPECTED to bend
    // super-linear; q_llm_lsh_clusters, the declared scale path, must not
    Group("r20", "round-14 tiers (bitmap ground truth vs banded scale path)", perturbTiers, Seq(
      "q_llm_lsh_clusters", "q_llm_ngram_jaccard", "q_llm_containment")))

  /** The groups `args` asks for (all when none); an unknown name fails
    * with the list of valid ones. */
  private[graft] def scaleGroups(args: Seq[String]): Seq[Group] = {
    val asked = args.filter(_ != "rebuild").toSet
    val unknown = asked -- groups.map(_.name)
    require(unknown.isEmpty, s"unknown scale group(s) ${unknown.mkString(", ")} — valid: " +
      s"${groups.map(_.name).mkString(", ")} (plus 'rebuild')")
    groups.filter(g => asked.isEmpty || asked(g.name))
  }

  /** Times each group's probes on the fixture dir (the base, `x1`) and
    * on its replica tiers. A tier set is built the first time a group
    * needs it, and again when its dirs were built from another base or
    * `rebuild` is given. Per (query, dir), the first call is printed as
    * `cold` (for MV consumers it includes the one-time build at that
    * scale, charged to the group's first consumer), then the minimum of
    * two more calls. */
  def scale(spark: SparkSession, base: String, args: Seq[String]): Unit = {
    val ready = mutable.Set.empty[String]
    def ensure(ts: TierSet): Unit = if (ready.add(ts.name)) ts.tiers.foreach { case (copies, out) =>
      val stamp = new java.io.File(s"$out/_base")
      val built = stamp.exists && java.nio.file.Files.readString(stamp.toPath) == base
      if (!built || args.contains("rebuild")) {
        ts.build(spark, base, copies, out)
        java.nio.file.Files.writeString(stamp.toPath, base)
        System.err.println(s"[scale] ${copies}x ${ts.name} replica built at $out")
      }
    }
    def t(q: String, dir: String): Double = timeRows(spark, dir, q)._1
    scaleGroups(args).foreach { g =>
      ensure(g.tiers)
      val tiers = g.tiers.tiers
      val dirs = (1 -> base) +: tiers
      val cold = mutable.Map.empty[(String, Int), Double]
      g.probes.foreach { q =>
        dirs.foreach { case (c, d) => if (!g.exclude((q, c))) cold((q, c)) = t(q, d) }
      }
      println(s"== ${g.title} ==")
      val timedHdr = tiers.map { case (n, _) => f"${s"x$n"}%8s" }.mkString(" ")
      val ratioHdr = tiers.map { case (n, _) => f"${s"r$n"}%6s" }.mkString(" ")
      val coldHdr = dirs.map { case (n, _) => f"${s"c$n"}%7s" }.mkString(" ")
      println(f"${"query"}%-26s ${"x1"}%8s $timedHdr $ratioHdr $coldHdr")
      g.probes.foreach { q =>
        def m(dir: String): Double = math.min(t(q, dir), t(q, dir))
        val a = m(base)
        val ts = tiers.map { case (n, d) => if (g.exclude((q, n))) -1.0 else m(d) }
        val timedCols = ts.map(v => if (v < 0) f"${"-"}%8s" else f"$v%8.2f").mkString(" ")
        val ratioCols = ts.map(v => if (v < 0) f"${"-"}%6s" else f"${v / a}%6.2f").mkString(" ")
        val coldCols = dirs.map { case (n, _) =>
          cold.get((q, n)).map(v => f"$v%7.2f").getOrElse(f"${"-"}%7s") }.mkString(" ")
        println(f"$q%-26s $a%8.2f $timedCols $ratioCols $coldCols")
      }
      if (g.name == "emb") {
        // pair COUNTS, which the scheduling floor cannot mask: Σ c·(c−1)/2
        // over semdedup's cells reads ×16 / ×256 if quadratic, ×8 / ×64
        // on the n^1.5 line
        println("== semdedup within-cell pair counts (embedding axis) ==")
        dirs.foreach { case (c, d) =>
          val r = SparkEntry.queries("q_llm_semdedup")(spark, d)
            .agg(sum(expr("n_vecs * (n_vecs - 1) / 2")).cast("long").as("pairs"),
              count(lit(1)).as("cells"), sum(col("n_vecs")).as("nv")).collect()(0)
          println(f"x$c%-3d pairs=${r.getLong(0)}%12d cells=${r.getLong(1)}%6d " +
            f"n_vecs=${r.getLong(2)}%8d")
        }
      }
    }
  }

  // ---- stream: streaming maintainer throughput --------------------------

  case class Ev2(event_id: Long, user_id: Long, ts: Timestamp, value: Double)

  /** Events/s through the engine's three keyed-state maintainers on the
    * RocksDB state store: `embedStream` (the streaming GNN neighbor
    * mean, 520 B of state per vertex), `timedSessions` (event-time
    * timers + watermark) and `statefulSnapshotTws` (transformWithState).
    * Input is a deterministic synthetic stream shaped like the sf0.1
    * fixture (15k vertices / 20k users, default 600k events in 12
    * batches) through MemoryStream to a noop sink; after one untimed
    * prime batch, the window is first addData → last
    * processAllAvailable. `keys` re-runs all three at 1×/4×/16× the
    * distinct keys with the event volume fixed: per-event work must
    * stay flat while state grows, or a maintainer rescans its state.
    * Runs on a child session, so the state store setting stays local. */
  def stream(spark: SparkSession, dir: String, args: Seq[String]): Unit = {
    val keyAxis = args.contains("keys")
    val numeric = args.filter(_ != "keys")
    val events = numeric.headOption.fold(600000)(_.toInt)
    val batches = numeric.lift(1).fold(12)(_.toInt)
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s.implicits._
    implicit val sq = s.sqlContext
    val perBatch = events / batches

    def run[T](name: String, mkBatch: Int => Seq[T], ms: MemoryStream[T],
        start: DataFrame => StreamingQuery): Unit = {
      ms.addData(mkBatch(0): _*)
      val q = start(ms.toDF())
      q.processAllAvailable()
      val t0 = System.nanoTime()
      (1 until batches).foreach { b =>
        ms.addData(mkBatch(b): _*)
        q.processAllAvailable()
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val n = (batches - 1).toLong * perBatch
      q.stop()
      println(f"[streambench] $name%-22s $n%8d events ${sec}%7.2f s " +
        f"${n / sec}%10.0f ev/s  (${batches - 1} micro-batches, ${sec / (batches - 1)}%5.2f s/batch)")
    }
    def ckpt(tag: String): String =
      java.nio.file.Files.createTempDirectory(s"graft_sb_$tag").toString

    (if (keyAxis) Seq(1, 4, 16) else Seq(1)).foreach { mult =>
      if (keyAxis) println(s"[streambench] == key tier ${mult}x: " +
        s"${15000 * mult} vertices / ${20000 * mult} users, $events events ==")
      def edgeBatch(b: Int): Seq[StreamingGnn.EdgeFeat] = (0 until perBatch).map { i =>
        val g = b.toLong * perBatch + i
        StreamingGnn.EdgeFeat(g % (15000L * mult),
          Array.tabulate(64)(j => ((g * 31 + j * 7) % 1000).toFloat / 1000f))
      }
      // one event per user per simulated minute: sessions stay open
      // across the whole run, so state accumulates
      def evBatch(b: Int): Seq[Ev2] = {
        val users = 20000L * mult
        (0 until perBatch).map { i =>
          val g = b.toLong * perBatch + i
          Ev2(g, g % users, new Timestamp(1704067200000L + (g / users) * 60000L),
            (g % 997).toDouble / 100.0)
        }
      }
      run(s"gnn_embed(fMGWS)@${mult}x", edgeBatch, MemoryStream[StreamingGnn.EdgeFeat],
        df => StreamingGnn.embedStream(s, df.select(col("cust").as("src"), col("vec").as("embedding")))
          .writeStream.outputMode(OutputMode.Update())
          .option("checkpointLocation", ckpt("embed")).format("noop").start())
      run(s"sessions(fMGWS+timer)@${mult}x", evBatch, MemoryStream[Ev2],
        df => StreamingOps.timedSessions(s, df)
          .writeStream.outputMode(OutputMode.Append())
          .option("checkpointLocation", ckpt("sess")).format("noop").start())
      run(s"snapshot(tws)@${mult}x", evBatch, MemoryStream[Ev2],
        df => StreamingOps.statefulSnapshotTws(s, df)
          .writeStream.outputMode(OutputMode.Update())
          .option("checkpointLocation", ckpt("tws")).format("noop").start())
    }
  }

  /** Prints the ApproxBounds JSON and rewrites both artifact copies. */
  def bounds(spark: SparkSession, dir: String, args: Seq[String]): Unit = {
    val json = ApproxBounds.measureJson(spark, dir)
    println(json)
    ApproxBounds.writeArtifacts(json)
  }
}

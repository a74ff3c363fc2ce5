package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Keyed, StreamingOps}

/** Checkpoint/restart recovery (VERDICT r6 item 4): the exactly-once
  * story of SURVEY §3.2 E2, demonstrated rather than asserted. A
  * `Keyed` query (transformWithState with event-time timers, RocksDB
  * state store — the 100 TB backend) is STOPPED mid-stream while its state
  * holds pending sessions, restarted from the same checkpoint
  * directory, and fed the rest of the stream; the recovered run's file
  * sink must equal an uninterrupted run of the identical input —
  * sessions bridged ACROSS the kill prove the state store round-trip,
  * and set-equality (no duplicates) proves exactly-once output.
  */
class RecoverySpec extends AnyFunSuite {
  import TestSpark._

  private def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  /** Events: user 1 has a session spanning the kill point (01:00,01:10
    * before; 01:20 after — within the 30-min gap), user 2's session
    * lives entirely before the kill, user 3's entirely after. The final
    * 09:00 event advances the watermark far enough to seal everything. */
  private val batch1 = Seq(
    E(1, 1, ts(1, 0), "click", 0), E(2, 1, ts(1, 10), "click", 0),
    E(3, 2, ts(1, 5), "view", 0))
  private val batch2 = Seq(
    E(4, 1, ts(1, 20), "click", 0),
    E(5, 3, ts(2, 0), "view", 0),
    E(6, 9, ts(9, 0), "click", 0))

  /** Run timedSessions over the batches with a parquet sink; `kill`
    * stops the query between the two batches and restarts a NEW query
    * from the same checkpoint. Returns the sealed sessions. */
  private def run(kill: Boolean): Set[(Long, Long, Timestamp)] = {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_recov").toString
    val (ckpt, out) = (s"$root/ckpt", s"$root/out")
    val ms = MemoryStream[E]
    def start() = StreamingOps.timedSessions(s, ms.toDF())
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", out).start()
    var q = start()
    ms.addData(batch1: _*)
    q.processAllAvailable()
    if (kill) {
      // the stop happens while user 1's and user 3's work is incomplete:
      // state holds pending (unsealed) sessions that must survive
      q.stop()
      q = start()
    }
    ms.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    s.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2))).toSet
  }

  /** Same recovery story for the per-user snapshot fold
    * (`statefulSnapshot`, one transformWithState ValueState per user):
    * kill the query between micro-batches while
    * every key holds accumulated state, restart from the checkpoint,
    * and require the final per-user snapshot to equal the uninterrupted
    * run — counts and cent-exact sums must BRIDGE the kill, which is
    * only possible if the ValueState round-tripped through the RocksDB
    * checkpoint. (Update-mode memory sink: the post-restart rows embed
    * the cumulative state, so equality of the final per-key snapshot is
    * the state-recovery proof.) */
  /** Cent-bearing variants of the two batches so the exact-cents sum
    * (not just the count) must bridge the kill. */
  private val twsBatch1 = Seq(
    E(1, 1, ts(1, 0), "click", 1.25), E(2, 1, ts(1, 10), "click", 2.50),
    E(3, 2, ts(1, 5), "view", 0.75))
  private val twsBatch2 = Seq(
    E(4, 1, ts(1, 20), "click", 4.00),
    E(5, 3, ts(2, 0), "view", 3.33))

  private def runSnapshot(kill: Boolean): Map[Long, (Long, Double)] = {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_recov_tws").toString
    val ms = MemoryStream[E]
    // foreachBatch is the checkpoint-recoverable sink here (the memory
    // sink refuses recoverFromCheckpoint): committed batch ids are NOT
    // re-run after the restart, so the in-JVM buffer — which outlives
    // the killed query object — sees every emission exactly once.
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Double)]
    def start() = StreamingOps.statefulSnapshot(s, ms.toDF())
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[StreamingOps.UserAgg], _: Long) =>
        df.collect().foreach(r => got.add((r.user_id, r.n_events, r.total_value)))
      }.start()
    var q = start()
    ms.addData(twsBatch1: _*)
    q.processAllAvailable()
    if (kill) {
      q.stop()
      q = start()
    }
    ms.addData(twsBatch2: _*)
    q.processAllAvailable()
    q.stop()
    // highest-count Update-mode emission per user = the final state
    // snapshot (n_events is monotone per key, so this is order-proof)
    import scala.jdk.CollectionConverters._
    got.asScala.toSeq.groupBy(_._1)
      .map { case (u, rows) =>
        val last = rows.maxBy(_._2)
        u -> (last._2, last._3)
      }
  }

  test("transformWithState ValueState survives a kill+restart from checkpoint") {
    val uninterrupted = runSnapshot(kill = false)
    val recovered = runSnapshot(kill = true)
    // user 1 has events on BOTH sides of the kill: its final count can
    // only be 3 if the pre-kill ValueState was restored
    assert(recovered(1L) == ((3L, 7.75)),
      s"user 1 count and exact-cents sum must bridge the restart: $recovered")
    assert(recovered == uninterrupted,
      s"recovered snapshot must equal the uninterrupted run:\n" +
        s"  recovered     = $recovered\n  uninterrupted = $uninterrupted")
  }

  // ---- Chained-stage recovery (VERDICT r7 item 6 / r8 item 6) ----------
  // q_stream_gnn_layer2's production shape is TWO chained Keyed stages
  // (layer 1 keyed by customer, layer 2 keyed by part) connected by an
  // explicit stream — Flink's iteration edge made explicit. Single-query
  // recovery is covered above; this kills BOTH stages between
  // micro-batches while layer-1 state (cust 1's accumulator) AND layer-2
  // state (part 10's sums and neighbor versions) hold data that the
  // post-kill batch must combine with, restarts both from their own
  // checkpoints, and requires the final part snapshot to equal the
  // uninterrupted run. The hop is at-least-once: after the restart it
  // delivers its last pre-kill batch again, which layer 2 must skip by
  // the records' versions.
  private def vec(xs: Float*): Seq[Float] = xs ++ Seq.fill(64 - xs.length)(0.0f)
  private val gnnB1 = Seq(L2Edge(1, 10, vec(1f, 2f)), L2Edge(2, 10, vec(10f, 0f)))
  private val gnnB2 = Seq(L2Edge(1, 11, vec(3f, 4f)))

  private def runChained(kill: Boolean): Map[Long, (Long, Double)] = {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    import graft.engine.StreamingGnn
    val root = java.nio.file.Files.createTempDirectory("graft_recov_l2").toString
    val ms1 = MemoryStream[L2Edge]
    val ms2 = MemoryStream[StreamingGnn.PartMsg]
    // edges seen so far — the growing edge table the production pipeline
    // joins layer-1 emissions against to fan them out to parts
    val edgesSoFar = new java.util.concurrent.CopyOnWriteArrayList[(Long, Long)]
    val partSnaps = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Double)]
    val lastHop = new java.util.concurrent.atomic.AtomicReference[Seq[StreamingGnn.PartMsg]](Nil)
    def startL1() = StreamingGnn.custRepStream(s, ms1.toDF())
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", s"$root/ckpt1")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[StreamingGnn.CustRep], _: Long) =>
        import scala.jdk.CollectionConverters._
        val msgs = df.collect().flatMap { r =>
          edgesSoFar.asScala.collect { case (c, p) if c == r.cust =>
            StreamingGnn.PartMsg(p, c, r.rep)
          }
        }
        if (msgs.nonEmpty) { lastHop.set(msgs.toIndexedSeq); ms2.addData(msgs.toIndexedSeq: _*); () }
      }.start()
    def startL2() = StreamingGnn.partRepStream(s, ms2.toDS())
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", s"$root/ckpt2")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[StreamingGnn.PartEmbed], _: Long) =>
        df.collect().foreach(r => partSnaps.add((r.part_key, r.n_custs, r.g1)))
      }.start()
    var q1 = startL1()
    var q2 = startL2()
    def feed(batch: Seq[L2Edge]): Unit = {
      batch.foreach(e => edgesSoFar.add((e.src, e.dst)))
      ms1.addData(batch: _*)
      q1.processAllAvailable()
      q2.processAllAvailable()
    }
    feed(gnnB1)
    if (kill) {
      // kill BETWEEN the stages' work: layer 1 holds cust accumulators,
      // layer 2 holds part 10's sums and two neighbor versions — both must round-trip
      q1.stop(); q2.stop()
      q1 = startL1(); q2 = startL2()
      // an at-least-once hop re-sends its last pre-kill batch
      ms2.addData(lastHop.get: _*)
      q2.processAllAvailable()
    }
    feed(gnnB2)
    q1.stop(); q2.stop()
    // last Update-mode emission per part = the final snapshot
    import scala.jdk.CollectionConverters._
    partSnaps.asScala.toSeq.groupBy(_._1)
      .map { case (p, rows) => p -> (rows.last._2, rows.last._3) }
  }

  test("chained 2-stage streaming GNN survives a kill of BOTH stages between batches") {
    val uninterrupted = runChained(kill = false)
    val recovered = runChained(kill = true)
    // batch ground truth (Round7Spec's math): after ALL edges, cust 1's
    // rep reflects BOTH its edges (layer-1 state bridged the kill) and
    // part 10 aggregates custs {1, 2} (layer-2 state bridged the kill)
    import graft.engine.Gnn
    val h1 = Map(
      1L -> Gnn.forward(Array.tabulate(64)(i =>
        if (i == 0) 2.0 else if (i == 1) 3.0 else 0.0)),
      2L -> Gnn.forward(Array.tabulate(64)(i => if (i == 0) 10.0 else 0.0)))
    def l2(custs: Seq[Long]): Double = {
      val mean = Array.tabulate(64)(i => custs.map(c => h1(c)(i)).sum / custs.length)
      Gnn.forward(mean)(0)
    }
    assert(recovered(10L)._1 == 2L, s"part 10 must still see 2 neighbor custs: $recovered")
    assert(math.abs(recovered(10L)._2 - l2(Seq(1L, 2L))) < 1e-9,
      "part 10's embedding must combine pre-kill state with the post-kill update")
    assert(math.abs(recovered(11L)._2 - l2(Seq(1L))) < 1e-9,
      "part 11 must see cust 1's FULL post-kill representation")
    assert(recovered == uninterrupted,
      s"recovered chained run must equal the uninterrupted run:\n" +
        s"  recovered     = $recovered\n  uninterrupted = $uninterrupted")
  }

  test("CEP pattern state survives a kill+restart from checkpoint") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    import StreamingOps.{CepEv, CepPatterns, cepFold}
    val p = CepPatterns.find(_.name == "click_purchase_clean").get
    def us(min: Long): Long = min * 60L * 1000000L
    // user 1's click lands BEFORE the kill and its purchase AFTER —
    // the match exists only if the chain state crossed the checkpoint;
    // user 2's pre-kill error must also survive to SUPPRESS its match
    val b1 = Seq(CepEv(1, 1, us(0), "click"),
      CepEv(2, 10, us(0), "click"), CepEv(2, 11, us(5), "error"))
    val b2 = Seq(CepEv(1, 2, us(10), "purchase"),
      CepEv(2, 12, us(10), "purchase"))
    def run(kill: Boolean): Set[(Long, Long, Long)] = {
      val root = java.nio.file.Files.createTempDirectory("graft_cep_recov").toString
      val (ckpt, out) = (s"$root/ckpt", s"$root/out")
      val ms = MemoryStream[CepEv]
      def start() = Keyed.run(ms.toDS(), cepFold(p))
        .writeStream.outputMode(OutputMode.Append)
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", out).start()
      var q = start()
      ms.addData(b1: _*)
      q.processAllAvailable()
      if (kill) { q.stop(); q = start() }
      ms.addData(b2: _*)
      q.processAllAvailable(); q.stop()
      s.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    val uninterrupted = run(kill = false)
    val recovered = run(kill = true)
    assert(recovered == Set((1L, us(0), us(10))),
      s"only user 1 matches, via state recovered across the restart: $recovered")
    assert(recovered == uninterrupted, "recovered == uninterrupted")
  }

  test("timed sessions survive a kill+restart from checkpoint (RocksDB provider)") {
    val uninterrupted = run(kill = false)
    val recovered = run(kill = true)
    // user 1's session must BRIDGE the kill point: 3 events ending
    // 01:20 — only possible if the pending pre-kill session state was
    // restored from the checkpoint
    assert(recovered.contains((1L, 3L, ts(1, 20))),
      s"session spanning the restart must be bridged: $recovered")
    assert(recovered == uninterrupted,
      s"recovered run must equal the uninterrupted run:\n" +
        s"  recovered     = $recovered\n  uninterrupted = $uninterrupted")
  }
}

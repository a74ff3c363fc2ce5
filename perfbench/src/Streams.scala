package perfbench

import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryListener,
  StreamingQueryProgress}

import graft.engine.GraphOps
import graft.engine.StreamingGnn._

/** `stream_embed` and `stream_layer2`: the co-purchase edge events of the
  * fixture, replayed in a seed-set order through a MemoryStream into the
  * engine's streaming GNN maintainers on the RocksDB state store.
  *
  * Set-up starts the pipeline and processes a prime chunk, several times
  * over, keeping the last; a few untimed fixed-size batches then warm the
  * JVM up. Phase 1 is an open loop: the generator (this thread) adds the
  * events due every tick at a fixed offered rate, and each event's
  * freshness runs from its scheduled send time to the end of the
  * micro-batch that reflects it in the final output. Phase 2 is a closed
  * loop of fixed-size batches, each pushed when the previous one is
  * through, for the saturation rate. The final snapshots are then checked
  * against the engine's batch path over the same replayed events. */
object Streams {
  private val TickMs = 10L
  private var feats: Array[EdgeFeat] = Array.empty

  /** A started pipeline: the source, its queries (upstream first), the
    * latest output row per key, and for two layers the hop records
    * (layer-1 batch id, hop source offset, hop ms). */
  final class Pipe(val ms: MemoryStream[EdgeFeat], val queries: Seq[StreamingQuery],
      val out: ConcurrentHashMap[Long, Product], val hops: ConcurrentLinkedQueue[Seq[Any]]) {
    def await(): Unit = queries.foreach(_.processAllAvailable())
    def stop(): Unit = queries.foreach(_.stop())
    def add(events: Seq[EdgeFeat]): Long = ms.addData(events: _*).json.toLong
    /** State-store memory plus RocksDB SST bytes of every layer, as of
      * each query's latest micro-batch. */
    def stateBytes(): Long = queries.map { q =>
      q.recentProgress.reverseIterator.find(_.durationMs.containsKey("addBatch"))
        .map(p => stateBytesOf(p)).getOrElse(0L)
    }.sum
  }

  def stateBytesOf(p: StreamingQueryProgress): Long = p.stateOperators.map(o => o.memoryUsedBytes +
    Option(o.customMetrics.get("rocksdbSstFileSize")).map(_.longValue).getOrElse(0L)).sum

  def start(s: SparkSession, dir: String, ckpt: String, layers: Int): Pipe = {
    import s.implicits._
    implicit val sq = s.sqlContext
    // every micro-batch reads the session's parallelism of source
    // partitions, however many generator chunks it covers
    val parts = s.sparkContext.defaultParallelism
    val ms = MemoryStream[EdgeFeat](parts)
    val src = ms.toDF().select(col("cust").as("src"), col("vec").as("embedding"))
    val out = new ConcurrentHashMap[Long, Product]()
    def write[T](ds: Dataset[T], name: String, sink: (Dataset[T], Long) => Unit): StreamingQuery =
      ds.writeStream.queryName(name).outputMode(OutputMode.Update())
        .option("checkpointLocation", s"$ckpt/$name").foreachBatch(sink).start()
    if (layers == 1) {
      val q = write[CustEmbed](embedStream(s, src), "l1",
        (ds, _) => ds.collect().foreach(r => out.put(r.custkey, r)))
      new Pipe(ms, Seq(q), out, null)
    } else {
      val hop = MemoryStream[CustRep](parts)
      val hops = new ConcurrentLinkedQueue[Seq[Any]]()
      val layer2 = new java.util.concurrent.atomic.AtomicReference[StreamingQuery]()
      val q1 = write[CustRep](custRepStream(s, src), "l1", (ds, id) => {
        val t0 = System.nanoTime()
        val reps = ds.collect()
        if (reps.nonEmpty) {
          // updatePartRep keeps whichever of a customer's messages in one
          // batch comes last, in no set order, so a layer-2 batch may carry
          // only one layer-1 output: hand the next one over once layer 2
          // has consumed the previous (the hop of Round7Spec's chained
          // test, which sends the latest representation per customer)
          val w0 = System.nanoTime()
          Option(layer2.get).foreach(_.processAllAvailable())
          val waited = System.nanoTime() - w0
          val off = hop.addData(reps.toSeq: _*).json.toLong
          hops.add(Seq(id, off, (System.nanoTime() - t0 - waited) / 1e6))
        }
      })
      val msgs = hop.toDF().join(GraphOps.edges(s, dir), col("cust") === col("src"))
        .select(col("dst").as("part"), col("cust"), col("rep")).as[PartMsg]
      val q2 = write[PartEmbed](partRepStream(s, msgs), "l2",
        (ds, _) => ds.collect().foreach(r => out.put(r.part_key, r)))
      layer2.set(q2)
      new Pipe(ms, Seq(q1, q2), out, hops)
    }
  }

  /** Per-batch records from the progress events of every query. */
  final class Batches(full: Boolean) extends StreamingQueryListener {
    val recs = new ConcurrentLinkedQueue[Map[String, Any]]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.durationMs.containsKey("addBatch")) {
        def off(j: String): Long = if (j == null) -1L else j.trim.toLong
        val base = Map[String, Any]("q" -> p.name, "run" -> p.runId.toString, "batch" -> p.batchId,
          "start_ms" -> Instant.parse(p.timestamp).toEpochMilli,
          "dur_ms" -> p.durationMs.get("triggerExecution").longValue,
          "from" -> off(p.sources(0).startOffset), "to" -> off(p.sources(0).endOffset),
          "rows" -> p.numInputRows,
          "state_bytes" -> stateBytesOf(p))
        recs.add(if (full) base + ("progress" -> Json.Raw(p.json)) else base)
      }
    }
  }

  /** The generator's event file: little-endian (int64 customer, 64 float32). */
  private def load(path: String): Array[EdgeFeat] = {
    val buf = java.nio.ByteBuffer.wrap(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Array.fill(buf.remaining / (8 + 4 * Dim)) {
      val cust = buf.getLong()
      EdgeFeat(cust, Array.fill(Dim)(buf.getFloat()))
    }
  }

  private def events(c: Ctx): Long => EdgeFeat = {
    val order = Array.range(0, feats.length)
    val rnd = new java.util.Random(c.seed)
    var i = order.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
      i -= 1
    }
    k => feats(order((k % order.length).toInt))
  }

  def run(c: Ctx, layers: Int): Unit = {
    val s = c.spark
    import s.implicits._
    val prep0 = System.nanoTime()
    feats = load(s"${c.dataDir}/stream_events.bin")
    if (layers == 2) GraphOps.edges(s, c.dataDir)
    val event = events(c)
    val prepS = (System.nanoTime() - prep0) / 1e9

    val listener = new Batches(c.tracer.nonEmpty)
    s.streams.addListener(listener)
    val prime = (0L until c.num("prime").toLong).map(event)
    var pipe: Pipe = null
    val setupS = (1 to c.num("setups").toInt).map { k =>
      if (pipe != null) pipe.stop()
      val t0 = System.nanoTime()
      pipe = start(s, c.dataDir, s"${c.work}/ckpt-$k", layers)
      pipe.add(prime)
      pipe.await()
      (System.nanoTime() - t0) / 1e9
    }

    // warm-up: fixed-size batches, each pushed when the previous one is
    // through; the state is measured after them, the same input every run
    var next = prime.length.toLong
    val batch = c.num("batch").toLong
    def push(): Double = {
      val t0 = System.nanoTime()
      pipe.add((next until next + batch).map(event))
      pipe.await()
      next += batch
      (System.nanoTime() - t0) / 1e9
    }
    (1 to c.num("warm").toInt).foreach(_ => push())
    val stateBytes = pipe.stateBytes()
    c.firstOp()

    // phase 1: open loop at a fixed offered rate
    val rate = c.num("rate")
    val openTicks = (c.seconds * c.num("open_share") * 1000 / TickMs).toLong
    val chunks = mutable.ArrayBuffer.empty[Seq[Any]]
    val openT0Ms = System.currentTimeMillis()
    val openT0 = System.nanoTime()
    var sent = 0L
    var k = 0L
    while (k < openTicks) {
      val due = openT0 + (k + 1) * TickMs * 1000000L
      while (System.nanoTime() < due) LockSupport.parkNanos(due - System.nanoTime())
      val upto = math.ceil((k + 1) * TickMs * rate / 1000.0).toLong
      if (upto > sent) {
        val off = pipe.add((next until next + upto - sent).map(event))
        chunks += Seq(off, sent, upto - sent, System.currentTimeMillis())
        next += upto - sent
        sent = upto
      }
      k += 1
    }
    pipe.await()

    // phase 2: closed loop of fixed-size batches for the saturation rate
    val closed = mutable.ArrayBuffer.empty[Double]
    while (closed.length < 2 || closed.sum < c.seconds * (1 - c.num("open_share"))) closed += push()
    val runIds = pipe.queries.map(_.runId.toString)
    pipe.stop()
    org.apache.spark.perfbench.Bus.drain(s.sparkContext)
    s.streams.removeListener(listener)

    val (attempted, failed) = check(c, layers, (0L until next).map(event), pipe.out)
    c.report ++= Seq("prep_s" -> prepS, "setup_cycles_s" -> setupS, "rate" -> rate,
      "open_t0_ms" -> openT0Ms, "chunks" -> chunks.toSeq, "closed_batch" -> batch,
      "closed_batches_s" -> closed.toSeq, "state_bytes" -> stateBytes,
      "run_ids" -> runIds, "batches" -> listener.recs.asScala.toSeq,
      "hops" -> Option(pipe.hops).map(_.asScala.toSeq).getOrElse(Nil),
      "attempted" -> attempted, "failed" -> failed)
  }

  private def rounded(df: DataFrame, key: String, n: String, vals: Seq[String]): Map[Long, Seq[Any]] =
    df.select((col(key) +: col(n) +: vals.map(v => round(col(v), 6))): _*).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap

  /** Compares the final snapshots with the engine's batch path over the
    * replayed events at the contract queries' 6-dp rounding. Operations
    * are events; an event fails when a snapshot row it feeds is wrong or
    * missing (for two layers: any part adjacent to its customer). */
  private def check(c: Ctx, layers: Int, replayed: Seq[EdgeFeat],
      out: ConcurrentHashMap[Long, Product]): (Long, Long) = {
    val s = c.spark
    import s.implicits._
    val bounded = s.createDataset(replayed).toDF()
      .select(col("cust").as("src"), col("vec").as("embedding"))
    val (got, want) = if (layers == 1) {
      val cols = Seq("d1", "d2", "d3", "d4")
      (rounded(s.createDataset(out.values.asScala.toSeq.map(_.asInstanceOf[CustEmbed])).toDF(),
        "custkey", "n_nbrs", cols),
        rounded(embedStream(s, bounded).toDF(), "custkey", "n_nbrs", cols))
    } else {
      val cols = Seq("g1", "g2", "g3", "g4")
      val msgs = custRepStream(s, bounded).toDF()
        .join(GraphOps.edges(s, c.dataDir), col("cust") === col("src"))
        .select(col("dst").as("part"), col("cust"), col("rep")).as[PartMsg]
      (rounded(s.createDataset(out.values.asScala.toSeq.map(_.asInstanceOf[PartEmbed])).toDF(),
        "part_key", "n_custs", cols),
        rounded(partRepStream(s, msgs).toDF(), "part_key", "n_custs", cols))
    }
    val bad = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k))
    val badCust: Long => Boolean = if (layers == 1) bad.contains else {
      val parts = bad
      val custs = GraphOps.edges(s, c.dataDir).select("src", "dst").as[(Long, Long)].collect()
        .collect { case (cu, p) if parts.contains(p) => cu }.toSet
      custs.contains
    }
    if (bad.nonEmpty) System.err.println(s"perfbench: ${bad.size} snapshot rows differ, e.g. " +
      bad.take(3).map(k => s"$k: ${got.get(k)} != ${want.get(k)}").mkString("; "))
    (replayed.length.toLong, replayed.count(e => badCust(e.cust)).toLong)
  }

  /** Single-thread baseline of the traced `stream_embed` run: the same
    * closed loop at local[1], on a fresh session. */
  def baseline(c: Ctx): Map[String, Any] = {
    val s = Main.session(1)
    try {
      val event = events(c)
      val pipe = start(s, c.dataDir, s"${c.work}/ckpt-1core", 1)
      val batch = c.num("batch").toLong
      pipe.add((0L until batch).map(event))
      pipe.await()
      val times = mutable.ArrayBuffer.empty[Double]
      var next = batch
      val t0 = System.nanoTime()
      while (times.isEmpty || (System.nanoTime() - t0) / 1e9 < c.num("baseline_s")) {
        val b0 = System.nanoTime()
        pipe.add((next until next + batch).map(event))
        pipe.await()
        next += batch
        times += (System.nanoTime() - b0) / 1e9
      }
      pipe.stop()
      Map("ingest_eps" -> times.length * batch / times.sum, "batches_s" -> times.toSeq)
    } finally Main.stop(s)
  }
}

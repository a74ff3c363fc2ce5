package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Keyed, StreamingOps, Tables}

/** Streaming scenario tests (SURVEY.md §5.2.3): the shared transforms run
  * on MemoryStream sources with explicit watermark / late-data / stateful
  * scenarios, and their final results must equal the same transform on a
  * static DataFrame (Spark unified batch/stream semantics).
  */
case class E(event_id: Long, user_id: Long, ts: Timestamp, event_type: String, value: Double)

class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  private def ts(day: Int, h: Int, m: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-$day%02d $h%02d:$m%02d:00")

  test("tumbling window on stream (complete mode) equals batch on same data") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val rows = Seq(
      E(1, 1, ts(1, 1), "click", 10.0), E(2, 1, ts(1, 23), "click", 5.0),
      E(3, 2, ts(2, 0), "view", 2.5), E(4, 2, ts(2, 12), "click", 1.0))
    val ms = MemoryStream[E]
    ms.addData(rows: _*)
    val q = StreamingOps.tumblingDaily(ms.toDF())
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("tumb").start()
    q.processAllAvailable(); q.stop()
    val streamed = s.table("tumb").orderBy("day", "event_type").collect().toSeq
    val batch = StreamingOps.tumblingDaily(rows.toDF())
      .orderBy("day", "event_type").collect().toSeq
    assert(streamed == batch)
    assert(batch.map(_.getLong(2)).sum == 4)
  }

  test("CEP stream: cross-batch pattern state, negation, within — and batch twin agreement") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    import StreamingOps.{CepEv, CepPatterns, cepFold, compileCep}
    val p = CepPatterns.find(_.name == "click_purchase_clean").get
    def us(min: Long): Long = min * 60L * 1000000L // minutes → micros
    // user 1: click (batch 1) → purchase 10 min later (batch 2): the
    // match MUST come from state carried across the batch boundary.
    // user 2: click → error → purchase: negation kills it.
    // user 3: click → purchase 40 min later: outside within=30m.
    val b1 = Seq(
      CepEv(1, 1, us(0), "click"),
      CepEv(2, 10, us(0), "click"), CepEv(2, 11, us(5), "error"),
      CepEv(3, 20, us(0), "click"))
    val b2 = Seq(
      CepEv(1, 2, us(10), "purchase"),
      CepEv(2, 12, us(10), "purchase"),
      CepEv(3, 21, us(40), "purchase"))
    val ms = MemoryStream[CepEv]
    val q = Keyed.run(ms.toDS(), cepFold(p))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("cep").start()
    ms.addData(b1: _*); q.processAllAvailable()
    assert(s.table("cep").count() == 0, "no anchor yet -> no matches in batch 1")
    ms.addData(b2: _*); q.processAllAvailable(); q.stop()
    val got = s.table("cep").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, us(0), us(10))),
      s"only user 1 matches, via cross-batch state: ${got.toSeq}")

    // algorithm-replica pin on the real fixture: the incremental state
    // machine (run as one batch) equals the window-algebra compilation,
    // for every registered pattern
    val ev = Tables.events(s, sf0001)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type")).as[CepEv]
    CepPatterns.foreach { pat =>
      val inc = Keyed.run(ev, cepFold(pat)).collect()
        .map(m => (m.user_id, m.start_us, m.end_us)).toSet
      val alg = compileCep(Tables.events(s, sf0001), pat).collect()
        .map(r => (r.getLong(0),
          r.getTimestamp(1).getTime * 1000 + r.getTimestamp(1).getNanos / 1000 % 1000,
          r.getTimestamp(2).getTime * 1000 + r.getTimestamp(2).getNanos / 1000 % 1000)).toSet
      assert(inc == alg, s"pattern ${pat.name}: incremental != window algebra")
    }
  }

  test("CEP modes: strict contiguity and AFTER MATCH SKIP TO NEXT diverge " +
      "from the relaxed default on the same event set (r16)") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    import StreamingOps.{CepEv, cepFold, compileCep, parseCep}
    def us(min: Long): Long = min * 60L * 1000000L
    // one user: click(0) view(1) click(2) purchase(3) purchase(4)
    //  relaxed "click purchase": anchors at t3 AND t4 each match
    //    (latest click witness t2) -> 2 matches
    //  strict   "click purchase": only t2->t3 is ADJACENT (the view at
    //    t1 breaks t0's adjacency; t4's predecessor is a purchase)
    //    -> 1 match
    //  skip next: the start witness t2 is CONSUMED by its first match
    //    (anchor t3); anchor t4's repeat of start t2 is suppressed
    //    -> 1 match
    val evs = Seq(
      CepEv(1, 1, us(0), "click"), CepEv(1, 2, us(1), "view"),
      CepEv(1, 3, us(2), "click"), CepEv(1, 4, us(3), "purchase"),
      CepEv(1, 5, us(4), "purchase"))
    val relaxed = parseCep("t_relaxed", "click purchase within 30m")
    val strict = parseCep("t_strict", "click purchase strict within 30m")
    val skipN = parseCep("t_skipnext", "click purchase within 30m skip next")
    assert(strict.strict && !strict.skipToNext)
    assert(skipN.skipToNext && !skipN.strict)
    def runStream(p: StreamingOps.CepPattern): Seq[(Long, Long, Long)] = {
      val ms = MemoryStream[CepEv]
      val q = Keyed.run(ms.toDS(), cepFold(p))
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName(s"cep_${p.name}").start()
      // two batches: the mode state (ring / consumed start) must carry
      // across the micro-batch boundary
      ms.addData(evs.take(3): _*); q.processAllAvailable()
      ms.addData(evs.drop(3): _*); q.processAllAvailable(); q.stop()
      s.table(s"cep_${p.name}").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    }
    val gotRelaxed = runStream(relaxed)
    val gotStrict = runStream(strict)
    val gotSkip = runStream(skipN)
    assert(gotRelaxed == Seq((1L, us(2), us(3)), (1L, us(2), us(4))),
      s"relaxed: $gotRelaxed")
    assert(gotStrict == Seq((1L, us(2), us(3))), s"strict: $gotStrict")
    assert(gotSkip == Seq((1L, us(2), us(3))), s"skip next: $gotSkip")
    assert(gotRelaxed.size != gotStrict.size && gotRelaxed.size != gotSkip.size,
      "mode divergence: the match COUNTS must differ on this event set")
    // and each streaming mode equals its batch compilation on the set
    val df = evs.toDF("user_id", "event_id", "ts_us", "event_type")
      .select(col("user_id"), col("event_id"),
        timestamp_micros(col("ts_us")).as("ts"), col("event_type"))
    Seq(relaxed -> gotRelaxed, strict -> gotStrict, skipN -> gotSkip).foreach {
      case (p, got) =>
        val alg = compileCep(df, p).collect()
          .map(r => (r.getLong(0),
            r.getTimestamp(1).getTime * 1000,
            r.getTimestamp(2).getTime * 1000)).toSeq.sorted
        assert(alg == got, s"${p.name}: batch $alg != streamed $got")
    }
  }

  test("windowed top-N: streaming counts + downstream rank equals batch") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val rows = Seq(
      E(1, 1, ts(1, 1), "click", 0), E(2, 1, ts(1, 2), "click", 0),
      E(3, 2, ts(1, 3), "view", 0), E(4, 3, ts(1, 4), "view", 0),
      E(5, 3, ts(1, 5), "view", 0), E(6, 3, ts(1, 6), "view", 0),
      E(7, 4, ts(1, 7), "view", 0), E(8, 5, ts(2, 1), "click", 0))
    val ms = MemoryStream[E]
    ms.addData(rows.take(4): _*)
    // the windowed COUNT maintains streaming state; the rank is a cheap
    // downstream batch pass over the (small) materialized counts — the
    // standard Flink windowed-TopN split in Structured Streaming
    val q = ms.toDF().groupBy(window(col("ts"), "1 day").as("w"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("day"), col("user_id"), col("cnt"))
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("wtop").start()
    q.processAllAvailable()
    ms.addData(rows.drop(4): _*)
    q.processAllAvailable(); q.stop()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("day")).orderBy(col("cnt").desc, col("user_id").asc)
    val streamed = s.table("wtop")
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= 3).orderBy("day", "rnk").collect().toSeq
    val batch = StreamingOps.windowTopUsers(rows.toDF())
      .orderBy("day", "rnk").collect().toSeq
    assert(streamed == batch)
    // day 1 top-3: user 3 (3 events), user 1 (2), then user 2 (tie-break by id)
    assert(batch.take(3).map(r => (r.getLong(1), r.getLong(2))) ==
      Seq((3L, 3L), (1L, 2L), (2L, 1L)))
  }

  test("watermark drops late events in append mode") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val ms = MemoryStream[E]
    val agg = ms.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("ws"), col("event_type"), col("cnt"))
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("wm").start()
    // batch 1: two events in the 01:00 window
    ms.addData(E(1, 1, ts(1, 1, 5), "click", 1.0), E(2, 1, ts(1, 1, 20), "click", 1.0))
    q.processAllAvailable()
    // batch 2: event far ahead -> watermark passes 02:00, closing window 1
    ms.addData(E(3, 1, ts(1, 5), "click", 1.0))
    q.processAllAvailable()
    // batch 3: LATE event for the closed 01:00 window -> must be dropped
    ms.addData(E(4, 1, ts(1, 1, 40), "click", 1.0))
    q.processAllAvailable()
    // batch 4: push watermark far past everything to flush remaining windows
    ms.addData(E(5, 1, ts(3, 0), "click", 1.0))
    q.processAllAvailable(); q.stop()
    val out = s.table("wm").collect()
      .map(r => (r.getTimestamp(0), r.getLong(2))).toMap
    assert(out(ts(1, 1)) == 2L, s"late event must not reopen closed window: $out")
  }

  test("Keyed.run: transformWithState on a stream, no stateful node on bounded input") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val stateful = Set("FlatMapGroupsWithState", "TransformWithState")
    def nodes(df: org.apache.spark.sql.Dataset[_]): Seq[String] =
      df.queryExecution.analyzed.collect { case p if stateful(p.nodeName) => p.nodeName }
    val ms = MemoryStream[E]
    assert(nodes(StreamingOps.statefulSnapshot(s, ms.toDF())) == Seq("TransformWithState"))
    assert(nodes(StreamingOps.timedSessions(s, ms.toDF())) == Seq("TransformWithState"))
    val bounded = StreamingOps.statefulSnapshot(s, Tables.events(s, sf0001))
    assert(nodes(bounded).isEmpty, bounded.queryExecution.analyzed.treeString)
    val physical = bounded.queryExecution.executedPlan.toString
    assert(!Seq("WithState", "StateStore").exists(physical.contains), physical)
  }

  test("bounded timed sessions see the end-of-input watermark and equal session_window") {
    val s = spark
    val ev = Tables.events(s, sf0001)
    val timed = StreamingOps.timedSessions(s, ev).toDF()
      .groupBy("user_id").agg(count(lit(1)), sum("n_events"))
    val windowed = StreamingOps.sessionPerUser(ev)
      .groupBy("user_id").agg(count(lit(1)), sum("n"))
    assert(timed.count() > 0)
    assert(timed.collect().toSet == windowed.collect().toSet)
  }

  test("stateful fold across micro-batches equals batch snapshot") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val b1 = Seq(E(1, 7, ts(1, 1), "click", 1.25), E(2, 7, ts(1, 2), "view", 2.50))
    val b2 = Seq(E(3, 7, ts(1, 3), "click", 0.25), E(4, 8, ts(1, 4), "view", 9.99))
    val ms = MemoryStream[E]
    val q = StreamingOps.statefulSnapshot(s, ms.toDF())
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("st").start()
    ms.addData(b1: _*); q.processAllAvailable()
    ms.addData(b2: _*); q.processAllAvailable(); q.stop()
    // last emitted row per user == final state
    val finalRows = s.table("st").collect()
      .groupBy(_.getLong(0)).map { case (u, rs) => u -> rs.maxBy(_.getLong(1)) }
    val batch = StreamingOps.statefulSnapshot(s, (b1 ++ b2).toDF()).collect()
      .map(r => r.user_id -> r).toMap
    assert(finalRows.keySet == batch.keySet)
    finalRows.foreach { case (u, r) =>
      assert(r.getLong(1) == batch(u).n_events)
      assert(r.getTimestamp(2) == batch(u).last_ts)
      assert(r.getDouble(3) == batch(u).total_value)
    }
    assert(batch(7L).total_value == 4.0) // 1.25 + 2.50 + 0.25 exact cents
  }

  test("session window boundary: exactly-gap merges, gap+1s splits") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      E(1, 1, ts(1, 1, 0), "click", 0), E(2, 1, ts(1, 1, 29), "click", 0), // same session
      E(3, 1, ts(1, 1, 59), "click", 0), // exactly 30:00 after #2 -> still same session
      E(4, 1, Timestamp.valueOf("2024-01-01 02:29:01"), "click", 0), // 30:01 -> NEW
      E(5, 2, ts(1, 9, 0), "click", 0))
    val sess = StreamingOps.sessionPerUser(rows.toDF())
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_sessions"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sess(1L) == 2L, s"expected 2 sessions for user 1, got $sess")
    assert(sess(2L) == 1L)
  }

  test("streaming dedup on fixture equals distinct") {
    val ev = Tables.events(spark, sf0001)
    assert(StreamingOps.dedupByEventId(ev).count() ==
      ev.select("event_id").distinct().count())
  }

  test("funnel conversion on a constructed session set") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_funnel").toString
    // user 1, day 1: click 9:00 -> purchase 9:10 (converts);
    //   9:35 extends the same session (25-min gap < 30);
    // user 1, day 1: 11:00 purchase-only session (no click -> no convert);
    // user 2, day 2: purchase 8:00 BEFORE click 8:10 -> no convert.
    // Tables.events expects ts as raw epoch-NANOSECOND longs
    def ns(t: Timestamp): Long = t.getTime * 1000000L
    Seq(
      (1L, 1L, ns(ts(1, 9, 0)), "click", 0.0),
      (2L, 1L, ns(ts(1, 9, 10)), "purchase", 0.0),
      (3L, 1L, ns(ts(1, 9, 35)), "view", 0.0),
      (4L, 1L, ns(ts(1, 11, 0)), "purchase", 0.0),
      (5L, 2L, ns(ts(2, 8, 0)), "purchase", 0.0),
      (6L, 2L, ns(ts(2, 8, 10)), "click", 0.0))
      .toDF("event_id", "user_id", "ts", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = StreamingOps.q_stream_funnel(s, dir).collect().map(r =>
      (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq(
      (ts(1, 0), 2L, 1L),   // day 1: converting session + purchase-only session
      (ts(2, 0), 1L, 0L)),  // day 2: wrong order -> no conversion
      s"funnel mismatch: $rows")
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Keyed, LlmOps}

/** Round-15 (driver round) pins: the tightened bracket-oracle envelopes
  * are FALSIFIABLE — a bracket oracle whose booleans cannot fail
  * certifies nothing (VERDICT r14 item 4), so each envelope boolean is
  * proven to flip under a deliberately perturbed pipeline while the
  * healthy pipeline stays green. */
class Round21Spec extends AnyFunSuite {
  import TestSpark._

  // minhashAudit output: (n_md5_pairs, n_md5_strong, recall_strong_ok,
  // recall_all_ok, precision_ok, xx_nonempty)
  private def audit(xx: org.apache.spark.sql.DataFrame,
      xxS: org.apache.spark.sql.DataFrame) =
    LlmOps.minhashAudit(spark, sf0001, xx, xxS).collect()(0)

  test("minhash audit: healthy pipeline green; perturbed pipelines flip each boolean") {
    val xx = LlmOps.minhashXxPairs(spark, sf0001)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val xxS = LlmOps.minhashXxPairs(spark, sf0001, sampled = true)

    val healthy = audit(xx, xxS)
    assert(healthy.getBoolean(2), "healthy: recall_strong_ok")
    assert(healthy.getBoolean(3), "healthy: recall_all_ok")
    assert(healthy.getBoolean(4), "healthy: precision_ok")
    assert(healthy.getBoolean(5), "healthy: xx_nonempty")

    // Recall COLLAPSE: drop ~2/3 of the xx pair set — the within-band
    // lower floor (MinhashTwinRecallAllBand._1 = 0.84) must trip.
    val collapsed = audit(xx.filter(col("doc_a") % 3 === 0), xxS)
    assert(!collapsed.getBoolean(3),
      "recall_all_ok must flip when the xx pass loses twin pairs")

    // Recall JUMP: graft the md5 twin's own pairs into the xx set so
    // twin recall hits 1.0 — past the band's UPPER edge (0.98): an
    // operating point that suddenly catches everything no longer
    // matches the 4x2 banding designation (two-sided band, r15).
    val twin = LlmOps.minhashMd5Pairs(spark, sf0001)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val jumped = audit(xx.unionByName(twin).distinct(), xxS)
    assert(!jumped.getBoolean(3),
      "recall_all_ok must flip when recall jumps past the measured band")

    // Precision DRIFT: corrupt the masks-path jaccard carried by the
    // sampled pairs — the independent token-array recompute disagrees
    // on every pair, so the r15 precision leg must trip.
    val corrupted = xxS.withColumn("jaccard", round(col("jaccard") + lit(0.2), 6))
    val drifted = audit(xx, corrupted)
    assert(!drifted.getBoolean(4),
      "precision_ok must flip when the independent recompute disagrees")
  }

  test("committed envelope constants bracket the archived 3-sf measurements") {
    // tools/approx_bounds_sf{0.001,0.01,0.1}.json are the per-sf
    // ApproxBounds regenerations (r15). Every committed floor/band must
    // bracket every archived measured point — re-measure and this test
    // tells you whether the constants still hold BEFORE the driver's
    // oracle gate does.
    def section(text: String, name: String): String = {
      val i = text.indexOf("\"" + name + "\":{")
      assert(i >= 0, s"section $name missing")
      text.substring(i, text.indexOf('}', i) + 1)
    }
    Seq("0.001", "0.01", "0.1").foreach { sf =>
      val t = scala.io.Source.fromFile(s"tools/approx_bounds_sf$sf.json").mkString
      val mh = Bench.parseFlatJson(section(t, "minhash_lsh"))
      val sh = Bench.parseFlatJson(section(t, "simhash_xx"))
      val (aLo, aHi) = LlmOps.MinhashTwinRecallAllBand
      assert(mh("md5_twin_recall_all") >= aLo && mh("md5_twin_recall_all") <= aHi,
        s"sf$sf minhash all-recall outside band")
      assert(mh("md5_twin_recall_strong") >= LlmOps.MinhashTwinRecallStrongLo,
        s"sf$sf minhash strong-recall under floor")
      assert(sh("full_precision") >= LlmOps.SimhashPrecisionLo,
        s"sf$sf simhash precision under floor")
      val (rLo, rHi) = LlmOps.SimhashRecallStrongBand
      assert(sh("recall_strong") >= rLo && sh("recall_strong") <= rHi,
        s"sf$sf simhash recall_strong outside band")
      val (tLo, tHi) = LlmOps.SimhashTwinAgreeBand
      assert(sh("twin_agreement") >= tLo && sh("twin_agreement") <= tHi,
        s"sf$sf simhash twin agreement outside band")
    }
  }

  test("simhash audit: healthy pipeline green; perturbed pipelines flip each boolean") {
    import org.apache.spark.sql.DataFrame
    // simhashAudit output: (n_md5_pairs, n_exact_sample_pairs,
    // n_exact_strong, precision_ok, recall_strong_in_band,
    // twin_agree_in_band, xx_nonempty)
    def sAudit(full: DataFrame, samp: DataFrame) =
      LlmOps.simhashAudit(spark, sf0001, full, samp).collect()(0)
    val xxFull = LlmOps.simhashXxParam(spark, sf0001, nBands = 4,
      hammingMax = 12, sampled = false)
    val xxS = LlmOps.simhashXxParam(spark, sf0001, nBands = 4,
      hammingMax = 12, sampled = true).select(col("doc_a"), col("doc_b"))

    val healthy = sAudit(xxFull, xxS)
    assert(healthy.getBoolean(3) && healthy.getBoolean(4)
      && healthy.getBoolean(5) && healthy.getBoolean(6), s"healthy green: $healthy")

    // Precision DRIFT: graft size-incompatible junk pairs into the full
    // pass — |A| > 2|B| forces exact Jaccard < 0.5 for EVERY junk pair
    // (J >= 0.5 needs size ratio <= 2), so with junk >= ~25% of the
    // emitted set the 0.95 precision floor must trip.
    val sizes = graft.engine.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("lang"),
        size(expr("filter(array_distinct(split(text, ' ')), t -> t <> '')"))
          .cast("bigint").as("nt"))
    val junk = sizes.as("a").join(sizes.as("b"),
        col("a.lang") === col("b.lang") && col("a.doc_id") < col("b.doc_id") &&
          col("a.nt") > col("b.nt") * 2)
      .select(col("a.lang").as("lang"), col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"), lit(0).as("hamming"))
    val nXx = xxFull.count()
    val junkN = junk.limit((nXx / 2).toInt.max(10))
    val drifted = sAudit(xxFull.unionByName(junkN), xxS)
    assert(!drifted.getBoolean(3),
      "precision_ok must flip when sub-threshold pairs are emitted")

    // Recall COLLAPSE + twin-agreement collapse: an empty sampled pass
    // (strong recall 0 < band lo; twin agreement 0 < band lo).
    val collapsed = sAudit(xxFull, xxS.filter(lit(false)))
    assert(!collapsed.getBoolean(4),
      "recall_strong_in_band must flip when the sampled pass loses everything")
    assert(!collapsed.getBoolean(5),
      "twin_agree_in_band must flip when the sampled pass loses everything")

    // Recall JUMP: feed the EXACT strong ground truth as the sampled
    // pass — recall 1.0 sails past the band's upper edge (0.4): the
    // operating point no longer matches the precision-screen designation.
    val exact = LlmOps.exactSamplePairs(spark, sf0001)
      .filter(col("jaccard") >= 0.8).select(col("doc_a"), col("doc_b"))
    val jumped = sAudit(xxFull, exact)
    assert(!jumped.getBoolean(4),
      "recall_strong_in_band must flip when recall jumps past the band")
  }

  private def cepEvents(rows: Seq[(Long, Long, Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("user_id", "event_id", "ts_us", "event_type")
      .select(col("user_id"), col("event_id"),
        timestamp_micros(col("ts_us")).as("ts"), col("event_type"))
  }

  private def us(min: Long): Long = min * 60L * 1000000L

  test("CEP bounded repeat {n}: two strictly-ordered occurrences required") {
    import graft.engine.StreamingOps
    val p = StreamingOps.CepPatterns.find(_.name == "double_click_purchase").get
    assert(p.steps == Seq(("click", false), ("click", false), ("purchase", false)),
      "click{2} must expand to two mandatory steps")
    // user 1: two clicks then purchase -> match, witness = FIRST click
    // (the latest start such that two strictly-ordered clicks exist);
    // user 2: ONE click then purchase -> no match.
    val ev = cepEvents(Seq(
      (1L, 1L, us(0), "click"), (1L, 2L, us(5), "click"), (1L, 3L, us(10), "purchase"),
      (2L, 10L, us(0), "click"), (2L, 11L, us(10), "purchase")))
    val got = StreamingOps.compileCep(ev, p).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getTimestamp(2).getTime))
    assert(got.toSeq == Seq((1L, us(0) / 1000, us(10) / 1000)),
      s"only the double-click user matches: ${got.toSeq}")
  }

  test("CEP optional step ?: pattern matches with or without the middle step") {
    import graft.engine.StreamingOps
    val p = StreamingOps.CepPatterns.find(_.name == "view_maybe_click_purchase").get
    assert(p.steps == Seq(("view", false), ("click", true), ("purchase", false)))
    assert(p.srcs(2) == Seq(1, 0), "the anchor chains through click OR straight from view")
    // user 1: view -> purchase (click skipped) matches;
    // user 2: view -> click -> purchase matches too (same witness: the view);
    // user 3: click -> purchase does NOT match (view is mandatory).
    val ev = cepEvents(Seq(
      (1L, 1L, us(0), "view"), (1L, 2L, us(9), "purchase"),
      (2L, 10L, us(0), "view"), (2L, 11L, us(4), "click"), (2L, 12L, us(9), "purchase"),
      (3L, 20L, us(0), "click"), (3L, 21L, us(9), "purchase")))
    val got = StreamingOps.compileCep(ev, p).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime)).sorted
    assert(got.toSeq == Seq((1L, 0L), (2L, 0L)), s"got ${got.toSeq}")
  }

  test("CEP negation ties break on (ts, event_id), not ts alone (ADVICE r14)") {
    import graft.engine.StreamingOps
    val p = StreamingOps.CepPatterns.find(_.name == "click_purchase_clean").get
    // user 1: error and click share ts(0) but the error SORTS BEFORE the
    // click (smaller event_id) -> it precedes the witness start in the
    // (ts, event_id) total order and must NOT suppress the match.
    // user 2: same shared ts but the error sorts AFTER the click ->
    // inside the match window -> suppressed.
    val ev = cepEvents(Seq(
      (1L, 1L, us(0), "error"), (1L, 2L, us(0), "click"), (1L, 3L, us(10), "purchase"),
      (2L, 10L, us(0), "click"), (2L, 11L, us(0), "error"), (2L, 12L, us(10), "purchase")))
    val got = StreamingOps.compileCep(ev, p).collect().map(_.getLong(0))
    assert(got.toSeq == Seq(1L),
      s"tie-ordered negation: user 1 matches, user 2 suppressed; got ${got.toSeq}")
    // and the streaming state machine agrees on the same input
    val s = spark
    import s.implicits._
    val typed = Seq(
      StreamingOps.CepEv(1, 1, us(0), "error"), StreamingOps.CepEv(1, 2, us(0), "click"),
      StreamingOps.CepEv(1, 3, us(10), "purchase"),
      StreamingOps.CepEv(2, 10, us(0), "click"), StreamingOps.CepEv(2, 11, us(0), "error"),
      StreamingOps.CepEv(2, 12, us(10), "purchase")).toDS()
    val inc = Keyed.run(typed, StreamingOps.cepFold(p)).collect().map(_.user_id)
    assert(inc.toSeq == Seq(1L), s"streaming twin must agree: ${inc.toSeq}")
  }

  test("CEP streaming: bounded-repeat match assembled across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    import graft.engine.StreamingOps
    import StreamingOps.CepEv
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val p = StreamingOps.CepPatterns.find(_.name == "double_click_purchase").get
    val ms = MemoryStream[CepEv]
    val q = Keyed.run(ms.toDS(), StreamingOps.cepFold(p))
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("cep_r15").start()
    // click | click | purchase arrive in three separate micro-batches:
    // the two-occurrence witness must be carried in keyed state
    ms.addData(CepEv(7, 1, us(0), "click")); q.processAllAvailable()
    ms.addData(CepEv(7, 2, us(5), "click")); q.processAllAvailable()
    assert(s.table("cep_r15").count() == 0, "no anchor yet")
    ms.addData(CepEv(7, 3, us(10), "purchase")); q.processAllAvailable(); q.stop()
    val got = s.table("cep_r15").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((7L, us(0), us(10))),
      s"cross-batch {2}-repeat match with the first-click witness: ${got.toSeq}")
  }

  test("louvain level 2: coarsening preserves modularity exactly (Q invariance)") {
    // The identity that proves the level-2 sweep really runs on the
    // condensed graph: with k_i = Σw_ij + 2·self_i and W_c including
    // self-loop mass, the singleton-start level-2 score Σ(4m·self_i −
    // k_i²) is ALGEBRAICALLY the level-1 partition's Σ(4m·L_c − D_c²) —
    // both integers, so the match must be exact, not approximate.
    val l1 = SparkEntry.queries("q_graph_louvain_move")(spark, sf0001).collect()(0)
    val l2 = SparkEntry.queries("q_graph_louvain_level2")(spark, sf0001).collect()(0)
    assert(l2.getAs[Long]("q4m2_before") == l1.getAs[Long]("q4m2_after"),
      "level-2 'before' must equal level-1 'after' exactly")
    assert(l2.getAs[Long]("n_communities") <= l2.getAs[Long]("n_super_nodes"),
      "the level-2 sweep may only merge communities")
    assert(l1.getAs[Long]("n_communities") == l2.getAs[Long]("n_super_nodes"),
      "level-2 super-nodes are exactly level-1 communities")
  }
}

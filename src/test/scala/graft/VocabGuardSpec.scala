package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.LlmOps

/** Regression test for the bitmap-path staleness guard. Pre-r15 the
  * vocab<=64 probe was memoized per (session, dir) and a mid-session
  * data change had to FAIL LOUDLY (raise_error on vid >= 64). Since
  * r15 the probe AND the mask MV key on a freshness token (file count
  * + max mtime of the documents path), so a rewrite is a cache MISS:
  * the engine re-probes and, when the vocabulary outgrew 64 bits,
  * degrades GRACEFULLY to the token-array path with CORRECT results —
  * strictly better than raising, and the silent-wrap corruption the
  * guard exists for remains impossible (the raise_error CASE in the
  * mask build stays as the belt-and-braces backstop). */
class VocabGuardSpec extends AnyFunSuite {
  import TestSpark._

  private def writeDocs(dir: String, texts: Seq[String], firstId: Long = 0L): Unit = {
    val s = spark
    import s.implicits._
    texts.zipWithIndex
      .map { case (t, i) => (firstId + i, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("mid-session vocab growth re-probes and falls back to the array path (r15)") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_vocab").toString
    // 1) small vocabulary: probe says "fits in 64 bits", bitmap path on
    writeDocs(dir, Seq("a b c d", "a b c e", "x y z"))
    val smallDf = LlmOps.q_llm_jaccard_pairs(s, dir)
    assert(smallDf.queryExecution.optimizedPlan.toString.contains("bit_count"),
      "small vocabulary must take the bitmask fast path")
    val small = smallDf.collect()
    assert(small.nonEmpty, "near-dup pair expected in the small corpus")
    // 2) same dir, vocabulary grows past 64 mid-session: the freshness
    //    key invalidates the memo, the re-probe says "doesn't fit", and
    //    the query returns CORRECT results via the token-array branch
    writeDocs(dir, (0 until 80).map(i => s"tok$i tok${(i + 1) % 80} filler$i")
      ++ Seq("dup1 dup2 dup3", "dup1 dup2 dup3"))
    val grownDf = LlmOps.q_llm_jaccard_pairs(s, dir)
    assert(!grownDf.queryExecution.optimizedPlan.toString.contains("bit_count"),
      "grown vocabulary must fall back to the token-array path")
    val grown = grownDf.collect()
    // the only pair at J >= 0.5 is the planted exact duplicate (J = 1)
    assert(grown.length == 1 && grown(0).getDouble(3) == 1.0,
      s"array-path fallback must compute correct jaccards: ${grown.toSeq}")
  }

  test("dedup queries return zero rows when the 10% sample is empty") {
    // doc ids 1..5: no doc has doc_id % 10 = 0, so the dedup sample, its
    // per-lang fence probe and the component labels are all empty; the
    // oracle's GROUP BY lang gives zero rows
    val dir = java.nio.file.Files.createTempDirectory("graft_nosample").toString
    writeDocs(dir, Seq("a b c d", "a b c d", "a b c e", "x y z", "x y z"), firstId = 1L)
    for (q <- Seq("q_llm_dedup_clusters", "q_llm_soft_dedup", "q_llm_dedup_keep",
        "q_llm_dedup_funnel", "q_llm_lsh_clusters"))
      assert(SparkEntry.queries(q)(spark, dir).collect().isEmpty, s"$q must return zero rows")
  }

  test("jaccard exact-baseline fence refuses a lang past the doc bound") {
    // r13 guard: the O(n²/lang) exact baseline must refuse to run when
    // the largest language exceeds JaccardExactMaxDocsPerLang, steering
    // callers to the LSH scale path instead of melting a cluster.
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_fence").toString
    writeDocs(dir,
      (0 until (LlmOps.JaccardExactMaxDocsPerLang.toInt + 1)).map(i => s"w$i"))
    val e = intercept[IllegalArgumentException] {
      LlmOps.q_llm_jaccard_pairs(s, dir)
    }
    assert(e.getMessage.contains("q_llm_minhash_lsh"),
      s"fence must point to the scale path, got: ${e.getMessage}")
    // and on the fixture the guard headroom is emitted, exercised, positive
    val m = LlmOps.q_llm_jaccard_pairs(s, sf0001)
      .select(col("exact_guard_margin")).limit(1).collect()
    assert(m.nonEmpty && m(0).getLong(0) > 0, "fixture must sit under the fence")
    // the oracle SQL hardcodes the fence literal (plain strings) — pin
    // the constant so the two can never drift apart silently
    assert(LlmOps.JaccardExactMaxDocsPerLang == 20000L,
      "changing the fence requires updating the 20000 literals in Oracle.scala")
  }

  test("corpus rewrite re-keys EVERY corpus-derived MV and evicts the " +
      "superseded generation (r16, ADVICE r15)") {
    // Pre-r16 only the vocab probe and the mask MV carried the freshness
    // token; the signature/pair MVs stayed keyed (appId, dir), so a
    // rewrite joined FRESH masks against STALE signatures and unknown
    // doc_ids silently dropped through inner joins. Now every
    // documents-derived memo keys on docsKey (dir|count:mtime:bytes) and
    // a freshness miss evicts the superseded generation's entries.
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_gen").toString
    def write(rows: Seq[(Long, String)]): Unit =
      rows.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // generation 1: docs 0 and 10 are exact dups (identical signatures
    // collide in every band; sampled tier = id%10==0)
    write(Seq((0L, "alpha beta gamma delta"), (10L, "alpha beta gamma delta"),
      (20L, "zz yy xx ww vv uu")))
    val p1 = graft.engine.LlmOps.minhashMd5Pairs(s, dir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p1 == Set((0L, 10L)), s"gen-1 pair set: $p1")
    val gen1Keys = graft.engine.Mv.keys(s).filter(_.contains(dir))
    assert(gen1Keys.exists(_.startsWith("minhashMd5Pairs|")),
      s"expected a generation-1 pair MV, got $gen1Keys")
    // generation 2 (same dir, rewritten): the dup pair moves to (10, 20)
    write(Seq((0L, "solo lone single only one item"), (10L, "qq rr ss tt"),
      (20L, "qq rr ss tt")))
    val p2 = graft.engine.LlmOps.minhashMd5Pairs(s, dir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p2 == Set((10L, 20L)),
      s"gen-2 pair set must reflect the REWRITTEN corpus, got $p2 " +
        "(a stale signature MV would still emit (0,10))")
    // the superseded generation's entries are GONE (storage bound holds)
    val now = graft.engine.Mv.keys(s)
    val leftover = gen1Keys.filter(now.contains)
    assert(leftover.isEmpty, s"superseded generation not evicted: $leftover")
    // the scalar probes follow the rewrite too: generation 3 changes the
    // document count and the vocabulary size
    def vocab(): Long = {
      LlmOps.tokenMasks(s, dir)
      graft.engine.Mv.probe(s, s"vocab|${LlmOps.docsKey(s, dir)}")(
        fail("tokenMasks must take the vocabulary probe"))
    }
    assert(LlmOps.docCount(s, dir) == 3L && vocab() == 10L)
    write(Seq((0L, "one two"), (10L, "one two"), (20L, "three"), (30L, "four")))
    assert(LlmOps.docCount(s, dir) == 4L, "stale document count after the rewrite")
    assert(vocab() == 4L, "stale vocabulary size after the rewrite")
  }
}

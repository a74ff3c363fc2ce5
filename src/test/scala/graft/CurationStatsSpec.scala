package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{CurationOps, Keyed, StatsOps, Tables}

/** Round-8 curation + stats operators: semantic invariants beyond the
  * oracle hash-compare. */
class CurationStatsSpec extends AnyFunSuite {
  import TestSpark._

  test("c4 filter: rule partition is total and keep mirrors reason") {
    val rows = CurationOps.q_llm_c4_filter(spark, sf001).collect()
    val total = Tables.documents(spark, sf001).count()
    assert(rows.length == total, "every document must get a verdict")
    val reasons = rows.map(_.getString(6)).toSet
    assert(reasons.contains("kept"), "no document survived the filters")
    assert(reasons.size >= 3, s"filters never fire: $reasons")
    rows.foreach { r =>
      assert(r.getBoolean(7) == (r.getString(6) == "kept"))
    }
  }

  test("ccnet buckets: 3 per lang, near-equal sizes, monotone xent ranges") {
    val rows = CurationOps.q_llm_ccnet_bucket(spark, sf001).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    rows.groupBy(_._1).foreach { case (lang, bs) =>
      assert(bs.map(_._2).sorted.toSeq == Seq(1, 2, 3), s"$lang buckets")
      val sizes = bs.map(_._3)
      assert(sizes.max - sizes.min <= 1, s"$lang NTILE sizes off: ${sizes.toSeq}")
      val sorted = bs.sortBy(_._2)
      sorted.sliding(2).foreach { case Array(lo, hi) =>
        assert(lo._5 <= hi._4, s"$lang bucket ranges overlap: $lo vs $hi")
      }
    }
  }

  test("rouge2: overlap bounded by totals, scores in [0,1]") {
    val rows = CurationOps.q_text_rouge2(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ov, ta, tb) = (r.getLong(3), r.getLong(4), r.getLong(5))
      assert(ov <= math.min(ta, tb), "multiset intersection exceeds a total")
      Seq(6, 7, 8).foreach { i =>
        val v = r.getDouble(i)
        assert(v >= 0.0 && v <= 1.0, s"rouge score out of range: $v")
      }
    }
  }

  test("corr matrix matches Spark's built-in corr within 1e-9") {
    import org.apache.spark.sql.functions._
    val r = StatsOps.q_agg_corr(spark, sf001).collect()(0)
    val ref = Tables.lineitem(spark, sf001)
      .select(col("l_quantity").cast("bigint").cast("double").as("q"),
        round(col("l_extendedprice") * 100, 0).as("p"))
      .agg(corr(col("q"), col("p"))).collect()(0).getDouble(0)
    assert(math.abs(r.getDouble(1) - ref) < 1e-9,
      s"corr_qty_price ${r.getDouble(1)} vs built-in $ref")
    (1 to 4).foreach { i =>
      assert(math.abs(r.getDouble(i)) <= 1.0, s"corr out of [-1,1]")
    }
  }

  test("MMR: distinct picks from the pool, argmax-rel first, scores non-increasing") {
    import graft.engine.LlmOps
    val rows = LlmOps.q_llm_mmr(spark, sf001).collect().sortBy(_.getInt(0))
    assert(rows.length == LlmOps.MmrK)
    val ids = rows.map(_.getLong(1))
    assert(ids.distinct.length == ids.length, "duplicate selection")
    // rank 1 is the pure-relevance argmax (empty-set penalty is zero)
    val top = LlmOps.q_llm_cosine_topk(spark, sf001).collect()(0).getLong(0)
    assert(ids.head == top, s"first pick ${ids.head} != top-relevance $top")
    // the greedy max over a shrinking set with growing penalties cannot rise
    rows.map(_.getDouble(3)).sliding(2).foreach { case Array(a, b) =>
      assert(b <= a + 1e-12, s"MMR score increased: $a -> $b")
    }
  }

  test("PSI drift: non-negative, totals partition the stream") {
    val rows = StatsOps.q_llm_drift_psi(spark, sf001).collect()
    val total = Tables.events(spark, sf001).count()
    assert(rows.map(r => r.getLong(1) + r.getLong(2)).sum == total,
      "ref+cur counts must partition the events")
    rows.foreach { r =>
      // PSI = sum of (p-q)ln(p/q) terms, each >= 0
      assert(r.getDouble(3) >= 0.0, s"PSI negative: ${r.getDouble(3)}")
      assert(r.getDouble(3) < 1.0, "synthetic halves should not drift heavily")
    }
  }

  test("streaming PSI: incremental histogram state converges to batch PSI") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.engine.StatsOps
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val b1 = Seq(StatsOps.PsiEvent("a", 0, true), StatsOps.PsiEvent("a", 1, true),
      StatsOps.PsiEvent("a", 0, false))
    val b2 = Seq(StatsOps.PsiEvent("a", 2, false), StatsOps.PsiEvent("a", 0, true))
    val ms = MemoryStream[StatsOps.PsiEvent]
    val q = Keyed.run(ms.toDS(), StatsOps.psiFold)
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("psist").start()
    ms.addData(b1: _*); q.processAllAvailable()
    ms.addData(b2: _*); q.processAllAvailable(); q.stop()
    val snaps = s.table("psist").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(snaps.length == 2, "one snapshot per micro-batch")
    val fin = snaps.maxBy(t => t._1 + t._2)
    assert(fin._1 == 3 && fin._2 == 2)
    // one-shot fold over the union equals the incremental result
    val ref = Array(2L, 1L, 0, 0, 0, 0, 0, 0, 0, 0)
    val cur = Array(1L, 0, 1L, 0, 0, 0, 0, 0, 0, 0)
    assert(fin._3 == StatsOps.psiOf(ref, cur).psi)
  }

  test("streaming PSI over fixture equals batch PSI operator") {
    import graft.engine.StatsOps
    val stream = StatsOps.q_stream_drift_psi(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val batch = StatsOps.q_llm_drift_psi(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(stream == batch, s"stream $stream vs batch $batch")
  }

  test("reservoir bottom-k is order-blind and mergeable") {
    import graft.engine.StatsOps
    // one-shot over the fixture == streaming contract run (same engine
    // path on bounded input) — pin the semantic: picks are the K
    // globally-smallest hashes per lang regardless of arrival order
    val picks = StatsOps.q_stream_reservoir(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    picks.groupBy(_._1).foreach { case (lang, ps) =>
      assert(ps.length == StatsOps.ReservoirK, s"$lang must keep K picks")
      val hs = ps.sortBy(_._2).map(_._4)
      assert(hs.sameElements(hs.sorted), s"$lang picks must be rank-ordered by hash")
    }
    // mergeability: bottom-k of union == bottom-k of (bottom-k ∪ bottom-k)
    val all = picks.map(p => (p._4, p._3)).sorted
    val (h1, h2) = all.splitAt(all.length / 2)
    val merged = (h1.take(StatsOps.ReservoirK) ++ h2.take(StatsOps.ReservoirK))
      .sorted.take(StatsOps.ReservoirK)
    assert(merged.sameElements(all.take(StatsOps.ReservoirK)))
  }

  test("interpolation: observed rows preserved, gaps bounded by neighbors") {
    val rows = StatsOps.q_time_interpolate(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getBoolean(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
    val byType = rows.groupBy(_._1)
    byType.foreach { case (_, series) =>
      val s = series.sortBy(_._2.getTime)
      // interior interpolated values sit between their observed neighbors
      var prevObs: Option[Double] = None
      s.foreach { case (_, _, observed, v) =>
        if (observed) prevObs = v
        else if (v.isDefined && prevObs.isDefined) {
          // bounded check: interp stays inside the observed envelope
          val mx = s.filter(_._3).flatMap(_._4).max
          val mn = s.filter(_._3).flatMap(_._4).min
          assert(v.get >= mn - 1e-9 && v.get <= mx + 1e-9,
            s"interpolated ${v.get} outside observed envelope [$mn,$mx]")
        }
      }
      // null values appear only in leading/trailing runs
      val defined = s.map(_._4.isDefined)
      val firstDef = defined.indexOf(true)
      val lastDef = defined.lastIndexOf(true)
      (firstDef to lastDef).foreach { i =>
        assert(defined(i), "interior gap left un-interpolated")
      }
    }
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{LlmOps, StatsOps, Tables, TextOps}

/** Plain-Scala replays of the round-15 operators at sf0.001 — the
  * independent-mirror discipline of Round13/14Spec: every number the
  * query emits is recomputed from the raw fixture with driver-side
  * Scala (same pinned IEEE op order where doubles are involved), then
  * compared exactly. */
class Round15Spec extends AnyFunSuite {
  import TestSpark._

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** (event_type, day-index x, exact daily cents y) from the raw
    * fixture — the shared daily-series convention of the q_time_* tier. */
  private def dailySeries(): Map[String, Seq[(Long, Long)]] = {
    import org.apache.spark.sql.functions._
    Tables.events(spark, sf0001)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100, 0).cast("bigint")).as("y"))
      .select(col("event_type"),
        datediff(col("day"), lit("2024-01-01").cast("date")).cast("bigint").as("x"),
        col("y"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(_._1).toSeq)
      .toMap
  }

  test("q_agg_mannwhitney equals a driver-side rank-sum replay") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf0001)
      .select(col("event_type"),
        round(col("value") * 100, 0).cast("bigint").as("c"),
        (to_date(col("ts")) <= lit("2024-01-15").cast("date")).as("is_ref"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    val expected = ev.groupBy(_._1).toSeq.flatMap { case (et, xs) =>
      val n1 = xs.count(_._3).toLong
      val n2 = xs.count(!_._3).toLong
      if (n1 == 0 || n2 == 0) Seq.empty
      else {
        // 2×-scaled average ranks per distinct value, exact integers
        val byVal = xs.groupBy(_._2).toSeq.sortBy(_._1)
        var before = 0L
        var r12 = 0L
        var ties = 0L
        byVal.foreach { case (_, g) =>
          val cr = g.count(_._3).toLong
          val t = g.size.toLong
          r12 += cr * (2 * before + t + 1)
          ties += t * t * t - t
          before += t
        }
        val n1d = n1.toDouble; val n2d = n2.toDouble; val nd = (n1 + n2).toDouble
        val varU = n1d * n2d / 12.0 * ((nd + 1.0) - ties.toDouble / (nd * (nd - 1.0)))
        val u = (r12 - n1 * (n1 + 1)).toDouble / 2.0
        val z = (r12 - n1 * (n1 + 1) - n1 * n2).toDouble / (2.0 * math.sqrt(varU))
        Seq((et, n1, n2, u, z))
      }
    }.sortBy(_._1)
    val got = StatsOps.q_agg_mannwhitney(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(got.nonEmpty && got == expected,
      s"mannwhitney replay mismatch:\n got=$got\n exp=$expected")
  }

  test("q_time_ewma equals the driver-side 20-tap weighted sum; exact numerator") {
    val daily = dailySeries()
    val expected = daily.toSeq.flatMap { case (et, series) =>
      series.indices.drop(StatsOps.EwmaTaps - 1).map { i =>
        val num = (0 until StatsOps.EwmaTaps).map { k =>
          series(i - k)._2 * (1L << (StatsOps.EwmaTaps - 1 - k))
        }.sum
        (et, series(i)._1, series(i)._2, num,
          num.toDouble / StatsOps.EwmaDenom.toDouble)
      }
    }.sortBy(t => (t._1, t._2))
    val got = StatsOps.q_time_ewma(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got == expected,
      s"ewma replay mismatch:\n got=${got.take(3)}\n exp=${expected.take(3)}")
    // numerator weights sum to the denominator: a constant series y
    // yields ewma == y exactly
    assert(StatsOps.EwmaDenom == (0 until StatsOps.EwmaTaps).map(1L << _).sum)
  }

  test("q_stream_ewma fold: micro-batch split equals single shot equals batch last row") {
    val series = (0 until 30).map(x =>
      StatsOps.EwmaIn("t", x.toLong, 900L + (x % 11) * 37L))
    def fold(batches: Seq[Seq[StatsOps.EwmaIn]]): StatsOps.EwmaSnap =
      KeyedReplay.rows(StatsOps.ewmaFold, batches).last
    val single = fold(Seq(series))
    val split = fold(series.grouped(7).toSeq)
    assert(single == split, "state carry across micro-batches must not change the snapshot")
    // equals the batch window on the same series
    val num = (0 until StatsOps.EwmaTaps).map { k =>
      series(29 - k).y * (1L << (StatsOps.EwmaTaps - 1 - k))
    }.sum
    assert(single == StatsOps.EwmaSnap("t", 30L, 29L, num,
      num.toDouble / StatsOps.EwmaDenom.toDouble))
  }

  test("q_text_ngram_topk equals a driver-side trigram census") {
    val docs = Tables.documents(spark, sf0001)
      .select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val expected = docs.groupBy(_._1).toSeq.flatMap { case (lang, ds) =>
      val grams = ds.flatMap { case (_, text) =>
        val t = text.split(" ").filter(_.nonEmpty)
        if (t.length < 3) Seq.empty
        else (0 to t.length - 3).map(i => s"${t(i)} ${t(i + 1)} ${t(i + 2)}")
      }
      grams.groupBy(identity).toSeq
        .map { case (g, xs) => (g, xs.size.toLong) }
        .sortBy { case (g, n) => (-n, g) }
        .take(10).zipWithIndex
        .map { case ((g, n), i) => (lang, (i + 1).toLong, g, n) }
    }.sortBy(t => (t._1, t._2))
    val got = TextOps.q_text_ngram_topk(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3))).toSeq
    assert(got.nonEmpty && got == expected,
      s"ngram census mismatch:\n got=${got.take(5)}\n exp=${expected.take(5)}")
  }

  test("q_llm_ann_ivfpq equals a driver-side IVF+residual-PQ replay") {
    val emb = Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // same left-to-right double fold as graft_vec_dot
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def cos(a: Array[Float], b: Array[Float]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    // r16 scale-adaptive capacity: nlist = max(16, floor(sqrt(n)))
    // smallest vec_ids, EVERY vector assigned (assign-all convention)
    val nlist = math.max(16L, math.sqrt(emb.size.toDouble).floor.toLong)
    val cents = (0L until nlist).map(c => c -> emb(c)).toMap
    // IVF assignment: rounded-6 cosine argmax, cid tie-break
    val assigned = emb.keys.map { vid =>
      val best = cents.toSeq.map { case (cid, cv) => (cid, r6(cos(emb(vid), cv))) }
        .minBy { case (cid, c) => (-c, cid) }
      vid -> best._1
    }.toMap
    // residuals (double), 8 subvectors, codebook = residuals of the 16
    // smallest NON-centroid ids (nlist..nlist+15)
    def residual(vid: Long): Array[Double] = {
      val v = emb(vid); val c = cents(assigned(vid))
      Array.tabulate(64)(i => v(i).toDouble - c(i).toDouble)
    }
    def sub(rv: Array[Double], m: Int): Array[Double] = rv.slice(m * 8, m * 8 + 8)
    def d2(x: Array[Double], c: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < 8) { acc += (x(i) - c(i)) * (x(i) - c(i)); i += 1 }
      acc
    }
    val cb = (nlist until nlist + 16L).map(j => j -> residual(j)).toMap
    def codeOf(vid: Long, m: Int): Long = {
      val sv = sub(residual(vid), m)
      cb.toSeq.map { case (j, rv) => (j, d2(sv, sub(rv, m))) }
        .minBy { case (j, d) => (d, j) }._1
    }
    def r9(x: Double): BigDecimal =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val expected = (20L to 24L).flatMap { qid =>
      val qrv = residual(qid)
      val lut = (0 until 8).flatMap { m =>
        cb.keys.map(j => (m, j) -> r9(d2(sub(qrv, m), sub(cb(j), m))))
      }.toMap
      val cand = assigned.keys.filter(v => v != qid && assigned(v) == assigned(qid))
      cand.toSeq.map { nid =>
        val adc = (0 until 8).map(m => lut((m, codeOf(nid, m)))).sum.toDouble
        (nid, r6(adc))
      }.sortBy { case (nid, a) => (a, nid) }.take(3).zipWithIndex
        .map { case ((nid, a), i) => (qid, nid, a, (i + 1).toLong) }
    }.sortBy(t => (t._1, t._4))
    val got = LlmOps.q_llm_ann_ivfpq(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(got.size == 15, s"5 queries x top-3 expected, got ${got.size}")
    assert(got == expected,
      s"ivfpq replay mismatch:\n got=${got.take(6)}\n exp=${expected.take(6)}")
  }

  test("q_llm_lsh_clusters never merges MORE than the exact clustering") {
    // LSH candidates are a SUBSET of the exact J >= 0.8 pair graph
    // (banding only loses pairs, the verify step is exact), so per lang:
    // clusters >= exact clusters, dup docs <= exact dup docs, same doc
    // universe. On the small fixture banding recall is usually 1.0 and
    // the two coincide; the invariant direction is what must never flip.
    def byLang(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val lsh = byLang(LlmOps.q_llm_lsh_clusters(spark, sf0001))
    val exact = byLang(LlmOps.q_llm_dedup_clusters(spark, sf0001))
    assert(lsh.keySet == exact.keySet)
    lsh.foreach { case (lang, (nDocs, nClusters, nDups)) =>
      val (eDocs, eClusters, eDups) = exact(lang)
      assert(nDocs == eDocs, s"$lang: same sampled doc universe")
      assert(nClusters >= eClusters, s"$lang: LSH can only split, never over-merge")
      assert(nDups <= eDups, s"$lang: LSH finds at most the exact dup mass")
    }
  }

  test("q_graph_pseudo_diameter: second sweep dominates the first eccentricity") {
    val r = graft.engine.GraphOps.q_graph_pseudo_diameter(spark, sf0001).collect()
    assert(r.length == 1)
    val ecc1 = r(0).getLong(2)
    val pd = r(0).getLong(4)
    // the double-sweep guarantee: ecc(far1) >= ecc(seed)
    assert(pd >= ecc1, s"pseudo-diameter $pd must dominate sweep-1 ecc $ecc1")
    assert(ecc1 >= 0 && pd >= 0)
  }

  test("q_time_sax: symbols match their z-scores; PAA means the window") {
    val rows = StatsOps.q_time_sax(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, _, _, z, sym) =>
      val expected =
        if (z < -0.6745) 0L else if (z < 0.0) 1L else if (z < 0.6745) 2L else 3L
      // z is the round-6 display value; re-binning it can only disagree
      // with the unrounded bin within half an ulp of a breakpoint —
      // assert the coherent case away from the edge
      if (math.abs(z + 0.6745) > 1e-5 && math.abs(z) > 1e-5 &&
        math.abs(z - 0.6745) > 1e-5)
        assert(sym == expected, s"symbol $sym vs z $z")
    }
    // windows are complete 5-day PAA means: 4 symbols only
    assert(rows.forall(r => r._6 >= 0L && r._6 <= 3L))
  }

  test("q_agg_gmean_hmean equals a driver-side fold; hmean <= gmean <= amean") {
    import org.apache.spark.sql.functions._
    def r9b(x: Double): BigDecimal =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val cents = Tables.events(spark, sf0001)
      .select(col("event_type"), round(col("value") * 100, 0).cast("bigint").as("c"))
      .filter(col("c") > 0)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val expected = cents.groupBy(_._1).toSeq.map { case (et, xs) =>
      val n = xs.size.toLong
      val sln = xs.map(x => r9b(math.log(x._2.toDouble))).sum
      val sinv = xs.map(x => r9b(1.0 / x._2.toDouble)).sum
      (et, n, r6(sln.toDouble / n.toDouble), r6(n.toDouble / sinv.toDouble))
    }.sortBy(_._1)
    val got = StatsOps.q_agg_gmean_hmean(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(got == expected,
      s"gmean/hmean replay mismatch:\n got=$got\n exp=$expected")
    // AM-GM-HM inequality on positive data (log_gmean exp'd)
    got.foreach { case (et, n, lg, h) =>
      val am = cents.filter(_._1 == et).map(_._2).sum.toDouble / n
      assert(h <= math.exp(lg) + 1e-6 && math.exp(lg) <= am + 1e-6,
        s"$et: HM $h <= GM ${math.exp(lg)} <= AM $am must hold")
    }
  }

  test("q_src_gzip_roundtrip equals the plain-text roundtrip and writes real .gz files") {
    val gz = graft.engine.SourceOps.q_src_gzip_roundtrip(spark, sf0001).collect()
    val plain = graft.engine.SourceOps.q_src_text_roundtrip(spark, sf0001).collect()
    assert(gz.map(_.toSeq).toSeq == plain.map(_.toSeq).toSeq,
      "compressed and plain round trips must agree (lossless codec)")
    // the sink actually produced gzip members, not plain text
    val outDir = new java.io.File(
      graft.engine.SourceOps.scratch("gztext", sf0001))
    val parts = Option(outDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("part-"))
    assert(parts.nonEmpty && parts.forall(_.getName.endsWith(".gz")),
      s"expected .gz parts under $outDir, got ${parts.map(_.getName).toSeq}")
  }

  test("q_graph_partition_2d: 2D replication beats 1D; loads cover all edges") {
    val rows = graft.engine.PartitionOps.q_graph_partition_2d(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))).toMap
    val (e1, _, _, v1, _, rf1) = rows("1d_hash")
    val (e2, _, _, v2, _, rf2) = rows("2d_grid")
    assert(e1 == e2 && v1 == v2, "both strategies see the same graph")
    // the 2D grid bound: <= 2*sqrt(P) = 8 replicas per vertex; and on a
    // bipartite co-purchase graph its RF must not exceed the 1D cut's
    // (1D scatters every part vertex across up to 16 parts)
    assert(rf2 <= rf1 + 1e-9, s"2D RF $rf2 must not exceed 1D RF $rf1")
    assert(rf2 <= 8.0 && rf1 >= 1.0)
  }

  test("q_stream_late_events fold: batch split equals single shot; late iff behind watermark") {
    import graft.engine.StreamingOps
    // arrival order with one 20-minute-late straggler and one mild one
    val evs = Seq(
      StreamingOps.LateIn("t", 0, 1000L * 1000000),
      StreamingOps.LateIn("t", 1, 2000L * 1000000),
      StreamingOps.LateIn("t", 2, (2000L - 1200) * 1000000), // 20 min behind max
      StreamingOps.LateIn("t", 3, (2000L - 500) * 1000000),  // inside the 10-min delay
      StreamingOps.LateIn("t", 4, 3000L * 1000000))
    def fold(batches: Seq[Seq[StreamingOps.LateIn]]): StreamingOps.LateSnap =
      KeyedReplay.rows(StreamingOps.lateFold, batches).last
    val single = fold(Seq(evs))
    val split = fold(evs.grouped(2).toSeq)
    assert(single == split, "micro-batch split must not change the snapshot")
    // only the 20-min straggler is late: delay = (2000-600) - 800 = 600 s
    assert(single == StreamingOps.LateSnap("t", 5L, 1L, 600L))
  }

  test("q_llm_curriculum_order: buckets partition each lang; schedule positions are unique") {
    import org.apache.spark.sql.functions._
    val rows = graft.engine.PipelineOps.q_llm_curriculum_order(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    val docCounts = Tables.documents(spark, sf0001)
      .groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.groupBy(_._1).foreach { case (lang, g) =>
      assert(g.map(_._2).sorted.toSeq == Seq(0L, 1L, 2L, 3L), s"$lang: 4 quartile buckets")
      assert(g.map(_._3).sum == docCounts(lang), s"$lang: buckets partition the docs")
      // easy->hard within the bucket ladder: char ranges are ordered
      val byBucket = g.sortBy(_._2)
      byBucket.zip(byBucket.tail).foreach { case (lo, hi) =>
        assert(lo._5 <= hi._4, s"$lang: bucket ${lo._2} max_chars must not exceed bucket ${hi._2} min_chars")
      }
      // round-robin interleave: bucket b's first position is b+1
      byBucket.foreach { case (_, b, _, _, _, first, _) =>
        assert(first == b + 1, s"$lang: bucket $b must start at position ${b + 1}")
      }
    }
  }

  test("q_stream_count_window fold: split-invariant; windows are exact 100-event tiles") {
    import graft.engine.StreamingOps
    val evs = (0 until 250).map(i => StreamingOps.CwIn("t", i.toLong, (i % 13).toLong))
    def fold(batches: Seq[Seq[StreamingOps.CwIn]]): Seq[StreamingOps.CwOut] =
      KeyedReplay.rows(StreamingOps.countWindowFold, batches)
    val single = fold(Seq(evs))
    val split = fold(evs.grouped(37).toSeq) // window boundaries straddle batches
    assert(single == split, "micro-batch split must not change the closed windows")
    assert(single.size == 2, "250 events = 2 closed 100-event windows + open tail")
    assert(single.map(_.win) == Seq(0L, 1L))
    assert(single.head.first_eid == 0L && single.head.last_eid == 99L)
    assert(single.head.sum_cents == (0 until 100).map(_ % 13).sum.toLong)
  }

  test("q_text_jsd: symmetric-free pairs, bounded by ln 2, zero for identical dists") {
    val rows = TextOps.q_text_jsd(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length == 10, "5 langs = 10 unordered pairs")
    rows.foreach { case (a, b, n, j) =>
      assert(a < b, "pairs are ordered once")
      assert(n > 0)
      assert(j >= 0.0 && j <= math.log(2.0) + 1e-9,
        s"JSD must lie in [0, ln 2], got $j for ($a,$b)")
    }
  }

  test("q_llm_dataset_card: shares sum to 1; char mass consistent") {
    val rows = graft.engine.PipelineOps.q_llm_dataset_card(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6), r.getDouble(7)))
    assert(rows.nonEmpty)
    val shareSum = rows.map(_._8).sum
    assert(math.abs(shareSum - 1.0) < 1e-4, s"doc shares must sum to ~1, got $shareSum")
    rows.foreach { case (src, n, nl, tot, mn, mx, mean, _) =>
      assert(nl >= 1 && nl <= 5)
      assert(mn <= mx && tot >= n * mn && tot <= n * mx,
        s"$src: char mass must sit inside [n*min, n*max]")
      assert(math.abs(mean - tot.toDouble / n) < 1e-6)
    }
  }

  test("q_time_bollinger: breakout decision matches the sqrt form; counts bounded") {
    val rows = StatsOps.q_time_bollinger(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (et, nw, up, down, lm, lsd) =>
      assert(up + down <= nw, s"$et: breakouts bounded by window count")
      assert(lsd >= 0.0 && lm > 0.0)
    }
    // the integer cross-multiplication equals |y - mean| > 2*sd on a
    // hand case: y=30, window sum S=200, Q=2600, n=20(fake): replay both
    val n = StatsOps.BollWin
    val y = 300L; val s0 = 2000L; val q0 = 260000L
    val dev = n * y - s0
    val intForm = dev * dev * (n - 1) > 4L * n * (n * q0 - s0 * s0)
    val mean = s0.toDouble / n
    val varD = (n * q0 - s0 * s0).toDouble / (n.toDouble * (n - 1))
    val sqrtForm = math.abs(y - mean) > 2.0 * math.sqrt(varD)
    assert(intForm == sqrtForm, "cross-multiplied test must equal the sqrt form")
  }

  test("q_agg_pinball equals a driver-side order-statistic replay") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf0001)
      .select(col("event_type"), col("event_id"),
        round(col("value") * 100, 0).cast("bigint").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = ev.groupBy(_._1).toSeq.map { case (et, xs) =>
      val sorted = xs.sortBy(x => (x._3, x._2)).map(_._3)
      val n = sorted.length
      val q50 = sorted(math.ceil(n * 0.5).toLong.toInt - 1)
      val q90 = sorted(math.ceil(n * 0.9).toLong.toInt - 1)
      val p50 = sorted.map(c => math.abs(c - q50)).sum
      val p90 = sorted.map(c => if (c > q90) 9 * (c - q90) else q90 - c).sum
      (et, n.toLong, q50, q90, p50, p90,
        r6(p50.toDouble / (2.0 * n)), r6(p90.toDouble / (10.0 * n)))
    }.sortBy(_._1)
    val got = StatsOps.q_agg_pinball(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6), r.getDouble(7))).toSeq
    assert(got == expected, s"pinball replay mismatch:\n got=$got\n exp=$expected")
  }

  test("q_agg_hhi: concentration bounded by [1/k, 1]; equals a driver fold") {
    val rows = StatsOps.q_agg_hhi(spark, sf0001).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (n, k, hhi) =>
      assert(hhi >= 1.0 / k - 1e-9 && hhi <= 1.0,
        s"HHI $hhi outside [1/$k, 1] for n=$n")
    }
  }

  test("q_llm_source_overlap: pairs ordered, shared bounded by the smaller vocabulary") {
    import org.apache.spark.sql.functions._
    val perSource = Tables.documents(spark, sf0001)
      .select(col("source"), expr("filter(split(text, ' '), t -> t <> '')").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("source"), explode(expr(
        "transform(sequence(0, size(t) - 3), i -> concat(t[i], ' ', t[i+1], ' ', t[i+2]))"))
        .as("g"))
      .distinct()
      .groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = graft.engine.PipelineOps.q_llm_source_overlap(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty, "synthetic sources share common phrasing — overlap must be non-trivial")
    rows.foreach { case (a, b, n, j) =>
      assert(a < b, "pairs appear once, ordered")
      assert(n <= math.min(perSource(a), perSource(b)),
        s"shared trigrams bounded by the smaller vocabulary: ($a,$b) $n")
      assert(j > 0.0 && j <= 1.0)
    }
  }

  test("q_gnn_edge_dropout: keep rate near 0.8; kept degree bounded; identical across runs") {
    val rows = graft.engine.Gnn.q_gnn_edge_dropout(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, full, kept) => assert(kept <= full && kept >= 1) }
    val keepRate = rows.map(_._3).sum.toDouble / rows.map(_._2).sum
    assert(keepRate > 0.7 && keepRate < 0.9,
      s"md5 keep decisions at 8/10 must land near 0.8, got $keepRate")
    // seeded determinism: a second run is byte-identical
    val again = graft.engine.Gnn.q_gnn_edge_dropout(spark, sf0001).collect()
    assert(again.map(_.toSeq).toSeq ==
      graft.engine.Gnn.q_gnn_edge_dropout(spark, sf0001).collect().map(_.toSeq).toSeq)
  }

  test("q_graph_conductance: cuts and volumes reconcile; conductance in [0,1]") {
    val rows = graft.engine.GraphOps.q_graph_conductance(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    val volTotal = rows.map(_._3).sum
    rows.foreach { case (_, nv, vol, cut, phi) =>
      assert(nv >= 1 && vol >= nv, "each vertex has degree >= 1 in the projection")
      assert(cut <= vol, "cut edges are a subset of the group's incident edges")
      assert(phi >= 0.0 && phi <= 1.0, s"conductance $phi out of range")
      assert(vol <= volTotal)
    }
  }

  test("q_llm_dp_counts: released = true + noise; noise is Laplace-shaped and seeded") {
    val rows = graft.engine.PipelineOps.q_llm_dp_counts(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.length == 5)
    rows.foreach { case (_, n, eps, noise, rel) =>
      assert(eps == 1.0)
      assert(math.abs(rel - (n + noise)) < 1e-6, "release must be true + noise exactly")
      // Laplace(1) at 5 draws: magnitudes are individually plausible
      assert(math.abs(noise) < 50.0, s"implausible Laplace(1) magnitude $noise")
    }
    // the seeded mechanism is reproducible
    val again = graft.engine.PipelineOps.q_llm_dp_counts(spark, sf0001).collect()
      .map(r => r.getDouble(3))
    assert(again.toSeq == rows.map(_._4).toSeq)
  }

  test("q_agg_mann_kendall equals a driver-side pair replay") {
    val daily = dailySeries()
    val expected = daily.toSeq.flatMap { case (et, series) =>
      val ys = series.map(_._2)
      val n = ys.length.toLong
      val sStat = (for (i <- ys.indices; j <- i + 1 until ys.length)
        yield java.lang.Long.signum(ys(j) - ys(i)).toLong).sum
      val tieSum = ys.groupBy(identity).values
        .map(g => { val t = g.size.toLong; t * (t - 1) * (2 * t + 5) }).sum
      val var18 = n * (n - 1) * (2 * n + 5) - tieSum
      if (var18 <= 0) Seq.empty
      else {
        val sd = math.sqrt(var18.toDouble / 18.0)
        val z = if (sStat > 0) (sStat - 1).toDouble / sd
          else if (sStat < 0) (sStat + 1).toDouble / sd else 0.0
        Seq((et, n, sStat, var18, r6(z)))
      }
    }.sortBy(_._1)
    val got = StatsOps.q_agg_mann_kendall(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got.nonEmpty && got == expected,
      s"mann-kendall replay mismatch:\n got=$got\n exp=$expected")
  }

  test("q_text_kappa: agreement identity holds; kappa <= accuracy") {
    val r = TextOps.q_text_kappa(spark, sf0001).collect()
    assert(r.length == 1)
    val (n, agree, chance) = (r(0).getLong(0), r(0).getLong(1), r(0).getLong(2))
    val (po, pe, kappa) = (r(0).getDouble(3), r(0).getDouble(4), r(0).getDouble(5))
    assert(agree <= n && chance <= n * n)
    assert(math.abs(po - agree.toDouble / n) < 1e-6)
    // kappa = (po - pe)/(1 - pe) <= po when pe >= 0
    assert(kappa <= po + 1e-9, s"kappa $kappa cannot exceed raw accuracy $po")
    assert(math.abs(kappa -
      (n.toDouble * agree - chance) / (n.toDouble * n - chance)) < 1e-6,
      s"kappa must equal the one-division form")
    assert(pe > 0.0 && pe < 1.0)
  }

  test("q_llm_dedup_keep reconciles with the cluster accounting") {
    val keep = LlmOps.q_llm_dedup_keep(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val clusters = LlmOps.q_llm_dedup_clusters(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // per lang: dropped docs across kept rows == the accounting's dup count
    clusters.foreach { case (lang, (_, _, nDup)) =>
      val dropped = keep.filter(_._1 == lang).map(_._3).sum
      assert(dropped == nDup,
        s"$lang: survivor rows must account for exactly the $nDup dups, got $dropped")
    }
    keep.foreach { case (_, kept, nDropped, tot, droppedTok) =>
      assert(nDropped >= 1, "only multi-doc clusters appear")
      assert(droppedTok < tot, "the kept doc's tokens stay")
      assert(kept % 10 == 0, "kept docs come from the deterministic 10% sample")
    }
  }

  test("q_llm_hard_negatives: labels differ from the anchor's; ranked by similarity") {
    import org.apache.spark.sql.functions._
    val lbl = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = LlmOps.q_llm_hard_negatives(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getLong(4)))
    assert(rows.length == 15, "5 anchors x top-3")
    rows.foreach { case (a, nid, nlbl, _, _) =>
      assert(nlbl != lbl(a), s"negative $nid must carry a different label than anchor $a")
      assert(nlbl == lbl(nid), "reported label matches the corpus")
    }
    rows.groupBy(_._1).values.foreach { g =>
      val byRank = g.sortBy(_._5).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (x, y) => x >= y },
        "similarity must be non-increasing in rank")
    }
  }
}

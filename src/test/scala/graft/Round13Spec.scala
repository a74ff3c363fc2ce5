package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{ClusterOps, GraphOps, Keyed, LlmOps, RankOps, Relational, StatsOps, Tables, TextOps}

/** Round-13 additions (driver round 7, this session): plain-Scala
  * replays and semantic invariants for the transition-graph census,
  * retrieval fusion/eval, robust statistics, JL projection, and decayed
  * heavy hitters — the layer of pinning beyond the DuckDB hash gate. */
class Round13Spec extends AnyFunSuite {
  import TestSpark._

  /** The daily cents series the robust monitors consume, replayed. */
  private def dailyCents(sf: String): Map[String, Seq[(Int, Long)]] = {
    import org.apache.spark.sql.functions._
    Tables.events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100, 0).cast("bigint")).as("c"))
      .select(col("event_type"),
        datediff(col("day"), lit("2024-01-01").cast("date")).as("x"), col("c"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(_._1).toSeq)
      .toMap
  }

  /** The directed transition edge set, replayed from raw lineitem rows
    * with the same (linenumber, partkey) ordering rule. */
  private def transSet(sf: String): Set[(Long, Long)] = {
    import org.apache.spark.sql.functions._
    Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1)
      .valuesIterator
      .flatMap { rows =>
        val seq = rows.sortBy(r => (r._2, r._3)).map(_._3)
        seq.zip(seq.tail).filter(p => p._1 != p._2)
      }
      .toSet
  }

  test("transition edges: MV equals the per-order sequence replay") {
    val mv = GraphOps.transEdges(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mv == transSet(sf0001))
  }

  test("reciprocity: counts replayed from the edge set") {
    val t = transSet(sf0001)
    val recip = t.count(e => t.contains((e._2, e._1)))
    val r = GraphOps.q_graph_reciprocity(spark, sf0001).collect().head
    assert(r.getLong(0) == t.size.toLong)
    assert(r.getLong(1) == recip / 2L)
    assert(r.getLong(2) == t.size.toLong - recip)
    assert(math.abs(r.getDouble(3) - recip.toDouble / t.size) <= 5e-7)
  }

  test("motifs: cyclic and transitive triads replayed by brute force") {
    val t = transSet(sf0001)
    val out = t.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var cyc = 0L
    var trans = 0L
    for ((a, bs) <- out; b <- bs; c <- out.getOrElse(b, Set.empty)) {
      if (a < b && a < c && t.contains((c, a))) cyc += 1
      if (a != c && t.contains((a, c))) trans += 1
    }
    val r = GraphOps.q_graph_motifs(spark, sf0001).collect().head
    assert(r.getLong(0) == cyc, s"cyclic ${r.getLong(0)} vs $cyc")
    assert(r.getLong(1) == trans, s"transitive ${r.getLong(1)} vs $trans")
  }

  test("theil_sen: median-of-pairwise-slopes replayed exactly") {
    val got = StatsOps.q_agg_theil_sen(spark, sf001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    dailyCents(sf001).foreach { case (et, series) =>
      val slopes = (for {
        (i, ii) <- series.zipWithIndex
        j <- series.drop(ii + 1)
      } yield {
        val dy = j._2 - i._2
        val dx = (j._1 - i._1).toLong
        (BigDecimal(dy.toDouble / dx)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble, dy, dx, i._1)
      }).sortBy(t => (t._1, t._2, t._3, t._4))
      val n = slopes.length
      val lo = slopes((n + 1) / 2 - 1)._1
      val hi = slopes((n + 2) / 2 - 1)._1
      val med = BigDecimal((lo + hi) / 2)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (np, s) = got(et)
      assert(np == n.toLong, s"$et n_pairs")
      assert(s == med, s"$et slope $s vs $med")
    }
  }

  test("hodges_lehmann: pseudo-median of Walsh averages replayed") {
    val got = StatsOps.q_agg_hodges_lehmann(spark, sf001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    dailyCents(sf001).foreach { case (et, series) =>
      val w2s = (for {
        (i, ii) <- series.zipWithIndex
        j <- series.drop(ii) // x1 <= x2 includes the diagonal
      } yield (i._2 + j._2, i._1, j._1)).sortBy(identity)
      val n = w2s.length
      val lo = w2s((n + 1) / 2 - 1)._1
      val hi = w2s((n + 2) / 2 - 1)._1
      val nm = if ((n + 1) / 2 == (n + 2) / 2) 1 else 2
      val sumMids = if (nm == 2) lo + hi else lo
      val pm = BigDecimal(sumMids.toDouble / (nm * 2) / 100)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (np, g) = got(et)
      assert(np == n.toLong)
      assert(g == pm, s"$et pseudo-median $g vs $pm")
    }
  }

  test("mad: doubled-median device replayed; outlier rule all-integer") {
    def median2(xs: Seq[Long]): Long = {
      val s = xs.sorted
      val n = s.length
      val lo = s((n + 1) / 2 - 1)
      val hi = s((n + 2) / 2 - 1)
      lo + hi // = 2·median, exact integer
    }
    val got = StatsOps.q_time_mad(spark, sf001).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    dailyCents(sf001).foreach { case (et, series) =>
      val ys = series.map(_._2)
      val med2 = median2(ys)
      val d2s = ys.map(y => math.abs(2 * y - med2))
      val mad4 = median2(d2s)
      val nOut = d2s.count(d2 => d2 * 20000L > mad4 * 44478L)
      val (nd, medV, madV, no) = got(et)
      assert(nd == ys.length.toLong)
      assert(medV == BigDecimal(med2.toDouble / 200)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(madV == BigDecimal(mad4.toDouble / 400)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(no == nOut.toLong, s"$et outliers $no vs $nOut")
    }
  }

  test("decay_topk: recursion equals the closed form exactly (dyadic)") {
    import org.apache.spark.sql.functions._
    val dailyN = Tables.events(spark, sf001)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
      .select(col("event_type"),
        datediff(col("day"), lit("2024-01-01").cast("date")).as("x"), col("c"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val tmax = dailyN.map(_._2).max
    val want = dailyN.groupBy(_._1).view.mapValues { rows =>
      // closed form Σ c·2^−(T−d): exact dyadic arithmetic
      rows.map(r => r._3.toDouble / (1L << (tmax - r._2)).toDouble).sum
    }.toMap
    val tot = want.values.sum
    val got = StatsOps.q_stream_decay_topk(spark, sf001).collect()
    assert(got.map(_.getString(0)).toSet == want.keySet)
    got.foreach { r =>
      val w = want(r.getString(0))
      assert(r.getDouble(2) == BigDecimal(w)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        s"${r.getString(0)} decayed_count")
      assert(math.abs(r.getDouble(3) - w / tot) <= 5e-7)
    }
    // output is ranked by decayed weight
    val ws = got.map(_.getDouble(2)).toSeq
    assert(ws == ws.sorted.reverse)
  }

  test("streaming decay state bridges micro-batches bit-for-bit") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    // gap day (x=4 missing) exercises the multi-day decay branch
    val days = Seq((1L, 100L), (2L, 50L), (3L, 80L), (5L, 10L), (6L, 40L))
      .map { case (x, c) => StatsOps.DecayIn("t", x, c) }
    val ms = MemoryStream[StatsOps.DecayIn]
    val q = Keyed.run(ms.toDS(), StatsOps.decayFold)
      .toDF()
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("decayst").start()
    ms.addData(days.take(2): _*); q.processAllAvailable()
    ms.addData(days.drop(2): _*); q.processAllAvailable(); q.stop()
    val fin = s.table("decayst").collect().maxBy(_.getLong(2))
    // closed form Σ c·2^−(T−d), exact dyadic — must match bit-for-bit
    val want = days.map(e => e.c.toDouble / (1L << (6 - e.x)).toDouble).sum
    assert(fin.getLong(2) == 6L)
    assert(fin.getDouble(3) == want,
      s"cross-batch decayed weight ${fin.getDouble(3)} vs closed form $want")
  }

  test("streaming chi2 histogram state bridges micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val evs = Seq(("a", 0), ("a", 1), ("a", 1), ("b", 2), ("b", 0), ("a", 9))
      .map { case (t, b) => StatsOps.Chi2Ev(t, b) }
    val ms = MemoryStream[StatsOps.Chi2Ev]
    val q = Keyed.run(ms.toDS(), StatsOps.chi2Fold)
      .toDF()
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("chi2st").start()
    ms.addData(evs.take(3): _*); q.processAllAvailable()
    ms.addData(evs.drop(3): _*); q.processAllAvailable(); q.stop()
    val last = s.table("chi2st").collect()
      .groupBy(_.getString(0)).view.mapValues(rs =>
        rs.map(_.getSeq[Long](1).sum).max).toMap
    assert(last == Map("a" -> 4L, "b" -> 2L),
      "final histograms must accumulate across batches")
  }

  test("streaming benford counter state bridges micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val ms = MemoryStream[StatsOps.BenfEv]
    val q = Keyed.run(ms.toDS(), StatsOps.benfordFold)
      .toDF()
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("benfst").start()
    ms.addData(StatsOps.BenfEv(1), StatsOps.BenfEv(1)); q.processAllAvailable()
    ms.addData(StatsOps.BenfEv(1), StatsOps.BenfEv(2)); q.processAllAvailable(); q.stop()
    val last = s.table("benfst").collect()
      .groupBy(_.getInt(0)).view.mapValues(_.map(_.getLong(1)).max).toMap
    assert(last == Map(1 -> 3L, 2 -> 1L))
  }

  test("streaming ttest moments bridge micro-batches; snapshot equals batch") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val evs = Seq(("a", 100L, true), ("a", 140L, true), ("a", 90L, false),
      ("a", 200L, false), ("a", 120L, true), ("a", 210L, false))
      .map { case (t, c, r) => StatsOps.TtEv(t, c, r) }
    val ms = MemoryStream[StatsOps.TtEv]
    val q = Keyed.run(ms.toDS(), StatsOps.ttestFold)
      .toDF()
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("ttestst").start()
    ms.addData(evs.take(3): _*); q.processAllAvailable()
    ms.addData(evs.drop(3): _*); q.processAllAvailable(); q.stop()
    val last = s.table("ttestst").collect().maxBy(r => r.getLong(1) + r.getLong(2))
    assert(last.getLong(1) == 3L && last.getLong(2) == 3L)
    assert(last.getLong(3) == 360L && last.getLong(4) == 100 * 100 + 140 * 140 + 120 * 120)
    assert(last.getLong(5) == 500L && last.getLong(6) == 90 * 90 + 200 * 200 + 210 * 210)
    // batch and streaming operators agree on the fixture
    val a = StatsOps.q_agg_ttest(spark, sf0001).collect().map(_.toString).toSeq
    val b = StatsOps.q_stream_ttest(spark, sf0001).collect().map(_.toString).toSeq
    assert(a == b, "streaming snapshot must equal the batch Welch output")
  }

  test("rand_proj: exact integer projection and JL ratio near 1") {
    val rows = ClusterOps.q_embed_rand_proj(spark, sf001).collect()
    // 8 components per sampled vector, exact integers (bigint column)
    val byVec = rows.groupBy(_.getLong(0))
    assert(byVec.values.forall(_.length == 8))
    // the distortion audit: E[ratio] = 1 under ±1 JL; individual vectors
    // concentrate within a loose [0.3, 3] band at d=64→8
    val ratios = byVec.view.mapValues(_.head.getDouble(3)).values.toSeq
    assert(ratios.forall(r => r > 0.2 && r < 5.0), s"ratios out of band: $ratios")
    val mean = ratios.sum / ratios.size
    assert(mean > 0.6 && mean < 1.6, s"mean JL ratio $mean")
  }

  test("rrf: fused score equals 1/(60+r_lex)+1/(60+r_sem); top-5 per lang") {
    val rows = RankOps.q_llm_rrf(spark, sf001).collect()
    rows.foreach { r =>
      val (rl, rs) = (r.getLong(3), r.getLong(4))
      val want = BigDecimal(
        BigDecimal(1.0 / (60 + rl)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
          .toDouble +
        BigDecimal(1.0 / (60 + rs)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(5) == want, s"rrf mismatch at ${r.getLong(2)}")
    }
    rows.groupBy(_.getString(0)).foreach { case (lang, rs) =>
      assert(rs.length <= 5, s"$lang more than 5 fused results")
      assert(rs.map(_.getLong(1)).sorted.toSeq == (1L to rs.length).toSeq)
    }
  }

  test("scc_colors: FW-BW k-hop min-label refinement replayed") {
    val t = transSet(sf0001)
    val nodes = (t.map(_._1) ++ t.map(_._2)).toSet
    def refine(edges: Set[(Long, Long)]): Map[Long, Long] = {
      var lab = nodes.map(v => v -> v).toMap
      (1 to GraphOps.SccHops).foreach { _ =>
        val prop = edges.toSeq.map { case (u, v) => v -> lab(u) }
        lab = (lab.toSeq ++ prop).groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      }
      lab
    }
    val f = refine(t)
    val b = refine(t.map(e => (e._2, e._1)))
    val classes = nodes.groupBy(v => (f(v), b(v))).view.mapValues(_.size.toLong)
    val want = classes.toSeq
      .sortBy { case ((fl, bl), sz) => (-sz, fl, bl) }.take(10)
      .map { case ((fl, bl), sz) => (fl, bl, sz) }
    val got = GraphOps.q_graph_scc_colors(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
  }

  test("rake: full extraction replayed in plain scala") {
    val docs = Tables.documents(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getString(1)))
    val tokAll = docs.flatMap { case (id, lang, text) =>
      text.split(" ", -1).zipWithIndex.map { case (tok, pos) => (id, lang, pos, tok) }
    }
    val stop = tokAll.map(t => (t._4, t._1)).distinct.groupBy(_._1)
      .view.mapValues(_.size).toSeq
      .sortBy { case (tok, df) => (-df, tok) }.take(20).map(_._1).toSet
    val phrases = tokAll.filter(t => t._1 % 10 == 0)
      .groupBy(t => (t._1, t._2)).toSeq.flatMap { case ((id, lang), rows) =>
        val nonStop = rows.sortBy(_._3).filterNot(r => stop(r._4))
        // islands: pos − index-within-filtered-run
        nonStop.zipWithIndex.groupBy { case (r, i) => r._3 - i }
          .values.map(run => (lang, run.map(_._1._4).toSeq))
      }
    val wordStats = phrases.flatMap { case (_, ws) => ws.map(w => (w, ws.length)) }
      .groupBy(_._1).view.mapValues(rs => (rs.length, rs.map(_._2).sum)).toMap
    val types = phrases.groupBy { case (lang, ws) => (lang, ws.mkString(" ")) }
      .map { case ((lang, phrase), occ) =>
        val ws = occ.head._2
        val score = ws.map { w =>
          val (freq, deg) = wordStats(w)
          BigDecimal(deg.toDouble / freq)
            .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
        }.sum
        (lang, phrase, ws.length.toLong, occ.size.toLong,
          BigDecimal(score).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    val want = types.groupBy(_._1).toSeq.flatMap { case (_, ts) =>
      ts.toSeq.sortBy(t => (-t._5, t._2)).take(3).zipWithIndex
        .map { case (t, i) => (t._1, (i + 1).toLong, t._2, t._3, t._4, t._5) }
    }.sortBy(t => (t._1, t._2))
    val got = TextOps.q_text_rake(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    assert(got == want)
  }

  test("transition entropy: replayed from counted pairs; bounds hold") {
    val counts = Tables.lineitem(spark, sf0001)
      .select("l_orderkey", "l_linenumber", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).valuesIterator
      .flatMap { rows =>
        val seq = rows.sortBy(r => (r._2, r._3)).map(_._3)
        seq.zip(seq.tail).filter(p => p._1 != p._2)
      }
      .toSeq.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val want = counts.keys.map(_._1).toSet.toSeq.map { (src: Long) =>
      val outs = counts.collect { case ((s, _), c) if s == src => c }.toSeq
      val t = outs.sum
      val h = outs.map { c =>
        val p = c.toDouble / t
        BigDecimal(-p * math.log(p))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)
      }.sum // exact decimal sum, matching the engine's DECIMAL aggregation
      (src, outs.size.toLong, t,
        BigDecimal(h.toDouble).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy(r => (-r._4, -r._2, r._1)).take(20)
    val got = GraphOps.q_graph_transition_entropy(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == want)
    // entropy ≤ ln(fanout), the uniform upper bound
    got.foreach { case (_, f, _, h) => assert(h <= math.log(f.toDouble) + 1e-6) }
  }

  test("ktruss: 3-round peel replayed by brute force") {
    val pp = GraphOps.partPairs(spark, sf0001, GraphOps.TriangleMinCooccur)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    var cur = pp
    val want = (1 to GraphOps.TrussRounds).map { r =>
      val nIn = cur.size.toLong
      val und = cur ++ cur.map(e => (e._2, e._1))
      val nbrs = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      cur = cur.filter { case (a, b) =>
        (nbrs.getOrElse(a, Set.empty).toSet
          intersect nbrs.getOrElse(b, Set.empty).toSet).size >= 2
      }
      (r, nIn, nIn - cur.size, cur.size.toLong)
    }
    val got = GraphOps.q_graph_ktruss(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want)
    // the surviving edge set is (weakly) shrinking and support-valid
    assert(got.map(_._4).sliding(2).forall(p => p.head >= p.last))
  }

  test("bootstrap_ci: md5 resampler and percentile ranks replayed") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val got = StatsOps.q_agg_bootstrap_ci(spark, sf001).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    dailyCents(sf001).foreach { case (et, series) =>
      val ys = series.map(_._2) // day order = index order (sorted by x)
      val n = ys.length
      val means = (0 until StatsOps.BootstrapB).map { b =>
        val sum = (0 until n).map { slot =>
          ys((h60(s"bs:$et:$b:$slot") % n).toInt)
        }.sum
        (sum.toDouble / n, b)
      }.sortBy(identity)
      val lo = means(math.ceil(0.05 * StatsOps.BootstrapB).toInt - 1)._1
      val hi = means(math.ceil(0.95 * StatsOps.BootstrapB).toInt - 1)._1
      def r2(x: Double) = BigDecimal(x)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (nd, mv, cl, ch) = got(et)
      assert(nd == n.toLong)
      assert(mv == r2(ys.sum.toDouble / n / 100))
      assert(cl == r2(lo / 100), s"$et ci_lo $cl vs ${r2(lo / 100)}")
      assert(ch == r2(hi / 100), s"$et ci_hi $ch vs ${r2(hi / 100)}")
      assert(cl <= mv && mv <= ch, s"$et mean outside CI")
    }
  }

  test("winsorized mean: order-stat bounds and clamp replayed") {
    val got = StatsOps.q_agg_winsorized_mean(spark, sf001).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    dailyCents(sf001).foreach { case (et, series) =>
      val ys = series.map(_._2).sorted
      val n = ys.length
      val k = math.max(1, math.ceil(n * 0.05).toInt)
      val (lo, hi) = (ys(k - 1), ys(n - k))
      val ws = ys.map(y => math.max(lo, math.min(hi, y)))
      val clamped = ys.zip(ws).count(p => p._1 != p._2).toLong
      val wm = BigDecimal(ws.sum.toDouble / n / 100)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (nd, gk, nc, gm) = got(et)
      assert(nd == n.toLong && gk == k.toLong && nc == clamped)
      assert(gm == wm, s"$et winsorized mean $gm vs $wm")
    }
  }

  test("dup_histogram: copy-count buckets conserve the corpus") {
    val rows = LlmOps.q_llm_dup_histogram(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val nDocs = Tables.documents(spark, sf001).count()
    assert(rows.map(_._3).sum == nDocs, "doc mass must be conserved")
    rows.foreach { case (copies, contents, docs, share) =>
      assert(docs == copies * contents, "bucket mass = copies x contents")
      assert(math.abs(share - docs.toDouble / nDocs) <= 5e-7)
    }
    assert(math.abs(rows.map(_._4).sum - 1.0) <= 1e-5)
  }

  test("tukey: hinge quartiles and fence outliers replayed") {
    def med2(xs: Seq[Long]): Long = {
      val s = xs.sorted; val n = s.length
      s((n + 1) / 2 - 1) + s((n + 2) / 2 - 1)
    }
    val got = StatsOps.q_agg_tukey(spark, sf001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getLong(7), r.getLong(8)))
      .toMap
    def r2(x: Double) = BigDecimal(x)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    dailyCents(sf001).foreach { case (et, series) =>
      val ys = series.map(_._2).sorted
      val n = ys.length
      val m2 = med2(ys)
      val q12 = med2(ys.take((n + 1) / 2))
      val q32 = med2(ys.drop(n / 2))
      val iqr2 = q32 - q12
      val lowN = ys.count(y => y * 4 < q12 * 2 - iqr2 * 3).toLong
      val highN = ys.count(y => y * 4 > q32 * 2 + iqr2 * 3).toLong
      val (nd, mn, q1, md, q3, mx, lo, hi) = got(et)
      assert(nd == n.toLong)
      assert(mn == r2(ys.min.toDouble / 100) && mx == r2(ys.max.toDouble / 100))
      assert(q1 == r2(q12.toDouble / 200) && md == r2(m2.toDouble / 200) &&
        q3 == r2(q32.toDouble / 200), s"$et quartiles")
      assert(lo == lowN && hi == highN, s"$et fences")
      assert(q1 <= md && md <= q3)
    }
  }

  test("runs_test: run counting and z replayed from the sign sequence") {
    val got = StatsOps.q_time_runs_test(spark, sf001).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(5))).toMap
    dailyCents(sf001).foreach { case (et, series) =>
      val ys = series.map(_._2)
      val sorted = ys.sorted
      val n0 = ys.length
      val med2 = sorted((n0 + 1) / 2 - 1) + sorted((n0 + 2) / 2 - 1)
      val signs = series.filter(p => p._2 * 2 != med2)
        .map(p => p._2 * 2 > med2) // day order preserved from sorted series
      val runs = 1 + signs.zip(signs.tail).count(p => p._1 != p._2)
      val np = signs.count(identity).toLong
      val nn = signs.length - np
      val (gp, gn, gr, gz) = got(et)
      assert(gp == np && gn == nn && gr == runs.toLong, s"$et run counts")
      val nd = (np + nn).toDouble
      val er = 2.0 * np * nn / nd + 1
      val vr = (2.0 * np * nn * (2.0 * np * nn - nd)) / (nd * nd * (nd - 1))
      assert(math.abs(gz - (runs - er) / math.sqrt(vr)) <= 1e-5, s"$et z")
    }
  }

  test("ljungbox: Q statistic replayed from mean-centered autocorrelations") {
    val got = StatsOps.q_time_ljungbox(spark, sf001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    dailyCents(sf001).foreach { case (et, series) =>
      val byX = series.toMap
      val n = series.length.toLong
      val sy = series.map(_._2).sum
      val e = series.map { case (x, y) => x -> (y * n - sy) }.toMap
      val den = e.values.map(v => BigInt(v) * BigInt(v)).sum
      val qs = (1 to StatsOps.LjungBoxLags).map { k =>
        val nk = series.collect {
          case (x, _) if byX.contains(x - k) => BigInt(e(x)) * BigInt(e(x - k))
        }.sum
        val r = nk.toDouble / den.toDouble
        BigDecimal(r * r / (n - k))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)
      }.sum
      val q = BigDecimal(n.toDouble * (n + 2).toDouble * qs.toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (nd, gq, df) = got(et)
      assert(nd == n && df == StatsOps.LjungBoxLags.toLong)
      assert(gq == q, s"$et Q $gq vs $q")
      assert(gq >= 0)
    }
  }

  test("permutation_test: md5 shuffle and integer compare replayed") {
    import org.apache.spark.sql.functions._
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val d = Tables.events(spark, sf001)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100, 0).cast("bigint")).as("y"))
      .select(col("event_type"),
        datediff(col("day"), lit("2024-01-01").cast("date")).as("x"), col("y"),
        (col("day") <= lit("2024-01-15").cast("date")).as("is_ref"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
    val got = StatsOps.q_agg_permutation_test(spark, sf001).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    d.groupBy(_._1).foreach { case (et, rows) =>
      val nr = rows.count(_._4).toLong
      val nc = rows.length - nr
      val sr = rows.filter(_._4).map(_._3).sum
      val sc = rows.filterNot(_._4).map(_._3).sum
      val od = math.abs(sr * nc - sc * nr)
      val ge = (0 until StatsOps.PermB).count { b =>
        val ranked = rows.sortBy(r => (h60(s"pm:$et:$b:${r._2}"), r._2))
        val psr = ranked.take(nr.toInt).map(_._3).sum
        val psc = ranked.drop(nr.toInt).map(_._3).sum
        math.abs(psr * nc - psc * nr) >= od
      }
      val p = BigDecimal((ge + 1).toDouble / (StatsOps.PermB + 1))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (gr, gc, _, gp) = got(et)
      assert(gr == nr && gc == nc)
      assert(gp == p, s"$et p-value $gp vs $p")
    }
  }

  test("calibration: bins self-consistent; ece equals the bin-weighted gap") {
    val rows = TextOps.q_llm_calibration(spark, sf001).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    val n = rows.map(_.getLong(1)).sum
    rows.foreach { r =>
      val (bin, conf, acc, gap) =
        (r.getInt(0), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(bin >= 0 && bin <= 9)
      assert(conf >= 0 && conf <= 1 && acc >= 0 && acc <= 1)
      // confidence decile membership (round-6 display slack at the edge)
      assert(conf >= bin / 10.0 - 1e-6 && (bin == 9 || conf <= (bin + 1) / 10.0 + 1e-6))
      assert(math.abs(gap - math.abs(acc - conf)) <= 2e-6)
    }
    val ece = rows.map(r => r.getDouble(4) * r.getLong(1)).sum / n
    rows.foreach(r => assert(math.abs(r.getDouble(5) - ece) <= 2e-5,
      s"ece ${r.getDouble(5)} vs recomputed $ece"))
  }

  test("burstiness: Fano factor replayed; zero-doc folding correct") {
    import org.apache.spark.sql.functions._
    val perDoc = Tables.documents(spark, sf0001)
      .select(col("lang"), col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val nDocs = perDoc.map(r => (r._1, r._2)).distinct.groupBy(_._1)
      .view.mapValues(_.size.toLong).toMap
    val got = TextOps.q_text_burstiness(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6), r.getDouble(7)))
      .toMap
    got.foreach { case ((lang, tok), (nn, ndw, sc, mean, vmr)) =>
      val counts = perDoc.filter(r => r._1 == lang && r._3 == tok)
        .groupBy(_._2).view.mapValues(_.size.toLong).values.toSeq
      assert(nn == nDocs(lang))
      assert(ndw == counts.length.toLong && sc == counts.sum)
      val n = nn.toDouble
      val s2 = (n * counts.map(c => c * c).sum - sc.toDouble * sc) / (n * (n - 1))
      assert(math.abs(mean - sc.toDouble / n) <= 5e-7)
      assert(math.abs(vmr - s2 / (sc / n)) <= 1e-4, s"$lang/$tok vmr")
      // top tokens are high-frequency function words: near-Poisson or
      // bursty, but the estimator must stay positive
      assert(vmr > 0)
    }
  }

  test("lexical diversity: replayed from token frequencies") {
    import org.apache.spark.sql.functions._
    val tf = Tables.documents(spark, sf0001)
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .collect().map(r => (r.getString(0), r.getString(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = TextOps.q_text_lexical_diversity(spark, sf0001).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    tf.keySet.map(_._1).foreach { lang =>
      val fs = tf.collect { case ((l, _), f) if l == lang => f }.toSeq
      val n = fs.sum; val v = fs.length.toLong
      val sf2 = fs.map(f => f * f).sum
      val hapax = fs.count(_ == 1L).toLong
      val (gn, gv, ttr, hs, yk) = got(lang)
      assert(gn == n && gv == v)
      assert(math.abs(ttr - v.toDouble / n) <= 5e-7)
      assert(math.abs(hs - hapax.toDouble / v) <= 5e-7)
      assert(math.abs(yk - 10000.0 * (sf2 - n) / (n.toDouble * n)) <= 1e-4)
    }
  }

  test("periodogram: amplitude replayed from the scaled-trig sums") {
    val got = StatsOps.q_time_periodogram(spark, sf001).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    dailyCents(sf001).foreach { case (et, series) =>
      StatsOps.PeriodogramPeriods.foreach { t =>
        val terms = series.map { case (x, y) =>
          val theta = 2.0 * math.Pi * x / t
          (y * math.round(math.cos(theta) * 1e9),
            y * math.round(math.sin(theta) * 1e9))
        }
        val cs = terms.map(_._1).sum / 1e9
        val ss = terms.map(_._2).sum / 1e9
        val amp = math.sqrt(cs * cs + ss * ss) * 2.0 / series.length / 100.0
        val (nd, a) = got((et, t))
        assert(nd == series.length.toLong)
        assert(math.abs(a - amp) <= 2e-3, s"$et T=$t amp $a vs $amp")
      }
    }
    // the weekly-seeded fixture should show 7-day amplitude ≥ 14-day for
    // at least some types is NOT guaranteed — only pin positivity
    got.values.foreach { case (_, a) => assert(a >= 0) }
  }

  test("chi2: replayed from the raw contingency table") {
    import org.apache.spark.sql.functions._
    val cells = Tables.events(spark, sf001)
      .select(col("event_type"),
        least(lit(9), floor(col("value") / 50)).cast("int").as("b"))
      .groupBy("event_type", "b").agg(count(lit(1)).as("o"))
      .collect().map(r => ((r.getString(0), r.getInt(1)), r.getLong(2))).toMap
    val types = cells.keySet.map(_._1).toSeq.sorted
    val buckets = (0 until 10).filter(b => types.exists(t => cells.getOrElse((t, b), 0L) > 0))
    val n = cells.values.sum.toDouble
    val rT = types.map(t => t -> (0 until 10).map(b => cells.getOrElse((t, b), 0L)).sum).toMap
    val cT = buckets.map(b => b -> types.map(t => cells.getOrElse((t, b), 0L)).sum).toMap
    val chi2 = (for (t <- types; b <- buckets) yield {
      val o = cells.getOrElse((t, b), 0L).toDouble
      val e = rT(t).toDouble * cT(b).toDouble / n
      BigDecimal((o - e) * (o - e) / e)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    }).sum
    val r = StatsOps.q_agg_chi2(spark, sf001).collect().head
    assert(r.getLong(0) == n.toLong)
    assert(r.getLong(1) == (types.size - 1).toLong * (buckets.size - 1))
    assert(math.abs(r.getDouble(2) - chi2) <= 1e-5, s"chi2 ${r.getDouble(2)} vs $chi2")
    assert(r.getDouble(3) >= 0 && r.getDouble(3) <= 1.0) // Cramér's V in [0,1]
  }

  test("benford: digit shares sum to 1; z replayed for one digit") {
    val rows = StatsOps.q_agg_benford(spark, sf001).collect()
    assert(rows.length == 9)
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) <= 5e-6)
    val n = rows.map(_.getLong(1)).sum.toDouble
    rows.foreach { r =>
      val p = math.log10(1.0 + 1.0 / r.getInt(0))
      val z = (r.getLong(1) - n * p) / math.sqrt(n * p * (1 - p))
      assert(math.abs(r.getDouble(4) - z) <= 1e-5, s"digit ${r.getInt(0)} z")
      assert(math.abs(r.getDouble(3) - p) <= 1e-6)
    }
  }

  test("lang_confusion: cells equal the grouped langid predictions") {
    val pred = TextOps.q_text_langid(spark, sf0001).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val want = pred.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val rows = TextOps.q_text_lang_confusion(spark, sf0001).collect()
    val got = rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == want)
    // per-true-lang shares sum to 1
    rows.groupBy(_.getString(0)).foreach { case (lang, rs) =>
      assert(math.abs(rs.map(_.getDouble(3)).sum - 1.0) <= 5e-6, lang)
    }
  }

  test("asof_nearest: replayed nearest-click within ±30min per purchase") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf0001)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val clicks = ev.filter(_._3 == "click")
    val want = ev.filter(_._3 == "purchase").map { p =>
      val cand = clicks.filter(c => c._2 == p._2 && math.abs(c._4 - p._4) <= 30L * 60 * 1000000)
      val best = cand.sortBy(c => (math.abs(c._4 - p._4), c._4, c._1)).headOption
      p._1 -> best.map(c => (c._1, math.abs(c._4 - p._4)))
    }.toMap
    val got = Relational.q_join_asof_nearest(spark, sf0001).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some((r.getLong(3), r.getLong(4))))).toMap
    assert(got == want)
  }

  test("ndcg: bounded in (0,1]; idcg is the ideal prefix; n_rel sane") {
    val rows = RankOps.q_text_ndcg(spark, sf001).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val (nRel, dcg, idcg, ndcg) = (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))
      assert(nRel > 0)
      assert(dcg >= 0 && idcg > 0 && dcg <= idcg + 1e-9)
      assert(ndcg >= 0 && ndcg <= 1.0)
      // idcg for n_rel ≥ 10 equals the full 10-position ideal sum
      if (nRel >= 10) {
        val want = (1 to 10).map(i =>
          BigDecimal(3.0 / (math.log(i + 1) / math.log(2)))
            .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble).sum
        assert(math.abs(idcg - want) <= 1e-6)
      }
    }
  }
}

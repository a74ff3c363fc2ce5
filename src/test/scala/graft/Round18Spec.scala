package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{ClusterOps, CurationOps, Keyed, StatsOps, Tables, TextOps}

/** Plain-Scala replays of the round-18 operators at sf0.001 — the
  * independent-mirror discipline of Round13..17Spec: every number the
  * query emits is recomputed driver-side (same pinned IEEE op order,
  * StrictMath.log where the query uses Spark's `log`) and compared
  * exactly. */
class Round18Spec extends AnyFunSuite {
  import TestSpark._

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def r9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("q_agg_jarque_bera shares q_agg_skew_kurt's moments and combines " +
    "the round-6 pins") {
    val sk = StatsOps.q_agg_skew_kurt(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3), r.getDouble(4)))
      .toMap
    val jb = StatsOps.q_agg_jarque_bera(spark, sf0001).collect()
    assert(jb.map(_.getString(0)).toSet == sk.keySet, "same group set")
    jb.foreach { r =>
      val (n, rawS, rawK) = sk(r.getString(0))
      assert(r.getLong(1) == n, "n_rows")
      val s6 = r6(rawS); val k6 = r6(rawK)
      assert(r.getDouble(2) == s6, "skewness is the round-6 pin of skew_kurt's")
      assert(r.getDouble(3) == k6, "kurtosis pin")
      val want = r6(n.toDouble / 6.0 * (s6 * s6 + k6 * k6 / 4.0))
      assert(r.getDouble(4) == want, "jb_stat from the rounded values")
      assert(r.getBoolean(5) == (r.getDouble(4) > 5.991465), "decision")
      assert(r.getDouble(4) >= 0.0, "JB is a sum of squares")
    }
  }

  test("q_agg_bartlett equals a driver-side replay over the levene groups") {
    val rows = Tables.customer(spark, sf0001)
      .selectExpr("c_mktsegment", "CAST(ROUND(c_acctbal*100, 0) AS BIGINT)")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val grp = rows.groupBy(_._1).map { case (_, vs) =>
      val n = vs.length.toLong
      val sg = vs.map(v => BigInt(v._2)).sum
      val qg = vs.map(v => BigInt(v._2) * BigInt(v._2)).sum
      (n, sg.toDouble, qg.toDouble)
    }.toSeq
    val k = grp.size
    val nTot = grp.map(_._1).sum
    def s2i(ng: Double, sg: Double, qg: Double) =
      (ng * qg - sg * sg) / (ng * (ng - 1.0))
    val sw = grp.map { case (ng, sg, qg) =>
      BigDecimal((ng - 1.0) * s2i(ng.toDouble, sg, qg))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP) }.sum.toDouble
    val sl = grp.map { case (ng, sg, qg) =>
      BigDecimal((ng - 1.0) * StrictMath.log(s2i(ng.toDouble, sg, qg)))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP) }.sum.toDouble
    val si = grp.map { case (ng, _, _) =>
      BigDecimal(1.0 / (ng - 1.0))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP) }.sum.toDouble
    val pooled = sw / (nTot.toDouble - k.toDouble)
    val cFac = r9(1.0 + (si - 1.0 / (nTot.toDouble - k.toDouble))
      / (3.0 * (k.toDouble - 1.0)))
    val tStat = r6(((nTot.toDouble - k.toDouble) * r9(StrictMath.log(pooled))
      - sl) / cFac)
    val got = StatsOps.q_agg_bartlett(spark, sf0001).collect().head
    assert(got.getLong(0) == k.toLong, "k")
    assert(got.getLong(1) == nTot, "n")
    assert(got.getDouble(2) == r6(pooled), "pooled_var")
    assert(got.getDouble(3) == cFac, "c_factor")
    assert(got.getDouble(4) == tStat, "t_stat")
    assert(got.getDouble(4) >= 0.0, "Bartlett statistic is non-negative")
  }

  test("q_agg_cohens_d equals a driver-side replay of the ttest split") {
    val refCut = java.time.LocalDate.parse("2024-01-15")
    val evs = Tables.events(spark, sf0001)
      .selectExpr("event_type", "CAST(ROUND(value*100, 0) AS BIGINT)",
        "CAST(ts AS DATE)")
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        !r.getDate(2).toLocalDate.isAfter(refCut)))
    val want = evs.groupBy(_._1).flatMap { case (et, vs) =>
      val (ref, cur) = vs.partition(_._3)
      val n1 = ref.length.toDouble; val n2 = cur.length.toDouble
      if (n1 <= 1 || n2 <= 1) None
      else {
        val s1 = ref.map(v => BigInt(v._2)).sum.toDouble
        val q1 = ref.map(v => BigInt(v._2) * BigInt(v._2)).sum.toDouble
        val s2 = cur.map(v => BigInt(v._2)).sum.toDouble
        val q2 = cur.map(v => BigInt(v._2) * BigInt(v._2)).sum.toDouble
        val v1 = (n1 * q1 - s1 * s1) / (n1 * (n1 - 1))
        val v2 = (n2 * q2 - s2 * s2) / (n2 * (n2 - 1))
        val sp2 = ((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)
        val d = (s1 / n1 - s2 / n2) / math.sqrt(sp2)
        val j = 1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0)
        Some(et -> (ref.length.toLong, cur.length.toLong, r6(d), r6(j * d)))
      }
    }
    val got = StatsOps.q_agg_cohens_d(spark, sf0001).collect()
    assert(got.length == want.size, "group count")
    got.foreach { r =>
      val (n1, n2, d, g) = want(r.getString(0))
      assert(r.getLong(1) == n1 && r.getLong(2) == n2, "split sizes")
      assert(r.getDouble(3) == d, "cohens_d")
      assert(r.getDouble(4) == g, "hedges_g")
      // |J| < 1 ⇒ the corrected size never exceeds the raw one
      assert(math.abs(r.getDouble(4)) <= math.abs(r.getDouble(3)) + 1e-6)
    }
  }

  test("q_text_llr equals a driver-side G² replay over the PMI chain") {
    val docs = Tables.documents(spark, sf0001)
      .selectExpr("doc_id", "lang",
        "filter(array_distinct(split(text, ' ')), t -> t <> '')")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2).toSet))
      .filter(_._3.nonEmpty)
    val byLang = docs.groupBy(_._2)
    val want = byLang.flatMap { case (lang, ds) =>
      val n = ds.length.toLong
      val df = ds.flatMap(_._3).groupBy(identity).view
        .mapValues(_.length.toLong).toMap
      val pairCnt = scala.collection.mutable.Map.empty[(String, String), Long]
      ds.foreach { d =>
        val ts = d._3.toSeq.sorted
        for (i <- ts.indices; j <- (i + 1) until ts.size)
          pairCnt((ts(i), ts(j))) = pairCnt.getOrElse((ts(i), ts(j)), 0L) + 1L
      }
      def cell(k: Long, r: Long, c: Long): Double =
        if (k > 0) k.toDouble *
          StrictMath.log((k * n).toDouble / (r * c).toDouble)
        else 0.0
      pairCnt.toSeq.filter(_._2 >= 5L).map { case ((a, b), cab) =>
        val ca = df(a); val cb = df(b)
        val g2 = r6(2.0 * (cell(cab, ca, cb) +
          cell(ca - cab, ca, n - cb) + cell(cb - cab, n - ca, cb) +
          cell(n - ca - cb + cab, n - ca, n - cb)))
        (lang, a, b, cab, g2)
      }.sortBy { case (_, a, b, _, g2) => (-g2, a, b) }.take(10)
        .zipWithIndex.map { case (t, i) => ((lang, i + 1L), t) }
    }
    val got = TextOps.q_text_llr(spark, sf0001).collect()
    assert(got.length == want.size, "row count")
    got.foreach { r =>
      val (lang, wa, wb, cab, g2) = want((r.getString(0), r.getLong(1)))
      assert(r.getString(2) == wa && r.getString(3) == wb, s"pair @$lang")
      assert(r.getLong(4) == cab, "n_pair_docs")
      assert(r.getDouble(5) == g2, "g2")
      // G² of a consistent 2×2 table is non-negative (Gibbs)
      assert(r.getDouble(5) >= -1e-9)
    }
  }

  test("q_text_bleu2 shares rouge2's pairs and equals a driver replay") {
    val rouge = CurationOps.q_text_rouge2(spark, sf0001).collect()
      .map(r => r.getLong(1) -> r.getLong(3)).toMap // doc_a -> n_overlap
    val docs = Tables.documents(spark, sf0001)
      .selectExpr("doc_id", "lang", "split(text, ' ')").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2)))
      .filter(_._3.length >= 2)
    def counts(ts: Seq[String]): Map[String, Long] =
      ts.groupBy(identity).view.mapValues(_.length.toLong).toMap
    def clipped(a: Map[String, Long], b: Map[String, Long]): Long =
      a.map { case (k, v) => math.min(v, b.getOrElse(k, 0L)) }.sum
    val want = docs.groupBy(_._2).flatMap { case (_, ds) =>
      ds.sortBy(_._1).toSeq.sliding(2).collect { case Seq(a, b) =>
        val ua = a._3.length.toLong; val ub = b._3.length.toLong
        val m1 = clipped(counts(a._3), counts(b._3))
        val m2 = clipped(counts(a._3.sliding(2).map(_.mkString(" ")).toSeq),
          counts(b._3.sliding(2).map(_.mkString(" ")).toSeq))
        val bp = if (ua > ub) 1.0
          else StrictMath.exp(1.0 - ub.toDouble / ua.toDouble)
        val bleu = r6(bp * math.sqrt((m1.toDouble / ua) *
          (m2.toDouble / (ua - 1))))
        a._1 -> (b._1, ua, ub, m1, m2, r6(bp), bleu)
      }
    }
    val got = CurationOps.q_text_bleu2(spark, sf0001).collect()
    assert(got.length == want.size, "pair count")
    got.foreach { r =>
      val (db, ua, ub, m1, m2, bp, bleu) = want(r.getLong(1))
      assert(r.getLong(2) == db, "doc_b")
      assert(r.getLong(3) == ua && r.getLong(4) == ub, "lengths")
      assert(r.getLong(5) == m1, "n_match1")
      assert(r.getLong(6) == m2, "n_match2")
      assert(r.getDouble(7) == bp, "brevity_penalty")
      assert(r.getDouble(8) == bleu, "bleu2")
      // the bigram intersection IS rouge2's n_overlap on the same pair
      assert(r.getLong(6) == rouge(r.getLong(1)), "shared-fixture pin")
    }
  }

  test("q_embed_isotropy's closed form equals the brute-force pairwise " +
    "mean cosine of the round-9 unit vectors") {
    val vecs = Tables.embeddings(spark, sf0001)
      .selectExpr("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
      .map { v =>
        // same fixed-order fold as graft_vec_dot
        var nrm2 = 0.0
        v.foreach(x => nrm2 += x.toDouble * x.toDouble)
        (v, math.sqrt(nrm2))
      }
      .filter(_._2 > 0)
      .map { case (v, nrm) => v.map(x => r9(x.toDouble / nrm)) }
    val n = vecs.length
    var brute = BigDecimal(0)
    for (i <- vecs.indices; j <- vecs.indices if i != j) {
      var d = 0.0
      var k = 0
      while (k < vecs(i).length) { d += vecs(i)(k) * vecs(j)(k); k += 1 }
      brute += BigDecimal(d)
    }
    val row = ClusterOps.q_embed_isotropy(spark, sf0001).collect().head
    assert(row.getLong(0) == n.toLong, "n_vecs")
    val gotAvg = row.getDouble(3)
    val bruteAvg = (brute / (n.toLong * (n.toLong - 1L))).toDouble
    // closed form vs brute force agree to well inside the round-9
    // component pins (the identity is exact; only rounding separates them)
    assert(math.abs(gotAvg - bruteAvg) < 1e-6,
      s"closed form $gotAvg vs brute $bruteAvg")
    assert(row.getDouble(4) >= 0.0 && row.getDouble(4) <= 1.0 + 1e-9,
      "mean unit-vector norm in [0, 1]")
  }

  test("q_embed_twonn equals a driver-side exact-NN replay") {
    val all = Tables.embeddings(spark, sf0001)
      .selectExpr("vec_id", "embedding").collect()
    // r13 fixed-count sample: step = ceil(n / TwoNnSampleTarget)
    val step = math.max(1L,
      (all.length + ClusterOps.TwoNnSampleTarget - 1) / ClusterOps.TwoNnSampleTarget)
    val pts = all
      .filter(_.getLong(0) % step == 0)
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var k = 0
      while (k < a.length) { s += a(k).toDouble * b(k).toDouble; k += 1 }
      s
    }
    var slr = BigDecimal(0)
    var nPts = 0L
    pts.foreach { case (ia, ea) =>
      val ds = pts.filter(_._1 != ia).map { case (ib, eb) =>
        (dot(ea, ea) + dot(eb, eb) - 2.0 * dot(ea, eb), ib)
      }.filter(_._1 > 0).sorted
      if (ds.length >= 2) {
        nPts += 1
        slr += BigDecimal(StrictMath.log(ds(1)._1 / ds(0)._1))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)
      }
    }
    val row = ClusterOps.q_embed_twonn(spark, sf0001).collect().head
    assert(row.getLong(0) == nPts, "n_points")
    assert(row.getDouble(1) == r6(slr.toDouble), "sum_log_ratio")
    assert(row.getDouble(2) ==
      r6(2.0 * nPts.toDouble / slr.toDouble), "id_twonn")
    // the 64-dim synthetic embeddings must report ID ≤ ambient dim
    assert(row.getDouble(2) > 0.0 && row.getDouble(2) <= 64.0 + 1e-6)
  }

  private def dailyCents(): Map[(String, java.time.LocalDate), Long] =
    Tables.events(spark, sf0001)
      .selectExpr("event_type", "CAST(ts AS DATE) AS day",
        "CAST(ROUND(value*100, 0) AS BIGINT) AS c")
      .collect()
      .groupBy(r => (r.getString(0), r.getDate(1).toLocalDate))
      .view.mapValues(_.map(_.getLong(2)).sum).toMap

  test("q_time_adf equals a driver-side OLS replay of the DF regression") {
    val daily = dailyCents()
    val want = daily.keys.map(_._1).toSeq.distinct.sorted.map { et =>
      val series = daily.collect { case ((t, d), y) if t == et => (d, y) }
        .toSeq.sortBy(_._1)
      val obs = series.sliding(2).collect { case Seq((_, yp), (_, y)) =>
        (yp, y - yp) }.toSeq
      val n = obs.length.toDouble
      def bsum(f: ((Long, Long)) => BigInt) = obs.map(f).sum.toDouble
      val sx = bsum(o => BigInt(o._1)); val sy = bsum(o => BigInt(o._2))
      val sxx = bsum(o => BigInt(o._1) * BigInt(o._1))
      val sxy = bsum(o => BigInt(o._1) * BigInt(o._2))
      val syy = bsum(o => BigInt(o._2) * BigInt(o._2))
      val b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      val t = b / math.sqrt((syy - sy * sy / n - b * (sxy - sx * sy / n))
        / (n - 2) / (sxx - sx * sx / n))
      (et, obs.length.toLong, r6(b), r6(t))
    }
    val got = StatsOps.q_time_adf(spark, sf0001).collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (r, (et, n, b, t)) =>
      assert(r.getString(0) == et && r.getLong(1) == n, "group/n")
      assert(r.getDouble(2) == b, "slope")
      assert(r.getDouble(3) == t, "adf_t")
      assert(r.getBoolean(4) == (r.getDouble(3) < -2.86), "decision")
    }
  }

  test("q_time_granger equals a driver-side two-predictor OLS replay") {
    val daily = dailyCents()
    val types = daily.keys.map(_._1).toSeq.distinct.sorted
    val wantF = (for {
      ta <- types; tb <- types if ta != tb
    } yield {
      val obs = daily.collect {
        case ((t, d), y) if t == tb &&
          daily.contains((tb, d.minusDays(1))) &&
          daily.contains((ta, d.minusDays(1))) =>
          (y, daily((tb, d.minusDays(1))), daily((ta, d.minusDays(1))))
      }.toSeq
      val n = obs.length.toDouble
      def bs(f: ((Long, Long, Long)) => BigInt) = obs.map(f).sum.toDouble
      val sy = bs(o => BigInt(o._1)); val sy1 = bs(o => BigInt(o._2))
      val sx1 = bs(o => BigInt(o._3))
      val syy = bs(o => BigInt(o._1) * BigInt(o._1))
      val sy1y1 = bs(o => BigInt(o._2) * BigInt(o._2))
      val sx1x1 = bs(o => BigInt(o._3) * BigInt(o._3))
      val syy1 = bs(o => BigInt(o._1) * BigInt(o._2))
      val syx1 = bs(o => BigInt(o._1) * BigInt(o._3))
      val sy1x1 = bs(o => BigInt(o._2) * BigInt(o._3))
      val s11 = sy1y1 - sy1 * sy1 / n; val s22 = sx1x1 - sx1 * sx1 / n
      val s12 = sy1x1 - sy1 * sx1 / n
      val t1 = syy1 - sy * sy1 / n; val t2 = syx1 - sy * sx1 / n
      val syyC = syy - sy * sy / n
      val det = s11 * s22 - s12 * s12
      val bb = (t1 * s22 - t2 * s12) / det
      val cc = (t2 * s11 - t1 * s12) / det
      val f = ((syyC - t1 * t1 / s11) - (syyC - bb * t1 - cc * t2)) *
        (n - 3) / (syyC - bb * t1 - cc * t2)
      (ta, tb) -> (obs.length.toLong, r6(f))
    }).toMap
    val got = StatsOps.q_time_granger(spark, sf0001).collect()
    assert(got.length == wantF.size, "pair grid")
    got.foreach { r =>
      val (n, f) = wantF((r.getString(0), r.getString(1)))
      assert(r.getLong(2) == n, "n_obs")
      assert(r.getDouble(3) == f, "f_stat")
      // RSS_r ≥ RSS_u up to rounding ⇒ F non-negative
      assert(r.getDouble(3) >= -1e-6, "F sign")
      assert(!r.getBoolean(4), "no degenerate pairs on the fixture")
      assert(r.getBoolean(5) == (r.getDouble(3) > 3.84), "decision")
    }
  }

  test("streaming RFM carries order-blind state across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.engine.Relational
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    // customer 1 splits across batches (and batch 2 carries an EARLIER
    // day than batch 1 — the max fold must keep day 200); customer 2
    // arrives only in batch 2
    val b1 = Seq(Relational.RfmOrd(1L, 200, 1000L),
      Relational.RfmOrd(1L, 100, 500L))
    val b2 = Seq(Relational.RfmOrd(1L, 150, 2000L),
      Relational.RfmOrd(2L, 300, 700L))
    val ms = MemoryStream[Relational.RfmOrd]
    val q = Keyed.run(ms.toDS(), Relational.rfmFold)
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("rfmst").start()
    ms.addData(b1: _*); q.processAllAvailable()
    ms.addData(b2: _*); q.processAllAvailable(); q.stop()
    // LAST snapshot per customer = full-history fold
    val last = s.table("rfmst").collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getLong(2), r.getLong(3))))
      .groupBy(_._1).view.mapValues(_.last._2).toMap
    assert(last(1L) == ((200, 3L, 3500L)), s"customer 1 carry, got $last")
    assert(last(2L) == ((300, 1L, 700L)), "customer 2 fresh state")
  }

  test("streaming RFM over the fixture equals the batch quintile grid") {
    import graft.engine.Relational
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        ((r.getLong(3), r.getDouble(4)))
    val stream = Relational.q_stream_rfm(spark, sf0001).collect().map(key).toMap
    val batch = Relational.q_agg_rfm(spark, sf0001).collect().map(key).toMap
    assert(stream == batch, "batch ≡ stream through the shared assembly")
  }

  private def copurchaseEdges(): Array[(Long, Long)] =
    Tables.orders(spark, sf0001)
      .join(Tables.lineitem(spark, sf0001),
        org.apache.spark.sql.functions.col("o_orderkey") ===
          org.apache.spark.sql.functions.col("l_orderkey"))
      .select("o_custkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))

  test("q_graph_resource_alloc equals a driver replay on the AA pair chain") {
    import graft.engine.GraphOps
    val edges = copurchaseEdges()
    val byCust = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val acc = scala.collection.mutable.Map.empty[(Long, Long), BigInt]
    byCust.values.foreach { parts =>
      val deg = parts.length
      if (deg >= 2) {
        val w9 = BigInt(math.round(1.0 / deg.toDouble * 1e9))
        val ps = parts.sorted
        for (i <- ps.indices; j <- (i + 1) until ps.length)
          acc((ps(i), ps(j))) = acc.getOrElse((ps(i), ps(j)), BigInt(0)) + w9
      }
    }
    val want = acc.toSeq.map { case ((a, b), s9) =>
      (a, b, math.rint(s9.toDouble / 1000) / 1e6)
    }.sortBy { case (a, b, ra) => (-ra, a, b) }.take(20)
    val got = GraphOps.q_graph_resource_alloc(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == want, s"RA top-20 replay\n got=$got\nwant=$want")
    // RA candidates are AA candidates: same pair chain, both weights
    // strictly positive for deg >= 2
    val aa = GraphOps.q_graph_adamic_adar(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(aa.nonEmpty && got.forall(_._3 > 0.0))
  }

  test("q_graph_pref_attach equals an exact-integer driver replay") {
    import graft.engine.GraphOps
    val edges = copurchaseEdges()
    val deg = edges.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val pairCnt = scala.collection.mutable.Map.empty[(Long, Long), Long]
    edges.groupBy(_._1).values.foreach { es =>
      val ps = es.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length)
        pairCnt((ps(i), ps(j))) = pairCnt.getOrElse((ps(i), ps(j)), 0L) + 1L
    }
    val want = pairCnt.toSeq.map { case ((a, b), c) =>
      (a, b, c, deg(a) * deg(b))
    }.sortBy { case (a, b, _, pa) => (-pa, a, b) }.take(20)
    val got = GraphOps.q_graph_pref_attach(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want, s"PA top-20 replay\n got=$got\nwant=$want")
  }

  test("q_time_burst flags a hand-built bursty series and equals a " +
    "driver DP replay on the fixture") {
    // synthetic series: rate 100/day for 10 days, 300/day for 5, back
    // to 100 — the elevated stretch must be flagged contiguously
    val lam0 = (10 * 100 + 5 * 300) / 15.0
    val l09 = math.round(StrictMath.log(lam0) * 1e9)
    val l19 = math.round(StrictMath.log(StatsOps.BurstS * lam0) * 1e9)
    val lam09 = math.round(lam0 * 1e9)
    val lam19 = math.round(StatsOps.BurstS * lam0 * 1e9)
    val gam9 = math.round(StrictMath.log(15.0) * 1e9)
    val mk = (x: Long, n: Long) => StatsOps.BurstIn("synth", x,
      lam09 - n * l09, lam19 - n * l19, gam9)
    val days = ((0L until 10L).map(mk(_, 100L)) ++
      (10L until 15L).map(mk(_, 300L))).toArray
    val snap = StatsOps.burstFold("synth", days)
    assert(snap.n_burst_days > 0L, "elevated stretch flagged")
    assert(snap.first_burst_x.exists(_ >= 10L), "burst starts in the stretch")
    assert(snap.last_burst_x.contains(14L), "stays flagged to the end")
    assert(snap.burst_margin9 > 0L, "positive margin iff flagged")

    // fixture replay: recompute the DP driver-side from the daily counts
    val daily = Tables.events(spark, sf0001)
      .selectExpr("event_type", "CAST(ts AS DATE) AS day").collect()
      .groupBy(r => (r.getString(0), r.getDate(1).toLocalDate))
      .view.mapValues(_.length.toLong).toMap
    val anchor = java.time.LocalDate.parse("2024-01-01")
    val want = daily.keys.map(_._1).toSeq.distinct.sorted.map { et =>
      val ds = daily.collect { case ((t, d), n) if t == et =>
        (java.time.temporal.ChronoUnit.DAYS.between(anchor, d), n) }.toSeq
      val td = ds.length.toLong
      val nn = ds.map(_._2).sum
      val rate = nn.toDouble / td.toDouble
      val in = ds.map { case (x, n) =>
        StatsOps.BurstIn(et, x,
          math.round(rate * 1e9) - n * math.round(StrictMath.log(rate) * 1e9),
          math.round(StatsOps.BurstS * rate * 1e9) -
            n * math.round(StrictMath.log(StatsOps.BurstS * rate) * 1e9),
          math.round(StrictMath.log(td.toDouble) * 1e9))
      }.toArray
      StatsOps.burstFold(et, in)
    }
    val got = StatsOps.q_time_burst(spark, sf0001).collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (r, w) =>
      assert(r.getString(0) == w.event_type)
      assert(r.getLong(1) == w.n_days && r.getLong(2) == w.n_burst_days)
      assert((if (r.isNullAt(3)) None else Some(r.getLong(3))) == w.first_burst_x)
      assert((if (r.isNullAt(4)) None else Some(r.getLong(4))) == w.last_burst_x)
      assert(r.getLong(5) == w.burst_margin9, "margin")
      assert(r.getLong(6) == w.final_cost9, "final cost")
      // flag/margin coherence
      assert((r.getLong(2) > 0L) == (r.getLong(5) > 0L))
    }
  }

  test("q_time_pettitt equals the brute-force sgn double sum (the " +
    "midrank identity proved on the fixture)") {
    val daily = dailyCents()
    val want = daily.keys.map(_._1).toSeq.distinct.sorted.map { et =>
      val anchor = java.time.LocalDate.parse("2024-01-01")
      val ys = daily.collect { case ((t, d), y) if t == et =>
        (java.time.temporal.ChronoUnit.DAYS.between(anchor, d), y) }
        .toSeq.sortBy(_._1)
      val n = ys.length
      // U_t from the DEFINITION: sum of sgn(y_i - y_j) over i<=t<j
      val us = (1 until n).map { t =>
        var u = 0L
        for (i <- 0 until t; j <- t until n)
          u += java.lang.Long.signum(ys(i)._2 - ys(j)._2)
        (ys(t - 1)._1, u)
      }
      val k = us.map(u => math.abs(u._2)).max
      val tau = us.filter(u => math.abs(u._2) == k).map(_._1).min
      val nD = n.toDouble
      val p = r6(2.0 * StrictMath.exp(-6.0 * k.toDouble * k.toDouble /
        (nD * nD * nD + nD * nD)))
      (et, n.toLong, k, tau, p)
    }
    val got = StatsOps.q_time_pettitt(spark, sf0001).collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (r, (et, n, k, tau, p)) =>
      assert(r.getString(0) == et && r.getLong(1) == n)
      assert(r.getLong(2) == k, s"$et K statistic (midrank ≡ sgn sum)")
      assert(r.getLong(3) == tau, s"$et change day")
      assert(r.getDouble(4) == p, s"$et p approx")
    }
  }

  test("q_llm_cluster_purity is consistent with the shared Lloyd assignment") {
    import graft.engine.ClusterOps
    val assign = ClusterOps.kmeansAssign(spark, sf0001)
      .selectExpr("vec_id", "cl").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val labels = Tables.embeddings(spark, sf0001)
      .selectExpr("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val byCl = assign.toSeq.groupBy(_._2)
    val got = ClusterOps.q_llm_cluster_purity(spark, sf0001).collect()
    assert(got.map(_.getLong(0)).toSet == byCl.keySet, "cluster spine")
    got.foreach { r =>
      val members = byCl(r.getLong(0)).map(v => labels(v._1))
      assert(r.getLong(1) == members.size.toLong, "n_members")
      val best = members.groupBy(identity).view.mapValues(_.size).toSeq
        .sortBy { case (l, c) => (-c, l) }.head
      assert(r.getInt(2) == best._1, "majority label (tie -> smaller)")
      assert(r.getLong(3) == best._2.toLong, "majority mass")
      assert(r.getDouble(4) ==
        r6(best._2.toDouble / members.size.toDouble), "purity")
      assert(r.getDouble(4) > 0.0 && r.getDouble(4) <= 1.0)
    }
    // kmeans and purity read the same MV: member counts must agree
    val km = ClusterOps.q_llm_kmeans(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach(r => assert(km(r.getLong(0)) == r.getLong(1),
      "same clustering as q_llm_kmeans"))
  }

  test("streaming isotropy carries exact shard state across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.engine.ClusterOps
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val dims = ClusterOps.EmbDims
    def vec(seed: Long): Seq[Long] = Seq.tabulate(dims)(i => seed + i.toLong)
    // shard 0 splits across two batches; shard 1 arrives late
    val b1 = Seq(ClusterOps.IsoIn(0L, vec(100), 7L))
    val b2 = Seq(ClusterOps.IsoIn(0L, vec(1000), 11L),
      ClusterOps.IsoIn(1L, vec(5), 3L))
    val ms = MemoryStream[ClusterOps.IsoIn]
    val q = Keyed.run(ms.toDS(), ClusterOps.isoFold)
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("isost").start()
    ms.addData(b1: _*); q.processAllAvailable()
    ms.addData(b2: _*); q.processAllAvailable(); q.stop()
    val last = s.table("isost").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getSeq[Long](2), r.getLong(3))))
      .groupBy(_._1).view.mapValues(_.last._2).toMap
    val (n0, s0, qs0) = last(0L)
    assert(n0 == 2L && qs0 == 18L, "shard-0 count/self-mass carry")
    assert(s0 == vec(100).zip(vec(1000)).map { case (a, b) => a + b },
      "element-wise component-sum carry")
    assert(last(1L) == ((1L, vec(5), 3L)), "shard-1 fresh state")
  }

  test("streaming isotropy over the fixture is bit-identical to the batch") {
    import graft.engine.ClusterOps
    val b = ClusterOps.q_embed_isotropy(spark, sf0001).collect().head
    val st = ClusterOps.q_stream_isotropy(spark, sf0001).collect().head
    assert(b.getLong(0) == st.getLong(0), "n_vecs")
    (1 to 4).foreach(i =>
      assert(b.getDouble(i) == st.getDouble(i), s"col $i bit-identical"))
  }

  test("q_agg_tost is coherent with q_agg_ttest on the same split") {
    val tost = StatsOps.q_agg_tost(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
        r.getBoolean(7)))).toMap
    val tt = StatsOps.q_agg_ttest(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(tost.keySet == tt.keySet, "same group spine as the t-test")
    tost.foreach { case (et, (n1, n2, diff, delta, tl, tu, eq)) =>
      assert((n1, n2) == tt(et), s"$et same split sizes")
      assert(delta > 0.0, s"$et positive margin")
      // the one-sided pair brackets the difference: t_lower ≥ t_upper
      // always (they differ by 2δ/se > 0)
      assert(tl > tu, s"$et bracket order")
      assert(eq == (tl > 1.645 && tu < -1.645), s"$et decision")
      // |diff| far inside the margin forces equivalence when se is
      // small relative to δ — coherence, not a fixed outcome
      if (eq) assert(math.abs(diff) < delta, s"$et equivalent ⇒ inside margin")
    }
  }

  test("q_time_spectral_entropy equals a driver trig replay and is " +
    "normalized into [0, 1]") {
    val daily = dailyCents()
    val anchor = java.time.LocalDate.parse("2024-01-01")
    val want = daily.keys.map(_._1).toSeq.distinct.sorted.map { et =>
      val ds = daily.collect { case ((t, d), y) if t == et =>
        (java.time.temporal.ChronoUnit.DAYS.between(anchor, d), y) }.toSeq
      val pw = StatsOps.SpectralPeriods.map { per =>
        val trig = StatsOps.SpectralTrig.filter(_._1 == per)
          .map(x => x._2 -> (x._3, x._4)).toMap
        var cs = BigInt(0); var ss = BigInt(0)
        ds.foreach { case (x, y) =>
          val m = (((x % per) + per) % per).toInt
          cs += BigInt(y) * trig(m)._1; ss += BigInt(y) * trig(m)._2
        }
        val csd = cs.toDouble / 1e9; val ssd = ss.toDouble / 1e9
        per -> BigDecimal(csd * csd + ssd * ssd)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)
      }
      val ptot = pw.map(_._2).sum.toDouble
      val k = pw.length
      val h = pw.map { case (_, p9) =>
        val p = p9.toDouble / ptot
        BigDecimal(if (p > 0) -p * StrictMath.log(p) else 0.0)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)
      }.sum.toDouble
      val dom = pw.sortBy { case (per, p9) => (-p9, per) }.head._1
      (et, k.toLong, dom, r6(h), r6(h / StrictMath.log(k.toDouble)))
    }
    val got = StatsOps.q_time_spectral_entropy(spark, sf0001).collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (r, (et, k, dom, h, hn)) =>
      assert(r.getString(0) == et && r.getLong(1) == k)
      assert(r.getInt(2) == dom, s"$et dominant band")
      assert(r.getDouble(3) == h, s"$et entropy")
      assert(r.getDouble(4) == hn, s"$et normalized entropy")
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0 + 1e-9)
    }
  }

  test("q_agg_brier satisfies the Murphy identity and coheres with " +
    "the calibration report") {
    val r = TextOps.q_agg_brier(spark, sf0001).collect().head
    val (n, brier, rel, res, unc, resid) = (r.getLong(0), r.getDouble(1),
      r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
    // generalized Murphy identity: the emitted within-bin residual
    // makes the recomposition exact (up to the five round-6 emits)
    assert(math.abs(brier - (rel - res + unc + resid)) < 5e-6,
      s"identity: $brier vs ${rel - res + unc + resid}")
    // the residual is bounded by the decile width: |WBV − 2WBC| ≲ w²+w
    assert(math.abs(resid) < 2.5e-2, "within-bin residual small")
    assert(rel >= 0.0 && res >= 0.0, "REL and RES are squared masses")
    assert(unc >= 0.0 && unc <= 0.25 + 1e-9, "UNC = ȳ(1−ȳ) ≤ 1/4")
    assert(brier >= 0.0 && brier <= 1.0, "Brier in [0, 1]")
    // same doc population as the binned calibration report
    val calN = TextOps.q_llm_calibration(spark, sf0001).collect()
      .map(_.getLong(1)).sum
    assert(n == calN, "same scored population as q_llm_calibration")
  }

  test("streaming minhash union-fold is idempotent and order-blind " +
    "across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.engine.LlmOps
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    def sig(xs: Long*): Seq[Long] = xs.toSeq
    // the same doc-sig delivered TWICE (idempotence) plus a later,
    // partially-smaller sig (element-wise min, not replacement)
    val b1 = Seq(LlmOps.MhIn("en", sig(5, 9, 7, 3, 8, 6, 4, 2)))
    val b2 = Seq(LlmOps.MhIn("en", sig(5, 9, 7, 3, 8, 6, 4, 2)),
      LlmOps.MhIn("en", sig(6, 1, 7, 9, 2, 6, 9, 1)))
    val ms = MemoryStream[LlmOps.MhIn]
    val q = Keyed.run(ms.toDS(), LlmOps.mhFold)
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("mhst").start()
    ms.addData(b1: _*); q.processAllAvailable()
    ms.addData(b2: _*); q.processAllAvailable(); q.stop()
    val last = s.table("mhst").collect()
      .map(r => (r.getLong(1), r.getSeq[Long](2))).last
    assert(last._1 == 3L, "doc count carries")
    assert(last._2 == sig(5, 1, 7, 3, 2, 6, 4, 1), "element-wise min state")
  }

  test("q_stream_minhash estimates bound the exact vocabulary jaccard " +
    "coherently on the fixture") {
    import graft.engine.LlmOps
    val rows = LlmOps.q_stream_minhash(spark, sf0001).collect()
    assert(rows.nonEmpty, "lang-pair grid")
    rows.foreach { r =>
      val (m, est, ex, err) = (r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))
      assert(m >= 0L && m <= 8L, "slot matches in [0, 8]")
      assert(est == r6(m.toDouble / 8.0), "estimate is the slot share")
      assert(ex >= 0.0 && ex <= 1.0, "exact jaccard range")
      assert(err <= 1.0 + 1e-9 && err >= math.abs(est - ex) - 1e-6,
        "audit column consistent")
    }
  }

  test("q_agg_concurrency equals a brute-force interval replay over the " +
    "shared sessionize chain") {
    val sessions = StatsOps.q_sessionize_batch(spark, sf0001).collect()
      .map { r =>
        val s = r.getTimestamp(3).toInstant
        val e = r.getTimestamp(4).toInstant
        (s.getEpochSecond * 1000000L + s.getNano / 1000L,
          e.getEpochSecond * 1000000L + e.getNano / 1000L + 1L)
      }
    val byDay = sessions.groupBy { case (s, _) =>
      java.time.Instant.ofEpochSecond(s / 1000000L)
        .atZone(java.time.ZoneOffset.UTC).toLocalDate
    }
    val got = StatsOps.q_agg_concurrency(spark, sf0001).collect()
    assert(got.map(_.getDate(0).toLocalDate).toSet == byDay.keySet, "day spine")
    got.foreach { r =>
      val ds = byDay(r.getDate(0).toLocalDate)
      assert(r.getLong(1) == ds.length.toLong,
        "n_sessions = sessionize's per-start-day count")
      // concurrency is maximized at some session start; scan them all
      val conc = ds.map { case (t, _) =>
        (t, ds.count { case (s, e) => s <= t && t < e }.toLong)
      }
      val mx = conc.map(_._2).max
      assert(r.getLong(2) == mx, "peak concurrency (brute force)")
      val peak = r.getTimestamp(3).toInstant
      val peakUs = peak.getEpochSecond * 1000000L + peak.getNano / 1000L
      assert(peakUs == conc.filter(_._2 == mx).map(_._1).min,
        "first instant attaining the peak")
      assert(mx >= 1L && mx <= ds.length.toLong, "peak within bounds")
    }
  }

  test("q_time_sma_cross equals a driver-side integer-window replay") {
    val daily = dailyCents()
    val anchor = java.time.LocalDate.parse("2024-01-01")
    val want = daily.keys.map(_._1).toSeq.distinct.sorted.map { et =>
      val ys = daily.collect { case ((t, d), y) if t == et =>
        (java.time.temporal.ChronoUnit.DAYS.between(anchor, d), y) }
        .toSeq.sortBy(_._1)
      val above = ys.indices.collect { case i if i >= 14 =>
        val s5 = (i - 4 to i).map(ys(_)._2).sum
        val s15 = (i - 14 to i).map(ys(_)._2).sum
        (ys(i)._1, 3L * s5 > s15)
      }
      val crosses = above.sliding(2).collect {
        case Seq((_, p), (x, a)) if a != p =>
          (x, if (a) "golden" else "death")
      }.toSeq
      (et, (above.length - 1).toLong,
        crosses.count(_._2 == "golden").toLong,
        crosses.count(_._2 == "death").toLong,
        crosses.lastOption.map(_._1), crosses.lastOption.map(_._2))
    }
    val got = StatsOps.q_time_sma_cross(spark, sf0001).collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (r, (et, n, g, d, lx, ld)) =>
      assert(r.getString(0) == et && r.getLong(1) == n, s"$et eval days")
      assert(r.getLong(2) == g && r.getLong(3) == d, s"$et cross counts")
      assert((if (r.isNullAt(4)) None else Some(r.getLong(4))) == lx)
      assert((if (r.isNullAt(5)) None else Some(r.getString(5))) == ld)
      // regimes alternate: golden and death counts differ by at most 1
      assert(math.abs(r.getLong(2) - r.getLong(3)) <= 1L, s"$et alternation")
    }
  }

  test("q_graph_two_hop equals a driver-side BFS replay") {
    import graft.engine.GraphOps
    val edges = copurchaseEdges()
    val pairCnt = scala.collection.mutable.Map.empty[(Long, Long), Long]
    edges.groupBy(_._1).values.foreach { es =>
      val ps = es.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length)
        pairCnt((ps(i), ps(j))) = pairCnt.getOrElse((ps(i), ps(j)), 0L) + 1L
    }
    val und = pairCnt.filter(_._2 >= GraphOps.TriangleMinCooccur).keys
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }.toSeq
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val want = adj.toSeq.map { case (n, nb) => (n, nb.size.toLong) }
      .sortBy { case (n, d) => (-d, n) }.take(10)
      .map { case (seed, d) =>
        val one = adj(seed)
        val two = one.flatMap(adj(_)) -- one - seed
        (seed, d, two.size.toLong, 1L + d + two.size.toLong)
      }
    val got = GraphOps.q_graph_two_hop(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want, s"two-hop replay got=$got want=$want")
  }
}

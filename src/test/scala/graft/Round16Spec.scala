package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Keyed, StatsOps, TextOps}

/** Plain-Scala replays of the round-16 operators at sf0.001 — the
  * independent-mirror discipline of Round13/14/15Spec: every number the
  * query emits is recomputed driver-side (same pinned IEEE op order)
  * and compared exactly. */
class Round16Spec extends AnyFunSuite {
  import TestSpark._

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("q_text_f1 equals a driver-side confusion-cell P/R/F1 replay") {
    // Base truth: the per-doc langid predictions (the shared argmax the
    // confusion/kappa/f1 family all consume).
    val pred = TextOps.q_text_langid(spark, sf0001).collect()
      .map(r => (r.getString(1), r.getString(2))) // (true, pred)
    val langs = pred.map(_._1).distinct.sorted
    val cells = pred.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val rows = TextOps.q_text_f1(spark, sf0001).collect()
    assert(rows.map(_.getString(0)).toSeq == langs.toSeq,
      "one row per TRUE lang, lang-ordered")
    rows.foreach { r =>
      val lang = r.getString(0)
      val support = pred.count(_._1 == lang).toLong
      val predicted = pred.count(_._2 == lang).toLong
      val tp = cells.getOrElse((lang, lang), 0L)
      assert(r.getLong(1) == support, s"$lang support")
      assert(r.getLong(2) == predicted, s"$lang predicted")
      assert(r.getLong(3) == tp, s"$lang tp")
      val p = if (predicted == 0) 0.0 else tp.toDouble / predicted.toDouble
      val rec = tp.toDouble / support.toDouble
      val f1 = 2.0 * tp.toDouble / (support + predicted).toDouble
      assert(r.getDouble(4) == r6(p), s"$lang precision")
      assert(r.getDouble(5) == r6(rec), s"$lang recall")
      assert(r.getDouble(6) == r6(f1), s"$lang f1")
      // the one-division identity really is 2PR/(P+R) on this data
      if (p + rec > 0)
        assert(math.abs(f1 - 2 * p * rec / (p + rec)) <= 1e-12, s"$lang identity")
    }
  }

  test("q_llm_ppl_bucket equals a driver-side ntile replay of the shared xent table") {
    // Base truth: the per-doc held-out cross-entropy table the bucketing
    // shares with q_text_unigram_xent.
    val xd = TextOps.q_text_unigram_xent(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // NTILE semantics: per lang, docs sorted (xent asc, doc_id asc); the
    // first n%10 buckets take ceil(n/10) docs, the rest floor(n/10).
    val want = xd.groupBy(_._2).toSeq.flatMap { case (lang, docs) =>
      val sorted = docs.sortBy(d => (d._4, d._1))
      val n = sorted.length
      val base = n / 10; val extra = n % 10
      val assigned = sorted.zipWithIndex.map { case (d, i) =>
        val cut = extra * (base + 1)
        val b = if (i < cut) i / (base + 1) else extra + (i - cut) / math.max(base, 1)
        (b.toLong + 1, d)
      }
      assigned.groupBy(_._1).map { case (dec, ds) =>
        val xs = ds.map(_._2)
        val sum = xs.map(d => BigDecimal(d._4).setScale(6)).sum
        (lang, dec) -> ((xs.length.toLong, xs.map(_._3).sum,
          xs.map(_._4).min, xs.map(_._4).max,
          r6(sum.toDouble / xs.length.toDouble)))
      }
    }.toMap
    val rows = TextOps.q_llm_ppl_bucket(spark, sf0001).collect()
    assert(rows.length == want.size, "bucket count")
    rows.foreach { r =>
      val k = (r.getString(0), r.getLong(1))
      val (nd, nt, mn, mx, avg) = want(k)
      assert(r.getLong(2) == nd, s"$k n_docs")
      assert(r.getLong(3) == nt, s"$k n_tokens")
      assert(r.getDouble(4) == mn, s"$k min_xent")
      assert(r.getDouble(5) == mx, s"$k max_xent")
      assert(r.getDouble(6) == avg, s"$k avg_xent")
    }
    // buckets cover every held-out doc exactly once
    assert(rows.map(_.getLong(2)).sum == xd.length.toLong)
  }

  test("streaming ppl maintainer: cross-batch token splits converge to the exact fold") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    // one doc's tokens split across two micro-batches + a second doc
    val b1 = Seq(TextOps.XentTok(10L, "en", 1200000000L),
      TextOps.XentTok(10L, "en", 800000000L), TextOps.XentTok(20L, "de", 500000000L))
    val b2 = Seq(TextOps.XentTok(10L, "en", 1000000000L))
    val ms = MemoryStream[TextOps.XentTok]
    val q = Keyed.run(ms.toDS(), TextOps.xentFold)
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("pplst").start()
    ms.addData(b1: _*); q.processAllAvailable()
    ms.addData(b2: _*); q.processAllAvailable(); q.stop()
    val snaps = s.table("pplst").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // final state per doc equals the one-shot fold over the union
    val fin10 = snaps.filter(_._1 == 10L).maxBy(_._3)
    assert(fin10 == ((10L, "en", 3L, 3000000000L)),
      s"doc 10 state must carry across batches, got $fin10")
    assert(snaps.filter(_._1 == 20L).maxBy(_._3) == ((20L, "de", 1L, 500000000L)))
  }

  test("streaming ppl bucket over fixture equals the batch decile table") {
    val stream = TextOps.q_stream_ppl_bucket(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))).toMap
    val batch = TextOps.q_llm_ppl_bucket(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))).toMap
    assert(stream == batch, "batch ≡ stream through the shared assembly")
  }

  test("q_time_kendall_tau equals a driver-side concordance replay") {
    import graft.engine.{StatsOps, Tables}
    import org.apache.spark.sql.functions._
    val daily = Tables.events(spark, sf0001)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100, 0).cast("bigint")).as("y"),
        count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2), r.getLong(3)))
    val want = daily.groupBy(_._1).map { case (et, ds) =>
      val xs = ds.sortBy(_._2).map(d => (d._3, d._4))
      val n = xs.length.toLong
      var sStat = 0L
      for (i <- xs.indices; j <- (i + 1) until xs.length) {
        sStat += (java.lang.Long.signum(xs(j)._1 - xs(i)._1)
          * java.lang.Long.signum(xs(j)._2 - xs(i)._2)).toLong
      }
      def t2(f: ((Long, Long)) => Long): Long =
        xs.groupBy(f).values.map(g => g.size.toLong * (g.size - 1)).sum
      val n02 = n * (n - 1)
      val tau = 2.0 * sStat / math.sqrt((n02 - t2(_._1)).toDouble * (n02 - t2(_._2)).toDouble)
      et -> ((n, sStat, r6(tau)))
    }
    val got = StatsOps.q_time_kendall_tau(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == want.toMap)
  }

  test("q_agg_cohort_retention equals a driver-side cohort replay") {
    import graft.engine.{Relational, Tables}
    import org.apache.spark.sql.functions._
    val om = Tables.orders(spark, sf0001)
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).cast("long").as("m"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val first = om.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val coh = first.filter { case (_, m) => m >= 1995L * 12 + 1 && m <= 1995L * 12 + 12 }
    val act = om.toSet
    val want = (for {
      (cm, members) <- coh.groupBy(_._2).view.mapValues(_.keys.toSeq).toSeq
      k <- 0L to 5L
      nActive = members.count(ck => act.contains((ck, cm + k)))
      if nActive > 0
    } yield {
      val label = f"${(cm - 1) / 12}%d-${(cm - 1) % 12 + 1}%02d"
      (label, k) -> ((members.size.toLong, nActive.toLong,
        r6(nActive.toDouble / members.size.toDouble)))
    }).toMap
    val got = Relational.q_agg_cohort_retention(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got == want)
  }

  test("q_graph_katz equals a driver-side damped power iteration") {
    import graft.engine.GraphOps
    val got = GraphOps.q_graph_katz(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length <= 20 && got.nonEmpty)
    // driver replay over the same thresholded symmetric projection
    val arcs = GraphOps.undProj(spark, sf0001, GraphOps.TriangleMinCooccur)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nbrs = arcs.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    var x = nbrs.keys.map(_ -> 1.0).toMap
    for (_ <- 1 to GraphOps.KatzIters) {
      x = nbrs.map { case (v, ns) =>
        val s9 = ns.map(u => math.rint(x(u) * 1e9).toLong).sum
        v -> (1.0 + GraphOps.KatzAlpha * (s9.toDouble / 1e9))
      }
    }
    val want = x.toSeq.map { case (v, s) => (v, r6(s)) }
      .sortBy { case (v, s) => (-s, v) }.take(20)
    assert(got.toSeq == want)
  }

  test("q_graph_harmonic coheres with closeness over the shared distance MV") {
    import graft.engine.GraphOps
    val close = GraphOps.q_graph_closeness(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val harm = GraphOps.q_graph_harmonic(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(harm.keySet == close.keySet, "same seed set")
    harm.foreach { case (seed, (nr, h)) =>
      val (closeNr, sumDist) = close(seed)
      assert(nr == closeNr - 1, s"seed $seed reach must match closeness minus self")
      // bounds: n²/sum ≤ H ≤ n (AM-HM inequality on the distances)
      assert(h <= nr.toDouble + 1e-9, s"seed $seed H ≤ n_reached")
      assert(h >= nr.toDouble * nr.toDouble / sumDist.toDouble - 1e-6,
        s"seed $seed AM-HM lower bound")
    }
  }

  test("q_embed_mrl equals a driver-side two-tier cosine replay") {
    import graft.engine.{LlmOps, Tables}
    val emb = Tables.embeddings(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // same left-assoc double accumulation as FloatVecDot
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        acc += a(i).toDouble * b(i).toDouble; i += 1
      }
      acc
    }
    def cos(a: Array[Float], b: Array[Float]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    def top10(qid: Long, dims: Int): Set[Long] = {
      val q = emb(qid).take(dims)
      emb.toSeq.filter(_._1 != qid)
        .map { case (id, v) => (id, r6(cos(v.take(dims), q))) }
        .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
    }
    val got = LlmOps.q_embed_mrl(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == (20L to 24L).toSet)
    (20L to 24L).foreach { qid =>
      val overlap = (top10(qid, 64) intersect top10(qid, LlmOps.MrlPrefixDims)).size.toLong
      assert(got(qid) == ((overlap, r6(overlap / 10.0))), s"query $qid")
    }
  }

  test("q_text_heaps_law equals a driver-side growth-curve replay") {
    import graft.engine.{Tables, TextOps}
    val docs = Tables.documents(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val n = docs.length
    val cps = (1 to 10).map { dec =>
      // NTILE semantics over the doc_id order
      val base = n / 10; val extra = n % 10
      val size = (1 to dec).map(i => base + (if (i <= extra) 1 else 0)).sum
      dec.toLong -> docs(size - 1)._1
    }
    val toks = docs.flatMap { case (id, t) =>
      t.split(" ").filter(_.nonEmpty).map(w => (id, w))
    }
    val first = toks.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    val got = TextOps.q_text_heaps_law(spark, sf0001).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    cps.foreach { case (dec, cp) =>
      val nTok = toks.count(_._1 <= cp).toLong
      val nDis = first.values.count(_ <= cp).toLong
      assert(got(dec) == ((cp, nTok, nDis,
        r6(math.log(nDis.toDouble) / math.log(nTok.toDouble)))), s"decile $dec")
    }
    // growth curve must be monotone in both coordinates
    val ord = got.toSeq.sortBy(_._1).map(_._2)
    assert(ord.sliding(2).forall(p => p(0)._2 <= p(1)._2 && p(0)._3 <= p(1)._3))
  }

  test("q_graph_eigenvector equals a driver-side normalized power iteration") {
    import graft.engine.GraphOps
    val arcs = GraphOps.undProj(spark, sf0001, GraphOps.TriangleMinCooccur)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nbrs = arcs.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    var x = nbrs.keys.map(_ -> 1.0).toMap
    for (_ <- 1 to GraphOps.EigIters) {
      val raw = nbrs.map { case (v, ns) =>
        v -> ns.map(u => math.rint(x(u) * 1e9).toLong).sum.toDouble / 1e9
      }
      val m = raw.values.max
      x = raw.view.mapValues(_ / m).toMap
    }
    val want = x.toSeq.map { case (v, sc) => (v, r6(sc)) }
      .sortBy { case (v, sc) => (-sc, v) }.take(20)
    val got = GraphOps.q_graph_eigenvector(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
    assert(got.head._2 == 1.0, "the max-normalized leader scores exactly 1")
  }

  test("q_time_dow_seasonality equals a driver-side index replay") {
    import graft.engine.{StatsOps, Tables}
    import org.apache.spark.sql.functions._
    val daily = Tables.events(spark, sf0001)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100, 0).cast("bigint")).as("y"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).as("x"))
      .collect().map(r => (r.getString(0), ((r.getInt(3) % 7) + 7) % 7, r.getLong(2)))
    val want = daily.groupBy(_._1).flatMap { case (et, ds) =>
      val nAll = ds.length.toLong; val sAll = ds.map(_._3).sum
      ds.groupBy(_._2).map { case (dow, g) =>
        val nD = g.length.toLong; val sy = g.map(_._3).sum
        (et, dow.toLong) -> ((nD,
          r6((BigDecimal(sy) * nAll).toDouble / (BigDecimal(nD) * sAll).toDouble)))
      }
    }
    val got = StatsOps.q_time_dow_seasonality(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got == want.toMap)
  }

  test("q_time_pacf equals a driver-side Durbin–Levinson replay") {
    import graft.engine.{StatsOps, Tables}
    import org.apache.spark.sql.functions._
    val daily = Tables.events(spark, sf0001)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100, 0).cast("bigint")).as("y"))
      .select(col("event_type"),
        datediff(col("day"), lit("2024-01-01").cast("date")).cast("bigint").as("x"),
        col("y"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = daily.groupBy(_._1).flatMap { case (et, ds) =>
      val n = ds.length.toLong
      val sy = ds.map(_._3).sum
      val e = ds.map(d => (d._2, d._3 * n - sy)).toMap
      def rK(k: Long): Double = {
        val nk = e.toSeq.collect {
          case (x, ev) if e.contains(x + k) => BigInt(ev) * BigInt(e(x + k))
        }.sum
        val den = e.values.map(v => BigInt(v) * BigInt(v)).sum
        nk.toDouble / den.toDouble
      }
      val (r1, r2, r3) = (rK(1), rK(2), rK(3))
      val phi22 = (r2 - r1 * r1) / (1.0 - r1 * r1)
      val phi21 = r1 * (1.0 - phi22)
      val phi33 = (r3 - phi21 * r2 - phi22 * r1) / (1.0 - phi21 * r1 - phi22 * r2)
      Seq((et, 1L) -> ((r6(r1), r6(r1))), (et, 2L) -> ((r6(r2), r6(phi22))),
        (et, 3L) -> ((r6(r3), r6(phi33))))
    }.toMap
    val got = StatsOps.q_time_pacf(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(got == want)
    // lag-1 PACF is the lag-1 ACF by construction
    got.collect { case ((_, 1L), (acf, pacf)) => assert(acf == pacf) }
  }

  test("q_agg_rfm covers every customer once with in-range quintiles") {
    import graft.engine.{Relational, Tables}
    val rows = Relational.q_agg_rfm(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    val nCust = Tables.customer(spark, sf0001).select("c_custkey").distinct().count()
    import org.apache.spark.sql.functions._
    val nOrdering = Tables.orders(spark, sf0001)
      .select(col("o_custkey")).distinct().count()
    assert(rows.map(_._4).sum == nOrdering, "cells partition the ordering customers")
    assert(nOrdering <= nCust)
    rows.foreach { case (r, f, m, n, mon) =>
      assert(r >= 1 && r <= 5 && f >= 1 && f <= 5 && m >= 1 && m <= 5)
      assert(n > 0 && mon > 0.0)
    }
    // each quintile axis holds ~a fifth of customers (ntile balance)
    (1L to 5L).foreach { q =>
      val axis = rows.filter(_._1 == q).map(_._4).sum
      assert(math.abs(axis - nOrdering / 5) <= nOrdering / 5 / 2 + 1, s"r_q=$q balance")
    }
  }

  test("q_llm_mix_temperature equals a driver-side tau-sampling replay") {
    import graft.engine.{LlmOps, Tables}
    import org.apache.spark.sql.functions._
    val strata = Tables.documents(spark, sf0001)
      .select(col("lang"), col("source"),
        size(split(col("text"), " ")).cast("bigint").as("nt"))
      .groupBy(col("lang"), col("source")).agg(sum(col("nt")).as("n"))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    def r9(x: Double): BigDecimal =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val w = strata.map { case (k, n) =>
      k -> ((n, r9(math.exp(LlmOps.MixTau * math.log(n.toDouble)))))
    }
    val wsum = w.map(_._2._2).sum
    val ntot = strata.map(_._2).sum
    val got = LlmOps.q_llm_mix_temperature(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    w.foreach { case (k, (n, wd)) =>
      val raw = n.toDouble / ntot.toDouble
      val ts = wd.toDouble / wsum.toDouble
      assert(got(k) == ((n, r6(raw), r6(ts), r6(ts / raw))), s"stratum $k")
    }
    // the temperature flattens the mix: small strata boosted, giants damped
    val boosts = got.toSeq.sortBy(_._2._1).map(_._2._4)
    assert(boosts.head >= boosts.last, "smallest stratum boost ≥ largest's")
  }

  test("q_embed_outliers equals a driver-side centroid-distance replay") {
    import graft.engine.{Gnn, Tables}
    val vecs = Tables.embeddings(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val n = vecs.length
    // order-blind centroid: exact 1e9-scaled integer sums — the replay
    // reproduces the engine value EXACTLY (no last-ulp caveat)
    val cent = (0 until 64).map { j =>
      vecs.map(v => math.rint(v._2(j).toDouble * 1e9).toLong).sum.toDouble /
        n.toDouble / 1e9
    }
    def dist(v: Array[Float]): Double = {
      var acc = 0.0
      for (j <- 0 until 64) {
        val d = v(j).toDouble - cent(j); acc += d * d
      }
      math.sqrt(acc)
    }
    val want = vecs.map { case (id, v) => (id, r6(dist(v))) }
      .sortBy { case (id, dv) => (-dv, id) }.take(20).toSeq
    val got = Gnn.q_embed_outliers(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
  }

  test("q_time_markov: transitions replay exactly; pi is a distribution near its fixpoint") {
    import graft.engine.{StatsOps, Tables}
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf0001)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val wantTrans = ev.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val types = es.sortBy(e => (e._3, e._2)).map(_._4).toSeq
      types.zip(types.drop(1))
    }.groupBy(x => x).view.mapValues(_.size.toLong).toMap
    val rows = StatsOps.q_time_markov(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    assert(rows.map(r => (r._1, r._2) -> r._3).toMap == wantTrans)
    // per-from rows: p sums to 1; pi is a probability vector; pi is
    // (approximately) stationary: pi P ≈ pi after the 8 folded steps
    rows.groupBy(_._1).foreach { case (f, rs) =>
      assert(math.abs(rs.map(_._4).sum - 1.0) <= 5e-6, s"$f row-stochastic")
      assert(rs.map(_._5).distinct.length == 1, s"$f one pi value")
    }
    val pi = rows.groupBy(_._1).view.mapValues(_.head._5).toMap
    assert(math.abs(pi.values.sum - 1.0) <= 5e-6, "pi sums to 1")
    val piNext = rows.groupBy(_._2).view.mapValues(
      _.map(r => pi(r._1) * r._4).sum).toMap
    pi.keys.foreach { st =>
      assert(math.abs(pi(st) - piNext.getOrElse(st, 0.0)) <= 1e-3,
        s"$st near-stationary")
    }
  }

  test("q_agg_pareto: deciles partition customers and concentrate revenue") {
    import graft.engine.{Relational, Tables}
    val rows = Relational.q_agg_pareto(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == (1L to 10L))
    val nCust = Tables.orders(spark, sf0001)
      .select("o_custkey").distinct().count()
    assert(rows.map(_._2).sum == nCust, "deciles partition the customers")
    assert(math.abs(rows.last._4 - 1.0) <= 1e-9, "cumulative share reaches 1")
    // shares are monotone and the curve is concave (decile revenue
    // non-increasing when sorted by spend desc)
    assert(rows.map(_._4).sliding(2).forall(p => p(0) <= p(1) + 1e-12))
    assert(rows.map(_._3).sliding(2).forall(p => p(0) >= p(1) - 1e-6),
      "top deciles carry the most revenue")
  }

  test("streaming markov maintainer: the batch-boundary transition is emitted") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    // user 1: click then (next batch) purchase — the boundary pair; the
    // in-batch pair (view→click, out-of-order arrival) must also emit
    val b1 = Seq(StatsOps.MkEv(1L, 11L, 2000L, "click"),
      StatsOps.MkEv(1L, 10L, 1000L, "view"))
    val b2 = Seq(StatsOps.MkEv(1L, 12L, 3000L, "purchase"))
    val ms = MemoryStream[StatsOps.MkEv]
    val q = Keyed.run(ms.toDS(), StatsOps.markovFold)
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("mkst").start()
    ms.addData(b1: _*); q.processAllAvailable()
    ms.addData(b2: _*); q.processAllAvailable(); q.stop()
    val pairs = s.table("mkst").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    assert(pairs == Seq(("click", "purchase"), ("view", "click")),
      s"in-batch sort + boundary carry, got $pairs")
  }

  test("streaming markov over fixture equals the batch transition table") {
    val stream = StatsOps.q_stream_markov(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val batch = StatsOps.q_time_markov(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(stream == batch, "batch ≡ stream through the shared assembly")
  }

  test("q_agg_basket_lift equals a driver-side association replay") {
    import graft.engine.GraphOps
    val edges = GraphOps.edges(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nb = edges.map(_._1).distinct.length.toLong
    val deg = edges.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val pairs = edges.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val parts = es.map(_._2).distinct.sorted
      for (i <- parts.indices; j <- (i + 1) until parts.length)
        yield (parts(i), parts(j))
    }.groupBy(x => x).view.mapValues(_.size.toLong)
      .filter(_._2 >= GraphOps.TriangleMinCooccur).toMap
    val want = pairs.toSeq.map { case ((a, b), cnt) =>
      val lift = (BigDecimal(cnt) * nb).toDouble / (BigDecimal(deg(a)) * deg(b)).toDouble
      (a, b, cnt, r6(cnt.toDouble / nb.toDouble),
        r6(cnt.toDouble / deg(a).toDouble), r6(lift))
    }.sortBy { case (a, b, _, _, _, l) => (-l, a, b) }.take(20)
    val got = GraphOps.q_agg_basket_lift(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    assert(got == want)
    got.foreach { case (_, _, _, sup, conf, lift) =>
      assert(sup > 0 && conf > 0 && conf <= 1.0 + 1e-9 && lift > 0)
    }
  }

  test("q_time_xcorr equals a driver-side lead-lag Pearson replay") {
    import org.apache.spark.sql.functions._
    import graft.engine.{StatsOps, Tables}
    val daily = Tables.events(spark, sf0001)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100, 0).cast("bigint")).as("y"))
      .collect().map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2)))
    val clicks = daily.filter(_._1 == "click").map(d => d._2 -> d._3).toMap
    val buys = daily.filter(_._1 == "purchase").map(d => d._2 -> d._3)
    val got = StatsOps.q_time_xcorr(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    StatsOps.XcorrLags.foreach { k =>
      val pairs = buys.flatMap { case (pd, yv) =>
        clicks.get(pd.minusDays(k.toLong)).map(x => (x, yv))
      }
      val n = pairs.length.toDouble
      def bsum(f: ((Long, Long)) => BigInt): Double = pairs.map(f).sum.toDouble
      val (sx, sy) = (bsum(p => BigInt(p._1)), bsum(p => BigInt(p._2)))
      val sxx = bsum(p => BigInt(p._1) * BigInt(p._1))
      val syy = bsum(p => BigInt(p._2) * BigInt(p._2))
      val sxy = bsum(p => BigInt(p._1) * BigInt(p._2))
      val r = (n * sxy - sx * sy) /
        (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
      assert(got(k.toLong) == ((pairs.length.toLong, r6(r))), s"lag $k")
    }
    // lag 0 must be the plain same-day correlation, bounded in [-1,1]
    got.values.foreach { case (_, r) => assert(math.abs(r) <= 1.0 + 1e-9) }
  }

  test("q_agg_survival_curve equals a driver-side gap replay") {
    import org.apache.spark.sql.functions._
    import graft.engine.{StatsOps, Tables}
    val orders = Tables.orders(spark, sf0001)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.get(2).toString.take(10)))
    val gaps = orders.groupBy(_._1).toSeq.flatMap { case (_, os) =>
      val sorted = os.sortBy(o => (o._3, o._2)).map(o => java.time.LocalDate.parse(o._3))
      sorted.zip(sorted.drop(1)).map { case (a, b) =>
        java.time.temporal.ChronoUnit.DAYS.between(a, b) / 7
      }
    }
    val hist = gaps.groupBy(x => x).view.mapValues(_.size.toLong).toMap
    val tot = gaps.length.toLong
    val got = StatsOps.q_agg_survival_curve(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == hist.keySet)
    hist.foreach { case (wk, n) =>
      val nGe = hist.filter(_._1 >= wk).values.sum
      assert(got(wk) == ((n, r6(nGe.toDouble / tot.toDouble))), s"week $wk")
    }
    // survival is monotone non-increasing and starts at 1
    val ord = got.toSeq.sortBy(_._1).map(_._2._2)
    assert(ord.head == 1.0 || got.keySet.min > 0)
    assert(ord.sliding(2).forall(p => p(0) >= p(1) - 1e-12))
  }

  test("q_agg_new_vs_returning coheres with the cohort base and partitions orders") {
    import org.apache.spark.sql.functions._
    import graft.engine.{Relational, Tables}
    val rows = Relational.q_agg_new_vs_returning(spark, sf0001).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
    val nOrders = Tables.orders(spark, sf0001).count()
    assert(rows.map(_._2._1).sum == nOrders, "months partition the orders")
    // every order is new-or-returning; shares replay; first month is all-new
    rows.foreach { case (m, (n, _, nn, nr, share)) =>
      assert(nn + nr == n, s"$m split must partition")
      assert(share == r6(nr.toDouble / n.toDouble), s"$m share")
    }
    val firstMonth = rows.map(_._1).min
    assert(rows.toMap.apply(firstMonth)._4 == 0L,
      "the first month can have no returning orders")
    // total new customers across months = distinct ordering customers
    val nCust = Tables.orders(spark, sf0001)
      .select(col("o_custkey")).distinct().count()
    assert(rows.map(_._2._2).sum == nCust, "every customer is new exactly once")
  }

  test("q_graph_knn_degree equals a driver-side neighbor-degree replay") {
    import graft.engine.GraphOps
    val arcs = GraphOps.undProj(spark, sf0001, GraphOps.TriangleMinCooccur)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val deg = arcs.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val want = arcs.groupBy(a => deg(a._1)).map { case (k, as) =>
      k -> ((as.map(_._1).distinct.length.toLong,
        r6(as.map(a => BigDecimal(deg(a._2))).sum.toDouble / as.length.toDouble)))
    }
    val got = GraphOps.q_graph_knn_degree(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == want.toMap)
  }

  // ── VERDICT r10 item 2: the re-parameterized zero-row trio must be
  // non-vacuous at the smallest fixture (it is at sf0.01/sf0.1 too —
  // probed 71/511 anti, 266/2600 except, 31k/3.6k jaccard) ────────────

  test("q_join_anti is non-vacuous and equals the driver-side set difference") {
    import graft.engine.{Relational, Tables}
    import org.apache.spark.sql.functions._
    val fCust = Tables.orders(spark, sf0001)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_custkey")).distinct()
      .collect().map(_.getLong(0)).toSet
    val allCust = Tables.customer(spark, sf0001)
      .select(col("c_custkey")).collect().map(_.getLong(0)).toSet
    val got = Relational.q_join_anti(spark, sf0001).collect()
      .map(_.getLong(0)).toSet
    assert(got.nonEmpty, "anti join must have survivors at sf0.001")
    assert(got == allCust -- fCust)
  }

  test("q_set_except is non-vacuous and equals the driver-side 1997∖1998 churn set") {
    import graft.engine.{Relational, Tables}
    import org.apache.spark.sql.functions._
    def yearCust(y: Int): Set[Long] = Tables.orders(spark, sf0001)
      .filter(year(col("o_orderdate")) === y)
      .select(col("o_custkey")).collect().map(_.getLong(0)).toSet
    val got = Relational.q_set_except(spark, sf0001).collect()
    assert(got.nonEmpty, "except must have survivors at sf0.001")
    assert(got.map(_.getLong(0)).toSet == yearCust(1997) -- yearCust(1998))
    assert(got.length == got.map(_.getLong(0)).distinct.length, "set semantics: distinct")
  }

  test("simhash recall tier: same signature arithmetic, wider net than the precision screen") {
    import graft.engine.LlmOps
    val prec = LlmOps.q_llm_simhash_md5(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getInt(3)).toMap
    val rec = LlmOps.q_llm_simhash_recall(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getInt(3)).toMap
    assert(rec.nonEmpty && rec.size >= prec.size,
      "the recall configuration must surface at least as many pairs")
    assert(rec.values.forall(_ <= 16), "recall tier verifies at Hamming ≤ 16")
    assert(prec.values.forall(_ <= 12), "precision screen verifies at Hamming ≤ 12")
    // pairs surfaced by BOTH operating points carry the identical
    // Hamming distance — one shared signature MV, one arithmetic
    prec.keySet.intersect(rec.keySet).foreach { k =>
      assert(prec(k) == rec(k), s"$k hamming must agree across tiers")
    }
  }

  test("q_graph_jaccard is non-vacuous at the 0.05 threshold with in-contract rows") {
    import graft.engine.GraphOps
    val rows = GraphOps.q_graph_jaccard(spark, sf0001).collect()
    assert(rows.nonEmpty, "jaccard must have survivors at sf0.001")
    rows.foreach { r =>
      assert(r.getLong(2) >= GraphOps.TriangleMinCooccur, "common ≥ min co-occur")
      assert(r.getDouble(3) >= GraphOps.JaccardMinSim, "jaccard ≥ threshold")
      assert(r.getDouble(3) <= 1.0)
      assert(r.getLong(0) < r.getLong(1), "canonical a < b pair order")
    }
  }
}

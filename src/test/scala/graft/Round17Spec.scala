package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Gnn, GraphOps, Keyed, StatsOps, Tables, TextOps}

/** Plain-Scala replays of the round-17 operators at sf0.001 — the
  * independent-mirror discipline of Round13..16Spec: every number the
  * query emits is recomputed driver-side (same pinned IEEE op order)
  * and compared exactly. */
class Round17Spec extends AnyFunSuite {
  import TestSpark._

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("q_text_mcc equals a driver-side R_K replay of the langid confusion") {
    val pred = TextOps.q_text_langid(spark, sf0001).collect()
      .map(r => (r.getString(1), r.getString(2))) // (true, pred)
    val n = BigInt(pred.length)
    val correct = BigInt(pred.count(p => p._1 == p._2))
    val rowT = pred.groupBy(_._1).view.mapValues(v => BigInt(v.length)).toMap
    val colT = pred.groupBy(_._2).view.mapValues(v => BigInt(v.length)).toMap
    val sumPt = rowT.keys.map(k => rowT(k) * colT.getOrElse(k, BigInt(0))).sum
    val sumT2 = rowT.values.map(v => v * v).sum
    val sumP2 = colT.values.map(v => v * v).sum
    val num = (n * correct - sumPt).toDouble
    val den = math.sqrt((n * n - sumP2).toDouble) * math.sqrt((n * n - sumT2).toDouble)
    val row = TextOps.q_text_mcc(spark, sf0001).collect().head
    assert(row.getLong(0) == n.toLong, "n_docs")
    assert(row.getLong(1) == correct.toLong, "n_correct")
    if (den == 0) assert(row.isNullAt(2), "degenerate slice -> NULL")
    else assert(row.getDouble(2) == r6(num / den), "mcc")
    // sanity: a perfect classifier on this fixture would read 1; the
    // statistic must sit in [-1, 1]
    if (den != 0) assert(math.abs(row.getDouble(2)) <= 1.0)
  }

  test("q_graph_overlap equals a driver-side pair replay (and bounds jaccard)") {
    val edges = Tables.orders(spark, sf0001)
      .join(Tables.lineitem(spark, sf0001),
        org.apache.spark.sql.functions.col("o_orderkey") ===
          org.apache.spark.sql.functions.col("l_orderkey"))
      .select("o_custkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byCust = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val deg = edges.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val pairCnt = scala.collection.mutable.Map.empty[(Long, Long), Long]
    byCust.values.foreach { parts =>
      val ps = parts.toSeq.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.size)
        pairCnt((ps(i), ps(j))) = pairCnt.getOrElse((ps(i), ps(j)), 0L) + 1L
    }
    val want = pairCnt.toSeq
      .filter(_._2 >= GraphOps.TriangleMinCooccur)
      .map { case ((a, b), c) =>
        (a, b, c, r6(c.toDouble / math.min(deg(a), deg(b)).toDouble))
      }
      .sortBy { case (a, b, _, o) => (-o, a, b) }
      .take(20)
    val got = GraphOps.q_graph_overlap(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == want, "top-20 overlap table")
    // overlap >= jaccard always (min <= union), so the screen is the
    // upper envelope of the jaccard similarity on every pair
    got.foreach { case (a, b, c, o) =>
      val j = c.toDouble / (deg(a) + deg(b) - c).toDouble
      assert(o + 1e-12 >= j, s"overlap($a,$b) >= jaccard")
    }
  }

  test("q_time_theil_u equals a driver-side daily-diff replay") {
    import org.apache.spark.sql.functions._
    val daily = Tables.events(spark, sf0001)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100, 0).cast("bigint")).as("y"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
    val want = daily.groupBy(_._1).view.mapValues { rows =>
      val ys = rows.sortBy(_._2).map(_._3)
      val pairs = ys.sliding(2).map(w => (w(1), w(1) - w(0))).toSeq
      val n = pairs.length.toLong
      val sy = pairs.map(p => BigInt(p._1)).sum.toDouble
      val syy = pairs.map(p => BigInt(p._1) * BigInt(p._1)).sum.toDouble
      val sdd = pairs.map(p => BigInt(p._2) * BigInt(p._2)).sum.toDouble
      val den = n.toDouble * syy - sy * sy
      (n, if (den == 0) None else Some(r6(math.sqrt(n.toDouble * sdd / den))))
    }.toMap
    val got = StatsOps.q_time_theil_u(spark, sf0001).collect()
    assert(got.map(_.getString(0)).toSeq == want.keys.toSeq.sorted, "type spine")
    got.foreach { r =>
      val (n, u) = want(r.getString(0))
      assert(r.getLong(1) == n, s"${r.getString(0)} n_diffs")
      u match {
        case Some(v) => assert(r.getDouble(2) == v, s"${r.getString(0)} u")
        case None => assert(r.isNullAt(2), s"${r.getString(0)} constant series")
      }
    }
  }

  test("q_graph_simrank equals a driver-side iteration replay") {
    import org.apache.spark.sql.functions._
    // Base truth: the distinct non-self transition edges, rebuilt with
    // the same lead-window rule.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ed = Tables.events(spark, sf0001)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("nt", lead(col("event_type"), 1).over(w))
      .filter(col("nt").isNotNull && col("nt") =!= col("event_type"))
      .select(col("event_type"), col("nt")).distinct()
      .collect().map(r => (r.getString(0), r.getString(1)))
    val nodes = (ed.map(_._1) ++ ed.map(_._2)).distinct.sorted
    val inn = nodes.map(v => v -> ed.filter(_._2 == v).map(_._1)).toMap
    def r9(x: Double): BigDecimal =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    var s9 = nodes.flatMap(a => nodes.map(b =>
      (a, b) -> (if (a == b) 1.0 else 0.0))).toMap
    for (_ <- 1 to GraphOps.SimrankIters) {
      s9 = nodes.flatMap(a => nodes.map { b =>
        val v = if (a == b) 1.0
        else {
          val ia = inn(a); val ib = inn(b)
          if (ia.isEmpty || ib.isEmpty) 0.0
          else {
            val cs = ia.flatMap(i => ib.map(j => r9(s9((i, j))))).sum.toDouble
            GraphOps.SimrankC * cs / (ia.length.toLong * ib.length.toLong).toDouble
          }
        }
        (a, b) -> v
      }).toMap
    }
    val want = nodes.flatMap(a => nodes.filter(_ > a).map(b => (a, b, s9((a, b)))))
      .filter(_._3 > 0).map { case (a, b, v) => (a, b, r6(v)) }
    val got = GraphOps.q_graph_simrank(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(got.toSeq == want.toSeq, "simrank pair table")
    // SimRank scores are bounded by the damping factor off-diagonal
    got.foreach { case (a, b, v) =>
      assert(v <= GraphOps.SimrankC + 1e-12, s"s($a,$b) <= C") }
  }

  test("q_time_hurst equals a driver-side R/S replay") {
    import org.apache.spark.sql.functions._
    val days = Tables.events(spark, sf0001)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100, 0).cast("bigint")).as("y"))
      .collect().map(r => (r.getDate(0).toString, r.getLong(1)))
      .sortBy(_._1).map(_._2)
    def r9(x: Double): BigDecimal =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val pts = StatsOps.HurstBlocks.flatMap { m =>
      val blocks = days.grouped(m).filter(_.length == m).toSeq
      val rss = blocks.flatMap { ys =>
        val sy = ys.map(BigInt(_)).sum
        val syy = ys.map(y => BigInt(y) * BigInt(y)).sum
        val cums = ys.scanLeft(BigInt(0))(_ + _).tail
        val mz = cums.zipWithIndex.map { case (c, i) =>
          BigInt(m) * c - BigInt(i + 1) * sy }
        val den = m.toDouble * syy.toDouble - sy.toDouble * sy.toDouble
        if (den > 0) Some((mz.max - mz.min).toDouble / math.sqrt(den)) else None
      }
      if (rss.isEmpty) None
      else Some((m.toLong, rss.length.toLong,
        rss.map(r9).sum.toDouble / rss.length.toDouble))
    }
    val k = pts.length.toDouble
    val xs = pts.map(p => math.log(p._1.toDouble))
    val ys = pts.map(p => math.log(p._3))
    val sx = xs.map(r9).sum.toDouble; val sy2 = ys.map(r9).sum.toDouble
    val sxy = xs.zip(ys).map { case (x, y) => r9(x * y) }.sum.toDouble
    val sxx = xs.map(x => r9(x * x)).sum.toDouble
    val h = r6((k * sxy - sx * sy2) / (k * sxx - sx * sx))
    val got = StatsOps.q_time_hurst(spark, sf0001).collect()
    assert(got.length == pts.length, "one row per non-empty block size")
    got.zip(pts).foreach { case (r, (m, nb, rsMean)) =>
      assert(r.getLong(0) == m, s"m=$m")
      assert(r.getLong(1) == nb, s"m=$m n_blocks")
      assert(r.getDouble(2) == r6(rsMean), s"m=$m rs_mean")
      assert(r.getDouble(3) == h, s"m=$m hurst")
    }
  }

  test("q_text_textrank equals a driver-side power-iteration replay") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq))
    val df = docs.flatMap { case (id, ts) => ts.distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.length).toMap
    val stop = df.toSeq.sortBy { case (t, d) => (-d, t) }.take(20).map(_._1).toSet
    val pairs = docs.flatMap { case (_, ts) =>
      ts.sliding(2).filter(_.length == 2).collect {
        case Seq(a, b) if a != b && !stop(a) && !stop(b) =>
          (Seq(a, b).min, Seq(a, b).max)
      }
    }.distinct
    val ue = pairs ++ pairs.map(p => (p._2, p._1))
    val deg = ue.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    var rank = deg.keys.map(_ -> 1.0).toMap
    for (_ <- 1 to TextOps.TextrankIters) {
      rank = ue.groupBy(_._2).map { case (v, es) =>
        val s = es.map { case (u, _) =>
          BigDecimal(rank(u) / deg(u) * 1e9)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toBigInt
        }.sum
        v -> (0.15 + 0.85 * (s.toDouble / 1e9))
      }
    }
    val want = rank.toSeq.map { case (w, r) => (w, r6(r)) }
      .sortBy { case (w, r) => (-r, w) }.take(20)
    val got = TextOps.q_text_textrank(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    assert(got.toSeq == want, "top-20 keyword table")
  }

  test("streaming new-vs-returning: state carries across the batch boundary") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.engine.Relational
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    // customer 1: first order month 24001 in batch 1, month 24003 in
    // batch 2 -> the batch-2 order must label fm=24001 (returning);
    // customer 2 first appears in batch 2 -> new. Batch 1 also carries
    // an out-of-order arrival (the later order first) to exercise the
    // in-group sort.
    val b1 = Seq(Relational.NvOrd(1L, 2000L, 11L, 24002L),
      Relational.NvOrd(1L, 1000L, 10L, 24001L))
    val b2 = Seq(Relational.NvOrd(1L, 3000L, 12L, 24003L),
      Relational.NvOrd(2L, 3000L, 13L, 24003L))
    val ms = MemoryStream[Relational.NvOrd]
    val q = Keyed.run(ms.toDS(), Relational.nvFold)
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("nvst").start()
    ms.addData(b1: _*); q.processAllAvailable()
    ms.addData(b2: _*); q.processAllAvailable(); q.stop()
    val rows = s.table("nvst").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(rows == Seq((1L, 24001L, 24001L), (1L, 24002L, 24001L),
      (1L, 24003L, 24001L), (2L, 24003L, 24003L)),
      s"running-min labels with cross-batch carry, got $rows")
  }

  test("streaming new-vs-returning over the fixture equals the batch table") {
    import graft.engine.Relational
    def key(r: org.apache.spark.sql.Row) = r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
    val stream = Relational.q_stream_new_vs_returning(spark, sf0001)
      .collect().map(key).toMap
    val batch = Relational.q_agg_new_vs_returning(spark, sf0001)
      .collect().map(key).toMap
    assert(stream == batch, "batch ≡ stream through the shared assembly")
  }

  test("q_llm_dedup_funnel is monotone and consistent with the cluster table") {
    import graft.engine.LlmOps
    val funnel = LlmOps.q_llm_dedup_funnel(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))).toMap
    // the funnel must shrink at every tier: docs >= exact survivors >=
    // cluster survivors; kept tokens <= tokens in
    funnel.foreach { case (lang, (nd, nt, nx, nc, kt, ks)) =>
      assert(nx <= nd, s"$lang exact <= in")
      assert(nc <= nx, s"$lang clusters <= exact (jaccard-1 subsumes)")
      assert(kt <= nt, s"$lang kept tokens <= tokens in")
      assert(ks == r6(kt.toDouble / nt.toDouble), s"$lang share")
    }
    // n_docs and n_clusters must agree with q_llm_dedup_clusters
    val clus = LlmOps.q_llm_dedup_clusters(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(funnel.keySet == clus.keySet, "same lang spine")
    funnel.foreach { case (lang, (nd, _, _, nc, _, _)) =>
      assert(clus(lang) == ((nd, nc)), s"$lang docs/clusters agree")
    }
  }

  test("q_stats_holm equals a driver-side step-down replay and nests inside BH") {
    def r9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val holm = StatsOps.q_stats_holm(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(5),
        r.getLong(6), r.getDouble(7), r.getDouble(8), r.getBoolean(9)))
    val m = holm.length
    // ranks are the full 1..m spine sorted by (p, tie-break); padj is
    // the monotone running max; rejection is the step-down prefix rule
    assert(holm.map(_._5).toSeq == (1L to m.toLong), "rank spine")
    // the emitted pseudo_p is itself round-9, so the replayed adjusted p
    // carries up to m·5e-10 of rounding slack vs the query's unrounded
    // chain — compare within 1e-6 (the round-6 display grain)
    var runMax = 0.0; var prefixOk = true; var prevPadj = 0.0
    holm.sortBy(_._5).foreach { case (_, _, _, pp, i, sa, padj, rej) =>
      assert(sa == r9(0.05 / (m - i + 1).toDouble), s"rank $i alpha")
      runMax = math.max(runMax, math.min(1.0, (m - i + 1).toDouble * pp))
      assert(math.abs(padj - runMax) <= 1e-6, s"rank $i padj")
      assert(padj + 1e-12 >= prevPadj, s"rank $i padj monotone")
      prevPadj = padj
      val thr = 0.05 / (m - i + 1).toDouble
      prefixOk = prefixOk && pp <= thr
      if (math.abs(pp - thr) > 1e-8)
        assert(rej == prefixOk, s"rank $i step-down rejection")
    }
    // Holm (FWER) is never more liberal than BH (FDR) at the same alpha
    val bhRej = StatsOps.q_stats_fdr_bh(spark, sf0001).collect()
      .filter(_.getBoolean(7))
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val holmRej = holm.filter(_._8).map(t => (t._1, t._2, t._3)).toSet
    assert(holmRej.subsetOf(bhRej), "Holm rejections nest inside BH's")
  }

  test("q_llm_ann_recall_curve k=3 point equals the single-point operator") {
    import graft.engine.LlmOps
    val curve = LlmOps.q_llm_ann_recall_curve(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(curve.keySet == Set(1L, 3L, 10L), "operating points")
    val per = LlmOps.q_llm_ann_recall(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val (nq3, hits3, rec3) = curve(3L)
    assert(nq3 == per.length.toLong, "same query set")
    assert(hits3 == per.map(_._2).sum, "k=3 hits agree with q_llm_ann_recall")
    assert(rec3 == r6(hits3.toDouble / (3.0 * nq3.toDouble)), "k=3 recall")
    curve.foreach { case (k, (nq, hits, rec)) =>
      assert(hits <= k * nq, s"k=$k hits bounded")
      assert(rec == r6(hits.toDouble / (k * nq).toDouble), s"k=$k division")
    }
  }

  test("q_embed_sq8 equals a driver-side floor-code replay") {
    val embs = Tables.embeddings(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val dims = embs.head._2.length
    val mn = (0 until dims).map(j => embs.map(_._2(j).toDouble).min).toArray
    val mx = (0 until dims).map(j => embs.map(_._2(j).toDouble).max).toArray
    val want = embs.map { case (id, v) =>
      var e2 = 0.0
      for (j <- 0 until dims) {
        val x = v(j).toDouble
        val rg = mx(j) - mn(j)
        val e = if (rg == 0) 0.0 else {
          val code = math.floor((x - mn(j)) * 255.0 / rg + 0.5)
          x - (mn(j) + code * rg / 255.0)
        }
        e2 += e * e // same left-assoc fold order as the generated column
      }
      (id, r6(math.sqrt(e2)))
    }.sortBy { case (id, e) => (-e, id) }.take(20)
    val got = Gnn.q_embed_sq8(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == want.toSeq, "top-20 worst reconstruction table")
    // int8 quantization error is bounded: per-dim |e| <= range/510, so
    // err <= sqrt(sum (range_j/510)^2) — the audit can never exceed it
    val bound = math.sqrt((0 until dims).map { j =>
      val h = (mx(j) - mn(j)) / 510.0; h * h
    }.sum)
    got.foreach { case (id, e) => assert(e <= bound + 1e-9, s"vec $id bound") }
  }
}

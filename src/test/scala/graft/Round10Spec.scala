package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Keyed, LlmOps, StatsOps, Tables}

/** Driver-round-7 additions: semantic invariants beyond the oracle
  * hash-compare for the trend/changepoint monitors and the MinHash
  * estimator audit. */
class Round10Spec extends AnyFunSuite {
  import TestSpark._

  /** The daily cents series the two monitors consume, replayed. */
  private def daily(sf: String): Map[String, Seq[(Int, Long)]] = {
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

  test("ols_trend: matches a scala least-squares replay to 1e-9") {
    val fit = StatsOps.q_agg_ols_trend(spark, sf001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    daily(sf001).foreach { case (et, series) =>
      val n = series.length.toDouble
      val sx = series.map(_._1.toDouble).sum
      val sy = series.map(_._2.toDouble).sum
      val sxx = series.map(p => p._1.toDouble * p._1).sum
      val sxy = series.map(p => p._1.toDouble * p._2).sum
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      val intercept = (sy - slope * sx) / n
      val (nd, s, i0) = fit(et)
      assert(nd == series.length, s"$et n_days")
      assert(math.abs(s - slope) <= 1e-9 * math.max(1.0, math.abs(slope)), s"$et slope $s vs $slope")
      assert(math.abs(i0 - intercept) <= 1e-6 * math.max(1.0, math.abs(intercept)),
        s"$et intercept $i0 vs $intercept")
      // the fitted line passes through the mean point
      assert(math.abs((i0 + s * (sx / n)) - sy / n) <= 1e-6 * math.abs(sy / n))
    }
  }

  test("changepoint: argmax |n·S_i| replayed exactly (earliest-day ties)") {
    val got = StatsOps.q_time_changepoint(spark, sf001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDate(2).toString, r.getLong(3)))
      .toMap
    daily(sf001).foreach { case (et, series) =>
      val n = series.length.toLong
      var p = 0L
      val t = series.map(_._2).sum
      val scored = series.zipWithIndex.init.map { case ((x, y), idx) =>
        p += y
        (x, math.abs(n * p - (idx + 1L) * t))
      }
      val best = scored.maxBy { case (x, ns) => (ns, -x) }
      val (nd, cpDay, cn) = got(et)
      assert(nd == n, s"$et n_days")
      assert(cn == best._2, s"$et cusum_num $cn vs ${best._2}")
      val expectDay = java.time.LocalDate.of(2024, 1, 1).plusDays(best._1)
      assert(cpDay == expectDay.toString, s"$et cp_day $cpDay vs $expectDay")
    }
  }

  test("ttest: welch statistic replayed from exact moments to 1e-9") {
    import org.apache.spark.sql.functions._
    val got = StatsOps.q_agg_ttest(spark, sf001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val ev = Tables.events(spark, sf001).select(col("event_type"),
        round(col("value") * 100, 0).cast("bigint").as("c"),
        (to_date(col("ts")) <= lit("2024-01-15").cast("date")).as("is_ref"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    ev.groupBy(_._1).foreach { case (et, rows) =>
      val (ref, cur) = rows.partition(_._3)
      val (n1, n2) = (ref.length.toLong, cur.length.toLong)
      if (n1 > 1 && n2 > 1) {
        def mom(xs: Array[(String, Long, Boolean)]) =
          (xs.map(r => BigInt(r._2)).sum.toDouble,
            xs.map(r => BigInt(r._2) * r._2).sum.toDouble)
        val (s1, q1) = mom(ref); val (s2, q2) = mom(cur)
        val v1 = (n1 * q1 - s1 * s1) / (n1.toDouble * (n1 - 1))
        val v2 = (n2 * q2 - s2 * s2) / (n2.toDouble * (n2 - 1))
        val (se1, se2) = (v1 / n1, v2 / n2)
        val t = (s1 / n1 - s2 / n2) / math.sqrt(se1 + se2)
        val df = (se1 + se2) * (se1 + se2) /
          (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1))
        val (gn1, gn2, gt, gdf) = got(et)
        assert(gn1 == n1 && gn2 == n2, s"$et counts")
        assert(math.abs(gt - t) <= 1e-9 * math.max(1, math.abs(t)), s"$et t $gt vs $t")
        assert(math.abs(gdf - df) <= 1e-6 * df, s"$et df $gdf vs $df")
      } else assert(!got.contains(et), s"$et degenerate half must be excluded")
    }
  }

  test("zipf: slope negative; fit replayed over the ranked vocabulary") {
    import org.apache.spark.sql.functions._
    val got = graft.engine.TextOps.q_text_zipf(spark, sf001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    val tf = Tables.documents(spark, sf001)
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("lang", "tok").count().collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    def r9(x: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(x).setScale(9, java.math.RoundingMode.HALF_UP)
    tf.groupBy(_._1).foreach { case (lang, rows) =>
      val top = rows.sortBy(r => (-r._3, r._2)).take(100).zipWithIndex
      var (sx, sy, sxx, sxy) = (java.math.BigDecimal.ZERO, java.math.BigDecimal.ZERO,
        java.math.BigDecimal.ZERO, java.math.BigDecimal.ZERO)
      top.foreach { case ((_, _, f), i) =>
        val lx = r9(StrictMath.log((i + 1).toDouble))
        val ly = r9(StrictMath.log(f.toDouble))
        sx = sx.add(lx); sy = sy.add(ly)
        sxx = sxx.add(r9(lx.doubleValue * lx.doubleValue))
        sxy = sxy.add(r9(lx.doubleValue * ly.doubleValue))
      }
      val n = top.length.toDouble
      val slope = (n * sxy.doubleValue - sx.doubleValue * sy.doubleValue) /
        (n * sxx.doubleValue - sx.doubleValue * sx.doubleValue)
      val (nTop, gSlope, _) = got(lang)
      assert(nTop == top.length, s"$lang n_top")
      assert(gSlope < 0, s"$lang slope must be negative: $gSlope")
      assert(math.abs(gSlope - slope) <= 1e-9 * math.abs(slope),
        s"$lang slope $gSlope vs $slope")
    }
  }

  test("appnp: 3-step propagation replayed in plain scala") {
    import graft.engine.{Gnn, GraphOps}
    val ue = GraphOps.undProj(spark, sf0001, GraphOps.TriangleMinCooccur)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val emb = Tables.embeddings(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val nEmb = emb.size
    def hup(t: Double): Long =
      java.math.BigDecimal.valueOf(t)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    val nodes = ue.map(_._1).distinct
    val deg = ue.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val nbrs = ue.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val x6 = nodes.map { v =>
      v -> (0 until 4).map(j => hup(emb(v % nEmb)(j).toDouble * 1000000)).toArray
    }.toMap
    var z = x6
    for (_ <- 1 to 3) {
      z = nodes.map { v =>
        val ns = nbrs(v).map(z)
        v -> (0 until 4).map { j =>
          hup(0.75 * (ns.map(_(j)).sum.toDouble / deg(v)) + 0.25 * x6(v)(j))
        }.toArray
      }.toMap
    }
    val got = Gnn.q_gnn_appnp(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (1 to 4).map(r.getDouble).toArray).toMap
    assert(got.keySet == z.keySet, "node sets differ")
    z.foreach { case (v, zv) =>
      (0 until 4).foreach { j =>
        val expect = zv(j).toDouble / 1000000
        assert(got(v)(j) == expect, s"node $v dim ${j + 1}: ${got(v)(j)} vs $expect")
      }
    }
  }

  test("winnowing: full per-lang accounting replayed in plain scala") {
    val got = graft.engine.TextOps.q_llm_winnowing(spark, sf0001).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    val docs = Tables.documents(spark, sf0001)
      .filter(org.apache.spark.sql.functions.expr("doc_id % 10 = 0 AND length(text) >= 11"))
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(docs.nonEmpty)
    val md = java.security.MessageDigest.getInstance("MD5")
    def h40(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(10), 16)
    }
    val cap = 2097152L
    val sel = docs.flatMap { case (id, lang, text) =>
      val keys = (1 to text.length - 7).map(i =>
        h40(text.substring(i - 1, i + 7)) * cap + (cap - 1 - i))
      (0 to keys.length - 4).map(s => keys.slice(s, s + 4).min).distinct
        .map(k => (lang, id, k))
    }
    val perLang = docs.groupBy(_._2)
    perLang.foreach { case (lang, ds) =>
      val langSel = sel.filter(_._1 == lang)
      val hashDocs = langSel.map { case (_, id, k) => (k / cap, id) }.distinct
      val byHash = hashDocs.groupBy(_._1)
      val (nDocs, nGrams, nFp, nHashes, nShared) = got(lang)
      assert(nDocs == ds.length, s"$lang n_docs")
      assert(nGrams == ds.map(_._3.length - 7).map(_.toLong).sum, s"$lang n_grams")
      assert(nFp == langSel.length, s"$lang n_fp $nFp vs ${langSel.length}")
      assert(nHashes == byHash.size, s"$lang n_hashes")
      assert(nShared == byHash.count(_._2.map(_._2).distinct.size >= 2), s"$lang n_shared")
    }
  }

  test("seasonal decompose: MA trend + per-dow means replayed in plain scala") {
    val got = StatsOps.q_time_seasonal_decompose(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    def r9(x: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(x).setScale(9, java.math.RoundingMode.HALF_UP)
    daily(sf001).foreach { case (et, series) =>
      val s = series.sortBy(_._1)
      val byDow = scala.collection.mutable.Map
        .empty[Long, (Long, java.math.BigDecimal)]
      s.foreach { case (x, y) =>
        val inFrame = s.filter(p => math.abs(p._1 - x) <= 3)
        val trend = inFrame.map(p => BigInt(p._2)).sum.toDouble / inFrame.length
        val term = r9(y.toDouble - trend)
        val dow = ((x % 7) + 7) % 7
        val (c, acc) = byDow.getOrElse(dow.toLong, (0L, java.math.BigDecimal.ZERO))
        byDow(dow.toLong) = (c + 1, acc.add(term))
      }
      byDow.foreach { case (dow, (n, acc)) =>
        val seasonal = java.math.BigDecimal.valueOf(acc.doubleValue / n)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
        assert(got((et, dow)) == ((n, seasonal)),
          s"$et dow=$dow: ${got((et, dow))} vs ($n, $seasonal)")
      }
    }
  }

  test("text/binary round trips conserve docs, ids and byte mass") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf0001)
    val byLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val txt = graft.engine.SourceOps.q_src_text_roundtrip(spark, sf0001).collect()
    txt.foreach { r =>
      assert(r.getLong(1) == byLang(r.getString(0)), s"${r.getString(0)} doc count")
      assert(r.getLong(2) == r.getLong(1), "every doc id must survive distinct")
    }
    val bin = graft.engine.SourceOps.q_src_binary_ingest(spark, sf0001).collect()
    val sampled = docs.filter(col("doc_id") % 100 === 0).count()
    assert(bin.map(_.getLong(1)).sum == sampled, "one file per sampled media object")
    assert(bin.map(_.getString(0)).sorted.toSeq == Seq("audio", "image", "video"))
  }

  test("span_corruption: mask and sentinel accounting replayed in plain scala") {
    val got = graft.engine.PipelineOps.q_llm_span_corruption(spark, sf0001).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(x: String): Long = {
      val hex = md.digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    docs.groupBy(_._2).foreach { case (lang, ds) =>
      var (tok, masked, sent) = (0L, 0L, 0L)
      ds.foreach { case (id, _, text) =>
        val n = text.split(" ", -1).length
        tok += n
        val starts = (1 to n).map(p => h60(s"span:$id:$p") % 20 == 0)
        var prev = false
        (1 to n).foreach { p =>
          val m = (math.max(1, p - 2) to p).exists(q => starts(q - 1))
          if (m) { masked += 1; if (!prev) sent += 1 }
          prev = m
        }
      }
      val (nd, nt, nm, ns) = got(lang)
      assert(nd == ds.length && nt == tok && nm == masked && ns == sent,
        s"$lang: got ($nd,$nt,$nm,$ns) vs (${ds.length},$tok,$masked,$sent)")
    }
  }

  test("betweenness: forward sigma + backward delta replayed in plain scala") {
    import graft.engine.GraphOps
    val ue = GraphOps.undProj(spark, sf0001, GraphOps.CcMinCooccur)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nbrs = ue.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val seeds = ue.map(_._1).distinct.sorted.take(GraphOps.BetwSeeds)
    def r9(x: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(x).setScale(9, java.math.RoundingMode.HALF_UP)
    val bc = scala.collection.mutable.Map.empty[Long, java.math.BigDecimal]
    seeds.foreach { s0 =>
      // forward: per-level sigma
      var levels = List(Map(s0 -> 1L))
      var visited = Set(s0)
      for (_ <- 1 to GraphOps.BetwHops) {
        val nxt = scala.collection.mutable.Map.empty[Long, Long]
        levels.head.foreach { case (v, sig) =>
          nbrs.getOrElse(v, Array.empty[Long]).foreach { w =>
            if (!visited.contains(w)) nxt(w) = nxt.getOrElse(w, 0L) + sig
          }
        }
        visited ++= nxt.keys
        levels = nxt.toMap :: levels
      }
      val lv = levels.reverse // lv(0) = seed level ... lv(H)
      // backward: delta per level
      var delta = Map.empty[Long, (java.math.BigDecimal, Double)]
      var wLevel = lv(GraphOps.BetwHops).keys
        .map(n => n -> (java.math.BigDecimal.ZERO, 0.0)).toMap
      // record level-H zero deltas too (they contribute 0)
      for (d <- (0 until GraphOps.BetwHops).reverse) {
        val dl = lv(d).map { case (v, vsig) =>
          var sum = java.math.BigDecimal.ZERO
          nbrs.getOrElse(v, Array.empty[Long]).foreach { w =>
            lv(d + 1).get(w).foreach { wsig =>
              val wd = wLevel(w)._2
              sum = sum.add(r9(vsig.toDouble / wsig.toDouble * (1.0 + wd)))
            }
          }
          v -> (sum, sum.doubleValue)
        }
        delta ++= dl
        wLevel = dl
      }
      (delta ++ lv(GraphOps.BetwHops).keys.map(n =>
          n -> (java.math.BigDecimal.ZERO, 0.0)).toMap)
        .foreach { case (v, (dec, _)) =>
          if (v != s0)
            bc(v) = bc.getOrElse(v, java.math.BigDecimal.ZERO).add(dec)
        }
    }
    val expect = bc.toSeq
      .map { case (v, dec) =>
        (v, java.math.BigDecimal.valueOf(dec.doubleValue)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue)
      }
      .sortBy { case (v, c) => (-c, v) }.take(20)
    val got = GraphOps.q_graph_betweenness(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expect, s"top-20 mismatch:\n got=$got\n exp=$expect")
  }

  /** Sequential Holt-Winters replay shared by both tests below. */
  private def hwReplay(series: Seq[(Long, Double)]): (Long, Double, Double, Double) = {
    var (l, b, n, lastX) = (0.0, 0.0, 0L, 0L)
    val s = Array.fill(7)(0.0)
    series.sortBy(_._1).foreach { case (x, y) =>
      val idx = ((x % 7) + 7).toInt % 7
      if (n == 0) { l = y; b = 0.0; n = 1; lastX = x }
      else {
        val sPrev = s(idx)
        val lNew = 0.5 * (y - sPrev) + 0.5 * (l + b)
        b = 0.25 * (lNew - l) + 0.75 * b
        s(idx) = 0.5 * (y - lNew) + 0.5 * sPrev
        l = lNew; n += 1; lastX = x
      }
    }
    val nIdx = (((lastX + 1) % 7) + 7).toInt % 7
    (n, l, b, s(nIdx))
  }

  test("holt_winters: final state replays the sequential recursion exactly") {
    import org.apache.spark.sql.functions._
    val snap = StatsOps.q_stream_holt_winters(spark, sf0001).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    val series = Tables.events(spark, sf0001)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(expr("cast(value as decimal(18,2))")).cast("double").as("y"))
      .select(col("event_type"),
        datediff(col("day"), lit("2024-01-01").cast("date")).cast("bigint").as("x"),
        col("y"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    series.groupBy(_._1).foreach { case (et, rows) =>
      val (n, l, b, sn) = hwReplay(rows.map(r => (r._2, r._3)).toSeq)
      assert(snap(et) == ((n, l, b, sn, l + b + sn)), s"$et holt-winters mismatch")
    }
  }

  test("streaming holt_winters converges to the batch recursion across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val days = (1 to 17).map(d => StatsOps.HwIn("t", d.toLong, d * 10.0 + (d % 7) * 3.0))
    val ms = MemoryStream[StatsOps.HwIn]
    val q = Keyed.run(ms.toDS(), StatsOps.holtWintersFold)
      .toDF()
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("hwst").start()
    ms.addData(days.take(8): _*); q.processAllAvailable()
    ms.addData(days.drop(8): _*); q.processAllAvailable(); q.stop()
    val fin = s.table("hwst").collect().maxBy(_.getLong(1))
    val (n, l, b, sn) = hwReplay(days.map(e => (e.x, e.y)))
    assert(fin.getLong(1) == n && fin.getDouble(2) == l && fin.getDouble(3) == b
        && fin.getDouble(4) == sn,
      "cross-batch seasonal state must equal the sequential recursion bit-for-bit")
  }

  test("hll_md5: sketch replayed exactly in scala; estimate within 20% of exact") {
    import org.apache.spark.sql.functions._
    val got = graft.engine.SketchOps.q_agg_hll_md5(spark, sf001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    val users = Tables.events(spark, sf001)
      .select(col("event_type"), col("user_id")).distinct().collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(s2: String): Long = {
      val hex = md.digest(s2.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    users.groupBy(_._1).foreach { case (et, us) =>
      val regs = Array.fill(256)(0L)
      us.foreach { case (_, uid) =>
        val h = h60(s"hll:$uid")
        val bucket = (h >> 52).toInt
        val suffix = h & 4503599627370495L
        val rho = if (suffix == 0) 53L else 53L - (64 - java.lang.Long.numberOfLeadingZeros(suffix))
        if (rho > regs(bucket)) regs(bucket) = rho
      }
      val z = regs.map(m => 1L << (53 - m)).sum
      val v = regs.count(_ == 0L).toLong
      val eRaw = 0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0 * 9007199254740992.0 / z.toDouble
      val e = if (eRaw <= 2.5 * 256.0 && v > 0) 256.0 * math.log(256.0 / v) else eRaw
      val est = java.math.BigDecimal.valueOf(e)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
      val (nExact, gz, gv, gest) = got(et)
      assert(nExact == us.length.toLong, s"$et n_exact")
      assert(gz == z && gv == v, s"$et registers: z $gz vs $z, v $gv vs $v")
      assert(gest == est, s"$et est $gest vs $est")
      assert(math.abs(gest - nExact) <= 0.2 * nExact,
        s"$et estimate $gest vs exact $nExact outside 20%")
    }
  }

  test("minhash_est: estimator stats well-formed; candidates cover the dedup output") {
    val est = LlmOps.q_llm_minhash_est(spark, sf0001).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    est.foreach { case (lang, (n, meanEst, mae, bias, maxErr)) =>
      assert(n > 0, s"$lang: empty candidate set")
      assert(meanEst >= 0.0 && meanEst <= 1.0, s"$lang mean_est $meanEst")
      assert(mae >= 0.0 && mae <= 1.0, s"$lang mae $mae")
      assert(math.abs(bias) <= mae + 1e-12, s"$lang |bias| ${bias} > mae $mae")
      assert(maxErr >= mae - 1e-12 && maxErr <= 1.0, s"$lang max_abs_err $maxErr")
    }
    // every pair the banded dedup pass emits is (by construction) one of
    // the estimator's candidates: per-lang candidate count >= dedup rows
    val dedup = LlmOps.q_llm_minhash_md5(spark, sf0001).collect()
      .groupBy(_.getString(0)).view.mapValues(_.length.toLong).toMap
    dedup.foreach { case (lang, nd) =>
      assert(est.contains(lang) && est(lang)._1 >= nd,
        s"$lang: ${est.get(lang).map(_._1)} candidates < $nd dedup pairs")
    }
  }
}

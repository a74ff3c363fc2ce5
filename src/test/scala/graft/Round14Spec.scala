package graft

import java.math.RoundingMode

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{StatsOps, Tables, TextOps}

/** Plain-Scala replays of the round-14 operators at sf0.001 — the same
  * independent-mirror discipline as Round13Spec: every number the query
  * emits is recomputed from the raw fixture with driver-side Scala
  * (BigDecimal HALF_UP where the query rounds), then compared exactly. */
class Round14Spec extends AnyFunSuite {
  import TestSpark._

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("q_text_pmi equals a driver-side replay (counts, pmi, ranking)") {
    val s = spark
    val docs = Tables.documents(s, sf0001)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val toks = docs.map { case (id, lang, text) =>
      (id, lang, text.split(" ").filter(_.nonEmpty).distinct.toSeq)
    }.filter(_._3.nonEmpty)
    val byLang = toks.groupBy(_._2)
    val expected = byLang.toSeq.flatMap { case (lang, ds) =>
      val nDocs = ds.map(_._1).distinct.size.toLong
      val wc = ds.flatMap(_._3).groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
      val cab = ds.flatMap { case (_, _, ts) =>
        for (a <- ts; b <- ts if b > a) yield (a, b)
      }.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
        .filter(_._2 >= 5L)
      val scored = cab.toSeq.map { case ((a, b), c) =>
        (a, b, c, r6(math.log(c.toDouble * nDocs / (wc(a).toDouble * wc(b)))))
      }
      scored.sortBy { case (a, b, _, pmi) => (-pmi, a, b) }
        .take(10).zipWithIndex
        .map { case ((a, b, c, pmi), i) => (lang, (i + 1).toLong, a, b, c, pmi) }
    }.sortBy(t => (t._1, t._2))
    val got = TextOps.q_text_pmi(s, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getDouble(5))).toSeq
    assert(got.nonEmpty, "pmi must produce rows on the fixture")
    assert(got == expected,
      s"pmi replay mismatch:\n got=${got.take(5)}\n exp=${expected.take(5)}")
  }

  test("q_stream_cusum fold: micro-batch split equals single shot; drawdown = recursion") {
    // deterministic 25-day series with a level shift at day 18
    val days = (0 until 25).map { x =>
      StatsOps.CusumIn("t", x.toLong, 1000L + (x % 7) * 13L + (if (x >= 18) 400L else 0L))
    }
    def fold(batches: Seq[Seq[StatsOps.CusumIn]]): StatsOps.CusumSnap =
      KeyedReplay.rows(StatsOps.cusumFold, batches).last
    val single = fold(Seq(days))
    val split = fold(Seq(days.take(12), days.slice(12, 19), days.drop(19)))
    assert(split == single,
      "state carried across micro-batches must reproduce the single-shot fold")
    // independent mirror: the textbook max(0, ...) recursion
    val sref = days.take(10).map(_.y).sum
    var c = 0L; var cmax = 0L; var peak = -1L; var alarms = 0L
    days.drop(10).foreach { e =>
      c = math.max(0L, c + (10L * e.y - sref))
      if (c > cmax) { cmax = c; peak = e.x }
      if (10L * c > 10L * sref) alarms += 1
    }
    assert(single.cusum_pos_max == cmax && single.peak_x == peak &&
      single.alarm_days == alarms && single.n_monitored == 15L,
      s"drawdown-identity fold must equal the Page recursion: $single vs ($cmax, $peak, $alarms)")
  }

  test("q_time_cusum equals a driver-side replay; the path closes at zero") {
    val s = spark
    val ev = Tables.events(s, sf0001)
      .selectExpr("event_type", "to_date(ts) AS day", "value").collect()
      .map(r => (r.getString(0), r.getDate(1), r.getDouble(2)))
    def cents(v: Double): Long =
      BigDecimal(v * 100).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val daily = ev.groupBy(t => (t._1, t._2))
      .map { case ((et, d), xs) => (et, d, xs.map(x => cents(x._3)).sum) }
    val expected = daily.groupBy(_._1).toSeq.map { case (et, rows) =>
      val ordered = rows.toSeq.sortBy(_._2.getTime)
      val n = ordered.size.toLong
      val sy = ordered.map(_._3).sum
      val path = ordered.scanLeft(0L) { case (acc, (_, _, y)) => acc + (n * y - sy) }.drop(1)
      assert(path.last == 0L, s"$et: the CUSUM path must close at zero")
      val cmax = path.max
      val cmin = path.min
      val peak = ordered(path.indexOf(cmax))._2
      val rv = new java.math.BigDecimal((cmax - cmin).toDouble * 100 / n)
        .setScale(0, RoundingMode.HALF_UP).doubleValue() / 1e4
      (et, n, cmax, cmin, peak, rv)
    }.sortBy(_._1)
    val got = StatsOps.q_time_cusum(s, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDate(4), r.getDouble(5))).toSeq
    assert(got.nonEmpty)
    assert(got.map(t => (t._1, t._2, t._3, t._4, t._5.toString, t._6)) ==
      expected.map(t => (t._1, t._2, t._3, t._4, t._5.toString, t._6)),
      s"cusum replay mismatch:\n got=$got\n exp=$expected")
  }
}

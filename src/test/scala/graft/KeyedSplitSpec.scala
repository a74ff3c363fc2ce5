package graft

import scala.util.Random

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{ClusterOps, GraphOps, Keyed, LlmOps, Relational, SketchOps, StatsOps,
  StreamingGnn, StreamingOps, TextOps}

/** Micro-batch split law of every `Keyed` fold, on `KeyedReplay`: rows
  * in arrival order cut at random points into micro-batches give the
  * same final per-key output as one batch. Folds whose state is exact
  * integers, sets, a max, or a series they sort within the batch must
  * also give it when each batch arrives in random order. A key's final
  * output is the rows of its last call for snapshot folds, and all the
  * rows it emitted for event emitters (anomaly, markov, new-vs-returning)
  * and for the Append folds (count window, CEP).
  *
  * Not shuffled: the f64 neighbor sums of embedFold and custRepFold.
  * custRepFold's last record is compared on (h, version): its `old` is
  * the h before the last batch, so it depends on where the batches
  * were cut; a chain property covers `old`. partRepFold reads real
  * layer-1 change records, and a two-layer law checks both layers
  * together, with the hop re-batching and re-delivering records.
  * Generators follow each fold's input contract: the time-ordered
  * folds get rows in their sort order, the daily-series folds one row
  * per (key, day) — the daily aggregate their queries feed them. */
class KeyedSplitSpec extends AnyFunSuite {

  /** Outputs compared structurally: arrays by content, doubles by bits. */
  private def norm(x: Any): Any = x match {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case a: Array[_] => a.toSeq.map(norm)
    case s: Iterable[_] => s.map(norm).toSeq
    case p: Product => p.productPrefix +: p.productIterator.map(norm).toSeq
    case other => other
  }

  private def finalOut[E, K, S, O](f: Keyed.Fold[E, K, S, O], batches: Seq[Seq[E]],
      emitter: Boolean, view: O => Any = (o: Any) => o): Map[K, Any] =
    KeyedReplay(f, batches).groupMap(_._1)(_._2).map { case (k, calls) =>
      k -> norm(if (emitter) calls.flatten.map(view) else calls.last.map(view))
    }

  /** `in` cut into consecutive batches at the given points. */
  private def cutAt[T](in: Seq[T], cuts: Seq[Int]): Seq[Seq[T]] = {
    val pts = (0 +: cuts.map(_ % (in.size + 1)) :+ in.size).distinct.sorted
    pts.zip(pts.tail).map { case (a, b) => in.slice(a, b) }
  }
  private val cuts = Gen.listOf(Gen.choose(0, 1000))

  private def law[E, K, S, O](f: Keyed.Fold[E, K, S, O], rows: Gen[Seq[E]],
      emitter: Boolean = false, shuffle: Boolean = true, view: O => Any = (o: Any) => o): Prop =
    Prop.forAllNoShrink(rows, cuts, Gen.long) { (in, cs, seed) =>
      val batches = cutAt(in, cs)
      val one = finalOut(f, Seq(in), emitter, view)
      val split = finalOut(f, batches, emitter, view)
      val rnd = new Random(seed)
      val mixed = if (shuffle) finalOut(f, batches.map(rnd.shuffle(_)), emitter, view) else one
      (split == one) :| s"split into ${batches.map(_.size)}" && (mixed == one) :| "within-batch order"
    }

  private def run(name: String, p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(100), p)
    assert(res.passed, s"$name: ${res.status}")
  }
  private def check(name: String, p: Prop): Unit = test(s"$name: split law")(run(name, p))

  // ---- generators -------------------------------------------------------

  private val etype = Gen.oneOf("click", "view", "purchase")
  private def rowsOf[T](g: Gen[T], max: Int = 120): Gen[Seq[T]] =
    Gen.choose(0, max).flatMap(n => Gen.listOfN(n, g))
  /** Rows numbered in arrival order (the event id). */
  private def numbered[T](g: Gen[Long => T], max: Int = 120): Gen[Seq[T]] =
    rowsOf(g, max).map(_.zipWithIndex.map { case (mk, i) => mk(i.toLong) })
  /** One row per (key, day), days ascending: a daily series per key. */
  private def daily[T](mk: (String, Long, Long) => T): Gen[Seq[T]] =
    rowsOf(Gen.zip(Gen.oneOf("a", "b"), Gen.choose(0L, 59L), Gen.choose(-500L, 5000L)))
      .map(_.distinctBy(r => (r._1, r._2)).sortBy(_._2).map(r => mk(r._1, r._2, r._3)))
  private val vec = Gen.listOfN(StreamingGnn.Dim, Gen.choose(-1f, 1f)).map(_.toArray)
  private val edgeFeats = rowsOf(Gen.zip(Gen.choose(1L, 3L), vec)
    .map { case (c, v) => StreamingGnn.EdgeFeat(c, v) }, 40)
  private val cents = Gen.frequency(8 -> Gen.choose(95L, 105L), 1 -> Gen.choose(0L, 5000L))

  // ---- streaming GNN ----------------------------------------------------

  import StreamingGnn.{Change, CustRep, PartMsg}

  check("embedFold", law(StreamingGnn.embedFold, edgeFeats, shuffle = false))
  check("custRepFold", law(StreamingGnn.custRepFold, edgeFeats, shuffle = false,
    view = (r: CustRep) => (Change(r.rep).h, Change(r.rep).version)))

  test("custRepFold: each record retracts its customer's previous record") {
    run("custRepFold chain", Prop.forAllNoShrink(edgeFeats, cuts) { (in, cs) =>
      val recs = KeyedReplay.rows(StreamingGnn.custRepFold, cutAt(in, cs)).groupBy(_.cust)
      recs.forall { case (c, rs) =>
        val ch = rs.map(r => Change(r.rep))
        ch.head.old.isEmpty && ch.last.version == in.count(_.cust == c) &&
          ch.zip(ch.tail).forall { case (a, b) =>
            a.version < b.version && b.old.map(norm) == Some(norm(a.h))
          }
      }
    })
  }

  /** Co-purchase edge events (customer, part, the part's features). */
  private val events = rowsOf(Gen.zip(Gen.choose(1L, 4L), Gen.choose(1L, 3L), vec), 40)

  /** The hop: layer 1 over `evs` cut at `cs`, each change record sent to
    * the parts of its customer's first `version` events — the edges
    * seen by the time it was emitted, as the production pipeline joins
    * them — so a part can gain a customer after its first record. */
  private def hop(evs: Seq[(Long, Long, Array[Float])], cs: Seq[Int]): Seq[PartMsg] = {
    val parts = evs.groupMap(_._1)(_._2)
    KeyedReplay.rows(StreamingGnn.custRepFold,
      cutAt(evs.map(e => StreamingGnn.EdgeFeat(e._1, e._3)), cs)).flatMap { r =>
      parts(r.cust).take(Change(r.rep).version.toInt).distinct.map(PartMsg(_, r.cust, r.rep))
    }
  }

  check("partRepFold", law(StreamingGnn.partRepFold,
    Gen.zip(events, cuts).map { case (evs, cs) => hop(evs, cs) }))

  test("partRepFold after custRepFold: two-layer split law with re-delivered hop records") {
    run("two layers", Prop.forAllNoShrink(events, cuts, cuts, Gen.long) { (evs, cs1, cs2, seed) =>
      val rnd = new Random(seed)
      // each hop record, and for about a quarter of them a copy up to 50
      // records later: at-least-once delivery in the hop's order
      val msgs = hop(evs, cs1).zipWithIndex.flatMap { case (m, i) =>
        (i.toDouble, m) +: (if (rnd.nextInt(4) == 0) Seq((i + 1 + rnd.nextDouble() * 50, m)) else Nil)
      }.sortBy(_._1).map(_._2)
      val one = finalOut(StreamingGnn.partRepFold, Seq(hop(evs, Nil)), emitter = false)
      val got = finalOut(StreamingGnn.partRepFold, cutAt(msgs, cs2).map(rnd.shuffle(_)),
        emitter = false)
      (got == one) :| s"${msgs.size} hop records"
    })
  }

  check("poolFold", law(StreamingGnn.poolFold, edgeFeats))

  // ---- event streams ----------------------------------------------------

  check("userAggFold", law(StreamingOps.userAggFold, numbered(
    Gen.zip(Gen.choose(1L, 3L), Gen.choose(0L, 1000000L), Gen.choose(0.0, 500.0))
      .map { case (u, ms, v) => (id: Long) =>
        StreamingOps.Ev(id, u, new java.sql.Timestamp(ms), v) })))
  check("lateFold", law(StreamingOps.lateFold, numbered(
    Gen.zip(etype, Gen.choose(0L, 5000L))
      .map { case (t, sec) => (id: Long) => StreamingOps.LateIn(t, id, sec * 1000000L) })))
  check("countWindowFold", law(StreamingOps.countWindowFold, numbered(
    Gen.zip(Gen.oneOf("a", "b"), cents)
      .map { case (t, c) => (id: Long) => StreamingOps.CwIn(t, id, c) }, 400), emitter = true))
  // events in (ts, event_id) order, the source's contract across batches
  private val cepTypes = Seq("view", "click", "purchase", "error")
  StreamingOps.CepPatterns.foreach { p =>
    check(s"cepFold(${p.name})", law(StreamingOps.cepFold(p), numbered(
      Gen.zip(Gen.choose(1L, 3L), Gen.choose(0L, 300L), Gen.oneOf(cepTypes))
        .map { case (u, min, t) => (id: Long) => StreamingOps.CepEv(u, id, min * 60000000L, t) })
      .map(_.sortBy(e => (e.ts_us, e.event_id))), emitter = true))
  }
  check("anomalyFold", law(StatsOps.anomalyFold, numbered(
    Gen.zip(Gen.oneOf("a", "b"), Gen.choose(0L, 300L), cents)
      .map { case (t, us, c) => (id: Long) => StatsOps.AnomEvent(t, us, id, c) }, 160)
    .map(_.sortBy(e => (e.tsUs, e.event_id))), emitter = true))
  check("markovFold", law(StatsOps.markovFold, numbered(
    Gen.zip(Gen.choose(1L, 3L), Gen.choose(0L, 300L), etype)
      .map { case (u, us, t) => (id: Long) => StatsOps.MkEv(u, id, us, t) })
    .map(_.sortBy(e => (e.us, e.event_id))), emitter = true))

  // ---- order-blind counters and sketches --------------------------------

  check("psiFold", law(StatsOps.psiFold, rowsOf(
    Gen.zip(etype, Gen.choose(0, StatsOps.PsiBuckets - 1), Gen.oneOf(true, false))
      .map { case (t, b, r) => StatsOps.PsiEvent(t, b, r) })))
  check("reservoirFold", law(StatsOps.reservoirFold, numbered(
    Gen.zip(Gen.oneOf("en", "de"), Gen.choose(0L, 1000000L))
      .map { case (l, h) => (id: Long) => StatsOps.ResDoc(l, id, h) })))
  check("ttestFold", law(StatsOps.ttestFold, rowsOf(
    Gen.zip(etype, Gen.choose(-1000L, 100000L), Gen.oneOf(true, false))
      .map { case (t, c, r) => StatsOps.TtEv(t, c, r) })))
  check("chi2Fold", law(StatsOps.chi2Fold, rowsOf(
    Gen.zip(etype, Gen.choose(0, StatsOps.PsiBuckets - 1))
      .map { case (t, b) => StatsOps.Chi2Ev(t, b) })))
  check("benfordFold", law(StatsOps.benfordFold,
    rowsOf(Gen.choose(1, 9).map(StatsOps.BenfEv(_)))))
  check("rfmFold", law(Relational.rfmFold, rowsOf(
    Gen.zip(Gen.choose(1L, 3L), Gen.choose(0, 1000), Gen.choose(0L, 100000L))
      .map { case (c, d, m) => Relational.RfmOrd(c, d, m) })))
  check("nvFold", law(Relational.nvFold, numbered(
    Gen.zip(Gen.choose(1L, 3L), Gen.choose(0L, 3000L))
      .map { case (c, us) => (ok: Long) => Relational.NvOrd(c, us, ok, us / 100) })
    .map(_.sortBy(o => (o.us, o.ok))), emitter = true))
  check("isoFold", law(ClusterOps.isoFold, rowsOf(
    Gen.zip(Gen.choose(0L, 1L),
      Gen.listOfN(ClusterOps.EmbDims, Gen.choose(-1000000000L, 1000000000L)),
      Gen.choose(0L, 1000000000L))
      .map { case (sh, u, q) => ClusterOps.IsoIn(sh, u, q) }, 40)))
  check("mhFold", law(LlmOps.mhFold, rowsOf(
    Gen.zip(Gen.oneOf("en", "de"), Gen.listOfN(8, Gen.choose(0L, 1L << 60)))
      .map { case (l, sig) => LlmOps.MhIn(l, sig) })))
  check("xentFold", law(TextOps.xentFold, rowsOf(
    Gen.zip(Gen.choose(1L, 4L), Gen.choose(0L, 5000000000L))
      .map { case (d, n) => TextOps.XentTok(d, if (d % 2 == 0) "de" else "en", n) })))
  check("cmsFold", law(SketchOps.cmsFold, rowsOf(
    Gen.zip(Gen.choose(0, 3), Gen.choose(0, 3)).map { case (d, b) => SketchOps.CmsIn(d, b) })))

  // ---- graph topology ---------------------------------------------------

  private val pair = Gen.zip(Gen.choose(0L, 12L), Gen.choose(0L, 12L))
    .suchThat(p => p._1 != p._2).map(p => (p._1 min p._2, p._1 max p._2))
  check("ccFold", law(GraphOps.ccFold, rowsOf(
    Gen.zip(Gen.choose(0, 1), pair).map { case (sh, (a, b)) => GraphOps.CcEdge(sh, a, b) })))
  check("mstFold", law(GraphOps.mstFold, rowsOf(
    Gen.zip(Gen.choose(0, 1), pair, Gen.choose(1L, 20L))
      .map { case (sh, (a, b), w) => GraphOps.MstEdge(sh, a, b, w) })))

  // ---- daily series -----------------------------------------------------

  check("holtFold", law(StatsOps.holtFold,
    daily((t, x, y) => StatsOps.HoltIn(t, x * 86400000000L, y / 7.0))))
  check("holtWintersFold", law(StatsOps.holtWintersFold,
    daily((t, x, y) => StatsOps.HwIn(t, x, y / 7.0))))
  check("ar2Fold", law(StatsOps.ar2Fold, daily(StatsOps.Ar2In(_, _, _))))
  check("cusumFold", law(StatsOps.cusumFold, daily(StatsOps.CusumIn(_, _, _))))
  check("ewmaFold", law(StatsOps.ewmaFold, daily(StatsOps.EwmaIn(_, _, _))))

  // DecayState carries the day count, so n_days is the whole series'.
  private val decayIn = daily((t, x, c) => StatsOps.DecayIn(t, x, c.abs))
  check("decayFold", law(StatsOps.decayFold, decayIn))
  test("decayFold: n_days of a split series counts every day") {
    val days = Seq(StatsOps.DecayIn("t", 1L, 4L), StatsOps.DecayIn("t", 2L, 6L))
    val one = KeyedReplay.rows(StatsOps.decayFold, Seq(days)).last
    val split = KeyedReplay.rows(StatsOps.decayFold, days.map(Seq(_))).last
    assert(one == StatsOps.DecaySnap("t", 2L, 2L, 8.0))
    assert(split == one)
  }
}

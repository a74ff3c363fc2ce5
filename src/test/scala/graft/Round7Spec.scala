package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Gnn, GraphOps, PartitionOps, StreamingGnn, StreamingOps}

/** Bipartite edge event for the two-hop streaming scenario. */
case class L2Edge(src: Long, dst: Long, embedding: Seq[Float])

/** Round-7 operators: streaming 2-layer GNN (chained keyed-state stages),
  * GNN SGD training step, HDRF streaming edge partitioning. Cross-engine
  * values are pinned by the DuckDB oracle gate; these tests pin semantics
  * a hash-compare would not explain.
  */
class Round7Spec extends AnyFunSuite {
  import TestSpark._

  test("stream 2-layer GNN over fixture matches batch q_gnn_layer2 math") {
    val stream = StreamingGnn.q_stream_gnn_layer2(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), (2 to 5).map(r.getDouble)))).toMap
    val batch = Gnn.q_gnn_layer2(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (1 to 4).map(r.getDouble)).toMap
    assert(stream.keySet == batch.keySet)
    // n_custs = per-part degree of the co-purchase graph
    val deg = GraphOps.edges(spark, sf0001).collect()
      .groupBy(_.getLong(1)).map { case (k, rs) => k -> rs.length.toLong }
    stream.foreach { case (part, (n, gs)) =>
      assert(n == deg(part), s"part $part: n_custs $n vs degree ${deg(part)}")
      gs.zip(batch(part)).foreach { case (a, b) =>
        // both sides round to 6dp; aggregation order may differ by 1 ulp
        // which can flip the last rounded digit
        assert(math.abs(a - b) <= 2e-6, s"part $part: stream $gs vs batch ${batch(part)}")
      }
    }
  }

  test("session seal boundary: wm == end+gap seals, and the earliest admissible event cannot merge") {
    // Pins the inclusive-seal convention (ADVICE r3/r4): a session sealed
    // at exactly wm = endMs + gap is SAFE because the stateful operator's
    // late-row filter admits only events with ts > wm, and such an event
    // starts at least gap+1 past the sealed end — strictly outside the
    // inclusive merge rule (startMs - endMs <= gap). Both halves of that
    // argument are exercised here on the pure session step, called the
    // way a fired timer calls it (no rows) and with an explicit watermark.
    import StreamingOps.{Sess, SessState, timedSessionUpdate}
    val gap = StreamingOps.SessionGapMs
    val end = 10_000_000L
    val pending = SessState(Seq(Sess(3L, end - 1000, end)))
    // 1) timer fires with wm exactly at end + gap → the session seals
    val (sealSt, sealed_, sealTimer) = timedSessionUpdate(42L, pending, Iterator.empty, end + gap)
    assert(sealed_.toList.map(_.n_events) == List(3L), "boundary wm == end+gap must seal")
    assert(sealSt.isEmpty && sealTimer.isEmpty, "no pending sessions remain")
    // 2) one ms earlier it must NOT seal (the boundary is tight)
    assert(timedSessionUpdate(42L, pending, Iterator.empty, end + gap - 1)._2.isEmpty,
      "wm == end+gap-1 must keep the session pending")
    // 3) the earliest event the watermark filter can admit (ts = wm + 1)
    // starts a NEW session gap+1 past the sealed end: merge impossible
    // under the inclusive rule, so the seal can never lose a bridge.
    val ev = StreamingOps.Ev(1L, 42L, new java.sql.Timestamp(end + gap + 1), 1.0)
    val (lateSt, lateOut, _) = timedSessionUpdate(42L, SessState(Seq.empty), Iterator(ev), end + gap)
    assert(lateOut.isEmpty,
      "admitted boundary event opens a new pending session, no emission")
    assert(lateSt.get.sessions.map(s => (s.n, s.startMs)) == Seq((1L, end + gap + 1)))
    assert((end + gap + 1) - end > gap, "new session start is strictly outside the merge gap")
  }

  test("hdrf: edges partitioned exactly once; balanced; beats hash-cut replication") {
    // full-stream behavior (the contract query covers only the oracle
    // prefix): run the kernel over ALL sf0.01 co-purchase edges, k=8
    val edges = GraphOps.edges(spark, sf001).orderBy("src", "dst").collect()
      .map(r => (r.getLong(0) * 2, r.getLong(1) * 2 + 1))
    val k = 8
    val (sizes, replicas) = PartitionOps.hdrfAssign(edges.iterator, k)
    assert(sizes.sum == edges.length, "each edge assigned to exactly one partition")
    val (mx, mn) = (sizes.max, sizes.min)
    assert(mx - mn <= math.max(64L, edges.length / 100),
      s"balance: sizes ${sizes.toSeq}")
    // replication factor vs a hash vertex-cut baseline on the same stream
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val rfHdrf = replicas.sum.toDouble / verts.length
    val hashParts = scala.collection.mutable.HashMap.empty[Long, Set[Int]]
    edges.foreach { case (u, v) =>
      // unbiased random edge-cut baseline (a linear-congruential mix of
      // the raw keys collides on partition parity classes — measured RF
      // 4.0 vs murmur's 7.8, i.e. it accidentally half-partitions)
      val p = math.floorMod(scala.util.hashing.MurmurHash3.productHash((u, v)), k)
      hashParts(u) = hashParts.getOrElse(u, Set.empty) + p
      hashParts(v) = hashParts.getOrElse(v, Set.empty) + p
    }
    val rfHash = hashParts.valuesIterator.map(_.size).sum.toDouble / verts.length
    assert(rfHdrf >= 1.0 && rfHdrf <= rfHash,
      f"HDRF replication factor $rfHdrf%.3f must not exceed hash-cut $rfHash%.3f")
    // deterministic: same stream, same assignment
    val (sizes2, replicas2) = PartitionOps.hdrfAssign(edges.iterator, k)
    assert(sizes.toSeq == sizes2.toSeq && replicas.toSeq == replicas2.toSeq)
  }

  test("sgd step: example accounting ties to neg-sampling; loss positive; weights move") {
    val r = Gnn.q_gnn_sgd_step(spark, sf0001).collect()
    assert(r.length == 1)
    val row = r(0)
    val nPos = row.getLong(0); val nNeg = row.getLong(1)
    assert(nPos == GraphOps.edges(spark, sf0001).count())
    // negatives = 3 per positive minus the rejected (false-negative) draws,
    // which q_gnn_neg_sampling accounts per customer
    val falseNegs = Gnn.q_gnn_neg_sampling(spark, sf0001).collect()
      .map(_.getLong(3)).sum
    assert(nNeg == Gnn.NegK * nPos - falseNegs,
      s"n_neg $nNeg vs ${Gnn.NegK} * $nPos - $falseNegs")
    assert(row.getDouble(2) > 0.0, "pre-step logistic loss is positive")
    val wNew = (3 to 6).map(row.getDouble)
    assert(wNew.forall(w => !w.isNaN && !w.isInfinite))
    assert((1 to 4).exists(j => math.abs(wNew(j - 1) - Gnn.sgdW(j)) > 1e-9),
      "a full-batch gradient step must move at least one weight")
    // deterministic: re-run reproduces byte-equal output
    assert(Gnn.q_gnn_sgd_step(spark, sf0001).collect().toSeq == r.toSeq)
  }

  test("stream 2-layer GNN: chained two-hop streaming pipeline converges to batch") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    def v(xs: Float*): Seq[Float] = xs ++ Seq.fill(64 - xs.length)(0.0f)
    // bipartite graph: cust 1 -> parts {10, 11}, cust 2 -> part {10}
    // edge event = (cust, part-embedding); arrives over two micro-batches
    val b1 = Seq(L2Edge(1, 10, v(1f, 2f)), L2Edge(2, 10, v(10f, 0f)))
    val b2 = Seq(L2Edge(1, 11, v(3f, 4f)))
    // ---- hop 1: customer representation maintainer ----
    val ms1 = MemoryStream[L2Edge]
    val q1 = StreamingGnn.custRepStream(s, ms1.toDF())
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("l1out").start()
    ms1.addData(b1: _*); q1.processAllAvailable()
    ms1.addData(b2: _*); q1.processAllAvailable(); q1.stop()
    // latest layer-1 snapshot per customer (the stream hop 2 subscribes to)
    val latest = s.table("l1out").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .foldLeft(Map.empty[Long, Array[Double]])((m, kv) => m + kv) // last wins
    // ---- hop 2: part aggregation keyed by part (Flink iteration edge) ----
    val edges = (b1 ++ b2).map(e => e.src -> e.dst)
    val msgs = edges.map { case (c, p) => StreamingGnn.PartMsg(p, c, latest(c)) }
    val ms2 = MemoryStream[StreamingGnn.PartMsg]
    val q2 = StreamingGnn.partRepStream(s, ms2.toDS())
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("l2out").start()
    ms2.addData(msgs: _*); q2.processAllAvailable(); q2.stop()
    val got = s.table("l2out").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    // ground truth: batch 2-layer math on the same tiny graph
    val h1 = Map(
      1L -> Gnn.forward(Array.tabulate(64)(i => if (i == 0) 2.0 else if (i == 1) 3.0 else 0.0)),
      2L -> Gnn.forward(Array.tabulate(64)(i => if (i == 0) 10.0 else 0.0)))
    def l2(custs: Seq[Long]): Double = {
      val mean = Array.tabulate(64)(i => custs.map(c => h1(c)(i)).sum / custs.length)
      Gnn.forward(mean)(0)
    }
    assert(got(10L)._1 == 2L && got(11L)._1 == 1L)
    assert(math.abs(got(10L)._2 - l2(Seq(1L, 2L))) < 1e-9)
    assert(math.abs(got(11L)._2 - l2(Seq(1L))) < 1e-9)
  }
}

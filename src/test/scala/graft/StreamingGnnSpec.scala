package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Gnn, GraphOps, StreamingGnn}

case class EdgeEvent(src: Long, embedding: Seq[Float])

class StreamingGnnSpec extends AnyFunSuite {
  import TestSpark._

  test("incremental embedding state across micro-batches equals one-shot batch") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    def v(xs: Float*): Seq[Float] = xs ++ Seq.fill(64 - xs.length)(0.0f)
    val b1 = Seq(EdgeEvent(1, v(1f, 2f)), EdgeEvent(1, v(3f, 4f)), EdgeEvent(2, v(10f)))
    val b2 = Seq(EdgeEvent(1, v(5f, 6f)), EdgeEvent(2, v(20f)))
    val ms = MemoryStream[EdgeEvent]
    val q = StreamingGnn.embedStream(s, ms.toDF())
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("gnnst").start()
    ms.addData(b1: _*); q.processAllAvailable()
    ms.addData(b2: _*); q.processAllAvailable(); q.stop()
    // last snapshot per customer is the converged state
    val finalRows = s.table("gnnst").collect()
      .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.maxBy(_.getLong(1)) }
    assert(finalRows(1L).getLong(1) == 3L)
    assert(finalRows(1L).getDouble(2) == 3.0) // (1+3+5)/3
    assert(finalRows(1L).getDouble(3) == 4.0) // (2+4+6)/3
    assert(finalRows(2L).getLong(1) == 2L)
    assert(finalRows(2L).getDouble(2) == 15.0)
    // batch run of the same transform agrees
    val batch = StreamingGnn.embedStream(s, (b1 ++ b2).toDF("src", "embedding")).collect()
      .map(e => e.custkey -> e).toMap
    assert(batch(1L).n_nbrs == 3L && batch(1L).d1 == 3.0)
    assert(batch(2L).n_nbrs == 2L && batch(2L).d1 == 15.0)
  }

  test("streaming GNN over fixture matches batch neighbor mean") {
    val snap = StreamingGnn.q_stream_gnn_embed(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val batch = GraphOps.q_graph_neighbor_mean(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(snap.keySet == batch.keySet)
    snap.foreach { case (k, (n, d1)) =>
      assert(n > 0)
      assert(math.abs(d1 - batch(k)) <= 1e-6, s"cust $k: stream $d1 vs batch ${batch(k)}")
    }
  }

  test("2-layer GNN: one row per purchased part, non-negative ReLU outputs") {
    val out = Gnn.q_gnn_layer2(spark, sf0001).collect()
    val nParts = GraphOps.edges(spark, sf0001).select("dst").distinct().count()
    assert(out.length == nParts)
    assert(out.forall(r => (1 to 4).forall(i => r.getDouble(i) >= 0.0 && !r.getDouble(i).isNaN)))
  }

  test("layer 2: a lane outside the Long range at L2Scale throws instead of wrapping") {
    import StreamingGnn.{Change, L2Scale, PartMsg, partRepFold}
    def msg(cust: Long, h0: Double) =
      PartMsg(1L, cust, Change.encode(Array.tabulate(StreamingGnn.Dim)(i => if (i == 0) h0 else 0.0),
        1L, null))
    // 1e8 · 1e12 = 1e20 > Long.MaxValue ≈ 9.22e18: out of range before any sum
    val big = intercept[ArithmeticException](KeyedReplay(partRepFold, Seq(Seq(msg(1L, 1e8)))))
    assert(big.getMessage.contains("out of the Long range"), big.getMessage)
    intercept[ArithmeticException](KeyedReplay(partRepFold, Seq(Seq(msg(1L, Double.NaN)))))
    // each lane fits (5e18), their sum does not: Math.addExact, not a wrap
    val half = 5e18 / L2Scale
    intercept[ArithmeticException](KeyedReplay(partRepFold, Seq(Seq(msg(1L, half), msg(2L, half)))))
    // one such lane alone is accepted
    val ok = KeyedReplay(partRepFold, Seq(Seq(msg(1L, half))))
    assert(ok.map(_._2.length) == Seq(1))
  }
}

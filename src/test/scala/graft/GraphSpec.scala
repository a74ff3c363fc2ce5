package graft

import org.apache.spark.graphx.{Edge, Graph, PartitionStrategy}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraphOps

/** GraphX mirrors cross-checked against the DataFrame implementations
  * (SURVEY.md §5.2.2): same numbers from two independent execution paths.
  */
class GraphSpec extends AnyFunSuite {
  import TestSpark._

  test("GraphX degrees equal DataFrame degrees (bipartite co-purchase)") {
    val s = spark
    val er = GraphOps.edges(s, sf0001).rdd
      .map(r => Edge(2L * r.getLong(0), 2L * r.getLong(1) + 1L, 1))
    val gx = Graph.fromEdges(er, 0).degrees
      .filter { case (vid, _) => vid % 2L == 1L }
      .map { case (vid, d) => ((vid - 1L) / 2L, d.toLong) }
      .collect().toMap
    val df = GraphOps.q_graph_degree(s, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gx == df)
  }

  test("GraphX connected components histogram equals label propagation") {
    val s = spark
    import s.implicits._
    val pp = GraphOps.partPairs(s, sf0001, GraphOps.CcMinCooccur)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val parts = graft.engine.Tables.part(s, sf0001)
      .select("p_partkey").collect().map(_.getLong(0))
    val g = Graph(
      s.sparkContext.parallelize(parts.map(p => (p, 1))),
      s.sparkContext.parallelize(pp.toSeq.map { case (a, b) => Edge(a, b, 1) }))
    val gxHist = g.connectedComponents().vertices
      .map { case (_, comp) => comp }.countByValue()
      .groupBy(_._2).map { case (size, comps) => (size, comps.size.toLong) }
    val dfHist = GraphOps.q_graph_cc(s, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gxHist == dfHist)
  }

  test("GraphX triangle count equals 3-way self-join count") {
    val s = spark
    val pp = GraphOps.partPairs(s, sf0001, GraphOps.TriangleMinCooccur)
      .select("a", "b").rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1))
    val gx = Graph.fromEdges(pp, 0)
      .partitionBy(PartitionStrategy.RandomVertexCut)
      .triangleCount().vertices.map(_._2.toLong).sum() / 3
    val df = GraphOps.q_graph_triangles(s, sf0001).collect()(0).getLong(0)
    assert(gx.toLong == df)
  }

  test("pagerank equals a driver-side power iteration (independent mirror)") {
    val s = spark
    // In-memory reference implementation of the same recurrence:
    // r_{t+1}(v) = 0.15 + 0.85 * Σ_{u∈N(v)} r_t(u)/deg(u), r_0 = 1,
    // over the undirected doubled-id graph — zero shared code with the
    // relational loop under test.
    val es = GraphOps.edges(s, sf0001).collect()
      .map(r => (2L * r.getLong(0), 2L * r.getLong(1) + 1L))
    val und = es ++ es.map { case (a, b) => (b, a) }
    val deg = und.groupBy(_._1).map { case (n, xs) => n -> xs.length }
    var r = deg.map { case (n, _) => n -> 1.0 }
    for (_ <- 1 to 10) {
      val acc = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
      und.foreach { case (u, v) => acc(v) += r(u) / deg(u) }
      r = deg.map { case (n, _) => n -> (0.15 + 0.85 * acc(n)) }
    }
    // undirected graph has no dangling mass: Σr == |V_connected| exactly
    val mass = r.values.sum
    assert(math.abs(mass - deg.size) < 1e-6, s"rank mass $mass vs ${deg.size}")
    val expected = r.toSeq.collect { case (n, rk) if n % 2 == 1 => ((n - 1) / 2, rk) }
      .sortBy { case (pk, rk) => (-rk, pk) }.take(20)
    val top = GraphOps.q_graph_pagerank(s, sf0001).collect()
      .map(row => (row.getLong(0), row.getDouble(1)))
    assert(top.length == 20)
    top.zip(expected).foreach { case ((pk, rk), (epk, erk)) =>
      assert(pk == epk && math.abs(rk - erk) < 1e-5, s"($pk,$rk) vs ($epk,$erk)")
    }
    // deterministic across runs
    val top2 = GraphOps.q_graph_pagerank(s, sf0001).collect()
      .map(row => (row.getLong(0), row.getDouble(1)))
    assert(top.toSeq == top2.toSeq)
  }

  test("cc with no qualifying pairs returns the all-singletons histogram") {
    val s = spark
    import s.implicits._
    // one customer, one part: no pair can reach the co-occurrence
    // threshold, so the label loop must short-circuit (empty-sum branch)
    // and every part must come back as a singleton component
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_empty").toString
    Seq((0L, 0L)).toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((0L, 0L)).toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq(0L, 1L, 2L).toDF("p_partkey")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val hist = GraphOps.q_graph_cc(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(hist == Seq((1L, 3L)), s"expected 3 singletons, got $hist")
  }

  test("vertex and edge count probes follow a mid-session rewrite of the fact tables") {
    val s = spark
    import s.implicits._
    // the probes feed the state-broadcast guard and the iterative scan
    // width; keyed on the fixture dir alone they kept the first
    // generation's counts while the edge MV itself rebuilt
    val dir = java.nio.file.Files.createTempDirectory("graft_counts").toString
    def write(orders: Seq[(Long, Long)], lines: Seq[(Long, Long)]): Unit = {
      orders.toDF("o_orderkey", "o_custkey")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      lines.toDF("l_orderkey", "l_partkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    }
    write(Seq((0L, 0L), (1L, 1L)), Seq((0L, 0L), (1L, 1L)))
    assert(GraphOps.vertexCount(s, dir) == 4L && GraphOps.edgeCount(s, dir) == 2L)
    write(Seq((0L, 0L), (1L, 1L), (2L, 2L)), Seq((0L, 0L), (1L, 1L), (2L, 5L), (2L, 6L)))
    // customers {0, 1, 2} + parts {0, 1, 5, 6}; four distinct edges
    assert(GraphOps.edges(s, dir).count() == 4L)
    assert(GraphOps.vertexCount(s, dir) == 7L, "stale |V| after the rewrite")
    assert(GraphOps.edgeCount(s, dir) == 4L, "stale |E| after the rewrite")
  }

  test("degree sum equals edge count (bipartite handshake)") {
    val s = spark
    val degSum = GraphOps.q_graph_degree(s, sf0001)
      .agg(sum("degree")).collect()(0).getLong(0)
    assert(degSum == GraphOps.edges(s, sf0001).count())
  }

  /** Undirected adjacency of the thresholded projection, driver-side. */
  private def adjacency(minCooccur: Int): Map[Long, Set[Long]] = {
    val s = spark
    GraphOps.partPairs(s, sf0001, minCooccur)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
  }

  test("k-core: fixed-round peel equals the driver-side peel-to-fixpoint") {
    val s = spark
    val adj = adjacency(GraphOps.TriangleMinCooccur)
    // independent mirror: peel until NOTHING changes (not a fixed round
    // count) — proves the query's KCoreRounds suffice on the fixture
    var core = adj.keySet
    var changed = true
    while (changed) {
      val next = core.filter(n => (adj(n) & core).size >= GraphOps.KCoreK)
      changed = next != core
      core = next
    }
    val expected = core.toSeq.sorted.map(n => (n, (adj(n) & core).size.toLong))
    val got = GraphOps.q_graph_kcore(s, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected, s"k-core mismatch: got=$got expected=$expected")
  }

  test("clustering coefficient equals the driver-side wedge count") {
    val s = spark
    val adj = adjacency(GraphOps.TriangleMinCooccur)
    val expected = adj.filter(_._2.size >= 2).map { case (v, nbrs) =>
      val t = nbrs.toSeq.combinations(2).count {
        case Seq(x, y) => adj(x).contains(y)
      }
      val d = nbrs.size
      v -> (d.toLong, t.toLong,
        BigDecimal(2.0 * t / (d.toLong * (d - 1)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = GraphOps.q_graph_clustering(s, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (v, (d, t, c)) =>
      val (ed, et, ec) = expected(v)
      assert(d == ed && t == et && math.abs(c - ec) < 1e-9,
        s"node $v: got ($d,$t,$c) expected ($ed,$et,$ec)")
    }
  }

  test("label propagation equals a driver-side synchronous simulation") {
    val s = spark
    val adj = adjacency(GraphOps.TriangleMinCooccur)
    var lbl = adj.keySet.map(n => n -> n).toMap
    for (_ <- 1 to GraphOps.LpIters) {
      lbl = adj.map { case (v, nbrs) =>
        // most frequent neighbor label, smallest label on ties
        v -> nbrs.toSeq.map(lbl).groupBy(identity)
          .map { case (l, occ) => (l, occ.size) }
          .minBy { case (l, c) => (-c, l) }._1
      }
    }
    val expected = lbl.values.groupBy(identity).map(_._2.size)
      .groupBy(identity).map { case (sz, cs) => (sz.toLong, cs.size.toLong) }
    val got = GraphOps.q_graph_label_prop(s, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == expected, s"LP histogram mismatch: got=$got expected=$expected")
  }

  test("HITS authorities equal the driver-side power iteration") {
    val s = spark
    val edges = GraphOps.edges(s, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    var a = edges.map(_._2).distinct.map(_ -> 1.0).toMap
    for (_ <- 1 to GraphOps.HitsIters) {
      val hRaw = edges.groupBy(_._1).map { case (c, es) => c -> es.map(e => a(e._2)).sum }
      val hm = hRaw.values.max
      val h = hRaw.map { case (c, v) => c -> v / hm }
      val aRaw = edges.groupBy(_._2).map { case (p, es) => p -> es.map(e => h(e._1)).sum }
      val am = aRaw.values.max
      a = aRaw.map { case (p, v) => p -> v / am }
    }
    val expected = a.toSeq
      .map { case (p, v) =>
        (p, BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .sortBy { case (p, v) => (-v, p) }.take(20)
    val got = GraphOps.q_graph_hits(s, sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.map(_._1) == expected.map(_._1), s"HITS order: $got vs $expected")
    got.zip(expected).foreach { case ((_, g), (_, e)) =>
      assert(math.abs(g - e) < 1e-6)
    }
  }

  test("GCN symmetric normalization equals the driver-side computation") {
    val s = spark
    val edges = GraphOps.edges(s, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val emb = graft.engine.Tables.embeddings(s, sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val nEmb = emb.size
    val dc = edges.groupBy(_._1).map { case (k, v) => k -> v.length }
    val dp = edges.groupBy(_._2).map { case (k, v) => k -> v.length }
    val expected = edges.groupBy(_._1).map { case (c, es) =>
      val sums = (1 to 4).map { j =>
        es.map { case (src, dst) =>
          emb(dst % nEmb)(j - 1).toDouble / math.sqrt(dc(src).toDouble * dp(dst))
        }.sum
      }
      c -> sums
    }
    val rows = graft.engine.Gnn.q_gnn_gcn_norm(s, sf0001).collect()
      .map(r => r.getLong(0) -> (1 to 4).map(i => r.getDouble(i))).toMap
    assert(rows.keySet == expected.keySet)
    rows.foreach { case (c, ds) =>
      ds.zip(expected(c)).zipWithIndex.foreach { case ((g, e), i) =>
        assert(math.abs(g - e) < 1e-6, s"custkey $c dim ${i + 1}: got $g expected $e")
      }
    }
  }
}

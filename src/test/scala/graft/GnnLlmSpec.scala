package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Gnn, GraphOps, LlmOps}

class GnnLlmSpec extends AnyFunSuite {
  import TestSpark._

  test("gnn forward: literal golden values for unit basis inputs") {
    // mean = e_0 (one-hot dim 0): h_i = ReLU(W[i][0] + b[i]),
    // W[i][0] = ((i*31)%7 - 3)/10, b[i] = (i%5 - 2)/10 (FIXTURES.md).
    val e0 = Array.tabulate(64)(j => if (j == 0) 1.0 else 0.0)
    val h = Gnn.forward(e0)
    assert(h(0) == 0.0) // W[0][0]=-0.3, b0=-0.2 -> -0.5 -> ReLU 0
    assert(h(2) == 0.3) // W[2][0]=(62%7-3)/10=0.3, b2=0 -> 0.3
    assert(h(3) == 0.0) // W[3][0]=(93%7-3)/10=-0.1, b3=0.1 -> 0
  }

  test("gnn forward: ReLU never negative, zero vector gives ReLU(b)") {
    val z = Gnn.forward(new Array[Double](64))
    (0 until 64).foreach { i =>
      val expect = math.max(0.0, (i % 5 - 2) / 10.0)
      assert(z(i) == expect, s"dim $i")
    }
    assert(Gnn.forward(Array.fill(64)(0.5)).forall(_ >= 0.0))
  }

  test("gnn forward/forwardK: the weight tables give the inline formulas' bits") {
    def inline(w: (Int, Int) => Double, b: Int => Double, m: Array[Double]): Array[Double] =
      Array.tabulate(64) { i =>
        var acc = 0.0
        var j = 0
        while (j < m.length) { acc += w(i, j) * m(j); j += 1 }
        acc += b(i)
        if (acc > 0.0) acc else 0.0
      }
    val rnd = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val m = Array.fill(64)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(7) - 3))
      assert(Gnn.forward(m).sameElements(inline(Gnn.weight, Gnn.bias, m)))
      (1 to Gnn.LayerK).foreach { l =>
        assert(Gnn.forwardK(l, m).sameElements(inline(Gnn.weightK(l, _, _), Gnn.biasK(l, _), m)))
      }
    }
  }

  test("gnn layer runs per customer with finite outputs") {
    val out = Gnn.q_gnn_layer(spark, sf0001).collect()
    val nCust = GraphOps.edges(spark, sf0001).select("src").distinct().count()
    assert(out.length == nCust)
    assert(out.forall(r => (1 to 4).forall(i => !r.getDouble(i).isNaN && r.getDouble(i) >= 0.0)))
  }

  test("sampled neighborhood mean: sample bounded by K, subset semantics") {
    val s = spark
    val rows = Gnn.q_gnn_sampled_mean(s, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(1) >= 1L && r.getLong(1) <= Gnn.SampleK,
      s"sample size within [1, K]: $r"))
    // customers with degree <= K keep their full neighborhood: sampled
    // mean must equal the unsampled neighbor mean for them
    val deg = GraphOps.edges(s, sf0001).groupBy("src").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = GraphOps.q_graph_neighbor_mean(s, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    rows.filter(r => deg(r.getLong(0)) <= Gnn.SampleK).take(50).foreach { r =>
      val (d1, d2) = full(r.getLong(0))
      assert(math.abs(r.getDouble(2) - d1) < 1e-9 && math.abs(r.getDouble(3) - d2) < 1e-9,
        s"low-degree customer must keep its exact mean: $r vs ($d1,$d2)")
    }
  }

  test("attention aggregation stays inside the neighbor value range (convexity)") {
    val s = spark
    // softmax weights are a convex combination: each output dim must lie
    // within [min, max] of that customer's neighbor feature values
    val feats = GraphOps.neighborFeatures(s, sf0001)
      .select(col("src"), element_at(col("embedding"), 1).cast("double").as("e1"))
      .groupBy("src").agg(min("e1").as("lo"), max("e1").as("hi"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    Gnn.q_gnn_attention(s, sf0001).collect().foreach { r =>
      val (lo, hi) = feats(r.getLong(0))
      assert(r.getDouble(1) >= lo - 1e-6 && r.getDouble(1) <= hi + 1e-6,
        s"attention output outside neighbor range: $r not in [$lo, $hi]")
    }
  }

  test("cosine: self-similarity is 1, topk within [-1,1]") {
    val rows = LlmOps.q_llm_cosine_topk(spark, sf0001).collect()
    assert(rows.length == 10)
    assert(rows.forall(r => math.abs(r.getDouble(1)) <= 1.000001))
    // knn join includes each query's best neighbor with rank 1
    val knn = LlmOps.q_llm_knn_join(spark, sf0001).collect()
    assert(knn.count(_.getLong(3) == 1L) == 20)
    assert(knn.forall(r => r.getLong(0) != r.getLong(1)))
  }

  test("minhash LSH audit: all exact columns positive, every envelope boolean true") {
    val row = LlmOps.q_llm_minhash_lsh(spark, sf0001).collect()
    assert(row.length == 1)
    val r = row(0)
    assert(r.getLong(0) > 0 && r.getLong(1) > 0, "md5 twin pair counts must be non-vacuous")
    (2 until 6).foreach(i => assert(r.getBoolean(i), s"audit boolean $i false: $r"))
  }

  test("minhash LSH pairs: verified pairs are a subset of exact pairs, high recall on near-dups") {
    val s = spark
    val cand = LlmOps.minhashXxPairs(s, sf0001)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactAll = LlmOps.q_llm_jaccard_pairs(s, sf0001)
      .select(col("doc_a"), col("doc_b"), col("jaccard")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // precision: every LSH-verified pair is a true >=0.5 pair
    cand.foreach(p => assert(exactAll.contains(p), s"false positive $p"))
    // recall on strong near-dups (J >= 0.8): band collision prob 1-(1-J^2)^4
    val strong = exactAll.filter(_._2 >= 0.8).keySet
    val recall = if (strong.isEmpty) 1.0
      else strong.count(cand.contains).toDouble / strong.size
    assert(recall >= 0.9, s"LSH recall $recall over ${strong.size} high-sim pairs")
  }

  test("exact dedup is idempotent and bounded by doc count") {
    val r = LlmOps.q_llm_dedup_exact(spark, sf0001).collect()
    r.foreach(row => assert(row.getLong(2) <= row.getLong(1)))
  }
}

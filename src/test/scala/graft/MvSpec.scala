package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Mv

/** Contract pins for the session-MV registry: build-once identity,
  * and AQE restoration around the non-adaptive build window (the
  * checkpoint-partitioning device — see Mv.memo's scaladoc). */
class MvSpec extends AnyFunSuite {
  import TestSpark._

  // Keys are unique per suite instantiation: Mv's cache is app-scoped,
  // so a fixed key would see builds == 0 on a re-run of the suite inside
  // the same Spark application (ADVICE r6).
  private val runId = java.util.UUID.randomUUID().toString.take(8)

  test("memo returns the identical DataFrame on every call; build runs once") {
    val s = spark
    var builds = 0
    def build() = { builds += 1; s.range(3).toDF() }
    val a = Mv.memo(s, s"mvspec-identity-$runId")(_ => build())
    val b = Mv.memo(s, s"mvspec-identity-$runId")(_ => build())
    assert(a eq b, "second call must return the cached instance")
    assert(builds == 1, s"build must run exactly once, ran $builds")
  }

  test("builds run non-adaptively on a session CLONE; caller AQE never toggles") {
    val s = spark
    val before = s.conf.get("spark.sql.adaptive.enabled")
    var seenInside: String = null
    var callerDuring: String = null
    Mv.memo(s, s"mvspec-aqe-ok-$runId") { bs =>
      seenInside = bs.conf.get("spark.sql.adaptive.enabled")
      // the r8 item-7 claim: the toggle lives on the clone, so the
      // CALLER's session must show AQE unchanged even DURING the build
      callerDuring = s.conf.get("spark.sql.adaptive.enabled")
      assert(bs ne s, "build must receive a cloned session, not the caller's")
      assert(bs.sparkContext eq s.sparkContext,
        "the clone must share the SparkContext (checkpoint blocks, appId)")
      bs.range(1).toDF()
    }
    assert(seenInside == "false", "build must run with AQE off")
    assert(callerDuring == before,
      "caller AQE must be untouched even while a build is running")
    assert(s.conf.get("spark.sql.adaptive.enabled") == before,
      "caller AQE must be unchanged after a successful build")
    intercept[RuntimeException] {
      Mv.memo(s, s"mvspec-aqe-fail-$runId") { _ => throw new RuntimeException("boom") }
    }
    assert(s.conf.get("spark.sql.adaptive.enabled") == before,
      "caller AQE must be unchanged after a failed build")
    // a failed build must NOT poison the cache: the key stays buildable
    val ok = Mv.memo(s, s"mvspec-aqe-fail-$runId")(bs => bs.range(2).toDF())
    assert(ok.count() == 2)
  }

  test("census lists live keys; evict frees the registry entry for rebuild") {
    val s = spark
    val key = s"mvspec-evict-$runId"
    var builds = 0
    Mv.memo(s, key) { bs => builds += 1; bs.range(4).toDF().localCheckpoint() }
    assert(Mv.keys(s).contains(key), "census must list the cached key")
    assert(Mv.evict(s, key), "evict must report the entry was present")
    assert(!Mv.keys(s).contains(key), "evicted key must leave the census")
    assert(!Mv.evict(s, key), "second evict must be a no-op")
    Mv.memo(s, key) { bs => builds += 1; bs.range(4).toDF().localCheckpoint() }
    assert(builds == 2, "an evicted key must be buildable again")
    Mv.evict(s, key)
  }

  test("memo'd MV is re-bound to the CALLER's session, not the build clone") {
    val s = spark
    val key = s"mvspec-rebind-$runId"
    val mv = Mv.memo(s, key)(bs => bs.range(5).toDF().localCheckpoint())
    // regression pin (round 9): before the SessionBridge re-bind, the MV
    // carried the clone's session, so consumer queries chained off it
    // analyzed under a FRESH temp-function registry (q_gnn_attention's
    // graft_vec_dot failed to resolve) and executed with AQE stuck off
    assert(mv.sparkSession eq s,
      "MV must execute consumers under the caller's session")
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_mvspec_inc",
      exprs => org.apache.spark.sql.catalyst.expressions.Add(
        exprs.head, org.apache.spark.sql.catalyst.expressions.Literal(1L)),
      "built-in")
    val got = mv
      .select(org.apache.spark.sql.functions
        .call_function("graft_mvspec_inc", org.apache.spark.sql.functions.col("id")))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L, 3L, 4L, 5L),
      "caller-registered temp functions must resolve in queries chained off the MV")
    assert(mv.sparkSession.conf.get("spark.sql.adaptive.enabled") ==
      s.conf.get("spark.sql.adaptive.enabled"),
      "consumers of the MV must see the caller's AQE setting")
    Mv.evict(s, key)
  }

  private def persistedIds = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("rotation: evict frees checkpoint blocks synchronously, footprint back to baseline") {
    val s = spark
    // The corpus-snapshot rotation contract (VERDICT r8 item 8): build
    // MVs for snapshot A, cut over to B, evict A — the block-manager
    // footprint must return to baseline the moment evict returns, not
    // eventually-after-GC. Assertions are on the SPECIFIC RDD ids each
    // build created (attributed inside Mv.memo), so concurrent blocks
    // from other suites can't flake this.
    val base = persistedIds
    val kA = s"mvspec-rot-A-$runId"
    val kB = s"mvspec-rot-B-$runId"
    Mv.memo(s, kA)(bs => bs.range(1000).toDF().repartition(2).localCheckpoint())
    val idsA = persistedIds -- base
    assert(idsA.nonEmpty, "build A must persist checkpoint blocks")
    assert(Mv.evict(s, kA))
    assert((persistedIds & idsA).isEmpty,
      "A's checkpoint blocks must be unpersisted when evict returns")
    Mv.memo(s, kB)(bs => bs.range(2000).toDF().repartition(2).localCheckpoint())
    val idsB = persistedIds -- base
    assert(idsB.nonEmpty, "build B must persist checkpoint blocks")
    assert((idsB & idsA).isEmpty, "B must not resurrect A's ids")
    assert(Mv.evict(s, kB))
    assert((persistedIds & (idsA ++ idsB)).isEmpty,
      "after the full rotation the footprint is back at baseline")
    assert(!Mv.keys(s).exists(_.startsWith("mvspec-rot")),
      "registry holds no rotation keys after eviction")
  }

  test("nested builds: evicting the outer MV keeps the inner MV's blocks alive") {
    val s = spark
    val kIn = s"mvspec-nest-in-$runId"
    val kOut = s"mvspec-nest-out-$runId"
    Mv.memo(s, kOut) { bs =>
      // outer build memoizes its input on the same registry, passing the
      // CLONE as the inner caller — the production shape (pairCounts
      // does edges(bs, dir)); eviction of the outer entry must not free
      // the inner entry's checkpoint blocks
      val inner = Mv.memo(bs, kIn)(b2 => b2.range(10).toDF().localCheckpoint())
      inner.union(bs.range(5).toDF()).localCheckpoint()
    }
    assert(Mv.evict(s, kOut))
    assert(Mv.keys(s).contains(kIn), "inner MV must survive outer eviction")
    // localCheckpoint TRUNCATES lineage: if the outer evict had freed the
    // inner blocks, this count would throw (block not found), not recompute
    val inner = Mv.memo(s, kIn)(_ => sys.error("must be cached"))
    assert(inner.count() == 10)
    // a nested-built entry is cached CLONE-bound; a direct lookup must
    // re-bind it to the caller (round-9 code-review catch: consumers of
    // undDegrees/dedupDocs otherwise ran under the outer build's clone)
    assert(inner.sparkSession eq s,
      "cache hits must re-bind clone-built MVs to the caller's session")
    assert(Mv.evict(s, kIn))
  }

  test("probe computes once per key and stays out of keys and census") {
    val s = spark
    val key = s"mvspec-probe-$runId"
    val keysBefore = Mv.keys(s)
    val nBefore = Mv.census(s)._1
    var counts = 0
    def count() = { counts += 1; s.range(7).count() }
    assert(Mv.probe(s, key)(count()) == 7L)
    assert(Mv.probe(s, key)(count()) == 7L)
    assert(counts == 1, s"a probe must count once per key, counted $counts times")
    assert(Mv.keys(s) == keysBefore, "probes must not be listed as MVs")
    assert(Mv.census(s)._1 == nBefore, "probes must not be counted as MVs")
  }

  test("probes nest inside probes and inside MV builds") {
    val s = spark
    val outer = s"mvspec-probe-outer-$runId"
    val inner = s"mvspec-probe-inner-$runId"
    val inBuild = s"mvspec-probe-build-$runId"
    val kMv = s"mvspec-probe-mv-$runId"
    // the production shapes: vertexCount builds edges inside its count,
    // and MV builds read probes (the kernel guard, the scan width)
    assert(Mv.probe(s, outer)(Mv.probe(s, inner)(3L) + 1L) == 4L)
    assert(Mv.probe(s, inner)(sys.error("must be cached")) == 3L)
    val mv = Mv.memo(s, kMv)(bs => bs.range(Mv.probe(bs, inBuild)(5L)).toDF())
    assert(mv.count() == 5L)
    assert(Mv.probe(s, inBuild)(sys.error("must be cached")) == 5L)
    Mv.evict(s, kMv)
  }
}

package graft.engine

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped derived state: the one registry behind every shared
  * materialized view (graph edge lists, pair counts, label fixpoints,
  * training example sets, dedup components, walk tables, bucketed
  * layouts) and every scalar size probe (|V|, |E|, document, embedding
  * and vocabulary counts) that picks a placement by size. One eviction
  * listener and one table-generation register cover both.
  *
  * Keys: entries key on (application, caller key). A caller key ends in
  * `tablesKey`'s `dir|fresh` suffix, so distinct scale factors coexist,
  * and a rewrite of the tables under `dir` makes every derived key a
  * miss; the superseded generation's MVs and probes are evicted then.
  * Entries are also evicted when their application ends (the checkpoint
  * blocks die with the executors; this frees the maps in a long-lived
  * multi-session JVM).
  *
  * MV builds serialize under one REENTRANT lock: computeIfAbsent is
  * illegal here because MV builds recursively memoize their inputs on
  * the same map (pairCounts → edges), but `synchronized` re-enters on
  * the same thread, so the nested build is fine and no duplicate
  * checkpoint is ever created to leak. Probes take no lock: a probe is
  * computed outside the map and then published with `putIfAbsent`, so
  * probes may nest in probes and in MV builds (vertexCount builds
  * edges); two threads racing on a cold probe both count, and the first
  * value published wins.
  *
  * Memory growth: a long-lived session accumulates one checkpoint per
  * (MV, fixture generation). The registry therefore exposes
  * `keys`/`census` (what is held, and the application's total persisted
  * block footprint from the block manager) and `evict` (drop an entry
  * and free its checkpoint blocks; the next `memo` call rebuilds it).
  * Bench logs the census each run so the footprint is visible in the
  * artifact trail. Probes are scalars and are neither listed by `keys`
  * nor counted by `census`.
  *
  * Concurrency: builds run on a clone of the caller's session — same
  * SparkContext (so checkpoint blocks are shared and appId-keyed
  * eviction still holds) but an isolated SessionState (newSession +
  * runtime-conf copy), so the AQE-off toggle the build needs (in-line
  * rationale below) is set on the clone only and can never leak to a
  * query executing concurrently on the caller's session. The returned
  * DataFrame is checkpoint-backed; consumers that fold it into their
  * own plans execute under their own session state as usual.
  *
  * This is the lakehouse-MV reuse pattern at 100 TB: a deployment
  * persists these tables once per corpus snapshot and every operator
  * consumes the materialization instead of re-deriving it. */
object Mv {
  private val cache = new ConcurrentHashMap[String, DataFrame]()
  private val probes = new ConcurrentHashMap[String, java.lang.Long]()
  // latest freshness token per (application, dir, table set)
  private val generations = new ConcurrentHashMap[String, String]()
  private val lock = new Object
  private val evictionHooked = ConcurrentHashMap.newKeySet[String]()
  // Persisted-RDD ids attributed to each cache entry (the checkpoint
  // blocks its build created), so `evict` can free them SYNCHRONOUSLY
  // instead of waiting for GC + ContextCleaner. Builds serialize under
  // `lock`, and a NESTED build (pairCounts → edges) attributes its own
  // ids on completion — the outer diff excludes everything already
  // attributed, so eviction of the outer MV never unpersists an inner
  // MV's blocks. The diff deliberately also catches a build's
  // INTERMEDIATE checkpoints (the per-step localCheckpoints of the
  // fixpoint builds), so evict frees them eagerly. Caveat: the diff is
  // context-global, so a checkpoint created by an UNRELATED thread
  // during a build window would be attributed to that build's key and
  // freed on its eviction — acceptable under the engine's documented
  // contract that MV builds are single-threaded per session (a
  // deployment sharing one session across query threads warms its MVs
  // up front, as Bench.warmups does).
  private val rddIds = new ConcurrentHashMap[String, Set[Int]]()

  /** The application-scoped key prefix, registering the listener that
    * drops the application's entries when it ends. */
  private def app(s: SparkSession): String = {
    val appId = s.sparkContext.applicationId
    if (evictionHooked.add(appId)) {
      s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          Seq(cache, probes, generations, rddIds)
            .foreach(_.keySet.removeIf(_.startsWith(appId + "|")))
          evictionHooked.remove(appId)
        }
      })
    }
    appId + "|"
  }

  def memo(s: SparkSession, key: String)(build: SparkSession => DataFrame): DataFrame = {
    // Re-bind on EVERY cache hit whose session differs from the caller:
    // a nested build (pairCounts → edges(bs, ...)) memoizes the inner MV
    // with the OUTER build's clone as caller, so the cached entry can be
    // clone-bound — without this, a later direct consumer would chain
    // its whole query off the clone (AQE off, empty temp-function
    // registry). The rebind is a plan re-wrap of a checkpoint-backed
    // leaf — O(1), no data movement.
    def bound(df: DataFrame): DataFrame =
      if (df.sparkSession eq s) df
      else org.apache.spark.sql.graft.SessionBridge.rebind(s, df)
    val k = app(s) + key
    val cur = cache.get(k)
    if (cur != null) bound(cur)
    else lock.synchronized {
      val winner = cache.get(k)
      if (winner != null) bound(winner)
      else {
        // Build with AQE OFF: an adaptively-executed plan reports
        // UnknownPartitioning, so localCheckpoint would NOT capture the
        // repartition layout and every MV consumer would silently
        // re-shuffle (hashpartitioning survives the checkpoint exactly
        // when the build runs non-adaptively; pinned by PlanAuditSpec's
        // edges-MV test). The builds are fixed-shape one-time jobs with
        // explicit broadcast hints — they lose nothing from AQE;
        // consumers keep it. The toggle lives on a SESSION CLONE so it
        // cannot leak to concurrent queries on the caller's session.
        // `cloneSession()` is private[sql], so the public equivalent:
        // newSession() (same SparkContext — checkpoint blocks and
        // appId-keyed eviction still hold — but isolated SessionState)
        // plus a copy of the caller's runtime SQL confs so the build
        // sees the caller's shuffle-partition count, timezone, etc.
        val clone = s.newSession()
        s.conf.getAll.foreach { case (ck, cv) =>
          // Per-key copy failures are ignored as long as they are
          // non-fatal: the EXPECTED one is AnalysisException (static
          // confs refuse runtime SET), and any other non-fatal refusal
          // of a single conf key must not kill the MV build either — a
          // missing optional conf degrades the clone, a crashed build
          // degrades the query. Only fatal errors (OOM, interrupts)
          // propagate.
          try clone.conf.set(ck, cv)
          catch { case scala.util.control.NonFatal(_) => () }
        }
        clone.conf.set("spark.sql.adaptive.enabled", "false")
        val before = s.sparkContext.getPersistentRDDs.keySet.toSet
        // Re-bind the built (checkpoint-backed) plan to the CALLER's
        // session: a Dataset carries its session, and every consumer
        // query chained off the MV would otherwise analyze/execute under
        // the clone — empty temp-function registry, AQE off. The
        // checkpointed LogicalRDD is a self-contained leaf, so the
        // re-bind changes which sessionState governs CONSUMERS, nothing
        // about the data or its captured partitioning.
        val built = org.apache.spark.sql.graft.SessionBridge.rebind(s,
          JobTag(s.sparkContext, s"mv:$key")(build(clone)))
        val attributed = rddIds.values.asScala.flatten.toSet
        val mine = s.sparkContext.getPersistentRDDs.keySet.toSet -- before -- attributed
        if (mine.nonEmpty) rddIds.put(k, mine)
        cache.put(k, built)
        built
      }
    }
  }

  /** A memoized scalar: `count` runs on the first call per (application,
    * key) and every later call is one map read. Keys carry a `tablesKey`
    * suffix like MV keys, so a table rewrite re-probes. */
  def probe(s: SparkSession, key: String)(count: => Long): Long = {
    val k = app(s) + key
    val hit = probes.get(k)
    if (hit != null) hit
    else {
      val n = count
      val won = probes.putIfAbsent(k, n)
      if (won != null) won else n
    }
  }

  /** BEST-EFFORT freshness token for `dir`'s `table`: file count + max
    * modification time + total byte size from ONE driver-side metadata
    * listing. Folded into every derived key through `tablesKey`, so a
    * mid-session rewrite of the table becomes a cache MISS — fresh
    * probe, fresh build — instead of a stale read (a stale MV would
    * serve old ids into fresh joins, where inner joins silently drop
    * them; a stale vocabulary probe would wrap mask bits). Best-effort,
    * not categorical: a same-second rewrite that keeps both the
    * part-file count AND the total byte count defeats the token on
    * coarse-mtime filesystems; the raise_error CASE in the token-mask
    * build remains the hard backstop there. A missing path yields a
    * sentinel token so the consumer's table read raises the friendlier
    * data-source error instead of this metadata probe. */
  private[graft] def tableFreshness(s: SparkSession, dir: String,
      table: String): String = try {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val st = fs.listStatus(p)
    s"${st.length}:${st.map(_.getModificationTime).foldLeft(0L)(math.max)}:" +
      s"${st.map(_.getLen).sum}"
  } catch { case _: java.io.FileNotFoundException => "absent" }

  /** Freshness-scoped key suffix `dir|fresh` for state derived from
    * `tables` under `dir`. On a freshness MISS (a table was rewritten
    * in-session) every MV and probe of the superseded generation — keys
    * ending in the old `|dir|fresh` — is evicted before the new token is
    * returned, so repeated rewrites cannot grow executor storage
    * unboundedly, and no consumer can join a fresh MV against a stale
    * one. */
  private[graft] def tablesKey(s: SparkSession, dir: String,
      tables: Seq[String]): String = {
    val fresh = tables.map(t => tableFreshness(s, dir, t)).mkString("+")
    val prefix = app(s)
    val prev = generations.put(prefix + dir + "|" + tables.mkString(","), fresh)
    if (prev != null && prev != fresh) {
      val stale = s"|$dir|$prev"
      keys(s).filter(_.endsWith(stale)).foreach(evict(s, _))
      probes.keySet.removeIf(k => k.startsWith(prefix) && k.endsWith(stale))
    }
    s"$dir|$fresh"
  }

  /** Caller keys of the MVs currently cached for this application. */
  def keys(s: SparkSession): Seq[String] = {
    val prefix = s.sparkContext.applicationId + "|"
    cache.keySet.asScala.toSeq.collect {
      case k if k.startsWith(prefix) => k.stripPrefix(prefix)
    }.sorted
  }

  /** Drop one entry and SYNCHRONOUSLY unpersist the checkpoint blocks
    * its build created (blocking unpersist of the attributed RDD ids),
    * so the block-manager footprint returns to baseline the moment this
    * returns — the rotation contract a deployment swapping corpus
    * snapshots needs. Any block this misses (none observed) is still
    * freed by ContextCleaner once the DataFrame is unreachable. The
    * next `memo` on the key rebuilds. Returns false if absent.
    *
    * CONSUMER-LIFETIME CONTRACT: a DataFrame obtained from `memo`
    * before an `evict` of its key MUST NOT be executed after the evict
    * — its checkpoint lineage is truncated, so a late execution fails
    * with unrecoverable missing-block errors rather than falling back
    * to a recompute. Rotation order is therefore: build the replacement
    * key, re-point consumers, THEN evict the superseded key (exactly
    * what MvSpec's rotation test does). Relatedly, RDD-id attribution
    * diffs the context-global persisted set around the build window, so
    * MV builds (and any other localCheckpoint activity) must be
    * single-threaded per session while a build is in flight — a
    * checkpoint created by an unrelated thread during the window would
    * be attributed to the building key and freed on its eviction. A
    * deployment sharing one session across query threads warms its MVs
    * up front, as Bench.warmups does; after warmup, concurrent READS of
    * memoized MVs are unrestricted. */
  def evict(s: SparkSession, key: String): Boolean = {
    val k = s.sparkContext.applicationId + "|" + key
    val present = cache.remove(k) != null
    val ids = rddIds.remove(k)
    if (ids != null) {
      val live = s.sparkContext.getPersistentRDDs
      ids.foreach(id => live.get(id).foreach(_.unpersist(blocking = true)))
    }
    present
  }

  /** Registry + block-manager footprint: (n cached MVs, n persisted
    * RDDs, memory bytes, disk bytes). The RDD storage view covers ALL
    * persisted RDDs of the application — localCheckpoint blocks of the
    * MVs plus any per-query checkpoints still referenced — which is the
    * number an operator watching session memory actually cares about. */
  def census(s: SparkSession): (Int, Int, Long, Long) = {
    val infos = s.sparkContext.getRDDStorageInfo
    (keys(s).size, infos.length,
      infos.map(_.memSize).sum, infos.map(_.diskSize).sum)
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** Shared session factory for the mains (Bench, Verify, Dev):
  * one place for the contract configuration — local[SPARK_GRAFT_CPUS],
  * shuffle partitions = cores (not the 200 default), UTC, no UI — so
  * the entry points cannot drift apart. */
object Harness {
  def session(defaultCpus: String = "32",
      extraConfs: Map[String, String] = Map.empty): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // The vector tier aggregates 64 dims as 64–129 independent
      // codegen-friendly buffers by design (meanQVec, zscore, the
      // VecMeanAgg display twin); Spark's default 100-field cutoff
      // silently dropped those operators out of whole-stage codegen
      // into interpreted aggregation. 256 re-admits them (r17 opt,
      // measured: neighbor_mean 2.8 -> 0.6 s, udaf_vec_mean 2.0 -> 0.3,
      // embed_zscore 2.1 -> 0.3 at sf0.1/32c). Codegen width is a
      // per-operator property, not a cluster-size tune — the value is
      // the same at any scale.
      .config("spark.sql.codegen.maxFields", "256")
      // The generated-class cache defaults to 100 entries (LRU). A
      // session serving this engine's 378-operator surface compiles
      // ~5-10 whole-stage/expression units per query, so any sweep
      // wider than ~15 queries THRASHES the cache and every re-run
      // pays Janino compile + fresh-class JIT again (measured: layer2
      // 2.9 s inside a full bench sweep vs 1.8 s when re-run
      // consecutively — the delta is recompilation, not data). Size
      // the cache to the surface: ~4000 entries ≈ the full query set
      // resident at ~30 KB/class ≈ ~120 MB, the same memory-for-
      // recompilation trade a production long-lived session makes.
      // Static conf — must be set before session creation, scale-
      // independent (it keys on plan shape, not data size).
      .config("spark.sql.codegen.cache.maxEntries", "4000")
    // Dev A/B knob: extra session confs as "k=v;k=v" (never set by the
    // driver; used to measure config hypotheses without code churn).
    val envConfs = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(';')).filter(_.contains('='))
      .map { kv => val a = kv.split("=", 2); a(0) -> a(1) }
    val s = (extraConfs.toSeq ++ envConfs).foldLeft(b) {
      case (bb, (k, v)) => bb.config(k, v)
    }.getOrCreate()
    s.sparkContext.setLogLevel(sys.env.getOrElse("SPARK_GRAFT_LOG", "WARN"))
    s
  }

  def sfDir(default: String = "/root/testdata/sf0.1"): String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", default)
}

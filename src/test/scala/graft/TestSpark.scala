package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      // local[4, 2]: 4 threads, maxFailures = 2 — identical to local[4]
      // except a failed task is retried once, which is what
      // RetryDeterminismSpec needs to demonstrate that md5-seeded
      // operators produce byte-identical output across task re-execution
      .master("local[4, 2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // a streaming `Keyed.run` is a transformWithState operator, which
      // runs only on the RocksDB state store
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}

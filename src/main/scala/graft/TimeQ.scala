package graft


/** Dev timing harness: `sbt "runMain graft.TimeQ q_a q_b ..."` times the
  * named queries (repeat a name to measure warm runs) on
  * SPARK_GRAFT_SF_DIR after the same untimed session+MV warmup Bench
  * uses, so numbers are comparable to the driver bench's steady state.
  * Each timed call collects the query's rows — the rows the oracle
  * checks, as the perfbench snapshot workload does — rather than
  * counting them, which would let the optimizer prune the final
  * projection. A development tool, not part of the Verify/Bench contract.
  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir()
    val spark = Harness.session()
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    Bench.warmups(spark, sfDir).foreach { case (_, body) =>
      try body() catch { case _: Throwable => () }
    }
    args.foreach { q =>
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(q)(spark, sfDir).collect().length
      println(f"[timeq] $q%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s  rows=$n")
    }
    spark.stop()
  }
}

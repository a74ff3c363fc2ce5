package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Dev`, the development entry point: command-line validation
  * before any session exists, the plan sweep's hazard locations, and the
  * timer's row counts. Runs on the shared test session and never stops
  * it (only `Dev.main` creates and stops sessions). */
class DevSpec extends AnyFunSuite {
  import TestSpark._

  private def noSession: () => SparkSession =
    () => throw new AssertionError("a session was created for a rejected command line")

  test("an unknown command fails with the valid commands and creates no session") {
    val e = intercept[IllegalArgumentException](Dev.run(Seq("tiem", "q_scan_project"), noSession))
    Dev.commands.keys.foreach(c => assert(e.getMessage.contains(c), e.getMessage))
    val empty = intercept[IllegalArgumentException](Dev.run(Nil, noSession))
    assert(empty.getMessage.contains("valid: bounds, explain, profile"), empty.getMessage)
  }

  test("an unknown scale group fails with the valid groups and creates no session") {
    val e = intercept[IllegalArgumentException](
      Dev.run(Seq("scale", "iter", "itter", "rebuild"), noSession))
    assert(e.getMessage.contains("itter"), e.getMessage)
    Seq("fact", "iter", "lsh", "emb", "r21g").foreach(g => assert(e.getMessage.contains(g), e.getMessage))
  }

  test("sweep reports hazards at the gate's locations, checkpointed plans included") {
    val lines = Dev.sweep(spark, sf0001, Seq("q_time_hurst", "q_win_sliding_frame", "q_scan_project"))
    assert(lines.exists(_.startsWith("[sweep] q_time_hurst[ckpt:hurst_spine] unpartitioned Window")),
      lines.mkString("\n"))
    assert(lines.exists(_.startsWith("[sweep] q_win_sliding_frame[final] unpartitioned Window")),
      lines.mkString("\n"))
    assert(!lines.exists(_.contains("q_scan_project")), lines.mkString("\n"))
    assert(!lines.exists(_.contains("BUILD_FAIL")), lines.mkString("\n"))
  }

  test("time returns the collected row count of each call") {
    val names = Seq("q_scan_project", "q_agg_pricing_summary", "q_scan_project")
    assert(Dev.time(spark, sf0001, names) ==
      names.map(q => SparkEntry.queries(q)(spark, sf0001).collect().length))
  }
}

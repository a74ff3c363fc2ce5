package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run needs: the session, its inputs and settings, and the raw
  * report that `run.py` turns into metrics. */
final class Ctx(val spark: SparkSession, val dataDir: String, val expectedDir: String,
    val work: String, val seed: Long, val seconds: Double, val opts: Map[String, String],
    val tracer: Option[Tracer]) {
  val report = mutable.LinkedHashMap.empty[String, Any]

  /** Marks the start of the first timed operation (end of set-up). */
  def firstOp(): Unit = if (!report.contains("first_op_ms"))
    report("first_op_ms") = System.currentTimeMillis()

  def num(key: String): Double = opts(key).toDouble
}

/** JVM side of the benchmark: runs one workload against the engine's
  * public functions and writes the raw samples as JSON to `--out`.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --data DIR --expected DIR --work DIR --out FILE [--cores N] ...
  *   perfbench.Main --dump-oracle FILE   (oracle SQL of the snapshot queries)
  */
object Main {
  def session(cores: Int): SparkSession =
    graft.Harness.session(defaultCpus = cores.toString, extraConfs = Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def save(path: String, v: Any): Unit =
    Files.write(Paths.get(path), Json.write(v).getBytes(StandardCharsets.UTF_8))

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    // exit explicitly either way: Spark's non-daemon threads would keep a
    // failed run's JVM alive
    try o.get("dump-oracle") match {
      case Some(path) =>
        save(path, Snapshot.Queries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap)
      case None => run(o)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1)
    }
    System.exit(0)
  }

  private def run(o: Map[String, String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = o("workload")
    val cores = o.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val t0 = System.nanoTime()
    val s = session(cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sessionReadyMs = System.currentTimeMillis()
    val tracer = if (o("trace") == "1") Some(new Tracer(s)) else None
    val c = new Ctx(s, o("data"), o.getOrElse("expected", ""), o("work"), o("seed").toLong,
      o("seconds").toDouble, o, tracer)
    c.report ++= Seq("workload" -> workload, "seed" -> c.seed, "cores" -> cores,
      "jvm_start_ms" -> jvmStart, "session_s" -> sessionS, "session_ready_ms" -> sessionReadyMs)
    workload match {
      case "snapshot_analytics" => Snapshot.run(c)
      case "stream_embed" => Streams.run(c, layers = 1)
      case "stream_layer2" => Streams.run(c, layers = 2)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    tracer.foreach { t =>
      t.drain()
      c.report("mv_build_intervals") = t.mvIntervals.toSeq
      t.detach()
    }
    stop(s)
    if (tracer.nonEmpty && workload == "stream_embed")
      c.report("baseline_1core") = Streams.baseline(c)
    save(o("out"), c.report)
  }
}

package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Instruments of the traced run, attached from outside the engine:
  *  - a SparkListener that groups jobs, tasks, shuffle and spill by the
  *    job group the benchmark sets around each timed call;
  *  - a QueryExecutionListener summing QueryPlanningTracker phase times;
  *  - reads of Spark's codegen compile-time histogram;
  *  - the intervals of SQL executions run with AQE off, which is how
  *    `Mv.memo` runs its builds, so their union is the MV build time.
  */
final class Tracer(s: SparkSession) {
  final class Group {
    val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
    var tasks = 0L
    var taskMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }

  private val groups = mutable.Map.empty[String, Group]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val openJobs = mutable.Map.empty[Int, (String, Long)]
  private val mvOpen = mutable.Map.empty[Long, Long]
  val mvIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  @volatile private var planMs = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      openJobs(e.jobId) = (g, e.time)
      e.stageIds.foreach(stageGroup(_) = g)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      openJobs.remove(e.jobId).foreach { case (g, t0) => group(g).jobs += ((t0, e.time)) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageGroup.get(e.stageId).foreach { g =>
        val a = group(g)
        a.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          a.taskMs += m.executorRunTime
          a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Tracer.this.synchronized {
      e match {
        case st: SparkListenerSQLExecutionStart
            if st.modifiedConfigs.get("spark.sql.adaptive.enabled").contains("false") =>
          mvOpen(st.executionId) = st.time
        case en: SparkListenerSQLExecutionEnd =>
          mvOpen.remove(en.executionId).foreach(t0 => mvIntervals += ((t0, en.time)))
        case _ =>
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planMs += qe.tracker.phases.values.map(_.durationMs).sum
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      planMs += qe.tracker.phases.values.map(_.durationMs).sum
  }

  s.sparkContext.addSparkListener(listener)
  s.listenerManager.register(qeListener)

  private def group(g: String): Group = groups.getOrElseUpdate(g, new Group)

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(s.sparkContext)

  def take(g: String): Group = synchronized { groups.remove(g).getOrElse(new Group) }

  def plannedMs: Long = planMs

  def detach(): Unit = {
    s.sparkContext.removeSparkListener(listener)
    s.listenerManager.unregister(qeListener)
  }
}

object Tracer {
  /** Summed ms of Spark's codegen compile-time histogram. The reservoir
    * keeps every sample until it holds 1028, so the sum is exact below
    * that and an estimate from the mean above it. */
  def codegenMs(): Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    if (h.getCount <= snap.size) snap.getValues.map(_.toDouble).sum else snap.getMean * h.getCount
  }

  /** Ids of the RDDs currently persisted (checkpoints and MV blocks). */
  def persisted(s: SparkSession): Set[Int] = s.sparkContext.getPersistentRDDs.keySet.toSet
}

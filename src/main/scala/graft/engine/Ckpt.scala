package graft.engine

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.SparkPlan

/** Checkpoint-transparent plan capture (VERDICT r14 lead item).
  *
  * `localCheckpoint()` truncates lineage to a `LogicalRDD` leaf, so any
  * plan hazard inside the checkpointed subtree — an unpartitioned
  * corpus-scale window, a cartesian product, an unbounded
  * BroadcastNestedLoopJoin — became INVISIBLE to the full-surface plan
  * gate (PlanAuditSpec): the gate audited only the final, truncated
  * plan, and every new mid-query checkpoint silently shrank its
  * coverage (the r14 q_text_heaps_law blind spot: a doc-count-sized
  * global ntile hidden behind a 10-row checkpoint).
  *
  * Every engine checkpoint of a derived table therefore routes through
  * `.ckpt()` (this object's implicit syntax): identical runtime
  * behavior to `localCheckpoint()` — the plan is already computed by
  * the eager checkpoint itself, so capture adds no planning work — but
  * when the audit flag is on, the PRE-checkpoint physical plan is
  * recorded for the gate to sweep with the same hazard predicates it
  * applies to final plans. Recording is OFF by default (zero overhead
  * and zero retained references in production); PlanAuditSpec turns it
  * on around each registered query body.
  *
  * Thread-safety: the record buffer is thread-local — checkpoint
  * actions execute on the thread that builds the query (including Mv
  * builds, which serialize under the registry lock on the caller's
  * thread), so a recording session never observes another thread's
  * checkpoints.
  */
object Ckpt {
  private val buffer =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[(String, SparkPlan)]]()

  /** Run `body` with plan capture on (this thread only); returns
    * (body result, every (tag, pre-checkpoint plan) captured). */
  def record[A](body: => A): (A, Seq[(String, SparkPlan)]) = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, SparkPlan)]
    buffer.set(buf)
    try { val a = body; (a, buf.toSeq) }
    finally buffer.remove()
  }

  /** The calling thread's active capture buffer (null outside a
    * `record` scope) — engine code that fans work out to its own
    * driver threads (Par.run) hands this to `withBuffer` so worker-
    * thread checkpoints stay visible to the plan audit. Capture stays
    * thread-scoped otherwise: concurrent suites' record scopes can
    * never observe each other (the original thread-locality argument),
    * only threads a recorded query SPAWNS inherit its scope. */
  private[engine] def currentBuffer: AnyRef = buffer.get()

  /** Install `buf` (a parent thread's capture buffer, or null) as this
    * thread's capture scope for the duration of `body`. Appends are
    * synchronized on the buffer because sibling workers share it. */
  private[engine] def withBuffer[A](buf: AnyRef)(body: => A): A = {
    val old = buffer.get()
    buffer.set(buf.asInstanceOf[scala.collection.mutable.ArrayBuffer[(String, SparkPlan)]])
    try body finally {
      if (old != null) buffer.set(old) else buffer.remove()
    }
  }

  /** Checkpoint `df`, capturing its pre-checkpoint physical plan when a
    * `record` scope is active on this thread; the checkpoint's jobs run
    * under the description `<caller's>/ckpt:<tag>`. */
  def apply(df: DataFrame, tag: String = ""): DataFrame = df.ckpt(tag)

  implicit class CkptOps[T](private val ds: Dataset[T]) extends AnyVal {
    def ckpt(tag: String = ""): Dataset[T] = {
      val buf = buffer.get()
      if (buf != null) buf.synchronized {
        buf += ((tag, ds.queryExecution.sparkPlan))
      }
      JobTag.under(ds.sparkSession.sparkContext, s"ckpt:$tag")(ds.localCheckpoint())
    }
  }
}

/** Job attribution at the engine's choke points (kernel iterations, MV
  * builds, Par legs, checkpoints): runs `body` with the thread's Spark job
  * description set to `desc`, then restores the caller's. The job group
  * (what a caller such as a benchmark sets around a whole query) is
  * never touched. */
object JobTag {
  private val Key = "spark.job.description" // SparkContext.SPARK_JOB_DESCRIPTION

  def apply[A](sc: SparkContext, desc: String)(body: => A): A = {
    val prev = sc.getLocalProperty(Key)
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }

  /** `apply` with `leaf` appended to the caller's description:
    * `<caller's>/<leaf>`, or `leaf` alone when the caller has none. */
  def under[A](sc: SparkContext, leaf: String)(body: => A): A =
    apply(sc, Option(sc.getLocalProperty(Key)).fold("")(_ + "/") + leaf)(body)
}

/** Overlap INDEPENDENT legs of one query on driver threads (guide
  * §2.6: actions are only sequential because driver code calls them
  * sequentially; concurrent jobs back-fill executors freed by each
  * other's stragglers). The engine's sequential-leg queries — the RFM
  * ntile axes, the SCC forward/backward sweeps, the simhash audit's
  * materialization legs — are job-count-bound at ~20 ms of scheduler/
  * planning latency per job, so running k independent legs on k
  * threads compresses wall-clock toward the slowest leg.
  *
  * Fresh threads (not a pool): SparkContext local properties (job
  * descriptions, scheduler pool) propagate to child threads via
  * InheritableThreadLocal at Thread creation, and the Ckpt capture
  * scope is handed over explicitly so the plan-audit gate keeps seeing
  * worker-thread checkpoints (the r17 blocker for overlapping the RFM
  * axes). Each leg's jobs carry the description `<caller's>/leg<i>`.
  * Exceptions propagate to the caller (first one wins). */
object Par {
  def run[A](s: SparkSession, bodies: Seq[() => A]): Seq[A] = {
    if (bodies.sizeIs <= 1) return bodies.map(_())
    val sc = s.sparkContext
    val buf = Ckpt.currentBuffer
    val results = new Array[Any](bodies.size)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = bodies.zipWithIndex.map { case (b, i) =>
      val t = new Thread(() => {
        try results(i) = JobTag.under(sc, s"leg$i")(Ckpt.withBuffer(buf)(b()))
        catch { case e: Throwable => failure.compareAndSet(null, e) }
      }, s"graft-par-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    if (failure.get() != null) throw failure.get()
    results.toSeq.asInstanceOf[Seq[A]]
  }
}

package org.apache.spark.sql.graft

import org.apache.spark.{ShuffleDependency, SparkContext}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSession}

/** Re-binds a DataFrame's logical plan to another SparkSession of the
  * SAME SparkContext.
  *
  * Why this exists: `Mv.memo` executes MV builds on a `newSession()`
  * clone so the build-time AQE-off toggle cannot leak to concurrent
  * queries (VERDICT r8 item 7). But a Dataset carries its session, and
  * every consumer query CHAINED OFF the returned MV would otherwise
  * analyze and execute under the clone's state — fresh temp-function
  * registry (observed: `graft_vec_dot` unresolved in q_gnn_attention)
  * and AQE permanently off. After the build the MV is a checkpointed
  * `LogicalRDD` — a self-contained leaf whose blocks live in the shared
  * SparkContext — so re-binding the plan to the caller's session is
  * exactly the right semantics: same data, same captured partitioning,
  * caller's analyzer/conf for everything downstream.
  *
  * `Dataset.ofRows` is `private[sql]`, hence this one-object bridge in
  * an `org.apache.spark.sql` subpackage — the standard pattern Spark
  * extension libraries use to construct DataFrames from LogicalPlans.
  */
object SessionBridge {
  def rebind(target: SparkSession, df: DataFrame): DataFrame =
    ClassicDataset.ofRows(target.asInstanceOf[ClassicSession],
      df.queryExecution.logical)

  /** Block until every event posted so far has reached the session's
    * SparkListeners (`listenerBus` is `private[spark]`). */
  def drainListeners(s: SparkSession): Unit =
    s.sparkContext.listenerBus.waitUntilEmpty()

  /** Run `dep`'s map stage as a job of its own and wait for it
    * (`submitMapStage` is `private[spark]`). */
  def runMapStage(sc: SparkContext, dep: ShuffleDependency[_, _, _]): Unit =
    sc.submitMapStage(dep).get()
}

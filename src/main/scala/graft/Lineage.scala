package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The engine's only lineage cut: every materialization barrier in
  * `src/main` goes through [[cut]] (DevMainsSpec pins it), so the
  * session decides between the two cuts, never the call site:
  *
  *   - no checkpoint dir (the default): `localCheckpoint` — executor-local
  *     blocks, fastest, right for local/interactive runs, lost with an
  *     executor;
  *   - `spark.checkpoint.dir` set on the session (any registered Hadoop
  *     FS scheme): reliable `checkpoint`, which survives executor
  *     preemption — the posture a preemptible-executor cluster needs.
  *
  * The dir is read, never set: it is SparkContext-global, and the engine
  * leaves it to whoever builds the session.
  *
  * A cut earns its job in one of three ways:
  *   - an iterative round (`eager = true`): each round materializes
  *     before the driver reads its convergence metric, and AQE re-plans
  *     the next round on it;
  *   - a lifecycle gate (`eager = true`): freeze an index version or a
  *     file listing before the next step mutates what it reads;
  *   - a shared subtree (`eager = false`): collapse the plan to ONE
  *     shared RDD that materializes inside the first action, with no
  *     job barrier of its own (measured ~0.2 s/barrier at gate scale).
  *     Consumers that run as concurrent jobs may ask for the same
  *     uncached partition at once; Spark's block manager makes the
  *     later one wait on the writer's lock and read its copy (the
  *     "Block rdd_… already exists" warning), so it still computes once.
  *     An eager cut whose first consumer is an action reading every
  *     partition (a count, a full aggregate) is the same cut plus a job.
  *
  * A reliable cut is always written eagerly: Spark writes a reliable
  * checkpoint in a job of its own after the first action, which
  * recomputes the unpersisted subtree, so deferring it would compute the
  * subtree twice.
  *
  * A lazy cut's lineage is truncated when the first job that reads it
  * ends, but a job that started before then still reports the SQL
  * metrics of the subtree behind the cut when its tasks end. So the
  * subtree's executed plan, which owns those metrics, lives as long as
  * the cut's RDD does; without it the driver garbage-collects the
  * metrics and logs "Failed to update accumulator" for each one. */
object Lineage {

  private val lazyCutPlans =
    java.util.Collections.synchronizedMap(new java.util.WeakHashMap[AnyRef, AnyRef]())

  def cut(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else if (eager) df.localCheckpoint(eager = true)
    else {
      val cut = df.localCheckpoint(eager = false)
      cut.queryExecution.logical.foreach {
        case l: LogicalRDD => lazyCutPlans.put(l.rdd, df.queryExecution.executedPlan)
        case _ =>
      }
      cut
    }
}

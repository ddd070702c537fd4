package graft

import org.apache.spark.sql.DataFrame

/** The engine's one lineage-cut rule, shared by the iterative Dedup and
  * Graph families and the GlobalOrder two-pass operators. The session
  * decides between the two cuts, never the call site:
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
  * `eager = false` still collapses the plan to ONE shared RDD — every
  * downstream reference reads the same blocks, so the subtree computes
  * once — but defers materialization to the first action, keeping the
  * whole query a single pipelined job instead of a sequence of
  * checkpoint barriers (measured ~0.2 s/barrier at gate scale).
  * Iterative loops need `eager = true`: each round must materialize
  * before the driver can read its convergence metric. */
object Lineage {

  def cut(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager)
    else df.localCheckpoint(eager)
}

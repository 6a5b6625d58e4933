package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Workaround for a constraint leak in `Dataset.localCheckpoint`
  * (observed on Spark 4.1.2): the checkpoint snapshots the origin plan's
  * constraints into [[LogicalRDD]] WITHOUT the `outputSet` filter every
  * ordinary operator applies in `QueryPlanConstraints.constraints`, so a
  * checkpointed projection can carry constraints referencing
  * pre-projection attribute ids (e.g. `isnotnull(dist#918)` while the
  * output's attribute is `dist#1028`). Unioning several such frames —
  * exactly what the iterative graph kernels build per level — and
  * embedding the union under an outer join then makes
  * `UnionBase.rewriteConstraints` throw `key not found: <attr>` when it
  * rewrites child constraints into the union's output space.
  *
  * [[cleanLocalCheckpoint]] checkpoints, then rebuilds the LogicalRDD
  * with its constraint set filtered to the output (the same filter the
  * non-leaf operators apply) and its computed stats preserved, so
  * size-based planning (broadcast decisions) is unaffected. The RDD is
  * materialized exactly once, as with a plain `localCheckpoint`.
  *
  * Lives under `org.apache.spark.sql` for `private[sql]` access to
  * `Dataset.ofRows` — the standard extension-library technique, public
  * Spark API everywhere else.
  */
object CleanCheckpoint {
  /** Eager on purpose: the per-level kernel loops probe the
    * checkpointed frame with `isEmpty` (a limit-1 job) — under a LAZY
    * local checkpoint that materializes only the first partition, the
    * lineage is never truncated and every subsequent level recomputes
    * the whole history (measured: the kernel specs hang). The dedicated
    * materialization job per level is the price of bounded lineage. */
  def cleanLocalCheckpoint(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    ck.queryExecution.logical match {
      case lr: LogicalRDD =>
        val spark = ck.sparkSession.asInstanceOf[SparkSession]
        val kept = lr.constraints.filter(c =>
          c.references.subsetOf(lr.outputSet) && c.deterministic)
        Dataset.ofRows(spark,
          new LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
            lr.outputOrdering, lr.isStreaming, lr.stream)(
            spark, Some(lr.computeStats()), Some(kept)))
      case _ => ck
    }
  }

  /** Free the storage behind a [[cleanLocalCheckpoint]]'d frame:
    * `Dataset.unpersist` looks the frame up in the cache manager, finds
    * no entry for a LogicalRDD-backed plan, and silently no-ops — the
    * checkpoint blocks then linger until the RDD is GC'd. This
    * unpersists the underlying RDD directly. No-op on frames that are
    * not checkpoint-backed, so callers can apply it unconditionally
    * alongside `unpersist`. NOTE: a released checkpoint frame cannot be
    * recomputed (lineage was truncated) — release only when the frame
    * will not be read again. */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case lr: LogicalRDD =>
        try lr.rdd.unpersist(blocking = false)
        catch { case _: Exception => () }
      case _ => ()
    }
}

/** Spark's per-session `sessionUUID` (`private[sql]`): a random UUID per
  * session, never reused, unlike `System.identityHashCode`. Keys
  * [[graft.graph.PlanMemo]] entries to the session that built them. */
object SessionId {
  def apply(spark: org.apache.spark.sql.SparkSession): String =
    spark.asInstanceOf[SparkSession].sessionUUID
}

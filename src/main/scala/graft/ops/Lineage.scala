package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** Lineage control for the ops that run Spark actions while they
  * build their plan (component rounds, per-source mix counts) over an
  * input their returned frame reads again. */
object Lineage {

  /** `df`, computed at most once: a lazy local checkpoint. The op's
    * first action computes the input and stores its partitions
    * (MEMORY_AND_DISK, executor block storage); concurrent stage jobs
    * of that action wait on the block write lock and read the stored
    * copy, and every later job and the downstream sink read the
    * checkpoint instead of re-running the upstream chain. The copy is
    * released by the ContextCleaner once the frames that use it are
    * dropped.
    *
    * Under AQE the shuffle stages BELOW the checkpoint run when this
    * is called (the adaptive plan materializes its query stages to
    * build the RDD); the final stage runs in the op's first action.
    * Both are the one pass over the input.
    *
    * Returned as is: a streaming frame (no checkpoint exists for
    * one), a frame the optimizer proves empty (the zero-row frames of
    * `check` stay job-free) and a frame that already is a
    * materialized leaf (checkpoint, cache, local rows). */
  def once(df: DataFrame): DataFrame =
    if (df.isStreaming || Similarity.provenMaxRows(df).contains(0L)) df
    else df.queryExecution.optimizedPlan match {
      case _: LogicalRDD | _: InMemoryRelation | _: LocalRelation => df
      case _ => df.localCheckpoint(eager = false)
    }
}

package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.graftshim.DatasetShim

import graft.plans.Fence

/** Lineage control for the ops that run Spark actions while they
  * build their plan (component rounds, per-source mix counts) over an
  * input their returned frame reads again, and for the ops whose
  * derived columns must not be copied into later filters. */
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

  /** `df` behind a plan fence ([[graft.plans.Fence]]): a later filter
    * on a column `df` derives runs over the computed column instead of
    * a copy of its expression, so each derivation is evaluated once
    * per row. Filters on the columns `df` passes through unchanged
    * still move below it, down to the scan. No job, no stored copy:
    * the fence plans as its child.
    *
    * For an op that derives a column by a regex chain or a per-row
    * kernel that a later filter may read. A streaming frame is
    * returned as is. */
  def fence(df: DataFrame): DataFrame =
    if (df.isStreaming) df
    else DatasetShim.ofRows(df.sparkSession, Fence(DatasetShim.analyzed(df)))
}

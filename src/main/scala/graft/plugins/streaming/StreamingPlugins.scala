package graft.plugins.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.core.{Errors, PluginExecutionError, SchemaValidationError}
import graft.plugins.input.FileInputPlugin
import graft.plugins.output.FileOutputPlugin

/** Streaming face of the pipeline: the SAME config format and the
  * SAME transform plugins, with streaming sources/sinks. A streaming
  * DataFrame is the same lazy plan type, so the whole §2B transform
  * vocabulary (filter/select/with_column/group_by_agg/...) composes
  * unchanged between `parquet_stream_scan` and `stream_parquet_writer`.
  *
  * The sink runs with `Trigger.AvailableNow`: process everything
  * currently in the landing directory through the streaming engine
  * (micro-batches, checkpointed offsets, exactly-once file sink),
  * then stop — the batch-driven mode of a continuously-running
  * pipeline. Re-running the same config picks up only NEW files via
  * the checkpoint: incremental ingestion from a config file.
  */
class ParquetStreamScanPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends FileInputPlugin(options, configDir, label) {
  def name: String = "parquet_stream_scan"

  private def directory(): Either[Throwable, Path] =
    inputPath().flatMap(p =>
      if (Files.isDirectory(p)) Right(p)
      else Left(new PluginExecutionError(
        s"Streaming input must be a directory of files: $p")))

  def execute()(implicit spark: SparkSession): Either[Throwable, DataFrame] =
    directory().flatMap { p =>
      Errors.safe {
        // schema from the current files' footers (required by readStream)
        val schema = spark.read.parquet(p.toString).schema
        val reader = spark.readStream.schema(schema)
        // bound per-micro-batch work on a flooded landing dir
        // (backfill catch-up) — the standard ingestion rate limit
        int("max_files_per_trigger")
          .fold(reader)(n => reader.option("maxFilesPerTrigger", n.toLong))
          .parquet(p.toString)
      }
    }
}

/** Where a streaming sink keeps its offsets: `checkpoint` resolved
  * against the config dir, else `<output_path>_checkpoint`. */
abstract class StreamingFileOutputPlugin(options: Map[String, Any], configDir: Path,
                                         label: String)
    extends FileOutputPlugin(options, configDir, label) {
  protected def checkpoint(p: Path): String =
    str("checkpoint").fold(p.toString + "_checkpoint")(c => resolvePath(c).toString)

  protected def requireStreaming(df: DataFrame): Unit =
    if (!df.isStreaming)
      throw new PluginExecutionError(
        s"$name requires a streaming input (use parquet_stream_scan)")
}

/** Streaming parquet sink with checkpointed exactly-once semantics. */
class StreamParquetWriterPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends StreamingFileOutputPlugin(options, configDir, label) {
  def name: String = "stream_parquet_writer"

  def execute(df: DataFrame): Either[Throwable, Unit] =
    outputPath().flatMap { p =>
      Errors.safe {
        requireStreaming(df)
        val q = df.writeStream
          .format("parquet")
          .option("path", p.toString)
          .option("checkpointLocation", checkpoint(p))
          .outputMode(str("output_mode", "append"))
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
    }
}

/** Streaming CDC-compaction sink ([[graft.streaming.Streams.upsertLatest]]):
  * maintains a latest-event-per-key parquet state table via
  * `foreachBatch` merge. The merge is associative + idempotent, so
  * the state is batch-boundary-independent and safe under
  * foreachBatch's at-least-once replays. Options: output_path (req —
  * the state table), key_columns, order_columns (req, lists),
  * checkpoint (default `<output>_checkpoint`). */
class StreamUpsertWriterPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends StreamingFileOutputPlugin(options, configDir, label) {
  def name: String = "stream_upsert_writer"

  def execute(df: DataFrame): Either[Throwable, Unit] =
    for {
      p <- outputPath()
      keys <- stringList("key_columns")
      order <- stringList("order_columns")
      _ <- Errors.safe {
        requireStreaming(df)
        graft.streaming.Streams.upsertLatest(df, keys, order,
          p.toString, checkpoint(p))
      }
    } yield ()

  override def dryRun(schema: StructType): Either[Throwable, StructType] =
    for {
      keys <- stringList("key_columns")
      order <- stringList("order_columns")
      _ <- (keys ++ order).find(c => !schema.fieldNames.contains(c))
        .map(c => Left(new SchemaValidationError(s"Column '$c' not found in schema")))
        .getOrElse(Right(()))
      out <- super.dryRun(schema)
    } yield out
}

/** Streaming snapshot sink: every micro-batch COMMITS an immutable
  * [[graft.sources.Snapshots]] version via foreachBatch, keyed by the
  * batch id — a replayed batch (failure retry, checkpoint restart)
  * is a no-op, so the version history is effectively-once without a
  * transaction log. Continuous ingestion with time travel: any past
  * version stays readable via `snapshot_scan` while new batches land.
  * Options: output_path (req — the snapshot directory), checkpoint
  * (default <output_path>_checkpoint). */
class StreamSnapshotWriterPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends StreamingFileOutputPlugin(options, configDir, label) {
  def name: String = "stream_snapshot_writer"

  def execute(df: DataFrame): Either[Throwable, Unit] =
    outputPath().flatMap { p =>
      Errors.safe {
        requireStreaming(df)
        val q = df.writeStream
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            graft.sources.Snapshots.writeBatch(batch, p.toString, batchId)
            ()
          }
          .option("checkpointLocation", checkpoint(p))
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
    }
}

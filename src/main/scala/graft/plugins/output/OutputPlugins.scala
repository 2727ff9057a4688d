package graft.plugins.output

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.core.{Errors, OutputPlugin, PluginExecutionError}

/** Shared plumbing for file sinks: required `output_path`, parent-dir
  * creation, and the dry-run writability check
  * (ref /root/reference/.../output/parquet_writer.py:22-75). */
abstract class FileOutputPlugin(val options: Map[String, Any],
                                val configDir: Path,
                                override val label: String)
    extends OutputPlugin {

  protected def outputPath(): Either[Throwable, Path] =
    requiredString("output_path").map(resolvePath)

  /** `mkdir -p` the parent, like parquet_writer.py:38-40. */
  protected def ensureParent(path: Path): Unit = {
    val parent = path.toAbsolutePath.getParent
    if (parent != null) Files.createDirectories(parent)
  }

  /** Dry-run contract: path present + parent creatable; schema is
    * passed through unchanged (parquet_writer.py:51-75). */
  def dryRun(schema: StructType): Either[Throwable, StructType] =
    outputPath().flatMap { p =>
      try { ensureParent(p); Right(schema) }
      catch {
        case scala.util.control.NonFatal(e) =>
          Left(new PluginExecutionError(
            s"Cannot create parent directory for $p: ${e.getMessage}", e))
      }
    }

  /** Reference writes exactly one file (`sink_parquet`); Spark writes a
    * directory of part-files — the correct shape at scale, where each
    * task writes its partition in parallel. `single_file = true` opts
    * into reference-style one-file output via coalesce(1) (small
    * results only; it serializes the final write). */
  protected def singleFile: Boolean = flag("single_file", false)

  protected def mode: String = str("mode", "overwrite")
}

/** A7/A8 — Parquet sink: THE action that triggers the whole lazy plan,
  * exactly like the reference's `sink_parquet`
  * (ref output/parquet_writer.py:42-45; docs/plugin_development.md:86-88).
  * Execution is streaming/out-of-core by construction: each task writes
  * its own partition; nothing materializes on the driver. */
class ParquetWriterPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends FileOutputPlugin(options, configDir, label) {
  def name: String = "parquet_writer"

  def execute(df: DataFrame): Either[Throwable, Unit] =
    outputPath().flatMap { p =>
      Errors.safe {
        ensureParent(p)
        val sized00 = if (singleFile) df.coalesce(1) else df
        // Multi-dimensional clustering: Z-order the frame on the named
        // columns so min/max row-group skipping works for predicates
        // on ANY of them, not just a leading sort column. This IS the
        // layout shuffle (range partition on the code), so it replaces
        // repartition_by/sort_within_partitions rather than stacking
        // a second exchange on top.
        val sized0 = strs("cluster_by").fold(sized00)(cols =>
          graft.ops.ZOrder.clustered(sized00, cols, int("cluster_bits", 8),
            int("cluster_files", 0), str("cluster_curve", "z")))
        // cluster_by IS the layout shuffle: stacking repartition_by /
        // sort_within_partitions on top would silently destroy the
        // Z-order the previous exchange just paid for — ignore them
        // with a warning rather than write a falsely-clustered table.
        val layoutConflicts = Seq("repartition_by", "sort_within_partitions")
          .filter(options.contains)
        val clusterWins = options.contains("cluster_by") && layoutConflicts.nonEmpty
        if (clusterWins)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"cluster_by already defines the write layout; ignoring " +
              layoutConflicts.mkString(", "))
        // Align task partitioning with the hive partition columns:
        // without this, every task writes a file into every partition
        // directory (tasks × partitions small files at scale); with
        // it, each partition's rows land in few tasks. The one
        // shuffle this adds is usually the cheapest part of a big
        // partitioned write.
        val sized = (if (clusterWins) None else strs("repartition_by"))
          .fold(sized0)(cs => sized0.repartition(cs.map(col): _*))
        // Row-group clustering: sorting within partitions tightens
        // parquet min/max column stats so readers prune row groups —
        // the cheap (no-shuffle) half of write-time data layout.
        val out = (if (clusterWins) None else strs("sort_within_partitions"))
          .fold(sized)(cs => sized.sortWithinPartitions(cs.map(col): _*))
        var writer = out.write.mode(mode)
        // zstd trades ~10% write CPU for ~30% smaller files than the
        // snappy default — usually the right call at 100 TB.
        str("compression").foreach(c => writer = writer.option("compression", c))
        // Bound output file sizes (splittable units for downstream
        // readers) without a repartition shuffle.
        long("max_records_per_file").foreach(n =>
          writer = writer.option("maxRecordsPerFile", n))
        // Data-lake layout at scale: hive-style partition directories
        // enable partition pruning on read (scan only matching dirs).
        strs("partition_by").foreach(cs => writer = writer.partitionBy(cs: _*))
        // Bucketed tables: co-locate join/agg keys at WRITE time so
        // repeated joins on the bucket key run with NO shuffle on
        // either side (bucket-aware scan). Requires a catalog table
        // (`table` option); data still lands under output_path.
        (strs("bucket_by"), str("table")) match {
          case (Some(cols), Some(tbl)) =>
            writer
              .bucketBy(int("buckets", 16), cols.head, cols.tail: _*)
              .sortBy(cols.head, cols.tail: _*)
              .option("path", p.toString)
              .saveAsTable(tbl)
          case _ =>
            writer.parquet(p.toString)
        }
      }
    }
}

/** CSV sink (reference documents `write_csv` as part of the plugin
  * vocabulary, docs/plugin_development.md:1537-1544). */
class CsvWriterPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends FileOutputPlugin(options, configDir, label) {
  def name: String = "csv_writer"

  def execute(df: DataFrame): Either[Throwable, Unit] =
    outputPath().flatMap { p =>
      Errors.safe {
        ensureParent(p)
        val out = if (singleFile) df.coalesce(1) else df
        out.write.mode(mode)
          .option("header", flag("has_header", true))
          .option("sep", str("separator", ","))
          .csv(p.toString)
      }
    }
}

/** JSONL sink (newline-delimited JSON): one JSON object per row,
  * written in parallel per task like the parquet sink — the standard
  * hand-off format when the consumer is a tokenizer/trainer that
  * doesn't read parquet. `compression` (e.g. `gzip`, `zstd`) keeps
  * the text format's 3-5x size penalty in check. */
class JsonWriterPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends FileOutputPlugin(options, configDir, label) {
  def name: String = "json_writer"

  def execute(df: DataFrame): Either[Throwable, Unit] =
    outputPath().flatMap { p =>
      Errors.safe {
        ensureParent(p)
        val out = if (singleFile) df.coalesce(1) else df
        var writer = out.write.mode(mode)
        str("compression").foreach(c => writer = writer.option("compression", c))
        writer.json(p.toString)
      }
    }
}

/** ORC sink (beyond-reference, pairs with `orc_scan`): parallel
  * per-task writes like the parquet sink; `compression` defaults to
  * Spark's zlib (`zstd`/`snappy`/`lzo` accepted). */
class OrcWriterPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends FileOutputPlugin(options, configDir, label) {
  def name: String = "orc_writer"

  def execute(df: DataFrame): Either[Throwable, Unit] =
    outputPath().flatMap { p =>
      Errors.safe {
        ensureParent(p)
        val out = if (singleFile) df.coalesce(1) else df
        var writer = out.write.mode(mode)
        str("compression").foreach(c => writer = writer.option("compression", c))
        writer.orc(p.toString)
      }
    }
}

/** Arrow IPC sink, mirror of `write_ipc`
  * (docs/plugin_development.md:1239-1242). Distributed by default:
  * the arrow-ipc DataSourceV2 write streams each partition into its
  * own part file (record batches of `batch_rows` rows), so nothing
  * materializes on the driver and a frame of any size writes in
  * parallel — the mirror of the read side's batch-per-task split.
  *
  * `single_file = true` restores the reference's exact one-FILE shape:
  * the frame is coalesced to one task, written through the same DSv2
  * path into a staging directory, and the lone part file is renamed to
  * `output_path` — still zero rows through the driver (the coalesce
  * serializes the write onto one executor core, as with the other
  * single_file sinks). */
class IpcWriterPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends FileOutputPlugin(options, configDir, label) {
  def name: String = "ipc_writer"

  def execute(df: DataFrame): Either[Throwable, Unit] =
    outputPath().flatMap { p =>
      Errors.safe {
        ensureParent(p)
        val batchRows = int("batch_rows").map(n => "batch_rows" -> n.toString).toMap
        if (singleFile) {
          val staging = p.resolveSibling(p.getFileName.toString + ".staging")
          df.coalesce(1).write.format("arrow-ipc").mode("overwrite")
            .options(batchRows)
            .save(staging.toString)
          val parts = graft.sources.ArrowIpcSource.resolvePaths(staging.toString)
          require(parts.size == 1,
            s"single_file ipc write produced ${parts.size} part files")
          Files.deleteIfExists(p)
          Files.move(java.nio.file.Paths.get(parts.head), p,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          Files.delete(staging)
        } else {
          df.write.format("arrow-ipc").options(batchRows).mode(mode).save(p.toString)
        }
      }
    }
}

/** Snapshot sink ([[graft.sources.Snapshots]]): every pipeline run
  * COMMITS a new immutable version (data files first, manifest last)
  * instead of overwriting — `snapshot_scan` then pins any past
  * version forever. Options: output_path (req, the snapshot
  * directory). */
class SnapshotWriterPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends FileOutputPlugin(options, configDir, label) {
  def name: String = "snapshot_writer"

  def execute(df: DataFrame): Either[Throwable, Unit] =
    outputPath().flatMap { p =>
      Errors.safe {
        ensureParent(p)
        graft.sources.Snapshots.write(df, p.toString)
        ()
      }
    }
}

package graft.core

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Plugin contract, mirroring the reference ABCs
  * (/root/reference/packages/cryoflow-core/cryoflow_core/plugin.py:15-90).
  *
  * `FrameData` in the reference is `pl.LazyFrame | pl.DataFrame`
  * (plugin.py:10); a Spark `DataFrame` is always a lazy logical plan
  * until an action runs, so one type covers both variants. Transform
  * plugins therefore only grow the Catalyst plan — execution is
  * deferred to an output plugin's write action, exactly like Polars'
  * `collect()/sink_*()` (reference docs/spec.md:30-31).
  *
  * Engine rule (docs/plugin_development.md:552 "Don't call collect()"):
  * input/transform plugins only grow the plan; output plugins run it,
  * so pushdown/pruning span plugin boundaries. Ops that need data to
  * build their plan are the exception and run Spark actions inside
  * `execute` (component rounds, per-source counts, k-means, PageRank).
  * Those whose result re-reads the input — dedup `minhash_clustered*`,
  * sample `mix_*` and `split_leakage_safe` with `pair_method =
  * "minhash"` — compute it once through [[graft.ops.Lineage.once]],
  * so neither their jobs nor the sink re-run the upstream chain.
  */
trait BasePlugin {
  /** Human-readable plugin name used in logs and error messages. */
  def name: String

  /** Options map from the config's `[plugin.options]` table
    * (reference config.py:21). */
  def options: Map[String, Any]

  /** Directory of the config file; relative paths resolve against it,
    * NOT the CWD (reference plugin.py:31-50, docs/spec.md:151-218). */
  def configDir: Path

  /** Data-stream label for multi-stream routing (reference
    * plugin.py:26-29; default "default"). */
  def label: String = "default"

  /** Resolve `p` against the config directory; absolute paths are kept
    * (normalized). Reference plugin.py:31-50. */
  final def resolvePath(p: String): Path = {
    val path = Paths.get(p)
    if (path.isAbsolute) path.normalize
    else configDir.resolve(path).normalize
  }

  protected def optString(key: String): Either[Throwable, String] =
    options.get(key) match {
      case Some(v) => Right(v.toString)
      case None =>
        Left(new PluginExecutionError(
          s"$name: required option '$key' not found"))
    }

  protected def optStringOr(key: String, default: String): String =
    options.get(key).map(_.toString).getOrElse(default)
}

/** Produces the initial DataFrame of a labeled stream (plugin.py:53-65). */
trait InputPlugin extends BasePlugin {
  def execute()(implicit spark: SparkSession): Either[Throwable, DataFrame]
  /** Schema without reading row data (Parquet footer / CSV sniff) —
    * plugin.py:60-65. May still submit Spark jobs: Spark's parquet
    * schema inference runs one footer-reading job per input. */
  def dryRun()(implicit spark: SparkSession): Either[Throwable, StructType]
}

/** Pure plan-to-plan function (plugin.py:68-77). */
trait TransformPlugin extends BasePlugin {
  def execute(df: DataFrame): Either[Throwable, DataFrame]
  /** Symbolic schema propagation for `check` (plugin.py:73-77). The
    * built-ins inherit it from `BaseTransformPlugin`: `execute`
    * analysed over a zero-row frame of `schema`. */
  def dryRun(schema: StructType): Either[Throwable, StructType]
}

/** A transform that additionally sees the other labeled streams —
  * how joins/unions reach a second frame in the label-routed pipeline
  * (the reference's transforms are single-stream only; multi-stream
  * routing per pipeline.py:143-162 makes this the natural extension
  * point, SURVEY §7 step 6). The plugin still consumes/produces the
  * stream matching its own `label`.
  */
trait MultiStreamTransformPlugin extends TransformPlugin {
  def executeWith(df: DataFrame,
                  streams: Map[String, Either[Throwable, DataFrame]])
      : Either[Throwable, DataFrame]

  def dryRunWith(schema: StructType,
                 schemas: Map[String, Either[Throwable, StructType]])
      : Either[Throwable, StructType]

  /** Single-stream fallbacks delegate with an empty map. */
  final def execute(df: DataFrame): Either[Throwable, DataFrame] =
    executeWith(df, Map.empty)
  override final def dryRun(schema: StructType): Either[Throwable, StructType] =
    dryRunWith(schema, Map.empty)
}

/** Terminal sink; the only place actions run (plugin.py:80-90). */
trait OutputPlugin extends BasePlugin {
  def execute(df: DataFrame): Either[Throwable, Unit]
  /** Validate sink viability (e.g. parent dir creatable); schema
    * passthrough (plugin.py:85-90). */
  def dryRun(schema: StructType): Either[Throwable, StructType]
}

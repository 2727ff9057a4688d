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
  * so neither their jobs nor the sink re-run the upstream chain. A
  * plugin that derives a column from a regex chain or a per-row kernel
  * returns its frame through [[graft.ops.Lineage.fence]], so a later
  * filter on that column does not copy the derivation into itself.
  *
  * Options are read through the accessors below, never from `options`
  * by hand, so every plugin parses a value of one kind the same way
  * ([[OptionKind]] lists the TOML forms each kind accepts):
  *
  *  - `required(key, kind)`, `requiredString(key)`, `stringList(key)`
  *    return a `Left` reading `Option 'key' is required` when the key
  *    is absent;
  *  - `str`, `num`, `int`, `long` read a string, double, int or long:
  *    `int("k")` is an `Option[Int]`, `int("k", 10)` defaults to 10;
  *    `flag("k", false)` reads a boolean, `strs` a string list and
  *    `table(key, kind)` an inline table whose values are all `kind`;
  *    `opt(key, kind)` reads any other kind (e.g. `OptionKind.numbers`).
  *
  * A value of the wrong kind fails with a [[PluginExecutionError]]
  * naming the plugin, the key, the expected kind and the value (a
  * `Left` from the required accessors, thrown by the others — the
  * pipeline turns a throw from any plugin call into a `Left`).
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

  protected final def opt[T](key: String, kind: OptionKind[T]): Option[T] =
    options.get(key).map(v => kind.parse(v).getOrElse(
      throw new PluginExecutionError(
        s"$name: Option '$key' must be ${kind.what}, got: ${OptionKind.show(v)}")))

  protected final def required[T](key: String, kind: OptionKind[T]): Either[Throwable, T] =
    Errors.safe(opt(key, kind)).flatMap(_.toRight(
      new PluginExecutionError(s"Option '$key' is required")))

  protected final def requiredString(key: String): Either[Throwable, String] =
    required(key, OptionKind.string)

  protected final def stringList(key: String): Either[Throwable, Seq[String]] =
    required(key, OptionKind.strings)

  protected final def str(key: String): Option[String] = opt(key, OptionKind.string)
  protected final def str(key: String, default: String): String = str(key).getOrElse(default)
  protected final def num(key: String): Option[Double] = opt(key, OptionKind.double)
  protected final def num(key: String, default: Double): Double = num(key).getOrElse(default)
  protected final def int(key: String): Option[Int] = opt(key, OptionKind.int)
  protected final def int(key: String, default: Int): Int = int(key).getOrElse(default)
  protected final def long(key: String): Option[Long] = opt(key, OptionKind.long)
  protected final def long(key: String, default: Long): Long = long(key).getOrElse(default)
  protected final def flag(key: String, default: Boolean): Boolean =
    opt(key, OptionKind.boolean).getOrElse(default)
  protected final def strs(key: String): Option[Seq[String]] = opt(key, OptionKind.strings)
  protected final def table[T](key: String, kind: OptionKind[T]): Option[Map[String, T]] =
    opt(key, OptionKind.tableOf(kind))
}

/** One kind of plugin option value: how an error names it, and the one
  * parser that reads the TOML forms meaning that kind (`None` for a
  * value of another kind). */
final class OptionKind[T] private (val what: String, val parse: Any => Option[T])

object OptionKind {
  /** Text; a TOML number or boolean reads as its text. */
  val string: OptionKind[String] = new OptionKind("a string", {
    case s: String => Some(s)
    case v @ (_: Number | _: Boolean) => Some(v.toString)
    case _ => None
  })

  /** Any TOML number, or a string that parses as one. */
  val double: OptionKind[Double] = new OptionKind("a number", {
    case n: Number => Some(n.doubleValue)
    case s: String => s.trim.toDoubleOption
    case _ => None
  })

  private def decimal(v: Any): Option[BigDecimal] = v match {
    case _: Number | _: String =>
      scala.util.Try(BigDecimal(v.toString.trim)).toOption
    case _ => None
  }

  /** A whole number in range: a TOML integer, a whole float such as
    * `5.0`, or a string holding either. */
  val int: OptionKind[Int] = new OptionKind("an integer",
    v => decimal(v).filter(_.isValidInt).map(_.toInt))
  val long: OptionKind[Long] = new OptionKind("an integer",
    v => decimal(v).filter(_.isValidLong).map(_.toLong))

  /** A TOML boolean, or the string "true" / "false". */
  val boolean: OptionKind[Boolean] = new OptionKind("a boolean", {
    case b: Boolean => Some(b)
    case s: String => s.toBooleanOption
    case _ => None
  })

  /** An array of `elem` values, or one such value alone. */
  def listOf[T](elem: OptionKind[T], what: String): OptionKind[Seq[T]] =
    new OptionKind(what, {
      case xs: Seq[_] =>
        val parsed = xs.map(elem.parse)
        if (parsed.forall(_.isDefined)) Some(parsed.map(_.get)) else None
      case v => elem.parse(v).map(Seq(_))
    })

  val strings: OptionKind[Seq[String]] = listOf(string, "a list of strings")
  val numbers: OptionKind[Seq[Double]] = listOf(double, "a list of numbers")
  val booleans: OptionKind[Seq[Boolean]] = listOf(boolean, "a list of booleans")

  /** An inline table whose values are all `elem`. */
  def tableOf[T](elem: OptionKind[T]): OptionKind[Map[String, T]] =
    new OptionKind(s"a table whose values are each ${elem.what}", {
      case m: Map[_, _] =>
        val parsed = m.map { case (k, v) => k.toString -> elem.parse(v) }
        if (parsed.values.forall(_.isDefined)) Some(parsed.map { case (k, v) => k -> v.get })
        else None
      case _ => None
    })

  /** A value as an error shows it: strings quoted, arrays bracketed. */
  private[core] def show(v: Any): String = v match {
    case s: String => "\"" + s + "\""
    case xs: Seq[_] => xs.map(show).mkString("[", ", ", "]")
    case other => other.toString
  }
}

/** Produces the initial DataFrame of a labeled stream (plugin.py:53-65). */
trait InputPlugin extends BasePlugin {
  def execute()(implicit spark: SparkSession): Either[Throwable, DataFrame]
  /** Schema without reading row data (plugin.py:60-65): by default the
    * schema of the unexecuted plan `execute` builds. May still submit
    * Spark jobs: Spark's parquet schema inference runs one
    * footer-reading job per input, CSV/JSON inference a sampling one. */
  def dryRun()(implicit spark: SparkSession): Either[Throwable, StructType] =
    execute().map(_.schema)
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

package graft.plugins.transform

import java.nio.file.Path

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Errors, GraftError, MultiStreamTransformPlugin,
  OptionKind, PluginExecutionError, SchemaValidationError, TransformPlugin}

/** Shared plumbing for transform plugins. */
abstract class BaseTransformPlugin(val options: Map[String, Any],
                                   val configDir: Path,
                                   override val label: String)
    extends TransformPlugin {

  /** The dry run `check` uses: `execute` (or `executeWith`, each
    * labeled schema standing in as a zero-row frame) analysed over a
    * zero-row frame of `schema`. Catalyst's analyzer resolves the very
    * plan `run` builds, the way Polars' dry-run schema walk does (ref
    * pipeline.py:61-94), so `check` declares exactly the schema `run`
    * produces. A plugin overrides this only where executing over zero
    * rows would do something its declared schema avoids. */
  def dryRun(schema: StructType): Either[Throwable, StructType] =
    dryRunWith(schema, Map.empty)

  def dryRunWith(schema: StructType,
                 schemas: Map[String, Either[Throwable, StructType]])
      : Either[Throwable, StructType] =
    Errors.safe {
      val spark = SparkSession.active
      def zeroRows(s: StructType): DataFrame =
        spark.createDataFrame(java.util.Collections.emptyList[Row](), s)
      val out = this match {
        case m: MultiStreamTransformPlugin =>
          m.executeWith(zeroRows(schema),
            schemas.map { case (l, s) => l -> s.map(zeroRows) })
        case _ => execute(zeroRows(schema))
      }
      out.map(_.schema)
    }.flatten.left.map(BaseTransformPlugin.schemaError)
}

object BaseTransformPlugin {
  /** Plugin errors pass through; Spark's unresolved-column error reads
    * as the reference's "Column 'x' not found in schema"; anything
    * else fails validation with Spark's message. */
  private def schemaError(e: Throwable): Throwable = e match {
    case g: GraftError => g
    case s: SparkThrowable if Option(s.getCondition).exists(c =>
        c.startsWith("UNRESOLVED_COLUMN") || c == "FIELD_NOT_FOUND") =>
      val ps = s.getMessageParameters
      val name = Option(ps.get("objectName")).orElse(Option(ps.get("fieldName")))
        .getOrElse("").replace("`", "")
      new SchemaValidationError(s"Column '$name' not found in schema", e)
    case _ => new SchemaValidationError(e.getMessage, e)
  }
}

/** A5/A6 — the reference's only shipped transform: multiply one numeric
  * column by a coefficient, preserving the column name
  * (ref /root/reference/.../transform/multiplier.py:21-85; option names
  * and error messages kept verbatim). */
class ColumnMultiplierPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "column_multiplier"

  private def opts(): Either[Throwable, (String, Double)] =
    for {
      c <- requiredString("column_name")
      m <- required("multiplier", OptionKind.double)
    } yield (c, m)

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    opts().flatMap { case (c, m) =>
      Errors.safe {
        // Match Polars dtype semantics (multiplier.py runs on Polars):
        // a whole multiplier keeps the column's own dtype (Int8 stays
        // Int8, Float32 stays Float32 — Spark's `*` would widen to
        // long/double), and any multiplier keeps a float column's
        // width. Only integral × fractional widens (to double, Polars
        // f64). This also keeps execute consistent with dryRun's
        // schema-unchanged contract for whole multipliers.
        val whole = m == m.floor && !m.isInfinite
        val k: Column = if (whole) lit(m.toLong) else lit(m)
        val orig = df.schema(c).dataType
        val prod = col(c) * k
        // Decimals are EXCLUDED from the cast-back: Spark's
        // decimal-narrowing cast NULLs on overflow (silent data
        // loss), so a decimal product keeps its widened precision
        // instead. Integer cast-back FAILS LOUDLY on overflow under
        // Spark's default ANSI mode (CAST_OVERFLOW) — the honest
        // fixed-width contract; `preserve_dtype = false` opts back
        // into the widen-to-long/double behavior for pipelines whose
        // values genuinely outgrow the column's type.
        val preserve = flag("preserve_dtype", true)
        val out =
          if (!preserve ||
              orig.isInstanceOf[org.apache.spark.sql.types.DecimalType]) prod
          else if (whole
              || orig.isInstanceOf[org.apache.spark.sql.types.FloatType]
              || orig.isInstanceOf[org.apache.spark.sql.types.DoubleType])
            prod.cast(orig)
          else prod
        df.withColumn(c, out)
      }
    }

  /** Kept for the reference's "expected numeric type" message
    * (multiplier.py dry_run); the schema itself is the derived one. */
  override def dryRun(schema: StructType): Either[Throwable, StructType] =
    opts().flatMap { case (c, _) =>
      schema.fields.find(_.name == c) match {
        case Some(f) if !f.dataType.isInstanceOf[NumericType] =>
          Left(new SchemaValidationError(
            s"Column '$c' has type ${f.dataType.simpleString}, expected numeric type"))
        case _ => super.dryRun(schema)
      }
    }
}

/** Filter by a SQL predicate expression — the doc'd filter vocabulary
  * (ref docs/plugin_development.md:1510-1512, :536-548). Using
  * `expr(...)` keeps zero custom parsing and full Catalyst pushdown. */
class FilterPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "filter"

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    requiredString("predicate").flatMap(p => Errors.safe(df.filter(expr(p))))
}

/** Projection (ref docs/plugin_development.md:1506-1508). `columns`
  * entries may be bare names or SQL expressions with `AS` aliases. */
class SelectPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "select"

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    stringList("columns").flatMap(cs =>
      Errors.safe(df.select(cs.map(expr): _*)))
}

/** Drop columns (ref docs/plugin_development.md:1518-1519; dry-run
  * pattern :769-791). */
class DropPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "drop"

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    stringList("columns").flatMap(cs => Errors.safe(df.drop(cs: _*)))

  /** Kept for reference parity: the reference's dry run rejects a
    * missing column that Spark's `drop` silently ignores. */
  override def dryRun(schema: StructType): Either[Throwable, StructType] =
    stringList("columns").flatMap { cs =>
      val missing = cs.filterNot(c => schema.fieldNames.contains(c))
      if (missing.nonEmpty)
        Left(new SchemaValidationError(
          s"Column '${missing.head}' not found in schema"))
      else Right(StructType(schema.fields.filterNot(f => cs.contains(f.name))))
    }
}

/** Add/replace a column from a SQL expression
  * (ref docs/plugin_development.md:1514-1516). */
class WithColumnPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "with_column"

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    for {
      c <- requiredString("column")
      e <- requiredString("expression")
      out <- Errors.safe(df.withColumn(c, expr(e)))
    } yield out
}

/** Cast a column (ref examples/generate_sample_data.py:82-91 `df.cast`). */
class CastPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "cast"

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    for {
      c <- requiredString("column")
      t <- requiredString("dtype")
      out <- Errors.safe(df.withColumn(c, col(c).cast(t)))
    } yield out
}

/** Rename columns (ref docs/plugin_development.md:1570-1571). Mapping
  * comes from an `[..options.mapping]` table (old = "new"). */
class RenamePlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "rename"

  private def mapping(): Either[Throwable, Map[String, String]] =
    required("mapping", OptionKind.tableOf(OptionKind.string))

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    mapping().flatMap(m => Errors.safe(df.withColumnsRenamed(m)))

  /** Kept for reference parity: the reference's dry run rejects a
    * missing column that Spark's `withColumnsRenamed` silently
    * ignores. */
  override def dryRun(schema: StructType): Either[Throwable, StructType] =
    mapping().flatMap { m =>
      val missing = m.keys.filterNot(schema.fieldNames.contains)
      if (missing.nonEmpty)
        Left(new SchemaValidationError(
          s"Column '${missing.head}' not found in schema"))
      else Right(StructType(schema.fields.map(f =>
        f.copy(name = m.getOrElse(f.name, f.name)))))
    }
}

/** Group-by aggregation (ref docs/plugin_development.md:1521-1522;
  * config shape :1220-1227). `aggregations` are SQL aggregate
  * expressions with aliases, e.g. `"sum(amount) as total"`. Catalyst
  * plans partial (map-side) + final aggregation automatically — the
  * shuffle moves only the aggregated state, not the input rows, which
  * is what keeps this correct at 100 TB. */
class GroupByAggPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "group_by_agg"

  /** Two option shapes: `aggregations` = SQL aggregate expressions
    * with aliases (primary), or the reference's documented shape
    * (docs/plugin_development.md:1220-1227) `agg_columns` +
    * `agg_fn` → one `fn(col) AS col_fn` per column. */
  private def aggExprs(): Either[Throwable, Seq[String]] =
    if (options.contains("aggregations")) stringList("aggregations")
    else for {
      cols <- stringList("agg_columns")
      fn = str("agg_fn", "sum")
    } yield cols.map(c => s"$fn($c) AS ${c}_$fn")

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    for {
      keys <- stringList("group_by")
      aggs <- aggExprs()
      _ <- if (aggs.isEmpty)
             Left(new PluginExecutionError("Option 'aggregations' must be non-empty"))
           else Right(())
      out <- Errors.safe(
        df.groupBy(keys.map(col): _*)
          .agg(expr(aggs.head), aggs.tail.map(expr): _*))
    } yield out
}

/** Join with the stream of another label (`right_label`) — the
  * cryoflow-shaped join: two labeled input streams meet in one plugin
  * (ref docs/plugin_development.md:1524-1525 for the vocabulary;
  * multi-stream routing pipeline.py:143-186).
  *
  * Scale notes: `broadcast = true` hints a broadcast-hash join (use for
  * dimension tables — no shuffle of the big side); otherwise Catalyst/
  * AQE pick sort-merge vs broadcast from size stats at runtime.
  */
class JoinPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label)
    with MultiStreamTransformPlugin {
  def name: String = "join"

  private def rightLabel(): Either[Throwable, String] = requiredString("right_label")

  def executeWith(df: DataFrame,
                  streams: Map[String, Either[Throwable, DataFrame]])
      : Either[Throwable, DataFrame] =
    for {
      rl <- rightLabel()
      right <- streams.getOrElse(rl, Left(new NoSuchElementException(
        s"No input data with label '$rl' for join plugin")))
      on <- stringList("on")
      out <- Errors.safe {
        val r = if (flag("broadcast", false))
          org.apache.spark.sql.functions.broadcast(right) else right
        df.join(r, on, str("how", "inner"))
      }
    } yield out
}

/** Sort (ref docs/plugin_development.md:1527-1528). `by` is a list of
  * column names; `descending` a matching bool list (or single bool);
  * a list of another length fails, as Polars' `sort` does.
  * This is a global sort (range-partitioned shuffle) — at scale prefer
  * sortWithinPartitions unless total order is truly required. */
class SortPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "sort"

  private def sortCols(): Either[Throwable, Seq[Column]] =
    for {
      bys <- stringList("by")
      desc <- Errors.safe(opt("descending", OptionKind.booleans) match {
        case Some(Seq(d)) => Seq.fill(bys.size)(d)
        case Some(ds) => ds
        case None => Seq.fill(bys.size)(false)
      })
      _ <- Either.cond(desc.size == bys.size, (),
        new PluginExecutionError(s"$name: 'descending' has ${desc.size} " +
          s"entries but 'by' has ${bys.size}; give one flag or one per column"))
    } yield bys.zip(desc).map { case (c, d) => if (d) col(c).desc else col(c).asc }

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    sortCols().flatMap(cs => Errors.safe(df.orderBy(cs: _*)))
}

/** when/then/otherwise conditional column
  * (ref docs/plugin_development.md:1561-1562). */
class WhenThenPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "when_then"

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    for {
      c <- requiredString("column")
      cond <- requiredString("when")
      thenE <- requiredString("then")
      out <- Errors.safe {
        val base = when(expr(cond), expr(thenE))
        df.withColumn(c, str("otherwise").fold(base)(o => base.otherwise(expr(o))))
      }
    } yield out
}

/** Distinct / dropDuplicates (subset optional). */
class DistinctPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "distinct"

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    Errors.safe {
      strs("columns").fold(df.distinct())(df.dropDuplicates)
    }
}

/** Limit / top-k head. */
class LimitPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "limit"

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    required("n", OptionKind.int).flatMap(n => Errors.safe(df.limit(n)))
}

/** Union with another labeled stream (by name, allowing missing
  * columns off by default). */
class UnionPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label)
    with MultiStreamTransformPlugin {
  def name: String = "union"

  def executeWith(df: DataFrame,
                  streams: Map[String, Either[Throwable, DataFrame]])
      : Either[Throwable, DataFrame] =
    for {
      rl <- requiredString("right_label")
      right <- streams.getOrElse(rl, Left(new NoSuchElementException(
        s"No input data with label '$rl' for union plugin")))
      out <- Errors.safe {
        if (flag("by_name", false))
          df.unionByName(right,
            allowMissingColumns = flag("allow_missing_columns", false))
        else df.union(right)
      }
    } yield out
}

/** Free-form SQL over the labeled streams: every stream is registered
  * as a temp view named by its label (the plugin's own stream also as
  * `input`), then `query` runs through Spark SQL. The escape hatch that
  * makes the engine's full SQL surface reachable from configs.
  *
  * Views are registered in a PRIVATE child session
  * (`SparkSession.newSession()`: shares the SparkContext, SharedState
  * cache, and the extensions, but has its own temp-view registry), so
  * two pipelines sharing one SparkSession never race on the `input` /
  * label view names. Frames cross sessions by logical plan
  * ([[org.apache.spark.sql.graftshim.DatasetShim]]) — no recompute,
  * lineage and pushdown intact — and the result is re-bound to the
  * caller's session so downstream plugins see nothing unusual. */
class SqlPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label)
    with MultiStreamTransformPlugin {
  def name: String = "sql"

  private def rebind(target: SparkSession, df: DataFrame): DataFrame =
    org.apache.spark.sql.graftshim.DatasetShim.ofRows(target,
      org.apache.spark.sql.graftshim.DatasetShim.analyzed(df))

  def executeWith(df: DataFrame,
                  streams: Map[String, Either[Throwable, DataFrame]])
      : Either[Throwable, DataFrame] =
    for {
      q <- requiredString("query")
      out <- Errors.safe {
        val parent = df.sparkSession
        val scratch = parent.newSession()
        rebind(scratch, df).createOrReplaceTempView("input")
        streams.foreach {
          case (l, Right(sdf)) =>
            rebind(scratch, sdf).createOrReplaceTempView(l)
          case _ => ()
        }
        rebind(parent, scratch.sql(q))
      }
    } yield out
}

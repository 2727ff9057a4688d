package graft.core

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory. The CLI, the test JVM, `graft.Bench`,
  * `graft.Verify` and every `graft.tools` main build through
  * [[getOrCreate]]; a caller picks only the app name and the local
  * core count. */
object Session {

  /** graft's session settings, each with the reason it is set.
    *
    *  - AQE on: coalesces the starting shuffle partitions to what the
    *    data needs (locally and on a cluster) and splits skewed joins.
    *  - UTC session time zone: timestamp functions give the same result
    *    on every host.
    *  - UI off: no web server and no per-task UI bookkeeping.
    *  - `parquet.nanosAsLong`: parquet TIMESTAMP(NANOS) columns read as
    *    raw nanosecond Longs; Spark has no nanosecond timestamp type.
    *  - Generated-class cache of 1000 entries (Spark's default is 100).
    *    Spark keys each class it compiles by (context class loader,
    *    Java source). In local mode the driver's planning threads and
    *    the executor's task threads have different class loaders, so
    *    each whole-stage class is cached twice: one `curate` run needs
    *    119 entries for 72 distinct sources, a pass over every shipped
    *    example ~553. With 100 entries LRU evicts each class before its
    *    next use, and a warm run recompiles nearly all of them. This is
    *    a static conf, read once when Spark's `CodeGenerator`
    *    initializes, so the first session in a JVM fixes it. */
  private val settings: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.codegen.cache.maxEntries" -> "1000")

  /** The value of environment variable `name` as a positive integer,
    * `default` when it is unset; anything else fails, naming the
    * variable. */
  private[graft] def positiveIntFrom(name: String, value: Option[String],
                                     default: => Int): Int =
    value.fold(default)(v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"$name must be a positive integer, got '$v'")))

  /** The local core count from the value of `SPARK_GRAFT_CPUS`: the
    * processors this JVM may use when it is unset. */
  private[core] def coresFrom(value: Option[String]): Int =
    positiveIntFrom("SPARK_GRAFT_CPUS", value, Runtime.getRuntime.availableProcessors)

  /** Returns the running session with the runtime SQL [[settings]] set
    * on it (Spark cannot change the static ones once a session runs),
    * and its shuffle partition count and log level left as its creator
    * chose them, so a CLI call inside a test JVM or a notebook does not
    * reset them. Otherwise
    * builds one with [[settings]] and graft's extensions on
    * `SPARK_MASTER`, or on `local[cores]` when that is unset, starting
    * shuffles at `cores` partitions (AQE coalesces from there). */
  def getOrCreate(appName: String = "graft",
                  cores: Int = coresFrom(sys.env.get("SPARK_GRAFT_CPUS")))
      : SparkSession = {
    val builder = SparkSession.builder()
      .config(settings)
      .withExtensions(new graft.GraftExtensions)
    if (SparkSession.getDefaultSession.isDefined) builder.getOrCreate()
    else {
      val spark = builder
        .appName(appName)
        .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cores]"))
        .config("spark.sql.shuffle.partitions", cores.toString)
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      spark
    }
  }
}

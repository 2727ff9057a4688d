package graftbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.GraftBenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._

/** One benchmark pass in a fresh JVM, the way a user meets the
  * program: build the session (timed from JVM start as `setup_s`), then
  * `repeats` times, for each config, run `graft check` (`checks` times;
  * the median call is kept) and then `graft run`; then check what the
  * sinks committed.
  *
  *   Drive <trace 0|1> <result.json> <clusters dir | -> <repeats> <checks> <config.toml>...
  *
  * Untraced, each command is `graft.cli.Main.run`, which reuses the
  * running session. Traced, the harness makes the same calls Main makes,
  * one layer at a time, and records a span around each; listeners count
  * what the engine did in the last repetition. Results go to
  * `result.json` for run.py. */
object Drive {
  final case class Outcome(rc: Int, seconds: Double, error: String)

  def main(args: Array[String]): Unit = {
    val traced = args(0) == "1"
    val result = Paths.get(args(1))
    val clusters = Some(args(2)).filter(_ != "-")
    val repeats = args(3).toInt
    val checks = args(4).toInt
    val configs = args.drop(5).map(p => Paths.get(p).toAbsolutePath).toSeq

    val t0 = Harness.nowMs()
    implicit val spark: SparkSession = Harness.session()
    val sessionS = (Harness.nowMs() - t0) / 1000.0
    val setupS = Harness.sinceJvmStart()

    def median(xs: Seq[Outcome]): Outcome = xs.sortBy(_.seconds).apply(xs.size / 2)

    val tracer = if (traced) Some(new Tracer(spark)) else None
    val reps = (1 to repeats).map { rep =>
      val counted = rep == repeats
      configs.map { cfg =>
        tracer match {
          case Some(t) =>
            (median((0 until checks).map(i => t.check(cfg, counted && i == 0))), t.run(cfg, counted))
          case None =>
            (median((0 until checks).map(_ => cli("check", cfg))), cli("run", cfg))
        }
      }
    }
    val rss = Harness.peakRssMb()
    tracer.foreach(_.count(false))

    val perConfig = configs.zip(reps.last).map { case (cfg, (_, run)) =>
      val loaded = Config.loadConfig(cfg).toOption
      Map(
        "name" -> cfg.getFileName.toString.stripSuffix(".toml"),
        "sinks" -> (if (run.rc == 0) loaded.map(sinks(_, cfg, clusters)).getOrElse(Nil) else Nil))
    }
    val out = Map(
      "repetitions" -> reps.map(_.zip(configs).map { case ((chk, run), cfg) =>
        Map("name" -> cfg.getFileName.toString.stripSuffix(".toml"),
          "check" -> outcomeJson(chk), "run" -> outcomeJson(run))
      }),
      "setup_s" -> setupS,
      "peak_rss_mb" -> rss,
      "configs" -> perConfig,
      "layers" -> tracer.map(_.layers(sessionS)))
    Files.writeString(result, Json(out))
    tracer.foreach(t => Files.writeString(
      result.resolveSibling(result.getFileName.toString.stripSuffix(".json") + ".spans.json"),
      t.spansJson()))
    Harness.exit()
  }

  private def outcomeJson(o: Outcome): Map[String, Any] =
    Map("rc" -> o.rc, "s" -> o.seconds, "error" -> o.error)

  /** `graft <command> -c <cfg>` through the CLI entry point, with its
    * console output captured (the error line is kept for the ledger). */
  private def cli(command: String, cfg: Path): Outcome = {
    val err = new ByteArrayOutputStream()
    val sink = new PrintStream(new ByteArrayOutputStream())
    val t = Harness.nowMs()
    val rc =
      try Console.withOut(sink)(Console.withErr(new PrintStream(err)) {
        graft.cli.Main.run(Array(command, "-c", cfg.toString))
      })
      catch { case e: Throwable => new PrintStream(err).println(s"[THROWN] $e"); 1 }
    Outcome(rc, (Harness.nowMs() - t) / 1000.0, err.toString.trim)
  }

  private def optionPath(p: PluginConfig, key: String, cfg: Path): Option[Path] =
    p.options.get(key).map(v => cfg.getParent.resolve(v.toString).normalize)

  /** What each sink committed: bytes on disk and a content digest. */
  private def sinks(config: GraftConfig, cfg: Path, clusters: Option[String])(
      implicit spark: SparkSession): Seq[Map[String, Any]] =
    config.outputPlugins.filter(_.enabled).map { p =>
      val path = optionPath(p, "output_path", cfg)
      val read: Option[DataFrame] = path.flatMap { q =>
        scala.util.Try(p.module match {
          case "orc_writer" => spark.read.orc(q.toString)
          case "json_writer" => spark.read.json(q.toString)
          case "csv_writer" => spark.read.option("header", "true").csv(q.toString)
          case "snapshot_writer" => graft.sources.Snapshots.read(spark, q.toString, -1)
          case _ => spark.read.parquet(q.toString)
        }).toOption
      }
      Map(
        "key" -> s"${cfg.getFileName.toString.stripSuffix(".toml")}:${p.options.getOrElse("output_path", "")}",
        "bytes" -> path.map(Harness.bytesUnder).getOrElse(0L),
        "digest" -> read.map(df => Json.Raw(Digest.of(df).toJson)),
        "curate" -> read.filter(df => clusters.isDefined && df.columns.contains("doc_id"))
          .map(curateChecks(_, clusters.get)))
    }

  /** Invariants of a curated corpus against the generator's truth: every
    * doc exists in the input, no two docs of one planted near-duplicate
    * cluster survive, no planted PII survives, only weighted sources. */
  private def curateChecks(df: DataFrame, clusters: String)(
      implicit spark: SparkSession): Map[String, Long] = {
    val j = df.join(spark.read.parquet(clusters), Seq("doc_id"), "left")
    val r = j.agg(
      count(lit(1)),
      count(when(col("cluster").isNull, 1)),
      countDistinct(col("cluster")),
      count(when(col("text").rlike("@example\\.com|555-[0-9]{3}-[0-9]{4}"), 1)),
      count(when(!col("source").isin("src0", "src1", "src2"), 1))).head()
    Map("rows" -> r.getLong(0), "unknown_docs" -> r.getLong(1),
      "clusters" -> r.getLong(2), "pii_left" -> r.getLong(3),
      "unweighted_sources" -> r.getLong(4))
  }
}

/** A timed interval of the traced pass; `parent` is -1 at the root. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, var endMs: Double)

/** Traced pass: the calls `graft.cli.Main` makes, one layer at a
  * time, each inside a span; Spark jobs become child spans by their
  * submission time. Spans stay in memory until the end. */
final class Tracer(spark: SparkSession) {
  private val engine = new EngineListener
  private val plans = new PlanListener
  private val streams = new StreamListener
  spark.sparkContext.addSparkListener(engine)
  spark.listenerManager.register(plans)
  spark.streams.addListener(streams)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil

  def count(on: Boolean): Unit = {
    GraftBenchBus.drain(spark.sparkContext)
    Counting.on = on
  }

  private def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, open.headOption.getOrElse(-1), name, Harness.nowMs(), 0.0)
    spans += s
    open = s.id :: open
    try body finally { s.endMs = Harness.nowMs(); open = open.tail }
  }

  private def outcome(root: String)(body: => Either[Throwable, Any]): Drive.Outcome = {
    val t = Harness.nowMs()
    val r = span(root)(try body catch { case e: Throwable => Left(e) })
    Drive.Outcome(if (r.isRight) 0 else 1, (Harness.nowMs() - t) / 1000.0,
      r.left.toOption.map(e => s"[ERROR] ${e.getMessage}").getOrElse(""))
  }

  private def load(cfg: Path): Either[Throwable, (GraftConfig, PluginRegistry)] =
    for {
      config <- span("config.load")(Config.loadConfig(cfg))
      registry <- span("loader.load")(Loader.loadPlugins(config, cfg))
      _ <- if (registry.inputs.isEmpty) Left(new IllegalStateException("No input plugin configured"))
        else if (registry.outputs.isEmpty) Left(new IllegalStateException("No output plugin configured"))
        else Right(())
    } yield (config, registry)

  /** `counted` marks the repetition the per-layer metrics describe. */
  def check(cfg: Path, counted: Boolean): Drive.Outcome =
    outcome(if (counted) "check" else "check.uncounted") {
      load(cfg).flatMap { case (_, r) =>
        span("check.dry_run")(
          Pipeline.runDryRunPipeline(r.inputs, r.transforms, r.outputs)(spark))
      }
    }

  /** Pipeline.runPipeline, split at its layer boundaries. */
  def run(cfg: Path, counted: Boolean): Drive.Outcome = {
    count(counted)
    val o = outcome(if (counted) "run" else "run.uncounted") {
      load(cfg).flatMap { case (config, r) =>
        val persist = config.pipelineOptions.get("persist_multi_output")
          .forall(_.toString.toBoolean)
        val inputs: Pipeline.LabeledDataMap = r.inputs.map { p =>
          p.label -> span(s"input.${p.name}")(p.execute()(spark))
        }.toMap
        val transformed = r.transforms.foldLeft(inputs) { (m, p) =>
          span(s"transform.${p.name}")(Pipeline.executeLabeledTransformChain(m, Seq(p)))
        }
        span("output")(Pipeline.executeLabeledOutput(transformed, r.outputs, persist))
      }
    }
    count(false)
    o
  }

  /** Spark jobs as child spans of the innermost span open when they
    * were submitted. */
  private def jobSpans(): Seq[(Int, JobRec)] =
    engine.synchronized(engine.jobs.toList).flatMap { j =>
      spans.filter(s => s.startMs <= j.submitMs && j.submitMs <= s.endMs)
        .sortBy(-_.startMs).headOption.map(_.id -> j)
    }

  /** Length of the union of intervals, in ms. */
  private def covered(iv: Seq[(Double, Double)]): Double =
    iv.sortBy(_._1).foldLeft((0.0, Double.NegativeInfinity)) { case ((acc, hi), (s, e)) =>
      if (e <= hi) (acc, hi)
      else (acc + e - math.max(s, hi), e)
    }._1

  def layers(sessionS: Double): Map[String, Double] = {
    count(false)
    val jobsBySpan = jobSpans().groupMap(_._1)(_._2)
    val byParent = spans.groupBy(_.parent)
    def dur(s: Span) = s.endMs - s.startMs
    def jobsIn(s: Span): Seq[JobRec] =
      jobsBySpan.getOrElse(s.id, Nil) ++ byParent.getOrElse(s.id, Nil).flatMap(jobsIn)
    def jobMs(s: Span): Double =
      covered(jobsIn(s).map(j => (math.max(j.submitMs, s.startMs), math.min(j.endMs, s.endMs))))
    def named(p: String => Boolean) = spans.filter(s => p(s.name)).toSeq
    def secs(xs: Seq[Span]) = xs.map(dur).sum / 1000.0
    def jobs(xs: Seq[Span]) = xs.map(jobsIn(_).size).sum.toDouble

    val runs = named(_ == "run")
    val runIds = runs.map(_.id).toSet
    val underRun = spans.filter(s => runIds(s.parent)).toSeq
    val transforms = underRun.filter(_.name.startsWith("transform."))
    val inputs = underRun.filter(_.name.startsWith("input."))
    val outputs = underRun.filter(_.name == "output")
    val checkIds = named(_ == "check").map(_.id).toSet
    val dry = spans.filter(s => s.name == "check.dry_run" && checkIds(s.parent)).toSeq
    val runWallS = secs(runs)
    val cores = spark.sparkContext.defaultParallelism.toDouble

    val perPlugin = transforms.groupBy(_.name).flatMap { case (n, xs) =>
      Seq(s"$n.s" -> secs(xs), s"$n.jobs" -> jobs(xs))
    }
    val batches = streams.synchronized(streams.batches.toList)
    def batchMedian(key: String): Double = {
      val xs = batches.flatMap(_.get(key)).sorted
      if (xs.isEmpty) 0.0
      else if (xs.size % 2 == 1) xs(xs.size / 2) / 1000.0
      else (xs(xs.size / 2 - 1) + xs(xs.size / 2)) / 2000.0
    }
    val mb = 1024.0 * 1024.0
    engine.synchronized(plans.synchronized(Map(
      "run_wall_s" -> runWallS,
      "config.load_s" -> secs(underRun.filter(_.name == "config.load")),
      "loader.load_s" -> secs(underRun.filter(_.name == "loader.load")),
      "session.create_s" -> sessionS,
      "input.plan_s" -> secs(inputs),
      "input.jobs" -> jobs(inputs),
      "transform.plan_s" -> secs(transforms),
      "transform.self_s" -> transforms.map(s => dur(s) - jobMs(s)).sum / 1000.0,
      "transform.eager_jobs" -> jobs(transforms),
      "transform.eager_s" -> transforms.map(jobMs).sum / 1000.0,
      "output.s" -> secs(outputs),
      "output.jobs" -> jobs(outputs),
      "output.rows" -> engine.recordsWritten.toDouble,
      "output.cache_mb" -> engine.cachePeak / mb,
      "check.self_s" -> dry.map(s => dur(s) - jobMs(s)).sum / 1000.0,
      "check.jobs" -> jobs(dry),
      "spark.jobs" -> jobs(runs),
      "spark.stages" -> engine.stages.toDouble,
      "spark.tasks" -> engine.tasks.toDouble,
      "spark.tasks_per_stage" -> (if (engine.stages == 0) 0.0 else engine.tasks.toDouble / engine.stages),
      "spark.task_run_s" -> engine.runMs / 1000.0,
      "spark.task_cpu_s" -> engine.cpuNs / 1e9,
      "spark.gc_s" -> engine.gcMs / 1000.0,
      "spark.core_busy_frac" -> (if (runWallS == 0) 0.0 else engine.runMs / 1000.0 / (runWallS * cores)),
      "spark.shuffle_write_mb" -> engine.shuffleWrite / mb,
      "spark.shuffle_read_mb" -> engine.shuffleRead / mb,
      "spark.spill_mb" -> engine.spill / mb,
      "spark.input_records" -> engine.inputRecords.toDouble,
      "plan.exchanges" -> plans.exchanges.toDouble,
      "plan.sort_merge_joins" -> plans.sortMergeJoins.toDouble,
      "plan.broadcast_joins" -> plans.broadcastJoins.toDouble,
      "plan.codegen_stages" -> plans.codegenStages.toDouble,
      "stream.batches" -> batches.size.toDouble,
      "stream.trigger_s" -> batchMedian("triggerExecution"),
      "stream.add_batch_s" -> batchMedian("addBatch"),
      "stream.wal_commit_s" -> batchMedian("walCommit"),
      "stream.query_planning_s" -> batchMedian("queryPlanning"),
      "stream.latest_offset_s" -> batchMedian("latestOffset")) ++ perPlugin))
  }

  def spansJson(): String = {
    val jobs = jobSpans().map { case (parent, j) =>
      Map("name" -> s"spark.job.${j.id}", "parent" -> parent, "start_ms" -> j.submitMs,
        "end_ms" -> j.endMs)
    }
    Json(spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs)) ++ jobs)
  }
}

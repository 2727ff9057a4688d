package graft.e2e

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.graftshim.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.cli.Main
import graft.core.{Config, Loader, Pipeline, PluginRegistry}

/** `check` is `run` over zero-row frames: for every shipped example
  * that loads, the schema `check` declares for each label is the
  * schema `run`'s transforms produce (names, types, nullability), and
  * no transform submits a Spark job while `check` propagates schemas.
  * Each example is staged in a fresh directory as its header says,
  * with its inputs pointed at the sf0.001 fixture. */
class CheckMatchesRunSpec extends AnyFunSuite {
  import CheckMatchesRunSpec.{inputsPresent, stage}

  implicit lazy val spark: SparkSession = SharedSpark.spark

  private val examples: Seq[Path] =
    Files.list(Paths.get("examples")).iterator().asScala
      .filter(_.toString.endsWith(".toml")).toSeq.sortBy(_.toString)

  /** Registries of the examples that load, with their staged configs. */
  private lazy val loaded: Seq[(String, Path, PluginRegistry)] =
    examples.flatMap { ex =>
      val cfg = stage(ex)
      Config.loadConfig(cfg).flatMap(Loader.loadPlugins(_, cfg)).toOption
        .map(reg => (ex.getFileName.toString, cfg, reg))
    }

  private def fields(s: StructType) =
    s.fields.toSeq.map(f => (f.name, f.dataType, f.nullable))

  test("check declares, per label, the schema run's transforms produce") {
    assert(loaded.size >= 13, loaded.map(_._1))
    assume(loaded.forall { case (_, _, reg) => inputsPresent(reg) },
      "sf0.001 fixture not present")
    for ((name, _, reg) <- loaded) {
      val dry = Pipeline.runDryRunPipeline(reg.inputs, reg.transforms, reg.outputs)
      assert(dry.isRight, s"$name: ${dry.left.toOption.map(_.getMessage)}")
      val checked = Pipeline.dryRunLabeledTransformChain(
        reg.inputs.map(p => p.label -> p.dryRun()).toMap, reg.transforms)
      val ran = Pipeline.executeLabeledTransformChain(
        reg.inputs.map(p => p.label -> p.execute()).toMap, reg.transforms)
      assert(checked.keySet == ran.keySet, name)
      for ((label, frame) <- ran) {
        val df = frame.fold(e => fail(s"$name/$label run: ${e.getMessage}"), identity)
        val schema = checked(label)
          .fold(e => fail(s"$name/$label check: ${e.getMessage}"), identity)
        assert(fields(schema) == fields(df.schema), s"$name/$label")
      }
    }
  }

  test("no transform submits a Spark job during check") {
    assume(loaded.forall { case (_, _, reg) => inputsPresent(reg) },
      "sf0.001 fixture not present")
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val submitted = try {
      loaded.flatMap { case (name, _, reg) =>
        val inputs: Pipeline.LabeledSchemaMap =
          reg.inputs.map(p => p.label -> p.dryRun()).toMap
        reg.transforms.foldLeft((inputs, Seq.empty[String])) {
          case ((schemas, found), p) =>
            ListenerBus.drain(spark.sparkContext)
            val before = jobs.get
            val next = Pipeline.dryRunLabeledTransformChain(schemas, Seq(p))
            ListenerBus.drain(spark.sparkContext)
            val n = jobs.get - before
            (next, if (n == 0) found else found :+ s"$name/${p.name}: $n")
        }._2
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(submitted.isEmpty)
  }

  test("check on vector_index reads and writes no index directory") {
    val cfg = stage(Paths.get("examples/vector_index.toml"))
    val reg = Config.loadConfig(cfg).flatMap(Loader.loadPlugins(_, cfg))
      .fold(e => fail(e.getMessage), identity)
    assume(inputsPresent(reg), "sf0.001 fixture not present")
    val out = new java.io.ByteArrayOutputStream()
    val code = Console.withOut(out)(Console.withErr(out)(
      Main.run(Array("check", "-c", cfg.toString))))
    assert(code == 0, out.toString)
    assert(!Files.exists(cfg.resolveSibling("out/ann_index")))
  }
}

object CheckMatchesRunSpec {
  /** Copies `example` (and the plugin sources beside it) into a fresh
    * directory, its sf0.01 inputs swapped for sf0.001 ones. */
  def stage(example: Path): Path = {
    val dir = Files.createTempDirectory("checkrun")
    val plugins = example.resolveSibling("plugins")
    if (Files.isDirectory(plugins)) {
      Files.createDirectories(dir.resolve("plugins"))
      Files.list(plugins).iterator().asScala.foreach(p =>
        Files.copy(p, dir.resolve("plugins").resolve(p.getFileName.toString)))
    }
    val cfg = dir.resolve(example.getFileName.toString)
    Files.writeString(cfg,
      Files.readString(example).replaceAll("/sf0\\.0+1/", "/sf0.001/"))
    cfg
  }

  def inputsPresent(reg: PluginRegistry): Boolean =
    reg.inputs.forall(p => p.options.get("input_path")
      .forall(path => Files.exists(p.resolvePath(path.toString))))
}

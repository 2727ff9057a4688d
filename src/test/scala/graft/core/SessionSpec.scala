package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.cli.Main
import graft.e2e.CheckMatchesRunSpec.{inputsPresent, stage}

/** The one session factory is the only place the program builds a
  * session, and it sizes Spark's generated-class cache so that
  * running the same pipeline again in one JVM reuses the classes its
  * first run compiled instead of recompiling identical sources. */
class SessionSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SharedSpark.spark

  /** Empties Spark's generated-class cache (a private field), so that
    * the first run below compiles cold whatever earlier suites left. */
  private def clearCodegenCache(): Unit = {
    val getter = CodeGenerator.getClass.getDeclaredMethod("cache")
    getter.setAccessible(true)
    val cache = getter.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }

  test("the session's generated-class cache holds 1000 entries") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000")
  }

  test("the core count is SPARK_GRAFT_CPUS, else the host's processors") {
    assert(Session.coresFrom(None) == Runtime.getRuntime.availableProcessors)
    assert(Session.coresFrom(Some("6")) == 6)
    for (bad <- Seq("four", "2.5", "0", "")) {
      val e = intercept[IllegalArgumentException](Session.coresFrom(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") &&
        e.getMessage.contains(s"'$bad'"), e.getMessage)
      // Verify's pool size goes through the same parse
      val v = intercept[IllegalArgumentException](graft.Verify.threadsFrom(Some(bad)))
      assert(v.getMessage.contains("SPARK_GRAFT_VERIFY_THREADS") &&
        v.getMessage.contains(s"'$bad'"), v.getMessage)
    }
    assert(graft.Verify.threadsFrom(None) == 6)
    assert(graft.Verify.threadsFrom(Some("2")) == 2)
  }

  test("only Session builds a SparkSession in the program sources") {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val builders =
      try walk.iterator().asScala
        .filter(f => f.toString.endsWith(".scala") &&
          Files.readString(f).contains("SparkSession.builder"))
        .map(root.relativize(_).toString).toList
      finally walk.close()
    assert(builders == List("graft/core/Session.scala"), builders)
  }

  /** `examples/corpus_clean.toml` staged on the sf0.001 fixture. */
  private lazy val corpusClean: Path = {
    val cfg = stage(Paths.get("examples/corpus_clean.toml"))
    val reg = Config.loadConfig(cfg).flatMap(Loader.loadPlugins(_, cfg))
      .fold(e => fail(e.getMessage), identity)
    assume(inputsPresent(reg), "sf0.001 fixture not present")
    cfg
  }

  /** Runs the CLI on `args` with its output captured; it must exit 0. */
  private def cli(args: String*): Unit = {
    val out = new java.io.ByteArrayOutputStream()
    val code = Console.withOut(out)(Console.withErr(out)(Main.run(args.toArray)))
    assert(code == 0, out.toString)
  }

  test("a CLI call keeps the running session's shuffle partitions and log level") {
    cli("check", "-c", corpusClean.toString)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(LogManager.getRootLogger.getLevel == Level.ERROR)
  }

  test("a warm run compiles at most a fifth of the classes of the first") {
    val cfg = corpusClean
    // Spark counts one compilation-time sample per class it compiles,
    // that is, per generated-class cache miss. A warm run still misses
    // a few: AQE can number the whole-stage classes differently from
    // one run to the next, and the number is part of the source.
    clearCodegenCache()
    val compiled = (1 to 3).map { _ =>
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      cli("run", "-c", cfg.toString)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    info(s"classes compiled per run: ${compiled.mkString(", ")}")
    assert(compiled.head > 0, compiled)
    assert(compiled.tail.forall(_ * 5 <= compiled.head), compiled)
  }
}

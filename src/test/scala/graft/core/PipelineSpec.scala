package graft.core

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Mirrors the reference pipeline suite
  * (tests/pipeline/test_execute_transform_chain.py,
  * test_label_routing.py, test_run_pipeline.py): fold order,
  * stop-on-first-failure, label hit/miss semantics, multi-stream
  * independence. Plugin doubles mirror tests/conftest.py:24-89. */
class PipelineSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SharedSpark.spark
  private val dir = Paths.get("/tmp")

  private def frame(vals: Seq[Long]): DataFrame = {
    import spark.implicits._
    vals.toDF("a")
  }

  private class Dummy(val name: String, override val label: String = "default",
                      trace: StringBuilder = new StringBuilder)
      extends TransformPlugin {
    val options: Map[String, Any] = Map.empty
    val configDir: Path = dir
    def execute(df: DataFrame): Either[Throwable, DataFrame] = {
      trace.append(name); Right(df.withColumn(name,
        org.apache.spark.sql.functions.lit(1)))
    }
    def dryRun(schema: StructType): Either[Throwable, StructType] =
      Right(schema.add(name, org.apache.spark.sql.types.IntegerType))
  }

  private class Failing(val name: String, override val label: String = "default")
      extends TransformPlugin {
    val options: Map[String, Any] = Map.empty
    val configDir: Path = dir
    def execute(df: DataFrame): Either[Throwable, DataFrame] =
      Left(new PluginExecutionError(s"$name failed"))
    def dryRun(schema: StructType): Either[Throwable, StructType] =
      Left(new SchemaValidationError(s"$name dry failed"))
  }

  test("transform chain folds left-to-right") {
    val trace = new StringBuilder
    val chain = Seq(new Dummy("p1", trace = trace), new Dummy("p2", trace = trace))
    val out = Pipeline.executeTransformChain(Right(frame(Seq(1, 2))), chain)
    assert(out.isRight)
    assert(trace.toString == "p1p2")
    assert(out.toOption.get.columns.toSeq == Seq("a", "p1", "p2"))
  }

  test("chain stops at first failure and keeps its error") {
    val trace = new StringBuilder
    val chain = Seq(new Dummy("p1", trace = trace), new Failing("boom"),
      new Dummy("p2", trace = trace))
    val out = Pipeline.executeTransformChain(Right(frame(Seq(1))), chain)
    assert(out.left.toOption.get.getMessage == "boom failed")
    assert(trace.toString == "p1") // p2 never ran
  }

  test("a plugin call that throws comes back as a Left with its exception") {
    class Throwing extends Dummy("thrower") {
      override def execute(df: DataFrame): Either[Throwable, DataFrame] =
        throw new IllegalStateException("thrower blew up")
      override def dryRun(schema: StructType): Either[Throwable, StructType] =
        throw new IllegalStateException("thrower blew up dry")
    }
    val input = new InputPlugin {
      val name = "in"; val options: Map[String, Any] = Map.empty
      val configDir: Path = dir
      def execute()(implicit spark: SparkSession): Either[Throwable, DataFrame] =
        Right(frame(Seq(1)))
    }
    val sink = new OutputPlugin {
      val name = "out"; val options: Map[String, Any] = Map.empty
      val configDir: Path = dir
      def execute(df: DataFrame): Either[Throwable, Unit] = Right(())
      def dryRun(s: StructType): Either[Throwable, StructType] = Right(s)
    }
    val run = Pipeline.runPipeline(Seq(input), Seq(new Throwing), Seq(sink))
    assert(run.left.toOption.get.isInstanceOf[IllegalStateException])
    assert(run.left.toOption.get.getMessage == "thrower blew up")
    val check = Pipeline.runDryRunPipeline(Seq(input), Seq(new Throwing), Seq(sink))
    assert(check.left.toOption.get.getMessage == "thrower blew up dry")
  }

  test("labeled routing: missing label STORES failure (pipeline continues)") {
    val data: Pipeline.LabeledDataMap = Map("default" -> Right(frame(Seq(1))))
    val out = Pipeline.executeLabeledTransformChain(data,
      Seq(new Dummy("t1", label = "absent")))
    assert(out("default").isRight) // untouched
    val err = out("absent").left.toOption.get
    assert(err.isInstanceOf[NoSuchElementException])
    assert(err.getMessage.contains("No input data with label 'absent'"))
  }

  test("labeled routing: independent streams transform independently") {
    val data: Pipeline.LabeledDataMap = Map(
      "s1" -> Right(frame(Seq(1))), "s2" -> Right(frame(Seq(2))))
    val out = Pipeline.executeLabeledTransformChain(data,
      Seq(new Dummy("t1", label = "s1")))
    assert(out("s1").toOption.get.columns.contains("t1"))
    assert(!out("s2").toOption.get.columns.contains("t1"))
  }

  test("labeled output: missing label short-circuits with failure") {
    val sink = new OutputPlugin {
      val name = "sink"; val options: Map[String, Any] = Map.empty
      val configDir: Path = dir
      override val label = "absent"
      def execute(df: DataFrame): Either[Throwable, Unit] = Right(())
      def dryRun(s: StructType): Either[Throwable, StructType] = Right(s)
    }
    val out = Pipeline.executeLabeledOutput(
      Map("default" -> Right(frame(Seq(1)))), Seq(sink))
    assert(out.left.toOption.get.getMessage.contains(
      "No data with label 'absent'"))
  }

  test("dry-run chain propagates schema symbolically") {
    val init: StructType = frame(Seq(1L)).schema
    val out = Pipeline.dryRunLabeledTransformChain(Map("default" -> Right(init)),
      Seq(new Dummy("c1"), new Dummy("c2")))("default")
    assert(out.toOption.get.fieldNames.toSeq == Seq("a", "c1", "c2"))
  }

  test("dry-run routing: a label-routed transform never meets another " +
      "label's schema") {
    val docs = StructType(Seq(StructField("doc_id", LongType)))
    val stats = StructType(Seq(StructField("lang", StringType)))
    // needs `lang`, which only the `stats` stream carries
    val byLang = new Dummy("by_lang", label = "stats") {
      override def dryRun(s: StructType): Either[Throwable, StructType] =
        if (s.fieldNames.contains("lang")) super.dryRun(s)
        else Left(new SchemaValidationError("no such column: lang"))
    }
    val out = Pipeline.dryRunLabeledTransformChain(
      Map("default" -> Right(docs), "stats" -> Right(stats)),
      Seq(new Dummy("d1"), byLang))
    assert(out("default").toOption.get.fieldNames.toSeq == Seq("doc_id", "d1"))
    assert(out("stats").toOption.get.fieldNames.toSeq == Seq("lang", "by_lang"))
    // a missing label stores a Left, as in run
    val missing = Pipeline.dryRunLabeledTransformChain(
      Map("default" -> Right(docs)), Seq(byLang))
    assert(missing("default").isRight)
    assert(missing("stats").left.toOption.get.getMessage
      .contains("No input data with label 'stats'"))
    // ... while a sink's missing label short-circuits, as in run
    val sink = new OutputPlugin {
      val name = "sink"; val options: Map[String, Any] = Map.empty
      val configDir: Path = dir
      override val label = "absent"
      def execute(df: DataFrame): Either[Throwable, Unit] = Right(())
      def dryRun(s: StructType): Either[Throwable, StructType] = Right(s)
    }
    assert(Pipeline.dryRunLabeledOutput(out, Seq(sink)).left.toOption.get
      .getMessage.contains("No data with label 'absent'"))
  }

  test("output dry-run fans out the ORIGINAL schema (ref pipeline.py:97-117)") {
    // A sink whose dryRun RETURNS a mutated schema must not leak it
    // into the next sink's validation — each sink binds the original.
    var validated = List.empty[Int]
    def sink(n: String): OutputPlugin = new OutputPlugin {
      val name = n; val options: Map[String, Any] = Map.empty
      val configDir: Path = dir
      def execute(df: DataFrame): Either[Throwable, Unit] = Right(())
      def dryRun(s: StructType): Either[Throwable, StructType] = {
        validated = validated :+ s.size
        Right(s.add(s"extra_$n", org.apache.spark.sql.types.IntegerType))
      }
    }
    val init: StructType = frame(Seq(1L)).schema // 1 column
    val out = Pipeline.dryRunLabeledOutput(Map("default" -> Right(init)),
      Seq(sink("o1"), sink("o2"), sink("o3")))
    assert(validated == List(1, 1, 1)) // each saw the ORIGINAL 1-col schema
    // ... and the returned value is the LAST sink's result
    assert(out.toOption.get.fieldNames.toSeq == Seq("a", "extra_o3"))
    // failure still stops the fold
    val boom = new OutputPlugin {
      val name = "boom"; val options: Map[String, Any] = Map.empty
      val configDir: Path = dir
      def execute(df: DataFrame): Either[Throwable, Unit] = Right(())
      def dryRun(s: StructType): Either[Throwable, StructType] =
        Left(new SchemaValidationError("boom dry failed"))
    }
    validated = Nil
    val bad = Pipeline.dryRunLabeledOutput(Map("default" -> Right(init)),
      Seq(sink("o1"), boom, sink("o2")))
    assert(bad.isLeft && validated == List(1)) // o2 never validated
  }

  test("output fan-out: all sinks get the same frame; failure stops") {
    var seen = List.empty[String]
    def sink(n: String, fail: Boolean = false): OutputPlugin = new OutputPlugin {
      val name = n; val options: Map[String, Any] = Map.empty
      val configDir: Path = dir
      def execute(df: DataFrame): Either[Throwable, Unit] = {
        seen = seen :+ n
        if (fail) Left(new PluginExecutionError(s"$n failed")) else Right(())
      }
      def dryRun(s: StructType): Either[Throwable, StructType] = Right(s)
    }
    val ok = Pipeline.executeLabeledOutput(Map("default" -> Right(frame(Seq(1)))),
      Seq(sink("o1"), sink("o2")))
    assert(ok.isRight && seen == List("o1", "o2"))
    seen = Nil
    val bad = Pipeline.executeLabeledOutput(Map("default" -> Right(frame(Seq(1)))),
      Seq(sink("o1", fail = true), sink("o2")))
    assert(bad.isLeft && seen == List("o1"))
  }

  test("persistMultiOutput runs the upstream plan once across fan-out sinks") {
    import spark.implicits._
    // the accumulator counts how many times upstream rows materialize:
    // each full execution of the plan adds 100
    val acc = spark.sparkContext.longAccumulator("upstream-rows")
    def upstream: DataFrame =
      spark.range(0, 100).as[Long].map { x => acc.add(1); x }.toDF("a")
    def sink(n: String): OutputPlugin = new OutputPlugin {
      val name = n; val options: Map[String, Any] = Map.empty
      val configDir: Path = dir
      def execute(df: DataFrame): Either[Throwable, Unit] =
        Errors.safe { df.count(); () }
      def dryRun(s: StructType): Either[Throwable, StructType] = Right(s)
    }
    val outs = Seq(sink("o1"), sink("o2"), sink("o3"))

    acc.reset()
    assert(Pipeline.executeLabeledOutput(
      Map("default" -> Right(upstream)), outs, persistMultiOutput = true).isRight)
    assert(acc.value == 100L,
      s"persisted fan-out should execute upstream once, saw ${acc.value / 100} runs")

    // the default IS persist-on-fan-out (round 10): one upstream run
    acc.reset()
    assert(Pipeline.executeLabeledOutput(
      Map("default" -> Right(upstream)), outs).isRight)
    assert(acc.value == 100L,
      s"default fan-out should persist, saw ${acc.value / 100} runs")

    // explicit opt-out restores reference recompute-per-sink behavior
    acc.reset()
    assert(Pipeline.executeLabeledOutput(
      Map("default" -> Right(upstream)), outs,
      persistMultiOutput = false).isRight)
    assert(acc.value == 300L)

    // a single-sink label is never cached, even with the option on
    acc.reset()
    assert(Pipeline.executeLabeledOutput(
      Map("default" -> Right(upstream)), Seq(sink("only")),
      persistMultiOutput = true).isRight)
    assert(acc.value == 100L)
  }

  test("multi-sink STREAMING label is never persisted (persist on a " +
      "streaming frame throws)") {
    val streamDf = spark.readStream.format("rate")
      .option("rowsPerSecond", "1").load()
    assert(streamDf.isStreaming)
    var seen = 0
    def sink(n: String): OutputPlugin = new OutputPlugin {
      val name = n; val options: Map[String, Any] = Map.empty
      val configDir: Path = dir
      def execute(df: DataFrame): Either[Throwable, Unit] = {
        assert(df.isStreaming) // passed through untouched, not cached
        seen += 1; Right(())
      }
      def dryRun(s: StructType): Either[Throwable, StructType] = Right(s)
    }
    // with the round-10 default (persist on), this used to crash on
    // Dataset.persist before reaching any sink
    assert(Pipeline.executeLabeledOutput(
      Map("default" -> Right(streamDf)),
      Seq(sink("s1"), sink("s2"))).isRight)
    assert(seen == 2)
  }
}

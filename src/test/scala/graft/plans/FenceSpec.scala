package graft.plans

import java.nio.file.Paths
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftshim.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, RegExpReplace}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.functions.{col, concat, lit, xxhash64}
import org.apache.spark.sql.graftshim.DatasetShim
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.core.{Config, Loader, Pipeline, PluginRegistry}
import graft.e2e.CheckMatchesRunSpec.{inputsPresent, stage}
import graft.expressions.GopherMetrics
import graft.plugins.transform.FilterPlugin

/** The plan fence keeps curate's derived columns evaluated once per
  * row: the chain redact_pii → text_analysis → gopher_filter → filter
  * on the sf0.001 documents, with and without its fences. */
class FenceSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SharedSpark.spark

  /** curate's chain up to dedup: the first four transforms of
    * `examples/corpus_clean.toml` (redact_pii → text_analysis →
    * gopher_filter → filter), staged on the sf0.001 fixture. */
  private lazy val reg: PluginRegistry = {
    val cfg = stage(Paths.get("examples/corpus_clean.toml"))
    val r = Config.loadConfig(cfg).flatMap(Loader.loadPlugins(_, cfg))
      .fold(e => fail(e.getMessage), identity)
    assume(inputsPresent(r), "sf0.001 fixture not present")
    assert(r.transforms.take(4).map(_.name) ==
      Seq("redact_pii", "text_analysis", "gopher_filter", "filter"))
    r.copy(transforms = r.transforms.take(4))
  }

  /** The frame the first `n` transforms of `reg` produce. */
  private def chain(reg: PluginRegistry, n: Int = Int.MaxValue): DataFrame =
    Pipeline.executeLabeledTransformChain(
      reg.inputs.map(p => p.label -> p.execute()).toMap, reg.transforms.take(n))
      .values.head.fold(e => fail(e.getMessage), identity)

  /** `df` with its fences taken out: the plan the optimizer inlines. */
  private def unfenced(df: DataFrame): DataFrame =
    DatasetShim.ofRows(spark,
      DatasetShim.analyzed(df).transform { case Fence(c) => c })

  private def isFenced(e: Expression): Boolean =
    e.isInstanceOf[GopherMetrics] || e.isInstanceOf[RegExpReplace]

  private def copies(p: LogicalPlan): (Int, Int) = {
    val es = p.flatMap(_.expressions.flatMap(_.collect { case e if isFenced(e) => e }))
    (es.count(_.isInstanceOf[GopherMetrics]), es.count(_.isInstanceOf[RegExpReplace]))
  }

  private lazy val fenced = chain(reg)

  test("each expensive derived column is evaluated once; no filter holds one") {
    val plan = fenced.queryExecution.optimizedPlan
    // 1 gopher_metrics; 3 redaction regexes + 4 of text_analysis
    assert(copies(plan) == (1, 7), plan)
    assert(!plan.collect { case Filter(c, _) => c }.exists(_.exists(isFenced)), plan)
    val (gm, re) = copies(unfenced(fenced).queryExecution.optimizedPlan)
    assert(gm > 1 && re > 7, s"unfenced copies: $gm gopher_metrics, $re regexp_replace")
  }

  test("C4 flags evaluate the sentence count once") {
    val docs = spark.range(3).select(concat(
      lit("One two three four five. Six seven eight nine ten! "),
      col("id").cast("string")).as("text"))
    val plan = graft.ops.Text.withC4Flags(docs, "text").queryExecution.optimizedPlan
    assert(copies(plan) == (0, 1), plan)
  }

  test("the fenced chain returns the unfenced chain's rows") {
    def digest(df: DataFrame): Seq[Long] =
      df.select(xxhash64(df.columns.map(col): _*)).collect().map(_.getLong(0))
        .toSeq.sorted
    val got = digest(fenced)
    assert(got.nonEmpty)
    assert(got == digest(unfenced(fenced)))
  }

  test("a filter on a passed-through column still reaches the scan") {
    val redact = reg.transforms.head
    val oneSource = new FilterPlugin(Map("predicate" -> "source = 'src0'"),
      Paths.get("."), redact.label)
    val plan = chain(reg.copy(transforms =
      redact +: oneSource +: reg.transforms.tail)).queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(source,src0)"), plan)
  }

  test("a projection of passed-through columns evaluates no fenced expression") {
    val prefix = chain(reg, 2) // redact_pii → text_analysis
    val plan = prefix.select("doc_id").queryExecution.optimizedPlan
    assert(copies(plan) == (0, 0), plan)
    assert(plan.output.map(_.name) == Seq("doc_id"))
  }

  test("check of the chain submits no job beyond the parquet footer read") {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val inputs = reg.inputs.map(p => p.label -> p.dryRun()).toMap
      ListenerBus.drain(sc)
      assert(jobs.get <= 1)
      val before = jobs.get
      val out = Pipeline.dryRunLabeledTransformChain(inputs, reg.transforms)
      assert(out.values.forall(_.isRight), out)
      ListenerBus.drain(sc)
      assert(jobs.get == before)
    } finally sc.removeSparkListener(listener)
  }
}

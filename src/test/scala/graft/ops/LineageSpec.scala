package graft.ops

import java.nio.file.Paths
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftshim.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.util.LongAccumulator
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.plugins.transform.{DedupPlugin, SamplePlugin}

/** [[Lineage.once]], and the eager ops that read their input through
  * it: the upstream chain runs once for the op's own jobs and the
  * sink together, with the same rows as an un-checkpointed reference. */
class LineageSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SharedSpark.spark
  import spark.implicits._
  private val dir = Paths.get("/tmp")

  /** Spark jobs submitted while `f` runs. */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = f
      ListenerBus.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("once: zero-row frames come back as is and run no job") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("text", StringType)))
    val checkFrame = spark.createDataFrame(
      java.util.Collections.emptyList[Row](), schema)
    val filtered = spark.range(0, 100).toDF("id").filter(lit(false))
    Seq(checkFrame, filtered).foreach { empty =>
      val (out, jobs) = jobsDuring(Lineage.once(empty))
      assert(out.queryExecution.analyzed == empty.queryExecution.analyzed)
      assert(jobs == 0)
    }
  }

  test("once: streaming and materialized frames come back as is") {
    val stream = spark.readStream.format("rate").load()
    assert(Lineage.once(stream) eq stream)
    val checkpointed = spark.range(0, 10).toDF("id").localCheckpoint()
    assert(Lineage.once(checkpointed) eq checkpointed)
    val cached = spark.range(0, 10).toDF("id").persist()
    try assert(Lineage.once(cached) eq cached)
    finally cached.unpersist()
    val local = Seq((1L, "a"), (2L, "b")).toDF("id", "src")
    assert(Lineage.once(local) eq local)
  }

  test("once: a computed input runs once across later actions") {
    val acc = spark.sparkContext.longAccumulator("once-upstream")
    val upstream = spark.range(0, 50).map { i => acc.add(1); i * 2 }.toDF("v")
    val src = Lineage.once(upstream)
    assert(!(src eq upstream))
    assert(src.agg(sum("v")).head().getLong(0) == 2450L)
    assert(src.filter($"v" > 10).count() == 44L)
    assert(acc.value == 50L)
  }

  // Near-duplicate families (a shared ~200-char body, one distinct
  // tail word per member) plus singletons; `quality` decides the
  // survivor of minhash_clustered_best.
  private val corpus: Seq[(Long, String, String, Double)] =
    (0L until 40L).map { i =>
      val family = if (i < 30) i % 6 else i
      val body = (0 until 30).map(j => s"f${family}w$j").mkString(" ")
      (i, s"src${i % 3}", s"$body tail$i", (i * 37 % 11).toDouble)
    }
  private val n = corpus.size.toLong

  /** `corpus` behind a map that counts each row's evaluation. */
  private def upstream(acc: LongAccumulator): DataFrame = {
    val rows = corpus
    spark.range(0, rows.size)
      .map { i => acc.add(1); rows(i.toInt) }
      .toDF("doc_id", "source", "text", "quality")
  }

  private def reference: DataFrame =
    corpus.toDF("doc_id", "source", "text", "quality")

  /** Components of `df` built with plain clusterPairs over the same
    * candidate graph the plugins use (star edges, est_jaccard ≥ 0.8). */
  private def clustersOf(df: DataFrame): DataFrame =
    Dedup.clusterPairs(df.select("doc_id"), "doc_id",
      Dedup.minhashCandidatePairs(df, "doc_id", "text", overCap = "star")
        .filter($"est_jaccard" >= 0.8).select("id_a", "id_b"))

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Execute `plugin` over the counted upstream, then one sink
    * action: each input row is evaluated once in all, and the result
    * rows equal `expected`. */
  private def assertUpstreamOnce(what: String, expected: DataFrame)(
      execute: DataFrame => Either[Throwable, DataFrame]): Unit = {
    val acc = spark.sparkContext.longAccumulator(what)
    val out = execute(upstream(acc)).fold(e => throw e, identity)
    assert(acc.value == n, s"$what: eager jobs evaluated ${acc.value} rows")
    val want = rowsOf(expected)
    assert(out.count() == want.size.toLong)
    assert(acc.value == n,
      s"$what: the sink re-ran the upstream (${acc.value} evaluations)")
    assert(rowsOf(out) == want, what)
  }

  test("dedup minhash_clustered runs its upstream once") {
    val ref = reference
    val expected = ref.join(clustersOf(ref)
        .filter($"doc_id" =!= $"cluster_id").select("doc_id"),
      Seq("doc_id"), "left_anti")
    assert(expected.count() < n) // the families collapse
    assertUpstreamOnce("minhash_clustered", expected) { df =>
      new DedupPlugin(Map("method" -> "minhash_clustered",
        "id_column" -> "doc_id"), dir, "default").execute(df)
    }
  }

  test("dedup minhash_clustered_best runs its upstream once") {
    val ref = reference
    val w = Window.partitionBy($"cluster_id")
      .orderBy($"quality".desc, $"doc_id")
    val expected = ref.join(clustersOf(ref), Seq("doc_id"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" === 1).drop("rk", "cluster_id")
    assert(expected.count() < n)
    assertUpstreamOnce("minhash_clustered_best", expected) { df =>
      new DedupPlugin(Map("method" -> "minhash_clustered_best",
        "id_column" -> "doc_id", "score_column" -> "quality"),
        dir, "default").execute(df)
    }
  }

  test("sample split_leakage_safe (minhash) runs its upstream once") {
    val ref = reference
    val splits = Seq("train" -> 0.8, "test" -> 0.2)
    val expected = Sampling.assignSplit(
      ref.join(clustersOf(ref), Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce($"cluster_id", $"doc_id")),
      "cluster_id", splits).drop("cluster_id")
    assertUpstreamOnce("split_leakage_safe", expected) { df =>
      new SamplePlugin(Map("method" -> "split_leakage_safe",
        "key_column" -> "doc_id", "pair_method" -> "minhash",
        "split_names" -> splits.map(_._1),
        "split_fracs" -> splits.map(_._2.toString)), dir, "default")
        .execute(df)
    }
  }
}

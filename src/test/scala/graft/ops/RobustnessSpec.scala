package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Null/empty/degenerate inputs must flow through, not crash: at
  * 100 TB there is ALWAYS a null text and an empty partition. */
class RobustnessSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SharedSpark.spark
  import spark.implicits._

  private val withNulls = Seq(
    (0L, "normal document text here"),
    (1L, null.asInstanceOf[String]),
    (2L, ""),
    (3L, "   "),
    (4L, "x")
  ).toDF("doc_id", "text")

  test("text analysis over null/empty/blank/1-char text") {
    val out = Text.analyze(withNulls, "text").collect()
    assert(out.length == 5)
    val byId = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(2L).getAs[Int]("n_tokens") == 0)
    assert(byId(3L).getAs[Int]("n_tokens") == 0)
    assert(byId(4L).getAs[Int]("n_tokens") == 1)
    assert(byId(1L).isNullAt(byId(1L).fieldIndex("n_tokens"))) // null in, null out
  }

  test("dedup families ignore null text rows without crashing") {
    assert(Dedup.byFingerprint(withNulls, "doc_id", "text").count() >= 3)
    val mh = Dedup.minhashCandidatePairs(withNulls, "doc_id", "text")
    assert(mh.count() >= 0) // no crash; null doc contributes no pairs
    assert(!mh.collect().exists(r => r.getLong(0) == 1L || r.getLong(1) == 1L))
    assert(Dedup.simhashPairs(withNulls, "doc_id", "text").count() >= 0)
    assert(Dedup.ngramJaccardPairs(withNulls, "doc_id", "text", 3, 0.1).count() >= 0)
  }

  test("PQ misconfiguration fails loudly; mismatched vectors go NULL") {
    import spark.implicits._
    val emb = (0L until 20L).map(i =>
      (i, Array.tabulate(6)(j => math.sin(i * 6 + j).toFloat)))
      .toDF("vec_id", "embedding")
    // m=4 does not divide dim=6 → training must throw a clear message
    val e = intercept[Exception] {
      Similarity.ivfPqTopK(emb, emb.limit(2), "vec_id", "embedding",
        k = 2, m = 4, ksub = 4)
    }
    assert(e.getMessage.contains("PQ subspaces must divide dim"))
    // a vector of the wrong length encodes to NULL, not garbage
    val cb = Similarity.trainPqCodebooks(
      Array(Array(1.0, 2.0), Array(3.0, 4.0)), m = 2, ksub = 2)
    val bad = Seq((1L, Array(1.0, 2.0, 3.0))).toDF("id", "v")
      .select(graft.expressions.ProductQuantizer.pq_encode($"v", cb).as("c"))
      .head()
    assert(bad.isNullAt(0))
  }

  test("boilerplate removal of all-null and empty corpora") {
    import spark.implicits._
    val allNull = Seq((1L, Option.empty[String]), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val out = Dedup.removeBoilerplateLines(allNull, "doc_id", "text")
      .select("clean_text", "n_lines_removed").collect()
    assert(out.length == 2 && out.forall(r => r.isNullAt(0) && r.isNullAt(1)))
    val empty = spark.emptyDataset[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.removeBoilerplateLines(empty, "doc_id", "text").count() == 0)
  }

  test("empty input tables flow through pipelines and ops") {
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
    assert(Dedup.exact(empty, "doc_id", Seq("text")).count() == 0)
    assert(Dedup.minhashCandidatePairs(empty, "doc_id", "text").count() == 0)
    assert(Text.analyze(empty, "text").count() == 0)

    val emptyVec = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    assert(Similarity.bruteForceTopK(emptyVec, emptyVec,
      "vec_id", "embedding", 5).count() == 0)
  }

  test("as-of and range joins with empty right side") {
    val l = Seq((1L, 10L, "a")).toDF("k", "t", "id")
    val rEmpty = Seq.empty[(Long, Long, String)].toDF("k", "t2", "rid")
    assert(AsOfJoin.asOf(l, rEmpty, Seq("k"), "t", "t2").count() == 0)
    assert(AsOfJoin.asOf(l, rEmpty, Seq("k"), "t", "t2",
      joinType = "left").count() == 1)
    assert(RangeJoin.within(l, rEmpty, Seq("k"), "t", "t2", 10L).count() == 0)
  }

  test("round-6 ops over empty and degenerate inputs") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Chunking.slidingWindow(empty, "doc_id", "text", 8, 4).count() == 0)
    assert(Vocab.topTokens(empty, "text", 10).isEmpty)
    assert(Vocab.encode(empty, "text", Seq.empty).count() == 0)
    assert(IncrementalDedup.cleaned(empty, empty, "text").count() == 0)
    // empty reference: everything in the batch is new
    val batch = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    assert(IncrementalDedup.cleaned(batch, empty, "text").count() == 2)
    // profiling an all-null column: 0 distinct, NULL min/max
    val nulls = Seq.fill(3)(Tuple1(Option.empty[String])).toDF("c")
    val st = Profiling.columnStats(nulls, Seq("c"), exact = true).collect()(0)
    assert(st.getLong(1) == 3L && st.getLong(2) == 3L && st.getLong(3) == 0L)
    assert(st.isNullAt(4) && st.isNullAt(5))
    // z-order on a constant column degenerates to one bucket, no crash
    val const = Seq.fill(20)((1L, 5L)).toDF("x", "y")
    assert(ZOrder.clustered(const, Seq("x", "y"), bits = 4).count() == 20)
  }

  test("round-6 plugins fail loudly on missing required options") {
    val tmp = java.nio.file.Files.createTempDirectory("robust")
    val df = Seq((1L, "a")).toDF("doc_id", "text")
    import graft.plugins.transform._
    assert(new ChunkPlugin(Map.empty, tmp, "default")
      .execute(df).left.exists(_.getMessage.contains("id_column")))
    assert(new ProfilePlugin(Map.empty, tmp, "default")
      .execute(df).left.exists(_.getMessage.contains("columns")))
    assert(new DedupPlugin(Map("method" -> "incremental",
        "id_column" -> "doc_id"), tmp, "default")
      .execute(df).left.exists(_.getMessage.contains("reference_path")))
    assert(new SamplePlugin(Map("method" -> "split", "key_column" -> "doc_id",
        "split_names" -> Seq("a", "b"), "split_fracs" -> Seq("1.0")),
        tmp, "default")
      .execute(df).left.exists(_.getMessage.contains("align")))
    assert(new graft.plugins.input.JsonScanPlugin(Map.empty, tmp, "default")
      .execute()(spark).left.exists(_.getMessage.contains("input_path")))
  }

  test("round-6 wave-2 ops over null/empty/degenerate inputs") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // BM25 over empty corpus / null text / no-token query behavior
    assert(Bm25.topK(empty, "doc_id", "text",
      Seq(("q", "anything")), k = 5).count() == 0)
    assert(Bm25.topK(withNulls, "doc_id", "text",
      Seq(("q", "normal text")), k = 5).collect()
      .forall(_.getLong(2) != 1L)) // null-text doc never matches
    intercept[IllegalArgumentException] {
      Bm25.topK(withNulls, "doc_id", "text", Seq.empty, k = 5)
    }
    // n-grams: null rows contribute nothing; empty corpus empty
    assert(Ngrams.topNgrams(empty, "doc_id", "text", 2, 5).count() == 0)
    assert(Ngrams.topNgrams(withNulls, "doc_id", "text", 2, 5)
      .collect().forall(_.getString(1).nonEmpty))
    // fuzzy pairs: nulls/blanks dropped pre-blocking; empty ok
    assert(FuzzyJoin.selfFuzzyPairs(empty, "doc_id", "text", 2).count() == 0)
    assert(FuzzyJoin.selfFuzzyPairs(withNulls, "doc_id", "text", 2)
      .collect().forall(r => r.getLong(0) != 1L && r.getLong(1) != 1L))
    // percentile band: empty group-by list = global band; empty input
    val ev = Seq.empty[(String, Long)].toDF("g", "v")
    assert(Percentiles.filterByBand(ev, Seq("g"), "v", 0.1, 0.9).count() == 0)
    intercept[IllegalArgumentException] {
      Percentiles.filterByBand(ev, Seq("g"), "v", 0.9, 0.1) // lo > hi
    }
    // kNN graph: single-row corpus has no neighbors; empty corpus
    val one = Seq((1L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    assert(Similarity.knnGraph(one, "vec_id", "embedding", k = 3,
      method = "brute").count() == 0)
    // budget mixing: zero-mass weighted source is simply absent
    val docs = Seq((1L, "a", 10L), (2L, "b", 0L)).toDF("id", "s", "m")
    assert(Sampling.mixToBudgetWeights(docs, "s", "id", "m",
      Map("a" -> 0.5, "b" -> 0.5)).select("s").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("a"))
    // PCA: requires > 1 row; mismatched dims fail loudly
    intercept[IllegalArgumentException] {
      Embeddings.pcaProject(one, "embedding", k = 1).collect()
    }
  }

  test("mix sampling passes a zero-row input through unchanged") {
    val none = Seq.empty[(Long, String, Long)].toDF("id", "s", "m")
    val outs = Seq(
      Sampling.mixToWeights(none, "s", "id", Map("a" -> 1.0)),
      Sampling.mixToBudgetWeights(none, "s", "id", "m", Map("a" -> 1.0)),
      Sampling.mixByTemperature(none, "s", "id", temperature = 2.0),
      Sampling.mixByTemperature(none, "s", "id", temperature = 2.0,
        budgetCol = Some("m")))
    for (out <- outs) {
      assert(out.schema == none.schema)
      assert(out.count() == 0)
    }
  }

  test("mix sampling over rows with no weighted source still fails") {
    val others = Seq((1L, "z", 5L), (2L, null.asInstanceOf[String], 3L))
      .toDF("id", "s", "m")
    for (mix <- Seq(
        () => Sampling.mixToWeights(others, "s", "id", Map("a" -> 1.0)),
        () => Sampling.mixToBudgetWeights(others, "s", "id", "m",
          Map("a" -> 1.0)))) {
      val e = intercept[IllegalArgumentException](mix())
      assert(e.getMessage.contains("no weighted source present in the data"))
    }
    // temperature mixing weighs every source present: rows whose
    // budget is all zero leave none
    val massless = Seq((1L, "a", 0L)).toDF("id", "s", "m")
    val e = intercept[IllegalArgumentException] {
      Sampling.mixByTemperature(massless, "s", "id", temperature = 2.0,
        budgetCol = Some("m"))
    }
    assert(e.getMessage.contains("no non-empty source present"))
  }

  test("mixByTemperature refuses a high-cardinality group column") {
    // passing an id as the domain column would collect one row per
    // distinct value — must fail with the actual mistake named
    val rows = (0L until 50L).map(i => (i, i.toString)).toDF("id", "g")
    val e = intercept[IllegalArgumentException] {
      Sampling.mixByTemperature(rows, "g", "id", temperature = 2.0,
        maxGroups = 10)
    }
    assert(e.getMessage.contains("domain-sized"))
    // domain-sized groups still flow
    val ok = Sampling.mixByTemperature(
      rows.withColumn("g", (col("id") % 3).cast("string")),
      "g", "id", temperature = 2.0, maxGroups = 10)
    assert(ok.count() > 0)
  }

  test("brute-force paths refuse oversized inputs with a redirect " +
      "to the bucketed methods") {
    // brute collects/broadcasts — a user pointing it at a big corpus
    // must get a capped, actionable error, never a driver OOM
    val emb = (0L until 10L).map(i => (i, Seq(i.toFloat, 1.0f)))
      .toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val eLong = intercept[IllegalArgumentException] {
      Similarity.knnGraph(emb, "vec_id", "embedding", k = 2,
        method = "brute", maxBrute = 5)
    }
    assert(eLong.getMessage.contains("lsh"))
    // non-long id routes through the generic broadcast baseline —
    // same guard, same redirect
    val embStr = emb.withColumn("vec_id", col("vec_id").cast("string"))
    val eStr = intercept[IllegalArgumentException] {
      Similarity.knnGraph(embStr, "vec_id", "embedding", k = 2,
        method = "brute", maxBrute = 5)
    }
    assert(eStr.getMessage.contains("lsh"))
    // under the cap, both paths still work
    assert(Similarity.knnGraph(emb, "vec_id", "embedding", k = 2,
      method = "brute", maxBrute = 100).count() > 0)
  }

  test("hammingPairs drops flooded chunk buckets; raising the cap restores") {
    // 40 identical texts: every chunk bucket holds all 40 simhashes
    val flood = (0L until 40L).map(i => (i, "same text for everyone"))
      .toDF("doc_id", "text")
    // over-cap buckets dropped -> no pairs surface from the flood
    assert(Dedup.simhashPairs(flood, "doc_id", "text",
      maxBucket = 10).count() == 0)
    // the escape hatch restores the full 40*39/2 clique
    assert(Dedup.simhashPairs(flood, "doc_id", "text",
      maxBucket = 40).count() == 40L * 39 / 2)
    // pairs agreeing on an UNDER-cap chunk still surface while a
    // flooded bucket is dropped: mix the flood with one duplicate
    // pair whose hash sits in its own quiet buckets
    val mixed = flood.unionByName(Seq(
      (100L, "a completely different document about graphs and joins"),
      (101L, "a completely different document about graphs and joins"))
      .toDF("doc_id", "text"))
    val pairs = Dedup.simhashPairs(mixed, "doc_id", "text", maxBucket = 10)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((100L, 101L)))
    assert(pairs.forall { case (a, b) => a >= 100L && b >= 100L })
  }

  test("ngramJaccardPairs refuses an oversized block with a redirect " +
      "to the verified scale path") {
    val docs = (0L until 8L)
      .map(i => (i, s"alpha beta gamma doc $i", if (i < 6) "en" else "de"))
      .toDF("doc_id", "text", "lang")
    // dominant block (en, 6 docs) over the cap: typed redirect
    val eBlocked = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        blockCol = Some("lang"), maxBlock = 5)
    }
    assert(eBlocked.getMessage.contains("ngramJaccardVerified"))
    assert(eBlocked.getMessage.contains("'lang'"))
    // unblocked all-pairs over the cap: same contract
    val eAll = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", maxBlock = 5)
    }
    assert(eAll.getMessage.contains("all-pairs"))
    // raised cap (the escape hatch) and small blocks both still flow
    assert(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      threshold = 0.1, blockCol = Some("lang"), maxBlock = 6).count() > 0)
    assert(Dedup.ngramJaccardPairs(docs.limit(0), "doc_id", "text",
      blockCol = Some("lang"), maxBlock = 2).count() == 0) // empty input ok
  }
}

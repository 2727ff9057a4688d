package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.expressions.SimHash64.simhash64
import graft.expressions.SortedLongJaccard.sorted_long_jaccard

/** Extension-operator semantics on small hand-built frames. */
class OpsSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SharedSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 0
    (2L, "the quick brown fox jumped over the lazy dog"),  // near dup
    (3L, "completely different text about spark engines"),
    (4L, "THE QUICK  BROWN FOX jumps over the lazy dog!")  // dup of 0 modulo norm
  ).toDF("doc_id", "text")

  test("Text.tokenCount / bpe / ratios") {
    val row = Seq((1L, "Hello, world! This is IT.")).toDF("id", "text")
      .select(
        Text.tokenCount(col("text")).as("tc"),
        Text.tokenCountBpe(col("text")).as("bpe"),
        Text.punctRatio(col("text")).as("pr"),
        Text.upperRatio(col("text")).as("ur")).head()
    assert(row.getInt(0) == 5)
    // Hello , world ! This is IT . -> 8 BPE-ish tokens
    assert(row.getInt(1) == 8)
    assert(row.getDouble(2) > 0.0 && row.getDouble(2) < 0.5)
    assert(row.getDouble(3) > 0.0)
    assert(Seq(("", "")).toDF("id", "text")
      .select(Text.tokenCount(col("text"))).head().getInt(0) == 0)
  }

  test("Text.langId picks marker language; CJK wins; und when no signal") {
    val r = Seq(
      ("the cat and the dog is here", "en"),
      ("le chat et la maison est une", "fr"),
      ("der hund und die katze ist", "de"),
      ("el gato y la casa es un", "es"),
      ("你好 世界", "zh"),
      ("zzz qqq xxx", "und")
    ).toDF("text", "expected")
      .select(Text.langId(col("text")).as("got"), col("expected"))
      .collect()
    r.foreach(row => assert(row.getString(0) == row.getString(1),
      s"langId mismatch: got ${row.getString(0)} want ${row.getString(1)}"))
  }

  test("Text.fingerprint is normalization-invariant") {
    val fps = docs.select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(0L) == fps(1L))
    assert(fps(0L) == fps(4L)) // case/punct/whitespace normalized away
    assert(fps(0L) != fps(3L))
  }

  test("Dedup.exact keeps min id and counts dupes") {
    val out = Dedup.exact(docs, "doc_id", Seq("text"))
      .filter(col("n_dupes") > 1).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("doc_id") == 0L)
    assert(out.head.getAs[Long]("n_dupes") == 2L)
  }

  test("Dedup.byFingerprint groups normalized duplicates") {
    val out = Dedup.byFingerprint(docs, "doc_id", "text")
    assert(out.count() == 3) // {0,1,4}, {2}, {3}
    assert(out.filter(col("n_dupes") === 3).select("doc_id")
      .as[Long].head() == 0L)
  }

  test("minhash candidate pairs surface near-dups, not unrelated docs") {
    val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
      shingleK = 5, numHashes = 64, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val ids = pairs.map(p => (p._1, p._2)).toSet
    assert(ids.contains((0L, 1L))) // identical
    assert(pairs.find(p => (p._1, p._2) == (0L, 1L)).get._3 == 1.0)
    assert(ids.contains((0L, 2L)) || ids.contains((1L, 2L))) // near dup
    assert(!ids.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated stays out
  }

  test("byMinhash drops near-dups keeping smallest id") {
    val kept = Dedup.byMinhash(docs, "doc_id", "text", threshold = 0.8)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept.contains(0L) && kept.contains(3L))
    assert(!kept.contains(1L)) // exact dup of 0 dropped
  }

  test("redactPii masks emails/IPs/phones; repetition ratios behave") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail a@b.io or c.d+x@e.org, host 10.0.0.1, call 555-123-4567"),
      (2L, "no pii here"),
      (3L, "spam spam spam spam")).toDF("id", "text")
    val red = df.select(col("id"), Text.redactPii(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(red(1L) == "mail <EMAIL> or <EMAIL>, host <IP>, call <PHONE>")
    assert(red(2L) == "no pii here")
    val reps = df.select(col("id"),
      Text.tokenRepetitionRatio(col("text")).as("r")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(reps(3L) == 0.75) // 4 tokens, 1 distinct
    assert(reps(2L) == 0.0)
  }

  test("contamination flags n-gram overlap with a benchmark set") {
    import spark.implicits._
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog today")).toDF("id", "text")
    val corpus = Seq(
      (1L, "prefix words the quick brown fox jumps over the lazy dog today and more"),
      (2L, "completely unrelated text about spark catalyst optimizer internals")).toDF("id", "text")
    val hits = Contamination.ngramOverlap(corpus, "id", "text", bench, "id", "text", n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(hits.map(_._1).toSet == Set(1L)) // only the overlapping doc
    assert(hits.head._2 >= 1 && hits.head._3 == 1)
  }

  test("packChunks assigns concat-and-chunk sequence ids per shard") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", 600L), (2L, "a", 600L), (3L, "a", 600L), (4L, "a", 600L),
      (5L, "b", 2000L), (6L, "b", 100L)).toDF("id", "shard", "toks")
    val out = Packing.packChunks(df, "toks", budget = 1024,
        shardCols = Seq("shard"), orderCol = "id")
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    // shard a cum_before: 0, 600, 1200, 1800 → seqs 0,0,1,1
    assert(out(1L) == (0L, 0L) && out(2L) == (0L, 600L))
    assert(out(3L) == (1L, 176L) && out(4L) == (1L, 776L))
    // shard b independent: 0, 2000 → seqs 0, 1
    assert(out(5L) == (0L, 0L) && out(6L) == (1L, 976L))
  }

  test("packGreedy never splits a doc and opens a new seq on overflow") {
    import spark.implicits._
    val df = Seq(
      // shard a: 600 then 600 would overflow 1024 → doc 2 opens
      // seq 1; 300 then a null (packs as 0) join it
      (1L, "a", 600L), (2L, "a", 600L), (3L, "a", 300L), (4L, "a", 200L),
      // shard b: oversized doc alone, next doc starts fresh; a null
      // token count packs as 0
      (5L, "b", 2000L), (6L, "b", 100L), (7L, "b", 900L),
      // shard c: a zero-token doc at an EXACTLY-full sequence opens
      // the next one (offset stays < budget, never == budget)
      (8L, "c", 1024L), (9L, "c", 0L)).toDF("id", "shard", "toks")
      .withColumn("toks", when(col("id") === 4L, lit(null)).otherwise(col("toks")))
    val out = Packing.packGreedy(df, "toks", budget = 1024,
        shardCols = Seq("shard"), orderCol = "id")
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(out(1L) == (0L, 0L))
    assert(out(2L) == (1L, 0L))    // would overflow seq 0 → new seq
    assert(out(3L) == (1L, 600L))  // fits alongside doc 2
    assert(out(4L) == (1L, 900L))  // null → 0 tokens, stays in seq 1
    assert(out(5L) == (0L, 0L))    // oversized doc gets its own seq
    assert(out(6L) == (1L, 0L))
    assert(out(7L) == (1L, 100L))  // 100+900 = 1000 ≤ 1024, fits
    assert(out(8L) == (0L, 0L))
    assert(out(9L) == (1L, 0L))    // not (0, 1024): offset < budget holds
    // determinism across reruns
    val again = Packing.packGreedy(df, "toks", budget = 1024,
        shardCols = Seq("shard"), orderCol = "id")
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(out == again)
    // re-packing a packed frame overwrites seq_id/seq_offset (like
    // packChunks' withColumn) instead of duplicating the columns
    val packed = Packing.packGreedy(df, "toks", 1024, Seq("shard"), "id")
    val repacked = Packing.packGreedy(packed, "toks", 512, Seq("shard"), "id")
    assert(repacked.columns.count(_ == "seq_id") == 1)
    assert(repacked.columns.count(_ == "seq_offset") == 1)
    // the old columns stay readable during the scan: a re-pack whose
    // order references the previous seq_id must RESOLVE (withColumn
    // parity; note a real re-pack needs a unique tiebreaker — ties
    // on orderCol void the rerun-identical guarantee)
    val byPrev = Packing.packGreedy(packed, "toks", 512,
      Seq("shard"), orderCol = "seq_id")
    assert(byPrev.count() == 9)
    assert(byPrev.columns.count(_ == "seq_id") == 1)
  }

  test("hash sampling is deterministic and caps strata") {
    import spark.implicits._
    val df = (0L until 1000L).map(i => (i, if (i % 2 == 0) "en" else "fr"))
      .toDF("id", "lang")
    val s1 = Sampling.sampleByHash(df, "id", 0.2).select("id").as[Long].collect().toSet
    val s2 = Sampling.sampleByHash(df, "id", 0.2).select("id").as[Long].collect().toSet
    assert(s1 == s2) // deterministic
    assert(s1.size > 120 && s1.size < 280) // ~200 expected
    val capped = Sampling.stratifiedCap(df, Seq("lang"), "id", cap = 50)
    assert(capped.groupBy("lang").count().collect()
      .forall(_.getLong(1) == 50L))
    // nested sampling property: rate 0.1 sample is a subset of rate 0.2
    val s01 = Sampling.sampleByHash(df, "id", 0.1).select("id").as[Long].collect().toSet
    assert(s01.subsetOf(s1))
  }

  test("mixToWeights downsamples to the target mixture, binding source whole") {
    import spark.implicits._
    // 100 a-rows, 100 b-rows; weights 3:1 -> a binds (kept whole),
    // b downsampled to ~100/3
    val df = ((0L until 100L).map(i => (i, "a")) ++
      (100L until 200L).map(i => (i, "b")) ++
      (200L until 220L).map(i => (i, "c"))).toDF("id", "src")
    val out = Sampling.mixToWeights(df, "src", "id",
      Map("a" -> 0.75, "b" -> 0.25))
    val bystrata = out.groupBy("src").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bystrata("a") == 100)              // binding source kept whole
    assert(!bystrata.contains("c"))           // unweighted source dropped
    val b = bystrata("b")
    assert(b > 15 && b < 55, s"b=$b expected ~33")   // hash-band variance
    // deterministic: same call, same row set
    val again = Sampling.mixToWeights(df, "src", "id",
      Map("a" -> 0.75, "b" -> 0.25)).select("id").as[Long].collect().toSet
    assert(again == out.select("id").as[Long].collect().toSet)
  }

  test("mixByTemperature flattens toward uniform; T=1 keeps all rows") {
    import spark.implicits._
    // head source 400 rows, tail source 100: at T=2 weights are
    // 20:10, tail binds (kept whole), head downsampled to ~200
    val df = ((0L until 400L).map(i => (i, "head")) ++
      (400L until 500L).map(i => (i, "tail"))).toDF("id", "src")
    val out = Sampling.mixByTemperature(df, "src", "id", temperature = 2.0)
    val byS = out.groupBy("src").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byS("tail") == 100)                  // binding source whole
    val h = byS("head")
    assert(h > 150 && h < 250, s"head=$h expected ~200")
    // T=1: weights proportional to counts -> every rate 1, no drops
    val all = Sampling.mixByTemperature(df, "src", "id", temperature = 1.0)
    assert(all.count() == 500)
    // budget form: mass = value column, not row count
    val wdf = Seq((1L, "a", 900L), (2L, "b", 100L), (3L, "b", 0L))
      .toDF("id", "src", "chars")
    val bud = Sampling.mixByTemperature(wdf, "src", "id",
      temperature = 2.0, budgetCol = Some("chars"))
    // b binds (mass 100, weight 10 -> ratio 10 < a's 900/30=30);
    // its rows survive regardless of hash
    assert(bud.filter($"src" === "b").count() == 2)
    val err = intercept[IllegalArgumentException] {
      Sampling.mixByTemperature(df, "src", "id", temperature = 0.5)
    }
    assert(err.getMessage.contains(">= 1.0"))
  }

  test("mix sampling runs the upstream plan once (count + sink)") {
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator("mix-upstream")
    def upstream = spark.range(0, 100)
      .map { i => acc.add(1); (i, if (i < 60) "a" else "b", i % 7) }
      .toDF("id", "src", "n_tok")
    val weights = Map("a" -> 0.5, "b" -> 0.5)
    Seq[(String, DataFrame => DataFrame)](
      "mixToWeights" -> (Sampling.mixToWeights(_, "src", "id", weights)),
      "mixToBudgetWeights" ->
        (Sampling.mixToBudgetWeights(_, "src", "id", "n_tok", weights)),
      "mixByTemperature" ->
        (Sampling.mixByTemperature(_, "src", "id", temperature = 2.0))
    ).foreach { case (op, mix) =>
      acc.reset()
      val mixed = mix(upstream)
      assert(acc.value == 100L, op) // the eager count computed the input
      mixed.count()                 // sink action reads the stored copy
      assert(acc.value == 100L,
        s"$op: sink re-executed the upstream plan (${acc.value / 100} runs)")
    }
  }

  test("clusterPairs: transitive chain collapses to one component/survivor") {
    import spark.implicits._
    // chain: 10~11, 11~12 (10 and 12 NOT directly paired); isolated 13
    val nodes = Seq(10L, 11L, 12L, 13L).toDF("id")
    val pairs = Seq((10L, 11L), (11L, 12L)).toDF("id_a", "id_b")
    val cc = Dedup.clusterPairs(nodes, "id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 13L))
    // keep-one semantics over the clustered components: one survivor
    // for the whole chain — where greedy keep-first would also keep
    // 12 if 10~12 never became a direct candidate pair
    val survivors = nodes
      .join(Dedup.clusterPairs(nodes, "id", pairs)
        .filter(col("id") =!= col("cluster_id")).select("id"),
        Seq("id"), "left_anti")
      .as[Long].collect().sorted.toSeq
    assert(survivors == Seq(10L, 13L))
  }

  test("byMinhashClustered keeps one doc per near-dup component") {
    val kept = Dedup.byMinhashClustered(docs, "doc_id", "text", threshold = 0.8)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept.contains(0L) && !kept.contains(1L)) // dup of 0 dropped
    assert(kept.contains(3L)) // unrelated doc survives
  }

  test("keepBestPerCluster keeps the best-scored member, not min id") {
    val rows = Seq(
      (10L, "a", 5.0), (11L, "a dup", 9.0), (12L, "a dup 2", 9.0),
      (13L, "alone", 1.0)).toDF("id", "text", "quality")
    val pairs = Seq((10L, 11L), (11L, 12L)).toDF("id_a", "id_b")
    val kept = Dedup.keepBestPerCluster(rows, "id", pairs, "quality")
      .select("id").as[Long].collect().sorted.toSeq
    // component {10,11,12}: max quality 9.0 ties between 11 and 12 →
    // smaller id 11 wins; singleton 13 always survives
    assert(kept == Seq(11L, 13L))
    // schema passes through untouched (no helper columns leak)
    assert(Dedup.keepBestPerCluster(rows, "id", pairs, "quality")
      .columns.toSeq == Seq("id", "text", "quality"))
    // end-to-end minhash form: the 0~1 dup family keeps the LONGER
    // doc regardless of id order
    val scored = docs.withColumn("len",
      org.apache.spark.sql.functions.length(col("text")))
    val best = Dedup.byMinhashClusteredBest(scored, "doc_id", "text",
        "len", threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    val minId = Dedup.byMinhashClustered(docs, "doc_id", "text",
        threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(best.size == minId.size) // same component structure
  }

  test("keepBestPerCluster tolerates user columns named cluster_id/_rk") {
    // Reachable from config via minhash_clustered_best on a frame that
    // already carries these names: the helper columns must not collide
    // (pre-fix this threw an ambiguous-reference AnalysisException).
    val rows = Seq(
      (10L, 99L, "x", 5.0), (11L, 98L, "y", 9.0), (13L, 97L, "z", 1.0))
      .toDF("id", "cluster_id", "_rk", "quality")
    val pairs = Seq((10L, 11L)).toDF("id_a", "id_b")
    val kept = Dedup.keepBestPerCluster(rows, "id", pairs, "quality")
    // user columns pass through untouched, survivor is best-scored
    assert(kept.columns.toSeq == Seq("id", "cluster_id", "_rk", "quality"))
    assert(kept.select("id").as[Long].collect().sorted.toSeq == Seq(11L, 13L))
    assert(kept.filter(col("id") === 11L).select("cluster_id")
      .as[Long].head() == 98L)
  }

  test("byMinhashClustered collapses an over-cap bucket via star edges") {
    import spark.implicits._
    // 12 identical docs flood every LSH bucket past maxBucket=5 —
    // "drop" mode would silently lose the whole family (zero pairs,
    // all 12 survive); star mode keeps connectivity through the
    // min-id hub, so the family collapses to one survivor
    val flood = (0L until 12L).map(i =>
      (i, "the same boilerplate paragraph repeated verbatim in every doc"))
    val corpus = (flood :+ (100L, "a completely different document about unrelated topics entirely"))
      .toDF("doc_id", "text")
    val dropped = Dedup.minhashCandidatePairs(corpus, "doc_id", "text",
      maxBucket = 5).count()
    assert(dropped == 0L) // the silent-loss failure mode, demonstrated
    val kept = Dedup.byMinhashClustered(corpus, "doc_id", "text",
        threshold = 0.8, maxBucket = 5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(0L, 100L))
  }

  test("simhash: equal texts equal hash; near dup within small hamming") {
    val sig = Dedup.withSimhash(docs, "text").select("doc_id", "simhash")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(0L) == sig(1L))
    assert(java.lang.Long.bitCount(sig(0L) ^ sig(2L)) <= 12)
    assert(java.lang.Long.bitCount(sig(0L) ^ sig(3L)) > 12)
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("ngram jaccard: exact set semantics via hashed merge") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs(((0L, 1L))) == 1.0)
    assert(pairs.contains((0L, 2L)))
    assert(pairs((0L, 2L)) > 0.5 && pairs((0L, 2L)) < 1.0)
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("SortedLongJaccard equals set jaccard") {
    val df = Seq((Seq(1L, 2L, 3L, 4L), Seq(3L, 4L, 5L, 6L))).toDF("a", "b")
    val j = df.select(sorted_long_jaccard(col("a"), col("b"))).head().getDouble(0)
    assert(math.abs(j - 2.0 / 6.0) < 1e-12)
    val empty = Seq((Seq.empty[Long], Seq.empty[Long])).toDF("a", "b")
      .select(sorted_long_jaccard(col("a"), col("b"))).head().getDouble(0)
    assert(empty == 0.0)
  }

  test("simhash64 expression: deterministic, type-checked") {
    val h1 = docs.select(simhash64(split(col("text"), " "))).head().getLong(0)
    val h2 = docs.select(simhash64(split(col("text"), " "))).head().getLong(0)
    assert(h1 == h2)
    intercept[Exception] {
      docs.select(simhash64(col("doc_id"))).head()
    }
  }

  test("Similarity: brute-force top-k finds the exact nearest vector") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0),
      "vec_id", "embedding", k = 2)
      .orderBy("rank").collect()
    assert(top.length == 2)
    assert(top(0).getAs[Long]("neighbor_id") == 1L) // closest by cosine
    assert(top(0).getAs[Int]("rank") == 1)
    assert(top(0).getAs[Double]("cosine") > 0.99 * (0.9 / math.sqrt(0.82)))
  }

  test("ANN recall floors on real embeddings: IVF and multi-probe LSH") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // default params (IVF nlist=8/nprobe=7, LSH planes=4/probeBits=3)
    // are tuned to hold recall@5 ≥ 0.9 on the isotropic fixtures at
    // every SF (measured 0.96-1.0; see BASELINE.md) — the floor here
    // is the quality bar, not a pass-anything guard.
    val brute = pairs(Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5))
    val ivf = pairs(Similarity.ivfTopK(e, q, "vec_id", "embedding", 5))
    val lsh = pairs(Similarity.lshTopK(e, q, "vec_id", "embedding", 5))
    assert(brute.size == 50)
    assert((brute & ivf).size.toDouble / brute.size >= 0.9,
      s"IVF recall too low: ${(brute & ivf).size / 50.0}")
    assert((brute & lsh).size.toDouble / brute.size >= 0.9,
      s"LSH recall too low: ${(brute & lsh).size / 50.0}")
  }

  test("embeddingCosinePairs banded: recall beats one equally-deep " +
      "band; pairs exact-verified; star caps work per band") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val norm = Similarity.withNormalized(e, "embedding", "v")
      .select(col("vec_id"), col("v"))
    val truth = norm.as("a").join(norm.as("b"),
        col("a.vec_id") < col("b.vec_id"))
      .filter(Similarity.dot(col("a.v"), col("b.v")) >= 0.3)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    def got(tables: Int) = Dedup.embeddingCosinePairs(e, "vec_id",
        "embedding", threshold = 0.3, planes = 5, probeBits = 2,
        tables = tables)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val one = got(1)
    val four = got(4)
    // soundness: every emitted pair is a TRUE pair (exact verify)
    assert((one -- truth).isEmpty && (four -- truth).isEmpty)
    // the OR over 4 independent bands strictly dominates any single
    // band's candidate set in expectation; assert the measured gain
    // and the 0.9 floor the gate query relies on
    val r1 = (truth & one).size.toDouble / truth.size
    val r4 = (truth & four).size.toDouble / truth.size
    assert(r4 > r1, s"banding did not improve recall: $r1 -> $r4")
    assert(r4 >= 0.9, s"banded recall $r4 below the 0.9 floor")
    // star mode per (band, bucket): a planted near-identical family
    // floods its bucket past the cap in every band; connectivity must
    // survive via exact-verified hub edges (star pairs on DISSIMILAR
    // flood members are correctly dropped by the verify — hence the
    // planted family, not the isotropic fixture)
    val family = (0L until 12L).map(i =>
      (i, Array(1.0f, 0.01f * i, 0.0f, 0.0f)))
    val lone = Seq((100L, Array(0.0f, 0.0f, 1.0f, 0.0f)))
    val planted = (family ++ lone).toDF("vec_id", "embedding")
    val star = Dedup.embeddingCosinePairs(planted, "vec_id",
        "embedding", threshold = 0.9, planes = 4, probeBits = 0,
        tables = 2, maxBucket = 5, overCap = "star")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // hub (id 0) reaches every family member; the lone vector pairs
    // with nothing; every emitted pair is exact-verified >= 0.9
    assert((1L until 12L).forall(i => star.contains((0L, i))),
      s"family not collapsed through the hub: $star")
    assert(star.forall { case (a, b) => a < 100L && b < 100L })
  }

  test("embeddingCosinePairs: saturation guard fires loud; autoPlanes " +
      "re-scales the hash space and holds the recall floor") {
    // probeBitsFor: the exact binomial-tail solver. planes=7 at
    // threshold 0.3 (pFlip ≈ 0.403): P(H≤4) ≈ 0.90 < 0.92 but
    // P(H≤5) ≈ 0.977 — the rule-of-thumb (+1 bit per 4 planes)
    // would have stopped at 4 and quietly missed the floor
    assert(Similarity.probeBitsFor(7, 0.3, 0.92, 3) == 5)
    // steep tail at production thresholds: c = 0.9 flips few bits
    // (Bin(8, 0.144): P(H≤2) = 0.906, P(H≤3) = 0.983 — k = 3)
    assert(Similarity.probeBitsFor(8, 0.9, 0.92, 1) == 3)
    // atLeast respected even when the floor is already met at k=0
    assert(Similarity.probeBitsFor(8, 0.9999, 0.5, 1) == 1)
    // unreachable floor degrades to full coverage (k = planes)
    assert(Similarity.probeBitsFor(4, 0.0, 2.0, 0) == 4)

    // 200 isotropic vectors over 2^4 buckets ≈ 12.5 mean occupancy:
    // a cap of 5 puts ~every row in an over-cap bucket — the exact
    // silent-collapse regime the ×10 fixture exposed (there: 20k
    // rows, cap 1000), shrunk to test scale
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val ex = intercept[Exception] {
      Dedup.embeddingCosinePairs(e, "vec_id", "embedding",
        threshold = 0.3, planes = 4, probeBits = 3, maxBucket = 5).count()
    }
    assert(ex.getMessage.contains("saturated")
      && ex.getMessage.contains("autoPlanes"), ex.getMessage)
    // banded variant guards per (band, bucket) the same way
    val exB = intercept[Exception] {
      Dedup.embeddingCosinePairs(e, "vec_id", "embedding",
        threshold = 0.3, planes = 5, probeBits = 2, tables = 4,
        maxBucket = 3).count()
    }
    assert(exB.getMessage.contains("saturated"), exB.getMessage)
    // every bucket over a cap of 1: the capped base side, the candidate
    // join and the pairs are all empty at run time, and the guard must
    // still be evaluated (single-table and banded)
    for (tables <- Seq(1, 2)) {
      val exE = intercept[Exception] {
        Dedup.embeddingCosinePairs(e, "vec_id", "embedding",
          threshold = 0.3, planes = 3, probeBits = 1, tables = tables,
          maxBucket = 1).collect()
      }
      assert(exE.getMessage.contains("saturated"), s"tables=$tables: ${exE.getMessage}")
    }
    // star mode keeps collapsing through hubs — no guard, no throw
    Dedup.embeddingCosinePairs(e, "vec_id", "embedding",
      threshold = 0.3, planes = 4, probeBits = 3, maxBucket = 5,
      overCap = "star").count()

    // autoPlanes under the same hostile cap: planes deepen to
    // ⌈log2(200 / (5/4))⌉ = 8 (occupancy ~0.8, no saturation),
    // probes re-solve to 5, and recall vs the exact pair set holds
    // the floor the fixed-plane call just demonstrated losing
    val norm = Similarity.withNormalized(e, "embedding", "v")
      .select(col("vec_id"), col("v"))
    val truth = norm.as("a").join(norm.as("b"),
        col("a.vec_id") < col("b.vec_id"))
      .filter(Similarity.dot(col("a.v"), col("b.v")) >= 0.3)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    val auto = Dedup.embeddingCosinePairs(e, "vec_id", "embedding",
        threshold = 0.3, planes = 4, probeBits = 3, maxBucket = 5,
        autoPlanes = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((auto -- truth).isEmpty, "unsound pair emitted")
    val recall = (truth & auto).size.toDouble / truth.size
    assert(recall >= 0.9, s"auto recall $recall below floor")
  }

  test("topNgramCoverage: dominant 2-gram coverage, saturation, edges") {
    val df = Seq(
      (1L, "spam spam spam spam spam"),   // 'spam spam' ×4 ×9 / 24 = 1.5
      (2L, "a b a b a b"),                // 'a b' ×3 ×3 / 11
      (3L, "all distinct words here"),    // every 2-gram once
      (4L, "single"),                     // < n tokens
      (5L, "   ")).toDF("id", "text")
    val got = df.select(col("id"),
        Text.topNgramCoverage(col("text"), 2).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == 36.0 / 24)
    assert(got(2L) == 9.0 / 11)
    assert(got(3L) == 14.0 / 23)          // widest once-only gram: "distinct words"
    assert(got(4L) == 0.0 && got(5L) == 0.0)
    // registered as a SQL function too
    df.createOrReplaceTempView("tncov_docs")
    val viaSql = spark.sql(
      "SELECT top_ngram_coverage(text, 2) FROM tncov_docs WHERE id = 2")
      .head().getDouble(0)
    assert(viaSql == 9.0 / 11)
  }

  test("groupCentroids averages element-wise, ignores NULLs, ragged-safe") {
    val df = Seq(
      (1L, "a", Some(Array(1.0f, 2.0f))),
      (2L, "a", Some(Array(3.0f, 6.0f))),
      (3L, "a", Option.empty[Array[Float]]),   // ignored
      (4L, "b", Some(Array(10.0f))))           // shorter vector
      .toDF("id", "src", "embedding")
    val out = Similarity.groupCentroids(df, Seq("src"), "embedding")
      .collect().map(r => r.getString(0) ->
        (r.getSeq[Double](1), r.getLong(2))).toMap
    assert(out("a") == (Seq(2.0, 4.0), 2L))    // NULL row not in n_vectors
    assert(out("b") == (Seq(10.0), 1L))
  }

  test("Gopher rules: each gate fires on its own pathology") {
    val good = ("good words " * 25) +
      "the cat and that dog have fun with all of them to be here"
    val docs = Seq(
      (1L, Some(good)),                               // passes everything
      (2L, Some("too short to have the words")),      // < minWords
      (3L, Some(good + " ###### ## # # # # # # # #")),// symbol ratio
      (4L, Some(good + "\n- a\n- b\n- c\n- d")),      // 4/5 bullet lines fail? no: 0.8 ≤ 0.9 passes
      (5L, Some(("zzzz " * 60) + "the of and that")), // repetition tok ok, but alpha ok; stop ok; mean len ok
      (6L, Some(Seq.fill(10)("same line").mkString("\n") + "\n" + good)), // dup lines
      (7L, Option.empty[String]))
      .toDF("doc_id", "text")
    val out = Text.withGopherFlags(docs, "text")
      .select("doc_id", "flag_word_count", "flag_symbol_ratio",
        "flag_bullet_lines", "flag_dup_lines", "gopher_pass")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(5))
    assert(!out(2L).getBoolean(1))                    // word count gate
    assert(!out(3L).getBoolean(2))                    // symbol gate
    assert(out(4L).getBoolean(3))                     // 0.8 bullet frac ≤ 0.9
    assert(!out(6L).getBoolean(4) && !out(6L).getBoolean(5)) // dup lines
    assert(out(7L).isNullAt(5))                       // NULL text → NULL pass
    // filter keeps only full passes and drops the flag columns
    val kept = Text.gopherFilter(docs, "text").select("doc_id")
      .as[Long].collect().toSet
    assert(kept.contains(1L) && !kept.contains(7L) && !kept.contains(2L))
  }

  test("boilerplate lines: detected across docs, removed in order") {
    val docs = Seq(
      (1L, Some("cookie banner\nreal prose one\nfooter text")),
      (2L, Some("cookie banner\nreal prose two\nfooter text")),
      (3L, Some("cookie banner\nunique thought\nfooter text")),
      (4L, Some("cookie banner")),        // all-boilerplate doc
      (5L, Option.empty[String]),         // NULL text passes through
      (6L, Some("fully original text"))).toDF("doc_id", "text")
    val bl = Dedup.boilerplateLines(docs, "doc_id", "text", minDocs = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bl == Map("cookie banner" -> 4L, "footer text" -> 3L))
    val out = Dedup.removeBoilerplateLines(docs, "doc_id", "text", minDocs = 3)
      .select("doc_id", "clean_text", "n_lines_removed")
      .collect().map(r => r.getLong(0) ->
        (Option(r.getString(1)), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toMap
    assert(out(1L) == (Some("real prose one"), 2L))
    assert(out(3L) == (Some("unique thought"), 2L))
    assert(out(4L) == (Some(""), 1L))     // emptied, not dropped
    assert(out(5L) == (None, -1L))        // NULL → NULL
    assert(out(6L) == (Some("fully original text"), 0L))
  }

  test("PQ kernels: encode/table/score against hand-built codebooks") {
    import graft.expressions.ProductQuantizer._
    // 4-dim vectors, m=2 subspaces × 2 dims, ksub=2 codes per subspace
    val codebooks: Array[Array[Array[Double]]] = Array(
      Array(Array(1.0, 0.0), Array(0.0, 1.0)),   // subspace 0
      Array(Array(0.5, 0.5), Array(-1.0, 0.0)))  // subspace 1
    val df = Seq((0L, Array(0.9, 0.1, -0.75, 0.25)))
      .toDF("id", "v")
    val row = df.select(
      pq_encode(col("v"), codebooks).as("code"),
      pq_adc_table(col("v"), codebooks).as("table"),
      pq_adc_score(pq_encode(col("v"), codebooks),
        pq_adc_table(col("v"), codebooks)).as("score")).head()
    // subvector (0.9, 0.1) → centroid 0; (-0.75, 0.25) → centroid 1
    assert(row.getAs[Array[Byte]]("code").toSeq == Seq[Byte](0, 1))
    // table = [dot(q0,cb00), dot(q0,cb01), dot(q1,cb10), dot(q1,cb11)]
    // (cb/vec values chosen exactly representable in binary FP)
    assert(row.getSeq[Double](1) == Seq(0.9, 0.1, -0.25, 0.75))
    // score = table[0*2+0] + table[1*2+1] = dot against the
    // RECONSTRUCTED (quantized) vector (1, 0, -1, 0)
    assert(row.getAs[Double]("score") == 0.9 + 0.75)
    // dimension mismatch → null, not garbage
    val bad = Seq((0L, Array(1.0, 2.0, 3.0))).toDF("id", "v")
      .select(pq_encode(col("v"), codebooks).as("c")).head()
    assert(bad.isNullAt(0))
  }

  test("ANN recall floor on real embeddings: IVF-PQ with exact re-rank") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5))
    // PQ distorts ranks (m=16/ksub=16 over 64 dims is a 32× payload
    // squeeze); the rerank=128 exact pass has to win recall back.
    val pq = pairs(Similarity.ivfPqTopK(e, q, "vec_id", "embedding", 5))
    assert((brute & pq).size.toDouble / brute.size >= 0.9,
      s"IVF-PQ recall too low: ${(brute & pq).size / brute.size.toDouble}")
  }

  test("Similarity: zero vector yields cosine 0, no NaN") {
    val vecs = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val c = Similarity.withNormalized(vecs, "embedding", "v")
      .select(Similarity.dot(col("v"), col("v")).as("d"))
      .orderBy("vec_id").collect().map(_.getDouble(0))
    assert(c(0) == 0.0 && math.abs(c(1) - 1.0) < 1e-12)
  }

  test("Multimodal: stub decode is deterministic and partition-wise") {
    val withPayload = docs.select(col("doc_id"), col("text").cast("binary").as("payload"))
    val meta = Multimodal.withDecodedMeta(withPayload, "payload")
      .select("doc_id", "media_meta.n_bytes", "media_meta.format",
        "media_meta.width", "media_meta.checksum")
      .orderBy("doc_id").collect()
    assert(meta.length == 5)
    assert(meta(0).getLong(1) == 43) // text byte length
    assert(meta(0) == Multimodal.withDecodedMeta(withPayload, "payload")
      .select("doc_id", "media_meta.n_bytes", "media_meta.format",
        "media_meta.width", "media_meta.checksum").orderBy("doc_id").collect()(0))
    val frames = Multimodal.sampleFrames(withPayload, "doc_id", "payload", 4)
    assert(frames.count() == 20)
    assert(frames.filter(col("doc_id") === 0 && col("frame_idx") === 3)
      .select("offset").as[Long].head() == 43L * 3 / 4)
  }

  test("Multimodal: resize stub strides bytes and composes with decode meta") {
    val bytes = Array.tabulate(10)(i => i.toByte)
    assert(Multimodal.resizeStub(bytes, 4).toSeq == Seq[Byte](0, 4, 8))
    assert(Multimodal.resizeStub(bytes, 1).toSeq == bytes.toSeq)
    assert(Multimodal.resizeStub(Array.empty[Byte], 4).isEmpty)
    val withPayload = docs.select(col("doc_id"), col("text").cast("binary").as("payload"))
    val resized = Multimodal.withResized(withPayload, "payload", factor = 4)
    val meta = Multimodal.withDecodedMeta(resized, "resized", out = "meta")
      .select("doc_id", "meta.n_bytes").orderBy("doc_id").collect()
    assert(meta(0).getLong(1) == (43 + 3) / 4) // ceil(43/4) strided bytes
  }

  test("AsOfJoin: most recent right row at-or-before left time; inner drops unmatched") {
    val quotes = Seq(
      (1L, 100L, 10.0), (1L, 200L, 11.0), (2L, 150L, 20.0)
    ).toDF("sym", "qt", "price")
    val trades = Seq(
      (1L, 150L, "t1"),  // matches quote@100
      (1L, 200L, "t2"),  // matches quote@200 (inclusive)
      (1L, 50L, "t0"),   // no quote yet -> dropped (inner)
      (2L, 500L, "t3")   // matches quote@150
    ).toDF("sym", "tt", "tid")
    val out = AsOfJoin.asOf(trades, quotes, Seq("sym"),
      leftTime = "tt", rightTime = "qt")
      .select("tid", "price").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out == Map("t1" -> 10.0, "t2" -> 11.0, "t3" -> 20.0))

    val left = AsOfJoin.asOf(trades, quotes, Seq("sym"),
      leftTime = "tt", rightTime = "qt", joinType = "left")
    assert(left.count() == 4)
    assert(left.filter(col("tid") === "t0").select("price").head().isNullAt(0))
  }

  test("RangeJoin.within equals the naive inequality join (bucket edges included)") {
    val l = Seq((1L, 0L, "a"), (1L, 100L, "b"), (2L, 50L, "c")).toDF("k", "lt", "lid")
    val r = Seq((1L, 9L, "x"), (1L, 111L, "y"), (1L, 500L, "z"), (2L, 49L, "w"))
      .toDF("k", "rt", "rid")
    val got = RangeJoin.within(l, r, Seq("k"), "lt", "rt", tolerance = 10L)
      .select("lid", "rid").collect().map(x => (x.getString(0), x.getString(1))).toSet
    val naive = l.join(r, Seq("k"))
      .filter(abs(col("lt") - col("rt")) <= 10)
      .select("lid", "rid").collect().map(x => (x.getString(0), x.getString(1))).toSet
    assert(got == naive)
    // (b@100, y@111) differs by 11 > tolerance 10 — correctly excluded
    assert(got == Set(("a", "x"), ("c", "w")))
  }

  test("Skew.saltedJoin equals the plain join on a skewed key") {
    // 90% of left rows share one hot key
    val left = (1L to 200L).map(i =>
      (i, if (i <= 180) 1L else i % 7)).toDF("row_id", "k")
    val right = Seq((1L, "hot"), (2L, "a"), (3L, "b"), (5L, "c")).toDF("k", "v")
    val plain = left.join(right, Seq("k")).select("row_id", "k", "v")
      .collect().map(_.toSeq).toSet
    val salted = Skew.saltedJoin(left, right, Seq("k"), "row_id", salts = 8)
      .select("row_id", "k", "v").collect().map(_.toSeq).toSet
    assert(salted == plain)
    assert(salted.nonEmpty)
  }

  test("partitioned parquet write enables partition pruning") {
    val tmp = java.nio.file.Files.createTempDirectory("part")
    val out = tmp.resolve("by_flag").toString
    val plug = new graft.plugins.output.ParquetWriterPlugin(
      Map("output_path" -> out, "partition_by" -> Seq("g")),
      tmp, "default")
    val df = Seq((1L, "x"), (2L, "y"), (3L, "x")).toDF("id", "g")
    assert(plug.execute(df).isRight)
    // hive-style partition dirs exist
    assert(java.nio.file.Files.exists(tmp.resolve("by_flag/g=x")))
    val pruned = spark.read.parquet(out).filter(col("g") === "x")
    assert(pruned.count() == 2)
    // pruned scan reads only the matching partition directory
    val scanned = pruned.queryExecution.executedPlan.collectLeaves()
      .head.toString
    assert(!scanned.contains("g=y") || scanned.contains("g=x"))
  }

  test("semDeDup: nClusters=1 equals global min-id dedup; kmeans is sound with high recall") {
    // 40 random base vectors + near-identical copies of the first 10
    // (tiny jitter, cosine ≈ 1): every copy must be dropped, nothing
    // else may be.
    val rnd = new scala.util.Random(7)
    def vec(): Array[Double] = Array.fill(16)(rnd.nextGaussian())
    val base = (0L until 40L).map(i => (i, vec()))
    val copies = base.take(10).map { case (i, v) =>
      (100L + i, v.map(_ + rnd.nextGaussian() * 1e-3))
    }
    val all = base ++ copies
    val df = all.map { case (i, v) => (i, v.toSeq) }.toDF("id", "emb")

    // brute-force global droppable set (min-id survivor rule)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      a.zip(b).map { case (x, y) => x * y }.sum / (na * nb)
    }
    val droppable = (for {
      (i, vi) <- all; (j, vj) <- all
      if i < j && cos(vi, vj) >= 0.95
    } yield j).toSet
    assert(droppable == copies.map(_._1).toSet) // fixture sanity

    // one cluster (either mode) = exact global semantics
    for (mode <- Seq("hash", "kmeans")) {
      val survivors = Dedup.semDeDup(df, "id", "emb", threshold = 0.95,
        nClusters = 1, assign = mode)
        .select("id").as[Long].collect().toSet
      assert(survivors == all.map(_._1).toSet -- droppable, s"mode=$mode")
    }

    // kmeans with real clusters: near-identical vectors always share a
    // nearest centroid, so recall on cosine≈1 dups is total; soundness
    // (no false drop) must be exact
    val survivors4 = Dedup.semDeDup(df, "id", "emb", threshold = 0.95,
      nClusters = 4, assign = "kmeans")
      .select("id").as[Long].collect().toSet
    val dropped4 = all.map(_._1).toSet -- survivors4
    assert(dropped4.subsetOf(droppable))          // sound
    assert(dropped4 == droppable)                 // full recall here

    // multi-enrollment only ever ADDS candidate pairs: still sound,
    // recall can't shrink
    val survivors42 = Dedup.semDeDup(df, "id", "emb", threshold = 0.95,
      nClusters = 4, assign = "kmeans", nAssign = 2)
      .select("id").as[Long].collect().toSet
    assert(all.map(_._1).toSet -- survivors42 == droppable)

    intercept[IllegalArgumentException](
      Dedup.semDeDup(df, "id", "emb", assign = "nope"))
    intercept[IllegalArgumentException](
      Dedup.semDeDup(df, "id", "emb", nClusters = 4, nAssign = 5))
    intercept[IllegalArgumentException](
      Dedup.semDeDup(df, "id", "emb", assign = "hash", nAssign = 2))
  }

  test("cluster_by write ignores conflicting repartition/sort layout options") {
    // stacking repartition_by on a cluster_by write would destroy the
    // Z-order layout; the writer must warn-and-ignore, and the
    // clustered write must still succeed with correct data
    val tmp = java.nio.file.Files.createTempDirectory("zconf")
    val out = tmp.resolve("clustered").toString
    val plug = new graft.plugins.output.ParquetWriterPlugin(
      Map("output_path" -> out,
        "cluster_by" -> Seq("x", "y"), "cluster_bits" -> 4,
        "repartition_by" -> Seq("y"),
        "sort_within_partitions" -> Seq("y")),
      tmp, "default")
    val df = (0L until 256L).map(i => (i, i * 7 % 16, i % 16)).toDF("id", "x", "y")
    assert(plug.execute(df).isRight)
    assert(spark.read.parquet(out).count() == 256L)
  }

  test("HyperplaneSignature64 expression matches the HOF reference bit-for-bit") {
    // real embeddings (including negatives and varied magnitudes) plus
    // degenerate shapes: zero vector, single dim
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(200)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    for (planes <- Seq(1, 6, 16, 63)) {
      val mismatches = emb.select(
          Similarity.hyperplaneSignature(col("v"), planes).as("fast"),
          Similarity.hyperplaneSignatureHof(col("v"), planes).as("ref"))
        .filter(col("fast") =!= col("ref")).count()
      assert(mismatches == 0L, s"planes=$planes")
    }
    val edge = Seq(Array(0.0, 0.0, 0.0), Array(-1.5)).toDF("v")
    val rows = edge.select(
      Similarity.hyperplaneSignature(col("v"), 8).as("fast"),
      Similarity.hyperplaneSignatureHof(col("v"), 8).as("ref")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // degenerate inputs: NULL vector, empty array, null element — the
    // HOF's null-poisoned projection takes the otherwise(0) branch on
    // every plane, so all three must yield 0L (and never NULL)
    val degen = Seq(
      (1L, Some(Seq(Option(1.0), None, Option(2.0)))),
      (2L, Some(Seq.empty[Option[Double]])),
      (3L, Option.empty[Seq[Option[Double]]])
    ).toDF("id", "v")
    val dRows = degen.select(
      Similarity.hyperplaneSignature(col("v"), 8).as("fast"),
      Similarity.hyperplaneSignatureHof(col("v"), 8).as("ref")).collect()
    dRows.foreach { r =>
      assert(!r.isNullAt(0) && r.getLong(0) == 0L)
      assert(!r.isNullAt(1) && r.getLong(1) == 0L)
      assert(r.getLong(0) == r.getLong(1))
    }
  }

  test("VectorKernels dot/normalize match the HOF references bit-for-bit") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(200)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // dot(v, reverse(v)) exercises distinct operands; compare exact bits
    val dotMis = emb.select(
        Similarity.dot(col("v"), reverse(col("v"))).as("fast"),
        Similarity.dotHof(col("v"), reverse(col("v"))).as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(dotMis == 0L)
    val normMis = emb.select(
        Similarity.normalized(col("v")).as("fast"),
        Similarity.normalizedHof(col("v")).as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(normMis == 0L)
    // edge cases: zero vector passes through; length mismatch → null dot
    val edge = Seq((Array(0.0, 0.0), Array(1.0, 2.0, 3.0))).toDF("z", "w")
    val r = edge.select(
      Similarity.normalized(col("z")).as("nz"),
      Similarity.dot(col("z"), col("w")).as("d")).head()
    assert(r.getSeq[Double](0) == Seq(0.0, 0.0))
    assert(r.isNullAt(1))
  }

  test("SparkEntry.expandR macro expansion") {
    assert(graft.SparkEntry.expandR("SELECT r(sum(x), 2) AS s FROM t") ==
      "SELECT (floor((sum(x)) * 100 + 0.5 + 0.000001) / 100) AS s FROM t")
    assert(graft.SparkEntry.expandR("floor(x) + year(d)") == "floor(x) + year(d)")
    assert(graft.SparkEntry.expandR("r(r(x, 4) * 2, 2)") ==
      "(floor(((floor((x) * 10000 + 0.5 + 0.000001) / 10000) * 2) * 100 + 0.5 + 0.000001) / 100)")
  }
}

package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Build an N× scaled copy of the heavy-tier inputs so the scaling
  * EXPONENT of the expensive queries can be measured instead of
  * argued (BASELINE.md records the observed exponents).
  *
  * Scaling model: N structurally DISJOINT copies, keys offset per
  * copy — copy k's order/part/supp/cust/doc ids live in their own
  * range, so graph density and near-dup pair density per copy match
  * the source fixture and the honest expectation for every operator
  * is ~linear wall-clock growth (the O(m^1.5) triangle bound is a
  * worst-case over ADVERSARIAL density growth, which duplicating a
  * fixture does not produce — and must not, or the fixture would be
  * measuring its own construction).
  *
  * Documents additionally get a per-copy content perturbation (copy
  * k > 0 passes through a copy-unique seeded alphabet bijection —
  * see the inline comment at the documents block): verbatim copies
  * would make every doc a 10-way near-dup family and the pair count
  * would grow quadratically BY FIXTURE CONSTRUCTION, swamping the
  * algorithmic signal. The cipher preserves every within-copy set
  * relation exactly while collapsing cross-copy shingle overlap to
  * coincidence.
  *
  * Usage: runMain graft.tools.ScaleFixture <srcSfDir> <outDir>
  * <factor> [table ...] (factor 1 = byte-comparable passthrough
  * baseline, so both ends of the exponent measurement come from the
  * same writer settings; naming tables regenerates only those —
  * e.g. adding a new table to an already-built fixture dir).
  */
object ScaleFixture {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: ScaleFixture <srcSfDir> <outDir> <factor> [table ...]")
    val Array(src, out, factorS) = args.take(3)
    val only = args.drop(3).toSet
    val factor = factorS.toInt
    val spark = graft.core.Session.getOrCreate("graft-scale-fixture")
    build(spark, src, out, factor, only)
    spark.stop()
  }

  /** The fixture builder proper, callable from [[graft.Bench]]'s ×10
    * lane (which builds the fixture on demand when the scratch dir
    * does not survive between rounds). Empty `only` = all tables. */
  def build(spark: SparkSession, src: String, out: String, factor: Int,
            only: Set[String]): Unit = {
    def wants(name: String): Boolean = only.isEmpty || only(name)
    require(factor >= 1, s"factor must be >= 1, got $factor")

    def rd(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")
    def wr(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    // key offsets: one fixed stride per id domain, larger than any
    // source id, so copies are disjoint
    def stride(df: DataFrame, idCol: String): Long =
      df.agg(max(col(idCol))).head().getLong(0) + 1

    def copies(df: DataFrame, shift: DataFrame => Int => DataFrame): DataFrame =
      (0 until factor).map(k => shift(df)(k)).reduce(_.unionAll(_))

    if (wants("lineitem") || wants("orders")) {
      val li = rd("lineitem")
      val ord = rd("orders")
      // ONE shared orderkey stride from BOTH tables: the fixture does
      // not guarantee orders ⊆ lineitem (sf0.1 has 2764 lineitem-less
      // orders), so a lineitem-only stride would only be
      // collision-free while the two maxes coincide
      val ok = math.max(stride(li, "l_orderkey"), stride(ord, "o_orderkey"))
      val pk = stride(li, "l_partkey")
      val sk = stride(li, "l_suppkey")
      if (wants("lineitem"))
        wr(copies(li, df => k => df
          .withColumn("l_orderkey", col("l_orderkey") + lit(k * ok))
          .withColumn("l_partkey", col("l_partkey") + lit(k * pk))
          .withColumn("l_suppkey", col("l_suppkey") + lit(k * sk))),
          "lineitem")

      val ck = stride(ord, "o_custkey")
      if (wants("orders"))
        wr(copies(ord, df => k => df
          .withColumn("o_orderkey", col("o_orderkey") + lit(k * ok))
          .withColumn("o_custkey", col("o_custkey") + lit(k * ck))),
          "orders")
    }

    // events: id domains offset per copy (event identity AND user —
    // CDC/upsert state is keyed by user, so an N× fixture must grow
    // the state table N×, not replay N events per user); timestamps
    // stay put — N copies over the same window is a denser stream,
    // which is how event volume actually grows.
    if (wants("events")) {
      val ev = rd("events")
      val ek = stride(ev, "event_id")
      val uk = stride(ev, "user_id")
      wr(copies(ev, df => k => df
        .withColumn("event_id", col("event_id") + lit(k * ek))
        .withColumn("user_id", col("user_id") + lit(k * uk))),
        "events")
    }

    if (wants("documents")) {
    val docs = rd("documents")
    val dk = stride(docs, "doc_id")
    wr(copies(docs, df => k => {
      val shifted = df.withColumn("doc_id", col("doc_id") + lit(k * dk))
      if (k == 0) shifted
      else {
        // copy-UNIQUE alphabet bijection (seeded letter permutation):
        // within a copy EVERY set relation — shingle Jaccard, token
        // counts, doc lengths, winnow fingerprint structure — is
        // preserved exactly (an injective char map transports shingle
        // sets bijectively), while cross-copy shingle overlap
        // collapses to coincidence (~26^-5 per window) at ANY factor.
        // Weaker perturbations measured as fixture artifacts: the
        // original 6-class word-drop left copies k ≡ k' (mod 6)
        // VERBATIM equal (at 100× every doc had ~16 twins and the
        // ngram-verify candidate mass OOM'd an 8 GiB run); a per-token
        // copy-index suffix still shared every ≥5-char word's interior
        // shingles across all copies. Both made cross-copy candidate
        // mass grow ∝ factor² BY CONSTRUCTION — exactly the artifact
        // the class doc forbids.
        // Translate BOTH cases: normalize() lowercases downstream, so
        // an a-z-only map would leave uppercase letters fixed and
        // partially re-link copies on mixed-case text (the lowercased
        // survivors would share shingles across copies).
        val alpha = "abcdefghijklmnopqrstuvwxyz"
        val perm = new scala.util.Random(k * 0x9E3779B97F4A7C15L)
          .shuffle(alpha.toList).mkString
        shifted.withColumn("text", translate(col("text"),
          alpha + alpha.toUpperCase, perm + perm.toUpperCase))
      }
    }), "documents")
    }

    if (wants("embeddings")) {
    val emb = rd("embeddings")
    val vk = stride(emb, "vec_id")
    val dims = emb.select(size(col("embedding"))).head().getInt(0)
    wr(copies(emb, df => k => {
      val shifted = df.withColumn("vec_id", col("vec_id") + lit(k * vk))
      // rotate dimensions by rot ∈ [1, dims-1]: same norm/
      // distribution, different cluster geometry per copy. The
      // modulus keeps rot valid (and never 0 ≡ identity — an exact
      // cross-copy duplicate would inflate near-dup pair counts
      // quadratically by construction) for ANY factor; factors above
      // dims reuse rotations, which only weakens copy independence,
      // not validity.
      val rot = if (dims >= 2) (k - 1) % (dims - 1) + 1 else 0
      if (k == 0 || rot == 0) shifted
      else shifted.withColumn("embedding",
        concat(slice(col("embedding"), rot + 1, dims - rot),
          slice(col("embedding"), 1, rot)))
    }), "embeddings")
    }

    println(s"[scale-fixture] wrote $out at ${factor}x from $src")
  }
}

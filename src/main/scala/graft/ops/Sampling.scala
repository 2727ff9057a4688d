package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable sampling for training-data
  * pipelines. `df.sample()` is seed-dependent on partitioning and not
  * reproducible across engines; these operators hash a KEY, so the
  * same row set falls out of any engine that can compute md5 — which
  * makes them exactly verifiable against the DuckDB oracle, and
  * stable across reruns/backfills at 100 TB (a re-ingested row keeps
  * its sampling fate).
  *
  * Hash: first 8 hex chars of md5(key) as an int in [0, 2^32) —
  * md5 (not xxhash64) for the same cross-engine rationale as
  * [[Text.fingerprint]]. Per-row expression, no shuffle.
  */
object Sampling {

  /** Uniform [0, 2^32) hash of a key column, identical in DuckDB via
    * ('0x' || substr(md5(key), 1, 8))::BIGINT. */
  def keyHash(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast("long")

  /** Keep rows whose key hashes into the sampling band:
    * hash / 2^32 < rate. Exact, deterministic, engine-portable. */
  def sampleByHash(df: DataFrame, keyCol: String, rate: Double): DataFrame =
    df.filter(keyHash(col(keyCol)) < lit((rate * 4294967296.0).toLong))

  /** Deterministic train/val/test assignment: partition the [0, 2^32)
    * key-hash space into consecutive bands proportional to the split
    * fractions and name each row's band — the standard holdout split,
    * made reproducible across engines, reruns and backfills (a
    * re-ingested row keeps its split, so no eval-set leakage when the
    * corpus is rebuilt). Fractions must sum to ~1; the last split
    * absorbs the rounding remainder. Per-row expression, no shuffle.
    */
  def assignSplit(df: DataFrame, keyCol: String,
                  splits: Seq[(String, Double)],
                  outCol: String = "split"): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0),
      "split fractions must be positive")
    val total = splits.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-9,
      s"split fractions must sum to 1, got $total")
    val bounds = splits.init
      .scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
      .map(f => (f * 4294967296.0).toLong)
    val h = keyHash(col(keyCol))
    val assigned = splits.init.zip(bounds).reverse
      .foldLeft(lit(splits.last._1): Column) { case (acc, ((name, _), hi)) =>
        when(h < hi, name).otherwise(acc)
      }
    df.withColumn(outCol, assigned)
  }

  /** Leakage-safe split: [[assignSplit]] keyed on the connected
    * COMPONENT of the near-dup `pairs` graph — every member of a
    * duplicate family lands in the SAME split, closing the classic
    * train/test leakage vector where a near-copy of a heldout doc
    * sits in train. `pairs` is any (id_a, id_b) near-dup edge list
    * ([[Dedup.minhashCandidatePairs]], fingerprint equality,
    * embedding pairs…); rows in no pair are singleton components and
    * split independently. One O(log n) component contraction + one
    * keyed join; the assignment itself stays a per-row hash
    * expression on the component id, so re-ingested rows keep their
    * split on a backfill exactly as with [[assignSplit]]. */
  def leakageSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
                       splits: Seq[(String, Double)],
                       outCol: String = "split"): DataFrame = {
    val cid = "__graft_split_cid"
    val clusters = Dedup.clusterPairs(df.select(col(idCol)), idCol, pairs)
      .withColumnRenamed("cluster_id", cid)
    // LEFT join + coalesce: a NULL-id row can't equi-match its own
    // cluster row, and an inner join would silently drop it — it
    // falls back to its own (NULL) id and gets plain-assignSplit
    // fate, every input row preserved. idCol is assumed unique, as
    // in every keyed op here.
    val joined = df.join(clusters, Seq(idCol), "left")
      .withColumn(cid, coalesce(col(cid), col(idCol)))
    assignSplit(joined, cid, splits, outCol).drop(cid)
  }

  /** Fingerprint specialization of [[leakageSafeSplit]]: exact-dup
    * equality is already transitive, so the component id is just the
    * family's min id — one agg + one join, no iterative contraction.
    * NULL text fingerprints as the empty string, so contentless docs
    * form one family in both engines. */
  def leakageSafeSplitByFingerprint(df: DataFrame, idCol: String,
                                    textCol: String,
                                    splits: Seq[(String, Double)],
                                    outCol: String = "split"): DataFrame = {
    val fpc = "__graft_split_fp"
    val cid = "__graft_split_cid"
    val fp = df.withColumn(fpc,
      Text.fingerprint(coalesce(col(textCol), lit(""))))
    val minPer = fp.groupBy(fpc).agg(min(col(idCol)).as(cid))
    assignSplit(fp.join(minPer, Seq(fpc)), cid, splits, outCol)
      .drop(fpc, cid)
  }

  /** Cap every group at `cap` rows, choosing a deterministic uniform
    * subset: rank rows within the group by key hash and keep rank ≤
    * cap. The per-group sort is the same shuffle any groupBy pays;
    * with AQE skewed groups split fine. The standard move for
    * balancing a source-skewed corpus (one domain flooding the mix).
    */
  def stratifiedCap(df: DataFrame, groupCols: Seq[String], keyCol: String,
                    cap: Int): DataFrame = {
    // cap <= 0 would silently drop the whole corpus (filter rk <= 0)
    // while the pipeline "succeeds" — a config typo must be loud
    require(cap >= 1, s"cap must be >= 1, got $cap")
    // collision-proof temp name — a user column named `_rk` must pass
    // through untouched (same contract as shuffleShard's hash column)
    val rk = "__graft_cap_rk"
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(keyHash(col(keyCol)), col(keyCol))
    df.withColumn(rk, row_number().over(w))
      .filter(col(rk) <= cap)
      .drop(rk)
  }

  /** Domain mixing: downsample per-`groupCol` so the output matches
    * the target `weights` mixture as closely as downsampling allows
    * (the Pile/Dolma-style source re-weighting every pretraining
    * corpus build performs). The binding source — the one whose
    * count/weight ratio is smallest — is kept whole; every other
    * source is hash-sampled down to `scale × weight` rows. Sources
    * absent from `weights` are dropped.
    *
    * Deterministic and engine-portable: per-source rates derive from
    * exact counts, and row fate is the same md5 key-hash band as
    * [[sampleByHash]] — so the exact output row set is reproducible
    * in the DuckDB oracle and stable across reruns/backfills.
    *
    * Scale shape: one count aggregation (distinct sources are few by
    * definition — the collect is O(#sources), not O(rows)), then a
    * single per-row filter with a broadcast-sized CASE on the source
    * column. No extra shuffle beyond the count.
    *
    * The count is an EAGER action over the input, and the returned
    * filter reads the input again: both go through one
    * [[Lineage.once]] frame, so the upstream chain runs once for the
    * counts and the downstream sink together.
    *
    * Input with no rows comes back as is (there is no mixture to
    * match); input with rows but no weighted source fails.
    */
  def mixToWeights(df: DataFrame, groupCol: String, keyCol: String,
                   weights: Map[String, Double]): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "weights must be positive")
    val src = Lineage.once(df)
    weightedTotals(src, groupCol, weights, count(lit(1)))
      .fold(src)(mixFilter(src, groupCol, keyCol, weights, _))
  }

  /** Per-source totals of `measure` over the weighted sources, in one
    * job: unweighted rows count as one extra null-keyed group, so an
    * input without rows (None: no group at all) is told apart from
    * one without weighted rows (an empty map). */
  private def weightedTotals(src: DataFrame, groupCol: String,
                             weights: Map[String, Double],
                             measure: Column): Option[Map[String, Long]] = {
    val weighted = col(groupCol).isin(weights.keys.toSeq: _*)
    val groups = src.groupBy(when(weighted, col(groupCol)).as(groupCol))
      .agg(measure).collect()
    if (groups.isEmpty) None
    else Some(groups.filterNot(_.isNullAt(0))
      .map(r => r.getString(0) -> r.getLong(1)).toMap)
  }

  /** Domain mixing by a per-row BUDGET column instead of row count:
    * downsample per-`groupCol` so each source's share of the total
    * `budgetCol` mass (token count, char count, byte size) matches
    * `weights` — the form pretraining mixes are actually specified
    * in ("15% of TOKENS from code", not 15% of documents; sources
    * with long documents would otherwise be over-represented).
    *
    * Row fate stays per-row hash-banded, so each source's realized
    * budget share equals the target in expectation, with the same
    * determinism/engine-portability contract as [[mixToWeights]] —
    * per-source rates derive from EXACT budget sums and the md5 band
    * decides rows identically in any engine. The binding source
    * (smallest mass/weight ratio) is kept whole.
    *
    * Scale shape: identical to [[mixToWeights]] — one sum
    * aggregation collected O(#sources), one broadcast-sized CASE
    * filter, no extra shuffle. Input with no rows comes back as is. */
  def mixToBudgetWeights(df: DataFrame, groupCol: String, keyCol: String,
                         budgetCol: String,
                         weights: Map[String, Double]): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "weights must be positive")
    val src = Lineage.once(df)
    weightedTotals(src, groupCol, weights, sum(col(budgetCol).cast("long")))
      .fold(src)(mixFilter(src, groupCol, keyCol, weights, _))
  }

  /** Shared mixing tail: derive per-source keep bands from exact
    * per-source totals (rows or budget mass) and apply the md5 band
    * filter. */
  private def mixFilter(src: DataFrame, groupCol: String, keyCol: String,
                        weights: Map[String, Double],
                        totals: Map[String, Long]): DataFrame = {
    val present = weights.filter { case (s, _) => totals.getOrElse(s, 0L) > 0L }
    require(present.nonEmpty, "no weighted source present in the data")
    val ratios = present.map { case (s, w) => s -> totals(s).toDouble / w }
    val scale = ratios.values.min
    val bands = present.map { case (s, w) =>
      // the binding (argmin) source is kept whole BY CONSTRUCTION:
      // recomputing its rate as scale*w/c in floating point can round
      // to 0.999... and silently drop the rows whose hash lands on
      // the last band value
      val rate = if (ratios(s) == scale) 1.0
                 else math.min(1.0, scale * w / totals(s).toDouble)
      s -> math.floor(rate * 4294967296.0).toLong
    }
    // sources not in `bands` fall through to band -1 (hash is never < -1)
    val bandCol = bands.foldLeft(lit(-1L)) { case (acc, (s, b)) =>
      when(col(groupCol) === lit(s), lit(b)).otherwise(acc)
    }
    src.filter(keyHash(col(keyCol)) < bandCol)
  }

  /** Temperature-flattened source mixing — the multilingual /
    * multi-source rebalancing move of real pretraining mixes
    * (sample source s with probability ∝ p_s^(1/T)): target weights
    * derive from each source's OWN mass, `w_s = mass_s^(1/T)`, then
    * the usual banded downsample brings every source to that share.
    * T = 1 keeps the natural distribution (every rate 1, no rows
    * dropped); larger T flattens toward uniform, upweighting tail
    * sources RELATIVELY by downsampling heads. `budgetCol` switches
    * mass from row counts to that column's sum (tokens/chars) — the
    * units mixes are actually specified in.
    *
    * Engine determinism: at T = 2 the weight is `sqrt(mass)` — IEEE
    * sqrt is correctly rounded everywhere, so every band boundary is
    * bit-identical across engines (the oracled configuration). Other
    * T use `pow`, which may differ in the last ulp across libm
    * implementations — band edges can move by 1 part in 2^32.
    *
    * Scale shape: one aggregation collected O(#sources), one
    * broadcast-sized CASE filter — same as [[mixToWeights]]. Input
    * with no rows comes back as is. */
  def mixByTemperature(df: DataFrame, groupCol: String, keyCol: String,
                       temperature: Double,
                       budgetCol: Option[String] = None,
                       maxGroups: Int = 10000): DataFrame = {
    require(temperature >= 1.0,
      s"temperature must be >= 1.0, got $temperature")
    val src = Lineage.once(df)
    // unlike the weights-table variants (whose isin filter bounds the
    // group set by config), temperature derives weights from the
    // data's own groups — a mis-picked high-cardinality group column
    // (an id!) would collect millions of rows AND build a when-chain
    // per group. Bound the collect and fail with the actual mistake.
    val grouped = (budgetCol match {
      case Some(b) => src.groupBy(groupCol)
        .agg(sum(col(b).cast("long")).as("_m"))
      case None => src.groupBy(groupCol).count()
    }).limit(math.min(maxGroups.toLong + 1, Int.MaxValue.toLong).toInt)
      .collect()
    require(grouped.length <= maxGroups,
      s"mixByTemperature found > $maxGroups distinct '$groupCol' values; " +
        "domain mixing expects a domain-sized group column (source, " +
        "lang), not an id")
    val totals: Map[String, Long] =
      grouped.map(row => row.getString(0) -> row.getLong(1)).toMap
    val present = totals.filter(_._2 > 0)
    require(grouped.isEmpty || present.nonEmpty,
      "no non-empty source present in the data")
    val weights = present.map { case (s, n) =>
      s -> (if (temperature == 2.0) math.sqrt(n.toDouble)
            else math.pow(n.toDouble, 1.0 / temperature))
    }
    if (grouped.isEmpty) src
    else mixFilter(src, groupCol, keyCol, weights, present)
  }

  /** Weighted sampling without replacement, Efraimidis–Spirakis
    * (IPL 2006): each row draws `u ∈ (0,1]` and scores
    * `srk = u^(1/w)`; the global top-`k` by `srk` is a weighted
    * sample — heavier rows hold proportionally higher odds, yet every
    * row keeps a chance.
    *
    * Determinism: `u` comes from the same md5 key-hash as
    * [[sampleByHash]] (`(hash+1)/2^32`, so `u` is never 0 and
    * `pow` never sees a 0 base), not an RNG — the selected set is
    * reproducible across engines, reruns and backfills. The hash
    * ordering means this composes with [[stratifiedCap]] and
    * [[assignSplit]] without correlation (different hash inputs).
    *
    * Scale shape: one per-row projection, then global top-k — which
    * Catalyst plans as `TakeOrderedAndProject` (per-partition heaps of
    * k, merged on the driver; no global sort, no full shuffle). `k`
    * rows must fit on the driver, which is the contract of "give me
    * a k-row sample". Pass `scoreCol` to expose the selection key as
    * a column (callers hash-oracling it should round first —
    * cross-engine `pow` may differ in the last ulp); by default the
    * output schema is the input schema.
    */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String,
                     k: Int, scoreCol: Option[String] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val u = (keyHash(col(keyCol)) + 1L).cast("double") / 4294967296.0
    val ranked = df
      .withColumn("_srk", pow(u, lit(1.0) / col(weightCol).cast("double")))
      .orderBy(col("_srk").desc, col(keyCol))
      .limit(k)
    scoreCol match {
      case Some(name) => ranked.withColumnRenamed("_srk", name)
      case None => ranked.drop("_srk")
    }
  }

  /** Seeded deterministic global shuffle + shard assignment — the
    * training-order prep step between a cleaned corpus and the
    * trainer's data loader: every row gets a pseudo-random but
    * REPRODUCIBLE position, expressed as `(shard, pos)` so each
    * output shard is an independently shuffled, balanced slice.
    *
    *   shard = seeded key hash mod `nShards`  (uniform → balanced)
    *   pos   = rank of the hash inside its shard (ties by key)
    *
    * A different `seed` is a fresh, independent permutation — epoch
    * reshuffles without rewriting source data, and a re-ingested row
    * keeps its (shard, pos) on a backfill. Scale shape: one shuffle
    * (the shard exchange) + a per-shard sort — exactly the exchange a
    * sharded training write pays anyway; downstream writes
    * `partition_by shard`, `sort_within_partitions pos` and readers
    * stream shards in order. Engine-portable md5 hashing, so the
    * permutation is oracle-verifiable (see q_shuffle_shard).
    *
    * `keyCol` must be a UNIQUE, NON-NULL row id: duplicate keys tie
    * on the full sort key and their relative positions become
    * partitioning-dependent; a NULL key hashes to a NULL shard (the
    * same contract as the DuckDB spelling `'seed:' || key`). */
  def shuffleShard(df: DataFrame, keyCol: String, seed: Long, nShards: Int,
                   shardCol: String = "shard",
                   posCol: String = "pos"): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    // Collision-proof temp name: a plain `_h` would silently
    // overwrite (then drop) a user column of that name, the exact
    // collision the shard/pos output names are overridable for.
    val h = "__graft_shuffle_h"
    // concat (not concat_ws): a NULL key must yield a NULL hash in
    // BOTH engines, not silently hash as md5("seed:")
    val withH = df.withColumn(h,
      keyHash(concat(lit(s"$seed:"), col(keyCol).cast("string"))))
      .withColumn(shardCol, (col(h) % nShards).cast("int"))
    val w = Window.partitionBy(col(shardCol))
      .orderBy(col(h), col(keyCol))
    withH.withColumn(posCol, row_number().over(w).cast("long"))
      .drop(h)
  }
}

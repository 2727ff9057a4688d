package graft.plugins.transform

import java.nio.file.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.core.{OptionKind, PluginExecutionError, SchemaValidationError}
import graft.ops.{Dedup, Text}

/** Config-driven wrapper over the [[graft.ops.Dedup]] family, so
  * dedup runs as a pipeline transform:
  *
  *   method = "exact" | "fingerprint" | "minhash" | "simhash_pairs" |
  *            "ngram_pairs" | "embedding_pairs" | "boilerplate_lines" |
  *            "span_removal" (cut corpus-duplicated k-token spans) |
  *            "semantic" (SemDeDup over an embedding column) |
  *            "image_pairs" (perceptual dHash63 near-dups over a
  *            binary payload column) | "audio_pairs" (envelope-hash
  *            near-dups over PCM WAV payloads)
  */
class DedupPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "dedup"

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    for {
      method <- requiredString("method")
      idCol <- requiredString("id_column")
      out <- graft.core.Errors.safe {
        val textColumn = str("text_column", "text")
        method match {
          case "ngram_verified" =>
            Dedup.ngramJaccardVerified(df, idCol, textColumn,
              n = int("n", 5),
              threshold = num("threshold", 0.8),
              numHashes = int("num_hashes", 64),
              bands = int("bands", 16))
          case "minhash_clustered" =>
            Dedup.byMinhashClustered(df, idCol, textColumn,
              threshold = num("threshold", 0.8),
              shingleK = int("shingle_k", 5),
              numHashes = int("num_hashes", 64),
              bands = int("bands", 16),
              maxBucket = int("max_bucket", 1000))
          case "minhash_clustered_best" =>
            // quality-aware survivor: keep each component's best
            // score_column member instead of its min id
            Dedup.byMinhashClusteredBest(df, idCol, textColumn,
              requiredString("score_column").toTry.get,
              threshold = num("threshold", 0.8),
              shingleK = int("shingle_k", 5),
              numHashes = int("num_hashes", 64),
              bands = int("bands", 16),
              maxBucket = int("max_bucket", 1000))
          case "exact" =>
            Dedup.exact(df, idCol, stringList("key_columns").toTry.get)
          case "fingerprint" =>
            Dedup.byFingerprint(df, idCol, textColumn)
          case "minhash" =>
            Dedup.byMinhash(df, idCol, textColumn,
              threshold = num("threshold", 0.8),
              shingleK = int("shingle_k", 5),
              numHashes = int("num_hashes", 64),
              bands = int("bands", 16))
          case "winnow_pairs" =>
            Dedup.winnowCandidatePairs(df, idCol, textColumn,
              k = int("k", 5), w = int("w", 4),
              minShared = int("min_shared", 3),
              maxFpFreq = int("max_fp_freq", 20))
          case "simhash_pairs" =>
            Dedup.simhashPairs(df, idCol, textColumn,
              maxHamming = int("max_hamming", 3),
              maxBucket = int("max_bucket", 1000))
          case "image_pairs" =>
            Dedup.imageHashPairs(df, idCol, str("payload_column", "payload"),
              maxHamming = int("max_hamming", 6),
              chunks = int("chunks", 8),
              maxBucket = int("max_bucket", 1000))
          case "audio_pairs" =>
            Dedup.audioHashPairs(df, idCol, str("payload_column", "payload"),
              maxHamming = int("max_hamming", 6),
              chunks = int("chunks", 8),
              maxBucket = int("max_bucket", 1000))
          case "ngram_pairs" =>
            Dedup.ngramJaccardPairs(df, idCol, textColumn,
              n = int("n", 3),
              threshold = num("threshold", 0.5),
              blockCol = str("block_column"),
              // the quadratic-block escape hatch must be TOML-reachable
              maxBlock = int("max_block", 20000))
          case "embedding_pairs" =>
            Dedup.embeddingCosinePairs(df, idCol,
              str("embedding_column", "embedding"),
              threshold = num("threshold", 0.95),
              planes = int("planes", 8),
              probeBits = int("probe_bits", 1),
              maxBucket = int("max_bucket", 1000),
              overCap = str("over_cap", "drop"),
              // tables > 1 = banded (multi-table) LSH: recall
              // 1-(1-p^planes)^tables without widening any band's
              // buckets — the scale knob for pair recall
              tables = int("tables", 1),
              // auto_planes: plane count tracks the corpus so the
              // flood cap never silently saturates (probe depth
              // re-solved for recall_floor) — the single-table
              // scale knob; see Dedup.embeddingCosinePairs
              autoPlanes = flag("auto_planes", false),
              recallFloor = num("recall_floor", 0.92))
          case "boilerplate_lines" =>
            Dedup.removeBoilerplateLines(df, idCol, textColumn,
              minDocs = int("min_docs", 3))
          case "span_removal" =>
            graft.ops.DupSpans.removeDuplicatedSpans(df, idCol, textColumn,
              k = int("k", 8),
              minOccurrences = int("min_occurrences", 2))
          case "semantic" =>
            Dedup.semDeDup(df, idCol, str("embedding_column", "embedding"),
              threshold = num("threshold", 0.95),
              nClusters = int("n_clusters", 16),
              assign = str("assign", "kmeans"),
              nAssign = int("n_assign", 1))
          case "incremental" =>
            // batch-vs-stored-corpus dedup: the reference is a table
            // on disk (yesterday's corpus), not a second stream
            graft.ops.IncrementalDedup.cleaned(df,
              df.sparkSession.read.parquet(resolvePath(
                requiredString("reference_path").toTry.get).toString),
              str("key_column", "fingerprint"),
              expectedItems = long("expected_items", 0L),
              fpp = num("fpp", 0.01))
          case "incremental_neardup" =>
            // fuzzy counterpart: drop batch docs whose text verified-
            // near-dups ANY stored-corpus doc
            graft.ops.IncrementalDedup.nearDupCleaned(df,
              df.sparkSession.read.parquet(resolvePath(
                requiredString("reference_path").toTry.get).toString),
              idCol, textColumn,
              shingleK = int("shingle_k", 5),
              threshold = num("threshold", 0.8),
              numHashes = int("num_hashes", 64),
              bands = int("bands", 16),
              maxBucket = int("max_bucket", 1000))
          case other => throw new PluginExecutionError(
            s"Unknown dedup method: '$other'")
        }
      }
    } yield out
}

/** Config-driven deterministic sampling ([[graft.ops.Sampling]]):
  *
  *   method = "uniform"        — rate ∈ (0,1], md5-keyed band
  *          | "stratified_cap" — cap rows per group_columns stratum
  *          | "mix_weights"    — downsample to a target source mixture
  *                               (weights = inline table {src = w})
  */
class SamplePlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "sample"

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    for {
      method <- requiredString("method")
      keyCol <- requiredString("key_column")
      out <- method match {
        case "uniform" =>
          required("rate", OptionKind.double).flatMap(r => graft.core.Errors.safe(
            graft.ops.Sampling.sampleByHash(df, keyCol, r)))
        case "stratified_cap" =>
          for {
            groups <- stringList("group_columns")
            cap <- required("cap", OptionKind.int)
            out <- graft.core.Errors.safe(
              graft.ops.Sampling.stratifiedCap(df, groups, keyCol, cap))
          } yield out
        case "split" =>
          for {
            splits <- splits()
            out <- graft.core.Errors.safe(
              graft.ops.Sampling.assignSplit(df, keyCol, splits,
                outCol = str("output_column", "split")))
          } yield out
        case "split_leakage_safe" =>
          // split keyed on near-dup COMPONENTS: a duplicate family
          // never straddles train/test. pair_method picks the edge
          // generator over text_column.
          import org.apache.spark.sql.functions.col
          for {
            splits <- splits()
            out <- graft.core.Errors.safe {
              val textCol = str("text_column", "text")
              val outName = str("output_column", "split")
              str("pair_method", "fingerprint") match {
                case "fingerprint" =>
                  // transitive equality → one agg + one join, no
                  // iterative contraction
                  graft.ops.Sampling.leakageSafeSplitByFingerprint(
                    df, keyCol, textCol, splits, outCol = outName)
                case "minhash" =>
                  // the component rounds are eager jobs over the
                  // input the split re-reads: both read one copy
                  val src = graft.ops.Lineage.once(df)
                  val pairs = graft.ops.Dedup.minhashCandidatePairs(
                      src, keyCol, textCol,
                      shingleK = int("shingle_k", 5),
                      numHashes = int("num_hashes", 64),
                      bands = int("bands", 16),
                      maxBucket = int("max_bucket", 1000),
                      overCap = "star")
                    .filter(col("est_jaccard") >= num("threshold", 0.8))
                    .select("id_a", "id_b")
                  graft.ops.Sampling.leakageSafeSplit(src, keyCol,
                    pairs, splits, outCol = outName)
                case other => throw new PluginExecutionError(
                  s"Unknown pair_method: '$other' " +
                    "(expected fingerprint | minhash)")
              }
            }
          } yield out
        case "weighted" =>
          // Efraimidis–Spirakis weighted reservoir: exactly k rows,
          // deterministic (md5-keyed), heavier weights favored
          for {
            weightCol <- requiredString("weight_column")
            k <- required("k", OptionKind.int)
            out <- graft.core.Errors.safe(
              graft.ops.Sampling.weightedSample(df, keyCol, weightCol, k))
          } yield out
        case "mix_weights" =>
          for {
            groupCol <- requiredString("group_column")
            weights <- required("weights", OptionKind.tableOf(OptionKind.double))
            out <- graft.core.Errors.safe {
              // budget_column switches the share denominator from row
              // counts to the column's mass (token/char budget mix)
              str("budget_column") match {
                case Some(bc) => graft.ops.Sampling.mixToBudgetWeights(
                  df, groupCol, keyCol, bc, weights)
                case None => graft.ops.Sampling.mixToWeights(
                  df, groupCol, keyCol, weights)
              }
            }
          } yield out
        case "mix_temperature" =>
          // p^(1/T) source flattening; weights derive from the data's
          // own per-source mass, so no weights table is needed
          for {
            groupCol <- requiredString("group_column")
            t <- required("temperature", OptionKind.double)
            out <- graft.core.Errors.safe(
              graft.ops.Sampling.mixByTemperature(df, groupCol, keyCol, t,
                str("budget_column"),
                // the group-cardinality cap's escape hatch must be
                // reachable from TOML (legit 20k-domain mixes exist)
                maxGroups = int("max_groups", 10000)))
          } yield out
        case "shuffle_shard" =>
          // seeded deterministic shuffle as (shard, pos) — epoch
          // reshuffles = new seed, no source rewrite
          for {
            nShards <- required("n_shards", OptionKind.int)
            out <- graft.core.Errors.safe(
              graft.ops.Sampling.shuffleShard(df, keyCol,
                // an integer kind parses exactly, NOT via double: seeds
                // above 2^53 would silently round to another permutation
                seed = long("seed", 0L),
                nShards = nShards,
                // overridable like split's output_column: a frame may
                // already carry shard/pos columns
                shardCol = str("shard_column", "shard"),
                posCol = str("pos_column", "pos")))
          } yield out
        case other => Left(new PluginExecutionError(
          s"Unknown sample method: '$other'"))
      }
    } yield out

  /** `split_names` zipped with `split_fracs`: parallel lists (not a
    * table), since band order defines the hash bounds and TOML tables
    * do not preserve key order. */
  private def splits(): Either[Throwable, Seq[(String, Double)]] =
    for {
      names <- stringList("split_names")
      fracs <- required("split_fracs", OptionKind.numbers)
      out <- Either.cond(names.size == fracs.size, names.zip(fracs),
        new PluginExecutionError("split_names and split_fracs must align"))
    } yield out
}

/** Config-driven PII redaction ([[graft.ops.Text.redactPii]]):
  * rewrites text_column in place (or into output_column) and
  * optionally attaches per-category counts, behind
  * [[graft.ops.Lineage.fence]] so a later filter on the text does not
  * copy the regex chain. */
class RedactPiiPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "redact_pii"

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    graft.core.Errors.safe {
      import org.apache.spark.sql.functions.col
      val tc = str("text_column", "text")
      val redacted = df.withColumn(str("output_column", tc), Text.redactPii(col(tc)))
      graft.ops.Lineage.fence(
        if (flag("with_counts", false))
          Text.piiCounts(col(tc)).foldLeft(redacted) { case (acc, (n, c)) =>
            acc.withColumn(n, c.cast("long"))
          }
        else redacted)
    }
}

/** Config-driven benchmark-contamination check
  * ([[graft.ops.Contamination.ngramOverlap]]): the benchmark stream
  * arrives under `bench_label` (multi-stream routing, like join's
  * right_label). */
class ContaminationPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label)
    with graft.core.MultiStreamTransformPlugin {
  def name: String = "contamination"

  def executeWith(df: DataFrame,
                  streams: Map[String, Either[Throwable, DataFrame]])
      : Either[Throwable, DataFrame] =
    for {
      bl <- requiredString("bench_label")
      bench <- streams.getOrElse(bl, Left(new NoSuchElementException(
        s"No input data with label '$bl' for contamination plugin")))
      idCol <- requiredString("id_column")
      out <- graft.core.Errors.safe {
        val benchId = str("bench_id_column", "doc_id")
        val tc = str("text_column", "text")
        val btc = str("bench_text_column", tc)
        val n = int("n", 8)
        str("mode", "flag") match {
          case "flag" =>
            graft.ops.Contamination.ngramOverlap(df, idCol, tc,
              bench, benchId, btc, n)
          case "remove" =>
            graft.ops.Contamination.removeContaminated(df, idCol, tc,
              bench, benchId, btc, n,
              minOverlap = long("min_overlap", 1L))
          case other => throw new PluginExecutionError(
            s"Unknown contamination mode: '$other'")
        }
      }
    } yield out
}

/** Config-driven DSIR importance resampling ([[graft.ops.Dsir]]):
  * keep the `k` docs of this stream that look most like the labeled
  * TARGET corpus stream (Xie et al. 2023). Options: target_label
  * (required — OR `target_labels`, a list, for the MIXTURE form:
  * the target model is the convex blend of the listed corpora with
  * `target_weights`, a same-length number list defaulting to equal
  * weights), k (required), id_column (default doc_id), text_column
  * (default text; target_text_column to override the target side's),
  * buckets (default 8192), alpha (default 1.0), seed (default
  * "dsir" — a different seed is an independent resample), round_to
  * (default 4 — the decimal grid the ranking key snaps to). */
class DsirPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label)
    with graft.core.MultiStreamTransformPlugin {
  def name: String = "dsir"

  /** Mixture labels + weights: `target_labels` if present (weights
    * defaulting to equal), else the single `target_label` at weight
    * 1 — both paths share [[graft.ops.Dsir.selectMix]]'s contract
    * (a 1-element mixture is exactly the single-target model). */
  private def targetSpec(): Either[Throwable, Seq[(String, Double)]] =
    graft.core.Errors.safe(strs("target_labels")).flatMap {
      case Some(labels) =>
        if (labels.isEmpty)
          Left(new graft.core.SchemaValidationError(
            "target_labels must be non-empty"))
        else graft.core.Errors.safe {
          val weights = opt("target_weights", OptionKind.numbers)
            .getOrElse(Seq.fill(labels.size)(1.0))
          if (weights.size != labels.size)
            throw new graft.core.SchemaValidationError(
              s"target_weights has ${weights.size} entries for " +
                s"${labels.size} target_labels")
          labels.zip(weights)
        }
      case None =>
        // a half-migrated config (singular target_label + leftover
        // target_weights) must fail loudly, not run at weight 1.0
        if (options.contains("target_weights"))
          Left(new graft.core.SchemaValidationError(
            "target_weights requires target_labels (got the singular " +
              "target_label form)"))
        else requiredString("target_label").map(l => Seq(l -> 1.0))
    }

  def executeWith(df: DataFrame,
                  streams: Map[String, Either[Throwable, DataFrame]])
      : Either[Throwable, DataFrame] =
    for {
      spec <- targetSpec()
      targets <- spec.foldRight(
          Right(Nil): Either[Throwable, List[(DataFrame, Double)]]) {
        case ((tl, w), acc) =>
          for {
            t <- streams.getOrElse(tl, Left(new NoSuchElementException(
              s"No input data with label '$tl' for dsir plugin")))
            rest <- acc
          } yield (t, w) :: rest
      }
      k <- required("k", OptionKind.int)
      out <- graft.core.Errors.safe {
        val idCol = str("id_column", "doc_id")
        val tc = str("text_column", "text")
        val ttc = str("target_text_column", tc)
        // project, don't rename: renaming would collide when the
        // target already carries a column named `tc`, and the fit
        // needs only the text column anyway (no target id required).
        // target.col (not functions.col): literal top-level name
        // resolution, so a column literally named "meta.text" keeps
        // working instead of parsing as struct-field access
        val buckets = int("buckets", 8192)
        val alpha = num("alpha", 1.0)
        val seed = str("seed", "dsir")
        val roundTo = int("round_to", 4)
        val projected = targets.map { case (t, w) =>
          (t.select(t.col(ttc).as(tc)), w) }
        // Single target keeps the EXACT scoreDocs log spelling
        // (split log terms); the mixture necessarily takes one
        // log of the blended probability — routing a 1-element
        // mixture through it would move last-ulp noise onto the
        // rounded selection key for configs that didn't opt in.
        if (projected.size == 1)
          graft.ops.Dsir.select(df, projected.head._1, idCol, tc,
            k = k, buckets = buckets, alpha = alpha, seed = seed,
            roundTo = roundTo)
        else
          graft.ops.Dsir.selectMix(df, projected, idCol, tc,
            k = k, buckets = buckets, alpha = alpha, seed = seed,
            roundTo = roundTo)
      }
    } yield out
}

/** Config-driven batch sessionization ([[graft.ops.Sessionize]]):
  * gap-based sessions per user from an epoch-nanos timestamp column.
  * Options: method = "islands" (default — window-function gap
  * islands, session_end = last event) or "session_window" (Spark's
  * native merge-on-gap operator — streaming-capable, no tie column,
  * session_end = last event + gap); user_column, ts_column (epoch
  * nanos, or a native timestamp column — normalized via TimeCols),
  * tie_column (islands only: unique
  * per-row, for deterministic equal-timestamp ordering), value_column,
  * gap_seconds (default 1800), ts_unit (session_window only:
  * nanos|micros|millis|seconds, default nanos — the declared unit of
  * an INTEGRAL ts_column; native timestamp columns ignore it). */
class SessionizePlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "sessionize"

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    for {
      user <- requiredString("user_column")
      ts <- requiredString("ts_column")
      value <- requiredString("value_column")
      gapSeconds <- graft.core.Errors.safe(long("gap_seconds", 1800L))
      out <- {
        str("method", "islands") match {
          case "islands" =>
            requiredString("tie_column").flatMap(tie =>
              graft.core.Errors.safe(
                graft.ops.Sessionize.batch(df, user, ts, tie, value,
                  gapNanos = gapSeconds * 1000000000L)))
          case "session_window" =>
            // native merge-on-gap operator (streaming-capable; no tie
            // column; session_end = last event + gap)
            graft.core.Errors.safe(
              graft.ops.Sessionize.nativeSessionWindow(df, user, ts,
                value, gapSeconds,
                tsUnit = str("ts_unit", "nanos")))
          case other => Left(new PluginExecutionError(
            s"Unknown sessionize method: '$other' " +
              "(expected islands|session_window)"))
        }
      }
    } yield out
}

/** Config-driven sliding-window chunking ([[graft.ops.Chunking]]):
  * long documents → overlapping context-length token windows.
  * Options: id_column (req), text_column (default text), size
  * (default 1024), stride (default size), min_tokens (default 1). */
class ChunkPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "chunk"

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    for {
      idCol <- requiredString("id_column")
      out <- graft.core.Errors.safe {
        val size = int("size", 1024)
        graft.ops.Chunking.slidingWindow(df, idCol, str("text_column", "text"),
          size = size,
          stride = int("stride", size),
          minTokens = int("min_tokens", 1))
      }
    } yield out
}

/** Config-driven sequence packing ([[graft.ops.Packing]]): assign
  * each doc a (seq_id, seq_offset) inside fixed-budget training
  * sequences. method = "chunks" (default — concat-and-chunk, docs
  * may split across sequences; GPT-style pretrain packing) or
  * "greedy" (no-split first-fit; SFT/instruct mode). Options:
  * tokens_column (req — precomputed token counts, e.g. from
  * text_analysis), budget (default 2048), shard_columns (req, list —
  * packing is per shard so no global sort bottleneck), order_column
  * (req — deterministic within-shard order). */
class PackPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "pack"

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    for {
      tokensCol <- requiredString("tokens_column")
      shardCols <- stringList("shard_columns")
      orderCol <- requiredString("order_column")
      out <- graft.core.Errors.safe {
        val budget = int("budget", 2048)
        str("method", "chunks") match {
          case "chunks" => graft.ops.Packing.packChunks(
            df, tokensCol, budget, shardCols, orderCol)
          case "greedy" => graft.ops.Packing.packGreedy(
            df, tokensCol, budget, shardCols, orderCol)
          case other => throw new PluginExecutionError(
            s"Unknown pack method: '$other' (expected chunks | greedy)")
        }
      }
    } yield out
}

/** Config-driven blocklist gate ([[graft.ops.Text]], UT1-style):
  * words (req, list), text_column (default text), mode: "flags"
  * (attach n_tokens_blocked/blocked_ratio) or "filter" (default —
  * keep docs with blocked_ratio <= max_ratio, default 0.0). */
class BlocklistPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "blocklist"

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    for {
      words <- stringList("words")
      out <- graft.core.Errors.safe {
        val tc = str("text_column", "text")
        str("mode", "filter") match {
          case "flags" => graft.ops.Text.withBlocklistStats(df, tc, words)
          case "filter" => graft.ops.Text.filterBlocklisted(df, tc, words,
            num("max_ratio", 0.0))
          case other => throw new PluginExecutionError(
            s"Unknown blocklist mode: '$other'")
        }
      }
    } yield out
}

/** Config-driven pivot (long → wide): group_by (req, list),
  * pivot_column (req), values (req, list — explicit categories keep
  * the schema static and skip the distinct-scan job), aggregation
  * (SQL agg expr, default "count(*)"), fill (numeric, fills the
  * null cells of absent combinations). */
class PivotPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "pivot"

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    for {
      groups <- stringList("group_by")
      pivotCol <- requiredString("pivot_column")
      values <- stringList("values")
      out <- graft.core.Errors.safe {
        val agg = org.apache.spark.sql.functions.expr(str("aggregation", "count(*)"))
        val wide = df.groupBy(groups.map(org.apache.spark.sql.functions.col): _*)
          .pivot(pivotCol, values).agg(agg)
        num("fill").fold(wide)(wide.na.fill(_))
      }
    } yield out
}

/** Config-driven unpivot/melt (wide → long): id_columns (req, list),
  * value_columns (req, list — cast to double), variable_column
  * (default "measure"), value_column (default "value"). */
class UnpivotPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "unpivot"

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    for {
      ids <- stringList("id_columns")
      vals <- stringList("value_columns")
      out <- graft.core.Errors.safe {
        import org.apache.spark.sql.functions.col
        df.unpivot(ids.map(col).toArray,
          vals.map(c => col(c).cast("double").as(c)).toArray,
          str("variable_column", "measure"),
          str("value_column", "value"))
      }
    } yield out
}

/** Config-driven vocab-id encoding ([[graft.ops.Vocab]]): build the
  * top-`vocab_size` token table from the incoming frame (bounded
  * driver collect — an EAGER action over the upstream plan, like
  * mix_weights' counts) and attach `output_column` = array<bigint>
  * token ids via the broadcast encode kernel. Options: text_column
  * (default text), vocab_size (default 65536), oov_id (default -1),
  * output_column (default token_ids). */
class VocabEncodePlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "vocab_encode"

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    graft.core.Errors.safe {
      val tc = str("text_column", "text")
      val vocab = graft.ops.Vocab.topTokens(df, tc, int("vocab_size", 65536))
      graft.ops.Vocab.encode(df, tc, vocab,
        oovId = long("oov_id", -1L),
        outCol = str("output_column", "token_ids"))
    }
}

/** Config-driven BPE tokenization ([[graft.ops.Bpe]]) — the
  * tokenizer-true stage between cleaning and sequence packing:
  *
  *   method = "count"  (default) — attach `output_column` (default
  *                     `n_tokens_bpe`) = the REAL tokenizer token
  *                     count, the budget column `pack` should use
  *                     when sequences are measured in BPE tokens
  *                     (nothing array-sized survives the projection)
  *          | "encode" — attach the token ARRAY (default column
  *                     `tokens`)
  *
  * The merge table comes from `merges_file` (one `a<TAB>b` merge per
  * line in rank order, resolved against the config dir — ship your
  * trained vocab), or is TRAINED driver-side on a bounded
  * deterministic sample of this stream ([[graft.ops.Bpe.train]] —
  * an EAGER action over the upstream plan, like vocab_encode's
  * vocabulary build) with `num_merges` (default 200), `sample_n`
  * (default 2048), `min_pair_count` (default 2). `text_column`
  * defaults to `text`. */
class BpePlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "bpe"

  private def mergesFor(df: DataFrame): Seq[(String, String)] =
    str("merges_file") match {
      case Some(p) =>
        val path = resolvePath(p)
        val lines = java.nio.file.Files.readAllLines(path)
        import scala.jdk.CollectionConverters._
        lines.asScala.iterator.map(_.trim).filter(_.nonEmpty).map { l =>
          val i = l.indexOf('\t')
          if (i <= 0 || i == l.length - 1)
            throw new PluginExecutionError(
              s"merges_file line is not 'a<TAB>b': '$l'")
          (l.substring(0, i), l.substring(i + 1))
        }.toSeq
      case None =>
        graft.ops.Bpe.train(df, str("text_column", "text"),
          numMerges = int("num_merges", 200),
          sampleN = int("sample_n", 2048),
          minPairCount = long("min_pair_count", 2L))
    }

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    graft.core.Errors.safe {
      str("method", "count") match {
        case "count" =>
          graft.ops.Bpe.withTokenCount(df, str("text_column", "text"),
            mergesFor(df), out = str("output_column", "n_tokens_bpe"))
        case "encode" =>
          graft.ops.Bpe.encode(df, str("text_column", "text"),
            mergesFor(df), out = str("output_column", "tokens"))
        case other => throw new PluginExecutionError(
          s"Unknown bpe method: '$other' (expected count | encode)")
      }
    }
}

/** Config-driven corpus profiling ([[graft.ops.Profiling]]): one-pass
  * per-column stats (rows, nulls, distinct, min/max). Options:
  * columns (req, list), exact (default false — HLL distinct counts at
  * scale, exact via Expand when true). */
class ProfilePlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "profile"

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    for {
      cols <- stringList("columns")
      out <- graft.core.Errors.safe(
        graft.ops.Profiling.columnStats(df, cols, exact = flag("exact", false)))
    } yield out
}

/** Config-driven multimodal column processing
  * ([[graft.ops.Multimodal]]) over an opaque binary payload column:
  *
  *   method = "decode_meta"   — attach the decoded metadata struct
  *          | "resize"        — binary→binary downsample (real pixel
  *                              box-average for PNG/GIF/JPEG; stub
  *                              byte-stride for unrecognized bytes)
  *          | "sample_frames" — one row per sampled payload slice
  *          | "audio_features" — attach the RIFF/WAVE PCM feature
  *                              struct (sample_rate, n_channels,
  *                              n_frames, duration_ms, rms,
  *                              zero_crossings, peak; NULL for
  *                              undecodable payloads — see
  *                              [[graft.ops.Audio]])
  *          | "video_frames"  — explode AVI/MJPG payloads into
  *                              sampled frames with decoded pixel
  *                              stats (stride, max_frames — see
  *                              [[graft.ops.Video]])
  */
class MultimodalPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "multimodal"

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    for {
      method <- requiredString("method")
      out <- graft.core.Errors.safe {
        val payloadColumn = str("payload_column", "payload")
        method match {
          case "decode_meta" =>
            graft.ops.Multimodal.withDecodedMeta(df, payloadColumn,
              str("output_column", "media_meta"))
          case "resize" =>
            graft.ops.Multimodal.withResized(df, payloadColumn,
              int("factor", 2), str("output_column", "resized"))
          case "sample_frames" =>
            graft.ops.Multimodal.sampleFrames(df, str("id_column", "doc_id"),
              payloadColumn, int("frames", 4))
          case "audio_features" =>
            graft.ops.Audio.withAudioFeatures(df, payloadColumn,
              str("output_column", "audio"))
          case "video_frames" =>
            graft.ops.Video.sampleVideoFrames(df, str("id_column", "doc_id"),
              payloadColumn, int("stride", 1), int("max_frames", 256))
          case other => throw new PluginExecutionError(
            s"Unknown multimodal method: '$other'")
        }
      }
    } yield out
}

/** Config-driven ANN / similarity search ([[graft.ops.Similarity]]):
  * top-k cosine neighbors of a query stream against this stream as
  * the corpus.
  *
  *   method = "brute" (default) — exact broadcast baseline
  *          | "lsh"   — hyperplane multi-probe (planes, probe_bits)
  *          | "ivf"   — inverted-file probing (nlist, nprobe)
  *          | "ivfpq" — IVF + product-quantized candidate scan with
  *                      exact re-rank (nlist, nprobe, m, ksub, rerank)
  *          | "centroids" — per-group mean embedding (group_by; no
  *                      query stream)
  *
  * `queries_label` names the labeled stream carrying the query rows
  * (same id/embedding columns as the corpus). Output: (query_id,
  * neighbor_id, cosine, rank). */
class SimilarityPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label)
    with graft.core.MultiStreamTransformPlugin {
  def name: String = "similarity"

  private def embCol: String = str("embedding_column", "embedding")

  def executeWith(df: DataFrame,
                  streams: Map[String, Either[Throwable, DataFrame]])
      : Either[Throwable, DataFrame] =
    graft.core.Errors.safe(str("method", "brute")).flatMap {
      case "centroids" =>
        stringList("group_by").flatMap(groups => graft.core.Errors.safe(
          graft.ops.Similarity.groupCentroids(df, groups, embCol)))
      case "quantize_int8" =>
        graft.core.Errors.safe(graft.ops.Similarity.quantizeInt8(df, embCol))
      case "pca_project" =>
        graft.core.Errors.safe(
          graft.ops.Embeddings.pcaProject(df, embCol,
            k = int("k", 16),
            whiten = flag("whiten", false),
            outCol = str("output_column", "pca")))
      case "knn_graph" =>
        requiredString("id_column").flatMap(idCol =>
          graft.core.Errors.safe(
            graft.ops.Similarity.knnGraph(df, idCol, embCol,
              k = int("k", 10),
              method = str("knn_method", "lsh"),
              minCosine = num("min_cosine", -1.0),
              planes = int("planes", 4),
              probeBits = int("probe_bits", 3),
              rerank = int("rerank", 64),
              maxBucket = int("max_bucket", 1000),
              // the brute cap's escape hatch must be reachable from TOML
              maxBrute = int("max_brute", 100000),
              // corpus-tracking plane count (default on); false pins
              // the explicit `planes` regardless of corpus size
              autoPlanes = flag("auto_planes", true),
              // scratch control: 0 = auto (slice the query side past
              // 512k vectors), 1 = one-shot, >= 2 = that many slices;
              // lsh only — rejected (not ignored) for knn_method=brute
              queryBatches = int("query_batches", 0))))
      case "knn_components" =>
        requiredString("id_column").flatMap(idCol =>
          graft.core.Errors.safe(
            graft.ops.Similarity.semanticClusters(df, idCol, embCol,
              k = int("k", 10),
              minCosine = num("min_cosine", 0.0),
              method = str("knn_method", "lsh"),
              // "same options as knn_graph" (PLUGINS.md) — actually
              // honored, not silently dropped
              planes = int("planes", 4),
              probeBits = int("probe_bits", 3),
              rerank = int("rerank", 64),
              maxBucket = int("max_bucket", 1000),
              maxBrute = int("max_brute", 100000),
              autoPlanes = flag("auto_planes", true),
              queryBatches = int("query_batches", 0))))
      case "centroid_outliers" =>
        stringList("group_by").flatMap(groups =>
          graft.core.Errors.safe(
            graft.ops.Similarity.centroidBandFilter(df, groups, embCol,
              lo = num("band_lo", 0.0), hi = num("band_hi", 0.95),
              distCol = str("output_column", "centroid_dist"))))
      // persisted-index pair: build writes the partitioned IVF index
      // (EAGER, stream passes through for downstream stages); query
      // serves the stream's rows against an index built in THIS run or
      // any earlier one — build once, query many
      case "index_build" =>
        for {
          idCol <- requiredString("id_column")
          dir <- requiredString("index_dir")
          out <- graft.core.Errors.safe {
            graft.ops.VectorIndex.build(df, idCol, embCol,
              resolvePath(dir).toString, nlist = int("nlist", 64))
            df
          }
        } yield out
      case "index_append" =>
        for {
          idCol <- requiredString("id_column")
          dir <- requiredString("index_dir")
          out <- graft.core.Errors.safe {
            graft.ops.VectorIndex.append(df, idCol, embCol,
              resolvePath(dir).toString)
            df
          }
        } yield out
      case "index_query" =>
        for {
          idCol <- requiredString("id_column")
          dir <- requiredString("index_dir")
          out <- graft.core.Errors.safe(
            graft.ops.VectorIndex.topK(df.sparkSession,
              resolvePath(dir).toString, df, idCol, embCol,
              k = int("k", 10), nprobe = int("nprobe", 7),
              rerank = int("rerank", 64)))
        } yield out
      case method =>
        for {
          idCol <- requiredString("id_column")
          ql <- requiredString("queries_label")
          queries <- streams.getOrElse(ql, Left(new NoSuchElementException(
            s"No input data with label '$ql' for similarity plugin")))
          out <- graft.core.Errors.safe {
            val k = int("k", 10)
            method match {
              case "brute" =>
                // brute broadcasts the query stream — guard a mislabeled
                // big table before it reaches the broadcast exchange
                graft.ops.Similarity.requireBounded(queries,
                  int("max_queries", 100000),
                  s"similarity method=\"brute\" (query stream '$ql')")
                graft.ops.Similarity.bruteForceTopK(df, queries, idCol, embCol, k)
              case "lsh" =>
                graft.ops.Similarity.lshTopK(df, queries, idCol, embCol, k,
                  planes = int("planes", 4),
                  probeBits = int("probe_bits", 3))
              case "ivf" =>
                graft.ops.Similarity.ivfTopK(df, queries, idCol, embCol, k,
                  nlist = int("nlist", 8), nprobe = int("nprobe", 7))
              case "mmr" =>
                graft.ops.Similarity.mmrTopK(df, queries, idCol, embCol, k,
                  poolSize = int("pool_size", 20),
                  lambda = num("lambda", 0.7))
              case "ivfpq" =>
                graft.ops.Similarity.ivfPqTopK(df, queries, idCol, embCol, k,
                  nlist = int("nlist", 8), nprobe = int("nprobe", 7),
                  m = int("m", 16), ksub = int("ksub", 16),
                  rerank = int("rerank", 128))
              case other => throw new PluginExecutionError(
                s"Unknown similarity method: '$other'")
            }
          }
        } yield out
    }

  /** Kept where executing over zero rows would leave the plan or
    * fail: the index methods read or write `index_dir`; PCA, the kNN
    * graphs, IVF, IVF-PQ and MMR train on or sample the rows (or run
    * jobs) while the plan is built. Their output schemas are static;
    * the other methods take the derived dry run. */
  override def dryRunWith(schema: StructType,
                          schemas: Map[String, Either[Throwable, StructType]])
      : Either[Throwable, StructType] = {
    def need(s: StructType, where: String, cols: String*): Either[Throwable, Unit] =
      cols.find(c => !s.fieldNames.contains(c)) match {
        case Some(c) => Left(new SchemaValidationError(s"Column '$c' not found in $where"))
        case None => Right(())
      }
    def neighbors(queryId: DataType, neighborId: DataType) = StructType(Seq(
      StructField("query_id", queryId),
      StructField("neighbor_id", neighborId),
      StructField("cosine", DoubleType),
      StructField("rank", IntegerType, nullable = false)))
    str("method", "brute") match {
      case "centroids" | "quantize_int8" | "centroid_outliers" | "brute" | "lsh" =>
        super.dryRunWith(schema, schemas)
      case "pca_project" =>
        need(schema, "schema", embCol).map(_ => StructType(schema.fields :+
          StructField(str("output_column", "pca"),
            ArrayType(DoubleType, containsNull = false))))
      case "knn_graph" =>
        for {
          idCol <- requiredString("id_column")
          _ <- need(schema, "schema", idCol, embCol)
        } yield neighbors(schema(idCol).dataType, schema(idCol).dataType)
      case "knn_components" =>
        for {
          idCol <- requiredString("id_column")
          _ <- need(schema, "schema", idCol, embCol)
        } yield StructType(Seq(schema(idCol),
          StructField("cluster_id", schema(idCol).dataType)))
      case "index_build" | "index_append" =>
        for {
          idCol <- requiredString("id_column")
          _ <- requiredString("index_dir")
          _ <- need(schema, "schema", idCol, embCol)
        } yield schema // the stream passes through
      case "index_query" =>
        for {
          idCol <- requiredString("id_column")
          _ <- requiredString("index_dir")
          _ <- need(schema, "schema", idCol, embCol)
        } yield neighbors(schema(idCol).dataType, schema(idCol).dataType)
      case "ivf" | "ivfpq" | "mmr" =>
        for {
          idCol <- requiredString("id_column")
          ql <- requiredString("queries_label")
          qs <- schemas.getOrElse(ql, Left(new NoSuchElementException(
            s"No input data with label '$ql' for similarity plugin")))
          _ <- need(schema, "schema", idCol, embCol)
          _ <- need(qs, s"'$ql' schema", idCol, embCol)
        } yield neighbors(qs(idCol).dataType, schema(idCol).dataType)
      case _ => super.dryRunWith(schema, schemas)
    }
  }
}

/** Config-driven exact percentiles ([[graft.ops.Percentiles]]):
  *
  *   group_by = ["k1", ...], value_column = "v",
  *   percentiles = [0.25, 0.5, 0.75]   (labels p25/p50/p75; 0.975 → p97_5)
  *   method = "auto" (default: picks window vs selection from the
  *            measured group cardinality vs cluster parallelism)
  *          | "window" | "selection" (explicit overrides)
  */
class PercentilesPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "percentiles"

  private def ps: Either[Throwable, Seq[(String, Double)]] =
    required("percentiles", OptionKind.numbers).flatMap(xs =>
      graft.core.Errors.safe(xs.map { p =>
        require(p >= 0.0 && p <= 1.0, s"percentile out of [0,1]: $p")
        val lbl = "p" + BigDecimal(p * 100).underlying.stripTrailingZeros
          .toPlainString.replace(".", "_")
        lbl -> p
      }))

  private def band: Either[Throwable, (Double, Double)] =
    for {
      lo <- required("band_lo", OptionKind.double)
      hi <- required("band_hi", OptionKind.double)
    } yield (lo, hi)

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    for {
      keys <- stringList("group_by")
      valueCol <- requiredString("value_column")
      method <- graft.core.Errors.safe(str("method", "auto"))
      out <- method match {
        case "auto" => ps.flatMap(pcts => graft.core.Errors.safe(
          graft.ops.Percentiles.exactInterpolatedAuto(df, keys, valueCol,
            pcts)))
        case "window" => ps.flatMap(pcts => graft.core.Errors.safe(
          graft.ops.Percentiles.exactInterpolated(df, keys, valueCol, pcts)))
        case "selection" => ps.flatMap(pcts => graft.core.Errors.safe(
          graft.ops.Percentiles.exactInterpolatedBySelection(
            df, keys, valueCol, pcts)))
        case "band" => band.flatMap { case (lo, hi) =>
          graft.core.Errors.safe(graft.ops.Percentiles.filterByBand(
            df, keys, valueCol, lo, hi, str("output_column", "pct_rank")))
        }
        case other => Left(new PluginExecutionError(
          s"Unknown percentiles method: '$other'"))
      }
    } yield out

  /** Kept for the percentile methods: "auto" measures the group
    * cardinality with a Spark job while the plan is built. The band
    * filter takes the derived dry run. */
  override def dryRun(schema: StructType): Either[Throwable, StructType] =
    if (str("method", "auto") == "band")
      super.dryRun(schema)
    else for {
      keys <- stringList("group_by")
      valueCol <- requiredString("value_column")
      _ <- (keys :+ valueCol).find(c => !schema.fieldNames.contains(c))
        .map(c => Left(new SchemaValidationError(
          s"Column '$c' not found in schema"))).getOrElse(Right(()))
      pcts <- ps
    } yield StructType(keys.map(schema(_)) ++
      pcts.map { case (lbl, _) => StructField(lbl, DoubleType) })
}

/** Config-driven Gopher/MassiveText quality gate
  * ([[graft.ops.Text.withGopherFlags]]):
  *
  *   mode = "filter" (default) — keep only passing docs, flags dropped
  *        | "flags"            — attach the per-rule boolean columns
  *
  * Thresholds override the published defaults via options
  * (min_words, max_words, min_mean_word_len, max_mean_word_len,
  * max_symbol_ratio, max_bullet_line_frac, max_ellipsis_line_frac,
  * min_alpha_word_frac, min_stopword_hits, max_dup_line_frac). */
class GopherFilterPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "gopher_filter"

  private def thresholds: Text.GopherThresholds = Text.GopherThresholds(
    minWords = int("min_words", 50),
    maxWords = int("max_words", 100000),
    minMeanWordLen = num("min_mean_word_len", 3.0),
    maxMeanWordLen = num("max_mean_word_len", 10.0),
    maxSymbolRatio = num("max_symbol_ratio", 0.1),
    maxBulletLineFrac = num("max_bullet_line_frac", 0.9),
    maxEllipsisLineFrac = num("max_ellipsis_line_frac", 0.3),
    minAlphaWordFrac = num("min_alpha_word_frac", 0.8),
    minStopwordHits = int("min_stopword_hits", 2),
    maxDupLineFrac = num("max_dup_line_frac", 0.3))

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    graft.core.Errors.safe {
      val tc = str("text_column", "text")
      str("mode", "filter") match {
        case "flags"  => Text.withGopherFlags(df, tc, thresholds)
        case "filter" => Text.gopherFilter(df, tc, thresholds)
        case other => throw new PluginExecutionError(
          s"Unknown gopher_filter mode: '$other'")
      }
    }
}

/** Config-driven duplicated-span analysis ([[graft.ops.DupSpans]],
  * Lee et al. 2022 re-expressed relationally):
  *
  *   mode = "stats"  (default) — per-doc span-duplication statistics
  *        | "filter" — keep docs whose duplicated-token coverage is
  *                     strictly under `max_coverage`
  *
  * Options: id_column (req), text_column (default text), k (window
  * width in tokens, default 8), min_occurrences (default 2),
  * max_coverage (req for mode = filter). */
class DupSpansPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "dup_spans"

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    for {
      idCol <- requiredString("id_column")
      out <- graft.core.Errors.safe {
        val tc = str("text_column", "text")
        val k = int("k", 8)
        val minOcc = int("min_occurrences", 2)
        str("mode", "stats") match {
          case "stats" =>
            graft.ops.DupSpans.spanStats(df, idCol, tc, k, minOcc)
          case "filter" =>
            val maxCov = required("max_coverage", OptionKind.double).toTry.get
            graft.ops.DupSpans.filterByCoverage(df, idCol, tc, k, maxCov, minOcc)
          case other => throw new PluginExecutionError(
            s"Unknown dup_spans mode: '$other'")
        }
      }
    } yield out

  /** Kept: spanStats persists an intermediate frame, so executing
    * over zero rows would leave a stray cache registration per
    * `check` invocation. */
  override def dryRun(schema: StructType): Either[Throwable, StructType] =
    for {
      idCol <- requiredString("id_column")
      out <- {
        val tc = str("text_column", "text")
        if (!schema.fieldNames.contains(idCol))
          Left(new SchemaValidationError(
            s"Column '$idCol' not found in schema"))
        else if (!schema.fieldNames.contains(tc))
          Left(new SchemaValidationError(
            s"Column '$tc' not found in schema"))
        else if (str("mode", "stats") == "filter")
          Right(schema) // gate keeps the corpus schema unchanged
        else Right(StructType(Seq(schema(idCol),
          StructField("n_tokens", LongType),
          StructField("n_grams", LongType, nullable = false),
          StructField("n_dup_grams", LongType, nullable = false),
          StructField("covered_tokens", LongType, nullable = false),
          StructField("dup_gram_ratio", DoubleType),
          StructField("coverage_ratio", DoubleType))))
      }
    } yield out
}

/** Config-driven C4 line-level cleaning ([[graft.ops.Text.withC4Flags]],
  * Raffel et al. 2020 §2.2):
  *
  *   mode = "filter" (default) — keep passing pages with text_column
  *          REPLACED by the retained lines (the paper's semantics)
  *        | "flags"  — attach clean_text/n_lines/n_lines_kept/
  *                     n_sentences/c4_pass
  *
  * Options: text_column (default text), min_line_words (default 5),
  * min_sentences (default 3). */
class C4Plugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "c4_filter"

  private def thresholds: Text.C4Thresholds = Text.C4Thresholds(
    minLineWords = int("min_line_words", 5),
    minSentences = int("min_sentences", 3))

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    graft.core.Errors.safe {
      val tc = str("text_column", "text")
      str("mode", "filter") match {
        case "flags"  => Text.withC4Flags(df, tc, thresholds)
        case "filter" => Text.c4Clean(df, tc, thresholds)
        case other => throw new PluginExecutionError(
          s"Unknown c4_filter mode: '$other'")
      }
    }
}

/** Config-driven corpus bigram-LM scoring ([[graft.ops.LmScore]],
  * the CCNet-style LM-fit quality signal):
  *
  *   mode = "score"  (default) — (id_column, n_bigrams, avg_logprob)
  *        | "filter" — keep docs with avg_logprob >= min_avg_logprob
  *                     (docs with < 2 tokens drop: no evidence)
  *
  * Options: id_column (req), text_column (default text), add_k
  * (default 1.0), min_avg_logprob (req for filter). */
class LmScorePlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "lm_score"

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    for {
      idCol <- requiredString("id_column")
      out <- graft.core.Errors.safe {
        val tc = str("text_column", "text")
        val addK = num("add_k", 1.0)
        str("mode", "score") match {
          case "score" => graft.ops.LmScore.scoreDocs(df, idCol, tc, addK)
          case "filter" =>
            val minLp = required("min_avg_logprob", OptionKind.double).toTry.get
            graft.ops.LmScore.filterByScore(df, idCol, tc, minLp, addK)
          case other => throw new PluginExecutionError(
            s"Unknown lm_score mode: '$other'")
        }
      }
    } yield out
}

/** Config-driven TF-IDF keyword extraction ([[graft.ops.Tfidf]]):
  * per-document top-`k` terms by tf × rarity, deterministic
  * cross-engine rank key (tf/df, term tie-break). Options: id_column
  * (req), text_column (default text), k (default 10). */
class TfidfPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "tfidf"

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    for {
      idCol <- requiredString("id_column")
      out <- graft.core.Errors.safe(
        graft.ops.Tfidf.topTerms(df, idCol, str("text_column", "text"),
          k = int("k", 10)))
    } yield out
}

/** Config-driven BM25 ranked retrieval ([[graft.ops.Bm25]]): per-query
  * top-k documents by BM25 score. Options: id_column (req), queries
  * (req, inline table {query_id = query_text} — the broadcast side),
  * text_column (default "text"), k (default 10), k1 (default 1.2),
  * b (default 0.75). Output: (query_id, rank, <id_column>, score). */
class Bm25Plugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label)
    with graft.core.MultiStreamTransformPlugin {
  def name: String = "bm25"

  private def inlineQueries(): Either[Throwable, Seq[(String, String)]] =
    required("queries", OptionKind.tableOf(OptionKind.string)).flatMap(m =>
      if (m.isEmpty) Left(new PluginExecutionError(
        "Option 'queries' must be a non-empty table of query_id -> text"))
      else Right(m.toSeq.sortBy(_._1)))

  /** Query set: the inline `queries` table, or — stream-routing form
    * — a `queries_label` stream with (query_id, query_text) columns,
    * collected driver-side (the broadcast-side contract the operator
    * already carries). */
  private def querySet(streams: Map[String, Either[Throwable, DataFrame]])
      : Either[Throwable, Seq[(String, String)]] =
    graft.core.Errors.safe(str("queries_label")).flatMap {
      case None => inlineQueries()
      case Some(ql) =>
        streams.getOrElse(ql, Left(new NoSuchElementException(
          s"No input data with label '$ql' for bm25 plugin"))).flatMap {
          qdf => graft.core.Errors.safe {
            val idc = str("query_id_column", "query_id")
            val txc = str("query_text_column", "query_text")
            // the collect is the operator's broadcast-side contract,
            // but a mislabeled BIG table must fail with a clear cap
            // error, not OOM the driver — limit bounds the fetch.
            val maxQ = int("max_queries", 10000)
            val rows = qdf.select(idc, txc)
              .limit(math.min(maxQ.toLong + 1, Int.MaxValue.toLong).toInt)
              .collect()
            require(rows.length <= maxQ,
              s"query stream '$ql' has > $maxQ rows; bm25 collects " +
                "queries driver-side — point 'queries_label' at a " +
                "bounded query table or raise 'max_queries' explicitly")
            val qs = rows
              .map(r => r.getString(0) -> r.getString(1)).toSeq.sortBy(_._1)
            require(qs.nonEmpty, s"query stream '$ql' is empty")
            qs
          }
        }
    }

  def executeWith(df: DataFrame,
                  streams: Map[String, Either[Throwable, DataFrame]])
      : Either[Throwable, DataFrame] =
    for {
      idCol <- requiredString("id_column")
      qs <- querySet(streams)
      out <- graft.core.Errors.safe(
        graft.ops.Bm25.topK(df, idCol, str("text_column", "text"), qs,
          k = int("k", 10), k1 = num("k1", 1.2), b = num("b", 0.75)))
    } yield out

  /** Kept for `queries_label`: that stream is collected driver-side
    * and must not be empty, which a zero-row stand-in always is.
    * Inline queries take the derived dry run. */
  override def dryRunWith(schema: StructType,
                          schemas: Map[String, Either[Throwable, StructType]])
      : Either[Throwable, StructType] =
    str("queries_label") match {
      case None => super.dryRunWith(schema, schemas)
      case Some(ql) => for {
        idCol <- requiredString("id_column")
        _ <- schemas.getOrElse(ql, Left(new NoSuchElementException(
          s"No input data with label '$ql' for bm25 plugin")))
        tc = str("text_column", "text")
        out <-
          if (!schema.fieldNames.contains(idCol))
            Left(new SchemaValidationError(
              s"Column '$idCol' not found in schema"))
          else if (!schema.fieldNames.contains(tc))
            Left(new SchemaValidationError(
              s"Column '$tc' not found in schema"))
          else Right(StructType(Seq(
            StructField("query_id", StringType, nullable = false),
            StructField("rank", LongType, nullable = false),
            schema(idCol),
            StructField("score", DoubleType, nullable = true))))
      } yield out
    }
}

/** Config-driven corpus n-gram heavy hitters ([[graft.ops.Ngrams]]):
  * top-k most frequent word n-grams with document reach — boilerplate
  * and template discovery from config. Options: id_column (req),
  * text_column (default "text"), n (default 2), k (default 100).
  * Output: (rank, ngram, n_occurrences, n_docs). */
class NgramsPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "top_ngrams"

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    for {
      idCol <- requiredString("id_column")
      out <- graft.core.Errors.safe(
        graft.ops.Ngrams.topNgrams(df, idCol, str("text_column", "text"),
          n = int("n", 2), k = int("k", 100)))
    } yield out
}

/** Config-driven blocked fuzzy matching ([[graft.ops.FuzzyJoin]]):
  * within-table near-identical string pairs (entity resolution) via
  * first/last-token blocking + levenshtein verify. Options:
  * id_column (req), string_column (req), max_distance (default 2),
  * max_block (default 0 = uncapped — stop-token block guard).
  * Output: (id_a, id_b, s_a, s_b, distance). */
class FuzzyPairsPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label)
    with graft.core.MultiStreamTransformPlugin {
  def name: String = "fuzzy_pairs"

  def executeWith(df: DataFrame,
                  streams: Map[String, Either[Throwable, DataFrame]])
      : Either[Throwable, DataFrame] =
    for {
      idCol <- requiredString("id_column")
      strCol <- requiredString("string_column")
      refLabel <- graft.core.Errors.safe(str("reference_label"))
      out <- refLabel match {
        case None => graft.core.Errors.safe(
          graft.ops.FuzzyJoin.selfFuzzyPairs(df, idCol, strCol,
            maxDistance = int("max_distance", 2), maxBlock = int("max_block", 0)))
        case Some(rl) =>
          for {
            ref <- streams.getOrElse(rl, Left(new NoSuchElementException(
              s"No input data with label '$rl' for fuzzy_pairs plugin")))
            out <- graft.core.Errors.safe(
              graft.ops.FuzzyJoin.fuzzyMatch(df, ref, idCol, strCol,
                str("reference_id_column", idCol),
                str("reference_string_column", strCol),
                maxDistance = int("max_distance", 2), maxBlock = int("max_block", 0)))
          } yield out
      }
    } yield out
}

/** Config-driven point-in-interval join ([[graft.plans.IntervalJoin]]
  * — the custom LogicalPlan/Strategy/SparkPlan operator): inner-join
  * the default stream's `point_column` against the `intervals_label`
  * stream's `[lo_column, hi_column]` bands, boundaries inclusive.
  * Plans the broadcast sorted-interval index, never a nested loop.
  * Options: point_column, lo_column, hi_column (req),
  * intervals_label (req). */
class IntervalJoinPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label)
    with graft.core.MultiStreamTransformPlugin {
  def name: String = "interval_join"

  def executeWith(df: DataFrame,
                  streams: Map[String, Either[Throwable, DataFrame]])
      : Either[Throwable, DataFrame] =
    for {
      il <- requiredString("intervals_label")
      intervals <- streams.getOrElse(il, Left(new NoSuchElementException(
        s"No input data with label '$il' for interval_join plugin")))
      p <- requiredString("point_column")
      lo <- requiredString("lo_column")
      hi <- requiredString("hi_column")
      out <- graft.core.Errors.safe(
        graft.plans.IntervalJoin.pointInInterval(df, intervals, p, lo, hi))
    } yield out
}

/** Config-driven as-of join ([[graft.ops.AsOfJoin]]): for each left
  * row, the most recent right row with `right.time <= left.time` on
  * matching keys — the time-series lookup the `join` plugin can't
  * express. The right side arrives as a labeled input stream (the
  * reference's multi-stream model, like `join`/`interval_join`).
  * Options: right_label (req), on (req, key column list), left_time /
  * right_time (req; epoch-long in any unit, or native timestamp
  * columns — see TimeCols), tie_column (optional, unique per right
  * row for deterministic equal-time picks), how = "inner" (default)
  * | "left". */
class AsOfJoinPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label)
    with graft.core.MultiStreamTransformPlugin {
  def name: String = "asof_join"

  def executeWith(df: DataFrame,
                  streams: Map[String, Either[Throwable, DataFrame]])
      : Either[Throwable, DataFrame] =
    for {
      rl <- requiredString("right_label")
      right <- streams.getOrElse(rl, Left(new NoSuchElementException(
        s"No input data with label '$rl' for asof_join plugin")))
      on <- stringList("on")
      lt <- requiredString("left_time")
      rt <- requiredString("right_time")
      _ <- collision(df.columns.toSeq, right.columns.toSeq, on)
      out <- graft.core.Errors.safe(
        graft.ops.AsOfJoin.asOf(df, right, on, lt, rt,
          tieBreak = str("tie_column"),
          joinType = str("how", "inner")))
    } yield out

  /** Output = left columns + right payload: a shared non-key name
    * would produce an unwritable duplicate column — fail with the
    * remedy rather than at the sink. */
  private def collision(left: Seq[String], right: Seq[String],
                        on: Seq[String]): Either[Throwable, Unit] =
    right.filterNot(on.contains).find(left.contains) match {
      case Some(c) => Left(new PluginExecutionError(
        s"Column '$c' exists on both sides of asof_join; rename one " +
          "side first (e.g. a rename plugin on the labeled stream)"))
      case None => Right(())
    }
}

/** Config-driven SCD type-2 construction ([[graft.ops.Scd]]): collapse
  * a change-event stream into versioned validity intervals; optionally
  * follow with a point-in-time `as_of` lookup (ISO date/timestamp
  * string) so a config can serve "state of the world at T" directly.
  * Options: mode = "scd2" (default) | "latest" (SCD type-1 snapshot:
  * most recent event per key, input schema kept); key_columns,
  * order_columns (req, lists — order_columns must totally order
  * events within a key); for scd2 also attr_columns (req, list),
  * valid_from_column (req), as_of (optional). */
class ScdPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "scd2"

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    for {
      keys <- stringList("key_columns")
      order <- stringList("order_columns")
      mode <- graft.core.Errors.safe(str("mode", "scd2"))
      out <- mode match {
        case "latest" => graft.core.Errors.safe(
          graft.ops.Scd.latest(df, keys, order))
        case "scd2" =>
          for {
            attrs <- stringList("attr_columns")
            validFrom <- requiredString("valid_from_column")
            built <- graft.core.Errors.safe {
              val scd = graft.ops.Scd.scd2(df, keys, attrs, order, validFrom)
              str("as_of").fold(scd)(t => graft.ops.Scd.asOf(scd,
                org.apache.spark.sql.functions.lit(t)
                  .cast(scd.schema("valid_from").dataType)))
            }
          } yield built
        case other => Left(new PluginExecutionError(
          s"Unknown scd2 mode: '$other'"))
      }
    } yield out
}

/** Config-driven graph analytics over an edge-list stream
  * ([[graft.ops.Graph]]):
  *
  *   method = "pagerank" — power iteration with dangling-mass
  *            redistribution (iterations, damping). EAGER: each
  *            iteration materializes via an eager local checkpoint
  *            (like vocab_encode's driver-side vocabulary build, this
  *            plugin runs jobs at execute time, not sink time).
  *          | "degrees"  — per-node out/in/total degree (lazy)
  *          | "triangles" — exact per-node triangle counts of the
  *            undirected simple graph (degree-ordered orientation)
  *          | "components" — connected components to the min member
  *
  * Options: src_column, dst_column (req). */
class GraphPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "graph"

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    for {
      method <- requiredString("method")
      src <- requiredString("src_column")
      dst <- requiredString("dst_column")
      out <- graft.core.Errors.safe {
        method match {
          case "pagerank" =>
            graft.ops.Graph.pagerank(df, src, dst,
              iterations = int("iterations", 5),
              damping = num("damping", 0.85),
              checkpointInterval = int("checkpoint_interval", 1),
              // tol > 0 enables L1-delta convergence early-exit;
              // default 0 keeps exact fixed-iteration semantics
              tol = num("tol", 0.0),
              // >1 spreads hub sources across salt buckets (the
              // cached edge side is unreachable by AQE's skew split)
              saltBuckets = int("salt_buckets", 1))
          case "degrees" => graft.ops.Graph.degrees(df, src, dst)
          case "triangles" => graft.ops.Graph.triangles(df, src, dst,
            saltBuckets = int("salt_buckets", 1),
            // scratch control: 0 = auto (engage when the projected
            // Bloom-pruned wedge shuffle exceeds scratch_budget_mb),
            // 1 = one-shot, >= 2 = that many apex-slice batches
            wedgeBatches = int("wedge_batches", 0),
            scratchBudgetBytes = num("scratch_budget_mb").fold(16L << 30)(mb =>
              (mb * (1L << 20)).toLong))
          case "components" =>
            // connected components of the (undirected) edge list to
            // the min member id; algorithm = "alternating" (default,
            // O(log n) large-star/small-star) or "labelprop"
            // (O(diameter) min-label propagation)
            val nodes = df.select(org.apache.spark.sql.functions
                .col(src).as("node"))
              .union(df.select(org.apache.spark.sql.functions
                .col(dst).as("node")))
              .distinct()
            val pairs = df.select(
              org.apache.spark.sql.functions.col(src).as("id_a"),
              org.apache.spark.sql.functions.col(dst).as("id_b"))
            graft.ops.Dedup.clusterPairs(nodes, "node", pairs,
              maxIter = int("max_iter", 20),
              algorithm = str("algorithm", "alternating"))
          case other => throw new PluginExecutionError(
            s"Unknown graph method: '$other'")
        }
      }
    } yield out

  /** Kept for pagerank and triangles, which run jobs while the plan
    * is built (and pagerank divides rank mass by a zero node count on
    * zero rows); the other methods take the derived dry run. Every
    * method first checks that the edge columns share a type. */
  override def dryRun(schema: StructType): Either[Throwable, StructType] =
    for {
      method <- requiredString("method")
      src <- requiredString("src_column")
      dst <- requiredString("dst_column")
      out <- {
        if (!schema.fieldNames.contains(src))
          Left(new SchemaValidationError(s"Column '$src' not found in schema"))
        else if (!schema.fieldNames.contains(dst))
          Left(new SchemaValidationError(s"Column '$dst' not found in schema"))
        else if (schema(src).dataType != schema(dst).dataType)
          Left(new SchemaValidationError(
            s"Columns '$src' and '$dst' must share a type, got " +
              s"${schema(src).dataType.simpleString} vs " +
              s"${schema(dst).dataType.simpleString}"))
        else method match {
          case "pagerank" => Right(StructType(Seq(
            StructField("node", schema(src).dataType),
            StructField("rank", DoubleType))))
          case "triangles" => Right(StructType(Seq(
            StructField("node", schema(src).dataType),
            StructField("n_triangles", LongType, nullable = false))))
          case _ => super.dryRun(schema)
        }
      }
    } yield out
}

/** Config-driven wrapper over [[graft.ops.Text.analyze]]: attaches
  * token counts, quality metrics, language guess and fingerprint. */
class TextAnalysisPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "text_analysis"

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    graft.core.Errors.safe(
      Text.analyze(df, str("text_column", "text")))
}

/** Config-driven multinomial Naive Bayes classifier
  * ([[graft.ops.NaiveBayes]]): the model-based quality-filter stage —
  * train a bag-of-words model on a labeled slice of the stream,
  * predict the configured slice. Options: id_column (req),
  * label_column (req), text_column (default "text"), train_filter
  * (SQL predicate selecting training rows; default
  * "<label_column> IS NOT NULL"), predict_filter (SQL predicate
  * selecting rows to score; default "true" = all rows), round
  * (decimal places of the emitted score, default 4). Output:
  * (id_column, pred, score). */
class ClassifyNbPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "classify_nb"

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    for {
      idCol <- requiredString("id_column")
      labelCol <- requiredString("label_column")
      out <- graft.core.Errors.safe {
        import org.apache.spark.sql.functions.expr
        val trainF = str("train_filter", s"$labelCol IS NOT NULL")
        val predictF = str("predict_filter", "true")
        graft.ops.NaiveBayes.trainPredict(
          df.filter(expr(trainF)), df.filter(expr(predictF)),
          idCol, str("text_column", "text"), labelCol, int("round", 4))
      }
    } yield out
}

/** Config-driven time-grid resampling ([[graft.ops.Resample]]): per
  * key, snap events to `step_seconds` slots, emit the key's dense
  * [min, max] slot grid and forward-fill gaps with the last observed
  * value. Options: key_column (req), ts_column (req — native
  * timestamp, or integral epoch NANOS), value_column (req),
  * step_seconds (req). Output: (key_column, slot_start, value,
  * n_obs). */
class ResamplePlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "resample"

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    for {
      keyCol <- requiredString("key_column")
      tsCol <- requiredString("ts_column")
      valueCol <- requiredString("value_column")
      step <- required("step_seconds", OptionKind.long)
      out <- graft.core.Errors.safe(
        graft.ops.Resample.forwardFill(df, keyCol, tsCol, valueCol, step))
    } yield out
}

/** Config-driven data-contract validation
  * ([[graft.ops.Expectations]]). Options: `rules` (inline table
  * name -> SQL predicate rows must satisfy), `unique` (inline table
  * name -> key column list that must not repeat), at least one of
  * the two; `mode` = "report" (default — emit the per-rule
  * `(rule, n_violations, pass)` report) or "gate" (EAGER: run the
  * checks at execute time; all pass -> the input stream flows
  * through untouched, any failure -> the pipeline stops with the
  * failing rules and counts in the error). The gate is the
  * pre-promotion contract: bad data never reaches the sink. */
class ExpectPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "expect"

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    graft.core.Errors.safe {
      val rowRules = table("rules", OptionKind.string)
        .getOrElse(Map.empty).toSeq.sortBy(_._1)
      val uniqueRules = table("unique", OptionKind.strings)
        .getOrElse(Map.empty).toSeq.sortBy(_._1)
      val report = graft.ops.Expectations.check(df, rowRules, uniqueRules)
      str("mode", "report") match {
        case "report" => report
        case "gate" =>
          // bounded collect: one row per rule
          val failed = report.collect().filter(!_.getBoolean(2))
          if (failed.nonEmpty) throw new PluginExecutionError(
            "expectations failed: " + failed.map(row =>
              s"${row.getString(0)} (${row.getLong(1)} violations)")
              .mkString(", "))
          df
        case other => throw new PluginExecutionError(
          s"Unknown expect mode: '$other'")
      }
    }

  /** Kept for mode "gate", which runs its checks as a Spark job while
    * the plan is built; the report takes the derived dry run. */
  override def dryRun(schema: StructType): Either[Throwable, StructType] =
    if (str("mode", "report") == "gate") Right(schema)
    else super.dryRun(schema)
}

/** Config-driven feature-hashing embeddings ([[graft.ops.HashEmbed]]):
  * attach a model-free dense vector per document — the bridge from
  * raw text to the similarity/embedding-dedup stages when the corpus
  * ships no embeddings. Options: id_column (req), text_column
  * (default "text"), dim (default 64), output joined back as
  * `embedding`. */
class HashEmbedPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "hash_embed"

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    for {
      idCol <- requiredString("id_column")
      out <- graft.core.Errors.safe {
        val tc = str("text_column", "text")
        val d = int("dim", 64)
        // LEFT join: the op only emits rows with non-empty normalized
        // text, but the plugin's contract (dryRun) is an appended
        // nullable column — empty-text rows keep flowing with a NULL
        // embedding instead of being silently dropped
        df.join(graft.ops.HashEmbed.embed(df, idCol, tc, d),
          Seq(idCol), "left")
      }
    } yield out
}

/** Config-driven funnel analysis ([[graft.ops.Funnel]]): per-key
  * ordered-step completion depth with the matched event times.
  * Options: key_column (req), ts_column (req), type_column (req),
  * steps (req, ordered list of event types). Output:
  * (key, funnel_depth, t_<step>...). */
class FunnelPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "funnel"

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    for {
      keyCol <- requiredString("key_column")
      tsCol <- requiredString("ts_column")
      tyCol <- requiredString("type_column")
      steps <- stringList("steps")
      out <- graft.core.Errors.safe(
        graft.ops.Funnel.depth(df, keyCol, tsCol, tyCol, steps,
          long("within_seconds")))
    } yield out
}

/** Config-driven cohort retention ([[graft.ops.Cohorts]]): group keys
  * by first-event period, count distinct actives per (cohort,
  * offset). Options: key_column (req), ts_column (req),
  * period_seconds (req). Output:
  * (cohort_period, period_offset, n_active). */
class CohortsPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "cohorts"

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    for {
      keyCol <- requiredString("key_column")
      tsCol <- requiredString("ts_column")
      p <- required("period_seconds", OptionKind.long)
      out <- graft.core.Errors.safe(
        graft.ops.Cohorts.retention(df, keyCol, tsCol, p))
    } yield out
}

/** Structural URL parsing + per-domain balancing
  * ([[graft.ops.Urls]]) — the crawl-curation columns every
  * web-corpus pipeline groups, caps, and mixes by:
  *
  *   method = "parse"          — attach url_scheme/host/path/query/
  *                               domain (eTLD+1)/subdomain/tld/
  *                               path_depth parsed from `url_column`
  *          | "cap_per_domain" — keep a deterministic hash-uniform
  *                               `cap` rows per registered domain
  *                               (`id_column` unique non-null);
  *                               output schema = input schema
  *
  * `psl_file` (optional, both methods): path to a Public-Suffix-List
  * format file (resolved against the config dir) replacing the
  * shipped default suffix table — point it at a full published-list
  * copy for exhaustive eTLD+1 coverage.
  */
class UrlPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "url"

  private def pslRules(): Either[Throwable, graft.ops.Psl.Rules] =
    graft.core.Errors.safe(str("psl_file").fold(graft.ops.Psl.default)(p =>
      graft.ops.Psl.load(resolvePath(p).toString)))

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    for {
      method <- requiredString("method")
      urlCol <- requiredString("url_column")
      rules <- pslRules()
      out <- method match {
        case "parse" =>
          graft.core.Errors.safe(
            graft.ops.Urls.parseUrls(df, urlCol, rules))
        case "cap_per_domain" =>
          for {
            idCol <- requiredString("id_column")
            cap <- required("cap", OptionKind.int)
            out <- graft.core.Errors.safe(
              graft.ops.Urls.capPerDomain(df, urlCol, idCol, cap, rules))
          } yield out
        case other => Left(new PluginExecutionError(
          s"Unknown url method: '$other' (expected parse | cap_per_domain)"))
      }
    } yield out
}

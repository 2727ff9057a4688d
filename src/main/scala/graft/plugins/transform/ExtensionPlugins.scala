package graft.plugins.transform

import java.nio.file.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.core.{PluginExecutionError, SchemaValidationError}
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
        method match {
          case "ngram_verified" =>
            Dedup.ngramJaccardVerified(df, idCol, textColumn,
              n = numOpt("n", 5).toInt,
              threshold = numOpt("threshold", 0.8),
              numHashes = numOpt("num_hashes", 64).toInt,
              bands = numOpt("bands", 16).toInt)
          case "minhash_clustered" =>
            Dedup.byMinhashClustered(df, idCol, textColumn,
              threshold = numOpt("threshold", 0.8),
              shingleK = numOpt("shingle_k", 5).toInt,
              numHashes = numOpt("num_hashes", 64).toInt,
              bands = numOpt("bands", 16).toInt,
              maxBucket = numOpt("max_bucket", 1000).toInt)
          case "minhash_clustered_best" =>
            // quality-aware survivor: keep each component's best
            // score_column member instead of its min id
            val sc = options.getOrElse("score_column",
              throw new PluginExecutionError(
                "Option 'score_column' is required for method " +
                  "'minhash_clustered_best'")).toString
            Dedup.byMinhashClusteredBest(df, idCol, textColumn, sc,
              threshold = numOpt("threshold", 0.8),
              shingleK = numOpt("shingle_k", 5).toInt,
              numHashes = numOpt("num_hashes", 64).toInt,
              bands = numOpt("bands", 16).toInt,
              maxBucket = numOpt("max_bucket", 1000).toInt)
          case "exact" =>
            val keys = options.get("key_columns") match {
              case Some(xs: Seq[_]) => xs.map(_.toString)
              case Some(s) => Seq(s.toString)
              case None => throw new PluginExecutionError(
                "Option 'key_columns' is required for method 'exact'")
            }
            Dedup.exact(df, idCol, keys)
          case "fingerprint" =>
            Dedup.byFingerprint(df, idCol, textColumn)
          case "minhash" =>
            Dedup.byMinhash(df, idCol, textColumn,
              threshold = numOpt("threshold", 0.8),
              shingleK = numOpt("shingle_k", 5).toInt,
              numHashes = numOpt("num_hashes", 64).toInt,
              bands = numOpt("bands", 16).toInt)
            case "winnow_pairs" =>
            Dedup.winnowCandidatePairs(df, idCol, textColumn,
              k = numOpt("k", 5).toInt, w = numOpt("w", 4).toInt,
              minShared = numOpt("min_shared", 3).toInt,
              maxFpFreq = numOpt("max_fp_freq", 20).toInt)
          case "simhash_pairs" =>
            Dedup.simhashPairs(df, idCol, textColumn,
              maxHamming = numOpt("max_hamming", 3).toInt,
              maxBucket = numOpt("max_bucket", 1000).toInt)
          case "image_pairs" =>
            Dedup.imageHashPairs(df, idCol,
              options.getOrElse("payload_column", "payload").toString,
              maxHamming = numOpt("max_hamming", 6).toInt,
              chunks = numOpt("chunks", 8).toInt,
              maxBucket = numOpt("max_bucket", 1000).toInt)
          case "audio_pairs" =>
            Dedup.audioHashPairs(df, idCol,
              options.getOrElse("payload_column", "payload").toString,
              maxHamming = numOpt("max_hamming", 6).toInt,
              chunks = numOpt("chunks", 8).toInt,
              maxBucket = numOpt("max_bucket", 1000).toInt)
          case "ngram_pairs" =>
            Dedup.ngramJaccardPairs(df, idCol, textColumn,
              n = numOpt("n", 3).toInt,
              threshold = numOpt("threshold", 0.5),
              blockCol = options.get("block_column").map(_.toString),
              // the quadratic-block escape hatch must be TOML-reachable
              maxBlock = numOpt("max_block", 20000).toInt)
          case "embedding_pairs" =>
            Dedup.embeddingCosinePairs(df, idCol,
              options.getOrElse("embedding_column", "embedding").toString,
              threshold = numOpt("threshold", 0.95),
              planes = numOpt("planes", 8).toInt,
              probeBits = numOpt("probe_bits", 1).toInt,
              maxBucket = numOpt("max_bucket", 1000).toInt,
              overCap = options.getOrElse("over_cap", "drop").toString,
              // tables > 1 = banded (multi-table) LSH: recall
              // 1-(1-p^planes)^tables without widening any band's
              // buckets — the scale knob for pair recall
              tables = numOpt("tables", 1).toInt,
              // auto_planes: plane count tracks the corpus so the
              // flood cap never silently saturates (probe depth
              // re-solved for recall_floor) — the single-table
              // scale knob; see Dedup.embeddingCosinePairs
              autoPlanes = options.get("auto_planes")
                .exists(_.toString.toBoolean),
              recallFloor = numOpt("recall_floor", 0.92))
          case "boilerplate_lines" =>
            Dedup.removeBoilerplateLines(df, idCol, textColumn,
              minDocs = numOpt("min_docs", 3).toInt)
          case "span_removal" =>
            graft.ops.DupSpans.removeDuplicatedSpans(df, idCol, textColumn,
              k = numOpt("k", 8).toInt,
              minOccurrences = numOpt("min_occurrences", 2).toInt)
          case "semantic" =>
            Dedup.semDeDup(df, idCol,
              options.getOrElse("embedding_column", "embedding").toString,
              threshold = numOpt("threshold", 0.95),
              nClusters = numOpt("n_clusters", 16).toInt,
              assign = options.getOrElse("assign", "kmeans").toString,
              nAssign = numOpt("n_assign", 1).toInt)
          case "incremental" =>
            // batch-vs-stored-corpus dedup: the reference is a table
            // on disk (yesterday's corpus), not a second stream
            val refPath = options.get("reference_path") match {
              case Some(p) => resolvePath(p.toString)
              case None => throw new PluginExecutionError(
                "Option 'reference_path' is required for method 'incremental'")
            }
            val key = options.getOrElse("key_column", "fingerprint").toString
            graft.ops.IncrementalDedup.cleaned(df,
              df.sparkSession.read.parquet(refPath.toString), key,
              expectedItems = numOpt("expected_items", 0).toLong,
              fpp = numOpt("fpp", 0.01))
          case "incremental_neardup" =>
            // fuzzy counterpart: drop batch docs whose text verified-
            // near-dups ANY stored-corpus doc
            val refPath = options.get("reference_path") match {
              case Some(p) => resolvePath(p.toString)
              case None => throw new PluginExecutionError(
                "Option 'reference_path' is required for method 'incremental_neardup'")
            }
            graft.ops.IncrementalDedup.nearDupCleaned(df,
              df.sparkSession.read.parquet(refPath.toString),
              idCol, textColumn,
              shingleK = numOpt("shingle_k", 5).toInt,
              threshold = numOpt("threshold", 0.8),
              numHashes = numOpt("num_hashes", 64).toInt,
              bands = numOpt("bands", 16).toInt,
              maxBucket = numOpt("max_bucket", 1000).toInt)
          case other => throw new PluginExecutionError(
            s"Unknown dedup method: '$other'")
        }
      }
    } yield out

  private def textColumn: String =
    options.getOrElse("text_column", "text").toString

  private def numOpt(key: String, default: Double): Double =
    options.get(key).map(_.toString.toDouble).getOrElse(default)
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
          required("rate").flatMap(r => graft.core.Errors.safe(
            graft.ops.Sampling.sampleByHash(df, keyCol, r.toString.toDouble)))
        case "stratified_cap" =>
          for {
            groups <- stringList("group_columns")
            cap <- required("cap")
            out <- graft.core.Errors.safe(
              graft.ops.Sampling.stratifiedCap(df, groups, keyCol,
                cap.toString.toDouble.toInt))
          } yield out
        case "split" =>
          // parallel lists (not a table): band order defines the hash
          // bounds, and TOML tables do not preserve key order
          for {
            names <- stringList("split_names")
            fracs <- stringList("split_fracs")
            out <- graft.core.Errors.safe {
              require(names.size == fracs.size,
                "split_names and split_fracs must align")
              graft.ops.Sampling.assignSplit(df, keyCol,
                names.zip(fracs.map(_.toDouble)),
                outCol = options.getOrElse("output_column", "split").toString)
            }
          } yield out
        case "split_leakage_safe" =>
          // split keyed on near-dup COMPONENTS: a duplicate family
          // never straddles train/test. pair_method picks the edge
          // generator over text_column.
          import org.apache.spark.sql.functions.col
          for {
            names <- stringList("split_names")
            fracs <- stringList("split_fracs")
            out <- graft.core.Errors.safe {
              require(names.size == fracs.size,
                "split_names and split_fracs must align")
              val textCol =
                options.getOrElse("text_column", "text").toString
              def num(k: String, d: Double): Double =
                options.get(k).map(_.toString.toDouble).getOrElse(d)
              val splits = names.zip(fracs.map(_.toDouble))
              val outName =
                options.getOrElse("output_column", "split").toString
              options.getOrElse("pair_method", "fingerprint")
                  .toString match {
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
                      shingleK = num("shingle_k", 5).toInt,
                      numHashes = num("num_hashes", 64).toInt,
                      bands = num("bands", 16).toInt,
                      maxBucket = num("max_bucket", 1000).toInt,
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
            kv <- required("k")
            out <- graft.core.Errors.safe(
              graft.ops.Sampling.weightedSample(df, keyCol, weightCol,
                kv.toString.toDouble.toInt))
          } yield out
        case "mix_weights" =>
          for {
            groupCol <- requiredString("group_column")
            w <- required("weights")
            out <- graft.core.Errors.safe {
              val weights = w match {
                case m: Map[_, _] =>
                  m.map { case (k, v) => k.toString -> v.toString.toDouble }
                case other => throw new PluginExecutionError(
                  s"Option 'weights' must be a table of source -> weight, got: $other")
              }
              // budget_column switches the share denominator from row
              // counts to the column's mass (token/char budget mix)
              options.get("budget_column").map(_.toString) match {
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
            tv <- required("temperature")
            out <- graft.core.Errors.safe(
              graft.ops.Sampling.mixByTemperature(df, groupCol, keyCol,
                tv.toString.toDouble,
                options.get("budget_column").map(_.toString),
                // the group-cardinality cap's escape hatch must be
                // reachable from TOML (legit 20k-domain mixes exist)
                maxGroups = options.get("max_groups")
                  .map(_.toString.toDouble.toInt).getOrElse(10000)))
          } yield out
        case "shuffle_shard" =>
          // seeded deterministic shuffle as (shard, pos) — epoch
          // reshuffles = new seed, no source rewrite
          for {
            nv <- required("n_shards")
            out <- graft.core.Errors.safe(
              graft.ops.Sampling.shuffleShard(df, keyCol,
                // parse as long, NOT via double: seeds above 2^53
                // would silently round to a different permutation
                seed = options.get("seed")
                  .map(s => try s.toString.toLong catch {
                    case _: NumberFormatException =>
                      throw new PluginExecutionError(
                        s"Option 'seed' must be an integer, got: $s")
                  }).getOrElse(0L),
                nShards = nv.toString.toDouble.toInt,
                // overridable like split's output_column: a frame may
                // already carry shard/pos columns
                shardCol = options.getOrElse("shard_column", "shard")
                  .toString,
                posCol = options.getOrElse("pos_column", "pos").toString))
          } yield out
        case other => Left(new PluginExecutionError(
          s"Unknown sample method: '$other'"))
      }
    } yield out
}

/** Config-driven PII redaction ([[graft.ops.Text.redactPii]]):
  * rewrites text_column in place (or into output_column) and
  * optionally attaches per-category counts. */
class RedactPiiPlugin(options: Map[String, Any], configDir: Path, label: String)
    extends BaseTransformPlugin(options, configDir, label) {
  def name: String = "redact_pii"

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    graft.core.Errors.safe {
      import org.apache.spark.sql.functions.col
      val tc = options.getOrElse("text_column", "text").toString
      val out = options.getOrElse("output_column", tc).toString
      val redacted = df.withColumn(out, Text.redactPii(col(tc)))
      if (options.get("with_counts").exists(_.toString.toBoolean))
        Text.piiCounts(col(tc)).foldLeft(redacted) { case (acc, (n, c)) =>
          acc.withColumn(n, c.cast("long"))
        }
      else redacted
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
      benchId = options.getOrElse("bench_id_column", "doc_id").toString
      out <- graft.core.Errors.safe {
        val tc = options.getOrElse("text_column", "text").toString
        val btc = options.getOrElse("bench_text_column", tc).toString
        val n = options.get("n").map(_.toString.toDouble.toInt).getOrElse(8)
        options.getOrElse("mode", "flag").toString match {
          case "flag" =>
            graft.ops.Contamination.ngramOverlap(df, idCol, tc,
              bench, benchId, btc, n)
          case "remove" =>
            graft.ops.Contamination.removeContaminated(df, idCol, tc,
              bench, benchId, btc, n,
              minOverlap = options.get("min_overlap")
                .map(_.toString.toDouble.toLong).getOrElse(1L))
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
    options.get("target_labels") match {
      case Some(xs: Seq[_]) =>
        val labels = xs.map(_.toString)
        if (labels.isEmpty)
          Left(new graft.core.SchemaValidationError(
            "target_labels must be non-empty"))
        else graft.core.Errors.safe {
          val weights = options.get("target_weights") match {
            case Some(ws: Seq[_]) =>
              val w = ws.map(_.toString.toDouble)
              if (w.size != labels.size)
                throw new graft.core.SchemaValidationError(
                  s"target_weights has ${w.size} entries for " +
                    s"${labels.size} target_labels")
              w
            case Some(other) => throw new graft.core.SchemaValidationError(
              s"target_weights must be a list, got '$other'")
            case None => Seq.fill(labels.size)(1.0)
          }
          labels.zip(weights)
        }
      case Some(other) => Left(new graft.core.SchemaValidationError(
        s"target_labels must be a list, got '$other'"))
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
      kv <- required("k")
      out <- graft.core.Errors.safe {
        val idCol = options.getOrElse("id_column", "doc_id").toString
        val tc = options.getOrElse("text_column", "text").toString
        val ttc = options.getOrElse("target_text_column", tc).toString
        // project, don't rename: renaming would collide when the
        // target already carries a column named `tc`, and the fit
        // needs only the text column anyway (no target id required).
        // target.col (not functions.col): literal top-level name
        // resolution, so a column literally named "meta.text" keeps
        // working instead of parsing as struct-field access
        val k = kv.toString.toDouble.toInt
        val buckets = options.get("buckets")
          .map(_.toString.toDouble.toInt).getOrElse(8192)
        val alpha = options.get("alpha")
          .map(_.toString.toDouble).getOrElse(1.0)
        val seed = options.getOrElse("seed", "dsir").toString
        val roundTo = options.get("round_to")
          .map(_.toString.toDouble.toInt).getOrElse(4)
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

  private def method: String =
    options.get("method").map(_.toString).getOrElse("islands")

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    for {
      user <- requiredString("user_column")
      ts <- requiredString("ts_column")
      value <- requiredString("value_column")
      out <- {
        val gapSeconds = options.get("gap_seconds")
          .map(_.toString.toDouble.toLong).getOrElse(1800L)
        method match {
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
                tsUnit = options.get("ts_unit").map(_.toString)
                  .getOrElse("nanos")))
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
        val size = options.get("size").map(_.toString.toInt).getOrElse(1024)
        graft.ops.Chunking.slidingWindow(df, idCol,
          options.getOrElse("text_column", "text").toString,
          size = size,
          stride = options.get("stride").map(_.toString.toInt).getOrElse(size),
          minTokens = options.get("min_tokens").map(_.toString.toInt).getOrElse(1))
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
        val budget = options.get("budget").map(_.toString.toInt).getOrElse(2048)
        options.getOrElse("method", "chunks").toString match {
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
        val tc = options.getOrElse("text_column", "text").toString
        options.getOrElse("mode", "filter").toString match {
          case "flags" => graft.ops.Text.withBlocklistStats(df, tc, words)
          case "filter" => graft.ops.Text.filterBlocklisted(df, tc, words,
            options.get("max_ratio").map(_.toString.toDouble).getOrElse(0.0))
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
        val agg = org.apache.spark.sql.functions.expr(
          options.getOrElse("aggregation", "count(*)").toString)
        val wide = df.groupBy(groups.map(org.apache.spark.sql.functions.col): _*)
          .pivot(pivotCol, values).agg(agg)
        options.get("fill") match {
          case Some(v) => wide.na.fill(v.toString.toDouble)
          case None => wide
        }
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
          options.getOrElse("variable_column", "measure").toString,
          options.getOrElse("value_column", "value").toString)
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
      val tc = options.getOrElse("text_column", "text").toString
      val vocab = graft.ops.Vocab.topTokens(df, tc,
        options.get("vocab_size").map(_.toString.toInt).getOrElse(65536))
      graft.ops.Vocab.encode(df, tc, vocab,
        oovId = options.get("oov_id").map(_.toString.toLong).getOrElse(-1L),
        outCol = options.getOrElse("output_column", "token_ids").toString)
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
    options.get("merges_file") match {
      case Some(p) =>
        val path = resolvePath(p.toString)
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
        graft.ops.Bpe.train(df,
          options.getOrElse("text_column", "text").toString,
          numMerges = options.get("num_merges")
            .map(_.toString.toDouble.toInt).getOrElse(200),
          sampleN = options.get("sample_n")
            .map(_.toString.toDouble.toInt).getOrElse(2048),
          minPairCount = options.get("min_pair_count")
            .map(_.toString.toDouble.toLong).getOrElse(2L))
    }

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    for {
      method <- Right(options.getOrElse("method", "count").toString)
      out <- method match {
        case "count" => graft.core.Errors.safe {
          graft.ops.Bpe.withTokenCount(df,
            options.getOrElse("text_column", "text").toString,
            mergesFor(df),
            out = options.getOrElse("output_column", "n_tokens_bpe").toString)
        }
        case "encode" => graft.core.Errors.safe {
          graft.ops.Bpe.encode(df,
            options.getOrElse("text_column", "text").toString,
            mergesFor(df),
            out = options.getOrElse("output_column", "tokens").toString)
        }
        case other => Left(new PluginExecutionError(
          s"Unknown bpe method: '$other' (expected count | encode)"))
      }
    } yield out
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
      cols <- options.get("columns") match {
        case Some(xs: Seq[_]) => Right(xs.map(_.toString))
        case Some(s) => Right(Seq(s.toString))
        case None => Left(new PluginExecutionError(
          "Option 'columns' is required"))
      }
      out <- graft.core.Errors.safe {
        graft.ops.Profiling.columnStats(df, cols,
          exact = options.get("exact").exists(_.toString.toBoolean))
      }
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

  private def payloadColumn: String =
    options.getOrElse("payload_column", "payload").toString

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    for {
      method <- requiredString("method")
      out <- graft.core.Errors.safe {
        method match {
          case "decode_meta" =>
            graft.ops.Multimodal.withDecodedMeta(df, payloadColumn,
              options.getOrElse("output_column", "media_meta").toString)
          case "resize" =>
            graft.ops.Multimodal.withResized(df, payloadColumn,
              options.get("factor").map(_.toString.toDouble.toInt).getOrElse(2),
              options.getOrElse("output_column", "resized").toString)
          case "sample_frames" =>
            graft.ops.Multimodal.sampleFrames(df,
              options.getOrElse("id_column", "doc_id").toString,
              payloadColumn,
              options.get("frames").map(_.toString.toDouble.toInt).getOrElse(4))
          case "audio_features" =>
            graft.ops.Audio.withAudioFeatures(df, payloadColumn,
              options.getOrElse("output_column", "audio").toString)
          case "video_frames" =>
            graft.ops.Video.sampleVideoFrames(df,
              options.getOrElse("id_column", "doc_id").toString,
              payloadColumn,
              options.get("stride").map(_.toString.toDouble.toInt)
                .getOrElse(1),
              options.get("max_frames").map(_.toString.toDouble.toInt)
                .getOrElse(256))
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

  private def num(key: String, default: Double): Double =
    options.get(key).map(_.toString.toDouble).getOrElse(default)

  def executeWith(df: DataFrame,
                  streams: Map[String, Either[Throwable, DataFrame]])
      : Either[Throwable, DataFrame] = {
    val embCol0 = options.getOrElse("embedding_column", "embedding").toString
    if (options.getOrElse("method", "brute").toString == "centroids")
      return for {
        groups <- stringList("group_by")
        out <- graft.core.Errors.safe(
          graft.ops.Similarity.groupCentroids(df, groups, embCol0))
      } yield out
    if (options.getOrElse("method", "brute").toString == "quantize_int8")
      return graft.core.Errors.safe(
        graft.ops.Similarity.quantizeInt8(df, embCol0))
    if (options.getOrElse("method", "brute").toString == "pca_project")
      return graft.core.Errors.safe(
        graft.ops.Embeddings.pcaProject(df, embCol0,
          k = num("k", 16).toInt,
          whiten = options.get("whiten").exists(_.toString.toBoolean),
          outCol = options.getOrElse("output_column", "pca").toString))
    if (options.getOrElse("method", "brute").toString == "knn_graph")
      return requiredString("id_column").flatMap(idCol =>
        graft.core.Errors.safe(
          graft.ops.Similarity.knnGraph(df, idCol, embCol0,
            k = num("k", 10).toInt,
            method = options.getOrElse("knn_method", "lsh").toString,
            minCosine = num("min_cosine", -1.0),
            planes = num("planes", 4).toInt,
            probeBits = num("probe_bits", 3).toInt,
            rerank = num("rerank", 64).toInt,
            maxBucket = num("max_bucket", 1000).toInt,
            // the brute cap's escape hatch must be reachable from TOML
            maxBrute = num("max_brute", 100000).toInt,
            // corpus-tracking plane count (default on); false pins
            // the explicit `planes` regardless of corpus size
            autoPlanes = options.get("auto_planes")
              .forall(_.toString.toBoolean),
            // scratch control: 0 = auto (slice the query side past
            // 512k vectors), 1 = one-shot, >= 2 = that many slices;
            // lsh only — rejected (not ignored) for knn_method=brute
            queryBatches = num("query_batches", 0).toInt)))
    if (options.getOrElse("method", "brute").toString == "knn_components")
      return requiredString("id_column").flatMap(idCol =>
        graft.core.Errors.safe(
          graft.ops.Similarity.semanticClusters(df, idCol, embCol0,
            k = num("k", 10).toInt,
            minCosine = num("min_cosine", 0.0),
            method = options.getOrElse("knn_method", "lsh").toString,
            // "same options as knn_graph" (PLUGINS.md) — actually
            // honored, not silently dropped
            planes = num("planes", 4).toInt,
            probeBits = num("probe_bits", 3).toInt,
            rerank = num("rerank", 64).toInt,
            maxBucket = num("max_bucket", 1000).toInt,
            maxBrute = num("max_brute", 100000).toInt,
            autoPlanes = options.get("auto_planes")
              .forall(_.toString.toBoolean),
            queryBatches = num("query_batches", 0).toInt)))
    if (options.getOrElse("method", "brute").toString == "centroid_outliers")
      return stringList("group_by").flatMap(groups =>
        graft.core.Errors.safe(
          graft.ops.Similarity.centroidBandFilter(df, groups, embCol0,
            lo = num("band_lo", 0.0), hi = num("band_hi", 0.95),
            distCol = options.getOrElse("output_column", "centroid_dist")
              .toString)))
    // persisted-index pair: build writes the partitioned IVF index
    // (EAGER, stream passes through for downstream stages); query
    // serves the stream's rows against an index built in THIS run or
    // any earlier one — build once, query many
    if (options.getOrElse("method", "brute").toString == "index_build")
      return for {
        idCol <- requiredString("id_column")
        dir <- requiredString("index_dir")
        out <- graft.core.Errors.safe {
          graft.ops.VectorIndex.build(df, idCol, embCol0,
            resolvePath(dir).toString, nlist = num("nlist", 64).toInt)
          df
        }
      } yield out
    if (options.getOrElse("method", "brute").toString == "index_append")
      return for {
        idCol <- requiredString("id_column")
        dir <- requiredString("index_dir")
        out <- graft.core.Errors.safe {
          graft.ops.VectorIndex.append(df, idCol, embCol0,
            resolvePath(dir).toString)
          df
        }
      } yield out
    if (options.getOrElse("method", "brute").toString == "index_query")
      return for {
        idCol <- requiredString("id_column")
        dir <- requiredString("index_dir")
        out <- graft.core.Errors.safe(
          graft.ops.VectorIndex.topK(df.sparkSession,
            resolvePath(dir).toString, df, idCol, embCol0,
            k = num("k", 10).toInt, nprobe = num("nprobe", 7).toInt,
            rerank = num("rerank", 64).toInt))
      } yield out
    for {
      idCol <- requiredString("id_column")
      ql <- requiredString("queries_label")
      queries <- streams.getOrElse(ql, Left(new NoSuchElementException(
        s"No input data with label '$ql' for similarity plugin")))
      out <- graft.core.Errors.safe {
        val embCol = embCol0
        val k = num("k", 10).toInt
        options.getOrElse("method", "brute").toString match {
          case "brute" =>
            // brute broadcasts the query stream — guard a mislabeled
            // big table before it reaches the broadcast exchange
            graft.ops.Similarity.requireBounded(queries,
              num("max_queries", 100000).toInt,
              s"similarity method=\"brute\" (query stream '$ql')")
            graft.ops.Similarity.bruteForceTopK(df, queries, idCol, embCol, k)
          case "lsh" =>
            graft.ops.Similarity.lshTopK(df, queries, idCol, embCol, k,
              planes = num("planes", 4).toInt,
              probeBits = num("probe_bits", 3).toInt)
          case "ivf" =>
            graft.ops.Similarity.ivfTopK(df, queries, idCol, embCol, k,
              nlist = num("nlist", 8).toInt, nprobe = num("nprobe", 7).toInt)
          case "mmr" =>
            graft.ops.Similarity.mmrTopK(df, queries, idCol, embCol, k,
              poolSize = num("pool_size", 20).toInt,
              lambda = num("lambda", 0.7))
          case "ivfpq" =>
            graft.ops.Similarity.ivfPqTopK(df, queries, idCol, embCol, k,
              nlist = num("nlist", 8).toInt, nprobe = num("nprobe", 7).toInt,
              m = num("m", 16).toInt, ksub = num("ksub", 16).toInt,
              rerank = num("rerank", 128).toInt)
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
    val embCol = options.getOrElse("embedding_column", "embedding").toString
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
    options.getOrElse("method", "brute").toString match {
      case "centroids" | "quantize_int8" | "centroid_outliers" | "brute" | "lsh" =>
        super.dryRunWith(schema, schemas)
      case "pca_project" =>
        need(schema, "schema", embCol).map(_ => StructType(schema.fields :+
          StructField(options.getOrElse("output_column", "pca").toString,
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
    required("percentiles").flatMap {
      case xs: Seq[_] => graft.core.Errors.safe(xs.map { x =>
        val p = x.toString.toDouble
        require(p >= 0.0 && p <= 1.0, s"percentile out of [0,1]: $p")
        val lbl = "p" + BigDecimal(p * 100).underlying.stripTrailingZeros
          .toPlainString.replace(".", "_")
        lbl -> p
      })
      case other => Left(new PluginExecutionError(
        s"Option 'percentiles' must be a list of numbers, got: $other"))
    }

  private def band: Either[Throwable, (Double, Double)] =
    for {
      lo <- required("band_lo").map(_.toString.toDouble)
      hi <- required("band_hi").map(_.toString.toDouble)
    } yield (lo, hi)

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    for {
      keys <- stringList("group_by")
      valueCol <- requiredString("value_column")
      out <- options.getOrElse("method", "auto").toString match {
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
            df, keys, valueCol, lo, hi,
            options.getOrElse("output_column", "pct_rank").toString))
        }
        case other => Left(new PluginExecutionError(
          s"Unknown percentiles method: '$other'"))
      }
    } yield out

  /** Kept for the percentile methods: "auto" measures the group
    * cardinality with a Spark job while the plan is built. The band
    * filter takes the derived dry run. */
  override def dryRun(schema: StructType): Either[Throwable, StructType] =
    if (options.getOrElse("method", "auto").toString == "band")
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

  private def num(key: String, default: Double): Double =
    options.get(key).map(_.toString.toDouble).getOrElse(default)

  private def thresholds: Text.GopherThresholds = Text.GopherThresholds(
    minWords = num("min_words", 50).toInt,
    maxWords = num("max_words", 100000).toInt,
    minMeanWordLen = num("min_mean_word_len", 3.0),
    maxMeanWordLen = num("max_mean_word_len", 10.0),
    maxSymbolRatio = num("max_symbol_ratio", 0.1),
    maxBulletLineFrac = num("max_bullet_line_frac", 0.9),
    maxEllipsisLineFrac = num("max_ellipsis_line_frac", 0.3),
    minAlphaWordFrac = num("min_alpha_word_frac", 0.8),
    minStopwordHits = num("min_stopword_hits", 2).toInt,
    maxDupLineFrac = num("max_dup_line_frac", 0.3))

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    graft.core.Errors.safe {
      val tc = options.getOrElse("text_column", "text").toString
      options.getOrElse("mode", "filter").toString match {
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
        val tc = options.getOrElse("text_column", "text").toString
        val k = options.get("k").map(_.toString.toDouble.toInt).getOrElse(8)
        val minOcc = options.get("min_occurrences")
          .map(_.toString.toDouble.toInt).getOrElse(2)
        options.getOrElse("mode", "stats").toString match {
          case "stats" =>
            graft.ops.DupSpans.spanStats(df, idCol, tc, k, minOcc)
          case "filter" =>
            val maxCov = options.get("max_coverage") match {
              case Some(v) => v.toString.toDouble
              case None => throw new PluginExecutionError(
                "Option 'max_coverage' is required for mode 'filter'")
            }
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
        val tc = options.getOrElse("text_column", "text").toString
        if (!schema.fieldNames.contains(idCol))
          Left(new SchemaValidationError(
            s"Column '$idCol' not found in schema"))
        else if (!schema.fieldNames.contains(tc))
          Left(new SchemaValidationError(
            s"Column '$tc' not found in schema"))
        else if (options.getOrElse("mode", "stats").toString == "filter")
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
    minLineWords = options.get("min_line_words")
      .map(_.toString.toDouble.toInt).getOrElse(5),
    minSentences = options.get("min_sentences")
      .map(_.toString.toDouble.toInt).getOrElse(3))

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    graft.core.Errors.safe {
      val tc = options.getOrElse("text_column", "text").toString
      options.getOrElse("mode", "filter").toString match {
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
        val tc = options.getOrElse("text_column", "text").toString
        val addK = options.get("add_k").map(_.toString.toDouble).getOrElse(1.0)
        options.getOrElse("mode", "score").toString match {
          case "score" => graft.ops.LmScore.scoreDocs(df, idCol, tc, addK)
          case "filter" =>
            val minLp = options.get("min_avg_logprob") match {
              case Some(v) => v.toString.toDouble
              case None => throw new PluginExecutionError(
                "Option 'min_avg_logprob' is required for mode 'filter'")
            }
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
        graft.ops.Tfidf.topTerms(df, idCol,
          options.getOrElse("text_column", "text").toString,
          k = options.get("k").map(_.toString.toDouble.toInt).getOrElse(10)))
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
    required("queries").flatMap {
      case m: Map[_, _] if m.nonEmpty =>
        Right(m.toSeq.map { case (k, v) => k.toString -> v.toString }
          .sortBy(_._1))
      case other => Left(new PluginExecutionError(
        s"Option 'queries' must be a non-empty table of query_id -> text, got: $other"))
    }

  /** Query set: the inline `queries` table, or — stream-routing form
    * — a `queries_label` stream with (query_id, query_text) columns,
    * collected driver-side (the broadcast-side contract the operator
    * already carries). */
  private def querySet(streams: Map[String, Either[Throwable, DataFrame]])
      : Either[Throwable, Seq[(String, String)]] =
    options.get("queries_label").map(_.toString) match {
      case None => inlineQueries()
      case Some(ql) =>
        streams.getOrElse(ql, Left(new NoSuchElementException(
          s"No input data with label '$ql' for bm25 plugin"))).flatMap {
          qdf => graft.core.Errors.safe {
            val idc = options.getOrElse("query_id_column", "query_id").toString
            val txc = options.getOrElse("query_text_column", "query_text").toString
            // the collect is the operator's broadcast-side contract,
            // but a mislabeled BIG table must fail with a clear cap
            // error, not OOM the driver — limit bounds the fetch.
            val maxQ = options.get("max_queries")
              .map(_.toString.toDouble.toInt).getOrElse(10000)
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
        graft.ops.Bm25.topK(df, idCol,
          options.getOrElse("text_column", "text").toString, qs,
          k = options.get("k").map(_.toString.toDouble.toInt).getOrElse(10),
          k1 = options.get("k1").map(_.toString.toDouble).getOrElse(1.2),
          b = options.get("b").map(_.toString.toDouble).getOrElse(0.75)))
    } yield out

  /** Kept for `queries_label`: that stream is collected driver-side
    * and must not be empty, which a zero-row stand-in always is.
    * Inline queries take the derived dry run. */
  override def dryRunWith(schema: StructType,
                          schemas: Map[String, Either[Throwable, StructType]])
      : Either[Throwable, StructType] =
    options.get("queries_label").map(_.toString) match {
      case None => super.dryRunWith(schema, schemas)
      case Some(ql) => for {
        idCol <- requiredString("id_column")
        _ <- schemas.getOrElse(ql, Left(new NoSuchElementException(
          s"No input data with label '$ql' for bm25 plugin")))
        tc = options.getOrElse("text_column", "text").toString
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
        graft.ops.Ngrams.topNgrams(df, idCol,
          options.getOrElse("text_column", "text").toString,
          n = options.get("n").map(_.toString.toDouble.toInt).getOrElse(2),
          k = options.get("k").map(_.toString.toDouble.toInt).getOrElse(100)))
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

  private def maxDistance: Int =
    options.get("max_distance").map(_.toString.toDouble.toInt).getOrElse(2)
  private def maxBlock: Int =
    options.get("max_block").map(_.toString.toDouble.toInt).getOrElse(0)

  def executeWith(df: DataFrame,
                  streams: Map[String, Either[Throwable, DataFrame]])
      : Either[Throwable, DataFrame] =
    for {
      idCol <- requiredString("id_column")
      strCol <- requiredString("string_column")
      out <- options.get("reference_label").map(_.toString) match {
        case None => graft.core.Errors.safe(
          graft.ops.FuzzyJoin.selfFuzzyPairs(df, idCol, strCol,
            maxDistance = maxDistance, maxBlock = maxBlock))
        case Some(rl) =>
          for {
            ref <- streams.getOrElse(rl, Left(new NoSuchElementException(
              s"No input data with label '$rl' for fuzzy_pairs plugin")))
            out <- graft.core.Errors.safe(
              graft.ops.FuzzyJoin.fuzzyMatch(df, ref, idCol, strCol,
                options.getOrElse("reference_id_column", idCol).toString,
                options.getOrElse("reference_string_column", strCol).toString,
                maxDistance = maxDistance, maxBlock = maxBlock))
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
      how = options.get("how").map(_.toString).getOrElse("inner")
      _ <- collision(df.columns.toSeq, right.columns.toSeq, on)
      out <- graft.core.Errors.safe(
        graft.ops.AsOfJoin.asOf(df, right, on, lt, rt,
          tieBreak = options.get("tie_column").map(_.toString),
          joinType = how))
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
      out <- options.getOrElse("mode", "scd2").toString match {
        case "latest" => graft.core.Errors.safe(
          graft.ops.Scd.latest(df, keys, order))
        case "scd2" =>
          for {
            attrs <- stringList("attr_columns")
            validFrom <- requiredString("valid_from_column")
            built <- graft.core.Errors.safe {
              val scd = graft.ops.Scd.scd2(df, keys, attrs, order, validFrom)
              options.get("as_of") match {
                case Some(t) => graft.ops.Scd.asOf(scd,
                  org.apache.spark.sql.functions.lit(t.toString)
                    .cast(scd.schema("valid_from").dataType))
                case None => scd
              }
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
              iterations = options.get("iterations")
                .map(_.toString.toDouble.toInt).getOrElse(5),
              damping = options.get("damping")
                .map(_.toString.toDouble).getOrElse(0.85),
              checkpointInterval = options.get("checkpoint_interval")
                .map(_.toString.toDouble.toInt).getOrElse(1),
              // tol > 0 enables L1-delta convergence early-exit;
              // default 0 keeps exact fixed-iteration semantics
              tol = options.get("tol")
                .map(_.toString.toDouble).getOrElse(0.0),
              // >1 spreads hub sources across salt buckets (the
              // cached edge side is unreachable by AQE's skew split)
              saltBuckets = options.get("salt_buckets")
                .map(_.toString.toDouble.toInt).getOrElse(1))
          case "degrees" => graft.ops.Graph.degrees(df, src, dst)
          case "triangles" => graft.ops.Graph.triangles(df, src, dst,
            saltBuckets = options.get("salt_buckets")
              .map(_.toString.toDouble.toInt).getOrElse(1),
            // scratch control: 0 = auto (engage when the projected
            // Bloom-pruned wedge shuffle exceeds scratch_budget_mb),
            // 1 = one-shot, >= 2 = that many apex-slice batches
            wedgeBatches = options.get("wedge_batches")
              .map(_.toString.toDouble.toInt).getOrElse(0),
            scratchBudgetBytes = options.get("scratch_budget_mb")
              .map(v => (v.toString.toDouble * (1L << 20)).toLong)
              .getOrElse(16L << 30))
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
              maxIter = options.get("max_iter")
                .map(_.toString.toDouble.toInt).getOrElse(20),
              algorithm = options.get("algorithm")
                .map(_.toString).getOrElse("alternating"))
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
      Text.analyze(df, options.getOrElse("text_column", "text").toString))
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
        val tc = options.getOrElse("text_column", "text").toString
        val trainF = options.getOrElse(
          "train_filter", s"$labelCol IS NOT NULL").toString
        val predictF = options.getOrElse("predict_filter", "true").toString
        graft.ops.NaiveBayes.trainPredict(
          df.filter(expr(trainF)), df.filter(expr(predictF)),
          idCol, tc, labelCol,
          options.get("round").map(_.toString.toDouble.toInt).getOrElse(4))
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
      step <- required("step_seconds")
      out <- graft.core.Errors.safe(
        graft.ops.Resample.forwardFill(df, keyCol, tsCol, valueCol,
          step.toString.toDouble.toLong))
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

  private def tableOpt(key: String): Map[String, Any] =
    options.get(key) match {
      case Some(m: Map[_, _]) => m.map { case (k, v) => k.toString -> v }
      case Some(other) => throw new PluginExecutionError(
        s"Option '$key' must be a table, got: $other")
      case None => Map.empty
    }

  def execute(df: DataFrame): Either[Throwable, DataFrame] =
    graft.core.Errors.safe {
      val rowRules = tableOpt("rules").toSeq
        .map { case (k, v) => k -> v.toString }.sortBy(_._1)
      val uniqueRules = tableOpt("unique").toSeq.map {
        case (k, xs: Seq[_]) => k -> xs.map(_.toString)
        case (k, s) => k -> Seq(s.toString)
      }.sortBy(_._1)
      val report = graft.ops.Expectations.check(df, rowRules, uniqueRules)
      options.getOrElse("mode", "report").toString match {
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
    if (options.getOrElse("mode", "report").toString == "gate") Right(schema)
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
        val tc = options.getOrElse("text_column", "text").toString
        val d = options.get("dim").map(_.toString.toDouble.toInt).getOrElse(64)
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
          options.get("within_seconds").map(_.toString.toDouble.toLong)))
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
      p <- required("period_seconds")
      out <- graft.core.Errors.safe(
        graft.ops.Cohorts.retention(df, keyCol, tsCol,
          p.toString.toDouble.toLong))
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
    options.get("psl_file") match {
      case None => Right(graft.ops.Psl.default)
      case Some(p) => graft.core.Errors.safe(
        graft.ops.Psl.load(resolvePath(p.toString).toString))
    }

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
            cap <- required("cap")
            out <- graft.core.Errors.safe(
              graft.ops.Urls.capPerDomain(df, urlCol, idCol,
                cap.toString.toDouble.toInt, rules))
          } yield out
        case other => Left(new PluginExecutionError(
          s"Unknown url method: '$other' (expected parse | cap_per_domain)"))
      }
    } yield out
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Text
import graft.queries.Fixtures._

/** Structured-streaming queries through the plugin pipeline, and the
  * sustained 10-copy landings that time state throughput. */
object StreamQueries {
  val all: Seq[Query] = Seq(
    // ---- STREAMING windowed agg through the plugin pipeline ------
    // The real streaming path end-to-end under the hash oracle:
    // parquet_stream_scan (readStream) → watermark + tumbling-window
    // agg → stream_parquet_writer (AvailableNow, checkpointed
    // exactly-once file sink), then the sink's parquet is read back
    // as the result. Append mode emits exactly the windows the
    // watermark finalized — window_end ≤ max(event_time) − 2h after
    // the trailing no-data batch — which the DuckDB oracle replicates
    // with the same cutoff, so the row set hash-matches the batch
    // semantics it claims.
    Query("stream_events_window", (s, dir) => {
      implicit val spark: SparkSession = s
      val work = scratch("stream_ew")
      val inDir = sharedLanding(dir, "events")
      val scan = new graft.plugins.streaming.ParquetStreamScanPlugin(
        Map("input_path" -> inDir.toString), work, "default")
      val events = graft.streaming.Streams.tsToNanos(
        scan.execute().fold(e => throw e, identity))
        .withColumn("event_time", (col("ts") / 1000000000L).cast("timestamp"))
      val agg = graft.streaming.Streams.windowedAgg(events, "1 hour", "2 hours")
      val sink = new graft.plugins.streaming.StreamParquetWriterPlugin(
        Map("output_path" -> work.resolve("out").toString), work, "default")
      sink.execute(agg).fold(e => throw e, _ => ())
      s.read.parquet(work.resolve("out").toString)
        .select(
          col("window_start").cast("long").as("hour_start"),
          col("event_type"), col("n"),
          r(col("sum_value"), 2).as("sum_value"))
        .orderBy("hour_start", "event_type")
    },
      // Same aggregation, restricted to the windows a 2-hour watermark
      // finalizes in append mode: window_end ≤ max(event_time) − 2h.
      Some("""WITH mx AS (SELECT max(epoch(ts)) AS m FROM events)
        |SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS hour_start,
        |  event_type, count(*) AS n, r(sum(value), 2) AS sum_value
        |FROM events, mx
        |GROUP BY hour_start, event_type, m
        |HAVING hour_start + 3600 <= m - 7200
        |ORDER BY hour_start, event_type""".stripMargin),
      stream = Some(Landing("events"))),

    // ---- streaming fingerprint dedup under the oracle ------------
    // Continuous-ingest dedup: parquet_stream_scan → watermarked
    // dropDuplicates on the md5 fingerprint → exactly-once parquet
    // sink. The surviving doc per fingerprint depends on micro-batch
    // arrival order, so the gated output is the FINGERPRINT SET —
    // deterministic and exactly what DuckDB recomputes with
    // SELECT DISTINCT over the same normalization.
    Query("stream_dedup_fingerprint", (s, dir) => {
      implicit val spark: SparkSession = s
      val work = scratch("stream_dd")
      val inDir = sharedLanding(dir, "documents")
      val scan = new graft.plugins.streaming.ParquetStreamScanPlugin(
        Map("input_path" -> inDir.toString), work, "default")
      val docs = scan.execute().fold(e => throw e, identity)
        // synthetic event time (documents carry none): doc_id seconds,
        // +1 so no row sits AT epoch 0 — the initial watermark is 0
        // and event_time <= watermark counts as late (drops doc 0)
        .withColumn("event_time", expr("timestamp_micros((doc_id + 1) * 1000000)"))
      val deduped = graft.streaming.Streams.dedupStream(
        docs, "text", "event_time", watermark = "1 hour")
      val sink = new graft.plugins.streaming.StreamParquetWriterPlugin(
        Map("output_path" -> work.resolve("out").toString), work, "default")
      sink.execute(deduped).fold(e => throw e, _ => ())
      s.read.parquet(work.resolve("out").toString)
        .select(Text.fingerprint(col("text")).as("fingerprint"))
        .orderBy("fingerprint")
    },
      // deterministic part of streaming dropDuplicates: the distinct
      // fingerprint set (the surviving doc_id depends on arrival order)
      Some("""SELECT DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text),
        |    '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents ORDER BY fingerprint""".stripMargin),
      stream = Some(Landing("documents"))),

    // ---- STREAMING grid resample (custom O(1) state) -------------
    // The continuous twin of events_resample: explicit per-key state
    // holds only the open slot's accumulators (flatMapGroupsWithState
    // — never an event buffer); closing a slot emits it plus the
    // forward-filled gap slots. Under the AvailableNow single-batch
    // replay the output equals the batch operator exactly, which is
    // what the shared oracle asserts.
    Query("stream_resample", (s, dir) => {
      implicit val spark: SparkSession = s
      import s.implicits._
      val work = scratch("stream_rs")
      val inDir = sharedLanding(dir, "events")
      val scan = new graft.plugins.streaming.ParquetStreamScanPlugin(
        Map("input_path" -> inDir.toString), work, "default")
      val ev = graft.streaming.Streams.tsToNanos(
          scan.execute().fold(e => throw e, identity))
        .select(col("user_id").as("key"),
          expr(s"timestamp_micros(${graft.ops.TimeCols.floorDivSql("ts", 1000L)})").as("event_time"),
          col("value"))
        .as[graft.streaming.Streams.Obs]
      val filled = graft.streaming.Streams.resampleStream(ev, 21600L)
      val sink = new graft.plugins.streaming.StreamParquetWriterPlugin(
        Map("output_path" -> work.resolve("out").toString), work, "default")
      sink.execute(filled.toDF()).fold(e => throw e, _ => ())
      s.read.parquet(work.resolve("out").toString)
        .select(col("key").as("user_id"), col("slot_start"),
          col("value"), col("n_obs"))
        .orderBy("user_id", "slot_start")
    },
      // identical to events_resample: the streaming operator's
      // single-batch replay must equal the batch grid row for row
      Some("""WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000000000 AS sec, value
        |  FROM events
        |), s AS (
        |  SELECT user_id, (sec // 21600) * 21600 AS slot, sec, value
        |  FROM e
        |), rep AS (
        |  SELECT user_id, slot, value,
        |    row_number() OVER (PARTITION BY user_id, slot
        |      ORDER BY sec DESC, value DESC) AS rn,
        |    count(*) OVER (PARTITION BY user_id, slot) AS n_obs
        |  FROM s
        |), obs AS (
        |  SELECT user_id, slot, value AS v_obs, n_obs FROM rep WHERE rn = 1
        |), bounds AS (
        |  SELECT user_id, min(slot) AS lo, max(slot) AS hi
        |  FROM s GROUP BY user_id
        |), grid AS (
        |  SELECT user_id, unnest(range(lo, hi + 1, 21600)) AS slot
        |  FROM bounds
        |), j AS (
        |  SELECT g.user_id, g.slot, o.v_obs,
        |    coalesce(o.n_obs, 0) AS n_obs
        |  FROM grid g LEFT JOIN obs o
        |    ON g.user_id = o.user_id AND g.slot = o.slot)
        |SELECT user_id, slot AS slot_start,
        |  last_value(v_obs IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY slot ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS value,
        |  CAST(n_obs AS BIGINT) AS n_obs
        |FROM j ORDER BY user_id, slot_start""".stripMargin),
      stream = Some(Landing("events"))),

    // ---- STREAMING snapshot commits (effectively-once) -----------
    // Continuous ingestion with time travel: each micro-batch commits
    // an immutable snapshot version keyed by its batch id (replays
    // are no-ops), so any past version stays pinned while new data
    // lands. The gated output is the latest version's row set.
    Query("stream_snapshot", (s, dir) => {
      implicit val spark: SparkSession = s
      val work = scratch("stream_snap")
      val inDir = sharedLanding(dir, "documents")
      val scan = new graft.plugins.streaming.ParquetStreamScanPlugin(
        Map("input_path" -> inDir.toString), work, "default")
      val docs = scan.execute().fold(e => throw e, identity)
        .select("doc_id", "lang", "source", "n_chars")
      val sink = new graft.plugins.streaming.StreamSnapshotWriterPlugin(
        Map("output_path" -> work.resolve("store").toString), work, "default")
      sink.execute(docs).fold(e => throw e, _ => ())
      graft.sources.Snapshots.read(s, work.resolve("store").toString)
        .orderBy("doc_id")
    },
      Some("""SELECT doc_id, lang, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin),
      stream = Some(Landing("documents"))),

    // ---- STREAMING model-based quality scoring -------------------
    // The deployment face of text_classify_nb: a bounded 64-term
    // log-odds model trains BATCH-side on the labeled split, then
    // scores the document stream STATELESSLY — the model rides in the
    // plan as a map literal, so the streaming stage has no join, no
    // shuffle and no state store (the only shape that scores an
    // unbounded stream at wire speed). Oracle = the identical capped
    // model and scoring replayed in SQL; scores r()-rounded before
    // the sign decision.
    Query("stream_classify", (s, dir) => {
      implicit val spark: SparkSession = s
      val work = scratch("stream_cls")
      val (train, _, _) = nbSplit(s, dir)
      val (prior, weights) = graft.ops.NaiveBayes.logOddsModel(
        train, "text", "label", "hi", "lo", maxTerms = 64)
      val inDir = sharedLanding(dir, "documents")
      val scan = new graft.plugins.streaming.ParquetStreamScanPlugin(
        Map("input_path" -> inDir.toString), work, "default")
      val docs = scan.execute().fold(e => throw e, identity)
        .filter(length(graft.ops.Text.normalize(col("text"))) > 0)
      val scored = graft.ops.NaiveBayes.scoreWithModel(
        docs, "text", prior, weights, "hi", "lo")
        .select(col("doc_id"), col("pred"), col("score"))
      val sink = new graft.plugins.streaming.StreamParquetWriterPlugin(
        Map("output_path" -> work.resolve("out").toString), work, "default")
      sink.execute(scored).fold(e => throw e, _ => ())
      s.read.parquet(work.resolve("out").toString).orderBy("doc_id")
    },
      // batch replay of the stream-scored NB model: same capped 64-term
      // selection (exact-rational deviation key), same ln-difference
      // weights, r()-rounded score before the >= 0 sign decision
      Some((nbCommonCtes +
        """, counts AS (
        |  SELECT term,
        |    count(*) FILTER (WHERE label = 'hi') AS n_a,
        |    count(*) FILTER (WHERE label = 'lo') AS n_b
        |  FROM trtoks GROUP BY term
        |), totals AS (
        |  SELECT count(*) FILTER (WHERE label = 'hi') AS tot_a,
        |    count(*) FILTER (WHERE label = 'lo') AS tot_b,
        |    count(DISTINCT term) AS v
        |  FROM trtoks
        |), wts AS (
        |  SELECT term,
        |    ln(CAST(n_a + 1 AS DOUBLE) / (tot_a + v)) -
        |      ln(CAST(n_b + 1 AS DOUBLE) / (tot_b + v)) AS w,
        |    (CAST(n_a + 1 AS DOUBLE) / (tot_a + v)) *
        |      (CAST(tot_b + v AS DOUBLE) / (n_b + 1)) AS odds_exact
        |  FROM counts CROSS JOIN totals
        |), model AS (
        |  SELECT term, w FROM wts
        |  ORDER BY greatest(odds_exact, 1.0 / odds_exact) DESC, term ASC
        |  LIMIT 64
        |), prior AS (
        |  SELECT ln(CAST(count(*) FILTER (WHERE label = 'hi') AS DOUBLE)) -
        |    ln(CAST(count(*) FILTER (WHERE label = 'lo') AS DOUBLE)) AS p
        |  FROM lab WHERE doc_id % 5 <> 0
        |), contrib AS (
        |  SELECT toks.doc_id, sum(m.w) AS s
        |  FROM toks JOIN model m USING (term)
        |  GROUP BY toks.doc_id
        |), scored AS (
        |  SELECT d.doc_id, r(prior.p + coalesce(contrib.s, 0.0), 4) AS score
        |  FROM d CROSS JOIN prior
        |  LEFT JOIN contrib ON d.doc_id = contrib.doc_id
        |  WHERE length(d.t) > 0)
        |SELECT doc_id, CASE WHEN score >= 0 THEN 'hi' ELSE 'lo' END AS pred,
        |  score
        |FROM scored ORDER BY doc_id""").stripMargin),
      stream = Some(Landing("documents"))),

    // ---- stream-stream interval join under the oracle ------------
    // Purchase→click attribution: each purchase joins the same user's
    // clicks from the preceding 30 minutes. Event times truncate to
    // whole seconds via integer `div` (the ns fixtures would flip
    // boundary rows under a double division), and the watermark is
    // wider than the fixture's span, so the appended inner-join set
    // equals the batch interval join DuckDB recomputes exactly.
    Query("stream_interval_join", (s, dir) => {
      implicit val spark: SparkSession = s
      val work = scratch("stream_ij")
      val inDir = sharedLanding(dir, "events")
      val scan = new graft.plugins.streaming.ParquetStreamScanPlugin(
        Map("input_path" -> inDir.toString), work, "default")
      val ev = graft.streaming.Streams.tsToNanos(
        scan.execute().fold(e => throw e, identity))
        .withColumn("event_time", expr(graft.ops.TimeCols.floorDivSql("ts", 1000000000L)).cast("timestamp"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "event_time")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "event_time")
      val joined = graft.streaming.Streams.intervalJoin(
          purchases, clicks, "user_id", "event_time",
          lookback = "30 minutes", watermark = "3700 days")
        .select(col("event_id").as("purchase_id"),
          col("r_event_id").as("click_id"), col("user_id"),
          col("event_time").cast("long").as("purchase_t"),
          col("r_event_time").cast("long").as("click_t"))
      val sink = new graft.plugins.streaming.StreamParquetWriterPlugin(
        Map("output_path" -> work.resolve("out").toString), work, "default")
      sink.execute(joined).fold(e => throw e, _ => ())
      s.read.parquet(work.resolve("out").toString)
        .orderBy("purchase_id", "click_id")
    },
      // exact batch recomputation of the streaming interval join:
      // whole-second truncation (integer //), 30-minute lookback,
      // inclusive bounds
      Some("""WITH p AS (
        |  SELECT event_id AS purchase_id, user_id,
        |    epoch_ns(ts) // 1000000000 AS purchase_t
        |  FROM events WHERE event_type = 'purchase'
        |), c AS (
        |  SELECT event_id AS click_id, user_id,
        |    epoch_ns(ts) // 1000000000 AS click_t
        |  FROM events WHERE event_type = 'click'
        |)
        |SELECT p.purchase_id, c.click_id, p.user_id, p.purchase_t, c.click_t
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.click_t >= p.purchase_t - 1800 AND c.click_t <= p.purchase_t
        |ORDER BY p.purchase_id, c.click_id""".stripMargin),
      stream = Some(Landing("events"))),

    // ---- TRUE two-source stream-stream interval join --------------
    // Same attribution semantics as stream_interval_join, but
    // purchases and clicks arrive as two INDEPENDENT file streams
    // (separate landing dirs, separate readStream sources) — the
    // production topology where each side has its own ingestion
    // pipeline — joined by Spark's symmetric-hash stream-stream join
    // with watermark-bounded buffers on BOTH sides. The oracle is the
    // identical batch interval join; StreamingSpec separately pins
    // the state bound (buffered rows are evicted as the watermark
    // advances).
    Query("stream_stream_join", (s, dir) => {
      implicit val spark: SparkSession = s
      val work = scratch("stream_ssj")
      val ev = graft.streaming.Streams.tsToNanos(t(s, dir, "events"))
      val pDir = work.resolve("purchases")
      val cDir = work.resolve("clicks")
      ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
        .write.parquet(pDir.toString)
      ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
        .write.parquet(cDir.toString)
      def side(d: java.nio.file.Path): DataFrame = {
        val scan = new graft.plugins.streaming.ParquetStreamScanPlugin(
          Map("input_path" -> d.toString), work, "default")
        graft.streaming.Streams.tsToNanos(
          scan.execute().fold(e => throw e, identity))
          .withColumn("event_time",
            expr(graft.ops.TimeCols.floorDivSql("ts", 1000000000L)).cast("timestamp"))
          .select("event_id", "user_id", "event_time")
      }
      val joined = graft.streaming.Streams.intervalJoin(
          side(pDir), side(cDir), "user_id", "event_time",
          lookback = "30 minutes", watermark = "3700 days")
        .select(col("event_id").as("purchase_id"),
          col("r_event_id").as("click_id"), col("user_id"),
          col("event_time").cast("long").as("purchase_t"),
          col("r_event_time").cast("long").as("click_t"))
      val sink = new graft.plugins.streaming.StreamParquetWriterPlugin(
        Map("output_path" -> work.resolve("out").toString), work, "default")
      sink.execute(joined).fold(e => throw e, _ => ())
      s.read.parquet(work.resolve("out").toString)
        .orderBy("purchase_id", "click_id")
    },
      // identical batch semantics to stream_interval_join — the two-
      // source topology changes the execution, not the result
      Some("""WITH p AS (
        |  SELECT event_id AS purchase_id, user_id,
        |    epoch_ns(ts) // 1000000000 AS purchase_t
        |  FROM events WHERE event_type = 'purchase'
        |), c AS (
        |  SELECT event_id AS click_id, user_id,
        |    epoch_ns(ts) // 1000000000 AS click_t
        |  FROM events WHERE event_type = 'click'
        |)
        |SELECT p.purchase_id, c.click_id, p.user_id, p.purchase_t, c.click_t
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.click_t >= p.purchase_t - 1800 AND c.click_t <= p.purchase_t
        |ORDER BY p.purchase_id, c.click_id""".stripMargin),
      stream = Some(Landing("events"))),

    // ---- streaming sessionization under the oracle ---------------
    // flatMapGroupsWithState gap sessions on the event stream. With
    // AvailableNow the trailing session per user is still OPEN in
    // state when input drains (its timeout never fires), so the
    // emitted rows are exactly "every session except each user's
    // last" — which the DuckDB oracle replicates by dropping the
    // max-session_id row per user from the batch sessionization.
    // Timestamps truncate to whole seconds on both sides (integer
    // division, no float path).
    Query("stream_sessionize", (s, dir) => {
      implicit val spark: SparkSession = s
      import s.implicits._
      val work = scratch("stream_sess")
      val inDir = sharedLanding(dir, "events")
      val scan = new graft.plugins.streaming.ParquetStreamScanPlugin(
        Map("input_path" -> inDir.toString), work, "default")
      val events = graft.streaming.Streams.tsToNanos(
        scan.execute().fold(e => throw e, identity))
        .withColumn("event_time", expr(s"timestamp_micros(${graft.ops.TimeCols.floorDivSql("ts", 1000L)})"))
        .select(col("user_id"), col("event_time"), col("event_type"), col("value"))
        .as[graft.streaming.Streams.Event]
      val sessions = graft.streaming.Streams.sessionize(events,
        gapSeconds = 1800,
        timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
      val sink = new graft.plugins.streaming.StreamParquetWriterPlugin(
        Map("output_path" -> work.resolve("out").toString), work, "default")
      sink.execute(sessions.toDF()).fold(e => throw e, _ => ())
      s.read.parquet(work.resolve("out").toString)
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events").cast("long").as("n_events"),
          r(col("sum_value"), 2).as("sum_value"))
        .orderBy("user_id", "session_start")
    },
      // batch sessionization minus each user's LAST session — the one
      // still open in flatMapGroupsWithState state when AvailableNow
      // input drains. Gap rule on whole seconds (integer division),
      // matching the streaming side's ms-to-s truncation.
      Some("""WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS t, value
        |  FROM events
        |), g AS (
        |  SELECT user_id, event_id, t, value,
        |    CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 1800
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
        |), sess AS (
        |  SELECT user_id, t, value,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY t, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM g
        |), summ AS (
        |  SELECT user_id, session_id, min(t) AS session_start,
        |    max(t) AS session_end, count(*) AS n_events,
        |    r(sum(value), 2) AS sum_value
        |  FROM sess GROUP BY user_id, session_id
        |)
        |SELECT user_id, session_start, session_end, n_events, sum_value
        |FROM summ
        |WHERE session_id < (SELECT max(s2.session_id) FROM summ s2
        |                    WHERE s2.user_id = summ.user_id)
        |ORDER BY user_id, session_start""".stripMargin),
      stream = Some(Landing("events"))),

    // ---- stream-stream LEFT OUTER interval join ------------------
    // Same attribution shape as stream_interval_join, but purchases
    // with no preceding click emit null-extended once the final
    // watermark proves no future click can match. Each side
    // watermarks its own FILTERED stream, so the global watermark is
    // min(max purchase_t, max click_t) - delay, and a left row
    // null-emits exactly when purchase_t < that watermark (no
    // lookback term: a future click at the watermark can only match
    // purchases at or after it) — the cutoff the oracle replicates,
    // row-set-verified at sf0.001/0.01/0.1. The 1-hour delay (vs the
    // inner join's fixture-spanning one) is what makes outer rows
    // emit at all.
    Query("stream_left_join", (s, dir) => {
      implicit val spark: SparkSession = s
      val work = scratch("stream_loj")
      val inDir = sharedLanding(dir, "events")
      val scan = new graft.plugins.streaming.ParquetStreamScanPlugin(
        Map("input_path" -> inDir.toString), work, "default")
      val ev = graft.streaming.Streams.tsToNanos(
        scan.execute().fold(e => throw e, identity))
        .withColumn("event_time", expr(graft.ops.TimeCols.floorDivSql("ts", 1000000000L)).cast("timestamp"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "event_time")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "event_time")
      val joined = graft.streaming.Streams.intervalJoinLeftOuter(
          purchases, clicks, "user_id", "event_time",
          lookback = "30 minutes", watermark = "1 hour")
        .select(col("event_id").as("purchase_id"),
          col("r_event_id").as("click_id"), col("user_id"),
          col("event_time").cast("long").as("purchase_t"),
          col("r_event_time").cast("long").as("click_t"))
      val sink = new graft.plugins.streaming.StreamParquetWriterPlugin(
        Map("output_path" -> work.resolve("out").toString), work, "default")
      sink.execute(joined).fold(e => throw e, _ => ())
      s.read.parquet(work.resolve("out").toString)
        .orderBy("purchase_id", "click_id")
    },
      // inner matches all emit; null-extended rows only for purchases
      // whose left state Spark has evicted. The eviction bound derives
      // from BOTH the watermark delay and the join interval: from
      // `click_t >= purchase_t - 1800` Spark keeps a left row while
      // watermark <= purchase_t + 1800, so the null-extension cutoff is
      // purchase_t < (max_t - 3600) - 1800.
      // Final-watermark model: each SIDE carries its own watermark on
      // its filtered stream, and Spark's global watermark is the MIN of
      // the two stream maxima minus the delay — NOT the max over all
      // event types (other types never pass the filters, so their
      // timestamps never reach a watermark node). A left row null-emits
      // exactly when purchase_t < that watermark (no extra lookback:
      // a future click at wm can only match purchases with
      // purchase_t >= wm). Verified row-set-equal at sf0.001 AND
      // sf0.01 — the max-over-all-events spelling broke the moment a
      // trailing 'view'/'purchase' outran the last click.
      Some("""WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |    epoch_us(ts) // 1000000 AS t
        |  FROM events
        |), wm AS (
        |  -- NOT least(): DuckDB's least() ignores a NULL side, but
        |  -- an EMPTY stream never initializes its Spark watermark
        |  -- (global wm stays at epoch, zero outer rows emit) — a
        |  -- NULL max must therefore null the cutoff, not be skipped
        |  SELECT CASE WHEN mp.t IS NULL OR mc.t IS NULL THEN NULL
        |    ELSE least(mp.t, mc.t) - 3600 END AS w
        |  FROM (SELECT max(t) AS t FROM e
        |        WHERE event_type = 'purchase') mp,
        |       (SELECT max(t) AS t FROM e WHERE event_type = 'click') mc),
        |p AS (SELECT event_id AS purchase_id, user_id, t AS purchase_t
        |      FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id, t AS click_t
        |      FROM e WHERE event_type = 'click'),
        |m AS (
        |  SELECT p.purchase_id, c.click_id, p.user_id,
        |    p.purchase_t, c.click_t
        |  FROM p JOIN c ON p.user_id = c.user_id
        |    AND c.click_t BETWEEN p.purchase_t - 1800 AND p.purchase_t),
        |o AS (
        |  SELECT p.purchase_id, CAST(NULL AS BIGINT) AS click_id,
        |    p.user_id, p.purchase_t, CAST(NULL AS BIGINT) AS click_t
        |  FROM p, wm
        |  WHERE p.purchase_id NOT IN (SELECT purchase_id FROM m)
        |    AND p.purchase_t < wm.w)
        |SELECT * FROM m
        |UNION ALL SELECT * FROM o
        |ORDER BY purchase_id, click_id""".stripMargin),
      stream = Some(Landing("events"))),

    // ---- streaming CDC compaction (foreachBatch upsert) ----------
    // Latest event per user maintained as a parquet state table via
    // foreachBatch merge; the merge (latest-per-key of a union) is
    // associative + idempotent, so the final state equals the batch
    // answer REGARDLESS of micro-batch boundaries — which is exactly
    // what the DuckDB oracle computes.
    Query("stream_upsert", (s, dir) => {
      implicit val spark: SparkSession = s
      val work = scratch("stream_up")
      val inDir = sharedLanding(dir, "events")
      val scan = new graft.plugins.streaming.ParquetStreamScanPlugin(
        Map("input_path" -> inDir.toString), work, "default")
      val ev = graft.streaming.Streams.tsToNanos(
        scan.execute().fold(e => throw e, identity))
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr(graft.ops.TimeCols.floorDivSql("ts", 1000000000L)).as("t"), col("value"))
      val statePath = work.resolve("state").toString
      graft.streaming.Streams.upsertLatest(ev,
        keyCols = Seq("user_id"), orderCols = Seq("t", "event_id"),
        statePath = statePath,
        checkpoint = work.resolve("ckpt").toString)
      s.read.parquet(statePath)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("t"), r(col("value"), 2).as("value"))
        .orderBy("user_id")
    },
      Some("""SELECT user_id, event_id, event_type, t, r(value, 2) AS value
        |FROM (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(ts) // 1000000 AS t, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) // 1000000 DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1
        |ORDER BY user_id""".stripMargin),
      stream = Some(Landing("events"))),

    // ---- SUSTAINED streaming throughput --------------------------
    // The stream_events_window pipeline over a 10-copy landing
    // (10 files, AvailableNow): ~10x the input through the same
    // watermark + tumbling-window agg + exactly-once parquet sink,
    // so the per-run fixed cost (trigger scheduling, checkpoint
    // commits, sink manifest) amortizes and rows/s approaches the
    // engine's streaming aggregation throughput. Identical copies
    // multiply each window's counts — the agg state stays
    // window-bounded, exactly as a denser real stream would.
    Query("stream_sustained_window", (s, dir) => {
      implicit val spark: SparkSession = s
      val work = scratch("stream_sus")
      val inDir = sharedLandingN(dir, "events", copies = 10)
      val scan = new graft.plugins.streaming.ParquetStreamScanPlugin(
        Map("input_path" -> inDir.toString), work, "default")
      val events = graft.streaming.Streams.tsToNanos(
        scan.execute().fold(e => throw e, identity))
        .withColumn("event_time", (col("ts") / 1000000000L).cast("timestamp"))
      val agg = graft.streaming.Streams.windowedAgg(events, "1 hour", "2 hours")
      val sink = new graft.plugins.streaming.StreamParquetWriterPlugin(
        Map("output_path" -> work.resolve("out").toString), work, "default")
      sink.execute(agg).fold(e => throw e, _ => ())
      s.read.parquet(work.resolve("out").toString)
    },
      stream = Some(Landing("events", copies = 10))),

    // ---- SUSTAINED stateful-join throughput ----------------------
    // The three stateful stream-join pipelines over a 10-copy
    // landing, mirroring stream_sustained_window: identical copies
    // emulate a 10×-denser event stream, which is exactly how join
    // state scales in production (matched pairs grow ~quadratically
    // with per-user density — 10× input, ~100× emitted pairs). The
    // oracled single-copy variants pin correctness; these measure
    // join-STATE throughput, where the single-copy runs measure
    // mostly fixed trigger/checkpoint overhead (BASELINE.md says so).
    Query("stream_sustained_interval_join", (s, dir) => {
      implicit val spark: SparkSession = s
      val work = scratch("stream_sus_ij")
      val inDir = sharedLandingN(dir, "events", copies = 10)
      val scan = new graft.plugins.streaming.ParquetStreamScanPlugin(
        Map("input_path" -> inDir.toString), work, "default")
      val ev = graft.streaming.Streams.tsToNanos(
        scan.execute().fold(e => throw e, identity))
        .withColumn("event_time", expr(graft.ops.TimeCols.floorDivSql("ts", 1000000000L)).cast("timestamp"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "event_time")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "event_time")
      val joined = graft.streaming.Streams.intervalJoin(
          purchases, clicks, "user_id", "event_time",
          lookback = "30 minutes", watermark = "3700 days")
        .select(col("event_id").as("purchase_id"),
          col("r_event_id").as("click_id"), col("user_id"))
      val sink = new graft.plugins.streaming.StreamParquetWriterPlugin(
        Map("output_path" -> work.resolve("out").toString), work, "default")
      sink.execute(joined).fold(e => throw e, _ => ())
      s.read.parquet(work.resolve("out").toString)
    },
      stream = Some(Landing("events", copies = 10))),

    Query("stream_sustained_stream_join", (s, dir) => {
      implicit val spark: SparkSession = s
      val work = scratch("stream_sus_ssj")
      // two INDEPENDENT 10-copy side landings (one union write each)
      val ev1 = graft.streaming.Streams.tsToNanos(t(s, dir, "events"))
      val ev = (1 to 10).map(_ => ev1).reduce(_.unionByName(_))
      val pDir = work.resolve("purchases")
      val cDir = work.resolve("clicks")
      ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
        .write.parquet(pDir.toString)
      ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
        .write.parquet(cDir.toString)
      def side(d: java.nio.file.Path): DataFrame = {
        val scan = new graft.plugins.streaming.ParquetStreamScanPlugin(
          Map("input_path" -> d.toString), work, "default")
        graft.streaming.Streams.tsToNanos(
          scan.execute().fold(e => throw e, identity))
          .withColumn("event_time",
            expr(graft.ops.TimeCols.floorDivSql("ts", 1000000000L)).cast("timestamp"))
          .select("event_id", "user_id", "event_time")
      }
      val joined = graft.streaming.Streams.intervalJoin(
          side(pDir), side(cDir), "user_id", "event_time",
          lookback = "30 minutes", watermark = "3700 days")
        .select(col("event_id").as("purchase_id"),
          col("r_event_id").as("click_id"), col("user_id"))
      val sink = new graft.plugins.streaming.StreamParquetWriterPlugin(
        Map("output_path" -> work.resolve("out").toString), work, "default")
      sink.execute(joined).fold(e => throw e, _ => ())
      s.read.parquet(work.resolve("out").toString)
    },
      stream = Some(Landing("events", copies = 10))),

    Query("stream_sustained_left_join", (s, dir) => {
      implicit val spark: SparkSession = s
      val work = scratch("stream_sus_loj")
      val inDir = sharedLandingN(dir, "events", copies = 10)
      val scan = new graft.plugins.streaming.ParquetStreamScanPlugin(
        Map("input_path" -> inDir.toString), work, "default")
      val ev = graft.streaming.Streams.tsToNanos(
        scan.execute().fold(e => throw e, identity))
        .withColumn("event_time", expr(graft.ops.TimeCols.floorDivSql("ts", 1000000000L)).cast("timestamp"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "event_time")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "event_time")
      val joined = graft.streaming.Streams.intervalJoinLeftOuter(
          purchases, clicks, "user_id", "event_time",
          lookback = "30 minutes", watermark = "1 hour")
        .select(col("event_id").as("purchase_id"),
          col("r_event_id").as("click_id"), col("user_id"))
      val sink = new graft.plugins.streaming.StreamParquetWriterPlugin(
        Map("output_path" -> work.resolve("out").toString), work, "default")
      sink.execute(joined).fold(e => throw e, _ => ())
      s.read.parquet(work.resolve("out").toString)
    },
      stream = Some(Landing("events", copies = 10))),

    // ---- SUSTAINED stateful dedup + stateless classify -----------
    // stream_dedup_fingerprint at 1× reads ~924 rows/s — the lane's
    // slowest per-row number, but it is fixture-sized (500 docs) and
    // overhead-bound, so it says nothing about the state store. This
    // run replays a 10-copy PERTURBED landing (distinct ids + texts
    // per copy — see sharedLandingDocsPerturbedN: identical copies
    // would hit existing state and never grow it), so the dedup
    // state grows 10× across the replay and the reported rows/s is
    // state-insert throughput. The output row count IS the final
    // state size (one row per distinct fingerprint): rows == 10×
    // the single-copy distinct count pins the growth.
    Query("stream_sustained_dedup_fingerprint", (s, dir) => {
      implicit val spark: SparkSession = s
      val work = scratch("stream_sus_dd")
      val inDir = sharedLandingDocsPerturbedN(s, dir, copies = 10)
      val scan = new graft.plugins.streaming.ParquetStreamScanPlugin(
        Map("input_path" -> inDir.toString), work, "default")
      val docs = scan.execute().fold(e => throw e, identity)
        .withColumn("event_time",
          expr("timestamp_micros((doc_id + 1) * 1000000)"))
      val deduped = graft.streaming.Streams.dedupStream(
        docs, "text", "event_time", watermark = "1 hour")
      val sink = new graft.plugins.streaming.StreamParquetWriterPlugin(
        Map("output_path" -> work.resolve("out").toString), work, "default")
      sink.execute(deduped).fold(e => throw e, _ => ())
      s.read.parquet(work.resolve("out").toString)
        .select(Text.fingerprint(col("text")).as("fingerprint"))
    },
      stream = Some(Landing("documents", copies = 10))),

    // stream_classify is STATELESS (the model rides in the plan as a
    // literal — no join, no state store), so identical copies are the
    // honest densification: the sustained number is pure per-row
    // scoring throughput through the micro-batch machinery.
    Query("stream_sustained_classify", (s, dir) => {
      implicit val spark: SparkSession = s
      val work = scratch("stream_sus_cls")
      val (train, _, _) = nbSplit(s, dir)
      val (prior, weights) = graft.ops.NaiveBayes.logOddsModel(
        train, "text", "label", "hi", "lo", maxTerms = 64)
      val inDir = sharedLandingN(dir, "documents", copies = 10)
      val scan = new graft.plugins.streaming.ParquetStreamScanPlugin(
        Map("input_path" -> inDir.toString), work, "default")
      val docs = scan.execute().fold(e => throw e, identity)
        .filter(length(graft.ops.Text.normalize(col("text"))) > 0)
      val scored = graft.ops.NaiveBayes.scoreWithModel(
        docs, "text", prior, weights, "hi", "lo")
        .select(col("doc_id"), col("pred"), col("score"))
      val sink = new graft.plugins.streaming.StreamParquetWriterPlugin(
        Map("output_path" -> work.resolve("out").toString), work, "default")
      sink.execute(scored).fold(e => throw e, _ => ())
      s.read.parquet(work.resolve("out").toString)
    },
      stream = Some(Landing("documents", copies = 10)))
  )
}

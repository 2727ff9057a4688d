package graft.queries

import org.apache.spark.sql.functions._

import graft.ops.Multimodal
import graft.queries.Fixtures._

/** Multimodal: binary payloads, real image/audio/video decoding, and
  * perceptual near-dup over decoded media. */
object MultimodalQueries {
  val all: Seq[Query] = Seq(
    // ---- multimodal: binary payload + stub decode metadata -------
    // Edge rows unioned in: non-ASCII (bytes ≠ chars — the decode
    // stub sums UTF-8 BYTES and the oracle now does too), empty
    // payload, and a NULL payload (meta passes through NULL).
    Query("multimodal_meta", (s, dir) => {
      import s.implicits._
      val edges = Seq((-3L, Option.empty[String]), (-2L, Some("")),
        (-1L, Some("héllo wörld — ünicode")))
        .toDF("doc_id", "text")
      val withPayload = t(s, dir, "documents")
        .select(col("doc_id"), col("text")).unionByName(edges)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal.withDecodedMeta(withPayload, "payload")
        .select(col("doc_id"),
          col("media_meta.n_bytes").as("n_bytes"),
          col("media_meta.format").as("format"),
          col("media_meta.width").as("width"),
          col("media_meta.height").as("height"),
          col("media_meta.checksum").as("checksum"))
        .orderBy("doc_id")
    },
      // Byte-exact recomputation of the decode stub: n_bytes counts
      // UTF-8 BYTES (octet_length of the encoded payload, not chars)
      // and checksum sums the bytes themselves (hex-pair walk over the
      // encoded blob) — matches the stub on non-ASCII text, which the
      // unioned edge rows exercise. NULL payload → NULL meta.
      Some("""WITH src AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES (CAST(-3 AS BIGINT), CAST(NULL AS VARCHAR)),
        |    (CAST(-2 AS BIGINT), ''),
        |    (CAST(-1 AS BIGINT), 'héllo wörld — ünicode')) v(doc_id, text)
        |), d AS (
        |  SELECT doc_id,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |    CAST(coalesce(list_sum(list_transform(
        |      [substr(hex(encode(text)), 2*i + 1, 2)
        |       for i in range(octet_length(encode(text)))],
        |      x -> ('0x' || x)::BIGINT)), 0) AS BIGINT) AS checksum
        |  FROM src)
        |SELECT doc_id, n_bytes,
        |  CASE WHEN n_bytes IS NULL THEN NULL
        |       WHEN n_bytes % 3 = 0 THEN 'png'
        |       WHEN n_bytes % 3 = 1 THEN 'jpeg' ELSE 'webp' END AS format,
        |  CAST(CASE WHEN n_bytes IS NULL THEN NULL
        |       ELSE 64 + (n_bytes % 64) END AS INTEGER) AS width,
        |  CAST(CASE WHEN n_bytes IS NULL THEN NULL
        |       ELSE 64 + (checksum % 64) END AS INTEGER) AS height,
        |  CASE WHEN n_bytes IS NULL THEN NULL ELSE checksum END AS checksum
        |FROM d ORDER BY doc_id""".stripMargin),
      headline = true),

    // ---- multimodal: REAL pixel resize (pure-JVM PNG + GIF codecs)
    // Payloads are genuine PNGs (Deflater-compressed IDAT, real CRCs)
    // and genuine GIF89a files (real LZW streams, 256-entry palette)
    // from closed-form pixel generators; the op decodes (Inflater +
    // filter reconstruction / LZW + palette), box-average-downsamples
    // by 2, re-encodes as PNG, and the query re-decodes the RESULT
    // for exact integer stats. The oracle replays generator → block
    // means → sums in pure SQL arithmetic — every byte of both codec
    // paths is pinned. Doc 100 (JPEG header: needs a codec library)
    // exercises the documented stub fallback; doc 101 is NULL.
    Query("multimodal_resize", (s, dir) => {
      import s.implicits._
      val pngDocs = (1 to 18).map { id =>
        val w = 8 + id
        val h = 6 + (id * 3) % 11
        val ch = (id % 3) match { case 0 => 1; case 1 => 3; case _ => 4 }
        val px = Array.tabulate(w * h * ch) { i =>
          val c = i % ch; val x = (i / ch) % w; val y = i / (ch * w)
          ((x * 31 + y * 17 + id * 7 + c * 5) % 256).toByte
        }
        (id.toLong, Multimodal.encodePng(Multimodal.PngImage(w, h, ch, px)))
      } ++ (30 to 37).map { id =>
        // GIF docs: palette[i] = (i, 2i%256, 3i%256); index(x,y) =
        // (x*13 + y*7 + id) % 256 — both closed-form for the oracle
        val w = 9 + (id % 5)
        val h = 5 + (id % 7)
        val palette = Array.tabulate(256)(i =>
          Array(i, (i * 2) % 256, (i * 3) % 256))
        val idxs = Array.tabulate(w * h)(i =>
          (((i % w) * 13 + (i / w) * 7 + id) % 256).toByte)
        (id.toLong, Multimodal.encodeGif(w, h, palette, idxs))
      } :+ (100L -> Multimodal.jpegHeader(800, 600))
      val withNull = pngDocs.toDF("doc_id", "payload").unionByName(
        Seq((101L, Option.empty[Array[Byte]])).toDF("doc_id", "payload"))
      val resized = Multimodal.withResized(withNull.repartition(4),
        "payload", factor = 2)
      Multimodal.withPngStats(resized, "resized", out = "st")
        .select(col("doc_id"),
          col("st.width").as("out_w"), col("st.height").as("out_h"),
          col("st.channels").as("out_ch"),
          col("st.pixel_sum").as("pixel_sum"),
          col("st.n_values").as("n_values"))
        .orderBy("doc_id")
    },
      // Analytic replay of the real PNG resize: regenerate the pixel
      // function, box-average 2x2 blocks with integer-floor means
      // (partial edge blocks over covered pixels only — same semantics
      // as resizePngBox), and sum. If any stage of the codec path
      // (encode, deflate, inflate, filter reconstruction, resize,
      // re-encode, re-decode) misplaced a single byte, these exact
      // integer sums would not match.
      Some("""WITH ids AS (SELECT unnest(generate_series(1, 18)) AS id),
        |dims AS (
        |  SELECT id, 8 + id AS w, 6 + (id*3)%11 AS h,
        |    CASE id%3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS ch
        |  FROM ids),
        |nums AS (SELECT unnest(generate_series(0, 31)) AS n),
        |inpix AS (
        |  SELECT d.id, x.n AS x, y.n AS y, c.n AS c,
        |    (x.n*31 + y.n*17 + d.id*7 + c.n*5) % 256 AS v
        |  FROM dims d
        |  JOIN nums x ON x.n < d.w
        |  JOIN nums y ON y.n < d.h
        |  JOIN nums c ON c.n < d.ch),
        |blocks AS (
        |  SELECT id, x//2 AS ox, y//2 AS oy, c, SUM(v)//COUNT(*) AS bv
        |  FROM inpix GROUP BY id, x//2, y//2, c),
        |agg AS (
        |  SELECT id, SUM(bv) AS pixel_sum, COUNT(*) AS n_values
        |  FROM blocks GROUP BY id)
        |SELECT CAST(d.id AS BIGINT) AS doc_id,
        |  CAST((d.w+1)//2 AS INTEGER) AS out_w,
        |  CAST((d.h+1)//2 AS INTEGER) AS out_h,
        |  CAST(d.ch AS INTEGER) AS out_ch,
        |  CAST(a.pixel_sum AS BIGINT) AS pixel_sum,
        |  CAST(a.n_values AS BIGINT) AS n_values
        |FROM dims d JOIN agg a ON a.id = d.id
        |UNION ALL
        |SELECT CAST(g.id AS BIGINT), CAST((g.w+1)//2 AS INTEGER),
        |  CAST((g.h+1)//2 AS INTEGER), CAST(3 AS INTEGER),
        |  CAST(ga.pixel_sum AS BIGINT), CAST(ga.n_values AS BIGINT)
        |FROM (
        |  SELECT id, 9 + (id%5) AS w, 5 + (id%7) AS h
        |  FROM (SELECT unnest(generate_series(30, 37)) AS id)) g
        |JOIN (
        |  SELECT id, SUM(bv) AS pixel_sum, COUNT(*) AS n_values FROM (
        |    SELECT p.id, p.x//2 AS ox, p.y//2 AS oy, p.c,
        |      SUM(p.v)//COUNT(*) AS bv
        |    FROM (
        |      SELECT d.id, x.n AS x, y.n AS y, c.n AS c,
        |        (((x.n*13 + y.n*7 + d.id) % 256) * (c.n+1)) % 256 AS v
        |      FROM (
        |        SELECT id, 9 + (id%5) AS w, 5 + (id%7) AS h
        |        FROM (SELECT unnest(generate_series(30, 37)) AS id)) d
        |      JOIN (SELECT unnest(generate_series(0, 31)) AS n) x
        |        ON x.n < d.w
        |      JOIN (SELECT unnest(generate_series(0, 31)) AS n) y
        |        ON y.n < d.h
        |      JOIN (SELECT unnest(generate_series(0, 2)) AS n) c
        |        ON true) p
        |    GROUP BY p.id, p.x//2, p.y//2, p.c)
        |  GROUP BY id) ga ON ga.id = g.id
        |UNION ALL
        |SELECT CAST(100 AS BIGINT), CAST(NULL AS INTEGER),
        |  CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
        |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
        |UNION ALL
        |SELECT CAST(101 AS BIGINT), CAST(NULL AS INTEGER),
        |  CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
        |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
        |ORDER BY doc_id""".stripMargin),
      headline = true),

    // ---- multimodal: REAL JPEG pixel decode (JDK codec) ----------
    // Payloads are genuine lossy JPEGs (smooth ramps — JPEG-friendly
    // content) written by the JDK encoder; the op decodes them
    // DISTRIBUTED (mapPartitions batches) via javax.imageio and
    // emits exact dims/channel/value counts plus a mean-accuracy
    // gate. The oracle states the expected dims from the GENERATOR
    // parameters (independent arithmetic, not a replay) and pins
    // mean_ok TRUE — the codec-quality claim; doc 100 (header-only
    // JPEG, no scan data) pins the undecodable → NULL contract.
    Query("multimodal_jpeg", (s, dir) => {
      import s.implicits._
      val docs = (1 to 12).map { id =>
        val w = 16 + id; val h = 12 + (id % 5)
        val ch = if (id % 3 == 0) 1 else 3
        val px = new Array[Byte](w * h * ch)
        var i = 0
        while (i < px.length) {
          val p = i / ch; val x = p % w; val y = p / w
          px(i) = (i % ch) match {
            case 0 => (x * 255 / (w - 1)).toByte
            case 1 => ((64 + id * 3) % 200).toByte
            case _ => (y * 255 / (h - 1)).toByte
          }
          i += 1
        }
        val mean = px.map(_ & 0xff).map(_.toLong).sum.toDouble / px.length
        (id.toLong,
          Multimodal.encodeJpeg(Multimodal.PngImage(w, h, ch, px), 0.95f),
          mean)
      } :+ ((100L, Multimodal.jpegHeader(320, 200), 0.0))
      val df = docs.toDF("doc_id", "payload", "orig_mean")
      Multimodal.withPngStats(df.repartition(4), "payload", out = "st")
        .select(col("doc_id"),
          col("st.width").as("out_w"), col("st.height").as("out_h"),
          col("st.channels").as("out_ch"),
          col("st.n_values").as("n_values"),
          when(col("st.n_values").isNotNull,
            abs(col("st.pixel_sum") / col("st.n_values") -
              col("orig_mean")) < 3.0).as("mean_ok"))
        .orderBy("doc_id")
    },
      // Expected JPEG decode results from the GENERATOR parameters
      // (w = 16+id, h = 12+(id%5), ch = 1 when id%3=0 else 3) — the
      // oracle re-derives the dims arithmetically and pins the decoded
      // mean inside ±3 of the source raster's mean (mean_ok). Doc 100
      // is a header-only JPEG: undecodable → all-NULL stats.
      Some("""SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(out_w AS INTEGER) AS out_w,
        |  CAST(out_h AS INTEGER) AS out_h,
        |  CAST(out_ch AS INTEGER) AS out_ch,
        |  CAST(n_values AS BIGINT) AS n_values,
        |  CAST(mean_ok AS BOOLEAN) AS mean_ok
        |FROM (VALUES
        |  (1, 17, 13, 3, 663, TRUE),
        |  (2, 18, 14, 3, 756, TRUE),
        |  (3, 19, 15, 1, 285, TRUE),
        |  (4, 20, 16, 3, 960, TRUE),
        |  (5, 21, 12, 3, 756, TRUE),
        |  (6, 22, 13, 1, 286, TRUE),
        |  (7, 23, 14, 3, 966, TRUE),
        |  (8, 24, 15, 3, 1080, TRUE),
        |  (9, 25, 16, 1, 400, TRUE),
        |  (10, 26, 12, 3, 936, TRUE),
        |  (11, 27, 13, 3, 1053, TRUE),
        |  (12, 28, 14, 1, 392, TRUE),
        |  (100, NULL, NULL, NULL, NULL, NULL)
        |) v(doc_id, out_w, out_h, out_ch, n_values, mean_ok)
        |ORDER BY doc_id""".stripMargin),
      headline = true),

    // ---- composed multimodal pipeline (the flagship shape) -------
    // What a real multimodal training-data pipeline does end to end:
    // classify mixed payloads by ACTUAL decodability (image / audio /
    // video / other), apply per-modality quality gates (min dims,
    // min duration, min frames), remove perceptual near-duplicates
    // (dHash63 / envHash63 banded joins on the gated subsets), and
    // summarize survivors per modality. Every count is derived from
    // the generator design and stated independently by the oracle:
    // 12 images (2 near-dup variants, 2 below the dims gate),
    // 6 audio clips (1 gain-duplicate, 1 below the duration gate),
    // 3 videos (1 below the frame gate), 3 undecodable docs.
    Query("pipeline_multimodal", (s, dir) => {
      import s.implicits._
      import graft.ops.{Audio, Video}
      def img(base: Int, variant: Boolean, w: Int = 36, h: Int = 32)
          : Array[Byte] = {
        val px = Array.tabulate(w * h * 3) { i =>
          val c = i % 3; val p = i / 3; val x = p % w; val y = p / w
          val v = (x * (13 + 5 * base) + y * (7 + 3 * base) + c * 5) % 256
          (if (variant && c == 1 && x % 5 == 0) math.min(v + 25, 255)
           else v).toByte
        }
        Multimodal.encodePng(Multimodal.PngImage(w, h, 3, px))
      }
      def wav(seed: Int, gain: Int, frames: Int = 8192, sr: Int = 16000)
          : Array[Byte] = {
        val samples = Array.tabulate[Short](frames) { i =>
          val w = i / 128
          val amp = 200 + (w * w * (29 + 7 * seed) + seed * 533) % 3000
          val m = ((i.toLong * 7919 % 2048) * amp / 2048).toInt * gain
          (if (i % 2 == 0) m else -m).toShort
        }
        Audio.encodeWav(Audio.WavClip(sr, 1, samples))
      }
      def avi(nFrames: Int, g: Int): Array[Byte] =
        Video.encodeAvi((0 until nFrames).map { f =>
          Multimodal.encodeJpeg(Multimodal.PngImage(12, 10, 3,
            Array.tabulate(360)(i =>
              (if (i % 3 == 1) (g + f * 20) % 200
               else i / 3 % 12 * 23).toByte)), 0.9f)
        }, 12, 10, fps = 10)
      val docs: Seq[(Long, Option[Array[Byte]])] =
        (1 to 8).map(b => (b.toLong, Option(img(b, false)))) ++
        Seq((21L, Option(img(1, true))), (22L, Option(img(2, true))),
          (31L, Option(img(3, false, w = 12, h = 10))),
          (32L, Option(img(4, false, w = 8, h = 8)))) ++
        (1 to 4).map(d => (40L + d, Option(wav(d, 1)))) ++
        Seq((45L, Option(wav(1, 2))),
          (46L, Option(wav(2, 1, frames = 100, sr = 8000))),
          (51L, Option(avi(3, 40))), (52L, Option(avi(3, 120))),
          (53L, Option(avi(1, 80))),
          (61L, Option("ID3 not decodable media".getBytes("US-ASCII"))),
          (62L, Option.empty[Array[Byte]]),
          (63L, Option(avi(2, 50).take(40))))
      val base = docs.toDF("doc_id", "payload").repartition(4)
      val withImg = Multimodal.withPngStats(base, "payload", out = "st")
      val withAud = Audio.withAudioFeatures(withImg, "payload", out = "au")
      val vidMeta = Video.sampleVideoFrames(base, "doc_id", "payload")
        .groupBy("doc_id").agg(max("n_frames").as("vid_frames"))
      val classified = withAud
        .join(vidMeta, Seq("doc_id"), "left")
        .withColumn("modality",
          when(col("st").isNotNull, "image")
            .when(col("au").isNotNull, "audio")
            .when(col("vid_frames").isNotNull, "video")
            .otherwise("other"))
        .withColumn("pass",
          when(col("modality") === "image",
            col("st.width") >= 16 && col("st.height") >= 16)
          .when(col("modality") === "audio", col("au.duration_ms") >= 100)
          .when(col("modality") === "video", col("vid_frames") >= 2)
          .otherwise(lit(false)))
      val gated = classified.filter(col("pass"))
      // maxBucket pinned to MaxValue: counts oracled from the
      // generator design assume the exact pair set (see the
      // dedup_audio_pairs contract note).
      val imgDups = graft.ops.Dedup.imageHashPairs(
          gated.filter(col("modality") === "image"), "doc_id", "payload",
          maxHamming = 6, maxBucket = Int.MaxValue)
        .select(col("id_b").as("doc_id")).distinct()
      val audDups = graft.ops.Dedup.audioHashPairs(
          gated.filter(col("modality") === "audio"), "doc_id", "payload",
          maxHamming = 6, maxBucket = Int.MaxValue)
        .select(col("id_b").as("doc_id")).distinct()
      val dupIds = imgDups.unionByName(audDups)
      classified
        .join(dupIds.withColumn("_dup", lit(true)), Seq("doc_id"), "left")
        .groupBy("modality")
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("pass"), 1)).as("n_pass"),
          count(when(col("pass") && col("_dup").isNull, 1)).as("n_kept"))
        .orderBy("modality")
    },
      // The flagship multimodal summary, stated independently from the
      // generator design: image = 8 distinct + 2 variants + 2 below
      // the 16×16 dims gate → 12 docs, 10 pass, 8 kept (the 2 variants
      // pair with their bases and the higher id drops). audio = 4
      // distinct + 1 gain-double + 1 short → 6 docs, 5 pass (the 12 ms
      // clip fails the 100 ms gate), 4 kept. video = 2×3-frame +
      // 1×1-frame → 3 docs, 2 pass, 2 kept. other = junk + NULL +
      // truncated AVI → 3 docs.
      Some("""SELECT modality, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_pass AS BIGINT) AS n_pass,
        |  CAST(n_kept AS BIGINT) AS n_kept
        |FROM (VALUES
        |  ('audio', 6, 5, 4),
        |  ('image', 12, 10, 8),
        |  ('other', 3, 0, 0),
        |  ('video', 3, 2, 2)
        |) v(modality, n_docs, n_pass, n_kept)
        |ORDER BY modality""".stripMargin),
      headline = true),

    // ---- audio near-dup: envelope hash over real PCM -------------
    // The audio sibling of dedup_image_phash: amplitude-modulated
    // clips (closed-form integer magnitudes, alternating sign) decode
    // through the real WAV path, envHash63 fingerprints the loudness
    // dynamics, and the shared banded Hamming join finds re-encoded
    // copies. Docs 21-23 are gain-doubled copies of docs 1-3 — an
    // exact integer gain preserves every envelope comparison, so
    // they land at hamming 0; distinct modulation seeds land ≥ 23.
    // Doc 99 is undecodable and must not appear.
    Query("dedup_audio_pairs", (s, dir) => {
      import s.implicits._
      import graft.ops.Audio
      def clip(seed: Int, gain: Int): Array[Byte] = {
        val samples = Array.tabulate[Short](8192) { i =>
          val w = i / 128
          val amp = 200 + (w * w * (29 + 7 * seed) + seed * 533) % 3000
          val m = ((i.toLong * 7919 % 2048) * amp / 2048).toInt * gain
          (if (i % 2 == 0) m else -m).toShort
        }
        Audio.encodeWav(Audio.WavClip(16000, 1, samples))
      }
      val docs = (1 to 6).map(d => (d.toLong, Option(clip(d, 1)))) ++
        (1 to 3).map(d => (20L + d, Option(clip(d, 2)))) :+
        ((99L, Option("junk that is not a wav container at all"
          .getBytes("US-ASCII"))))
      // maxBucket pinned to MaxValue: this query is hash-oracled
      // against the exact UNCAPPED quadratic pair set, so the flood
      // cap (a scale-safety valve, default-on in the op/plugin and
      // spec-tested in RobustnessSpec) must not be in the contract
      // here; the uncapped fast path also keeps the fixture-scale
      // plan free of the cap's extra window exchange.
      graft.ops.Dedup.audioHashPairs(
          docs.toDF("doc_id", "payload").repartition(4),
          "doc_id", "payload", maxHamming = 6, maxBucket = Int.MaxValue)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("int").as("hamming"))
        .orderBy("id_a", "id_b")
    },
      // Full-path audio-envelope replay: DuckDB regenerates every
      // sample magnitude, window-sums the 64 equal windows (8192
      // frames / 64 = 128, so w = i // 128 equals the op's integer
      // bounds), packs the 63 comparisons and scans pairs
      // quadratically. The op must reach the same 3 gain-pairs via
      // the banded join; doc 99 never decodes.
      Some("""WITH docs(doc_id, seed, gain) AS (VALUES
        |  (1, 1, 1), (2, 2, 1), (3, 3, 1), (4, 4, 1), (5, 5, 1),
        |  (6, 6, 1), (21, 1, 2), (22, 2, 2), (23, 3, 2)),
        |mono AS (
        |  SELECT doc_id, i,
        |    ((((i * 7919) % 2048) *
        |      (200 + (((i // 128) * (i // 128)) * (29 + 7 * seed)
        |        + seed * 533) % 3000)) // 2048) * gain AS m
        |  FROM docs, unnest(generate_series(0, 8191)) t(i)),
        |env AS (
        |  SELECT doc_id, i // 128 AS w, (sum(m) * 4096) // 128 AS e
        |  FROM mono GROUP BY doc_id, w),
        |bits AS (
        |  SELECT l.doc_id, CAST(l.w AS BIGINT) AS idx
        |  FROM env l JOIN env r
        |    ON r.doc_id = l.doc_id AND r.w = l.w + 1
        |  WHERE l.w < 63 AND r.e > l.e),
        |hash AS (
        |  SELECT d.doc_id,
        |    COALESCE(sum(1::BIGINT << b.idx), 0)::BIGINT AS h
        |  FROM docs d LEFT JOIN bits b USING (doc_id)
        |  GROUP BY d.doc_id)
        |SELECT CAST(a.doc_id AS BIGINT) AS id_a,
        |  CAST(b.doc_id AS BIGINT) AS id_b,
        |  CAST(bit_count(xor(a.h, b.h)) AS INTEGER) AS hamming
        |FROM hash a JOIN hash b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.h, b.h)) <= 6
        |ORDER BY id_a, id_b""".stripMargin),
      headline = true),

    // ---- image near-dup: perceptual dHash over real pixels -------
    // The image sibling of dedup_simhash_pairs: genuine PNGs decode
    // (pure-JVM codec), dHash63 fingerprints the luma structure, and
    // the banded Hamming self-join finds near-identical images.
    // Fixture: 10 distinct spatial-frequency gradients + 4 variants
    // of the first four with a NON-uniform brightness edit (uniform
    // shifts cancel in dHash by construction — that invariance is
    // the point of a perceptual hash) + one undecodable payload.
    // The oracle replays pixel generation → integer luma → 9×8 box
    // means → bit packing → quadratic pair scan entirely in SQL; the
    // op must find exactly the 4 variant pairs, banded (PlanSpec
    // pins no all-pairs join).
    Query("dedup_image_phash", (s, dir) => {
      import s.implicits._
      def img(base: Int, variant: Boolean): Array[Byte] = {
        val w = 36; val h = 32
        val px = Array.tabulate(w * h * 3) { i =>
          val c = i % 3; val p = i / 3; val x = p % w; val y = p / w
          val v = (x * (13 + 5 * base) + y * (7 + 3 * base) + c * 5) % 256
          (if (variant && c == 1 && x % 5 == 0) math.min(v + 25, 255)
           else v).toByte
        }
        Multimodal.encodePng(Multimodal.PngImage(w, h, 3, px))
      }
      val docs = (1 to 10).map(b => (b.toLong, Option(img(b, false)))) ++
        (1 to 4).map(b => (20L + b, Option(img(b, true)))) :+
        ((99L, Option("not an image payload".getBytes("US-ASCII"))))
      // maxBucket pinned to MaxValue — same contract note as
      // dedup_audio_pairs: the oracle is the exact uncapped pair set.
      graft.ops.Dedup.imageHashPairs(
          docs.toDF("doc_id", "payload").repartition(4),
          "doc_id", "payload", maxHamming = 6, maxBucket = Int.MaxValue)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("int").as("hamming"))
        .orderBy("id_a", "id_b")
    },
      // Full-path perceptual-hash replay: DuckDB regenerates every
      // pixel, converts to integer luma (299/587/114 per mille), box-
      // averages the 9×8 grid (4×4 cells at the 36×32 fixture dims, so
      // the bucket formula equals the op's integer box bounds), packs
      // the 63 horizontal comparisons, and scans pairs QUADRATICALLY —
      // the oracle affords O(n²) at 15 docs; the op must reach the
      // same pairs through the banded join. Doc 99 never decodes and
      // must not appear.
      Some("""WITH docs(doc_id, base, variant) AS (VALUES
        |  (1, 1, FALSE), (2, 2, FALSE), (3, 3, FALSE), (4, 4, FALSE),
        |  (5, 5, FALSE), (6, 6, FALSE), (7, 7, FALSE), (8, 8, FALSE),
        |  (9, 9, FALSE), (10, 10, FALSE),
        |  (21, 1, TRUE), (22, 2, TRUE), (23, 3, TRUE), (24, 4, TRUE)),
        |px AS (
        |  SELECT doc_id, x, y, c,
        |    CASE WHEN variant AND c = 1 AND x % 5 = 0
        |      THEN least((x * (13 + 5 * base) + y * (7 + 3 * base)
        |        + c * 5) % 256 + 25, 255)
        |      ELSE (x * (13 + 5 * base) + y * (7 + 3 * base)
        |        + c * 5) % 256 END AS v
        |  FROM docs,
        |    unnest(generate_series(0, 35)) tx(x),
        |    unnest(generate_series(0, 31)) ty(y),
        |    unnest(generate_series(0, 2)) tc(c)),
        |gray AS (
        |  SELECT doc_id, x, y,
        |    sum(CASE c WHEN 0 THEN 299 * v WHEN 1 THEN 587 * v
        |      ELSE 114 * v END) // 1000 AS g
        |  FROM px GROUP BY doc_id, x, y),
        |cells AS (
        |  SELECT doc_id, (x * 9) // 36 AS bx, (y * 8) // 32 AS by,
        |    sum(g) // count(*) AS m
        |  FROM gray GROUP BY doc_id, bx, by),
        |bits AS (
        |  SELECT l.doc_id, CAST(l.by * 8 + l.bx AS BIGINT) AS idx
        |  FROM cells l JOIN cells r
        |    ON r.doc_id = l.doc_id AND r.by = l.by AND r.bx = l.bx + 1
        |  WHERE l.bx < 8 AND l.by * 8 + l.bx < 63 AND r.m > l.m),
        |hash AS (
        |  SELECT d.doc_id,
        |    COALESCE(sum(1::BIGINT << b.idx), 0)::BIGINT AS h
        |  FROM docs d LEFT JOIN bits b ON b.doc_id = d.doc_id
        |  GROUP BY d.doc_id)
        |SELECT CAST(a.doc_id AS BIGINT) AS id_a,
        |  CAST(b.doc_id AS BIGINT) AS id_b,
        |  CAST(bit_count(xor(a.h, b.h)) AS INTEGER) AS hamming
        |FROM hash a JOIN hash b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.h, b.h)) <= 6
        |ORDER BY id_a, id_b""".stripMargin),
      headline = true),

    // ---- multimodal: REAL video frame sampling (AVI / MJPG) ------
    // Payloads are genuine Motion-JPEG AVIs (RIFF container with
    // hdrl/movi LISTs built by Video.encodeAvi; JPEG frames from the
    // JDK codec). The op walks the container and explodes per-frame
    // rows with decoded pixel stats — distributed, one pass per clip.
    // The oracle re-derives frame timing from the container fps and
    // the dims from the generator parameters, and pins decoded frame
    // means within ±3 (mean_ok). Doc 3 carries one undecodable frame
    // (inter-frame-codec stand-in) → NULL stats row; doc 100 is a
    // truncated AVI and doc 101 a NULL payload → zero rows.
    Query("multimodal_video", (s, dir) => {
      import s.implicits._
      import graft.ops.Video
      def ramp(w: Int, h: Int, g: Int): (Array[Byte], Double) = {
        val px = new Array[Byte](w * h * 3)
        var i = 0
        while (i < px.length) {
          val p = i / 3; val x = p % w; val y = p / w
          px(i) = (i % 3) match {
            case 0 => (x * 255 / (w - 1)).toByte
            case 1 => g.toByte
            case _ => (y * 255 / (h - 1)).toByte
          }
          i += 1
        }
        val mean = px.map(_ & 0xff).map(_.toLong).sum.toDouble / px.length
        (Multimodal.encodeJpeg(Multimodal.PngImage(w, h, 3, px), 0.95f),
          mean)
      }
      val d1 = (0 until 6).map(f => ramp(24, 16, 50 + 20 * f))
      val d2 = (0 until 4).map(f => ramp(20, 12, 30 + 25 * f))
      val junk = Array.fill[Byte](500)(0x33)
      val d3 = Seq(ramp(16, 10, 80), (junk, 0.0), ramp(16, 10, 120))
      val docs = Seq(
        (1L, Option(Video.encodeAvi(d1.map(_._1), 24, 16, fps = 10))),
        (2L, Option(Video.encodeAvi(d2.map(_._1), 20, 12, fps = 25))),
        (3L, Option(Video.encodeAvi(d3.map(_._1), 16, 10, fps = 15))),
        (100L, Option(Video.encodeAvi(d2.take(1).map(_._1), 20, 12, 25)
          .take(40))),
        (101L, Option.empty[Array[Byte]]))
      val means = (d1.zipWithIndex.map { case ((_, m), f) => (1L, f, m) } ++
        d2.zipWithIndex.map { case ((_, m), f) => (2L, f, m) } ++
        Seq((3L, 0, d3(0)._2), (3L, 2, d3(2)._2)))
        .toDF("doc_id", "frame_idx", "orig_mean")
      val frames = Video.sampleVideoFrames(
        docs.toDF("doc_id", "payload").repartition(4),
        "doc_id", "payload")
      frames.join(broadcast(means), Seq("doc_id", "frame_idx"), "left")
        .select(col("doc_id"), col("frame_idx"), col("n_frames"),
          col("frame_ms"), col("width"), col("height"), col("channels"),
          col("n_values"),
          when(col("n_values").isNotNull && col("orig_mean").isNotNull,
            abs(col("pixel_sum") / col("n_values") - col("orig_mean"))
              < 3.0).as("mean_ok"))
        .orderBy("doc_id", "frame_idx")
    },
      // Expected video frame rows from the GENERATOR parameters: frame
      // timing re-derived from the container fps (floor(f·⌊1e6/fps⌋/
      // 1000) ms), dims/value-counts from the ramp generator, decoded
      // means pinned within ±3 (mean_ok). Doc 3 frame 1 is the
      // undecodable-frame row (container real, pixels NULL); the
      // truncated doc 100 and NULL doc 101 contribute zero rows.
      Some("""SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(frame_idx AS INTEGER) AS frame_idx,
        |  CAST(n_frames AS INTEGER) AS n_frames,
        |  CAST(frame_ms AS BIGINT) AS frame_ms,
        |  CAST(width AS INTEGER) AS width,
        |  CAST(height AS INTEGER) AS height,
        |  CAST(channels AS INTEGER) AS channels,
        |  CAST(n_values AS BIGINT) AS n_values,
        |  CAST(mean_ok AS BOOLEAN) AS mean_ok
        |FROM (VALUES
        |  (1, 0, 6, 0, 24, 16, 3, 1152, TRUE),
        |  (1, 1, 6, 100, 24, 16, 3, 1152, TRUE),
        |  (1, 2, 6, 200, 24, 16, 3, 1152, TRUE),
        |  (1, 3, 6, 300, 24, 16, 3, 1152, TRUE),
        |  (1, 4, 6, 400, 24, 16, 3, 1152, TRUE),
        |  (1, 5, 6, 500, 24, 16, 3, 1152, TRUE),
        |  (2, 0, 4, 0, 20, 12, 3, 720, TRUE),
        |  (2, 1, 4, 40, 20, 12, 3, 720, TRUE),
        |  (2, 2, 4, 80, 20, 12, 3, 720, TRUE),
        |  (2, 3, 4, 120, 20, 12, 3, 720, TRUE),
        |  (3, 0, 3, 0, 16, 10, 3, 480, TRUE),
        |  (3, 1, 3, 66, NULL, NULL, NULL, NULL, NULL),
        |  (3, 2, 3, 133, 16, 10, 3, 480, TRUE)
        |) v(doc_id, frame_idx, n_frames, frame_ms, width, height,
        |    channels, n_values, mean_ok)
        |ORDER BY doc_id, frame_idx""".stripMargin),
      headline = true),

    // ---- multimodal: REAL audio decode + features (RIFF/WAVE PCM)
    // Payloads are genuine WAV files (canonical RIFF containers built
    // by Audio.encodeWav) carrying integer triangle waves; the op
    // walks the container, extracts PCM-16 samples and computes
    // RMS / zero-crossing rate / peak / duration DISTRIBUTED. The
    // oracle replays every sample with DuckDB integer arithmetic
    // (generate_series) and aggregates the identical features — the
    // full decode path is value-pinned, not just shapes. Doc 100 is
    // a truncated container, 101 an MP3-magic payload (compressed
    // audio genuinely needs a codec → NULL), 102 a NULL payload.
    Query("multimodal_audio", (s, dir) => {
      import s.implicits._
      import graft.ops.Audio
      val monoDocs = (1 to 8).map { id =>
        val n = 1600 + 200 * id; val p = 23 + 6 * id; val a = 500 * id
        val sr = 8000 * (1 + id % 3)
        (id.toLong, Option(Audio.encodeWav(
          Audio.WavClip(sr, 1, Audio.triangleSamples(n, p, a)))))
      }
      val st0 = Audio.triangleSamples(1200, 41, 1500)
      val st1 = Audio.triangleSamples(1200, 29, 2500)
      val inter = Array.tabulate(2400)(i =>
        if (i % 2 == 0) st0(i / 2) else st1(i / 2))
      val edges = Seq(
        (9L, Option(Audio.encodeWav(Audio.WavClip(16000, 2, inter)))),
        (100L, Option(Audio.encodeWav(
          Audio.WavClip(8000, 1, Audio.triangleSamples(100, 29, 400)))
          .take(30))),
        (101L, Option("ID3junk-not-actually-audio-data"
          .getBytes("US-ASCII"))),
        (102L, Option.empty[Array[Byte]]))
      val df = (monoDocs ++ edges).toDF("doc_id", "payload")
      Audio.withAudioFeatures(df.repartition(4), "payload", out = "a")
        .select(col("doc_id"),
          col("a.sample_rate").as("sample_rate"),
          col("a.n_channels").as("n_channels"),
          col("a.n_frames").as("n_frames"),
          col("a.duration_ms").as("duration_ms"),
          r(col("a.rms"), 6).as("rms"),
          col("a.zero_crossings").as("zero_crossings"),
          col("a.peak").as("peak"))
        .orderBy("doc_id")
    },
      // Full-path audio replay: DuckDB re-derives every PCM sample of
      // the triangle-wave fixtures with integer arithmetic (the same
      // closed form Audio.triangleSamples evaluates), then aggregates
      // the identical RMS / strict-sign zero crossings / peak /
      // duration. Docs 100-102 pin the undecodable -> NULL contract
      // (truncated container, compressed-audio magic, NULL payload).
      Some("""WITH params(doc_id, ch, n, p, a, sr) AS (VALUES
        |  (1, 0, 1800, 29, 500, 16000),
        |  (2, 0, 2000, 35, 1000, 24000),
        |  (3, 0, 2200, 41, 1500, 8000),
        |  (4, 0, 2400, 47, 2000, 16000),
        |  (5, 0, 2600, 53, 2500, 24000),
        |  (6, 0, 2800, 59, 3000, 8000),
        |  (7, 0, 3000, 65, 3500, 16000),
        |  (8, 0, 3200, 71, 4000, 24000),
        |  (9, 0, 1200, 41, 1500, 16000),
        |  (9, 1, 1200, 29, 2500, 16000)),
        |samp AS (
        |  SELECT doc_id, ch, i,
        |    abs(((i * 4 * a) // p) % (4 * a) - 2 * a) - a AS s
        |  FROM params, unnest(generate_series(0, n - 1)) AS t(i)),
        |flips AS (
        |  SELECT doc_id, ch, s,
        |    lag(s) OVER (PARTITION BY doc_id, ch ORDER BY i) AS prev
        |  FROM samp),
        |agg AS (
        |  SELECT doc_id, max(sr) AS sample_rate,
        |    (max(ch) + 1) AS n_channels, max(n) AS n_frames,
        |    max(n) * 1000 // max(sr) AS duration_ms
        |  FROM params GROUP BY doc_id),
        |sagg AS (
        |  SELECT doc_id,
        |    sqrt(sum(CAST(s AS DOUBLE) * s) / count(*)) AS rms,
        |    count(CASE WHEN s * prev < 0 THEN 1 END) AS zero_crossings,
        |    max(abs(s)) AS peak
        |  FROM flips GROUP BY doc_id)
        |SELECT CAST(a.doc_id AS BIGINT) AS doc_id,
        |  CAST(sample_rate AS INTEGER) AS sample_rate,
        |  CAST(n_channels AS INTEGER) AS n_channels,
        |  CAST(n_frames AS BIGINT) AS n_frames,
        |  CAST(duration_ms AS BIGINT) AS duration_ms,
        |  r(rms, 6) AS rms,
        |  CAST(zero_crossings AS BIGINT) AS zero_crossings,
        |  CAST(peak AS INTEGER) AS peak
        |FROM agg a JOIN sagg USING (doc_id)
        |UNION ALL
        |SELECT CAST(doc_id AS BIGINT), CAST(NULL AS INTEGER),
        |  CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
        |  CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
        |  CAST(NULL AS BIGINT), CAST(NULL AS INTEGER)
        |FROM (VALUES (100), (101), (102)) v(doc_id)
        |ORDER BY doc_id""".stripMargin),
      headline = true),

    // ---- multimodal: REAL container-header parsing ---------------
    // Payloads carry genuine PNG IHDR / JPEG SOF0+SOF2 / GIF headers
    // (built by the pure-JVM writers in Multimodal); doc 6 is
    // unrecognized bytes exercising the documented stub fallback.
    // Oracle = the independently-computed expected metadata.
    Query("multimodal_headers", (s, dir) => {
      import s.implicits._
      val payloads = Seq(
        1L -> Multimodal.pngHeader(640, 480),
        2L -> Multimodal.pngHeader(16384, 16384),
        3L -> Multimodal.jpegHeader(800, 600),
        4L -> Multimodal.jpegHeader(320, 240, progressive = true),
        5L -> Multimodal.gifHeader(12, 34),
        6L -> "xx".getBytes("US-ASCII"))
        .toDF("doc_id", "payload")
        .repartition(3) // decode stays distributed, not single-task
      Multimodal.withDecodedMeta(payloads, "payload")
        .select(col("doc_id"),
          col("media_meta.format").as("format"),
          col("media_meta.width").as("width"),
          col("media_meta.height").as("height"),
          col("media_meta.n_bytes").as("n_bytes"),
          col("media_meta.checksum").as("checksum"))
        .orderBy("doc_id")
    },
      // Expected metadata for the real-header fixtures, computed
      // independently from the container specs (PNG sig+IHDR = 33
      // bytes; minimal JPEG SOI+APP0+SOF+EOI = 27; GIF header+trailer
      // = 14). Doc 6 ("xx") takes the stub fallback: n=2 ⇒ webp,
      // width 64+2, checksum 2×120=240 ⇒ height 64+(240%64)=112.
      Some("""SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'png',  640,   480,   CAST(33 AS BIGINT), CAST(1812 AS BIGINT)),
        |  (CAST(2 AS BIGINT), 'png',  16384, 16384, CAST(33 AS BIGINT), CAST(1392 AS BIGINT)),
        |  (CAST(3 AS BIGINT), 'jpeg', 800,   600,   CAST(27 AS BIGINT), CAST(2100 AS BIGINT)),
        |  (CAST(4 AS BIGINT), 'jpeg', 320,   240,   CAST(27 AS BIGINT), CAST(2282 AS BIGINT)),
        |  (CAST(5 AS BIGINT), 'gif',  12,    34,    CAST(14 AS BIGINT), CAST(529 AS BIGINT)),
        |  (CAST(6 AS BIGINT), 'webp', 66,    112,   CAST(2 AS BIGINT),  CAST(240 AS BIGINT))
        |) t(doc_id, format, width, height, n_bytes, checksum)
        |ORDER BY doc_id""".stripMargin),
      headline = true),

    // ---- multimodal: frame sampling plumbing (no oracle) ---------
    Query("multimodal_frames", (s, dir) => {
      val withPayload = t(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal.sampleFrames(withPayload, "doc_id", "payload", frames = 4)
        .select("doc_id", "frame_idx", "offset", "n_bytes")
        .orderBy("doc_id", "frame_idx")
    },
      Some("""WITH d AS (
        |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |  FROM documents)
        |SELECT doc_id, CAST(f.range AS INTEGER) AS frame_idx,
        |  CAST(floor(f.range * n_bytes / 4.0) AS BIGINT) AS "offset",
        |  n_bytes
        |FROM d CROSS JOIN range(4) f
        |ORDER BY doc_id, frame_idx""".stripMargin)),

    // ---- multimodal: REAL frame extraction from PNG "videos" -----
    // Each payload is back-to-back concatenated PNGs (the opaque-
    // binary video shape); the op splits on the 8-byte signatures,
    // fully decodes every frame, and reports real dims + exact pixel
    // sums. Oracle = the same closed-form generator in SQL.
    Query("multimodal_frames_png", (s, dir) => {
      import s.implicits._
      val vids = (1 to 8).map { id =>
        val frames = (0 until 3).map { f =>
          val w = 4 + (id + f) % 5
          val h = 3 + (id * 2 + f) % 4
          val ch = (f % 3) match { case 0 => 1; case 1 => 3; case _ => 4 }
          val px = Array.tabulate(w * h * ch) { i =>
            val c = i % ch; val x = (i / ch) % w; val y = i / (ch * w)
            ((x * 29 + y * 13 + id * 11 + f * 3 + c * 5) % 256).toByte
          }
          Multimodal.encodePng(Multimodal.PngImage(w, h, ch, px))
        }
        (id.toLong, frames.reduce(_ ++ _))
      }
      Multimodal.sampleFramesPng(vids.toDF("doc_id", "payload")
          .repartition(3), "doc_id", "payload")
        .select(col("doc_id"), col("frame_idx"), col("width"),
          col("height"), col("channels"), col("pixel_sum"))
        .orderBy("doc_id", "frame_idx")
    },
      // Analytic replay of real PNG frame extraction: per-frame
      // generator dims and exact pixel sums.
      Some("""WITH ids AS (SELECT unnest(generate_series(1, 8)) AS id),
        |fr AS (SELECT unnest(generate_series(0, 2)) AS f),
        |dims AS (
        |  SELECT id, f, 4 + (id + f)%5 AS w, 3 + (id*2 + f)%4 AS h,
        |    CASE f%3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS ch
        |  FROM ids, fr),
        |nums AS (SELECT unnest(generate_series(0, 8)) AS n),
        |pix AS (
        |  SELECT d.id, d.f, d.w, d.h, d.ch,
        |    (x.n*29 + y.n*13 + d.id*11 + d.f*3 + c.n*5) % 256 AS v
        |  FROM dims d
        |  JOIN nums x ON x.n < d.w
        |  JOIN nums y ON y.n < d.h
        |  JOIN nums c ON c.n < d.ch)
        |SELECT CAST(id AS BIGINT) AS doc_id, CAST(f AS INTEGER) AS frame_idx,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(ch AS INTEGER) AS channels, CAST(SUM(v) AS BIGINT) AS pixel_sum
        |FROM pix GROUP BY id, f, w, h, ch
        |ORDER BY doc_id, frame_idx""".stripMargin),
      headline = true)
  )
}

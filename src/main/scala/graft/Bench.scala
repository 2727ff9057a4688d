package graft

import graft.queries.{Landing, Queries}

/** Benchmark main (driver contract): runs the headline query set on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line with per-query and
  * total wall seconds.
  *
  * Headline set = every operator family, using the SCALE PATH for the
  * approximate ops (LSH variants). The exact all-pairs variants
  * (dedup_embedding_pairs, dedup_ngram_pairs) exist for oracle
  * verification and are intentionally excluded: they are O(n²) by
  * definition and would benchmark the verifier, not the engine.
  *
  * Results are fully materialized through a noop datasource write —
  * `count()` would let Catalyst prune projections/sorts and
  * under-measure scan-shaped queries.
  */
object Bench {

  /** The batch lane: the queries whose record sets `headline`
    * ([[graft.queries.Query]]). */
  val headline: Seq[String] = Queries.all.filter(_.headline).map(_.name)

  /** Streaming lane: the stream queries, timed end-to-end
    * (landing-dir setup → AvailableNow micro-batch run → sink).
    * Reported as seconds plus input-rows/s — the throughput figure a
    * streaming regression actually moves — under a separate
    * `streams` key so the batch `total` stays comparable across
    * rounds. One timed pass each (the JVM is hot from the batch lane;
    * stream runtimes are dominated by fixed micro-batch machinery, so
    * best-of-2 would double the lane's cost for little noise
    * reduction). The sustained queries read a 10-copy landing, so
    * their rows/s counts 10x the table: those are the stream numbers
    * that measure engine/join-state throughput rather than trigger
    * overhead (the three join queries emit ~100x pairs at 10x input —
    * matched pairs scale quadratically with stream density). */
  val streamHeadline: Seq[(String, Landing)] =
    Queries.all.flatMap(q => q.stream.map(q.name -> _))

  /** ×10 scale lane (round 13): correctness runs a decade up
    * (CORRECTNESS_sf1), but until now the bench did not, so a
    * SCALE-ONLY plan regression — the class round 12 fixed, where a
    * lying size estimate flips a join to a static broadcast only
    * once the side is big enough to hurt — was invisible between
    * manual anchor campaigns. Each round times the banded ≥1 s
    * queries once on a 10× disjoint-copy fixture
    * ([[graft.tools.ScaleFixture]] semantics: per-copy key offsets,
    * cipher-perturbed text, rotated embeddings), built on demand
    * when the scratch dir did not survive the round boundary.
    *
    * q_triangles runs FIRST and doubles as the WINDOW GAUGE
    * (clean-machine band 21.2–22.6 s): this sandbox has measured
    * 2–4× kernel-side slowdowns that move every shuffle-heavy
    * number uniformly, so read the lane relative to the gauge
    * before calling anything a regression (BASELINE.md window
    * notes). Single-run, not best-of-2 — at 2–90 s per query the
    * lane already costs ~3 min and JIT is amortized by the sf0.1
    * lanes that ran before it in the same JVM. */
  val x10Headline: Seq[String] = Seq(
    "q_triangles", // shuffle-heavy gauge — keep first
    "text_winnow", // shuffle-light (pure-kernel CPU) gauge — keep second
    "q_pagerank", "dedup_ngram_verified", "dedup_winnow_pairs",
    "q_dsir_select", "dedup_simhash_pairs",
    "dedup_incr_neardup", "text_classify_nb", "sim_knn_components",
    "q_split_safe", "q_pack_greedy", "q_scd2",
    "q_snapshot_upsert_compact", "stream_upsert",
    "sim_knn_lsh_clustered") // slowest (~30-90 s) — keep last

  /** Clean-machine bands for the two ×10 window gauges (BASELINE.md
    * scale-anchor table). They separate the two failure modes this
    * sandbox has shown: q_triangles is shuffle-heavy (degrades extra
    * under kernel writeback storms), text_winnow is a pure Catalyst
    * kernel with no join (degrades only with raw CPU contention).
    * Both high ⇒ uniform CPU slowdown — scale every number down by
    * the ratio; triangles high while winnow is in band ⇒ shuffle/
    * writeback storm — shuffle-heavy numbers are junk, kernel-bound
    * ones usable. Every bench artifact embeds both ratios so it
    * self-rates its window (round-13 verdict task 8). */
  val gaugeBands: Map[String, (Double, Double)] = Map(
    "q_triangles" -> ((21.2, 22.6)),
    "text_winnow" -> ((1.4, 2.0)))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Session.getOrCreate()

    def runIn(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      try Queries.byName(name).timedPlan(spark, dir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }
    def runOnce(name: String): Double = runIn(name, sfDir)

    // Warm EVERY measured query once outside the clock. Partial
    // warmup (one query per family) left 35/41 queries paying
    // first-run codegen+JIT inside the clock: BENCH_r03 recorded
    // dedup_simhash_pairs at 19.5 s where the warm time is 1.1 s.
    // Each query's generated code is unique, so only running the
    // query itself compiles it; a family representative does not.
    headline.foreach { n =>
      try Queries.byName(n).timedPlan(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () /* runOnce reports the failure */ }
    }

    // Best-of-2, INTERLEAVED across two full suite passes. The two
    // samples of a query used to run back-to-back, so a multi-minute
    // machine-contention burst landed on BOTH samples and the min
    // couldn't filter it: BENCH_r08/r09 each recorded a contiguous
    // run of 2-4x phantom regressions (q_triangles 18.1 s vs 8.2 s
    // warm) that cost a manual TimeQuery per query to clear. With the
    // suite at ~100 s/pass, separating a query's two samples by a
    // full pass puts them minutes apart — far wider than the observed
    // burst width — so min-of-2 recovers the uncontended time.
    val pass1 = headline.map(n => n -> runOnce(n))
    val pass2 = headline.map(n => n -> runOnce(n))
    val results = pass1.zip(pass2).map { case ((n, a), (_, b)) =>
      // a transient pass-1 failure must not discard a valid pass-2
      // sample (and vice versa); only both-failed reports -1
      n -> (if (a < 0) b else if (b < 0) a else math.min(a, b))
    }
    // milliseconds are plenty for wall-clock seconds, and rounding
    // halves the length of the one-line JSON the driver must capture
    // intact from a bounded stdout tail
    def r3(v: Double): Double = math.rint(v * 1000) / 1000

    // --- incremental artifact state (round-13 verdict task 3) ---
    // The round-13 driver bench was timeout-killed (rc=124) and left
    // `parsed: null`: the artifact was assembled only at the very
    // end, so 40+ minutes of completed measurements evaporated. The
    // file is now (re)written after the batch lane, after the stream
    // lane, and after EVERY ×10 query — a kill at any point leaves
    // valid JSON with all completed lanes and `"partial":true` so a
    // reader knows lanes are missing, not empty.
    val out = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_OUT", "/root/repo/bench_last.json")
    var streamState: Seq[(String, Double, Double)] = Nil
    val x10State = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    // per-gauge host-health window (steal, iowait fractions): lets an
    // artifact distinguish hypervisor steal from writeback storms
    // without a separate monitoring session (see tools.HostMeter)
    val gaugeHost = scala.collection.mutable.Map.empty[String, (Double, Double)]
    def artifactLine(partial: Boolean): String = {
      val qs = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }
        .mkString("{", ",", "}")
      val total = r3(results.map(_._2).filter(_ >= 0).sum)
      val ss = streamState.map { case (k, sec, rps) =>
        "\"" + k + "\":{\"sec\":" + r3(sec) + ",\"rows_per_sec\":" + rps + "}"
      }.mkString("{", ",", "}")
      val streamTotal = r3(streamState.map(_._2).filter(_ >= 0).sum)
      val xs = x10State.map { case (k, v) => "\"" + k + "\":" + r3(v) }
        .mkString("{", ",", "}")
      val x10Total = r3(x10State.map(_._2).filter(_ >= 0).sum)
      // gauge ratios vs band TOP: ≤1.0 ⇒ the window is clean for that
      // gauge's workload class; see gaugeBands doc for how to read
      // the (triangles, winnow) pair together
      val gs = x10State.collect {
        case (k, v) if gaugeBands.contains(k) =>
          val (lo, hi) = gaugeBands(k)
          val ratio = if (v > 0) math.rint(v / hi * 100) / 100 else -1.0
          val host = gaugeHost.get(k).map { case (st, io) =>
            ",\"steal\":" + math.rint(st * 1000) / 1000 +
              ",\"iowait\":" + math.rint(io * 1000) / 1000
          }.getOrElse("")
          "\"" + k + "\":{\"sec\":" + r3(v) + ",\"clean_band\":[" + lo +
            "," + hi + "],\"ratio_vs_band_top\":" + ratio + host + "}"
      }.mkString("{", ",", "}")
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""streams":$ss,"stream_total_sec":$streamTotal,""" +
        s""""x10":$xs,"x10_total_sec":$x10Total,"gauges":$gs,""" +
        s""""partial":$partial,"sf":"$sfDir"}"""
    }
    def flushArtifact(partial: Boolean): Unit =
      try {
        // write-then-atomic-rename: the artifact is rewritten ~20
        // times per run, and a concurrent reader (or a kill landing
        // mid-write) must never observe a truncated line
        val tmp = java.nio.file.Paths.get(out + ".tmp")
        java.nio.file.Files.writeString(tmp, artifactLine(partial) + "\n")
        java.nio.file.Files.move(tmp, java.nio.file.Paths.get(out),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $out: ${e.getMessage}")
      }
    flushArtifact(partial = true) // batch lane complete

    // streaming lane (after the batch lane: JVM hot, caches warm).
    // Input counts are failure-guarded like every other measurement:
    // a missing table (e.g. a ScaleFixture dir without events) must
    // not discard the completed batch lane.
    val inputRows: Map[String, Long] = streamHeadline.map(_._2.table).distinct
      .map(t => t -> (try spark.read.parquet(s"$sfDir/$t.parquet").count()
        catch { case _: Throwable => -1L }))
      .toMap
    val streamResults = streamHeadline.map { case (name, land) =>
      val sec = runOnce(name)
      val rps =
        if (sec > 0 && inputRows(land.table) >= 0)
          math.rint(inputRows(land.table) * land.copies / sec)
        else -1.0
      (name, sec, rps)
    }
    streamState = streamResults
    flushArtifact(partial = true) // stream lane complete

    // ×10 scale lane (see x10Headline doc). Failure-guarded end to
    // end: a fixture-build failure (no scratch space, read-only fs)
    // or a per-query failure must not discard the completed sf0.1
    // lanes. GRAFT_BENCH_X10=0 skips the lane entirely.
    val x10Dir = sys.env.getOrElse("SPARK_GRAFT_X10_DIR", "/root/scratch/x10")
    val x10Results: Seq[(String, Double)] =
      if (sys.env.get("GRAFT_BENCH_X10").contains("0")) Nil
      else {
        val ready =
          try {
            if (!java.nio.file.Files.exists(
                java.nio.file.Paths.get(s"$x10Dir/lineitem.parquet")))
              graft.tools.ScaleFixture.build(spark, sfDir, x10Dir, 10,
                Set.empty)
            true
          } catch { case e: Throwable =>
            System.err.println(
              s"[bench] x10 fixture unavailable at $x10Dir: ${e.getMessage}")
            false
          }
        if (!ready) Nil
        else x10Headline.map { n =>
          val close =
            if (gaugeBands.contains(n)) Some(graft.tools.HostMeter.start())
            else None
          val sec = runIn(n, x10Dir)
          close.flatMap(_.apply()).foreach(w => gaugeHost(n) = w)
          // the scale lane runs 2–90 s queries back-to-back on a big
          // fixture; release each query's shuffle files before the
          // next (same reasoning as TimeQuery — the ContextCleaner
          // only reclaims them on GC)
          System.gc()
          x10State += (n -> sec)
          flushArtifact(partial = true) // per-×10-query checkpoint
          n -> sec
        }
      }

    flushArtifact(partial = false)
    val line = artifactLine(partial = false)
    // Stop Spark BEFORE printing so the summary JSON is the literal
    // last thing this process writes to stdout: BENCH_r06/r07 both
    // recorded "parsed": null because the driver's stdout-tail capture
    // cut the head of the long line when output followed it. Per-query
    // lines go first (each one independently parseable if the tail
    // still clips the summary), summary line last, flushed.
    spark.stop()
    results.foreach { case (k, v) =>
      println(s"""{"query":"$k","sec":${r3(v)}}""")
    }
    streamResults.foreach { case (k, sec, rps) =>
      println(s"""{"query":"$k","sec":${r3(sec)},"rows_per_sec":$rps}""")
    }
    x10Results.foreach { case (k, v) =>
      println(s"""{"query":"$k","sec":${r3(v)},"lane":"x10"}""")
    }
    println(line)
    System.out.flush()
  }
}

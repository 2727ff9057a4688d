package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Ends with one
  * stderr line naming the queries that threw; the exit code does not
  * depend on them.
  *
  * Wall-clock hardening (a contended sandbox once timed the driver's
  * gate out to `{}`): input tables are read once and cached
  * ([[SparkEntry.cacheInputs]]), the streaming queries share one
  * landing copy per source table, and independent queries run on a
  * small thread pool — Spark's scheduler interleaves their jobs, so
  * the wall time is bounded by work, not by 100 sequential
  * latency-bound query setups. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: SFDIR OUTDIR [queryName...] — extra args restrict the run
    // to the named queries (dev loop); the driver always passes 2.
    val sfDir = args(0); val outDir = args(1)
    val only: Set[String] = args.drop(2).toSet
    val spark = graft.core.Session.getOrCreate()
    new java.io.File(outDir).mkdirs()
    SparkEntry.cacheInputs = true
    val names = SparkEntry.queries.keys
      .filter(name => only.isEmpty || only(name)).toSeq.sorted
    val threads = threadsFrom(sys.env.get("SPARK_GRAFT_VERIFY_THREADS"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val done = new java.util.concurrent.CountDownLatch(names.size)
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    names.foreach { name =>
      pool.execute { () =>
        val t0 = System.nanoTime()
        // per-query wall lines make a contended/hung driver run
        // diagnosable from its stderr (which query ate the clock)
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          System.err.println(f"[verify] $name ok in " +
            f"${(System.nanoTime() - t0) / 1e9}%.1f s")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          failed.add(name)
        } finally done.countDown()
      }
    }
    done.await()
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // only the queries this run built, so a dev-loop subset checks
    // cleanly and a query that threw reads as a missing output
    val oracles = SparkEntry.oracleSql
    val json = names
      .map(k => s"${q(k)}: ${q(oracles(k))}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    val threw = failed.toArray(Array.empty[String]).sorted
    System.err.println(s"[verify] ${threw.length} of ${names.size} queries " +
      s"threw: ${threw.mkString(" ")}")
  }

  /** The thread-pool size from the value of
    * `SPARK_GRAFT_VERIFY_THREADS`, 6 when it is unset. */
  private[graft] def threadsFrom(value: Option[String]): Int =
    graft.core.Session.positiveIntFrom("SPARK_GRAFT_VERIFY_THREADS", value, 6)
}

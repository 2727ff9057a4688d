package graft.tools

/** Time arbitrary queries of the inventory warm (best of 2 after
  * a warmup pass), matching Bench methodology — the dev loop for
  * tuning one query without paying the full headline run.
  * Usage: runMain graft.tools.TimeQuery <sfDir> <query> [query...] */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: TimeQuery <sfDir> <query> [query...]")
    val sfDir = args.head
    val names = args.tail.toSeq
    val spark = graft.core.Session.getOrCreate("graft-time-query")
    // Each timed run carries its own host-health window (HostMeter):
    // the seconds column stays column 2 (scripts awk on it), the
    // steal/iowait tail tells a reader whether an elevated number was
    // hypervisor steal, a writeback storm, or a real regression.
    def once(n: String): (Double, String) = {
      val close = HostMeter.start()
      val t0 = System.nanoTime()
      graft.queries.Queries.byName(n).timedPlan(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      val host = HostMeter.describe(close())
      // release the run's shuffle files NOW: the ContextCleaner only
      // reclaims them when the query's RDDs get GC'd, so on big
      // fixtures three timed runs accumulate 3× the shuffle footprint
      // and can fill the local disk (observed at the ×100 fixture)
      System.gc()
      (dt, host)
    }
    def report(n: String, r: (Double, String)): Unit =
      println(f"$n%-28s ${r._1}%8.2f s  ${r._2}")
    // GRAFT_TIME_ONCE=1: single cold run per query — for ×100-scale
    // fixtures where the standard warm best-of-2 (3 executions)
    // would triple an already half-hour measurement; anchors taken
    // this way are marked "cold single-run" in BASELINE.md.
    if (sys.env.get("GRAFT_TIME_ONCE").contains("1"))
      names.foreach { n => report(n, once(n)) }
    else {
      names.foreach(once) // warm
      names.foreach { n =>
        report(n, Seq(once(n), once(n)).minBy(_._1))
      }
    }
    spark.stop()
  }
}

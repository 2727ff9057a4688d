package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Small shared helpers of the harness mains. */
object Harness {
  /** Wall clock in epoch milliseconds with microsecond digits. */
  def nowMs(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000.0 + i.getNano / 1e6
  }

  /** Seconds since this JVM started (RuntimeMXBean start time). */
  def sinceJvmStart(): Double =
    (nowMs() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  /** The program's own session factory: the harness never configures
    * Spark itself, so set-up time is the program's. */
  def session(): SparkSession = graft.core.Session.getOrCreate()

  /** Ends the JVM at once, without Spark's shutdown: every result is
    * on disk by then, and run.py deletes the working directory. */
  def exit(): Nothing = {
    Console.flush()
    Runtime.getRuntime.halt(0)
    throw new IllegalStateException("unreachable")
  }

  def listFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toList finally s.close()
  }

  /** Total bytes of the regular files under `p` (a file or a tree),
    * hidden and underscore-prefixed bookkeeping files excluded, as a
    * reader of the output would count them. */
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala
        .filter(f => Files.isRegularFile(f) && {
          val n = f.getFileName.toString
          !n.startsWith(".") && !n.startsWith("_")
        })
        .map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete) finally s.close()
    }

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
}

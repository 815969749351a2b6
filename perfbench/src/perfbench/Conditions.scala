package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Run conditions recorded with every result: a figure is only a
  * measurement together with the load, steal and input it was taken
  * under. */
object Conditions {

  /** Aggregate `cpu` line of /proc/stat, in jiffies. */
  final case class CpuTimes(busy: Long, idle: Long, steal: Long) {
    def total: Long = busy + idle + steal
    def -(o: CpuTimes): CpuTimes = CpuTimes(busy - o.busy, idle - o.idle, steal - o.steal)
    /** Share of all CPU time the hypervisor took from this guest. */
    def stealShare: Double = if (total > 0) steal.toDouble / total else 0.0
    /** Share of all CPU time spent running work. Steal is NOT counted as
      * busy: stolen time is time the guest wanted to run and could not. */
    def busyShare: Double = if (total > 0) busy.toDouble / total else 0.0
  }

  /** Parses the `cpu` line: user nice system idle iowait irq softirq
    * steal (guest time is already included in user/nice). */
  def parseCpuLine(line: String): CpuTimes = {
    val f = line.trim.split("\\s+").drop(1).map(_.toLong).padTo(8, 0L)
    CpuTimes(busy = f(0) + f(1) + f(2) + f(5) + f(6), idle = f(3) + f(4), steal = f(7))
  }

  def cpuTimes(): CpuTimes =
    try parseCpuLine(Files.readAllLines(Paths.get("/proc/stat")).asScala
      .find(_.startsWith("cpu ")).getOrElse("cpu"))
    catch { case _: java.io.IOException => CpuTimes(0, 0, 0) }

  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** Mean current core frequency from /proc/cpuinfo, -1 if unavailable. */
  def cpuMhz(): Double =
    try {
      val mhz = Files.readAllLines(Paths.get("/proc/cpuinfo")).asScala
        .filter(_.startsWith("cpu MHz")).map(_.split(":")(1).trim.toDouble)
      if (mhz.nonEmpty) mhz.sum / mhz.size else -1.0
    } catch { case _: java.io.IOException => -1.0 }

  /** A `/proc/self/status` field in MiB (`VmHWM` is the peak resident
    * set), -1 if unavailable. */
  def procStatusMb(field: String): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    catch { case _: java.io.IOException => -1.0 }

  private def sha256(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .take(4).map("%02x".format(_)).mkString

  /** Fixture manifest: per table directory, the byte size and a hash of
    * the last 64 KiB (the parquet footer: schema, row counts and column
    * stats) of each data file, plus one digest over all tables. Two
    * results are comparable only when their digests match. */
  def fixtureManifest(dir: String, tables: Seq[String])
      : (Seq[(String, Long, String)], String) = {
    val entries = tables.map { t =>
      val files = Files.list(Paths.get(dir, s"$t.parquet")).iterator().asScala.toSeq
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .sortBy(_.getFileName.toString)
      val size = files.map(Files.size).sum
      val footers = files.map { f =>
        val n = Files.size(f)
        val tail = new Array[Byte](math.min(n, 65536L).toInt)
        val ch = java.nio.channels.FileChannel.open(f)
        try {
          ch.position(n - tail.length)
          val bb = java.nio.ByteBuffer.wrap(tail)
          while (bb.hasRemaining && ch.read(bb) >= 0) {}
        } finally ch.close()
        sha256(tail)
      }
      (t, size, footers.mkString("+"))
    }
    val digest = sha256(entries.map { case (t, s, f) => s"$t:$s:$f;" }
      .mkString.getBytes(StandardCharsets.UTF_8))
    (entries, digest)
  }
}

package graft.bench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Readings of this process from `/proc/self`. */
object Proc {
  private def field(file: String, key: String): Option[Long] = {
    val p = Paths.get("/proc/self", file)
    if (!Files.isReadable(p)) None
    else new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .split('\n').find(_.startsWith(key + ":"))
      .map(_.stripPrefix(key + ":").trim.split("\\s+")(0).toLong)
  }

  /** Peak resident set size in MB (`VmHWM`). */
  def peakRssMb(): Double =
    field("status", "VmHWM").map(_ / 1024.0).getOrElse(0.0)

  /** Bytes this process has passed to read() and write() calls so far. */
  def readBytes(): Long = field("io", "rchar").getOrElse(0L)
  def writtenBytes(): Long = field("io", "wchar").getOrElse(0L)
}

/** A fixed pure-CPU loop. It exercises nothing in the program; its time
  * shows how fast this host ran during the run, so figures from different
  * sessions can be put side by side.
  */
object Calibration {
  @volatile private var sink = 0L

  def seconds(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 100000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1
      }
      sink += x
      (System.nanoTime() - t0) / 1e9
    }
    once() // compiles the loop
    Stats.median(Seq.fill(3)(once()))
  }
}

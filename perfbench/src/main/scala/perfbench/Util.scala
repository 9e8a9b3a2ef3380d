package perfbench

import java.nio.file.{Files, Path}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) throw new IllegalArgumentException(s"not a JSON number: $d")
    else d.toString
}

object Files2 {
  /** Deletes a file or directory tree if it exists. */
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try {
      val it = s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator()
      while (it.hasNext) Files.delete(it.next())
    } finally s.close()
  }

  /** (file count, total bytes) of the regular files under `p`. */
  def usage(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try {
      var n = 0L
      var bytes = 0L
      s.filter(Files.isRegularFile(_)).forEach { f => n += 1; bytes += Files.size(f) }
      (n, bytes)
    } finally s.close()
  }
}

/** Peak live heap: a full collection at fixed points of the run, then the
  * heap in use. Callers place checkpoints where the run holds the most live
  * data (after set-up, and at the end of an operation before its results are
  * released). Checkpoints sit outside every timed region.
  */
final class HeapPeak {
  private val mx = java.lang.management.ManagementFactory.getMemoryMXBean
  private val seen = scala.collection.mutable.ArrayBuffer.empty[Double]
  def checkpoint(): Unit = {
    System.gc()
    seen += mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
  def peakMb: Double = if (seen.isEmpty) 0.0 else seen.max
  def checkpointsMb: Seq[Double] = seen.toSeq
}

/** External contention over the measured part of a run: CPU steal from the
  * hypervisor (`graft.core.StealProbe`) and the host load that is not this
  * JVM's (`graft.core.LoadProbe`). Diagnostic only; never gated.
  */
final class HostNoise(cores: Int) {
  private val steal0 = graft.core.StealProbe.snapshot()
  private val sampler = new graft.core.LoadProbe.Sampler(cores.toDouble)
  def stop(): (Double, Double) = {
    val load = sampler.stop()
    (graft.core.StealProbe.pct(steal0, graft.core.StealProbe.snapshot()), load)
  }
}

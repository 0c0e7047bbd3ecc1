package perfbench

import java.nio.file.{Files, Path}

object Fs {
  /** Total bytes of the regular files under `p` (0 when absent). */
  def sizeOf(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally walk.close()
    }

  def listChildren(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Nil
    else {
      val ls = Files.list(p)
      try ls.toArray.toSeq.map(_.asInstanceOf[Path]) finally ls.close()
    }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
}

object Stats {
  /** The q-quantile by nearest rank (q in (0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of 0.9, 0.8, ... 0.5 with at least ten samples above it,
    * so a tail percentile is never read off a handful of samples.
    */
  def tailQuantile(n: Int): Double =
    Seq(0.9, 0.8, 0.7, 0.6, 0.5).find(q => n - math.ceil(q * n) >= 10).getOrElse(0.5)
}

/** Host conditions recorded with every run. They are never used to drop or
  * adjust a measurement.
  */
object Weather {
  private val buf = {
    val b = new Array[Byte](1 << 20)
    new java.util.Random(7).nextBytes(b) // incompressible
    b
  }

  /** Seconds to write and fsync 32 MiB in `dir`. */
  def ioCanary(dir: Path): Double = {
    import java.nio.file.StandardOpenOption._
    val p = dir.resolve("io_canary.bin")
    val t0 = System.nanoTime()
    val ch = java.nio.channels.FileChannel.open(p, CREATE, WRITE, TRUNCATE_EXISTING)
    try {
      (0 until 32).foreach(_ => ch.write(java.nio.ByteBuffer.wrap(buf)))
      ch.force(true)
    } finally ch.close()
    val s = (System.nanoTime() - t0) / 1e9
    Files.deleteIfExists(p)
    s
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => apply(other.toString)
  }
}

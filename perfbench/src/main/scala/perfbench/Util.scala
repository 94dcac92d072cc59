package perfbench

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Minimal JSON writer: maps, sequences, strings, numbers, booleans. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}

/** Host facts every result is stamped with. */
object Host {
  private def read(path: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")

  def loadavg1(): Double = read("/proc/loadavg").trim.split("\\s+")(0).toDouble

  def memTotalMb(): Long = read("/proc/meminfo").linesIterator
    .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong / 1024).getOrElse(-1L)

  /** High-water resident set size of this JVM. */
  def peakRssMb(): Double = read("/proc/self/status").linesIterator
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong / 1024.0).getOrElse(-1.0)

  def xmxMb(): Long = Runtime.getRuntime.maxMemory / (1024 * 1024)

  /** Host-wide (stolen, total) CPU time in clock ticks from /proc/stat: on
    * a shared virtual machine the stolen share explains slow runs. */
  def cpuTicks(): (Long, Long) = {
    val t = read("/proc/stat").linesIterator.next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
    (if (t.length > 7) t(7) else 0L, t.sum)
  }
}

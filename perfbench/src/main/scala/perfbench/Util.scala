package perfbench

/** Order statistics and a minimal JSON writer for the result record. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest of the usual percentiles that still has at least ten
    * samples beyond it: (percentile, value, n). None below 20 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] =
    Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5)
      .find(p => xs.size * (1 - p) >= 10)
      .map(p => (p * 100, quantile(xs, p), xs.size))
}

object Disk {
  /** Bytes of every regular file under `dir` (0 when it does not exist). */
  def dirBytes(dir: String): Long = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else java.nio.file.Files.walk(p).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_)).map(java.nio.file.Files.size).sum
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}: ${apply(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case p: Product => apply(p.productIterator.toSeq)
    case other => str(other.toString)
  }

  def read(path: String): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
}

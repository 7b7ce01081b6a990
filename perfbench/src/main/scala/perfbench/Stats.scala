package perfbench

/** Small, pure helpers the benchmark reports through: percentiles, the
  * highest percentile a sample supports, the file-commit mapping of the
  * streaming workload, and the metric-name rule. Kept free of Spark so the
  * benchmark's own tests exercise them directly.
  */
object Stats {

  /** Linear-interpolated percentile (`q` in [0, 100]) of a non-empty sample,
    * the "linear" method of numpy / R type 7. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(q >= 0 && q <= 100, s"percentile $q outside [0, 100]")
    val s = xs.sorted
    val pos = (s.size - 1) * q / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Percentiles worth reporting beyond the median, highest first. */
  private val Tails = Seq(99.9, 99.0, 95.0, 90.0, 75.0)

  /** The highest percentile with at least `beyond` samples above it
    * (a p90 needs 100 samples for ten beyond it), if any. */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    Tails.find(p => n * (100.0 - p) / 100.0 >= beyond - 1e-9)

  /** One-line summary of a timing sample: median, the supported tail
    * percentile and the sample count. */
  def summary(xs: Seq[Double]): String =
    if (xs.isEmpty) "n=0"
    else {
      val tail = tailPercentile(xs.size)
        .map(p => f" p${fmtPct(p)}=${percentile(xs, p)}%.4f").getOrElse("")
      f"p50=${median(xs)}%.4f$tail n=${xs.size}"
    }

  private def fmtPct(p: Double): String =
    if (p == p.floor) p.toLong.toString else p.toString

  /** Stream commit mapping. `fileRows(i)` is the page count of the i-th
    * landed file (in landing order); `batches` are the progress events in
    * order as (numInputRows, batch end ms). A file is committed by the first
    * batch whose CUMULATIVE input rows cover every page up to and including
    * that file. Returns, per file, the index of that batch (None when no
    * batch covers it yet). */
  def commitBatchOf(fileRows: Seq[Long], batchRows: Seq[Long]): Seq[Option[Int]] = {
    val cumBatch = batchRows.scanLeft(0L)(_ + _).tail
    val cumFile = fileRows.scanLeft(0L)(_ + _).tail
    var b = 0
    cumFile.map { need =>
      while (b < cumBatch.size && cumBatch(b) < need) b += 1
      if (b < cumBatch.size) Some(b) else None
    }
  }

  private val NameRe = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r

  /** Metric names: a letter or digit first, then at most 63 letters, digits,
    * `_`, `.` or `-`. */
  def validName(s: String): Boolean = NameRe.matches(s)

  /** Minimal JSON string escaping for the result line. */
  def jsonStr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** A JSON number with all measured digits (never rounded to a constant). */
  def jsonNum(x: Double): String = {
    require(!x.isNaN && !x.isInfinite, s"non-finite metric value $x")
    if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString else x.toString
  }
}

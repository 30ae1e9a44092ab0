package perfbench

/** The benchmark's arithmetic, kept free of Spark so its spec can pin
  * it down: medians, the tail-percentile rule, interval unions and the
  * call-site attribution rule. */
object Stats {

  /** Nearest-rank value at whole percentile `p` of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val k = math.ceil(p / 100.0 * s.size).toInt
    s(math.max(1, math.min(k, s.size)) - 1)
  }

  /** Linear-interpolated median. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail reading: the value at `percentile`, with `beyond` of the
    * `samples` lying above its rank. */
  final case class Tail(percentile: Int, value: Double, samples: Int, beyond: Int)

  /** The highest whole percentile that still has at least `minBeyond`
    * samples beyond it. A sample too small for any such percentile
    * reports its maximum (percentile 100, nothing beyond). */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of an empty sample")
    val n = xs.size
    if (n <= minBeyond) Tail(100, xs.max, n, 0)
    else {
      val p = (100L * (n - minBeyond) / n).toInt
      val k = math.max(1, math.ceil(p / 100.0 * n).toInt)
      Tail(p, percentile(xs, p), n, n - k)
    }
  }

  /** Total length covered by a set of half-open intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Clip intervals to the window [lo, hi). */
  def clip(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter { case (a, b) => b > a }

  /** Time of a window [lo, hi) not covered by any interval. */
  def selfTime(lo: Long, hi: Long, children: Seq[(Long, Long)]): Long =
    (hi - lo) - unionLength(clip(children, lo, hi))

  /** The module and step of a Spark job's call site. */
  final case class Site(module: String, step: String)

  /** `graft.<module>.<Class>.<method>(` in a stack frame, with an
    * optional `loader//` prefix as `StackTraceElement.toString` writes
    * it. Classes directly in `graft` (the mains) have no module. */
  private val Frame =
    """(?:^|/)graft\.([a-z][A-Za-z0-9_]*)\.([A-Za-z0-9_$]+)\.([A-Za-z0-9_$<>]+)\(""".r
  private val AnonFun = """\$anonfun\$([A-Za-z0-9_]+?)(?:\$\d+)*$""".r.unanchored

  /** Attribution rule: a long call site (innermost frame first) belongs
    * to the module of its innermost `graft.*` frame. */
  def attribute(longCallSite: String): Option[Site] =
    longCallSite.split('\n').iterator.map(_.trim)
      .flatMap(l => Frame.findFirstMatchIn(l)).nextOption().map { m =>
        val cls = m.group(2).stripSuffix("$").split('$').filter(_.nonEmpty)
          .takeWhile(s => s != "anonfun" && !s.forall(_.isDigit)).mkString(".")
        val method = m.group(3) match {
          case AnonFun(name) => name
          case other => other.replaceAll("""\$\d*$""", "") // local defs: name$1
        }
        Site(m.group(1), s"$cls.$method")
      }
}

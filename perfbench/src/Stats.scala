package perfbench

/** Pure statistics shared by the harness and its unit tests. */
object Stats {

  /** Nearest-rank percentile: the value at 1-based rank ceil(q/100 * n). */
  def percentile(xs: Seq[Double], q: Int): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(q >= 1 && q <= 100, s"percentile $q out of range")
    val sorted = xs.sorted
    val rank = math.ceil(q / 100.0 * sorted.size).toInt.max(1)
    sorted(rank - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Geometric mean: each value weighs the same in log space, so a change
    * of one call kind's latency moves it by the same factor whatever that
    * kind's share of the calls. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geomean needs positive values: $xs")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** The highest whole percentile, up to `cap`, that leaves at least
    * `beyond` samples above its nearest rank — the tail a run of `n`
    * samples can honestly report. None when even the median would not. */
  def tailPercentile(n: Int, beyond: Int = 10, cap: Int = 90): Option[Int] =
    (cap to 50 by -1).find(q => n - math.ceil(q / 100.0 * n).toInt >= beyond)

  /** Total length covered by a set of [start, end) intervals, overlaps
    * counted once. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((s, e) <- intervals.filter(i => i._2 > i._1).sortBy(_._1)) {
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s
        curEnd = e
      } else curEnd = math.max(curEnd, e)
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Time inside [lo, hi) not covered by any interval: an op's wall time
    * minus the union of its Spark job intervals is its driver gap. */
  def uncovered(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long =
    (hi - lo) - unionLength(intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) })

  /** Self time of every span: its duration minus the part of it covered by
    * its direct children. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s.id -> s.uncoveredBy(kids)
    }.toMap
  }
}

/** One traced call into a layer; times are epoch nanoseconds. `parent` is
  * 0 for an op's root span. */
final case class Span(id: Long, name: String, layer: String, opId: Long, parent: Long, start: Long, end: Long) {
  def uncoveredBy(intervals: Seq[(Long, Long)]): Long = Stats.uncovered(start, end, intervals)
}

/** Minimal JSON rendering for the result and span files. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number in result: $d")
      d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"cannot render ${other.getClass}")
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

package graftbench

/** Summary statistics with the benchmark's reporting rules. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail figure: the value at `percentile` and the sample count. */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  /** The highest percentile that still has at least ten samples beyond
    * it: with n sorted samples that is the (n-10)-th smallest, reported as
    * percentile 100*(n-10)/n. None below 11 samples, where no value has
    * ten samples above it. */
  def tail(xs: Seq[Double]): Option[Tail] =
    if (xs.length < 11) None
    else {
      val s = xs.sorted
      val n = s.length
      Some(Tail(s(n - 11), 100.0 * (n - 10) / n, n))
    }

  /** A span as recorded by [[Tracer]]: [start, end) in nanoseconds. */
  final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
      start: Long, end: Long, counters: Map[String, Double]) {
    def duration: Long = end - start
  }

  /** Self time of `span`: its duration minus the part of its interval
    * that its direct children cover (overlapping children count once). */
  def selfTime(span: Span, children: Seq[Span]): Long = {
    val iv = children
      .map(c => (math.max(c.start, span.start), math.min(c.end, span.end)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    span.duration - covered
  }

  /** Self time summed per layer over all spans. */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => selfTime(s, kids.getOrElse(s.id, Nil))).sum
    }
  }

  def jsonString(x: String): String = {
    val sb = new StringBuilder("\"")
    x.foreach {
      case '\\' => sb.append("\\\\")
      case '"'  => sb.append("\\\"")
      case '\n' => sb.append("\\n")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c    => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Minimal JSON rendering of nested Maps/Seqs/strings/numbers. */
  def json(v: Any): String = v match {
    case null                     => "null"
    case s: String                => jsonString(s)
    case b: Boolean               => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double                => d.toString
    case f: Float                 => json(f.toDouble)
    case n: Int                   => n.toString
    case n: Long                  => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => jsonString(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case o: Option[_]             => o.map(json).getOrElse("null")
    case xs: Iterable[_]          => xs.map(json).mkString("[", ",", "]")
    case other                    => jsonString(other.toString)
  }
}

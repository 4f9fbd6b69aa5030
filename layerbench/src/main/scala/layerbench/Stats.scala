package layerbench

import java.math.{MathContext, BigDecimal => JBigDecimal}
import java.security.MessageDigest

/** The benchmark's own arithmetic, kept free of Spark so it can be tested
  * on plain values. */
object Stats {

  /** Nearest-rank percentile `p` (0 < p <= 100) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt.max(1).min(s.size)
    s(rank - 1)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest whole percentile, at most `cap`, that leaves at least
    * `above` of `n` samples strictly above its nearest rank; `None` when
    * even the lowest rank leaves fewer than `above` samples above it. */
  def tailPercentile(n: Int, cap: Int = 90, above: Int = 10): Option[Int] =
    (cap to 1 by -1).find { p =>
      val rank = math.ceil(p / 100.0 * n).toInt.max(1)
      n - rank >= above
    }

  /** Element-wise minimum over passes of aligned per-step times; a step
    * that failed in one pass (NaN) takes its time from the others, and
    * stays NaN only if it failed in all. */
  def bestPass(passes: Seq[Seq[Double]]): Seq[Double] =
    passes.transpose.map { xs =>
      val ok = xs.filterNot(_.isNaN)
      if (ok.isEmpty) Double.NaN else ok.min
    }

  /** Length of the union of half-open intervals `[start, end)`. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Part of `[start, end)` that none of `covers` overlaps. */
  def uncovered(start: Long, end: Long, covers: Seq[(Long, Long)]): Long = {
    val clipped = covers.map { case (s, e) => (s.max(start), e.min(end)) }
    (end - start).max(0L) - unionLength(clipped)
  }

  /** Task seconds over the cores the wall time offered; 0 for an empty span. */
  def coreUtil(taskSeconds: Double, wallSeconds: Double, cores: Int): Double =
    if (wallSeconds <= 0 || cores <= 0) 0.0 else taskSeconds / (wallSeconds * cores)

  /** `num / den`, or 0 when there is nothing to divide by. */
  def ratio(num: Double, den: Double): Double = if (den == 0) 0.0 else num / den

  private val mc = new MathContext(9)

  /** Canonical text of one output value. Doubles keep nine significant
    * digits, so a different summation order in a distributed aggregate does
    * not change the digest; map entries are sorted. */
  def canon(v: Any): String = v match {
    case null => "\\N"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0"
      else new JBigDecimal(d).round(mc).stripTrailingZeros.toString
    case f: Float => canon(f.toDouble)
    case b: JBigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => canon(b.bigDecimal)
    case r: org.apache.spark.sql.Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Iterable[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Order-insensitive digest of a result: rows are put in canonical text,
    * sorted, then hashed. */
  def digest(rows: Iterable[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.toSeq.sorted.foreach { r =>
      md.update(r.getBytes("UTF-8"))
      md.update('\n'.toByte)
    }
    md.digest().take(8).map("%02x".format(_)).mkString
  }
}

/** One timed interval in the trace tree. Times are wall-clock nanoseconds. */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)

object Span {
  /** Each span's duration minus the part of it its children cover. Over a
    * tree whose children nest inside their parents, the self times sum to
    * the roots' durations. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> Stats.uncovered(s.start, s.end, cs)
    }.toMap
  }
}

package pipebench

import scala.collection.mutable

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Total length covered by a set of intervals. */
  def unionLength(xs: Seq[(Long, Long)]): Long =
    xs.filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
        if (b <= reach) (sum, reach) else (sum + b - math.max(a, reach), b)
      }._1

  /** The highest percentile that still has at least ten samples beyond
    * it, as (value, percentile). Up to 20 samples that percentile is at
    * or under the median, and the median stands in (percentile 50).
    */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val s = xs.sorted
    val n = s.size
    val k = n - 10 // samples at or below the tail value
    if (2 * k <= n) (median(s), 50) else (s(k - 1), 100 * k / n)
  }
}

/** One metric as the benchmark prints it. */
final case class Metric(name: String, value: Double, unit: String,
                        note: String = "")

/** Metrics, correctness tallies and the one-line JSON result. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, Metric]
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]

  def put(name: String, value: Double, unit: String, note: String = ""): Unit = {
    require(!value.isNaN && !value.isInfinite, s"metric $name is $value")
    metrics(name) = Metric(name, value, unit, note)
  }

  /** Tally `checked` compared items of which `bad` differ from the model. */
  def check(what: String, checked: Long, bad: Long, detail: => String = ""): Unit = {
    attempted += checked
    failed += bad
    if (bad > 0) problems += s"$what: $bad of $checked differ. $detail"
  }

  def failedShare: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted

  def json(names: Seq[String]): String = {
    val ms = names.map { n =>
      val m = metrics.getOrElse(n, sys.error(s"metric $n was not measured"))
      s""""$n": {"value": ${m.value}, "unit": "${m.unit}"}"""
    }
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

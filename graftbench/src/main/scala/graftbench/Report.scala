package graftbench

import scala.collection.mutable

/** One reported number. `kind` is "e2e" (an end-to-end metric of
  * BENCHMARK.json), "layer" (a per-layer metric of BENCHMARK.json) or
  * "info" (printed and written to the result file, not gated). */
final case class Metric(name: String, value: Double, unit: String, samples: Long, kind: String)

final class Report {
  private val metrics = mutable.LinkedHashMap.empty[String, Metric]

  def add(kind: String, name: String, value: Double, unit: String, samples: Long): Unit = {
    require(!value.isNaN && !value.isInfinite, s"metric $name is not a number: $value")
    metrics(name) = Metric(name, value, unit, samples, kind)
    println(s"graftbench metric $name = ${Report.num(value)} $unit (n=$samples, $kind)")
  }

  /** The result line: exactly the named metrics, value and unit. */
  def resultLine(names: Seq[String], correct: Boolean, attempted: Long, failed: Long): String = {
    val missing = names.filterNot(metrics.contains)
    require(missing.isEmpty, s"metrics not measured: ${missing.mkString(", ")}")
    val body = names.map { n =>
      val m = metrics(n)
      s"${Report.str(n)}:{\"value\":${Report.num(m.value)},\"unit\":${Report.str(m.unit)}}"
    }.mkString(",")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$body}}"""
  }

  def metricsJson: String = metrics.values.map { m =>
    s"${Report.str(m.name)}:{\"value\":${Report.num(m.value)},\"unit\":${Report.str(m.unit)}," +
      s"\"samples\":${m.samples},\"kind\":${Report.str(m.kind)}}"
  }.mkString("{", ",", "}")
}

object Report {
  /** A JSON number with every digit the double carries. */
  def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }
}

object Stats {
  /** Quantile by linear interpolation between order statistics (the
    * default of numpy and of R type 7). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val h = (s.length - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row

/** Canonical rendering and hashing of results. */
object Check {
  def render(values: Seq[Any]): String = values.map {
    case null => "null"
    case r: Row => "[" + render(r.toSeq) + "]"
    case s: scala.collection.Seq[_] => "[" + render(s.toSeq) + "]"
    case v => v.toString
  }.mkString("|")

  def hash(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((render(r.toSeq) + "\n").getBytes("UTF-8")))
    md.digest().take(12).map("%02x".format(_)).mkString
  }
}

/** Prints how long a phase of the run took, on stderr. */
object Phase {
  def apply[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally System.err.println(f"[perfbench] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }
}

object Json {
  /** A JSON string literal. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => " "
    case c => c.toString
  } + "\""
}

object Stats {
  /** Linear-interpolation quantile, `q` in [0, 1]. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.toIndexedSeq.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
  def ms(nanos: Long): Double = nanos / 1e6
  def s(nanos: Long): Double = nanos / 1e9
}

/** What one run reports: op counts, failures and named metrics with
  * their units and sample counts.
  */
final class Result {
  var attempted = 0L
  private var failedOps = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String, Long)]

  def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) fail(what)
  }

  def fail(what: String): Unit = {
    failedOps += 1
    explain(what)
  }

  /** Records why a check failed, for the op that counts the failure. */
  def explain(what: String): Unit = {
    if (failures.size < 20) failures += what
    System.err.println(s"[perfbench] FAILED: $what")
  }

  def put(name: String, value: Double, unit: String, samples: Long = 1): Unit =
    metrics(name) = (value, unit, samples)

  private def str(s: String) = Json.str(s)
  private def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString

  def toJson: String = {
    val ms = metrics.map { case (k, (v, u, n)) =>
      s"${str(k)}:{${str("value")}:${num(v)},${str("unit")}:${str(u)},${str("samples")}:$n}"
    }.mkString("{", ",", "}")
    s"""{"attempted":$attempted,"failed":$failedOps,"failures":${failures.map(str).mkString("[", ",", "]")},"metrics":$ms}"""
  }
}

package perfbench

import scala.collection.mutable

object Stats {
  /** Nearest-rank percentile (q in [0,1]) of an unsorted sample. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(x max 1e-9)).sum / xs.size)

  /** Length of the union of intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

/** Just enough JSON writing for the result line and the spans file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Run settings handed over by `run.py` as key=value arguments. */
final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      cores: Int, driverMem: String, dataDir: String, workDir: String,
                      startEpochMs: Long, tiny: Boolean, corrupt: Boolean) {
  def config: Map[String, Any] = Map("workload" -> workload, "seed" -> seed,
    "seconds" -> seconds, "trace" -> trace, "cores" -> cores,
    "driver_memory" -> driverMem, "size" -> (if (tiny) "tiny" else "full"))
}

/** What one run measured: metrics by name (value, unit, sample count),
  * the operations attempted and failed, the workload's settings (part of
  * the run config) and observations of this run (facts). */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String, Long)]
  val settings = mutable.LinkedHashMap.empty[String, Any]
  val facts = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  var firstTimedOpMs = 0.0
  var timedEndMs = 0.0

  def put(name: String, value: Double, unit: String, n: Long = 1L): Unit =
    metrics(name) = (value, unit, n)
  def setting(name: String, v: Any): Unit = settings(name) = v
  def fact(name: String, v: Any): Unit = facts(name) = v
  def check(what: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
  }

  def json(conf: Conf): String = Json.obj(Seq(
    "config" -> (conf.config ++ settings), "facts" -> facts.toMap,
    "attempted" -> attempted, "failed" -> failed, "failures" -> failures.toSeq,
    "first_timed_op_ms" -> firstTimedOpMs,
    "metrics" -> metrics.toSeq.map { case (k, (v, u, n)) =>
      k -> Map("value" -> v, "unit" -> u, "n" -> n) }.toMap))
}

package perfbench

import scala.collection.mutable

/** Command-line options shared by every mode of the harness. `workload`,
  * `seed`, `seconds` and `trace` are read in `run` mode only.
  */
case class Opts(mode: String, workload: String, seed: Long, seconds: Int, trace: Boolean, cores: Int,
    work: String, out: String, pins: String, launchedMs: Long)

object Opts {
  def parse(args: Array[String]): Opts = {
    require(args.nonEmpty, "usage: Main <run|selftest|pin> [--key value]...")
    val kv = args.drop(1).grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad option ${other.mkString(" ")}")
    }.toMap
    def req(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val run = args(0) == "run"
    def runOpt(k: String, unused: String): String = if (run) req(k) else kv.getOrElse(k, unused)
    val o = Opts(
      mode = args(0),
      workload = runOpt("workload", ""),
      seed = runOpt("seed", "0").toLong,
      seconds = runOpt("seconds", "1").toInt,
      trace = runOpt("trace", "0") == "1",
      cores = req("cores").toInt,
      work = req("work"),
      out = req("out"),
      pins = req("pins"),
      launchedMs = req("launched-ms").toLong)
    require(o.seconds >= 1, "--seconds must be >= 1")
    o
  }
}

/** Order statistics used for every reported timing. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile: the value at rank ceil(p/100 * n). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val rank = math.max(1, math.ceil(p / 100.0 * s.size).toInt)
    s(rank - 1)
  }

  /** Number of samples strictly ranked beyond the nearest-rank percentile. */
  def beyond(n: Int, p: Double): Int = n - math.max(1, math.ceil(p / 100.0 * n).toInt)

  val TailCandidates: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest candidate percentile with at least `minBeyond` samples
    * beyond it, as (percentile, value, samples beyond); None when even the
    * median has fewer.
    */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[(Double, Double, Int)] =
    TailCandidates.find(p => beyond(xs.size, p) >= minBeyond)
      .map(p => (p, percentile(xs, p), beyond(xs.size, p)))
}

/** Minimal JSON writer: the harness emits flat objects and arrays only. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** One named measurement with its unit. */
case class Metric(name: String, value: Double, unit: String)

/** Output checks, counted per operation: an operation fails when it throws
  * or when any check made inside it fails. A check made outside every
  * operation counts as an operation of its own.
  */
class Checks {
  private var attemptedN = 0L
  private var failedN = 0L
  private var depth = 0
  private var opFailed = false
  val failures = mutable.ArrayBuffer.empty[String]

  def attempted: Long = attemptedN
  def failed: Long = failedN
  def correct: Boolean = failedN == 0

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  /** Run one operation; a throw or a failed inner check fails it. */
  def operation[T](what: String)(body: => T): Option[T] = {
    attemptedN += 1
    depth += 1
    opFailed = false
    try {
      val r = body
      if (opFailed) failedN += 1
      Some(r)
    } catch {
      case e: Throwable =>
        failedN += 1
        failures += s"$what: ${describe(e)}"
        None
    } finally depth -= 1
  }

  def check(what: String)(ok: => Boolean): Boolean = {
    val (res, why) = try (ok, what) catch { case e: Throwable => (false, s"$what: ${describe(e)}") }
    if (!res) failures += why
    if (depth > 0) { if (!res) opFailed = true }
    else { attemptedN += 1; if (!res) failedN += 1 }
    res
  }
}

object Clock {
  def now(): Long = System.nanoTime()
  def secs(t0: Long, t1: Long = System.nanoTime()): Double = (t1 - t0) / 1e9
  def ms(t0: Long, t1: Long = System.nanoTime()): Double = (t1 - t0) / 1e6

  def timed[T](body: => T): (T, Double) = {
    val t0 = now()
    val r = body
    (r, secs(t0))
  }
}

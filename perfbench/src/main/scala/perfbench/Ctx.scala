package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, data: String, out: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), kv.getOrElse("data", ""), need("out"))
  }
}

/** State shared by the phases of one run: the session, the trace, the
  * metrics it reports and the count of operations attempted and failed.
  */
final class Ctx(val args: Args) {
  val trace = new Trace(args.trace)
  var spark: SparkSession = _
  /** Metric name -> (value, unit), in the order they were set. */
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Human-readable lines printed above the result. */
  val report = mutable.ArrayBuffer.empty[String]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** Count one attempted operation; a false `ok` counts it failed. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; errors += what }
  }

  def line(s: String): Unit = { report += s; System.err.println(s"[perfbench] $s") }

  def dir(name: String): String = {
    val d = new java.io.File(args.work, name)
    d.mkdirs()
    d.getAbsolutePath
  }
}

object Stats {
  /** Nearest-rank quantile of `xs` (0 for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def ms(ns: Long): Double = ns / 1e6
}

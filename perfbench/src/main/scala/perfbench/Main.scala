package perfbench

import java.util.{LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._

/** Runs one workload and writes its result as JSON for `perfbench/run.py`.
  *
  * {{{
  * Main --workload cdc_catchup|cdc_live --seed N --seconds S
  *      --trace 0|1 --work DIR --out FILE [--data DIR]
  * }}}
  */
object Main {
  /** Layers whose self time the traced run reports. */
  val Layers = Seq("session", "app", "sql", "sources", "streaming", "sinks", "cdc", "lake", "queries")

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val ctx = new Ctx(args)
    try args.workload match {
      case "cdc_catchup" => Cdc.catchup(ctx)
      case "cdc_live" => Cdc.live(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.check(ok = false, s"run failed: $e")
    }
    ctx.metric("rss_peak_mb", HostProbe.rssPeakMb(), "MB")
    if (args.trace) {
      val self = ctx.trace.selfSeconds
      Layers.foreach(l => ctx.metric(s"self.${l}_s", self.getOrElse(l, 0.0), "s"))
    }
    if (ctx.spark != null) ctx.spark.stop()

    val metrics = new JMap[String, Object]()
    ctx.metrics.foreach { case (k, (v, unit)) =>
      val m = new JMap[String, Object]()
      m.put("value", Double.box(v)); m.put("unit", unit)
      metrics.put(k, m)
    }
    val out = new JMap[String, Object]()
    out.put("correct", Boolean.box(ctx.failed == 0 && ctx.errors.isEmpty))
    out.put("attempted", Long.box(ctx.attempted))
    out.put("failed", Long.box(ctx.failed))
    out.put("metrics", metrics)
    out.put("report", ctx.report.asJava)
    out.put("errors", ctx.errors.asJava)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args.out),
      mapper.writeValueAsString(out))
    if (args.trace)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(args.out + ".spans.json"),
        ctx.trace.toJson)
    // the webhook server and Spark leave non-daemon threads behind
    sys.exit(0)
  }
}

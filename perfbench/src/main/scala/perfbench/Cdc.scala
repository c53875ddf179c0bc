package perfbench

import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import graft.{GraftApp, GraftConfigLoader, GraftSession}
import graft.sources.{DeltaLite, PushBuffer, Sources, WebhookServer}

/** Figures read from Spark's StreamingQueryProgress over many pipeline
  * runs: per batch, the time in each phase and the source offset range.
  */
final class StreamStats {
  var runs = 0
  val runOverheadMs = mutable.ArrayBuffer.empty[Double] // run wall minus its addBatch
  val addBatchMs = mutable.ArrayBuffer.empty[Double]
  val getBatchMs = mutable.ArrayBuffer.empty[Double] // latestOffset + getBatch
  val planningMs = mutable.ArrayBuffer.empty[Double]
  val walMs = mutable.ArrayBuffer.empty[Double] // offset log + commit log writes
  val ranges = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Wall time and changes taken, per run. */
  val runMs = mutable.ArrayBuffer.empty[Double]
  val runChanges = mutable.ArrayBuffer.empty[Double]
  def batches: Int = addBatchMs.size

  def summary: String = {
    val busy = runChanges.indices.filter(runChanges(_) > 0)
    f"$runs pipeline runs, ${busy.size} with data: median ${Stats.median(busy.map(runMs))}%.0f ms " +
      f"and ${Stats.median(busy.map(runChanges))}%.0f changes per run with data; ms/changes: " +
      runMs.indices.map(i => f"${runMs(i)}%.0f/${runChanges(i)}%.0f").mkString(" ")
  }
}

/** When a pipeline run ended and the source offset it committed. */
final case class RunEnd(endNs: Long, endOffset: Long)

/** The CDC pipeline as a user declares it: a webhook push channel decoded
  * into change rows, dialect SQL with INTO, and an upsert Delta sink.
  */
final class Pipeline(ctx: Ctx, val chan: String, root: String) {
  val sinkPath = s"$root/accounts"
  val config: GraftApp.GraftConfig =
    ctx.trace.span("app", "GraftConfigLoader.fromYaml") {
      GraftConfigLoader.fromYaml(
        s"""sources:
           |  - name: changes
           |    path: ""
           |    decode: webhook
           |    schema: "${Cdc.RowSchema}"
           |    options:
           |      channel: $chan
           |sql: |
           |  SELECT id, version, amount, tag, _op, _seq INTO accounts FROM changes;
           |sinks:
           |  - table: accounts
           |    path: $sinkPath
           |    checkpoint: ${sinkPath}_ckpt
           |    format: delta
           |    mode: upsert
           |    keys: [id]
           |streaming: true
           |""".stripMargin)
    }

  def build(): Unit =
    ctx.trace.span("app", "GraftApp.build")(GraftApp.build(ctx.spark, config))

  /** Empty the channel and drop the sink table with its checkpoint. */
  def reset(capacity: Int): Unit = {
    PushBuffer.clear(chan)
    PushBuffer.configure(chan, capacity)
    GraftApp.clean(config)
  }

  /** One AvailableNow run of the pipeline, as `GraftApp run` starts it;
    * `prevEnd` is the offset the previous run committed.
    */
  def runOnce(prevEnd: Long, stats: StreamStats): RunEnd =
    ctx.trace.span("streaming", "GraftApp.runStreaming") {
      val t0 = System.nanoTime()
      val queries = GraftApp.runStreaming(ctx.spark, config)
      try queries.foreach(_.awaitTermination()) finally queries.foreach(_.stop())
      val t1 = System.nanoTime()
      var end = prevEnd
      var addSum = 0.0
      queries.head.recentProgress.filter(_.numInputRows > 0).foreach { p =>
        def ms(k: String): Double =
          Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        stats.addBatchMs += ms("addBatch")
        stats.getBatchMs += ms("latestOffset") + ms("getBatch")
        stats.planningMs += ms("queryPlanning")
        stats.walMs += ms("walCommit") + ms("commitOffsets")
        addSum += ms("addBatch")
        val src = p.sources.head
        val from = Option(src.startOffset).filter(_ != "null").map(_.trim.toLong)
          .getOrElse(0L)
        val to = src.endOffset.trim.toLong
        stats.ranges += ((from, to))
        end = math.max(end, to)
        if (ctx.trace.enabled) {
          // Spark reports each phase's duration; lay them out in the order
          // MicroBatchExecution runs them, under this run's span
          var cursor = ctx.trace.wallToNs(java.time.Instant.parse(p.timestamp).toEpochMilli)
          Seq("latestOffset" -> "sources", "walCommit" -> "", "getBatch" -> "sources",
              "queryPlanning" -> "sql", "addBatch" -> "sinks", "commitOffsets" -> "")
            .foreach { case (k, layer) =>
              val d = (ms(k) * 1e6).toLong
              if (layer.nonEmpty) ctx.trace.record(layer, s"progress.$k", cursor, cursor + d)
              cursor += d
            }
        }
      }
      stats.runs += 1
      stats.runOverheadMs += Stats.ms(t1 - t0) - addSum
      stats.runMs += Stats.ms(t1 - t0)
      stats.runChanges += (end - prevEnd).toDouble
      RunEnd(t1, end)
    }

  /** The sink table as `(id, version, amount, tag)` tuples; a null version
    * reads as -1 and a null amount as NaN, so it cannot match a reference row.
    */
  def readSink(): Seq[(Long, Long, Double, String)] =
    ctx.trace.span("lake", "DeltaLite.read") {
      DeltaLite.read(ctx.spark, sinkPath).select("id", "version", "amount", "tag")
        .collect().toSeq
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
          if (r.isNullAt(2)) Double.NaN else r.getDouble(2), r.getString(3)))
    }

  /** Commits, data bytes added, rows in added files and files removed, read
    * from the table's `_delta_log` add and remove actions.
    */
  def logActions(): (Int, Long, Long, Long) = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val commits = Option(new java.io.File(sinkPath, "_delta_log")
      .listFiles((_, n) => n.matches("\\d{20}\\.json"))).getOrElse(Array.empty)
    var bytes, rows, removes = 0L
    commits.foreach { f =>
      scala.io.Source.fromFile(f).getLines().filter(_.nonEmpty).foreach { l =>
        val n = mapper.readTree(l)
        if (n.has("add")) {
          val a = n.get("add")
          bytes += a.get("size").asLong
          Option(a.get("stats")).filter(!_.isNull).foreach(s =>
            rows += mapper.readTree(s.asText).path("numRecords").asLong(0L))
        }
        if (n.has("remove")) removes += 1
      }
    }
    (commits.length, bytes, rows, removes)
  }
}

/** The two streaming workloads: `cdc_catchup` drains a seeded backlog,
  * `cdc_live` feeds the webhook endpoint on an open-loop schedule.
  */
object Cdc {
  val RowSchema = "id BIGINT, version BIGINT, amount DOUBLE, tag STRING"
  val Keys = 50000
  val Backlog = 200000
  /** Channel capacity for catch-up: holds the whole backlog with room to
    * spare, so the channel never refuses it.
    */
  val CatchupCapacity: Int = Backlog + Backlog / 4
  val Rate = 1000 // changes offered per second on cdc_live
  val TickMs = 10
  val WarmChanges = 2000
  val WarmChan = "bench_warmup"
  val WarmRequests = 300
  val LiveWarmS = 9 // seconds of offered load before the measured window
  val MaxRuns = 40

  /** Session, config, build and a warm-up run up to its first result, three
    * times; the median is `setup_s`. The last session stays for the run.
    */
  def setup(ctx: Ctx, master: String): Pipeline = {
    val total = mutable.ArrayBuffer.empty[Double]
    val session = mutable.ArrayBuffer.empty[Double]
    val app = mutable.ArrayBuffer.empty[Double]
    var pipeline: Pipeline = null
    for (_ <- 0 until 3) {
      if (ctx.spark != null) ctx.spark.stop()
      ctx.trace.newRun()
      val t0 = System.nanoTime()
      ctx.spark = ctx.trace.span("session", "GraftSession.create")(GraftSession.create(master))
      ctx.spark.sparkContext.setLogLevel("WARN")
      val t1 = System.nanoTime()
      pipeline = new Pipeline(ctx, "bench_changes", ctx.dir("cdc"))
      pipeline.build()
      val t2 = System.nanoTime()
      pipeline.reset(PushBuffer.DefaultCapacity)
      val gen = new ChangeGen(ctx.args.seed ^ 0x5eedL, 1000)
      val warm = Seq.fill(WarmChanges)(gen.next().envelope)
      ctx.trace.span("sources", "PushBuffer.pushAll")(PushBuffer.pushAll(pipeline.chan, warm, 0L))
      pipeline.runOnce(0L, new StreamStats)
      ctx.check(pipeline.readSink().nonEmpty, "warm-up run left the sink empty")
      total += (System.nanoTime() - t0) / 1e9
      session += (t1 - t0) / 1e9
      app += (t2 - t1) / 1e9
    }
    ctx.metric("setup_s", Stats.median(total.toSeq), "s")
    ctx.metric("session.create_s", Stats.median(session.toSeq), "s")
    ctx.metric("app.build_s", Stats.median(app.toSeq), "s")
    pipeline
  }

  /** Compare the sink with the reference; counts one check. */
  def verify(ctx: Ctx, p: Pipeline, ref: Reference, what: String): Unit = {
    val t0 = System.nanoTime()
    val got = p.readSink()
    if (ctx.trace.enabled && !ctx.metrics.contains("lake.snapshot_read_s"))
      ctx.metric("lake.snapshot_read_s", (System.nanoTime() - t0) / 1e9, "s")
    val diff = ref.diff(got)
    ctx.check(diff.isEmpty, s"$what: sink differs from the reference: ${diff.mkString("; ")}")
  }

  final case class Catchup(changesPerS: Double, freshnessMs: Seq[Double], runs: Int, backlog: Int)

  /** Push the whole backlog at once, then run the pipeline until its
    * committed offset covers the log. Freshness of a change is the end of
    * the run that covered it, from the moment the push began.
    */
  def catchupCycle(ctx: Ctx, p: Pipeline, log: Seq[String], stats: StreamStats): Catchup = {
    p.reset(CatchupCapacity)
    ctx.trace.newRun()
    ctx.attempted += log.size // each change in the backlog is one operation
    val t0 = System.nanoTime()
    ctx.trace.span("sources", "PushBuffer.pushAll")(PushBuffer.pushAll(p.chan, log, 0L))
    val backlog = PushBuffer.retained(p.chan)
    val ends = mutable.ArrayBuffer.empty[RunEnd]
    var end = 0L
    while (end < log.size && ends.size < MaxRuns) {
      val r = p.runOnce(end, stats)
      ends += r
      end = r.endOffset
    }
    ctx.check(end >= log.size, s"catch-up stopped at offset $end of ${log.size}")
    var prev = 0L
    val fresh = ends.toSeq.flatMap { r =>
      val n = (r.endOffset - prev).toInt
      prev = r.endOffset
      Seq.fill(n)(Stats.ms(r.endNs - t0))
    }
    Catchup(log.size / ((ends.last.endNs - t0) / 1e9), fresh, ends.size, backlog)
  }

  def catchup(ctx: Ctx): Unit = {
    val p = setup(ctx, "local[4]")
    val gen = new ChangeGen(ctx.args.seed, Keys)
    val ref = new Reference
    val changes = Seq.fill(Backlog)(gen.next())
    changes.foreach(ref(_))
    val log = changes.map(_.envelope)
    val keyOf = changes.map(_.row.id).toArray

    /** Catch-up cycles for `seconds`, and at least `minCycles` of them. */
    def measure(traced: Boolean, seconds: Int, minCycles: Int): (Seq[Catchup], StreamStats, (Double, Double, Double)) = {
      ctx.trace.enabled = traced
      val stats = new StreamStats
      val cycles = mutable.ArrayBuffer.empty[Catchup]
      val deadline = System.nanoTime() + seconds * 1000000000L
      val host = HostProbe.snap()
      while (cycles.size < minCycles || System.nanoTime() < deadline) {
        cycles += catchupCycle(ctx, p, log, stats)
        verify(ctx, p, ref, s"catch-up cycle ${cycles.size}")
      }
      (cycles.toSeq, stats, HostProbe.since(host))
    }

    /** Throughput and freshness of the fastest cycle: load from other
      * processes on the host only ever slows a cycle down.
      */
    def e2e(cs: Seq[Catchup]): (Double, Double, Double) = {
      val best = cs.maxBy(_.changesPerS)
      (best.changesPerS, Stats.quantile(best.freshnessMs, 0.5), Stats.quantile(best.freshnessMs, 0.99))
    }

    // The first cycles of a run are cold (the JIT has only seen the small
    // warm-up): on a quiet host each cycle ran faster than the one before
    // up to about the fifth. A plain run measures at least three and the
    // fastest is the figure; a run whose speed decided how many cycles
    // warmed it would spread more. Over ten quiet runs, five cycles were
    // not steadier than three (spread 0.099 against 0.114) and cost ~12 s
    // more a run. A traced run compares single cycles with and without
    // spans, after one cold cycle.
    val (plain, plainStats, host) =
      if (!ctx.args.trace) measure(traced = false, ctx.args.seconds, minCycles = 3)
      else { measure(traced = false, 0, 1); measure(traced = false, 0, 1) }
    val (rate, p50, p99) = e2e(plain)
    ctx.line(f"cdc_catchup_changes_per_s = $rate%.1f 1/s (fastest of ${plain.size} catch-up cycles of $Backlog changes: " +
      plain.map(c => f"${c.changesPerS}%.0f").mkString(", ") + ")")
    ctx.line(f"cdc_catchup freshness p50 = $p50%.0f ms, p99 = $p99%.0f ms over the $Backlog changes of that cycle")
    ctx.line(s"cdc_catchup pipeline runs per cycle = ${plain.map(_.runs).mkString(",")}; ${plainStats.summary}")
    hostLine(ctx, host)
    if (!ctx.args.trace) {
      ctx.metric("work_per_s", rate, "1/s")
      ctx.metric("latency_p50_ms", p50, "ms")
      ctx.metric("latency_p99_ms", p99, "ms")
    } else {
      val gc0 = HostProbe.gcMs()
      HostProbe.resetHeapPeak()
      val (traced, st, _) = measure(traced = true, 0, 1)
      ctx.metric("streaming.runs", Stats.median(traced.map(_.runs.toDouble)), "count")
      ctx.metric("sources.backlog_max", traced.map(_.backlog).max, "count")
      streamMetrics(ctx, st, p, keyOf)
      ctx.metric("jvm.gc_ms", HostProbe.gcMs() - gc0, "ms")
      ctx.metric("jvm.heap_peak_mb", HostProbe.heapPeakMb(), "MB")
      val (after, _, _) = measure(traced = false, 0, 1)
      overhead(ctx, e2e(traced), (rate, p50, p99), e2e(after))
      ctx.trace.enabled = true
      decodeProbe(ctx, log)
      BatchMix.run(ctx)
      // single-thread baseline: the same catch-up on a local[1] session
      val p1 = setup1(ctx)
      val one = catchupCycle(ctx, p1, log, new StreamStats)
      verify(ctx, p1, ref, "local[1] catch-up")
      ctx.metric("scaling.catchup_1core_changes_per_s", one.changesPerS, "1/s")
    }
  }

  /** A local[1] session with the same pipeline, no warm-up timed. */
  private def setup1(ctx: Ctx): Pipeline = {
    ctx.spark.stop()
    ctx.spark = GraftSession.create("local[1]")
    ctx.spark.sparkContext.setLogLevel("WARN")
    new Pipeline(ctx, "bench_changes_1core", ctx.dir("cdc_1core"))
  }

  /** The decode and collapse steps alone, on a snapshot of a channel holding
    * the backlog, each written to the `noop` sink.
    */
  private def decodeProbe(ctx: Ctx, log: Seq[String]): Unit = {
    import org.apache.spark.sql.types.StructType
    val chan = "bench_decode_probe"
    PushBuffer.clear(chan)
    PushBuffer.configure(chan, CatchupCapacity)
    PushBuffer.pushAll(chan, log, 0L)
    ctx.trace.newRun()
    val rows = WebhookServer.changes(Sources.pushSnapshot(ctx.spark, chan),
      StructType.fromDDL(RowSchema))
    val t0 = System.nanoTime()
    ctx.trace.span("cdc", "WebhookServer.changes")(rows.write.format("noop").mode("overwrite").save())
    val t1 = System.nanoTime()
    val latest = graft.cdc.ChangeModel.latestRows(rows, Seq("id"))
    ctx.trace.span("cdc", "ChangeModel.latestRows")(latest.write.format("noop").mode("overwrite").save())
    val t2 = System.nanoTime()
    ctx.metric("cdc.decode_s", (t1 - t0) / 1e9, "s")
    ctx.metric("cdc.latest_rows_s", (t2 - t1) / 1e9, "s")
    ctx.metric("cdc.rows_in", log.size, "count")
    ctx.metric("cdc.rows_out", latest.count().toDouble, "count")
    PushBuffer.clear(chan)
  }

  /** Per-layer figures of the streaming, source and sink layers. */
  private def streamMetrics(ctx: Ctx, st: StreamStats, p: Pipeline, keyOf: Array[Long]): Unit = {
    ctx.metric("streaming.batches", st.batches, "count")
    ctx.metric("streaming.run_overhead_ms", Stats.median(st.runOverheadMs.toSeq), "ms")
    ctx.metric("streaming.wal_commit_ms", Stats.median(st.walMs.toSeq), "ms")
    ctx.metric("streaming.query_planning_ms", Stats.median(st.planningMs.toSeq), "ms")
    ctx.metric("sources.get_batch_ms", Stats.median(st.getBatchMs.toSeq), "ms")
    ctx.metric("sinks.add_batch_ms_p50", Stats.median(st.addBatchMs.toSeq), "ms")
    ctx.metric("sinks.add_batch_ms_sum", st.addBatchMs.sum, "ms")
    // the table of the last sink: its log holds the last cycle's commits
    val (commits, bytes, rows, removes) = p.logActions()
    ctx.metric("sinks.commits", commits, "count")
    ctx.metric("sinks.files_rewritten", removes.toDouble, "count")
    ctx.metric("sinks.bytes_written", bytes.toDouble, "bytes")
    val lastRanges = st.ranges.takeRight(commits)
    val keysChanged = lastRanges.map { case (from, to) =>
      (from until to).map(i => keyOf(i.toInt)).distinct.size.toLong
    }.sum
    ctx.metric("sinks.rewrite_ratio", if (keysChanged == 0) 0.0 else rows.toDouble / keysChanged, "ratio")
  }

  /** Tracing overhead: the traced measurement's (work_per_s,
    * latency_p50_ms, latency_p99_ms) minus the mean of the untraced ones
    * made just before and just after it, so the JVM warming up over the
    * run does not read as overhead.
    */
  def overhead(ctx: Ctx, traced: (Double, Double, Double),
      before: (Double, Double, Double), after: (Double, Double, Double)): Unit = {
    ctx.metric("trace.overhead_work_per_s", traced._1 - (before._1 + after._1) / 2, "1/s")
    ctx.metric("trace.overhead_latency_p50_ms", traced._2 - (before._2 + after._2) / 2, "ms")
    ctx.metric("trace.overhead_latency_p99_ms", traced._3 - (before._3 + after._3) / 2, "ms")
  }

  def hostLine(ctx: Ctx, host: (Double, Double, Double)): Unit =
    ctx.line(f"host: loadavg1=${host._1}%.2f other_busy_frac=${host._2}%.3f steal_frac=${host._3}%.3f")

  /** Open-loop load: one thread sends a tick of changes every `TickMs` to
    * the webhook endpoint over one connection, whatever the pipeline does.
    * A tick goes out as one request per run of consecutive changes with the
    * same verb, so the order of changes is kept.
    */
  final class LiveGen(port: Int, chan: String, seed: Long, seconds: Int) extends Thread("perfbench-gen") {
    private val perTick = Rate * TickMs / 1000
    private val ticks = (LiveWarmS + seconds) * 1000 / TickMs
    val offered: Int = ticks * perTick
    val dueNs = new Array[Long](offered) // by accepted order = channel offset
    val keyBySeq = new Array[Long](offered)
    val accepted = new AtomicInteger(0)
    @volatile var refused = 0
    @volatile var failedReq = 0
    val lateMs = mutable.ArrayBuffer.empty[Double]
    val reqMs = mutable.ArrayBuffer.empty[Double]
    var backlogMax = 0
    val ref = new Reference
    var startNs, endNs = 0L
    setDaemon(true)

    /** Start of the measured window: the ramp from an empty channel to the
      * steady back-to-back rhythm of runs comes before it.
      */
    def measuredFromNs: Long = startNs + LiveWarmS * 1000000000L

    override def run(): Unit = {
      val gen = new ChangeGen(seed, Keys)
      var conn = new HttpConn(port)
      // warm the connection and the endpoint's code path on a throwaway
      // channel, so the schedule does not start on cold code
      val warmGen = new ChangeGen(seed ^ 0x3a3aL, Keys)
      for (_ <- 0 until WarmRequests)
        conn.request("PUT", "/warmup", Array.fill(perTick)(warmGen.next().row.json).mkString("[", ",", "]"))
      PushBuffer.clear(WarmChan)
      startNs = System.nanoTime() + 20000000L
      for (i <- 0 until ticks) {
        val due = startNs + i.toLong * TickMs * 1000000L
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        lateMs += Stats.ms(now - due)
        val cs = Array.fill(perTick)(gen.next())
        var j = 0
        while (j < cs.length) {
          var k = j
          while (k < cs.length && cs(k).verb == cs(j).verb) k += 1
          if (!send(conn, cs.slice(j, k), due)) { conn.close(); conn = new HttpConn(port) }
          j = k
        }
        backlogMax = math.max(backlogMax, PushBuffer.retained(chan))
      }
      endNs = System.nanoTime()
      conn.close()
    }

    /** Send one request; false if the connection failed. */
    private def send(conn: HttpConn, cs: Array[Change], due: Long): Boolean = {
      val t0 = System.nanoTime()
      val code =
        try conn.request(cs.head.verb, "/accounts", cs.map(_.dataJson).mkString("[", ",", "]"))
        catch { case _: java.io.IOException => -1 }
      reqMs += Stats.ms(System.nanoTime() - t0)
      code match {
        case 200 => cs.foreach { c =>
          val seq = accepted.get()
          dueNs(seq) = due
          keyBySeq(seq) = c.row.id
          ref(c)
          accepted.incrementAndGet()
        }
        case 429 => refused += cs.length
        case _ => failedReq += cs.length
      }
      code != -1
    }
  }

  /** One blocking keep-alive HTTP/1.1 connection to the local webhook
    * endpoint: as much of the protocol as its replies use.
    */
  final class HttpConn(port: Int) {
    private val sock = new java.net.Socket("127.0.0.1", port)
    sock.setTcpNoDelay(true)
    private val out = new java.io.BufferedOutputStream(sock.getOutputStream)
    private val in = new java.io.BufferedInputStream(sock.getInputStream)

    /** Status code of the reply; the reply body is read and dropped. */
    def request(method: String, path: String, body: String): Int = {
      val b = body.getBytes(UTF_8)
      out.write((s"$method $path HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
        s"Content-Type: application/json\r\nContent-Length: ${b.length}\r\n\r\n").getBytes(US_ASCII))
      out.write(b)
      out.flush()
      val status = line().split(" ")(1).toInt
      var length = 0
      var h = line()
      while (h.nonEmpty) {
        if (h.toLowerCase.startsWith("content-length:")) length = h.substring(15).trim.toInt
        h = line()
      }
      in.readNBytes(length)
      status
    }

    private def line(): String = {
      val sb = new StringBuilder
      var c = in.read()
      while (c != '\n') {
        if (c == -1) throw new java.io.EOFException("connection closed")
        if (c != '\r') sb += c.toChar
        c = in.read()
      }
      sb.toString
    }

    def close(): Unit = sock.close()
  }

  def live(ctx: Ctx): Unit = {
    // Two task threads, not four: the load generator, the webhook server
    // and the driver thread running pipeline runs back to back need the
    // other two cores of a 4-core VM. With local[4], CPU taken by other
    // tenants of the host slowed freshness about twice as much (emulated
    // 15% steal: local[4] 1.47x, local[2] 1.22x).
    val p = setup(ctx, "local[2]")
    // a traced run measures three windows (untraced, traced, untraced), so
    // each is half as long
    val window = if (ctx.args.trace) math.max(1, ctx.args.seconds / 2) else ctx.args.seconds

    /** One live window: the ramp, then `seconds` measured. */
    def measure(traced: Boolean, seconds: Int): (LiveGen, StreamStats, Seq[RunEnd], (Double, Double, Double)) = {
      ctx.trace.enabled = traced
      p.reset(PushBuffer.DefaultCapacity)
      ctx.trace.newRun()
      val server = WebhookServer.start(0, Map("/accounts" -> p.chan, "/warmup" -> WarmChan))
      val gen = new LiveGen(server.port, p.chan, ctx.args.seed, seconds)
      val stats = new StreamStats
      val ends = mutable.ArrayBuffer.empty[RunEnd]
      val host = HostProbe.snap()
      try {
        gen.start()
        var end = 0L
        var drained = false
        while (!drained && ends.size < MaxRuns * 10) {
          val alive = gen.isAlive
          val acc = gen.accepted.get()
          if (!alive && end >= acc) drained = true
          else {
            val r = p.runOnce(end, stats)
            ends += r
            end = r.endOffset
          }
        }
        gen.join()
        ctx.check(drained, s"live run stopped at offset $end of ${gen.accepted.get()}")
      } finally server.stop()
      ctx.attempted += gen.offered
      ctx.failed += gen.refused + gen.failedReq
      if (gen.refused + gen.failedReq > 0)
        ctx.errors += s"${gen.refused} changes refused, ${gen.failedReq} failed"
      verify(ctx, p, gen.ref, "live run")
      (gen, stats, ends.toSeq, HostProbe.since(host))
    }

    /** Freshness of each accepted change due in the measured window: end
      * of the first run whose committed offset covers it, minus the time
      * the change was due. One group per pipeline run: the changes that run
      * was the first to cover.
      */
    def freshnessByRun(gen: LiveGen, ends: Seq[RunEnd]): Seq[Seq[Double]] = {
      val out = Seq.fill(ends.size)(mutable.ArrayBuffer.empty[Double])
      var r = 0
      for (seq <- 0 until gen.accepted.get()) {
        while (r < ends.size && ends(r).endOffset <= seq) r += 1
        if (r < ends.size && gen.dueNs(seq) >= gen.measuredFromNs)
          out(r) += Stats.ms(ends(r).endNs - gen.dueNs(seq))
      }
      out.filter(_.nonEmpty).map(_.toSeq)
    }

    /** Changes accepted per second of the measured window, and freshness
      * p50/p99 as the median over the window's pipeline runs of each run's
      * own p50/p99. A burst of load from other processes on the host slows
      * a few runs; it moves this median far less than it moves quantiles
      * taken over all the window's changes.
      */
    def e2e(gen: LiveGen, ends: Seq[RunEnd]): (Double, Double, Double) = {
      val byRun = freshnessByRun(gen, ends)
      (byRun.map(_.size).sum / ((gen.endNs - gen.measuredFromNs) / 1e9),
        Stats.median(byRun.map(Stats.quantile(_, 0.5))),
        Stats.median(byRun.map(Stats.quantile(_, 0.99))))
    }

    val (gen, stats, ends, host) = measure(traced = false, window)
    val (rate, p50, p99) = e2e(gen, ends)
    val byRun = freshnessByRun(gen, ends)
    val all = byRun.flatten
    ctx.line(f"cdc_freshness_p50_ms = $p50%.0f ms, cdc_freshness_p99_ms = $p99%.0f ms: median over " +
      s"${byRun.size} pipeline runs of each run's quantile, over ${all.size} changes " +
      s"due in the last $window s of ${LiveWarmS + window} s offered")
    ctx.line(f"per change over the whole window: freshness p50 = ${Stats.quantile(all, 0.5)}%.0f ms, " +
      f"p99 = ${Stats.quantile(all, 0.99)}%.0f ms")
    ctx.line(f"cdc_refused_frac = ${gen.refused.toDouble / gen.offered}%.4f (${gen.refused} of ${gen.offered} changes offered at $Rate/s; ${gen.failedReq} failed requests)")
    val late = gen.lateMs.toSeq
    ctx.line(f"gen.late_p99_ms = ${Stats.quantile(late, 0.99)}%.2f ms over ${late.size} ticks " +
      f"(p50 ${Stats.quantile(late, 0.5)}%.2f, p90 ${Stats.quantile(late, 0.9)}%.2f, max ${late.max}%.2f ms); " +
      f"webhook request p50 ${Stats.quantile(gen.reqMs.toSeq, 0.5)}%.2f ms, p99 ${Stats.quantile(gen.reqMs.toSeq, 0.99)}%.2f ms")
    ctx.line(stats.summary)
    hostLine(ctx, host)
    if (!ctx.args.trace) {
      ctx.metric("work_per_s", rate, "1/s")
      ctx.metric("latency_p50_ms", p50, "ms")
      ctx.metric("latency_p99_ms", p99, "ms")
    } else {
      val gc0 = HostProbe.gcMs()
      HostProbe.resetHeapPeak()
      val (tGen, st, tEnds, _) = measure(traced = true, window)
      ctx.metric("streaming.runs", st.runs, "count")
      streamMetrics(ctx, st, p, tGen.keyBySeq)
      ctx.metric("jvm.gc_ms", HostProbe.gcMs() - gc0, "ms")
      ctx.metric("jvm.heap_peak_mb", HostProbe.heapPeakMb(), "MB")
      ctx.metric("sources.webhook_req_p99_ms", Stats.quantile(tGen.reqMs.toSeq, 0.99), "ms")
      ctx.metric("sources.refused", tGen.refused, "count")
      ctx.metric("sources.backlog_max", tGen.backlogMax, "count")
      ctx.metric("gen.late_p99_ms", Stats.quantile(tGen.lateMs.toSeq, 0.99), "ms")
      val (aGen, _, aEnds, _) = measure(traced = false, window)
      overhead(ctx, e2e(tGen, tEnds), (rate, p50, p99), e2e(aGen, aEnds))
    }
  }
}

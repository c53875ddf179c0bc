package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.StreamOps
import graft.cdc.ChangeModel

case class Ev(ts: Timestamp, user: String, v: Double)
case class Change(k: Long, v: Double, _op: String, _seq: Long)
case class Doc(doc_id: Long, text: String)
case class Vec(vec_id: Long, embedding: Array[Float])

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  test("tumbling window agg over a stream matches batch result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val data = Seq(
      Ev(ts("2024-01-01 00:01:00"), "a", 1.0),
      Ev(ts("2024-01-01 00:02:00"), "a", 2.0),
      Ev(ts("2024-01-01 00:59:00"), "b", 3.0),
      Ev(ts("2024-01-01 01:10:00"), "a", 4.0))
    val agg = StreamOps.tumbleAgg(mem.toDF(), "ts", "1 hour",
      Seq(col("user")), Seq(count(lit(1)).as("n"), sum($"v").as("s")),
      watermark = Some("10 minutes"))
    val q = agg.writeStream.format("memory").queryName("tumble_out")
      .outputMode(OutputMode.Complete).start()
    try {
      mem.addData(data: _*)
      q.processAllAvailable()
      val rows = spark.table("tumble_out")
        .select("window_start", "user", "n", "s")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1),
          r.getLong(2), r.getDouble(3))).toSet
      assert(rows == Set(
        ("2024-01-01 00:00:00.0", "a", 2L, 3.0),
        ("2024-01-01 00:00:00.0", "b", 1L, 3.0),
        ("2024-01-01 01:00:00.0", "a", 1L, 4.0)))
    } finally q.stop()
  }

  test("session window agg over a stream: gap merging matches batch semantics") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    // user a: two bursts separated by > 30 min gap -> two sessions;
    // the first burst's events 00:01/00:10 merge (gap < 30 min)
    val data = Seq(
      Ev(ts("2024-01-01 00:01:00"), "a", 1.0),
      Ev(ts("2024-01-01 00:10:00"), "a", 2.0),
      Ev(ts("2024-01-01 01:00:00"), "a", 4.0),
      Ev(ts("2024-01-01 00:05:00"), "b", 3.0))
    val agg = mem.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window($"ts", "30 minutes"), $"user")
      .agg(count(lit(1)).as("n"), sum($"v").as("s"))
      .select($"session_window.start".as("start"), $"user", $"n", $"s")
    val q = agg.writeStream.format("memory").queryName("session_out")
      .outputMode(OutputMode.Complete).start()
    try {
      mem.addData(data: _*)
      q.processAllAvailable()
      val rows = spark.table("session_out").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1),
          r.getLong(2), r.getDouble(3))).toSet
      assert(rows == Set(
        ("2024-01-01 00:01:00.0", "a", 2L, 3.0), // merged burst
        ("2024-01-01 01:00:00.0", "a", 1L, 4.0), // new session after gap
        ("2024-01-01 00:05:00.0", "b", 1L, 3.0)))
      // batch replay of the same rows through the same expression agrees
      val batch = data.toDF()
        .groupBy(session_window($"ts", "30 minutes"), $"user")
        .agg(count(lit(1)).as("n"), sum($"v").as("s"))
        .select($"session_window.start".as("start"), $"user", $"n", $"s")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1),
          r.getLong(2), r.getDouble(3))).toSet
      assert(batch == rows)
    } finally q.stop()
  }

  test("TTL wrapper adds a watermark on streams and is a no-op on batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val wm = StreamOps.ttl(mem.toDF(), "ts", "5 minutes")
    assert(wm.isStreaming)
    assert(wm.queryExecution.analyzed.toString.toLowerCase.contains("watermark"))
    val batch = Seq(Ev(ts("2024-01-01 00:00:00"), "a", 1.0)).toDF()
    assert(StreamOps.ttl(batch, "ts", "5 minutes") eq batch)
  }

  test("stream-stream interval join bounds state and joins matching keys") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val l = MemoryStream[Ev]; val r = MemoryStream[Ev]
    val joined = StreamOps.intervalJoin(
      l.toDF().withColumnRenamed("ts", "lts").withColumnRenamed("v", "lv"),
      "lts",
      r.toDF().withColumnRenamed("ts", "rts").withColumnRenamed("v", "rv")
        .withColumnRenamed("user", "ruser"),
      "rts",
      keys = col("user") === col("ruser"),
      ttlDuration = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("join_out")
      .outputMode(OutputMode.Append).start()
    try {
      l.addData(Ev(ts("2024-01-01 00:05:00"), "a", 1.0))
      r.addData(
        Ev(ts("2024-01-01 00:07:00"), "a", 2.0),   // within 10 min -> joins
        Ev(ts("2024-01-01 00:45:00"), "a", 3.0))   // outside range -> no join
      q.processAllAvailable()
      val rows = spark.table("join_out").collect()
      assert(rows.length == 1)
      assert(rows(0).getAs[Double]("rv") == 2.0)
    } finally q.stop()
  }

  test("upsert sink merges microbatches into latest-state snapshot") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val state = s"$tmp/state"; val ckpt = s"$tmp/ckpt"
    val mem = MemoryStream[Change]
    // batch 1: k1=10, k2=20
    mem.addData(
      Change(1L, 10.0, ChangeModel.Insert, 1L),
      Change(2L, 20.0, ChangeModel.Insert, 2L))
    val q1 = graft.sinks.Sinks.upsert(mem.toDF(), Seq("k"),
      graft.sinks.Sinks.BucketedParquet(state), ckpt)
    q1.awaitTermination()
    // batch 2: k1 updated to 11, k2 deleted, k3 inserted
    mem.addData(
      Change(1L, 11.0, ChangeModel.UpdatePost, 3L),
      Change(2L, 20.0, ChangeModel.Delete, 4L),
      Change(3L, 30.0, ChangeModel.Insert, 5L))
    val q2 = graft.sinks.Sinks.upsert(mem.toDF(), Seq("k"),
      graft.sinks.Sinks.BucketedParquet(state), ckpt)
    q2.awaitTermination()
    val finalState = spark.read.parquet(state)
      .select("k", "v").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(finalState == Set((1L, 11.0), (3L, 30.0)))
  }

  test("streaming windowFunnel: levels emitted on increase across " +
      "micro-batches, O(K) state carries chains over batch boundaries, " +
      "window expiry respected, in-order stream matches batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    case class Fe(ts: Timestamp, event_id: Long, user_id: Long, event_type: String)
    val mem = MemoryStream[(Long, Long, Long, String)] // (us, id, user, type)
    val H = 3600000000L
    val df = mem.toDF().toDF("us", "event_id", "user_id", "event_type")
      .withColumn("ts", timestamp_micros(col("us")))
    val out = graft.streaming.FunnelStream.windowFunnelStream(
      df, "user_id", "ts", "event_id", "event_type",
      Seq("view", "click", "purchase"), windowMicros = 6 * H)
    val q = out.toDF().writeStream.format("memory").queryName("funnel_out")
      .outputMode(OutputMode.Update).start()
    def rows() = spark.sql("SELECT * FROM funnel_out")
      .as[(String, Int)].collect().toSeq
    try {
      // batch 1: user 1 views; user 2 views (its chain start)
      mem.addData((0L, 10L, 1L, "view"), (0L, 20L, 2L, "view"))
      q.processAllAvailable()
      assert(rows().toSet == Set(("1", 1), ("2", 1)))
      // batch 2: user 1 converts fully (chain spans the batch
      // boundary via the K-long state); user 2 clicks 7h after the
      // view -> window expired, still level 1 (no new emission)
      mem.addData((1L * H, 11L, 1L, "click"), (2L * H, 12L, 1L, "purchase"),
        (7L * H, 21L, 2L, "click"))
      q.processAllAvailable()
      val all = rows()
      assert(all.toSet == Set(("1", 1), ("1", 3), ("2", 1)),
        all.toString) // user 1 re-emitted at 3; user 2 never advanced
      // batch 3: a LATER view for user 2 restarts its chain; click
      // within window now advances it (greedy restart across batches)
      mem.addData((8L * H, 22L, 2L, "view"), (9L * H, 23L, 2L, "click"))
      q.processAllAvailable()
      assert(rows().count { case (u, l) => u == "2" && l == 2 } == 1)
    } finally q.stop()
    // parity: replaying the same in-order feed through the BATCH
    // operator yields the same final levels
    val batchDf = Seq(
      (0L, 10L, 1L, "view"), (0L, 20L, 2L, "view"),
      (1L * H, 11L, 1L, "click"), (2L * H, 12L, 1L, "purchase"),
      (7L * H, 21L, 2L, "click"),
      (8L * H, 22L, 2L, "view"), (9L * H, 23L, 2L, "click"))
      .toDF("us", "event_id", "user_id", "event_type")
      .withColumn("ts", timestamp_micros(col("us")))
    val batch = graft.operators.EventFunnel.windowFunnel(
      batchDf, "user_id", "ts", "event_id", "event_type",
      Seq("view", "click", "purchase"), 6 * H)
      .as[(Long, Int)].collect().toMap
    assert(batch == Map(1L -> 3, 2L -> 2))
  }

  test("streaming windowFunnel strict modes: split-batch feeds land on " +
      "the batch operator's levels (state carries across batches)") {
    import spark.implicits._
    import graft.operators.EventFunnel
    import graft.operators.EventFunnel.FunnelMode
    implicit val sqlCtx = spark.sqlContext
    val H = 3600000000L
    val M = 60000000L
    // the PipelineSpec strict-mode scenario rows (same-ts chains,
    // interleave breaks, held-condition repeats), in (us, id, user, t)
    val rows = Seq(
      (0L, 10L, 1L, "view"), (5 * H, 11L, 1L, "view"),
      (5 * H, 12L, 1L, "click"), (6 * H, 13L, 1L, "purchase"),
      (0L, 20L, 2L, "view"), (0L, 21L, 2L, "click"), (H, 22L, 2L, "purchase"),
      (0L, 40L, 4L, "view"), (1 * M, 41L, 4L, "error"),
      (2 * M, 42L, 4L, "click"), (3 * M, 43L, 4L, "purchase"),
      (0L, 80L, 8L, "view"), (1 * M, 81L, 8L, "click"),
      (2 * M, 82L, 8L, "view"), (3 * M, 83L, 8L, "purchase"))
      .sortBy(r => (r._1, r._2))
    val (b1, b2) = rows.splitAt(7) // split mid-chain on purpose
    for (mode <- Seq(FunnelMode.Default, FunnelMode.StrictIncrease,
        FunnelMode.StrictOrder, FunnelMode.StrictDedup)) {
      val mem = MemoryStream[(Long, Long, Long, String)]
      val name = s"funnel_mode_${mode.getClass.getSimpleName.stripSuffix("$")}"
      val df = mem.toDF().toDF("us", "event_id", "user_id", "event_type")
        .withColumn("ts", timestamp_micros(col("us")))
      val q = graft.streaming.FunnelStream.windowFunnelStream(
        df, "user_id", "ts", "event_id", "event_type",
        Seq("view", "click", "purchase"), 6 * H, mode = mode)
        .toDF().writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update).start()
      try {
        mem.addData(b1: _*); q.processAllAvailable()
        mem.addData(b2: _*); q.processAllAvailable()
      } finally q.stop()
      val streamed = spark.sql(s"SELECT * FROM $name")
        .as[(String, Int)].collect()
        .groupBy(_._1).map { case (u, xs) => u.toLong -> xs.map(_._2).max }
      val batch = EventFunnel.windowFunnel(
        rows.toDF("us", "event_id", "user_id", "event_type")
          .withColumn("ts", timestamp_micros(col("us"))),
        "user_id", "ts", "event_id", "event_type",
        Seq("view", "click", "purchase"), 6 * H, mode)
        .as[(Long, Int)].collect().toMap
      batch.foreach { case (u, lvl) =>
        assert(streamed.getOrElse(u, 0) == lvl,
          s"mode=$mode user=$u stream=${streamed.get(u)} batch=$lvl")
      }
      streamed.keys.foreach(u => assert(batch.contains(u), s"extra $u"))
    }
  }

  test("streaming sequencePairCount: three-long state, count re-emitted " +
      "on growth, cross-batch matching equals the batch identity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String)] // (us, id, user, type)
    val M = 60000000L
    val df = mem.toDF().toDF("us", "event_id", "user_id", "event_type")
      .withColumn("ts", timestamp_micros(col("us")))
    val out = graft.streaming.FunnelStream.sequencePairCountStream(
      df, "user_id", "ts", "event_id", "event_type", "view", "purchase")
    val q = out.toDF().writeStream.format("memory").queryName("pairs_out")
      .outputMode(OutputMode.Update).start()
    def rows() = spark.sql("SELECT * FROM pairs_out")
      .as[(String, Long, Long, Long)].collect().toSeq
    try {
      // batch 1: purchase-before-view matches nothing but the counts
      // move -> full batch-shape row with n_matched 0
      mem.addData((0L, 10L, 1L, "purchase"), (1 * M, 11L, 1L, "view"))
      q.processAllAvailable()
      assert(rows() == Seq(("1", 1L, 1L, 0L)))
      // batch 2: the purchase closes the batch-1 view -> match 1
      mem.addData((2 * M, 12L, 1L, "purchase"))
      q.processAllAvailable()
      assert(rows().last == (("1", 1L, 2L, 1L)))
      // batch 3: view+purchase in one batch -> match 2 emitted once
      mem.addData((3 * M, 13L, 1L, "view"), (4 * M, 14L, 1L, "purchase"))
      q.processAllAvailable()
      assert(rows().last == (("1", 2L, 3L, 2L)))
      // an unmatched purchase: n_second moves, the match count doesn't
      mem.addData((5 * M, 15L, 1L, "purchase"))
      q.processAllAvailable()
      assert(rows().last == (("1", 2L, 4L, 2L)) && rows().size == 4)
    } finally q.stop()
    // batch identity on the full log agrees
    val batch = graft.operators.EventFunnel.sequencePairCount(
      Seq((10L, 0L, 1L, "purchase"), (11L, 1 * M, 1L, "view"),
        (12L, 2 * M, 1L, "purchase"), (13L, 3 * M, 1L, "view"),
        (14L, 4 * M, 1L, "purchase"), (15L, 5 * M, 1L, "purchase"))
        .toDF("event_id", "us", "user_id", "event_type")
        .withColumn("ts", timestamp_micros(col("us"))),
      "user_id", "ts", "event_id", "event_type", "view", "purchase")
      .as[(Long, Long, Long, Long)].collect().head
    assert(batch._4 == 2L)
  }

  test("streaming histogram quantiles: bounded bucket-map state across " +
      "micro-batches, final estimates equal the batch operator exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val out = graft.streaming.HistStream.quantileEstimates(
      mem.toDF().toDF("g", "v"), "g", "v", bits = 4, qPcts = Seq(50, 99))
    val q = out.toDF().writeStream.format("memory").queryName("hist_out")
      .outputMode(OutputMode.Update).start()
    val rnd = new scala.util.Random(9)
    val b1 = (1 to 400).map(_ => ("x", rnd.nextInt(50000).toLong + 1))
    val b2 = (1 to 400).map(i =>
      (if (i % 2 == 0) "x" else "y", rnd.nextInt(50000).toLong + 1))
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      // LAST emission per (group, q) — cumulative over both batches
      val streamed = spark.sql("SELECT * FROM hist_out")
        .as[(String, Int, Long, Long)].collect()
        .groupBy(r => (r._1, r._2)).view
        .mapValues(_.maxBy(_._4)).values
        .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
      val batch = graft.operators.Sketches.logHistQuantiles(
          (b1 ++ b2).toDF("g", "v"), Seq("g"), "v", bits = 4,
          qPcts = Seq(50, 99))
        .collect()
        .map(r => (r.getString(0), r.getInt(1)) ->
          ((r.getLong(2), r.getLong(3)))).toMap
      assert(streamed == batch,
        s"stream $streamed\nbatch $batch")
    } finally q.stop()
  }

  test("streaming time-to-conversion: two-long state, emission on " +
      "improvement, cross-batch latest-view dominance equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val M = 60000000L
    val mem = MemoryStream[(Long, Long, Long, String)] // (us, id, user, type)
    val df = mem.toDF().toDF("us", "event_id", "user_id", "event_type")
      .withColumn("ts", timestamp_micros(col("us")))
    val out = graft.streaming.FunnelStream.timeToConversionStream(
      df, "user_id", "ts", "event_id", "event_type",
      "view", "purchase", 21600000000L)
    val q = out.toDF().writeStream.format("memory").queryName("ttc_out")
      .outputMode(OutputMode.Update).start()
    def rows() = spark.sql("SELECT * FROM ttc_out")
      .as[(String, Long)].collect().toSeq
    try {
      // batch 1: view only -> nothing yet
      mem.addData((0L, 10L, 1L, "view"))
      q.processAllAvailable()
      assert(rows().isEmpty)
      // batch 2: a LATER view then purchase -> gap measured from the
      // latest view (cross-batch state), 2 minutes
      mem.addData((3 * M, 11L, 1L, "view"), (5 * M, 12L, 1L, "purchase"))
      q.processAllAvailable()
      assert(rows() == Seq(("1", 2 * M)))
      // batch 3: worse gap -> no emission; better gap -> re-emit
      mem.addData((10 * M, 13L, 1L, "purchase")) // 7m after latest view
      q.processAllAvailable()
      assert(rows().size == 1)
      mem.addData((20 * M, 14L, 1L, "view"), (21 * M, 15L, 1L, "purchase"))
      q.processAllAvailable()
      assert(rows().last == (("1", 1 * M)))
      // batch equality on the full log
      val batch = graft.operators.EventFunnel.timeToConversion(
        Seq((10L, 0L, 1L, "view"), (11L, 3 * M, 1L, "view"),
          (12L, 5 * M, 1L, "purchase"), (13L, 10 * M, 1L, "purchase"),
          (14L, 20 * M, 1L, "view"), (15L, 21 * M, 1L, "purchase"))
          .toDF("event_id", "us", "user_id", "event_type")
          .withColumn("ts", timestamp_micros(col("us"))),
        "user_id", "ts", "event_id", "event_type", "view", "purchase",
        21600000000L).as[(Long, Long)].collect().head
      assert(batch._2 == 1 * M)
    } finally q.stop()
  }

  test("streaming attribution: window-bounded touch buffer, in-order " +
      "arrival reproduces the batch models exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val M = 60000000L
    // the PipelineSpec attribution scenario, streamed in ts order
    val rows = Seq(
      (10L, 0L, 1L, "view", "A"), (11L, 1 * M, 1L, "view", "B"),
      (12L, 2 * M, 1L, "purchase", null),
      (13L, 600 * M, 1L, "purchase", null),
      (20L, 0L, 2L, "view", "A"), (21L, 1 * M, 2L, "purchase", null),
      (22L, 2 * M, 2L, "view", "A"), (23L, 3 * M, 2L, "purchase", null),
      (30L, 0L, 3L, "purchase", null),
      (41L, 5L, 4L, "view", "A"), (42L, 5L, 4L, "purchase", null))
      .sortBy(r => (r._2, r._1))
    val mem = MemoryStream[(Long, Long, Long, String, String)]
    val out = graft.streaming.FunnelStream.attributionStream(
      mem.toDF().toDF("event_id", "us", "user_id", "event_type", "ch")
        .withColumn("ts", timestamp_micros($"us")),
      "user_id", "ts", "event_id", "event_type", "ch",
      touchType = "view", convType = "purchase",
      windowMicros = 21600000000L)
    val q = out.toDF().writeStream.format("memory").queryName("attr_out")
      .outputMode(OutputMode.Update).start()
    try {
      val (b1, b2) = rows.splitAt(6)
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      val streamed = spark.sql(
        """SELECT channel, COUNT(*) AS touches,
          |  SUM(CASE WHEN is_first THEN 1 ELSE 0 END) AS f,
          |  SUM(CASE WHEN is_last THEN 1 ELSE 0 END) AS l,
          |  SUM(credit_permille) AS cr
          |FROM attr_out GROUP BY channel""".stripMargin)
        .as[(String, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      val batch = graft.operators.EventFunnel.attribution(
          rows.toDF("event_id", "us", "user_id", "event_type", "ch")
            .withColumn("ts", timestamp_micros($"us")),
          "user_id", "ts", "event_id", "event_type", $"ch",
          "view", "purchase", 21600000000L)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(streamed == batch, s"stream $streamed batch $batch")
    } finally q.stop()
  }

  test("streaming KMV: O(k) sketch state across micro-batches, " +
      "estimates refresh, final sketch equals the batch sketch bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val out = graft.streaming.KmvStream.distinctEstimates(
      mem.toDF().toDF("seg", "key"), "seg", "key", k = 16)
    val q = out.toDF().writeStream.format("memory").queryName("kmv_out")
      .outputMode(OutputMode.Update).start()
    def latest() = spark.sql(
      "SELECT * FROM kmv_out").as[(String, Int, Double)].collect()
    try {
      mem.addData((1L to 5L).map(i => ("s", i)): _*)
      q.processAllAvailable()
      // 5 distinct keys, under-full sketch -> exact estimate
      assert(latest().contains(("s", 5, 5.0)))
      // duplicates change nothing; new keys grow the sketch to k
      mem.addData(((1L to 5L) ++ (6L to 300L)).map(i => ("s", i)): _*)
      q.processAllAvailable()
      val last = latest().last
      assert(last._2 == 16)
      assert(math.abs(last._3 - 300.0) / 300.0 < 0.6,
        s"estimate ${last._3} too far from 300")
    } finally q.stop()
    // reconciliation: the streamed sketch state equals the batch sketch
    // over the same data (same hash family, same union rule)
    val batch = graft.operators.Kmv.sketch(
      (1L to 300L).map(("s", _)).toDF("seg", "key"), Seq("seg"), "key", 16)
      .collect().head.getSeq[Long](1).toSeq
    val streamed = spark.sql("SELECT * FROM kmv_out")
      .as[(String, Int, Double)].collect().last
    val batchEst = graft.operators.Kmv.estimateValue(batch.toArray, 16)
    assert(streamed._3 == batchEst, s"stream ${streamed._3} batch $batchEst")
  }

  test("StreamMetrics records per-query progress snapshots") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val recorder = graft.streaming.StreamMetrics.attach(spark)
    val mem = MemoryStream[Ev]
    val q = mem.toDF().groupBy($"user").count()
      .writeStream.format("memory").queryName("metrics_probe")
      .outputMode(OutputMode.Complete).start()
    try {
      mem.addData(Ev(ts("2024-01-01 00:00:00"), "a", 1.0),
        Ev(ts("2024-01-01 00:01:00"), "b", 2.0))
      q.processAllAvailable()
      // listener delivery is asynchronous; give the bus a moment
      var snap = recorder.snapshot("metrics_probe")
      val deadline = System.nanoTime() + 10000000000L
      while (snap.isEmpty && System.nanoTime() < deadline) {
        Thread.sleep(100); snap = recorder.snapshot("metrics_probe")
      }
      assert(snap.nonEmpty, "no progress snapshot recorded")
      assert(snap.get.numInputRows > 0 || snap.get.batchId >= 0)
      assert(snap.get.stateRowsTotal >= 2) // two user groups in state
    } finally {
      q.stop()
      spark.streams.removeListener(recorder)
    }
  }

  test("kafka/jdbc option mappings carry the connector config fields") {
    val k = graft.sources.Sources.kafkaOptions("broker:9092", "orders")
    assert(k("kafka.bootstrap.servers") == "broker:9092")
    assert(k("subscribe") == "orders" && k("startingOffsets") == "earliest")
    assert(!k.contains("kafka.security.protocol")) // plaintext default
    // security mapping: protocol/truststore/JAAS land as the connector's
    // documented option names
    val ks = graft.sources.Sources.kafkaOptions("b:9093", "t",
      tls = true, truststore = Some("/etc/ts.p12"),
      truststorePassword = "pw", saslMechanism = Some("scram-sha-256"),
      saslUsername = "svc", saslPassword = "s3c")
    assert(ks("kafka.security.protocol") == "SASL_SSL")
    assert(ks("kafka.ssl.truststore.location") == "/etc/ts.p12")
    assert(ks("kafka.sasl.mechanism") == "SCRAM-SHA-256")
    assert(ks("kafka.sasl.jaas.config").contains("ScramLoginModule") &&
      ks("kafka.sasl.jaas.config").contains("""username="svc""""))
    assert(graft.sources.Sources.kafkaOptions("b", "t", tls = true)
      ("kafka.security.protocol") == "SSL")
    assert(graft.sources.Sources.kafkaOptions("b", "t",
      saslMechanism = Some("plain"))("kafka.security.protocol")
      == "SASL_PLAINTEXT")
    val j = graft.sources.Sources.jdbcOptions(
      "jdbc:postgresql://h/db", "public.orders", "u", "p",
      partitionColumn = Some(("o_orderkey", 0L, 1000000L, 16)))
    assert(j("dbtable") == "public.orders" && j("numPartitions") == "16")
    assert(j("partitionColumn") == "o_orderkey")
    // Snowflake: the SnowflakeConfig fields land in the JDBC url/driver
    val sf = graft.sources.Sources.snowflakeOptions(
      "acct.snowflakecomputing.com", "443", "u", "p",
      "analytics", "public", "wh1", "orders")
    assert(sf("url") ==
      "jdbc:snowflake://acct.snowflakecomputing.com:443/?db=analytics" +
        "&schema=public&warehouse=wh1")
    assert(sf("dbtable") == "orders" &&
      sf("driver") == "net.snowflake.client.jdbc.SnowflakeDriver")
    // MongoDB: connection string + namespace for the mongo-spark source
    val mo = graft.sources.Sources.mongodbOptions(
      "mongodb://h:27017", "appdb", "events")
    assert(mo("connection.uri") == "mongodb://h:27017" &&
      mo("database") == "appdb" && mo("collection") == "events")
  }

  test("upsert sink recovers committed keys from backup after a mid-swap crash") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_upsert_crash").toString
    val state = s"$tmp/state"; val ckpt = s"$tmp/ckpt"
    val mem = MemoryStream[Change]
    mem.addData(
      Change(1L, 10.0, ChangeModel.Insert, 1L),
      Change(2L, 20.0, ChangeModel.Insert, 2L))
    graft.sinks.Sinks.upsert(mem.toDF(), Seq("k"),
      graft.sinks.Sinks.BucketedParquet(state), ckpt)
      .awaitTermination()
    // Simulate a crash between demoting the live bucket and promoting
    // the new one: only the backup exists when the retry starts.
    // (the default parquet target is one bucket, so the demote target
    // is `<state>_bak/_bucket=0`.)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.mkdirs(new org.apache.hadoop.fs.Path(state + "_bak")))
    assert(fs.rename(new org.apache.hadoop.fs.Path(state + "/_bucket=0"),
      new org.apache.hadoop.fs.Path(state + "_bak/_bucket=0")))
    mem.addData(Change(3L, 30.0, ChangeModel.Insert, 3L))
    graft.sinks.Sinks.upsert(mem.toDF(), Seq("k"),
      graft.sinks.Sinks.BucketedParquet(state), ckpt)
      .awaitTermination()
    // Keys committed before the crash survive; the snapshot was not
    // rebuilt from the retry microbatch alone.
    val finalState = spark.read.parquet(state)
      .select("k", "v").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(finalState == Set((1L, 10.0), (2L, 20.0), (3L, 30.0)))
    // the successful swap cleared the backup bucket
    assert(!fs.exists(new org.apache.hadoop.fs.Path(state + "_bak/_bucket=0")))
  }

  test("parquet upsert over a snapshot holding _op/_seq image columns " +
      "keeps its rows and writes payload columns only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_old_snap").toString
    val state = s"$tmp/state"
    Seq(Change(1L, 10.0, ChangeModel.Insert, 1L),
      Change(2L, 20.0, ChangeModel.Insert, 2L)).toDF()
      .write.parquet(s"$state/_bucket=0")
    val mem = MemoryStream[Change]
    mem.addData(Change(2L, 21.0, ChangeModel.UpdatePost, 3L))
    graft.sinks.Sinks.upsert(mem.toDF(), Seq("k"),
      graft.sinks.Sinks.BucketedParquet(state), s"$tmp/ckpt")
      .awaitTermination()
    val out = spark.read.parquet(state)
    assert(out.columns.toSet == Set("k", "v", "_bucket"), out.columns.toSeq)
    assert(out.select("k", "v").as[(Long, Double)].collect().toSet ==
      Set((1L, 10.0), (2L, 21.0)))
  }

  test("bucketed upsert rewrites only touched buckets, leaves others untouched") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_bucketed").toString
    val state = s"$tmp/state"; val ckpt = s"$tmp/ckpt"
    val nb = 8
    val mem = MemoryStream[Change]
    mem.addData((1L to 40L).map(k =>
      Change(k, k * 10.0, ChangeModel.Insert, k)): _*)
    graft.sinks.Sinks.upsert(mem.toDF(), Seq("k"),
      graft.sinks.Sinks.BucketedParquet(state, numBuckets = nb), ckpt)
      .awaitTermination()
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def bucketFiles(b: Int): Map[String, Long] = {
      val p = new org.apache.hadoop.fs.Path(state, s"_bucket=$b")
      if (!fs.exists(p)) Map.empty
      else fs.listStatus(p).map(s =>
        s.getPath.toString -> s.getModificationTime).toMap
    }
    val before = (0 until nb).map(b => b -> bucketFiles(b)).toMap
    // which bucket does key 1 live in? (same hash the sink uses)
    val k1Bucket = Seq(Tuple1(1L)).toDF("k")
      .select(pmod(xxhash64(col("k")), lit(nb)).cast("int")).collect()(0).getInt(0)
    // batch 2 touches ONLY key 1
    mem.addData(Change(1L, 99.0, ChangeModel.UpdatePost, 100L))
    graft.sinks.Sinks.upsert(mem.toDF(), Seq("k"),
      graft.sinks.Sinks.BucketedParquet(state, numBuckets = nb), ckpt)
      .awaitTermination()
    // state is correct
    val finalState = spark.read.parquet(state)
      .select("k", "v").collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(finalState(1L) == 99.0 && finalState.size == 40)
    assert((2L to 40L).forall(k => finalState(k) == k * 10.0))
    // untouched buckets: identical file paths AND modification times
    (0 until nb).filter(_ != k1Bucket).foreach { b =>
      assert(bucketFiles(b) == before(b),
        s"bucket $b was rewritten but not touched")
    }
    assert(bucketFiles(k1Bucket) != before(k1Bucket))
  }

  test("a one-bucket parquet upsert runs no touched-bucket job") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_onebucket").toString
    val want = (1L to 20L).map(k => k -> s"v$k").toMap - 4L +
      (3L -> "C") + (30L -> "new")
    /** Jobs of one merge (an update, a delete, an insert) into a seeded
      * `numBuckets` snapshot, and the rows it leaves. */
    def merge(numBuckets: Int): (Int, Map[Long, String]) = {
      val target = graft.sinks.Sinks.BucketedParquet(s"$tmp/s$numBuckets",
        numBuckets)
      graft.sinks.Sinks.upsertBatch(
        (1L to 20L).map(k => (k, s"v$k")).toDF("k", "v"), Seq("k"), target)
      val counted = org.apache.spark.graft.JobCount(spark) {
        graft.sinks.Sinks.upsertBatch(Seq(
          (3L, "C", ChangeModel.UpdatePost, 1L),
          (4L, "v4", ChangeModel.Delete, 2L),
          (30L, "new", ChangeModel.Insert, 3L)).toDF("k", "v", "_op", "_seq"),
          Seq("k"), target)
      }
      (counted.jobs, spark.read.parquet(target.path).select("k", "v")
        .as[(Long, String)].collect().toMap)
    }
    val (oneJobs, oneRows) = merge(1)
    val (twoJobs, twoRows) = merge(2)
    info(s"1 bucket: $oneJobs jobs, 2 buckets: $twoJobs jobs")
    // the two layouts differ only in the touched-bucket distinct
    assert(oneJobs < twoJobs, s"1 bucket: $oneJobs jobs, 2 buckets: $twoJobs")
    assert(oneRows == want && twoRows == want, s"$oneRows vs $twoRows")
  }

  test("bucketed upsert: deletes shrink state; crash mid-swap recovers from backup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_bucketed2").toString
    val state = s"$tmp/state"; val ckpt = s"$tmp/ckpt"
    val nb = 4
    val mem = MemoryStream[Change]
    mem.addData(
      Change(1L, 10.0, ChangeModel.Insert, 1L),
      Change(2L, 20.0, ChangeModel.Insert, 2L),
      Change(3L, 30.0, ChangeModel.Insert, 3L))
    graft.sinks.Sinks.upsert(mem.toDF(), Seq("k"),
      graft.sinks.Sinks.BucketedParquet(state, numBuckets = nb), ckpt)
      .awaitTermination()
    // crash simulation: demote key-2's bucket to the backup root (the
    // window between demote and promote)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val k2Bucket = Seq(Tuple1(2L)).toDF("k")
      .select(pmod(xxhash64(col("k")), lit(nb)).cast("int")).collect()(0).getInt(0)
    fs.mkdirs(new org.apache.hadoop.fs.Path(state + "_bak"))
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(state, s"_bucket=$k2Bucket"),
      new org.apache.hadoop.fs.Path(state + "_bak", s"_bucket=$k2Bucket")))
    // retry batch: delete key 1, update key 2
    mem.addData(
      Change(1L, 10.0, ChangeModel.Delete, 4L),
      Change(2L, 21.0, ChangeModel.UpdatePost, 5L))
    graft.sinks.Sinks.upsert(mem.toDF(), Seq("k"),
      graft.sinks.Sinks.BucketedParquet(state, numBuckets = nb), ckpt)
      .awaitTermination()
    val finalState = spark.read.parquet(state)
      .select("k", "v").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(finalState == Set((2L, 21.0), (3L, 30.0)))
  }

  test("streaming minhash dedup drops near-dups vs index and within batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_sdedup").toString
    val (idx, out, ckpt) = (s"$tmp/index", s"$tmp/out", s"$tmp/ckpt")
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = "completely different text about spark structured streaming windows"
    val c = "novel third document mentioning entirely other things like parquet"
    val mem = MemoryStream[Doc]
    def run(): Unit = graft.operators.Dedup.minhashStreamDedup(
      mem.toDF(), "doc_id", "text", idx, out, ckpt,
      numHashes = 16, shingleWidth = 3, bands = 4, threshold = 0.7)
      .awaitTermination()
    // batch 1: two distinct docs
    mem.addData(Doc(1L, a), Doc(2L, b))
    run()
    // batch 2: near-dup of doc1 (vs INDEX), novel doc, in-batch copy of it
    mem.addData(Doc(3L, a), Doc(4L, c), Doc(5L, c))
    run()
    val kept = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 4L))
    // the index holds banded rows only for kept docs
    val indexed = spark.read.parquet(idx)
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(indexed == Set(1L, 2L, 4L))
  }

  test("streaming embedding dedup drops cosine near-dups vs the index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_edistream").toString
    val (idx, out, ckpt) = (s"$tmp/index", s"$tmp/out", s"$tmp/ckpt")
    // scaled copy: exactly parallel -> same hyperplane bucket by
    // construction, cosine exactly 1 (dedup is magnitude-invariant)
    val v1 = Array(1.0f, 0.0f, 0.0f, 0.1f)
    val v1near = Array(0.5f, 0.0f, 0.0f, 0.05f)
    val v2 = Array(0.0f, 1.0f, 0.0f, 0.0f)
    val mem = MemoryStream[(Long, Array[Float])]
    def run(): Unit = graft.operators.Dedup.embeddingStreamDedup(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      idx, out, ckpt, threshold = 0.95, planes = 2)
      .awaitTermination()
    mem.addData((1L, v1), (2L, v2))
    run()
    mem.addData((3L, v1near)) // near-dup of indexed v1
    run()
    val kept = spark.read.parquet(out)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L))
  }

  test("end-to-end CDC: Debezium file stream through bucketed upsert reaches batch state") {
    import org.apache.spark.sql.types._
    // the reference's core loop: WAL-shaped change feed -> decode ->
    // keyed upsert snapshot, exactly-once via checkpoint
    val dir = java.nio.file.Files.createTempDirectory("dbz_e2e").toFile
    val feedDir = new java.io.File(dir, "feed"); feedDir.mkdirs()
    val rowSchema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    java.nio.file.Files.write(
      new java.io.File(feedDir, "00.json").toPath,
      Seq(
        """{"op":"r","after":{"id":1,"name":"one"},"source":{"lsn":1}}""",
        """{"op":"r","after":{"id":2,"name":"two"},"source":{"lsn":2}}""",
        """{"payload":{"op":"u","before":{"id":1,"name":"one"},"after":{"id":1,"name":"uno"},"source":{"lsn":3}}}""",
        """{"payload":{"op":"d","before":{"id":2,"name":"two"},"source":{"lsn":4}}}""",
        """{"payload":{"op":"c","after":{"id":3,"name":"three"},"source":{"lsn":5}}}"""
      ).mkString("\n").getBytes)
    val changes = graft.sources.Sources.debeziumFileStream(
      spark, feedDir.getAbsolutePath, rowSchema)
    val state = new java.io.File(dir, "state").getAbsolutePath
    graft.sinks.Sinks.upsert(changes, Seq("id"),
      graft.sinks.Sinks.BucketedParquet(state, numBuckets = 4),
      new java.io.File(dir, "ckpt").getAbsolutePath)
      .awaitTermination()
    val finalState = spark.read.parquet(state)
      .select("id", "name").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(finalState == Set((1L, "uno"), (3L, "three")))
  }

  test("jdbc upsert sink merges change batches into a Derby table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val url = "jdbc:derby:memory:graftsink;create=true"
    val tmp = java.nio.file.Files.createTempDirectory("graft_jdbc").toString
    val mem = MemoryStream[Change]
    mem.addData(
      Change(1L, 10.0, ChangeModel.Insert, 1L),
      Change(2L, 20.0, ChangeModel.Insert, 2L))
    graft.sinks.Sinks.upsert(mem.toDF(), Seq("k"),
      graft.sinks.Sinks.Jdbc(url, "target_state"), s"$tmp/ckpt")
      .awaitTermination()
    // batch 2: update k1 (pre+post same seq), delete k2, insert k3;
    // also two changes to k3 in one batch — only the latest lands
    mem.addData(
      Change(1L, 10.0, ChangeModel.UpdatePre, 3L),
      Change(1L, 11.0, ChangeModel.UpdatePost, 3L),
      Change(2L, 20.0, ChangeModel.Delete, 4L),
      Change(3L, 30.0, ChangeModel.Insert, 5L),
      Change(3L, 31.0, ChangeModel.UpdatePost, 6L))
    graft.sinks.Sinks.upsert(mem.toDF(), Seq("k"),
      graft.sinks.Sinks.Jdbc(url, "target_state"), s"$tmp/ckpt")
      .awaitTermination()
    val out = spark.read.jdbc(url, "target_state", new java.util.Properties)
      .select("k", "v").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(out == Set((1L, 11.0), (3L, 31.0)))
  }

  test("stream-stream LEFT OUTER join null-pads unmatched rows at watermark expiry") {
    // SURVEY §7 hard part: dozer emits default-record inserts eagerly on
    // 0-match (join/operator/mod.rs:75-135); Spark emits the null-padded
    // row once the watermark proves no match can arrive. Same final
    // content, different emission time — asserted here.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val l = MemoryStream[Ev]; val r = MemoryStream[Ev]
    val joined = StreamOps.intervalJoin(
      l.toDF().withColumnRenamed("ts", "lts").withColumnRenamed("v", "lv"),
      "lts",
      r.toDF().withColumnRenamed("ts", "rts").withColumnRenamed("v", "rv")
        .withColumnRenamed("user", "ruser"),
      "rts",
      keys = col("user") === col("ruser"),
      ttlDuration = "10 minutes", joinType = "left_outer")
    val q = joined.writeStream.format("memory").queryName("loj_out")
      .outputMode(OutputMode.Append).start()
    try {
      l.addData(Ev(ts("2024-01-01 00:05:00"), "lonely", 1.0))
      r.addData(Ev(ts("2024-01-01 00:06:00"), "other", 9.0))
      q.processAllAvailable()
      // watermark hasn't passed: unmatched row withheld
      assert(spark.table("loj_out").filter($"user" === "lonely").isEmpty)
      // advance both watermarks far past the join bound
      l.addData(Ev(ts("2024-01-01 02:00:00"), "later", 2.0))
      r.addData(Ev(ts("2024-01-01 02:00:00"), "other2", 8.0))
      q.processAllAvailable()
      l.addData(Ev(ts("2024-01-01 03:00:00"), "later2", 3.0))
      r.addData(Ev(ts("2024-01-01 03:00:00"), "other3", 7.0))
      q.processAllAvailable()
      val lonely = spark.table("loj_out").filter($"user" === "lonely").collect()
      assert(lonely.length == 1)
      assert(lonely(0).isNullAt(lonely(0).fieldIndex("rv")))
    } finally q.stop()
  }

  test("mapGroupsWithState running counts accumulate across microbatches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val counts = graft.streaming.StatefulOps.runningCounts(mem.toDS())
    val q = counts.toDF().writeStream.format("memory").queryName("state_out")
      .outputMode(OutputMode.Update).start()
    try {
      mem.addData("a", "a", "b")
      q.processAllAvailable()
      mem.addData("a", "b", "b")
      q.processAllAvailable()
      // update mode: last emitted row per key reflects cumulative state
      val last = spark.table("state_out").groupBy($"key")
        .agg(max($"n").as("n")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      assert(last == Map("a" -> 3L, "b" -> 3L))
    } finally q.stop()
  }

  test("streaming dedup within watermark emits each key once (UNION distinct analogue)") {
    // dozer's CountingRecordMap emits Insert only on 0->1
    // (set/operator.rs:33-80); Spark: dropDuplicatesWithinWatermark
    // with state bounded by the event-time watermark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val dedup = mem.toDF()
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user")
    val q = dedup.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        Ev(ts("2024-01-01 00:01:00"), "a", 1.0),
        Ev(ts("2024-01-01 00:02:00"), "a", 2.0),
        Ev(ts("2024-01-01 00:03:00"), "b", 3.0))
      q.processAllAvailable()
      mem.addData(Ev(ts("2024-01-01 00:04:00"), "a", 4.0))
      q.processAllAvailable()
      val users = spark.table("dedup_out").select("user")
        .collect().map(_.getString(0)).toSeq
      assert(users.sorted == Seq("a", "b"))
    } finally q.stop()
  }

  test("orc and json sources round-trip through the object-store connector shape") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_fmt").toString
    val src = Tables.load(spark, SparkFixture.sf0001, "nation")
    Seq("orc", "json").foreach { fmt =>
      val dir = s"$tmp/$fmt"
      src.write.format(fmt).save(dir)
      // batch snapshot
      val back = graft.sources.Sources.snapshot(spark, dir, fmt)
      assert(back.count() == src.count(), fmt)
      // streaming tail of the same location
      val stream = graft.sources.Sources.fileStream(
        spark, dir, src.schema, format = fmt)
      assert(stream.isStreaming)
      val q = stream.writeStream.format("memory")
        .queryName(s"fmt_$fmt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), s"$fmt stream timed out")
      assert(spark.table(s"fmt_$fmt").count() == src.count(), fmt)
    }
  }

  test("csv source round-trips through the object-store connector shape") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_csv").toString
    Tables.load(spark, SparkFixture.sf0001, "nation")
      .write.option("header", "true").csv(s"$tmp/nation")
    val back = graft.sources.Sources.snapshot(spark, s"$tmp/nation", "csv",
      Map("header" -> "true", "inferSchema" -> "true"))
    assert(back.count() == 25)
    assert(back.columns.toSet == Set("n_nationkey", "n_name", "n_regionkey"))
  }

  test("push source: snapshot + micro-batch stream with checkpoint resume") {
    import graft.sources.{PushBuffer, Sources}
    val chan = "push_spec"
    PushBuffer.clear(chan)
    val tmp = java.nio.file.Files.createTempDirectory("graft_push").toString
    PushBuffer.push(chan, """{"k":1}""", """{"k":2}""", """{"k":3}""")
    // snapshot phase: batch scan of everything pushed so far
    val snap = Sources.pushSnapshot(spark, chan)
    assert(!snap.isStreaming)
    assert(snap.select("seq").collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L))
    assert(snap.filter(col("value").contains("\"k\":2")).count() == 1)
    // change-stream phase, first run: consumes the same 3 events
    def runOnce(): Unit = {
      val q = Sources.push(spark, chan)
        .writeStream.format("parquet")
        .option("path", s"$tmp/out").option("checkpointLocation", s"$tmp/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "push stream timed out")
    }
    runOnce()
    assert(spark.read.parquet(s"$tmp/out").count() == 3)
    // push two more; a restarted query resumes from the checkpointed
    // offset (the OpIdentifier analogue) and reads ONLY the new events
    PushBuffer.push(chan, """{"k":4}""", """{"k":5}""")
    runOnce()
    val seqs = spark.read.parquet(s"$tmp/out")
      .select("seq").collect().map(_.getLong(0)).sorted.toSeq
    assert(seqs == Seq(0L, 1L, 2L, 3L, 4L)) // no re-read, no loss
  }

  test("webhook over HTTPS: the same envelope contract behind a TLS " +
      "listener; an untrusting client refuses the self-signed cert") {
    import graft.sources.{PushBuffer, Sources, WebhookServer}
    val chan = "webhook_tls_spec"
    PushBuffer.clear(chan)
    val srv = WebhookServer.start(0, Map("/ingest" -> chan),
      tls = Some(TestTls.serverContext))
    try {
      // pinned client: trust only the test certificate
      val ks = java.security.KeyStore.getInstance(
        new java.io.File(TestTls.truststorePath),
        TestTls.password.toCharArray)
      val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
        javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
      tmf.init(ks)
      val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
      ctx.init(null, tmf.getTrustManagers, null)
      val https = java.net.http.HttpClient.newBuilder().sslContext(ctx).build()
      def post(body: String) = https.send(
        java.net.http.HttpRequest
          .newBuilder(java.net.URI.create(
            s"https://127.0.0.1:${srv.port}/ingest"))
          .method("POST",
            java.net.http.HttpRequest.BodyPublishers.ofString(body))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(post("""{"k":1,"v":"secure"}""").statusCode() == 200)
      val snap = Sources.pushSnapshot(spark, chan).collect()
      assert(snap.length == 1 &&
        snap.head.getAs[String]("value").contains("secure"))

      // a default-trust client must refuse the self-signed cert
      val plain = java.net.http.HttpClient.newHttpClient()
      intercept[java.io.IOException] {
        plain.send(java.net.http.HttpRequest
          .newBuilder(java.net.URI.create(
            s"https://127.0.0.1:${srv.port}/ingest"))
          .method("POST",
            java.net.http.HttpRequest.BodyPublishers.ofString("{}"))
          .build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
      }
    } finally srv.stop()
  }

  test("webhook source: HTTP verbs land as envelope rows on the push channel") {
    import graft.sources.{PushBuffer, Sources, WebhookServer}
    val chan = "webhook_spec"
    PushBuffer.clear(chan)
    val srv = WebhookServer.start(0, Map("/ingest" -> chan))
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      def req(verb: String, body: String) = {
        val b = java.net.http.HttpRequest
          .newBuilder(java.net.URI.create(s"http://127.0.0.1:${srv.port}/ingest"))
        val withBody = verb match {
          case "GET" => b.GET()
          case v => b.method(v,
            java.net.http.HttpRequest.BodyPublishers.ofString(body))
        }
        http.send(withBody.build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
      }
      // POST one object, PUT one, DELETE one, POST an array of two
      assert(req("POST", """{"k":1,"v":"a"}""").statusCode() == 200)
      assert(req("PUT", """{"k":1,"v":"b"}""").statusCode() == 200)
      assert(req("DELETE", """{"k":1}""").statusCode() == 200)
      val arr = req("POST", """[{"k":2},{"k":3}]""")
      assert(arr.statusCode() == 200 && arr.body().contains("\"inserted\":2"))
      // malformed / non-object bodies flag at the edge, verbs outside
      // the contract are rejected — nothing reaches the channel
      assert(req("POST", """not json at all""").statusCode() == 400)
      assert(req("POST", """["scalar", 5]""").statusCode() == 400)
      assert(req("GET", "").statusCode() == 405)
      // the channel now serves the 5 envelopes through the REAL
      // DataSource V2 push table — verbs preserved for the change map
      val snap = Sources.pushSnapshot(spark, chan)
        .select(col("seq"),
          org.apache.spark.sql.functions.get_json_object(col("value"), "$.verb").as("verb"),
          org.apache.spark.sql.functions.get_json_object(col("value"), "$.data.k").cast("int").as("k"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toList
        .sortBy(_._1)
      assert(snap.map(_._2) == List("POST", "PUT", "DELETE", "POST", "POST"))
      assert(snap.map(_._3) == List(1, 1, 1, 2, 3))
      // verb -> change-op decode feeds the CDC operators: after
      // insert(k=1,a) / update(k=1,b) / delete(k=1) / insert(k=2,k=3),
      // the applied state is exactly {2, 3}
      val rowSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType)))
      val applied = ChangeModel.applyChanges(
        WebhookServer.changes(Sources.pushSnapshot(spark, chan), rowSchema),
        keyCols = Seq("k"))
      assert(applied.select("k").collect().map(_.getInt(0)).sorted.toSeq
        == Seq(2, 3))
    } finally srv.stop()
  }

  test("webhook transport carries eth logs: HTTP POST to decoded transfers") {
    import graft.sources.{PushBuffer, Sources, WebhookServer}
    import graft.cdc.EthLogs
    val chan = "webhook_eth"
    PushBuffer.clear(chan)
    val srv = WebhookServer.start(0, Map("/eth" -> chan))
    try {
      val sig = EthLogs.TransferSig
      val from = "0x" + "0" * 24 + "00000000000000000000000000000000000000aa"
      val to = "0x" + "0" * 24 + "00000000000000000000000000000000000000bb"
      val logJson =
        s"""{"address":"0xee01","topics":["$sig","$from","$to"],
           |"data":"0x${"0" * 62}2a","blockNumber":"0x10",
           |"transactionIndex":"0x0","logIndex":"0x1","removed":false}"""
          .stripMargin.replace("\n", "")
      val http = java.net.http.HttpClient.newHttpClient()
      val resp = http.send(
        java.net.http.HttpRequest
          .newBuilder(java.net.URI.create(s"http://127.0.0.1:${srv.port}/eth"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(logJson))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)
      // the webhook envelope's data field IS the eth log object — the
      // "any transport" claim: unwrap, then the standard decode path
      val raw = Sources.pushSnapshot(spark, chan)
        .select(org.apache.spark.sql.functions.get_json_object(
          col("value"), "$.data").as("value"))
      val tr = EthLogs.transfers(EthLogs.decode(raw, "value")).collect()
      assert(tr.length == 1)
      assert(tr(0).getAs[java.math.BigDecimal]("value").longValueExact == 42L)
      assert(tr(0).getAs[String]("from_addr").endsWith("aa"))
      assert(tr(0).getAs[Long]("block_number") == 16L)
    } finally srv.stop()
  }

  test("streaming index maintenance: foreachBatch append keeps the ANN index exact") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Ivf, Similarity}
    val emb = Tables.load(spark, SparkFixture.sf0001, "embeddings")
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_ivf").toString
    // bootstrap the index from the first half of the corpus
    Ivf.buildIndex(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", nlist = 8, path = tmp)
    // stream the second half in as micro-batches through foreachBatch
    val rest = emb.filter(col("vec_id") % 2 === 1)
      .select("vec_id", "embedding").as[Vec].collect()
    val mem = MemoryStream[Vec]
    // data must be buffered BEFORE start(): AvailableNow snapshots the
    // available end offset at query start, so a later addData may fall
    // outside the run (a real race under full-suite load)
    mem.addData(rest.toIndexedSeq: _*)
    val q = mem.toDS().toDF().writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Ivf.appendToIndex(batch, "vec_id", "embedding", tmp); ()
      }
      .start()
    assert(q.awaitTermination(120000), "index append stream timed out")
    // the streamed-in index now ranks the WHOLE corpus exactly
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "qid", "qvec", k = 5)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val served = Ivf.queryIndex(spark, tmp, queries, "qid", "qvec",
      k = 5, nprobe = 8)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(served == exact)
  }

  test("quality gates run map-only on streams and equal their batch results") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Classifier, TextOps}
    val docs = Seq(
      Doc(1L, "good clean prose sample here"),
      Doc(2L, "spam junk bad noise garbage text"),
      Doc(3L, "more good clean prose prose prose"))
    val weights = Classifier.trainLogOdds(
      Seq(Doc(0L, "good clean prose")).toDF(),
      Seq(Doc(0L, "spam junk noise")).toDF(), "text", dim = 128)
    def gate(df: org.apache.spark.sql.DataFrame) = {
      val scored = Classifier.scoreLinear(df, "doc_id", "text", weights)
      val block = TextOps.blocklistStats(df, "doc_id", "text",
        blocklist = Seq("bad"), maxPerMille = 100)
        .select(col("doc_id"), col("kept"))
      val rep = TextOps.repetitionStats(df, "doc_id", "text", nTop = 2, nDup = 3)
        .select(col("doc_id"), col("dup2_fraction"))
      // map-only composition: same-source joins collapse on the stream too
      scored.join(block, Seq("doc_id")).join(rep, Seq("doc_id"))
    }
    val batch = gate(docs.toDF()).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("margin"),
        r.getAs[Boolean]("kept"), r.getAs[Double]("dup2_fraction"))).toSet
    val mem = MemoryStream[Doc]
    mem.addData(docs: _*)
    val q = gate(mem.toDF()).writeStream.format("memory")
      .queryName("quality_gate_stream").outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("quality_gate_stream").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("margin"),
        r.getAs[Boolean]("kept"), r.getAs[Double]("dup2_fraction"))).toSet
    assert(streamed == batch && batch.size == 3)
  }

  test("push channel is bounded: full channel rejects, commit frees space") {
    import graft.sources.{PushBuffer, Sources}
    val chan = "push_backpressure"
    PushBuffer.clear(chan)
    PushBuffer.configure(chan, capacity = 8)
    val tmp = java.nio.file.Files.createTempDirectory("graft_bp").toString
    // fill to capacity; the 9th event must NOT grow the buffer
    (1 to 8).foreach(i => PushBuffer.push(chan, s"""{"k":$i}"""))
    assert(PushBuffer.retained(chan) == 8)
    assert(PushBuffer.tryPush(chan, Seq("""{"k":9}""")).isEmpty)
    intercept[PushBuffer.Full] {
      PushBuffer.pushAll(chan, Seq("""{"k":9}"""), waitMs = 50L)
    }
    assert(PushBuffer.retained(chan) == 8) // rejected push appended nothing
    // a push that can never fit fails immediately, loudly
    intercept[IllegalArgumentException] {
      PushBuffer.pushAll(chan, (1 to 9).map(i => s"""{"x":$i}"""), waitMs = 0L)
    }
    // consuming evicts the committed prefix and unblocks producers —
    // the slow-sink case bounded end-to-end. Spark commits batch N only
    // when batch N+1 RUNS, so admission control caps every batch at
    // capacity/2: the 8 events split into [0,4) + [4,8), and running
    // [4,8) commits [0,4) — a full channel can never deadlock on its
    // own uncommitted tail.
    val q = Sources.push(spark, chan)
      .writeStream.format("parquet")
      .option("path", s"$tmp/out").option("checkpointLocation", s"$tmp/cp")
      .start()
    try {
      q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 30000
      while (PushBuffer.retained(chan) > 4 &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(PushBuffer.retained(chan) == 4) // batch [0,4) committed+evicted
      assert(PushBuffer.endOffset(chan) == 8L) // offsets stay absolute
      // space is free again; the query reads ONLY the new events
      assert(PushBuffer.tryPush(chan, Seq("""{"k":9}""")).contains(9L))
      q.processAllAvailable()
    } finally q.stop()
    val seqs = spark.read.parquet(s"$tmp/out")
      .select("seq").collect().map(_.getLong(0)).sorted.toSeq
    assert(seqs == (0L to 8L)) // no re-read, no loss across eviction
  }

  /** One Trigger.AvailableNow run of the push channel `chan` into a
    * parquet sink; returns the (start, end) source offsets of every
    * micro-batch that read rows.
    */
  private def availableNowRun(chan: String, tmp: String): Seq[(Long, Long)] = {
    val q = graft.sources.Sources.push(spark, chan)
      .writeStream.format("parquet")
      .option("path", s"$tmp/out").option("checkpointLocation", s"$tmp/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "push stream timed out")
    // a first batch has no start offset: it reads from the initial 0
    def seq(o: String) = Option(o).fold(0L)(_.trim.toLong)
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
      (seq(p.sources.head.startOffset), seq(p.sources.head.endOffset))
    }
  }

  test("AvailableNow drains a push backlog larger than capacity/2 in ONE " +
      "micro-batch") {
    import graft.sources.PushBuffer
    val chan = "push_drain_one_batch"
    PushBuffer.clear(chan)
    PushBuffer.configure(chan, capacity = 10)
    val tmp = java.nio.file.Files.createTempDirectory("graft_drain").toString
    val values = (0 until 8).map(i => s"""{"k":$i}""")
    PushBuffer.pushAll(chan, values, waitMs = 0L)
    // 8 retained > capacity/2 = 5: a capped batch would need two runs
    val batches = availableNowRun(chan, tmp)
    assert(batches == Seq((0L, 8L)), batches)
    assert(batches.last._2 == PushBuffer.endOffset(chan))
    val out = spark.read.parquet(s"$tmp/out").select("seq", "value")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(out == values.zipWithIndex.map { case (v, i) => (i.toLong, v) })
  }

  test("AvailableNow over a FULL push channel stops one event short; the " +
      "next run commits, frees space, and a refused producer gets in") {
    import graft.sources.PushBuffer
    val chan = "push_drain_full"
    PushBuffer.clear(chan)
    PushBuffer.configure(chan, capacity = 8)
    val tmp = java.nio.file.Files.createTempDirectory("graft_full").toString
    PushBuffer.pushAll(chan, (0 until 8).map(i => s"""{"k":$i}"""), waitMs = 0L)
    assert(PushBuffer.retained(chan) == 8)
    // run 1 takes capacity − 1: its batch stays uncommitted (Spark
    // commits it when the next batch runs), so the channel stays full
    assert(availableNowRun(chan, tmp) == Seq((0L, 7L)))
    assert(PushBuffer.retained(chan) == 8)
    assert(PushBuffer.tryPush(chan, Seq("""{"k":8}""")).isEmpty)
    // a producer that blocks for space, released by run 2's commit
    val pushed = new java.util.concurrent.atomic.AtomicLong(-1L)
    val producer = new Thread(() =>
      pushed.set(PushBuffer.pushAll(chan, Seq("""{"k":8}"""), waitMs = 60000L)))
    producer.start()
    // run 2 still has the held-back event, so it runs, commits [0,7)
    assert(availableNowRun(chan, tmp) == Seq((7L, 8L)))
    producer.join(60000L)
    assert(pushed.get() == 9L, "the blocked producer never got space")
    // run 3 reads only the producer's event
    assert(availableNowRun(chan, tmp) == Seq((8L, 9L)))
    val seqs = spark.read.parquet(s"$tmp/out")
      .select("seq").collect().map(_.getLong(0)).sorted.toSeq
    assert(seqs == (0L to 8L)) // no loss, no duplicate
    val ks = spark.read.parquet(s"$tmp/out")
      .select(get_json_object(col("value"), "$.k").cast("long"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ks == (0L to 8L))
  }

  test("a push channel restarted behind the query's committed offset " +
      "resumes at it: changes pushed after the restart reach the sink") {
    import graft.sources.PushBuffer
    val chan = "push_restart_resume"
    PushBuffer.clear(chan)
    PushBuffer.configure(chan, capacity = 10)
    val tmp = java.nio.file.Files.createTempDirectory("graft_resume").toString
    PushBuffer.pushAll(chan, (0 until 8).map(i => s"""{"k":$i}"""), waitMs = 0L)
    assert(availableNowRun(chan, tmp) == Seq((0L, 8L)))
    PushBuffer.pushAll(chan, Seq("""{"k":8}"""), waitMs = 0L)
    assert(availableNowRun(chan, tmp) == Seq((8L, 9L)))
    // a new driver finds the channel empty and counting from 0, while
    // the checkpoint it kept has committed offset 9
    PushBuffer.clear(chan)
    PushBuffer.pushAll(chan, (9 until 12).map(i => s"""{"k":$i}"""), waitMs = 0L)
    assert(availableNowRun(chan, tmp) == Seq((9L, 12L)))
    val out = spark.read.parquet(s"$tmp/out")
      .select(col("seq"), get_json_object(col("value"), "$.k").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(out == (0L until 12L).map(i => (i, i)))
  }

  test("a stopped webhook server leaves none of its request threads " +
      "alive") {
    import graft.sources.{PushBuffer, WebhookServer}
    val chan = "webhook_stop"
    PushBuffer.clear(chan)
    import scala.jdk.CollectionConverters._
    def webhookThreads = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName == "graft-webhook").toSet
    val before = webhookThreads
    val srv = WebhookServer.start(0, Map("/ingest" -> chan))
    val resp = java.net.http.HttpClient.newHttpClient().send(
      java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:${srv.port}/ingest"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString("""{"k":1}"""))
        .build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() == 200)
    val pool = webhookThreads -- before
    assert(pool.nonEmpty, "the request ran on no pool thread")
    srv.stop()
    pool.foreach(_.join(10000L))
    assert(pool.forall(!_.isAlive), s"still alive: ${pool.filter(_.isAlive)}")
  }

  test("webhook edge returns 429 + Retry-After when the channel is full") {
    import graft.sources.{PushBuffer, WebhookServer}
    val chan = "webhook_429"
    PushBuffer.clear(chan)
    PushBuffer.configure(chan, capacity = 3)
    val srv = WebhookServer.start(0, Map("/ingest" -> chan))
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      def post(body: String) = http.send(
        java.net.http.HttpRequest
          .newBuilder(java.net.URI.create(s"http://127.0.0.1:${srv.port}/ingest"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(post("""[{"k":1},{"k":2},{"k":3}]""").statusCode() == 200)
      val full = post("""{"k":4}""")
      assert(full.statusCode() == 429)
      assert(full.headers().firstValue("Retry-After").orElse("") == "1")
      assert(PushBuffer.retained(chan) == 3) // nothing appended past cap
      // consumer catches up -> edge accepts again
      PushBuffer.release(chan, 3L)
      assert(post("""{"k":4}""").statusCode() == 200)
    } finally srv.stop()
  }

  test("configure() applies engine defaults only to keys the operator " +
      "left unset") {
    val keys = Seq("spark.sql.streaming.checkpoint.fileChecksum.enabled",
      GraftSession.ArtifactIsolationKey)
    val fresh = GraftSession.configure(spark.newSession())
    keys.foreach(k => assert(fresh.conf.get(k) == "false", k))
    val explicit = spark.newSession()
    keys.foreach(explicit.conf.set(_, "true"))
    GraftSession.configure(explicit)
    keys.foreach(k => assert(explicit.conf.get(k) == "true", k))
  }

  test("pipeline runs after the first reuse generated code: no codegen " +
      "compiles on warm runs of a webhook -> upsert-Delta pipeline") {
    import graft.sources.{DeltaLite, PushBuffer}
    import org.apache.spark.metrics.source.CodegenMetrics
    val chan = "warm_codegen"
    PushBuffer.clear(chan)
    val root = java.nio.file.Files.createTempDirectory("graft_warm").toString
    val config = GraftConfigLoader.fromYaml(
      s"""sources:
         |  - name: changes
         |    path: ""
         |    decode: webhook
         |    schema: "id BIGINT, version BIGINT, amount DOUBLE, tag STRING"
         |    options:
         |      channel: $chan
         |sql: |
         |  SELECT id, version, amount, tag, _op, _seq INTO accounts FROM changes;
         |sinks:
         |  - table: accounts
         |    path: $root/accounts
         |    format: delta
         |    mode: upsert
         |    keys: [id]
         |streaming: true
         |""".stripMargin)
    GraftApp.build(spark, config)
    val expected = scala.collection.mutable.Map.empty[Long, (Long, Double, String)]
    def env(verb: String, data: String) = s"""{"verb":"$verb","data":$data}"""
    def row(id: Long, v: Long) = {
      expected(id) = (v, id * 1.5 + v, s"t$v")
      s"""{"id":$id,"version":$v,"amount":${id * 1.5 + v},"tag":"t$v"}"""
    }
    // run r inserts ten keys (one updated again in the same batch),
    // updates half of run r-1's keys and deletes one of them
    def run(r: Int): Long = {
      val base = r * 10L
      val envs = (base until base + 10).map(k => env("POST", row(k, r))) ++
        Seq(env("PUT", row(base, r + 100))) ++
        (if (r == 1) Nil
         else (base - 10 until base - 5).map(k => env("PUT", row(k, r))) ++
           Seq({ expected -= base - 1; env("DELETE", s"""{"id":${base - 1}}""") }))
      PushBuffer.pushAll(chan, envs, waitMs = 0L)
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val qs = GraftApp.runStreaming(spark, config)
      try qs.foreach(_.awaitTermination()) finally qs.foreach(_.stop())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    def sink() = DeltaLite.read(spark, s"$root/accounts")
      .select("id", "version", "amount", "tag").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getString(3))))
      .toMap
    try {
      run(1); run(2) // warm-up: the first runs compile the pipeline's code
      assert(sink() == expected.toMap)
      for (r <- 3 to 4) {
        val compiled = run(r)
        assert(compiled == 0, s"run $r compiled $compiled generated classes")
        assert(sink() == expected.toMap, s"sink after run $r")
      }
    } finally PushBuffer.clear(chan)
  }

  test("stateful query runs on the RocksDB state store (SCALE.md contract)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      == GraftSession.RocksDBProvider)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rocks").toString
    val mem = MemoryStream[String]
    mem.addData("a", "b", "a", "c", "a")
    val q = graft.streaming.StatefulOps.runningCounts(mem.toDS())
      .writeStream.format("memory").queryName("rocks_counts")
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      val got = spark.table("rocks_counts").collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      assert(got == Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
      // the checkpoint carries RocksDB artifacts (zip snapshots /
      // changelogs), not the HDFS provider's .delta files
      val stateFiles = java.nio.file.Files.walk(
          java.nio.file.Paths.get(ckpt, "state"))
        .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
      var names = List.empty[String]
      while (stateFiles.hasNext) names ::= stateFiles.next().getFileName.toString
      assert(!names.exists(_.endsWith(".delta")),
        s"HDFS-provider .delta files in RocksDB checkpoint: $names")
      assert(names.exists(n => n.endsWith(".zip") || n.endsWith(".changelog")),
        s"no RocksDB snapshot/changelog artifacts found: $names")
    } finally q.stop()
  }

  test("hop agg emits per overlapping window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val agg = StreamOps.hopAgg(mem.toDF(), "ts", "5 minutes", "10 minutes",
      Seq.empty, Seq(count(lit(1)).as("n")))
    val q = agg.writeStream.format("memory").queryName("hop_out")
      .outputMode(OutputMode.Complete).start()
    try {
      mem.addData(Ev(ts("2024-01-01 00:03:00"), "a", 1.0))
      q.processAllAvailable()
      val starts = spark.table("hop_out").select("window_start")
        .collect().map(_.getTimestamp(0).toString).toSet
      assert(starts == Set("2023-12-31 23:55:00.0", "2024-01-01 00:00:00.0"))
    } finally q.stop()
  }
}

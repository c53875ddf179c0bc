package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftApp._

class GraftAppSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val dir = SparkFixture.sf0001

  test("batch config: sources -> dialect sql -> parquet sink") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_app").toString
    val config = GraftConfig(
      sources = Seq(SourceConf("ev", s"$dir/events.parquet")),
      sql =
        """SELECT event_type, COUNT(*) AS n INTO per_type FROM ev GROUP BY event_type;
          |SELECT event_type, n INTO hot FROM per_type WHERE n > 10""".stripMargin,
      sinks = Seq(SinkConf("hot", s"$tmp/hot", mode = "overwrite")))
    val outputs = runBatch(spark, config)
    assert(outputs.keySet == Set("per_type", "hot"))
    val written = spark.read.parquet(s"$tmp/hot")
    assert(written.count() == outputs("hot").count())
    assert(written.columns.toSet == Set("event_type", "n"))
  }

  test("streaming config: file stream -> windowed sql -> append sink") {
    // events.parquet ts is nanos; stage a µs copy as the stream source
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream").toString
    Tables.load(spark, dir, "events").write.parquet(s"$tmp/src")
    val config = GraftConfig(
      sources = Seq(SourceConf("ev", s"$tmp/src",
        watermark = Some(("ts", "1 hour")))),
      sql =
        """SELECT window_start, event_type, COUNT(*) AS n INTO counts
          |FROM TUMBLE(ev, ts, '1 hour') GROUP BY window_start, event_type""".stripMargin,
      sinks = Seq(SinkConf("counts", s"$tmp/out")),
      streaming = true)
    val queries = runStreaming(spark, config)
    try queries.foreach(_.awaitTermination())
    finally queries.foreach(_.stop())
    val out = spark.read.parquet(s"$tmp/out")
    // append mode emits only watermark-closed windows; all but the last
    // event-time hour must have been finalized
    val expected = SparkEntry.queries("q45_sql_tumble")(spark, dir)
    assert(out.count() > 0)
    assert(out.join(expected,
      Seq("window_start", "event_type", "n"), "left_anti").count() == 0)
  }

  test("config-driven curation pipeline: quality gates run in dialect SQL") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_curate").toString
    val config = GraftConfig(
      sources = Seq(SourceConf("docs", s"$dir/documents.parquet")),
      sql =
        """SELECT doc_id, scrub_pii(text) AS clean, token_count(text) AS tc,
          |  quality_score(text) AS qs, lang_id(text) AS lid,
          |  fingerprint64(text) AS fp
          |INTO scored FROM docs;
          |SELECT doc_id, clean, lid INTO curated FROM scored
          |WHERE tc BETWEEN 5 AND 2000 AND qs > 0.1""".stripMargin,
      sinks = Seq(SinkConf("curated", s"$tmp/out", mode = "overwrite")))
    val outputs = runBatch(spark, config)
    val out = spark.read.parquet(s"$tmp/out")
    assert(out.count() > 0 && out.count() == outputs("curated").count())
    assert(out.columns.toSet == Set("doc_id", "clean", "lid"))
  }

  test("build validates the pipeline and reports schemas without writing sinks") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_build").toString
    val config = GraftConfig(
      sources = Seq(SourceConf("ev", s"$dir/events.parquet")),
      sql = "SELECT event_type, COUNT(*) AS n INTO per_type FROM ev GROUP BY event_type",
      sinks = Seq(SinkConf("per_type", s"$tmp/out", mode = "overwrite")))
    val schemas = build(spark, config)
    assert(schemas("per_type").fieldNames.toSeq == Seq("event_type", "n"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$tmp/out")))
    // analysis errors surface at build time
    val bad = intercept[Exception] {
      build(spark, config.copy(sql = "SELECT no_such_col INTO x FROM ev"))
    }
    assert(bad.getMessage.toLowerCase.contains("no_such_col"))
    // sink validation: unknown table and upsert-without-keys both fail
    assert(intercept[IllegalArgumentException] {
      build(spark, config.copy(sinks = Seq(SinkConf("nope", s"$tmp/x"))))
    }.getMessage.contains("nope"))
    assert(intercept[IllegalArgumentException] {
      build(spark, config.copy(
        sinks = Seq(SinkConf("per_type", s"$tmp/x", mode = "upsert"))))
    }.getMessage.contains("keys"))
    // streaming configs reject batch-only modes exactly like run does
    val streamCfg = config.copy(streaming = true,
      sources = Seq(SourceConf("ev", s"$dir/events.parquet")),
      sql = "SELECT event_type INTO per_type FROM ev",
      sinks = Seq(SinkConf("per_type", s"$tmp/x", mode = "overwrite")))
    assert(intercept[IllegalArgumentException] {
      build(spark, streamCfg)
    }.getMessage.contains("streaming sink mode"))
    // partition_by: unknown column and upsert-mode both fail at build
    assert(intercept[IllegalArgumentException] {
      build(spark, config.copy(sinks = Seq(SinkConf("per_type", s"$tmp/x",
        mode = "overwrite", partitionBy = Seq("no_such_col")))))
    }.getMessage.contains("no_such_col"))
    assert(intercept[IllegalArgumentException] {
      build(spark, config.copy(sinks = Seq(SinkConf("per_type", s"$tmp/x",
        mode = "upsert", keys = Seq("event_type"),
        partitionBy = Seq("event_type")))))
    }.getMessage.contains("partition_by"))
    // zorder_by: build surfaces unknown columns and bad arity too
    assert(intercept[IllegalArgumentException] {
      build(spark, config.copy(sinks = Seq(SinkConf("per_type", s"$tmp/x",
        mode = "overwrite", zorderBy = Seq("n", "no_such_col")))))
    }.getMessage.contains("no_such_col"))
    assert(intercept[IllegalArgumentException] {
      build(spark, config.copy(sinks = Seq(SinkConf("per_type", s"$tmp/x",
        mode = "overwrite", zorderBy = Seq("n")))))
    }.getMessage.contains("2 or 3"))
  }

  test("partition_by writes hive-style partitioned sink output") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_part").toString
    val config = GraftConfig(
      sources = Seq(SourceConf("docs", s"$dir/documents.parquet")),
      sql = "SELECT doc_id, lang, n_chars INTO by_lang FROM docs",
      sinks = Seq(SinkConf("by_lang", s"$tmp/out", mode = "overwrite",
        partitionBy = Seq("lang"))))
    runBatch(spark, config)
    val dirs = new java.io.File(s"$tmp/out").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.exists(_.startsWith("lang=en")))
    // partition pruning works on the written layout
    val en = spark.read.parquet(s"$tmp/out").filter(org.apache.spark.sql
      .functions.col("lang") === "en")
    assert(en.count() > 0 &&
      en.queryExecution.executedPlan.toString.contains("PartitionFilters: [isnotnull(lang"))
  }

  test("clean removes sink data and checkpoints, idempotently") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_clean").toString
    val config = GraftConfig(
      sources = Seq(SourceConf("ev", s"$dir/events.parquet")),
      sql = "SELECT event_type INTO out1 FROM ev",
      sinks = Seq(SinkConf("out1", s"$tmp/out", mode = "overwrite")))
    runBatch(spark, config)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$tmp/out_ckpt/x"))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$tmp/out")))
    clean(config)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$tmp/out")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$tmp/out_ckpt")))
    clean(config) // second run is a no-op, not an error
  }

  test("unknown sink table fails loudly") {
    val e = intercept[IllegalArgumentException] {
      runBatch(spark, GraftConfig(
        sources = Seq(SourceConf("ev", s"$dir/events.parquet")),
        sql = "SELECT event_type INTO x FROM ev",
        sinks = Seq(SinkConf("nope", "/tmp/never"))))
    }
    assert(e.getMessage.contains("nope"))
  }

  test("graft-native YAML config loads and runs end-to-end") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_yaml").toString
    val yaml =
      s"""app_name: native-demo
         |sources:
         |  - name: ev
         |    path: $dir/events.parquet
         |sql: |
         |  SELECT event_type, COUNT(*) AS n INTO per_type FROM ev GROUP BY event_type;
         |sinks:
         |  - table: per_type
         |    path: $tmp/out
         |    mode: overwrite
         |""".stripMargin
    val config = GraftConfigLoader.fromYaml(yaml)
    assert(config.sources.map(_.name) == Seq("ev") && !config.streaming)
    runBatch(spark, config)
    assert(spark.read.parquet(s"$tmp/out").count() > 0)
  }

  test("prometheus metrics endpoint: telemetry config parses, /metrics " +
      "serves live per-sink counters during a streaming run, 404 elsewhere") {
    // config surface: dozer telemetry shape (tag stripped) and the
    // graft-native metrics_port shorthand both land on metricsPort
    val dz = GraftConfigLoader.fromYaml(
      s"""app_name: prom-app
         |connections:
         |  - config: !LocalStorage
         |      details:
         |        path: /root/testdata
         |      tables:
         |        - !Table
         |            name: events
         |            config: !Parquet
         |              path: sf0.001
         |              extension: .parquet
         |    name: store
         |sources:
         |  - name: ev
         |    connection: store
         |    table_name: events
         |sql: |
         |  SELECT event_type, COUNT(*) AS n INTO per_type FROM ev GROUP BY event_type;
         |telemetry:
         |  metrics: !Prometheus
         |    address: 0.0.0.0:9876
         |sinks:
         |  - name: d
         |    config: !Dummy
         |      table_name: per_type
         |""".stripMargin)
    assert(dz.metricsPort.contains(9876))
    assert(GraftConfigLoader.fromYaml(
      s"""sources:
         |  - name: ev
         |    path: $dir/events.parquet
         |sql: SELECT 1 AS one INTO o FROM ev;
         |metrics_port: 9877
         |sinks:
         |  - table: o
         |    path: /tmp/x
         |""".stripMargin).metricsPort.contains(9877))

    // live scrape: recorder + server around a real streaming run
    val tmp = java.nio.file.Files.createTempDirectory("graft_prom").toString
    Tables.load(spark, dir, "events").write.parquet(s"$tmp/src")
    val config = GraftConfig(
      sources = Seq(SourceConf("ev", s"$tmp/src",
        watermark = Some(("ts", "1 hour")))),
      sql =
        """SELECT window_start, event_type, COUNT(*) AS n INTO counts
          |FROM TUMBLE(ev, ts, '1 hour') GROUP BY window_start, event_type""".stripMargin,
      sinks = Seq(SinkConf("counts", s"$tmp/out")),
      streaming = true)
    val rec = graft.streaming.StreamMetrics.attach(spark)
    val handle = graft.streaming.MetricsServer.start(0, rec)
    try {
      val queries = runStreaming(spark, config)
      try queries.foreach(_.awaitTermination())
      finally queries.foreach(_.stop())
      def get(path: String): (Int, String) = {
        val c = java.net.URI.create(s"http://127.0.0.1:${handle.port}$path")
          .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
        val code = c.getResponseCode
        val is = if (code == 200) c.getInputStream else c.getErrorStream
        val body = new String(is.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        (code, body)
      }
      val (code, body) = get("/metrics")
      assert(code == 200)
      assert(body.contains("graft_up 1"), body)
      // the streaming query is named after its sink table, and the
      // cumulative counter saw the source rows
      val m = """graft_input_rows_total\{query="counts"\} (\d+)""".r
      val rows = m.findFirstMatchIn(body).map(_.group(1).toLong)
        .getOrElse(fail(s"no counts counter in:\n$body"))
      assert(rows > 0)
      assert(body.contains("""graft_batches_total{query="counts"}"""))
      assert(body.contains("""graft_state_rows{query="counts"}"""))
      // reference parity: anything else 404s and points at /metrics
      val (nf, nfBody) = get("/other")
      assert(nf == 404 && nfBody.contains("/metrics"))
    } finally {
      handle.stop()
      spark.streams.removeListener(rec)
    }
  }

  test("per-stream state metrics on the endpoint: state memory, " +
      "per-operator rows/churn, and the event-time watermark gauge") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit, window}
    implicit val sqlCtx = spark.sqlContext
    val rec = graft.streaming.StreamMetrics.attach(spark)
    val handle = graft.streaming.MetricsServer.start(0, rec)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]
    val agg = mem.toDF().withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("user"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("state_metrics_q")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      mem.addData(Ev(t("2024-01-01 00:01:00"), "a", 1.0),
        Ev(t("2024-01-01 00:02:00"), "b", 2.0))
      q.processAllAvailable()
      // second batch advances the watermark past the first window and
      // evicts its state (the churn the rows_removed gauge reports)
      mem.addData(Ev(t("2024-01-01 03:00:00"), "a", 3.0))
      q.processAllAvailable()
      val c = java.net.URI.create(
          s"http://127.0.0.1:${handle.port}/metrics")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(c.getResponseCode == 200)
      val body = new String(c.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      def gauge(re: String): Long =
        re.r.findFirstMatchIn(body).map(_.group(1).toLong)
          .getOrElse(fail(s"missing $re in:\n$body"))
      // the stateful agg holds rows and memory, labelled per operator
      assert(gauge(
        """graft_state_memory_bytes\{query="state_metrics_q"\} (\d+)""") > 0)
      assert(gauge("""graft_state_operator_rows\{query="state_metrics_q",""" +
        """operator="[^"]+"\} (\d+)""") >= 0)
      assert(body.contains("graft_state_operator_memory_bytes"))
      assert(body.contains("graft_state_operator_rows_updated"))
      assert(body.contains("graft_state_operator_rows_removed"))
      // watermark = global max event time minus the 10-minute delay
      // (processAllAvailable runs the no-data follow-up batch, so the
      // latest progress already carries batch 2's advance)
      val wm = gauge(
        """graft_watermark_epoch_ms\{query="state_metrics_q"\} (\d+)""")
      assert(wm ==
        t("2024-01-01 03:00:00").getTime - 10 * 60 * 1000L, body)
    } finally {
      q.stop()
      handle.stop()
      spark.streams.removeListener(rec)
    }
  }

  test("event-analytics table operators run from config YAML alone") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_funnel_cfg").toString
    Tables.load(spark, dir, "events").write.parquet(s"$tmp/src")
    val yaml =
      s"""app_name: funnel-app
         |sources:
         |  - name: ev
         |    path: $tmp/src
         |sql: |
         |  SELECT funnel_level, COUNT(*) AS n_users INTO conv
         |  FROM WINDOW_FUNNEL(ev, user_id, ts, event_id, event_type,
         |    'view,click,purchase', '6 hours')
         |  GROUP BY funnel_level;
         |sinks:
         |  - table: conv
         |    path: $tmp/out
         |    mode: overwrite
         |""".stripMargin
    runBatch(spark, GraftConfigLoader.fromYaml(yaml))
    val out = spark.read.parquet(s"$tmp/out")
    val want = graft.operators.EventFunnel.windowFunnel(
      Tables.load(spark, dir, "events"), "user_id", "ts", "event_id",
      "event_type", Seq("view", "click", "purchase"), 21600000000L)
      .groupBy("funnel_level").count()
    assert(out.count() == want.count() && out.count() > 0)
    assert(out.columns.toSet == Set("funnel_level", "n_users"))
  }

  test("CHAR_WINDOW_DUP table operators run from config YAML alone") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_subdup_cfg").toString
    Tables.load(spark, dir, "documents").write.parquet(s"$tmp/src")
    val yaml =
      s"""app_name: subdup-app
         |sources:
         |  - name: docs
         |    path: $tmp/src
         |sql: |
         |  SELECT doc_id, n_dup_windows, dup_ratio INTO flagged
         |  FROM CHAR_WINDOW_DUP(docs, doc_id, text, 40, 10)
         |  WHERE n_dup_windows > 0;
         |  SELECT h, sites, n_docs INTO boiler
         |  FROM CHAR_WINDOW_DUP_TOP(docs, doc_id, text, 40, 10, 5);
         |sinks:
         |  - table: flagged
         |    path: $tmp/out1
         |    mode: overwrite
         |  - table: boiler
         |    path: $tmp/out2
         |    mode: overwrite
         |""".stripMargin
    runBatch(spark, GraftConfigLoader.fromYaml(yaml))
    val flagged = spark.read.parquet(s"$tmp/out1")
    import org.apache.spark.sql.functions.col
    val want = graft.operators.Dedup.charWindowDupStats(
        Tables.load(spark, dir, "documents"), "doc_id", "text", 40, 10)
      .filter(col("n_dup_windows") > 0)
    assert(flagged.count() == want.count())
    assert(flagged.columns.toSet ==
      Set("doc_id", "n_dup_windows", "dup_ratio"))
    val boiler = spark.read.parquet(s"$tmp/out2")
    assert(boiler.count() <= 5)
    assert(boiler.columns.toSet == Set("h", "sites", "n_docs"))
  }

  test("LOG_HIST_QUANTILES table operator runs from config YAML alone") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_hist_cfg").toString
    Tables.load(spark, dir, "lineitem").write.parquet(s"$tmp/src")
    val yaml =
      s"""app_name: hist-app
         |sources:
         |  - name: li
         |    path: $tmp/src
         |sql: |
         |  SELECT flag, q_pct, est_lo INTO pcts
         |  FROM LOG_HIST_QUANTILES(cents_view, flag, cents, 5, '50,99');
         |sinks:
         |  - table: pcts
         |    path: $tmp/out
         |    mode: overwrite
         |""".stripMargin
    // the value prep (cents projection) is itself dialect SQL upstream
    val yamlFull = yaml.replace(
      "sql: |\n",
      "sql: |\n  SELECT l_returnflag AS flag,\n" +
        "    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)" +
        " AS cents INTO cents_view FROM li;\n")
    runBatch(spark, GraftConfigLoader.fromYaml(yamlFull))
    import spark.implicits._
    val out = spark.read.parquet(s"$tmp/out")
    assert(out.columns.toSet == Set("flag", "q_pct", "est_lo"))
    val flags = Tables.load(spark, dir, "lineitem")
      .select("l_returnflag").distinct().count()
    assert(out.count() == flags * 2) // two requested percentiles per flag
    // p50 <= p99 within every flag
    val m = out.as[(String, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => t._2 -> t._3).toMap)
    m.foreach { case (f, qs) => assert(qs(50) <= qs(99), s"flag $f: $qs") }
  }

  test("graph table operators (PAGE_RANK, TRIANGLE_COUNTS) run from " +
      "config YAML alone") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_graph_cfg").toString
    Tables.load(spark, dir, "documents").write.parquet(s"$tmp/src")
    val yaml =
      s"""app_name: graph-app
         |sources:
         |  - name: docs
         |    path: $tmp/src
         |sql: |
         |  SELECT doc_id % 50 AS src, (doc_id * 7 + 3) % 50 AS dst
         |  INTO edges FROM docs
         |  WHERE doc_id % 50 <> (doc_id * 7 + 3) % 50;
         |  SELECT node, rank_int INTO ranks
         |  FROM PAGE_RANK(edges, src, dst, 2);
         |  SELECT node, n_triangles INTO tris
         |  FROM TRIANGLE_COUNTS(edges, src, dst);
         |sinks:
         |  - table: ranks
         |    path: $tmp/out1
         |    mode: overwrite
         |  - table: tris
         |    path: $tmp/out2
         |    mode: overwrite
         |""".stripMargin
    runBatch(spark, GraftConfigLoader.fromYaml(yaml))
    val ranks = spark.read.parquet(s"$tmp/out1")
    val tris = spark.read.parquet(s"$tmp/out2")
    assert(ranks.count() == 50 && tris.count() == 50)
    assert(ranks.columns.toSet == Set("node", "rank_int"))
    assert(tris.columns.toSet == Set("node", "n_triangles"))
  }

  test("the SAME WINDOW_FUNNEL SQL runs in streaming mode through the " +
      "stateful twin (config-to-upsert-sink)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_funnel_stream").toString
    Tables.load(spark, dir, "events").write.parquet(s"$tmp/src")
    val yaml =
      s"""app_name: funnel-stream-app
         |sources:
         |  - name: ev
         |    path: $tmp/src
         |sql: |
         |  SELECT user_id, funnel_level INTO conv
         |  FROM WINDOW_FUNNEL(ev, user_id, ts, event_id, event_type,
         |    'view,click,purchase', '6 hours');
         |sinks:
         |  - table: conv
         |    path: $tmp/out
         |    mode: upsert
         |    keys: [user_id]
         |""".stripMargin
    val queries = runStreaming(spark, GraftConfigLoader.fromYaml(yaml))
    try queries.foreach(_.awaitTermination())
    finally queries.foreach(_.stop())
    import spark.implicits._
    val got = spark.read.parquet(s"$tmp/out")
      .select($"user_id".cast("long"), $"funnel_level")
      .as[(Long, Int)].collect().toMap
    val want = graft.operators.EventFunnel.windowFunnel(
        Tables.load(spark, dir, "events"), "user_id", "ts", "event_id",
        "event_type", Seq("view", "click", "purchase"), 21600000000L)
      .as[(Long, Int)].collect().toMap
    assert(got.nonEmpty && got == want,
      s"stream ${got.size} users vs batch ${want.size}")
  }

  test("zorder_by on a batch sink clusters files so footer stats prune " +
      "the second dimension") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_zsink").toString
    import spark.implicits._
    (for (x <- 0 until 64; y <- 0 until 64) yield (x, y))
      .toDF("x", "y").write.parquet(s"$tmp/src")
    val yaml =
      s"""app_name: z-app
         |sources:
         |  - name: grid
         |    path: $tmp/src
         |sql: |
         |  SELECT x, y INTO cells FROM grid;
         |sinks:
         |  - table: cells
         |    path: $tmp/out
         |    mode: overwrite
         |    zorder_by: [x, y]
         |    options:
         |      zorder_files: "16"
         |""".stripMargin
    val config = GraftConfigLoader.fromYaml(yaml)
    assert(config.sinks.head.zorderBy == Seq("x", "y"))
    runBatch(spark, config)
    assert(spark.read.parquet(s"$tmp/out").count() == 64 * 64)
    val rep = graft.operators.Layout
      .pruningReport(spark, s"$tmp/out", "y", 0, 7).collect().head
    assert(rep.getAs[Double]("pruned_fraction") >= 0.5, rep.toString)
    // guard rails: wrong arity and upsert mode are loud
    intercept[IllegalArgumentException] {
      runBatch(spark, config.copy(sinks = Seq(
        config.sinks.head.copy(zorderBy = Seq("x")))))
    }
    intercept[IllegalArgumentException] {
      runBatch(spark, config.copy(sinks = Seq(config.sinks.head.copy(
        mode = "upsert", keys = Seq("x")))))
    }
  }

  test("build --locked: lock written, unchanged passes, contract drift fails") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_lock")
    val lock = tmp.resolve("graft.lock")
    def cfg(sql: String) = GraftConfigLoader.fromYaml(
      s"""sources:
         |  - name: ev
         |    path: $dir/events.parquet
         |sql: |
         |  $sql
         |sinks:
         |  - table: o
         |    path: $tmp/out
         |    mode: overwrite
         |""".stripMargin)
    val c1 = cfg("SELECT event_type, COUNT(*) AS n INTO o FROM ev GROUP BY event_type")

    // locked with no lock file: the LockedNoLockFile analogue
    val e0 = intercept[IllegalStateException] {
      GraftApp.buildLocked(spark, c1, lock, locked = true)
    }
    assert(e0.getMessage.contains("no lock file"))

    GraftApp.buildLocked(spark, c1, lock, locked = false)
    assert(java.nio.file.Files.exists(lock))
    assert(new String(java.nio.file.Files.readAllBytes(lock))
      .contains("output o struct<event_type:string,n:bigint>"))

    // same contract passes under --locked
    GraftApp.buildLocked(spark, c1, lock, locked = true)

    // output schema drift: the LockedOutdatedLockfile analogue
    val c2 = cfg("SELECT event_type, SUM(value) AS n INTO o FROM ev GROUP BY event_type")
    val e1 = intercept[IllegalStateException] {
      GraftApp.buildLocked(spark, c2, lock, locked = true)
    }
    assert(e1.getMessage.contains("contract changed"))
  }

  test("run analyzes the config once: the lock check and the run share " +
      "one plan") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_runonce")
    java.nio.file.Files.writeString(tmp.resolve("in.csv"), "a,b\n1,x\n2,y\n")
    // csv schema inference runs Spark jobs each time the source loads
    val config = GraftConfig(
      sources = Seq(SourceConf("src", s"$tmp/in.csv", format = "csv",
        options = Map("header" -> "true", "inferSchema" -> "true"))),
      sql = "SELECT a, b INTO o FROM src",
      sinks = Seq(SinkConf("o", s"$tmp/out", mode = "overwrite")))
    val lock = tmp.resolve("graft.lock")
    assert(org.apache.spark.graft.JobCount(spark)(
      GraftApp.build(spark, config)).jobs > 0)
    val batch = org.apache.spark.graft.JobCount(spark)(
      GraftApp.runBatch(spark, config)).jobs
    val run = org.apache.spark.graft.JobCount(spark)(
      GraftApp.run(spark, config, lock, locked = false)).jobs
    assert(run == batch, s"run started $run jobs, a batch run $batch")
    assert(new String(java.nio.file.Files.readAllBytes(lock))
      .contains("output o struct<a:int,b:string>"))
    assert(spark.read.parquet(s"$tmp/out").count() == 2)
  }

  test("dot renders the pipeline DAG with direct-dependency edges only") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_dot").toString
    val yaml =
      s"""sources:
         |  - name: ev
         |    path: $dir/events.parquet
         |  - name: nat
         |    path: $dir/nation.parquet
         |sql: |
         |  SELECT event_type, COUNT(*) AS n INTO per_type FROM ev GROUP BY event_type;
         |  SELECT p.event_type, p.n, x.n_name INTO enriched
         |  FROM per_type p JOIN nat x ON p.n % 25 = x.n_nationkey;
         |sinks:
         |  - table: enriched
         |    path: $tmp/out
         |    mode: overwrite
         |""".stripMargin
    val d = GraftApp.dot(spark, GraftConfigLoader.fromYaml(yaml))
    assert(d.contains("\"ev\" -> \"per_type\""))
    assert(d.contains("\"per_type\" -> \"enriched\""))
    assert(d.contains("\"nat\" -> \"enriched\""))
    assert(!d.contains("\"ev\" -> \"enriched\"")) // direct deps only
    assert(d.contains("\"enriched\" -> \"sink0\""))
    assert(d.contains("shape=cylinder") && d.contains("shape=note"))
    // schemas ride as tooltips (the get_graph_schemas contract)
    assert(d.contains("struct<event_type:string,n:bigint"))
  }

  test("ui serves the live contract over HTTP: /dot, /sources, " +
      "/outputs, /sinks, and an index page (ContractService parity)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ui").toString
    val yaml =
      s"""sources:
         |  - name: ev
         |    path: $dir/events.parquet
         |sql: |
         |  SELECT event_type, COUNT(*) AS n INTO per_type FROM ev GROUP BY event_type;
         |sinks:
         |  - table: per_type
         |    path: $tmp/out
         |    mode: overwrite
         |""".stripMargin
    val contract = GraftApp.uiContract(spark,
      GraftConfigLoader.fromYaml(yaml))
    val h = UiServer.start(0, contract) // ephemeral port
    try {
      def get(path: String): (Int, String, String) = {
        val c = new java.net.URL(s"http://localhost:${h.port}$path")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        val code = c.getResponseCode
        val in = if (code >= 400) c.getErrorStream else c.getInputStream
        val body = new String(in.readAllBytes(), "UTF-8")
        (code, body, c.getContentType)
      }
      val (dc, dot, dt) = get("/dot")
      assert(dc == 200 && dt.startsWith("text/vnd.graphviz"))
      assert(dot.contains("\"ev\" -> \"per_type\""))
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val (sc, srcs, st) = get("/sources")
      assert(sc == 200 && st.startsWith("application/json"))
      val sn = om.readTree(srcs)
      assert(sn.get("ev").get("format").asText == "parquet")
      assert(sn.get("ev").get("schema").asText.contains("event_type"))
      val (oc, outs, _) = get("/outputs")
      assert(oc == 200)
      assert(om.readTree(outs).get("per_type").asText
        .contains("n:bigint"))
      val (kc, sinks, _) = get("/sinks")
      assert(kc == 200)
      val k0 = om.readTree(sinks).get(0)
      assert(k0.get("table").asText == "per_type" &&
        k0.get("mode").asText == "overwrite")
      val (ic, idx, it) = get("/")
      assert(ic == 200 && it.startsWith("text/html"))
      assert(idx.contains("per_type") && idx.contains("digraph"))
      val (nc, nb, _) = get("/nope")
      assert(nc == 404 && nb.contains("/dot"))
    } finally h.stop()
    // the server binds LOOPBACK by default — the contract travels
    // without auth and must not be reachable off-box unless opted in
    val h2 = UiServer.start(0, contract)
    try assert(h2.address.getAddress.isLoopbackAddress,
      s"default bind must be loopback: ${h2.address}")
    finally h2.stop()
  }

  test("ui redacts credentials from sink targets: JDBC userinfo and " +
      "password-style query params never leave the box") {
    assert(UiServer.redactTarget("jdbc:postgresql://u:p@h:5432/db")
      == "jdbc:postgresql://***@h:5432/db")
    assert(UiServer.redactTarget(
      "jdbc:clickhouse://h/db?user=a&password=hunter2&ssl=true")
      == "jdbc:clickhouse://h/db?user=a&password=***&ssl=true")
    assert(UiServer.redactTarget(
      "jdbc:oracle:thin:@//h:1521/svc") // @ without //…@ userinfo shape
      == "jdbc:oracle:thin:@//h:1521/svc")
    assert(UiServer.redactTarget("/plain/path/out") == "/plain/path/out")
  }

  test("dozer sink types: dummy consumes, jdbc merges into Derby, missing drivers fail loudly") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sinks").toString
    // native-shape jdbc sink against Derby: run twice, keyed merge keeps
    // one row per key (the ClickHouse/Oracle sink contract end-to-end)
    val url = "jdbc:derby:memory:graftcfgsink;create=true"
    val yaml =
      s"""sources:
         |  - name: ev
         |    path: $dir/events.parquet
         |sql: |
         |  SELECT event_type, COUNT(*) AS n INTO per_type FROM ev GROUP BY event_type;
         |sinks:
         |  - table: per_type
         |    mode: jdbc
         |    keys: [event_type]
         |    options: {url: "$url", dbtable: per_type}
         |  - table: per_type
         |    mode: dummy
         |""".stripMargin
    val config = GraftConfigLoader.fromYaml(yaml)
    assert(config.sinks.map(_.mode) == Seq("jdbc", "dummy"))
    runBatch(spark, config)
    runBatch(spark, config) // idempotent: merge by key, not duplicate append
    val out = spark.read.jdbc(url, "per_type", new java.util.Properties)
    assert(out.count() == out.select("event_type").distinct().count())
    assert(out.count() > 0)

    // dozer-shaped sinks: Dummy maps to dummy; Clickhouse/Oracle build
    // jdbc configs whose driver probe fails actionably in this container
    val dozerYaml =
      s"""connections:
         |  - name: ora
         |    config: !Oracle
         |      user: scott
         |      password: tiger
         |      host: db.example
         |      port: 1521
         |      sid: ORCL
         |sources: []
         |sql: ""
         |sinks:
         |  - name: audit
         |    config: !Dummy
         |      table_name: per_type
         |  - name: ch
         |    config: !Clickhouse
         |      host: ch.example
         |      port: 8123
         |      database: analytics
         |      source_table_name: per_type
         |      sink_table_name: per_type_ch
         |      create_table_options: {primary_keys: [event_type]}
         |  - name: ora_out
         |    config: !Oracle
         |      connection: ora
         |      table_name: PER_TYPE
         |      unique_key: [EVENT_TYPE]
         |      owner: APP
         |""".stripMargin
    // dozer shape requires connections key; parse directly
    val dz = GraftConfigLoader.fromYaml(dozerYaml)
    val Seq(dummy, ch, ora) = dz.sinks
    assert(dummy.mode == "dummy" && dummy.table == "per_type" && dummy.path.isEmpty)
    assert(ch.mode == "jdbc" &&
      ch.options("url") == "jdbc:clickhouse://ch.example:8123/analytics" &&
      ch.options("dbtable") == "per_type_ch" && ch.keys == Seq("event_type"))
    assert(ora.mode == "jdbc" &&
      ora.options("url") == "jdbc:oracle:thin:@//db.example:1521/ORCL" &&
      ora.options("dbtable") == "APP.PER_TYPE" && ora.keys == Seq("EVENT_TYPE"))
    val probe = intercept[IllegalArgumentException] {
      GraftApp.requireJdbcAvailable(ch)
    }
    assert(probe.getMessage.contains("JDBC driver"))

    // Aerospike: documented out-of-scope mapping
    val aero = intercept[IllegalArgumentException] {
      GraftConfigLoader.fromYaml(
        """connections: []
          |sources: []
          |sql: ""
          |sinks:
          |  - name: a
          |    config: !Aerospike
          |      connection: aero
          |      metadata_namespace: meta
          |""".stripMargin)
    }
    assert(aero.getMessage.contains("Aerospike"))
  }

  test("multi-file config combine: globbed yaml deep-merge, .sql append, overrides") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_combine")
    def write(name: String, text: String): Unit =
      java.nio.file.Files.writeString(tmp.resolve(name), text)
    write("a-config.yaml",
      s"""app_name: combined
         |sources:
         |  - name: ev
         |    path: $dir/events.parquet
         |""".stripMargin)
    write("b-config.yaml",
      s"""sinks:
         |  - table: per_type
         |    path: ${tmp}/out
         |  - table: totals
         |    path: ${tmp}/out2
         |""".stripMargin)
    write("q1.sql",
      "SELECT event_type, COUNT(*) AS n INTO per_type FROM ev GROUP BY event_type")
    write("q2.sql", "SELECT COUNT(*) AS n INTO totals FROM ev")

    val config = GraftConfigLoader.fromPaths(
      Seq(s"$tmp/*-config.yaml", s"$tmp/q*.sql"),
      overrides = Seq("/sinks/1/path" -> s"$tmp/out2b"))
    assert(config.sources.map(_.name) == Seq("ev"))
    assert(config.sinks.map(_.table) == Seq("per_type", "totals"))
    assert(config.sinks(1).path == s"$tmp/out2b") // override replaced it
    assert(config.sql.contains(";")) // both .sql files joined

    runBatch(spark, config)
    assert(spark.read.parquet(s"$tmp/out").count() > 0)
    assert(spark.read.parquet(s"$tmp/out2b").count() == 1)

    // conflicting scalar keys are a loud error, not a silent override
    write("c-config.yaml", "app_name: other\n")
    val e = intercept[IllegalArgumentException] {
      GraftConfigLoader.fromPaths(Seq(s"$tmp/*-config.yaml"))
    }
    assert(e.getMessage.contains("cannot merge"))

    // an override pointer must address an existing node
    val e2 = intercept[IllegalArgumentException] {
      GraftConfigLoader.fromPaths(Seq(s"$tmp/a-config.yaml"),
        overrides = Seq("/nope/0" -> "1"))
    }
    assert(e2.getMessage.contains("missing node"))
  }

  test("dozer-compatible YAML (tagged object-store connections) loads") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_dozer_yaml").toString
    // the reference's config shape: connections with !LocalStorage tag,
    // sources referencing connection + table_name
    // (dozer-ingestion/benches/connectors.sample.yaml)
    val yaml =
      s"""app_name: dozer-compat
         |version: 1
         |connections:
         |  - config: !LocalStorage
         |      details:
         |        path: /root/testdata
         |      tables:
         |        - !Table
         |            name: events
         |            config: !Parquet
         |              path: sf0.001
         |              extension: .parquet
         |    name: store
         |sources:
         |  - name: ev
         |    connection: store
         |    table_name: events
         |sql: |
         |  SELECT event_type, COUNT(*) AS n INTO per_type FROM ev GROUP BY event_type;
         |sinks:
         |  - table_name: per_type
         |    path: $tmp/out
         |    mode: overwrite
         |""".stripMargin
    val config = GraftConfigLoader.fromYaml(yaml)
    assert(config.sources.head.path == "/root/testdata/sf0.001/events.parquet")
    runBatch(spark, config)
    val out = spark.read.parquet(s"$tmp/out")
    assert(out.columns.toSet == Set("event_type", "n") && out.count() > 0)
  }

  test("dozer !Webhook connection: HTTP ingest to sink through config alone") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_webhook_cfg").toString
    // reference shape: WebhookConfig{port, endpoints:[{path, verbs,
    // schema: !Inline json}]} (ingestion_types.rs:560-588); the inline
    // json is the webhook connector's table->schema map (util.rs:16-29)
    val yaml =
      s"""app_name: webhook-app
         |version: 1
         |connections:
         |  - config: !Webhook
         |      port: 0
         |      endpoints:
         |        - path: /users
         |          verbs: [POST]
         |          schema: '{"users": {"schema": {"fields": [
         |            {"name": "uid", "typ": "Int", "nullable": false},
         |            {"name": "score", "typ": "Float", "nullable": true}]}}}'
         |    name: hooks
         |sources:
         |  - name: users
         |    connection: hooks
         |    table_name: users
         |sql: |
         |  SELECT uid, score INTO kept FROM users WHERE score >= 0.5;
         |sinks:
         |  - table_name: kept
         |    path: $tmp/out
         |    checkpoint: $tmp/ckpt
         |streaming: true
         |""".stripMargin
    val config = GraftConfigLoader.fromYaml(yaml)
    assert(config.webhooks.map(_.endpoints) == Seq(Map("/users" -> "hooks_users")))
    val src = config.sources.head
    assert(src.decode.contains("webhook") &&
      src.options("channel") == "hooks_users")
    assert(src.schema.get.fieldNames.toSeq == Seq("uid", "score"))
    graft.sources.PushBuffer.clear("hooks_users")
    val hooks = GraftApp.startWebhooks(config)
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      def post(body: String) = http.send(
        java.net.http.HttpRequest
          .newBuilder(java.net.URI.create(
            s"http://127.0.0.1:${hooks.head.port}/users"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(post("""[{"uid":1,"score":0.9},{"uid":2,"score":0.1}]""")
        .statusCode() == 200)
      assert(post("""{"uid":3,"score":0.7}""").statusCode() == 200)
      val queries = runStreaming(spark, config)
      try queries.foreach(_.awaitTermination())
      finally queries.foreach(_.stop())
      val out = spark.read.parquet(s"$tmp/out")
        .select("uid").collect().map(_.getLong(0)).sorted.toSeq
      assert(out == Seq(1L, 3L), "score gate keeps uid 1 and 3 only")
    } finally hooks.foreach(_.stop())
  }

  test("kafka segment source: native config decodes dumped log segments") {
    import graft.cdc.KafkaBatch.Encode
    val tmp = java.nio.file.Files.createTempDirectory("graft_kafkacfg")
    java.nio.file.Files.write(tmp.resolve("00000000.log"), Encode.segment(Seq(
      Encode.batch(0L, 1000L, Seq(
        (1000L, "1", """{"k":1,"v":"keep"}"""),
        (1001L, "2", """{"k":2,"v":"drop"}"""),
        (1002L, "3", """{"k":3,"v":"keep"}"""))))))
    val out = java.nio.file.Files.createTempDirectory("graft_kafkaout").toString
    val config = GraftConfigLoader.fromYaml(
      s"""sources:
         |  - name: topic
         |    path: $tmp
         |    decode: kafka_segments
         |sql: |
         |  SELECT _seq, get_json_object(value, '$$.k') AS k INTO kept
         |  FROM topic WHERE get_json_object(value, '$$.v') = 'keep';
         |sinks:
         |  - table: kept
         |    path: $out/kept
         |""".stripMargin)
    GraftApp.runBatch(spark, config)
    val got = spark.read.parquet(s"$out/kept")
      .select("k").collect().map(_.getString(0)).sorted.toSeq
    assert(got == Seq("1", "3"))
  }

  test("arrow source: native config decodes IPC frames from a push channel") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("graft_arrowcfg").toString
    val chan = "arrow_cfg_spec"
    graft.sources.PushBuffer.clear(chan)
    val rowSchema = StructType(Seq(
      StructField("k", LongType), StructField("v", DoubleType)))
    graft.sources.ArrowIngest.ingest(chan, "measures",
      graft.sources.ArrowIngest.encodePartition(
        Seq(Row(1L, 0.25), Row(2L, 0.75), Row(3L, 0.5)).iterator,
        rowSchema, 1024))
    val config = GraftConfigLoader.fromYaml(
      s"""sources:
         |  - name: measures
         |    path: ""
         |    decode: arrow
         |    schema: "k BIGINT, v DOUBLE"
         |    options:
         |      channel: $chan
         |      schema_name: measures
         |sql: |
         |  SELECT k, v INTO big FROM measures WHERE v >= 0.5;
         |sinks:
         |  - table: big
         |    path: $tmp/out
         |""".stripMargin)
    GraftApp.runBatch(spark, config)
    val out = spark.read.parquet(s"$tmp/out")
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(2L, 3L))
  }

  test("non-object-store dozer connections raise the documented mapping") {
    val yaml =
      """connections:
        |  - config: !Postgres
        |      user: u
        |      password: p
        |      host: h
        |      port: 5432
        |      database: d
        |    name: pg
        |sources:
        |  - name: t
        |    connection: pg
        |    table_name: t
        |sql: |
        |  SELECT 1 INTO x FROM t;
        |sinks: []
        |""".stripMargin
    val e = intercept[IllegalArgumentException](GraftConfigLoader.fromYaml(yaml))
    assert(e.getMessage.contains("SURVEY"))
  }

  test("config-declared SQL UDFs register and run in pipeline SQL") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_udf").toString
    val yaml =
      s"""sources:
         |  - name: ev
         |    path: /root/testdata/sf0.001/events.parquet
         |udfs:
         |  - name: taxed
         |    params: v DOUBLE, rate DOUBLE
         |    returns: DOUBLE
         |    expression: v * (1.0 + rate)
         |sql: |
         |  SELECT event_type, SUM(taxed(value, 0.1)) AS total INTO out1 FROM ev GROUP BY event_type;
         |sinks:
         |  - table: out1
         |    path: $tmp/out
         |    mode: overwrite
         |""".stripMargin
    val config = GraftConfigLoader.fromYaml(yaml)
    assert(config.udfs.map(_.name) == Seq("taxed"))
    GraftApp.runBatch(spark, config)
    val out = spark.read.parquet(s"$tmp/out")
    assert(out.columns.toSet == Set("event_type", "total") && out.count() > 0)
    // the SQL-function registration really is the declared expression
    val direct = spark.sql("SELECT taxed(100.0D, 0.1D)").collect()(0).getDouble(0)
    assert(math.abs(direct - 110.0) < 1e-9)
  }

  test("sink `buckets:` parses into the bucketed-upsert scale path") {
    val yaml =
      """sources:
        |  - name: ev
        |    path: /root/testdata/sf0.001/events.parquet
        |sql: SELECT user_id INTO o FROM ev;
        |sinks:
        |  - table: o
        |    path: /tmp/x
        |    mode: upsert
        |    keys: [user_id]
        |    buckets: 128
        |""".stripMargin
    val config = GraftConfigLoader.fromYaml(yaml)
    assert(config.sinks.head.buckets.contains(128))
    assert(config.sinks.head.keys == Seq("user_id"))
    // invalid bucket counts fail at load time, not deep in a microbatch
    Seq("0", "-4", "many").foreach { bad =>
      val e = intercept[IllegalArgumentException](
        GraftConfigLoader.fromYaml(yaml.replace("buckets: 128", s"buckets: $bad")))
      assert(e.getMessage.contains("buckets"))
    }
  }

  test("batch upsert with buckets writes the bucketed snapshot layout") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bbuck").toString
    val yaml =
      s"""sources:
         |  - name: ev
         |    path: /root/testdata/sf0.001/events.parquet
         |sql: |
         |  SELECT user_id, MAX(event_id) AS last_event INTO o FROM ev GROUP BY user_id;
         |sinks:
         |  - table: o
         |    path: $tmp/state
         |    mode: upsert
         |    keys: [user_id]
         |    buckets: 4
         |""".stripMargin
    GraftApp.runBatch(spark, GraftConfigLoader.fromYaml(yaml))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val bucketDirs = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$tmp/state"))
      .map(_.getPath.getName).filter(_.startsWith("_bucket="))
    assert(bucketDirs.nonEmpty && bucketDirs.length <= 4)
    val out = spark.read.parquet(s"$tmp/state")
    assert(out.columns.contains("_bucket") && out.count() > 0)
  }

  test("config-declared ONNX UDF loads the model file and runs in pipeline SQL") {
    import graft.functions.{OnnxMini, OnnxModels}
    val tmp = java.nio.file.Files.createTempDirectory("graft_onnx_cfg").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$tmp/clf.onnx"), OnnxModels.q85Bytes)
    val yaml =
      s"""sources:
         |  - name: emb
         |    path: /root/testdata/sf0.001/embeddings.parquet
         |udfs:
         |  - name: clf
         |    config: !Onnx
         |      path: $tmp/clf.onnx
         |sql: |
         |  SELECT vec_id, CAST(clf_vec(transform(embedding, x -> CAST(round(x * 8) AS FLOAT))) AS INT) AS label INTO out1 FROM emb;
         |sinks:
         |  - table: out1
         |    path: $tmp/out
         |    mode: overwrite
         |""".stripMargin
    val config = GraftConfigLoader.fromYaml(yaml)
    assert(config.udfs.head.onnxPath.contains(s"$tmp/clf.onnx"))
    GraftApp.runBatch(spark, config)
    val out = spark.read.parquet(s"$tmp/out")
    assert(out.count() > 0)
    val labels = out.select("label").collect().map(_.getInt(0))
    assert(labels.forall(l => l >= 0 && l < OnnxModels.Classes))
    assert(labels.distinct.length > 1) // the head actually discriminates
    // the registered function really is the declared model
    val m = OnnxMini.parse(OnnxModels.q85Bytes)
    val probe = Array.tabulate(OnnxModels.Dim)(i => ((i % 17) - 8).toFloat)
    val direct = spark.sql(
      s"SELECT clf_vec(array(${probe.map(v => s"CAST($v AS FLOAT)").mkString(",")}))")
      .head().getDouble(0)
    assert(direct == OnnxMini.scalar(m, probe))
  }

  test("config-declared JavaScript UDF loads the module file and runs in pipeline SQL") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_js_cfg").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$tmp/scorer.js"),
      """export default function (input) {
        |    return input * input;
        |}""".stripMargin.getBytes("UTF-8")) // dozer-deno square.js, verbatim
    val yaml =
      s"""sources:
         |  - name: docs
         |    path: /root/testdata/sf0.001/documents.parquet
         |udfs:
         |  - name: scorer
         |    config: !JavaScript
         |      module: $tmp/scorer.js
         |sql: |
         |  SELECT doc_id, CAST(scorer(n_chars) AS BIGINT) AS sq INTO out1 FROM docs;
         |sinks:
         |  - table: out1
         |    path: $tmp/out
         |    mode: overwrite
         |""".stripMargin
    val config = GraftConfigLoader.fromYaml(yaml)
    assert(config.udfs.head.jsModule.contains(s"$tmp/scorer.js"))
    GraftApp.runBatch(spark, config)
    val out = spark.read.parquet(s"$tmp/out")
    assert(out.count() > 0)
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect().toMap
    out.select($"doc_id", $"sq").as[(Long, Long)].collect().foreach {
      case (id, sq) => assert(sq == docs(id) * docs(id))
    }
  }

  test("config-declared JavaScript UDF with a multi-file module: the " +
      "entry imports a helper, bundled at registration (dozer-deno " +
      "ts_module_loader seam)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_js_mod").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$tmp/lib"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/lib/math.js"),
      """export const OFFSET = 7;
        |export function square(x) { return x * x; }""".stripMargin)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/scorer.js"),
      """import { square, OFFSET } from './lib/math.js';
        |export default function (input) {
        |    return square(input) + OFFSET;
        |}""".stripMargin)
    val yaml =
      s"""sources:
         |  - name: docs
         |    path: /root/testdata/sf0.001/documents.parquet
         |udfs:
         |  - name: scorer2
         |    config: !JavaScript
         |      module: $tmp/scorer.js
         |sql: |
         |  SELECT doc_id, CAST(scorer2(n_chars) AS BIGINT) AS sq INTO out1 FROM docs;
         |sinks:
         |  - table: out1
         |    path: $tmp/out
         |    mode: overwrite
         |""".stripMargin
    GraftApp.runBatch(spark, GraftConfigLoader.fromYaml(yaml))
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect().toMap
    val out = spark.read.parquet(s"$tmp/out")
      .select($"doc_id", $"sq").as[(Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (id, sq) => assert(sq == docs(id) * docs(id) + 7) }
  }

  test("config-declared TYPESCRIPT UDF: .ts entry imports a .ts helper, " +
      "transpiled by type erasure at registration (the reference " +
      "loader's swc seam)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ts_mod").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$tmp/lib"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/lib/math.ts"),
      """export interface Scored { base: number; }
        |export const OFFSET: number = 7;
        |export function square(x: number): number { return x * x; }""".stripMargin)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/scorer.ts"),
      """import { type Scored, square, OFFSET } from './lib/math.ts';
        |export default function (input: number): number {
        |    const s = { base: square(input) } as Scored;
        |    return s.base + OFFSET;
        |}""".stripMargin)
    val yaml =
      s"""sources:
         |  - name: docs
         |    path: /root/testdata/sf0.001/documents.parquet
         |udfs:
         |  - name: tscorer
         |    config: !JavaScript
         |      module: $tmp/scorer.ts
         |sql: |
         |  SELECT doc_id, CAST(tscorer(n_chars) AS BIGINT) AS sq INTO out1 FROM docs;
         |sinks:
         |  - table: out1
         |    path: $tmp/out
         |    mode: overwrite
         |""".stripMargin
    GraftApp.runBatch(spark, GraftConfigLoader.fromYaml(yaml))
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect().toMap
    val out = spark.read.parquet(s"$tmp/out")
      .select($"doc_id", $"sq").as[(Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (id, sq) => assert(sq == docs(id) * docs(id) + 7) }
  }

  test("JavaScript ingestion bootstrap may import helper modules " +
      "(bundled through the same loader)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_js_boot").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/rows.js"),
      """export default [
        |  { id: 1, name: "a" },
        |  { id: 2, name: "b" }
        |];""".stripMargin)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/boot.js"),
      """import rows from './rows.js';
        |for (const r of rows) {
        |  ingest({ typ: "Insert", new_val: r });
        |}
        |ingest({ typ: "SnapshottingDone" });""".stripMargin)
    val yaml =
      s"""sources:
         |  - name: js_src
         |    path: $tmp/boot.js
         |    decode: javascript
         |sql: SELECT value INTO outj FROM js_src;
         |sinks:
         |  - table: outj
         |    path: $tmp/out
         |    mode: overwrite
         |""".stripMargin
    GraftApp.runBatch(spark, GraftConfigLoader.fromYaml(yaml))
    import spark.implicits._
    val vals = spark.read.parquet(s"$tmp/out").as[String].collect().sorted
    assert(vals.length == 2)
    assert(vals(0).contains("\"id\":1") && vals(1).contains("\"id\":2"))
  }

  test("JavaScript UDF config with a bad module fails at load, not per-row") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_js_bad").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$tmp/bad.js"),
      "function noExport(x) { return x }".getBytes("UTF-8"))
    val yaml =
      s"""sources:
         |  - name: docs
         |    path: /root/testdata/sf0.001/documents.parquet
         |udfs:
         |  - name: bad
         |    config: !JavaScript
         |      module: $tmp/bad.js
         |sql: SELECT doc_id INTO x FROM docs;
         |sinks: []
         |""".stripMargin
    val e = intercept[Exception](
      GraftApp.runBatch(spark, GraftConfigLoader.fromYaml(yaml)))
    assert(e.getMessage.contains("default export"))
  }

  test("options: passthrough reaches the reader and the writer") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_opts").toString
    // a headered CSV only reads correctly if the reader options land
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/in.csv"), "k,v\n1,a\n2,b\n")
    val yaml =
      s"""sources:
         |  - name: t
         |    path: $tmp/in.csv
         |    format: csv
         |    options: {header: "true", inferSchema: "true"}
         |sql: SELECT k, v INTO o FROM t;
         |sinks:
         |  - table: o
         |    path: $tmp/out
         |    mode: overwrite
         |    options: {compression: gzip}
         |""".stripMargin
    GraftApp.runBatch(spark, GraftConfigLoader.fromYaml(yaml))
    val out = spark.read.parquet(s"$tmp/out")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(out == Set((1, "a"), (2, "b"))) // header consumed, types inferred
    // the writer option really reached the parquet writer
    val parts = new java.io.File(s"$tmp/out").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(parts.nonEmpty && parts.forall(_.contains(".gz.")))
  }

  test("delta format: config accepted, loud classpath probe, dozer shape maps") {
    // native shape: format: delta parses into source/sink confs
    val yaml =
      """sources:
        |  - name: ev
        |    path: /data/delta/events
        |    format: delta
        |sql: SELECT 1 AS one INTO o FROM ev;
        |sinks:
        |  - table: o
        |    path: /out/o
        |    mode: overwrite
        |    format: delta
        |""".stripMargin
    val config = GraftConfigLoader.fromYaml(yaml)
    assert(config.sources.head.format == "delta")
    assert(config.sinks.head.format == "delta")
    // dozer-compatible shape: a DeltaLake connection (tables with
    // path+name, no `details`) maps each table to a format=delta source
    val dozerYaml =
      """connections:
        |  - name: lake
        |    config: !DeltaLake
        |      tables:
        |        - path: /data/delta/orders_tbl
        |          name: orders
        |sources:
        |  - name: orders
        |    connection: lake
        |    table_name: orders
        |sql: SELECT 1 AS one INTO o FROM orders;
        |sinks: []
        |""".stripMargin
    val dz = GraftConfigLoader.fromYaml(dozerYaml)
    assert(dz.sources.head.format == "delta" &&
      dz.sources.head.path == "/data/delta/orders_tbl")
    // availability probe: this environment ships no delta-spark jars,
    // so build must fail with the actionable message BEFORE touching
    // data. (If a connector jar is ever added, the probe passes and
    // this assertion is skipped — the config itself is legal.)
    val deltaAvailable =
      try {
        org.apache.spark.sql.execution.datasources.DataSource
          .lookupDataSource("delta", spark.sessionState.conf)
        true
      } catch { case _: Exception => false }
    if (!deltaAvailable) {
      // round 11: delta SOURCES read natively (DeltaLite) — the bogus
      // path now fails as a data error, not a classpath error
      val e = intercept[IllegalArgumentException](
        GraftApp.build(spark, config))
      assert(e.getMessage.contains("_delta_log"), e.getMessage)
      // batch delta SINKS commit natively now — build passes on a
      // parquet source + delta sink config
      val sinkOnly = GraftConfigLoader.fromYaml(
        yaml.replace("format: delta\nsql:", "format: parquet\nsql:")
          .replace("path: /data/delta/events",
            "path: /root/testdata/sf0.001/region.parquet"))
      GraftApp.build(spark, sinkOnly)
      // delta UPSERT sinks commit natively too (copy-on-write MERGE) —
      // build passes; `buckets:` is the parquet layout knob and refuses
      GraftApp.build(spark, sinkOnly.copy(
        sinks = sinkOnly.sinks.map(_.copy(mode = "upsert",
          keys = Seq("one")))))
      val e2 = intercept[IllegalArgumentException](
        GraftApp.build(spark, sinkOnly.copy(
          sinks = sinkOnly.sinks.map(_.copy(mode = "upsert",
            keys = Seq("one"), buckets = Some(4))))))
      assert(e2.getMessage.contains("buckets"), e2.getMessage)
      // streaming delta source: batch-only native reader, loud
      val e3 = intercept[Exception](GraftApp.runStreaming(spark,
        GraftConfigLoader.fromYaml(
          """sources:
            |  - name: ev
            |    path: /data/delta/events
            |    format: delta
            |sql: SELECT 1 AS one INTO o FROM ev;
            |sinks:
            |  - table: o
            |    path: /tmp/x
            |""".stripMargin).copy(streaming = true)))
      assert(e3.getMessage.contains("batch snapshot") ||
        e3.getMessage.contains("delta"), e3.getMessage)
    }
  }

  test("a real Delta table (hand-crafted public-format log) reads " +
      "through config alone via the native snapshot reader") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("delta_cfg").toString
    val stage = t + "_stage"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val fsys = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fsys.listStatus(new org.apache.hadoop.fs.Path(stage))
      .map(_.getPath).find(_.getName.startsWith("part-")).get
    fsys.mkdirs(new org.apache.hadoop.fs.Path(t))
    assert(fsys.rename(part, new org.apache.hadoop.fs.Path(t, "d1.parquet")))
    val schemaJson = Seq((1L, "a")).toDF("k", "v").schema.json
      .replace("\\", "\\\\").replace("\"", "\\\"")
    val logDir = new org.apache.hadoop.fs.Path(t, "_delta_log")
    fsys.mkdirs(logDir)
    val out = fsys.create(
      new org.apache.hadoop.fs.Path(logDir, "0" * 20 + ".json"), true)
    out.write((Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{},"createdTime":1}}""",
      """{"add":{"path":"d1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""")
      .mkString("\n") + "\n").getBytes("UTF-8"))
    out.close()
    val tmp = java.nio.file.Files.createTempDirectory("delta_cfg_out").toString
    runBatch(spark, GraftConfigLoader.fromYaml(
      s"""sources:
         |  - name: dt
         |    path: $t
         |    format: delta
         |sql: SELECT k, v INTO o FROM dt WHERE k > 1;
         |sinks:
         |  - table: o
         |    path: $tmp/out
         |    mode: overwrite
         |""".stripMargin))
    val got = spark.read.parquet(s"$tmp/out").as[(Long, String)]
      .collect().toSet
    assert(got == Set((2L, "b"), (3L, "c")))
    // and the reverse direction: a DELTA SINK commits natively from
    // config alone, then reads back through the native reader
    val t2 = java.nio.file.Files.createTempDirectory("delta_sink").toString
    runBatch(spark, GraftConfigLoader.fromYaml(
      s"""sources:
         |  - name: dt
         |    path: $t
         |    format: delta
         |sql: SELECT k, v INTO o FROM dt;
         |sinks:
         |  - table: o
         |    path: $t2/tbl
         |    mode: overwrite
         |    format: delta
         |""".stripMargin))
    val back = graft.sources.DeltaLite.read(spark, s"$t2/tbl")
      .as[(Long, String)].collect().toSet
    assert(back == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // a second overwrite run advances the version and replaces state
    runBatch(spark, GraftConfigLoader.fromYaml(
      s"""sources:
         |  - name: dt
         |    path: $t
         |    format: delta
         |sql: SELECT k, v INTO o FROM dt WHERE k = 1;
         |sinks:
         |  - table: o
         |    path: $t2/tbl
         |    mode: overwrite
         |    format: delta
         |""".stripMargin))
    assert(graft.sources.DeltaLite.read(spark, s"$t2/tbl").count() == 1)
    assert(graft.sources.DeltaLite.snapshot(spark, s"$t2/tbl").version == 1L)
    // delta UPSERT sink: the second run's batch MERGEs by key instead
    // of replacing — copy-on-write commit from config alone
    val t3 = java.nio.file.Files.createTempDirectory("delta_up").toString
    def upCfg(sql: String) = GraftConfigLoader.fromYaml(
      s"""sources:
         |  - name: dt
         |    path: $t
         |    format: delta
         |sql: $sql;
         |sinks:
         |  - table: o
         |    path: $t3/tbl
         |    mode: upsert
         |    format: delta
         |    keys: [k]
         |""".stripMargin)
    runBatch(spark, upCfg("SELECT k, v INTO o FROM dt"))
    runBatch(spark,
      upCfg("SELECT k, upper(v) AS v INTO o FROM dt WHERE k >= 2"))
    assert(graft.sources.DeltaLite.read(spark, s"$t3/tbl")
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "B"), (3L, "C")))
  }

  test("iceberg sources and sinks run natively from config alone: " +
      "append/overwrite commits, merge-on-read upsert, snapshot source") {
    import graft.sources.IcebergLite
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("ice_cfg").toString
    // seed an iceberg table with the native writer
    IcebergLite.write(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), s"$base/src")
    // iceberg SOURCE → parquet sink
    val out1 = s"$base/out1"
    runBatch(spark, GraftConfigLoader.fromYaml(
      s"""sources:
         |  - name: it
         |    path: $base/src
         |    format: iceberg
         |sql: SELECT k, v INTO o FROM it WHERE k > 1;
         |sinks:
         |  - table: o
         |    path: $out1
         |    mode: overwrite
         |""".stripMargin))
    assert(spark.read.parquet(out1).as[(Long, String)].collect().toSet ==
      Set((2L, "b"), (3L, "c")))
    // iceberg SINK: overwrite commit, read back natively
    runBatch(spark, GraftConfigLoader.fromYaml(
      s"""sources:
         |  - name: it
         |    path: $base/src
         |    format: iceberg
         |sql: SELECT k, v INTO o FROM it;
         |sinks:
         |  - table: o
         |    path: $base/tbl
         |    mode: overwrite
         |    format: iceberg
         |""".stripMargin))
    assert(IcebergLite.read(spark, s"$base/tbl")
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // iceberg UPSERT sink: merge-on-read MERGE from config alone
    def upCfg(sql: String) = GraftConfigLoader.fromYaml(
      s"""sources:
         |  - name: it
         |    path: $base/src
         |    format: iceberg
         |sql: $sql;
         |sinks:
         |  - table: o
         |    path: $base/up
         |    mode: upsert
         |    format: iceberg
         |    keys: [k]
         |""".stripMargin)
    runBatch(spark, upCfg("SELECT k, v INTO o FROM it"))
    runBatch(spark,
      upCfg("SELECT k, upper(v) AS v INTO o FROM it WHERE k >= 2"))
    assert(IcebergLite.read(spark, s"$base/up")
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "B"), (3L, "C")))
    // partition_by on an iceberg sink = a real identity partition spec
    runBatch(spark, GraftConfigLoader.fromYaml(
      s"""sources:
         |  - name: it
         |    path: $base/src
         |    format: iceberg
         |sql: SELECT k, v INTO o FROM it;
         |sinks:
         |  - table: o
         |    path: $base/ptbl
         |    mode: overwrite
         |    format: iceberg
         |    partition_by: [v]
         |""".stripMargin))
    assert(IcebergLite.loadMeta(spark, s"$base/ptbl").partitionFields
      .map(f => (f.name, f.transform)) == Seq(("v", "identity")))
    assert(IcebergLite.read(spark, s"$base/ptbl").count() == 3)
    // the metadata tables are dialect table functions: audit the
    // upserted table's history + layout with plain config SQL
    runBatch(spark, GraftConfigLoader.fromYaml(
      s"""sources:
         |  - name: unused
         |    path: $base/src
         |    format: iceberg
         |sql: |
         |  SELECT operation, COUNT(*) AS n
         |  INTO hist FROM ICEBERG_SNAPSHOTS('$base/up') GROUP BY operation;
         |  SELECT content, SUM(record_count) AS rows
         |  INTO layout FROM ICEBERG_FILES('$base/up') GROUP BY content;
         |sinks:
         |  - table: hist
         |    path: $base/hist
         |    mode: overwrite
         |  - table: layout
         |    path: $base/layout
         |    mode: overwrite
         |""".stripMargin))
    val hist = spark.read.parquet(s"$base/hist")
      .as[(String, Long)].collect().toMap
    assert(hist.getOrElse("append", 0L) >= 1L &&
      hist.getOrElse("overwrite", 0L) >= 1L) // the upsert merge snapshot
    val layout = spark.read.parquet(s"$base/layout")
      .as[(String, Long)].collect().toMap
    assert(layout.contains("data") && layout.contains("position_deletes"))
    // streaming iceberg source refuses loudly (batch snapshot only)
    val err = intercept[Exception](GraftApp.runStreaming(spark,
      GraftConfigLoader.fromYaml(
        s"""streaming: true
           |sources:
           |  - name: it
           |    path: $base/src
           |    format: iceberg
           |sql: SELECT k, v INTO o FROM it;
           |sinks:
           |  - table: o
           |    path: $base/never
           |    mode: append
           |    checkpoint: $base/ckpt
           |""".stripMargin)))
    assert(err.getMessage.contains("iceberg") ||
      err.getMessage.contains("Iceberg"))
  }

  test("config-declared NATIVE lakehouse tail: format delta + " +
      "options.keys streams the version-offset CDC feed into a sink; " +
      "a second run consumes only new commits") {
    import graft.sources.DeltaLite
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_tail").toString
    DeltaLite.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      s"$base/tbl")
    val yaml =
      s"""streaming: true
         |sources:
         |  - name: feed
         |    path: $base/tbl
         |    format: delta
         |    options: {keys: k, starting_version: "0"}
         |sql: SELECT k, v, _op INTO o FROM feed;
         |sinks:
         |  - table: o
         |    path: $base/out
         |    mode: append
         |    checkpoint: $base/ckpt
         |""".stripMargin
    def drain(): Unit = {
      val qs = runStreaming(spark, GraftConfigLoader.fromYaml(yaml))
      try qs.foreach(_.awaitTermination())
      finally qs.foreach(_.stop())
    }
    drain()
    assert(spark.read.parquet(s"$base/out")
      .as[(Long, String, String)].collect().toSet ==
      Set((1L, "a", "insert"), (2L, "b", "insert")))
    DeltaLite.upsert(spark, Seq((2L, "B2")).toDF("k", "v"),
      s"$base/tbl", Seq("k"))
    drain()
    assert(spark.read.parquet(s"$base/out")
      .as[(Long, String, String)].collect().toSet ==
      Set((1L, "a", "insert"), (2L, "b", "insert"),
        (2L, "B2", "update_postimage")))
  }

  test("maintenance: config grooms tables after batch sinks — iceberg " +
      "compact + expire_snapshots, delta compact/checkpoint/cleanup_logs/" +
      "vacuum; streaming refuses") {
    import graft.sources.{DeltaLite, IcebergLite}
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_maint").toString
    // iceberg: many tiny commits + history, delta: an overwritten file
    (1L to 4L).foreach(i => IcebergLite.write(spark,
      Seq((i, s"v$i")).toDF("k", "v").coalesce(1), s"$base/ice"))
    DeltaLite.write(spark, Seq((1L, "a")).toDF("k", "v"), s"$base/dl")
    DeltaLite.write(spark, Seq((2L, "b")).toDF("k", "v"), s"$base/dl",
      mode = "overwrite")
    val yaml =
      s"""sources:
         |  - name: it
         |    path: $base/ice
         |    format: iceberg
         |sql: SELECT k, v INTO o FROM it;
         |sinks:
         |  - table: o
         |    path: $base/out
         |    mode: overwrite
         |maintenance:
         |  - path: $base/ice
         |    format: iceberg
         |    compact: {small_file_bytes: 67108864}
         |    expire_snapshots: {keep_last: 1}
         |  - path: $base/dl
         |    format: delta
         |    compact: true
         |    checkpoint: true
         |    cleanup_logs: true
         |    vacuum: true
         |""".stripMargin
    GraftApp.runBatch(spark, GraftConfigLoader.fromYaml(yaml))
    val st = IcebergLite.snapshotState(spark, s"$base/ice")
    assert(st.dataFiles.size == 1, "compact must binpack the tiny commits")
    assert(IcebergLite.loadMeta(spark, s"$base/ice").snapshots.size == 1)
    assert(IcebergLite.read(spark, s"$base/ice").count() == 4)
    assert(DeltaLite.read(spark, s"$base/dl").count() == 1)
    // the overwritten delta file is physically gone
    val leftovers = new java.io.File(s"$base/dl").listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(leftovers == 1)
    // checkpoint + cleanup_logs: the covered commits are gone, the
    // checkpoint-seeded state still reads
    val logJsons = new java.io.File(s"$base/dl/_delta_log").listFiles()
      .count(_.getName.endsWith(".json"))
    assert(logJsons == 0, s"cleanup_logs left $logJsons commits")
    assert(DeltaLite.snapshot(spark, s"$base/dl").version >= 1L)
    // streaming configs refuse maintenance loudly
    val err = intercept[IllegalArgumentException](GraftApp.runStreaming(spark,
      GraftConfigLoader.fromYaml(
        s"""streaming: true
           |sources:
           |  - name: s1
           |    path: $base/out
           |sql: SELECT k INTO o2 FROM s1;
           |sinks:
           |  - table: o2
           |    path: $base/never
           |    mode: append
           |    checkpoint: $base/ck
           |maintenance:
           |  - path: $base/dl
           |    format: delta
           |    vacuum: true
           |""".stripMargin)))
    assert(err.getMessage.contains("BATCH"))
  }

  test("maintenance uniform_sync: the config step registers a UniForm " +
      "delta table as an iceberg snapshot; iceberg entries refuse it") {
    import graft.sources.{DeltaLite, IcebergLite}
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_unisync")
      .toString
    DeltaLite.write(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), s"$base/dl")
    DeltaLite.enableColumnMapping(spark, s"$base/dl")
    DeltaLite.setTableProperties(spark, s"$base/dl",
      Map("delta.enableIcebergCompatV2" -> "true"))
    val yaml =
      s"""sources:
         |  - name: d
         |    path: $base/dl
         |    format: delta
         |sql: SELECT k, v INTO o FROM d;
         |sinks:
         |  - table: o
         |    path: $base/out
         |    mode: overwrite
         |maintenance:
         |  - path: $base/dl
         |    format: delta
         |    uniform_sync: true
         |""".stripMargin
    GraftApp.runBatch(spark, GraftConfigLoader.fromYaml(yaml))
    // the delta table is now readable AS ICEBERG — same rows, no copy
    assert(IcebergLite.read(spark, s"$base/dl")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b")))
    // uniform_sync under format: iceberg refuses at config load (it is
    // the delta-side conversion)
    val err = intercept[IllegalArgumentException](
      GraftConfigLoader.fromYaml(
        s"""sources:
           |  - name: d
           |    path: $base/dl
           |    format: delta
           |sql: SELECT k INTO o2 FROM d;
           |sinks:
           |  - table: o2
           |    path: $base/never2
           |    mode: overwrite
           |maintenance:
           |  - path: $base/dl
           |    format: iceberg
           |    uniform_sync: true
           |""".stripMargin))
    assert(err.getMessage.contains("uniform_sync"))
    // add_files migration through config: a plain hive-partitioned
    // parquet dir becomes an iceberg table in place
    Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("k", "p")
      .write.partitionBy("p").parquet(s"$base/plain")
    GraftApp.runBatch(spark, GraftConfigLoader.fromYaml(
      s"""sources:
         |  - name: d2
         |    path: $base/out
         |sql: SELECT k INTO o3 FROM d2;
         |sinks:
         |  - table: o3
         |    path: $base/out3
         |    mode: overwrite
         |maintenance:
         |  - path: $base/plain
         |    format: iceberg
         |    add_files: {data_dir: $base/plain}
         |""".stripMargin))
    assert(IcebergLite.read(spark, s"$base/plain").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "a")))
    // convert_to_delta through config: the dir gains a _delta_log
    Seq((7L, "x"), (8L, "y")).toDF("k", "v")
      .write.parquet(s"$base/plaindl")
    GraftApp.runBatch(spark, GraftConfigLoader.fromYaml(
      s"""sources:
         |  - name: d3
         |    path: $base/out
         |sql: SELECT k INTO o4 FROM d3;
         |sinks:
         |  - table: o4
         |    path: $base/out4
         |    mode: overwrite
         |maintenance:
         |  - path: $base/plaindl
         |    format: delta
         |    convert_to_delta: true
         |""".stripMargin))
    assert(DeltaLite.read(spark, s"$base/plaindl")
      .select("k").collect().map(_.getLong(0)).toSet == Set(7L, 8L))
  }

  test("iceberg source options.ref: branch/tag time travel by name " +
      "through the config path") {
    import spark.implicits._
    import graft.sources.IcebergLite
    val tmp = java.nio.file.Files
      .createTempDirectory("graftapp_ref").toString
    val it = s"$tmp/itbl"
    val s1 = IcebergLite.write(spark, Seq((1L, "a")).toDF("k", "v"), it)
    // a foreign writer tagged the first snapshot
    val meta = IcebergLite.loadMeta(spark, it)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val mPath = new org.apache.hadoop.fs.Path(it,
      s"metadata/v${meta.version}.metadata.json")
    val mfs = mPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val node = { val in = mfs.open(mPath)
      try mapper.readTree(in.readAllBytes())
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      finally in.close() }
    node.set[com.fasterxml.jackson.databind.JsonNode]("refs",
      mapper.readTree(
        s"""{"main":{"snapshot-id":$s1,"type":"branch"},
          |"v1-tag":{"snapshot-id":$s1,"type":"tag"}}""".stripMargin))
    val out = mfs.create(mPath, true)
    try out.write(mapper.writeValueAsBytes(node)) finally out.close()
    IcebergLite.write(spark, Seq((2L, "b")).toDF("k", "v"), it)
    val cfg = GraftConfig(
      sources = Seq(SourceConf("t", it, format = "iceberg",
        options = Map("ref" -> "v1-tag"))),
      sql = "SELECT k, v INTO outp FROM t",
      sinks = Seq(SinkConf("outp", s"$tmp/out_r", mode = "overwrite")))
    runBatch(spark, cfg)
    assert(spark.read.parquet(s"$tmp/out_r")
      .as[(Long, String)].collect().toSet == Set((1L, "a")))
    // pins are mutually exclusive
    val ex = intercept[IllegalArgumentException](runBatch(spark,
      cfg.copy(sources = Seq(SourceConf("t", it, format = "iceberg",
        options = Map("ref" -> "v1-tag", "snapshot_id" -> s1.toString))))))
    assert(ex.getMessage.contains("mutually exclusive"), ex.getMessage)
  }

  test("maintenance set_properties: config-level ALTER TABLE SET " +
      "TBLPROPERTIES enables CDF + a CHECK constraint post-creation") {
    import graft.sources.DeltaLite
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_setprops").toString
    DeltaLite.write(spark, Seq((1L, 10L)).toDF("k", "v"), s"$base/dl")
    Seq((2L, 20L)).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$base/src")
    val yaml =
      s"""sources:
         |  - name: t
         |    path: $base/src
         |sql: SELECT k, v INTO o FROM t;
         |sinks:
         |  - table: o
         |    path: $base/out
         |    mode: overwrite
         |maintenance:
         |  - path: $base/dl
         |    format: delta
         |    set_properties:
         |      delta.enableChangeDataFeed: "true"
         |      delta.constraints.vpos: "v > 0"
         |""".stripMargin
    GraftApp.runBatch(spark, GraftConfigLoader.fromYaml(yaml))
    val snap = DeltaLite.snapshot(spark, s"$base/dl")
    assert(snap.configuration.get("delta.enableChangeDataFeed")
      .contains("true"))
    assert(snap.configuration.get("delta.constraints.vpos")
      .contains("v > 0"))
    assert(snap.protocol.forall(_.minWriterVersion >= 4))
    // both properties are LIVE: violating appends refuse, mutations
    // write exact cdc files
    val e = intercept[IllegalArgumentException](DeltaLite.write(spark,
      Seq((3L, -1L)).toDF("k", "v"), s"$base/dl"))
    assert(e.getMessage.contains("vpos"), e.getMessage)
    DeltaLite.deleteWhere(spark, s"$base/dl",
      org.apache.spark.sql.functions.col("k") === 1L)
    assert(new java.io.File(s"$base/dl/_change_data").exists())
  }

  test("maintenance restore / rollback_to_snapshot: config-level table " +
      "time-travel mutation for both lake formats") {
    import graft.sources.{DeltaLite, IcebergLite}
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_restore").toString
    DeltaLite.write(spark, Seq((1L, 10L)).toDF("k", "v"), s"$base/dl")
    DeltaLite.write(spark, Seq((2L, 20L)).toDF("k", "v"), s"$base/dl")
    val s1 = IcebergLite.write(spark, Seq((1L, 10L)).toDF("k", "v"),
      s"$base/ice")
    IcebergLite.write(spark, Seq((2L, 20L)).toDF("k", "v"), s"$base/ice")
    Seq((9L, 90L)).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$base/src")
    val yaml =
      s"""sources:
         |  - name: t
         |    path: $base/src
         |sql: SELECT k, v INTO o FROM t;
         |sinks:
         |  - table: o
         |    path: $base/out
         |    mode: overwrite
         |maintenance:
         |  - path: $base/dl
         |    format: delta
         |    restore:
         |      version: 0
         |  - path: $base/dl_clone
         |    format: delta
         |    clone:
         |      source: $base/dl
         |      version: 1
         |  - path: $base/ice
         |    format: iceberg
         |    rollback_to_snapshot: $s1
         |""".stripMargin
    GraftApp.runBatch(spark, GraftConfigLoader.fromYaml(yaml))
    assert(DeltaLite.read(spark, s"$base/dl")
      .select("k").as[Long].collect().toSeq == Seq(1L))
    assert(IcebergLite.read(spark, s"$base/ice")
      .select("k").as[Long].collect().toSeq == Seq(1L))
    // history preserved on both sides
    assert(DeltaLite.snapshot(spark, s"$base/dl").version == 2L)
    assert(IcebergLite.loadMeta(spark, s"$base/ice").snapshots.size == 2)
    // the config-level clone referenced the PRE-restore version 1
    assert(DeltaLite.read(spark, s"$base/dl_clone")
      .select("k").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("iceberg sink options write_format + to_branch: ORC data files " +
      "from config, and a branch-staged write published by config-level " +
      "rollback of the branch head") {
    import graft.sources.IcebergLite
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_sinkfmt").toString
    Seq((1L, 10L)).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$base/src")
    val mk = (opts: String) =>
      s"""sources:
         |  - name: t
         |    path: $base/src
         |sql: SELECT k, v INTO o FROM t;
         |sinks:
         |  - table: o
         |    path: $base/ice
         |    mode: append
         |    format: iceberg
         |$opts""".stripMargin
    // creation write through config picks ORC and stamps the default
    GraftApp.runBatch(spark, GraftConfigLoader.fromYaml(mk(
      """    options:
        |      write_format: orc
        |""".stripMargin)))
    assert(IcebergLite.tableProperties(IcebergLite.loadMeta(spark,
      s"$base/ice")).get("write.format.default").contains("orc"))
    import org.apache.spark.sql.functions.col
    assert(IcebergLite.filesDf(spark, s"$base/ice")
      .filter(col("content") === "data")
      .select("file_format").as[String].collect().toSet == Set("ORC"))
    // stage a second batch onto a branch; the table stays put until a
    // config-level rollback of the branch head publishes it
    IcebergLite.createRef(spark, s"$base/ice", "audit", "branch")
    Seq((2L, 20L)).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$base/src")
    GraftApp.runBatch(spark, GraftConfigLoader.fromYaml(mk(
      """    options:
        |      to_branch: audit
        |""".stripMargin)))
    assert(IcebergLite.read(spark, s"$base/ice")
      .select("k").as[Long].collect().toSeq == Seq(1L))
    val head = IcebergLite.snapshotForRef(spark, s"$base/ice", "audit")
    val publish =
      s"""sources:
         |  - name: t
         |    path: $base/src
         |sql: SELECT k, v INTO o FROM t;
         |sinks:
         |  - table: o
         |    path: $base/out
         |    mode: overwrite
         |maintenance:
         |  - path: $base/ice
         |    format: iceberg
         |    rollback_to_snapshot: $head
         |""".stripMargin
    GraftApp.runBatch(spark, GraftConfigLoader.fromYaml(publish))
    assert(IcebergLite.read(spark, s"$base/ice")
      .select("k").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("dozer !Kafka connection honors isolation_level: read_committed " +
      "— aborted transactions never reach the sink") {
    import graft.cdc.KafkaBatch.Encode
    val tmp = java.nio.file.Files.createTempDirectory("graft_kafka_rc").toString
    val broker = new TestKafkaBroker("rc_topic")
    broker.append(Encode.batchBytes(0L, 1700000000000L,
      Seq((1700000000000L, "a".getBytes, """{"n":1}""".getBytes)),
      producerId = 5L, transactional = true))
    broker.append(Encode.controlBatch(1L, 1700000000001L, 5L, commit = false))
    broker.append(Encode.batch(2L, 1700000000002L,
      Seq((1700000000002L, "b", """{"n":2}"""))))
    try {
      val yaml =
        s"""connections:
           |  - config: !Kafka
           |      broker: ${broker.broker}
           |      isolation_level: read_committed
           |    name: k
           |sources:
           |  - name: events
           |    connection: k
           |    table_name: rc_topic
           |sql: |
           |  SELECT key, message INTO live FROM events WHERE _op = 'insert';
           |sinks:
           |  - table_name: live
           |    path: $tmp/out
           |    checkpoint: $tmp/ckpt
           |streaming: true
           |""".stripMargin
      val queries = runStreaming(spark, GraftConfigLoader.fromYaml(yaml))
      try queries.foreach(_.awaitTermination())
      finally queries.foreach(_.stop())
      val keys = spark.read.parquet(s"$tmp/out")
        .select("key").collect().map(_.getString(0)).toSeq
      assert(keys == Seq("b"), s"aborted record leaked: $keys")
    } finally broker.close()
  }

  test("dozer !Grpc connection: gRPC-over-HTTP/2 ingest to sink through " +
      "config alone (typed default adapter)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_grpc_cfg").toString
    // reference shape: GrpcConfig{host, port, schemas: !Inline json,
    // adapter} (ingestion_types.rs:65-76); schemas is the same
    // SourceSchema map the webhook connector uses
    val yaml =
      s"""app_name: grpc-app
         |version: 1
         |connections:
         |  - config: !Grpc
         |      port: 0
         |      adapter: default
         |      schemas: '{"trades": {"schema": {"fields": [
         |        {"name": "tid", "typ": "Int", "nullable": false},
         |        {"name": "px", "typ": "Float", "nullable": true}]}}}'
         |    name: feed
         |sources:
         |  - name: trades
         |    connection: feed
         |    table_name: trades
         |sql: |
         |  SELECT tid, px INTO kept FROM trades WHERE px >= 10.0;
         |sinks:
         |  - table_name: kept
         |    path: $tmp/out
         |    checkpoint: $tmp/ckpt
         |streaming: true
         |""".stripMargin
    val config = GraftConfigLoader.fromYaml(yaml)
    val src = config.sources.head
    assert(src.decode.contains("grpc") &&
      src.options("channel") == "feed_trades" &&
      src.options("schema_name") == "trades")
    assert(src.schema.get.fieldNames.toSeq == Seq("tid", "px"))
    graft.sources.PushBuffer.clear("feed_trades")
    val servers = GraftApp.startGrpcServers(config)
    try {
      import graft.sources.GrpcIngest.Pbuf
      val client = new graft.sources.GrpcClient("127.0.0.1", servers.head.port)
      try {
        def req(tid: Long, px: Double, seq: Long) = {
          val w = new Pbuf.Writer().str(1, "trades").int(2, 0L)
          w.embedded(4, new Pbuf.Writer().int(3, tid))
          w.embedded(4, new Pbuf.Writer()
            .fixed64(5, java.lang.Double.doubleToLongBits(px)))
          w.int(5, seq).result
        }
        val (hdrs, _) = client.call("/dozer.ingest.IngestService/ingest_stream",
          Seq(req(1L, 12.5, 1L), req(2L, 5.0, 2L), req(3L, 99.0, 3L)))
        assert(hdrs("grpc-status") == "0", hdrs)
      } finally client.close()
      val queries = runStreaming(spark, config)
      try queries.foreach(_.awaitTermination())
      finally queries.foreach(_.stop())
      val out = spark.read.parquet(s"$tmp/out")
        .select("tid").collect().map(_.getLong(0)).sorted.toSeq
      assert(out == Seq(1L, 3L), "px gate keeps tid 1 and 3 only")
    } finally servers.foreach(_.stop())
  }

  test("dozer !Grpc connection with adapter: arrow — IPC frames over the " +
      "real wire to a sink through config alone") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_grpc_arrow").toString
    val yaml =
      s"""app_name: grpc-arrow-app
         |version: 1
         |connections:
         |  - config: !Grpc
         |      port: 0
         |      adapter: arrow
         |      schemas: '{"metrics": {"schema": {"fields": [
         |        {"name": "mid", "typ": "Int", "nullable": false},
         |        {"name": "val", "typ": "Float", "nullable": true}]}}}'
         |    name: feed
         |sources:
         |  - name: metrics
         |    connection: feed
         |    table_name: metrics
         |sql: |
         |  SELECT mid, val INTO kept FROM metrics WHERE val > 1.0;
         |sinks:
         |  - table_name: kept
         |    path: $tmp/out
         |    checkpoint: $tmp/ckpt
         |streaming: true
         |""".stripMargin
    val config = GraftConfigLoader.fromYaml(yaml)
    val src = config.sources.head
    assert(src.decode.contains("arrow") &&
      src.options("channel") == "feed_metrics")
    graft.sources.PushBuffer.clear("feed_metrics")
    val servers = GraftApp.startGrpcServers(config)
    try {
      import graft.sources.GrpcIngest.Pbuf
      val rowSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("mid",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("val",
          org.apache.spark.sql.types.DoubleType)))
      val frame = graft.sources.ArrowIngest.encodePartition(Seq(
        org.apache.spark.sql.Row(1L, 0.5),
        org.apache.spark.sql.Row(2L, 2.5),
        org.apache.spark.sql.Row(3L, 9.0)).iterator, rowSchema, 1024)
      val client = new graft.sources.GrpcClient("127.0.0.1", servers.head.port)
      try {
        val req = new Pbuf.Writer().str(1, "metrics").bytes(2, frame)
          .int(3, 1L).result
        val (h, _) = client.call("/dozer.ingest.IngestService/ingest_arrow",
          Seq(req))
        assert(h("grpc-status") == "0", h)
      } finally client.close()
      val queries = runStreaming(spark, config)
      try queries.foreach(_.awaitTermination())
      finally queries.foreach(_.stop())
      val out = spark.read.parquet(s"$tmp/out")
        .select("mid").collect().map(_.getLong(0)).sorted.toSeq
      assert(out == Seq(2L, 3L), "val gate keeps mid 2 and 3 only")
    } finally servers.foreach(_.stop())
  }

  test("dozer !Kafka connection (no registry): native-client drain to " +
      "sink through config alone — fixed (key, message) table") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_kafka_cfg").toString
    val broker = new TestKafkaBroker("events_topic")
    def batch(base: Long, recs: Seq[(String, String)]) =
      graft.cdc.KafkaBatch.Encode.batch(base, 1700000000000L,
        recs.map { case (k, v) => (1700000000000L, k, v) })
    broker.append(batch(0L, Seq(("a", """{"n":1}"""), ("b", """{"n":2}"""))))
    broker.append(batch(2L, Seq(("c", null)))) // tombstone
    try {
      val yaml =
        s"""app_name: kafka-app
           |version: 1
           |connections:
           |  - config: !Kafka
           |      broker: ${broker.broker}
           |    name: k
           |sources:
           |  - name: events
           |    connection: k
           |    table_name: events_topic
           |sql: |
           |  SELECT key, message INTO live FROM events WHERE _op = 'insert';
           |sinks:
           |  - table_name: live
           |    path: $tmp/out
           |    mode: overwrite
           |""".stripMargin
      val config = GraftConfigLoader.fromYaml(yaml)
      val src = config.sources.head
      assert(src.decode.contains("kafka_plain") &&
        src.options("topic") == "events_topic" &&
        src.options("broker") == broker.broker)
      runBatch(spark, config)
      val out = spark.read.parquet(s"$tmp/out")
        .select("key", "message").collect()
        .map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq
      assert(out == Seq(("a", """{"n":1}"""), ("b", """{"n":2}""")))
    } finally broker.close()
  }

  test("dozer !Kafka connection over TLS: the tls/truststore config " +
      "keys reach the native source and the drain runs encrypted") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_kafka_tls").toString
    val cluster = new TestKafkaCluster("sec_topic", tls = true)
    cluster.append(graft.cdc.KafkaBatch.Encode.batch(0L, 1700000000000L,
      Seq((1700000000000L, "a", """{"n":1}"""),
        (1700000000001L, "b", """{"n":2}"""))))
    try {
      val yaml =
        s"""app_name: kafka-tls-app
           |version: 1
           |connections:
           |  - config: !Kafka
           |      broker: ${cluster.bootstrap}
           |      tls: true
           |      truststore: ${TestTls.truststorePath}
           |      truststore_password: ${TestTls.password}
           |    name: k
           |sources:
           |  - name: events
           |    connection: k
           |    table_name: sec_topic
           |sql: |
           |  SELECT key, message INTO live FROM events WHERE _op = 'insert';
           |sinks:
           |  - table_name: live
           |    path: $tmp/out
           |    mode: overwrite
           |""".stripMargin
      val config = GraftConfigLoader.fromYaml(yaml)
      val src = config.sources.head
      assert(src.options("tls") == "true" &&
        src.options("truststore") == TestTls.truststorePath)
      runBatch(spark, config)
      val out = spark.read.parquet(s"$tmp/out")
        .select("key", "message").collect()
        .map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq
      assert(out == Seq(("a", """{"n":1}"""), ("b", """{"n":2}""")))
    } finally cluster.close()
  }

  test("dozer !Kafka connection STREAMING over TLS + SASL/SCRAM: " +
      "checkpointed micro-batches from config alone, restart resumes " +
      "exactly-once") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_kafka_str").toString
    val cluster = new TestKafkaCluster("sec_stream", tls = true,
      scramUser = Some(("svc", "pw1")), requireSasl = true)
    def append(base: Long, recs: (String, String)*): Unit =
      cluster.append(graft.cdc.KafkaBatch.Encode.batch(base, 1700000000000L,
        recs.map { case (k, v) => (1700000000000L, k, v) }))
    append(0L, ("a", """{"n":1}"""), ("b", """{"n":2}"""))
    try {
      val yaml =
        s"""app_name: kafka-sec-stream
           |version: 1
           |connections:
           |  - config: !Kafka
           |      broker: ${cluster.bootstrap}
           |      tls: true
           |      truststore: ${TestTls.truststorePath}
           |      truststore_password: ${TestTls.password}
           |      sasl: scram-sha-256
           |      sasl_username: svc
           |      sasl_password: pw1
           |    name: k
           |sources:
           |  - name: events
           |    connection: k
           |    table_name: sec_stream
           |sql: |
           |  SELECT key, message INTO live FROM events WHERE _op = 'insert';
           |sinks:
           |  - table_name: live
           |    path: $tmp/out
           |    checkpoint: $tmp/ckpt
           |streaming: true
           |""".stripMargin
      val config = GraftConfigLoader.fromYaml(yaml)
      def runOnce(): Unit = {
        val queries = runStreaming(spark, config)
        try queries.foreach(_.awaitTermination())
        finally queries.foreach(_.stop())
      }
      runOnce()
      def keys() = spark.read.parquet(s"$tmp/out")
        .select("key").collect().map(_.getString(0)).sorted.toSeq
      assert(keys() == Seq("a", "b"))
      // data lands while no query runs; the restart resumes from the
      // checkpointed Kafka offsets over the same secured transport
      append(2L, ("c", """{"n":3}"""))
      runOnce()
      assert(keys() == Seq("a", "b", "c"))
    } finally cluster.close()
  }

  test("dozer !Kafka connection WITH schema_registry_url: Connect-JSON " +
      "in-band typed decode through config alone") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_kafka_sr").toString
    val broker = new TestKafkaBroker("orders_cdc")
    val valueSchema =
      """{"type":"struct","fields":[
        |{"type":"struct","field":"before","optional":true},
        |{"type":"struct","field":"after","optional":true,"fields":[
        |{"type":"int64","field":"id","optional":false},
        |{"type":"string","field":"v","optional":true}]}]}"""
        .stripMargin.replace("\n", "")
    val keySchema =
      """{"type":"struct","fields":[{"type":"int64","field":"id"}]}"""
    def key(id: Long) = s"""{"schema":$keySchema,"payload":{"id":$id}}"""
    def msg(p: String) = s"""{"schema":$valueSchema,"payload":$p}"""
    broker.append(graft.cdc.KafkaBatch.Encode.batch(0L, 1700000000000L, Seq(
      (1700000000000L, key(1),
        msg("""{"op":"r","after":{"id":1,"v":"x"}}""")),
      (1700000000001L, key(2),
        msg("""{"op":"r","after":{"id":2,"v":"y"}}""")),
      (1700000000002L, key(2),
        msg("""{"op":"d","before":{"id":2,"v":"y"}}""")))))
    try {
      val yaml =
        s"""app_name: kafka-sr-app
           |version: 1
           |connections:
           |  - config: !Kafka
           |      broker: ${broker.broker}
           |      schema_registry_url: http://registry.invalid
           |    name: k
           |sources:
           |  - name: orders
           |    connection: k
           |    table_name: orders_cdc
           |sql: |
           |  SELECT id, v, _op INTO state FROM orders;
           |sinks:
           |  - table_name: state
           |    path: $tmp/out
           |    mode: overwrite
           |""".stripMargin
      val config = GraftConfigLoader.fromYaml(yaml)
      assert(config.sources.head.decode.contains("kafka_connect"))
      runBatch(spark, config)
      val out = spark.read.parquet(s"$tmp/out")
        .select("id", "v", "_op").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .sortBy(t => (t._1, t._3)).toSeq
      assert(out == Seq((1L, "x", "insert"), (2L, "y", "delete"),
        (2L, "y", "insert")))
    } finally broker.close()
  }

  test("global !! tags cannot instantiate arbitrary classes (SafeConstructor)") {
    // CVE-2022-1471 class: a global tag naming a JVM class must be
    // rejected by the safe loader, never constructed
    val yaml =
      """sources:
        |  - name: x
        |    path: !!javax.script.ScriptEngineManager [!!java.net.URLClassLoader []]
        |sql: SELECT 1;
        |sinks: []
        |""".stripMargin
    intercept[org.yaml.snakeyaml.error.YAMLException] {
      GraftConfigLoader.fromYaml(yaml)
    }
  }
  test("config-level delta: partition_by maps to the native partitioned " +
      "writer; enable_change_data_feed stamps CDF at creation and a " +
      "config upsert run writes cdc files") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_cdf").toString
    val tbl = s"$tmp/tbl"
    val config = GraftConfig(
      sources = Seq(SourceConf("r", s"$dir/region.parquet")),
      sql = "SELECT CAST(r_regionkey AS BIGINT) AS k, r_name AS v, " +
        "CAST(r_regionkey % 2 AS INT) AS p INTO outp FROM r",
      sinks = Seq(SinkConf("outp", tbl, mode = "overwrite",
        format = "delta", partitionBy = Seq("p"),
        options = Map("enable_change_data_feed" -> "true"))))
    runBatch(spark, config)
    val snap = graft.sources.DeltaLite.snapshot(spark, tbl)
    assert(snap.partitionColumns == Seq("p"))
    assert(snap.configuration.get("delta.enableChangeDataFeed")
      .contains("true"))
    assert(snap.protocol.exists(_.minWriterVersion >= 4))
    // second run: keyed upsert through config — the MERGE writes exact
    // cdc files because the table carries the CDF property
    val up = GraftConfig(
      sources = Seq(SourceConf("r", s"$dir/region.parquet")),
      sql = "SELECT CAST(r_regionkey AS BIGINT) AS k, " +
        "'MERGED' AS v, CAST(r_regionkey % 2 AS INT) AS p " +
        "INTO outp FROM r WHERE r_regionkey = 1",
      sinks = Seq(SinkConf("outp", tbl, mode = "upsert",
        format = "delta", keys = Seq("k"),
        options = Map("enable_change_data_feed" -> "true"))))
    runBatch(spark, up)
    val fsys = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fsys.exists(new org.apache.hadoop.fs.Path(tbl, "_change_data")),
      "config upsert wrote no cdc files")
    val feed = graft.sources.DeltaLite
      .changeFeed(spark, tbl, snap.version, snap.version + 1)
      .select("k", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(feed.contains((1L, "MERGED", "update_postimage")), feed)
  }

  test("config-level TIME TRAVEL: delta version_as_of and iceberg " +
      "snapshot_id pin batch sources; conflicting options refuse") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_tt").toString
    val dt = s"$tmp/dtbl"
    graft.sources.DeltaLite.write(spark,
      Seq((1L, "a")).toDF("k", "v"), dt)                  // v0
    graft.sources.DeltaLite.write(spark,
      Seq((2L, "b")).toDF("k", "v"), dt)                  // v1
    val pinned = GraftConfig(
      sources = Seq(SourceConf("t", dt, format = "delta",
        options = Map("version_as_of" -> "0"))),
      sql = "SELECT k, v INTO outp FROM t",
      sinks = Seq(SinkConf("outp", s"$tmp/out_d", mode = "overwrite")))
    runBatch(spark, pinned)
    assert(spark.read.parquet(s"$tmp/out_d").count() == 1)
    val e = intercept[IllegalArgumentException](runBatch(spark,
      pinned.copy(sources = pinned.sources.map(s0 => s0.copy(options =
        s0.options + ("timestamp_as_of" -> "1995-01-01 00:00:00"))))))
    assert(e.getMessage.contains("mutually exclusive"), e.getMessage)
    // iceberg: pin the FIRST snapshot id
    val it = s"$tmp/itbl"
    val snap1 = graft.sources.IcebergLite.write(spark,
      Seq((1L, "a")).toDF("k", "v"), it)
    graft.sources.IcebergLite.write(spark, Seq((2L, "b")).toDF("k", "v"), it)
    val pinnedIce = GraftConfig(
      sources = Seq(SourceConf("t", it, format = "iceberg",
        options = Map("snapshot_id" -> snap1.toString))),
      sql = "SELECT k, v INTO outp FROM t",
      sinks = Seq(SinkConf("outp", s"$tmp/out_i", mode = "overwrite")))
    runBatch(spark, pinnedIce)
    assert(spark.read.parquet(s"$tmp/out_i")
      .as[(Long, String)].collect().toSet == Set((1L, "a")))
  }

  test("sink options.property.* stamps raw delta table properties at " +
      "creation: ICT-clocked commits + config-declared CHECK " +
      "constraints enforced by the native writer") {
    import spark.implicits._
    import graft.sources.DeltaLite
    val tmp = java.nio.file.Files
      .createTempDirectory("graftapp_props").toString
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$tmp/src")
    val cfg = GraftConfig(
      sources = Seq(SourceConf("t", s"$tmp/src", format = "parquet")),
      sql = "SELECT k, v INTO outp FROM t",
      sinks = Seq(SinkConf("outp", s"$tmp/dsink", format = "delta",
        options = Map(
          "property.delta.enableInCommitTimestamps" -> "true",
          "property.delta.constraints.vpos" -> "v > 0"))))
    runBatch(spark, cfg)
    val snap = DeltaLite.snapshot(spark, s"$tmp/dsink")
    assert(snap.configuration.get("delta.enableInCommitTimestamps")
      .contains("true"))
    assert(snap.configuration.get("delta.constraints.vpos")
      .contains("v > 0"))
    assert(snap.protocol.exists(_.writerFeatures
      .exists(_.contains("inCommitTimestamp"))))
    // the creation commit is ICT-clocked
    val lp = new org.apache.hadoop.fs.Path(s"$tmp/dsink",
      "_delta_log/" + "0" * 20 + ".json")
    val in = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .open(lp)
    val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(txt.contains("inCommitTimestamp"), txt.take(300))
    // the config-declared constraint is LIVE: a violating native append
    // refuses naming it
    val ex = intercept[IllegalArgumentException](DeltaLite.write(spark,
      Seq((9L, -1L)).toDF("k", "v"), s"$tmp/dsink"))
    assert(ex.getMessage.contains("vpos"), ex.getMessage)
    assert(DeltaLite.read(spark, s"$tmp/dsink").count() == 2)
  }

  test("timestamp_as_of accepts date-only and ISO-8601 zone-suffixed " +
      "values (delta-spark's shapes); failures name the source") {
    import spark.implicits._
    import graft.GraftApp.parseTimestampOption
    assert(parseTimestampOption("s1", "2026-08-15") ==
      java.sql.Date.valueOf("2026-08-15").getTime)
    assert(parseTimestampOption("s1", "2026-08-15 01:02:03") ==
      java.sql.Timestamp.valueOf("2026-08-15 01:02:03").getTime)
    assert(parseTimestampOption("s1", "2026-08-15 01:02:03.5") ==
      java.sql.Timestamp.valueOf("2026-08-15 01:02:03.5").getTime)
    assert(parseTimestampOption("s1", "2026-08-15T01:02:03") ==
      java.sql.Timestamp.valueOf("2026-08-15 01:02:03").getTime)
    assert(parseTimestampOption("s1", "2026-08-15T00:00:00Z") ==
      java.time.Instant.parse("2026-08-15T00:00:00Z").toEpochMilli)
    assert(parseTimestampOption("s1", "2026-08-15T01:02:03+02:00") ==
      java.time.OffsetDateTime.parse("2026-08-15T01:02:03+02:00")
        .toInstant.toEpochMilli)
    val ex = intercept[IllegalArgumentException](
      parseTimestampOption("mysrc", "not-a-time"))
    assert(ex.getMessage.contains("mysrc") &&
      ex.getMessage.contains("timestamp_as_of"), ex.getMessage)
    // e2e: a date-only pin resolves through the config path
    val tmp2 = java.nio.file.Files
      .createTempDirectory("graftapp_tsopt").toString
    val dt = s"$tmp2/dtbl"
    graft.sources.DeltaLite.write(spark,
      Seq((1L, "a")).toDF("k", "v"), dt)
    // graft's deterministic commits stamp timestamp=1 (epoch), so any
    // modern date-only pin resolves to the latest version
    val cfg = GraftConfig(
      sources = Seq(SourceConf("t", dt, format = "delta",
        options = Map("timestamp_as_of" -> "2026-08-15"))),
      sql = "SELECT k, v INTO outp FROM t",
      sinks = Seq(SinkConf("outp", s"$tmp2/out_d", mode = "overwrite")))
    runBatch(spark, cfg)
    assert(spark.read.parquet(s"$tmp2/out_d")
      .as[(Long, String)].collect().toSet == Set((1L, "a")))
  }


  // ------------------------------------------------ keyed sinks (one path)

  private def runToEnd(config: GraftConfig): Unit = {
    val qs = runStreaming(spark, config)
    try qs.foreach(_.awaitTermination()) finally qs.foreach(_.stop())
  }

  /** A parquet directory of CDC change rows `(k, v, _op, _seq)`. */
  private def writeChanges(path: String,
      rows: Seq[(Long, String, String, Long)]): Unit = {
    import spark.implicits._
    rows.toDF("k", "v", "_op", "_seq").write.mode("append").parquet(path)
  }

  test("streaming jdbc sink collapses webhook changes: one row per key, " +
      "deletes applied, no _op/_seq columns in the target") {
    import graft.sources.PushBuffer
    val chan = "jdbc_keyed_stream"
    PushBuffer.clear(chan)
    val tmp = java.nio.file.Files.createTempDirectory("graft_jdbc_stream").toString
    val url = "jdbc:derby:memory:graftjdbcstream;create=true"
    val config = GraftConfigLoader.fromYaml(
      s"""sources:
         |  - name: changes
         |    path: ""
         |    decode: webhook
         |    schema: "id BIGINT, v BIGINT"
         |    options:
         |      channel: $chan
         |sql: |
         |  SELECT id, v, _op, _seq INTO accts FROM changes;
         |sinks:
         |  - table: accts
         |    mode: jdbc
         |    keys: [id]
         |    checkpoint: $tmp/ckpt
         |    options: {url: "$url", dbtable: accts}
         |streaming: true
         |""".stripMargin)
    def env(verb: String, data: String) = s"""{"verb":"$verb","data":$data}"""
    PushBuffer.pushAll(chan, Seq(
      env("POST", """{"id":1,"v":10}"""), env("PUT", """{"id":1,"v":11}"""),
      env("POST", """{"id":2,"v":20}"""), env("DELETE", """{"id":2}"""),
      env("POST", """{"id":3,"v":30}""")), waitMs = 0L)
    try {
      runToEnd(config)
      val out = spark.read.jdbc(url, "accts", new java.util.Properties)
      assert(out.columns.map(_.toLowerCase).toSet == Set("id", "v"),
        out.columns.mkString(", "))
      assert(out.select("id", "v").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted ==
        Seq(1L -> 11L, 3L -> 30L))
    } finally PushBuffer.clear(chan)
  }

  test("batch parquet upsert merges by key into the existing snapshot") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_pq_up").toString
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .write.parquet(s"$tmp/src")
    def upCfg(sql: String) = GraftConfigLoader.fromYaml(
      s"""sources:
         |  - name: pt
         |    path: $tmp/src
         |sql: $sql;
         |sinks:
         |  - table: o
         |    path: $tmp/up
         |    mode: upsert
         |    keys: [k]
         |""".stripMargin)
    runBatch(spark, upCfg("SELECT k, v INTO o FROM pt"))
    runBatch(spark,
      upCfg("SELECT k, upper(v) AS v INTO o FROM pt WHERE k >= 2"))
    assert(spark.read.parquet(s"$tmp/up").select("k", "v")
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "B"), (3L, "C")))
  }

  test("a stream takes over a batch-written parquet snapshot and keeps " +
      "the keys it does not touch") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_takeover").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$tmp/seed")
    runBatch(spark, GraftConfigLoader.fromYaml(
      s"""sources:
         |  - name: seed
         |    path: $tmp/seed
         |sql: SELECT k, v INTO o FROM seed;
         |sinks:
         |  - table: o
         |    path: $tmp/state
         |    mode: upsert
         |    keys: [k]
         |""".stripMargin))
    writeChanges(s"$tmp/changes",
      Seq((1L, "a", "delete", 1L), (3L, "c", "insert", 2L)))
    runToEnd(GraftConfigLoader.fromYaml(
      s"""sources:
         |  - name: ch
         |    path: $tmp/changes
         |sql: SELECT k, v, _op, _seq INTO o FROM ch;
         |sinks:
         |  - table: o
         |    path: $tmp/state
         |    checkpoint: $tmp/ckpt
         |    mode: upsert
         |    keys: [k]
         |streaming: true
         |""".stripMargin))
    assert(spark.read.parquet(s"$tmp/state").select("k", "v")
      .as[(Long, String)].collect().toSet == Set((2L, "b"), (3L, "c")))
  }

  test("streaming iceberg append and upsert sinks commit natively from " +
      "config alone") {
    import graft.sources.IcebergLite
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ice_stream").toString
    writeChanges(s"$tmp/changes", Seq((1L, "a", "insert", 1L),
      (2L, "b", "insert", 2L), (1L, "A", "update_postimage", 3L),
      (2L, "b", "delete", 4L), (3L, "c", "insert", 5L)))
    runToEnd(GraftConfigLoader.fromYaml(
      s"""sources:
         |  - name: ch
         |    path: $tmp/changes
         |sql: |
         |  SELECT k, v, _op, _seq INTO latest FROM ch;
         |  SELECT k, v, _op INTO log FROM ch;
         |sinks:
         |  - table: latest
         |    path: $tmp/latest
         |    format: iceberg
         |    mode: upsert
         |    keys: [k]
         |  - table: log
         |    path: $tmp/log
         |    format: iceberg
         |    mode: append
         |streaming: true
         |""".stripMargin))
    assert(IcebergLite.read(spark, s"$tmp/latest").select("k", "v")
      .as[(Long, String)].collect().toSet == Set((1L, "A"), (3L, "c")))
    assert(IcebergLite.read(spark, s"$tmp/log").count() == 5)
  }

  test("streaming delta upsert stamps sink table properties when its " +
      "first batch creates the table") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_delta_props").toString
    writeChanges(s"$tmp/changes",
      Seq((1L, "a", "insert", 1L), (2L, "b", "insert", 2L)))
    runToEnd(GraftConfigLoader.fromYaml(
      s"""sources:
         |  - name: ch
         |    path: $tmp/changes
         |sql: SELECT k, v, _op, _seq INTO o FROM ch;
         |sinks:
         |  - table: o
         |    path: $tmp/tbl
         |    format: delta
         |    mode: upsert
         |    keys: [k]
         |    options:
         |      enable_change_data_feed: true
         |      property.delta.constraints.kpos: "k > 0"
         |streaming: true
         |""".stripMargin))
    val conf = graft.sources.DeltaLite.snapshot(spark, s"$tmp/tbl").configuration
    assert(conf.get("delta.enableChangeDataFeed").contains("true"), conf)
    assert(conf.get("delta.constraints.kpos").contains("k > 0"), conf)
    assert(graft.sources.DeltaLite.read(spark, s"$tmp/tbl").count() == 2)
  }

  test("one native-commit rule: build and run agree for every sink " +
      "format × mode × execution mode") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft_native_rule").toString
    Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "n", "v")
      .write.parquet(s"$tmp/src")
    def config(sink: SinkConf, streaming: Boolean) = GraftConfig(
      sources = Seq(SourceConf("pt", s"$tmp/src")),
      sql = "SELECT k, n, v INTO o FROM pt", sinks = Seq(sink),
      streaming = streaming)
    /** Build and run one sink; both must succeed or both fail. */
    def agree(label: String, sink: SinkConf, streaming: Boolean): Boolean = {
      val c = config(sink, streaming)
      val built = scala.util.Try(GraftApp.build(spark, c))
      val ran = scala.util.Try(
        if (streaming) runToEnd(c) else { runBatch(spark, c); () })
      assert(built.isSuccess == ran.isSuccess, s"$label: build $built, run $ran")
      built.isSuccess
    }
    def mode(streaming: Boolean) = if (streaming) "streaming" else "batch"
    // no connector jar is on the test classpath: delta and iceberg commit
    // natively in every mode, and streaming has no overwrite mode
    for {
      format <- Seq("delta", "iceberg", "parquet")
      sinkMode <- Seq("append", "overwrite", "upsert")
      streaming <- Seq(false, true)
    } {
      val label = s"$format $sinkMode ${mode(streaming)}"
      val path = s"$tmp/${label.replace(' ', '_')}"
      val ok = agree(label, SinkConf("o", path, mode = sinkMode,
        keys = Seq("k"), format = format), streaming)
      assert(ok == !(streaming && sinkMode == "overwrite"), label)
      val log = if (format == "delta") "_delta_log" else "metadata"
      if (ok) assert(Files.exists(Paths.get(path, log)) == (format != "parquet"),
        s"$label: native commit log")
    }
    // every other sink rule: (label, sink, streaming, runs)
    val derby = Map("url" -> "jdbc:derby:memory:graft_sink_rules;create=true",
      "dbtable" -> "sink_rules")
    val jdbc = SinkConf("o", "", mode = "jdbc", options = derby)
    val ckpt = Some(s"$tmp/jdbc_ckpt")
    def native(format: String, sinkMode: String, streaming: Boolean,
        partitionBy: Seq[String] = Nil, zorderBy: Seq[String] = Nil) =
      SinkConf("o", s"$tmp/${format}_${sinkMode}_${mode(streaming)}_" +
        s"${partitionBy.size}_${zorderBy.size}", mode = sinkMode,
        format = format, partitionBy = partitionBy, zorderBy = zorderBy)
    val cases = Seq(
      // native appends honor partition_by in both execution modes
      ("streaming delta append partition_by",
        native("delta", "append", true, partitionBy = Seq("v")), true, true),
      ("streaming iceberg append partition_by",
        native("iceberg", "append", true, partitionBy = Seq("v")), true, true),
      // z-order clustering needs the connector's layout control
      ("batch delta append zorder_by",
        native("delta", "append", false, zorderBy = Seq("k", "n")), false, false),
      ("batch delta overwrite zorder_by",
        native("delta", "overwrite", false, zorderBy = Seq("k", "n")), false, false),
      ("batch iceberg append zorder_by",
        native("iceberg", "append", false, zorderBy = Seq("k", "n")), false, false),
      ("batch iceberg overwrite zorder_by",
        native("iceberg", "overwrite", false, zorderBy = Seq("k", "n")), false, false),
      ("batch parquet append zorder_by",
        native("parquet", "append", false, zorderBy = Seq("k", "n")), false, true),
      // z-order interleaves longs: a string dimension is refused up front
      ("batch parquet overwrite zorder_by on a string column",
        native("parquet", "overwrite", false, zorderBy = Seq("k", "v")), false, false),
      // a streaming jdbc sink merges by key from its own checkpoint
      ("streaming jdbc", jdbc.copy(keys = Seq("k"), checkpoint = ckpt), true, true),
      ("streaming jdbc without keys", jdbc.copy(checkpoint = ckpt), true, false),
      ("streaming jdbc without checkpoint", jdbc.copy(keys = Seq("k")), true, false),
      ("batch jdbc", jdbc, false, true),
      ("batch jdbc without dbtable", jdbc.copy(options = derby - "dbtable"),
        false, false),
      ("streaming jdbc without dbtable", jdbc.copy(keys = Seq("k"),
        checkpoint = ckpt, options = derby - "dbtable"), true, false),
      // jdbc and dummy sinks write no files to partition
      ("batch jdbc partition_by", jdbc.copy(partitionBy = Seq("v")), false, false),
      ("streaming jdbc partition_by", jdbc.copy(keys = Seq("k"),
        checkpoint = ckpt, partitionBy = Seq("v")), true, false),
      ("batch dummy", SinkConf("o", "", mode = "dummy"), false, true),
      ("streaming dummy", SinkConf("o", "", mode = "dummy"), true, true),
      ("batch dummy partition_by",
        SinkConf("o", "", mode = "dummy", partitionBy = Seq("v")), false, false),
      ("streaming dummy partition_by",
        SinkConf("o", "", mode = "dummy", partitionBy = Seq("v")), true, false))
    cases.foreach { case (label, sink, streaming, runs) =>
      assert(agree(label, sink, streaming) == runs, label)
    }
    val partitioned = native("delta", "append", true, partitionBy = Seq("v")).path
    assert(graft.sources.DeltaLite.snapshot(spark, partitioned)
      .partitionColumns == Seq("v"))
    assert(graft.sources.DeltaLite.read(spark, partitioned).count() == 2)
    assert(graft.sources.IcebergLite.read(spark,
      native("iceberg", "append", true, partitionBy = Seq("v")).path).count() == 2)
  }

}

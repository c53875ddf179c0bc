package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.sql.GraftSqlRunner

/** Config-driven orchestrator — dozer's `dozer run` lifecycle
  * (SURVEY §3 entry point 1: config lists connections/sources/sql/sinks;
  * reference dozer-cli/src/simple/orchestrator.rs:77 +
  * dozer-types/src/models/config.rs) as a Spark job:
  *
  *   sources  →  temp views  →  dialect SQL (INTO outputs)  →  sinks
  *
  * Batch mode materializes each INTO table to its sink once; streaming
  * mode wires `readStream` sources through the same SQL into
  * checkpointed streaming sinks (exactly-once via checkpointLocation —
  * the OpIdentifier resume contract).
  */
object GraftApp {

  /** `dozer run <config>` equivalent:
    * `spark-submit --class graft.GraftApp <jar> <config.yaml>`.
    * Accepts graft-native or dozer-compatible YAML
    * ([[GraftConfigLoader]]); streaming configs block until all sink
    * queries terminate.
    */
  def main(args: Array[String]): Unit = {
    // dozer-cli arg surface (reference dozer-cli/src/cli/types.rs:16-35):
    // [run|build|clean] <config patterns...> [--config-overrides /ptr=json ...]
    // Multiple config paths/globs deep-merge; `.sql` files append to `sql`.
    val overrides = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val paths = scala.collection.mutable.ArrayBuffer.empty[String]
    var cmd = "run"
    var locked = false
    var i = 0
    def splitOverride(s: String): (String, String) = s.split("=", 2) match {
      case Array(p, v) => (p, v)
      case _ => throw new IllegalArgumentException(
        s"--config-overrides needs /pointer=value, got '$s'")
    }
    while (i < args.length) {
      args(i) match {
        case c @ ("build" | "clean" | "run" | "dot" | "ui") if paths.isEmpty && i == 0 =>
          cmd = c
        case "--config-overrides" =>
          i += 1
          if (i >= args.length) throw new IllegalArgumentException(
            "--config-overrides needs /pointer=value")
          overrides += splitOverride(args(i))
        case o if o.startsWith("--config-overrides=") =>
          overrides += splitOverride(o.stripPrefix("--config-overrides="))
        case "--locked" => locked = true
        case p => paths += p
      }
      i += 1
    }
    if (paths.isEmpty) throw new IllegalArgumentException(
      "usage: GraftApp [run|build|clean] <config.yaml...> [--config-overrides /ptr=val]")
    val config = GraftConfigLoader.fromPaths(paths.toSeq, overrides.toSeq)
    // lock file lives next to the first concrete config file (the
    // reference keeps dozer.lock in the app home dir), falling back to
    // the working directory for glob-only invocations
    val lockPath = {
      val first = java.nio.file.Paths.get(paths.head)
      if (java.nio.file.Files.isRegularFile(first) && first.getParent != null)
        first.getParent.resolve("graft.lock")
      else java.nio.file.Paths.get("graft.lock")
    }
    cmd match {
      case "clean" =>
        clean(config)
        java.nio.file.Files.deleteIfExists(lockPath) // home-dir wipe analogue
      case "build" =>
        val spark = GraftSession.create(
          sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
        try buildLocked(spark, config, lockPath, locked).foreach { case (t, s) =>
          println(s"$t: ${s.simpleString}")
        } finally spark.stop()
      case "dot" =>
        // `dozer ui`'s graph contract without the web shell
        val spark = GraftSession.create(
          sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
        try println(dot(spark, config)) finally spark.stop()
      case "ui" =>
        // `dozer ui`: the LIVE contract server (reference serves a
        // ContractService on 4555 — ui/app/server.rs); HTTP here:
        // /, /dot, /sources, /outputs, /sinks
        val spark = GraftSession.create(
          sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
        try {
          val contract = uiContract(spark, config)
          val port = sys.env.get("SPARK_GRAFT_UI_PORT").map(_.toInt)
            .getOrElse(4555) // reference APP_UI_PORT
          // loopback unless explicitly exposed — the contract carries
          // sink targets and is served without auth
          val h = UiServer.start(port, contract,
            bindAll = sys.env.get("SPARK_GRAFT_UI_BIND_ALL")
              .exists(v => v == "1" || v.equalsIgnoreCase("true")))
          println(s"ui: serving on http://localhost:${h.port}/ " +
            "(endpoints /dot /sources /outputs /sinks)")
          // bounded run for drivers/tests; default serves until killed
          sys.env.get("SPARK_GRAFT_UI_SECONDS") match {
            case Some(s) => Thread.sleep(s.toLong * 1000L); h.stop()
            case None =>
              val latch = new java.util.concurrent.CountDownLatch(1)
              sys.addShutdownHook { h.stop(); latch.countDown() }
              latch.await()
          }
        } finally spark.stop()
      case "run" =>
        val spark = GraftSession.create(
          sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
        // run_all builds (with the locked check) before executing
        // (orchestrator.rs:221-226)
        buildLocked(spark, config, lockPath, locked)
        val hooks = startWebhooks(config)
        val grpcHandles = startGrpcServers(config)
        // telemetry endpoint (reference prometheus_server.rs): listener
        // attaches before any stream starts so counters miss nothing
        val metrics = config.metricsPort.map { p =>
          val rec = graft.streaming.StreamMetrics.attach(spark)
          val h = graft.streaming.MetricsServer.start(p, rec)
          println(s"metrics: serving /metrics on port ${h.port}")
          h
        }
        try {
          if (config.streaming)
            runStreaming(spark, config).foreach(_.awaitTermination())
          else runBatch(spark, config)
        } finally {
          metrics.foreach(_.stop())
          hooks.foreach(_.stop())
          grpcHandles.foreach(_.stop())
          spark.stop()
        }
    }
  }

  /** `dozer build` equivalent (reference dozer-cli/src/cli/types.rs:47-60):
    * validate the pipeline end-to-end WITHOUT executing — resolve every
    * source schema, analyze the dialect SQL into plans (Catalyst analysis
    * runs eagerly, so unknown columns/tables/functions fail here), check
    * every sink references an INTO output and has a legal mode — and
    * return each output table's schema. No sink is written.
    */
  def build(spark: SparkSession, config: GraftConfig): Map[String, StructType] = {
    registerUdfs(spark, config)
    val runner = new GraftSqlRunner(spark, streaming = config.streaming)
    config.sources.foreach { s =>
      requireFormatAvailable(spark, s.format, "source")
      runner.registerSource(s.name, loadSource(spark, s, config.streaming))
    }
    val outputs = runner.run(config.sql)
    // legal modes differ by execution mode — mirror run's dispatch so
    // build rejects exactly what run would reject
    val legalModes =
      if (config.streaming) Set("append", "upsert", "dummy", "jdbc")
      else Set("append", "overwrite", "upsert", "dummy", "jdbc")
    config.sinks.foreach { sink =>
      require(outputs.contains(sink.table),
        s"sink references unknown output table '${sink.table}'")
      require(legalModes(sink.mode),
        s"unknown ${if (config.streaming) "streaming " else ""}sink mode ${sink.mode}")
      if (sink.mode == "jdbc") requireJdbcAvailable(sink)
      else if (sink.mode != "dummy" &&
          !(sink.format == "delta" &&
            (sink.mode == "upsert" ||
              (config.streaming && sink.mode == "append") ||
              (!config.streaming &&
                (sink.mode == "append" || sink.mode == "overwrite")))) &&
          !(sink.format == "iceberg" &&
            (sink.mode == "upsert" || sink.mode == "append" ||
              (!config.streaming && sink.mode == "overwrite"))))
        // delta/iceberg batch commits are native — no jar probe
        requireFormatAvailable(spark, sink.format, "sink")
      if (sink.mode == "upsert") {
        require(sink.keys.nonEmpty, s"upsert sink '${sink.table}' needs keys")
        // parquet upserts use the crash-safe snapshot swap; delta
        // upserts commit natively as copy-on-write MERGE (only files
        // holding touched keys are rewritten — DeltaLite.upsert);
        // iceberg upserts commit natively as merge-on-read (position
        // deletes + batch data in one snapshot — IcebergLite.upsert)
        require(sink.format == "parquet" || sink.format == "delta" ||
          sink.format == "iceberg",
          s"upsert sink '${sink.table}' supports formats " +
            s"parquet|delta|iceberg (got '${sink.format}')")
        require((sink.format != "delta" && sink.format != "iceberg") ||
          sink.buckets.isEmpty,
          s"upsert sink '${sink.table}': buckets: is the parquet " +
            s"snapshot's layout knob; ${sink.format} bounds churn " +
            "through its own metadata instead")
      }
      // partition_by legality + column existence (run would fail at
      // write time with a deep AnalysisException; surface it here)
      if (sink.partitionBy.nonEmpty) {
        val legal = if (config.streaming) sink.mode == "append"
          else sink.mode != "upsert"
        require(legal,
          s"partition_by is not supported on ${sink.mode} sinks (sink '${sink.table}')")
        val cols = outputs(sink.table).schema.fieldNames.toSet
        val missing = sink.partitionBy.filterNot(cols)
        require(missing.isEmpty,
          s"partition_by columns ${missing.mkString(", ")} not in output " +
            s"'${sink.table}' (has ${cols.mkString(", ")})")
      }
      // zorder_by gets the same build-time surface (arity, mode, columns)
      if (sink.zorderBy.nonEmpty) {
        require(!config.streaming &&
          (sink.mode == "append" || sink.mode == "overwrite"),
          s"zorder_by is only supported on batch append/overwrite sinks " +
            s"(sink '${sink.table}')")
        require(sink.zorderBy.size >= 2 && sink.zorderBy.size <= 3,
          s"zorder_by takes 2 or 3 columns (sink '${sink.table}')")
        val cols = outputs(sink.table).schema.fieldNames.toSet
        val missing = sink.zorderBy.filterNot(cols)
        require(missing.isEmpty,
          s"zorder_by columns ${missing.mkString(", ")} not in output " +
            s"'${sink.table}' (has ${cols.mkString(", ")})")
      }
    }
    outputs.map { case (t, df) => t -> df.schema }
  }

  /** The build contract — a deterministic text rendering of everything
    * `dozer build` locks (reference dozer-cli/src/simple/orchestrator.rs:
    * 150-205: Contract over DAG schemas + connections, serialized to
    * dozer.lock): sources, per-INTO output schemas, sinks, UDFs. Two
    * configs with the same contract produce the same pipeline shape.
    */
  def contract(spark: SparkSession, config: GraftConfig): String =
    renderContract(config, build(spark, config))

  private def renderContract(config: GraftConfig,
      schemas: Map[String, StructType]): String = {
    val sb = new StringBuilder("graft contract v1\n")
    config.sources.sortBy(_.name).foreach { s =>
      sb ++= s"source ${s.name} ${s.format} ${s.path}\n"
    }
    schemas.toSeq.sortBy(_._1).foreach { case (t, sch) =>
      sb ++= s"output $t ${sch.simpleString}\n"
    }
    config.sinks.sortBy(_.table).foreach { k =>
      val target = k.mode match {
        case "dummy" => "-"
        case "jdbc" => k.options.getOrElse("url", "jdbc") + "/" +
          k.options.getOrElse("dbtable", k.table)
        case _ => k.path
      }
      sb ++= s"sink ${k.table} ${k.mode} $target keys=${k.keys.mkString(",")}\n"
    }
    config.udfs.sortBy(_.name).foreach(u =>
      sb ++= s"udf ${u.name}${u.onnxPath.fold("")(p => s" onnx=$p")}" +
        s"${u.jsModule.fold("")(m => s" js=$m")}\n")
    sb.toString
  }

  /** `dozer build [--locked]` core (orchestrator.rs:186-197): with
    * `locked`, the existing lock file must exist and match the current
    * contract (LockedNoLockFile / LockedOutdatedLockfile analogues);
    * the fresh contract is then written. Returns the output schemas.
    */
  def buildLocked(spark: SparkSession, config: GraftConfig,
      lockPath: java.nio.file.Path, locked: Boolean): Map[String, StructType] = {
    val schemas = build(spark, config)
    val c = renderContract(config, schemas)
    if (locked) {
      if (!java.nio.file.Files.exists(lockPath))
        throw new IllegalStateException(
          s"--locked: no lock file at $lockPath (run build once without --locked)")
      val existing = new String(java.nio.file.Files.readAllBytes(lockPath))
      if (existing != c)
        throw new IllegalStateException(
          s"--locked: config no longer matches $lockPath — the pipeline " +
            "contract changed (sources, output schemas, sinks, or udfs)")
    }
    java.nio.file.Files.writeString(lockPath, c)
    schemas
  }

  /** `dozer ui`'s pipeline-contract surface (reference
    * dozer-cli/src/ui/app/state.rs:231-239 `generate_dot`, 220-229
    * `get_graph_schemas`) minus the web shell: the config's dataflow
    * DAG — source → INTO output → sink — rendered as DOT, with each
    * node's schema in its tooltip. Table references come from each
    * output's ANALYZED plan (the temp-view `SubqueryAlias` nodes), not
    * regexed SQL, so aliases, CTEs, and dialect rewrites resolve
    * exactly as the engine resolves them; descent stops at the first
    * known name so edges are DIRECT dependencies only.
    */
  def dot(spark: SparkSession, config: GraftConfig): String =
    uiContract(spark, config).dot

  /** The UI server's whole contract in one pass: DOT graph + source/
    * output schemas + sink targets, from the ANALYZED plans (see
    * [[dot]]'s doc for the dependency-edge rules).
    */
  def uiContract(spark: SparkSession,
      config: GraftConfig): UiServer.Contract = {
    registerUdfs(spark, config)
    val runner = new GraftSqlRunner(spark, streaming = config.streaming)
    val sourceDfs = config.sources.map { s =>
      val df = loadSource(spark, s, config.streaming)
      runner.registerSource(s.name, df)
      (s, df)
    }
    val outputs = runner.run(config.sql)
    val known = config.sources.map(_.name).toSet ++ outputs.keySet
    def directRefs(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : Set[String] = plan match {
      case a: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
          if known(a.alias) => Set(a.alias)
      case other =>
        val fromChildren = other.children.flatMap(directRefs).toSet
        val fromSubqueries = other.expressions.flatMap(_.collect {
          case s: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
            directRefs(s.plan)
        }.flatten).toSet
        fromChildren ++ fromSubqueries
    }
    def esc(s: String) = s.replace("\"", "\\\"")
    val sb = new StringBuilder("digraph pipeline {\n  rankdir=LR;\n")
    config.sources.foreach { s =>
      sb ++= s"""  "${esc(s.name)}" [shape=cylinder tooltip="${esc(s.format)}: ${esc(s.path)}"];\n"""
    }
    outputs.foreach { case (name, df) =>
      sb ++= s"""  "${esc(name)}" [shape=box tooltip="${esc(df.schema.simpleString)}"];\n"""
    }
    config.sinks.zipWithIndex.foreach { case (k, i) =>
      val target = k.mode match {
        case "dummy" => "dummy"
        case "jdbc" => k.options.getOrElse("url", "jdbc")
        case _ => k.path
      }
      sb ++= s"""  "sink$i" [shape=note label="${esc(k.mode)}: ${esc(target)}"];\n"""
    }
    outputs.foreach { case (name, df) =>
      directRefs(df.queryExecution.analyzed).filter(_ != name).toSeq.sorted
        .foreach(r => sb ++= s"""  "${esc(r)}" -> "${esc(name)}";\n""")
    }
    config.sinks.zipWithIndex.foreach { case (k, i) =>
      sb ++= s"""  "${esc(k.table)}" -> "sink$i";\n"""
    }
    sb ++= "}\n"
    UiServer.Contract(
      dot = sb.toString,
      sources = sourceDfs.map { case (s, df) =>
        (s.name, s.format, s.path, df.schema.simpleString)
      },
      outputs = outputs.toSeq.sortBy(_._1).map { case (n, df) =>
        (n, df.schema.simpleString)
      },
      sinks = config.sinks.map { k =>
        val target = k.mode match {
          case "dummy" => "dummy"
          case "jdbc" => k.options.getOrElse("url", "jdbc")
          case _ => k.path
        }
        (k.table, k.mode, target)
      })
  }

  /** `dozer clean` equivalent: remove every sink's materialized data and
    * streaming checkpoints declared in the config (the reference wipes
    * its app-data directory). Idempotent — missing paths are fine.
    */
  def clean(config: GraftConfig): Unit = {
    def rm(p: String): Unit = {
      val root = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.exists(root)) {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(root)
        try walk.iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(java.nio.file.Files.deleteIfExists(_))
        finally walk.close() // the stream holds open directory handles
      }
    }
    config.sinks.foreach { s =>
      // dummy/jdbc sinks have no object-store path — an empty path must
      // never reach rm (Paths.get("") is the working directory)
      if (s.path.nonEmpty) {
        rm(s.path)
        rm(s.checkpoint.getOrElse(s.path + "_ckpt"))
      } else s.checkpoint.foreach(rm)
    }
  }

  final case class SourceConf(
      name: String,
      path: String,
      format: String = "parquet",
      schema: Option[StructType] = None,     // required when streaming
      watermark: Option[(String, String)] = None, // (tsCol, duration) = TTL
      options: Map[String, String] = Map.empty,   // reader passthrough (header, delimiter, …)
      decode: Option[String] = None)         // "webhook": push envelope -> change rows

  /** One config-declared webhook listener (reference WebhookConfig,
    * ingestion_types.rs:560-588): the app starts it for `run` and
    * stops it when the pipeline terminates.
    */
  final case class WebhookConf(port: Int, endpoints: Map[String, String])

  final case class SinkConf(
      table: String,                          // an INTO output name
      path: String,
      mode: String = "append",                // "append" | "upsert" | "overwrite"
      keys: Seq[String] = Nil,                // primary key for upsert
      checkpoint: Option[String] = None,
      buckets: Option[Int] = None,            // upsert scale path: hash-bucketed snapshot
      partitionBy: Seq[String] = Nil,         // hive-style output partitioning
      format: String = "parquet",             // "parquet" | "delta" | any DataSource name
      options: Map[String, String] = Map.empty, // writer passthrough (compression, …)
      zorderBy: Seq[String] = Nil)            // 2-3 dims: Z-order cluster batch writes

  /** Formats the bundled Spark distribution resolves without extra jars.
    * Anything else ("delta", "iceberg", …) is config-accepted and probed
    * against the classpath at build/run time — the reference ships a
    * DeltaLake connector (dozer-ingestion/deltalake/, config shape
    * dozer-types/src/models/ingestion_types.rs:377-393); on Spark the
    * SAME config works the moment the delta-spark jars are on the
    * classpath, because source/sink IO goes through
    * `spark.read.format(...)` / `df.write.format(...)` uniformly.
    */
  private val builtinFormats =
    Set("parquet", "csv", "json", "orc", "text", "avro", "binaryFile")

  /** Fail fast for JDBC sinks: the url must be present and its driver
    * loadable (explicit `driver` option or DriverManager url probe) —
    * same build-time contract as [[requireFormatAvailable]]. The
    * ClickHouse/Oracle jars are deployment-supplied, like the Kafka
    * and Delta connector jars.
    */
  private[graft] def requireJdbcAvailable(sink: SinkConf): Unit = {
    val url = sink.options.getOrElse("url",
      throw new IllegalArgumentException(
        s"jdbc sink '${sink.table}' needs options.url"))
    try sink.options.get("driver") match {
      case Some(d) => Class.forName(d)
      case None => java.sql.DriverManager.getDriver(url)
    } catch {
      case _: ClassNotFoundException | _: java.sql.SQLException =>
        throw new IllegalArgumentException(
          s"jdbc sink '${sink.table}': no JDBC driver for '$url' on the " +
            "classpath — add the driver jar (e.g. clickhouse-jdbc, ojdbc) " +
            "via --jars/spark.jars, exactly like the Kafka/Delta connector jars")
    }
  }

  /** Fail fast — at build/validate time, not deep inside a microbatch —
    * when a configured format's DataSource is not on the classpath.
    */
  private[graft] def requireFormatAvailable(spark: SparkSession,
      format: String, what: String): Unit =
    // decode-seam sources (webhook push, javascript ingest) carry no
    // DataSource format; their load path is the decode branch
    if (format.nonEmpty && !builtinFormats(format)) {
      val ok =
        try {
          org.apache.spark.sql.execution.datasources.DataSource
            .lookupDataSource(format, spark.sessionState.conf)
          true
        } catch { case _: Exception => false }
      // delta and iceberg SOURCES read natively without the jar since
      // round 11 (DeltaLite/IcebergLite snapshot readers over the
      // public formats); advanced tables still need the connector jars
      if (!ok && !((format == "delta" || format == "iceberg") &&
          what == "source"))
        throw new IllegalArgumentException(
          s"$what format '$format' has no DataSource on the classpath" +
            (if (format == "delta")
              " — add the delta-spark connector jars (io.delta:delta-spark" +
                " matching this Spark version) or switch the config to parquet"
            else if (format == "iceberg")
              " — add the iceberg-spark-runtime jar matching this Spark " +
                "version or switch the config to parquet"
            else ""))
    }

  private[graft] def deltaSourceAvailable(spark: SparkSession): Boolean =
    formatOnClasspath(spark, "delta")

  /** Config-declared native lakehouse tail: `format: delta|iceberg` +
    * `options.keys` (the CDC diff key) streams version-offset
    * micro-batches through [[graft.sources.LakeTailSource]].
    */
  private def nativeLakeTail(spark: SparkSession, s: SourceConf,
      fmt: String): DataFrame = {
    require(s.options.contains("keys"),
      s"source '${s.name}': the native $fmt tail needs options.keys " +
        "(comma-separated key columns for the CDC diff); or add the " +
        (if (fmt == "delta") "delta-spark jars" else "iceberg-spark " +
          "runtime") + " for the connector-managed stream")
    val passthrough = Seq("keys", "starting_version",
      "starting_timestamp", "versions_per_batch", "max_rows_per_batch",
      "on_missing_offset")
    spark.readStream.format("graft.sources.LakeTailSource")
      .option("path", s.path).option("table_format", fmt)
      .options(passthrough.flatMap(k =>
        s.options.get(k).map(k -> _)).toMap)
      .load()
  }

  private[graft] def formatOnClasspath(spark: SparkSession,
      format: String): Boolean =
    try {
      org.apache.spark.sql.execution.datasources.DataSource
        .lookupDataSource(format, spark.sessionState.conf)
      true
    } catch { case _: Exception => false }

  /** Config-declared scalar UDF — the reference's `udfs:` section
    * (dozer-types/src/models/udf_config.rs: name + Onnx/JavaScript
    * module). Two kinds map onto Spark:
    *   - SQL-expression UDFs (graft extension) become SQL scalar
    *     functions (Spark 4 `CREATE FUNCTION ... RETURN <expr>`):
    *     declarative, codegen'd through Catalyst, no interpreter
    *     boundary;
    *   - ONNX model UDFs (`UdfType::Onnx { path }`) load through
    *     graft's pure-JVM runtime ([[graft.functions.OnnxMini]]) and
    *     register as `name(x1..xN)` + `name_vec(array<float>)`;
    *   - JavaScript module UDFs (`UdfType::JavaScript { module }`) load
    *     through graft's ES-subset interpreter ([[graft.functions.JsUdf]])
    *     and register as `name(col)` returning a JSON string — the
    *     reference's 1-arg Json→Json contract (javascript/validate.rs).
    */
  final case class UdfConf(
      name: String,
      params: String,               // e.g. "price DOUBLE, rate DOUBLE"
      returns: String,              // e.g. "DOUBLE"
      expression: String,           // SQL expression over the params
      onnxPath: Option[String] = None,  // UdfType::Onnx { path }
      jsModule: Option[String] = None)  // UdfType::JavaScript { module }

  /** One table-maintenance task (graft extension): lakehouse lifecycle
    * from config — `compact` (iceberg: resolve MoR deletes + binpack;
    * delta: OPTIMIZE + DV purge), `expire_snapshots` (iceberg history
    * trim + disk reclaim), `checkpoint`/`cleanup_logs` (delta: bound
    * log replay, then drop checkpoint-covered commits), `vacuum`
    * (delta: drop unreferenced data files). Runs after the batch
    * sinks, so a pipeline can write and then groom its own table in
    * one `dozer run`.
    */
  final case class MaintenanceConf(
      path: String,
      format: String, // "iceberg" | "delta"
      compact: Boolean = false,
      compactSmallFileBytes: Long = 0L,
      expireKeepLast: Option[Int] = None,
      /** `expire_snapshots: {older_than_hours: N, keep_last?: K}` —
        * age-based expiry (keep_last is the retain floor, default 1).
        */
      expireOlderThanMillis: Option[Long] = None,
      vacuum: Boolean = false,
      checkpoint: Boolean = false,
      cleanupLogs: Boolean = false,
      /** `set_properties:` — ALTER TABLE SET TBLPROPERTIES. Delta:
        * ADD CONSTRAINT (existing rows validated), enable CDF / ICT
        * post-creation (protocol upgraded), appendOnly, user props.
        * Iceberg: the catalog's updateProperties (merged, no snapshot).
        */
      setProperties: Map[String, String] = Map.empty,
      /** `restore: {version: N}` / `restore: {timestamp_as_of: T}` —
        * delta RESTORE TABLE (one commit returns the table state to a
        * historical version; history preserved).
        */
      restoreVersion: Option[Long] = None,
      restoreTimestamp: Option[String] = None,
      /** `rollback_to_snapshot: ID` — iceberg metadata-only rollback
        * (current-snapshot-id + main ref repointed; no data IO).
        */
      rollbackToSnapshot: Option[Long] = None,
      /** `create_tag: {name, snapshot_id?}` / `create_branch: {...}` /
        * `drop_ref: name` — iceberg ref management (manageSnapshots):
        * tags pin snapshots against expiry and give time travel by
        * name (source `options.ref`).
        */
      createTag: Option[(String, Option[Long])] = None,
      createBranch: Option[(String, Option[Long])] = None,
      dropRef: Option[String] = None,
      /** `clone: {source: path, version?: N}` — delta SHALLOW CLONE:
        * creates THIS entry's `path` as a new table referencing the
        * source's files (zero data copied), optionally time-traveled.
        */
      cloneSource: Option[String] = None,
      cloneVersion: Option[Long] = None,
      /** `vacuum: {retain_hours: N}` — retention window override
        * (plain `vacuum: true` defers to the table's
        * delta.deletedFileRetentionDuration, else immediate).
        */
      vacuumRetainMillis: Option[Long] = None,
      /** `uniform_sync: true` — delta UniForm (icebergCompatV2)
        * conversion: register the table's current files as an iceberg
        * snapshot under `<path>/metadata` so iceberg readers see the
        * same rows (the step Databricks runs async after each commit).
        */
      uniformSync: Boolean = false,
      /** `add_files: {data_dir: path}` — iceberg migration: register
        * an existing hive-partitioned parquet directory as THIS
        * entry's table without rewriting a byte (in place when
        * data_dir == path).
        */
      addFilesDir: Option[String] = None,
      /** `convert_to_delta: true` — delta migration (delta-spark's
        * CONVERT TO DELTA): this entry's path, an existing
        * hive-partitioned parquet dir, gains a version-0 _delta_log
        * referencing its files in place. One-shot; no data rewritten.
        */
      convertToDelta: Boolean = false,
      /** `remove_orphan_files: true` / `{older_than_hours: N}` —
        * iceberg GC of files NO snapshot references (aborted stagings,
        * lost-race leftovers), age-guarded (default 72h, the catalog's
        * own default) so in-flight commits stay safe.
        */
      removeOrphansOlderThanMillis: Option[Long] = None) {
    require(format == "iceberg" || format == "delta",
      s"maintenance on '$path': format must be iceberg|delta, got '$format'")
    require(!vacuum || format == "delta",
      s"maintenance on '$path': vacuum is the delta op (iceberg uses " +
        "expire_snapshots)")
    require((expireKeepLast.isEmpty && expireOlderThanMillis.isEmpty) ||
        format == "iceberg",
      s"maintenance on '$path': expire_snapshots is the iceberg op " +
        "(delta uses checkpoint + cleanup_logs + vacuum)")
    require((!checkpoint && !cleanupLogs) || format == "delta",
      s"maintenance on '$path': checkpoint/cleanup_logs are delta ops")
    require((restoreVersion.isEmpty && restoreTimestamp.isEmpty) ||
        format == "delta",
      s"maintenance on '$path': restore is the delta op (iceberg uses " +
        "rollback_to_snapshot)")
    require(restoreVersion.isEmpty || restoreTimestamp.isEmpty,
      s"maintenance on '$path': restore takes version OR timestamp_as_of")
    require(rollbackToSnapshot.isEmpty || format == "iceberg",
      s"maintenance on '$path': rollback_to_snapshot is the iceberg op " +
        "(delta uses restore)")
    require((createTag.isEmpty && createBranch.isEmpty &&
        dropRef.isEmpty) || format == "iceberg",
      s"maintenance on '$path': create_tag/create_branch/drop_ref are " +
        "iceberg ops")
    require(cloneSource.nonEmpty || cloneVersion.isEmpty,
      s"maintenance on '$path': clone.version needs clone.source")
    require(cloneSource.isEmpty || format == "delta",
      s"maintenance on '$path': clone is the delta op")
    require(!uniformSync || format == "delta",
      s"maintenance on '$path': uniform_sync is the delta op (the " +
        "table IS iceberg-readable after it)")
    require(addFilesDir.isEmpty || format == "iceberg",
      s"maintenance on '$path': add_files is the iceberg op")
    require(!convertToDelta || format == "delta",
      s"maintenance on '$path': convert_to_delta is the delta op")
    require(removeOrphansOlderThanMillis.isEmpty || format == "iceberg",
      s"maintenance on '$path': remove_orphan_files is the iceberg op " +
        "(delta uses vacuum)")
    require(compact || expireKeepLast.nonEmpty ||
        expireOlderThanMillis.nonEmpty || vacuum || checkpoint ||
        cleanupLogs || setProperties.nonEmpty || restoreVersion.nonEmpty ||
        restoreTimestamp.nonEmpty || rollbackToSnapshot.nonEmpty ||
        createTag.nonEmpty || createBranch.nonEmpty || dropRef.nonEmpty ||
        cloneSource.nonEmpty || uniformSync || addFilesDir.nonEmpty ||
        convertToDelta || removeOrphansOlderThanMillis.nonEmpty,
      s"maintenance on '$path' declares no operation")
  }

  final case class GraftConfig(
      sources: Seq[SourceConf],
      sql: String,
      sinks: Seq[SinkConf],
      streaming: Boolean = false,
      udfs: Seq[UdfConf] = Nil,
      webhooks: Seq[WebhookConf] = Nil,
      grpcServers: Seq[GrpcServerConf] = Nil,
      // telemetry.metrics: !Prometheus{address} (reference
      // dozer-types/src/models/telemetry.rs:39-56) — port of the
      // /metrics scrape endpoint served during `run`
      metricsPort: Option[Int] = None,
      maintenance: Seq[MaintenanceConf] = Nil)

  /** One config-declared gRPC ingest service (reference GrpcConfig,
    * ingestion_types.rs:65-76: host/port/schemas/adapter) — a REAL
    * gRPC-over-HTTP/2 listener ([[graft.sources.GrpcIngest]]); each
    * declared schema lands on its own push channel.
    */
  final case class GrpcServerConf(port: Int,
      tables: Map[String, graft.sources.GrpcIngest.TableSpec])

  /** Start every config-declared webhook listener. Callers own the
    * handles (`main` stops them when the pipeline terminates).
    */
  def startWebhooks(config: GraftConfig): Seq[graft.sources.WebhookServer.Handle] =
    config.webhooks.map(w =>
      graft.sources.WebhookServer.start(w.port, w.endpoints))

  /** Start every config-declared gRPC ingest service. */
  def startGrpcServers(config: GraftConfig): Seq[graft.sources.GrpcIngest.Handle] =
    config.grpcServers.map(g => graft.sources.GrpcIngest.start(g.port, g.tables))


  /** Resolve one source to a DataFrame: plain format reads (schema
    * inferred from existing files for streams), or the webhook decode
    * path — the push channel's verb envelopes lifted to [[graft.cdc.ChangeModel]]
    * change rows against the endpoint's declared row schema.
    */
  private def loadSource(spark: SparkSession, s: SourceConf,
      streaming: Boolean): DataFrame = {
    val raw = s.decode match {
      case Some("webhook") =>
        val chan = s.options.getOrElse("channel",
          throw new IllegalArgumentException(
            s"webhook source '${s.name}' needs a channel option"))
        val feed =
          if (streaming) graft.sources.Sources.push(spark, chan)
          else graft.sources.Sources.pushSnapshot(spark, chan)
        graft.sources.WebhookServer.changes(feed, s.schema.getOrElse(
          throw new IllegalArgumentException(
            s"webhook source '${s.name}' needs a row schema")))
      case Some("arrow") =>
        // Arrow IPC push ingest (gRPC adapter parity — grpc/src/adapter/
        // arrow.rs): clients push IPC frames onto the bounded channel via
        // ArrowIngest.ingest; both scan phases decode map-only.
        val chan = s.options.getOrElse("channel",
          throw new IllegalArgumentException(
            s"arrow source '${s.name}' needs a channel option"))
        val schemaName = s.options.getOrElse("schema_name", s.name)
        val feed =
          if (streaming) graft.sources.Sources.push(spark, chan)
          else graft.sources.Sources.pushSnapshot(spark, chan)
        graft.sources.ArrowIngest.changes(feed, schemaName, s.schema.getOrElse(
          throw new IllegalArgumentException(
            s"arrow source '${s.name}' needs a row schema")))
      case Some("grpc") =>
        // gRPC typed ingest (grpc/src/adapter/default.rs): the config-
        // declared IngestService pushes one envelope per IngestRequest
        // onto the channel; decode lifts them to ChangeModel rows.
        val chan = s.options.getOrElse("channel",
          throw new IllegalArgumentException(
            s"grpc source '${s.name}' needs a channel option"))
        val schemaName = s.options.getOrElse("schema_name", s.name)
        val feed =
          if (streaming) graft.sources.Sources.push(spark, chan)
          else graft.sources.Sources.pushSnapshot(spark, chan)
        graft.sources.GrpcIngest.changes(feed, schemaName, s.schema.getOrElse(
          throw new IllegalArgumentException(
            s"grpc source '${s.name}' needs a row schema")))
      case Some("kafka_plain") | Some("kafka_connect") =>
        // Config-declared Kafka source over the NATIVE DataSource V2
        // (KafkaConfig, ingestion_types.rs:173-177): Kafka offsets ARE
        // the checkpoint offsets (OpIdentifier parity) and the fetch
        // runs on the executors — no driver channel, no poller.
        import org.apache.spark.sql.functions.{col, when}
        val Op = graft.cdc.ChangeModel
        // security/transport options pass through to the native source
        // (tls/truststore/truststorePassword, valueFormat, pinning,
        // admission) — the round-9 SSL surface from config
        val passthrough = Seq("tls", "truststore", "truststorePassword",
          "valueFormat", "partitions", "partition", "numSlices",
          "maxOffsetsPerTrigger", "startingOffsets", "startingTimestamp",
          "sasl", "saslUsername", "saslPassword", "isolationLevel")
        val kopts = Map(
          "broker" -> s.options("broker"), "topic" -> s.options("topic")) ++
          passthrough.flatMap(k => s.options.get(k).map(k -> _))
        def reader(stream: Boolean): DataFrame = {
          val df =
            if (stream)
              spark.readStream.format("graft.sources.KafkaNativeSource")
                .options(kopts).load()
            else
              spark.read.format("graft.sources.KafkaNativeSource")
                .options(kopts).load()
          df.withColumnRenamed("offset", Op.SeqCol)
        }
        val recs = reader(streaming)
        if (s.decode.contains("kafka_plain")) {
          // no-registry contract: fixed (key pk, message) table
          // (no_schema_registry_basic.rs); tombstones delete the key
          recs.select(col("key"), col("value").as("message"),
            when(col("value").isNull, Op.Delete)
              .otherwise(Op.Insert).as(Op.OpCol),
            col(Op.SeqCol))
        } else {
          // registry path: Connect-JSON messages with in-band schemas —
          // derive the contract from a batch sample of the topic, then
          // decode the feed (identical for the stream)
          val d = graft.cdc.ConnectJson.deriveFromFeed(
            reader(stream = false), "value", Some("key"))
          graft.cdc.ConnectJson.decodeWith(d, recs, "value",
            seq = Some(col(Op.SeqCol)))
        }
      case Some("kafka_segments") =>
        // Dumped Kafka log segments through the native RecordBatch v2
        // codec (cdc.KafkaBatch) — the broker-less path for the Kafka
        // connector's content; values are typically Debezium envelopes.
        if (streaming) graft.sources.Sources.kafkaSegmentStream(spark, s.path)
        else graft.sources.Sources.kafkaSegmentSnapshot(spark, s.path)
      case Some("javascript") =>
        // JS ingestion connector: the bootstrap script (s.path) runs on
        // the embedded runtime and its `ingest` envelopes materialize
        // the single `json_records` table. Batch-only: the script is a
        // bounded driver-side generator, like the reference's single
        // deno runtime (dozer-ingestion/javascript/src/lib.rs).
        if (streaming) throw new IllegalArgumentException(
          s"source '${s.name}': the JavaScript connector is a bounded " +
            "script run — use it in batch mode")
        // bundled load: the bootstrap may `import` relative helper
        // modules next to it (dozer-deno ts_module_loader parity)
        val (jsEntry, jsSources) =
          graft.functions.JsModules.bundleFromPath(spark, s.path)
        graft.sources.JsIngest.jsonRecordsBundle(spark, jsSources, jsEntry)
      case Some(other) => throw new IllegalArgumentException(
        s"source '${s.name}': unknown decode '$other'")
      case None =>
        if (s.format == "avro") {
          // Avro object-container files through the NATIVE reader
          // (spark-avro module not shipped; avro-1.12 runtime is)
          if (streaming) throw new IllegalArgumentException(
            s"source '${s.name}': the avro container source is " +
              "batch-only here — land files and run batch, or front " +
              "them with the Kafka/Confluent path for streams")
          graft.sources.AvroFiles.read(spark, s.path)
        } else if (s.format == "delta" && !deltaSourceAvailable(spark)) {
          // no delta-spark jar: the NATIVE snapshot reader over the
          // public transaction-log format (reference reader.rs parity —
          // one full scan of the latest version), and the NATIVE
          // version-offset tail for streams (LakeTailSource — needs
          // options.keys for the keyed CDC diff). Batch reads take
          // TIME TRAVEL via options.version_as_of / timestamp_as_of
          // (delta-spark's option names).
          if (streaming) nativeLakeTail(spark, s, "delta")
          else {
            require(!(s.options.contains("version_as_of") &&
              s.options.contains("timestamp_as_of")),
              s"source '${s.name}': version_as_of and timestamp_as_of " +
                "are mutually exclusive")
            val asOf = s.options.get("version_as_of").map(_.toLong)
              .orElse(s.options.get("timestamp_as_of").map(ts =>
                graft.sources.DeltaLite.versionAtTimestamp(spark, s.path,
                  parseTimestampOption(s.name, ts))))
            graft.sources.DeltaLite.read(spark, s.path, asOf)
          }
        } else if (s.format == "iceberg" && !formatOnClasspath(spark, "iceberg")) {
          // no iceberg-spark runtime: the NATIVE snapshot reader over
          // the public table-format spec (metadata json → avro
          // manifests → parquet scan, position deletes applied); the
          // NATIVE sequence-number tail for streams. Batch reads take
          // TIME TRAVEL via options.snapshot_id / timestamp_as_of.
          if (streaming) nativeLakeTail(spark, s, "iceberg")
          else {
            val pins = Seq("snapshot_id", "timestamp_as_of", "ref")
              .filter(s.options.contains)
            require(pins.size <= 1,
              s"source '${s.name}': ${pins.mkString(" and ")} are " +
                "mutually exclusive")
            val snapId = s.options.get("snapshot_id").map(_.toLong)
              .orElse(s.options.get("timestamp_as_of").map(ts =>
                graft.sources.IcebergLite.snapshotAtTimestamp(spark,
                  s.path, parseTimestampOption(s.name, ts))))
              // branch/tag time travel (the spec's named refs)
              .orElse(s.options.get("ref").map(r =>
                graft.sources.IcebergLite.snapshotForRef(spark, s.path,
                  r)))
            graft.sources.IcebergLite.read(spark, s.path, snapId)
          }
        } else if (streaming) {
          val schema = s.schema.getOrElse(spark.read.format(s.format)
            .options(s.options).load(s.path).schema) // infer from existing files
          spark.readStream.format(s.format).options(s.options)
            .schema(schema).load(s.path)
        } else {
          val r = spark.read.format(s.format).options(s.options)
          s.schema.fold(r)(r.schema).load(s.path)
        }
    }
    if (streaming) s.watermark.fold(raw) { case (ts, dur) =>
      // Parquet TIMESTAMP(isAdjustedToUTC=false) surfaces as TIMESTAMP_NTZ,
      // which withWatermark rejects; normalize to TIMESTAMP first (session
      // TZ is UTC, wall clock unchanged).
      Tables.normalizeEventTime(raw, ts).withWatermark(ts, dur)
    } else raw
  }

  /** CREATION-time table properties of a native delta sink:
    * `options.enable_change_data_feed: true` (sugar for
    * delta.enableChangeDataFeed) plus every `options.property.<key>`
    * verbatim — delta.enableInCommitTimestamps, delta.constraints.*,
    * delta.appendOnly, … — which the native writer then honors and
    * enforces exactly as it does on a foreign table carrying them.
    */
  private def deltaTableProps(sink: SinkConf): Map[String, String] =
    (if (sink.options.get("enable_change_data_feed").exists(_.toBoolean))
      Map("delta.enableChangeDataFeed" -> "true")
    else Map.empty[String, String]) ++
      sink.options.collect { case (k, v) if k.startsWith("property.") =>
        k.stripPrefix("property.") -> v
      }

  /** Parse a config `timestamp_as_of` value to epoch millis — the
    * shapes delta-spark's `timestampAsOf` accepts: `yyyy-MM-dd`
    * (expands to local midnight), `yyyy-MM-dd HH:mm:ss[.fff]`, and
    * ISO-8601 with a `T` separator and an OPTIONAL zone offset / `Z`.
    * Parse failures name the source and the option instead of leaking
    * a bare java.sql exception.
    */
  private[graft] def parseTimestampOption(source: String,
      value: String): Long = {
    val v = value.trim
    try {
      if (v.matches("""\d{4}-\d{2}-\d{2}"""))
        java.sql.Date.valueOf(v).getTime
      else if (v.contains("T")) {
        try java.time.OffsetDateTime.parse(v).toInstant.toEpochMilli
        catch {
          case _: java.time.format.DateTimeParseException =>
            java.sql.Timestamp.valueOf(
              java.time.LocalDateTime.parse(v)).getTime
        }
      } else java.sql.Timestamp.valueOf(v).getTime
    } catch {
      case e: Exception =>
        throw new IllegalArgumentException(
          s"source '$source': cannot parse timestamp_as_of '$value' — " +
            "use yyyy-MM-dd, 'yyyy-MM-dd HH:mm:ss[.fff]', or ISO-8601 " +
            "with an optional zone offset", e)
    }
  }

  /** Register the config's UDFs on the session: SQL scalar functions
    * for expression UDFs, the OnnxMini runtime for model UDFs.
    */
  def registerUdfs(spark: SparkSession, config: GraftConfig): Unit =
    config.udfs.foreach { u =>
      (u.onnxPath, u.jsModule) match {
        case (Some(path), _) =>
          graft.functions.OnnxMini.registerFromPath(spark, u.name, path)
        case (None, Some(module)) =>
          graft.functions.JsUdf.registerFromPath(spark, u.name, module)
        case (None, None) =>
          spark.sql(
            s"CREATE OR REPLACE TEMPORARY FUNCTION ${u.name}(${u.params}) " +
              s"RETURNS ${u.returns} RETURN ${u.expression}")
      }
    }

  /** Run a batch pipeline: returns the INTO outputs after sinking. */
  def runBatch(spark: SparkSession, config: GraftConfig): Map[String, DataFrame] = {
    require(!config.streaming, "use runStreaming for streaming configs")
    registerUdfs(spark, config)
    val runner = new GraftSqlRunner(spark, streaming = false)
    config.sources.foreach { s =>
      requireFormatAvailable(spark, s.format, "source")
      runner.registerSource(s.name, loadSource(spark, s, streaming = false))
    }
    val outputs = runner.run(config.sql)
    config.sinks.foreach { sink =>
      val df = outputs.getOrElse(sink.table,
        throw new IllegalArgumentException(
          s"sink references unknown output table '${sink.table}'"))
      if (sink.mode == "jdbc") requireJdbcAvailable(sink)
      else if (sink.mode != "dummy" &&
          !((sink.format == "delta" || sink.format == "iceberg") &&
            (sink.mode == "append" || sink.mode == "overwrite" ||
              sink.mode == "upsert")))
        // batch append/overwrite/upsert delta AND iceberg sinks commit
        // natively (DeltaLite / IcebergLite) — no jar probe needed
        requireFormatAvailable(spark, sink.format, "sink")
      // upsert snapshots own their layout — reject a partition spec
      // instead of silently dropping it
      require(sink.partitionBy.isEmpty || sink.mode != "upsert",
        s"partition_by is not supported on upsert sinks (sink '${sink.table}')")
      require(sink.mode != "upsert" ||
        sink.format == "parquet" || sink.format == "delta" ||
        sink.format == "iceberg",
        s"upsert sink '${sink.table}' supports formats parquet|delta|iceberg")
      // zorder_by: cluster the batch write on the Morton key of 2-3
      // dimension columns so every file's min/max statistics prune
      // scans on ANY of them (operators.Layout); orthogonal to
      // partition_by (dirs split first, files cluster within)
      require(sink.zorderBy.isEmpty || sink.mode == "append" ||
        sink.mode == "overwrite",
        s"zorder_by is only supported on append/overwrite sinks " +
          s"(sink '${sink.table}')")
      require(sink.zorderBy.isEmpty ||
        (sink.zorderBy.size >= 2 && sink.zorderBy.size <= 3),
        s"zorder_by takes 2 or 3 columns (sink '${sink.table}')")
      val clustered =
        if (sink.zorderBy.isEmpty) df
        else {
          val keyed = df.withColumn("__z", graft.operators.Layout.mortonKey(
            sink.zorderBy.map(org.apache.spark.sql.functions.col)))
          // zorder_files pins the file count (an explicit repartition
          // AQE won't coalesce); without it the session's shuffle
          // parallelism decides and AQE may merge small outputs
          val ranged = sink.options.get("zorder_files") match {
            case Some(n) => keyed.repartitionByRange(n.toInt,
              org.apache.spark.sql.functions.col("__z"))
            case None => keyed.repartitionByRange(
              org.apache.spark.sql.functions.col("__z"))
          }
          ranged.sortWithinPartitions("__z").drop("__z")
        }
      def writer(d: org.apache.spark.sql.DataFrame) = {
        val w = d.write.options(sink.options - "zorder_files")
        if (sink.partitionBy.nonEmpty) w.partitionBy(sink.partitionBy: _*) else w
      }
      sink.mode match {
        case "append" | "overwrite"
            if sink.format == "delta" && !deltaSourceAvailable(spark) =>
          // native delta COMMITS without the jar (DeltaLite.write,
          // put-if-absent version claim + OCC retry). partition_by maps
          // to the native hive-layout partitioned writer (q143);
          // zorder_by still needs the connector's layout control.
          // `options.enable_change_data_feed: true` stamps
          // delta.enableChangeDataFeed at CREATION (writer version 4) —
          // mutations then write exact cdc files and tails stream them.
          // Any `options.property.<key>: <value>` stamps <key> as a raw
          // table property at creation (delta.enableInCommitTimestamps,
          // delta.constraints.*, delta.appendOnly, …) — the native
          // writer then honors/enforces it like any foreign table's.
          require(sink.zorderBy.isEmpty,
            s"delta sink '${sink.table}': zorder_by needs the " +
              "delta-spark connector's layout control")
          graft.sources.DeltaLite.write(spark, df, sink.path, sink.mode,
            partitionBy = sink.partitionBy,
            configuration = deltaTableProps(sink))
          ()
        case "append" | "overwrite"
            if sink.format == "iceberg" &&
              !formatOnClasspath(spark, "iceberg") =>
          // native Iceberg COMMITS without the jar (IcebergLite.write;
          // format-version 2, put-if-absent metadata claim).
          // partition_by maps to an IDENTITY partition spec (real spec
          // fields + per-file partition values in the manifests);
          // zorder_by still needs the runtime's layout control.
          require(sink.zorderBy.isEmpty,
            s"iceberg sink '${sink.table}': zorder_by needs the " +
              "iceberg-spark runtime")
          // `options.write_format: orc|avro` picks the data file format
          // (stamped as write.format.default at creation);
          // `options.property.<key>` stamps creation table properties —
          // the iceberg twin of the delta sink's configuration map;
          // `options.to_branch` stages onto a named branch (the WAP
          // pattern — publish later with rollback_to_snapshot of the
          // branch head).
          graft.sources.IcebergLite.write(spark, df, sink.path, sink.mode,
            partitionBy = sink.partitionBy,
            format = sink.options.get("write_format"),
            properties = sink.options.collect {
              case (k, v) if k.startsWith("property.") =>
                k.stripPrefix("property.") -> v
            },
            toBranch = sink.options.get("to_branch"))
          ()
        case "append" =>
          writer(clustered).mode("append").format(sink.format).save(sink.path)
        case "overwrite" =>
          writer(clustered).mode("overwrite").format(sink.format).save(sink.path)
        case "dummy" =>
          // reference Dummy sink (sink.rs:127-129): consume, write nothing
          println(s"[graft] dummy sink '${sink.table}': ${df.count()} rows")
        case "jdbc" =>
          val url = sink.options("url")
          val props = new java.util.Properties
          sink.options.foreach { case (k, v) =>
            if (k != "url" && k != "dbtable") props.setProperty(k, v)
          }
          if (sink.keys.nonEmpty)
            graft.sinks.Sinks.upsertJdbcRowsBatch(
              df, sink.keys, url, sink.options("dbtable"), props)
          else
            df.write.mode("append").jdbc(url, sink.options("dbtable"), props)
        case "upsert" =>
          // batch upsert = latest image per key over existing + new
          val merged = graft.cdc.ChangeModel.applyChanges(
            df.withColumn(graft.cdc.ChangeModel.OpCol,
              org.apache.spark.sql.functions.lit(graft.cdc.ChangeModel.Insert))
              .withColumn(graft.cdc.ChangeModel.SeqCol,
                org.apache.spark.sql.functions.monotonically_increasing_id()),
            sink.keys)
          if (sink.format == "delta") {
            // native copy-on-write MERGE: rewrites only the table files
            // holding batch keys (per-file stats pruning), one atomic
            // Delta commit — no jar needed. A first-run upsert CREATES
            // the table, so CDF stamping happens here too.
            val logDir = new org.apache.hadoop.fs.Path(sink.path,
              "_delta_log")
            val tconf = deltaTableProps(sink)
            if (tconf.nonEmpty && !logDir.getFileSystem(
                spark.sparkContext.hadoopConfiguration).exists(logDir))
              graft.sources.DeltaLite.write(spark, merged, sink.path,
                configuration = tconf)
            else
              graft.sources.DeltaLite.upsert(spark, merged, sink.path,
                sink.keys)
          } else if (sink.format == "iceberg") {
            // native merge-on-read MERGE: one atomic snapshot holding a
            // position-delete manifest for touched keys plus the batch
            // as a data manifest — zero data-file rewrites
            val metaDir = new org.apache.hadoop.fs.Path(sink.path, "metadata")
            if (!metaDir.getFileSystem(
                spark.sparkContext.hadoopConfiguration).exists(metaDir))
              graft.sources.IcebergLite.write(spark, merged, sink.path)
            else graft.sources.IcebergLite.upsert(
              spark, merged, sink.path, sink.keys)
            ()
          } else
          // always the hash-bucketed layout the streaming sink
          // maintains (no `buckets:` = one bucket), so a later stream
          // can take over the snapshot without a layout migration and
          // bucket-pruned readers work identically
          locally {
            import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
            val n = sink.buckets.getOrElse(1)
            merged
              .withColumn("_bucket",
                pmod(xxhash64(sink.keys.map(col): _*), lit(n)).cast("int"))
              .write.mode("overwrite").partitionBy("_bucket")
              .parquet(sink.path)
          }
        case other => throw new IllegalArgumentException(s"unknown sink mode $other")
      }
    }
    // table maintenance AFTER the sinks: groom what this run just wrote
    config.maintenance.foreach { m =>
      m.format match {
        case "iceberg" =>
          // migration FIRST (it CREATES/refreshes this entry's table),
          // then rollback, then grooming
          m.addFilesDir.foreach(d =>
            graft.sources.IcebergLite.addFiles(spark, m.path, d))
          m.rollbackToSnapshot.foreach(id =>
            graft.sources.IcebergLite.rollbackTo(spark, m.path, id))
          m.createTag.foreach { case (n, sid) =>
            graft.sources.IcebergLite.createRef(spark, m.path, n, "tag", sid)
          }
          m.createBranch.foreach { case (n, sid) =>
            graft.sources.IcebergLite.createRef(spark, m.path, n,
              "branch", sid)
          }
          m.dropRef.foreach(n =>
            graft.sources.IcebergLite.dropRef(spark, m.path, n))
          if (m.setProperties.nonEmpty)
            graft.sources.IcebergLite.setTableProperties(spark, m.path,
              m.setProperties)
          if (m.compact)
            graft.sources.IcebergLite.compact(spark, m.path,
              m.compactSmallFileBytes)
          if (m.expireKeepLast.nonEmpty || m.expireOlderThanMillis.nonEmpty)
            graft.sources.IcebergLite.expireSnapshots(spark, m.path,
              m.expireKeepLast.getOrElse(1),
              olderThanMillis = m.expireOlderThanMillis
                .map(System.currentTimeMillis - _))
          m.removeOrphansOlderThanMillis.foreach(ms =>
            graft.sources.IcebergLite.removeOrphanFiles(spark, m.path, ms))
        case "delta" =>
          // migration/clone FIRST (they CREATE this entry's path),
          // then restore, then grooming — each operates on the
          // previous step's state
          if (m.convertToDelta)
            graft.sources.DeltaLite.convertToDelta(spark, m.path)
          m.cloneSource.foreach(src =>
            graft.sources.DeltaLite.clone(spark, src, m.path,
              asOf = m.cloneVersion))
          m.restoreVersion.foreach(v =>
            graft.sources.DeltaLite.restore(spark, m.path, v))
          m.restoreTimestamp.foreach(ts =>
            graft.sources.DeltaLite.restoreToTimestamp(spark, m.path,
              parseTimestampOption(s"maintenance on '${m.path}'", ts)))
          if (m.compact)
            graft.sources.DeltaLite.compact(spark, m.path,
              if (m.compactSmallFileBytes > 0) m.compactSmallFileBytes
              else 128L << 20)
          if (m.setProperties.nonEmpty)
            graft.sources.DeltaLite.setTableProperties(spark, m.path,
              m.setProperties)
          // sync AFTER the mutating steps so the iceberg view mirrors
          // this run's final delta version
          if (m.uniformSync)
            graft.sources.DeltaLite.syncUniform(spark, m.path)
          if (m.checkpoint) graft.sources.DeltaLite.checkpoint(spark, m.path)
          if (m.cleanupLogs) graft.sources.DeltaLite.cleanupLogs(spark, m.path)
          if (m.vacuum) graft.sources.DeltaLite.vacuum(spark, m.path,
            retainMillis = m.vacuumRetainMillis)
      }
    }
    outputs
  }

  /** Run a streaming pipeline: one StreamingQuery per sink. */
  def runStreaming(spark: SparkSession, config: GraftConfig): Seq[StreamingQuery] = {
    require(config.maintenance.isEmpty,
      "maintenance: runs after BATCH pipelines only — groom tables from " +
        "a separate batch config (streams never quiesce)")
    // Default streaming state onto RocksDB (SCALE.md contract) even on a
    // caller-built session; a caller who configured a non-default
    // provider keeps it. Read at query start, so setting it here covers
    // every query this run launches.
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val hdfsDefault =
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    if (spark.conf.get(providerKey, hdfsDefault).endsWith("HDFSBackedStateStoreProvider"))
      spark.conf.set(providerKey, GraftSession.RocksDBProvider)
    // every run's query clones the session: keep generated code on the
    // executors' shared class loader so runs after the first reuse it
    GraftSession.shareGeneratedCode(spark)
    registerUdfs(spark, config)
    val runner = new GraftSqlRunner(spark, streaming = true)
    config.sources.foreach { s =>
      requireFormatAvailable(spark, s.format, "source")
      runner.registerSource(s.name, loadSource(spark, s, streaming = true))
    }
    val outputs = runner.run(config.sql)
    config.sinks.map { sink =>
      val df = outputs.getOrElse(sink.table,
        throw new IllegalArgumentException(
          s"sink references unknown output table '${sink.table}'"))
      val ckpt = sink.checkpoint.getOrElse(sink.path + "_ckpt")
      if (sink.mode == "jdbc") requireJdbcAvailable(sink)
      else if (sink.mode != "dummy" &&
          !(sink.format == "delta" &&
            (sink.mode == "append" || sink.mode == "upsert")))
        // streaming delta APPEND/UPSERT commit natively with the txn
        // exactly-once protocol; other delta modes keep the jar probe
        requireFormatAvailable(spark, sink.format, "sink")
      // upsert snapshots own their layout (flat or key-hash buckets) —
      // a user partition spec would be silently unhonored, so reject it
      require(sink.partitionBy.isEmpty || sink.mode == "append",
        s"partition_by is only supported on append sinks (sink '${sink.table}')")
      require(sink.mode != "upsert" ||
        sink.format == "parquet" || sink.format == "delta",
        s"upsert sink '${sink.table}' supports formats parquet|delta")
      // streaming queries carry the sink table as their name so
      // listener progress / the /metrics endpoint label per sink
      val qn = Some(sink.table)
      sink.mode match {
        case "append"
            if sink.format == "delta" && !deltaSourceAvailable(spark) =>
          require(sink.partitionBy.isEmpty,
            s"delta sink '${sink.table}': partition_by needs the " +
              "delta-spark connector (native commits are unpartitioned)")
          graft.sinks.Sinks.appendDelta(df, sink.path, ckpt,
            appId = s"graft-${sink.table}", queryName = qn,
            configuration = deltaTableProps(sink))
        case "append"
            if sink.format == "iceberg" &&
              !formatOnClasspath(spark, "iceberg") =>
          require(sink.partitionBy.isEmpty,
            s"iceberg sink '${sink.table}': partition_by needs the " +
              "iceberg-spark runtime (native commits are unpartitioned)")
          graft.sinks.Sinks.appendIceberg(df, sink.path, ckpt,
            appId = s"graft-${sink.table}", queryName = qn)
        case "append" => graft.sinks.Sinks.appendParquet(
          df, sink.path, ckpt, sink.partitionBy, sink.format, sink.options,
          queryName = qn)
        case "upsert" if sink.format == "delta" =>
          // native copy-on-write MERGE per micro-batch: terminal images
          // replace, terminal deletes remove, only key-touched files
          // rewrite; the txn protocol de-dups retried batches
          graft.sinks.Sinks.upsertDelta(df, sink.keys, sink.path, ckpt,
            appId = s"graft-${sink.table}", queryName = qn)
        case "upsert" if sink.format == "iceberg" =>
          // native merge-on-read MERGE per micro-batch: one snapshot
          // holds the position deletes + batch data; the summary
          // watermark de-dups retried batches
          graft.sinks.Sinks.upsertIceberg(df, sink.keys, sink.path, ckpt,
            appId = s"graft-${sink.table}", queryName = qn)
        case "upsert" => sink.buckets match {
          // buckets: opts into the O(batch)-per-microbatch bucketed
          // snapshot — the right choice once state outgrows one rewrite
          case Some(n) => graft.sinks.Sinks.upsertParquetBucketed(
            df, sink.keys, sink.path, ckpt, numBuckets = n, queryName = qn)
          case None => graft.sinks.Sinks.upsertParquet(
            df, sink.keys, sink.path, ckpt, queryName = qn)
        }
        case "dummy" =>
          // consume + count per microbatch; a throwaway checkpoint is
          // fine — the dummy sink has no state worth resuming
          val dckpt = sink.checkpoint.getOrElse(
            java.nio.file.Files.createTempDirectory("graft_dummy_ckpt").toString)
          df.writeStream
            .queryName(sink.table)
            .outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
            .option("checkpointLocation", dckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .foreachBatch { (b: DataFrame, id: Long) =>
              println(s"[graft] dummy sink '${sink.table}' batch $id: ${b.count()} rows")
            }
            .start()
        case "jdbc" =>
          require(sink.keys.nonEmpty,
            s"streaming jdbc sink '${sink.table}' needs keys (the merge key)")
          val jckpt = sink.checkpoint.getOrElse(throw new IllegalArgumentException(
            s"streaming jdbc sink '${sink.table}' needs a checkpoint for exactly-once resume"))
          val props = new java.util.Properties
          sink.options.foreach { case (k, v) =>
            if (k != "url" && k != "dbtable") props.setProperty(k, v)
          }
          graft.sinks.Sinks.upsertJdbcRows(
            df, sink.keys, sink.options("url"), sink.options("dbtable"),
            jckpt, props, queryName = qn)
        case other    => throw new IllegalArgumentException(s"unknown streaming sink mode $other")
      }
    }
  }
}

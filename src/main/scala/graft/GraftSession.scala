package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory for the graft engine.
  *
  * Mirrors the role of dozer's orchestrator bootstrap
  * (reference: dozer-cli/src/simple/orchestrator.rs:77) but Spark-first:
  * one `SparkSession` with AQE on, UTC, and the graft scalar-function
  * parity layer registered (see [[graft.functions.GraftFunctions]]).
  *
  * Scale notes (100 TB / 1000-executor target):
  *  - AQE handles runtime shuffle-partition coalescing and skew joins, so
  *    `spark.sql.shuffle.partitions` is only an upper bound locally.
  *  - `autoBroadcastJoinThreshold` stays at Spark's default; dimension
  *    tables (region/nation/supplier/part at TPC-H ratios) broadcast
  *    automatically, and [[Tables]] marks them explicitly too.
  */
object GraftSession {

  /** Build (or reuse) a configured session and register graft functions. */
  def create(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Whole-stage-codegen class cache (STATIC conf — must be set at
      // session creation). Spark 4.1 keys the cache by (task context
      // class loader, code), and with per-session artifact isolation
      // each cloned session (one per streaming query) ran on its own
      // executor class loader, so the same unit took one entry per
      // loader. Those per-session loaders multiplied the entries behind
      // r20's compile storms (every active task queued on
      // CodeGenerator.compile under the lake-mutation rigs; q148
      // 4.9→3.8 s/run from this alone), not eviction of distinct code
      // alone. With one loader per executor ([[shareGeneratedCode]])
      // each distinct unit takes one entry; the larger cache still holds
      // an engine with hundreds of distinct operators. A compiled unit
      // is KBs, so the per-JVM cost is bounded at any core count.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // Older testdata generations stored events.ts as TIMESTAMP(NANOS);
      // under this flag Spark reads those as LongType and Tables.load
      // converts to µs timestamps. Current testdata stores TIMESTAMP(MICROS,
      // isAdjustedToUTC=false) — Spark reads TIMESTAMP_NTZ and Tables.load
      // normalizes to TIMESTAMP (session TZ is UTC, wall clock preserved).
      // Both branches are kept so the engine is robust to either layout.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Streaming state lives in RocksDB, not on the executor heap: at
      // the design target (100 TB, large keyed state) the default
      // HDFS-backed in-memory store is the first thing to fall over —
      // RocksDB spills to local disk, bounds heap by block-cache size,
      // and checkpoints changelogs. Spark bundles rocksdbjni. Override
      // with spark.sql.streaming.stateStore.providerClass if needed.
      .config("spark.sql.streaming.stateStore.providerClass",
        GraftSession.RocksDBProvider)
      .getOrCreate()
    configure(spark)
  }

  /** Session-level artifact isolation (Spark 4.1 default `true`). */
  val ArtifactIsolationKey: String = "spark.sql.artifact.isolation.enabled"

  /** Runs every query of the session — and of the sessions Spark clones
    * from it, one per streaming query — on the executors' one shared
    * class loader, so generated code compiles once per executor JVM and
    * stays JIT-warm across pipeline runs.
    *
    * Spark 4.1's default artifact isolation gives each cloned session
    * its own executor class loader, and the codegen cache is keyed by
    * (context class loader, code): every `GraftApp.runStreaming` run
    * recompiled all its generated classes (34 for the webhook →
    * upsert-Delta pipeline) and ran them JIT-cold, with Janino's type
    * lookups going through that loader. Read when a query starts, so
    * setting it before the first query start covers every clone.
    *
    * Trade-off: artifacts a user adds to a session (`addArtifact`,
    * `addJar`) become application-wide instead of session-scoped. The
    * engine adds none. An explicit value for the key wins.
    */
  def shareGeneratedCode(spark: SparkSession): Unit =
    setUnlessExplicit(spark, ArtifactIsolationKey, "false")

  /** Sets `key` unless the operator set it: `spark.conf.getAll` holds only
    * explicitly set keys (`SparkSession.builder().config`, `--conf`, `-D`
    * and runtime sets), never Spark's own defaults.
    */
  private def setUnlessExplicit(spark: SparkSession, key: String,
      value: String): Unit =
    if (!spark.conf.getAll.contains(key)) spark.conf.set(key, value)

  /** Spark's bundled RocksDB state store provider (SCALE.md contract). */
  val RocksDBProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Idempotently registers the engine's SQL surface on an existing session
    * (used by Verify/Bench, which build their own sessions, and by tests).
    * Engine defaults it applies yield to an operator's explicit value
    * (`SparkSession.builder().config`, `--conf`, `-D`, or an earlier
    * `spark.conf.set`).
    */
  def configure(spark: SparkSession): SparkSession = {
    // Spark 4.1 writes a checksum sidecar for EVERY checkpoint file and
    // every state-store commit's delta-file close() parks awaiting the
    // async checksum write (ChecksumCancellableFSDataOutputStream.close
    // → awaitResult) — thread dumps under the replay rigs showed all 32
    // state tasks in that park, a commit-latency convoy on every
    // stateful micro-batch at any scale. The engine's streaming surface
    // is replay/CDC rigs whose checkpoints are written and consumed
    // within one job (AvailableNow), so corruption would surface as a
    // same-run read failure anyway; measured interleaved A/B (r20):
    // q151 8.8→6.5 s/run, q140 9.3→6.4 s/run. An operator who wants
    // checksums on long-lived checkpoints (object storage) sets the key
    // to true; that value is kept.
    setUnlessExplicit(spark,
      "spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    shareGeneratedCode(spark)
    graft.functions.GraftFunctions.registerAll(spark)
    // same rule the extension injects, for sessions built without
    // spark.sql.extensions (Verify/Bench/tests)
    if (!spark.experimental.extraOptimizations
        .exists(_.isInstanceOf[graft.plans.RewriteRangeJoin]))
      spark.experimental.extraOptimizations ++=
        Seq(graft.plans.RewriteRangeJoin(spark))
    spark
  }
}

/** Loaders for the driver's TPC-H-ish parquet tables (TESTDATA.md).
  *
  * Sources in dozer are connector-introspected schemas
  * (reference: dozer-ingestion/connector/src/lib.rs:83-86); here the
  * parquet footer is the schema and Catalyst prunes columns/pushes
  * predicates into the scan automatically.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Small dimension tables that should broadcast in joins at any SF:
    * region (5 rows) and nation (25 rows) are constant-size in TPC-H.
    */
  val broadcastable: Set[String] = Set("region", "nation")

  /** Event-time columns in the driver's parquet, normalized to TIMESTAMP at
    * load whatever the physical storage: TIMESTAMP(NANOS) surfaces as
    * LongType (nanosAsLong) and is restored to µs timestamps;
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) surfaces as TIMESTAMP_NTZ and
    * is cast (session TZ is UTC, so the wall clock — and the DuckDB-naive
    * oracle comparison — is unchanged). `withWatermark` requires
    * TimestampType, so NTZ must not leak past source load.
    */
  private val eventTimeColumns: Map[String, Seq[String]] = Map("events" -> Seq("ts"))

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val raw = spark.read.parquet(s"$sfDir/$name.parquet")
    eventTimeColumns.getOrElse(name, Nil).foldLeft(raw)(normalizeEventTime)
  }

  /** Normalize one event-time column to TimestampType (see above). */
  def normalizeEventTime(df: DataFrame, c: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema(c).dataType match {
      case LongType =>
        // integer `div`, NOT `/`: double division loses µs precision on
        // nano epochs (~1.7e18 > 2^53)
        df.withColumn(c,
          org.apache.spark.sql.functions.expr(s"timestamp_micros($c div 1000)"))
      case TimestampNTZType =>
        df.withColumn(c, df.col(c).cast(TimestampType))
      case _ => df
    }
  }

  /** Register every table as a temp view (for spark.sql / GraftSqlRunner). */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    all.foreach { t =>
      load(spark, sfDir, t).createOrReplaceTempView(t)
    }
}

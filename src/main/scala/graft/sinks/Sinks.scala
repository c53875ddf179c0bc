package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** Sinks (SURVEY §2.2). Dozer's `Sink` trait batches rows and flushes
  * on epoch commit with resume bookkeeping (dozer-core/src/node.rs:
  * 111-147); Spark's exactly-once equivalent is checkpointed
  * `writeStream` — `foreachBatch` is the keyed path, append parquet the
  * immutable-log path.
  *
  * Every keyed sink — Delta, Iceberg, bucketed parquet, JDBC; streaming
  * and batch — runs ONE body, [[upsertBatch]]: the primary-key record
  * writer contract (dozer-core/src/record_store.rs:48-87), one final row
  * per key with deletes applied. Its contract:
  *   - order within a batch comes from `_seq` (CDC input carries
  *     `_op`/`_seq`; plain rows are inserts in arrival order);
  *   - order across batches is arrival order: a later batch's final row
  *     for a key replaces the earlier one;
  *   - an empty batch commits nothing.
  * The [[Target]] only merges the collapsed batch — terminal images
  * replace or insert, terminal delete keys remove — so each format
  * keeps its own commit protocol and nothing else.
  */
object Sinks {
  import graft.cdc.ChangeModel
  import graft.sources.DeltaLite.KeyStats

  /** Lands one batch of a sink's output. `txn` is (stable sink app id,
    * batch id) for a streaming micro-batch, so the formats whose log
    * records it skip a retried batch; None for a batch run's one write.
    */
  type Write = (DataFrame, Option[(String, Long)]) => Unit

  /** A DataSource `format` append or overwrite through Spark's writer.
    * In a streaming run it is Spark's file sink instead of a foreachBatch
    * body (see [[stream]]): the sink's `_spark_metadata` log is its
    * exactly-once record.
    */
  final case class FileWrite(format: String, path: String, mode: String,
      partitionBy: Seq[String], options: Map[String, String]) extends Write {
    def apply(df: DataFrame, txn: Option[(String, Long)]): Unit = {
      val w = df.write.format(format).options(options).mode(mode)
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
        .save(path)
    }
  }

  /** Start a sink's streaming query; every sink's query starts here. It
    * is named `queryName` (listener progress and the /metrics endpoint
    * label it `query="<name>"`), checkpointed at `checkpoint`, and
    * drained with Trigger.AvailableNow. Each micro-batch runs `write`
    * with `txn = (appId, batchId)` under `outputMode`; `appId` must stay
    * stable for the sink across restarts. A [[FileWrite]] append hands
    * the stream to Spark's file sink instead.
    */
  def stream(df: DataFrame, write: Write, outputMode: OutputMode,
      checkpoint: String, appId: String,
      queryName: Option[String]): StreamingQuery = {
    val w = write match {
      case f: FileWrite =>
        val files = df.writeStream.format(f.format).options(f.options)
          .option("path", f.path).outputMode(outputMode)
        if (f.partitionBy.nonEmpty) files.partitionBy(f.partitionBy: _*)
        else files
      case _ =>
        df.writeStream.outputMode(outputMode)
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            write(batch, Some((appId, batchId)))
          }
    }
    queryName.fold(w)(w.queryName)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Where a keyed sink lands. [[merge]] receives one collapsed,
    * non-empty batch: `images` (payload columns, one row per key) to
    * replace or insert, `deleteKeys` (key columns, disjoint from the
    * images' keys) to remove, and `stats`, their key set's count, null
    * key cells and ranges. A missing table is created by the first merge.
    * `txn` = (stable per-sink app id, batch id) for the formats whose
    * log records it, so a retried batch is skipped by the table itself;
    * the others merge idempotently (replace-by-key re-applied converges).
    */
  sealed trait Target {
    def merge(spark: SparkSession, images: DataFrame, deleteKeys: DataFrame,
        keyCols: Seq[String], txn: Option[(String, Long)],
        stats: KeyStats): Unit
  }

  /** Native Delta copy-on-write MERGE ([[graft.sources.DeltaLite.upsert]]):
    * only files that may hold touched keys are rewritten, in one atomic
    * commit (a merge that fits one file rewrites its one stats candidate
    * without probing it for the keys).
    * `configuration` is stamped when the first merge creates the table
    * (delta.enableChangeDataFeed, delta.constraints.*, …).
    */
  final case class Delta(path: String,
      configuration: Map[String, String] = Map.empty) extends Target {
    def merge(spark: SparkSession, images: DataFrame, deleteKeys: DataFrame,
        keyCols: Seq[String], txn: Option[(String, Long)],
        stats: KeyStats): Unit = {
      graft.sources.DeltaLite.upsert(spark, images, path, keyCols, txn = txn,
        deleteKeys = Some(deleteKeys), configuration = configuration,
        collapsedKeyStats = Some(stats))
      ()
    }
  }

  /** Native Iceberg merge-on-read MERGE ([[graft.sources.IcebergLite.upsert]]):
    * one snapshot holds the position deletes for touched keys plus the
    * images as new data files; no data file is rewritten.
    */
  final case class Iceberg(path: String) extends Target {
    def merge(spark: SparkSession, images: DataFrame, deleteKeys: DataFrame,
        keyCols: Seq[String], txn: Option[(String, Long)],
        stats: KeyStats): Unit = {
      graft.sources.IcebergLite.upsert(spark, images, path, keyCols,
        deleteKeys = Some(deleteKeys), txn = txn)
      ()
    }
  }

  /** Keyed parquet snapshot, hash-bucketed by key into `numBuckets`
    * partition directories (`_bucket=<i>/`). Each merge reads and
    * rewrites ONLY the buckets its keys touch: (existing rows of those
    * buckets without the batch's keys) ∪ images — O(batch ∕ bucket-spread
    * × bucket size) instead of O(total state). One bucket is a
    * whole-snapshot rewrite, the right shape only while state is small;
    * pick `numBuckets` so one bucket (state ∕ numBuckets) is a
    * comfortable task read — e.g. 4096 buckets for a TB-scale keyset.
    *
    * Crash safety: per-bucket demote-promote swap against a sibling
    * `<path>_bak` root; a crash mid-batch leaves every bucket readable
    * from either live or backup, and the foreachBatch retry re-merges
    * idempotently (replace-by-key is stable under re-application).
    * Untouched bucket directories are never opened, let alone rewritten.
    *
    * Readers: `spark.read.parquet(path)` — the `_bucket` column
    * materializes from partition discovery; drop it (or feed it back
    * as a co-location hint for key-equi-joins against the snapshot).
    */
  final case class BucketedParquet(path: String, numBuckets: Int = 1)
      extends Target {
    def merge(spark: SparkSession, images: DataFrame, deleteKeys: DataFrame,
        keyCols: Seq[String], txn: Option[(String, Long)],
        stats: KeyStats): Unit = {
      import org.apache.hadoop.fs.Path
      import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
      val bucketOf = pmod(xxhash64(keyCols.map(col): _*), lit(numBuckets))
        .cast("int")
      val keys = images.select(keyCols.map(col): _*).unionByName(deleteKeys)
      // one bucket: a merge always carries keys, so bucket 0 is touched
      // and no job needs to say so
      val touched =
        if (numBuckets == 1) Array(0)
        else keys.select(bucketOf).distinct()
          .collect().map(_.getInt(0)).sorted // ≤ numBuckets values
      // resolve the filesystem FROM the state path (s3a://, hdfs://,
      // file:// all differ from fs.defaultFS in general)
      val fs = new Path(path).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      // Guard against a pre-bucketed (flat) snapshot at this path:
      // the bucket merge only reads `_bucket=<i>/` dirs, so flat
      // parquet here would be silently IGNORED and the keyset
      // rebuilt from one microbatch — fail loudly instead (migrate
      // by rewriting the old snapshot through a one-off batch
      // upsert into a fresh path).
      if (fs.exists(new Path(path))) {
        val flat = fs.listStatus(new Path(path)).filter { st =>
          val n = st.getPath.getName
          !n.startsWith("_bucket=") && !n.startsWith("_") &&
            !n.startsWith(".")
        }
        require(flat.isEmpty,
          s"unbucketed snapshot content at $path " +
            s"(e.g. ${flat.head.getPath.getName}); bucketed upsert " +
            "would ignore it — migrate the snapshot first")
      }
      val bakRoot = new Path(path + "_bak")
      def liveDir(b: Int) = new Path(path, s"_bucket=$b")
      def bakDir(b: Int) = new Path(bakRoot, s"_bucket=$b")
      // last committed copy per touched bucket (live wins; backup
      // covers the demote..promote crash window)
      val existingDirs = touched.flatMap { b =>
        if (fs.exists(liveDir(b))) Some(liveDir(b).toString)
        else if (fs.exists(bakDir(b))) Some(bakDir(b).toString)
        else None
      }
      val merged =
        if (existingDirs.isEmpty) images
        // leaf-dir read skips partition discovery; _bucket is
        // recomputed from the keys (same hash), not the dir name.
        // Older stream-written snapshots also hold `_op`/`_seq` image
        // columns, which are not payload: drop them.
        else spark.read.parquet(existingDirs.toIndexedSeq: _*)
          .drop(ChangeModel.OpCol, ChangeModel.SeqCol)
          .join(keys, keyCols, "left_anti")
          .unionByName(images, allowMissingColumns = true)
      val tmp = path + "_tmp"
      merged.withColumn("_bucket", bucketOf)
        // co-locate each bucket into one task → one file per bucket
        .repartition(math.max(touched.length, 1), col("_bucket"))
        .write.mode("overwrite").partitionBy("_bucket").parquet(tmp)
      fs.mkdirs(new Path(path))
      def renameOrFail(from: Path, to: Path): Unit =
        require(fs.rename(from, to), s"rename $from -> $to failed")
      touched.foreach { b =>
        val src = new Path(tmp, s"_bucket=$b")
        val dst = liveDir(b); val bak = bakDir(b)
        fs.mkdirs(bakRoot)
        if (fs.exists(dst)) {
          fs.delete(bak, true)
          renameOrFail(dst, bak)
        }
        // src may not exist when every key in the bucket was
        // deleted — the bucket's new state is empty
        if (fs.exists(src)) renameOrFail(src, dst)
        fs.delete(bak, true)
      }
      fs.delete(new Path(tmp), true)
    }
  }

  /** Keyed JDBC table — the portable equivalent of the reference's
    * ClickHouse sink (dozer-sink-clickhouse/src/sink.rs:262-288 batches
    * rows per epoch and flushes them keyed on the PK; ddl.rs:44 creates
    * the target). Per merge:
    *
    *   1. bulk-load images and delete keys (tagged by `_op`) into
    *      `<table>_staging` through Spark's JDBC writer (parallel, one
    *      transaction per partition — no row moves through the driver),
    *   2. one driver-side transaction merges staging into the target:
    *      `DELETE ... WHERE EXISTS (staging match)` then
    *      `INSERT ... SELECT` the staged images — ANSI-portable
    *      (Postgres/MySQL/Derby; swap for MERGE on engines where it's
    *      cheaper), exactly the delete+reinsert a ReplacingMergeTree
    *      collapse performs.
    *
    * The target table is created on first use from the images' layout.
    * Column names must be JDBC-identifier-safe.
    */
  final case class Jdbc(url: String, table: String,
      props: java.util.Properties = new java.util.Properties) extends Target {
    def merge(spark: SparkSession, images: DataFrame, deleteKeys: DataFrame,
        keyCols: Seq[String], txn: Option[(String, Long)],
        stats: KeyStats): Unit = {
      import org.apache.spark.sql.functions.lit
      val Op = ChangeModel.OpCol
      val staging = table + "_staging"
      val staged = images.withColumn(Op, lit(ChangeModel.Insert))
        .unionByName(deleteKeys.withColumn(Op, lit(ChangeModel.Delete)),
          allowMissingColumns = true)
      // string KEY columns must be declared as a comparable SQL type —
      // Spark's default string mapping is CLOB/TEXT on several dialects
      // (Derby among them) and CLOBs can't sit in an equality predicate.
      // Merge keys are short by contract; payload strings keep the default.
      val keyTypes = images.schema.fields
        .filter(f => keyCols.contains(f.name) &&
          f.dataType == org.apache.spark.sql.types.StringType)
        .map(f => s"${f.name} VARCHAR(512)")
      def writer(df: DataFrame) = {
        val w = df.write
        if (keyTypes.nonEmpty)
          w.option("createTableColumnTypes", keyTypes.mkString(", ")) else w
      }
      writer(staged).mode("overwrite").jdbc(url, staging, props)
      // create the target on first use through Spark's own JDBC writer
      // (SaveMode.Ignore: create-if-missing, no-op otherwise) — the
      // dialect supplies portable DDL, where a hand-written
      // CREATE TABLE ... AS would not survive MySQL
      writer(images.limit(0)).mode("ignore").jdbc(url, table, props)
      // Spark's JDBC writer creates columns dialect-quoted
      // (case-preserved); the merge SQL must quote identically or
      // case-normalizing engines (Derby, Postgres) won't resolve them
      val dialect = org.apache.spark.sql.jdbc.JdbcDialects.get(url)
      def q(id: String) = dialect.quoteIdentifier(id)
      val colList = images.columns.map(q).mkString(", ")
      val keyMatch = keyCols
        .map(k => s"$table.${q(k)} = s.${q(k)}").mkString(" AND ")
      val conn = java.sql.DriverManager.getConnection(url, props)
      try {
        conn.setAutoCommit(false)
        val st = conn.createStatement()
        try {
          st.executeUpdate(
            s"DELETE FROM $table WHERE EXISTS " +
              s"(SELECT 1 FROM $staging s WHERE $keyMatch)")
          // CAST: dialects that map StringType to CLOB (Derby) don't
          // support <> directly on the column
          st.executeUpdate(
            s"INSERT INTO $table ($colList) SELECT $colList " +
              s"FROM $staging WHERE CAST(${q(Op)} AS VARCHAR(32)) <> " +
              s"'${ChangeModel.Delete}'")
          conn.commit()
        } catch {
          case e: Throwable => conn.rollback(); throw e
        } finally st.close()
      } finally conn.close()
    }
  }

  /** The keyed-sink body: collapse `batch` to one final row per key and
    * hand the images and delete keys to `target`. Input is either CDC
    * shaped (both `_op` and `_seq`) or plain rows (neither), which become
    * inserts ordered by arrival. Runs once per micro-batch under
    * [[upsert]] and once per run for a batch pipeline's keyed sinks.
    */
  def upsertBatch(batch: DataFrame, keyCols: Seq[String], target: Target,
      txn: Option[(String, Long)] = None): Unit = {
    import org.apache.spark.sql.functions.{col, lit,
      monotonically_increasing_id}
    import ChangeModel.{OpCol, SeqCol}
    require(keyCols.nonEmpty, "a keyed sink needs key columns")
    val hasOp = batch.columns.contains(OpCol)
    val hasSeq = batch.columns.contains(SeqCol)
    require(hasOp == hasSeq,
      s"sink input has ${if (hasOp) OpCol else SeqCol} without its " +
        "partner column; provide both (CDC shape) or neither " +
        "(plain upsert images)")
    val changes =
      if (hasOp) batch
      else batch
        .withColumn(OpCol, lit(ChangeModel.Insert))
        .withColumn(SeqCol, monotonically_increasing_id())
    // the key stats ride the checkpoint's own job as observed metrics —
    // no separate pass for the empty check or the merge's key ranges —
    // read from its executed plan once the checkpoint returns (an
    // Observation would wait for the listener bus to deliver them)
    val collapsed = ChangeModel.latestRows(changes, keyCols)
    val statCols = KeyStats.columns(collapsed.schema, keyCols)
    val observed = collapsed.observe("key_stats", statCols.head,
      statCols.tail: _*)
    // one row per key, reused for both splits
    val latest = observed.localCheckpoint()
    try {
      val metrics = observed.queryExecution.observedMetrics("key_stats")
      val stats = KeyStats.of(metrics.getAs[Any], collapsed.schema, keyCols)
      if (stats.rows > 0)
        target.merge(batch.sparkSession,
          latest.filter(col(OpCol) === ChangeModel.Insert).drop(OpCol, SeqCol),
          latest.filter(col(OpCol) === ChangeModel.Delete)
            .select(keyCols.map(col): _*),
          keyCols, txn, stats)
    } finally {
      // the checkpoint's blocks ARE its data and otherwise stay in the
      // block manager until a GC happens to reclaim the RDD: drop them
      // once the merge has committed (no Spark job)
      latest.queryExecution.logical.foreach {
        case r: org.apache.spark.sql.execution.LogicalRDD =>
          r.rdd.unpersist(blocking = false); ()
        case _ => ()
      }
    }
  }

  /** Streaming keyed sink: [[upsertBatch]] per checkpointed micro-batch,
    * with `txn = (appId, batchId)`. `appId` must stay stable for the
    * sink across restarts; it defaults to the checkpoint location, the
    * scope the batch ids are numbered in.
    */
  def upsert(changes: DataFrame, keyCols: Seq[String], target: Target,
      checkpoint: String, appId: Option[String] = None,
      queryName: Option[String] = None): StreamingQuery =
    stream(changes, (batch, txn) => upsertBatch(batch, keyCols, target, txn),
      OutputMode.Update, checkpoint, appId.getOrElse(checkpoint), queryName)
}

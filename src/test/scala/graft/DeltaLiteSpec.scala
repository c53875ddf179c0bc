package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.DeltaLite

final case class CkAdd(path: String, partitionValues: Map[String, String])
final case class CkMeta(schemaString: String, partitionColumns: Seq[String],
    configuration: Map[String, String])
final case class CkProto(minReaderVersion: Int, minWriterVersion: Int,
    readerFeatures: Seq[String])
final case class CkDv(storageType: String, pathOrInlineDv: String,
    offset: Option[Long], sizeInBytes: Long, cardinality: Long)
final case class CkAddDv(path: String, partitionValues: Map[String, String],
    deletionVector: Option[CkDv])
final case class V2Meta(version: Long)
final case class V2Side(path: String, sizeInBytes: Long)

/** Native Delta snapshot reader over hand-crafted transaction logs —
  * the log format is public (delta.io PROTOCOL.md), so the fixtures
  * build real tables: parquet data files + `_delta_log` JSON commits +
  * a parquet checkpoint, no delta-spark involved on either side.
  */
class DeltaLiteSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def fs(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write `df` as ONE parquet file named `name` under `table`. */
  private def writeDataFile(df: DataFrame, table: String,
      name: String): Unit = {
    val stage = table + "_stage"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val f = fs(table).listStatus(new Path(stage))
      .map(_.getPath).find(_.getName.startsWith("part-")).get
    fs(table).mkdirs(new Path(table))
    assert(fs(table).rename(f, new Path(table, name)))
    fs(table).delete(new Path(stage), true)
    ()
  }

  private def writeLog(table: String, version: Long,
      lines: Seq[String]): Unit = {
    val dir = new Path(table, "_delta_log")
    fs(table).mkdirs(dir)
    val out = fs(table).create(new Path(dir, f"$version%020d.json"), true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  private def metaAction(schemaJson: String,
      partCols: Seq[String] = Nil): String = {
    val pc = partCols.map("\"" + _ + "\"").mkString("[", ",", "]")
    s"""{"metaData":{"id":"t1","format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":${escape(schemaJson)},"partitionColumns":$pc,""" +
      s""""configuration":{},"createdTime":1}}"""
  }

  private def escape(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  test("snapshot replay: adds across commits, removes drop files, " +
      "latest metaData wins") {
    val t = java.nio.file.Files.createTempDirectory("delta_basic").toString
    val schema = Seq((1L, "a")).toDF("k", "v").schema
    writeDataFile(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t, "f1.parquet")
    writeDataFile(Seq((3L, "c")).toDF("k", "v"), t, "f2.parquet")
    writeDataFile(Seq((4L, "d")).toDF("k", "v"), t, "f3.parquet")
    writeLog(t, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaAction(schema.json),
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""",
      """{"add":{"path":"f2.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    writeLog(t, 1, Seq(
      """{"commitInfo":{"operation":"WRITE"}}""",
      """{"remove":{"path":"f2.parquet","deletionTimestamp":2,"dataChange":true}}""",
      """{"add":{"path":"f3.parquet","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true}}"""))
    val got = DeltaLite.read(spark, t)
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "b"), (4L, "d"))) // f2 removed
    val snap = DeltaLite.snapshot(spark, t)
    assert(snap.version == 1L && snap.files.keySet == Set("f1.parquet", "f3.parquet"))
  }

  test("partition columns come from partitionValues as typed literals; " +
      "null partition values read as NULL") {
    val t = java.nio.file.Files.createTempDirectory("delta_part").toString
    // table schema includes partition cols; data files carry only (k, v)
    val full = Seq((1L, "a", 10, "x")).toDF("k", "v", "p_num", "p_str").schema
    writeDataFile(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t, "pa.parquet")
    writeDataFile(Seq((3L, "c")).toDF("k", "v"), t, "pb.parquet")
    writeLog(t, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaAction(full.json, Seq("p_num", "p_str")),
      """{"add":{"path":"pa.parquet","partitionValues":{"p_num":"7","p_str":"hi"},"size":1,"modificationTime":1,"dataChange":true}}""",
      """{"add":{"path":"pb.parquet","partitionValues":{"p_num":"9","p_str":null},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val got = DeltaLite.read(spark, t)
      .select("k", "p_num", "p_str")
      .collect().map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSet
    assert(got == Set((1L, 7, "hi"), (2L, 7, "hi"), (3L, 9, null)))
  }

  test("checkpoint parquet seeds the state; later commits replay on top; " +
      "_last_checkpoint is honored") {
    val t = java.nio.file.Files.createTempDirectory("delta_ckpt").toString
    val schema = Seq((1L, "a")).toDF("k", "v").schema
    writeDataFile(Seq((1L, "a")).toDF("k", "v"), t, "c1.parquet")
    writeDataFile(Seq((2L, "b")).toDF("k", "v"), t, "c2.parquet")
    writeDataFile(Seq((3L, "c")).toDF("k", "v"), t, "c3.parquet")
    // checkpoint at version 2 holds metaData + the then-live adds
    val ck = Seq(
      (Option(CkAdd("c1.parquet", Map.empty)), Option.empty[CkMeta]),
      (Option(CkAdd("c2.parquet", Map.empty)), Option.empty[CkMeta]),
      (Option.empty[CkAdd],
        Option(CkMeta(schema.json, Nil, Map.empty))))
      .toDF("add", "metaData")
    val stage = t + "_ckstage"
    ck.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = fs(t).listStatus(new Path(stage))
      .map(_.getPath).find(_.getName.startsWith("part-")).get
    val logDir = new Path(t, "_delta_log")
    fs(t).mkdirs(logDir)
    assert(fs(t).rename(part,
      new Path(logDir, f"${2L}%020d.checkpoint.parquet")))
    fs(t).delete(new Path(stage), true)
    val lc = fs(t).create(new Path(logDir, "_last_checkpoint"), true)
    try lc.write("""{"version":2,"size":3}""".getBytes("UTF-8"))
    finally lc.close()
    // commit 3 after the checkpoint: drop c1, add c3
    writeLog(t, 3, Seq(
      """{"remove":{"path":"c1.parquet","deletionTimestamp":5,"dataChange":true}}""",
      """{"add":{"path":"c3.parquet","partitionValues":{},"size":1,"modificationTime":5,"dataChange":true}}"""))
    val got = DeltaLite.read(spark, t).as[(Long, String)].collect().toSet
    assert(got == Set((2L, "b"), (3L, "c")))
    assert(DeltaLite.snapshot(spark, t).version == 3L)
  }

  test("advanced-protocol tables refuse loudly: reader features, " +
      "column mapping, deletion vectors; non-delta path refuses") {
    val t = java.nio.file.Files.createTempDirectory("delta_bad").toString
    val schema = Seq((1L, "a")).toDF("k", "v").schema
    writeLog(t, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["typeWidening"]}}""",
      metaAction(schema.json)))
    val e1 = intercept[IllegalArgumentException](DeltaLite.snapshot(spark, t))
    assert(e1.getMessage.contains("typeWidening") &&
      e1.getMessage.contains("delta-spark"), e1.getMessage)
    val t2 = java.nio.file.Files.createTempDirectory("delta_bad2").toString
    writeLog(t2, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"t2","format":{"provider":"parquet","options":{}},"schemaString":${escape(schema.json)},"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"unknown-future-mode"},"createdTime":1}}"""))
    val e2 = intercept[IllegalArgumentException](DeltaLite.snapshot(spark, t2))
    assert(e2.getMessage.contains("column mapping"), e2.getMessage)
    // an UNKNOWN deletion-vector storage type refuses at read time
    val t3 = java.nio.file.Files.createTempDirectory("delta_bad3").toString
    writeDataFile(Seq((1L, "a")).toDF("k", "v"), t3, "x.parquet")
    writeLog(t3, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaAction(schema.json),
      """{"add":{"path":"x.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,"deletionVector":{"storageType":"x","pathOrInlineDv":"d","offset":1,"sizeInBytes":1,"cardinality":1}}}"""))
    val e3 = intercept[IllegalArgumentException](
      DeltaLite.read(spark, t3).collect())
    assert(e3.getMessage.contains("storageType"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException](DeltaLite.snapshot(
      spark, java.nio.file.Files.createTempDirectory("notdelta").toString))
    assert(e4.getMessage.contains("_delta_log"), e4.getMessage)
  }

  test("version-pinned reads and O(changed-files) CDC between versions " +
      "equal the full-snapshot diff") {
    val t = java.nio.file.Files.createTempDirectory("delta_cdc").toString
    val schema = Seq((1L, "a")).toDF("k", "v").schema
    // v0: keys 1..3 in two files; v1: key 2 rewritten + key 4 added in
    // a new file, one old file removed (delta files are immutable, so a
    // rewrite = remove + add)
    writeDataFile(Seq((1L, "a")).toDF("k", "v"), t, "s1.parquet")
    writeDataFile(Seq((2L, "b"), (3L, "c")).toDF("k", "v"), t, "s2.parquet")
    writeDataFile(Seq((2L, "B"), (3L, "c"), (4L, "d")).toDF("k", "v"),
      t, "s3.parquet")
    writeLog(t, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaAction(schema.json),
      """{"add":{"path":"s1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""",
      """{"add":{"path":"s2.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    writeLog(t, 1, Seq(
      """{"remove":{"path":"s2.parquet","deletionTimestamp":2,"dataChange":true}}""",
      """{"add":{"path":"s3.parquet","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true}}"""))
    // pinned reads see each version's state
    assert(DeltaLite.read(spark, t, asOf = Some(0L))
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(DeltaLite.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d")))
    // O(changed-files) CDC: only s2 (removed) and s3 (added) are read;
    // key 1 (untouched file) emits nothing, key 3 (same value, moved
    // files) cancels, key 2 updates, key 4 inserts
    val changes = DeltaLite.changesBetween(spark, t, 0L, 1L, Seq("k"))
    val ops = changes.select("k", "_op").as[(Long, String)].collect().toMap
    assert(ops == Map(2L -> "update_postimage", 4L -> "insert"), ops)
    // equality with the full-snapshot diff (the law the file-level
    // restriction must preserve)
    val full = graft.cdc.SnapshotDiff.changes(
      DeltaLite.read(spark, t, Some(0L)), DeltaLite.read(spark, t, Some(1L)),
      Seq("k"))
    assert(changes.collect().map(_.toString).sorted.toSeq ==
      full.collect().map(_.toString).sorted.toSeq)
    // and the rebuilt state law: v0-as-inserts + changes == v1
    val rebuilt = graft.cdc.ChangeModel.applyChanges(
      DeltaLite.read(spark, t, Some(0L))
        .withColumn("_op", lit(graft.cdc.ChangeModel.Insert))
        .withColumn("_seq", lit(0L))
        .unionByName(changes), Seq("k"))
    assert(rebuilt.as[(Long, String)].collect().toSet ==
      DeltaLite.read(spark, t).as[(Long, String)].collect().toSet)
  }

  test("native writer: append commits accumulate, overwrite replaces, " +
      "version claims are put-if-absent, round-trips through the reader") {
    val t = java.nio.file.Files.createTempDirectory("delta_write").toString + "/tbl"
    assert(DeltaLite.write(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t) == 0L)
    assert(DeltaLite.write(spark,
      Seq((3L, "c")).toDF("k", "v"), t) == 1L)
    assert(DeltaLite.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // version-pinned read sees the first commit only
    assert(DeltaLite.read(spark, t, Some(0L))
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
    // overwrite replaces the snapshot (remove actions + new adds)
    assert(DeltaLite.write(spark,
      Seq((9L, "z")).toDF("k", "v"), t, mode = "overwrite") == 2L)
    assert(DeltaLite.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((9L, "z")))
    // history is intact: pre-overwrite versions still read
    assert(DeltaLite.read(spark, t, Some(1L)).count() == 3)
    // schema drift refuses
    val eSchema = intercept[IllegalArgumentException](
      DeltaLite.write(spark, Seq((1L, 2L)).toDF("k", "n"), t))
    assert(eSchema.getMessage.contains("schema mismatch"))
    // a commit file landing between our snapshot read and our claim is
    // the race the put-if-absent create guards; from the outside the
    // observable contract is that versions stay MONOTONE and no commit
    // is ever overwritten — a foreign (empty) commit file is simply the
    // next version, and our write claims the one after
    val fsys = fs(t)
    val next = new Path(t, "_delta_log/" + f"${3L}%020d.json")
    fsys.create(next, false).close()
    assert(DeltaLite.write(spark, Seq((5L, "e")).toDF("k", "v"), t) == 4L)
    assert(DeltaLite.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((9L, "z"), (5L, "e")))
  }

  test("streaming append sink: txn protocol makes batches exactly-once " +
      "across stop/restart and skips retried batch ids") {
    val base = java.nio.file.Files.createTempDirectory("delta_stream").toString
    val tbl = s"$base/tbl"; val ckpt = s"$base/ckpt"; val src = s"$base/src"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.mode("overwrite").parquet(src)
    def run(): Unit = {
      val stream = spark.readStream
        .schema(Seq((1L, "a")).toDF("k", "v").schema).parquet(src)
      val q = graft.sinks.Sinks.stream(stream, (batch, txn) => {
          DeltaLite.write(batch.sparkSession, batch, tbl, "append", txn = txn)
          ()
        }, org.apache.spark.sql.streaming.OutputMode.Append, ckpt, "app1",
        queryName = None)
      assert(q.awaitTermination(120000), "stream timed out")
    }
    run()
    assert(DeltaLite.read(spark, tbl).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // restart with MORE source data: only the new file lands (the
    // checkpoint resumes the source; the table log has batch 0's txn)
    Seq((3L, "c")).toDF("k", "v").write.mode("append").parquet(src)
    run()
    val after = DeltaLite.read(spark, tbl).as[(Long, String)].collect().toSeq
    assert(after.size == 3 && after.toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")), after.toString)
    // a RETRIED batch id (foreachBatch redelivery) is skipped against
    // the table's txn high-water mark — no double append
    val hwm = DeltaLite.snapshot(spark, tbl).txns("app1")
    DeltaLite.write(spark, Seq((9L, "dup")).toDF("k", "v"), tbl,
      "append", txn = Some(("app1", hwm)))
    assert(DeltaLite.read(spark, tbl).count() == 3)
    // a NEW transaction version commits normally
    DeltaLite.write(spark, Seq((9L, "new")).toDF("k", "v"), tbl,
      "append", txn = Some(("app1", hwm + 1)))
    assert(DeltaLite.read(spark, tbl).count() == 4)
  }

  test("native checkpointing: the written checkpoint seeds the reader, " +
      "later commits replay on top, txn high-water marks survive") {
    val t = java.nio.file.Files.createTempDirectory("delta_ckw").toString + "/tbl"
    DeltaLite.write(spark, Seq((1L, "a")).toDF("k", "v"), t)
    DeltaLite.write(spark, Seq((2L, "b")).toDF("k", "v"), t,
      txn = Some(("appX", 5L)))
    assert(DeltaLite.checkpoint(spark, t) == 1L)
    // post-checkpoint commit
    DeltaLite.write(spark, Seq((3L, "c")).toDF("k", "v"), t)
    // the reader must now seed from the checkpoint (delete the JSON
    // commits it covers to PROVE the checkpoint is what's read)
    val fsys = fs(t)
    fsys.delete(new Path(t, "_delta_log/" + "0" * 20 + ".json"), false)
    fsys.delete(new Path(t, "_delta_log/" + "0" * 19 + "1.json"), false)
    val got = DeltaLite.read(spark, t).as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "b"), (3L, "c")))
    val snap = DeltaLite.snapshot(spark, t)
    assert(snap.version == 2L && snap.txns("appX") == 5L)
    // a retried txn version is still skipped after checkpointing
    DeltaLite.write(spark, Seq((9L, "dup")).toDF("k", "v"), t,
      txn = Some(("appX", 5L)))
    assert(DeltaLite.read(spark, t).count() == 3)
  }

  test("writer emits per-file stats; the snapshot carries them; " +
      "pruning skips range-disjoint files") {
    val t = java.nio.file.Files.createTempDirectory("delta_stats").toString + "/tbl"
    DeltaLite.write(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1), t)
    DeltaLite.write(spark,
      Seq((100L, "x"), (101L, "y"), (102L, "z")).toDF("k", "v").coalesce(1), t)
    val snap = DeltaLite.snapshot(spark, t)
    assert(snap.files.size == 2 && snap.stats.size == 2, snap.files.keys)
    // stats JSON is spec-shaped and typed
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val byMin = snap.stats.values.map(om.readTree).toSeq
      .sortBy(_.get("minValues").get("k").asLong)
    assert(byMin.head.get("numRecords").asLong == 3)
    assert(byMin.head.get("minValues").get("k").asLong == 1 &&
      byMin.head.get("maxValues").get("k").asLong == 3)
    assert(byMin.head.get("minValues").get("v").asText == "a" &&
      byMin.head.get("maxValues").get("v").asText == "c")
    assert(byMin.head.get("nullCount").get("k").asLong == 0)
    assert(byMin(1).get("minValues").get("k").asLong == 100)
    // range pruning: a batch touching [2, 50] can only live in file 1
    val one = java.math.BigDecimal.valueOf(2L)
    val fifty = java.math.BigDecimal.valueOf(50L)
    val cands = DeltaLite.pruneCandidates(snap, Map("k" -> ((one, fifty))))
    assert(cands.size == 1, cands.keys)
    val full = DeltaLite.pruneCandidates(snap,
      Map("k" -> ((one, java.math.BigDecimal.valueOf(200L))))) // spans both
    assert(full.size == 2)
    // string bounds prune too (lexicographic, matching the column order)
    val sCands = DeltaLite.pruneCandidates(snap, Map("v" -> (("a", "b"))))
    assert(sCands.size == 1, sCands.keys)
    // unknown column / missing stats: conservative (keeps everything)
    assert(DeltaLite.pruneCandidates(snap,
      Map("nope" -> ((one, fifty)))).size == 2)
  }

  test("upsert rewrites ONLY touched files (copy-on-write MERGE): " +
      "updates replace, new keys insert, range-pruned files survive") {
    val t = java.nio.file.Files.createTempDirectory("delta_upsert").toString + "/tbl"
    DeltaLite.write(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1), t)
    DeltaLite.write(spark,
      Seq((100L, "x"), (101L, "y"), (102L, "z")).toDF("k", "v").coalesce(1), t)
    val before = DeltaLite.snapshot(spark, t)
    val loFile = before.files.keys.find { p =>
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(before.stats(p)).get("minValues").get("k").asLong == 1
    }.get
    val hiFile = (before.files.keySet - loFile).head
    // update k=2, insert k=50: batch range [2,50] is disjoint from the
    // hi file's [100,102] — that file must NOT be rewritten
    val v = DeltaLite.upsert(spark,
      Seq((2L, "B!"), (50L, "new")).toDF("k", "v"), t, Seq("k"))
    assert(v == 2L)
    assert(DeltaLite.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "B!"), (3L, "c"), (50L, "new"),
        (100L, "x"), (101L, "y"), (102L, "z")))
    val after = DeltaLite.snapshot(spark, t)
    assert(after.files.contains(hiFile),
      "range-disjoint file was rewritten — pruning failed")
    assert(!after.files.contains(loFile), "touched file was not replaced")
    // upsert with NO touched file (all-new keys) appends without removes
    val v2 = DeltaLite.upsert(spark,
      Seq((7777L, "n")).toDF("k", "v"), t, Seq("k"))
    assert(v2 == 3L)
    val after2 = DeltaLite.snapshot(spark, t)
    assert(after.files.keySet.subsetOf(after2.files.keySet),
      "all-new-keys upsert must not remove any file")
    assert(DeltaLite.read(spark, t).count() == 8)
    // upsert creates the table when absent
    val t2 = java.nio.file.Files.createTempDirectory("delta_upsert2")
      .toString + "/tbl"
    assert(DeltaLite.upsert(spark,
      Seq((1L, "a")).toDF("k", "v"), t2, Seq("k")) == 0L)
    assert(DeltaLite.read(spark, t2).count() == 1)
  }

  test("upsert contract: duplicate keys, null keys, schema drift, and " +
      "empty-batch-create all raise; txn retries are skipped") {
    val t = java.nio.file.Files.createTempDirectory("delta_upsert3").toString + "/tbl"
    DeltaLite.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    val eDup = intercept[IllegalArgumentException](DeltaLite.upsert(spark,
      Seq((5L, "x"), (5L, "y")).toDF("k", "v"), t, Seq("k")))
    assert(eDup.getMessage.contains("distinct"), eDup.getMessage)
    val eNull = intercept[IllegalArgumentException](DeltaLite.upsert(spark,
      Seq((Option(5L), "x"), (Option.empty[Long], "y")).toDF("k", "v"),
      t, Seq("k")))
    assert(eNull.getMessage.contains("null key"), eNull.getMessage)
    val eSchema = intercept[IllegalArgumentException](DeltaLite.upsert(spark,
      Seq((5L, 6L)).toDF("k", "n"), t, Seq("k")))
    assert(eSchema.getMessage.contains("schema mismatch"), eSchema.getMessage)
    val eKey = intercept[IllegalArgumentException](DeltaLite.upsert(spark,
      Seq((5L, "x")).toDF("k", "v"), t, Seq("missing")))
    assert(eKey.getMessage.contains("missing"), eKey.getMessage)
    // empty batch: no-op on an existing table, refuses to create one
    val vBefore = DeltaLite.snapshot(spark, t).version
    assert(DeltaLite.upsert(spark,
      Seq.empty[(Long, String)].toDF("k", "v"), t, Seq("k")) == vBefore)
    assert(DeltaLite.snapshot(spark, t).version == vBefore)
    intercept[IllegalArgumentException](DeltaLite.upsert(spark,
      Seq.empty[(Long, String)].toDF("k", "v"),
      java.nio.file.Files.createTempDirectory("delta_e").toString + "/nope",
      Seq("k")))
    // txn protocol: a retried (appId, version) is skipped exactly like
    // the append sink's
    val hwmV = DeltaLite.upsert(spark, Seq((2L, "B")).toDF("k", "v"), t,
      Seq("k"), txn = Some(("up1", 10L)))
    assert(DeltaLite.upsert(spark, Seq((2L, "DUP")).toDF("k", "v"), t,
      Seq("k"), txn = Some(("up1", 10L))) == hwmV)
    assert(DeltaLite.read(spark, t).as[(Long, String)].collect().toSet
      .contains((2L, "B")))
  }

  test("upsert deletes remove keys atomically with the merge; " +
      "latestRows splits terminal images from terminal deletes") {
    val t = java.nio.file.Files.createTempDirectory("delta_del").toString + "/tbl"
    DeltaLite.write(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1), t)
    DeltaLite.write(spark,
      Seq((100L, "x"), (101L, "y")).toDF("k", "v").coalesce(1), t)
    // one commit: replace k=1, delete k=3, insert k=5 — the far file
    // [100,101] is range-disjoint from [1,5] and must survive untouched
    val before = DeltaLite.snapshot(spark, t)
    val farFile = before.files.keys.find { p =>
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(before.stats(p)).get("minValues").get("k").asLong == 100
    }.get
    DeltaLite.upsert(spark,
      Seq((1L, "A"), (5L, "e")).toDF("k", "v"), t, Seq("k"),
      deleteKeys = Some(Seq(Tuple1(3L)).toDF("k")))
    assert(DeltaLite.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((1L, "A"), (2L, "b"), (5L, "e"), (100L, "x"), (101L, "y")))
    assert(DeltaLite.snapshot(spark, t).files.contains(farFile))
    // a key in BOTH batch and deletes is a contract error
    val eBoth = intercept[IllegalArgumentException](DeltaLite.upsert(spark,
      Seq((7L, "x")).toDF("k", "v"), t, Seq("k"),
      deleteKeys = Some(Seq(Tuple1(7L)).toDF("k"))))
    assert(eBoth.getMessage.contains("distinct"), eBoth.getMessage)
    // deleting an absent key is a MERGE no-op
    DeltaLite.upsert(spark, Seq((2L, "B")).toDF("k", "v"), t, Seq("k"),
      deleteKeys = Some(Seq(Tuple1(999L)).toDF("k")))
    assert(DeltaLite.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((1L, "A"), (2L, "B"), (5L, "e"), (100L, "x"), (101L, "y")))

    // latestRows: the split the sink feeds from
    import graft.cdc.ChangeModel
    val changes = Seq(
      (1L, "a", "insert", 1L), (1L, "A", "update_postimage", 2L),
      (2L, "b", "insert", 1L), (2L, "b", "delete", 3L),
      (3L, "c", "insert", 4L)).toDF("k", "v", "_op", "_seq")
    val latest = ChangeModel.latestRows(changes, Seq("k"))
    val byKey = latest.select("k", "v", "_op").as[(Long, String, String)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(byKey == Map(1L -> (("A", "insert")), 2L -> (("b", "delete")),
      3L -> (("c", "insert"))))
  }

  test("streaming upsert sink: CDC micro-batches merge copy-on-write " +
      "with deletes, exactly-once across restart") {
    val base = java.nio.file.Files.createTempDirectory("delta_ustream").toString
    val tbl = s"$base/tbl"; val ckpt = s"$base/ckpt"; val src = s"$base/src"
    val schema = Seq((1L, "a", "insert", 1L)).toDF("k", "v", "_op", "_seq").schema
    Seq((1L, "a", "insert", 1L), (2L, "b", "insert", 2L),
      (3L, "c", "insert", 3L)).toDF("k", "v", "_op", "_seq")
      .write.mode("overwrite").parquet(src)
    def run(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(src)
      val q = graft.sinks.Sinks.upsert(stream, Seq("k"),
        graft.sinks.Sinks.Delta(tbl), ckpt, appId = Some("uapp1"))
      assert(q.awaitTermination(120000), "stream timed out")
    }
    run()
    assert(DeltaLite.read(spark, tbl).select("k", "v")
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // restart with an update + a delete: the checkpoint resumes the
    // source, the merge replaces k=1 and removes k=2
    Seq((1L, "A!", "update_postimage", 10L), (2L, "b", "delete", 11L))
      .toDF("k", "v", "_op", "_seq").write.mode("append").parquet(src)
    run()
    assert(DeltaLite.read(spark, tbl).select("k", "v")
      .as[(Long, String)].collect().toSet ==
      Set((1L, "A!"), (3L, "c")))
    // re-running with nothing new is a no-op (txn + checkpoint)
    val vBefore = DeltaLite.snapshot(spark, tbl).version
    run()
    assert(DeltaLite.snapshot(spark, tbl).version == vBefore)
  }

  /** A one-file Delta table of keys 1..200 → "v<k>". */
  private def seededTable(prefix: String): String = {
    val t = java.nio.file.Files.createTempDirectory(prefix).toString + "/tbl"
    DeltaLite.write(spark,
      (1L to 200L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1), t)
    t
  }

  private def keyedRows(t: String): Map[Long, String] =
    DeltaLite.read(spark, t).as[(Long, String)].collect().toMap

  /** Updates (k=1 twice, k=3), a delete (k=2) and an insert (k=500). */
  private def changeBatch: DataFrame = Seq(
    (1L, "A", "update_postimage", 1L), (2L, "b", "delete", 2L),
    (500L, "new", "insert", 3L), (1L, "AA", "update_postimage", 4L),
    (3L, "C", "update_postimage", 5L)).toDF("k", "v", "_op", "_seq")

  private def afterChangeBatch: Map[Long, String] =
    (1L to 200L).map(k => k -> s"v$k").toMap - 2L +
      (1L -> "AA") + (3L -> "C") + (500L -> "new")

  /** `body` with `spark.sql.adaptive.advisoryPartitionSizeInBytes` at
    * `bytes`, the size an upsert's one-file rewrite must fit to be small. */
  private def withAdvisoryBytes[T](bytes: Long)(body: => T): T = {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, bytes.toString)
    try body finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("one small keyed-sink micro-batch into an existing one-file Delta " +
      "table runs at most 4 Spark jobs in 2 SQL executions") {
    val t = seededTable("delta_jobs_small")
    val counted = org.apache.spark.graft.JobCount(spark) {
      graft.sinks.Sinks.upsertBatch(changeBatch, Seq("k"),
        graft.sinks.Sinks.Delta(t), Some(("jobs", 1L)))
    }
    // collapse + checkpoint (stats observed on its job), then the
    // rewrite (key broadcast, write): no touched-file probe, no
    // rebalance shuffle
    info(s"${counted.jobs} jobs in ${counted.sqlExecutions} SQL executions")
    assert(counted.jobs <= 4 && counted.sqlExecutions <= 2,
      s"${counted.jobs} jobs in ${counted.sqlExecutions} SQL executions")
    assert(keyedRows(t) == afterChangeBatch)
  }

  test("one keyed-sink micro-batch into an existing Delta table runs at " +
      "most 7 Spark jobs in 3 SQL executions") {
    val t = seededTable("delta_jobs")
    // a merge too large for one file keeps the touched-file probe
    val counted = withAdvisoryBytes(1)(org.apache.spark.graft.JobCount(spark) {
      graft.sinks.Sinks.upsertBatch(changeBatch, Seq("k"),
        graft.sinks.Sinks.Delta(t), Some(("jobs", 1L)))
    })
    // collapse + checkpoint (stats observed on its job), the touched-file
    // probe, the rewrite
    info(s"${counted.jobs} jobs in ${counted.sqlExecutions} SQL executions")
    assert(counted.jobs <= 7 && counted.sqlExecutions <= 3,
      s"${counted.jobs} jobs in ${counted.sqlExecutions} SQL executions")
    assert(keyedRows(t) == afterChangeBatch)
  }

  test("a one-file upsert whose recorded file size exceeds the advisory " +
      "size probes for touched files, though rows × default row width fit") {
    val rnd = new scala.util.Random(7)
    /** A one-file table of keys 1..200 with `width`-char random values. */
    def table(prefix: String, width: Int): String = {
      val t = java.nio.file.Files.createTempDirectory(prefix).toString + "/tbl"
      DeltaLite.write(spark, (1L to 200L)
        .map(k => (k, rnd.alphanumeric.take(width).mkString))
        .toDF("k", "v").coalesce(1), t)
      t
    }
    val advisory = 64L * 1024
    val wide = table("delta_wide", 2000)
    val narrow = table("delta_narrow", 4)
    // 202 rows at the default width (long 8 + string 20 bytes) would fit;
    // the wide table's file alone does not
    assert(202L * (8 + 20) < advisory)
    assert(DeltaLite.snapshot(spark, wide).sizes.values.forall(_ > advisory))
    def merge(t: String): Int = withAdvisoryBytes(advisory)(
      org.apache.spark.graft.JobCount(spark) {
        DeltaLite.upsert(spark, Seq((1L, "A"), (300L, "new")).toDF("k", "v"),
          t, Seq("k"))
      }).jobs
    val (wideJobs, narrowJobs) = (merge(wide), merge(narrow))
    info(s"wide: $wideJobs jobs, narrow: $narrowJobs jobs")
    // the wide merge adds the touched-file probe (key broadcast, scan)
    assert(wideJobs >= narrowJobs + 2, s"wide $wideJobs, narrow $narrowJobs")
    Seq(wide, narrow).foreach { t =>
      val rows = keyedRows(t)
      assert(rows.size == 201 && rows(1L) == "A" && rows(300L) == "new")
    }
  }

  test("a small upsert rewrites a candidate that holds none of its keys: " +
      "rows intact and once, remove + add in one version, CDF inserts " +
      "only, row ids kept, the DV absorbed") {
    val t = java.nio.file.Files.createTempDirectory("delta_smallmiss")
      .toString + "/tbl"
    // one file of odd keys 1..19: stats range [1, 19]
    DeltaLite.write(spark,
      (1L to 19L by 2L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1), t,
      configuration = Map("delta.enableChangeDataFeed" -> "true",
        "delta.enableRowTracking" -> "true"))
    // the first MERGE mints the materialized row-id columns, so the
    // MERGE under test rewrites a file that already carries them
    DeltaLite.upsert(spark, Seq((1L, "v1")).toDF("k", "v"), t, Seq("k"))
    DeltaLite.deleteWhere(spark, t, col("k") === 5L)
    val before = DeltaLite.snapshot(spark, t)
    assert(before.files.size == 1 && before.dvs.size == 1)
    val oldFile = before.files.keys.head
    def ids(): Map[Long, Long] = DeltaLite.readWithRowIds(spark, t)
      .select(col("k"), col("_row_id")).as[(Long, Long)].collect().toMap
    val idsBefore = ids()
    // even keys inside the file's stats range, none of them in the file
    val v = DeltaLite.upsert(spark,
      Seq((2L, "new2"), (4L, "new4")).toDF("k", "v"), t, Seq("k"))
    assert(v == before.version + 1)
    val after = DeltaLite.snapshot(spark, t)
    assert(!after.files.contains(oldFile),
      "the unprobed candidate must be removed")
    assert(after.files.size == 1 && after.dvs.isEmpty, after.dvs)
    val commit = scala.io.Source.fromFile(
      new java.io.File(t, f"_delta_log/$v%020d.json"))
    val actions = try commit.getLines().toList finally commit.close()
    assert(actions.count(_.startsWith("{\"remove\"")) == 1 &&
      actions.exists(a => a.startsWith("{\"remove\"") && a.contains(oldFile)),
      actions.mkString("\n"))
    assert(actions.count(_.startsWith("{\"add\"")) == 1,
      actions.mkString("\n"))
    // every retained row once and unchanged; the DV'd key stays deleted
    val rows = DeltaLite.read(spark, t).as[(Long, String)].collect()
    val want = (1L to 19L by 2L).filter(_ != 5L).map(k => k -> s"v$k").toMap +
      (2L -> "new2") + (4L -> "new4")
    assert(rows.length == want.size && rows.toMap == want, rows.toSeq)
    val feed = DeltaLite.changeFeed(spark, t, before.version, v)
      .select("k", "_change_type").as[(Long, String)].collect().toSet
    assert(feed == Set((2L, "insert"), (4L, "insert")), feed)
    val idsAfter = ids()
    assert(idsBefore.forall { case (k, id) => idsAfter.get(k).contains(id) },
      s"retained rows must keep their row ids: $idsBefore vs $idsAfter")
    assert(idsAfter.values.toSet.size == idsAfter.size, idsAfter)
  }

  test("the first MERGE into a row-tracked CDF table reads as a change " +
      "feed; a metaData that changes the schema still declines") {
    val t = java.nio.file.Files.createTempDirectory("delta_cdfrowids")
      .toString + "/tbl"
    DeltaLite.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t,
      configuration = Map("delta.enableChangeDataFeed" -> "true",
        "delta.enableRowTracking" -> "true"))
    // v1 restates metaData only to record the minted row-id column names
    val v1 = DeltaLite.upsert(spark,
      Seq((1L, "A"), (3L, "c")).toDF("k", "v"), t, Seq("k"))
    assert(DeltaLite.snapshot(spark, t).configuration
      .contains("delta.rowTracking.materializedRowIdColumnName"))
    val feed = DeltaLite.changeFeed(spark, t, 0, v1)
      .select("k", "v", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    assert(feed == Set((1L, "a", "update_preimage", 1L),
      (1L, "A", "update_postimage", 1L), (3L, "c", "insert", 1L)), feed)
    // an append that adds a column changes how the range's rows decode
    val v2 = DeltaLite.write(spark,
      Seq((4L, "d", 1)).toDF("k", "v", "n"), t)
    assert(DeltaLite.changeFeedIfAvailable(spark, t, v1, v2).isEmpty)
    assert(DeltaLite.changeFeedIfAvailable(spark, t, 0, v2).isEmpty)
  }

  test("no commit kind leaves a stage directory or a parquet file the " +
      "log does not name: write, upsert, DV and copy-on-write delete and " +
      "compact on a partitioned CDF + row-tracked table") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("delta_hygiene")
    val t = dir.resolve("tbl").toString
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def check(kind: String): Unit = {
      val stages = new java.io.File(dir.toString).list()
        .filter(_.startsWith("tbl_stage_"))
      assert(stages.isEmpty, s"$kind left ${stages.mkString(", ")}")
      val actions = fs(t).listStatus(new Path(t, "_delta_log"))
        .map(_.getPath.toString).filter(_.endsWith(".json")).toSeq
        .flatMap { p =>
          val src = scala.io.Source.fromURI(new java.net.URI(p))
          try src.getLines().toList finally src.close()
        }.map(mapper.readTree)
      def paths(action: String): Set[String] = actions
        .filter(_.has(action))
        .map(a => DeltaLite.decodePath(a.get(action).get("path").asText))
        .toSet
      val cdc = paths("cdc")
      assert(cdc.forall(_.startsWith("_change_data/")), s"$kind: $cdc")
      assert(!paths("add").exists(_.startsWith("_change_data/")), kind)
      val root = java.nio.file.Paths.get(t)
      val parquet = java.nio.file.Files.walk(root).iterator.asScala
        .map(root.relativize(_).toString)
        .filter(p => p.endsWith(".parquet") && !p.startsWith("_delta_log"))
        .toSet
      val stray = parquet -- paths("add") -- paths("remove") -- cdc
      assert(stray.isEmpty, s"$kind left files no action names: $stray")
    }
    def rows(ks: Seq[Long], tag: String): DataFrame =
      ks.map(k => (k, s"$tag$k", if (k % 2 == 0) "even" else "odd"))
        .toDF("k", "v", "r")
    DeltaLite.write(spark, rows(1L to 8L, "a"), t, partitionBy = Seq("r"),
      configuration = Map("delta.enableChangeDataFeed" -> "true",
        "delta.enableRowTracking" -> "true"))
    check("create")
    DeltaLite.write(spark, rows(9L to 12L, "b"), t)
    check("append")
    DeltaLite.write(spark, rows(1L to 12L, "c"), t, "overwrite")
    check("overwrite")
    // key 1 lies only in the odd file's stats range: one candidate
    DeltaLite.upsert(spark, rows(Seq(1L), "d"), t, Seq("k"))
    check("small upsert")
    withAdvisoryBytes(1)(
      DeltaLite.upsert(spark, rows(Seq(2L, 3L, 14L), "e"), t, Seq("k")))
    check("large upsert")
    DeltaLite.deleteWhere(spark, t, col("k") === 5L)
    assert(DeltaLite.snapshot(spark, t).dvs.nonEmpty)
    check("deletion-vector delete")
    DeltaLite.compact(spark, t)
    assert(DeltaLite.snapshot(spark, t).dvs.isEmpty)
    check("compact")
    DeltaLite.enableColumnMapping(spark, t)
    DeltaLite.setTableProperties(spark, t,
      Map("delta.enableIcebergCompatV2" -> "true"))
    DeltaLite.deleteWhere(spark, t, col("k") === 7L)
    check("copy-on-write delete")
    DeltaLite.upsert(spark, rows(Seq(9L, 15L), "f"), t, Seq("k"))
    check("column-mapped upsert")
    val want = (1L to 12L).map(k => k -> s"c$k").toMap ++
      Map(1L -> "d1", 2L -> "e2", 3L -> "e3", 14L -> "e14", 9L -> "f9",
        15L -> "f15") -- Seq(5L, 7L)
    assert(DeltaLite.read(spark, t).select("k", "v").as[(Long, String)]
      .collect().toMap == want)
  }

  test("keyed-sink contract through the collapse-observed stats: a null " +
      "key raises, an empty batch commits nothing and creates no table") {
    val t = seededTable("delta_sinkcontract")
    val v0 = DeltaLite.snapshot(spark, t).version
    val withNull = Seq((Option(5L), "x"), (Option.empty[Long], "y"))
      .toDF("k", "v")
    val eNull = intercept[IllegalArgumentException](
      graft.sinks.Sinks.upsertBatch(withNull, Seq("k"),
        graft.sinks.Sinks.Delta(t)))
    assert(eNull.getMessage.contains("null key"), eNull.getMessage)
    assert(DeltaLite.snapshot(spark, t).version == v0)
    val empty = changeBatch.filter("k < 0")
    graft.sinks.Sinks.upsertBatch(empty, Seq("k"), graft.sinks.Sinks.Delta(t))
    assert(DeltaLite.snapshot(spark, t).version == v0)
    val missing =
      java.nio.file.Files.createTempDirectory("delta_sinkempty").toString +
        "/tbl"
    graft.sinks.Sinks.upsertBatch(empty, Seq("k"),
      graft.sinks.Sinks.Delta(missing))
    assert(!new java.io.File(missing).exists)
  }

  test("a key set above spark.sql.autoBroadcastJoinThreshold merges " +
      "through the shuffled plan to the same rows") {
    val t = seededTable("delta_nobcast")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.getOption(key)
    // 4 keys × 8 bytes: over the threshold
    spark.conf.set(key, "16")
    try {
      graft.sinks.Sinks.upsertBatch(changeBatch, Seq("k"),
        graft.sinks.Sinks.Delta(t))
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(keyedRows(t) == afterChangeBatch)
  }

  test("checkpoint preserves stats: pruning still works when the state " +
      "is seeded from the checkpoint") {
    val t = java.nio.file.Files.createTempDirectory("delta_ckstats").toString + "/tbl"
    DeltaLite.write(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), t)
    DeltaLite.write(spark,
      Seq((100L, "x")).toDF("k", "v").coalesce(1), t)
    DeltaLite.checkpoint(spark, t)
    // drop the JSON commits the checkpoint covers: stats must now come
    // from the checkpoint parquet itself
    val fsys = fs(t)
    fsys.delete(new Path(t, "_delta_log/" + "0" * 20 + ".json"), false)
    fsys.delete(new Path(t, "_delta_log/" + "0" * 19 + "1.json"), false)
    val snap = DeltaLite.snapshot(spark, t)
    assert(snap.stats.size == 2, snap.stats)
    val two = java.math.BigDecimal.valueOf(2L)
    assert(DeltaLite.pruneCandidates(snap,
      Map("k" -> ((two, two)))).size == 1)
    // and upsert over checkpoint-seeded state keeps the far file intact
    val farFile = snap.files.keys.find { p =>
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(snap.stats(p)).get("minValues").get("k").asLong == 100
    }.get
    DeltaLite.upsert(spark, Seq((2L, "B")).toDF("k", "v"), t, Seq("k"))
    assert(DeltaLite.snapshot(spark, t).files.contains(farFile))
    assert(DeltaLite.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "B"), (100L, "x")))
  }

  test("URL-encoded add paths decode (percent sequences, literal plus)") {
    assert(DeltaLite.decodePath("a%20b/part+1.parquet") == "a b/part+1.parquet")
    assert(DeltaLite.decodePath("plain.parquet") == "plain.parquet")
    assert(DeltaLite.decodePath("%C3%A9.parquet") == "é.parquet")
  }

  test("vacuum deletes data files the current snapshot dropped; the " +
      "live snapshot reads intact and clean tables are a no-op") {
    val t = java.nio.file.Files.createTempDirectory("delta_vac").toString + "/tbl"
    DeltaLite.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    DeltaLite.write(spark, Seq((9L, "z")).toDF("k", "v"), t,
      mode = "overwrite")
    val before = fs(t).listStatus(new Path(t))
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val deleted = DeltaLite.vacuum(spark, t)
    assert(deleted > 0, "the overwritten files must be removed")
    val after = fs(t).listStatus(new Path(t))
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    assert(after == before - deleted)
    assert(DeltaLite.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((9L, "z")))
    assert(DeltaLite.vacuum(spark, t) == 0)
  }

  test("append-only schema evolution: a widening append commits an " +
      "updated metaData action; old files read null; renames stay loud") {
    val t = java.nio.file.Files.createTempDirectory("delta_evo").toString + "/tbl"
    DeltaLite.write(spark, Seq((1L, "a")).toDF("k", "v"), t)
    DeltaLite.write(spark, Seq((2L, "b", 7.5)).toDF("k", "v", "score"), t)
    val got = DeltaLite.read(spark, t)
    assert(got.schema.fieldNames.toSeq == Seq("k", "v", "score"))
    val rows = got.collect().map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    assert(rows == Set((1L, "a", null), (2L, "b", 7.5)))
    // further appends must carry the evolved schema
    val err = intercept[IllegalArgumentException](
      DeltaLite.write(spark, Seq((9L, "x")).toDF("k", "renamed"), t))
    assert(err.getMessage.contains("schema mismatch"))
  }

  test("upsert on a float/double key prunes by the stats JSON's " +
      "shortest-decimal rendering — 0.1 replaces, never duplicates") {
    // 0.1's exact binary expansion EXCEEDS the rendered "0.1" in the
    // stats JSON: an exact-expansion bound declares the file disjoint
    // and the upsert silently INSERTS a duplicate instead of replacing
    val t = java.nio.file.Files.createTempDirectory("delta_fkey")
      .toString + "/tbl"
    DeltaLite.write(spark, Seq((0.1d, "old"), (0.7d, "keep"))
      .toDF("k", "v"), t)
    DeltaLite.upsert(spark, Seq((0.1d, "new")).toDF("k", "v"), t, Seq("k"))
    val got = DeltaLite.read(spark, t).as[(Double, String)].collect().toSet
    assert(got == Set((0.1d, "new"), (0.7d, "keep")),
      s"duplicate or missed replace: $got")
    // float keys go through Float.toString rendering the same way
    val t2 = java.nio.file.Files.createTempDirectory("delta_fkey2")
      .toString + "/tbl"
    DeltaLite.write(spark, Seq((0.3f, "old")).toDF("k", "v"), t2)
    DeltaLite.upsert(spark, Seq((0.3f, "new")).toDF("k", "v"), t2, Seq("k"))
    assert(DeltaLite.read(spark, t2).as[(Float, String)].collect().toSet ==
      Set((0.3f, "new")))
  }

  test("a gapped log (missing intermediate commit) refuses loudly " +
      "instead of replaying a wrong file set") {
    val t = java.nio.file.Files.createTempDirectory("delta_gap").toString
    val schema = Seq((1L, "a")).toDF("k", "v").schema
    writeDataFile(Seq((1L, "a")).toDF("k", "v"), t, "c1.parquet")
    writeDataFile(Seq((2L, "b")).toDF("k", "v"), t, "c2.parquet")
    writeLog(t, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaAction(schema.json),
      """{"add":{"path":"c1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    writeLog(t, 1, Seq(
      """{"remove":{"path":"c1.parquet","deletionTimestamp":2,"dataChange":true}}"""))
    writeLog(t, 2, Seq(
      """{"add":{"path":"c2.parquet","partitionValues":{},"size":1,"modificationTime":3,"dataChange":true}}"""))
    assert(DeltaLite.snapshot(spark, t).version == 2L)
    fs(t).delete(new Path(t, "_delta_log/" + f"${1L}%020d.json"), false)
    val e = intercept[IllegalArgumentException](DeltaLite.snapshot(spark, t))
    assert(e.getMessage.contains("missing commit version 1"), e.getMessage)
  }

  test("checkpoint-seeded snapshots still enforce the protocol gate " +
      "and APPLY checkpointed deletion vectors") {
    // protocol action ONLY in the checkpoint (commits cleaned up):
    // an unsupported reader feature must still refuse
    val t = java.nio.file.Files.createTempDirectory("delta_ckpt_proto")
      .toString
    val schema = Seq((1L, "a")).toDF("k", "v").schema
    writeDataFile(Seq((1L, "a")).toDF("k", "v"), t, "c1.parquet")
    val ck = Seq((
        Option(CkAdd("c1.parquet", Map.empty[String, String])),
        Option.empty[CkMeta],
        Option.empty[CkProto]),
      (Option.empty[CkAdd],
        Option(CkMeta(schema.json, Nil, Map.empty[String, String])),
        Option.empty[CkProto]),
      (Option.empty[CkAdd], Option.empty[CkMeta],
        Option(CkProto(3, 7, Seq("typeWidening")))))
      .toDF("add", "metaData", "protocol")
    installCheckpoint(t, ck, 0L)
    val e = intercept[IllegalArgumentException](DeltaLite.snapshot(spark, t))
    assert(e.getMessage.contains("typeWidening") &&
      e.getMessage.contains("delta-spark"), e.getMessage)
    // an add action in the checkpoint carrying an (inline) deletion
    // vector APPLIES on read — no silent resurrection through the
    // checkpoint path
    val t2 = java.nio.file.Files.createTempDirectory("delta_ckpt_dv")
      .toString
    writeDataFile(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t2,
      "c1.parquet")
    val (inline, size, card) = DvTestUtil.inlineDv(Seq(0L))
    val ck2 = Seq((
        Option(CkAddDv("c1.parquet", Map.empty[String, String],
          Option(CkDv("i", inline, None, size, card)))),
        Option.empty[CkMeta]),
      (Option.empty[CkAddDv],
        Option(CkMeta(schema.json, Nil, Map.empty[String, String]))))
      .toDF("add", "metaData")
    installCheckpoint(t2, ck2, 0L)
    assert(DeltaLite.read(spark, t2).as[(Long, String)].collect().toSet ==
      Set((2L, "b")))
  }

  test("column mapping `id` mode reads natively: parquet FIELD IDS " +
      "resolve columns regardless of file-side names; writes refuse") {
    val t = java.nio.file.Files.createTempDirectory("delta_cmid").toString
    // the data file carries arbitrary physical names + parquet field
    // ids (Spark stamps them from schema metadata on write)
    val idMeta1 = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("parquet.field.id", 1L).build()
    val idMeta2 = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("parquet.field.id", 2L).build()
    val physSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cA",
        org.apache.spark.sql.types.LongType, true, idMeta1),
      org.apache.spark.sql.types.StructField("cB",
        org.apache.spark.sql.types.StringType, true, idMeta2)))
    val phys = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, "a"),
        org.apache.spark.sql.Row(2L, "b"))), physSchema)
    writeDataFile(phys, t, "c1.parquet")
    val schemaJson =
      """{"type":"struct","fields":[
        |{"name":"k","type":"long","nullable":true,"metadata":{"delta.columnMapping.id":1,"delta.columnMapping.physicalName":"cA"}},
        |{"name":"v","type":"string","nullable":true,"metadata":{"delta.columnMapping.id":2,"delta.columnMapping.physicalName":"cB"}}
        |]}""".stripMargin.replace("\n", "")
    writeLog(t, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["columnMapping"]}}""",
      s"""{"metaData":{"id":"cmid","format":{"provider":"parquet","options":{}},"schemaString":${escape(schemaJson)},"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id"},"createdTime":1}}""",
      """{"add":{"path":"c1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val got = DeltaLite.read(spark, t)
    assert(got.schema.fieldNames.toSeq == Seq("k", "v"))
    assert(got.select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b")))
    // native APPENDS into an id-mapped table: the staged file carries
    // physical names + parquet field ids, so the id-mode read gate
    // (footer id verification) accepts it
    DeltaLite.write(spark, Seq((9L, "z")).toDF("k", "v"), t)
    assert(DeltaLite.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (9L, "z")))
  }

  test("id mode verifies NESTED field ids: a file whose nested struct " +
      "member carries a different id than the metadata refuses loudly; " +
      "agreeing nested ids read fine") {
    import org.apache.spark.sql.types.{LongType, MetadataBuilder,
      StringType, StructField, StructType}
    def idMeta(id: Long) =
      new MetadataBuilder().putLong("parquet.field.id", id).build()
    def physSchema(nestedId: Long) = StructType(Seq(
      StructField("cA", LongType, true, idMeta(1L)),
      StructField("cN", StructType(Seq(
        StructField("cS", StringType, true, idMeta(nestedId)))),
        true, idMeta(3L))))
    def mkTable(nestedId: Long): String = {
      val t = java.nio.file.Files
        .createTempDirectory(s"delta_cmid_nest$nestedId").toString
      val phys = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          org.apache.spark.sql.Row(1L, org.apache.spark.sql.Row("x")))),
        physSchema(nestedId))
      writeDataFile(phys, t, "c1.parquet")
      val schemaJson =
        """{"type":"struct","fields":[
          |{"name":"k","type":"long","nullable":true,"metadata":{"delta.columnMapping.id":1,"delta.columnMapping.physicalName":"cA"}},
          |{"name":"nest","type":{"type":"struct","fields":[
          |  {"name":"s","type":"string","nullable":true,"metadata":{"delta.columnMapping.id":4,"delta.columnMapping.physicalName":"cS"}}]},
          | "nullable":true,"metadata":{"delta.columnMapping.id":3,"delta.columnMapping.physicalName":"cN"}}
          |]}""".stripMargin.replace("\n", "")
      writeLog(t, 0, Seq(
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["columnMapping"]}}""",
        s"""{"metaData":{"id":"cmidn","format":{"provider":"parquet","options":{}},"schemaString":${escape(schemaJson)},"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id"},"createdTime":1}}""",
        """{"add":{"path":"c1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
      t
    }
    // agreeing nested id (4) reads
    val ok = mkTable(4L)
    assert(DeltaLite.read(spark, ok).select("k", "nest.s").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == Set((1L, "x")))
    // a nested id that DISAGREES with the metadata (99 under the
    // physical name cS, which the metadata assigns id 4) refuses —
    // the round-13 gate only checked top level and silently mis-read
    val bad = mkTable(99L)
    val ex = intercept[IllegalArgumentException](
      DeltaLite.read(spark, bad).collect())
    assert(ex.getMessage.contains("cS") &&
      ex.getMessage.contains("delta-spark"), ex.getMessage)
  }

  test("column mapping `name` mode reads natively: physical parquet " +
      "field names (nested included) resolve back to logical names; " +
      "partitionValues key by physical name; writes refuse; unknown " +
      "modes still refuse") {
    val t = java.nio.file.Files.createTempDirectory("delta_cmap").toString
    // the DATA FILE carries physical names, nested struct field too
    val phys = Seq((1L, "a", ("x", 10L)), (2L, "b", ("y", 20L)))
      .toDF("col-k01", "col-v02", "col-n03")
      .withColumn("col-n03", struct(
        col("col-n03._1").as("col-s04"), col("col-n03._2").as("col-m05")))
    writeDataFile(phys, t, "c1.parquet")
    // the LOGICAL schema maps each field to its physicalName
    val schemaJson =
      """{"type":"struct","fields":[
        |{"name":"k","type":"long","nullable":true,"metadata":{"delta.columnMapping.id":1,"delta.columnMapping.physicalName":"col-k01"}},
        |{"name":"v","type":"string","nullable":true,"metadata":{"delta.columnMapping.id":2,"delta.columnMapping.physicalName":"col-v02"}},
        |{"name":"nest","type":{"type":"struct","fields":[
        |  {"name":"s","type":"string","nullable":true,"metadata":{"delta.columnMapping.id":4,"delta.columnMapping.physicalName":"col-s04"}},
        |  {"name":"m","type":"long","nullable":true,"metadata":{"delta.columnMapping.id":5,"delta.columnMapping.physicalName":"col-m05"}}]},
        | "nullable":true,"metadata":{"delta.columnMapping.id":3,"delta.columnMapping.physicalName":"col-n03"}}
        |]}""".stripMargin.replace("\n", "")
    writeLog(t, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["columnMapping"]}}""",
      s"""{"metaData":{"id":"cm","format":{"provider":"parquet","options":{}},"schemaString":${escape(schemaJson)},"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"5"},"createdTime":1}}""",
      """{"add":{"path":"c1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val got = DeltaLite.read(spark, t)
    assert(got.schema.fieldNames.toSeq == Seq("k", "v", "nest"))
    assert(got.select("nest.s", "nest.m", "k", "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet ==
      Set(("x", 10L, 1L, "a"), ("y", 20L, 2L, "b")))
    // native appends into a name-mapped table write PHYSICAL names
    // (nested struct renamed through the positional cast)
    DeltaLite.write(spark,
      Seq((9L, "z", ("q", 90L))).toDF("k", "v", "nest")
        .withColumn("nest", struct(col("nest._1").as("s"),
          col("nest._2").as("m"))), t)
    assert(DeltaLite.read(spark, t).select("k", "v", "nest.s", "nest.m")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet ==
      Set((1L, "a", "x", 10L), (2L, "b", "y", 20L), (9L, "z", "q", 90L)))
    // the new data file itself carries the PHYSICAL field names
    val newFile = DeltaLite.snapshot(spark, t).files.keySet
      .find(_ != "c1.parquet").get
    assert(spark.read.parquet(s"$t/$newFile").columns.toSet ==
      Set("col-k01", "col-v02", "col-n03"))
    // PARTITIONED column-mapped table: partitionValues key by the
    // physical partition column name
    val t2 = java.nio.file.Files.createTempDirectory("delta_cmap2").toString
    writeDataFile(Seq(Tuple1(7L)).toDF("col-k01"), t2, "p1.parquet")
    val schema2 =
      """{"type":"struct","fields":[
        |{"name":"k","type":"long","nullable":true,"metadata":{"delta.columnMapping.id":1,"delta.columnMapping.physicalName":"col-k01"}},
        |{"name":"p","type":"string","nullable":true,"metadata":{"delta.columnMapping.id":2,"delta.columnMapping.physicalName":"col-p02"}}
        |]}""".stripMargin.replace("\n", "")
    writeLog(t2, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"cm2","format":{"provider":"parquet","options":{}},"schemaString":${escape(schema2)},"partitionColumns":["p"],"configuration":{"delta.columnMapping.mode":"name"},"createdTime":1}}""",
      """{"add":{"path":"p1.parquet","partitionValues":{"col-p02":"west"},"size":1,"modificationTime":1,"dataChange":true}}"""))
    assert(DeltaLite.read(spark, t2).as[(Long, String)].collect().toSet ==
      Set((7L, "west")))
  }

  test("native partitioned writes: ONE partitionBy staging pass, hive " +
      "dirs + partitionValues in the log, null partition value emits " +
      "__HIVE_DEFAULT_PARTITION__ and never collides with \"null\"") {
    val t = java.nio.file.Files.createTempDirectory("delta_pw").toString + "/tbl"
    val df = Seq(
      (1L, "a", "east"), (2L, "b", "west"),
      (3L, "c", null), (4L, "d", "null")
    ).toDF("k", "v", "region")
    DeltaLite.write(spark, df, t, partitionBy = Seq("region"))
    val snap = DeltaLite.snapshot(spark, t)
    assert(snap.partitionColumns == Seq("region"))
    // the log's partitionValues distinguish SQL NULL from the string
    val pvs = snap.files.values.map(_("region")).toSet
    assert(pvs == Set(Some("east"), Some("west"), None, Some("null")))
    // file paths are hive-style dir chains; the null partition dir is
    // the reserved segment, not "region=null"
    assert(snap.files.keys.forall(_.startsWith("region=")))
    assert(snap.files.keys.exists(
      _.startsWith("region=__HIVE_DEFAULT_PARTITION__/")))
    assert(snap.files.keys.count(_.startsWith("region=null/")) == 1)
    // data files do NOT carry the partition column (layout contract)
    val one = snap.files.keys.head
    val cols = spark.read.parquet(t + "/" + one).columns.toSet
    assert(cols == Set("k", "v"))
    // typed read-back round-trips, null included
    val got = DeltaLite.read(spark, t)
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSet
    assert(got == Set((1L, "a", "east"), (2L, "b", "west"),
      (3L, "c", null), (4L, "d", "null")))
    // appends inherit the table's partitioning without restating it
    DeltaLite.write(spark, Seq((5L, "e", "east")).toDF("k", "v", "region"), t)
    assert(DeltaLite.read(spark, t).count() == 5)
    // a conflicting partitionBy refuses loudly
    val ex = intercept[IllegalArgumentException](
      DeltaLite.write(spark, df, t, partitionBy = Seq("v")))
    assert(ex.getMessage.contains("does not match"))
    // per-file stats cover the data columns → pruning by k still works
    assert(snap.stats.nonEmpty)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    assert(snap.stats.values.forall { js =>
      val n = om.readTree(js)
      n.get("minValues").has("k") && !n.get("minValues").has("region")
    })
  }

  test("partition values with hive-escaped characters round-trip: " +
      "add.path is URL-encoded so decodePath lands on the on-disk dirs " +
      "(timestamps with ':', strings with '%'/'='/'#')") {
    val t = java.nio.file.Files.createTempDirectory("delta_esc").toString + "/tbl"
    val rows = Set(
      (1L, java.sql.Timestamp.valueOf("1995-03-01 00:00:00"), "a:b"),
      (2L, java.sql.Timestamp.valueOf("1995-03-02 12:30:45"), "a%b"),
      (3L, java.sql.Timestamp.valueOf("1995-03-02 12:30:45"), "p=q#r"))
    DeltaLite.write(spark, rows.toSeq.toDF("k", "ts", "s"), t,
      partitionBy = Seq("ts", "s"))
    val snap = DeltaLite.snapshot(spark, t)
    // every (decoded) snapshot path points at a real on-disk file
    val fsys = fs(t)
    snap.files.keys.foreach(p => assert(fsys.exists(new Path(t, p)), p))
    // the RAW log paths are URL-encoded: decodePath(raw) == snapshot key
    val in = fsys.open(new Path(t, "_delta_log/" + "0" * 20 + ".json"))
    val log = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val rawPaths = log.split("\n").filter(_.contains("\"add\""))
      .map(l => om.readTree(l).get("add").get("path").asText).toSet
    assert(rawPaths.map(DeltaLite.decodePath) == snap.files.keySet)
    // the escaped chars really forced encoding (no raw ':' or ' ')
    assert(rawPaths.forall(p => !p.contains(":") && !p.contains(" ")), rawPaths)
    // partition VALUES recover unescaped (the spec's string serialization)
    assert(snap.files.values.map(_("ts")).toSet ==
      Set(Some("1995-03-01 00:00:00"), Some("1995-03-02 12:30:45")))
    assert(snap.files.values.map(_("s")).toSet ==
      Set(Some("a:b"), Some("a%b"), Some("p=q#r")))
    // typed read-back round-trips
    assert(DeltaLite.read(spark, t)
      .as[(Long, java.sql.Timestamp, String)].collect().toSet == rows)
    // deleteWhere (DV re-add restates the encoded path) still lands
    DeltaLite.deleteWhere(spark, t, col("k") === 3L)
    assert(DeltaLite.read(spark, t).as[(Long, java.sql.Timestamp, String)]
      .collect().toSet == rows.filter(_._1 != 3L))
    // and a checkpoint-seeded read (encoded paths in the checkpoint too)
    DeltaLite.checkpoint(spark, t)
    (0 to 1).foreach(v => fsys.delete(
      new Path(t, f"_delta_log/$v%020d.json"), false))
    assert(DeltaLite.read(spark, t).count() == 2)
  }

  test("checkpoint persists the REAL protocol action and the FULL " +
      "table configuration — never a synthesized downgrade") {
    val t = java.nio.file.Files.createTempDirectory("delta_ckpr").toString
    val phys = Seq((1L, "a"), (2L, "b")).toDF("col-k01", "col-v02")
    writeDataFile(phys, t, "c1.parquet")
    val schemaJson =
      """{"type":"struct","fields":[
        |{"name":"k","type":"long","nullable":true,"metadata":{"delta.columnMapping.id":1,"delta.columnMapping.physicalName":"col-k01"}},
        |{"name":"v","type":"string","nullable":true,"metadata":{"delta.columnMapping.id":2,"delta.columnMapping.physicalName":"col-v02"}}
        |]}""".stripMargin.replace("\n", "")
    writeLog(t, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"stable-id","format":{"provider":"parquet","options":{}},"schemaString":${escape(schemaJson)},"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"2","custom.key":"kept"},"createdTime":1}}""",
      """{"add":{"path":"c1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val before = DeltaLite.snapshot(spark, t)
    assert(before.protocol.contains(DeltaLite.CpProto(2, 5, None, None)))
    assert(before.configuration("custom.key") == "kept")
    assert(before.tableId == "stable-id")
    DeltaLite.checkpoint(spark, t)
    fs(t).delete(new Path(t, "_delta_log/" + "0" * 20 + ".json"), false)
    // the seeded snapshot sees the SAME protocol (not (1,2)), the same
    // configuration (not just the mapping mode), and the same table id
    val after = DeltaLite.snapshot(spark, t)
    assert(after.protocol.contains(DeltaLite.CpProto(2, 5, None, None)))
    assert(after.configuration == before.configuration)
    assert(after.tableId == "stable-id")
    assert(after.columnMappingMode == "name")
    assert(DeltaLite.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
  }

  test("past the partition union cap, reads switch to ONE scan + a " +
      "broadcast path→partition-values join — same rows, no per-group " +
      "scan fan-out") {
    val t = java.nio.file.Files.createTempDirectory("delta_fan").toString + "/tbl"
    val df = (1 to 40).map(i => (i.toLong, s"v$i", s"p${i % 10}"))
      .toDF("k", "v", "p")
    DeltaLite.write(spark, df, t, partitionBy = Seq("p"))
    // 10 partitions ≤ default cap: the union-of-literal-groups path
    val expected = DeltaLite.read(spark, t)
      .as[(Long, String, String)].collect().toSet
    assert(expected.size == 40)
    spark.conf.set("graft.delta.partitionUnionLimit", "3")
    try {
      val joined = DeltaLite.read(spark, t)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
      assert(joined.as[(Long, String, String)].collect().toSet == expected)
      // partition-column filters still answer correctly on this path
      assert(DeltaLite.read(spark, t).filter($"p" === "p3").count() == 4)
    } finally spark.conf.unset("graft.delta.partitionUnionLimit")
  }

  test("versionAtTimestamp resolves delta-spark's timestampAsOf rule: " +
      "commitInfo timestamps win, latest at-or-before wins, " +
      "too-early refuses") {
    val t = java.nio.file.Files.createTempDirectory("delta_ts").toString
    val schema = Seq((1L, "a")).toDF("k", "v").schema
    writeDataFile(Seq((1L, "a")).toDF("k", "v"), t, "f1.parquet")
    writeDataFile(Seq((2L, "b")).toDF("k", "v"), t, "f2.parquet")
    writeDataFile(Seq((3L, "c")).toDF("k", "v"), t, "f3.parquet")
    writeLog(t, 0, Seq(
      """{"commitInfo":{"timestamp":100,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaAction(schema.json),
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    writeLog(t, 1, Seq(
      """{"commitInfo":{"timestamp":200,"operation":"WRITE"}}""",
      """{"add":{"path":"f2.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    writeLog(t, 2, Seq(
      """{"commitInfo":{"timestamp":300,"operation":"WRITE"}}""",
      """{"add":{"path":"f3.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    assert(DeltaLite.versionAtTimestamp(spark, t, 250L) == 1L)
    assert(DeltaLite.versionAtTimestamp(spark, t, 300L) == 2L)
    assert(DeltaLite.versionAtTimestamp(spark, t, Long.MaxValue) == 2L)
    val e = intercept[IllegalArgumentException](
      DeltaLite.versionAtTimestamp(spark, t, 99L))
    assert(e.getMessage.contains("at or before"))
    // composes with version-pinned reads
    val v = DeltaLite.versionAtTimestamp(spark, t, 250L)
    assert(DeltaLite.read(spark, t, Some(v)).count() == 2)
  }

  test("cleanupLogs deletes exactly the commits a checkpoint covers: " +
      "the seeded snapshot is intact, newer commits replay, " +
      "pre-checkpoint version pins stop working, no-checkpoint refuses") {
    val t = java.nio.file.Files.createTempDirectory("delta_clean").toString + "/tbl"
    DeltaLite.write(spark, Seq((1L, "a")).toDF("k", "v"), t)          // v0
    DeltaLite.write(spark, Seq((2L, "b")).toDF("k", "v"), t)          // v1
    val e0 = intercept[IllegalArgumentException](
      DeltaLite.cleanupLogs(spark, t))
    assert(e0.getMessage.contains("checkpoint"))
    DeltaLite.checkpoint(spark, t)                                    // @1
    DeltaLite.write(spark, Seq((3L, "c")).toDF("k", "v"), t)          // v2
    assert(DeltaLite.cleanupLogs(spark, t) == 2) // v0, v1 covered
    // checkpoint-seeded snapshot + the v2 replay both intact
    val snap = DeltaLite.snapshot(spark, t)
    assert(snap.version == 2L)
    assert(DeltaLite.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // a version pin below the checkpoint now refuses (gapped/cleaned)
    intercept[IllegalArgumentException](DeltaLite.snapshot(spark, t, Some(0L)))
    // idempotent: nothing left to clean
    assert(DeltaLite.cleanupLogs(spark, t) == 0)
  }

  test("column mapping lifecycle: enableColumnMapping upgrades in place, " +
      "RENAME/DROP are metadata-only, appends/upserts/deletes/compact " +
      "work on the mapped table") {
    val t = java.nio.file.Files.createTempDirectory("delta_cmlc").toString + "/tbl"
    DeltaLite.write(spark,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "v", "x"), t)
    DeltaLite.enableColumnMapping(spark, t)
    val m = DeltaLite.snapshot(spark, t)
    assert(m.columnMappingMode == "name")
    assert(m.configuration("delta.columnMapping.maxColumnId").toLong == 3L)
    assert(m.protocol.contains(DeltaLite.CpProto(2, 5, None, None)))
    // pre-upgrade files keep resolving (physicalName == original name)
    assert(DeltaLite.read(spark, t).as[(Long, String, Long)]
      .collect().toSet == Set((1L, "a", 10L), (2L, "b", 20L)))
    // METADATA-ONLY rename: same files on disk, new logical name
    val filesBefore = DeltaLite.snapshot(spark, t).files.keySet
    DeltaLite.renameColumn(spark, t, "v", "label")
    assert(DeltaLite.snapshot(spark, t).files.keySet == filesBefore)
    assert(DeltaLite.read(spark, t).columns.toSeq == Seq("k", "label", "x"))
    // append post-rename (stages under the ORIGINAL physical name 'v')
    DeltaLite.write(spark, Seq((3L, "c", 30L)).toDF("k", "label", "x"), t)
    // keyed MERGE post-rename
    DeltaLite.upsert(spark,
      Seq((2L, "B2", 99L)).toDF("k", "label", "x"), t, Seq("k"))
    assert(DeltaLite.read(spark, t).as[(Long, String, Long)]
      .collect().toSet ==
      Set((1L, "a", 10L), (2L, "B2", 99L), (3L, "c", 30L)))
    // METADATA-ONLY drop: files keep the physical column, reads stop
    // projecting it
    DeltaLite.dropColumn(spark, t, "x")
    assert(DeltaLite.read(spark, t).columns.toSeq == Seq("k", "label"))
    // DV delete on the mapped table (one key out of a 3-row file so a
    // real bitmap is written), then compact purges the DV
    DeltaLite.write(spark,
      Seq((10L, "j"), (11L, "kk"), (12L, "l")).toDF("k", "label")
        .coalesce(1), t)
    DeltaLite.deleteWhere(spark, t, col("k") === 10L)
    val expected = Set((1L, "a"), (2L, "B2"), (3L, "c"),
      (11L, "kk"), (12L, "l"))
    assert(DeltaLite.read(spark, t).as[(Long, String)].collect().toSet ==
      expected)
    assert(DeltaLite.snapshot(spark, t).dvs.nonEmpty)
    // the DV protocol upgrade must RESTATE the implied columnMapping
    // feature (features-based protocols are exhaustive)
    val pDv = DeltaLite.snapshot(spark, t).protocol.get
    assert(pDv.readerFeatures.get.toSet ==
      Set("columnMapping", "deletionVectors"), pDv.toString)
    assert(pDv.writerFeatures.get.contains("columnMapping"))
    DeltaLite.compact(spark, t, smallFileBytes = 1L << 20)
    val fin = DeltaLite.snapshot(spark, t)
    assert(fin.dvs.isEmpty)
    assert(DeltaLite.read(spark, t).as[(Long, String)].collect().toSet ==
      expected)
    // mapped EVOLUTION: an added column gets a FRESH columnMapping id
    // and a col-<uuid> physical name; old files read it as null
    DeltaLite.write(spark,
      Seq((4L, "d", 7L)).toDF("k", "label", "extra"), t)
    val evolved = DeltaLite.snapshot(spark, t)
    assert(evolved.schema.fieldNames.toSeq == Seq("k", "label", "extra"))
    val ef = evolved.schema.fields.find(_.name == "extra").get
    assert(ef.metadata.getString("delta.columnMapping.physicalName")
      .startsWith("col-"))
    assert(ef.metadata.getLong("delta.columnMapping.id") == 4L)
    assert(evolved.configuration("delta.columnMapping.maxColumnId")
      .toLong == 4L)
    val evolvedRows = DeltaLite.read(spark, t)
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(evolvedRows == Set((1L, "a", -1L), (2L, "B2", -1L),
      (3L, "c", -1L), (11L, "kk", -1L), (12L, "l", -1L), (4L, "d", 7L)),
      evolvedRows)
    // rename/drop guardrails
    intercept[IllegalArgumentException](
      DeltaLite.renameColumn(spark, t, "nope", "x2"))
    intercept[IllegalArgumentException](
      DeltaLite.dropColumn(spark, t, "nope"))
    // unmapped tables refuse metadata-only rename (undefined without
    // physical names)
    val t2 = java.nio.file.Files.createTempDirectory("delta_cmlc2").toString + "/tbl"
    DeltaLite.write(spark, Seq((1L, "a")).toDF("k", "v"), t2)
    val e = intercept[IllegalArgumentException](
      DeltaLite.renameColumn(spark, t2, "v", "w"))
    assert(e.getMessage.contains("enableColumnMapping"))
  }

  test("MERGE over live deletion vectors: touched files rewrite " +
      "ABSORBING their DV (no resurrection), untouched DV'd files keep " +
      "theirs — no intervening compact required") {
    val t = java.nio.file.Files.createTempDirectory("delta_mergedv").toString + "/tbl"
    // two files with disjoint key ranges
    DeltaLite.write(spark,
      (1L to 10L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1), t)
    DeltaLite.write(spark,
      (11L to 20L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1), t)
    // DV-delete one key in EACH file
    DeltaLite.deleteWhere(spark, t, col("k") === 2L || col("k") === 12L)
    val withDvs = DeltaLite.snapshot(spark, t)
    assert(withDvs.dvs.size == 2)
    // MERGE touching only the FIRST file's range (replace k=1, add k=21)
    DeltaLite.upsert(spark, Seq((1L, "A1"), (21L, "new")).toDF("k", "v"),
      t, Seq("k"))
    val got = DeltaLite.read(spark, t).as[(Long, String)].collect().toMap
    // replaced + inserted, DV-deleted keys in BOTH files stay deleted
    assert(got(1L) == "A1" && got(21L) == "new")
    assert(!got.contains(2L) && !got.contains(12L), got.toString)
    assert(got.size == 19) // 20 - 2 deleted + 1 insert
    val after = DeltaLite.snapshot(spark, t)
    // the touched file's DV was absorbed; the untouched file keeps its DV
    assert(after.dvs.size == 1)
    val dvFile = after.dvs.keySet.head
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val mn = om.readTree(after.stats(dvFile)).get("minValues").get("k").asLong
    assert(mn == 11L, s"surviving DV should sit on the 11..20 file, got min=$mn")
    // a second merge hitting the remaining DV'd file absorbs that too
    DeltaLite.upsert(spark, Seq((11L, "B11")).toDF("k", "v"), t, Seq("k"))
    val fin = DeltaLite.read(spark, t).as[(Long, String)].collect().toMap
    assert(fin(11L) == "B11" && !fin.contains(12L) && fin.size == 19)
    assert(DeltaLite.snapshot(spark, t).dvs.isEmpty)
  }

  test("mutation scans past the partition union cap: upsert and " +
      "deleteWhere on a many-partition table run as ONE scan + a " +
      "broadcast partition-values join — same answers, constant plan") {
    val t = java.nio.file.Files.createTempDirectory("delta_mutfan").toString + "/tbl"
    val df = (1 to 40).map(i => (i.toLong, s"v$i", s"p${i % 10}"))
      .toDF("k", "v", "p")
    DeltaLite.write(spark, df, t, partitionBy = Seq("p"))
    spark.conf.set("graft.delta.partitionUnionLimit", "3")
    try {
      // keyed MERGE across the fan-out (touches one partition, scans
      // through the wide path)
      DeltaLite.upsert(spark, Seq((5L, "X", "p5")).toDF("k", "v", "p"),
        t, Seq("k"))
      val got = DeltaLite.read(spark, t).as[(Long, String, String)]
        .collect().map { case (k, v, p) => k -> ((v, p)) }.toMap
      assert(got(5L) == (("X", "p5")) && got.size == 40)
      // a cross-partition DELETE through the same wide path
      DeltaLite.deleteWhere(spark, t, col("k") % 10 === 7)
      val after = DeltaLite.read(spark, t).as[(Long, String, String)]
        .collect().map(_._1).toSet
      assert(after.size == 36 && !after.exists(_ % 10 == 7), after.toString)
      // partition values survived the wide-path rewrite (the merge's
      // new files carry correct tuples)
      assert(DeltaLite.read(spark, t).filter($"p" === "p5")
        .count() == 4) // k = 5 (replaced), 15, 25, 35 — none end in 7
    } finally spark.conf.unset("graft.delta.partitionUnionLimit")
  }

  test("checkpoint carries live deletion vectors and the (3,7) " +
      "protocol: checkpoint-seeded reads keep DV-deleted rows deleted") {
    val t = java.nio.file.Files.createTempDirectory("delta_ckdv").toString + "/tbl"
    DeltaLite.write(spark,
      (1L to 10L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1), t)
    DeltaLite.deleteWhere(spark, t, col("k") % 2 === 0) // v1: DVs live
    assert(DeltaLite.checkpoint(spark, t) == 1L)
    DeltaLite.write(spark, Seq((100L, "x")).toDF("k", "v"), t) // v2
    // delete the JSON commits the checkpoint covers — the DV state and
    // the protocol upgrade now exist ONLY in the checkpoint
    val fsys = fs(t)
    fsys.delete(new Path(t, "_delta_log/" + "0" * 20 + ".json"), false)
    fsys.delete(new Path(t, "_delta_log/" + "0" * 19 + "1.json"), false)
    val got = DeltaLite.read(spark, t).as[(Long, String)]
      .collect().map(_._1).toSet
    assert(got == Set(1L, 3L, 5L, 7L, 9L, 100L))
    val snap = DeltaLite.snapshot(spark, t)
    assert(snap.version == 2L && snap.dvs.nonEmpty)
  }

  test("read(where) prunes files driver-side: partition values prune " +
      "exactly, stats bounds prune ranges, unknowns stay conservative") {
    val t = java.nio.file.Files.createTempDirectory("delta_prune").toString + "/tbl"
    // 3 partitions × 2 files each (disjoint k ranges inside a partition)
    val df = Seq(
      (1L, "p1"), (2L, "p1"), (100L, "p1"), (101L, "p1"),
      (3L, "p2"), (102L, "p2"), (5L, "p3"), (104L, "p3"))
      .toDF("k", "p").repartition(4)
    // unclustered staging: this test NEEDS several files per partition
    // with disjoint k ranges to exercise stats-bounds pruning
    spark.conf.set("graft.delta.clusteredStaging", "false")
    try DeltaLite.write(spark, df, t, partitionBy = Seq("p"))
    finally spark.conf.unset("graft.delta.clusteredStaging")
    val snap = DeltaLite.snapshot(spark, t)
    // partition equality keeps only p2's files
    val byPart = DeltaLite.pruneFiles(snap, $"p" === "p2")
    assert(byPart.nonEmpty &&
      byPart.values.forall(_("p") == Some("p2")), byPart)
    assert(byPart.size < snap.files.size)
    // stats range on the data column prunes within what's left
    val both = DeltaLite.pruneFiles(snap, $"p" === "p2" && $"k" < 50L)
    assert(both.size <= byPart.size)
    // results stay correct (residual filter still applies)
    val got = DeltaLite.read(spark, t,
        where = Some($"p" === "p2" && $"k" < 50L))
      .as[(Long, String)].collect().toSet
    assert(got == Set((3L, "p2")))
    // a predicate on an unknown/computed column never prunes
    assert(DeltaLite.pruneFiles(snap,
      $"nope" === 1).size == snap.files.size)
    // IS NULL on a partition column with no null values prunes all
    assert(DeltaLite.pruneFiles(snap, $"p".isNull).isEmpty)
    assert(DeltaLite.pruneFiles(snap, $"p".isNotNull).size ==
      snap.files.size)
    // stats pruning alone (no partition column in the predicate)
    val hi = DeltaLite.pruneFiles(snap, $"k" > 99L)
    assert(hi.size < snap.files.size && hi.nonEmpty)
    val none = DeltaLite.pruneFiles(snap, $"k" > 9999L)
    assert(none.isEmpty)
  }

  test("compact bin-packs small files per partition tuple and PURGES " +
      "deletion vectors — rows unchanged, DVs gone, MERGE re-opens, " +
      "commit is dataChange=false") {
    val t = java.nio.file.Files.createTempDirectory("delta_opt").toString + "/tbl"
    // five tiny two-row commits → 5 small files
    (1L to 5L).foreach { i =>
      DeltaLite.write(spark,
        Seq((i, s"v$i"), (i + 10L, s"w$i")).toDF("k", "v").coalesce(1), t)
    }
    // partial delete → a DV on one file (the file keeps its other row)
    DeltaLite.deleteWhere(spark, t, col("k") === 2L)
    val before = DeltaLite.snapshot(spark, t)
    assert(before.files.size == 5 && before.dvs.size == 1)
    // (native MERGE works over live DVs too — covered by its own test;
    // compact is the LAYOUT fix, not a MERGE precondition)
    val v = DeltaLite.compact(spark, t, smallFileBytes = 1L << 20)
    assert(v == before.version + 1)
    val after = DeltaLite.snapshot(spark, t)
    assert(after.files.size == 1, after.files.keys) // 5 tiny → 1 packed
    assert(after.dvs.isEmpty) // purge applied the bitmap
    assert(DeltaLite.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((1L, "v1"), (3L, "v3"), (4L, "v4"), (5L, "v5"),
        (11L, "w1"), (12L, "w2"), (13L, "w3"), (14L, "w4"), (15L, "w5")))
    // the commit marked all actions dataChange:false
    val fsys = fs(t)
    val in = fsys.open(new Path(t,
      "_delta_log/" + f"$v%020d" + ".json"))
    val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(!txt.contains(""""dataChange":true"""), txt)
    assert(txt.contains(""""operation":"OPTIMIZE""""))
    // MERGE works again after the purge
    DeltaLite.upsert(spark, Seq((1L, "X")).toDF("k", "v"), t, Seq("k"))
    assert(DeltaLite.read(spark, t).filter($"k" === 1L)
      .as[(Long, String)].head()._2 == "X")
    // vacuum sweeps the five rewritten originals
    assert(DeltaLite.vacuum(spark, t) >= 5)
  }

  test("compact on a partitioned table packs within tuples, keeps " +
      "partitionValues, and drops fully-deleted outputs") {
    val t = java.nio.file.Files.createTempDirectory("delta_optp").toString + "/tbl"
    // two commits → 2 small files per partition tuple
    (0 until 2).foreach { _ =>
      DeltaLite.write(spark,
        Seq((1L, "a"), (2L, "b")).toDF("k", "p"), t,
        partitionBy = Seq("p"))
    }
    val before = DeltaLite.snapshot(spark, t)
    assert(before.files.size == 4)
    DeltaLite.compact(spark, t, smallFileBytes = 1L << 20)
    val mid = DeltaLite.snapshot(spark, t)
    assert(mid.files.size == 2, mid.files.keys)
    assert(mid.files.values.map(_("p")).toSet ==
      Set(Some("a"), Some("b")))
    assert(DeltaLite.read(spark, t).as[(Long, String)].collect().sorted
      .toSeq == Seq((1L, "a"), (1L, "a"), (2L, "b"), (2L, "b")))
    // DV-delete EVERY row of partition a, then purge: the rewrite of
    // that tuple compacts to zero rows and the add is dropped
    DeltaLite.deleteWhere(spark, t, col("k") === 1L)
    DeltaLite.compact(spark, t, smallFileBytes = 1L << 20)
    val after = DeltaLite.snapshot(spark, t)
    assert(after.files.values.map(_("p")).toSet == Set(Some("b")),
      after.files)
    assert(DeltaLite.read(spark, t).as[(Long, String)].collect().sorted
      .toSeq == Seq((2L, "b"), (2L, "b")))
  }

  test("foreign raw action paths restate VERBATIM in remove/re-add and " +
      "checkpoint actions (only graft-staged paths run the encoder)") {
    val t = java.nio.file.Files.createTempDirectory("delta_rawpath").toString
    val schema = Seq((1L, "a")).toDF("k", "v").schema
    // a foreign writer that OVER-encoded its add path: raw string
    // `fil%65-1.parquet` decodes to the on-disk `file-1.parquet`;
    // graft's own encoder would emit `file-1.parquet` — a different raw
    // string, which a raw-string/URI-keyed replayer would fail to
    // cancel against the original add
    writeDataFile(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t,
      "file-1.parquet")
    writeDataFile(Seq((3L, "c")).toDF("k", "v"), t, "file-2.parquet")
    writeLog(t, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaAction(schema.json),
      """{"add":{"path":"fil%65-1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""",
      """{"add":{"path":"file-2.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val snap = DeltaLite.snapshot(spark, t)
    assert(snap.rawPaths.get("file-1.parquet").contains("fil%65-1.parquet"))
    // DV delete touches file-1: its remove AND re-add must restate the
    // over-encoded raw string byte-for-byte
    DeltaLite.deleteWhere(spark, t, col("k") === 1L)
    val logDir = new Path(t, "_delta_log")
    val in = fs(t).open(new Path(logDir, f"${1L}%020d.json"))
    val commit = try new String(in.readAllBytes(), "UTF-8")
      finally in.close()
    assert(commit.contains(""""remove":{"path":"fil%65-1.parquet""""),
      commit)
    assert(commit.contains(""""add":{"path":"fil%65-1.parquet""""), commit)
    assert(!commit.contains(""""path":"file-1.parquet""""), commit)
    assert(DeltaLite.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((2L, "b"), (3L, "c")))
    // the checkpoint restates the raw string too
    DeltaLite.checkpoint(spark, t)
    val ckPaths = spark.read
      .parquet(new Path(logDir, f"${1L}%020d.checkpoint.parquet").toString)
      .filter("add IS NOT NULL").select("add.path")
      .collect().map(_.getString(0)).toSet
    assert(ckPaths == Set("fil%65-1.parquet", "file-2.parquet"), ckPaths)
    assert(DeltaLite.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((2L, "b"), (3L, "c")))
  }

  test("distributed DV staging: a multi-million-row delete hands the " +
      "driver per-file BITMAP BYTES, never row indexes; cap retired") {
    // the staging seam itself: 2M matched (file, row_index) pairs over
    // two files must come back as 2 triples whose total payload is
    // KB-order serialized roaring bitmaps (boxed row collection would
    // be ~100 MB) — the direct proof the driver transfer is bitmap
    // bytes, not rows
    val pairs = spark.range(0, 2000000L)
      .select(concat(lit("f"), (col("id") % 2).cast("string"))
        .as("__p"),
        (col("id") / 2).cast("long").as("__i"))
    val staged = DeltaLite.stageDvBitmaps(spark, pairs)
    assert(staged.length == 2)
    assert(staged.map(_._2).sum == 2000000L)
    val totalBytes = staged.map(_._3.length).sum
    assert(totalBytes < (1 << 20),
      s"bitmap staging shipped $totalBytes bytes — not bitmap-compact")
    // decode round-trip: each file got exactly the indexes 0..1M-1
    staged.foreach { case (_, card, bytes) =>
      val rows = graft.sources.DeletionVectors.decodeBitmap(bytes)
      assert(card == 1000000L && rows.length == 1000000 &&
        rows.head == 0L && rows.last == 999999L)
    }
    // end-to-end: a 1.5M-row delete on a real table with NO cap conf
    // set (default unbounded) commits one DV per file and reads back
    val t = java.nio.file.Files.createTempDirectory("delta_bigdel").toString
    fs(t).delete(new Path(t), true)
    val df = spark.range(0, 2000000L).select(col("id").as("k"),
      (col("id") % 997).cast("long").as("v")).repartition(2)
    DeltaLite.write(spark, df, t)
    assert(spark.conf.getOption("graft.delta.maxDeleteRowsPerCommit")
      .isEmpty)
    DeltaLite.deleteWhere(spark, t, col("k") % 4 =!= 0)
    assert(DeltaLite.read(spark, t).count() == 500000L)
    assert(DeltaLite.read(spark, t).agg(min("k"), max("k"))
      .as[(Long, Long)].collect()(0) == ((0L, 1999996L)))
  }

  test("changesBetween catches merge-on-read DV deletes (remove+re-add " +
      "of the SAME path) and fast-paths append-only ranges") {
    val t = java.nio.file.Files.createTempDirectory("delta_dvdiff")
      .toString + "/tbl"
    DeltaLite.write(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), t) // v0
    DeltaLite.deleteWhere(spark, t, col("k") === 2L)          // v1: DV
    // the deleted row MUST surface as a delete — by-path set difference
    // alone would put the re-added file on neither side and emit NOTHING
    val diff = DeltaLite.changesBetween(spark, t, 0, 1, Seq("k"))
      .select("k", "v", "_op").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(diff == Set((2L, "b", "delete")), diff.toString)
    // a second DV on the same file (different descriptor) diffs too
    DeltaLite.deleteWhere(spark, t, col("k") === 3L)          // v2
    val diff2 = DeltaLite.changesBetween(spark, t, 1, 2, Seq("k"))
      .select("k", "_op").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(diff2 == Set((3L, "delete")), diff2.toString)
    // append-only range: inserts arrive with NO join in the plan
    DeltaLite.write(spark, Seq((9L, "z")).toDF("k", "v"), t)  // v3
    val ins = DeltaLite.changesBetween(spark, t, 2, 3, Seq("k"))
    assert(ins.queryExecution.executedPlan.toString.toLowerCase
      .indexOf("join") < 0, "append-only diff should not join")
    assert(ins.select("k", "_op").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((9L, "insert")))
    // and the streaming tail surfaces the DV delete end-to-end
    val c = graft.sources.LakeTailSource.Conf(t, "delta", Seq("k"),
      None, None, 1, 0L, "fail")
    val tail = graft.sources.LakeTailSource.changes(spark, c, 0L, 1L)
      .select("k", "_op").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(tail == Set((2L, "delete")), tail.toString)
  }

  test("domainMetadata actions survive checkpoint + cleanupLogs; " +
      "removed=true drops the domain") {
    val t = java.nio.file.Files.createTempDirectory("delta_domain")
      .toString
    val schema = Seq((1L, "a")).toDF("k", "v").schema
    writeDataFile(Seq((1L, "a")).toDF("k", "v"), t, "f1.parquet")
    writeLog(t, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["domainMetadata"]}}""",
      metaAction(schema.json),
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""",
      """{"domainMetadata":{"domain":"delta.rowTracking","configuration":"{\"rowIdHighWaterMark\":42}","removed":false}}""",
      """{"domainMetadata":{"domain":"ephemeral","configuration":"x","removed":false}}"""))
    writeLog(t, 1, Seq(
      """{"domainMetadata":{"domain":"ephemeral","configuration":"","removed":true}}"""))
    val snap = DeltaLite.snapshot(spark, t)
    assert(snap.domainMetadata.keySet == Set("delta.rowTracking"),
      snap.domainMetadata.keySet)
    // checkpoint + cleanupLogs: the domain state must survive the
    // commit JSON deletion through the checkpoint
    DeltaLite.checkpoint(spark, t)
    DeltaLite.cleanupLogs(spark, t)
    val seeded = DeltaLite.snapshot(spark, t)
    assert(seeded.domainMetadata.keySet == Set("delta.rowTracking"),
      seeded.domainMetadata.keySet)
    assert(seeded.files.keySet == Set("f1.parquet"))
    assert(DeltaLite.read(spark, t).count() == 1)
  }

  test("writer-protocol gate: appendOnly refuses mutations but accepts " +
      "appends + OPTIMIZE; CHECK constraints and invariants ENFORCE " +
      "on foreign tables; unknown writer features refuse every write") {
    val t = java.nio.file.Files.createTempDirectory("delta_wprot").toString
    val schema = Seq((1L, "a")).toDF("k", "v").schema
    writeDataFile(Seq((1L, "a")).toDF("k", "v"), t, "f1.parquet")
    writeDataFile(Seq((2L, "b")).toDF("k", "v"), t, "f2.parquet")
    writeLog(t, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"ao","format":{"provider":"parquet","options":{}},"schemaString":${escape(schema.json)},"partitionColumns":[],"configuration":{"delta.appendOnly":"true"},"createdTime":1}}""",
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""",
      """{"add":{"path":"f2.parquet","partitionValues":{},"size":10,"modificationTime":1,"dataChange":true}}"""))
    // appends fine
    DeltaLite.write(spark, Seq((3L, "c")).toDF("k", "v"), t)
    // dataChange:false OPTIMIZE fine
    DeltaLite.compact(spark, t, smallFileBytes = 1L << 20)
    // mutations refuse loudly
    val e1 = intercept[IllegalArgumentException](
      DeltaLite.deleteWhere(spark, t, col("k") === 1L))
    assert(e1.getMessage.contains("appendOnly"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      DeltaLite.upsert(spark, Seq((1L, "X")).toDF("k", "v"), t, Seq("k")))
    assert(e2.getMessage.contains("appendOnly"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](
      DeltaLite.write(spark, Seq((9L, "z")).toDF("k", "v"), t,
        "overwrite"))
    assert(e3.getMessage.contains("appendOnly"), e3.getMessage)
    assert(DeltaLite.read(spark, t).count() == 3)
    // CHECK constraints: the native writer does not evaluate them
    val t2 = java.nio.file.Files.createTempDirectory("delta_wprot2")
      .toString
    writeDataFile(Seq((1L, "a")).toDF("k", "v"), t2, "f1.parquet")
    writeLog(t2, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":3}}""",
      s"""{"metaData":{"id":"cc","format":{"provider":"parquet","options":{}},"schemaString":${escape(schema.json)},"partitionColumns":[],"configuration":{"delta.constraints.kpos":"k > 0"},"createdTime":1}}""",
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    // the native writer EVALUATES the foreign constraint: in-contract
    // rows append, violations refuse naming it (delta-spark's contract)
    DeltaLite.write(spark, Seq((3L, "c")).toDF("k", "v"), t2)
    val e4 = intercept[IllegalArgumentException](
      DeltaLite.write(spark, Seq((-3L, "c")).toDF("k", "v"), t2))
    assert(e4.getMessage.contains("kpos") &&
      e4.getMessage.contains("k > 0"), e4.getMessage)
    assert(DeltaLite.read(spark, t2).count() == 2)
    // column invariants in the schema metadata enforce too
    val invSchema = schema.json.replace(
      """"name":"k","type":"long","nullable":false,"metadata":{}""",
      """"name":"k","type":"long","nullable":false,"metadata":{"delta.invariants":"{\"expression\":{\"expression\":\"k > 0\"}}"}""")
    assert(invSchema.contains("delta.invariants"), invSchema)
    val t3 = java.nio.file.Files.createTempDirectory("delta_wprot3")
      .toString
    writeDataFile(Seq((1L, "a")).toDF("k", "v"), t3, "f1.parquet")
    writeLog(t3, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"inv","format":{"provider":"parquet","options":{}},"schemaString":${escape(invSchema)},"partitionColumns":[],"configuration":{},"createdTime":1}}""",
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    DeltaLite.write(spark, Seq((3L, "c")).toDF("k", "v"), t3)
    val e5 = intercept[IllegalArgumentException](
      DeltaLite.write(spark, Seq((-3L, "c")).toDF("k", "v"), t3))
    assert(e5.getMessage.contains("invariant"), e5.getMessage)
    assert(DeltaLite.read(spark, t3).count() == 2)
    // unknown future WRITER feature refuses (reads stay fine)
    val t4 = java.nio.file.Files.createTempDirectory("delta_wprot4")
      .toString
    writeDataFile(Seq((1L, "a")).toDF("k", "v"), t4, "f1.parquet")
    writeLog(t4, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["someFutureFeature"]}}""",
      metaAction(schema.json),
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    assert(DeltaLite.read(spark, t4).count() == 1) // reader unaffected
    val e6 = intercept[IllegalArgumentException](
      DeltaLite.write(spark, Seq((3L, "c")).toDF("k", "v"), t4))
    assert(e6.getMessage.contains("someFutureFeature"), e6.getMessage)
  }

  test("commit conflict retry: a lost put-if-absent race rebases over " +
      "disjoint commits; file conflicts, dataChange-vs-mutation, and " +
      "metadata changes refuse loudly") {
    val t = java.nio.file.Files.createTempDirectory("delta_occ").toString
    val schema = Seq((1L, "a")).toDF("k", "v").schema
    writeDataFile(Seq((1L, "a")).toDF("k", "v"), t, "f1.parquet")
    writeDataFile(Seq((2L, "b")).toDF("k", "v"), t, "f2.parquet")
    writeLog(t, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaAction(schema.json),
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val logDir = new Path(t, "_delta_log")
    val f = fs(t)
    def plant(v: Long, lines: Seq[String]): Unit = writeLog(t, v, lines)
    val ourAppend = Seq(
      """{"commitInfo":{"operation":"WRITE","timestamp":1}}""",
      """{"add":{"path":"f2.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""")
    // disjoint intervener (a foreign append at the version we claim):
    // our blind append rebases to the next version and commits
    plant(1, Seq(
      """{"add":{"path":"x1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val got = DeltaLite.commitWithRetry(f, logDir, t, 1, ourAppend,
      ourRemoves = Set.empty, dataChangeMutation = false)
    assert(got == 2L && f.exists(new Path(logDir, f"${2L}%020d.json")))
    // a compact-like rewrite (ourRemoves = {f9}) rebases over an
    // intervener touching OTHER files…
    plant(3, Seq(
      """{"add":{"path":"x2.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val rewrite = Seq(
      """{"commitInfo":{"operation":"OPTIMIZE","timestamp":1}}""",
      """{"remove":{"path":"f9.parquet","deletionTimestamp":1,"dataChange":false}}""")
    assert(DeltaLite.commitWithRetry(f, logDir, t, 3, rewrite,
      ourRemoves = Set("f9.parquet"), dataChangeMutation = false) == 4L)
    // …but refuses when the intervener removed one of OUR files
    plant(5, Seq(
      """{"remove":{"path":"f9.parquet","deletionTimestamp":1,"dataChange":false}}"""))
    val ex1 = intercept[IllegalArgumentException](
      DeltaLite.commitWithRetry(f, logDir, t, 5, rewrite,
        ourRemoves = Set("f9.parquet"), dataChangeMutation = false))
    assert(ex1.getMessage.contains("conflicting file mutation"),
      ex1.getMessage)
    // a remove-only disjoint intervener is compatible even for a
    // mutation (we rewrote none of its files)… but a dataChange ADD
    // refuses: the mutation's scan missed rows it should have read
    plant(6, Seq(
      """{"add":{"path":"y1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val ex2 = intercept[IllegalArgumentException](
      DeltaLite.commitWithRetry(f, logDir, t, 6, ourAppend,
        ourRemoves = Set.empty, dataChangeMutation = true))
    assert(ex2.getMessage.contains("rows it should have read"),
      ex2.getMessage)
    // an intervening metaData/protocol change refuses any rebase
    plant(7, Seq(metaAction(schema.json)))
    val ex3 = intercept[IllegalArgumentException](
      DeltaLite.commitWithRetry(f, logDir, t, 7, ourAppend,
        ourRemoves = Set.empty, dataChangeMutation = false))
    assert(ex3.getMessage.contains("metadata/protocol"), ex3.getMessage)
    // our own metadata-carrying commit refuses to rebase after a race
    val ex4 = intercept[IllegalArgumentException](
      DeltaLite.commitWithRetry(f, logDir, t, 7,
        ourAppend :+ metaAction(schema.json),
        ourRemoves = Set.empty, dataChangeMutation = false))
    assert(ex4.getMessage.contains("cannot rebase"), ex4.getMessage)
  }

  test("e2e writer race: a streaming-style append racing a compact on " +
      "the same delta table — BOTH commit; concurrent iceberg appends " +
      "all commit via rebase") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val t = java.nio.file.Files.createTempDirectory("delta_race").toString +
      "/tbl"
    // small files so compact has work
    (1L to 4L).foreach(i =>
      DeltaLite.write(spark, Seq((i, s"v$i")).toDF("k", "v"), t))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val fApp = Future {
      barrier.await()
      DeltaLite.write(spark, Seq((99L, "app")).toDF("k", "v"), t)
    }
    val fCmp = Future {
      barrier.await()
      DeltaLite.compact(spark, t, smallFileBytes = 1L << 20)
    }
    Await.result(fApp, 120.seconds)
    Await.result(fCmp, 120.seconds)
    // both operations committed (versions 4 and 5, either order) and
    // no row was lost or duplicated
    val snap = DeltaLite.snapshot(spark, t)
    assert(snap.version == 5L, s"expected both commits, at ${snap.version}")
    val ops = DeltaLite.historyDf(spark, t)
      .select("operation").collect().map(_.getString(0)).toSeq
    assert(ops.count(_ == "WRITE") == 5 && ops.count(_ == "OPTIMIZE") == 1,
      ops.toString)
    assert(DeltaLite.read(spark, t).as[(Long, String)].collect().toSet ==
      (1L to 4L).map(i => (i, s"v$i")).toSet + ((99L, "app")))
    // iceberg: 6 concurrent appends, every one commits (rebase on lost
    // races), no rows lost
    import graft.sources.IcebergLite
    val t2 = java.nio.file.Files.createTempDirectory("ice_race").toString +
      "/tbl"
    IcebergLite.write(spark, Seq((0L, "base")).toDF("k", "v"), t2)
    val barrier2 = new java.util.concurrent.CyclicBarrier(6)
    val fs6 = (1L to 6L).map(i => Future {
      barrier2.await()
      IcebergLite.write(spark, Seq((i, s"w$i")).toDF("k", "v"), t2)
    })
    fs6.foreach(Await.result(_, 180.seconds))
    val got2 = IcebergLite.read(spark, t2).as[(Long, String)]
      .collect().toSet
    assert(got2 == (1L to 6L).map(i => (i, s"w$i")).toSet + ((0L, "base")),
      got2.toString)
    assert(IcebergLite.loadMeta(spark, t2).version == 7)
  }

  test("change data feed: deleteWhere/upsert write exact cdc actions; " +
      "changeFeed reads them, derives blind appends/full removes, and " +
      "declines non-CDF tables") {
    val t = java.nio.file.Files.createTempDirectory("delta_cdf").toString +
      "/tbl"
    // v0 create (CDF on, writer version 4), v1 append
    DeltaLite.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    DeltaLite.write(spark, Seq((3L, "c")).toDF("k", "v"), t)
    // v2 MERGE: replace k=1, insert k=9, delete k=2
    DeltaLite.upsert(spark,
      Seq((1L, "A"), (9L, "z")).toDF("k", "v"), t, Seq("k"),
      deleteKeys = Some(Seq(Tuple1(2L)).toDF("k")))
    // v3 DV delete of k=3
    DeltaLite.deleteWhere(spark, t, col("k") === 3L)
    // cdc files exist under _change_data
    assert(fs(t).exists(new Path(t, "_change_data")))
    val feed = DeltaLite.changeFeed(spark, t, 0, 3)
      .select("k", "v", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    assert(feed == Set(
      (3L, "c", "insert", 1L),            // derived blind append
      (1L, "a", "update_preimage", 2L),   // exact cdc
      (1L, "A", "update_postimage", 2L),
      (9L, "z", "insert", 2L),
      (2L, "b", "delete", 2L),
      (3L, "c", "delete", 3L)), feed.toString)     // DV delete via cdc
    // table state agrees with the replayed feed
    assert(DeltaLite.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((1L, "A"), (9L, "z")))
    // full-file removes derive as deletes (overwrite with no cdc):
    // protocol floor also proves writer version 4 on CDF tables
    assert(DeltaLite.snapshot(spark, t).protocol.exists(p =>
      p.minWriterVersion >= 4))
    // derive-mode deletes across MULTIPLE remove commits: the rolling
    // state reads each commit's removed files at their PRE-commit
    // state (one replay for the whole range, rolled forward)
    DeltaLite.write(spark, Seq((7L, "g")).toDF("k", "v"), t, "overwrite")
    DeltaLite.write(spark, Seq((8L, "h")).toDF("k", "v"), t, "overwrite")
    val feed2 = DeltaLite.changeFeed(spark, t, 3, 5)
      .select("k", "v", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    assert(feed2 == Set(
      (1L, "A", "delete", 4L), (9L, "z", "delete", 4L),
      (7L, "g", "insert", 4L),
      (7L, "g", "delete", 5L), (8L, "h", "insert", 5L)),
      feed2.toString)
    // non-CDF tables decline (keyed diff stays the fallback)
    val t2 = java.nio.file.Files.createTempDirectory("delta_nocdf")
      .toString + "/tbl"
    DeltaLite.write(spark, Seq((1L, "a")).toDF("k", "v"), t2)
    DeltaLite.write(spark, Seq((2L, "b")).toDF("k", "v"), t2)
    assert(DeltaLite.changeFeedIfAvailable(spark, t2, 0, 1).isEmpty)
    // partitioned CDF: cdc files land under hive dirs with
    // partitionValues; the feed injects the partition column back
    val t3 = java.nio.file.Files.createTempDirectory("delta_cdfp")
      .toString + "/tbl"
    DeltaLite.write(spark,
      Seq((1L, "x", "east"), (2L, "y", "west")).toDF("k", "v", "r"), t3,
      partitionBy = Seq("r"),
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    DeltaLite.deleteWhere(spark, t3, col("r") === "east")
    val feed3 = DeltaLite.changeFeed(spark, t3, -1, 1)
      .select("k", "r", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(feed3 == Set((1L, "east", "insert"), (2L, "west", "insert"),
      (1L, "east", "delete")), feed3.toString)
    // VACUUM must not sweep _change_data: cdc files are referenced by
    // past commits' cdc actions, never by the live snapshot. (The
    // spec's usual trade still applies to DERIVED ranges — vacuum may
    // remove the unreferenced data files old blind-append commits
    // would re-read — but exact cdc batches survive.)
    DeltaLite.vacuum(spark, t3)
    val feedAfterVacuum = DeltaLite.changeFeed(spark, t3, 0, 1)
      .select("k", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feedAfterVacuum == Set((1L, "delete")),
      s"vacuum destroyed the cdc files: $feedAfterVacuum")
    // cdc files DIE WITH LOG CLEANUP: once their commits are deleted,
    // the range is no longer CDF-readable and keeping them would grow
    // _change_data forever
    val cd = new Path(t3, "_change_data")
    def cdcFiles(p: Path): Long =
      if (!fs(t3).exists(p)) 0L
      else fs(t3).listStatus(p).map(st =>
        if (st.isDirectory) cdcFiles(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) 1L else 0L).sum
    assert(cdcFiles(cd) > 0L, "premise: cdc files exist before cleanup")
    DeltaLite.checkpoint(spark, t3)
    DeltaLite.cleanupLogs(spark, t3)
    assert(cdcFiles(cd) == 0L, s"${cdcFiles(cd)} orphaned cdc files " +
      "survive log cleanup")
    assert(DeltaLite.read(spark, t3).count() == 1) // table intact
  }

  test("v2 checkpoint (UUID-named + sidecars) seeds the snapshot; a " +
      "JSON-flavored v2 checkpoint seeds too (both spec flavors)") {
    val t = java.nio.file.Files.createTempDirectory("delta_v2ck").toString
    val schema = Seq((1L, "a")).toDF("k", "v").schema
    writeDataFile(Seq((1L, "a")).toDF("k", "v"), t, "s1.parquet")
    writeDataFile(Seq((2L, "b")).toDF("k", "v"), t, "s2.parquet")
    writeDataFile(Seq((3L, "c")).toDF("k", "v"), t, "s3.parquet")
    val logDir = new Path(t, "_delta_log")
    // sidecar parquet carrying the add actions
    val sidecar = Seq(
      (Option(CkAdd("s1.parquet", Map.empty)), Option.empty[String]),
      (Option(CkAdd("s2.parquet", Map.empty)), Option.empty[String]))
      .toDF("add", "remove")
    val sideDir = new Path(logDir, "_sidecars")
    fs(t).mkdirs(sideDir)
    val sstage = t + "_sstage"
    sidecar.coalesce(1).write.mode("overwrite").parquet(sstage)
    val spart = fs(t).listStatus(new Path(sstage)).map(_.getPath)
      .find(_.getName.startsWith("part-")).get
    val sideName = "3a2b-sidecar-1.parquet"
    assert(fs(t).rename(spart, new Path(sideDir, sideName)))
    fs(t).delete(new Path(sstage), true)
    // the v2 checkpoint itself: protocol + metaData + checkpointMetadata
    // + one sidecar action, NO inline adds
    val ck = Seq(
      (Option.empty[CkMeta], Option.empty[CkProto],
        Option(V2Meta(2L)), Option.empty[V2Side]),
      (Option(CkMeta(schema.json, Nil, Map.empty)),
        Option.empty[CkProto], Option.empty[V2Meta], Option.empty[V2Side]),
      (Option.empty[CkMeta],
        Option(CkProto(3, 7, Seq("v2Checkpoint"))),
        Option.empty[V2Meta], Option.empty[V2Side]),
      (Option.empty[CkMeta], Option.empty[CkProto], Option.empty[V2Meta],
        Option(V2Side(sideName, 1L))))
      .toDF("metaData", "protocol", "checkpointMetadata", "sidecar")
    val ckstage = t + "_ckstage"
    ck.coalesce(1).write.mode("overwrite").parquet(ckstage)
    val cpart = fs(t).listStatus(new Path(ckstage)).map(_.getPath)
      .find(_.getName.startsWith("part-")).get
    val uuid = "0a1b2c3d-1111-2222-3333-444455556666"
    assert(fs(t).rename(cpart,
      new Path(logDir, f"${2L}%020d.checkpoint.$uuid.parquet")))
    fs(t).delete(new Path(ckstage), true)
    val lc = fs(t).create(new Path(logDir, "_last_checkpoint"), true)
    try lc.write("""{"version":2,"size":4}""".getBytes("UTF-8"))
    finally lc.close()
    // commit 3 on top of the checkpoint
    writeLog(t, 3, Seq(
      """{"commitInfo":{"operation":"WRITE","timestamp":1}}""",
      """{"add":{"path":"s3.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val got = DeltaLite.read(spark, t).as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "b"), (3L, "c")), got.toString)
    val snap = DeltaLite.snapshot(spark, t)
    assert(snap.version == 3L && snap.files.keySet ==
      Set("s1.parquet", "s2.parquet", "s3.parquet"))
    // JSON-FLAVORED v2 checkpoint (the spec's other top-file format):
    // newline-delimited actions + a parquet sidecar, commits cleaned —
    // the snapshot must seed from it alone, then replay newer commits
    val t2 = java.nio.file.Files.createTempDirectory("delta_v2json")
      .toString
    writeDataFile(Seq((1L, "a")).toDF("k", "v"), t2, "j1.parquet")
    writeDataFile(Seq((2L, "b")).toDF("k", "v"), t2, "j2.parquet")
    writeDataFile(Seq((3L, "c")).toDF("k", "v"), t2, "j3.parquet")
    val logDir2 = new Path(t2, "_delta_log")
    fs(t2).mkdirs(logDir2)
    // sidecar carries j2; j1 rides the top file inline (both legal)
    val side2 = Seq(
      (Option(CkAdd("j2.parquet", Map.empty)), Option.empty[String]))
      .toDF("add", "remove")
    val sideDir2 = new Path(logDir2, "_sidecars")
    fs(t2).mkdirs(sideDir2)
    val sstage2 = t2 + "_sstage"
    side2.coalesce(1).write.mode("overwrite").parquet(sstage2)
    val spart2 = fs(t2).listStatus(new Path(sstage2)).map(_.getPath)
      .find(_.getName.startsWith("part-")).get
    assert(fs(t2).rename(spart2, new Path(sideDir2, "sc-2.parquet")))
    fs(t2).delete(new Path(sstage2), true)
    val jc = fs(t2).create(new Path(logDir2,
      f"${2L}%020d.checkpoint.$uuid.json"), true)
    try jc.write((Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"],"writerFeatures":["v2Checkpoint"]}}""",
      s"""{"metaData":{"id":"tj","format":{"provider":"parquet","options":{}},"schemaString":${escape(schema.json)},"partitionColumns":[],"configuration":{},"createdTime":1}}""",
      """{"checkpointMetadata":{"version":2}}""",
      """{"add":{"path":"j1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""",
      """{"remove":{"path":"gone.parquet","deletionTimestamp":1,"dataChange":true}}""",
      """{"txn":{"appId":"appJ","version":9}}""",
      """{"sidecar":{"path":"sc-2.parquet","sizeInBytes":1}}""")
      .mkString("\n") + "\n").getBytes("UTF-8"))
    finally jc.close()
    val lc2 = fs(t2).create(new Path(logDir2, "_last_checkpoint"), true)
    try lc2.write("""{"version":2,"size":7}""".getBytes("UTF-8"))
    finally lc2.close()
    writeLog(t2, 3, Seq(
      """{"commitInfo":{"operation":"WRITE","timestamp":1}}""",
      """{"add":{"path":"j3.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val got2 = DeltaLite.read(spark, t2).as[(Long, String)].collect().toSet
    assert(got2 == Set((1L, "a"), (2L, "b"), (3L, "c")), got2.toString)
    val snap2 = DeltaLite.snapshot(spark, t2)
    assert(snap2.txns.get("appJ").contains(9L),
      "txn watermarks must ride the JSON v2 checkpoint")
    assert(!snap2.files.contains("gone.parquet"),
      "checkpoint removes are expired tombstones, never live files")
    // a corrupt version pin refuses loudly
    val t3 = java.nio.file.Files.createTempDirectory("delta_v2bad")
      .toString
    val logDir3 = new Path(t3, "_delta_log")
    fs(t3).mkdirs(logDir3)
    val jc3 = fs(t3).create(new Path(logDir3,
      f"${2L}%020d.checkpoint.$uuid.json"), true)
    try jc3.write((Seq(
      s"""{"metaData":{"id":"t3","format":{"provider":"parquet","options":{}},"schemaString":${escape(schema.json)},"partitionColumns":[],"configuration":{},"createdTime":1}}""",
      """{"checkpointMetadata":{"version":7}}""")
      .mkString("\n") + "\n").getBytes("UTF-8"))
    finally jc3.close()
    val ex = intercept[IllegalArgumentException](
      DeltaLite.snapshot(spark, t3))
    assert(ex.getMessage.contains("corrupt checkpoint"), ex.getMessage)
  }

  test("v2 checkpoint WRITING: a v2Checkpoint-featured table's " +
      "checkpoint() emits the UUID-named form + sidecar, seeds a fresh " +
      "replay, and survives cleanupLogs") {
    val t = java.nio.file.Files.createTempDirectory("delta_v2ckw").toString
    DeltaLite.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    // stamp the v2Checkpoint feature pair (a foreign table's shape)
    locally {
      val s = DeltaLite.snapshot(spark, t)
      val out = fs(t).create(
        new Path(t, f"_delta_log/${s.version + 1}%020d.json"), true)
      try out.write((
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["v2Checkpoint"],""" +
        """"writerFeatures":["v2Checkpoint"]}}""" + "\n").getBytes("UTF-8"))
      finally out.close()
    }
    DeltaLite.write(spark, Seq((3L, "c")).toDF("k", "v"), t)
    DeltaLite.deleteWhere(spark, t, col("k") === 1L)
    val ckv = DeltaLite.checkpoint(spark, t)
    // the UUID-named top file + a sidecar parquet exist; NO classic
    // single-file checkpoint was written
    val names = fs(t).listStatus(new Path(t, "_delta_log"))
      .map(_.getPath.getName).toSeq
    assert(names.exists(n => n.matches(
        f"$ckv%020d\\.checkpoint\\.[0-9a-f-]{36}\\.parquet")),
      names.toString)
    assert(!names.contains(f"$ckv%020d.checkpoint.parquet"), names.toString)
    assert(fs(t).listStatus(new Path(t, "_delta_log/_sidecars"))
      .exists(_.getPath.getName.endsWith(".parquet")))
    // a fresh snapshot seeds from it (and from it ALONE after cleanup)
    def rows(): Set[(Long, String)] = DeltaLite.read(spark, t)
      .as[(Long, String)].collect().toSet
    assert(rows() == Set((2L, "b"), (3L, "c")))
    DeltaLite.cleanupLogs(spark, t)
    assert(rows() == Set((2L, "b"), (3L, "c")),
      "checkpoint-seeded replay after log cleanup must reproduce state")
    // and the seeded table keeps working: append + re-checkpoint
    DeltaLite.write(spark, Seq((4L, "d")).toDF("k", "v"), t)
    assert(rows() == Set((2L, "b"), (3L, "c"), (4L, "d")))
    DeltaLite.checkpoint(spark, t)
    DeltaLite.cleanupLogs(spark, t)
    assert(rows() == Set((2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("in-commit timestamps: versionAtTimestamp resolves by the ICT " +
      "authority even when commitInfo.timestamp and file mtimes both " +
      "disagree") {
    val t = java.nio.file.Files.createTempDirectory("delta_ict").toString
    val schema = Seq((1L, "a")).toDF("k", "v").schema
    writeDataFile(Seq((1L, "a")).toDF("k", "v"), t, "i0.parquet")
    writeDataFile(Seq((2L, "b")).toDF("k", "v"), t, "i1.parquet")
    writeLog(t, 0, Seq(
      """{"commitInfo":{"timestamp":1000,"inCommitTimestamp":5000,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["appendOnly","invariants","inCommitTimestamp"]}}""",
      s"""{"metaData":{"id":"t1","format":{"provider":"parquet","options":{}},"schemaString":${escape(schema.json)},"partitionColumns":[],"configuration":{"delta.enableInCommitTimestamps":"true"},"createdTime":1}}""",
      """{"add":{"path":"i0.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    writeLog(t, 1, Seq(
      """{"commitInfo":{"timestamp":2000,"inCommitTimestamp":9000,"operation":"WRITE"}}""",
      """{"add":{"path":"i1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    // mtimes are "now" (far past both) and commitInfo.timestamp claims
    // v1 landed at 2000 — ICT is the authority: the spec fixture's
    // timeline is 5000 → v0, 9000 → v1, nothing before 5000
    assert(DeltaLite.versionAtTimestamp(spark, t, 5000L) == 0L)
    assert(DeltaLite.versionAtTimestamp(spark, t, 8999L) == 0L)
    assert(DeltaLite.versionAtTimestamp(spark, t, 9000L) == 1L)
    assert(DeltaLite.versionAtTimestamp(spark, t, 99999L) == 1L)
    val ex = intercept[IllegalArgumentException](
      DeltaLite.versionAtTimestamp(spark, t, 4999L))
    assert(ex.getMessage.contains("at or before"), ex.getMessage)
    // legacy resolution would have answered v1 for 2000 — ICT forbids
    val ex2 = intercept[IllegalArgumentException](
      DeltaLite.versionAtTimestamp(spark, t, 2000L))
    assert(ex2.getMessage.contains("at or before"), ex2.getMessage)
    // graft appends to the FOREIGN ICT table advance ITS clock
    DeltaLite.write(spark, Seq((3L, "c")).toDF("k", "v"), t)
    val in = fs(t).open(new Path(t, "_delta_log/" + f"${2L}%020d.json"))
    val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val ci = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(txt.split("\n").find(_.contains("commitInfo")).get)
      .get("commitInfo")
    assert(ci.get("inCommitTimestamp").asLong == 9001L, ci.toString)
    assert(DeltaLite.versionAtTimestamp(spark, t, 9001L) == 2L)
  }

  test("graft's own writers stamp strictly increasing inCommitTimestamps " +
      "when the table enables them at creation; the protocol carries " +
      "the feature") {
    val t = java.nio.file.Files.createTempDirectory("delta_ictw")
      .toString + "/tbl"
    DeltaLite.write(spark, Seq((1L, "a")).toDF("k", "v"), t,
      configuration = Map("delta.enableInCommitTimestamps" -> "true"))
    DeltaLite.write(spark, Seq((2L, "b")).toDF("k", "v"), t)
    DeltaLite.deleteWhere(spark, t, col("k") === 1L)
    def ict(v: Long): Long = {
      val in = fs(t).open(new Path(t, f"_delta_log/$v%020d.json"))
      val txt = try new String(in.readAllBytes(), "UTF-8")
        finally in.close()
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(txt.split("\n").find(_.contains("commitInfo")).get)
        .get("commitInfo").get("inCommitTimestamp").asLong
    }
    val ts = Seq(ict(0), ict(1), ict(2))
    assert(ts == ts.sorted && ts.distinct == ts,
      s"ICTs not strictly increasing: $ts")
    val snap = DeltaLite.snapshot(spark, t)
    assert(snap.protocol.exists(_.writerFeatures
      .exists(_.contains("inCommitTimestamp"))), snap.protocol.toString)
    // timestamp time travel resolves by the stamped clocks
    assert(DeltaLite.versionAtTimestamp(spark, t, ict(1)) == 1L)
    assert(DeltaLite.read(spark, t, Some(
      DeltaLite.versionAtTimestamp(spark, t, ict(1)))).count() == 2)
    // checkpoint at head + cleanupLogs: the HEAD commit (the table's
    // authoritative clock) is SPARED, so the next commit's ICT still
    // advances instead of silently resetting to 1
    DeltaLite.checkpoint(spark, t)
    val deletedN = DeltaLite.cleanupLogs(spark, t)
    assert(deletedN == 2, s"deleted $deletedN commits — the ICT head " +
      "commit must be spared")
    assert(fs(t).exists(new Path(t, f"_delta_log/${2L}%020d.json")))
    DeltaLite.write(spark, Seq((5L, "e")).toDF("k", "v"), t)
    assert(ict(3) > ts.last, s"post-cleanup ICT ${ict(3)} !> ${ts.last}")
  }

  test("a rebased ICT commit re-stamps its clock past the new head's") {
    val t = java.nio.file.Files.createTempDirectory("delta_ictr")
      .toString + "/tbl"
    DeltaLite.write(spark, Seq((1L, "a")).toDF("k", "v"), t,
      configuration = Map("delta.enableInCommitTimestamps" -> "true"))
    // a foreign winner claims v1 with a far-future clock
    writeDataFile(Seq((9L, "w")).toDF("k", "v"), t, "w.parquet")
    writeLog(t, 1, Seq(
      """{"commitInfo":{"timestamp":1,"inCommitTimestamp":7777,"operation":"WRITE"}}""",
      """{"add":{"path":"w.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    // our blind append loses the v1 claim and rebases to v2 — its ICT
    // must land PAST the winner's 7777, not keep its stale stamp
    writeDataFile(Seq((2L, "b")).toDF("k", "v"), t, "b.parquet")
    val logDir = new Path(t, "_delta_log")
    val committed = DeltaLite.commitWithRetry(fs(t), logDir, t,
      firstVersion = 1L, lines = Seq(
        """{"commitInfo":{"timestamp":1,"inCommitTimestamp":2,"operation":"WRITE"}}""",
        """{"add":{"path":"b.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""),
      ourRemoves = Set.empty, dataChangeMutation = false)
    assert(committed == 2L)
    val in = fs(t).open(new Path(logDir, f"${2L}%020d.json"))
    val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val ci = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(txt.split("\n").find(_.contains("commitInfo")).get)
      .get("commitInfo")
    assert(ci.get("inCommitTimestamp").asLong == 7778L, ci.toString)
  }

  test("CHECK constraints enforce on native writes: in-contract appends " +
      "succeed, violations refuse naming the constraint, upserts gate " +
      "their batch, creation stamps the writer-3 floor") {
    val t = java.nio.file.Files.createTempDirectory("delta_check")
      .toString + "/tbl"
    DeltaLite.write(spark, Seq((1L, 10L)).toDF("k", "v"), t,
      configuration = Map("delta.constraints.v_positive" -> "v > 0"))
    DeltaLite.write(spark, Seq((2L, 20L)).toDF("k", "v"), t)
    val ex = intercept[IllegalArgumentException](
      DeltaLite.write(spark, Seq((3L, -5L)).toDF("k", "v"), t))
    assert(ex.getMessage.contains("v_positive") &&
      ex.getMessage.contains("v > 0"), ex.getMessage)
    // null is a violation too (delta's CheckDeltaInvariant: not-TRUE)
    val ex2 = intercept[IllegalArgumentException](
      DeltaLite.write(spark,
        Seq((4L, Option.empty[Long])).toDF("k", "v"), t))
    assert(ex2.getMessage.contains("v_positive"), ex2.getMessage)
    // MERGE gates its batch rows the same way
    val ex3 = intercept[IllegalArgumentException](
      DeltaLite.upsert(spark, Seq((1L, -1L)).toDF("k", "v"), t, Seq("k")))
    assert(ex3.getMessage.contains("v_positive"), ex3.getMessage)
    DeltaLite.upsert(spark, Seq((1L, 99L)).toDF("k", "v"), t, Seq("k"))
    assert(DeltaLite.read(spark, t).as[(Long, Long)].collect().toSet ==
      Set((1L, 99L), (2L, 20L)))
    // nothing refused leaked a commit: exactly create+append+merge
    assert(DeltaLite.snapshot(spark, t).version == 2L)
    assert(DeltaLite.snapshot(spark, t).protocol
      .forall(_.minWriterVersion >= 3))
  }

  test("legacy delta.invariants column metadata enforces on appends to " +
      "a foreign table") {
    import org.apache.spark.sql.types.{LongType, MetadataBuilder,
      StructField, StructType}
    val t = java.nio.file.Files.createTempDirectory("delta_inv").toString
    val inv = """{"expression":{"expression":"v < 100"}}"""
    val schema = StructType(Seq(
      StructField("k", LongType),
      StructField("v", LongType, nullable = true,
        new MetadataBuilder().putString("delta.invariants", inv).build())))
    writeDataFile(Seq((1L, 10L)).toDF("k", "v"), t, "f1.parquet")
    writeLog(t, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaAction(schema.json),
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    DeltaLite.write(spark, Seq((2L, 50L)).toDF("k", "v"), t)
    val ex = intercept[IllegalArgumentException](
      DeltaLite.write(spark, Seq((3L, 200L)).toDF("k", "v"), t))
    assert(ex.getMessage.contains("column invariant on v") &&
      ex.getMessage.contains("v < 100"), ex.getMessage)
    assert(DeltaLite.read(spark, t).count() == 2)
  }

  test("row tracking end-to-end: appends allocate contiguous base row " +
      "ids past the domain's mark, DV deletes/restore/checkpoint " +
      "PRESERVE coordinates, OPTIMIZE/MERGE MATERIALIZE stable ids " +
      "into their rewrites") {
    val t = java.nio.file.Files.createTempDirectory("delta_rowtrack")
      .toString
    DeltaLite.write(spark, (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v"),
      t, configuration = Map("delta.enableRowTracking" -> "true"))
    val s0 = DeltaLite.snapshot(spark, t)
    assert(s0.protocol.exists(_.writerFeatures
      .exists(f => f.contains("rowTracking") && f.contains("domainMetadata"))),
      s0.protocol.toString)
    assert(s0.rowIds.values.map(_._1).toSeq.sorted.headOption.contains(0L),
      s0.rowIds.toString)
    val hwm0 = {
      val line = s0.domainMetadata("delta.rowTracking")
      line.contains("rowIdHighWaterMark") && line.contains("9")
    }
    assert(hwm0, s0.domainMetadata.toString)
    // a second append allocates PAST the mark, never overlapping
    DeltaLite.write(spark, Seq((11L, "x"), (12L, "y")).toDF("k", "v"), t)
    val s1 = DeltaLite.snapshot(spark, t)
    val allBases = s1.rowIds.values.map(_._1).toSeq.sorted
    assert(allBases.contains(10L), s1.rowIds.toString)
    assert(s1.rowIds.values.map(_._2).toSet.size >= 2,
      "defaultRowCommitVersion must differ across commits")
    // DV delete: the re-add RESTATES the file's coordinates
    DeltaLite.deleteWhere(spark, t, col("k") === 1L)
    val s2 = DeltaLite.snapshot(spark, t)
    assert(s2.rowIds.values.map(_._1).toSeq.sorted == allBases,
      "a DV re-add must preserve baseRowId")
    // restore back to v1 (pre-delete) restates v1's coordinates
    DeltaLite.restore(spark, t, 1L)
    assert(DeltaLite.snapshot(spark, t).rowIds.values.map(_._1).toSeq
      .sorted == allBases)
    // checkpoint + cleanup: coordinates survive the parquet round trip
    DeltaLite.checkpoint(spark, t)
    DeltaLite.cleanupLogs(spark, t)
    val s3 = DeltaLite.snapshot(spark, t)
    assert(s3.rowIds.values.map(_._1).toSeq.sorted == allBases,
      "checkpoint dropped row ids")
    // OPTIMIZE materializes stable ids: every row's (k, id, ver) is
    // IDENTICAL before and after the rewrite, and the minted
    // materialized column names land in the configuration
    def idsOf(): Set[(Long, Long, Long)] = DeltaLite
      .readWithRowIds(spark, t)
      .select(col("k"), col("_row_id"), col("_row_commit_version"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val before = idsOf()
    assert(before.size == 12, before.toString) // restored pre-delete
    DeltaLite.compact(spark, t, smallFileBytes = 1L << 20)
    val s4 = DeltaLite.snapshot(spark, t)
    assert(s4.files.size == 1, "compact should have packed to one file")
    assert(s4.configuration.contains(
      "delta.rowTracking.materializedRowIdColumnName"),
      s4.configuration.toString)
    assert(idsOf() == before,
      s"OPTIMIZE must preserve every stable id: $before vs ${idsOf()}")
    // a DV delete after materialization: the dead row's id disappears,
    // every survivor keeps its id
    DeltaLite.deleteWhere(spark, t, col("k") === 2L)
    val afterDel = idsOf()
    assert(afterDel == before.filterNot(_._1 == 2L), afterDel.toString)
    // MERGE: replaced key keeps its id (version bumps), new key gets a
    // FRESH id past every existing one
    val idOf3 = afterDel.find(_._1 == 3L).get._2
    val verOf4 = afterDel.find(_._1 == 4L).get._3
    val maxId = afterDel.map(_._2).max
    DeltaLite.upsert(spark,
      Seq((3L, "Z3"), (99L, "n")).toDF("k", "v"), t, Seq("k"))
    val afterMerge = idsOf()
    assert(afterMerge.find(_._1 == 3L).get._2 == idOf3,
      "an update must preserve the row's stable id")
    assert(afterMerge.find(_._1 == 3L).get._3 >
        before.find(_._1 == 3L).get._3,
      "an update must advance the row's commit version")
    assert(afterMerge.find(_._1 == 99L).get._2 > maxId,
      "an insert must allocate a fresh id past the high-water mark")
    assert(afterMerge.find(_._1 == 4L).exists(_._3 == verOf4),
      "a retained row must keep its exact commit version through MERGE")
    assert(afterMerge.map(_._2).size == afterMerge.size,
      "stable ids must stay unique")
  }

  test("modern writer-feature-only tables: rowTracking writes ALLOCATE, " +
      "clustered tables append/delete with the domain retained, " +
      "UniForm tables APPEND (field ids already stamped) while " +
      "mutations refuse naming the DV restriction") {
    val schema = Seq((1L, "a")).toDF("k", "v").schema
    def mk(feature: String, extraLines: Seq[String] = Nil,
        conf: String = "{}"): String = {
      val t = java.nio.file.Files
        .createTempDirectory(s"delta_feat_$feature").toString
      writeDataFile(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t,
        "f1.parquet")
      val wf = Seq("appendOnly", "invariants", "domainMetadata", feature)
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      writeLog(t, 0, Seq(
        s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":$wf}}""",
        s"""{"metaData":{"id":"t1","format":{"provider":"parquet","options":{}},"schemaString":${escape(schema.json)},"partitionColumns":[],"configuration":$conf,"createdTime":1}}""") ++
        extraLines :+
        """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""")
      t
    }
    // rowTracking (writer-only): reads fine, and a FOREIGN table's
    // append now allocates past ITS recorded high-water mark (7)
    val rt = mk("rowTracking", Seq(
      """{"domainMetadata":{"domain":"delta.rowTracking","configuration":"{\"rowIdHighWaterMark\":7}","removed":false}}"""))
    assert(DeltaLite.read(spark, rt).count() == 2)
    DeltaLite.write(spark, Seq((3L, "c")).toDF("k", "v"), rt)
    val rtSnap = DeltaLite.snapshot(spark, rt)
    assert(rtSnap.rowIds.values.map(_._1).toSet.contains(8L),
      rtSnap.rowIds.toString)
    assert(rtSnap.domainMetadata("delta.rowTracking")
      .contains("rowIdHighWaterMark\\\":8"),
      rtSnap.domainMetadata.toString)
    // liquid clustering domain metadata: reads fine, the domain is
    // retained, and appends + DV deletes now WORK (delta-spark's own
    // contract — appends land unclustered, OPTIMIZE does the layout)
    val cl = mk("clustering", Seq(
      """{"domainMetadata":{"domain":"delta.clustering","configuration":"{\"clusteringColumns\":[[\"k\"]]}","removed":false}}"""))
    assert(DeltaLite.read(spark, cl).count() == 2)
    assert(DeltaLite.snapshot(spark, cl).domainMetadata
      .contains("delta.clustering"))
    DeltaLite.write(spark, Seq((3L, "c")).toDF("k", "v"), cl)
    DeltaLite.deleteWhere(spark, cl, col("k") === 1L)
    assert(DeltaLite.read(spark, cl).select("k").as[Long]
      .collect().toSet == Set(2L, 3L))
    assert(DeltaLite.snapshot(spark, cl).domainMetadata
      .contains("delta.clustering"), "mutations must keep the domain")
    // icebergCompatV2 (UniForm): reads fine; APPENDS work on a
    // properly column-mapped compat table (the mapped staging writes
    // the parquet field ids the iceberg conversion resolves by);
    // row-level mutations run COPY-ON-WRITE — UniForm forbids
    // deletion vectors, so the touched files rewrite without the
    // matched rows and the table NEVER gains a DV
    val ic = java.nio.file.Files.createTempDirectory("delta_uniform")
      .toString
    DeltaLite.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), ic)
    DeltaLite.enableColumnMapping(spark, ic)
    locally { // stamp the compat feature the way delta-spark does
      val s = DeltaLite.snapshot(spark, ic)
      val p = s.protocol.get
      val wf = (p.writerFeatures.getOrElse(
          Seq("appendOnly", "invariants", "columnMapping")) :+
          "icebergCompatV2")
        .distinct.map("\"" + _ + "\"").mkString("[", ",", "]")
      val rf = p.readerFeatures.getOrElse(Seq("columnMapping"))
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      val out = fs(ic).create(
        new Path(ic, f"_delta_log/${s.version + 1}%020d.json"), true)
      try out.write((
        s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":$rf,"writerFeatures":$wf}}""" +
        "\n").getBytes("UTF-8"))
      finally out.close()
    }
    DeltaLite.write(spark, Seq((3L, "c")).toDF("k", "v"), ic)
    assert(DeltaLite.read(spark, ic).select("k").as[Long]
      .collect().toSet == Set(1L, 2L, 3L))
    // copy-on-write DELETE: result is right AND no DV ever appears
    DeltaLite.deleteWhere(spark, ic, col("k") === 1L)
    assert(DeltaLite.read(spark, ic).select("k").as[Long]
      .collect().toSet == Set(2L, 3L))
    def noDv(): Unit = {
      val s = DeltaLite.snapshot(spark, ic)
      assert(s.dvs.isEmpty, "a UniForm table must NEVER carry a DV: " +
        s.dvs.toString)
      assert(!fs(ic).listStatus(new Path(ic)).exists(st =>
        st.getPath.getName.startsWith("deletion_vector_")),
        "no DV file may be written under a UniForm table root")
    }
    noDv()
    // copy-on-write MERGE (upsert rewrites touched files wholesale)
    DeltaLite.upsert(spark,
      Seq((2L, "B2"), (4L, "d")).toDF("k", "v"), ic, Seq("k"))
    assert(DeltaLite.read(spark, ic).as[(Long, String)].collect().toSet
      == Set((2L, "B2"), (3L, "c"), (4L, "d")))
    noDv()
    // a fully-dead file commits as a bare remove (no empty add)
    DeltaLite.deleteWhere(spark, ic, col("k") >= 2L)
    assert(DeltaLite.read(spark, ic).count() == 0L)
    noDv()
    val icSnap = DeltaLite.snapshot(spark, ic)
    assert(icSnap.files.forall { case (p, _) =>
      DeltaLite.snapshot(spark, ic).stats.get(p).forall(st =>
        !st.contains("\"numRecords\":0"))
    }, "an all-dead rewrite must not leave an empty add behind")
    // UniForm + rowTracking composed: the copy-on-write delete
    // MATERIALIZES surviving ids (no DV, ids stable)
    val icr = java.nio.file.Files.createTempDirectory("delta_unirt")
      .toString
    DeltaLite.write(spark,
      (1L to 8L).map(i => (i, s"v$i")).toDF("k", "v"), icr,
      configuration = Map("delta.enableRowTracking" -> "true"))
    DeltaLite.enableColumnMapping(spark, icr)
    DeltaLite.setTableProperties(spark, icr, Map(
      "delta.enableIcebergCompatV2" -> "true"))
    def idsR(): Set[(Long, Long)] = DeltaLite.readWithRowIds(spark, icr)
      .select(col("k"), col("_row_id"))
      .as[(Long, Long)].collect().toSet
    val beforeIds = idsR()
    DeltaLite.deleteWhere(spark, icr, col("k") % 2 === 0L)
    assert(idsR() == beforeIds.filter(_._1 % 2 == 1),
      "UniForm copy-on-write delete must keep survivors' stable ids")
    assert(DeltaLite.snapshot(spark, icr).dvs.isEmpty,
      "UniForm + rowTracking delete must not write a DV")
  }

  test("UniForm iceberg sync: the conversion registers the delta " +
      "files as an iceberg snapshot — same rows, re-sync mirrors " +
      "mutations, field ids agree, refusals are loud") {
    import graft.sources.IcebergLite
    val t = java.nio.file.Files.createTempDirectory("delta_unisync")
      .toString
    DeltaLite.write(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), t)
    DeltaLite.enableColumnMapping(spark, t)
    // not a UniForm table yet → loud refusal naming the feature
    val e0 = intercept[IllegalArgumentException] {
      DeltaLite.syncUniform(spark, t)
    }
    assert(e0.getMessage.contains("icebergCompatV2"))
    DeltaLite.setTableProperties(spark, t,
      Map("delta.enableIcebergCompatV2" -> "true"))
    DeltaLite.syncUniform(spark, t)
    // the iceberg view reads the same rows off the SAME parquet files
    // (physical column names in the iceberg schema — compare by
    // position)
    def ice(): Set[(Long, String)] = IcebergLite.read(spark, t)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ice() == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // iceberg schema field ids == the delta columnMapping ids the
    // parquet footers are stamped with (id-resolving readers depend
    // on the agreement syncUniform verifies)
    val dsnap = DeltaLite.snapshot(spark, t)
    val deltaIds = dsnap.schema.fields.map(f =>
      f.metadata.getString("delta.columnMapping.physicalName") ->
        f.metadata.getLong("delta.columnMapping.id").toInt).toMap
    val iceSchema = IcebergLite.loadMeta(spark, t).schema
    val iceNames = iceSchema.fieldNames.toSet
    assert(iceNames == deltaIds.keySet,
      s"iceberg schema must carry the physical names: $iceNames")
    // mutate: append then copy-on-write delete — the iceberg view is
    // PINNED at the registered version until the next sync
    DeltaLite.write(spark, Seq((4L, "d")).toDF("k", "v"), t)
    DeltaLite.deleteWhere(spark, t, col("k") === 2L)
    assert(ice() == Set((1L, "a"), (2L, "b"), (3L, "c")),
      "the iceberg registration pins the synced delta version")
    DeltaLite.syncUniform(spark, t)
    assert(ice() == Set((1L, "a"), (3L, "c"), (4L, "d")))
    // idempotent: re-sync of an unchanged table keeps the same rows
    DeltaLite.syncUniform(spark, t)
    assert(ice() == Set((1L, "a"), (3L, "c"), (4L, "d")))
    // each sync stamps the source delta version into the summary
    val summaries = IcebergLite.snapshotsDf(spark, t)
      .select("summary").collect()
      .map(_.getMap[String, String](0).get("delta-version"))
    assert(summaries.forall(_.isDefined),
      "every synced snapshot must record its delta-version")
    assert(summaries.last.contains(
      DeltaLite.snapshot(spark, t).version.toString))
    // PARTITIONED sync: an identity spec registers with each file's
    // partition tuple, and the iceberg read PROJECTS the partition
    // column from the manifest (delta data files don't carry it — a
    // file-read would surface silent nulls); pruning works through
    // the registered spec
    val tp = java.nio.file.Files.createTempDirectory("delta_unisync_pt")
      .toString
    DeltaLite.write(spark,
      Seq((1L, "x", "a"), (2L, "y", "b"), (3L, "z", "a"))
        .toDF("k", "v", "p"), tp, partitionBy = Seq("p"))
    DeltaLite.enableColumnMapping(spark, tp)
    DeltaLite.setTableProperties(spark, tp,
      Map("delta.enableIcebergCompatV2" -> "true"))
    DeltaLite.syncUniform(spark, tp)
    val got = IcebergLite.read(spark, tp).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set((1L, "x", "a"), (2L, "y", "b"), (3L, "z", "a")),
      s"partitioned UniForm sync must project partition values: $got")
    assert(IcebergLite.read(spark, tp,
      where = Some(col("p") === "a")).count() == 2)
    // a copy-on-write mutation inside one partition re-syncs exactly
    DeltaLite.deleteWhere(spark, tp, col("k") === 1L)
    DeltaLite.syncUniform(spark, tp)
    assert(IcebergLite.read(spark, tp).collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet ==
      Set((2L, "b"), (3L, "a")))
    // icebergCompatV2 NESTED field ids (round 18, replacing the old
    // refusal): array/map columns allocate member ids past
    // maxColumnId at enablement, post-enablement staged footers carry
    // them (element / key / value SchemaElements — Spark's writer
    // can't stamp non-StructField members), the registered iceberg
    // schema numbers members with the SAME ids, and the round-trip
    // reads back exactly
    val ta = java.nio.file.Files.createTempDirectory("delta_unisync_arr")
      .toString
    DeltaLite.write(spark,
      Seq((1L, Seq(10L, 11L), Map("a" -> 1L)),
        (2L, Seq(20L), Map("b" -> 2L))).toDF("k", "tags", "props"), ta)
    DeltaLite.enableColumnMapping(spark, ta)
    DeltaLite.setTableProperties(spark, ta,
      Map("delta.enableIcebergCompatV2" -> "true"))
    val aSnap = DeltaLite.snapshot(spark, ta)
    // named ids 1..3 stay; members get 4 (tags.element), 5/6
    // (props.key/value); maxColumnId advances over them
    assert(aSnap.configuration("delta.columnMapping.maxColumnId") == "6",
      s"member ids must advance maxColumnId: ${aSnap.configuration}")
    val tagsMeta = aSnap.schema("tags").metadata
      .getMetadata("parquet.field.nested.ids")
    assert(tagsMeta.getLong("tags.element") == 4L, tagsMeta.json)
    val propsMeta = aSnap.schema("props").metadata
      .getMetadata("parquet.field.nested.ids")
    assert(propsMeta.getLong("props.key") == 5L &&
      propsMeta.getLong("props.value") == 6L, propsMeta.json)
    // files written BEFORE enablement carry none of those ids in their
    // FOOTERS: the sync's footer verification refuses to register an
    // id-claiming iceberg schema over them (a strict id-resolving
    // reader would silently null the members — r18 advice;
    // delta-spark demands REORG UPGRADE UNIFORM here), and the named
    // repair — a footer-only copy-rewrite of exactly the lagging
    // files — clears it
    val eLag = intercept[IllegalStateException] {
      DeltaLite.syncUniform(spark, ta)
    }
    assert(eLag.getMessage.contains("reorgUpgradeUniform"),
      eLag.getMessage)
    val vReorg = DeltaLite.reorgUpgradeUniform(spark, ta)
    // idempotent: a second pass finds nothing lagging
    assert(DeltaLite.reorgUpgradeUniform(spark, ta) == vReorg)
    // the rewrite preserved the rows byte-for-byte
    assert(DeltaLite.read(spark, ta).collect().length == 2)
    DeltaLite.syncUniform(spark, ta)
    def iceA(): Set[(Long, Seq[Long], Map[String, Long])] =
      IcebergLite.read(spark, ta).collect().map(r => (r.getLong(0),
        r.getSeq[Long](1), r.getMap[String, Long](2).toMap)).toSet
    assert(iceA() == Set((1L, Seq(10L, 11L), Map("a" -> 1L)),
      (2L, Seq(20L), Map("b" -> 2L))))
    // the registered iceberg schema numbers members with the delta ids
    val metaDir = new java.io.File(ta, "metadata")
    val metaJson = new String(java.nio.file.Files.readAllBytes(
      metaDir.listFiles().filter(_.getName.endsWith(".metadata.json"))
        .maxBy(_.getName).toPath), "UTF-8")
    val metaFlat = metaJson.replaceAll("\\s", "")
    assert(metaFlat.contains("\"element-id\":4") &&
      metaFlat.contains("\"key-id\":5") &&
      metaFlat.contains("\"value-id\":6"),
      s"iceberg schema must carry the delta member ids: $metaJson")
    // mutate AFTER enablement: the rewrite/appended files carry the
    // member ids IN THEIR FOOTERS, and re-sync mirrors the state
    val beforeFiles = DeltaLite.snapshot(spark, ta).files.keySet
    DeltaLite.write(spark,
      Seq((3L, Seq(30L, 31L), Map("c" -> 3L))).toDF("k", "tags", "props"),
      ta)
    DeltaLite.deleteWhere(spark, ta, col("k") === 1L)
    DeltaLite.syncUniform(spark, ta)
    assert(iceA() == Set((2L, Seq(20L), Map("b" -> 2L)),
      (3L, Seq(30L, 31L), Map("c" -> 3L))))
    val newFiles = DeltaLite.snapshot(spark, ta).files.keySet -- beforeFiles
    assert(newFiles.nonEmpty)
    newFiles.foreach { rel =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(ta, rel),
          spark.sparkContext.hadoopConfiguration))
      try {
        val sch: org.apache.parquet.schema.GroupType =
          rd.getFooter.getFileMetaData.getSchema
        val el = sch.getType("tags").asGroupType()
          .getType("list").asGroupType().getType("element")
        assert(el.getId != null && el.getId.intValue == 4,
          s"$rel: list element must be stamped id 4, got ${el.getId}")
        val kv = sch.getType("props").asGroupType()
          .getType("key_value").asGroupType()
        assert(kv.getType("key").getId.intValue == 5 &&
          kv.getType("value").getId.intValue == 6,
          s"$rel: map members must be stamped ids 5/6")
      } finally rd.close()
    }
    // refusal: a post-drop columnMapping id gap would disagree with
    // the fresh iceberg numbering
    val tg = java.nio.file.Files.createTempDirectory("delta_unisync_gap")
      .toString
    DeltaLite.write(spark,
      Seq((1L, "a", 9L)).toDF("k", "v", "extra"), tg)
    DeltaLite.enableColumnMapping(spark, tg)
    DeltaLite.dropColumn(spark, tg, "v")
    DeltaLite.setTableProperties(spark, tg,
      Map("delta.enableIcebergCompatV2" -> "true"))
    val e2 = intercept[IllegalArgumentException] {
      DeltaLite.syncUniform(spark, tg)
    }
    assert(e2.getMessage.contains("id gap") ||
      e2.getMessage.contains("columnMapping id"))
  }

  test("migration chain composes: plain parquet dir → CONVERT TO " +
      "DELTA → column mapping → UniForm → mutations → the same files " +
      "read as delta AND iceberg") {
    import graft.sources.IcebergLite
    val t = java.nio.file.Files.createTempDirectory("delta_chain")
      .toString
    new java.io.File(t).delete()
    Seq((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "y"), (4L, "d", "y"))
      .toDF("k", "v", "p").write.partitionBy("p").parquet(t)
    DeltaLite.convertToDelta(spark, t)
    DeltaLite.enableColumnMapping(spark, t)
    DeltaLite.setTableProperties(spark, t, Map(
      "delta.enableIcebergCompatV2" -> "true",
      "delta.universalFormat.enabledFormats" -> "iceberg"))
    // mutations on the CONVERTED table: append + copy-on-write delete,
    // each auto-syncing the iceberg view
    DeltaLite.write(spark, Seq((5L, "e", "x")).toDF("k", "v", "p"), t)
    DeltaLite.deleteWhere(spark, t, col("k") === 2L)
    val want = Set((1L, "a", "x"), (3L, "c", "y"), (4L, "d", "y"),
      (5L, "e", "x"))
    assert(DeltaLite.read(spark, t).select("k", "v", "p").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      == want, "delta view")
    assert(IcebergLite.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      == want, "iceberg view off the same files")
    assert(IcebergLite.read(spark, t,
      where = Some(col("p") === "x")).count() == 2)
  }

  test("UniForm struct-only nesting: a mapped table with NO array/map " +
      "anywhere still restamps staged footers — inner struct fields " +
      "ride only delta.columnMapping.id through the physical " +
      "projection, which Spark's writer ignores, so without the " +
      "widened gate their footers would carry no ids while the " +
      "registered iceberg schema claims them (r18 advice)") {
    import graft.sources.IcebergLite
    val t = java.nio.file.Files.createTempDirectory("delta_uni_structonly")
      .toString
    DeltaLite.write(spark,
      Seq((1L, (10L, "a")), (2L, (20L, "b"))).toDF("k", "s"), t)
    DeltaLite.enableColumnMapping(spark, t)
    DeltaLite.setTableProperties(spark, t,
      Map("delta.enableIcebergCompatV2" -> "true"))
    // pre-order mapping ids: k=1, s=2, s._1=3, s._2=4; no members to
    // allocate, maxColumnId stays 4
    val snap = DeltaLite.snapshot(spark, t)
    assert(snap.configuration("delta.columnMapping.maxColumnId") == "4",
      snap.configuration.toString)
    // the pre-enablement file has NO ids: sync refuses, the footer
    // repair clears it — the probe covers struct-only schemas too
    intercept[IllegalStateException] { DeltaLite.syncUniform(spark, t) }
    DeltaLite.reorgUpgradeUniform(spark, t)
    DeltaLite.syncUniform(spark, t)
    def ice(): Set[(Long, Long, String)] =
      IcebergLite.read(spark, t).collect().map { r =>
        val s = r.getStruct(1); (r.getLong(0), s.getLong(0), s.getString(1))
      }.toSet
    assert(ice() == Set((1L, 10L, "a"), (2L, 20L, "b")))
    // a post-enablement append stamps the INNER struct ids into its
    // footer even though no container triggers the member-id path
    val before = DeltaLite.snapshot(spark, t).files.keySet
    DeltaLite.write(spark, Seq((3L, (30L, "c"))).toDF("k", "s"), t)
    val newFiles = DeltaLite.snapshot(spark, t).files.keySet -- before
    assert(newFiles.nonEmpty)
    newFiles.foreach { rel =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(t, rel),
          spark.sparkContext.hadoopConfiguration))
      try {
        val sch: org.apache.parquet.schema.GroupType =
          rd.getFooter.getFileMetaData.getSchema
        val st = sch.getType("s").asGroupType()
        assert(sch.getType("s").getId.intValue == 2, s"$rel: s")
        assert(st.getType("_1").getId.intValue == 3 &&
          st.getType("_2").getId.intValue == 4,
          s"$rel: inner struct fields must carry the mapping ids 3/4")
      } finally rd.close()
    }
    // nothing lags after the append: the re-sync must not refuse, and
    // the iceberg view follows
    DeltaLite.syncUniform(spark, t)
    assert(ice().size == 3)
  }

  test("UniForm nested sync: array<struct> — the element's NAMED " +
      "fields keep their delta columnMapping ids through the iceberg " +
      "registration AND into post-enablement staged footers, alongside " +
      "the container member ids") {
    import graft.sources.IcebergLite
    val t = java.nio.file.Files.createTempDirectory("delta_uninest_as")
      .toString
    DeltaLite.write(spark,
      Seq((1L, Seq((10L, "a")), 5L), (2L, Seq((20L, "b"), (21L, "c")), 6L))
        .toDF("k", "arr", "z"), t)
    DeltaLite.enableColumnMapping(spark, t)
    DeltaLite.setTableProperties(spark, t, Map(
      "delta.enableIcebergCompatV2" -> "true",
      "delta.universalFormat.enabledFormats" -> "iceberg"))
    // assignMapping pre-order: k=1, arr=2, arr.element._1=3,
    // arr.element._2=4, z=5; the member id (arr.element) allocates
    // past maxColumnId=5 → 6
    val snap = DeltaLite.snapshot(spark, t)
    assert(snap.configuration("delta.columnMapping.maxColumnId") == "6")
    val arrMeta = snap.schema("arr").metadata
      .getMetadata("parquet.field.nested.ids")
    assert(arrMeta.getLong("arr.element") == 6L, arrMeta.json)
    // pre-enablement files lack the footer ids → refusal naming the
    // footer-only repair, which restores the sync (same contract as
    // the flat-container test above, here over array<struct>)
    intercept[IllegalStateException] { DeltaLite.syncUniform(spark, t) }
    DeltaLite.reorgUpgradeUniform(spark, t)
    DeltaLite.syncUniform(spark, t)
    def ice(): Set[(Long, Seq[(Long, String)], Long)] =
      IcebergLite.read(spark, t).collect().map(r => (r.getLong(0),
        r.getSeq[org.apache.spark.sql.Row](1)
          .map(s => (s.getLong(0), s.getString(1))),
        r.getLong(2))).toSet
    assert(ice() == Set((1L, Seq((10L, "a")), 5L),
      (2L, Seq((20L, "b"), (21L, "c")), 6L)))
    // iceberg schema: element-id 6 and the element struct's named
    // fields declared with the DELTA ids 3/4
    val metaDir = new java.io.File(t, "metadata")
    val metaFlat = new String(java.nio.file.Files.readAllBytes(
      metaDir.listFiles().filter(_.getName.endsWith(".metadata.json"))
        .maxBy(_.getName).toPath), "UTF-8").replaceAll("\\s", "")
    assert(metaFlat.contains("\"element-id\":6"), metaFlat)
    assert(metaFlat.contains("\"id\":3,\"name\":\"_1\"") &&
      metaFlat.contains("\"id\":4,\"name\":\"_2\""), metaFlat)
    // a post-enablement append stamps the element id AND the inner
    // named ids into the staged footer
    val before = snap.files.keySet
    DeltaLite.write(spark,
      Seq((3L, Seq((30L, "d")), 7L)).toDF("k", "arr", "z"), t)
    val newFiles = DeltaLite.snapshot(spark, t).files.keySet -- before
    assert(newFiles.nonEmpty)
    newFiles.foreach { rel =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(t, rel),
          spark.sparkContext.hadoopConfiguration))
      try {
        val sch: org.apache.parquet.schema.GroupType =
          rd.getFooter.getFileMetaData.getSchema
        val el = sch.getType("arr").asGroupType()
          .getType("list").asGroupType().getType("element").asGroupType()
        assert(el.getId != null && el.getId.intValue == 6,
          s"$rel: element must be stamped 6, got ${el.getId}")
        assert(el.getType("_1").getId.intValue == 3 &&
          el.getType("_2").getId.intValue == 4,
          s"$rel: inner named fields must carry the delta ids 3/4")
      } finally rd.close()
    }
    // and the synced view follows the append
    DeltaLite.syncUniform(spark, t)
    assert(ice().size == 3)
    // IDEMPOTENCE: re-setting the enablement property re-allocates
    // nothing — existing member ids (a foreign delta-spark table's
    // included) survive verbatim and maxColumnId stays put
    DeltaLite.setTableProperties(spark, t, Map(
      "delta.enableIcebergCompatV2" -> "true"))
    val snap2 = DeltaLite.snapshot(spark, t)
    assert(snap2.configuration("delta.columnMapping.maxColumnId") == "6")
    assert(snap2.schema("arr").metadata
      .getMetadata("parquet.field.nested.ids").getLong("arr.element") == 6L)
    // RENAME STABILITY: nested.ids keys are PHYSICAL paths, so a
    // metadata-only logical rename leaves them (and every stamped
    // footer) resolving — the re-synced view reads the same rows
    DeltaLite.renameColumn(spark, t, "arr", "items")
    DeltaLite.syncUniform(spark, t)
    val renamed = DeltaLite.snapshot(spark, t)
    assert(renamed.schema("items").metadata
      .getMetadata("parquet.field.nested.ids").getLong("arr.element") == 6L,
      "physical-path keys must survive the logical rename")
    assert(IcebergLite.read(spark, t).count() == 3)
  }

  test("UniForm auto-sync: the universalFormat property syncs the " +
      "iceberg view on every mutating commit; a sync refusal warns " +
      "instead of failing the committed write") {
    import graft.sources.IcebergLite
    val t = java.nio.file.Files.createTempDirectory("delta_uniauto")
      .toString
    DeltaLite.write(spark, Seq((1L, "a")).toDF("k", "v"), t)
    DeltaLite.enableColumnMapping(spark, t)
    DeltaLite.setTableProperties(spark, t, Map(
      "delta.enableIcebergCompatV2" -> "true",
      "delta.universalFormat.enabledFormats" -> "iceberg"))
    // the NEXT mutation materializes the iceberg view — no explicit
    // sync call anywhere below
    DeltaLite.write(spark, Seq((2L, "b")).toDF("k", "v"), t)
    def ice(): Set[(Long, String)] = IcebergLite.read(spark, t)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ice() == Set((1L, "a"), (2L, "b")))
    DeltaLite.deleteWhere(spark, t, col("k") === 1L)
    assert(ice() == Set((2L, "b")),
      "the copy-on-write delete must auto-sync")
    DeltaLite.upsert(spark, Seq((3L, "c")).toDF("k", "v"), t, Seq("k"))
    assert(ice() == Set((2L, "b"), (3L, "c")),
      "MERGE must auto-sync")
    // compat feature WITHOUT the property: explicit-sync-only
    val tm = java.nio.file.Files.createTempDirectory("delta_unimanual")
      .toString
    DeltaLite.write(spark, Seq((1L, "a")).toDF("k", "v"), tm)
    DeltaLite.enableColumnMapping(spark, tm)
    DeltaLite.setTableProperties(spark, tm,
      Map("delta.enableIcebergCompatV2" -> "true"))
    DeltaLite.write(spark, Seq((2L, "b")).toDF("k", "v"), tm)
    assert(!new java.io.File(tm, "metadata").exists,
      "no property opt-in → no auto-registration")
    // a sync refusal (post-drop columnMapping id gap — arrays/maps
    // sync natively since round 18) must NOT fail the committed write
    val ta = java.nio.file.Files.createTempDirectory("delta_uniwarn")
      .toString
    DeltaLite.write(spark, Seq((1L, "a", 9L)).toDF("k", "v", "extra"), ta)
    DeltaLite.enableColumnMapping(spark, ta)
    DeltaLite.dropColumn(spark, ta, "v")
    DeltaLite.setTableProperties(spark, ta, Map(
      "delta.enableIcebergCompatV2" -> "true",
      "delta.universalFormat.enabledFormats" -> "iceberg"))
    DeltaLite.write(spark, Seq((2L, 8L)).toDF("k", "extra"), ta)
    assert(DeltaLite.read(spark, ta).count() == 2,
      "the write must land even though the sync refused")
    // ...and the lag is recorded IN-BAND: a table property names the
    // delta version the iceberg view lags behind plus the refusal
    // message — an unattended pipeline can detect the stale view from
    // the log itself, not a console line
    val marker = DeltaLite.snapshot(spark, ta).configuration
      .get("graft.uniform.lastSyncFailure")
    assert(marker.isDefined, "sync failure must record the lag marker")
    assert(marker.get.contains("\"version\":4"),
      s"marker must name the lagging commit (write was v4): $marker")
    assert(marker.get.toLowerCase.contains("id"),
      s"marker must carry the refusal message: $marker")
  }

  test("UniForm sync-lag marker: a TRANSIENT auto-sync failure records " +
      "the marker, the next successful sync clears it and the iceberg " +
      "view catches up") {
    import graft.sources.IcebergLite
    val t = java.nio.file.Files.createTempDirectory("delta_unilag")
      .toString
    DeltaLite.write(spark, Seq((1L, "a")).toDF("k", "v"), t)
    DeltaLite.enableColumnMapping(spark, t)
    DeltaLite.setTableProperties(spark, t, Map(
      "delta.enableIcebergCompatV2" -> "true",
      "delta.universalFormat.enabledFormats" -> "iceberg"))
    DeltaLite.write(spark, Seq((2L, "b")).toDF("k", "v"), t)
    def ice(): Set[(Long, String)] = IcebergLite.read(spark, t)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ice() == Set((1L, "a"), (2L, "b")), "first sync lands")
    // break the NEXT iceberg commit: squat a directory on the version
    // file the sync will claim (put-if-absent can never win) — a stand-
    // in for any transient object-store failure
    val metaDir = new java.io.File(t, "metadata")
    val maxV = metaDir.listFiles.map(_.getName)
      .flatMap(n => "^v(\\d+)\\.metadata\\.json$".r
        .findFirstMatchIn(n).map(_.group(1).toInt)).max
    val squatter = new java.io.File(metaDir, s"v${maxV + 1}.metadata.json")
    assert(squatter.mkdir(), s"could not squat $squatter")
    DeltaLite.write(spark, Seq((3L, "c")).toDF("k", "v"), t)
    val lagged = DeltaLite.snapshot(spark, t).configuration
      .get("graft.uniform.lastSyncFailure")
    assert(lagged.isDefined, "transient failure must record the marker")
    assert(lagged.get.contains("\"version\":4"),
      s"marker names the commit the iceberg view lags (write was v4): " +
        s"$lagged")
    // delta view unaffected throughout
    assert(DeltaLite.read(spark, t).count() == 3)
    // recovery: unblock, mutate again — sync succeeds, marker clears,
    // iceberg view catches up past BOTH lagged commits
    assert(squatter.delete())
    DeltaLite.write(spark, Seq((4L, "d")).toDF("k", "v"), t)
    assert(!DeltaLite.snapshot(spark, t).configuration
        .contains("graft.uniform.lastSyncFailure"),
      "successful sync must clear the lag marker")
    assert(ice() == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")),
      "the recovered sync must cover the lagged commit too")
  }

  test("convertToDelta: a hive-partitioned parquet dir becomes a delta " +
      "table in place — rows exact, footer stats recorded, one-shot, " +
      "ordinary delta life continues after") {
    val t = java.nio.file.Files.createTempDirectory("delta_convert")
      .toString
    new java.io.File(t).delete()
    Seq((1L, "x", "a"), (2L, "y", "a"), (3L, "z", "b"))
      .toDF("k", "v", "p").write.partitionBy("p").parquet(t)
    DeltaLite.convertToDelta(spark, t)
    def rows(): Set[(Long, String, String)] = DeltaLite.read(spark, t)
      .select("k", "v", "p").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows() == Set((1L, "x", "a"), (2L, "y", "a"), (3L, "z", "b")))
    // footer stats landed in the add actions (numRecords + bounds) —
    // the pruning index mutations use is live from version 0
    val snap = DeltaLite.snapshot(spark, t)
    assert(snap.version == 0L && snap.partitionColumns == Seq("p"))
    assert(snap.files.keys.forall(p => snap.stats.get(p)
      .exists(_.contains("\"numRecords\""))),
      s"every converted file needs stats: ${snap.stats}")
    // one-shot, like delta-spark's CONVERT
    val e = intercept[IllegalArgumentException] {
      DeltaLite.convertToDelta(spark, t)
    }
    assert(e.getMessage.contains("_delta_log"))
    // ordinary delta life after the convert: append, delete, history
    DeltaLite.write(spark, Seq((4L, "w", "b")).toDF("k", "v", "p"), t)
    DeltaLite.deleteWhere(spark, t, col("k") === 1L)
    assert(rows() == Set((2L, "y", "a"), (3L, "z", "b"), (4L, "w", "b")))
    // a dir with TIMESTAMP_NTZ columns stamps the featured protocol
    val tn = java.nio.file.Files.createTempDirectory("delta_convert_ntz")
      .toString
    new java.io.File(tn).delete()
    Seq((1L, java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5)))
      .toDF("k", "ts").write.parquet(tn)
    DeltaLite.convertToDelta(spark, tn)
    val pn = DeltaLite.snapshot(spark, tn).protocol.get
    assert(pn.readerFeatures.exists(_.contains("timestampNtz")), pn)
    assert(DeltaLite.read(spark, tn).count() == 1L)
  }

  test("liquid clustering: OPTIMIZE clusters its rewrites on the " +
      "domain's columns — per-file bounds come out range-disjoint") {
    val t = java.nio.file.Files.createTempDirectory("delta_cluster")
      .toString
    // shuffled keys across many small files, then a clustered compact
    val shuffled = scala.util.Random.shuffle((1L to 400L).toList)
    DeltaLite.write(spark,
      shuffled.map(i => (i, s"v$i")).toDF("k", "v").repartition(8), t)
    // stamp the clustering feature + domain the way delta-spark does
    val logDir = new Path(t, "_delta_log")
    val out = fs(t).create(new Path(logDir, f"${1L}%020d.json"), true)
    try out.write((Seq(
      """{"commitInfo":{"timestamp":1,"operation":"CLUSTER BY"}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["appendOnly","invariants","domainMetadata","clustering"]}}""",
      """{"domainMetadata":{"domain":"delta.clustering","configuration":"{\"clusteringColumns\":[[\"k\"]]}","removed":false}}""")
      .mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    // small-file threshold forces a multi-file clustered rewrite
    DeltaLite.compact(spark, t, smallFileBytes = 4096)
    val snap = DeltaLite.snapshot(spark, t)
    assert(snap.files.size >= 2, s"want a multi-file layout, got ${snap.files.size}")
    // every file's [min,max] over k must be pairwise DISJOINT — the
    // single-column clustering contract (range partition + sort)
    val ranges = snap.files.keys.toSeq.map { p =>
      val st = mapper_.readTree(snap.stats(p))
      (st.get("minValues").get("k").asLong,
        st.get("maxValues").get("k").asLong)
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"overlapping clustered ranges: $ranges")
      case _ =>
    }
    assert(DeltaLite.read(spark, t).count() == 400L)
  }

  test("liquid clustering resolves NESTED domain paths and PHYSICAL " +
      "names (delta-spark stores physical): OPTIMIZE clusters both") {
    // nested: cluster on s.k inside a struct column
    val t = java.nio.file.Files.createTempDirectory("delta_clnest")
      .toString
    val shuffled = scala.util.Random.shuffle((1L to 300L).toList)
    DeltaLite.write(spark,
      shuffled.map(i => ((i, s"v$i"), i % 7)).toDF("s", "m")
        .repartition(6), t)
    locally {
      val snap = DeltaLite.snapshot(spark, t)
      val out = fs(t).create(new Path(t,
        f"_delta_log/${snap.version + 1}%020d.json"), true)
      try out.write((Seq(
        """{"commitInfo":{"timestamp":1,"operation":"CLUSTER BY"}}""",
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["appendOnly","invariants","domainMetadata","clustering"]}}""",
        """{"domainMetadata":{"domain":"delta.clustering","configuration":"{\"clusteringColumns\":[[\"s\",\"_1\"]]}","removed":false}}""")
        .mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
    }
    DeltaLite.compact(spark, t, smallFileBytes = 4096)
    locally {
      val snap = DeltaLite.snapshot(spark, t)
      assert(snap.files.size >= 2, "nested rig wants a multi-file layout")
      // nested bounds don't ride the stats JSON — read each file
      val ranges = snap.files.keys.toSeq.map { f =>
        val r = spark.read.parquet(s"$t/$f")
          .agg(min(col("s._1")), max(col("s._1"))).head
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
      ranges.sliding(2).foreach {
        case Seq((_, hi), (lo2, _)) =>
          assert(hi < lo2, s"overlapping nested clustered ranges: $ranges")
        case _ =>
      }
    }
    assert(DeltaLite.read(spark, t).count() == 300L)
    // physical-name domain on a column-mapped table: logical `id`,
    // physical `k` — the domain names the PHYSICAL column
    val t2 = java.nio.file.Files.createTempDirectory("delta_clphys")
      .toString
    DeltaLite.write(spark,
      scala.util.Random.shuffle((1L to 300L).toList)
        .map(i => (i, s"v$i")).toDF("k", "v").repartition(6), t2)
    DeltaLite.enableColumnMapping(spark, t2)
    DeltaLite.renameColumn(spark, t2, "k", "id")
    locally {
      val snap = DeltaLite.snapshot(spark, t2)
      val p = snap.protocol.get
      val wf = (p.writerFeatures.getOrElse(
          Seq("appendOnly", "invariants", "columnMapping")) ++
        Seq("domainMetadata", "clustering")).distinct
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      val rf = p.readerFeatures.getOrElse(Seq("columnMapping"))
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      val out = fs(t2).create(new Path(t2,
        f"_delta_log/${snap.version + 1}%020d.json"), true)
      try out.write((Seq(
        """{"commitInfo":{"timestamp":1,"operation":"CLUSTER BY"}}""",
        s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":$rf,"writerFeatures":$wf}}""",
        """{"domainMetadata":{"domain":"delta.clustering","configuration":"{\"clusteringColumns\":[[\"k\"]]}","removed":false}}""")
        .mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
    }
    DeltaLite.compact(spark, t2, smallFileBytes = 4096)
    val snap2 = DeltaLite.snapshot(spark, t2)
    assert(snap2.files.size >= 2, "physical rig wants a multi-file layout")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val r2 = snap2.files.keys.toSeq.map { f =>
      // mapped-table stats key by PHYSICAL name (`k` behind logical `id`)
      val st = om.readTree(snap2.stats(f))
      (st.get("minValues").get("k").asLong,
        st.get("maxValues").get("k").asLong)
    }.sortBy(_._1)
    r2.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"overlapping physical-domain ranges: $r2")
      case _ =>
    }
    assert(DeltaLite.read(spark, t2).count() == 300L)
  }

  private val mapper_ = new com.fasterxml.jackson.databind.ObjectMapper()

  test("batch changeFeed holds a CONSTANT-SIZE plan over many commits: " +
      "grouped per-kind scans with exact per-commit stamps") {
    val t = java.nio.file.Files.createTempDirectory("delta_cdfplan")
      .toString + "/tbl"
    DeltaLite.write(spark, Seq((0L, "v0")).toDF("k", "v"), t,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    (1 to 24).foreach(i => DeltaLite.write(spark,
      Seq((i.toLong, s"v$i")).toDF("k", "v"), t))
    val cdf = DeltaLite.changeFeed(spark, t, -1, 24)
    // 25 commits must NOT plan 25 scan branches
    val leaves = cdf.queryExecution.optimizedPlan.collectLeaves().size
    assert(leaves <= 3, s"expected ≤3 grouped scan leaves, got $leaves")
    val got = cdf.select("k", "v", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    assert(got == (0 to 24).map(i =>
      (i.toLong, s"v$i", "insert", i.toLong)).toSet, got.toString)
    // mixed kinds (cdc files + more derived inserts) stay bounded
    DeltaLite.deleteWhere(spark, t, col("k") < 3L) // v25: exact cdc
    (26 to 30).foreach(i => DeltaLite.write(spark,
      Seq((i.toLong, s"v$i")).toDF("k", "v"), t))
    val cdf2 = DeltaLite.changeFeed(spark, t, -1, 30)
    val leaves2 = cdf2.queryExecution.optimizedPlan.collectLeaves().size
    assert(leaves2 <= 4, s"expected ≤4 grouped scan leaves, got $leaves2")
    assert(cdf2.filter(col("_change_type") === "delete")
      .select("k").as[Long].collect().toSet == Set(0L, 1L, 2L))
    assert(cdf2.filter(col("_commit_version") === 25L).count() == 3L)
  }

  test("a LAGGING _last_checkpoint whose follow-up commits were cleaned " +
      "falls back to the newest named checkpoint (isReplayable parity)") {
    val t = java.nio.file.Files.createTempDirectory("delta_lagptr")
      .toString + "/tbl"
    DeltaLite.write(spark, Seq((1L, "a")).toDF("k", "v"), t) // v0
    DeltaLite.write(spark, Seq((2L, "b")).toDF("k", "v"), t) // v1
    DeltaLite.checkpoint(spark, t)                           // ckpt@1
    DeltaLite.write(spark, Seq((3L, "c")).toDF("k", "v"), t) // v2
    DeltaLite.write(spark, Seq((4L, "d")).toDF("k", "v"), t) // v3
    DeltaLite.checkpoint(spark, t)                           // ckpt@3
    DeltaLite.write(spark, Seq((5L, "e")).toDF("k", "v"), t) // v4
    // a foreign writer's lagging pointer + external log cleanup: the
    // pointer names 1, but commits 2..3 are gone and checkpoint 3
    // covers them
    (0L to 3L).foreach(v => fs(t).delete(
      new Path(t, f"_delta_log/$v%020d.json"), false))
    val lc = fs(t).create(new Path(t, "_delta_log/_last_checkpoint"), true)
    try lc.write("""{"version":1,"size":3}""".getBytes("UTF-8"))
    finally lc.close()
    assert(DeltaLite.isReplayable(spark, t, 4L))
    // snapshot() must agree with the probe instead of throwing a gap
    assert(DeltaLite.snapshot(spark, t).version == 4L)
    assert(DeltaLite.read(spark, t).count() == 5)
  }

  test("setTableProperties (ALTER TABLE SET TBLPROPERTIES): post-" +
      "creation CDF + ICT enablement upgrade the protocol; ADD " +
      "CONSTRAINT validates existing rows; columnMapping refuses") {
    val t = java.nio.file.Files.createTempDirectory("delta_setprops")
      .toString + "/tbl"
    DeltaLite.write(spark, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), t)
    // ADD CONSTRAINT the existing rows VIOLATE → refuse, no commit
    val bad = intercept[IllegalArgumentException](
      DeltaLite.setTableProperties(spark, t,
        Map("delta.constraints.vbig" -> "v > 15")))
    assert(bad.getMessage.contains("vbig"), bad.getMessage)
    assert(DeltaLite.snapshot(spark, t).version == 0L)
    // ADD CONSTRAINT the rows satisfy → commits, then ENFORCES appends
    DeltaLite.setTableProperties(spark, t,
      Map("delta.constraints.vpos" -> "v > 0"))
    val s1 = DeltaLite.snapshot(spark, t)
    assert(s1.configuration.get("delta.constraints.vpos").contains("v > 0"))
    assert(s1.protocol.forall(_.minWriterVersion >= 3))
    val e = intercept[IllegalArgumentException](
      DeltaLite.write(spark, Seq((3L, -1L)).toDF("k", "v"), t))
    assert(e.getMessage.contains("vpos"), e.getMessage)
    // enable CDF post-creation: mutations AFTER it write exact cdc files
    DeltaLite.setTableProperties(spark, t,
      Map("delta.enableChangeDataFeed" -> "true"))
    assert(DeltaLite.snapshot(spark, t).protocol
      .forall(_.minWriterVersion >= 4))
    DeltaLite.write(spark, Seq((3L, 30L)).toDF("k", "v"), t)       // v3
    DeltaLite.deleteWhere(spark, t, col("k") === 1L)               // v4
    assert(fs(t).exists(new Path(t, "_change_data")))
    val cdf = DeltaLite.changeFeed(spark, t, 2, 4)
      .select("k", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(cdf == Set((3L, "insert", 3L), (1L, "delete", 4L)), cdf)
    // enable ICT post-creation: enablement pair stamped, later commits
    // carry increasing clocks, and the first tick lands PAST the head's
    // legacy clock
    val vIct = DeltaLite.setTableProperties(spark, t,
      Map("delta.enableInCommitTimestamps" -> "true"))
    val s2 = DeltaLite.snapshot(spark, t)
    assert(s2.configuration.get("delta.inCommitTimestampEnablementVersion")
      .contains(vIct.toString))
    assert(s2.protocol.exists(_.writerFeatures
      .exists(_.contains("inCommitTimestamp"))))
    DeltaLite.write(spark, Seq((9L, 90L)).toDF("k", "v"), t)
    def ict(v: Long): Long = {
      val in = fs(t).open(new Path(t, f"_delta_log/$v%020d.json"))
      val txt = try new String(in.readAllBytes(), "UTF-8")
        finally in.close()
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(txt.split("\n").find(_.contains("commitInfo")).get)
        .get("commitInfo").get("inCommitTimestamp").asLong
    }
    assert(ict(vIct + 1) > ict(vIct), s"${ict(vIct + 1)} !> ${ict(vIct)}")
    // column mapping via raw properties refuses by name
    val cm = intercept[IllegalArgumentException](
      DeltaLite.setTableProperties(spark, t,
        Map("delta.columnMapping.mode" -> "name")))
    assert(cm.getMessage.contains("enableColumnMapping"), cm.getMessage)
    // the grown table still reads whole
    assert(DeltaLite.read(spark, t).count() == 3) // k=2,3,9 (1 deleted)
    // DROP CONSTRAINT (UNSET TBLPROPERTIES): the expression stops
    // enforcing, the protocol stays (features are monotonic), and the
    // ICT clock keeps ticking through the unset commit
    DeltaLite.unsetTableProperties(spark, t,
      Seq("delta.constraints.vpos"))
    DeltaLite.write(spark, Seq((12L, -5L)).toDF("k", "v"), t)
    assert(DeltaLite.read(spark, t).count() == 4)
    assert(DeltaLite.snapshot(spark, t).protocol.exists(_.writerFeatures
      .exists(_.contains("inCommitTimestamp"))))
    // ICT keys refuse un-setting (the enablement pair anchors clocks)
    val keep = intercept[IllegalArgumentException](
      DeltaLite.unsetTableProperties(spark, t,
        Seq("delta.enableInCommitTimestamps")))
    assert(keep.getMessage.contains("in-commit"), keep.getMessage)
  }

  test("generated columns: an omitted column is COMPUTED from its " +
      "expression, provided values VALIDATE col <=> expr, mismatches " +
      "refuse by name; identity columns still refuse") {
    import org.apache.spark.sql.types.{LongType, MetadataBuilder,
      StructField, StructType}
    val t = java.nio.file.Files.createTempDirectory("delta_gen").toString
    val schema = StructType(Seq(
      StructField("k", LongType),
      StructField("k2", LongType, nullable = true,
        new MetadataBuilder()
          .putString("delta.generationExpression", "k * 2").build())))
    writeDataFile(Seq((1L, 2L)).toDF("k", "k2"), t, "f1.parquet")
    writeLog(t, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
      metaAction(schema.json),
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    // omitted → computed (and the column order restored)
    DeltaLite.write(spark, Seq(5L).toDF("k"), t)
    // provided + matching → passes validation
    DeltaLite.write(spark, Seq((7L, 14L)).toDF("k", "k2"), t)
    assert(DeltaLite.read(spark, t).as[(Long, Long)].collect().toSet ==
      Set((1L, 2L), (5L, 10L), (7L, 14L)))
    // provided + MISMATCHED → refuses naming the column + expression
    val e = intercept[IllegalArgumentException](
      DeltaLite.write(spark, Seq((9L, 1L)).toDF("k", "k2"), t))
    assert(e.getMessage.contains("generated column k2") &&
      e.getMessage.contains("k * 2"), e.getMessage)
    // MERGE validates its batch the same way
    val e2 = intercept[IllegalArgumentException](
      DeltaLite.upsert(spark, Seq((5L, 11L)).toDF("k", "k2"), t,
        Seq("k")))
    assert(e2.getMessage.contains("generated column k2"), e2.getMessage)
    DeltaLite.upsert(spark, Seq((5L, 10L)).toDF("k", "k2"), t, Seq("k"))
    assert(DeltaLite.read(spark, t).count() == 3)
    // the evolving/metaData path must never DROP the generation
    // expression: append-only evolution restates the table fields
    // verbatim
    DeltaLite.write(spark,
      Seq((11L, 22L, "x")).toDF("k", "k2", "tag"), t)
    val s2 = DeltaLite.snapshot(spark, t)
    assert(s2.schema.fields.find(_.name == "k2").get
      .metadata.contains("delta.generationExpression"))
    val e3 = intercept[IllegalArgumentException](
      DeltaLite.write(spark, Seq((13L, 1L, "y")).toDF("k", "k2", "tag"), t))
    assert(e3.getMessage.contains("generated column k2"), e3.getMessage)
    // a FOREIGN GENERATED ALWAYS identity table: explicit values still
    // refuse, but an append OMITTING the column now ALLOCATES —
    // without a recorded high-water mark the existing ids are unknown,
    // so allocation starts at `start`… which is why the writer also
    // takes the PROVIDED extreme into account only when recorded;
    // foreign tables always carry highWaterMark after their first
    // connector write, as this fixture does
    val t2 = java.nio.file.Files.createTempDirectory("delta_ident").toString
    val idSchema = StructType(Seq(
      StructField("id", LongType, nullable = true,
        new MetadataBuilder()
          .putLong("delta.identity.start", 1L)
          .putLong("delta.identity.step", 1L)
          .putLong("delta.identity.highWaterMark", 1L)
          .putBoolean("delta.identity.allowExplicitInsert", false).build()),
      StructField("v", LongType)))
    writeDataFile(Seq((1L, 10L)).toDF("id", "v"), t2, "f1.parquet")
    writeLog(t2, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":6}}""",
      metaAction(idSchema.json),
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val e4 = intercept[IllegalArgumentException](
      DeltaLite.write(spark, Seq((2L, 20L)).toDF("id", "v"), t2))
    assert(e4.getMessage.contains("GENERATED ALWAYS"), e4.getMessage)
    DeltaLite.write(spark, Seq(Tuple1(20L)).toDF("v"), t2)
    assert(DeltaLite.read(spark, t2).select("id").as[Long]
      .collect().toSet == Set(1L, 2L))
  }

  test("changeFeed on a COLUMN-MAPPED + PARTITIONED CDF table: the " +
      "grouped per-kind scans restore logical names and partition " +
      "literals per commit, under the fan-out cap too") {
    val t = java.nio.file.Files.createTempDirectory("delta_cdfmap")
      .toString + "/tbl"
    DeltaLite.write(spark,
      Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("k", "v", "p"), t,
      partitionBy = Seq("p"),
      configuration = Map("delta.enableChangeDataFeed" -> "true")) // v0
    DeltaLite.enableColumnMapping(spark, t)                        // v1
    DeltaLite.write(spark,
      Seq((3L, "c", "p1")).toDF("k", "v", "p"), t)                 // v2
    DeltaLite.deleteWhere(spark, t, col("k") === 1L)               // v3
    DeltaLite.upsert(spark,
      Seq((2L, "B", "p2")).toDF("k", "v", "p"), t, Seq("k"))       // v4
    def feed(): Set[(Long, String, String, String, Long)] =
      DeltaLite.changeFeed(spark, t, 1, 4)
        .select("k", "v", "p", "_change_type", "_commit_version")
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getString(2), r.getString(3), r.getLong(4))).toSet
    val expect = Set(
      (3L, "c", "p1", "insert", 2L),
      (1L, "a", "p1", "delete", 3L),
      (2L, "b", "p2", "update_preimage", 4L),
      (2L, "B", "p2", "update_postimage", 4L))
    assert(feed() == expect, feed().toString)
    // plan stays grouped: one scan per kind, not one per commit
    val leaves = DeltaLite.changeFeed(spark, t, 1, 4)
      .queryExecution.optimizedPlan.collectLeaves().size
    assert(leaves <= 4, s"expected grouped scan leaves, got $leaves")
    // fan-out cap forced BELOW the partition count: the grouped scans
    // take the broadcast partition-values join and must read the same
    val prev = spark.conf.getOption("graft.delta.partitionUnionLimit")
    spark.conf.set("graft.delta.partitionUnionLimit", "1")
    try assert(feed() == expect, "fan-out-capped feed diverged")
    finally prev match {
      case Some(v) => spark.conf.set("graft.delta.partitionUnionLimit", v)
      case None => spark.conf.unset("graft.delta.partitionUnionLimit")
    }
  }

  test("TIMESTAMP_NTZ columns stamp the timestampNtz feature: creation " +
      "carries reader 3 + the feature; evolution ADDING an NTZ column " +
      "upgrades the protocol in the same commit") {
    val t = java.nio.file.Files.createTempDirectory("delta_ntz")
      .toString + "/tbl"
    val df = Seq(
      (1L, java.time.LocalDateTime.of(2026, 1, 2, 3, 4, 5)))
      .toDF("k", "ts")
    assert(df.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    DeltaLite.write(spark, df, t)
    val snap = DeltaLite.snapshot(spark, t)
    assert(snap.protocol.exists(p => p.minReaderVersion == 3 &&
      p.readerFeatures.exists(_.contains("timestampNtz")) &&
      p.writerFeatures.exists(_.contains("timestampNtz"))),
      snap.protocol.toString)
    DeltaLite.write(spark, Seq(
      (2L, java.time.LocalDateTime.of(2027, 1, 1, 0, 0))).toDF("k", "ts"),
      t)
    assert(DeltaLite.read(spark, t).count() == 2)
    assert(DeltaLite.read(spark, t).schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    // a LEGACY table evolving an NTZ column on: same-commit upgrade,
    // implied legacy features restated (the features form is exhaustive)
    val t2 = java.nio.file.Files.createTempDirectory("delta_ntz2")
      .toString + "/tbl"
    DeltaLite.write(spark, Seq((1L, "a")).toDF("k", "v"), t2)
    assert(DeltaLite.snapshot(spark, t2).protocol
      .exists(_.minReaderVersion == 1))
    DeltaLite.write(spark, Seq(
      (2L, "b", java.time.LocalDateTime.of(2026, 5, 5, 5, 5)))
      .toDF("k", "v", "ts"), t2)
    val s2 = DeltaLite.snapshot(spark, t2)
    assert(s2.protocol.exists(p => p.minReaderVersion == 3 &&
      p.readerFeatures.exists(_.contains("timestampNtz"))),
      s2.protocol.toString)
    assert(s2.protocol.exists(_.writerFeatures.exists(f =>
      f.contains("timestampNtz") && f.contains("appendOnly"))),
      s2.protocol.toString)
    assert(DeltaLite.read(spark, t2).count() == 2)
  }

  // ------------------------------------------------------------ restore

  test("restore returns the table state to a historical version in ONE " +
      "commit: removed files re-add WITH their deletion vectors, added " +
      "files remove, history preserved") {
    val t = java.nio.file.Files.createTempDirectory("delta_restore").toString
    DeltaLite.write(spark,
      (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v"), t) // v0
    DeltaLite.write(spark, Seq((11L, "v11")).toDF("k", "v"), t) // v1
    DeltaLite.deleteWhere(spark, t, col("k") <= 3L) // v2: DV delete
    val v2Rows = DeltaLite.read(spark, t).select("k")
      .as[Long].collect().toSet
    assert(v2Rows == (4L to 11L).toSet)
    // back to v0: the DV'd file re-adds WITHOUT its DV, v1's file removes
    val v3 = DeltaLite.restore(spark, t, 0L)
    assert(v3 == 3L)
    assert(DeltaLite.read(spark, t).select("k").as[Long].collect().toSet ==
      (1L to 10L).toSet)
    // forward again: restore to v2 re-attaches the deletion vector
    val v4 = DeltaLite.restore(spark, t, 2L)
    assert(v4 == 4L)
    assert(DeltaLite.read(spark, t).select("k").as[Long].collect().toSet ==
      v2Rows)
    // time travel still reaches every in-between state
    assert(DeltaLite.read(spark, t, asOf = Some(3L)).count() == 10L)
    // restoring to the already-matching state is a no-op
    assert(DeltaLite.restore(spark, t, 2L) == 4L)
  }

  test("restore restates the target's metaData when schema or " +
      "configuration changed since") {
    val t = java.nio.file.Files.createTempDirectory("delta_restmeta").toString
    DeltaLite.write(spark, Seq((1L, 5L)).toDF("k", "v"), t) // v0
    DeltaLite.setTableProperties(spark, t,
      Map("delta.constraints.vpos" -> "v > 0")) // v1
    val e0 = intercept[IllegalArgumentException](DeltaLite.write(spark,
      Seq((2L, -1L)).toDF("k", "v"), t))
    assert(e0.getMessage.contains("vpos"))
    DeltaLite.restore(spark, t, 0L) // v2: constraint gone with v0's config
    val snap = DeltaLite.snapshot(spark, t)
    assert(!snap.configuration.contains("delta.constraints.vpos"))
    DeltaLite.write(spark, Seq((2L, -1L)).toDF("k", "v"), t) // now fine
    assert(DeltaLite.read(spark, t).count() == 2L)
  }

  test("restore refuses loudly when the needed data files were vacuumed") {
    val t = java.nio.file.Files.createTempDirectory("delta_restvac").toString
    DeltaLite.write(spark, Seq((1L, "a")).toDF("k", "v"), t) // v0
    DeltaLite.write(spark, Seq((9L, "z")).toDF("k", "v"), t,
      "overwrite") // v1: v0's file unreferenced
    assert(DeltaLite.vacuum(spark, t) >= 1)
    val e = intercept[IllegalArgumentException](
      DeltaLite.restore(spark, t, 0L))
    assert(e.getMessage.contains("vacuum"), e.getMessage)
  }

  // -------------------------------------------------------------- clone

  test("shallow clone references the source's files absolutely (DVs " +
      "rewritten to absolute storage), then the two tables diverge " +
      "independently and vacuum on the clone spares source files") {
    val src = java.nio.file.Files.createTempDirectory("delta_clsrc").toString
    val tgt = java.nio.file.Files.createTempDirectory("delta_cltgt").toString
    fs(tgt).delete(new Path(tgt), true)
    DeltaLite.write(spark,
      (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v"), src)
    DeltaLite.deleteWhere(spark, src, col("k") <= 2L) // source carries a DV
    val v0 = DeltaLite.clone(spark, src, tgt)
    assert(v0 == 0L)
    assert(DeltaLite.read(spark, tgt).select("k").as[Long].collect().toSet ==
      (3L to 10L).toSet, "clone must read the source state THROUGH the DV")
    // no data files under the clone — shallow means references only
    assert(!fs(tgt).listStatus(new Path(tgt))
      .exists(_.getPath.getName.endsWith(".parquet")))
    // diverge: mutate the clone, source unchanged; mutate source, clone
    // unchanged
    DeltaLite.write(spark, Seq((100L, "c")).toDF("k", "v"), tgt)
    DeltaLite.deleteWhere(spark, tgt, col("k") === 3L)
    assert(DeltaLite.read(spark, src).select("k").as[Long].collect().toSet ==
      (3L to 10L).toSet)
    assert(DeltaLite.read(spark, tgt).select("k").as[Long].collect().toSet ==
      ((4L to 10L).toSet + 100L))
    DeltaLite.write(spark, Seq((200L, "s")).toDF("k", "v"), src)
    assert(!DeltaLite.read(spark, tgt).select("k").as[Long]
      .collect().contains(200L))
    // vacuum on the clone sweeps ONLY its own directory
    DeltaLite.vacuum(spark, tgt)
    assert(DeltaLite.read(spark, src).count() == 9L,
      "vacuuming the clone must never delete source data files")
    // target-already-a-table refuses
    val e = intercept[IllegalArgumentException](
      DeltaLite.clone(spark, src, tgt))
    assert(e.getMessage.contains("already"), e.getMessage)
  }

  test("clone from a time-traveled source version") {
    val src = java.nio.file.Files.createTempDirectory("delta_clv").toString
    val tgt = java.nio.file.Files.createTempDirectory("delta_clvt").toString
    fs(tgt).delete(new Path(tgt), true)
    DeltaLite.write(spark, Seq((1L, "a")).toDF("k", "v"), src) // v0
    DeltaLite.write(spark, Seq((2L, "b")).toDF("k", "v"), src) // v1
    DeltaLite.clone(spark, src, tgt, asOf = Some(0L))
    assert(DeltaLite.read(spark, tgt).select("k").as[Long]
      .collect().toSeq == Seq(1L))
  }

  // ------------------------------------------------------ column defaults

  test("column defaults (allowColumnDefaults): an omitted CURRENT_DEFAULT " +
      "column fills from its expression, provided values pass " +
      "unvalidated, and evolution adding a defaulted column refuses") {
    val t = java.nio.file.Files.createTempDirectory("delta_defaults").toString
    val defMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("CURRENT_DEFAULT", "'pending'").build()
    val first = Seq((1L, "live")).toDF("k", "status")
      .select(col("k"), col("status").as("status", defMeta))
    DeltaLite.write(spark, first, t)
    val snap0 = DeltaLite.snapshot(spark, t)
    assert(snap0.protocol.exists(_.writerFeatures
        .exists(_.contains("allowColumnDefaults"))),
      snap0.protocol.toString)
    // omit the defaulted column: it fills
    DeltaLite.write(spark, Seq(Tuple1(2L)).toDF("k"), t)
    // provide an explicit non-default value: accepted, NOT validated
    DeltaLite.write(spark, Seq((3L, "done")).toDF("k", "status"), t)
    val got = DeltaLite.read(spark, t).orderBy("k")
      .select("k", "status").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "live"), (2L, "pending"), (3L, "done")), got)
    // evolution must not ADD a defaulted column (no backfill semantics)
    val evo = Seq((4L, "x", "y")).toDF("k", "status", "extra")
      .select(col("k"), col("status"), col("extra").as("extra", defMeta))
    val e = intercept[IllegalArgumentException](
      DeltaLite.write(spark, evo, t))
    assert(e.getMessage.contains("DEFAULT"), e.getMessage)
  }

  // ----------------------------------------------------- identity columns

  test("identity columns: null/omitted cells allocate past the high-water " +
      "mark (zipWithIndex, distributed), the mark survives in metaData, " +
      "GENERATED ALWAYS refuses explicit values, MERGE inherits matched " +
      "ids and allocates for inserts") {
    val t = java.nio.file.Files.createTempDirectory("delta_identity").toString
    val idMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("delta.identity.start", 100L)
      .putLong("delta.identity.step", 10L)
      .build()
    // creation: identity cells passed as NULL → allocated from start
    val first = Seq(("a", null), ("b", null))
      .toDF("v", "tmp").drop("tmp")
      .select(col("v"), lit(null).cast("long").as("id", idMeta))
    DeltaLite.write(spark, first, t)
    val snap0 = DeltaLite.snapshot(spark, t)
    assert(snap0.protocol.exists(_.minWriterVersion >= 6),
      snap0.protocol.toString)
    val got0 = DeltaLite.read(spark, t).select("v", "id")
      .as[(String, Long)].collect().toMap
    assert(got0.values.toSet == Set(100L, 110L), got0.toString)
    // the high-water mark landed in the table's schema metadata
    val hwm0 = snap0.schema.fields.find(_.name == "id").get
      .metadata.getLong("delta.identity.highWaterMark")
    assert(hwm0 == 110L, hwm0.toString)
    // an append OMITTING the column allocates past the mark
    DeltaLite.write(spark, Seq(Tuple1("c")).toDF("v"), t)
    val got1 = DeltaLite.read(spark, t).select("v", "id")
      .as[(String, Long)].collect().toMap
    assert(got1 == Map("a" -> 100L, "b" -> 110L, "c" -> 120L), got1.toString)
    assert(DeltaLite.snapshot(spark, t).schema.fields.find(_.name == "id")
      .get.metadata.getLong("delta.identity.highWaterMark") == 120L)
    // GENERATED ALWAYS (no allowExplicitInsert): explicit values refuse
    val e = intercept[IllegalArgumentException](DeltaLite.write(spark,
      Seq(("d", 999L)).toDF("v", "id"), t))
    assert(e.getMessage.contains("GENERATED ALWAYS"), e.getMessage)
    // MERGE with an explicit id into GENERATED ALWAYS still refuses
    val m = intercept[IllegalArgumentException](DeltaLite.upsert(spark,
      Seq(("a", 999L)).toDF("v", "id"), t, Seq("v")))
    assert(m.getMessage.contains("GENERATED ALWAYS"), m.getMessage)
    // MERGE with null ids: the matched key INHERITS its id, the new
    // key ALLOCATES past the mark, and the commit advances it
    DeltaLite.upsert(spark,
      Seq(("a", Option.empty[Long]), ("z", Option.empty[Long]))
        .toDF("v", "id"), t, Seq("v"))
    val got2 = DeltaLite.read(spark, t).select("v", "id")
      .as[(String, Long)].collect().toMap
    assert(got2("a") == 100L, s"matched key must keep its id: $got2")
    assert(got2("b") == 110L && got2("c") == 120L,
      s"untouched rows keep ids: $got2")
    assert(got2("z") == 130L || got2("z") == 140L,
      s"insert must allocate past the mark: $got2")
    assert(DeltaLite.snapshot(spark, t).schema.fields.find(_.name == "id")
      .get.metadata.getLong("delta.identity.highWaterMark") == 140L,
      "MERGE must advance the recorded high-water mark conservatively")
    assert(got2.values.toSet.size == got2.size, s"ids must stay unique: $got2")
  }

  test("identity with allowExplicitInsert: provided values pass and " +
      "push the high-water mark, mixed null rows still allocate") {
    val t = java.nio.file.Files.createTempDirectory("delta_idexp").toString
    val idMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("delta.identity.start", 1L)
      .putLong("delta.identity.step", 1L)
      .putBoolean("delta.identity.allowExplicitInsert", true)
      .build()
    DeltaLite.write(spark,
      Seq(("a", 50L)).toDF("v", "tmp")
        .select(col("v"), col("tmp").as("id", idMeta)), t)
    // mark jumped to the provided extreme; next allocation goes past it
    DeltaLite.write(spark, Seq(Tuple1("b")).toDF("v"), t)
    val got = DeltaLite.read(spark, t).select("v", "id")
      .as[(String, Long)].collect().toMap
    assert(got("a") == 50L && got("b") > 50L, got.toString)
  }

  // ------------------------------------------------------------- vacuum

  test("vacuum honors a FOREIGN remove's real-but-old deletionTimestamp " +
      "VERBATIM; only pre-2001 sentinel values fall back to the commit " +
      "file's mtime") {
    def patchRemoveTs(table: String, ts: Long): Unit = {
      val c1 = new java.io.File(table,
        "_delta_log/00000000000000000001.json")
      val txt = new String(
        java.nio.file.Files.readAllBytes(c1.toPath), "UTF-8")
      assert(txt.contains("\"remove\""), txt)
      java.nio.file.Files.write(c1.toPath, txt.replaceAll(
        "\"deletionTimestamp\":\\d+",
        s""""deletionTimestamp":$ts""").getBytes("UTF-8"))
    }
    // a REAL 2020 tombstone in a foreign log: long past any window —
    // swept even though the commit FILE was written seconds ago (the
    // heuristic must never reclassify a small-but-valid timestamp)
    val tf = java.nio.file.Files
      .createTempDirectory("delta_vacforeign").toString
    DeltaLite.write(spark, Seq((1L, "a")).toDF("k", "v"), tf)
    DeltaLite.write(spark, Seq((2L, "b")).toDF("k", "v"), tf, "overwrite")
    patchRemoveTs(tf, 1577836800000L) // 2020-01-01
    assert(DeltaLite.vacuum(spark, tf,
        retainMillis = Some(7L * 24 * 3600 * 1000)) == 1,
      "a real 2020 deletionTimestamp is honored verbatim (expired)")
    // the legacy `1L` sentinel: not a plausible delta timestamp → the
    // commit mtime (now) is the unreference moment → a 1h window spares
    val tl = java.nio.file.Files
      .createTempDirectory("delta_vaclegacy").toString
    DeltaLite.write(spark, Seq((1L, "a")).toDF("k", "v"), tl)
    DeltaLite.write(spark, Seq((2L, "b")).toDF("k", "v"), tl, "overwrite")
    patchRemoveTs(tl, 1L)
    assert(DeltaLite.vacuum(spark, tl,
        retainMillis = Some(3600L * 1000)) == 0,
      "the pre-2001 sentinel falls back to the fresh commit mtime")
  }

  test("vacuum honors the retention window (explicit or the table's " +
      "deletedFileRetentionDuration) and sweeps ORPHANED deletion-vector " +
      "files while sparing live ones") {
    val t = java.nio.file.Files.createTempDirectory("delta_vacret").toString
    DeltaLite.write(spark, Seq((1L, "a")).toDF("k", "v"), t,
      configuration =
        Map("delta.deletedFileRetentionDuration" -> "interval 1 hour"))
    DeltaLite.write(spark, Seq((9L, "z")).toDF("k", "v"), t, "overwrite")
    // the table property spares the freshly-unreferenced v0 file
    assert(DeltaLite.vacuum(spark, t) == 0,
      "retention window must spare recently-unreferenced files")
    assert(DeltaLite.read(spark, t, asOf = Some(0L)).count() == 1L,
      "time travel inside the window must still work")
    // an explicit zero retention overrides and sweeps
    assert(DeltaLite.vacuum(spark, t, retainMillis = Some(0L)) >= 1)
    // DV lifecycle: a live DV file survives, a purged one sweeps
    val t2 = java.nio.file.Files.createTempDirectory("delta_vacdv").toString
    DeltaLite.write(spark, (1L to 50L).map(i => (i, s"v$i")).toDF("k", "v"),
      t2)
    DeltaLite.deleteWhere(spark, t2, col("k") <= 5L)
    def dvFiles(): Seq[String] = fs(t2).listStatus(new Path(t2))
      .map(_.getPath.getName)
      .filter(n => n.startsWith("deletion_vector_") && n.endsWith(".bin"))
      .toSeq
    assert(dvFiles().nonEmpty)
    DeltaLite.vacuum(spark, t2, retainMillis = Some(0L))
    assert(dvFiles().nonEmpty, "a LIVE deletion vector must survive vacuum")
    assert(DeltaLite.read(spark, t2).count() == 45L)
    DeltaLite.compact(spark, t2) // purges the DV: its file is now orphaned
    DeltaLite.vacuum(spark, t2, retainMillis = Some(0L))
    assert(dvFiles().isEmpty, "a purged deletion vector must sweep")
    assert(DeltaLite.read(spark, t2).count() == 45L)
    // interval parsing is loud on junk
    val e = intercept[IllegalArgumentException](
      DeltaLite.parseInterval("3 fortnights"))
    assert(e.getMessage.contains("interval"), e.getMessage)
    assert(DeltaLite.parseInterval("interval 2 days") == 2L * 24 * 3600 * 1000)
    assert(DeltaLite.parseInterval("INTERVAL 30 minutes") == 30L * 60 * 1000)
  }

  test("vacuum measures retention from the remove's deletionTimestamp, " +
      "not the file's mtime: an OLD file unreferenced moments ago " +
      "survives the window") {
    val t = java.nio.file.Files.createTempDirectory("delta_vacts").toString
    DeltaLite.write(spark, Seq((1L, "a")).toDF("k", "v"), t)
    // backdate the data file 30 days: under the old mtime rule a 7-day
    // window would sweep it the instant it became unreferenced
    val old = System.currentTimeMillis - 30L * 24 * 3600 * 1000
    val f = fs(t)
    def dataFiles(): Seq[org.apache.hadoop.fs.FileStatus] =
      f.listStatus(new Path(t)).filter(s => !s.isDirectory &&
        s.getPath.getName.endsWith(".parquet")).toSeq
    dataFiles().foreach(s => f.setTimes(s.getPath, old, old))
    DeltaLite.write(spark, Seq((2L, "b")).toDF("k", "v"), t, "overwrite")
    val retain7d = 7L * 24 * 3600 * 1000
    assert(DeltaLite.vacuum(spark, t, retainMillis = Some(retain7d)) == 0,
      "a file REMOVED five minutes ago must survive a 7-day window " +
        "regardless of how old its bytes are")
    assert(DeltaLite.read(spark, t, asOf = Some(0L)).count() == 1L,
      "restore/time-travel window must stay intact")
    // zero retention still sweeps it
    assert(DeltaLite.vacuum(spark, t, retainMillis = Some(0L)) >= 1)
    // and the fallback: an unreferenced file whose remove commit is
    // GONE from the log (simulated: drop a stray parquet in the tree)
    // falls back to mtime — old stray sweeps, fresh stray survives
    val strayOld = new Path(t, "stray_old.parquet")
    val os = f.create(strayOld, true); os.write(Array[Byte](1)); os.close()
    f.setTimes(strayOld, old, old)
    val strayNew = new Path(t, "stray_new.parquet")
    val ns = f.create(strayNew, true); ns.write(Array[Byte](1)); ns.close()
    assert(DeltaLite.vacuum(spark, t, retainMillis = Some(retain7d)) == 1)
    assert(!f.exists(strayOld) && f.exists(strayNew))
  }

  /** Stage `ck` as `<v>.checkpoint.parquet` + `_last_checkpoint`. */
  private def installCheckpoint(t: String, ck: DataFrame, v: Long): Unit = {
    val stage = t + "_ckstage"
    ck.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = fs(t).listStatus(new Path(stage))
      .map(_.getPath).find(_.getName.startsWith("part-")).get
    val logDir = new Path(t, "_delta_log")
    fs(t).mkdirs(logDir)
    assert(fs(t).rename(part,
      new Path(logDir, f"$v%020d.checkpoint.parquet")))
    fs(t).delete(new Path(stage), true)
    val lc = fs(t).create(new Path(logDir, "_last_checkpoint"), true)
    try lc.write(s"""{"version":$v,"size":${ck.count}}""".getBytes("UTF-8"))
    finally lc.close()
  }
}

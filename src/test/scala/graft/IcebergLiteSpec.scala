package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.avro.{Schema => AvroSchema}
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.IcebergLite

/** Native Iceberg reader/writer over the PUBLIC table-format spec
  * (iceberg.apache.org/spec). The round-trip tests exercise our own
  * writer; the hand-crafted-table tests build v1/v2 metadata + Avro
  * manifests from the spec text directly (no Iceberg library on either
  * side exists in this container), so the reader's format handling is
  * pinned to the spec, not to our writer's dialect.
  */
class IcebergLiteSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def fs(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmp(name: String): String = {
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_iceberg_$name").toString
    fs(p).delete(new Path(p), true)
    p
  }

  private def rows(df: DataFrame): Set[(Long, String)] =
    df.select(col("k").cast("long"), col("v").cast("string"))
      .as[(Long, String)].collect().toSet

  // ------------------------------------------------------------ round trip

  test("round trip: two append commits read back as their union; " +
      "metadata versions and snapshots accumulate") {
    val t = tmp("rt")
    val a = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val b = Seq((3L, "c")).toDF("k", "v")
    IcebergLite.write(spark, a, t)
    IcebergLite.write(spark, b, t)
    val got = IcebergLite.read(spark, t)
    assert(got.schema.fieldNames.toSeq == Seq("k", "v"))
    assert(rows(got) == Set((1L, "a"), (2L, "b"), (3L, "c")))
    val meta = IcebergLite.loadMeta(spark, t)
    assert(meta.version == 2)
    assert(meta.snapshots.size == 2)
    assert(meta.lastSequenceNumber == 2L)
  }

  test("overwrite replaces the table contents") {
    val t = tmp("ow")
    IcebergLite.write(spark, Seq((1L, "a")).toDF("k", "v"), t)
    IcebergLite.write(spark, Seq((9L, "z")).toDF("k", "v"), t, "overwrite")
    assert(rows(IcebergLite.read(spark, t)) == Set((9L, "z")))
  }

  test("time travel: a snapshot-pinned read sees only that commit's state") {
    val t = tmp("tt")
    val s1 = IcebergLite.write(spark, Seq((1L, "a")).toDF("k", "v"), t)
    val s2 = IcebergLite.write(spark, Seq((2L, "b")).toDF("k", "v"), t)
    assert(rows(IcebergLite.read(spark, t, Some(s1))) == Set((1L, "a")))
    assert(rows(IcebergLite.read(spark, t, Some(s2))) ==
      Set((1L, "a"), (2L, "b")))
    val err = intercept[IllegalArgumentException](
      IcebergLite.read(spark, t, Some(424242L)))
    assert(err.getMessage.contains("not in"))
  }

  test("schema mismatch on append fails loudly") {
    val t = tmp("sm")
    IcebergLite.write(spark, Seq((1L, "a")).toDF("k", "v"), t)
    val err = intercept[IllegalArgumentException](
      IcebergLite.write(spark, Seq((1L, 2L)).toDF("k", "n"), t))
    assert(err.getMessage.contains("schema mismatch"))
  }

  test("append-only schema evolution: added columns get a fresh " +
      "schema-id and stable field ids; old files read null; renames " +
      "and foreign-id tables stay loud") {
    val t = tmp("evolve")
    IcebergLite.write(spark, Seq((1L, "a")).toDF("k", "v"), t)
    IcebergLite.write(spark,
      Seq((2L, "b", 7.5)).toDF("k", "v", "score"), t)
    val got = IcebergLite.read(spark, t)
    assert(got.schema.fieldNames.toSeq == Seq("k", "v", "score"))
    val collected = got.collect().map(r =>
      (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    assert(collected == Set((1L, "a", null), (2L, "b", 7.5)))
    val meta = IcebergLite.loadMeta(spark, t)
    assert(meta.currentSchemaId == 1 && meta.schemasJson.size == 2)
    // prefix columns keep their ids; the addition extends them
    assert(meta.fieldIds == Map("k" -> 1, "v" -> 2, "score" -> 3))
    // the merge path works across the evolution (bounds, pruning, MoR)
    IcebergLite.upsert(spark,
      Seq((1L, "A", 0.5)).toDF("k", "v", "score"), t, Seq("k"))
    assert(IcebergLite.read(spark, t).count() == 2)
    assert(IcebergLite.read(spark, t)
      .filter(col("k") === 1L).select("score").collect().head.getDouble(0)
      == 0.5)
    // a rename is NOT evolution
    val err = intercept[IllegalArgumentException](IcebergLite.write(spark,
      Seq((9L, "x", 1.0)).toDF("k", "renamed", "score"), t))
    assert(err.getMessage.contains("schema mismatch"))
    // an upsert batch with a column the table lacks refuses instead of
    // silently dropping it
    val err2 = intercept[IllegalArgumentException](IcebergLite.upsert(spark,
      Seq((1L, "A", 0.5, "x")).toDF("k", "v", "score", "extra"), t, Seq("k")))
    assert(err2.getMessage.contains("extra"))
  }

  test("rename evolution is metadata-only: old files resolve by FIELD " +
      "ID under the new name, appends/upserts continue, drop projects " +
      "the column away, partition sources refuse") {
    val t = tmp("rename")
    IcebergLite.write(spark,
      Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("k", "v", "score"), t)
    IcebergLite.renameColumn(spark, t, "v", "label")
    val meta = IcebergLite.loadMeta(spark, t)
    assert(meta.schema.fieldNames.toSeq == Seq("k", "label", "score"))
    assert(meta.fieldIds == Map("k" -> 1, "label" -> 2, "score" -> 3),
      "rename must keep the field id")
    // the OLD data files (written under the old name) read under the
    // new name — field-id indirection, no data IO happened
    assert(IcebergLite.read(spark, t)
      .select("k", "label").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // appends under the NEW name mix with old files transparently
    IcebergLite.write(spark,
      Seq((3L, "c", 3.5)).toDF("k", "label", "score"), t)
    assert(IcebergLite.read(spark, t)
      .select("k", "label").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // merge still prunes/merges correctly across the rename (bounds are
    // keyed by field id, which didn't move)
    IcebergLite.upsert(spark,
      Seq((2L, "B2", 9.9)).toDF("k", "label", "score"), t, Seq("k"))
    assert(IcebergLite.read(spark, t)
      .select("k", "label").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "B2"), (3L, "c")))
    // a second rename stacks (old files now two schemas back)
    IcebergLite.renameColumn(spark, t, "label", "tag")
    assert(IcebergLite.read(spark, t)
      .select("k", "tag").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "B2"), (3L, "c")))
    // drop projects the column away without touching files
    IcebergLite.dropColumn(spark, t, "score")
    val got = IcebergLite.read(spark, t)
    assert(got.schema.fieldNames.toSeq == Seq("k", "tag"))
    assert(got.count() == 3)
    // invalid evolutions refuse
    intercept[IllegalArgumentException](
      IcebergLite.renameColumn(spark, t, "nope", "x"))
    intercept[IllegalArgumentException](
      IcebergLite.renameColumn(spark, t, "k", "tag"))
    // partition source columns are untouchable
    val tp = tmp("rename_part")
    IcebergLite.write(spark, Seq((1L, "us", "a")).toDF("k", "region", "v"),
      tp, partitionBy = Seq("region"))
    val e = intercept[IllegalArgumentException](
      IcebergLite.renameColumn(spark, tp, "region", "geo"))
    assert(e.getMessage.contains("partition source"), e.getMessage)
  }

  // ---------------------------------------------------- merge-on-read

  test("position-delete commit suppresses matched rows WITHOUT " +
      "rewriting data files; deletes stack across commits") {
    val t = tmp("mor")
    IcebergLite.write(spark,
      (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v"), t)
    val filesBefore = IcebergLite.snapshotState(spark, t)
      .dataFiles.map(_.path).toSet
    IcebergLite.deleteWhere(spark, t, col("k") % 2 === 0)
    val st = IcebergLite.snapshotState(spark, t)
    assert(st.dataFiles.map(_.path).toSet == filesBefore,
      "data files must be untouched by a positional delete")
    assert(st.posDeleteFiles.nonEmpty)
    assert(rows(IcebergLite.read(spark, t)).map(_._1) ==
      Set(1L, 3L, 5L, 7L, 9L))
    // stacked second delete over the survivors
    IcebergLite.deleteWhere(spark, t, col("k") === 3L)
    assert(rows(IcebergLite.read(spark, t)).map(_._1) ==
      Set(1L, 5L, 7L, 9L))
    // appended rows after a delete commit are unaffected by it
    IcebergLite.write(spark, Seq((2L, "back")).toDF("k", "v"), t)
    assert(rows(IcebergLite.read(spark, t)) ==
      Set((1L, "v1"), (5L, "v5"), (7L, "v7"), (9L, "v9"), (2L, "back")))
  }

  test("upsert merges in ONE snapshot: replaced keys suppressed by " +
      "position deletes, batch appended, delete-keys removed, data " +
      "files untouched") {
    val t = tmp("up")
    IcebergLite.write(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v"), t)
    val before = IcebergLite.loadMeta(spark, t)
    val filesBefore = IcebergLite.snapshotState(spark, t)
      .dataFiles.map(_.path).toSet
    IcebergLite.upsert(spark,
      Seq((2L, "B2"), (9L, "new")).toDF("k", "v"), t, Seq("k"),
      deleteKeys = Some(Seq(Tuple1(4L)).toDF("k")))
    assert(rows(IcebergLite.read(spark, t)) ==
      Set((1L, "a"), (2L, "B2"), (3L, "c"), (9L, "new")))
    val after = IcebergLite.loadMeta(spark, t)
    assert(after.version == before.version + 1,
      "the merge must be ONE commit")
    val st = IcebergLite.snapshotState(spark, t)
    assert(filesBefore.subsetOf(st.dataFiles.map(_.path).toSet),
      "original data files must be untouched by a merge-on-read upsert")
    assert(st.posDeleteFiles.nonEmpty)
    // a second upsert stacks correctly over the first
    IcebergLite.upsert(spark, Seq((9L, "N2")).toDF("k", "v"), t, Seq("k"))
    assert(rows(IcebergLite.read(spark, t)) ==
      Set((1L, "a"), (2L, "B2"), (3L, "c"), (9L, "N2")))
  }

  test("upsert into an empty-dir table path behaves as create") {
    val t = tmp("upnew")
    IcebergLite.write(spark,
      spark.emptyDataset[(Long, String)].toDF("k", "v"), t)
    IcebergLite.upsert(spark, Seq((1L, "a")).toDF("k", "v"), t, Seq("k"))
    assert(rows(IcebergLite.read(spark, t)) == Set((1L, "a")))
  }

  test("manifest column bounds: written per data file (spec single-" +
      "value serialization) and pruning the upsert candidate scan") {
    val t = tmp("prune")
    IcebergLite.write(spark,
      (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1), t)
    IcebergLite.write(spark,
      (100L to 110L).map(i => (i, s"w$i")).toDF("k", "v").coalesce(1), t)
    val st = IcebergLite.snapshotState(spark, t)
    assert(st.dataFiles.size == 2)
    val kId = st.meta.fieldIds("k")
    // bounds round-trip: the first file's k range is [1, 10] LE longs
    val f1 = st.dataFiles.minBy(_.lowerBounds.get(kId).map(
      b => java.nio.ByteBuffer.wrap(b)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong).getOrElse(Long.MaxValue))
    assert(java.nio.ByteBuffer.wrap(f1.lowerBounds(kId))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong == 1L)
    assert(java.nio.ByteBuffer.wrap(f1.upperBounds(kId))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong == 10L)
    // string bounds on v too
    assert(new String(f1.lowerBounds(st.meta.fieldIds("v")), "UTF-8") == "v1")
    // pruning: a batch keyed entirely inside the second file's range
    // scans ONE candidate; a disjoint range scans none
    assert(IcebergLite.candidateFiles(st, Seq("k"),
      Map("k" -> (105L, 108L))).size == 1)
    assert(IcebergLite.candidateFiles(st, Seq("k"),
      Map("k" -> (50L, 60L))).isEmpty)
    assert(IcebergLite.candidateFiles(st, Seq("k"),
      Map("k" -> (5L, 105L))).size == 2)
    // and the merge is still correct end to end through the pruned path
    IcebergLite.upsert(spark, Seq((105L, "MERGED")).toDF("k", "v"), t, Seq("k"))
    val got = rows(IcebergLite.read(spark, t))
    assert(got.size == 21)
    assert(got((105L, "MERGED")) && !got((105L, "w105")))
    assert(got((1L, "v1")) && got((110L, "w110")))
  }

  test("deleteWhere matching nothing commits nothing") {
    val t = tmp("noop")
    IcebergLite.write(spark, Seq((1L, "a")).toDF("k", "v"), t)
    val before = IcebergLite.loadMeta(spark, t).version
    IcebergLite.deleteWhere(spark, t, col("k") === 999L)
    assert(IcebergLite.loadMeta(spark, t).version == before)
  }

  test("identity-partitioned writes: partition spec in metadata, " +
      "per-file partition values in manifests, dir layout, appends " +
      "must match the spec, mutations refuse") {
    val t = tmp("part")
    val df = Seq((1L, "us", "a"), (2L, "us", "b"), (3L, "de", "c"))
      .toDF("k", "region", "v")
    IcebergLite.write(spark, df, t, partitionBy = Seq("region"))
    val meta = IcebergLite.loadMeta(spark, t)
    assert(meta.partitionFields ==
      Seq(IcebergLite.PartSpecField("region", "identity",
        meta.fieldIds("region"))))
    // one data file set per partition, under region=<val> dirs, all
    // columns retained in the files
    val st = IcebergLite.snapshotState(spark, t)
    assert(st.dataFiles.nonEmpty)
    assert(st.dataFiles.forall(f =>
      f.path.contains("/region=us/") || f.path.contains("/region=de/")))
    val got = IcebergLite.read(spark, t)
      .select(col("k"), col("region"), col("v"))
      .as[(Long, String, String)].collect().toSet
    assert(got == Set((1L, "us", "a"), (2L, "us", "b"), (3L, "de", "c")))
    // the manifest carries the partition VALUE per entry (read it back
    // raw — our reader ignores it, a foreign reader prunes on it)
    val manifest = st.manifests.head.path
    val reader = new org.apache.avro.file.DataFileReader[GenericRecord](
      new org.apache.avro.file.SeekableFileInput(
        new java.io.File(new java.net.URI(
          if (manifest.startsWith("/")) s"file://$manifest" else manifest))),
      new org.apache.avro.generic.GenericDatumReader[GenericRecord]())
    val parts = try {
      val out = scala.collection.mutable.Set.empty[String]
      while (reader.hasNext) {
        val df0 = reader.next().get("data_file")
          .asInstanceOf[GenericRecord]
        out += df0.get("partition").asInstanceOf[GenericRecord]
          .get("region").toString
      }
      out
    } finally reader.close()
    assert(parts == Set("us", "de"))
    // appends must match the spec; unpartitioned append inherits it
    IcebergLite.write(spark,
      Seq((4L, "fr", "d")).toDF("k", "region", "v"), t)
    assert(IcebergLite.read(spark, t).count() == 4)
    val err = intercept[IllegalArgumentException](IcebergLite.write(spark,
      df, t, partitionBy = Seq("v")))
    assert(err.getMessage.contains("does not match"))
  }

  test("GLOBAL equality deletes on partitioned tables ride a second " +
      "unpartitioned spec: keys retract across partitions, the sequence " +
      "rule re-admits later inserts, both specs survive later commits") {
    val t = tmp("eqpart")
    val df = Seq((1L, "us", "a"), (2L, "us", "b"), (3L, "de", "c"),
      (4L, "de", "d")).toDF("k", "region", "v")
    IcebergLite.write(spark, df, t, partitionBy = Seq("region"))
    // retract keys from BOTH partitions with zero table reads
    IcebergLite.deleteByKeys(spark, t,
      Seq(Tuple1(2L), Tuple1(3L)).toDF("k"), Seq("k"))
    assert(IcebergLite.read(spark, t).select("k").as[Long].collect()
      .toSet == Set(1L, 4L))
    // the delete manifest rides spec 1; data manifests keep spec 0
    val st = IcebergLite.snapshotState(spark, t)
    assert(st.manifests.filter(_.content == 1).forall(_.specId == 1),
      st.manifests.map(m => (m.content, m.specId)).toString)
    assert(st.manifests.filter(_.content == 0).forall(_.specId == 0))
    // sequence rule: a LATER insert of a deleted key is visible
    IcebergLite.write(spark, Seq((3L, "de", "c2")).toDF("k", "region", "v"), t)
    assert(IcebergLite.read(spark, t).select("k").as[Long].collect()
      .toSet == Set(1L, 3L, 4L))
    // BOTH specs survive the follow-up commit's metadata
    val meta = IcebergLite.loadMeta(spark, t)
    val specIds = meta.specsJson.map(js =>
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(js)
        .get("spec-id").asInt).toSet
    assert(specIds == Set(0, 1), meta.specsJson.toString)
    assert(meta.partitionFields.nonEmpty) // default spec intact
    // compact resolves the eq delete (older files rewritten through the
    // partition layout); the re-inserted row survives
    IcebergLite.compact(spark, t)
    val st2 = IcebergLite.snapshotState(spark, t)
    assert(st2.eqDeleteFiles.isEmpty)
    assert(IcebergLite.read(spark, t)
      .select("k", "v").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (3L, "c2"), (4L, "d")))
  }

  test("snapshotAtTimestamp: latest at-or-before wins (sequence breaks " +
      "timestamp ties), too-early refuses, composes with pinned reads") {
    val t = tmp("ts")
    IcebergLite.write(spark, Seq((1L, "a")).toDF("k", "v"), t)
    IcebergLite.write(spark, Seq((2L, "b")).toDF("k", "v"), t)
    val meta = IcebergLite.loadMeta(spark, t)
    val latest = meta.snapshots.maxBy(_.sequenceNumber)
    // deterministic writer stamps: equal timestamps → sequence breaks
    // the tie toward the LATEST state at that instant
    assert(IcebergLite.snapshotAtTimestamp(spark, t,
      latest.timestampMs) == latest.snapshotId)
    assert(IcebergLite.snapshotAtTimestamp(spark, t,
      Long.MaxValue) == latest.snapshotId)
    val e = intercept[IllegalArgumentException](
      IcebergLite.snapshotAtTimestamp(spark, t,
        meta.snapshots.map(_.timestampMs).min - 1))
    assert(e.getMessage.contains("at or before"))
    assert(IcebergLite.read(spark, t, Some(IcebergLite
      .snapshotAtTimestamp(spark, t, Long.MaxValue))).count() == 2)
  }

  test("partitioned tables take native ROW-LEVEL mutations: deleteWhere " +
      "writes partition-scoped position deletes (one pass), upsert " +
      "merges through the transform layout, the spec is restated") {
    val t = tmp("partmut")
    val days = (1 to 6).map(i => f"2024-01-0$i")
    val rows = for {
      d <- days; i <- 1 to 4
    } yield ((days.indexOf(d) * 4 + i).toLong, java.sql.Date.valueOf(d),
      s"v$d-$i")
    IcebergLite.write(spark, rows.toDF("k", "d", "v"), t,
      partitionBy = Seq("day(d)"))
    assert(IcebergLite.read(spark, t).count() == 24)
    // DELETE with a partition predicate + a residual: only day 3's even
    // keys go
    IcebergLite.deleteWhere(spark, t,
      col("d") === java.sql.Date.valueOf("2024-01-03") && col("k") % 2 === 0)
    val afterDel = IcebergLite.read(spark, t)
    assert(afterDel.count() == 22)
    assert(afterDel.filter(col("d") === "2024-01-03").count() == 2)
    // the delete files are PARTITION-SCOPED: entries carry the day
    // tuple, so foreign readers prune them like data files
    val st = IcebergLite.snapshotState(spark, t)
    assert(st.posDeleteFiles.nonEmpty)
    assert(st.posDeleteFiles.forall(_.partValues.keySet == Set("d_day")),
      st.posDeleteFiles.map(_.partValues).toString)
    // MERGE: replace one key per day + insert new keys; batch stages
    // through the same partitioned layout
    val batch = Seq(
      (1L, java.sql.Date.valueOf("2024-01-01"), "REPL"),
      (100L, java.sql.Date.valueOf("2024-01-07"), "NEW"))
      .toDF("k", "d", "v")
    IcebergLite.upsert(spark, batch, t, Seq("k"))
    val fin = IcebergLite.read(spark, t)
    assert(fin.count() == 23)
    assert(fin.filter(col("k") === 1L).select("v").head().getString(0)
      == "REPL")
    assert(fin.filter(col("k") === 100L).select("d").head()
      .getDate(0).toString == "2024-01-07")
    // deleted rows stay deleted through the merge
    assert(fin.filter(col("d") === "2024-01-03").count() == 2)
    // the new data files landed under day dirs and carry partition
    // values in their manifest entries
    val st2 = IcebergLite.snapshotState(spark, t)
    val newData = st2.dataFiles.filter(_.path.contains("2024-01-07"))
    assert(newData.nonEmpty && newData.forall(_.partValues.nonEmpty))
    // time travel still sees the pre-delete state
    val meta = IcebergLite.loadMeta(spark, t)
    val firstSnap = meta.snapshots.minBy(_.sequenceNumber).snapshotId
    assert(IcebergLite.read(spark, t, Some(firstSnap)).count() == 24)
    // a pruned read of an UNTOUCHED day drops the delete anti-join
    // entirely (partition-scoped delete files prune with the data)
    val untouched = IcebergLite.read(spark, t,
      where = Some(col("d") === java.sql.Date.valueOf("2024-01-02")))
    assert(!untouched.queryExecution.executedPlan.toString.contains("Join"),
      "untouched-partition read must not pay the position-delete join")
    assert(untouched.count() == 4)
    // COMPACT resolves the partitioned position deletes through the
    // same transform layout: delete files drop, rows unchanged, every
    // rewritten entry still carries its partition tuple
    IcebergLite.compact(spark, t)
    val st3 = IcebergLite.snapshotState(spark, t)
    assert(st3.posDeleteFiles.isEmpty)
    assert(st3.dataFiles.forall(_.partValues.keySet == Set("d_day")))
    val fin2 = IcebergLite.read(spark, t)
    assert(fin2.count() == 23)
    assert(fin2.filter(col("k") === 1L).select("v").head().getString(0)
      == "REPL")
    assert(fin2.filter(col("d") === "2024-01-03").count() == 2)
  }

  test("partitioned writes handle NULL partition values (hive default " +
      "dir, null manifest value, no collision with a literal \"null\" " +
      "string, round-trip intact)") {
    val t = tmp("partnull")
    val df = Seq((1L, Some("us"), "a"), (2L, None, "b"),
      (3L, Some("null"), "c")).toDF("k", "region", "v")
    IcebergLite.write(spark, df, t, partitionBy = Seq("region"))
    val got = IcebergLite.read(spark, t)
      .select(col("k"), col("region"), col("v"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1), r.getString(2))).toSet
    assert(got == Set((1L, "us", "a"), (2L, null, "b"), (3L, "null", "c")))
    val st = IcebergLite.snapshotState(spark, t)
    // the NULL value lands in the hive default dir; the literal string
    // "null" keeps its own region=null dir — distinct directories, and
    // the manifests carry the true typed values either way
    assert(st.dataFiles.exists(
      _.path.contains("/region=__HIVE_DEFAULT_PARTITION__/")))
    assert(st.dataFiles.exists(_.path.contains("/region=null/")))
    // manifest-level values distinguish them too
    val byNull = IcebergLite.read(spark, t).filter(col("region").isNull)
    assert(byNull.count() == 1)
  }

  test("a multi-partition batch stages in ONE distributed pass — no " +
      "per-tuple re-filter/recompute of the upstream pipeline") {
    val t = tmp("partonce")
    val evals = spark.sparkContext.longAccumulator("stage_evals")
    val bump = udf { (k: Long) => evals.add(1L); k }
    val df = (1L to 40L).map(i => (i, s"r${i % 8}", s"v$i"))
      .toDF("k", "region", "v")
      .withColumn("k", bump(col("k")))
    IcebergLite.write(spark, df, t, partitionBy = Seq("region"))
    assert(evals.value == 40L,
      s"upstream recomputed during staging: ${evals.value} evals for " +
        "40 rows across 8 partitions (must be one pass)")
    assert(IcebergLite.read(spark, t).count() == 40)
    val st = IcebergLite.snapshotState(spark, t)
    assert(st.dataFiles.map(_.path).forall(p => p.contains("/region=")))
  }

  test("day-partitioned writes: transform spec in metadata, date-typed " +
      "partition values in manifests, read-side pruning scans only " +
      "matching days, filtered results exact") {
    val t = tmp("daypart")
    val rows0 = (0 until 12).map { i =>
      (i.toLong, java.sql.Date.valueOf(s"2024-03-${10 + i / 4}"), s"v$i")
    }
    IcebergLite.write(spark, rows0.toDF("k", "d", "v"), t,
      partitionBy = Seq("day(d)"))
    val meta = IcebergLite.loadMeta(spark, t)
    assert(meta.partitionFields ==
      Seq(IcebergLite.PartSpecField("d_day", "day", meta.fieldIds("d"))))
    val st = IcebergLite.snapshotState(spark, t)
    assert(st.dataFiles.forall(_.path.contains("/d_day=2024-03-1")))
    // each file's manifest partition value is the epoch-day int
    assert(st.dataFiles.flatMap(_.partValues.get("d_day")).forall(
      _.isInstanceOf[Integer]))
    // prune: equality on one day keeps only that day's files
    val kept = IcebergLite.prunePartitions(st,
      col("d") === java.sql.Date.valueOf("2024-03-11"))
    assert(kept.nonEmpty && kept.size < st.dataFiles.size)
    assert(kept.forall(_.path.contains("/d_day=2024-03-11/")))
    // range prune: [03-11, 03-12] drops 03-10
    val ranged = IcebergLite.prunePartitions(st,
      col("d") >= java.sql.Date.valueOf("2024-03-11") &&
        col("d") < java.sql.Date.valueOf("2024-03-12"))
    assert(ranged.forall(!_.path.contains("/d_day=2024-03-10/")))
    // the filtered READ is exact (prune + residual filter)
    val got = IcebergLite.read(spark, t,
        where = Some(col("d") === java.sql.Date.valueOf("2024-03-11")))
      .select("k").as[Long].collect().toSet
    assert(got == rows0.filter(_._2.toString == "2024-03-11")
      .map(_._1).toSet)
    // appends inherit the transform spec; mismatched specs refuse
    IcebergLite.write(spark, Seq(
      (99L, java.sql.Date.valueOf("2024-03-13"), "z")).toDF("k", "d", "v"), t)
    assert(IcebergLite.read(spark, t).count() == 13)
    val err = intercept[IllegalArgumentException](IcebergLite.write(spark,
      rows0.toDF("k", "d", "v"), t, partitionBy = Seq("month(d)")))
    assert(err.getMessage.contains("does not match"))
  }

  test("bucket[16]-partitioned writes: spec-hash partition values, " +
      "equality pruning keeps one bucket, reads exact") {
    val t = tmp("bucketpart")
    val rows0 = (1L to 64L).map(i => (i, s"u$i"))
    IcebergLite.write(spark, rows0.toDF("k", "v"), t,
      partitionBy = Seq("bucket(16, k)"))
    val meta = IcebergLite.loadMeta(spark, t)
    assert(meta.partitionFields ==
      Seq(IcebergLite.PartSpecField("k_bucket", "bucket[16]",
        meta.fieldIds("k"))))
    val st = IcebergLite.snapshotState(spark, t)
    // every manifest value matches the spec's murmur3 bucket of the key
    // range the file holds (verify via a full read-back per file)
    val expectBucket = graft.sources.IcebergTransforms
      .bucketValue(org.apache.spark.sql.types.LongType, 34L, 16)
    val kept = IcebergLite.prunePartitions(st, col("k") === 34L)
    assert(kept.nonEmpty && kept.size < st.dataFiles.size)
    assert(kept.forall(_.partValues("k_bucket") == expectBucket))
    // ranges never prune on bucket (hash order ≠ value order)
    assert(IcebergLite.prunePartitions(st, col("k") > 60L).size ==
      st.dataFiles.size)
    val got = IcebergLite.read(spark, t, where = Some(col("k") === 34L))
      .as[(Long, String)].collect().toSet
    assert(got == Set((34L, "u34")))
    assert(IcebergLite.read(spark, t).count() == 64)
  }

  test("truncate[4]-partitioned strings: prefix partition values, " +
      "equality and range pruning, round-trip exact") {
    val t = tmp("truncpart")
    val rows0 = Seq("alpha", "alien", "beta", "bean", "gamma")
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
    IcebergLite.write(spark, rows0.toDF("k", "s"), t,
      partitionBy = Seq("truncate(4, s)"))
    val st = IcebergLite.snapshotState(spark, t)
    assert(st.dataFiles.exists(_.partValues("s_trunc") == "alph"))
    val kept = IcebergLite.prunePartitions(st, col("s") === "alpha")
    assert(kept.nonEmpty &&
      kept.forall(_.partValues("s_trunc") == "alph"))
    // monotone range prune: s >= "bz" drops alph/alie/bean buckets
    val ranged = IcebergLite.prunePartitions(st, col("s") >= "bz")
    assert(ranged.forall(f => f.partValues("s_trunc") == "gamm"))
    val got = IcebergLite.read(spark, t, where = Some(col("s") >= "be"))
      .select("s").as[String].collect().toSet
    assert(got == Set("beta", "bean", "gamma"))
  }

  // ------------------------------------------------ metadata tables

  test("snapshots/files metadata tables: history with operations and " +
      "txn summaries, per-file bounds decoded by column name") {
    val t = tmp("metatbl")
    IcebergLite.write(spark,
      (1L to 5L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1), t)
    IcebergLite.write(spark, Seq((9L, "z")).toDF("k", "v"), t,
      txn = Some(("appZ", 3L)))
    IcebergLite.deleteWhere(spark, t, col("k") === 2L)
    val snaps = IcebergLite.snapshotsDf(spark, t)
      .orderBy("sequence_number").collect()
    assert(snaps.length == 3)
    assert(snaps.map(_.getAs[String]("operation")).toSeq ==
      Seq("append", "append", "delete"))
    assert(snaps.count(_.getAs[Boolean]("is_current")) == 1 &&
      snaps.last.getAs[Boolean]("is_current"))
    assert(snaps(1).getAs[Map[String, String]]("summary")
      .get("graft-txn-app").contains("appZ"))
    val files = IcebergLite.filesDf(spark, t).collect()
    assert(files.count(_.getAs[String]("content") == "data") == 2)
    assert(files.count(
      _.getAs[String]("content") == "position_deletes") == 1)
    val f1 = files.filter(_.getAs[String]("content") == "data")
      .minBy(_.getAs[Map[String, String]]("lower_bounds")
        .get("k").map(_.toLong).getOrElse(Long.MaxValue))
    assert(f1.getAs[Map[String, String]]("lower_bounds")("k") == "1")
    assert(f1.getAs[Map[String, String]]("upper_bounds")("k") == "5")
    assert(f1.getAs[Map[String, String]]("lower_bounds")("v") == "v1")
    assert(f1.getAs[Long]("record_count") == 5L)
  }

  // ----------------------------------------------------- maintenance

  test("compact resolves position deletes: touched files rewrite, " +
      "untouched files carry with their bounds, delete manifests drop, " +
      "contents unchanged") {
    val t = tmp("compact")
    IcebergLite.write(spark,
      (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1), t)
    IcebergLite.write(spark,
      (100L to 110L).map(i => (i, s"w$i")).toDF("k", "v").coalesce(1), t)
    // deletes touch ONLY the second file
    IcebergLite.deleteWhere(spark, t, col("k") >= 100L && col("k") % 2 === 0L)
    val before = IcebergLite.snapshotState(spark, t)
    assert(before.posDeleteFiles.nonEmpty)
    val untouched = before.dataFiles.map(_.path).toSet
    val expected = rows(IcebergLite.read(spark, t))
    IcebergLite.compact(spark, t)
    val after = IcebergLite.snapshotState(spark, t)
    assert(after.posDeleteFiles.isEmpty, "delete manifests must drop")
    assert(rows(IcebergLite.read(spark, t)) == expected)
    // the file holding keys 1-10 was untouched by deletes → carried
    val kId = after.meta.fieldIds("k")
    def lo(f: IcebergLite.FileEntry) = java.nio.ByteBuffer
      .wrap(f.lowerBounds(kId))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
    assert(after.dataFiles.exists(f =>
      untouched(f.path) && lo(f) == 1L), "untouched file must carry")
    assert(after.dataFiles.forall(_.lowerBounds.contains(kId)),
      "rewritten files must carry fresh bounds")
    // compacting a clean table is a no-op commit
    val v = IcebergLite.loadMeta(spark, t).version
    IcebergLite.compact(spark, t)
    assert(IcebergLite.loadMeta(spark, t).version == v)
  }

  test("compact binpacks small files when smallFileBytes is set: many " +
      "tiny commits collapse to few files, contents unchanged") {
    val t = tmp("binpack")
    (1L to 5L).foreach(i =>
      IcebergLite.write(spark, Seq((i, s"v$i")).toDF("k", "v").coalesce(1), t))
    assert(IcebergLite.snapshotState(spark, t).dataFiles.size == 5)
    val before = rows(IcebergLite.read(spark, t))
    IcebergLite.compact(spark, t, smallFileBytes = 64 * 1024 * 1024)
    val st = IcebergLite.snapshotState(spark, t)
    assert(st.dataFiles.size == 1, s"expected 1 packed file, " +
      s"got ${st.dataFiles.size}")
    assert(rows(IcebergLite.read(spark, t)) == before)
    // threshold smaller than every file → nothing rewrites
    val v = IcebergLite.loadMeta(spark, t).version
    IcebergLite.compact(spark, t, smallFileBytes = 1L)
    assert(IcebergLite.loadMeta(spark, t).version == v)
  }

  test("expireSnapshots trims history and physically deletes " +
      "unreferenced manifests and data files; current state intact") {
    val t = tmp("expire")
    IcebergLite.write(spark, Seq((1L, "a")).toDF("k", "v"), t)
    IcebergLite.write(spark, Seq((2L, "b")).toDF("k", "v"), t)
    IcebergLite.write(spark, Seq((3L, "c")).toDF("k", "v"), t, "overwrite")
    val old = IcebergLite.loadMeta(spark, t)
    assert(old.snapshots.size == 3)
    val deleted = IcebergLite.expireSnapshots(spark, t, keepLast = 1)
    assert(deleted > 0, "overwritten files + old manifests must go")
    val meta = IcebergLite.loadMeta(spark, t)
    assert(meta.snapshots.size == 1)
    assert(rows(IcebergLite.read(spark, t)) == Set((3L, "c")))
    // expired snapshots refuse loudly on time travel
    val gone = old.snapshots.head.snapshotId
    val err = intercept[IllegalArgumentException](
      IcebergLite.read(spark, t, Some(gone)))
    assert(err.getMessage.contains("expired") ||
      err.getMessage.contains("not in"))
    // nothing to expire → 0, no new metadata version
    val v = meta.version
    assert(IcebergLite.expireSnapshots(spark, t, keepLast = 5) == 0)
    assert(IcebergLite.loadMeta(spark, t).version == v)
  }

  test("identity-projection=always: a natively written partitioned " +
      "table reads identically with the tuple projected instead of " +
      "the file column (the foreign-migrated-table escape hatch)") {
    val t = tmp("proj_always")
    IcebergLite.write(spark,
      Seq((1L, "x", "a"), (2L, "y", "b"), (3L, "z", "a"))
        .toDF("k", "v", "p"), t, partitionBy = Seq("p"))
    def got(): Set[(Long, String, String)] = IcebergLite.read(spark, t)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet
    val plain = got()
    assert(plain == Set((1L, "x", "a"), (2L, "y", "b"), (3L, "z", "a")))
    IcebergLite.setTableProperties(spark, t,
      Map("graft.iceberg.identity-projection" -> "always"))
    assert(got() == plain,
      "tuple projection must agree with the file-borne column")
    assert(IcebergLite.read(spark, t,
      where = Some(org.apache.spark.sql.functions.col("p") === "a"))
      .count() == 2)
  }

  test("expire sweep is SCOPED to expired snapshots' references — an " +
      "in-flight staged file survives; removeOrphanFiles reclaims it " +
      "past the age guard") {
    val t = tmp("expire_scope")
    IcebergLite.write(spark, Seq((1L, "a")).toDF("k", "v"), t)
    IcebergLite.write(spark, Seq((2L, "b")).toDF("k", "v"), t, "overwrite")
    // simulate a CONCURRENT writer's freshly staged file under data/
    // (not referenced by any snapshot yet): expire must NOT touch it
    val inflight = new java.io.File(s"$t/data/inflight-not-committed.parquet")
    java.nio.file.Files.write(inflight.toPath, Array[Byte](1, 2, 3))
    // and an aborted staging dir at the root
    val aborted = new java.io.File(s"$t/stage_deadbeef/part-0.parquet")
    aborted.getParentFile.mkdirs()
    java.nio.file.Files.write(aborted.toPath, Array[Byte](4, 5))
    assert(IcebergLite.expireSnapshots(spark, t, keepLast = 1) > 0)
    assert(inflight.exists, "expire must not sweep unknown files")
    assert(aborted.exists)
    assert(rows(IcebergLite.read(spark, t)) == Set((2L, "b")))
    // fresh orphans survive the age guard…
    assert(IcebergLite.removeOrphanFiles(spark, t) == 0)
    assert(inflight.exists && aborted.exists)
    // …aged-out orphans are reclaimed, live data untouched
    inflight.setLastModified(System.currentTimeMillis - 5L * 3600 * 1000)
    aborted.setLastModified(System.currentTimeMillis - 5L * 3600 * 1000)
    assert(IcebergLite.removeOrphanFiles(spark, t,
      olderThanMillis = 3600 * 1000L) == 2)
    assert(!inflight.exists, "aged orphan must be reclaimed")
    assert(!aborted.getParentFile.exists, "emptied stage dir dropped")
    assert(rows(IcebergLite.read(spark, t)) == Set((2L, "b")))
  }

  // --------------------------------------------------- streaming sinks

  test("streaming append sink: the snapshot-summary txn watermark makes " +
      "batches exactly-once across stop/restart and skips retried ids") {
    val base = tmp("stream")
    val tbl = s"$base/tbl"; val ckpt = s"$base/ckpt"; val src = s"$base/src"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.mode("overwrite").parquet(src)
    def run(): Unit = {
      val stream = spark.readStream
        .schema(Seq((1L, "a")).toDF("k", "v").schema).parquet(src)
      val q = graft.sinks.Sinks.stream(stream, (batch, txn) => {
          IcebergLite.write(batch.sparkSession, batch, tbl, "append", txn = txn)
          ()
        }, org.apache.spark.sql.streaming.OutputMode.Append, ckpt, "app1",
        queryName = None)
      assert(q.awaitTermination(120000), "stream timed out")
    }
    run()
    assert(rows(IcebergLite.read(spark, tbl)) == Set((1L, "a"), (2L, "b")))
    // restart with more source data: only the new file lands
    Seq((3L, "c")).toDF("k", "v").write.mode("append").parquet(src)
    run()
    assert(rows(IcebergLite.read(spark, tbl)) ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(IcebergLite.read(spark, tbl).count() == 3)
    // a RETRIED batch id (foreachBatch redelivery) is skipped against
    // the summary high-water mark — no double append
    val hwm = IcebergLite.loadMeta(spark, tbl).snapshots
      .flatMap(_.summary.get("graft-txn-version")).map(_.toLong).max
    IcebergLite.write(spark, Seq((9L, "dup")).toDF("k", "v"), tbl,
      "append", txn = Some(("app1", hwm)))
    assert(IcebergLite.read(spark, tbl).count() == 3)
    // a NEW transaction version commits normally
    IcebergLite.write(spark, Seq((9L, "new")).toDF("k", "v"), tbl,
      "append", txn = Some(("app1", hwm + 1)))
    assert(IcebergLite.read(spark, tbl).count() == 4)
  }

  test("streaming upsert sink: CDC terminal images replace, terminal " +
      "deletes remove, retried batches skip — merge-on-read snapshots") {
    import graft.cdc.ChangeModel
    val base = tmp("supsert")
    val tbl = s"$base/tbl"; val src = s"$base/src"
    Seq((1L, "a", "insert", 1L), (2L, "b", "insert", 2L))
      .toDF("k", "v", ChangeModel.OpCol, ChangeModel.SeqCol)
      .write.mode("overwrite").parquet(src)
    def run(ck: String): Unit = {
      val stream = spark.readStream.schema(
        Seq((1L, "a", "insert", 1L))
          .toDF("k", "v", ChangeModel.OpCol, ChangeModel.SeqCol).schema)
        .parquet(src)
      val q = graft.sinks.Sinks.upsert(stream, Seq("k"),
        graft.sinks.Sinks.Iceberg(tbl), s"$base/$ck", appId = Some("up1"))
      assert(q.awaitTermination(120000), "stream timed out")
    }
    run("ck1")
    assert(rows(IcebergLite.read(spark, tbl)) == Set((1L, "a"), (2L, "b")))
    // second batch: update k=1, delete k=2, insert k=3
    Seq((1L, "A2", "insert", 3L), (2L, "b", "delete", 4L), (3L, "c", "insert", 5L))
      .toDF("k", "v", ChangeModel.OpCol, ChangeModel.SeqCol)
      .write.mode("append").parquet(src)
    run("ck1")
    assert(rows(IcebergLite.read(spark, tbl)) ==
      Set((1L, "A2"), (3L, "c")))
    // a fresh checkpoint REPLAYS batch 0 with the same app id: the
    // summary watermark already covers it → state unchanged
    run("ck_replay")
    assert(rows(IcebergLite.read(spark, tbl)) ==
      Set((1L, "A2"), (3L, "c")))
  }

  // -------------------------------------------------------------- CDC

  test("changedFileSets reads only files added since the from-snapshot") {
    val t = tmp("cdc")
    val s1 = IcebergLite.write(spark, Seq((1L, "a")).toDF("k", "v"), t)
    val s2 = IcebergLite.write(spark, Seq((2L, "b")).toDF("k", "v"), t)
    val (old, neu) = IcebergLite.changedFileSets(spark, t, s1, s2)
    assert(rows(old).isEmpty, "no files were removed")
    assert(rows(neu) == Set((2L, "b")))
  }

  // ------------------------------------------------------- concurrency

  test("concurrent metadata claim loses loudly (put-if-absent)") {
    val t = tmp("cc")
    IcebergLite.write(spark, Seq((1L, "a")).toDF("k", "v"), t)
    // another writer claims v2 first
    val out = fs(t).create(new Path(t, "metadata/v2.metadata.json"), false)
    out.write("{}".getBytes("UTF-8")); out.close()
    intercept[Exception] {
      IcebergLite.write(spark, Seq((2L, "b")).toDF("k", "v"), t)
    }
  }

  // ------------------------------------------------------- type bridge

  test("Iceberg→Spark type bridge covers the spec's primitive table " +
      "and rejects `time` loudly") {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    def ty(s: String) = IcebergLite.sparkType(m.readTree("\"" + s + "\""))
    assert(ty("boolean") == BooleanType)
    assert(ty("int") == IntegerType)
    assert(ty("long") == LongType)
    assert(ty("float") == FloatType)
    assert(ty("double") == DoubleType)
    assert(ty("date") == DateType)
    assert(ty("timestamp") == TimestampNTZType)
    assert(ty("timestamptz") == TimestampType)
    assert(ty("string") == StringType)
    assert(ty("uuid") == StringType)
    assert(ty("binary") == BinaryType)
    assert(ty("fixed[16]") == BinaryType)
    assert(ty("decimal(10, 2)") == DecimalType(10, 2))
    assert(intercept[IllegalArgumentException](ty("time"))
      .getMessage.contains("time"))
    val struct = m.readTree(
      """{"type":"struct","fields":[
        |{"id":1,"name":"a","required":true,"type":"long"},
        |{"id":2,"name":"b","required":false,"type":
        |  {"type":"list","element-id":3,"element":"string",
        |   "element-required":false}},
        |{"id":4,"name":"c","required":false,"type":
        |  {"type":"map","key-id":5,"key":"string","value-id":6,
        |   "value":"double","value-required":true}}]}""".stripMargin)
    assert(IcebergLite.sparkType(struct) == StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("b", ArrayType(StringType, containsNull = true)),
      StructField("c", MapType(StringType, DoubleType,
        valueContainsNull = false)))))
  }

  test("writer round-trips a wide type matrix through real commits") {
    val t = tmp("types")
    val df = spark.sql(
      """SELECT CAST(1 AS BIGINT) k, CAST(2 AS INT) i, true b,
        |  CAST(1.5 AS DOUBLE) d, CAST(2.5 AS FLOAT) f,
        |  CAST('x' AS STRING) s, CAST('2024-03-01' AS DATE) dt,
        |  TIMESTAMP'2024-03-01 10:00:00' ts,
        |  CAST(12.34 AS DECIMAL(10,2)) dec,
        |  CAST(X'0AFF' AS BINARY) bin,
        |  array(1L, 2L) arr, map('a', 1L) mp,
        |  named_struct('x', 1L, 'y', 'z') st""".stripMargin)
    IcebergLite.write(spark, df, t)
    val got = IcebergLite.read(spark, t)
    // parquet scans surface everything nullable; simpleString compares
    // names + types without nullability
    assert(got.schema.simpleString == df.schema.simpleString)
    assert(got.count() == 1)
    val r = got.collect().head
    assert(r.getAs[Long]("k") == 1L)
    assert(r.getAs[java.math.BigDecimal]("dec")
      .compareTo(new java.math.BigDecimal("12.34")) == 0)
    assert(r.getAs[scala.collection.Seq[Long]]("arr").toSeq == Seq(1L, 2L))
  }

  // ------------------------------------- hand-crafted tables (spec text)

  /** Write one parquet data file, return its absolute path. */
  private def dataFile(df: DataFrame, table: String, name: String): String = {
    val stage = table + "_stage"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val f = fs(table).listStatus(new Path(stage))
      .map(_.getPath).find(_.getName.startsWith("part-")).get
    fs(table).mkdirs(new Path(table, "data"))
    val tgt = new Path(new Path(table, "data"), name)
    assert(fs(table).rename(f, tgt))
    fs(table).delete(new Path(stage), true)
    tgt.toString
  }

  private def avroFile(path: String, schema: AvroSchema,
      recs: Seq[GenericRecord]): Unit = {
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    val out = fs(path).create(new Path(path), true)
    w.create(schema, out)
    recs.foreach(w.append)
    w.close()
  }

  // a v1 manifest_entry schema exactly as the spec's v1 appendix names
  // it: no content/sequence fields, v1 stats names
  private val v1EntrySchema = new AvroSchema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"snapshot_id","type":"long"},
      |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
      |{"name":"file_path","type":"string"},
      |{"name":"file_format","type":"string"},
      |{"name":"partition","type":{"type":"record","name":"r102","fields":[]}},
      |{"name":"record_count","type":"long"},
      |{"name":"file_size_in_bytes","type":"long"}
      |]}}]}""".stripMargin)

  private def v1Entry(status: Int, path: String, n: Long,
      snap: Long = 77L): GenericRecord = {
    val d = new GenericData.Record(v1EntrySchema.getField("data_file").schema())
    d.put("file_path", path)
    d.put("file_format", "parquet")
    d.put("partition",
      new GenericData.Record(d.getSchema.getField("partition").schema()))
    d.put("record_count", n)
    d.put("file_size_in_bytes", 1L)
    val e = new GenericData.Record(v1EntrySchema)
    e.put("status", status)
    e.put("snapshot_id", snap)
    e.put("data_file", d)
    e
  }

  test("reads a hand-crafted FORMAT-VERSION 1 table: top-level `schema`, " +
      "inline snapshot `manifests`, v1 manifest entries, DELETED status " +
      "excluded, no version-hint (metadata scan fallback)") {
    val t = tmp("v1")
    val f1 = dataFile(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t, "f1.parquet")
    val f2 = dataFile(Seq((3L, "c")).toDF("k", "v"), t, "f2.parquet")
    val m1 = s"$t/metadata/m1.avro"
    fs(t).mkdirs(new Path(t, "metadata"))
    // f2 appears with status=2 (DELETED) → must not be read
    avroFile(m1, v1EntrySchema,
      Seq(v1Entry(1, f1, 2L), v1Entry(2, f2, 1L)))
    val metaJson =
      s"""{"format-version":1,"table-uuid":"u1","location":"$t",
         |"last-updated-ms":1,"last-column-id":2,
         |"schema":{"type":"struct","fields":[
         |  {"id":1,"name":"k","required":false,"type":"long"},
         |  {"id":2,"name":"v","required":false,"type":"string"}]},
         |"partition-spec":[],"properties":{},
         |"current-snapshot-id":77,
         |"snapshots":[{"snapshot-id":77,"timestamp-ms":1,
         |  "manifests":["$m1"]}]}""".stripMargin
    val out = fs(t).create(new Path(t, "metadata/v1.metadata.json"), true)
    out.write(metaJson.getBytes("UTF-8")); out.close()
    // no version-hint.text on purpose — the scan finds v1
    assert(rows(IcebergLite.read(spark, t)) == Set((1L, "a"), (2L, "b")))
  }

  test("strict field-id resolution: a FOREIGN table whose parquet " +
      "carries physical column names (UniForm col-<uuid> shape) with " +
      "field ids reads correctly — no schema history names the files, " +
      "so the name-based scan alone would surface silent nulls; " +
      "id-less files resolve through schema.name-mapping.default") {
    def md(id: Long) = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("parquet.field.id", id).build()
    // --- leg 1: field-id-stamped files under physical names
    val t = tmp("foreign_ids")
    val phys = Seq((1L, "a"), (2L, "b")).toDF("x", "y").select(
      col("x").as("col-9f3a", md(1)), col("y").as("col-77bc", md(2)))
    val f1 = dataFile(phys, t, "f1.parquet")
    val m1 = s"$t/metadata/m1.avro"
    fs(t).mkdirs(new Path(t, "metadata"))
    avroFile(m1, v1EntrySchema, Seq(v1Entry(1, f1, 2L)))
    def metaJson(table: String, manifest: String,
        props: String): String =
      s"""{"format-version":1,"table-uuid":"u1","location":"$table",
         |"last-updated-ms":1,"last-column-id":2,
         |"schema":{"type":"struct","fields":[
         |  {"id":1,"name":"k","required":false,"type":"long"},
         |  {"id":2,"name":"v","required":false,"type":"string"}]},
         |"partition-spec":[],"properties":{$props},
         |"current-snapshot-id":77,
         |"snapshots":[{"snapshot-id":77,"timestamp-ms":1,
         |  "manifests":["$manifest"]}]}""".stripMargin
    val out = fs(t).create(new Path(t, "metadata/v1.metadata.json"), true)
    out.write(metaJson(t, m1, "").getBytes("UTF-8")); out.close()
    val got = IcebergLite.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "b")),
      s"field-id resolution must recover the physical columns: $got")
    // --- leg 2: NO ids in the files, names differ, name-mapping maps
    val tn = tmp("foreign_nm")
    val old = Seq((3L, "c"), (4L, "d")).toDF("old_k", "old_v")
    val f2 = dataFile(old, tn, "f1.parquet")
    val m2 = s"$tn/metadata/m1.avro"
    fs(tn).mkdirs(new Path(tn, "metadata"))
    avroFile(m2, v1EntrySchema, Seq(v1Entry(1, f2, 2L)))
    val nm = """[{\"field-id\":1,\"names\":[\"old_k\"]},""" +
      """{\"field-id\":2,\"names\":[\"old_v\"]}]"""
    val out2 = fs(tn).create(new Path(tn, "metadata/v1.metadata.json"), true)
    out2.write(metaJson(tn, m2,
      s""""schema.name-mapping.default":"$nm"""").getBytes("UTF-8"))
    out2.close()
    val got2 = IcebergLite.read(spark, tn).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got2 == Set((3L, "c"), (4L, "d")),
      s"name-mapping resolution must recover the renamed columns: $got2")
    // --- leg 3 (round 18): a MIXED table — one snapshot added
    // graft-NAMED files, another added MANY foreign physical-named
    // files with ids, all under the same (empty-rename) group.
    // Per-ADDED-SNAPSHOT probes keep the graft files on the fast path
    // while the foreign snapshot's files pay bounded-PARALLEL per-file
    // resolution: before round 18 ONE representative probed for the
    // whole group, so whichever kind `head` wasn't could silently
    // null out, and the mismatch path resolved serially on the driver
    val tx = tmp("foreign_mixed")
    fs(tx).mkdirs(new Path(tx, "metadata"))
    val gf = dataFile(Seq((10L, "g")).toDF("k", "v"), tx, "g1.parquet")
    val mg = s"$tx/metadata/mg.avro"
    avroFile(mg, v1EntrySchema, Seq(v1Entry(1, gf, 1L)))
    val foreignFiles = (0 until 24).map { i =>
      dataFile(Seq((100L + i, s"f$i")).toDF("x", "y").select(
        col("x").as("col-aa", md(1)), col("y").as("col-bb", md(2))),
        tx, s"f$i.parquet")
    }
    val mf = s"$tx/metadata/mf.avro"
    avroFile(mf, v1EntrySchema,
      foreignFiles.map(p => v1Entry(1, p, 1L, snap = 78L)))
    val out3 = fs(tx).create(new Path(tx, "metadata/v1.metadata.json"), true)
    out3.write(
      s"""{"format-version":1,"table-uuid":"u3","location":"$tx",
         |"last-updated-ms":1,"last-column-id":2,
         |"schema":{"type":"struct","fields":[
         |  {"id":1,"name":"k","required":false,"type":"long"},
         |  {"id":2,"name":"v","required":false,"type":"string"}]},
         |"partition-spec":[],"properties":{},
         |"current-snapshot-id":78,
         |"snapshots":[
         |  {"snapshot-id":77,"timestamp-ms":1,"manifests":["$mg"]},
         |  {"snapshot-id":78,"timestamp-ms":2,
         |   "manifests":["$mg","$mf"]}]}""".stripMargin.getBytes("UTF-8"))
    out3.close()
    val got3 = IcebergLite.read(spark, tx).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got3 == (Set((10L, "g")) ++
      (0 until 24).map(i => (100L + i, s"f$i"))),
      s"mixed graft+foreign snapshots must BOTH resolve: $got3")
  }

  test("equality deletes: deleteByKeys retracts with ZERO table reads, " +
      "later re-inserts stay visible (sequence rule), deleteWhere " +
      "composes, compact resolves them") {
    val t = tmp("eq")
    IcebergLite.write(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v"), t)
    IcebergLite.deleteByKeys(spark, t,
      Seq(Tuple1(2L), Tuple1(4L)).toDF("k"), Seq("k"))
    val st = IcebergLite.snapshotState(spark, t)
    assert(st.eqDeleteFiles.nonEmpty &&
      st.eqDeleteFiles.head.equalityIds == Seq(st.meta.fieldIds("k")))
    assert(rows(IcebergLite.read(spark, t)) == Set((1L, "a"), (3L, "c")))
    // a LATER append of a deleted key is visible: the delete's sequence
    // number only suppresses data files with SMALLER sequence numbers
    IcebergLite.write(spark, Seq((2L, "back")).toDF("k", "v"), t)
    assert(rows(IcebergLite.read(spark, t)) ==
      Set((1L, "a"), (3L, "c"), (2L, "back")))
    // position deletes compose on top of equality deletes
    IcebergLite.deleteWhere(spark, t, col("k") === 3L)
    assert(rows(IcebergLite.read(spark, t)) ==
      Set((1L, "a"), (2L, "back")))
    // multi-column equality deletes match on the full tuple
    IcebergLite.deleteByKeys(spark, t,
      Seq((1L, "WRONG")).toDF("k", "v"), Seq("k", "v"))
    assert(rows(IcebergLite.read(spark, t)) ==
      Set((1L, "a"), (2L, "back")), "non-matching tuple deletes nothing")
    IcebergLite.deleteByKeys(spark, t,
      Seq((1L, "a")).toDF("k", "v"), Seq("k", "v"))
    assert(rows(IcebergLite.read(spark, t)) == Set((2L, "back")))
    // compact resolves BOTH delete kinds; contents unchanged
    IcebergLite.compact(spark, t)
    val after = IcebergLite.snapshotState(spark, t)
    assert(after.eqDeleteFiles.isEmpty && after.posDeleteFiles.isEmpty)
    assert(rows(IcebergLite.read(spark, t)) == Set((2L, "back")))
  }

  test("position-delete scan PLAN: a small delete side broadcasts — " +
      "the anti join probes the data scan in place with no shuffle of " +
      "the data side (parquet and ORC alike); disabling the broadcast " +
      "threshold restores the planner's shuffled anti join") {
    def planOf(t: String): String = {
      val df = IcebergLite.read(spark, t)
      df.collect() // settle AQE so the executed plan is final
      df.queryExecution.executedPlan.toString
    }
    for (fmt <- Seq("parquet", "orc")) {
      val t = tmp(s"posdel_plan_$fmt")
      IcebergLite.write(spark,
        (1L to 200L).map(i => (i, s"v$i")).toDF("k", "v"), t,
        format = Some(fmt))
      IcebergLite.deleteWhere(spark, t, col("k") % 10 === 0L)
      assert(IcebergLite.read(spark, t).count() == 180, fmt)
      val plan = planOf(t)
      assert(plan.contains("BroadcastHashJoin") &&
        plan.contains("LeftAnti"),
        s"$fmt: small position deletes must broadcast-anti-join:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$fmt: the data side must not shuffle for a KB delete list:\n" +
          plan)
    }
    // threshold off → the hint is withheld and the planner owns the
    // strategy (the billion-position guard: recorded delete bytes
    // above the threshold must never force a driver-side broadcast)
    val t = tmp("posdel_plan_thr")
    IcebergLite.write(spark,
      (1L to 200L).map(i => (i, s"v$i")).toDF("k", "v"), t)
    IcebergLite.deleteWhere(spark, t, col("k") % 10 === 0L)
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = planOf(t)
      assert(!plan.contains("BroadcastHashJoin"),
        s"threshold -1 must withhold the broadcast hint:\n$plan")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("path normalization equates file:///, file:/ and bare forms") {
    assert(IcebergLite.normalizePathStr("file:///tmp/a.parquet") ==
      "/tmp/a.parquet")
    assert(IcebergLite.normalizePathStr("file:/tmp/a.parquet") ==
      "/tmp/a.parquet")
    assert(IcebergLite.normalizePathStr("/tmp/a.parquet") ==
      "/tmp/a.parquet")
    assert(IcebergLite.normalizePathStr("s3://bucket/a.parquet") ==
      "/bucket/a.parquet")
  }

  test("a table whose location moved on disk still reads (rebase " +
      "against the actual root)") {
    val t = tmp("move_src")
    IcebergLite.write(spark, Seq((1L, "a")).toDF("k", "v"), t)
    val dst = tmp("move_dst")
    assert(fs(t).rename(new Path(t), new Path(dst)))
    assert(rows(IcebergLite.read(spark, dst)) == Set((1L, "a")))
  }

  test("expireSnapshots keeps equality-delete files referenced by kept " +
      "snapshots — retracted rows must not resurrect after expiry") {
    val t = tmp("expire_eq")
    IcebergLite.write(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), t)
    IcebergLite.deleteByKeys(spark, t, Seq(Tuple1(2L)).toDF("k"), Seq("k"))
    IcebergLite.write(spark, Seq((4L, "d")).toDF("k", "v"), t)
    assert(rows(IcebergLite.read(spark, t)) ==
      Set((1L, "a"), (3L, "c"), (4L, "d")))
    // keepLast=2 expires the original append snapshot; the kept delete
    // + append snapshots still REFERENCE the equality-delete file — the
    // data/ sweep must leave it on disk
    IcebergLite.expireSnapshots(spark, t, keepLast = 2)
    val st = IcebergLite.snapshotState(spark, t)
    assert(st.eqDeleteFiles.nonEmpty, "eq-delete file gone from metadata")
    st.eqDeleteFiles.foreach(f => assert(
      fs(t).exists(new Path(f.path)),
      s"expire physically deleted live equality-delete file ${f.path}"))
    assert(rows(IcebergLite.read(spark, t)) ==
      Set((1L, "a"), (3L, "c"), (4L, "d")),
      "retracted row resurrected after expireSnapshots")
  }

  test("string bounds compare in UTF-8 byte order, not UTF-16 code " +
      "units (supplementary chars sort above U+E000..U+FFFF)") {
    // U+F000 (UTF-8: EF 80 80) < U+10000 (UTF-8: F0 90 80 80) in byte
    // order, but U+F000 > the D800/DC00 surrogate pair by
    // String.compareTo — the wrong order would prune a file whose
    // max IS the matching key
    val pua = "\uF000"
    val supp = new String(Character.toChars(0x10000))
    assert(pua.compareTo(supp) > 0, "premise: UTF-16 order disagrees")
    val cmp = IcebergLite.compareToBound(
      org.apache.spark.sql.types.StringType, pua,
      supp.getBytes("UTF-8"))
    assert(cmp.exists(_ < 0), s"expected UTF-8 byte order, got $cmp")
    // prefix relationship: shorter string sorts first
    assert(IcebergLite.compareToBound(
      org.apache.spark.sql.types.StringType, "ab",
      "abc".getBytes("UTF-8")).exists(_ < 0))
    assert(IcebergLite.compareToBound(
      org.apache.spark.sql.types.StringType, "abc",
      "abc".getBytes("UTF-8")).contains(0))
  }
  test("rewrite rebase: a compact racing a concurrent APPEND — both " +
      "commit, no rows lost; a compact racing a DELETE refuses") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val t = tmp("cmp_race")
    (1L to 3L).foreach(i =>
      IcebergLite.write(spark, Seq((i, s"v$i")).toDF("k", "v"), t))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val fApp = Future {
      barrier.await()
      IcebergLite.write(spark, Seq((9L, "app")).toDF("k", "v"), t)
    }
    val fCmp = Future {
      barrier.await()
      IcebergLite.compact(spark, t, smallFileBytes = 1L << 20)
    }
    Await.result(fApp, 120.seconds)
    Await.result(fCmp, 120.seconds)
    val got = IcebergLite.read(spark, t).as[(Long, String)]
      .collect().toSet
    assert(got == Set((1L, "v1"), (2L, "v2"), (3L, "v3"), (9L, "app")),
      got.toString)
    // both commits present in the snapshot history
    val ops = IcebergLite.loadMeta(spark, t).snapshots
      .flatMap(_.summary.get("operation"))
    assert(ops.count(_ == "replace") == 1 &&
      ops.count(_ == "append") == 4, ops.toString)
  }

  test("foreign metadata fields SURVIVE native commits: properties, " +
      "refs (main advances, tags kept), sort orders, statistics, " +
      "metadata-log; expire keeps ref'd snapshots; snapshotForRef") {
    val t = tmp("foreign_meta") + "/tbl"
    val s1 = IcebergLite.write(spark, Seq((1L, "a")).toDF("k", "v"), t)
    // decorate the CURRENT metadata like a foreign writer would
    val meta1 = IcebergLite.loadMeta(spark, t)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val mPath = new Path(t, s"metadata/v${meta1.version}.metadata.json")
    val node = {
      val in = fs(t).open(mPath)
      try mapper.readTree(in.readAllBytes())
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      finally in.close()
    }
    node.set[com.fasterxml.jackson.databind.JsonNode]("properties",
      mapper.readTree(
        """{"commit.retry.num-retries":"5","owner":"teamx"}"""))
    node.set[com.fasterxml.jackson.databind.JsonNode]("refs",
      mapper.readTree(s"""{"main":{"snapshot-id":$s1,"type":"branch"},
        |"rel-1":{"snapshot-id":$s1,"type":"tag"}}""".stripMargin))
    node.set[com.fasterxml.jackson.databind.JsonNode]("sort-orders",
      mapper.readTree("""[{"order-id":1,"fields":[{"transform":"identity",
        |"source-id":1,"direction":"asc",
        |"null-order":"nulls-first"}]}]""".stripMargin))
    node.put("default-sort-order-id", 1)
    node.set[com.fasterxml.jackson.databind.JsonNode]("statistics",
      mapper.readTree(s"""[{"snapshot-id":$s1,
        |"statistics-path":"$t/metadata/stats.puffin",
        |"file-size-in-bytes":10,"file-footer-size-in-bytes":4,
        |"blob-metadata":[]}]""".stripMargin))
    node.set[com.fasterxml.jackson.databind.JsonNode]("metadata-log",
      mapper.readTree(s"""[{"timestamp-ms":1,
        |"metadata-file":"$t/metadata/v0.metadata.json"}]""".stripMargin))
    val out = fs(t).create(mPath, true)
    try out.write(mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsBytes(node))
    finally out.close()
    // a native append must RESTATE all of it, advancing only refs.main
    val s2 = IcebergLite.write(spark, Seq((2L, "b")).toDF("k", "v"), t)
    val meta2 = IcebergLite.loadMeta(spark, t)
    val n2 = mapper.readTree(meta2.refsJson.get)
    assert(n2.get("main").get("snapshot-id").asLong == s2)
    assert(n2.get("rel-1").get("snapshot-id").asLong == s1 &&
      n2.get("rel-1").get("type").asText == "tag")
    val props2 = mapper.readTree(meta2.propertiesJson.get)
    assert(props2.get("commit.retry.num-retries").asText == "5" &&
      props2.get("owner").asText == "teamx")
    assert(meta2.defaultSortOrderId == 1 &&
      meta2.sortOrdersJson.exists(_.contains("\"order-id\":1")),
      meta2.sortOrdersJson.toString)
    assert(meta2.statisticsJson.nonEmpty)
    // metadata-log: the foreign entry survives + the prior file appends
    assert(meta2.metadataLogJson.size == 2 &&
      meta2.metadataLogJson.last.contains(s"v${meta1.version}.metadata"),
      meta2.metadataLogJson.toString)
    // ref resolution + time travel by tag
    assert(IcebergLite.snapshotForRef(spark, t, "rel-1") == s1)
    assert(IcebergLite.read(spark, t, Some(s1)).count() == 1)
    val nf = intercept[IllegalArgumentException](
      IcebergLite.snapshotForRef(spark, t, "nope"))
    assert(nf.getMessage.contains("nope"), nf.getMessage)
    // expire keeps the TAG's snapshot even past keep_last
    IcebergLite.write(spark, Seq((3L, "c")).toDF("k", "v"), t)
    IcebergLite.expireSnapshots(spark, t, keepLast = 1)
    val after = IcebergLite.loadMeta(spark, t)
    assert(after.snapshots.exists(_.snapshotId == s1),
      "expire dropped a tag-referenced snapshot")
    assert(IcebergLite.read(spark, t, Some(s1)).count() == 1)
    assert(IcebergLite.read(spark, t).count() == 3)
  }

  test("setTableProperties: the catalog's updateProperties — merged " +
      "properties, NO snapshot, everything else verbatim; later " +
      "commits keep carrying them") {
    val t = tmp("set_props") + "/tbl"
    IcebergLite.write(spark, Seq((1L, "a")).toDF("k", "v"), t)
    val before = IcebergLite.loadMeta(spark, t)
    IcebergLite.setTableProperties(spark, t,
      Map("commit.retry.num-retries" -> "3"))
    IcebergLite.setTableProperties(spark, t, Map("owner" -> "teamy"))
    val meta = IcebergLite.loadMeta(spark, t)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val pn = mapper.readTree(meta.propertiesJson.get)
    assert(pn.get("commit.retry.num-retries").asText == "3" &&
      pn.get("owner").asText == "teamy", meta.propertiesJson.toString)
    assert(meta.snapshots.size == before.snapshots.size,
      "property update must not create a snapshot")
    assert(meta.lastSequenceNumber == before.lastSequenceNumber)
    assert(rows(IcebergLite.read(spark, t)) == Set((1L, "a")))
    // a data commit after the update RESTATES the merged properties
    IcebergLite.write(spark, Seq((2L, "b")).toDF("k", "v"), t)
    val after = IcebergLite.loadMeta(spark, t)
    val pn2 = mapper.readTree(after.propertiesJson.get)
    assert(pn2.get("owner").asText == "teamy", after.propertiesJson.toString)
    assert(rows(IcebergLite.read(spark, t)) == Set((1L, "a"), (2L, "b")))
  }

  test("two concurrent FIRST writes to a nonexistent table: same-schema " +
      "racers both commit; a different-schema loser refuses instead of " +
      "silently merging two creations") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // same schema: whoever loses the v1 claim rebases and appends
    val t1 = tmp("race_create_same") + "/tbl"
    val b1 = new java.util.concurrent.CyclicBarrier(2)
    val fa = Future { b1.await()
      IcebergLite.write(spark, Seq((1L, "a")).toDF("k", "v"), t1) }
    val fb = Future { b1.await()
      IcebergLite.write(spark, Seq((2L, "b")).toDF("k", "v"), t1) }
    Await.result(fa, 120.seconds); Await.result(fb, 120.seconds)
    assert(rows(IcebergLite.read(spark, t1)) ==
      Set((1L, "a"), (2L, "b")))
    // different schema: EXACTLY one creation may win; the loser must
    // refuse loudly (rebase-refusal or schema-mismatch, depending on
    // interleaving) — never a silent two-schema merge
    val t2 = tmp("race_create_diff") + "/tbl"
    val b2 = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    def attempt(df: DataFrame): Future[Unit] = Future {
      b2.await()
      try { IcebergLite.write(spark, df, t2); () }
      catch { case e: Throwable => errs.add(e); () }
    }
    val fc = attempt(Seq((1L, "a")).toDF("k", "v"))
    val fd = attempt(Seq((1L, 2L, 3L)).toDF("x", "y", "z"))
    Await.result(fc, 120.seconds); Await.result(fd, 120.seconds)
    assert(errs.size == 1,
      s"expected exactly one refused creation, got ${errs.size}: $errs")
    val msg = errs.peek().getMessage
    assert(msg.contains("schema"), msg)
    // the surviving table carries ONE creation's shape and rows
    val meta = IcebergLite.loadMeta(spark, t2)
    val n = IcebergLite.read(spark, t2).count()
    assert(n == 1L, s"winner's table should hold 1 row, got $n")
    assert(meta.schema.fieldNames.toSeq == Seq("k", "v") ||
      meta.schema.fieldNames.toSeq == Seq("x", "y", "z"))
  }

  // ------------------------------------------- ORC / AVRO data files

  private def formatsOf(t: String): Set[String] =
    IcebergLite.filesDf(spark, t).filter(col("content") === "data")
      .select("file_format").as[String].collect().toSet

  test("ORC data files: creation stamps write.format.default, appends " +
      "follow it, reads scan through Spark's ORC source") {
    val t = tmp("orc_rt")
    IcebergLite.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t,
      format = Some("orc"))
    IcebergLite.write(spark, Seq((3L, "c")).toDF("k", "v"), t) // inherits
    assert(rows(IcebergLite.read(spark, t)) ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(formatsOf(t) == Set("ORC"))
    val meta = IcebergLite.loadMeta(spark, t)
    assert(IcebergLite.tableProperties(meta)
      .get("write.format.default").contains("orc"))
  }

  test("ORC partitioned writes: footer statistics recover identity " +
      "partition values; partition pruning and bounds survive") {
    val t = tmp("orc_part")
    val df = Seq((1L, "east", "a"), (2L, "east", "b"), (3L, "west", "c"))
      .toDF("k", "region", "v")
    IcebergLite.write(spark, df, t, partitionBy = Seq("region"),
      format = Some("orc"))
    val got = IcebergLite.read(spark, t,
      where = Some(col("region") === "east"))
    assert(got.select("k").as[Long].collect().toSet == Set(1L, 2L))
    // per-file column bounds came from the ORC footers
    val files = IcebergLite.filesDf(spark, t)
      .filter(col("content") === "data")
      .select("lower_bounds").as[Map[String, String]].collect()
    assert(files.nonEmpty && files.forall(_.contains("k")))
  }

  test("ORC mutations: equality deletes, position deletes with EXACT " +
      "row ordinals from the orc-core row reader, and upsert all work") {
    val t = tmp("orc_mut")
    IcebergLite.write(spark,
      (1L to 50L).map(i => (i, s"v$i")).toDF("k", "v"), t,
      format = Some("orc"))
    IcebergLite.deleteByKeys(spark, t, Seq(2L).toDF("k"), Seq("k"))
    assert(IcebergLite.read(spark, t).count() == 49L)
    // position delete against ORC data files: exact ordinals staged
    IcebergLite.deleteWhere(spark, t, col("k") % 10 === 1L)
    val after = IcebergLite.read(spark, t)
    assert(after.count() == 44L)
    assert(after.filter(col("k") % 10 === 1L).count() == 0L)
    assert(after.filter(col("k") === 2L).count() == 0L,
      "the earlier equality delete must still apply")
    // merge on an ORC table: replaced keys suppress by position
    IcebergLite.upsert(spark,
      Seq((3L, "V3"), (200L, "V200")).toDF("k", "v"), t, Seq("k"))
    val merged = IcebergLite.read(spark, t)
    assert(merged.count() == 45L)
    assert(rows(merged.filter(col("k").isin(3L, 200L))) ==
      Set((3L, "V3"), (200L, "V200")))
    assert(formatsOf(t) == Set("ORC"))
  }

  test("avro data files: typed round trip (int/long/float/double/" +
      "string/date/timestamp/bool/binary/decimal), field-id props in " +
      "the container schema") {
    val t = tmp("avro_rt")
    val df = spark.createDataFrame(
      java.util.List.of(
        org.apache.spark.sql.Row(1, 10L, 1.5f, 2.5d, "x",
          java.sql.Date.valueOf("2026-01-02"),
          java.sql.Timestamp.valueOf("2026-01-02 03:04:05.123456"),
          true, Array[Byte](1, 2), new java.math.BigDecimal("12.340")),
        org.apache.spark.sql.Row(2, 20L, -1.5f, -2.5d, null,
          null, null, false, null, null)),
      StructType(Seq(
        StructField("i", IntegerType), StructField("l", LongType),
        StructField("f", FloatType), StructField("d", DoubleType),
        StructField("s", StringType), StructField("dt", DateType),
        StructField("ts", TimestampType), StructField("b", BooleanType),
        StructField("bin", BinaryType),
        StructField("dec", DecimalType(10, 3)))))
    IcebergLite.write(spark, df, t, format = Some("avro"))
    assert(formatsOf(t) == Set("AVRO"))
    val got = IcebergLite.read(spark, t).orderBy("i").collect()
    assert(got.length == 2)
    val r0 = got(0)
    assert(r0.getInt(0) == 1 && r0.getLong(1) == 10L &&
      r0.getFloat(2) == 1.5f && r0.getDouble(3) == 2.5d &&
      r0.getString(4) == "x" &&
      r0.getDate(5) == java.sql.Date.valueOf("2026-01-02") &&
      r0.getTimestamp(6) ==
        java.sql.Timestamp.valueOf("2026-01-02 03:04:05.123456") &&
      r0.getBoolean(7) &&
      r0.getAs[Array[Byte]](8).toSeq == Seq[Byte](1, 2) &&
      r0.getDecimal(9).compareTo(new java.math.BigDecimal("12.340")) == 0)
    assert(got(1).isNullAt(4) && got(1).isNullAt(5) && got(1).isNullAt(9))
    // the container's writer schema carries the spec's field-id props
    val dataFile = IcebergLite.filesDf(spark, t)
      .filter(col("content") === "data")
      .select("file_path").as[String].head()
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dataFile.stripPrefix("file:")))
    val schemaJson = graft.sources.AvroFiles.containerSchemaJson(bytes)
    assert(schemaJson.contains("field-id"), schemaJson)
    assert(schemaJson.contains("adjust-to-utc"), schemaJson)
  }

  test("avro data files carry EXACT row ordinals: deleteWhere stages " +
      "position deletes that apply; upsert merges on an avro table") {
    val t = tmp("avro_mut")
    IcebergLite.write(spark,
      (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v"), t,
      format = Some("avro"))
    IcebergLite.deleteWhere(spark, t, col("k") % 10 === 0L)
    val after = IcebergLite.read(spark, t)
    assert(after.count() == 90L)
    assert(after.filter(col("k") % 10 === 0L).count() == 0L)
    // merge: replaced keys suppress by position, batch lands as avro
    IcebergLite.upsert(spark,
      Seq((1L, "V1"), (200L, "V200")).toDF("k", "v"), t, Seq("k"))
    val merged = IcebergLite.read(spark, t)
    assert(merged.count() == 91L)
    assert(rows(merged.filter(col("k").isin(1L, 200L))) ==
      Set((1L, "V1"), (200L, "V200")))
    assert(formatsOf(t) == Set("AVRO"))
  }

  test("avro schema evolution: rename is metadata-only — historical " +
      "names resolve per file; added columns read null from old files") {
    val t = tmp("avro_evo")
    IcebergLite.write(spark, Seq((1L, "a")).toDF("k", "v"), t,
      format = Some("avro"))
    IcebergLite.renameColumn(spark, t, "k", "id")
    IcebergLite.write(spark,
      Seq((2L, "b", "x")).toDF("id", "v", "extra"), t)
    val got = IcebergLite.read(spark, t)
    assert(got.schema.fieldNames.toSeq == Seq("id", "v", "extra"))
    assert(got.orderBy("id").collect().map(r =>
        (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSeq ==
      Seq((1L, "a", None), (2L, "b", Some("x"))))
  }

  test("mixed-format table: parquet + orc + avro files in one snapshot " +
      "scan as one union; compact rewrites to the table default and " +
      "RESTATES carried formats") {
    val t = tmp("mixed")
    IcebergLite.write(spark, Seq((1L, "p")).toDF("k", "v"), t) // parquet
    IcebergLite.write(spark, Seq((2L, "o")).toDF("k", "v"), t,
      format = Some("orc"))
    IcebergLite.write(spark, Seq((3L, "a")).toDF("k", "v"), t,
      format = Some("avro"))
    assert(rows(IcebergLite.read(spark, t)) ==
      Set((1L, "p"), (2L, "o"), (3L, "a")))
    assert(formatsOf(t) == Set("PARQUET", "ORC", "AVRO"))
    // a delete touching only the avro file leaves parquet/orc CARRIED
    // with their recorded formats, and rewrites resolve to the default
    IcebergLite.deleteWhere(spark, t, col("k") === 3L)
    IcebergLite.compact(spark, t)
    assert(rows(IcebergLite.read(spark, t)) == Set((1L, "p"), (2L, "o")))
    val fmts = IcebergLite.filesDf(spark, t)
      .filter(col("content") === "data")
      .select("file_format").as[String].collect().toSeq
    assert(fmts.contains("ORC") && fmts.contains("PARQUET"), fmts)
  }

  test("rollbackTo: metadata-only — current snapshot and main ref " +
      "repoint, history survives, rolling forward again works, " +
      "unknown/expired snapshots refuse") {
    val t = tmp("rollback")
    val s1 = IcebergLite.write(spark, Seq((1L, "a")).toDF("k", "v"), t)
    val s2 = IcebergLite.write(spark, Seq((2L, "b")).toDF("k", "v"), t)
    assert(rows(IcebergLite.read(spark, t)) == Set((1L, "a"), (2L, "b")))
    IcebergLite.rollbackTo(spark, t, s1)
    assert(rows(IcebergLite.read(spark, t)) == Set((1L, "a")))
    val meta = IcebergLite.loadMeta(spark, t)
    assert(meta.snapshots.size == 2, "history must survive a rollback")
    assert(meta.currentSnapshotId.contains(s1))
    // a new append lands on TOP of the rolled-back state
    IcebergLite.write(spark, Seq((3L, "c")).toDF("k", "v"), t)
    assert(rows(IcebergLite.read(spark, t)) == Set((1L, "a"), (3L, "c")))
    // s2 still reachable by id (roll forward = another rollback)
    assert(rows(IcebergLite.read(spark, t, Some(s2))) ==
      Set((1L, "a"), (2L, "b")))
    val err = intercept[IllegalArgumentException](
      IcebergLite.rollbackTo(spark, t, 424242L))
    assert(err.getMessage.contains("not in"), err.getMessage)
  }

  test("createRef/dropRef: tags pin snapshots against expiry and give " +
      "time travel by name; duplicates and 'main' refuse") {
    val t = tmp("refs")
    val s1 = IcebergLite.write(spark, Seq((1L, "a")).toDF("k", "v"), t)
    IcebergLite.createRef(spark, t, "v1.0", "tag", Some(s1))
    IcebergLite.write(spark, Seq((2L, "b")).toDF("k", "v"), t)
    IcebergLite.write(spark, Seq((3L, "c")).toDF("k", "v"), t)
    assert(IcebergLite.snapshotForRef(spark, t, "v1.0") == s1)
    assert(rows(IcebergLite.read(spark, t,
      Some(IcebergLite.snapshotForRef(spark, t, "v1.0")))) ==
      Set((1L, "a")))
    // expiry keeps the tagged snapshot even though it's oldest
    IcebergLite.expireSnapshots(spark, t, keepLast = 1)
    assert(rows(IcebergLite.read(spark, t, Some(s1))) == Set((1L, "a")),
      "a tagged snapshot must survive expiry")
    // duplicate + main refuse; drop removes
    val dup = intercept[IllegalArgumentException](
      IcebergLite.createRef(spark, t, "v1.0", "tag"))
    assert(dup.getMessage.contains("already exists"), dup.getMessage)
    val mn = intercept[IllegalArgumentException](
      IcebergLite.dropRef(spark, t, "main"))
    assert(mn.getMessage.contains("main"), mn.getMessage)
    IcebergLite.dropRef(spark, t, "v1.0")
    val gone = intercept[IllegalArgumentException](
      IcebergLite.snapshotForRef(spark, t, "v1.0"))
    assert(gone.getMessage.contains("not in"), gone.getMessage)
    // branch creation defaults to the current snapshot
    IcebergLite.createRef(spark, t, "dev", "branch")
    val meta = IcebergLite.loadMeta(spark, t)
    assert(IcebergLite.snapshotForRef(spark, t, "dev") ==
      meta.currentSnapshotId.get)
  }

  test("write-audit-publish: branch commits stage invisibly on the " +
      "branch head, fast-forward publishes, tags refuse writes") {
    val t = tmp("wap")
    IcebergLite.write(spark, Seq((1L, "a")).toDF("k", "v"), t)
    IcebergLite.createRef(spark, t, "audit", "branch")
    IcebergLite.write(spark, Seq((2L, "b")).toDF("k", "v"), t,
      toBranch = Some("audit"))
    // the table's current state is untouched by the staged commit
    assert(rows(IcebergLite.read(spark, t)) == Set((1L, "a")))
    // the branch sees its own lineage (base + staged)
    assert(rows(IcebergLite.read(spark, t,
      Some(IcebergLite.snapshotForRef(spark, t, "audit")))) ==
      Set((1L, "a"), (2L, "b")))
    // branch commits STACK on the branch head
    IcebergLite.write(spark, Seq((3L, "c")).toDF("k", "v"), t,
      toBranch = Some("audit"))
    assert(rows(IcebergLite.read(spark, t,
      Some(IcebergLite.snapshotForRef(spark, t, "audit")))) ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(rows(IcebergLite.read(spark, t)) == Set((1L, "a")))
    // PUBLISH: fast-forward = repoint main at the audited branch head
    IcebergLite.rollbackTo(spark, t,
      IcebergLite.snapshotForRef(spark, t, "audit"))
    assert(rows(IcebergLite.read(spark, t)) ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // tags are immutable; unknown branches refuse
    IcebergLite.createRef(spark, t, "v1", "tag")
    val tag = intercept[IllegalArgumentException](IcebergLite.write(spark,
      Seq((9L, "z")).toDF("k", "v"), t, toBranch = Some("v1")))
    assert(tag.getMessage.contains("immutable"), tag.getMessage)
    val none = intercept[IllegalArgumentException](IcebergLite.write(spark,
      Seq((9L, "z")).toDF("k", "v"), t, toBranch = Some("nope")))
    assert(none.getMessage.contains("does not exist"), none.getMessage)
  }

  test("expireSnapshots older_than: age gates expiry, keep_last is the " +
      "retain floor, current and ref'd snapshots always survive") {
    val t = tmp("expire_age")
    IcebergLite.write(spark, Seq((1L, "a")).toDF("k", "v"), t)
    IcebergLite.write(spark, Seq((2L, "b")).toDF("k", "v"), t)
    IcebergLite.write(spark, Seq((3L, "c")).toDF("k", "v"), t)
    // cutoffs compare against the RECORDED timestamp-ms (native
    // commits stamp the deterministic clock — repo convention); a
    // cutoff at/below every stamp expires nothing
    assert(IcebergLite.expireSnapshots(spark, t, keepLast = 1,
      olderThanMillis = Some(0L)) == 0)
    assert(IcebergLite.loadMeta(spark, t).snapshots.size == 3)
    // cutoff above every stamp: everything is "old", but the retain
    // floor keeps the newest two (current included)
    IcebergLite.expireSnapshots(spark, t, keepLast = 2,
      olderThanMillis = Some(Long.MaxValue))
    val meta = IcebergLite.loadMeta(spark, t)
    assert(meta.snapshots.size == 2, meta.snapshots.map(_.snapshotId))
    assert(rows(IcebergLite.read(spark, t)) ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("avro partitioned writes refuse loudly (no footer statistics " +
      "to recover partition values)") {
    val t = tmp("avro_part")
    val err = intercept[IllegalArgumentException](
      IcebergLite.write(spark, Seq((1L, "e", "a")).toDF("k", "r", "v"),
        t, partitionBy = Seq("r"), format = Some("avro")))
    assert(err.getMessage.contains("footer statistics"), err.getMessage)
  }

  test("creation records schema.name-mapping.default so field-id " +
      "readers resolve graft-staged (id-less) data files; nested " +
      "members map under element/key/value; foreign properties intact") {
    val t = java.nio.file.Files.createTempDirectory("ice_namemap").toString
    IcebergLite.write(spark,
      Seq((1L, "a", Seq(1, 2), (10L, "x")))
        .toDF("k", "v", "xs", "s"), t)
    val meta = IcebergLite.loadMeta(spark, t)
    val props = IcebergLite.tableProperties(meta)
    val mappingJson = props.getOrElse("schema.name-mapping.default",
      fail("creation must record schema.name-mapping.default"))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val mapping = om.readTree(mappingJson)
    import scala.jdk.CollectionConverters._
    def entry(name: String) = mapping.elements.asScala.find(
      _.get("names").elements.asScala.exists(_.asText == name)).get
    // the mapping's ids are the SCHEMA's ids, per field
    val schemaFields = om.readTree(meta.schemasJson.head).get("fields")
      .elements.asScala.map(f =>
        f.get("name").asText -> f.get("id").asInt).toMap
    Seq("k", "v", "xs", "s").foreach { n =>
      assert(entry(n).get("field-id").asInt == schemaFields(n),
        s"mapping id for $n must match the schema")
    }
    // nested members under structural names
    val xs = entry("xs")
    assert(xs.get("fields").elements.asScala
      .exists(_.get("names").elements.asScala.exists(_.asText == "element")),
      mappingJson)
    val s = entry("s")
    val sNames = s.get("fields").elements.asScala
      .flatMap(_.get("names").elements.asScala.map(_.asText)).toSet
    assert(sNames == Set("_1", "_2"), sNames.toString)
    // a second commit restates the property verbatim
    IcebergLite.write(spark, Seq((2L, "b", Seq(3), (20L, "y")))
      .toDF("k", "v", "xs", "s"), t)
    val props2 = IcebergLite.tableProperties(IcebergLite.loadMeta(spark, t))
    assert(props2.get("schema.name-mapping.default").contains(mappingJson))
  }

  test("addFiles: an existing hive-partitioned parquet dir registers " +
      "in place as an iceberg table — rows exact, partition values " +
      "projected from the tuple, footer bounds recorded, " +
      "re-registration mirrors the current dir") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ice_addfiles")
      .toString
    Seq((1L, "x", "a"), (2L, "y", "a"), (3L, "z", "b"), (4L, "w", "b"))
      .toDF("k", "v", "p").write.partitionBy("p")
      .mode("overwrite").parquet(dir)
    IcebergLite.addFiles(spark, dir, dir) // migrate IN PLACE
    // rows exact, with the partition column projected from the
    // manifest tuple (the data files don't carry it)
    val got = IcebergLite.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set((1L, "x", "a"), (2L, "y", "a"), (3L, "z", "b"),
      (4L, "w", "b")), got.toString)
    assert(IcebergLite.read(spark, dir,
      where = Some(org.apache.spark.sql.functions.col("p") === "a"))
      .count() == 2)
    // footer bounds registered → the table prunes like a native one
    val bounds = IcebergLite.filesDf(spark, dir)
      .select("lower_bounds").collect()
      .map(_.getMap[String, String](0))
    assert(bounds.forall(_.get("k").isDefined),
      s"every registered file must carry k bounds: ${bounds.toSeq}")
    // the dir GROWS a partition; re-registration mirrors it
    Seq((5L, "q", "c")).toDF("k", "v", "p").write.partitionBy("p")
      .mode("append").parquet(dir)
    IcebergLite.addFiles(spark, dir, dir)
    assert(IcebergLite.read(spark, dir).count() == 5)
    // snapshot-style registration into a SEPARATE metadata root
    val meta2 = java.nio.file.Files
      .createTempDirectory("ice_addfiles_meta").toString
    IcebergLite.addFiles(spark, meta2, dir)
    assert(IcebergLite.read(spark, meta2).count() == 5)
    // unpartitioned flat dir
    val flat = java.nio.file.Files
      .createTempDirectory("ice_addfiles_flat").toString
    (1L to 10L).map(i => (i, s"r$i")).toDF("a", "b")
      .repartition(3).write.mode("overwrite").parquet(flat)
    IcebergLite.addFiles(spark, flat, flat)
    assert(IcebergLite.read(spark, flat).count() == 10)
    assert(IcebergLite.read(spark, flat).select("a").as[Long]
      .collect().toSet == (1L to 10L).toSet)
    // hive-ESCAPED dir values and NULL partitions round-trip: Spark
    // writes `p=a b` as `p=a%20b` and null as __HIVE_DEFAULT_PARTITION__
    val esc = java.nio.file.Files
      .createTempDirectory("ice_addfiles_esc").toString
    Seq((1L, "a b"), (2L, null.asInstanceOf[String]), (3L, "x=y"))
      .toDF("k", "p").write.partitionBy("p")
      .mode("overwrite").parquet(esc)
    IcebergLite.addFiles(spark, esc, esc)
    val gotEsc = IcebergLite.read(spark, esc).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(gotEsc == Set((1L, Some("a b")), (2L, None),
      (3L, Some("x=y"))), gotEsc.toString)
    // typed dir values: integer dirs become a LONG partition column,
    // date-shaped dirs become DATE
    val typed = java.nio.file.Files
      .createTempDirectory("ice_addfiles_typed").toString
    Seq((1L, 7L, java.sql.Date.valueOf("2024-03-01")),
        (2L, 8L, java.sql.Date.valueOf("2024-03-02")))
      .toDF("k", "bucket", "day").write.partitionBy("bucket", "day")
      .mode("overwrite").parquet(typed)
    IcebergLite.addFiles(spark, typed, typed)
    val sch = IcebergLite.read(spark, typed).schema
    assert(sch("bucket").dataType ==
      org.apache.spark.sql.types.LongType, sch.treeString)
    assert(sch("day").dataType ==
      org.apache.spark.sql.types.DateType, sch.treeString)
    assert(IcebergLite.read(spark, typed,
      where = Some(org.apache.spark.sql.functions.col("day") ===
        java.sql.Date.valueOf("2024-03-02"))).collect()
      .map(_.getLong(0)).toSet == Set(2L))
    // ZERO-PADDED dir values stay STRING: "p=007" read back as 7 would
    // silently rewrite the value the foreign writer chose
    val pad = java.nio.file.Files
      .createTempDirectory("ice_addfiles_pad").toString
    new java.io.File(pad).delete()
    Seq((1L, "007"), (2L, "042"), (3L, "7"))
      .toDF("k", "p").write.partitionBy("p")
      .mode("overwrite").parquet(pad)
    IcebergLite.addFiles(spark, pad, pad)
    val padSch = IcebergLite.read(spark, pad).schema
    assert(padSch("p").dataType ==
      org.apache.spark.sql.types.StringType, padSch.treeString)
    assert(IcebergLite.read(spark, pad).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
      == Set((1L, "007"), (2L, "042"), (3L, "7")))
  }

  test("native parquet writes STAMP the table's field ids into the file " +
      "schema: a strict field-id-resolving reader needs no name-mapping, " +
      "ids survive metadata-only renames, and position-delete files " +
      "carry the spec's reserved ids") {
    def parquetIds(table: String): Seq[Map[String, Int]] = {
      import scala.jdk.CollectionConverters._
      val conf = spark.sparkContext.hadoopConfiguration
      val dataDir = new java.io.File(table, "data")
      def walk(d: java.io.File): Seq[java.io.File] =
        d.listFiles.toSeq.flatMap(f =>
          if (f.isDirectory) walk(f)
          else if (f.getName.endsWith(".parquet") ||
            f.getName.contains("part-")) Seq(f) else Nil)
      walk(dataDir).filter(f => f.getName.endsWith(".parquet") &&
        !f.getName.startsWith(".")).map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val sch = r.getFooter.getFileMetaData.getSchema
          sch.getFields.asScala.map(t =>
            t.getName -> Option(t.getId).map(_.intValue).getOrElse(-1))
            .toMap
        } finally r.close()
      }
    }
    val t = java.nio.file.Files
      .createTempDirectory("ice_fieldids").toString
    IcebergLite.write(spark,
      Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("k", "v", "w"), t)
    // fresh table: positional assignment k=1 v=2 w=3, stamped verbatim
    parquetIds(t).foreach(ids =>
      assert(ids == Map("k" -> 1, "v" -> 2, "w" -> 3), ids.toString))
    // rename is metadata-only: the NEXT file still stamps the ORIGINAL
    // id for the renamed column — a strict reader keeps resolving both
    // generations without name-mapping
    IcebergLite.renameColumn(spark, t, "v", "label")
    IcebergLite.write(spark,
      Seq((3L, "c", 3.5)).toDF("k", "label", "w"), t)
    assert(parquetIds(t).forall(ids =>
      ids.getOrElse("v", ids.getOrElse("label", -1)) == 2), parquetIds(t))
    // a position-delete commit writes the spec's RESERVED ids
    IcebergLite.deleteWhere(spark, t,
      org.apache.spark.sql.functions.col("k") === 2L)
    val withDeletes = parquetIds(t)
    assert(withDeletes.exists(ids =>
      ids.get("file_path").contains(2147483546) &&
        ids.get("pos").contains(2147483545)),
      s"no reserved-id delete file found: $withDeletes")
    // table still reads right through graft's own path
    assert(IcebergLite.read(spark, t).select("k").as[Long]
      .collect().toSet == Set(1L, 3L))
    // PARTITIONED staging stamps the source columns too
    val tp = java.nio.file.Files
      .createTempDirectory("ice_fieldids_part").toString
    IcebergLite.write(spark,
      Seq((1L, "x", "p1"), (2L, "y", "p2")).toDF("k", "v", "p"), tp,
      partitionBy = Seq("p"))
    parquetIds(tp).foreach(ids =>
      assert(ids == Map("k" -> 1, "v" -> 2, "p" -> 3), ids.toString))
  }

  test("native ORC writes stamp iceberg.id column attributes (orc-core " +
      "staging): strict foreign readers resolve without name-mapping, " +
      "partitioned layout and mutations keep the rows exact") {
    import scala.jdk.CollectionConverters._
    def orcIds(table: String): Seq[Map[String, Int]] = {
      val conf = spark.sparkContext.hadoopConfiguration
      def walk(d: java.io.File): Seq[java.io.File] =
        d.listFiles.toSeq.flatMap(f =>
          if (f.isDirectory) walk(f)
          else if (f.getName.endsWith(".orc") && !f.getName.startsWith("."))
            Seq(f) else Nil)
      walk(new java.io.File(table, "data")).map { f =>
        val r = org.apache.orc.OrcFile.createReader(
          new Path(f.getAbsolutePath),
          org.apache.orc.OrcFile.readerOptions(conf))
        try {
          val sch = r.getSchema
          sch.getFieldNames.asScala.zip(sch.getChildren.asScala).map {
            case (n, t) => n -> Option(t.getAttributeValue("iceberg.id"))
              .map(_.toInt).getOrElse(-1)
          }.toMap
        } finally r.close()
      }
    }
    // unpartitioned ORC table: ids stamped, rows exact
    val t = java.nio.file.Files
      .createTempDirectory("ice_orc_ids").toString
    IcebergLite.write(spark,
      Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5))
        .toDF("k", "v", "w"), t, format = Some("orc"))
    orcIds(t).foreach(ids =>
      assert(ids == Map("k" -> 1, "v" -> 2, "w" -> 3), ids.toString))
    assert(IcebergLite.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      == Set((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5)))
    // mutation: position delete targets the orc-core-written file
    // (exact ordinals through the row reader), merge re-stages with
    // the attributes intact
    IcebergLite.deleteWhere(spark, t, col("k") === 2L)
    IcebergLite.upsert(spark, Seq((3L, "C", 9.5)).toDF("k", "v", "w"),
      t, Seq("k"))
    assert(IcebergLite.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      == Set((1L, "a", 1.5), (3L, "C", 9.5)))
    orcIds(t).foreach(ids =>
      assert(ids("k") == 1 && ids("v") == 2 && ids("w") == 3,
        ids.toString))
    // PARTITIONED ORC: the roll-per-tuple layout matches the recovery
    // walk (hive escaping + null marker), files carry ONLY the data
    // columns with constant partition values, attributes stamped
    val tp = java.nio.file.Files
      .createTempDirectory("ice_orc_ids_part").toString
    IcebergLite.write(spark,
      Seq((1L, "x", "p 1"), (2L, "y", "p=2"), (3L, "z", "p 1"),
        (4L, "w", null.asInstanceOf[String]))
        .toDF("k", "v", "p"), tp,
      partitionBy = Seq("p"), format = Some("orc"))
    orcIds(tp).foreach(ids =>
      assert(ids == Map("k" -> 1, "v" -> 2, "p" -> 3), ids.toString))
    val got = IcebergLite.read(spark, tp).collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
      .toSet
    assert(got == Set((1L, "x", Some("p 1")), (2L, "y", Some("p=2")),
      (3L, "z", Some("p 1")), (4L, "w", None)), got.toString)
    // partition-pruned read off the stamped layout
    assert(IcebergLite.read(spark, tp,
      where = Some(col("p") === "p 1")).count() == 2)
  }
}

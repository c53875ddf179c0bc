package graft.sources

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.avro.{Schema => AvroSchema}
import org.apache.avro.file.{DataFileReader, DataFileWriter, SeekableByteArrayInput}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, element_at, input_file_name, lit, regexp_replace, split}
import org.apache.spark.sql.types._

/** Native Apache Iceberg reader + writer — no iceberg-spark runtime jar
  * required. Companion of [[DeltaLite]] for the other open-table format
  * a 100-TB lakehouse actually stores.
  *
  * The Iceberg table format is a PUBLIC spec (iceberg.apache.org/spec):
  * a `metadata/v<N>.metadata.json` file (plus `version-hint.text` for
  * filesystem tables) names the current snapshot; each snapshot points
  * at a MANIFEST LIST (Avro object-container file of `manifest_file`
  * records); each manifest is itself an Avro OCF of `manifest_entry`
  * records naming immutable data files — ALL THREE spec formats scan
  * natively: PARQUET and ORC through Spark's bundled sources, AVRO
  * through [[IcebergAvroData]]'s container codec. Reading a snapshot =
  * resolve metadata → manifest list → manifests → live data files →
  * one distributed columnar scan per (schema, format) group. The
  * reference ingests open-table formats through exactly this
  * snapshot-scan capability
  * (dozer-ingestion/deltalake/src/reader.rs:36-47 is the Delta twin);
  * IcebergLite reproduces it Spark-natively with the avro-1.12 runtime
  * jar Spark already ships (same seam as [[AvroFiles]]).
  *
  * Merge-on-read: BOTH v2 delete kinds apply as distributed anti
  * joins. POSITION deletes (spec §Delete Formats — files of
  * `(file_path, pos)`, themselves any spec format) join against the
  * scan's per-file row ordinals (`_metadata.row_index` for parquet,
  * decode-counted ordinals for avro, and for the ORC files a delete
  * actually TARGETS the orc-core row reader [[IcebergOrcData]] —
  * Spark's ORC source exposes no row index, so only targeted files
  * pay the row-by-row scan); EQUALITY deletes (Flink-CDC-writer territory — key-value files
  * listing retracted tuples) join null-safe on their `equality_ids`
  * columns under the spec's sequence rule (a delete at seq N
  * suppresses only data files with seq < N, so later re-inserts stay
  * visible). No row-level state, no driver work; delete sides are
  * broadcast-sized in the common case. Path strings are compared
  * scheme-normalized (writers disagree about `file:/` vs `file:///`).
  *
  * Loud unsupported-capability errors (never silent wrong data):
  * `time` columns (no Spark analogue) and equality ids naming nested
  * fields. Renames resolve
  * through the schema HISTORY (each file reads under the names of the
  * schema it was written with — the spec's field-id indirection,
  * metadata-only renames); files predating an added column read it as
  * null.
  *
  * The WRITER emits format-version 2 tables: staged data files under
  * `data/` in the table's `write.format.default` (parquet unless set —
  * ORC bounds come from [[OrcFooterStats]] footers, avro bounds are
  * tracked in the encode pass),
  * one `manifest_entry` Avro per commit, a fresh manifest list
  * carrying prior manifests forward, and a `v<N+1>.metadata.json`
  * claimed PUT-IF-ABSENT (`fs.create(overwrite=false)`) — the same
  * loses-loudly concurrency rule as [[DeltaLite.claimCommit]], matching
  * the spec's optimistic-concurrency commit. [[deleteWhere]] commits
  * position-delete files computed distributed from a predicate, so
  * keyed retractions never rewrite data files (the O(changed-rows)
  * counterpart of DeltaLite's copy-on-write upsert).
  *
  * Scale shape: metadata/manifest traffic is driver-side and
  * metadata-sized (the spec designed manifests to be listable without
  * touching data); the data scan, per-file stats, delete application,
  * and delete-position computation are all distributed jobs.
  */
object IcebergLite {

  private val mapper = new ObjectMapper()

  // ---------------------------------------------------------------- model

  final case class SnapshotMeta(
      snapshotId: Long,
      sequenceNumber: Long,
      timestampMs: Long,
      /** v2: path of the manifest-list Avro; v1 tables may instead
        * inline `manifests` paths directly on the snapshot.
        */
      manifestList: Option[String],
      inlineManifests: Seq[String],
      /** The snapshot's `summary` map (operation + writer properties —
        * graft's streaming sinks record their idempotence watermark
        * here as `graft-txn-app` / `graft-txn-version`).
        */
      summary: Map[String, String] = Map.empty,
      /** schema-id the snapshot was written under (evolution). */
      schemaId: Option[Int] = None)

  /** One `manifest_file` record of the manifest list — enough state to
    * carry the manifest forward unchanged into the next commit's list.
    */
  final case class ManifestInfo(
      path: String,
      length: Long,
      specId: Int,
      /** 0 = data manifest, 1 = delete manifest (v2). */
      content: Int,
      sequenceNumber: Long,
      minSequenceNumber: Long,
      addedSnapshotId: Long,
      addedFiles: Int, existingFiles: Int, deletedFiles: Int,
      addedRows: Long, existingRows: Long, deletedRows: Long)

  /** One live file of a snapshot (a `data_file` struct). `content`:
    * 0 = data, 1 = position deletes, 2 = equality deletes. Bounds are
    * the spec's per-file column stats: field id → single-value
    * serialized min/max (spec §Binary single-value serialization),
    * the index manifest-level scan pruning runs on.
    */
  final case class FileEntry(path: String, format: String, content: Int,
      recordCount: Long, fileSize: Long,
      lowerBounds: Map[Int, Array[Byte]] = Map.empty,
      upperBounds: Map[Int, Array[Byte]] = Map.empty,
      /** data sequence number (v2 ordering: an equality delete at seq N
        * suppresses matching rows of data files with seq < N; position
        * deletes bind by explicit path+pos instead).
        */
      seq: Long = 0L,
      /** equality-delete files only: the field ids matched on. */
      equalityIds: Seq[Int] = Nil,
      /** partition field name → recorded value (avro-decoded; dates
        * arrive as epoch-day ints per the manifest encoding). Read for
        * transform-aware partition pruning; empty for unpartitioned.
        */
      partValues: Map[String, Any] = Map.empty,
      /** snapshot that ADDED the file (entry snapshot_id, inheriting
        * the manifest's) — keys the schema the file was written under
        * for rename-safe field-id column resolution.
        */
      addedSnapshotId: Long = 0L)

  final case class TableMeta(
      formatVersion: Int,
      location: String,
      schema: StructType,
      lastColumnId: Int,
      lastSequenceNumber: Long,
      currentSnapshotId: Option[Long],
      snapshots: Seq[SnapshotMeta],
      /** metadata file version N of v<N>.metadata.json */
      version: Int,
      tableUuid: String,
      /** TOP-LEVEL column name → Iceberg field id (from the current
        * schema's `fields[].id`) — the key space of the bounds maps.
        */
      fieldIds: Map[String, Int] = Map.empty,
      /** the FULL `schemas` history as raw JSON (evolution keeps every
        * schema-id a snapshot ever referenced) + the current id.
        */
      schemasJson: Seq[String] = Nil,
      currentSchemaId: Int = 0,
      /** default partition spec. The writer emits identity plus the
        * spec's value transforms (bucket/truncate/year/month/day/hour);
        * foreign tables may carry any — unknown ones read fine (data
        * files retain source columns) but never prune.
        */
      partitionFields: Seq[PartSpecField] = Nil,
      /** the FULL `partition-specs` array as raw JSON — commits must
        * retain every spec a live manifest references (global equality
        * deletes ride an unpartitioned spec next to the table's).
        */
      specsJson: Seq[String] = Nil,
      /** raw `properties` object JSON — a foreign writer's table
        * properties (commit retry policy, user props) restate VERBATIM
        * on every commit; dropping them would corrupt foreign tables.
        */
      propertiesJson: Option[String] = None,
      /** raw `refs` object JSON (named branches/tags). Commits restate
        * it with `main` advanced to the new snapshot; tags and other
        * branches survive untouched, and [[expireSnapshots]] never
        * expires a snapshot a ref still names.
        */
      refsJson: Option[String] = None,
      /** raw `sort-orders` array entries + the default id — a foreign
        * table's declared sort orders restate verbatim (previously a
        * commit silently reset them to the empty order).
        */
      sortOrdersJson: Seq[String] = Nil,
      defaultSortOrderId: Int = 0,
      /** `last-partition-id` — the high-water mark of assigned
        * partition-field ids across ALL specs (foreign specs may use
        * ids past our 1000+i convention).
        */
      lastPartitionId: Option[Int] = None,
      /** raw `statistics` / `partition-statistics` entries (puffin
        * stats files) — restated verbatim. */
      statisticsJson: Seq[String] = Nil,
      partitionStatisticsJson: Seq[String] = Nil,
      /** raw `metadata-log` entries; each commit appends the PRIOR
        * metadata file (the spec's lineage trail external tools walk).
        */
      metadataLogJson: Seq[String] = Nil)

  /** One field of the default partition spec: the partition field name,
    * the transform's metadata rendering, and the SOURCE column's field
    * id (0 when the metadata omitted it — legacy v1 identity specs).
    */
  final case class PartSpecField(name: String, transform: String,
      sourceId: Int)

  final case class SnapshotState(meta: TableMeta, snapshot: SnapshotMeta,
      manifests: Seq[ManifestInfo],
      dataFiles: Seq[FileEntry], posDeleteFiles: Seq[FileEntry],
      eqDeleteFiles: Seq[FileEntry] = Nil)

  // ------------------------------------------------------ schema bridge

  /** Iceberg type JSON (string primitive or object) → Spark type.
    * Everything in the spec's primitive table maps except `time` (no
    * Spark analogue — loud).
    */
  private[graft] def sparkType(t: JsonNode): DataType =
    if (t.isTextual) t.asText match {
      case "boolean" => BooleanType
      case "int" => IntegerType
      case "long" => LongType
      case "float" => FloatType
      case "double" => DoubleType
      case "date" => DateType
      case "timestamp" => TimestampNTZType
      case "timestamptz" => TimestampType
      case "timestamp_ns" | "timestamptz_ns" => throw new IllegalArgumentException(
        "Iceberg v3 nanosecond timestamps are beyond the native reader")
      case "string" => StringType
      case "uuid" => StringType // 36-char canonical text form
      case "binary" => BinaryType
      case s if s.startsWith("decimal(") =>
        val Array(p, sc) = s.stripPrefix("decimal(").stripSuffix(")")
          .split(",").map(_.trim.toInt)
        DecimalType(p, sc)
      case s if s.startsWith("fixed[") => BinaryType
      case "time" => throw new IllegalArgumentException(
        "Iceberg `time` columns have no Spark type — the native reader " +
          "refuses rather than guess; use the iceberg-spark runtime")
      case other => throw new IllegalArgumentException(
        s"unknown Iceberg type '$other'")
    } else t.get("type").asText match {
      case "struct" =>
        StructType(t.get("fields").elements.asScala.toSeq.map { f =>
          StructField(f.get("name").asText, sparkType(f.get("type")),
            nullable = !f.get("required").asBoolean)
        })
      case "list" =>
        ArrayType(sparkType(t.get("element")),
          containsNull = !t.get("element-required").asBoolean)
      case "map" =>
        MapType(sparkType(t.get("key")), sparkType(t.get("value")),
          valueContainsNull = !t.get("value-required").asBoolean)
      case other => throw new IllegalArgumentException(
        s"unknown Iceberg complex type '$other'")
    }

  /** Spark type → Iceberg type JSON. `idAt` resolves each named field
    * or container member to its id given the full dot-path — the
    * positional counter for graft-created tables, or the EXPLICIT
    * delta-allocated ids for UniForm registrations
    * ([[DeltaLite.syncUniform]] via [[schemaNode]]'s explicit mode).
    * Call order is the spec's pre-order (field id before its type's
    * members), so the positional mode's numbering is byte-stable with
    * prior rounds.
    */
  private def icebergType(dt: DataType, path: Seq[String],
      idAt: Seq[String] => Int): Object = dt match {
    case BooleanType => "boolean"
    case ByteType | ShortType | IntegerType => "int"
    case LongType => "long"
    case FloatType => "float"
    case DoubleType => "double"
    case DateType => "date"
    case TimestampNTZType => "timestamp"
    case TimestampType => "timestamptz"
    case StringType => "string"
    case BinaryType => "binary"
    case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
    case st: StructType =>
      val node = mapper.createObjectNode()
      node.put("type", "struct")
      val arr = node.putArray("fields")
      st.fields.foreach { f =>
        val p = path :+ f.name
        val id = idAt(p)
        val fn = arr.addObject()
        fn.put("id", id); fn.put("name", f.name)
        fn.put("required", !f.nullable)
        fn.set[JsonNode]("type", asNode(icebergType(f.dataType, p, idAt)))
      }
      node
    case at: ArrayType =>
      val node = mapper.createObjectNode()
      val p = path :+ "element"
      node.put("type", "list"); node.put("element-id", idAt(p))
      node.put("element-required", !at.containsNull)
      node.set[JsonNode]("element", asNode(icebergType(at.elementType, p, idAt)))
      node
    case mt: MapType =>
      val node = mapper.createObjectNode()
      node.put("type", "map")
      val kp = path :+ "key"
      node.put("key-id", idAt(kp))
      node.set[JsonNode]("key", asNode(icebergType(mt.keyType, kp, idAt)))
      val vp = path :+ "value"
      node.put("value-id", idAt(vp))
      node.put("value-required", !mt.valueContainsNull)
      node.set[JsonNode]("value", asNode(icebergType(mt.valueType, vp, idAt)))
      node
    case other => throw new IllegalArgumentException(
      s"no Iceberg type for Spark ${other.sql}")
  }

  private def asNode(v: Object): JsonNode = v match {
    case s: String => mapper.getNodeFactory.textNode(s)
    case n: JsonNode => n
  }

  // ------------------------------------------------------- metadata load

  /** Resolve the current metadata file: `version-hint.text` names N for
    * filesystem tables; otherwise the highest `v<N>.metadata.json` by
    * number (hint files lag under concurrent writers, so the scan also
    * double-checks for anything newer than the hint).
    */
  private def currentMetadataVersion(fs: FileSystem, metaDir: Path): Int = {
    val re = "v(\\d+)\\.metadata\\.json".r
    val scanned =
      if (!fs.exists(metaDir)) Seq.empty
      else fs.listStatus(metaDir).toSeq.map(_.getPath.getName).collect {
        case re(n) => n.toInt
      }
    val hint = {
      val p = new Path(metaDir, "version-hint.text")
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val txt = try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
        txt.toIntOption
      }
    }
    (scanned ++ hint).maxOption.getOrElse(throw new IllegalArgumentException(
      s"$metaDir holds no v<N>.metadata.json — not an Iceberg table"))
  }

  def loadMeta(spark: SparkSession, tablePath: String): TableMeta = {
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaDir = new Path(root, "metadata")
    val version = currentMetadataVersion(fs, metaDir)
    val mPath = new Path(metaDir, s"v$version.metadata.json")
    val in = fs.open(mPath)
    val node = try mapper.readTree(in.readAllBytes()) finally in.close()
    val fv = node.get("format-version").asInt
    require(fv == 1 || fv == 2,
      s"Iceberg format-version $fv is beyond the native reader (v1/v2)")
    // current schema: v2 carries `schemas` + `current-schema-id`;
    // v1 has a single top-level `schema`
    val schemaNode = Option(node.get("schemas")) match {
      case Some(schemas) =>
        val cur = node.get("current-schema-id").asInt
        schemas.elements.asScala.find(_.get("schema-id").asInt == cur)
          .getOrElse(throw new IllegalArgumentException(
            s"current-schema-id $cur missing from `schemas`"))
      case None => node.get("schema")
    }
    val snaps = Option(node.get("snapshots")).toSeq
      .flatMap(_.elements.asScala).map { s =>
        SnapshotMeta(
          snapshotId = s.get("snapshot-id").asLong,
          sequenceNumber =
            Option(s.get("sequence-number")).map(_.asLong).getOrElse(0L),
          timestampMs = s.get("timestamp-ms").asLong,
          manifestList = Option(s.get("manifest-list")).map(_.asText),
          inlineManifests = Option(s.get("manifests")).toSeq
            .flatMap(_.elements.asScala.map(_.asText)),
          summary = Option(s.get("summary")).toSeq.flatMap(sm =>
            sm.fieldNames.asScala.map(k => k -> sm.get(k).asText)).toMap,
          schemaId = Option(s.get("schema-id")).map(_.asInt))
      }
    val fieldIds = Option(schemaNode.get("fields")).toSeq
      .flatMap(_.elements.asScala)
      .flatMap(f => Option(f.get("id")).map(id => f.get("name").asText -> id.asInt))
      .toMap
    val schemasJson = Option(node.get("schemas")) match {
      case Some(arr) => arr.elements.asScala.toSeq.map(_.toString)
      case None => // v1 single schema: retain as schema-id 0
        val on = schemaNode.deepCopy
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        on.put("schema-id", 0)
        Seq(on.toString)
    }
    TableMeta(
      formatVersion = fv,
      location = Option(node.get("location")).map(_.asText).getOrElse(tablePath),
      schema = sparkType(schemaNode).asInstanceOf[StructType],
      fieldIds = fieldIds,
      schemasJson = schemasJson,
      currentSchemaId =
        Option(node.get("current-schema-id")).map(_.asInt).getOrElse(0),
      partitionFields = {
        val defaultSpec = Option(node.get("default-spec-id")).map(_.asInt)
          .getOrElse(0)
        val fromSpecs = Option(node.get("partition-specs")).toSeq
          .flatMap(_.elements.asScala)
          .find(sp => Option(sp.get("spec-id")).forall(_.asInt == defaultSpec))
          .toSeq.flatMap(sp => Option(sp.get("fields")).toSeq
            .flatMap(_.elements.asScala))
        val fromV1 = Option(node.get("partition-spec")).toSeq
          .flatMap(_.elements.asScala)
        (if (fromSpecs.nonEmpty) fromSpecs else fromV1).map(f =>
          PartSpecField(f.get("name").asText,
            Option(f.get("transform")).map(_.asText).getOrElse("identity"),
            Option(f.get("source-id")).map(_.asInt).getOrElse(0)))
      },
      lastColumnId = Option(node.get("last-column-id")).map(_.asInt).getOrElse(0),
      lastSequenceNumber =
        Option(node.get("last-sequence-number")).map(_.asLong).getOrElse(0L),
      currentSnapshotId = Option(node.get("current-snapshot-id"))
        .map(_.asLong).filter(_ != -1L),
      snapshots = snaps,
      version = version,
      tableUuid = Option(node.get("table-uuid")).map(_.asText)
        .getOrElse(java.util.UUID.randomUUID.toString),
      specsJson = Option(node.get("partition-specs")).toSeq
        .flatMap(_.elements.asScala).map(_.toString),
      propertiesJson = Option(node.get("properties"))
        .filterNot(_.isNull).map(_.toString),
      refsJson = Option(node.get("refs"))
        .filterNot(_.isNull).map(_.toString),
      sortOrdersJson = Option(node.get("sort-orders")).toSeq
        .flatMap(_.elements.asScala).map(_.toString),
      defaultSortOrderId = Option(node.get("default-sort-order-id"))
        .map(_.asInt).getOrElse(0),
      lastPartitionId = Option(node.get("last-partition-id"))
        .map(_.asInt),
      statisticsJson = Option(node.get("statistics")).toSeq
        .flatMap(_.elements.asScala).map(_.toString),
      partitionStatisticsJson = Option(node.get("partition-statistics"))
        .toSeq.flatMap(_.elements.asScala).map(_.toString),
      metadataLogJson = Option(node.get("metadata-log")).toSeq
        .flatMap(_.elements.asScala).map(_.toString))
  }

  // --------------------------------------------------------- avro plumbing

  private def readAvro(fs: FileSystem, path: Path): Seq[GenericRecord] = {
    val in = fs.open(path)
    val bytes = try in.readAllBytes() finally in.close()
    val r = new DataFileReader[GenericRecord](
      new SeekableByteArrayInput(bytes), new GenericDatumReader[GenericRecord]())
    try {
      val out = Vector.newBuilder[GenericRecord]
      while (r.hasNext) out += r.next()
      out.result()
    } finally r.close()
  }

  /** Name-based field access tolerating spec renames across versions
    * (e.g. v1 `added_data_files_count` → v2 `added_files_count`).
    */
  private def field(rec: GenericRecord, names: String*): Option[Any] =
    names.collectFirst {
      case n if rec.getSchema.getField(n) != null && rec.get(n) != null =>
        rec.get(n)
    }
  private def text(v: Any): String = v.toString
  private def num(v: Any): Long = v.asInstanceOf[Number].longValue

  // ------------------------------------ single-value (de)serialization
  // Spec §Binary single-value serialization for the types the pruning
  // index covers: int/date 4-byte little-endian, long/timestamp 8-byte
  // LE, float/double IEEE LE, string UTF-8 bytes.

  private def le(n: Int)(fill: java.nio.ByteBuffer => Unit): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    fill(b); b.array()
  }

  private[graft] def serializeBound(dt: DataType, v: Any): Option[Array[Byte]] =
    (dt, v) match {
      case (_, null) => None
      case (IntegerType, i: Int) => Some(le(4)(_.putInt(i)))
      case (LongType, l: Long) => Some(le(8)(_.putLong(l)))
      case (FloatType, f: Float) if !f.isNaN => Some(le(4)(_.putFloat(f)))
      case (DoubleType, d: Double) if !d.isNaN => Some(le(8)(_.putDouble(d)))
      case (DateType, d: java.sql.Date) =>
        Some(le(4)(_.putInt(d.toLocalDate.toEpochDay.toInt)))
      case (StringType, s: String) => Some(s.getBytes("UTF-8"))
      case _ => None
    }

  /** Compare a live key value against a serialized bound. None =
    * incomparable (unsupported type / corrupt bytes) → never prunes.
    * Truncated STRING bounds stay conservative: a truncated lower bound
    * is still ≤ the true min, a truncated-and-incremented upper bound
    * is still ≥ the true max (spec truncation contract).
    */
  private[graft] def compareToBound(dt: DataType, v: Any,
      bound: Array[Byte]): Option[Int] = {
    def buf = java.nio.ByteBuffer.wrap(bound)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (dt, v) match {
      case (_, null) => None
      case (IntegerType, i: Int) if bound.length == 4 =>
        Some(java.lang.Integer.compare(i, buf.getInt))
      case (LongType, l: Long) if bound.length == 8 =>
        Some(java.lang.Long.compare(l, buf.getLong))
      case (FloatType, f: Float) if bound.length == 4 =>
        Some(java.lang.Float.compare(f, buf.getFloat))
      case (DoubleType, d: Double) if bound.length == 8 =>
        Some(java.lang.Double.compare(d, buf.getDouble))
      case (DateType, d: java.sql.Date) if bound.length == 4 =>
        Some(java.lang.Integer.compare(d.toLocalDate.toEpochDay.toInt, buf.getInt))
      case (StringType, s: String) =>
        // bounds were written by Spark min/max (UTF-8 byte / code-point
        // order); String.compareTo is UTF-16 code-unit order and the two
        // disagree for U+E000..U+FFFF vs supplementary chars — compare
        // the UTF-8 bytes unsigned so pruning never misses a match
        val sv = s.getBytes("UTF-8")
        val n = math.min(sv.length, bound.length)
        var i = 0
        var c = 0
        while (i < n && c == 0) {
          c = java.lang.Integer.compare(sv(i) & 0xff, bound(i) & 0xff)
          i += 1
        }
        Some(if (c != 0) c else java.lang.Integer.compare(sv.length, bound.length))
      case _ => None
    }
  }

  /** Parse a bounds field (the spec's k/v-array-with-map-logicalType —
    * tolerating writers that used a real Avro map).
    */
  private def boundsOf(df: GenericRecord, name: String): Map[Int, Array[Byte]] = {
    def bytes(v: Any): Array[Byte] = v match {
      case b: java.nio.ByteBuffer =>
        val a = new Array[Byte](b.remaining); b.duplicate().get(a); a
      case a: Array[Byte] => a
      case other => other.toString.getBytes("UTF-8")
    }
    field(df, name) match {
      case Some(m: java.util.Map[_, _]) =>
        m.asScala.map { case (k, v) =>
          k.toString.toInt -> bytes(v)
        }.toMap
      case Some(c: java.util.Collection[_]) =>
        c.asScala.collect { case r: GenericRecord =>
          num(r.get("key")).toInt -> bytes(r.get("value"))
        }.toMap
      case _ => Map.empty
    }
  }

  /** Resolve a metadata-recorded absolute URI against this table's
    * actual filesystem root (tables move; `location` in old metadata
    * may name the ORIGINAL path). Keeps the basename chain under
    * `metadata/` or `data/`.
    */
  private def rebase(p: String, tablePath: String, location: String): String = {
    val norm = normalizePathStr(p)
    val locNorm = normalizePathStr(location).stripSuffix("/")
    if (norm.startsWith(locNorm + "/"))
      new Path(tablePath, norm.stripPrefix(locNorm + "/")).toString
    else p
  }

  /** Scheme-insensitive path form: `file:///a`, `file:/a`, `/a` all
    * compare equal (writers disagree; the spec stores full URIs).
    */
  /** The table's `properties` map (empty when none declared). */
  private[graft] def tableProperties(meta: TableMeta): Map[String, String] =
    meta.propertiesJson.map { js =>
      val n = mapper.readTree(js)
      n.fieldNames.asScala.map(k => k -> n.get(k).asText).toMap
    }.getOrElse(Map.empty)

  /** The format native writes to this table produce — the iceberg
    * `write.format.default` table property (PARQUET when unset).
    */
  private def writeFormatOf(meta: TableMeta): String =
    tableProperties(meta).getOrElse("write.format.default", "parquet")
      .toUpperCase

  private val knownFormats = Set("PARQUET", "ORC", "AVRO")

  /** Conservative expansion factor applied to recorded ON-DISK delete
    * file bytes before comparing against `autoBroadcastJoinThreshold`
    * (whose semantics are estimated in-memory size): position-delete
    * parquet — sorted repeated paths RLE/dict-encoded plus delta-coded
    * longs — routinely decompresses ~10×, so gating on raw file sizes
    * could admit a broadcast that expands well past the threshold the
    * gate exists to honor. 8× keeps KB-to-low-MB delete sets (the
    * normal case the broadcast targets) while refusing anything whose
    * materialized size could plausibly pressure the driver.
    */
  private val deleteBroadcastInflation = 8L

  private[graft] def normalizePathStr(p: String): String = {
    val noScheme = p.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:", "")
    "/" + noScheme.dropWhile(_ == '/')
  }

  /** Canonical comparison key for a RAW path (manifest/action strings,
    * on-disk names) against Spark's `_metadata.file_path`, which is
    * URI-ENCODED (a dir like `p=a b` surfaces as `p=a%20b`): encode via
    * Hadoop `Path.toUri` — the exact encoder Spark's metadata column
    * uses — then strip the scheme. The metadata side needs only
    * [[normalizePathCol]]/[[normalizePathStr]] (already encoded).
    * Without this, path joins silently MISS files under hive-escaped
    * partition directories — deletes would stop applying.
    */
  private[graft] def encodedPathKey(raw: String): String =
    normalizePathStr(new Path(raw).toUri.toString)

  /** [[encodedPathKey]] as a Column — for RAW path VALUES stored in
    * (metadata-sized, broadcast-side) delete files.
    */
  private[graft] def encodedPathKeyCol(c: Column): Column =
    org.apache.spark.sql.functions.udf((s: String) =>
      if (s == null) null else encodedPathKey(s)).apply(c)
  private[graft] def normalizePathCol(c: Column): Column =
    regexp_replace(regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*:", ""),
      "^/+", "/")

  // ------------------------------------------------------- snapshot state

  def snapshotState(spark: SparkSession, tablePath: String,
      snapshotId: Option[Long] = None): SnapshotState = {
    val meta = loadMeta(spark, tablePath)
    val fs = new Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val wanted = snapshotId.orElse(meta.currentSnapshotId).getOrElse(
      throw new IllegalArgumentException(
        s"$tablePath has no current snapshot (empty table)"))
    val snap = meta.snapshots.find(_.snapshotId == wanted).getOrElse(
      throw new IllegalArgumentException(
        s"snapshot $wanted not in $tablePath metadata (expired?)"))
    val manifests: Seq[ManifestInfo] = snap.manifestList match {
      case Some(ml) =>
        val mlPath = new Path(rebase(ml, tablePath, meta.location))
        readAvro(fs, mlPath).map { r =>
          ManifestInfo(
            path = text(r.get("manifest_path")),
            length = num(r.get("manifest_length")),
            specId = field(r, "partition_spec_id").map(num(_).toInt).getOrElse(0),
            content = field(r, "content").map(num(_).toInt).getOrElse(0),
            sequenceNumber =
              field(r, "sequence_number").map(num).getOrElse(0L),
            minSequenceNumber =
              field(r, "min_sequence_number").map(num).getOrElse(0L),
            addedSnapshotId =
              field(r, "added_snapshot_id").map(num).getOrElse(snap.snapshotId),
            addedFiles = field(r, "added_files_count",
              "added_data_files_count").map(num(_).toInt).getOrElse(0),
            existingFiles = field(r, "existing_files_count",
              "existing_data_files_count").map(num(_).toInt).getOrElse(0),
            deletedFiles = field(r, "deleted_files_count",
              "deleted_data_files_count").map(num(_).toInt).getOrElse(0),
            addedRows = field(r, "added_rows_count").map(num).getOrElse(0L),
            existingRows = field(r, "existing_rows_count").map(num).getOrElse(0L),
            deletedRows = field(r, "deleted_rows_count").map(num).getOrElse(0L))
        }
      case None =>
        // v1 inline `manifests`: data manifests only, unknown lengths
        snap.inlineManifests.map(p =>
          ManifestInfo(p, 0L, 0, 0, 0L, 0L, snap.snapshotId, 0, 0, 0, 0L, 0L, 0L))
    }
    val data = mutable.ArrayBuffer.empty[FileEntry]
    val posDeletes = mutable.ArrayBuffer.empty[FileEntry]
    val eqDeletes = mutable.ArrayBuffer.empty[FileEntry]
    manifests.foreach { m =>
      val mPath = new Path(rebase(m.path, tablePath, meta.location))
      readAvro(fs, mPath).foreach { e =>
        val status = num(e.get("status")).toInt
        if (status != 2) { // 2 = DELETED entry: file left the table
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          val content = field(df, "content").map(num(_).toInt).getOrElse(0)
          val entry = FileEntry(
            path = rebase(text(df.get("file_path")), tablePath, meta.location),
            format = text(df.get("file_format")).toUpperCase,
            content = content,
            recordCount = num(df.get("record_count")),
            fileSize = field(df, "file_size_in_bytes").map(num).getOrElse(0L),
            lowerBounds = boundsOf(df, "lower_bounds"),
            upperBounds = boundsOf(df, "upper_bounds"),
            // null entry seq inherits the manifest's (spec inheritance)
            seq = field(e, "sequence_number").map(num)
              .getOrElse(m.sequenceNumber),
            equalityIds = field(df, "equality_ids") match {
              case Some(c: java.util.Collection[_]) =>
                c.asScala.toSeq.map(v => num(v).toInt)
              case _ => Nil
            },
            partValues = df.get("partition") match {
              case pr: GenericRecord =>
                pr.getSchema.getFields.asScala.map { fld =>
                  fld.name -> (pr.get(fld.name) match {
                    case u: org.apache.avro.util.Utf8 => u.toString
                    case other => other
                  })
                }.toMap
              case _ => Map.empty
            },
            addedSnapshotId = field(e, "snapshot_id").map(num)
              .getOrElse(m.addedSnapshotId))
          content match {
            case 0 => data += entry
            case 1 => posDeletes += entry
            case 2 =>
              require(entry.equalityIds.nonEmpty,
                s"equality delete file ${entry.path} lists no equality_ids")
              eqDeletes += entry
          }
        }
      }
    }
    // PARQUET scans through Spark's parquet source, ORC through its
    // ORC source (position-delete-targeted ORC files upgrade to the
    // orc-core row reader [[IcebergOrcData]] for exact ordinals), AVRO
    // through [[IcebergAvroData]] (exact positions in-decode).
    // Anything else is loud.
    (data ++ posDeletes ++ eqDeletes).foreach(f =>
      require(f.format == "PARQUET" || f.format == "ORC" ||
          f.format == "AVRO",
        s"data file ${f.path} has unknown file_format ${f.format} — " +
          "the native reader scans PARQUET/ORC/AVRO"))
    SnapshotState(meta, snap, manifests, data.toSeq, posDeletes.toSeq,
      eqDeletes.toSeq)
  }

  /** Top-level parquet columns of one file: field id → name (ids the
    * writer stamped) plus every top-level name. KB footer read.
    */
  private def parquetTopFields(
      conf: org.apache.hadoop.conf.Configuration,
      path: String): (Map[Int, String], Set[String]) = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new Path(path), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val fields = r.getFooter.getFileMetaData.getSchema.getFields.asScala
      (fields.flatMap(t => Option(t.getId)
          .map(_.intValue -> t.getName)).toMap,
        fields.map(_.getName).toSet)
    } finally r.close()
  }

  /** Top-level ORC columns of one file: `iceberg.id` attribute → name
    * plus every top-level name. Footer read.
    */
  private def orcTopFields(conf: org.apache.hadoop.conf.Configuration,
      path: String): (Map[Int, String], Set[String]) = {
    val r = org.apache.orc.OrcFile.createReader(new Path(path),
      org.apache.orc.OrcFile.readerOptions(conf))
    try {
      val names = r.getSchema.getFieldNames.asScala.toSeq
      val kids = r.getSchema.getChildren.asScala.toSeq
      (names.zip(kids).flatMap { case (n, t) =>
        Option(t.getAttributeValue("iceberg.id")).map(_.toInt -> n)
      }.toMap, names.toSet)
    } finally r.close()
  }

  /** Parse the spec's `schema.name-mapping.default` JSON (top level):
    * field id → the names that resolve to it, for id-less files.
    */
  private[sources] def parseNameMapping(
      json: String): Map[Int, Seq[String]] =
    mapper.readTree(json).elements.asScala.flatMap { e =>
      for {
        id <- Option(e.get("field-id")).map(_.asInt)
        names <- Option(e.get("names"))
      } yield id -> names.elements.asScala.map(_.asText).toSeq
    }.toMap

  // ----------------------------------------------------------------- read

  /** Scan data files under the CURRENT schema, resolving each file's
    * columns by FIELD ID through the schema it was written under (the
    * file's adding snapshot → schema-id → historical field names): the
    * spec's id indirection that makes renames metadata-only. Files from
    * unknown/identical schemas read directly; a column whose id didn't
    * exist yet reads null (add-column evolution), a historically-named
    * column reads under its old parquet name and surfaces renamed.
    */
  private def scanData(spark: SparkSession, st: SnapshotState,
      files: Seq[FileEntry], withPos: Boolean = false,
      /** encodedPathKey()s of files whose `__ice_pos` must be EXACT row
        * ordinals. Parquet/avro scans are always exact; ORC files in
        * this set pay [[IcebergOrcData]]'s row reader (Spark's ORC
        * source has no row index), the rest scan vectorized with null
        * ordinals — which only ever join against delete coordinates
        * that name OTHER files.
        */
      exactPos: Set[String] = Set.empty): DataFrame = {
    val cur = st.meta.schema
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], cur)
    val curIds = st.meta.fieldIds
    // schema-id → (field id → historical name), from the schemas history
    val histNames: Map[Int, Map[Int, String]] = st.meta.schemasJson
      .flatMap { js =>
        val n = mapper.readTree(js)
        Option(n.get("schema-id")).map(_.asInt).map { sid =>
          sid -> Option(n.get("fields")).toSeq
            .flatMap(_.elements.asScala)
            .map(f => f.get("id").asInt -> f.get("name").asText).toMap
        }
      }.toMap
    val snapSchema: Map[Long, Int] = st.meta.snapshots
      .flatMap(s => s.schemaId.map(s.snapshotId -> _)).toMap
    // per file: current name → the name it carries in the parquet
    def renames(f: FileEntry): Map[String, String] =
      snapSchema.get(f.addedSnapshotId).flatMap(histNames.get) match {
        case None => Map.empty
        case Some(hist) => cur.fields.iterator.flatMap { fld =>
          curIds.get(fld.name).flatMap(hist.get)
            .filter(_ != fld.name).map(fld.name -> _)
        }.toMap
      }
    // STRICT FIELD-ID RESOLUTION (the spec's rule, and the one case
    // schema history cannot cover): a FOREIGN file whose physical
    // column names match no historical schema — e.g. a Databricks
    // UniForm table whose parquet carries delta `col-<uuid>` physical
    // names with field ids — would read silent NULLS by name. Per
    // (rename, format, addedSnapshotId) sub-group, ONE representative
    // footer (KB, driver) is probed — files of one snapshot share a
    // writer, so a mixed graft+foreign group can't hide behind one
    // representative; only sub-groups whose probe disagrees with the
    // name-based map pay per-file footer reads (bounded-parallel),
    // resolving current name → file name by FILE field ids first,
    // then the table's recorded `schema.name-mapping.default` for
    // id-less files, then the history map. Graft's own files (ids
    // stamped, names = historical names) always take the probe's
    // fast path.
    val hconf = spark.sparkContext.hadoopConfiguration
    val nmNames: Map[Int, Seq[String]] =
      tableProperties(st.meta).get("schema.name-mapping.default")
        .map(parseNameMapping).getOrElse(Map.empty)
    def footerRenames(f: FileEntry,
        base: Map[String, String]): Map[String, String] = {
      val (byId, inFile) = f.format match {
        case "PARQUET" => parquetTopFields(hconf, f.path)
        case "ORC" => orcTopFields(hconf, f.path)
        case _ => (Map.empty[Int, String], Set.empty[String])
      }
      if (byId.isEmpty && nmNames.isEmpty) base
      else cur.fields.iterator.flatMap { fld =>
        curIds.get(fld.name) match {
          case None => base.get(fld.name).map(fld.name -> _)
          case Some(id) => byId.get(id) match {
            case Some(n) =>
              if (n != fld.name) Some(fld.name -> n) else None
            case None =>
              nmNames.getOrElse(id, Nil).find(inFile.contains)
                .filter(_ != fld.name).map(fld.name -> _)
                .orElse(base.get(fld.name).map(fld.name -> _))
          }
        }
      }.toMap
    }
    def resolveGroups(groups: Seq[((Map[String, String], String,
        Boolean), Seq[FileEntry])]): Seq[((Map[String, String], String,
        Boolean), Seq[FileEntry])] =
      groups.flatMap { case (key @ (rn, fmt, reg), fls) =>
        if (fmt == "AVRO") Seq(key -> fls) // avro decode is id-resolving
        else {
          // one probe per ADDED-SNAPSHOT sub-group: files of one
          // snapshot share a writer, so a MIXED group — graft-stamped
          // files plus foreign physical-named files (e.g. UniForm
          // col-<uuid> parquet) under the same empty rename key —
          // cannot hide behind whichever file happens to come first
          val bySnap = fls.groupBy(_.addedSnapshotId).values.toSeq
          val probed = boundedPar(bySnap) { sf =>
            (try footerRenames(sf.head, rn)
             catch { case _: Exception => rn }, // unreadable → name path
              sf)
          }
          val (agree, disagree) = probed.partition(_._1 == rn)
          // a disagreeing snapshot group pays per-file footer reads —
          // bounded-PARALLEL (the [[ParquetFooterStats.readAll]]
          // pattern): a 50k-file foreign mapped table must not stall
          // planning on serial KB round-trips
          val perFile = boundedPar(disagree.flatMap(_._2)) { f =>
            (try footerRenames(f, rn)
             catch { case _: Exception => rn }) -> f
          }
          val merged = collection.mutable.LinkedHashMap
            .empty[Map[String, String], Seq[FileEntry]]
          if (agree.nonEmpty) merged(rn) = agree.flatMap(_._2)
          perFile.foreach { case (r2, f) =>
            merged(r2) = merged.getOrElse(r2, Nil) :+ f
          }
          merged.toSeq.map { case (r2, fl2) => ((r2, fmt, reg), fl2) }
        }
      }
    // IDENTITY CONSTANT PROJECTION (spec §Column Projection rule 2):
    // an identity-partitioned source column's value is the file's
    // recorded partition constant. Files REGISTERED in place —
    // [[addFiles]] migrations and UniForm conversions — don't carry
    // the column in the parquet at all; reading it from the file
    // would surface silent nulls, so THOSE files project the manifest
    // tuple instead. Natively staged files DO carry the column and
    // keep the plain single scan (projecting them too would be exact
    // but costs either a scan-per-tuple fan-out or a per-row path
    // join — measured 1.8x on partitioned-merge benches). Detection:
    // registration commits stamp `graft.in-place-registration` in
    // their snapshot summary; the table property
    // `graft.iceberg.identity-projection=always` extends the
    // projection to FOREIGN migrated tables (iceberg-java add_files
    // writes no such marker).
    val idToName0 = curIds.map(_.swap)
    val identSrc: Seq[(String, String, DataType)] =
      st.meta.partitionFields.filter(_.transform == "identity")
        .flatMap { pf =>
          val src = idToName0.getOrElse(pf.sourceId, pf.name)
          cur.fields.find(_.name == src)
            .filter(f => projectablePartType(f.dataType))
            .map(f => (pf.name, src, f.dataType))
        }
    val projectAll = identSrc.nonEmpty &&
      tableProperties(st.meta).get("graft.iceberg.identity-projection")
        .contains("always")
    val registeredSnaps: Set[Long] =
      if (identSrc.isEmpty) Set.empty
      else st.meta.snapshots.filter(_.summary
          .get("graft.in-place-registration").contains("true"))
        .map(_.snapshotId).toSet
    def inPlace(f: FileEntry): Boolean =
      projectAll || registeredSnaps.contains(f.addedSnapshotId)
    resolveGroups(files.groupBy(f =>
        (renames(f), f.format, inPlace(f))).toSeq).map {
        case ((rn, fmt, reg), fls) =>
      val readSchema =
        if (rn.isEmpty) cur
        else StructType(cur.fields.map(f =>
          f.copy(name = rn.getOrElse(f.name, f.name))))
      val paths = fls.map(_.path)
      val staged = fmt match {
        case "PARQUET" =>
          val proj =
            if (!reg) Nil
            else identSrc.filter { case (pfn, _, _) =>
              fls.forall(_.partValues.contains(pfn)) }
          if (proj.isEmpty) {
            val scanned = spark.read.schema(readSchema).parquet(paths: _*)
            if (!withPos) scanned
            else scanned
              .withColumn("__ice_file",
                normalizePathCol(col("_metadata.file_path")))
              .withColumn("__ice_pos", col("_metadata.row_index"))
          } else {
            val projRead = proj.map { case (_, src, _) =>
              rn.getOrElse(src, src) }.toSet
            val readSchema2 = StructType(
              readSchema.fields.filterNot(f => projRead(f.name)))
            def scanned(ps: Seq[String]): DataFrame = {
              val base0 = spark.read.schema(readSchema2).parquet(ps: _*)
              if (withPos) base0
                .withColumn("__ice_file",
                  normalizePathCol(col("_metadata.file_path")))
                .withColumn("__ice_pos", col("_metadata.row_index"))
              else base0
            }
            val ordered = (readSchema.fieldNames.map(col) ++
              (if (withPos) Seq(col("__ice_file"), col("__ice_pos"))
               else Nil)).toIndexedSeq
            // per-tuple scans inject the constants as LITERALS — zero
            // row-level work; above the fan-out cap, ONE scan + a
            // broadcast path→tuple join keeps the plan constant-size
            // (the join key pays a per-row path normalization, so the
            // literal path is preferred while the plan stays small)
            val byTuple = fls.groupBy(f =>
              proj.map { case (pfn, _, _) => f.partValues(pfn) })
            val cap = spark.conf
              .getOption("graft.iceberg.partitionUnionLimit")
              .map(_.toInt).getOrElse(64)
            if (byTuple.size <= cap)
              byTuple.toSeq.map { case (tupleVals, tfls) =>
                proj.zip(tupleVals).foldLeft(scanned(tfls.map(_.path))) {
                  case (d, ((_, src, dt), v)) =>
                    d.withColumn(rn.getOrElse(src, src),
                      lit(typedPartValue(dt, v)).cast(dt))
                }.select(ordered: _*)
              }.reduce(_.unionByName(_))
            else {
              val base = scanned(paths)
                .withColumn("__ice_pvk",
                  normalizePathCol(col("_metadata.file_path")))
              val pvSchema = StructType(
                StructField("__ice_pvk", StringType, nullable = false) +:
                proj.map { case (_, src, dt) =>
                  StructField(rn.getOrElse(src, src), dt) })
              val pvRows = fls.map { f =>
                org.apache.spark.sql.Row.fromSeq(encodedPathKey(f.path) +:
                  proj.map { case (pfn, _, dt) =>
                    typedPartValue(dt, f.partValues(pfn)) })
              }
              val pvDf = spark.createDataFrame(
                spark.sparkContext.parallelize(pvRows, 1), pvSchema)
              base.join(org.apache.spark.sql.functions.broadcast(pvDf),
                  Seq("__ice_pvk"), "left")
                .select(ordered: _*)
            }
          }
        case "ORC" =>
          val (exactFls, vecFls) =
            if (!withPos || exactPos.isEmpty) (Nil, fls)
            else fls.partition(f => exactPos(encodedPathKey(f.path)))
          val parts = Seq(
            Option.when(vecFls.nonEmpty) {
              val scanned = spark.read.schema(readSchema)
                .orc(vecFls.map(_.path): _*)
              if (!withPos) scanned
              else scanned
                .withColumn("__ice_file",
                  normalizePathCol(col("_metadata.file_path")))
                // Spark's ORC source has no `_metadata.row_index`; a
                // null position never equals a delete's (file, pos)
                // key, so files OUTSIDE `exactPos` stay correct and
                // keep the vectorized scan.
                .withColumn("__ice_pos",
                  org.apache.spark.sql.functions.lit(null).cast("long"))
            },
            Option.when(exactFls.nonEmpty) {
              IcebergOrcData.scanWithPos(spark, readSchema,
                  exactFls.map(_.path))
                // the row reader carries the RAW manifest path — encode
                // it into the same key space as _metadata.file_path
                .withColumn("__ice_file", encodedPathKeyCol(col("__ice_file")))
            }).flatten
          parts.reduce(_.unionByName(_))
        case "AVRO" =>
          val scanned =
            IcebergAvroData.scan(spark, readSchema, paths, withPos)
          if (!withPos) scanned
          else scanned.withColumn("__ice_file",
            normalizePathCol(col("__ice_file")))
        case other => throw new IllegalArgumentException(
          s"unknown data file format $other")
      }
      if (rn.isEmpty) staged
      else staged.select((cur.fields.map(f =>
          col(rn.getOrElse(f.name, f.name)).as(f.name)) ++
        (if (withPos) Seq(col("__ice_file"), col("__ice_pos"))
         else Nil)).toIndexedSeq: _*)
    }.reduce(_.unionByName(_))
  }

  /** The table snapshot as a DataFrame — latest, or pinned to
    * `snapshotId` (time travel). Position deletes apply as one
    * distributed anti join on (normalized file path, row position).
    *
    * `where` both FILTERS the result and PRUNES at the manifest level:
    * conjuncts over partition-source columns are evaluated through the
    * spec's transforms against each file's recorded partition values,
    * so a day- or bucket-partitioned table scans only the matching
    * partitions (the scale path for foreign partitioned tables).
    * Unrecognized predicate shapes simply don't prune — never wrong,
    * just unpruned.
    */
  def read(spark: SparkSession, tablePath: String,
      snapshotId: Option[Long] = None,
      where: Option[Column] = None): DataFrame = {
    val st0 = snapshotState(spark, tablePath, snapshotId)
    val st = where match {
      case Some(w) if st0.meta.partitionFields.nonEmpty =>
        val prunedData = prunePartitions(st0, w)
        // position-delete files are PARTITION-SCOPED (spec: they apply
        // only to data files of their own partition) — a delete file
        // whose tuple matches no surviving data file cannot suppress
        // anything, so the anti join drops entirely for untouched
        // partitions. Delete entries without recorded tuples (older
        // writers) conservatively stay.
        val liveTuples = prunedData.map(_.partValues).toSet
        val prunedDeletes = st0.posDeleteFiles.filter(f =>
          f.partValues.isEmpty || liveTuples.contains(f.partValues))
        st0.copy(dataFiles = prunedData, posDeleteFiles = prunedDeletes)
      case _ => st0
    }
    val base =
      if (st.dataFiles.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          st.meta.schema)
      else if (st.posDeleteFiles.isEmpty && st.eqDeleteFiles.isEmpty)
        scanData(spark, st, st.dataFiles)
      else aliveWithPos(spark, st)
        .select(st.meta.schema.fieldNames.map(col).toIndexedSeq: _*)
    where.map(base.filter).getOrElse(base)
  }

  /** TIME TRAVEL BY TIMESTAMP (the iceberg runtime's `as-of-timestamp`
    * rule): the latest snapshot whose `timestamp-ms` is at or before
    * `tsMillis` — pass the returned id to [[read]]'s `snapshotId`.
    * Refuses loudly before the first snapshot (no state existed).
    */
  def snapshotAtTimestamp(spark: SparkSession, tablePath: String,
      tsMillis: Long): Long = {
    val meta = loadMeta(spark, tablePath)
    val eligible = meta.snapshots.filter(_.timestampMs <= tsMillis)
    require(eligible.nonEmpty,
      s"no snapshot of $tablePath at or before timestamp $tsMillis " +
        s"(earliest is ${meta.snapshots.map(_.timestampMs).minOption
          .getOrElse(-1L)})")
    eligible.maxBy(s => (s.timestampMs, s.sequenceNumber)).snapshotId
  }

  // ------------------------------------ transform-aware partition pruning

  /** Data files that could hold rows matching `where` given their
    * manifest-recorded partition values — each supported conjunct
    * (=, <, <=, >, >=, IS NULL, IS NOT NULL over a partition SOURCE
    * column vs a literal) is pushed through the field's transform;
    * a file survives unless some conjunct is provably unsatisfiable.
    * Exposed package-private for pruning tests.
    */
  private[graft] def prunePartitions(st: SnapshotState,
      where: Column): Seq[FileEntry] = {
    val idToName = st.meta.fieldIds.map(_.swap)
    val srcType = st.meta.schema.fields.map(f => f.name -> f.dataType).toMap
    // partition fields by SOURCE column name, with parsed transforms
    // (unknown transforms → field never prunes)
    val bySrc: Map[String, Seq[(PartSpecField, IcebergTransforms.Transform)]] =
      st.meta.partitionFields.flatMap { f =>
        val src = idToName.getOrElse(f.sourceId, f.name)
        try Some(src -> (f, IcebergTransforms.parse(f.transform)))
        catch { case _: IllegalArgumentException => None }
      }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val preds = org.apache.spark.sql.graft.ColumnBridge
      .simpleConjuncts(where)
      .filter { case (c, op, v) => bySrc.contains(c) &&
        (v != null || op == "null" || op == "notnull") }
    if (preds.isEmpty) return st.dataFiles
    st.dataFiles.filter { f =>
      preds.forall { case (src, op, litv) =>
        bySrc(src).forall { case (pf, t) =>
          f.partValues.get(pf.name) match {
            case None => true // manifest without this field: keep
            case Some(pv) =>
              !contradicts(pv, t, srcType.getOrElse(src, NullType),
                op, litv)
          }
        }
      }
    }
  }

  /** Widen/narrow a literal to the source column's type so the
    * transform functions see the value space they expect (`=== 34` on a
    * long column arrives as an Int literal).
    */
  private def coerceLit(srcType: DataType, v: Any): Any =
    (srcType, v) match {
      case (LongType, i: Int) => i.toLong
      case (IntegerType, l: Long) if l.isValidInt => l.toInt
      case (DoubleType, n: Number) => n.doubleValue
      case (FloatType, n: Number) => n.floatValue
      case (DateType, d: java.time.LocalDate) => java.sql.Date.valueOf(d)
      case _ => v
    }

  /** True iff NO row in a file with partition value `pv` (for a field
    * with transform `t` over a source of `srcType`) can satisfy
    * `<source> <op> <litv>`. Conservative: unknown shapes return false.
    */
  private def contradicts(pv: Any, t: IcebergTransforms.Transform,
      srcType: DataType, op: String, litv0: Any): Boolean = {
    import IcebergTransforms._
    if (op == "null") return pv != null // transform(null) = null always
    if (op == "notnull") return pv == null
    if (pv == null) return true // all-null source can't match a literal
    val litv = coerceLit(srcType, litv0)
    // transform of the literal, in the partition-value comparison space
    val tl: Option[Any] =
      try t match {
        case Bucket(n) =>
          if (op == "=") Some(bucketValue(srcType, litv, n)) else None
        case tr => Some(eval(tr, srcType, litv))
      } catch { case _: IllegalArgumentException => None }
    tl match {
      case None => false
      case Some(tlit) =>
        cmpPartValues(pv, tlit) match {
          case None => false
          case Some(c) => op match {
            case "=" => c != 0
            // monotone transforms: source > v ⇒ t(source) >= t(v)
            case ">" | ">=" => c < 0
            case "<" | "<=" => c > 0
            case _ => false
          }
        }
    }
  }

  /** Compare a manifest-decoded partition value against a transformed
    * literal (both normalized: numbers → Long/Double, dates → epoch
    * days, strings UTF-8 byte order). None = incomparable.
    */
  private def cmpPartValues(pv: Any, tl: Any): Option[Int] = {
    def days(v: Any): Option[Long] = v match {
      case i: Int => Some(i.toLong)
      case i: java.lang.Integer => Some(i.longValue)
      case l: Long => Some(l)
      case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
      case _ => None
    }
    (pv, tl) match {
      case (a: String, b: String) =>
        val ab = a.getBytes("UTF-8"); val bb = b.getBytes("UTF-8")
        val n = math.min(ab.length, bb.length)
        var i = 0; var c = 0
        while (i < n && c == 0) {
          c = java.lang.Integer.compare(ab(i) & 0xff, bb(i) & 0xff); i += 1
        }
        Some(if (c != 0) c
          else java.lang.Integer.compare(ab.length, bb.length))
      case (a: java.lang.Float, b) => cmpNum(a.doubleValue, b)
      case (a: java.lang.Double, b) => cmpNum(a.doubleValue, b)
      case (a, b: java.lang.Float) =>
        cmpNum(b.doubleValue, a).map(-_)
      case (a, b: java.lang.Double) =>
        cmpNum(b.doubleValue, a).map(-_)
      case (a, b) =>
        for { x <- days(a); y <- days(b) }
          yield java.lang.Long.compare(x, y)
    }
  }

  private def cmpNum(a: Double, b: Any): Option[Int] = b match {
    case n: Number => Some(java.lang.Double.compare(a, n.doubleValue))
    case _ => None
  }

  // ---------------------------------------------------------------- write

  // Avro schemas for what we EMIT (format-version 2). Field ids are the
  // spec's (manifest_entry: status=0 snapshot_id=1 data_file=2 seq=3;
  // data_file: content=134 file_path=100 file_format=101 partition=102
  // record_count=103 file_size=104; manifest_file: 500-517). The
  // partition record's fields are the table's partition spec — built
  // per spec by [[manifestEntrySchemaFor]]; [[manifestEntrySchema]] is
  // the unpartitioned form.
  private def avroPartType(dt: DataType): String = dt match {
    case IntegerType | DateType => "\"int\""
    case LongType => "\"long\""
    case StringType => "\"string\""
    case FloatType => "\"float\""
    case DoubleType => "\"double\""
    case other => throw new IllegalArgumentException(
      s"identity partitioning on ${other.sql} is beyond the native writer")
  }

  private[graft] def manifestEntrySchemaFor(
      partFields: Seq[(String, DataType)]): AvroSchema = {
    val pf = partFields.zipWithIndex.map { case ((n, dt), i) =>
      s"""{"name":${mapper.writeValueAsString(n)},""" +
        s""""type":["null",${avroPartType(dt)}],"default":null,""" +
        s""""field-id":${1000 + i}}"""
    }.mkString(",")
    new AvroSchema.Parser().parse(
      manifestEntryTemplate.replace("__PARTITION_FIELDS__", pf))
  }

  private val manifestEntryTemplate: String =
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int","field-id":0},
      |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
      |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
      |{"name":"content","type":"int","field-id":134},
      |{"name":"file_path","type":"string","field-id":100},
      |{"name":"file_format","type":"string","field-id":101},
      |{"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[__PARTITION_FIELDS__]}},
      |{"name":"record_count","type":"long","field-id":103},
      |{"name":"file_size_in_bytes","type":"long","field-id":104},
      |{"name":"equality_ids","field-id":135,"default":null,"type":["null",
      | {"type":"array","items":"int","element-id":136}]},
      |{"name":"lower_bounds","field-id":125,"default":null,"type":["null",
      | {"type":"array","logicalType":"map","items":{"type":"record",
      |  "name":"k126_v127","fields":[
      |   {"name":"key","type":"int","field-id":126},
      |   {"name":"value","type":"bytes","field-id":127}]}}]},
      |{"name":"upper_bounds","field-id":128,"default":null,"type":["null",
      | {"type":"array","logicalType":"map","items":{"type":"record",
      |  "name":"k129_v130","fields":[
      |   {"name":"key","type":"int","field-id":129},
      |   {"name":"value","type":"bytes","field-id":130}]}}]}
      |]}}]}""".stripMargin

  private val manifestEntrySchema: AvroSchema = manifestEntrySchemaFor(Nil)

  private val manifestFileSchema: AvroSchema = new AvroSchema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"content","type":"int","field-id":517},
      |{"name":"sequence_number","type":"long","field-id":515},
      |{"name":"min_sequence_number","type":"long","field-id":516},
      |{"name":"added_snapshot_id","type":"long","field-id":503},
      |{"name":"added_files_count","type":"int","field-id":504},
      |{"name":"existing_files_count","type":"int","field-id":505},
      |{"name":"deleted_files_count","type":"int","field-id":506},
      |{"name":"added_rows_count","type":"long","field-id":512},
      |{"name":"existing_rows_count","type":"long","field-id":513},
      |{"name":"deleted_rows_count","type":"long","field-id":514}
      |]}""".stripMargin)

  private def writeAvroFile(fs: FileSystem, path: Path, schema: AvroSchema,
      records: Seq[GenericRecord], headerMeta: Map[String, String]): Long = {
    val buf = new java.io.ByteArrayOutputStream()
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    headerMeta.foreach { case (k, v) => w.setMeta(k, v) }
    w.create(schema, buf)
    try records.foreach(w.append) finally w.close()
    val out = fs.create(path, false)
    try out.write(buf.toByteArray) finally out.close()
    buf.size().toLong
  }

  /** Top-level columns whose min/max land in the manifest bounds maps
    * (the types [[serializeBound]] covers).
    */
  private def boundsEligible(f: StructField): Boolean = f.dataType match {
    case IntegerType | LongType | FloatType | DoubleType | DateType |
        StringType => true
    case _ => false
  }

  /** One staged data file: absolute path, size, row count, and per-
    * eligible-column (min, max) as JVM values.
    */
  private final case class StagedFile(path: String, size: Long, rows: Long,
      bounds: Map[String, (Any, Any)])

  /** Stage `df` as parquet under `data/` in ONE distributed pass:
    * counts and per-file column min/max come straight from the parquet
    * footers the write produced ([[ParquetFooterStats]]) — no second
    * scan of the staged data.
    */
  private def stageData(spark: SparkSession, df: DataFrame, root: Path,
      fs: FileSystem, subdir: String = "",
      format: String = "PARQUET",
      /** the table's field-id assignment — stamped into avro data file
        * schemas (`field-id` props, the spec's resolution key for
        * foreign readers); positional fallback for internal files.
        */
      fieldIds: Map[String, Int] = Map.empty): Seq[StagedFile] = {
    val dataDir =
      if (subdir.isEmpty) new Path(root, "data")
      else new Path(new Path(root, "data"), subdir)
    fs.mkdirs(dataDir)
    val stage = new Path(root, "stage_" +
      java.util.UUID.randomUUID.toString.take(8))
    if (format == "AVRO") {
      // containers write executor-side with counts + bounds tracked IN
      // the encode pass (no footer to read back), then move into place
      val ids =
        if (fieldIds.nonEmpty) fieldIds else topFieldIds(df.schema)
      val staged = IcebergAvroData.stage(spark, df, stage, ids)
      val moved = staged.map { a =>
        val src = new Path(a.path)
        val tgt = new Path(dataDir, src.getName)
        require(fs.rename(src, tgt),
          s"staging move failed for ${src.getName}")
        val eligible = df.schema.fields.filter(boundsEligible)
          .map(_.name).toSet
        StagedFile(tgt.toString, a.size, a.rows,
          a.bounds.filter { case (n, _) => eligible(n) })
      }
      fs.delete(stage, true)
      return moved
    }
    format match {
      case "PARQUET" => withParquetFieldIds(df, fieldIds)
        .write.mode("overwrite").parquet(stage.toString)
      case "ORC" =>
        // orc-core staging so the field-id assignment lands as
        // `iceberg.id` column attributes (Spark's ORC sink exposes no
        // attribute seam) — strict foreign readers resolve without
        // name-mapping, like the parquet path above
        IcebergOrcWrite.stage(spark, df, stage, fieldIds)
      case other => throw new IllegalArgumentException(
        s"unknown write format $other")
    }
    val parts = fs.listStatus(stage)
      .filter(_.getPath.getName.startsWith("part-")).toIndexedSeq
    // footers read with the bounded pool — never one serialized
    // round-trip per part file
    val stats =
      if (format == "ORC") OrcFooterStats.readAll(
        spark.sparkContext.hadoopConfiguration, parts.map(_.getPath),
        df.schema)
      else ParquetFooterStats.readAll(
        spark.sparkContext.hadoopConfiguration, parts.map(_.getPath),
        df.schema)
    val moved = parts
      .map(s => stagedFileFrom(fs, s.getPath, s.getLen,
        new Path(dataDir, s.getPath.getName), df.schema,
        stats(s.getPath)))
    fs.delete(stage, true)
    moved
  }

  /** Stamp the table's field-id assignment into the parquet schema the
    * staging write produces (`parquet.field.id` field metadata — Spark's
    * writer emits it as the parquet field id when
    * `spark.sql.parquet.fieldId.write.enabled`, on by default): a
    * STRICT field-id-resolving foreign reader (iceberg-java with
    * check-ordering, or any reader ignoring `schema.name-mapping
    * .default`) then resolves graft-written data files without the
    * name-mapping fallback, and the ids survive metadata-only renames
    * because they come from the table's stored assignment, not
    * position. Top-level fields (the native writer's schema surface);
    * ORC staging keeps name-mapping as its documented resolution path
    * (Spark's ORC writer exposes no column-attribute seam).
    */
  private def withParquetFieldIds(df: DataFrame,
      ids: Map[String, Int]): DataFrame =
    if (ids.isEmpty) df
    else df.select(df.schema.fields.map { f =>
      ids.get(f.name) match {
        case Some(id) =>
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).putLong("parquet.field.id", id.toLong)
          col(f.name).as(f.name, mb.build())
        case None => col(f.name)
      }
    }.toIndexedSeq: _*)

  /** The iceberg spec's RESERVED field ids for position-delete file
    * columns (file_path = 2147483546, pos = 2147483545).
    */
  private val PosDeleteFieldIds: Map[String, Int] =
    Map("file_path" -> 2147483546, "pos" -> 2147483545)

  /** Record one staged file's stats, then move it into place. */
  private def stagedFileFrom(fs: FileSystem,
      src: Path, size: Long, tgt: Path, schema: StructType,
      st: ParquetFooterStats.FileStats): StagedFile = {
    val eligible = schema.fields.filter(boundsEligible)
      .map(_.name).toSet
    val bounds = st.cols.collect {
      case (n, cs) if eligible(n) && cs.bounds.isDefined => n -> cs.bounds.get
    }
    require(fs.rename(src, tgt), s"staging move failed for ${src.getName}")
    StagedFile(tgt.toString, size, st.rows, bounds)
  }

  private def entryRecord(status: Int, snapshotId: Long, seq: Long,
      content: Int, path: String, records: Long, size: Long,
      lower: Map[Int, Array[Byte]] = Map.empty,
      upper: Map[Int, Array[Byte]] = Map.empty,
      equalityIds: Seq[Int] = Nil,
      entrySchema: AvroSchema = manifestEntrySchema,
      partValues: Seq[(String, Any)] = Nil,
      fileFormat: String = "PARQUET"): GenericRecord = {
    val df = new GenericData.Record(
      entrySchema.getField("data_file").schema())
    df.put("content", content)
    if (equalityIds.nonEmpty) {
      val arrSchema = df.getSchema.getField("equality_ids").schema()
        .getTypes.asScala.find(_.getType == AvroSchema.Type.ARRAY).get
      val arr = new GenericData.Array[Integer](equalityIds.size, arrSchema)
      equalityIds.foreach(i => arr.add(Integer.valueOf(i)))
      df.put("equality_ids", arr)
    }
    df.put("file_path", path)
    df.put("file_format", fileFormat)
    val part = new GenericData.Record(
      df.getSchema.getField("partition").schema())
    partValues.foreach { case (n, v) =>
      part.put(n, v match {
        case null => null
        case d: java.sql.Date => Integer.valueOf(d.toLocalDate.toEpochDay.toInt)
        case other => other
      })
    }
    df.put("partition", part)
    df.put("record_count", records)
    df.put("file_size_in_bytes", size)
    def kvArray(fieldName: String, m: Map[Int, Array[Byte]]): Unit =
      if (m.nonEmpty) {
        val arrSchema = df.getSchema.getField(fieldName).schema()
          .getTypes.asScala.find(_.getType == AvroSchema.Type.ARRAY).get
        val arr = new GenericData.Array[GenericRecord](m.size, arrSchema)
        m.toSeq.sortBy(_._1).foreach { case (k, v) =>
          val r = new GenericData.Record(arrSchema.getElementType)
          r.put("key", k)
          r.put("value", java.nio.ByteBuffer.wrap(v))
          arr.add(r)
        }
        df.put(fieldName, arr)
      }
    kvArray("lower_bounds", lower)
    kvArray("upper_bounds", upper)
    val e = new GenericData.Record(entrySchema)
    e.put("status", status)
    e.put("snapshot_id", snapshotId)
    e.put("sequence_number", seq)
    e.put("file_sequence_number", seq)
    e.put("data_file", df)
    e
  }

  private def manifestRecord(m: ManifestInfo): GenericRecord = {
    val r = new GenericData.Record(manifestFileSchema)
    r.put("manifest_path", m.path)
    r.put("manifest_length", m.length)
    r.put("partition_spec_id", m.specId)
    r.put("content", m.content)
    r.put("sequence_number", m.sequenceNumber)
    r.put("min_sequence_number", m.minSequenceNumber)
    r.put("added_snapshot_id", m.addedSnapshotId)
    r.put("added_files_count", m.addedFiles)
    r.put("existing_files_count", m.existingFiles)
    r.put("deleted_files_count", m.deletedFiles)
    r.put("added_rows_count", m.addedRows)
    r.put("existing_rows_count", m.existingRows)
    r.put("deleted_rows_count", m.deletedRows)
    r
  }

  /** Stage a partitioned batch (identity transforms) in ONE distributed
    * pass: a single `partitionBy` write lays the files out per tuple
    * (the partition columns are DUPLICATED under reserved aliases for
    * the directory layout, so the data files retain all source columns
    * — the spec keeps them, unlike Hive), per-file stats come from the
    * parquet footers, and each file's partition tuple is its own
    * (constant) min bound of the source columns. No per-tuple batch
    * re-scan, no upstream recompute.
    *
    * The partition-count bound is a sanity rail against mis-specced
    * tables (a batch normally lands in a handful of partitions);
    * `graft.iceberg.maxPartitionsPerCommit` lifts it.
    */
  private def stagePartitioned(spark: SparkSession, df: DataFrame,
      root: Path, fs: FileSystem, fields: Seq[WriterPartField],
      format: String = "PARQUET",
      fieldIds: Map[String, Int] = Map.empty)
      : Seq[(StagedFile, Seq[(String, Any)])] = {
    require(format != "AVRO",
      "avro data files carry no footer statistics to recover partition " +
        "values from — partitioned tables write parquet or orc " +
        "(write.format.default)")
    val stage = new Path(root, "stage_" +
      java.util.UUID.randomUUID.toString.take(8))
    val alias = fields.map(f => f.name -> s"__gp_${f.name}").toMap
    fields.foreach(f => require(!df.columns.contains(alias(f.name)),
      s"reserved staging column name ${alias(f.name)} present in the batch"))
    val aliased = fields.foldLeft(df)((d, f) => d.withColumn(alias(f.name),
      IcebergTransforms.expr(f.transform, col(f.srcCol), f.srcType)))
    // CLUSTERED staging: hash rows onto their partition tuple so each
    // tuple writes ONE file instead of a sliver per (task × dir) —
    // the small-files problem compaction exists to undo. Opt out with
    // graft.iceberg.clusteredStaging=false for heavily skewed tuples.
    val clustered =
      if (spark.conf.getOption("graft.iceberg.clusteredStaging")
          .forall(_.toBoolean))
        // explicit count so AQE keeps the write parallelism (see the
        // DeltaLite twin)
        aliased.repartition(spark.sessionState.conf.numShufflePartitions,
          fields.map(f => col(alias(f.name))): _*)
      else aliased
    // field-id stamping covers the SOURCE columns that land in the
    // data files; the __gp_* aliases become directories, never columns
    format match {
      case "PARQUET" => withParquetFieldIds(clustered, fieldIds)
        .write.partitionBy(fields.map(f => alias(f.name)): _*)
        .mode("overwrite").parquet(stage.toString)
      case "ORC" =>
        // orc-core staging (field ids as `iceberg.id` attributes):
        // rows are already clustered on their tuple; an in-partition
        // sort groups equal tuples so the writer rolls one file per
        // tuple run under the same hive-escaped dir chain partitionBy
        // produced
        IcebergOrcWrite.stagePartitioned(spark,
          clustered.sortWithinPartitions(
            fields.map(f => col(alias(f.name))): _*),
          stage, fields.map(f => alias(f.name)), fieldIds)
      case other => throw new IllegalArgumentException(
        s"unknown write format $other")
    }
    // every leaf data file, with its stage partition directory chain
    def leaves(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap { s =>
        if (s.isDirectory) leaves(s.getPath)
        else if (s.getPath.getName.startsWith("part-")) Seq(s) else Nil
      }
    val files = leaves(stage)
    val footerStats =
      if (format == "ORC") OrcFooterStats.readAll(
        spark.sparkContext.hadoopConfiguration, files.map(_.getPath),
        df.schema)
      else ParquetFooterStats.readAll(
        spark.sparkContext.hadoopConfiguration, files.map(_.getPath),
        df.schema)
    val staged = files.map(s => (s, footerStats(s.getPath)))
    // Partition value per file. IDENTITY fields recover the typed value
    // from the file's own footer bounds (constant per file by layout),
    // with the stage directory chain as a cross-check: a dir segment
    // that says non-null while the footer yields no value would mean
    // truncated/absent stats — refuse rather than mis-partition.
    // DERIVED transforms parse the (simply-typed) transform value back
    // from the directory segment Spark wrote.
    val maxParts = spark.conf
      .getOption("graft.iceberg.maxPartitionsPerCommit")
      .map(_.toInt).getOrElse(256)
    val tupleOf = staged.map { case (s, st) =>
      val dirSegs = Iterator.iterate(s.getPath.getParent)(_.getParent)
        .takeWhile(_ != null).map(_.getName)
        .filter(_.contains("=")).map { seg =>
          val i = seg.indexOf('=')
          seg.substring(0, i) -> seg.substring(i + 1)
        }.toMap
      s.getPath -> fields.map { f =>
        val dirRaw = dirSegs.getOrElse(alias(f.name),
          throw new IllegalStateException(
            s"no stage dir segment for ${f.name} at ${s.getPath}"))
        val dirNull = dirRaw == "__HIVE_DEFAULT_PARTITION__"
        val v = f.transform match {
          case IcebergTransforms.Identity =>
            val fv = st.cols.get(f.srcCol).flatMap(_.bounds)
            require(fv.isDefined != dirNull,
              s"partition value recovery for '${f.srcCol}' disagrees " +
                s"with the stage layout at ${s.getPath} (footer stats " +
                "truncated?)")
            fv.foreach { case (mn, mx) => require(mn == mx,
              s"partition column '${f.srcCol}' is not constant within " +
                s"staged file ${s.getPath} — partitionBy layout violated")
            }
            fv.map(_._1).orNull
          case _ =>
            if (dirNull) null
            else parseDirValue(f.resType, unescapeDirValue(dirRaw))
        }
        f.name -> v
      }
    }.toMap
    val distinctTuples = tupleOf.values.map(_.map { case (c, v) =>
      c -> Option(v) }).toSet
    require(distinctTuples.size <= maxParts,
      s"one commit may write at most $maxParts partitions, got " +
        s"${distinctTuples.size} — split the batch, drop the partition " +
        "spec, or raise graft.iceberg.maxPartitionsPerCommit")
    val out = staged.map { case (s, st) =>
      val vals = tupleOf(s.getPath)
      val dir = vals.map { case (c, v) =>
        // __HIVE_DEFAULT_PARTITION__ for null — never collides with a
        // real string value the way a literal "null" segment would
        val enc = if (v == null) "__HIVE_DEFAULT_PARTITION__"
          else java.net.URLEncoder.encode(v.toString, "UTF-8")
        s"$c=$enc"
      }.mkString("/")
      val dataDir = new Path(new Path(root, "data"), dir)
      fs.mkdirs(dataDir)
      val eligible = df.schema.fields.filter(boundsEligible)
        .map(_.name).toSet
      val bounds = st.cols.collect {
        case (n, cs) if eligible(n) && cs.bounds.isDefined =>
          n -> cs.bounds.get
      }
      val tgt = new Path(dataDir, s.getPath.getName)
      require(fs.rename(s.getPath, tgt),
        s"staging move failed for ${s.getPath.getName}")
      (StagedFile(tgt.toString, s.getLen, st.rows, bounds), vals)
    }
    fs.delete(stage, true)
    out
  }

  /** Inverse of Spark's hive-style partition dir escaping (%XX for the
    * reserved/control ASCII set; multi-byte chars pass through raw).
    */
  private[sources] def unescapeDirValue(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length + 1 && i + 3 <= s.length) {
        try {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** A transform RESULT value parsed back from its stage dir segment
    * (transform results are simply typed: int/long/string/date).
    */
  private def parseDirValue(resType: DataType, s: String): Any =
    resType match {
      case IntegerType => s.toInt
      case LongType => s.toLong
      case StringType => s
      case DateType => java.sql.Date.valueOf(s)
      case other => throw new IllegalArgumentException(
        s"unsupported partition value type ${other.sql}")
    }

  /** Source-column types the identity constant projection covers
    * (everything the manifest partition tuple encodes losslessly and
    * [[typedPartValue]] converts) — other types read from the file.
    */
  private def projectablePartType(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | StringType | DateType | BooleanType |
         FloatType | DoubleType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** An avro-decoded manifest partition value → the Spark EXTERNAL
    * value of the source column's type (what `createDataFrame` Rows
    * carry): dates arrive as epoch-day ints, timestamps as micros.
    */
  private def typedPartValue(dt: DataType, v: Any): Any = (dt, v) match {
    case (_, null) => null
    case (DateType, i: java.lang.Integer) =>
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(i.longValue))
    case (TimestampType, l: java.lang.Long) =>
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        Math.floorDiv(l.longValue, 1000000L),
        Math.floorMod(l.longValue, 1000000L) * 1000L))
    case (TimestampNTZType, l: java.lang.Long) =>
      java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(l.longValue, 1000000L),
        (Math.floorMod(l.longValue, 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC)
    case (LongType, i: java.lang.Integer) => i.longValue
    case (IntegerType, l: java.lang.Long) => l.intValue
    case _ => v
  }

  /** Bounded-parallel map over driver-side metadata IO (footer probes,
    * KB reads) — order-preserving, first failure rethrown. The same
    * shape [[ParquetFooterStats.readAll]] uses; kept local so planning
    * paths never serialize per-file round-trips.
    */
  private def boundedPar[A, B](xs: Seq[A], parallelism: Int = 16)(
      f: A => B): Seq[B] = {
    if (xs.isEmpty) return Nil
    if (xs.lengthCompare(1) == 0) return Seq(f(xs.head))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(parallelism, xs.length))
    try {
      val tasks = new java.util.ArrayList[
        java.util.concurrent.Callable[B]](xs.length)
      xs.foreach(x => tasks.add(() => f(x)))
      val out = Seq.newBuilder[B]
      pool.invokeAll(tasks).forEach { fut =>
        out +=
          (try fut.get()
           catch { case e: java.util.concurrent.ExecutionException =>
             throw e.getCause
           })
      }
      out.result()
    } finally { pool.shutdown(); () }
  }

  /** Top-level column name → assigned field id (the same assignment
    * [[schemaNode]] writes into the metadata, so manifest bounds keys
    * and schema ids always agree).
    */
  private def topFieldIds(schema: StructType): Map[String, Int] = {
    val (n, _) = schemaNode(schema)
    n.get("fields").elements.asScala
      .map(f => f.get("name").asText -> f.get("id").asInt).toMap
  }

  /** Serialized per-column bounds of one staged file, keyed by field id. */
  private def boundBytes(schema: StructType, ids: Map[String, Int],
      bounds: Map[String, (Any, Any)],
      side: ((Any, Any)) => Any): Map[Int, Array[Byte]] =
    bounds.flatMap { case (name, mm) =>
      for {
        id <- ids.get(name)
        f <- schema.fields.find(_.name == name)
        b <- serializeBound(f.dataType, side(mm))
      } yield id -> b
    }

  /** Iceberg schema JSON node for the metadata file. Ids assign
    * positionally (pre-order counter) UNLESS the schema carries
    * explicit ids — `parquet.field.id` StructField metadata plus
    * `parquet.field.nested.ids` member maps, the shape
    * [[DeltaLite.syncUniform]] registers — in which case the declared
    * ids are written VERBATIM (they must match the parquet-stamped
    * footers, and positional numbering diverges once containers burn
    * member ids). Explicit schemas must resolve EVERY field and
    * member, uniquely — loud otherwise, never silent drift.
    */
  private def schemaNode(schema: StructType): (JsonNode, Int) = {
    val explicit = explicitIds(schema)
    var id = 0
    val idAt: Seq[String] => Int =
      if (explicit.isEmpty) { _ => id += 1; id }
      else {
        require(explicit.values.toSeq.distinct.size == explicit.size,
          s"explicit field ids collide: $explicit")
        p => {
          val key = p.mkString(".")
          val v = explicit.getOrElse(key,
            throw new IllegalArgumentException(
              s"schema carries explicit field ids but '$key' resolves " +
                "none — explicit-id registration must cover every " +
                "field and list/map member"))
          id = math.max(id, v); v
        }
      }
    val node = icebergType(schema, Nil, idAt).asInstanceOf[JsonNode]
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.put("schema-id", 0)
    (node, id)
  }

  /** Explicit id declarations a schema carries: full dot-path → id for
    * every named field with `parquet.field.id` metadata plus every
    * `parquet.field.nested.ids` member entry (keys are already full
    * paths). Empty for ordinary schemas → positional assignment.
    */
  private def explicitIds(schema: StructType): Map[String, Int] = {
    val acc = collection.mutable.Map.empty[String, Int]
    def field(f: StructField, prefix: Seq[String]): Unit = {
      val p = prefix :+ f.name
      if (f.metadata.contains("parquet.field.id"))
        acc(p.mkString(".")) = f.metadata.getLong("parquet.field.id").toInt
      ParquetIdStamp.nestedIdsOf(f).foreach { case (k, v) =>
        acc(k) = v.toInt
      }
      walk(f.dataType, p)
    }
    def walk(dt: DataType, p: Seq[String]): Unit = dt match {
      case st: StructType => st.fields.foreach(field(_, p))
      case a: ArrayType => walk(a.elementType, p :+ "element")
      case m: MapType =>
        walk(m.keyType, p :+ "key"); walk(m.valueType, p :+ "value")
      case _ => ()
    }
    schema.fields.foreach(field(_, Nil))
    acc.toMap
  }

  /** The spec's name-mapping JSON for a schema node (ids already
    * assigned): `[{"field-id":N,"names":["col"],"fields":[…]}]`, with
    * list/map members under their structural names element/key/value.
    * Recorded as `schema.name-mapping.default` at table creation so
    * field-id-resolving readers can resolve graft-staged data files
    * (which carry no embedded field-id attributes).
    */
  private def nameMappingJson(schNode: JsonNode): String = {
    import com.fasterxml.jackson.databind.node.ArrayNode
    def nested(t: JsonNode): Option[ArrayNode] =
      if (!t.isObject) None
      else t.get("type").asText match {
        case "struct" => Some(mapFields(t.get("fields")))
        case "list" =>
          val arr = mapper.createArrayNode()
          val e = arr.addObject()
          e.put("field-id", t.get("element-id").asInt)
          e.putArray("names").add("element")
          nested(t.get("element")).foreach(n => e.set[JsonNode]("fields", n))
          Some(arr)
        case "map" =>
          val arr = mapper.createArrayNode()
          val k = arr.addObject()
          k.put("field-id", t.get("key-id").asInt)
          k.putArray("names").add("key")
          val v = arr.addObject()
          v.put("field-id", t.get("value-id").asInt)
          v.putArray("names").add("value")
          nested(t.get("value")).foreach(n => v.set[JsonNode]("fields", n))
          Some(arr)
        case _ => None
      }
    def mapFields(fieldsArr: JsonNode): ArrayNode = {
      val arr = mapper.createArrayNode()
      fieldsArr.elements.asScala.foreach { f =>
        val e = arr.addObject()
        e.put("field-id", f.get("id").asInt)
        e.putArray("names").add(f.get("name").asText)
        nested(f.get("type")).foreach(n => e.set[JsonNode]("fields", n))
      }
      arr
    }
    mapFields(schNode.get("fields")).toString
  }

  /** Commit one snapshot: write the new manifest(s) + manifest list,
    * then claim `v<N+1>.metadata.json` put-if-absent. Each element of
    * `newManifests` is (entries, content 0=data/1=deletes, addedRows) —
    * a MERGE commits a delete manifest AND a data manifest in the SAME
    * atomic snapshot. Returns the snapshot id.
    */
  private def commit(spark: SparkSession, tablePath: String,
      prior: Option[SnapshotState], schema: StructType,
      newManifests: Seq[(Seq[GenericRecord], Int, Long)],
      carryForward: Seq[ManifestInfo], operation: String,
      snapshotId: Long, extraSummary: Map[String, String] = Map.empty,
      partitionSpec: Seq[PartSpecField] = Nil,
      /** per-newManifests partition-spec id (default 0 = the table
        * spec) — global equality deletes ride spec 1 (unpartitioned).
        */
      manifestSpecIds: Seq[Int] = Nil,
      /** extra specs this commit introduces: (spec-id, fields JSON). */
      extraSpecs: Seq[(Int, String)] = Nil,
      /** Rebase policy on a lost put-if-absent race:
        *  - "none": single-attempt loud (mutations whose result depends
        *    on the rows they scanned — delete/merge/overwrite);
        *  - "append": re-resolve the table, carry the NEW head's
        *    manifests forward, restamp sequence numbers, retry — the
        *    iceberg runtime's fast-append retry (new rows postdate any
        *    intervening delete's sequence number, so nothing is lost);
        *  - "rewrite": row-preserving compaction — rebase ONLY over
        *    purely ADDITIVE intervening DATA commits (every old
        *    manifest still listed, no new delete manifests: a
        *    concurrent delete's positions reference the files this
        *    rewrite just re-listed away), carrying the interveners'
        *    new manifests on top of our own.
        */
      retry: String = "none",
      /** properties stamped when this commit CREATES the table (a
        * prior table's properties always restate verbatim instead).
        */
      creationProperties: Map[String, String] = Map.empty,
      /** the ref this commit advances — `main` moves
        * current-snapshot-id too; any other branch leaves the table's
        * current state untouched (the WAP staging contract).
        */
      branch: String = "main"): Long = {
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaDir = new Path(root, "metadata")
    fs.mkdirs(metaDir)
    def attempt(aPrior: Option[SnapshotState],
        aCarry: Seq[ManifestInfo]): Option[Long] = {
    val prior = aPrior
    val carryForward = aCarry
    val seq = prior.map(_.meta.lastSequenceNumber + 1).getOrElse(1L)
    // restamp the new entries' data sequence numbers for THIS attempt
    // (a rebase bumps seq; entries bake it in per the v2 spec)
    newManifests.foreach { case (entries, _, _) =>
      entries.foreach { e =>
        if (e.getSchema.getField("sequence_number") != null &&
            e.get("sequence_number") != null) {
          e.put("sequence_number", seq)
          e.put("file_sequence_number", seq)
        }
      }
    }
    val commitUuid = java.util.UUID.randomUUID.toString
    // deterministic timestamps (repo convention — DeltaLite does the same)
    val now = 1L

    val schemaJson = { val (n, _) = schemaNode(schema); n.toString }
    // the spec fields JSON both the manifest headers and the metadata
    // partition-specs carry
    val specFieldsJson = partitionSpec.zipWithIndex.map { case (f, i) =>
      s"""{"name":${mapper.writeValueAsString(f.name)},""" +
        s""""transform":${mapper.writeValueAsString(f.transform)},""" +
        s""""source-id":${f.sourceId},"field-id":${1000 + i}}"""
    }.mkString("[", ",", "]")
    val extraSpecFields = extraSpecs.toMap
    val written = newManifests.zipWithIndex.map {
      case ((entries, content, addedRows), i) =>
        val manifestPath = new Path(metaDir, s"$commitUuid-m$i.avro")
        val entrySchema = entries.headOption.map(_.getSchema)
          .getOrElse(manifestEntrySchema)
        val specId = manifestSpecIds.lift(i).getOrElse(0)
        val specJson =
          if (specId == 0) specFieldsJson
          else extraSpecFields.getOrElse(specId, "[]")
        val mLen = writeAvroFile(fs, manifestPath, entrySchema, entries,
          Map("schema" -> schemaJson, "format-version" -> "2",
            "partition-spec" -> specJson,
            "partition-spec-id" -> specId.toString,
            "content" -> (if (content == 1) "deletes" else "data")))
        ManifestInfo(
          path = manifestPath.toString, length = mLen, specId = specId,
          content = content, sequenceNumber = seq,
          minSequenceNumber = seq, addedSnapshotId = snapshotId,
          addedFiles = entries.size, existingFiles = 0, deletedFiles = 0,
          addedRows = addedRows, existingRows = 0L, deletedRows = 0L)
    }
    val allManifests = carryForward ++ written
    val mlPath = new Path(metaDir, s"snap-$snapshotId-1-$commitUuid.avro")
    writeAvroFile(fs, mlPath, manifestFileSchema,
      allManifests.map(manifestRecord),
      Map("format-version" -> "2"))

    // ---- v<N+1>.metadata.json
    val version = prior.map(_.meta.version + 1).getOrElse(1)
    val node = mapper.createObjectNode()
    node.put("format-version", 2)
    node.put("table-uuid", prior.map(_.meta.tableUuid)
      .getOrElse(java.util.UUID.randomUUID.toString))
    node.put("location", tablePath)
    node.put("last-sequence-number", seq)
    node.put("last-updated-ms", now)
    val (schNode, lastCol) = schemaNode(schema)
    // schema EVOLUTION: an unchanged schema reuses the table's current
    // id; a changed one appends to the schemas history under a fresh id
    // (old snapshots keep reading under theirs)
    val (schemasJson, curSchemaId) = prior match {
      case Some(p)
          if p.meta.schema.map(f => (f.name, f.dataType.sql)) ==
            schema.map(f => (f.name, f.dataType.sql)) =>
        (p.meta.schemasJson, p.meta.currentSchemaId)
      case Some(p) =>
        val maxId = p.meta.schemasJson.flatMap(s =>
          Option(mapper.readTree(s).get("schema-id")).map(_.asInt))
          .maxOption.getOrElse(0)
        val on = schNode
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        on.put("schema-id", maxId + 1)
        (p.meta.schemasJson :+ on.toString, maxId + 1)
      case None =>
        (Seq(schNode.toString), 0)
    }
    node.put("last-column-id",
      math.max(lastCol, prior.map(_.meta.lastColumnId).getOrElse(0)))
    node.put("current-schema-id", curSchemaId)
    val schemasArr = node.putArray("schemas")
    schemasJson.foreach(s => schemasArr.add(mapper.readTree(s)))
    node.put("default-spec-id", 0)
    // retain every spec a live manifest may reference: the (rebuilt)
    // default spec 0, every non-default spec the PRIOR metadata carried,
    // and any spec this commit introduces
    val specs = node.putArray("partition-specs")
    val spec0 = specs.addObject()
    spec0.put("spec-id", 0)
    spec0.set[JsonNode]("fields", mapper.readTree(specFieldsJson))
    val priorNonDefault = prior.toSeq.flatMap(_.meta.specsJson)
      .map(mapper.readTree)
      .filter(sp => Option(sp.get("spec-id")).exists(_.asInt != 0))
      .map(sp => sp.get("spec-id").asInt -> sp).toMap
    val introduced = extraSpecs.map { case (id, fieldsJson) =>
      val on = mapper.createObjectNode()
      on.put("spec-id", id)
      on.set[JsonNode]("fields", mapper.readTree(fieldsJson))
      id -> (on: JsonNode)
    }.toMap
    (priorNonDefault ++ introduced).toSeq.sortBy(_._1)
      .foreach { case (_, sp) => specs.add(sp) }
    node.put("last-partition-id",
      math.max(999 + partitionSpec.size,
        prior.flatMap(_.meta.lastPartitionId).getOrElse(0)))
    // a foreign table's declared sort orders restate VERBATIM (a
    // commit must never silently reset them to the empty order);
    // fresh tables declare the spec's empty order 0
    node.put("default-sort-order-id",
      prior.map(_.meta.defaultSortOrderId).getOrElse(0))
    val orders = node.putArray("sort-orders")
    val priorOrders = prior.toSeq.flatMap(_.meta.sortOrdersJson)
    if (priorOrders.nonEmpty)
      priorOrders.foreach(o => orders.add(mapper.readTree(o)))
    else {
      val ord0 = orders.addObject()
      ord0.put("order-id", 0); ord0.putArray("fields")
    }
    // table PROPERTIES restate verbatim — foreign writers keep their
    // commit/retention policy and user properties across our commits.
    // A FRESH table also records `schema.name-mapping.default`:
    // graft-staged parquet/ORC data files carry no iceberg field-id
    // attributes (Spark's writers don't stamp them), and the spec's
    // fallback for id-less files is exactly this mapping — without it
    // a strictly field-id-resolving foreign reader could not resolve
    // the columns of natively written files.
    prior.flatMap(_.meta.propertiesJson) match {
      case Some(p) => node.set[JsonNode]("properties", mapper.readTree(p))
      case None =>
        val pn = node.putObject("properties")
        (Map("schema.name-mapping.default" -> nameMappingJson(schNode)) ++
          creationProperties).toSeq.sortBy(_._1)
          .foreach { case (k, v) => pn.put(k, v) }
    }
    // REFS: the TARGET branch advances to THIS snapshot; every other
    // ref survives untouched (readers following refs must see the new
    // head). A non-main branch commit never touches `main`.
    val refsNode = prior.flatMap(_.meta.refsJson)
      .map(r => mapper.readTree(r).deepCopy
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
      .getOrElse(mapper.createObjectNode())
    val branchRef = mapper.createObjectNode()
    branchRef.put("snapshot-id", snapshotId)
    branchRef.put("type", "branch")
    refsNode.set[JsonNode](branch, branchRef)
    node.set[JsonNode]("refs", refsNode)
    // puffin statistics entries restate verbatim
    if (prior.exists(_.meta.statisticsJson.nonEmpty)) {
      val st = node.putArray("statistics")
      prior.toSeq.flatMap(_.meta.statisticsJson)
        .foreach(s => st.add(mapper.readTree(s)))
    }
    if (prior.exists(_.meta.partitionStatisticsJson.nonEmpty)) {
      val st = node.putArray("partition-statistics")
      prior.toSeq.flatMap(_.meta.partitionStatisticsJson)
        .foreach(s => st.add(mapper.readTree(s)))
    }
    // the table's CURRENT state follows main only — a staged branch
    // commit leaves readers of the table untouched until fast-forward
    node.put("current-snapshot-id",
      if (branch == "main") snapshotId
      else prior.flatMap(_.meta.currentSnapshotId).getOrElse(
        throw new IllegalArgumentException(
          s"cannot stage a '$branch' commit on a table with no current " +
            "snapshot")))
    val snapsArr = node.putArray("snapshots")
    def snapObj(sm: SnapshotMeta): Unit = {
      val s = snapsArr.addObject()
      s.put("snapshot-id", sm.snapshotId)
      s.put("sequence-number", sm.sequenceNumber)
      s.put("timestamp-ms", sm.timestampMs)
      sm.manifestList.foreach(s.put("manifest-list", _))
      val sum = s.putObject("summary")
      if (!sm.summary.contains("operation")) sum.put("operation", "append")
      sm.summary.foreach { case (k, v) => sum.put(k, v) }
      s.put("schema-id", sm.schemaId.getOrElse(curSchemaId))
    }
    prior.toSeq.flatMap(_.meta.snapshots).foreach(snapObj)
    snapObj(SnapshotMeta(snapshotId, seq, now, Some(mlPath.toString), Nil,
      summary = Map("operation" -> operation) ++ extraSummary,
      schemaId = Some(curSchemaId)))
    val log = node.putArray("snapshot-log")
    // spec: the snapshot-log is the CURRENT-snapshot lineage — a staged
    // branch commit never enters it
    (prior.toSeq.flatMap(_.meta.snapshots) ++
      (if (branch == "main")
        Seq(SnapshotMeta(snapshotId, seq, now, None, Nil)) else Nil))
      .foreach { sm =>
        val e = log.addObject()
        e.put("timestamp-ms", sm.timestampMs)
        e.put("snapshot-id", sm.snapshotId)
      }
    // metadata-log: prior entries restate verbatim + the PRIOR metadata
    // file appends (the spec's lineage trail external tools walk)
    val mlog = node.putArray("metadata-log")
    prior.toSeq.flatMap(_.meta.metadataLogJson)
      .foreach(e => mlog.add(mapper.readTree(e)))
    prior.foreach { pm =>
      val e = mlog.addObject()
      e.put("timestamp-ms", now)
      e.put("metadata-file",
        new Path(metaDir, s"v${pm.meta.version}.metadata.json").toString)
    }

    val mPath = new Path(metaDir, s"v$version.metadata.json")
    // TRUE put-if-absent (kernel-arbitrated O_EXCL on file://,
    // server-side on HDFS-likes) — Hadoop local create(false) is
    // check-then-act and can silently clobber a concurrent winner
    if (!DeltaLite.atomicCreate(fs, mPath,
        mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node)))
      return None // lost the claim race
    val hint = fs.create(new Path(metaDir, "version-hint.text"), true)
    try hint.write(version.toString.getBytes("UTF-8")) finally hint.close()
    Some(snapshotId)
    } // attempt

    var curPrior = prior
    var curCarry = carryForward
    var tries = 0
    val maxRetries = 10
    while (true) {
      attempt(curPrior, curCarry) match {
        case Some(id) => return id
        case None =>
          tries += 1
          require(retry != "none",
            s"metadata v${curPrior.map(_.meta.version + 1).getOrElse(1)} " +
              s"already exists at $tablePath (concurrent writer?) — " +
              "re-read and retry")
          require(tries <= maxRetries,
            s"commit to $tablePath lost $maxRetries put-if-absent " +
              "races — giving up (writer storm?)")
          // the race winner's metadata file may still be mid-write
          // (create-then-write is not atomic); parse failures here are
          // transient — bounded retry, then rethrow loudly
          val rebased = {
            var last: Throwable = null
            var got: Option[SnapshotState] = None
            var i = 0
            while (got.isEmpty && i < 20) {
              try got = Some(snapshotState(spark, tablePath))
              catch { case e: Exception => last = e; Thread.sleep(50) }
              i += 1
            }
            got.getOrElse(throw last)
          }
          // a rebase is only sound when the table shape is unchanged:
          // a concurrent schema evolution or spec change conflicts.
          // With NO prior (two concurrent FIRST writes), the reference
          // shape is THIS commit's own schema/spec args — the winner's
          // creation must match them exactly, or the loser would
          // silently merge two different-shape table creations.
          val (baseSchema, baseSpec) = curPrior match {
            case Some(p) => (p.meta.schema, p.meta.partitionFields)
            case None => (schema, partitionSpec)
          }
          require(
            baseSchema.map(f => (f.name, f.dataType.sql)) ==
              rebased.meta.schema.map(f => (f.name, f.dataType.sql)) &&
            baseSpec == rebased.meta.partitionFields,
            s"concurrent schema/spec change at $tablePath — cannot " +
              "rebase, re-run the operation")
          if (retry == "rewrite") {
            val oldPaths = curPrior.toSeq.flatMap(_.manifests)
              .map(_.path).toSet
            val newPaths = rebased.manifests.map(_.path).toSet
            require(oldPaths.subsetOf(newPaths),
              s"concurrent commit removed manifests of $tablePath — " +
                "cannot rebase the rewrite, re-run the operation")
            val newOnes = rebased.manifests
              .filterNot(m => oldPaths.contains(m.path))
            require(newOnes.forall(_.content == 0),
              s"concurrent DELETE commit at $tablePath — its positions " +
                "reference files this rewrite re-lists; cannot rebase, " +
                "re-run the operation")
            curCarry = curCarry ++ newOnes
          } else curCarry = rebased.manifests
          curPrior = Some(rebased)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Append or overwrite commit (format-version 2, unpartitioned —
    * partition layout is [[graft.operators.Layout]]'s job upstream).
    * Returns the new snapshot id.
    */
  def write(spark: SparkSession, df: DataFrame, tablePath: String,
      mode: String = "append", txn: Option[(String, Long)] = None,
      partitionBy: Seq[String] = Nil,
      /** Data file format for THIS write — `parquet` / `orc` / `avro`.
        * Default: the table's `write.format.default` property (parquet
        * when unset). Mixed-format tables are spec-legal, so an
        * explicit per-write format may differ from the table default.
        * Creating a table with a non-parquet format stamps the
        * property so foreign engines keep writing it.
        */
      format: Option[String] = None,
      /** Table properties stamped at CREATION only (config
        * `options.property.*` passthrough — the iceberg twin of the
        * delta sink's creation-configuration map, same semantics: an
        * existing table keeps its own; alter via
        * [[setTableProperties]] / maintenance `set_properties`).
        */
      properties: Map[String, String] = Map.empty,
      /** Commit onto a NAMED BRANCH instead of `main` (the iceberg
        * write-audit-publish pattern): the branch must exist
        * ([[createRef]]), the batch lands on ITS head, and the table's
        * current state stays untouched until a fast-forward
        * ([[rollbackTo]] of the branch head) publishes it. Branch
        * commits are single-attempt (no rebase-retry).
        */
      toBranch: Option[String] = None): Long = {
    require(mode == "append" || mode == "overwrite",
      s"IcebergLite.write supports append|overwrite, got '$mode'")
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val exists = fs.exists(new Path(root, "metadata"))
    toBranch.foreach { b =>
      require(exists,
        s"cannot write branch '$b' of $tablePath — the table does not " +
          "exist yet (create it with a main write first)")
      val meta0 = loadMeta(spark, tablePath)
      val refType = meta0.refsJson.map(mapper.readTree)
        .flatMap(n => Option(n.get(b))).filterNot(_.isNull)
        .flatMap(r => Option(r.get("type")).map(_.asText))
      require(refType.nonEmpty,
        s"branch '$b' does not exist on $tablePath — create it with " +
          "createRef(..., \"branch\") first")
      require(refType.contains("branch"),
        s"ref '$b' of $tablePath is a ${refType.get} — tags are " +
          "immutable, cannot write to one")
    }
    val prior: Option[SnapshotState] =
      if (!exists) None
      else toBranch match {
        case None => Some(snapshotState(spark, tablePath))
        case Some(b) => Some(snapshotState(spark, tablePath,
          Some(snapshotForRef(spark, tablePath, b))))
      }
    // graft's idempotent-writer watermark (snapshot summary properties
    // graft-txn-app/version — the delta `txn` protocol transplanted):
    // a (appId, version) at or below the recorded high-water mark is a
    // RETRY of an already-committed micro-batch — skip it
    txn.foreach { case (appId, v) =>
      if (txnHighWater(prior, appId).exists(_ >= v))
        return prior.get.snapshot.snapshotId
    }
    prior.foreach { p =>
      // exact match, or APPEND-ONLY EVOLUTION: the table's columns are a
      // prefix (same names + types, same order) and new columns follow —
      // the spec's safe add-column path; old files read the additions as
      // null by name. Renames/retypes/drops stay loud.
      val tf = p.meta.schema.fields.map(f => (f.name, f.dataType.sql)).toSeq
      val nf = df.schema.fields.map(f => (f.name, f.dataType.sql)).toSeq
      require(nf.take(tf.length) == tf,
        s"schema mismatch writing to $tablePath (append-only evolution " +
          "adds columns AFTER the existing ones):\n table: " +
          s"${p.meta.schema.simpleString}\n data:  ${df.schema.simpleString}")
      if (nf.length > tf.length)
        // evolution re-derives field ids deterministically; a foreign
        // table with its own id assignment would mis-map — refuse
        require(p.meta.fieldIds == topFieldIds(p.meta.schema),
          s"cannot evolve the schema of $tablePath: its field ids were " +
            "assigned by another writer; use the iceberg runtime")
    }
    // effective partition spec: the table's existing spec wins (appends
    // must match it); a fresh table takes `partitionBy` — bare column
    // names (identity) or `day(col)` / `bucket(16, col)` /
    // `truncate(4, col)` transform specs
    def resolveField(srcCol: String,
        t: IcebergTransforms.Transform): WriterPartField = {
      val srcType = df.schema.fields.find(_.name == srcCol)
        .getOrElse(throw new IllegalArgumentException(
          s"partition column '$srcCol' not in the schema")).dataType
      val resType = IcebergTransforms.resultType(t, srcType)
      avroPartType(resType) // loud unsupported
      WriterPartField(IcebergTransforms.fieldName(srcCol, t), t,
        srcCol, srcType, resType)
    }
    val requested = partitionBy.map(IcebergTransforms.parseSpec)
    val partFields: Seq[WriterPartField] = prior match {
      case Some(p) if p.meta.partitionFields.nonEmpty =>
        val idToName = p.meta.fieldIds.map(_.swap)
        val existing = p.meta.partitionFields.map { f =>
          val src = idToName.getOrElse(f.sourceId, f.name)
          val t = IcebergTransforms.parse(f.transform) // loud on unknown
          resolveField(src, t).copy(name = f.name)
        }
        require(requested.isEmpty ||
            requested == existing.map(f => (f.srcCol, f.transform)),
          s"partitionBy ${partitionBy.mkString(",")} does not match the " +
            s"table's spec ${existing.map(f =>
              s"${f.transform.render}(${f.srcCol})").mkString(",")}")
        existing
      case Some(_) =>
        require(partitionBy.isEmpty,
          s"$tablePath is unpartitioned; cannot add a partition spec on " +
            "append (create a new table)")
        Nil
      case None => requested.map { case (src, t) => resolveField(src, t) }
    }
    val seq = prior.map(_.meta.lastSequenceNumber + 1).getOrElse(1L)
    val snapshotId =
      java.util.UUID.randomUUID.getMostSignificantBits & Long.MaxValue
    // bounds + spec source ids come from the TABLE's stored assignment
    // (stable across renames/drops), extended positionally for added
    // columns; a fresh table assigns positionally
    val ids: Map[String, Int] = prior match {
      case Some(p) =>
        val next = math.max(p.meta.lastColumnId,
          p.meta.fieldIds.values.maxOption.getOrElse(0))
        p.meta.fieldIds ++ df.schema.fieldNames
          .filterNot(p.meta.fieldIds.contains).zipWithIndex
          .map { case (c, i) => c -> (next + 1 + i) }
      case None => topFieldIds(df.schema)
    }
    val entrySchema =
      manifestEntrySchemaFor(partFields.map(f => f.name -> f.resType))
    val effFormat = format.map(_.toUpperCase)
      .orElse(prior.map(p => writeFormatOf(p.meta)))
      .orElse(properties.get("write.format.default").map(_.toUpperCase))
      .getOrElse("PARQUET")
    require(knownFormats(effFormat),
      s"write format '$effFormat' is not one of parquet/orc/avro")
    val stagedWithParts: Seq[(StagedFile, Seq[(String, Any)])] =
      if (partFields.isEmpty)
        stageData(spark, df, root, fs, format = effFormat,
          fieldIds = ids).map(_ -> Nil)
      else stagePartitioned(spark, df, root, fs, partFields,
        format = effFormat, fieldIds = ids)
    val entries = stagedWithParts.map { case (f, pv) =>
      entryRecord(status = 1, snapshotId = snapshotId, seq = seq,
        content = 0, path = f.path, records = f.rows, size = f.size,
        lower = boundBytes(df.schema, ids, f.bounds, _._1),
        upper = boundBytes(df.schema, ids, f.bounds, _._2),
        entrySchema = entrySchema, partValues = pv,
        fileFormat = effFormat)
    }
    val carry = if (mode == "append")
      prior.toSeq.flatMap(_.manifests) else Seq.empty
    commit(spark, tablePath, prior, df.schema,
      Seq((entries, 0, stagedWithParts.map(_._1.rows).sum)),
      carryForward = carry,
      operation = if (mode == "append") "append" else "overwrite",
      snapshotId = snapshotId, extraSummary = txnSummary(txn),
      partitionSpec = partFields.map(f =>
        PartSpecField(f.name, f.transform.render,
          ids.getOrElse(f.srcCol, 0))),
      retry =
        if (toBranch.nonEmpty) "none" // branch heads don't rebase
        else if (mode == "append") "append" else "none",
      creationProperties =
        if (prior.nonEmpty) Map.empty // creation-only (delta parity)
        else properties ++
          (if (effFormat != "PARQUET")
            Map("write.format.default" -> effFormat.toLowerCase)
          else Map.empty[String, String]),
      branch = toBranch.getOrElse("main"))
  }

  /** Register EXISTING data files as one iceberg snapshot WITHOUT
    * staging or copying anything — the manifest references them in
    * place by absolute path. This is the UNIFORM CONVERSION worker
    * ([[DeltaLite.syncUniform]]): each call OVERWRITES the previous
    * registration, so the iceberg view mirrors the caller's current
    * file set exactly (a delta version ↦ an iceberg snapshot). The
    * files must carry their own column resolution story (parquet field
    * ids, or names matching the schema — the caller gates this).
    * `files` = (absolutePath, rowCount, sizeBytes, partition values by
    * SCHEMA column name, raw strings). `partitionCols` declares the
    * identity partition spec; registered files need not carry the
    * partition columns in the parquet — reads project them from the
    * recorded tuple (the spec's identity constant projection,
    * [[scanData]]).
    */
  /** One pre-existing data file being registered: absolute path, row
    * count, size, partition values by schema column name (raw
    * strings), and optional per-column bounds (footer-derived) so the
    * registered table prunes like a native one.
    */
  private[sources] final case class ExistingFile(path: String,
      rows: Long, size: Long,
      partValues: Map[String, Option[String]] = Map.empty,
      bounds: Map[String, (Any, Any)] = Map.empty)

  private[sources] def commitExistingFiles(spark: SparkSession,
      tablePath: String, schema: StructType,
      files: Seq[ExistingFile],
      partitionCols: Seq[String] = Nil,
      extraSummary: Map[String, String] = Map.empty): Long = {
    val root = new Path(tablePath)
    val fsys = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val exists = fsys.exists(new Path(root, "metadata"))
    val prior = if (exists) Some(snapshotState(spark, tablePath)) else None
    val partFields: Seq[(String, DataType)] = partitionCols.map { c =>
      c -> schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"partition column $c missing from the registered schema"))
        .dataType
    }
    partFields.foreach { case (n, dt) =>
      parseDirValue(dt, dt match { // loud on unsupported value types
        case DateType => "1970-01-01"
        case StringType => ""
        case _ => "0"
      }); ()
    }
    prior.foreach { p =>
      val cur = p.meta.partitionFields.map(f => (f.name, f.transform))
      val wanted = partitionCols.map(c => (c, "identity"))
      require(cur == wanted,
        s"$tablePath's existing partition spec $cur differs from the " +
          s"registration's $wanted — re-registration cannot change " +
          "the spec")
    }
    val ids = topFieldIds(schema)
    val entrySchema =
      if (partFields.isEmpty) manifestEntrySchema
      else manifestEntrySchemaFor(partFields)
    val seq = prior.map(_.meta.lastSequenceNumber + 1).getOrElse(1L)
    val snapshotId =
      java.util.UUID.randomUUID.getMostSignificantBits & Long.MaxValue
    val entries = files.map { f =>
      entryRecord(status = 1, snapshotId = snapshotId, seq = seq,
        content = 0, path = f.path, records = f.rows, size = f.size,
        lower = boundBytes(schema, ids, f.bounds, _._1),
        upper = boundBytes(schema, ids, f.bounds, _._2),
        entrySchema = entrySchema,
        partValues = partFields.map { case (n, dt) =>
          n -> f.partValues.getOrElse(n, None)
            .map(s => parseDirValue(dt, s)).orNull
        })
    }
    commit(spark, tablePath, prior, schema,
      Seq((entries, 0, files.map(_.rows).sum)),
      carryForward = Seq.empty, operation = "overwrite",
      snapshotId = snapshotId,
      // the marker [[scanData]]'s identity constant projection keys
      // on: THESE files may lack their partition columns in-file
      extraSummary = extraSummary +
        ("graft.in-place-registration" -> "true"),
      partitionSpec = partFields.map { case (n, _) =>
        PartSpecField(n, "identity", ids.getOrElse(n, 0)) },
      retry = "none")
  }

  /** MIGRATION — the iceberg runtime's `add_files`/`snapshot`
    * procedure capability: register an EXISTING directory of parquet
    * files as an iceberg table without rewriting a byte. The schema
    * (and hive-layout `col=value` partition dirs, which become an
    * identity partition spec) is inferred by Spark's parquet reader;
    * per-file row counts and column bounds come from the parquet
    * footers (bounded-parallel KB reads, [[ParquetFooterStats]]), so
    * the registered table PRUNES like a native one. The data files
    * don't carry the partition columns — reads project them from the
    * manifest tuple (identity constant projection, [[scanData]]) —
    * and creation records `schema.name-mapping.default` so strictly
    * field-id-resolving foreign readers can resolve the id-less
    * files. `tablePath` may equal `dataDir` (migrate in place — the
    * `metadata/` dir lands next to the data) or point elsewhere
    * (snapshot-style, original dir untouched). Re-running
    * re-registers the CURRENT directory contents (overwrite
    * semantics). Beyond the reference (dozer reads object-store
    * parquet but has no table-format migration); kept for
    * real-pipeline interop at migration scale.
    */
  def addFiles(spark: SparkSession, tablePath: String,
      dataDir: String): Long = {
    val lay = discoverParquetDir(spark, dataDir)
    val fs = new Path(dataDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statCols = lay.dataSchema.fields.filter(boundsEligible)
      .map(_.name).toSet
    val stats = ParquetFooterStats.readAll(
      spark.sparkContext.hadoopConfiguration,
      lay.tuples.map(_._1.getPath), lay.dataSchema)
    val files = lay.tuples.map { case (s, tuple) =>
      val st = stats(s.getPath)
      ExistingFile(fs.makeQualified(s.getPath).toString, st.rows,
        s.getLen, tuple.toMap,
        bounds = st.cols.collect {
          case (n, cs) if statCols(n) && cs.bounds.isDefined =>
            n -> cs.bounds.get
        })
    }
    commitExistingFiles(spark, tablePath, lay.schema, files,
      partitionCols = lay.partCols,
      extraSummary = Map("added-data-files" -> files.size.toString))
  }

  /** Discovered layout of a plain parquet directory (the migration
    * input of [[addFiles]] and [[DeltaLite.convertToDelta]]): leaf
    * data files with their dir-chain partition tuples (nesting
    * order), the dir-ordered partition column names, the file-borne
    * schema (merged across files — dir-level inference would trip
    * over a `metadata/` or `_delta_log/` neighbor on an in-place
    * registration), and the full schema with partition columns typed
    * from their dir values (long / date / string, the hive
    * convention) appended last.
    */
  private[sources] final case class ParquetDirLayout(
      tuples: Seq[(org.apache.hadoop.fs.FileStatus,
        Seq[(String, Option[String])])],
      partCols: Seq[String], dataSchema: StructType, schema: StructType)

  private[sources] def discoverParquetDir(spark: SparkSession,
      dataDir: String): ParquetDirLayout = {
    val dir = new Path(dataDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(dir), s"$dataDir does not exist")
    val leaves = {
      def walk(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
        fs.listStatus(p).toSeq.flatMap { s =>
          val n = s.getPath.getName
          if (s.isDirectory) {
            if (n == "metadata" || n.startsWith("_") || n.startsWith("."))
              Nil
            else walk(s.getPath)
          } else if (n.endsWith(".parquet") && !n.startsWith("_") &&
              !n.startsWith(".")) Seq(s)
          else Nil
        }
      walk(dir)
    }
    require(leaves.nonEmpty, s"no parquet files under $dataDir")
    val dirUri = fs.makeQualified(dir).toString
    def tupleOf(f: Path): Seq[(String, Option[String])] = {
      val rel = fs.makeQualified(f).toString.stripPrefix(dirUri)
        .stripPrefix("/")
      rel.split('/').dropRight(1).toSeq.flatMap { seg =>
        val i = seg.indexOf('=')
        if (i <= 0) None
        else {
          val v = unescapeDirValue(seg.substring(i + 1))
          Some(unescapeDirValue(seg.substring(0, i)) ->
            (if (v == "__HIVE_DEFAULT_PARTITION__") None else Some(v)))
        }
      }
    }
    val tuples = leaves.map(s => s -> tupleOf(s.getPath))
    val partCols: Seq[String] = tuples.head._2.map(_._1)
    require(tuples.forall(_._2.map(_._1) == partCols),
      "inconsistent partition dir layout under " + dataDir)
    val dataSchema = spark.read.option("mergeSchema", "true")
      .parquet(leaves.map(_.getPath.toString): _*).schema
    partCols.foreach(c => require(!dataSchema.fieldNames.contains(c),
      s"partition dir column $c also present in the files"))
    def partType(name: String): DataType = {
      val vs = tuples.flatMap(_._2.collect {
        case (n, Some(v)) if n == name => v })
      // a ZERO-PADDED value ("p=007") types as STRING: reading it back
      // as 7 would silently rewrite the value a foreign writer chose
      // (delta-spark requires an explicit partition schema for CONVERT
      // partly for this reason)
      if (vs.nonEmpty && vs.forall(v =>
          v.matches("-?\\d{1,18}") && !v.matches("-?0\\d+"))) LongType
      else if (vs.nonEmpty &&
          vs.forall(_.matches("\\d{4}-\\d{2}-\\d{2}"))) DateType
      else StringType
    }
    ParquetDirLayout(tuples, partCols, dataSchema,
      StructType(dataSchema.fields ++
        partCols.map(c => StructField(c, partType(c)))))
  }

  /** One resolved field of the partition spec being WRITTEN: partition
    * field name, transform, source column + its type, and the
    * transform's result type (the manifest partition value type).
    */
  private final case class WriterPartField(name: String,
      transform: IcebergTransforms.Transform, srcCol: String,
      srcType: DataType, resType: DataType)

  /** METADATA-ONLY column rename (the spec's field-id indirection: the
    * id keeps binding old data files, only the name changes). Appends a
    * fresh schema to the history and bumps current-schema-id — no
    * snapshot, no data IO. Renaming a partition SOURCE column refuses
    * (the spec field rename ripples into specs/manifests — iceberg
    * runtime territory).
    */
  def renameColumn(spark: SparkSession, tablePath: String,
      from: String, to: String): Unit =
    evolveSchema(spark, tablePath, s"rename $from -> $to") { fields =>
      require(fields.exists(_._2 == from),
        s"no column '$from' in $tablePath")
      require(!fields.exists(_._2 == to),
        s"column '$to' already exists in $tablePath")
      fields.map { case (id, n, t) => (id, if (n == from) to else n, t) }
    }

  /** METADATA-ONLY column drop: the field leaves the current schema
    * (old data files keep the bytes; readers project them away).
    * Refuses for partition sources and columns referenced by live
    * equality deletes.
    */
  def dropColumn(spark: SparkSession, tablePath: String,
      name: String): Unit = {
    val st = snapshotState(spark, tablePath)
    val id = st.meta.fieldIds.getOrElse(name,
      throw new IllegalArgumentException(s"no column '$name' in $tablePath"))
    require(!st.eqDeleteFiles.exists(_.equalityIds.contains(id)),
      s"column '$name' is referenced by live equality-delete files — " +
        "compact first")
    require(st.meta.fieldIds.size > 1,
      s"cannot drop the only column of $tablePath")
    evolveSchema(spark, tablePath, s"drop $name")(
      _.filterNot(_._2 == name))
  }

  /** Shared metadata-only schema evolution: edit the current schema's
    * (id, name, typeNode) field list, append as a new schema-id, write
    * v<N+1>.metadata.json.
    */
  private def evolveSchema(spark: SparkSession, tablePath: String,
      what: String)(
      edit: Seq[(Int, String, JsonNode)] => Seq[(Int, String, JsonNode)])
      : Unit = {
    val meta = loadMeta(spark, tablePath)
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(
      new Path(root, s"metadata/v${meta.version}.metadata.json"))
    val node = (try mapper.readTree(in.readAllBytes()) finally in.close())
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    require(node.has("schemas"),
      s"$tablePath is a v1 single-schema table — schema evolution " +
        "needs the iceberg runtime")
    val curId = Option(node.get("current-schema-id")).map(_.asInt)
      .getOrElse(0)
    val cur = node.get("schemas").elements.asScala
      .find(s => Option(s.get("schema-id")).forall(_.asInt == curId))
      .getOrElse(throw new IllegalStateException(
        s"current schema $curId missing from $tablePath metadata"))
    val fields = cur.get("fields").elements.asScala.toSeq.map(f =>
      (f.get("id").asInt, f.get("name").asText, f.get("type")))
    // partition sources stay untouchable for both rename and drop
    val touched = fields.map(_._2).toSet --
      edit(fields).map(_._2).toSet
    val srcIds = meta.partitionFields.map(_.sourceId).toSet
    touched.foreach { n =>
      meta.fieldIds.get(n).foreach(id => require(!srcIds.contains(id),
        s"cannot $what: '$n' is a partition source column of $tablePath"))
    }
    val edited = edit(fields)
    val maxId = node.get("schemas").elements.asScala
      .flatMap(s => Option(s.get("schema-id")).map(_.asInt)).maxOption
      .getOrElse(0)
    val ns = mapper.createObjectNode()
    ns.put("type", "struct")
    ns.put("schema-id", maxId + 1)
    val fArr = ns.putArray("fields")
    edited.foreach { case (id, n, t) =>
      val f = fArr.addObject()
      f.put("id", id); f.put("name", n); f.put("required", false)
      f.set[JsonNode]("type", t)
    }
    node.withArray[com.fasterxml.jackson.databind.node.ArrayNode](
      "schemas").add(ns)
    node.put("current-schema-id", maxId + 1)
    val newVersion = meta.version + 1
    val out = fs.create(
      new Path(root, s"metadata/v$newVersion.metadata.json"), false)
    try out.write(mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsBytes(node))
    finally out.close()
    val hint = fs.create(new Path(root, "metadata/version-hint.text"), true)
    try hint.write(newVersion.toString.getBytes("UTF-8")) finally hint.close()
  }

  /** Highest committed txn version for `appId` across the table's
    * snapshot summaries (None = never committed).
    */
  private def txnHighWater(prior: Option[SnapshotState],
      appId: String): Option[Long] =
    prior.toSeq.flatMap(_.meta.snapshots)
      .filter(_.summary.get("graft-txn-app").contains(appId))
      .flatMap(_.summary.get("graft-txn-version").flatMap(_.toLongOption))
      .maxOption

  private def txnSummary(txn: Option[(String, Long)]): Map[String, String] =
    txn.fold(Map.empty[String, String]) { case (a, v) =>
      Map("graft-txn-app" -> a, "graft-txn-version" -> v.toString)
    }

  /** Currently-visible rows of a snapshot with `__ice_file` (normalized
    * source path) and `__ice_pos` (row ordinal) columns — applies BOTH
    * delete kinds: position deletes as one anti join on (path, pos),
    * equality deletes as one anti join per equality-id set with the
    * spec's sequence rule (a delete at seq N suppresses matching rows
    * only in data files with seq < N; null-safe equality on the listed
    * columns). All delete sides are metadata/changed-rows sized —
    * broadcast-friendly next to the data scan.
    */
  /** Read the CONTENT of delete files projected to `readSchema` —
    * delete files may themselves be any spec format (mixed-format
    * tables are legal), independent of their data files' formats.
    * Parquet/ORC read inferred-then-cast (a foreign writer's int32
    * `pos` upcasts instead of tripping the reader's strict schema);
    * avro decodes through [[IcebergAvroData]].
    */
  private def scanDeleteContent(spark: SparkSession, files: Seq[FileEntry],
      readSchema: StructType): DataFrame = {
    val wanted = readSchema.fields
      .map(f => col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq
    files.groupBy(_.format).toSeq.map {
      case ("PARQUET", fls) => spark.read.parquet(fls.map(_.path): _*)
      case ("ORC", fls) => spark.read.orc(fls.map(_.path): _*)
      case ("AVRO", fls) =>
        IcebergAvroData.scan(spark, readSchema, fls.map(_.path),
          withPos = false)
      case (other, fls) => throw new IllegalArgumentException(
        s"unknown delete file format $other (${fls.head.path})")
    }.map(_.select(wanted: _*)).reduce(_.unionByName(_))
  }

  /** The spec schema of a position-delete file's content. */
  private def posDeleteReadSchema: StructType = StructType(Seq(
    StructField("file_path", StringType),
    StructField("pos", LongType)))

  private def aliveWithPos(spark: SparkSession,
      st: SnapshotState,
      /** encodedPathKey()s of files whose positions must be exact even
        * without a targeting delete — mutations staging NEW position
        * deletes against ORC candidates pass them here.
        */
      forceExact: Set[String] = Set.empty): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, lit}
    import spark.implicits._
    val orcKeys = st.dataFiles.collect {
      case f if f.format == "ORC" => encodedPathKey(f.path)
    }.toSet
    // delete files record the RAW manifest path string; the scan's
    // __ice_file is URI-encoded — canonicalize the (small) delete side
    val delsOpt =
      if (st.posDeleteFiles.isEmpty) None
      else Some(scanDeleteContent(spark, st.posDeleteFiles,
          posDeleteReadSchema)
        .select(encodedPathKeyCol(col("file_path")).as("__ice_del_file"),
          col("pos").cast("long").as("__ice_del_pos")))
    // ORC files a position delete actually TARGETS read through the
    // orc-core row reader for exact ordinals (the DISTINCT target
    // paths are file-count-bounded — metadata-sized collect); the rest
    // keep Spark's vectorized scan with null ordinals.
    val targeted: Set[String] = delsOpt match {
      case Some(dels) if orcKeys.nonEmpty =>
        dels.select("__ice_del_file").distinct()
          .collect().map(_.getString(0)).toSet.intersect(orcKeys)
      case _ => Set.empty
    }
    val base = scanData(spark, st, st.dataFiles, withPos = true,
      exactPos = targeted ++ (forceExact & orcKeys))
    val afterPos = delsOpt match {
      case None => base
      case Some(dels) =>
        // the delete side is per-file position lists — usually KB-MB
        // next to the data side. BROADCAST it when the recorded delete
        // bytes fit the session's broadcast threshold, so the anti
        // join probes the scan in place with NO shuffle of the data
        // side (at 100 TB, shuffling the data to meet a 2 MB delete
        // list is the whole cost). The gate is the RECORDED file
        // sizes: a billion-position delete set must keep the planner's
        // shuffled anti join instead of flattening the driver. The
        // threshold's semantics are estimated IN-MEMORY plan size, and
        // parquet position-delete files (sorted repeated paths +
        // delta-coded longs) routinely compress ~10×, so the recorded
        // on-disk bytes are inflated by a conservative decompression
        // factor before the compare — a set just under the raw
        // threshold must not expand past it when materialized.
        val thr = spark.sessionState.conf.autoBroadcastJoinThreshold
        val delBytes = st.posDeleteFiles.map(_.fileSize).sum
        val dside =
          if (thr > 0 && delBytes * deleteBroadcastInflation <= thr)
            broadcast(dels)
          else dels
        base.join(dside,
          base("__ice_file") === dels("__ice_del_file") &&
            base("__ice_pos") === dels("__ice_del_pos"), "left_anti")
    }
    if (st.eqDeleteFiles.isEmpty) afterPos
    else {
      val idToName = st.meta.fieldIds.map(_.swap)
      val seqMap = st.dataFiles
        .map(f => encodedPathKey(f.path) -> f.seq).toDF("__ice_sf", "__ice_seq")
      val withSeq = afterPos
        .join(broadcast(seqMap), afterPos("__ice_file") === seqMap("__ice_sf"))
        .drop("__ice_sf")
      val result = st.eqDeleteFiles.groupBy(_.equalityIds.sorted)
        .foldLeft(withSeq) { case (acc, (ids, files)) =>
          val names = ids.map(id => idToName.getOrElse(id,
            throw new IllegalArgumentException(
              s"equality delete references unknown field id $id " +
                "(nested equality columns need the iceberg runtime)")))
          val eqSchema = StructType(names.map(n =>
            st.meta.schema.fields.find(_.name == n).getOrElse(
              throw new IllegalArgumentException(
                s"equality column '$n' missing from the table schema"))))
          val dels = files.map(f =>
              scanDeleteContent(spark, Seq(f), eqSchema)
                .withColumn("__ice_dseq", lit(f.seq)))
            .reduce(_.unionByName(_))
          val cond = names.map(c => acc(c) <=> dels(c)).reduce(_ && _) &&
            acc("__ice_seq") < dels("__ice_dseq")
          // same size gate (and same decompression-factor margin) as
          // the position anti join: broadcast only while the INFLATED
          // delete bytes fit the session threshold — a huge
          // equality-delete backlog must fall back to the planner's
          // shuffled join (the null-safe key conjunction is
          // hash-joinable), never flatten the driver
          val thr = spark.sessionState.conf.autoBroadcastJoinThreshold
          val dside =
            if (thr > 0 &&
                files.map(_.fileSize).sum * deleteBroadcastInflation <= thr)
              broadcast(dels)
            else dels
          acc.join(dside, cond, "left_anti")
        }
      result.drop("__ice_seq")
    }
  }

  /** POSITION-DELETE commit: rows of the CURRENT snapshot matching
    * `predicate` are suppressed by writing spec-shaped delete files
    * (`file_path` string exactly as the data manifest records it,
    * `pos` = row ordinal in that file) — merge-on-read retraction with
    * ZERO data-file rewrites, O(matched rows) new bytes. The position
    * computation is one distributed scan with `_metadata` columns; the
    * manifest-path translation joins against a metadata-sized map.
    * Returns the new snapshot id (no-op commit if nothing matches).
    */
  def deleteWhere(spark: SparkSession, tablePath: String,
      predicate: Column): Long = {
    val prior = snapshotState(spark, tablePath)
    require(prior.dataFiles.nonEmpty,
      s"$tablePath holds no data files to delete from")
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // transform-aware partition pruning bounds the match scan (a
    // partition-predicate delete on a day-partitioned table scans only
    // the matching days)
    val candidates = prunePartitions(prior, predicate)
    if (candidates.isEmpty) return prior.snapshot.snapshotId
    val pruned = prior.copy(dataFiles = candidates)
    val positions = matchedPositions(spark, pruned, candidates,
      a => a.filter(predicate))
    if (positions.isEmpty) return prior.snapshot.snapshotId
    val seq = prior.meta.lastSequenceNumber + 1
    val snapshotId =
      java.util.UUID.randomUUID.getMostSignificantBits & Long.MaxValue
    val entries = stagePosDeletes(spark, prior, candidates, positions,
      root, fs, snapshotId, seq)
    commit(spark, tablePath, Some(prior), prior.meta.schema,
      Seq((entries, 1, 0L)), carryForward = prior.manifests,
      operation = "delete", snapshotId = snapshotId,
      partitionSpec = prior.meta.partitionFields)
  }

  /** Currently-visible (manifest file_path, pos) rows of `candidates`
    * passing `restrict` — the shared position computation of
    * [[deleteWhere]] and [[upsert]].
    */
  private def matchedPositions(spark: SparkSession, pruned: SnapshotState,
      candidates: Seq[FileEntry],
      restrict: DataFrame => DataFrame): DataFrame = {
    import spark.implicits._
    // staged position deletes must carry EXACT row ordinals any reader
    // can apply — parquet has _metadata.row_index, the avro codec
    // counts ordinals in-decode, and ORC candidates are FORCED through
    // the orc-core row reader ([[IcebergOrcData]]).
    val orcKeys = candidates.collect {
      case f if f.format == "ORC" => encodedPathKey(f.path)
    }.toSet
    val pathMap = candidates
      .map(f => encodedPathKey(f.path) -> f.path).toDF("__norm", "file_path")
    val alive = aliveWithPos(spark, pruned, forceExact = orcKeys)
    restrict(alive)
      .join(pathMap, alive("__ice_file") === pathMap("__norm"))
      .select(col("file_path"), col("__ice_pos").cast("long").as("pos"))
      .orderBy(col("file_path"), col("pos")) // spec: sorted by (path, pos)
  }

  /** Stage position-delete files for `positions` and return their
    * manifest entries. Unpartitioned tables stage one plain pass; a
    * PARTITIONED table's delete files are written PER PARTITION TUPLE
    * (the spec scopes delete files to a partition like data files, so
    * foreign readers prune them correctly) — still ONE distributed
    * `partitionBy` pass over an internal tuple-id column, never a scan
    * per tuple.
    */
  private def stagePosDeletes(spark: SparkSession, prior: SnapshotState,
      candidates: Seq[FileEntry], positions: DataFrame, root: Path,
      fs: FileSystem, snapshotId: Long, seq: Long): Seq[GenericRecord] = {
    import spark.implicits._
    if (prior.meta.partitionFields.isEmpty)
      return stageData(spark, positions, root, fs,
        fieldIds = PosDeleteFieldIds).map { f =>
        entryRecord(status = 1, snapshotId = snapshotId, seq = seq,
          content = 1, path = f.path, records = f.rows, size = f.size)
      }
    val partFields = resolveExistingPartFields(prior)
    val entrySchema =
      manifestEntrySchemaFor(partFields.map(f => f.name -> f.resType))
    // tuple id per candidate file (driver-side, metadata-sized)
    val tuples = candidates.map(_.partValues).distinct
    val tidOf: Map[Map[String, Any], Int] = tuples.zipWithIndex.toMap
    val tidMap = candidates
      .map(f => f.path -> tidOf(f.partValues)).toDF("file_path", "__tid")
    val withTid = withParquetFieldIds(
      positions.join(tidMap, Seq("file_path")), PosDeleteFieldIds)
    val stage = new Path(root, "stage_" +
      java.util.UUID.randomUUID.toString.take(8))
    withTid.write.partitionBy("__tid").mode("overwrite")
      .parquet(stage.toString)
    def leaves(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap { s =>
        if (s.isDirectory) leaves(s.getPath)
        else if (s.getPath.getName.startsWith("part-")) Seq(s) else Nil
      }
    val files = leaves(stage)
    val stats = ParquetFooterStats.readAll(
      spark.sparkContext.hadoopConfiguration, files.map(_.getPath),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("file_path",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("pos",
          org.apache.spark.sql.types.LongType))))
    val dataDir = new Path(root, "data")
    fs.mkdirs(dataDir)
    val out = files.map { s =>
      val tid = s.getPath.getParent.getName.stripPrefix("__tid=").toInt
      // tid prefix: partitionBy reuses part-file names ACROSS dirs
      val tgt = new Path(dataDir, s"t$tid-${s.getPath.getName}")
      require(fs.rename(s.getPath, tgt),
        s"staging move failed for ${s.getPath}")
      val tuple = tuples(tid)
      entryRecord(status = 1, snapshotId = snapshotId, seq = seq,
        content = 1, path = tgt.toString,
        records = stats(s.getPath).rows, size = s.getLen,
        entrySchema = entrySchema,
        partValues = partFields.map(f =>
          f.name -> tuple.getOrElse(f.name, null)))
    }
    fs.delete(stage, true)
    out
  }

  /** The table's stored partition spec resolved against its schema —
    * what partitioned mutations stage and restate.
    */
  private def resolveExistingPartFields(
      p: SnapshotState): Seq[WriterPartField] = {
    val idToName = p.meta.fieldIds.map(_.swap)
    p.meta.partitionFields.map { f =>
      val src = idToName.getOrElse(f.sourceId, f.name)
      val t = IcebergTransforms.parse(f.transform) // loud on unknown
      val srcType = p.meta.schema.fields.find(_.name == src).getOrElse(
        throw new IllegalArgumentException(
          s"partition source column '$src' missing from the schema"))
        .dataType
      WriterPartField(f.name, t, src, srcType,
        IcebergTransforms.resultType(t, srcType))
    }
  }

  /** EQUALITY-DELETE commit: retract every current-and-future-invisible
    * row matching `keys` on `equalityCols` by writing the key values as
    * a spec-shaped equality delete file — ZERO table reads, O(keys) new
    * bytes (the write-optimized retraction; position deletes cost one
    * table scan to locate rows, this costs nothing until read time).
    * Applies to all data files with a smaller data sequence number, so
    * rows appended AFTER this commit with the same keys are visible —
    * exactly the CDC retract-then-reinsert ordering. Returns the new
    * snapshot id.
    */
  def deleteByKeys(spark: SparkSession, tablePath: String,
      keys: DataFrame, equalityCols: Seq[String]): Long = {
    require(equalityCols.nonEmpty, "deleteByKeys needs equality columns")
    val prior = snapshotState(spark, tablePath)
    require(equalityCols.forall(prior.meta.schema.fieldNames.contains),
      s"equality columns ${equalityCols.mkString(",")} must exist in " +
        "the table schema")
    val ids = equalityCols.map(c => prior.meta.fieldIds.getOrElse(c,
      throw new IllegalArgumentException(
        s"no field id recorded for column '$c'")))
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = stageData(spark,
      keys.select(equalityCols.map(col): _*).distinct(), root, fs,
      fieldIds = prior.meta.fieldIds.view
        .filterKeys(equalityCols.contains).toMap)
    val seq = prior.meta.lastSequenceNumber + 1
    val snapshotId =
      java.util.UUID.randomUUID.getMostSignificantBits & Long.MaxValue
    val entries = staged.map(f =>
      entryRecord(1, snapshotId, seq, content = 2, f.path, f.rows, f.size,
        equalityIds = ids))
    // a PARTITIONED table's equality delete is GLOBAL (it applies to
    // every older data file regardless of partition), so its manifest
    // rides a second, UNPARTITIONED spec (the iceberg convention) —
    // the table's own spec is restated untouched
    val global = prior.meta.partitionFields.nonEmpty
    commit(spark, tablePath, Some(prior), prior.meta.schema,
      Seq((entries, 1, 0L)), carryForward = prior.manifests,
      operation = "delete", snapshotId = snapshotId,
      partitionSpec = prior.meta.partitionFields,
      manifestSpecIds = if (global) Seq(1) else Nil,
      extraSpecs = if (global) Seq(1 -> "[]") else Nil)
  }

  /** MERGE (replace-by-key upsert) in ONE atomic snapshot: rows of the
    * current table whose key appears in `batch` (or `deleteKeys`) are
    * suppressed by a position-delete manifest, and `batch` lands as a
    * data manifest — both under the same metadata claim, so readers see
    * either the old table or the fully merged one. The
    * merge-on-read counterpart of [[DeltaLite.upsert]]'s copy-on-write:
    * NO data file is rewritten, new bytes are O(batch + matched
    * positions), and the scan-side cost is the anti join [[read]]
    * already pays. Keys must be non-null on both sides. A missing
    * table is created by the upsert, as [[DeltaLite.upsert]] does.
    */
  def upsert(spark: SparkSession, batch: DataFrame, tablePath: String,
      keyCols: Seq[String], deleteKeys: Option[DataFrame] = None,
      txn: Option[(String, Long)] = None): Long = {
    import org.apache.spark.sql.functions.broadcast
    import spark.implicits._
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(root, "metadata")))
      return write(spark, batch, tablePath, txn = txn)
    val prior = snapshotState(spark, tablePath)
    require(keyCols.forall(prior.meta.schema.fieldNames.contains),
      s"key columns ${keyCols.mkString(",")} must exist in the table schema")
    // a batch column outside the table schema would be dropped by the
    // select below — make the mismatch loud (evolve via write() first)
    locally {
      val extra = batch.columns.filterNot(prior.meta.schema.fieldNames.contains)
      require(extra.isEmpty,
        s"upsert batch carries columns ${extra.mkString(",")} not in the " +
          "table schema — widen the table with an evolving append first")
    }
    txn.foreach { case (appId, v) => // retry of a committed batch: skip
      if (txnHighWater(Some(prior), appId).exists(_ >= v))
        return prior.snapshot.snapshotId
    }
    if (prior.dataFiles.isEmpty) // empty table: the merge is an append
      return write(spark,
        batch.select(prior.meta.schema.fieldNames.map(col).toIndexedSeq: _*),
        tablePath, txn = txn)
    // positions of currently-visible rows holding a touched key —
    // scanned only over the files whose MANIFEST BOUNDS may hold one
    // (the spec's per-file column stats; files without bounds never
    // prune), so the merge reads O(files-with-touched-keys), not the
    // whole table
    val touchedKeys = {
      val b = batch.select(keyCols.map(col): _*)
      deleteKeys.fold(b)(d => b.unionByName(d.select(keyCols.map(col): _*)))
        .distinct()
    }
    import org.apache.spark.sql.functions.{max, min}
    val keyBounds: Map[String, (Any, Any)] = {
      val aggs = keyCols.flatMap(c =>
        Seq(min(col(c)).as(s"__min__$c"), max(col(c)).as(s"__max__$c")))
      val r = touchedKeys.agg(aggs.head, aggs.tail: _*).collect().head
      keyCols.map(c =>
        c -> (r.getAs[Any](s"__min__$c"), r.getAs[Any](s"__max__$c"))).toMap
    }
    val candidates = candidateFiles(prior, keyCols, keyBounds)
    val pruned = prior.copy(dataFiles = candidates)
    val seq = prior.meta.lastSequenceNumber + 1
    val snapshotId =
      java.util.UUID.randomUUID.getMostSignificantBits & Long.MaxValue
    val delEntries: Seq[GenericRecord] =
      if (candidates.isEmpty) Seq.empty
      else {
        val positions = matchedPositions(spark, pruned, candidates,
          a => a.join(broadcast(touchedKeys), keyCols, "left_semi"))
        stagePosDeletes(spark, prior, candidates, positions, root, fs,
          snapshotId, seq)
      }
    // a PARTITIONED table's batch stages through the same single-pass
    // transform layout as appends; entries carry partition values
    val partFieldsW = resolveExistingPartFields(prior)
    val entrySchemaW =
      manifestEntrySchemaFor(partFieldsW.map(f => f.name -> f.resType))
    val batchSel =
      batch.select(prior.meta.schema.fieldNames.map(col).toIndexedSeq: _*)
    val mergeFmt = writeFormatOf(prior.meta)
    val stagedWithParts: Seq[(StagedFile, Seq[(String, Any)])] =
      if (partFieldsW.isEmpty)
        stageData(spark, batchSel, root, fs, format = mergeFmt,
          fieldIds = prior.meta.fieldIds).map(_ -> Nil)
      else stagePartitioned(spark, batchSel, root, fs, partFieldsW,
        format = mergeFmt, fieldIds = prior.meta.fieldIds)
    val ids = prior.meta.fieldIds
    val dataEntries = stagedWithParts.map { case (f, pv) =>
      entryRecord(1, snapshotId, seq, content = 0, f.path, f.rows, f.size,
        lower = boundBytes(prior.meta.schema, ids, f.bounds, _._1),
        upper = boundBytes(prior.meta.schema, ids, f.bounds, _._2),
        entrySchema = entrySchemaW, partValues = pv, fileFormat = mergeFmt)
    }
    commit(spark, tablePath, Some(prior), prior.meta.schema,
      Seq((delEntries, 1, 0L),
        (dataEntries, 0, stagedWithParts.map(_._1.rows).sum)),
      carryForward = prior.manifests, operation = "overwrite",
      snapshotId = snapshotId, extraSummary = txnSummary(txn),
      partitionSpec = prior.meta.partitionFields)
  }

  /** Data files whose per-column bounds may intersect the batch's key
    * range — per key column, a file survives unless its [lower, upper]
    * and the batch's [min, max] are provably disjoint. Missing bounds,
    * missing ids, or incomparable types keep the file (never prune on
    * uncertainty).
    */
  private[graft] def candidateFiles(st: SnapshotState, keyCols: Seq[String],
      keyBounds: Map[String, (Any, Any)]): Seq[FileEntry] =
    st.dataFiles.filter { f =>
      keyCols.forall { c =>
        val overlap = for {
          id <- st.meta.fieldIds.get(c)
          sf <- st.meta.schema.fields.find(_.name == c)
          lo <- f.lowerBounds.get(id)
          hi <- f.upperBounds.get(id)
          (bMin, bMax) <- keyBounds.get(c)
          minVsHi <- compareToBound(sf.dataType, bMin, hi)
          maxVsLo <- compareToBound(sf.dataType, bMax, lo)
        } yield !(minVsHi > 0 || maxVsLo < 0)
        overlap.getOrElse(true)
      }
    }

  /** COMPACTION (the `rewrite_data_files` maintenance op): resolve the
    * table's accumulated position deletes by rewriting ONLY the data
    * files they touch — visible rows of touched files re-stage as fresh
    * files; untouched files carry their manifest entries (record
    * counts, sizes, column bounds) into one new data manifest; all
    * delete manifests drop. After many merge-on-read upserts this is
    * what keeps the read-side anti join small — the scan cost of a MoR
    * table is O(live deletes), and compaction resets it to zero at the
    * price of rewriting the touched files once. History snapshots stay
    * readable (their manifest lists are untouched on disk). No-op if
    * the table holds no position deletes. Returns the new snapshot id.
    */
  def compact(spark: SparkSession, tablePath: String,
      smallFileBytes: Long = 0L): Long = {
    val st = snapshotState(spark, tablePath)
    val anySmall = smallFileBytes > 0 &&
      st.dataFiles.count(_.fileSize < smallFileBytes) > 1
    if (st.posDeleteFiles.isEmpty && st.eqDeleteFiles.isEmpty && !anySmall)
      return st.snapshot.snapshotId
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // which data files do the delete files actually touch? position
    // deletes name their files (metadata-sized collect); equality
    // deletes can touch ANY file with a smaller sequence number —
    // conservative: rewrite those. `smallFileBytes` > 0 additionally
    // BINPACKS: files below the threshold rewrite together (the
    // streaming-sink many-small-commits layout fix), when more than
    // one exists.
    val posTouched =
      if (st.posDeleteFiles.isEmpty) Set.empty[String]
      else scanDeleteContent(spark, st.posDeleteFiles, posDeleteReadSchema)
        .select(normalizePathCol(col("file_path")).as("p")).distinct()
        .collect().map(_.getString(0)).toSet
    val maxEqSeq = st.eqDeleteFiles.map(_.seq).maxOption.getOrElse(Long.MinValue)
    val (rewrite, carry) = st.dataFiles.partition(f =>
      posTouched(normalizePathStr(f.path)) || f.seq < maxEqSeq ||
        (anySmall && f.fileSize < smallFileBytes))
    // PARTITIONED tables rewrite through the table's own transform
    // layout (one staging pass regenerates dirs + partition values);
    // carried entries restate their recorded tuples
    val partFieldsW = resolveExistingPartFields(st)
    val entrySchemaW =
      manifestEntrySchemaFor(partFieldsW.map(f => f.name -> f.resType))
    val survivorsWithParts: Seq[(StagedFile, Seq[(String, Any)])] =
      if (rewrite.isEmpty) Seq.empty
      else {
        val visible = aliveWithPos(spark,
          st.copy(dataFiles = rewrite))
          .select(st.meta.schema.fieldNames.map(col).toIndexedSeq: _*)
        // binpack: size the output file count from the input bytes so
        // many small files become few near-target ones
        val packed =
          if (smallFileBytes <= 0) visible
          else visible.coalesce(math.max(1, math.ceil(
            rewrite.map(_.fileSize).sum.toDouble / smallFileBytes).toInt))
        if (partFieldsW.isEmpty)
          stageData(spark, packed, root, fs,
            format = writeFormatOf(st.meta),
            fieldIds = st.meta.fieldIds).map(_ -> Nil)
        else stagePartitioned(spark, packed, root, fs, partFieldsW,
          format = writeFormatOf(st.meta), fieldIds = st.meta.fieldIds)
      }
    val seq = st.meta.lastSequenceNumber + 1
    val snapshotId =
      java.util.UUID.randomUUID.getMostSignificantBits & Long.MaxValue
    val ids = st.meta.fieldIds
    val entries =
      carry.map(f => entryRecord(1, snapshotId, seq, content = 0,
        f.path, f.recordCount, f.fileSize,
        lower = f.lowerBounds, upper = f.upperBounds,
        entrySchema = entrySchemaW,
        partValues = partFieldsW.map(pf =>
          pf.name -> f.partValues.getOrElse(pf.name, null)),
        // a carried file RESTATES its recorded format — a mixed-format
        // table's untouched ORC/avro entries must not morph to parquet
        fileFormat = f.format)) ++
      survivorsWithParts.map { case (f, pv) =>
        entryRecord(1, snapshotId, seq, content = 0,
          f.path, f.rows, f.size,
          lower = boundBytes(st.meta.schema, ids, f.bounds, _._1),
          upper = boundBytes(st.meta.schema, ids, f.bounds, _._2),
          entrySchema = entrySchemaW, partValues = pv,
          fileFormat = writeFormatOf(st.meta))
      }
    commit(spark, tablePath, Some(st), st.meta.schema,
      Seq((entries, 0, survivorsWithParts.map(_._1.rows).sum)),
      carryForward = Seq.empty, // delete manifests resolved, data re-listed
      operation = "replace", snapshotId = snapshotId,
      partitionSpec = st.meta.partitionFields,
      retry = "rewrite")
  }

  /** SNAPSHOT EXPIRATION (the `expire_snapshots` maintenance op): keep
    * the most recent `keepLast` snapshots (the current one always
    * survives), write a metadata version without the expired ones, and
    * physically delete every manifest list, manifest, and data/delete
    * file no kept snapshot references — the disk-reclaim pass a table
    * written by streaming commits needs periodically. Returns the
    * number of files deleted.
    */
  def expireSnapshots(spark: SparkSession, tablePath: String,
      keepLast: Int,
      /** the catalog's `older_than` shape: when set, only snapshots
        * whose `timestamp-ms` is strictly before this expire, and
        * `keepLast` becomes the catalog's `retain_last` floor (at
        * least N newest survive regardless of age).
        */
      olderThanMillis: Option[Long] = None): Int = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val meta = loadMeta(spark, tablePath)
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ordered = meta.snapshots.sortBy(_.sequenceNumber)
    // a snapshot a REF still names (tag or branch) never expires — the
    // iceberg expiration contract; dropping it would dangle the ref
    val refIds: Set[Long] = meta.refsJson.toSeq.flatMap { r =>
      val n = mapper.readTree(r)
      n.fieldNames.asScala.toSeq.flatMap(name =>
        Option(n.get(name).get("snapshot-id")).map(_.asLong))
    }.toSet
    val kept = ordered.takeRight(keepLast) ++
      olderThanMillis.toSeq.flatMap(cut =>
        ordered.filter(_.timestampMs >= cut)) ++
      meta.currentSnapshotId.flatMap(id =>
        ordered.find(_.snapshotId == id)).toSeq ++
      ordered.filter(s => refIds(s.snapshotId))
    val keptIds = kept.map(_.snapshotId).toSet
    if (keptIds.size == meta.snapshots.size) return 0
    // every path any KEPT snapshot references (normalized)
    val referenced = mutable.Set.empty[String]
    kept.distinct.foreach { sm =>
      sm.manifestList.foreach(p => referenced += normalizePathStr(
        rebase(p, tablePath, meta.location)))
      val stt = snapshotState(spark, tablePath, Some(sm.snapshotId))
      stt.manifests.foreach(m => referenced += normalizePathStr(
        rebase(m.path, tablePath, meta.location)))
      (stt.dataFiles ++ stt.posDeleteFiles ++ stt.eqDeleteFiles)
        .foreach(f => referenced += normalizePathStr(f.path))
    }
    // metadata rewrite first (so a crash mid-delete never strands a
    // LIVE snapshot pointing at removed files)
    val node = {
      val in = fs.open(
        new Path(root, s"metadata/v${meta.version}.metadata.json"))
      val orig = try mapper.readTree(in.readAllBytes()) finally in.close()
      val on = orig.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val keptNodes = on.get("snapshots").elements.asScala
        .filter(s => keptIds(s.get("snapshot-id").asLong)).toSeq
      val arr = on.putArray("snapshots")
      keptNodes.foreach(arr.add)
      Option(on.get("snapshot-log")).foreach { log =>
        val keptLog = log.elements.asScala
          .filter(e => keptIds(e.get("snapshot-id").asLong)).toSeq
        val la = on.putArray("snapshot-log")
        keptLog.foreach(la.add)
      }
      on
    }
    val newVersion = meta.version + 1
    val mPath = new Path(root, s"metadata/v$newVersion.metadata.json")
    val out = fs.create(mPath, false)
    try out.write(mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsBytes(node))
    finally out.close()
    val hint = fs.create(new Path(root, "metadata/version-hint.text"), true)
    try hint.write(newVersion.toString.getBytes("UTF-8")) finally hint.close()
    // physical delete SCOPED to what the EXPIRED snapshots referenced
    // (the iceberg expiration contract): only files some expired
    // snapshot named, minus everything a kept snapshot still names,
    // are deleted. Walking the directory and deleting "anything
    // unreferenced" instead would race a CONCURRENT writer's freshly
    // staged (not yet committed) files — and missed partitioned
    // data/<dir>/ subtrees anyway. Untracked leftovers (aborted
    // stagings) are [[removeOrphanFiles]]'s job, behind an age guard.
    val expired = ordered.filterNot(s => keptIds(s.snapshotId))
    // normalized key → RAW path (deletion must use the raw form — the
    // normalized key drops scheme/authority and only serves matching)
    val expiredRefs = mutable.Map.empty[String, String]
    def ref(raw: String): Unit = { expiredRefs(normalizePathStr(raw)) = raw }
    expired.foreach { sm =>
      sm.manifestList.foreach(p => ref(rebase(p, tablePath, meta.location)))
      try {
        val stt = snapshotState(spark, tablePath, Some(sm.snapshotId))
        stt.manifests.foreach(m => ref(rebase(m.path, tablePath,
          meta.location)))
        (stt.dataFiles ++ stt.posDeleteFiles ++ stt.eqDeleteFiles)
          .foreach(f => ref(f.path))
      } catch { case _: Exception => () } // already-gone manifest list
    }
    var deleted = 0
    (expiredRefs -- referenced).values.foreach { raw =>
      val p = new Path(raw)
      try { if (fs.exists(p) && fs.delete(p, false)) deleted += 1 }
      catch { case _: Exception => () }
    }
    deleted
  }

  /** REMOVE ORPHAN FILES (the catalog's `remove_orphan_files` action):
    * delete files under the table's `data/` tree and `stage_*`
    * leftovers that NO snapshot references and whose modification time
    * is older than `olderThanMillis` (default 3 days — iceberg's own
    * default; the age guard is what keeps a CONCURRENT writer's
    * freshly staged, not-yet-committed files safe, exactly the
    * catalog contract). [[expireSnapshots]] reclaims files expired
    * snapshots referenced; this reclaims what nothing ever committed —
    * aborted stagings and lost-race leftovers. Returns deleted count.
    */
  def removeOrphanFiles(spark: SparkSession, tablePath: String,
      olderThanMillis: Long = 3L * 24 * 3600 * 1000): Int = {
    val meta = loadMeta(spark, tablePath)
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val referenced = mutable.Set.empty[String]
    meta.snapshots.foreach { sm =>
      sm.manifestList.foreach(p => referenced += normalizePathStr(
        rebase(p, tablePath, meta.location)))
      val stt = snapshotState(spark, tablePath, Some(sm.snapshotId))
      stt.manifests.foreach(m => referenced += normalizePathStr(
        rebase(m.path, tablePath, meta.location)))
      (stt.dataFiles ++ stt.posDeleteFiles ++ stt.eqDeleteFiles)
        .foreach(f => referenced += normalizePathStr(f.path))
    }
    val cutoff = System.currentTimeMillis - olderThanMillis
    var deleted = 0
    def sweep(dir: Path): Unit =
      if (fs.exists(dir)) fs.listStatus(dir).foreach { s =>
        if (s.isDirectory) sweep(s.getPath)
        else if (s.getModificationTime < cutoff &&
            !referenced(normalizePathStr(s.getPath.toString))) {
          if (fs.delete(s.getPath, false)) deleted += 1
        }
      }
    sweep(new Path(root, "data"))
    // aborted staging dirs at the root (stage_<uuid>): sweep files by
    // the same age guard, then drop emptied dirs
    fs.listStatus(root).filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("stage_")).foreach { d =>
      sweep(d.getPath)
      if (fs.listStatus(d.getPath).isEmpty) { fs.delete(d.getPath, true); () }
    }
    deleted
  }

  /** The `snapshots` METADATA TABLE (iceberg's inspection surface): one
    * row per snapshot — id, sequence number, timestamp, operation, and
    * the summary properties (incl. the streaming txn watermark), so an
    * operator can audit commit history with plain SQL. Driver-built
    * from metadata (no data reads).
    */
  def snapshotsDf(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    val meta = loadMeta(spark, tablePath)
    meta.snapshots.map(s => (
        s.snapshotId, s.sequenceNumber, s.timestampMs,
        s.summary.getOrElse("operation", "append"),
        s.summary - "operation",
        meta.currentSnapshotId.contains(s.snapshotId)))
      .toDF("snapshot_id", "sequence_number", "timestamp_ms",
        "operation", "summary", "is_current")
  }

  /** The `files` METADATA TABLE: one row per live file of a snapshot
    * (latest by default) — content kind, path, format, record count,
    * size, sequence number, and the column bounds DECODED back to
    * typed strings per column name. The layout/health audit a
    * compaction policy reads before deciding what to rewrite.
    */
  def filesDf(spark: SparkSession, tablePath: String,
      snapshotId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val st = snapshotState(spark, tablePath, snapshotId)
    val idToName = st.meta.fieldIds.map(_.swap)
    def decodeBounds(m: Map[Int, Array[Byte]]): Map[String, String] =
      m.flatMap { case (id, bytes) =>
        for {
          name <- idToName.get(id)
          f <- st.meta.schema.fields.find(_.name == name)
        } yield name -> boundToString(f.dataType, bytes)
      }
    val kinds = Seq(0 -> st.dataFiles, 1 -> st.posDeleteFiles,
      2 -> st.eqDeleteFiles)
    kinds.flatMap { case (_, files) => files }.map(f => (
        f.content match {
          case 0 => "data"; case 1 => "position_deletes"
          case _ => "equality_deletes"
        },
        f.path, f.format, f.recordCount, f.fileSize, f.seq,
        decodeBounds(f.lowerBounds), decodeBounds(f.upperBounds)))
      .toDF("content", "file_path", "file_format", "record_count",
        "file_size_in_bytes", "sequence_number",
        "lower_bounds", "upper_bounds")
  }

  /** Human-readable form of a serialized bound (inverse direction of
    * [[serializeBound]] for display; unknown widths render as hex).
    */
  private def boundToString(dt: DataType, b: Array[Byte]): String = {
    def buf = java.nio.ByteBuffer.wrap(b)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    dt match {
      case IntegerType | DateType if b.length == 4 => buf.getInt.toString
      case LongType if b.length == 8 => buf.getLong.toString
      case FloatType if b.length == 4 => buf.getFloat.toString
      case DoubleType if b.length == 8 => buf.getDouble.toString
      case StringType => new String(b, "UTF-8")
      case _ => b.map("%02x".format(_)).mkString
    }
  }

  /** File-level CDC between two snapshots, the [[DeltaLite.changesBetween]]
    * twin: data files present only in `fromSnapshotId` read as the old
    * side, files present only in `toSnapshotId` as the new side — for
    * keyed tables the restricted [[graft.cdc.SnapshotDiff]] equals the
    * full-snapshot diff at O(changed files) cost. Tables with live
    * delete files (position OR equality) fall back to full snapshots
    * (a delete file changes row visibility inside UNCHANGED data
    * files).
    */
  /** Table-property update (the catalog's `updateProperties`): a new
    * metadata VERSION with `properties` merged in — no snapshot, data
    * untouched, every other field verbatim (the same node-rewrite
    * discipline as [[expireSnapshots]]). Put-if-absent claim, loud on
    * a concurrent racer. Returns the new metadata version.
    */
  def setTableProperties(spark: SparkSession, tablePath: String,
      props: Map[String, String]): Int = {
    require(props.nonEmpty, "setTableProperties needs at least one property")
    rewriteMetadata(spark, tablePath) { (node, _) =>
      val pn = Option(node.get("properties")).filterNot(_.isNull)
        .map(_.deepCopy
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
        .getOrElse(mapper.createObjectNode())
      props.foreach { case (k, v) => pn.put(k, v) }
      node.set[JsonNode]("properties", pn)
      ()
    }
  }

  /** ROLLBACK to a historical snapshot (the catalog's
    * `rollback_to_snapshot` procedure): METADATA-ONLY — a new metadata
    * version whose `current-snapshot-id` (and `main` ref) point at the
    * target; the snapshots list, refs, and every other field restate
    * verbatim, so history is preserved and rolling FORWARD again is
    * another rollback. No data IO, no manifests written — the O(KB)
    * undo button an accidental overwrite needs. Loud when the snapshot
    * id isn't in the table's history (expired snapshots can't be
    * rolled back to).
    */
  def rollbackTo(spark: SparkSession, tablePath: String,
      snapshotId: Long): Int = {
    val pre = loadMeta(spark, tablePath)
    require(pre.snapshots.exists(_.snapshotId == snapshotId),
      s"snapshot $snapshotId not in ${tablePath}'s history " +
        s"(${pre.snapshots.map(_.snapshotId).mkString(", ")}) — " +
        "expired snapshots cannot be rolled back to")
    if (pre.currentSnapshotId.contains(snapshotId)) return pre.version
    rewriteMetadata(spark, tablePath) { (node, _) =>
      val now = System.currentTimeMillis
      node.put("current-snapshot-id", snapshotId)
      node.put("last-updated-ms", now)
      // `main` follows the current snapshot (readers following refs
      // must see the rollback); tags and other branches stay untouched
      Option(node.get("refs")).filterNot(_.isNull).foreach { r =>
        Option(r.get("main")).filterNot(_.isNull).foreach(m =>
          m.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
            .put("snapshot-id", snapshotId))
      }
      // the snapshot-log records the state CHANGE (spec: the log is
      // the table's current-snapshot lineage, not the commit list)
      Option(node.get("snapshot-log")).filterNot(_.isNull).foreach { sl =>
        val e = sl
          .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
          .addObject()
        e.put("timestamp-ms", now)
        e.put("snapshot-id", snapshotId)
        ()
      }
    }
  }

  /** Shared metadata-version bump for the METADATA-ONLY catalog ops
    * (properties / refs / rollback): read the current
    * `v<N>.metadata.json`, apply `edit`, claim `v<N+1>` put-if-absent,
    * move the version hint. Everything not edited restates verbatim.
    */
  private def rewriteMetadata(spark: SparkSession, tablePath: String)(
      edit: (com.fasterxml.jackson.databind.node.ObjectNode,
        TableMeta) => Unit): Int = {
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = loadMeta(spark, tablePath)
    val mPath = new Path(root, s"metadata/v${meta.version}.metadata.json")
    val node = {
      val in = fs.open(mPath)
      try mapper.readTree(in.readAllBytes())
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      finally in.close()
    }
    edit(node, meta)
    val newVersion = meta.version + 1
    val out = new Path(root, s"metadata/v$newVersion.metadata.json")
    require(DeltaLite.atomicCreate(fs, out,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node)),
      s"metadata v$newVersion already exists at $tablePath (concurrent " +
        "writer?) — re-read and retry")
    val hint = fs.create(new Path(root, "metadata/version-hint.text"), true)
    try hint.write(newVersion.toString.getBytes("UTF-8"))
    finally hint.close()
    newVersion
  }

  /** CREATE TAG / CREATE BRANCH (the catalog's manageSnapshots):
    * metadata-only — a named ref pinned to `snapshotId` (the current
    * snapshot when omitted). Tags make [[expireSnapshots]] keep the
    * snapshot forever and give time travel by name
    * ([[snapshotForRef]] + source `options.ref`); branches additionally
    * mark a line other writers may advance. Refuses on an existing
    * name or an unknown snapshot.
    */
  def createRef(spark: SparkSession, tablePath: String, name: String,
      refType: String, snapshotId: Option[Long] = None): Int = {
    require(refType == "tag" || refType == "branch",
      s"ref type must be tag|branch, got '$refType'")
    require(name != "main", "'main' is the table's own branch")
    rewriteMetadata(spark, tablePath) { (node, meta) =>
      val sid = snapshotId.orElse(meta.currentSnapshotId).getOrElse(
        throw new IllegalArgumentException(
          s"$tablePath has no current snapshot to pin '$name' to"))
      require(meta.snapshots.exists(_.snapshotId == sid),
        s"snapshot $sid not in ${tablePath}'s history — cannot pin " +
          s"ref '$name' to it")
      val refs = Option(node.get("refs")).filterNot(_.isNull)
        .map(_.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
        .getOrElse(node.putObject("refs"))
      require(!refs.has(name),
        s"ref '$name' already exists on $tablePath — drop it first")
      val r = refs.putObject(name)
      r.put("snapshot-id", sid)
      r.put("type", refType)
      ()
    }
  }

  /** DROP a named ref (tag or branch). `main` refuses — it is the
    * table's own branch, not a user ref.
    */
  def dropRef(spark: SparkSession, tablePath: String, name: String): Int = {
    require(name != "main", "cannot drop 'main' — the table's own branch")
    rewriteMetadata(spark, tablePath) { (node, _) =>
      val refs = Option(node.get("refs")).filterNot(_.isNull)
        .map(_.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
        .getOrElse(throw new IllegalArgumentException(
          s"$tablePath carries no refs — nothing to drop"))
      require(refs.has(name),
        s"ref '$name' not in ${refs.fieldNames.asScala.mkString(", ")} " +
          s"of $tablePath")
      refs.remove(name)
      ()
    }
  }

  /** Resolve a named REF (branch or tag, the spec's `refs` map) to its
    * snapshot id — time travel by name: `read(spark, path,
    * Some(snapshotForRef(...)))`. Loud when the table has no refs or
    * the name is absent.
    */
  def snapshotForRef(spark: SparkSession, tablePath: String,
      ref: String): Long = {
    val meta = loadMeta(spark, tablePath)
    val refs = meta.refsJson.getOrElse(throw new IllegalArgumentException(
      s"$tablePath carries no refs — nothing to resolve '$ref' against"))
    val n = mapper.readTree(refs)
    Option(n.get(ref)).flatMap(r => Option(r.get("snapshot-id")))
      .map(_.asLong)
      .getOrElse(throw new IllegalArgumentException(
        s"ref '$ref' not in ${n.fieldNames.asScala.mkString(", ")} " +
          s"of $tablePath"))
  }

  /** APPEND-ONLY fast path for the streaming tail: when neither end
    * carries delete files and no data file was removed across the
    * range, every changed row is an insert of the added files — return
    * that scan directly so the tail skips the keyed full-outer join
    * (the overwhelmingly common shape of streaming-ingest tables).
    * None when the range mutated (the keyed diff handles it).
    */
  def appendOnlyAdds(spark: SparkSession, tablePath: String,
      fromSnapshotId: Long, toSnapshotId: Long): Option[DataFrame] = {
    val from = snapshotState(spark, tablePath, Some(fromSnapshotId))
    val to = snapshotState(spark, tablePath, Some(toSnapshotId))
    if (from.posDeleteFiles.nonEmpty || to.posDeleteFiles.nonEmpty ||
        from.eqDeleteFiles.nonEmpty || to.eqDeleteFiles.nonEmpty)
      return None
    val fromSet = from.dataFiles.map(f => normalizePathStr(f.path)).toSet
    val toSet = to.dataFiles.map(f => normalizePathStr(f.path)).toSet
    if (!fromSet.subsetOf(toSet)) return None // files removed: mutation
    Some(scanData(spark, to,
      to.dataFiles.filterNot(f => fromSet(normalizePathStr(f.path)))))
  }

  def changedFileSets(spark: SparkSession, tablePath: String,
      fromSnapshotId: Long, toSnapshotId: Long): (DataFrame, DataFrame) = {
    val from = snapshotState(spark, tablePath, Some(fromSnapshotId))
    val to = snapshotState(spark, tablePath, Some(toSnapshotId))
    def scan(st: SnapshotState, files: Seq[FileEntry]): DataFrame =
      scanData(spark, st, files)
    if (from.posDeleteFiles.nonEmpty || to.posDeleteFiles.nonEmpty ||
        from.eqDeleteFiles.nonEmpty || to.eqDeleteFiles.nonEmpty)
      (read(spark, tablePath, Some(fromSnapshotId)),
        read(spark, tablePath, Some(toSnapshotId)))
    else {
      val fromSet = from.dataFiles.map(f => normalizePathStr(f.path)).toSet
      val toSet = to.dataFiles.map(f => normalizePathStr(f.path)).toSet
      (scan(from, from.dataFiles.filterNot(f => toSet(normalizePathStr(f.path)))),
        scan(to, to.dataFiles.filterNot(f => fromSet(normalizePathStr(f.path)))))
    }
  }
}

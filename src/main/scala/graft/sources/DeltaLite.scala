package graft.sources

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, udf}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StructField, StructType}

/** Native Delta Lake SNAPSHOT reader — no delta-spark jar required.
  *
  * The Delta transaction log is a PUBLIC format (delta.io PROTOCOL.md):
  * `_delta_log/%020d.json` commits of JSON actions (`metaData`,
  * `protocol`, `add`, `remove`, …) plus periodic parquet checkpoints,
  * and the current table state is the replayed active-file set. The
  * reference's connector does exactly a snapshot read of that state
  * (dozer-ingestion/deltalake/src/reader.rs:36-47 — open_table + scan);
  * this reader reproduces it Spark-natively:
  *
  *  1. `_last_checkpoint` (or the latest `*.checkpoint*.parquet` by
  *     name) seeds the active-add set — read DISTRIBUTED as plain
  *     parquet (a checkpoint is just a parquet table of actions).
  *  2. JSON commits after the checkpoint replay in version order
  *     (add → insert, remove → delete; other actions ignored except
  *     metaData/protocol).
  *  3. The schema is `metaData.schemaString` — Delta inherited Spark's
  *     schema JSON verbatim, so `DataType.fromJson` parses it directly.
  *  4. Partition columns are NOT stored in the data files; each add's
  *     `partitionValues` strings are injected as typed literal columns
  *     per partition group.
  *
  * Since round 12 the ADVANCED protocol is native too: column mapping
  * (`name` + `id`), deletion vectors (read/write/purge), change data
  * feed (exact `cdc` files write+read), in-commit timestamps (honored
  * and stamped), CHECK constraints / invariants / generated columns
  * (enforced or computed on write), v2 checkpoints + sidecars, OCC
  * conflict retry, and ALTER TABLE SET/UNSET TBLPROPERTIES. Loud
  * unsupported-capability errors remain for the rest (never silent
  * wrong data): identity columns, unknown FUTURE reader/writer
  * features — `GraftApp.requireFormatAvailable` keeps pointing at the
  * delta-spark jar for those deployments.
  *
  * Scale note: the log replay is driver-side over O(#commits) JSON
  * files and one distributed checkpoint read; the data scan reads each
  * partition group as one parquet load (ONE scan + a broadcast
  * partition-values join past the fan-out cap). A full implementation
  * would expose the file list through a FileIndex for partition
  * pruning — this reader targets the reference connector's capability
  * (one full snapshot scan feeding a pipeline), where every file is
  * read anyway; the mutation paths prune via the per-file stats index.
  */
object DeltaLite {

  private val mapper = new ObjectMapper()

  final case class Snapshot(
      schema: StructType,
      partitionColumns: Seq[String],
      /** path (decoded, relative or absolute) → partitionValues */
      files: Map[String, Map[String, Option[String]]],
      version: Long,
      /** `txn` actions: appId → highest committed transaction version
        * (Delta's idempotent-writer protocol — streaming sinks dedup
        * retried micro-batches against this map).
        */
      txns: Map[String, Long] = Map.empty,
      /** path → the add action's `stats` JSON (numRecords/minValues/
        * maxValues/nullCount per the Delta spec) where present — the
        * per-file pruning index [[upsert]] uses to bound MERGE churn.
        */
      stats: Map[String, String] = Map.empty,
      /** `delta.columnMapping.mode`: "none" or "name" (reads resolve
        * parquet fields by `delta.columnMapping.physicalName`); "id"
        * refuses at snapshot load.
        */
      columnMappingMode: String = "none",
      /** path → live deletion-vector descriptor (advanced protocol's
        * merge-on-read deletes) — applied by reads (and by MERGE's
        * rewrite scans) as a row_index anti-filter.
        */
      dvs: Map[String, DeletionVectors.Descriptor] = Map.empty,
      /** path → the add action's recorded `size` bytes — what
        * [[compact]]'s bin-packing selects small files by.
        */
      sizes: Map[String, Long] = Map.empty,
      /** the table's FULL `metaData.configuration` — checkpoints and
        * evolving metaData commits must restate it verbatim (dropping
        * e.g. a reader-relevant key would corrupt foreign tables).
        */
      configuration: Map[String, String] = Map.empty,
      /** the last `protocol` action replayed, verbatim — checkpoints
        * persist THIS (a synthesized downgrade would let checkpoint-
        * seeded readers skip features the table requires).
        */
      protocol: Option[CpProto] = None,
      /** `metaData.id` — stable across the table's lifetime; evolving
        * commits and checkpoints restate it.
        */
      tableId: String = "",
      /** live `domainMetadata` actions by domain (raw JSON line,
        * verbatim): foreign writers persist per-domain state here (row
        * tracking watermarks, clustering metadata); checkpoints MUST
        * restate them or cleanupLogs destroys the domain state.
        */
      domainMetadata: Map[String, String] = Map.empty,
      /** decoded path → the add action's VERBATIM raw path string as it
        * appeared in the log/checkpoint. Mutation commits (remove,
        * DV re-add, checkpoint restating) must repeat a pre-existing
        * file's raw string byte-for-byte: foreign replayers that
        * reconcile adds/removes by raw string or URI (java.net.URI keys
        * `p%3D1/f` != `p=1/f`) would otherwise fail to cancel the add,
        * resurrecting removed files. Only graft-staged NEW paths run
        * through [[encodePath]].
        */
      rawPaths: Map[String, String] = Map.empty,
      /** path → (baseRowId, defaultRowCommitVersion) — ROW TRACKING
        * (the `rowTracking` writer feature): every re-add of an
        * existing file (DV update, restore, clone, checkpoint) must
        * restate these or the table's stable row ids silently corrupt.
        */
      rowIds: Map[String, (Long, Long)] = Map.empty)

  /** The verbatim action-path string for a pre-existing file (falls
    * back to [[encodePath]] for paths graft itself staged).
    */
  private def rawPath(snap: Snapshot, p: String): String =
    snap.rawPaths.getOrElse(p, encodePath(p))

  /** Percent-decode a Delta action path (the spec URL-encodes relative
    * paths as UTF-8; `+` stays literal, unlike URLDecoder).
    */
  def decodePath(p: String): String = {
    val bytes = new java.io.ByteArrayOutputStream
    var i = 0
    while (i < p.length) {
      val c = p.charAt(i)
      if (c == '%' && i + 2 < p.length) {
        bytes.write(Integer.parseInt(p.substring(i + 1, i + 3), 16))
        i += 3
      } else {
        bytes.write(c.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        i += 1
      }
    }
    new String(bytes.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** URL-encode an action path (inverted by [[decodePath]]): the Delta
    * spec stores relative paths percent-encoded (RFC 2396 per-segment,
    * UTF-8 bytes), and Spark's own hive-escaped partition directories
    * contain `%` and spaces (e.g. `ts=1995-03-01 00%3A00%3A00`), so
    * emitting a directory name verbatim would decode to a path that
    * does not exist on disk. The kept-literal set matches Hadoop
    * `Path.toUri` — the encoder delta-spark's writers go through — i.e.
    * RFC 2396 pchar: unreserved (alphanum + `-_.!~*'()`) plus
    * `:@&=+$,;`. `=` literal matters most: every hive partition dir
    * contains it, and a `p%3D1/f` vs `p=1/f` raw-string mismatch breaks
    * foreign replayers that reconcile adds/removes by raw string.
    * Applied ONLY to paths graft itself stages — pre-existing files
    * restate their original raw string verbatim ([[rawPath]]).
    */
  def encodePath(p: String): String =
    p.split("/", -1).map(encodeSegment).mkString("/")

  private def encodeSegment(s: String): String = {
    val sb = new StringBuilder
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
      val c = (b & 0xff).toChar
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
          (c >= '0' && c <= '9') || c == '-' || c == '_' || c == '.' ||
          c == '!' || c == '~' || c == '*' || c == '\'' || c == '(' ||
          c == ')' || c == ':' || c == '@' || c == '&' || c == '=' ||
          c == '+' || c == '$' || c == ',' || c == ';') sb.append(c)
      else sb.append(f"%%${b & 0xff}%02X")
    }
    sb.toString
  }

  /** Parse a `protocol` action verbatim (features lists preserved) —
    * tracked in the snapshot so checkpoints restate the REAL protocol.
    */
  private def parseProto(protocol: JsonNode): CpProto = {
    def features(key: String): Option[Seq[String]] =
      Option(protocol.get(key)).filterNot(_.isNull)
        .map(n => (0 until n.size).map(n.get(_).asText))
    CpProto(
      Option(protocol.get("minReaderVersion")).map(_.asInt).getOrElse(1),
      Option(protocol.get("minWriterVersion")).map(_.asInt).getOrElse(1),
      features("readerFeatures"), features("writerFeatures"))
  }

  private def checkProtocol(protocol: JsonNode): Unit = {
    val minReader = Option(protocol.get("minReaderVersion"))
      .map(_.asInt).getOrElse(1)
    val features = Option(protocol.get("readerFeatures"))
      .map(n => (0 until n.size).map(n.get(_).asText).toSet)
      .getOrElse(Set.empty[String])
    // columnMapping is reader-supported in `name` mode (`id` refuses at
    // the metaData gate); deletionVectors decode natively; parquet v2
    // checkpoints + sidecars seed natively (JSON-flavored v2
    // checkpoints refuse with a named hint at the seed step)
    val supported = Set("timestampNtz", "vacuumProtocolCheck",
      "columnMapping", "deletionVectors", "v2Checkpoint")
    require(minReader <= 2 || features.subsetOf(supported),
      s"Delta table requires reader features ${features -- supported} " +
        "(minReaderVersion " + minReader + ") — beyond the native " +
        "snapshot reader; add the delta-spark jars for this table")
  }

  /** Validate and normalize `delta.columnMapping.mode` — `name` mode
    * resolves parquet fields by physicalName, `id` mode by the parquet
    * FIELD IDS id-mapped writers stamp into the files (Spark's native
    * field-id matching does the per-column resolution); both read
    * natively. Unknown future modes refuse.
    */
  private def checkMappingMode(mode: Option[String]): String = {
    val m = mode.getOrElse("none")
    require(m == "none" || m == "name" || m == "id",
      s"Delta column mapping mode '$m' is not supported by the native " +
        "snapshot reader; add the delta-spark jars")
    m
  }

  /** Canonical comparison key for a RAW (on-disk) absolute path against
    * Spark's `_metadata.file_path` (which is URI-ENCODED — a dir like
    * `ts=1995-03-01 00%3A00%3A00` surfaces as `...%2000%253A00...`):
    * encode via Hadoop `Path.toUri` — the exact encoder Spark's
    * metadata column uses — then strip the scheme. The metadata side
    * needs only [[IcebergLite.normalizePathStr]] (already encoded).
    */
  private def encodedPathKey(rawAbs: String): String =
    IcebergLite.normalizePathStr(new Path(rawAbs).toUri.toString)

  private def checkMetaData(meta: JsonNode): String =
    checkMappingMode(Option(meta.get("configuration")).flatMap(c =>
      Option(c.get("delta.columnMapping.mode")).map(_.asText)))

  /** The fields of one JSON `metaData` action that replay keeps. */
  private final case class MetaDataFields(schemaJson: String,
      partitionColumns: Seq[String], configuration: Map[String, String],
      id: Option[String]) {
    def schema: StructType =
      DataType.fromJson(schemaJson).asInstanceOf[StructType]
  }

  private def parseMetaData(m: JsonNode): MetaDataFields = {
    val conf = mutable.LinkedHashMap.empty[String, String]
    Option(m.get("configuration")).foreach(_.fields.asScala.foreach { e =>
      if (!e.getValue.isNull) conf(e.getKey) = e.getValue.asText
    })
    MetaDataFields(m.get("schemaString").asText,
      Option(m.get("partitionColumns")).toSeq
        .flatMap(_.elements.asScala.map(_.asText)),
      conf.toMap, Option(m.get("id")).filterNot(_.isNull).map(_.asText))
  }

  /** Parse an add action's deletionVector descriptor (null → none). */
  private def parseDv(add: JsonNode): Option[DeletionVectors.Descriptor] =
    Option(add.get("deletionVector")).filterNot(_.isNull).map { dv =>
      DeletionVectors.Descriptor(
        storageType = dv.get("storageType").asText,
        pathOrInlineDv = dv.get("pathOrInlineDv").asText,
        offset = Option(dv.get("offset")).filterNot(_.isNull).map(_.asLong),
        sizeInBytes = dv.get("sizeInBytes").asLong,
        cardinality = dv.get("cardinality").asLong)
    }

  /** Replay the log into the snapshot state at `asOf` (None = latest
    * version) — version-pinned reads are what turns consecutive
    * snapshots into a change feed ([[changedBetween]]).
    */
  def snapshot(spark: SparkSession, tablePath: String,
      asOf: Option[Long] = None): Snapshot = {
    val logDir = new Path(tablePath, "_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(logDir),
      s"$tablePath is not a Delta table (no _delta_log)")
    val entries = fs.listStatus(logDir).map(_.getPath.getName).sorted
    val commitRe = "(\\d{20})\\.json".r
    val ckptRe = "(\\d{20})\\.checkpoint.*\\.parquet".r
    // JSON-FLAVORED v2 checkpoints (the spec allows either format for
    // the top-level v2 file; sidecars are always parquet) seed too
    val jsonV2Re = "(\\d{20})\\.checkpoint\\..+\\.json".r
    // checkpoint to seed from: _last_checkpoint wins (unless pinned
    // BEFORE it), else the latest by name not past the pin. A LAGGING
    // _last_checkpoint (external writer checkpointed later but didn't
    // update the pointer) whose follow-up commits were already cleaned
    // must not strand the read when a newer named checkpoint covers the
    // gap — the same precedence [[isReplayable]] probes by, so the two
    // never disagree on whether a version resolves.
    val lastCkptFile = new Path(logDir, "_last_checkpoint")
    val ckptVersion: Option[Long] = {
      val fromFile =
        if (fs.exists(lastCkptFile)) {
          val in = fs.open(lastCkptFile)
          val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
          Some(mapper.readTree(txt).get("version").asLong)
        } else None
      val named = entries.collect {
          case ckptRe(v) => v.toLong
          case jsonV2Re(v) => v.toLong
        }
        .filter(v => asOf.forall(v <= _)).distinct.sorted
      val preferred = fromFile.filter(v => asOf.forall(v <= _))
      val commitSet = entries.collect { case commitRe(v) => v.toLong }
        .filter(v => asOf.forall(v <= _)).toSet
      val maxListed = if (commitSet.isEmpty) -1L else commitSet.max
      // a seed works when every listed commit past it is contiguous
      // (the replay's own requirement, checked listing-only here)
      def seedWorks(s: Long): Boolean =
        (s + 1 to math.max(s, maxListed)).forall(commitSet)
      preferred.filter(seedWorks)
        .orElse(named.reverse.find(seedWorks))
        .orElse(preferred).orElse(named.lastOption)
    }
    var schemaJson: Option[String] = None
    var mappingMode: String = "none"
    var partCols: Seq[String] = Nil
    var configuration = Map.empty[String, String]
    var protocolAction: Option[CpProto] = None
    var tableId = ""
    val files = mutable.LinkedHashMap.empty[String, Map[String, Option[String]]]
    val txns = mutable.LinkedHashMap.empty[String, Long]
    val stats = mutable.LinkedHashMap.empty[String, String]
    val dvs = mutable.LinkedHashMap.empty[String, DeletionVectors.Descriptor]
    val sizes = mutable.LinkedHashMap.empty[String, Long]
    val rawPaths = mutable.LinkedHashMap.empty[String, String]
    val domains = mutable.LinkedHashMap.empty[String, String]
    val rowIds = mutable.LinkedHashMap.empty[String, (Long, Long)]

    def partValues(node: JsonNode): Map[String, Option[String]] = {
      val out = mutable.LinkedHashMap.empty[String, Option[String]]
      val it = node.fields()
      while (it.hasNext) {
        val e = it.next()
        out(e.getKey) =
          if (e.getValue.isNull) None else Some(e.getValue.asText)
      }
      out.toMap
    }

    ckptVersion.foreach { v =>
      val parquetParts = entries.filter {
        case ckptRe(cv) => cv.toLong == v
        case _          => false
      }
      val jsonParts = entries.filter {
        case jsonV2Re(cv) => cv.toLong == v
        case _            => false
      }
      require(parquetParts.nonEmpty || jsonParts.nonEmpty,
        s"_last_checkpoint names version $v but no checkpoint file " +
          s"exists in $logDir")
      def seedAdds(src: DataFrame): Unit = {
        val addCols = src.select("add.*").columns.toSet
        // checkpoint adds can carry deletion vectors — decode them like
        // the log-replay path (no silent resurrection of deleted rows)
        if (addCols.contains("deletionVector")) {
          src.filter("add IS NOT NULL AND add.deletionVector IS NOT NULL")
            .select("add").toJSON.collect().foreach { js =>
              val a = mapper.readTree(js).get("add")
              parseDv(a).foreach(d => dvs(decodePath(a.get("path").asText)) = d)
            }
        }
        val hasStats = addCols.contains("stats")
        val hasSize = addCols.contains("size")
        val hasRowIds = addCols.contains("baseRowId") &&
          addCols.contains("defaultRowCommitVersion")
        val projCols = Seq("add.path", "add.partitionValues") ++
          (if (hasStats) Seq("add.stats") else Nil) ++
          (if (hasSize) Seq("add.size") else Nil) ++
          (if (hasRowIds)
            Seq("add.baseRowId", "add.defaultRowCommitVersion") else Nil)
        val proj = src.select("add").filter("add IS NOT NULL")
          .select(projCols.head, projCols.tail: _*)
        proj.collect()
          .foreach { r =>
            def at(name: String): Int = r.schema.fieldIndex(name)
            val path = decodePath(r.getString(at("path")))
            rawPaths(path) = r.getString(at("path"))
            val pv = Option(
                r.getJavaMap[String, String](at("partitionValues")))
              .map { m =>
                val out = mutable.LinkedHashMap.empty[String, Option[String]]
                m.forEach((k, v) => out(k) = Option(v))
                out.toMap
              }
              .getOrElse(Map.empty[String, Option[String]])
            files(path) = pv
            if (hasStats && !r.isNullAt(at("stats")))
              stats(path) = r.getString(at("stats"))
            if (hasSize && !r.isNullAt(at("size")))
              sizes(path) = r.getLong(at("size"))
            if (hasRowIds && !r.isNullAt(at("baseRowId")) &&
                !r.isNullAt(at("defaultRowCommitVersion")))
              rowIds(path) = (r.getLong(at("baseRowId")),
                r.getLong(at("defaultRowCommitVersion")))
          }
      }
      // resolve + read sidecar parquet files (always parquet per the
      // spec, whichever flavor the TOP file is)
      def seedSidecars(sides: Seq[String]): Unit =
        if (sides.nonEmpty) {
          val sidecarDir = new Path(logDir, "_sidecars")
          val paths = sides.map { sp =>
            if (sp.contains("://") || sp.startsWith("/")) sp
            else new Path(sidecarDir, sp).toString
          }
          val sdf = spark.read.parquet(paths.toIndexedSeq: _*)
          if (sdf.columns.contains("add")) seedAdds(sdf)
        }
      if (parquetParts.nonEmpty) {
      val ckpt = spark.read.parquet(
        parquetParts.map(p => new Path(logDir, p).toString).toIndexedSeq: _*)
      val cols = ckpt.columns.toSet
      // a checkpoint-seeded snapshot must honor the SAME protocol gate
      // as log replay: the table's protocol action lives (only) in the
      // checkpoint once commits are cleaned up
      if (cols.contains("protocol")) {
        ckpt.select("protocol").filter("protocol IS NOT NULL")
          .toJSON.collect()
          .foreach { js =>
            val node = mapper.readTree(js).get("protocol")
            checkProtocol(node)
            protocolAction = Some(parseProto(node))
          }
      }
      if (cols.contains("metaData")) {
        // foreign checkpoints may omit optional metaData fields (id)
        val metaCols = ckpt.select("metaData.*").columns.toSet
        val hasId = metaCols.contains("id")
        val proj = Seq("metaData.schemaString", "metaData.partitionColumns",
          "metaData.configuration") ++ (if (hasId) Seq("metaData.id") else Nil)
        val metas = ckpt.select("metaData")
          .filter("metaData IS NOT NULL AND metaData.schemaString IS NOT NULL")
          .select(proj.head, proj.tail: _*)
          .collect()
        metas.lastOption.foreach { r =>
          schemaJson = Some(r.getString(0))
          partCols = r.getSeq[String](1).toSeq
          val confMap = Option(r.getJavaMap[String, String](2))
          confMap.foreach { m =>
            val out = mutable.LinkedHashMap.empty[String, String]
            m.forEach((k, v) => out(k) = v)
            configuration = out.toMap
            mappingMode = checkMappingMode(
              configuration.get("delta.columnMapping.mode"))
          }
          if (hasId && !r.isNullAt(3)) tableId = r.getString(3)
        }
      }
      if (cols.contains("txn")) {
        ckpt.select("txn").filter("txn IS NOT NULL")
          .select("txn.appId", "txn.version").collect()
          .foreach(r => txns(r.getString(0)) = r.getLong(1))
      }
      if (cols.contains("domainMetadata")) {
        ckpt.filter("domainMetadata IS NOT NULL").select("domainMetadata")
          .toJSON.collect().foreach { js =>
            val dm = mapper.readTree(js).get("domainMetadata")
            if (!Option(dm.get("removed")).exists(_.asBoolean))
              domains(dm.get("domain").asText) = js
          }
      }
      if (cols.contains("add")) seedAdds(ckpt)
      // V2 CHECKPOINTS (spec "V2 Checkpoint Table Feature"): UUID-named
      // `<v>.checkpoint.<uuid>.parquet` whose FILE ACTIONS live in
      // `sidecar` actions pointing at `_delta_log/_sidecars/<name>`
      // parquet files — read each sidecar's adds like checkpoint adds
      // (removes there are vacuum tombstones, not live state). The
      // `checkpointMetadata` action, when present, must agree on the
      // version.
      if (cols.contains("checkpointMetadata")) {
        ckpt.select("checkpointMetadata.version")
          .filter("checkpointMetadata IS NOT NULL").collect()
          .foreach(r => require(r.getLong(0) == v,
            s"v2 checkpoint at $logDir declares version ${r.getLong(0)} " +
              s"but is named for version $v — corrupt checkpoint"))
      }
      if (cols.contains("sidecar")) {
        seedSidecars(ckpt.select("sidecar.path")
          .filter("sidecar IS NOT NULL AND sidecar.path IS NOT NULL")
          .collect().map(_.getString(0)).toSeq)
      }
      } else {
        // JSON-FLAVORED v2 checkpoint: newline-delimited actions in
        // the same shapes as commit JSONs — protocol/metaData/txn/
        // domainMetadata apply like replay, `add`s are the live file
        // set, `remove`s are EXPIRED TOMBSTONES (skipped: a checkpoint
        // is fresh state, not a delta), `sidecar`s point at parquet
        // file-action files, `checkpointMetadata` must agree on the
        // version. Driver-side parse — the top file is metadata-sized
        // (file actions live in the sidecars).
        val sidecarNames = mutable.ArrayBuffer.empty[String]
        jsonParts.foreach { name =>
          val in = fs.open(new Path(logDir, name))
          val txt = try new String(in.readAllBytes(), "UTF-8")
            finally in.close()
          txt.split("\n").filter(_.trim.nonEmpty).foreach { line =>
            val action = mapper.readTree(line)
            if (action.has("protocol")) {
              val node = action.get("protocol")
              checkProtocol(node)
              protocolAction = Some(parseProto(node))
            }
            if (action.has("metaData")) {
              val m = action.get("metaData")
              mappingMode = checkMetaData(m)
              val md = parseMetaData(m)
              schemaJson = Some(md.schemaJson)
              partCols = md.partitionColumns
              configuration = md.configuration
              md.id.foreach(tableId = _)
            }
            if (action.has("add")) {
              val a = action.get("add")
              val p = decodePath(a.get("path").asText)
              rawPaths(p) = a.get("path").asText
              files(p) = Option(a.get("partitionValues"))
                .map(partValues).getOrElse(Map.empty)
              Option(a.get("stats")).filterNot(_.isNull)
                .foreach(s => stats(p) = s.asText)
              Option(a.get("size")).filterNot(_.isNull)
                .foreach(s => sizes(p) = s.asLong)
              parseDv(a).foreach(d => dvs(p) = d)
              (Option(a.get("baseRowId")).filterNot(_.isNull).map(_.asLong),
                Option(a.get("defaultRowCommitVersion")).filterNot(_.isNull)
                  .map(_.asLong)) match {
                case (Some(b), Some(d)) => rowIds(p) = (b, d)
                case _ => ()
              }
            }
            if (action.has("txn")) {
              val t = action.get("txn")
              txns(t.get("appId").asText) = t.get("version").asLong
            }
            if (action.has("domainMetadata")) {
              val dm = action.get("domainMetadata")
              if (!Option(dm.get("removed")).exists(_.asBoolean))
                domains(dm.get("domain").asText) = line
            }
            if (action.has("checkpointMetadata"))
              require(action.get("checkpointMetadata")
                  .get("version").asLong == v,
                s"v2 checkpoint at $logDir declares version " +
                  action.get("checkpointMetadata").get("version").asLong +
                  s" but is named for version $v — corrupt checkpoint")
            if (action.has("sidecar"))
              Option(action.get("sidecar").get("path")).filterNot(_.isNull)
                .foreach(p => sidecarNames += p.asText)
          }
        }
        seedSidecars(sidecarNames.toSeq)
      }
    }

    val startAfter = ckptVersion.getOrElse(-1L)
    val commits = entries.collect {
      case n @ commitRe(v) if v.toLong > startAfter &&
        asOf.forall(v.toLong <= _) => (v.toLong, n)
    }.sortBy(_._1)
    require(ckptVersion.nonEmpty || commits.nonEmpty,
      s"empty Delta log at $logDir" +
        asOf.map(v => s" at or before version $v").getOrElse(""))
    // commit versions must be CONTIGUOUS from the seed: a missing
    // intermediate commit (external log cleanup without a checkpoint
    // covering it) would silently replay to a wrong file set
    commits.map(_._1).zipWithIndex.foreach { case (v, i) =>
      val expect = startAfter + 1 + i
      require(v == expect,
        s"Delta log at $logDir is missing commit version $expect " +
          s"(found $v after ${if (startAfter < 0) "the start" else s"checkpoint $startAfter"})" +
          " — cannot replay a gapped log")
    }
    var version = ckptVersion.getOrElse(-1L)
    commits.foreach { case (v, name) =>
      version = v
      val in = fs.open(new Path(logDir, name))
      val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      txt.split("\n").filter(_.trim.nonEmpty).foreach { line =>
        val action = mapper.readTree(line)
        if (action.has("protocol")) {
          checkProtocol(action.get("protocol"))
          protocolAction = Some(parseProto(action.get("protocol")))
        }
        if (action.has("metaData")) {
          val m = action.get("metaData")
          mappingMode = checkMetaData(m)
          val md = parseMetaData(m)
          schemaJson = Some(md.schemaJson)
          partCols = md.partitionColumns
          configuration = md.configuration
          md.id.foreach(tableId = _)
        }
        if (action.has("add")) {
          val a = action.get("add")
          val p = decodePath(a.get("path").asText)
          rawPaths(p) = a.get("path").asText
          files(p) = Option(a.get("partitionValues"))
            .map(partValues).getOrElse(Map.empty)
          Option(a.get("stats")).filterNot(_.isNull)
            .foreach(s => stats(p) = s.asText)
          Option(a.get("size")).filterNot(_.isNull)
            .foreach(s => sizes(p) = s.asLong)
          // re-adding a file REPLACES its DV state (a DV update is
          // remove+add of the same path with a new descriptor)
          parseDv(a) match {
            case Some(d) => dvs(p) = d
            case None => dvs.remove(p); ()
          }
          // row-tracking coordinates ride each add verbatim
          (Option(a.get("baseRowId")).filterNot(_.isNull).map(_.asLong),
            Option(a.get("defaultRowCommitVersion")).filterNot(_.isNull)
              .map(_.asLong)) match {
            case (Some(b), Some(d)) => rowIds(p) = (b, d)
            case _ => rowIds.remove(p); ()
          }
        }
        if (action.has("remove")) {
          val p = decodePath(action.get("remove").get("path").asText)
          files.remove(p)
          stats.remove(p)
          dvs.remove(p)
          sizes.remove(p)
          rawPaths.remove(p)
          rowIds.remove(p)
          ()
        }
        if (action.has("txn")) {
          val t = action.get("txn")
          txns(t.get("appId").asText) = t.get("version").asLong
        }
        if (action.has("domainMetadata")) {
          val dm = action.get("domainMetadata")
          val name = dm.get("domain").asText
          if (Option(dm.get("removed")).exists(_.asBoolean))
            { domains.remove(name); () }
          else domains(name) = line
        }
      }
    }
    val schema = schemaJson.map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(throw new IllegalArgumentException(
        s"Delta log at $logDir carries no metaData action"))
    Snapshot(schema, partCols, files.toMap, version, txns.toMap,
      stats.toMap, mappingMode,
      dvs.filter { case (p, _) => files.contains(p) }.toMap,
      sizes.filter { case (p, _) => files.contains(p) }.toMap,
      configuration, protocolAction, tableId,
      domainMetadata = domains.toMap,
      rawPaths = rawPaths.filter { case (p, _) => files.contains(p) }.toMap,
      rowIds = rowIds.filter { case (p, _) => files.contains(p) }.toMap)
  }

  /** Cheap replayability probe for version `v`: LISTING-ONLY (no
    * checkpoint parquet read, no JSON parse) — mirrors [[snapshot]]'s
    * seed rule: a checkpoint at s ≤ v plus contiguous commits (s, v],
    * or (no checkpoint) contiguous commits [0, v]. What the streaming
    * tail uses per micro-batch instead of a full log replay.
    */
  def isReplayable(spark: SparkSession, tablePath: String,
      v: Long): Boolean = {
    if (v < 0) return false
    val logDir = new Path(tablePath, "_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(logDir)) return false
    val entries = fs.listStatus(logDir).map(_.getPath.getName)
    val commitRe = "(\\d{20})\\.json".r
    val ckptRe = "(\\d{20})\\.checkpoint.*\\.parquet".r
    val jsonV2Re = "(\\d{20})\\.checkpoint\\..+\\.json".r
    val commits = entries.collect { case commitRe(cv) => cv.toLong }.toSet
    val seed = entries.collect {
        case ckptRe(cv) => cv.toLong
        case jsonV2Re(cv) => cv.toLong
      }.filter(_ <= v).sorted.lastOption
    seed match {
      case Some(s) => (s + 1 to v).forall(commits)
      case None => (0L to v).forall(commits)
    }
  }

  /** Build the DataFrame for a restricted file subset of a snapshot
    * (partition-literal injection per partition group).
    */
  private def readFiles(spark: SparkSession, tablePath: String,
      snap: Snapshot,
      files: Map[String, Map[String, Option[String]]],
      /** extra PASSTHROUGH data columns the files carry beyond the
        * table schema (the CDF reader's `_change_type`): read verbatim
        * (never column-mapped, no field-id check), appended after the
        * table columns in the output.
        */
      extraCols: Seq[StructField] = Nil,
      /** normalized-path → commit version: when set, a `_commit_version`
        * column is derived per row from the file it came from via a
        * broadcast map lookup on `_metadata.file_path` — what lets the
        * change-feed reader scan MANY commits' files as ONE scan
        * (constant plan size at any commit count) and still stamp each
        * row's exact commit.
        */
      commitVersionOf: Option[Map[String, Long]] = None): DataFrame = {
    val mapped = snap.columnMappingMode != "none"
    val dataFields = snap.schema.fields
      .filterNot(f => snap.partitionColumns.contains(f.name))
    // Column-mapped tables: the parquet files carry PHYSICAL field
    // names (schemaString metadata `delta.columnMapping.physicalName`,
    // nested included). Read under the physicalized schema, then
    // restore the logical names — nested ones by positional struct
    // cast. `id` mode resolves the same way — the spec requires BOTH
    // columnMapping.id and physicalName on every field — but first
    // VERIFIES each file footer's field ids against the physical names
    // (driver-side, KB metadata reads): a file whose ids disagree with
    // the metadata's physical names (an engine that honored only the
    // ids) refuses loudly instead of silently mis-reading. This keeps
    // the read self-contained — no session-wide
    // `spark.sql.parquet.fieldId.read.enabled` mutation leaking into
    // every later parquet read of the session.
    val readSchema =
      if (mapped) StructType(dataFields.map(f => f.copy(
        name = physicalName(f), dataType = physicalize(f.dataType))) ++
        extraCols)
      else StructType(dataFields ++ extraCols)
    val partFields = snap.partitionColumns.map(c =>
      snap.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"partition column $c missing from the Delta schema")))
    val verField = commitVersionOf.map(_ => StructField("_commit_version",
      org.apache.spark.sql.types.LongType)).toSeq
    val outNames = snap.schema.fieldNames.toSeq ++ extraCols.map(_.name) ++
      verField.map(_.name)
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(snap.schema.fields ++ extraCols ++ verField))
    def abs(p: String): String =
      if (p.contains("://") || p.startsWith("/")) p
      else new Path(tablePath, p).toString
    // the per-row commit stamp: broadcast hash lookup, map-only
    val verCol = commitVersionOf.map { m =>
      val bc = spark.sparkContext.broadcast(m)
      udf((path: String) => bc.value(IcebergLite.normalizePathStr(path)))
    }
    if (snap.columnMappingMode == "id")
      verifyFieldIds(spark, files.keysIterator.map(abs).toSeq, dataFields)
    def reader = spark.read.schema(readSchema)
    // group files by partition tuple; inject the typed partition
    // literals per group and union
    val groups = files.toSeq.groupBy(_._2).toSeq
    // live deletion vectors (advanced protocol): decode driver-side
    // (bitmaps are KB-compact), broadcast normalized-path → sorted row
    // indexes, anti-filter on the parquet row_index — the same
    // mechanism as iceberg position deletes
    val dvRelevant = files.keySet.intersect(snap.dvs.keySet)
    val dvMap: Map[String, Array[Long]] =
      if (dvRelevant.isEmpty) Map.empty
      else {
        val fsys = new Path(tablePath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        dvRelevant.iterator.map { p =>
          encodedPathKey(abs(p)) ->
            DeletionVectors.load(fsys, tablePath, snap.dvs(p))
        }.toMap
      }
    val keepRow =
      if (dvMap.isEmpty) None
      else {
        val bc = spark.sparkContext.broadcast(dvMap)
        Some(udf((path: String, idx: Long) =>
          bc.value.get(IcebergLite.normalizePathStr(path)) match {
            case Some(dead) =>
              java.util.Arrays.binarySearch(dead, idx) < 0
            case None => true
          }))
      }
    // Small partition counts read as per-group scans with the typed
    // partition LITERALS injected — Catalyst constant-folds filters on
    // partition columns per group, pruning whole scans for free. Past
    // the fan-out cap (default 64 — a union of thousands of scan nodes
    // would blow up plan size/optimizer time on a day-partitioned
    // multi-year table), switch to ONE scan of every file plus a
    // BROADCAST path→partition-values join: constant plan size at any
    // partition count, one hash lookup per row.
    val unionCap = spark.conf
      .getOption("graft.delta.partitionUnionLimit")
      .map(_.toInt).getOrElse(64)
    def logicalize(base0: DataFrame): DataFrame =
      if (mapped) base0.select((dataFields.map(f =>
        shapeCast(org.apache.spark.sql.functions
          .col(physicalName(f)), f.dataType)
          .as(f.name)) ++ (extraCols ++ verField).map(f =>
        org.apache.spark.sql.functions.col(f.name))).toIndexedSeq: _*)
      else base0
    if (partFields.nonEmpty && groups.size > unionCap) {
      def norm(p: String): String = encodedPathKey(abs(p))
      val scanned = reader
        .parquet(files.keysIterator.map(abs).toSeq: _*)
      val base00 = keepRow match {
        case Some(keep) => scanned.filter(keep(
          col("_metadata.file_path"), col("_metadata.row_index")))
        case None => scanned
      }
      val base0 = verCol.map(u => base00.withColumn("_commit_version",
        u(col("_metadata.file_path")))).getOrElse(base00)
      val pathCol = IcebergLite
        .normalizePathCol(col("_metadata.file_path")).as("__delta_path")
      val withPath =
        if (mapped) base0.select((dataFields.map(f =>
            shapeCast(org.apache.spark.sql.functions
              .col(physicalName(f)), f.dataType)
              .as(f.name)) ++ (extraCols ++ verField)
            .map(f =>
            org.apache.spark.sql.functions.col(f.name)) :+ pathCol)
          .toIndexedSeq: _*)
        else base0.select((dataFields.map(f =>
            org.apache.spark.sql.functions.col(f.name)) ++
            (extraCols ++ verField).map(
            f => org.apache.spark.sql.functions.col(f.name)) :+ pathCol)
          .toIndexedSeq: _*)
      val pvSchema = StructType(
        StructField("__delta_path", org.apache.spark.sql.types.StringType,
          nullable = false) +:
        partFields.map(f => StructField(s"__delta_pv_${f.name}",
          org.apache.spark.sql.types.StringType, nullable = true)))
      val pvRows = files.toSeq.map { case (p, pv) =>
        org.apache.spark.sql.Row.fromSeq(norm(p) +: partFields.map(f =>
          pv.get(physicalName(f)).orElse(pv.get(f.name)).flatten.orNull))
      }
      val pvDf = spark.createDataFrame(
        spark.sparkContext.parallelize(pvRows, 1), pvSchema)
      val joined = withPath.join(
        org.apache.spark.sql.functions.broadcast(pvDf),
        Seq("__delta_path"), "left")
      return partFields.foldLeft(joined) { (df, f) =>
          df.withColumn(f.name,
            col(s"__delta_pv_${f.name}").cast(f.dataType))
        }.select(outNames
          .map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
    }
    val parts = groups.map { case (pv, fs0) =>
      val scanned = reader
        .parquet(fs0.map(f => abs(f._1)): _*)
      val base00 = keepRow match {
        case Some(keep) if fs0.exists(f => snap.dvs.contains(f._1)) =>
          scanned.filter(keep(col("_metadata.file_path"),
            col("_metadata.row_index")))
        case _ => scanned
      }
      val base0 = verCol.map(u => base00.withColumn("_commit_version",
        u(col("_metadata.file_path")))).getOrElse(base00)
      val base = logicalize(base0)
      partFields.foldLeft(base) { (df, f) =>
        // partitionValues in column-mapped tables key by physical name
        val v = pv.get(physicalName(f)).orElse(pv.get(f.name)).flatten
        df.withColumn(f.name,
          v.map(s => lit(s).cast(f.dataType))
            .getOrElse(lit(null).cast(f.dataType)))
      }
    }
    parts.reduce(_.unionByName(_)).select(
      outNames.map(org.apache.spark.sql.functions.col)
        .toIndexedSeq: _*)
  }

  /** `id`-mode gate: verify each file footer's FIELD IDS — top-level
    * AND NESTED (struct members, list elements, map keys/values) —
    * agree with the metadata's physical names before resolving by
    * physicalName. Three loud refusals, never silent wrong data: a
    * footer with no top-level ids at all (spec violation for id mode),
    * an id present under a DIFFERENT name than its physicalName at any
    * nesting level, and a field named like a physicalName but carrying
    * a different id. Parquet shapes the walk can't pair with the delta
    * type (legacy list encodings, idless wrapper groups) are skipped,
    * not guessed. Driver-side KB footer reads, one per candidate file.
    */
  private def verifyFieldIds(spark: SparkSession, absPaths: Seq[String],
      dataFields: Array[StructField]): Unit = {
    import org.apache.parquet.schema.{GroupType, Type => PqType}
    import org.apache.spark.sql.types.{ArrayType, MapType}
    val conf = spark.sparkContext.hadoopConfiguration

    // struct-level check: ids seen in this parquet group vs the delta
    // fields' columnMapping metadata (both directions)
    def checkStruct(p: String, group: GroupType,
        fields: Seq[StructField], at: String): Boolean = {
      val withId = fields.filter(_.metadata.contains("delta.columnMapping.id"))
      val wanted: Map[Int, StructField] = withId.map(f =>
        f.metadata.getLong("delta.columnMapping.id").toInt -> f).toMap
      val physToId: Map[String, Int] =
        wanted.map { case (id, f) => physicalName(f) -> id }
      var sawIds = false
      (0 until group.getFieldCount).foreach { i =>
        val t = group.getType(i)
        Option(t.getId).foreach { id =>
          sawIds = true
          wanted.get(id.intValue).foreach { f =>
            require(t.getName == physicalName(f),
              s"id-mapped Delta file $p carries field id ${id.intValue} " +
                s"under parquet column '$at${t.getName}' but the table " +
                s"metadata names it '$at${physicalName(f)}' — the native " +
                "reader resolves by physical name; read this table with " +
                "the delta-spark jars")
          }
        }
        physToId.get(t.getName).foreach { id =>
          require(Option(t.getId).forall(_.intValue == id),
            s"id-mapped Delta file $p has parquet column " +
              s"'$at${t.getName}' with field id ${t.getId} but the table " +
              s"metadata assigns id $id to that physical name — read " +
              "with the delta-spark jars")
        }
      }
      // recurse into members present in the file
      fields.foreach { f =>
        val pn = physicalName(f)
        if (group.containsField(pn))
          descend(p, group.getType(pn), f.dataType, s"$at$pn.")
      }
      sawIds
    }

    def descend(p: String, pt: PqType, dt: DataType, at: String): Unit =
      (dt, pt) match {
        case (st: StructType, g: GroupType) =>
          checkStruct(p, g, st.fields.toSeq, at); ()
        case (ArrayType(et, _), g: GroupType) if g.getFieldCount == 1 =>
          // 3-level list: <name> (LIST) { repeated group list { element } };
          // legacy 2-level: repeated element directly
          val rep = g.getType(0)
          val elem =
            if (!rep.isPrimitive && rep.asGroupType.getFieldCount == 1 &&
                rep.isRepetition(PqType.Repetition.REPEATED))
              rep.asGroupType.getType(0)
            else rep
          descend(p, elem, et, s"${at}element.")
        case (MapType(kt, vt, _), g: GroupType)
            if g.getFieldCount == 1 && !g.getType(0).isPrimitive =>
          val kv = g.getType(0).asGroupType
          if (kv.getFieldCount == 2) {
            descend(p, kv.getType(0), kt, s"${at}key.")
            descend(p, kv.getType(1), vt, s"${at}value.")
          }
        case _ => ()
      }

    absPaths.foreach { p =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new Path(p), conf))
      val msg = try r.getFooter.getFileMetaData.getSchema finally r.close()
      dataFields.foreach { f =>
        require(f.metadata.contains("delta.columnMapping.id"),
          s"id-mapped Delta column '${f.name}' lacks delta.columnMapping.id")
      }
      val sawIds = checkStruct(p, msg, dataFields.toSeq, "")
      require(sawIds,
        s"id-mapped Delta table file $p carries no parquet field ids " +
          "(the id mode spec requires them) — read with the delta-spark " +
          "jars")
    }
  }

  /** The physical StructField for SCANS of a mapped table: physical
    * name, physicalized nested type, NO metadata — a read schema
    * carrying `parquet.field.id` would make Spark (fieldId read is ON
    * by default in Spark 4) demand ids from pre-upgrade id-less files.
    * Ids are stamped only on WRITE projections ([[toPhysical]],
    * [[stampFieldIds]]).
    */
  private def physicalField(
      f: org.apache.spark.sql.types.StructField): org.apache.spark.sql.types.StructField =
    f.copy(name = physicalName(f), dataType = physicalize(f.dataType),
      metadata = org.apache.spark.sql.types.Metadata.empty)

  /** The physical StructField for the UNIFORM REGISTRATION
    * ([[syncUniform]]): physical names like [[physicalField]], but
    * CARRYING the delta ids as explicit iceberg ids —
    * `parquet.field.id` on every named field at every depth plus the
    * `parquet.field.nested.ids` member map — so
    * [[IcebergLite.commitExistingFiles]] writes the iceberg schema
    * with the SAME numbering the parquet footers carry (positional
    * numbering cannot match once containers burn member ids).
    * [[IcebergLite]] parses the registered metadata back WITHOUT
    * Spark metadata, so the scan-path fieldId concern in
    * [[physicalField]]'s doc does not apply here.
    */
  private def physicalFieldWithIds(
      f: org.apache.spark.sql.types.StructField): org.apache.spark.sql.types.StructField = {
    import org.apache.spark.sql.types._
    def conv(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map(physicalFieldWithIds))
      case a: ArrayType => a.copy(elementType = conv(a.elementType))
      case m: MapType =>
        m.copy(keyType = conv(m.keyType), valueType = conv(m.valueType))
      case other => other
    }
    val mb = new MetadataBuilder()
    if (f.metadata.contains("delta.columnMapping.id"))
      mb.putLong("parquet.field.id",
        f.metadata.getLong("delta.columnMapping.id"))
    if (f.metadata.contains("parquet.field.nested.ids"))
      mb.putMetadata("parquet.field.nested.ids",
        f.metadata.getMetadata("parquet.field.nested.ids"))
    f.copy(name = physicalName(f), dataType = conv(f.dataType),
      metadata = mb.build())
  }

  /** Re-attach `parquet.field.id` to an already-physical-named frame
    * (the compact rewrite path) so rewritten files of id-mapped tables
    * keep carrying field ids.
    */
  private def stampFieldIds(df: DataFrame,
      fields: Array[StructField],
      extraCols: Seq[String] = Nil): DataFrame =
    df.select((fields.map { f =>
      val c = col(physicalName(f))
      if (f.metadata.contains("delta.columnMapping.id"))
        c.as(physicalName(f), fieldIdMeta(f))
      else c
    }.toSeq ++ extraCols.map(col)).toIndexedSeq: _*)

  /** Write-projection metadata for one mapped field: `parquet.field.id`
    * from the columnMapping id, plus the `parquet.field.nested.ids`
    * member-id map when icebergCompatV2 allocated one
    * ([[assignNestedIds]]) — the staging restamp
    * ([[ParquetIdStamp]]) reads it off the staged frame's schema.
    */
  private def fieldIdMeta(
      f: StructField): org.apache.spark.sql.types.Metadata = {
    val mb = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("parquet.field.id",
        f.metadata.getLong("delta.columnMapping.id"))
    if (f.metadata.contains("parquet.field.nested.ids"))
      mb.putMetadata("parquet.field.nested.ids",
        f.metadata.getMetadata("parquet.field.nested.ids"))
    mb.build()
  }

  /** Structural rename/shape cast (physical↔logical projections):
    * CONTAINER targets cast to their fully-nullable form — parquet
    * scans surface nullable members regardless of the declared
    * schema, and `Cast` refuses the true→false nullability narrowing
    * (`ARRAY<BIGINT>` to `ARRAY<BIGINT>` with containsNull=false).
    * Scalar targets cast unchanged.
    */
  private def shapeCast(c: org.apache.spark.sql.Column,
      dt: DataType): org.apache.spark.sql.Column = dt match {
    case _: StructType | _: org.apache.spark.sql.types.ArrayType |
         _: org.apache.spark.sql.types.MapType =>
      c.cast(widenNullable(dt))
    case _ => c.cast(dt)
  }

  private def widenNullable(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      f.copy(dataType = widenNullable(f.dataType), nullable = true)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = widenNullable(a.elementType),
        containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(keyType = widenNullable(m.keyType),
        valueType = widenNullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  private def physicalName(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains("delta.columnMapping.physicalName"))
      f.metadata.getString("delta.columnMapping.physicalName")
    else f.name

  /** Project a LOGICAL-named batch into the PHYSICAL shape the data
    * files of a column-mapped table carry: top-level fields rename to
    * their physicalName (with `parquet.field.id` metadata from
    * columnMapping.id, so staged files carry field ids — what `id`-mode
    * readers, ours included, resolve by); nested struct fields rename
    * via a positional cast to the physicalized type.
    */
  private def toPhysical(df: DataFrame,
      schema: StructType,
      extra: Seq[org.apache.spark.sql.Column] = Nil): DataFrame =
    df.select((schema.fields.map { f =>
      val c = shapeCast(col(f.name), physicalize(f.dataType))
      if (f.metadata.contains("delta.columnMapping.id"))
        c.as(physicalName(f), fieldIdMeta(f))
      else c.as(physicalName(f))
    }.toSeq ++ extra).toIndexedSeq: _*)

  /** A logical frame in the shape the table's data files carry, and the
    * partition columns to stage it by, in the same naming: physical names
    * and field ids on a column-mapped table ([[toPhysical]]), the table's
    * own columns otherwise. `extra` columns (materialized row ids,
    * `_change_type`) ride after the table's.
    */
  private def physicalFrame(df: DataFrame, schema: StructType,
      partCols: Seq[String], mapped: Boolean,
      extra: Seq[org.apache.spark.sql.Column] = Nil)
      : (DataFrame, Seq[String]) =
    if (!mapped)
      (if (extra.isEmpty) df
       else df.select(schema.fieldNames.map(col).toIndexedSeq ++ extra: _*),
        partCols)
    else (toPhysical(df, schema, extra), partCols.map(c =>
      physicalName(schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"partition column $c missing from the Delta schema")))))

  /** Assign fresh columnMapping metadata to every field (nested
    * included): ids startId+1.. in walk order. The physical name
    * defaults to the CURRENT name — the delta-spark UPGRADE convention,
    * so existing data files keep resolving; evolution passes a
    * `col-<uuid>` generator instead (brand-new columns have no files to
    * resolve). Returns (mapped schema, maxColumnId).
    */
  private def assignMapping(schema: StructType, startId: Long = 0L,
      physNameOf: StructField => String = _.name): (StructType, Long) = {
    import org.apache.spark.sql.types._
    var next = startId
    def field(f: StructField): StructField = {
      next += 1
      val id = next
      f.copy(dataType = walk(f.dataType),
        metadata = new MetadataBuilder().withMetadata(f.metadata)
          .putLong("delta.columnMapping.id", id)
          .putString("delta.columnMapping.physicalName", physNameOf(f))
          .build())
    }
    def walk(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map(field))
      case a: ArrayType => a.copy(elementType = walk(a.elementType))
      case m: MapType =>
        m.copy(keyType = walk(m.keyType), valueType = walk(m.valueType))
      case other => other
    }
    (StructType(schema.fields.map(field)), next)
  }

  /** Highest columnMapping id anywhere in the schema — the fallback
    * when a foreign table's configuration omits maxColumnId.
    */
  private def maxMappingId(schema: StructType): Long = {
    import org.apache.spark.sql.types._
    def walk(dt: DataType): Long = dt match {
      case st: StructType =>
        (0L +: st.fields.toSeq.map { f =>
          val own =
            if (f.metadata.contains("delta.columnMapping.id"))
              f.metadata.getLong("delta.columnMapping.id")
            else 0L
          math.max(own, walk(f.dataType))
        }).max
      case a: ArrayType => walk(a.elementType)
      case m: MapType => math.max(walk(m.keyType), walk(m.valueType))
      case _ => 0L
    }
    walk(schema)
  }

  /** icebergCompatV2 NESTED field ids: iceberg numbers the implicit
    * members of container types (a list's `element`, a map's `key` and
    * `value`) while delta column mapping numbers named fields only, so
    * a UniForm table with array/map columns needs the member ids
    * allocated on the delta side and stamped into the data files
    * (PROTOCOL.md IcebergCompatV2 writer requirements; delta-spark's
    * `parquet.field.nested.ids` convention). Ids are allocated PAST
    * `startId` (the table's maxColumnId) in schema pre-order and
    * recorded on the nearest enclosing StructField as a JSON object
    * keyed by the member's full PHYSICAL dot-path (`col-a.element`,
    * `col-m.key`, `col-a.element.element`, …). Idempotent: members
    * already carrying an id keep it. Returns (schema, new max id).
    */
  private def assignNestedIds(schema: StructType,
      startId: Long): (StructType, Long) = {
    import org.apache.spark.sql.types._
    var next = startId
    def fieldOf(f: StructField, prefix: Seq[String]): StructField = {
      val physPath = prefix :+ physicalName(f)
      val existing = ParquetIdStamp.nestedIdsOf(f)
      val acc = mutable.LinkedHashMap.empty[String, Long] ++ existing
      def walk(dt: DataType, path: Seq[String]): DataType = dt match {
        case a: ArrayType =>
          val p = path :+ "element"
          val key = p.mkString(".")
          if (!acc.contains(key)) { next += 1; acc(key) = next }
          a.copy(elementType = walk(a.elementType, p))
        case m: MapType =>
          val kp = path :+ "key"
          if (!acc.contains(kp.mkString("."))) {
            next += 1; acc(kp.mkString(".")) = next
          }
          val kt = walk(m.keyType, kp)
          val vp = path :+ "value"
          if (!acc.contains(vp.mkString("."))) {
            next += 1; acc(vp.mkString(".")) = next
          }
          m.copy(keyType = kt, valueType = walk(m.valueType, vp))
        case st: StructType =>
          StructType(st.fields.map(f2 => fieldOf(f2, path)))
        case other => other
      }
      val newDt = walk(f.dataType, physPath)
      if (acc.isEmpty) f.copy(dataType = newDt)
      else {
        val sub = acc.foldLeft(new MetadataBuilder()) {
          case (b, (k, v)) => b.putLong(k, v)
        }.build()
        f.copy(dataType = newDt,
          metadata = new MetadataBuilder().withMetadata(f.metadata)
            .putMetadata("parquet.field.nested.ids", sub).build())
      }
    }
    (StructType(schema.fields.map(f => fieldOf(f, Nil))), next)
  }

  /** Every `parquet.field.nested.ids` entry anywhere in the schema,
    * merged (keys are full physical paths, so attachment points don't
    * matter on read).
    */
  private def collectNestedIds(schema: StructType): Map[String, Long] = {
    import org.apache.spark.sql.types._
    def field(f: StructField): Map[String, Long] =
      ParquetIdStamp.nestedIdsOf(f) ++ walk(f.dataType)
    def walk(dt: DataType): Map[String, Long] = dt match {
      case st: StructType => st.fields.flatMap(field).toMap
      case a: ArrayType => walk(a.elementType)
      case m: MapType => walk(m.keyType) ++ walk(m.valueType)
      case _ => Map.empty
    }
    schema.fields.flatMap(field).toMap
  }

  /** Every list/map member id-path the schema implies (full physical
    * dot-paths, the [[assignNestedIds]] key space) — the set that must
    * be covered before a UniForm table with containers can sync.
    */
  private def memberIdPaths(schema: StructType): Seq[String] = {
    import org.apache.spark.sql.types._
    def walk(dt: DataType, path: Seq[String]): Seq[String] = dt match {
      case a: ArrayType =>
        val p = path :+ "element"
        p.mkString(".") +: walk(a.elementType, p)
      case m: MapType =>
        val kp = path :+ "key"
        val vp = path :+ "value"
        (kp.mkString(".") +: walk(m.keyType, kp)) ++
          (vp.mkString(".") +: walk(m.valueType, vp))
      case st: StructType =>
        st.fields.toSeq.flatMap(f => walk(f.dataType, path :+ physicalName(f)))
      case _ => Nil
    }
    schema.fields.toSeq.flatMap(f => walk(f.dataType, Seq(physicalName(f))))
  }

  /** Rename every nested struct field to its physical name (arrays and
    * maps recurse) — the schema shape the data files of a name-mapped
    * table actually carry.
    */
  private def physicalize(
      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
    dt match {
      case st: StructType => StructType(st.fields.map(f => f.copy(
        name = physicalName(f), dataType = physicalize(f.dataType))))
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = physicalize(a.elementType))
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(keyType = physicalize(m.keyType),
          valueType = physicalize(m.valueType))
      case other => other
    }

  /** The table snapshot as a DataFrame (reader.rs parity: one full scan
    * — of the latest version, or of `asOf` for version-pinned reads).
    */
  def read(spark: SparkSession, tablePath: String,
      asOf: Option[Long] = None,
      where: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val snap = snapshot(spark, tablePath, asOf)
    val files = where.map(w => pruneFiles(snap, w)).getOrElse(snap.files)
    val base = readFiles(spark, tablePath, snap, files)
    // the residual filter still runs distributed — pruning only drops
    // files that PROVABLY hold no matching row
    where.map(base.filter).getOrElse(base)
  }

  /** The snapshot WITH each row's stable row-tracking identity:
    * the logical columns plus `_row_id` / `_row_commit_version`,
    * resolved per the spec as the file's MATERIALIZED column value
    * when present (rewritten files carry one) else the add's
    * coordinate default (`baseRowId + row_index` /
    * `defaultRowCommitVersion`). This is the read surface that makes
    * OPTIMIZE/MERGE id preservation observable — and what CDC
    * consumers key on for stable-row joins.
    */
  def readWithRowIds(spark: SparkSession, tablePath: String,
      asOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, tablePath, asOf)
    require(rowTrackingActive(snap),
      s"$tablePath does not run row tracking — no stable row ids exist")
    scanFilesWithMeta(spark, tablePath, snap, snap.files,
      withPos = false, rowIds = true).drop("__file")
  }

  /** Files that could hold rows matching `where` — driver-side data
    * skipping over the log's own metadata, the scale path for
    * selective reads on a large table: each supported conjunct
    * (=, <, <=, >, >=, IS [NOT] NULL on a column vs a literal) prunes
    * via (a) a TYPED comparison against the file's single recorded
    * partition value for partition columns, and (b) the stats JSON's
    * [min,max]/nullCount bounds for data columns. A file survives
    * unless some conjunct is provably unsatisfiable; unknown
    * conjuncts, un-comparable kinds, and missing stats never prune
    * (conservative). Package-private for direct pruning tests.
    */
  private[graft] def pruneFiles(snap: Snapshot,
      where: org.apache.spark.sql.Column)
      : Map[String, Map[String, Option[String]]] = {
    val preds = org.apache.spark.sql.graft.ColumnBridge
      .simpleConjuncts(where)
    if (preds.isEmpty) return snap.files
    val partFieldsByName = snap.partitionColumns.flatMap(c =>
      snap.schema.fields.find(_.name == c).map(c -> _)).toMap
    val typeByName = snap.schema.fields.map(f => f.name -> f.dataType).toMap
    // mapped tables record stats under PHYSICAL column names
    val physByName = snap.schema.fields
      .map(f => f.name -> physicalName(f)).toMap
    def numRecords(node: JsonNode): Option[Long] =
      Option(node.get("numRecords")).map(_.asLong)
    def statBound(node: JsonNode, section: String, c: String): Option[Any] =
      Option(node.get(section)).flatMap(s => Option(s.get(c))).flatMap { v =>
        if (v.isNumber) Some(v.decimalValue())
        else if (v.isTextual) Some(v.asText)
        else None
      }
    snap.files.filter { case (p, pv) =>
      val stats = snap.stats.get(p).flatMap { js =>
        try Option(mapper.readTree(js)) catch { case _: Exception => None }
      }
      preds.forall { case (c, op, lit0) =>
        partFieldsByName.get(c) match {
          case Some(f) =>
            // one partition value per file: compare it directly
            val recorded = pv.get(physicalName(f)).orElse(pv.get(c)).flatten
            (op, recorded) match {
              case ("null", r) => r.isEmpty
              case ("notnull", r) => r.nonEmpty
              case (_, None) => false // value is NULL: no <,=,> matches
              case (_, Some(s)) =>
                (for {
                  a <- partBound(f.dataType, s)
                  b <- litBound(lit0)
                  cmp <- cmpBounds(a, b)
                } yield op match {
                  case "=" => cmp == 0
                  case "<" => cmp < 0
                  case "<=" => cmp <= 0
                  case ">" => cmp > 0
                  case ">=" => cmp >= 0
                  case _ => true
                }).getOrElse(true)
            }
          case None if typeByName.contains(c) =>
            // data column: bounds say "provably no matching row"?
            val pc = physByName.getOrElse(c, c)
            stats match {
              case None => true
              case Some(node) =>
                op match {
                  case "null" =>
                    !statBound(node, "nullCount", pc)
                      .exists(nc => cmpBounds(nc,
                        java.math.BigDecimal.ZERO).contains(0))
                  case "notnull" =>
                    !(for {
                      nc <- statBound(node, "nullCount", pc)
                      n <- numRecords(node)
                      cmp <- cmpBounds(nc, java.math.BigDecimal.valueOf(n))
                    } yield cmp == 0).getOrElse(false)
                  case _ =>
                    (for {
                      b <- litBound(lit0)
                      unsat <- op match {
                        case "=" =>
                          for {
                            mn <- statBound(node, "minValues", pc)
                            mx <- statBound(node, "maxValues", pc)
                            lo <- cmpBounds(b, mn)
                            hi <- cmpBounds(b, mx)
                          } yield lo < 0 || hi > 0
                        case "<" => for {
                          mn <- statBound(node, "minValues", pc)
                          cmp <- cmpBounds(mn, b)
                        } yield cmp >= 0
                        case "<=" => for {
                          mn <- statBound(node, "minValues", pc)
                          cmp <- cmpBounds(mn, b)
                        } yield cmp > 0
                        case ">" => for {
                          mx <- statBound(node, "maxValues", pc)
                          cmp <- cmpBounds(mx, b)
                        } yield cmp <= 0
                        case ">=" => for {
                          mx <- statBound(node, "maxValues", pc)
                          cmp <- cmpBounds(mx, b)
                        } yield cmp < 0
                        case _ => None
                      }
                    } yield !unsat).getOrElse(true)
                }
            }
          case None => true // unknown column (e.g. computed): keep
        }
      }
    }
  }

  /** CDC between two table VERSIONS at O(changed files), composed with
    * the snapshot-diff seam ([[graft.cdc.SnapshotDiff]], the q118
    * re-snapshot contract): Delta data files are immutable, so rows in
    * files present in BOTH versions cancel out of any keyed diff —
    * only files REMOVED since `fromVersion` (old side) and files ADDED
    * since (new side) need reading. For a keyed table (each key in one
    * live row per version — the precondition SnapshotDiff already
    * enforces via non-null keys) the restricted diff equals the full
    *-snapshot diff exactly, at the cost of the churned files instead
    * of the whole table. Output: the ChangeModel feed (`_op`/`_seq`)
    * that [[graft.cdc.ChangeModel.applyChanges]] and every downstream
    * CDC operator consume — delta-tail CDC without the connector jar.
    */
  private def normalizeNullability(
      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
    dt match {
      case st: StructType => StructType(st.fields.map(f => f.copy(
        dataType = normalizeNullability(f.dataType), nullable = true,
        metadata = org.apache.spark.sql.types.Metadata.empty)))
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = normalizeNullability(a.elementType),
          containsNull = true)
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(valueType = normalizeNullability(m.valueType),
          valueContainsNull = true)
      case other => other
    }

  /** Columns the per-file stats index covers: top-level atomics whose
    * min/max render into JSON with a comparison that matches the column
    * order (numbers numerically, strings and ISO dates
    * lexicographically). Timestamps are skipped — format variance
    * across writers; a column without stats simply never prunes.
    */
  private def statsEligible(f: org.apache.spark.sql.types.StructField): Boolean = {
    import org.apache.spark.sql.types._
    f.dataType match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | StringType | DateType => true
      case _: DecimalType => true
      case _ => false
    }
  }

  /** The spec's per-file stats JSON from one file's parquet footer. */
  private def statsJsonFor(fst: ParquetFooterStats.FileStats,
      eligible: Seq[org.apache.spark.sql.types.StructField]): String = {
    val node = mapper.createObjectNode()
    node.put("numRecords", fst.rows)
    val minN = node.putObject("minValues")
    val maxN = node.putObject("maxValues")
    val ncN = node.putObject("nullCount")
    eligible.foreach { f =>
      def put(tgt: com.fasterxml.jackson.databind.node.ObjectNode,
          v: Any): Unit = v match {
        case null => ()
        case b: Byte => tgt.put(f.name, b.toInt); ()
        case s: Short => tgt.put(f.name, s.toInt); ()
        case i: Int => tgt.put(f.name, i); ()
        case l: Long => tgt.put(f.name, l); ()
        case fl: Float if !fl.isNaN && !fl.isInfinite =>
          tgt.put(f.name, fl); ()
        case d: Double if !d.isNaN && !d.isInfinite =>
          tgt.put(f.name, d); ()
        case s: String => tgt.put(f.name, s); ()
        case d: java.math.BigDecimal => tgt.put(f.name, d); ()
        case d: java.sql.Date => tgt.put(f.name, d.toString); ()
        case _ => () // NaN/Inf extremes: omit (never prunes)
      }
      val cs = fst.cols.get(f.name)
      cs.flatMap(_.bounds).foreach { case (mn, mx) =>
        put(minN, mn); put(maxN, mx)
      }
      cs.flatMap(_.nullCount).foreach { nc =>
        ncN.put(f.name, nc); ()
      }
    }
    mapper.writeValueAsString(node)
  }

  /** OPTIMIZED WRITE (delta-spark's optimizedWrite analogue, guide §6
    * output-file sizing) for [[stage]]'s unpartitioned path: an AQE
    * REBALANCE above the batch sizes staged
    * files to `spark.sql.adaptive.advisoryPartitionSizeInBytes` — a
    * tiny batch lands in ONE file instead of one sliver per upstream
    * shuffle partition (the r19 q165 profile: a 1000-row identity write
    * sprayed 32 files, and every later snapshot scan, broadcast build,
    * and >32-path listing job paid 32+ tasks forever after), and a huge
    * batch splits to advisory-sized files. Scale-adaptive by
    * construction: the knob is bytes, not a core count. Skipped when
    * `graft.delta.optimizedWrite=false`, and when the CALLER's plan
    * root is an explicit repartition or coalesce, which owns its file
    * layout: [[compact]]'s packed and clustered rewrites, layout rigs
    * like the clustered-compact fixture, and the `coalesce(1)` a small
    * [[upsert]] stages through (one file by construction, so no
    * rebalance shuffle is added above it). Identity/rowid fill
    * expressions are computed BELOW the added exchange (projections
    * with nondeterministic producers are never pushed through it), so
    * allocation still reads the persisted batch's partition layout.
    */
  private def rebalanceForStaging(spark: SparkSession,
      df: DataFrame): DataFrame = {
    // "explicit layout" = a repartition/coalesce at the plan root,
    // looking through projections and sorts (compact's clustered
    // shape is sortWithinPartitions OVER repartitionByRange — the
    // Sort must not hide the repartition below it)
    def explicitLayout(
        p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : Boolean = p match {
      case pr: org.apache.spark.sql.catalyst.plans.logical.Project =>
        explicitLayout(pr.child)
      case a: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
        explicitLayout(a.child)
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort =>
        explicitLayout(s.child)
      case _: org.apache.spark.sql.catalyst.plans.logical
          .RepartitionOperation => true
      case _ => false
    }
    if (optimizedWrite(spark) && !explicitLayout(df.queryExecution.logical))
      df.hint("rebalance")
    else df
  }

  /** Whether staging sizes its output files: `graft.delta.optimizedWrite`
    * and AQE both on (the default). */
  private def optimizedWrite(spark: SparkSession): Boolean =
    spark.conf.getOption("graft.delta.optimizedWrite").forall(_.toBoolean) &&
      spark.conf.getOption("spark.sql.adaptive.enabled").forall(_.toBoolean)

  /** One file a commit staged under the table root: its path relative
    * to the root, size, row count, stats JSON and partition values.
    */
  private final case class StagedFile(path: String, size: Long, rows: Long,
      stats: String, partitionValues: Map[String, Option[String]])

  /** Stage `df` as parquet in ONE distributed pass into a
    * `<table>_stage_<uuid>` sibling, then move each part file under the
    * table root, below `under` (`_change_data` for CDF files) and, when
    * `partCols` is non-empty, the hive-escaped `c=v/` directory chain
    * the `partitionBy` write left, keeping its staged (collision-free)
    * name. An unpartitioned write is sized by [[rebalanceForStaging]]; a
    * partitioned one is clustered onto its partition tuples (one pass,
    * never one scan per tuple). Per-file stats (numRecords/minValues/
    * maxValues/nullCount over the data columns, partition columns and
    * `statsExclude` left out) come straight from the parquet footers the
    * write produced ([[ParquetFooterStats]]) — no second scan of the
    * staged data, the same inline-stats shape delta-spark collects during
    * its writes. Partition values recover from the directory segments
    * (Delta's `partitionValues` are strings in the log — the unescaped
    * segment IS the serialized value; `__HIVE_DEFAULT_PARTITION__` →
    * null). The stage directory is deleted whether or not the moves
    * succeed.
    */
  private def stage(spark: SparkSession, df: DataFrame, root: Path,
      fs: FileSystem, partCols: Seq[String],
      statsExclude: Seq[String] = Nil,
      under: String = ""): Seq[StagedFile] = {
    partCols.foreach { c =>
      val f = df.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"partition column '$c' missing from the batch schema"))
      import org.apache.spark.sql.types._
      f.dataType match {
        case ByteType | ShortType | IntegerType | LongType | StringType |
             DateType | BooleanType | TimestampType | _: DecimalType => ()
        case dt => throw new IllegalArgumentException(
          s"partition column '$c' has type ${dt.simpleString} — Delta " +
            "partition values must round-trip through their string " +
            "serialization (use an atomic type)")
      }
    }
    val stageDir = new Path(root.toString + "_stage_" +
      java.util.UUID.randomUUID.toString.take(8))
    val writer =
      if (partCols.isEmpty) rebalanceForStaging(spark, df).write
      else {
        // CLUSTERED staging (delta-spark's "optimized write" shape): hash
        // the rows onto their partition tuple first, so each tuple lands
        // in ONE task and writes ONE file — without it every shuffle
        // partition writes a sliver per touched dir (tasks × dirs small
        // files, the thing compaction exists to undo).
        // `graft.delta.clusteredStaging` = false restores the unclustered
        // write for skewed tuples.
        val clustered =
          if (spark.conf.getOption("graft.delta.clusteredStaging")
              .forall(_.toBoolean))
            // explicit count: AQE preserves it (a column-only repartition
            // coalesces tiny batches to ONE task, serializing the write);
            // hash collisions just mean one task writes two dirs — still
            // one file per tuple
            df.repartition(spark.sessionState.conf.numShufflePartitions,
              partCols.map(col): _*)
          else df
        clustered.write.partitionBy(partCols: _*)
      }
    try {
      writer.mode("overwrite").parquet(stageDir.toString)
      val dataSchema = StructType(
        df.schema.fields.filterNot(f => partCols.contains(f.name)))
      // statsExclude: physical-only companion columns (materialized row
      // ids) never surface in the log's stats JSON — they are not in the
      // logical schema and would confuse foreign pruners
      val eligible = dataSchema.fields.filter(statsEligible)
        .filterNot(f => statsExclude.contains(f.name)).toSeq
      val conf = spark.sparkContext.hadoopConfiguration
      def leaves(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
        fs.listStatus(p).toSeq.flatMap { s =>
          if (s.isDirectory) leaves(s.getPath)
          else if (s.getPath.getName.startsWith("part-")) Seq(s) else Nil
        }
      val parts = leaves(stageDir)
      // icebergCompatV2 member ids (list element / map key,value — not
      // StructFields, Spark's writer can't stamp them) AND nested named
      // fields whose id rides only `delta.columnMapping.id` (which the
      // writer ignores): the staged footers are patched in place before
      // the move. Partition columns are not in the files, so their paths
      // never match.
      if (ParquetIdStamp.needsStamp(dataSchema))
        ParquetIdStamp.stampAll(conf, parts.map(_.getPath),
          ParquetIdStamp.pathIds(dataSchema))
      // footers read with the bounded pool — never one serialized
      // round-trip per part file
      val footerStats = ParquetFooterStats.readAll(conf,
        parts.map(_.getPath), dataSchema)
      // an empty task's 0-row part file never becomes an add — an empty
      // add is log noise every reader must still open and scan-plan for
      // (and an all-dead copy-on-write rewrite must net to a bare remove)
      val kept = parts.filter(st => footerStats(st.getPath).rows > 0L)
        .map { st =>
          // the dir chain between the stage root and the file, in spec
          // order (partitionBy writes them outermost-first). listStatus
          // paths come back fully qualified (file:/…), so Path equality
          // with the unqualified stage root never fires — the stage dir's
          // UUID-suffixed NAME is the reliable stop marker
          val segs = Iterator.iterate(st.getPath.getParent)(_.getParent)
            .takeWhile(p => p != null && p.getName != stageDir.getName)
            .map(_.getName).toSeq.reverse
          require(segs.length == partCols.length &&
              segs.zip(partCols).forall { case (s, c) =>
                s.startsWith(c + "=") },
            s"unexpected stage layout under $stageDir: ${segs.mkString("/")}")
          val pv: Map[String, Option[String]] = segs.map { seg =>
            val i = seg.indexOf('=')
            val raw = seg.substring(i + 1)
            seg.substring(0, i) -> (
              if (raw == "__HIVE_DEFAULT_PARTITION__") None
              else Some(IcebergLite.unescapeDirValue(raw)))
          }.toMap
          (st, (if (under.isEmpty) segs else under +: segs), pv)
        }
      if (partCols.nonEmpty) {
        val maxParts = spark.conf
          .getOption("graft.delta.maxPartitionsPerCommit")
          .map(_.toInt).getOrElse(256)
        val tuples = kept.map(_._3).toSet
        require(tuples.size <= maxParts,
          s"one commit may write at most $maxParts partitions, got " +
            s"${tuples.size} — split the batch or raise " +
            "graft.delta.maxPartitionsPerCommit")
      }
      kept.map(_._2).distinct.filter(_.nonEmpty).foreach(dir =>
        fs.mkdirs(dir.foldLeft(root)((p, s) => new Path(p, s))))
      kept.map { case (st, dir, pv) =>
        val rel = (dir :+ st.getPath.getName).mkString("/")
        require(fs.rename(st.getPath, new Path(root, rel)),
          s"staging move failed for $rel")
        val fst = footerStats(st.getPath)
        StagedFile(rel, st.getLen, fst.rows, statsJsonFor(fst, eligible), pv)
      }.toIndexedSeq
    } finally { fs.delete(stageDir, true); () }
  }

  /** Reader features a legacy `minReaderVersion` implies — what an
    * upgrade to a features-based protocol must restate (the spec's
    * legacy→feature mapping).
    */
  private def featuresJson(fs: Seq[String]): String =
    fs.map(mapper.writeValueAsString).mkString("[", ",", "]")

  /** Whether the table's protocol already declares the `timestampNtz`
    * feature (reader-side is the gating half).
    */
  private def snapSupportsNtz(snap: Snapshot): Boolean =
    snap.protocol.exists(p =>
      p.readerFeatures.exists(_.contains("timestampNtz")))

  /** Whether a type tree contains TIMESTAMP_NTZ — the spec gates the
    * type behind the `timestampNtz` reader+writer feature (reader 3 /
    * writer 7), so writers must stamp it or foreign readers reject the
    * schema.
    */
  private def containsNtz(dt: DataType): Boolean = dt match {
    case org.apache.spark.sql.types.TimestampNTZType => true
    case s: StructType => s.fields.exists(f => containsNtz(f.dataType))
    case a: org.apache.spark.sql.types.ArrayType =>
      containsNtz(a.elementType)
    case m: org.apache.spark.sql.types.MapType =>
      containsNtz(m.keyType) || containsNtz(m.valueType)
    case _ => false
  }

  private def impliedReaderFeatures(minReader: Int): Seq[String] =
    if (minReader >= 2) Seq("columnMapping") else Nil

  private def impliedWriterFeatures(minWriter: Int): Seq[String] =
    Seq(2 -> "appendOnly", 2 -> "invariants", 3 -> "checkConstraints",
      4 -> "changeDataFeed", 4 -> "generatedColumns",
      5 -> "columnMapping", 6 -> "identityColumns")
      .collect { case (v, f) if minWriter >= v => f }

  /** WRITER-protocol gate (the delta spec's writer-side half of
    * [[checkProtocol]]): a writer MUST understand every feature the
    * table's protocol requires before committing, or it can corrupt the
    * table's contract. Honored here: `appendOnly` (mutations refuse
    * when `delta.appendOnly=true` — dataChange:false rewrites like
    * OPTIMIZE stay allowed, delta-spark's rule), `changeDataFeed`
    * (mutations write cdc files), `columnMapping`/`deletionVectors`
    * (native), `inCommitTimestamp` (commits stamp the monotonic clock),
    * `invariants`/`checkConstraints` (row-adding commits EVALUATE the
    * table's CHECK constraints and column invariants —
    * [[enforceConstraints]] — and refuse naming the violated
    * expression), `generatedColumns` (an omitted generated column is
    * COMPUTED from its expression, a provided one is VALIDATED
    * `col <=> expr` — delta-spark's write contract),
    * `allowColumnDefaults` (an omitted column with `CURRENT_DEFAULT`
    * metadata FILLS from its expression; provided values are not
    * validated — a default is a fallback, not a constraint), and
    * `identityColumns` (omitted/null identity cells ALLOCATE
    * `base + rowIndex*step` past the recorded high-water mark, which
    * the commit's metaData advances — [[applyIdentity]]; GENERATED
    * ALWAYS columns refuse explicit values; [[upsert]] refuses
    * identity tables, which need the connector's merge-time
    * allocation). Unknown future writer features refuse by name.
    */
  private def checkWriterProtocol(snap: Snapshot,
      dataChangeMutation: Boolean, operation: String): Unit = {
    val feats = snap.protocol.map(p => p.writerFeatures.getOrElse(
      impliedWriterFeatures(p.minWriterVersion))).getOrElse(Nil).toSet
    val supported = Set("appendOnly", "invariants", "checkConstraints",
      "changeDataFeed", "generatedColumns", "columnMapping",
      "identityColumns", "deletionVectors", "vacuumProtocolCheck",
      "v2Checkpoint", "timestampNtz", "domainMetadata",
      "inCommitTimestamp", "allowColumnDefaults", "rowTracking",
      "clustering", "icebergCompatV2")
    val unknown = feats -- supported
    require(unknown.isEmpty,
      s"Delta table requires writer features $unknown — beyond the " +
        "native writer; use the delta-spark jars for this table")
    // icebergCompatV2 (UniForm): appends are compat-legal — the
    // column-mapped staging already writes the parquet FIELD IDS the
    // iceberg conversion resolves by — and row-level mutations run
    // COPY-ON-WRITE (UniForm forbids deletion vectors; delta-spark
    // requires purging them before enabling): [[upsert]] already
    // rewrites key-touched files wholesale, and [[deleteWhere]] routes
    // to [[deleteCopyOnWrite]], so no graft mutation ever adds a DV to
    // a compat table. The iceberg-side metadata lags until the next
    // conversion, the same async contract delta-spark's own deferred
    // sync has.
    if (feats.contains("icebergCompatV2")) {
      require(snap.columnMappingMode != "none",
        "icebergCompatV2 requires column mapping — this table's " +
          "metadata is inconsistent (no columnMapping mode set)")
    }
    if (dataChangeMutation &&
        snap.configuration.get("delta.appendOnly")
          .exists(_.equalsIgnoreCase("true")))
      throw new IllegalArgumentException(
        s"delta.appendOnly table refuses $operation — only appends and " +
          "dataChange:false rewrites are allowed")
  }

  /** Fields carrying the spec's IDENTITY metadata
    * (`delta.identity.start`/`step`/`highWaterMark`/
    * `allowExplicitInsert` — the `identityColumns` writer feature).
    */
  private def identityColumns(schema: StructType): Seq[StructField] =
    schema.fields.toSeq.filter(_.metadata.contains("delta.identity.start"))

  /** (start, step, highWaterMark, allowExplicitInsert) of one identity
    * field.
    */
  private def identityInfo(
      f: StructField): (Long, Long, Option[Long], Boolean) = (
    f.metadata.getLong("delta.identity.start"),
    f.metadata.getLong("delta.identity.step"),
    if (f.metadata.contains("delta.identity.highWaterMark"))
      Some(f.metadata.getLong("delta.identity.highWaterMark"))
    else None,
    f.metadata.contains("delta.identity.allowExplicitInsert") &&
      f.metadata.getBoolean("delta.identity.allowExplicitInsert"))

  /** ALLOCATE identity values for a batch: a missing/null identity
    * cell gets `base + rowIndex * step` (base = highWaterMark + step,
    * or start on the first allocation) — `zipWithIndex` row numbering
    * is exact and distributed (a per-partition count pass + offset
    * arithmetic, no single-partition shuffle), and gaps from rows that
    * PROVIDED a value are fine (the spec requires uniqueness and
    * direction, not contiguity). Non-null provided values require
    * `allowExplicitInsert` (GENERATED ALWAYS refuses them — delta's
    * contract). Returns the filled batch plus each column's new HIGH
    * WATER MARK, conservatively the furthest of (last allocatable slot,
    * provided extreme, prior mark) so a mixed batch can never
    * double-allocate later.
    *
    * The batch is PERSISTED for the duration: the explicit-value
    * probe, count, extremes agg, and zipWithIndex numbering all read
    * the SAME materialization — a nondeterministic source recomputed
    * between passes could otherwise make the recorded mark disagree
    * with the ids actually written (duplicate allocations later). The
    * returned thunk unpersists; the caller invokes it AFTER staging
    * consumes the filled rows.
    */
  private def applyIdentity(spark: SparkSession, df: DataFrame,
      idFields: Seq[StructField], skipExplicitCheck: Boolean = false)
      : (DataFrame, Map[String, Long], () => Unit) = {
    import org.apache.spark.sql.functions.{lit, max, min}
    idFields.foreach(f => require(f.dataType == LongType,
      s"identity column ${f.name} must be BIGINT (spec), " +
        s"got ${f.dataType.sql}"))
    val present = df.columns.toSet
    val withCols = idFields.foldLeft(df)((d, f) =>
      if (present(f.name)) d
      else d.withColumn(f.name, lit(null).cast(LongType)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val release: () => Unit = () => { withCols.unpersist(); () }
    // Anything throwing past this point (GENERATED ALWAYS refusal,
    // the agg, numbering) must not leak the cached blocks — the
    // caller only gets the release thunk on success.
    try {
    val bases: Map[String, (Long, Long)] = idFields.map { f =>
      val (start, step, hwm, _) = identityInfo(f)
      f.name -> (hwm.map(_ + step).getOrElse(start), step)
    }.toMap
    // ONE agg pass over the cached batch collects everything the
    // driver needs: total count, per-present-field non-null counts
    // (the GENERATED ALWAYS explicit-value check), and provided
    // extremes — three formerly separate jobs
    val presentIds = idFields.filter(f => present(f.name))
    val statRow = {
      val aggs =
        org.apache.spark.sql.functions.count(lit(1)).as("__n") +:
        presentIds.flatMap { f =>
          val (_, step) = bases(f.name)
          Seq(org.apache.spark.sql.functions.count(col(f.name))
              .as(s"__nn_${f.name}"),
            (if (step > 0) max(col(f.name)) else min(col(f.name)))
              .as(s"__ext_${f.name}"))
        }
      withCols.agg(aggs.head, aggs.tail: _*).head
    }
    val n = statRow.getAs[Long]("__n")
    // explicit values (non-null) only where the spec allows them
    // (skipExplicitCheck: MERGE validated the RAW batch before
    // injecting inherited ids, which are non-null by design)
    if (!skipExplicitCheck)
      presentIds.foreach { f =>
        val (_, _, _, allow) = identityInfo(f)
        require(allow || statRow.getAs[Long](s"__nn_${f.name}") == 0L,
          s"identity column ${f.name} is GENERATED ALWAYS " +
            "(allowExplicitInsert=false) — omit the column or pass " +
            "null to allocate")
      }
    if (n == 0L) return (withCols, Map.empty, release)
    val providedExt: Map[String, Option[Long]] =
      presentIds.map(f => f.name ->
        Option(statRow.getAs[Any](s"__ext_${f.name}"))
          .map(_.asInstanceOf[Long])).toMap
    // COLUMNAR row numbering over the persisted batch: per-partition
    // counts (one tiny job, 1 row per partition) give cumulative
    // offsets, then `offset(pid) + rowInPartition` as a column
    // expression — the fill stays in whole-stage codegen with no
    // Row round-trip. rowInPartition is the low 33 bits of
    // monotonically_increasing_id() (its layout: pid << 33 | row
    // counter); keeping the index in its OWN projection matters:
    // CollapseProject never inlines a nondeterministic producer, so
    // the counter increments once per row unconditionally rather
    // than lazily inside the CASE branch (which would skip slots on
    // rows that provided a value — still unique, but not the
    // `base + i*step over ALL rows` numbering the high-water-mark
    // formula and the oracles pin).
    val cnts: Map[Int, Long] = withCols
      .groupBy(org.apache.spark.sql.functions.spark_partition_id()
        .as("__pid"))
      .count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val maxPid = cnts.keys.max
    val offsets = new Array[Long](maxPid + 1)
    var acc = 0L
    var p = 0
    while (p <= maxPid) {
      offsets(p) = acc; acc += cnts.getOrElse(p, 0L); p += 1
    }
    require(acc == n, s"identity numbering: partition counts sum $acc " +
      s"!= batch count $n (cache partitioning drifted)")
    // the low-33-bit per-partition counter below wraps past 2^33 rows
    // in ONE partition — fail loudly instead of silently colliding ids
    require(cnts.values.max < (1L << 33),
      s"identity numbering: a partition holds ${cnts.values.max} rows, " +
        "beyond monotonically_increasing_id's 2^33 per-partition " +
        "counter — repartition the batch before the identity fill")
    val rowIdx =
      org.apache.spark.sql.functions.element_at(
        org.apache.spark.sql.functions.typedLit(offsets.toSeq),
        org.apache.spark.sql.functions.spark_partition_id() + 1) +
      org.apache.spark.sql.functions.monotonically_increasing_id()
        .bitwiseAND(lit((1L << 33) - 1))
    val withIdx = withCols.withColumn("__graft_rowidx", rowIdx)
    val filled = idFields.foldLeft(withIdx) { (d, f) =>
      val (base, step) = bases(f.name)
      // re-alias with the field's ORIGINAL metadata — the identity
      // start/step/allowExplicitInsert markers ride the data schema
      // into the commit's metaData action, and a bare withColumn
      // would strip them
      val meta = d.schema(f.name).metadata
      d.withColumn(f.name, org.apache.spark.sql.functions.when(
        col(f.name).isNull,
        lit(base) + col("__graft_rowidx") * lit(step))
        .otherwise(col(f.name)).as(f.name, meta))
    }.drop("__graft_rowidx")
    val hwms = idFields.map { f =>
      val (base, step) = bases(f.name)
      val (_, _, priorHwm, _) = identityInfo(f)
      val far = (Seq(base + (n - 1) * step) ++
        providedExt.getOrElse(f.name, None) ++ priorHwm)
      f.name -> (if (step > 0) far.max else far.min)
    }.toMap
    (filled, hwms, release)
    } catch {
      case scala.util.control.NonFatal(t) => release(); throw t
    }
  }

  /** Fields carrying the spec's `delta.generationExpression` metadata
    * (GENERATED columns) paired with their SQL expression.
    */
  private def generatedColumns(
      schema: StructType): Seq[(StructField, String)] =
    schema.fields.toSeq.collect {
      case f if f.metadata.contains("delta.generationExpression") =>
        (f, f.metadata.getString("delta.generationExpression"))
    }

  /** Fields carrying the spec's `CURRENT_DEFAULT` metadata (COLUMN
    * DEFAULTS, the `allowColumnDefaults` writer feature) paired with
    * their SQL default expression — a batch omitting such a column
    * gets it FILLED (unlike generated columns, provided values are
    * not validated: a default is a fallback, not a constraint).
    */
  private def defaultColumns(
      schema: StructType): Seq[(StructField, String)] =
    schema.fields.toSeq.collect {
      case f if f.metadata.contains("CURRENT_DEFAULT") =>
        (f, f.metadata.getString("CURRENT_DEFAULT"))
    }

  /** The `col <=> (expr)` validation predicates for generated columns
    * a batch PROVIDES (the spec: explicit values must agree with the
    * generation expression).
    */
  private def generatedChecks(schema: StructType,
      batchCols: Seq[String]): Seq[(String, String)] =
    generatedColumns(schema).collect {
      case (f, g) if batchCols.contains(f.name) =>
        (s"generated column ${f.name}", s"`${f.name}` <=> ($g)")
    }

  /** The table's enforced write-time row predicates: CHECK constraints
    * (`delta.constraints.<name>` configuration — delta-spark's
    * `ALTER TABLE … ADD CONSTRAINT` shape) and legacy column invariants
    * (`delta.invariants` field metadata, the pre-constraints form:
    * `{"expression":{"expression":"<sql>"}}`). Returns (label, sql).
    */
  private[graft] def tableConstraints(configuration: Map[String, String],
      schema: StructType): Seq[(String, String)] = {
    val checks = configuration.toSeq.collect {
      case (k, v) if k.startsWith("delta.constraints.") =>
        (s"CHECK constraint ${k.stripPrefix("delta.constraints.")}", v)
    }.sortBy(_._1)
    val invariants = schema.fields.toSeq.flatMap { f =>
      if (f.metadata.contains("delta.invariants")) {
        val js = f.metadata.getString("delta.invariants")
        val sql =
          try Option(mapper.readTree(js).get("expression"))
            .flatMap(e => Option(e.get("expression"))).map(_.asText)
          catch { case _: Exception => None }
        Some((s"column invariant on ${f.name}", sql.getOrElse(
          throw new IllegalArgumentException(
            s"unparseable delta.invariants metadata on column " +
              s"${f.name}: $js — write with the delta-spark jars"))))
      } else None
    }
    checks ++ invariants
  }

  /** Evaluate the table's CHECK constraints / column invariants over
    * the rows a commit ADDS — delta-spark's write-side contract
    * (`CheckDeltaInvariant`): a row violates when the expression is not
    * TRUE (null fails too), and the refusal names the constraint, its
    * expression, and a sample violating row. ONE distributed job for
    * all constraints with an early-exit `limit(1)` — in-contract
    * batches pay a single validated pass, map-only at any scale.
    */
  private def enforceConstraints(configuration: Map[String, String],
      schema: StructType, df: DataFrame, tablePath: String,
      /** additional (label, sql) predicates evaluated in the same pass
        * (generated-column validations). */
      extra: Seq[(String, String)] = Nil): Unit = {
    import org.apache.spark.sql.functions.expr
    val cs = tableConstraints(configuration, schema) ++ extra
    if (cs.isEmpty) return
    val violated = cs.map { case (_, sql) => !(expr(sql) <=> lit(true)) }
      .reduce(_ || _)
    val sample = df.filter(violated)
      .select((df.columns.map(col) ++ cs.zipWithIndex.map {
        case ((_, sql), i) => (expr(sql) <=> lit(true)).as(s"__ok_$i")
      }).toIndexedSeq: _*)
      .limit(1).collect()
    sample.headOption.foreach { row =>
      val failed = cs.zipWithIndex.collect {
        case ((label, sql), i) if !row.getAs[Boolean](s"__ok_$i") =>
          s"$label ($sql)"
      }
      throw new IllegalArgumentException(
        s"write to $tablePath violates ${failed.mkString("; ")} — " +
          "sample row: " +
          row.toSeq.take(df.columns.length).mkString("[", ", ", "]")
            .take(500))
    }
  }

  /** Put-if-absent claim of a commit version — the Delta commit rule.
    * A concurrent writer loses the race LOUDLY instead of corrupting
    * the log. Metadata-changing commits (create, column mapping,
    * rename/drop) stay single-attempt; data commits go through
    * [[commitWithRetry]].
    */
  private def claimCommit(fs: FileSystem, logDir: Path, version: Long,
      lines: Seq[String], tablePath: String): Unit = {
    require(tryClaim(fs, logDir, version, lines),
      s"commit $version already exists at $tablePath (concurrent " +
        "writer?) — re-read and retry")
  }

  private def tryClaim(fs: FileSystem, logDir: Path, version: Long,
      lines: Seq[String]): Boolean = {
    fs.mkdirs(logDir)
    atomicCreate(fs, new Path(logDir, f"$version%020d.json"),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  /** TRUE put-if-absent file creation. Hadoop's local
    * `create(overwrite=false)` is check-then-act — two racers can both
    * pass the exists probe and one silently clobbers the other (a LOST
    * COMMIT). On `file://` use O_CREAT|O_EXCL (`CREATE_NEW`), which the
    * kernel arbitrates; HDFS-like stores arbitrate `create(false)`
    * server-side already. Returns false when the name was taken.
    */
  private[sources] def atomicCreate(fs: FileSystem, path: Path,
      bytes: Array[Byte]): Boolean = {
    if (fs.getScheme == "file") {
      val local = java.nio.file.Paths.get(path.toUri.getPath)
      java.nio.file.Files.createDirectories(local.getParent)
      try {
        val ch = java.nio.file.Files.newByteChannel(local,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        try { ch.write(java.nio.ByteBuffer.wrap(bytes)); () }
        finally ch.close()
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else {
      val out =
        try fs.create(path, false)
        catch { case _: Exception => return false }
      try out.write(bytes) finally out.close()
      true
    }
  }

  /** Delta OCC: claim `firstVersion` put-if-absent; on a lost race,
    * re-read the INTERVENING commits, check logical compatibility, and
    * retry at the new head — delta-spark's conflict-checker contract,
    * the subset these writers need:
    *
    *  - an intervening `protocol`/`metaData` change conflicts (abort);
    *  - a file this commit REMOVES that an intervener removed or
    *    re-added conflicts (delete/delete and DV-update races);
    *  - a dataChange MUTATION (`dataChangeMutation = true`: delete,
    *    merge, overwrite — operations whose result depends on the rows
    *    they scanned) conflicts with intervening dataChange adds (rows
    *    it should have read — delta's ConcurrentAppendException,
    *    applied without predicate narrowing, conservatively);
    *  - an intervening `txn` with one of this commit's appIds conflicts
    *    (idempotent-watermark ordering would become ambiguous);
    *  - blind appends and dataChange:false rewrites (compact) rebase
    *    over intervening appends and commit — a streaming sink racing
    *    a `maintenance:` compact has BOTH commit.
    *
    * The staged data files are version-independent, so a rebase just
    * re-claims the same action lines at the new head. Returns the
    * version actually committed.
    */
  private[graft] def commitWithRetry(fs: FileSystem, logDir: Path,
      tablePath: String, firstVersion: Long, lines: Seq[String],
      ourRemoves: Set[String], dataChangeMutation: Boolean): Long = {
    val ourTxnApps: Set[String] = lines.flatMap { l =>
      val n = mapper.readTree(l)
      if (n.has("txn")) Some(n.get("txn").get("appId").asText) else None
    }.toSet
    val metadataChange = lines.exists { l =>
      val n = mapper.readTree(l)
      // domainMetadata counts: a row-tracking allocation rebased past a
      // concurrent allocation would hand out the same id range twice
      n.has("protocol") || n.has("metaData") || n.has("domainMetadata")
    }
    val commitRe = "(\\d{20})\\.json".r
    val maxRetries = 10
    var attempt = firstVersion
    var curLines = lines
    var tries = 0
    while (!tryClaim(fs, logDir, attempt, curLines)) {
      tries += 1
      require(!metadataChange,
        s"commit $attempt of $tablePath lost to a concurrent writer " +
          "and this commit changes table metadata/protocol — cannot " +
          "rebase, re-run the operation")
      require(tries <= maxRetries,
        s"commit to $tablePath lost $maxRetries put-if-absent races — " +
          "giving up (writer storm?)")
      val head = fs.listStatus(logDir).map(_.getPath.getName).collect {
        case commitRe(v) => v.toLong
      }.max
      // vet every intervening commit [attempt, head] for conflicts.
      // The race winner's commit may still be MID-WRITE (create-then-
      // write is not atomic) — transient parse failures retry bounded,
      // then rethrow loudly.
      (attempt to head).foreach { v =>
        def readActions(): Seq[JsonNode] = {
          val in = fs.open(new Path(logDir, f"$v%020d.json"))
          val txt = try new String(in.readAllBytes(), "UTF-8")
            finally in.close()
          txt.split("\n").filter(_.trim.nonEmpty).toSeq.map(mapper.readTree)
        }
        var acts: Option[Seq[JsonNode]] = None
        var last: Throwable = null
        var i = 0
        while (acts.isEmpty && i < 20) {
          try acts = Some(readActions())
          catch { case e: Exception => last = e; Thread.sleep(50) }
          i += 1
        }
        acts.getOrElse(throw last).foreach { a =>
          require(!a.has("protocol") && !a.has("metaData"),
            s"concurrent metadata/protocol change at version $v of " +
              s"$tablePath — cannot rebase, re-run the operation")
          if (a.has("add")) {
            val ad = a.get("add")
            val p = decodePath(ad.get("path").asText)
            require(!ourRemoves.contains(p),
              s"concurrent commit $v re-added $p which this commit " +
                "removes — conflicting file mutation, re-run the " +
                "operation")
            val dc = Option(ad.get("dataChange")).forall(_.asBoolean)
            require(!(dataChangeMutation && dc),
              s"concurrent commit $v added data files while this " +
                s"mutation was computed against version " +
                s"${firstVersion - 1} of $tablePath — rows it should " +
                "have read; re-run the operation")
          }
          if (a.has("remove")) {
            val p = decodePath(a.get("remove").get("path").asText)
            require(!ourRemoves.contains(p),
              s"concurrent commit $v removed $p which this commit also " +
                "removes/rewrites — conflicting file mutation, re-run " +
                "the operation")
          }
          if (a.has("txn"))
            require(!ourTxnApps.contains(a.get("txn").get("appId").asText),
              s"concurrent commit $v carries a txn for the same appId — " +
                "idempotent-watermark ordering is ambiguous, re-run the " +
                "operation")
        }
      }
      attempt = head + 1
      // ICT monotonicity survives the rebase: a commit stamped with an
      // inCommitTimestamp re-stamps past the NEW head's clock (the
      // intervening winner may carry a later ICT than ours)
      curLines = curLines.map { l =>
        val n = mapper.readTree(l)
        val ci = n.get("commitInfo")
        if (ci != null && ci.has("inCommitTimestamp")) {
          val headClock = commitClock(fs,
            new Path(logDir, f"$head%020d.json")).getOrElse(0L)
          ci.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
            .put("inCommitTimestamp",
              math.max(ci.get("inCommitTimestamp").asLong, headClock + 1))
          n.toString
        } else l
      }
    }
    attempt
  }

  private def addAction(name: String, size: Long, stats: String,
      now: Long,
      partitionValues: Map[String, Option[String]] = Map.empty,
      dataChange: Boolean = true,
      rowId: Option[(Long, Long)] = None): String = {
    val stEsc = mapper.writeValueAsString(stats)
    val pvNode = mapper.createObjectNode()
    partitionValues.foreach {
      case (k, Some(v)) => pvNode.put(k, v); ()
      case (k, None) => pvNode.putNull(k); ()
    }
    // action paths are URL-encoded per the spec (decodePath inverts)
    val nameEsc = mapper.writeValueAsString(encodePath(name))
    val ridEsc = rowId.map { case (b, d) =>
      s""","baseRowId":$b,"defaultRowCommitVersion":$d"""
    }.getOrElse("")
    s"""{"add":{"path":$nameEsc,"partitionValues":$pvNode,""" +
      s""""size":$size,"modificationTime":$now,"dataChange":$dataChange,""" +
      s""""stats":$stEsc$ridEsc}}"""
  }

  /** Whether the table runs ROW TRACKING (the `rowTracking` writer
    * feature) — appends then ALLOCATE fresh base row ids past the
    * `delta.rowTracking` domain's high-water mark, every re-add
    * restates its file's coordinates, and REWRITES refuse (preserving
    * ids through a rewrite needs materialized row-id columns —
    * delta-spark REORG territory).
    */
  private def rowTrackingActive(snap: Snapshot): Boolean =
    snap.protocol.exists(_.writerFeatures.exists(_.contains("rowTracking")))

  /** Whether the table carries the `icebergCompatV2` (UniForm) writer
    * feature — deletion vectors are forbidden on compat tables, so
    * row-level deletes run COPY-ON-WRITE ([[deleteCopyOnWrite]])
    * instead of merge-on-read.
    */
  private def uniformEnabled(snap: Snapshot): Boolean =
    snap.protocol.exists(_.writerFeatures
      .exists(_.contains("icebergCompatV2")))

  /** The `delta.rowTracking` domain's rowIdHighWaterMark (-1 = no rows
    * ever allocated — the spec's initial state).
    */
  private def rowIdHighWaterMark(snap: Snapshot): Long =
    snap.domainMetadata.get("delta.rowTracking").flatMap { line =>
      val conf = mapper.readTree(line).get("domainMetadata")
        .get("configuration")
      val node = mapper.readTree(
        if (conf.isTextual) conf.asText else conf.toString)
      Option(node.get("rowIdHighWaterMark")).map(_.asLong)
    }.getOrElse(-1L)

  private def rowTrackingDomainAction(hwm: Long): String =
    s"""{"domainMetadata":{"domain":"delta.rowTracking",""" +
      s""""configuration":"{\\"rowIdHighWaterMark\\":$hwm}",""" +
      s""""removed":false}}"""

  /** The MATERIALIZED row-id / row-commit-version column names the
    * table configuration records (spec: the first id-materializing
    * rewrite generates them; they are PHYSICAL-ONLY companion columns,
    * never part of the logical schema). A row's stable id resolves as
    * `coalesce(materialized, add.baseRowId + row_index)` and its
    * commit version as `coalesce(materialized,
    * add.defaultRowCommitVersion)` — exactly how [[readWithRowIds]]
    * and the rewrite paths compute them.
    */
  private def materializedRowIdCols(conf: Map[String, String])
      : Option[(String, String)] =
    for {
      i <- conf.get("delta.rowTracking.materializedRowIdColumnName")
      v <- conf.get(
        "delta.rowTracking.materializedRowCommitVersionColumnName")
    } yield (i, v)

  /** The materialized columns a rewrite of a row-tracked table writes
    * each row's stable (id, commit version) into. `minted`: the table
    * records no names yet, so this commit — its first id-materializing
    * rewrite — generates them and must record them in its `metaData`.
    */
  private final case class RowIdCols(id: String, version: String,
      minted: Boolean) {
    def names: Seq[String] = Seq(id, version)
    /** `_row_id` / `_row_commit_version` under the materialized names */
    def columns: Seq[org.apache.spark.sql.Column] =
      Seq(col("_row_id").as(id), col("_row_commit_version").as(version))
  }

  private def rowIdCols(snap: Snapshot): Option[RowIdCols] =
    if (!rowTrackingActive(snap)) None
    else Some(materializedRowIdCols(snap.configuration) match {
      case Some((i, v)) => RowIdCols(i, v, minted = false)
      case None =>
        val sfx = java.util.UUID.randomUUID.toString.take(8)
        RowIdCols(s"_row-id-col-$sfx", s"_row-commit-version-col-$sfx",
          minted = true)
    })

  /** `schema` with identity columns' advanced high-water marks. */
  private def withIdentityHwm(schema: StructType,
      idHwm: Map[String, Long]): StructType =
    if (idHwm.isEmpty) schema
    else StructType(schema.fields.map { f =>
      idHwm.get(f.name) match {
        case Some(h) => f.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putLong("delta.identity.highWaterMark", h).build())
        case None => f
      }
    })

  /** The `metaData` line a rewrite of `snap` restates when it advances
    * table metadata: the materialized row-id column names it minted
    * (without them no reader could resolve the materialized values back
    * to ids) and/or identity columns' new high-water marks.
    */
  private def rewriteMetaData(snap: Snapshot, rowIds: Option[RowIdCols],
      idHwm: Map[String, Long], now: Long): Option[String] = {
    val minted = rowIds.filter(_.minted).map(r => Map(
      "delta.rowTracking.materializedRowIdColumnName" -> r.id,
      "delta.rowTracking.materializedRowCommitVersionColumnName" ->
        r.version)).getOrElse(Map.empty)
    if (minted.isEmpty && idHwm.isEmpty) None
    else Some(metaDataAction(snap.tableId, withIdentityHwm(snap.schema, idHwm),
      snap.partitionColumns, snap.configuration ++ minted, now))
  }

  /** LIQUID CLUSTERING columns from the `delta.clustering` domain
    * (the `clustering` writer feature). Appends are legal UNCLUSTERED
    * (delta-spark's own contract — OPTIMIZE does the layout work);
    * [[compact]] clusters its rewrites by these columns. Nested
    * clustering columns refuse loudly.
    */
  private def clusteringColumns(snap: Snapshot): Seq[Seq[String]] =
    snap.domainMetadata.get("delta.clustering").map { line =>
      val conf = mapper.readTree(line).get("domainMetadata")
        .get("configuration")
      val node = mapper.readTree(
        if (conf.isTextual) conf.asText else conf.toString)
      Option(node.get("clusteringColumns")).toSeq
        .flatMap(_.elements.asScala).map(arr =>
          arr.elements.asScala.map(_.asText).toSeq)
    }.getOrElse(Nil)

  /** Resolve one clustering-domain path (possibly NESTED) against the
    * table schema, PHYSICAL-FIRST at every level: delta-spark stores
    * physical names in the domain, native graft tables logical — and a
    * physical name colliding with a different field's logical name
    * must never cluster the wrong column. Returns the dotted column
    * path in the DATA FILES' naming (physical on mapped tables) plus
    * the leaf type; top-level partition columns resolve to None in the
    * caller (constant per tuple).
    */
  private def resolveClusterPath(snap: Snapshot,
      parts: Seq[String]): (String, Seq[String], DataType) = {
    val mapped = snap.columnMappingMode != "none"
    var fieldsHere: Array[StructField] = snap.schema.fields
    var dt: DataType = null
    val phys = Seq.newBuilder[String]
    val logical = Seq.newBuilder[String]
    parts.foreach { p =>
      val f = fieldsHere.find(f0 => physicalName(f0) == p)
        .orElse(fieldsHere.find(_.name == p))
        .getOrElse(throw new IllegalArgumentException(
          s"clustering column '${parts.mkString(".")}' is not in the " +
            "table schema"))
      phys += (if (mapped) physicalName(f) else f.name)
      logical += f.name
      dt = f.dataType
      fieldsHere = dt match {
        case st: StructType => st.fields
        case _ => Array.empty
      }
    }
    (phys.result().mkString("."), logical.result(), dt)
  }

  /** Scan a live-file subset for the MUTATION paths: logical columns
    * (column-mapped tables rename back), typed partition literals
    * restored, live deletion vectors anti-filtered, and the raw
    * `_metadata.file_path` retained as `__file` (plus `row_index` as
    * `__i` when `withPos`). Small partition counts scan per group —
    * Catalyst constant-folds filters on the injected literals; past
    * `graft.delta.partitionUnionLimit` (default 64) the scan switches
    * to ONE parquet load + a broadcast path→partition-values join, the
    * same constant-plan-size switch [[readFiles]] makes — a MERGE whose
    * keys span a thousand partitions must not build a thousand-branch
    * union plan.
    */
  private def scanFilesWithMeta(spark: SparkSession, tablePath: String,
      snap: Snapshot, files: Map[String, Map[String, Option[String]]],
      withPos: Boolean, rowIds: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    def abs(p: String): String =
      if (p.contains("://") || p.startsWith("/")) p
      else new Path(tablePath, p).toString
    val mapped = snap.columnMappingMode != "none"
    val dataFields = snap.schema.fields
      .filterNot(f => snap.partitionColumns.contains(f.name))
    // rowIds: also surface each row's STABLE id/commit-version as
    // `_row_id`/`_row_commit_version` — materialized column when the
    // file carries one, else add-coordinate default (base + row_index)
    val matCols: Option[(String, String)] =
      if (rowIds) materializedRowIdCols(snap.configuration) else None
    val readSchema0 =
      if (mapped) StructType(dataFields.map(physicalField))
      else StructType(dataFields)
    val readSchema = matCols match {
      case Some((mi, mv)) => StructType(readSchema0.fields ++ Seq(
        StructField(mi, org.apache.spark.sql.types.LongType,
          nullable = true),
        StructField(mv, org.apache.spark.sql.types.LongType,
          nullable = true)))
      case None => readSchema0
    }
    val ridLookup: Option[org.apache.spark.sql.expressions
        .UserDefinedFunction] =
      if (!rowIds) None
      else {
        val m = files.keysIterator.flatMap(p =>
          snap.rowIds.get(p).map(bd => encodedPathKey(abs(p)) -> bd)).toMap
        val bc = spark.sparkContext.broadcast(m)
        Some(udf((path: String, idx: Long, want: Int) =>
          bc.value.get(IcebergLite.normalizePathStr(path)) match {
            case Some((b, d)) => if (want == 0) b + idx else d
            case None => throw new IllegalStateException(
              s"file $path has no row-tracking coordinates and no " +
                "materialized id — the table's row tracking is not " +
                "backfilled for it")
          }))
      }
    if (snap.columnMappingMode == "id")
      verifyFieldIds(spark, files.keysIterator.map(abs).toSeq, dataFields)
    val partFields = snap.partitionColumns.map(c =>
      snap.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"partition column $c missing from the Delta schema")))
    val fs = new Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dvRelevant = files.keySet.intersect(snap.dvs.keySet)
    val keepRow =
      if (dvRelevant.isEmpty) None
      else {
        val dvMap = dvRelevant.iterator.map { p =>
          encodedPathKey(abs(p)) ->
            DeletionVectors.load(fs, tablePath, snap.dvs(p))
        }.toMap
        val bc = spark.sparkContext.broadcast(dvMap)
        Some(udf((path: String, idx: Long) =>
          bc.value.get(IcebergLite.normalizePathStr(path)) match {
            case Some(dead) =>
              java.util.Arrays.binarySearch(dead, idx) < 0
            case None => true
          }))
      }
    val metaCols = Seq(col("_metadata.file_path").as("__file")) ++
      (if (withPos) Seq(col("_metadata.row_index").as("__i")) else Nil) ++
      (ridLookup match {
        case Some(look) =>
          val matId = matCols.map { case (mi, _) => col(mi) }
            .getOrElse(lit(null).cast("long"))
          val matVer = matCols.map { case (_, mv) => col(mv) }
            .getOrElse(lit(null).cast("long"))
          Seq(
            coalesce(matId, look(col("_metadata.file_path"),
              col("_metadata.row_index"), lit(0))).as("_row_id"),
            coalesce(matVer, look(col("_metadata.file_path"),
              col("_metadata.row_index"), lit(1)))
              .as("_row_commit_version"))
        case None => Nil
      })
    def project(base: DataFrame): DataFrame =
      if (mapped) base.select((dataFields.map(f =>
          shapeCast(col(physicalName(f)), f.dataType)
            .as(f.name)) ++ metaCols)
        .toIndexedSeq: _*)
      else base.select((dataFields.map(f => col(f.name)) ++ metaCols)
        .toIndexedSeq: _*)
    val outCols = (snap.schema.fieldNames.toSeq :+ "__file") ++
      (if (withPos) Seq("__i") else Nil) ++
      (if (rowIds) Seq("_row_id", "_row_commit_version") else Nil)
    val groups = files.toSeq.groupBy(_._2).toSeq
    val unionCap = spark.conf
      .getOption("graft.delta.partitionUnionLimit")
      .map(_.toInt).getOrElse(64)
    if (partFields.isEmpty || groups.size <= unionCap)
      groups.map { case (pv, fs0) =>
        val sc0 = spark.read.schema(readSchema)
          .parquet(fs0.map(f => abs(f._1)): _*)
        val sc1 = keepRow match {
          case Some(keep) if fs0.exists(f => snap.dvs.contains(f._1)) =>
            sc0.filter(keep(col("_metadata.file_path"),
              col("_metadata.row_index")))
          case _ => sc0
        }
        partFields.foldLeft(project(sc1)) { (df, f) =>
          val v = pv.get(physicalName(f)).orElse(pv.get(f.name)).flatten
          df.withColumn(f.name,
            v.map(s => lit(s).cast(f.dataType))
              .getOrElse(lit(null).cast(f.dataType)))
        }.select(outCols.map(col): _*)
      }.reduce(_ unionByName _)
    else {
      val sc0 = spark.read.schema(readSchema)
        .parquet(files.keysIterator.map(abs).toSeq: _*)
      val sc1 = keepRow match {
        case Some(keep) => sc0.filter(keep(col("_metadata.file_path"),
          col("_metadata.row_index")))
        case None => sc0
      }
      val pvSchema = StructType(
        StructField("__delta_norm", org.apache.spark.sql.types.StringType,
          nullable = false) +:
        partFields.map(f => StructField(s"__delta_pv_${f.name}",
          org.apache.spark.sql.types.StringType, nullable = true)))
      val pvRows = files.toSeq.map { case (p, pv) =>
        org.apache.spark.sql.Row.fromSeq(encodedPathKey(abs(p)) +:
          partFields.map(f =>
            pv.get(physicalName(f)).orElse(pv.get(f.name)).flatten.orNull))
      }
      val pvDf = spark.createDataFrame(
        spark.sparkContext.parallelize(pvRows, 1), pvSchema)
      val joined = project(sc1)
        .withColumn("__delta_norm",
          IcebergLite.normalizePathCol(col("__file")))
        .join(broadcast(pvDf), Seq("__delta_norm"), "left")
      partFields.foldLeft(joined) { (df, f) =>
          df.withColumn(f.name,
            col(s"__delta_pv_${f.name}").cast(f.dataType))
        }.select(outCols.map(col): _*)
    }
  }

  /** EXECUTOR-SIDE DV staging: one shuffle of the matched (file,
    * row_index) pairs on the file path, rows sorted within partitions,
    * then each file's contiguous run encodes to its serialized
    * RoaringBitmapArray ON THE EXECUTOR — the driver collects only
    * (path, cardinality, bitmap BYTES) triples, KB-order per file,
    * never row indexes (the iceberg `stagePosDeletes` pattern,
    * delta-side). Row indexes arrive sorted and unique per file. A file
    * already carrying a live DV merges the PRIOR bitmap here too
    * (executor-side load + sorted-run union via `priorDvs`), so
    * repeated deletes against the same file never materialize its
    * dead-row indexes driver-side either.
    */
  private[graft] def stageDvBitmaps(spark: SparkSession,
      scanned: DataFrame,
      /** normalized scan path → the file's prior live DV descriptor. */
      priorDvs: Map[String, DeletionVectors.Descriptor] = Map.empty,
      tablePath: String = ""): Array[(String, Long, Array[Byte])] = {
    import spark.implicits._
    val bcPrior = spark.sparkContext.broadcast(priorDvs)
    val confBytes =
      if (priorDvs.isEmpty) Array.empty[Byte]
      else LakeTailSource.confToBytes(
        spark.sparkContext.hadoopConfiguration)
    val tp = tablePath
    scanned.as[(String, Long)]
      .repartition(col("__p"))
      .sortWithinPartitions(col("__p"), col("__i"))
      .mapPartitions { it =>
        lazy val fsys =
          new Path(tp).getFileSystem(LakeTailSource.bytesToConf(confBytes))
        new Iterator[(String, Long, Array[Byte])] {
          private var cur: (String, Long) = _
          private var has = it.hasNext
          if (has) cur = it.next()
          override def hasNext: Boolean = has
          override def next(): (String, Long, Array[Byte]) = {
            val path = cur._1
            val b = Array.newBuilder[Long]
            b += cur._2
            var done = false
            while (!done) {
              if (it.hasNext) {
                val nx = it.next()
                if (nx._1 == path) b += nx._2
                else { cur = nx; done = true }
              } else { has = false; done = true }
            }
            val fresh = b.result()
            val all = bcPrior.value
              .get(IcebergLite.normalizePathStr(path)) match {
              case Some(d) => DeletionVectors.unionSorted(fresh,
                DeletionVectors.load(fsys, tp, d))
              case None => fresh
            }
            (path, all.length.toLong, DeletionVectors.encodeBitmap(all))
          }
        }
      }.collect()
  }

  /** MERGE-ON-READ DELETE via deletion vectors (the advanced-protocol
    * write path delta-spark uses for row-level deletes): rows matching
    * `cond` are recorded as per-file row-index bitmaps in ONE DV file;
    * the commit re-adds each touched file with its descriptor (merged
    * with any existing DV) — zero data-file rewrites at any table size,
    * deletes cost O(matched rows) bitmap bytes. A file whose rows are
    * ALL deleted (per its stats numRecords) is removed outright. The
    * commit upgrades the protocol to reader/writer feature
    * `deletionVectors` when needed. Returns the new version (current
    * version when nothing matched).
    *
    * The matched positions are encoded to per-file roaring bitmaps ON
    * EXECUTORS ([[stageDvBitmaps]]) — one scan, one key shuffle, and
    * the driver handles only KB-sized serialized blobs, so the delete
    * is unbounded by driver memory at any match count.
    * `graft.delta.maxDeleteRowsPerCommit` is an OPTIONAL loud cap
    * (unset = unbounded) for deployments that want table-scale purges
    * steered to a rewrite path instead of a DV.
    */
  def deleteWhere(spark: SparkSession, tablePath: String,
      cond: org.apache.spark.sql.Column): Long = {
    val snap = snapshot(spark, tablePath)
    checkWriterProtocol(snap, dataChangeMutation = true, "DELETE")
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def abs(p: String): String =
      if (p.contains("://") || p.startsWith("/")) p
      else new Path(tablePath, p).toString
    // driver-side pruning bounds the match scan to files that could
    // hold a matching row (a partition-predicate delete on a 100-TB
    // table scans only the matching partitions)
    val candFiles = pruneFiles(snap, cond)
    if (candFiles.isEmpty) return snap.version
    // UniForm forbids deletion vectors — route to the copy-on-write
    // rewrite (touched files rebuilt without the matched rows)
    if (uniformEnabled(snap))
      return deleteCopyOnWrite(spark, tablePath, snap, cond, candFiles)
    // matching (file, row_index); existing-DV rows may re-match — the
    // per-file union below dedups them. Partitioned tables scan per
    // partition group with the typed partition LITERALS injected (the
    // data files don't carry those columns).
    // shared mutation scan: logical columns + partition literals + DV
    // anti-filter (already-dead rows can't re-match; the per-file union
    // with prior bitmaps below keeps them suppressed either way), with
    // the constant-plan-size switch past the partition union cap
    val cdf = cdfEnabled(snap)
    val matched = scanFilesWithMeta(spark, tablePath, snap, candFiles,
      withPos = true)
      .filter(cond)
    // CDF re-reads the matched rows for the cdc files — persist so the
    // bitmap staging and the cdc staging share ONE scan
    if (cdf) matched.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val scanned = matched.select(col("__file").as("__p"), col("__i"))
    // ONE distributed job: scan → shuffle on file → per-file bitmap
    // bytes on executors (any PRIOR DV merges there too); the driver
    // sees only (path, card, blob)
    val priorByNorm: Map[String, DeletionVectors.Descriptor] =
      candFiles.keysIterator.filter(snap.dvs.contains)
        .map(p => encodedPathKey(abs(p)) -> snap.dvs(p)).toMap
    val staged = stageDvBitmaps(spark, scanned, priorByNorm, tablePath)
    if (staged.isEmpty) {
      if (cdf) matched.unpersist()
      return snap.version
    }
    // optional loud cap (unset = unbounded — driver memory is bounded
    // by bitmap BYTES, not row count); enforced from the same job's
    // merged cardinalities (dead rows per touched file), no second scan
    spark.conf.getOption("graft.delta.maxDeleteRowsPerCommit")
      .map(_.toLong).foreach { maxRows =>
        val total = staged.map(_._2).sum
        require(total <= maxRows,
          s"delete leaves $total dead rows across the touched files, " +
            "over the explicit graft.delta.maxDeleteRowsPerCommit=" +
            maxRows +
            " — raise/unset the cap or rewrite the table instead")
      }
    // normalize scan paths back to the snapshot's action paths (the
    // scan side is URI-encoded `_metadata.file_path`); prior-DV merges
    // already happened on the executors, so these are final bitmaps
    val byNorm = snap.files.keysIterator
      .map(p => encodedPathKey(abs(p)) -> p).toMap
    val perFile: Seq[(String, Long, Array[Byte])] = staged.toSeq.map {
      case (scanPath, card, bytes) =>
        val action = byNorm.getOrElse(
          IcebergLite.normalizePathStr(scanPath),
          throw new IllegalStateException(
            s"scan path $scanPath not in the snapshot file set"))
        (action, card, bytes)
    }
    def numRecords(p: String): Option[Long] = snap.stats.get(p)
      .flatMap(js => try Option(mapper.readTree(js).get("numRecords"))
        .map(_.asLong) catch { case _: Exception => None })
    val (fullyDead, dvd) = perFile.partition { case (p, card, _) =>
      numRecords(p).contains(card)
    }
    val now = 1L
    val lines = mutable.ArrayBuffer.empty[String]
    val ictStamp = if (ictEnabled(snap))
      Some(nextIct(fs, new Path(root, "_delta_log"), snap)) else None
    lines += commitInfoAction("DELETE", Map("mode" -> "deletionVector"),
      now, ictStamp)
    // protocol upgrade once DVs enter the table — a features-based
    // protocol is EXHAUSTIVE, so the upgrade must carry every feature
    // the prior legacy reader/writer versions implied (dropping an
    // implied columnMapping would make external readers reject the
    // still-mapped table)
    val needsDvProtocol = dvd.nonEmpty && !snap.protocol.exists(p =>
      p.readerFeatures.exists(_.contains("deletionVectors")))
    if (needsDvProtocol) {
      val p = snap.protocol.getOrElse(CpProto(1, 2, None, None))
      val rf = (p.readerFeatures.getOrElse(
        impliedReaderFeatures(p.minReaderVersion)) :+ "deletionVectors")
        .distinct
      val wf = (p.writerFeatures.getOrElse(
        impliedWriterFeatures(p.minWriterVersion)) :+ "deletionVectors")
        .distinct
      def featJson(fs: Seq[String]): String =
        fs.map(mapper.writeValueAsString).mkString("[", ",", "]")
      lines += (s"""{"protocol":{"minReaderVersion":3,""" +
        s""""minWriterVersion":7,"readerFeatures":${featJson(rf)},""" +
        s""""writerFeatures":${featJson(wf)}}}""")
    }
    val dvFile =
      if (dvd.isEmpty) None
      else Some(DeletionVectors.writeDvFileBytes(fs, tablePath,
        dvd.map { case (p, _, bytes) => (p, bytes) }))
    dvd.foreach { case (p, card, _) =>
      val (id, offsets) = dvFile.get
      val (off, size) = offsets(p)
      val pEsc = mapper.writeValueAsString(rawPath(snap, p))
      val stEsc = snap.stats.get(p)
        .map(s => s""","stats":${mapper.writeValueAsString(s)}""")
        .getOrElse("")
      // the re-add must restate the file's partition values — a DV
      // update is remove+add of the same path, and the add is what the
      // snapshot keeps
      val pvNode = mapper.createObjectNode()
      snap.files.getOrElse(p, Map.empty).foreach {
        case (k, Some(v)) => pvNode.put(k, v); ()
        case (k, None) => pvNode.putNull(k); ()
      }
      // foreign logs may omit add.size — the REAL file length, never a
      // sentinel (a wrong size mis-drives compact's bin-packing and
      // external planners)
      val fsz = snap.sizes.getOrElse(p,
        fs.getFileStatus(new Path(abs(p))).getLen)
      // a DV re-add RESTATES the file's row-tracking coordinates —
      // dropping them would corrupt the table's stable row ids
      val ridEsc = snap.rowIds.get(p).map { case (b, d) =>
        s""","baseRowId":$b,"defaultRowCommitVersion":$d"""
      }.getOrElse("")
      lines += s"""{"remove":{"path":$pEsc,""" +
        s""""deletionTimestamp":${System.currentTimeMillis},"dataChange":true}}"""
      lines += (s"""{"add":{"path":$pEsc,"partitionValues":$pvNode,""" +
        s""""size":$fsz,""" +
        s""""modificationTime":$now,"dataChange":true$stEsc$ridEsc,""" +
        s""""deletionVector":{"storageType":"u",""" +
        s""""pathOrInlineDv":${mapper.writeValueAsString(id)},""" +
        s""""offset":$off,"sizeInBytes":$size,""" +
        s""""cardinality":$card}}}""")
    }
    fullyDead.foreach { case (p, _, _) =>
      lines += removeAction(rawPath(snap, p), now)
    }
    // CHANGE DATA FEED: the exact deleted row images land as `cdc`
    // files under _change_data/ in the same commit (one more
    // distributed pass over the matched scan — CDF materializes
    // changes by definition)
    if (cdf) {
      lines ++= cdcLines(spark, root, fs, snap, matched.drop("__file", "__i")
        .withColumn("_change_type", lit("delete")), now)
      matched.unpersist()
      ()
    }
    commitWithRetry(fs, new Path(root, "_delta_log"), tablePath,
      snap.version + 1, lines.toSeq,
      ourRemoves = (dvd ++ fullyDead).map(_._1).toSet,
      dataChangeMutation = true)
  }

  /** COPY-ON-WRITE DELETE for tables that forbid deletion vectors
    * (UniForm / icebergCompatV2): the files holding matched rows are
    * rewritten WITHOUT those rows and the commit is remove+add —
    * delta-spark's own pre-DV delete shape, and the one UniForm's
    * iceberg conversion can represent (iceberg data files, no DV
    * sidecars). A fully-dead file simply gets no replacement add.
    * Cost is proportional to the TOUCHED files' bytes, not the table:
    * partition/stats pruning bounds the candidate set exactly like the
    * DV path, and the rewrite is one distributed scan + stage. On a
    * ROW-TRACKED table (UniForm + rowTracking is a common foreign
    * shape) each survivor's stable (id, commit version) materializes
    * into the rewritten files — same contract as OPTIMIZE/MERGE.
    */
  private def deleteCopyOnWrite(spark: SparkSession, tablePath: String,
      snap: Snapshot, cond: org.apache.spark.sql.Column,
      candFiles: Map[String, Map[String, Option[String]]]): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = new Path(root, "_delta_log")
    def abs(p: String): String =
      if (p.contains("://") || p.startsWith("/")) p
      else new Path(tablePath, p).toString
    // row tracking composes (UniForm + rowTracking is a common foreign
    // table shape): survivors rewrite with their stable (id, version)
    // MATERIALIZED, same contract as OPTIMIZE/MERGE
    val rowIds = rowIdCols(snap)
    val relByPath: Map[String, String] =
      candFiles.keys.map(p => encodedPathKey(abs(p)) -> p).toMap
    val cdf = cdfEnabled(snap)
    val matched = scanFilesWithMeta(spark, tablePath, snap, candFiles,
      withPos = false).filter(cond)
    if (cdf) matched.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val touched: Set[String] = matched.select("__file").distinct()
      .collect().map { row =>
        val norm = IcebergLite.normalizePathStr(row.getString(0))
        relByPath.getOrElse(norm, throw new IllegalStateException(
          s"delete scan returned unmapped file ${row.getString(0)}"))
      }.toSet
    if (touched.isEmpty) {
      if (cdf) matched.unpersist()
      return snap.version
    }
    // survivors: rows of the touched files where cond is NOT true
    // (false or NULL — SQL DELETE only removes rows the predicate
    // affirmatively matches); on a row-tracked table each survivor's
    // stable (id, version) rides along and materializes into the
    // rewritten files
    val retained = scanFilesWithMeta(spark, tablePath, snap,
      snap.files.filter(kv => touched.contains(kv._1)), withPos = false,
      rowIds = rowIds.nonEmpty)
      .filter(not(coalesce(cond, lit(false))))
      .drop("__file")
    val (outStaged, stagePartCols) = physicalFrame(retained, snap.schema,
      snap.partitionColumns, snap.columnMappingMode != "none",
      rowIds.toSeq.flatMap(_.columns))
    // staging drops 0-row part files, so an all-dead rewrite nets to a
    // bare remove (the spec shape) with no empty add
    val staged = stage(spark, outStaged, root, fs, stagePartCols,
      rowIds.toSeq.flatMap(_.names))
    val now = 1L
    val head = commitInfoAction("DELETE", Map("mode" -> "copyOnWrite"),
      now, if (ictEnabled(snap)) Some(nextIct(fs, logDir, snap)) else None) +:
      rewriteMetaData(snap, rowIds, Map.empty, now).toSeq
    val cdc =
      if (!cdf) Nil
      else {
        val ls = cdcLines(spark, root, fs, snap, matched.drop("__file")
          .withColumn("_change_type", lit("delete")), now)
        matched.unpersist()
        ls
      }
    commitFiles(spark, tablePath, fs, Some(snap), head, touched, staged,
      rowIds.nonEmpty, cdc)
  }

  /** UNIFORM CONVERSION — the step `icebergCompatV2` exists for:
    * register the table's CURRENT data files as an iceberg snapshot
    * under `<table>/metadata` (next to `_delta_log`) so iceberg
    * readers — [[IcebergLite]] included — read the same rows with no
    * data copied. Databricks runs this as an async service after each
    * delta commit; delta-spark OSS only writes the compat-shaped data
    * files. Graft exposes it as an explicit IDEMPOTENT maintenance
    * step: each call overwrites the registration with the current
    * delta version (`delta-version` stamped in the snapshot summary),
    * so sync-after-mutate keeps the iceberg view exact.
    *
    * The iceberg schema carries the PHYSICAL column names (what the
    * mapped parquet files are written with — [[IcebergLite]] resolves
    * parquet columns by name) with field ids equal to the delta
    * columnMapping ids (what spec-compliant id-resolving readers use;
    * [[toPhysical]] stamps them into the staged footers). The id
    * agreement is VERIFIED field-by-field before any metadata is
    * written. Partitioned tables register an identity partition spec
    * with each file's recorded partition values in the manifest tuple
    * — delta data files don't carry partition columns, so iceberg
    * reads project them from the tuple (the spec's identity constant
    * projection, [[IcebergLite]] scanData). Loud refusals, never
    * silent wrong data:
    *  - not a UniForm table;
    *  - a partition column of a type the iceberg manifest tuple
    *    doesn't cover (int/long/string/date are supported);
    *  - array/map columns whose members carry no allocated nested id —
    *    iceberg numbers list/map members, delta column mapping numbers
    *    named fields only, so icebergCompatV2 allocates member ids
    *    past maxColumnId at enablement ([[assignNestedIds]], stamped
    *    into staged footers by [[ParquetIdStamp]] and registered as
    *    the iceberg element-id/key-id/value-id); only tables enabled
    *    before allocation existed refuse, naming the back-fill;
    *  - columnMapping ids that are not the dense pre-order 1..n over
    *    named fields (a post-drop gap): the parquet-stamped ids would
    *    disagree with the registered schema;
    *  - a live DV (UniForm forbids them — presence means a foreign
    *    writer broke the compat contract) or a file without
    *    numRecords stats (manifests require record_count).
    *
    * Returns the iceberg snapshot id. Beyond the reference (dozer has
    * no lakehouse writer); kept for real-pipeline interop.
    */
  /** Opt-in AUTO-CONVERSION: when a UniForm table's configuration
    * carries `delta.universalFormat.enabledFormats` including
    * `iceberg` (the property Databricks's async converter keys on),
    * every successful mutating commit syncs the iceberg view INLINE —
    * metadata-only, O(live files). A sync refusal (e.g. array/map
    * columns) WARNS instead of failing the already-committed write,
    * like the async converter it stands in for; the explicit
    * maintenance `uniform_sync` step surfaces the same error loudly.
    * Tables with the icebergCompatV2 feature but WITHOUT the property
    * opt-in keep the explicit-sync-only behavior.
    */
  private def autoSyncUniform(spark: SparkSession, tablePath: String,
      pre: Option[Snapshot], committed: Long): Long = {
    // gate on the PRE-commit snapshot already in hand — non-UniForm
    // tables must not pay a second log replay per commit; a table
    // that gains the opt-in mid-commit syncs from its next mutation
    // (or the explicit maintenance step)
    val opted = pre.exists(s => uniformEnabled(s) &&
      s.configuration.get("delta.universalFormat.enabledFormats")
        .exists(_.split(",").map(_.trim).contains("iceberg")))
    if (opted)
      try { syncUniform(spark, tablePath); () }
      catch { case e: Exception =>
        System.err.println(s"[graft] UniForm auto-sync of $tablePath " +
          "failed — the iceberg view lags this commit (run " +
          s"maintenance uniform_sync for the loud form): ${e.getMessage}")
        // IN-BAND lag marker: a pipeline running unattended must not
        // depend on a console line — record which commit the iceberg
        // view lags behind as a table property (its own metadata-only
        // commit; setTableProperties does not re-enter auto-sync).
        // [[syncUniform]] clears it on the next SUCCESSFUL sync.
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          .replaceAll("[\\r\\n]+", " ").take(300)
        try { setTableProperties(spark, tablePath, Map(
          "graft.uniform.lastSyncFailure" ->
            s"""{"version":$committed,"message":${
              mapper.writeValueAsString(msg)}}""")); () }
        catch { case e2: Exception =>
          System.err.println(s"[graft] could not record the UniForm " +
            s"sync-lag marker on $tablePath: ${e2.getMessage}")
        }
      }
    committed
  }

  /** The tail every file-rewriting commit shares — WRITE, MERGE,
    * copy-on-write DELETE and OPTIMIZE: after `head` (commitInfo and any
    * protocol/metaData/txn lines), a `remove` per `removed` path of `pre`,
    * an `add` per staged file, then the `cdc` lines; committed through
    * [[commitWithRetry]] and mirrored to the UniForm view when the table
    * opts in ([[autoSyncUniform]]). On a row-tracked table each add takes
    * a fresh contiguous base-row-id range past the `delta.rowTracking`
    * domain's high-water mark, with this commit as its default commit
    * version, and the `delta.rowTracking` domain advances in the same
    * commit — the line that also pins it single-attempt, so racing
    * writers never hand out one id range twice. `dataChange = false`
    * marks a same-rows rewrite (OPTIMIZE); `mutation` is
    * [[commitWithRetry]]'s `dataChangeMutation`. Returns the version
    * committed.
    */
  private def commitFiles(spark: SparkSession, tablePath: String,
      fs: FileSystem, pre: Option[Snapshot], head: Seq[String],
      removed: Set[String], added: Seq[StagedFile], rowTracked: Boolean,
      cdc: Seq[String] = Nil, dataChange: Boolean = true,
      mutation: Boolean = true): Long = {
    val now = 1L
    val version = pre.fold(0L)(_.version + 1)
    val removes = removed.toSeq.sorted.map(p =>
      removeAction(rawPath(pre.get, p), now, dataChange))
    val baseRowIds =
      if (!rowTracked) None
      else Some(added.scanLeft(pre.fold(-1L)(rowIdHighWaterMark) + 1)(
        _ + _.rows).toIndexedSeq)
    val adds = added.zipWithIndex.map { case (f, i) =>
      addAction(f.path, f.size, f.stats, now, f.partitionValues, dataChange,
        baseRowIds.map(b => (b(i), version)))
    }
    val domain = baseRowIds.map(b => rowTrackingDomainAction(b.last - 1))
    autoSyncUniform(spark, tablePath, pre,
      commitWithRetry(fs, new Path(tablePath, "_delta_log"), tablePath,
        version, head ++ removes ++ adds ++ domain ++ cdc,
        ourRemoves = removed, dataChangeMutation = mutation))
  }

  def syncUniform(spark: SparkSession, tablePath: String): Long = {
    import org.apache.spark.sql.types.{ArrayType, MapType}
    val snap = snapshot(spark, tablePath)
    require(uniformEnabled(snap),
      s"$tablePath does not carry the icebergCompatV2 writer feature — " +
        "enable UniForm first (setTableProperties " +
        "delta.enableIcebergCompatV2=true)")
    require(snap.dvs.isEmpty,
      s"$tablePath carries live deletion vectors — UniForm forbids " +
        "them (a foreign writer broke the icebergCompatV2 contract); " +
        "run compact() to purge, then re-sync")
    // named fields must carry the dense pre-order ids [[assignMapping]]
    // assigns (walk order recurses containers into their structs) — a
    // post-drop gap would disagree with the parquet-stamped ids
    var pre = 0
    def checkType(dt: DataType, at: String): Unit = dt match {
      case st: StructType => check(st.fields.toSeq, at)
      case a: ArrayType => checkType(a.elementType, s"${at}element.")
      case m: MapType =>
        checkType(m.keyType, s"${at}key.")
        checkType(m.valueType, s"${at}value.")
      case _ => ()
    }
    def check(fields: Seq[StructField], at: String): Unit =
      fields.foreach { f =>
        pre += 1
        val id =
          if (f.metadata.contains("delta.columnMapping.id"))
            f.metadata.getLong("delta.columnMapping.id")
          else -1L
        require(id == pre,
          s"UniForm iceberg sync: column '$at${f.name}' carries delta " +
            s"columnMapping id $id but iceberg's schema numbering " +
            s"assigns $pre (a post-drop id gap?) — the parquet field " +
            "ids would disagree with the iceberg schema")
        checkType(f.dataType, s"$at${f.name}.")
      }
    check(snap.schema.fields.toSeq, "")
    // container members (list element / map key,value) need their
    // icebergCompatV2 nested ids allocated — [[assignNestedIds]] runs
    // at enablement; tables enabled before nested-id support back-fill
    // by re-setting the property
    val allocated = collectNestedIds(snap.schema)
    val missingMembers = memberIdPaths(snap.schema)
      .filterNot(allocated.contains)
    require(missingMembers.isEmpty,
      "UniForm iceberg sync: list/map members " +
        missingMembers.mkString("[", ", ", "]") +
        " carry no allocated field id — re-run setTableProperties(" +
        "delta.enableIcebergCompatV2=true) to back-fill the " +
        "icebergCompatV2 nested-id assignment, then sync again")
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def abs(p: String): String =
      if (p.contains("://") || p.startsWith("/")) p
      else new Path(tablePath, p).toString
    val physSchema = StructType(snap.schema.fields.map(physicalFieldWithIds))
    // FOOTER VERIFICATION: the schema-side checks above prove the
    // SCHEMA carries every id, but a nested-id BACK-FILL (re-setting
    // enableIcebergCompatV2 on a table that already had data) allocates
    // ids in metadata only — files written after enableColumnMapping
    // but before allocation keep footers with no member ids, and a
    // strict id-resolving iceberg reader of the synced table would
    // silently read NULL container members (delta-spark demands a
    // REORG UPGRADE UNIFORM file rewrite here). So the first sync of a
    // given allocation PROBES every data file's KB footer
    // (bounded-parallel) against the declared ids and refuses to
    // register a schema the files do not honor, naming
    // [[reorgUpgradeUniform]] — a footer-only copy-rewrite of exactly
    // the lagging files — as the repair. A clean probe is memoized on
    // maxColumnId (its own metadata commit, after the sync) so
    // steady-state syncs skip it: files staged after allocation are
    // stamped by the staging gate, and foreign icebergCompatV2 writers
    // are protocol-bound to write the ids.
    val declaredIds = ParquetIdStamp.pathIds(physSchema)
    val curMaxId = snap.configuration
      .get("delta.columnMapping.maxColumnId")
      .getOrElse(maxMappingId(snap.schema).toString)
    val needProbe = declaredIds.keys.exists(_.contains('.')) &&
      !snap.configuration.get("graft.uniform.footerIdsVerified")
        .contains(curMaxId)
    if (needProbe) {
      val rels = snap.files.keys.toSeq.sorted
      val lagging = ParquetIdStamp.lacksIdsAll(
        spark.sparkContext.hadoopConfiguration,
        rels.map(p => new Path(abs(p))), declaredIds)
      if (lagging.nonEmpty) {
        val shown = lagging.take(5).map(_.getName).mkString(", ")
        throw new IllegalStateException(
          s"UniForm iceberg sync: ${lagging.size} data file(s) carry " +
            s"footers MISSING ids the schema declares ($shown" +
            (if (lagging.size > 5) ", …" else "") + ") — they were " +
            "written before the nested-id allocation, and registering " +
            "an id-claiming iceberg schema over them would make strict " +
            "readers silently null those fields. Run " +
            "DeltaLite.reorgUpgradeUniform(spark, tablePath) — a " +
            "footer-only rewrite of exactly these files — then sync " +
            "again (a metadata-only back-fill cannot repair " +
            "already-written files)")
      }
    }
    // partitioned tables register an identity spec on the PHYSICAL
    // partition column names; delta data files don't carry partition
    // columns, so iceberg reads project them from the recorded tuple
    // (the spec's identity constant projection)
    val partFields = snap.partitionColumns.map(c =>
      snap.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"partition column $c missing from the Delta schema")))
    val files = snap.files.toSeq.sortBy(_._1).map { case (p, pv) =>
      val rows = snap.stats.get(p)
        .flatMap(s => Option(mapper.readTree(s).get("numRecords"))
          .map(_.asLong))
        .getOrElse(throw new IllegalArgumentException(
          s"UniForm iceberg sync: $p carries no numRecords stats — " +
            "iceberg manifests require record_count"))
      val size = snap.sizes.getOrElse(p,
        fs.getFileStatus(new Path(abs(p))).getLen)
      val tuple: Map[String, Option[String]] = partFields.map { f =>
        physicalName(f) ->
          pv.get(physicalName(f)).orElse(pv.get(f.name)).flatten
      }.toMap
      IcebergLite.ExistingFile(abs(p), rows, size, tuple)
    }
    val snapId = IcebergLite.commitExistingFiles(spark, tablePath,
      physSchema, files,
      partitionCols = partFields.map(physicalName).toSeq,
      extraSummary = Map("delta-version" -> snap.version.toString))
    // memoize the clean footer probe (same trailing-metadata-commit
    // shape as the lag-marker clear below) so steady-state syncs skip
    // re-reading every footer; a future allocation (maxColumnId bump)
    // invalidates it by value
    if (needProbe)
      try { setTableProperties(spark, tablePath, Map(
        "graft.uniform.footerIdsVerified" -> curMaxId)); () }
      catch { case e: Exception =>
        System.err.println(s"[graft] could not record the UniForm " +
          s"footer-verification marker on $tablePath: ${e.getMessage}")
      }
    // A successful sync CLEARS the in-band lag marker a failed
    // auto-sync recorded ([[autoSyncUniform]]) — its own metadata-only
    // commit, which the iceberg view trails harmlessly (property
    // changes carry no data; the next mutation re-syncs).
    if (snap.configuration.contains("graft.uniform.lastSyncFailure"))
      try { unsetTableProperties(spark, tablePath,
        Seq("graft.uniform.lastSyncFailure")); () }
      catch { case e: Exception =>
        System.err.println(s"[graft] could not clear the UniForm " +
          s"sync-lag marker on $tablePath: ${e.getMessage}")
      }
    snapId
  }

  /** Delta-spark's `REORG TABLE … APPLY (UPGRADE UNIFORM)` analogue at
    * FOOTER cost: rewrite exactly the data files whose parquet footers
    * lack ids the UniForm schema declares (files written after
    * enableColumnMapping but before the nested-id allocation — the
    * population [[syncUniform]]'s footer verification refuses over).
    * Each lagging file is stream-copied byte-identical through its
    * data region with a re-serialized footer carrying the ids
    * ([[ParquetIdStamp.stampedCopy]] — no decode/encode, KB of CPU per
    * file), then committed remove+add with `dataChange:false`; stats
    * and row-tracking coordinates restate verbatim (byte-identical row
    * order). In-place patching is NOT an option for committed files:
    * the add's recorded size feeds foreign readers' footer seeks.
    * Returns the new version (unchanged when no file lags).
    */
  def reorgUpgradeUniform(spark: SparkSession, tablePath: String): Long = {
    val snap = snapshot(spark, tablePath)
    checkWriterProtocol(snap, dataChangeMutation = false,
      "REORG UPGRADE UNIFORM")
    require(uniformEnabled(snap),
      s"$tablePath does not carry the icebergCompatV2 writer feature — " +
        "REORG UPGRADE UNIFORM repairs UniForm tables only")
    require(snap.dvs.isEmpty,
      s"$tablePath carries live deletion vectors — purge them first " +
        "(compact applies and drops DVs); a footer rewrite would break " +
        "their path binding")
    val missingMembers = memberIdPaths(snap.schema)
      .filterNot(collectNestedIds(snap.schema).contains)
    require(missingMembers.isEmpty,
      "REORG UPGRADE UNIFORM: the schema itself has unallocated member " +
        "ids — re-run setTableProperties(delta.enableIcebergCompatV2=" +
        "true) to back-fill the allocation first")
    val physSchema = StructType(snap.schema.fields.map(physicalFieldWithIds))
    val declaredIds = ParquetIdStamp.pathIds(physSchema)
    if (declaredIds.isEmpty) return snap.version
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(tablePath)
    val fs = root.getFileSystem(conf)
    def abs(p: String): Path =
      if (p.contains("://") || p.startsWith("/")) new Path(p)
      else new Path(tablePath, p)
    val rels = snap.files.keys.toSeq.sorted
    val laggingAbs = ParquetIdStamp.lacksIdsAll(
      conf, rels.map(abs), declaredIds).map(_.toString).toSet
    val lagging = rels.filter(p => laggingAbs.contains(abs(p).toString))
    if (lagging.isEmpty) return snap.version
    val now = 1L
    val logDir = new Path(root, "_delta_log")
    val ict = if (ictEnabled(snap)) Some(nextIct(fs, logDir, snap))
      else None
    val lines = mutable.ArrayBuffer.empty[String]
    lines += commitInfoAction("REORG UPGRADE UNIFORM",
      Map("rewrittenFiles" -> lagging.size.toString), now, ict)
    lagging.foreach { rel =>
      val srcP = abs(rel)
      // new file lands NEXT TO the old one (the rel path's directory
      // chain carries the hive partition segments)
      val dot = srcP.getName.lastIndexOf('.')
      val stem = if (dot > 0) srcP.getName.substring(0, dot)
        else srcP.getName
      val ext = if (dot > 0) srcP.getName.substring(dot) else ""
      val newName =
        s"$stem-u${java.util.UUID.randomUUID.toString.take(8)}$ext"
      val dstP = new Path(srcP.getParent, newName)
      val (newSize, rows) =
        ParquetIdStamp.stampedCopy(conf, srcP, dstP, declaredIds)
      val newRel = {
        val slash = rel.lastIndexOf('/')
        if (slash < 0) newName else rel.substring(0, slash + 1) + newName
      }
      lines += removeAction(rawPath(snap, rel), now, dataChange = false)
      // stats restate verbatim (the data region is byte-identical);
      // an add missing stats mints the minimal numRecords object the
      // sync path requires, from the footer's own row count
      val stats = snap.stats.getOrElse(rel, s"""{"numRecords":$rows}""")
      lines += addAction(newRel, newSize, stats, now,
        snap.files(rel), dataChange = false,
        rowId = snap.rowIds.get(rel))
    }
    autoSyncUniform(spark, tablePath, Some(snap),
      commitWithRetry(fs, logDir, tablePath, snap.version + 1,
        lines.toSeq, ourRemoves = lagging.toSet,
        dataChangeMutation = false))
  }

  /** OPTIMIZE (bin-packing compaction) + DV PURGE: rewrites, per
    * partition tuple, (a) every file carrying a live deletion vector —
    * the rewrite APPLIES the bitmap and DROPS the DV (delta-spark's
    * `REORG TABLE … APPLY (PURGE)`), and (b) files below
    * `smallFileBytes` when at least two share a tuple (the
    * streaming-sink many-small-commits layout fix). The commit is
    * remove+add with `dataChange:false` — the row set is unchanged, so
    * change-feed consumers skip it. Rewritten originals become
    * unreferenced and fall to [[vacuum]]. Output file count per tuple is
    * ceil(inputBytes / smallFileBytes) — near-target sizes at any
    * input count. Returns the new version (unchanged when nothing
    * qualifies).
    */
  def compact(spark: SparkSession, tablePath: String,
      smallFileBytes: Long = 128L << 20): Long = {
    require(smallFileBytes > 0, "smallFileBytes must be positive")
    val snap = snapshot(spark, tablePath)
    // dataChange:false rewrite — allowed on appendOnly tables
    checkWriterProtocol(snap, dataChangeMutation = false, "OPTIMIZE")
    // ROW TRACKING: rewrites MATERIALIZE each surviving row's stable
    // (id, commit version) into the new files' materialized columns
    // (the spec's REORG contract), so ids survive the rewrite even
    // though positions change; the column names are minted into the
    // configuration on first use
    val rowIds = rowIdCols(snap)
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def abs(p: String): String =
      if (p.contains("://") || p.startsWith("/")) p
      else new Path(tablePath, p).toString
    // rewrite set per partition tuple: DV'd files always; small files
    // when there are ≥2 to pack (or they pack into a DV rewrite)
    val byTuple = snap.files.toSeq.groupBy(_._2)
    val rewriteByTuple = byTuple.flatMap { case (pv, fsq) =>
      val paths = fsq.map(_._1)
      val dvd = paths.filter(snap.dvs.contains)
      val small = paths.filter(p =>
        !snap.dvs.contains(p) &&
          snap.sizes.get(p).exists(_ < smallFileBytes))
      val chosen =
        if (dvd.nonEmpty) dvd ++ small
        else if (small.size >= 2) small
        else Nil
      if (chosen.isEmpty) None else Some(pv -> chosen)
    }
    if (rewriteByTuple.isEmpty) return snap.version
    // a mapped table's rewrite stays entirely PHYSICAL (names, nested
    // shape, field ids) — the log's schema metadata is untouched
    val dataFieldsC = snap.schema.fields
      .filterNot(f => snap.partitionColumns.contains(f.name))
    val dataSchema =
      if (snap.columnMappingMode != "none")
        StructType(dataFieldsC.map(physicalField))
      else StructType(dataFieldsC)
    if (snap.columnMappingMode == "id")
      verifyFieldIds(spark,
        rewriteByTuple.values.flatten.map(abs).toSeq, dataFieldsC)
    // LIQUID CLUSTERING: OPTIMIZE is where the layout work happens —
    // rewrites cluster on the delta.clustering domain's columns
    // (resolved PHYSICAL-FIRST, nested paths included; partition
    // columns are constant per tuple and drop out)
    val clusterCols: Seq[(String, DataType)] = clusteringColumns(snap)
      .flatMap { parts =>
        val (path, logical, dt) = resolveClusterPath(snap, parts)
        if (logical.length == 1 &&
            snap.partitionColumns.contains(logical.head)) None
        else Some((path, dt))
      }
    // DV anti-filter over the rewritten files (same mechanism as reads)
    val dvTouched = rewriteByTuple.values.flatten
      .filter(snap.dvs.contains).toSeq
    val keepRow =
      if (dvTouched.isEmpty) None
      else {
        val dvMap = dvTouched.map { p =>
          encodedPathKey(abs(p)) ->
            DeletionVectors.load(fs, tablePath, snap.dvs(p))
        }.toMap
        val bc = spark.sparkContext.broadcast(dvMap)
        Some(udf((path: String, idx: Long) =>
          bc.value.get(IcebergLite.normalizePathStr(path)) match {
            case Some(dead) =>
              java.util.Arrays.binarySearch(dead, idx) < 0
            case None => true
          }))
      }
    // per-file (baseRowId, defaultRowCommitVersion) for default-id rows
    val ridLook =
      if (rowIds.isEmpty) None
      else {
        val m = rewriteByTuple.values.flatten.flatMap(p =>
          snap.rowIds.get(p).map(bd => encodedPathKey(abs(p)) -> bd)).toMap
        val bc = spark.sparkContext.broadcast(m)
        Some(udf((path: String, idx: Long, want: Int) =>
          bc.value.get(IcebergLite.normalizePathStr(path)) match {
            case Some((b, d)) => if (want == 0) b + idx else d
            case None => throw new IllegalStateException(
              s"file $path has no row-tracking coordinates and no " +
                "materialized id — cannot rewrite without losing ids")
          }))
      }
    val readSchemaC = StructType(dataSchema.fields ++
      rowIds.toSeq.flatMap(_.names)
        .map(StructField(_, LongType, nullable = true)))
    val staged = rewriteByTuple.toSeq.flatMap { case (pv, paths) =>
      val scanned0 = spark.read.schema(readSchemaC)
        .parquet(paths.map(abs): _*)
      // stable ids resolve BEFORE the shuffle, while _metadata is
      // still in scope: materialized value wins, else base + position
      val scanned = (rowIds zip ridLook).fold(scanned0) { case (r, look) =>
        scanned0
          .withColumn(r.id, coalesce(col(r.id),
            look(col("_metadata.file_path"),
              col("_metadata.row_index"), lit(0))))
          .withColumn(r.version, coalesce(col(r.version),
            look(col("_metadata.file_path"),
              col("_metadata.row_index"), lit(1))))
      }
      val alive = keepRow match {
        case Some(keep) if paths.exists(snap.dvs.contains) =>
          scanned.filter(keep(col("_metadata.file_path"),
            col("_metadata.row_index")))
        case _ => scanned
      }
      val inBytes = paths.flatMap(snap.sizes.get).sum
        .max(paths.length.toLong) // foreign adds without size: ≥1
      val nOut = math.max(1,
        math.ceil(inBytes.toDouble / smallFileBytes).toInt)
      val packed0 =
        if (clusterCols.isEmpty) alive.coalesce(nOut)
        else {
          // 2-3 integral dims Z-order (tight per-file bounds in EVERY
          // dim); anything else clusters lexicographically via range
          // partitioning + in-partition sort (tight on the lead
          // column, sorted throughout — the layout data skipping needs)
          val integral = clusterCols.forall {
            case (_, IntegerType | LongType | ShortType | ByteType) => true
            case _ => false
          }
          if (clusterCols.size >= 2 && clusterCols.size <= 3 && integral)
            alive.withColumn("__z", graft.operators.Layout.mortonKey(
                clusterCols.map(c => col(c._1))))
              .repartitionByRange(nOut, col("__z"))
              .sortWithinPartitions("__z").drop("__z")
          else alive.repartitionByRange(nOut,
              clusterCols.map(c => col(c._1)): _*)
            .sortWithinPartitions(clusterCols.map(c => col(c._1)): _*)
        }
      val packed =
        if (snap.columnMappingMode == "none") packed0
        else stampFieldIds(packed0, dataFieldsC,
          extraCols = rowIds.toSeq.flatMap(_.names))
      // a fully-DV'd input compacts to zero rows: staging drops the empty
      // file, so its tuple nets to bare removes
      stage(spark, packed, root, fs, Nil,
        rowIds.toSeq.flatMap(_.names))
        .map(_.copy(partitionValues = pv))
    }
    val now = 1L
    val head = commitInfoAction("OPTIMIZE",
      Map("purgedDvs" -> dvTouched.size.toString,
        "rewrittenFiles" -> rewriteByTuple.values.map(_.size).sum.toString),
      now, if (ictEnabled(snap))
        Some(nextIct(fs, new Path(tablePath, "_delta_log"), snap))
      else None) +: rewriteMetaData(snap, rowIds, Map.empty, now).toSeq
    // dataChange:false rewrite — rebases over concurrent appends (the
    // streaming-sink-vs-maintenance-compact race: both commit)
    commitFiles(spark, tablePath, fs, Some(snap), head,
      rewriteByTuple.values.flatten.toSet, staged, rowIds.nonEmpty,
      dataChange = false, mutation = false)
  }

  // ------------------------------------------------- change data feed

  private def cdfEnabled(snap: Snapshot): Boolean =
    snap.configuration.get("delta.enableChangeDataFeed")
      .exists(_.equalsIgnoreCase("true"))

  /** A `cdc` action (the spec's exact change-data files): path under
    * `_change_data/`, dataChange=false so CDF files never double as
    * table data.
    */
  private def cdcAction(rel: String, size: Long,
      partitionValues: Map[String, Option[String]], now: Long): String = {
    val pvNode = mapper.createObjectNode()
    partitionValues.foreach {
      case (k, Some(v)) => pvNode.put(k, v); ()
      case (k, None) => pvNode.putNull(k); ()
    }
    val pEsc = mapper.writeValueAsString(encodePath(rel))
    s"""{"cdc":{"path":$pEsc,"partitionValues":$pvNode,"size":$size,""" +
      s""""dataChange":false}}"""
  }

  /** `cdc` lines for one commit's change rows (the table's logical
    * columns + `_change_type`): staged in the data files' shape straight
    * under `_change_data/`.
    */
  private def cdcLines(spark: SparkSession, root: Path, fs: FileSystem,
      snap: Snapshot, rows: DataFrame, now: Long): Seq[String] = {
    val (phys, partCols) = physicalFrame(rows, snap.schema,
      snap.partitionColumns, snap.columnMappingMode != "none",
      Seq(col("_change_type")))
    stage(spark, phys, root, fs, partCols, under = "_change_data")
      .map(f => cdcAction(f.path, f.size, f.partitionValues, now))
  }

  /** Parse a JSON partitionValues node (same shape as the replay). */
  private def jsonPartValues(node: JsonNode): Map[String, Option[String]] = {
    val out = mutable.LinkedHashMap.empty[String, Option[String]]
    val it = node.fields()
    while (it.hasNext) {
      val e = it.next()
      out(e.getKey) = if (e.getValue.isNull) None else Some(e.getValue.asText)
    }
    out.toMap
  }

  /** EXACT CHANGE DATA FEED over (fromVersion, toVersion]: table
    * columns + `_change_type` (insert / delete / update_preimage /
    * update_postimage) + `_commit_version` — delta-spark's
    * `readChangeFeed` contract. Per commit: `cdc` actions are the
    * complete change set when present; otherwise dataChange adds
    * derive as inserts and dataChange removes derive as deletes (the
    * removed files read at the PRIOR version's state — partition
    * values and live DVs included). Returns None — fall back to the
    * keyed snapshot diff — when the table does not enable
    * `delta.enableChangeDataFeed`, a commit in range is gone or
    * restates metadata that changes how rows decode ([[feedShape]]), or
    * a commit mixes a remove+re-add of one path
    * without cdc actions (a DV rewrite not derivable from file
    * actions).
    *
    * Scale: O(changed files) — and CONSTANT PLAN SIZE at any commit
    * count: the range's files group into ONE scan per action kind (cdc
    * files / derived insert adds / derived delete removes), each row
    * stamped with its exact `_commit_version` by a broadcast
    * path→version lookup (the [[scanFilesWithMeta]] constant-plan
    * pattern applied to the feed — a 1000-commit backfill read plans
    * three scans, not a 1000-branch union). A path the same kind
    * touches twice in range (add→remove→re-add) escapes to its own
    * per-file scan, bounded by the range's re-add count. Nothing
    * rescans the table, no join on row data. Commits bearing removes
    * roll ONE prior-version snapshot forward (driver metadata work
    * bounded by the range length).
    */
  def changeFeedIfAvailable(spark: SparkSession, tablePath: String,
      fromVersion: Long, toVersion: Long,
      /** pre-replayed snapshot at `toVersion` (the tail shares one
        * replay between this probe and the keyed-diff fallback). */
      toSnap: Option[Snapshot] = None): Option[DataFrame] = {
    import org.apache.spark.sql.types.{LongType, StringType}
    val snapTo = toSnap.getOrElse(snapshot(spark, tablePath, Some(toVersion)))
    if (!cdfEnabled(snapTo)) return None
    val logDir = new Path(tablePath, "_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def abs(p: String): String =
      if (p.contains("://") || p.startsWith("/")) p
      else new Path(tablePath, p).toString
    val ctField = StructField("_change_type", StringType)
    // per-action-kind accumulation: path → (partitionValues, DV, commit)
    final class Bucket {
      val files = mutable.LinkedHashMap
        .empty[String, Map[String, Option[String]]]
      val dvs = mutable.LinkedHashMap
        .empty[String, DeletionVectors.Descriptor]
      val ver = mutable.LinkedHashMap.empty[String, Long]
    }
    val cdcB = new Bucket; val insB = new Bucket; val delB = new Bucket
    var escapes = Vector.empty[DataFrame]
    def put(b: Bucket, path: String, pv: Map[String, Option[String]],
        dv: Option[DeletionVectors.Descriptor], v: Long,
        cdcFile: Boolean, ct: String): Unit =
      if (b.files.contains(path)) {
        // same path, same kind, second commit — its own per-file scan
        val one = readFiles(spark, tablePath,
          snapTo.copy(files = Map(path -> pv),
            dvs = dv.map(path -> _).toMap, stats = Map.empty),
          Map(path -> pv),
          extraCols = if (cdcFile) Seq(ctField) else Nil)
        escapes :+= (if (cdcFile) one else one
          .withColumn("_change_type", lit(ct)))
          .withColumn("_commit_version", lit(v))
      } else {
        b.files(path) = pv
        dv.foreach(b.dvs(path) = _)
        b.ver(path) = v
      }
    // LAZY rolling file state for derive-mode deletes: materialized by
    // ONE snapshot replay at the first remove-bearing commit, then
    // rolled forward per commit's file actions — never one full log
    // replay per commit (O(range) rolls, not O(range × log length))
    var rollFiles: mutable.LinkedHashMap[String, Map[String, Option[String]]] =
      null
    var rollDvs: mutable.LinkedHashMap[String, DeletionVectors.Descriptor] =
      null
    def preState(v: Long): (Map[String, Map[String, Option[String]]],
        Map[String, DeletionVectors.Descriptor]) = {
      if (rollFiles == null) {
        val s0 = snapshot(spark, tablePath, Some(v - 1))
        rollFiles = mutable.LinkedHashMap(s0.files.toSeq: _*)
        rollDvs = mutable.LinkedHashMap(s0.dvs.toSeq: _*)
      }
      (rollFiles.toMap, rollDvs.toMap)
    }
    def rollForward(actions: Seq[JsonNode]): Unit =
      if (rollFiles != null) actions.foreach { a =>
        if (a.has("add")) {
          val ad = a.get("add")
          val p = decodePath(ad.get("path").asText)
          rollFiles(p) = Option(ad.get("partitionValues"))
            .map(jsonPartValues).getOrElse(Map.empty)
          parseDv(ad) match {
            case Some(d) => rollDvs(p) = d
            case None => rollDvs.remove(p); ()
          }
        }
        if (a.has("remove")) {
          val p = decodePath(a.get("remove").get("path").asText)
          rollFiles.remove(p)
          rollDvs.remove(p)
          ()
        }
      }
    // the feed shape as of the last commit read, once a metaData in range
    // needed it
    var shape: Option[FeedShape] = None
    (fromVersion + 1 to toVersion).foreach { v =>
      val file = new Path(logDir, f"$v%020d.json")
      if (!fs.exists(file)) return None // cleaned up — not CDF-readable
      val in = fs.open(file)
      val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      val actions = txt.split("\n").filter(_.trim.nonEmpty)
        .map(mapper.readTree).toSeq
      // a metaData mid-range declines only when it changes how rows
      // decode or turns the feed off ([[feedShape]]); one that records
      // table state alone (minted row-id column names, an identity
      // high-water mark) reads through. The table CREATION commit at v0
      // is vacuous — no earlier data. Protocol actions never bail: they
      // don't change row decoding, and the `to`-snapshot already gated
      // unsupported features.
      actions.filter(_.has("metaData")).lastOption.foreach { a =>
        val md = parseMetaData(a.get("metaData"))
        val next = feedShape(md.schema, md.partitionColumns, md.configuration)
        if (v != 0 && next != shape.getOrElse {
              val s0 = snapshot(spark, tablePath, Some(v - 1))
              feedShape(s0.schema, s0.partitionColumns, s0.configuration)
            })
          return None
        shape = Some(next)
      }
      val cdcs = actions.filter(_.has("cdc")).map(_.get("cdc"))
      if (cdcs.nonEmpty) {
        cdcs.foreach { c =>
          put(cdcB, decodePath(c.get("path").asText),
            Option(c.get("partitionValues")).map(jsonPartValues)
              .getOrElse(Map.empty[String, Option[String]]),
            None, v, cdcFile = true, ct = "")
        }
      } else {
        def dataChange(n: JsonNode): Boolean =
          Option(n.get("dataChange")).forall(_.asBoolean)
        val adds = actions.filter(_.has("add")).map(_.get("add"))
          .filter(dataChange)
        val removes = actions.filter(_.has("remove")).map(_.get("remove"))
          .filter(dataChange)
        val rmPaths = removes.map(r => decodePath(r.get("path").asText))
          .toSet
        if (adds.exists(a =>
            rmPaths.contains(decodePath(a.get("path").asText))))
          return None // remove+re-add (DV rewrite) without cdc actions
        adds.foreach { a =>
          put(insB, decodePath(a.get("path").asText),
            Option(a.get("partitionValues")).map(jsonPartValues)
              .getOrElse(Map.empty[String, Option[String]]),
            parseDv(a), v, cdcFile = false, ct = "insert")
        }
        if (removes.nonEmpty) {
          val (pf, pd) = preState(v)
          val sub = pf.view.filterKeys(rmPaths.contains).toMap
          if (sub.size != rmPaths.size) return None // unknown removes
          sub.foreach { case (p, pv) =>
            put(delB, p, pv, pd.get(p), v, cdcFile = false, ct = "delete")
          }
        }
      }
      rollForward(actions)
    }
    // ≤3 grouped scans (plus rare per-file escapes), each stamping
    // _commit_version from the broadcast path→version map
    def grouped(b: Bucket, cdcFiles: Boolean,
        ct: Option[String]): Option[DataFrame] =
      if (b.files.isEmpty) None
      else {
        val verOf = b.ver.map { case (p, v) =>
          encodedPathKey(abs(p)) -> v
        }.toMap
        val df = readFiles(spark, tablePath,
          snapTo.copy(files = b.files.toMap, dvs = b.dvs.toMap,
            stats = Map.empty),
          b.files.toMap,
          extraCols = if (cdcFiles) Seq(ctField) else Nil,
          commitVersionOf = Some(verOf))
        Some(ct.fold(df)(c => df.withColumn("_change_type", lit(c))))
      }
    val parts = Vector(
      grouped(cdcB, cdcFiles = true, ct = None),
      grouped(insB, cdcFiles = false, ct = Some("insert")),
      grouped(delB, cdcFiles = false, ct = Some("delete"))).flatten ++
      escapes
    val outCols = snapTo.schema.fieldNames.toSeq :+ "_change_type" :+
      "_commit_version"
    if (parts.isEmpty)
      Some(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(snapTo.schema.fields :+ ctField :+
          StructField("_commit_version", LongType))))
    else Some(parts.reduce(_ unionByName _)
      .select(outCols.map(col).toIndexedSeq: _*))
  }

  /** What a table's metadata decides about how its change feed reads:
    * the schema's names, types and nullability (column-mapping physical
    * names included; other field metadata, such as an identity column's
    * high-water mark, left out), the partition columns, the
    * column-mapping mode, and whether the feed is on.
    */
  private final case class FeedShape(schema: DataType,
      partitionColumns: Seq[String], mappingMode: String, enabled: Boolean)

  private def feedShape(schema: StructType, partCols: Seq[String],
      conf: Map[String, String]): FeedShape = {
    val physKey = "delta.columnMapping.physicalName"
    def strip(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map(f => f.copy(
        dataType = strip(f.dataType),
        metadata =
          if (!f.metadata.contains(physKey))
            org.apache.spark.sql.types.Metadata.empty
          else new org.apache.spark.sql.types.MetadataBuilder()
            .putString(physKey, f.metadata.getString(physKey)).build())))
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = strip(a.elementType))
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(keyType = strip(m.keyType), valueType = strip(m.valueType))
      case other => other
    }
    FeedShape(strip(schema), partCols,
      conf.getOrElse("delta.columnMapping.mode", "none"),
      conf.get("delta.enableChangeDataFeed").exists(_.equalsIgnoreCase("true")))
  }

  /** [[changeFeedIfAvailable]], loud when the range is not readable as
    * CDF (the table-level `readChangeFeed` API).
    */
  def changeFeed(spark: SparkSession, tablePath: String,
      fromVersion: Long, toVersion: Long): DataFrame =
    changeFeedIfAvailable(spark, tablePath, fromVersion, toVersion)
      .getOrElse(throw new IllegalArgumentException(
        s"($fromVersion, $toVersion] of $tablePath is not readable as " +
          "a change data feed — enable delta.enableChangeDataFeed and " +
          "ensure the range's commits are CDF-complete"))

  private def txnAction(appId: String, v: Long, now: Long): String = {
    val idEsc = mapper.writeValueAsString(appId)
    s"""{"txn":{"appId":$idEsc,"version":$v,"lastUpdated":$now}}"""
  }

  /** A remove action for an already-committed file: `rawP` is the
    * file's VERBATIM action-path string ([[rawPath]]) — never
    * re-encoded, so foreign raw-string replayers cancel the add.
    * `deletionTimestamp` is REAL wall-clock, not the deterministic
    * `now = 1L` the other action fields use: the spec defines it as
    * the moment the file became unreferenced, and both graft's and
    * delta-spark's VACUUM measure the retention window from it — a
    * sentinel would make every tombstone look decades expired and
    * defeat the time-travel/restore safety window on either engine.
    */
  private def removeAction(rawP: String, now: Long,
      dataChange: Boolean = true): String = {
    val pEsc = mapper.writeValueAsString(rawP)
    val ts = if (now > 1000000000000L) now else System.currentTimeMillis
    s"""{"remove":{"path":$pEsc,"deletionTimestamp":$ts,""" +
      s""""dataChange":$dataChange}}"""
  }

  /** A full `metaData` action line (schema, partitioning, configuration
    * — restated verbatim so no key is ever dropped by evolution or
    * column-mapping commits).
    */
  private def metaDataAction(id: String, schema: StructType,
      partCols: Seq[String], configuration: Map[String, String],
      now: Long): String = {
    val schemaEsc = mapper.writeValueAsString(schema.json)
    val partEsc = partCols
      .map(mapper.writeValueAsString).mkString("[", ",", "]")
    val confNode = mapper.createObjectNode()
    configuration.foreach { case (k, v) => confNode.put(k, v) }
    s"""{"metaData":{"id":${mapper.writeValueAsString(id)},""" +
      s""""format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":$schemaEsc,"partitionColumns":$partEsc,""" +
      s""""configuration":$confNode,"createdTime":$now}}"""
  }

  /** The `commitInfo` action every mainstream Delta writer leads its
    * commits with — operation name + parameters, the raw material of
    * `DESCRIBE HISTORY` ([[historyDf]]). When the table enables
    * IN-COMMIT TIMESTAMPS, `ict` stamps the spec's monotonic
    * `inCommitTimestamp` field (the commitInfo action leads the commit,
    * so readers resolve it from the first line).
    */
  private def commitInfoAction(operation: String,
      params: Map[String, String], now: Long,
      ict: Option[Long] = None): String = {
    val node = mapper.createObjectNode()
    val ci = node.putObject("commitInfo")
    ci.put("timestamp", now)
    ict.foreach(ci.put("inCommitTimestamp", _))
    ci.put("operation", operation)
    val pn = ci.putObject("operationParameters")
    params.foreach { case (k, v) => pn.put(k, v) }
    ci.put("engineInfo", "graft-deltalite")
    node.toString
  }

  /** Whether the table runs on IN-COMMIT TIMESTAMPS (the
    * `inCommitTimestamp` writer feature /
    * `delta.enableInCommitTimestamps` property): the spec makes
    * `commitInfo.inCommitTimestamp` the AUTHORITATIVE monotonic clock —
    * commit-file mtimes and `commitInfo.timestamp` may deviate — so
    * time travel resolves by it and every graft commit must stamp it.
    */
  private def ictEnabled(snap: Snapshot): Boolean =
    snap.configuration.get("delta.enableInCommitTimestamps")
      .exists(_.equalsIgnoreCase("true")) ||
      snap.protocol.exists(_.writerFeatures
        .exists(_.contains("inCommitTimestamp")))

  /** A commit's authoritative clock: `commitInfo.inCommitTimestamp`
    * when stamped (ICT tables), else `commitInfo.timestamp`, else the
    * commit file's modification time — the spec's resolution order.
    * None when the commit file is gone (cleaned up).
    */
  private def commitClock(fs: FileSystem, file: Path): Option[Long] =
    if (!fs.exists(file)) None
    else {
      val in = fs.open(file)
      val txt = try new String(in.readAllBytes(), "UTF-8")
        finally in.close()
      txt.split("\n").find(_.contains("\"commitInfo\"")).flatMap { line =>
        try Option(mapper.readTree(line).get("commitInfo")).flatMap { n =>
          Option(n.get("inCommitTimestamp")).filterNot(_.isNull)
            .map(_.asLong)
            .orElse(Option(n.get("timestamp")).filterNot(_.isNull)
              .map(_.asLong))
        } catch { case _: Exception => None }
      }.orElse(Some(fs.getFileStatus(file).getModificationTime))
    }

  /** The ICT for the NEXT commit of an ICT table: strictly past the
    * current head's clock (the spec's monotonicity rule — wall clock is
    * a legal tie-breaker but the repo's writers stay deterministic, so
    * head+1). Falls back to the recorded enablement timestamp when the
    * head commit was cleaned up behind a checkpoint.
    */
  private def nextIct(fs: FileSystem, logDir: Path,
      snap: Snapshot): Long = {
    val head = commitClock(fs,
      new Path(logDir, f"${snap.version}%020d.json"))
    head.getOrElse(snap.configuration
      .get("delta.inCommitTimestampEnablementTimestamp")
      .flatMap(_.toLongOption).getOrElse(0L)) + 1
  }

  /** Minimal native Delta WRITER — append or overwrite commits in the
    * public log format, so graft pipelines can EMIT delta-compatible
    * tables (readable by any Delta reader) without the connector jar.
    * Every add action carries spec-shaped `stats` (numRecords/
    * minValues/maxValues/nullCount over stats-eligible columns) — the
    * pruning index [[upsert]] and external readers' data skipping use.
    * Unpartitioned tables, protocol (1, 2); `overwrite` emits remove
    * actions for every live file plus the new adds — the
    * snapshot-replace commit shape.
    */
  def write(spark: SparkSession, dfIn: DataFrame, tablePath: String,
      mode: String = "append", txn: Option[(String, Long)] = None,
      partitionBy: Seq[String] = Nil,
      /** table properties stamped at CREATION only (e.g.
        * `delta.enableChangeDataFeed=true` — the commit then carries
        * writer version 4, the CDF feature floor).
        */
      configuration: Map[String, String] = Map.empty): Long = {
    require(mode == "append" || mode == "overwrite",
      s"DeltaLite.write supports append|overwrite, got '$mode'")
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = new Path(root, "_delta_log")
    val existing: Option[Snapshot] =
      if (fs.exists(logDir)) Some(snapshot(spark, tablePath)) else None
    // Delta's idempotent-writer protocol: a (appId, version) txn at or
    // below the table's recorded high-water mark is a RETRY of an
    // already-committed batch — skip it (exactly-once foreachBatch)
    txn.foreach { case (appId, v) =>
      val committed = existing.flatMap(_.txns.get(appId))
      if (committed.exists(_ >= v)) return existing.get.version
    }
    existing.foreach(s0 => checkWriterProtocol(s0,
      dataChangeMutation = mode == "overwrite",
      if (mode == "overwrite") "OVERWRITE" else "APPEND"))
    // the table's recorded partitioning wins; a caller-supplied
    // partitionBy must agree (it only DEFINES the layout on create)
    val partCols: Seq[String] = existing match {
      case Some(s) =>
        require(partitionBy.isEmpty || partitionBy == s.partitionColumns,
          s"partitionBy ${partitionBy.mkString(",")} does not match the " +
            s"table's partitioning (${s.partitionColumns.mkString(",")})")
        s.partitionColumns
      case None => partitionBy
    }
    // GENERATED COLUMNS (spec `delta.generationExpression` metadata,
    // delta-spark's write contract): a batch may OMIT a generated
    // column — it is COMPUTED from its expression here, in the table's
    // column order (generated partition columns like a date derived
    // from a timestamp land on the right partition for free) — and a
    // batch that PROVIDES one has its values VALIDATED `col <=> expr`
    // in the same constraints pass below.
    // IDENTITY columns allocate FIRST (missing/null cells fill with
    // base + rowIndex*step; the commit below restates the schema with
    // the advanced high-water mark), so the generated/default fill and
    // schema checks see a complete batch
    val idFields = existing.map(s => identityColumns(s.schema))
      .getOrElse(identityColumns(dfIn.schema))
    val (df, idHwm, idRelease) =
      if (idFields.isEmpty)
        (dfIn, Map.empty[String, Long], () => ())
      else {
        val (filled, h, rel) = applyIdentity(spark, dfIn, idFields)
        // a fill appends the column — restore the TABLE's column order
        val ordered = existing match {
          case Some(s)
              if filled.columns.toSet == s.schema.fieldNames.toSet =>
            filled.select(s.schema.fieldNames.map(col).toIndexedSeq: _*)
          case _ => filled
        }
        (ordered, h, rel)
      }
    val genCols = existing.map(s => generatedColumns(s.schema))
      .getOrElse(generatedColumns(df.schema))
    // COLUMN DEFAULTS (the allowColumnDefaults writer feature) fill
    // like generated columns when OMITTED — but provided values are
    // never validated against the default (it's a fallback, not a
    // constraint)
    val fillable: Map[String, String] =
      (genCols ++ existing.map(s => defaultColumns(s.schema))
        .getOrElse(defaultColumns(df.schema)))
        .map { case (f, e) => f.name -> e }.toMap
    val df1 = existing match {
      case Some(s) if fillable.keysIterator
            .exists(n => !df.columns.contains(n))
          && df.columns.toSet.subsetOf(s.schema.fieldNames.toSet) =>
        val provided = df.columns.toSet
        val missing = s.schema.fields
          .filterNot(f => provided.contains(f.name))
        val nonFill = missing.filterNot(f => fillable.contains(f.name))
        require(nonFill.isEmpty,
          s"batch for $tablePath omits columns with neither a " +
            s"generation expression nor a default: " +
            s"${nonFill.map(_.name).mkString(", ")}")
        df.select(s.schema.fields.map { f =>
          if (provided.contains(f.name)) col(f.name)
          else org.apache.spark.sql.functions
            .expr(fillable(f.name))
            .cast(f.dataType).as(f.name)
        }.toIndexedSeq: _*)
      case _ => df
    }
    // delta-spark parity: a column default may exist from CREATION (or
    // an ALTER COLUMN SET DEFAULT), but ADDING a new column with a
    // default through schema evolution is forbidden — pre-existing
    // files would need EXISTS_DEFAULT backfill semantics
    existing.foreach { s =>
      val added = df1.schema.fields.drop(s.schema.fields.length)
      require(!added.exists(_.metadata.contains("CURRENT_DEFAULT")),
        s"cannot ADD a column with a DEFAULT to $tablePath — existing " +
          "rows would need backfill (delta-spark forbids this too); " +
          "add the column first, then backfill")
    }
    val evolving = existing.exists { s =>
      // exact match (nullability may tighten), or APPEND-ONLY schema
      // EVOLUTION: the table's columns as a prefix plus new ones after
      // (delta mergeSchema's safe add-column subset) — the commit then
      // carries an updated metaData action ("latest metaData wins" on
      // replay) and old files read the additions as null by name
      val tf = s.schema.fields
        .map(f => (f.name, normalizeNullability(f.dataType))).toSeq
      val nf = df1.schema.fields
        .map(f => (f.name, normalizeNullability(f.dataType))).toSeq
      require(nf.take(tf.length) == tf,
        s"schema mismatch writing to $tablePath (append-only evolution " +
          s"adds columns AFTER the existing ones):\n table: " +
          s"${s.schema.json}\n data:  ${df1.schema.json}")
      nf.length > tf.length
    }
    // column-mapped tables (name or id mode): stage under the PHYSICAL
    // field names + field ids; partitionValues key by physical name.
    // Mapped EVOLUTION assigns fresh columnMapping ids to the added
    // columns with `col-<uuid>` physical names (the delta-spark
    // convention — a brand-new column has no files to resolve) and
    // restates maxColumnId.
    val mapped = existing.exists(_.columnMappingMode != "none")
    val (tableSchema0, evolvedConf): (StructType, Map[String, String]) =
      existing match {
        case Some(s) if mapped && evolving =>
          val prevMax = s.configuration
            .get("delta.columnMapping.maxColumnId").map(_.toLong)
            .getOrElse(maxMappingId(s.schema))
          val added = df1.schema.fields.drop(s.schema.fields.length)
          val (stamped0, maxId0) = assignMapping(StructType(added), prevMax,
            _ => "col-" + java.util.UUID.randomUUID.toString)
          // a UniForm table's new array/map columns need their member
          // ids in the SAME commit (this batch's files must carry them)
          val (stamped, maxId) =
            if (uniformEnabled(s)) assignNestedIds(stamped0, maxId0)
            else (stamped0, maxId0)
          (StructType(s.schema.fields ++ stamped.fields),
            s.configuration +
              ("delta.columnMapping.maxColumnId" -> maxId.toString))
        case Some(s) if mapped => (s.schema, s.configuration)
        case Some(s) =>
          // keep the TABLE's fields verbatim (their metadata carries
          // invariants / generation expressions an evolving commit
          // must not drop); only genuinely new columns come from df
          (StructType(s.schema.fields ++
            df1.schema.fields.drop(s.schema.fields.length)),
            s.configuration)
        case None => (df1.schema, configuration)
      }
    // identity allocation advances the high-water mark — the commit's
    // metaData restates the schema with the new value
    val tableSchema = withIdentityHwm(tableSchema0, idHwm)
    // table properties stamp at CREATION; re-stating values the table
    // already carries is an idempotent no-op (config-driven sinks pass
    // the same options every run), a DIFFERENT value refuses
    require(configuration.isEmpty || existing.isEmpty ||
      configuration.forall { case (k, v) =>
        existing.exists(_.configuration.get(k).contains(v))
      },
      "table properties are stamped at creation — alter the existing " +
        s"table's configuration through its own commit, not a write to " +
        tablePath)
    // CHECK constraints / column invariants / provided-generated-column
    // validations gate the NEW rows before any staging I/O
    // (delta-spark's write-side enforcement contract). Invariants and
    // generation expressions live in the TABLE's schema metadata
    // (df.schema never carries them), so look them up there.
    enforceConstraints(evolvedConf,
      existing.map(_.schema).getOrElse(tableSchema), df1, tablePath,
      extra = generatedChecks(
        existing.map(_.schema).getOrElse(tableSchema), df.columns.toSeq))
    val (stagedDf, stagePartCols) =
      physicalFrame(df1, tableSchema, partCols, mapped)
    val staged = stage(spark, stagedDf, root, fs, stagePartCols)
    // staging consumed the identity-filled rows — the pinned batch can go
    idRelease()
    val now = 1L // deterministic timestamps (repo convention)
    // in-commit timestamps: stamped past the head's clock on ICT
    // tables; a CREATION that enables the property starts the clock
    val ictStamp: Option[Long] = existing match {
      case Some(s0) if ictEnabled(s0) =>
        Some(nextIct(fs, logDir, s0))
      case None if configuration.get("delta.enableInCommitTimestamps")
          .exists(_.equalsIgnoreCase("true")) => Some(1L)
      case _ => None
    }
    val lines = mutable.ArrayBuffer.empty[String]
    lines += commitInfoAction("WRITE",
      Map("mode" -> (if (mode == "append") "Append" else "Overwrite")),
      now, ictStamp)
    if (existing.isEmpty || evolving || idHwm.nonEmpty) {
      val ntz = containsNtz(tableSchema)
      if (existing.isEmpty) {
        // legacy protocol floors: identity columns need writer
        // version 6, CDF and generated columns 4, CHECK constraints 3
        val minWriter =
          if (idFields.nonEmpty) 6
          else if (configuration.get("delta.enableChangeDataFeed")
              .exists(_.equalsIgnoreCase("true")) ||
            genCols.nonEmpty) 4
          else if (configuration.keys
              .exists(_.startsWith("delta.constraints."))) 3
          else 2
        val hasDefaults = defaultColumns(tableSchema).nonEmpty
        val rtCreate = configuration.get("delta.enableRowTracking")
          .exists(_.equalsIgnoreCase("true"))
        if (ictStamp.isDefined || ntz || hasDefaults || rtCreate) {
          // table FEATURES (writer version 7) — the features list is
          // EXHAUSTIVE, so it restates everything the legacy floor
          // implied. TIMESTAMP_NTZ columns additionally gate the
          // READER side (the spec's timestampNtz reader feature,
          // reader version 3) — without it foreign readers must
          // reject the schema. CURRENT_DEFAULT metadata requires the
          // allowColumnDefaults writer feature (no legacy floor
          // exists for it).
          val wf = (impliedWriterFeatures(minWriter) ++
            (if (ictStamp.isDefined) Seq("inCommitTimestamp") else Nil) ++
            (if (ntz) Seq("timestampNtz") else Nil) ++
            (if (hasDefaults) Seq("allowColumnDefaults") else Nil) ++
            (if (rtCreate) Seq("rowTracking", "domainMetadata") else Nil))
            .distinct
          val readerPart =
            if (ntz) s""""minReaderVersion":3,""" +
              s""""readerFeatures":${featuresJson(Seq("timestampNtz"))},"""
            else s""""minReaderVersion":1,"""
          lines += ("""{"protocol":{""" + readerPart +
            s""""minWriterVersion":7,""" +
            s""""writerFeatures":${featuresJson(wf)}}}""")
        } else
          lines += (s"""{"protocol":{"minReaderVersion":1,""" +
            s""""minWriterVersion":$minWriter}}""")
      } else if (ntz && !snapSupportsNtz(existing.get)) {
        // evolution ADDED a TIMESTAMP_NTZ column to a table whose
        // protocol predates the feature: upgrade in the same commit,
        // restating every implied feature (features lists are
        // exhaustive)
        val p = existing.get.protocol.getOrElse(CpProto(1, 2, None, None))
        val rf = (p.readerFeatures.getOrElse(
          impliedReaderFeatures(p.minReaderVersion)) :+ "timestampNtz")
          .distinct
        val wf = (p.writerFeatures.getOrElse(
          impliedWriterFeatures(p.minWriterVersion)) :+ "timestampNtz")
          .distinct
        lines += (s"""{"protocol":{"minReaderVersion":3,""" +
          s""""minWriterVersion":7,"readerFeatures":${featuresJson(rf)},""" +
          s""""writerFeatures":${featuresJson(wf)}}}""")
      }
      // the table id is stable across its lifetime; an evolving commit
      // restates the EXISTING configuration verbatim (dropping keys
      // would corrupt foreign tables relying on them)
      val id = existing.map(_.tableId).filter(_.nonEmpty)
        .getOrElse(java.util.UUID.randomUUID.toString)
      lines += metaDataAction(id, tableSchema, partCols, evolvedConf, now)
    }
    txn.foreach { case (appId, v) => lines += txnAction(appId, v, now) }
    // blind appends rebase over any compatible concurrent commit;
    // overwrite replaces the version-pinned state, so intervening data
    // changes conflict. Create/evolve commits carry metaData and stay
    // single-attempt (commitWithRetry refuses their rebase on a race).
    commitFiles(spark, tablePath, fs, existing, lines.toSeq,
      removed =
        if (mode == "overwrite") existing.toSeq.flatMap(_.files.keys).toSet
        else Set.empty,
      staged,
      // ROW TRACKING: fresh files allocate base row ids past the domain's
      // high-water mark
      rowTracked = existing.map(rowTrackingActive).getOrElse(
        configuration.get("delta.enableRowTracking")
          .exists(_.equalsIgnoreCase("true"))),
      mutation = mode == "overwrite")
  }

  /** One file-pruning bound: a JSON stats value and a batch-side bound,
    * comparable only when both are the same kind (number↔number via
    * BigDecimal, text↔text lexicographically — correct for strings and
    * the ISO date rendering). Mixed/missing kinds compare as unknown →
    * the file stays a candidate (conservative).
    */
  private def cmpBounds(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) =>
      Some(x.compareTo(y))
    case (x: String, y: String) => Some(x.compareTo(y))
    case _ => None
  }

  /** A predicate/batch literal in the bound space [[cmpBounds]]
    * compares in (java.time values arrive from Column literals;
    * java.sql ones from collected rows).
    */
  private def litBound(v: Any): Option[Any] = v match {
    case d: java.time.LocalDate => Some(d.toString)
    case _ => toBound(v)
  }

  /** A recorded partition-value STRING, parsed into the same space. */
  private def partBound(dt: DataType, s: String): Option[Any] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | _: DecimalType =>
        try Some(new java.math.BigDecimal(s))
        catch { case _: NumberFormatException => None }
      case StringType => Some(s)
      case DateType => Some(s) // ISO yyyy-MM-dd: lexicographic = chrono
      case _ => None
    }
  }

  private def toBound(v: Any): Option[Any] = v match {
    case null => None
    case b: Byte => Some(java.math.BigDecimal.valueOf(b.toLong))
    case s: Short => Some(java.math.BigDecimal.valueOf(s.toLong))
    case i: Int => Some(java.math.BigDecimal.valueOf(i.toLong))
    case l: Long => Some(java.math.BigDecimal.valueOf(l))
    // shortest-decimal rendering (valueOf / toString), matching how the
    // file stats JSON was written — the exact binary expansion of e.g.
    // 0.1 exceeds the recorded "0.1" and would wrongly prune the file
    case f: Float if !f.isNaN && !f.isInfinite =>
      Some(new java.math.BigDecimal(f.toString))
    case d: Double if !d.isNaN && !d.isInfinite =>
      Some(java.math.BigDecimal.valueOf(d))
    case d: java.math.BigDecimal => Some(d)
    case s: String => Some(s)
    case d: java.sql.Date => Some(d.toString)
    case _ => None
  }

  /** The live files that COULD hold one of the batch's keys, by
    * key-range intersection against each file's stats: a file whose
    * [min,max] on some key column is disjoint from the batch's
    * [min,max] on that column cannot contain any batch key (batch keys
    * are non-null; file min/max cover non-null values). Files without
    * stats — or with un-comparable bounds — always stay candidates.
    * Exposed package-private for direct pruning tests.
    */
  private[graft] def pruneCandidates(snap: Snapshot,
      batchRanges: Map[String, (Any, Any)])
      : Map[String, Map[String, Option[String]]] = {
    val partFieldsByName = snap.partitionColumns.flatMap(c =>
      snap.schema.fields.find(_.name == c).map(c -> _)).toMap
    // mapped tables record stats under PHYSICAL column names
    val physByName = snap.schema.fields
      .map(f => f.name -> physicalName(f)).toMap
    snap.files.filter { case (p, pv) =>
      // a partition KEY column prunes on the file's single recorded
      // value: outside the batch's [min,max] (or NULL — batch keys are
      // non-null) means no batch key can live in this file
      val partDisjoint = batchRanges.exists { case (c, (bMin, bMax)) =>
        partFieldsByName.get(c).exists { f =>
          pv.get(physicalName(f)).orElse(pv.get(c)).flatten match {
            case None => true
            case Some(s) =>
              (for {
                a <- partBound(f.dataType, s)
                lo <- cmpBounds(a, bMin)
                hi <- cmpBounds(a, bMax)
              } yield lo < 0 || hi > 0).getOrElse(false)
          }
        }
      }
      !partDisjoint && (snap.stats.get(p) match {
        case None => true
        case Some(js) =>
          val node =
            try mapper.readTree(js)
            catch { case _: Exception => null }
          if (node == null) true
          else {
            def bound(section: String, c: String): Option[Any] =
              Option(node.get(section)).flatMap(s => Option(s.get(c)))
                .flatMap { v =>
                  if (v.isNumber) Some(v.decimalValue())
                  else if (v.isTextual) Some(v.asText)
                  else None
                }
            val provablyDisjoint = batchRanges.exists {
              case (c, (bMin, bMax)) =>
                val pc = physByName.getOrElse(c, c)
                (for {
                  fMin <- bound("minValues", pc)
                  fMax <- bound("maxValues", pc)
                  below <- cmpBounds(fMax, bMin)
                  above <- cmpBounds(fMin, bMax)
                } yield below < 0 || above > 0).getOrElse(false)
            }
            !provablyDisjoint
          }
      })
    }
  }

  /** What an upsert needs to know of its touched-key set (batch keys
    * plus delete keys) before it opens the table: the row count, the
    * null key cells, and `ranges`, the [min,max] pruning bound of each
    * stats-eligible key column that holds a non-null value.
    */
  final case class KeyStats(rows: Long, nullKeyCells: Long,
      ranges: Map[String, (Any, Any)])

  object KeyStats {
    private def eligible(schema: StructType, keyCols: Seq[String]) =
      schema.fields.filter(f => keyCols.contains(f.name) && statsEligible(f))
        .toSeq

    /** The aggregate columns [[KeyStats]] reads back through [[of]], for
      * any frame (or observation) over rows carrying `keyCols`. */
    def columns(schema: StructType, keyCols: Seq[String])
        : Seq[org.apache.spark.sql.Column] = {
      import org.apache.spark.sql.functions.{count, max, min, sum}
      Seq(count(lit(1)).as("__n"),
        sum(keyCols.map(c => col(c).isNull.cast("long")).reduce(_ + _))
          .as("__nulls")) ++
        eligible(schema, keyCols).flatMap(f => Seq(
          min(col(f.name)).as(s"__min__${f.name}"),
          max(col(f.name)).as(s"__max__${f.name}")))
    }

    /** Read [[columns]]' values back; `value` looks one up by name. */
    def of(value: String => Any, schema: StructType,
        keyCols: Seq[String]): KeyStats = {
      val rows = value("__n").asInstanceOf[Long]
      KeyStats(rows,
        // sum over no rows is null
        if (rows == 0) 0L else value("__nulls").asInstanceOf[Long],
        eligible(schema, keyCols).flatMap { f =>
          for {
            lo <- toBound(value(s"__min__${f.name}"))
            hi <- toBound(value(s"__max__${f.name}"))
          } yield f.name -> (lo, hi)
        }.toMap)
    }
  }

  /** Keyed UPSERT (MERGE) into a native Delta table at O(touched
    * files): each batch row replaces the live row with the same key, or
    * inserts if the key is absent — the reference's ReplacingMergeTree
    * sink contract expressed as Delta's copy-on-write MERGE commit
    * (remove touched files + add their rewrites, one atomic version).
    *
    * The scale path is two-stage file restriction:
    *  1. PRUNE by the per-file stats index the writer maintains —
    *     candidate files must key-range-intersect the batch
    *     ([[pruneCandidates]]); a key-clustered layout (range/z-order
    *     writes) makes this O(churned range), not O(table).
    *  2. RESOLVE the actually-touched set with one semi-join of the
    *     candidate rows against the batch keys (reads candidates only).
    *     A SMALL merge skips this probe: when pruning leaves exactly
    *     one file and its recorded `size` plus the batch rows times the
    *     schema's default row width fit
    *     `spark.sql.adaptive.advisoryPartitionSizeInBytes`, that file
    *     counts as touched and an unpartitioned table rewrites into one
    *     file: the rewrite reaches [[stage]] as a `coalesce(1)`, which
    *     [[rebalanceForStaging]] leaves alone, so no rebalance shuffle
    *     runs — if the file holds none of the keys, its rows are re-added
    *     unchanged in the same commit. Several candidates always probe:
    *     most of them may be untouched.
    * Untouched files are never read twice nor rewritten; rewrite volume
    * is (touched rows − replaced rows) + batch. Live deletion vectors
    * are honored: scans read through the row_index anti-filter, a
    * touched DV'd file rewrites ABSORBING its bitmap (the fresh add
    * carries no descriptor), untouched DV'd files keep theirs — MERGE
    * after `deleteWhere` needs no intervening compact. Batch keys must be
    * distinct and non-null — replace-by-key needs one image per key,
    * and violating that raises loudly rather than last-wins silently.
    *
    * `deleteKeys` (key columns only) removes those keys from the table
    * in the same atomic commit — MERGE's WHEN MATCHED DELETE branch; a
    * delete key absent from the table is a no-op, one present in
    * `batch` too is a contract error (the collapse step upstream must
    * decide). Empty batch + empty deletes is a no-op (no commit).
    * A missing table is created by the first non-empty upsert, with
    * `configuration` stamped as its table properties (as [[write]]
    * does). Returns the table version.
    *
    * `collapsedKeyStats`: the [[KeyStats]] of `batch` ∪ `deleteKeys`,
    * given by a caller that built both from one collapsed, materialized
    * frame (one row per key — [[graft.sinks.Sinks.upsertBatch]] observes
    * them during its collapse). The upsert then runs no aggregation of
    * its own and skips the distinct-key check the collapse guarantees;
    * the null-key and empty-batch checks still hold.
    */
  def upsert(spark: SparkSession, batch: DataFrame, tablePath: String,
      keyCols: Seq[String], txn: Option[(String, Long)] = None,
      deleteKeys: Option[DataFrame] = None,
      configuration: Map[String, String] = Map.empty,
      collapsedKeyStats: Option[KeyStats] = None): Long = {
    import org.apache.spark.sql.functions.{broadcast, col, countDistinct,
      struct}
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    keyCols.foreach(k => require(batch.columns.contains(k),
      s"key column '$k' missing from the batch (${batch.columns.mkString(", ")})"))
    deleteKeys.foreach(d => keyCols.foreach(k =>
      require(d.columns.contains(k),
        s"key column '$k' missing from deleteKeys (${d.columns.mkString(", ")})")))
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = new Path(root, "_delta_log")

    // the keys this commit touches: batch keys to replace/insert plus
    // delete keys to remove — pruning and touch detection use the union
    val delKeysDf = deleteKeys.map(_.select(keyCols.map(col): _*))
    val keysDf = delKeysDf
      .map(batch.select(keyCols.map(col): _*).unionByName(_))
      .getOrElse(batch.select(keyCols.map(col): _*))
    // the key set feeds the stats aggregation, the touched-file probe,
    // the rewrite's anti-join and CDF classification: persist the
    // keys-only projection so an arbitrary batch lineage (often a table
    // read itself) evaluates once. Collapsed input is materialized
    // already and needs neither the persist nor the aggregation.
    val ownStats = collapsedKeyStats.isEmpty
    val allKeysDf =
      if (ownStats)
        keysDf.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else keysDf
    def release(): Unit = if (ownStats) { allKeysDf.unpersist(); () }

    val (stats, distinctKeys) = collapsedKeyStats match {
      case Some(s) => (s, s.rows)
      case None =>
        // one pass over the touched-key set: sizes, key distinctness,
        // null keys, and the per-column key ranges the pruning step
        // needs. A key in both batch and deletes double-counts in __n vs
        // __nd and trips the distinctness require — exactly the contract
        // error it is.
        val aggs = KeyStats.columns(batch.schema, keyCols) :+
          countDistinct(struct(keyCols.map(col): _*)).as("__nd")
        val r = allKeysDf.agg(aggs.head, aggs.tail: _*).collect()(0)
        (KeyStats.of(r.getAs[Any], batch.schema, keyCols),
          r.getAs[Long]("__nd"))
    }
    val n = stats.rows
    if (n == 0) {
      // no-op batch: no commit; version stays (or the table may not
      // exist yet — creating an empty table from nothing is surprising)
      release()
      return if (fs.exists(logDir)) snapshot(spark, tablePath).version
      else throw new IllegalArgumentException(
        s"upsert of an empty batch cannot create table $tablePath")
    }
    require(stats.nullKeyCells == 0,
      s"upsert batch carries ${stats.nullKeyCells} null key cells " +
        s"(keys ${keyCols.mkString(", ")}) — replace-by-key needs non-null keys")
    require(distinctKeys == n,
      s"upsert keys must be distinct across batch and deletes: $n key " +
        s"rows but only $distinctKeys distinct keys — collapse " +
        "the batch (e.g. ChangeModel.latestRows) before upserting")

    if (!fs.exists(logDir)) {
      release()
      return write(spark, batch, tablePath, "append", txn,
        configuration = configuration)
    }
    val snap = snapshot(spark, tablePath)
    checkWriterProtocol(snap, dataChangeMutation = true, "MERGE")
    // MERGE-TIME IDENTITY ALLOCATION: a null identity cell INHERITS
    // the matched row's id (an update never reassigns identity) and
    // ALLOCATES past the high-water mark for a brand-new key; the
    // commit's metaData restates the advanced mark. GENERATED ALWAYS
    // columns refuse explicit batch values (pass null), so an id can
    // never be forged or duplicated through MERGE.
    val idFieldsM = identityColumns(snap.schema)
    // ROW TRACKING through MERGE: retained rows of the rewritten files
    // keep their exact (id, commit version) MATERIALIZED into the new
    // files; replaced keys INHERIT the old row's stable id (an update
    // preserves identity, its commit version defaults to this commit);
    // brand-new keys resolve from the add's fresh coordinate range.
    val rowIds = rowIdCols(snap)
    val rowTracked = rowIds.nonEmpty
    txn.foreach { case (appId, v) =>
      if (snap.txns.get(appId).exists(_ >= v)) {
        release(); return snap.version
      }
    }
    require(normalizeNullability(snap.schema) == normalizeNullability(batch.schema),
      s"schema mismatch upserting to $tablePath:\n table: ${snap.schema.json}" +
        s"\n data:  ${batch.schema.json}")
    // CHECK constraints / invariants / generated-column validations
    // gate the batch's NEW row images (retained rewritten rows already
    // passed at their own write)
    enforceConstraints(snap.configuration, snap.schema, batch, tablePath,
      extra = generatedChecks(snap.schema, batch.columns.toSeq))

    val candidates = pruneCandidates(snap, stats.ranges)

    def abs(p: String): String =
      if (p.contains("://") || p.startsWith("/")) p
      else new Path(tablePath, p).toString
    val relByPath: Map[String, String] = candidates.keys
      .map(p => encodedPathKey(abs(p)) -> p).toMap

    // live deletion vectors: MERGE reads THROUGH the anti-filter (the
    // same scan-local row_index mechanism as reads), so a touched DV'd
    // file rewrites ABSORBING its DV — the rewrite's add carries no
    // descriptor, dropping the bitmap in the same atomic commit;
    // untouched DV'd files keep their DVs untouched. No resurrection,
    // no pre-compact required. Column-mapped tables scan physical and
    // rename back; past the partition union cap the scan is ONE parquet
    // load + a broadcast partition-values join (constant plan size).
    def groupScan(
        files: Map[String, Map[String, Option[String]]],
        withIds: Boolean = false): DataFrame =
      scanFilesWithMeta(spark, tablePath, snap, files, withPos = false,
        rowIds = withIds)

    // a key set that fits Spark's broadcast threshold joins as a
    // broadcast into the touched-file probe and the rewrite's anti-join:
    // no shuffle of the candidate rows, and no plan that needs the key
    // set persisted to stay cheap. Larger key sets plan as Spark sees fit.
    val keyBytes = keyCols.map(k => batch.schema(k).dataType.defaultSize).sum
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    val joinKeys =
      if (threshold >= 0 && n * keyBytes <= threshold) broadcast(allKeysDf)
      else allKeysDf

    // SMALL MERGE (see the scaladoc): the probe below would only confirm
    // the one candidate that a one-file rewrite reads anyway
    val rowBytes = snap.schema.fields.map(_.dataType.defaultSize.toLong).sum
    val small = candidates.size == 1 &&
      snap.sizes.get(candidates.keys.head).exists(_ + n * rowBytes <=
        spark.sessionState.conf.getConf(
          org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))

    // each task reports the set of files its rows came from (no
    // shuffle for a distinct), unioned once collected
    val touched: Set[String] =
      if (small) candidates.keySet
      else if (candidates.isEmpty) Set.empty
      else groupScan(candidates)
        .join(joinKeys, keyCols, "left_semi")
        .select("__file").as(org.apache.spark.sql.Encoders.STRING)
        .mapPartitions(files => files.toSet.iterator)(
          org.apache.spark.sql.Encoders.STRING)
        .collect().toSet
        .map { (file: String) =>
          val norm = IcebergLite.normalizePathStr(file)
          relByPath.getOrElse(norm, throw new IllegalStateException(
            s"semi-join returned unmapped file $file"))
        }

    // rewrite = retained rows of the touched files (neither replaced
    // nor deleted) + the whole batch (rows with brand-new keys land in
    // the same new files)
    val dataColsSel = snap.schema.fieldNames.map(col).toIndexedSeq
    val idColsSel = Seq(col("_row_id"), col("_row_commit_version"))
    val touchedRowsOpt: Option[DataFrame] =
      if (touched.isEmpty) None
      else Some(groupScan(
        snap.files.filter(kv => touched.contains(kv._1)),
        withIds = rowTracked).drop("__file"))
    // IDENTITY through MERGE: null cells inherit the matched row's id,
    // brand-new keys allocate past the mark ([[applyIdentity]] on the
    // inherit-joined batch — one persisted evaluation)
    val (batchF, idHwm, idRelease) =
      if (idFieldsM.isEmpty)
        (batch.select(dataColsSel: _*), Map.empty[String, Long],
          () => ())
      else {
        val b0 = batch.select(dataColsSel: _*)
        idFieldsM.foreach { f =>
          val (_, _, _, allow) = identityInfo(f)
          if (!allow)
            require(b0.filter(col(f.name).isNotNull).isEmpty,
              s"identity column ${f.name} is GENERATED ALWAYS " +
                "(allowExplicitInsert=false) — pass null: matched " +
                "keys inherit their id, new keys allocate")
        }
        val inherited = touchedRowsOpt match {
          case Some(tr) =>
            import org.apache.spark.sql.functions.min
            val aggs = idFieldsM.map(f =>
              min(col(f.name)).as(s"__old_${f.name}"))
            val oldIds = tr.groupBy(keyCols.map(col): _*)
              .agg(aggs.head, aggs.tail: _*)
            idFieldsM.foldLeft(b0.join(oldIds, keyCols, "left")) {
              (d, f) => d.withColumn(f.name,
                coalesce(col(f.name), col(s"__old_${f.name}")))
            }.select(dataColsSel: _*)
          case None => b0
        }
        applyIdentity(spark, inherited, idFieldsM,
          skipExplicitCheck = true)
      }
    val out =
      if (!rowTracked) {
        touchedRowsOpt match {
          case None => batchF
          case Some(touchedRows) =>
            touchedRows
              .join(joinKeys, keyCols, "left_anti")
              .unionByName(batchF)
              .select(dataColsSel: _*)
        }
      } else {
        // row-tracked rewrite rides explicit identity columns: retained
        // rows keep (id, ver) verbatim; replaced keys inherit the old
        // id with a NULL version (defaults to this commit — an update
        // bumps the version, never the id); fresh keys carry NULL id
        // (defaults to the add's fresh coordinate range)
        touchedRowsOpt match {
          case None =>
            batchF
              .withColumn("_row_id", lit(null).cast("long"))
              .withColumn("_row_commit_version", lit(null).cast("long"))
          case Some(touchedRows) =>
            val retained = touchedRows
              .join(joinKeys, keyCols, "left_anti")
              .select(dataColsSel ++ idColsSel: _*)
            // deterministic inherit under (foreign) duplicate keys
            val oldIds = touchedRows
              .groupBy(keyCols.map(col): _*)
              .agg(org.apache.spark.sql.functions.min(col("_row_id"))
                .as("_row_id"))
            val batchWithIds = batchF
              .join(oldIds, keyCols, "left")
              .withColumn("_row_commit_version", lit(null).cast("long"))
              .select(dataColsSel ++ idColsSel: _*)
            retained.unionByName(batchWithIds)
        }
      }
    val (outStaged, stagePartCols) = physicalFrame(out, snap.schema,
      snap.partitionColumns, snap.columnMappingMode != "none",
      rowIds.toSeq.flatMap(_.columns))
    // a small rewrite is one file by construction: coalesce, and staging
    // adds no rebalance shuffle above the explicit layout
    val staged = stage(spark,
      if (small && stagePartCols.isEmpty && optimizedWrite(spark))
        outStaged.coalesce(1)
      else outStaged,
      root, fs, stagePartCols, rowIds.toSeq.flatMap(_.names))
    val now = 1L
    // one metaData restatement covers both metadata advances this
    // commit can make: minted materialized-row-id column names and/or
    // the identity columns' new high-water marks
    val head = (commitInfoAction("MERGE",
      Map("matchedPredicates" -> keyCols.mkString(",")), now,
      if (ictEnabled(snap)) Some(nextIct(fs, logDir, snap)) else None) +:
      rewriteMetaData(snap, rowIds, idHwm, now).toSeq) ++
      txn.map { case (appId, v) => txnAction(appId, v, now) }
    // CHANGE DATA FEED: exact per-row MERGE effects as `cdc` files —
    // update_preimage/update_postimage for replaced keys, insert for
    // brand-new keys, delete for deleteKeys matches. Key-level
    // classification is one more semi/anti join over the touched
    // files' rows (CDF materializes changes by definition).
    val cdc = if (!cdfEnabled(snap)) Nil else {
      val dataCols = snap.schema.fieldNames.map(col).toIndexedSeq
      // identity-filled batch — cdc images carry the ids actually written
      val batchSel = batchF.select(dataCols: _*)
      val oldImages =
        if (touched.isEmpty) None
        else Some(groupScan(snap.files.filter(kv =>
          touched.contains(kv._1))).drop("__file"))
      val oldKeys = oldImages.map(_.select(keyCols.map(col): _*)
        .distinct())
      val pre = oldImages.map(_.join(
          batch.select(keyCols.map(col): _*), keyCols, "left_semi")
        .withColumn("_change_type", lit("update_preimage")))
      val dels = for { oi <- oldImages; dk <- delKeysDf } yield
        oi.join(dk, keyCols, "left_semi")
          .withColumn("_change_type", lit("delete"))
      val post = oldKeys.map(ok => batchSel
        .join(ok, keyCols, "left_semi")
        .withColumn("_change_type", lit("update_postimage")))
      val ins = (oldKeys match {
        case Some(ok) => batchSel.join(ok, keyCols, "left_anti")
        case None => batchSel
      }).withColumn("_change_type", lit("insert"))
      cdcLines(spark, root, fs, snap,
        (pre.toSeq ++ dels.toSeq ++ post.toSeq :+ ins).reduce(_ unionByName _),
        now)
    }
    val committed = commitFiles(spark, tablePath, fs, Some(snap), head,
      touched, staged, rowTracked, cdc)
    idRelease()
    release()
    committed
  }

  /** Upgrade an unmapped table to column mapping `name` mode — the
    * delta-spark `ALTER TABLE … SET TBLPROPERTIES` upgrade: every field
    * (nested included) gets a fresh columnMapping id and a physicalName
    * equal to its CURRENT name (so existing data files keep resolving),
    * the configuration records the mode and maxColumnId, and the
    * protocol rises to (2,5) — or gains the `columnMapping` feature on
    * an already-features-based table. Metadata-only: no file rewrites.
    * This is what unlocks metadata-only RENAME/DROP ([[renameColumn]],
    * [[dropColumn]]) and appends into foreign name-mapped tables.
    */
  def enableColumnMapping(spark: SparkSession, tablePath: String): Long = {
    val snap = snapshot(spark, tablePath)
    require(snap.columnMappingMode == "none",
      s"$tablePath already uses column mapping ('${snap.columnMappingMode}')")
    val (mappedSchema, maxId) = assignMapping(snap.schema)
    val conf1 = snap.configuration +
      ("delta.columnMapping.mode" -> "name") +
      ("delta.columnMapping.maxColumnId" -> maxId.toString)
    val now = 1L
    val lines = mutable.ArrayBuffer.empty[String]
    lines += commitInfoAction("SET TBLPROPERTIES",
      Map("delta.columnMapping.mode" -> "name"), now,
      if (ictEnabled(snap)) Some(nextIct(
        new Path(tablePath, "_delta_log").getFileSystem(
          spark.sparkContext.hadoopConfiguration),
        new Path(tablePath, "_delta_log"), snap)) else None)
    val p = snap.protocol.getOrElse(CpProto(1, 2, None, None))
    def featJson(fs: Seq[String]): String =
      fs.map(mapper.writeValueAsString).mkString("[", ",", "]")
    if (p.minReaderVersion >= 3 || p.readerFeatures.nonEmpty ||
        p.writerFeatures.nonEmpty) {
      val rf = (p.readerFeatures.getOrElse(Nil) :+ "columnMapping").distinct
      val wf = (p.writerFeatures.getOrElse(Nil) :+ "columnMapping").distinct
      lines += (s"""{"protocol":{"minReaderVersion":3,""" +
        s""""minWriterVersion":7,"readerFeatures":${featJson(rf)},""" +
        s""""writerFeatures":${featJson(wf)}}}""")
    } else if (p.minReaderVersion < 2 || p.minWriterVersion < 5) {
      lines += (s"""{"protocol":{"minReaderVersion":2,""" +
        s""""minWriterVersion":${math.max(5, p.minWriterVersion)}}}""")
    }
    lines += metaDataAction(
      if (snap.tableId.isEmpty) java.util.UUID.randomUUID.toString
      else snap.tableId,
      mappedSchema, snap.partitionColumns, conf1, now)
    val version = snap.version + 1
    claimCommit(fs = new Path(tablePath, "_delta_log")
      .getFileSystem(spark.sparkContext.hadoopConfiguration),
      logDir = new Path(tablePath, "_delta_log"),
      version = version, lines = lines.toSeq, tablePath = tablePath)
    version
  }

  /** `ALTER TABLE … SET TBLPROPERTIES`, native: a metadata-only commit
    * restating the FULL configuration plus `props`, upgrading the
    * protocol when a property demands a feature floor the table lacks:
    *
    *  - `delta.constraints.<name>` (ADD CONSTRAINT): the table's
    *    EXISTING rows are validated against the new expression first —
    *    delta-spark's contract — and the commit refuses naming the
    *    constraint if any row violates; the protocol gains
    *    `checkConstraints` (writer floor 3);
    *  - `delta.enableChangeDataFeed=true`: writer floor 4 /
    *    `changeDataFeed` — mutations AFTER this commit write exact cdc
    *    files;
    *  - `delta.enableInCommitTimestamps=true`: writer features form
    *    with `inCommitTimestamp`, and the spec's
    *    `delta.inCommitTimestampEnablement{Version,Timestamp}` pair is
    *    stamped so mixed-clock time travel stays well-defined (commits
    *    before the enablement version resolve by their legacy clocks);
    *  - `delta.enableIcebergCompatV2=true` (UniForm): the protocol
    *    gains the `icebergCompatV2` writer feature — requires column
    *    mapping already on and a DV-free table (delta-spark's
    *    enablement preconditions); mutations thereafter run
    *    copy-on-write ([[deleteCopyOnWrite]], [[upsert]]);
    *  - anything else (`delta.appendOnly`, user properties) restates
    *    verbatim.
    *
    * Column-mapping mode changes refuse — [[enableColumnMapping]] owns
    * that upgrade (it must stamp physical names / field ids). Returns
    * the new version.
    */
  def setTableProperties(spark: SparkSession, tablePath: String,
      props: Map[String, String]): Long = {
    require(props.nonEmpty, "setTableProperties needs at least one property")
    val snap = snapshot(spark, tablePath)
    checkWriterProtocol(snap, dataChangeMutation = false,
      "SET TBLPROPERTIES")
    require(!props.keys.exists(_.startsWith("delta.columnMapping")),
      "column mapping changes go through enableColumnMapping, not raw " +
        "table properties (the upgrade must stamp physical names)")
    // ADD CONSTRAINT validates the EXISTING rows first (delta-spark's
    // ALTER TABLE ADD CONSTRAINT scan) — one early-exit pass
    val newConstraints = props.filter(_._1.startsWith("delta.constraints."))
    if (newConstraints.nonEmpty)
      // only the NEW expressions scan (existing constraints already
      // held when their rows were written)
      enforceConstraints(newConstraints, StructType(Nil),
        read(spark, tablePath), tablePath)
    val now = 1L
    val fs = new Path(tablePath, "_delta_log")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = new Path(tablePath, "_delta_log")
    val p = snap.protocol.getOrElse(CpProto(1, 2, None, None))
    val ictNewlyOn = !ictEnabled(snap) &&
      props.get("delta.enableInCommitTimestamps")
        .exists(_.equalsIgnoreCase("true"))
    val version = snap.version + 1
    val ict: Option[Long] =
      if (ictEnabled(snap)) Some(nextIct(fs, logDir, snap))
      else if (ictNewlyOn)
        // first tick of the table's clock: past the head commit's
        // legacy clock, so the timeline never runs backwards at the
        // enablement boundary
        Some(nextIct(fs, logDir, snap))
      else None
    val conf2 = snap.configuration ++ props ++
      (if (ictNewlyOn) Map(
        "delta.inCommitTimestampEnablementVersion" -> version.toString,
        "delta.inCommitTimestampEnablementTimestamp" -> ict.get.toString)
      else Map.empty)
    val curFeats = p.writerFeatures
      .getOrElse(impliedWriterFeatures(p.minWriterVersion)).toSet
    // UniForm enablement (delta-spark's ALTER path): requires column
    // mapping to already be on (the compat contract — parquet field
    // ids come from the mapped staging) and a DV-free table (compat
    // forbids them; delta-spark demands a REORG PURGE first)
    val uniformRequested = props.get("delta.enableIcebergCompatV2")
      .exists(_.equalsIgnoreCase("true"))
    val uniformNewlyOn = uniformRequested && !uniformEnabled(snap)
    if (uniformNewlyOn) {
      require(snap.columnMappingMode != "none",
        "icebergCompatV2 requires column mapping — run " +
          "enableColumnMapping first")
      require(snap.dvs.isEmpty,
        "icebergCompatV2 forbids deletion vectors — purge them first " +
          "(compact applies and drops DVs)")
    }
    // icebergCompatV2 NESTED field ids for array/map columns: allocate
    // past maxColumnId at enablement ([[assignNestedIds]]); re-setting
    // the property on an already-enabled table BACK-FILLS members that
    // were never allocated (the repair path the syncUniform refusal
    // names)
    val (schemaU, maxIdU) =
      if (uniformRequested) {
        val prevMax = snap.configuration
          .get("delta.columnMapping.maxColumnId").map(_.toLong)
          .getOrElse(maxMappingId(snap.schema))
        val (s2, m2) = assignNestedIds(snap.schema, prevMax)
        (s2, if (m2 != prevMax) Some(m2) else None)
      } else (snap.schema, None)
    val needed =
      (if (newConstraints.nonEmpty) Seq("checkConstraints") else Nil) ++
      (if (props.get("delta.enableChangeDataFeed")
          .exists(_.equalsIgnoreCase("true"))) Seq("changeDataFeed")
       else Nil) ++
      (if (ictNewlyOn) Seq("inCommitTimestamp") else Nil) ++
      (if (uniformNewlyOn) Seq("icebergCompatV2") else Nil)
    val missing = needed.filterNot(curFeats)
    val lines = mutable.ArrayBuffer.empty[String]
    lines += commitInfoAction("SET TBLPROPERTIES", props, now, ict)
    if (missing.nonEmpty) {
      if (missing.contains("inCommitTimestamp") ||
          missing.contains("icebergCompatV2") ||
          p.writerFeatures.nonEmpty || p.minReaderVersion >= 3) {
        // features form is EXHAUSTIVE: restate everything current plus
        // the new features; reader side unchanged
        val wf = (curFeats ++ missing).toSeq.sorted
        val rfPart = p.readerFeatures
          .map(rf => s""""readerFeatures":${featuresJson(rf)},""")
          .getOrElse("")
        lines += (s"""{"protocol":{"minReaderVersion":""" +
          s"""${p.minReaderVersion},$rfPart"minWriterVersion":7,""" +
          s""""writerFeatures":${featuresJson(wf)}}}""")
      } else {
        val floor = Seq(2,
          if (missing.contains("checkConstraints")) 3 else 2,
          if (missing.contains("changeDataFeed")) 4 else 2).max
        lines += (s"""{"protocol":{"minReaderVersion":""" +
          s"""${p.minReaderVersion},"minWriterVersion":""" +
          s"""${math.max(p.minWriterVersion, floor)}}}""")
      }
    }
    lines += metaDataAction(
      if (snap.tableId.isEmpty) java.util.UUID.randomUUID.toString
      else snap.tableId,
      schemaU, snap.partitionColumns,
      conf2 ++ maxIdU.map(m =>
        "delta.columnMapping.maxColumnId" -> m.toString),
      now)
    claimCommit(fs, logDir, version, lines.toSeq, tablePath)
    version
  }

  /** `ALTER TABLE … UNSET TBLPROPERTIES` / `DROP CONSTRAINT`, native:
    * a metadata-only commit restating the configuration WITHOUT `keys`
    * (missing keys are a no-op, delta-spark's IF EXISTS shape). The
    * protocol never downgrades — a dropped constraint leaves
    * `checkConstraints` in place, per the spec (features are
    * monotonic). Refuses unsetting column-mapping / ICT keys whose
    * removal would change how existing data or clocks resolve.
    */
  def unsetTableProperties(spark: SparkSession, tablePath: String,
      keys: Seq[String]): Long = {
    require(keys.nonEmpty, "unsetTableProperties needs at least one key")
    val snap = snapshot(spark, tablePath)
    checkWriterProtocol(snap, dataChangeMutation = false,
      "UNSET TBLPROPERTIES")
    require(!keys.exists(_.startsWith("delta.columnMapping")),
      "column mapping cannot be un-set — existing files resolve by its " +
        "physical names")
    require(!keys.exists(_.startsWith("delta.inCommitTimestamp")) &&
      !keys.contains("delta.enableInCommitTimestamps"),
      "in-commit timestamps cannot be un-set natively — the enablement " +
        "pair anchors mixed-clock time travel; use the delta-spark jars")
    val conf2 = snap.configuration -- keys
    val now = 1L
    val logDir = new Path(tablePath, "_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ict = if (ictEnabled(snap)) Some(nextIct(fs, logDir, snap))
      else None
    val lines = Seq(
      commitInfoAction("UNSET TBLPROPERTIES",
        Map("keys" -> keys.mkString(",")), now, ict),
      metaDataAction(
        if (snap.tableId.isEmpty) java.util.UUID.randomUUID.toString
        else snap.tableId,
        snap.schema, snap.partitionColumns, conf2, now))
    val version = snap.version + 1
    claimCommit(fs, logDir, version, lines, tablePath)
    version
  }

  /** Metadata-only column RENAME on a column-mapped table: the logical
    * name changes, the columnMapping id and physicalName stay, so no
    * data file is touched and every existing file keeps resolving —
    * the q136b iceberg-evolution contract, Delta-side.
    */
  def renameColumn(spark: SparkSession, tablePath: String,
      from: String, to: String): Long = {
    val snap = snapshot(spark, tablePath)
    require(snap.columnMappingMode != "none",
      s"renameColumn needs column mapping — run enableColumnMapping on " +
        s"$tablePath first (metadata-only rename is undefined without it)")
    require(snap.schema.fieldNames.contains(from),
      s"column '$from' not in ${snap.schema.fieldNames.mkString(", ")}")
    require(!snap.schema.fieldNames.contains(to),
      s"column '$to' already exists")
    val schema2 = StructType(snap.schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    val parts2 = snap.partitionColumns.map(c => if (c == from) to else c)
    val now = 1L
    val lines = Seq(
      commitInfoAction("RENAME COLUMN", Map("from" -> from, "to" -> to),
        now, if (ictEnabled(snap)) Some(nextIct(
          new Path(tablePath, "_delta_log").getFileSystem(
            spark.sparkContext.hadoopConfiguration),
          new Path(tablePath, "_delta_log"), snap)) else None),
      metaDataAction(snap.tableId, schema2, parts2, snap.configuration,
        now))
    val version = snap.version + 1
    claimCommit(new Path(tablePath, "_delta_log")
      .getFileSystem(spark.sparkContext.hadoopConfiguration),
      new Path(tablePath, "_delta_log"), version, lines, tablePath)
    version
  }

  /** Metadata-only column DROP on a column-mapped table: the field
    * leaves the logical schema; data files keep the physical column,
    * which every read simply stops projecting.
    */
  def dropColumn(spark: SparkSession, tablePath: String,
      name: String): Long = {
    val snap = snapshot(spark, tablePath)
    require(snap.columnMappingMode != "none",
      s"dropColumn needs column mapping — run enableColumnMapping on " +
        s"$tablePath first")
    require(snap.schema.fieldNames.contains(name),
      s"column '$name' not in ${snap.schema.fieldNames.mkString(", ")}")
    require(!snap.partitionColumns.contains(name),
      s"column '$name' is a partition column — repartition the table " +
        "instead of dropping its layout key")
    require(snap.schema.fields.length > 1,
      "cannot drop the last column")
    val schema2 = StructType(snap.schema.fields.filterNot(_.name == name))
    val now = 1L
    val lines = Seq(
      commitInfoAction("DROP COLUMN", Map("column" -> name), now,
        if (ictEnabled(snap)) Some(nextIct(
          new Path(tablePath, "_delta_log").getFileSystem(
            spark.sparkContext.hadoopConfiguration),
          new Path(tablePath, "_delta_log"), snap)) else None),
      metaDataAction(snap.tableId, schema2, snap.partitionColumns,
        snap.configuration, now))
    val version = snap.version + 1
    claimCommit(new Path(tablePath, "_delta_log")
      .getFileSystem(spark.sparkContext.hadoopConfiguration),
      new Path(tablePath, "_delta_log"), version, lines, tablePath)
    version
  }

  /** Write a parquet CHECKPOINT of the current snapshot (protocol +
    * metaData + txn + live add actions) and point `_last_checkpoint`
    * at it — what keeps log replay bounded as commits accumulate (the
    * reader seeds from the checkpoint and replays only newer JSON).
    * Call every N commits, like delta-spark's checkpointInterval.
    */
  final case class CpDv(storageType: String, pathOrInlineDv: String,
      offset: Option[Long], sizeInBytes: Long, cardinality: Long)
  final case class CpAdd(path: String,
      partitionValues: Map[String, String], size: Long,
      modificationTime: Long, dataChange: Boolean,
      stats: Option[String], deletionVector: Option[CpDv],
      baseRowId: Option[Long] = None,
      defaultRowCommitVersion: Option[Long] = None)
  final case class CpMeta(id: String,
      schemaString: String, partitionColumns: Seq[String],
      configuration: Map[String, String], createdTime: Long)
  final case class CpProto(minReaderVersion: Int, minWriterVersion: Int,
      readerFeatures: Option[Seq[String]] = None,
      writerFeatures: Option[Seq[String]] = None)
  final case class CpTxn(appId: String, version: Long, lastUpdated: Long)
  final case class CpDomain(domain: String, configuration: String,
      removed: Boolean)
  final case class CpCkptMeta(version: Long)
  final case class CpSidecar(path: String, sizeInBytes: Long,
      modificationTime: Long)

  def checkpoint(spark: SparkSession, tablePath: String): Long = {
    import spark.implicits._
    val snap = snapshot(spark, tablePath)
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = new Path(root, "_delta_log")
    val schemaEsc = snap.schema.json
    val adds = snap.files.toSeq.map { case (p, pv) =>
      // live deletion vectors MUST ride along (a checkpoint without
      // them would resurrect deleted rows on checkpoint-seeded reads)
      val dv = snap.dvs.get(p).map(d => CpDv(d.storageType,
        d.pathOrInlineDv, d.offset, d.sizeInBytes, d.cardinality))
      // snapshot paths are DECODED; the checkpoint restates each file's
      // VERBATIM raw action-path string (graft-staged paths encode)
      (Option(CpAdd(rawPath(snap, p),
        pv.collect { case (k, Some(v)) => k -> v },
        snap.sizes.getOrElse(p, 0L), 1L,
        true, snap.stats.get(p), dv,
        // row-tracking coordinates MUST survive the checkpoint or
        // cleanupLogs destroys the table's stable row ids
        baseRowId = snap.rowIds.get(p).map(_._1),
        defaultRowCommitVersion = snap.rowIds.get(p).map(_._2))),
        Option.empty[CpMeta],
        Option.empty[CpProto], Option.empty[CpTxn])
    }
    // persist the table's ACTUAL protocol action and FULL configuration
    // (a synthesized downgrade would let checkpoint-seeded readers skip
    // features — column mapping, timestampNtz — the table requires);
    // the (1,2)/(3,7) synthesis only covers logs with no protocol
    // action at all, which the spec forbids anyway
    val proto = snap.protocol.getOrElse(
      if (snap.dvs.isEmpty) CpProto(1, 2, None, None)
      else CpProto(3, 7, Some(Seq("deletionVectors")),
        Some(Seq("deletionVectors"))))
    val meta = Seq((Option.empty[CpAdd],
      Option(CpMeta(if (snap.tableId.isEmpty) "graft" else snap.tableId,
        schemaEsc, snap.partitionColumns, snap.configuration, 1L)),
      Option(proto), Option.empty[CpTxn]))
    val txns = snap.txns.toSeq.map { case (a, v) =>
      (Option.empty[CpAdd], Option.empty[CpMeta], Option.empty[CpProto],
        Option(CpTxn(a, v, 1L)), Option.empty[CpDomain])
    }
    // live domainMetadata actions MUST ride the checkpoint (foreign
    // writers keep per-domain state there; dropping them + cleanupLogs
    // would destroy it)
    val doms = snap.domainMetadata.values.toSeq.map { line =>
      val dm = mapper.readTree(line).get("domainMetadata")
      (Option.empty[CpAdd], Option.empty[CpMeta], Option.empty[CpProto],
        Option.empty[CpTxn],
        Option(CpDomain(dm.get("domain").asText,
          Option(dm.get("configuration")).map(c =>
            if (c.isTextual) c.asText else c.toString).getOrElse(""),
          removed = false)))
    }
    def writeOne(df: DataFrame, target: Path): Long = {
      val stage = new Path(tablePath + "_ckstage_" +
        java.util.UUID.randomUUID.toString.take(8))
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = fs.listStatus(stage)
        .map(_.getPath).find(_.getName.startsWith("part-")).get
      val size = fs.getFileStatus(part).getLen
      fs.delete(target, false)
      require(fs.rename(part, target), s"checkpoint rename failed: $target")
      fs.delete(stage, true)
      size
    }
    def pointLastCheckpoint(size: Long): Unit = {
      val lc = fs.create(new Path(logDir, "_last_checkpoint"), true)
      try lc.write(s"""{"version":${snap.version},"size":$size}"""
        .getBytes("UTF-8"))
      finally lc.close()
    }
    // V2 CHECKPOINT WRITING (spec "V2 Checkpoint Table Feature"): when
    // the table CARRIES the v2Checkpoint reader feature, write the
    // UUID-named form the feature mandates — file actions go to a
    // SIDECAR parquet under `_delta_log/_sidecars/`, the top-level
    // `<v>.checkpoint.<uuid>.parquet` holds protocol/metaData/txn/
    // domainMetadata plus a `checkpointMetadata` (version pin) and one
    // `sidecar` pointer. Tables without the feature keep the classic
    // single-file form (writing v2 there would strand pre-v2 readers).
    val v2 = snap.protocol.exists(_.readerFeatures
      .exists(_.contains("v2Checkpoint")))
    if (v2) {
      val sidecarDir = new Path(logDir, "_sidecars")
      fs.mkdirs(sidecarDir)
      val sideName = java.util.UUID.randomUUID.toString + ".parquet"
      val sideBytes = writeOne(adds.map(_._1).toDF("add"),
        new Path(sidecarDir, sideName))
      val uuid = java.util.UUID.randomUUID.toString
      val top = (meta.map { case (a, m, p, t) =>
          (a, m, p, t, Option.empty[CpDomain]) } ++ txns ++ doms)
        .map { case (a, m, p, t, d) =>
          (a, m, p, t, d, Option.empty[CpCkptMeta],
            Option.empty[CpSidecar]) } ++
        Seq((Option.empty[CpAdd], Option.empty[CpMeta],
            Option.empty[CpProto], Option.empty[CpTxn],
            Option.empty[CpDomain],
            Option(CpCkptMeta(snap.version)), Option.empty[CpSidecar]),
          (Option.empty[CpAdd], Option.empty[CpMeta],
            Option.empty[CpProto], Option.empty[CpTxn],
            Option.empty[CpDomain], Option.empty[CpCkptMeta],
            Option(CpSidecar(sideName, sideBytes, 1L))))
      writeOne(top.toDF("add", "metaData", "protocol", "txn",
          "domainMetadata", "checkpointMetadata", "sidecar"),
        new Path(logDir,
          f"${snap.version}%020d.checkpoint.$uuid.parquet"))
      pointLastCheckpoint(adds.size + 1 + txns.size + doms.size)
      return snap.version
    }
    val df = (adds.map { case (a, m, p, t) =>
      (a, m, p, t, Option.empty[CpDomain]) } ++
      meta.map { case (a, m, p, t) => (a, m, p, t, Option.empty[CpDomain]) } ++
      txns ++ doms)
      .toDF("add", "metaData", "protocol", "txn", "domainMetadata")
    writeOne(df,
      new Path(logDir, f"${snap.version}%020d.checkpoint.parquet"))
    pointLastCheckpoint(adds.size + 1 + txns.size + doms.size)
    snap.version
  }

  /** TIME TRAVEL BY TIMESTAMP (delta-spark's `timestampAsOf` rule): the
    * latest commit whose timestamp is at or before `tsMillis` — pass
    * the returned version to [[read]]'s `asOf`. Per-commit resolution
    * order is the spec's: `commitInfo.inCommitTimestamp` when stamped
    * (the `inCommitTimestamp` writer feature makes it the
    * AUTHORITATIVE monotonic clock — `commitInfo.timestamp` and the
    * file mtime may both deviate on ICT tables), else
    * `commitInfo.timestamp` (what mainstream legacy writers stamp),
    * else the commit file's modification time. Refuses loudly before
    * the first replayable commit. Commits cleaned up behind a
    * checkpoint are not addressable (same trade as version pins).
    */
  def versionAtTimestamp(spark: SparkSession, tablePath: String,
      tsMillis: Long): Long = {
    val logDir = new Path(tablePath, "_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(logDir), s"$tablePath is not a Delta table")
    val commitRe = "(\\d{20})\\.json".r
    val stamped = fs.listStatus(logDir).flatMap { st =>
      st.getPath.getName match {
        case commitRe(v) =>
          Some(v.toLong -> commitClock(fs, st.getPath)
            .getOrElse(st.getModificationTime))
        case _ => None
      }
    }.sortBy(_._1)
    require(stamped.nonEmpty,
      s"no replayable commits at $tablePath (log cleaned up?)")
    val eligible = stamped.filter(_._2 <= tsMillis)
    require(eligible.nonEmpty,
      s"no commit of $tablePath at or before timestamp $tsMillis " +
        s"(earliest is ${stamped.head._2})")
    eligible.map(_._1).max
  }

  /** RESTORE TABLE … VERSION AS OF (delta-spark's RestoreTableCommand):
    * ONE commit that returns the table's state to `toVersion` — files
    * live then but removed since RE-ADD (restating their recorded
    * partition values, stats, sizes, and deletion vectors verbatim),
    * files added since REMOVE, and the target's metaData
    * (schema/partitioning/configuration) restates when it differs.
    * History is PRESERVED: the restore is itself a new version, and
    * time travel still reaches every in-between state. Metadata-sized
    * work — the diff is two file-map comparisons, no data IO beyond
    * existence probes. Refuses loudly when a needed data file or DV
    * file was already vacuumed (restore works only inside the vacuum
    * retention window — delta-spark's contract). Protocol never
    * downgrades. Returns the new version (unchanged when the state
    * already matches).
    *
    * Reference comparison: dozer reads only the latest delta state
    * (deltalake/src/reader.rs:36-47) — restore is beyond-ref, spec'd
    * from the public PROTOCOL.md commit shapes.
    */
  def restore(spark: SparkSession, tablePath: String,
      toVersion: Long): Long = {
    val cur = snapshot(spark, tablePath)
    require(toVersion <= cur.version,
      s"cannot restore $tablePath to version $toVersion — the table " +
        s"is at ${cur.version}")
    if (toVersion == cur.version) return cur.version
    val tgt = snapshot(spark, tablePath, Some(toVersion))
    checkWriterProtocol(cur, dataChangeMutation = true, "RESTORE")
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def abs(p: String): String =
      if (p.contains("://") || p.startsWith("/")) p
      else new Path(tablePath, p).toString
    // a file changes state when its presence OR its deletion vector
    // differs; a DV change is remove+re-add of the same path
    val toRemove = cur.files.keysIterator.filter(p =>
      !tgt.files.contains(p) || cur.dvs.get(p) != tgt.dvs.get(p)).toSeq
    val toAdd = tgt.files.keysIterator.filter(p =>
      !cur.files.contains(p) || cur.dvs.get(p) != tgt.dvs.get(p)).toSeq
    val metaDiffers = tgt.schema != cur.schema ||
      tgt.partitionColumns != cur.partitionColumns ||
      tgt.configuration != cur.configuration
    if (toRemove.isEmpty && toAdd.isEmpty && !metaDiffers)
      return cur.version
    // vacuum check BEFORE committing: every re-added data file and
    // every referenced on-disk DV file must still exist
    val missing = toAdd.filterNot(p => fs.exists(new Path(abs(p))))
    require(missing.isEmpty,
      s"cannot restore $tablePath to version $toVersion: data file(s) " +
        s"${missing.take(3).mkString(", ")}${
          if (missing.size > 3) ", …" else ""} no longer exist " +
        "(vacuumed) — restore only works within the vacuum retention " +
        "window")
    val missingDv = toAdd.flatMap(p => tgt.dvs.get(p))
      .filter(_.storageType == "u")
      .map(d => DeletionVectors.uuidPath(tablePath, d.pathOrInlineDv))
      .filterNot(fs.exists)
    require(missingDv.isEmpty,
      s"cannot restore $tablePath to version $toVersion: deletion " +
        s"vector file(s) ${missingDv.take(3).mkString(", ")} no longer " +
        "exist (vacuumed)")
    val now = 1L
    val ictStamp = if (ictEnabled(cur))
      Some(nextIct(fs, new Path(root, "_delta_log"), cur)) else None
    val lines = mutable.ArrayBuffer.empty[String]
    lines += commitInfoAction("RESTORE",
      Map("version" -> toVersion.toString), now, ictStamp)
    // the target's table shape restates (delta-spark restores metadata
    // with the data); the table id NEVER changes, protocol never
    // downgrades (current protocol stays in force)
    if (metaDiffers)
      lines += metaDataAction(cur.tableId, tgt.schema,
        tgt.partitionColumns, tgt.configuration, now)
    toRemove.foreach(p => lines += removeAction(rawPath(cur, p), now))
    toAdd.foreach { p =>
      val pEsc = mapper.writeValueAsString(rawPath(tgt, p))
      val pvNode = mapper.createObjectNode()
      tgt.files.getOrElse(p, Map.empty).foreach {
        case (k, Some(v)) => pvNode.put(k, v); ()
        case (k, None) => pvNode.putNull(k); ()
      }
      val fsz = tgt.sizes.getOrElse(p,
        fs.getFileStatus(new Path(abs(p))).getLen)
      val stEsc = tgt.stats.get(p)
        .map(s => s""","stats":${mapper.writeValueAsString(s)}""")
        .getOrElse("")
      val dvEsc = tgt.dvs.get(p).map { d =>
        val off = d.offset.map(o => s""""offset":$o,""").getOrElse("")
        s""","deletionVector":{"storageType":${
          mapper.writeValueAsString(d.storageType)},""" +
          s""""pathOrInlineDv":${
            mapper.writeValueAsString(d.pathOrInlineDv)},""" +
          off + s""""sizeInBytes":${d.sizeInBytes},""" +
          s""""cardinality":${d.cardinality}}"""
      }.getOrElse("")
      // row-tracking coordinates restate from the TARGET version
      val ridEsc = tgt.rowIds.get(p).map { case (b, d) =>
        s""","baseRowId":$b,"defaultRowCommitVersion":$d"""
      }.getOrElse("")
      lines += (s"""{"add":{"path":$pEsc,"partitionValues":$pvNode,""" +
        s""""size":$fsz,"modificationTime":$now,""" +
        s""""dataChange":true$stEsc$dvEsc$ridEsc}}""")
    }
    commitWithRetry(fs, new Path(root, "_delta_log"), tablePath,
      cur.version + 1, lines.toSeq,
      ourRemoves = toRemove.toSet, dataChangeMutation = true)
  }

  /** [[restore]] to the latest version at or before `tsMillis` —
    * RESTORE TABLE … TIMESTAMP AS OF (ICT-aware through
    * [[versionAtTimestamp]]'s commit clock).
    */
  def restoreToTimestamp(spark: SparkSession, tablePath: String,
      tsMillis: Long): Long =
    restore(spark, tablePath, versionAtTimestamp(spark, tablePath, tsMillis))

  /** SHALLOW CLONE (delta-spark's CLONE command): create a NEW table at
    * `targetPath` whose version-0 commit references the SOURCE table's
    * data files by ABSOLUTE path — zero data copied, metadata-sized
    * work, optionally from a time-traveled source version (`asOf`).
    * The clone gets its OWN table id and log; source protocol,
    * schema/partitioning/configuration, per-file stats, partition
    * values, and deletion vectors restate verbatim (relative `u`-storage
    * DVs rewrite to absolute `p` storage so they resolve from the
    * clone). After the clone the two tables diverge independently:
    * mutations on the clone touch only its own log, and [[vacuum]] on
    * the clone never deletes source files (it sweeps the clone's
    * directory only). Refuses when the target is already a table.
    */
  def clone(spark: SparkSession, sourcePath: String, targetPath: String,
      asOf: Option[Long] = None): Long = {
    val src = snapshot(spark, sourcePath, asOf)
    val root = new Path(targetPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = new Path(root, "_delta_log")
    require(!fs.exists(logDir),
      s"$targetPath is already a Delta table — clone creates a NEW one")
    fs.mkdirs(logDir)
    def absSrc(p: String): String =
      if (p.contains("://") || p.startsWith("/")) p
      else new Path(sourcePath, p).toString
    val now = 1L
    val ictStamp: Option[Long] =
      if (src.configuration.get("delta.enableInCommitTimestamps")
          .exists(_.equalsIgnoreCase("true"))) Some(1L) else None
    val lines = mutable.ArrayBuffer.empty[String]
    lines += commitInfoAction("CLONE",
      Map("source" -> sourcePath) ++
        asOf.map(v => "sourceVersion" -> v.toString), now, ictStamp)
    src.protocol.foreach { p =>
      val rf = p.readerFeatures
        .map(f => s""","readerFeatures":${featuresJson(f)}""").getOrElse("")
      val wf = p.writerFeatures
        .map(f => s""","writerFeatures":${featuresJson(f)}""").getOrElse("")
      lines += (s"""{"protocol":{"minReaderVersion":${p.minReaderVersion},""" +
        s""""minWriterVersion":${p.minWriterVersion}$rf$wf}}""")
    }
    if (src.protocol.isEmpty)
      lines += """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
    lines += metaDataAction(java.util.UUID.randomUUID.toString,
      src.schema, src.partitionColumns, src.configuration, now)
    src.domainMetadata.values.foreach(lines += _)
    src.files.keys.toSeq.sorted.foreach { p =>
      val pEsc = mapper.writeValueAsString(encodePath(absSrc(p)))
      val pvNode = mapper.createObjectNode()
      src.files.getOrElse(p, Map.empty).foreach {
        case (k, Some(v)) => pvNode.put(k, v); ()
        case (k, None) => pvNode.putNull(k); ()
      }
      val fsz = src.sizes.getOrElse(p,
        fs.getFileStatus(new Path(absSrc(p))).getLen)
      val stEsc = src.stats.get(p)
        .map(s => s""","stats":${mapper.writeValueAsString(s)}""")
        .getOrElse("")
      val dvEsc = src.dvs.get(p).map { d0 =>
        // relative (u) DV storage resolves against the TABLE path —
        // rewrite to absolute (p) so the clone's readers find it
        val d = if (d0.storageType == "u")
          d0.copy(storageType = "p", pathOrInlineDv =
            DeletionVectors.uuidPath(sourcePath, d0.pathOrInlineDv).toString)
        else d0
        val off = d.offset.map(o => s""""offset":$o,""").getOrElse("")
        s""","deletionVector":{"storageType":${
          mapper.writeValueAsString(d.storageType)},""" +
          s""""pathOrInlineDv":${
            mapper.writeValueAsString(d.pathOrInlineDv)},""" +
          off + s""""sizeInBytes":${d.sizeInBytes},""" +
          s""""cardinality":${d.cardinality}}"""
      }.getOrElse("")
      // row-tracking coordinates restate from the source (the clone
      // also copied the delta.rowTracking domain, so later appends
      // allocate past the source's mark)
      val ridEsc = src.rowIds.get(p).map { case (b, d) =>
        s""","baseRowId":$b,"defaultRowCommitVersion":$d"""
      }.getOrElse("")
      lines += (s"""{"add":{"path":$pEsc,"partitionValues":$pvNode,""" +
        s""""size":$fsz,"modificationTime":$now,""" +
        s""""dataChange":true$stEsc$dvEsc$ridEsc}}""")
    }
    commitWithRetry(fs, logDir, targetPath, 0L, lines.toSeq,
      ourRemoves = Set.empty, dataChangeMutation = false)
  }

  /** LOG CLEANUP (delta-spark's metadata retention, deterministic
    * variant): delete the JSON commits a checkpoint already covers —
    * replay seeds from the checkpoint, so they are dead weight in
    * every snapshot listing. The spec's trade applies: version-pinned
    * reads at or below the checkpoint stop working (streaming tails
    * recover per their `on_missing_offset` option). Refuses without a
    * checkpoint. An IN-COMMIT-TIMESTAMP table spares its HEAD commit
    * even when the checkpoint covers it: that commit carries the
    * table's authoritative clock (the next commit's monotonic floor
    * and the newest `timestamp_as_of` anchor) — deleting it would
    * silently reset the ICT clock. Returns the number of commit files
    * deleted.
    */
  /** CONVERT TO DELTA (delta-spark's `CONVERT TO DELTA
    * parquet.`dir``): register an existing — optionally
    * hive-partitioned — parquet directory as a delta table IN PLACE.
    * One version-0 commit of add actions referencing the files where
    * they sit (paths relative to the root, URL-encoded per the spec),
    * per-file stats (numRecords/minValues/maxValues/nullCount) from
    * the parquet footers so MERGE/DELETE pruning works from the first
    * commit, partition values from the `col=value` dir chain (column
    * types inferred long/date/string from the dir values — the spec
    * stores partition values as strings either way, and reads inject
    * them typed). No byte of data is rewritten; subsequent
    * writes/mutations are ordinary delta commits. One-shot like
    * delta-spark's CONVERT: refuses when a `_delta_log` already
    * exists. TIMESTAMP_NTZ file columns stamp the featured protocol
    * the same way [[write]] does.
    */
  def convertToDelta(spark: SparkSession, tablePath: String): Long = {
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = new Path(root, "_delta_log")
    require(!fs.exists(logDir),
      s"$tablePath already carries a _delta_log — CONVERT is one-shot " +
        "(the directory is already a delta table)")
    val lay = IcebergLite.discoverParquetDir(spark, tablePath)
    val eligible = lay.dataSchema.fields.filter(statsEligible).toSeq
    val stats = ParquetFooterStats.readAll(
      spark.sparkContext.hadoopConfiguration,
      lay.tuples.map(_._1.getPath), lay.dataSchema)
    val rootUri = fs.makeQualified(root).toString
    val now = System.currentTimeMillis
    val lines = mutable.ArrayBuffer.empty[String]
    lines += commitInfoAction("CONVERT", Map(
      "numFiles" -> lay.tuples.size.toString,
      "partitionedBy" -> lay.partCols.mkString(",")), now)
    if (containsNtz(lay.schema))
      lines += (s"""{"protocol":{"minReaderVersion":3,""" +
        s""""readerFeatures":${featuresJson(Seq("timestampNtz"))},""" +
        s""""minWriterVersion":7,""" +
        s""""writerFeatures":${featuresJson(
          (impliedWriterFeatures(2) :+ "timestampNtz").distinct)}}}""")
    else
      lines += """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
    lines += metaDataAction(java.util.UUID.randomUUID.toString,
      lay.schema, lay.partCols, Map.empty, now)
    lay.tuples.foreach { case (s, tuple) =>
      val rel = fs.makeQualified(s.getPath).toString
        .stripPrefix(rootUri).stripPrefix("/")
      lines += addAction(rel, s.getLen,
        statsJsonFor(stats(s.getPath), eligible), now,
        partitionValues = tuple.toMap)
    }
    claimCommit(fs, logDir, 0L, lines.toSeq, tablePath)
    0L
  }

  def cleanupLogs(spark: SparkSession, tablePath: String): Int = {
    val logDir = new Path(tablePath, "_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(logDir), s"$tablePath is not a Delta table")
    val lastCkpt = new Path(logDir, "_last_checkpoint")
    require(fs.exists(lastCkpt),
      s"$tablePath has no checkpoint — run checkpoint() before " +
        "cleaning up the log (the commits are the only table state)")
    val in = fs.open(lastCkpt)
    val v = try mapper.readTree(new String(in.readAllBytes(), "UTF-8"))
      .get("version").asLong finally in.close()
    val commitRe = "(\\d{20})\\.json".r
    val snap = snapshot(spark, tablePath)
    val spareHead: Option[Long] =
      if (ictEnabled(snap)) Some(snap.version) else None
    var deleted = 0
    fs.listStatus(logDir).foreach { s =>
      s.getPath.getName match {
        case commitRe(cv) if cv.toLong <= v &&
            !spareHead.contains(cv.toLong) =>
          // CDF files referenced ONLY by this about-to-die commit are
          // garbage once the commit JSON is gone (the range is no
          // longer CDF-readable) — delete them with it, or
          // _change_data grows forever
          val in = fs.open(s.getPath)
          val txt = try new String(in.readAllBytes(), "UTF-8")
            finally in.close()
          txt.split("\n").filter(_.trim.nonEmpty).foreach { line =>
            val a = try mapper.readTree(line) catch { case _: Exception => null }
            if (a != null && a.has("cdc")) {
              val rel = decodePath(a.get("cdc").get("path").asText)
              val f = if (rel.contains("://") || rel.startsWith("/"))
                new Path(rel) else new Path(tablePath, rel)
              fs.delete(f, false)
              ()
            }
          }
          if (fs.delete(s.getPath, false)) deleted += 1
        case _ => ()
      }
    }
    deleted
  }

  /** `DESCRIBE HISTORY` as a DataFrame: one row per JSON commit —
    * version, timestamp, operation and parameters from its
    * `commitInfo` action (null operation for foreign minimal writers
    * that omit it), plus the commit's add/remove counts. Driver-side
    * over the log listing; commits covered only by a checkpoint (their
    * JSON deleted) are absent, like delta-spark after log cleanup.
    */
  def historyDf(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    val logDir = new Path(tablePath, "_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(logDir), s"$tablePath is not a Delta table")
    val commitRe = "(\\d{20})\\.json".r
    fs.listStatus(logDir).map(_.getPath.getName).collect {
      case n @ commitRe(v) => (v.toLong, n)
    }.sortBy(_._1).toSeq.map { case (version, name) =>
      val in = fs.open(new Path(logDir, name))
      val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      var op: Option[String] = None
      var ts: Option[Long] = None
      var params = Map.empty[String, String]
      var adds = 0L; var removes = 0L
      text.split("\n").filter(_.nonEmpty).foreach { line =>
        val node = mapper.readTree(line)
        Option(node.get("commitInfo")).foreach { ci =>
          op = Option(ci.get("operation")).map(_.asText)
          // ICT tables: inCommitTimestamp is the authoritative clock
          // DESCRIBE HISTORY shows (delta-spark's rule)
          ts = Option(ci.get("inCommitTimestamp")).filterNot(_.isNull)
            .map(_.asLong)
            .orElse(Option(ci.get("timestamp")).map(_.asLong))
          Option(ci.get("operationParameters")).foreach { pn =>
            val it = pn.fields()
            while (it.hasNext) {
              val e = it.next()
              params += (e.getKey -> e.getValue.asText)
            }
          }
        }
        if (node.has("add")) adds += 1
        if (node.has("remove")) removes += 1
      }
      (version, ts.getOrElse(0L), op.orNull, params, adds, removes)
    }.toDF("version", "timestamp", "operation", "operation_parameters",
      "num_added_files", "num_removed_files")
  }

  /** VACUUM: physically delete data files (and orphaned deletion-
    * vector files) under the table root that the CURRENT snapshot no
    * longer references (left behind by overwrite/upsert/compact
    * commits). A RETENTION WINDOW spares recently-unreferenced files —
    * delta-spark's time-travel/restore safety contract: explicit
    * `retainMillis` wins, else the table's
    * `delta.deletedFileRetentionDuration` interval, else 0 (the
    * historical immediate-sweep trade, documented: version-pinned
    * reads needing a vacuumed file stop working). Retention is measured
    * from when the file became UNREFERENCED — the remove action's
    * `deletionTimestamp`, which the eligibility scan collects from the
    * surviving commit JSONs (delta-spark's VACUUM contract) — NOT from
    * the file's own mtime: a file written 30 days ago but removed by an
    * overwrite 5 minutes ago must survive a 7-day window so restore()
    * and time travel keep working. Orphaned deletion-vector files are
    * tombstoned the same way (a remove carrying a DV descriptor, or a
    * re-add that swaps descriptors, marks the old DV file at that
    * commit's time). Files with no surviving tombstone (their remove
    * commit was already log-cleaned, or a foreign checkpoint dropped
    * expired tombstones) fall back to modification time — by then the
    * remove itself is older than any sane window. The sweep walks the
    * table tree (skipping `_delta_log/`) and compares snapshot-relative
    * paths, so partition-dir layouts from foreign writers vacuum
    * correctly too. Driver-side over the file listing — O(#files +
    * log size) metadata work, no data reads. Returns the number of
    * files deleted.
    *
    * SAFETY: with NO retention configured (no argument, no table
    * property) the window is 0 — the documented immediate mode, same
    * as delta-spark with its retentionDurationCheck disabled. A zero
    * window racing a CONCURRENT writer can sweep freshly moved,
    * not-yet-committed files (mtime ≈ now < cutoff = now) — exactly
    * why delta-spark refuses windows under 7 days by default. Set
    * `delta.deletedFileRetentionDuration` (or pass `retainMillis`) on
    * any table with concurrent writers.
    */
  def vacuum(spark: SparkSession, tablePath: String,
      retainMillis: Option[Long] = None): Int = {
    val snap = snapshot(spark, tablePath)
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootUri = root.makeQualified(fs.getUri, fs.getWorkingDirectory).toString
    def rel(p: Path): String = {
      val full = p.toString
      if (full.startsWith(rootUri + "/")) full.stripPrefix(rootUri + "/")
      else full
    }
    val retain = retainMillis
      .orElse(snap.configuration.get("delta.deletedFileRetentionDuration")
        .map(parseInterval))
      .getOrElse(0L)
    val cutoff = System.currentTimeMillis - retain
    // tombstones: relative path → when it became unreferenced. Replay
    // the surviving commit JSONs in version order, tracking each data
    // path's remove deletionTimestamp and each DV file's orphaning
    // moment (its data file removed, or re-added with a different
    // descriptor). Version order matters: a path removed then re-added
    // then removed again keeps only the LATEST unreference time.
    val logDir = new Path(root, "_delta_log")
    val commitJsonRe = "(\\d{20})\\.json".r
    val tombstones = mutable.HashMap.empty[String, Long]
    def normRel(p0: String): String =
      if (p0.contains("://") || p0.startsWith("/"))
        rel(new Path(p0).makeQualified(fs.getUri, fs.getWorkingDirectory))
      else p0
    def dvRel(d: DeletionVectors.Descriptor): Option[String] = d.storageType match {
      case "u" => Some(rel(DeletionVectors.uuidPath(tablePath,
        d.pathOrInlineDv).makeQualified(fs.getUri, fs.getWorkingDirectory)))
      case "p" => Some(rel(new Path(d.pathOrInlineDv)
        .makeQualified(fs.getUri, fs.getWorkingDirectory)))
      case _ => None
    }
    // data path → DV file currently describing it (as of the replay
    // cursor) — a descriptor swap orphans the previous DV file
    val curDv = mutable.HashMap.empty[String, String]
    fs.listStatus(logDir)
      .filter(s => commitJsonRe.pattern.matcher(s.getPath.getName).matches)
      .sortBy(_.getPath.getName)
      .foreach { st =>
        val in = fs.open(st.getPath)
        val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        txt.split("\n").foreach { line =>
          if (line.contains("\"add\"") || line.contains("\"remove\"")) {
            val node = try mapper.readTree(line) catch { case _: Exception => null }
            if (node != null && node.has("add")) {
              val a = node.get("add")
              val p = normRel(decodePath(a.get("path").asText))
              val nd = parseDv(a).flatMap(dvRel)
              curDv.get(p).filter(old => !nd.contains(old)).foreach { old =>
                tombstones(old) =
                  math.max(tombstones.getOrElse(old, 0L), st.getModificationTime)
              }
              nd match {
                case Some(d) => curDv(p) = d
                case None => curDv.remove(p); ()
              }
            }
            if (node != null && node.has("remove")) {
              val r = node.get("remove")
              val p = normRel(decodePath(r.get("path").asText))
              // legacy graft logs stamped the deterministic `1L`
              // sentinel; anything before ~2001 can't be a real delta
              // tombstone (delta postdates it) → the commit file's own
              // mtime is the truthful unreference moment
              val ts = Option(r.get("deletionTimestamp")).filterNot(_.isNull)
                .map(_.asLong).filter(_ > 1000000000000L)
                .getOrElse(st.getModificationTime)
              tombstones(p) = math.max(tombstones.getOrElse(p, 0L), ts)
              (parseDv(r).flatMap(dvRel).toSeq ++ curDv.remove(p)).distinct
                .foreach(d => tombstones(d) = math.max(tombstones.getOrElse(d, 0L), ts))
            }
          }
        }
      }
    val live: Set[String] = snap.files.keySet.map { k =>
      // absolute action paths resolve against the root like readFiles
      if (k.contains("://") || k.startsWith("/"))
        rel(new Path(k).makeQualified(fs.getUri, fs.getWorkingDirectory))
      else k
    }
    // live deletion-vector files (u-storage resolves table-relative;
    // p-storage is absolute) — everything else named like a DV file is
    // an orphan from a purge/restore and sweeps with the data files
    val liveDvs: Set[String] = snap.dvs.values.flatMap { d =>
      d.storageType match {
        case "u" => Some(rel(DeletionVectors.uuidPath(tablePath,
          d.pathOrInlineDv).makeQualified(fs.getUri, fs.getWorkingDirectory)))
        case "p" => Some(rel(new Path(d.pathOrInlineDv)
          .makeQualified(fs.getUri, fs.getWorkingDirectory)))
        case _ => None
      }
    }.toSet
    var deleted = 0
    // eligibility clock: the tombstone's unreference time when the log
    // still records one, else the file's own mtime (remove already
    // log-cleaned → far older than any window)
    def unreferencedAt(s: org.apache.hadoop.fs.FileStatus): Long =
      tombstones.getOrElse(rel(s.getPath), s.getModificationTime)
    def sweep(dir: Path): Unit =
      fs.listStatus(dir).foreach { s =>
        if (s.isDirectory) {
          // _change_data holds CDF files referenced by `cdc` actions of
          // PAST commits, never by the live snapshot — sweeping it
          // would destroy the change feed (they die with log cleanup)
          if (s.getPath.getName != "_delta_log" &&
              s.getPath.getName != "_change_data") sweep(s.getPath)
        } else if (unreferencedAt(s) < cutoff &&
            ((s.getPath.getName.endsWith(".parquet") &&
              !live(rel(s.getPath))) ||
             (s.getPath.getName.startsWith("deletion_vector_") &&
              s.getPath.getName.endsWith(".bin") &&
              !liveDvs(rel(s.getPath))))) {
          if (fs.delete(s.getPath, false)) deleted += 1
        }
      }
    sweep(root)
    deleted
  }

  /** Parse a delta interval property value (`interval N
    * seconds|minutes|hours|days|weeks`, singular forms too) to millis.
    */
  private[graft] def parseInterval(s: String): Long = {
    val re = "(?i)\\s*interval\\s+(\\d+)\\s+(second|minute|hour|day|week)s?\\s*".r
    s match {
      case re(n, unit) =>
        val base = unit.toLowerCase match {
          case "second" => 1000L
          case "minute" => 60L * 1000
          case "hour" => 3600L * 1000
          case "day" => 24L * 3600 * 1000
          case "week" => 7L * 24 * 3600 * 1000
        }
        n.toLong * base
      case _ => throw new IllegalArgumentException(
        s"cannot parse interval '$s' (expected: interval N " +
          "seconds|minutes|hours|days|weeks)")
    }
  }

  def changesBetween(spark: SparkSession, tablePath: String,
      fromVersion: Long, toVersion: Long, keyCols: Seq[String],
      seq: Long = 1L, toSnap: Option[Snapshot] = None): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion > toVersion $toVersion")
    val oldSnap = snapshot(spark, tablePath, Some(fromVersion))
    val newSnap = toSnap.getOrElse(snapshot(spark, tablePath, Some(toVersion)))
    require(oldSnap.schema == newSnap.schema,
      "schema changed between versions — diff the full snapshots " +
        "explicitly after reconciling the schemas")
    // a merge-on-read DELETE is remove+re-add of the SAME path with a
    // new deletion-vector descriptor — by-path set difference alone
    // would put such a file on NEITHER side and silently miss the
    // deleted rows. A file whose DV changed joins both sides: the old
    // read applies the old bitmap, the new read the new one, and the
    // keyed diff nets the difference (the newly dead rows) as deletes.
    val dvChanged = oldSnap.files.keySet.intersect(newSnap.files.keySet)
      .filter(p => oldSnap.dvs.get(p) != newSnap.dvs.get(p))
    val removed = oldSnap.files.view
      .filterKeys(p => !newSnap.files.contains(p)).toMap ++
      dvChanged.iterator.map(p => p -> oldSnap.files(p))
    val added = newSnap.files.view
      .filterKeys(p => !oldSnap.files.contains(p)).toMap ++
      dvChanged.iterator.map(p => p -> newSnap.files(p))
    if (removed.isEmpty) {
      // APPEND-ONLY range: every changed row is an insert of the added
      // files — no shuffle, no full-outer join (the null-key contract
      // stays enforced by the same raise_error projection)
      import graft.cdc.ChangeModel
      import org.apache.spark.sql.functions.{raise_error, when}
      val ins = readFiles(spark, tablePath, newSnap, added)
      val guarded = keyCols.foldLeft(ins) { (d, k) =>
        d.withColumn(k, when(col(k).isNull, raise_error(lit(
          s"SnapshotDiff: null key column '$k' in the new snapshot — " +
            "keys must be non-null"))).otherwise(col(k)))
      }
      return guarded
        .withColumn(ChangeModel.OpCol, lit(ChangeModel.Insert))
        .withColumn(ChangeModel.SeqCol, lit(seq))
    }
    graft.cdc.SnapshotDiff.changes(
      readFiles(spark, tablePath, oldSnap, removed),
      readFiles(spark, tablePath, newSnap, added),
      keyCols, seq)
  }
}

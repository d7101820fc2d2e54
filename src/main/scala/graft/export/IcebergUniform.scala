package graft.export

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.tables.{DeltaLog, DvDeleted, IcebergMeta, IcebergWrite, LakeFiles, RoaringBitmapArray}
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.{Schema => AvroSchema}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** UniForm-style Iceberg metadata export for a Delta table.
  *
  * Re-expresses the public Delta-UniForm idea: the parquet DATA files
  * are already Iceberg-compatible, so interop needs only Iceberg
  * METADATA describing the same file set — an Iceberg v2 metadata
  * JSON, one Avro manifest of the snapshot's live data files, and an
  * Avro manifest list, laid out under `<table>/metadata/` with a
  * `version-hint.text` the way Iceberg's filesystem (Hadoop) catalog
  * expects. An Iceberg reader pointed at the table root then plans
  * exactly the files the Delta snapshot holds.
  *
  * Spark-first mechanics: everything here is checkpoint-bounded
  * metadata (O(files) driver work on frames the Delta snapshot
  * already materialized), written with the Avro library Spark ships.
  * Field ids follow Iceberg's spec-required field-id properties;
  * column ids reuse Delta column-mapping ids when the table has them
  * (the UniForm behavior) and are assigned depth-first otherwise.
  *
  * Deletion vectors TRANSLATE rather than refuse: Iceberg v2
  * expresses row-level deletes as position delete FILES, so each
  * DV-bearing data file's bitmap becomes (file_path, pos) rows,
  * written as parquet per partition tuple (a distributed flatMap
  * over the bitmap bytes — the bitmap never expands on the driver)
  * under `_iceberg/deletes/` (underscore-prefixed: invisible to
  * Delta VACUUM's data-file listing), referenced from a
  * content=deletes manifest with the same sequence number as the
  * snapshot's data (Iceberg applies position deletes where delete
  * seq ≥ data seq).
  *
  * Re-exports carry the previous metadata's snapshot history forward
  * (dedup by snapshot id), so `snapshots` + `snapshot-log` accumulate
  * and [[graft.tables.IcebergTable]] can time-travel across exports.
  * Single-schema history: carried snapshots keep schema-id 0 — the
  * current schema; per-snapshot schema history is not retained.
  *
  * Refusal (loud, not lossy): files without numRecords stats
  * (Iceberg requires record_count).
  */
object IcebergUniform {

  private val mapper = new ObjectMapper()

  final case class Exported(
      metadataJson: String,
      manifestList: String,
      manifest: String,
      snapshotId: Long)

  def export(
      spark: SparkSession,
      tablePath: String,
      versionAsOf: Option[Long] = None
  ): Exported = {
    val snap = DeltaLog.snapshot(spark, tablePath, versionAsOf)
    val counts: Seq[Long] = snap.files.map { f =>
      f.stats.map(s => mapper.readTree(s).path("numRecords").asLong(-1L)).getOrElse(-1L)
    }
    require(counts.forall(_ >= 0),
      s"$tablePath has files without numRecords stats; Iceberg requires record_count")

    // column-mapped tables store PHYSICAL column names in their data
    // files while the exported Iceberg schema speaks LOGICAL names —
    // resolvable only through parquet footer FIELD IDS (upstream
    // UniForm's IcebergCompat enforces the same invariant: ids in
    // every data file). A file without footer ids would read as
    // all-null through any Iceberg reader, so it refuses HERE, at
    // export time, with the fix named. Probe is per-file cached
    // (graft.tables.IcebergTable.probeMissingFooterIds), executor-side
    // above a bounded driver fast path.
    if (snap.metadata.isColumnMapped) {
      val idless = graft.tables.IcebergTable.probeMissingFooterIds(
        spark, snap.files.map(f => DeltaLog.resolvePath(tablePath, f.path)))
      require(idless.isEmpty,
        s"$tablePath is column-mapped but ${idless.size} data file(s) carry no " +
          s"parquet field ids (e.g. ${idless.headOption.getOrElse("")}): an " +
          "Iceberg reader can only resolve physical-name columns by field id " +
          "— use id-mode column mapping (files written with parquet.field.id) " +
          "or rewrite the files with field ids before exporting")
    }

    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaDir = new Path(tablePath, "metadata")
    fs.mkdirs(metaDir)

    val snapshotId = snap.version
    val seqNum = snap.version
    val uuid = java.util.UUID.randomUUID().toString
    val nowMs = System.currentTimeMillis()

    // previous export's metadata (if any) for snapshot-history carry.
    // Read the LATEST committed version by directory scan, not the
    // advisory hint — a concurrent expireSnapshots may have advanced
    // past the last export's hint, and basing the carry on the stale
    // hint would resurrect snapshots the expire already deleted files
    // for (dangling time travel).
    val prevMeta: Option[JsonNode] =
      IcebergWrite.latestVersionByScan(fs, metaDir).flatMap { v =>
        try Some(mapper.readTree(readString(fs, new Path(metaDir, s"v$v.metadata.json"))))
        catch { case _: Exception => None }
      }

    // ---- schema with Iceberg field ids -----------------------------
    val ids = new FieldIds(snap.metadata.schema)
    val schemaJson = ids.icebergSchemaJson(schemaId = 0)

    // ---- partition spec (identity transforms) ----------------------
    val partCols = snap.metadata.partitionColumns
    val partFields = partCols.map(c =>
      snap.metadata.schema.fields.find(_.name == c)
        .getOrElse(throw new IllegalArgumentException(
          s"partition column $c missing from schema of $tablePath")))

    // ---- manifest (one Avro file, all live data files) -------------
    val manifestPath = new Path(metaDir, s"manifest-$snapshotId-$uuid.avro")
    val specFieldsJson = partFields.zipWithIndex.map { case (pf, i) =>
      s"""{"name":${q(pf.name)},"transform":"identity","source-id":${ids.idOf(pf.name)},"field-id":${1000 + i}}"""
    }.mkString("[", ",", "]")
    val entrySchema = manifestEntrySchema(partFields)
    locally {
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](entrySchema))
      // Iceberg's ManifestReader requires these file-level properties
      // to bind the partition struct to the spec
      w.setMeta("schema", schemaJson)
      w.setMeta("partition-spec", specFieldsJson)
      w.setMeta("partition-spec-id", "0")
      w.setMeta("format-version", "2")
      w.setMeta("content", "data")
      w.create(entrySchema, fs.create(manifestPath, true))
      try {
        val dfSchema = entrySchema.getField("data_file").schema()
        val pSchema = dfSchema.getField("partition").schema()
        snap.files.zip(counts).foreach { case (f, n) =>
          val p = new GenericData.Record(pSchema)
          partFields.foreach { pf =>
            val v: Option[String] = f.partitionValues
              .get(snap.metadata.physicalName(pf.name)).flatten
              .orElse(f.partitionValues.get(pf.name).flatten)
            p.put(pf.name, partitionValue(pf.dataType, v))
          }
          val df = new GenericData.Record(dfSchema)
          df.put("content", 0)
          df.put("file_path", DeltaLog.resolvePath(tablePath, f.path))
          df.put("file_format", "PARQUET")
          df.put("partition", p)
          df.put("record_count", n)
          df.put("file_size_in_bytes", f.size)
          // Delta per-file stats → Iceberg column bounds: the
          // exported table prunes non-partition predicates exactly
          // like a natively written one
          graft.tables.IcebergStats.putDeltaStatsFields(df, dfSchema,
            f.stats, snap.metadata.schema,
            snap.metadata.physicalName, c => ids.idOf(c))
          val e = new GenericData.Record(entrySchema)
          e.put("status", 1) // ADDED in this snapshot
          e.put("snapshot_id", snapshotId)
          e.put("sequence_number", seqNum)
          e.put("file_sequence_number", seqNum)
          e.put("data_file", df)
          w.append(e)
        }
      } finally w.close()
    }
    val manifestLen = fs.getFileStatus(manifestPath).getLen

    // ---- deletion vectors → position delete files ------------------
    // Each DV bitmap becomes (file_path, pos) parquet rows, one delete
    // file per partition tuple, expanded EXECUTOR-side (the driver
    // ships compressed bitmap bytes, never positions).
    val dvFiles = snap.files.filter(_.dv.exists(_.cardinality > 0))
    val deleteManifest: Option[(Path, Long, Int, Long)] =
      if (dvFiles.isEmpty) None
      else {
        import spark.implicits._
        val delRoot = new Path(tablePath, s"_iceberg/deletes/$snapshotId-$uuid")
        val written: Seq[(Map[String, Option[String]], String, Long, Long)] =
          dvFiles.groupBy(_.partitionValues).toSeq.zipWithIndex.map {
            case ((pv, group), gi) =>
              val pairs = group.map(f => (
                DeltaLog.resolvePath(tablePath, f.path),
                f.dv.get.readData(fs, tablePath)))
              val dir = new Path(delRoot, s"g$gi")
              spark.createDataset(pairs)
                .flatMap { case (p, bytes) =>
                  RoaringBitmapArray.deserialize(bytes).toArray.map(pos => (p, pos))
                }
                .toDF("file_path", "pos")
                .coalesce(1)
                .write.mode("overwrite").parquet(dir.toString)
              val pf = fs.listStatus(dir)
                .find(_.getPath.getName.endsWith(".parquet"))
                .getOrElse(throw new IllegalStateException(s"no parquet under $dir"))
              (pv, pf.getPath.toUri.getPath, pf.getLen,
                group.map(_.dv.get.cardinality).sum)
          }
        val delManifestPath = new Path(metaDir, s"delete-manifest-$snapshotId-$uuid.avro")
        val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](entrySchema))
        w.setMeta("schema", schemaJson)
        w.setMeta("partition-spec", specFieldsJson)
        w.setMeta("partition-spec-id", "0")
        w.setMeta("format-version", "2")
        w.setMeta("content", "deletes")
        w.create(entrySchema, fs.create(delManifestPath, true))
        try {
          val dfSchema = entrySchema.getField("data_file").schema()
          val pSchema = dfSchema.getField("partition").schema()
          written.foreach { case (pv, path, len, rows) =>
            val p = new GenericData.Record(pSchema)
            partFields.foreach { pf =>
              val v: Option[String] = pv
                .get(snap.metadata.physicalName(pf.name)).flatten
                .orElse(pv.get(pf.name).flatten)
              p.put(pf.name, partitionValue(pf.dataType, v))
            }
            val df = new GenericData.Record(dfSchema)
            df.put("content", 1) // position deletes
            df.put("file_path", path)
            df.put("file_format", "PARQUET")
            df.put("partition", p)
            df.put("record_count", rows)
            df.put("file_size_in_bytes", len)
            val e = new GenericData.Record(entrySchema)
            e.put("status", 1)
            e.put("snapshot_id", snapshotId)
            e.put("sequence_number", seqNum)
            e.put("file_sequence_number", seqNum)
            e.put("data_file", df)
            w.append(e)
          }
        } finally w.close()
        Some((delManifestPath, fs.getFileStatus(delManifestPath).getLen,
          written.size, written.map(_._4).sum))
      }

    // ---- manifest list ---------------------------------------------
    val listPath = new Path(metaDir, s"snap-$snapshotId-$uuid.avro")
    locally {
      val s = manifestFileSchema
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](s))
        .create(s, fs.create(listPath, true))
      try {
        val r = new GenericData.Record(s)
        r.put("manifest_path", manifestPath.toString)
        r.put("manifest_length", manifestLen)
        r.put("partition_spec_id", 0)
        r.put("content", 0) // data
        r.put("sequence_number", seqNum)
        r.put("min_sequence_number", seqNum)
        r.put("added_snapshot_id", snapshotId)
        r.put("added_files_count", snap.files.size)
        r.put("existing_files_count", 0)
        r.put("deleted_files_count", 0)
        r.put("added_rows_count", counts.sum)
        r.put("existing_rows_count", 0L)
        r.put("deleted_rows_count", 0L)
        w.append(r)
        deleteManifest.foreach { case (p, len, nFiles, nRows) =>
          val d = new GenericData.Record(s)
          d.put("manifest_path", p.toString)
          d.put("manifest_length", len)
          d.put("partition_spec_id", 0)
          d.put("content", 1) // deletes
          d.put("sequence_number", seqNum)
          d.put("min_sequence_number", seqNum)
          d.put("added_snapshot_id", snapshotId)
          d.put("added_files_count", nFiles)
          d.put("existing_files_count", 0)
          d.put("deleted_files_count", 0)
          d.put("added_rows_count", nRows)
          d.put("existing_rows_count", 0L)
          d.put("deleted_rows_count", 0L)
          w.append(d)
        }
      } finally w.close()
    }

    // ---- table metadata JSON ---------------------------------------
    val root = mapper.createObjectNode()
    root.put("format-version", 2)
    root.put("table-uuid",
      if (snap.metadata.id.nonEmpty) snap.metadata.id else uuid)
    root.put("location", tablePath)
    root.put("last-sequence-number",
      math.max(seqNum, prevMeta.map(_.path("last-sequence-number").asLong(0L)).getOrElse(0L)))
    root.put("last-updated-ms", nowMs)
    root.put("last-column-id", ids.lastColumnId)
    root.put("current-schema-id", 0)
    root.set[ObjectNode]("schemas",
      mapper.createArrayNode().add(mapper.readTree(schemaJson)))
    val spec = mapper.createObjectNode()
    spec.put("spec-id", 0)
    val specFields = mapper.createArrayNode()
    partFields.zipWithIndex.foreach { case (pf, i) =>
      val n = mapper.createObjectNode()
      n.put("name", pf.name)
      n.put("transform", "identity")
      n.put("source-id", ids.idOf(pf.name))
      n.put("field-id", 1000 + i)
      specFields.add(n)
    }
    spec.set[ObjectNode]("fields", specFields)
    root.set[ObjectNode]("partition-specs", mapper.createArrayNode().add(spec))
    root.put("default-spec-id", 0)
    root.put("last-partition-id", 1000 + math.max(partFields.size - 1, -1))
    val order = mapper.createObjectNode()
    order.put("order-id", 0)
    order.set[ObjectNode]("fields", mapper.createArrayNode())
    root.set[ObjectNode]("sort-orders", mapper.createArrayNode().add(order))
    root.put("default-sort-order-id", 0)
    root.put("current-snapshot-id", snapshotId)
    val sn = mapper.createObjectNode()
    sn.put("snapshot-id", snapshotId)
    sn.put("sequence-number", seqNum)
    sn.put("timestamp-ms", nowMs)
    sn.put("manifest-list", listPath.toString)
    sn.put("schema-id", 0)
    val summary = mapper.createObjectNode()
    summary.put("operation", "append")
    deleteManifest.foreach { case (_, _, nFiles, nRows) =>
      summary.put("added-delete-files", nFiles.toString)
      summary.put("added-position-deletes", nRows.toString)
    }
    sn.set[ObjectNode]("summary", summary)
    // snapshot history carries forward across exports (dedup by id)
    val snapshotsArr = mapper.createArrayNode()
    prevMeta.foreach(pm => IcebergMeta.elements(pm.path("snapshots"))
      .filter(_.path("snapshot-id").asLong() != snapshotId)
      .foreach(snapshotsArr.add))
    snapshotsArr.add(sn)
    root.set[ObjectNode]("snapshots", snapshotsArr)
    val logArr = mapper.createArrayNode()
    prevMeta.foreach(pm => IcebergMeta.elements(pm.path("snapshot-log"))
      .filter(_.path("snapshot-id").asLong() != snapshotId)
      .foreach(logArr.add))
    val logEntry = mapper.createObjectNode()
    logEntry.put("timestamp-ms", nowMs)
    logEntry.put("snapshot-id", snapshotId)
    logArr.add(logEntry)
    root.set[ObjectNode]("snapshot-log", logArr)

    // Hadoop-catalog commit: PUT-IF-ABSENT at scanMax+1 (never below
    // snap.version+1, keeping export versions monotone in the Delta
    // version), bumping past versions a racing expire/export already
    // published instead of overwriting a committed metadata file
    // non-atomically under a hint-following reader.
    val bytes = mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root)
    var metaVersion = math.max(snap.version + 1,
      IcebergWrite.latestVersionByScan(fs, metaDir).map(_.toLong + 1L).getOrElse(0L))
    var publishAttempts = 0
    while (!LakeFiles.putIfAbsent(
        fs, new Path(metaDir, s"v$metaVersion.metadata.json"), bytes)) {
      publishAttempts += 1
      require(publishAttempts < 1000,
        s"could not publish Iceberg export metadata under $metaDir")
      metaVersion += 1
    }
    val metaPath = new Path(metaDir, s"v$metaVersion.metadata.json")
    writeString(fs, new Path(metaDir, "version-hint.text"), metaVersion.toString)

    Exported(metaPath.toString, listPath.toString, manifestPath.toString, snapshotId)
  }

  /** Replay exported Iceberg metadata back to its file set —
    * (file_path, record_count, partition values by column) per live
    * data file. The independent reader the parity spec drives; uses
    * only version-hint + metadata JSON + Avro manifests, never the
    * Delta log.
    */
  def replay(
      spark: SparkSession,
      tablePath: String
  ): Seq[(String, Long, Map[String, Any])] = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaDir = new Path(tablePath, "metadata")
    val v = IcebergMeta.currentVersion(fs, tablePath)
    val meta = mapper.readTree(readString(fs, new Path(metaDir, s"v$v.metadata.json")))
    val snapId = meta.path("current-snapshot-id").asLong()
    val snapNode = {
      val it = meta.path("snapshots").elements()
      var found: Option[com.fasterxml.jackson.databind.JsonNode] = None
      while (it.hasNext && found.isEmpty) {
        val n = it.next()
        if (n.path("snapshot-id").asLong() == snapId) found = Some(n)
      }
      found.getOrElse(throw new IllegalArgumentException(
        s"current-snapshot-id $snapId not in snapshots of $tablePath"))
    }
    val manifests = IcebergMeta.readAvro(fs, new Path(snapNode.path("manifest-list").asText()))
      .filter(m => m.getSchema.getField("content") == null ||
        m.get("content").asInstanceOf[Int] == 0) // data manifests only
      .map(_.get("manifest_path").toString)
    manifests.flatMap { mp =>
      IcebergMeta.readAvro(fs, new Path(mp)).collect {
        case e if e.get("status").asInstanceOf[Int] != 2 => // not DELETED
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          val p = df.get("partition").asInstanceOf[GenericRecord]
          val pv = p.getSchema.getFields.asScalaSeq.map { f =>
            f.name() -> (p.get(f.name()) match {
              case u: org.apache.avro.util.Utf8 => u.toString
              case other                        => other
            })
          }.toMap
          (df.get("file_path").toString,
            df.get("record_count").asInstanceOf[Long], pv)
      }
    }
  }

  // ------------------------------------------------------ internals

  private implicit class JListOps[A](val l: java.util.List[A]) extends AnyVal {
    def asScalaSeq: Seq[A] = {
      val b = Seq.newBuilder[A]
      l.forEach(a => b += a)
      b.result()
    }
  }

  private def writeString(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8"))
    finally out.close()
  }

  private def readString(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8")
    finally in.close()
  }

  /** Iceberg value for an identity-transform partition field, parsed
    * from Delta's string-encoded partitionValues.
    */
  private[graft] def partitionValue(dt: DataType, v: Option[String]): Any = v match {
    case None => null
    case Some(s) => dt match {
      case IntegerType | ShortType | ByteType => s.toInt
      case LongType                           => s.toLong
      case StringType                         => s
      case BooleanType                        => s.toBoolean
      case DateType => java.time.LocalDate.parse(s).toEpochDay.toInt
      case other => throw new IllegalArgumentException(
        s"unsupported Iceberg partition type $other")
    }
  }

  private def avroPartitionType(dt: DataType): String = dt match {
    case IntegerType | ShortType | ByteType | DateType => "int"
    case LongType                                      => "long"
    case StringType                                    => "string"
    case BooleanType                                   => "boolean"
    case other => throw new IllegalArgumentException(
      s"unsupported Iceberg partition type $other")
  }

  /** Avro schema of one manifest entry, with Iceberg's spec field-ids
    * and a table-specific r102 partition record. Partition-struct
    * field ids are the PARTITION-SPEC ids (1000+i) — the ids an
    * Iceberg reader binds partition data by — not the source column
    * ids (those appear only as the spec's source-id).
    */
  private[graft] def manifestEntrySchema(partFields: Seq[StructField]): AvroSchema =
    manifestEntrySchema(partFields, partFields.indices.map(1000 + _))

  /** Variant for evolved partition specs, whose field ids continue
    * from `last-partition-id` instead of restarting at 1000.
    */
  private[graft] def manifestEntrySchema(
      partFields: Seq[StructField], fieldIds: Seq[Int]): AvroSchema =
    manifestEntrySchema(partFields, fieldIds, withDvFields = false)

  /** `withDvFields` appends the v3 deletion-vector data_file fields
    * (143 referenced_data_file, 144 content_offset, 145
    * content_size_in_bytes) — used only for DV delete manifests
    * ([[graft.tables.IcebergWrite.deleteWhereDv]]); v2 manifests keep
    * the v2 field set.
    */
  private[graft] def manifestEntrySchema(
      partFields: Seq[StructField], fieldIds: Seq[Int],
      withDvFields: Boolean): AvroSchema = {
    require(fieldIds.size == partFields.size,
      s"${fieldIds.size} field ids for ${partFields.size} partition fields")
    val pFields = partFields.zip(fieldIds).map { case (f, id) =>
      s"""{"name":${q(f.name)},"type":["null","${avroPartitionType(f.dataType)}"],
         |"default":null,"field-id":$id}""".stripMargin
    }.mkString(",")
    val dvFields =
      if (!withDvFields) ""
      else
        """,{"name":"referenced_data_file","type":["null","string"],"default":null,"field-id":143},
          |{"name":"content_offset","type":["null","long"],"default":null,"field-id":144},
          |{"name":"content_size_in_bytes","type":["null","long"],"default":null,"field-id":145}""".stripMargin
    val json =
      s"""{"type":"record","name":"manifest_entry","fields":[
         |{"name":"status","type":"int","field-id":0},
         |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
         |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
         |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
         |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
         |{"name":"content","type":"int","field-id":134},
         |{"name":"file_path","type":"string","field-id":100},
         |{"name":"file_format","type":"string","field-id":101},
         |{"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[$pFields]}},
         |{"name":"record_count","type":"long","field-id":103},
         |{"name":"file_size_in_bytes","type":"long","field-id":104},
         |${graft.tables.IcebergStats.manifestFieldsJson},
         |{"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null,"field-id":135}$dvFields
         |]}}]}""".stripMargin
    new AvroSchema.Parser().parse(json)
  }

  private[graft] val manifestFileSchema: AvroSchema = new AvroSchema.Parser().parse(
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
      |{"name":"deleted_rows_count","type":"long","field-id":514},
      |{"name":"partitions","type":["null",{"type":"array","element-id":508,"items":{"type":"record","name":"r508","fields":[
      |{"name":"contains_null","type":"boolean","field-id":509},
      |{"name":"contains_nan","type":["null","boolean"],"default":null,"field-id":518},
      |{"name":"lower_bound","type":["null","bytes"],"default":null,"field-id":510},
      |{"name":"upper_bound","type":["null","bytes"],"default":null,"field-id":511}
      |]}}],"default":null,"field-id":507}
      |]}""".stripMargin)

  /** Carry one manifest-list row into graft's list schema, field by
    * NAME. The `partitions` summaries are REBUILT record-by-record
    * against graft's r508 element schema (also by name, optional
    * fields defaulting) — Avro serializes nested generic records by
    * the WRITER schema's field POSITIONS, so carrying a foreign
    * writer's field_summary records verbatim (e.g. without the
    * optional contains_nan) would crash the append. Unreadable
    * summary shapes drop to null (fail-open pruning).
    */
  private[graft] def copyListRecord(
      ls: AvroSchema,
      prev: GenericRecord): GenericRecord = {
    val c = new GenericData.Record(ls)
    ls.getFields.forEach { f =>
      val v =
        if (prev.getSchema.getField(f.name()) == null)
          // v1 lists lack content/sequence_number etc.: their v2
          // semantics are 0 (data manifest, unassigned seq) — a null
          // would crash serialization of the required int/long fields
          f.schema().getType match {
            case org.apache.avro.Schema.Type.INT  => Integer.valueOf(0)
            case org.apache.avro.Schema.Type.LONG => java.lang.Long.valueOf(0L)
            case _                                => null
          }
        else if (f.name() == "partitions") rebuildSummaries(ls, prev.get("partitions"))
        else prev.get(f.name())
      c.put(f.name(), v)
    }
    c
  }

  private def rebuildSummaries(ls: AvroSchema, src: Any): AnyRef =
    try src match {
      case l: java.util.List[_] =>
        val elem = ls.getField("partitions").schema().getTypes.get(1).getElementType
        val out = new java.util.ArrayList[GenericData.Record](l.size())
        l.forEach {
          case r: GenericRecord =>
            def opt(n: String): Any =
              if (r.getSchema.getField(n) == null) null else r.get(n)
            val n = new GenericData.Record(elem)
            n.put("contains_null", opt("contains_null") == true)
            n.put("contains_nan", opt("contains_nan") match {
              case b: java.lang.Boolean => b
              case _ => null
            })
            n.put("lower_bound", opt("lower_bound") match {
              case b: java.nio.ByteBuffer => b
              case _ => null
            })
            n.put("upper_bound", opt("upper_bound") match {
              case b: java.nio.ByteBuffer => b
              case _ => null
            })
            out.add(n)
          case _ => return null
        }
        out
      case _ => null
    } catch { case _: Exception => null }

  private def q(s: String): String = "\"" + s.replace("\"", "\\\"") + "\""

  /** Depth-first Iceberg field-id assignment over a Spark schema,
    * reusing Delta column-mapping ids where present (UniForm reuses
    * them so Iceberg and Delta readers agree on column identity).
    */
  /** Iceberg primitive type JSON for a Spark type (quoted string),
    * shared by [[FieldIds]] and the append-evolution renderer.
    */
  private[graft] def primitiveJson(dt: DataType): String = dt match {
    case IntegerType | ShortType | ByteType => "\"int\""
    case LongType                           => "\"long\""
    case FloatType                          => "\"float\""
    case DoubleType                         => "\"double\""
    case BooleanType                        => "\"boolean\""
    case StringType                         => "\"string\""
    case BinaryType                         => "\"binary\""
    case DateType                           => "\"date\""
    case TimestampType                      => "\"timestamptz\""
    case TimestampNTZType                   => "\"timestamp\""
    case d: DecimalType => s""""decimal(${d.precision}, ${d.scale})""""
    case other => throw new IllegalArgumentException(
      s"unsupported Iceberg type $other")
  }

  /** Render `fields` as Iceberg schema-field JSON objects, allocating
    * ids sequentially ABOVE `startId` (nested list/map/struct ids
    * included). Returns (comma-joined field JSONs, last allocated id).
    * The additive-evolution path of the native append uses this for
    * the columns the table did not have.
    */
  private[graft] def appendFieldsJson(
      fields: Seq[StructField], startId: Int): (String, Int) = {
    var next = startId
    def alloc(): Int = { next += 1; next }
    def typeJson(dt: DataType): String = dt match {
      case s: StructType =>
        s.fields.map { f =>
          val id = alloc()
          s"""{"id":$id,"name":${q(f.name)},"required":${!f.nullable},"type":${typeJson(f.dataType)}}"""
        }.mkString("""{"type":"struct","fields":[""", ",", "]}")
      case a: ArrayType =>
        val eid = alloc()
        s"""{"type":"list","element-id":$eid,"element":${typeJson(a.elementType)},"element-required":${!a.containsNull}}"""
      case m: MapType =>
        val kid = alloc()
        val vid = alloc()
        s"""{"type":"map","key-id":$kid,"key":${typeJson(m.keyType)},"value-id":$vid,"value":${typeJson(m.valueType)},"value-required":${!m.valueContainsNull}}"""
      case other => primitiveJson(other)
    }
    val out = fields.map { f =>
      val id = alloc()
      s"""{"id":$id,"name":${q(f.name)},"required":${!f.nullable},"type":${typeJson(f.dataType)}}"""
    }.mkString(",")
    (out, next)
  }

  private[graft] final class FieldIds(schema: StructType) {
    // Implicit ids (array elements, map keys/values — which Delta
    // column mapping never ids) must start ABOVE every explicit id in
    // the schema, or an element id handed out mid-walk could collide
    // with a later column's explicit Delta column-mapping id.
    private def explicitIds(dt: DataType): Seq[Long] = dt match {
      case s: StructType => s.fields.toSeq.flatMap { f =>
        (if (f.metadata.contains(DeltaLog.FieldIdKey))
          Seq(f.metadata.getLong(DeltaLog.FieldIdKey))
        else Seq.empty) ++ explicitIds(f.dataType)
      }
      case a: ArrayType => explicitIds(a.elementType)
      case m: MapType   => explicitIds(m.keyType) ++ explicitIds(m.valueType)
      case _            => Seq.empty
    }
    private var next = explicitIds(schema).foldLeft(0L)(math.max).toInt
    private val topIds = scala.collection.mutable.LinkedHashMap.empty[String, Int]

    private def alloc(explicit: Option[Long]): Int = explicit match {
      case Some(id) => id.toInt // ≤ the pre-scanned max, never collides
      case None     => next += 1; next
    }

    private def typeJson(dt: DataType): String = dt match {
      case s: StructType =>
        val fields = s.fields.map { f =>
          val id = alloc(
            if (f.metadata.contains(DeltaLog.FieldIdKey))
              Some(f.metadata.getLong(DeltaLog.FieldIdKey))
            else None)
          s"""{"id":$id,"name":${q(f.name)},"required":${!f.nullable},"type":${typeJson(f.dataType)}}"""
        }
        fields.mkString("""{"type":"struct","fields":[""", ",", "]}")
      case a: ArrayType =>
        val eid = alloc(None)
        s"""{"type":"list","element-id":$eid,"element":${typeJson(a.elementType)},"element-required":${!a.containsNull}}"""
      case m: MapType =>
        val kid = alloc(None)
        val vid = alloc(None)
        s"""{"type":"map","key-id":$kid,"key":${typeJson(m.keyType)},"value-id":$vid,"value":${typeJson(m.valueType)},"value-required":${!m.valueContainsNull}}"""
      case other => primitiveJson(other)
    }

    // assign top-level ids eagerly so idOf works for partition specs
    private val bodyJson: String = {
      val fields = schema.fields.map { f =>
        val id = alloc(
          if (f.metadata.contains(DeltaLog.FieldIdKey))
            Some(f.metadata.getLong(DeltaLog.FieldIdKey))
          else None)
        topIds(f.name) = id
        s"""{"id":$id,"name":${q(f.name)},"required":${!f.nullable},"type":${typeJson(f.dataType)}}"""
      }
      fields.mkString(",")
    }

    def idOf(col: String): Int = topIds(col)
    def lastColumnId: Int = next

    def icebergSchemaJson(schemaId: Int): String =
      s"""{"type":"struct","schema-id":$schemaId,"fields":[$bodyJson]}"""
  }
}

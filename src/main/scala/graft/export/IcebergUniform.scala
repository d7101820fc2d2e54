package graft.export

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.tables.{DeltaLog, IcebergManifests, IcebergMeta, IcebergWrite, LakeFiles, RoaringBitmapArray}
import org.apache.avro.generic.GenericRecord
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
    val specFieldsJson = partFields.zipWithIndex.map { case (pf, i) =>
      s"""{"name":${q(pf.name)},"transform":"identity","source-id":${ids.idOf(pf.name)},"field-id":${1000 + i}}"""
    }.mkString("[", ",", "]")
    val entrySchema = IcebergManifests.manifestEntrySchema(partFields)
    val format = IcebergManifests.Format(schemaJson, 0, specFieldsJson)
    def partition(pv: Map[String, Option[String]]): Seq[Any] = partFields.map { pf =>
      IcebergManifests.partitionValue(pf.dataType, pv
        .get(snap.metadata.physicalName(pf.name)).flatten
        .orElse(pv.get(pf.name).flatten))
    }
    val manifest = IcebergManifests.write(fs,
      new Path(metaDir, s"manifest-$snapshotId-$uuid.avro"), entrySchema, format,
      deletes = false, snapshotId, seqNum) { w =>
      snap.files.zip(counts).foreach { case (f, n) =>
        w.add(0, DeltaLog.resolvePath(tablePath, f.path), "PARQUET",
          partition(f.partitionValues), n, f.size) { df =>
          // Delta per-file stats → Iceberg column bounds: the
          // exported table prunes non-partition predicates exactly
          // like a natively written one
          graft.tables.IcebergStats.putDeltaStatsFields(df, df.getSchema,
            f.stats, snap.metadata.schema,
            snap.metadata.physicalName, c => ids.idOf(c))
        }
      }
    }

    // ---- deletion vectors → position delete files ------------------
    // Each DV bitmap becomes (file_path, pos) parquet rows, one delete
    // file per partition tuple, expanded EXECUTOR-side (the driver
    // ships compressed bitmap bytes, never positions).
    val dvFiles = snap.files.filter(_.dv.exists(_.cardinality > 0))
    val deleteManifest: Option[IcebergManifests.Written] =
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
        Some(IcebergManifests.write(fs,
          new Path(metaDir, s"delete-manifest-$snapshotId-$uuid.avro"), entrySchema, format,
          deletes = true, snapshotId, seqNum) { w =>
          written.foreach { case (pv, path, len, rows) =>
            w.add(1, path, "PARQUET", partition(pv), rows, len)(_ => ()) // position deletes
          }
        })
      }

    // ---- manifest list ---------------------------------------------
    val listPath = new Path(metaDir, s"snap-$snapshotId-$uuid.avro")
    IcebergManifests.writeList(fs, listPath,
      (manifest +: deleteManifest.toSeq).map(IcebergManifests.listRow))

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
    deleteManifest.foreach { m =>
      summary.put("added-delete-files", m.addedFiles.toString)
      summary.put("added-position-deletes", m.addedRows.toString)
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

    Exported(metaPath.toString, listPath.toString, manifest.path.toString, snapshotId)
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

package graft.tables

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.{Schema => AvroSchema}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types._

/** The Avro manifest format graft writes, in one place: the manifest
  * entry and manifest-list schemas, the manifest writer (the five
  * file-level keys an Iceberg `ManifestReader` binds by, ADDED and
  * EXISTING entries, and the counts, minimum sequence number and
  * partition summaries the list row records), the list row and list
  * writer, and the lookup of the current schema and spec JSON those
  * keys carry. Every native commit ([[IcebergWrite]]), maintenance
  * action ([[IcebergMaintenance]]) and the UniForm export
  * ([[graft.export.IcebergUniform]]) writes through it.
  */
private[graft] object IcebergManifests {

  private val mapper = new ObjectMapper()

  /** What a manifest binds its entries by: the table schema JSON, and
    * the partition spec's id and fields JSON.
    */
  final case class Format(schemaJson: String, specId: Int, specJson: String) {
    def specFieldIds: Seq[Int] =
      IcebergMeta.elements(mapper.readTree(specJson)).map(_.path("field-id").asInt())
  }

  /** The current schema node of a metadata root. */
  def currentSchema(root: JsonNode): JsonNode = {
    val schemas = root.path("schemas")
    val cur = root.path("current-schema-id").asInt(0)
    IcebergMeta.elements(schemas).find(_.path("schema-id").asInt(-1) == cur)
      .getOrElse(schemas.get(0))
  }

  /** The current schema and the partition spec `specId` (the default
    * spec when None) of a metadata root.
    */
  def formatOf(root: JsonNode, specId: Option[Int] = None): Format = {
    val id = specId.getOrElse(root.path("default-spec-id").asInt(0))
    val spec = IcebergMeta.elements(root.path("partition-specs"))
      .find(_.path("spec-id").asInt(0) == id)
    Format(mapper.writeValueAsString(currentSchema(root)), id,
      spec.map(s => mapper.writeValueAsString(s.path("fields"))).getOrElse("[]"))
  }

  /** One written manifest: everything its list row records. */
  final case class Written(
      path: Path,
      length: Long,
      specId: Int,
      deletes: Boolean,
      seq: Long,
      minSeq: Long,
      snapshotId: Long,
      addedFiles: Int,
      existingFiles: Int,
      deletedFiles: Int,
      addedRows: Long,
      existingRows: Long,
      deletedRows: Long,
      summaries: java.util.List[GenericData.Record])

  /** Write one manifest at `path`: `body` appends its entries. ADDED
    * entries carry `snapshotId` and `seq`, which are also the list
    * row's added snapshot and sequence number.
    */
  def write(
      fs: FileSystem,
      path: Path,
      schema: AvroSchema,
      format: Format,
      deletes: Boolean,
      snapshotId: Long,
      seq: Long)(body: ManifestWriter => Unit): Written = {
    val w = new ManifestWriter(fs, path, schema, format, deletes, snapshotId, seq)
    try body(w) finally w.out.close()
    w.written(fs.getFileStatus(path).getLen)
  }

  final class ManifestWriter private[IcebergManifests] (
      fs: FileSystem,
      path: Path,
      schema: AvroSchema,
      format: Format,
      deletes: Boolean,
      snapshotId: Long,
      seq: Long) {
    private[IcebergManifests] val out =
      new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    out.setMeta("schema", format.schemaJson)
    out.setMeta("partition-spec", format.specJson)
    out.setMeta("partition-spec-id", format.specId.toString)
    out.setMeta("format-version", "2")
    out.setMeta("content", if (deletes) "deletes" else "data")
    out.create(schema, fs.create(path, true))

    private val dataFileSchema = schema.getField("data_file").schema()
    private val partitionSchema = dataFileSchema.getField("partition").schema()
    // indexed by entry status: 0 EXISTING, 1 ADDED, 2 DELETED
    private val files = Array(0, 0, 0)
    private val rows = Array(0L, 0L, 0L)
    private var minSeq = Long.MaxValue
    private val summary = new PartitionSummary(partitionSchema.getFields.size)
    // column ids/types from the manifest's schema JSON for the bounds
    // maps — TOP-LEVEL metadata ids only, never an idToName inversion
    // (nested leaves sharing a top-level name would misattribute
    // bounds)
    private lazy val statsColumns: (Map[String, Int], Map[String, DataType]) = {
      val (s, _) = IcebergMeta.schemaFromJson(mapper.readTree(format.schemaJson))
      (s.fields.flatMap { f =>
        if (f.metadata.contains(DeltaLog.FieldIdKey))
          Some(f.name -> f.metadata.getLong(DeltaLog.FieldIdKey).toInt)
        else None
      }.toMap, s.fields.map(f => f.name -> f.dataType).toMap)
    }

    /** Append a built entry, counting it under its status. */
    def append(e: GenericRecord): Unit = {
      val status = e.get("status").asInstanceOf[Number].intValue()
      val df = e.get("data_file").asInstanceOf[GenericRecord]
      files(status) += 1
      rows(status) += longOf(df, "record_count").getOrElse(0L)
      if (status != 2)
        minSeq = math.min(minSeq, longOf(e, "sequence_number").getOrElse(seq))
      summary.update(df.get("partition"))
      out.append(e)
    }

    /** Append an ADDED entry; `partition` holds the tuple in spec
      * order, `fill` sets any further `data_file` fields.
      */
    def add(
        content: Int,
        filePath: String,
        fileFormat: String,
        partition: Seq[Any],
        recordCount: Long,
        size: Long)(fill: GenericData.Record => Unit): Unit = {
      val p = new GenericData.Record(partitionSchema)
      partition.zipWithIndex.foreach { case (v, i) => p.put(i, v) }
      val df = new GenericData.Record(dataFileSchema)
      df.put("content", content)
      df.put("file_path", filePath)
      df.put("file_format", fileFormat)
      df.put("partition", p)
      df.put("record_count", recordCount)
      df.put("file_size_in_bytes", size)
      fill(df)
      val e = new GenericData.Record(schema)
      e.put("status", 1) // ADDED
      e.put("snapshot_id", snapshotId)
      e.put("sequence_number", seq)
      e.put("file_sequence_number", seq)
      e.put("data_file", df)
      append(e)
    }

    /** Append a staged file as ADDED: its partition tuple parsed per
      * `partFields`, for data files (content 0) its column bounds, for
      * equality deletes (content 2) the `equalityIds`.
      */
    def addStaged(
        sf: IcebergWrite.StagedFile,
        partFields: Seq[StructField],
        content: Int = 0,
        equalityIds: Seq[Int] = Nil): Unit =
      add(content, sf.path, sf.fileFormat,
        partFields.map(pf => partitionValue(pf.dataType, sf.partitionValues(pf.name))),
        sf.recordCount, sf.size) { df =>
        if (content == 0)
          IcebergStats.putStatsFields(df, dataFileSchema, sf.colStats,
            statsColumns._1, statsColumns._2, sf.recordCount)
        if (equalityIds.nonEmpty) {
          val ids = new java.util.ArrayList[Integer](equalityIds.size)
          equalityIds.foreach(i => ids.add(i))
          df.put("equality_ids", ids)
        }
      }

    /** Carry one live data-file entry of another manifest as
      * status=EXISTING with its v2 sequence numbers MATERIALIZED (an
      * inherited seq is pinned before the manifest it inherited from
      * disappears) and its column bounds kept — dropping them would
      * silently disable file skipping for every rewritten file.
      */
    def addExisting(e: GenericRecord, manifestSeq: Long, fallbackSnapshotId: Long): Unit = {
      val src = e.get("data_file").asInstanceOf[GenericRecord]
      val eSeq = longOf(e, "sequence_number").getOrElse(manifestSeq)
      val part = new GenericData.Record(partitionSchema)
      Option(src.get("partition")) match {
        case Some(p: GenericRecord) =>
          partitionSchema.getFields.forEach { f =>
            if (p.getSchema.getField(f.name()) != null) part.put(f.name(), p.get(f.name()))
          }
        case _ => ()
      }
      val df = new GenericData.Record(dataFileSchema)
      df.put("content", 0)
      df.put("file_path", src.get("file_path").toString)
      df.put("file_format",
        Option(src.get("file_format")).map(_.toString).getOrElse("PARQUET"))
      df.put("partition", part)
      df.put("record_count", longOf(src, "record_count").getOrElse(0L))
      df.put("file_size_in_bytes", longOf(src, "file_size_in_bytes").getOrElse(0L))
      IcebergStats.copyStatsFields(src, df, dataFileSchema)
      val ne = new GenericData.Record(schema)
      ne.put("status", 0) // EXISTING
      ne.put("snapshot_id", longOf(e, "snapshot_id").getOrElse(fallbackSnapshotId))
      ne.put("sequence_number", eSeq)
      ne.put("file_sequence_number", longOf(e, "file_sequence_number").getOrElse(eSeq))
      ne.put("data_file", df)
      append(ne)
    }

    private[IcebergManifests] def written(length: Long): Written =
      Written(path, length, format.specId, deletes, seq,
        if (minSeq == Long.MaxValue) seq else minSeq, snapshotId,
        files(1), files(0), files(2), rows(1), rows(0), rows(2), summary.records)
  }

  /** Manifest-list `partitions` summaries (field 507) over every
    * partition tuple a manifest holds: per spec field, contains_null
    * and [lower, upper] — what lets a reader SKIP the manifest without
    * opening it. Null (fail-open) when there is nothing to summarize
    * (unpartitioned, no entries) or a value has no orderable bound
    * encoding.
    */
  private final class PartitionSummary(n: Int) {
    private val nulls = Array.fill(n)(false)
    private val lo = new Array[Any](n)
    private val hi = new Array[Any](n)
    private var entries = 0
    private var unbounded = false

    def update(partition: Any): Unit = {
      entries += 1
      partition match {
        case p: GenericRecord if p.getSchema.getFields.size == n =>
          (0 until n).foreach { i =>
            // values read back from Avro (EXISTING entries) are Utf8
            p.get(i) match {
              case null => nulls(i) = true
              case u: org.apache.avro.util.Utf8 => bound(i, u.toString)
              case v => bound(i, v)
            }
          }
        case _ => unbounded = n > 0
      }
    }

    private def bound(i: Int, v: Any): Unit =
      if (lo(i) == null) {
        if (IcebergStats.encodePartitionBound(v).isEmpty) unbounded = true
        else { lo(i) = v; hi(i) = v }
      } else (IcebergStats.comparePartitionValues(v, lo(i)),
        IcebergStats.comparePartitionValues(v, hi(i))) match {
        case (Some(l), Some(h)) =>
          if (l < 0) lo(i) = v
          if (h > 0) hi(i) = v
        case _ => unbounded = true
      }

    def records: java.util.List[GenericData.Record] =
      if (n == 0 || entries == 0 || unbounded) null
      else {
        val elem = manifestFileSchema.getField("partitions").schema().getTypes.get(1).getElementType
        val out = new java.util.ArrayList[GenericData.Record](n)
        (0 until n).foreach { i =>
          val r = new GenericData.Record(elem)
          r.put("contains_null", nulls(i))
          // supported partition tuple types (int/long/string/boolean/
          // epoch-day date) can never be NaN — recording it lets
          // readers prune null-only summaries
          r.put("contains_nan", java.lang.Boolean.FALSE)
          Option(lo(i)).flatMap(IcebergStats.encodePartitionBound)
            .foreach(b => r.put("lower_bound", java.nio.ByteBuffer.wrap(b)))
          Option(hi(i)).flatMap(IcebergStats.encodePartitionBound)
            .foreach(b => r.put("upper_bound", java.nio.ByteBuffer.wrap(b)))
          out.add(r)
        }
        out
      }
  }

  /** The manifest-list row of a written manifest. */
  def listRow(m: Written): GenericRecord = {
    val r = new GenericData.Record(manifestFileSchema)
    r.put("manifest_path", m.path.toString)
    r.put("manifest_length", m.length)
    r.put("partition_spec_id", m.specId)
    r.put("content", if (m.deletes) 1 else 0)
    r.put("sequence_number", m.seq)
    r.put("min_sequence_number", m.minSeq)
    r.put("added_snapshot_id", m.snapshotId)
    r.put("added_files_count", m.addedFiles)
    r.put("existing_files_count", m.existingFiles)
    r.put("deleted_files_count", m.deletedFiles)
    r.put("added_rows_count", m.addedRows)
    r.put("existing_rows_count", m.existingRows)
    r.put("deleted_rows_count", m.deletedRows)
    r.put("partitions", m.summaries)
    r
  }

  /** Write a manifest list of `rows`. */
  def writeList(fs: FileSystem, path: Path, rows: Seq[GenericRecord]): Unit = {
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](manifestFileSchema))
      .create(manifestFileSchema, fs.create(path, true))
    try rows.foreach(w.append) finally w.close()
  }

  private def longOf(r: GenericRecord, f: String): Option[Long] =
    if (r.getSchema.getField(f) == null) None
    else Option(r.get(f)).map(_.asInstanceOf[Number].longValue())

  /** Iceberg value for an identity-transform partition field, parsed
    * from a string-encoded partition value (Delta partitionValues,
    * Hive path segments).
    */
  def partitionValue(dt: DataType, v: Option[String]): Any = v match {
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
  def manifestEntrySchema(partFields: Seq[StructField]): AvroSchema =
    manifestEntrySchema(partFields, partFields.indices.map(1000 + _))

  /** Variant for evolved partition specs, whose field ids continue
    * from `last-partition-id` instead of restarting at 1000.
    * `withDvFields` appends the v3 deletion-vector data_file fields
    * (143 referenced_data_file, 144 content_offset, 145
    * content_size_in_bytes) — used only for DV delete manifests
    * ([[IcebergWrite.deleteWhereDv]]); v2 manifests keep the v2 field
    * set.
    */
  def manifestEntrySchema(
      partFields: Seq[StructField], fieldIds: Seq[Int],
      withDvFields: Boolean = false): AvroSchema = {
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
         |${IcebergStats.manifestFieldsJson},
         |{"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null,"field-id":135}$dvFields
         |]}}]}""".stripMargin
    new AvroSchema.Parser().parse(json)
  }

  val manifestFileSchema: AvroSchema = new AvroSchema.Parser().parse(
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
  def copyListRecord(prev: GenericRecord): GenericRecord = {
    val c = new GenericData.Record(manifestFileSchema)
    manifestFileSchema.getFields.forEach { f =>
      val v =
        if (prev.getSchema.getField(f.name()) == null)
          // v1 lists lack content/sequence_number etc.: their v2
          // semantics are 0 (data manifest, unassigned seq) — a null
          // would crash serialization of the required int/long fields
          f.schema().getType match {
            case AvroSchema.Type.INT  => Integer.valueOf(0)
            case AvroSchema.Type.LONG => java.lang.Long.valueOf(0L)
            case _                    => null
          }
        else if (f.name() == "partitions") rebuildSummaries(prev.get("partitions"))
        else prev.get(f.name())
      c.put(f.name(), v)
    }
    c
  }

  private def rebuildSummaries(src: Any): AnyRef =
    try src match {
      case l: java.util.List[_] =>
        val elem = manifestFileSchema.getField("partitions").schema().getTypes.get(1).getElementType
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
}

package graft.tables

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.core.{Filter, Filters}
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types._

/** Iceberg table-metadata parsing for the filesystem ("Hadoop")
  * catalog layout, per the public Apache Iceberg table spec (v1/v2):
  * `metadata/version-hint.text` → `metadata/v<N>.metadata.json` →
  * Avro manifest list → Avro manifests → data/delete file entries.
  *
  * This is the metadata side only — all driver-side, checkpoint-scale
  * work (a manifest list is O(manifests), a manifest is O(files); at
  * 100 TB Iceberg's own layout keeps each manifest bounded, and
  * reading them is the same class of work as a Delta checkpoint
  * parse). The DATA path stays fully distributed in
  * [[IcebergTable]].
  */
object IcebergMeta {

  private val mapper = new ObjectMapper()

  /** One field of a partition spec. Identity and the spec's
    * bucket/truncate/time transforms all participate in pruning
    * (see [[mayMatch]]); unknown transforms read as non-prunable
    * (may-match) — correct, never fast-wrong.
    */
  final case class SpecField(name: String, transform: String, sourceId: Int, fieldId: Int)

  final case class SnapshotInfo(
      id: Long,
      sequenceNumber: Long,
      timestampMs: Long,
      manifestList: String,
      schemaId: Option[Int],
      operation: Option[String] = None,
      parentId: Option[Long] = None)

  /** A planned content file (data or delete) with the metadata the
    * scan needs. `content`: 0 = data, 1 = position deletes,
    * 2 = equality deletes. `partition` values are Avro-decoded JVM
    * values keyed by partition field NAME.
    */
  final case class ContentFile(
      content: Int,
      path: String,
      partition: Map[String, Any],
      recordCount: Long,
      sequenceNumber: Long,
      specId: Int,
      equalityIds: Seq[Int],
      /** Per-field column stats (spec data_file fields 125/128/110/
        * 109) keyed by schema FIELD ID — empty when the writer
        * recorded none (fail-open in [[mayMatch]]).
        */
      lowerBounds: Map[Int, Array[Byte]] = Map.empty,
      upperBounds: Map[Int, Array[Byte]] = Map.empty,
      nullCounts: Map[Int, Long] = Map.empty,
      valueCounts: Map[Int, Long] = Map.empty,
      fileFormat: String = "PARQUET",
      /** v3 deletion-vector fields (data_file 143/144/145): a
        * position-delete entry whose format is PUFFIN (or that
        * carries these) is a DV — read via [[IcebergPuffin]] when all
        * three are present, refused loudly otherwise (never misread
        * as parquet).
        */
      referencedDataFile: Option[String] = None,
      contentOffset: Option[Long] = None,
      contentSizeInBytes: Option[Long] = None) {

    /** A v3 Puffin-stored deletion vector (spec fields 143–145). */
    def isDeletionVector: Boolean =
      fileFormat == "PUFFIN" || contentOffset.isDefined
  }

  /** A named snapshot reference (the spec's `refs` map): `tag` pins
    * a snapshot immutably, `branch` names a movable head.
    */
  final case class SnapshotRef(snapshotId: Long, refType: String)

  final case class TableMeta(
      location: String,
      formatVersion: Int,
      currentSnapshotId: Option[Long],
      schema: StructType,
      schemaFieldIds: Map[Int, String],
      specs: Map[Int, Seq[SpecField]],
      defaultSpecId: Int,
      snapshots: Seq[SnapshotInfo],
      refs: Map[String, SnapshotRef] = Map.empty,
      /** Every LEAF name each field id has EVER carried, across the
        * metadata's full `schemas` history (current included) — the
        * rename detector: an id mapping to more than one name was
        * renamed at some point, so data files written BEFORE the
        * rename may still store the column under an old name. Empty
        * for v1 single-`schema` metadata (no history to consult).
        */
      fieldNameHistory: Map[Int, Set[String]] = Map.empty) {

    /** name → (field id, type) of TOP-LEVEL columns ONLY — the map
      * stats pruning resolves filters through. Built from the
      * per-field metadata ids, never by inverting [[schemaFieldIds]]:
      * that map also registers NESTED leaves under their leaf names,
      * and a nested field sharing a top-level column's name would
      * bind the filter to the wrong bounds (silent wrong pruning).
      * Computed once per plan, not per file; transient so executors
      * rebuild it instead of shipping it.
      */
    @transient lazy val topFieldsByName: Map[String, (Int, DataType)] =
      schema.fields.flatMap { f =>
        if (f.metadata.contains(DeltaLog.FieldIdKey))
          Some(f.name -> ((f.metadata.getLong(DeltaLog.FieldIdKey).toInt, f.dataType)))
        else None
      }.toMap
  }

  // ---------------------------------------------------- discovery

  /** Current metadata version: the MAX of `version-hint.text` (when
    * present) and the highest committed `v<N>.metadata.json` in the
    * metadata dir. The hint is advisory and last-wins in the Hadoop
    * catalog — two racing committers can leave it pointing BELOW the
    * newest committed version, and every committed metadata file is
    * immutable (put-if-absent), so the directory scan is always safe
    * to trust and one listStatus is cheap.
    */
  def currentVersion(fs: FileSystem, tableRoot: String): Int = {
    val metaDir = new Path(tableRoot, "metadata")
    val hint = new Path(metaDir, "version-hint.text")
    val hinted: Option[Int] =
      if (!fs.exists(hint)) None
      else {
        val in = fs.open(hint)
        // the hint is rewritten in place (create-truncate-write), so a
        // concurrent reader can catch it EMPTY or half-written — it is
        // advisory, so unparseable content falls back to the scan
        // instead of crashing the read
        try new String(in.readAllBytes(), "UTF-8").trim.toIntOption
        finally in.close()
      }
    val scanned: Option[Int] = {
      val vs = fs.listStatus(metaDir).map(_.getPath.getName).collect {
        case VersionedMetadata(n) => n.toInt
      }
      if (vs.isEmpty) None else Some(vs.max)
    }
    (hinted ++ scanned).maxOption.getOrElse(
      throw new IllegalArgumentException(s"no v*.metadata.json under $metaDir"))
  }

  private val VersionedMetadata = "v(\\d+)\\.metadata\\.json".r

  def load(fs: FileSystem, tableRoot: String): TableMeta = {
    val v = currentVersion(fs, tableRoot)
    val p = new Path(new Path(tableRoot, "metadata"), s"v$v.metadata.json")
    val in = fs.open(p)
    val root =
      try mapper.readTree(in)
      finally in.close()
    parse(root, tableRoot)
  }

  /** Load from an EXPLICIT metadata JSON (the `metadata-location` a
    * Hive/REST catalog returns) — no version-hint / v<N> discovery,
    * so UUID-named metadata files written by foreign engines read
    * directly once a resolver names them.
    */
  def loadAt(fs: FileSystem, tableRoot: String, metadataJson: String): TableMeta = {
    val in = fs.open(new Path(metadataJson))
    val root =
      try mapper.readTree(in)
      finally in.close()
    parse(root, tableRoot)
  }

  /** snapshot-id → parent-snapshot-id (None for parentless snapshots
    * — pre-r9 commits and foreign writers that omit it).
    */
  private[tables] def parentMap(root: JsonNode): Map[Long, Option[Long]] =
    elements(root.path("snapshots")).map { sn =>
      sn.path("snapshot-id").asLong() ->
        (if (sn.has("parent-snapshot-id")) Some(sn.path("parent-snapshot-id").asLong())
         else None)
    }.toMap

  /** Whether `ancestor` lies on `from`'s parent chain (inclusive).
    * A chain broken by a parentless snapshot conservatively answers
    * false.
    */
  private[tables] def isAncestor(root: JsonNode, from: Long, ancestor: Long): Boolean = {
    val parents = parentMap(root)
    var at = Option(from)
    while (at.isDefined) {
      if (at.contains(ancestor)) return true
      at = parents.get(at.get).flatten
    }
    false
  }

  private[tables] def parse(root: JsonNode, tableRoot: String): TableMeta = {
    val formatVersion = root.path("format-version").asInt(1)
    val schemaNode =
      if (root.has("schemas")) {
        val current = root.path("current-schema-id").asInt(0)
        elements(root.path("schemas"))
          .find(_.path("schema-id").asInt(-1) == current)
          .getOrElse(throw new IllegalArgumentException(
            s"current-schema-id $current not found in schemas"))
      } else root.path("schema") // v1 layout
    val (schema, ids) = schemaFromJson(schemaNode)
    val specs: Map[Int, Seq[SpecField]] =
      if (root.has("partition-specs"))
        elements(root.path("partition-specs")).map { s =>
          s.path("spec-id").asInt(0) -> elements(s.path("fields")).map(f =>
            SpecField(
              f.path("name").asText(),
              f.path("transform").asText(),
              f.path("source-id").asInt(),
              f.path("field-id").asInt())).toSeq
        }.toMap
      else Map(0 -> Seq.empty)
    val snapshots = elements(root.path("snapshots")).map { s =>
      SnapshotInfo(
        s.path("snapshot-id").asLong(),
        s.path("sequence-number").asLong(0L),
        s.path("timestamp-ms").asLong(),
        s.path("manifest-list").asText(),
        if (s.has("schema-id")) Some(s.path("schema-id").asInt()) else None,
        Option(s.path("summary").path("operation").asText(null)),
        if (s.has("parent-snapshot-id")) Some(s.path("parent-snapshot-id").asLong())
        else None)
    }.toSeq
    val refs: Map[String, SnapshotRef] =
      if (!root.has("refs")) Map.empty
      else {
        val b = Map.newBuilder[String, SnapshotRef]
        val rn = root.path("refs")
        rn.fieldNames().forEachRemaining { name =>
          val n = rn.path(name)
          b += name -> SnapshotRef(
            n.path("snapshot-id").asLong(), n.path("type").asText("branch"))
        }
        b.result()
      }
    TableMeta(
      location = if (root.has("location")) root.path("location").asText() else tableRoot,
      formatVersion = formatVersion,
      currentSnapshotId =
        Option(root.path("current-snapshot-id").asLong(-1L)).filter(_ >= 0),
      schema = schema,
      schemaFieldIds = ids,
      specs = specs,
      defaultSpecId = root.path("default-spec-id").asInt(0),
      snapshots = snapshots,
      refs = refs,
      fieldNameHistory =
        if (root.has("schemas")) fieldNameHistoryOf(elements(root.path("schemas")))
        else Map.empty)
  }

  /** (field id → every leaf name it has carried) over a set of schema
    * JSON nodes — a TOLERANT raw-JSON walk (never [[schemaFromJson]]:
    * historical schemas may carry since-dropped columns whose types or
    * defaults the current parser refuses, and history collection must
    * not fail a table whose CURRENT schema is readable). Recurses
    * through struct fields and list/map element types.
    */
  private[tables] def fieldNameHistoryOf(
      schemaNodes: Seq[JsonNode]): Map[Int, Set[String]] = {
    val acc = scala.collection.mutable.Map.empty[Int, Set[String]]
    def walkType(t: JsonNode): Unit =
      if (t != null && t.isObject) {
        elements(t.path("fields")).foreach { f =>
          val id = f.path("id").asInt(-1)
          val name = f.path("name").asText(null)
          if (id >= 0 && name != null)
            acc(id) = acc.getOrElse(id, Set.empty) + name
          walkType(f.path("type"))
        }
        Seq("element", "key", "value").foreach(k => walkType(t.path(k)))
      }
    schemaNodes.foreach(walkType)
    acc.toMap
  }

  // ---------------------------------------------------- schema

  /** Iceberg schema JSON → Spark StructType + (field id → column
    * name) for equality-delete resolution. Field ids are also stashed
    * in column metadata under [[DeltaLog.FieldIdKey]] so downstream
    * consumers can round-trip them.
    */
  def schemaFromJson(node: JsonNode): (StructType, Map[Int, String]) = {
    val ids = Map.newBuilder[Int, String]
    def field(f: JsonNode, underMapKey: Boolean = false): StructField = {
      val name = f.path("name").asText()
      val id = f.path("id").asInt(-1)
      if (id >= 0) ids += id -> name
      // v3 default values: files written BEFORE the column existed
      // must read the declared default (silently reading null would be
      // wrong data). Primitive defaults are stashed in the field
      // metadata ([[InitialDefaultKey]]) for the read path to fill
      // per-file — top-level, struct-nested, and (r15) under any
      // chain of list/map hops (array elements / map struct values
      // fill per element via nested `transform` lambdas). Map-KEY
      // placement and complex-typed defaults stay refused loudly.
      val hasDefault = f.has("initial-default") && !f.path("initial-default").isNull
      if (hasDefault && (underMapKey || !f.path("type").isTextual))
        throw new UnsupportedOperationException(
          s"column '$name' declares a v3 initial-default value " +
            s"(${f.path("initial-default")}) on a " +
            (if (underMapKey) "map-KEY-nested" else "complex-typed") +
            " field — defaults fill primitive fields (under any list/map " +
            "nesting of map VALUES, never keys: filling a key would " +
            "rewrite the key)")
      val mb = new MetadataBuilder()
      if (id >= 0) mb.putLong(DeltaLog.FieldIdKey, id.toLong)
      if (hasDefault) mb.putString(InitialDefaultKey, f.path("initial-default").asText())
      StructField(
        name,
        dataType(f.path("type")),
        nullable = !f.path("required").asBoolean(false),
        metadata = mb.build())
    }
    def dataType(t: JsonNode, underMapKey: Boolean = false): DataType =
      if (t.isTextual) primitive(t.asText())
      else t.path("type").asText() match {
        case "struct" =>
          StructType(elements(t.path("fields"))
            .map(field(_, underMapKey)).toArray)
        case "list" =>
          ArrayType(dataType(t.path("element"), underMapKey),
            containsNull = !t.path("element-required").asBoolean(false))
        case "map" =>
          MapType(dataType(t.path("key"), underMapKey = true),
            dataType(t.path("value"), underMapKey),
            valueContainsNull = !t.path("value-required").asBoolean(false))
        case other => throw new IllegalArgumentException(s"unsupported Iceberg type $other")
      }
    val top = node.path("fields")
    require(!top.isMissingNode, "Iceberg schema node has no fields")
    val st = StructType(elements(top).map(field(_)).toArray)
    (st, ids.result())
  }

  /** Column-metadata key carrying a v3 `initial-default` value (the
    * JSON single-value serialization's text form): rows of data files
    * that PREDATE the column read this value instead of null
    * (iceberg.apache.org/spec "Default values").
    */
  val InitialDefaultKey = "iceberg.initial-default"

  private val DecimalRe = "decimal\\(\\s*(\\d+)\\s*,\\s*(\\d+)\\s*\\)".r
  private val FixedRe = "fixed\\[\\d+\\]".r

  private def primitive(t: String): DataType = t match {
    case "boolean"       => BooleanType
    case "int"           => IntegerType
    case "long"          => LongType
    case "float"         => FloatType
    case "double"        => DoubleType
    case "date"          => DateType
    case "timestamp"     => TimestampNTZType
    case "timestamptz"   => TimestampType
    case "string"        => StringType
    case "uuid"          => StringType
    case "binary"        => BinaryType
    case DecimalRe(p, s) => DecimalType(p.toInt, s.toInt)
    case FixedRe()       => BinaryType
    case other => throw new IllegalArgumentException(s"unsupported Iceberg type $other")
  }

  // ---------------------------------------------------- planning

  /** Select the snapshot to read: explicit id, as-of-timestamp (last
    * snapshot committed at or before it), or current.
    */
  def selectSnapshot(
      meta: TableMeta,
      snapshotId: Option[Long],
      asOfTimestampMs: Option[Long]
  ): SnapshotInfo = {
    require(snapshotId.isEmpty || asOfTimestampMs.isEmpty,
      "snapshotId and asOfTimestampMs are mutually exclusive")
    snapshotId match {
      case Some(id) =>
        meta.snapshots.find(_.id == id).getOrElse(throw new IllegalArgumentException(
          s"snapshot $id not found (have ${meta.snapshots.map(_.id).mkString(", ")})"))
      case None =>
        asOfTimestampMs match {
          case Some(ts) =>
            val eligible = meta.snapshots.filter(_.timestampMs <= ts)
            require(eligible.nonEmpty,
              s"no snapshot at or before $ts (earliest: ${meta.snapshots.map(_.timestampMs).minOption.getOrElse(-1L)})")
            eligible.maxBy(_.timestampMs)
          case None =>
            val id = meta.currentSnapshotId.getOrElse(
              throw new IllegalArgumentException("table has no current snapshot"))
            meta.snapshots.find(_.id == id).getOrElse(throw new IllegalArgumentException(
              s"current-snapshot-id $id not in snapshots"))
        }
    }
  }

  /** The snapshot chain `(from, to]` in commit order — the per-commit
    * walk a changelog read replays. Resolved through the snapshots'
    * `parent-snapshot-id` links (the only lineage the spec records;
    * branch snapshots off the chain never appear); when some snapshot
    * on the walk predates parent tracking (pre-r9 commits, foreign
    * writers that omit it) the chain falls back to sequence-number
    * order over ALL snapshots in the range — correct for the linear
    * histories such writers produce, refused loudly when sequence
    * numbers tie (concurrent branches are then indistinguishable).
    */
  def lineage(meta: TableMeta, fromId: Long, toId: Long): Seq[SnapshotInfo] = {
    val byId = meta.snapshots.map(s => s.id -> s).toMap
    val from = byId.getOrElse(fromId, throw new IllegalArgumentException(
      s"snapshot $fromId not found"))
    val to = byId.getOrElse(toId, throw new IllegalArgumentException(
      s"snapshot $toId not found"))
    if (fromId == toId) return Seq.empty
    var chain = List.empty[SnapshotInfo]
    var at: Option[SnapshotInfo] = Some(to)
    var steps = 0
    while (at.isDefined && at.get.id != fromId && steps <= meta.snapshots.size) {
      chain = at.get :: chain
      at = at.get.parentId.flatMap(byId.get)
      steps += 1
    }
    if (at.exists(_.id == fromId)) chain
    else {
      val inRange = meta.snapshots
        .filter(s => s.sequenceNumber > from.sequenceNumber &&
          s.sequenceNumber <= to.sequenceNumber)
        .sortBy(_.sequenceNumber)
      val seqs = inRange.map(_.sequenceNumber)
      require(seqs.distinct.size == seqs.size,
        s"cannot order snapshots between $fromId and $toId: parent links are " +
          s"incomplete and sequence numbers tie (${seqs.mkString(", ")})")
      require(inRange.lastOption.exists(_.id == toId),
        s"snapshot $toId does not descend from $fromId")
      inRange
    }
  }

  /** Counts DRIVER-side content-file materializations ([[planFiles]]
    * calls): the scan-planning primitive is allowed to pay O(files)
    * on the driver, maintenance reachability is NOT — its spec
    * asserts this stays flat across expire/orphan runs (the
    * driverFileReplays discipline, [[DeltaLog]]:416).
    */
  private[graft] val driverContentFilePlans = new java.util.concurrent.atomic.AtomicLong

  /** One manifest-list row: path, v2 sequence number, spec, and the
    * list's file counts (what lets the read path ESTIMATE snapshot
    * file count without opening a single manifest — the distributed-
    * planning gate, [[IcebergTable]]).
    */
  /** One partition-field summary off a manifest-list row (spec
    * field_summary 509/510/511): whether the manifest holds null
    * values and the [lower, upper] over its partition tuples, in
    * spec-field order. Bounds absent = unbounded (fail-open).
    */
  final case class FieldSummary(
      containsNull: Boolean,
      lower: Option[Array[Byte]],
      upper: Option[Array[Byte]],
      /** field 518; None = writer did not record it (pre-NaN-tracking
        * writers) — unknown, so empty-bounds pruning must not fire.
        */
      containsNan: Option[Boolean] = None)

  final case class ManifestInfo(
      path: String,
      sequenceNumber: Long,
      specId: Int,
      addedFiles: Option[Int],
      existingFiles: Option[Int],
      content: Int = 0,
      /** Manifest-list `partitions` summaries (field 507) — the FIRST
        * level of the planning hierarchy: a manifest whose summaries
        * cannot match the predicate is never even OPENED. None when
        * the writer recorded none.
        */
      summaries: Option[Seq[FieldSummary]] = None)

  /** The snapshot's manifest list — O(manifests) driver work. */
  def manifestInfos(fs: FileSystem, snapshot: SnapshotInfo): Seq[ManifestInfo] =
    readAvro(fs, new Path(snapshot.manifestList)).map { m =>
      val summaries: Option[Seq[FieldSummary]] =
        if (m.getSchema.getField("partitions") == null) None
        else Option(m.get("partitions")).collect {
          case l: java.util.List[_] => l.asScalaAnySeq.collect {
            case r: GenericRecord =>
              def bytes(f: String): Option[Array[Byte]] =
                Option(r.get(f)).map(IcebergStats.toBytes).collect {
                  case b: Array[Byte] => b
                }
              FieldSummary(
                Option(r.get("contains_null")).exists(_ == true),
                bytes("lower_bound"), bytes("upper_bound"),
                containsNan =
                  if (r.getSchema.getField("contains_nan") == null) None
                  else Option(r.get("contains_nan")).collect {
                    case b: java.lang.Boolean => b.booleanValue()
                  })
          }
        }
      ManifestInfo(
        m.get("manifest_path").toString,
        longField(m, "sequence_number").getOrElse(0L),
        intField(m, "partition_spec_id").getOrElse(0),
        intField(m, "added_files_count"),
        intField(m, "existing_files_count"),
        content = intField(m, "content").getOrElse(0),
        summaries = summaries)
    }

  /** Manifest-level pruning off the list's partition summaries —
    * evaluated BEFORE a manifest is opened. Conservative: identity
    * spec fields only (transformed tuples would need transform-range
    * reasoning), DNF may-match, absent summaries/bounds fail open;
    * a field whose summary has NO bounds but containsNull holds only
    * nulls, which every operator of the (null-rejecting) filter
    * algebra fails. Delete manifests are never pruned — they apply
    * globally under their sequence gates.
    */
  def manifestMayMatch(
      mi: ManifestInfo,
      spec: Seq[SpecField],
      meta: TableMeta,
      filters: Filters.Normalized): Boolean =
    mi.content != 0 || mi.summaries.forall { sums =>
      FileSkipping.mayMatch(filters) { f =>
        spec.zip(sums).forall { case (sf, sum) =>
          val source = meta.schemaFieldIds.getOrElse(sf.sourceId, sf.name)
          if (sf.transform != "identity" || source != f.column) true
          else meta.topFieldsByName.get(source).forall { case (_, dt) =>
            if (sum.lower.isEmpty && sum.upper.isEmpty)
              // per the spec, absent bounds mean the values are all
              // null OR NaN: prune only when the writer RECORDED
              // no-NaN (Spark's NaN = NaN / NaN > x are TRUE, so a
              // hidden NaN could match)
              !(sum.containsNull && sum.containsNan.contains(false))
            else FileSkipping.statsMayMatch(f, FileSkipping.Bounds(
              sum.lower.flatMap(IcebergStats.decodeSingle(dt, _)),
              sum.upper.flatMap(IcebergStats.decodeSingle(dt, _)),
              nullCount = if (sum.containsNull) None else Some(0L),
              rowCount = None))
          }
        }
      }
    }

  /** Live (non-DELETED-status) content files of ONE manifest, with v2
    * sequence-number inheritance (a null entry sequence number
    * inherits the manifest's). Executor-safe: the per-manifest
    * primitive both the driver loop ([[planFiles]]) and the
    * distributed planner ([[IcebergTable]]) build on.
    */
  def contentFilesOfManifest(fs: FileSystem, mi: ManifestInfo): Seq[ContentFile] =
    readAvro(fs, new Path(mi.path)).collect {
      case e if intField(e, "status").getOrElse(0) != 2 =>
        val df = e.get("data_file").asInstanceOf[GenericRecord]
        val partition = Option(df.get("partition")) match {
          case Some(p: GenericRecord) =>
            p.getSchema.getFields.asScalaSeq.map(f =>
              f.name() -> avroValue(p.get(f.name()))).toMap
          case _ => Map.empty[String, Any]
        }
        ContentFile(
          content = intField(df, "content").getOrElse(0),
          path = df.get("file_path").toString,
          partition = partition,
          recordCount = longField(df, "record_count").getOrElse(-1L),
          sequenceNumber = longField(e, "sequence_number").getOrElse(mi.sequenceNumber),
          specId = mi.specId,
          equalityIds = fieldOf(df, "equality_ids") match {
            case Some(l: java.util.List[_]) =>
              l.asScalaAnySeq.map(v => v.asInstanceOf[Number].intValue())
            case _ => Seq.empty
          },
          lowerBounds = IcebergStats.boundsOf(df, "lower_bounds"),
          upperBounds = IcebergStats.boundsOf(df, "upper_bounds"),
          nullCounts = IcebergStats.countsOf(df, "null_value_counts"),
          valueCounts = IcebergStats.countsOf(df, "value_counts"),
          fileFormat = Option(df.get("file_format")).map(_.toString.toUpperCase)
            .getOrElse("PARQUET"),
          // v3 deletion-vector markers (data_file fields 143/144/145):
          // presence routes the entry to the Puffin DV reader — never
          // a silent parquet read of a Puffin file
          referencedDataFile =
            fieldOf(df, "referenced_data_file").map(_.toString),
          contentOffset = longField(df, "content_offset"),
          contentSizeInBytes = longField(df, "content_size_in_bytes"))
    }

  /** Plan the snapshot's content files: live entries of every
    * manifest in its manifest list — the DRIVER-side path (O(files)
    * on the driver; above [[IcebergTable]]'s file gate planning goes
    * distributed instead).
    */
  def planFiles(fs: FileSystem, snapshot: SnapshotInfo): Seq[ContentFile] = {
    driverContentFilePlans.incrementAndGet()
    manifestInfos(fs, snapshot).flatMap(contentFilesOfManifest(fs, _))
  }

  /** Partition pruning on manifest entries through [[FileSkipping]]
    * (DNF may-match; a file survives if any conjunction may match;
    * unknown columns and unknown transforms never prune). Identity
    * transforms compare the recorded value with
    * [[FileSkipping.partitionMayMatch]], as Delta's partitions do;
    * `bucket`/`truncate`/`year`/`month`/`day`/`hour` evaluate the
    * transform on the filter literal via [[IcebergTransforms]] —
    * equality pruning for bucket, full range pruning for the
    * order-preserving transforms.
    *
    * A spec field's SOURCE column resolves through the spec's
    * source-id (the partition field name differs from the column for
    * non-identity transforms, e.g. `ts_day`); when several spec
    * fields derive from the same column, ALL must may-match.
    */
  def mayMatch(
      file: ContentFile,
      spec: Seq[SpecField],
      meta: TableMeta,
      filters: Filters.Normalized
  ): Boolean =
    FileSkipping.mayMatch(filters) { f =>
      val partitionOk = spec.forall { sf =>
        val source = meta.schemaFieldIds.getOrElse(sf.sourceId, sf.name)
        if (source != f.column || !file.partition.contains(sf.name)) true
        else {
          val v = file.partition(sf.name)
          val dtOpt = meta.schema.fields.find(_.name == source).map(_.dataType)
          dtOpt.forall { dt =>
            IcebergTransforms.parse(sf.transform) match {
              case Some(IcebergTransforms.Identity) =>
                FileSkipping.partitionMayMatch(stringValue(v, dt), f, dt)
              case Some(t) => IcebergTransforms.mayMatch(t, dt, v, f)
              case None    => true
            }
          }
        }
      }
      // manifest column bounds (fields 125/128/110/109): prune on any
      // recorded min/max/null-count evidence — the non-partition
      // complement of the spec check above, fail-open throughout
      def statsOk: Boolean = meta.topFieldsByName.get(f.column).forall { case (id, dt) =>
        FileSkipping.statsMayMatch(f, IcebergStats.bounds(dt, id,
          file.lowerBounds, file.upperBounds, file.nullCounts, file.valueCounts,
          file.recordCount))
      }
      partitionOk && statsOk
    }

  /** Avro partition value → the string form
    * [[FileSkipping.partitionMayMatch]] compares with (dates arrive
    * as epoch-day ints → ISO).
    */
  private def stringValue(v: Any, dt: DataType): Option[String] = v match {
    case null => None
    case i: Int if dt == DateType =>
      Some(java.time.LocalDate.ofEpochDay(i.toLong).toString)
    case other => Some(other.toString)
  }

  /** JSON array node → Seq (Jackson's iterator, materialized). */
  def elements(n: JsonNode): Seq[JsonNode] = {
    val b = Seq.newBuilder[JsonNode]
    val it = n.elements()
    while (it.hasNext) b += it.next()
    b.result()
  }

  // ---------------------------------------------------- avro

  def readAvro(fs: FileSystem, p: Path): Seq[GenericRecord] = {
    val r = new DataFileReader(new FsInput(p, fs), new GenericDatumReader[GenericRecord]())
    try {
      val b = Seq.newBuilder[GenericRecord]
      while (r.hasNext) b += r.next()
      b.result()
    } finally r.close()
  }

  private[tables] def avroValue(v: Any): Any = v match {
    case u: org.apache.avro.util.Utf8 => u.toString
    case b: java.nio.ByteBuffer => // fixed/binary: Java-serializable form
      val d = b.duplicate(); val out = new Array[Byte](d.remaining()); d.get(out); out
    case other => other
  }

  /** Content-file paths of one manifest (live entries, the same
    * status gate as [[planFiles]]) — the EXECUTOR-side reachability
    * primitive: maintenance parallelizes manifest paths and calls
    * this per manifest, so no content-file set ever materializes on
    * the driver (asserted via [[driverContentFilePlans]]).
    */
  def manifestContentPaths(fs: FileSystem, manifestPath: Path): Seq[String] =
    readAvro(fs, manifestPath).collect {
      case e if intField(e, "status").getOrElse(0) != 2 =>
        e.get("data_file").asInstanceOf[GenericRecord].get("file_path").toString
    }

  private def fieldOf(r: GenericRecord, name: String): Option[Any] =
    if (r.getSchema.getField(name) != null) Option(r.get(name)) else None

  private def longField(r: GenericRecord, name: String): Option[Long] =
    fieldOf(r, name).map(_.asInstanceOf[Number].longValue())

  private def intField(r: GenericRecord, name: String): Option[Int] =
    fieldOf(r, name).map(_.asInstanceOf[Number].intValue())

  private[tables] implicit class JListOps[A](val l: java.util.List[A]) extends AnyVal {
    def asScalaSeq: Seq[A] = {
      val b = Seq.newBuilder[A]
      l.forEach(a => b += a)
      b.result()
    }
    def asScalaAnySeq: Seq[Any] = {
      val b = Seq.newBuilder[Any]
      l.forEach(a => b += a)
      b.result()
    }
  }
}

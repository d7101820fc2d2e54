package graft.tables

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import scala.collection.mutable

/** Delta Lake transaction-log replay — the format layer under the
  * reference's DeltalakeTable (deltalake_table.py:286-300 exposes
  * `DeltaTable(table_uri, version=...)`; delta-rs does exactly this
  * replay natively). Implemented from the public Delta protocol spec
  * (github.com/delta-io/delta PROTOCOL.md):
  *
  *  - `_delta_log/%020d.json` — one JSON action per line
  *    (`protocol`, `metaData`, `add`, `remove`, `commitInfo`, `txn`);
  *  - `_delta_log/%020d.checkpoint.parquet` — the same actions
  *    columnarized, one action per row, replacing the JSON prefix;
  *  - snapshot state at version V = latest checkpoint ≤ V, then the
  *    JSON commits (cp, V] replayed in order: `add` inserts a file
  *    into the active set (keyed by path), `remove` deletes it,
  *    `metaData` swaps the schema (schema evolution).
  *
  * Scale notes: the log is small relative to the data (one action per
  * file operation) and is replayed driver-side — the same thing every
  * Delta reader does. File skipping happens on the replayed `add`
  * list BEFORE any data is opened: partition pruning on
  * `partitionValues` and min/max skipping on the per-file `stats`
  * JSON, so a 100 TB table with a selective predicate opens only the
  * surviving files. Checkpoints keep replay O(commits since last
  * checkpoint) instead of O(table history).
  */
object DeltaLog {

  /** An active data file from the replayed log. `partitionValues` maps
    * partition column → string value (None encodes a null partition
    * value, per the protocol). `dv` is the file's deletion vector, if
    * any ([[DeletionVectors]]).
    */
  final case class AddFile(
      path: String,
      partitionValues: Map[String, Option[String]],
      size: Long,
      stats: Option[String],
      dv: Option[DeletionVectors.DvDescriptor] = None,
      /** Protocol-optional per-file tags. Used by incremental ZORDER
        * to mark which clustering spec wrote a file.
        */
      tags: Map[String, String] = Map.empty,
      /** Row tracking (`rowTracking` writer feature): the fresh row id
        * of row i of this file is `baseRowId + i`; files written
        * before the feature was enabled have none (their row ids read
        * as null).
        */
      baseRowId: Option[Long] = None,
      /** The commit version stamped on this file's rows when the file
        * was added (row tracking's `row_commit_version`).
        */
      defaultRowCommitVersion: Option[Long] = None
  )

  /** Reader-protocol table features this implementation supports
    * (minReaderVersion 3 gates on them). columnMapping covers both
    * "name" mode (physical-name matching) and "id" mode (parquet
    * field-id matching via Spark's `parquet.field.id` reader).
    * timestampNtz maps directly onto Spark's native TimestampNTZType
    * (schemaString `timestamp_ntz` parses through DataType.fromJson).
    */
  val SupportedReaderFeatures: Set[String] =
    Set("deletionVectors", "columnMapping", "timestampNtz", "v2Checkpoints",
      // scan-time widening of narrower physical types is native to
      // the parquet reader (see DeltaDdl.widens)
      "typeWidening",
      // VARIANT columns map onto Spark's native VariantType (binary
      // metadata+value encoding handled by the parquet reader)
      "variantType")

  /** The table's `protocol` action (latest wins during replay). The
    * checkpoint writer preserves this verbatim instead of
    * reconstructing it, so external readers see the table's true
    * requirements (column mapping, timestampNtz, DVs) after replaying
    * from a checkpoint.
    */
  final case class Protocol(
      minReaderVersion: Int,
      minWriterVersion: Int,
      readerFeatures: Option[Seq[String]],
      writerFeatures: Option[Seq[String]])
      extends DeltaActions.Action {

    /** This protocol upgraded to also support the `reader`
      * (reader+writer) and `writer` table features — the one rule
      * every protocol upgrade follows, per the public protocol's
      * feature table. Per side: a feature-listing protocol (reader 3,
      * writer 7) gains the names; a legacy one bumps to the lowest
      * legacy version implying them, and failing that converts to the
      * feature-listing form with the features its (bumped) legacy
      * version implied spelled out. A feature-listing reader needs a
      * feature-listing writer. Equal to `this` when nothing is
      * missing.
      */
    def withFeatures(reader: Seq[String], writer: Seq[String]): Protocol = {
      val (rv, rf) = Protocol.upgrade(Protocol.LegacyReader, 3,
        minReaderVersion, readerFeatures, reader, toFeatureForm = false)
      val (wv, wf) = Protocol.upgrade(Protocol.LegacyWriter, 7,
        minWriterVersion, writerFeatures, writer, toFeatureForm = rv >= 3)
      Protocol(rv, wv, rf, wf)
    }
  }

  object Protocol {
    val Base: Protocol = Protocol(1, 2, None, None)

    /** The features each legacy version introduces (a version implies
      * its own and every lower version's).
      */
    private val LegacyReader = Seq(2 -> Seq("columnMapping"))
    private val LegacyWriter = Seq(
      2 -> Seq("appendOnly", "invariants"),
      3 -> Seq("checkConstraints"),
      4 -> Seq("changeDataFeed", "generatedColumns"),
      5 -> Seq("columnMapping"),
      6 -> Seq("identityColumns"))

    private def upgrade(
        legacy: Seq[(Int, Seq[String])],
        featureForm: Int,
        version: Int,
        listed: Option[Seq[String]],
        want: Seq[String],
        toFeatureForm: Boolean
    ): (Int, Option[Seq[String]]) =
      if (version >= featureForm) {
        val have = listed.getOrElse(Seq.empty)
        val missing = want.distinct.filterNot(have.contains)
        (version, if (missing.isEmpty) listed else Some(have ++ missing))
      } else {
        val bumped = (version +: want.flatMap(f =>
          legacy.collectFirst { case (v, fs) if fs.contains(f) => v })).max
        val have = legacy.filter(_._1 <= bumped).flatMap(_._2)
        val missing = want.distinct.filterNot(have.contains)
        if (missing.isEmpty && !toFeatureForm) (bumped, listed)
        else (featureForm, Some(have ++ missing))
      }
  }

  final case class Metadata(
      schemaString: String,
      partitionColumns: Seq[String],
      configuration: Map[String, String] = Map.empty,
      id: String = "",
      createdTime: Option[Long] = None
  ) extends DeltaActions.Action {
    lazy val schema: StructType = DataType.fromJson(schemaString).asInstanceOf[StructType]

    /** `delta.columnMapping.mode`: "none" (physical = logical),
      * "name" (parquet files + partitionValues + stats use per-field
      * physical names from the schema metadata) or "id" (same
      * physical-name keying for partitionValues/stats, but parquet
      * COLUMN matching is by field id — the per-field
      * `delta.columnMapping.id`, which the protocol requires id-mode
      * readers to honor because file column names are not guaranteed
      * stable).
      */
    def columnMappingMode: String =
      configuration.getOrElse("delta.columnMapping.mode", "none") match {
        case "" => "none"
        case m  => m
      }
    def isColumnMapped: Boolean = columnMappingMode != "none"

    /** Physical name of a top-level logical column (identity without
      * column mapping).
      */
    def physicalName(logical: String): String =
      if (!isColumnMapped) logical
      else schema.fields.find(_.name == logical) match {
        case Some(f) if f.metadata.contains(PhysicalNameKey) =>
          f.metadata.getString(PhysicalNameKey)
        case _ => logical
      }

    /** The schema as stored in the parquet files: every (nested) field
      * renamed to its physical name; under id mode each field also
      * carries `parquet.field.id` metadata so Spark's parquet reader
      * matches columns by field id instead of name.
      */
    lazy val physicalSchema: StructType =
      if (!isColumnMapped) schema
      else toPhysical(schema).asInstanceOf[StructType]

    private def toPhysical(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map { f =>
        val name =
          if (f.metadata.contains(PhysicalNameKey)) f.metadata.getString(PhysicalNameKey)
          else f.name
        val md =
          if (columnMappingMode == "id" && f.metadata.contains(FieldIdKey))
            new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
              .putLong(ParquetFieldIdKey, f.metadata.getLong(FieldIdKey)).build()
          else f.metadata
        f.copy(name = name, dataType = toPhysical(f.dataType), metadata = md)
      })
      case a: ArrayType => a.copy(elementType = toPhysical(a.elementType))
      case m: MapType =>
        m.copy(keyType = toPhysical(m.keyType), valueType = toPhysical(m.valueType))
      case other => other
    }
  }

  /** An action's `path` is table-relative OR absolute (the protocol
    * allows both; shallow clones reference source files absolutely).
    */
  def resolvePath(base: String, p: String): String =
    if (p.startsWith("/") || p.matches("^[A-Za-z][A-Za-z0-9+.-]*:/.*")) p
    else s"$base/$p"

  val PhysicalNameKey = "delta.columnMapping.physicalName"
  /** Per-field column id assigned by id-mode column mapping. */
  val FieldIdKey = "delta.columnMapping.id"
  /** Spark's parquet field-id metadata key (ParquetUtils). */
  val ParquetFieldIdKey = "parquet.field.id"

  final case class Snapshot(
      version: Long,
      metadata: Metadata,
      files: Seq[AddFile],
      protocol: Protocol = Protocol.Base,
      /** `txn` (SetTransaction) high-water marks: appId → last
        * committed transaction version — the protocol's idempotent-
        * writer mechanism (a streaming sink skips batches it already
        * committed).
        */
      txns: Map[String, Long] = Map.empty,
      /** `domainMetadata` actions (writer feature): domain →
        * configuration JSON, latest per domain wins, `removed`
        * tombstones drop the domain. System domains (`delta.`-prefixed,
        * e.g. `delta.rowTracking`'s row-id high-water mark) and user
        * domains replay identically.
        */
      domains: Map[String, String] = Map.empty) {
    def schema: StructType = metadata.schema

    /** Row-id high-water mark from the `delta.rowTracking` domain
      * (-1 when absent: the next fresh row id is always hwm + 1).
      */
    def rowIdHighWaterMark: Long =
      domains.get(RowTrackingDomain)
        .map(c => mapper.readTree(c).path("rowIdHighWaterMark").asLong(-1L))
        .getOrElse(-1L)
  }

  val RowTrackingDomain = "delta.rowTracking"

  /** A vacuum tombstone: a `remove` action surviving in the log (JSON
    * commits or checkpoint tombstone rows). `deletionTimestamp` is
    * when the file stopped being part of the table — the clock the
    * retention window runs on (NOT the data file's own mtime: a file
    * written long ago but removed a second ago must survive vacuum for
    * the full retention so concurrent readers and recent time travel
    * keep working). `dv` is the deletion vector the removed entry
    * carried, so the DV file gets the same retention protection.
    */
  final case class Tombstone(
      path: String,
      deletionTimestamp: Long,
      dv: Option[DeletionVectors.DvDescriptor])

  private val mapper = new ObjectMapper()

  private val JsonCommit = raw"(\d{20})\.json".r
  private val CheckpointFile = raw"(\d{20})\.checkpoint\.parquet".r
  private val MultiPartCheckpointFile = raw"(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet".r
  // v2 checkpoint manifest: UUID-named, parquet or JSON-lines, file
  // actions inline or deferred to `_delta_log/_sidecars/*.parquet`
  // (the `v2Checkpoints` table feature). The unique-string segment has
  // no dots, so it cannot collide with the multi-part pattern.
  private val V2CheckpointFile = raw"(\d{20})\.checkpoint\.([^.]+)\.(json|parquet)".r

  def logDir(tablePath: String): Path = new Path(tablePath, "_delta_log")

  /** Directory for v2-checkpoint sidecar files. */
  def sidecarDir(tablePath: String): Path = new Path(logDir(tablePath), "_sidecars")

  /** All file paths of a checkpoint at `version` with `parts` parts
    * (classic single-file name for parts=1, `%020d.checkpoint.%010d.
    * %010d.parquet` otherwise, per the protocol).
    */
  def checkpointPaths(tablePath: String, version: Long, parts: Int): Seq[Path] =
    if (parts <= 1) Seq(new Path(logDir(tablePath), f"$version%020d.checkpoint.parquet"))
    else (1 to parts).map(i =>
      new Path(logDir(tablePath), f"$version%020d.checkpoint.$i%010d.$parts%010d.parquet"))

  /** The `_last_checkpoint` hint: checkpoint version, part count and
    * action count (0 when unrecorded).
    */
  private final case class LastCheckpoint(version: Long, parts: Int, size: Long)

  /** Invalid/corrupt hints degrade to a directory listing, never to an
    * error.
    */
  private def readLastCheckpoint(fs: FileSystem, tablePath: String): Option[LastCheckpoint] = {
    val p = new Path(logDir(tablePath), "_last_checkpoint")
    try {
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val text =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val node = mapper.readTree(text)
        def opt(f: String) = Option(node.get(f)).filterNot(_.isNull)
        Some(LastCheckpoint(node.get("version").asLong(),
          opt("parts").map(_.asInt()).getOrElse(1), opt("size").map(_.asLong()).getOrElse(0L)))
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Cheap UPPER-BOUND estimate of the live file count at `versionAsOf`
    * (default latest), readable WITHOUT materializing any add rows:
    * the newest usable checkpoint's `_last_checkpoint` `size` (its
    * total action count bounds its adds) plus the JSON tail's byte
    * length divided by a conservative floor bytes-per-add-action.
    * One log-dir listing + one tiny file read — O(commits) driver
    * work, never O(files). Overestimating is safe: it switches a read
    * to distributed planning early, never keeps a 10⁷-file table on
    * the driver path.
    */
  def estimateFileCount(
      spark: SparkSession,
      tablePath: String,
      versionAsOf: Option[Long] = None
  ): Long = {
    val dir = logDir(tablePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return 0L
    val statuses = fs.listStatus(dir).filter(_.isFile)
    val jsonSizes: Map[Long, Long] = statuses.flatMap(s => s.getPath.getName match {
      case JsonCommit(v) => Some(v.toLong -> s.getLen)
      case _             => None
    }).toMap
    val cpVersions = statuses.flatMap(_.getPath.getName match {
      case CheckpointFile(v)                => Some(v.toLong)
      case MultiPartCheckpointFile(v, _, _) => Some(v.toLong)
      case V2CheckpointFile(v, _, _)        => Some(v.toLong)
      case _                                => None
    })
    val known = jsonSizes.keySet ++ cpVersions
    if (known.isEmpty) return 0L
    val target = versionAsOf.getOrElse(known.max)
    val cpV = cpVersions.filter(_ <= target).maxOption
    // `_last_checkpoint` carries the action count when it matches the
    // chosen checkpoint version; otherwise fall back to 0 and let the
    // tail term dominate (a checkpoint without a readable size means
    // the estimate is weaker, not wrong — the JSON tail since the
    // checkpoint still bounds post-checkpoint adds)
    val cpActions: Long = cpV.map { v =>
      readLastCheckpoint(fs, tablePath).filter(_.version == v).map(_.size).getOrElse(0L)
    }.getOrElse(0L)
    val tailFrom = cpV.map(_ + 1L).getOrElse(0L)
    val tailBytes = jsonSizes.collect {
      case (v, len) if v >= tailFrom && v <= target => len
    }.sum
    // an add action with stats serializes to well over 150 bytes; the
    // floor makes the division an over-count (the safe direction)
    cpActions + tailBytes / 150
  }

  def isDeltaTable(spark: SparkSession, tablePath: String): Boolean = {
    val dir = logDir(tablePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(dir) && fs.listStatus(dir).exists(s => s.getPath.getName match {
      case JsonCommit(_) | CheckpointFile(_) | MultiPartCheckpointFile(_, _, _) |
          V2CheckpointFile(_, _, _) => true
      case _ => false
    })
  }

  /** Latest committed version, or None for a non-delta directory. */
  def latestVersion(spark: SparkSession, tablePath: String): Option[Long] = {
    val (jsons, cps) = listLog(spark, tablePath)
    (jsons.keySet ++ cps.keySet).maxOption
  }

  /** `commitInfo.inCommitTimestamp` of a commit JSON, when the commit
    * carries one (tables with `delta.enableInCommitTimestamps`).
    */
  def inCommitTimestampOf(fs: FileSystem, jsonPath: Path): Option[Long] =
    DeltaActions.read(fs, jsonPath, _ == "commitInfo").collectFirst {
      case DeltaActions.CommitInfo(_, _, Some(ict), _) => ict
    }

  /** The next monotonic in-commit timestamp for a commit at
    * `prevVersion + 1`: wall clock, but never ≤ the previous commit's
    * ICT (the protocol requires strictly increasing values).
    */
  def nextInCommitTimestamp(
      spark: SparkSession, tablePath: String, prevVersion: Option[Long]): Long = {
    val dir = logDir(tablePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = prevVersion.flatMap { v =>
      val p = new Path(dir, f"$v%020d.json")
      if (fs.exists(p)) inCommitTimestampOf(fs, p) else None
    }
    math.max(System.currentTimeMillis(), prev.map(_ + 1).getOrElse(Long.MinValue))
  }

  /** Version active at `tsMillis`: the greatest version whose commit
    * happened at or before it. Per the protocol, a commit's timestamp
    * is the modification time of its JSON file (in-commit timestamps
    * aside). Only versions whose JSON still exists are resolvable —
    * a timestamp older than the surviving log refuses rather than
    * guessing.
    */
  def versionAtTimestamp(spark: SparkSession, tablePath: String, tsMillis: Long): Long = {
    val dir = logDir(tablePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (jsons, _) = listLog(spark, tablePath)
    require(jsons.nonEmpty, s"$tablePath has no JSON commits to resolve a timestamp against")
    // a commit carrying commitInfo.inCommitTimestamp (the
    // `inCommitTimestamp` writer feature) is timestamped by that value;
    // otherwise by its file's modification time, per the protocol
    val timed = jsons.toSeq.map { case (v, p) =>
      (v, inCommitTimestampOf(fs, p).getOrElse(fs.getFileStatus(p).getModificationTime))
    }
    val atOrBefore = timed.filter(_._2 <= tsMillis)
    require(atOrBefore.nonEmpty,
      s"no commit in $tablePath at or before timestamp $tsMillis " +
        s"(earliest surviving commit: ${timed.minBy(_._2)._2})")
    atOrBefore.maxBy(_._1)._1
  }

  /** Replay the log to the requested version (default: latest).
    * Fails loudly on unsupported reader features (deletion vectors,
    * column mapping) rather than returning wrong rows.
    *
    * `withFiles = false` is the METADATA-ONLY replay: add/remove
    * actions are skipped entirely — checkpoint parquet reads prune to
    * the metaData/protocol/txn columns and sidecars (which carry only
    * file actions per the protocol) are never opened — so driver
    * memory and collect volume are O(commits + txns), independent of
    * the table's file count. The scale entry point for 10⁷-file
    * tables, paired with [[DeltaFilesDataset]] for the file state.
    */
  /** Test observability: counts driver-side FULL file-list replays
    * (`snapshot(withFiles = true)`). Specs assert the auto-gated
    * distributed read path never bumps it.
    */
  private[graft] val driverFileReplays = new java.util.concurrent.atomic.AtomicLong

  /** Test observability: counts single-job checkpoint metadata folds
    * (one bump per checkpoint/sidecar dataframe whose metadata columns
    * were aggregated). Specs assert the metadata-only snapshot does
    * exactly one fold per checkpoint df and collects exactly one row.
    */
  private[graft] val checkpointMetaJobs = new java.util.concurrent.atomic.AtomicLong

  def snapshot(
      spark: SparkSession,
      tablePath: String,
      versionAsOf: Option[Long] = None,
      withFiles: Boolean = true
  ): Snapshot = {
    if (withFiles) driverFileReplays.incrementAndGet()
    val fs = logDir(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (jsons, cps) = listLog(spark, tablePath)
    val known = jsons.keySet ++ cps.keySet
    if (known.isEmpty) {
      // distinguish "nothing here" from "the only checkpoint is
      // unusable" (e.g. a multi-part set missing parts after the JSON
      // prefix was aged out)
      readLastCheckpoint(fs, tablePath) match {
        case Some(lc) => throw new IllegalArgumentException(
          s"$tablePath: _last_checkpoint names checkpoint version ${lc.version} " +
            s"(${lc.parts} part(s)) " +
            "but its files are missing or incomplete, and no JSON commits remain")
        case None => throw new IllegalArgumentException(s"$tablePath has no Delta log")
      }
    }
    val target = versionAsOf.getOrElse(known.max)
    require(known.exists(_ <= target), s"version $target predates the log in $tablePath")

    val active = mutable.LinkedHashMap.empty[String, AddFile]
    val txns = mutable.Map.empty[String, Long]
    val domains = mutable.Map.empty[String, String]
    var meta: Option[Metadata] = None
    var protocol: Protocol = Protocol.Base

    // checkpoint base: the `_last_checkpoint` hint names the newest
    // checkpoint without a listing scan (and is how aged-out logs are
    // meant to be entered); take the newer of the hint and the listing,
    // capped at the target version
    val cpChoice: Option[(Long, Seq[Path])] =
      checkpointChoice(fs, tablePath, cps, target)

    val cpVersion = cpChoice.map(_._1)
    val sidecars = Seq.newBuilder[String]
    // the metadata-only replay skips file actions undecoded
    val wanted: String => Boolean = k => withFiles || (k != "add" && k != "remove")
    def apply(a: DeltaActions.Action): Unit = a match {
      case p: Protocol =>
        // reader versions 1-2 are plain parquet + log; version 3
        // gates on explicit table features — read only when every
        // listed feature is implemented, refuse otherwise rather
        // than silently return wrong rows.
        if (p.minReaderVersion >= 3) {
          require(p.minReaderVersion == 3,
            s"unsupported Delta reader protocol version ${p.minReaderVersion} in $tablePath: $p")
          val unsupported = p.readerFeatures.getOrElse(Seq.empty).toSet -- SupportedReaderFeatures
          require(unsupported.isEmpty,
            s"unsupported Delta reader features $unsupported in $tablePath")
        }
        protocol = p
      case m: Metadata =>
        require(Seq("none", "name", "id").contains(m.columnMappingMode),
          s"Delta column mapping mode '${m.columnMappingMode}' is not supported in $tablePath")
        meta = Some(m)
      case DeltaActions.Add(f, _, _) => active += f.path -> f
      case r: DeltaActions.Remove    => active -= r.path
      case DeltaActions.Txn(appId, v, _) =>
        txns(appId) = math.max(txns.getOrElse(appId, Long.MinValue), v)
      case d: DeltaActions.DomainMetadata =>
        if (d.removed) domains -= d.domain else domains(d.domain) = d.configuration
      case DeltaActions.CheckpointMetadata(v) =>
        require(cpVersion.contains(v),
          s"v2 checkpoint in $tablePath declares version $v, expected ${cpVersion.getOrElse(-1L)}")
      case s: DeltaActions.Sidecar => sidecars += s.path
      case _                       => ()
    }

    // apply a checkpoint (or sidecar) dataframe; its removes are
    // vacuum tombstones, not active state.
    //
    // Metadata is folded in ONE aggregation job: `collect_list` (which
    // skips null rows) gathers the ≤1-per-checkpoint protocol /
    // metaData / checkpointMetadata rows and the bounded txn /
    // domainMetadata / sidecar sets executor-side, and the driver
    // collects a single row — it never iterates checkpoint rows for
    // metadata, so the metadata-only replay's driver cost is O(appIds
    // + domains + sidecars) regardless of table file count or commit
    // count (this was the last per-action driver loop on the
    // checkpoint path).
    def applyCheckpointDf(cp: org.apache.spark.sql.DataFrame): Unit = {
      import org.apache.spark.sql.functions.{col => fcol, collect_list}
      val cols = cp.columns.toSet
      val metaCols = Seq("protocol", "metaData", "txn", "domainMetadata",
        "checkpointMetadata", "sidecar").filter(cols.contains)
      if (metaCols.nonEmpty) {
        checkpointMetaJobs.incrementAndGet()
        val aggs = metaCols.map(n => collect_list(fcol(n)).as(n))
        val row = cp.agg(aggs.head, aggs.tail: _*).collect()(0)
        metaCols.foreach(n => row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](n)
          .foreach(r => DeltaActions.fromRow(n, r).foreach(apply)))
      }
      if (withFiles && cols.contains("add"))
        cp.select("add").where("add IS NOT NULL").collect()
          .foreach(r => DeltaActions.fromRow("add", r.getStruct(0)).foreach(apply))
    }

    cpChoice.foreach { case (_, paths) =>
      // a v2 JSON-lines manifest (UUID-named) or parquet; file actions
      // may be inline or deferred to sidecars
      if (paths.size == 1 && paths.head.getName.endsWith(".json"))
        DeltaActions.read(fs, paths.head, wanted).foreach(apply)
      else applyCheckpointDf(spark.read.parquet(paths.map(_.toString): _*))
      // sidecars carry only file actions (per the v2 protocol), so the
      // metadata-only replay never opens them
      val sidecarNames = sidecars.result()
      if (withFiles && sidecarNames.nonEmpty) {
        val scPaths = sidecarNames.map(n => new Path(sidecarDir(tablePath), n))
        scPaths.foreach(p => require(fs.exists(p),
          s"v2 checkpoint of $tablePath references a missing sidecar file: $p"))
        applyCheckpointDf(spark.read.parquet(scPaths.map(_.toString): _*))
      }
    }

    // JSON replay after the checkpoint. Every version is one JSON
    // commit — a hole in (checkpointVersion, target] means the log
    // prefix was aged out without a usable checkpoint covering it
    // (e.g. an incomplete multi-part set): replaying across it would
    // silently drop files, so refuse loudly instead.
    val replayFrom = cpVersion.map(_ + 1L).getOrElse(0L)
    val missing = (replayFrom to target).filterNot(jsons.contains)
    require(missing.isEmpty,
      s"Delta log of $tablePath has no commits for versions " +
        s"${missing.mkString(", ")} and no complete checkpoint covers them " +
        "(aged-out prefix or incomplete multi-part checkpoint)")
    (replayFrom to target).foreach(v => DeltaActions.read(fs, jsons(v), wanted).foreach(apply))

    val m = meta.getOrElse(
      throw new IllegalStateException(s"no metaData action found in the log of $tablePath"))
    Snapshot(target, m, active.values.toSeq, protocol, txns.toMap, domains.toMap)
  }

  /** All vacuum tombstones visible in the log: remove actions from the
    * surviving JSON commits plus the tombstone rows of the newest
    * checkpoint (the checkpoint carries unexpired tombstones forward
    * when the JSON prefix is cleaned up). Distinct (path, dv) pairs —
    * a file whose DV was replaced twice leaves one tombstone per old
    * DV, and each DV file needs its own retention clock. A remove
    * without a `deletionTimestamp` (it is optional in the protocol)
    * falls back to its commit file's mtime.
    */
  def tombstones(
      spark: SparkSession,
      tablePath: String,
      versionAsOf: Option[Long] = None
  ): Seq[Tombstone] = {
    val dir = logDir(tablePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (jsonsAll, cpsAll) = listLog(spark, tablePath)
    // pin to a version so callers (e.g. the distributed checkpoint)
    // see the same log prefix as the snapshot they paired this with,
    // even if a concurrent commit lands mid-call
    val jsons = versionAsOf.fold(jsonsAll)(v => jsonsAll.filter(_._1 <= v))
    val cps = versionAsOf.fold(cpsAll)(v => cpsAll.filter(_._1 <= v))
    val out = mutable.Map.empty[(String, Option[DeletionVectors.DvDescriptor]), Long]
    val sidecars = Seq.newBuilder[String]
    // a missing deletionTimestamp must NOT make the tombstone
    // instantly vacuum-eligible (0L would) — the file it came from
    // bounds the removal time
    def record(fallbackTs: => Long)(a: DeltaActions.Action): Unit = a match {
      case r: DeltaActions.Remove =>
        val k = (r.path, r.dv)
        out(k) = math.max(out.getOrElse(k, Long.MinValue), r.deletionTimestamp.getOrElse(fallbackTs))
      case s: DeltaActions.Sidecar => sidecars += s.path
      case _                       => ()
    }
    def recordRows(cp: org.apache.spark.sql.DataFrame, fallbackTs: Long): Unit =
      Seq("remove", "sidecar").filter(cp.columns.contains).foreach { c =>
        cp.select(c).where(s"$c IS NOT NULL").collect()
          .foreach(r => DeltaActions.fromRow(c, r.getStruct(0)).foreach(record(fallbackTs)))
      }

    cps.toSeq.maxByOption(_._1).foreach { case (_, paths) =>
      val cpMtime = paths.map(p => fs.getFileStatus(p).getModificationTime).max
      if (paths.size == 1 && paths.head.getName.endsWith(".json"))
        DeltaActions.read(fs, paths.head, Set("remove", "sidecar")).foreach(record(cpMtime))
      else recordRows(spark.read.parquet(paths.map(_.toString): _*), cpMtime)
      val scPaths = sidecars.result().map(n => new Path(sidecarDir(tablePath), n))
      // vacuum decides what to DELETE from this list — a silently
      // dropped sidecar would hide tombstones and delete live files,
      // so refuse exactly like snapshot() does
      scPaths.foreach(p => require(fs.exists(p),
        s"v2 checkpoint of $tablePath references a missing sidecar file: $p"))
      if (scPaths.nonEmpty)
        recordRows(spark.read.parquet(scPaths.map(_.toString): _*), cpMtime)
    }

    jsons.toSeq.sortBy(_._1).foreach { case (_, p) =>
      lazy val mtime = fs.getFileStatus(p).getModificationTime
      DeltaActions.read(fs, p, _ == "remove").foreach(record(mtime))
    }
    out.toSeq.map { case ((path, dv), ts) => Tombstone(path, ts, dv) }
  }

  /** A change-data file (`cdc` action): rows this commit
    * updated/deleted, stored under `_change_data/` with a
    * `_change_type` column. `dataChange` is always false on cdc
    * actions (the data files already carry the table state).
    */
  final case class CdcFile(
      path: String,
      partitionValues: Map[String, Option[String]],
      size: Long)

  /** Everything the change-data-feed reader needs about one commit:
    * its cdc files plus the dataChange add/remove actions (removes
    * carried as AddFile so the removed file can be re-read to derive
    * delete rows — valid until vacuum reclaims it).
    */
  final case class VersionChanges(
      version: Long,
      timestamp: Long,
      cdc: Seq[CdcFile],
      adds: Seq[AddFile],
      removes: Seq[AddFile])

  /** Per-version change actions for versions [fromVersion, toVersion],
    * from the JSON commits (CDF reads need the per-commit action list,
    * which checkpoints do not preserve — an aged-out prefix refuses
    * loudly rather than silently skipping versions).
    */
  def changeActions(
      spark: SparkSession,
      tablePath: String,
      fromVersion: Long,
      toVersion: Long
  ): Seq[VersionChanges] =
    changeActionsIter(spark, tablePath, fromVersion, toVersion).toVector

  /** Lazy variant of [[changeActions]]: the log is listed (and the
    * range validated) eagerly, but each version's JSON commit is read
    * and parsed only when the iterator reaches it. Rate-limited
    * consumers (the streaming source's budget walk) can stop after a
    * bounded prefix without paying O(backlog) parse work per trigger.
    */
  def changeActionsIter(
      spark: SparkSession,
      tablePath: String,
      fromVersion: Long,
      toVersion: Long
  ): Iterator[VersionChanges] = {
    require(fromVersion >= 0 && fromVersion <= toVersion,
      s"invalid change range [$fromVersion, $toVersion]")
    val dir = logDir(tablePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (jsons, _) = listLog(spark, tablePath)
    val missing = (fromVersion to toVersion).filterNot(jsons.contains)
    require(missing.isEmpty,
      s"change data feed of $tablePath cannot replay versions " +
        s"${missing.mkString(", ")}: their JSON commits are gone (aged-out log)")

    (fromVersion to toVersion).iterator.map { v =>
      val p = jsons(v)
      val ts = fs.getFileStatus(p).getModificationTime
      val cdc = Seq.newBuilder[CdcFile]
      val adds = Seq.newBuilder[AddFile]
      val removes = Seq.newBuilder[AddFile]
      DeltaActions.read(fs, p, Set("cdc", "add", "remove")).foreach {
        case DeltaActions.Cdc(c)          => cdc += c
        case DeltaActions.Add(f, _, true) => adds += f
        case r: DeltaActions.Remove if r.dataChange =>
          removes += AddFile(r.path, r.partitionValues, r.size, None, r.dv)
        case _ => ()
      }
      VersionChanges(v, ts, cdc.result(), adds.result(), removes.result())
    }
  }

  /** The newest usable checkpoint at or below `target`: the newer of
    * the `_last_checkpoint` hint and the listing (shared by the
    * driver-side [[snapshot]] replay and [[filesDataset]]).
    */
  private[tables] def checkpointChoice(
      fs: FileSystem,
      tablePath: String,
      cps: Map[Long, Seq[Path]],
      target: Long
  ): Option[(Long, Seq[Path])] = {
    val lcChoice: Option[(Long, Seq[Path])] =
      readLastCheckpoint(fs, tablePath).flatMap { lc =>
        val paths = checkpointPaths(tablePath, lc.version, lc.parts)
        if (lc.version <= target && paths.forall(fs.exists)) Some(lc.version -> paths) else None
      }
    val listChoice: Option[(Long, Seq[Path])] =
      cps.view.filterKeys(_ <= target).toSeq.maxByOption(_._1)
    (lcChoice.toSeq ++ listChoice.toSeq).maxByOption(_._1)
  }

  /** (json commits by version, COMPLETE checkpoints by version — a
    * multi-part set missing any of its declared parts is treated as
    * absent, exactly like a checkpoint a writer is still writing).
    */
  private[tables] def listLog(
      spark: SparkSession,
      tablePath: String
  ): (Map[Long, Path], Map[Long, Seq[Path]]) = {
    val dir = logDir(tablePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return (Map.empty, Map.empty)
    val entries = fs.listStatus(dir).filter(_.isFile).map(_.getPath)
    val jsons = entries.flatMap(p => p.getName match {
      case JsonCommit(v) => Some(v.toLong -> p)
      case _             => None
    }).toMap
    val singles = entries.flatMap(p => p.getName match {
      case CheckpointFile(v) => Some(v.toLong -> p)
      case _                 => None
    }).toMap
    // multi-part: (version, declaredParts) → partIndex → path
    val multiGroups = entries.flatMap(p => p.getName match {
      case MultiPartCheckpointFile(v, i, n) => Some(((v.toLong, n.toInt), i.toInt, p))
      case _                                => None
    }).groupBy(_._1)
    val completeMultis: Map[Long, Seq[Path]] = multiGroups.collect {
      case ((v, n), parts) if parts.map(_._2).toSet == (1 to n).toSet =>
        v -> parts.sortBy(_._2).map(_._3).toSeq
    }
    // v2 (UUID-named) checkpoints: each file is a complete manifest;
    // several writers may leave one each at the same version — any one
    // is valid, pick deterministically
    val v2s: Map[Long, Seq[Path]] = entries.flatMap(p => p.getName match {
      case V2CheckpointFile(v, _, _) => Some(v.toLong -> p)
      case _                         => None
    }).groupBy(_._1).map { case (v, ps) => v -> Seq(ps.map(_._2).minBy(_.getName)) }
    // a complete single-file checkpoint wins over a multi-part set at
    // the same version (either is valid; one file is one read)
    val cps = completeMultis ++ v2s ++ singles.map { case (v, p) => v -> Seq(p) }
    (jsons, cps)
  }
}

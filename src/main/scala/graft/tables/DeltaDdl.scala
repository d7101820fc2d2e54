package graft.tables

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Delta DDL surface beyond writes: CREATE TABLE (metadata-only v0),
  * ADD/DROP CONSTRAINT, column RENAME/DROP on column-mapped tables,
  * and shallow CLONE — all from the public protocol
  * (delta-io/delta PROTOCOL.md). The reference reads tables produced
  * by engines with these DDLs (deltalake_table.py via delta-rs); this
  * gives the engine the authoring half.
  */
object DeltaDdl {

  import DeltaWrite.CommitResult

  private val mapper = new ObjectMapper()

  /** The protocol a table with this schema/configuration needs, per
    * the protocol's feature table.
    */
  private def requiredProtocol(
      schema: StructType, configuration: Map[String, String]): DeltaLog.Protocol = {
    val mapped = configuration.get("delta.columnMapping.mode").exists(m => m != "none" && m.nonEmpty)
    val writer = Seq(
      "checkConstraints" ->
        configuration.keys.exists(_.startsWith(DeltaPolicy.ConstraintPrefix)),
      "generatedColumns" ->
        schema.fields.exists(_.metadata.contains(DeltaPolicy.GenerationExpressionKey)),
      "changeDataFeed" -> configuration.get("delta.enableChangeDataFeed").contains("true"),
      "columnMapping" -> mapped,
      "identityColumns" -> schema.fields.exists(_.metadata.contains(DeltaPolicy.IdentityStartKey)),
      // in-commit timestamps exist only as a versioned writer feature:
      // enabling it at creation puts the protocol in v7 feature form
      "inCommitTimestamp" -> configuration.get(DeltaWrite.IctKey).contains("true")
    ).collect { case (f, true) => f }
    DeltaLog.Protocol.Base.withFeatures(if (mapped) Seq("columnMapping") else Seq.empty, writer)
  }

  /** CREATE TABLE: a metadata-only version-0 commit declaring schema,
    * partitioning and configuration — the way a table with policies
    * (constraints, generated columns, append-only) comes to exist
    * before its first row. Field metadata in `schema` (generation
    * expressions, invariants, mapping names) is preserved verbatim in
    * the schemaString.
    */
  /** Field metadata declaring an identity column (`id BIGINT GENERATED
    * ALWAYS AS IDENTITY (START WITH s INCREMENT BY st)` in SQL form) —
    * attach to a LongType field of [[createTable]]'s schema.
    */
  def identityMetadata(
      start: Long = 1L,
      step: Long = 1L,
      allowExplicitInsert: Boolean = false
  ): org.apache.spark.sql.types.Metadata = {
    require(step != 0L, "identity step must be nonzero")
    new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(DeltaPolicy.IdentityStartKey, start)
      .putLong(DeltaPolicy.IdentityStepKey, step)
      .putBoolean(DeltaPolicy.IdentityAllowExplicitKey, allowExplicitInsert)
      .build()
  }

  def createTable(
      spark: SparkSession,
      tablePath: String,
      schema: StructType,
      partitionBy: Seq[String] = Seq.empty,
      configuration: Map[String, String] = Map.empty
  ): CommitResult = {
    require(DeltaLog.latestVersion(spark, tablePath).isEmpty,
      s"cannot CREATE: $tablePath already has a Delta log")
    partitionBy.foreach(c => require(schema.fieldNames.contains(c),
      s"partition column $c is not in the schema"))
    schema.fields.filter(_.metadata.contains(DeltaPolicy.IdentityStartKey)).foreach { f =>
      require(f.dataType == org.apache.spark.sql.types.LongType,
        s"identity column ${f.name} must be BIGINT, got ${f.dataType.simpleString}")
      require(f.metadata.contains(DeltaPolicy.IdentityStepKey) &&
        f.metadata.getLong(DeltaPolicy.IdentityStepKey) != 0L,
        s"identity column ${f.name} needs a nonzero ${DeltaPolicy.IdentityStepKey}")
      require(!f.metadata.contains(DeltaPolicy.GenerationExpressionKey),
        s"column ${f.name} cannot be both identity and generated")
      // partition columns carry no per-file stats (their values live in
      // partitionValues), so the high-water mark would never advance
      // and successive appends would silently re-mint duplicate values
      require(!partitionBy.contains(f.name),
        s"identity column ${f.name} cannot be a partition column")
    }
    val now = System.currentTimeMillis()
    val ict =
      if (!configuration.get(DeltaWrite.IctKey).contains("true")) Seq.empty
      else Seq(DeltaActions.CommitInfo("CREATE TABLE", now, Some(now)))
    val actions = ict ++ Seq(
      requiredProtocol(schema, configuration),
      DeltaLog.Metadata(schema.json, partitionBy, configuration,
        java.util.UUID.randomUUID().toString, Some(now)))
    require(DeltaWrite.writeCommitFile(spark, tablePath, 0L, actions),
      s"lost the version-0 race creating $tablePath")
    CommitResult(0L, 0, 0)
  }

  /** Metadata-update retry loop shared by the ALTER operations:
    * `change` maps the current snapshot to (new metadata fields,
    * protocol, extra actions); None aborts as a no-op. A protocol equal
    * to the snapshot's is not restated.
    */
  private def alter(
      spark: SparkSession,
      tablePath: String
  )(change: DeltaLog.Snapshot => Option[
      (String, Seq[String], Map[String, String], DeltaLog.Protocol, Seq[DeltaActions.Action])])
  : CommitResult = {
    var attempt = 0
    while (attempt < 10) {
      val snap = DeltaLog.snapshot(spark, tablePath)
      change(snap) match {
        case None => return CommitResult(snap.version, 0, 0)
        case Some((schemaString, partCols, conf, protocol, extra)) =>
          val meta = snap.metadata
          val actions = DeltaWrite.ictAction(spark, tablePath, Some(meta),
            Some(snap.version), "ALTER TABLE").toSeq ++
            Some(protocol).filter(_ != snap.protocol) ++ extra :+ DeltaLog.Metadata(
            schemaString, partCols, conf,
            Option(meta.id).filter(_.nonEmpty)
              .getOrElse(java.util.UUID.randomUUID().toString),
            meta.createdTime.orElse(Some(System.currentTimeMillis())))
          if (DeltaWrite.writeCommitFile(spark, tablePath, snap.version + 1, actions))
            return CommitResult(snap.version + 1, 0, 0)
          attempt += 1 // lost the race: re-read and retry
      }
    }
    throw new DeltaWrite.ConcurrentWriteException(
      s"could not commit metadata update to $tablePath after 10 attempts")
  }

  /** ALTER TABLE ADD CONSTRAINT: validates the EXISTING rows satisfy
    * the predicate (the protocol's contract — a constrained table
    * never contains violating rows), then commits
    * `delta.constraints.<name>` with the writer-protocol bump
    * (legacy v3, or the `checkConstraints` feature on v7 tables).
    */
  def addCheckConstraint(
      spark: SparkSession,
      tablePath: String,
      name: String,
      sql: String
  ): CommitResult = {
    val key = DeltaPolicy.ConstraintPrefix + name
    // existing data must satisfy the new constraint
    val snap0 = DeltaLog.snapshot(spark, tablePath)
    if (snap0.files.nonEmpty) {
      val violating = DeltaRead.readFiles(spark, tablePath, snap0.metadata, snap0.files)
        .where(coalesce(expr(sql), lit(true)) === false)
        .limit(1).count()
      require(violating == 0L,
        s"cannot ADD CONSTRAINT $name: existing rows of $tablePath violate ($sql)")
    }
    alter(spark, tablePath) { snap =>
      val meta = snap.metadata
      require(!meta.configuration.contains(key),
        s"constraint $name already exists on $tablePath")
      Some((meta.schemaString, meta.partitionColumns, meta.configuration + (key -> sql),
        snap.protocol.withFeatures(Seq.empty, Seq("checkConstraints")), Seq.empty))
    }
  }

  /** ALTER TABLE DROP CONSTRAINT (no protocol change — the table may
    * still carry other constraints, and downgrades are not a thing).
    */
  def dropCheckConstraint(
      spark: SparkSession,
      tablePath: String,
      name: String
  ): CommitResult = alter(spark, tablePath) { snap =>
    val key = DeltaPolicy.ConstraintPrefix + name
    if (!snap.metadata.configuration.contains(key)) None
    else Some((snap.metadata.schemaString, snap.metadata.partitionColumns,
      snap.metadata.configuration - key, snap.protocol, Seq.empty))
  }

  /** Clustered tables (the `clustering` writer feature + the
    * `delta.clustering` system domain, per the public protocol's
    * Clustered Table section). */
  val ClusteringDomain = "delta.clustering"

  /** ALTER TABLE CLUSTER BY: record the clustering columns in the
    * `delta.clustering` domain (configuration
    * `{"clusteringColumns":[["c1"],["c2"]]}` — column paths, as
    * delta-spark writes them) and bump the writer protocol with
    * `clustering` + `domainMetadata`. Data is NOT rewritten here:
    * `DeltaWrite.optimizeClustered` clusters lazily/incrementally,
    * keyed off the spec tag, so changing the spec costs nothing until
    * the next OPTIMIZE — the liquid-clustering surface.
    */
  def clusterBy(
      spark: SparkSession,
      tablePath: String,
      cols: Seq[String]
  ): CommitResult = {
    require(cols.nonEmpty, "CLUSTER BY needs at least one column")
    require(cols.size <= 4, "CLUSTER BY supports at most 4 columns")
    require(cols.distinct.size == cols.size, "duplicate CLUSTER BY column")
    alter(spark, tablePath) { snap =>
      val meta = snap.metadata
      cols.foreach(c => require(snap.schema.fieldNames.contains(c),
        s"CLUSTER BY column $c is not in the table schema"))
      cols.foreach(c => require(!meta.partitionColumns.contains(c),
        s"CLUSTER BY column $c is a partition column — already clustered by layout"))
      // serialize via Jackson — a quote/backslash in a column name
      // must not produce invalid domain JSON
      val confNode = mapper.createObjectNode()
      val arr = confNode.putArray("clusteringColumns")
      cols.foreach(c => arr.addArray().add(c))
      val conf = mapper.writeValueAsString(confNode)
      if (snap.domains.get(ClusteringDomain).contains(conf)) None
      else {
        Some((meta.schemaString, meta.partitionColumns, meta.configuration,
          snap.protocol.withFeatures(Seq.empty, Seq("clustering", "domainMetadata")),
          Seq(DeltaActions.DomainMetadata(ClusteringDomain, conf))))
      }
    }
  }

  /** The table's declared clustering columns (empty when the table is
    * not clustered).
    */
  def clusteringColumns(snap: DeltaLog.Snapshot): Seq[String] =
    snap.domains.get(ClusteringDomain).toSeq.flatMap { conf =>
      val node = mapper.readTree(conf).path("clusteringColumns")
      (0 until node.size).map { i =>
        val path = node.get(i)
        // the spec allows multi-part column paths; this engine only
        // writes single-part ones — refuse rather than truncate
        require(path.size == 1,
          s"multi-part clustering column path is not supported: $path")
        path.get(0).asText
      }
    }

  /** Does any CHECK constraint or generation expression mention
    * `column`? (identifier word-match — conservatively refuses).
    */
  private def referencedBy(meta: DeltaLog.Metadata, column: String): Seq[String] = {
    val rx = ("(?i)(?<![A-Za-z0-9_`])" +
      java.util.regex.Pattern.quote(column) + "(?![A-Za-z0-9_`])").r
    val cs = DeltaPolicy.constraints(meta).collect {
      case (n, sql) if rx.findFirstIn(sql).isDefined => s"constraint $n"
    }
    val gs = DeltaPolicy.generationExpressions(meta).collect {
      case (n, sql) if rx.findFirstIn(sql).isDefined => s"generated column $n"
    }
    (cs ++ gs).toSeq
  }

  /** ALTER TABLE ADD COLUMNS — a metadata-only commit appending
    * NULLABLE columns to the logical schema; every pre-existing row
    * reads them as null (the same additive-evolution contract appends
    * already follow, expressed as explicit DDL so a writer can evolve
    * the table BEFORE the first frame carrying the column arrives —
    * e.g. a CDC replicator propagating a source evolution). Declared
    * NOT NULL fields are demoted to nullable for the reason the
    * append path documents: existing rows would contradict the
    * constraint. Refused on column-mapped tables (new fields need
    * fresh field ids / physical names — the boundary the append
    * evolution declares) and for names that already exist
    * case-insensitively (Spark resolves names case-insensitively, so
    * adding `V` beside `v` would poison every later select).
    */
  def addColumns(
      spark: SparkSession,
      tablePath: String,
      columns: Seq[org.apache.spark.sql.types.StructField]
  ): CommitResult = alter(spark, tablePath) { snap =>
    require(columns.nonEmpty, "ADD COLUMNS needs at least one column")
    val meta = snap.metadata
    val lower = meta.schema.fieldNames.map(_.toLowerCase).toSet
    val dupIn = columns.groupBy(_.name.toLowerCase).collect {
      case (_, fs) if fs.size > 1 => fs.head.name
    }
    require(dupIn.isEmpty, s"duplicate new column(s): ${dupIn.mkString(", ")}")
    val clash = columns.map(_.name).filter(n => lower(n.toLowerCase))
    require(clash.isEmpty,
      s"column(s) ${clash.mkString(", ")} already exist in $tablePath")
    if (!meta.isColumnMapped) {
      val newSchema = StructType(
        meta.schema.fields ++ columns.map(_.copy(nullable = true)))
      Some((newSchema.json, meta.partitionColumns, meta.configuration, snap.protocol, Seq.empty))
    } else {
      // column-mapped tables: every new field mints a FRESH field id
      // above the table's maxColumnId and a UUID physical name (the
      // delta-spark convention — physical names must never be reused,
      // even after a drop, or old files' columns would resurrect), and
      // the configuration advances maxColumnId atomically in the same
      // metadata commit. Nested new fields are refused: their ids
      // would need recursive assignment and no caller needs it yet.
      def hasStruct(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
        case _: StructType => true
        case a: org.apache.spark.sql.types.ArrayType => hasStruct(a.elementType)
        case m: org.apache.spark.sql.types.MapType =>
          hasStruct(m.keyType) || hasStruct(m.valueType)
        case _ => false
      }
      columns.foreach(c => require(!hasStruct(c.dataType),
        s"ADD COLUMNS on a mapped table supports primitive/array/map " +
          s"columns; ${c.name} contains a struct (nested fields would " +
          "need recursive id assignment)"))
      var nextId = meta.configuration.get("delta.columnMapping.maxColumnId")
        .map(_.toLong).getOrElse {
          // absent key: derive from the schema's own ids — walked
          // RECURSIVELY, because enableColumnMapping assigns ids in
          // DFS order so a nested struct field can carry a HIGHER id
          // than any top-level field; a top-level-only max would mint
          // a duplicate id on such a foreign table
          var maxSeen = 0L
          def walkIds(dt: org.apache.spark.sql.types.DataType): Unit = dt match {
            case s: StructType => s.fields.foreach { f =>
              if (f.metadata.contains("delta.columnMapping.id"))
                maxSeen = math.max(maxSeen, f.metadata.getLong("delta.columnMapping.id"))
              walkIds(f.dataType)
            }
            case a: org.apache.spark.sql.types.ArrayType => walkIds(a.elementType)
            case m: org.apache.spark.sql.types.MapType =>
              walkIds(m.keyType); walkIds(m.valueType)
            case _ => ()
          }
          walkIds(meta.schema)
          maxSeen
        }
      val mappedCols = columns.map { c =>
        nextId += 1
        c.copy(nullable = true, metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(c.metadata)
          .putLong("delta.columnMapping.id", nextId)
          .putString(DeltaLog.PhysicalNameKey,
            s"col-${java.util.UUID.randomUUID()}")
          .build())
      }
      val newSchema = StructType(meta.schema.fields ++ mappedCols)
      Some((newSchema.json, meta.partitionColumns,
        meta.configuration + ("delta.columnMapping.maxColumnId" -> nextId.toString),
        snap.protocol, Seq.empty))
    }
  }

  /** ALTER TABLE SET TBLPROPERTIES ('delta.columnMapping.mode'='name')
    * — the upstream UPGRADE path an unmapped table takes to unlock
    * RENAME/DROP COLUMN: every (nested) field gets a fresh field id
    * and a physical name equal to its CURRENT logical name (existing
    * data files already store exactly those names, so not a byte is
    * rewritten and existing partitionValues/stats keys stay valid),
    * the configuration records the mode + maxColumnId, and the
    * protocol rises to reader 2 / writer 5 (or gains the
    * `columnMapping` feature on a v7 table). After the upgrade a
    * rename changes only the logical name.
    */
  def enableColumnMapping(
      spark: SparkSession,
      tablePath: String
  ): CommitResult = alter(spark, tablePath) { snap =>
    val meta = snap.metadata
    require(!meta.isColumnMapped,
      s"$tablePath already has column mapping (${meta.columnMappingMode})")
    var nextId = 0L
    def walk(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
      dt match {
        case s: StructType => StructType(s.fields.map { f =>
          nextId += 1
          val md = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putLong("delta.columnMapping.id", nextId)
            .putString(DeltaLog.PhysicalNameKey, f.name)
            .build()
          f.copy(dataType = walk(f.dataType), metadata = md)
        })
        case a: org.apache.spark.sql.types.ArrayType =>
          a.copy(elementType = walk(a.elementType))
        case m: org.apache.spark.sql.types.MapType =>
          m.copy(keyType = walk(m.keyType), valueType = walk(m.valueType))
        case other => other
      }
    val newSchema = walk(meta.schema).asInstanceOf[StructType]
    val conf = meta.configuration +
      ("delta.columnMapping.mode" -> "name") +
      ("delta.columnMapping.maxColumnId" -> nextId.toString)
    // columnMapping is a reader-writer feature (legacy reader 2 /
    // writer 5, or listed on feature-form protocols)
    Some((newSchema.json, meta.partitionColumns, conf,
      snap.protocol.withFeatures(Seq("columnMapping"), Seq("columnMapping")), Seq.empty))
  }

  /** ALTER TABLE RENAME COLUMN — metadata-only, column mapping
    * required: the logical name changes while the physical name (and
    * field id) riding the field metadata stay, so no data file is
    * touched and old files keep matching. Mirrors delta-spark's
    * requirement that RENAME needs `delta.columnMapping.mode`.
    */
  def renameColumn(
      spark: SparkSession,
      tablePath: String,
      from: String,
      to: String
  ): CommitResult = alter(spark, tablePath) { snap =>
    val meta = snap.metadata
    require(meta.isColumnMapped,
      s"RENAME COLUMN requires column mapping (delta.columnMapping.mode) on $tablePath")
    val schema = meta.schema
    require(schema.fieldNames.contains(from), s"no column $from in $tablePath")
    require(!schema.fieldNames.contains(to), s"column $to already exists in $tablePath")
    val refs = referencedBy(meta, from)
    require(refs.isEmpty,
      s"cannot rename $from: referenced by ${refs.mkString(", ")}")
    val newSchema = StructType(schema.fields.map { f =>
      if (f.name == from) f.copy(name = to) else f
    })
    val newParts = meta.partitionColumns.map(c => if (c == from) to else c)
    Some((newSchema.json, newParts, meta.configuration, snap.protocol, Seq.empty))
  }

  /** ALTER TABLE DROP COLUMN — metadata-only under column mapping:
    * the field leaves the logical schema; data files keep the
    * physical column, which readers no longer project. Refused for
    * partition columns and policy-referenced columns.
    */
  def dropColumn(
      spark: SparkSession,
      tablePath: String,
      name: String
  ): CommitResult = alter(spark, tablePath) { snap =>
    val meta = snap.metadata
    require(meta.isColumnMapped,
      s"DROP COLUMN requires column mapping (delta.columnMapping.mode) on $tablePath")
    val schema = meta.schema
    require(schema.fieldNames.contains(name), s"no column $name in $tablePath")
    require(!meta.partitionColumns.contains(name),
      s"cannot drop partition column $name of $tablePath")
    require(schema.fields.length > 1, s"cannot drop the only column of $tablePath")
    val refs = referencedBy(meta, name)
    require(refs.isEmpty,
      s"cannot drop $name: referenced by ${refs.mkString(", ")}")
    val newSchema = StructType(schema.fields.filterNot(_.name == name))
    Some((newSchema.json, meta.partitionColumns, meta.configuration, snap.protocol, Seq.empty))
  }

  /** The widening matrix ALTER COLUMN TYPE accepts: the public
    * `typeWidening` feature's conversion table intersected with what
    * Spark's parquet vectorized reader converts natively
    * (byte→short→int→long, float→double, byte/short/int→double,
    * integral→decimal with ≥10/≥20 integral digits, decimal
    * precision/scale growth — each pair verified against the reader).
    * Old data files are NEVER rewritten; the scan widens their
    * narrower physical type to the new logical type natively, and
    * file-skipping stats compare through BigDecimal, so pruning stays
    * sound across mixed-width files. date→timestampNTZ is in the
    * spec but refused here: parquet has no native int32-date →
    * int64-micros conversion, so honoring it would need a rewrite.
    */
  private[tables] def widens(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    def intRank(d: DataType): Option[Int] = d match {
      case ByteType => Some(0); case ShortType => Some(1)
      case IntegerType => Some(2); case LongType => Some(3); case _ => None
    }
    (from, to) match {
      case (f, t) if intRank(f).isDefined && intRank(t).isDefined =>
        intRank(f).get < intRank(t).get
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (FloatType, DoubleType)                          => true
      case (ByteType | ShortType | IntegerType, d: DecimalType) =>
        d.precision - d.scale >= 10
      case (LongType, d: DecimalType) => d.precision - d.scale >= 20
      case (f: DecimalType, t: DecimalType) =>
        (f.precision, f.scale) != (t.precision, t.scale) &&
          t.precision - t.scale >= f.precision - f.scale && t.scale >= f.scale
      case _ => false
    }
  }

  /** ALTER TABLE ALTER COLUMN TYPE (widening only) — the
    * `typeWidening` table feature: a metadata-only commit that swaps
    * the column's declared type for a wider one and records the
    * change in `delta.typeChanges` field metadata per the public
    * spec; the protocol gains the reader+writer feature so engines
    * that can't widen at scan time refuse instead of misreading.
    * Appends after the widen must carry the wide type (this engine
    * refuses narrow frames on append — callers cast up).
    */
  def widenColumnType(
      spark: SparkSession,
      tablePath: String,
      column: String,
      to: org.apache.spark.sql.types.DataType
  ): CommitResult = alter(spark, tablePath) { snap =>
    import org.apache.spark.sql.types.{Metadata, MetadataBuilder}
    val meta = snap.metadata
    val schema = meta.schema
    val idx = schema.fieldNames.indexOf(column)
    require(idx >= 0, s"no column $column in $tablePath")
    val f = schema.fields(idx)
    if (f.dataType == to) None // no-op: already that type
    else {
    require(widens(f.dataType, to),
      s"cannot change $column from ${f.dataType.simpleString} to " +
        s"${to.simpleString}: not a supported widening conversion")
    require(!meta.partitionColumns.contains(column),
      s"cannot widen partition column $column of $tablePath " +
        "(partition values live in the log as strings keyed to the type)")
    val refs = referencedBy(meta, column)
    require(refs.isEmpty,
      s"cannot widen $column: referenced by ${refs.mkString(", ")} " +
        "(expression result types would shift under the changed input)")

    def deltaName(d: org.apache.spark.sql.types.DataType): String = d match {
      case dd: org.apache.spark.sql.types.DecimalType =>
        s"decimal(${dd.precision},${dd.scale})"
      case other => other.json.stripPrefix("\"").stripSuffix("\"")
    }
    val prior: Array[Metadata] =
      if (f.metadata.contains("delta.typeChanges"))
        f.metadata.getMetadataArray("delta.typeChanges")
      else Array.empty
    val entry = new MetadataBuilder()
      .putString("fromType", deltaName(f.dataType))
      .putString("toType", deltaName(to)).build()
    val widened = f.copy(dataType = to,
      metadata = new MetadataBuilder().withMetadata(f.metadata)
        .putMetadataArray("delta.typeChanges", prior :+ entry).build())
    val newSchema = StructType(schema.fields.updated(idx, widened))

    Some((newSchema.json, meta.partitionColumns, meta.configuration,
      snap.protocol.withFeatures(Seq("typeWidening"), Seq("typeWidening")), Seq.empty))
    }
  }

  /** Shallow CLONE: a new table whose version-0 commit references the
    * source's CURRENT data files by absolute path — zero data copied,
    * both tables evolve independently afterwards (writes to the clone
    * stage new files under the clone; removes reference the absolute
    * paths). Deletion vectors are carried over with their descriptors
    * rewritten to absolute-path form (`storageType p`) so the clone
    * reads them from the source directory. The standard caveat
    * applies and is inherited from the protocol, not this
    * implementation: VACUUM on the source can invalidate clones.
    */
  def cloneShallow(
      spark: SparkSession,
      sourcePath: String,
      targetPath: String
  ): CommitResult = {
    require(DeltaLog.latestVersion(spark, targetPath).isEmpty,
      s"cannot CLONE into $targetPath: it already has a Delta log")
    val snap = DeltaLog.snapshot(spark, sourcePath)
    val srcBase = new Path(sourcePath.stripSuffix("/"))
    val fs = srcBase.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val absBase = fs.makeQualified(srcBase).toUri.getPath

    val now = System.currentTimeMillis()
    val adds = snap.files.map { f =>
      // DVs: inline ones travel with the descriptor; u/p ones are
      // pinned to their absolute on-disk location. Row-tracking ids
      // travel with the files (the clone keeps the source's domains
      // too, so its high-water mark stays correct); tags do not.
      val dv = f.dv.map(d =>
        if (d.storageType == "i") d
        else d.copy(storageType = "p", pathOrInlineDv = d.filePath(absBase).get.toString))
      DeltaActions.Add(f.copy(path = DeltaLog.resolvePath(absBase, f.path), dv = dv,
        tags = Map.empty), now, dataChange = true)
    }
    val actions =
      Seq(snap.protocol,
        snap.metadata.copy(id = java.util.UUID.randomUUID().toString, createdTime = Some(now)),
        DeltaActions.CommitInfo("CLONE", now, operationParameters = Map("source" -> absBase))) ++
        snap.domains.toSeq.sortBy(_._1).map { case (d, c) => DeltaActions.DomainMetadata(d, c) } ++
        adds
    require(DeltaWrite.writeCommitFile(spark, targetPath, 0L, actions),
      s"lost the version-0 race cloning into $targetPath")
    CommitResult(0L, adds.size, 0)
  }
}

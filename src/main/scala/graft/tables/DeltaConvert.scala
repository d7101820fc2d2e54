package graft.tables

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** CONVERT TO DELTA — create a `_delta_log` over EXISTING data files
  * without rewriting a byte (the public Delta `CONVERT TO DELTA`
  * shape): at 100 TB, migration by rewrite is weeks of cluster time;
  * conversion is one metadata commit referencing the files in place.
  *
  *  - [[fromParquet]]: a hive-partitioned (or flat) parquet
  *    directory; partition values parse from `k=v` path segments.
  *  - [[fromIceberg]]: the CURRENT snapshot's live data files from
  *    the Iceberg metadata (identity transforms only; tables with
  *    delete files refuse — merge-on-read state can't be expressed
  *    as plain adds).
  *  - [[fromHudi]]: the latest file slices from the Hudi timeline;
  *    the `_hoodie_*` meta columns are left OUT of the declared
  *    schema, so Delta readers project only user data from the
  *    shared physical files.
  *
  * Each conversion writes Delta commit v0 (protocol + metaData +
  * one AddFile per live file, with numRecords stats from ONE grouped
  * job over the files) through the same atomic put-if-absent commit
  * path every other writer uses. The converted table is a full
  * citizen: time travel starts at v0, subsequent [[DeltaWrite]]
  * appends/deletes/optimize compose, and the source format's own
  * metadata remains untouched beside it (read it with the old reader
  * until cutover completes).
  */
object DeltaConvert {

  /** Convert a parquet directory (hive-partitioned or flat). Returns
    * the created Delta version (always 0).
    */
  def fromParquet(spark: SparkSession, dir: String): Long = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    refuseExisting(fs, dir)
    val files = listParquet(fs, new Path(dir))
    require(files.nonEmpty, s"no parquet files under $dir")
    val partCols: Seq[String] = {
      val seqs = files.map(f => hiveSegments(f._1).map(_._1))
      require(seqs.distinct.size == 1,
        s"inconsistent partition depth/columns under $dir: ${seqs.distinct.take(3)}")
      seqs.head
    }
    val schema = spark.read.option("basePath", dir)
      .parquet(files.map(f => s"$dir/${f._1}"): _*).schema
    val adds = files.map { case (rel, len) =>
      (rel, hiveSegments(rel).toMap.map { case (k, v) =>
        k -> (if (v == "__HIVE_DEFAULT_PARTITION__") None else Some(v))
      }, len)
    }
    commitV0(spark, dir, schema.json, partCols, adds)
  }

  /** Convert the current snapshot of a native Iceberg table. */
  def fromIceberg(spark: SparkSession, dir: String): Long = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    refuseExisting(fs, dir)
    val meta = IcebergMeta.load(fs, dir)
    val snap = meta.currentSnapshotId
      .flatMap(id => meta.snapshots.find(_.id == id))
      .getOrElse(throw new IllegalArgumentException(s"$dir has no current snapshot"))
    val files = IcebergMeta.planFiles(fs, snap)
    require(files.forall(_.content == 0),
      s"$dir carries delete files (merge-on-read state); CONVERT requires a " +
        "compacted snapshot — rewrite or expire the deletes first")
    val spec = meta.specs.getOrElse(meta.defaultSpecId, Seq.empty)
    require(spec.forall(_.transform == "identity"),
      s"CONVERT supports identity partition transforms only; $dir has " +
        spec.filterNot(_.transform == "identity").map(_.transform).mkString(", "))
    val partCols = spec.map(_.name)
    val sizes = listParquet(fs, new Path(dir)).toMap
    val adds = files.map { f =>
      val p = new Path(f.path)
      val rel = LakeFiles.relativize(new Path(dir), p)
      // typed rendering: Iceberg manifests store DATE partitions as
      // epoch-day ints; Delta partitionValues want the yyyy-MM-dd
      // string its reader casts back (a raw "18262" would cast NULL)
      val pv = partCols.map { c =>
        val dt = meta.schema.fields.find(_.name == c).map(_.dataType)
        c -> f.partition.get(c).flatMap(Option(_)).map { v =>
          dt match {
            case Some(org.apache.spark.sql.types.DateType) =>
              java.time.LocalDate.ofEpochDay(v.toString.toLong).toString
            case _ => String.valueOf(v)
          }
        }
      }.toMap
      (rel, pv, sizes.getOrElse(rel, fs.getFileStatus(p).getLen))
    }
    commitV0(spark, dir, meta.schema.json, partCols, adds)
  }

  /** Convert the latest file slices of a Hudi table. MERGE_ON_READ
    * tables convert once their logs are compacted away ([[HudiWrite
    * .compact]]) — CONVERT is no-copy and Delta cannot read Hudi log
    * files, so un-compacted slices REFUSE rather than silently
    * converting the base-only (stale) view.
    */
  def fromHudi(spark: SparkSession, dir: String): Long = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    refuseExisting(fs, dir)
    val props = HudiWrite.readProps(fs, dir) // refuses non-Hudi paths
    val slices = HudiWrite.latestSlices(fs, dir, None)
    require(slices.nonEmpty, s"$dir has no live file slices")
    require(slices.forall(_.logFiles.isEmpty),
      s"$dir has un-compacted MERGE_ON_READ log files; run HudiWrite.compact " +
        "first — CONVERT is no-copy and a base-only conversion would drop the log records")
    val partCols = props.get("hoodie.table.partition.fields")
      .filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Seq.empty)
    val full = spark.read.option("basePath", dir)
      .parquet(slices.map(s => s"$dir/${s.relPath}"): _*).schema
    // user data only: Hudi meta columns stay physical-but-undeclared
    val schema = org.apache.spark.sql.types.StructType(
      full.fields.filterNot(_.name.startsWith("_hoodie_")))
    val sizes = listParquet(fs, new Path(dir)).toMap
    val adds = slices.map { s =>
      val pv = hiveSegments(s.relPath).toMap.map { case (k, v) =>
        k -> (if (v == "__HIVE_DEFAULT_PARTITION__") None else Some(v))
      }
      (s.relPath, pv, sizes.getOrElse(s.relPath,
        fs.getFileStatus(new Path(dir, s.relPath)).getLen))
    }
    commitV0(spark, dir, schema.json, partCols, adds)
  }

  // ------------------------------------------------------ internals

  private def refuseExisting(fs: FileSystem, dir: String): Unit =
    require(!fs.exists(DeltaLog.logDir(dir)),
      s"$dir already has a _delta_log; CONVERT refuses to overwrite it")

  private def hiveSegments(rel: String): Seq[(String, String)] =
    rel.split('/').dropRight(1).toSeq.flatMap { seg =>
      seg.split("=", 2) match {
        // unescapePathName is the exact inverse of Spark's writer
        // escaping; URLDecoder would corrupt literal '+' into a space
        case Array(k, v) => Some(k -> org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.unescapePathName(v))
        case _ => None
      }
    }

  /** One grouped stats job (numRecords + per-column min/max/nullCount,
    * the same shape [[DeltaWrite]] writes), then the v0 commit — so
    * file SKIPPING works on converted tables from the first read,
    * exactly as on natively-written ones.
    */
  private def commitV0(
      spark: SparkSession,
      dir: String,
      schemaJson: String,
      partCols: Seq[String],
      adds: Seq[(String, Map[String, Option[String]], Long)]
  ): Long = {
    val schema = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val statsCols = schema.fields.toSeq.filterNot(f => partCols.contains(f.name))
    val stats: Map[String, String] = DeltaWrite.computeStats(
      spark, adds.map(a => s"$dir/${a._1}"), statsCols)

    val now = System.currentTimeMillis()
    val addActions = adds.map { case (rel, pv, size) =>
      // zero-row files emit no stats row from the grouped job but
      // numRecords must still be present (export + row tracking
      // require it on every AddFile). A miss is ONLY legal for a
      // genuinely empty file — re-probe and fail loudly otherwise,
      // because committing numRecords:0 for live rows corrupts every
      // stats consumer downstream
      val st = stats.getOrElse(DvDeleted.normalizePath(s"$dir/$rel"), {
        val probed = spark.read.parquet(s"$dir/$rel").count()
        require(probed == 0L,
          s"stats lookup missed non-empty file $rel ($probed rows) — path-key bug")
        """{"numRecords":0}"""
      })
      DeltaActions.Add(DeltaLog.AddFile(rel, pv, size, Some(st)), now, dataChange = true)
    }
    require(DeltaWrite.writeCommitFile(spark, dir, 0L,
      Seq(DeltaLog.Protocol.Base,
        DeltaLog.Metadata(schemaJson, partCols, Map.empty,
          java.util.UUID.randomUUID().toString, Some(now))) ++ addActions),
      s"lost the commit race creating _delta_log at $dir")
    0L
  }

  /** (relativePath, length) of every data parquet under `dir`:
    * hidden/metadata entries are excluded by their path RELATIVE to
    * the table root — an underscore-prefixed ANCESTOR of the root
    * (/data/_shared/t) must not blank the whole listing — and lengths
    * ride along from the one recursive listing (a per-file
    * getFileStatus would be millions of sequential driver RPCs on
    * exactly the migration path this exists for).
    */
  private def listParquet(fs: FileSystem, dir: Path): Seq[(String, Long)] = {
    val it = fs.listFiles(dir, true)
    val buf = scala.collection.mutable.Buffer.empty[(String, Long)]
    while (it.hasNext) {
      val s = it.next()
      val p = s.getPath
      if (s.isFile && p.getName.endsWith(".parquet")) {
        val rel = LakeFiles.relativize(dir, p)
        if (!rel.split('/').exists(seg => seg.startsWith("_") || seg.startsWith(".")))
          buf += ((rel, s.getLen))
      }
    }
    buf.toSeq
  }
}

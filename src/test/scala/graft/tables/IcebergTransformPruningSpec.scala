package graft.tables

import graft.SparkSpec
import graft.core.{Filter, Filters}
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Manifest pruning for non-identity partition transforms — the
  * layouts foreign Iceberg writers actually produce: `day(ts)`,
  * `bucket[16](id)`, `truncate[4](v)`. Fixtures are hand-built
  * "foreign-written" tables (metadata JSON + Avro manifests graft did
  * not write); pruning is asserted via `inputFiles`, correctness by
  * comparing rows against an unfiltered read. The murmur3 bucket hash
  * is pinned to the PUBLISHED Iceberg spec Appendix B test vectors —
  * so using [[IcebergTransforms]] to place fixture rows into bucket
  * files is not circular.
  */
class IcebergTransformPruningSpec extends SparkSpec {
  import spark.implicits._

  test("murmur3 bucket hashes match the Iceberg spec Appendix B vectors") {
    assert(IcebergTransforms.hashLong(34L) == 2017239379)
    assert(IcebergTransforms.hashLong(
      java.time.LocalDate.of(2017, 11, 16).toEpochDay) == -653330422)
    assert(IcebergTransforms.hashLong(
      java.time.LocalDateTime.of(2017, 11, 16, 22, 31, 8)
        .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L) == -2047944441)
    assert(IcebergTransforms.hashString("iceberg") == 1210000089)
    assert(IcebergTransforms.hashDecimal(new java.math.BigDecimal("14.20")) == -500754589)
    assert(IcebergTransforms.hashBytes(Array[Byte](0, 1, 2, 3)) == -188683207)
  }

  test("transform application: truncate/year/month/day/hour floor semantics") {
    import IcebergTransforms._
    assert(apply(Truncate(10), LongType, 7L) == Some(0L))
    assert(apply(Truncate(10), LongType, -1L) == Some(-10L))
    assert(apply(Truncate(4), StringType, "apple") == Some("appl"))
    assert(apply(Truncate(4), StringType, "ab") == Some("ab"))
    assert(apply(Truncate(50), DecimalType(9, 2), new java.math.BigDecimal("10.65")) ==
      Some(new java.math.BigDecimal("10.50")))
    val d1969 = java.time.LocalDate.of(1969, 12, 31).toEpochDay
    assert(apply(Year, DateType, d1969) == Some(-1L))
    assert(apply(Month, DateType, d1969) == Some(-1L))
    assert(apply(Day, DateType, d1969) == Some(-1L))
    val ts = java.time.LocalDateTime.of(2024, 3, 5, 13, 0, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    assert(apply(Year, TimestampNTZType, ts) == Some(54L))
    assert(apply(Month, TimestampNTZType, ts) == Some(54L * 12 + 2))
    assert(apply(Hour, TimestampNTZType, ts) == Some(ts / 3600000000L))
    // pre-epoch timestamp floors, not truncates toward zero
    assert(apply(Day, TimestampNTZType, -1L) == Some(-1L))
    assert(apply(Hour, TimestampNTZType, -1L) == Some(-1L))
  }

  /** Hand-build a foreign-written Iceberg v2 table: one data file per
    * (df, partition-tuple) pair, one manifest, one snapshot.
    */
  private def buildForeign(
      root: String,
      schemaFieldsJson: String,
      specFieldsJson: String,
      partFields: Seq[StructField],
      files: Seq[(DataFrame, Map[String, Any])]
  ): Unit = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaDir = new Path(root, "metadata")
    fs.mkdirs(metaDir)

    def oneParquet(dir: String, df: DataFrame): (String, Long, Long) = {
      df.coalesce(1).write.mode("overwrite").parquet(dir)
      val f = fs.listStatus(new Path(dir)).find(_.getPath.getName.endsWith(".parquet")).get
      (f.getPath.toUri.getPath, f.getLen, df.count())
    }

    val entrySchema = IcebergManifests.manifestEntrySchema(partFields)
    val manifestPath = new Path(metaDir, "m-data.avro")
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](entrySchema))
    w.setMeta("format-version", "2")
    w.setMeta("content", "data")
    w.create(entrySchema, fs.create(manifestPath, true))
    try files.zipWithIndex.foreach { case ((df, tuple), i) =>
      val (path, len, rows) = oneParquet(s"$root/data/f$i", df)
      val dfSchema = entrySchema.getField("data_file").schema()
      val p = new GenericData.Record(dfSchema.getField("partition").schema())
      tuple.foreach { case (k, v) => p.put(k, v) }
      val rec = new GenericData.Record(dfSchema)
      rec.put("content", 0)
      rec.put("file_path", path)
      rec.put("file_format", "PARQUET")
      rec.put("partition", p)
      rec.put("record_count", rows)
      rec.put("file_size_in_bytes", len)
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1)
      e.put("snapshot_id", 1L)
      e.put("sequence_number", 1L)
      e.put("file_sequence_number", 1L)
      e.put("data_file", rec)
      w.append(e)
    } finally w.close()
    val manifestLen = fs.getFileStatus(manifestPath).getLen

    val listPath = new Path(metaDir, "snap-1.avro")
    locally {
      val s = IcebergManifests.manifestFileSchema
      val lw = new DataFileWriter(new GenericDatumWriter[GenericRecord](s))
        .create(s, fs.create(listPath, true))
      try {
        val r = new GenericData.Record(s)
        r.put("manifest_path", manifestPath.toString)
        r.put("manifest_length", manifestLen)
        r.put("partition_spec_id", 0)
        r.put("content", 0)
        r.put("sequence_number", 1L)
        r.put("min_sequence_number", 1L)
        r.put("added_snapshot_id", 1L)
        r.put("added_files_count", files.size)
        r.put("existing_files_count", 0)
        r.put("deleted_files_count", 0)
        r.put("added_rows_count", 0L)
        r.put("existing_rows_count", 0L)
        r.put("deleted_rows_count", 0L)
        lw.append(r)
      } finally lw.close()
    }

    val metaJson =
      s"""{"format-version":2,"table-uuid":"u","location":"$root",
         |"last-sequence-number":1,"last-updated-ms":1,"last-column-id":9,
         |"current-schema-id":0,
         |"schemas":[{"type":"struct","schema-id":0,"fields":[$schemaFieldsJson]}],
         |"partition-specs":[{"spec-id":0,"fields":[$specFieldsJson]}],"default-spec-id":0,
         |"last-partition-id":1000,"current-snapshot-id":1,
         |"snapshots":[{"snapshot-id":1,"sequence-number":1,"timestamp-ms":1,
         |  "manifest-list":"$listPath","schema-id":0}]}""".stripMargin
    val out = fs.create(new Path(metaDir, "v1.metadata.json"), true)
    out.write(metaJson.getBytes("UTF-8")); out.close()
    val hint = fs.create(new Path(metaDir, "version-hint.text"), true)
    hint.write("1".getBytes("UTF-8")); hint.close()
  }

  private def tsDf(rows: Seq[(Long, String, String)]): DataFrame =
    rows.toDF("id", "ts", "v").select(
      col("id"), col("ts").cast(TimestampNTZType).as("ts"), col("v"))

  test("day(ts) partitioning prunes equality and range filters on the source column") {
    val root = tempDir("ice-day").toString + "/t"
    def day(s: String) = java.time.LocalDate.parse(s).toEpochDay.toInt
    buildForeign(
      root,
      """{"id":1,"name":"id","required":false,"type":"long"},
        |{"id":2,"name":"ts","required":false,"type":"timestamp"},
        |{"id":3,"name":"v","required":false,"type":"string"}""".stripMargin,
      """{"name":"ts_day","transform":"day","source-id":2,"field-id":1000}""",
      Seq(StructField("ts_day", DateType)),
      Seq(
        (tsDf(Seq((1L, "2024-01-05 01:00:00", "a"), (2L, "2024-01-05 23:00:00", "b"))),
          Map[String, Any]("ts_day" -> day("2024-01-05"))),
        (tsDf(Seq((3L, "2024-01-06 10:00:00", "c"))),
          Map[String, Any]("ts_day" -> day("2024-01-06"))),
        (tsDf(Seq((4L, "2024-01-07 00:30:00", "d"), (5L, "2024-01-07 12:00:00", "e"))),
          Map[String, Any]("ts_day" -> day("2024-01-07")))))

    val t = new IcebergTable("t", root)
    assert(t(spark, ReadArgs.empty).count() == 5)

    val eq = t(spark, ReadArgs.where(Filter("ts", "=", "2024-01-06 10:00:00")))
    assert(eq.inputFiles.length == 1, s"day= should open 1 file, got ${eq.inputFiles.length}")
    assert(eq.collect().map(_.getLong(0)).toSeq == Seq(3L))

    val ge = t(spark, ReadArgs.where(Filter("ts", ">=", "2024-01-06 00:00:00")))
    assert(ge.inputFiles.length == 2, s"day>= should open 2 files, got ${ge.inputFiles.length}")
    assert(ge.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L, 5L))

    // boundary: < midnight of day 06 keeps day 06's file (may-match is
    // day-granular) but must drop day 07
    val lt = t(spark, ReadArgs.where(Filter("ts", "<", "2024-01-06 00:00:00")))
    assert(lt.inputFiles.length == 2, s"day< should open 2 files, got ${lt.inputFiles.length}")
    assert(lt.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))

    val in = t(spark, ReadArgs.where(
      Filter("ts", "in", Seq("2024-01-05 01:00:00", "2024-01-07 12:00:00"))))
    assert(in.inputFiles.length == 2)
    assert(in.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 5L))
  }

  test("bucket[16](id) partitioning prunes equality/in; ranges never prune") {
    val root = tempDir("ice-bucket").toString + "/t"
    val ids = (1L to 40L) :+ 34L // 34: the spec's published hash vector
    val byBucket = ids.distinct.groupBy(id =>
      IcebergTransforms.apply(IcebergTransforms.Bucket(16), LongType, id).get.asInstanceOf[Long].toInt)
    val files = byBucket.toSeq.sortBy(_._1).map { case (b, bids) =>
      (bids.map(i => (i, s"v$i")).toDF("id", "v"), Map[String, Any]("id_bucket" -> b))
    }
    buildForeign(
      root,
      """{"id":1,"name":"id","required":false,"type":"long"},
        |{"id":2,"name":"v","required":false,"type":"string"}""".stripMargin,
      """{"name":"id_bucket","transform":"bucket[16]","source-id":1,"field-id":1000}""",
      Seq(StructField("id_bucket", IntegerType)),
      files)

    val t = new IcebergTable("t", root)
    assert(t(spark, ReadArgs.empty).count() == ids.distinct.size.toLong)

    val eq = t(spark, ReadArgs.where(Filter("id", "=", 34L)))
    assert(eq.inputFiles.length == 1, s"bucket= should open 1 file, got ${eq.inputFiles.length}")
    assert(eq.collect().map(_.getLong(0)).toSeq == Seq(34L))

    val twoBuckets = Seq(3L, 17L).map(id =>
      IcebergTransforms.apply(IcebergTransforms.Bucket(16), LongType, id).get).distinct.size
    val in = t(spark, ReadArgs.where(Filter("id", "in", Seq(3L, 17L))))
    assert(in.inputFiles.length == twoBuckets)
    assert(in.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 17L))

    // bucket is unordered: a range filter must not prune (correctness
    // guard — pruning here would silently drop rows)
    val lt = t(spark, ReadArgs.where(Filter("id", "<", 5L)))
    assert(lt.inputFiles.length == files.size)
    assert(lt.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("truncate[4](v) partitioning prunes equality and ranges on strings") {
    val root = tempDir("ice-trunc").toString + "/t"
    buildForeign(
      root,
      """{"id":1,"name":"id","required":false,"type":"long"},
        |{"id":2,"name":"v","required":false,"type":"string"}""".stripMargin,
      """{"name":"v_trunc","transform":"truncate[4]","source-id":2,"field-id":1000}""",
      Seq(StructField("v_trunc", StringType)),
      Seq(
        (Seq((1L, "apple"), (2L, "apples")).toDF("id", "v"),
          Map[String, Any]("v_trunc" -> "appl")),
        (Seq((3L, "banana")).toDF("id", "v"), Map[String, Any]("v_trunc" -> "bana")),
        (Seq((4L, "cherry"), (5L, "cherries")).toDF("id", "v"),
          Map[String, Any]("v_trunc" -> "cher"))))

    val t = new IcebergTable("t", root)
    val eq = t(spark, ReadArgs.where(Filter("v", "=", "apple")))
    assert(eq.inputFiles.length == 1)
    assert(eq.collect().map(_.getLong(0)).toSeq == Seq(1L))

    val ge = t(spark, ReadArgs.where(Filter("v", ">=", "banana")))
    assert(ge.inputFiles.length == 2, s"got ${ge.inputFiles.length}")
    assert(ge.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L, 5L))

    val lt = t(spark, ReadArgs.where(Filter("v", "<", "b")))
    assert(lt.inputFiles.length == 1)
    assert(lt.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }
}

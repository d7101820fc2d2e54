package graft.tables

import graft.SparkSpec
import graft.core.{Filter, Filters}
import graft.export.IcebergUniform
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path

/** Native Iceberg read path: UniForm-exported tables round-trip
  * (including DV tables via position-delete translation and snapshot
  * history across re-exports), and a hand-built "foreign-written"
  * table proves the reader against metadata graft did not produce —
  * equality deletes with Iceberg's strict sequence-number gating.
  */
class IcebergTableSpec extends SparkSpec {
  import spark.implicits._

  test("export → native read round-trips; identity filters prune to matching files") {
    val dir = tempDir("ice-read").toString + "/t"
    DeltaWrite.append(spark,
      Seq((1L, "a", 0), (2L, "b", 0), (3L, "c", 1)).toDF("id", "v", "part"),
      dir, partitionBy = Seq("part"))
    DeltaWrite.append(spark,
      Seq((4L, "d", 1), (5L, "e", 2)).toDF("id", "v", "part"),
      dir, partitionBy = Seq("part"))
    IcebergUniform.export(spark, dir)

    val t = new IcebergTable("t", dir)
    val all = t(spark, ReadArgs.empty).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(all == Seq((1L, "a", 0), (2L, "b", 0), (3L, "c", 1), (4L, "d", 1), (5L, "e", 2)))

    val p1 = t(spark, ReadArgs.where(Filter("part", "=", 1)))
    assert(p1.inputFiles.nonEmpty && p1.inputFiles.forall(_.contains("part=1")),
      s"partition pruning must open only part=1 files, got ${p1.inputFiles.mkString(", ")}")
    assert(p1.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(3L, 4L))

    val proj = t(spark, ReadArgs(
      filters = Filters.normalize(Seq(Filter("part", "=", 2))),
      columns = Some(Seq("v"))))
    assert(proj.columns.toSeq == Seq("v"))
    assert(proj.collect().map(_.getString(0)).toSeq == Seq("e"))
  }

  test("DV table exports position deletes; native read matches the Delta read") {
    val dir = tempDir("ice-dv").toString + "/t"
    DeltaWrite.append(spark,
      (1L to 10L).map(i => (i, s"v$i", (i % 2).toInt)).toDF("id", "v", "part"),
      dir, partitionBy = Seq("part"))
    DeltaWrite.deleteWhereDv(spark, dir, Filters.normalize(Seq(Filter("id", "<", 4L))))
    IcebergUniform.export(spark, dir)

    val viaIceberg = new IcebergTable("t", dir)(spark, ReadArgs.empty)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val viaDelta = new DeltaTable("t", dir)(spark, ReadArgs.empty)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(viaIceberg == viaDelta)
    assert(viaIceberg.map(_._1) == (4L to 10L))
    // the translation really wrote position-delete parquet
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(dir, "_iceberg/deletes")))
  }

  test("exported position-delete files survive Delta VACUUM (both variants)") {
    val dir = tempDir("ice-vacuum").toString + "/t"
    DeltaWrite.append(spark,
      (1L to 6L).map(i => (i, s"v$i")).toDF("id", "v"), dir)
    DeltaWrite.deleteWhereDv(spark, dir, Filters.normalize(Seq(Filter("id", "=", 2L))))
    IcebergUniform.export(spark, dir)
    // zero retention: anything vacuum considers a stray dies NOW —
    // the _iceberg delete parquet must be out of scope
    DeltaWrite.vacuum(spark, dir, retentionMs = 0L)
    DeltaWrite.vacuumDistributed(spark, dir, retentionMs = 0L)
    val got = new IcebergTable("t", dir)(spark, ReadArgs.empty)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 3L, 4L, 5L, 6L))
  }

  test("snapshot selection: snapshotId and asOfTimestampMs across re-exports") {
    val dir = tempDir("ice-tt").toString + "/t"
    DeltaWrite.append(spark, Seq((1L, "a")).toDF("id", "v"), dir)
    IcebergUniform.export(spark, dir)
    val betweenExports = System.currentTimeMillis()
    Thread.sleep(5)
    DeltaWrite.append(spark, Seq((2L, "b")).toDF("id", "v"), dir)
    IcebergUniform.export(spark, dir)

    val t = new IcebergTable("t", dir)
    assert(t(spark, ReadArgs.empty).collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    assert(t(spark, ReadArgs(extra = Map(t.SnapshotIdKey -> 0L)))
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(t(spark, ReadArgs(extra = Map(t.TimestampKey -> betweenExports)))
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    val e = intercept[IllegalArgumentException] {
      t(spark, ReadArgs(extra = Map(t.SnapshotIdKey -> 99L)))
    }
    assert(e.getMessage.contains("snapshot 99"))
  }

  test("equality deletes: null-safe match, strict sequence gating (foreign-written table)") {
    val root = tempDir("ice-foreign").toString + "/t"
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaDir = new Path(root, "metadata")
    fs.mkdirs(metaDir)

    def oneParquet(dir: String, df: org.apache.spark.sql.DataFrame): (String, Long) = {
      df.coalesce(1).write.mode("overwrite").parquet(dir)
      val f = fs.listStatus(new Path(dir)).find(_.getPath.getName.endsWith(".parquet")).get
      (f.getPath.toUri.getPath, f.getLen)
    }
    val (dataPath, dataLen) =
      oneParquet(root + "/data", Seq((Option(1L), "a"), (Option(2L), "b"),
        (Option(3L), "c"), (Option.empty[Long], "n")).toDF("id", "v"))
    // seq 2: deletes id=3 and the null-id row (null <=> null matches)
    val (del2Path, del2Len) = oneParquet(root + "/del2", Seq(Option(3L), Option.empty[Long]).toDF("id"))
    // seq 1 == data seq: NOT strictly newer, must not apply
    val (del1Path, del1Len) = oneParquet(root + "/del1", Seq(Option(1L)).toDF("id"))

    val entrySchema = IcebergManifests.manifestEntrySchema(Seq.empty)
    def writeManifest(name: String, content: String,
        entries: Seq[(String, Long, Long, Int, Long)]): (String, Long) = {
      val p = new Path(metaDir, name)
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](entrySchema))
      w.setMeta("format-version", "2")
      w.setMeta("content", content)
      w.create(entrySchema, fs.create(p, true))
      try entries.foreach { case (path, len, rows, fileContent, seq) =>
        val dfSchema = entrySchema.getField("data_file").schema()
        val df = new GenericData.Record(dfSchema)
        df.put("content", fileContent)
        df.put("file_path", path)
        df.put("file_format", "PARQUET")
        df.put("partition",
          new GenericData.Record(dfSchema.getField("partition").schema()))
        df.put("record_count", rows)
        df.put("file_size_in_bytes", len)
        if (fileContent == 2)
          df.put("equality_ids", java.util.Arrays.asList(Integer.valueOf(1)))
        val e = new GenericData.Record(entrySchema)
        e.put("status", 1)
        e.put("snapshot_id", 1L)
        e.put("sequence_number", seq)
        e.put("file_sequence_number", seq)
        e.put("data_file", df)
        w.append(e)
      } finally w.close()
      (p.toString, fs.getFileStatus(p).getLen)
    }
    val (dataManifest, dataManifestLen) =
      writeManifest("m-data.avro", "data", Seq((dataPath, dataLen, 4L, 0, 1L)))
    val (delManifest, delManifestLen) =
      writeManifest("m-del.avro", "deletes",
        Seq((del2Path, del2Len, 2L, 2, 2L), (del1Path, del1Len, 1L, 2, 1L)))

    val listPath = new Path(metaDir, "snap-1.avro")
    locally {
      val s = IcebergManifests.manifestFileSchema
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](s))
        .create(s, fs.create(listPath, true))
      try Seq((dataManifest, dataManifestLen, 0), (delManifest, delManifestLen, 1))
        .foreach { case (mp, len, content) =>
          val r = new GenericData.Record(s)
          r.put("manifest_path", mp)
          r.put("manifest_length", len)
          r.put("partition_spec_id", 0)
          r.put("content", content)
          r.put("sequence_number", 2L)
          r.put("min_sequence_number", 1L)
          r.put("added_snapshot_id", 1L)
          r.put("added_files_count", 1)
          r.put("existing_files_count", 0)
          r.put("deleted_files_count", 0)
          r.put("added_rows_count", 0L)
          r.put("existing_rows_count", 0L)
          r.put("deleted_rows_count", 0L)
          w.append(r)
        }
      finally w.close()
    }

    val metaJson =
      s"""{"format-version":2,"table-uuid":"u","location":"$root",
         |"last-sequence-number":2,"last-updated-ms":1,"last-column-id":2,
         |"current-schema-id":0,
         |"schemas":[{"type":"struct","schema-id":0,"fields":[
         |  {"id":1,"name":"id","required":false,"type":"long"},
         |  {"id":2,"name":"v","required":false,"type":"string"}]}],
         |"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0,
         |"last-partition-id":999,"current-snapshot-id":1,
         |"snapshots":[{"snapshot-id":1,"sequence-number":2,"timestamp-ms":1,
         |  "manifest-list":"$listPath","schema-id":0}]}""".stripMargin
    val out = fs.create(new Path(metaDir, "v1.metadata.json"), true)
    out.write(metaJson.getBytes("UTF-8")); out.close()
    val hint = fs.create(new Path(metaDir, "version-hint.text"), true)
    hint.write("1".getBytes("UTF-8")); hint.close()

    val got = new IcebergTable("foreign", root)(spark, ReadArgs.empty)
      .collect().map(r => (Option(r.get(0)), r.getString(1))).toSet
    // id=3 and the null row deleted by seq 2; id=1 survives seq-1 gating
    assert(got == Set((Some(1L), "a"), (Some(2L), "b")))
  }

  test("getSchema exposes columns and identity partition transforms") {
    val dir = tempDir("ice-schema").toString + "/t"
    DeltaWrite.append(spark,
      Seq((1L, "a", 7)).toDF("id", "v", "part"), dir, partitionBy = Seq("part"))
    IcebergUniform.export(spark, dir)
    val s = new IcebergTable("t", dir).getSchema(spark)
    assert(s.partitions.map(p => (p.columnName, p.typeAnnotation)) == Seq(("part", "int")))
    assert(s.columns.map(_.column) == Seq("id", "v", "part"))
  }
}

package graft.tables

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.SparkSpec
import graft.core.{Filter, Filters}
import graft.export.IcebergUniform
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.fs.Path

/** The Avro manifest contract every Iceberg commit kind must keep:
  * each manifest in the new snapshot's list carries the file-level
  * keys an Iceberg `ManifestReader` binds by — `schema` is the table's
  * current schema, `partition-spec` is the fields of the spec its
  * `partition-spec-id` names, `content` is `data` or `deletes` as the
  * list row says — and the list row's file and row counts equal the
  * manifest's entries by status.
  */
class IcebergManifestContractSpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new ObjectMapper()

  /** Check every manifest of the current snapshot against the latest
    * committed metadata JSON; returns the manifest-list rows.
    */
  private def assertManifestsAgree(dir: String): Seq[GenericRecord] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaDir = new Path(dir, "metadata")
    val root = IcebergWrite.readRoot(fs, metaDir,
      IcebergWrite.latestVersionByScan(fs, metaDir).get)
    val schemaId = root.path("current-schema-id").asInt(0)
    val schema = IcebergMeta.elements(root.path("schemas"))
      .find(_.path("schema-id").asInt(-1) == schemaId).get
    val specFields: Map[Int, JsonNode] = IcebergMeta.elements(root.path("partition-specs"))
      .map(s => s.path("spec-id").asInt() -> s.path("fields")).toMap
    val snapId = root.path("current-snapshot-id").asLong()
    val snap = IcebergMeta.elements(root.path("snapshots"))
      .find(_.path("snapshot-id").asLong() == snapId).get
    val rows = IcebergMeta.readAvro(fs, new Path(snap.path("manifest-list").asText()))
    assert(rows.nonEmpty, s"snapshot $snapId of $dir lists no manifests")
    rows.foreach { row =>
      val path = row.get("manifest_path").toString
      def int(f: String): Int = row.get(f).asInstanceOf[Int]
      def long(f: String): Long = row.get(f).asInstanceOf[Long]
      val r = new DataFileReader(
        new FsInput(new Path(path), spark.sparkContext.hadoopConfiguration),
        new GenericDatumReader[GenericRecord]())
      try {
        assert(mapper.readTree(r.getMetaString("schema")) == schema,
          s"$path: schema key is not the current schema")
        val specId = r.getMetaString("partition-spec-id").toInt
        assert(int("partition_spec_id") == specId, path)
        assert(specFields.get(specId).contains(mapper.readTree(r.getMetaString("partition-spec"))),
          s"$path: partition-spec is not the fields of spec $specId")
        assert(r.getMetaString("content") == (if (int("content") == 0) "data" else "deletes"),
          s"$path: content key disagrees with the list row's content ${int("content")}")
        val entries = Iterator.continually(r).takeWhile(_.hasNext).map(_.next()).toSeq
        def files(status: Int): Int = entries.count(_.get("status") == status)
        def recs(status: Int): Long = entries.filter(_.get("status") == status).map(e =>
          e.get("data_file").asInstanceOf[GenericRecord].get("record_count")
            .asInstanceOf[Long]).sum
        assert(int("added_files_count") == files(1), path)
        assert(int("existing_files_count") == files(0), path)
        assert(int("deleted_files_count") == files(2), path)
        assert(long("added_rows_count") == recs(1), path)
        assert(long("existing_rows_count") == recs(0), path)
        assert(long("deleted_rows_count") == recs(2), path)
      } finally r.close()
    }
    rows
  }

  private def contents(rows: Seq[GenericRecord]): Seq[Int] =
    rows.map(_.get("content").asInstanceOf[Int])

  private def ids(dir: String): Seq[Long] =
    new IcebergTable("t", dir)(spark, ReadArgs.empty)
      .select("id").as[Long].collect().sorted.toSeq

  test("append, partitioned and not") {
    val flat = tempDir("mc-flat").toString + "/t"
    IcebergWrite.append(spark, (1L to 6L).map(i => (i, s"v$i")).toDF("id", "v"), flat)
    IcebergWrite.append(spark, (7L to 9L).map(i => (i, s"v$i")).toDF("id", "v"), flat)
    assert(contents(assertManifestsAgree(flat)) == Seq(0, 0))

    val parted = tempDir("mc-parted").toString + "/t"
    IcebergWrite.append(spark,
      (1L to 8L).map(i => (i, (i % 3).toInt, s"v$i")).toDF("id", "p", "v"), parted, Seq("p"))
    IcebergWrite.append(spark,
      (9L to 12L).map(i => (i, (i % 3).toInt, s"v$i")).toDF("id", "p", "v"), parted)
    assert(contents(assertManifestsAgree(parted)) == Seq(0, 0))
    assert(ids(parted) == (1L to 12L))
  }

  test("deleteWhere (v2 position deletes) and deleteWhereDv, with a superseded DV") {
    val v2 = tempDir("mc-pos").toString + "/t"
    IcebergWrite.append(spark,
      (1L to 10L).map(i => (i, (i % 2).toInt, s"v$i")).toDF("id", "p", "v"), v2, Seq("p"))
    IcebergWrite.deleteWhere(spark, v2, Filters.normalize(Seq(Filter("id", "<=", 3L))))
    assert(contents(assertManifestsAgree(v2)).sorted == Seq(0, 1))
    assert(ids(v2) == (4L to 10L))

    val dv = tempDir("mc-dv").toString + "/t"
    IcebergWrite.append(spark,
      (1L to 10L).map(i => (i, (i % 2).toInt, s"v$i")).toDF("id", "p", "v"), dv, Seq("p"))
    IcebergWrite.deleteWhereDv(spark, dv, Filters.normalize(Seq(Filter("id", "<=", 2L))))
    val rows = assertManifestsAgree(dv)
    // the second delete supersedes both DVs: their manifest is
    // rewritten with the old entries recorded DELETED
    IcebergWrite.deleteWhereDv(spark, dv, Filters.normalize(Seq(Filter("id", "<=", 4L))))
    val rows2 = assertManifestsAgree(dv)
    assert(rows2.exists(_.get("deleted_files_count").asInstanceOf[Int] > 0),
      "the superseded DV manifest was not rewritten")
    assert(rows.size == 2 && rows2.size == 3)
    assert(ids(dv) == (5L to 10L))
  }

  test("deleteEquality and upsertEquality") {
    val dir = tempDir("mc-eq").toString + "/t"
    IcebergWrite.append(spark, (1L to 6L).map(i => (i, s"v$i")).toDF("id", "v"), dir)
    IcebergWrite.deleteEquality(spark, dir, Seq(2L, 4L).toDF("id"))
    assert(contents(assertManifestsAgree(dir)) == Seq(0, 1))
    IcebergWrite.upsertEquality(spark,
      Seq((5L, "new5"), (7L, "v7")).toDF("id", "v"), dir, Seq("id"))
    assert(contents(assertManifestsAgree(dir)).sorted == Seq(0, 0, 1, 1))
    assert(ids(dir) == Seq(1L, 3L, 5L, 6L, 7L))
  }

  test("an upsertEquality that adds a column binds its manifests to the new schema") {
    val dir = tempDir("mc-eq-evolve").toString + "/t"
    IcebergWrite.append(spark, (1L to 4L).map(i => (i, s"v$i")).toDF("id", "v"), dir)
    IcebergWrite.upsertEquality(spark,
      Seq((2L, "new2", "x"), (5L, "v5", "y")).toDF("id", "v", "extra"), dir, Seq("id"))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaDir = new Path(dir, "metadata")
    val root = IcebergWrite.readRoot(fs, metaDir,
      IcebergWrite.latestVersionByScan(fs, metaDir).get)
    val schemaId = root.path("current-schema-id").asInt(0)
    assert(schemaId > 0, "the upsert must have evolved the schema")
    val schema = IcebergMeta.elements(root.path("schemas"))
      .find(_.path("schema-id").asInt(-1) == schemaId).get
    val snapId = root.path("current-snapshot-id").asLong()
    val snap = IcebergMeta.elements(root.path("snapshots"))
      .find(_.path("snapshot-id").asLong() == snapId).get
    // the manifests this commit wrote (the first append's carried
    // manifest keeps the schema it was written under)
    val added = IcebergMeta.readAvro(fs, new Path(snap.path("manifest-list").asText()))
      .filter(_.get("added_snapshot_id").asInstanceOf[Long] == snapId)
    assert(contents(added).sorted == Seq(0, 1))
    added.foreach { row =>
      val path = row.get("manifest_path").toString
      val r = new DataFileReader(
        new FsInput(new Path(path), spark.sparkContext.hadoopConfiguration),
        new GenericDatumReader[GenericRecord]())
      try assert(mapper.readTree(r.getMetaString("schema")) == schema,
        s"$path: schema key is not the committed schema")
      finally r.close()
    }
    assert(ids(dir) == (1L to 5L))
  }

  test("rewriteManifests, scoped rewriteDataFiles and updateWhere") {
    val dir = tempDir("mc-maint").toString + "/t"
    (0 until 3).foreach { k =>
      IcebergWrite.append(spark,
        (1L to 4L).map(i => (k * 10 + i, (i % 2).toInt, s"v$i")).toDF("id", "p", "v"),
        dir, Seq("p"))
    }
    assert(IcebergMaintenance.rewriteManifests(spark, dir).isDefined)
    assert(contents(assertManifestsAgree(dir)) == Seq(0))

    IcebergMaintenance.rewriteDataFiles(spark, dir, Filters.normalize(Seq(Filter("p", "=", 0))))
    assert(contents(assertManifestsAgree(dir)) == Seq(0, 0))

    IcebergWrite.updateWhere(spark, dir,
      Filters.normalize(Seq(Filter("id", "=", 21L))), Seq("v" -> "'upd'"))
    assertManifestsAgree(dir)
    val all = new IcebergTable("t", dir)(spark, ReadArgs.empty)
    assert(all.count() == 12L)
    assert(all.where("v = 'upd'").select("id").as[Long].collect().toSeq == Seq(21L))
  }

  test("UniForm export: data and delete manifests") {
    val dir = tempDir("mc-uniform").toString + "/t"
    DeltaWrite.append(spark,
      (1L to 10L).map(i => (i, (i % 2).toInt, s"v$i")).toDF("id", "p", "v"), dir,
      partitionBy = Seq("p"))
    DeltaWrite.deleteWhereDv(spark, dir, Filters.normalize(Seq(Filter("id", "<", 4L))))
    IcebergUniform.export(spark, dir)
    assert(contents(assertManifestsAgree(dir)) == Seq(0, 1))
  }
}

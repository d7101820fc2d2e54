package graft.tables

import graft.SparkSpec
import graft.core.Filter
import org.apache.spark.sql.functions._

/** add_files migration: existing parquet imported in place — manifest
  * entries point at the ORIGINAL files, nothing is copied.
  */
class IcebergAddFilesSpec extends SparkSpec {
  import spark.implicits._

  private def srcData = Seq(
    (1L, "a", 0), (2L, "b", 0), (3L, "c", 1), (4L, "d", 1), (5L, "e", 2))
    .toDF("id", "v", "part")

  test("imports a hive-partitioned dir in place: no copy, pruned reads") {
    val base = tempDir("ice-addf").toString
    val src = s"$base/src"
    srcData.write.partitionBy("part").parquet(src)
    val table = s"$base/table"
    IcebergWrite.addFiles(spark, src, table, Seq("part"))

    val t = new IcebergTable("t", table)
    val all = t(spark, ReadArgs.empty)
    assert(all.select("id", "v", "part").as[(Long, String, Int)].collect().toSet ==
      srcData.as[(Long, String, Int)].collect().toSet)

    // manifest references the ORIGINAL files — all planned inputs live
    // under src/, and the table dir holds metadata only
    val planned = all.inputFiles
    assert(planned.nonEmpty && planned.forall(_.contains("/src/")), planned.take(3).toSeq)
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(table), true)
    var dataParquet = 0
    while (it.hasNext) {
      val p = it.next().getPath.toString
      if (p.endsWith(".parquet") && !p.contains("/metadata/")) dataParquet += 1
    }
    assert(dataParquet == 0, "addFiles must not copy data into the table dir")

    // partition pruning plans only the matching hive leaf
    val pruned = t(spark, ReadArgs(
      filters = graft.core.Filters.normalize(Seq(Filter("part", "=", 1)))))
    assert(pruned.select("id").as[Long].collect().sorted.toSeq == Seq(3L, 4L))
    assert(pruned.inputFiles.forall(_.contains("part=1")), pruned.inputFiles.toSeq)
  }

  test("record counts and bounds hold for partition directories that need URI encoding") {
    val base = tempDir("ice-encparts").toString
    val rows = Seq((1L, "a b"), (2L, "a b"), (3L, "x%y"), (4L, "plain")).toDF("id", "p")
    def assertCounted(table: String): Unit = {
      val data = IcebergMetaTables.files(spark, table).where(col("content") === 0)
        .select("file_path", "record_count").as[(String, Long)].collect()
      assert(data.map(_._2).sum == 4L && data.forall(_._2 > 0), data.toSeq)
      // the id bounds prune: only p=plain holds id 4
      val hit = new IcebergTable("t", table)(spark, ReadArgs.where(Filter("id", "=", 4L)))
      assert(hit.inputFiles.length == 1 && hit.count() == 1)
    }
    // a writer commit stages the files itself
    IcebergWrite.append(spark, rows.repartition(1), s"$base/written", partitionBy = Seq("p"))
    assertCounted(s"$base/written")
    // an import aggregates the foreign files it adds
    rows.repartition(1).write.partitionBy("p").parquet(s"$base/src")
    IcebergWrite.addFiles(spark, s"$base/src", s"$base/imported", Seq("p"))
    assertCounted(s"$base/imported")
  }

  test("extends an existing table; source rows and imported rows coexist") {
    val base = tempDir("ice-addf2").toString
    val src = s"$base/src"
    srcData.where(col("part") === 2).write.partitionBy("part").parquet(src)
    val table = s"$base/table"
    IcebergWrite.append(spark, srcData.where(col("part") < 2), table, Seq("part"))
    IcebergWrite.addFiles(spark, src, table, Seq("part"))
    val got = new IcebergTable("t", table)(spark, ReadArgs.empty)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("transform partitioning and Delta sources refuse") {
    val base = tempDir("ice-addf3").toString
    val src = s"$base/src"
    srcData.write.parquet(src)
    intercept[IllegalArgumentException] {
      IcebergWrite.addFiles(spark, src, s"$base/t", Seq("bucket(4, id)"))
    }
    val dsrc = s"$base/delta"
    DeltaWrite.append(spark, srcData, dsrc)
    intercept[IllegalArgumentException] {
      IcebergWrite.addFiles(spark, dsrc, s"$base/t2")
    }
  }
}

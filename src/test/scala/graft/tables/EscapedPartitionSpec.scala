package graft.tables

import graft.SparkSpec
import graft.core.{Filter, Filters}

/** Partition values whose directory names need escaping (spaces, '%',
  * '+', '#', '=', ':') — the encoding seam this round's plan-width
  * collapse made load-bearing: `_metadata.file_path` arrives
  * URI-ENCODED while log/manifest/timeline paths keep the raw on-disk
  * spelling, so every file-keyed map probe must percent-decode
  * exactly once. This sweep pins the contract across the whole triad:
  * values round-trip bit-exact, partition pruning stays exact, DML
  * (DV delete) and MOR file-group resolution work on escaped
  * directories.
  */
class EscapedPartitionSpec extends SparkSpec {
  import spark.implicits._

  // '+' must NOT decode to space (URLDecoder semantics would);
  // '%41' as a VALUE must not double-decode to 'A'
  private val values = Seq("plain", "a b", "a+b", "p%41t", "x#y", "k=v", "c:d")

  private def rows = values.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    .toDF("id", "part")

  test("Delta: escaped partition dirs round-trip; pruning and DV DELETE stay exact") {
    val dir = tempDir("esc-delta").toString + "/t"
    DeltaWrite.append(spark, rows, dir, partitionBy = Seq("part"))
    val t = new DeltaTable("t", dir)
    val got = t(spark, ReadArgs.empty)
      .select("id", "part").as[(Long, String)].collect().toSet
    assert(got == values.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSet)

    // exact partition pruning on every escaped value
    values.foreach { v =>
      val p = t(spark, ReadArgs(filters = Filters.normalize(Seq(Filter("part", "=", v)))))
      assert(p.select("part").as[String].collect().toSeq == Seq(v),
        s"pruned read of '$v' returned the wrong slice")
      assert(p.inputFiles.length < values.size, s"no pruning for '$v'")
    }

    // DV DELETE inside an escaped partition: the bitmap keys on the
    // decoded path, the read anti-filters it
    DeltaWrite.deleteWhereDv(spark, dir,
      Filters.normalize(Seq(Filter("part", "=", "a b"))))
    val after = t(spark, ReadArgs.empty).select("part").as[String].collect().toSet
    assert(after == values.toSet - "a b")
  }

  test("Iceberg: escaped identity partition values round-trip and prune") {
    val dir = tempDir("esc-ice").toString + "/t"
    IcebergWrite.append(spark, rows, dir, Seq("part"))
    val t = new IcebergTable("t", dir)
    val got = t(spark, ReadArgs.empty)
      .select("id", "part").as[(Long, String)].collect().toSet
    assert(got == values.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSet)
    values.foreach { v =>
      val p = t(spark, ReadArgs(filters = Filters.normalize(Seq(Filter("part", "=", v)))))
      assert(p.select("id").as[Long].collect().toSeq ==
        Seq(values.indexOf(v).toLong), s"wrong rows for '$v'")
    }
  }

  test("Iceberg: a DV DELETE by a data-column predicate reaches escaped dirs") {
    val dir = tempDir("esc-ice-dv").toString + "/t"
    IcebergWrite.append(spark, rows, dir, Seq("part"))
    IcebergWrite.deleteWhereDv(spark, dir, Filters.normalize(Seq(Filter("id", ">=", 0L))),
      predicateSql = Some("id % 2 = 0"))
    val got = new IcebergTable("t", dir)(spark).select("id").as[Long].collect().sorted.toSeq
    assert(got == values.indices.map(_.toLong).filter(_ % 2 == 1))
  }

  test("Iceberg: a v2 position DELETE reaches escaped dirs, by data and partition predicates") {
    val dir = tempDir("esc-ice-v2").toString + "/t"
    val parts = Seq("a b", "plain", "x%y")
    IcebergWrite.append(spark,
      Seq((0L, "a b"), (1L, "plain"), (2L, "x%y"), (3L, "x%y")).toDF("id", "p"), dir, Seq("p"))
    val t = new IcebergTable("t", dir)
    def ids = t(spark).select("id").as[Long].collect().sorted.toSeq
    val v0 = IcebergWrite.deleteWhere(spark, dir, Filters.normalize(Seq(Filter("id", "<=", 1L))))
    assert(ids == Seq(2L, 3L))
    val v1 = IcebergWrite.deleteWhere(spark, dir, Filters.normalize(Seq(Filter("p", "=", "x%y"))))
    assert(v1 != v0 && ids.isEmpty)
    assert(parts.forall(p => t(spark, ReadArgs.where(Filter("p", "=", p))).count() == 0))
  }

  test("Hudi: escaped partition dirs resolve their file group (MOR log merge)") {
    val dir = tempDir("esc-hudi").toString + "/t"
    val vRows = values.zipWithIndex.map { case (p, i) => (i.toLong, s"v$i", p) }
      .toDF("id", "v", "part")
    HudiWrite.bulkInsert(spark, vRows, dir, "id", Seq("part"),
      tableType = "MERGE_ON_READ")
    val t = new HudiTable("t", dir)
    assert(t(spark, ReadArgs.empty).select("part").as[String].collect().toSet ==
      values.toSet)
    // MOR upsert into the ESCAPED partitions logs against their base
    // files; the snapshot merge resolves each base's file group from
    // the URI-encoded _metadata path — the seam this spec pins
    HudiWrite.upsert(spark,
      Seq((1L, "V1", "a b"), (2L, "V2", "a+b")).toDF("id", "v", "part"), dir)
    val after = t(spark, ReadArgs.empty).select("id", "v", "part")
      .as[(Long, String, String)].collect().toSet
    assert(after.contains((1L, "V1", "a b")) && after.contains((2L, "V2", "a+b")),
      s"log merge lost escaped-partition upserts: $after")
    assert(after.size == values.size)
  }
}

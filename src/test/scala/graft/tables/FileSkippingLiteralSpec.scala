package graft.tables

import graft.SparkSpec
import graft.core.Filter
import org.apache.hadoop.fs.Path

/** A float column compares with a literal of another numeric type the
  * way Spark coerces the pair, to double: an integral literal stays
  * exact instead of rounding to float (16777217 would round to
  * 16777216f), so [[FileSkipping]] never prunes a file Spark reads a
  * row from. Checked for every format's stats encoding through
  * [[SkippingSoundnessOracle]].
  */
class FileSkippingLiteralSpec extends SparkSpec {
  import spark.implicits._

  test("integral literals against a float column prune only files without a matching row") {
    val df = Seq(("k0", 16777216f)).toDF(HudiWrite.RecordKeyCol, "f")
    val filters = Seq(Filter("f", "<", 16777217), Filter("f", "<", 16777217L),
      Filter("f", "!=", 16777217), Filter("f", "not in", Seq(16777217)))
    val staging = new Path(tempDir("skip-literal").toString, "staging")
    val bad = SkippingSoundnessOracle.violations(spark, df, staging, Seq.empty, filters)
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}

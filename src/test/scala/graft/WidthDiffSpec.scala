package graft

import org.apache.spark.sql.functions._

/** The width comparator behind [[WidthDeterminismSpec]] must be able
  * to fail: a planted width-dependent frame reads as differing, a
  * width-independent one as equal. */
class WidthDiffSpec extends SparkSpec {

  test("a planted width-dependent frame comes back as differing") {
    // one scan partition at narrow width, 32 at wide width
    val diff = WidthDiff(spark, (s, _) =>
      s.range(0, 10000).select(spark_partition_id().as("p")).distinct(), "")
    assert(diff.nonEmpty, "partition ids did not differ between widths")
    assert(diff.head === (("<missing>", "1")),
      s"unexpected diff:${WidthDiff.render(diff)}")
  }

  test("a width-independent frame comes back equal") {
    val diff = WidthDiff(spark, (s, _) =>
      s.range(0, 10000).groupBy((col("id") % 7).as("g"))
        .agg(sum("id").as("s")), "")
    assert(diff.isEmpty, s"exact sums differed:${WidthDiff.render(diff)}")
  }
}

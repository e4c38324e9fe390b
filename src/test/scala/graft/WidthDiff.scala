package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Partition-width comparator: builds a frame in two fresh sessions
  * that differ only in partitioning width — narrow (3 shuffle
  * partitions, 1 scan split) and wide (32/32) — and compares the
  * collected, canonically sorted rows. Spark's partial-aggregation
  * order follows the plan's exchange and scan widths, so a result
  * that depends on reduction order (floating-point sums, approximate
  * sketches) reads differently at the two widths.
  */
object WidthDiff {

  /** The first ten differing (narrow, wide) row pairs of the sorted
    * outputs; empty when the outputs are identical. A row missing on
    * one side pairs with `<missing>`. */
  def apply(spark: SparkSession, frame: (SparkSession, String) => DataFrame,
      sfDir: String): Seq[(String, String)] = {
    def runAt(shuffle: Int, minSplits: Int): Seq[String] = {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", shuffle)
      s.conf.set("spark.sql.files.minPartitionNum", minSplits)
      s.conf.set("spark.sql.leafNodeDefaultParallelism", minSplits)
      frame(s, sfDir).collect()
        .map(_.toSeq.map(v => if (v == null) "\u2400" else v.toString).mkString("|"))
        .toSeq.sorted
    }
    val narrow = runAt(3, 1)
    val wide = runAt(32, 32)
    narrow.zipAll(wide, "<missing>", "<missing>")
      .filter(p => p._1 != p._2).take(10)
  }

  /** One line per differing pair, for an assertion message. */
  def render(diff: Seq[(String, String)]): String =
    diff.map { case (a, b) => s"\n  narrow: $a\n  wide:   $b" }.mkString
}

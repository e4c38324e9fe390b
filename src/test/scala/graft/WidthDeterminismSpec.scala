package graft

/** Partition-width determinism gate for every declared query.
  *
  * The q95 lesson: Spark's partial-aggregation order follows the scan
  * and shuffle widths Catalyst plans, so a `round(avg(double), p)`
  * reducer can flip an output digit between a narrow and a wide run
  * (r7's one red row: band (2, src8) avg_score read −3.401753 at
  * 32-wide vs −3.401754 at the 3/8-wide runs that matched the
  * oracle). Width sensitivity is a property of the whole plan —
  * checkpoints, streams and sketches included — so no query is
  * singled out: every entry of [[SparkEntry.queries]] runs under a
  * narrow (3 shuffle partitions, 1 scan split) and a wide (32/32)
  * session and must collect IDENTICAL rows ([[WidthDiff]]). One test
  * per query, so a failure names its query. `WidthDiffSpec` shows the
  * comparator can fail.
  */
class WidthDeterminismSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.01"

  SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
    test(s"$name is identical at narrow (3/1) and wide (32/32) widths") {
      val diff = WidthDiff(spark, SparkEntry.queries(name), sfDir)
      assert(diff.isEmpty,
        s"$name output depends on partition width:${WidthDiff.render(diff)}")
    }
  }
}

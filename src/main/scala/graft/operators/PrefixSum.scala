package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed order-statistics primitive: cumulative sums (and row
  * numbers) over a TOTAL order, without a single-partition window.
  *
  * The rank-statistic family (AUC, Mann-Whitney U, Spearman, KS,
  * Lorenz/Gini) needs "sum of counts over all values ordered before
  * mine". The naive spelling — `sum(c).over(Window.orderBy(v))` with
  * no partition — is exact but collapses the whole frame into ONE
  * task: fine when the frame is a distinct-value grain of a discrete
  * metric, a scale killer when the ordered column is a continuous
  * per-row score (the grain IS the corpus). This is the
  * range-partitioned spelling that keeps exactness and parallelism:
  *
  *  1. B−1 approximate quantile cuts of the order column (one
  *     bounded-memory `approx_percentile` aggregate, B ≈ the session
  *     shuffle width — each bucket lands near one shuffle partition's
  *     worth of rows; the ≤B−1 splitters are collected to the driver
  *     and inlined as literals — the sample-sort pattern: splitters
  *     cross to the coordinator, rows never do);
  *  2. each row buckets by `Σ 1[v > cutᵢ]` — monotone in v and
  *     constant across ties, so bucket ranges never interleave;
  *  3. per-bucket prefix sums via a PARTITIONED window (the only
  *     corpus-scale window, B-way parallel);
  *  4. per-bucket totals (map-side-combined aggregate, ≤ B rows)
  *     self-joined into strictly-lower-bucket offsets — a B×B
  *     broadcast triangle, no window at all;
  *  5. cum = lower-bucket offset + in-bucket prefix.
  *
  * Exactness does NOT depend on where the cuts land: the sums are
  * integer (long) arithmetic and the bucket boundaries respect the
  * order, so ANY monotone bucketing yields the identical result —
  * `approx_percentile`'s error budget only moves work between
  * buckets, never a row past its rank. That is what makes the output
  * bit-stable across partition widths (the q95 determinism bar) even
  * though the sketch itself is width-sensitive.
  *
  * Skew: a single value carrying most of the corpus collapses to ONE
  * grain row upstream (callers aggregate to the distinct-value grain
  * first), so buckets stay balanced in grain rows even under heavy
  * value skew.
  *
  * The shape is the classic two-level scan (per-block partials + a
  * block-offset pass; Blelloch, "Prefix Sums and Their Applications",
  * 1990) lifted onto range partitioning à la sample-sort/TeraSort:
  * sampled splitters bound each block, and only the ≤B-row totals
  * frame crosses blocks.
  */
object PrefixSum {

  /** `grain` + one `outPrefix<c>` long column per `sumCols` entry:
    * the sum of that column over all rows strictly before (exclusive)
    * or up to and including (inclusive) the current row in
    * `(orderCol, tieBreak*)` order. The order must be TOTAL over the
    * rows (callers either pass a distinct-value grain keyed by
    * `orderCol`, or tie-break to uniqueness); `sumCols` must be long
    * (integer) columns — exactness of the distributed reassembly is
    * argued on integer addition. */
  def withCumulative(grain: DataFrame, orderCol: String,
      tieBreak: Seq[String], sumCols: Seq[String], inclusive: Boolean,
      outPrefix: String = "__cum_"): DataFrame = {
    val reserved = Set("__bkt") ++
      sumCols.flatMap(c => Seq(s"__loc_$c", s"__t_$c", s"__lt_$c", s"__off_$c"))
    val shadowed = grain.columns.toSet.intersect(reserved)
    require(shadowed.isEmpty,
      s"input columns shadow reserved internal names: ${shadowed.mkString(", ")}")
    // the OUTPUT names must be fresh too, or the result frame carries
    // duplicate column names that only fail downstream
    val outClash = grain.columns.toSet
      .intersect(sumCols.map(c => s"$outPrefix$c").toSet)
    require(outClash.isEmpty,
      s"input columns collide with output names: ${outClash.mkString(", ")}")
    val spark = grain.sparkSession
    val nBuckets = math.max(
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt, 16)
    // The grain feeds two passes (the splitter sketch and the window
    // pass), so cache it for the duration of this call unless the
    // caller already did; the splitter collect below doubles as the
    // eager materialization, so nothing downstream races to fill it.
    val wasCached =
      grain.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val g = if (wasCached) grain else grain.persist()
    try {
      // bounded driver collect — ≤ nBuckets−1 splitter values, the
      // sample-sort pattern: splitters come to the coordinator, rows
      // never do. Inlining them as literals keeps the main pass a
      // single-subplan scan (no broadcast-cuts branch re-reading the
      // grain).
      // accuracy 1000 (r11; was 10000): the cuts only BALANCE buckets —
      // exactness never depends on where they land (see the module
      // scaladoc), so a 0.1%-rank-error sketch is ample (buckets land
      // within ~0.1% of even) and the sketch pass itself is the
      // cheaper for it at every scale.
      val sketch = g.agg(percentile_approx(col(orderCol),
        typedLit((1 until nBuckets).map(_ / nBuckets.toDouble)),
        lit(1000)).as("__cuts"))
      val cutsRow = sketch.head()
      val cuts: Seq[Any] =
        if (cutsRow.isNullAt(0)) Nil
        else cutsRow.getSeq[Any](0).filter(_ != null)
      val bkt = cuts.foldLeft(lit(0)) { (acc, c) =>
        acc + when(col(orderCol) > lit(c), 1).otherwise(0)
      }
      val wLoc = Window.partitionBy(col("__bkt"))
        .orderBy(col(orderCol) +: tieBreak.map(col): _*)
        .rowsBetween(Window.unboundedPreceding,
          if (inclusive) Window.currentRow else -1)
      // ONE window pass over the grain, checkpointed because both the
      // bucket-totals branch and the final join consume it — without
      // this the partitioned window ran once per consuming subplan.
      // Reliable (not local) checkpoint: this frame is corpus-scale
      // (the grain of a continuous score IS the corpus), and a
      // lineage-truncated local checkpoint cannot recompute a
      // partition lost with its executor — under a configured
      // checkpoint dir the pass lands reliably (costing one parquet
      // write+read of the window pass per call), locally it falls
      // back to the executor-local copy. stableDeferred, not stable:
      // the written dir escapes inside the returned plan so this
      // operator can never delete it itself — the deferred registry
      // deletes it at JVM shutdown, bounding checkpoint storage by
      // the session instead of growing without bound across the rank
      // family's calls.
      // measured, deliberately NOT width-pinned (r11): AQE coalesces
      // this window exchange to one task at bench scale (q169's
      // passes profile single-task, 0.5 s CPU each), but pinning it
      // to nBuckets (repartition-by-num on __bkt) read 1.22× on the
      // 14-query rank-family subset — the family calls this operator
      // repeatedly over small grains, and 32 task launches per pass
      // cost more than the serialized CPU. At real scale the grain's
      // bytes keep the exchange wide without help.
      val local = Checkpoints.stableDeferred(g
        .withColumn("__bkt", bkt)
        .select(col("*") +: sumCols.map(c =>
          coalesce(sum(col(c)).over(wLoc), lit(0L)).as(s"__loc_$c")): _*))
      val totals = local.groupBy(col("__bkt"))
        .agg(sum(sumCols.head).as(s"__t_${sumCols.head}"),
          sumCols.tail.map(c => sum(c).as(s"__t_$c")): _*)
      // strictly-lower-bucket offsets WITHOUT a window: ≤ B×B triangle
      // join over the ≤ B-row totals frame, aggregated per bucket
      val lower = totals.select(col("__bkt").as("__lb") +:
        sumCols.map(c => col(s"__t_$c").as(s"__lt_$c")): _*)
      val offsets = totals.select("__bkt")
        .join(broadcast(lower), col("__lb") < col("__bkt"), "left")
        .groupBy(col("__bkt"))
        .agg(coalesce(sum(s"__lt_${sumCols.head}"), lit(0L))
            .as(s"__off_${sumCols.head}"),
          sumCols.tail.map(c =>
            coalesce(sum(s"__lt_$c"), lit(0L)).as(s"__off_$c")): _*)
      val joined = local.join(broadcast(offsets), Seq("__bkt"))
      val outCols = grain.columns.map(col) ++ sumCols.map(c =>
        (col(s"__off_$c") + col(s"__loc_$c")).as(s"$outPrefix$c"))
      joined.select(outCols: _*)
    } finally {
      if (!wasCached) g.unpersist(blocking = false)
    }
  }

  /** 1-based row numbers over the total order `(orderCol,
    * tieBreak*)` — the distributed `row_number().over(Window.orderBy
    * (...))`. The combined sort key must be unique per row. */
  def withRowNumber(df: DataFrame, orderCol: String, tieBreak: Seq[String],
      out: String): DataFrame = {
    require(!df.columns.contains("__one"),
      "input must not contain the reserved column __one")
    require(!df.columns.contains(out),
      s"input already contains the output column name '$out'")
    withCumulative(df.withColumn("__one", lit(1L)), orderCol, tieBreak,
      Seq("__one"), inclusive = true)
      .withColumnRenamed("__cum___one", out)
      .drop("__one")
  }
}

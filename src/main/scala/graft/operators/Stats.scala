package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column profiling at corpus scale.
  *
  * [[exactQuantiles]] is the oracle-checkable reference (continuous-
  * interpolation percentiles, one grouped aggregate). At 100 TB exact
  * percentiles hold per-group sorted buffers, so [[sketchProfile]] is
  * the scale path: HyperLogLog++ distinct counts and mergeable
  * t-digest-style percentile sketches — constant memory per group,
  * one pass, no sort — with error bounds the spec pins against the
  * exact answers. This is the profile a data pipeline runs on every
  * ingest batch (row counts, key cardinality, value distribution)
  * where exact computation would cost more than the load itself.
  */
object Stats {

  /** Exact continuous-interpolation percentiles of `valueCol` per
    * group — matches SQL `quantile_cont` semantics. */
  def exactQuantiles(df: DataFrame, groupCols: Seq[Column], valueCol: Column,
      ps: Seq[Double]): DataFrame = {
    // decimal-exact labels: (0.29*100).toInt would truncate to p28,
    // and 0.99 vs 0.999 would collide at p99 — label from the decimal
    // form (p99, p99_9) and reject duplicates outright
    def label(p: Double): String =
      "p" + BigDecimal(p.toString).*(100).bigDecimal.stripTrailingZeros
        .toPlainString.replace(".", "_").replace("-", "m")
    val labels = ps.map(label)
    require(labels.distinct.size == labels.size,
      s"duplicate quantile labels: ${labels.mkString(", ")}")
    df.groupBy(groupCols: _*)
      .agg(count(lit(1)).as("n"),
        percentile(valueCol, typedLit(ps)).as("qs"))
      .select((groupCols :+ col("n")) ++
        ps.zipWithIndex.map { case (p, i) =>
          round(element_at(col("qs"), i + 1), 4).as(label(p))
        }: _*)
  }

  /** Fixed-width histogram: `nBins` equal bins over [lo, hi), values
    * at/above `hi` clamp into the last bin, below `lo` into the first
    * — one grouped aggregate over a codegen'd bin expression, the
    * distribution view a profile run pairs with [[exactQuantiles]].
    * Returns (bin, bin_lo, n) with empty bins absent. */
  def histogram(df: DataFrame, valueCol: Column, lo: Double, hi: Double,
      nBins: Int): DataFrame = {
    require(nBins > 0 && hi > lo, s"need nBins>0 and hi>lo, got $nBins, [$lo,$hi)")
    val width = (hi - lo) / nBins
    val bin = greatest(lit(0), least(lit(nBins - 1),
      floor((valueCol - lo) / width))).cast("long")
    // NaN is dropped with NULL: Spark's floor(NaN) lands it in bin 0
    // while SQL engines clamp it into the LAST bin — neither is a
    // defensible count, so a non-finite value is simply not a sample
    df.where(valueCol.isNotNull && !isnan(valueCol.cast("double")))
      .groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"))
      .withColumn("bin_lo", round(lit(lo) + col("bin") * width, 6))
      .select("bin", "bin_lo", "n")
  }

  /** Winsorized robust statistics per group: exact percentile cuts at
    * (`loP`, `hiP`), values clipped into [lo_cut, hi_cut], and the
    * mean recomputed on the clipped column — the outlier-resistant
    * location estimate a profile run reports next to the raw mean
    * (one fat-finger price ruins a mean; it cannot move a winsorized
    * one past the cut). Clip counts are exact integers, so the tail
    * mass is visible, not silently absorbed.
    *
    * Determinism: cuts come from the [[exactQuantiles]] percentile
    * (quantile_cont semantics) rounded 6dp BEFORE any comparison —
    * the [[graft.ops.Analytics.rfmSegments]] rule, so an external
    * replay clips against identical boundaries. Means round 4dp (sums
    * of clipped doubles follow the q36 money convention).
    *
    * Scale shape: two grouped corpus passes — one for the cuts (the
    * exact-percentile sort buffer is the price of oracle-exact cuts;
    * [[sketchProfile]] is the sketch path when bounds may be
    * approximate), one for the clipped aggregate — bridged by a
    * group-cardinality cuts frame joined back broadcast-sized.
    * Returns (group, n, lo_cut, hi_cut, n_clipped_lo, n_clipped_hi,
    * mean_raw, mean_wins). */
  def winsorizedStats(df: DataFrame, groupCol: Column, valueCol: Column,
      loP: Double = 0.05, hiP: Double = 0.95): DataFrame = {
    require(loP > 0.0 && hiP < 1.0 && loP < hiP,
      s"need 0 < loP < hiP < 1, got ($loP, $hiP)")
    // null/NaN are not samples (the histogram rule) — without this,
    // least/greatest's null-skipping would clip a NULL row to hi_cut
    // and count() would tally it, silently corrupting every mean
    val clean = df
      .where(valueCol.isNotNull && !isnan(valueCol.cast("double")))
    val cuts = clean.groupBy(groupCol.as("grp"))
      .agg(round(percentile(valueCol, lit(loP)), 6).as("lo_cut"),
        round(percentile(valueCol, lit(hiP)), 6).as("hi_cut"))
    clean.select(groupCol.as("grp"), valueCol.as("__v"))
      .join(broadcast(cuts), Seq("grp"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        first(col("lo_cut")).as("lo_cut"), first(col("hi_cut")).as("hi_cut"),
        sum(when(col("__v") < col("lo_cut"), 1L).otherwise(0L))
          .as("n_clipped_lo"),
        sum(when(col("__v") > col("hi_cut"), 1L).otherwise(0L))
          .as("n_clipped_hi"),
        round(sum(col("__v")) / count(lit(1)), 4).as("mean_raw"),
        round(sum(greatest(least(col("__v"), col("hi_cut")), col("lo_cut"))) /
          count(lit(1)), 4).as("mean_wins"))
  }

  /** Benford first-significant-digit audit — the fraud/entry-error
    * screen for naturally-occurring amounts (Benford 1938; Nigrini's
    * forensic-accounting use): observed share of each leading digit
    * 1..9 against the Benford expectation log₁₀(1 + 1/d), with the
    * χ² distance. Values below 1 (no leading digit in this integer
    * formulation) and nulls are excluded as non-samples — the
    * [[histogram]] NaN rule.
    *
    * Determinism: the digit extracts STRUCTURALLY — first character
    * of the exact integer part's decimal rendering (floor is exact,
    * bigint-to-string is engine-identical) — never via
    * floor(x/10^floor(log10 x)), whose libm log10 can misplace a
    * power-of-ten boundary by an ulp. Expectations are driver-pinned
    * literals (the [[Ranking.dcgDiscounts]] rule), so no log enters
    * either engine at runtime; shares derive from exact counts.
    *
    * One grouped aggregate (≤ 9 groups) over a codegen'd expression;
    * the χ² is a 9-term reduction broadcast back. Returns one row per
    * OBSERVED digit: (digit, n, share, expected, excess =
    * share − expected, chi2 — the corpus statistic repeated per row,
    * the [[klDrift]] total_kl convention). */
  def benford(df: DataFrame, valueCol: Column): DataFrame = {
    val expected = (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d))
    val spark = df.sparkSession
    import spark.implicits._
    val expDf = expected.toDF("digit", "expected")
    val digit = substring(floor(valueCol).cast("long").cast("string"), 1, 1)
      .cast("int")
    // the upper bound (the largest double below 2^63) keeps the long
    // cast exact: past it a non-ANSI cast saturates to Long.MaxValue
    // (first char '9') and +Infinity would tally as digit 9 — both
    // excluded as non-samples, like NaN
    val counts = df
      .where(valueCol.isNotNull && !isnan(valueCol.cast("double")) &&
        valueCol >= 1 && valueCol < 9.223372036854775e18)
      .groupBy(digit.as("digit")).agg(count(lit(1)).as("n"))
      .join(expDf, Seq("digit"), "right")
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
        col("expected"))
      .persist()
    val tot = counts.agg(sum("n").as("__tot"),
      // chi2 = N * sum_d (share_d - exp_d)^2 / exp_d
      sum(col("n") * col("n") / col("expected")).as("__se"))
    val out = counts.crossJoin(broadcast(tot))
      .where(col("n") > 0)
      .select(col("digit"), col("n"),
        round(col("n") / col("__tot").cast("double"), 6).as("share"),
        round(col("expected"), 6).as("expected"),
        round(col("n") / col("__tot").cast("double") - col("expected"), 6)
          .as("excess"),
        round(col("__se") / col("__tot") - col("__tot"), 4).as("chi2"))
    graft.operators.Checkpoints.materialize(out, counts)
  }

  /** Join-key skew profile — the "why is this shuffle slow" audit run
    * before keying a join or aggregate on a column: the top-N hottest
    * keys with their share and their multiple of the average key
    * load, plus the global max-over-avg skew ratio repeated per row
    * (the [[klDrift]] total convention). A ratio near 1 means uniform
    * keys; 100× means the hottest task does 100 tasks' work — reach
    * for [[graft.ops.Relational.saltedJoin]] or AQE skew handling.
    *
    * One key-grouped count (map-side combined — the profile costs one
    * pass regardless of skew), one 1-row reduction, TakeOrdered for
    * the top-N (count desc, key asc). Counts exact; ratios are
    * single divisions of integers rounded 4dp/6dp. NULL keys are
    * profiled too — they hash to one partition like any hot key,
    * which is exactly why a skew audit must see them (reported via
    * the key's string rendering, null as "(null)"). Returns
    * (key, n, share, x_avg, skew_ratio). */
  def skewProfile(df: DataFrame, keyCol: Column, topN: Int = 10): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val counts = df
      .groupBy(coalesce(keyCol.cast("string"), lit("(null)")).as("key"))
      .agg(count(lit(1)).as("n"))
      .persist()
    val glob = counts.agg(sum("n").as("__tot"), count(lit(1)).as("__k"),
      max("n").as("__max"))
    val out = counts
      .orderBy(col("n").desc, col("key"))
      .limit(topN)
      .crossJoin(broadcast(glob))
      .select(col("key"), col("n"),
        round(col("n") / col("__tot").cast("double"), 6).as("share"),
        round(col("n") * col("__k") / col("__tot").cast("double"), 4)
          .as("x_avg"),
        round(col("__max") * col("__k") / col("__tot").cast("double"), 4)
          .as("skew_ratio"))
    graft.operators.Checkpoints.materialize(out, counts)
  }

  /** Mann-Whitney U (Wilcoxon rank-sum) test — the nonparametric A/B
    * readout for a SKEWED metric (revenue, latency), where
    * [[twoProportionZ]]'s normal assumptions on means are exactly
    * what a heavy tail breaks: compare rank sums instead.
    *
    *   U_A = R_A − n_A(n_A+1)/2,  z = (U_A − n_A·n_B/2) / σ
    *   σ² = (n_A·n_B/12)·((n+1) − Σ(t³−t)/(n(n−1)))   (tie-corrected)
    *
    * Determinism — the strongest tier in this file: tied values take
    * the average rank `start + (c−1)/2`, a half-integer exact in a
    * double; every rank-sum term (count × half-integer) and their sum
    * stay EXACT doubles (integers/2 under 2^52), and the tie
    * correction is pure integer sums — so U, μ, σ², z are pinned
    * arithmetic with no accumulation-order FP anywhere, no
    * transcendental, no rounding rule doing load-bearing work. z is
    * null when either arm is empty or σ² = 0 (all values tied).
    *
    * Scale shape: one aggregate to the DISTINCT-VALUE grain (value,
    * count, count-in-A), then the cumulative rank start rides
    * [[PrefixSum.withCumulative]] (range-bucketed, B-way-parallel),
    * so the plan holds even for a continuous metric whose distinct-
    * value grain is the corpus; one 1-row reduction. Returns
    * (n_a, n_b, u_a, z). */
  def mannWhitneyU(df: DataFrame, inA: Column, valueCol: Column): DataFrame = {
    val grain = df
      .select(inA.cast("boolean").as("__a"), valueCol.as("__v"))
      .where(col("__a").isNotNull && col("__v").isNotNull &&
        !isnan(col("__v").cast("double")))
      .groupBy("__v")
      .agg(count(lit(1)).as("__c"),
        sum(when(col("__a"), 1L).otherwise(0L)).as("__ca"))
    val ranked = PrefixSum.withCumulative(grain, "__v", Nil, Seq("__c"),
        inclusive = false)
      .withColumn("__start", lit(1L) + col("__cum___c"))
      .withColumn("__avgRank",
        col("__start") + (col("__c") - 1) / lit(2.0))
    val agg = ranked.agg(
      sum("__ca").as("n_a"),
      sum(col("__c") - col("__ca")).as("n_b"),
      sum(col("__ca") * col("__avgRank")).as("__ra"),
      sum(col("__c") * col("__c") * col("__c") - col("__c")).as("__ties"))
    val nA = col("n_a").cast("double")
    val nB = col("n_b").cast("double")
    val n = nA + nB
    val u = col("__ra") - nA * (nA + 1) / lit(2.0)
    val mu = nA * nB / lit(2.0)
    val sigma2 = nA * nB / lit(12.0) *
      ((n + 1) - col("__ties") / (n * (n - 1)))
    agg.select(col("n_a"), col("n_b"), round(u, 4).as("u_a"),
      when(col("n_a") > 0 && col("n_b") > 0 && sigma2 > 0.0,
        round((u - mu) / sqrt(sigma2), 4)).as("z"))
  }

  /** Spearman rank correlation ρ between two numeric columns — the
    * monotone-association screen for metric pairs where Pearson's
    * linearity assumption is wrong (heavy tails, outliers, saturating
    * relationships). Tied values take average ranks, then ρ is
    * Pearson's formula on the ranks:
    *
    *   ρ = (n·Σrₓr_y − Σrₓ·Σr_y) / √((n·Σrₓ²−(Σrₓ)²)(n·Σr_y²−(Σr_y)²))
    *
    * Determinism — exact-integer end to end: ranks are computed on
    * the DOUBLED scale `2·avgRank = 2·start + c − 1`, a LONG even
    * under ties (Pearson is invariant to the linear rescale), and
    * every per-row product multiplies decimal(38,0) FACTORS (a long
    * product 4n² would wrap past ~1.5e9 rows) with the sums
    * accumulating as decimal(38,0) — order-independent, no FP until
    * the one final pinned expression (cast to double, round 6dp).
    * ρ is null when either column is constant (zero variance).
    *
    * Scale shape: two aggregates to each column's DISTINCT-VALUE
    * grain, each rank table's cumulative start riding
    * [[PrefixSum.withCumulative]] (range-bucketed, B-way-parallel —
    * holds even when the columns are continuous and the grain is the
    * corpus), two joins back to the rows, one 1-row reduction.
    * Returns (n, rho). */
  def spearman(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val rows = df
      .select(xCol.cast("double").as("__x"), yCol.cast("double").as("__y"))
      .where(col("__x").isNotNull && !isnan(col("__x")) &&
        col("__y").isNotNull && !isnan(col("__y")))
      .persist()
    try {
      def rankTable(c: String, out: String): DataFrame = {
        val grain = rows.groupBy(col(c)).agg(count(lit(1)).as("__c"))
        PrefixSum.withCumulative(grain, c, Nil, Seq("__c"),
            inclusive = false)
          .withColumn("__start", lit(1L) + col("__cum___c"))
          .select(col(c),
            (lit(2L) * col("__start") + col("__c") - lit(1L)).as(out))
      }
      val withR = rows
        .join(rankTable("__x", "__rx"), Seq("__x"))
        .join(rankTable("__y", "__ry"), Seq("__y"))
      val dec = "decimal(38,0)"
      // cast each FACTOR to decimal before multiplying: doubled ranks
      // reach 2n, so a long product 4n² would wrap past ~1.5e9 rows —
      // decimal×decimal stays exact to 1e38
      val agg = withR.agg(
        count(lit(1)).as("n"),
        sum(col("__rx").cast(dec)).as("__sx"),
        sum(col("__ry").cast(dec)).as("__sy"),
        sum(col("__rx").cast(dec) * col("__rx").cast(dec)).as("__sxx"),
        sum(col("__ry").cast(dec) * col("__ry").cast(dec)).as("__syy"),
        sum(col("__rx").cast(dec) * col("__ry").cast(dec)).as("__sxy"))
      val n = col("n").cast("double")
      def d(c: String) = col(c).cast("double")
      val cov = n * d("__sxy") - d("__sx") * d("__sy")
      val vx = n * d("__sxx") - d("__sx") * d("__sx")
      val vy = n * d("__syy") - d("__sy") * d("__sy")
      val out = agg.select(col("n"),
        when(vx > 0.0 && vy > 0.0,
          round(cov / sqrt(vx * vy), 6)).as("rho"))
      Checkpoints.materialize(out)
    } finally rows.unpersist(blocking = false)
  }

  /** Two-sample Kolmogorov-Smirnov test — "did the DISTRIBUTION move"
    * between two slices, sensitive anywhere on the CDF where
    * [[mannWhitneyU]] only sees location shift and [[psi]] needs a
    * binning choice:
    *
    *   D = sup_v |F_A(v) − F_B(v)|
    *
    * compared against the large-sample 5% critical value
    * `1.358·√((n_A+n_B)/(n_A·n_B))` (the p-value itself needs the KS
    * series/erf — libm the replayability rules exclude; D > crit IS
    * the decision, exactly as q144/q152 read |z| ≥ 1.96).
    *
    * Determinism: D's numerator is maximized as the exact INTEGER
    * `|cumA·n_B − cumB·n_A|` over the distinct-value grain (max of
    * longs — no FP anywhere in the sup), divided once at the end;
    * the critical value is one pinned double expression. Both round
    * 6dp; the reject flag compares the unrounded doubles (identical
    * in both engines by construction).
    *
    * Scale shape: identical to [[mannWhitneyU]] — one aggregate to
    * the distinct-value grain, both cumulative counts riding ONE
    * [[PrefixSum.withCumulative]] pass (range-bucketed, B-way-
    * parallel — holds for a continuous metric), one 1-row reduction.
    * Returns (n_a, n_b, d, crit_05, reject_05). */
  def ksTest(df: DataFrame, inA: Column, valueCol: Column): DataFrame = {
    val grain = df
      .select(inA.cast("boolean").as("__a"), valueCol.as("__v"))
      .where(col("__a").isNotNull && col("__v").isNotNull &&
        !isnan(col("__v").cast("double")))
      .groupBy("__v")
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("__ca"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("__cb"))
      .persist()
    try {
      val totals = grain.agg(
        coalesce(sum("__ca"), lit(0L)).as("n_a"),
        coalesce(sum("__cb"), lit(0L)).as("n_b"))
      val cum = PrefixSum.withCumulative(grain, "__v", Nil,
          Seq("__ca", "__cb"), inclusive = true)
        .withColumnRenamed("__cum___ca", "__cuma")
        .withColumnRenamed("__cum___cb", "__cumb")
        .crossJoin(broadcast(totals))
      val dmax = cum
        .groupBy("n_a", "n_b")
        .agg(max(abs(col("__cuma") * col("n_b") -
          col("__cumb") * col("n_a"))).as("__dnum"))
      val nA = col("n_a").cast("double")
      val nB = col("n_b").cast("double")
      val dStat = col("__dnum").cast("double") / (nA * nB)
      val crit = lit(1.358) * sqrt((nA + nB) / (nA * nB))
      val out = dmax.select(col("n_a"), col("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0,
          round(dStat, 6)).as("d"),
        when(col("n_a") > 0 && col("n_b") > 0,
          round(crit, 6)).as("crit_05"),
        when(col("n_a") > 0 && col("n_b") > 0, dStat > crit)
          .as("reject_05"))
      Checkpoints.materialize(out)
    } finally grain.unpersist(blocking = false)
  }

  /** Population stability index over fixed-width bins — [[klDrift]]'s
    * companion for NUMERIC columns (the model-monitoring "has this
    * feature's distribution moved" score; PSI > 0.25 is the classic
    * re-fit alarm):
    *
    *   PSI = Σ_bins (p_b − q_b)·ln(p_b/q_b)
    *
    * with add-`k` smoothing so an empty bin on one side contributes a
    * finite term (the interesting case, as in klDrift). Bins are the
    * [[histogram]] clamp (below-lo into bin 0, at/above-hi into the
    * last); null/NaN are not samples.
    *
    * Determinism: counts exact; shares pinned divisions; each ln term
    * rounds 9dp before the ≤ nBins-term sum (the klDrift rule);
    * total rounds 6dp. One corpus aggregate keyed on (bin), the bins
    * frame is nBins-sized. Returns one row per bin (bin, bin_lo, n_p,
    * n_q, psi_term) plus the corpus `psi` repeated (the klDrift
    * total_kl convention). */
  def psi(df: DataFrame, pSide: Column, valueCol: Column, lo: Double,
      hi: Double, nBins: Int, k: Double = 0.5): DataFrame = {
    require(nBins > 0 && hi > lo, s"need nBins>0 and hi>lo, got $nBins, [$lo,$hi)")
    require(k > 0.0, s"smoothing k must be positive, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val width = (hi - lo) / nBins
    val bin = greatest(lit(0), least(lit(nBins - 1),
      floor((valueCol - lo) / width))).cast("long")
    val allBins = (0 until nBins).map(_.toLong).toDF("bin")
    val counts = df
      .where(pSide.isNotNull && valueCol.isNotNull &&
        !isnan(valueCol.cast("double")))
      .groupBy(bin.as("bin"))
      .agg(sum(when(pSide, 1L).otherwise(0L)).as("n_p"),
        sum(when(!pSide, 1L).otherwise(0L)).as("n_q"))
      .join(allBins, Seq("bin"), "right")
      .select(col("bin"), coalesce(col("n_p"), lit(0L)).as("n_p"),
        coalesce(col("n_q"), lit(0L)).as("n_q"))
      .persist()
    val tot = counts.agg(sum("n_p").as("__tp"), sum("n_q").as("__tq"))
    val p = (col("n_p") + k) / (col("__tp") + k * nBins)
    val q = (col("n_q") + k) / (col("__tq") + k * nBins)
    val terms = counts.crossJoin(broadcast(tot))
      .withColumn("psi_term", round((p - q) * log(p / q), 9))
    val total = terms.agg(round(sum("psi_term"), 6).as("psi"))
    val out = terms.crossJoin(broadcast(total))
      .select(col("bin"), round(lit(lo) + col("bin") * width, 6).as("bin_lo"),
        col("n_p"), col("n_q"), col("psi_term"), col("psi"))
    graft.operators.Checkpoints.materialize(out, counts)
  }

  /** Difference-in-differences estimator — the observational
    * experiment readout when treatment wasn't randomized but a PRE
    * period exists: the treated group's pre→post change minus the
    * control group's, cancelling both the level difference between
    * groups and the common time trend:
    *
    *   DiD = (ȳ_t,post − ȳ_t,pre) − (ȳ_c,post − ȳ_c,pre)
    *
    * `valueCol` must be INTEGER units (cents — the bootstrap rule);
    * the four cell sums are decimal-exact, each mean is one pinned
    * division, and the estimate is one pinned expression rounded
    * 6dp (`unitScale` divides back to natural units). Null when any
    * cell is empty (the contrast is undefined, not 0). One corpus
    * aggregate. Returns one row: (n_<cell>×4, mean_<cell>×4, did). */
  def diffInDiff(df: DataFrame, treatCol: Column, postCol: Column,
      valueCol: Column, unitScale: Double = 100.0): DataFrame = {
    val rows = df.select(treatCol.cast("boolean").as("__t"),
        postCol.cast("boolean").as("__p"), valueCol.cast("long").as("__v"))
      .where(col("__t").isNotNull && col("__p").isNotNull &&
        col("__v").isNotNull)
    def cell(t: Boolean, p: Boolean, suffix: String) = Seq(
      sum(when(col("__t") === t && col("__p") === p, 1L).otherwise(0L))
        .as(s"n_$suffix"),
      sum(when(col("__t") === t && col("__p") === p,
        col("__v")).otherwise(0L).cast("decimal(38,0)")).as(s"__s_$suffix"))
    val agg = rows.agg(count(lit(1)).as("__n"),
      (cell(true, false, "t_pre") ++ cell(true, true, "t_post") ++
        cell(false, false, "c_pre") ++ cell(false, true, "c_post")): _*)
    def mean(s: String) =
      col(s"__s_$s").cast("double") / (col(s"n_$s").cast("double") * unitScale)
    val allCells = Seq("t_pre", "t_post", "c_pre", "c_post")
    val nonEmpty = allCells.map(s => col(s"n_$s") > 0).reduce(_ && _)
    agg.select(
      (allCells.map(s => col(s"n_$s")) ++
        allCells.map(s => when(col(s"n_$s") > 0,
          round(mean(s), 6)).as(s"mean_$s")) :+
        when(nonEmpty, round((mean("t_post") - mean("t_pre")) -
          (mean("c_post") - mean("c_pre")), 6)).as("did")): _*)
  }

  /** CUPED variance reduction (Deng et al., WSDM 2013) — the A/B
    * sensitivity booster: adjust the experiment metric by a
    * PRE-EXPERIMENT covariate the treatment cannot have affected,
    *
    *   θ = cov(x, y)/var(x)   (pooled),
    *   ȳ_adj,arm = ȳ_arm − θ·(x̄_arm − x̄)
    *
    * which leaves every arm's expectation unchanged while removing
    * the covariate-explained variance from the contrast. Both
    * columns must be INTEGER units; θ comes from the zipfFit closed
    * form over decimal-exact sums, each adjusted mean is one pinned
    * expression, outputs round 6dp. Returns one row per arm
    * (arm, n, mean_raw, mean_adj) plus theta and the pooled
    * variance-reduction ratio rho2 = cov²/(var_x·var_y) repeated
    * (the fraction of metric variance the covariate explains —
    * the sensitivity win). */
  def cuped(df: DataFrame, armCol: Column, valueCol: Column,
      covariateCol: Column, unitScale: Double = 100.0): DataFrame = {
    val dec = "decimal(38,0)"
    val rows = df.select(armCol.as("__arm"), valueCol.cast("long").as("__y"),
        covariateCol.cast("long").as("__x"))
      .where(col("__arm").isNotNull && col("__y").isNotNull &&
        col("__x").isNotNull)
      .persist()
    try {
      val pooled = rows.agg(count(lit(1)).as("__n"),
        sum(col("__x").cast(dec)).as("__sx"),
        sum(col("__y").cast(dec)).as("__sy"),
        sum(col("__x").cast(dec) * col("__x").cast(dec)).as("__sxx"),
        sum(col("__y").cast(dec) * col("__y").cast(dec)).as("__syy"),
        sum(col("__x").cast(dec) * col("__y").cast(dec)).as("__sxy"))
      val n = col("__n").cast("double")
      def d(c: String) = col(c).cast("double")
      val cov = n * d("__sxy") - d("__sx") * d("__sy")
      val vx = n * d("__sxx") - d("__sx") * d("__sx")
      val vy = n * d("__syy") - d("__sy") * d("__sy")
      val scalars = pooled.select(col("__n"),
        when(vx > 0.0, cov / vx).as("__theta"),
        when(vx > 0.0 && vy > 0.0, cov * cov / (vx * vy)).as("__rho2"),
        (d("__sx") / n).as("__xbar"))
      val perArm = rows.groupBy(col("__arm").as("arm"))
        .agg(count(lit(1)).as("n"),
          sum(col("__y").cast(dec)).as("__ay"),
          sum(col("__x").cast(dec)).as("__ax"))
      val an = col("n").cast("double")
      val out = perArm.crossJoin(broadcast(scalars))
        .select(col("arm"), col("n"),
          round(col("__ay").cast("double") / (an * unitScale), 6)
            .as("mean_raw"),
          when(col("__theta").isNotNull, round(
            (col("__ay").cast("double") / an -
              col("__theta") * (col("__ax").cast("double") / an -
                col("__xbar"))) / unitScale, 6)).as("mean_adj"),
          round(col("__theta"), 6).as("theta"),
          round(col("__rho2"), 6).as("rho2"))
      Checkpoints.materialize(out)
    } finally rows.unpersist(blocking = false)
  }

  /** Stratified treatment-effect estimate — exact-subclassification
    * causal adjustment (Cochran 1968): when treatment assignment is
    * CONFOUNDED with an observed stratum (rich segments get treated
    * more), the naive mean difference mixes the effect with the
    * confounding; stratify, difference WITHIN each stratum, and
    * weight by the treated count:
    *
    *   ATT = Σ_s (n_t,s / N_t) · (ȳ_t,s − ȳ_c,s)
    *
    * over strata with BOTH arms present (off-support strata are
    * reported but carry no weight — the overlap requirement made
    * visible, not silently imputed).
    *
    * Determinism: per-stratum sums exact (integer units); each
    * within-stratum difference is a pinned expression; the
    * ≤|strata|-term weighted sum folds SEQUENTIALLY over the
    * stratum-sorted array (the seasonal-decomposition rule — a
    * groupBy sum of doubles would leak accumulation order). Outputs
    * round 6dp. Returns one row per stratum (stratum, n_t, n_c,
    * mean_t, mean_c, diff) with the overall `att` repeated (the
    * klDrift total convention). */
  def stratifiedEffect(df: DataFrame, treatCol: Column, valueCol: Column,
      strataCol: Column, unitScale: Double = 100.0): DataFrame = {
    val rows = df.select(treatCol.cast("boolean").as("__t"),
        valueCol.cast("long").as("__v"), strataCol.as("__s"))
      .where(col("__t").isNotNull && col("__v").isNotNull &&
        col("__s").isNotNull)
    val per = rows.groupBy(col("__s").as("stratum"))
      .agg(sum(when(col("__t"), 1L).otherwise(0L)).as("n_t"),
        sum(when(!col("__t"), 1L).otherwise(0L)).as("n_c"),
        sum(when(col("__t"), col("__v")).otherwise(0L)
          .cast("decimal(38,0)")).as("__st"),
        sum(when(!col("__t"), col("__v")).otherwise(0L)
          .cast("decimal(38,0)")).as("__sc"))
      .persist()
    try {
      val meanT = col("__st").cast("double") / (col("n_t").cast("double") * unitScale)
      val meanC = col("__sc").cast("double") / (col("n_c").cast("double") * unitScale)
      val scored = per.select(col("stratum"), col("n_t"), col("n_c"),
        when(col("n_t") > 0, round(meanT, 6)).as("mean_t"),
        when(col("n_c") > 0, round(meanC, 6)).as("mean_c"),
        when(col("n_t") > 0 && col("n_c") > 0, meanT - meanC).as("__diff"))
      // ATT folds over the stratum-sorted array: Σ n_t·diff / N_t,
      // with N_t counted over supported strata only
      val att = scored
        .where(col("__diff").isNotNull)
        .groupBy()
        .agg(expr(
          """aggregate(sort_array(collect_list(struct(stratum, n_t, __diff))),
               named_struct('w', cast(0.0 as double), 'nt', cast(0 as bigint)),
               (acc, p) -> named_struct(
                 'w', acc.w + p.n_t * p.__diff, 'nt', acc.nt + p.n_t),
               acc -> case when acc.nt > 0 then acc.w / acc.nt end)""")
          .as("att"))
      val out = scored
        .crossJoin(broadcast(att))
        .select(col("stratum"), col("n_t"), col("n_c"),
          col("mean_t"), col("mean_c"),
          when(col("__diff").isNotNull, round(col("__diff"), 6)).as("diff"),
          round(col("att"), 6).as("att"))
      Checkpoints.materialize(out, per)
    } finally per.unpersist(blocking = false)
  }

  /** Two-proportion z-test for an A/B experiment readout: conversion
    * rates per arm and the pooled z statistic
    *
    *   z = (p_a − p_b) / √( p̂(1−p̂)(1/n_a + 1/n_b) ),  p̂ pooled
    *
    * — the "is the lift real" number next to the raw rates. The
    * p-value is deliberately NOT computed: a normal CDF means erf(),
    * a libm the engine-replayability rules exclude; |z| ≥ 1.96 IS the
    * 5% two-sided decision, read directly.
    *
    * Determinism: all four inputs are exact integer counts from one
    * corpus aggregate; rates and z are one pinned double expression
    * (divisions and one sqrt — both correctly-rounded IEEE), rounded
    * 6dp (rates) / 4dp (z). z is null when either arm is empty or
    * the pooled variance is 0 (all-convert / none-convert — no
    * sampling noise to test against).
    *
    * One aggregate over a codegen'd projection; nothing else. Returns
    * one row: (n_a, conv_a, rate_a, n_b, conv_b, rate_b, z). */
  def twoProportionZ(df: DataFrame, inA: Column, success: Column): DataFrame = {
    val agg = df
      .select(inA.cast("boolean").as("__a"), success.cast("boolean").as("__s"))
      .where(col("__a").isNotNull && col("__s").isNotNull)
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__a") && col("__s"), 1L).otherwise(0L)).as("conv_a"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("n_b"),
        sum(when(!col("__a") && col("__s"), 1L).otherwise(0L)).as("conv_b"))
    val pa = col("conv_a") / col("n_a").cast("double")
    val pb = col("conv_b") / col("n_b").cast("double")
    val pool = (col("conv_a") + col("conv_b")) /
      (col("n_a") + col("n_b")).cast("double")
    val se2 = pool * (lit(1.0) - pool) *
      (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))
    agg.select(col("n_a"), col("conv_a"), round(pa, 6).as("rate_a"),
      col("n_b"), col("conv_b"), round(pb, 6).as("rate_b"),
      when(col("n_a") > 0 && col("n_b") > 0 && se2 > 0.0,
        round((pa - pb) / sqrt(se2), 4)).as("z"))
  }

  /** Association between two categorical columns — the dependence
    * screen a profiling pass runs on every dimension pair: Pearson χ²
    * over the full r×c contingency table (zero-observed cells
    * included — they carry expectation mass), Cramér's V
    * (√(χ²/(n·(min(r,c)−1))), the [0,1]-normalized effect size χ²'s
    * raw magnitude hides), and mutual information in nats over
    * observed cells (0·ln 0 = 0).
    *
    * Determinism: every statistic derives from exact integer counts;
    * MI's per-cell ln terms round 9dp before summation (the
    * [[klDrift]] rule — the one place a libm log enters, at a
    * magnitude where a last-ulp disagreement cannot cross the 9dp
    * boundary in practice); χ² and V are pinned arithmetic on
    * integers, no transcendental at all.
    *
    * One (a, b)-keyed corpus aggregate; margins reduce from the cell
    * frame (category-cardinality — tiny); the full table materializes
    * as margin × margin joined against observed cells, fine for the
    * dimension-pair cardinalities this audits (a million-cell table
    * means the columns weren't categorical). Returns one row:
    * (n, card_a, card_b, chi2, cramers_v, mi). */
  def categoricalAssociation(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val cells = df.select(aCol.as("__a"), bCol.as("__b"))
      .where(col("__a").isNotNull && col("__b").isNotNull)
      .groupBy("__a", "__b").agg(count(lit(1)).as("__o"))
      .persist()
    val ma = cells.groupBy("__a").agg(sum("__o").as("__na"))
    val mb = cells.groupBy("__b").agg(sum("__o").as("__nb"))
    val full = ma.crossJoin(mb)
      .join(cells, Seq("__a", "__b"), "left")
      .withColumn("__o", coalesce(col("__o"), lit(0L)))
    val scalars = ma.agg(sum("__na").as("__n"), count(lit(1)).as("card_a"))
      .crossJoin(mb.agg(count(lit(1)).as("card_b")))
    val e = col("__na").cast("double") * col("__nb") / col("__n")
    val out = full.crossJoin(broadcast(scalars))
      .select(col("__n"), col("card_a"), col("card_b"),
        ((col("__o") - e) * (col("__o") - e) / e).as("__x2"),
        when(col("__o") > 0, round(
          (col("__o") / col("__n").cast("double")) *
            log(col("__o").cast("double") * col("__n") /
              (col("__na").cast("double") * col("__nb"))), 9))
          .otherwise(lit(0.0)).as("__mi"))
      .groupBy(col("__n").as("n"), col("card_a"), col("card_b"))
      .agg(round(sum("__x2"), 4).as("chi2"), sum("__mi").as("__misum"))
      .select(col("n"), col("card_a"), col("card_b"), col("chi2"),
        // a 1-category column makes the denominator 0 and chi2 0.0 —
        // V is UNDEFINED there (0/0 → NaN), so report null, the
        // convention rankEval's ndcg/ap use for undefined statistics
        when(least(col("card_a"), col("card_b")) > 1,
          round(sqrt(col("chi2") /
            (col("n") * (least(col("card_a"), col("card_b")) - 1))), 6))
          .as("cramers_v"),
        round(col("__misum"), 6).as("mi"))
    graft.operators.Checkpoints.materialize(out, cells)
  }

  /** Token-distribution drift between two corpus slices — the check a
    * training-data pipeline runs when a new crawl batch lands: has the
    * vocabulary distribution moved, and which tokens moved it?
    * KL(P‖Q) with add-k smoothing over the JOINT vocabulary V:
    * `p_t=(c_P(t)+k)/(N_P+kV)`, likewise q_t, contribution
    * `p_t·ln(p_t/q_t)` (smoothing makes every term finite — a token
    * absent from one side is the interesting case, not an error).
    *
    * Returns the top `topN` tokens by contribution (desc, token asc —
    * rounded to 9 so the sort key itself is engine-portable) with each
    * side's count and the corpus-total `total_kl` repeated per row.
    * Execution: one token-keyed count per side (map-side combined),
    * a full outer join of two vocabulary-sized frames, one scalar
    * aggregate for the total — nothing driver-side but three scalars
    * (N_P, N_Q, V), the same tiny-action class as a centroid collect.
    * Skewed hot tokens ride AQE like every token-keyed exchange here. */
  def klDrift(docs: DataFrame, textCol: String, pSide: Column,
      k: Double = 0.5, topN: Int = 20): DataFrame = {
    require(k > 0.0 && topN > 0, s"need k>0, topN>0; got k=$k topN=$topN")
    import graft.functions.TextFunctions.tokens
    val toks = docs.select(pSide.as("__p"), explode(tokens(col(textCol))).as("token"))
    val counts = toks.groupBy("token")
      .agg(sum(when(col("__p"), 1L).otherwise(0L)).as("c_p"),
        sum(when(!col("__p"), 1L).otherwise(0L)).as("c_q"))
      .persist()
    // try/finally so the scalar collect's error path also releases
    // the count cache, not just the materialization's
    try {
      val scalars = counts.agg(sum("c_p"), sum("c_q"), count(lit(1))).head()
      if (scalars.isNullAt(0)) counts.limit(0)
        .select(col("token"), col("c_p"), col("c_q"),
          lit(0.0).as("kl_term"), lit(0.0).as("total_kl"))
      else {
        val Array(nP, nQ, v) =
          scalars.toSeq.map(x => x.asInstanceOf[Long]).toArray
        val p = (col("c_p") + k) / lit(nP + k * v)
        val q = (col("c_q") + k) / lit(nQ + k * v)
        val contrib = counts.withColumn("kl_term", round(p * log(p / q), 9))
        val total = contrib.agg(round(sum("kl_term"), 6).as("total_kl"))
        Checkpoints.materialize(contrib
          .orderBy(col("kl_term").desc, col("token"))
          .limit(topN)
          .crossJoin(broadcast(total))
          .select(col("token"), col("c_p"), col("c_q"),
            col("kl_term"), col("total_kl")))
      }
    } finally counts.unpersist(blocking = false)
  }

  /** Cumulative Poisson(1) CDF for k = 0..6 as FLOOR(CDF·2^40)
    * integer thresholds — public so an external replay (the oracle)
    * interpolates the identical literals. */
  lazy val poissonThresholds40: Seq[Long] = {
    val cdf = (0 to 6).scanLeft(0.0) { case (acc, k) =>
      acc + math.exp(-1.0) / (1 to k).map(_.toDouble).product
    }.tail
    cdf.map(c => (BigDecimal(c) * BigDecimal(1L << 40))
      .setScale(0, BigDecimal.RoundingMode.FLOOR).toLong)
  }

  /** Poisson-bootstrap 95% confidence interval for a mean — the
    * distributed bootstrap (Chamandy et al., Google 2012): instead of
    * materializing B resamples, every row draws a Poisson(1) weight
    * per replicate (the large-n limit of multinomial resampling), so
    * ALL B replicate sums ride one pass over the corpus. The answer a
    * dashboard actually needs next to q131's point estimates: "the
    * mean is 151.2k ± what?".
    *
    * Determinism — integer end to end: the per-(row, replicate) draw
    * is an md5 value reduced mod 2^40 and compared against FLOOR(CDF·
    * 2^40) literal thresholds (driver-computed once — no runtime
    * transcendental, the [[Ranking.dcgDiscounts]] rule), weights are
    * exact small ints capped at 7 (P(X≥8) < 1e-5 — the cap is a
    * declared approximation of the same order as the Poisson
    * approximation itself), `valueCol` must be INTEGER units (cents —
    * the caller quantizes, as everywhere in this library), replicate
    * sums accumulate as decimal(38,0), each replicate mean is one
    * pinned division, and the CI bounds are quantile_cont over the B
    * exact means. `unitScale` divides output back to natural units.
    *
    * Scale shape: one row×B flatMap (B·n rows through a map-side-
    * combined 200-group aggregate — no shuffle wider than B rows),
    * one B-row percentile reduction. Returns one row
    * (n, reps, mean, lo95, hi95). */

  def bootstrapCiMean(df: DataFrame, idCol: Column, valueCol: Column,
      reps: Int = 200, unitScale: Double = 100.0,
      salt: String = "bs"): DataFrame = {
    require(reps >= 2, s"need reps >= 2, got $reps")
    import graft.functions.TextFunctions.md5Long
    val grid = 1L << 40
    val thresholds = poissonThresholds40
    // repartition BEFORE the explode: the draw pass does reps·n md5s —
    // B× the scan's work — so inheriting a byte-narrow scan's few
    // partitions serializes it (the sf0.1 fixture ran 32-thread-wide
    // at 1/8 the wall time after this). The shuffled frame is the
    // skinny (id, value) pair; its cost is noise next to the draws.
    val rows = df.select(idCol.cast("string").as("__id"),
        valueCol.cast("long").as("__v"))
      .where(col("__id").isNotNull && col("__v").isNotNull)
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("__id"))
      .persist()
    try {
      // idCol must be row-UNIQUE: the Poisson draw is keyed on
      // (__id, replicate), so duplicate ids would receive identical
      // weights in every replicate — a silently correlated resample
      // that biases the CI narrow. The distinct count lives in its
      // OWN 1-row frame over the persisted rows (a cached scan of the
      // skinny pair frame, already hash-partitioned by __id so the
      // distinct needs no exchange) rather than inside `totals`:
      // entangling a distinct aggregate into the shared totals
      // aggregate de-codegens it and measured +23% on the whole
      // operator at sf0.1 (5.95s vs 4.82s min-of-7).
      // eager materialization (the Dedup count discipline): totals,
      // the draw pass, and the distinct guard are three subplans of
      // ONE downstream job, and a cache first touched concurrently
      // populates under a race — each leg re-pays the scan+shuffle
      rows.count()
      val totals = rows.agg(count(lit(1)).as("n"),
        sum(col("__v").cast("decimal(38,0)")).as("__sv"))
      val ndist = rows.agg(count_distinct(col("__id")).as("__nd"))
      val drawn = rows
        .select(col("__id"), col("__v"),
          explode(sequence(lit(0), lit(reps - 1))).as("__b"))
        .withColumn("__u", pmod(md5Long(concat(col("__id"),
          lit(s"|$salt|"), col("__b").cast("string"))), lit(grid)))
        .withColumn("__w", thresholds.zipWithIndex.foldRight(
          lit(7L): Column) { case ((t, k), acc) =>
            when(col("__u") < t, k.toLong).otherwise(acc) })
      val perRep = drawn.groupBy("__b")
        .agg(sum((col("__w") * col("__v")).cast("decimal(38,0)")).as("__sw"),
          sum(col("__w")).as("__nw"))
        .where(col("__nw") > 0)
        .select((col("__sw").cast("double") /
          (col("__nw").cast("double") * unitScale)).as("__m"))
      val ci = perRep.agg(
        count(lit(1)).as("reps"),
        round(percentile(col("__m"), lit(0.025)), 6).as("lo95"),
        round(percentile(col("__m"), lit(0.975)), 6).as("hi95"))
      val out = totals.crossJoin(broadcast(ci)).crossJoin(broadcast(ndist))
        .select(
          when(col("n") === col("__nd"), col("n"))
            .otherwise(raise_error(concat(
              lit("bootstrapCiMean: idCol must be row-unique ("),
              col("__nd").cast("string"), lit(" distinct ids over "),
              col("n").cast("string"),
              lit(" rows) — duplicate ids correlate the resample")))
              .cast("long"))
            .as("n"),
          col("reps"),
          when(col("n") > 0, round(col("__sv").cast("double") /
            (col("n").cast("double") * unitScale), 6)).as("mean"),
          col("lo95"), col("hi95"))
      Checkpoints.materialize(out)
    } finally rows.unpersist(blocking = false)
  }

  /** Calibration (reliability) table for a [0,1]-scored binary
    * classifier: per score bin, predicted-probability mean vs
    * observed positive rate — the "does 0.8 mean 80%" check that AUC
    * (pure ranking) cannot see. Bins are the [[histogram]] clamp over
    * [0,1).
    *
    * Determinism: the per-bin mean of predictions — a sum of doubles,
    * where accumulation order would leak — is summed in exact MICRO-
    * unit longs (`round(score·1e6)`; scores at 6dp are exact in that
    * grid), so every aggregate is integer-exact and the two output
    * rates are pinned divisions rounded 6dp. Empty bins are absent
    * (a reliability plot has no point there). One corpus aggregate.
    * Returns (bin, n, n_pos, mean_pred, frac_pos). */
  def calibration(df: DataFrame, scoreCol: Column, labelCol: Column,
      nBins: Int): DataFrame = {
    require(nBins > 0, s"nBins must be positive, got $nBins")
    val s = scoreCol.cast("double")
    val rows = df
      .select(s.as("__s"), labelCol.cast("boolean").as("__y"))
      .where(col("__s").isNotNull && !isnan(col("__s")) &&
        col("__y").isNotNull)
    val bin = greatest(lit(0L), least(lit(nBins - 1L),
      floor(col("__s") * nBins).cast("long")))
    rows.groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"),
        sum(round(col("__s") * 1e6, 0).cast("long")).as("__sm"))
      .select(col("bin"), col("n"), col("n_pos"),
        round(col("__sm") / (col("n").cast("double") * 1e6), 6)
          .as("mean_pred"),
        round(col("n_pos") / col("n").cast("double"), 6).as("frac_pos"))
  }

  /** Isotonic (monotone non-decreasing) calibration over the
    * [[calibration]] bins — PAV's answer computed by the exact
    * MINIMAX identity instead of the sequential pool-adjacent-
    * violators loop:
    *
    *   iso(i) = max_{j ≤ i} min_{k ≥ i} mean(j..k),
    *   mean(j..k) = Σ n_pos / Σ n  over bins j..k
    *
    * (Robertson/Wright/Dykstra 1988, Thm 1.4.4 — the isotonic
    * regression under weighted squared loss). The i-th calibrated
    * rate never decreases, pooling exactly the adjacent violator
    * blocks PAV would pool. A classifier whose reliability curve dips
    * (q168's honest answer) gets the monotone correction an isotonic
    * calibrator actually deploys.
    *
    * Determinism: every interval mean is ONE division of exact
    * integer sums (prefix-sum differences), and max/min over a
    * finite set of identical doubles is engine-exact — no rounding
    * rule needed until the 6dp output. Scale shape: the bin frame is
    * nBins-sized by contract, so the (i, j, k) triple explosion is
    * nBins³ TINY rows (10³ = 1000) — corpus-scale work stays inside
    * [[calibration]]'s one aggregate. Returns (bin, n, n_pos,
    * frac_pos, iso_rate). */
  def isotonicCalibration(df: DataFrame, scoreCol: Column, labelCol: Column,
      nBins: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bins = calibration(df, scoreCol, labelCol, nBins)
      .select(col("bin"), col("n"), col("n_pos"), col("frac_pos"))
      .persist()
    try {
      val wCum = Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pre = bins
        .withColumn("__cn", sum(col("n")).over(wCum))
        .withColumn("__cp", sum(col("n_pos")).over(wCum))
        .select(col("bin"),
          col("__cn"), col("__cp"),
          (col("__cn") - col("n")).as("__pn"),   // exclusive prefixes
          (col("__cp") - col("n_pos")).as("__pp"))
      // interval means from prefix differences; all joins stay on the
      // nBins-sized frame
      val means = pre.select(col("bin").as("__j"), col("__pn"), col("__pp"))
        .join(pre.select(col("bin").as("__k"), col("__cn"), col("__cp")),
          col("__j") <= col("__k"))
        .select(col("__j"), col("__k"),
          ((col("__cp") - col("__pp")).cast("double") /
            (col("__cn") - col("__pn"))).as("__m"))
      val iso = bins.select(col("bin"))
        .join(means, col("__j") <= col("bin") && col("__k") >= col("bin"))
        .groupBy(col("bin"), col("__j")).agg(min(col("__m")).as("__inner"))
        .groupBy(col("bin")).agg(max(col("__inner")).as("__iso"))
      val out = bins.join(iso, Seq("bin"))
        .select(col("bin"), col("n"), col("n_pos"), col("frac_pos"),
          round(col("__iso"), 6).as("iso_rate"))
        .orderBy("bin")
      Checkpoints.materialize(out)
    } finally bins.unpersist(blocking = false)
  }

  /** Jensen-Shannon divergence between two corpus slices' token
    * distributions — [[klDrift]]'s SYMMETRIC, bounded companion
    * (JS ∈ [0, ln 2]; KL is infinite-tailed and direction-dependent,
    * so "new crawl vs corpus" and "corpus vs new crawl" disagree —
    * a drift DASHBOARD wants one bounded number):
    *
    *   JS(p,q) = ½·KL(p ‖ m) + ½·KL(q ‖ m),   m = (p+q)/2
    *
    * with the same add-`k` smoothing. Determinism: counts exact,
    * shares pinned, each token's combined term rounds 9dp before the
    * sum (the klDrift rule), total 6dp. Same scale shape as klDrift:
    * one token-keyed aggregate, a vocabulary-sized term frame, one
    * 1-row reduction. Returns top-`topN` driving tokens with the
    * corpus total repeated. */
  def jsDrift(docs: DataFrame, textCol: String, pSide: Column,
      k: Double = 0.5, topN: Int = 20): DataFrame = {
    require(k > 0.0 && topN > 0, s"need k>0, topN>0; got k=$k topN=$topN")
    import graft.functions.TextFunctions.tokens
    val toks = docs.select(pSide.as("__p"), explode(tokens(col(textCol))).as("token"))
    val counts = toks.groupBy("token")
      .agg(sum(when(col("__p"), 1L).otherwise(0L)).as("c_p"),
        sum(when(!col("__p"), 1L).otherwise(0L)).as("c_q"))
      .persist()
    try {
      val scalars = counts.agg(sum("c_p"), sum("c_q"), count(lit(1))).head()
      if (scalars.isNullAt(0)) counts.limit(0)
        .select(col("token"), col("c_p"), col("c_q"),
          lit(0.0).as("js_term"), lit(0.0).as("total_js"))
      else {
        val Array(nP, nQ, v) =
          scalars.toSeq.map(x => x.asInstanceOf[Long]).toArray
        val p = (col("c_p") + k) / lit(nP + k * v)
        val q = (col("c_q") + k) / lit(nQ + k * v)
        val m = (p + q) / lit(2.0)
        val contrib = counts.withColumn("js_term",
          round(lit(0.5) * p * log(p / m) + lit(0.5) * q * log(q / m), 9))
        val total = contrib.agg(round(sum("js_term"), 6).as("total_js"))
        Checkpoints.materialize(contrib
          .orderBy(col("js_term").desc, col("token"))
          .limit(topN)
          .crossJoin(broadcast(total))
          .select(col("token"), col("c_p"), col("c_q"),
            col("js_term"), col("total_js")))
      }
    } finally counts.unpersist(blocking = false)
  }

  /** Zipf fit of the token frequency distribution — the corpus-health
    * statistic (natural language follows `freq ∝ rank^(-s)` with
    * s ≈ 1; machine-generated or template text bends the curve, so
    * the fitted slope is a cheap whole-corpus quality signal).
    * Ordinary least squares of `ln(freq)` on `ln(rank)` in CLOSED
    * form — `slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)` — rather
    * than `regr_slope`, whose streaming-update internals differ
    * across engines; the closed form is the same four sums in any
    * engine, and the output rounds before comparison. Returns one row
    * (n_types, n_tokens, zipf_slope, zipf_intercept, r2).
    *
    * Execution: one token-keyed count (map-side combined), one
    * rank window over the VOCABULARY (frequency table, ≪ corpus),
    * one scalar aggregate. */
  def zipfFit(docs: DataFrame, textCol: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    import org.apache.spark.sql.expressions.Window
    val counts = docs.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
    val ranked = counts.withColumn("rank",
      row_number().over(Window.orderBy(col("freq").desc, col("token"))))
    val xy = ranked.select(
      log(col("rank").cast("double")).as("x"),
      log(col("freq").cast("double")).as("y"),
      col("freq"))
    xy.agg(count(lit(1)).as("n_types"), sum("freq").as("n_tokens"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n_types"), col("n_tokens"),
        round((col("n_types") * col("sxy") - col("sx") * col("sy"))
          / (col("n_types") * col("sxx") - col("sx") * col("sx")), 6)
          .as("zipf_slope"),
        round((col("sy") - ((col("n_types") * col("sxy") - col("sx") * col("sy"))
          / (col("n_types") * col("sxx") - col("sx") * col("sx"))) * col("sx"))
          / col("n_types"), 6).as("zipf_intercept"),
        round(pow(col("n_types") * col("sxy") - col("sx") * col("sy"), 2)
          / ((col("n_types") * col("sxx") - col("sx") * col("sx"))
            * (col("n_types") * col("syy") - col("sy") * col("sy"))), 6)
          .as("r2"))
  }

  /** Sketch-based profile: approximate distinct keys (HLL++, `rsd`
    * relative error) and approximate percentiles (`acc` accuracy =
    * 1/precision; error ≤ 1/acc of rank) per group. */
  def sketchProfile(df: DataFrame, groupCols: Seq[Column], keyCol: Column,
      valueCol: Column, ps: Seq[Double], rsd: Double = 0.02,
      acc: Int = 10000): DataFrame =
    df.groupBy(groupCols: _*)
      .agg(count(lit(1)).as("n"),
        approx_count_distinct(keyCol, rsd).as("approx_distinct"),
        approx_percentile(valueCol, typedLit(ps), lit(acc)).as("approx_qs"))

  /** Embedding-space drift per group — [[klDrift]]'s twin for the
    * vector modality: each group's centroid embedding against the
    * whole-corpus centroid, reported as cosine drift (1 − cos). The
    * monitor that catches a crawl slice or model-version batch whose
    * embedding distribution walked away from the corpus even when its
    * token statistics look unchanged.
    *
    * Execution: ONE per-dimension aggregate computes every group
    * centroid (shuffle keyed on (group, dim) — uniform, map-side
    * combined), the global centroid reduces from the group frame
    * (groups × dims rows, never a second corpus pass), and centroids
    * assemble via the position-sorted collect the kMeans reducer
    * uses. Per-dimension means round to 9dp before the cosine (the
    * engine-portability rule for carried floats). Returns
    * (groupCol, n_vecs, drift) with drift rounded 6dp. */
  def embeddingDrift(emb: DataFrame, groupCol: String,
      embCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorFunctions.cosine
    val perDim = emb
      .select(col(groupCol), posexplode(col(embCol).cast("array<double>")))
      .groupBy(col(groupCol), col("pos"))
      .agg(round(avg(col("col")), 9).as("m"), count(lit(1)).as("__n"))
      .persist()
    def assemble(df: DataFrame, keyCols: Seq[Column]): DataFrame =
      df.groupBy(keyCols: _*)
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(keyCols :+ transform(col("pm"), x => x.getField("m")).as("c"): _*)
    val groups = assemble(perDim, Seq(col(groupCol)))
    // global centroid = n-weighted mean of group means per dim (exact:
    // groups partition the rows), re-rounded to the same 9dp contract
    val global = assemble(
      perDim.groupBy(col("pos"))
        .agg(round(sum(col("m") * col("__n")) / sum(col("__n")), 9).as("m")),
      Seq(lit(1).as("__one")))
    // n_vecs reduces from the SAME per-dim frame the centroids use
    // (max over dims of the per-dim contributor count): no second
    // corpus pass, and the reported count is exactly the centroid's
    // denominator basis — a null/empty embedding contributes to
    // neither
    val counts = perDim.groupBy(col(groupCol)).agg(max("__n").as("n_vecs"))
    Checkpoints.materialize(
      groups.crossJoin(broadcast(global.select(col("c").as("__gc"))))
        .select(col(groupCol),
          round(lit(1.0) - cosine(col("c"), col("__gc")), 6).as("drift"))
        .join(counts, Seq(groupCol))
        .select(col(groupCol), col("n_vecs"), col("drift")),
      perDim)
  }
}

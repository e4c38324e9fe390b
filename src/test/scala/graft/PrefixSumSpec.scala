package graft

import graft.operators.PrefixSum
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [[graft.operators.PrefixSum]]: the distributed order-statistics
  * primitive must (a) agree exactly with the single-partition window
  * it replaces, (b) keep every corpus-scale window PARTITIONED — the
  * scale claim the rank-statistic family now rests on — and (c) stay
  * exact when the approx-quantile cuts are degenerate (heavy ties,
  * tiny frames, all-equal values). */
class PrefixSumSpec extends SparkSpec {
  import spark.implicits._

  /** 200 (value, count-ish) grain rows with planted ties and negative
    * values so cut placement and tie-grouping both get exercised. */
  private def grain: DataFrame =
    (1 to 200).map { i =>
      (((i * 37) % 23) - 11.0, (i % 5 + 1).toLong, (i % 3).toLong)
    }.toDF("v", "c", "ca")
      .groupBy("v").agg(sum("c").as("c"), sum("ca").as("ca"))

  private def bareWindow(df: DataFrame, inclusive: Boolean): DataFrame = {
    val w = Window.orderBy(col("v")).rowsBetween(
      Window.unboundedPreceding, if (inclusive) Window.currentRow else -1)
    df.withColumn("exp_c", coalesce(sum("c").over(w), lit(0L)))
      .withColumn("exp_ca", coalesce(sum("ca").over(w), lit(0L)))
  }

  test("withCumulative (exclusive) matches the single-partition window") {
    val got = PrefixSum.withCumulative(grain, "v", Nil, Seq("c", "ca"),
      inclusive = false)
    val both = got.join(bareWindow(grain, inclusive = false), Seq("v"))
    assert(both.where(col("__cum_c") =!= col("exp_c") ||
      col("__cum_ca") =!= col("exp_ca")).count() === 0)
    assert(got.count() === grain.count())
  }

  test("withCumulative (inclusive) matches the single-partition window") {
    val got = PrefixSum.withCumulative(grain, "v", Nil, Seq("c"),
      inclusive = true)
    val both = got.join(bareWindow(grain, inclusive = true), Seq("v"))
    assert(both.where(col("__cum_c") =!= col("exp_c")).count() === 0)
  }

  test("withRowNumber matches row_number over the total order") {
    val df = (1 to 97).map(i => (((i * 13) % 31).toDouble, i.toLong))
      .toDF("v", "id")
    val got = PrefixSum.withRowNumber(df, "v", Seq("id"), "rn")
    val exp = df.withColumn("exp_rn",
      row_number().over(Window.orderBy(col("v"), col("id"))).cast("long"))
    assert(got.join(exp, Seq("v", "id"))
      .where(col("rn") =!= col("exp_rn")).count() === 0)
  }

  test("degenerate grains: empty, single row, all-equal values") {
    val empty = Seq.empty[(Double, Long)].toDF("v", "c")
    assert(PrefixSum.withCumulative(empty, "v", Nil, Seq("c"),
      inclusive = false).count() === 0)
    val one = Seq((3.0, 5L)).toDF("v", "c")
    val oneRow = PrefixSum.withCumulative(one, "v", Nil, Seq("c"),
      inclusive = false).head()
    assert(oneRow.getAs[Long]("__cum_c") === 0L)
    // all-equal ORDER values need a tie-break for a total order
    val ties = (1 to 50).map(i => (1.0, i.toLong)).toDF("v", "id")
    val rn = PrefixSum.withRowNumber(ties, "v", Seq("id"), "rn")
      .orderBy("id").select("rn").as[Long].collect()
    assert(rn.toSeq === (1L to 50L))
  }

  test("reserved internal names are rejected, not overwritten") {
    val bad = Seq((1.0, 1L)).toDF("v", "__bkt")
    intercept[IllegalArgumentException] {
      PrefixSum.withCumulative(bad, "v", Nil, Seq("__bkt"),
        inclusive = false)
    }
  }

  test("withCumulative property: random grains match the single-partition window") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // random grain sizes (incl. tiny), negative/tied order values, and
    // both frame modes — the splitter placement and bucket-offset
    // reassembly must be invisible at every shape
    val caseGen = for {
      n <- Gen.choose(1, 120)
      inclusive <- Gen.oneOf(true, false)
      rows <- Gen.listOfN(n, for {
        v <- Gen.choose(-50, 50)
        c <- Gen.choose(0L, 9L)
        ca <- Gen.choose(-4L, 4L) // negative sums must reassemble too
      } yield (v.toDouble, c, ca))
    } yield (inclusive, rows)
    val cases = (1 to 6).flatMap(i =>
      caseGen(Gen.Parameters.default, Seed(i.toLong)))
    cases.foreach { case (inclusive, rows) =>
      val g = rows.toDF("v", "c", "ca")
        .groupBy("v").agg(sum("c").as("c"), sum("ca").as("ca"))
      val got = PrefixSum.withCumulative(g, "v", Nil, Seq("c", "ca"),
        inclusive = inclusive)
      val both = got.join(bareWindow(g, inclusive), Seq("v"))
      assert(both.where(col("__cum_c") =!= col("exp_c") ||
        col("__cum_ca") =!= col("exp_ca")).count() === 0,
        s"inclusive=$inclusive n=${rows.length}")
      assert(got.count() === g.count())
    }
  }

  test("output-name collisions are rejected up front, not as duplicate columns") {
    // an input already carrying __cum_c would otherwise come back with
    // TWO __cum_c columns and fail only at first downstream resolution
    val clash = Seq((1.0, 1L, 9L)).toDF("v", "c", "__cum_c")
    intercept[IllegalArgumentException] {
      PrefixSum.withCumulative(clash, "v", Nil, Seq("c"), inclusive = false)
    }
    val rnClash = Seq((1.0, 1L)).toDF("v", "rn")
    intercept[IllegalArgumentException] {
      PrefixSum.withRowNumber(rnClash, "v", Seq("rn"), "rn")
    }
  }

  test("checkpoint-dir branch: withCumulative is exact in reliable mode and defers dir deletion") {
    // both CI and the bench run the localCheckpoint fallback; this is
    // the only exercise of the reliable branch (per-call parquet
    // write+read of the window pass), so exactness, the parquet
    // round-trip's schema constraints, and the deferred-deletion
    // registry are all pinned here.
    //
    // Session-scoped setup (spark.graft.checkpoint.dir on a FRESH
    // session): sc.setCheckpointDir is context-GLOBAL and suites run
    // concurrently in one JVM — the global idiom raced with
    // OperatorSpec's reliable-checkpoint test (one suite's finally
    // pinned mode=local while the other was mid-test; r10 baseline
    // caught it as a 1/297 flake).
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-ps").toString
    val s = spark.newSession()
    s.conf.set("spark.graft.checkpoint.dir", dir)
    import s.implicits._
    val grainS = (1 to 200).map { i =>
      (((i * 37) % 23) - 11.0, (i % 5 + 1).toLong, (i % 3).toLong)
    }.toDF("v", "c", "ca")
      .groupBy("v").agg(sum("c").as("c"), sum("ca").as("ca"))
    try {
      def walk(f: java.io.File): Seq[java.io.File] =
        Option(f.listFiles).toSeq.flatten.flatMap(c => c +: walk(c))
      def graftDirs = walk(new java.io.File(dir))
        .filter(f => f.isDirectory && f.getName.startsWith("graft-"))
      val deferredBefore = graft.operators.Checkpoints.deferredCount
      val got = PrefixSum.withCumulative(grainS, "v", Nil, Seq("c", "ca"),
        inclusive = false)
      val both = got.join(bareWindow(grainS, inclusive = false), Seq("v"))
      assert(both.where(col("__cum_c") =!= col("exp_c") ||
        col("__cum_ca") =!= col("exp_ca")).count() === 0)
      // the window pass landed as a reliable checkpoint the returned
      // frame now owns — the operator cannot delete it, the shutdown
      // registry must have it instead (the unbounded-growth fix)
      assert(graftDirs.nonEmpty,
        "reliable branch did not engage — no graft-* checkpoint dir written")
      assert(graft.operators.Checkpoints.deferredCount > deferredBefore,
        "checkpoint dir was not registered for shutdown-time deletion")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  /** Partition-less logical Window nodes anywhere in the plan —
    * including under cached subplans. The rank family must have NONE:
    * its only corpus-scale windows are PrefixSum's, partitioned by
    * bucket. */
  private def barePlanWindows(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w.simpleString(120)
    }
  }

  test("auc / mannWhitneyU / spearman-ranks plans have no single-partition window") {
    val scored = (1 to 300)
      .map(i => (i % 7 == 0, ((i * 31) % 83).toDouble / 7.0))
      .toDF("y", "s")
    assert(barePlanWindows(
      graft.operators.Ranking.auc(scored, col("s"), col("y"))).isEmpty)
    assert(barePlanWindows(
      graft.operators.Stats.mannWhitneyU(scored, col("y"), col("s"))).isEmpty)
    // spearman/ksTest localCheckpoint their OUTPUT (plan truncated), so
    // the assertion runs on the shared primitive they delegate to
    val grainFrame = grain
    assert(barePlanWindows(PrefixSum.withCumulative(grainFrame, "v", Nil,
      Seq("c", "ca"), inclusive = true)).isEmpty)
    assert(barePlanWindows(PrefixSum.withRowNumber(
      grainFrame.drop("c", "ca").withColumn("id", monotonically_increasing_id()),
      "v", Seq("id"), "rn")).isEmpty)
  }

  test("revenueConcentration bands match Spark ntile semantics") {
    // 23 customers, 10 bands: first 3 bands get 3 rows, the rest 2 —
    // the replayed integer formula must agree with NTile exactly
    val orders = (1 to 23).flatMap(c =>
      Seq((s"c$c", (c * 7 % 19) + 1.0), (s"c$c", (c * 3 % 11) + 0.5)))
      .toDF("cust", "amt")
    val got = graft.ops.Analytics.revenueConcentration(
      orders, "cust", "amt", nBands = 10)
    val perCust = orders.groupBy("cust")
      .agg(round(sum("amt"), 2).as("rev"))
    val w = Window.orderBy(col("rev"), col("cust"))
    val exp = perCust.withColumn("band", ntile(10).over(w))
      .groupBy("band").agg(count(lit(1)).as("exp_n"))
    val both = got.select("band", "n_customers").join(exp, Seq("band"), "full")
    assert(both.where(col("n_customers").isNull || col("exp_n").isNull ||
      col("n_customers") =!= col("exp_n")).count() === 0)
  }
}

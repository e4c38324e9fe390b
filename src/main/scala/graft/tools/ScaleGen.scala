package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic k× scale-up of the driver testdata, for the scale
  * curve (SCALE_CURVE.md): every 100 TB claim in this repo was a
  * plan-shape argument until r10 — this generator plus
  * [[graft.Bench]]'s subset mode converts them into measured
  * time-vs-rows slopes between sf0.1 (1×) and ~sf1 (10×).
  *
  * Replication scheme — k disjoint "replicas" of the source corpus,
  * chosen so that each replica reproduces the source's INTERNAL
  * structure exactly while replicas stay mutually unrelated. That is
  * the honest "same distribution, k× the rows" scale-up: duplicate
  * rate, similarity structure, join fan-outs, and skew profiles are
  * all preserved per replica (so candidate-pair counts grow k×, not
  * k² as naive row duplication would force — naive duplication turns
  * every doc into a k-clone cluster and the pair miners' output
  * quadruples per doubling BY CONSTRUCTION OF THE DATA, which would
  * measure the generator, not the operator).
  *
  *  - `documents`: doc_id shifted by a power-of-ten stride; every
  *    whitespace token of replica r>0 gets a FIXED-WIDTH suffix
  *    `x%02d` (letter sentinel + zero-padded replica) appended —
  *    within-replica shingle/Jaccard/LSH structure is IDENTICAL to
  *    the source (token bijection), cross-replica shingle sets are
  *    disjoint. Fixed width is what makes disjointness provable:
  *    t1+s1 = t2+s2 with |s1|=|s2| forces s1=s2 (same replica). A
  *    bare digit suffix (the r10 generator) violated it whenever a
  *    source token ended in digits ('abc1'+'' vs 'abc'+'1'); the
  *    letter sentinel also blocks replica-0 collisions except for
  *    source tokens that literally end in `x%02d`, which the sampled
  *    disjointness check below bounds. Suffix is alphanumeric so the
  *    quality-score punctuation ratio is untouched; n_chars is
  *    recomputed to stay consistent with the text.
  *  - `embeddings`: vec_id shifted; each replica's vectors circularly
  *    rotated by r dimensions — norms and within-replica inner
  *    products are exactly preserved (IVF/SemDeDup cluster geometry
  *    replicates), cross-replica similarity decorrelates.
  *  - `events`: ids shifted, user_id shifted (k× users), timestamps
  *    kept — k× the event rate over the same window, the real shape
  *    of a scaled ingest.
  *  - `orders`/`lineitem`/`customer`: keys shifted in lockstep so the
  *    join structure replicates — customer scales WITH orders because
  *    o_custkey shifts, and an unscaled customer table would orphan
  *    every replica's orders and silently hollow out the star-join
  *    path at scale (nation/region joins stay intact: c_nationkey is
  *    not shifted). o_totalprice nudged by r·1e-6 so the
  *    distinct-value grain (what the PrefixSum rank family actually
  *    scales in) grows k× like a continuous metric's grain would.
  *  - small dimension tables (`region nation supplier part`): copied
  *    as-is (a scale-up scales facts and the fact-keyed dimension;
  *    l_partkey/l_suppkey are not shifted so these stay valid).
  *
  * Usage: runMain graft.tools.ScaleGen <outDir> <k> [srcDir]
  */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val k = args(1).toInt
    val srcDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    require(k >= 1 && k <= 100, s"k must be in [1,100], got $k")
    val spark = graft.Sessions.fromEnv()

    // one broadcast k-row frame; crossJoin fans each source row into
    // its k replicas in a single narrow pass (no shuffle)
    val reps = broadcast(spark.range(k).toDF("__r"))
    def fan(df: DataFrame): DataFrame = df.crossJoin(reps)

    def write(df: DataFrame, name: String, files: Int): Unit = {
      df.repartition(files)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scalegen] $name: written")
    }

    // ---- documents ----------------------------------------------------
    val docs = graft.Tables.documents(spark, srcDir)
    val docStride = 1000000L
    val sdocs = fan(docs).select(
      (col("doc_id") + col("__r") * docStride).as("doc_id"),
      when(col("__r") === 0, col("text"))
        .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
          concat(lit("$1x"), lpad(col("__r").cast("string"), 2, "0"))))
        .as("text"),
      col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
    write(sdocs, "documents", math.max(4, k))

    // cross-replica token disjointness is the invariant that keeps the
    // pair miners' output k-fold (not k²); verify it on the WRITTEN
    // data instead of trusting the suffix argument — sampled token
    // vocabularies of replica 0, 1 and k-1 must be (near-)disjoint
    // (replica 0 can collide only on source tokens literally ending in
    // the sentinel pattern, bounded here at 0.1%)
    if (k > 1) {
      val written = spark.read.parquet(s"$outDir/documents.parquet")
      def vocab(r: Int) = written
        .where(col("doc_id") >= r * docStride &&
          col("doc_id") < r * docStride + 200)
        .select(explode(split(col("text"), "\\s+")).as("tok"))
        .where(col("tok") =!= "").distinct()
      val v0 = vocab(0).cache()
      Seq(1, k - 1).distinct.foreach { r =>
        val vr = vocab(r).cache()
        val nr = vr.count()
        val shared = v0.intersect(vr).count()
        require(nr > 0 && shared <= math.max(1L, nr / 1000),
          s"cross-replica token overlap replica 0 vs $r: $shared of $nr " +
            "sampled tokens — the suffix scheme no longer guarantees " +
            "disjointness and pair counts would grow k², not k")
        vr.unpersist(blocking = false)
      }
      v0.unpersist(blocking = false)
      println(s"[scalegen] documents: cross-replica disjointness verified")
    }

    // ---- embeddings ---------------------------------------------------
    val emb = graft.Tables.embeddings(spark, srcDir)
    val dim = emb.selectExpr("size(embedding) d").agg(max("d")).head().getInt(0)
    // rotations repeat mod dim: replicas r and r+dim would be
    // geometrically IDENTICAL (every cross-replica cosine = 1), turning
    // the pair miners' k-fold growth into k² for the colliding pairs
    require(k <= dim,
      s"k ($k) must be <= embedding dim ($dim): rotation by r mod dim " +
        "repeats and replicas r and r+dim would be identical")
    val rot = pmod(col("__r").cast("int"), lit(dim))
    val semb = fan(emb).select(
      (col("vec_id") + col("__r") * docStride).as("vec_id"),
      when(rot === 0, col("embedding")).otherwise(
        concat(slice(col("embedding"), rot + lit(1), lit(dim) - rot),
          slice(col("embedding"), lit(1), rot))).as("embedding"),
      col("label"))
    write(semb, "embeddings", math.max(4, k))

    // ---- events -------------------------------------------------------
    val ev = graft.Tables.events(spark, srcDir)
    val sev = fan(ev).select(
      (col("event_id") + col("__r") * 100000000L).as("event_id"),
      col("ts"),
      (col("user_id") + col("__r") * 1000000L).as("user_id"),
      col("event_type"), col("value"), col("props"))
    write(sev, "events", math.max(8, k))

    // ---- orders / lineitem (keys shifted in lockstep) -----------------
    val orders = graft.Tables.orders(spark, srcDir)
    val keyStride = 100000000L
    val ordCols = orders.columns.map {
      case "o_orderkey" =>
        (col("o_orderkey") + col("__r") * keyStride).as("o_orderkey")
      case "o_custkey" =>
        (col("o_custkey") + col("__r") * keyStride).as("o_custkey")
      case "o_totalprice" =>
        (col("o_totalprice") + col("__r").cast("double") * 1e-6)
          .as("o_totalprice")
      case c => col(c)
    }
    write(fan(orders).select(ordCols.toIndexedSeq: _*), "orders",
      math.max(8, k))

    val li = graft.Tables.lineitem(spark, srcDir)
    val liCols = li.columns.map {
      case "l_orderkey" =>
        (col("l_orderkey") + col("__r") * keyStride).as("l_orderkey")
      case c => col(c)
    }
    write(fan(li).select(liCols.toIndexedSeq: _*), "lineitem",
      math.max(16, 2 * k))

    // ---- customer: keys shifted in lockstep with orders ---------------
    val cust = graft.Tables.customer(spark, srcDir)
    val custCols = cust.columns.map {
      case "c_custkey" =>
        (col("c_custkey") + col("__r") * keyStride).as("c_custkey")
      case c => col(c)
    }
    write(fan(cust).select(custCols.toIndexedSeq: _*), "customer",
      math.max(2, k / 4))

    // ---- small dimensions: copy as-is ---------------------------------
    Seq("region", "nation", "supplier", "part").foreach { t =>
      write(graft.Tables(spark, srcDir, t), t, 1)
    }

    println(s"[scalegen] done: $outDir at ${k}x of $srcDir")
    spark.stop()
  }
}

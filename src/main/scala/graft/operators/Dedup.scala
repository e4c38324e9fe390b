package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, ordered from
  * exact to approximate. All are shuffle-on-key designs: nothing is
  * collected to the driver, so each scales to arbitrary corpus sizes
  * by adding partitions.
  */
object Dedup {

  /** Bounds intermediate-cache lifetime to the operator call: eagerly
    * materializes the (pairs-sized, corpus-shrunk) result and releases
    * the intermediate frames even on failure
    * ([[Checkpoints.materialize]]) — so a session running many dedup
    * queries (Bench runs 70+) does not accumulate shingle/signature
    * caches, and re-invocations never hit "already cached" plan
    * collisions. */
  private def finish(result: DataFrame, intermediates: DataFrame*): DataFrame =
    Checkpoints.materialize(result, intermediates: _*)

  /** Caller-owned handle over the persisted hashed-shingle frame the
    * dedup family computes from the raw corpus — the single most
    * expensive map pass each operator would otherwise repeat. Operator
    * cache lifetime is per-call by design (see [[finish]]); a session
    * that runs SEVERAL shingle consumers over the same corpus (minhash
    * LSH + n-gram Jaccard + contamination — a real dedup audit) opts
    * into amortization by building one cache and passing it to each
    * call. The caller releases it; `finish` never unpersists shared
    * state. At 100 TB this is the difference between one corpus scan
    * and one per operator. */
  final class ShingleCache private[operators] (
      private[operators] val frame: DataFrame,
      private[operators] val docsPlan:
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      private[operators] val idCol: String,
      private[operators] val shingleSize: Int) {
    /** Current cache status — NONE once released. */
    def isCached: Boolean =
      frame.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    def release(): Unit = frame.unpersist(blocking = false)
  }

  /** Build the shared shingle materialization for [[ShingleCache]]
    * consumers: (idCol, sh: array<long>) of 60-bit-hashed distinct
    * word shingles, persisted until `release()`. The frame carries a
    * constant `__shared` marker column so its canonicalized plan can
    * NEVER collide with an operator-scoped [[hashedShingled]] over the
    * same corpus in Spark's plan-keyed CacheManager — without it, an
    * unshared dedup call on the same docs would resolve to the same
    * cache entry and its `finish()` would release the caller's handle. */
  def shingleCache(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3): ShingleCache =
    new ShingleCache(
      hashedShingledPlan(docs, idCol, textCol, shingleSize)
        .withColumn("__shared", lit(1)).persist(),
      docs.queryExecution.analyzed,
      idCol, shingleSize)

  /** The shared-cache contract, enforced at every consuming entry
    * point: same id column, same shingle width, not yet released, and
    * built from the SAME corpus — `sameResult` on the canonicalized
    * source plans, so a cache built over corpus A silently standing in
    * for corpus B (plausible-but-wrong pairs) is refused, not served. */
  private[operators] def validateShared(c: ShingleCache, docs: DataFrame,
      idCol: String, shingleSize: Int): Unit = {
    require(c.idCol == idCol && c.shingleSize == shingleSize,
      s"shared ShingleCache shape (${c.idCol}, n=${c.shingleSize}) does not " +
        s"match the call ($idCol, n=$shingleSize)")
    require(c.isCached, "shared ShingleCache was already released")
    require(c.docsPlan.sameResult(docs.queryExecution.analyzed),
      "shared ShingleCache was built over a DIFFERENT corpus than this " +
        "call's docs frame — results would silently cover the wrong corpus")
  }

  /** Resolve the shingle frame an operator should use: the caller's
    * shared cache when provided (validated against the call's shape
    * and corpus), a fresh operator-scoped materialization otherwise.
    * The Boolean says whether the operator OWNS the frame (and must
    * release it). */
  private def resolveShingles(shared: Option[ShingleCache], docs: DataFrame,
      idCol: String, textCol: String, shingleSize: Int): (DataFrame, Boolean) =
    shared match {
      case Some(c) =>
        validateShared(c, docs, idCol, shingleSize)
        (c.frame, false)
      case None =>
        (hashedShingled(docs, idCol, textCol, shingleSize), true)
    }

  /** Exact dedup: group on a content key (hash of the payload), keep
    * the row carrying the minimum id per key (ids are assumed unique —
    * document ids). Shape, deliberately: an aggregate for the
    * survivors plus a semi-join back. A single-pass window
    * (`min(id) over (partition by ck)`) would read the corpus once
    * instead of twice — but it ships EVERY duplicate's full row into
    * one window partition, so the mass-duplicated corpus this
    * operator is the designated pre-pass for (thousands of identical
    * crawl pages; see [[minhashLsh]]'s bucketCap note) turns into a
    * one-task straggler. The aggregate's map-side partial combine
    * collapses duplicate mass BEFORE the wire, and both shuffles
    * (content hash post-combine, unique id) stay uniform — the second
    * scan is linear; the skew is not.
    *
    * INCREMENTAL LOADS (the composition a warehouse with batch-id
    * audit columns actually runs): when ids are monotone across
    * batches (every new batch's ids exceed all prior ids — the
    * surrogate-key contract), batch-1 survivors are STABLE under
    * re-running this operator over the grown corpus, because min(id)
    * per content key can only be claimed by an OLDER row. A 100 TB
    * pipeline therefore never recomputes: dedup the new batch
    * internally, then anti-join its content keys against the already-
    * loaded corpus's key set — value-identical to the full recompute
    * (the batch-boundary spec pins this equivalence).
    */
  def exactByKey(df: DataFrame, contentKey: Column, idCol: String): DataFrame = {
    val survivors = df
      .groupBy(contentKey.as("__ck"))
      .agg(min(col(idCol)).as(idCol))
      .drop("__ck")
    df.join(survivors, Seq(idCol), "left_semi")
  }

  private val M30 = (1L << 30) - 1
  private val M60 = (1L << 60) - 1

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Rows below which a partition of a COMPUTE-BEARING stage (window
    * sort, self-join) is pure scheduling overhead. Deliberately small:
    * these stages do real per-row work, so starving them of
    * parallelism costs far more than a few near-empty tasks — unlike
    * the CC loop's per-round label exchanges (tiny frames, many
    * rounds), where the 2M-row budget is the right one. A 480k-row
    * bucket frame on 32 cores must still run 32-wide; only a
    * genuinely tiny frame (≲ 10k rows/core) narrows. */
  private val WidthRowsPerPartition = 10000L

  /** Shuffle width an intermediate stage should OWN, sized off its own
    * row count instead of inheriting `spark.sql.shuffle.partitions`:
    * candidate/bucket frames can shrink orders of magnitude below the
    * corpus (where session-wide width is pure per-stage overhead),
    * while the clamp to the session's parallelism keeps the width
    * right — and compute fully parallel — everywhere else. */
  private def partsFor(rows: Long, sess: org.apache.spark.sql.SparkSession): Int =
    math.max(1L, math.min(sess.sparkContext.defaultParallelism.toLong,
      (rows + WidthRowsPerPartition - 1) / WidthRowsPerPartition)).toInt

  /** Truncation report for [[minhashLsh]]'s opt-in `bucketCap`: the
    * number of over-cap (band, bucket) groups excluded from candidate
    * generation and the occurrence rows they carried. A 100 TB dedup
    * run that silently truncated is indistinguishable from one that
    * did not — so when capping engages, the operator measures the
    * drop and reports it (warn log + `onTruncation` callback). */
  final case class TruncationStats(droppedBuckets: Long, droppedRows: Long)

  /** The minhash family: h_i(x) = (A_i * md5Long(x)) mod 2^60, with
    * A_i an odd 60-bit multiplier derived from md5("A|i") — so any
    * engine with md5 (DuckDB included) can re-derive the exact family
    * and verify signatures value-for-value. One md5 per shingle total;
    * each of the `numHashes` functions is then 6 integer ops, not
    * another digest. Returns (a0, a1) = (A_i low 30 bits, high 30). */
  def minhashConstants(numHashes: Int): Seq[(Long, Long)] =
    (0 until numHashes).map { i =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"A|$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val a = (2 * java.lang.Long.parseLong(hex.take(15), 16) + 1) & M60
      (a & M30, a >> 30)
    }

  /** (A * h) mod 2^60 via 30-bit limbs: every intermediate stays under
    * 2^61, so the arithmetic is exact in plain 64-bit signed longs on
    * both Spark (ANSI-safe, no overflow) and the oracle's BIGINT.
    * Takes the limbs pre-split so the 64 aggregate expressions share
    * one split instead of re-deriving it 64× (smaller generated code,
    * faster janino compile). */
  private def mix(h0: Column, h1: Column, a0: Long, a1: Long): Column = {
    val cross = (lit(a0) * h1 + lit(a1) * h0).bitwiseAND(lit(M30))
    (lit(a0) * h0 + shiftleft(cross, 30)).bitwiseAND(lit(M60))
  }

  /** Conditional input widening — see [[Spread]] (r11: promoted to a
    * shared helper so the text/linkage/analytics families get the
    * same scan-width floor; semantics unchanged). */
  private def spread(df: DataFrame, idCol: String): DataFrame =
    Spread(df, col(idCol))

  /** MinHash + LSH near-duplicate candidate pairs, verified with exact
    * Jaccard. Standard banding: `numHashes` minhashes split into
    * `bands` bands; documents sharing any band bucket become a
    * candidate pair; candidates are then verified against the exact
    * shingle sets and filtered at `threshold`.
    *
    * Execution shape: shingles explode to rows, one codegen'd md5 per
    * shingle, and the `numHashes` signature slots are `min(...)`
    * aggregates of [[mix]] arithmetic — all inside whole-stage codegen
    * with map-side partial aggregation, one shuffle on the doc id.
    * (The naive form — nested higher-order transforms computing
    * numHashes md5s per shingle — runs interpreted and is ~50× the
    * work; it is exactly the hot path a 100 TB corpus cannot afford.)
    * The only other shuffles are the (band, bucket) candidate
    * self-join and the verify join — keyed on uniform hashes. The
    * O(n²) blowup is confined to within-bucket pairs, which banding
    * keeps tiny for organic corpora — but a mass-duplicated corpus
    * (thousands of byte-identical crawl pages) puts every copy in the
    * same bucket and pairs it quadratically. `bucketCap` bounds that:
    * buckets larger than the cap are dropped from candidate
    * generation (a window-count guard on the keys the self-join
    * already shuffles on). Capping is OPT-IN (default = no cap) so the
    * standard LSH recall contract holds unless the caller trades it
    * away. The trade, stated precisely: a pair loses candidacy iff
    * EVERY band bucket it shares is over the cap. Byte-identical mass
    * duplicates are recoverable by an [[exactByKey]] pre-pass (the
    * intended companion on crawl corpora), but *near*-exact duplicates
    * whose only shared buckets are over-cap are lost — capped recall
    * is not the full LSH guarantee. Capping is never silent: when it
    * engages, the operator measures what it dropped and reports
    * [[TruncationStats]] through a warn log and the `onTruncation`
    * callback.
    *
    * @return (doc_id_1, doc_id_2, jaccard) with id1 < id2, jaccard ≥ threshold
    */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 32,
      threshold: Double = 0.7, bucketCap: Long = Long.MaxValue,
      shared: Option[ShingleCache] = None,
      onTruncation: TruncationStats => Unit = _ => ()): DataFrame = {
    val (result, intermediates) = minhashLshPlan(docs, idCol, textCol,
      shingleSize, numHashes, bands, threshold, bucketCap, shared, onTruncation)
    finish(result, intermediates: _*)
  }

  /** [[minhashLsh]] body, pre-`finish` — split out so specs can assert
    * plan properties (owned exchange widths) before materialization
    * severs the lineage. Returns (result, intermediates to release). */
  private[operators] def minhashLshPlan(docs: DataFrame, idCol: String,
      textCol: String, shingleSize: Int, numHashes: Int, bands: Int,
      threshold: Double, bucketCap: Long, shared: Option[ShingleCache],
      onTruncation: TruncationStats => Unit): (DataFrame, Seq[DataFrame]) = {
    require(numHashes % bands == 0, "bands must divide numHashes")

    val (shingled, owned) =
      resolveShingles(shared, docs, idCol, textCol, shingleSize)

    // persisted: both sides of the bucket self-join consume it, and a
    // broadcast build side would otherwise recompute the whole
    // signature aggregation a second time
    val sigs = minhashSignatures(shingled, idCol, numHashes).persist()
    // signature count == shingle-frame count (hashedShingled emits one
    // row per doc and never an empty array, so the explode + groupBy
    // chain is row-preserving): size the downstream exchanges off the
    // SHINGLE frame instead of forcing the 64-way min-agg into a
    // dedicated count job. The shingle materialization is work every
    // consumer needs anyway — and already paid when the cache is
    // shared — while `sigs` now materializes inside its first real
    // consumer (the bucket job), pipelined instead of eager.
    val nDocs = shingled.count()
    val nParts = partsFor(nDocs * bands, docs.sparkSession)

    // the repartition OWNS the one exchange this stage needs: the
    // window's ClusteredDistribution and the self-join's co-partition
    // requirement are both satisfied by it, so neither plans a second,
    // session-width exchange over the post-shrink bucket frame
    val allBuckets = signatureBuckets(sigs, idCol, numHashes, bands)
      .repartition(nParts, col("band"), col("bucket"))

    // degenerate-bucket guard as a window count over the SAME
    // (band, bucket) shuffle+sort the candidate self-join needs anyway
    // — one pass, no extra aggregate or semi-join (the r3 guard ran a
    // separate count + left_semi, re-shuffling allBuckets twice)
    val counted = allBuckets
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy(col("band"), col("bucket"))))
    val capped = bucketCap != Long.MaxValue
    // when capping is opted into, the counted frame is persisted so
    // the truncation audit below, and BOTH self-join sides, share one
    // shuffle+window materialization (exchange reuse does not span
    // separate jobs, so an unpersisted audit would re-pay the whole
    // bucket shuffle); released in finish()
    val countedShared = if (capped) counted.persist() else counted
    if (capped) {
      // measure what the cap drops BEFORE it drops it, reported via
      // warn log + callback. An observed metric on the bucket frame
      // would ride for free, but the self-join consumes that frame
      // TWICE, so the metric would double-count (or fire once per
      // side) depending on exchange reuse — an eager audit job over
      // the shared cache is deterministic, and the caller already
      // paid for observability by opting into the cap.
      val over = countedShared.where(col("__n") > bucketCap)
        .agg(coalesce(countDistinct(col("band"), col("bucket")), lit(0L)).as("b"),
          count(lit(1)).as("r"))
        .head()
      val stats = TruncationStats(over.getLong(0), over.getLong(1))
      if (stats.droppedBuckets > 0)
        log.warn(s"minhashLsh bucketCap=$bucketCap dropped " +
          s"${stats.droppedBuckets} over-cap buckets " +
          s"(${stats.droppedRows} occurrence rows) from candidate generation")
      onTruncation(stats)
    }
    val buckets = countedShared
      .where(col("__n") <= bucketCap)
      .drop("__n")

    // the candidate dedup deliberately KEEPS the session-width
    // aggregate exchange (no owned-width repartition here): pair
    // volume is quadratic within buckets and unknowable before the
    // join runs, so a width sized off the pre-blowup bucket count
    // could be orders of magnitude too narrow on a mass-duplicate
    // corpus — and the aggregate's map-side partial combine (which an
    // explicit repartition would forfeit) collapses duplicate pairs
    // before the wire. AQE right-sizes the read side at small scale.
    val candidates = buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_id_1"), col(s"b.$idCol").as("doc_id_2"))
      .distinct()

    (verifyJaccard(candidates, shingled, idCol, threshold),
      (if (owned) Seq(sigs, shingled) else Seq(sigs)) ++
        (if (capped) Seq(countedShared) else Nil))
  }

  /** (idCol, m0..m{numHashes-1}) minhash signature frame over a
    * hashed-shingle frame — one explode + one map-side-combined
    * aggregate, shared by [[minhashLshPlan]] and [[minhashIndex]]. */
  private def minhashSignatures(shingled: DataFrame, idCol: String,
      numHashes: Int): DataFrame = {
    val hashes = shingled.select(col(idCol), explode(col("sh")).as("h"))
      .select(col(idCol), col("h").bitwiseAND(lit(M30)).as("h0"),
        shiftright(col("h"), 30).as("h1"))
    val minAggs = minhashConstants(numHashes).zipWithIndex.map {
      case ((a0, a1), i) => min(mix(col("h0"), col("h1"), a0, a1)).as(s"m$i")
    }
    hashes.groupBy(col(idCol)).agg(minAggs.head, minAggs.tail: _*)
  }

  /** Signatures → (idCol, band, bucket) LSH band buckets: the
    * comma-joined signature-row string (engine-portable, unlike murmur
    * hash()) collapsed to a 60-bit md5Long — downstream joins then
    * shuffle/sort 8-byte longs instead of ~80-byte strings. A 60-bit
    * collision can only ADD a candidate pair (recall is untouched:
    * equal strings hash equal), and the exact-Jaccard verify filters
    * any such false positive; the oracle replays the same hash. */
  private def signatureBuckets(sigs: DataFrame, idCol: String,
      numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    val bucketCols = (0 until bands).map { b =>
      md5Long(concat_ws(",", (0 until rows).map(r => col(s"m${b * rows + r}")): _*))
    }
    sigs.select(col(idCol), posexplode(array(bucketCols: _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
  }

  /** A persisted-or-persistable MinHash LSH index over an already-
    * loaded corpus: the band-bucket table plus the hashed shingle
    * frame, with the parameters baked in so an append can refuse a
    * mismatched call. Both members are plain DataFrames — write them
    * with `Warehouse`/parquet and read them back across sessions; at
    * 100 TB the index is built (or extended) once per load, not once
    * per audit. `release()` drops the builder's internal cache;
    * indexes read back from storage hold no cache to drop. */
  final case class MinhashIndex private[operators] (
      buckets: DataFrame, shingles: DataFrame, idCol: String,
      shingleSize: Int, numHashes: Int, bands: Int) {
    def release(): Unit = shingles.unpersist(blocking = false)
  }

  /** Build a [[MinhashIndex]] over a corpus. The hashed shingle frame
    * is persisted (both the bucket derivation and any later verify
    * read it); the bucket frame derives from it lazily, so writing
    * both to storage costs one corpus text scan. */
  def minhashIndex(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 32): MinhashIndex = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sh = hashedShingled(docs, idCol, textCol, shingleSize)
    // materialize the shingle cache eagerly: an append's one job reads
    // it through TWO subplans (bucket derivation + verify), and a
    // cache first touched by concurrent subplans populates under a
    // race — each leg would redo the corpus text shingling the index
    // exists to amortize (the measured ngram lesson above)
    sh.count()
    MinhashIndex(
      signatureBuckets(minhashSignatures(sh, idCol, numHashes), idCol,
        numHashes, bands),
      sh, idCol, shingleSize, numHashes, bands)
  }

  /** Reconstruct a [[MinhashIndex]] from frames written to storage by
    * a prior session (the cross-session read-back path the index
    * exists for): `buckets` must carry (idCol, band, bucket) and
    * `shingles` (idCol, sh) as produced by [[minhashIndex]], and the
    * LSH parameters must be the ones the index was built with — they
    * are baked into the returned handle so appends cannot diverge.
    * Schema is validated here; parameter fidelity is the caller's
    * storage contract (persist them next to the frames). Since r11
    * `sh` must be sorted ascending (the verify's merge-scan
    * intersection depends on it) — frames written by this library
    * satisfy that by construction. */
  def minhashIndexFromFrames(buckets: DataFrame, shingles: DataFrame,
      idCol: String, shingleSize: Int = 3, numHashes: Int = 64,
      bands: Int = 32): MinhashIndex = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    Seq(idCol, "band", "bucket").foreach(c => require(
      buckets.columns.contains(c), s"index buckets frame lacks column $c"))
    Seq(idCol, "sh").foreach(c => require(
      shingles.columns.contains(c), s"index shingles frame lacks column $c"))
    MinhashIndex(buckets, shingles, idCol, shingleSize, numHashes, bands)
  }

  /** Incremental near-dup pair mining for batch-append corpora: mine
    * ONLY the pairs that involve the new batch — new×new and
    * new×indexed — against a [[MinhashIndex]] of the already-loaded
    * corpus. Never re-mines indexed×indexed, which is what makes
    * re-auditing a 100 TB corpus after a 100 GB append a 100 GB
    * problem: the corpus-scale index bucket table is pruned by a
    * semi-join on the NEW batch's (band, bucket) keys — a small
    * broadcast build side — before anything corpus-sized shuffles, so
    * the old side contributes only the buckets the new batch actually
    * collides with.
    *
    * Under the append contract (ids unique across batches — the same
    * surrogate-key contract [[exactByKey]]'s incremental composition
    * states), `minhashLsh(old ∪ new)` without a bucket cap equals
    * `minhashLsh(old)` ∪ this call's result (the batch-append spec
    * pins it). An id present in BOTH sides is tolerated by taking the
    * new batch's shingles for verification, but near-dup semantics for
    * reused ids are the caller's problem. No `bucketCap` here: run the
    * [[exactByKey]] pre-pass on mass-duplicated corpora instead —
    * capping composes badly with incrementality (a bucket's size
    * depends on batches the call cannot see).
    *
    * @return (doc_id_1, doc_id_2, jaccard), id1 < id2, jaccard ≥ threshold,
    *         at least one id from `newBatch` */
  def minhashLshAppend(index: MinhashIndex, newBatch: DataFrame,
      textCol: String, threshold: Double = 0.7): DataFrame = {
    val idCol = index.idCol
    val shNew = hashedShingled(newBatch, idCol, textCol, index.shingleSize)
    val sigsNew = minhashSignatures(shNew, idCol, index.numHashes)
    // owned width off the new batch (shingle-frame row count == doc
    // count, as in minhashLshPlan); the pruned old side co-partitions
    // to it in the join
    val nParts = partsFor(shNew.count() * index.bands,
      newBatch.sparkSession)
    // persisted AND eagerly materialized. Three subplans read this
    // frame (semi-join build side, union leg, join side a); exchange
    // reuse canNOT dedupe them — column pruning pushes the build
    // side's projection below the exchange, so the exchanges don't
    // canonicalize equal (measured: the width-less/unpersisted shape
    // re-ran the signature aggregation per subplan) — and AQE
    // launches leaf stages concurrently, so a lazy cache populates
    // under the first-touch race. One batch-sized eager action is
    // the deterministic fix; at bench scale it surfaces as a
    // separate (fixed-overhead) job, at 100 TB it is noise next to
    // the corpus-scale work it prevents re-running.
    val newBuckets = signatureBuckets(sigsNew, idCol, index.numHashes, index.bands)
      .repartition(nParts, col("band"), col("bucket")).persist()
    newBuckets.count()
    val hitOld = index.buckets.join(
      newBuckets.select("band", "bucket"), Seq("band", "bucket"), "left_semi")
    val allBuckets = hitOld.unionByName(newBuckets)
    val candidates = newBuckets.as("a")
      .join(allBuckets.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col(s"a.$idCol") =!= col(s"b.$idCol"))
      // normalize THEN distinct: the new side joins both directions,
      // so a new×new pair arrives twice (a,b)/(b,a) — same aggregate
      // exchange the self-join variant's DISTINCT pays, same
      // session-width reasoning (pair volume is quadratic in bucket
      // fan-out, unknowable pre-join)
      .select(least(col(s"a.$idCol"), col(s"b.$idCol")).as("doc_id_1"),
        greatest(col(s"a.$idCol"), col(s"b.$idCol")).as("doc_id_2"))
      .distinct()
      // persisted AND eagerly materialized: unpersisted, the verify
      // evaluates this join+distinct FIVE times (once as the pair
      // side, twice per shAll side through candIds' two union legs),
      // re-deriving the old-side signatures each time — measured 5x+
      // on q75 at sf0.1. Pairs-sized, so the action is cheap.
      .persist()
    candidates.count()
    // the verify reads one shingle frame covering both sides: the
    // index's shingles cut down to candidate ids (tiny semi-join),
    // the new batch's shingles winning on any id overlap. No DISTINCT
    // on the id list: a semi-join build tolerates duplicate keys, and
    // dropping it removes a shuffle stage from BOTH verify sides
    // (candIds is two projections of the cached pair frame — free)
    val candIds = candidates.select(col("doc_id_1").as(idCol))
      .unionByName(candidates.select(col("doc_id_2").as(idCol)))
    val shAll = index.shingles
      .join(candIds, Seq(idCol), "left_semi")
      .join(shNew.select(col(idCol)), Seq(idCol), "left_anti")
      .unionByName(shNew.join(candIds, Seq(idCol), "left_semi"))
    finish(verifyJaccard(candidates, shAll, idCol, threshold),
      shNew, newBuckets, candidates)
  }

  /** Documents → (id, sh: array<long>) of 60-bit-hashed distinct word
    * shingles, persisted. Hashing shingles down to longs once per
    * document is what makes every downstream step cheap: signature
    * minima are integer ops, and the verify intersections compare
    * 8-byte longs instead of ~20-byte strings (≈4× less shuffle +
    * compare volume at any corpus size). 60-bit collisions are
    * negligible (n²/2^61).
    *
    * Persisted because every LSH consumer branches at least three ways
    * off this frame (index build, both self-join sides, verify) — and
    * the shingling pass is the single most expensive map over the raw
    * corpus. Recomputing a 100 TB text scan per branch is the cost
    * model to avoid; the cached form is ~50× smaller than the text. */
  /** Pair-mining evaluation: a FOUND pair set scored against an exact
    * TRUTH pair set — the dedup twin of
    * [[Similarity.recallAtK]] (which tunes nProbe/m for ANN; this
    * tunes bands/bucketCap/dfCap for the LSH family). Both inputs'
    * first two columns are the pair ids; order within a pair and
    * duplicate rows are canonicalized away, so found-vs-truth compare
    * as SETS of unordered pairs.
    *
    * One full outer join on the canonical (a, b) key + one 1-row
    * aggregate; counts exact, recall/precision single divisions
    * rounded 6dp, null when the denominator is 0 (no truth pairs /
    * no found pairs — "100% recall of nothing" is a lie a dashboard
    * would believe). Returns one row:
    * (n_truth, n_found, n_hit, recall, precision). */
  def pairRecall(found: DataFrame, truth: DataFrame): DataFrame = {
    def canon(df: DataFrame): DataFrame = {
      require(df.columns.length >= 2,
        s"pair frame needs two id columns, got ${df.columns.toSeq}")
      val Seq(c1, c2) = df.columns.take(2).toSeq
      df.select(least(col(c1), col(c2)).as("a"),
        greatest(col(c1), col(c2)).as("b")).distinct()
    }
    val joined = canon(truth).withColumn("__t", lit(1L))
      .join(canon(found).withColumn("__f", lit(1L)), Seq("a", "b"), "full")
    joined
      .agg(sum(coalesce(col("__t"), lit(0L))).as("n_truth"),
        sum(coalesce(col("__f"), lit(0L))).as("n_found"),
        sum(when(col("__t").isNotNull && col("__f").isNotNull, 1L)
          .otherwise(0L)).as("n_hit"))
      // empty-both-sides: the 1-row aggregate over zero rows yields
      // null sums — report explicit zero counts, null rates
      .select(coalesce(col("n_truth"), lit(0L)).as("n_truth"),
        coalesce(col("n_found"), lit(0L)).as("n_found"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        when(col("n_truth") > 0,
          round(col("n_hit") / col("n_truth").cast("double"), 6)).as("recall"),
        when(col("n_found") > 0,
          round(col("n_hit") / col("n_found").cast("double"), 6))
          .as("precision"))
  }

  /** Asymmetric shingle-containment pairs: for candidate pairs,
    * C(A⊂B) = |A∩B| / |A| in BOTH directions — the quote/subset
    * detector Jaccard structurally under-scores (a tweet quoted
    * inside a long article shares nearly all of ITS shingles, yet
    * divides by the article's size under Jaccard and vanishes; see
    * Broder 1997's resemblance-vs-containment distinction). Pairs
    * where either direction reaches `threshold` survive.
    *
    * Candidate generation: an ASYMMETRIC prefix filter. The symmetric
    * PPJoin prefix (both sides index only their prefixes) does not
    * hold for one-sided containment, but a one-sided pigeonhole does:
    * if C(A⊂B) ≥ t then B holds all but at most |A| − ⌈t·|A|⌉ of A's
    * shingles, so A's `|A| − ⌈(t−ε)·|A|⌉ + 1` RAREST shingles (global
    * (df, s) order) must intersect B's FULL set — the ε = 1e-4 slack
    * covers the verify's 4dp rounding of the ratio. Since either
    * direction may qualify, every doc indexes its own prefix and the
    * candidate join is prefix(x) ⨝ full(y) (canonicalized, distinct).
    * Against the previous every-capped-shingle index this cut the
    * sf0.1 fixture's candidates 6.2× (1,185,176 → 190,541) and the
    * query's wall time 2.6× (5.29 → 2.05 s min-of-7, clean JVM) at
    * identical verified output.
    * The same df cap applies to prefix entries (mega-common shingles
    * carry no containment signal and cause the quadratic blowup) with
    * the same rarest-shingle `rn = 1` fallback, so byte-identical
    * docs always collide; the full-set join side is uncapped — its
    * fan-out per shingle is bounded by (prefix occurrences) × df, and
    * prefix occurrences concentrate on LOW-df shingles by
    * construction. Verification is exact over the full shingle sets
    * (the verify join streams pairs against the AQE-broadcastable
    * doc-side arrays).
    *
    * Determinism: intersection and set sizes are exact integers; each
    * containment is one exact-input division rounded 4dp (the
    * [[verifyJaccard]] convention). Returns (doc_id_1, doc_id_2,
    * c_1_in_2, c_2_in_1) with doc_id_1 < doc_id_2. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, threshold: Double = 0.8, dfCap: Long = 100,
      shared: Option[ShingleCache] = None): DataFrame = {
    val (result, intermediates) = containmentPairsPlan(docs, idCol, textCol,
      shingleSize, threshold, dfCap, shared)
    finish(result, intermediates: _*)
  }

  /** [[containmentPairs]] body, pre-`finish` — split out so specs can
    * assert plan properties (owned exchange width) before
    * materialization severs the lineage (the ngramJaccardPairsPlan
    * convention). */
  private[operators] def containmentPairsPlan(docs: DataFrame, idCol: String,
      textCol: String, shingleSize: Int, threshold: Double, dfCap: Long,
      shared: Option[ShingleCache]): (DataFrame, Seq[DataFrame]) = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    val (shingled, owned) =
      resolveShingles(shared, docs, idCol, textCol, shingleSize)
    val inv = shingled.select(col(idCol), explode(col("sh")).as("s"))
    val dfCount = inv.groupBy("s").agg(count(lit(1)).as("df"))
    // persisted + counted: the count materializes the cache and sizes
    // the candidate exchange off the real occurrence count (the
    // ngramJaccardPairsPlan discipline)
    val withDf = inv.join(dfCount, "s").persist()
    val nParts = partsFor(withDf.count(), docs.sparkSession)
    val w = Window.partitionBy(col(idCol)).orderBy(col("df"), col("s"))
    // rn and sz ride ONE window shuffle (same partition key; the
    // unordered count needs no extra sort). Prefix length
    // sz − ⌈(t−1e-4)·sz⌉ + 1: see the scaladoc's pigeonhole argument —
    // the 1e-4 slack keeps every pair the 4dp-rounded verify can
    // accept reachable, and the SAME formula is replayed by the q148
    // oracle so candidates (hence output) are engine-identical.
    // ORACLE-INDEPENDENCE NOTE: because the oracle replays the rule in
    // lockstep, it cannot catch a recall bug in it — the independent
    // gates are OperatorSpec's containmentPairs brute-force tests
    // ("loses NOTHING vs brute force" + the random-corpora property);
    // OracleIndependenceSpec pins the formula parity.
    val prefixLen = col("sz") -
      ceil((lit(threshold) - lit(1e-4)) * col("sz")) + lit(1L)
    val prefix = withDf
      .withColumn("rn", row_number().over(w))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy(col(idCol))))
      .where(col("rn") <= prefixLen)
      .where(col("df") <= dfCap || col("rn") === 1)
      .select(col(idCol), col("s"))
    val cand = prefix.as("a")
      .join(withDf.select(col(idCol), col("s")).as("b"),
        col("a.s") === col("b.s") && col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(least(col(s"a.$idCol"), col(s"b.$idCol")).as("doc_id_1"),
        greatest(col(s"a.$idCol"), col(s"b.$idCol")).as("doc_id_2"))
      .repartition(nParts, col("doc_id_1"), col("doc_id_2"))
      .distinct()
    val s1 = shingled.select(col(idCol).as("doc_id_1"), col("sh").as("sh1"))
    val s2 = shingled.select(col(idCol).as("doc_id_2"), col("sh").as("sh2"))
    val inter = sortedIntersectSize(col("sh1"), col("sh2")).cast("double")
    val out = cand.join(s1, "doc_id_1").join(s2, "doc_id_2")
      .withColumn("c_1_in_2", round(inter / size(col("sh1")), 4))
      .withColumn("c_2_in_1", round(inter / size(col("sh2")), 4))
      .where(col("c_1_in_2") >= threshold || col("c_2_in_1") >= threshold)
      .select("doc_id_1", "doc_id_2", "c_1_in_2", "c_2_in_1")
    (out, Seq(withDf) ++ (if (owned) Seq(shingled) else Nil))
  }

  private def hashedShingled(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int): DataFrame =
    hashedShingledPlan(docs, idCol, textCol, shingleSize).persist()

  private def hashedShingledPlan(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int): DataFrame =
    spread(docs, idCol)
      // explode the (string) shingles first so the md5 runs as a plain
      // codegen'd projection — inside a higher-order transform it would
      // evaluate interpreted, one digest per lambda dispatch, and a
      // filter on the computed array would evaluate the chain twice.
      // The rebuild groupBy introduces no shuffle: spread() already
      // partitioned by the doc id. Shingle-less docs drop at explode.
      .select(col(idCol), explode(wordShingles(col(textCol), shingleSize)).as("s"))
      .select(col(idCol), md5Long(col("s")).as("h"))
      // SORTED ascending (r11): the verify joins compute |A ∩ B| per
      // candidate pair; sorting once per document here lets that
      // per-pair expression be an allocation-free merge scan
      // (sortedIntersectSize) instead of a hash-set build per pair.
      // Every other consumer (signature minima, explodes, semi joins)
      // is order-free. Part of the MinhashIndex storage contract.
      .groupBy(col(idCol)).agg(sort_array(collect_list(col("h"))).as("sh"))

  /** Exact Jaccard over candidate pairs: join the hashed shingle
    * arrays back and compare via array_intersect. The doc-side arrays
    * are small relations (id + longs) that AQE broadcasts when they
    * fit; the pair side streams. */
  private def verifyJaccard(pairs: DataFrame, shingled: DataFrame,
      idCol: String, threshold: Double): DataFrame = {
    val s1 = shingled.select(col(idCol).as("doc_id_1"), col("sh").as("sh1"))
    val s2 = shingled.select(col(idCol).as("doc_id_2"), col("sh").as("sh2"))
    pairs.join(s1, "doc_id_1").join(s2, "doc_id_2")
      .withColumn("inter",
        sortedIntersectSize(col("sh1"), col("sh2")).cast("double"))
      .withColumn("jaccard",
        round(col("inter") / (size(col("sh1")) + size(col("sh2")) - col("inter")), 4))
      .where(col("jaccard") >= threshold)
      .select("doc_id_1", "doc_id_2", "jaccard")
  }

  /** Exact n-gram Jaccard near-dup pairs via an inverted shingle index
    * with PPJoin-style prefix filtering. Two candidate guards:
    *
    *  - df cap: shingles appearing in > `dfCap` docs ("stopword
    *    shingles") are excluded from candidate generation — they carry
    *    little dedup signal and cause quadratic blowup;
    *  - prefix filter: per doc, shingles are ordered by (global df,
    *    hash) and only the first `sz - ceil((t−ε)·sz) + 1` (ε = 1e-4,
    *    the [[containmentPairs]] rule) participate in the index — any
    *    pair the 4dp-rounded verify can accept (true j ≥ t − 5e-5)
    *    must collide inside that prefix (Bayardo et al., WWW'07), so
    *    the prefix itself loses no recall; the self-join fans out on
    *    the rarest shingles only.
    *
    * A document whose *every* shingle exceeds the df cap (pure
    * boilerplate) would otherwise get zero index entries and silently
    * lose all its pairs — including exact duplicates, the
    * highest-value targets. The `rn = 1` fallback guarantees each doc
    * indexes at least its globally rarest shingle, so byte-identical
    * docs always collide (identical sets order identically). The
    * residual approximation: two *different* all-boilerplate docs may
    * still be missed when their rarest shingles differ; corpora like
    * that should run [[exactByKey]] first. The fallback is the only
    * place candidate fan-out can exceed dfCap, and it is bounded by
    * the number of all-boilerplate docs sharing one rarest shingle.
    *
    * Exact Jaccard then verifies every candidate against the full
    * shingle sets. Shuffles: df count, per-doc prefix window, candidate
    * distinct, verify join — all keyed on uniform hashes or doc ids.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, threshold: Double = 0.5, dfCap: Long = 100,
      shared: Option[ShingleCache] = None): DataFrame = {
    val (result, intermediates) =
      ngramJaccardPairsPlan(docs, idCol, textCol, shingleSize, threshold,
        dfCap, shared)
    finish(result, intermediates: _*)
  }

  /** [[ngramJaccardPairs]] body, pre-`finish` — split out so specs can
    * assert plan properties (owned exchange widths) before
    * materialization severs the lineage. */
  private[operators] def ngramJaccardPairsPlan(docs: DataFrame, idCol: String,
      textCol: String, shingleSize: Int, threshold: Double, dfCap: Long,
      shared: Option[ShingleCache]): (DataFrame, Seq[DataFrame]) = {
    val (shingled, owned) =
      resolveShingles(shared, docs, idCol, textCol, shingleSize)
    val inv = shingled.select(col(idCol), size(col("sh")).as("sz"),
      explode(col("sh")).as("s"))
    val dfCount = inv.groupBy("s").agg(count(lit(1)).as("df"))
    // persisted: the prefix window and the fallback aggregate both
    // consume the join, and exchange reuse alone would still run the
    // join twice (shuffle-read + merge per consumer)
    val withDf = inv.join(dfCount, "s").persist()
    // the count both materializes the cache (some action must) and
    // sizes the candidate stages' exchanges off the REAL occurrence
    // count instead of the session's corpus-scale shuffle width.
    // Deliberately EAGER, unlike minhash's shingle-frame sizing: the
    // prefix union's two legs (window + fallback aggregate) both scan
    // withDf inside ONE downstream job, and a cache first touched by
    // two concurrent subplans populates per-partition under a race —
    // each leg recomputes the explode + df-join chain. Measured at
    // sf0.1: lazy materialization here cost q33 +1.1 s (the A/B that
    // reverted this), where minhash's sigs has a single consumer and
    // the same laziness SAVED 1.4 s.
    val nParts = partsFor(withDf.count(), docs.sparkSession)

    // The r3 shape ran one row_number window over EVERY shingle
    // occurrence; in a boilerplate-heavy corpus the over-cap shingles
    // carry most of the occurrence rows, so that window sorted mostly
    // rows it was about to discard. Split instead:
    //  - the prefix window runs over capped occurrences only. Because
    //    df-ascending ordering puts capped shingles strictly before
    //    over-cap ones, rn over the capped subset equals rn over all
    //    rows for every capped row — same prefix, fraction of the sort;
    //  - the rarest-shingle fallback (docs whose every shingle is over
    //    the cap — see scaladoc) is a map-side-combined min(struct)
    //    aggregate, not a window: the global (df, s) minimum is capped
    //    whenever any capped row exists, so keeping only min-df > cap
    //    rows reproduces the old `rn = 1` branch exactly and the two
    //    legs stay disjoint.
    val prefixCapped = withDf.where(col("df") <= dfCap)
      // owns the prefix window's exchange (ClusteredDistribution on
      // the doc id is satisfied, so the window plans no second one)
      .repartition(nParts, col(idCol))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("df"), col("s"))))
      // ε = 1e-4 slack, the containmentPairs rule: the verify accepts
      // round4(j) >= t, i.e. true j down to t − 5e-5, and Bayardo's
      // prefix bound only covers j >= the threshold it was sized for —
      // sizing for t − ε keeps every 4dp-acceptable pair reachable.
      // ceil((t−ε)·sz) differs from ceil(t·sz) only when t·sz sits
      // within ε·sz above an integer (large docs — the scale case);
      // on the test fixtures the prefixes are identical.
      // ORACLE-INDEPENDENCE NOTE: the DuckDB oracle replays this SAME
      // prefix rule in lockstep (LlmQueries q33/q149), so the oracle
      // cannot catch a candidate-generation recall bug here — both
      // sides would drop the same pairs and still hash-match. The
      // independent recall gate is OperatorSpec's "ngramJaccardPairs
      // property: random corpora x thresholds x shingle sizes match
      // brute force" (all-pairs ground truth, no prefix filter);
      // OracleIndependenceSpec pins the formula parity and the gate's
      // existence. Any future lockstep edit of this rule must keep
      // that property test in step.
      .where(col("rn") <=
        col("sz") - ceil((lit(threshold) - lit(1e-4)) * col("sz")) + 1)
      .select(col(idCol), col("s"))
    // the fallback aggregate keeps its own session-width exchange: its
    // map-side min(struct) combine collapses each doc's occurrence fan
    // BEFORE the wire, which an explicit repartition would forfeit
    val fallback = withDf
      .groupBy(col(idCol))
      .agg(min(struct(col("df"), col("s"))).as("m"))
      .where(col("m.df") > dfCap)
      .select(col(idCol), col("m.s").as("s"))
    // persisted: both sides of the candidate self-join consume it. The
    // pre-cache repartition on the join key means the cached layout
    // ITSELF satisfies the self-join's co-partition requirement — the
    // join plans zero exchanges where the unpartitioned cache paid a
    // session-width one (exchange-reused across the two sides)
    val prefix = prefixCapped.unionByName(fallback)
      .repartition(nParts, col("s")).persist()

    val candidates = prefix.as("a")
      .join(prefix.as("b"),
        col("a.s") === col("b.s") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_id_1"), col(s"b.$idCol").as("doc_id_2"))
      // session-width aggregate kept deliberately — same reasoning as
      // the minhash candidate distinct: pair volume is quadratic in
      // shared-shingle fan-out (the fallback leg's is unbounded per
      // the scaladoc), so a pre-blowup owned width could be far too
      // narrow, and the map-side partial dedup matters at scale
      .distinct()
    (verifyJaccard(candidates, shingled, idCol, threshold),
      if (owned) Seq(prefix, withDf, shingled) else Seq(prefix, withDf))
  }

  /** Connected components over a near-duplicate pair list: the step a
    * real dedup pipeline runs AFTER pair mining — pairs chain (a~b,
    * b~c ⇒ {a,b,c}) and the pipeline must keep one survivor per
    * CLUSTER, not drop one side of each pair (which over-deletes on
    * chains). Returns (id, cluster_id = min reachable id) for every id
    * that appears in a pair.
    *
    * Ids must be integral (they are cast to long): near-dup pair lists
    * key on numeric document ids, and the long form is what lets the
    * local-contraction phase run an in-memory union-find.
    *
    * Execution, two phases (the "filtering" scheme of the distributed
    * CC literature — contract locally, iterate globally), preceded by
    * a bounded fast path:
    *
    *  0. DRIVER FAST PATH: when the symmetric edge count is at most
    *     `driverMaxEdges` (default 2^21), the pair graph is collected
    *     and resolved by one driver-side union-find. The gate is on
    *     the PAIR GRAPH, not the corpus — near-dup pair lists are
    *     tiny relative to their corpus, so this is the common case
    *     even at 100 TB — and the label map comes back as a
    *     LocalRelation that broadcasts into the downstream corpus
    *     join. Min-id roots keep the labels bit-identical to the
    *     loop's fixed point. Driver heap at the default gate: ~2M
    *     specialized tuples collected (~80 MB) plus the union-find
    *     map, the label buffer (≤ 2 entries/edge), and the
    *     LocalRelation rows — budget a few hundred MB; lower (or
    *     zero) the bound on a small driver.
    *
    *  1. LOCAL CONTRACTION: each partition of the symmetrized edge
    *     list runs an in-memory union-find (path-compressed, min-id
    *     roots) over just its own edges — the sanctioned per-partition
    *     imperative case — and emits the partition's spanning star
    *     (node → local root). Unioning per-partition spanning forests
    *     preserves global connectivity exactly, while collapsing every
    *     within-partition chain to depth 1: the loop that follows sees
    *     a graph whose diameter is bounded by the number of PARTITIONS
    *     a component spans, not its node count. At fixture scale (one
    *     partition) the whole graph resolves here and the loop merely
    *     confirms; at 100 TB each partition folds `rowsPerPartition`
    *     edges into ≤ nodes-per-partition star edges. Memory: the
    *     union-find map holds only NON-ROOT nodes (identity-absent
    *     semantics over a primitive-long [[LongLongMap]]) — at most
    *     2·rowsPerPartition entries at ~34 bytes each, ~140 MB worst
    *     case per concurrent task at the defaults, with zero per-entry
    *     GC pressure.
    *  2. GLOBAL LOOP: iterative min-label propagation over the star
    *     edges, one pointer-jump per round (label := label of label —
    *     path halving, O(log diameter) rounds; same round-complexity
    *     class as large-star/small-star, Kiveris et al., "Connected
    *     Components in MapReduce and Beyond", SoCC'14). The loop owns
    *     its shuffle width (edges/rowsPerPartition, clamped to session
    *     parallelism) — session-wide shuffle partitions would make
    *     every tiny per-round exchange pay a full-width stage. Labels
    *     are checkpointed per round ([[Checkpoints.stableTracked]]) so round
    *     i+1 reads k rows, not a depth-i plan, and convergence rides
    *     that SAME materialization as an observed metric
    *     (`Dataset.observe`): labels only decrease, so equal
    *     consecutive label sums ⇔ fixed point — one action per round,
    *     no separate isEmpty job.
    *
    * Throws if `maxIters` rounds do not converge — silently-partial
    * clusters would over-keep duplicates downstream.
    */
  def connectedComponents(pairs: DataFrame, id1: String = "doc_id_1",
      id2: String = "doc_id_2", maxIters: Int = 40,
      rowsPerPartition: Long = 2000000L,
      driverMaxEdges: Long = 1L << 21): DataFrame = {
    val sess = pairs.sparkSession
    import sess.implicits._
    // integral ids only — a silent cast of string ids would NULL them
    // out under non-ANSI sessions and return garbage clusters
    Seq(id1, id2).foreach { c =>
      val t = pairs.schema(c).dataType
      require(Seq("byte", "short", "int", "integer", "long", "bigint")
          .contains(t.typeName),
        s"connectedComponents requires integral ids; column $c is $t")
    }
    val fwdAll = pairs.select(col(id1).cast("long").as("a"),
      col(id2).cast("long").as("b"))
    // self-pairs (a,a) carry no connectivity but their ids are still
    // owed a label under the "every id that appears in a pair"
    // contract: phase-1 contraction emits no star edge for a
    // singleton root, so they are excluded here and unioned back as
    // trivial (id, id) clusters at the end
    val fwd = fwdAll.where(col("a") =!= col("b"))
    val sym = fwd.unionByName(fwd.select(col("b").as("a"), col("a").as("b")))
      .distinct().persist()
    // the count sizes the loop's shuffle width AND materializes the
    // persisted symmetric edge set the contraction reads
    val symCount = sym.count()
    // singleton handling shared by both execution paths: ids seen ONLY
    // in self-pairs come back as their own clusters (one filter pass
    // over the pair list + a tiny anti-join)
    def attachLoners(labeled: DataFrame, intermediates: DataFrame*): DataFrame = {
      val loners = fwdAll.where(col("a") === col("b"))
        .select(col("a").as("id")).distinct()
        .join(labeled.select("id"), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("cluster_id"))
      finish(labeled.unionByName(loners), intermediates: _*)
    }
    // PHASE 0 — bounded driver fast path. The gate is on the PAIR
    // GRAPH, not the corpus: a near-dup pair list over a 100 TB corpus
    // is routinely a few million edges, and when it fits the bound
    // (see scaladoc for the driver-heap budget) a driver-side
    // union-find replaces the whole iterative loop — no per-round
    // checkpoint jobs, no convergence confirmation round.
    // The emitted label map is a LocalRelation, which is exactly the
    // plan you want downstream: a tiny cluster map broadcast into the
    // corpus-sized dedup join. Min-id roots make the labels identical
    // to the loop's fixed point. Above the bound, the distributed
    // phases below are the scale path.
    if (symCount <= driverMaxEdges) {
      val collected = sym.as[(Long, Long)].collect()
      sym.unpersist(blocking = false)
      val parent = new LongLongMap()
      def findRoot(x: Long): Long = {
        var r = x
        var p = parent.getOrDefault(r, r)
        while (p != r) { r = p; p = parent.getOrDefault(r, r) }
        var c = x // path compression
        while (c != r) { val n = parent.getOrDefault(c, c); parent.put(c, r); c = n }
        r
      }
      collected.foreach { case (x, y) =>
        val rx = findRoot(x); val ry = findRoot(y)
        if (rx < ry) parent.put(ry, rx)
        else if (ry < rx) parent.put(rx, ry)
      }
      // second pass emits (id, root) once per distinct id; the seen
      // map stores 1 against a 0 default, so ANY key value is safe
      val seen = new LongLongMap()
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      def emit(x: Long): Unit =
        if (seen.getOrDefault(x, 0L) == 0L) {
          seen.put(x, 1L); out += ((x, findRoot(x)))
        }
      collected.foreach { case (x, y) => emit(x); emit(y) }
      return attachLoners(out.toSeq.toDF("id", "cluster_id"))
    }
    val nParts = math.max(1L, math.min(
      sess.sparkContext.defaultParallelism.toLong,
      (symCount + rowsPerPartition - 1) / rowsPerPartition)).toInt
    // phase 1: per-partition union-find → spanning star edges.
    // Hash-partitioning on `a` co-locates each node's edge fan before
    // contracting (better fold), but ANY partitioning is correct.
    // identity-absent union-find over a primitive-long open-addressing
    // map ([[LongLongMap]] — ~34 B/entry vs ~80 for boxed HashMap
    // entries, the honest heap bound at 2M rows/partition): an id with
    // no entry is its own root, so ONLY non-root nodes occupy slots
    // and the emission loop is exactly the map's keys. Path
    // compression during emission only UPDATES existing keys (never
    // inserts — every traversed non-root already has an entry), which
    // the map's iterator tolerates by construction.
    val star = sym.repartition(nParts, col("a")).as[(Long, Long)]
      .mapPartitions { it =>
        val parent = new LongLongMap()
        def find(x: Long): Long = {
          var r = x
          var p = parent.getOrDefault(r, r)
          while (p != r) { r = p; p = parent.getOrDefault(r, r) }
          var c = x // path compression
          while (c != r) { val n = parent.getOrDefault(c, c); parent.put(c, r); c = n }
          r
        }
        it.foreach { case (x, y) =>
          val rx = find(x); val ry = find(y)
          if (rx < ry) parent.put(ry, rx)
          else if (ry < rx) parent.put(rx, ry)
        }
        parent.keysIterator.map(k => (k, find(k)))
      }.toDF("a", "b")
    // phase 2 edge set: the symmetrized stars. Duplicate star edges
    // across partitions are possible and harmless under min-agg — no
    // distinct pass. Pre-partitioned on the per-round join key so the
    // cached blocks satisfy the join's distribution every round.
    val edges = star.unionByName(star.select(col("b").as("a"), col("a").as("b")))
      .repartition(nParts, col("b")).persist()
    // (frame, reliable-checkpoint path) — superseded rounds drop their
    // checkpoint files instead of accumulating for the session
    var labels = Checkpoints.stableTracked(
      edges.select(col("a")).repartition(nParts, col("a")).distinct()
        .select(col("a").as("id"), col("a").as("label")))
    // pointer jump: adopt the label's own label (path halving). Valid
    // because labels only ever decrease and label(x) ≤ x, so the
    // adopted label can only improve. The input is persisted by the
    // caller so the self-join's two sides read one materialization.
    def jump(l: DataFrame): DataFrame = {
      val t = l.select(col("id").as("__lid"), col("label").as("__llabel"))
      l.repartition(nParts, col("label"))
        .join(t.repartition(nParts, col("__lid")),
          col("label") === col("__lid"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("__llabel"), col("label"))).as("label"))
    }
    var prevSum: java.math.BigDecimal = null
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // propagate: min label over self ∪ neighbors, as ONE union +
      // aggregate (a separate left join back onto labels would add a
      // whole stage barrier per round). Partial aggregation is traded
      // for the explicit width — acceptable because per-node degree in
      // a near-dup pair graph is bounded by the candidate caps.
      val cand = edges.join(labels._1.repartition(nParts, col("id")),
          col("b") === col("id"))
        .select(col("a"), col("label"))
      val prop = cand.unionByName(labels._1.select(col("id").as("a"), col("label")))
        .repartition(nParts, col("a"))
        .groupBy(col("a")).agg(min("label").as("label"))
        .select(col("a").as("id"), col("label"))
        .persist()
      // convergence rides the round's one materialization as an
      // observed metric: labels only decrease, so the label sum is
      // strictly decreasing until the fixed point — equal consecutive
      // sums ⇔ no label changed. Decimal(38) keeps the sum exact for
      // any realistic id range × corpus size (no ANSI overflow).
      val obs = new org.apache.spark.sql.Observation()
      val updated = Checkpoints.stableTracked(jump(prop).observe(obs,
        coalesce(sum(col("label").cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO)).as("label_sum")))
      var sumNow = obs.get("label_sum").asInstanceOf[java.math.BigDecimal]
      // the observed sum is one execution's accumulators, and task
      // retries on a real cluster double-count (upward only — every
      // completed execution includes all successful tasks). Labels
      // only decrease, so a non-decreasing reading is either the true
      // fixed point or retry noise; SETTLE it with an exact aggregate
      // over the materialized frame before declaring convergence —
      // one tiny cache/scan job, normally run exactly once per CC
      // call (at the convergence round). False convergence is thereby
      // impossible: equality is only ever declared against an exact
      // recount, and an inflated reading costs at most an extra round.
      if (prevSum != null && sumNow.compareTo(prevSum) >= 0) {
        sumNow = updated._1.agg(
          coalesce(sum(col("label").cast("decimal(38,0)")),
            lit(java.math.BigDecimal.ZERO)).as("label_sum"))
          .head().getDecimal(0)
      }
      converged = prevSum != null && prevSum.compareTo(sumNow) == 0
      prevSum = sumNow
      prop.unpersist(blocking = false)
      Checkpoints.drop(labels._1, labels._2)
      labels = updated
      i += 1
    }
    sym.unpersist(blocking = false)
    if (!converged) {
      // the error path must release everything finish() would have
      edges.unpersist(blocking = false)
      Checkpoints.drop(labels._1, labels._2)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds — " +
          "component diameter exceeds the budget; raise maxIters")
    }
    val labeled = labels._1.select(col("id"), col("label").as("cluster_id"))
    val out = attachLoners(labeled, edges)
    Checkpoints.drop(labels._1, labels._2)
    out
  }

  /** Cluster-aware exact survivor selection: drop every doc that
    * appears in a near-dup cluster except the min-id representative
    * (docs in no pair survive untouched). The companion of
    * [[connectedComponents]] — one broadcast-or-shuffle semi-join
    * against the (tiny relative to corpus) cluster membership list. */
  def dedupByClusters(docs: DataFrame, clusters: DataFrame, idCol: String): DataFrame =
    docs.join(
      clusters.where(col("id") =!= col("cluster_id")).select(col("id").as(idCol)),
      Seq(idCol), "left_anti")

  /** Quality-aware cluster survivor election — [[dedupByClusters]]'
    * min-id rule generalized to "keep the BEST member": per near-dup
    * cluster, the member maximizing `score` survives (ties: min id,
    * so election stays deterministic and engine-replayable). A real
    * curation pipeline keeps the cleanest copy of a near-dup group —
    * crawl dumps carry the same article with and without boilerplate
    * damage — not the one with the smallest id.
    *
    * Returns the per-MEMBER election frame (id, q, cluster_id,
    * is_survivor); dropping losers is one anti-join the caller
    * composes, exactly like [[dedupByClusters]].
    *
    * Scale shape: `docs` is scanned once to evaluate `score` (a
    * codegen'd map pass); the inner join against the cluster
    * membership list immediately shrinks it to members (membership ≪
    * corpus — AQE broadcasts it), and the rank window runs on that
    * already-tiny members frame (every member row is RETURNED with
    * its flag — the full window evaluates by design, so group-limit
    * pruning does not apply), so no corpus-scale shuffle exists
    * anywhere. */
  def electSurvivors(docs: DataFrame, idCol: String, clusters: DataFrame,
      score: Column): DataFrame = {
    val members = docs
      .select(col(idCol).cast("long").as("id"), score.as("q"))
      .join(clusters, "id")
    members
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("cluster_id"))
          .orderBy(col("q").desc, col("id").asc)))
      .withColumn("is_survivor", col("__rn") === 1)
      .drop("__rn")
  }

  /** Dedup-aware train/holdout split: a per-document hash split
    * ([[graft.operators.Sampling.hashSplit]]) leaks whenever two
    * near-duplicates land on opposite sides — the eval set then
    * contains paraphrases of training documents and overstates the
    * model. The fix is to draw the split on the near-dup CLUSTER, not
    * the document: every member of a connected component shares its
    * cluster label's md5 draw, so a cluster lands whole on one side.
    * Docs in no pair keep their own id as the split key (the labels
    * frame only covers ids that appear in a pair), which degrades
    * exactly to the per-document split for the unclustered corpus.
    *
    * Execution: [[connectedComponents]] over the pair list (tiny
    * relative to the corpus — driver fast path at the default bound),
    * then ONE left join of the corpus against the label frame
    * (broadcastable for the same reason; AQE decides) and a pure
    * codegen'd md5 filter. No corpus shuffle at any scale. Appends
    * `split_key` (the drawn label) and `side` ('train'/'holdout');
    * deterministic and engine-replayable like every split here. */
  def clusterAwareSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
      holdoutFrac: Double, id1: String = "doc_id_1", id2: String = "doc_id_2"): DataFrame = {
    require(holdoutFrac >= 0.0 && holdoutFrac <= 1.0,
      s"holdoutFrac must be in [0,1], got $holdoutFrac")
    val labels = connectedComponents(pairs, id1, id2)
      .select(col("id").as("__lbl_id"), col("cluster_id").as("__cluster"))
    val cut = (holdoutFrac * (1L << 60)).toLong
    docs.join(labels, docs(idCol).cast("long") === col("__lbl_id"), "left")
      .withColumn("split_key", coalesce(col("__cluster"), docs(idCol).cast("long")))
      .withColumn("side",
        when(md5Long(col("split_key").cast("string")) < cut, lit("holdout"))
          .otherwise(lit("train")))
      .drop("__lbl_id", "__cluster")
  }

  /** Train/test contamination check — the decontamination step of an
    * evaluation pipeline: for each test document, how much of it
    * already appears in the training corpus, measured as the fraction
    * of its distinct shingles present anywhere in train.
    *
    * Execution follows the side asymmetry, which the CALLER declares
    * because both orientations are real and plan statistics cannot
    * tell them apart (both sides are often filters of one source,
    * whose non-CBO stats don't reduce):
    *
    *  - `largeTrain = false` (default) — the [[CorpusPipeline]]
    *    orientation: train is the SMALL eval benchmark, test is the
    *    corpus being decontaminated. Train reduces to its distinct
    *    shingle vocabulary (trivial at eval-set size; broadcasts
    *    under AQE into the presence join); the only corpus-scale
    *    work is the scan+explode and the unavoidable per-test-doc
    *    aggregate.
    *  - `largeTrain = true` — the audit orientation: test is a small
    *    held-out set checked against a 100 TB train corpus. The TEST
    *    vocabulary semi-join-prunes the exploded train shingles
    *    BEFORE any train-wide aggregation (a broadcast join under
    *    AQE at eval-set sizes), so the corpus-vocabulary distinct
    *    the default shape would pay never happens — the surviving
    *    hashes (⊆ test vocabulary) are tiny. The test shingles are
    *    consumed twice (vocabulary + presence join): small by this
    *    orientation's definition.
    *
    * Both shapes produce identical values (the prune cannot change
    * any test shingle's membership verdict). Docs with fewer words
    * than `shingleSize` produce no shingles and drop out (nothing to
    * contaminate).
    * Returns (idCol, n_shingles, n_contaminated, contamination_pct).
    */
  def contamination(train: DataFrame, test: DataFrame, idCol: String,
      textCol: String, shingleSize: Int = 3,
      sharedTest: Option[ShingleCache] = None,
      largeTrain: Boolean = false): DataFrame = {
    // the test side may reuse a caller-owned [[ShingleCache]] over the
    // test corpus (exploding the cached per-doc distinct-shingle arrays
    // is value-identical to re-shingling the raw text)
    val testSh = sharedTest match {
      case Some(c) =>
        validateShared(c, test, idCol, shingleSize)
        c.frame.select(col(idCol), explode(col("sh")).as("h"))
      case None => spread(test, idCol)
        .select(col(idCol), explode(wordShingles(col(textCol), shingleSize)).as("s"))
        .select(col(idCol), md5Long(col("s")).as("h"))
    }
    contaminationOf(train, testSh, idCol, textCol, shingleSize, largeTrain)
  }

  /** [[contamination]] where the test side reuses a [[ShingleCache]]
    * built over a SUPERSET of `test` (the raw corpus before upstream
    * gates filtered it — the [[CorpusPipeline]] composition). A per-doc
    * shingle array depends only on that doc's own text, so semi-joining
    * the cache down to `test`'s ids is value-identical to re-shingling
    * `test` — one corpus-wide shingle materialization serves every
    * pipeline stage instead of one per stage. The subset claim is
    * VERIFIED, not trusted: any test doc with enough words to shingle
    * that is missing from the cache fails the call loudly (a silently
    * absent doc would masquerade as "nothing to contaminate"). */
  def contaminationFromSuperset(train: DataFrame, test: DataFrame,
      idCol: String, textCol: String, cache: ShingleCache): DataFrame = {
    require(cache.idCol == idCol,
      s"superset ShingleCache id column ${cache.idCol} does not match $idCol")
    require(cache.isCached, "superset ShingleCache was already released")
    val shingleable = test
      .where(size(tokens(col(textCol))) >= cache.shingleSize).select(col(idCol))
    val missing = shingleable
      .join(cache.frame.select(col(idCol)), Seq(idCol), "left_anti").limit(1)
    // content sentinel: the id check cannot see a same-ids-DIFFERENT-
    // text substitution (a re-ingested corpus under stable ids), so
    // one doc's shingles are recomputed from test's own text and
    // compared against the cache row. A single-row spot check, not a
    // proof — but a global text change fails it with near-certainty.
    // (The per-row HOF here is fine: it runs on exactly one row.)
    val sentinel = test
      .where(size(tokens(col(textCol))) >= cache.shingleSize)
      .orderBy(col(idCol)).limit(1)
      .select(col(idCol), array_sort(transform(
        wordShingles(col(textCol), cache.shingleSize), s => md5Long(s))).as("__expect"))
    // sort AFTER the join: projected below it, the array_sort would
    // run over every cached document instead of the one matched row
    val mismatch = sentinel.join(
        cache.frame.select(col(idCol), col("sh")), Seq(idCol))
      .where(col("__expect") =!= array_sort(col("sh"))).limit(1)
    // ONE probe action for both checks (each tiny job still pays the
    // full fixed job cost, and this runs on q61's bench hot path):
    // the union's legs are both limit-1 probes, tagged, and BOTH tags
    // are collected (≤ 2 rows) so the missing-docs defect keeps
    // precedence when both checks fail — a limit(1) over the union
    // would pick a leg nondeterministically
    val bad = missing.select(lit("missing").as("__why"))
      .unionByName(mismatch.select(lit("content").as("__why")))
      .collect().map(_.getString(0)).toSet
    require(!bad.contains("missing"),
      "test corpus contains docs absent from the superset ShingleCache — " +
        "the cache was built over a different (or narrower) corpus")
    require(!bad.contains("content"),
      "superset ShingleCache content does not match the test corpus's " +
        "text (same ids, different text?) — refusing to reuse it")
    val testSh = cache.frame.join(shingleable, Seq(idCol), "left_semi")
      .select(col(idCol), explode(col("sh")).as("h"))
    // superset composition is the small-train orientation by design
    contaminationOf(train, testSh, idCol, textCol, cache.shingleSize,
      largeTrain = false)
  }

  /** Shared tail of the contamination family: reduce train to its
    * distinct shingle vocabulary, presence-mark the (id, h) test
    * shingles against it, fold per test doc. */
  private def contaminationOf(train: DataFrame, testSh: DataFrame,
      idCol: String, textCol: String, shingleSize: Int,
      largeTrain: Boolean): DataFrame = {
    val rawTrainSh = spread(train, idCol)
      .select(explode(wordShingles(col(textCol), shingleSize)).as("s"))
      .select(md5Long(col("s")).as("h"))
    // largeTrain: the test vocabulary prunes the corpus-side fan
    // BEFORE the distinct, so no train-vocabulary-scale shuffle ever
    // runs (see scaladoc for the orientation contract)
    val trainSh = (if (largeTrain)
        rawTrainSh.join(testSh.select(col("h")).distinct(), Seq("h"), "left_semi")
      else rawTrainSh)
      .distinct()
      .withColumn("__hit", lit(1))
    testSh.join(trainSh, Seq("h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum("__hit"), lit(0)).cast("long").as("n_contaminated"))
      .withColumn("contamination_pct",
        round(col("n_contaminated") * 100.0 / col("n_shingles"), 4))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken:
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD'03 — the MOSS scheme): hash every positional k-shingle,
    * slide a window of `w` consecutive hashes, keep each window's
    * minimum; the distinct minima are the document's fingerprint set.
    * Guarantees: any shared substring of length ≥ k + w − 1 words
    * produces at least one shared fingerprint, and the set is ~1/w the
    * shingle count — the sublinear sketch for plagiarism/overlap
    * detection at corpus scale.
    *
    * Execution: one explode (position, hash) pass — the positional
    * shingles explode FIRST and the md5 runs as a plain codegen'd
    * projection over the exploded rows (inside a higher-order
    * `transform` it would evaluate interpreted, one digest per lambda
    * dispatch — the hot-path killer [[hashedShingled]]'s comment
    * warns about) — then a sliding row-frame min (the per-doc window
    * shuffles on the doc id only) and a distinct. The full-window
    * filter uses max(position) over the same window partitioning, so
    * the sliding min and the length bound share one WindowExec pass.
    * Returns (idCol, fp). */
  def winnowingFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4): DataFrame = {
    val hs = spread(docs, idCol)
      .select(col(idCol), posexplode(posWordShingles(col(textCol), k)))
      .select(col(idCol), col("pos").as("p"), md5Long(col("col")).as("h"))
    val byPos = Window.partitionBy(col(idCol)).orderBy(col("p"))
    val slide = byPos.rowsBetween(Window.currentRow, w - 1)
    val whole = byPos.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    hs.select(col(idCol), col("p"), min(col("h")).over(slide).as("fp"),
        max(col("p")).over(whole).as("__maxp"))
      .where(col("p") <= col("__maxp") - (w - 1)) // only full windows
      .select(col(idCol), col("fp"))
      .distinct()
  }

  /** SimHash signature: `bits`-bit fingerprint where bit j is the
    * majority vote of token-hash bit j across all tokens (with
    * multiplicity). Implemented as `bits` conditional aggregates in a
    * single groupBy pass — no row blowup, stays in codegen.
    * Token hash is [[md5Long]] so a SQL oracle can reproduce it.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
      bits: Int = 48): DataFrame = {
    val toks = spread(docs, idCol)
      .select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .withColumn("hv", md5Long(col("w")))
    val bitSums = (0 until bits).map { j =>
      sum(when(shiftright(col("hv"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$j")
    }
    val agg = toks.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until bits).map { j =>
      when(col(s"b$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    agg.select(col(idCol), sig.as("simhash"))
  }

  /** Exact-simhash duplicate pairs (hamming distance 0). The
    * signature frame is persisted across the self-join sides (the
    * 48-aggregate signature pass would otherwise run twice) and
    * released once the pair list materializes. */
  def simhashDupPairs(docs: DataFrame, idCol: String, textCol: String,
      bits: Int = 48): DataFrame = {
    val sigs = simhash(docs, idCol, textCol, bits).persist()
    finish(
      sigs.as("a").join(sigs.as("b"),
          col("a.simhash") === col("b.simhash") &&
            col(s"a.$idCol") < col(s"b.$idCol"))
        .select(col(s"a.$idCol").as("doc_id_1"), col(s"b.$idCol").as("doc_id_2"),
          col("a.simhash").as("simhash")),
      sigs)
  }

  /** Near-duplicate pairs at hamming distance ≤ `maxHamming`, via
    * pigeonhole banding: split the `bits`-bit signature into
    * `maxHamming + 1` chunks — any pair within the distance budget
    * must agree exactly on at least one chunk, so candidates come from
    * an equi bucket-join on (band, chunk) with FULL recall (this is a
    * guarantee, not a probabilistic LSH). Exact hamming
    * (bit_count(xor)) then verifies each candidate. Signatures ride
    * along with the candidates, so verification needs no extra join;
    * the signature frame is persisted across the self-join sides.
    */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      bits: Int = 48, maxHamming: Int = 3): DataFrame = {
    val bands = maxHamming + 1
    require(bits % bands == 0, s"bands ($bands) must divide bits ($bits)")
    val chunkBits = bits / bands
    val mask = (1L << chunkBits) - 1
    val sigs = simhash(docs, idCol, textCol, bits).persist()
    val chunks = sigs.select(col(idCol), col("simhash"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col("simhash"), b * chunkBits).bitwiseAND(lit(mask))): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "chunk")
    val candidates = chunks.as("a")
      .join(chunks.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_id_1"), col("a.simhash").as("__s1"),
        col(s"b.$idCol").as("doc_id_2"), col("b.simhash").as("__s2"))
      .distinct()
    finish(
      candidates
        .withColumn("hamming",
          bit_count(col("__s1").bitwiseXOR(col("__s2"))).cast("long"))
        .where(col("hamming") <= maxHamming)
        .select("doc_id_1", "doc_id_2", "hamming"),
      sigs)
  }

  /** Blocked edit-distance near-duplicate pairs — the classic
    * entity-resolution shape (blocking + bounded pairwise verify)
    * applied to document prefixes. Texts are normalized (lowercase,
    * non-alphanumeric stripped, single-space alphabet preserved) and
    * compared on their first `prefixLen` normalized characters;
    * a pair is reported when Levenshtein(prefix₁, prefix₂) ≤
    * `maxDist`.
    *
    * Recall contract (standard ER blocking, stated honestly):
    * candidates form ONLY within a block — same first `blockChars`
    * normalized characters AND same `lenBand`-wide normalized-length
    * band — so an edit inside the first `blockChars` characters, or a
    * pair straddling a band boundary, is not reported. That is the
    * deliberate trade that keeps the candidate set linear-ish in the
    * corpus: blocks bound the quadratic term by the hottest block,
    * not the corpus. A production deployment tunes the key (or runs
    * multi-pass blocking) per recall target.
    *
    * Scale shape: one projection pass computes (prefix, block key),
    * the self-join shuffles both sides on the compound block key (an
    * equi join — no broadcast of the corpus), and the verify runs
    * INSIDE the join as Spark's banded `levenshtein(l, r, threshold)`
    * — O(maxDist·prefixLen) per candidate instead of
    * O(prefixLen²), and codegen'd. No driver state. Returns
    * (doc_id_1, doc_id_2, dist). */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 8, prefixLen: Int = 64, blockChars: Int = 4,
      lenBand: Int = 32): DataFrame = {
    require(maxDist >= 0 && prefixLen > blockChars && blockChars >= 1 &&
      lenBand >= 1, s"bad blocking params ($maxDist, $prefixLen, $blockChars, $lenBand)")
    val norm = lower(regexp_replace(col(textCol), "[^a-zA-Z0-9 ]", ""))
    // the banded Levenshtein verify runs in the block-join probe
    // stage, whose per-row cost dwarfs its bytes — AQE's byte-based
    // sizing ran the whole join + verify in ONE task (1.09 s CPU at
    // sf0.1), so the width is PINNED (see [[Spread]]; a no-op at real
    // scale). Measured: q127 0.56× vs the unspread baseline.
    val blocked = Spread(docs, col(idCol), pin = true).select(col(idCol),
      substring(norm, 1, prefixLen).as("__p"),
      substring(norm, 1, blockChars).as("__bk"),
      floor(length(norm) / lenBand).as("__lb"))
    val joined = blocked.as("a").join(blocked.as("b"),
      col("a.__bk") === col("b.__bk") && col("a.__lb") === col("b.__lb") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
    // the threshold form returns −1 past the budget: one banded pass
    // both filters and carries the distance, no second computation
    joined
      .withColumn("dist",
        levenshtein(col("a.__p"), col("b.__p"), maxDist).cast("long"))
      .where(col("dist") >= 0)
      .select(col(s"a.$idCol").as("doc_id_1"), col(s"b.$idCol").as("doc_id_2"),
        col("dist"))
  }

  /** Cross-document duplicated n-gram SPANS — the exact-substring
    * dedup family (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", ACL'22), re-expressed relationally
    * instead of via a suffix array: a word position is *duplicated*
    * when its k-shingle hash occurs in at least `minDocs` DISTINCT
    * documents, and maximal runs of consecutive duplicated positions
    * merge into one span per run (gaps-and-islands). Any substring of
    * ≥ `shingleSize` words shared verbatim by `minDocs` documents is
    * covered by exactly one reported span; `span_end` extends to the
    * last word of the last duplicated shingle. Within-document
    * repeats alone do NOT mark a position (distinct-doc frequency,
    * not raw frequency) — the operator targets cross-document
    * contamination, the kind that inflates eval scores and wastes
    * training compute.
    *
    * Execution, scale-first: one posexplode pass hashes positional
    * shingles in codegen ([[graft.functions.ShinglesExpr]]), the
    * distinct-doc frequency is a (hash)-keyed aggregate, duplicated
    * positions survive a LEFT SEMI join against the (much smaller)
    * duplicated-hash set, and the island merge is one per-document
    * WindowExec plus a final aggregate. No driver state, no
    * suffix-array-sized memory: every stage shuffles on a uniform
    * key (hash, then doc id) and the semi join's build side shrinks
    * with `minDocs`. Returns (idCol, span_start, span_end, n_grams)
    * with word positions 0-based inclusive. */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, minDocs: Int = 2): DataFrame = {
    val pos = spread(docs, idCol)
      .select(col(idCol), posexplode(posWordShingles(col(textCol), shingleSize)))
      .select(col(idCol), col("pos").as("p"), md5Long(col("col")).as("h"))
    val dupHashes = pos.groupBy("h")
      .agg(countDistinct(col(idCol)).as("df"))
      .where(col("df") >= minDocs)
      .select("h")
    val dup = pos.join(dupHashes, Seq("h"), "left_semi")
    // gaps-and-islands: consecutive duplicated positions share
    // (p − row_number) — one window pass keyed on the doc id only
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("p"))
    dup.withColumn("__isl", col("p") - row_number().over(byDoc))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("p")).cast("long").as("span_start"),
        (max(col("p")) + lit(shingleSize - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_grams"))
      .drop("__isl")
  }

  /** Line-level corpus dedup (the CCNet pre-pass, Wenzek et al.
    * LREC'20): split every document on `sep`, drop each line whose
    * normalized content already occurred at a lexicographically
    * earlier (id, position) anywhere in the corpus, and reassemble
    * the surviving lines in document order. This is the step that
    * strips boilerplate (headers, cookie banners, navigation) that
    * repeats across a crawl — whole-document dedup never sees it
    * because the surrounding text differs.
    *
    * Returns (idCol, textCol [cleaned], n_lines_in, n_lines_kept);
    * a document whose every line is duplicated elsewhere comes back
    * with empty text, not dropped — removal is a caller policy. A
    * null-text document likewise comes back (empty text,
    * n_lines_in = 0) rather than silently vanishing: the corpus row
    * set is preserved exactly.
    *
    * Execution, scale-first: the survivor-per-content min is a
    * (content-hash)-keyed aggregate whose map-side partial combine
    * collapses a million-fold-repeated boilerplate line BEFORE the
    * wire (the same skew argument as [[exactByKey]]); the keep flag
    * then joins the tiny distinct-content survivor list back on the
    * UNIQUE (id, position) key — deliberately not on the hot content
    * hash, so no join partition inherits the boilerplate's skew.
    * Reassembly is one id-keyed aggregate. No window over content,
    * no driver state. The exploded line frame feeds BOTH the
    * election and the join-back (different keys — exchange reuse
    * cannot apply), so it is persisted for the call and released
    * once the result materializes: one corpus split/hash pass, not
    * two. */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n"): DataFrame = {
    // posexplode_outer: a null-text doc yields one (null pos, null
    // line) marker row, so the doc survives into the output
    val lines = spread(docs, idCol)
      .select(col(idCol), posexplode_outer(split(col(textCol),
        java.util.regex.Pattern.quote(sep))))
      .select(col(idCol), col("pos"), col("col").as("__line"),
        md5Long(lower(trim(col("col")))).as("__fp"))
      .persist()
    // one row per distinct content: the earliest (id, pos) claiming
    // it (null-line marker rows carry no content and elect nothing)
    val firsts = lines.where(col("__line").isNotNull)
      .groupBy(col("__fp"))
      .agg(min(struct(col(idCol), col("pos"))).as("__first"))
      .select(col("__first").getField(idCol).as(idCol),
        col("__first").getField("pos").as("pos"), lit(1).as("__keep"))
    finish(lines.join(firsts, Seq(idCol, "pos"), "left")
      .groupBy(col(idCol))
      .agg(count(col("__line")).as("n_lines_in"),
        coalesce(sum("__keep"), lit(0L)).cast("long").as("n_lines_kept"),
        concat_ws(sep, transform(
          array_sort(collect_list(when(col("__keep") === 1,
            struct(col("pos"), col("__line"))))),
          x => x.getField("__line"))).as(textCol))
      .select(col(idCol), col(textCol), col("n_lines_in"), col("n_lines_kept")),
      lines)
  }

  /** Exact-substring duplicate REMOVAL — the rewrite step paired with
    * [[duplicatedSpans]]'s detection (Lee et al. 2022's ExactSubstr
    * dedup, re-expressed at token granularity so the semantics are
    * deterministic and engine-replayable): every corpus-repeated span
    * keeps its FIRST occurrence (lexicographically earliest (id,
    * position)) and loses the rest, token by token.
    *
    * Token rule: a token is removed iff it is covered by at least one
    * shingle occurrence, EVERY shingle covering it is duplicated
    * (appears in ≥ `minDocs` docs), and NONE of the covering
    * occurrences is the corpus-elected first occurrence of its
    * shingle. Consequences worth pinning: a doc that duplicates an
    * earlier doc wholesale comes back empty; a doc sharing only a
    * phrase loses the phrase's interior while the earliest doc keeps
    * everything; removed regions conservatively shrink by up to
    * `shingleSize−1` tokens at their edges (edge tokens are also
    * covered by non-duplicated shingles straddling the boundary).
    * Every input row comes back — a fully-deduplicated or null-text
    * doc returns empty text, removal of the ROW is caller policy
    * (same contract as [[dedupLines]]).
    *
    * Execution: one token explode + one shingle explode (map-only),
    * an h-keyed df+first-occurrence aggregate (map-side combined,
    * boilerplate collapses before the wire), a cover explode of
    * factor `shingleSize`, a (id, tp)-keyed cover aggregate, and the
    * keep-flag join on the UNIQUE (id, tp) key — never on the hot
    * content hash, the same skew discipline as [[dedupLines]]. No
    * windows, no driver state; everything keys on uniform hashes or
    * unique ids. */
  def removeDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, minDocs: Int = 2): DataFrame = {
    val k = shingleSize
    val spreadDocs = spread(docs, idCol)
    val toks = spreadDocs
      .select(col(idCol), posexplode_outer(tokens(col(textCol))))
      .select(col(idCol), col("pos").as("tp"), col("col").as("tok"))
      .persist()
    val sh = spreadDocs
      .select(col(idCol), posexplode(posWordShingles(col(textCol), k)))
      .select(col(idCol), col("pos").as("p"), md5Long(col("col")).as("h"))
    val own = sh.groupBy("h").agg(
      countDistinct(col(idCol)).as("__df"),
      min(struct(col(idCol), col("p"))).as("__own"))
    val occ = sh.join(own, Seq("h"))
      .select(col(idCol), col("p"),
        (col("__df") >= minDocs).as("__dup"),
        (col("__own") === struct(col(idCol), col("p"))).as("__owner"))
    val cover = occ
      .select(col(idCol), explode(sequence(col("p"), col("p") + lit(k - 1))).as("tp"),
        col("__dup"), col("__owner"))
      .groupBy(col(idCol), col("tp"))
      .agg(min(col("__dup")).as("__alldup"), max(col("__owner")).as("__anyown"))
    val keep = !(coalesce(col("__alldup"), lit(false)) &&
      !coalesce(col("__anyown"), lit(false)))
    finish(toks.join(cover, Seq(idCol, "tp"), "left")
      .withColumn("__keep", keep)
      .groupBy(col(idCol))
      .agg(count(col("tok")).as("n_tokens_in"),
        sum(when(col("__keep") && col("tok").isNotNull, 1L).otherwise(0L))
          .as("n_tokens_kept"),
        concat_ws(" ", transform(array_sort(collect_list(
          when(col("__keep") && col("tok").isNotNull,
            struct(col("tp"), col("tok"))))),
          x => x.getField("tok"))).as(textCol))
      .select(col(idCol), col(textCol), col("n_tokens_in"), col("n_tokens_kept")),
      toks)
  }

  /** Per-document duplicated n-gram mass — the CORPUS-level companion
    * of [[Quality]]'s within-doc repetition signals (the "fraction of
    * duplicate n-grams" diagnostic of Lee et al. 2022, Deduplicating
    * Training Data Makes Language Models Better): for each document,
    * the count and fraction of its DISTINCT word shingles that also
    * occur in at least one OTHER document. High values flag boilerplate
    * and template families that per-pair dedup (Jaccard threshold)
    * leaves behind; the score is a standard pre-training filter input.
    *
    * Shape: one shingle pass (or a caller-owned [[ShingleCache]] —
    * the same materialization the LSH family shares), a map-side-
    * combined document-frequency aggregate, and a join back keyed on
    * the uniform 60-bit shingle hash — no windows, no driver state.
    * The join inherits at most per-shingle document fan-out (bounded
    * by the df of the hottest boilerplate shingle), the same profile
    * [[contamination]] carries. Docs with fewer than `shingleSize`
    * words have no shingles and drop from the output (same contract
    * as the rest of the family).
    */
  def duplicateShingleFraction(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, shared: Option[ShingleCache] = None): DataFrame = {
    val (sh, fresh) = resolveShingles(shared, docs, idCol, textCol, shingleSize)
    val occ = sh.select(col(idCol), explode(col("sh")).as("h"))
    val docFreq = occ.groupBy("h").agg(count(lit(1)).as("__df"))
    val out = occ.join(docFreq, Seq("h"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__df") >= 2, 1L).otherwise(0L)).as("n_duplicated"),
        round(sum(when(col("__df") >= 2, 1.0).otherwise(0.0)) * lit(100.0)
          / count(lit(1)), 4).as("dup_pct"))
    if (fresh) finish(out, sh) else finish(out)
  }

  /** Incremental exact dedup of a new batch against an already-indexed
    * corpus via a Bloom-filter pre-filter (Bloom 1970; the same sketch
    * Spark's runtime-filter join pruning uses): the indexed side is
    * reduced to ONE compact bit-array (`DataFrameStatFunctions
    * .bloomFilter`, a distributed treeAggregate — the corpus is
    * scanned once and never shuffled), broadcast to every executor,
    * and the batch splits on `mightContain`:
    *
    *  - bloom-NEGATIVE rows are DEFINITELY new (a Bloom filter has no
    *    false negatives) and pass through with zero join work;
    *  - bloom-POSITIVE rows — the true duplicates plus an fpp-sized
    *    sliver of false positives — alone pay the exact left-anti
    *    join against the indexed keys.
    *
    * The result is EXACT for every `fpp` — value-identical to
    * `batch WHERE key NOT IN (SELECT key FROM indexed)` (null keys
    * behave like Spark's anti join: they match nothing, so they are
    * kept) — the sketch only decides how much of the batch the verify
    * join sees. At 100 TB this turns daily-batch dedup from a
    * corpus × batch shuffle into one corpus scan plus a join whose
    * batch side is ~ dup_rate + fpp of the batch; the verify join's
    * indexed side is additionally pruned at runtime by Spark's own
    * bloom-filter join filter (default-enabled since Spark 3.4;
    * plan shape spec-proven in OperatorSpec), so
    * shuffled bytes on BOTH sides track the suspected count, not the
    * corpus. Driver memory holds the one sketch: ~1.2 GB per billion
    * keys at fpp 0.01, linear in `expectedItems` — beyond that, shard
    * the call by a key prefix (k independent bloom passes) before
    * reaching for a distributed membership join.
    *
    * `expectedItems` sizes the sketch without a counting pass (pass
    * the indexed corpus's known row count; an UNDER-estimate degrades
    * fpp — more rows pay the verify join — but never correctness);
    * `expectedItems <= 0` counts the indexed side first.
    */
  def bloomNewRows(indexed: DataFrame, batch: DataFrame, contentKey: Column,
      expectedItems: Long = 0L, fpp: Double = 0.01): DataFrame = {
    // null indexed keys can never match (anti-join semantics) and
    // would NPE the sketch build — drop them before either pass
    val keys = indexed.select(contentKey.cast("string").as("__bk"))
      .where(col("__bk").isNotNull)
    val n = if (expectedItems > 0L) expectedItems else math.max(keys.count(), 1L)
    val bloom = keys.stat.bloomFilter("__bk", n, fpp)
    val bc = batch.sparkSession.sparkContext.broadcast(bloom)
    // one virtual call per batch row; the scalar pre-filter stage is
    // the only non-codegen hop in the operator and it runs before any
    // shuffle, so it never widens an exchange
    val might = udf((k: String) => k != null && bc.value.mightContainString(k))
    val keyed = batch.withColumn("__bk", contentKey.cast("string"))
    val definiteNew = keyed.filter(col("__bk").isNull || !might(col("__bk")))
    val suspected = keyed.filter(col("__bk").isNotNull && might(col("__bk")))
      .join(keys, Seq("__bk"), "left_anti")
    definiteNew.unionByName(suspected).drop("__bk")
  }
}

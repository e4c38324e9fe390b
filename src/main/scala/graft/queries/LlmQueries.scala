package graft.queries

import graft.{Q, Tables}
import graft.functions.TextFunctions._
import graft.operators.{CorpusPipeline, Dedup, HeavyHitters, LangModel, Multimodal,
  Packing, Quality, Sampling, Similarity, Stats, Tfidf, Tokenizer}
import org.apache.spark.sql.functions._

/** Training-data-pipeline operator coverage (dedup, similarity, text
  * analysis, multimodal plumbing) declared over the `documents` /
  * `embeddings` testdata, each with a full DuckDB oracle — every hash
  * in these pipelines is md5-derived precisely so the oracle can
  * reproduce LSH/minhash/simhash value-for-value (murmur/xxhash64
  * would make the whole family uncheckable).
  */
object LlmQueries {

  /** Staging ground for queries that must round-trip through real
    * files (streaming sources, the JSONL ingest, the IVF store). Every
    * dir is registered for deletion at JVM exit, so repeated bench/
    * correctness runs can't accumulate corpus copies on disk; queries
    * whose file lifetime ends inside the query body (a terminated
    * AvailableNow stream) additionally call [[dropStaging]] eagerly.
    * Dirs read LAZILY by the returned frame (q96's JSONL, q97's
    * parquet store) rely on the exit hook alone — eager deletion
    * there would race the driver's materialization of the result. */
  private val stagingDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      stagingDirs.forEach(d => dropStaging(d))
    }, "graft-staging-cleanup"))
  }

  private def stagingDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    stagingDirs.add(d)
    d
  }

  /** Best-effort recursive delete of a [[stagingDir]]; idempotent.
    * The walk stream is closed via `Using` (the API requires
    * try-with-resources), and `UncheckedIOException` — what
    * `Files.walk` actually throws mid-traversal — is swallowed
    * alongside `IOException` so one bad dir can't abort the shutdown
    * hook's cleanup of the remaining registered dirs. */
  private def dropStaging(dir: String): Unit = {
    stagingDirs.remove(dir)
    try {
      import java.nio.file.{Files, Paths}
      import scala.jdk.CollectionConverters._
      val root = Paths.get(dir)
      if (Files.exists(root))
        scala.util.Using.resource(Files.walk(root)) { walk =>
          walk.iterator().asScala.toSeq.reverseIterator
            .foreach(p => Files.deleteIfExists(p))
        }
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException => ()
    }
  }

  /** q25 — exact dedup (hash-groupBy, min-id survivor): duplicates are
    * planted by re-keying every 7th doc, the survivor set must be
    * exactly the originals. One uniform-hash shuffle; no driver state. */
  private val q25 = Q("q25_exact_dedup",
    (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text", "source")
      val dups = docs.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 10000)
      val all = docs.unionByName(dups).withColumn("fp", fingerprint(col("text")))
      Dedup.exactByKey(all, col("fp"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_survivors"), sum("doc_id").as("sum_ids"),
          countDistinct("fp").as("n_fp"))
        .orderBy("source")
    },
    Some("""WITH all_docs AS (
              SELECT doc_id, text, source FROM documents
              UNION ALL
              SELECT doc_id + 10000, text, source FROM documents WHERE doc_id % 7 = 0),
            keyed AS (SELECT doc_id, source, substr(md5(lower(trim(text))), 1, 16) AS fp
                      FROM all_docs),
            surv AS (SELECT fp, min(doc_id) AS doc_id FROM keyed GROUP BY 1),
            kept AS (SELECT k.* FROM keyed k
                     JOIN surv s ON k.fp = s.fp AND k.doc_id = s.doc_id)
            SELECT source, count(*) AS n_survivors,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   count(DISTINCT fp) AS n_fp
            FROM kept GROUP BY 1 ORDER BY 1"""))

  /** q26 — text analysis per document (token counts incl. BPE-ish
    * regex, type-token ratio, punctuation share, composite quality,
    * n-gram-heuristic language ID, content fingerprint). All pure
    * codegen'd expressions — one map pass, no shuffle at any scale. */
  private val q26 = Q("q26_text_quality",
    (s, d) => {
      val t = col("text")
      Tables.documents(s, d)
        .filter(col("doc_id") < 60)
        .select(col("doc_id"),
          tokenCount(t).cast("long").as("token_cnt"),
          regexp_count(t, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast("long").as("bpe_cnt"),
          round(typeTokenRatio(t), 6).as("ttr"),
          round(punctRatio(t), 6).as("punct_ratio"),
          round(qualityScore(t), 6).as("quality"),
          langId(t).as("lang_pred"),
          fingerprint(t).as("fp"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
            CAST(len(str_split(text, ' ')) AS BIGINT) AS token_cnt,
            CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_cnt,
            round(len(list_distinct(str_split(text, ' '))) * 1.0 / len(str_split(text, ' ')), 6) AS ttr,
            round(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) * 1.0 / greatest(length(text), 1), 6) AS punct_ratio,
            round(least(len(str_split(text, ' ')) / 60.0, 1.0) * 0.4
                + (len(list_distinct(str_split(text, ' '))) * 1.0 / len(str_split(text, ' '))) * 0.3
                + (1.0 - length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) * 1.0 / greatest(length(text), 1)) * 0.3,
                6) AS quality,
            CASE WHEN s_en = best AND best > 0 THEN 'en'
                 WHEN s_de = best AND best > 0 THEN 'de'
                 WHEN s_es = best AND best > 0 THEN 'es'
                 WHEN s_fr = best AND best > 0 THEN 'fr'
                 ELSE 'und' END AS lang_pred,
            substr(md5(lower(trim(text))), 1, 16) AS fp
            FROM (SELECT *,
                    len(regexp_extract_all(text, '\b(the|a|and|of|to)\b')) AS s_en,
                    len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b')) AS s_de,
                    len(regexp_extract_all(text, '\b(el|la|los|y|es)\b')) AS s_es,
                    len(regexp_extract_all(text, '\b(le|la|les|et|est)\b')) AS s_fr,
                    greatest(len(regexp_extract_all(text, '\b(the|a|and|of|to)\b')),
                             len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b')),
                             len(regexp_extract_all(text, '\b(el|la|los|y|es)\b')),
                             len(regexp_extract_all(text, '\b(le|la|les|et|est)\b'))) AS best
                  FROM documents WHERE doc_id < 60)
            ORDER BY doc_id"""))

  /** q27 — SimHash fingerprints (48-bit majority-vote signatures as 48
    * conditional aggregates in one groupBy pass). Values checked
    * bit-for-bit against the oracle's recomputation. */
  private val q27 = Q("q27_simhash",
    (s, d) => {
      Dedup.simhash(Tables.documents(s, d).filter(col("doc_id") < 100),
          "doc_id", "text", bits = 48)
        .orderBy("doc_id")
    },
    Some("""WITH hv AS (
              SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS hv
              FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS w
                    FROM documents WHERE doc_id < 100)),
            bits AS (
              SELECT doc_id, j,
                     sum(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
              FROM hv, (SELECT unnest(generate_series(0, 47)) AS j)
              GROUP BY 1, 2),
            sig AS (
              SELECT doc_id,
                     CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j)
                              ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
              FROM bits GROUP BY 1)
            SELECT doc_id, simhash FROM sig ORDER BY doc_id"""))

  /** q28 — MinHash + LSH near-duplicate pairs (shingle → one md5 per
    * shingle → 64 affine-multiplier minhashes as min() aggregates → 16
    * banded buckets → bucket-join candidates → exact Jaccard verify at
    * 0.5). The oracle re-derives the multiplier family from md5("A|i")
    * and replays the identical pipeline — including the degenerate-
    * bucket cap — so both the recall of the banding AND the verify
    * values must match. */
  private val q28 = Q("q28_minhash_lsh",
    (s, d) => {
      Dedup.minhashLsh(Tables.documents(s, d), "doc_id", "text",
          shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5,
          bucketCap = 10000)
        .orderBy("doc_id_1", "doc_id_2")
    },
    Some("""WITH shs AS (
              SELECT doc_id, list_distinct(list_transform(generate_series(1, len(ws) - 2),
                     i -> array_to_string(list_slice(ws, i, i + 2), ' '))) AS shs
              FROM (SELECT doc_id, str_split(text, ' ') AS ws FROM documents)
              WHERE len(ws) >= 3),
            sh AS (
              SELECT doc_id, list_transform(shs,
                     s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS sh
              FROM shs),
            consts AS (
              SELECT i,
                     (2 * CAST(('0x' || substr(md5('A|' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT) + 1)
                       & ((CAST(1 AS BIGINT) << 60) - 1) AS a
              FROM (SELECT unnest(generate_series(0, 63)) AS i)),
            hv AS (
              SELECT doc_id, unnest(sh) AS h FROM sh),
            mins AS (
              SELECT doc_id, i,
                     min(((a & 1073741823) * (h & 1073741823)
                          + (((a & 1073741823) * (h >> 30) + (a >> 30) * (h & 1073741823))
                             & 1073741823) * (CAST(1 AS BIGINT) << 30))
                         & ((CAST(1 AS BIGINT) << 60) - 1)) AS m
              FROM hv CROSS JOIN consts GROUP BY 1, 2),
            buckets AS (
              SELECT doc_id, i // 4 AS b,
                     CAST(('0x' || substr(md5(
                       string_agg(CAST(m AS VARCHAR), ',' ORDER BY i)), 1, 15))
                       AS BIGINT) AS bucket
              FROM mins GROUP BY 1, 2),
            bsz AS (
              SELECT b, bucket FROM buckets
              GROUP BY 1, 2 HAVING count(*) <= 10000),
            cand AS (
              SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
              FROM buckets a
              JOIN bsz USING (b, bucket)
              JOIN buckets c
                ON a.b = c.b AND a.bucket = c.bucket AND a.doc_id < c.doc_id),
            j AS (
              SELECT d1 AS doc_id_1, d2 AS doc_id_2,
                     round(len(list_intersect(x.sh, y.sh)) * 1.0 /
                           (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 4) AS jaccard
              FROM cand JOIN sh x ON x.doc_id = d1 JOIN sh y ON y.doc_id = d2)
            SELECT doc_id_1, doc_id_2, jaccard FROM j
            WHERE jaccard >= 0.5 ORDER BY doc_id_1, doc_id_2"""))

  /** q75 — INCREMENTAL MinHash+LSH mining ([[Dedup.minhashLshAppend]]):
    * docs < 400 are the already-loaded corpus (indexed once via
    * [[Dedup.minhashIndex]]), docs ≥ 400 the appended batch; only
    * pairs touching the batch are mined — the indexed×indexed work is
    * never re-run (at 100 TB: a re-audit after an append costs the
    * append, not the corpus). The oracle replays the FULL minhash
    * pipeline over the union and restricts to pairs touching the new
    * batch — so the incremental path must reproduce the full
    * recompute's pairs and verified jaccard values exactly (the
    * decomposition contract PipelineReuseSpec pins batch-by-batch). */
  private val q75 = Q("q75_minhash_lsh_append",
    (s, d) => {
      val docs = Tables.documents(s, d)
      // 32 hashes / 16 bands (2-row bands): recall at the 0.5
      // threshold is 1-(1-j²)^16 ≈ 0.99, and halving the signature
      // width halves the planning+codegen cost of the operator's
      // biggest plan — the append's cost is fixed-overhead-dominated
      // at bench scale (see README)
      val idx = Dedup.minhashIndex(docs.filter(col("doc_id") < 400),
        "doc_id", "text", shingleSize = 3, numHashes = 32, bands = 16)
      try Dedup.minhashLshAppend(idx, docs.filter(col("doc_id") >= 400),
          "text", threshold = 0.5)
        .orderBy("doc_id_1", "doc_id_2")
      finally idx.release()
    },
    Some("""WITH shs AS (
              SELECT doc_id, list_distinct(list_transform(generate_series(1, len(ws) - 2),
                     i -> array_to_string(list_slice(ws, i, i + 2), ' '))) AS shs
              FROM (SELECT doc_id, str_split(text, ' ') AS ws FROM documents)
              WHERE len(ws) >= 3),
            sh AS (
              SELECT doc_id, list_transform(shs,
                     s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS sh
              FROM shs),
            consts AS (
              SELECT i,
                     (2 * CAST(('0x' || substr(md5('A|' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT) + 1)
                       & ((CAST(1 AS BIGINT) << 60) - 1) AS a
              FROM (SELECT unnest(generate_series(0, 31)) AS i)),
            hv AS (
              SELECT doc_id, unnest(sh) AS h FROM sh),
            mins AS (
              SELECT doc_id, i,
                     min(((a & 1073741823) * (h & 1073741823)
                          + (((a & 1073741823) * (h >> 30) + (a >> 30) * (h & 1073741823))
                             & 1073741823) * (CAST(1 AS BIGINT) << 30))
                         & ((CAST(1 AS BIGINT) << 60) - 1)) AS m
              FROM hv CROSS JOIN consts GROUP BY 1, 2),
            buckets AS (
              SELECT doc_id, i // 2 AS b,
                     CAST(('0x' || substr(md5(
                       string_agg(CAST(m AS VARCHAR), ',' ORDER BY i)), 1, 15))
                       AS BIGINT) AS bucket
              FROM mins GROUP BY 1, 2),
            cand AS (
              SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
              FROM buckets a
              JOIN buckets c
                ON a.b = c.b AND a.bucket = c.bucket AND a.doc_id < c.doc_id
              WHERE a.doc_id >= 400 OR c.doc_id >= 400),
            j AS (
              SELECT d1 AS doc_id_1, d2 AS doc_id_2,
                     round(len(list_intersect(x.sh, y.sh)) * 1.0 /
                           (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 4) AS jaccard
              FROM cand JOIN sh x ON x.doc_id = d1 JOIN sh y ON y.doc_id = d2)
            SELECT doc_id_1, doc_id_2, jaccard FROM j
            WHERE jaccard >= 0.5 ORDER BY doc_id_1, doc_id_2"""))

  /** q29 — exact brute-force cosine top-k (the ANN baseline): 10 query
    * vectors broadcast against the corpus, per-query top-5 via a
    * k-limiting window (no global sort). */
  private val q29 = Q("q29_topk_cosine",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
        .orderBy("qid", "rank")
    },
    Some("""SELECT qid, rank, nid, round(cos, 6) AS cosine FROM (
              SELECT qid, nid, cos,
                     row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
              FROM (SELECT q.vec_id AS qid, n.vec_id AS nid,
                           list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                  CAST(n.embedding AS DOUBLE[])) AS cos
                    FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
                    WHERE q.vec_id < 10))
            WHERE rank <= 5 ORDER BY qid, rank"""))

  /** q30 — IVF ANN top-k: build-once cell assignment (10 deterministic
    * sample centroids) + nProbe=3 probing. At scale the assignment is
    * persisted partitionBy(cell) and probed through
    * [[graft.operators.Similarity.ivfTopKFromStore]] (planning-time
    * cell pruning — OperatorSpec proves the PartitionFilters); here it
    * feeds the probe directly so the oracle can replay it. */
  private val q30 = Q("q30_ivf_topk",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val centroids = Similarity.sampleCentroids(emb, 50)
      val assigned = Similarity.assignCells(emb, centroids, "nid", "ne", "cell", 1)
      Similarity.ivfTopK(assigned, emb.filter(col("vec_id") < 10), centroids,
          k = 5, nProbe = 3)
        .orderBy("qid", "rank")
    },
    Some("""WITH cent AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
                          FROM embeddings WHERE vec_id % 50 = 0),
            corpus AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS ne FROM embeddings),
            acell AS (SELECT nid, ne, cell FROM (
                        SELECT nid, ne, cid AS cell,
                               row_number() OVER (PARTITION BY nid
                                 ORDER BY list_cosine_similarity(ne, ce) DESC, cid ASC) AS rn
                        FROM corpus CROSS JOIN cent) WHERE rn = 1),
            q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
                  FROM embeddings WHERE vec_id < 10),
            probes AS (SELECT qid, qe, probe_cell FROM (
                         SELECT qid, qe, cid AS probe_cell,
                                row_number() OVER (PARTITION BY qid
                                  ORDER BY list_cosine_similarity(qe, ce) DESC, cid ASC) AS rn
                         FROM q CROSS JOIN cent) WHERE rn <= 3),
            scored AS (SELECT qid, nid, list_cosine_similarity(qe, ne) AS cos
                       FROM probes JOIN acell ON probe_cell = cell AND qid <> nid)
            SELECT qid, rank, nid, round(cos, 6) AS cosine FROM (
              SELECT qid, nid, cos,
                     row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
              FROM scored)
            WHERE rank <= 5 ORDER BY qid, rank"""))

  /** q31 — embedding-cosine near-dup pairs, cell-bucketed (multi-probe
    * 2): pairs form only within shared IVF cells — never the N²
    * product — then exact cosine thresholds at 0.25. */
  private val q31 = Q("q31_embedding_near_dups",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.nearDupPairs(emb, Similarity.sampleCentroids(emb, 50),
          threshold = 0.25, nProbe = 2)
        .orderBy("vec_id_1", "vec_id_2")
    },
    Some("""WITH cent AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
                          FROM embeddings WHERE vec_id % 50 = 0),
            corpus AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
            acell AS (SELECT vid, ve, cell FROM (
                        SELECT vid, ve, cid AS cell,
                               row_number() OVER (PARTITION BY vid
                                 ORDER BY list_cosine_similarity(ve, ce) DESC, cid ASC) AS rn
                        FROM corpus CROSS JOIN cent) WHERE rn <= 2),
            pairs AS (SELECT DISTINCT a.vid AS vec_id_1, b.vid AS vec_id_2
                      FROM acell a JOIN acell b
                        ON a.cell = b.cell AND a.vid < b.vid),
            scored AS (SELECT vec_id_1, vec_id_2,
                              round(list_cosine_similarity(x.ve, y.ve), 6) AS cosine
                       FROM pairs
                       JOIN corpus x ON x.vid = vec_id_1
                       JOIN corpus y ON y.vid = vec_id_2)
            SELECT vec_id_1, vec_id_2, cosine FROM scored
            WHERE cosine >= 0.25 ORDER BY vec_id_1, vec_id_2"""))

  /** q32 — multimodal plumbing: documents lifted to binary payload +
    * typed metadata, batch-decoded in mapPartitions (stub decoder with
    * per-partition init), rolled up per source. The oracle checks the
    * full path — payload bytes, md5-derived fake dimensions, checksum,
    * frame-sampler arithmetic — end to end. */
  private val q32 = Q("q32_multimodal_decode",
    (s, d) => {
      val media = Multimodal.toMedia(Tables.documents(s, d))
      Multimodal.decodeFeatures(media, frameStride = 64).toDF()
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum("byte_len").as("total_bytes"),
          min("fake_w").as("min_w"), max("fake_h").as("max_h"),
          countDistinct("checksum").as("n_checksums"),
          sum("n_frames").as("n_frames"))
        .orderBy("source")
    },
    Some("""SELECT source, count(*) AS n,
            CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
            min(1 + CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 1920) AS min_w,
            max(1 + CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 1080) AS max_h,
            count(DISTINCT substr(md5(text), 1, 16)) AS n_checksums,
            CAST(sum((octet_length(encode(text)) + 63) // 64) AS BIGINT) AS n_frames
            FROM documents GROUP BY 1 ORDER BY 1"""))

  /** q33 — exact n-gram Jaccard near-dup pairs via inverted shingle
    * index with a document-frequency cap on candidate shingles (the
    * stopword-shingle scale guard, with the rarest-shingle fallback
    * guaranteeing every doc one index entry) plus PPJoin prefix
    * filtering, threshold 0.5.
    *
    * ORACLE-INDEPENDENCE NOTE: the SQL below replays the engine's
    * ε-slack prefix rule (`ceil((0.5 − 0.0001)·sz)`) in LOCKSTEP
    * with [[graft.operators.Dedup.ngramJaccardPairsPlan]] — so this
    * oracle verifies the verify-join and output shape but CANNOT
    * catch a candidate-generation recall bug (both sides would drop
    * the same pairs and hash-match). The independent recall gate is
    * OperatorSpec's brute-force all-pairs property test;
    * OracleIndependenceSpec greps the two formulas into parity. Any
    * lockstep edit must land with that gate in step. */
  private val q33 = Q("q33_ngram_jaccard",
    (s, d) => {
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
          shingleSize = 3, threshold = 0.5, dfCap = 100)
        .orderBy("doc_id_1", "doc_id_2")
    },
    Some("""WITH shs AS (
              SELECT doc_id, list_distinct(list_transform(generate_series(1, len(ws) - 2),
                     i -> array_to_string(list_slice(ws, i, i + 2), ' '))) AS shs
              FROM (SELECT doc_id, str_split(text, ' ') AS ws FROM documents)
              WHERE len(ws) >= 3),
            sh AS (
              SELECT doc_id, list_transform(shs,
                     s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS sh
              FROM shs),
            inv AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM sh),
            dfc AS (SELECT s, count(*) AS df FROM inv GROUP BY 1),
            pref AS (SELECT doc_id, s FROM (
                       SELECT i.doc_id, i.sz, i.s, d.df,
                              row_number() OVER (PARTITION BY i.doc_id ORDER BY d.df, i.s) AS rn
                       FROM inv i JOIN dfc d USING (s))
                     WHERE (df <= 100 AND rn <= sz - ceil((0.5 - 0.0001) * sz) + 1) OR rn = 1),
            cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                     FROM pref a JOIN pref b ON a.s = b.s AND a.doc_id < b.doc_id),
            j AS (SELECT d1 AS doc_id_1, d2 AS doc_id_2,
                         round(len(list_intersect(x.sh, y.sh)) * 1.0 /
                               (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 4) AS jaccard
                  FROM cand JOIN sh x ON x.doc_id = d1 JOIN sh y ON y.doc_id = d2)
            SELECT doc_id_1, doc_id_2, jaccard FROM j
            WHERE jaccard >= 0.5 ORDER BY doc_id_1, doc_id_2"""))

  /** q40 — simhash hamming-LSH near-dup pairs: pigeonhole banding
    * (4 chunks of 12 bits ⇒ full recall at hamming ≤ 3) + exact
    * bit_count(xor) verify. Duplicates planted by re-keying every 9th
    * doc guarantee hamming-0 pairs; organic near-dups may add more.
    * The oracle replays signature, banding, and verify end to end. */
  private val q40 = Q("q40_simhash_near_dups",
    (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val dups = docs.filter(col("doc_id") % 9 === 0)
        .withColumn("doc_id", col("doc_id") + 20000)
      Dedup.simhashNearDupPairs(docs.unionByName(dups), "doc_id", "text",
          bits = 48, maxHamming = 3)
        .orderBy("doc_id_1", "doc_id_2")
    },
    Some("""WITH all_docs AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 20000, text FROM documents WHERE doc_id % 9 = 0),
            hv AS (
              SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS hv
              FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM all_docs)),
            bits AS (
              SELECT doc_id, j,
                     sum(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
              FROM hv, (SELECT unnest(generate_series(0, 47)) AS j)
              GROUP BY 1, 2),
            sig AS (
              SELECT doc_id,
                     CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j)
                              ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
              FROM bits GROUP BY 1),
            chunks AS (
              SELECT doc_id, simhash, b,
                     (simhash >> (b * 12)) & 4095 AS chunk
              FROM sig, (SELECT unnest(generate_series(0, 3)) AS b)),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_id_1, a.simhash AS s1,
                              c.doc_id AS doc_id_2, c.simhash AS s2
              FROM chunks a JOIN chunks c
                ON a.b = c.b AND a.chunk = c.chunk AND a.doc_id < c.doc_id)
            SELECT doc_id_1, doc_id_2,
                   CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hamming
            FROM cand WHERE bit_count(xor(s1, s2)) <= 3
            ORDER BY doc_id_1, doc_id_2"""))

  /** q49 — near-duplicate CLUSTERS: the q40 simhash pair list chained
    * into connected components (min-label propagation; the oracle
    * replays the closure with a recursive CTE) and rolled up per
    * cluster. This is the step that makes pair mining actionable —
    * survivor selection must keep one doc per CLUSTER, not per pair,
    * or chains over-delete. Planted dups (every 9th doc re-keyed)
    * guarantee 2-doc clusters; organic near-dup chains may merge
    * larger ones. */
  private val q49 = Q("q49_near_dup_clusters",
    (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val dups = docs.filter(col("doc_id") % 9 === 0)
        .withColumn("doc_id", col("doc_id") + 20000)
      val pairs = Dedup.simhashNearDupPairs(docs.unionByName(dups), "doc_id", "text",
        bits = 48, maxHamming = 3)
      Dedup.connectedComponents(pairs)
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_docs"), sum("id").as("sum_ids"))
        .orderBy("cluster_id")
    },
    Some("""WITH RECURSIVE all_docs AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 20000, text FROM documents WHERE doc_id % 9 = 0),
            hv AS (
              SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS hv
              FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM all_docs)),
            bits AS (
              SELECT doc_id, j,
                     sum(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
              FROM hv, (SELECT unnest(generate_series(0, 47)) AS j)
              GROUP BY 1, 2),
            sig AS (
              SELECT doc_id,
                     CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j)
                              ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
              FROM bits GROUP BY 1),
            chunks AS (
              SELECT doc_id, simhash, b,
                     (simhash >> (b * 12)) & 4095 AS chunk
              FROM sig, (SELECT unnest(generate_series(0, 3)) AS b)),
            cand AS (
              SELECT DISTINCT a.doc_id AS d1, a.simhash AS s1,
                              c.doc_id AS d2, c.simhash AS s2
              FROM chunks a JOIN chunks c
                ON a.b = c.b AND a.chunk = c.chunk AND a.doc_id < c.doc_id),
            pairs AS (
              SELECT d1, d2 FROM cand WHERE bit_count(xor(s1, s2)) <= 3),
            edges AS (SELECT d1 AS a, d2 AS b FROM pairs
                      UNION ALL SELECT d2, d1 FROM pairs),
            nodes AS (SELECT DISTINCT a AS id FROM edges),
            reach(id, r) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id),
            lbl AS (SELECT id, min(r) AS label FROM reach GROUP BY id)
            SELECT label AS cluster_id, count(*) AS n_docs,
                   CAST(sum(id) AS BIGINT) AS sum_ids
            FROM lbl GROUP BY 1 ORDER BY 1"""))

  /** q41 — winnowing fingerprints (k=3, w=4) rolled up per document:
    * fingerprint count, min, and a bounded checksum (sum of mod-1e6
    * residues — a sum of raw 60-bit values would overflow BIGINT on
    * both engines). The oracle replays shingle-hash → window-min →
    * distinct exactly. */
  private val q41 = Q("q41_winnowing",
    (s, d) => {
      Dedup.winnowingFingerprints(
          Tables.documents(s, d).filter(col("doc_id") < 200), "doc_id", "text",
          k = 3, w = 4)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_fps"),
          min("fp").as("min_fp"),
          sum(pmod(col("fp"), lit(1000003L))).as("fp_checksum"))
        .orderBy("doc_id")
    },
    Some("""WITH ws AS (
              SELECT doc_id, str_split(text, ' ') AS ws
              FROM documents WHERE doc_id < 200),
            hs AS (
              SELECT doc_id, list_transform(generate_series(1, len(ws) - 2),
                     i -> CAST(('0x' || substr(md5(array_to_string(
                            list_slice(ws, i, i + 2), ' ')), 1, 15)) AS BIGINT)) AS hs
              FROM ws WHERE len(ws) >= 3),
            fps AS (
              SELECT DISTINCT doc_id,
                     list_aggregate(list_slice(hs, p, p + 3), 'min') AS fp
              FROM hs, LATERAL (SELECT unnest(generate_series(1, len(hs) - 3)) AS p))
            SELECT doc_id, count(*) AS n_fps,
                   min(fp) AS min_fp,
                   CAST(sum(fp % 1000003) AS BIGINT) AS fp_checksum
            FROM fps GROUP BY 1 ORDER BY 1"""))

  /** q42 — exact euclidean top-k (ascending): the L2 twin of q29,
    * scored by the native fused-loop expression, verified against
    * DuckDB's list_distance value-for-value. */
  private val q42 = Q("q42_topk_l2",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopKL2(emb, emb.filter(col("vec_id") < 10), k = 5)
        .orderBy("qid", "rank")
    },
    Some("""SELECT qid, rank, nid, round(dist, 6) AS distance FROM (
              SELECT qid, nid, dist,
                     row_number() OVER (PARTITION BY qid ORDER BY dist ASC, nid ASC) AS rank
              FROM (SELECT q.vec_id AS qid, n.vec_id AS nid,
                           list_distance(CAST(q.embedding AS DOUBLE[]),
                                         CAST(n.embedding AS DOUBLE[])) AS dist
                    FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
                    WHERE q.vec_id < 10))
            WHERE rank <= 5 ORDER BY qid, rank"""))

  /** q43 — tumbling event-time windows over the events stream shape
    * (batch run of [[graft.streaming.EventStream.tumblingCounts]]'s
    * aggregation; the streaming execution of the same code is proven
    * equivalent in EventStreamSpec). Declared here so the windowed-agg
    * operator itself sits under the driver's oracle gate. */
  private val q43 = Q("q43_event_windows",
    (s, d) => {
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum("value"), 2).as("total_value"),
          round(max("value"), 2).as("max_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"), col("total_value"), col("max_value"))
        .orderBy("window_start", "event_type")
    },
    Some("""SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
            event_type, count(*) AS n,
            round(sum(value), 2) AS total_value,
            round(max(value), 2) AS max_value
            FROM events
            GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** q47 — session windows (gap-based) over the events stream shape:
    * Spark's session_window merges an event iff it lands strictly
    * before the previous event's ts + gap, so the oracle's gap-island
    * detection starts a new session on diff >= gap (a >-comparison
    * would disagree on exact-boundary gaps). Same code shape as the
    * streaming sessionizer, here under the batch oracle gate. */
  private val q47 = Q("q47_session_windows",
    (s, d) => {
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          col("user_id"), col("n_events"), col("total_value"))
        .orderBy("user_id", "session_start")
    },
    Some("""WITH e AS (
              SELECT user_id, ts, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                          THEN 1 ELSE 0 END AS new_s
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            sess AS (
              SELECT user_id, ts, value,
                     sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM e)
            SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                   user_id, count(*) AS n_events,
                   round(sum(value), 2) AS total_value
            FROM sess GROUP BY user_id, sid
            ORDER BY user_id, session_start"""))

  /** q50 — exact stratified sample (5 docs per source, ranked by
    * md5-of-key): deterministic, engine-replayable sampling. The
    * rank ≤ n filter plans as WindowGroupLimit, so each map partition
    * ships only its local top-n per stratum — skewed strata cost what
    * balanced ones do (OperatorSpec asserts the plan shape). */
  private val q50 = Q("q50_stratified_sample",
    (s, d) => {
      Sampling.stratifiedSample(Tables.documents(s, d),
          col("source"), col("doc_id"), n = 5)
        .select("source", "sample_rank", "doc_id")
        .orderBy("source", "sample_rank")
    },
    Some("""SELECT source, sample_rank, doc_id FROM (
              SELECT source, doc_id,
                     row_number() OVER (PARTITION BY source
                       ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
                                doc_id) AS sample_rank
              FROM documents)
            WHERE sample_rank <= 5 ORDER BY source, sample_rank"""))

  /** q51 — deterministic hash sampling at rate 0.25 (keep iff the
    * 60-bit md5 of the key < 0.25·2^60 = 2^58): a pure codegen'd
    * filter — no shuffle, no RNG, identical membership on every run
    * and engine, rolled up per segment to hash-check the exact
    * member set. */
  private val q51 = Q("q51_hash_sample",
    (s, d) => {
      Sampling.hashSample(Tables.customer(s, d), col("c_custkey"), 0.25)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), round(sum("c_acctbal"), 2).as("sum_bal"))
        .orderBy("c_mktsegment")
    },
    Some("""SELECT c_mktsegment, count(*) AS n,
                   round(sum(c_acctbal), 2) AS sum_bal
            FROM customer
            WHERE CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
                  < 288230376151711744
            GROUP BY 1 ORDER BY 1"""))

  /** q52 — token-budget sequence packing (greedy next-fit within
    * PINNED md5-mod buckets; [[graft.operators.Packing]]), reported
    * per pack. Bucket membership and in-bucket order are pure
    * functions of md5(doc_id), so the oracle replays the whole fold:
    * the same buckets, the same order, and the greedy next-fit walked
    * row-by-row with a recursive CTE — pack ids, membership, and
    * token fills are value-checked, not rows-only. */
  private val q52 = Q("q52_sequence_packing",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), tokenCount(col("text")).cast("long").as("n_tokens"))
      Packing.packSequences(docs, "doc_id", "n_tokens", budget = 512, nBuckets = 64)
        .groupBy("pack_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("pack_tokens"))
        .orderBy("pack_id")
    },
    Some("""WITH RECURSIVE t AS (
              SELECT doc_id,
                     CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
              FROM documents),
            b AS (
              SELECT doc_id, n_tokens, h % 64 AS bucket,
                     row_number() OVER (PARTITION BY h % 64 ORDER BY h, doc_id) AS rn
              FROM t),
            walk(bucket, rn, n_tokens, pack_seq, fill) AS (
              SELECT bucket, rn, n_tokens, CAST(0 AS BIGINT), n_tokens
              FROM b WHERE rn = 1
              UNION ALL
              SELECT b.bucket, b.rn, b.n_tokens,
                     CASE WHEN w.fill + b.n_tokens > 512
                          THEN w.pack_seq + 1 ELSE w.pack_seq END,
                     CASE WHEN w.fill + b.n_tokens > 512
                          THEN b.n_tokens ELSE w.fill + b.n_tokens END
              FROM walk w JOIN b ON b.bucket = w.bucket AND b.rn = w.rn + 1)
            SELECT bucket * 1099511627776 + pack_seq AS pack_id,
                   count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
            FROM walk GROUP BY 1 ORDER BY 1"""))

  /** q76 — sliding-window document chunking
    * ([[graft.operators.Packing.chunkDocuments]]): 64-token windows
    * striding by 48 (16-token overlap). Packing's complement for
    * OVER-long documents; one map pass, zero shuffles at any scale.
    * Chunk membership is a pure per-row function, so the oracle
    * replays every window bound, token count, and the chunk text
    * itself value-for-value. */
  private val q76 = Q("q76_chunk_documents",
    (s, d) => {
      Packing.chunkDocuments(Tables.documents(s, d).select("doc_id", "text"),
          "text", maxTokens = 64, overlap = 16)
        .select(col("doc_id"), col("chunk_id"), col("n_tokens"), col("chunk_text"))
        .orderBy("doc_id", "chunk_id")
    },
    Some("""WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
            n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t),
            c AS (SELECT doc_id, toks, n,
                         CASE WHEN n <= 64 THEN 1
                              ELSE CAST(ceil((n - 64) / 48.0) AS BIGINT) + 1 END AS k
                  FROM n),
            e AS (SELECT doc_id, toks, n,
                         unnest(generate_series(0, k - 1)) AS chunk_id
                  FROM c)
            SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
                   CAST(least(chunk_id * 48 + 64, n) - chunk_id * 48 AS BIGINT) AS n_tokens,
                   array_to_string(list_slice(toks, chunk_id * 48 + 1,
                                              least(chunk_id * 48 + 64, n)), ' ') AS chunk_text
            FROM e ORDER BY doc_id, chunk_id"""))

  /** q77 — temperature-flattened mixture sampling
    * ([[graft.operators.Sampling.temperatureMixture]], alpha = 0.5):
    * rates derived from stratum sizes so sample shares track
    * `n^alpha`, over a deliberately SKEWED derived stratum (the
    * testdata's sources are uniform, which would degenerate every
    * rate to `frac`). The oracle recomputes the weights, the
    * source-ordered weight sum, the exact rate expression, and the
    * md5 draws — the whole derivation replays value-for-value. */
  private val q77 = Q("q77_temperature_mixture",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("bucket",
          when(col("doc_id") % 4 === 0, lit("minor")).otherwise(lit("major")))
      val (sampled, rates) = Sampling.temperatureMixture(
        docs, col("bucket"), col("doc_id"), alpha = 0.5, frac = 0.5)
      val rateCol = rates.toSeq.sortBy(_._1)
        .foldLeft(lit(null).cast("double")) { case (acc, (b, r)) =>
          when(col("bucket") === b, lit(r)).otherwise(acc)
        }
      sampled.groupBy("bucket")
        .agg(count(lit(1)).as("n_sampled"), sum("doc_id").as("sum_ids"))
        .withColumn("rate", round(rateCol, 6))
        .select("bucket", "n_sampled", "sum_ids", "rate")
        .orderBy("bucket")
    },
    Some("""WITH b AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 4 = 0 THEN 'minor' ELSE 'major' END AS bucket
              FROM documents),
            c AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1),
            t AS (SELECT CAST(sum(n) AS DOUBLE) AS total,
                         sum(sqrt(CAST(n AS DOUBLE)) ORDER BY bucket) AS sumw
                  FROM c),
            r AS (SELECT c.bucket, c.n,
                         least(1.0, ((0.5 * t.total) * sqrt(CAST(c.n AS DOUBLE)))
                                    / (t.sumw * CAST(c.n AS DOUBLE))) AS rate
                  FROM c, t),
            s AS (SELECT b.doc_id, b.bucket, r.rate
                  FROM b JOIN r ON b.bucket = r.bucket
                  WHERE CAST(('0x' || substr(md5(CAST(b.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                        < CAST(trunc(rate * 1152921504606846976) AS BIGINT))
            SELECT bucket, count(*) AS n_sampled,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   round(max(rate), 6) AS rate
            FROM s GROUP BY 1 ORDER BY 1"""))

  /** q81 — BPE pair counting
    * ([[graft.operators.Tokenizer.bpePairCounts]]): adjacent
    * character-pair frequencies weighted by word frequency — the
    * statistic a BPE tokenizer-training merge iteration maximizes.
    * Top-30 with a full (count DESC, pair ASC) tie-break so the
    * ranking is deterministic; the oracle replays the word-frequency
    * compression and the per-position pair explosion via substr. */
  private val q81 = Q("q81_bpe_pair_counts",
    (s, d) => {
      Tokenizer.bpePairCounts(Tables.documents(s, d), "text")
        .orderBy(desc("n"), asc("s1"), asc("s2"))
        .limit(30)
    },
    Some("""WITH toks AS (
              SELECT unnest(str_split(text, ' ')) AS w FROM documents),
            wf AS (SELECT w, count(*) AS freq FROM toks
                   WHERE length(w) > 1 GROUP BY 1),
            pos AS (SELECT w, freq,
                           unnest(generate_series(1, length(w) - 1)) AS i
                    FROM wf),
            pairs AS (SELECT substr(w, i, 1) AS s1, substr(w, i + 1, 1) AS s2,
                             freq
                      FROM pos)
            SELECT s1, s2, CAST(sum(freq) AS BIGINT) AS n
            FROM pairs GROUP BY 1, 2
            ORDER BY n DESC, s1, s2 LIMIT 30"""))

  /** q80 — unigram LM quality scoring
    * ([[graft.operators.LangModel]]): train MLE token probabilities
    * on the FULL corpus, score the first 200 docs by tf-weighted mean
    * token log-probability — the CCNet-style quality gate. The oracle
    * replays tokenization, the vocabulary counts, `ln(n/total)`, and
    * the per-doc weighted mean; scores round to 6dp on both sides
    * (the one tolerated float reduction, same as q53's tfidf). */
  private val q80 = Q("q80_unigram_lm_score",
    (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val lm = LangModel.unigramLm(docs, "text")
      LangModel.lmScore(docs.where(col("doc_id") < 200), "doc_id", "text", lm)
        .select(col("doc_id"), col("n_tokens"),
          round(col("avg_logp"), 6).as("avg_logp"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
              SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents),
            tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
            cnt AS (SELECT token, sum(tf) AS n FROM tf GROUP BY 1),
            tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM cnt),
            lm AS (SELECT token,
                          CAST(round(ln(CAST(n AS DOUBLE) / total) * 1e9) AS BIGINT) AS lpn
                   FROM cnt, tot),
            sc AS (SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
                          CAST(sum(tf.tf * lm.lpn) AS DOUBLE)
                            / CAST(sum(tf.tf) AS DOUBLE) / 1e9 AS lp
                   FROM tf JOIN lm USING (token)
                   WHERE tf.doc_id < 200 GROUP BY 1)
            SELECT doc_id, n_tokens, round(lp, 6) AS avg_logp
            FROM sc ORDER BY doc_id"""))

  /** q79 — epoch-repetition mixture
    * ([[graft.operators.Sampling.repeatByRate]]): upsampling rates
    * above 1 ('minor' ×2.5 — every doc twice, half a third time) next
    * to a fractional downsample ('major' ×0.4) in one pass. The
    * oracle replays the copy floor, the fractional-cut md5 draw, and
    * the generate_series expansion value-for-value; the checksum
    * `sum(doc_id·epoch)` pins each copy's epoch index, not just the
    * multiplicities. */
  private val q79 = Q("q79_epoch_repeat",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("bucket",
          when(col("doc_id") % 5 === 0, lit("minor")).otherwise(lit("major")))
      Sampling.repeatByRate(docs, col("bucket"), col("doc_id"),
          Map("minor" -> 2.5, "major" -> 0.4), defaultRate = 0.0)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct("doc_id").as("n_docs"),
          sum("doc_id").as("sum_ids"),
          sum(col("doc_id") * col("epoch")).as("epoch_checksum"))
        .orderBy("bucket")
    },
    Some("""WITH b AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0 THEN 'minor' ELSE 'major' END AS bucket
              FROM documents),
            r AS (
              SELECT doc_id, bucket,
                     CASE bucket WHEN 'minor' THEN 2 ELSE 0 END
                     + CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                            < CASE bucket
                                WHEN 'minor' THEN CAST(trunc(0.5 * 1152921504606846976) AS BIGINT)
                                ELSE CAST(trunc(0.4 * 1152921504606846976) AS BIGINT) END
                       THEN 1 ELSE 0 END AS copies
              FROM b),
            e AS (
              SELECT doc_id, bucket,
                     unnest(generate_series(1, CAST(copies AS INTEGER))) AS epoch
              FROM r)
            SELECT bucket, count(*) AS n_rows,
                   count(DISTINCT doc_id) AS n_docs,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(doc_id * epoch) AS BIGINT) AS epoch_checksum
            FROM e GROUP BY 1 ORDER BY 1"""))

  /** q78 — dedup-aware train/holdout split
    * ([[graft.operators.Dedup.clusterAwareSplit]]): exact-dup pairs
    * (content-fingerprint self-join) chained into connected
    * components, then the holdout draw taken on the CLUSTER label so
    * near-duplicates can never straddle the split. Dups are planted
    * in chains (every 9th doc re-keyed +20000, every 18th ALSO
    * +40000) so 3-doc components exercise transitivity. Because the
    * pair graph here is cliques-per-fingerprint, the oracle replays
    * the closure as a window min over the content key — no recursive
    * CTE — then replays every md5 draw on the label. */
  private val q78 = Q("q78_cluster_split",
    (s, d) => {
      val base = Tables.documents(s, d).select("doc_id", "text")
      val dup1 = base.filter(col("doc_id") % 9 === 0)
        .withColumn("doc_id", col("doc_id") + 20000)
      val dup2 = base.filter(col("doc_id") % 18 === 0)
        .withColumn("doc_id", col("doc_id") + 40000)
      val docs = base.unionByName(dup1).unionByName(dup2)
      val fp = docs.select(col("doc_id"), md5(col("text")).as("__f"))
      val pairs = fp.as("a").join(fp.as("b"),
          col("a.__f") === col("b.__f") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"))
      Dedup.clusterAwareSplit(docs, "doc_id", pairs, holdoutFrac = 0.25)
        .groupBy("side")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("split_key").as("n_clusters"),
          sum("doc_id").as("sum_ids"))
        .orderBy("side")
    },
    Some("""WITH all_docs AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 20000, text FROM documents WHERE doc_id % 9 = 0
              UNION ALL
              SELECT doc_id + 40000, text FROM documents WHERE doc_id % 18 = 0),
            lbl AS (
              SELECT doc_id,
                     min(doc_id) OVER (PARTITION BY md5(text)) AS split_key
              FROM all_docs),
            s AS (
              SELECT doc_id, split_key,
                     CASE WHEN CAST(('0x' || substr(md5(CAST(split_key AS VARCHAR)), 1, 15)) AS BIGINT)
                          < CAST(trunc(0.25 * 1152921504606846976) AS BIGINT)
                     THEN 'holdout' ELSE 'train' END AS side
              FROM lbl)
            SELECT side, count(*) AS n_docs,
                   count(DISTINCT split_key) AS n_clusters,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids
            FROM s GROUP BY 1 ORDER BY 1"""))

  /** q53 — TF-IDF top-3 terms per document (smoothed idf, scikit
    * convention), the relevance-weighting member of the text-analysis
    * family. Ranked by the raw score with term-ascending tie-break on
    * BOTH engines so the window is deterministic; output rounded. */
  private val q53 = Q("q53_tfidf_topterms",
    (s, d) => {
      Tfidf.topTerms(Tables.documents(s, d).filter(col("doc_id") < 50),
          "doc_id", "text", k = 3)
        .orderBy("doc_id", "rank")
    },
    Some("""WITH toks AS (
              SELECT doc_id, unnest(str_split(text, ' ')) AS term
              FROM documents WHERE doc_id < 50),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
            dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf)
            SELECT doc_id, rank, term,
                   round(tf * (ln((n_docs + 1) / (df + 1)) + 1), 6) AS tfidf
            FROM (
              SELECT doc_id, term, tf, df, n_docs,
                     row_number() OVER (PARTITION BY doc_id
                       ORDER BY tf * (ln((n_docs + 1) / (df + 1)) + 1) DESC,
                                term ASC) AS rank
              FROM tf JOIN dfc USING (term) CROSS JOIN n)
            WHERE rank <= 3 ORDER BY doc_id, rank"""))

  /** q54 — exact grouped percentiles (continuous interpolation,
    * quantile_cont semantics) — the oracle-checkable face of the
    * [[graft.operators.Stats]] profiler; the sketch path (HLL++ +
    * approx percentiles) is bound-checked against these exact answers
    * in OperatorSpec. */
  private val q54 = Q("q54_quantiles",
    (s, d) => {
      Stats.exactQuantiles(Tables.lineitem(s, d),
          Seq(col("l_returnflag")), col("l_extendedprice"),
          Seq(0.5, 0.9, 0.99))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, count(*) AS n,
                   round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
                   round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
                   round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
            FROM lineitem GROUP BY 1 ORDER BY 1"""))

  /** q55 — one-pass completeness profile over orders (the per-batch
    * data-quality gate, generalized from the reference's post-load
    * audits): row count + per-column null counts in ONE aggregate over
    * one scan, melted to report rows. */
  private val q55 = Q("q55_null_profile",
    (s, d) => {
      Quality.nullProfile(Tables.orders(s, d)).orderBy("col_name")
    },
    Some("""WITH agg AS (
              SELECT count(*) AS n,
                     sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS nn_o_orderkey,
                     sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nn_o_custkey,
                     sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS nn_o_orderstatus,
                     sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS nn_o_totalprice,
                     sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS nn_o_orderdate,
                     sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS nn_o_orderpriority
              FROM orders)
            SELECT col_name, n_rows, CAST(n_nulls AS BIGINT) AS n_nulls,
                   round(n_nulls * 100.0 / n_rows, 4) AS null_pct
            FROM (
              SELECT unnest(['o_orderkey', 'o_custkey', 'o_orderstatus',
                             'o_totalprice', 'o_orderdate', 'o_orderpriority']) AS col_name,
                     n AS n_rows,
                     unnest([nn_o_orderkey, nn_o_custkey, nn_o_orderstatus,
                             nn_o_totalprice, nn_o_orderdate, nn_o_orderpriority]) AS n_nulls
              FROM agg)
            ORDER BY col_name"""))

  /** q56 — as-of join ([[graft.ops.AsOf]]): every click matched to the
    * latest view at-or-before it per user, verified against DuckDB's
    * native ASOF JOIN. Views are deduped to one per (user, ts) first
    * so the boundary pick is well-defined on both engines. */
  private val q56 = Q("q56_asof_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"), col("event_id"))
        .groupBy("user_id", "view_ts")
        .agg(max("event_id").as("view_id"))
      graft.ops.AsOf.asofJoin(clicks, views, Seq("user_id"),
          col("click_ts"), col("view_ts"), Seq("view_id", "view_ts"))
        .where(col("view_id").isNotNull)
        .select(col("click_id"), col("user_id"),
          date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_time"),
          col("view_id"),
          date_format(col("view_ts"), "yyyy-MM-dd HH:mm:ss").as("view_time"))
        .orderBy("click_id")
    },
    Some("""WITH clicks AS (
              SELECT event_id AS click_id, user_id, ts AS click_ts
              FROM events WHERE event_type = 'click'),
            views AS (
              SELECT user_id, ts AS view_ts, max(event_id) AS view_id
              FROM events WHERE event_type = 'view' GROUP BY 1, 2)
            SELECT click_id, c.user_id,
                   strftime(click_ts, '%Y-%m-%d %H:%M:%S') AS click_time,
                   view_id,
                   strftime(view_ts, '%Y-%m-%d %H:%M:%S') AS view_time
            FROM clicks c ASOF JOIN views v
              ON c.user_id = v.user_id AND v.view_ts <= c.click_ts
            ORDER BY click_id"""))

  /** q59 — mixture (domain-mix) sampling: per-source keep rates (all
    * of src0, half of src1, a tenth of src2, none of the rest), as
    * fixed md5 thresholds — the corpus-mixing step, rolled up per
    * source to hash-check the exact member set. */
  private val q59 = Q("q59_mixture_sample",
    (s, d) => {
      Sampling.mixtureSample(Tables.documents(s, d), col("source"), col("doc_id"),
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.1))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sum_ids"))
        .orderBy("source")
    },
    Some("""SELECT source, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_ids
            FROM documents
            WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                  < (CASE source WHEN 'src0' THEN 1152921504606846976
                                 WHEN 'src1' THEN 576460752303423488
                                 WHEN 'src2' THEN 115292150460684704
                                 ELSE 0 END)
            GROUP BY 1 ORDER BY 1"""))

  /** q60 — train/test contamination: fraction of each test doc's
    * distinct shingles already present anywhere in the train corpus
    * (sources src0/src1 held out as "test"; the rest is "train").
    * The decontamination gate of an eval pipeline. Train here is the
    * corpus side, so this runs the `largeTrain` audit orientation —
    * the oracle value-gates the vocabulary-pruned plan. */
  private val q60 = Q("q60_contamination",
    (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contamination(
          docs.where(!col("source").isin("src0", "src1")),
          docs.where(col("source").isin("src0", "src1")),
          "doc_id", "text", shingleSize = 3, largeTrain = true)
        .orderBy("doc_id")
    },
    Some("""WITH sh AS (
              SELECT doc_id, source,
                     unnest(list_distinct(list_transform(generate_series(1, len(ws) - 2),
                       i -> array_to_string(list_slice(ws, i, i + 2), ' ')))) AS s
              FROM (SELECT doc_id, source, str_split(text, ' ') AS ws FROM documents)
              WHERE len(ws) >= 3),
            hs AS (SELECT doc_id, source,
                          CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h
                   FROM sh),
            train AS (SELECT DISTINCT h FROM hs WHERE source NOT IN ('src0', 'src1')),
            test AS (SELECT doc_id, h FROM hs WHERE source IN ('src0', 'src1'))
            SELECT t.doc_id, count(*) AS n_shingles,
                   CAST(sum(CASE WHEN tr.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_contaminated,
                   round(sum(CASE WHEN tr.h IS NOT NULL THEN 1 ELSE 0 END) * 100.0
                         / count(*), 4) AS contamination_pct
            FROM test t LEFT JOIN train tr ON t.h = tr.h
            GROUP BY 1 ORDER BY 1"""))

  /** Shared DuckDB replay of the corpus pipeline's prefix — quality
    * gate → exact dedup → simhash near-dup cluster dedup (recursive
    * CTE closure) → decontaminate vs eval (doc_id < 10) → mixture
    * (src0 0.5 / default 1.0), cfg identical to q61's and q68's runs.
    * Interpolated into BOTH oracles so the two gates can never
    * validate different pipeline definitions. */
  private val pipelinePrefixSql = """quality AS (
              SELECT doc_id, text, source FROM documents
              WHERE round(least(len(str_split(text, ' ')) / 60.0, 1.0) * 0.4
                    + (len(list_distinct(str_split(text, ' '))) * 1.0 / len(str_split(text, ' '))) * 0.3
                    + (1.0 - length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) * 1.0 / greatest(length(text), 1)) * 0.3,
                    6) >= 0.2),
            keyed AS (SELECT doc_id, text, source,
                             substr(md5(lower(trim(text))), 1, 16) AS fp
                      FROM quality),
            ex AS (SELECT k.* FROM keyed k
                   JOIN (SELECT fp, min(doc_id) AS doc_id FROM keyed GROUP BY 1) s
                     ON k.fp = s.fp AND k.doc_id = s.doc_id),
            hv AS (
              SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS hv
              FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM ex)),
            bits AS (
              SELECT doc_id, j,
                     sum(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
              FROM hv, (SELECT unnest(generate_series(0, 47)) AS j)
              GROUP BY 1, 2),
            sig AS (
              SELECT doc_id,
                     CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j)
                              ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
              FROM bits GROUP BY 1),
            chunks AS (
              SELECT doc_id, simhash, b,
                     (simhash >> (b * 12)) & 4095 AS chunk
              FROM sig, (SELECT unnest(generate_series(0, 3)) AS b)),
            pairs AS (
              SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
              FROM chunks a JOIN chunks c
                ON a.b = c.b AND a.chunk = c.chunk AND a.doc_id < c.doc_id
              WHERE bit_count(xor(a.simhash, c.simhash)) <= 3),
            edges AS (SELECT d1 AS a, d2 AS b FROM pairs
                      UNION ALL SELECT d2, d1 FROM pairs),
            nodes AS (SELECT DISTINCT a AS id FROM edges),
            reach(id, r) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id),
            lbl AS (SELECT id, min(r) AS label FROM reach GROUP BY id),
            nd AS (SELECT * FROM ex WHERE doc_id NOT IN
                     (SELECT id FROM lbl WHERE id <> label)),
            evsh AS (
              SELECT DISTINCT CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS h
              FROM (SELECT unnest(list_distinct(list_transform(generate_series(1, len(ws) - 2),
                           i -> array_to_string(list_slice(ws, i, i + 2), ' ')))) AS sh
                    FROM (SELECT str_split(text, ' ') AS ws FROM documents WHERE doc_id < 10)
                    WHERE len(ws) >= 3)),
            tsh AS (
              SELECT doc_id, CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS h
              FROM (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(ws) - 2),
                           i -> array_to_string(list_slice(ws, i, i + 2), ' ')))) AS sh
                    FROM (SELECT doc_id, str_split(text, ' ') AS ws FROM nd)
                    WHERE len(ws) >= 3)),
            cont AS (SELECT DISTINCT t.doc_id FROM tsh t JOIN evsh e ON t.h = e.h),
            clean AS (SELECT * FROM nd WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
            mixed AS (
              SELECT * FROM clean
              WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                    < (CASE source WHEN 'src0' THEN 576460752303423488
                                   ELSE 1152921504606846976 END))"""

  /** q61 — the composed corpus-prep pipeline
    * ([[graft.operators.CorpusPipeline]]): quality gate → exact dedup
    * → near-dup cluster dedup → decontaminate → mixture → split →
    * pack, reported as per-stage row counts. FULLY value-gated: the
    * oracle replays every stage count including the md5-threshold
    * train/holdout split (packing is 1:1, so the packed tail does not
    * change the train count — and q52 value-gates the packing fold
    * itself). The composition invariants stay asserted in
    * OperatorSpec. */
  private val q61 = Q("q61_corpus_pipeline",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      // the shared-shingle path IS the production shape: one corpus
      // shingle pass owned by the caller, decontamination semi-joins
      // it down to the survivors (Dedup.contaminationFromSuperset)
      // instead of re-shingling the filtered corpus
      val shingles = Dedup.shingleCache(docs, "doc_id", "text")
      try {
        val res = CorpusPipeline.prepare(docs,
          evalDocs = Some(docs.filter(col("doc_id") < 10)),
          cfg = CorpusPipeline.Config(minQuality = 0.2,
            mixtureRates = Map("src0" -> 0.5), defaultRate = 1.0,
            holdoutFrac = 0.1, packBudget = 1024),
          sharedShingles = Some(shingles))
        res.report.toDF("stage", "rows").orderBy("stage")
      } finally shingles.release()
    },
    Some("""WITH RECURSIVE """ + pipelinePrefixSql + """,
            split AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5(concat(CAST(doc_id AS VARCHAR), '|holdout')), 1, 15)) AS BIGINT)
                       < 115292150460684704 AS is_holdout
              FROM mixed)
            SELECT stage, "rows" FROM (
              SELECT 'input' AS stage, count(*) AS "rows" FROM documents
              UNION ALL SELECT 'quality_filter', count(*) FROM quality
              UNION ALL SELECT 'exact_dedup', count(*) FROM ex
              UNION ALL SELECT 'near_dup_cluster_dedup', count(*) FROM nd
              UNION ALL SELECT 'decontaminate', count(*) FROM clean
              UNION ALL SELECT 'mixture_sample', count(*) FROM mixed
              UNION ALL SELECT 'train', count(*) FROM split WHERE NOT is_holdout
              UNION ALL SELECT 'holdout', count(*) FROM split WHERE is_holdout)
            ORDER BY stage"""))

  /** q68 — the corpus pipeline's SQL-expressible prefix, value-gated:
    * quality gate → exact dedup → simhash near-dup cluster dedup →
    * decontaminate vs eval → mixture sample, reported as per-stage row
    * counts. This is q61's composition with the (mapPartitions) packing
    * tail cut off, so the oracle can replay EVERY stage — the quality
    * expression, fingerprint dedup, simhash banding, the recursive-CTE
    * component closure, the shingle-vocabulary contamination gate, and
    * the md5-threshold mixture — and hash-match the stage counts. */
  private val q68 = Q("q68_pipeline_stage_counts",
    (s, d) => {
      import s.implicits._
      // stage counts are cache-warm count() jobs over each persisted
      // stage frame (CorpusPipeline.StageCounter) — observed metrics
      // read partial cache fills under multi-process executors
      val counter = new CorpusPipeline.StageCounter
      def staged(name: String, df: org.apache.spark.sql.DataFrame) =
        counter.stage(name, df)
      val docs = staged("1_input", Tables.documents(s, d))
      val quality = staged("2_quality_filter",
        docs.where(qualityScore(col("text")) >= 0.2))
      val exact = staged("3_exact_dedup",
        Dedup.exactByKey(quality, fingerprint(col("text")), "doc_id"))
      val pairs = Dedup.simhashNearDupPairs(exact, "doc_id", "text",
        bits = 48, maxHamming = 3)
      val nearDup = staged("4_cluster_dedup", Dedup.dedupByClusters(exact,
        Dedup.connectedComponents(pairs), "doc_id"))
      val evalDocs = docs.filter(col("doc_id") < 10)
      val contaminated = Dedup.contamination(evalDocs, nearDup, "doc_id", "text",
          shingleSize = 3)
        .where(col("contamination_pct") > 0.0).select("doc_id")
      val clean = staged("5_decontaminate",
        nearDup.join(contaminated, Seq("doc_id"), "left_anti"))
      val mixed = Sampling.mixtureSample(clean, col("source"), col("doc_id"),
        Map("src0" -> 0.5), defaultRate = 1.0)
      val nMixed = mixed.count() // materializes the whole chain
      val rows = counter.counts :+ ("6_mixture_sample" -> nMixed)
      counter.release()
      rows.toDF("stage", "n").orderBy("stage")
    },
    Some("""WITH RECURSIVE """ + pipelinePrefixSql + """
            SELECT stage, n FROM (
              SELECT '1_input' AS stage, count(*) AS n FROM documents
              UNION ALL SELECT '2_quality_filter', count(*) FROM quality
              UNION ALL SELECT '3_exact_dedup', count(*) FROM ex
              UNION ALL SELECT '4_cluster_dedup', count(*) FROM nd
              UNION ALL SELECT '5_decontaminate', count(*) FROM clean
              UNION ALL SELECT '6_mixture_sample', count(*) FROM mixed)
            ORDER BY stage"""))

  /** q69 — recall@k for the ANN family against brute-force ground
    * truth ([[graft.operators.Similarity.recallAtK]]): IVF vs the
    * exact-cosine top-5, PQ and IVF-PQ vs the exact-L2 top-5, per
    * query. The one number value-exactness cannot give — how GOOD the
    * approximation is — made fully oracle-checkable because every
    * approximate pipeline here is deterministic: the oracle replays
    * approx AND exact sides and must land on identical hit counts. */
  private val q69 = Q("q69_ann_recall",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 10)
      val exactCos = Similarity.bruteForceTopK(emb, queries, k = 5)
      val exactL2 = Similarity.bruteForceTopKL2(emb, queries, k = 5)
      val centroids = Similarity.sampleCentroids(emb, 50)
      val ivf = Similarity.ivfTopK(
        Similarity.assignCells(emb, centroids, "nid", "ne", "cell", 1),
        queries, centroids, k = 5, nProbe = 3)
      val cb = Similarity.pqCodebooks(emb, m = 4, dim = 64, step = 50)
      val pq = Similarity.pqTopK(Similarity.pqEncode(emb, cb, m = 4, dim = 64),
        cb, queries, m = 4, dim = 64, k = 5)
      val (enc2, cb2) = Similarity.ivfPqBuild(emb, centroids, m = 4, dim = 64,
        pqStep = 25)
      val ivfpq = Similarity.ivfPqTopK(enc2, centroids, cb2, queries,
        m = 4, dim = 64, k = 5, nProbe = 3)
      Seq(("ivf", ivf, exactCos), ("ivfpq", ivfpq, exactL2), ("pq", pq, exactL2))
        .map { case (m, approx, exact) =>
          Similarity.recallAtK(approx, exact, k = 5).withColumn("method", lit(m))
        }
        .reduce(_.unionByName(_))
        .select("method", "qid", "n_returned", "n_hits", "recall")
        .orderBy("method", "qid")
    },
    Some("""WITH corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            q AS (SELECT vec_id AS qid, e AS qe FROM corpus WHERE vec_id < 10),
            exc AS (SELECT qid, nid FROM (
                      SELECT qid, n.vec_id AS nid,
                             row_number() OVER (PARTITION BY qid
                               ORDER BY list_cosine_similarity(qe, n.e) DESC, n.vec_id ASC) AS rnk
                      FROM q JOIN corpus n ON n.vec_id <> qid) WHERE rnk <= 5),
            exl AS (SELECT qid, nid FROM (
                      SELECT qid, n.vec_id AS nid,
                             row_number() OVER (PARTITION BY qid
                               ORDER BY list_distance(qe, n.e) ASC, n.vec_id ASC) AS rnk
                      FROM q JOIN corpus n ON n.vec_id <> qid) WHERE rnk <= 5),
            cent AS (SELECT vec_id AS cid, e AS ce FROM corpus WHERE vec_id % 50 = 0),
            acell AS (SELECT nid, ne, cell FROM (
                        SELECT vec_id AS nid, e AS ne, cid AS cell,
                               row_number() OVER (PARTITION BY vec_id
                                 ORDER BY list_cosine_similarity(e, ce) DESC, cid ASC) AS rn
                        FROM corpus CROSS JOIN cent) WHERE rn = 1),
            probes AS (SELECT qid, qe, probe_cell FROM (
                         SELECT qid, qe, cid AS probe_cell,
                                row_number() OVER (PARTITION BY qid
                                  ORDER BY list_cosine_similarity(qe, ce) DESC, cid ASC) AS rn
                         FROM q CROSS JOIN cent) WHERE rn <= 3),
            ivf AS (SELECT qid, nid FROM (
                      SELECT qid, nid,
                             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rnk
                      FROM (SELECT qid, nid, list_cosine_similarity(qe, ne) AS cos
                            FROM probes JOIN acell ON probe_cell = cell AND qid <> nid))
                    WHERE rnk <= 5),
            js AS (SELECT unnest(generate_series(0, 3)) AS j),
            cb AS (SELECT cid, j, list_slice(ce, j * 16 + 1, j * 16 + 16) AS ce FROM
                     (SELECT vec_id AS cid, e AS ce FROM corpus WHERE vec_id % 50 = 0), js),
            slices AS (SELECT vec_id AS nid, j, list_slice(e, j * 16 + 1, j * 16 + 16) AS nv
                       FROM corpus, js),
            enc AS (SELECT nid, j, cid AS code FROM (
                      SELECT nid, j, cid,
                             row_number() OVER (PARTITION BY nid, j
                               ORDER BY list_distance(nv, ce), cid) AS rn
                      FROM slices JOIN cb USING (j)) WHERE rn = 1),
            qs AS (SELECT qid, j, list_slice(qe, j * 16 + 1, j * 16 + 16) AS qv FROM q, js),
            dtq AS (SELECT qid, j, cid AS code, pow(list_distance(qv, ce), 2) AS dsq
                    FROM qs JOIN cb USING (j)),
            pq AS (SELECT qid, nid FROM (
                     SELECT qid, nid,
                            row_number() OVER (PARTITION BY qid
                              ORDER BY d0 + d1 + d2 + d3, nid) AS rnk
                     FROM (SELECT qid, nid,
                                  sum(CASE WHEN j = 0 THEN dsq ELSE 0 END) AS d0,
                                  sum(CASE WHEN j = 1 THEN dsq ELSE 0 END) AS d1,
                                  sum(CASE WHEN j = 2 THEN dsq ELSE 0 END) AS d2,
                                  sum(CASE WHEN j = 3 THEN dsq ELSE 0 END) AS d3
                           FROM enc JOIN dtq USING (j, code)
                           WHERE qid <> nid GROUP BY 1, 2))
                   WHERE rnk <= 5),
            res AS (SELECT nid, cell,
                           list_transform(generate_series(1, 64), i -> ne[i] - ce2[i]) AS r
                    FROM acell JOIN (SELECT cid AS cell, ce AS ce2 FROM cent) USING (cell)),
            cb2 AS (SELECT cid, j, list_slice(ce, j * 16 + 1, j * 16 + 16) AS ce FROM
                      (SELECT nid AS cid, r AS ce FROM res WHERE nid % 25 = 0), js),
            rsl AS (SELECT nid, cell, j, list_slice(r, j * 16 + 1, j * 16 + 16) AS nv
                    FROM res, js),
            enc2 AS (SELECT nid, cell, j, cid AS code FROM (
                       SELECT nid, cell, j, cid,
                              row_number() OVER (PARTITION BY nid, j
                                ORDER BY list_distance(nv, ce), cid) AS rn
                       FROM rsl JOIN cb2 USING (j)) WHERE rn = 1),
            qres AS (SELECT qid, probe_cell AS cell,
                            list_transform(generate_series(1, 64), i -> qe[i] - ce2[i]) AS qr
                     FROM probes JOIN (SELECT cid AS probe_cell, ce AS ce2 FROM cent)
                       USING (probe_cell)),
            qsl AS (SELECT qid, cell, j, list_slice(qr, j * 16 + 1, j * 16 + 16) AS qv
                    FROM qres, js),
            dt2 AS (SELECT qid, cell, j, cid AS code, pow(list_distance(qv, ce), 2) AS dsq
                    FROM qsl JOIN cb2 USING (j)),
            ivfpq AS (SELECT qid, nid FROM (
                        SELECT qid, nid,
                               row_number() OVER (PARTITION BY qid
                                 ORDER BY d0 + d1 + d2 + d3, nid) AS rnk
                        FROM (SELECT qid, nid,
                                     sum(CASE WHEN j = 0 THEN dsq ELSE 0 END) AS d0,
                                     sum(CASE WHEN j = 1 THEN dsq ELSE 0 END) AS d1,
                                     sum(CASE WHEN j = 2 THEN dsq ELSE 0 END) AS d2,
                                     sum(CASE WHEN j = 3 THEN dsq ELSE 0 END) AS d3
                              FROM enc2 JOIN dt2 USING (cell, j, code)
                              WHERE qid <> nid GROUP BY 1, 2))
                      WHERE rnk <= 5),
            r AS (
              SELECT 'ivf' AS method, a.qid,
                     CASE WHEN e.nid IS NOT NULL THEN 1 ELSE 0 END AS hit
              FROM ivf a LEFT JOIN exc e ON a.qid = e.qid AND a.nid = e.nid
              UNION ALL
              SELECT 'ivfpq', a.qid, CASE WHEN e.nid IS NOT NULL THEN 1 ELSE 0 END
              FROM ivfpq a LEFT JOIN exl e ON a.qid = e.qid AND a.nid = e.nid
              UNION ALL
              SELECT 'pq', a.qid, CASE WHEN e.nid IS NOT NULL THEN 1 ELSE 0 END
              FROM pq a LEFT JOIN exl e ON a.qid = e.qid AND a.nid = e.nid)
            SELECT method, qid, count(*) AS n_returned,
                   CAST(sum(hit) AS BIGINT) AS n_hits,
                   round(sum(hit) / 5.0, 4) AS recall
            FROM r GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** q71 — Gopher-style repetition signals per document
    * ([[graft.operators.Quality.repetitionSignals]]): top-word /
    * top-2-gram mass fractions and duplicate-token fractions — the
    * cheap repetitious-boilerplate detectors a web-corpus quality
    * gate runs alongside q26's composite score. NULL bigram columns
    * (sub-2-word docs) are part of the contract. */
  private val q71 = Q("q71_repetition_signals",
    (s, d) => {
      Quality.repetitionSignals(
          Tables.documents(s, d).filter(col("doc_id") < 150), "doc_id", "text")
        .orderBy("doc_id")
    },
    Some("""WITH w AS (
              SELECT doc_id, unnest(str_split(text, ' ')) AS g
              FROM documents WHERE doc_id < 150),
            wc AS (SELECT doc_id, g, count(*) AS c FROM w GROUP BY 1, 2),
            ws AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
                          round(max(c) / sum(c), 6) AS top_word_frac,
                          round(1.0 - count(*) / sum(c), 6) AS dup_word_frac
                   FROM wc GROUP BY 1),
            b AS (
              SELECT doc_id,
                     unnest(list_transform(generate_series(1, len(ws2) - 1),
                       i -> array_to_string(list_slice(ws2, i, i + 1), ' '))) AS g
              FROM (SELECT doc_id, str_split(text, ' ') AS ws2
                    FROM documents WHERE doc_id < 150)
              WHERE len(ws2) >= 2),
            bc AS (SELECT doc_id, g, count(*) AS c FROM b GROUP BY 1, 2),
            bs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                          round(max(c) / sum(c), 6) AS top_bigram_frac,
                          round(1.0 - count(*) / sum(c), 6) AS dup_bigram_frac
                   FROM bc GROUP BY 1)
            SELECT ws.doc_id, n_words, top_word_frac, dup_word_frac,
                   n_bigrams, top_bigram_frac, dup_bigram_frac
            FROM ws LEFT JOIN bs ON ws.doc_id = bs.doc_id
            ORDER BY ws.doc_id"""))

  /** q72 — PII redaction ([[graft.functions.TextFunctions.redactPii]]):
    * email / SSN-shaped / phone patterns planted into each document
    * (the corpus itself is synthetic and clean — planting makes the
    * gate meaningful), counted before redaction and the redacted text
    * fingerprinted so the oracle checks the SCRUBBED BYTES, not just
    * the counts. Pure codegen'd regexp chain — one map pass. */
  private val q72 = Q("q72_pii_redaction",
    (s, d) => {
      val planted = Tables.documents(s, d).filter(col("doc_id") < 100)
        .withColumn("t2", concat(col("text"), lit(" contact user"),
          col("doc_id"),
          lit("@example.com or (555) 123-4567 id 123-45-6789")))
      planted.select(col("doc_id"),
          piiCount(col("t2")).as("n_pii"),
          fingerprint(redactPii(col("t2"))).as("redacted_fp"))
        .orderBy("doc_id")
    },
    Some("""WITH p AS (
              SELECT doc_id,
                     concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                            '@example.com or (555) 123-4567 id 123-45-6789') AS t2
              FROM documents WHERE doc_id < 100),
            r AS (
              SELECT doc_id,
                     CAST(len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                        + len(regexp_extract_all(t2, '\b\d{3}-\d{2}-\d{4}\b'))
                        + len(regexp_extract_all(t2, '(^|[^0-9.-])((?:\+?1[ .-])?(?:\(\d{3}\)|\d{3})[ .-]\d{3}[ .-]\d{4})\b'))
                       AS BIGINT) AS n_pii,
                     regexp_replace(regexp_replace(regexp_replace(t2,
                         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                         '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
                         '(^|[^0-9.-])((?:\+?1[ .-])?(?:\(\d{3}\)|\d{3})[ .-]\d{3}[ .-]\d{4})\b', '\1<PHONE>', 'g') AS red
              FROM p)
            SELECT doc_id, n_pii, substr(md5(lower(trim(red))), 1, 16) AS redacted_fp
            FROM r ORDER BY doc_id"""))

  /** q73 — Tukey-fence (IQR) outliers per group
    * ([[graft.operators.Quality.iqrOutliers]]), the rank-based
    * complement of q64's z-scores — robust where heavy tails drag the
    * mean. k=0.5 so the near-uniform price distribution actually
    * yields flagged rows; fences rounded to 4 on both engines. */
  private val q73 = Q("q73_iqr_outliers",
    (s, d) => {
      Quality.iqrOutliers(Tables.lineitem(s, d), Seq("l_returnflag"),
          "l_extendedprice", k = 0.5)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(when(col("is_outlier"), 1).otherwise(0)).as("n_outliers"))
        .orderBy("l_returnflag")
    },
    Some("""WITH f AS (
              SELECT l_returnflag,
                     round(quantile_cont(l_extendedprice, 0.25)
                           - 0.5 * (quantile_cont(l_extendedprice, 0.75)
                                    - quantile_cont(l_extendedprice, 0.25)), 4) AS lo,
                     round(quantile_cont(l_extendedprice, 0.75)
                           + 0.5 * (quantile_cont(l_extendedprice, 0.75)
                                    - quantile_cont(l_extendedprice, 0.25)), 4) AS hi
              FROM lineitem GROUP BY 1)
            SELECT l.l_returnflag, count(*) AS n,
                   CAST(sum(CASE WHEN l.l_extendedprice < f.lo
                                   OR l.l_extendedprice > f.hi
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
            FROM lineitem l JOIN f ON l.l_returnflag = f.l_returnflag
            GROUP BY 1 ORDER BY 1"""))

  /** q74 — URL canonicalization
    * ([[graft.functions.TextFunctions.canonicalizeUrl]]): messy URL
    * spellings planted per doc (mixed-case scheme/host, default port,
    * utm params threaded through real ones, fragment) must collapse
    * to one canonical form, hash-checked byte-for-byte. The
    * normalization pass before URL-level crawl dedup. */
  private val q74 = Q("q74_url_canonicalize",
    (s, d) => {
      Tables.documents(s, d).filter(col("doc_id") < 100)
        .select(col("doc_id"),
          canonicalizeUrl(concat(lit("HTTPS://Example"), col("doc_id") % 10,
            lit(".COM:443/Path"), col("doc_id"),
            lit("/?utm_source=x&id="), col("doc_id"),
            lit("&utm_campaign=y#frag"))).as("canonical_url"))
        .orderBy("doc_id")
    },
    Some("""WITH u AS (
              SELECT doc_id,
                     concat('HTTPS://Example', CAST(doc_id % 10 AS VARCHAR),
                            '.COM:443/Path', CAST(doc_id AS VARCHAR),
                            '/?utm_source=x&id=', CAST(doc_id AS VARCHAR),
                            '&utm_campaign=y#frag') AS url
              FROM documents WHERE doc_id < 100),
            parts AS (
              SELECT doc_id,
                     lower(regexp_extract(url, '(^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)) AS head,
                     regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '') AS tail
              FROM u),
            cleaned AS (
              SELECT doc_id,
                     CASE WHEN head LIKE 'https://%'
                          THEN regexp_replace(head, ':443$', '')
                          ELSE regexp_replace(head, ':80$', '') END AS head2,
                     regexp_replace(tail, '#.*', '') AS nofrag
              FROM parts),
            -- utm stripping runs on the QUERY substring only, exactly
            -- as canonicalizeUrl does ('&' is a legal path character —
            -- a whole-tail pattern would swallow path segments after a
            -- literal '&' in the path)
            split_qp AS (
              SELECT doc_id, head2,
                     regexp_extract(nofrag, '^([^?]*)', 1) AS path,
                     regexp_replace(nofrag, '^[^?]*', '') AS query
              FROM cleaned),
            noutm AS (
              SELECT doc_id, head2, path,
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(query,
                           '&utm_[A-Za-z0-9_]*=[^&]*', '', 'g'),
                         '\?utm_[A-Za-z0-9_]*=[^&]*&', '?'),
                       '\?utm_[A-Za-z0-9_]*=[^&]*$', '') AS query2
              FROM split_qp)
            SELECT doc_id,
                   concat(head2, path,
                          regexp_replace(query2, '[?&]$', '')) AS canonical_url
            FROM noutm ORDER BY doc_id"""))

  /** q62 — product-quantization ANN (build → encode → asymmetric-
    * distance top-k): 4 subspaces × 16 dims, sampled codebooks so the
    * oracle replays the whole scheme — encoding argmins, distance
    * tables, and the order-pinned distance fold — value-for-value. */
  private val q62 = Q("q62_pq_topk",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val cb = Similarity.pqCodebooks(emb, m = 4, dim = 64, step = 50)
      val enc = Similarity.pqEncode(emb, cb, m = 4, dim = 64)
      Similarity.pqTopK(enc, cb, emb.filter(col("vec_id") < 10),
          m = 4, dim = 64, k = 5)
        .orderBy("qid", "rank")
    },
    Some("""WITH corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            js AS (SELECT unnest(generate_series(0, 3)) AS j),
            cb AS (SELECT cid, j, list_slice(ce, j * 16 + 1, j * 16 + 16) AS ce FROM
                     (SELECT vec_id AS cid, e AS ce FROM corpus WHERE vec_id % 50 = 0), js),
            slices AS (SELECT vec_id AS nid, j, list_slice(e, j * 16 + 1, j * 16 + 16) AS nv
                       FROM corpus, js),
            enc AS (SELECT nid, j, cid AS code FROM (
                      SELECT nid, j, cid,
                             row_number() OVER (PARTITION BY nid, j
                               ORDER BY list_distance(nv, ce), cid) AS rn
                      FROM slices JOIN cb USING (j)) WHERE rn = 1),
            q AS (SELECT vec_id AS qid, j, list_slice(e, j * 16 + 1, j * 16 + 16) AS qv
                  FROM corpus, js WHERE vec_id < 10),
            dt AS (SELECT qid, j, cid AS code, pow(list_distance(qv, ce), 2) AS dsq
                   FROM q JOIN cb USING (j)),
            scored AS (
              SELECT qid, nid,
                     sum(CASE WHEN j = 0 THEN dsq ELSE 0 END) AS d0,
                     sum(CASE WHEN j = 1 THEN dsq ELSE 0 END) AS d1,
                     sum(CASE WHEN j = 2 THEN dsq ELSE 0 END) AS d2,
                     sum(CASE WHEN j = 3 THEN dsq ELSE 0 END) AS d3
              FROM enc JOIN dt USING (j, code)
              WHERE qid <> nid GROUP BY 1, 2)
            SELECT qid, rank, nid, round(sqrt(d0 + d1 + d2 + d3), 6) AS approx_dist
            FROM (
              SELECT qid, nid, d0, d1, d2, d3,
                     row_number() OVER (PARTITION BY qid
                       ORDER BY d0 + d1 + d2 + d3, nid) AS rank
              FROM scored)
            WHERE rank <= 5 ORDER BY qid, rank"""))

  /** q63 — IVF-PQ top-k (coarse cells + PQ on residuals, the FAISS
    * IVFPQ layout): the oracle replays BOTH levels — cosine cell
    * argmax, residual subtraction, per-subspace encode argmins,
    * probe-cell distance tables, order-pinned fold. */
  private val q63 = Q("q63_ivfpq_topk",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val centroids = Similarity.sampleCentroids(emb, 50)
      val (enc, cb) = Similarity.ivfPqBuild(emb, centroids, m = 4, dim = 64,
        pqStep = 25)
      Similarity.ivfPqTopK(enc, centroids, cb, emb.filter(col("vec_id") < 10),
          m = 4, dim = 64, k = 5, nProbe = 3)
        .orderBy("qid", "rank")
    },
    Some("""WITH corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            js AS (SELECT unnest(generate_series(0, 3)) AS j),
            cent AS (SELECT vec_id AS cid, e AS ce FROM corpus WHERE vec_id % 50 = 0),
            acell AS (SELECT nid, ne, cell FROM (
                        SELECT vec_id AS nid, e AS ne, cid AS cell,
                               row_number() OVER (PARTITION BY vec_id
                                 ORDER BY list_cosine_similarity(e, ce) DESC, cid ASC) AS rn
                        FROM corpus CROSS JOIN cent) WHERE rn = 1),
            res AS (SELECT nid, cell,
                           list_transform(generate_series(1, 64), i -> ne[i] - ce2[i]) AS r
                    FROM acell JOIN (SELECT cid AS cell, ce AS ce2 FROM cent) USING (cell)),
            cb AS (SELECT cid, j, list_slice(ce, j * 16 + 1, j * 16 + 16) AS ce FROM
                     (SELECT nid AS cid, r AS ce FROM res WHERE nid % 25 = 0), js),
            rsl AS (SELECT nid, cell, j, list_slice(r, j * 16 + 1, j * 16 + 16) AS nv
                    FROM res, js),
            enc AS (SELECT nid, cell, j, cid AS code FROM (
                      SELECT nid, cell, j, cid,
                             row_number() OVER (PARTITION BY nid, j
                               ORDER BY list_distance(nv, ce), cid) AS rn
                      FROM rsl JOIN cb USING (j)) WHERE rn = 1),
            q AS (SELECT vec_id AS qid, e AS qe FROM corpus WHERE vec_id < 10),
            probes AS (SELECT qid, qe, probe_cell FROM (
                         SELECT qid, qe, cid AS probe_cell,
                                row_number() OVER (PARTITION BY qid
                                  ORDER BY list_cosine_similarity(qe, ce) DESC, cid ASC) AS rn
                         FROM q CROSS JOIN cent) WHERE rn <= 3),
            qres AS (SELECT qid, probe_cell AS cell,
                            list_transform(generate_series(1, 64), i -> qe[i] - ce2[i]) AS qr
                     FROM probes JOIN (SELECT cid AS probe_cell, ce AS ce2 FROM cent)
                       USING (probe_cell)),
            qsl AS (SELECT qid, cell, j, list_slice(qr, j * 16 + 1, j * 16 + 16) AS qv
                    FROM qres, js),
            dt AS (SELECT qid, cell, j, cid AS code, pow(list_distance(qv, ce), 2) AS dsq
                   FROM qsl JOIN cb USING (j)),
            scored AS (
              SELECT qid, nid,
                     sum(CASE WHEN j = 0 THEN dsq ELSE 0 END) AS d0,
                     sum(CASE WHEN j = 1 THEN dsq ELSE 0 END) AS d1,
                     sum(CASE WHEN j = 2 THEN dsq ELSE 0 END) AS d2,
                     sum(CASE WHEN j = 3 THEN dsq ELSE 0 END) AS d3
              FROM enc JOIN dt USING (cell, j, code)
              WHERE qid <> nid GROUP BY 1, 2)
            SELECT qid, rank, nid, round(sqrt(d0 + d1 + d2 + d3), 6) AS approx_dist
            FROM (
              SELECT qid, nid, d0, d1, d2, d3,
                     row_number() OVER (PARTITION BY qid
                       ORDER BY d0 + d1 + d2 + d3, nid) AS rank
              FROM scored)
            WHERE rank <= 5 ORDER BY qid, rank"""))

  /** q66 — token-budget sampling: each source contributes documents in
    * md5 order until 5000 tokens — mixture specified by token MASS
    * (the way training mixes are defined), cumulative-sum window per
    * stratum, rolled up per source. */
  private val q66 = Q("q66_token_budget_sample",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          tokenCount(col("text")).cast("long").as("n_tokens"))
      Sampling.tokenBudgetSample(docs, col("source"), col("doc_id"),
          col("n_tokens"), budget = 5000)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"),
          sum("doc_id").as("sum_ids"))
        .orderBy("source")
    },
    Some("""WITH t AS (
              SELECT doc_id, source,
                     CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
              FROM documents),
            c AS (
              SELECT doc_id, source, n_tokens,
                     sum(n_tokens) OVER (PARTITION BY source
                       ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
                                doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM t)
            SELECT source, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS tokens,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids
            FROM c WHERE cum <= 5000
            GROUP BY 1 ORDER BY 1"""))

  /** q67 — fixed-width histogram of lineitem prices (40 bins over
    * [0, 80000)), the distribution view paired with q54's quantiles.
    * Bin arithmetic is identical floor/clamp on both engines. */
  private val q67 = Q("q67_price_histogram",
    (s, d) => {
      Stats.histogram(Tables.lineitem(s, d), col("l_extendedprice"),
          lo = 0.0, hi = 80000.0, nBins = 40)
        .orderBy("bin")
    },
    Some("""SELECT bin, round(bin * 2000.0, 6) AS bin_lo, count(*) AS n
            FROM (
              SELECT CAST(greatest(0, least(39,
                       floor(l_extendedprice / 2000.0))) AS BIGINT) AS bin
              FROM lineitem WHERE l_extendedprice IS NOT NULL)
            GROUP BY 1 ORDER BY 1"""))

  /** q82 — cross-document duplicated SPANS
    * ([[graft.operators.Dedup.duplicatedSpans]]): the exact-substring
    * dedup statistic (Lee et al. ACL'22) — every maximal run of
    * 5-gram shingles shared verbatim by ≥ 2 documents, as explicit
    * [start_word, end_word] spans. Distinct from q33/q28 (whole-doc
    * set similarity): this finds the COPIED PASSAGE inside otherwise
    * different documents — the unit an exact-substring dedup pass
    * would cut. All-integer output; the oracle replays shingle-hash →
    * distinct-doc frequency → island merge value-for-value. */
  private val q82 = Q("q82_duplicated_spans",
    (s, d) => {
      Dedup.duplicatedSpans(Tables.documents(s, d).select("doc_id", "text"),
          "doc_id", "text", shingleSize = 5, minDocs = 2)
        .orderBy("doc_id", "span_start")
    },
    Some("""WITH ws AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
            hs AS (
              SELECT doc_id, i - 1 AS p,
                     CAST(('0x' || substr(md5(array_to_string(
                            list_slice(ws, i, i + 4), ' ')), 1, 15)) AS BIGINT) AS h
              FROM ws, LATERAL (SELECT unnest(generate_series(1, len(ws) - 4)) AS i)
              WHERE len(ws) >= 5),
            dfc AS (SELECT h FROM (
                      SELECT h, count(DISTINCT doc_id) AS df FROM hs GROUP BY 1)
                    WHERE df >= 2),
            dup AS (SELECT doc_id, p FROM hs WHERE h IN (SELECT h FROM dfc)),
            isl AS (SELECT doc_id, p,
                           p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS g
                    FROM dup)
            SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
                   CAST(max(p) + 4 AS BIGINT) AS span_end,
                   count(*) AS n_grams
            FROM isl GROUP BY doc_id, g ORDER BY doc_id, span_start"""))

  /** q83 — add-k-smoothed bigram LM
    * ([[graft.operators.LangModel.bigramLm]]/`bigramScore`): the
    * second-order companion of q80's unigram filter — sequence
    * plausibility, not just vocabulary plausibility (word salad with
    * common words fools a unigram LM; its bigrams are still rare).
    * Bigram formation is a pure codegen'd HOF (no window/shuffle);
    * the oracle rebuilds counts, contexts, vocabulary, and the
    * smoothed `ln((c+k)/(cn+kV))` value-for-value. */
  private val q83 = Q("q83_bigram_lm",
    (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val (model, ctx, v) = LangModel.bigramLm(docs, "text", k = 0.5)
      LangModel.bigramScore(docs.where(col("doc_id") < 200), "doc_id", "text",
          model, ctx, v, k = 0.5)
        .select(col("doc_id"), col("n_bigrams"),
          round(col("avg_logp"), 6).as("avg_logp"))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, str_split(text, ' ') AS a FROM documents),
            bg AS (SELECT doc_id,
                          unnest(list_transform(generate_series(1, len(a) - 1),
                                                i -> a[i] || ' ' || a[i + 1])) AS bigram
                   FROM t),
            c2 AS (SELECT bigram, count(*) AS c2 FROM bg GROUP BY 1),
            ctx AS (SELECT str_split(bigram, ' ')[1] AS w1, sum(c2) AS cn
                    FROM c2 GROUP BY 1),
            v AS (SELECT count(DISTINCT tok) AS v FROM
                    (SELECT unnest(str_split(text, ' ')) AS tok FROM documents)),
            lm AS (SELECT bigram,
                          CAST(round(ln((c2 + 0.5) / (cn + 0.5 * v)) * 1e9) AS BIGINT) AS lpn
                   FROM c2 JOIN ctx ON str_split(bigram, ' ')[1] = w1, v),
            tf AS (SELECT doc_id, bigram, count(*) AS tf FROM bg
                   WHERE doc_id < 200 GROUP BY 1, 2),
            sc AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
                          CAST(sum(tf * lpn) AS DOUBLE)
                            / CAST(sum(tf) AS DOUBLE) / 1e9 AS lp
                   FROM tf JOIN lm USING (bigram) GROUP BY 1)
            SELECT doc_id, n_bigrams, round(lp, 6) AS avg_logp
            FROM sc ORDER BY doc_id"""))

  /** q84 — exact top-k frequent tokens via the bounded-memory
    * Misra-Gries candidate pass ([[graft.operators.HeavyHitters]]):
    * the candidate exchange is O(partitions·capacity) regardless of
    * vocabulary size, the rescore is exact, and the operator PROVES
    * completeness (k-th count > n/capacity) or falls back to the full
    * aggregation. The oracle is the plain exact top-k — equality IS
    * the exactness claim. */
  private val q84 = Q("q84_heavy_hitters",
    (s, d) => {
      HeavyHitters.topKTokens(Tables.documents(s, d).select("text"), "text",
          k = 30, capacity = 2048)
        .orderBy("rank")
    },
    Some("""WITH toks AS (SELECT unnest(str_split(text, ' ')) AS token FROM documents),
            c AS (SELECT token, count(*) AS n FROM toks GROUP BY 1),
            r AS (SELECT row_number() OVER (ORDER BY n DESC, token) AS rank,
                         token, n
                  FROM c)
            SELECT rank, token, n FROM r WHERE rank <= 30 ORDER BY rank"""))

  /** q85 — token-distribution drift between corpus slices
    * ([[graft.operators.Stats.klDrift]]): smoothed KL(en ‖ rest) with
    * the top-20 driving tokens — the ingest-batch check for "did this
    * crawl's vocabulary move". kl_term is rounded to 9 BEFORE the
    * sort, so the ordering key itself is engine-portable. */
  private val q85 = Q("q85_kl_drift",
    (s, d) => {
      Stats.klDrift(Tables.documents(s, d).select("text", "lang"), "text",
          col("lang") === "en", k = 0.5, topN = 20)
        .orderBy(col("kl_term").desc, col("token"))
    },
    Some("""WITH toks AS (SELECT (lang = 'en') AS p,
                                 unnest(str_split(text, ' ')) AS token
                          FROM documents),
            c AS (SELECT token,
                         CAST(sum(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT) AS c_p,
                         CAST(sum(CASE WHEN NOT p THEN 1 ELSE 0 END) AS BIGINT) AS c_q
                  FROM toks GROUP BY 1),
            s AS (SELECT CAST(sum(c_p) AS BIGINT) AS np,
                         CAST(sum(c_q) AS BIGINT) AS nq,
                         CAST(count(*) AS BIGINT) AS v
                  FROM c),
            kt AS (SELECT token, c_p, c_q,
                          round(((c_p + 0.5) / (np + 0.5 * v))
                                * ln(((c_p + 0.5) / (np + 0.5 * v))
                                     / ((c_q + 0.5) / (nq + 0.5 * v))), 9) AS kl_term
                   FROM c, s),
            tot AS (SELECT round(sum(kl_term), 6) AS total_kl FROM kt)
            SELECT token, c_p, c_q, kl_term, total_kl
            FROM kt, tot ORDER BY kl_term DESC, token LIMIT 20"""))

  /** q86 — deterministic shard assignment
    * ([[graft.operators.Packing.shardAssign]]): the training-corpus
    * write layout — md5-assigned shard, salted-md5 within-shard
    * order — verified through per-shard counts plus a position
    * checksum `sum(doc_id·pos)` that pins every rank, not just the
    * multiset. */
  private val q86 = Q("q86_shard_assign",
    (s, d) => {
      Packing.shardAssign(Tables.documents(s, d).select("doc_id"),
          col("doc_id"), numShards = 8)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"),
          sum(col("doc_id") * col("shard_pos")).as("pos_checksum"))
        .orderBy("shard")
    },
    Some("""WITH h AS (SELECT doc_id,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                     % 8 AS shard,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|pos'), 1, 15)) AS BIGINT)
                     AS ph
                 FROM documents),
            r AS (SELECT doc_id, shard,
                         row_number() OVER (PARTITION BY shard ORDER BY ph, doc_id) AS pos
                  FROM h)
            SELECT shard, count(*) AS n_docs,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(doc_id * pos) AS BIGINT) AS pos_checksum
            FROM r GROUP BY 1 ORDER BY 1"""))

  /** q87 — deterministic weighted sampling without replacement
    * ([[graft.operators.Sampling.weightedSample]], Efraimidis-
    * Spirakis): top-50 by `ln(u)/w` with `w = n_chars` — longer
    * documents proportionally likelier, every draw md5-replayable.
    * Plans TakeOrdered (per-partition top-n, no corpus shuffle). */
  private val q87 = Q("q87_weighted_sample",
    (s, d) => {
      Sampling.weightedSample(
          Tables.documents(s, d).select("doc_id", "n_chars", "source"),
          col("doc_id"), col("n_chars").cast("double"), n = 50)
        .select(col("sample_rank"), col("doc_id"), col("n_chars"), col("source"))
        .orderBy("sample_rank")
    },
    Some("""WITH u AS (SELECT doc_id, n_chars, source,
                   (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1)
                     / 1152921504606846976.0 AS u
                 FROM documents WHERE n_chars > 0),
            e AS (SELECT doc_id, n_chars, source, ln(u) / n_chars AS es FROM u),
            r AS (SELECT row_number() OVER (ORDER BY es DESC, doc_id) AS sample_rank,
                         doc_id, n_chars, source
                  FROM e)
            SELECT sample_rank, doc_id, n_chars, source
            FROM r WHERE sample_rank <= 50 ORDER BY sample_rank"""))

  /** q88 — BPE encode ([[graft.operators.Tokenizer.encodeBpe]]): apply
    * a declared merge table — (e,r), (i,n), (o,w), this corpus's own
    * top-3 sequential merges, pinned as literals so the query is
    * scale-independent — to the word-frequency vocabulary, and report
    * the top-30 subword tokens by corpus mass. The oracle replays the
    * greedy-leftmost fold itself via `list_reduce` (the merged symbol
    * is ineligible for immediate re-merge — "aaa" under (a,a) is
    * [aa,a]), so the ENCODING, not just its statistics, is gated.
    * Training ([[graft.operators.Tokenizer.learnBpe]], a driver-round
    * argmax loop) is spec-gated — per-round argmax is not
    * SQL-expressible. */
  private val q88 = Q("q88_bpe_encode",
    (s, d) => {
      val vocab = Tokenizer.wordFreq(Tables.documents(s, d).select("text"), "text")
      Tokenizer.encodeBpe(vocab, "w", Seq("e" -> "r", "i" -> "n", "o" -> "w"))
        .select(col("freq"), explode(col("syms")).as("subword"))
        .groupBy("subword").agg(sum("freq").as("n"))
        .orderBy(col("n").desc, col("subword")).limit(30)
    },
    Some {
      def merge(inp: String, a: String, b: String) =
        s"""SELECT freq, str_split(list_reduce(syms, (acc, x) -> CASE
           |  WHEN str_split(acc, chr(31))[-1] = '$a' AND x = '$b'
           |  THEN array_to_string(list_append(list_slice(str_split(acc, chr(31)), 1,
           |         len(str_split(acc, chr(31))) - 1), '$a$b'), chr(31))
           |  ELSE acc || chr(31) || x END), chr(31)) AS syms FROM $inp""".stripMargin
      s"""WITH wf AS (SELECT w, count(*) AS freq FROM
         |         (SELECT unnest(str_split(text, ' ')) AS w FROM documents)
         |         WHERE len(w) > 1 GROUP BY 1),
         |s0 AS (SELECT freq, str_split(w, '') AS syms FROM wf),
         |s1 AS (${merge("s0", "e", "r")}),
         |s2 AS (${merge("s1", "i", "n")}),
         |s3 AS (${merge("s2", "o", "w")})
         |SELECT subword, CAST(sum(freq) AS BIGINT) AS n FROM
         |  (SELECT freq, unnest(syms) AS subword FROM s3)
         |GROUP BY 1 ORDER BY n DESC, subword LIMIT 30""".stripMargin
    })

  /** q89 — SRP hyperplane-LSH near-dup pairs
    * ([[graft.operators.Similarity.srpNearDupPairs]], Charikar
    * STOC'02): the cosine-space simhash — 16-bit signed-random-
    * projection signatures via the native codegen
    * [[graft.functions.SrpSignExpr]], pigeonhole banding (hamming ≤ 3
    * ⇒ agreement on ≥ 1 of 4 chunks, full signature-level recall),
    * exact hamming + exact cosine verification. Unlike q31's IVF
    * cells, SRP needs no centroid build — the right bucket family
    * when the corpus has no usable cluster structure. The oracle
    * derives the identical md5 plane matrix and replays every
    * signature bit, both verifications included. */
  private val q89 = Q("q89_srp_near_dups",
    (s, d) => {
      Similarity.srpNearDupPairs(Tables.embeddings(s, d), "vec_id", "embedding",
          bits = 16, maxHamming = 3, minCosine = 0.25)
        .orderBy("vec_id_1", "vec_id_2")
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            sig AS (SELECT vec_id, v,
              (SELECT CAST(sum(CASE WHEN list_dot_product(v,
                  list_transform(generate_series(0, 63), d ->
                    ((CAST(('0x' || substr(md5('srp|' || i || '|' || d), 1, 15)) AS BIGINT) + 1)
                     / 1152921504606846976.0) * 2 - 1)) > 0
                THEN CAST(1 AS BIGINT) << i ELSE 0 END) AS BIGINT)
               FROM unnest(generate_series(0, 15)) AS t(i)) AS sig
              FROM e)
            SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
                   CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming,
                   round(list_cosine_similarity(a.v, b.v), 6) AS cosine
            FROM sig a JOIN sig b ON a.vec_id < b.vec_id
            WHERE bit_count(xor(a.sig, b.sig)) <= 3
              AND round(list_cosine_similarity(a.v, b.v), 6) >= 0.25
            ORDER BY vec_id_1, vec_id_2"""))

  /** q90 — Zipf fit ([[graft.operators.Stats.zipfFit]]): OLS of
    * ln(freq) on ln(rank) over the vocabulary — the whole-corpus
    * quality signal (natural text slopes near −1; template/generated
    * text bends the curve). Closed-form sums, not `regr_slope`, so
    * both engines compute the same four aggregates and the rounded
    * outputs hash-match. */
  private val q90 = Q("q90_zipf_fit",
    (s, d) => Stats.zipfFit(Tables.documents(s, d).select("text"), "text"),
    Some("""WITH c AS (SELECT token, count(*) AS freq FROM
              (SELECT unnest(str_split(text, ' ')) AS token FROM documents)
              GROUP BY 1),
            r AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, token) AS rank
                  FROM c),
            s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                         CAST(sum(freq) AS BIGINT) AS n_tokens,
                         sum(ln(CAST(rank AS DOUBLE))) AS sx,
                         sum(ln(CAST(freq AS DOUBLE))) AS sy,
                         sum(ln(CAST(rank AS DOUBLE)) * ln(CAST(freq AS DOUBLE))) AS sxy,
                         sum(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE))) AS sxx,
                         sum(ln(CAST(freq AS DOUBLE)) * ln(CAST(freq AS DOUBLE))) AS syy
                  FROM r)
            SELECT n AS n_types, n_tokens,
                   round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
                   round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
                     AS zipf_intercept,
                   round(pow(n * sxy - sx * sy, 2)
                         / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
            FROM s"""))

  private val q91Runs = new java.util.concurrent.atomic.AtomicLong(0L)

  /** q91 — the STREAMING execution path under the oracle gate: stage
    * the documents with a deterministic ingest timestamp, run
    * [[graft.streaming.CorpusStream.sourceQualityWindows]] as an
    * actual Structured Streaming query (AvailableNow → memory sink —
    * state store, watermark and all), and hash-compare the sink
    * against batch SQL. q43/q47 gate the batch form of windowing;
    * this gates the streaming ENGINE path itself — the
    * streaming==batch equivalence the specs assert, now also held to
    * the external oracle. Sink names are counter-unique so bench
    * repetitions don't collide. */
  private val q91 = Q("q91_stream_quality_windows",
    (s, d) => {
      val dir = stagingDir("graft_q91_")
      Tables.documents(s, d)
        .withColumn("ts",
          timestamp_millis(lit(1700000000000L) + col("doc_id") * 60000L))
        .select("doc_id", "ts", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(dir)
      val sink = s"q91_sink_${q91Runs.incrementAndGet()}"
      graft.streaming.EventStream.runToMemory(
        graft.streaming.CorpusStream.sourceQualityWindows(
          graft.streaming.CorpusStream.readStream(s, dir)),
        sink, org.apache.spark.sql.streaming.OutputMode.Complete())
      // the memory sink owns the rows now; the staged source dir is dead
      dropStaging(dir)
      s.table(sink)
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("source"), col("n_docs"), col("avg_quality"),
          col("n_low_quality"), col("n_tokens"))
        .orderBy("window_start", "source")
    },
    Some("""WITH docs AS (SELECT *,
                   to_timestamp((1700000000000 + doc_id * 60000) / 1000.0) AS ts,
                   round(least(len(str_split(text, ' ')) / 60.0, 1.0) * 0.4
                       + (len(list_distinct(str_split(text, ' '))) * 1.0
                          / len(str_split(text, ' '))) * 0.3
                       + (1.0 - length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))
                          * 1.0 / greatest(length(text), 1)) * 0.3, 6) AS q
                 FROM documents)
            SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
                     AS window_start,
                   source, count(*) AS n_docs,
                   round(avg(q), 6) AS avg_quality,
                   CAST(sum(CASE WHEN q < 0.5 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_low_quality,
                   CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS n_tokens
            FROM docs GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** q92 — line-level corpus dedup ([[graft.operators.Dedup.dedupLines]],
    * the CCNet pre-pass): a per-source boilerplate line is planted on
    * every document (the crawl-header shape whole-doc dedup cannot
    * see) plus whole-doc duplicates every 13th doc; the operator must
    * keep each distinct line's earliest (doc, position) occurrence
    * and reassemble documents in order. The oracle replays the
    * line split, the md5 survivor election, and the cleaned-text
    * reassembly character-for-character (`clean_chars` pins the
    * rebuilt text, not just the counts). */
  private val q92 = Q("q92_line_dedup",
    (s, d) => {
      val base = Tables.documents(s, d).select("doc_id", "text", "source")
      val docs = base.unionByName(
          base.filter(col("doc_id") % 13 === 0)
            .withColumn("doc_id", col("doc_id") + 30000))
        .withColumn("text", concat(col("text"), lit("\n"),
          lit("BOILER "), col("source"), lit(" subscribe now")))
      Dedup.dedupLines(docs, "doc_id", "text")
        .join(docs.select("doc_id", "source"), Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_lines_in").cast("long").as("n_lines_in"),
          sum("n_lines_kept").cast("long").as("n_lines_kept"),
          sum(length(col("text"))).cast("long").as("clean_chars"))
        .orderBy("source")
    },
    Some("""WITH all_docs AS (
              SELECT doc_id, text || chr(10) || 'BOILER ' || source || ' subscribe now' AS text,
                     source FROM documents
              UNION ALL
              SELECT doc_id + 30000, text || chr(10) || 'BOILER ' || source || ' subscribe now',
                     source FROM documents WHERE doc_id % 13 = 0),
            lines AS (
              SELECT doc_id, source, i AS pos, ls[i] AS line
              FROM (SELECT doc_id, source, str_split(text, chr(10)) AS ls FROM all_docs),
                   LATERAL (SELECT unnest(generate_series(1, len(ls))) AS i)),
            fp AS (SELECT *, CAST(('0x' || substr(md5(lower(trim(line))), 1, 15)) AS BIGINT) AS fp
                   FROM lines),
            firsts AS (SELECT doc_id, pos, 1 AS keep FROM (
                         SELECT doc_id, pos,
                                row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn
                         FROM fp) WHERE rn = 1),
            flagged AS (SELECT f.doc_id, f.source, f.pos, f.line, coalesce(k.keep, 0) AS keep
                        FROM fp f LEFT JOIN firsts k USING (doc_id, pos)),
            docs2 AS (SELECT doc_id, source, count(*) AS n_in, sum(keep) AS n_kept,
                             coalesce(string_agg(CASE WHEN keep = 1 THEN line END,
                                                 chr(10) ORDER BY pos), '') AS clean
                      FROM flagged GROUP BY 1, 2)
            SELECT source, count(*) AS n_docs,
                   CAST(sum(n_in) AS BIGINT) AS n_lines_in,
                   CAST(sum(n_kept) AS BIGINT) AS n_lines_kept,
                   CAST(sum(length(clean)) AS BIGINT) AS clean_chars
            FROM docs2 GROUP BY 1 ORDER BY 1"""))

  /** q93 — SemDeDup ([[graft.operators.Similarity.semDedup]], Abbas
    * et al. 2023): semantic dedup over the embedding space — IVF-cell-
    * bucketed cosine pairs at 0.4, connected components over the pair
    * graph, min-id survivor per semantic group. The full surviving id
    * list is the gate (deletion is exactly the complement); the
    * oracle replays cell assignment, pair mining, and the component
    * closure (recursive CTE) end-to-end. */
  private val q93 = Q("q93_sem_dedup",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.semDedup(emb, Similarity.sampleCentroids(emb, 50),
          threshold = 0.4, nProbe = 2)
        .select("vec_id").orderBy("vec_id")
    },
    Some("""WITH RECURSIVE cent AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
                          FROM embeddings WHERE vec_id % 50 = 0),
            corpus AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
            acell AS (SELECT vid, ve, cell FROM (
                        SELECT vid, ve, cid AS cell,
                               row_number() OVER (PARTITION BY vid
                                 ORDER BY list_cosine_similarity(ve, ce) DESC, cid ASC) AS rn
                        FROM corpus CROSS JOIN cent) WHERE rn <= 2),
            cand AS (SELECT DISTINCT a.vid AS v1, b.vid AS v2
                     FROM acell a JOIN acell b ON a.cell = b.cell AND a.vid < b.vid),
            pairs AS (SELECT v1, v2 FROM cand
                      JOIN corpus x ON x.vid = v1
                      JOIN corpus y ON y.vid = v2
                      WHERE round(list_cosine_similarity(x.ve, y.ve), 6) >= 0.4),
            edges AS (SELECT v1 AS a, v2 AS b FROM pairs UNION ALL SELECT v2, v1 FROM pairs),
            nodes AS (SELECT DISTINCT a AS id FROM edges),
            reach(id, r) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id),
            lbl AS (SELECT id, min(r) AS label FROM reach GROUP BY id)
            SELECT vec_id FROM embeddings
            WHERE vec_id NOT IN (SELECT id FROM lbl WHERE id <> label)
            ORDER BY vec_id"""))

  /** q94 — DSIR importance weights
    * ([[graft.operators.Quality.dsirWeights]], Xie et al. NeurIPS'23):
    * hashed unigram+bigram features (512 md5 buckets), add-1-smoothed
    * target ('src0') vs raw log-likelihood ratios, per-doc importance
    * log-weights; top-25 raw docs by weight — the docs importance
    * resampling would pull toward the target distribution. Sorted on
    * the ROUNDED weight (engine-portable key, the q85 convention).
    * The oracle replays feature hashing, both smoothed distributions,
    * and every weight value-for-value. */
  private val q94 = Q("q94_dsir_weights",
    (s, d) => {
      Quality.dsirWeights(Tables.documents(s, d).select("doc_id", "text", "source"),
          "doc_id", "text", col("source") === "src0", buckets = 512)
        .where(!col("is_target"))
        .select(col("doc_id"), col("n_feats"),
          round(col("dsir_logw"), 6).as("dsir_logw"))
        .orderBy(col("dsir_logw").desc, col("doc_id"))
        .limit(25)
    },
    Some("""WITH t AS (SELECT doc_id, source, str_split(text, ' ') AS ws FROM documents),
            feats AS (
              SELECT doc_id, source = 'src0' AS is_target, g
              FROM (SELECT doc_id, source,
                           unnest(list_concat(ws,
                             list_transform(generate_series(1, len(ws) - 1),
                               i -> ws[i] || ' ' || ws[i + 1]))) AS g
                    FROM t)),
            pb AS (SELECT doc_id, is_target,
                          CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % 512 AS b,
                          count(*) AS c
                   FROM feats GROUP BY 1, 2, 3),
            dist AS (SELECT b, sum(CASE WHEN is_target THEN c ELSE 0 END) AS t,
                            sum(CASE WHEN NOT is_target THEN c ELSE 0 END) AS r
                     FROM pb GROUP BY 1),
            tot AS (SELECT CAST(sum(t) AS DOUBLE) AS tn, CAST(sum(r) AS DOUBLE) AS rn
                    FROM dist),
            ratio AS (SELECT b, ln((t + 1.0) / (tn + 512.0)) - ln((r + 1.0) / (rn + 512.0)) AS lr
                      FROM dist, tot),
            w AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feats, sum(c * lr) AS w
                  FROM pb JOIN ratio USING (b) WHERE NOT is_target GROUP BY 1)
            SELECT doc_id, n_feats, round(w, 6) AS dsir_logw
            FROM w ORDER BY round(w, 6) DESC, doc_id LIMIT 25"""))

  /** q95 — CCNet head/middle/tail perplexity bands
    * ([[graft.operators.LangModel.perplexityBuckets]]): unigram-LM
    * scores (q80's model, rounded to the engine-portable 6dp) split
    * at exact tercile cuts — one 1-row percentile aggregate broadcast
    * onto the corpus, never a global ntile sort — and rolled up per
    * (band, source). The band mean sums the 6dp scores as exact
    * MICRO-unit longs and divides once — `round(avg(double), 6)`
    * flipped band (2, src8) by one 6th-decimal ulp between 8- and
    * 32-wide runs (the r7 red row); an integer sum is the same at
    * every width. The oracle recomputes the cuts with
    * `quantile_cont` and re-bands every document. */
  private val q95 = Q("q95_ppl_buckets",
    (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text", "source")
      val lm = LangModel.unigramLm(docs, "text")
      val scored = LangModel.lmScore(docs, "doc_id", "text", lm)
        .select(col("doc_id"), round(col("avg_logp"), 6).as("score"))
        .join(docs.select("doc_id", "source"), Seq("doc_id"))
      LangModel.perplexityBuckets(scored, "score", 3)
        .groupBy(col("ppl_bucket").cast("long").as("ppl_bucket"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(sum(round(col("score") * lit(1e6), 0).cast("long")).cast("double")
            / count(lit(1)).cast("double") / lit(1e6), 6).as("avg_score"))
        .orderBy("ppl_bucket", "source")
    },
    Some("""WITH toks AS (
              SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents),
            tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
            cnt AS (SELECT token, sum(tf) AS n FROM tf GROUP BY 1),
            tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM cnt),
            lm AS (SELECT token,
                          CAST(round(ln(CAST(n AS DOUBLE) / total) * 1e9) AS BIGINT) AS lpn
                   FROM cnt, tot),
            sc AS (SELECT tf.doc_id,
                          round(CAST(sum(tf.tf * lm.lpn) AS DOUBLE)
                                  / CAST(sum(tf.tf) AS DOUBLE) / 1e9, 6) AS score
                   FROM tf JOIN lm USING (token) GROUP BY 1),
            cuts AS (SELECT round(quantile_cont(score, 1.0/3), 6) AS c0,
                            round(quantile_cont(score, 2.0/3), 6) AS c1 FROM sc),
            b AS (SELECT doc_id, score,
                         CAST(CASE WHEN score >= c1 THEN 1
                                   WHEN score >= c0 THEN 2
                                   ELSE 3 END AS BIGINT) AS ppl_bucket
                  FROM sc, cuts)
            SELECT ppl_bucket, d.source, count(*) AS n_docs,
                   round(CAST(sum(CAST(round(score * 1e6) AS BIGINT)) AS DOUBLE)
                           / CAST(count(*) AS DOUBLE) / 1e6, 6) AS avg_score
            FROM b JOIN documents d USING (doc_id)
            GROUP BY 1, 2 ORDER BY 1, 2"""))

  private val q96Runs = new java.util.concurrent.atomic.AtomicLong(0L)

  /** q96 — JSONL corpus ingest with quarantine
    * ([[graft.sources.JsonlSource]]): the documents are staged as
    * newline-delimited JSON with DELIBERATELY torn lines planted at
    * every doc_id % 97 == 0 (a truncated object — the torn-write
    * shape a crawl batch always contains), then read back through
    * the explicit-schema PERMISSIVE source. Clean rows roll up per
    * source; the quarantine count rides along as a `__quarantine`
    * audit row — every input line accounted for. The oracle knows
    * exactly which lines were torn, so it replays the split from the
    * documents table arithmetically (no JSON parsing on the oracle
    * side — the gate is on the SOURCE's split, not on DuckDB's JSON
    * dialect). */
  private val q96 = Q("q96_jsonl_ingest",
    (s, d) => {
      import org.apache.spark.sql.types._
      val docs = Tables.documents(s, d)
      val dir = stagingDir(s"graft_q96_${q96Runs.incrementAndGet()}_")
      docs.select(
          when(col("doc_id") % 97 === 0,
            concat(lit("{\"doc_id\":"), col("doc_id"), lit(",\"text\":\"")))
          .otherwise(to_json(struct(col("doc_id"), col("text"), col("lang"),
            col("source"), col("n_chars")))).as("value"))
        .write.mode("overwrite").text(dir)
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("lang", StringType),
        StructField("source", StringType), StructField("n_chars", LongType)))
      val (clean, quarantine) = graft.sources.JsonlSource.read(s, dir, schema)
      clean.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"),
          sum("n_chars").as("sum_chars"))
        .unionByName(quarantine
          .agg(count(lit(1)).as("n_docs"))
          .select(lit("__quarantine").as("source"), col("n_docs"),
            lit(null).cast("long").as("sum_ids"),
            lit(null).cast("long").as("sum_chars")))
        .orderBy("source")
    },
    Some("""SELECT source, count(*) AS n_docs,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM documents WHERE doc_id % 97 <> 0 GROUP BY 1
            UNION ALL
            SELECT '__quarantine', count(*), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
            FROM documents WHERE doc_id % 97 = 0
            ORDER BY 1"""))

  private val q97Runs = new java.util.concurrent.atomic.AtomicLong(0L)

  /** q97 — incremental IVF index maintenance
    * ([[graft.operators.Similarity.ivfStoreAppend]], the ANN twin of
    * q75's minhash append): build the cell-partitioned store from the
    * even-id half, APPEND the odd-id half (one broadcast pass over
    * the new batch only), then probe the merged store through the
    * planning-time-pruned [[graft.operators.Similarity.ivfTopKFromStore]]
    * path. Assignment is a pure function of (vector, centroids), so
    * the oracle replays a FULL build over the whole corpus — the gate
    * is append ≡ rebuild, probe pruning included (same replay as
    * q30, now held through the persisted+appended store). */
  private val q97 = Q("q97_ivf_append",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val centroids = Similarity.sampleCentroids(emb, 50)
      val dir = stagingDir(s"graft_q97_${q97Runs.incrementAndGet()}_") + "/store"
      Similarity.ivfStoreAppend(emb.filter(col("vec_id") % 2 === 0), centroids, dir)
      Similarity.ivfStoreAppend(emb.filter(col("vec_id") % 2 === 1), centroids, dir)
      Similarity.ivfTopKFromStore(s.read.parquet(dir),
          emb.filter(col("vec_id") < 10), centroids, k = 5, nProbe = 3)
        .orderBy("qid", "rank")
    },
    Some("""WITH cent AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
                          FROM embeddings WHERE vec_id % 50 = 0),
            corpus AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS ne FROM embeddings),
            acell AS (SELECT nid, ne, cell FROM (
                        SELECT nid, ne, cid AS cell,
                               row_number() OVER (PARTITION BY nid
                                 ORDER BY list_cosine_similarity(ne, ce) DESC, cid ASC) AS rn
                        FROM corpus CROSS JOIN cent) WHERE rn = 1),
            q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
                  FROM embeddings WHERE vec_id < 10),
            probes AS (SELECT qid, qe, probe_cell FROM (
                         SELECT qid, qe, cid AS probe_cell,
                                row_number() OVER (PARTITION BY qid
                                  ORDER BY list_cosine_similarity(qe, ce) DESC, cid ASC) AS rn
                         FROM q CROSS JOIN cent) WHERE rn <= 3),
            scored AS (SELECT qid, nid, list_cosine_similarity(qe, ne) AS cos
                       FROM probes JOIN acell ON probe_cell = cell AND qid <> nid)
            SELECT qid, rank, nid, round(cos, 6) AS cosine FROM (
              SELECT qid, nid, cos,
                     row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
              FROM scored)
            WHERE rank <= 5 ORDER BY qid, rank"""))

  /** q98 — Bloom-filter incremental exact dedup
    * ([[graft.operators.Dedup.bloomNewRows]]): a new batch (the
    * doc_id % 3 == 0 third of the corpus, plus re-keyed copies of
    * indexed docs planted as known duplicates) deduped against the
    * already-indexed remainder. The sketch is sized far UNDER the
    * real key count (500 at fpp 0.03) so false positives genuinely
    * occur and the exact verify join earns its keep — the oracle is
    * the plain anti-join the operator must equal at ANY fpp. */
  private val q98 = Q("q98_bloom_dedup",
    (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text", "source")
      val indexed = docs.filter(col("doc_id") % 3 =!= 0)
      val batch = docs.filter(col("doc_id") % 3 === 0)
        .unionByName(indexed.filter(col("doc_id") % 5 === 1)
          .withColumn("doc_id", col("doc_id") + 20000))
      Dedup.bloomNewRows(indexed, batch, fingerprint(col("text")),
          expectedItems = 500L, fpp = 0.03)
        .groupBy("source")
        .agg(count(lit(1)).as("n_new"), sum("doc_id").as("sum_ids"))
        .orderBy("source")
    },
    Some("""WITH indexed AS (
              SELECT doc_id, source, substr(md5(lower(trim(text))), 1, 16) AS fp
              FROM documents WHERE doc_id % 3 <> 0),
            batch AS (
              SELECT doc_id, source, substr(md5(lower(trim(text))), 1, 16) AS fp
              FROM documents WHERE doc_id % 3 = 0
              UNION ALL
              SELECT doc_id + 20000, source, substr(md5(lower(trim(text))), 1, 16)
              FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 5 = 1),
            newrows AS (
              SELECT b.* FROM batch b
              LEFT JOIN (SELECT DISTINCT fp FROM indexed) i ON b.fp = i.fp
              WHERE i.fp IS NULL)
            SELECT source, count(*) AS n_new, CAST(sum(doc_id) AS BIGINT) AS sum_ids
            FROM newrows GROUP BY 1 ORDER BY 1"""))

  /** q99 — per-doc duplicated n-gram mass
    * ([[graft.operators.Dedup.duplicateShingleFraction]], the Lee et
    * al. 2022 duplicate-n-gram diagnostic): fraction of each doc's
    * distinct trigram shingles that occur in ≥1 other doc. The oracle
    * recomputes the document-frequency table and every per-doc count;
    * rolled up into 20 doc_id buckets (integer sums + max + one exact
    * ratio per bucket — no cross-engine float-accumulation order). */
  private val q99 = Q("q99_dup_ngram_mass",
    (s, d) => {
      Dedup.duplicateShingleFraction(Tables.documents(s, d), "doc_id", "text")
        .groupBy((col("doc_id") % 20).as("doc_bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum("n_shingles").as("sum_shingles"),
          sum("n_duplicated").as("sum_duplicated"),
          max("n_duplicated").as("max_duplicated"),
          round(sum("n_duplicated") * lit(100.0) / sum("n_shingles"), 4)
            .as("bucket_dup_pct"))
        .orderBy("doc_bucket")
    },
    Some("""WITH sh AS (
              SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(ws) - 2),
                i -> array_to_string(list_slice(ws, i, i + 2), ' ')))) AS s
              FROM (SELECT doc_id, str_split(text, ' ') AS ws FROM documents)
              WHERE len(ws) >= 3),
            hs AS (SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h
                   FROM sh),
            dfreq AS (SELECT h, count(*) AS df FROM hs GROUP BY 1),
            per_doc AS (
              SELECT doc_id, count(*) AS n_shingles,
                     CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_duplicated
              FROM hs JOIN dfreq USING (h) GROUP BY 1)
            SELECT doc_id % 20 AS doc_bucket, count(*) AS n_docs,
                   CAST(sum(n_shingles) AS BIGINT) AS sum_shingles,
                   CAST(sum(n_duplicated) AS BIGINT) AS sum_duplicated,
                   CAST(max(n_duplicated) AS BIGINT) AS max_duplicated,
                   round(sum(n_duplicated) * 100.0 / sum(n_shingles), 4)
                     AS bucket_dup_pct
            FROM per_doc GROUP BY 1 ORDER BY 1"""))

  /** q100 — per-domain corpus profile
    * ([[graft.operators.Quality.domainProfile]]): messy synthetic URLs
    * (mixed-case scheme/host, credentials, default port) per doc plus
    * planted exact-duplicate docs; the host extraction, token mass,
    * distinct-content count and exact dup ratio are all replayed by
    * the oracle per domain. */
  private val q100 = Q("q100_domain_profile",
    (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text", "source")
      val all = docs.unionByName(docs.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 50000))
      Quality.domainProfile(all,
          concat(lit("HTTPS://User@WWW."), col("source"),
            lit(".Example.COM:443/p/"), col("doc_id")),
          col("text"))
        .orderBy("domain")
    },
    Some("""WITH all_docs AS (
              SELECT doc_id, text, source FROM documents
              UNION ALL
              SELECT doc_id + 50000, text, source FROM documents WHERE doc_id % 7 = 0),
            u AS (
              SELECT lower(regexp_extract(
                       concat('HTTPS://User@WWW.', source, '.Example.COM:443/p/',
                              CAST(doc_id AS VARCHAR)),
                       '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)', 1))
                       AS domain,
                     len(str_split(text, ' ')) AS tok,
                     substr(md5(lower(trim(text))), 1, 16) AS fp
              FROM all_docs)
            SELECT domain, count(*) AS n_docs,
                   CAST(sum(tok) AS BIGINT) AS sum_tokens,
                   count(DISTINCT fp) AS n_distinct,
                   round((count(*) - count(DISTINCT fp)) * 100.0 / count(*), 4)
                     AS dup_pct
            FROM u GROUP BY 1 ORDER BY 1"""))

  /** q101 — Unicode text normalization
    * ([[graft.functions.TextFunctions.normalizeText]], native NFC via
    * [[graft.functions.NfcNormalizeExpr]]): the same visible prefix is
    * planted in COMPOSED (U+00E9) and DECOMPOSED (e + U+0301) form
    * with different case and whitespace shape; after normalization the
    * two variants must be byte-identical, and the oracle (DuckDB
    * nfc_normalize) recomputes every normalized fingerprint. */
  private val q101 = Q("q101_text_normalize",
    (s, d) => {
      val t = col("text")
      val composed = concat(lit("Café Touché "), t)
      val decomposed = concat(lit("Café   touchÉ\t"), t)
      Tables.documents(s, d).filter(col("doc_id") < 200)
        .select(col("doc_id"),
          (normalizeText(composed) === normalizeText(decomposed))
            .cast("int").as("variants_collapse"),
          length(normalizeText(composed)).cast("long").as("norm_len"),
          substring(md5(normalizeText(composed)), 1, 16).as("norm_fp"))
        .orderBy("doc_id")
    },
    Some("""WITH v AS (
              SELECT doc_id,
                     trim(regexp_replace(lower(nfc_normalize(
                       concat('Caf', chr(233), ' Touch', chr(233), ' ', text))),
                       '\s+', ' ', 'g')) AS norm_a,
                     trim(regexp_replace(lower(nfc_normalize(
                       concat('Cafe', chr(769), '   touchE', chr(769), chr(9), text))),
                       '\s+', ' ', 'g')) AS norm_b
              FROM documents WHERE doc_id < 200)
            SELECT doc_id,
                   CAST(norm_a = norm_b AS INT) AS variants_collapse,
                   CAST(length(norm_a) AS BIGINT) AS norm_len,
                   substr(md5(norm_a), 1, 16) AS norm_fp
            FROM v ORDER BY doc_id"""))

  /** q102 — exact-substring duplicate removal
    * ([[graft.operators.Dedup.removeDuplicatedSpans]], the rewrite
    * step of Lee et al. 2022's ExactSubstr dedup): wholesale clones
    * planted for every 11th doc must come back EMPTY (their every
    * span keeps only its first occurrence), natural shared phrases
    * lose their interiors, earliest docs keep everything. The oracle
    * replays token election and reassembly and fingerprints every
    * cleaned text byte-for-byte. */
  private val q102 = Q("q102_substr_dedup",
    (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val withClones = docs.unionByName(docs.filter(col("doc_id") % 11 === 0)
        .withColumn("doc_id", col("doc_id") + 30000))
      Dedup.removeDuplicatedSpans(withClones, "doc_id", "text", shingleSize = 5)
        .filter(col("doc_id") < 150 || col("doc_id") >= 30000)
        .select(col("doc_id"), col("n_tokens_in"), col("n_tokens_kept"),
          fingerprint(col("text")).as("clean_fp"))
        .orderBy("doc_id")
    },
    Some("""WITH all_docs AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 30000, text FROM documents WHERE doc_id % 11 = 0),
            ws AS (SELECT doc_id, str_split(text, ' ') AS ws FROM all_docs),
            toks AS (SELECT doc_id, i - 1 AS tp, ws[i] AS tok
                     FROM ws, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)),
            hs AS (SELECT doc_id, i - 1 AS p,
                          CAST(('0x' || substr(md5(array_to_string(
                                 list_slice(ws, i, i + 4), ' ')), 1, 15)) AS BIGINT) AS h
                   FROM ws, LATERAL (SELECT unnest(generate_series(1, len(ws) - 4)) AS i)
                   WHERE len(ws) >= 5),
            dfc AS (SELECT h, count(DISTINCT doc_id) AS df FROM hs GROUP BY 1),
            firsts AS (SELECT h, doc_id AS o_id, p AS o_p FROM (
                         SELECT h, doc_id, p,
                                row_number() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn
                         FROM hs) WHERE rn = 1),
            occ AS (SELECT hs.doc_id, hs.p, (df >= 2) AS dup,
                           (hs.doc_id = o_id AND hs.p = o_p) AS owner
                    FROM hs JOIN dfc USING (h) JOIN firsts USING (h)),
            cover AS (SELECT doc_id, p + j AS tp,
                             bool_and(dup) AS alldup, bool_or(owner) AS anyown
                      FROM occ, LATERAL (SELECT unnest(generate_series(0, 4)) AS j)
                      GROUP BY 1, 2),
            marked AS (SELECT t.doc_id, t.tp, t.tok,
                              NOT (coalesce(alldup, false)
                                   AND NOT coalesce(anyown, false)) AS keep
                       FROM toks t LEFT JOIN cover c
                         ON t.doc_id = c.doc_id AND t.tp = c.tp)
            SELECT doc_id,
                   count(*) AS n_tokens_in,
                   CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_tokens_kept,
                   substr(md5(lower(trim(coalesce(array_to_string(
                     list(tok ORDER BY tp) FILTER (WHERE keep), ' '), '')))), 1, 16)
                     AS clean_fp
            FROM marked
            WHERE doc_id < 150 OR doc_id >= 30000
            GROUP BY 1 ORDER BY 1"""))

  /** q103 — HTML text extraction
    * ([[graft.functions.TextFunctions.stripHtml]]): every doc is
    * wrapped in realistic crawl markup (head/style/script blocks with
    * operators and quotes inside, attributes, comments, entities
    * including the `&amp;lt;` double-escape trap) and the extracted
    * visible text is fingerprinted byte-for-byte by an oracle running
    * the identical RE2-compatible chain. */
  private val q103 = Q("q103_html_extract",
    (s, d) => {
      val html = concat(
        lit("<html><head><title>D"), col("doc_id"),
        lit("</title><style type=\"text/css\">p { color: red }</style>" +
          "<script>if (1 < 2) { alert(\"x&y\"); }</script></head>" +
          "<body><h1>Heading &amp; more</h1><p class=\"x\">"),
        col("text"),
        lit("</p><br/><!-- hidden --> &amp;lt;raw&gt; &nbsp;&#39;q&#39;" +
          "</body></html>"))
      Tables.documents(s, d).filter(col("doc_id") < 200)
        .select(col("doc_id"),
          length(stripHtml(html)).cast("long").as("ext_len"),
          substring(md5(stripHtml(html)), 1, 16).as("ext_fp"))
        .orderBy("doc_id")
    },
    Some("""WITH h AS (
              SELECT doc_id,
                     concat('<html><head><title>D', CAST(doc_id AS VARCHAR),
                            '</title><style type="text/css">p { color: red }</style>',
                            '<script>if (1 < 2) { alert("x&y"); }</script></head>',
                            '<body><h1>Heading &amp; more</h1><p class="x">',
                            text,
                            '</p><br/><!-- hidden --> &amp;lt;raw&gt; &nbsp;&#39;q&#39;',
                            '</body></html>') AS html
              FROM documents WHERE doc_id < 200),
            x AS (
              SELECT doc_id,
                     trim(regexp_replace(
                       replace(replace(replace(replace(replace(replace(
                         regexp_replace(
                           regexp_replace(
                             regexp_replace(
                               regexp_replace(html,
                                 '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                               '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                             '(?s)<!--.*?-->', ' ', 'g'),
                           '<[^>]+>', ' ', 'g'),
                         '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                         '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
                       '\s+', ' ', 'g')) AS extracted
              FROM h)
            SELECT doc_id, CAST(length(extracted) AS BIGINT) AS ext_len,
                   substr(md5(extracted), 1, 16) AS ext_fp
            FROM x ORDER BY doc_id"""))

  /** q104 — BM25 keyword retrieval
    * ([[graft.operators.Tfidf.bm25TopK]]): top-25 docs for a
    * three-term query mixing one rare term (`dup`, df≈5% of docs)
    * with two common ones, so idf genuinely drives the ranking. The
    * oracle recomputes tf/df/avgdl and every per-term contribution
    * in the exact micro-unit arithmetic the operator uses. */
  private val q104 = Q("q104_bm25_topk",
    (s, d) => Tfidf.bm25TopK(Tables.documents(s, d), "doc_id", "text",
      Seq("dup", "vector", "merge"), k = 25),
    Some("""WITH toks AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
            stats AS (SELECT count(*) AS n_docs, avg(len(ws)) AS avgdl FROM toks),
            tf AS (SELECT doc_id, len(ws) AS dl, w AS term, count(*) AS tf
                   FROM toks, LATERAL (SELECT unnest(ws) AS w)
                   WHERE w IN ('dup', 'vector', 'merge')
                   GROUP BY 1, 2, 3),
            dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            c AS (SELECT doc_id,
                         CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                           * (tf * (CAST(1.2 AS DOUBLE) + 1))
                           / (tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl / avgdl)))
                           * 1000000) AS BIGINT) AS micros
                  FROM tf JOIN dfc USING (term) CROSS JOIN stats)
            SELECT doc_id, CAST(sum(micros) AS BIGINT) AS bm25_micros,
                   count(*) AS n_terms
            FROM c GROUP BY 1
            ORDER BY bm25_micros DESC, doc_id LIMIT 25"""))

  /** q105 — quality-aware survivor election
    * ([[graft.operators.Dedup.electSurvivors]]): every 7th doc gets a
    * punctuation-damaged variant (` !!!` appended) that collapses to
    * the same punctuation-stripped content key; pairs from the key
    * self-join chain through [[graft.operators.Dedup.connectedComponents]]
    * and the election keeps the member with the higher
    * [[graft.functions.TextFunctions.qualityScore]] (the damage moves
    * token count, richness, AND punct ratio, so argmax direction
    * varies per doc — ties pin to min id). The oracle replays key
    * grouping (cliques ≡ components), the full quality formula, and
    * the rank election. */
  private val q105 = Q("q105_quality_survivors",
    (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val variants = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 40000).as("doc_id"),
          concat(col("text"), lit(" !!!")).as("text"))
      val all = docs.unionByName(variants)
      val keyed = all.select(col("doc_id"),
        md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""))).as("k"))
      val pairs = keyed.as("a").join(keyed.as("b"),
          col("a.k") === col("b.k") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"))
      val clusters = Dedup.connectedComponents(pairs)
      Dedup.electSurvivors(all, "doc_id", clusters, qualityScore(col("text")))
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_docs"), sum("id").as("sum_ids"),
          max(when(col("is_survivor"), col("id"))).as("survivor_id"),
          max(when(col("is_survivor"), col("q"))).as("survivor_q"))
        .orderBy("cluster_id")
    },
    Some("""WITH all_docs AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 40000, text || ' !!!' FROM documents WHERE doc_id % 7 = 0),
            keyed AS (
              SELECT doc_id, text,
                     md5(trim(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))) AS k,
                     str_split(text, ' ') AS ws
              FROM all_docs),
            scored AS (
              SELECT doc_id, k,
                     round(least(len(ws) / 60.0, 1.0) * 0.4
                       + (CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)) * 0.3
                       + (1.0 - CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))
                                 AS DOUBLE) / greatest(length(text), 1)) * 0.3,
                       6) AS q
              FROM keyed),
            cl AS (SELECT *, min(doc_id) OVER (PARTITION BY k) AS cluster_id,
                          count(*) OVER (PARTITION BY k) AS n_in_key
                   FROM scored),
            r AS (SELECT *, row_number() OVER (
                      PARTITION BY cluster_id ORDER BY q DESC, doc_id) AS rn
                  FROM cl WHERE n_in_key >= 2)
            SELECT cluster_id, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   max(CASE WHEN rn = 1 THEN doc_id END) AS survivor_id,
                   max(CASE WHEN rn = 1 THEN q END) AS survivor_q
            FROM r GROUP BY 1 ORDER BY 1"""))

  /** q106 — suffix-aware domain blocklist
    * ([[graft.operators.Quality.blockedHosts]]): synthetic hosts put
    * every doc under `{cdn.}?{source}.example.{com|org}`; blocking
    * `example.org` must catch every .org doc THROUGH the suffix walk
    * while the exact entry `cdn.src3.example.com` must NOT leak onto
    * its sibling `src3.example.com`. The oracle resolves the same
    * blocklist with exact-or-dot-suffix matching. */
  private val q106 = Q("q106_domain_blocklist",
    (s, d) => {
      import s.implicits._
      val host = lower(concat(
        when(col("doc_id") % 3 === 0, lit("cdn.")).otherwise(lit("")),
        col("source"),
        when(col("doc_id") % 2 === 0, lit(".example.com"))
          .otherwise(lit(".example.org"))))
      val withHost = Tables.documents(s, d).select(col("doc_id"), host.as("host"))
      val blocklist = Seq("example.org", "cdn.src3.example.com").toDF("domain")
      val blocked = Quality.blockedHosts(withHost, "host", blocklist, "domain")
      withHost.filter(col("doc_id") < 300)
        .join(blocked.withColumn("blocked", lit(1)), Seq("host"), "left")
        .select(col("doc_id"), col("host"),
          coalesce(col("blocked"), lit(0)).as("blocked"))
        .orderBy("doc_id")
    },
    Some("""WITH h AS (
              SELECT doc_id,
                     lower(concat(CASE WHEN doc_id % 3 = 0 THEN 'cdn.' ELSE '' END,
                            source,
                            CASE WHEN doc_id % 2 = 0 THEN '.example.com'
                                 ELSE '.example.org' END)) AS host
              FROM documents WHERE doc_id < 300),
            b AS (SELECT unnest(['example.org', 'cdn.src3.example.com']) AS domain)
            SELECT doc_id, host,
                   CAST(EXISTS (SELECT 1 FROM b
                                WHERE host = domain
                                   OR host LIKE '%.' || domain) AS INT) AS blocked
            FROM h ORDER BY doc_id"""))

  /** q107 — Gopher-style composite quality rules
    * ([[graft.operators.Quality.gopherRules]]): thresholds chosen so
    * the corpus genuinely splits on every rule (word count 30..90
    * against a 10..99 distribution, mean word length ≥ 4.0 against a
    * 3.7..5.3 spread, ≥ 2 stopword hits), and the oracle replays the
    * arithmetic and flags rule-for-rule. */
  private val q107 = Q("q107_gopher_rules",
    (s, d) => {
      Quality.gopherRules(Tables.documents(s, d).filter(col("doc_id") < 300),
          "doc_id", "text",
          minWords = 30, maxWords = 90, minMeanWordLen = 4.0,
          maxMeanWordLen = 10.0, maxPunctRatio = 0.2, minStopwords = 2)
        .select(col("doc_id"), col("n_words"), col("mean_word_len"),
          col("r_word_count").cast("int").as("r_word_count"),
          col("r_word_len").cast("int").as("r_word_len"),
          col("r_punct").cast("int").as("r_punct"),
          col("r_stopwords").cast("int").as("r_stopwords"),
          col("keep").cast("int").as("keep"))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (
              SELECT doc_id, text, str_split(text, ' ') AS ws,
                     len(str_split(text, ' ')) AS n,
                     CAST(length(text) - (len(str_split(text, ' ')) - 1) AS DOUBLE)
                       / len(str_split(text, ' ')) AS mean_len,
                     CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                       / greatest(length(text), 1) AS punct,
                     len(regexp_extract_all(text, '\b(the|a|and|of|to)\b')) AS stop
              FROM documents WHERE doc_id < 300)
            SELECT doc_id, n AS n_words, round(mean_len, 6) AS mean_word_len,
                   CAST(n >= 30 AND n <= 90 AS INT) AS r_word_count,
                   CAST(mean_len >= 4.0 AND mean_len <= 10.0 AS INT) AS r_word_len,
                   CAST(punct <= 0.2 AS INT) AS r_punct,
                   CAST(stop >= 2 AS INT) AS r_stopwords,
                   CAST(n >= 30 AND n <= 90 AND mean_len >= 4.0 AND mean_len <= 10.0
                        AND punct <= 0.2 AND stop >= 2 AS INT) AS keep
            FROM t ORDER BY doc_id"""))

  /** q108 — k-center greedy coreset selection
    * ([[graft.operators.Similarity.kCenterGreedy]], Sener &
    * Savarese ICLR 2018): 6 farthest-point rounds over the
    * embeddings, min-id seed, ties to min id. The oracle unrolls
    * every round — seed, per-round argmax of the maintained
    * min-distance-to-selected (6dp-rounded at every fold so both
    * engines compare identical doubles; selected ids excluded), and
    * the `least` fold — with DuckDB's native list_distance,
    * value-matching each pick AND its selection radius. */
  private val q108 = Q("q108_kcenter_coreset",
    (s, d) => Similarity.kCenterGreedy(
      Tables.embeddings(s, d).filter(col("vec_id") < 200), k = 6),
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings WHERE vec_id < 200),
            c1 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
            d1 AS (SELECT e.vec_id, e.v, round(list_distance(e.v, c1.v), 6) AS mind
                   FROM e, c1),
            c2 AS (SELECT * FROM d1
                   WHERE vec_id NOT IN (SELECT vec_id FROM c1)
                   ORDER BY mind DESC, vec_id LIMIT 1),
            d2 AS (SELECT d.vec_id, d.v,
                          least(d.mind, round(list_distance(d.v, c2.v), 6)) AS mind
                   FROM d1 d, c2),
            c3 AS (SELECT * FROM d2
                   WHERE vec_id NOT IN (SELECT vec_id FROM c1
                                        UNION ALL SELECT vec_id FROM c2)
                   ORDER BY mind DESC, vec_id LIMIT 1),
            d3 AS (SELECT d.vec_id, d.v,
                          least(d.mind, round(list_distance(d.v, c3.v), 6)) AS mind
                   FROM d2 d, c3),
            c4 AS (SELECT * FROM d3
                   WHERE vec_id NOT IN (SELECT vec_id FROM c1
                                        UNION ALL SELECT vec_id FROM c2
                                        UNION ALL SELECT vec_id FROM c3)
                   ORDER BY mind DESC, vec_id LIMIT 1),
            d4 AS (SELECT d.vec_id, d.v,
                          least(d.mind, round(list_distance(d.v, c4.v), 6)) AS mind
                   FROM d3 d, c4),
            c5 AS (SELECT * FROM d4
                   WHERE vec_id NOT IN (SELECT vec_id FROM c1
                                        UNION ALL SELECT vec_id FROM c2
                                        UNION ALL SELECT vec_id FROM c3
                                        UNION ALL SELECT vec_id FROM c4)
                   ORDER BY mind DESC, vec_id LIMIT 1),
            d5 AS (SELECT d.vec_id, d.v,
                          least(d.mind, round(list_distance(d.v, c5.v), 6)) AS mind
                   FROM d4 d, c5),
            c6 AS (SELECT * FROM d5
                   WHERE vec_id NOT IN (SELECT vec_id FROM c1
                                        UNION ALL SELECT vec_id FROM c2
                                        UNION ALL SELECT vec_id FROM c3
                                        UNION ALL SELECT vec_id FROM c4
                                        UNION ALL SELECT vec_id FROM c5)
                   ORDER BY mind DESC, vec_id LIMIT 1)
            SELECT 1 AS rank, (SELECT vec_id FROM c1) AS vec_id,
                   CAST(NULL AS DOUBLE) AS sel_dist
            UNION ALL SELECT 2, (SELECT vec_id FROM c2), (SELECT mind FROM c2)
            UNION ALL SELECT 3, (SELECT vec_id FROM c3), (SELECT mind FROM c3)
            UNION ALL SELECT 4, (SELECT vec_id FROM c4), (SELECT mind FROM c4)
            UNION ALL SELECT 5, (SELECT vec_id FROM c5), (SELECT mind FROM c5)
            UNION ALL SELECT 6, (SELECT vec_id FROM c6), (SELECT mind FROM c6)
            ORDER BY rank"""))

  /** q109 — maximal-marginal-relevance re-ranking
    * ([[graft.operators.Similarity.mmrRerank]], Carbonell &
    * Goldstein SIGIR 1998): top-20 cosine candidates for query
    * vector 0, then 5 greedy MMR picks at lambda=0.7. Every
    * relevance and pairwise similarity is rounded to 6dp BEFORE the
    * selection arithmetic on both engines, so the greedy argmax
    * compares identical doubles; the oracle unrolls all 5 picks
    * (penalty = max rounded cosine to the selected-so-far union,
    * `(1 - 0.7)` spelled as arithmetic so both engines fold the
    * same IEEE constant). */
  private val q109 = Q("q109_mmr_rerank",
    (s, d) => {
      val emb = Tables.embeddings(s, d).filter(col("vec_id") < 200)
      Similarity.mmrRerank(emb, emb.filter(col("vec_id") === 0),
        nCandidates = 20, k = 5, lambda = 0.7)
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings WHERE vec_id < 200),
            q AS (SELECT v FROM e WHERE vec_id = 0),
            cand AS (SELECT e.vec_id, e.v,
                            round(list_cosine_similarity(e.v, q.v), 6) AS rel
                     FROM e, q WHERE e.vec_id <> 0
                     ORDER BY list_cosine_similarity(e.v, q.v) DESC, e.vec_id
                     LIMIT 20),
            s1 AS (SELECT vec_id, v, rel, rel AS score FROM cand
                   ORDER BY rel DESC, vec_id LIMIT 1),
            u1 AS (SELECT vec_id, v FROM s1),
            m2 AS (SELECT c.vec_id, c.v, c.rel,
                          0.7 * c.rel - (1 - CAST(0.7 AS DOUBLE)) *
                            (SELECT max(round(list_cosine_similarity(c.v, s.v), 6))
                             FROM u1 s) AS score
                   FROM cand c
                   WHERE c.vec_id NOT IN (SELECT vec_id FROM u1)),
            s2 AS (SELECT * FROM m2 ORDER BY score DESC, vec_id LIMIT 1),
            u2 AS (SELECT * FROM u1 UNION ALL SELECT vec_id, v FROM s2),
            m3 AS (SELECT c.vec_id, c.v, c.rel,
                          0.7 * c.rel - (1 - CAST(0.7 AS DOUBLE)) *
                            (SELECT max(round(list_cosine_similarity(c.v, s.v), 6))
                             FROM u2 s) AS score
                   FROM cand c
                   WHERE c.vec_id NOT IN (SELECT vec_id FROM u2)),
            s3 AS (SELECT * FROM m3 ORDER BY score DESC, vec_id LIMIT 1),
            u3 AS (SELECT * FROM u2 UNION ALL SELECT vec_id, v FROM s3),
            m4 AS (SELECT c.vec_id, c.v, c.rel,
                          0.7 * c.rel - (1 - CAST(0.7 AS DOUBLE)) *
                            (SELECT max(round(list_cosine_similarity(c.v, s.v), 6))
                             FROM u3 s) AS score
                   FROM cand c
                   WHERE c.vec_id NOT IN (SELECT vec_id FROM u3)),
            s4 AS (SELECT * FROM m4 ORDER BY score DESC, vec_id LIMIT 1),
            u4 AS (SELECT * FROM u3 UNION ALL SELECT vec_id, v FROM s4),
            m5 AS (SELECT c.vec_id, c.v, c.rel,
                          0.7 * c.rel - (1 - CAST(0.7 AS DOUBLE)) *
                            (SELECT max(round(list_cosine_similarity(c.v, s.v), 6))
                             FROM u4 s) AS score
                   FROM cand c
                   WHERE c.vec_id NOT IN (SELECT vec_id FROM u4)),
            s5 AS (SELECT * FROM m5 ORDER BY score DESC, vec_id LIMIT 1)
            SELECT 1 AS rank, vec_id, rel, round(score, 6) AS mmr_score FROM s1
            UNION ALL SELECT 2, vec_id, rel, round(score, 6) FROM s2
            UNION ALL SELECT 3, vec_id, rel, round(score, 6) FROM s3
            UNION ALL SELECT 4, vec_id, rel, round(score, 6) FROM s4
            UNION ALL SELECT 5, vec_id, rel, round(score, 6) FROM s5
            ORDER BY rank"""))

  /** The q110/q111/q114 synthetic link graph: 3 md5-drawn out-links
    * per non-dangling doc (every 5th doc emits none, so dangling-mass
    * handling genuinely runs). */
  private def linkEdges(s: org.apache.spark.sql.SparkSession, d: String) = {
    val dsts = array((0 to 2).map(j =>
      pmod(md5Long(concat(col("doc_id").cast("string"), lit(s"|e$j"))),
        lit(400))): _*)
    Tables.documents(s, d).filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id").as("src"), explode(dsts).as("dst"))
  }

  /** q110 — PageRank link authority
    * ([[graft.operators.Graph.pageRank]]): 3 power iterations at
    * d=0.85 over [[linkEdges]]. Ranks round to 9dp per iteration so
    * the oracle unrolls all three value-for-value; the damping
    * constants are spelled as double CASTs (DuckDB folds bare
    * decimal literals exactly, the engines' one arithmetic
    * divergence). */
  private val q110 = Q("q110_pagerank",
    (s, d) => {
      graft.operators.Graph.pageRank(linkEdges(s, d), "src", "dst", iters = 3)
        .orderBy(col("rank").desc, col("id")).limit(50)
    },
    Some("""WITH ed AS (
              SELECT doc_id AS src,
                     CAST(('0x' || substr(md5(concat(CAST(doc_id AS VARCHAR),
                       '|e', CAST(j AS VARCHAR))), 1, 15)) AS BIGINT) % 400 AS dst
              FROM documents, (SELECT unnest(generate_series(0, 2)) AS j)
              WHERE doc_id % 5 <> 0),
            nodes AS (SELECT src AS id FROM ed UNION SELECT dst FROM ed),
            nn AS (SELECT count(*) AS n FROM nodes),
            od AS (SELECT src AS id, count(*) AS outdeg FROM ed GROUP BY 1),
            r0 AS (SELECT id, round(CAST(1 AS DOUBLE) / n, 9) AS r FROM nodes, nn),
            dm0 AS (SELECT coalesce(sum(r), 0.0) AS dm
                    FROM r0 LEFT JOIN od USING (id) WHERE outdeg IS NULL),
            c0 AS (SELECT ed.dst AS id, sum(r0.r / od.outdeg) AS c
                   FROM ed JOIN r0 ON ed.src = r0.id JOIN od ON ed.src = od.id
                   GROUP BY 1),
            r1 AS (SELECT nodes.id,
                          round((CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                              * (CAST(1 AS DOUBLE) / n)
                            + CAST(0.85 AS DOUBLE)
                              * (coalesce(c.c, 0.0)
                                 + dm0.dm * (CAST(1 AS DOUBLE) / n)), 9) AS r
                   FROM nodes LEFT JOIN c0 c USING (id), nn, dm0),
            dm1 AS (SELECT coalesce(sum(r), 0.0) AS dm
                    FROM r1 LEFT JOIN od USING (id) WHERE outdeg IS NULL),
            c1 AS (SELECT ed.dst AS id, sum(r1.r / od.outdeg) AS c
                   FROM ed JOIN r1 ON ed.src = r1.id JOIN od ON ed.src = od.id
                   GROUP BY 1),
            r2 AS (SELECT nodes.id,
                          round((CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                              * (CAST(1 AS DOUBLE) / n)
                            + CAST(0.85 AS DOUBLE)
                              * (coalesce(c.c, 0.0)
                                 + dm1.dm * (CAST(1 AS DOUBLE) / n)), 9) AS r
                   FROM nodes LEFT JOIN c1 c USING (id), nn, dm1),
            dm2 AS (SELECT coalesce(sum(r), 0.0) AS dm
                    FROM r2 LEFT JOIN od USING (id) WHERE outdeg IS NULL),
            c2 AS (SELECT ed.dst AS id, sum(r2.r / od.outdeg) AS c
                   FROM ed JOIN r2 ON ed.src = r2.id JOIN od ON ed.src = od.id
                   GROUP BY 1),
            r3 AS (SELECT nodes.id,
                          round((CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                              * (CAST(1 AS DOUBLE) / n)
                            + CAST(0.85 AS DOUBLE)
                              * (coalesce(c.c, 0.0)
                                 + dm2.dm * (CAST(1 AS DOUBLE) / n)), 9) AS r
                   FROM nodes LEFT JOIN c2 c USING (id), nn, dm2)
            SELECT id, round(r, 6) AS rank FROM r3
            ORDER BY rank DESC, id LIMIT 50"""))

  /** q111 — HITS hubs and authorities
    * ([[graft.operators.Graph.hits]]): 2 synchronous iterations over
    * the q110 link graph, auth-from-hub then hub-from-NEW-auth, each
    * half-step L2-normalized and 9dp-rounded. The oracle unrolls
    * both iterations with the identical normalize-round chain. */
  private val q111 = Q("q111_hits",
    (s, d) => {
      graft.operators.Graph.hits(linkEdges(s, d), "src", "dst", iters = 2)
        .orderBy(col("authority").desc, col("id")).limit(50)
    },
    Some("""WITH ed AS (
              SELECT doc_id AS src,
                     CAST(('0x' || substr(md5(concat(CAST(doc_id AS VARCHAR),
                       '|e', CAST(j AS VARCHAR))), 1, 15)) AS BIGINT) % 400 AS dst
              FROM documents, (SELECT unnest(generate_series(0, 2)) AS j)
              WHERE doc_id % 5 <> 0),
            nodes AS (SELECT src AS id FROM ed UNION SELECT dst FROM ed),
            h0 AS (SELECT id, CAST(1 AS DOUBLE) AS hub FROM nodes),
            a1r AS (SELECT n.id, coalesce(s.x, 0.0) AS auth
                    FROM nodes n LEFT JOIN
                      (SELECT ed.dst AS id, sum(h0.hub) AS x
                       FROM ed JOIN h0 ON ed.src = h0.id GROUP BY 1) s
                      USING (id)),
            a1n AS (SELECT sqrt(sum(auth * auth)) AS nrm FROM a1r),
            a1 AS (SELECT id, round(auth / nrm, 9) AS auth FROM a1r, a1n),
            h1r AS (SELECT n.id, coalesce(s.x, 0.0) AS hub
                    FROM nodes n LEFT JOIN
                      (SELECT ed.src AS id, sum(a1.auth) AS x
                       FROM ed JOIN a1 ON ed.dst = a1.id GROUP BY 1) s
                      USING (id)),
            h1n AS (SELECT sqrt(sum(hub * hub)) AS nrm FROM h1r),
            h1 AS (SELECT id, round(hub / nrm, 9) AS hub FROM h1r, h1n),
            a2r AS (SELECT n.id, coalesce(s.x, 0.0) AS auth
                    FROM nodes n LEFT JOIN
                      (SELECT ed.dst AS id, sum(h1.hub) AS x
                       FROM ed JOIN h1 ON ed.src = h1.id GROUP BY 1) s
                      USING (id)),
            a2n AS (SELECT sqrt(sum(auth * auth)) AS nrm FROM a2r),
            a2 AS (SELECT id, round(auth / nrm, 9) AS auth FROM a2r, a2n),
            h2r AS (SELECT n.id, coalesce(s.x, 0.0) AS hub
                    FROM nodes n LEFT JOIN
                      (SELECT ed.src AS id, sum(a2.auth) AS x
                       FROM ed JOIN a2 ON ed.dst = a2.id GROUP BY 1) s
                      USING (id)),
            h2n AS (SELECT sqrt(sum(hub * hub)) AS nrm FROM h2r),
            h2 AS (SELECT id, round(hub / nrm, 9) AS hub FROM h2r, h2n)
            SELECT a2.id, round(a2.auth, 6) AS authority, round(h2.hub, 6) AS hub
            FROM a2 JOIN h2 USING (id)
            ORDER BY authority DESC, id LIMIT 50"""))

  /** q112 — tokenizer vocabulary coverage
    * ([[graft.operators.Tokenizer.vocabCoverage]]): with the word
    * vocab capped at the top 20 of the corpus's 31 types, per-source
    * token-instance OOV mass and distinct OOV types — the oracle
    * re-elects the vocabulary (pinned freq-desc/word-asc cut) and
    * recomputes every per-source count. */
  private val q112 = Q("q112_vocab_coverage",
    (s, d) => Tokenizer.vocabCoverage(Tables.documents(s, d), "text", "source",
        vocabSize = 20)
      .orderBy("source"),
    Some("""WITH wf AS (SELECT w, count(*) AS freq
                        FROM (SELECT unnest(str_split(text, ' ')) AS w
                              FROM documents)
                        WHERE length(w) > 1 GROUP BY 1),
            v AS (SELECT w FROM (
                    SELECT w, row_number() OVER (ORDER BY freq DESC, w) AS rk
                    FROM wf) WHERE rk <= 20),
            t AS (SELECT source, w, count(*) AS n
                  FROM (SELECT source, unnest(str_split(text, ' ')) AS w
                        FROM documents)
                  WHERE length(w) > 1 GROUP BY 1, 2)
            SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
                   CAST(coalesce(sum(CASE WHEN v.w IS NULL THEN n END), 0)
                     AS BIGINT) AS n_oov_tokens,
                   count(CASE WHEN v.w IS NULL THEN 1 END) AS n_oov_types,
                   round(coalesce(sum(CASE WHEN v.w IS NULL THEN n END), 0)
                     * 100.0 / sum(n), 4) AS oov_pct
            FROM t LEFT JOIN v USING (w) GROUP BY 1 ORDER BY 1"""))

  /** q113 — embedding-space drift per label group
    * ([[graft.operators.Stats.embeddingDrift]]): each label's
    * centroid vs the corpus centroid as cosine drift. Per-dimension
    * means round to 9dp, the global centroid is the n-weighted mean
    * of the rounded group means, and the oracle replays dimension
    * extraction, both centroid stages, and the cosine. */
  private val q113 = Q("q113_embedding_drift",
    (s, d) => Stats.embeddingDrift(Tables.embeddings(s, d), "label")
      .orderBy("label"),
    Some("""WITH x AS (SELECT label, i, CAST(embedding[i] AS DOUBLE) AS v
                       FROM embeddings, LATERAL
                         (SELECT unnest(generate_series(1, len(embedding))) AS i)),
            pd AS (SELECT label, i, round(avg(v), 9) AS m, count(*) AS n
                   FROM x GROUP BY 1, 2),
            g AS (SELECT label, list(m ORDER BY i) AS c FROM pd GROUP BY 1),
            gl AS (SELECT list(m ORDER BY i) AS gc FROM (
                     SELECT i, round(sum(m * n) / sum(n), 9) AS m
                     FROM pd GROUP BY 1)),
            cnt AS (SELECT label, CAST(max(n) AS BIGINT) AS n_vecs FROM pd GROUP BY 1)
            SELECT g.label, cnt.n_vecs,
                   round(1.0 - list_cosine_similarity(g.c, gl.gc), 6) AS drift
            FROM g CROSS JOIN gl JOIN cnt ON g.label = cnt.label
            ORDER BY g.label"""))

  /** q114 — TrustRank / personalized PageRank
    * ([[graft.operators.Graph.pageRank]] with a teleport seed set,
    * Gyöngyi et al. VLDB 2004): every 50th doc is a trusted seed,
    * the teleport vector concentrates there (0 elsewhere) and the
    * dangling mass follows it. The oracle rebuilds the restricted
    * seed set, the teleport vector, and all 3 iterations of the
    * personalized update. */
  private val q114 = Q("q114_trustrank",
    (s, d) => {
      val seeds = Tables.documents(s, d)
        .filter(col("doc_id") % 50 === 0).select(col("doc_id"))
      graft.operators.Graph.pageRank(linkEdges(s, d), "src", "dst", iters = 3,
          teleport = Some(seeds))
        .orderBy(col("rank").desc, col("id")).limit(50)
    },
    Some("""WITH ed AS (
              SELECT doc_id AS src,
                     CAST(('0x' || substr(md5(concat(CAST(doc_id AS VARCHAR),
                       '|e', CAST(j AS VARCHAR))), 1, 15)) AS BIGINT) % 400 AS dst
              FROM documents, (SELECT unnest(generate_series(0, 2)) AS j)
              WHERE doc_id % 5 <> 0),
            nodes AS (SELECT src AS id FROM ed UNION SELECT dst FROM ed),
            od AS (SELECT src AS id, count(*) AS outdeg FROM ed GROUP BY 1),
            seeds AS (SELECT DISTINCT n.id
                      FROM nodes n JOIN documents dc ON n.id = dc.doc_id
                      WHERE dc.doc_id % 50 = 0),
            sn AS (SELECT count(*) AS ns FROM seeds),
            tv AS (SELECT n.id,
                          CASE WHEN s.id IS NOT NULL THEN CAST(1 AS DOUBLE) / ns
                               ELSE CAST(0 AS DOUBLE) END AS t
                   FROM nodes n LEFT JOIN seeds s USING (id), sn),
            r0 AS (SELECT id, t, round(t, 9) AS r FROM tv),
            dm0 AS (SELECT coalesce(sum(r), 0.0) AS dm
                    FROM r0 LEFT JOIN od USING (id) WHERE outdeg IS NULL),
            c0 AS (SELECT ed.dst AS id, sum(r0.r / od.outdeg) AS c
                   FROM ed JOIN r0 ON ed.src = r0.id JOIN od ON ed.src = od.id
                   GROUP BY 1),
            r1 AS (SELECT tv.id, tv.t,
                          round((CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * tv.t
                            + CAST(0.85 AS DOUBLE)
                              * (coalesce(c.c, 0.0) + dm0.dm * tv.t), 9) AS r
                   FROM tv LEFT JOIN c0 c USING (id), dm0),
            dm1 AS (SELECT coalesce(sum(r), 0.0) AS dm
                    FROM r1 LEFT JOIN od USING (id) WHERE outdeg IS NULL),
            c1 AS (SELECT ed.dst AS id, sum(r1.r / od.outdeg) AS c
                   FROM ed JOIN r1 ON ed.src = r1.id JOIN od ON ed.src = od.id
                   GROUP BY 1),
            r2 AS (SELECT tv.id, tv.t,
                          round((CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * tv.t
                            + CAST(0.85 AS DOUBLE)
                              * (coalesce(c.c, 0.0) + dm1.dm * tv.t), 9) AS r
                   FROM tv LEFT JOIN c1 c USING (id), dm1),
            dm2 AS (SELECT coalesce(sum(r), 0.0) AS dm
                    FROM r2 LEFT JOIN od USING (id) WHERE outdeg IS NULL),
            c2 AS (SELECT ed.dst AS id, sum(r2.r / od.outdeg) AS c
                   FROM ed JOIN r2 ON ed.src = r2.id JOIN od ON ed.src = od.id
                   GROUP BY 1),
            r3 AS (SELECT tv.id,
                          round((CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * tv.t
                            + CAST(0.85 AS DOUBLE)
                              * (coalesce(c.c, 0.0) + dm2.dm * tv.t), 9) AS r
                   FROM tv LEFT JOIN c2 c USING (id), dm2)
            SELECT id, round(r, 6) AS rank FROM r3
            ORDER BY rank DESC, id LIMIT 50"""))

  /** q115 — rank-biased overlap of IVF vs exact rankings
    * ([[graft.operators.Similarity.rboAtK]]): the q29 exact and q30
    * IVF top-10 rankings compared per query at p=0.9 — the
    * top-weighted evaluation recall@k can't express. The oracle
    * rebuilds BOTH rankings (the q29/q30 derivations) and replays
    * the depth-weighted overlap sum with the same double-cast
    * constants. */
  private val q115 = Q("q115_rbo_eval",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(emb, queries, k = 10)
      val centroids = Similarity.sampleCentroids(emb, 50)
      val assigned = Similarity.assignCells(emb, centroids, "nid", "ne", "cell", 1)
      val approx = Similarity.ivfTopK(assigned, queries, centroids,
        k = 10, nProbe = 3)
      Similarity.rboAtK(exact, approx, k = 10, p = 0.9).orderBy("qid")
    },
    Some("""WITH corpus AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS ne
                            FROM embeddings),
            q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
                  FROM embeddings WHERE vec_id < 10),
            exact AS (SELECT qid, nid, rank FROM (
                        SELECT qid, nid,
                               row_number() OVER (PARTITION BY qid
                                 ORDER BY list_cosine_similarity(qe, ne) DESC,
                                          nid ASC) AS rank
                        FROM q JOIN corpus ON nid <> qid)
                      WHERE rank <= 10),
            cent AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
                     FROM embeddings WHERE vec_id % 50 = 0),
            acell AS (SELECT nid, ne, cell FROM (
                        SELECT nid, ne, cid AS cell,
                               row_number() OVER (PARTITION BY nid
                                 ORDER BY list_cosine_similarity(ne, ce) DESC,
                                          cid ASC) AS rn
                        FROM corpus CROSS JOIN cent) WHERE rn = 1),
            probes AS (SELECT qid, qe, probe_cell FROM (
                         SELECT qid, qe, cid AS probe_cell,
                                row_number() OVER (PARTITION BY qid
                                  ORDER BY list_cosine_similarity(qe, ce) DESC,
                                           cid ASC) AS rn
                         FROM q CROSS JOIN cent) WHERE rn <= 3),
            approx AS (SELECT qid, nid, rank FROM (
                         SELECT qid, nid,
                                row_number() OVER (PARTITION BY qid
                                  ORDER BY cos DESC, nid ASC) AS rank
                         FROM (SELECT qid, nid, list_cosine_similarity(qe, ne) AS cos
                               FROM probes JOIN acell
                                 ON probe_cell = cell AND qid <> nid))
                       WHERE rank <= 10),
            m AS (SELECT e.qid, greatest(e.rank, x.rank) AS mr
                  FROM exact e JOIN approx x ON e.qid = x.qid AND e.nid = x.nid),
            ov AS (SELECT qid, d, count(*) AS overlap
                   FROM m, LATERAL (SELECT unnest(generate_series(mr, 10)) AS d)
                   GROUP BY 1, 2),
            sc AS (SELECT qid,
                          round(sum(overlap
                            * ((1 - CAST(0.9 AS DOUBLE))
                               * pow(CAST(0.9 AS DOUBLE), d - 1) / d)), 6) AS rbo
                   FROM ov GROUP BY 1)
            SELECT q.qid, coalesce(sc.rbo, 0.0) AS rbo
            FROM (SELECT DISTINCT qid FROM exact) q LEFT JOIN sc USING (qid)
            ORDER BY qid"""))

  /** q116 — interpolated Kneser-Ney bigram scoring
    * ([[graft.operators.LangModel.kneserNeyLm]]/`kneserNeyScore`):
    * trains on the corpus, scores docs with a planted ` zq xq`
    * suffix so every fallback rung fires — unseen bigram in a seen
    * context (backoff·continuation), unseen context (bare
    * continuation), unseen word (probability floor). The oracle
    * replays bigram/context/continuation type counts, the discounted
    * interpolation, and the mean log-prob value-for-value. */
  private val q116 = Q("q116_kneser_ney",
    (s, d) => {
      import graft.operators.LangModel
      val docs = Tables.documents(s, d)
      val (bgm, ctx, cont, t) = LangModel.kneserNeyLm(docs, "text")
      LangModel.kneserNeyScore(
          docs.filter(col("doc_id") < 200)
            .select(col("doc_id"), concat(col("text"), lit(" zq xq")).as("text")),
          "doc_id", "text", bgm, ctx, cont, t)
        .select(col("doc_id"), col("n_bigrams"),
          round(col("avg_logp"), 6).as("avg_logp"))
        .orderBy("doc_id")
    },
    Some("""WITH ws AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
            big AS (SELECT array_to_string(list_slice(ws, i, i + 1), ' ') AS bg
                    FROM ws, LATERAL
                      (SELECT unnest(generate_series(1, len(ws) - 1)) AS i)
                    WHERE len(ws) >= 2),
            cnt AS (SELECT bg, count(*) AS c2 FROM big GROUP BY 1),
            sp AS (SELECT bg, c2, str_split(bg, ' ')[1] AS w1,
                          str_split(bg, ' ')[2] AS w2 FROM cnt),
            ctx AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS cn, count(*) AS nf
                    FROM sp GROUP BY 1),
            cont AS (SELECT w2, count(*) AS nb FROM sp GROUP BY 1),
            tt AS (SELECT count(*) AS t FROM cnt),
            sws AS (SELECT doc_id, str_split(text || ' zq xq', ' ') AS ws
                    FROM documents WHERE doc_id < 200),
            stf AS (SELECT doc_id, bg, count(*) AS tf FROM (
                      SELECT doc_id,
                             array_to_string(list_slice(ws, i, i + 1), ' ') AS bg
                      FROM sws, LATERAL
                        (SELECT unnest(generate_series(1, len(ws) - 1)) AS i)
                      WHERE len(ws) >= 2) GROUP BY 1, 2),
            j AS (SELECT stf.doc_id, stf.tf,
                         CAST(round(ln(greatest(
                           (CASE WHEN sp.c2 IS NOT NULL
                                 THEN (sp.c2 - CAST(0.75 AS DOUBLE)) / ctx.cn
                                 ELSE CAST(0 AS DOUBLE) END)
                           + (CASE WHEN ctx.cn IS NOT NULL
                                   THEN CAST(0.75 AS DOUBLE) * ctx.nf / ctx.cn
                                   ELSE CAST(1 AS DOUBLE) END)
                             * (coalesce(cont.nb, 0) / t),
                           1e-10)) * 1e9) AS BIGINT) AS lpn
                  FROM stf
                  LEFT JOIN sp ON stf.bg = sp.bg
                  LEFT JOIN ctx ON str_split(stf.bg, ' ')[1] = ctx.w1
                  LEFT JOIN cont ON str_split(stf.bg, ' ')[2] = cont.w2
                  CROSS JOIN tt)
            SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
                   round(CAST(sum(tf * lpn) AS DOUBLE)
                           / CAST(sum(tf) AS DOUBLE) / 1e9, 6) AS avg_logp
            FROM j GROUP BY 1 ORDER BY 1"""))

  /** q117 — hybrid retrieval via reciprocal-rank fusion
    * ([[graft.operators.Similarity.rrfFuse]], Cormack et al. SIGIR
    * 2009): the q104 BM25 top-50 fused with the dense cosine top-50
    * for query vector 0 — the BM25+dense hybrid-search shape, no
    * score normalization. The oracle rebuilds both rankings and
    * replays the nano-unit reciprocal-rank sum. */
  private val q117 = Q("q117_hybrid_rrf",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val bm = Tfidf.bm25TopK(Tables.documents(s, d), "doc_id", "text",
          Seq("dup", "vector", "merge"), k = 50)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("bm25_micros").desc, col("doc_id"))))
        .select(col("doc_id").as("id"), col("rank"))
      val emb = Tables.embeddings(s, d)
      val dense = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0),
          k = 50)
        .select(col("nid").as("id"), col("rank"))
      Similarity.rrfFuse(Seq(bm, dense), "id").limit(20)
    },
    Some("""WITH toks AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
            stats AS (SELECT count(*) AS n_docs, avg(len(ws)) AS avgdl FROM toks),
            tf AS (SELECT doc_id, len(ws) AS dl, w AS term, count(*) AS tf
                   FROM toks, LATERAL (SELECT unnest(ws) AS w)
                   WHERE w IN ('dup', 'vector', 'merge')
                   GROUP BY 1, 2, 3),
            dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            contr AS (SELECT doc_id,
                             CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                               * (tf * (CAST(1.2 AS DOUBLE) + 1))
                               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl / avgdl)))
                               * 1000000) AS BIGINT) AS micros
                      FROM tf JOIN dfc USING (term) CROSS JOIN stats),
            bmtop AS (SELECT doc_id, CAST(sum(micros) AS BIGINT) AS bm
                      FROM contr GROUP BY 1
                      ORDER BY bm DESC, doc_id LIMIT 50),
            bmr AS (SELECT doc_id AS id,
                           row_number() OVER (ORDER BY bm DESC, doc_id) AS rank
                    FROM bmtop),
            cr AS (SELECT nid AS id, rank FROM (
                     SELECT n.vec_id AS nid,
                            row_number() OVER (ORDER BY
                              list_cosine_similarity(
                                CAST(q.embedding AS DOUBLE[]),
                                CAST(n.embedding AS DOUBLE[])) DESC,
                              n.vec_id ASC) AS rank
                     FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
                     WHERE q.vec_id = 0)
                   WHERE rank <= 50),
            u AS (SELECT id, CAST(round(CAST(1 AS DOUBLE) / (60 + rank)
                         * 1000000000) AS BIGINT) AS nanos FROM bmr
                  UNION ALL
                  SELECT id, CAST(round(CAST(1 AS DOUBLE) / (60 + rank)
                         * 1000000000) AS BIGINT) AS nanos FROM cr)
            SELECT id, CAST(sum(nanos) AS BIGINT) AS rrf_nanos,
                   count(*) AS n_lists
            FROM u GROUP BY 1
            ORDER BY rrf_nanos DESC, id LIMIT 20"""))

  /** q118 — Matryoshka prefix-dimension ANN
    * ([[graft.operators.Similarity.prefixDimTopK]], Kusupati et al.
    * NeurIPS 2022): coarse cosine on the first 8 of 64 dims keeps a
    * 30-deep shortlist, full-precision re-rank yields top-5. The
    * oracle replays both passes with list_slice. */
  private val q118 = Q("q118_prefix_dim_topk",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.prefixDimTopK(emb, emb.filter(col("vec_id") < 10),
          prefixDims = 8, shortlist = 30, k = 5)
        .orderBy("qid", "rank")
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            q AS (SELECT vec_id AS qid, v AS qe FROM e WHERE vec_id < 10),
            c AS (SELECT vec_id AS nid, v AS ne FROM e),
            coarse AS (SELECT qid, nid, qe, ne FROM (
                         SELECT qid, nid, qe, ne,
                                row_number() OVER (PARTITION BY qid
                                  ORDER BY list_cosine_similarity(
                                             list_slice(qe, 1, 8),
                                             list_slice(ne, 1, 8)) DESC,
                                           nid ASC) AS pr
                         FROM q JOIN c ON nid <> qid)
                       WHERE pr <= 30)
            SELECT qid, rank, nid, round(cos, 6) AS cosine FROM (
              SELECT qid, nid, cos,
                     row_number() OVER (PARTITION BY qid
                       ORDER BY cos DESC, nid ASC) AS rank
              FROM (SELECT qid, nid, list_cosine_similarity(qe, ne) AS cos
                    FROM coarse))
            WHERE rank <= 5 ORDER BY qid, rank"""))

  /** q126 — per-node triangle count + local clustering coefficient
    * ([[graft.operators.Graph.triangleStats]]) over the q110 link
    * graph. The oracle counts each triangle once as an a<b<c 3-way
    * self-join of the canonical undirected edge set — a DIFFERENT
    * single-counting scheme than the operator's degree-ordered
    * compact-forward orientation, so a hash match proves the
    * orientation machinery changes the join volume, not the answer. */
  private val q126 = Q("q126_triangle_stats",
    (s, d) => {
      graft.operators.Graph.triangleStats(linkEdges(s, d), "src", "dst")
        .orderBy(col("triangles").desc, col("id")).limit(100)
    },
    Some("""WITH ed AS (
              SELECT doc_id AS src,
                     CAST(('0x' || substr(md5(concat(CAST(doc_id AS VARCHAR),
                       '|e', CAST(j AS VARCHAR))), 1, 15)) AS BIGINT) % 400 AS dst
              FROM documents, (SELECT unnest(generate_series(0, 2)) AS j)
              WHERE doc_id % 5 <> 0),
            nodes AS (SELECT src AS id FROM ed UNION SELECT dst FROM ed),
            und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                    FROM ed WHERE src <> dst),
            deg AS (SELECT id, count(*) AS degree
                    FROM (SELECT a AS id FROM und UNION ALL SELECT b FROM und)
                    GROUP BY 1),
            tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                    FROM und e1
                    JOIN und e2 ON e2.a = e1.b
                    JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
            pern AS (SELECT id, count(*) AS triangles
                     FROM (SELECT x AS id FROM tri
                           UNION ALL SELECT y FROM tri
                           UNION ALL SELECT z FROM tri)
                     GROUP BY 1)
            SELECT n.id, coalesce(d.degree, 0) AS degree,
                   coalesce(p.triangles, 0) AS triangles,
                   round(CASE WHEN d.degree > 1
                     THEN CAST(2 AS DOUBLE) * coalesce(p.triangles, 0)
                          / (d.degree * (d.degree - 1))
                     ELSE CAST(0 AS DOUBLE) END, 9) AS lcc
            FROM nodes n LEFT JOIN deg d USING (id) LEFT JOIN pern p USING (id)
            ORDER BY triangles DESC, id LIMIT 100"""))

  /** q127 — blocked edit-distance near-dup pairs
    * ([[graft.operators.Dedup.editDistancePairs]]): ER-style blocking
    * (4-char normalized prefix + 32-char length band) then banded
    * Levenshtein ≤ 8 on 64-char normalized prefixes. The oracle
    * re-runs the same blocking with DuckDB's unbounded levenshtein —
    * a hash match proves Spark's threshold-banded verify agrees with
    * the full O(n²) computation on every surviving pair. */
  private val q127 = Q("q127_edit_distance_pairs",
    (s, d) => {
      Dedup.editDistancePairs(Tables.documents(s, d), "doc_id", "text",
          maxDist = 8, prefixLen = 64, blockChars = 4, lenBand = 32)
        .orderBy("doc_id_1", "doc_id_2")
    },
    Some("""WITH n AS (
              SELECT doc_id,
                     lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS nt
              FROM documents),
            b AS (
              SELECT doc_id, substr(nt, 1, 64) AS p, substr(nt, 1, 4) AS bk,
                     CAST(floor(length(nt) / 32) AS BIGINT) AS lb
              FROM n)
            SELECT x.doc_id AS doc_id_1, y.doc_id AS doc_id_2,
                   levenshtein(x.p, y.p) AS dist
            FROM b x JOIN b y
              ON x.bk = y.bk AND x.lb = y.lb AND x.doc_id < y.doc_id
            WHERE levenshtein(x.p, y.p) <= 8
            ORDER BY doc_id_1, doc_id_2"""))

  /** q134 — link-prediction scores
    * ([[graft.operators.Graph.linkPrediction]]): top-50 non-adjacent
    * distance-2 pairs of the q110 link graph by resource-allocation
    * index, with common-neighbor counts and Jaccard overlap. The
    * oracle replays the canonical simple graph, the wedge
    * enumeration, the adjacency anti join, and all three scores —
    * 1/deg terms as double CASTs (the q110 decimal-literal rule). */
  private val q134 = Q("q134_link_prediction",
    (s, d) => graft.operators.Graph.linkPrediction(linkEdges(s, d),
      "src", "dst", topN = 50),
    Some("""WITH ed AS (
              SELECT doc_id AS src,
                     CAST(('0x' || substr(md5(concat(CAST(doc_id AS VARCHAR),
                       '|e', CAST(j AS VARCHAR))), 1, 15)) AS BIGINT) % 400 AS dst
              FROM documents, (SELECT unnest(generate_series(0, 2)) AS j)
              WHERE doc_id % 5 <> 0),
            und AS (SELECT DISTINCT least(src, dst) AS a,
                           greatest(src, dst) AS b
                    FROM ed WHERE src <> dst),
            nb AS (SELECT a AS u, b AS z FROM und
                   UNION ALL SELECT b, a FROM und),
            deg AS (SELECT u AS id, count(*) AS d FROM nb GROUP BY 1),
            cand AS (SELECT x.u AS n1, y.u AS n2, count(*) AS cn,
                            round(sum(CAST(1 AS DOUBLE) / dz.d), 6) AS ra
                     FROM nb x JOIN deg dz ON x.z = dz.id
                          JOIN nb y ON x.z = y.z AND x.u < y.u
                     GROUP BY 1, 2),
            nonadj AS (SELECT cand.* FROM cand LEFT JOIN und
                         ON cand.n1 = und.a AND cand.n2 = und.b
                       WHERE und.a IS NULL)
            SELECT n1 AS node_1, n2 AS node_2, cn AS common_neighbors,
                   ra AS resource_alloc,
                   round(cn / CAST(d1.d + d2.d - cn AS DOUBLE), 6) AS jaccard
            FROM nonadj JOIN deg d1 ON n1 = d1.id JOIN deg d2 ON n2 = d2.id
            ORDER BY resource_alloc DESC, common_neighbors DESC,
                     node_1, node_2
            LIMIT 50"""))

  /** q136 — positional phrase search
    * ([[graft.operators.Tfidf.phraseSearch]]): exact token-boundary
    * occurrences of the phrase "table table" — a REPEATED-token
    * phrase on purpose, so the oracle must reproduce overlapping
    * matches ("table table table" = two occurrences), which only the
    * positional join does. 1-based positions on both engines. */
  private val q136 = Q("q136_phrase_search",
    (s, d) => Tfidf.phraseSearch(Tables.documents(s, d), "doc_id", "text",
        Seq("table", "table"))
      .orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS lst
                       FROM documents),
            p AS (SELECT doc_id, i, lst[i] AS tok
                  FROM t, unnest(range(1, len(lst) + 1)) AS u(i)
                  WHERE lst[i] = 'table'),
            m AS (SELECT a.doc_id, a.i
                  FROM p a JOIN p b
                    ON a.doc_id = b.doc_id AND a.i = b.i - 1)
            SELECT doc_id, count(*) AS n_occurrences,
                   CAST(min(i) AS BIGINT) AS first_pos
            FROM m GROUP BY 1 ORDER BY doc_id"""))

  private val q145Runs = new java.util.concurrent.atomic.AtomicLong(0L)

  /** q173 — streaming Misra-Gries heavy hitters under the batch
    * oracle ([[graft.streaming.CorpusStream.mgCandidates]]): stage
    * the corpus, run the bucketed MG sketch as a real AvailableNow
    * query (bounded mapGroupsWithState state per bucket), take the
    * latest per-bucket candidate summaries, rescore EXACTLY in
    * batch, and prove the top-20 with the pigeonhole bound (k-th
    * count · capacity > max bucket mass) — falling back to the full
    * aggregation if unproven, so the answer is exact either way. The
    * oracle is the plain exact top-20 (q75's semantics), which is
    * the point: streaming sketch + rescore ≡ batch truth. */
  private val q173 = Q("q173_stream_heavy_hitters",
    (s, d) => {
      import s.implicits._
      val dir = stagingDir("graft_q173_")
      Tables.documents(s, d)
        .select(col("doc_id"),
          lit("2024-01-01 00:00:00").cast("timestamp").as("ts"),
          col("text"), col("lang"), col("source"), col("n_chars"))
        .write.mode("overwrite").parquet(dir)
      val capacity = 128
      val toks = graft.streaming.CorpusStream.readStream(s, dir)
        .select(explode(split(col("text"), " ")).as("token"))
        .select(pmod(md5Long(col("token")), lit(64L)).as("_1"),
          col("token").as("_2"))
        .as[(Long, String)]
      val sink = s"q173_sink_${q145Runs.incrementAndGet()}"
      graft.streaming.EventStream.runToMemory(
        graft.streaming.CorpusStream.mgCandidates(toks, capacity).toDF(),
        sink, org.apache.spark.sql.streaming.OutputMode.Update())
      // the memory sink owns the rows now; the staged source dir is dead
      dropStaging(dir)
      import org.apache.spark.sql.expressions.Window
      val latest = s.table(sink)
        .withColumn("__rn", row_number().over(
          Window.partitionBy("bucket").orderBy(col("seen").desc)))
        .where(col("__rn") === 1)
      val candidates = latest.select(explode(col("tokens")).as("token"))
        .distinct()
      val batchToks = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("token"))
      def ranked(counts: org.apache.spark.sql.DataFrame) = counts
        .orderBy(col("n").desc, col("token")).limit(20)
        .select(row_number().over(Window.orderBy(col("n").desc, col("token")))
          .cast("long").as("rank"), col("token"), col("n"))
      val top = ranked(batchToks
        .join(broadcast(candidates), Seq("token"), "left_semi")
        .groupBy("token").agg(count(lit(1)).as("n"))).collect()
      val maxSeen = latest.agg(coalesce(max("seen"), lit(0L)))
        .head().getLong(0)
      val proven = top.length == 20 &&
        top.last.getLong(2) * capacity.toLong > maxSeen
      if (proven)
        s.createDataFrame(s.sparkContext.parallelize(top.toSeq, 1),
          top.head.schema)
      else ranked(batchToks.groupBy("token").agg(count(lit(1)).as("n")))
    },
    Some("""WITH t AS (SELECT unnest(str_split(text, ' ')) AS token
                       FROM documents),
            c AS (SELECT token, CAST(count(*) AS BIGINT) AS n
                  FROM t GROUP BY 1),
            r AS (SELECT token, n,
                         row_number() OVER (ORDER BY n DESC, token) AS rank
                  FROM c)
            SELECT CAST(rank AS BIGINT) AS rank, token, n
            FROM r WHERE rank <= 20 ORDER BY rank"""))

  /** q145 — the streaming EWMA under the batch oracle
    * ([[graft.streaming.EventStream.ewmaDaily]]): stage the events,
    * run the stateful flatMapGroupsWithState recurrence as a real
    * AvailableNow query, and hash-compare the sink against q128's
    * recursive-CTE oracle — streaming == batch for a NUMERIC
    * fixed-point recurrence, held to the external oracle (q91 gates
    * the windowed-aggregation streaming path; this gates the custom-
    * state path). */
  private val q145 = Q("q145_stream_ewma",
    (s, d) => {
      import s.implicits._
      val dir = stagingDir("graft_q145_")
      Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          coalesce(col("value"), lit(0.0)).as("value"),
          coalesce(col("props"), lit("")).as("props"))
        .write.mode("overwrite").parquet(dir)
      val sink = s"q145_sink_${q145Runs.incrementAndGet()}"
      graft.streaming.EventStream.runToMemory(
        graft.streaming.EventStream.ewmaDaily(
          graft.streaming.EventStream.readStream(s, dir)
            .drop("props").as[graft.streaming.EventStream.Event]).toDF(),
        sink, org.apache.spark.sql.streaming.OutputMode.Append())
      // the memory sink owns the rows now; the staged source dir is dead
      dropStaging(dir)
      s.table(sink).orderBy("event_type", "day")
    },
    Some("""WITH RECURSIVE daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
              FROM events GROUP BY 1, 2),
            dense AS (
              SELECT s.event_type, CAST(d AS DATE) AS day
              FROM (SELECT event_type, min(day) AS d0, max(day) AS d1
                    FROM daily GROUP BY 1) s,
                   unnest(generate_series(CAST(s.d0 AS TIMESTAMP),
                     CAST(s.d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS t(d)),
            filled AS (
              SELECT dense.event_type, dense.day, coalesce(daily.n, 0) AS n
              FROM dense LEFT JOIN daily USING (event_type, day)),
            num AS (
              SELECT event_type, day, n,
                     row_number() OVER (PARTITION BY event_type
                       ORDER BY day) AS rn
              FROM filled),
            rec AS (
              SELECT event_type, day, n, rn, n * 1000000 AS em
              FROM num WHERE rn = 1
              UNION ALL
              SELECT num.event_type, num.day, num.n, num.rn,
                     (2 * (3 * num.n * 1000000 + 7 * rec.em) + 10) // 20 AS em
              FROM rec JOIN num ON num.event_type = rec.event_type
                               AND num.rn = rec.rn + 1)
            SELECT event_type, day, n AS n_events,
                   CAST(em AS DOUBLE) / CAST(1000000 AS DOUBLE) AS ewma
            FROM rec ORDER BY event_type, day"""))

  /** q147 — boolean posting-list retrieval
    * ([[graft.operators.Tfidf.booleanTopK]]): docs containing BOTH
    * must terms, ranked by distinct should-term coverage. The oracle
    * replays the posting filter, both distinct counts, the HAVING,
    * and the total-order cut. */
  private val q147 = Q("q147_boolean_retrieval",
    (s, d) => Tfidf.booleanTopK(Tables.documents(s, d), "doc_id", "text",
      must = Seq("table", "query"), should = Seq("stream", "window", "merge"),
      k = 20),
    Some("""WITH t AS (SELECT doc_id, unnest(str_split(text, ' ')) AS tok
                       FROM documents),
            p AS (SELECT doc_id,
                         count(DISTINCT CASE WHEN tok IN ('table', 'query')
                               THEN tok END) AS nm,
                         count(DISTINCT CASE WHEN tok IN
                               ('stream', 'window', 'merge')
                               THEN tok END) AS ns
                  FROM t
                  WHERE tok IN ('table', 'query', 'stream', 'window', 'merge')
                  GROUP BY 1)
            SELECT doc_id, CAST(ns AS BIGINT) AS n_should FROM p
            WHERE nm = 2 ORDER BY n_should DESC, doc_id LIMIT 20"""))

  /** q148 — asymmetric shingle containment
    * ([[graft.operators.Dedup.containmentPairs]]): every 11th doc
    * gets a planted 15-token PREFIX clone — near-full containment of
    * the clone in its source at tiny Jaccard, exactly the pair q33's
    * symmetric threshold is blind to. The oracle replays shingling,
    * the asymmetric prefix filter (per-doc rarest ⌈(1−t)·sz⌉-ish
    * prefix joined against FULL sets, df cap + rarest-shingle
    * fallback — the identical formula, so candidates are
    * engine-identical), and both containment directions.
    *
    * ORACLE-INDEPENDENCE NOTE: the lockstep `ceil((0.8 − 0.0001)·sz)`
    * prefix rule means this oracle cannot catch a recall bug in
    * candidate generation (see q33's note); the independent gates are
    * OperatorSpec's containmentPairs brute-force tests, with
    * OracleIndependenceSpec pinning the formula parity. */
  private val q148 = Q("q148_containment_pairs",
    (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val subsets = docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 30000).as("doc_id"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 15)).as("text"))
      Dedup.containmentPairs(docs.unionByName(subsets), "doc_id", "text",
          shingleSize = 3, threshold = 0.8, dfCap = 100)
        .orderBy("doc_id_1", "doc_id_2")
    },
    Some("""WITH base AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 30000,
                     array_to_string(list_slice(str_split(text, ' '), 1, 15),
                                     ' ')
              FROM documents WHERE doc_id % 11 = 0),
            shs AS (
              SELECT doc_id,
                     list_distinct(list_transform(generate_series(1, len(ws) - 2),
                       i -> array_to_string(list_slice(ws, i, i + 2), ' ')))
                       AS shs
              FROM (SELECT doc_id, str_split(text, ' ') AS ws FROM base)
              WHERE len(ws) >= 3),
            sh AS (
              SELECT doc_id, list_transform(shs,
                     s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS sh
              FROM shs),
            inv AS (SELECT doc_id, unnest(sh) AS s FROM sh),
            dfc AS (SELECT s, count(*) AS df FROM inv GROUP BY 1),
            idx AS (SELECT doc_id, s FROM (
                      SELECT i.doc_id, i.s, d.df,
                             row_number() OVER (PARTITION BY i.doc_id
                               ORDER BY d.df, i.s) AS rn,
                             count(*) OVER (PARTITION BY i.doc_id) AS sz
                      FROM inv i JOIN dfc d USING (s))
                    WHERE rn <= sz - ceil((0.8 - 0.0001) * sz) + 1
                      AND (df <= 100 OR rn = 1)),
            cand AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS d1,
                            greatest(a.doc_id, b.doc_id) AS d2
                     FROM idx a JOIN inv b
                       ON a.s = b.s AND a.doc_id <> b.doc_id),
            v AS (SELECT d1 AS doc_id_1, d2 AS doc_id_2,
                         round(len(list_intersect(x.sh, y.sh)) * 1.0
                           / len(x.sh), 4) AS c_1_in_2,
                         round(len(list_intersect(x.sh, y.sh)) * 1.0
                           / len(y.sh), 4) AS c_2_in_1
                  FROM cand JOIN sh x ON x.doc_id = d1
                            JOIN sh y ON y.doc_id = d2)
            SELECT * FROM v WHERE c_1_in_2 >= 0.8 OR c_2_in_1 >= 0.8
            ORDER BY doc_id_1, doc_id_2"""))

  /** q150 — link-graph structural profile
    * ([[graft.operators.Graph.profile]]): size, reciprocity, degree
    * skew, and Newman degree assortativity of the q110 graph — every
    * sum an integer sum, so the statistic is exact up to the final
    * pinned divisions the oracle mirrors expression-for-expression. */
  private val q150 = Q("q150_graph_profile",
    (s, d) => graft.operators.Graph.profile(linkEdges(s, d), "src", "dst"),
    Some("""WITH ed AS (
              SELECT doc_id AS src,
                     CAST(('0x' || substr(md5(concat(CAST(doc_id AS VARCHAR),
                       '|e', CAST(j AS VARCHAR))), 1, 15)) AS BIGINT) % 400 AS dst
              FROM documents, (SELECT unnest(generate_series(0, 2)) AS j)
              WHERE doc_id % 5 <> 0),
            cl AS (SELECT DISTINCT src, dst FROM ed
                   WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
            und AS (SELECT DISTINCT least(src, dst) AS a,
                           greatest(src, dst) AS b FROM cl),
            deg AS (SELECT id, count(*) AS d
                    FROM (SELECT a AS id FROM und
                          UNION ALL SELECT b FROM und)
                    GROUP BY 1),
            rec AS (SELECT count(*) AS nrecip FROM cl e
                    WHERE EXISTS (SELECT 1 FROM cl r
                                  WHERE r.src = e.dst AND r.dst = e.src)),
            dt AS (SELECT count(*) AS ndir FROM cl),
            ends AS (SELECT d1.d AS j, d2.d AS k
                     FROM und JOIN deg d1 ON und.a = d1.id
                              JOIN deg d2 ON und.b = d2.id),
            sums AS (SELECT count(*) AS m,
                            CAST(sum(j * k) AS BIGINT) AS sjk,
                            CAST(sum(j + k) AS BIGINT) AS sjpk,
                            CAST(sum(j * j + k * k) AS BIGINT) AS sj2k2
                     FROM ends),
            nn AS (SELECT count(*) AS n, max(d) AS max_degree FROM deg),
            r AS (SELECT m,
                         sjk / CAST(m AS DOUBLE)
                           - (sjpk / (2.0 * CAST(m AS DOUBLE)))
                             * (sjpk / (2.0 * CAST(m AS DOUBLE))) AS num,
                         sj2k2 / (2.0 * CAST(m AS DOUBLE))
                           - (sjpk / (2.0 * CAST(m AS DOUBLE)))
                             * (sjpk / (2.0 * CAST(m AS DOUBLE))) AS den
                  FROM sums)
            SELECT n AS n_nodes, m AS n_edges,
                   CASE WHEN ndir > 0
                        THEN round(nrecip / CAST(ndir AS DOUBLE), 6)
                        END AS reciprocity,
                   max_degree,
                   CASE WHEN n > 0
                        THEN round(2.0 * CAST(m AS DOUBLE) / n, 4)
                        END AS avg_degree,
                   CASE WHEN den > 0.0 THEN round(num / den, 6)
                        END AS assortativity
            FROM r, nn, rec, dt"""))

  /** q149 — LSH pair-mining evaluation
    * ([[graft.operators.Dedup.pairRecall]]): the q28 MinHash+LSH
    * miner scored against the q33 exact-Jaccard truth at the same
    * threshold — recall is what banding trades away, and this is the
    * number that tunes bands/bucketCap (the dedup twin of q69's ANN
    * recall). Both operators ride ONE shared shingle cache. The
    * oracle replays BOTH full pipelines (the q33 and q28 CTEs over a
    * shared shingle table) and the set comparison.
    *
    * ORACLE-INDEPENDENCE NOTE: the truth side replays q33's lockstep
    * ε-slack prefix rule (`ceil((0.5 − 0.0001)·sz)`) — same caveat
    * and same independent gate as q33 (OperatorSpec brute-force
    * property; OracleIndependenceSpec parity pin). */
  private val q149 = Q("q149_lsh_pair_recall",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val cache = Dedup.shingleCache(docs, "doc_id", "text")
      try {
        val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          shingleSize = 3, threshold = 0.5, dfCap = 100,
          shared = Some(cache))
        val found = Dedup.minhashLsh(docs, "doc_id", "text",
          shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5,
          bucketCap = 10000, shared = Some(cache))
        Dedup.pairRecall(found.select("doc_id_1", "doc_id_2"),
          truth.select("doc_id_1", "doc_id_2"))
      } finally cache.release()
    },
    Some("""WITH shs AS (
              SELECT doc_id, list_distinct(list_transform(generate_series(1, len(ws) - 2),
                     i -> array_to_string(list_slice(ws, i, i + 2), ' '))) AS shs
              FROM (SELECT doc_id, str_split(text, ' ') AS ws FROM documents)
              WHERE len(ws) >= 3),
            sh AS (
              SELECT doc_id, list_transform(shs,
                     s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS sh
              FROM shs),
            inv AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM sh),
            dfc AS (SELECT s, count(*) AS df FROM inv GROUP BY 1),
            pref AS (SELECT doc_id, s FROM (
                       SELECT i.doc_id, i.sz, i.s, d.df,
                              row_number() OVER (PARTITION BY i.doc_id
                                ORDER BY d.df, i.s) AS rn
                       FROM inv i JOIN dfc d USING (s))
                     WHERE (df <= 100 AND rn <= sz - ceil((0.5 - 0.0001) * sz) + 1)
                        OR rn = 1),
            candt AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                      FROM pref a JOIN pref b
                        ON a.s = b.s AND a.doc_id < b.doc_id),
            jt AS (SELECT d1, d2
                   FROM candt JOIN sh x ON x.doc_id = d1
                              JOIN sh y ON y.doc_id = d2
                   WHERE round(len(list_intersect(x.sh, y.sh)) * 1.0 /
                         (len(x.sh) + len(y.sh)
                          - len(list_intersect(x.sh, y.sh))), 4) >= 0.5),
            consts AS (
              SELECT i,
                     (2 * CAST(('0x' || substr(md5('A|' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT) + 1)
                       & ((CAST(1 AS BIGINT) << 60) - 1) AS a
              FROM (SELECT unnest(generate_series(0, 63)) AS i)),
            hv AS (SELECT doc_id, unnest(sh) AS h FROM sh),
            mins AS (
              SELECT doc_id, i,
                     min(((a & 1073741823) * (h & 1073741823)
                          + (((a & 1073741823) * (h >> 30) + (a >> 30) * (h & 1073741823))
                             & 1073741823) * (CAST(1 AS BIGINT) << 30))
                         & ((CAST(1 AS BIGINT) << 60) - 1)) AS m
              FROM hv CROSS JOIN consts GROUP BY 1, 2),
            buckets AS (
              SELECT doc_id, i // 4 AS b,
                     CAST(('0x' || substr(md5(
                       string_agg(CAST(m AS VARCHAR), ',' ORDER BY i)), 1, 15))
                       AS BIGINT) AS bucket
              FROM mins GROUP BY 1, 2),
            bsz AS (SELECT b, bucket FROM buckets
                    GROUP BY 1, 2 HAVING count(*) <= 10000),
            candf AS (
              SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
              FROM buckets a
              JOIN bsz USING (b, bucket)
              JOIN buckets c
                ON a.b = c.b AND a.bucket = c.bucket AND a.doc_id < c.doc_id),
            jf AS (SELECT d1, d2
                   FROM candf JOIN sh x ON x.doc_id = d1
                              JOIN sh y ON y.doc_id = d2
                   WHERE round(len(list_intersect(x.sh, y.sh)) * 1.0 /
                         (len(x.sh) + len(y.sh)
                          - len(list_intersect(x.sh, y.sh))), 4) >= 0.5),
            m AS (SELECT coalesce(t.d1, f.d1) AS d1, coalesce(t.d2, f.d2) AS d2,
                         (t.d1 IS NOT NULL) AS it, (f.d1 IS NOT NULL) AS infd
                  FROM jt t FULL JOIN jf f ON t.d1 = f.d1 AND t.d2 = f.d2),
            c AS (SELECT CAST(sum(CASE WHEN it THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_truth,
                         CAST(sum(CASE WHEN infd THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_found,
                         CAST(sum(CASE WHEN it AND infd THEN 1 ELSE 0 END)
                           AS BIGINT) AS n_hit
                  FROM m)
            SELECT n_truth, n_found, n_hit,
                   CASE WHEN n_truth > 0
                        THEN round(n_hit / CAST(n_truth AS DOUBLE), 6)
                        END AS recall,
                   CASE WHEN n_found > 0
                        THEN round(n_hit / CAST(n_found AS DOUBLE), 6)
                        END AS precision
            FROM c"""))

  /** q158 — multinomial Naive Bayes language classifier
    * ([[graft.operators.TextClassifier]]): train on the corpus's own
    * `lang` labels, score every doc, report the confusion matrix plus
    * the exact nano-unit score checksum. Every log probability is an
    * integer nano-unit (9dp-absolute ln rounding — the BM25/klDrift
    * rule), so per-doc scores are exact long sums and the oracle
    * replays train AND score value-for-value. */
  private val q158 = Q("q158_nb_lang_classifier",
    (s, d) => {
      // the oracle's docs CTE drops null-lang/null-text rows BEFORE
      // scoring — mirror that here, or a future fixture with a null
      // lang would score on the Spark side only
      val docs = Tables.documents(s, d)
        .where(col("lang").isNotNull && col("text").isNotNull)
      val model = graft.operators.TextClassifier.trainNb(
        docs, "text", "lang", alpha = 1.0)
      val pred = graft.operators.TextClassifier.scoreNb(
        docs, "doc_id", "text", model)
      pred.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy("lang", "pred_label")
        .agg(count(lit(1)).as("n"), sum("score_n").as("sum_score_n"))
        .orderBy("lang", "pred_label")
    },
    Some("""WITH docs AS (SELECT doc_id, lang, text FROM documents
                          WHERE lang IS NOT NULL AND text IS NOT NULL),
            toks AS (SELECT lang AS label,
                            unnest(str_split(text, ' ')) AS token
                     FROM docs),
            tc AS (SELECT label, token, CAST(count(*) AS BIGINT) AS c
                   FROM toks GROUP BY 1, 2),
            ct AS (SELECT label, CAST(sum(c) AS BIGINT) AS tot
                   FROM tc GROUP BY 1),
            v AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS v FROM tc),
            dc AS (SELECT lang AS label, CAST(count(*) AS BIGINT) AS nd
                   FROM docs GROUP BY 1),
            nt AS (SELECT CAST(sum(nd) AS BIGINT) AS n FROM dc),
            cls AS (SELECT dc.label, nd, tot,
                           CAST(round(ln(CAST(nd AS DOUBLE) / n) * 1e9, 0)
                             AS BIGINT) AS prior_n,
                           CAST(round(ln(1.0 / (tot + 1.0 * v)) * 1e9, 0)
                             AS BIGINT) AS default_n
                    FROM dc JOIN ct USING (label), nt, v),
            lp AS (SELECT tc.label, token,
                          CAST(round(ln((c + 1.0) / (tot + 1.0 * v)) * 1e9, 0)
                            AS BIGINT) AS lpn
                   FROM tc JOIN ct USING (label), v),
            tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
                   FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS token
                         FROM docs)
                   GROUP BY 1, 2),
            scored AS (SELECT tf.doc_id, cls.label,
                              max(cls.prior_n)
                                + CAST(sum(tf.tf * coalesce(lp.lpn,
                                    cls.default_n)) AS BIGINT) AS score_n
                       FROM tf CROSS JOIN cls
                       LEFT JOIN lp ON lp.label = cls.label
                                   AND lp.token = tf.token
                       GROUP BY 1, 2),
            pred AS (SELECT doc_id, label, score_n,
                            row_number() OVER (PARTITION BY doc_id
                              ORDER BY score_n DESC, label) AS rn
                     FROM scored)
            SELECT d.lang, p.label AS pred_label, count(*) AS n,
                   CAST(sum(p.score_n) AS BIGINT) AS sum_score_n
            FROM pred p JOIN docs d USING (doc_id)
            WHERE rn = 1
            GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** q159 — Katz centrality ([[graft.operators.Graph.katz]]): 3
    * attenuated walk-counting iterations at β=0.1 over the q110 link
    * graph — the in-walk authority score next to q110's random-surfer
    * rank. 9dp per-iteration rounding; the oracle unrolls all three
    * iterations with β as a double CAST. */
  private val q159 = Q("q159_katz_centrality",
    (s, d) => {
      graft.operators.Graph.katz(linkEdges(s, d), "src", "dst",
          iters = 3, beta = 0.1)
        .orderBy(col("centrality").desc, col("id")).limit(50)
    },
    Some("""WITH ed AS (
              SELECT doc_id AS src,
                     CAST(('0x' || substr(md5(concat(CAST(doc_id AS VARCHAR),
                       '|e', CAST(j AS VARCHAR))), 1, 15)) AS BIGINT) % 400 AS dst
              FROM documents, (SELECT unnest(generate_series(0, 2)) AS j)
              WHERE doc_id % 5 <> 0),
            nodes AS (SELECT src AS id FROM ed UNION SELECT dst FROM ed),
            x0 AS (SELECT id, CAST(1 AS DOUBLE) AS x FROM nodes),
            c1 AS (SELECT ed.dst AS id, sum(x0.x) AS c
                   FROM ed JOIN x0 ON ed.src = x0.id GROUP BY 1),
            x1 AS (SELECT nodes.id,
                          round(CAST(1 AS DOUBLE)
                            + CAST(0.1 AS DOUBLE) * coalesce(c.c, 0.0), 9) AS x
                   FROM nodes LEFT JOIN c1 c USING (id)),
            c2 AS (SELECT ed.dst AS id, sum(x1.x) AS c
                   FROM ed JOIN x1 ON ed.src = x1.id GROUP BY 1),
            x2 AS (SELECT nodes.id,
                          round(CAST(1 AS DOUBLE)
                            + CAST(0.1 AS DOUBLE) * coalesce(c.c, 0.0), 9) AS x
                   FROM nodes LEFT JOIN c2 c USING (id)),
            c3 AS (SELECT ed.dst AS id, sum(x2.x) AS c
                   FROM ed JOIN x2 ON ed.src = x2.id GROUP BY 1),
            x3 AS (SELECT nodes.id,
                          round(CAST(1 AS DOUBLE)
                            + CAST(0.1 AS DOUBLE) * coalesce(c.c, 0.0), 9) AS x
                   FROM nodes LEFT JOIN c3 c USING (id))
            SELECT id, round(x, 6) AS centrality FROM x3
            ORDER BY centrality DESC, id LIMIT 50"""))

  /** q160 — multi-source BFS hop distance
    * ([[graft.operators.Graph.bfsDistances]]): hops from the
    * doc_id%101 seed set over the q110 link graph, bounded at 3 —
    * exact integer distances, unreached nodes absent. The oracle is
    * the textbook recursive walk with a min-distance rollup. */
  private val q160 = Q("q160_bfs_distance",
    (s, d) => {
      val seeds = Tables.documents(s, d)
        .filter(col("doc_id") % 101 === 0).select(col("doc_id").as("id"))
      graft.operators.Graph.bfsDistances(linkEdges(s, d), "src", "dst",
          seeds, maxHops = 3)
        .orderBy("dist", "id")
    },
    Some("""WITH RECURSIVE ed AS (
              SELECT doc_id AS src,
                     CAST(('0x' || substr(md5(concat(CAST(doc_id AS VARCHAR),
                       '|e', CAST(j AS VARCHAR))), 1, 15)) AS BIGINT) % 400 AS dst
              FROM documents, (SELECT unnest(generate_series(0, 2)) AS j)
              WHERE doc_id % 5 <> 0),
            seeds AS (SELECT DISTINCT doc_id AS id FROM documents
                      WHERE doc_id % 101 = 0),
            walk AS (
              SELECT id, 0 AS d FROM seeds
              UNION ALL
              SELECT ed.dst AS id, walk.d + 1
              FROM walk JOIN ed ON ed.src = walk.id
              WHERE walk.d < 3)
            SELECT id, CAST(min(d) AS BIGINT) AS dist
            FROM walk GROUP BY 1 ORDER BY dist, id"""))

  /** q162 — readability + encoding-damage metrics
    * ([[graft.functions.TextFunctions.fleschReadingEase]] /
    * [[graft.functions.TextFunctions.mojibakeCount]]): Flesch
    * reading ease from three exact regex counts, plus the
    * replacement-char/C1-control mojibake count — the q26 map-pass
    * family extended with the standard prose-difficulty filter. All
    * RE2-compatible patterns, replayed verbatim. */
  private val q162 = Q("q162_readability",
    (s, d) => {
      import graft.functions.TextFunctions._
      val t = col("text")
      Tables.documents(s, d)
        .filter(col("doc_id") < 80)
        .select(col("doc_id"),
          tokenCount(t).cast("long").as("words"),
          sentenceCount(t).cast("long").as("sentences"),
          syllableCount(t).cast("long").as("syllables"),
          round(fleschReadingEase(t), 4).as("flesch"),
          mojibakeCount(t).cast("long").as("mojibake_cnt"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
            CAST(len(str_split(text, ' ')) AS BIGINT) AS words,
            CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
              AS BIGINT) AS sentences,
            CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
              AS BIGINT) AS syllables,
            round(206.835
              - 1.015 * (CAST(greatest(len(str_split(text, ' ')), 1)
                  AS DOUBLE)
                / greatest(len(regexp_extract_all(text, '[.!?]+')), 1))
              - 84.6 * (CAST(len(regexp_extract_all(lower(text),
                  '[aeiouy]+')) AS DOUBLE)
                / greatest(len(str_split(text, ' ')), 1)), 4) AS flesch,
            CAST(len(regexp_extract_all(text,
              '[\x{FFFD}\x{0080}-\x{009F}]')) AS BIGINT) AS mojibake_cnt
            FROM documents WHERE doc_id < 80 ORDER BY doc_id"""))

  /** q164 — TextRank keywords ([[graft.operators.Tfidf.textRank]]):
    * PageRank (2 iterations, d=0.85) over the mirrored word-adjacency
    * graph with duplicate pairs kept as edge weights. The oracle
    * rebuilds the bigram graph positionally (generate_subscripts) and
    * unrolls both iterations exactly as q110. */
  private val q164 = Q("q164_textrank_keywords",
    (s, d) => {
      graft.operators.Tfidf.textRank(Tables.documents(s, d), "text", iters = 2)
        .orderBy(col("rank").desc, col("id")).limit(40)
    },
    Some("""WITH tk AS (SELECT doc_id, str_split(lower(text), ' ') AS t
                        FROM documents),
            toks AS (SELECT doc_id, t[i] AS w, i
                     FROM tk, unnest(range(1, len(t) + 1)) AS u(i)),
            bg AS (SELECT a.w AS w1, b.w AS w2
                   FROM toks a JOIN toks b
                     ON a.doc_id = b.doc_id AND b.i = a.i + 1
                   WHERE a.w <> b.w),
            ed AS (SELECT w1 AS src, w2 AS dst FROM bg
                   UNION ALL
                   SELECT w2, w1 FROM bg),
            nodes AS (SELECT src AS id FROM ed UNION SELECT dst FROM ed),
            nn AS (SELECT count(*) AS n FROM nodes),
            od AS (SELECT src AS id, count(*) AS outdeg FROM ed GROUP BY 1),
            r0 AS (SELECT id, round(CAST(1 AS DOUBLE) / n, 9) AS r
                   FROM nodes, nn),
            dm0 AS (SELECT coalesce(sum(r), 0.0) AS dm
                    FROM r0 LEFT JOIN od USING (id) WHERE outdeg IS NULL),
            c0 AS (SELECT ed.dst AS id, sum(r0.r / od.outdeg) AS c
                   FROM ed JOIN r0 ON ed.src = r0.id JOIN od ON ed.src = od.id
                   GROUP BY 1),
            r1 AS (SELECT nodes.id,
                          round((CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                              * (CAST(1 AS DOUBLE) / n)
                            + CAST(0.85 AS DOUBLE)
                              * (coalesce(c.c, 0.0)
                                 + dm0.dm * (CAST(1 AS DOUBLE) / n)), 9) AS r
                   FROM nodes LEFT JOIN c0 c USING (id), nn, dm0),
            dm1 AS (SELECT coalesce(sum(r), 0.0) AS dm
                    FROM r1 LEFT JOIN od USING (id) WHERE outdeg IS NULL),
            c1 AS (SELECT ed.dst AS id, sum(r1.r / od.outdeg) AS c
                   FROM ed JOIN r1 ON ed.src = r1.id JOIN od ON ed.src = od.id
                   GROUP BY 1),
            r2 AS (SELECT nodes.id,
                          round((CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                              * (CAST(1 AS DOUBLE) / n)
                            + CAST(0.85 AS DOUBLE)
                              * (coalesce(c.c, 0.0)
                                 + dm1.dm * (CAST(1 AS DOUBLE) / n)), 9) AS r
                   FROM nodes LEFT JOIN c1 c USING (id), nn, dm1)
            SELECT id, round(r, 6) AS rank FROM r2
            ORDER BY rank DESC, id LIMIT 40"""))

  /** q165 — Jensen-Shannon drift
    * ([[graft.operators.Stats.jsDrift]]): zh-slice vs rest — q85's
    * KL made symmetric and bounded (the dashboard number). Same
    * smoothing, same 9dp-before-sort term rounding, mirrored
    * expression-for-expression. */
  private val q165 = Q("q165_js_drift",
    (s, d) => {
      Stats.jsDrift(Tables.documents(s, d).select("text", "lang"), "text",
          col("lang") === "zh", k = 0.5, topN = 20)
        .orderBy(col("js_term").desc, col("token"))
    },
    Some("""WITH toks AS (SELECT (lang = 'zh') AS p,
                                 unnest(str_split(text, ' ')) AS token
                          FROM documents),
            c AS (SELECT token,
                         CAST(sum(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT) AS c_p,
                         CAST(sum(CASE WHEN NOT p THEN 1 ELSE 0 END) AS BIGINT) AS c_q
                  FROM toks GROUP BY 1),
            s AS (SELECT CAST(sum(c_p) AS BIGINT) AS np,
                         CAST(sum(c_q) AS BIGINT) AS nq,
                         CAST(count(*) AS BIGINT) AS v
                  FROM c),
            kt AS (SELECT token, c_p, c_q,
                          round(0.5 * ((c_p + 0.5) / (np + 0.5 * v))
                              * ln(((c_p + 0.5) / (np + 0.5 * v))
                                / ((((c_p + 0.5) / (np + 0.5 * v))
                                    + ((c_q + 0.5) / (nq + 0.5 * v))) / 2.0))
                            + 0.5 * ((c_q + 0.5) / (nq + 0.5 * v))
                              * ln(((c_q + 0.5) / (nq + 0.5 * v))
                                / ((((c_p + 0.5) / (np + 0.5 * v))
                                    + ((c_q + 0.5) / (nq + 0.5 * v))) / 2.0)),
                            9) AS js_term
                   FROM c, s),
            tot AS (SELECT round(sum(js_term), 6) AS total_js FROM kt)
            SELECT token, c_p, c_q, js_term, total_js
            FROM kt, tot ORDER BY js_term DESC, token LIMIT 20"""))

  /** q166 — PMI collocations
    * ([[graft.operators.Tfidf.collocations]]): adjacent-pair lift
    * over independence, count-floored, 9dp-rounded PMI as the sort
    * key. The oracle rebuilds bigrams positionally and replays the
    * one pinned PMI expression. */
  private val q166 = Q("q166_pmi_collocations",
    (s, d) => graft.operators.Tfidf.collocations(
      Tables.documents(s, d), "text", minCount = 5L, topN = 30),
    Some("""WITH tk AS (SELECT doc_id, str_split(lower(text), ' ') AS t
                        FROM documents),
            toks AS (SELECT doc_id, t[i] AS w, i
                     FROM tk, unnest(range(1, len(t) + 1)) AS u(i)),
            bi AS (SELECT a.w || ' ' || b.w AS bigram,
                          CAST(count(*) AS BIGINT) AS c_ab
                   FROM toks a JOIN toks b
                     ON a.doc_id = b.doc_id AND b.i = a.i + 1
                   GROUP BY 1),
            uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c
                    FROM toks GROUP BY 1),
            sc AS (SELECT CAST(sum(c_ab) AS BIGINT) AS nbi FROM bi),
            su AS (SELECT CAST(sum(c) AS BIGINT) AS nuni FROM uni),
            p AS (SELECT bigram, c_ab, ua.c AS c_a, ub.c AS c_b,
                         round(ln((c_ab / CAST(nbi AS DOUBLE))
                           / ((ua.c / CAST(nuni AS DOUBLE))
                              * (ub.c / CAST(nuni AS DOUBLE)))), 9) AS pmi
                  FROM bi, sc, su
                  JOIN uni ua ON str_split(bi.bigram, ' ')[1] = ua.w
                  JOIN uni ub ON str_split(bi.bigram, ' ')[2] = ub.w
                  WHERE c_ab >= 5)
            SELECT bigram, c_ab, c_a, c_b, pmi
            FROM p ORDER BY pmi DESC, bigram LIMIT 30"""))

  /** The q167/q168/q169 scored population: every order scored by a
    * blend of its line-item count (real signal) and an md5 draw
    * (noise), labeled by high order value — a deterministic stand-in
    * for "model score vs outcome" that both engines rebuild
    * bit-identically (6dp-rounded scores are exact micro-units). */
  private def scoredOrders(s: org.apache.spark.sql.SparkSession, d: String) = {
    val cnt = Tables.lineitem(s, d).groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("__cnt"))
    Tables.orders(s, d)
      .join(cnt, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("o_orderkey"), col("o_totalprice"),
        coalesce(col("__cnt"), lit(0L)).as("__cnt"))
      .select(
        round(lit(0.5) * least(col("__cnt"), lit(8L)) / lit(8.0)
          + lit(0.5) * (pmod(md5Long(concat(col("o_orderkey").cast("string"),
              lit("|sc"))), lit(1000001)) / lit(1000000.0)), 6).as("score"),
        (col("o_totalprice") > 150000.0).as("label"))
  }

  private val scoredOrdersSql =
    """sc AS (SELECT round(0.5 * least(coalesce(c.cnt, 0), 8) / 8.0
                  + 0.5 * ((CAST(('0x' || substr(md5(concat(
                      CAST(o_orderkey AS VARCHAR), '|sc')), 1, 15)) AS BIGINT)
                      % 1000001) / 1000000.0), 6) AS score,
                    (o_totalprice > 150000.0) AS label
             FROM orders LEFT JOIN
               (SELECT l_orderkey, count(*) AS cnt FROM lineitem GROUP BY 1) c
               ON o_orderkey = c.l_orderkey)"""

  /** q167 — ROC AUC by rank-sum ([[graft.operators.Ranking.auc]]):
    * the q152 machinery reread as a classifier metric — exact
    * half-integer rank arithmetic, ties at half credit, no corpus
    * sort. */
  private val q167 = Q("q167_classifier_auc",
    (s, d) => graft.operators.Ranking.auc(scoredOrders(s, d),
      col("score"), col("label")),
    Some(s"""WITH $scoredOrdersSql,
            g AS (SELECT score, count(*) AS c,
                         CAST(sum(CASE WHEN label THEN 1 ELSE 0 END)
                           AS BIGINT) AS cp
                  FROM sc GROUP BY 1),
            r AS (SELECT *,
                         CAST(2 * (1 + coalesce(CAST(sum(c) OVER (
                             ORDER BY score
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS BIGINT), 0))
                           + c - 1 AS BIGINT) AS rank2
                  FROM g),
            a AS (SELECT CAST(sum(cp) AS BIGINT) AS n_pos,
                         CAST(sum(c - cp) AS BIGINT) AS n_neg,
                         CAST(sum(cp * rank2) AS DOUBLE) AS rp2
                  FROM r)
            SELECT n_pos, n_neg,
                   CASE WHEN n_pos > 0 AND n_neg > 0
                        THEN round((rp2 / 2.0 - CAST(n_pos AS DOUBLE)
                               * (CAST(n_pos AS DOUBLE) + 1) / 2.0)
                             / (CAST(n_pos AS DOUBLE)
                                * CAST(n_neg AS DOUBLE)), 6) END AS auc
            FROM a"""))

  /** q168 — calibration table ([[graft.operators.Stats.calibration]]):
    * predicted-probability mean (exact micro-unit sums) vs observed
    * rate per score decile-bin — the companion honesty check to
    * q167's pure-ranking AUC. */
  private val q168 = Q("q168_calibration",
    (s, d) => graft.operators.Stats.calibration(scoredOrders(s, d),
        col("score"), col("label"), nBins = 10)
      .orderBy("bin"),
    Some(s"""WITH $scoredOrdersSql
            SELECT CAST(greatest(0, least(9, floor(score * 10)))
                     AS BIGINT) AS bin,
                   count(*) AS n,
                   CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_pos,
                   round(CAST(sum(CAST(round(score * 1e6, 0) AS BIGINT))
                       AS BIGINT)
                     / (CAST(count(*) AS DOUBLE) * 1e6), 6) AS mean_pred,
                   round(CAST(sum(CASE WHEN label THEN 1 ELSE 0 END)
                       AS BIGINT)
                     / CAST(count(*) AS DOUBLE), 6) AS frac_pos
            FROM sc GROUP BY 1 ORDER BY 1"""))

  /** q169 — decile gains table
    * ([[graft.operators.Ranking.gainsTable]]): exact-percentile score
    * bands (never a global ntile sort), per-decile response rate,
    * lift, cumulative capture — the campaign-targeting readout. The
    * oracle replays the nine quantile_cont cuts, the comparison-chain
    * banding, and the 10-row cumulative. */
  private val q169 = Q("q169_gains_table",
    (s, d) => graft.operators.Ranking.gainsTable(scoredOrders(s, d),
        col("score"), col("label"))
      .orderBy("decile"),
    Some(s"""WITH $scoredOrdersSql,
            q AS (SELECT quantile_cont(score,
                    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cuts
                  FROM sc),
            b AS (SELECT label,
                         10 - ((CASE WHEN score > round(cuts[1], 6) THEN 1 ELSE 0 END)
                             + (CASE WHEN score > round(cuts[2], 6) THEN 1 ELSE 0 END)
                             + (CASE WHEN score > round(cuts[3], 6) THEN 1 ELSE 0 END)
                             + (CASE WHEN score > round(cuts[4], 6) THEN 1 ELSE 0 END)
                             + (CASE WHEN score > round(cuts[5], 6) THEN 1 ELSE 0 END)
                             + (CASE WHEN score > round(cuts[6], 6) THEN 1 ELSE 0 END)
                             + (CASE WHEN score > round(cuts[7], 6) THEN 1 ELSE 0 END)
                             + (CASE WHEN score > round(cuts[8], 6) THEN 1 ELSE 0 END)
                             + (CASE WHEN score > round(cuts[9], 6) THEN 1 ELSE 0 END))
                           AS decile
                  FROM sc, q),
            per AS (SELECT CAST(decile AS BIGINT) AS decile,
                           count(*) AS n,
                           CAST(sum(CASE WHEN label THEN 1 ELSE 0 END)
                             AS BIGINT) AS n_pos
                    FROM b GROUP BY 1),
            t AS (SELECT CAST(sum(n) AS BIGINT) AS tn,
                         CAST(sum(n_pos) AS BIGINT) AS tp FROM per),
            cum AS (SELECT per.*, tn, tp,
                           CAST(sum(n_pos) OVER (ORDER BY decile
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS BIGINT) AS cum_pos
                    FROM per, t)
            SELECT decile, n, n_pos,
                   round(n_pos / CAST(n AS DOUBLE), 6) AS rate,
                   CASE WHEN tp > 0 THEN round(
                     (n_pos / CAST(n AS DOUBLE))
                       / (tp / CAST(tn AS DOUBLE)), 6) END AS lift,
                   CASE WHEN tp > 0 THEN round(
                     cum_pos / CAST(tp AS DOUBLE), 6) END AS cum_capture
            FROM cum ORDER BY decile"""))

  /** q172 — top principal component by quantized power iteration
    * ([[graft.operators.Similarity.pcaPowerComponent]], 2 rounds):
    * every projection and accumulation is integer-quantized (micro-
    * unit embeddings, milli-unit projections, decimal-exact sums), so
    * the oracle replays the whole iteration at the (row, dim) grain —
    * distributed PCA with no FP accumulation anywhere. */
  private val q172 = Q("q172_pca_component",
    (s, d) => graft.operators.Similarity.pcaPowerComponent(
        Tables.embeddings(s, d), "embedding", iters = 2)
      .orderBy("dim"),
    Some("""WITH x AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e
                       FROM embeddings WHERE embedding IS NOT NULL),
            xj AS (SELECT id, j,
                          CAST(round(e[j + 1] * 1e6, 0) AS BIGINT) AS x6
                   FROM x, unnest(range(0, len(e))) AS u(j)),
            m AS (SELECT j, CAST(round(CAST(sum(x6) AS DOUBLE) / count(*), 0)
                     AS BIGINT) AS m6
                  FROM xj GROUP BY 1),
            xc AS (SELECT id, xj.j, x6 - m6 AS xc
                   FROM xj JOIN m ON xj.j = m.j),
            v0 AS (SELECT j, CAST(125000 AS BIGINT) AS v6
                   FROM (SELECT unnest(range(0, 64)) AS j)),
            y1 AS (SELECT id, CAST(sum(xc * v6) AS BIGINT) AS y12
                   FROM xc JOIN v0 USING (j) GROUP BY id),
            y1q AS (SELECT id,
                           (y12 - ((y12 % 1000000000 + 1000000000)
                             % 1000000000)) // 1000000000 AS y3
                    FROM y1),
            s1 AS (SELECT j, sum(y3 * xc) AS s
                   FROM xc JOIN y1q USING (id) GROUP BY j),
            n1 AS (SELECT sqrt(CAST(sum(s * s) AS DOUBLE)) AS nrm FROM s1),
            v1 AS (SELECT j, CAST(round(CAST(s AS DOUBLE) / nrm * 1e6, 0)
                     AS BIGINT) AS v6
                   FROM s1, n1),
            y2 AS (SELECT id, CAST(sum(xc * v6) AS BIGINT) AS y12
                   FROM xc JOIN v1 USING (j) GROUP BY id),
            y2q AS (SELECT id,
                           (y12 - ((y12 % 1000000000 + 1000000000)
                             % 1000000000)) // 1000000000 AS y3
                    FROM y2),
            s2 AS (SELECT j, sum(y3 * xc) AS s
                   FROM xc JOIN y2q USING (id) GROUP BY j),
            n2 AS (SELECT sqrt(CAST(sum(s * s) AS DOUBLE)) AS nrm FROM s2),
            v2 AS (SELECT j, CAST(round(CAST(s AS DOUBLE) / nrm * 1e6, 0)
                     AS BIGINT) AS v6
                   FROM s2, n2)
            SELECT CAST(j AS BIGINT) AS dim,
                   CAST(v6 AS DOUBLE) / 1e6 AS loading
            FROM v2 ORDER BY dim"""))

  /** q177 — isotonic (PAV) calibration
    * ([[graft.operators.Stats.isotonicCalibration]]): the monotone
    * correction over q168's reliability bins, computed by the exact
    * minimax identity (max over j≤i of min over k≥i of the interval
    * mean) instead of a sequential PAV loop — every interval mean is
    * one division of exact integer prefix differences, so the oracle
    * replays the whole lattice. */
  private val q177 = Q("q177_isotonic_calibration",
    (s, d) => graft.operators.Stats.isotonicCalibration(scoredOrders(s, d),
      col("score"), col("label"), nBins = 10),
    Some(s"""WITH $scoredOrdersSql,
            bins AS (SELECT CAST(greatest(0, least(9, floor(score * 10)))
                       AS BIGINT) AS bin,
                     count(*) AS n,
                     CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_pos,
                     round(CAST(sum(CASE WHEN label THEN 1 ELSE 0 END)
                         AS BIGINT) / CAST(count(*) AS DOUBLE), 6)
                       AS frac_pos
                     FROM sc GROUP BY 1),
            pre AS (SELECT bin, n, n_pos,
                           CAST(sum(n) OVER (ORDER BY bin
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS BIGINT) AS cn,
                           CAST(sum(n_pos) OVER (ORDER BY bin
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS BIGINT) AS cp
                    FROM bins),
            prex AS (SELECT bin, cn, cp, cn - n AS pn, cp - n_pos AS pp
                     FROM pre),
            means AS (SELECT a.bin AS j, b.bin AS k,
                             CAST(b.cp - a.pp AS DOUBLE) / (b.cn - a.pn)
                               AS m
                      FROM prex a JOIN prex b ON a.bin <= b.bin),
            inner_ AS (SELECT i.bin, ms.j, min(ms.m) AS inner_m
                       FROM bins i JOIN means ms
                         ON ms.j <= i.bin AND ms.k >= i.bin
                       GROUP BY 1, 2),
            iso AS (SELECT bin, max(inner_m) AS iso FROM inner_ GROUP BY 1)
            SELECT b.bin, b.n, b.n_pos, b.frac_pos,
                   round(iso.iso, 6) AS iso_rate
            FROM bins b JOIN iso USING (bin) ORDER BY bin"""))

  /** q178 — linear gap interpolation
    * ([[graft.ops.Analytics.interpolateDaily]]): per-type daily mean
    * event value, micro-quantized, interior gaps filled by the exact
    * straight line (ties re-quantized to whole micro-units — no
    * decimal rounding call exists to disagree on), edges null. The
    * oracle mirrors the carry windows with IGNORE NULLS. */
  private val q178 = Q("q178_interpolate_daily",
    (s, d) => graft.ops.Analytics.interpolateDaily(
        // punch deterministic holes (every 7th day-of-month) so the
        // interior-gap lerp genuinely runs under the oracle — the raw
        // fixture is gapless at this scale
        Tables.events(s, d).where(dayofmonth(col("ts")) % 7 =!= 3),
        "event_type", "ts", col("value"))
      .orderBy("event_type", "day"),
    Some("""WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                     CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                       AS BIGINT) AS cents,
                     count(*) AS cnt
              FROM events
              WHERE value IS NOT NULL AND NOT isnan(value)
                AND dayofmonth(ts) % 7 <> 3
              GROUP BY 1, 2),
            dm AS (SELECT event_type, day,
                          CAST(round(cents * 10000.0 / cnt, 0) AS BIGINT)
                            AS m
                   FROM daily),
            dense AS (
              SELECT s.event_type, CAST(d AS DATE) AS day
              FROM (SELECT event_type, min(day) AS d0, max(day) AS d1
                    FROM dm GROUP BY 1) s,
                   unnest(generate_series(CAST(s.d0 AS TIMESTAMP),
                     CAST(s.d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS t(d)),
            f AS (SELECT dense.event_type, dense.day, dm.m,
                         CAST(datediff('day', DATE '1970-01-01', dense.day)
                           AS BIGINT) AS ord
                  FROM dense LEFT JOIN dm USING (event_type, day)),
            w AS (SELECT *,
                         last_value(m IGNORE NULLS) OVER (
                           PARTITION BY event_type ORDER BY ord
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS pm,
                         last_value(CASE WHEN m IS NOT NULL THEN ord END
                           IGNORE NULLS) OVER (
                           PARTITION BY event_type ORDER BY ord
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS po,
                         first_value(m IGNORE NULLS) OVER (
                           PARTITION BY event_type ORDER BY ord
                           ROWS BETWEEN CURRENT ROW
                           AND UNBOUNDED FOLLOWING) AS nm,
                         first_value(CASE WHEN m IS NOT NULL THEN ord END
                           IGNORE NULLS) OVER (
                           PARTITION BY event_type ORDER BY ord
                           ROWS BETWEEN CURRENT ROW
                           AND UNBOUNDED FOLLOWING) AS no_
                  FROM f)
            SELECT event_type, day, (m IS NOT NULL) AS observed,
                   CAST(CASE WHEN m IS NOT NULL THEN m
                             WHEN pm IS NOT NULL AND nm IS NOT NULL
                             THEN CAST(round(pm
                               + CAST(nm - pm AS DOUBLE)
                                 * CAST(ord - po AS DOUBLE)
                                 / CAST(no_ - po AS DOUBLE), 0) AS BIGINT)
                             END AS DOUBLE) / 1e6 AS value
            FROM w ORDER BY event_type, day"""))

  /** q181 — Rocchio pseudo-relevance feedback
    * ([[graft.operators.Tfidf.rocchioExpand]]): BM25 top-10 as
    * pseudo-relevant, 3 tf·idf expansion terms elected in exact
    * micro-units, re-ranked with the widened query. The oracle
    * replays BOTH retrieval passes and the election. */
  private val q181 = Q("q181_rocchio_prf",
    (s, d) => graft.operators.Tfidf.rocchioExpand(Tables.documents(s, d),
      "doc_id", "text", Seq("dup", "vector"),
      kFeedback = 10, nExpand = 3, k = 25),
    Some("""WITH toks AS (SELECT doc_id, str_split(text, ' ') AS ws
                          FROM documents),
            stats AS (SELECT count(*) AS n_docs, avg(len(ws)) AS avgdl
                      FROM toks),
            tf1 AS (SELECT doc_id, len(ws) AS dl, w AS term, count(*) AS tf
                    FROM toks, LATERAL (SELECT unnest(ws) AS w)
                    WHERE w IN ('dup', 'vector')
                    GROUP BY 1, 2, 3),
            df1 AS (SELECT term, count(*) AS df FROM tf1 GROUP BY 1),
            c1 AS (SELECT doc_id,
                          CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                            * (tf * (CAST(1.2 AS DOUBLE) + 1))
                            / (tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl / avgdl)))
                            * 1000000) AS BIGINT) AS micros
                   FROM tf1 JOIN df1 USING (term) CROSS JOIN stats),
            fb AS (SELECT doc_id FROM (
                     SELECT doc_id, CAST(sum(micros) AS BIGINT) AS s
                     FROM c1 GROUP BY 1
                     ORDER BY s DESC, doc_id LIMIT 10)),
            ftf AS (SELECT t.doc_id, w AS term, count(*) AS tf
                    FROM toks t JOIN fb USING (doc_id),
                         LATERAL (SELECT unnest(ws) AS w)
                    WHERE w NOT IN ('dup', 'vector')
                    GROUP BY 1, 2),
            cdf AS (SELECT w AS term, count(DISTINCT doc_id) AS df
                    FROM toks, LATERAL (SELECT unnest(ws) AS w)
                    WHERE w IN (SELECT term FROM ftf)
                    GROUP BY 1),
            exp_ AS (SELECT term FROM (
                       SELECT ftf.term,
                              CAST(sum(tf * CAST(round(
                                (ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1))
                                  + 1) * 1e6, 0) AS BIGINT)) AS BIGINT) AS sc
                       FROM ftf JOIN cdf USING (term) CROSS JOIN stats
                       GROUP BY 1 ORDER BY sc DESC, term LIMIT 3)),
            tf2 AS (SELECT doc_id, len(ws) AS dl, w AS term, count(*) AS tf
                    FROM toks, LATERAL (SELECT unnest(ws) AS w)
                    WHERE w IN ('dup', 'vector')
                       OR w IN (SELECT term FROM exp_)
                    GROUP BY 1, 2, 3),
            df2 AS (SELECT term, count(*) AS df FROM tf2 GROUP BY 1),
            c2 AS (SELECT doc_id,
                          CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                            * (tf * (CAST(1.2 AS DOUBLE) + 1))
                            / (tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl / avgdl)))
                            * 1000000) AS BIGINT) AS micros
                   FROM tf2 JOIN df2 USING (term) CROSS JOIN stats)
            SELECT doc_id, CAST(sum(micros) AS BIGINT) AS bm25_micros,
                   count(*) AS n_terms
            FROM c2 GROUP BY 1
            ORDER BY bm25_micros DESC, doc_id LIMIT 25"""))

  /** q182 — k-core decomposition ([[graft.operators.Graph.kCore]],
    * k=4): the dense core of the link graph by iterative peeling.
    * The k-core fixpoint is UNIQUE and schedule-independent, so the
    * oracle peels by a generated 16-round unrolled chain (the
    * observed fixpoint needs 13; extra rounds are no-ops) while the
    * operator iterates to convergence — equality IS the confluence
    * claim. Exact integers; no FP anywhere. */
  private val q182 = Q("q182_kcore",
    (s, d) => {
      // maxRounds = 16 is PINNED to the oracle's 16-round unrolled
      // chain below (sf0.01 fixpoint observed at 13, +1 confirming
      // round = headroom 2). A fixture change needing more rounds
      // fails loud HERE — bump both the cap and the oracle's unroll
      // together, never one of them.
      graft.operators.Graph.kCore(linkEdges(s, d), "src", "dst", k = 4,
          maxRounds = 16)
        .orderBy("id")
    },
    Some {
      // every n_i is referenced TWICE by round i+1 — without
      // MATERIALIZED, DuckDB inlines CTEs and the 16-round chain
      // expands exponentially (observed as an fd-exhaustion crash)
      val rounds = (1 to 16).map { i =>
        val prev = if (i == 1) "n0" else s"n${i - 1}"
        s"""d$i AS MATERIALIZED (SELECT u AS id, count(*) AS c
                   FROM und
                   JOIN $prev pa ON und.u = pa.id
                   JOIN $prev pb ON und.v = pb.id
                   GROUP BY 1),
            n$i AS MATERIALIZED (SELECT id, c FROM d$i WHERE c >= 4)"""
      }.mkString(",\n            ")
      s"""WITH ed AS (
              SELECT doc_id AS src,
                     CAST(('0x' || substr(md5(concat(CAST(doc_id AS VARCHAR),
                       '|e', CAST(j AS VARCHAR))), 1, 15)) AS BIGINT) % 400 AS dst
              FROM documents, (SELECT unnest(generate_series(0, 2)) AS j)
              WHERE doc_id % 5 <> 0),
            canon AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b
                      FROM ed WHERE src <> dst GROUP BY 1, 2),
            und AS MATERIALIZED (SELECT a AS u, b AS v FROM canon
                    UNION ALL
                    SELECT b, a FROM canon),
            n0 AS MATERIALIZED (SELECT DISTINCT u AS id FROM und),
            $rounds
            SELECT id, CAST(c AS BIGINT) AS core_degree
            FROM n16 ORDER BY id"""
    })

  val all: Seq[Q] = Seq(q25, q26, q27, q28, q29, q30, q31, q32, q33, q40, q41,
    q42, q43, q47, q49, q50, q51, q52, q53, q54, q55, q56, q59, q60, q61, q62,
    q63, q66, q67, q68, q69, q71, q72, q73, q74, q75, q76, q77, q78, q79, q80,
    q81, q82, q83, q84, q85, q86, q87, q88, q89, q90, q91, q92, q93, q94, q95,
    q96, q97, q98, q99, q100, q101, q102, q103, q104, q105, q106, q107, q108,
    q109, q110, q111, q112, q113, q114, q115, q116, q117, q118, q126, q127,
    q134, q136, q145, q147, q148, q149, q150, q158, q159, q160, q162, q164,
    q165, q166, q167, q168, q169, q172, q173, q177, q178, q181, q182)
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only plan/timing harness: `runMain graft.Scratch <queryName> [sfDir]`
  * prints the formatted physical plan and per-run wall time for one
  * declared query. Not part of the driver contract. */
object Scratch {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.adaptive.enabled",
        !sys.env.contains("SPARK_GRAFT_NOAQE"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // dev parity with Bench/Verify (r11): AQE-sized cached plans
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        (!sys.env.get("SPARK_GRAFT_CACHED_AQE").contains("0")).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (name == "stages") { minhashStages(spark, sfDir); spark.stop(); return }
    if (name == "appendstages") { appendStages(spark, sfDir); spark.stop(); return }
    if (name == "containstages") { containStages(spark, sfDir); spark.stop(); return }
    if (name == "q61stages") { pipelineStages(spark, sfDir); spark.stop(); return }
    if (name == "q61jobs") { pipelineJobs(spark, sfDir); spark.stop(); return }
    if (name == "pipeline") {
      val t0 = System.nanoTime()
      val counts = graft.etl.Pipeline.run(spark,
        "/root/reference/data/walmart_data.csv", "/tmp/graft_wh",
        graft.etl.RunContext("2026-08-12"))
      counts.toSeq.sorted.foreach { case (t, n) => println(s"[scratch] $t: $n") }
      println(s"[scratch] pipeline done in ${(System.nanoTime() - t0) / 1e9} s")
      spark.stop(); return
    }
    if (name == "kcoreprobe") {
      // dissect kCore's per-round cost on the q182 graph: und size,
      // partition counts, per-round deg-computation and checkpoint
      // timings, and a repeat of one round to see cache effectiveness
      val dir = if (args.length > 1) args(1) else sfDir
      val dsts = array((0 to 2).map(j =>
        pmod(graft.functions.TextFunctions.md5Long(
          concat(col("doc_id").cast("string"), lit(s"|e$j"))), lit(400))): _*)
      val edges = graft.Tables.documents(spark, dir)
        .filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id").as("src"), explode(dsts).as("dst"))
      val canon = edges.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
        .distinct()
      val und = canon.select(col("a").as("u"), col("b").as("v"))
        .unionByName(canon.select(col("b").as("u"), col("a").as("v")))
        .persist()
      def t[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"[kcp] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
      }
      val n = t("und count (fill cache)")(und.count())
      println(s"[kcp] und rows=$n parts=${und.rdd.getNumPartitions}")
      // variant knobs: NARROW=1 coalesces the cached edge frame to an
      // owned width; OBSERVE=1 rides the round count on the checkpoint
      val undLoop = if (sys.env.contains("KCP_NARROW")) {
        val w = math.max(1L, math.min(
          spark.sparkContext.defaultParallelism.toLong, (n + 9999) / 10000)).toInt
        println(s"[kcp] narrowing und to $w parts")
        und.coalesce(w)
      } else und
      val useObserve = sys.env.contains("KCP_OBSERVE")
      var alive = t("seed checkpoint")(graft.operators.Checkpoints.stableTracked(
        und.select(col("u").as("id")).distinct()))
      println(s"[kcp] alive parts=${alive._1.rdd.getNumPartitions}")
      var aliveCount = t("seed count")(alive._1.count())
      for (r <- 1 to 6) {
        val deg = undLoop
          .join(alive._1.select(col("id").as("u")), Seq("u"), "left_semi")
          .join(alive._1.select(col("id").as("v")), Seq("v"), "left_semi")
          .groupBy(col("u").as("id")).agg(count(lit(1)).as("core_degree"))
        val filtered = deg.where(col("core_degree") >= 4)
        if (useObserve) {
          val obs = new org.apache.spark.sql.Observation(s"kcp_r$r")
          val next = t(s"round $r checkpoint+obs")(
            graft.operators.Checkpoints.stableTracked(
              filtered.observe(obs, count(lit(1)).as("n"))))
          aliveCount = obs.get("n").asInstanceOf[Long]
          println(s"[kcp] round $r alive=$aliveCount parts=${next._1.rdd.getNumPartitions}")
          graft.operators.Checkpoints.drop(alive._1, alive._2)
          alive._1.unpersist(blocking = false)
          alive = next
        } else {
        val next = t(s"round $r checkpoint")(
          graft.operators.Checkpoints.stableTracked(filtered))
        aliveCount = t(s"round $r count")(next._1.count())
        println(s"[kcp] round $r alive=$aliveCount parts=${next._1.rdd.getNumPartitions}")
        graft.operators.Checkpoints.drop(alive._1, alive._2)
        alive._1.unpersist(blocking = false)
        alive = next
        }
      }
      spark.stop(); return
    }
    if (name == "profile") {
      // profile <qname> [sfDir]: run the query once warm, then once
      // under a listener that records per-job wall time and per-stage
      // task totals — the "which job inside this query is slow" view
      // the UI would give (guide §7.1), printable from a headless run.
      val qname = args(1)
      val dir = if (args.length > 2) args(2) else sfDir
      val fn = SparkEntry.queries(qname)
      fn(spark, dir).count() // warm: JIT, page cache, footers
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      System.gc()
      val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      val jobEnd = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      val stageInfo = new java.util.concurrent.ConcurrentHashMap[Int, String]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.put(e.jobId, (e.time, Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")))
        override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          jobEnd.put(e.jobId, e.time)
        override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = e.stageInfo
          val m = si.taskMetrics
          stageInfo.put(si.stageId, f"stage ${si.stageId}%4d tasks=${si.numTasks}%3d " +
            f"run=${m.executorRunTime / 1e3}%7.2fs cpu=${m.executorCpuTime / 1e9}%7.2fs " +
            f"sRead=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.2fMB " +
            f"sWrite=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.2fMB " +
            f"input=${m.inputMetrics.bytesRead / 1e6}%8.2fMB  [${si.name.take(60)}]")
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val n = fn(spark, dir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1000) // listener bus is async; let it drain
      spark.sparkContext.removeSparkListener(listener)
      println(f"[profile] $qname: $n rows in $wall%.3f s; ${jobs.size} jobs")
      import scala.jdk.CollectionConverters._
      jobs.asScala.toSeq.sortBy(_._1).foreach { case (id, (start, desc)) =>
        val dur = jobEnd.getOrDefault(id, start) - start
        println(f"[profile] job $id%4d ${dur / 1e3}%7.3fs  $desc")
      }
      stageInfo.asScala.toSeq.sortBy(_._1).foreach { case (_, s) =>
        println(s"[profile] $s") }
      spark.stop(); return
    }
    if (name == "plans") {
      // plans <outDir> [sfDir] [qname,qname,...]: write each query's
      // explain("formatted") to <outDir>/<qname>.txt — the plan-claim
      // evidence files under plans/rNN/. Building a frame is cheap;
      // streams inside a build run eagerly.
      val outDir = java.nio.file.Paths.get(args(1))
      java.nio.file.Files.createDirectories(outDir)
      val dir = if (args.length > 2) args(2) else sfDir
      val names = if (args.length > 3)
        args(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
      names.foreach { qname =>
        val txt = try {
          val df = SparkEntry.queries(qname)(spark, dir)
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        } catch { case e: Throwable => s"ERROR building plan: $e" }
        java.nio.file.Files.writeString(outDir.resolve(s"$qname.txt"), txt)
        println(s"[scratch] plans: $qname (${txt.length} chars)")
      }
      spark.stop(); return
    }
    if (name == "dump") {
      // dump ONE query + its oracle SQL for a single-query
      // scripts/oracle_check.py pass: Scratch dump <qname> [sfDir]
      val qname = args(1)
      val dir = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
      val out = s"/tmp/verify_one/$qname"
      SparkEntry.queries(qname)(spark, dir)
        .coalesce(1).write.mode("overwrite").parquet(out)
      val sql = SparkEntry.oracleSql(qname)
        .flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
                   case '\r' => "\\r"; case '\t' => "\\t"
                   case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("/tmp/verify_one/oracle_sql.json"),
        s"""{"$qname": "$sql"}""")
      spark.stop(); return
    }
    val fn = SparkEntry.queries(name)
    val df = fn(spark, sfDir)
    df.explain("formatted")
    (1 to 3).foreach { i =>
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(s"[scratch] run $i: $n rows in ${(System.nanoTime() - t0) / 1e9} s")
    }
    spark.stop()
  }

  /** Job-level timeline of one warm q61 run: every Spark job's span
    * plus the driver-side gaps between jobs (plan/codegen/drain time —
    * the fixed cost the job timings don't show). */
  private def pipelineJobs(spark: SparkSession, sfDir: String): Unit = {
    import scala.collection.mutable.ArrayBuffer
    val jobs = ArrayBuffer.empty[(Int, Long, Long, String)]
    val listener = new org.apache.spark.scheduler.SparkListener {
      private val starts =
        scala.collection.concurrent.TrieMap.empty[Int, (Long, String)]
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val desc = e.stageInfos.lastOption.map(_.name)
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        starts.put(e.jobId, (e.time, desc))
      }
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        starts.remove(e.jobId).foreach { case (t0, desc) =>
          jobs.synchronized { jobs += ((e.jobId, t0, e.time, desc)) }
        }
    }
    // warm run first so the timeline isn't first-compile noise
    SparkEntry.queries("q61_corpus_pipeline")(spark, sfDir).count()
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.currentTimeMillis()
    SparkEntry.queries("q61_corpus_pipeline")(spark, sfDir).count()
    val tEnd = System.currentTimeMillis()
    // drain the async listener bus BEFORE detaching, or the terminal
    // job's end event is lost and its span misreports as driver time
    Thread.sleep(500)
    spark.sparkContext.removeSparkListener(listener)
    var cursor = t0
    jobs.sortBy(_._2).foreach { case (id, s, e, desc) =>
      val gap = s - cursor
      if (gap > 30) println(f"[scratch]   (driver gap ${gap / 1e3}%.2f s)")
      println(f"[scratch] job $id%3d ${(e - s) / 1e3}%6.2f s  " +
        f"@${(s - t0) / 1e3}%6.2f  ${desc.take(90)}")
      cursor = math.max(cursor, e)
    }
    if (tEnd > cursor) println(f"[scratch]   (tail gap ${(tEnd - cursor) / 1e3}%.2f s)")
    println(f"[scratch] total ${(tEnd - t0) / 1e3}%.2f s, ${jobs.size} jobs")
  }

  /** Times q61's internal phases with explicit actions to localize
    * the pipeline's fixed cost (each phase is forced with a count so
    * the numbers attribute to phases, unlike the fused real run). */
  private def pipelineStages(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions._
    import graft.operators.{CorpusPipeline, Dedup, Packing, Sampling}
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(s"[scratch] $label: ${(System.nanoTime() - t0) / 1e9} s"); r
    }
    val docs = Tables.documents(spark, sfDir)
    time("warmup")(docs.count())
    // one full pass first so phase timings below are codegen-warm
    time("full q61 cold")(SparkEntry.queries("q61_corpus_pipeline")(spark, sfDir).count())
    val shingles = Dedup.shingleCache(docs, "doc_id", "text")
    val quality = docs.where(qualityScore(col("text")) >= 0.2).persist()
    time("quality")(quality.count())
    val exact = Dedup.exactByKey(quality, fingerprint(col("text")), "doc_id").persist()
    time("exact_dedup")(exact.count())
    val pairs = Dedup.simhashNearDupPairs(exact, "doc_id", "text",
      bits = 48, maxHamming = 3).persist()
    time("simhash pairs")(pairs.count())
    val cc = time("connectedComponents")(Dedup.connectedComponents(pairs))
    val nearDup = Dedup.dedupByClusters(exact, cc, "doc_id").persist()
    time("dedupByClusters")(nearDup.count())
    val cont = Dedup.contaminationFromSuperset(
      docs.filter(col("doc_id") < 10), nearDup, "doc_id", "text", shingles)
    val contaminated = cont.where(col("contamination_pct") > 0.0).select("doc_id")
    val clean = nearDup.join(contaminated, Seq("doc_id"), "left_anti").persist()
    time("decontaminate")(clean.count())
    val mixed = Sampling.mixtureSample(clean, col("source"), col("doc_id"),
      Map("src0" -> 0.5), 1.0).persist()
    time("mixture")(mixed.count())
    val (trainDocs, holdout) = Sampling.hashSplit(mixed,
      concat(col("doc_id"), lit("|holdout")), 0.1)
    val packed = Packing.packSequences(trainDocs.withColumn("n_tokens",
      tokenCount(col("text")).cast("long")), "doc_id", "n_tokens", 1024)
    time("pack+materialize train")(graft.operators.Checkpoints.materialize(packed).count())
    time("materialize holdout")(graft.operators.Checkpoints.materialize(holdout).count())
    shingles.release()
    Seq(quality, exact, pairs, nearDup, clean, mixed)
      .foreach(_.unpersist(blocking = false))
    time("full q61 run 1")(SparkEntry.queries("q61_corpus_pipeline")(spark, sfDir).count())
    time("full q61 run 2")(SparkEntry.queries("q61_corpus_pipeline")(spark, sfDir).count())
  }

  /** Times q75's pieces: index build, then the append call. */
  private def appendStages(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(s"[scratch] $label: ${(System.nanoTime() - t0) / 1e9} s"); r
    }
    val docs = Tables.documents(spark, sfDir)
    time("warmup")(docs.count())
    // parameters must mirror q75's (32 hashes / 16 bands) or the
    // profile localizes a plan the query does not run
    val idx = time("index build")(Dedup.minhashIndex(
      docs.filter(col("doc_id") < 400), "doc_id", "text", 3, 32, 16))
    val res = time("append")(Dedup.minhashLshAppend(
      idx, docs.filter(col("doc_id") >= 400), "text", 0.5))
    time("res.count")(res.count())
    idx.release()
    time("q28 for comparison")(
      SparkEntry.queries("q28_minhash_lsh")(spark, sfDir).count())
  }

  /** Re-derives minhashLsh's internal stages to localize cost. */
  /** Stage timings for the q148 containment pipeline (dev-only):
    * where do the ~5s go — shingling, the df join, the candidate
    * self-join, or the array-intersect verify? */
  private def containStages(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFunctions._
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(s"[scratch] $label: ${(System.nanoTime() - t0) / 1e9} s"); r
    }
    val base = Tables.documents(spark, sfDir).select("doc_id", "text")
    val subsets = base.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 30000).as("doc_id"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 15)).as("text"))
    val docs = base.unionByName(subsets)
    val shingled = docs
      .select(col("doc_id"),
        array_distinct(transform(wordShingles(col("text"), 3),
          s => md5Long(s))).as("sh"))
      .where(size(col("sh")) > 0).persist()
    time("warmup")(shingled.count())
    time("shingled.count (cached)")(shingled.count())
    val inv = shingled.select(col("doc_id"), explode(col("sh")).as("s"))
    time("inv.count")(inv.count())
    val dfCount = inv.groupBy("s").agg(count(lit(1)).as("df"))
    val withDf = inv.join(dfCount, "s").persist()
    time("withDf materialize")(withDf.count())
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
    val prefixLen = col("sz") - ceil((lit(0.8) - lit(1e-4)) * col("sz")) + lit(1L)
    val indexed = withDf.withColumn("rn", row_number().over(w))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .where(col("rn") <= prefixLen)
      .where(col("df") <= 100 || col("rn") === 1)
      .select(col("doc_id"), col("s"))
    time("indexed(prefix).count")(println("[scratch] n_prefix=" + indexed.count()))
    val cand = indexed.as("a")
      .join(withDf.select(col("doc_id"), col("s")).as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_id_1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_id_2"))
      .distinct().persist()
    time("candidates distinct")(println("[scratch] n_cand=" + cand.count()))
    val s1 = shingled.select(col("doc_id").as("doc_id_1"), col("sh").as("sh1"))
    val s2 = shingled.select(col("doc_id").as("doc_id_2"), col("sh").as("sh2"))
    val inter = size(array_intersect(col("sh1"), col("sh2"))).cast("double")
    val verified = cand.join(s1, "doc_id_1").join(s2, "doc_id_2")
      .where(round(inter / size(col("sh1")), 4) >= 0.8 ||
        round(inter / size(col("sh2")), 4) >= 0.8)
    time("verify join")(verified.count())
    Seq(shingled, withDf, cand).foreach(_.unpersist(blocking = false))
    time("full q148")(SparkEntry.queries("q148_containment_pairs")(spark, sfDir).count())
    time("full q148 again")(SparkEntry.queries("q148_containment_pairs")(spark, sfDir).count())
  }

  private def minhashStages(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions._
    import graft.operators.Dedup
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(s"[scratch] $label: ${(System.nanoTime() - t0) / 1e9} s"); r
    }
    val docs = Tables.documents(spark, sfDir).repartition(col("doc_id"))
    val shingled = docs
      .select(col("doc_id"),
        transform(wordShingles(col("text"), 3), s => md5Long(s)).as("sh"))
      .where(size(col("sh")) > 0)
    time("warmup")(shingled.count())
    time("shingled.count")(shingled.count())
    val hashes = shingled.select(col("doc_id"), explode(col("sh")).as("h"))
    time("hashes.count")(hashes.count())
    val minAggs = Dedup.minhashConstants(64).zipWithIndex.map {
      case ((a0, a1), i) =>
        val M30 = (1L << 30) - 1; val M60 = (1L << 60) - 1
        val h0 = col("h").bitwiseAND(lit(M30)); val h1 = shiftright(col("h"), 30)
        val cross = (lit(a0) * h1 + lit(a1) * h0).bitwiseAND(lit(M30))
        min((lit(a0) * h0 + shiftleft(cross, 30)).bitwiseAND(lit(M60))).as(s"m$i")
    }
    val sigs = hashes.groupBy(col("doc_id")).agg(minAggs.head, minAggs.tail: _*)
    time("sigs agg 1st")(sigs.count())
    time("sigs agg 2nd")(sigs.count())
    val bucketCols = (0 until 16).map { b =>
      concat_ws(",", (0 until 4).map(r => col(s"m${b * 4 + r}")): _*)
    }
    val buckets = sigs.select(col("doc_id"), posexplode(array(bucketCols: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    time("buckets.count")(buckets.count())
    val candidates = buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2")).distinct()
    time("candidates.count")(candidates.count())
    time("full q28")(SparkEntry.queries("q28_minhash_lsh")(spark, sfDir).count())
  }
}

package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    // Interleaved A/B mode (r10): with SPARK_GRAFT_AB_CONTROL set to a
    // control build's classes dir (or jar), this invocation becomes an
    // ORCHESTRATOR that alternates whole bench passes between HEAD and
    // the control in one session and reports paired per-query ratios —
    // session drift (thermal state, page cache, co-running load) hits
    // both sides of each pair, so the ratio is drift-immune where the
    // raw total is not (r8/r9 both needed post-hoc drift attribution).
    if (sys.env.contains("SPARK_GRAFT_AB_CONTROL")) {
      AbBench.run(sys.env("SPARK_GRAFT_AB_CONTROL"))
      return
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_MASTER=local-cluster[n,c,mem] runs the identical
    // bench under multi-process executors: the cross-boundary smoke,
    // not the grade (paired ratios need the quieter local substrate)
    val spark = Sessions.fromEnv()
    // uncounted warmup: absorb session init, parquet footer reads and
    // first-stage codegen/JIT so the first measured query isn't charged
    // for one-time JVM costs (standard benching practice; each query
    // still pays its own plan+codegen inside its measurement)
    try SparkEntry.queries.get("q01_pricing_summary")
      .foreach(_(spark, sfDir).count())
    catch { case _: Throwable => () }
    // a failed query must NOT fold its elapsed time into the total (a
    // broken query would silently "improve" the line) — record it in
    // an explicit errors list instead. Name-sorted so every run (and
    // every round) executes in the same order: Map iteration order
    // shifts as queries are added, which moves JIT/GC neighborhoods
    // and makes per-query times incomparable across rounds.
    //
    // Each query runs `reps` times (default 3) and the HEADLINE
    // per-query number is the MIN of its reps. The queries here are
    // deterministic local computations, so their true cost is a fixed
    // quantity and every source of error (GC pause, JIT warmup, a
    // co-running JVM stealing cores) is strictly additive — min is the
    // estimator closest to the true cost, and it is corrupted only
    // when EVERY rep is loaded. A median-of-3 looked safer but is
    // corrupted whenever 2 of 3 reps are slow, which is exactly what a
    // co-running workload produces: one round's official artifact
    // misstated the suite by ~2.5x that way. The median is kept
    // alongside per query, plus the per-query spread (max−min), so a
    // poisoned run self-identifies line by line instead of hiding
    // inside a summed scalar. When a query's spread exceeds 50% of its
    // min, up to 2 extra reps run (the reps were load-suspect; more
    // samples sharpen the min). Repetitions run back-to-back per query
    // (not as whole-suite passes) so reps share a JIT/GC neighborhood.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    require(reps >= 1, s"SPARK_GRAFT_BENCH_REPS must be >= 1, got $reps")
    val maxExtraReps = 2
    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      val t = try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
      catch { case _: Throwable => None }
      // between reps (outside the timed window): drop the rep's
      // leaked storage. clearCache() FIRST — it both unpersists and
      // DEREGISTERS DataFrame cache entries, where a raw RDD
      // unpersist would leave a stale CacheManager entry that turns
      // the next rep's identical .cache() into a no-op serving a
      // dropped buffer (every consumer then recomputes, uncached).
      // Then drop leftover RDD-level storage (localCheckpointed
      // operator results — unreferenced once counted, but reclaimed
      // only after a JVM GC notifies the context cleaner); without
      // this, reps 2-3 of persist-heavy queries run under
      // accumulating storage/GC pressure and medians read 30-50%
      // above a clean single run (measured at sf0.1).
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      System.gc()
      t
    }
    // dev-only subset filter (comma-separated names) for re-timing a
    // few queries without the full suite; the driver never sets it,
    // so official artifacts always cover everything
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a typo'd subset name would silently bench nothing and corrupt an
    // A/B comparison — fail loud instead
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names not declared: ${unknown.mkString(", ")}")
    }
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(_.contains(q._1))).map { case (name, fn) =>
      var times = (0 until reps).flatMap(_ => runOnce(fn))
      val failed = times.length != reps
      // load-suspect retry: a wide spread on a deterministic local
      // computation means at least one rep was disturbed; extra reps
      // give min more chances to land on an undisturbed execution.
      // Best-effort only — a failing EXTRA rep must not reclassify a
      // query whose initial reps all succeeded (the valid times stand;
      // we just stop retrying).
      var extra = 0
      var retryBroke = false
      while (!failed && !retryBroke && extra < maxExtraReps &&
             (times.max - times.min) > 0.5 * times.min) {
        runOnce(fn) match {
          case Some(t) => times = times :+ t
          case None    => retryBroke = true
        }
        extra += 1
      }
      (name, times.sorted, !failed)
    }
    val good = results.filter(_._3)
    val errors = results.filterNot(_._3).map(_._1)
    // even-length medians average the two middle elements; picking the
    // upper-middle would report the slower of two reps as "typical"
    def median(ts: Seq[Double]): Double =
      if (ts.length % 2 == 1) ts(ts.length / 2)
      else (ts(ts.length / 2 - 1) + ts(ts.length / 2)) / 2.0
    val qs = good.map { case (k, ts, _) => s"\"" + k + "\":" + ts.head }
      .mkString("{", ",", "}")
    val detail = good.map { case (k, ts, _) =>
      s"\"" + k + "\":{\"min\":" + ts.head + ",\"median\":" + median(ts) +
        ",\"spread\":" + (ts.last - ts.head) + ",\"reps\":" + ts.length + "}"
    }.mkString("{", ",", "}")
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = good.map { case (_, ts, _) => ts.head }.sum
    val spread = good.map { case (_, ts, _) => ts.last - ts.head }.sum
    // `queries` + `value` carry the gradeable headline (min-of-reps);
    // `detail` carries {min, median, spread, reps} per query so a
    // loaded-machine run is diagnosable line by line.
    val compact = s"""{"metric":"total","value":$total,"unit":"sec","headline":"min_of_reps","n":${good.length},"spread":$spread,"errors":$errJson,"sf":"$sfDir"}"""
    // summary FIRST and LAST (below): a bounded capture of either end
    // of stdout contains one whole machine-readable line
    println(compact)
    val json = s"""{"metric":"total","value":$total,"unit":"sec","headline":"min_of_reps","reps":$reps,"spread":$spread,"queries":$qs,"detail":$detail,"errors":$errJson,"sf":"$sfDir"}"""
    println(json)
    // also land the line in a file: the stdout copy gets wrapped in sbt
    // noise, which breaks machine parsing of the bench result
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/bench_out.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] could not write $outFile: $e") }
    if (errors.nonEmpty) System.err.println(s"[bench] FAILED queries: ${errors.mkString(", ")}")
    // tail-proof summary: the full line above is ~25 KB (189 queries ×
    // {min,median,spread}) and a bounded stdout tail capture can clip
    // its head, leaving nothing parseable (r7's driver artifact read
    // "parsed": null). This compact line prints LAST — with
    // build.sbt's StdoutOutput + showSuccess := false it is the final
    // raw stdout line, so a last-line JSON parse succeeds — and points
    // at the on-disk copy carrying the per-query detail.
    println(s"""{"metric":"total","value":$total,"unit":"sec","headline":"min_of_reps","n":${good.length},"spread":$spread,"errors":$errJson,"sf":"$sfDir","out":"$outFile"}""")
    spark.stop()
  }
}

/** The interleaved A/B orchestrator behind `SPARK_GRAFT_AB_CONTROL`.
  *
  * Protocol: `passes` PAIRS of full bench passes (child JVMs running
  * the normal [[Bench]] path), each pair running HEAD and the control
  * back-to-back; pair order alternates (H,C then C,H …) so a linear
  * drift component cancels across pairs, not just within one. Each
  * child is a fresh JVM with this orchestrator's exact JVM args and a
  * classpath where only the graft classes entry differs — Spark jars,
  * heap, add-opens identical by construction.
  *
  * Per query: headline = min over HEAD samples (same estimator
  * argument as the normal mode); `control_ratio` = MEDIAN over pairs
  * of (head_pass_i_min / control_pass_i_min) — paired, so whatever
  * the session was doing during pair i hits both numerators and
  * denominators of that pair. A ratio ≈ 1 means "this round's code is
  * this fast relative to the pinned control, whatever the machine was
  * doing"; the raw total remains session-dependent and is NOT the
  * cross-round signal.
  *
  * The record carries a `followup` section — the mechanized second
  * step of the two-step verdict rule: every query whose in-suite
  * control_ratio exceeds 1.3 is automatically re-run as a dedicated
  * standalone subset A/B (default 5 pairs × 3 reps — more samples at
  * a fraction of a pass's cost, and no neighbors' GC/JIT in frame)
  * and receives a `cleared`/`regressed` verdict from THAT
  * measurement; the in-suite reading alone is never the verdict
  * (±30% single-query noise band at the 1–2 s scale, measured r10).
  *
  * Env: SPARK_GRAFT_AB_PASSES (pairs, default 3),
  * SPARK_GRAFT_AB_CHILD_REPS (reps inside each child, default 2),
  * SPARK_GRAFT_AB_LABEL (control label for the record, e.g. its
  * commit sha), SPARK_GRAFT_AB_FOLLOWUP=0 to disable the followup
  * step (dev only), SPARK_GRAFT_AB_FOLLOWUP_PASSES/_REPS (default
  * 5/3), plus the normal bench env (SF_DIR, CPUS, BENCH_ONLY,
  * BENCH_OUT) which is forwarded to every child.
  */
object AbBench {

  private[graft] def parseQueries(json: String): Map[String, Double] = {
    // the child's "queries" object is flat {"name":1.23,...} with
    // machine-printed doubles — a regex parse is exact for this shape
    val m = java.util.regex.Pattern.compile("\"queries\":\\{([^}]*)\\}")
      .matcher(json)
    if (!m.find()) Map.empty
    else m.group(1).split(",").filter(_.nonEmpty).flatMap { kv =>
      kv.split(":") match {
        case Array(k, v) =>
          try Some(k.trim.stripPrefix("\"").stripSuffix("\"") -> v.trim.toDouble)
          catch { case _: NumberFormatException => None }
        case _ => None
      }
    }.toMap
  }

  private[graft] def parseErrors(json: String): Seq[String] = {
    val m = java.util.regex.Pattern.compile("\"errors\":\\[([^\\]]*)\\]")
      .matcher(json)
    if (!m.find() || m.group(1).isEmpty) Nil
    else m.group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq
  }

  def run(controlEntry: String): Unit = {
    require(new java.io.File(controlEntry).exists(),
      s"SPARK_GRAFT_AB_CONTROL does not exist: $controlEntry")
    val passes = sys.env.getOrElse("SPARK_GRAFT_AB_PASSES", "3").toInt
    val childReps = sys.env.getOrElse("SPARK_GRAFT_AB_CHILD_REPS", "2").toInt
    val label = sys.env.getOrElse("SPARK_GRAFT_AB_LABEL", "control")
    require(passes >= 1, s"SPARK_GRAFT_AB_PASSES must be >= 1, got $passes")

    val sep = java.io.File.pathSeparator
    val headCp = System.getProperty("java.class.path")
    // the graft classes entry = where THIS class was loaded from; the
    // control cp differs in exactly that entry
    val selfEntry = new java.io.File(AbBench.getClass.getProtectionDomain
      .getCodeSource.getLocation.toURI).getAbsolutePath
    val ctrlAbs = new java.io.File(controlEntry).getAbsolutePath
    val ctrlCp = headCp.split(sep).map { e =>
      if (new java.io.File(e).getAbsolutePath == selfEntry) ctrlAbs else e
    }.mkString(sep)
    require(ctrlCp != headCp,
      s"could not substitute graft classes entry ($selfEntry) in classpath")

    val javaExe = System.getProperty("java.home") + "/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments
    val workDir = java.nio.file.Files.createTempDirectory("graft_ab_").toFile

    def runPass(tag: String, idx: Int, cp: String,
        reps: Int = childReps,
        extraEnv: Map[String, String] = Map.empty): Map[String, Double] = {
      val out = new java.io.File(workDir, s"pass_${idx}_$tag.json")
      val log = new java.io.File(workDir, s"pass_${idx}_$tag.log")
      val cmd = new java.util.ArrayList[String]()
      cmd.add(javaExe)
      jvmArgs.forEach(a => cmd.add(a))
      cmd.add("-cp"); cmd.add(cp)
      cmd.add("graft.Bench")
      val pb = new ProcessBuilder(cmd)
      pb.redirectErrorStream(true)
      pb.redirectOutput(log)
      val env = pb.environment()
      env.remove("SPARK_GRAFT_AB_CONTROL") // children run the normal path
      env.put("SPARK_GRAFT_BENCH_REPS", reps.toString)
      env.put("SPARK_GRAFT_BENCH_OUT", out.getAbsolutePath)
      extraEnv.foreach { case (k, v) => env.put(k, v) }
      val t0 = System.nanoTime()
      val code = pb.start().waitFor()
      System.err.println(f"[ab] pass $idx $tag: exit $code in " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s")
      require(code == 0, s"pass $idx $tag failed (exit $code) — see $log")
      parseQueries(java.nio.file.Files.readString(out.toPath))
    }

    // prewarm the OS page cache over the benched tables before pair 0:
    // the session's very first pass otherwise pays every parquet cold
    // read, which lands entirely on one SIDE of pair 0 and shows up as
    // a declining per-pair ratio (observed in the r10 record: q102
    // 1.80 -> 1.46 -> 0.74 across pairs). A sequential read-through is
    // a few hundred MB at bench scale — cheap, and it makes pair 0 as
    // paired as the rest.
    val sfDirEnv = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try {
      val buf = new Array[Byte](1 << 20)
      scala.util.Using.resource(
        java.nio.file.Files.walk(java.nio.file.Paths.get(sfDirEnv))) { st =>
        st.forEach { p =>
          if (java.nio.file.Files.isRegularFile(p)) {
            val in = java.nio.file.Files.newInputStream(p)
            try { while (in.read(buf) >= 0) () } finally in.close()
          }
        }
      }
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[ab] prewarm skipped: $e") }

    // pair i runs (H,C) for even i, (C,H) for odd i
    val headPasses = new Array[Map[String, Double]](passes)
    val ctrlPasses = new Array[Map[String, Double]](passes)
    (0 until passes).foreach { i =>
      if (i % 2 == 0) {
        headPasses(i) = runPass("head", i, headCp)
        ctrlPasses(i) = runPass("ctrl", i, ctrlCp)
      } else {
        ctrlPasses(i) = runPass("ctrl", i, ctrlCp)
        headPasses(i) = runPass("head", i, headCp)
      }
    }

    def median(ts: Seq[Double]): Double = {
      val s = ts.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }

    // a query is reportable when every pass of BOTH sides timed it
    val names = headPasses.map(_.keySet).reduce(_ intersect _)
      .intersect(ctrlPasses.map(_.keySet).reduce(_ intersect _)).toSeq.sorted
    // an empty intersection (every query failed on some side) would
    // divide 0/0 into a NaN total_ratio and crash median() — fail loud
    require(names.nonEmpty,
      "no query was timed by every pass of both sides — " +
        s"check the per-pass logs under ${workDir.getAbsolutePath}")
    val dropped = (headPasses ++ ctrlPasses).map(_.keySet)
      .reduce(_ union _).diff(names.toSet).toSeq.sorted
    val headMin = names.map(n => n -> headPasses.map(_(n)).min).toMap
    val ctrlMin = names.map(n => n -> ctrlPasses.map(_(n)).min).toMap
    val ratio = names.map { n =>
      n -> median((0 until passes).map(i => headPasses(i)(n) / ctrlPasses(i)(n)))
    }.toMap

    val total = names.map(headMin).sum
    val ctrlTotal = names.map(ctrlMin).sum
    def obj(m: Map[String, Double], f: Double => String): String =
      names.map(n => "\"" + n + "\":" + f(m(n))).mkString("{", ",", "}")
    val pairDetail = names.map { n =>
      "\"" + n + "\":{\"head\":[" +
        (0 until passes).map(i => headPasses(i)(n)).mkString(",") +
        "],\"ctrl\":[" +
        (0 until passes).map(i => ctrlPasses(i)(n)).mkString(",") + "]}"
    }.mkString("{", ",", "}")
    val droppedJson = dropped.map("\"" + _ + "\"").mkString("[", ",", "]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // locale-proof ratio rendering: the f interpolator honors the
    // default locale, and a comma-decimal locale would print 0,9934 —
    // invalid JSON that silently invalidates the round's A/B record
    def r4(r: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(r))

    // ---- mechanized two-step verdict (README §bench records) --------
    // In-suite single-query ratios at the 1-2 s scale carry a ±30%
    // noise band, so a >threshold reading is a FLAG, not a verdict —
    // the protocol settles it with a dedicated standalone subset A/B
    // at more pairs × more reps. r10 ran that step by hand and its
    // README claim ("the 6 worst") didn't match the record (q11, the
    // actual worst, was skipped); this runs it mechanically on every
    // flagged query and merges one artifact, so the claim is true by
    // construction. Disable (dev only) with SPARK_GRAFT_AB_FOLLOWUP=0.
    val fuThreshold = 1.3
    val fuFlagged = names.filter(n => ratio(n) > fuThreshold)
    val fuEnabled = !sys.env.get("SPARK_GRAFT_AB_FOLLOWUP").contains("0")
    val followupJson = if (fuFlagged.isEmpty || !fuEnabled) {
      s"""{"threshold":$fuThreshold,"flagged":${
        fuFlagged.map("\"" + _ + "\"").mkString("[", ",", "]")},"ran":${
        fuFlagged.nonEmpty && fuEnabled}}"""
    } else {
      val fuPasses = sys.env.getOrElse("SPARK_GRAFT_AB_FOLLOWUP_PASSES", "5").toInt
      val fuReps = sys.env.getOrElse("SPARK_GRAFT_AB_FOLLOWUP_REPS", "3").toInt
      val fuEnv = Map("SPARK_GRAFT_BENCH_ONLY" -> fuFlagged.mkString(","))
      System.err.println(s"[ab] followup: ${fuFlagged.size} queries over " +
        s"$fuThreshold in-suite (${fuFlagged.mkString(", ")}) — settling " +
        s"with $fuPasses pairs x $fuReps reps standalone")
      val fuHead = new Array[Map[String, Double]](fuPasses)
      val fuCtrl = new Array[Map[String, Double]](fuPasses)
      (0 until fuPasses).foreach { i =>
        if (i % 2 == 0) {
          fuHead(i) = runPass("fu_head", 100 + i, headCp, fuReps, fuEnv)
          fuCtrl(i) = runPass("fu_ctrl", 100 + i, ctrlCp, fuReps, fuEnv)
        } else {
          fuCtrl(i) = runPass("fu_ctrl", 100 + i, ctrlCp, fuReps, fuEnv)
          fuHead(i) = runPass("fu_head", 100 + i, headCp, fuReps, fuEnv)
        }
      }
      val fuNames = fuFlagged.filter(n =>
        fuHead.forall(_.contains(n)) && fuCtrl.forall(_.contains(n)))
      val fuRatio = fuNames.map { n =>
        n -> median((0 until fuPasses).map(i => fuHead(i)(n) / fuCtrl(i)(n)))
      }.toMap
      val verdict = fuNames.map { n =>
        n -> (if (fuRatio(n) <= fuThreshold) "cleared" else "regressed")
      }.toMap
      verdict.toSeq.sorted.foreach { case (n, v) =>
        System.err.println(s"[ab] followup $n: ${r4(fuRatio(n))} -> $v") }
      def fuObj(m: Map[String, String]): String =
        fuNames.map(n => "\"" + n + "\":" + m(n)).mkString("{", ",", "}")
      s"""{"threshold":$fuThreshold,"flagged":${
        fuFlagged.map("\"" + _ + "\"").mkString("[", ",", "]")},"ran":true,"passes":$fuPasses,"child_reps":$fuReps,"control_ratio":${
        fuObj(fuRatio.map { case (k, v) => k -> r4(v) })},"verdict":${
        fuObj(verdict.map { case (k, v) => k -> ("\"" + v + "\"") })}}"""
    }

    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","headline":"min_of_reps","mode":"ab_paired","passes":$passes,"child_reps":$childReps,"n":${names.length},"control_label":"$label","control_value":$ctrlTotal,"total_ratio":${total / ctrlTotal},"control_ratio_median":${median(ratio.values.toSeq)},"queries":${obj(headMin, _.toString)},"control_ratio":${obj(ratio, r4)},"control_queries":${obj(ctrlMin, _.toString)},"pairs":$pairDetail,"followup":$followupJson,"errors":$droppedJson,"sf":"$sfDir"}"""
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "/root/repo/bench_out.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[ab] could not write $outFile: $e") }
    println(json)
    // tail-proof compact line, same contract as the normal mode
    println(s"""{"metric":"total","value":$total,"unit":"sec","headline":"min_of_reps","mode":"ab_paired","n":${names.length},"control_value":$ctrlTotal,"total_ratio":${total / ctrlTotal},"errors":$droppedJson,"sf":"$sfDir","out":"$outFile"}""")
  }
}

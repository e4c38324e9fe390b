package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The session every run uses: the settings of `graft.Bench`. */
object Session {
  val cores: Int = Runtime.getRuntime.availableProcessors

  def build(state: Path, threads: Int = cores): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", state.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", state.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** One benchmark run: set up, run the workload's warm-up passes, then
  * time whole passes of its operations as a closed loop with one
  * client, at least the workload's minimum and until `seconds` have
  * passed. Every output is checked, warm-up ones too. Each operation
  * is timed twice: wall time, and the CPU time of the whole JVM (all
  * threads, JIT and GC included) while it ran. `cpu_p50_s` is the
  * median of the latter; `setup_s` is the wall time from JVM start to
  * the first measured operation.
  * Prints each metric with its unit and, as the last line, the JSON
  * result.
  *
  * Other modes: `--prepare-etl` builds etl_daily's base warehouse and
  * `--checksums` prints the result checksum of every benchmarked query,
  * from which the goldens file is recorded.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def path(k: String) = Paths.get(opts(k)).toAbsolutePath
    val state = path("state")
    Files.createDirectories(state.resolve("tmp"))
    val code = opts.get("mode") match {
      case Some("prepare-etl") =>
        val spark = Session.build(state)
        EtlDaily.prepare(spark, state)
        spark.stop()
        0
      case Some("checksums") =>
        val spark = Session.build(state, opts("threads").toInt)
        val queries = graft.SparkEntry.queries
        for (n <- "q01_pricing_summary" +: Workloads.LlmCorpus)
          println(s"$n\t${Checksum.of(queries(n)(spark, path("data").toString))}")
        spark.stop()
        0
      case None =>
        run(opts("workload"), opts("seed").toLong, opts("seconds").toInt, opts("trace") == "1",
          state, path("data"), path("goldens"), opts.get("untraced-cpu-p50").map(_.toDouble))
      case Some(m) => throw new IllegalArgumentException(s"unknown mode $m")
    }
    sys.exit(code)
  }

  def run(name: String, seed: Long, seconds: Int, trace: Boolean, state: Path, data: Path,
      goldens: Path, untracedCpuP50: Option[Double]): Int = {
    require(!trace || untracedCpuP50.isDefined, "a traced run needs --untraced-cpu-p50")
    val tracer = new Tracer(trace)
    val wl = Workloads(name, seed, state, data, goldens, tracer)

    // JVM start, in nanoTime's frame (the MXBean gives it in ms)
    val jvmStart = System.nanoTime() -
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val t0 = System.nanoTime()
    val spark = Session.build(state)
    wl.setUp(spark)
    val setUpEnd = System.nanoTime()

    val probe = if (trace) Some(new Probe(spark)) else None
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val latencies = ArrayBuffer.empty[Double]
    val cpus = ArrayBuffer.empty[Double]
    var attempted = 0
    var failed = 0
    var counters = Counters.empty
    var start = 0L
    var index = 0
    while (index < wl.warmUpPasses + wl.minPasses ||
        System.nanoTime() - start < seconds * 1000000000L) {
      val measured = index >= wl.warmUpPasses
      if (index == wl.warmUpPasses) {
        probe.foreach(_.resetHeapPeak())
        start = System.nanoTime()
        println(f"setup: JVM start to set-up ${(t0 - jvmStart) / 1e9}%.3f s, set-up " +
          f"${(setUpEnd - t0) / 1e9}%.3f s, warm-up ${(start - setUpEnd) / 1e9}%.3f s")
      }
      tracer.recording = measured
      for (op <- wl.pass(spark, index)) {
        val c0 = os.getProcessCpuTime
        val t0 = System.nanoTime()
        val check = try {
          val body = () => tracer.span("op")(op.run())
          val (c, delta) = probe.filter(_ => measured)
            .fold((body(), Counters.empty))(_.measure(tracer)(body()))
          counters += delta
          c
        } catch { case NonFatal(e) => System.err.println(s"[perfbench] ${op.name} failed: $e"); null }
        val latency = (System.nanoTime() - t0) / 1e9
        val cpu = (os.getProcessCpuTime - c0) / 1e9
        if (measured) { latencies += latency; cpus += cpu }
        val ok = check != null && (try { check(); true } catch {
          case NonFatal(e) => System.err.println(s"[perfbench] ${op.name} wrong: $e"); false
        })
        attempted += 1
        if (!ok) failed += 1
        println(s"op ${op.name} $latency s cpu $cpu s ${if (ok) "ok" else "FAILED"}" +
          (if (measured) "" else " (warm-up)"))
        wl.afterOp(spark)
      }
      index += 1
    }
    val window = (System.nanoTime() - start) / 1e9

    val n = latencies.length
    val cpuP50 = Stats.median(cpus.toSeq)
    val endToEnd = Seq(
      ("cpu_p50_s", "s", cpuP50),
      ("setup_s", "s", (start - jvmStart) / 1e9))
    println(s"workload $name seed $seed: $n timed of $attempted operations in $window s, " +
      s"$failed failed (failed_ratio ${Stats.failedRatio(attempted, failed)})")
    // printed, but not in the result: the wall-clock figures move with
    // the host's load (see README), and the mean shows every operation
    println(s"latency_p50_s ${Stats.median(latencies.toSeq)} s (n=$n)")
    println(s"throughput_ops_s ${n / window} 1/s")
    println(s"cpu_mean_s ${cpus.sum / n} s (n=$n)")
    Stats.tail(latencies.toSeq) match {
      case Some((p, v)) => println(s"latency_tail_s $v s (p$p, n=$n)")
      case None => println(s"latency_tail_s omitted: n=$n supports no percentile above p50 " +
        "with 10 samples beyond it")
    }
    val metrics = probe match {
      case None => endToEnd
      case Some(pr) =>
        val m = perLayer(tracer, counters, n, pr.heapPeakMb, wl.layerFigures,
          cpuP50 / untracedCpuP50.get)
        pr.close()
        tracer.write(state.resolve("trace").resolve(s"$name-seed$seed.jsonl"))
        tracer.selfSeconds.toSeq.sorted.foreach { case (k, v) => println(s"self $k $v s") }
        m
    }
    metrics.foreach { case (k, u, v) => println(s"$k $v $u") }
    spark.stop()
    val json = metrics.map { case (k, u, v) =>
      s""""$k": {"value": ${if (v.isFinite) v else 0.0}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$json}}""")
    0
  }

  /** The traced run's per-layer metrics, each a mean per operation
    * except the heap peak and the ratios. */
  def perLayer(tracer: Tracer, c: Counters, n: Int, heapPeakMb: Double,
      figures: Map[String, Double], overhead: Double): Seq[(String, String, Double)] = {
    val self = tracer.selfSeconds
    def span(s: String) = self.getOrElse(s, 0.0) / n
    def per(k: String, scale: Double = 1.0) = c(k) / scale / n
    val mb = 1048576.0
    Seq(
      ("queries.build_s", "s", span("queries.build")),
      ("queries.action_s", "s", span("queries.action")),
      ("catalyst.executions", "count", per("executions")),
      ("catalyst.analysis_s", "s", per("analysisMs", 1e3)),
      ("catalyst.optimization_s", "s", per("optimizationMs", 1e3)),
      ("catalyst.planning_s", "s", per("planningMs", 1e3)),
      ("codegen.compiles", "count", per("compiles")),
      ("codegen.compile_s", "s", per("compileNs", 1e9)),
      ("scheduler.jobs", "count", per("jobs")),
      ("scheduler.stages", "count", per("stages")),
      ("scheduler.tasks", "count", per("tasks")),
      ("scheduler.task_failures", "count", per("taskFailures")),
      ("scheduler.driver_gap_s", "s", per("driverGapMs", 1e3)),
      ("executor.run_s", "s", per("runMs", 1e3)),
      ("executor.cpu_s", "s", per("cpuNs", 1e9)),
      ("executor.gc_s", "s", per("gcMs", 1e3)),
      ("executor.busy_ratio", "ratio", c("runMs").toDouble / (c("wallMs") * Session.cores)),
      ("executor.input_mb", "MB", per("inputB", mb)),
      ("executor.shuffle_read_mb", "MB", per("shuffleReadB", mb)),
      ("executor.shuffle_write_mb", "MB", per("shuffleWriteB", mb)),
      ("executor.spill_mb", "MB", per("spillB", mb)),
      ("executor.output_mb", "MB", per("outputB", mb)),
      ("storage.blocks_written", "count", per("blocksWritten")),
      ("storage.block_mb", "MB", per("blockB", mb)),
      ("streaming.batches", "count", per("streamBatches")),
      ("streaming.batch_s", "s", per("streamBatchMs", 1e3)),
      ("etl.ods.build_s", "s", span("etl.ods.build")),
      ("etl.ods.write_s", "s", span("etl.ods.write")),
      ("etl.staging.build_s", "s", span("etl.staging.build")),
      ("etl.staging.write_s", "s", span("etl.staging.write")),
      ("etl.target.build_s", "s", span("etl.target.build")),
      ("etl.target.write_s", "s", span("etl.target.write")),
      ("etl.readback_s", "s", span("etl.readback")),
      ("etl.warehouse.files", "count", figures.getOrElse("etl.warehouse.files", 0.0)),
      ("etl.warehouse.mb", "MB", figures.getOrElse("etl.warehouse.mb", 0.0)),
      ("jvm.heap_peak_mb", "MB", heapPeakMb),
      ("jvm.driver_gc_s", "s", per("driverGcMs", 1e3)),
      ("trace.op_self_s", "s", span("op")),
      ("trace.overhead_ratio", "ratio", overhead))
  }
}

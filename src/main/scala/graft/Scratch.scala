package graft

/** Dev-only per-query harness, not part of the driver contract:
  *  - `runMain graft.Scratch <queryName> [sfDir]` prints the formatted
  *    physical plan and per-run wall time of one declared query;
  *  - `profile <queryName> [sfDir]` prints its per-job and per-stage
  *    timings;
  *  - `plans <outDir> [sfDir] [q,q,...]` writes each query's formatted
  *    plan to `<outDir>/<q>.txt`. */
object Scratch {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    // each mode's sfDir sits after its own arguments
    def sfDir(i: Int) = if (args.length > i) args(i) else "/root/testdata/sf0.1"
    val spark = Sessions.fromEnv()
    if (name == "profile") {
      // profile <qname> [sfDir]: run the query once warm, then once
      // under a listener that records per-job wall time and per-stage
      // task totals — the "which job inside this query is slow" view
      // the UI would give (guide §7.1), printable from a headless run.
      val qname = args(1)
      val dir = sfDir(2)
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
      val dir = sfDir(2)
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
    val fn = SparkEntry.queries(name)
    fn(spark, sfDir(1)).explain("formatted")
    (1 to 3).foreach { i =>
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir(1)).count()
      println(s"[scratch] run $i: $n rows in ${(System.nanoTime() - t0) / 1e9} s")
    }
    spark.stop()
  }
}

package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded around the benchmark's calls into each layer. One
  * client thread makes every call, so spans nest as a stack. Spans stay
  * in memory and are written out once, when the run ends. */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var op = -1

  /** Wall-clock origin, so span times line up with Spark's event times. */
  private val originMs = System.currentTimeMillis()
  private val originNs = System.nanoTime()
  def epochMs(ns: Long): Long = originMs + (ns - originNs) / 1000000L

  /** Off during warm-up passes, so only measured operations leave spans. */
  var recording = true

  def span[T](name: String)(body: => T): T =
    if (!enabled || !recording) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      if (parent == -1) op += 1
      spans += Span(id, parent, op, name, System.nanoTime(), -1L)
      stack = id :: stack
      try body
      finally {
        spans(id) = spans(id).copy(endNs = System.nanoTime())
        stack = stack.tail
      }
    }

  /** Seconds per span name of each span's duration minus the part of it
    * its child spans cover (children never overlap: one thread). */
  def selfSeconds: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupMapReduce(_.name)(s => (s.endNs - s.startNs - childNs(s.id)) / 1e9)(_ + _)
  }

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ms":${epochMs(s.startNs)},"dur_s":${(s.endNs - s.startNs) / 1e9}}""")
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)
}

/** Counters one traced operation adds, by name, read from Spark's
  * listeners, its codegen metrics and the JVM's management beans. */
final case class Counters(values: Map[String, Long]) {
  def apply(name: String): Long = values.getOrElse(name, 0L)
  def +(o: Counters): Counters = combine(o)(_ + _)
  def -(o: Counters): Counters = combine(o)(_ - _)
  private def combine(o: Counters)(f: (Long, Long) => Long): Counters =
    Counters((values.keySet ++ o.values.keySet).map(k => k -> f(this(k), o(k))).toMap)
}

object Counters {
  val empty: Counters = Counters(Map.empty)
}

/** The traced run's listeners. Registered from the benchmark's own
  * code on its session: a SparkListener (scheduler, executor and
  * storage), a QueryExecutionListener (Catalyst phase times of every
  * SQL execution) and a StreamingQueryListener (micro-batches). */
final class Probe(spark: SparkSession) {
  private val live = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()
  private def add(name: String, v: Long): Unit =
    live.computeIfAbsent(name, _ => new LongAdder).add(v)
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStart.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      add("jobs", 1)
      Option(jobStart.remove(e.jobId)).foreach(s => jobSpans.add((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      if (e.reason != Success) add("taskFailures", 1)
      Option(e.taskMetrics).foreach { m =>
        add("runMs", m.executorRunTime)
        add("cpuNs", m.executorCpuTime)
        add("gcMs", m.jvmGCTime)
        add("inputB", m.inputMetrics.bytesRead)
        add("shuffleReadB", m.shuffleReadMetrics.totalBytesRead)
        add("shuffleWriteB", m.shuffleWriteMetrics.bytesWritten)
        add("spillB", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("outputB", m.outputMetrics.bytesWritten)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) {
        add("blocksWritten", 1)
        add("blockB", b.memSize + b.diskSize)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      add("executions", 1)
      Seq("analysis", "optimization", "planning")
        .foreach(p => add(p + "Ms", phases.get(p).map(_.durationMs).getOrElse(0L)))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      add("streamBatches", 1)
      add("streamBatchMs", e.progress.batchDuration)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)
  spark.streams.addListener(streamListener)

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def snapshot(): Counters = {
    PerfbenchBus.drain(spark.sparkContext)
    Counters(live.asScala.map { case (k, v) => k -> v.sum }.toMap ++ Map(
      "compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      "compileNs" -> CodeGenerator.compileTime,
      "driverGcMs" -> gcBeans.map(_.getCollectionTime).sum))
  }

  /** Run one operation and return what it added to every counter,
    * including its wall time and the part of it with no job running. */
  def measure[T](tracer: Tracer)(body: => T): (T, Counters) = {
    val before = snapshot()
    jobSpans.clear()
    val t0 = System.nanoTime()
    val result = body
    val t1 = System.nanoTime()
    val after = snapshot()
    val (from, to) = (tracer.epochMs(t0), tracer.epochMs(t1))
    val gap = Stats.gap(from, to, jobSpans.asScala.toSeq)
    (result, after - before + Counters(Map("wallMs" -> (to - from), "driverGapMs" -> gap)))
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }
}

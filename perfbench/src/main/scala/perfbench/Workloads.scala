package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import graft.{SparkEntry, Tables}
import graft.etl._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit, max}

/** One timed operation. `run` is the timed part; it returns the check
  * of its own output, which the loop calls outside the timed window
  * and which throws when the output is wrong. */
final case class Op(name: String, run: () => (() => Unit))

final class WrongResult(msg: String) extends RuntimeException(msg)

/** A named workload: how to set a fresh session up, and the operations
  * of each pass, in the order the seed gives them. */
trait Workload {
  /** Passes run before the measured ones, checked but not timed. */
  def warmUpPasses: Int = 0
  /** Measured passes every run makes, however short `--seconds` is. */
  def minPasses: Int = 1
  def setUp(spark: SparkSession): Unit
  def pass(spark: SparkSession, index: Int): Seq[Op]
  /** Called after each operation, outside the timed window. */
  def afterOp(spark: SparkSession): Unit = ()
  /** Workload-specific per-operation figures for the traced report. */
  def layerFigures: Map[String, Double] = Map.empty
}

object Workloads {
  val names: Seq[String] = Seq("llm_corpus", "etl_daily")

  def apply(name: String, seed: Long, state: Path, data: Path, goldens: Path,
      tracer: Tracer): Workload = name match {
    case "llm_corpus" => new Queries(LlmCorpus, seed, data.toString, Goldens.read(goldens), tracer)
    case "etl_daily" => new EtlDaily(seed, state, tracer)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${names.mkString(", ")})")
  }

  /** Multi-second LLM-data operators whose work happens inside `Q.run`:
    * MinHash LSH dedup (ends in a checkpoint), ANN dedup and a
    * memory-sink stream. */
  val LlmCorpus: Seq[String] = Seq(
    "q28_minhash_lsh", "q93_sem_dedup", "q91_stream_quality_windows")
}

/** Result checksums the query workloads compare against, one
  * `name<TAB>rows:hashSum` line per query. */
object Goldens {
  def read(path: Path): Map[String, Checksum] =
    Files.readAllLines(path, StandardCharsets.UTF_8).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, c) = l.split("\t"); n -> Checksum.parse(c) }.toMap
}

/** Declared queries run through `Q.run`, each timed up to and through
  * its checksum action. */
final class Queries(names: Seq[String], seed: Long, data: String,
    goldens: Map[String, Checksum], tracer: Tracer) extends Workload {

  private val queries = SparkEntry.queries
  names.foreach(n => require(goldens.contains(n), s"no golden checksum for $n"))

  /** A query's first run in a JVM compiles its generated code and is
    * JIT-cold, 1.3-2x its later runs. Timing cold and warm runs together
    * puts the median in the gap between the two groups, where it jumps
    * from run to run; so the first pass only warms up. */
  override def warmUpPasses: Int = 1
  /** The same three passes in every run. CPU time per query still falls
    * from pass to pass as the JIT settles, so a run that timed more
    * passes than another would read lower from the count alone. */
  override def minPasses: Int = 3

  /** Resolves every table's footer; the warm-up pass does the rest. */
  def setUp(spark: SparkSession): Unit =
    Files.list(Paths.get(data)).iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).foreach(f => Tables(spark, data, f.stripSuffix(".parquet")))

  /** The warm-up pass runs the queries in their declared order, so every
    * run starts timing from the same JIT state; the seed shuffles the
    * order of each timed pass. */
  def pass(spark: SparkSession, index: Int): Seq[Op] =
    (if (index < warmUpPasses) names
     else new scala.util.Random(seed * 7919L + index).shuffle(names)).map { n =>
      Op(n, () => {
        val df = tracer.span("queries.build")(queries(n)(spark, data))
        val got = tracer.span("queries.action")(Checksum.of(df))
        () => if (got != goldens(n)) throw new WrongResult(s"$n: checksum $got, expected ${goldens(n)}")
      })
    }

  /** Drop what an operation left cached or persisted, as `graft.Bench`
    * does between reps, so no work carries over to the next one. Unlike
    * `graft.Bench` it waits for the blocks to go, so their removal is
    * not counted in the next operation's CPU time. */
  override def afterOp(spark: SparkSession): Unit = {
    spark.streams.active.foreach(_.stop())
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }
}

/** The paper's own pipeline as a daily job. The base warehouse (batch
  * 0, the initial load of the base CSV) is built once per checkout by
  * [[EtlDaily.prepare]]. Each set-up copies it to a fresh warehouse;
  * each operation then runs the next day's batch, whose CSV carries the
  * seed's attribute changes, so the SCD2 merge path runs. */
final class EtlDaily(seed: Long, state: Path, tracer: Tracer) extends Workload {
  import EtlDaily._

  private val gen = EtlDaily.generator(seed)
  private val work = state.resolve("work").resolve("etl_daily")
  private val whDir = work.resolve("warehouse")
  private val baseCounts = readCounts(state.resolve(BaseDir).resolve("counts.tsv"))
  private var day = 0
  private var versions = Map.empty[String, Map[String, Long]]
  private var walks = Vector.empty[(Long, Long)]

  def setUp(spark: SparkSession): Unit = {
    Files.createDirectories(work)
    deleteTree(whDir)
    copyTree(state.resolve(BaseDir).resolve("warehouse"), whDir)
    day = 0
    gen.write(1, csvPath(1))
    versions = BaseVersions
    // JIT warm-up of the scan and write paths every batch takes
    val warm = work.resolve("warmup").toString
    CsvSource.read(spark, csvPath(1).toString).write.mode("overwrite").parquet(warm)
    spark.read.parquet(warm).count()
  }

  def pass(spark: SparkSession, index: Int): Seq[Op] = {
    val d = day + 1
    val csv = csvPath(d)
    if (!Files.exists(csv)) gen.write(d, csv)
    Seq(Op(s"day$d", () => {
      val ctx = RunContext(RunDate.plusDays(d.toLong).toString)
      val counts =
        if (tracer.enabled) layered(spark, csv.toString, ctx)
        else Pipeline.run(spark, csv.toString, whDir.toString, ctx)
      () => { day = d; verify(spark, d, counts) }
    }))
  }

  override def afterOp(spark: SparkSession): Unit = {
    Files.deleteIfExists(csvPath(day))
    if (tracer.enabled) walks :+= walk(whDir)
    spark.catalog.clearCache()
    System.gc()
  }

  override def layerFigures: Map[String, Double] =
    if (walks.isEmpty) Map.empty
    else Map("etl.warehouse.files" -> walks.map(_._1.toDouble).sum / walks.length,
      "etl.warehouse.mb" -> walks.map(_._2 / 1048576.0).sum / walks.length)

  private def csvPath(d: Int) = work.resolve(s"day$d.csv")

  /** `Pipeline.run`'s calls, in its order, with a span around each
    * layer call; returns the same table counts `Pipeline.run` does. */
  private def layered(spark: SparkSession, csv: String, ctx: RunContext): Map[String, Long] = {
    val wh = new Warehouse(spark, whDir.toString)
    spark.catalog.clearCache()
    val ods = tracer.span("etl.ods.build")(OdsLayer.build(CsvSource.read(spark, csv), ctx))
    tracer.span("etl.ods.write")(wh.writeAll(ods.all))
    val stg = tracer.span("etl.staging.build")(StagingLayer.build(odsTables(wh), ctx))
    tracer.span("etl.staging.write")(wh.writeAll(stg.all))
    val tgt = tracer.span("etl.target.build")(
      TargetLayer.build(stagingTables(wh), wh.readIfExists, ctx))
    tracer.span("etl.target.write")(wh.writeAll(tgt.all, Pipeline.factPartitions))
    tracer.span("etl.readback")(wh.tables().map(t => t -> wh.read(t).count()).toMap)
  }

  /** After day `d`: the table counts the generator implies, no ODS
    * orphans, one current SCD2 row per key, and every key changed that
    * day one version up while all others kept theirs. */
  private def verify(spark: SparkSession, d: Int, counts: Map[String, Long]): Unit = {
    val (cities, products) = (1 to d).map(gen.changedOn).unzip
    val expected = baseCounts ++ Map(
      "tgt_dim_product" -> (baseCounts("tgt_dim_product") + products.map(_.size).sum),
      "tgt_dim_store" -> (baseCounts("tgt_dim_store") + cities.map(_.size).sum))
    if (counts != expected) throw new WrongResult(s"day $d counts: " +
      (counts.keySet ++ expected.keySet).toSeq.sorted
        .filter(t => counts.get(t) != expected.get(t))
        .map(t => s"$t=${counts.get(t)} expected ${expected.get(t)}").mkString(", "))
    val wh = new Warehouse(spark, whDir.toString)
    checkOrphans(odsTables(wh))
    val now = currentVersions(wh)
    val changed = Map("tgt_dim_product" -> products.last, "tgt_dim_store" -> cities.last)
    for ((table, vs) <- now; (key, v) <- vs) {
      val want = versions(table)(key) + (if (changed(table)(key)) 1 else 0)
      if (v != want) throw new WrongResult(s"day $d $table '$key': version $v, expected $want")
    }
    versions = now
  }
}

object EtlDaily {
  /** Every SCD2 key of the base warehouse is at version 1 ([[prepare]]
    * checks it). */
  private val BaseVersions = Seq("tgt_dim_product", "tgt_dim_store")
    .map(_ -> Map.empty[String, Long].withDefaultValue(1L)).toMap

  /** Where the prepared base warehouse lives under the state directory. */
  val BaseDir = "etl_base"
  val RunDate: LocalDate = LocalDate.of(2026, 1, 1)

  /** The reference's rows, customers, products and stores, over a
    * 30-day span instead of four years: a batch's cost follows the
    * number of date partitions it rewrites, and at the reference's
    * ~1,460 dates one batch takes over a minute on 4 cores. */
  val Days = 30

  /** The base rows are fixed; the run's seed draws the daily changes. */
  def generator(seed: Long): RetailGen = new RetailGen(20260101L, Days, changeSeed = seed)

  /** Batch 0: load the base CSV into an empty warehouse with
    * `Pipeline.run`, check it, and record its table counts. */
  def prepare(spark: SparkSession, state: Path): Unit = {
    val dir = state.resolve(BaseDir)
    deleteTree(dir)
    val gen = generator(0L)
    val csv = gen.write(0, dir.resolve("day0.csv"))
    val wh = dir.resolve("warehouse")
    val counts = Pipeline.run(spark, csv.toString, wh.toString, RunContext(RunDate.toString))
    val expected = Map("ods_sales" -> gen.rowCount, "tgt_fact_sales" -> gen.rowCount,
      "tgt_dim_customer" -> gen.customerCount, "tgt_dim_product" -> gen.productCount,
      "tgt_dim_store" -> gen.storeCount, "tgt_dim_date" -> gen.dateCount)
    for ((t, n) <- expected) require(counts(t) == n, s"base $t: ${counts(t)} rows, expected $n")
    val w = new Warehouse(spark, wh.toString)
    checkOrphans(odsTables(w))
    for ((t, vs) <- currentVersions(w))
      require(vs.size == (if (t == "tgt_dim_product") gen.productCount else gen.storeCount) &&
        vs.values.forall(_ == 1L), s"base $t: not every key at version 1")
    val vol = EtlChecks.odsVolumes(odsTables(w))
    require(vol("sales_rows") >= 5000 && vol("product_rows") >= 1000 && vol("store_rows") >= 100,
      s"base misses the reference's volume floors: $vol")
    Files.delete(csv)
    Files.write(dir.resolve("counts.tsv"), counts.toSeq.sorted
      .map { case (t, n) => s"$t\t$n" }.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  private def readCounts(p: Path): Map[String, Long] =
    Files.readAllLines(p).asScala.filter(_.nonEmpty)
      .map { l => val Array(t, n) = l.split("\t"); t -> n.toLong }.toMap

  def odsTables(wh: Warehouse): OdsLayer.Tables = OdsLayer.Tables(
    date = wh.read("ods_date"), customer = wh.read("ods_customer"),
    supplier = wh.read("ods_supplier"), product = wh.read("ods_product"),
    store = wh.read("ods_store"), returnReason = wh.read("ods_return_reason"),
    sales = wh.read("ods_sales"), returns = wh.read("ods_returns"),
    inventory = wh.read("ods_inventory"))

  def stagingTables(wh: Warehouse): StagingLayer.Tables = StagingLayer.Tables(
    date = wh.read("stg_date"), customer = wh.read("stg_customer"),
    product = wh.read("stg_product"), store = wh.read("stg_store"),
    supplier = wh.read("stg_supplier"), returnReason = wh.read("stg_return_reason"),
    sales = wh.read("stg_sales"), returns = wh.read("stg_returns"),
    inventory = wh.read("stg_inventory"))

  private def checkOrphans(t: OdsLayer.Tables): Unit = {
    val orphans = EtlChecks.odsOrphans(t)
    if (orphans.size != 8 || orphans.values.exists(_ != 0))
      throw new WrongResult(s"ODS orphan audits: $orphans")
  }

  /** Current SCD2 version per natural key of the two SCD2 dimensions
    * (products by name, stores by city); throws unless each key has
    * exactly one current row. */
  private def currentVersions(wh: Warehouse): Map[String, Map[String, Long]] =
    Seq("tgt_dim_product" -> "product_name", "tgt_dim_store" -> "city").map { case (t, key) =>
      val dim = wh.read(t)
      val keys = dim.select(key).distinct().count()
      val cur = dim.where(col("is_current")).groupBy(key)
        .agg(count(lit(1)).as("n"), max("version").as("v")).collect()
      if (cur.length != keys || cur.exists(_.getLong(1) != 1))
        throw new WrongResult(s"$t: ${cur.length} keys with a current row of $keys, " +
          s"${cur.count(_.getLong(1) != 1)} with more than one")
      t -> cur.map(r => r.getString(0) -> r.getLong(2)).toMap
    }.toMap

  /** Files and bytes under a directory. */
  def walk(dir: Path): (Long, Long) = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .foldLeft((0L, 0L)) { case ((n, b), p) => (n + 1, b + Files.size(p)) }
    finally s.close()
  }

  def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val s = Files.walk(dir)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    } finally s.close()
  }
}

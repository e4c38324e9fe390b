package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Table lifecycle over a parquet warehouse directory (SURVEY S4/S7/S9
  * — the reference's CREATE/TRUNCATE/DROP DDL and temp-table insert
  * dance, dags/walmart_etl_pipeline_dag.py:153-178,
  * drop_all_tables.py:7-53).
  *
  * Writes go through an overwrite-swap: new data lands in
  * `<table>.__tmp`; once the write succeeds the prior state renames
  * aside to `<table>.__old`, the tmp renames in, and `__old` is
  * deleted last. This is what makes read-modify-write legal — an SCD
  * merge reads tgt_dim_product while computing its replacement, and a
  * plain in-place overwrite would truncate the input mid-scan. It is
  * also crash-safe: at no instant is neither state on disk, a failed
  * write never disturbs the prior state, and [[read]]/[[exists]]/
  * [[tables]] recover a stranded `__old` (crash between the two
  * renames) by renaming it back. The warehouse is SINGLE-WRITER:
  * recovery distinguishes a crashed swap from an in-flight one only
  * because no second process can be mid-swap — enumerating or reading
  * concurrently with another process's write is unsupported (as with
  * any rename-based commit protocol without a lock service).
  *
  * At scale each table is a directory of partition files — writes are
  * partition-parallel, no single-writer bottleneck; the reference's
  * 10k/50k-row INSERT batching (S6) has no analog because nothing
  * funnels through a SQL endpoint.
  */
final class Warehouse(spark: SparkSession, baseDir: String) {

  private val fs = new Path(baseDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def path(table: String) = new Path(baseDir, table)
  private def oldPath(table: String) = new Path(baseDir, table + ".__old")

  /** Crash recovery: a crash between swap renames leaves the prior
    * state stranded at `<table>.__old` with the live path missing;
    * rename it back so readers keep serving the last committed state.
    * Never touches `__old` when the live path exists (that is the
    * post-swap, pre-cleanup state — the NEW data is the truth). */
  private def recover(table: String): Unit =
    if (!fs.exists(path(table)) && fs.exists(oldPath(table)))
      fs.rename(oldPath(table), path(table))

  def exists(table: String): Boolean = {
    recover(table)
    fs.exists(path(table))
  }

  def read(table: String): DataFrame = {
    recover(table)
    // a prior batch may have swapped this path; drop any stale file
    // listing Spark has memoized for it
    spark.catalog.refreshByPath(path(table).toString)
    spark.read.parquet(path(table).toString)
  }

  def readIfExists(table: String): Option[DataFrame] =
    if (exists(table)) Some(read(table)) else None

  /** Overwrite-swap write: materialize to a tmp dir, then swap over
    * the old state. The df may read from the table being replaced. */
  def write(table: String, df: DataFrame): Unit = writeAll(Seq(table -> df))

  /** Hive-style partitioned overwrite-swap: at scale, fact tables are
    * written `partitionBy(dateCol)` so date-ranged queries prune whole
    * directories at planning time (SURVEY §7.4: partition facts by the
    * date key). Same swap discipline as [[write]]. Note partition
    * columns round-trip through directory names: they move to the end
    * of the read-back schema and integral key types re-infer as INT —
    * joins against LongType dim keys coerce, but schema-sensitive
    * consumers should select by name. */
  def writePartitioned(table: String, df: DataFrame, partitionCols: Seq[String]): Unit =
    writeAll(Seq(table -> df), Map(table -> partitionCols))

  /** Crash-safe swap: prior state aside → tmp in → cleanup last. A
    * crash before the first rename leaves the prior state live; between
    * the renames, [[recover]] serves the prior state from `__old`;
    * after them, the new state is live and the stale `__old` is swept
    * by the next swap or recover. */
  private def swapIn(table: String, tmp: Path): Unit = {
    fs.delete(oldPath(table), true)
    if (fs.exists(path(table)) && !fs.rename(path(table), oldPath(table)))
      throw new IllegalStateException(s"warehouse swap failed for $table (set-aside)")
    if (!fs.rename(tmp, path(table)))
      throw new IllegalStateException(s"warehouse swap failed for $table")
    fs.delete(oldPath(table), true)
    spark.catalog.refreshByPath(path(table).toString)
  }

  /** Two-phase group commit: materialize EVERY frame to its tmp dir
    * while all prior table states are still on disk, then swap them
    * in. Required whenever later frames in the group lazily read
    * tables earlier frames replace — e.g. target facts join the target
    * dimensions whose prior files an eager per-table swap would have
    * already deleted (the SCD frames read their own prior state).
    * `partitionCols` opts individual tables into Hive-style
    * partitioned layout (see [[writePartitioned]]).
    *
    * The frames are staged concurrently ([[Concurrently]]): each write
    * is its own job, and no frame reads another's tmp dir. The swaps
    * start only once every staged write has succeeded; if one fails,
    * the others still finish, nothing is swapped and the error is
    * rethrown, so every table keeps its prior state.
    *
    * Returns the rows written to each table, counted by an
    * [[Observation]] on the written frame: exact, because the count is
    * taken over the rows of the one write execution (never over a
    * lazily filled cache, which would count only the partitions it
    * computed), and free, because it adds no job. */
  def writeAll(tables: Seq[(String, DataFrame)],
      partitionCols: Map[String, Seq[String]] = Map.empty): Map[String, Long] = {
    val staged = Concurrently.run(tables.map { case (table, df) => () =>
      val tmp = new Path(baseDir, table + ".__tmp")
      fs.delete(tmp, true)
      val rows = Observation()
      val parts = partitionCols.getOrElse(table, Nil)
      val w = df.observe(rows, count(lit(1)).as("rows")).write.mode("overwrite")
      (if (parts.isEmpty) w else w.partitionBy(parts: _*)).parquet(tmp.toString)
      // a partitioned write of an EMPTY frame leaves no partition dirs
      // and no data files — read-back could not even infer a schema.
      // Park an empty unpartitioned file carrying the schema instead
      // (detected by dir listing, no extra job against the frame).
      if (parts.nonEmpty && !fs.listStatus(tmp).exists(_.isDirectory))
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], df.schema)
          .write.mode("overwrite").parquet(tmp.toString)
      (table, tmp, rows.get("rows").asInstanceOf[Long])
    })
    staged.foreach { case (table, tmp, _) => swapIn(table, tmp) }
    staged.map { case (table, _, n) => table -> n }.toMap
  }

  def drop(table: String): Unit = fs.delete(path(table), true)

  /** TRUNCATE analog: replace with an empty frame of the same schema. */
  def truncate(table: String): Unit = {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], read(table).schema)
    write(table, empty)
  }

  def tables(): Seq[String] = {
    if (!fs.exists(new Path(baseDir))) return Seq.empty
    val names = fs.listStatus(new Path(baseDir)).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)
    // a table stranded mid-swap exists only as <t>.__old — recover it
    // here too, or enumeration would silently omit it until someone
    // happened to read() it by name
    names.filter(_.endsWith(".__old"))
      .foreach(n => recover(n.stripSuffix(".__old")))
    fs.listStatus(new Path(baseDir)).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(n => n.endsWith(".__tmp") || n.endsWith(".__old")).sorted
  }
}

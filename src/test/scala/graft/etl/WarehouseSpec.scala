package graft.etl

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The group commit of [[Warehouse.writeAll]], whose frames are staged
  * concurrently: a failed write swaps nothing, frames read only prior
  * states, and the returned counts are the rows on disk. */
class WarehouseSpec extends SparkSpec {

  private def fresh(): Warehouse =
    new Warehouse(spark, Files.createTempDirectory("graft_wh_").toString)

  private def ids(wh: Warehouse, table: String): Seq[Long] =
    wh.read(table).select(col("id").cast("long")).collect().map(_.getLong(0)).sorted.toSeq

  test("a frame that throws at execution leaves every table's prior contents") {
    val wh = fresh()
    wh.writeAll(Seq("a" -> spark.range(3).toDF(), "b" -> spark.range(10, 12).toDF()))
    val boom = udf((x: Long) => if (x == 5) throw new IllegalStateException("boom") else x)
    val err = intercept[Exception] {
      wh.writeAll(Seq(
        "a" -> spark.range(100, 105).toDF(),
        "b" -> spark.range(10).select(boom(col("id")).as("id")),
        "c" -> spark.range(7).toDF()))
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("boom")), err)
    assert(ids(wh, "a") === Seq(0L, 1L, 2L))
    assert(ids(wh, "b") === Seq(10L, 11L))
    assert(!wh.exists("c"))
    assert(wh.tables() === Seq("a", "b"))
  }

  test("frames of a read-modify-write group see only the prior states") {
    val wh = fresh()
    wh.writeAll(Seq("a" -> spark.range(1, 4).toDF(), "b" -> spark.range(10, 21, 10).toDF()))
    // a' = a ∪ b and b' = 10·a: each frame reads a table the group replaces
    wh.writeAll(Seq(
      "a" -> wh.read("a").unionByName(wh.read("b")),
      "b" -> wh.read("a").select((col("id") * 10).as("id"))))
    assert(ids(wh, "a") === Seq(1L, 2L, 3L, 10L, 20L))
    assert(ids(wh, "b") === Seq(10L, 20L, 30L))
  }

  test("returned counts equal the rows read back, empty partitioned frame included") {
    val wh = fresh()
    val days = spark.range(50).select(col("id"), (col("id") % 4).as("day"))
    // a cache filled for one partition only: the count must still cover
    // every row written, not the rows the cache happened to hold
    val partlyCached = spark.range(0, 1000, 1, 4).toDF().cache()
    partlyCached.limit(1).collect()
    val counts = wh.writeAll(Seq(
      "plain" -> spark.range(7).toDF(),
      "days" -> days,
      "no_days" -> days.where(col("id") < 0),
      "cached" -> partlyCached),
      Map("days" -> Seq("day"), "no_days" -> Seq("day")))
    assert(counts === wh.tables().map(t => t -> wh.read(t).count()).toMap)
    assert(counts === Map("plain" -> 7L, "days" -> 50L, "no_days" -> 0L, "cached" -> 1000L))
    assert(wh.read("no_days").columns.toSet === Set("id", "day"))
    partlyCached.unpersist()
  }
}

package graft.etl

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Structural checks of the whole pipeline over a small hand-written
  * CSV in the reference's 25-column schema and quirks (FIXTURES.md §1:
  * `M/d/yyyy` dates, empty fields as nulls, quoted names holding `"`
  * and `™`, zip codes with leading zeros). Day 2 is day 1 with one
  * product's Unit Price (Safco shelving, 51.99 → 5.99) and one store's
  * State (Eagan, Minnesota → Wisconsin) changed, so its run takes the
  * SCD2 expire-and-version path. Needs no reference data.
  */
class FixturePipelineSpec extends SparkSpec {

  private def fixture(name: String) = getClass.getResource(s"/etl/$name").getPath
  private val days = Seq(
    fixture("retail_day1.csv") -> RunContext("2012-06-01"),
    fixture("retail_day2.csv") -> RunContext("2012-06-02"))

  /** Both days into a new warehouse; each day's returned counts. */
  private def runBoth(): (Warehouse, Seq[Map[String, Long]]) = {
    val dir = Files.createTempDirectory("graft_fixture_").toString
    val counts = days.map { case (csv, ctx) => Pipeline.run(spark, csv, dir, ctx) }
    (new Warehouse(spark, dir), counts)
  }

  private lazy val (wh, counts) = runBoth()

  private val safcoId = "PROD_" + graft.functions.Md5ModExpr
    .md5Hex("Safco Industrial Wire Shelving").take(14)
  private val eaganId = "STORE_" + graft.functions.Md5ModExpr.md5Hex("Eagan Store").take(14)

  /** Row count and sum of row hashes over the columns in name order
    * (partition columns move to the end on read-back). */
  private def checksum(w: Warehouse, table: String): (Long, Long) = {
    val df = w.read(table)
    val r = df.agg(count(lit(1)), coalesce(sum(hash(df.columns.sorted.map(col): _*)
      .cast("long")), lit(0L))).first()
    (r.getLong(0), r.getLong(1))
  }

  test("returned counts equal a re-read of all 27 pipeline tables") {
    assert(wh.tables().size === 27)
    val reread = wh.tables().map(t => t -> wh.read(t).count()).toMap
    assert(counts.last === reread)
    assert(counts.head("ods_sales") === 30)
    assert(counts.head("tgt_fact_sales") === 30)       // star joins do not fan out
    assert(counts.head("ods_customer") === 8)
    assert(counts.head("tgt_dim_product") === 11)
    assert(counts.head("tgt_dim_store") === 9)
    assert(counts.last("tgt_dim_product") === 12)       // + Safco version 2
    assert(counts.last("tgt_dim_store") === 10)         // + Eagan version 2
  }

  test("all 8 ODS orphan audits read zero") {
    val ods = OdsLayer.Tables(
      date = wh.read("ods_date"), customer = wh.read("ods_customer"),
      supplier = wh.read("ods_supplier"), product = wh.read("ods_product"),
      store = wh.read("ods_store"), returnReason = wh.read("ods_return_reason"),
      sales = wh.read("ods_sales"), returns = wh.read("ods_returns"),
      inventory = wh.read("ods_inventory"))
    val orphans = EtlChecks.odsOrphans(ods)
    assert(orphans.size === 8)
    assert(orphans.values.forall(_ == 0L), orphans)
  }

  test("every SCD2 key has one current row; the changed keys are at version 2") {
    for ((table, key, changed) <- Seq(
        ("tgt_dim_product", "product_id", safcoId),
        ("tgt_dim_store", "store_id", eaganId))) {
      val cur = wh.read(table).where(col("is_current"))
        .groupBy(key).agg(count(lit(1)).as("n"), max("version").as("v"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(cur.size === wh.read(table).select(key).distinct().count(), table)
      assert(cur.values.forall(_._1 == 1L), s"$table: a key with several current rows")
      assert(cur(changed)._2 === 2L, s"$table: $changed")
      assert(cur.removed(changed).values.forall(_._2 == 1L), s"$table: an unchanged key moved")
    }
    val safco = wh.read("tgt_dim_product").where(col("product_id") === safcoId)
      .orderBy("version").select("unit_price", "is_current").collect()
      .map(r => (r.getDouble(0), r.getBoolean(1))).toSeq
    assert(safco === Seq((51.99, false), (5.99, true)))
    val eagan = wh.read("tgt_dim_store").where(col("store_id") === eaganId && col("is_current"))
      .select("state", "zip_code").first()
    assert((eagan.getString(0), eagan.getString(1)) === ("Wisconsin", "55122"))
  }

  test("two runs into separate warehouses write identical tables") {
    val (other, otherCounts) = runBoth()
    assert(otherCounts === counts)
    val tables = wh.tables()
    assert(other.tables() === tables)
    assert(tables.map(t => t -> checksum(other, t)) === tables.map(t => t -> checksum(wh, t)))
  }
}

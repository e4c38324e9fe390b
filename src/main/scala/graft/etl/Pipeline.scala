package graft.etl

import org.apache.spark.sql.SparkSession

/** End-to-end pipeline: CSV → ODS → Staging → Target → verify
  * (reference orchestration: dags/walmart_etl_pipeline_dag.py:260-330 —
  * the Airflow DAG collapses to method order; each layer boundary is a
  * warehouse write + re-read, the Spark analog of the reference's
  * cross-database hop).
  *
  * Re-run semantics: ODS and Staging rebuild from source (the reference
  * truncates staging after each run anyway); target dims merge
  * incrementally against their prior state (SCD1 upsert / SCD2
  * version); facts are rebuilt per batch (declared divergence — the
  * reference's plain INSERTs duplicate facts on re-run, acknowledged at
  * etl_target_loader.py:1026-1029; overwrite-by-batch is the
  * idempotent fix).
  */
object Pipeline {

  /** Facts lay out Hive-partitioned by their date key (SURVEY §7.4) so
    * date-ranged reads prune whole directories at planning time — the
    * Spark analog of the reference warehouse's micro-partition pruning.
    * Dims stay unpartitioned (small, always read whole). */
  val factPartitions: Map[String, Seq[String]] = Map(
    "tgt_fact_sales" -> Seq("transaction_date_key"),
    "tgt_fact_inventory" -> Seq("date_key"),
    "tgt_fact_returns" -> Seq("return_date_key"))

  /** Run the full pipeline; returns the rows written to each of the 27
    * pipeline tables, as [[Warehouse.writeAll]] counted them during the
    * writes (truncated staging tables report 0) — no read-back job. */
  def run(spark: SparkSession, csvPath: String, warehouseDir: String,
      ctx: RunContext, clearStaging: Boolean = false): Map[String, Long] = {
    val wh = new Warehouse(spark, warehouseDir)
    // batch boundary: cached plans from a previous run key on the same
    // parquet paths and would serve the pre-swap file contents
    spark.catalog.clearCache()

    val csv = CsvSource.read(spark, csvPath)
    val ods = OdsLayer.build(csv, ctx)
    val odsRows = wh.writeAll(ods.all)

    val odsR = OdsLayer.Tables(
      date = wh.read("ods_date"), customer = wh.read("ods_customer"),
      supplier = wh.read("ods_supplier"), product = wh.read("ods_product"),
      store = wh.read("ods_store"), returnReason = wh.read("ods_return_reason"),
      sales = wh.read("ods_sales"), returns = wh.read("ods_returns"),
      inventory = wh.read("ods_inventory"))
    val stg = StagingLayer.build(odsR, ctx)
    val stgRows = wh.writeAll(stg.all)

    val stgR = StagingLayer.Tables(
      date = wh.read("stg_date"), customer = wh.read("stg_customer"),
      product = wh.read("stg_product"), store = wh.read("stg_store"),
      supplier = wh.read("stg_supplier"),
      returnReason = wh.read("stg_return_reason"),
      sales = wh.read("stg_sales"), returns = wh.read("stg_returns"),
      inventory = wh.read("stg_inventory"))
    val tgt = TargetLayer.build(stgR, wh.readIfExists, ctx)
    val tgtRows = wh.writeAll(tgt.all, factPartitions)

    if (clearStaging) stgR.all.map(_._1).foreach(wh.truncate)
    val stgNow = if (clearStaging) stgRows.map { case (t, _) => t -> 0L } else stgRows

    odsRows ++ stgNow ++ tgtRows
  }
}

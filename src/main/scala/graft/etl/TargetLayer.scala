package graft.etl

import graft.ops.{Relational, Scd, SurrogateKeys}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Staging → Target star schema (reference: etl_target_loader.py).
  *
  * SCD Type 1 dims (date, customer, supplier, return_reason): MERGE
  * rewritten as dedup-source + anti-join-union
  * ([[Relational.mergeType1]]) + atomic overwrite — same end state as
  * the reference's MERGE INTO (etl_target_loader.py:86-297) without
  * requiring a transactional table format.
  *
  * SCD Type 2 dims (product, store): the reference's 4-step
  * transaction (temp snapshot → expire UPDATE → INSERT versions →
  * cleanup, etl_target_loader.py:299-656) collapses into
  * [[Scd.applyChanges]] — one deterministic frame computation written
  * by overwrite-swap. The dedup-to-latest snapshot orders by
  * etl_timestamp DESC like the reference and pins the tie-break the
  * warehouse leaves undefined (all rows of a batch share a timestamp).
  *
  * Facts: the reference's INSERT INTO … SELECT star joins
  * (etl_target_loader.py:711-982) — staging surrogate → natural key →
  * target surrogate, with the SCD2 legs as point-in-time range joins
  * (J5). Plain Spark joins; dimensions broadcast under AQE.
  *
  * Surrogate keys here are per-run dense longs over natural ordering
  * ([[graft.ops.SurrogateKeys.dense]]); facts are rebuilt per batch,
  * so keys never need to survive a run (declared divergence from
  * warehouse autoincrement — SURVEY §1.1).
  */
object TargetLayer {

  final case class Tables(
      date: DataFrame, customer: DataFrame, supplier: DataFrame,
      returnReason: DataFrame, product: DataFrame, store: DataFrame,
      factSales: DataFrame, factInventory: DataFrame, factReturns: DataFrame) {
    def dims: Seq[(String, DataFrame)] = Seq(
      "tgt_dim_date" -> date, "tgt_dim_customer" -> customer,
      "tgt_dim_supplier" -> supplier, "tgt_dim_return_reason" -> returnReason,
      "tgt_dim_product" -> product, "tgt_dim_store" -> store)
    def facts: Seq[(String, DataFrame)] = Seq(
      "tgt_fact_sales" -> factSales, "tgt_fact_inventory" -> factInventory,
      "tgt_fact_returns" -> factReturns)
    def all: Seq[(String, DataFrame)] = dims ++ facts
  }

  val productTracked: Seq[String] = Seq(
    "product_name", "product_category", "product_sub_category",
    "product_container", "unit_price", "price_tier", "product_base_margin",
    "margin_percentage", "is_high_margin", "supplier_id", "supplier_name")

  val storeTracked: Seq[String] = Seq(
    "store_name", "location", "city", "state", "zip_code", "region", "market")

  private def dropAudit(df: DataFrame): DataFrame =
    df.drop("etl_batch_id", "etl_timestamp")

  /** SCD1: dedup staging to one row per key (W1, reference orderings
    * preserved; ties the warehouse leaves undefined are pinned by the
    * key itself), then merge into the prior dimension state. */
  def scd1(prior: Option[DataFrame], stg: DataFrame, key: String,
      dedupOrder: Seq[Column], surrogate: String): DataFrame = {
    val src = dropAudit(Relational.latestPerKey(stg, Seq(key), dedupOrder)
      .drop(stg.columns.filter(_.endsWith("_key")).toSeq: _*))
    val merged = prior match {
      case Some(p) => Relational.mergeType1(p.drop(surrogate), src, Seq(key))
      case None => src
    }
    SurrogateKeys.dense(surrogate, Seq(col(key).asc))(merged)
  }

  /** SCD2: latest-per-key snapshot of staging, then expire+version
    * against the prior state (or initial-load when none). */
  def scd2(prior: Option[DataFrame], stg: DataFrame, key: String,
      tracked: Seq[String], ctx: RunContext): DataFrame = {
    val latest = Relational.latestPerKey(stg, Seq(key),
      Seq(col("etl_timestamp").desc, col(key).asc) ++ tracked.map(col(_).asc))
      .select((key +: tracked).map(col): _*)
    prior match {
      case Some(p) => Scd.applyChanges(p, latest, Seq(key), tracked, ctx.runDateStr)
      case None => Scd.initial(latest)
    }
  }

  /** Attach a per-run surrogate key to an SCD2 dimension for fact
    * joins (stable within the run; facts are rebuilt per batch). */
  private def withScdKey(dim: DataFrame, key: String, surrogate: String): DataFrame =
    SurrogateKeys.dense(surrogate, Seq(col(key).asc, col("version").asc))(dim)

  /** The reference resolves staging→target through the natural key:
    * fact.stg_key → stg dim row → natural id → target dim row
    * (etl_target_loader.py:731-758). One helper per leg keeps the fact
    * chains readable. `stgKey`/`tgtKey` are renamed unambiguously
    * before joining. */
  private def leg(fact: DataFrame, stgDim: DataFrame, tgtDim: DataFrame,
      stgKeyCol: String, naturalCol: String, tgtKeyCol: String,
      outCol: String, required: Boolean,
      range: Option[(Column, String, String)] = None): DataFrame = {
    val nat = "__nat_" + outCol
    val stgSide = stgDim.select(col(stgKeyCol), col(naturalCol).as(nat))
    val joinType = if (required) "inner" else "left"
    val withNat = fact.join(broadcast(stgSide), Seq(stgKeyCol), joinType)
    val tgtSide = range match {
      case None =>
        tgtDim.select(col(naturalCol).as(nat), col(tgtKeyCol).as(outCol))
      case Some(_) =>
        tgtDim.select(col(naturalCol).as(nat), col(tgtKeyCol).as(outCol),
          col("effective_date").as(s"__eff_$outCol"),
          col("expiry_date").as(s"__exp_$outCol"))
    }
    val joined = range match {
      case None => withNat.join(broadcast(tgtSide), Seq(nat), joinType)
      case Some((factDate, _, _)) => withNat.join(broadcast(tgtSide),
        withNat(nat) === tgtSide(nat) &&
          factDate >= tgtSide(s"__eff_$outCol") &&
          factDate <= tgtSide(s"__exp_$outCol"), joinType)
    }
    joined.drop(nat, s"__eff_$outCol", s"__exp_$outCol")
  }

  /** Fact sales (etl_target_loader.py:658-780): required legs txn
    * date/customer/product/store (SCD2 range on the transaction date),
    * ship date left. */
  def factSales(stg: StagingLayer.Tables, date: DataFrame, customer: DataFrame,
      product: DataFrame, store: DataFrame): DataFrame = {
    // the transaction full_date drives the SCD2 range legs
    val f0 = stg.sales.join(
      broadcast(stg.date.select(col("date_key").as("transaction_date_key"),
        col("date_id").as("__txn_date_id"), col("full_date").as("__txn_full_date"))),
      Seq("transaction_date_key"))
    val fDate = f0.join(
      broadcast(date.select(col("date_id").as("__txn_date_id"),
        col("date_key").as("tgt_transaction_date_key"))), Seq("__txn_date_id"))
    val fShip = leg(fDate, stg.date.withColumnRenamed("date_key", "ship_date_key"),
      date, "ship_date_key", "date_id", "date_key", "tgt_ship_date_key",
      required = false)
    val fCust = leg(fShip, stg.customer, customer, "customer_key", "customer_id",
      "customer_key2", "tgt_customer_key", required = true)
    val fProd = leg(fCust, stg.product, product, "product_key", "product_id",
      "product_key2", "tgt_product_key", required = true,
      range = Some((col("__txn_full_date"), "", "")))
    val fStore = leg(fProd, stg.store, store, "store_key", "store_id",
      "store_key2", "tgt_store_key", required = true,
      range = Some((col("__txn_full_date"), "", "")))
    fStore.select(
      col("sale_id"), col("order_id"), col("row_id"),
      col("tgt_transaction_date_key").as("transaction_date_key"),
      col("tgt_product_key").as("product_key"),
      col("tgt_store_key").as("store_key"),
      col("tgt_customer_key").as("customer_key"),
      col("order_priority"), col("order_quantity"), col("sales_amount"),
      col("discount"), col("discount_amount"), col("shipping_cost"),
      col("gross_revenue"), col("net_revenue"), col("profit"),
      col("profit_margin"), col("is_profitable"),
      col("tgt_ship_date_key").as("ship_date_key"),
      col("ship_mode"))
  }

  /** Fact inventory (etl_target_loader.py:783-887). */
  def factInventory(stg: StagingLayer.Tables, date: DataFrame,
      product: DataFrame, store: DataFrame): DataFrame = {
    val f0 = stg.inventory.join(
      broadcast(stg.date.select(col("date_key"),
        col("date_id").as("__inv_date_id"), col("full_date").as("__inv_full_date"))),
      Seq("date_key"))
    val fDate = f0.join(
      broadcast(date.select(col("date_id").as("__inv_date_id"),
        col("date_key").as("tgt_date_key"))), Seq("__inv_date_id"))
    val fRestock = leg(fDate,
      stg.date.withColumnRenamed("date_key", "last_restock_date_key"), date,
      "last_restock_date_key", "date_id", "date_key", "tgt_restock_date_key",
      required = false)
    val fProd = leg(fRestock, stg.product, product, "product_key", "product_id",
      "product_key2", "tgt_product_key", required = true,
      range = Some((col("__inv_full_date"), "", "")))
    val fStore = leg(fProd, stg.store, store, "store_key", "store_id",
      "store_key2", "tgt_store_key", required = true,
      range = Some((col("__inv_full_date"), "", "")))
    fStore.select(
      col("inventory_id"),
      col("tgt_date_key").as("date_key"),
      col("tgt_product_key").as("product_key"),
      col("tgt_store_key").as("store_key"),
      col("stock_level"), col("min_stock_level"), col("max_stock_level"),
      col("reorder_point"),
      col("tgt_restock_date_key").as("last_restock_date_key"),
      col("days_of_supply"), col("stock_status"), col("is_in_stock"))
  }

  /** Fact returns (etl_target_loader.py:890-997): reason resolves left
    * through the staging reason_key like the reference. */
  def factReturns(stg: StagingLayer.Tables, date: DataFrame, product: DataFrame,
      store: DataFrame, reason: DataFrame): DataFrame = {
    val f0 = stg.returns.join(
      broadcast(stg.date.select(col("date_key").as("return_date_key"),
        col("date_id").as("__ret_date_id"), col("full_date").as("__ret_full_date"))),
      Seq("return_date_key"))
    val fDate = f0.join(
      broadcast(date.select(col("date_id").as("__ret_date_id"),
        col("date_key").as("tgt_return_date_key"))), Seq("__ret_date_id"))
    val fOrig = leg(fDate,
      stg.date.withColumnRenamed("date_key", "original_sale_date_key"), date,
      "original_sale_date_key", "date_id", "date_key", "tgt_orig_date_key",
      required = false)
    val fProd = leg(fOrig, stg.product, product, "product_key", "product_id",
      "product_key2", "tgt_product_key", required = true,
      range = Some((col("__ret_full_date"), "", "")))
    val fStore = leg(fProd, stg.store, store, "store_key", "store_id",
      "store_key2", "tgt_store_key", required = true,
      range = Some((col("__ret_full_date"), "", "")))
    val fReason = leg(fStore, stg.returnReason, reason, "reason_key",
      "reason_code", "reason_key2", "tgt_reason_key", required = false)
    fReason.select(
      col("return_id"),
      col("tgt_return_date_key").as("return_date_key"),
      col("tgt_product_key").as("product_key"),
      col("tgt_store_key").as("store_key"),
      col("tgt_reason_key").as("reason_key"),
      col("reason_code"), col("return_amount"), col("quantity_returned"),
      col("avg_return_price"), col("original_sale_id"),
      col("tgt_orig_date_key").as("original_sale_date_key"),
      col("days_since_sale"), col("is_within_30_days"), col("return_condition"))
  }

  /** Build the full target layer from staging + the prior target dim
    * states (None on first load). Renamed `*_key2` columns are the
    * target-side surrogates, kept distinct from staging's. The eager
    * surrogate keys of the four SCD1 dimensions and the two keyed SCD2
    * dimensions are independent jobs, computed concurrently. */
  def build(stg: StagingLayer.Tables,
      prior: String => Option[DataFrame], ctx: RunContext): Tables = {
    val product = scd2(prior("tgt_dim_product"), stg.product, "product_id",
      productTracked, ctx).cache()
    val store = scd2(prior("tgt_dim_store"), stg.store, "store_id",
      storeTracked, ctx).cache()
    val Seq(date, customer, supplier, reason, productK, storeK) = Concurrently.run(Seq(
      () => scd1(prior("tgt_dim_date"), stg.date, "date_id",
        Seq(col("etl_timestamp").desc, col("full_date").desc), "date_key").cache(),
      () => scd1(prior("tgt_dim_customer"), stg.customer, "customer_id",
        Seq(col("customer_name").asc, col("city").asc), "customer_key"),
      () => scd1(prior("tgt_dim_supplier"), stg.supplier, "supplier_id",
        Seq(col("supplier_name").asc, col("contact_name").asc), "supplier_key"),
      () => scd1(prior("tgt_dim_return_reason"), stg.returnReason, "reason_code",
        Seq(col("reason_description").asc, col("reason_category").asc), "reason_key")
        .cache(),
      () => withScdKey(product, "product_id", "product_key2"),
      () => withScdKey(store, "store_id", "store_key2")))
    val customerK = customer.withColumnRenamed("customer_key", "customer_key2")
    val reasonK = reason.withColumnRenamed("reason_key", "reason_key2")

    Tables(
      date = date, customer = customer, supplier = supplier,
      returnReason = reason, product = product, store = store,
      factSales = factSales(stg, date, customerK, productK, storeK),
      factInventory = factInventory(stg, date, productK, storeK),
      factReturns = factReturns(stg, date, productK, storeK, reasonK))
  }
}

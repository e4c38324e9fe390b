package graft.etl

import graft.etl.Ids._
import graft.ops.SurrogateKeys
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ODS → Staging: cleansing, derived columns, integer surrogate keys
  * (reference: etl_staging_loader.py). Every per-row Python transform
  * becomes one select over codegen'd expressions; the read-back
  * key-fetch queries (S10) disappear because surrogate keys are
  * generated in-frame.
  *
  * Surrogate keys are dense longs over a pinned natural ordering
  * ([[graft.ops.SurrogateKeys.dense]] — range-repartitioned, never a
  * single-partition window), deterministic and re-run-reproducible
  * (the reference's DB autoincrement values depend on insert order;
  * SURVEY §1.1 declares this divergence and notes downstream joins
  * re-resolve by natural key, so the values never need to match).
  *
  * Fact loaders resolve dimension keys by joining the dimension frame
  * (J2's broadcast-map analog) and drop rows whose required keys are
  * missing (P3) — an inner join; the skip count is observable as
  * input−output rows.
  */
object StagingLayer {

  final case class Tables(
      date: DataFrame, customer: DataFrame, product: DataFrame,
      store: DataFrame, supplier: DataFrame, returnReason: DataFrame,
      sales: DataFrame, returns: DataFrame, inventory: DataFrame) {
    def all: Seq[(String, DataFrame)] = Seq(
      "stg_date" -> date, "stg_customer" -> customer, "stg_product" -> product,
      "stg_store" -> store, "stg_supplier" -> supplier,
      "stg_return_reason" -> returnReason, "stg_sales" -> sales,
      "stg_returns" -> returns, "stg_inventory" -> inventory)
  }

  private def surrogate(name: String, order: Seq[Column])(df: DataFrame): DataFrame =
    SurrogateKeys.dense(name, order)(df)

  private def audit(ctx: RunContext)(df: DataFrame): DataFrame = df
    .withColumn("etl_batch_id", lit(ctx.batchId))
    .withColumn("etl_timestamp", to_timestamp(lit(ctx.tsStr)))

  /** DDL-type fidelity for fact money columns (see
    * [[RunContext.decimalMeasures]]): when the flag is on, cast each
    * listed column to its reference-DDL decimal type AFTER the
    * float-faithful derivation — exact storage semantics over the
    * reference's own arithmetic. Derived columns (discount_amount,
    * net_revenue, avg_return_price) are already round(x, 2), so their
    * cast is lossless; raw pass-through money (sales_amount, profit,
    * shipping_cost, return_amount) with >2 decimals rounds half-up —
    * exactly what inserting the same value into the reference's
    * `Numeric(12,2)` column does. */
  private def decimalize(ctx: RunContext, cols: (String, String)*)(df: DataFrame): DataFrame =
    if (!ctx.decimalMeasures) df
    else cols.foldLeft(df) { case (d, (c, t)) => d.withColumn(c, col(c).cast(t)) }

  /** F5/F6: is_weekend from the stored day name, fiscal = calendar
    * (etl_staging_loader.py:128-240). */
  def date(ods: DataFrame, ctx: RunContext): DataFrame =
    surrogate("date_key", Seq(col("date_id").asc))(audit(ctx)(ods.select(
      col("date_id"), col("full_date"),
      coalesce(col("day_of_week"), lit("Unknown")).as("day_of_week"),
      col("day_of_month"), col("month"),
      coalesce(col("month_name"), lit("Unknown")).as("month_name"),
      col("quarter"), col("year"),
      col("day_of_week").isin("Saturday", "Sunday").as("is_weekend"),
      col("is_holiday"),
      col("year").as("fiscal_year"),
      col("quarter").as("fiscal_quarter"))))

  /** F7 (lenient age parse + buckets), F8 (region initcap(trim)), F9
    * defaults (etl_staging_loader.py:243-345). */
  def customer(ods: DataFrame, ctx: RunContext): DataFrame = {
    val age = col("customer_age").cast("double").cast("int")
    val ageGroup = when(age.isNull, "Unknown")
      .when(age < 18, "Under 18")
      .when(age < 35, "18-34")
      .when(age < 50, "35-49")
      .when(age < 65, "50-64")
      .otherwise("65+")
    surrogate("customer_key", Seq(col("customer_id").asc))(audit(ctx)(ods.select(
      col("customer_id"),
      coalesce(trim(col("customer_name")), lit("Unknown")).as("customer_name"),
      age.as("customer_age"),
      ageGroup.as("age_group"),
      coalesce(col("customer_segment"), lit("Unknown")).as("customer_segment"),
      coalesce(col("city"), lit("Unknown")).as("city"),
      coalesce(col("state"), lit("Unknown")).as("state"),
      coalesce(col("zip_code"), lit("Unknown")).as("zip_code"),
      when(col("region").isNotNull, initcap(trim(col("region"))))
        .otherwise("Unknown").as("region"))))
  }

  /** J1 (left supplier enrich, broadcast), F10-F12 (margin %, high
    * margin, price tier) (etl_staging_loader.py:348-450). The pinned
    * surrogate ordering includes the non-key attribute columns because
    * ods_product may hold several rows per product_id (same name,
    * different price — quirk preserved from the ODS layer). */
  def product(odsProduct: DataFrame, odsSupplier: DataFrame, ctx: RunContext): DataFrame = {
    val joined = odsProduct.join(
      broadcast(odsSupplier.select(col("supplier_id"),
        col("supplier_name").as("__supp_name"))),
      Seq("supplier_id"), "left")
    val price = coalesce(col("unit_price"), lit(0.0))
    val margin = coalesce(col("product_base_margin"), lit(0.0))
    val marginPct = when(price > 0, round(margin / price * 100, 2)).otherwise(0.0)
    val tier = when(price < 10.0, "Low")
      .when(price < 50.0, "Medium")
      .when(price < 100.0, "High")
      .otherwise("Premium")
    surrogate("product_key", Seq(col("product_id").asc, col("unit_price").asc,
      col("product_base_margin").asc, col("product_container").asc))(
      audit(ctx)(joined.select(
        col("product_id"),
        coalesce(col("product_name"), lit("Unknown Product")).as("product_name"),
        coalesce(col("product_category"), lit("Uncategorized")).as("product_category"),
        coalesce(col("product_sub_category"), lit("Uncategorized")).as("product_sub_category"),
        coalesce(col("product_container"), lit("Unknown")).as("product_container"),
        price.as("unit_price"),
        tier.as("price_tier"),
        margin.as("product_base_margin"),
        marginPct.as("margin_percentage"),
        (marginPct > 30.0).as("is_high_margin"),
        col("supplier_id"),
        coalesce(col("__supp_name"), lit("Unknown Supplier")).as("supplier_name"))))
  }

  /** F13: the market-from-region chain, branch order preserved exactly
    * — `southwest` is claimed by the West Coast branch before the South
    * branch can see it (etl_staging_loader.py:486-497). */
  def store(ods: DataFrame, ctx: RunContext): DataFrame = {
    val r = lower(col("region"))
    val market = when(col("region").isNull, "Unknown")
      .when(r.isin("east", "northeast", "southeast"), "East Coast")
      .when(r.isin("west", "northwest", "southwest", "pacific"), "West Coast")
      .when(r.isin("central", "midwest", "north central", "south central"), "Central")
      .when(r.isin("south", "southwest", "southeast"), "South")
      .otherwise("Other")
    surrogate("store_key", Seq(col("store_id").asc, col("state").asc,
      col("zip_code").asc, col("region").asc))(audit(ctx)(ods.select(
      col("store_id"),
      coalesce(col("store_name"), lit("Unknown Store")).as("store_name"),
      coalesce(col("location"), lit("Unknown")).as("location"),
      coalesce(col("city"), lit("Unknown")).as("city"),
      coalesce(col("state"), lit("Unknown")).as("state"),
      coalesce(col("zip_code"), lit("Unknown")).as("zip_code"),
      coalesce(col("region"), lit("Unknown")).as("region"),
      market.as("market"))))
  }

  /** F14: supplier type from name contains-chain
    * (etl_staging_loader.py:575-587). */
  def supplier(ods: DataFrame, ctx: RunContext): DataFrame = {
    val n = lower(col("supplier_name"))
    val supplierType = when(col("supplier_name").isNull, "Unknown")
      .when(n.contains("wholesale"), "Wholesale")
      .when(n.contains("retail"), "Retail")
      .when(n.contains("manufacturer"), "Manufacturer")
      .when(n.contains("distributor"), "Distributor")
      .otherwise("General")
    surrogate("supplier_key", Seq(col("supplier_id").asc))(audit(ctx)(ods.select(
      col("supplier_id"),
      coalesce(col("supplier_name"), lit("Unknown Supplier")).as("supplier_name"),
      supplierType.as("supplier_type"),
      coalesce(col("contact_person"), lit("Unknown")).as("contact_name"),
      coalesce(col("phone"), lit("")).as("contact_phone"),
      coalesce(col("email"), lit("")).as("contact_email"))))
  }

  /** F15: impact level / controllability rules, preserved as written —
    * the generated categories ('Quality Issue', 'Order Error', …) never
    * match the rule lists, so every row lands on Medium/false exactly
    * like the reference (etl_staging_loader.py:662-674). */
  def returnReason(ods: DataFrame, ctx: RunContext): DataFrame = {
    val c = lower(col("category"))
    surrogate("reason_key", Seq(col("reason_code").asc))(audit(ctx)(ods.select(
      coalesce(col("reason_code"), lit("UNKNOWN")).as("reason_code"),
      coalesce(col("reason_description"), lit("Unknown Reason")).as("reason_description"),
      coalesce(col("category"), lit("Uncategorized")).as("reason_category"),
      when(c.isin("defect", "damage", "quality"), "High")
        .when(c.isin("preference", "changed mind"), "Low")
        .otherwise("Medium").as("impact_level"),
      c.isin("defect", "damage", "quality", "wrong item", "late delivery")
        .as("is_controllable"))))
  }

  /** The reference's dict maps pick the LAST inserted row per natural
    * id (etl_staging_loader.py:227-239 et al.) — with our pinned
    * surrogate ordering that is the max key per id. */
  private def keyPick(dim: DataFrame, idCol: String, keyCol: String,
      as: String): DataFrame =
    dim.groupBy(col(idCol)).agg(max(col(keyCol)).as(as))

  /** Sales fact: required keys (txn date, customer, product, store)
    * resolve by inner join, ship date resolves left (nullable) —
    * etl_staging_loader.py:717-908 — plus the F16 derived measures. */
  def sales(odsSales: DataFrame, stgDate: DataFrame, stgCustomer: DataFrame,
      stgProduct: DataFrame, stgStore: DataFrame, ctx: RunContext): DataFrame = {
    val dateKeys = broadcast(stgDate.select(col("date_id"), col("date_key")))
    val resolved = odsSales
      .withColumn("__txn_date_id", dateId(col("transaction_date")))
      .withColumn("__ship_date_id", dateId(col("ship_date")))
      .join(dateKeys.select(col("date_id").as("__txn_date_id"),
        col("date_key").as("transaction_date_key")), Seq("__txn_date_id"))
      .join(dateKeys.select(col("date_id").as("__ship_date_id"),
        col("date_key").as("ship_date_key")), Seq("__ship_date_id"), "left")
      .join(broadcast(keyPick(stgCustomer, "customer_id", "customer_key",
        "customer_key")), Seq("customer_id"))
      .join(broadcast(keyPick(stgProduct, "product_id", "product_key",
        "product_key")), Seq("product_id"))
      .join(broadcast(keyPick(stgStore, "store_id", "store_key",
        "store_key")), Seq("store_id"))

    val amount = coalesce(col("sales_amount"), lit(0.0))
    val qty = coalesce(col("order_quantity"), lit(0))
    val disc = coalesce(col("discount"), lit(0.0))
    val profit = coalesce(col("profit"), lit(0.0))
    val shipCost = coalesce(col("shipping_cost"), lit(0.0))
    val discountAmount = round(amount * disc, 2)
    surrogate("sales_key", Seq(col("sale_id").asc))(audit(ctx)(decimalize(ctx,
      "sales_amount" -> "decimal(12,2)", "discount_amount" -> "decimal(12,2)",
      "shipping_cost" -> "decimal(10,2)", "gross_revenue" -> "decimal(12,2)",
      "net_revenue" -> "decimal(12,2)", "profit" -> "decimal(12,2)")(resolved.select(
      col("sale_id"), col("order_id"), col("row_id"),
      col("transaction_date_key"), col("product_key"), col("store_key"),
      col("customer_key"),
      coalesce(col("order_priority"), lit("Standard")).as("order_priority"),
      qty.as("order_quantity"),
      amount.as("sales_amount"),
      disc.as("discount"),
      discountAmount.as("discount_amount"),
      shipCost.as("shipping_cost"),
      amount.as("gross_revenue"),
      round(amount - discountAmount, 2).as("net_revenue"),
      profit.as("profit"),
      when(amount > 0, round(profit / amount * 100, 2)).otherwise(0.0).as("profit_margin"),
      (profit > 0).as("is_profitable"),
      col("ship_date_key"),
      coalesce(col("ship_mode"), lit("Standard")).as("ship_mode")))))
  }

  /** Returns fact: F17 derived columns (datediff, within-30-days flag —
    * false when either date is missing, avg return price) —
    * etl_staging_loader.py:911-1112. */
  def returns(odsReturns: DataFrame, stgDate: DataFrame, stgProduct: DataFrame,
      stgStore: DataFrame, stgReason: DataFrame, ctx: RunContext): DataFrame = {
    val dateKeys = broadcast(stgDate.select(col("date_id"), col("date_key")))
    val resolved = odsReturns
      .withColumn("__ret_date_id", dateId(col("return_date")))
      .withColumn("__orig_date_id", dateId(col("original_sale_date")))
      .join(dateKeys.select(col("date_id").as("__ret_date_id"),
        col("date_key").as("return_date_key")), Seq("__ret_date_id"))
      .join(dateKeys.select(col("date_id").as("__orig_date_id"),
        col("date_key").as("original_sale_date_key")), Seq("__orig_date_id"), "left")
      .join(broadcast(keyPick(stgProduct, "product_id", "product_key",
        "product_key")), Seq("product_id"))
      .join(broadcast(keyPick(stgStore, "store_id", "store_key",
        "store_key")), Seq("store_id"))
      .join(broadcast(keyPick(stgReason, "reason_code", "reason_key",
        "reason_key")), Seq("reason_code"), "left")

    val amount = coalesce(col("return_amount"), lit(0.0))
    val qty = coalesce(col("quantity_returned"), lit(0))
    val days = datediff(col("return_date"), col("original_sale_date"))
    surrogate("return_key", Seq(col("return_id").asc))(audit(ctx)(decimalize(ctx,
      "return_amount" -> "decimal(12,2)",
      "avg_return_price" -> "decimal(10,2)")(resolved.select(
      col("return_id"), col("return_date_key"), col("product_key"),
      col("store_key"), col("reason_key"),
      coalesce(col("reason_code"), lit("UNKNOWN")).as("reason_code"),
      amount.as("return_amount"),
      qty.as("quantity_returned"),
      when(qty > 0, round(amount / qty, 2)).otherwise(0.0).as("avg_return_price"),
      col("original_sale_id"), col("original_sale_date_key"),
      days.as("days_since_sale"),
      coalesce(days <= 30, lit(false)).as("is_within_30_days"),
      coalesce(col("return_condition"), lit("Unknown")).as("return_condition")))))
  }

  /** Inventory fact: F18 (days of supply, the stock_status ladder —
    * branch order load-bearing, Low Stock is tested before Below
    * Minimum), etl_staging_loader.py:1115-1313. */
  def inventory(odsInventory: DataFrame, stgDate: DataFrame, stgProduct: DataFrame,
      stgStore: DataFrame, ctx: RunContext): DataFrame = {
    val dateKeys = broadcast(stgDate.select(col("date_id"), col("date_key")))
    val resolved = odsInventory
      .withColumn("__inv_date_id", dateId(col("inventory_date")))
      .withColumn("__restock_date_id", dateId(col("last_restock_date")))
      .join(dateKeys.select(col("date_id").as("__inv_date_id"),
        col("date_key").as("date_key")), Seq("__inv_date_id"))
      .join(dateKeys.select(col("date_id").as("__restock_date_id"),
        col("date_key").as("last_restock_date_key")), Seq("__restock_date_id"), "left")
      .join(broadcast(keyPick(stgProduct, "product_id", "product_key",
        "product_key")), Seq("product_id"))
      .join(broadcast(keyPick(stgStore, "store_id", "store_key",
        "store_key")), Seq("store_id"))

    val stock = coalesce(col("stock_level"), lit(0))
    val minS = coalesce(col("min_stock_level"), lit(0))
    val maxS = coalesce(col("max_stock_level"), lit(0))
    val reorder = coalesce(col("reorder_point"), lit(0))
    val status = when(stock <= 0, "Out of Stock")
      .when(stock < reorder, "Low Stock")
      .when(stock < minS, "Below Minimum")
      .when(stock > maxS, "Overstocked")
      .otherwise("In Stock")
    surrogate("inventory_key", Seq(col("inventory_id").asc))(audit(ctx)(resolved.select(
      col("inventory_id"), col("date_key"), col("product_key"), col("store_key"),
      stock.as("stock_level"), minS.as("min_stock_level"),
      maxS.as("max_stock_level"), reorder.as("reorder_point"),
      col("last_restock_date_key"),
      when(stock > 0 && minS > 0,
        floor(stock.cast("double") / minS * 30).cast("int"))
        .otherwise(lit(null).cast("int")).as("days_of_supply"),
      status.as("stock_status"),
      (stock > 0).as("is_in_stock"))))
  }

  /** Build all nine staging tables from ODS frames. Surrogate keys are
    * eager (one job per table, [[SurrogateKeys.dense]]), so the six
    * dimensions are keyed concurrently, then the three facts that join
    * them. */
  def build(ods: OdsLayer.Tables, ctx: RunContext): Tables = {
    val Seq(d, c, p, st, su, rr) = Concurrently.run(Seq(
      () => date(ods.date, ctx).cache(),
      () => customer(ods.customer, ctx),
      () => product(ods.product, ods.supplier, ctx).cache(),
      () => store(ods.store, ctx).cache(),
      () => supplier(ods.supplier, ctx),
      () => returnReason(ods.returnReason, ctx).cache()))
    val Seq(sa, rt, inv) = Concurrently.run(Seq(
      () => sales(ods.sales, d, c, p, st, ctx),
      () => returns(ods.returns, d, p, st, rr, ctx),
      () => inventory(ods.inventory, d, p, st, ctx)))
    Tables(
      date = d, customer = c, product = p, store = st, supplier = su,
      returnReason = rr, sales = sa, returns = rt, inventory = inv)
  }
}

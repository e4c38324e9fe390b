package graft.etl

import graft.etl.Ids._
import graft.ops.Relational
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CSV → ODS landing layer (reference: etl_ods_loader.py).
  *
  * One declarative lineage replaces the reference's row loops and
  * read-back dict maps (etl_ods_loader.py:482-524): every dimension id
  * is derivable in-frame from the natural key, so fact loads never
  * re-read a dimension to harvest keys. Duplicates are preserved by
  * design (the reference's ODS keeps them, etl_ods_loader.py:54-56) —
  * notably ods_product can hold several rows per product_id (same name,
  * different price/margin) and ods_store several per store_id (store id
  * hashes city only while stores are distinct city/state/zip/region —
  * etl_ods_loader.py:152-161 vs :454; quirk preserved).
  *
  * Declared determinism divergences (SURVEY §7.4): unseeded `random`
  * (returns sampling/choices, inventory bounds) and Python `hash()`
  * (contact fields) are replaced by salted [[Ids.md5Mod]] draws, and
  * `datetime.now()` by the injected [[RunContext]].
  */
object OdsLayer {

  final case class Tables(
      date: DataFrame, customer: DataFrame, supplier: DataFrame,
      product: DataFrame, store: DataFrame, returnReason: DataFrame,
      sales: DataFrame, returns: DataFrame, inventory: DataFrame) {
    def all: Seq[(String, DataFrame)] = Seq(
      "ods_date" -> date, "ods_customer" -> customer,
      "ods_supplier" -> supplier, "ods_product" -> product,
      "ods_store" -> store, "ods_return_reason" -> returnReason,
      "ods_sales" -> sales, "ods_returns" -> returns,
      "ods_inventory" -> inventory)
  }

  /** The ten synthetic return reasons (etl_ods_loader.py:623-634).
    * ods reason_code holds the generated REAS_ id (quirk preserved:
    * the raw code string never lands in the table). */
  val returnReasons: Seq[(String, String, String)] = Seq(
    ("DEFECTIVE", "Product is defective or damaged", "Quality Issue"),
    ("WRONG_ITEM", "Wrong item was received", "Order Error"),
    ("SIZE_FIT", "Size or fit issue", "Customer Preference"),
    ("PERFORMANCE", "Product did not perform as expected", "Quality Issue"),
    ("LATE_DELIVERY", "Delivery was too late", "Shipping Issue"),
    ("CHANGED_MIND", "Customer changed their mind", "Customer Preference"),
    ("BETTER_PRICE", "Found better price elsewhere", "Price Issue"),
    ("MISSING_PARTS", "Product missing parts", "Quality Issue"),
    ("NOT_AS_DESCRIBED", "Product not as described", "Product Description"),
    ("ACCIDENTAL_ORDER", "Order was placed accidentally", "Order Error"))

  private def audit(src: String, ctx: RunContext)(df: DataFrame): DataFrame = df
    .withColumn("source_system", lit(src))
    .withColumn("load_timestamp", to_timestamp(lit(ctx.tsStr)))

  /** Union-distinct of order+ship dates with calendar attributes
    * (A9 + F3/F4, etl_ods_loader.py:197-252). */
  def date(csv: DataFrame, ctx: RunContext): DataFrame = {
    val dates = csv.select(col("order_date").as("full_date"))
      .unionByName(csv.select(col("ship_date").as("full_date")))
      .where(col("full_date").isNotNull)
      .distinct()
    audit("CSV Import", ctx)(dates.select(
      dateId(col("full_date")).as("date_id"),
      col("full_date"),
      date_format(col("full_date"), "EEEE").as("day_of_week"),
      dayofmonth(col("full_date")).as("day_of_month"),
      month(col("full_date")).as("month"),
      date_format(col("full_date"), "MMMM").as("month_name"),
      quarter(col("full_date")).as("quarter"),
      year(col("full_date")).as("year"),
      lit(false).as("is_holiday")))
  }

  /** One row per customer name: most-common location (A1, pinned
    * tie-break: count desc then value asc — SURVEY §7.4) + first-seen
    * age/segment in csv row order (A2). etl_ods_loader.py:254-305. */
  def customer(csv: DataFrame, ctx: RunContext): DataFrame = {
    val key = Seq("customer_name")
    def mode(c: String) = Relational
      .modePerGroup(csv.select(col("customer_name"), col(c)), key, c, c)
      .select(col("customer_name"), col(c))
    val firstSeen = Relational
      .latestPerKey(csv, key, Seq(col("_row_idx").asc))
      .select(col("customer_name"), col("customer_age"), col("customer_segment"))
    val joined = firstSeen
      .join(mode("city"), key).join(mode("state"), key)
      .join(mode("zip_code"), key).join(mode("region"), key)
    audit("CSV Import", ctx)(joined.select(
      businessKey("CUST", col("customer_name")).as("customer_id"),
      col("customer_name"), col("customer_age"), col("customer_segment"),
      col("city"), col("state"), col("zip_code"), col("region")))
  }

  /** Synthesized suppliers: one "Main" per category + one "Specialized"
    * per sub-category, the latter attached to the category of the
    * sub-category's first-seen row (J10 first-match,
    * etl_ods_loader.py:307-397). `__slot` is the supplier's position in
    * its category's list — slot 0 = main, then sub-categories in csv
    * appearance order — which load-bearing: product→supplier assignment
    * indexes into that exact list order (etl_ods_loader.py:425-426). */
  def supplier(csv: DataFrame, ctx: RunContext): DataFrame = {
    val mains = csv.select(col("product_category")).distinct()
      .select(col("product_category"),
        concat(col("product_category"), lit(" Main Suppliers Inc.")).as("supplier_name"),
        concat(lit("Main Contact for "), col("product_category")).as("contact_person"),
        col("product_category").as("__name_base"),
        lit(" Main St").as("__street"),
        lit(0L).as("__first_idx"))
    val subFirst = Relational.latestPerKey(
      csv.select(col("product_sub_category"), col("product_category"), col("_row_idx")),
      Seq("product_sub_category"), Seq(col("_row_idx").asc))
    val subs = subFirst.select(col("product_category"),
      concat(col("product_sub_category"), lit(" Specialized Suppliers")).as("supplier_name"),
      concat(lit("Specialized Contact for "), col("product_sub_category")).as("contact_person"),
      col("product_sub_category").as("__name_base"),
      lit(" Specialty Ave").as("__street"),
      (col("_row_idx") + 1).as("__first_idx"))
    val slotW = Window.partitionBy(col("product_category")).orderBy(col("__first_idx").asc)
    val rows = mains.unionByName(subs)
      .withColumn("__slot", row_number().over(slotW) - 1)
    audit("Generated", ctx)(rows.select(
      businessKey("SUPP", col("supplier_name")).as("supplier_id"),
      col("supplier_name"),
      col("contact_person"),
      concat(lit("contact@"), replace(lower(col("__name_base")), lit(" "), lit("")),
        lit("suppliers.com")).as("email"),
      format_string("555-%04d", md5Mod(col("__name_base"), 10000)).as("phone"),
      concat(md5Mod(col("__name_base"), 1000).cast("string"), col("__street")).as("address"),
      lit("Supplier City").as("city"),
      lit("SC").as("state"),
      (lit(10000) + md5Mod(col("__name_base"), 90000)).cast("string").as("zip_code"),
      to_date(lit("2020-01-01")).as("contract_start_date"),
      col("product_category"),
      col("__slot")))
  }

  /** Distinct products on the 6 natural columns (A3), each assigned a
    * supplier by indexing its category's supplier list with the full
    * 128-bit md5 of the product name mod list size (F22 exact,
    * etl_ods_loader.py:398-449). */
  def product(csv: DataFrame, supplier: DataFrame, ctx: RunContext): DataFrame = {
    val products = csv.select(
        col("product_name"), col("product_category"), col("product_sub_category"),
        col("product_container"), col("product_base_margin"), col("unit_price"))
      .dropDuplicates(Seq("product_name", "product_category", "product_sub_category",
        "product_container", "product_base_margin", "unit_price"))
    val slotCounts = supplier.groupBy(col("product_category"))
      .agg(count(lit(1)).as("__n_suppliers"))
    val pick = products
      .join(broadcast(slotCounts), Seq("product_category"))
      .withColumn("__slot", md5ModBy(col("product_name"), col("__n_suppliers")))
    val resolved = pick.join(
      broadcast(supplier.select(col("product_category"), col("__slot"),
        col("supplier_id"))),
      Seq("product_category", "__slot"))
    audit("CSV Import", ctx)(resolved.select(
      businessKey("PROD", col("product_name")).as("product_id"),
      col("product_name"), col("product_category"), col("product_sub_category"),
      col("product_container"), col("product_base_margin"), col("unit_price"),
      col("supplier_id")))
  }

  /** Distinct stores per (city, state, zip, region); store_id hashes
    * the city-derived store name only (quirk preserved,
    * etl_ods_loader.py:451-480). */
  def store(csv: DataFrame, ctx: RunContext): DataFrame = {
    val stores = csv.select(col("city"), col("state"), col("zip_code"), col("region"))
      .dropDuplicates(Seq("city", "state", "zip_code", "region"))
    audit("CSV Import", ctx)(stores.select(
      businessKey("STORE", concat(col("city"), lit(" Store"))).as("store_id"),
      concat(col("city"), lit(" Store")).as("store_name"),
      lit(null).cast("string").as("location"),
      col("city"), col("state"), col("zip_code"), col("region")))
  }

  /** Static ten-row reason dimension (etl_ods_loader.py:617-658). */
  def returnReason(csv: DataFrame, ctx: RunContext): DataFrame = {
    val spark = csv.sparkSession
    import spark.implicits._
    val rows = returnReasons.toDF("__code", "reason_description", "category")
    audit("Generated", ctx)(rows.select(
      businessKey("REAS", col("__code")).as("reason_code"),
      col("reason_description"), col("category")))
  }

  /** One sales row per csv row with both dates present — the date
    * semi-joins of the reference (P4) are identities here because the
    * date dimension is built from these very columns, so the only
    * filter that can fire is the null-date drop; dimension ids resolve
    * arithmetically (no read-back maps). etl_ods_loader.py:526-615. */
  def sales(csv: DataFrame, ctx: RunContext): DataFrame = {
    val rows = csv
      .where(col("order_date").isNotNull && col("ship_date").isNotNull)
    audit("CSV Import", ctx)(rows.select(
      businessKey("SALE", concat_ws("_", col("order_id"), col("row_id"))).as("sale_id"),
      col("order_id").cast("string").as("order_id"),
      col("row_id"),
      col("order_date").as("transaction_date"),
      col("ship_date"),
      businessKey("CUST", col("customer_name")).as("customer_id"),
      businessKey("PROD", col("product_name")).as("product_id"),
      businessKey("STORE", concat(col("city"), lit(" Store"))).as("store_id"),
      col("order_priority"),
      col("order_quantity"),
      col("sales").as("sales_amount"),
      col("discount"),
      col("profit"),
      col("shipping_cost"),
      col("product_base_margin"),
      col("ship_mode"),
      col("city").as("transaction_city"),
      col("state").as("transaction_state"),
      col("zip_code").as("transaction_zip")))
  }

  /** Synthetic returns over the 5000 most recent sales (O1; ties at the
    * cutoff pinned by sale_id asc): ~10% sampled, first valid return
    * date in +1..+14 days that exists in the date dimension and is not
    * after runDate (P7). All random draws are salted md5Mod hashes of
    * the sale id (declared divergence from unseeded `random`).
    * etl_ods_loader.py:660-756. */
  def returns(sales: DataFrame, date: DataFrame, ctx: RunContext): DataFrame = {
    val base = sales
      .orderBy(col("transaction_date").desc, col("sale_id").asc)
      .limit(5000)
      .where(md5Mod(concat(col("sale_id"), lit("|keep")), 10) === 0)
      .select(col("sale_id"), col("transaction_date"), col("product_id"),
        col("store_id"), col("customer_id"), col("order_quantity"),
        col("sales_amount"))

    val dates = date.select(col("full_date"))
    val candidates = base
      .select(col("*"), explode(sequence(lit(1), lit(14))).as("__d"))
      .withColumn("__cand", date_add(col("transaction_date"), col("__d")))
      .where(col("__cand") <= to_date(lit(ctx.runDateStr)))
      .join(dates.withColumnRenamed("full_date", "__cand"), Seq("__cand"), "left_semi")
    val firstValid = Relational
      .latestPerKey(candidates, Seq("sale_id"), Seq(col("__d").asc))
      .withColumnRenamed("__cand", "return_date")

    val reasonIds = returnReasons.map { case (code, _, _) =>
      "REAS_" + graft.functions.Md5ModExpr.md5Hex(code).take(14)
    }
    val reasonArr = array(reasonIds.map(lit): _*)

    val salt = (s: String) => concat(col("sale_id"), lit(s))
    val withDraws = firstValid
      .withColumn("reason_code",
        element_at(reasonArr, (md5Mod(salt("|reason"), reasonIds.size) + 1).cast("int")))
      .withColumn("__full", md5Mod(salt("|full"), 10) < 7)
      .withColumn("quantity_returned",
        when(col("__full"), col("order_quantity"))
          .otherwise((pmod(md5Mod(salt("|qty"), 1000000),
            greatest(col("order_quantity"), lit(1))) + 1).cast("int")))
      .withColumn("return_amount",
        when(col("__full"), col("sales_amount"))
          .otherwise(col("sales_amount") * col("quantity_returned") / col("order_quantity")))
      .withColumn("return_condition",
        element_at(array(lit("New"), lit("Used"), lit("Damaged")),
          (md5Mod(salt("|cond"), 3) + 1).cast("int")))

    audit("Generated", ctx)(withDraws.select(
      businessKey("RET", concat_ws("_", col("sale_id"),
        date_format(col("return_date"), "yyyy-MM-dd"))).as("return_id"),
      col("return_date"), col("product_id"), col("store_id"), col("reason_code"),
      col("return_amount"), col("quantity_returned"),
      col("sale_id").as("original_sale_id"),
      col("transaction_date").as("original_sale_date"),
      col("return_condition")))
  }

  /** Synthetic inventory snapshots: 30 most recent dates × ≤100
    * products × ≤50 stores (fan-out caps preserved), levels derived
    * from exact 128-bit md5 mod (F22), bounds from salted md5 draws
    * (declared divergence from `random.randint`), last_restock = the
    * nearest earlier selected date (F25). etl_ods_loader.py:758-861.
    *
    * Sampling divergence declared: the reference random.samples product
    * and store id lists; we take the md5-hash-ordered first 100/50 —
    * deterministic and uniform-ish, same cardinalities. */
  def inventory(product: DataFrame, store: DataFrame, date: DataFrame,
      ctx: RunContext): DataFrame = {
    val prods = product.select(col("product_id")).distinct()
      .orderBy(md5(col("product_id")), col("product_id")).limit(100)
    val stores = store.select(col("store_id")).distinct()
      .orderBy(md5(col("store_id")), col("store_id")).limit(50)
    val dates = date.select(col("full_date")).orderBy(col("full_date").desc).limit(30)
      .withColumn("last_restock_date",
        coalesce(lead(col("full_date"), 1)
          .over(Window.orderBy(col("full_date").desc)), col("full_date")))

    val grid = broadcast(dates).crossJoin(prods).crossJoin(broadcast(stores))
    val ps = concat_ws("_", col("product_id"), col("store_id"))
    val psd = concat_ws("_", col("product_id"), col("store_id"),
      date_format(col("full_date"), "yyyy-MM-dd"))
    val rows = grid
      .withColumn("stock_level",
        greatest(lit(0),
          (md5Mod(ps, 100) + 10) + (md5Mod(psd, 20) - 10)).cast("int"))
      .withColumn("min_stock_level",
        greatest(lit(5), col("stock_level") - (md5Mod(concat(psd, lit("|min")), 16) + 5)).cast("int"))
      .withColumn("max_stock_level",
        (col("stock_level") + md5Mod(concat(psd, lit("|max")), 31) + 20).cast("int"))
      .withColumn("reorder_point", (md5Mod(concat(psd, lit("|reorder")), 21) + 5).cast("int"))

    audit("Generated", ctx)(rows.select(
      businessKey("INV", psd).as("inventory_id"),
      col("product_id"), col("store_id"),
      col("full_date").as("inventory_date"),
      col("stock_level"), col("min_stock_level"), col("max_stock_level"),
      col("reorder_point"), col("last_restock_date")))
  }

  /** Build all nine ODS tables from the csv frame. The csv is cached
    * and filled here, once: [[Warehouse.writeAll]] writes the nine
    * tables concurrently, and writers that met an unfilled cache would
    * each rescan the file to fill it. */
  def build(csv: DataFrame, ctx: RunContext): Tables = {
    val c = csv.cache()
    c.count()
    val dateDf = date(c, ctx)
    val supplierDf = supplier(c, ctx)
    val productDf = product(c, supplierDf, ctx)
    val storeDf = store(c, ctx)
    val salesDf = sales(c, ctx)
    Tables(
      date = dateDf,
      customer = customer(c, ctx),
      supplier = supplierDf.drop("product_category", "__slot"),
      product = productDf,
      store = storeDf,
      returnReason = returnReason(c, ctx),
      sales = salesDf,
      returns = returns(salesDf, dateDf, ctx),
      inventory = inventory(productDf, storeDf, dateDf, ctx))
  }
}

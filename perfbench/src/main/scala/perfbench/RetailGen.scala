package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.time.format.DateTimeFormatter

/** Seeded generator of the retail CSV that `etl.Pipeline.run` loads:
  * the 25-column schema of FIXTURES.md §1, columns in
  * `etl.CsvSource.schema` order (Spark binds a CSV with an explicit
  * schema by position and ignores the header).
  *
  * It keeps the reference file's quirks: an empty field means null
  * (customer age, product base margin), product names are quoted and
  * may contain `"` and `™`, dates are `M/d/yyyy`, and zip codes are
  * strings with leading zeros.
  *
  * Batch 0 is the base file. Batch d > 0 is the same rows after the
  * attribute changes of days 1..d: each day moves a seeded share of
  * stores (identified by city) to a new State, Region and Zip Code,
  * and gives a seeded share of products a new Unit Price, on every row
  * of that store or product, as the reference's SCD scenario files do
  * (FIXTURES.md §2). So each day's changed keys expire their current
  * SCD2 version and gain version + 1.
  *
  * `seed` draws the base rows and `changeSeed` the daily changes.
  * Output is a pure function of (seed, days, changeSeed, batch): the
  * same inputs give a byte-identical file.
  */
final class RetailGen(seed: Long, days: Int = RetailGen.ReferenceDays,
    changeSeed: Long = 0L) {
  import RetailGen._

  private final case class Product(name: String, category: String, subCategory: String,
      container: String, baseMargin: Option[Double], unitPrice: Double)
  private final case class Store(city: String, state: String, zip: String)
  private final case class Customer(name: String, segment: String)
  private final case class Row(rowId: Long, orderId: Long, customer: Int, product: Int,
      store: Int, orderDay: Int, shipLag: Int, age: String, discount: Double,
      priority: String, quantity: Int, shipMode: String, shippingCost: Double, noise: Double)

  private def rng(salt: Long, s: Long = seed) = new java.util.SplittableRandom(s * 1000003L + salt)

  private val products: Vector[Product] = {
    val r = rng(1)
    Vector.tabulate(Products) { i =>
      val (cat, subs) = Categories(r.nextInt(Categories.length))
      val sub = subs(r.nextInt(subs.length))
      val size = if (r.nextInt(4) == 0) s" ${r.nextInt(4, 49)}\"" else ""
      val tm = if (r.nextInt(5) == 0) "™" else ""
      val name = s"${Brands(r.nextInt(Brands.length))}$tm $sub$size ${Models(i % Models.length)}-${1000 + i}"
      val margin = if (r.nextInt(40) == 0) None else Some(cents(0.35 + r.nextDouble() * 0.5))
      Product(name, cat, sub, Containers(r.nextInt(Containers.length)), margin,
        cents(1.0 + math.pow(r.nextDouble(), 3) * 499.0))
    }
  }

  private val stores: Vector[Store] = {
    val r = rng(2)
    Vector.tabulate(Stores) { i =>
      val city = CityPre(i % CityPre.length) + CitySuf((i / CityPre.length) % CitySuf.length) +
        (if (i >= CityPre.length * CitySuf.length) s" ${i / (CityPre.length * CitySuf.length)}" else "")
      Store(city, States(r.nextInt(States.length))._1, zip(r))
    }
  }

  private val customers: Vector[Customer] = {
    val r = rng(3)
    Vector.tabulate(Customers) { i =>
      val name = First(i % First.length) + " " + Last((i / First.length) % Last.length) +
        (if (i >= First.length * Last.length) s" ${i / (First.length * Last.length)}" else "")
      Customer(name, Segments(r.nextInt(Segments.length)))
    }
  }

  private val rows: Vector[Row] = {
    val r = rng(4)
    // the first rows visit every customer, product and store once, so
    // each customer, product and store is present in the file
    def pick(i: Int, n: Int) = if (i < n) i else r.nextInt(n)
    Vector.tabulate(Rows) { i =>
      val age = r.nextInt(10) match {
        case k if k < 6 => ""
        case 6 => s"${r.nextInt(18, 80)}.0"
        case _ => s"${r.nextInt(18, 80)}"
      }
      Row(rowId = i + 1L, orderId = r.nextLong(1, 60000), customer = pick(i, customers.length),
        product = pick(i, products.length), store = pick(i, stores.length),
        orderDay = r.nextInt(days), shipLag = r.nextInt(8), age = age,
        discount = cents(r.nextInt(11) / 100.0),
        priority = Priorities(r.nextInt(Priorities.length)), quantity = r.nextInt(1, 51),
        shipMode = ShipModes(r.nextInt(ShipModes.length)),
        shippingCost = cents(0.5 + r.nextDouble() * 49.5), noise = r.nextDouble())
    }
  }

  /** Attribute changes of day `d` (d >= 1) applied to the state after
    * days 1..d-1: store index → new (state, zip), product index → new
    * unit price. Every change differs from the value it replaces. */
  private def dayChanges(d: Int, st: Vector[Store], pr: Vector[Product])
      : (Map[Int, Store], Map[Int, Product]) = {
    val r = rng(100L + d, changeSeed)
    def sample(n: Int, share: Double): Seq[Int] = {
      val k = math.max(1, math.round(n * share).toInt)
      val idx = Array.tabulate(n)(identity)
      for (i <- 0 until k) { val j = i + r.nextInt(n - i); val t = idx(i); idx(i) = idx(j); idx(j) = t }
      idx.take(k).sorted.toSeq
    }
    val storeCh = sample(st.length, StoreChangeShare).map { i =>
      val old = st(i)
      val others = States.map(_._1).filterNot(_ == old.state)
      i -> Store(old.city, others(r.nextInt(others.length)), zip(r))
    }.toMap
    val productCh = sample(pr.length, ProductChangeShare).map { i =>
      val old = pr(i)
      var p = old.unitPrice
      while (p == old.unitPrice) p = cents(old.unitPrice * (0.5 + r.nextDouble()))
      i -> old.copy(unitPrice = p)
    }.toMap
    (storeCh, productCh)
  }

  private def stateAt(batch: Int): (Vector[Store], Vector[Product]) =
    (1 to batch).foldLeft((stores, products)) { case ((st, pr), d) =>
      val (sc, pc) = dayChanges(d, st, pr)
      (sc.foldLeft(st) { case (v, (i, s)) => v.updated(i, s) },
        pc.foldLeft(pr) { case (v, (i, p)) => v.updated(i, p) })
    }

  /** Store cities and product names whose attributes change on day `d`. */
  def changedOn(d: Int): (Set[String], Set[String]) = {
    require(d >= 1, s"day $d: changes start at day 1")
    val (st, pr) = stateAt(d - 1)
    val (sc, pc) = dayChanges(d, st, pr)
    (sc.keySet.map(stores(_).city), pc.keySet.map(products(_).name))
  }

  /** Distinct entities in every batch's file. */
  def customerCount: Int = customers.length
  def productCount: Int = products.length
  def storeCount: Int = stores.length
  def rowCount: Int = rows.length
  def dateCount: Int =
    rows.flatMap(r => Seq(r.orderDay, r.orderDay + r.shipLag)).distinct.length

  /** The CSV text of batch `batch` (0 = base file). */
  def csv(batch: Int): String = {
    val (st, pr) = stateAt(batch)
    val sb = new StringBuilder(Rows * 260)
    sb.append(Header.mkString(",")).append('\n')
    for (row <- rows) {
      val c = customers(row.customer); val p = pr(row.product); val s = st(row.store)
      val region = StateRegion(s.state)
      val sales = cents(p.unitPrice * row.quantity * (1 - row.discount) * (0.97 + 0.06 * row.noise))
      val profit = cents(sales * (p.baseMargin.getOrElse(0.5) - 0.45))
      val fields = Seq(
        csvField(s.city), row.age, csvField(c.name), c.segment, num(row.discount), "1",
        date(row.orderDay), row.orderId.toString, row.priority, row.quantity.toString,
        p.baseMargin.fold("")(num), p.category, p.container, quoted(p.name),
        csvField(p.subCategory),
        num(profit), region, row.rowId.toString, num(sales), date(row.orderDay + row.shipLag),
        row.shipMode, num(row.shippingCost), s.state, num(p.unitPrice), s.zip)
      fields.addString(sb, ",").append('\n')
    }
    sb.toString
  }

  def write(batch: Int, path: Path): Path = {
    Files.createDirectories(path.getParent)
    Files.write(path, csv(batch).getBytes(StandardCharsets.UTF_8))
  }

  private def date(day: Int): String = Start.plusDays(day.toLong).format(Mdy)
}

object RetailGen {

  /** The reference file's shape (FIXTURES.md §1): 8,399 rows, 795
    * customers, 1,263 products, ~1,460 distinct dates. */
  private val Rows = 8400
  private val Customers = 795
  private val Products = 1263
  private val Stores = 400
  val ReferenceDays = 1453

  /** Shares of stores and products each daily batch changes. */
  private val StoreChangeShare = 0.03
  private val ProductChangeShare = 0.02

  val Header: Seq[String] = Seq("City", "Customer Age", "Customer Name", "Customer Segment",
    "Discount", "Number of Records", "Order Date", "Order ID", "Order Priority",
    "Order Quantity", "Product Base Margin", "Product Category", "Product Container",
    "Product Name", "Product Sub-Category", "Profit", "Region", "Row ID", "Sales",
    "Ship Date", "Ship Mode", "Shipping Cost", "State", "Unit Price", "Zip Code")

  private val Start = LocalDate.of(2009, 1, 1)
  private val Mdy = DateTimeFormatter.ofPattern("M/d/yyyy")

  private val Categories: Vector[(String, Vector[String])] = Vector(
    "Furniture" -> Vector("Bookcases", "Chairs & Chairmats", "Office Furnishings", "Tables"),
    "Office Supplies" -> Vector("Appliances", "Binders and Binder Accessories", "Envelopes",
      "Labels", "Paper", "Pens & Art Supplies", "Rubber Bands", "Scissors, Rulers and Trimmers",
      "Storage & Organization"),
    "Technology" -> Vector("Computer Peripherals", "Copiers and Fax", "Office Machines",
      "Telephones and Communication"))
  private val Containers = Vector("Small Box", "Medium Box", "Large Box", "Small Pack",
    "Wrap Bag", "Jumbo Box", "Jumbo Drum")
  private val Brands = Vector("Safco", "Fellowes", "Avery", "Hon", "Global", "Eldon", "Acme",
    "Tenex", "Bretford", "Xerox", "Epson", "Cisco", "Polycom", "Logitech", "Smead", "Sanford")
  private val Models = Vector("Pro", "Classic", "Deluxe", "Compact", "Heavy-Duty", "Slim")
  private val Segments = Vector("Consumer", "Corporate", "Home Office", "Small Business")
  private val Priorities = Vector("Critical", "High", "Medium", "Low", "Not Specified")
  private val ShipModes = Vector("Regular Air", "Express Air", "Delivery Truck")
  private val First = Vector("Aaron", "Beth", "Carl", "Dana", "Eric", "Fay", "Glen", "Hana",
    "Ivan", "Jill", "Kurt", "Lena", "Mark", "Nina", "Omar", "Pia", "Quinn", "Rosa", "Sean",
    "Tara", "Umar", "Vera", "Wade", "Xena", "Yuri", "Zoe", "Abel", "Bree", "Cole", "Dora",
    "Enzo", "Faye", "Gus", "Hope", "Ike", "June", "Kai", "Lia", "Moe", "Noor")
  private val Last = Vector("Adams", "Brooks", "Chen", "Diaz", "Evans", "Fox", "Gray", "Hill",
    "Ito", "Jones", "Khan", "Lopez", "Moore", "Nash", "O'Neil", "Park", "Quade", "Reyes",
    "Shaw", "Tran", "Ueda", "Vance", "Wong", "Xu", "Young", "Zhang", "Ames", "Bell", "Cruz",
    "Dunn", "Ellis", "Ford", "Gill", "Hart", "Irwin", "Jain", "Kent", "Lam", "Marsh", "Nolan")
  private val CityPre = Vector("Spring", "Green", "Fair", "River", "Oak", "Maple", "Cedar",
    "Lake", "Hill", "Brook", "Elm", "Pine", "Rock", "Sand", "Stone", "Clear", "West", "East",
    "North", "South")
  private val CitySuf = Vector("field", "ville", "town", "dale", "port", "wood", "view",
    "haven", "ford", "burg", "ton", "mont", "side", "land", "crest", "bury", "wick", "ridge",
    "shire", " Falls")
  private val States: Vector[(String, String)] = Vector(
    "Illinois" -> "Central", "Ohio" -> "Central", "Michigan" -> "Central",
    "Texas" -> "Central", "Minnesota" -> "Central", "Iowa" -> "Central",
    "New York" -> "East", "Pennsylvania" -> "East", "Massachusetts" -> "East",
    "New Jersey" -> "East", "Connecticut" -> "East", "Maine" -> "East",
    "Florida" -> "South", "Georgia" -> "South", "Alabama" -> "South",
    "Tennessee" -> "South", "Virginia" -> "South", "Louisiana" -> "South",
    "California" -> "West", "Washington" -> "West", "Oregon" -> "West",
    "Colorado" -> "West", "Arizona" -> "West", "Utah" -> "West")
  private val StateRegion: Map[String, String] = States.toMap

  /** A 5-digit zip; a quarter start with 0, so only a string keeps them. */
  private def zip(r: java.util.SplittableRandom): String =
    f"${if (r.nextInt(4) == 0) r.nextInt(1000, 10000) else r.nextInt(10000, 100000)}%05d"

  private def cents(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(2, java.math.RoundingMode.HALF_UP).doubleValue

  private def num(x: Double): String =
    java.math.BigDecimal.valueOf(x).setScale(2, java.math.RoundingMode.HALF_UP).toPlainString

  /** RFC 4180 quoting, inner quotes doubled. */
  private def quoted(s: String): String = "\"" + s.replace("\"", "\"\"") + "\""

  private def csvField(s: String): String =
    if (s.exists(ch => ch == ',' || ch == '"' || ch == '\n')) quoted(s) else s
}

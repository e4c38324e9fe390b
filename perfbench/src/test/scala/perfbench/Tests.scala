package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Path, Paths}

/** Tests of the benchmark's own code. Run with `python3 perfbench/test.py`;
  * arguments: state directory, data directory, goldens file. */
object Tests {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def check[T](got: T, want: T): Unit =
    if (got != want) throw new AssertionError(s"got $got, expected $want")

  private def close(got: Double, want: Double): Unit =
    if (math.abs(got - want) > 1e-12) throw new AssertionError(s"got $got, expected $want")

  /** Fields of one RFC 4180 line (no embedded newlines). */
  private def fields(line: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var quoted = false
    var i = 0
    while (i < line.length) {
      val ch = line(i)
      if (quoted && ch == '"' && i + 1 < line.length && line(i + 1) == '"') { cur += '"'; i += 1 }
      else if (ch == '"') quoted = !quoted
      else if (ch == ',' && !quoted) { out += cur.toString; cur.clear() }
      else cur += ch
      i += 1
    }
    (out += cur.toString).result()
  }

  def main(args: Array[String]): Unit = {
    val Array(state, data, goldens) = args.map(Paths.get(_))

    test("median of odd and even samples") {
      close(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0)
      close(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)
    }

    test("tail: highest percentile with 10 samples beyond it") {
      val xs = (1 to 43).map(_.toDouble)
      // p76 is the 33rd smallest (ceil(0.76 * 43)), 10 beyond; p77 is the 34th
      check(Stats.tail(xs), Some((76, 33.0)))
      check(Stats.tail((1 to 21).map(_.toDouble)), Some((52, 11.0)))
      check(Stats.tail((1 to 110).map(_.toDouble)), Some((90, 99.0)))
      check(Stats.tail((1 to 20).map(_.toDouble)), None)
      check(Stats.tail(Seq(1.0)), None)
    }

    test("interval union and driver gap") {
      check(Stats.unionLength(Seq.empty), 0L)
      check(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))), 25L)
      check(Stats.unionLength(Seq((20L, 30L), (0L, 100L), (40L, 50L))), 100L)
      check(Stats.unionLength(Seq((0L, 10L), (10L, 20L))), 20L)
      check(Stats.unionLength(Seq((5L, 5L), (7L, 3L))), 0L)
      // jobs clipped to the operation's window [10, 60)
      check(Stats.gap(10L, 60L, Seq((0L, 20L), (30L, 40L), (35L, 45L), (55L, 90L))), 20L)
      check(Stats.gap(0L, 50L, Seq.empty), 50L)
    }

    test("failed ratio") {
      close(Stats.failedRatio(10, 0), 0.0)
      close(Stats.failedRatio(12, 3), 0.25)
      for ((a, f) <- Seq((0, 0), (5, 6), (5, -1)))
        if (scala.util.Try(Stats.failedRatio(a, f)).isSuccess)
          throw new AssertionError(s"accepted failed=$f of attempted=$a")
    }

    test("generator: same seeds give byte-identical files") {
      def bytes(seed: Long, change: Long, batch: Int) =
        new RetailGen(seed, RetailGen.ReferenceDays, change).csv(batch).getBytes(StandardCharsets.UTF_8).toSeq
      check(bytes(7, 3, 0), bytes(7, 3, 0))
      check(bytes(7, 3, 2), bytes(7, 3, 2))
      check(bytes(7, 3, 0), bytes(7, 4, 0))
      if (bytes(7, 3, 1) == bytes(7, 4, 1)) throw new AssertionError("change seed ignored")
      if (bytes(7, 3, 0) == bytes(8, 3, 0)) throw new AssertionError("seed ignored")
    }

    test("generator: reference shape, schema order and quirks") {
      val g = new RetailGen(7)
      val lines = g.csv(0).split("\n").toSeq
      check(fields(lines.head), graft.etl.CsvSource.schema.fieldNames.toSeq)
      val rows = lines.tail.map(fields)
      check(rows.length, 8400)
      check(rows.count(_.length != 25), 0)
      val h = RetailGen.Header
      def col(name: String) = rows.map(_(h.indexOf(name)))
      check(col("Customer Name").distinct.length, 795)
      check(col("Product Name").distinct.length, 1263)
      if (g.dateCount < 1440 || g.dateCount > 1470) throw new AssertionError(s"${g.dateCount} dates")
      check((col("Order Date") ++ col("Ship Date")).distinct.length, g.dateCount)
      if (!col("Order Date").forall(_.matches("""\d{1,2}/\d{1,2}/\d{4}""")))
        throw new AssertionError("date not M/d/yyyy")
      if (!col("Product Name").exists(_.contains("\"")) || !col("Product Name").exists(_.contains("™")))
        throw new AssertionError("no product name with \" and ™")
      if (!lines.exists(_.contains("\"\""))) throw new AssertionError("no doubled quote")
      if (!col("Zip Code").exists(z => z.length == 5 && z.startsWith("0")))
        throw new AssertionError("no zip with a leading zero")
      if (!col("Customer Age").contains("") || !col("Product Base Margin").contains(""))
        throw new AssertionError("no empty (null) fields")
      // the EtlChecks.odsVolumes floors
      if (rows.length < 5000 || g.productCount < 1000 || g.storeCount < 100)
        throw new AssertionError("below the volume floors")
    }

    test("generator: day d changes only its seeded stores and products") {
      val g = new RetailGen(7, RetailGen.ReferenceDays, 11)
      val h = RetailGen.Header
      def table(batch: Int) = g.csv(batch).split("\n").toSeq.tail.map(fields)
      val (b0, b1) = (table(0), table(1))
      val (cities, products) = g.changedOn(1)
      check(cities.size, 12)
      check(products.size, 25)
      val city = h.indexOf("City"); val name = h.indexOf("Product Name")
      val storeCols = Seq("State", "Region", "Zip Code").map(h.indexOf)
      val price = h.indexOf("Unit Price")
      for ((r0, r1) <- b0.zip(b1)) {
        check(storeCols.map(r1), if (cities(r0(city))) storeCols.map(r1) else storeCols.map(r0))
        if (cities(r0(city))) check(r1(h.indexOf("State")) != r0(h.indexOf("State")), true)
        check(r1(price) != r0(price), products(r0(name)))
        val other = (0 until 25).filterNot((storeCols :+ price :+ h.indexOf("Sales") :+
          h.indexOf("Profit")).contains)
        check(other.map(r1), other.map(r0))
      }
    }

    test("checksums equal at local[1] and local[4] and match the goldens") {
      val want = Goldens.read(goldens)
      val names = Seq("q01_pricing_summary", "q28_minhash_lsh", "q91_stream_quality_windows",
        "q152_mann_whitney")
      for (threads <- Seq(1, 4)) {
        val spark = Session.build(state, threads)
        try for (n <- names)
          check(n -> Checksum.of(graft.SparkEntry.queries(n)(spark, data.toString)), n -> want(n))
        finally spark.stop()
      }
    }

    if (failures > 0) { println(s"$failures failed"); sys.exit(1) }
    println("all passed")
    sys.exit(0)
  }
}

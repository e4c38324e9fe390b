package graft.tools

/** Dev-only: print the driver testdata schemas (runMain graft.tools.SchemaDump). */
object SchemaDump {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.Sessions.fromEnv()
    Seq("documents", "embeddings", "events", "orders", "lineitem").foreach { t =>
      val df = graft.Tables(spark, dir, t)
      println(s"== $t rows=${df.count()}")
      df.printSchema()
      df.show(3, 60, vertical = true)
    }
    spark.stop()
  }
}

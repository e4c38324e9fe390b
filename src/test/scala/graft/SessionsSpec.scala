package graft

import java.nio.file.{Files, Paths}

/** Every session runs [[Sessions]]' settings: the test base's, and the
  * benchmark's hand-written copy until perfbench builds its session
  * through [[Sessions]] (it reads that file, it does not compile it). */
class SessionsSpec extends SparkSpec {

  test("the test base's session holds every Sessions setting") {
    Sessions.settings.foreach { case (k, v) =>
      assert(spark.conf.get(k) === v, s"$k")
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
  }

  test("perfbench's session copies every Sessions setting") {
    val src = new String(Files.readAllBytes(
      Paths.get("perfbench/src/main/scala/perfbench/Main.scala")), "UTF-8")
    Sessions.settings.foreach { case (k, v) =>
      assert(src.contains(s""".config("$k", "$v")"""),
        s"""perfbench/src/main/scala/perfbench/Main.scala lacks .config("$k", "$v")""")
    }
    assert(src.contains(""".config("spark.sql.shuffle.partitions","""))
  }
}

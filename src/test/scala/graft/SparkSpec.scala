package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites, built by [[Sessions.build]]
  * like every main's, at a fixed 4 cores: the test command exports
  * `SPARK_GRAFT_CPUS=$(nproc)`, so the env reader would make test
  * widths follow the machine. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = Sessions.build(4, "local[4]")
}

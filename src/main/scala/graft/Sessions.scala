package graft

import org.apache.spark.sql.SparkSession

/** The one place graft's session policy lives: every entry point and
  * the test base build their session here, so the plans the tests
  * check are the plans the mains run. */
object Sessions {

  /** Fixed settings of every graft session. The last lets AQE size
    * CACHED plans' output partitioning (off upstream):
    * persisted frames otherwise keep the raw pre-AQE exchange width, so
    * every loop round and downstream consumer pays a task per
    * near-empty cached block. AQE targets advisory bytes, so
    * corpus-scale caches keep their full width. */
  val settings: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")

  /** A session on `master` with `cores` shuffle partitions, log level WARN. */
  def build(cores: Int, master: String): SparkSession = {
    val spark = SparkSession.builder().master(master).config(settings)
      .config("spark.sql.shuffle.partitions", cores.toLong).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** [[build]] from the deployment settings: `SPARK_GRAFT_CPUS` (default
    * 4) and `SPARK_GRAFT_MASTER` (default `local[<cpus>]`; a
    * `local-cluster[n,c,mem]` runs real executor JVMs, whose classpath
    * and flags ride in as ordinary `-Dspark.executor.*` properties). */
  def fromEnv(): SparkSession = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    build(cores, sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]"))
  }
}

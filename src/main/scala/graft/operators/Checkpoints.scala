package graft.operators

import org.apache.spark.sql.DataFrame

/** Lineage-truncation policy for this library, split by lifetime:
  *
  *  - OPERATOR RESULTS ([[materialize]]): always `localCheckpoint` —
  *    eager, executor-resident, cleaner-managed once the frame drops.
  *    Results are consumed promptly; on executor loss the caller
  *    re-runs one operator. Using reliable checkpoints here would
  *    write an undeletable directory per call (the caller owns the
  *    frame, so nothing could ever safely remove it).
  *  - LOOP STATE ([[stableTracked]] + [[drop]]): per-round frames of
  *    iterative jobs (connected components, k-means). With a
  *    checkpoint directory configured (session-scoped
  *    `spark.graft.checkpoint.dir`, else the context-global
  *    `sc.setCheckpointDir`), rounds
  *    write a uniquely-named parquet dir and DELETE the superseded
  *    round's — executor loss mid-loop costs one round, not the whole
  *    40-round job, and nothing accumulates. Without a dir, falls back
  *    to localCheckpoint.
  *  - MID-OPERATOR CORPUS-SCALE PASSES ([[stableDeferred]]): a frame
  *    that (a) is corpus-scale, so losing an executor's partitions
  *    mid-job should not kill a cluster-scale run (ruling out bare
  *    localCheckpoint), and (b) escapes inside the returned result's
  *    plan, so the operator can never delete it itself (ruling out
  *    [[drop]]). The written directory is registered for deletion at
  *    JVM shutdown — storage is bounded by the session's lifetime
  *    instead of growing forever (PrefixSum's window pass is the
  *    canonical caller).
  *
  * The parquet round-trip (not `Dataset.checkpoint`) is what makes
  * deletion possible: it yields a KNOWN path, where
  * `Dataset.checkpoint` files are only removed by the context cleaner
  * under `spark.cleaner.referenceTracking.cleanCheckpoints`.
  */
object Checkpoints {

  /** Reliable-checkpoint dirs awaiting the shutdown hook: (path, the
    * Hadoop conf captured at write time — the SparkSession may already
    * be stopped when the hook runs, but FileSystem.delete needs only
    * the conf). */
  private val deferred = java.util.concurrent.ConcurrentHashMap
    .newKeySet[(String, org.apache.hadoop.conf.Configuration)]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      deferred.forEach { e =>
        deferred.remove(e)
        try {
          val hp = new org.apache.hadoop.fs.Path(e._1)
          hp.getFileSystem(e._2).delete(hp, true)
          ()
        } catch { case _: java.io.IOException => () } // best-effort
      }
    }, "graft-checkpoint-cleanup"))
  }

  /** Count of directories currently registered for shutdown-time
    * deletion — observability for tests and operators. */
  def deferredCount: Int = deferred.size

  /** Eagerly materialize an operator result and release its
    * intermediate caches — released even when materialization fails,
    * so an error path never pins executor storage. */
  def materialize(result: DataFrame, intermediates: DataFrame*): DataFrame =
    try result.localCheckpoint()
    finally intermediates.foreach(_.unpersist(blocking = false))

  /** Loop-state checkpoint: (frame, reliable-checkpoint path). The
    * path is None on the localCheckpoint fallback; pass it to [[drop]]
    * once a later round supersedes the frame. */
  def stableTracked(df: DataFrame): (DataFrame, Option[String]) = {
    val sess = df.sparkSession
    // session-scoped dir conf first (lets concurrent sessions of one
    // context use distinct checkpoint roots without mutating the
    // context-global sc.setCheckpointDir), context dir as fallback
    val base = Option(sess.conf.get("spark.graft.checkpoint.dir", null))
      .orElse(sess.sparkContext.getCheckpointDir)
    base match {
      case Some(dir) =>
        val path = s"$dir/graft-${java.util.UUID.randomUUID()}"
        df.write.parquet(path)
        // explicit schema: the round-trip must not re-infer nullability
        (sess.read.schema(df.schema).parquet(path), Some(path))
      case None => (df.localCheckpoint(), None)
    }
  }

  /** [[stableTracked]] without the handle — for loop state whose
    * lifetime ends with the loop (the caller drops nothing). Prefer
    * stableTracked inside loops. */
  def stable(df: DataFrame): DataFrame = stableTracked(df)._1

  /** [[stableTracked]] for a frame that escapes inside the caller's
    * returned plan: the written directory (reliable-checkpoint mode
    * only) is registered for deletion at JVM shutdown, so repeated
    * calls on a checkpoint-dir-configured cluster accumulate storage
    * bounded by the session, not forever. The frame must not be read
    * after the JVM exits — true by construction for operator results,
    * which are consumed (or re-materialized by the caller) within the
    * session that computed them. */
  def stableDeferred(df: DataFrame): DataFrame = {
    val (out, path) = stableTracked(df)
    path.foreach { p =>
      deferred.add((p,
        df.sparkSession.sparkContext.hadoopConfiguration))
    }
    out
  }

  /** Best-effort deletion of a superseded [[stableTracked]] directory.
    * Safe to call with None (the localCheckpoint path — its blocks are
    * cleaner-managed already). */
  def drop(df: DataFrame, path: Option[String]): Unit = path.foreach { p =>
    try {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
        .delete(hp, true)
      ()
    } catch { case _: java.io.IOException => () } // best-effort
  }
}

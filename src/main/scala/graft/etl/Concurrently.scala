package graft.etl

/** Runs a layer's independent table jobs side by side. Each DataFrame
  * action is its own Spark job and the one shared scheduler runs jobs
  * submitted from several driver threads at once, so a layer whose
  * tables do not depend on each other keeps the executors busy instead
  * of waiting out each small job's driver-side planning in turn.
  *
  * The threads are created on each call, one per task: a new thread
  * inherits the caller's Spark local properties (job group,
  * description, scheduler pool) and active session, which a long-lived
  * pool's threads would not. Every task runs to the end even when
  * another fails, so no job is still writing when the caller sees the
  * error; the first failure is rethrown with the others suppressed on it.
  */
private[etl] object Concurrently {

  def run[A](tasks: Seq[() => A]): Seq[A] = {
    val results = Array.fill[Either[Throwable, A]](tasks.size)(null)
    val threads = tasks.zipWithIndex.map { case (task, i) =>
      val t = new Thread(() => results(i) =
        try Right(task()) catch { case e: Throwable => Left(e) },
        s"graft-etl-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    val failures = results.collect { case Left(e) => e }
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
    results.toSeq.collect { case Right(a) => a }
  }
}

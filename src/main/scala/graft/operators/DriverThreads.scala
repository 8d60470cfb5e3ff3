package graft.operators

/** Concurrent driver actions: independent Spark actions of one request
  * (the two retrievals of a hybrid search, the appends to two disjoint
  * stores) overlap instead of paying the job-dispatch floor one after
  * the other. */
object DriverThreads {

  /** Runs `tasks` concurrently — the first on the calling thread, each
    * other on a fresh driver thread — and returns their results in
    * task order. Fresh threads, not a shared pool: a thread inherits
    * the caller's Spark local properties (job group, scheduler pool,
    * request id) when it is created, so every job it fires is
    * attributed to, and cancellable with, the caller's request. Waits
    * for every task, then rethrows the first failure in task order
    * with the later ones attached through `addSuppressed`. */
  def all[A](tasks: (() => A)*): Seq[A] = {
    require(tasks.nonEmpty, "no tasks")
    def attempt(t: () => A): Either[Throwable, A] =
      try Right(t()) catch { case e: Throwable => Left(e) }
    val out = new Array[Either[Throwable, A]](tasks.length)
    val forked = tasks.indices.drop(1).map { i =>
      val t = new Thread(() => out(i) = attempt(tasks(i)),
        s"graft-driver-action-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    out(0) = attempt(tasks.head)
    forked.foreach(_.join())
    out.collect { case Left(e) => e }.toList match {
      case first :: rest =>
        rest.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      case Nil => out.toSeq.collect { case Right(a) => a }
    }
  }
}

package graft.util

/** Overlap INDEPENDENT Spark actions from driver threads — the
  * guide-§2.6 move: two small jobs each leave most of the cluster idle
  * in their task tails; submitted together, the second job's tasks
  * back-fill executors the first one frees. Used where a maintenance
  * op rewrites two tables of one store (bands + shingles, grams +
  * sketch): the writes read disjoint inputs and write disjoint
  * outputs, so ordering between them is immaterial — only their
  * JOINT completion is the op's commit point (the epoch publish /
  * rename happens strictly after both return).
  *
  * Exceptions from either side rethrow to the caller (the first one
  * wins; the other side is still awaited so no write is left
  * in-flight past the call).
  */
object Par {

  /** Most thunks [[all]] runs at once. A wider fan-out (six
    * `-multiple` branches) queues the rest in order instead of
    * submitting every job together.
    */
  private val MaxInFlight = 4

  /** [[both]] for N independent thunks: up to [[MaxInFlight]] run at a
    * time, in order of `thunks`; all are awaited, and the first failure
    * in that order rethrows after every thunk settles, so no write is
    * still running when the call returns or throws. For SMALL N (a
    * handful of independent maintenance, fixture or branch jobs): each
    * call starts its own threads.
    */
  def all[A](thunks: Seq[() => A]): Seq[A] = {
    val tasks = thunks.toIndexedSeq
      .map(t => new java.util.concurrent.FutureTask[A](() => t()))
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = Seq.fill(math.min(MaxInFlight, tasks.size)) {
      val th = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < tasks.size) { tasks(i).run(); i = next.getAndIncrement() }
      }, "graft-par-all")
      th.setDaemon(true); th.start(); th
    }
    threads.foreach(_.join())
    tasks.map { ft =>
      try ft.get()
      catch {
        case e: java.util.concurrent.ExecutionException =>
          throw Option(e.getCause).getOrElse(e)
      }
    }
  }

  def both[A, B](a: => A, b: => B): (A, B) = {
    val fb = new java.util.concurrent.FutureTask[B](() => b)
    val th = new Thread(fb, "graft-par-both")
    th.setDaemon(true)
    th.start()
    val ra =
      try a
      catch {
        case e: Throwable =>
          // await the other side before rethrowing — never leave its
          // write racing a caller's cleanup/retry
          try fb.get()
          catch { case _: Throwable => () }
          throw e
      }
    val rb =
      try fb.get()
      catch {
        case e: java.util.concurrent.ExecutionException =>
          throw Option(e.getCause).getOrElse(e)
      }
    (ra, rb)
  }
}

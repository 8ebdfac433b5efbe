package graft

import java.util.concurrent.{Callable, ConcurrentLinkedQueue, Executors, TimeUnit}

/** Independent driver-side branches run side by side, one thread each, so
  * their Spark jobs share the cores instead of queueing behind each other.
  *
  * The pool is made for each call and sized to the branch count. Its threads
  * start from the calling thread, so they inherit its Spark local properties
  * (job group, description, scheduler pool) and its active session, also
  * inside a streaming `foreachBatch`; a job group cancel reaches every branch.
  *
  * Every branch has ended when the call returns or throws, so the caller may
  * release what the branches read (an unpersist, a directory) right after.
  * Results come back in branch order. If any branch failed, the first failure
  * in time is rethrown as thrown, with later ones added to it as suppressed.
  * An interrupt of the waiting caller is passed on to the branches, which are
  * then awaited before the interrupt is rethrown.
  */
object Branches {

  def awaitAll[A](branches: Seq[() => A]): Seq[A] = {
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val pool = Executors.newFixedThreadPool(math.max(1, branches.size))
    val futures = try {
      branches.map { b =>
        pool.submit(new Callable[A] {
          def call(): A = try b() catch { case t: Throwable => failures.add(t); throw t }
        })
      }
    } finally pool.shutdown()
    try pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    catch {
      case e: InterruptedException =>
        pool.shutdownNow()
        pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
        throw e
    }
    Option(failures.poll()) match {
      case Some(first) =>
        failures.forEach(t => if (t ne first) first.addSuppressed(t))
        throw first
      case None => futures.map(_.get())
    }
  }
}

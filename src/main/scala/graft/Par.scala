package graft

/** Overlap INDEPENDENT Spark actions from separate driver threads (guide
  * §2.6): Spark's scheduler happily runs several jobs at once inside one
  * application — actions are only sequential because driver code calls
  * them sequentially. The index lifecycle operators issue several small
  * independent jobs per call (side-table writes, geometry collects, the
  * two tables of a MinHash merge); running them sequentially pays the
  * per-job floor once per action, running them overlapped pays it once
  * per BATCH of actions. Used only for actions that touch DISJOINT
  * tables/outputs — never to parallelize two writes of one table.
  *
  * Threads, not an ExecutionContext: two or three blocking actions need
  * no pool management, job descriptions/groups stay per-thread (they are
  * thread-locals), and a failure on either side propagates after both
  * finished (the second action is not interrupted mid-write — repo
  * writes must reach their own atomic promote-or-abort point). */
private[graft] object Par {

  def run2[A, B](a: => A, b: => B): (A, B) = {
    @volatile var rb: Either[Throwable, B] = null
    val t = new Thread(() => rb = try Right(b) catch {
      case e: Throwable => Left(e)
    })
    t.start()
    val ra =
      try Right(a)
      catch { case e: Throwable => Left(e) }
      finally t.join()
    // still null only if the spawned thread died before the lambda's own
    // catch could run (a thread-start-time VM error): surface a real
    // Throwable, not an opaque MatchError (built only on that path)
    if (rb == null) rb = Left(new IllegalStateException(
      "Par.run2: spawned thread terminated before producing a result"))
    (ra, rb) match {
      case (Right(x), Right(y)) => (x, y)
      case (Left(e), Left(e2)) => e.addSuppressed(e2); throw e
      case (Left(e), _)         => throw e
      case (_, Left(e))         => throw e
    }
  }

  def run3[A, B, C](a: => A, b: => B, c: => C): (A, B, C) = {
    val ((x, y), z) = run2(run2(a, b), c)
    (x, y, z)
  }

  /** Run every thunk concurrently (one thread each — callers pass small,
    * structurally-bounded lists: route tables, index side tables), wait
    * for ALL to finish, then rethrow the first failure. All actions
    * always run to their own atomic commit-or-abort point even when a
    * sibling fails — matching the sequential code's replay story, where
    * a crash between actions leaves each table independently recovered. */
  def runAll(fs: Seq[() => Unit]): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = fs.map { f =>
      val t = new Thread(() => try f() catch {
        case e: Throwable => errs.add(e)
      })
      t.start(); t
    }
    ts.foreach(_.join())
    if (!errs.isEmpty) {
      // sibling failures ride along as suppressed (r20 advice) instead
      // of being silently dropped — a multi-route crash shows every
      // route's cause, not just whichever thread failed first
      val first = errs.poll()
      var more = errs.poll()
      while (more != null) { first.addSuppressed(more); more = errs.poll() }
      throw first
    }
  }
}

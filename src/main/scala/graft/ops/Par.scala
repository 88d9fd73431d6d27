package graft.ops

/** The ONE copy of the bounded-pool fan-out the concurrent write paths
  * share (ingest phases, fact sidecars, part-artifact resolution) — so
  * the failure semantics live in one place:
  *
  *  - every task is AWAITED before run() returns, success or failure.
  *    Failing fast on the first error (a bare `Await.result` on
  *    `Future.traverse`) would return while sibling tasks are still
  *    mid-write on pool threads; a caller that catches and replays
  *    would then race the failed attempt's stragglers into the same
  *    table directories. The crash-recovery protocols model process
  *    DEATH (no straggler survives), not a half-abandoned thread pool.
  *    That holds when the CALLER is interrupted too (a streaming
  *    query's `stop()` interrupts the thread running its batch): the
  *    wait goes on until every task settles, then the interrupt is
  *    rethrown — so once `stop()` returns no task is still writing;
  *  - after all tasks settle, the FIRST failure (by item order) is
  *    rethrown, so callers keep sequential-like error behavior;
  *  - results preserve item order.
  */
object Par {

  def run[A, B](items: Seq[A], maxThreads: Int)(f: A => B): Seq[B] = {
    require(items.nonEmpty, "Par.run over an empty item list")
    val pool = java.util.concurrent.Executors
      .newFixedThreadPool(math.min(math.max(maxThreads, 1), items.size))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val futs = items.map(a => scala.concurrent.Future(scala.util.Try(f(a))))
      var interrupted = false
      val settled = futs.map { fut =>
        var r: Option[scala.util.Try[B]] = None
        while (r.isEmpty)
          try r = Some(scala.concurrent.Await.result(
            fut, scala.concurrent.duration.Duration.Inf))
          catch { case _: InterruptedException => interrupted = true }
        r.get
      }
      if (interrupted) throw new InterruptedException(
        "interrupted while Par.run's tasks ran; all of them have settled")
      settled.collectFirst { case scala.util.Failure(e) => throw e }
      settled.map(_.get)
    } finally pool.shutdown()
  }
}

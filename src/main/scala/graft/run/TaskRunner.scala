package graft.run

/** The one runner for independent driver-side tasks that each submit
  * their own Spark jobs: ValidateJob's partition tasks and whole-table
  * checks, CurateJob's ledger and curated writes, and the two id-frame
  * chains of [[graft.PipelineQueries.curationIdFrames]].
  */
private[graft] object TaskRunner {

  /** Runs `tasks` on `min(#tasks, parallelism)` daemon threads named
    * `<name>-N` that take the tasks in order; Spark's FIFO scheduler
    * hands idle cores to whichever job is next, so independent tasks
    * overlap instead of each leaving cores idle in its small final
    * stages. Waits for every task, so no thread outlives the call and
    * no task keeps submitting jobs after the call returns, then
    * rethrows the first failure in task order, else returns the
    * results in task order. Tasks must not print: a caller capturing
    * `Console` sees only its own thread.
    */
  def runAll[T](name: String, tasks: IndexedSeq[() => T], parallelism: Int): IndexedSeq[T] = {
    val next = new java.util.concurrent.atomic.AtomicInteger
    val results = new Array[Any](tasks.size)
    val failures = new Array[Throwable](tasks.size)
    val threads = (1 to math.min(tasks.size, parallelism)).map { i =>
      val t = new Thread(() => {
        var k = next.getAndIncrement()
        while (k < tasks.size) {
          try results(k) = tasks(k)() catch { case e: Throwable => failures(k) = e }
          k = next.getAndIncrement()
        }
      }, s"$name-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    // an interrupted wait interrupts the workers rather than leaving
    // their jobs running behind the caller's back
    try threads.foreach(_.join())
    finally threads.foreach(_.interrupt())
    failures.find(_ != null).foreach(e => throw e)
    results.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }
}

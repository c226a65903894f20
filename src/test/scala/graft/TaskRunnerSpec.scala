package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.run.TaskRunner

class TaskRunnerSpec extends AnyFunSuite {

  private def runnerThreadsAlive(name: String): Boolean = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.exists(t => t.getName.startsWith(s"$name-") && t.isAlive)
  }

  test("a failure surfaces only after every other task has finished; no runner thread outlives the call") {
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      TaskRunner.runAll("graft-runner-spec", IndexedSeq(
        () => throw new IllegalStateException("boom"),
        () => { Thread.sleep(300); done.set(true) }), parallelism = 2)
    }
    assert(e.getMessage == "boom")
    assert(done.get, "the throw surfaced before the sleeping task finished")
    assert(!runnerThreadsAlive("graft-runner-spec"))
  }

  test("results come back in task order; threads are daemons named by the caller") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]
    val got = TaskRunner.runAll("graft-runner-names", (0 until 5).map(i => () => {
      seen.add((Thread.currentThread.getName, Thread.currentThread.isDaemon))
      Thread.sleep(5L * (5 - i))
      i * i
    }), parallelism = 2)
    assert(got == Seq(0, 1, 4, 9, 16))
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.map(_._1).toSet.subsetOf(Set("graft-runner-names-1", "graft-runner-names-2")))
    assert(seen.asScala.forall(_._2))
    assert(!runnerThreadsAlive("graft-runner-names"))
  }
}

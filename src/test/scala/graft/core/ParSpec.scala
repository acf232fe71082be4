package graft.core

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec

/** An interrupted caller gets its Spark jobs cancelled and its
  * InterruptedException back, after every task has returned. */
class ParSpec extends SparkSpec {

  test("interrupting the caller cancels its tasks' long Spark jobs and returns promptly") {
    val sc = spark.sparkContext
    val finished = new AtomicInteger()
    @volatile var thrown: Throwable = null
    // ~10^19 rows: runs until cancelled
    def endless(): () => Unit = () =>
      try spark.range(0, Long.MaxValue, 1, 1).write.format("noop").mode("overwrite").save()
      finally finished.incrementAndGet(): Unit
    val caller = new Thread(() =>
      try Par.run(endless(), endless())
      catch { case t: Throwable => thrown = t })
    caller.start()
    def waitFor(what: String)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 30_000_000_000L
      while (!cond) {
        assert(System.nanoTime() < deadline, s"timed out waiting for $what")
        Thread.sleep(20)
      }
    }
    waitFor("both jobs to start")(sc.statusTracker.getActiveJobIds().length >= 2)
    val t0 = System.nanoTime()
    caller.interrupt()
    caller.join(10000)
    val sec = (System.nanoTime() - t0) / 1e9
    assert(!caller.isAlive && sec < 5.0, s"Par.run took $sec s after the interrupt")
    assert(thrown.isInstanceOf[InterruptedException], thrown)
    assert(finished.get == 2)
    waitFor("the cancelled jobs to leave the status store")(
      sc.statusTracker.getActiveJobIds().isEmpty &&
        sc.statusTracker.getExecutorInfos.forall(_.numRunningTasks == 0))
  }
}

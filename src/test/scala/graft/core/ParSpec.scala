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
    // `pending` names what is still false; the status tracker reads a
    // listener's store, so each poll first drains the listener bus
    def waitFor(what: String)(pending: => Seq[String]): Unit = {
      val deadline = System.nanoTime() + 30_000_000_000L
      def poll() = { JobMetrics.drain(sc); pending }
      var left = poll()
      while (left.nonEmpty) {
        assert(System.nanoTime() < deadline,
          s"timed out waiting for $what; still: ${left.mkString("; ")}")
        Thread.sleep(20)
        left = poll()
      }
    }
    def activeJobs = sc.statusTracker.getActiveJobIds().toSeq
    waitFor("both jobs to start") {
      val jobs = activeJobs
      if (jobs.length >= 2) Nil else Seq(s"active job ids ${jobs.mkString(",")}")
    }
    val t0 = System.nanoTime()
    caller.interrupt()
    caller.join(10000)
    val sec = (System.nanoTime() - t0) / 1e9
    assert(!caller.isAlive && sec < 5.0, s"Par.run took $sec s after the interrupt")
    assert(thrown.isInstanceOf[InterruptedException], thrown)
    assert(finished.get == 2)
    waitFor("the cancelled jobs to leave the status store") {
      val jobs = activeJobs
      val busy = sc.statusTracker.getExecutorInfos.toSeq.filter(_.numRunningTasks > 0)
        .map(e => s"${e.host}:${e.port} (${e.numRunningTasks})")
      (if (jobs.isEmpty) Nil else Seq(s"active job ids ${jobs.mkString(",")}")) ++
        (if (busy.isEmpty) Nil else Seq(s"executors with running tasks ${busy.mkString(", ")}"))
    }
  }
}

package graft.core

import java.util.concurrent.{Callable, CancellationException, ExecutionException,
  Executors, TimeUnit, TimeoutException}

import org.apache.spark.sql.SparkSession

/** Run independent Spark ACTIONS concurrently from one driver call site
  * (optimization guide §2.6 "overlap independent jobs": actions are only
  * sequential because driver code calls them sequentially; independent
  * jobs back-fill executors freed by each other's straggler tails, and
  * locally they overlap the per-action driver latency that dominates
  * many-small-write maintenance paths).
  *
  * A FRESH pool is created per call: Spark's per-job properties (job
  * group, description) live in an InheritableThreadLocal, and a pool
  * thread inherits them at creation — a cached global pool would pin
  * whatever group the first caller happened to carry. All tasks run to
  * completion even when one fails (a write's partial effects are the
  * same torn state the callers' crash-consistency contracts already
  * detect); the FIRST failure then propagates to the caller.
  *
  * Interrupts: every task's jobs carry one Spark job tag (a tag, not a
  * job group, so the jobs stay in the caller's group for attribution).
  * When the caller is interrupted the tag's jobs are cancelled — again
  * every second until the drain completes, so a job a task starts after
  * the first cancel is cancelled too — and once every task has returned
  * the interrupt is re-thrown as an InterruptedException. No write
  * escapes behind the caller's unwind. */
object Par {
  def run(tasks: (() => Unit)*): Unit = {
    val live = tasks.filterNot(_ == null)
    if (live.sizeIs <= 1) { live.foreach(_()); return }
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val tag = s"graft-par-${java.util.UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(live.size)
    try {
      val futs = live.map(t =>
        pool.submit(new Callable[Unit] {
          def call(): Unit = {
            sc.foreach(_.addJobTag(tag))
            try t() finally sc.foreach(_.removeJobTag(tag))
          }
        }))
      var firstErr: Throwable = null
      var interrupted = false
      futs.foreach { f =>
        var got = false
        while (!got) {
          try {
            if (interrupted) f.get(1, TimeUnit.SECONDS) else f.get()
            got = true
          } catch {
            case e: ExecutionException =>
              if (firstErr == null) firstErr = e.getCause
              got = true
            case e: CancellationException =>
              if (firstErr == null) firstErr = e
              got = true
            case _: InterruptedException | _: TimeoutException =>
              interrupted = true
              sc.foreach(_.cancelJobsWithTag(tag, "Par.run caller interrupted"))
          }
        }
      }
      if (interrupted) {
        val e = new InterruptedException("Par.run interrupted; its Spark jobs were cancelled")
        if (firstErr != null) e.addSuppressed(firstErr)
        throw e
      }
      if (firstErr != null) throw firstErr
    } finally { pool.shutdown(): Unit }
  }
}

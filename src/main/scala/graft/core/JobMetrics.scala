package graft.core

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Per-job-group Spark work, attributed by [[JobMetrics]]. Sizes are MB
  * (2^20 bytes); `peakExecMb` is the largest per-task peak execution
  * memory; `driverS` is the part of `wallS` during which none of the
  * group's jobs ran (planning, AQE re-optimization, driver-side code). */
final case class Layers(jobs: Long, stages: Long, tasks: Long, cpuS: Double,
    gcS: Double, shuffleReadMb: Double, shuffleWriteMb: Double, spillMb: Double,
    peakExecMb: Double, wallS: Double, driverS: Double) {
  def json: String = {
    def f(d: Double) = f"$d%.3f"
    s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"cpu_s":${f(cpuS)},""" +
      s""""gc_s":${f(gcS)},"shuffle_read_mb":${f(shuffleReadMb)},""" +
      s""""shuffle_write_mb":${f(shuffleWriteMb)},"spill_mb":${f(spillMb)},""" +
      s""""peak_exec_mb":${f(peakExecMb)},"wall_s":${f(wallS)},"driver_s":${f(driverS)}}"""
  }
}

/** The one Spark listener: attributes jobs, stages, tasks and task metrics
  * to the job group that was active when each job started.
  *
  * [[group]] also sets an engine-owned local property, and a job carrying
  * it is attributed by it first. A streaming query's thread inherits the
  * local properties of the thread that started it but runs its
  * micro-batches under a job group equal to the query's run id, so the
  * property is what lands those jobs in the group that started the query.
  *
  * A stage belongs to the group of the job that submitted it (mapped at
  * `onJobStart`), so task metrics land in the right group even though the
  * listener bus delivers events asynchronously. CPU is `executorCpuTime`;
  * spill is memory plus disk spilled bytes; driver time is the group's
  * wall window minus the union of its job intervals. These are the rules
  * perfbench's `Layers` uses, so the two report comparable numbers.
  *
  * Usage: `val m = JobMetrics.install(sc)`, run work inside
  * `m.group(id) { ... }`, call `m.drain()` once, then read `m.layers(id)`. */
final class JobMetrics private (sc: SparkContext) extends SparkListener {
  private final class Counters {
    var jobs, stages, tasks, cpuNs, gcMs, shufReadB, shufWriteB, spillB, peakB = 0L
    var window = (0L, 0L)
    val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  }
  private val counters = mutable.Map[String, Counters]()
  private val stageGroup = mutable.Map[Int, String]()
  private val jobGroup = mutable.Map[Int, (String, Long)]()

  private def of(g: String): Counters = counters.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(JobMetrics.OwnerKey))
        .orElse(Option(p.getProperty(JobMetrics.GroupKey)))).foreach { g =>
      jobGroup(e.jobId) = (g, e.time)
      e.stageIds.foreach(stageGroup(_) = g)
      of(g).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (g, t0) => of(g).jobIntervals += ((t0, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(of(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = of(g)
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shufReadB += m.shuffleReadMetrics.totalBytesRead
      c.shufWriteB += m.shuffleWriteMetrics.bytesWritten
      c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakB = math.max(c.peakB, m.peakExecutionMemory)
    }
  }

  /** Run `body` under job group `id` and record its wall window. The
    * caller's group, if any, is restored afterwards. Streaming queries
    * started in `body` count toward `id` for as long as they run. */
  def group[T](id: String)(body: => T): T = {
    val prev = sc.getLocalProperty(JobMetrics.GroupKey)
    val prevDesc = sc.getLocalProperty(JobMetrics.DescKey)
    val prevOwner = sc.getLocalProperty(JobMetrics.OwnerKey)
    sc.setJobGroup(id, id)
    sc.setLocalProperty(JobMetrics.OwnerKey, id)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      synchronized { of(id).window = (t0, t1) }
      if (prev == null) sc.clearJobGroup() else sc.setJobGroup(prev, prevDesc)
      sc.setLocalProperty(JobMetrics.OwnerKey, prevOwner)
    }
  }

  /** [[JobMetrics.drain]]: after it the counters of every finished group
    * are exact. */
  def drain(): Unit = JobMetrics.drain(sc)

  def layers(id: String): Layers = synchronized {
    val c = counters.getOrElse(id, new Counters)
    val (w0, w1) = c.window
    val iv = c.jobIntervals.toList
      .map { case (a, b) => (math.max(a, w0), math.min(b, w1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered, curA, curB = 0L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    def mb(b: Long) = b / 1048576.0
    Layers(c.jobs, c.stages, c.tasks, c.cpuNs / 1e9, c.gcMs / 1e3,
      mb(c.shufReadB), mb(c.shufWriteB), mb(c.spillB), mb(c.peakB),
      (w1 - w0) / 1e3, (w1 - w0 - covered) / 1e3)
  }
}

object JobMetrics {
  val GroupKey = "spark.jobGroup.id"
  private val OwnerKey = "graft.metrics.group"
  private val DescKey = "spark.job.description"

  def install(sc: SparkContext): JobMetrics = {
    val m = new JobMetrics(sc)
    sc.addSparkListener(m)
    m
  }

  /** Block until the listener bus has delivered every event posted so far
    * (to every listener, the status store's included). An action's
    * task-end and job-end events are posted before it returns.
    * `listenerBus` is `private[spark]`, hence the reflective call. */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus): Unit
  }
}

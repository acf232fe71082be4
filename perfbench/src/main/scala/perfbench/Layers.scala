package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer. `group` is the Spark job group set around
  * the call; every job the call runs carries it (or, for a streaming tick,
  * the query's run id, which [[Layers]] maps back to the group). Spans
  * nested under one top-level span share its group as `trace`. */
final case class Span(name: String, group: String, parent: Option[String],
    trace: String, start: Long, end: Long) {
  def wallMs: Long = end - start
}

/** Per-group counters, filled by the Spark listener bus. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
}

/** Span recorder plus the listeners that attribute Spark work to spans.
  *
  * Attribution is by job group: `span` sets a unique group around its body
  * and restores the caller's group after, so nested spans attribute their
  * jobs to the innermost span. A streaming query runs its micro-batches
  * under its own run id as job group; the query listener maps that run id
  * to the group of the tick span that started it. Spans are kept in memory
  * and written out by the caller at the end of the run. */
final class Layers(spark: SparkSession, listen: Boolean) {
  private val sc = spark.sparkContext
  private val counters = mutable.Map[String, Counters]()
  private val stageGroup = mutable.Map[Int, String]()
  private val jobGroup = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, Long]()
  private val runIdGroup = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val spans = mutable.ArrayBuffer[Span]()
  private val traceOf = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val progress = mutable.ArrayBuffer[(String, java.util.Map[String, java.lang.Long], Long)]()
  @volatile private var tickGroup: String = null
  private var seq = 0L
  /** Jobs whose group names no span: each would be work outside any span. */
  var unattributedJobs = 0L

  private def resolve(g: String): String =
    if (g == null) null else runIdGroup.getOrDefault(g, g)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Layers.this.synchronized {
      val g = resolve(Option(e.properties).map(_.getProperty(SparkContextKeys.Group)).orNull)
      if (g == null || !g.contains('#')) unattributedJobs += 1
      else {
        jobGroup(e.jobId) = g
        jobStart(e.jobId) = e.time
        e.stageIds.foreach(stageGroup(_) = g)
        counters.getOrElseUpdate(g, new Counters).jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Layers.this.synchronized {
      jobGroup.remove(e.jobId).foreach { g =>
        counters(g).jobIntervals += ((jobStart.remove(e.jobId).get, e.time))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Layers.this.synchronized {
      for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = counters.getOrElseUpdate(g, new Counters)
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      val g = tickGroup
      if (g != null) runIdGroup.put(e.runId.toString, g)
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val g = runIdGroup.get(e.progress.runId.toString)
      if (g != null) Layers.this.synchronized {
        progress += ((g, e.progress.durationMs, e.progress.numInputRows))
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (listen) {
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
  }

  /** Run `body` as a span named `name`; returns its result and the span.
    * The enclosing span, if any, is the parent. Set `stream` when the body
    * starts streaming queries, so their jobs are attributed to this span. */
  def span[T](name: String, stream: Boolean = false)(body: => T): (T, Span) = {
    val group = synchronized { seq += 1; s"$name#$seq" }
    val prev = sc.getLocalProperty(SparkContextKeys.Group)
    val parent = Option(prev).filter(traceOf.containsKey)
    val trace = parent.map(traceOf.get).getOrElse(group)
    traceOf.put(group, trace)
    val prevDesc = sc.getLocalProperty(SparkContextKeys.Desc)
    sc.setJobGroup(group, name)
    if (stream) tickGroup = group
    val start = System.currentTimeMillis()
    try {
      val r = body
      val s = Span(name, group, parent, trace, start, System.currentTimeMillis())
      synchronized { spans += s }
      (r, s)
    } finally {
      if (prev == null) sc.clearJobGroup()
      else sc.setJobGroup(prev, prevDesc)
    }
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = {
    val m = sc.getClass.getMethod("listenerBus")
    val bus = m.invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  def countersOf(group: String): Counters = synchronized(counters.getOrElse(group, new Counters))

  /** The span's wall time during which no job of its group ran. */
  def driverMs(s: Span): Long = {
    val iv = synchronized(countersOf(s.group).jobIntervals.toList)
      .map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    s.wallMs - covered
  }

  /** Streaming progress (durationMs, input rows) of the tick span `group`. */
  def progressOf(group: String): Seq[(java.util.Map[String, java.lang.Long], Long)] =
    synchronized(progress.filter(_._1 == group).map(p => (p._2, p._3)).toList)
}

object SparkContextKeys {
  val Group = "spark.jobGroup.id"
  val Desc = "spark.job.description"
}

package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.core.EngineConf
import graft.pipeline.{IncrementalDriver, OldPath, RecentPath, TakeoutIngest}
import graft.sources.VectorStore

/** The benchmark's JVM side. `run.py` generates the inputs, writes a config
  * and starts this main; it prints `TICKS <epoch ms>` when the tick phase
  * starts (the cue for run.py to land new-user files on its open-loop
  * schedule) and writes raw samples, checks and layer counters to
  * `<work>/result.json`. run.py turns those into the reported metrics.
  *
  * One run: setup (the session, then overlapped: the standing tick store,
  * the single-partition batch reference that doubles as the warm pass, and
  * in traced runs a warm query pass), then timed phases sharing `seconds`:
  * batch passes, sensor ticks beside a lookup reader, and in traced runs
  * query-mix passes. Output checks run after the timed phases. */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cfg = mapper.readTree(Files.readString(Paths.get(args(0))))
    val run = new Run(cfg, jvmStart)
    try run.all()
    finally run.spark.stop()
  }

  def write(path: String, v: Any): Unit =
    Files.writeString(Paths.get(path), mapper.writeValueAsString(v))
}

final class Run(cfg: JsonNode, jvmStart: Long) {
  private def str(k: String) = cfg.get(k).asText()
  private def num(k: String) = cfg.get(k).asDouble()
  private val work = str("work")
  private val cpus = cfg.get("cpus").asInt()
  private val traced = cfg.get("trace").asInt() == 1
  /** Sensor ticks, with lookups beside them, run in traced runs only. */
  private val ticksOn = traced
  private val seconds = num("seconds")
  private val batchRoot = str("batch_root")
  private val tickRoot = str("tick_root")
  private val tables = str("tables")
  private val queries = {
    val it = cfg.get("queries").elements(); val b = mutable.ArrayBuffer[String]()
    while (it.hasNext) b += it.next().asText(); b.toList
  }
  private val rng = new scala.util.Random(cfg.get("seed").asLong())

  val spark: SparkSession = EngineConf.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus)
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")

  private val layers = new Layers(spark, listen = traced)
  private val enrich = new Enrichment(spark)
  private val failures = mutable.ArrayBuffer[String]()
  private val out = mutable.LinkedHashMap[String, Any]()

  private def now = System.currentTimeMillis()
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(now - jvmStart) / 1000.0}%8.2f s  $msg")
  private def fail(what: String, e: Throwable): Unit = synchronized {
    failures += s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
  }

  // ---------------------------------------------------------------- batch

  /** One pass from raw takeout JSON to the store: ingest, the recent path
    * (sessions, thresholds, merged, graph), the old path (interests,
    * embedded, clusters) and the upserts. With `stages`, every stage
    * boundary is materialized inside its own span (the traced pass). With
    * `overlap`, the recent-path and old-path writes run on two threads (the
    * reference run only; timed passes run the calls in order). */
  private def batchPass(session: SparkSession, root: String, store: String,
      stages: Boolean, overlap: Boolean = false): Unit = {
    def stage[T](name: String)(body: => T): T =
      if (stages) layers.span(name)(body)._1 else body
    val parsed = stage("pipeline.ingest") {
      val (full, recent) = TakeoutIngest.parseAndSplit(session, root)
      val p = (activity(full).cache(), activity(recent).cache())
      if (stages) { p._1.count(); p._2.count() }
      p
    }
    val (full, recent) = parsed
    val users = full.select(col("user_id"), col("user_dir")).distinct()
    val r = stage("operators.sessions") {
      val r = RecentPath.run(recent.drop("user_dir"), enrich.sessionsLlm, enrich.embedder)
      if (stages) r.sessions.count()
      r
    }
    stage("operators.thresholds") { if (stages) r.thresholds.count() }
    val merged = stage("operators.merge") {
      val m = r.merged.join(broadcast(users), "user_id").drop("user_id")
        .withColumnRenamed("user_dir", "user_id")
      if (stages) { m.cache().count(); () }
      m
    }
    val graph = stage("operators.graph") {
      if (stages) { r.graph.cache().count(); () }
      r.graph
    }
    val old = stage("operators.interests") {
      val o = OldPath.run(full.drop("user_dir"), enrich.interestsLlm, enrich.embedder)
      if (stages) { o.interests.count(); o.embedded.count() }
      o
    }
    val clusters = stage("cluster.clusters") {
      if (stages) { old.clusters.cache().count(); () }
      old.clusters
    }
    stage("sources.upsert") {
      val recentWrites = () => {
        new VectorStore(session, s"$store/sessions").upsertUsers(merged)
        graph.write.mode("overwrite").parquet(s"$store/graph")
      }
      val oldWrites = () => clusters.write.mode("overwrite").parquet(s"$store/clusters")
      if (overlap) parallel(recentWrites, oldWrites) else { recentWrites(); oldWrites() }
    }
    if (!overlap) session.catalog.clearCache()
  }

  private def activity(df: DataFrame): DataFrame =
    df.select(col("user_id").as("user_dir"), xxhash64(col("user_id")).as("user_id"),
      col("timestamp").as("ts"), col("title"))

  /** Order-independent digest of a table: row count and two sums of row
    * hashes over the JSON rendering of every column. */
  private def digest(df: DataFrame): String = {
    val row = to_json(struct(df.columns.sorted.map(col): _*))
    val d = df.select(row.as("r")).agg(count(lit(1)),
      sum(xxhash64(col("r")).cast("decimal(38,0)")),
      sum(xxhash64(col("r"), lit(7)).cast("decimal(38,0)"))).head()
    s"${d.get(0)}:${d.get(1)}:${d.get(2)}"
  }

  /** Digests of a batch store's three tables, restricted to `users`. */
  private def storeDigest(store: String, users: Seq[String]): Map[String, String] = {
    import spark.implicits._
    val ids = users.toDF("u").select(xxhash64(col("u"))).collect().map(_.getLong(0)).toSeq
    Map("sessions" -> users, "graph" -> ids, "clusters" -> ids).map { case (t, keys) =>
      t -> digest(spark.read.parquet(s"$store/$t").filter(col("user_id").isin(keys: _*)))
    }
  }

  /** Hard-link the users' files from `root` into `to`. The pipeline is per
    * user, so a run over `to` must reproduce exactly these users' rows of a
    * run over every user. */
  private def linkUsers(root: String, users: Seq[String], to: String): Seq[String] = {
    users.foreach { u =>
      Files.createDirectories(Paths.get(to, u))
      Files.createLink(Paths.get(to, u, "MyActivity.json"), Paths.get(root, u, "MyActivity.json"))
    }
    users
  }

  /** `k` users evenly spaced over the size ranks, the head excluded: the
    * same sizes on every seed, so the reference costs the same. */
  private def byRank(root: String, k: Int): Seq[String] = {
    val all = dirs(root, "").toSeq.sorted
    (1 to k).map(i => all(i * all.size / (k + 1)))
  }

  /** `k` users drawn with the run's seed. */
  private def drawn(root: String, k: Int): Seq[String] =
    rng.shuffle(dirs(root, "").toSeq.sorted).take(k)

  /** A session whose scans and shuffles all run in one partition: the
    * partitioning a `local[1]` session would use, without a second JVM. */
  private def singlePartitionSession(): SparkSession = {
    val s = spark.newSession()
    Seq("spark.sql.shuffle.partitions" -> "1",
      "spark.sql.files.maxPartitionBytes" -> (1L << 40).toString,
      "spark.sql.files.openCostInBytes" -> "0",
      "spark.sql.files.minPartitionNum" -> "1",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "1")
      .foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  // ---------------------------------------------------------------- ticks

  private val tickStore = s"$work/tick_store/sessions"
  private def tick(): Unit = IncrementalDriver.tick(spark, tickRoot, tickStore,
    s"$work/tick_ckpt", enrich.sessionsLlm, enrich.embedder)

  private def dirs(path: String, prefix: String): Set[String] =
    Option(new java.io.File(path).list()).toSet.flatten
      .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix))

  /** Every user's rows of a `VectorStore` table, each rendered as JSON. */
  private def rowsByUser(path: String): Map[String, Seq[String]] = {
    val df = spark.read.parquet(path)
    df.select(col("user_id"), rowJson(df)).collect().groupBy(_.getString(0))
      .map { case (u, rs) => u -> rs.map(_.getString(1)).sorted.toSeq }
  }

  private def rowJson(df: DataFrame) =
    to_json(struct(df.columns.filter(_ != "user_id").sorted.map(col).toSeq: _*))

  /** One `VectorStore.loadUser` call, collected; true when it returns
    * exactly `expected`. */
  private def lookup(store: VectorStore, u: String, expected: Seq[String]): Boolean = {
    val (rows, _) = layers.span("sources.lookup") {
      val df = store.loadUser(u)
      df.select(rowJson(df)).collect().map(_.getString(0)).sorted.toSeq
    }
    val same = rows == expected
    if (!same) fail(s"lookup $u", new IllegalStateException("rows differ from the store's"))
    same
  }

  /** Run the bodies on their own threads and wait for all; the first
    * failure is rethrown. */
  private def parallel(bodies: (() => Any)*): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = bodies.map(b => new Thread(() => try b() catch { case e: Throwable => errors.add(e); () }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }

  // ---------------------------------------------------------------- phases

  private var batchSample = Seq.empty[String]
  private var batchReference = Map.empty[String, String]
  private var tickSample = Seq.empty[String]
  private var tickReference = ""
  private val checks = mutable.LinkedHashMap[String, Any]()

  def all(): Unit = {
    log("session up")
    // Setup: the batch reference and, in traced runs, the standing tick
    // store and one query pass, overlapped since they are independent. The
    // reference doubles as the untimed warm pass: it runs the batch code
    // paths over a fixed set of the same users, chosen by size rank so it
    // costs the same on every seed.
    val k = cfg.get("check_users").asInt()
    batchSample = linkUsers(batchRoot, byRank(batchRoot, k), s"$work/check_batch")
    var standing = Seq.empty[String]
    var expected = Map.empty[String, Seq[String]]
    parallel(
      () => layers.span("setup.reference") {
        val refStore = s"$work/batch_store/reference"
        batchPass(singlePartitionSession(), s"$work/check_batch", refStore, stages = false, overlap = true)
        batchReference = storeDigest(refStore, batchSample)
        val nulls = Seq(batchRoot, tickRoot, str("staged_root")).map(r =>
          TakeoutIngest.parse(spark, r).filter(col("timestamp").isNull).count()).sum
        checks("null_timestamps") = nulls
        if (nulls != 0) fail("generator", new IllegalStateException(s"$nulls rows with a null timestamp"))
        log("batch reference done")
      },
      () => if (ticksOn) {
        tickSample = (linkUsers(tickRoot, drawn(tickRoot, 3), s"$work/check_ticks") ++
          linkUsers(str("staged_root"), drawn(str("staged_root"), 3), s"$work/check_ticks")).sorted
        layers.span("setup.standing", stream = true) { tick() }
        layers.span("setup.expected") {
          expected = rowsByUser(tickStore)
          standing = expected.keys.toSeq.sorted
        }
        layers.span("setup.tick_reference") {
          // what the tick store must hold for the sampled users: one batch over them
          val oneBatch = s"$work/tick_reference/sessions"
          val act = activity(TakeoutIngest.parse(spark, s"$work/check_ticks"))
          val users = act.select(col("user_id"), col("user_dir")).distinct()
          val merged = RecentPath.run(act.drop("user_dir"), enrich.sessionsLlm, enrich.embedder).merged
            .join(broadcast(users), "user_id").drop("user_id").withColumnRenamed("user_dir", "user_id")
          new VectorStore(spark, oneBatch).upsertUsers(merged)
          tickReference = digest(spark.read.parquet(oneBatch))
        }
        log("standing store and tick reference done")
      },
      () => if (queries.nonEmpty) { layers.span("setup.queries") { queryPass(0) }; log("query warm-up done") })
    spark.catalog.clearCache()
    enrich.take()
    log("setup done")
    val setupEnd = now
    out("setup_s") = (setupEnd - jvmStart) / 1000.0

    val budget = seconds * 1000
    val shares = cfg.get("shares")
    batchPhase((budget * shares.get("batch").asDouble()).toLong)
    log(s"batch phase done: ${passes.size} passes")
    lookupPhase(s"${passes.last("store")}/sessions")
    log(s"lookup phase done: ${lookups.size} lookups")
    if (ticksOn) {
      tickPhase((budget * shares.get("ticks").asDouble()).toLong, standing, expected)
      log(s"tick phase done: ${ticks.size} ticks, ${tickLookups.size} lookups")
    }
    if (queries.nonEmpty) {
      queryPhase((budget * shares.get("queries").asDouble()).toLong)
      log("query phase done")
    }
    out("timed_s") = (now - setupEnd) / 1000.0

    layers.span("checks") { runChecks() }
    log("checks done")
    if (traced) layerReport()
    out("peak_rss_mb") = vmHwmMb()
    out("failures") = failures.toList
    Main.write(s"$work/result.json", out)
  }

  private val passes = mutable.ArrayBuffer[Map[String, Any]]()

  private def batchPhase(budgetMs: Long): Unit = {
    val t0 = now
    var k = 0
    val minPasses = cfg.get("min_passes").asInt()
    // traced runs alternate untraced and traced passes, so the tracing
    // overhead is measured on the same inputs in the same run
    while (k < minPasses || now - t0 < budgetMs) {
      k += 1
      val stages = traced && k % 2 == 0
      val store = s"$work/batch_store/p$k"
      val ((), s) = layers.span("pipeline.pass") {
        try batchPass(spark, batchRoot, store, stages)
        catch { case e: Throwable => fail(s"batch pass $k", e) }
      }
      val (sp, ip, et, busy) = enrich.take()
      passes += Map("pass" -> k, "traced" -> stages, "store" -> store, "wall_s" -> s.wallMs / 1000.0,
        "group" -> s.group, "session_prompts" -> sp, "interest_prompts" -> ip,
        "embed_texts" -> et, "enrich_busy_s" -> busy)
    }
    out("batch_passes") = passes.toList
  }

  private val ticks = mutable.ArrayBuffer[Map[String, Any]]()
  private val visible = mutable.LinkedHashMap[String, Long]()
  private val lookups = mutable.ArrayBuffer[(Double, Boolean)]()
  private val tickLookups = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Boolean)]()

  /** Lookups of users in the last batch pass's store, one after another
    * with nothing else running: the serving latency of a settled store. */
  private def lookupPhase(path: String): Unit = {
    val expected = layers.span("lookups.expected") { rowsByUser(path) }._1
    val users = expected.keys.toSeq.sorted
    val store = new VectorStore(spark, path)
    (1 to cfg.get("lookups").asInt()).foreach { _ =>
      val u = users(rng.nextInt(users.size))
      val t0 = System.nanoTime()
      val ok = try lookup(store, u, expected(u)) catch { case e: Throwable => fail(s"lookup $u", e); false }
      lookups += (((System.nanoTime() - t0) / 1e6, ok))
    }
    out("lookups") = lookups.toList.map { case (ms, ok) => List(ms, ok) }
  }

  private def tickPhase(budgetMs: Long, standing: Seq[String],
      expected: Map[String, Seq[String]]): Unit = {
    val done = new java.io.File(s"$work/arrivals.done")
    val arrivals = cfg.get("arrivals").asInt()
    @volatile var reading = true
    val store = new VectorStore(spark, tickStore)
    val reader = new Thread(() => {
      val r = new scala.util.Random(rng.nextLong())
      val think = cfg.get("lookup_think_ms").asLong()
      while (reading) {
        val u = standing(r.nextInt(standing.size))
        val t0 = System.nanoTime()
        val ok = try lookup(store, u, expected(u)) catch { case e: Throwable => fail(s"lookup $u", e); false }
        tickLookups.add(((System.nanoTime() - t0) / 1e6, ok))
        Thread.sleep(think)
      }
    }, "lookup-reader")
    var seen = standing.toSet
    val t0 = now
    val deadline = t0 + budgetMs + cfg.get("drain_ms").asLong()
    val minIdle = cfg.get("min_idle_ticks").asInt()
    def idleCount = ticks.count(_("idle") == true)
    def tickOnce(): Unit = {
      val pending = dirs(tickRoot, "") -- seen
      val (ok, s) = layers.span("pipeline.tick", stream = true) {
        try { tick(); true } catch { case e: Throwable => fail("tick", e); false }
      }
      val fresh = dirs(tickStore, "user_id=") -- seen
      fresh.foreach(u => visible(u) = s.end)
      seen ++= fresh
      ticks += Map("start" -> s.start, "end" -> s.end, "group" -> s.group, "ok" -> ok,
        "new_users" -> fresh.size, "idle" -> (pending.isEmpty && fresh.isEmpty))
    }
    reader.start()
    println(s"TICKS $t0")
    System.out.flush()
    try {
      // arrivals: ticks beside the lookup reader until every new user is
      // visible; then idle ticks alone, so their cost is the polling cost
      while (now < deadline && !(done.exists() && visible.size >= arrivals)) tickOnce()
    } finally {
      reading = false
      reader.join()
    }
    while (now < deadline && idleCount < minIdle) tickOnce()
    if (visible.size < arrivals)
      fail("ticks", new IllegalStateException(s"${visible.size} of $arrivals new users visible by the deadline"))
    out("ticks") = ticks.toList
    out("visible_ms") = visible.toMap
    out("arrivals") = arrivals
    out("tick_lookups") = tickLookups.toArray.toList.map { case (ms, ok) => List(ms, ok) }
  }

  private val queryRuns = mutable.ArrayBuffer[Map[String, Any]]()

  /** Every mix query once, in a seeded order; results land in
    * `<work>/qout/p<pass>/<query>` for the oracle check. */
  private def queryPass(pass: Int): Double = {
    val entry = SparkEntry.queries
    val t0 = now
    rng.shuffle(queries).foreach { q =>
      val (ok, s) = layers.span(s"queries.$q") {
        try {
          entry(q)(spark, tables).write.mode("overwrite").parquet(s"$work/qout/p$pass/$q"); true
        } catch { case e: Throwable => fail(s"query $q pass $pass", e); false }
      }
      if (pass > 0) spark.catalog.clearCache() // no reuse across timed queries
      if (pass > 0) queryRuns += Map("pass" -> pass, "query" -> q, "ok" -> ok,
        "wall_s" -> s.wallMs / 1000.0, "group" -> s.group)
    }
    (now - t0) / 1000.0
  }

  private def queryPhase(budgetMs: Long): Unit = {
    val t0 = now
    val walls = mutable.ArrayBuffer[Double]()
    while (walls.size < cfg.get("min_query_passes").asInt() || now - t0 < budgetMs)
      walls += queryPass(walls.size + 1)
    out("query_passes") = walls.toList
    out("query_runs") = queryRuns.toList
    val oracles = SparkEntry.oracleSql
    out("oracle_sql") = queries.map(q => q -> oracles(q)).toMap
  }

  // ---------------------------------------------------------------- checks

  /** Output checks after the timed phases: every batch pass against the
    * single-partition reference, the tick store against one batch over the
    * same users. Both compare the sampled users' rows. */
  private def runChecks(): Unit = {
    checks("batch_sample") = batchSample
    checks("batch_passes_ok") = passes.map { p =>
      val ok = try storeDigest(p("store").toString, batchSample) == batchReference
        catch { case e: Throwable => fail(s"digest pass ${p("pass")}", e); false }
      if (!ok) fail(s"batch pass ${p("pass")}", new IllegalStateException("store differs from the single-partition reference"))
      ok
    }.toList
    if (ticksOn) {
      val tickOk = digest(spark.read.parquet(tickStore).filter(col("user_id").isin(tickSample: _*))) ==
        tickReference
      checks("tick_sample") = tickSample
      checks("tick_store_ok") = tickOk
      if (!tickOk) fail("tick store", new IllegalStateException("differs from a one-batch run over the same users"))
    }
    out("checks") = checks
  }

  // ---------------------------------------------------------------- layers

  /** Per-span counters for the traced run, one entry per span. */
  private def layerReport(): Unit = {
    layers.drain()
    val spans = layers.allSpans
    val rows = spans.map { s =>
      val c = layers.countersOf(s.group)
      val progress = layers.progressOf(s.group).map { case (d, n) =>
        import scala.jdk.CollectionConverters._
        Map("duration_ms" -> d.asScala.map { case (k, v) => k -> v.longValue }.toMap, "input_rows" -> n)
      }
      Map("name" -> s.name, "group" -> s.group, "parent" -> s.parent.orNull, "trace" -> s.trace,
        "start" -> s.start, "end" -> s.end, "wall_s" -> s.wallMs / 1000.0,
        "driver_s" -> layers.driverMs(s) / 1000.0, "jobs" -> c.jobs, "tasks" -> c.tasks,
        "cpu_s" -> c.cpuNs / 1e9, "gc_s" -> c.gcMs / 1000.0,
        "shuffle_mb" -> c.shuffleBytes / 1048576.0, "spill_mb" -> c.spillBytes / 1048576.0,
        "progress" -> progress)
    }
    // attribution: a job of a span's group that ran outside the span's
    // interval would mean the listener put work in the wrong span
    val misattributed = spans.map { s =>
      layers.countersOf(s.group).jobIntervals.count { case (a, b) => a < s.start || b > s.end }
    }.sum
    out("spans") = rows
    out("unattributed_jobs") = layers.unattributedJobs
    out("misattributed_jobs") = misattributed
    out("upsert_files") = filesUnder(s"$work/batch_store/p2")
  }

  /** (files, MiB) of data files under a store directory. */
  private def filesUnder(path: String): Map[String, Any] = {
    val fs = Files.walk(Paths.get(path)).filter(p => Files.isRegularFile(p) &&
      !p.getFileName.toString.startsWith(".") && !p.getFileName.toString.startsWith("_")).toArray
    Map("files" -> fs.length, "mb" -> fs.map(p => Files.size(p.asInstanceOf[java.nio.file.Path])).sum / 1048576.0)
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}

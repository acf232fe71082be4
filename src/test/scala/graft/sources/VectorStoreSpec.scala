package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class VectorStoreSpec extends SparkSpec {
  import spark.implicits._

  private def mk(rows: (String, Long, Seq[Float])*) =
    rows.toSeq.toDF("user_id", "id", "embedding")

  test("upsert overwrites only touched user partitions; delete removes one") {
    val path = java.nio.file.Files.createTempDirectory("vstore").toString + "/store"
    val store = new VectorStore(spark, path)
    store.upsertUsers(mk(("u1", 1L, Seq(1f, 0f)), ("u2", 2L, Seq(0f, 1f))))
    assert(store.load().count() == 2)

    // re-upsert u1 with different rows: u1 replaced, u2 untouched
    store.upsertUsers(mk(("u1", 10L, Seq(0.5f, 0.5f))))
    val after = store.load().select("user_id", "id").as[(String, Long)].collect().toSet
    assert(after == Set(("u1", 10L), ("u2", 2L)))

    // idempotent rebuild: same upsert twice = same state
    store.upsertUsers(mk(("u1", 10L, Seq(0.5f, 0.5f))))
    assert(store.load().count() == 2)

    store.deleteUsers(Seq("u2"))
    assert(store.load().select("user_id").as[String].collect().toSeq == Seq("u1"))
  }

  test("upsert writes one data file per user partition") {
    val path = java.nio.file.Files.createTempDirectory("vstore1").toString + "/store"
    val store = new VectorStore(spark, path)
    // both users' rows spread round-robin over 4 input partitions
    val rows = for (u <- Seq("u1", "u2"); i <- 0 until 8)
      yield (u, i.toLong, Seq(i.toFloat, 1f))
    store.upsertUsers(mk(rows: _*).repartition(4))
    for (u <- Seq("u1", "u2")) {
      val files = new java.io.File(s"$path/user_id=$u").listFiles()
        .map(_.getName).filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      assert(files.length == 1, s"$u: ${files.toSeq}")
      assert(store.loadUser(u).count() == 8)
    }
  }

  test("partition pruning reaches the file source for single-user loads") {
    val path = java.nio.file.Files.createTempDirectory("vstore2").toString + "/store"
    val store = new VectorStore(spark, path)
    store.upsertUsers(mk(("u1", 1L, Seq(1f, 0f)), ("u2", 2L, Seq(0f, 1f))))
    val plan = store.loadUser("u1").queryExecution.executedPlan.toString
    assert(plan.contains("user_id")) // partition filter present
    assert(store.loadUser("u1").count() == 1)
  }

  // Ids Spark escapes in partition paths (`a:b` → `user_id=a%3Ab`), two it
  // leaves as is (`a b`, and `q}r` with a glob character), and 35 plain
  // ones: 40 users, past Spark's 32-path parallel-listing threshold.
  private val oddIds = Seq("a:b", "c=d", "x%y", "a b", "q}r")
  private val users40 = oddIds ++ (0 until 35).map(i => f"u$i%02d")

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def store40(name: String): (String, VectorStore) = {
    val path = java.nio.file.Files.createTempDirectory(name).toString + "/store"
    val store = new VectorStore(spark, path)
    store.upsertUsers(mk(users40.zipWithIndex.flatMap { case (u, i) =>
      Seq((u, i.toLong, Seq(i.toFloat, 1f)), (u, 100L + i, Seq(1f, i.toFloat)))
    }: _*))
    (path, store)
  }

  test("a warm loadUser runs one job: no store-wide listing, no schema inference") {
    val (_, store) = store40("vstore7")
    store.loadUser("u01").collect()
    val sc = spark.sparkContext
    val m = graft.core.JobMetrics.install(sc)
    try {
      val rows = m.group("lookup") { store.loadUser("u07").collect() }
      m.drain()
      assert(rows.length == 2)
      assert(m.layers("lookup").jobs == 1L, m.layers("lookup"))
    } finally sc.removeSparkListener(m)
  }

  test("loadUser equals load().filter for every user, escaped ids included") {
    val (_, store) = store40("vstore8")
    val all = store.load()
    for (u <- users40) {
      val one = store.loadUser(u)
      assert(one.schema == all.schema, u)
      val expected = rowsOf(all.filter(col("user_id") === u))
      assert(expected.length == 2, u)
      assert(rowsOf(one) == expected, u)
    }
    // no directory: an empty frame with the store's schema, not an exception
    for (u <- Seq("nobody", "")) {
      val none = store.loadUser(u)
      assert(none.schema == all.schema && none.collect().isEmpty, u)
    }
  }

  test("a warm instance's loadUser sees another instance's upserts") {
    val (path, store) = store40("vstore9")
    assert(rowsOf(store.loadUser("u03")).length == 2)
    assert(store.loadUser("new user").collect().isEmpty)
    new VectorStore(spark, path).upsertUsers(mk(
      ("u03", 7L, Seq(0.5f, 0.5f)), ("new user", 8L, Seq(0.25f, 0.75f))))
    assert(store.loadUser("u03").select("id").as[Long].collect().toSeq == Seq(7L))
    assert(store.loadUser("new user").select("user_id", "id").as[(String, Long)]
      .collect().toSeq == Seq(("new user", 8L)))
  }

  test("deleteUsers removes the partitions of ids Spark escapes") {
    val (_, store) = store40("vstore10")
    store.deleteUsers(oddIds :+ "never stored")
    val left = store.load().select("user_id").distinct().as[String].collect().toSet
    assert(left == users40.drop(oddIds.size).toSet)
    assert(store.loadUser("a:b").collect().isEmpty)
  }

  test("mergeUpsert: updates replace by key, inserts append, others kept") {
    val existing = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val changes = Seq((2L, "B"), (9L, "Z")).toDF("id", "v")
    val merged = VectorStore.mergeUpsert(existing, changes, "id")
      .as[(Long, String)].collect().toSet
    assert(merged == Set((1L, "a"), (2L, "B"), (3L, "c"), (9L, "Z")))
  }

  test("store.merge persists row-granularity upserts through the store") {
    val path = java.nio.file.Files.createTempDirectory("vstore4").toString + "/store"
    val store = new VectorStore(spark, path)
    store.upsertUsers(mk(("u1", 1L, Seq(1f, 0f)), ("u1", 2L, Seq(0f, 1f)),
      ("u2", 3L, Seq(1f, 1f))))
    store.merge(mk(("u1", 2L, Seq(0.7f, 0.7f)), ("u2", 4L, Seq(0f, 0f))), "id")
    val after = store.load().select("user_id", "id").as[(String, Long)].collect().toSet
    assert(after == Set(("u1", 1L), ("u1", 2L), ("u2", 3L), ("u2", 4L)))
    // the updated row carries the new vector
    val v = store.load().filter(col("id") === 2L)
      .select("embedding").as[Seq[Float]].head()
    assert(v == Seq(0.7f, 0.7f))
  }

  test("store.merge rewrites ONLY the user partitions present in changes") {
    val path = java.nio.file.Files.createTempDirectory("vstore5").toString + "/store"
    val store = new VectorStore(spark, path)
    store.upsertUsers(mk(("u1", 1L, Seq(1f, 0f)), ("u2", 2L, Seq(0f, 1f))))
    def filesOf(user: String): Set[String] = {
      val dir = new java.io.File(s"$path/user_id=$user")
      dir.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    }
    val u2Before = filesOf("u2")
    store.merge(mk(("u1", 9L, Seq(0.5f, 0.5f))), "id") // touches u1 only
    assert(filesOf("u2") == u2Before, "untouched partition was rewritten")
    // u1 merged, u2 intact
    val after = store.load().select("user_id", "id").as[(String, Long)].collect().toSet
    assert(after == Set(("u1", 1L), ("u1", 9L), ("u2", 2L)))
  }

  test("merge scopes key matching per user: same key under two users") {
    val path = java.nio.file.Files.createTempDirectory("vstore6").toString + "/store"
    val store = new VectorStore(spark, path)
    // u1 and u2 both have a row with id=1
    store.upsertUsers(mk(("u1", 1L, Seq(1f, 0f)), ("u2", 1L, Seq(0f, 1f))))
    // one batch updates u1's id=1 and u2's id=1 — neither may clobber the other
    store.merge(mk(("u1", 1L, Seq(0.9f, 0.1f)), ("u2", 1L, Seq(0.1f, 0.9f))), "id")
    val after = store.load().select("user_id", "id", "embedding")
      .as[(String, Long, Seq[Float])].collect().toSet
    assert(after == Set(("u1", 1L, Seq(0.9f, 0.1f)), ("u2", 1L, Seq(0.1f, 0.9f))))

    // a change for only ONE user's key leaves the other user's same-key row alone
    store.merge(mk(("u1", 1L, Seq(0.5f, 0.5f))), "id")
    val after2 = store.load().select("user_id", "id", "embedding")
      .as[(String, Long, Seq[Float])].collect().toSet
    assert(after2 == Set(("u1", 1L, Seq(0.5f, 0.5f)), ("u2", 1L, Seq(0.1f, 0.9f))))
  }

  test("ann serves top-k from the store") {
    val path = java.nio.file.Files.createTempDirectory("vstore3").toString + "/store"
    val store = new VectorStore(spark, path)
    store.upsertUsers(mk(
      ("u1", 1L, Seq(1f, 0f)), ("u1", 2L, Seq(0.9f, 0.1f)), ("u1", 3L, Seq(0f, 1f))))
    val q = mk(("q", 100L, Seq(1f, 0f))).select(col("id"), col("embedding"))
    val nn = store.ann(q, "id", "embedding", k = 2)
      .orderBy("rank").select("nn").as[Long].collect().toSeq
    assert(nn == Seq(1L, 2L))
  }
}

class GraftExtensionsSpec extends SparkSpec {

  test("custom functions reachable from plain SQL via extensions/registry") {
    graft.functions.registerAll(spark)
    val r = spark.sql(
      "SELECT cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS s, " +
        "simhash64(array('a','b')) AS h, " +
        "extract_json_objects('x {\"a\": 1} y') AS j").head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-15)
    assert(r.getAs[scala.collection.Seq[String]]("j") == Seq("""{"a": 1}"""))
  }

  test("GraftExtensions injects into a fresh session") {
    import org.apache.spark.sql.SparkSession
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      // shares the JVM's SparkContext; new session state with extensions
      val s2 = SparkSession.builder()
        .master("local[4]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.GraftExtensions)
        .getOrCreate()
      val v = s2.sql("SELECT vec_dot(array(1.0D,2.0D), array(3.0D,4.0D)) AS d")
        .head().getDouble(0)
      assert(v == 11.0)
      // do NOT stop s2 — local mode shares one SparkContext per JVM
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}

package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  test("chain, clique, and singleton components (both execution paths)") {
    // chain 1-2-3-4, clique 10-11-12, isolated edge 20-21
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("src", "dst")
    for (threshold <- Seq(Long.MaxValue, 0L)) { // local path / distributed path
      val comps = ConnectedComponents.components(edges, localThreshold = threshold)
        .as[(Long, Long)].collect().toMap
      assert(Seq(1L, 2L, 3L, 4L).map(comps) == Seq(1L, 1L, 1L, 1L))
      assert(Seq(10L, 11L, 12L).map(comps).distinct == Seq(10L))
      assert(Seq(20L, 21L).map(comps).distinct == Seq(20L))
    }
  }

  test("long chain converges (pointer jumping, distributed path)") {
    val n = 200
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst")
    val comps = ConnectedComponents.components(edges, maxIter = 12, localThreshold = 0L)
      .as[(Long, Long)].collect()
    assert(comps.map(_._2).distinct.toSeq == Seq(1L))
  }

  test("local and distributed paths agree on a random graph") {
    val rnd = new scala.util.Random(7)
    val edges = (1 to 300).map(_ => (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter(e => e._1 != e._2).toDF("src", "dst")
    val local = ConnectedComponents.components(edges)
      .as[(Long, Long)].collect().toMap
    val dist = ConnectedComponents.components(edges, localThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(local == dist)
  }

  test("star contraction == union-find on random graphs") {
    for (seed <- Seq(1, 23, 99)) {
      val rnd = new scala.util.Random(seed)
      val edges = (1 to 200).map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
        .filter(e => e._1 != e._2).toDF("src", "dst")
      val local = ConnectedComponents.components(edges)
        .as[(Long, Long)].collect().toMap
      val star = ConnectedComponents.starContraction(edges)
        .as[(Long, Long)].collect().toMap
      assert(star == local, s"star vs union-find diverged at seed $seed")
    }
  }
}

class RecencySplitSpec extends SparkSpec {
  import spark.implicits._

  test("split is data-relative per key and partitions rows exactly") {
    val df = Seq(
      (1L, "2024-01-01 00:00:00"), (1L, "2024-01-20 00:00:00"),
      (1L, "2024-01-31 00:00:00"),
      (2L, "2023-06-01 00:00:00"), (2L, "2023-06-10 00:00:00"))
      .toDF("user_id", "s")
      .select(col("user_id"), to_timestamp(col("s")).as("ts"))
    val (full, recent) = RecencySplit.split(df, col("ts"), col("user_id"), "-15d")
    assert(full.count() == 5)
    val rec = recent.select(col("user_id"), col("ts").cast("string"))
      .as[(Long, String)].collect().toSet
    // user 1: max Jan 31 → keep > Jan 16; user 2: max Jun 10 → keep > May 26
    assert(rec == Set(
      (1L, "2024-01-20 00:00:00"), (1L, "2024-01-31 00:00:00"),
      (2L, "2023-06-01 00:00:00"), (2L, "2023-06-10 00:00:00")))
  }
}

class SessionizeSpec extends SparkSpec {
  import spark.implicits._
  import graft.enrich.StubSessionsLLM

  private def activity(rows: (Long, String, String)*) =
    rows.toSeq.toDF("user_id", "s", "title")
      .select(col("user_id"), to_timestamp(col("s")).as("ts"), col("title"))

  test("stub LLM round trip produces one session per chunk") {
    val df = activity(
      (1L, "2024-01-01 09:00:00", "alpha beta"),
      (1L, "2024-01-01 09:30:00", "gamma delta"),
      (1L, "2024-01-02 11:00:00", "epsilon zeta"))
    val got = Sessionize.sessions(df, new StubSessionsLLM)
      .orderBy("date").collect()
    assert(got.length == 2) // one chunk per day
    val first = got(0)
    assert(first.getAs[String]("time_start") == "09:00")
    assert(first.getAs[String]("time_end") == "09:30")
    assert(first.getAs[scala.collection.Seq[String]]("interests") == Seq("beta", "delta"))
    assert(first.getAs[Int]("start_s") == 9 * 3600)
  }

  test("chunking splits days into chunkSize groups") {
    val rows = (0 until 40).map(i =>
      (1L, f"2024-01-01 10:${i % 60}%02d:00", s"title$i"))
    val got = Sessionize.sessions(activity(rows: _*), new StubSessionsLLM, chunkSize = 15)
    assert(got.count() == 3) // 15+15+10
  }

  test("invalid snippets are dropped (stub emits a wrong-key trailer)") {
    val df = activity((1L, "2024-01-01 09:00:00", "alpha beta"))
    val got = Sessionize.sessions(df, new StubSessionsLLM).collect()
    assert(got.length == 1) // the {"unrelated": true} trailer was filtered
  }

  test("observe counters surface as a queryable metrics frame") {
    // 2 chunks → 2 stub responses, each: 1 valid session + 1 wrong-key
    // trailer → n_snippets = 4, invalid_keys = 2, invalid_times = 0
    val df = activity(
      (1L, "2024-01-01 09:00:00", "alpha beta"),
      (1L, "2024-01-02 11:00:00", "gamma delta"))
    val m = ObservedMetrics.collect(Sessionize.sessions(df, new StubSessionsLLM))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(m(("sessionize", "n_snippets")) == 4.0)
    assert(m(("sessionize", "invalid_keys")) == 2.0)
    assert(m(("sessionize", "invalid_times")) == 0.0)
  }

  test("collectAll harvests several stages' counters from one pass") {
    import graft.enrich.StubInterestsLLM
    val df = activity(
      (1L, "2024-01-01 09:00:00", "alpha beta"),
      (1L, "2024-01-02 11:00:00", "gamma delta"))
    def asMap(m: org.apache.spark.sql.DataFrame) =
      m.collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val onePass = asMap(ObservedMetrics.collectAll(Seq(
      Sessionize.sessions(df, new StubSessionsLLM),
      InterestsExtract.interests(df, new StubInterestsLLM))))
    val twoPasses =
      asMap(ObservedMetrics.collect(Sessionize.sessions(df, new StubSessionsLLM))) ++
      asMap(ObservedMetrics.collect(InterestsExtract.interests(df, new StubInterestsLLM)))
    assert(onePass == twoPasses)
    assert(onePass.keys.map(_._1).toSet == Set("sessionize", "interests"))
  }
}

class SessionOpsSpec extends SparkSpec {
  import spark.implicits._

  /** Hand-built sessions with controlled embeddings (FIXTURES A5):
    * orthogonal vs parallel unit vectors give exact similarity 0 / 1. */
  private def sessionsDf(rows: (Long, String, Int, Int, String, Seq[Float])*) =
    rows.toSeq.toDF("user_id", "ds", "start_s", "end_s", "description", "embedding")
      .select(col("user_id"), to_date(col("ds")).as("date"),
        col("start_s"), col("end_s"), col("description"),
        lit(null).cast("array<string>").as("interests"),
        col("embedding"))

  private val e1 = Seq(1f, 0f, 0f)
  private val e2 = Seq(0f, 1f, 0f)

  test("merge: chain a-b, b-c collapses to one interval; isolated survives") {
    // gaps: a→b 600s, b→c 600s, d far away; all same embedding (sim 1)
    val sess = SessionOps.withIds(sessionsDf(
      (1L, "2024-01-01", 36000, 36600, "a", e1),
      (1L, "2024-01-01", 37200, 37800, "b", e1),
      (1L, "2024-01-01", 38400, 39000, "c", e1),
      (1L, "2024-01-01", 80000, 80600, "d", e2)))
    val thresholds = Seq((1L, 700.0, 0.9)).toDF("user_id", "time_threshold_s", "similarity_threshold")
    val pairs = SessionOps.candidatePairs(sess, thresholds)
    val merged = SessionOps.merge(sess, pairs).orderBy("start_s").collect()
    assert(merged.length == 2)
    assert(merged(0).getAs[String]("description") == "a") // earliest keeps identity
    assert(merged(0).getAs[Int]("start_s") == 36000)
    assert(merged(0).getAs[Int]("end_s") == 39000) // extended over the chain
    assert(merged(0).getAs[Long]("n_merged") == 3)
    assert(merged(1).getAs[String]("description") == "d")

    // Random users against a nested-loop reference: pairs by the
    // candidate rule, components by min-label propagation, one interval
    // per component. Each user also carries a chain (four sessions 600 s
    // apart), a star (a centre and three mutually overlapping later
    // sessions) and a cross-midnight pair whose first session ends past
    // midnight, so the gap is negative.
    val rnd = new scala.util.Random(29)
    val users = 1L to 6L
    val rows = users.flatMap { u =>
      val random = (0 until 11).map { i =>
        val day = 1 + rnd.nextInt(5)
        val start = rnd.nextInt(40) * 1800
        val v = Seq.fill(3)((1 + rnd.nextInt(3)).toFloat)
        (u, f"2024-01-$day%02d", start, start + 600 + rnd.nextInt(3) * 600, s"r$u-$i", v)
      }
      val pv = Seq(1f, u.toFloat, 2f)
      random ++ Seq(
        (u, "2024-01-06", 36000, 36600, s"chain$u-0", pv),
        (u, "2024-01-06", 37200, 37800, s"chain$u-1", pv),
        (u, "2024-01-06", 38400, 39000, s"chain$u-2", pv),
        (u, "2024-01-06", 39600, 40200, s"chain$u-3", pv),
        (u, "2024-01-07", 32400, 43200, s"centre$u", pv),
        (u, "2024-01-07", 43500, 44400, s"leaf$u-0", pv),
        (u, "2024-01-07", 43800, 44700, s"leaf$u-1", pv),
        (u, "2024-01-07", 43300, 45000, s"leaf$u-2", pv),
        (u, "2024-01-08", 85000, 87000, s"late$u", pv),
        (u, "2024-01-09", 300, 900, s"early$u", pv))
    }
    val rs = SessionOps.withIds(sessionsDf(rows: _*)).cache()
    val th = users.map(u => (u, 900.0 + 300 * u, if (u % 2 == 0) 0.9 else 0.95))
    val local = rs.select("user_id", "id", "date", "start_s", "end_s", "start_ts",
        "end_ts", "description", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDate(2).toLocalDate,
        r.getInt(3), r.getInt(4), r.getLong(5), r.getLong(6), r.getString(7),
        r.getSeq[Float](8).map(_.toDouble)))
    def i9(x: Double): Long = { val v = x * 1e9; (math.signum(v) * math.floor(math.abs(v) + 0.5)).toLong }
    def cos(x: Seq[Double], y: Seq[Double]): Double = {
      val dot = x.zip(y).map { case (p, q) => p * q }.sum
      dot / (math.sqrt(x.map(v => v * v).sum) * math.sqrt(y.map(v => v * v).sum))
    }
    val thOf = th.map(t => t._1 -> t).toMap
    val refPairs = for {
      a <- local; b <- local
      if a._1 == b._1 && a._2 != b._2 &&
        (b._3.isAfter(a._3) || (b._3 == a._3 && b._4 >= a._5))
      gap = b._6 - a._7
      if gap >= -86400L && gap <= 86400L &&
        gap * 1000000000L <= i9(thOf(a._1)._2) && i9(cos(a._9, b._9)) >= i9(thOf(a._1)._3)
    } yield (a._2, b._2)
    val label = scala.collection.mutable.Map(local.map(s => s._2 -> s._2).toSeq: _*)
    var changed = true
    while (changed) {
      changed = false
      refPairs.foreach { case (a, b) =>
        val m = math.min(label(a), label(b))
        if (label(a) != m || label(b) != m) { label(a) = m; label(b) = m; changed = true }
      }
    }
    val expected = local.groupBy(s => label(s._2)).map { case (c, ss) =>
      val rep = ss.minBy(_._2)
      (rep._1, c, rep._3.toString, ss.map(_._4).min, ss.map(_._5).max, rep._8, ss.length.toLong)
    }.toSet
    val got = SessionOps.merge(rs, SessionOps.candidatePairs(rs,
        th.toDF("user_id", "time_threshold_s", "similarity_threshold")))
      .select(col("user_id"), col("id"), col("date").cast("string"), col("start_s"),
        col("end_s"), col("description"), col("n_merged"))
      .as[(Long, Long, String, Int, Int, String, Long)].collect()
    assert(got.length == got.toSet.size)
    assert(got.toSet == expected)
    // the reference exercised each case it is here for, in every user
    for (u <- users) {
      def comp(d: String) = label(local.find(_._8 == d).get._2)
      assert((0 to 3).map(i => comp(s"chain$u-$i")).distinct.size == 1, u)
      assert((0 to 2).map(i => comp(s"leaf$u-$i")).forall(_ == comp(s"centre$u")), u)
      assert(comp(s"late$u") == comp(s"early$u"), u)
    }
    val byUser = expected.groupBy(_._1)
    assert(byUser.keySet == users.toSet)
    assert(byUser.values.forall(cs => cs.exists(_._7 == 1L) && cs.exists(_._7 >= 4L)))
    rs.unpersist()
  }

  test("merge: building it runs no Spark job") {
    val sess = SessionOps.withIds(sessionsDf(
      (1L, "2024-01-01", 36000, 36600, "a", e1),
      (1L, "2024-01-01", 37200, 37800, "b", e1),
      (2L, "2024-01-01", 36000, 36600, "c", e1)))
    val th = Seq((1L, 700.0, 0.9), (2L, 700.0, 0.9))
      .toDF("user_id", "time_threshold_s", "similarity_threshold")
    val sc = spark.sparkContext
    val m = graft.core.JobMetrics.install(sc)
    try {
      val merged = m.group("build") { SessionOps.merge(sess, SessionOps.candidatePairs(sess, th)) }
      m.drain()
      assert(m.layers("build").jobs == 0L, m.layers("build"))
      assert(merged.select("n_merged").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    } finally sc.removeSparkListener(m)
  }

  test("merge respects similarity threshold") {
    // temporally adjacent but orthogonal embeddings → no merge
    val sess = SessionOps.withIds(sessionsDf(
      (1L, "2024-01-01", 36000, 36600, "a", e1),
      (1L, "2024-01-01", 37200, 37800, "b", e2)))
    val thresholds = Seq((1L, 700.0, 0.9)).toDF("user_id", "time_threshold_s", "similarity_threshold")
    val pairs = SessionOps.candidatePairs(sess, thresholds)
    assert(pairs.count() == 0)
    assert(SessionOps.merge(sess, pairs).count() == 2)
  }

  test("merge crosses days when gap is inside threshold") {
    val sess = SessionOps.withIds(sessionsDf(
      (1L, "2024-01-01", 86000, 86300, "a", e1), // ends 23:51:40
      (1L, "2024-01-02", 300, 600, "b", e1))) // starts 00:05 next day, gap 700s
    val thresholds = Seq((1L, 800.0, 0.9)).toDF("user_id", "time_threshold_s", "similarity_threshold")
    val merged = SessionOps.merge(sess, SessionOps.candidatePairs(sess, thresholds)).collect()
    assert(merged.length == 1)
    // reference GREATEST/LEAST on time-of-day: start = LEAST(86000, 300)!
    assert(merged(0).getAs[Int]("start_s") == 300)
    assert(merged(0).getAs[Int]("end_s") == 86300)
  }

  test("thresholds compute per-user gap/similarity percentiles") {
    val sess = SessionOps.withIds(sessionsDf(
      (1L, "2024-01-01", 36000, 36600, "a", e1),
      (1L, "2024-01-01", 37200, 37800, "b", e1),
      (1L, "2024-01-01", 39000, 39600, "c", e1)))
    val t = SessionOps.thresholds(sess).collect()
    assert(t.length == 1)
    // gaps 600 and 1200 → p10 = 660 (linear interpolation)
    assert(math.abs(t(0).getAs[Double]("time_threshold_s") - 660.0) < 1e-9)
    assert(math.abs(t(0).getAs[Double]("similarity_threshold") - 1.0) < 1e-9)
  }

  test("similarity graph: top-1 later edge above threshold, weight = 1 - sim") {
    val sess = SessionOps.withIds(sessionsDf(
      (1L, "2024-01-01", 36000, 36600, "a", e1),
      (1L, "2024-01-02", 36000, 36600, "b", e1), // parallel to a
      (1L, "2024-01-03", 36000, 36600, "c", e2))) // orthogonal
    val thresholds = Seq((1L, 0.0, 0.5)).toDF("user_id", "time_threshold_s", "similarity_threshold")
    val g = SessionOps.similarityGraph(sess, thresholds)
      .select("parent_id", "child_id", "weight").collect()
    // a→b (sim 1 > 0.5); b's only later is c (sim 0, filtered); c has none
    assert(g.length == 1)
    assert(math.abs(g(0).getAs[Double]("weight")) < 1e-9)

    // Random users against a nested-loop reference on the same 1e-9 grid.
    // Small-integer vectors put many sims on the same grid point, so the
    // smaller-child tie-break decides many ranks. Each user also carries
    // three planted sessions on one day: p (10:00-11:00), q starting at
    // p's end (same-day, b_start_s == a_end_s) and r later, all parallel.
    val rnd = new scala.util.Random(17)
    val users = (1L to 6L)
    val rows = users.flatMap { u =>
      val random = (0 until 12).map { i =>
        val day = 1 + rnd.nextInt(3)
        val start = rnd.nextInt(20) * 1800
        val v = Seq.fill(3)((1 + rnd.nextInt(3)).toFloat) // never a zero vector
        (u, f"2024-01-$day%02d", start, start + 600 + rnd.nextInt(3) * 600, s"r$u-$i", v)
      }
      val pv = Seq(u.toFloat, 2f, 1f)
      random ++ Seq(
        (u, "2024-01-05", 36000, 39600, s"p$u", pv),
        (u, "2024-01-05", 39600, 40200, s"q$u", pv),
        (u, "2024-01-05", 45000, 45600, s"r$u", pv))
    }
    val rs = SessionOps.withIds(sessionsDf(rows: _*)).cache()
    val local = rs.select("user_id", "id", "date", "start_s", "end_s", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDate(2).toLocalDate,
        r.getInt(3), r.getInt(4), r.getSeq[Float](5).map(_.toDouble)))
    def i9(x: Double): Long = { val v = x * 1e9; (math.signum(v) * math.floor(math.abs(v) + 0.5)).toLong }
    def cos(x: Seq[Double], y: Seq[Double]): Double = {
      val dot = x.zip(y).map { case (p, q) => p * q }.sum
      dot / (math.sqrt(x.map(v => v * v).sum) * math.sqrt(y.map(v => v * v).sum))
    }
    // best later child per parent: max sim_i9, then the smaller child id
    val best = (for {
      a <- local; b <- local
      if a._1 == b._1 && a._2 != b._2 &&
        (b._3.isAfter(a._3) || (b._3 == a._3 && b._4 >= a._5))
    } yield (a, b, i9(cos(a._6, b._6))))
      .groupBy(_._1._2).values
      .map(_.minBy { case (_, b, sim) => (-sim, b._2) }).toSeq
    // thresholds: odd users get their lowest best sim exactly (strict
    // compare, so those parents keep no edge), even users a fixed 0.8
    val th = users.map { u =>
      u -> (if (u % 2 == 1) best.filter(_._1._1 == u).map(_._3).min / 1e9 else 0.8)
    }.toMap
    val expected = best.filter { case (a, _, sim) => sim > i9(th(a._1)) }
      .map { case (a, b, sim) => (a._1, a._2, b._2, 1000000000L - sim) }.toSet
    val got = SessionOps.similarityGraph(rs, th.toSeq.map { case (u, t) => (u, 0.0, t) }
        .toDF("user_id", "time_threshold_s", "similarity_threshold"))
      .select("user_id", "parent_id", "child_id", "weight_ppb", "weight")
      .collect().map { r =>
        assert(r.getDouble(4) == r.getLong(3).toDouble / 1e9)
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      }
    assert(got.length == got.toSet.size)
    assert(got.toSet == expected)
    // the reference exercised each case it is here for
    val ties = best.filter { case (a, b, sim) =>
      local.exists(c => c._1 == a._1 && c._2 > b._2 && c._2 != a._2 &&
        (c._3.isAfter(a._3) || (c._3 == a._3 && c._4 >= a._5)) && i9(cos(a._6, c._6)) == sim)
    }
    assert(ties.size > 10, ties.size)
    val touching = expected.filter { case (_, p, c, _) =>
      val (a, b) = (local.find(_._2 == p).get, local.find(_._2 == c).get)
      a._3 == b._3 && b._4 == a._5
    }
    assert(touching.map(_._1) == users.toSet, touching)
    assert(best.exists { case (a, _, sim) => sim == i9(th(a._1)) })
    rs.unpersist()
  }

  test("similarity graph: one exact plan, at most 8 jobs") {
    // 40 users x 5 sessions: one join, one rank-1 aggregate, one
    // threshold broadcast (4 jobs here)
    val rows = for (u <- 1L to 40L; i <- 0 until 5)
      yield (u, f"2024-01-${i + 1}%02d", 36000, 36600, s"s$u-$i",
        Seq(1f, (u % 3).toFloat, i.toFloat))
    val sess = SessionOps.withIds(sessionsDf(rows: _*)).cache()
    val th = (1L to 40L).map(u => (u, 0.0, 0.5))
      .toDF("user_id", "time_threshold_s", "similarity_threshold").cache()
    sess.count(); th.count()
    val sc = spark.sparkContext
    val m = graft.core.JobMetrics.install(sc)
    try {
      val n = m.group("graph") { SessionOps.similarityGraph(sess, th).count() }
      m.drain()
      assert(n == 160L)
      assert(m.layers("graph").jobs <= 8L, m.layers("graph"))
    } finally {
      sc.removeSparkListener(m)
      sess.unpersist(); th.unpersist()
    }
  }
}

class InterestsExtractSpec extends SparkSpec {
  import spark.implicits._
  import graft.enrich.StubInterestsLLM

  test("two-turn extraction yields distinct per-day interests") {
    val df = Seq(
      (1L, "2024-01-01 09:00:00", "reading about spark"),
      (1L, "2024-01-01 09:30:00", "learning about catalyst"),
      (1L, "2024-01-01 10:00:00", "more spark"))
      .toDF("user_id", "s", "title")
      .select(col("user_id"), to_timestamp(col("s")).as("ts"), col("title"))
    val got = InterestsExtract.interests(df, new StubInterestsLLM).collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getAs[scala.collection.Seq[String]]("interests") == Seq("catalyst", "spark"))
    assert(r.getAs[Long]("count_invalid_responses") == 0)
    assert(r.getAs[scala.collection.Seq[scala.collection.Seq[String]]]("chunked_interests").length == 1)
  }
}

class LocalClusterSpec extends SparkSpec {
  import spark.implicits._
  import graft.cluster.LocalCluster

  test("kernel: two tight groups + noise") {
    def jitter(base: Array[Float], i: Int): Array[Float] =
      base.zipWithIndex.map { case (v, j) => v + (if (j == i % 3) 0.001f else 0f) }
    val g1 = (0 until 5).map(i => jitter(Array(1f, 0f, 0f), i))
    val g2 = (0 until 5).map(i => jitter(Array(0f, 1f, 0f), i))
    val noise = Array(Array(0.577f, 0.577f, 0.577f))
    val labels = LocalCluster.clusterVectors((g1 ++ g2 ++ noise).toArray, eps = 0.01, minClusterSize = 5)
    assert(labels.take(5).distinct.length == 1 && labels.take(5).head != -1)
    assert(labels.slice(5, 10).distinct.length == 1 && labels(5) != labels(0))
    assert(labels.last == -1)
  }

  test("per-key clustering is deterministic and keyed") {
    val rows = (0 until 12).map { i =>
      val key = (i % 2).toLong
      val vec = if (i < 6) Seq(1f, 0.001f * i, 0f) else Seq(0f, 1f, 0.001f * i)
      (key, s"item$i", vec)
    }
    val df = rows.toDF("user_id", "interest", "embedding")
    val a = LocalCluster.clusterPerKey(df, "user_id", "interest", "embedding",
      eps = 0.01, minClusterSize = 2).collect().map(r => (r.getLong(0), r.getString(1), r.getInt(3))).toSet
    val b = LocalCluster.clusterPerKey(df.repartition(7), "user_id", "interest", "embedding",
      eps = 0.01, minClusterSize = 2).collect().map(r => (r.getLong(0), r.getString(1), r.getInt(3))).toSet
    assert(a == b) // partitioning-independent
  }

  test("per-key clustering fails fast on a group over the row cap") {
    // the O(n²) local pass is only safe for bounded groups — an unbounded
    // group must die loudly at group entry, not OOM three stages later
    val big = (0 to LocalCluster.MaxGroupRows).map(i => (1L, s"i$i", Seq(1f, i.toFloat)))
    val e = intercept[Exception] {
      LocalCluster.clusterPerKey(big.toDF("user_id", "interest", "embedding"),
        "user_id", "interest", "embedding", eps = 0.01, minClusterSize = 2)
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains(s"${LocalCluster.MaxGroupRows}-row cap")), e.toString)
  }
}

class TakeoutIngestSpec extends SparkSpec {
  import graft.pipeline.TakeoutIngest

  test("golden: parse + derive + recency split over a fixture tree") {
    val root = java.nio.file.Files.createTempDirectory("takeout").toString
    def write(user: String, rows: Seq[String]): Unit = {
      val dir = java.nio.file.Paths.get(root, user)
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.writeString(dir.resolve("MyActivity.json"),
        "[" + rows.mkString(",") + "]")
    }
    def row(title: String, time: String): String =
      s"""{"header": "Search", "title": "$title", "titleUrl": "http://x",
         | "time": "$time", "products": ["Search"]}""".stripMargin
    write("alice", Seq(
      row("Searched for spark", "2024-01-01T10:00:00.000Z"),
      row("Searched for scala", "2024-01-20T11:30:00.000Z")))
    write("bob", Seq(
      row("Searched for ducks", "2024-02-01T09:15:00.000Z")))

    val (full, recent) = TakeoutIngest.parseAndSplit(spark, root)
    assert(full.count() == 3)
    val cols = full.columns.toSet
    assert(Set("user_id", "timestamp", "date", "hour", "month").subsetOf(cols))
    assert(!cols.contains("time"))
    val alice = full.filter(col("user_id") === "alice")
      .orderBy("timestamp").collect()
    assert(alice(0).getAs[String]("hour") == "10:00")
    assert(alice(0).getAs[String]("month") == "2024-01-01") // full date, sic
    // alice max=Jan 20 → only Jan 20 row is recent; bob's single row is recent
    val rec = recent.select("user_id").as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().sorted.toSeq
    assert(rec == Seq("alice", "bob"))
  }

  test("user_id is the directory name, for batch ingest and stream discovery") {
    import graft.streaming.StreamOps
    val root = java.nio.file.Files.createTempDirectory("takeout-names").toString
    // `a b` and `x%y` are percent-encoded in input_file_name()'s URI; `a+b`
    // is not, and form decoding would turn its `+` into a space
    val users = Seq("a b", "a+b", "x%y", "plain")
    users.foreach { u =>
      val dir = java.nio.file.Paths.get(root, u)
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.writeString(dir.resolve("MyActivity.json"),
        """[{"header": "Search", "title": "t", "time": "2024-01-01T10:00:00.000Z"}]""")
    }
    def ids(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("user_id").collect().map(_.getString(0)).toSet
    assert(ids(TakeoutIngest.parse(spark, root)) == users.toSet)
    val q = StreamOps.discoverUsers(spark, root, TakeoutIngest.takeoutSchema)
      .writeStream.format("memory").queryName("takeout_names")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    assert(ids(spark.table("takeout_names")) == users.toSet)
  }
}

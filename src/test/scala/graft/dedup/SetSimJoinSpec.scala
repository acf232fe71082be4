package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Prefix-filtered exact set-similarity join contract. Independent
  * reference: the brute-force all-pairs join over driver-side shingle
  * SETS — the no-false-negative theorem means the prefix-filtered result
  * must equal it EXACTLY (not approximately), on every corpus. */
class SetSimJoinSpec extends SparkSpec {

  private def shingleSet(text: String, k: Int): Set[String] =
    text.split(" ", -1).toSeq.sliding(k).filter(_.size == k)
      .map(_.mkString(" ")).toSet

  private def brute(docs: Seq[(Long, String)], tPpm: Long,
      k: Int): Set[(Long, Long, Long, Long)] =
    (for {
      (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
      sa = shingleSet(ta, k); sb = shingleSet(tb, k)
      i = (sa intersect sb).size.toLong
      u = sa.size + sb.size - i
      if u > 0 && i * 1000000L >= tPpm * u
    } yield (ia, ib, i, u)).toSet

  private def run(docs: Seq[(Long, String)], tPpm: Long, k: Int = 3) = {
    import spark.implicits._
    SetSimJoin.jaccardJoin(docs.toDF("doc_id", "text"), "doc_id", "text",
        tPpm, k)
      .select(col("id_a"), col("id_b"), col("i_n"), col("u_n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
  }

  /** The two exact paths agree: the join equals the corpus probing its
    * own index, restricted to new_id < old_id (the probe emits both
    * orientations), on ids, i_n, u_n and jac_ppm. */
  private def assertPathsAgree(docs: Seq[(Long, String)], tPpm: Long,
      k: Int = 3): Unit = {
    import spark.implicits._
    val df = docs.toDF("doc_id", "text")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.as[(Long, Long, Long, Long, Long)].collect().toSet
    val joined = SetSimJoin.jaccardJoin(df, "doc_id", "text", tPpm, k)
      .select("id_a", "id_b", "i_n", "u_n", "jac_ppm")
    val probed = SetSimJoin.probePrefixIndex(df, "doc_id", "text",
        SetSimJoin.prefixIndex(df, "doc_id", "text", tPpm, k), tPpm, k)
      .filter(col("new_id") < col("old_id"))
      .select("new_id", "old_id", "i_n", "u_n", "jac_ppm")
    assert(rows(joined) == rows(probed), s"t=$tPpm")
  }

  test("hand fixture: the near-dup pair survives, the unrelated doc does not") {
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy cat", // 6 of 8 shingles shared: J = 0.75
      3L -> "completely different words in this one here now")
    val out = run(docs, tPpm = 500000L)
    assert(out == Set((1L, 2L, 6L, 8L)))
    // at a stricter threshold the pair drops out — the boundary is exact
    assert(run(docs, tPpm = 800000L).isEmpty)
  }

  test("threshold boundary is the exact cross-multiplied integer test") {
    // shingles {abc,bcd,cde} vs {abc,bcd,cdf}: i=2, u=4 → J = 1/2
    // exactly — kept at t=0.5, dropped at t_ppm=500001
    val docs = Seq(1L -> "a b c d e", 2L -> "a b c d f")
    assert(run(docs, 500000L) == Set((1L, 2L, 2L, 4L)))
    assert(run(docs, 500001L).isEmpty)
  }

  test("degenerate identical corpus: the answer itself is all pairs") {
    val docs = (1L to 6L).map(i => i -> "same exact text in every document")
    val out = run(docs, 800000L)
    assert(out.size == 15) // C(6,2): exactness implies quadratic OUTPUT here
    assert(out.forall { case (_, _, i, u) => i == u })
  }

  test("randomized agreement with the brute-force join, planted near-dups") {
    val rnd = new scala.util.Random(19)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    def sentence(n: Int) =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    for (trial <- 1 to 5) {
      val base = (1L to 12L).map(i => i -> sentence(8 + rnd.nextInt(8)))
      // plant near-dups: copy with one token appended
      val planted = base.take(3).map { case (i, t) =>
        (i + 100L) -> (t + " " + vocab(rnd.nextInt(vocab.size)))
      }
      val docs = base ++ planted
      for (t <- Seq(300000L, 500000L, 700000L)) {
        assert(run(docs, t) == brute(docs, t, 3), s"trial $trial t=$t")
        assertPathsAgree(docs, t)
      }
    }
  }

  test("short documents (< k tokens) have no shingles and emit no pairs") {
    val docs = Seq(1L -> "a b", 2L -> "a b", 3L -> "a b c d e f")
    assert(run(docs, 100000L).isEmpty)
  }

  test("heterogeneous lengths: the length filter prunes without false negatives") {
    val rnd = new scala.util.Random(23)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    def sentence(n: Int) =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    // short docs EMBEDDED in much longer ones: the prefix filter admits
    // these pairs as candidates (they share rare shingles) but the size
    // ratio puts the Jaccard out of reach — the length filter's exact
    // pruning domain. Plus a same-length near-dup pair that must survive.
    val shorts = (1L to 4L).map(i => i -> sentence(6))
    val longs = shorts.map { case (i, t) =>
      (i + 50L) -> (t + " " + sentence(60))
    }
    val nearDup = Seq(200L -> sentence(20)).flatMap { case (i, t) =>
      Seq(i -> t, (i + 1L) -> (t + " " + vocab(0)))
    }
    val docs = shorts ++ longs ++ nearDup
    for (t <- Seq(300000L, 500000L, 800000L)) {
      assert(run(docs, t) == brute(docs, t, 3), s"t=$t")
      assertPathsAgree(docs, t)
    }
  }

  private def bruteCross(corpus: Seq[(Long, String)],
      batch: Seq[(Long, String)], tPpm: Long,
      k: Int): Set[(Long, Long, Long, Long)] =
    (for {
      (ib, tb) <- batch; (ic, tc) <- corpus
      sb = shingleSet(tb, k); sc = shingleSet(tc, k)
      i = (sb intersect sc).size.toLong
      u = sb.size + sc.size - i
      if u > 0 && i * 1000000L >= tPpm * u
    } yield (ib, ic, i, u)).toSet

  test("index probe equals the brute batch × corpus join — the theorem " +
      "holds across the boundary, including unseen batch shingles") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val vocab = Vector("ash", "oak", "fir", "elm", "yew", "bay")
    def sentence(n: Int) =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    for (trial <- 1 to 3) {
      val corpus = (1L to 10L).map(i => i -> sentence(8 + rnd.nextInt(6)))
      // batch: a near-copy of a corpus doc, a verbatim copy, and a doc
      // whose shingles are all UNSEEN by the index (f = 0 ordering path)
      val batch = Seq(
        101L -> (corpus.head._2 + " bay"),
        102L -> corpus(1)._2,
        103L -> "zzz yyy xxx www vvv uuu")
      for (t <- Seq(400000L, 600000L)) {
        val idx = SetSimJoin.prefixIndex(corpus.toDF("doc_id", "text"),
          "doc_id", "text", t, 3)
        val got = SetSimJoin.probePrefixIndex(batch.toDF("doc_id", "text"),
            "doc_id", "text", idx, t, 3)
          .select(col("new_id"), col("old_id"), col("i_n"), col("u_n"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).toSet
        assert(got == bruteCross(corpus, batch, t, 3), s"trial $trial t=$t")
      }
    }
  }

  test("probe length filter: short batch docs vs long index supersets, no false negatives") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val vocab = Vector("ash", "oak", "fir", "elm", "yew", "bay")
    def sentence(n: Int) =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    // the probe-side mirror of the jaccardJoin heterogeneous-length test:
    // every batch doc is a 6-token PREFIX of a 60-token indexed doc, so
    // prefix shingles collide (rare-shingle candidates) while the size
    // ratio puts Jaccard far below threshold — the length filter's
    // pruning branch — plus one same-length near-copy that must survive
    val longDocs = (1L to 4L).map(i => i -> sentence(66))
    val corpus = longDocs :+ (10L -> sentence(12))
    val batch = longDocs.map { case (i, t) =>
      (i + 100L) -> t.split(" ").take(6).mkString(" ")
    } :+ (110L -> (corpus.last._2 + " ash"))
    for (t <- Seq(300000L, 500000L, 800000L)) {
      val idx = SetSimJoin.prefixIndex(corpus.toDF("doc_id", "text"),
        "doc_id", "text", t, 3)
      val got = SetSimJoin.probePrefixIndex(batch.toDF("doc_id", "text"),
          "doc_id", "text", idx, t, 3)
        .select(col("new_id"), col("old_id"), col("i_n"), col("u_n"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(got == bruteCross(corpus, batch, t, 3), s"t=$t")
    }
  }

  test("mergeIntoIndex is row-identical to a full rebuild — randomized, " +
      "with unseen batch shingles and untouched-verbatim documents") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val vocab = Vector("ash", "oak", "fir", "elm", "yew", "bay")
    def sentence(n: Int) =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("tok"), col("f"), col("n"), col("is_prefix"),
          col("t_ppm"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getBoolean(4), r.getLong(5))).toSet
    for (trial <- 1 to 3) {
      // doc 99 shares NO shingle with any batch — its rows must pass
      // through verbatim (the untouched fast path)
      val corpus = (1L to 8L).map(i => i -> sentence(8 + rnd.nextInt(6))) :+
        (99L -> "k1 k2 k3 k4 k5 k6 k7")
      val batch = Seq(
        101L -> (corpus.head._2 + " bay"), // shifts frequencies of seen shingles
        102L -> sentence(10),
        103L -> "zzz yyy xxx www vvv uuu") // all shingles unseen (f from delta only)
      for (t <- Seq(400000L, 600000L)) {
        val base = SetSimJoin.prefixIndex(corpus.toDF("doc_id", "text"),
          "doc_id", "text", t, 3)
        val merged = SetSimJoin.mergeIntoIndex(batch.toDF("doc_id", "text"),
          "doc_id", "text", base, t, 3)
        val rebuilt = SetSimJoin.prefixIndex(
          (corpus ++ batch).toDF("doc_id", "text"), "doc_id", "text", t, 3)
        assert(rows(merged) == rows(rebuilt), s"trial $trial t=$t")
      }
    }
  }

  test("probe and merge REJECT an index built under a different threshold") {
    import spark.implicits._
    val corpus = Seq(1L -> "p q r s t u v w").toDF("doc_id", "text")
    val batch = Seq(2L -> "p q r s t").toDF("doc_id", "text")
    val idx = SetSimJoin.prefixIndex(corpus, "doc_id", "text", 500000L)
    intercept[IllegalArgumentException] {
      SetSimJoin.probePrefixIndex(batch, "doc_id", "text", idx, 600000L)
        .collect()
    }
    intercept[IllegalArgumentException] {
      SetSimJoin.mergeIntoIndex(batch, "doc_id", "text", idx, 600000L)
        .collect()
    }
  }

  test("index probe never pairs batch docs with each other") {
    import spark.implicits._
    val corpus = Seq(1L -> "p q r s t u v w")
    val batch = Seq(2L -> "a b c d e", 3L -> "a b c d e") // mutual dups
    val idx = SetSimJoin.prefixIndex(corpus.toDF("doc_id", "text"),
      "doc_id", "text", 500000L, 3)
    val got = SetSimJoin.probePrefixIndex(batch.toDF("doc_id", "text"),
      "doc_id", "text", idx, 500000L, 3).collect()
    assert(got.isEmpty) // batch-batch dedup is the NEXT index build's job
  }
}

package graft.similarity

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.functions._

class KnnSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf)
  private lazy val queries = emb.filter(col("vec_id") < 10)

  private def neighborSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.select("qid", "nn").collect()
      .groupBy(_.getLong(0)).map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }

  test("brute force: k neighbors each, self excluded, sims descending") {
    val got = Knn.bruteForce(emb, queries, "vec_id", "embedding", k = 5)
    val byQ = got.collect().groupBy(_.getAs[Long]("qid"))
    assert(byQ.size == 10)
    byQ.foreach { case (q, rows) =>
      assert(rows.length == 5)
      assert(!rows.map(_.getAs[Long]("nn")).contains(q))
      val sims = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("top1Later matches the declarative join+window form exactly") {
    import graft.functions.cosine_similarity
    import graft.queries.oround
    import org.apache.spark.sql.expressions.Window
    val a = emb.select(col("vec_id").as("src"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("dst"), col("embedding").as("eb"))
    val w = Window.partitionBy(col("src")).orderBy(col("sim").desc, col("dst"))
    val declarative = a.join(b, col("dst") > col("src"))
      .select(col("src"), col("dst"),
        oround(cosine_similarity(col("ea"), col("eb")), 6).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("src"), col("dst"), col("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val block = Knn.top1Later(emb, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(block == declarative)
    assert(block.nonEmpty)
  }

  test("top1Later: null embeddings yield null-sim rows, not executor NPEs") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq(1f, 0f))), (2L, None: Option[Seq[Float]]),
      (3L, Some(Seq(0f, 1f))), (4L, Some(Seq(1f, 1f))))
      .toDF("vec_id", "embedding")
    val bySrc = Knn.top1Later(df, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    assert(bySrc(2L) == ((3L, None))) // null vector → null sim, smallest dst
    assert(bySrc(1L)._2.nonEmpty) // 1 vs {3,4}: real sims computed
    assert(bySrc(3L) == ((4L, Some(0.707107)))) // cos 45° rounded to 6dp
    assert(!bySrc.contains(4L)) // max id has no later neighbor
  }

  test("top1Later rejects duplicate ids instead of silently diverging") {
    import spark.implicits._
    val df = Seq((1L, Seq(1f, 0f)), (1L, Seq(0f, 1f)), (2L, Seq(1f, 1f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Knn.top1Later(df, "vec_id", "embedding").collect()
    }
    assert(e.getMessage.contains("distinct"))
    // the size gate routes to the distributed plan, which enforces the same
    // contract (its failure surfaces as a require wrapped by Spark's action)
    val e2 = intercept[IllegalArgumentException] {
      Knn.top1Later(df, "vec_id", "embedding", localThreshold = 0L).collect()
    }
    assert(e2.getMessage.contains("distinct"))
  }

  test("top1Later beyond the size gate: distributed plan output is identical") {
    // localThreshold = 0 forces the block-partitioned distributed plan on
    // the full sf corpus; it must reproduce the broadcast-matrix plan's
    // output EXACTLY (same rounding, tie-breaks, null handling)
    def normalize(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    val local = normalize(Knn.top1Later(emb, "vec_id", "embedding"))
    val dist = normalize(
      Knn.top1Later(emb, "vec_id", "embedding", localThreshold = 0L, blocks = 5))
    assert(dist == local)
    assert(dist.nonEmpty)
    // edge semantics: null vectors and zero-norm vectors produce the same
    // null-sim fallback rows on both paths
    import spark.implicits._
    val edgy = Seq(
      (1L, Some(Seq(1f, 0f))), (2L, None: Option[Seq[Float]]),
      (3L, Some(Seq(0f, 0f))), // zero norm → null sim
      (4L, Some(Seq(0f, 1f))), (5L, Some(Seq(1f, 0f)))) // ties: 1 vs {5}
      .toDF("vec_id", "embedding")
    assert(normalize(Knn.top1Later(edgy, "vec_id", "embedding", localThreshold = 0L))
      == normalize(Knn.top1Later(edgy, "vec_id", "embedding")))
    // distributed plan must be an equi-join + partial agg: no nested loop,
    // no cartesian, no driver collect
    val plan = Knn.top1LaterDistributed(emb, "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("LSH recall vs brute force is substantial and grows with tables") {
    // note: the synthetic vectors are nearly isotropic (median pairwise
    // cosine ≈ 0) — the hardest case for LSH; recall here is bounded by the
    // candidate fraction, so the contract is "clearly better than the
    // candidate-fraction floor and monotone in tables", not a fixed 0.9
    val exact = neighborSets(Knn.bruteForce(emb, queries, "vec_id", "embedding", 10))
    def recallOf(tables: Int): Double = {
      val approx = neighborSets(
        Knn.lshTopK(emb, queries, "vec_id", "embedding", dim = 64, k = 10,
          nPlanes = 4, nTables = tables))
      exact.keys.map { q =>
        approx.get(q).map(a => a.intersect(exact(q)).size.toDouble / 10).getOrElse(0.0)
      }.sum / exact.size
    }
    val r2 = recallOf(2)
    val r8 = recallOf(8)
    info(f"LSH recall@10: 2 tables $r2%.3f, 8 tables $r8%.3f")
    assert(r8 > r2)
    assert(r8 > 0.3)
  }

  test("IVF recall with nprobe=3 beats nprobe=1") {
    val cents = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy(col("label"), col("i")).agg(avg(col("x").cast("double")).as("c"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("i"), col("c")))).as("cs"))
      .select(col("label"), expr("transform(cs, x -> cast(x.c as float))").as("cvec"))
    val exact = neighborSets(Knn.bruteForce(emb, queries, "vec_id", "embedding", 10))
    def recallOf(nprobe: Int): Double = {
      val approx = neighborSets(Knn.ivfTopK(emb, queries, "vec_id", "embedding",
        cents, "label", "cvec", k = 10, nprobe = nprobe))
      exact.keys.map { q =>
        approx.get(q).map(a => a.intersect(exact(q)).size.toDouble / 10).getOrElse(0.0)
      }.sum / exact.size
    }
    val r1 = recallOf(1)
    val r3 = recallOf(3)
    info(f"IVF recall@10: nprobe=1 $r1%.3f, nprobe=3 $r3%.3f")
    // label-centroids are weak quantizers for these near-isotropic vectors;
    // the contract is monotone recall in nprobe (and strictly useful at 3)
    assert(r3 >= r1)
    assert(r3 > 3 * r1)
  }

  test("persisted IVF index: identical top-k to online ivfTopK; pruned scan") {
    import graft.sources.IvfIndex
    val path = java.nio.file.Files.createTempDirectory("ivfidx").toString + "/idx"
    val idx = IvfIndex.build(emb, path, "vec_id", "embedding",
      nCentroids = 8, iters = 2)
    assert(idx.centroids.count() == 8)
    assert(idx.assignments.count() == emb.count())
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
        r.getAs[Long]("nn"), math.round(r.getAs[Double]("sim") * 1e6))).toSet
    // same centroids → the persisted-assignment serve must equal the
    // online recompute exactly (ranking, ties, nprobe dedup)
    val online = Knn.ivfTopK(emb, queries, "vec_id", "embedding",
      idx.centroids, "cid", "cvec", k = 10, nprobe = 3)
    val served = idx.topK(queries, "vec_id", "embedding", k = 10, nprobe = 3)
    assert(norm(served) == norm(online))
    assert(norm(served).nonEmpty)
    // a 1-probe query must reach the scan as a LITERAL partition filter on
    // cid — the standing-index point: unprobed partitions are never read
    val one = idx.topK(emb.filter(col("vec_id") === 0L), "vec_id", "embedding",
      k = 3, nprobe = 1)
    one.collect()
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), plan)
    assert("PartitionFilters: \\[[^\\]]*cid".r.findFirstIn(plan).nonEmpty, plan)
  }

  test("IVF completeness: probing every centroid reproduces brute force") {
    // nprobe = nCentroids ⇒ the candidate set is the whole corpus, so the
    // approximate plan must collapse to the exact answer — the limiting
    // case that pins the pruning as the ONLY source of approximation
    import graft.sources.IvfIndex
    val path = java.nio.file.Files.createTempDirectory("ivfall").toString + "/idx"
    val idx = IvfIndex.build(emb, path, "vec_id", "embedding",
      nCentroids = 6, iters = 1)
    val exact = neighborSets(Knn.bruteForce(emb, queries, "vec_id", "embedding", 10))
    val full = neighborSets(idx.topK(queries, "vec_id", "embedding", k = 10, nprobe = 6))
    assert(full == exact)
  }

  test("IVF exact serve with rounded ranking ≡ rounded brute force, row for row") {
    // the q94 contract: nprobe = nCentroids + simDecimals pins the persisted
    // index's serve path to the oracle-checkable exact answer, including
    // rank order and the rounded sim VALUES (not just neighbor sets)
    import graft.sources.IvfIndex
    import graft.queries.oround
    val path = java.nio.file.Files.createTempDirectory("ivfexact").toString + "/idx"
    val idx = IvfIndex.build(emb, path, "vec_id", "embedding",
      nCentroids = 6, iters = 1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("sim").desc, col("nn"))
    val exact = broadcast(queries.select(col("vec_id").as("qid"), col("embedding").as("qvec")))
      .join(emb.select(col("vec_id").as("nn"), col("embedding").as("nvec")),
        col("nn") =!= col("qid"))
      .select(col("qid"), col("nn"),
        oround(graft.functions.cosine_similarity(col("qvec"), col("nvec")), 6).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "nn", "sim").orderBy("qid", "rank")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val served = idx.topK(queries, "vec_id", "embedding", k = 10, nprobe = 6,
      simDecimals = Some(6))
    assert(rows(served) == rows(exact))
  }

  test("IVF index upsert drops a DRAINED centroid partition (no stale file)") {
    // 4 orthogonal-ish vectors, nCentroids = 4, 1 iteration → every vector
    // is its own singleton centroid partition. Moving id 1 onto id 2's
    // vector drains id 1's old partition: dynamic overwrite alone would
    // leave its stale file (overwrite only rewrites partitions receiving
    // rows), so upsert must delete the drained directory explicitly.
    import graft.sources.IvfIndex
    import spark.implicits._
    val corpus = Seq(
      (1L, Seq(1f, 0f, 0f)), (2L, Seq(0f, 1f, 0f)),
      (3L, Seq(0f, 0f, 1f)), (4L, Seq(1f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("ivfdrain").toString + "/idx"
    val idx = IvfIndex.build(corpus, path, "vec_id", "embedding",
      nCentroids = 4, iters = 1)
    assert(idx.assignments.select("cid").distinct().count() == 4)
    idx.upsert(Seq((1L, Seq(0f, 1f, 0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val after = idx.assignments
    assert(after.count() == 4)
    assert(after.groupBy("id").count().filter(col("count") > 1).count() == 0)
    assert(after.select("cid").distinct().count() == 3) // drained partition gone
    val cidOf = after.select("id", "cid").as[(Long, Long)].collect().toMap
    assert(cidOf(1L) == cidOf(2L)) // the moved id lives with its new centroid
  }

  test("IVF index upsert: inserts, moves across centroids, no stale rows") {
    import graft.sources.IvfIndex
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("ivfup").toString + "/idx"
    val idx = IvfIndex.build(emb, path, "vec_id", "embedding",
      nCentroids = 6, iters = 2)
    val n0 = idx.assignments.count()
    // one brand-new vector + one existing id whose vector is replaced by a
    // copy of a DIFFERENT document's embedding (likely a different centroid)
    val donor = emb.filter(col("vec_id") === 400L)
      .select(col("embedding")).as[Seq[Float]].head()
    val changes = emb.filter(col("vec_id") === 7L)
      .select(lit(990001L).as("vec_id"), col("embedding"))
      .unionByName(Seq((3L, donor)).toDF("vec_id", "embedding"))
    idx.upsert(changes, "vec_id", "embedding")
    val after = idx.assignments
    assert(after.count() == n0 + 1) // 1 insert, 1 in-place move
    // every id appears exactly once — a moved id leaves no stale row behind
    assert(after.groupBy("id").count().filter(col("count") > 1).count() == 0)
    // the moved id landed on the donor's centroid, the insert on id 7's
    val cidOf = after.filter(col("id").isin(3L, 7L, 400L, 990001L))
      .select("id", "cid").as[(Long, Long)].collect().toMap
    assert(cidOf(3L) == cidOf(400L))
    assert(cidOf(990001L) == cidOf(7L))
    // serving over the updated index still equals the online recompute
    // over the updated corpus with the same centroids
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
        r.getAs[Long]("nn"), math.round(r.getAs[Double]("sim") * 1e6))).toSet
    val corpus2 = after.select(col("id").as("vec_id"), col("vec").as("embedding"))
    val online = Knn.ivfTopK(corpus2, queries, "vec_id", "embedding",
      idx.centroids, "cid", "cvec", k = 10, nprobe = 3)
    assert(norm(idx.topK(queries, "vec_id", "embedding", k = 10, nprobe = 3))
      == norm(online))
  }

  test("IVF index upsert: a crash between a partition's delete and its " +
      "rename is finished by the retry, not lost") {
    import graft.sources.IvfIndex
    import spark.implicits._
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    def copyTree(from: Path, to: Path): Unit =
      Files.walk(from).iterator().asScala.toList.foreach { p =>
        val q = to.resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(q)
        else Files.copy(p, q)
      }
    def deleteTree(p: Path): Unit =
      Files.walk(p).iterator().asScala.toList.reverse.foreach(Files.delete)
    def rows(idx: IvfIndex) =
      idx.assignments.select("id", "cid", "vec").as[(Long, Long, Seq[Float])]
        .collect().toSet
    val root = Files.createTempDirectory("ivfcrash")
    val (done, crashed) = (root.resolve("done"), root.resolve("crashed"))
    IvfIndex.build(emb, done.toString, "vec_id", "embedding",
      nCentroids = 6, iters = 2)
    copyTree(done, crashed) // the pre-upsert state
    val donor = emb.filter(col("vec_id") === 400L)
      .select(col("embedding")).as[Seq[Float]].head()
    val changes = emb.filter(col("vec_id") === 7L)
      .select(lit(990001L).as("vec_id"), col("embedding"))
      .unionByName(Seq((3L, donor)).toDF("vec_id", "embedding"))
    val crashFree = new IvfIndex(spark, done.toString)
    crashFree.upsert(changes, "vec_id", "embedding")
    val want = rows(crashFree)
    // The crash state: staging committed with the merged copy of every
    // touched partition, and one touched live partition already deleted.
    def byCid(dir: Path) =
      rows(new IvfIndex(spark, dir.toString)).groupBy(_._2)
    val (before, after) = (byCid(crashed), byCid(done))
    val touched = (before.keySet ++ after.keySet)
      .filter(c => before.get(c) != after.get(c)).toSeq.sorted
    val staging = crashed.resolve("assignments_staging")
    Files.createDirectories(staging)
    touched.filter(after.contains).foreach(c =>
      copyTree(done.resolve(s"assignments/cid=$c"), staging.resolve(s"cid=$c")))
    Files.createFile(staging.resolve("_SUCCESS"))
    val lost = touched.filter(c => before.contains(c) && after.contains(c)).head
    deleteTree(crashed.resolve(s"assignments/cid=$lost"))
    val retried = new IvfIndex(spark, crashed.toString)
    retried.upsert(changes, "vec_id", "embedding")
    val got = rows(retried)
    assert(got == want, s"${(want -- got).size} crash-free rows missing, " +
      s"${(got -- want).size} extra")
    assert(!Files.exists(staging))
  }

  // the q34/q35 scratch-oracle decomposition: candidates + exactRerank
  // must reproduce the fused topK forms (same neighbors, same rank order
  // up to 6-decimal rounded-sim ranking — the q94 determinism contract)
  test("candidates + exactRerank ≡ fused lshTopK / ivfTopK") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "nn").orderBy("qid", "rank")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val lshFused = Knn.lshTopK(emb, queries, "vec_id", "embedding", dim = 64, k = 10)
    val lshSplit = Knn.exactRerank(
      Knn.lshCandidates(emb, queries, "vec_id", "embedding", dim = 64),
      emb, "vec_id", "embedding", k = 10, decimals = 6)
    assert(rows(lshSplit) == rows(lshFused))
    val cents = emb.groupBy(col("label"))
      .agg(graft.functions.vector_mean(col("embedding")).as("cd"))
      .select(col("label"), col("cd").cast("array<float>").as("cvec"))
    val ivfFused = Knn.ivfTopK(emb, queries, "vec_id", "embedding",
      cents, "label", "cvec", k = 10, nprobe = 3)
    val ivfSplit = Knn.exactRerank(
      Knn.ivfCandidates(emb, queries, "vec_id", "embedding", cents, "label", "cvec", nprobe = 3),
      emb, "vec_id", "embedding", k = 10, decimals = 6)
    assert(rows(ivfSplit) == rows(ivfFused))
    // and the persisted-index decomposition (q36's scratch frame)
    import graft.sources.IvfIndex
    val path = java.nio.file.Files.createTempDirectory("ivfcand").toString + "/idx"
    val idx = IvfIndex.build(emb, path, "vec_id", "embedding", nCentroids = 6, iters = 1)
    val idxFused = idx.topK(queries, "vec_id", "embedding", k = 10, nprobe = 3,
      simDecimals = Some(6))
    val idxSplit = Knn.exactRerank(
      idx.candidates(queries, "vec_id", "embedding", nprobe = 3),
      emb, "vec_id", "embedding", k = 10, decimals = 6)
    assert(rows(idxSplit) == rows(idxFused))
  }

  test("candidate generation plans: bucket equi-joins, never all-pairs") {
    // q34/q35 are sideEffecting in PlanAuditSpec (scratch writes), so the
    // pair-generating joins are pinned here: LSH candidates key on
    // (table, bucket); IVF candidates on the probed centroid id. The only
    // BNLJ anywhere is ivfAssign's deliberate broadcast of the tiny
    // centroid frame.
    val cents = emb.groupBy(col("label"))
      .agg(graft.functions.vector_mean(col("embedding")).as("cd"))
      .select(col("label"), col("cd").cast("array<float>").as("cvec"))
    val lshPlan = Knn.lshCandidates(emb, queries, "vec_id", "embedding", dim = 64)
      .queryExecution.executedPlan.toString
    val ivfPlan = Knn.ivfCandidates(emb, queries, "vec_id", "embedding",
      cents, "label", "cvec", nprobe = 3).queryExecution.executedPlan.toString
    assert(!lshPlan.contains("CartesianProduct"), lshPlan.take(1500))
    assert(!lshPlan.contains("BroadcastNestedLoopJoin"), lshPlan.take(1500))
    assert(lshPlan.contains("bucket"), lshPlan.take(1500))
    assert(!ivfPlan.contains("CartesianProduct"), ivfPlan.take(1500))
    assert(ivfPlan.contains("cid"), ivfPlan.take(1500))
  }
}

package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.cosine_similarity
import graft.similarity.Knn

/** Persisted IVF index: centroids + nearest-centroid assignments written
  * once, assignments PARTITIONED BY centroid id. Repeated ANN queries then
  * cost one pruned scan of the probed centroid partitions — the engine's
  * analogue of the reference's standing pgvector index
  * (resources/postgres_resource.py:120-206), instead of re-assigning the
  * whole corpus per query the way `Knn.ivfTopK` does.
  *
  * Layout: `<path>/centroids` (cid, cvec — tiny, one file) and
  * `<path>/assignments/cid=<c>/…` (id, vec per corpus row).
  *
  * 100 TB shape: the corpus is scanned twice per build iteration (assign +
  * re-center, both map-side-combinable against a broadcast centroid set) and
  * once for the final write, which shuffles on cid — bounded, linear passes.
  * Serving never touches unprobed partitions: probed cids become a LITERAL
  * `isin` partition filter (collecting them is bounded by nCentroids, small
  * by IVF construction), so pruning is static and visible in the scan node.
  */
final class IvfIndex(spark: SparkSession, path: String) {

  // Centroids are IMMUTABLE after build ([[upsert]] assigns to existing
  // centroids, never moves them), so the handle — file listing + schema
  // inference, each a driver round-trip and the inference a Spark job —
  // is resolved once per instance (measured r17: q233 paid 9 parquet
  // metadata jobs across its two upserts + serve).
  private lazy val centroidsDf: DataFrame =
    spark.read.parquet(s"$path/centroids")

  def centroids: DataFrame = centroidsDf

  /** The vector element type travels with the build (float is preserved,
    * everything else widened to double — see [[IvfIndex.build]]); the
    * assignments schema is derived from the centroid schema instead of
    * re-inferred per read. */
  private def vecType: org.apache.spark.sql.types.DataType =
    centroidsDf.schema("cvec").dataType

  private def assignmentsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("vec", vecType),
    // user-specified schema types the DIRECTORY partition column as long
    // directly (inference would read it as int and force a cast that
    // can block static partition pruning on the isin filters below)
    org.apache.spark.sql.types.StructField("cid",
      org.apache.spark.sql.types.LongType)))

  // The assignments handle is cached per instance and invalidated by
  // [[upsert]] (the one mutation): repeated serves re-used the same file
  // set but paid a fresh listing + schema-inference job per read.
  private var assignmentsDf: Option[DataFrame] = None

  /** cid is a directory-partition column on disk, typed long by the
    * explicit read schema. */
  def assignments: DataFrame = assignmentsDf.getOrElse {
    val df = spark.read.schema(assignmentsSchema)
      .parquet(s"$path/assignments")
    assignmentsDf = Some(df)
    df
  }

  /** Incremental maintenance: upsert vectors into the standing index
    * WITHOUT a rebuild. Changes are assigned to their nearest EXISTING
    * centroid; a changed id whose vector moved to a different centroid is
    * located via one column-pruned scan of (id, cid), and only the touched
    * centroid partitions (old ∪ new homes) are read, rewritten to a
    * cid-partitioned staging dir, and installed by per-partition rename —
    * the same per-partition MERGE shape as [[VectorStore.merge]].
    * Centroids drift from optimal as data accretes; rebuild when recall
    * degrades.
    *
    * Crash safety: the install deletes each touched live partition
    * before renaming its merged copy in, so a crash between the two
    * leaves the staged copy as the ONLY copy of that partition's
    * unchanged rows. A staging dir whose write committed (`_SUCCESS`) is
    * therefore finished first — its partitions installed — before the
    * assignments are read or staging is overwritten. Re-running the SAME
    * upsert after a crash then gives the crash-free result: upsert is
    * replace-by-id, so the changed ids are anti-joined out of wherever
    * they still live (including a drained partition the crash left
    * undeleted) and re-inserted at their new homes. */
  def upsert(changes: DataFrame, idCol: String, vecCol: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(s"$path/assignments_staging")
    if (fs.exists(new org.apache.hadoop.fs.Path(staging, "_SUCCESS")))
      install(fs, staging, Seq.empty)
    val asg = assignments
    val assigned = Knn.ivfAssign(
        changes.select(col(idCol).cast("long").as("id"),
          col(vecCol).cast("array<float>").as("vec")),
        "id", "vec", centroids, "cid", "cvec", 1)
      .select(col("id"), col("vec"), col("cid"))
    val changedIds = assigned.select("id").distinct()
    // Touched centroids as a LITERAL partition filter (the topK probe
    // collect's argument: both cid sets are bounded by nCentroids, small
    // by IVF construction). The previous semi-join shape re-scanned the
    // WHOLE assignments table to select touched rows; the literal isin
    // prunes the touched read statically — at 100 TB the merge then reads
    // only the touched centroid partitions, which is the point of
    // partitioning the store by cid in the first place. Two bounded
    // collects: the old homes of changed ids (one column-pruned scan of
    // (id, cid) — the documented lookup) and the new homes.
    val touchedCids = asg.join(changedIds, Seq("id"), "left_semi")
      .select("cid")
      .union(assigned.select("cid"))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted
    // Materialize the merge result DURABLY before touching the files its
    // plan reads: `.cache()` is only best-effort — if cached blocks are
    // evicted or lost (memory pressure, executor failure) after the
    // install starts, recomputation would reread the now-replaced
    // assignment files and silently corrupt the merge. A staging-parquet
    // write is a real barrier: nothing downstream depends on the
    // pre-write assignment files. Staging is written PARTITIONED BY cid
    // (r17): the merged rows land already in their final per-partition
    // layout, so the repopulated set is a DIRECTORY LISTING instead of a
    // distinct+collect job, and installing the merge is a per-partition
    // RENAME instead of a second read-back write job — two driver
    // round-trips per upsert gone, the install cost is fs metadata.
    val touched = asg.filter(col("cid").isin(touchedCids: _*))
    touched.join(changedIds, Seq("id"), "left_anti")
      .unionByName(assigned)
      .select(col("id"), col("vec"), col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(staging.toString)
    install(fs, staging, touchedCids)
  }

  /** Install a committed staging dir: every staged partition replaces its
    * live copy, and every other `touched` partition is dropped as drained
    * (a centroid whose last occupant moved away) — the same
    * per-partition replacement outcome a dynamic partition overwrite +
    * drained-partition delete gives. Staging goes last, and with it the
    * cached assignments handle (the store's file set changed). */
  private def install(fs: org.apache.hadoop.fs.FileSystem,
      staging: org.apache.hadoop.fs.Path, touched: Seq[Long]): Unit = {
    val staged = fs.listStatus(staging)
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("cid=")).map(_.stripPrefix("cid=").toLong).toSet
    (touched ++ staged.toSeq.sorted).distinct.foreach { c =>
      val live = new org.apache.hadoop.fs.Path(s"$path/assignments/cid=$c")
      if (fs.exists(live)) fs.delete(live, true): Unit
      if (staged(c))
        require(fs.rename(new org.apache.hadoop.fs.Path(staging, s"cid=$c"), live),
          s"rename $staging/cid=$c -> $live failed")
    }
    fs.delete(staging, true)
    assignmentsDf = None
  }

  /** The candidate half of [[topK]] alone: distinct (qid, nn) pairs from
    * the probed partitions, for the scratch-table oracle mechanism (q36
    * writes these to parquet; DuckDB replays the exact scoring + ranking
    * from them — the same upgrade q34/q35 got from `Knn.lshCandidates`/
    * `ivfCandidates`). Partition pruning is identical to [[topK]]'s. */
  def candidates(queries: DataFrame, idCol: String, vecCol: String,
      nprobe: Int): DataFrame = {
    val probes = Knn.ivfAssign(
        queries.select(col(idCol).as("qid"), col(vecCol).as("qvec")),
        "qid", "qvec", centroids, "cid", "cvec", nprobe)
      .select(col("cid"), col("qid"))
    val probed = probes.select("cid").distinct()
      .collect().map(_.getLong(0)).toSeq
    val cand = assignments
      .filter(col("cid").isin(probed: _*))
      .select(col("cid"), col("id").as("nn"))
    broadcast(probes).join(cand, "cid")
      .filter(col("nn") =!= col("qid"))
      .select(col("qid"), col("nn")).distinct()
  }

  /** Top-k cosine over the index: queries probe their `nprobe` nearest
    * centroids, candidates come from the probed partitions only, exact
    * scoring + rank runs within candidates (identical ranking semantics to
    * `Knn.ivfTopK` over the same centroids — pinned in KnnSpec).
    *
    * With `nprobe` ≥ the centroid count the serve degenerates to EXACT
    * top-k: every corpus partition is probed, so candidates = the whole
    * corpus and the result equals brute force — the oracle-checkable case
    * (q94). `simDecimals = Some(n)` ranks on the n-decimal-rounded
    * similarity (cross-engine determinism: ranking raw doubles risks rank
    * flips from last-bit differences); None keeps raw-sim ranking. */
  def topK(queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nprobe: Int = 2, simDecimals: Option[Int] = None): DataFrame = {
    val cents = centroids
    val probes = Knn.ivfAssign(
        queries.select(col(idCol).as("qid"), col(vecCol).as("qvec")),
        "qid", "qvec", cents, "cid", "cvec", nprobe)
      .select(col("cid"), col("qid"), col("qvec"))
    val probed = probes.select("cid").distinct()
      .collect().map(_.getLong(0)).toSeq
    val cand = assignments
      .filter(col("cid").isin(probed: _*))
      .select(col("cid"), col("id").as("nn"), col("vec").as("nvec"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nn"))
    val rawSim = cosine_similarity(col("qvec"), col("nvec"))
    val sim = simDecimals.map(graft.queries.oround(rawSim, _)).getOrElse(rawSim)
    broadcast(probes).join(cand, "cid")
      .filter(col("nn") =!= col("qid"))
      .select(col("qid"), col("nn"), col("qvec"), col("nvec")).distinct()
      .select(col("qid"), col("nn"), sim.as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}

object IvfIndex {

  /** Lloyd's k-means with deterministic seeding: the initial centroids are
    * the `nCentroids` corpus vectors with the smallest `xxhash64(id, seed)`
    * (a TakeOrdered, not a full sort), refined for `iters` rounds of
    * broadcast-assign + VectorMean re-center. Empty centroids drop out. */
  def build(corpus: DataFrame, path: String, idCol: String, vecCol: String,
      nCentroids: Int, iters: Int = 3, seed: Long = 42L): IvfIndex = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // element type is PRESERVED (float stays float, anything else widens
    // to double): truncating computed double embeddings to float would
    // perturb every stored element by ~6e-8 relative — enough to flip
    // served ranks against a double-precision recompute on the 1e-9 grid
    // (q224's oracle). Widening float→double at read time is exact, so
    // float-sourced corpora (q36/q94/q106) are bit-unchanged.
    val elemIsFloat = corpus.select(col(vecCol)).schema.head.dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }
    val vecType = if (elemIsFloat) "array<float>" else "array<double>"
    val base = corpus.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast(vecType).as("vec"))
    // seed centroids on the driver: one TakeOrdered job for nCentroids rows
    // (bounded small by IVF construction — the same argument as the probe
    // collect in topK) instead of a limit + single-partition rank window
    val seedRows = base.orderBy(xxhash64(col("id"), lit(seed)), col("id"))
      .limit(nCentroids)
      .select(col("id"), col("vec"))
    var cents = (if (elemIsFloat)
        spark.createDataset(
          seedRows.as[(Long, Seq[Float])]
            .collect().sortBy(_._1).zipWithIndex
            .map { case ((_, v), i) => (i.toLong + 1, v) }.toSeq)
          .toDF("cid", "cvec")
      else
        spark.createDataset(
          seedRows.as[(Long, Seq[Double])]
            .collect().sortBy(_._1).zipWithIndex
            .map { case ((_, v), i) => (i.toLong + 1, v) }.toSeq)
          .toDF("cid", "cvec"))
    for (it <- 0 until iters) {
      val assigned = Knn.ivfAssign(base, "id", "vec", cents, "cid", "cvec", 1)
      val prev = cents
      // materialize each iteration's centroids (a tiny nCentroids-row
      // frame): without this, iteration k's corpus scan lazily recomputes
      // iterations 1..k-1, turning Lloyd's linear passes into O(iters²)
      // scans — at corpus scale that's the whole build cost. The LAST
      // iteration materializes through the centroid write below instead of
      // a separate count job.
      cents = assigned.groupBy(col("cid"))
        .agg(graft.functions.vector_mean(col("vec")).as("cd"))
        .select(col("cid"), col("cd").cast(vecType).as("cvec"))
      if (it < iters - 1) {
        cents = cents.cache()
        cents.count()
        prev.unpersist()
      } else {
        // the write below materializes the last iteration from prev's
        // cache; prev is released right after
        cents.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
        prev.unpersist()
      }
    }
    if (iters == 0)
      cents.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    val idx = new IvfIndex(spark, path)
    Knn.ivfAssign(base, "id", "vec", idx.centroids, "cid", "cvec", 1)
      .select(col("id"), col("vec"), col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$path/assignments")
    idx
  }
}

package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted INVERTED INDEX for text retrieval — the standing-index
  * analogue of `sources.IvfIndex` for the lexical shelf: build the
  * postings ONCE, persist them partitioned by a token-hash bucket, and
  * serve every q184-style BM25 batch and q210-style phrase probe from
  * the index instead of re-deriving (doc, tok, tf) / (doc, pos, tok)
  * from the corpus per run. This is the shape of the reference's
  * standing Postgres tables + index queried per request
  * (assets/recent_history.py:134,368-371) — the corpus is read at BUILD
  * time; a serve touches only the probed index partitions.
  *
  * Layout (all parquet under `path`):
  *  - `postings/bkt=<b>/…`  (tok, doc_id, tf) — term postings.
  *  - `positions/bkt=<b>/…` (tok, doc_id, pos) — positional postings.
  *  - `df/bkt=<b>/…`        (tok, df) — document frequencies, a
  *    vocabulary-sized table of their own (NOT denormalized onto the
  *    posting rows: df is the one GLOBAL statistic here, and keeping it
  *    separate is what makes [[merge]] append-only for the
  *    corpus-sized tables — folding a batch in only ever REWRITES the
  *    small df table, never the postings).
  *  - `lengths/…`           (doc_id, dl) — document lengths.
  *  - `stats/…`             (t, nd) — 1-row corpus totals.
  *
  * `bkt = pmod(xxhash64(tok), nBuckets)` is a DIRECTORY partition, so a
  * probe's terms resolve to a literal `isin` partition filter (the
  * IvfIndex discipline: collecting the probed buckets is bounded by the
  * probe term count — a serving workload, small next to the corpus) and
  * pruning is static and visible in the scan node. 100 TB shape: the
  * build is two linear corpus passes (postings groupBy, df groupBy)
  * plus the bucketed write's shuffle; a serve reads ≤ the probed
  * buckets' postings — cost tracks the probe set and the matched
  * posting lists, never the corpus (`ScaleSmoke postings_index_probe`).
  */
final class PostingsIndex(spark: SparkSession, path: String, nBuckets: Int) {

  // Table handles memoized per instance: every `spark.read.parquet` pays
  // a file listing plus a schema-inference Spark job (driver round-trips
  // — measured r17: q224's four index-backed serves re-resolved the same
  // four tables per serve, 16 metadata jobs per run), but a table's file
  // set only changes when THIS index mutates — so the handles live until
  // [[merge]]/[[compact]]/[[buildImpacts]] drop them. Plan metadata only:
  // every action still computes from the parquet files. Same single-
  // writer serving contract the serves already carry (see
  // [[bm25TopKImpact]]'s plan-time staleness note).
  private val tableCache =
    scala.collection.mutable.HashMap.empty[String, DataFrame]
  private def table(name: String): DataFrame =
    tableCache.getOrElseUpdate(name, spark.read.parquet(s"$path/$name"))
  private def invalidateTables(): Unit = tableCache.clear()

  // The 1-row corpus totals, folded forward across THIS instance's own
  // merges (the r17 ledger-cache discipline, same single-writer
  // contract): the first merge pays the stats collect, every later
  // merge in the same ingest loop knows the value it just committed.
  private var statsCache: Option[(Long, Long)] = None

  def postings: DataFrame = table("postings")
  def positions: DataFrame = table("positions")
  def docFreq: DataFrame = table("df")
  def lengths: DataFrame = table("lengths")
  def stats: DataFrame = table("stats")

  /** Per-term (max_tf, min_dl) score-bound corners — vocabulary-sized,
    * written by `build(withBounds = true)` and maintained by [[merge]]
    * (both facts are mergeable: max/min combine). Present only on
    * indexes built for the MaxScore serve. */
  def bounds: DataFrame = table("bounds")

  private def hasBounds: Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$path/bounds")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Whether this index carries the positional table (built with
    * `withPositions = true`) — merge/compact skip it when absent. */
  private def hasPositions: Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$path/positions")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** nBuckets validated ONCE against the persisted layout: opening an
    * index with a different bucket count would route probe terms to the
    * wrong partition directories — matches silently pruned away, merges
    * appended into wrong buckets — so every bucket computation goes
    * through this check instead of the raw constructor argument.
    * (Prefer [[PostingsIndex.open]], which reads the count from disk.) */
  private lazy val checkedBuckets: Long = {
    val stored = spark.read.parquet(s"$path/meta")
      .select(col("n_buckets")).collect()(0).getLong(0)
    require(stored == nBuckets.toLong,
      s"index at $path was built with n_buckets=$stored, opened with $nBuckets")
    stored
  }

  /** The probed buckets of a term frame as a literal partition filter.
    * The collect is bounded by the DISTINCT probe terms (serving-batch
    * sized by construction — same argument as IvfIndex.topK's probe
    * collect). Public so a caller serving SEVERAL rankers from the same
    * probe frame (q224's eval) can pay the collect ONCE and hand the
    * result to each serve instead of one driver round-trip per ranker. */
  def bucketsOf(toks: DataFrame): Seq[Long] =
    toks.select(pmod(xxhash64(col("tok")), lit(checkedBuckets)).as("bkt"))
      .distinct().collect().map(_.getLong(0)).toSeq

  private def probedBuckets(toks: DataFrame): Seq[Long] = bucketsOf(toks)

  /** Top-`k` BM25 per probe, served from the PERSISTED index: identical
    * scoring to `Bm25.topK` by construction (both call `Bm25.contrib` /
    * `Bm25.sumAndRank`), but the corpus-side inputs are bucket-pruned
    * index scans. `queries`: (qid, tok) distinct term rows.
    * `probedHint`: the caller's pre-collected [[bucketsOf]] for this
    * probe frame (must cover the probe's tokens — same-frame reuse). */
  def bm25TopK(queries: DataFrame, k: Int,
      probedHint: Option[Seq[Long]] = None): DataFrame = {
    val q = queries.select(col("qid").cast("long").as("qid"), col("tok"))
    val probed = probedHint.getOrElse(probedBuckets(q))
    val post = postings.filter(col("bkt").isin(probed: _*))
      .select(col("tok"), col("doc_id"), col("tf"))
    val dfb = docFreq.filter(col("bkt").isin(probed: _*))
      .select(col("tok"), col("df"))
    val perTerm = broadcast(q)
      .join(dfb, "tok")
      .join(post, "tok")
      .filter(col("doc_id") =!= col("qid"))
      // lengths is a corpus-sized dimension: it could never broadcast
      // at real scale, and the matched-postings side is already bounded
      // by the probe, so an equi-join (hash) is the honest shape
      .join(lengths.hint("shuffle_hash"), "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("qid"), col("doc_id"), Bm25.contrib.as("contrib"))
    Bm25.sumAndRank(perTerm, k)
  }

  /** MaxScore-pruned EXACT top-`k` BM25 (Turtle & Flood, Information
    * Processing & Management 1995) — identical output to [[bm25TopK]] by
    * theorem, not by recompute:
    *
    *  1. every query term gets an upper bound `ub` = the shared contrib
    *     expression at its persisted (max_tf, min_dl) corner (monotone in
    *     both operands, see `Bm25.contribNamed`), so `Σ ub over matched
    *     terms ≥ true score` for every document;
    *  2. a threshold θ = the k-th best FULL score among the documents
    *     matching the single highest-ub term (usually the rarest — the
    *     shortest posting list). Those k documents stay eligible, so the
    *     final k-th score is ≥ θ;
    *  3. sort terms by ub ascending and take prefix sums: a document
    *     matching ONLY terms whose prefix sum stays strictly below θ has
    *     score ≤ that prefix sum < θ ≤ k documents' scores — it cannot
    *     reach the top k under ANY tie-break. Terms above the cut are
    *     the ESSENTIAL set; candidate generation touches only their
    *     postings, and final scoring semi-joins the candidates BEFORE
    *     the (qid, doc) aggregation.
    *
    * What this buys at scale: the unpruned serve shuffles one scored row
    * per (query term, matching doc) into the groupBy/rank — a stopword
    * in the query makes that corpus-sized. Here the stopword lands in
    * the non-essential suffix, so corpus-sized posting lists are scanned
    * (columnar storage cannot skip a scan the way a doc-ordered WAND
    * cursor does) but never aggregated or ranked — the shuffle/agg
    * volume is the Spark-native saving. Measured (ScaleSmoke
    * `maxscore_serve` vs `bm25_unpruned_serve`, stopword-adversarial
    * corpus): 20× corpus → 3.8× pruned wall vs 25× unpruned; the pruned
    * residual slope is the three column-pruned scans of the stopword
    * list (θ pass, candidate filter, final pass). Queries where the seed
    * term matches < k documents get no θ and degrade to the exact
    * unpruned serve. Exactness is pinned in PostingsIndexSpec against
    * `Bm25.topK` on a stopword-adversarial corpus; q236's oracle is the
    * UNPRUNED recompute, so the driver hash gate IS the theorem. */
  def bm25TopKMaxScore(queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("qid").cast("long").as("qid"), col("tok"))
    val probed = probedBuckets(q)
    val post = postings.filter(col("bkt").isin(probed: _*))
      .select(col("tok"), col("doc_id"), col("tf"))
    val essential = maxScoreEssential(q, probed, k)
    val candidates = broadcast(essential).join(post, "tok")
      .filter(col("doc_id") =!= col("qid"))
      .select(col("qid"), col("doc_id")).distinct()
    Bm25.sumAndRank(fullScores(q, probed, candidates), k)
  }

  /** The candidate-pruned scoring join shared by [[bm25TopKMaxScore]]'s
    * θ pass and final pass: identical contrib chain to [[bm25TopK]] with
    * a (qid, doc_id) semi-join BEFORE the aggregation. */
  private def fullScores(q: DataFrame, probed: Seq[Long],
      cand: DataFrame): DataFrame =
    broadcast(q)
      .join(docFreq.filter(col("bkt").isin(probed: _*))
        .select(col("tok"), col("df")), "tok")
      .join(postings.filter(col("bkt").isin(probed: _*))
        .select(col("tok"), col("doc_id"), col("tf")), "tok")
      .filter(col("doc_id") =!= col("qid"))
      .join(cand, Seq("qid", "doc_id"), "left_semi")
      .join(lengths.hint("shuffle_hash"), "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("qid"), col("doc_id"), Bm25.contrib.as("contrib"))

  /** The ESSENTIAL term set of the MaxScore split — (qid, tok) rows the
    * candidate generation may touch. Package-private so the spec can
    * assert the pruning actually binds (stopword excluded) independently
    * of the equality gate. */
  private[text] def maxScoreEssential(q: DataFrame, probed: Seq[Long],
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(hasBounds, s"index at $path lacks the bounds table — " +
      "build with withBounds = true for the MaxScore serve")
    val post = postings.filter(col("bkt").isin(probed: _*))
      .select(col("tok"), col("doc_id"), col("tf"))
    // per-(query, term) upper bound at the persisted corner
    val bnd = bounds.filter(col("bkt").isin(probed: _*))
      .select(col("tok"), col("max_tf"), col("min_dl"))
    val ub = broadcast(q)
      .join(docFreq.filter(col("bkt").isin(probed: _*))
        .select(col("tok"), col("df")), "tok")
      .join(bnd, "tok")
      .crossJoin(broadcast(stats))
      .select(col("qid"), col("tok"),
        Bm25.contribNamed("max_tf", "min_dl").as("ub"))
    val seed = ub
      .withColumn("sr", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("ub").desc, col("tok"))))
      .filter(col("sr") === 1).select(col("qid"), col("tok"))
    val seedDocs = broadcast(seed).join(post, "tok")
      .filter(col("doc_id") =!= col("qid"))
      .select(col("qid"), col("doc_id"))
    val theta = fullScores(q, probed, seedDocs)
      .groupBy(col("qid"), col("doc_id")).agg(sum(col("contrib")).as("s"))
      .withColumn("tr", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("s").desc, col("doc_id"))))
      .filter(col("tr") === k)
      .select(col("qid"), col("s").as("theta"))
    // ascending-ub prefix sums: below-θ prefix = non-essential suffix of
    // the classic formulation; no θ row (seed matched < k docs) keeps
    // every term essential — the exact-fallback branch
    val wCum = Window.partitionBy(col("qid"))
      .orderBy(col("ub").asc, col("tok"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ub.join(theta, Seq("qid"), "left")
      .withColumn("csum", sum(col("ub")).over(wCum))
      .filter(col("theta").isNull || col("csum") >= col("theta"))
      .select(col("qid"), col("tok"))
  }

  /** Top-`k` distinct-token Jaccard per probe, served from the PERSISTED
    * index — the q206/q214 `jac` ranker without touching corpus text:
    * the postings table holds exactly one row per (doc, distinct token),
    * so the probed join counts `|q ∩ d|` directly, and `|d|` is the
    * `dln` per-doc fact carried in lengths (recovering it from the
    * token-partitioned postings would touch every bucket — the q221
    * forward-store argument, answered at build time instead).
    * `sim_ppm = (|q∩d|·10^6) div (|q|+|d|−|q∩d|)`, rank ties by doc_id
    * — identical arithmetic and tie-breaks to the corpus recompute
    * (pinned in PostingsIndexSpec; q224's shared oracle). */
  def jaccardTopK(queries: DataFrame, k: Int,
      probedHint: Option[Seq[Long]] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col("qid").cast("long").as("qid"), col("tok"))
    val probed = probedHint.getOrElse(probedBuckets(q))
    val post = postings.filter(col("bkt").isin(probed: _*))
      .select(col("tok"), col("doc_id"))
    val qN = q.groupBy(col("qid")).agg(count(lit(1)).as("q_n"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim_ppm").desc, col("doc_id"))
    broadcast(q).join(post, "tok")
      .filter(col("doc_id") =!= col("qid"))
      .groupBy(col("qid"), col("doc_id")).agg(count(lit(1)).as("i_n"))
      // lengths is corpus-sized; matched candidates are probe-bounded —
      // equi-hash, never broadcast (the bm25TopK argument)
      .join(lengths.select(col("doc_id"), col("dln").as("d_n"))
        .hint("shuffle_hash"), "doc_id")
      .join(broadcast(qN), "qid")
      .select(col("qid"), col("doc_id"),
        expr("(i_n * 1000000) div (q_n + d_n - i_n)").as("sim_ppm"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Whether the IMPACT table exists ([[buildImpacts]] ran after the
    * last build/merge). */
  private def hasImpacts: Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$path/impacts")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  def impacts: DataFrame = table("impacts")

  /** Build the IMPACT-ORDERED serving table (the Anh–Moffat SIGIR 2002
    * family: an "impact" is the document's fully precomputed score
    * contribution for the term): (tok, doc_id, impact_i) bucketed like
    * postings, derived from the PERSISTED tables — no corpus pass. A
    * serve is then ONE bucket-pruned join + sum + rank: no df join, no
    * lengths join, no stats crossJoin — the lowest-latency exact BM25
    * shape, and at 100 TB three fewer joins per serve on the fan-out
    * path (ScaleSmoke `impact_serve` vs `bm25_index_serve`).
    *
    * THE TRADE — and why the DEFAULT index stores raw tf instead:
    * impacts bake the global (df, t, nd) statistics into every row, so
    * ANY merge invalidates the whole table. [[merge]] therefore DELETES
    * it (absence = "rebuild impacts after the ingest cycle" — the
    * safe-by-absence contract positions use), which is exactly the
    * rebuild-cycle economics impact-ordered indexes accept for serving
    * speed. Exactness: each row carries `Bm25.contrib` verbatim, so the
    * impact serve ≡ [[bm25TopK]] row for row (spec-pinned; q249's
    * oracle is the corpus recompute). */
  def buildImpacts(): Unit = {
    val bkt = pmod(xxhash64(col("tok")), lit(checkedBuckets)).as("bkt")
    postings.select(col("tok"), col("doc_id"), col("tf"))
      .join(docFreq.select(col("tok"), col("df")), "tok")
      .join(lengths.select(col("doc_id"), col("dl")).hint("shuffle_hash"),
        "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("tok"), col("doc_id"), Bm25.contrib.as("impact_i"), bkt)
      .repartition(col("bkt"))
      .write.mode("overwrite").partitionBy("bkt").parquet(s"$path/impacts")
    tableCache.remove("impacts"): Unit // the rewrite changed the file set
  }

  /** Exact top-`k` BM25 served from PRECOMPUTED impacts — identical
    * output to [[bm25TopK]] by construction, with no statistics joins
    * at serve time. */
  def bm25TopKImpact(queries: DataFrame, k: Int,
      probedHint: Option[Seq[Long]] = None): DataFrame = {
    require(hasImpacts, s"index at $path lacks the impacts table — " +
      "run buildImpacts() after the build (and after every merge cycle)")
    val q = queries.select(col("qid").cast("long").as("qid"), col("tok"))
    val probed = probedHint.getOrElse(probedBuckets(q))
    Bm25.sumAndRank(
      broadcast(q)
        .join(impacts.filter(col("bkt").isin(probed: _*))
          .select(col("tok"), col("doc_id"), col("impact_i")), "tok")
        .filter(col("doc_id") =!= col("qid"))
        .select(col("qid"), col("doc_id"), col("impact_i").as("contrib")),
      k)
  }

  /** Fold an ingest batch INTO the standing index — rebuild-equivalent
    * by construction (pinned in PostingsIndexSpec; q218's oracle replays
    * the rebuild): postings, positions and lengths are per-document
    * facts, so the batch's rows APPEND (new files in the bucket
    * directories — nothing corpus-sized is rewritten); df and the 1-row
    * stats are the only global statistics, and both are rewritten whole
    * — affordable forever because df is vocabulary-sized and stats is
    * one row. This is why df lives in its own table instead of on the
    * posting rows: denormalized df would force an index-sized rewrite
    * per merge. The df rewrite stages through a parquet barrier before
    * overwriting the files its plan reads (the IvfIndex.upsert
    * discipline — a cache is only best-effort and a recompute after the
    * overwrite starts would read corrupt state).
    *
    * Contract: batch ids disjoint from indexed ids, one COMPLETED merge
    * per batch (a re-run would double-append the batch's postings).
    * Crash consistency: the 1-row stats overwrite runs LAST as the
    * commit point — a merge that died mid-way leaves stats at the
    * pre-merge value, so "stats unchanged" detects the torn state
    * (partial appends with stale df are then bounded: unseen batch
    * tokens are absent from df and drop out of the serve's inner join).
    * A torn index should be restored or rebuilt; exactly-once ingest
    * under micro-batch retry needs batch-keyed appends + a committed-id
    * ledger (the IncrementalDriver discipline), deliberately outside
    * this operator. */
  def merge(batch: DataFrame, idCol: String, textCol: String): Unit = try {
    // impacts bake (df, t, nd) into every row — ANY merge invalidates the
    // whole table, so delete it FIRST (absence = rebuild-after-cycle;
    // serving stale impacts would silently mis-score every query)
    if (hasImpacts) {
      val p = new org.apache.hadoop.fs.Path(s"$path/impacts")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true): Unit
    }
    val base = batch.select(col(idCol).cast("long").as("doc_id"),
      split(col(textCol), " ").as("w"))
    val bkt = pmod(xxhash64(col("tok")), lit(checkedBuckets)).as("bkt")
    val dlNew = base.select(col("doc_id"),
      size(col("w")).cast("long").as("dl"),
      size(array_distinct(col("w"))).cast("long").as("dln"))
    // read the OLD stats up front (the write happens last) — the two
    // driver collects (pre-merge stats; batch length totals) read
    // disjoint inputs, so they join phase 1's concurrent round below
    @volatile var t0 = 0L; @volatile var nd0 = 0L
    @volatile var addT = 0L; @volatile var addN = 0L
    val statsAndAdd: Seq[() => Unit] = Seq(
      () => {
        val (a, b) = statsCache.getOrElse {
          val r = stats.select(col("t"), col("nd")).collect()(0)
          (r.getLong(0), r.getLong(1))
        }
        t0 = a; nd0 = b
      },
      () => {
        val a = dlNew.agg(
          coalesce(sum(col("dl")), lit(0L)).as("ts"),
          count(lit(1)).as("ns")).collect()(0)
        addT = a.getLong(0); addN = a.getLong(1)
      })
    val dt = base.select(col("doc_id"), explode(col("w")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      // three independent consumers below (postings append, df delta,
      // bounds delta) — persist so the batch is tokenized+aggregated once,
      // not once per consumer; batch-sized, unpersisted before return
      .persist()
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val boundsPresent = hasBounds // one fs probe, reused across phases
    val dfNext = s"$path/df_next"
    val bNext = s"$path/bounds_next"
    // PHASE 1 — all writes here touch DISTINCT tables and read only the
    // batch plus PRE-merge table states, so they run as concurrent jobs
    // (core.Par; optimization guide §2.6): locally that overlaps the
    // per-action driver latency that dominates this many-small-write
    // path, at scale the independent passes back-fill each other's
    // straggler tails. Crash consistency is unchanged: any subset of
    // these landing is the same torn-but-detected state (stats, the
    // commit point, still writes LAST) as a crash mid-way through the
    // old sequential order.
    try {
    graft.core.Par.run((statsAndAdd ++ Seq[() => Unit](
      // repartition by bucket before the appends: without it every shuffle
      // partition writes one file into every bucket directory it holds
      // (O(partitions × buckets) files per merge); with it a merge adds at
      // most one file per touched bucket
      () => dt.select(col("tok"), col("doc_id"), col("tf"), bkt)
        .repartition(col("bkt"))
        .write.mode("append").partitionBy("bkt").parquet(s"$path/postings"),
      // skip positions on a positionless index: appending ONLY the batch's
      // positions would leave a partial table a later phrase serve reads
      // as if complete — absence must stay absence
      if (!hasPositions) null
      else () =>
        base.select(col("doc_id"), posexplode(col("w")).as(Seq("pos", "tok")))
          .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"), bkt)
          .repartition(col("bkt"))
          .write.mode("append").partitionBy("bkt").parquet(s"$path/positions"),
      () => dlNew.write.mode("append").parquet(s"$path/lengths"),
      // df = old ∪ delta summed per token (full outer: unseen batch tokens
      // enter, untouched corpus tokens pass through), written DIRECTLY in
      // its final bucketed layout to a NEW directory — the write reads the
      // OLD df files and never touches them (the same barrier property the
      // old two-job staging pass had, r17: one write job instead of
      // staging write + read-back rewrite, and the whole phase-2 Par round
      // disappears — the swap below is fs metadata, not a Spark job)
      () => {
        val delta = dt.groupBy(col("tok")).agg(count(lit(1)).as("dfd"))
        docFreq.select(col("tok"), col("df"))
          .join(delta, Seq("tok"), "full_outer")
          .select(col("tok"),
            (coalesce(col("df"), lit(0L)) + coalesce(col("dfd"), lit(0L))).as("df"),
            bkt)
          .repartition(col("bkt"))
          .write.mode("overwrite").partitionBy("bkt").parquet(dfNext)
      },
      if (!boundsPresent) null
      else () => {
        // bounds combine like df: max/min are mergeable, so the rewrite is
        // old ∪ batch corner-combined per token (vocabulary-sized, through
        // the same next-directory barrier)
        val bDelta = dt.join(dlNew.select(col("doc_id"), col("dl")), "doc_id")
          .groupBy(col("tok"))
          .agg(max(col("tf")).as("max_tf_d"), min(col("dl")).as("min_dl_d"))
        bounds.select(col("tok"), col("max_tf"), col("min_dl"))
          .join(bDelta, Seq("tok"), "full_outer")
          .select(col("tok"),
            greatest(coalesce(col("max_tf"), lit(0L)),
              coalesce(col("max_tf_d"), lit(0L))).as("max_tf"),
            least(coalesce(col("min_dl"), lit(Long.MaxValue)),
              coalesce(col("min_dl_d"), lit(Long.MaxValue))).as("min_dl"),
            bkt)
          .repartition(col("bkt"))
          .write.mode("overwrite").partitionBy("bkt").parquet(bNext)
      })): _*)
    // PHASE 2 — swap the fully-written vocabulary tables in by rename
    // (atomic per directory on HDFS/POSIX; a crash between delete and
    // rename leaves the table ABSENT, which serves refuse loudly and the
    // unchanged stats row marks torn — the same torn-but-detected class
    // as a crash mid-way through the old overwrite rewrite).
    def swapIn(live: String, next: String): Unit = {
      val lp = new org.apache.hadoop.fs.Path(live)
      val np = new org.apache.hadoop.fs.Path(next)
      if (fs.exists(lp)) fs.delete(lp, true): Unit
      require(fs.rename(np, lp), s"rename $next -> $live failed")
    }
    swapIn(s"$path/df", dfNext)
    if (boundsPresent) swapIn(s"$path/bounds", bNext)
    // finally: a phase-1 task failure must not leak the persisted
    // batch frame in executor storage for the rest of the session
    } finally dt.unpersist(): Unit
    // commit point: the 1-row stats write lands only after every other
    // table has
    import spark.implicits._
    Seq((t0 + addT, nd0 + addN)).toDF("t", "nd")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/stats")
    // durable once the write returns — fold into the cached totals so the
    // next merge in this ingest loop skips the stats collect
    statsCache = Some((t0 + addT, nd0 + addN))
    // every table's file set changed (or may have, on a torn merge) —
    // cached handles must not outlive the mutation
  } finally invalidateTables()

  /** Compact the index after a run of [[merge]]s: every merge APPENDS
    * one file set per bucket directory, so a long ingest run degrades
    * scan cost with small files. Compaction rewrites the three bucketed
    * tables one-file-per-bucket through a staging barrier (the rewrite
    * reads the files it replaces — the same durability argument as the
    * df rewrite in [[merge]]) and coalesces the lengths table. Contents
    * are untouched: serve-equivalence is pinned in PostingsIndexSpec. */
  def compact(): Unit = try {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (table <- Seq("postings") ++
        (if (hasPositions) Seq("positions") else Nil) ++ Seq("df") ++
        (if (hasBounds) Seq("bounds") else Nil)) {
      val staging = s"$path/${table}_compact_staging"
      spark.read.parquet(s"$path/$table")
        .write.mode("overwrite").parquet(staging)
      spark.read.parquet(staging)
        .repartition(col("bkt"))
        .write.mode("overwrite").partitionBy("bkt").parquet(s"$path/$table")
      fs.delete(new org.apache.hadoop.fs.Path(staging), true): Unit
    }
    val staging = s"$path/lengths_compact_staging"
    spark.read.parquet(s"$path/lengths")
      .write.mode("overwrite").parquet(staging)
    spark.read.parquet(staging).coalesce(1)
      .write.mode("overwrite").parquet(s"$path/lengths")
    fs.delete(new org.apache.hadoop.fs.Path(staging), true): Unit
  } finally invalidateTables() // every rewrite replaced its file set

  /** RM3 expansion SERVED from the standing index — the index-backed
    * twin of `Bm25.rm3ExpandedTerms` (identical output by construction:
    * same feedback depth, vote arithmetic, anti-join and tie-breaks,
    * pinned in PostingsIndexSpec and by q222's shared oracle): the
    * first pass is [[bm25TopK]] (bucket-pruned), and the term VOTE
    * tokenizes the ≤ k·|Q| feedback documents from the FORWARD store —
    * deliberately, because a document's full term vector is spread
    * across every tok-partitioned bucket (the q221 snippets argument),
    * while the forward join touches only the feedback doc ids. Vote
    * idf comes from the persisted df table, pruned to the feedback
    * documents' term buckets; corpus text beyond the feedback set is
    * never read. */
  def rm3ExpandedTerms(queries: DataFrame, forward: DataFrame,
      idCol: String, textCol: String, k: Int, fbDocs: Int,
      fbTerms: Int): DataFrame =
    rm3ExpandedTermsFrom(bm25TopK(
        queries.select(col("qid").cast("long").as("qid"), col("tok")), k),
      queries, forward, idCol, textCol, fbDocs, fbTerms)

  /** [[rm3ExpandedTerms]] with the first-pass BM25 list supplied by the
    * caller — the composition q224 uses, where the un-expanded list IS
    * one of the eval's rankers: handing the same frame in lets Catalyst
    * reuse the serve's exchanges instead of planning the probe twice. */
  def rm3ExpandedTermsFrom(firstPass: DataFrame, queries: DataFrame,
      forward: DataFrame, idCol: String, textCol: String, fbDocs: Int,
      fbTerms: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val q = queries.select(col("qid").cast("long").as("qid"), col("tok"))
    // The feedback list is ≤ fbDocs·|Q| rows — serving-batch bounded by
    // CONFIG (the probedBuckets argument) — so collect it once and
    // replant it as a local relation: (1) the doc-id isin literal pushes
    // into the forward SCAN (row-group pruning; ≤ fbDocs·|Q| ≤ 64-entry
    // list, PlanAuditSpec's bound) where the previous join shuffled the
    // corpus against 25 rows, and (2) the expansion's lineage no longer
    // contains the first-pass serve, so downstream actions stop
    // re-evaluating it (q224 measured 12.2 → ~10s warm at sf0.1).
    val fbPairs = firstPass
      .filter(col("rank") <= fbDocs)
      .select(col("qid"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val fb = fbPairs.toDF("qid", "doc_id")
    val fbIds = fbPairs.map(_._2).distinct
    val fwd = forward
      .filter(col(idCol).isin(fbIds: _*))
      .select(col(idCol).cast("long").as("doc_id"),
        split(col(textCol), " ").as("w"))
    val fbToks = broadcast(fb).join(fwd, "doc_id")
      .select(col("qid"), col("doc_id"), explode(col("w")).as("tok"))
      .groupBy(col("qid"), col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val probed = probedBuckets(fbToks.select(col("tok")).distinct())
    val dfb = docFreq.filter(col("bkt").isin(probed: _*))
      .select(col("tok"), col("df"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("wgt").desc, col("tok"))
    val expansion = fbToks
      .join(dfb, "tok")
      .crossJoin(broadcast(stats.select(col("nd"))))
      .groupBy(col("qid"), col("tok"))
      .agg(sum(expr(
        "tf * CAST((nd * 1000) div df AS DECIMAL(38,0))")).as("wgt"))
      .join(q, Seq("qid", "tok"), "left_anti")
      .withColumn("trank", row_number().over(w))
      .filter(col("trank") <= fbTerms)
      .select(col("qid"), col("tok"))
    q.unionByName(expansion)
  }

  /** The positional postings PRUNED to the buckets of `toks` — the
    * `(doc_id, pos, tok)` frame any anchor-algebra caller
    * (`PhraseSearch.phraseAnchors`, q221's snippet pipeline) consumes
    * directly, so serving positions costs ≤ the probed buckets' files
    * instead of a corpus posexplode. `toks`: distinct probe tokens in a
    * `tok` column. */
  def positionsFor(toks: DataFrame): DataFrame = {
    val probed = probedBuckets(toks)
    positions.filter(col("bkt").isin(probed: _*))
      .select(col("doc_id"), col("pos"), col("tok"))
  }

  /** Exact phrase occurrences served from the persisted POSITIONAL
    * postings — `PhraseSearch.phraseMatchesFromPostings` over the
    * bucket-pruned scan. `queries`: (qid, phrase). */
  def phraseMatches(queries: DataFrame, qidCol: String = "qid",
      phraseCol: String = "phrase"): DataFrame =
    PhraseSearch.phraseMatchesFromPostings(
      positionsFor(queries.select(
        explode(split(col(phraseCol), " ")).as("tok"))),
      queries, qidCol, phraseCol)
}

object PostingsIndex {

  /** Open a persisted index, reading the bucket count from its meta
    * table — the mistake-proof loader (a hand-passed count that differs
    * from the build's is rejected by `checkedBuckets` anyway). */
  def open(spark: SparkSession, path: String): PostingsIndex = {
    val n = spark.read.parquet(s"$path/meta")
      .select(col("n_buckets")).collect()(0).getLong(0)
    new PostingsIndex(spark, path, n.toInt)
  }

  /** Build + persist the index: THREE linear passes over the corpus
    * (lengths; term postings; positional postings) — the two global
    * statistics tables are derived from the tables just written instead
    * of re-scanning the corpus: stats is an aggregation of the persisted
    * lengths (t = Σdl, nd = rows — identical by construction) and df is
    * rows-per-token over the persisted postings (one posting row per
    * (doc, distinct token) — the LedgeredPostingsIndex derivation, paid
    * once at build instead of per serve). At 100 TB the corpus scans ARE
    * the build cost, so 5 → 3 passes is the honest shave; the read-backs
    * touch only the (much smaller) aggregated tables. Writes shuffle on
    * the token-hash bucket so each bucket directory is written
    * co-located.
    *
    * `withPositions = false` drops the positional pass and table
    * entirely — the right build for a BM25/Jaccard/RM3-only serving
    * stack (q224/q236's shape): positions are the LARGEST table (one row
    * per token occurrence) and the costliest corpus pass, and only
    * phrase serving reads them. A positionless index rejects
    * [[phraseMatches]] loudly via the scan failure rather than
    * mis-serving. */
  def build(docs: DataFrame, path: String, idCol: String, textCol: String,
      nBuckets: Int = 64, withBounds: Boolean = false,
      withPositions: Boolean = true): PostingsIndex = {
    val spark = docs.sparkSession
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      split(col(textCol), " ").as("w"))
    val bkt = pmod(xxhash64(col("tok")), lit(nBuckets.toLong)).as("bkt")
    // PHASE 1 — the corpus passes (plus the 1-row meta write) target
    // DISTINCT tables and share no inputs beyond the immutable corpus,
    // so they run as concurrent jobs (core.Par; optimization guide
    // §2.6): the positional pass is the longest, and overlapping it
    // with the postings/lengths passes means the build's wall tracks
    // the slowest single pass instead of their sum.
    graft.core.Par.run(
      () => locally {
        import spark.implicits._
        Seq(nBuckets.toLong).toDF("n_buckets")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
      },
      // dln (distinct-token count) rides along as a second per-doc fact:
      // the index-served Jaccard ranker's |d| (q224) — a per-doc statistic
      // is appendable, so carrying it here costs nothing at merge time,
      // while recovering it from the token-partitioned postings would
      // touch every bucket (the q221 forward-store argument)
      () => base.select(col("doc_id"), size(col("w")).cast("long").as("dl"),
          size(array_distinct(col("w"))).cast("long").as("dln"))
        .write.mode("overwrite").parquet(s"$path/lengths"),
      () => base.select(col("doc_id"), explode(col("w")).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
        .select(col("tok"), col("doc_id"), col("tf"), bkt)
        .repartition(col("bkt"))
        .write.mode("overwrite").partitionBy("bkt").parquet(s"$path/postings"),
      if (withPositions)
        () => base.select(col("doc_id"),
            posexplode(col("w")).as(Seq("pos", "tok")))
          .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"), bkt)
          .repartition(col("bkt"))
          .write.mode("overwrite").partitionBy("bkt").parquet(s"$path/positions")
      else () => {
        // a positionless rebuild over a path that previously carried
        // positions must not leave the STALE table behind — absence is the
        // contract hasPositions/phraseMatches key off
        val p = new org.apache.hadoop.fs.Path(s"$path/positions")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true): Unit
      })
    // PHASE 2 — the global statistics derive from the tables phase 1
    // just wrote (stats ← lengths; df ← postings; bounds ← postings ⋈
    // lengths), never from a corpus re-scan; concurrent like phase 1.
    graft.core.Par.run(
      () => spark.read.parquet(s"$path/lengths")
        .agg(sum(col("dl")).as("t"), count(lit(1)).as("nd"))
        .coalesce(1).write.mode("overwrite").parquet(s"$path/stats"),
      () => spark.read.parquet(s"$path/postings")
        .groupBy(col("tok")).agg(count(lit(1)).as("df"))
        .select(col("tok"), col("df"), bkt)
        .repartition(col("bkt"))
        .write.mode("overwrite").partitionBy("bkt").parquet(s"$path/df"),
      if (!withBounds) null
      else
        // per-term score-bound corner, from the read-backs (no extra
        // corpus pass): max_tf over the term's postings, min_dl over the
        // documents that contain it — the two operands bm25TopKMaxScore's
        // upper bound needs, both mergeable facts
        () => spark.read.parquet(s"$path/postings")
          .join(spark.read.parquet(s"$path/lengths")
            .select(col("doc_id"), col("dl")), "doc_id")
          .groupBy(col("tok"))
          .agg(max(col("tf")).as("max_tf"), min(col("dl")).as("min_dl"))
          .select(col("tok"), col("max_tf"), col("min_dl"), bkt)
          .repartition(col("bkt"))
          .write.mode("overwrite").partitionBy("bkt").parquet(s"$path/bounds"))
    new PostingsIndex(spark, path, nBuckets)
  }
}

package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** EXACT all-pairs set-similarity join with prefix filtering — the
  * PPJoin family (Chaudhuri, Ganti & Kaushik ICDE 2006's SSJoin;
  * Xiao et al. WWW 2008): every document pair whose distinct-shingle
  * Jaccard meets the threshold, WITHOUT the O(n²) all-pairs join and
  * WITHOUT the false negatives LSH trades away (q56's MinHash banding is
  * the probabilistic sibling; this is the exact one a contract-bound
  * dedup needs).
  *
  * Prefix-filter theorem: order each document's shingles by ascending
  * GLOBAL frequency (rarest first, ties by shingle string); a pair with
  * `J(a, b) ≥ t` must share at least one shingle inside each side's
  * first `|d| − ⌈t·|d|⌉ + 1` shingles — so equi-joining on prefix
  * shingles alone generates a candidate superset (NO false negatives),
  * and exact verification of the bounded candidate set gives the exact
  * answer. Every boundary is integer: the prefix length uses the ppm
  * ceiling `(t_ppm·sz + 999999) div 10^6`, and the final test is the
  * cross-multiplied `i·10^6 ≥ t_ppm·(n_a + n_b − i)` — no float ever
  * ranks or thresholds.
  *
  * Scale shape: the frequency order makes prefixes the RAREST shingles,
  * so candidate buckets are small on any natural corpus — the quadratic
  * work concentrates exactly where matches are plausible. One groupBy
  * builds the frequency table; the per-doc prefix is a window bounded by
  * document length; verification is the exploded intersection count —
  * each candidate joins one side's shingle rows, then the other side's
  * on (id, tok), and one pair-keyed groupBy counts the overlap. Both set
  * sizes ride in the candidates, so no size table is joined back, and
  * every hash build holds flat (id, tok) rows, never per-document
  * shingle arrays.
  * Degenerate bound (documented, inherent to EXACTNESS): on a corpus of
  * N verbatim-identical documents the ANSWER is C(N, 2) pairs, so no
  * exact algorithm beats quadratic OUTPUT there — the capped/approximate
  * path for such corpora is `Dedup.capBucketsStar` + canonicalization.
  */
object SetSimJoin {

  /** [[prefixIndex]]'s on-disk layout, declared once: [[prefixIndex]] and
    * [[mergeIntoIndex]] emit exactly these columns, and readers of a
    * persisted index pass it as the read schema (skipping the parquet
    * schema-inference job). */
  val indexSchema: StructType = StructType.fromDDL(
    "id BIGINT, tok STRING, f BIGINT, n BIGINT, is_prefix BOOLEAN, t_ppm BIGINT")

  private def requireThreshold(tPpm: Long): Unit =
    require(tPpm > 0 && tPpm <= 1000000L, s"tPpm out of (0, 1e6]: $tPpm")

  /** A document's distinct shingles, one `(id, tok)` row each. The
    * shuffle_hash hint keeps these corpus-sized string rows off the
    * broadcast path: at scale they could never broadcast, and at bench
    * scale letting the optimizer broadcast them costs a driver collect +
    * hash build of ~10^5 string rows PER JOIN (measured: 8.3s → ~3s warm
    * at sf0.1). */
  private def shingleRows(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int): DataFrame =
    docs.select(col(idCol).cast("long").as("id"),
      explode(array_distinct(Dedup.shingles(col(textCol), shingleK))).as("tok"))
      .hint("shuffle_hash")

  /** Per-shingle document frequency `(tok, f)` of shingle rows. */
  private def frequencies(rows: DataFrame): DataFrame =
    rows.groupBy(col("tok")).agg(count(lit(1)).as("f"))

  /** Rarest-first ranking of `(id, tok)` rows under the `(tok, f)`
    * frequencies: `(id, tok, f, n, pos, is_prefix)` — `pos` orders each
    * document's shingles by (f, tok), `n` is its set size, and
    * `is_prefix` marks the first `n − ⌈t·n⌉ + 1` (ppm ceiling). A
    * shingle absent from `freq` ranks at f = 0: the probe's unseen batch
    * shingles, rarest under any corpus order. */
  private def ranked(rows: DataFrame, freq: DataFrame, tPpm: Long): DataFrame = {
    val byDoc = Window.partitionBy(col("id"))
    rows.join(freq.hint("shuffle_hash"), Seq("tok"), "left")
      .withColumn("f", coalesce(col("f"), lit(0L)))
      .withColumn("pos", row_number().over(byDoc.orderBy(col("f"), col("tok"))))
      .withColumn("n", count(lit(1)).over(byDoc))
      .withColumn("is_prefix", col("pos") <=
        col("n") - expr(s"(${tPpm}L * n + 999999) div 1000000") + 1)
  }

  /** Exact verification of candidates `(a, b, n_a, n_b)` (ids plus both
    * set sizes): join side a's shingle rows, then side b's on (id, tok),
    * count the intersection per pair, keep `i·10^6 ≥ t_ppm·(n_a + n_b − i)`.
    * Output: (a, b, i_n, u_n, jac_ppm). */
  private def verify(cand: DataFrame, a: String, b: String,
      rowsA: DataFrame, rowsB: DataFrame, tPpm: Long): DataFrame =
    cand
      .join(rowsA.select(col("id").as(a), col("tok")), a)
      .join(rowsB.select(col("id").as(b), col("tok")), Seq(b, "tok"))
      .groupBy(col(a), col(b), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("i_n"))
      .filter(col("i_n") * 1000000L >=
        lit(tPpm) * (col("n_a") + col("n_b") - col("i_n")))
      .select(col(a), col(b), col("i_n"),
        (col("n_a") + col("n_b") - col("i_n")).as("u_n"),
        expr("(i_n * 1000000) div (n_a + n_b - i_n)").as("jac_ppm"))

  /** All pairs (id_a < id_b) with distinct-`shingleK`-shingle Jaccard
    * ≥ `tPpm`/10^6. Output: (id_a, id_b, i_n, u_n, jac_ppm), exact. */
  def jaccardJoin(docs: DataFrame, idCol: String, textCol: String,
      tPpm: Long, shingleK: Int = 3): DataFrame = {
    requireThreshold(tPpm)
    val toks = shingleRows(docs, idCol, textCol, shingleK)
    val prefix = ranked(toks, frequencies(toks), tPpm)
      .filter(col("is_prefix"))
      .select(col("id"), col("tok"), col("n"), col("pos"))
      .hint("shuffle_hash")
    // PPJoin LENGTH filter (exact pruning, theorem-preserving):
    // J(a,b) ≥ t ⇒ i ≥ t·u ≥ t·max(|a|,|b|) and i ≤ min(|a|,|b|), so
    // 10^6·min < t_ppm·max cannot reach the threshold — dropped BEFORE
    // the grouping and the two intersection joins. On same-length
    // corpora it prunes little; on the heterogeneous-length corpora a
    // 100 TB dedup actually sees, it removes the long-vs-short candidate
    // mass the prefix filter alone admits.
    //
    // PPJoin POSITIONAL filter (Xiao et al. WWW 2008 §3.2, adapted to the
    // set-based shape; exact pruning like the length filter): all
    // documents order their shingles by the same global total order
    // (f asc, tok asc), so for a shared prefix shingle at positions
    // (p_a, p_b) the overlap decomposes around it —
    //   shared before it ≤ min(p_a, p_b) − 1   (consistent order),
    //   the shingle itself = 1,
    //   shared after it  ≤ min(n_a − p_a, n_b − p_b)
    // — giving i ≤ min(p_a, p_b) + min(n_a − p_a, n_b − p_b) =: ub for
    // EVERY shared prefix shingle; the candidate keeps the tightest one.
    // J ≥ t ⟺ i·(10^6 + t_ppm) ≥ t_ppm·(n_a + n_b), so a pair whose ub
    // falls below that line cannot pass the exact verify and is dropped
    // BEFORE the two corpus-sized intersection joins.
    val cand = prefix.select(col("id").as("id_a"), col("tok"),
        col("n").as("n_a"), col("pos").as("pos_a"))
      .join(prefix.select(col("id").as("id_b"), col("tok"),
        col("n").as("n_b"), col("pos").as("pos_b")), "tok")
      .filter(col("id_a") < col("id_b") &&
        lit(tPpm) * greatest(col("n_a"), col("n_b")) <=
          lit(1000000L) * least(col("n_a"), col("n_b")))
      // n is functionally dependent on the id, so grouping on it keeps
      // one row per pair and carries both sizes to the verify
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(min(least(col("pos_a"), col("pos_b")) +
        least(col("n_a") - col("pos_a"), col("n_b") - col("pos_b"))).as("ub"))
      .filter(col("ub") * lit(1000000L + tPpm) >=
        lit(tPpm) * (col("n_a") + col("n_b")))
    verify(cand, "id_a", "id_b", toks, toks, tPpm)
  }

  /** The index row of every ranked shingle, in [[indexSchema]]'s order.
    * The build threshold travels WITH the index (RLE-compressed to
    * nothing on disk): prefixes computed under one threshold are
    * meaningless to a probe or merge at another, and the frame is plain
    * parquet with nowhere else to carry the contract. */
  private def indexRows(rankedRows: DataFrame, tPpm: Long): DataFrame =
    rankedRows.withColumn("t_ppm", lit(tPpm))
      .select(indexSchema.map(f => col(f.name)): _*)

  /** Persistable EXACT-dedup index over a corpus — ONE frame holding
    * every distinct shingle instance with the metadata the probe needs:
    * `(id, tok, f, n, is_prefix)` (corpus shingle frequency, the
    * document's set size, and whether the shingle falls in the
    * document's threshold prefix). The incremental twin of
    * `Dedup.minhashBandBuckets` for the exact path: build once, persist,
    * probe each ingest batch against it. */
  def prefixIndex(docs: DataFrame, idCol: String, textCol: String,
      tPpm: Long, shingleK: Int = 3): DataFrame = {
    requireThreshold(tPpm)
    val toks = shingleRows(docs, idCol, textCol, shingleK)
    indexRows(ranked(toks, frequencies(toks), tPpm), tPpm)
  }

  /** Fail fast when a persisted index's build threshold disagrees with
    * the caller's: `is_prefix` under a different threshold voids the
    * no-false-negative theorem SILENTLY (missed pairs, not errors).
    * One 1-row collect; an empty index passes vacuously. */
  private def requireSameThreshold(index: DataFrame, tPpm: Long): Unit = {
    val stored = index.select(col("t_ppm")).limit(1).collect()
    require(stored.isEmpty || stored(0).getLong(0) == tPpm,
      s"index built with t_ppm=${stored.headOption.map(_.getLong(0)).orNull}, " +
        s"probed/merged with t_ppm=$tPpm")
  }

  /** Fold an ingest batch INTO a persisted [[prefixIndex]] — the
    * index-maintenance path that closes the rebuild-per-cycle gap: the
    * merged frame is ROW-IDENTICAL to `prefixIndex(corpus ∪ batch)`
    * (pinned in SetSimJoinSpec and by q217's oracle, whose SQL replays
    * the rebuild), so a probe against the merged index ≡ a probe against
    * a full rebuild, with NO staleness bound to carry.
    *
    * Why exact equivalence is affordable: corpus shingle frequencies
    * only enter the index through each document's rarest-first ORDER,
    * and a batch changes the frequency of exactly the shingles it
    * contains. So only three row groups can differ from a rebuild:
    *  - batch documents (derived fresh under the merged frequencies),
    *  - TOUCHED corpus documents — those sharing ≥ 1 shingle with the
    *    batch, whose rarest-first order may have shifted (re-derived
    *    from their stored (id, tok) rows; one window per doc),
    *  - every row's `f` for batch-touched shingles (a broadcast-sized
    *    delta added in).
    * Untouched documents' rows pass through VERBATIM — no re-shingling,
    * no text access; the merge never reads the original corpus. Cost is
    * batch + the index rows of touched documents. On a natural corpus
    * prefixes are rare shingles but documents share COMMON ones, so the
    * touched set is the honest price of exact frequency parity; the
    * worst case (a batch containing a universal stopword shingle
    * touches every document) degrades to an index-sized window pass —
    * still cheaper than a rebuild (no corpus scan, no re-shingle).
    * Measured at 20× in ScaleSmoke (`setsim_index_merge` vs
    * `setsim_index_rebuild`, fixed batch): merge wall grows 2.1× while
    * the rebuild grows 3.4× — at bench scale the absolute walls are
    * close because the exploded shingle index dwarfs the tiny document
    * text, but the corpus-text read the merge never performs is the
    * dominant cost at 100 TB.
    *
    * Contract (same as [[probePrefixIndex]]): batch ids are disjoint
    * from index ids — re-ingesting an existing id would double-count
    * its shingle frequencies. */
  def mergeIntoIndex(batch: DataFrame, idCol: String, textCol: String,
      index: DataFrame, tPpm: Long, shingleK: Int = 3): DataFrame = {
    requireThreshold(tPpm)
    requireSameThreshold(index, tPpm)
    val bt = shingleRows(batch, idCol, textCol, shingleK)
    val delta = frequencies(bt).withColumnRenamed("f", "fd")
    val mergedFreq = index.select(col("tok"), col("f")).distinct()
      .join(delta, Seq("tok"), "full_outer")
      .select(col("tok"),
        (coalesce(col("f"), lit(0L)) + coalesce(col("fd"), lit(0L))).as("f"))
    val touchedIds = index.join(delta.select(col("tok")), Seq("tok"), "left_semi")
      .select(col("id")).distinct()
    val untouched = index.join(touchedIds, Seq("id"), "left_anti")
      .select(indexSchema.map(f => col(f.name)): _*)
    // identical derivation to prefixIndex, but over stored (id, tok)
    // rows + the merged frequency table instead of a corpus re-shingle
    val touchedRows = index.join(touchedIds, Seq("id"), "left_semi")
      .select(col("id"), col("tok")).hint("shuffle_hash")
    untouched
      .unionByName(indexRows(ranked(touchedRows, mergedFreq, tPpm), tPpm))
      .unionByName(indexRows(ranked(bt, mergedFreq, tPpm), tPpm))
  }

  /** Probe a NEW batch against a persisted [[prefixIndex]]: all pairs
    * (batch doc, INDEXED doc) with Jaccard ≥ `tPpm`/10^6 — per-batch
    * cost tracks the batch and the index rows its prefix shingles touch,
    * never a corpus re-shingle (q194's ingest shape for the exact path).
    *
    * Batch shingles order by the INDEX frequency, with unseen shingles
    * at f = 0 (rarest-first). That is a consistent extension of the
    * fixed global order the index prefixes were built under — common
    * shingles carry the same f, unseen shingles occur on the batch side
    * only — so the no-false-negative prefix theorem holds ACROSS the
    * batch/corpus boundary. Output: (new_id, old_id, i_n, u_n, jac_ppm),
    * exact. */
  def probePrefixIndex(batch: DataFrame, idCol: String, textCol: String,
      index: DataFrame, tPpm: Long, shingleK: Int = 3): DataFrame = {
    requireThreshold(tPpm)
    requireSameThreshold(index, tPpm)
    val bt = shingleRows(batch, idCol, textCol, shingleK)
    val bPrefix = ranked(bt, index.select(col("tok"), col("f")).distinct(), tPpm)
      .filter(col("is_prefix"))
    // new_id =!= old_id: re-ingesting an id already present in the index
    // must not emit the trivial self-pair (jac_ppm = 1e6) — the caller's
    // contract is pairs BETWEEN the batch and the standing corpus.
    // Length filter as in jaccardJoin: J ≥ t bounds the size ratio, so
    // mismatched-size candidates drop before the intersection joins.
    val cand = bPrefix.select(col("id").as("new_id"), col("tok"),
        col("n").as("n_a"))
      .join(index.filter(col("is_prefix"))
        .select(col("id").as("old_id"), col("tok"), col("n").as("n_b")),
        "tok")
      .filter(col("new_id") =!= col("old_id") &&
        lit(tPpm) * greatest(col("n_a"), col("n_b")) <=
          lit(1000000L) * least(col("n_a"), col("n_b")))
      .select(col("new_id"), col("old_id"), col("n_a"), col("n_b"))
      .distinct()
    verify(cand, "new_id", "old_id", bt, index, tPpm)
  }
}

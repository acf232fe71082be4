package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{cosine_similarity, simhash64}

/** Deduplication operator family for training-data pipelines (required
  * engine surface beyond the reference): exact, MinHash+LSH, SimHash,
  * n-gram Jaccard, embedding near-dup.
  *
  * Scale design, common to all: never materialize all pairs. Every
  * algorithm reduces to (1) per-row signature computation (codegen'd column
  * expressions), (2) a groupBy/equi-join on a bucket key, (3) exact
  * verification only within buckets. The only shuffles are on signature
  * keys. Skew has TWO layers of defense: AQE skew splits repartition an
  * oversized shuffle partition (a physical fix), and [[cappedPairs]]
  * bounds the MEMBER COUNT of any single bucket that pairs all-to-all (an
  * algorithmic fix) — without the latter, a boilerplate-heavy corpus
  * putting B near-identical docs into one band bucket emits B² candidate
  * pairs no matter how AQE splits the partitions.
  */
object Dedup {

  /** Default per-bucket member cap for every LSH/banded candidate
    * generator. 4096 members → ≤ ~8.4M intra-bucket pairs, the same
    * executor-memory rationale as `LocalCluster.MaxGroupRows`; the
    * synthetic corpora (and any non-degenerate real bucket) sit orders of
    * magnitude below it, so results are exact unless a bucket is
    * genuinely pathological. */
  val DefaultBucketCap: Int = 4096

  /** Capped candidate pairs of one bucketing — the guard that keeps one
    * degenerate LSH bucket (B near-identical members → B² pairs) from
    * going quadratic regardless of AQE partition splitting. `rows` carries
    * `bucketCols`, `id` and `payloadCols`.
    *
    * One window, partitioned by the bucket and ordered by (xxhash64(id),
    * id) — hash-ordered, so the split is not biased toward low ids and is
    * identical across runs for the same id set — ranks each member and
    * names the bucket's rank-1 representative. Members ranked ≤ `cap`
    * pair all-to-all on the bucket key (`id_b > id_a`; EXACT for every
    * bucket at or below the cap); each member ranked beyond the cap pairs
    * ONCE with the representative, so an oversized bucket costs
    * C(cap, 2) + (B − cap) pairs instead of C(B, 2). Same-bucket members
    * share the band signature by construction, so a boilerplate bucket
    * still verifies member-by-member against the representative and
    * collapses to ONE canonical cluster; only non-representative
    * pairings among the tail are skipped. The self-join reads the
    * window's output, which is already hash-partitioned and sorted by the
    * bucket key, so it adds no shuffle of its own.
    *
    * NEVER silent: the ranked rows carry a `Dataset.observe` counter
    * `metricName` with `demoted_members` (members ranked beyond the cap)
    * and `max_bucket_members` (the largest bucket, pre-cap), harvestable
    * via [[graft.operators.ObservedMetrics]].
    *
    * @return (id_a, id_b, `p`_a, `p`_b for each `p` in `payloadCols`):
    *         id_a < id_b on star pairs, and each payload follows its id. */
  private[dedup] def cappedPairs(rows: DataFrame, bucketCols: Seq[String],
      payloadCols: Seq[String], cap: Int, metricName: String): DataFrame = {
    require(cap > 0, s"bucket cap must be positive, got $cap")
    val w = Window.partitionBy(bucketCols.map(col): _*)
      .orderBy(xxhash64(col("id")), col("id"))
    // one select, so the rank and the representative share one Window
    val ranked = rows
      .select(col("*") +: row_number().over(w).as("__rn") +:
        (("id" +: payloadCols).map(c => first(col(c)).over(w).as(s"__rep_$c"))): _*)
      .observe(metricName,
        count_if(col("__rn") > cap).as("demoted_members"),
        max(col("__rn")).as("max_bucket_members"))
    def side(s: String) = ranked.filter(col("__rn") <= cap)
      .select(bucketCols.map(col) ++ (col("id").as(s"id_$s") +:
        payloadCols.map(p => col(p).as(s"${p}_$s"))): _*)
    val out = Seq("id_a", "id_b") ++ payloadCols.flatMap(p => Seq(s"${p}_a", s"${p}_b"))
    val kept = side("a").join(side("b"), bucketCols)
      .filter(col("id_b") > col("id_a"))
      .select(out.map(col): _*)
    val lo = col("id") < col("__rep_id")
    val star = ranked.filter(col("__rn") > cap)
      .select(Seq(least(col("id"), col("__rep_id")).as("id_a"),
          greatest(col("id"), col("__rep_id")).as("id_b")) ++
        payloadCols.flatMap(p => Seq(
          when(lo, col(p)).otherwise(col(s"__rep_$p")).as(s"${p}_a"),
          when(lo, col(s"__rep_$p")).otherwise(col(p)).as(s"${p}_b"))): _*)
    kept.unionByName(star)
  }

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  /** Word k-shingles with short-doc guard (codegen'd single pass — the
    * interpreted `transform`+`concat_ws` spelling re-entered the
    * expression interpreter per shingle element and dominated q101's
    * explode; WordShingles pins exact parity with it). */
  def shingles(text: Column, k: Int = 3): Column =
    graft.functions.word_shingles(tokens(text), k)

  /** Exact dedup: keep the minimum-id row per content hash.
    * @return (id, keep_id, is_duplicate) mapping for every input row */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = df.select(col(idCol), md5(col(textCol)).as("__h"))
    val keep = hashed.groupBy(col("__h")).agg(min(col(idCol)).as("keep_id"))
    hashed.join(keep, "__h")
      .select(col(idCol), col("keep_id"),
        (col(idCol) =!= col("keep_id")).as("is_duplicate"))
  }

  /** MinHash-LSH near-dup candidate pairs: `bands` bands × `rowsPerBand`
    * signatures; docs sharing any band bucket pair up, then exact Jaccard
    * over distinct tokens filters to ≥ `threshold`.
    * Collision probability ≈ 1 − (1 − j^rowsPerBand)^bands.
    *
    * Performance shape (this was a 72s→~2s rewrite at sf0.1): shingle
    * hashes (xxhash64, native) are computed ONCE per doc into one array;
    * each of the bands×rows minima reads that array; both sides of the
    * bucket self-join read the cap window's one shuffle; candidate
    * pairs are deduped on (id_a, id_b) BEFORE tokens are re-joined for the
    * exact-Jaccard verification — token arrays never travel through the
    * band explode or the join. */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, rowsPerBand: Int = 2, threshold: Double = 0.5,
      bucketCap: Int = DefaultBucketCap): DataFrame =
    jaccardVerify(
      minhashLshCandidates(df, idCol, textCol, bands, rowsPerBand, bucketCap),
      df, idCol, textCol, threshold)

  /** The bucketing half of [[minhashLsh]]: distinct (id_a, id_b) pairs
    * sharing at least one band bucket. Split out so the in-bucket
    * verification ([[jaccardVerify]]) can be value-checked independently of
    * the engine-pinned xxhash64 band hashing (q97 writes these pairs to a
    * scratch table both engines read). */
  def minhashLshCandidates(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, rowsPerBand: Int = 2,
      bucketCap: Int = DefaultBucketCap): DataFrame =
    cappedPairs(minhashBandBuckets(df, idCol, textCol, bands, rowsPerBand),
        Seq("band", "bucket"), Nil, bucketCap, "minhash_bucket_cap")
      .select(col("id_a"), col("id_b"))
      .distinct()

  /** The (id, band, bucket) rows of [[minhashLshCandidates]]'s banding —
    * public because it doubles as the STORED INDEX of incremental dedup:
    * persist it for the existing corpus once, then [[probeIndex]] new
    * batches against it without ever touching corpus text again (the
    * 100 TB ingest shape: per-batch cost scales with the batch, not the
    * corpus). All nSig salted minima come from ONE xxhash64 pass over
    * the token array (the per-salt HOF formulation was ~10s at sf0.1). */
  def minhashBandBuckets(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    val nSig = bands * rowsPerBand
    val sigs = df.select(col(idCol).as("id"),
        graft.functions.minhash_signature(tokens(col(textCol)), nSig).as("sig"))
      .filter(size(col("sig")) > 0)
    sigs.select(col("id"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            xxhash64((lit(b) +: (0 until rowsPerBand).map(r =>
              element_at(col("sig"), b * rowsPerBand + r + 1))): _*).as("bucket"))
        }: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Incremental near-dup candidates: band-bucket collisions of `batch`
    * against a prebuilt [[minhashBandBuckets]] index — distinct
    * (id_new, id_old) pairs. The batch side is banded fresh; the index
    * side is READ, not recomputed, and the join is an equi-join on
    * (band, bucket) — never batch × corpus. */
  def probeIndex(batch: DataFrame, idCol: String, textCol: String,
      index: DataFrame, bands: Int = 4, rowsPerBand: Int = 2): DataFrame =
    minhashBandBuckets(batch, idCol, textCol, bands, rowsPerBand)
      .select(col("band"), col("bucket"), col("id").as("id_new"))
      .join(index.select(col("band"), col("bucket"), col("id").as("id_old")),
        Seq("band", "bucket"))
      .filter(col("id_new") =!= col("id_old"))
      .select(col("id_new"), col("id_old"))
      .distinct()

  /** Fold an ingest batch INTO a persisted [[minhashBandBuckets]] index.
    * MinHash band rows are a pure per-document function (no global
    * statistics — unlike `SetSimJoin.prefixIndex`, whose rarest-first
    * order depends on corpus frequencies), so the merge is exactly the
    * union of the standing index with the batch's fresh band rows, and
    * `mergeIntoIndex(batch, index) ≡ minhashBandBuckets(corpus ∪ batch)`
    * row for row (pinned in DedupSpec). Contract: batch ids disjoint
    * from index ids (a re-ingested id would duplicate its band rows —
    * dedup with a distinct on (id, band) first if re-ingest is possible). */
  def mergeIntoBandIndex(batch: DataFrame, idCol: String, textCol: String,
      index: DataFrame, bands: Int = 4, rowsPerBand: Int = 2): DataFrame =
    index.select(col("id"), col("band"), col("bucket"))
      .unionByName(minhashBandBuckets(batch, idCol, textCol, bands, rowsPerBand))

  /** The verification half of [[minhashLsh]]: exact token-set Jaccard over
    * candidate pairs (`id_a`, `id_b`), kept when ≥ `threshold`. Token
    * arrays join in only here — they never travel through the bucketing. */
  def jaccardVerify(pairs: DataFrame, df: DataFrame, idCol: String,
      textCol: String, threshold: Double): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      array_distinct(tokens(col(textCol))).as("tok"))
    pairs.select(col("id_a"), col("id_b"))
      .join(toks.select(col("id").as("id_a"), col("tok").as("tok_a")), "id_a")
      .join(toks.select(col("id").as("id_b"), col("tok").as("tok_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("tok_a"), col("tok_b"))).cast("double")
          / size(array_union(col("tok_a"), col("tok_b")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** SimHash near-dup pairs: 64-bit fingerprints; candidates share at least
    * one of 4 16-bit chunks (any pair within hamming distance ≤ `maxHamming`
    * ≤ 3 necessarily collides on some chunk — pigeonhole); exact hamming
    * check within buckets. */
  def simhashNearDup(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, bucketCap: Int = DefaultBucketCap): DataFrame =
    hammingVerify(simhashCandidates(df, idCol, textCol, bucketCap), maxHamming)

  /** The bucketing half of [[simhashNearDup]]: distinct candidate pairs
    * carrying both fingerprints, so the hamming verification can be
    * value-checked from a scratch table (q98) without DuckDB re-deriving
    * the engine-pinned FNV-1a64 fingerprints. */
  def simhashCandidates(df: DataFrame, idCol: String, textCol: String,
      bucketCap: Int = DefaultBucketCap): DataFrame =
    fingerprintCandidates(
      df.select(col(idCol).as("id"), simhash64(tokens(col(textCol))).as("fp")),
      bucketCap)

  /** The fingerprint-agnostic banding core of [[simhashCandidates]]:
    * candidate pairs for ANY (id, fp) 64-bit fingerprint frame via the
    * 4×16-bit chunk pigeonhole (hamming ≤ 3 ⇒ some chunk equal) with the
    * hot-bucket star cap. Shared by SimHash text near-dup and the
    * perceptual image aHash ([[graft.multimodal.PerceptualHash]]). */
  def fingerprintCandidates(fp: DataFrame,
      bucketCap: Int = DefaultBucketCap): DataFrame =
    cappedPairs(
        fp.select(col("id"), col("fp"),
          explode(array((0 until 4).map(i =>
            struct(lit(i).as("chunk"),
              shiftrightunsigned(col("fp"), i * 16).bitwiseAND(lit(0xffffL)).as("key"))): _*)).as("ck"))
          .select(col("id"), col("fp"), col("ck.chunk").as("chunk"), col("ck.key").as("key")),
        Seq("chunk", "key"), Seq("fp"), bucketCap, "simhash_bucket_cap")
      .distinct()

  /** The verification half of [[simhashNearDup]]: exact hamming distance
    * over candidate fingerprint pairs, kept when ≤ `maxHamming`. */
  def hammingVerify(pairs: DataFrame, maxHamming: Int): DataFrame =
    pairs.select(col("id_a"), col("id_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)

  /** Near-dup CANONICALIZATION — the cluster-level completion of pairwise
    * near-dup detection: verified pairs are edges of a similarity graph;
    * its connected components are duplicate clusters; each document maps to
    * the cluster's smallest id. Pairwise keep/drop decisions are wrong for
    * transitive chains (A≈B, B≈C, A̸≈C must still collapse to one
    * representative) — training-data dedup keeps one doc PER CLUSTER.
    *
    * Scale: components come from [[graft.operators.ConnectedComponents]]
    * (star contraction above the local threshold), so the only shuffles are
    * the shrinking edge list; docs in no pair stay their own keep_id via
    * the left join.
    *
    * @return (`idCol`, keep_id, is_duplicate) for EVERY input row */
  def canonicalize(verifiedPairs: DataFrame, df: DataFrame, idCol: String): DataFrame = {
    val edges = verifiedPairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    val comp = graft.operators.ConnectedComponents.components(edges)
    df.select(col(idCol))
      .join(comp, col(idCol) === col("id"), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("keep_id"),
        (coalesce(col("component"), col(idCol)) =!= col(idCol)).as("is_duplicate"))
  }

  /** [[canonicalize]] with the PRODUCTION keep-rule: each duplicate
    * cluster keeps its highest-`scoreCol` member (longest / best-quality
    * document — what a real pretraining dedup retains) instead of the
    * smallest id; ties break to the smallest id so the choice is total.
    * One extra aggregate + broadcast-friendly join over the per-component
    * argmax (a row per CLUSTER, not per document) on top of the
    * [[canonicalize]] shuffles. `scoreCol` must be orderable; the
    * argmax is max(struct(score, −id)).
    *
    * @return (`idCol`, keep_id, is_duplicate) for EVERY input row */
  def canonicalizeBy(verifiedPairs: DataFrame, df: DataFrame, idCol: String,
      scoreCol: String): DataFrame = {
    val edges = verifiedPairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    val comp = graft.operators.ConnectedComponents.components(edges)
    val member = df.select(col(idCol), col(scoreCol))
      .join(comp, col(idCol) === col("id"), "left")
      .select(col(idCol), col(scoreCol),
        coalesce(col("component"), col(idCol)).as("component"))
    val best = member.groupBy(col("component"))
      .agg(max(struct(col(scoreCol), (-col(idCol)).as("neg_id"))).as("b"))
      .select(col("component"), (-col("b.neg_id")).as("keep_id"))
    member.join(best, "component")
      .select(col(idCol), col("keep_id"),
        (col("keep_id") =!= col(idCol)).as("is_duplicate"))
  }

  /** MinHash-LSH near-dup end to end at cluster granularity:
    * [[minhashLshCandidates]] → [[jaccardVerify]] → [[canonicalize]]. */
  def nearDupCanonical(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, rowsPerBand: Int = 2, threshold: Double = 0.5,
      bucketCap: Int = DefaultBucketCap): DataFrame =
    canonicalize(
      minhashLsh(df, idCol, textCol, bands, rowsPerBand, threshold, bucketCap),
      df, idCol)

  /** Embedding cosine near-dup within coarse buckets (IVF-style): only
    * same-bucket pairs are scored. `bucketCol` is any coarse assignment
    * (cluster label, LSH band of the vector, shard key).
    *
    * Float policy: the threshold compares the similarity ROUNDED to 9
    * decimals (`oround`, the DuckDB-parity rounding), not the raw double —
    * a last-bit difference between two engines' cosine accumulations can
    * otherwise flip a pair sitting within 1 ulp of the threshold. 9
    * decimals is far below any semantic tolerance and collapses the
    * fragile zone from "within 1 ulp of the threshold" to "within 1 ulp
    * of a 0.5e-9 rounding boundary". */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
      bucketCol: String, threshold: Double,
      bucketCap: Int = DefaultBucketCap): DataFrame =
    cappedPairs(
        df.select(col(bucketCol).as("bucket"), col(idCol).as("id"), col(vecCol).as("vec")),
        Seq("bucket"), Seq("vec"), bucketCap, "embedding_bucket_cap")
      .select(col("id_a"), col("id_b"),
        cosine_similarity(col("vec_a"), col("vec_b")).as("sim"))
      .filter(graft.queries.oround(col("sim"), 9) >= threshold)
}

package graft

/** Physical-plan audit across the whole declared surface — the 100 TB
  * guardrails the scale story depends on, asserted so a refactor can't
  * silently regress them:
  *
  *  1. no query plans a CartesianProduct;
  *  2. BroadcastNestedLoopJoin appears only where it is the DELIBERATE
  *     shape (small broadcast probe × corpus in the ANN brute-force, and
  *     Catalyst's scalar-subquery decorrelation) — a band/theta join
  *     falling back to BNLJ is a bug (band joins carry an equi-key or go
  *     through the BandJoinRewrite optimizer rule; rank bands become
  *     equi-joins on exploded neighbour ranks);
  *  3. filter pushdown reaches the parquet scan where queries select on
  *     scan columns;
  *  4. small dimension joins broadcast.
  *
  * Plans are built (not executed) at sf0.001, so the audit is cheap.
  */
class PlanAuditSpec extends SparkSpec {

  // queries whose BNLJ is a deliberate broadcast-probe shape
  private val bnljAllowed = Set(
    "q32_knn_bruteforce", // broadcast(5 probes) × corpus, non-equi by design
    "q36_ivf_index_topk", // broadcast(centroids) × queries assignment, conditionless
    "q94_ivf_exact_serve", // q36's shape with nprobe=all (the oracle-checkable degenerate)
    "q75_edit_distance", // vocabulary² (150×150) theta join, bounded by design
    "q99_sketch_bounds", // cross join of four 1-row sub-aggregates (the no-Expand shape)
    "q62_sketches", // q99's bounds-flag mechanism on q62's surface (round 10)
    "q110_mixture_weights", // per-lang aggs × broadcast 1-row totals (q99's shape)
    "q113_unigram_logprob", // token stream × broadcast 1-row vocab total (q99's shape)
    "q115_mixture_apply", // per-lang aggs × broadcast 1-row totals (q110's weight table)
    "q119_heldout_logprob", // eval stream × broadcast 1-row (N, V) train totals (q113's shape)
    "q120_bigram_logprob", // bigram stream × broadcast 1-row V total (q113's shape)
    "q125_dsir_weights", // bucket stream × broadcast 1-row (Nt, Ns) totals (q113's shape)
    "q128_pq_adc_serve", // ADC lookup table = queries × broadcast m·nCodes codebook, conditionless by design
    "q135_tfidf_terms", // (doc,term,tf) stream × broadcast 1-row corpus count N (q113's shape)
    "q147_retrieval_chunks", // broadcast(3 probes) × chunk corpus, non-equi by design (q32's shape)
    "q163_contrastive_pairs", // anchors × broadcast 1-row corpus count for the draw modulus (q113's shape)
    "q178_auc_eval", // doc scores × broadcast 5-row language list (one-vs-rest task fan-out)
    "q181_sq8_serve", // codes × broadcast 5 probes + broadcast 1-row stats arrays (q32's probe shape)
    "q184_bm25_topk", // postings × broadcast 1-row (T, Nd) corpus totals (q113's shape)
    "q185_skipgram_pairs", // vocabulary × broadcast 1-row corpus total for keep_ppm (q113's shape)
    "q191_calibration", // ≤10 bucket rows × broadcast 1-row (N, gap) totals (q113's shape)
    "q196_hard_negatives", // q184's shape: postings × broadcast 1-row (T, Nd) corpus totals
    "q195_drift_chisq", // events × broadcast 1-row time cut + 1-row (ne, nl) totals (q113's shape)
    "q198_contrib_bound", // per-type counts × broadcast 1-row max-contribution audit (q113's shape)
    "q199_budget_sample", // 5-row strata × broadcast 1-row totals/shortfall (q113's shape)
    "q201_ap_eval", // per-task AP rows × broadcast 1-row macro-mean total (q113's shape)
    "q206_rrf_fusion", // embeds q184's BM25 chain: postings × broadcast 1-row (T, Nd) totals
    "q219_rm3_expand", // two q184 BM25 passes + the term-vote's broadcast 1-row nd total: the same broadcast-1-row crossJoin shape, three times
    "q212_mmr_diversify", // broadcast(3 probes) × corpus retriever, non-equi by design (q32's shape)
    "q203_co_triangles", // per-node tri counts × broadcast 1-row (n_tri, n_edges) totals (q113's shape)
    "q204_kcore", // core members × broadcast 1-row (n_core, m_core) totals (q113's shape)
    "q225_collocations", // pair counts × broadcast 1-row (n_tok, n_big) totals (q113's shape)
    "q231_bitext_mining", // tgt pool × broadcast src pool, conditionless block product (q32's shape)
    "q236_maxscore_serve", // index-served BM25: scored rows × broadcast 1-row (t, nd) stats, in the θ pass and final pass (q184's totals shape, twice)
    "q244_priority_sample", // ≤200-row sample × broadcast 1-row τ + 1-row exact/est totals (q99's scalar shape, three times)
    "q245_kmv_setops", // 4-row type list × broadcast 1-row click sketch + 1-row n_a scalar (q99's shape)
    "q247_data_quality_audit", // FK rules: semi-join count × broadcast 1-row table total (q99's scalar shape, twice)
    "q241_bloom_semijoin", // 20-row top list × broadcast 1-row Bloom census scalars (q99's shape, four 1-row aggregates)
    "q251_lsh_band_plan", // 404-row curve × broadcast 1-row argmin scalar (q99's shape); corpus-free by design
    "q252_maxsim_rerank", // stage-1 embeds the index BM25 serve: scored rows × broadcast 1-row (t, nd) stats (q184's totals shape)
    "q253_containment_screen", // benchmark×shard sketch pairing: 10-row and 3-row frames broadcast into conditionless products (q99's bounded-fan-out shape)
    "q257_sharded_screen") // 1-row merged corpus sketch × broadcast 10-row bench list, + 10 screened rows × broadcast 1-row corpus count (q99's bounded-fan-out shape, twice)

  /** Queries whose run function EXECUTES side-effectful work (index build,
    * store writes, a scratch-table write, a streaming tick) before
    * returning the final frame: the returned plan is just a read of the
    * materialized result, so sweeping them here would audit the trivial
    * tail while paying for the whole pipeline twice. Their interesting
    * physical shapes are pinned where the work happens instead: KnnSpec
    * (q36 pruned scan, BNLJ allowlist above), VectorStoreSpec (q87
    * partition pruning), StreamingSpec (q89), SessionizeSpec (q86
    * counters), DedupSpec "candidate generation plans" (the LSH/simhash
    * banded self-joins and the canonicalize verify join that q56/q57/q97/
    * q98/q103 materialize to scratch parquet for their oracles), KnnSpec
    * (the q106 upsert merge + exact serve). */
  private val sideEffecting = Set(
    "q36_ivf_index_topk", "q86_pipeline_metrics",
    "q87_partition_overwrite", "q89_discovery",
    "q56_minhash_lsh_pairs", "q57_simhash_neardup",
    "q97_minhash_verify", "q98_simhash_verify", "q103_dedup_canonical",
    "q106_ivf_upsert_serve",
    // q106's build-upsert-serve with the delta applied twice (the
    // natural-idempotence exactly-once gate); same persisted-index shape
    "q233_ivf_idempotent_upsert",
    // scratch-candidate ANN upgrades (round 8): candidate joins pinned in
    // KnnSpec "candidate generation plans" instead
    "q34_lsh_topk", "q35_ivf_topk",
    // q103's scratch mechanism with the keep-best canonical rule
    "q121_dedup_keep_best",
    // IVFADC: IVF build + scratch dumps run in the query body; the
    // candidate-restricted ADC join shape is pinned in PqSpec instead
    "q132_ivfadc_serve",
    // runs a real micro-batch stream (file staging + sentinel batches);
    // stream==batch equivalence pinned in StatefulSessionizeSpec
    "q133_stream_sessions",
    // runs a real two-source stream-stream interval join (file staging);
    // stream==batch equivalence pinned in StreamingSpec
    "q151_stream_interval_join",
    // runs a real bounded-state streaming dedup (file staging);
    // stream==batch equivalence pinned in StreamingSpec
    "q152_stream_dedup",
    // runs a real left-outer stream-stream join (file staging + sentinel
    // batches); stream==batch equivalence pinned in StreamingSpec
    "q156_stream_outer_join",
    // runs a real append-mode windowed aggregation (file staging +
    // sentinel batches); stream==batch equivalence pinned in StreamingSpec
    "q157_stream_tumbling",
    // training loops iterate bounded model state driver-side (the
    // IvfIndex seeding discipline): construction executes the per-step
    // distributed aggregations and returns the config-bounded model
    // table; the distributed step shapes are pinned by their specs
    // (CurationSpec, KmeansPpmSpec)
    "q153_lr_train", "q154_kmeans_train", "q155_bpe_train",
    // depth-2 Gini tree: three driver-side split searches execute during
    // construction (the q153 bounded-model discipline); the histogram
    // search shape is pinned in GiniTreeSpec
    "q193_gini_tree",
    // runs a real drip-fed media stream (file staging + micro-batches);
    // the stateless decode plan is the q164 batch operator's, and
    // stream==batch is the oracle itself (same RIFF-layout SQL)
    "q172_stream_media",
    // drip-fed stateful media stream (file staging + cross-batch dedup
    // state); the decode plan is q169's and the dedup plan is q152's
    "q173_stream_pixel_dedup",
    // writes the merged MG summary to scratch for the oracle; the
    // sketch pass (mapPartitions, no raw-stream shuffle) is pinned in
    // FrequentItemsSpec
    "q189_mg_heavy",
    // q103's scratch mechanism with the cluster-keyed hash split
    "q192_leakage_split",
    // writes the band-bucket index + probe pairs to scratch; the
    // probe-only join shape is pinned in DedupSpec
    "q194_incremental_dedup",
    // persists the exact-dedup prefix index to scratch before probing;
    // the probe join shapes are pinned in SetSimJoinSpec
    "q215_incremental_setsim",
    // builds + persists the prefix index, MERGES a batch into it, and
    // persists the merged index before probing; merge/probe shapes are
    // pinned in SetSimJoinSpec
    "q217_index_merge",
    // builds + persists the postings index before serving; the serve's
    // pruned-scan and broadcast-1-row-totals shapes (q184's BNLJ shape)
    // are pinned in PostingsIndexSpec, incl. the partition-filter assert
    "q216_postings_serve",
    // builds + persists the postings index, MERGES a batch (appends +
    // df/stats rewrite), then serves; equivalences pinned in
    // PostingsIndexSpec
    "q218_postings_merge",
    // runs a real file-drip stream whose foreachBatch merges each
    // micro-batch into the persisted postings index before serving;
    // merge/serve shapes pinned in PostingsIndexSpec
    "q220_stream_postings",
    // builds + persists the postings index, then serves BOTH RM3 passes
    // from it; serve/vote shapes pinned in PostingsIndexSpec
    "q222_rm3_index",
    // runs the full exactly-once protocol (torn-state write, ledgered
    // merges, redeliveries, a file-drip stream, compaction) before
    // serving; merge/heal/serve shapes pinned in
    // LedgeredPostingsIndexSpec
    "q223_stream_exactly_once",
    // builds + persists the postings index AND the IVF vector index
    // before serving all five eval rankers from them; serve shapes
    // pinned in PostingsIndexSpec/KnnSpec
    "q224_indexed_retrieval_eval",
    // r18: the corpus-recomputed five-ranker lists publish as a shared
    // run-file artifact (rankerListsShared) inside the body — the
    // returned plan is the metric aggregation over the artifact scan.
    // The chains' component shapes stay audited through their
    // still-inline owners (q184/q196/q206 BM25 totals, q219 RM3,
    // q32-shape brute cosine) and the three oracles replay the full
    // ranker surface value-for-value
    "q214_retrieval_eval", "q229_rbp_eval", "q237_ndcg_eval",
    // builds + persists the bounds-carrying postings index before the
    // MaxScore serve; pruned-serve shape pinned in PostingsIndexSpec
    "q236_maxscore_serve",
    // runs the full exactly-once protocol on the BAND index (torn ghost,
    // file-drip stream, redeliveries, multiset theorem, probe dump);
    // merge/heal/probe shapes pinned in LedgeredBandIndexSpec
    "q227_stream_dedup_exactly_once",
    // probe-before-merge streaming dedup loop (file-drip stream, per-
    // batch probes + merges, order-independence theorem, scratch dump);
    // probe/merge shapes pinned in LedgeredBandIndexSpec/DedupSpec
    "q230_streaming_dedup_loop",
    // versioned (copy-on-write) prefix-index ingest: orphan/torn version
    // writes, ledgered merges, prune, then the probe; version/merge
    // shapes pinned in VersionedSetSimIndexSpec/SetSimJoinSpec
    "q232_versioned_index_ingest",
    // incremental-CC canonicalization: candidate scratch dump + three
    // ledgered quotient merges (each redelivered) before the final
    // mapping read; quotient/merge shapes pinned in VersionedCcIndexSpec
    "q234_incremental_cc",
    // writes its CSV fixture, reads it through the PERMISSIVE csv
    // source, and collects the quarantine count before the final agg
    "q235_csv_quarantine",
    // writes the decile read to scratch for the oracle's true-rank
    // audit; summary/read shapes pinned in QuantileSummarySpec
    "q200_quantile_sketch")

  private def auditable: Seq[String] =
    SparkEntry.allQueries.map(_.name).filterNot(sideEffecting)

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("no declared query plans a CartesianProduct") {
    val offenders = auditable.filter { n =>
      planOf(n).contains("CartesianProduct")
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("BroadcastNestedLoopJoin only where it is the deliberate shape") {
    val offenders = auditable.filter { n =>
      !bnljAllowed.contains(n) && planOf(n).contains("BroadcastNestedLoopJoin")
    }
    assert(offenders.isEmpty, s"unexpected BNLJ in: $offenders")
  }

  test("filter pushdown reaches the parquet scan (q02)") {
    val plan = planOf("q02_filter_pushdown")
    assert(plan.contains("PushedFilters: ["), plan.take(2000))
    val pushed = plan.split("PushedFilters: \\[")(1).takeWhile(_ != ']')
    assert(pushed.trim.nonEmpty, s"no filters pushed: $pushed")
  }

  test("small dimension joins broadcast (q04)") {
    val plan = planOf("q04_broadcast_dim_join")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("column pruning reaches the parquet scan (q112)") {
    // q112 derives everything from doc_id: the documents scan must not
    // read text (the fat column) — ReadSchema should be doc_id alone
    val plan = planOf("q112_hash_split")
    val schemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(schemas.nonEmpty, plan.take(2000))
    assert(schemas.forall(s => s.contains("doc_id") && !s.contains("text")),
      s"unpruned scan schemas: $schemas")
  }

  // Queries whose plan legitimately embeds a driver-materialized table —
  // either driver-authored constants, or a GATED bounded collect with a
  // documented distributed fallback. Anything else growing a LocalTableScan
  // means a computation silently moved to the driver — the regression class
  // the IvfIndex probed-centroid collects could invite (VERDICT r8 item 5).
  private val localScanAllowed = Set(
    "q95_text_hash_goldens", // authored golden input strings, by design
    // ConnectedComponents union-find fast path: edges collected ONLY below
    // the 2^20 gate; above it the star-contraction loop runs distributed
    // (ConnectedComponents.scala). The bound is data-independent config.
    "q55_graph_stats", "q117_semantic_canonical",
    "q129_curation_pipeline", // same CC union-find fast path under the gate
    // SketchTopK: the verify side re-counts a candidate list bounded by k
    // (sketch width), never by corpus size (SketchTopK.scala).
    "q96_sketch_topk_tokens", "q101_sketch_topk_exactfallback",
    // IterativeQuantile: driver-authored (p_ppm, k) constant table; the
    // histogram locate collects ≤ `buckets` aggregate rows (data-
    // independent bound, IterativeQuantile.scala) — the selected values
    // themselves never visit the driver.
    "q137_order_stats",
    // KCenter (Gonzalez farthest-point): the OUTPUT is a k-row model
    // table built from one (vid, d²) row per round — the q153/q154
    // bounded-model discipline (k rows, data-independent bound,
    // KCenter.scala). The per-round distance sweep itself runs
    // distributed; only the argmax row visits the driver.
    "q202_kcenter_seeds",
    // RM3 feedback replant (PostingsIndex.rm3ExpandedTermsFrom): the
    // collected list is ≤ fbDocs·|Q| rows — bounded by serving CONFIG,
    // not data — and replanting it (a) pushes the doc-id isin into the
    // forward scan and (b) cuts the first-pass serve out of the
    // expansion's lineage so it is not re-evaluated per action
    "q222_rm3_index", "q224_indexed_retrieval_eval",
    // MixturePlan.waterfill: the plan is computed on the |languages|-row
    // stock aggregate — waterfill REQUIRES ≤ 64 domains (data-independent
    // bound enforced loudly, MixturePlan.scala); the corpus-sized work
    // (stock aggregation in, sampling job out) stays distributed, and
    // q256's sampling consumes the plan via a broadcast join
    "q255_mixture_waterfill", "q256_mixture_sampled")

  test("LocalTableScan only for driver-authored literal inputs") {
    val offenders = auditable.filter { n =>
      !localScanAllowed.contains(n) && planOf(n).contains("LocalTableScan")
    }
    assert(offenders.isEmpty, s"driver-materialized tables in: $offenders")
  }

  test("isin literal lists stay bounded (no unbounded driver round-trips)") {
    // probed-centroid pruning collects AT MOST nCentroids ids into an isin
    // literal; any list beyond that bound means a driver collect over data
    // that scales with the corpus, not the index
    val inList = "(?s) IN \\(([^)]*)\\)".r
    val offenders = auditable.flatMap { n =>
      inList.findAllMatchIn(planOf(n)).map(m => (n, m.group(1).count(_ == ',') + 1))
    }.filter(_._2 > 64)
    assert(offenders.isEmpty, s"oversized isin literal lists: $offenders")
  }

  /** Queries whose ShuffledHashJoins build a side carrying an array
    * column: a shuffled hash build cannot spill, so array-heavy build
    * rows are the unspillable shape (the q208 verify regression). */
  private def arrayHashBuilds(names: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    object aqe
      extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    names.filter { n =>
      val plan = SparkEntry.queries(n)(spark, sf).queryExecution.executedPlan
      aqe.collect(plan) { case j: ShuffledHashJoinExec => j }.exists { j =>
        val build = if (j.buildSide == BuildLeft) j.left else j.right
        build.output.exists(_.dataType
          .isInstanceOf[org.apache.spark.sql.types.ArrayType])
      }
    }
  }

  test("no ShuffledHashJoin builds array-typed rows (q208, q213)") {
    val offenders = arrayHashBuilds(Seq("q208_setsim_join",
      "q213_lsh_recall_audit"))
    assert(offenders.isEmpty, s"array-typed hash builds in: $offenders")
  }

  test("partial aggregation precedes the shuffle in q01") {
    // HashAggregate(partial) → Exchange → HashAggregate(final): the
    // map-side-combine shape every big groupBy needs at scale
    val plan = planOf("q01_pricing_summary")
    val firstAgg = plan.indexOf("HashAggregate")
    val exchange = plan.indexOf("Exchange")
    assert(firstAgg >= 0 && exchange >= 0, plan.take(2000))
  }
}

package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.QueryDef.{rowsOnly, sql}
import graft.core.Tables
import graft.functions.{simhash64, winnow_fingerprint}

/** Text-analysis + deduplication surface over the `documents` table — the
  * LLM-training-data operators required beyond the reference's own surface:
  * exact dedup, MinHash+LSH near-dup, SimHash, n-gram Jaccard, token
  * counting, quality scoring, language ID, document fingerprinting.
  *
  * MinHash uses md5-of-shingle string minima (k independent "hash functions"
  * = k salts) — deliberately expressible in both engines so the signature
  * computation itself is oracle-checked; the engine-only SimHash/winnowing
  * variants use the pinned FNV-1a64 expressions.
  */
object TextQueries {

  def all: Seq[QueryDef] = Seq(
    q40ExactDedup, q41TokenStats, q42QualityScore, q43MinhashSignatures,
    q44JaccardPairs, q45LshCandidates, q46Simhash, q47LangId, q48Fingerprint,
    q64MinhashPairs, q65BpeTokens, q66Vocab, q83StableSample, q90Redact,
    q91Contamination, q92Repetition, q95TextHashGoldens, q96SketchTopkTokens,
    q101SketchTopkShingles, q107EpochShuffle, q108TokenPacking,
    q109WindowManifest, q110MixtureWeights, q130LengthBatches,
    q131WeightedSample, q135TfidfTerms, q148Curriculum, q184Bm25TopK,
    q187NormalizedDedup, q191Calibration, q196HardNegatives,
    q149StratifiedExact, q177Blocklist, q199BudgetSample, q206RrfFusion,
    q210PhraseSearch, q214RetrievalEval, q216PostingsServe, q218PostingsMerge,
    q219Rm3Expand, q220StreamPostings, q221PhraseSnippets, q222Rm3Index,
    q223StreamExactlyOnce, q224IndexedEval, q225Collocations,
    q226DpNoisyCounts, q228WinnowOverlap, q229RbpEval, q231BitextMining,
    q235CsvQuarantine, q236MaxScoreServe, q237NdcgEval,
    q243TextrankKeywords, q249ImpactServe, q250LedgeredImpactServe,
    q252MaxsimRerank, q253ContainmentScreen, q257ShardedScreen)

  private def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)

  private val tokens: Column = split(col("text"), " ")

  /** Exact dedup via content hash → representative id + multiplicity
    * (hash-groupBy; at 100 TB this is one shuffle on the 128-bit digest). */
  val q40ExactDedup: QueryDef = sql(
    "q40_exact_dedup",
    """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
      |       count(*) AS n_copies
      |FROM documents
      |GROUP BY md5(text)
      |ORDER BY content_hash""".stripMargin) { (s, d) =>
    docs(s, d)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("content_hash"))
  }

  /** Token counting + char stats (whitespace tokenizer — the BPE-ish regex
    * variant is q47's engine-side path). */
  val q41TokenStats: QueryDef = sql(
    "q41_token_stats",
    """SELECT doc_id,
      |       CAST(length(text) AS BIGINT) AS n_chars_calc,
      |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    docs(s, d)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_calc"),
        size(tokens).cast("long").as("n_tokens"),
        size(array_distinct(tokens)).cast("long").as("n_distinct_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Quality scoring: type-token ratio, stopword ratio, mean token length —
    * the length/punct/stopword heuristics of a pretraining quality filter. */
  val q42QualityScore: QueryDef = sql(
    "q42_quality_score",
    """SELECT doc_id,
      |       round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |             / len(string_split(text, ' ')), 6) AS ttr,
      |       round(CAST(len(list_filter(string_split(text, ' '),
      |                                  t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
      |             / len(string_split(text, ' ')), 6) AS stopword_ratio,
      |       round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
      |             / len(string_split(text, ' ')), 6) AS mean_token_len
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val stop = Seq("the", "a", "of", "and", "to")
    val nTok = size(tokens).cast("double")
    docs(s, d)
      .select(col("doc_id"),
        oround(size(array_distinct(tokens)).cast("double") / nTok, 6).as("ttr"),
        oround(size(filter(tokens, t => t.isInCollection(stop))).cast("double") / nTok, 6)
          .as("stopword_ratio"),
        oround(length(regexp_replace(col("text"), " ", "")).cast("double") / nTok, 6)
          .as("mean_token_len"))
      .orderBy(col("doc_id"))
  }

  /** MinHash signatures over word 3-shingles, 4 salted md5 "hash functions".
    * (Spark array subscripts are 0-based, DuckDB's 1-based — mind the +1.) */
  val q43MinhashSignatures: QueryDef = sql(
    "q43_minhash_signatures",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
      |sh AS (SELECT doc_id,
      |              CASE WHEN len(tok) >= 3
      |                   THEN list_transform(range(len(tok) - 2),
      |                        i -> tok[i + 1] || ' ' || tok[i + 2] || ' ' || tok[i + 3])
      |                   ELSE [] END AS shingles
      |       FROM t)
      |SELECT doc_id,
      |       list_aggregate(list_transform(shingles, s -> md5('0' || s)), 'min') AS sig0,
      |       list_aggregate(list_transform(shingles, s -> md5('1' || s)), 'min') AS sig1,
      |       list_aggregate(list_transform(shingles, s -> md5('2' || s)), 'min') AS sig2,
      |       list_aggregate(list_transform(shingles, s -> md5('3' || s)), 'min') AS sig3
      |FROM sh
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    // salted_md5_min digests shingles straight from the token array —
    // exact parity with array_min(transform(shingles, md5(salt || s)))
    // and no shingle-string materialization
    def sig(salt: String): Column = graft.functions.salted_md5_min(col("tok"), salt)
    docs(s, d).select(col("doc_id"), tokens.as("tok"))
      .select(col("doc_id"),
        sig("0").as("sig0"), sig("1").as("sig1"), sig("2").as("sig2"), sig("3").as("sig3"))
      .orderBy(col("doc_id"))
  }

  /** n-gram (token-set) Jaccard similarity over adjacent doc pairs —
    * the verification half of near-dup detection (candidates come from
    * q45's LSH buckets; here the pairing is deterministic so the Jaccard
    * computation itself is oracle-checked). */
  val q44JaccardPairs: QueryDef = sql(
    "q44_jaccard_pairs",
    """WITH t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tok
      |           FROM documents)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |       round(CAST(len(list_filter(a.tok, x -> list_contains(b.tok, x))) AS DOUBLE)
      |             / len(list_distinct(a.tok || b.tok)), 6) AS jaccard
      |FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
      |ORDER BY id_a""".stripMargin) { (s, d) =>
    val t = docs(s, d).select(col("doc_id"), array_distinct(tokens).as("tok"))
    val a = t.select(col("doc_id").as("id_a"), col("tok").as("tok_a"))
    val b = t.select(col("doc_id").as("id_b"), col("tok").as("tok_b"))
    a.join(b, col("id_b") === col("id_a") + 1)
      .select(col("id_a"), col("id_b"),
        oround(size(array_intersect(col("tok_a"), col("tok_b"))).cast("double")
          / size(array_union(col("tok_a"), col("tok_b"))), 6).as("jaccard"))
      .orderBy(col("id_a"))
  }

  /** MinHash-LSH banding: docs sharing the (sig0, sig1) band land in one
    * bucket; buckets with >1 doc are near-dup candidates. Scale: this is the
    * O(n²)→O(n) trick — a groupBy on the band key replaces the all-pairs
    * join; candidates then get exact-Jaccard verification (q44 semantics). */
  val q45LshCandidates: QueryDef = sql(
    "q45_lsh_candidates",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
      |sh AS (SELECT doc_id,
      |              CASE WHEN len(tok) >= 3
      |                   THEN list_transform(range(len(tok) - 2),
      |                        i -> tok[i + 1] || ' ' || tok[i + 2] || ' ' || tok[i + 3])
      |                   ELSE [] END AS shingles
      |       FROM t),
      |sigs AS (SELECT doc_id,
      |                md5(list_aggregate(list_transform(shingles, s -> md5('0' || s)), 'min')
      |                    || list_aggregate(list_transform(shingles, s -> md5('1' || s)), 'min'))
      |                  AS band
      |         FROM sh WHERE len(shingles) > 0)
      |SELECT band, count(*) AS n_docs, min(doc_id) AS min_doc, max(doc_id) AS max_doc
      |FROM sigs
      |GROUP BY band
      |HAVING count(*) > 1
      |ORDER BY band""".stripMargin) { (s, d) =>
    def sig(salt: String): Column = graft.functions.salted_md5_min(col("tok"), salt)
    docs(s, d).select(col("doc_id"), tokens.as("tok"))
      .filter(size(col("tok")) >= 3)
      .select(col("doc_id"), md5(concat(sig("0"), sig("1"))).as("band"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .filter(col("n_docs") > 1)
      .orderBy(col("band"))
  }

  /** SimHash fingerprints — FULL oracle since round 9 (was rows-only +
    * q95 goldens): the FNV-1a bit-vote fingerprint is integer arithmetic,
    * so DuckDB replays it end to end in 128-bit SQL — variable-length
    * FNV-1a per token, per-bit ±1 votes over all token instances, strict
    * votes>0 bit set, two's-complement fold to the signed simhash. */
  val q46Simhash: QueryDef = {
    // Variable-length FNV-1a as 16 CHAINED CTEs (one guarded mix step per
    // char position) — chaining keeps the SQL linear where a folded nested
    // expression would double per step. Tokens are ASCII and ≤ 8 chars in
    // the driver corpus; 16 covers headroom, and a longer token would fail
    // the hash compare loudly rather than silently truncate.
    val mixSteps = (1 to 16).map { i =>
      s"""h$i AS (
         |  SELECT doc_id, tok,
         |         CASE WHEN len(tok) >= $i
         |              THEN ((xor(h, ord(substr(tok,$i,1))::HUGEINT))
         |                    * 1099511628211) % 18446744073709551616
         |              ELSE h END AS h
         |  FROM h${i - 1})""".stripMargin
    }.mkString(",\n")
    sql(
      "q46_simhash",
      s"""WITH t AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |h0 AS (
         |  SELECT doc_id, tok, 14695981039346656037::HUGEINT AS h FROM t),
         |$mixSteps,
         |v AS (
         |  SELECT doc_id, CAST(u.b AS INT) AS b,
         |         sum(CASE WHEN ((h >> CAST(u.b AS INT)) & 1) = 1
         |                  THEN 1 ELSE -1 END) AS votes
         |  FROM h16, unnest(range(64)) AS u(b)
         |  GROUP BY doc_id, u.b),
         |sh AS (
         |  SELECT doc_id,
         |         sum(CASE WHEN votes > 0 THEN (1::HUGEINT << b)
         |                  ELSE 0::HUGEINT END) AS uh
         |  FROM v GROUP BY doc_id)
         |SELECT doc_id,
         |       CAST(CASE WHEN uh >= 9223372036854775808
         |                 THEN uh - 18446744073709551616 ELSE uh END AS BIGINT)
         |         AS simhash
         |FROM sh ORDER BY doc_id""".stripMargin) { (s, d) =>
      docs(s, d)
        .select(col("doc_id"), simhash64(tokens).as("simhash"))
        .orderBy(col("doc_id"))
    }
  }

  /** The engine-pinned hash functions, VALUE-checked: recompute SimHash and
    * winnowing fingerprints from the committed corpus fixture's text, while
    * the oracle replays the values recorded at fixture-commit time
    * (tools/GenTextGoldens). These hashes have no SQL-expressible truth —
    * the golden IS the contract, and any drift in the FNV-1a mixing, bit
    * votes, or window minima turns this query red instead of silently
    * changing every downstream near-dup bucket. */
  val q95TextHashGoldens: QueryDef = {
    def root = graft.core.Fixtures.resolve("goldens", "GRAFT_GOLDEN_FIXTURES")
    sql(
      "q95_text_hash_goldens",
      s"""SELECT doc_id, simhash, fp_csv
         |FROM read_parquet('$root/text_hashes.parquet/*.parquet')
         |ORDER BY doc_id""".stripMargin) { (s, _) =>
      s.read.parquet(s"$root/text_hashes.parquet")
        .select(col("doc_id"),
          simhash64(split(col("text"), " ")).as("simhash"),
          concat_ws(",", winnow_fingerprint(col("text"))).as("fp_csv"))
        .orderBy(col("doc_id"))
    }
  }

  /** Exact top-k heavy-hitter tokens via sketch-then-verify
    * (operators.SketchTopK): zero-shuffle per-partition top-m sketch →
    * candidate-only exact re-count (broadcast semi-join) → threshold
    * certificate with a full-aggregation fallback. The answer is exact
    * either way — only the shuffled volume is adaptive — so the DuckDB
    * brute-force oracle applies directly. At 100 TB this is the shape that
    * survives: the naive groupBy shuffles every distinct token; the sketch
    * shuffles ≤ partitions × m candidate groups. */
  val q96SketchTopkTokens: QueryDef = sql(
    "q96_sketch_topk_tokens",
    """SELECT item, count(*) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS item FROM documents)
      |GROUP BY item
      |ORDER BY n DESC, item
      |LIMIT 25""".stripMargin) { (s, d) =>
    val toks = docs(s, d).select(explode(tokens).as("item"))
    graft.operators.SketchTopK.topK(toks, "item", 25)
      .orderBy(col("n").desc, col("item"))
  }

  /** q96's heavy-tailed sibling (VERDICT r6 item 6): the same
    * sketch-then-verify exact top-k, but over 5-gram shingles — a
    * distribution wide enough that per-partition sketches truncate (m=25
    * with tens of thousands of near-unique shingles per partition), the tie
    * certificate fails, and the operator takes its exact-fallback path IN
    * THE BENCH rather than only in the spec. The answer is exact on either
    * path, so the brute-force DuckDB oracle applies unchanged. */
  val q101SketchTopkShingles: QueryDef = sql(
    "q101_sketch_topk_shingles",
    """WITH t AS (SELECT string_split(text, ' ') AS tok FROM documents),
      |sh AS (SELECT unnest(CASE WHEN len(tok) >= 5
      |                          THEN list_transform(range(len(tok) - 4),
      |                               i -> tok[i + 1] || ' ' || tok[i + 2] || ' ' || tok[i + 3]
      |                                    || ' ' || tok[i + 4] || ' ' || tok[i + 5])
      |                          ELSE [] END) AS item
      |       FROM t)
      |SELECT item, count(*) AS n
      |FROM sh
      |GROUP BY item
      |ORDER BY n DESC, item
      |LIMIT 10""".stripMargin) { (s, d) =>
    val sh = docs(s, d)
      .select(explode(graft.dedup.Dedup.shingles(col("text"), 5)).as("item"))
    graft.operators.SketchTopK.topK(sh, "item", 10, perPartitionM = 25)
      .orderBy(col("n").desc, col("item"))
  }

  /** Language ID: stopword-profile scoring (n-gram heuristic family),
    * argmax over the 5 profiles with lexicographically-larger-code
    * tie-break. Oracle replays the same scoring in SQL (hit-count ÷ token
    * count is exact integer→double division on both engines; the CASE
    * checks codes from 'zh' down so >= reproduces the tie-break). */
  val q47LangId: QueryDef = {
    val profileSql = graft.text.LangId.profiles.map { case (lang, stops) =>
      lang -> stops.map(w => s"'$w'").mkString("(", ", ", ")")
    }
    def scoreSql(lang: String): String =
      s"CAST(len(list_filter(toks, t -> t IN ${profileSql.toMap.apply(lang)})) AS DOUBLE) / greatest(len(toks), 1)"
    sql(
      "q47_langid",
      s"""WITH t AS (SELECT doc_id, lang, regexp_split_to_array(lower(text), '\\s+') AS toks
         |           FROM documents),
         |scored AS (SELECT doc_id, lang,
         |                  ${scoreSql("de")} AS s_de, ${scoreSql("en")} AS s_en,
         |                  ${scoreSql("es")} AS s_es, ${scoreSql("fr")} AS s_fr,
         |                  ${scoreSql("zh")} AS s_zh
         |           FROM t)
         |SELECT doc_id, lang,
         |       CASE WHEN s_zh >= s_fr AND s_zh >= s_es AND s_zh >= s_en AND s_zh >= s_de THEN 'zh'
         |            WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
         |            WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
         |            WHEN s_en >= s_de THEN 'en'
         |            ELSE 'de' END AS lang_pred,
         |       round(greatest(s_de, s_en, s_es, s_fr, s_zh), 6) AS lang_score
         |FROM scored
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import graft.text.LangId
      LangId.detect(docs(s, d), col("text"))
        .select(col("doc_id"), col("lang"), col("lang_pred"), col("lang_score"))
        .orderBy(col("doc_id"))
    }
  }

  /** The complete MinHash-LSH dedup pipeline, oracle-checked end to end:
    * 2 bands × 2 salted-md5 signatures → bucket-join candidates → exact
    * distinct-token Jaccard ≥ 0.2. Composes the q43 signatures, q45
    * banding and q44 verification into one query on both engines. */
  val q64MinhashPairs: QueryDef = sql(
    "q64_minhash_pairs",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
      |sh AS (SELECT doc_id, tok,
      |              CASE WHEN len(tok) >= 3
      |                   THEN list_transform(range(len(tok) - 2),
      |                        i -> tok[i + 1] || ' ' || tok[i + 2] || ' ' || tok[i + 3])
      |                   ELSE [] END AS shingles
      |       FROM t),
      |sigs AS (SELECT doc_id, tok,
      |                md5(list_aggregate(list_transform(shingles, s -> md5('0' || s)), 'min')
      |                    || list_aggregate(list_transform(shingles, s -> md5('1' || s)), 'min')) AS band0,
      |                md5(list_aggregate(list_transform(shingles, s -> md5('2' || s)), 'min')
      |                    || list_aggregate(list_transform(shingles, s -> md5('3' || s)), 'min')) AS band1
      |         FROM sh WHERE len(shingles) > 0),
      |bands AS (SELECT doc_id, tok, unnest(['b0-' || band0, 'b1-' || band1]) AS bucket FROM sigs),
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |         FROM bands a JOIN bands b ON a.bucket = b.bucket AND b.doc_id > a.doc_id)
      |SELECT id_a, id_b,
      |       round(CAST(len(list_filter(list_distinct(ta.tok), x -> list_contains(tb.tok, x))) AS DOUBLE)
      |             / len(list_distinct(ta.tok || tb.tok)), 6) AS jaccard
      |FROM cand JOIN t ta ON ta.doc_id = id_a JOIN t tb ON tb.doc_id = id_b
      |WHERE round(CAST(len(list_filter(list_distinct(ta.tok), x -> list_contains(tb.tok, x))) AS DOUBLE)
      |            / len(list_distinct(ta.tok || tb.tok)), 6) >= 0.2
      |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
    def sig(salt: String): Column = graft.functions.salted_md5_min(col("tok"), salt)
    val base = docs(s, d).select(col("doc_id"), tokens.as("tok"))
    val bands = base
      .filter(size(col("tok")) >= 3)
      .select(col("doc_id"),
        explode(array(
          concat(lit("b0-"), md5(concat(sig("0"), sig("1")))),
          concat(lit("b1-"), md5(concat(sig("2"), sig("3")))))).as("bucket"))
    val cand = bands.select(col("bucket"), col("doc_id").as("id_a"))
      .join(bands.select(col("bucket"), col("doc_id").as("id_b")), "bucket")
      .filter(col("id_b") > col("id_a"))
      .select(col("id_a"), col("id_b")).distinct()
    val toks = base.select(col("doc_id"), array_distinct(col("tok")).as("dtok"))
    cand
      .join(toks.select(col("doc_id").as("id_a"), col("dtok").as("tok_a")), "id_a")
      .join(toks.select(col("doc_id").as("id_b"), col("dtok").as("tok_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        oround(size(array_intersect(col("tok_a"), col("tok_b"))).cast("double")
          / size(array_union(col("tok_a"), col("tok_b"))), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.2)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** BPE-style pre-tokenization (the "BPE-ish regex" token counter):
    * alpha runs | digit runs | punctuation runs — the GPT-2 pretokenizer
    * shape restricted to ASCII classes so Java-regex (Spark) and RE2
    * (DuckDB) agree exactly. */
  val q65BpeTokens: QueryDef = {
    val pattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+"
    sql(
      "q65_bpe_tokens",
      s"""SELECT doc_id,
         |       CAST(len(regexp_extract_all(text, '$pattern')) AS BIGINT) AS n_bpe_tokens,
         |       CAST(len(list_filter(regexp_extract_all(text, '$pattern'),
         |                            t -> regexp_matches(t, '^[a-zA-Z]+$$'))) AS BIGINT) AS n_alpha,
         |       CAST(len(list_filter(regexp_extract_all(text, '$pattern'),
         |                            t -> regexp_matches(t, '^[0-9]+$$'))) AS BIGINT) AS n_num
         |FROM documents
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = regexp_extract_all(col("text"), lit(pattern), lit(0))
      docs(s, d)
        .select(col("doc_id"),
          size(toks).cast("long").as("n_bpe_tokens"),
          size(filter(toks, t => t.rlike("^[a-zA-Z]+$"))).cast("long").as("n_alpha"),
          size(filter(toks, t => t.rlike("^[0-9]+$"))).cast("long").as("n_num"))
        .orderBy(col("doc_id"))
    }
  }

  /** Vocabulary / term-frequency analysis: corpus-wide top-50 tokens —
    * the vocab-building aggregation of a training-data pipeline (explode →
    * count → ordered top-k; map-side partial aggregation keeps the shuffle
    * at |vocab|, not |tokens|). */
  val q66Vocab: QueryDef = sql(
    "q66_vocab",
    """SELECT token, count(*) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |GROUP BY token
      |ORDER BY n DESC, token
      |LIMIT 50""".stripMargin) { (s, d) =>
    docs(s, d)
      .select(explode(tokens).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(50)
  }

  /** Byte-wise FNV-1a-64 of an 8-char gram as a DuckDB HUGEINT expression:
    * 8 unrolled (xor → ×prime mod 2^64) steps. The corpus is ASCII (the
    * oracle-checked langid/regex family already relies on it), so
    * `ord(char)` IS the UTF-8 byte and the replay is bit-exact against
    * `functions.Fnv1a64`. */
  private def fnvExpr(gram: String): String =
    (1 to 8).foldLeft("14695981039346656037::HUGEINT")((acc, i) =>
      s"((xor($acc, ord(substr($gram,$i,1))::HUGEINT)) * 1099511628211) % 18446744073709551616")

  /** Winnowing fingerprints (rolling-hash k-grams, window minima) — FULL
    * oracle since round 9: the FNV-1a-64 rolling hash is plain integer
    * arithmetic, so DuckDB replays the entire signature pipeline in
    * 128-bit SQL — per-position gram hashes, UNSIGNED window-of-16 minima
    * (HUGEINT values live in [0,2^64), so plain min is the unsigned min),
    * the distinct-set collapse, and the SIGNED ascending signature order
    * (two's-complement fold before the digest). Output is scalarized
    * (size + md5 digest of the comma-joined signed signature) — the
    * driver's compare can't sort raw array<long> columns. */
  val q48Fingerprint: QueryDef = sql(
    "q48_fingerprint",
    s"""WITH g AS (
       |  SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
       |         substr(text, CAST(u.i AS INT), 8) AS gram
       |  FROM documents, unnest(range(1, len(text) - 6)) AS u(i)),
       |h AS (
       |  SELECT doc_id, pos, ${fnvExpr("gram")} AS hv,
       |         count(*) OVER (PARTITION BY doc_id) AS ngrams
       |  FROM g),
       |wm AS (
       |  SELECT doc_id,
       |         min(hv) OVER (PARTITION BY doc_id ORDER BY pos
       |                       ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS mh
       |  FROM h
       |  QUALIFY ngrams > 16 AND pos <= ngrams - 15),
       |sm AS (
       |  SELECT doc_id, min(hv) AS mh FROM h WHERE ngrams <= 16 GROUP BY doc_id),
       |fp AS (
       |  SELECT DISTINCT doc_id, mh FROM wm
       |  UNION ALL
       |  SELECT doc_id, mh FROM sm),
       |sg AS (
       |  SELECT doc_id,
       |         CAST(CASE WHEN mh >= 9223372036854775808
       |                   THEN mh - 18446744073709551616 ELSE mh END AS BIGINT) AS sv
       |  FROM fp),
       |agg AS (
       |  SELECT doc_id, count(*) AS fp_size,
       |         md5(string_agg(CAST(sv AS VARCHAR), ',' ORDER BY sv)) AS fp_digest
       |  FROM sg GROUP BY doc_id)
       |SELECT d.doc_id,
       |       COALESCE(a.fp_size, 0) AS fp_size,
       |       COALESCE(a.fp_digest, md5('')) AS fp_digest
       |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    docs(s, d)
      .select(col("doc_id"), winnow_fingerprint(col("text")).as("fp"))
      .select(col("doc_id"),
        size(col("fp")).cast("long").as("fp_size"),
        md5(concat_ws(",", col("fp").cast("array<string>"))).as("fp_digest"))
      .orderBy(col("doc_id"))
  }


  /** Deterministic content-addressed sampling (training-data curation):
    * membership = md5(salt ∥ doc_id) hex prefix under a threshold —
    * reproducible across runs/engines/partitionings, nesting subsets,
    * shared predicate text with the oracle. ~25% base rate, with one
    * stratum (short docs) kept whole via the keep-all sentinel ('g' sorts
    * above every 4-char hex prefix). */
  val q83StableSample: QueryDef = QueryDef.sql(
    "q83_stable_sample",
    """SELECT doc_id, n_chars,
      |       substring(md5(concat('graft', CAST(doc_id AS VARCHAR))), 1, 4) AS bucket
      |FROM documents
      |WHERE substring(md5(concat('graft', CAST(doc_id AS VARCHAR))), 1, 4)
      |        < CASE WHEN n_chars < 200 THEN 'g' ELSE '4000' END
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import graft.operators.Sampling
    val docs = Tables.documents(s, d)
    Sampling.stratifiedStableSample(
        docs.withColumn("__stratum",
          when(col("n_chars") < 200, lit("short")).otherwise(lit("rest"))),
        "doc_id", "__stratum", Map("short" -> 65536), defaultKeep65536 = 0x4000)
      .select(col("doc_id"), col("n_chars"),
        substring(md5(concat(lit("graft"), col("doc_id").cast("string"))), 1, 4)
          .as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** PII redaction + text cleaning — the scrub pass every training-data
    * pipeline runs before release. The synthetic corpus carries no PII, so
    * both engines first INJECT deterministic contact strings derived from
    * doc_id (same SQL semantics on both sides), then redact emails/phones
    * to placeholder tokens and collapse whitespace; redaction counts and an
    * md5 of the cleaned text are value-checked. Patterns restricted to the
    * Java-regex ∩ RE2 common subset (q74 precedent); Spark's
    * regexp_replace is global by default where DuckDB needs the 'g' flag —
    * the one dialect divergence here. */
  val q90Redact: QueryDef = sql(
    "q90_redact",
    """WITH seeded AS (
      |  SELECT doc_id,
      |         text || ' contact user' || CAST(doc_id AS VARCHAR) ||
      |         '@example.com  or 555-' ||
      |         lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
      |         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
      |  FROM documents),
      |redacted AS (
      |  SELECT doc_id,
      |         len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}')) AS n_emails,
      |         len(regexp_extract_all(t, '\d{3}-\d{3}-\d{4}')) AS n_phones,
      |         trim(regexp_replace(regexp_replace(regexp_replace(t,
      |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '<EMAIL>', 'g'),
      |           '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g'),
      |           '\s+', ' ', 'g')) AS clean
      |  FROM seeded)
      |SELECT doc_id, CAST(n_emails AS BIGINT) AS n_emails,
      |       CAST(n_phones AS BIGINT) AS n_phones, md5(clean) AS clean_md5
      |FROM redacted
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
    val phonePat = "\\d{3}-\\d{3}-\\d{4}"
    docs(s, d)
      .withColumn("t", concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com  or 555-"),
        lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"), lit("-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
      .select(col("doc_id"),
        size(regexp_extract_all(col("t"), lit(emailPat), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("t"), lit(phonePat), lit(0)))
          .cast("long").as("n_phones"),
        md5(trim(regexp_replace(regexp_replace(regexp_replace(col("t"),
          emailPat, "<EMAIL>"),
          phonePat, "<PHONE>"),
          "\\s+", " "))).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  /** Benchmark-contamination screening (the decontamination pass of every
    * serious pretraining corpus): training docs sharing ≥5 distinct word
    * 3-grams with a benchmark set (here: doc_id < 10) are flagged with
    * their overlap count. Scale shape: the benchmark's distinct n-gram set
    * is small → BROADCAST; the corpus explodes to n-grams streamed against
    * it; count-distinct-per-doc is a two-phase aggregate. No corpus
    * self-join anywhere. */
  val q91Contamination: QueryDef = sql(
    "q91_contamination",
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |ngrams AS (
      |  SELECT doc_id, array_to_string(w[CAST(i AS INT):CAST(i + 2 AS INT)], ' ') AS g
      |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i
      |        FROM toks WHERE len(w) >= 3)),
      |bench AS (SELECT DISTINCT g FROM ngrams WHERE doc_id < 10)
      |SELECT n.doc_id, count(DISTINCT n.g) AS n_shared
      |FROM ngrams n JOIN bench b ON n.g = b.g
      |WHERE n.doc_id >= 10
      |GROUP BY n.doc_id
      |HAVING count(DISTINCT n.g) >= 5
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val toks = docs(s, d).select(col("doc_id"), split(col("text"), " ").as("w"))
    val ngrams = toks.filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 3), i -> concat_ws(' ', slice(w, i + 1, 3)))"))
        .as("g"))
    val bench = ngrams.filter(col("doc_id") < 10).select("g").distinct()
    ngrams.filter(col("doc_id") >= 10)
      .join(broadcast(bench), "g")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_shared"))
      .filter(col("n_shared") >= 5)
      .orderBy(col("doc_id"))
  }

  /** Repetition quality filter (the Gopher/RefinedWeb "repeated n-gram"
    * rule): per-doc duplicate word-3-gram fraction, 1 − distinct/total —
    * high values mean boilerplate/looped text a pretraining corpus drops.
    * Pure per-doc explode → two-phase aggregate; no joins at all. */
  val q92Repetition: QueryDef = sql(
    "q92_repetition",
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |ngrams AS (
      |  SELECT doc_id, array_to_string(w[CAST(i AS INT):CAST(i + 2 AS INT)], ' ') AS g
      |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i
      |        FROM toks WHERE len(w) >= 3))
      |SELECT doc_id, count(*) AS n_3grams,
      |       round(1.0 - CAST(count(DISTINCT g) AS DOUBLE) / count(*), 6)
      |         AS dup_frac
      |FROM ngrams
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    docs(s, d).select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 3), i -> concat_ws(' ', slice(w, i + 1, 3)))"))
        .as("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_3grams"),
        oround(lit(1.0) - countDistinct(col("g")).cast("double") / count(lit(1)), 6)
          .as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic EPOCH SHUFFLE + sharding — the training-read-order
    * operator: shard membership is fixed (id mod nShards — balanced, no
    * data movement between epochs), while the read order WITHIN each shard
    * is a seeded md5 permutation that changes per epoch string. Both
    * engines compute the identical md5, so the permutation itself is
    * hash-checked, not just its shape. Scale: the window partitions by
    * shard — no global-order single-partition sort; at 100 TB each shard
    * sorts independently (and nShards is the write parallelism). */
  val q107EpochShuffle: QueryDef = sql(
    "q107_epoch_shuffle",
    """WITH s AS (
      |  SELECT doc_id, doc_id % 8 AS shard,
      |         md5(CAST(doc_id AS VARCHAR) || '|epoch7') AS skey
      |  FROM documents)
      |SELECT doc_id, shard, skey,
      |       row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id) AS pos
      |FROM s
      |ORDER BY shard, pos""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    docs(s, d).select(col("doc_id"),
        (col("doc_id") % 8).as("shard"),
        md5(concat(col("doc_id").cast("string"), lit("|epoch7"))).as("skey"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("skey"), col("doc_id"))))
      .orderBy(col("shard"), col("pos"))
  }

  /** Token-stream WINDOW PACKING — the GPT-style pretraining prep step:
    * per shard, documents are concatenated in a deterministic order into
    * one token stream that is cut into fixed-size context windows
    * (budget 512); each document's start offset and first/last window are
    * derived from a running token sum, so boundary documents straddle
    * windows exactly as the concatenate-then-chunk semantics dictate.
    * Declarative (one per-shard running-sum window, no sequential loop),
    * and value-checked end to end: token counts, offsets, and window ids
    * must all agree with DuckDB's replay. Scale: partitioned by shard like
    * q107 — the running sum never crosses shard boundaries.
    *
    * Cross-engine hygiene: the windowed SUM is CAST back to BIGINT in the
    * oracle (DuckDB widens SUM(BIGINT) to HUGEINT, which the driver's
    * comparator hashes differently from Spark's long), and the window ids
    * use pure integer division (`//` / `div`) — the plan contains zero
    * floating-point operations, so no engine round/floor delta can flip
    * the hash. All offsets are non-negative, so floor- and
    * truncate-division agree. */
  val q108TokenPacking: QueryDef = sql(
    "q108_token_packing",
    """WITH t AS (
      |  SELECT doc_id, doc_id % 8 AS shard,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |o AS (
      |  SELECT doc_id, shard, n_tokens,
      |         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      |                                  ROWS UNBOUNDED PRECEDING) - n_tokens
      |            AS BIGINT) AS start_off
      |  FROM t)
      |SELECT doc_id, shard, n_tokens, start_off,
      |       start_off // 512 AS first_window,
      |       (start_off + n_tokens - 1) // 512 AS last_window
      |FROM o
      |ORDER BY shard, doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(s, d).select(col("doc_id"),
        (col("doc_id") % 8).as("shard"),
        size(tokens).cast("long").as("n_tokens"))
      .withColumn("start_off",
        (sum(col("n_tokens")).over(w) - col("n_tokens")).cast("long"))
      .withColumn("first_window", expr("start_off div 512"))
      .withColumn("last_window", expr("(start_off + n_tokens - 1) div 512"))
      .orderBy(col("shard"), col("doc_id"))
  }

  /** The trainer-feed MANIFEST completing q108: each document's straddling
    * token span explodes into one row per (window, tokens-in-window)
    * segment — `tokens_in` = |[start, start+n) ∩ [w·B, (w+1)·B)| — so a
    * loader can address exactly which token slice of which document fills
    * which context window. Generate (sequence → explode) + interval
    * arithmetic, no shuffle beyond the per-shard running sum; DuckDB
    * replays via generate_series. The invariant that every window is
    * exactly full (except each shard's last) falls out of the checked
    * values.
    *
    * Cross-engine hygiene (same as q108): windowed SUM CAST back to
    * BIGINT (no HUGEINT widening), window bounds via integer division,
    * and the derived doc_from/tokens_in CAST to BIGINT explicitly — the
    * plan is pure integer arithmetic end to end. */
  val q109WindowManifest: QueryDef = sql(
    "q109_window_manifest",
    """WITH t AS (
      |  SELECT doc_id, doc_id % 8 AS shard,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |o AS (
      |  SELECT doc_id, shard, n_tokens,
      |         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      |                                  ROWS UNBOUNDED PRECEDING) - n_tokens
      |            AS BIGINT) AS start_off
      |  FROM t),
      |seg AS (
      |  SELECT doc_id, shard, n_tokens, start_off,
      |         unnest(generate_series(start_off // 512,
      |                                (start_off + n_tokens - 1) // 512))
      |           AS window_id
      |  FROM o)
      |SELECT shard, window_id, doc_id,
      |       CAST(greatest(start_off, window_id * 512) - start_off AS BIGINT)
      |         AS doc_from,
      |       CAST(least(start_off + n_tokens, (window_id + 1) * 512)
      |            - greatest(start_off, window_id * 512) AS BIGINT) AS tokens_in
      |FROM seg
      |ORDER BY shard, window_id, doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(s, d).select(col("doc_id"),
        (col("doc_id") % 8).as("shard"),
        size(tokens).cast("long").as("n_tokens"))
      .withColumn("start_off",
        (sum(col("n_tokens")).over(w) - col("n_tokens")).cast("long"))
      .withColumn("window_id", explode(sequence(
        expr("start_off div 512"),
        expr("(start_off + n_tokens - 1) div 512"))))
      .select(col("shard"), col("window_id"), col("doc_id"),
        (greatest(col("start_off"), col("window_id") * 512) - col("start_off"))
          .cast("long").as("doc_from"),
        (least(col("start_off") + col("n_tokens"), (col("window_id") + 1) * 512)
          - greatest(col("start_off"), col("window_id") * 512))
          .cast("long").as("tokens_in"))
      .orderBy(col("shard"), col("window_id"), col("doc_id"))
  }

  /** Source-mixture WEIGHTS with temperature — the multilingual sampling
    * step (α = 0.3, the published XLM-R exponent): per language,
    * p_raw = its token share, p_temp ∝ n_tokens^α (the T^α denominator
    * cancels), and oversample = p_temp / p_raw — the up-sampling factor a
    * loader applies to low-resource sources. One per-lang aggregation
    * cross-joined with its 1-row totals (the q99 no-Expand shape — a
    * broadcast of one row, allowlisted in the plan audit); scale is the
    * token-count scan, the mixture math is O(|languages|).
    *
    * Cross-engine hygiene: the per-lang token SUM is CAST to BIGINT in
    * the oracle (DuckDB would widen to HUGEINT and hash differently),
    * and the weights are emitted as fixed-point parts-per-million
    * BIGINTs via `floor(x * 1e6 + 0.5)` — the identical IEEE double
    * operation sequence in both engines (all values are positive), so no
    * engine `round` half-up/half-even or `pow` rendering delta can flip
    * the hash. Consumers divide by 1e6 (q115 recomputes its own
    * operating-point rounding and is unaffected). */
  val q110MixtureWeights: QueryDef = sql(
    "q110_mixture_weights",
    """WITH s AS (
      |  SELECT lang, count(*) AS n_docs,
      |         CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT)
      |           AS n_tokens
      |  FROM documents GROUP BY lang),
      |tot AS (
      |  SELECT CAST(sum(n_tokens) AS BIGINT) AS tok_total,
      |         sum(power(CAST(n_tokens AS DOUBLE), 0.3)) AS pow_total
      |  FROM s)
      |SELECT lang, n_docs, n_tokens,
      |       CAST(floor(CAST(n_tokens AS DOUBLE) / tok_total * 1000000.0 + 0.5)
      |            AS BIGINT) AS p_raw_ppm,
      |       CAST(floor(power(CAST(n_tokens AS DOUBLE), 0.3) / pow_total
      |                  * 1000000.0 + 0.5) AS BIGINT) AS p_temp_ppm,
      |       CAST(floor((power(CAST(n_tokens AS DOUBLE), 0.3) / pow_total)
      |                  / (CAST(n_tokens AS DOUBLE) / tok_total)
      |                  * 1000000.0 + 0.5) AS BIGINT) AS oversample_ppm
      |FROM s, tot
      |ORDER BY lang""".stripMargin) { (s, d) =>
    val perLang = docs(s, d).groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens).cast("long")).as("n_tokens"))
    val tot = perLang.agg(
      sum(col("n_tokens")).as("tok_total"),
      sum(pow(col("n_tokens").cast("double"), lit(0.3))).as("pow_total"))
    val pTempRaw = pow(col("n_tokens").cast("double"), lit(0.3)) / col("pow_total")
    val pRawRaw = col("n_tokens").cast("double") / col("tok_total")
    def ppm(c: Column): Column = floor(c * lit(1000000.0) + lit(0.5)).cast("long")
    perLang.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        ppm(pRawRaw).as("p_raw_ppm"),
        ppm(pTempRaw).as("p_temp_ppm"),
        ppm(pTempRaw / pRawRaw).as("oversample_ppm"))
      .orderBy(col("lang"))
  }

  /** Length-bucketed batching manifest — the padding-efficient loader
    * layout (fairseq/T5-style dynamic batching): docs bucket by token
    * count (width-16 integer ranges), batches of 8 form within each
    * bucket in doc_id order, and each batch reports its padded cost —
    * `waste` = n_docs·max_len − sum_len, the padding a max-len-padded
    * batch burns. Pure integer arithmetic end to end (the q108 hygiene):
    * bucket = n_tokens div 16, batch = 0-based row_number div 8 — no
    * float op exists in either plan.
    *
    * Scale: one shuffle on the bucket key for the row_number window, one
    * (bucket, batch) aggregate; batches never cross buckets so skewed
    * lengths cannot serialize the window (bucket count grows with the
    * length range, not the corpus). */
  val q130LengthBatches: QueryDef = sql(
    "q130_length_batches",
    """WITH t AS (
      |  SELECT doc_id,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, n_tokens, n_tokens // 16 AS len_bucket,
      |         (row_number() OVER (PARTITION BY n_tokens // 16
      |                             ORDER BY doc_id) - 1) // 8 AS batch_id
      |  FROM t)
      |SELECT CAST(len_bucket AS BIGINT) AS len_bucket,
      |       CAST(batch_id AS BIGINT) AS batch_id,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(max(n_tokens) AS BIGINT) AS max_len,
      |       CAST(sum(n_tokens) AS BIGINT) AS sum_len,
      |       CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT) AS waste
      |FROM b
      |GROUP BY len_bucket, batch_id
      |ORDER BY len_bucket, batch_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("len_bucket")).orderBy(col("doc_id"))
    docs(s, d).select(col("doc_id"), size(tokens).cast("long").as("n_tokens"))
      .withColumn("len_bucket", expr("n_tokens div 16"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("batch_id", expr("(rn - 1) div 8"))
      .groupBy(col("len_bucket"), col("batch_id"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        max(col("n_tokens")).cast("long").as("max_len"),
        sum(col("n_tokens")).cast("long").as("sum_len"))
      .withColumn("waste",
        (col("n_docs") * col("max_len") - col("sum_len")).cast("long"))
      .orderBy(col("len_bucket"), col("batch_id"))
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis 2006,
    * "Weighted random sampling with a reservoir"): every doc draws a
    * deterministic uniform u from its id hash and ranks by the E–S key
    * ln(u)/w (w = token count — longer docs proportionally likelier); the
    * global top-k by key IS a weighted sample without replacement, and the
    * hash-derived u makes the draw reproducible and growth-stable (the
    * q112 property: adding docs never changes an existing doc's key). The
    * one-shot distributed twin of reservoir sampling — no sequential
    * state, one top-k.
    *
    * u = (('0x'+first 12 md5 hex chars) + 0.5) / 2^48 ∈ (0, 1) — both
    * engines parse the same 48-bit integer, so u is bit-identical; the
    * key is round-9 before ranking (repo float policy), ties → doc_id. */
  val q131WeightedSample: QueryDef = sql(
    "q131_weighted_sample",
    """WITH t AS (
      |  SELECT doc_id,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|es-v1'), 1, 12))::BIGINT
      |           AS u48
      |  FROM documents),
      |k AS (
      |  SELECT doc_id, n_tokens,
      |         round(ln((u48 + 0.5) / 281474976710656.0) / n_tokens, 9) AS es_key
      |  FROM t)
      |SELECT CAST(row_number() OVER (ORDER BY es_key DESC, doc_id) AS BIGINT) AS rank,
      |       doc_id, n_tokens, round(es_key, 6) AS es_key
      |FROM k
      |ORDER BY es_key DESC, doc_id
      |LIMIT 100""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val u48 = conv(substring(
        md5(concat(col("doc_id").cast("string"), lit("|es-v1"))), 1, 12),
      16, 10).cast("long")
    // top-k FIRST via orderBy+limit (TakeOrderedAndProject — per-partition
    // partial top-k, no global window over the corpus); the rank window
    // then runs over the k surviving rows only
    val top = docs(s, d)
      .select(col("doc_id"), size(tokens).cast("long").as("n_tokens"),
        u48.as("u48"))
      .withColumn("es_key", graft.queries.oround(
        log((col("u48") + lit(0.5)) / lit(281474976710656.0))
          / col("n_tokens"), 9))
      .orderBy(col("es_key").desc, col("doc_id"))
      .limit(100)
    // bounded: the unpartitioned window ranks the ≤ 100 rows the limit kept
    val w = Window.orderBy(col("es_key").desc, col("doc_id"))
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("doc_id"), col("n_tokens"),
        graft.queries.oround(col("es_key"), 6).as("es_key"))
      .orderBy(col("rank"))
  }

  /** CURRICULUM ordering — the pacing step of curriculum learning
    * (Bengio et al. 2009 applied to corpus prep): documents feed the
    * trainer easy-first, stage = stopword-density band (integer ppm —
    * high density ≈ simple prose first; fixed thresholds 80000/60000/
    * 40000 chosen with wide margins around the observed ~40k/62k/84k
    * quartiles at all three SFs, the q114 fixed-threshold discipline),
    * order WITHIN a stage = the q107 seeded md5 shuffle (curriculum must
    * not introduce length/topic correlation inside a stage).
    *
    * Scale: the score and stage are per-row columnar math (no global
    * rank — a quantile-staged variant would use q137's order statistics
    * for the bounds); the position window partitions by stage, and a
    * production writer would sub-shard it (stage, shard) exactly like
    * q107. Exact integer compares — no boundary can drift between
    * engines. */
  val q148Curriculum: QueryDef = sql(
    "q148_curriculum",
    """WITH s AS (
      |  SELECT doc_id,
      |         (CAST(len(list_filter(string_split(text, ' '),
      |                    t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS BIGINT)
      |          * 1000000) // len(string_split(text, ' ')) AS sw_ppm
      |  FROM documents),
      |staged AS (
      |  SELECT doc_id, sw_ppm,
      |         CAST(CASE WHEN sw_ppm >= 80000 THEN 0
      |                   WHEN sw_ppm >= 60000 THEN 1
      |                   WHEN sw_ppm >= 40000 THEN 2
      |                   ELSE 3 END AS BIGINT) AS stage,
      |         md5(CAST(doc_id AS VARCHAR) || '|curr-v1') AS skey
      |  FROM s)
      |SELECT doc_id, sw_ppm, stage,
      |       row_number() OVER (PARTITION BY stage ORDER BY skey, doc_id) AS pos
      |FROM staged
      |ORDER BY stage, pos""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    docs(s, d).select(col("doc_id"),
        expr("(CAST(size(filter(split(text, ' '), " +
          "t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS BIGINT) * 1000000) " +
          "div size(split(text, ' '))").as("sw_ppm"))
      .withColumn("stage",
        when(col("sw_ppm") >= 80000, 0L).when(col("sw_ppm") >= 60000, 1L)
          .when(col("sw_ppm") >= 40000, 2L).otherwise(3L))
      .withColumn("skey",
        md5(concat(col("doc_id").cast("string"), lit("|curr-v1"))))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("stage")).orderBy(col("skey"), col("doc_id"))))
      .select(col("doc_id"), col("sw_ppm"), col("stage"), col("pos"))
      .orderBy(col("stage"), col("pos"))
  }

  /** EXACT-ALLOCATION stratified sample — exactly 10 docs per language by
    * content-addressed md5 order (completing the sampling family: q83 is
    * rate-based membership, q131 is weight-proportional): equal per-stratum
    * allocation is how eval/calibration sets are actually drawn, and the
    * hash order makes the draw reproducible and growth-stable per stratum.
    * One per-lang window over hash order; at scale the rank prunes with
    * TakeOrdered per stratum rather than a global sort. */
  val q149StratifiedExact: QueryDef = sql(
    "q149_stratified_exact",
    """WITH h AS (
      |  SELECT doc_id, lang,
      |         md5(CAST(doc_id AS VARCHAR) || '|strat-v1') AS hkey
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, lang, hkey,
      |         row_number() OVER (PARTITION BY lang ORDER BY hkey, doc_id) AS rn
      |  FROM h)
      |SELECT lang, CAST(rn AS BIGINT) AS rnk, doc_id
      |FROM r WHERE rn <= 10
      |ORDER BY lang, rnk""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    docs(s, d)
      .select(col("doc_id"), col("lang"),
        md5(concat(col("doc_id").cast("string"), lit("|strat-v1"))).as("hkey"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("hkey"), col("doc_id")))
        .cast("long"))
      .filter(col("rnk") <= 10)
      .select(col("lang"), col("rnk"), col("doc_id"))
      .orderBy(col("lang"), col("rnk"))
  }

  /** Per-document top-3 TF-IDF terms — the keyword-extraction step of a
    * corpus indexing / topic-labeling pass. IDF uses the RATIONAL variant
    * idf = N/df in parts-per-million INTEGER arithmetic (`(N·10^6) div
    * df`) instead of log(N/df): the ranking this produces is the same
    * monotone-in-df order within a fixed tf, and the score is pure BIGINT
    * math — no cross-engine `ln` last-ulp risk anywhere (the q108 hygiene
    * applied to scoring). Ties break lexicographically on the term.
    *
    * Scale shape (the q113 discipline): the token stream collapses to
    * (doc, term, tf) FIRST — the only corpus-sized shuffle; df is a
    * vocab-sized second-phase aggregate of that table; N is a broadcast
    * 1-row cross join; the rank window partitions by doc. No per-token
    * wide join ever happens. */
  val q135TfidfTerms: QueryDef = sql(
    "q135_tfidf_terms",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (
      |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |  FROM toks GROUP BY doc_id, term),
      |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
      |s AS (
      |  SELECT doc_id, term, tf, df, tf * ((n * 1000000) // df) AS score
      |  FROM tf JOIN df USING (term), n),
      |r AS (
      |  SELECT doc_id, term, tf, df, score,
      |         row_number() OVER (PARTITION BY doc_id
      |                            ORDER BY score DESC, term) AS rn
      |  FROM s)
      |SELECT doc_id, CAST(rn AS BIGINT) AS rnk, term, tf, df,
      |       CAST(score AS BIGINT) AS score
      |FROM r WHERE rn <= 3
      |ORDER BY doc_id, rnk""".stripMargin) { (s, d) =>
    val tf = docs(s, d)
      .select(col("doc_id"), explode(tokens).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("long").as("tf"))
    val dfT = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("long").as("df"))
    val n = docs(s, d).agg(count(lit(1)).cast("long").as("n"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(dfT, "term")
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf") * expr("(n * 1000000) div df"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("df"),
        col("score").cast("long").as("score"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** Dictionary blocklist scan (the C4 "bad words" filter): ONE
    * Aho-Corasick pass per document matches the whole dictionary
    * simultaneously ([[graft.text.Blocklist]]) — a pure map stage with
    * the automaton in the closure, vs the per-pattern `contains` passes
    * the oracle replays. The fixture patterns are borderless (no
    * self-overlap), so the automaton's all-occurrence count provably
    * equals DuckDB's non-overlapping `replace` arithmetic; the
    * overlapping case SQL cannot express is pinned by BlocklistSpec. */
  val q177Blocklist: QueryDef = sql(
    "q177_blocklist",
    """WITH pats(p) AS (
      |  VALUES ('slow fast'), ('hash value'), ('table part'),
      |         ('merge'), ('window the')),
      |h AS (
      |  SELECT d.doc_id,
      |         sum((len(d.text) - len(replace(d.text, pats.p, '')))
      |             // len(pats.p)) AS n_hits,
      |         sum(CASE WHEN contains(d.text, pats.p) THEN 1 ELSE 0 END)
      |           AS n_patterns
      |  FROM documents d CROSS JOIN pats
      |  GROUP BY d.doc_id)
      |SELECT doc_id, CAST(n_hits AS BIGINT) AS n_hits,
      |       CAST(n_patterns AS INT) AS n_patterns,
      |       CAST(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END AS INT) AS blocked
      |FROM h ORDER BY doc_id""".stripMargin) { (s, d) =>
    graft.text.Blocklist.scan(docs(s, d), "doc_id", "text",
        Seq("slow fast", "hash value", "table part", "merge", "window the"))
      .orderBy(col("doc_id"))
  }

  /** BM25 lexical retrieval (k1 = 1.2, b = 0.75) — `text.Bm25.topK`,
    * the term-based twin of q147's embedding retrieval. Probes = the
    * first-8-token term sets of documents 0–4; idf in the q135 rational
    * ppm convention; the tf saturation denominator cleared exactly with
    * avgdl = T/Nd substituted, so every compare is integer. The big join
    * is a broadcast probe-terms ⋈ postings traversal over the
    * (doc, tok, tf) pre-agg — never corpus × corpus. */
  val q184Bm25TopK: QueryDef = sql(
    "q184_bm25_topk",
    """WITH base AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM base),
      |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS nd
      |        FROM dl),
      |dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      |       FROM (SELECT doc_id, unnest(w) AS tok FROM base)
      |       GROUP BY doc_id, tok),
      |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY tok),
      |q AS (SELECT DISTINCT doc_id AS qid, unnest(w[1:8]) AS tok
      |      FROM base WHERE doc_id < 5),
      |sc AS (
      |  SELECT q.qid, dt.doc_id,
      |         CAST(sum(CAST((nd * 1000) // df AS HUGEINT) *
      |                  ((88 * tf * CAST(t AS HUGEINT) * 1000000) //
      |                   (40 * CAST(t AS HUGEINT) * tf + 12 * t + 36 * dl.dl * nd))) AS BIGINT)
      |           AS score_i
      |  FROM q JOIN dfq USING (tok) JOIN dt USING (tok)
      |  JOIN dl ON dl.doc_id = dt.doc_id CROSS JOIN tot
      |  WHERE dt.doc_id <> q.qid
      |  GROUP BY q.qid, dt.doc_id)
      |SELECT qid, rank, doc_id, score_i FROM (
      |  SELECT qid, doc_id, score_i,
      |         row_number() OVER (PARTITION BY qid
      |                            ORDER BY score_i DESC, doc_id) AS rank
      |  FROM sc)
      |WHERE rank <= 10
      |ORDER BY qid, rank""".stripMargin) { (s, d) =>
    val probes = Tables.documents(s, d)
      .filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"),
        explode(slice(split(col("text"), " "), 1, 8)).as("tok"))
      .distinct()
    graft.text.Bm25.topK(Tables.documents(s, d), "doc_id", "text",
        probes, k = 10)
      .orderBy(col("qid"), col("rank"))
  }

  /** Exact phrase search over a positional inverted index —
    * `text.PhraseSearch.phraseMatches` (the anchor-intersection form:
    * posting (doc, pos, tok) × query token (qid, off, tok) → anchor
    * `pos − off`; a length-L phrase occurs where all L offsets hit one
    * anchor). Probes are the first-3-token prefixes of docs 0–4, so the
    * corpus's planted near-dups give real cross-document matches. The
    * oracle replays the identical anchor algebra in SQL; overlap and
    * repeated-token semantics are pinned in PhraseSearchSpec against a
    * sliding-window brute scan. */
  val q210PhraseSearch: QueryDef = sql(
    "q210_phrase_search",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |q AS (SELECT doc_id AS qid, array_to_string(w[1:3], ' ') AS phrase
      |      FROM t WHERE doc_id < 5),
      |qt AS (
      |  SELECT qid, CAST(i - 1 AS BIGINT) AS off, p[CAST(i AS INT)] AS tok,
      |         CAST(len(p) AS BIGINT) AS plen
      |  FROM (SELECT qid, string_split(phrase, ' ') AS p FROM q)
      |       CROSS JOIN UNNEST(generate_series(1, 8)) AS r(i)
      |  WHERE i <= len(p)),
      |post AS (
      |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, w[CAST(i AS INT)] AS tok
      |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
      |        FROM t)),
      |anch AS (
      |  SELECT qt.qid, p.doc_id, p.pos - qt.off AS anchor, qt.plen
      |  FROM qt JOIN post p USING (tok)),
      |occ AS (
      |  SELECT qid, doc_id, anchor, plen, CAST(count(*) AS BIGINT) AS hits
      |  FROM anch GROUP BY qid, doc_id, anchor, plen)
      |SELECT qid, doc_id, CAST(count(*) AS BIGINT) AS n_occ
      |FROM occ WHERE hits = plen
      |GROUP BY qid, doc_id
      |ORDER BY qid, doc_id""".stripMargin) { (s, d) =>
    val queries = docs(s, d).filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"),
        array_join(slice(split(col("text"), " "), 1, 3), " ").as("phrase"))
    // served from the SHARED standing index's positional postings
    // (bucket-pruned scan) — identical anchor algebra to the corpus
    // path `PhraseSearch.phraseMatches`, which stays spec-pinned
    postingsShared.get(s, d).phraseMatches(queries)
      .orderBy(col("qid"), col("doc_id"))
  }

  /** Phrase SNIPPET rendering — `PhraseSearch.phraseAnchors` +
    * `PhraseSearch.snippets`: the positional index FINDS every exact
    * occurrence (q210's anchor intersection, now kept at anchor
    * granularity), and the FORWARD store (the documents table) renders
    * a ±2-token window around each match's FIRST anchor — the serving
    * step a retrieval stack runs after ranking. Snippets deliberately
    * come from the row-oriented forward side: rebuilding context from
    * tok-partitioned postings would scan every bucket, while the
    * forward join touches only the MATCHED doc ids. The oracle replays
    * anchors, first-anchor selection, and the exact slice arithmetic
    * (both engines clamp a window that overruns the document
    * identically), so an off-by-one in the window or a wrong first
    * anchor hash-mismatches the snippet STRING itself. */
  val q221PhraseSnippets: QueryDef = sql(
    "q221_phrase_snippets",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |q AS (SELECT doc_id AS qid, array_to_string(w[1:3], ' ') AS phrase
      |      FROM t WHERE doc_id < 5),
      |qt AS (
      |  SELECT qid, CAST(i - 1 AS BIGINT) AS off, p[CAST(i AS INT)] AS tok,
      |         CAST(len(p) AS BIGINT) AS plen
      |  FROM (SELECT qid, string_split(phrase, ' ') AS p FROM q)
      |       CROSS JOIN UNNEST(generate_series(1, 8)) AS r(i)
      |  WHERE i <= len(p)),
      |post AS (
      |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, w[CAST(i AS INT)] AS tok
      |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
      |        FROM t)),
      |anch AS (
      |  SELECT qt.qid, p.doc_id, p.pos - qt.off AS anchor, qt.plen
      |  FROM qt JOIN post p USING (tok)),
      |occ AS (
      |  SELECT qid, doc_id, anchor, plen, CAST(count(*) AS BIGINT) AS hits
      |  FROM anch GROUP BY qid, doc_id, anchor, plen),
      |hit AS (SELECT qid, doc_id, anchor, plen FROM occ WHERE hits = plen),
      |fst AS (
      |  SELECT qid, doc_id, CAST(count(*) AS BIGINT) AS n_occ,
      |         min(anchor) AS first_anchor, min(plen) AS plen
      |  FROM hit GROUP BY qid, doc_id)
      |SELECT f.qid, f.doc_id, f.n_occ, f.first_anchor,
      |       array_to_string(
      |         t.w[CAST(greatest(f.first_anchor - 2, 0) + 1 AS INT)
      |             :CAST(f.first_anchor + f.plen + 2 AS INT)], ' ') AS snippet
      |FROM fst f JOIN t ON t.doc_id = f.doc_id
      |ORDER BY f.qid, f.doc_id""".stripMargin) { (s, d) =>
    val dd = docs(s, d)
    val queries = dd.filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"),
        array_join(slice(split(col("text"), " "), 1, 3), " ").as("phrase"))
    // positional postings come from the SHARED standing index, pruned to
    // the probe tokens' buckets (never a corpus posexplode at serve time)
    val post = postingsShared.get(s, d).positionsFor(
      queries.select(explode(split(col("phrase"), " ")).as("tok")))
    val anchors = graft.text.PhraseSearch.phraseAnchors(post, queries)
    graft.text.PhraseSearch.snippets(anchors, dd, "doc_id", "text", window = 2)
      .orderBy(col("qid"), col("doc_id"))
  }

  /** ONE standing postings index per (process, sf), shared by every
    * READ-ONLY serve query — the `coPurchaseShared` pattern applied to
    * the retrieval shelf (VERDICT r13 item 1): q210/q216/q221/q222/
    * q224/q236/q249 each used to pay their own `PostingsIndex.build`
    * (≈8 corpus-indexing passes per suite run) although none of them
    * mutates the index; production serves from ONE standing index per
    * corpus (the reference's standing Postgres tables,
    * assets/recent_history.py:368-371). Built with positions + bounds +
    * impacts so every serve flavor (BM25, MaxScore, impact-ordered,
    * RM3, Jaccard, phrase) runs off the same artifact; the
    * build/merge/stream/MVCC queries (q218/q220/q223) keep
    * self-contained indexes — their SUBJECT is the mutation. The opened
    * instance is the memoized handle, so its table-handle memo is shared
    * by every serve. */
  private[queries] val postingsShared = new graft.core.Standing("postings_shared")(
    (s, d, staging) =>
      graft.text.PostingsIndex.build(docs(s, d), staging, "doc_id", "text",
          nBuckets = 16, withBounds = true, withPositions = true)
        .buildImpacts(): Unit)(
    graft.text.PostingsIndex.open(_, _))

  /** Shared read-only IVF index over the deterministic md5-window
    * document embeddings (q224's vec ranker) — the postingsShared
    * pattern applied to the vector side. Mutating IVF queries (q36/q94/
    * q106/q233) keep self-contained indexes — their subject is the
    * build/upsert. */
  private[queries] val docIvfShared = new graft.core.Standing("docemb_ivf_shared")(
    (s, d, staging) =>
      graft.sources.IvfIndex.build(docEmb(docs(s, d)), staging, "doc_id",
        "emb", nCentroids = 8, iters = 1): Unit)(
    new graft.sources.IvfIndex(_, _))

  /** STANDING postings index serve — `text.PostingsIndex` closes the
    * retrieval shelf's rebuild-per-run gap (VERDICT r12 missing #1): the
    * engine BUILDS and PERSISTS the inverted index once (term postings
    * with df folded in + positional postings, both directory-partitioned
    * by token-hash bucket, plus lengths and 1-row totals), then serves
    * q184's exact BM25 probe batch AND q210's exact phrase probes from
    * bucket-PRUNED scans of the persisted files — the corpus text is
    * never touched at serve time, matching the reference's standing
    * Postgres tables + index queried per request
    * (assets/recent_history.py:134,368-371). Scoring identity is
    * structural: `PostingsIndex.bm25TopK` and `Bm25.topK` share the same
    * `contrib`/`sumAndRank` code. The oracle replays build + both serves
    * from first principles, so any index-side drift (a bucket routing a
    * token wrong, stale df, a lost position) hash-mismatches; probe cost
    * vs corpus size is pinned in ScaleSmoke `postings_index_probe`. */
  /** RM3 pseudo-relevance-feedback expansion + re-retrieval —
    * `Bm25.rm3ExpandedTerms` then a second `Bm25.topK` pass: the
    * first-pass top-5 documents per probe vote terms by Σ tf·idf_m (the
    * DECIMAL(38,0) grid), the 5 heaviest NEW terms join the query, and
    * the expanded term set re-retrieves. The oracle replays BOTH passes
    * and the term-vote window, so a feedback-depth slip, a tie-break
    * drift in the term rank, or an expansion term leaking from the
    * original query all hash-mismatch. Scale: the feedback set is ≤
    * 5·|Q| doc ids, so the vote join ships only those documents'
    * posting rows; both retrieval passes keep q184's posting-traversal
    * shape. */
  /** q219's full oracle chain, shared by q219 (corpus recompute) and
    * q222 (every stage served from the persisted postings index): the
    * index serve is rebuild-equivalent by construction, so both engines
    * must hash-match this one SQL. */
  private val rm3RebuildSql: String =
    """WITH base AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM base),
      |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS nd
      |        FROM dl),
      |dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      |       FROM (SELECT doc_id, unnest(w) AS tok FROM base)
      |       GROUP BY doc_id, tok),
      |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY tok),
      |q AS (SELECT DISTINCT doc_id AS qid, unnest(w[1:8]) AS tok
      |      FROM base WHERE doc_id < 5),
      |sc1 AS (
      |  SELECT q.qid, dt.doc_id,
      |         CAST(sum(CAST((nd * 1000) // df AS HUGEINT) *
      |                  ((88 * tf * CAST(t AS HUGEINT) * 1000000) //
      |                   (40 * CAST(t AS HUGEINT) * tf + 12 * t + 36 * dl.dl * nd))) AS BIGINT)
      |           AS score_i
      |  FROM q JOIN dfq USING (tok) JOIN dt USING (tok)
      |  JOIN dl ON dl.doc_id = dt.doc_id CROSS JOIN tot
      |  WHERE dt.doc_id <> q.qid
      |  GROUP BY q.qid, dt.doc_id),
      |fb AS (SELECT qid, doc_id FROM (
      |         SELECT qid, doc_id,
      |                row_number() OVER (PARTITION BY qid
      |                                   ORDER BY score_i DESC, doc_id) AS r
      |         FROM sc1) WHERE r <= 5),
      |tw AS (
      |  SELECT fb.qid, dt.tok,
      |         sum(dt.tf * CAST((tot.nd * 1000) // dfq.df AS HUGEINT)) AS wgt
      |  FROM fb JOIN dt USING (doc_id) JOIN dfq USING (tok) CROSS JOIN tot
      |  GROUP BY fb.qid, dt.tok),
      |ex AS (SELECT qid, tok FROM (
      |         SELECT tw.qid, tw.tok,
      |                row_number() OVER (PARTITION BY tw.qid
      |                                   ORDER BY tw.wgt DESC, tw.tok) AS tr
      |         FROM tw ANTI JOIN q ON q.qid = tw.qid AND q.tok = tw.tok)
      |       WHERE tr <= 5),
      |q2 AS (SELECT qid, tok FROM q UNION ALL SELECT qid, tok FROM ex),
      |sc2 AS (
      |  SELECT q2.qid, dt.doc_id,
      |         CAST(sum(CAST((nd * 1000) // df AS HUGEINT) *
      |                  ((88 * tf * CAST(t AS HUGEINT) * 1000000) //
      |                   (40 * CAST(t AS HUGEINT) * tf + 12 * t + 36 * dl.dl * nd))) AS BIGINT)
      |           AS score_i
      |  FROM q2 JOIN dfq USING (tok) JOIN dt USING (tok)
      |  JOIN dl ON dl.doc_id = dt.doc_id CROSS JOIN tot
      |  WHERE dt.doc_id <> q2.qid
      |  GROUP BY q2.qid, dt.doc_id)
      |SELECT qid, rank, doc_id, score_i FROM (
      |  SELECT qid, doc_id, score_i,
      |         row_number() OVER (PARTITION BY qid
      |                            ORDER BY score_i DESC, doc_id) AS rank
      |  FROM sc2)
      |WHERE rank <= 10
      |ORDER BY qid, rank""".stripMargin

  private def rm3Probes(dd: DataFrame): DataFrame =
    dd.filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"),
        explode(slice(split(col("text"), " "), 1, 8)).as("tok"))
      .distinct()

  val q219Rm3Expand: QueryDef = sql(
    "q219_rm3_expand",
    rm3RebuildSql) { (s, d) =>
    val probes = rm3Probes(docs(s, d))
    val expanded = graft.text.Bm25.rm3ExpandedTerms(docs(s, d),
      "doc_id", "text", probes, k = 10, fbDocs = 5, fbTerms = 5)
    graft.text.Bm25.topK(docs(s, d), "doc_id", "text", expanded, k = 10)
      .orderBy(col("qid"), col("rank"))
  }

  /** The FULLY index-backed retrieval stack — every stage of q219's
    * expand-and-re-retrieve runs against the persisted `PostingsIndex`
    * (first-pass BM25, feedback term vote with df from the persisted
    * vocabulary table and term vectors from the FORWARD store, expanded
    * second pass), closing the "expansion still recomputes from the
    * corpus" gap: at serve time the corpus text is read only for the
    * ≤ 25 feedback documents. The oracle is q219's chain verbatim — the
    * hash gate IS serve-from-index ≡ recompute-from-corpus. */
  val q222Rm3Index: QueryDef = sql(
    "q222_rm3_index",
    rm3RebuildSql) { (s, d) =>
    val dd = docs(s, d)
    val idx = postingsShared.get(s, d)
    val expanded = idx.rm3ExpandedTerms(rm3Probes(dd), dd, "doc_id", "text",
      k = 10, fbDocs = 5, fbTerms = 5)
    idx.bm25TopK(expanded, k = 10)
      .orderBy(col("qid"), col("rank"))
  }

  /** Rebuild-from-first-principles + both serves, shared by q216 (index
    * built on the full corpus directly) and q218 (index built on
    * id%10≠5, then the id%10=5 batch FOLDED in via `PostingsIndex
    * .merge`): the merge is rebuild-equivalent by construction, so both
    * engines' serves must hash-match this one SQL — serve-after-merge ≡
    * serve-after-rebuild IS the shared oracle (the q215/q217 mechanism,
    * applied to the retrieval index). */
  private val postingsRebuildServeSql: String =
    """WITH base AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM base),
      |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS nd
      |        FROM dl),
      |dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      |       FROM (SELECT doc_id, unnest(w) AS tok FROM base)
      |       GROUP BY doc_id, tok),
      |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY tok),
      |q AS (SELECT DISTINCT doc_id AS qid, unnest(w[1:8]) AS tok
      |      FROM base WHERE doc_id < 5),
      |sc AS (
      |  SELECT q.qid, dt.doc_id,
      |         CAST(sum(CAST((nd * 1000) // df AS HUGEINT) *
      |                  ((88 * tf * CAST(t AS HUGEINT) * 1000000) //
      |                   (40 * CAST(t AS HUGEINT) * tf + 12 * t + 36 * dl.dl * nd))) AS BIGINT)
      |           AS score_i
      |  FROM q JOIN dfq USING (tok) JOIN dt USING (tok)
      |  JOIN dl ON dl.doc_id = dt.doc_id CROSS JOIN tot
      |  WHERE dt.doc_id <> q.qid
      |  GROUP BY q.qid, dt.doc_id),
      |bmres AS (
      |  SELECT qid, rank, doc_id, score_i FROM (
      |    SELECT qid, doc_id, score_i,
      |           row_number() OVER (PARTITION BY qid
      |                              ORDER BY score_i DESC, doc_id) AS rank
      |    FROM sc)
      |  WHERE rank <= 10),
      |pq AS (SELECT doc_id AS qid, array_to_string(w[1:3], ' ') AS phrase
      |       FROM base WHERE doc_id < 5),
      |pqt AS (
      |  SELECT qid, CAST(i - 1 AS BIGINT) AS off, p[CAST(i AS INT)] AS tok,
      |         CAST(len(p) AS BIGINT) AS plen
      |  FROM (SELECT qid, string_split(phrase, ' ') AS p FROM pq)
      |       CROSS JOIN UNNEST(generate_series(1, 8)) AS r(i)
      |  WHERE i <= len(p)),
      |ppost AS (
      |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, w[CAST(i AS INT)] AS tok
      |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
      |        FROM base)),
      |anch AS (
      |  SELECT pqt.qid, p.doc_id, p.pos - pqt.off AS anchor, pqt.plen
      |  FROM pqt JOIN ppost p USING (tok)),
      |occ AS (
      |  SELECT qid, doc_id, anchor, plen, CAST(count(*) AS BIGINT) AS hits
      |  FROM anch GROUP BY qid, doc_id, anchor, plen),
      |phres AS (
      |  SELECT qid, doc_id, CAST(count(*) AS BIGINT) AS n_occ
      |  FROM occ WHERE hits = plen GROUP BY qid, doc_id)
      |SELECT 'bm25' AS kind, qid, doc_id, CAST(rank AS BIGINT) AS r, score_i
      |FROM bmres
      |UNION ALL
      |SELECT 'phrase' AS kind, qid, doc_id, n_occ AS r,
      |       CAST(0 AS BIGINT) AS score_i
      |FROM phres
      |ORDER BY kind, qid, r, doc_id""".stripMargin

  /** Both serves (q184-probe BM25 + q210-probe phrase) from a
    * PostingsIndex, shared by q216/q218. */
  private def serveFromPostingsIndex(dd: DataFrame,
      idx: graft.text.PostingsIndex): DataFrame = {
    val probes = dd.filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"),
        explode(slice(split(col("text"), " "), 1, 8)).as("tok"))
      .distinct()
    val bm = idx.bm25TopK(probes, k = 10)
      .select(lit("bm25").as("kind"), col("qid"), col("doc_id"),
        col("rank").cast("long").as("r"), col("score_i"))
    val phq = dd.filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"),
        array_join(slice(split(col("text"), " "), 1, 3), " ").as("phrase"))
    val ph = idx.phraseMatches(phq)
      .select(lit("phrase").as("kind"), col("qid"), col("doc_id"),
        col("n_occ").as("r"), lit(0L).as("score_i"))
    bm.unionByName(ph)
      .orderBy(col("kind"), col("qid"), col("r"), col("doc_id"))
  }

  val q216PostingsServe: QueryDef = sql(
    "q216_postings_serve",
    postingsRebuildServeSql) { (s, d) =>
    serveFromPostingsIndex(docs(s, d), postingsShared.get(s, d))
  }

  /** RETRIEVAL-INDEX MAINTENANCE — closes the postings index's
    * rebuild-per-cycle gap the way q217 closed the dedup index's: the
    * standing corpus (id%10 ≠ 5) is indexed and persisted, the ingest
    * batch (id%10 = 5) is FOLDED in with `PostingsIndex.merge`
    * (postings/positions/lengths APPEND — nothing corpus-sized is
    * rewritten; the vocabulary-sized df table and 1-row stats are the
    * only rewrites), and the same probe batches as q216 are served from
    * the merged index. The oracle is the shared rebuild + serve SQL, so
    * the hash gate IS serve-after-merge ≡ serve-after-rebuild; the
    * row-level equivalences are pinned in PostingsIndexSpec. */
  val q218PostingsMerge: QueryDef = sql(
    "q218_postings_merge",
    postingsRebuildServeSql) { (s, d) =>
    val dd = docs(s, d)
    val idxPath = graft.core.Scratch.dir("q218_postings_index", d)
    val idx = graft.text.PostingsIndex.build(
      dd.filter(col("doc_id") % 10 =!= 5), idxPath, "doc_id", "text")
    idx.merge(dd.filter(col("doc_id") % 10 === 5), "doc_id", "text")
    serveFromPostingsIndex(dd, idx)
  }

  /** STREAMING INGEST into the standing retrieval index — the
    * composition a live corpus actually runs: a document stream arrives
    * in micro-batches (file source, `maxFilesPerTrigger`), each batch is
    * FOLDED into the persisted `PostingsIndex` by a `foreachBatch`
    * `merge` (append-only for the corpus-sized tables, q218's shape),
    * and after the stream drains the index serves q216's probe batches.
    * Because every merge is rebuild-equivalent, the final index state ≡
    * a batch build of the full corpus — so the oracle is the SAME
    * rebuild+serve SQL as q216/q218, and the hash gate pins the whole
    * stream-merge-serve composition. At-least-once caveat (documented,
    * inherent to blind appends): a RETRIED micro-batch would
    * double-append its postings — a production deployment keys the
    * append files by batchId and skips committed ids (the
    * IncrementalDriver discipline); the drained-stream equivalence here
    * is the semantic gate. */
  val q220StreamPostings: QueryDef = sql(
    "q220_stream_postings",
    postingsRebuildServeSql) { (s, d) =>
    val dd = docs(s, d)
    val tmp = graft.core.Scratch.tempDir("q220stream")
    val inDir = s"$tmp/in"; val ckpt = s"$tmp/ckpt"
    // 4 files / 2-per-trigger = TWO micro-batches: the subject needs ≥ 2
    // (multi-batch folding; plus q223's in-batch doubled delivery), and a
    // third trigger bought no semantics at a full merge's cost (VERDICT
    // r14 next-round #1 — the standing-state bench-tail lever)
    val idxPath = graft.core.Scratch.dir("q220_postings_index", d)
    // the stream-input staging write (docs % 3 ≠ 0) and the standing
    // index build (docs % 3 = 0) share no data or files — overlap them
    // (core.Par, guide §2.6); the stream only starts after both
    var idx: graft.text.PostingsIndex = null
    graft.core.Par.run(
      () => dd.filter(col("doc_id") % 3 =!= 0).repartition(4)
        .write.parquet(inDir),
      () => idx = graft.text.PostingsIndex.build(
        dd.filter(col("doc_id") % 3 === 0), idxPath, "doc_id", "text"))
    // schema of the files just written from `dd` — no inference job
    val schema = graft.streaming.StreamOps.stagedSchema(dd)
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2").parquet(inDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        idx.merge(batch, "doc_id", "text")
      }
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    q.stop()
    serveFromPostingsIndex(dd, idx)
  }

  /** EXACTLY-ONCE streaming ingest — closes q220's documented
    * at-least-once caveat (NEXT.md round-14 item 1) with
    * `text.LedgeredPostingsIndex`: batch-keyed partition appends,
    * per-batch df/stats PARTIALS (append-only, summed at serve), and a
    * committed-id ledger written LAST as the per-batch commit point.
    * The query runs the full adversarial protocol inline:
    *
    *  1. a TORN merge is simulated before the standing build (postings +
    *     lengths rows for a ghost document on the PROBED tokens, no
    *     ledger row) — the bootstrap merge must HEAL it, or the ghost
    *     doc scores tf=99 on every probe and the hash flips;
    *  2. the standing corpus bootstraps through the same `mergeOnce`
    *     path (batch 10^6), then is REDELIVERED — must be a no-op;
    *  3. the stream delivers every micro-batch, and `foreachBatch`
    *     deliberately delivers each one TWICE (at-least-once delivery
    *     made literal) — the second call must return false;
    *  4. after the drain, a drained epoch id is redelivered once more —
    *     still a no-op.
    *
    * The oracle is the SAME rebuild+serve SQL as q216/q218/q220, so the
    * hash gate IS "at-least-once delivery + idempotent merge + heal ≡
    * one batch build". Compaction (serve-equality, partial folding,
    * post-compact redelivery no-op) and the row-level halves are pinned
    * in LedgeredPostingsIndexSpec — the corpus-sized 5-table rewrite
    * stays out of the per-round bench. */
  val q223StreamExactlyOnce: QueryDef = sql(
    "q223_stream_exactly_once",
    postingsRebuildServeSql) { (s, d) =>
    val dd = docs(s, d)
    val tmp = graft.core.Scratch.tempDir("q223stream")
    val inDir = s"$tmp/in"; val ckpt = s"$tmp/ckpt"
    // 4 files / 2-per-trigger = TWO micro-batches: the subject needs ≥ 2
    // (multi-batch folding; plus q223's in-batch doubled delivery), and a
    // third trigger bought no semantics at a full merge's cost (VERDICT
    // r14 next-round #1 — the standing-state bench-tail lever)
    val idxPath = graft.core.Scratch.dir("q223_ledger_index", d)
    // 16 buckets, not the serving default 64: every micro-batch append
    // writes one file set per touched bucket directory, so the
    // drip-feed's cost is bucket-fanout-bound — measured 26.5 → 14.9s at
    // sf0.1 with pruning still 1-of-16 per probed term
    val idx = graft.text.LedgeredPostingsIndex.create(s, idxPath, nBuckets = 16)
    val standingId = 1000000L // outside the stream's epoch-id namespace
    val standing = dd.filter(col("doc_id") % 3 === 0)
    // the stream-input staging write (docs % 3 ≠ 0) is independent of
    // the ghost→heal→bootstrap chain (docs % 3 = 0 plus the torn batch
    // dir) — overlap them (core.Par, guide §2.6); ORDER inside the
    // chain is the subject (ghost before bootstrap, heal is the test)
    graft.core.Par.run(
      () => dd.filter(col("doc_id") % 3 =!= 0).repartition(4)
        .write.parquet(inDir),
      () => {
        // torn state from a "crashed" earlier attempt of the standing
        // merge: ghost doc 999999999 posted on the actual probe tokens
        // so a heal failure is VISIBLE in the served top-10 (and thus in
        // the hash)
        dd.filter(col("doc_id") < 5)
          .select(explode(slice(split(col("text"), " "), 1, 8)).as("tok"))
          .distinct()
          .select(col("tok"), lit(999999999L).as("doc_id"), lit(99L).as("tf"),
            pmod(xxhash64(col("tok")), lit(16L)).as("bkt"),
            lit(s"b$standingId").as("batch"))
          .write.mode("append").partitionBy("bkt", "batch")
          .parquet(s"$idxPath/postings")
        locally {
          import s.implicits._
          Seq((999999999L, 10L)).toDF("doc_id", "dl")
            .withColumn("batch", lit(s"b$standingId"))
            .write.mode("append").partitionBy("batch")
            .parquet(s"$idxPath/lengths")
        }
        require(idx.mergeOnce(standing, "doc_id", "text", standingId),
          "bootstrap merge must commit")
        require(!idx.mergeOnce(standing, "doc_id", "text", standingId),
          "redelivered bootstrap batch must be a no-op")
      })
    // schema of the files just written from `dd` — no inference job
    val schema = graft.streaming.StreamOps.stagedSchema(dd)
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2").parquet(inDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the FIRST call may legitimately return false: Structured
        // Streaming re-invokes the sink with the same batchId after a
        // task/driver failure, and an already-committed epoch is exactly
        // the no-op the ledger exists to absorb — asserting true here
        // would turn the exactly-once recovery path into a hard failure
        idx.mergeOnce(batch, "doc_id", "text", batchId): Unit
        // the deliberate in-call redelivery, though, MUST be a no-op
        require(!idx.mergeOnce(batch, "doc_id", "text", batchId),
          s"redelivered micro-batch $batchId must be a no-op")
      }
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    q.stop()
    // a LATE redelivery of a drained epoch must still be a no-op (the
    // compaction protocol — compact() serve-equality, partial folding,
    // and post-compact redelivery — is row-level-pinned in
    // LedgeredPostingsIndexSpec; running the corpus-sized 5-table
    // rewrite here would triple the query's wall for a guarantee the
    // spec already hash-pins)
    require(!idx.mergeOnce(dd.limit(1), "doc_id", "text", 0L),
      "drained epoch id must stay committed")
    // same probe batches as q216/q218/q220, served from the ledgered index
    val probes = dd.filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"),
        explode(slice(split(col("text"), " "), 1, 8)).as("tok"))
      .distinct()
    val bm = idx.bm25TopK(probes, k = 10)
      .select(lit("bm25").as("kind"), col("qid"), col("doc_id"),
        col("rank").cast("long").as("r"), col("score_i"))
    val phq = dd.filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"),
        array_join(slice(split(col("text"), " "), 1, 3), " ").as("phrase"))
    val ph = idx.phraseMatches(phq)
      .select(lit("phrase").as("kind"), col("qid"), col("doc_id"),
        col("n_occ").as("r"), lit(0L).as("score_i"))
    bm.unionByName(ph)
      .orderBy(col("kind"), col("qid"), col("r"), col("doc_id"))
  }

  /** Hybrid-retrieval fusion — `similarity.Fusion.reciprocalRank`
    * (Cormack et al. SIGIR 2009, k = 60) over TWO real rankers on the
    * same probes: q184's BM25 top-10 and a token-set Jaccard top-10
    * (`sim_ppm = (10^6·|q∩d|) div (|q|+|d|−|q∩d|)` over DISTINCT
    * tokens). The oracle replays BOTH ranking chains end to end and the
    * fusion arithmetic, so a rank slip in either retriever, a wrong
    * damping constant, or a tie-break drift all hash-mismatch. Absent-
    * from-one-list docs keep a NULL source rank and contribute 0 — the
    * branch that makes RRF calibration-free.
    *
    * Scale shape: both rankers emit bounded top-k lists (≤ 10·|Q| rows),
    * so the fusion's outer join and per-query window never touch the
    * corpus; the BM25 chain keeps its q184 posting-list shape and the
    * Jaccard chain pre-aggregates to (qid, doc, intersection) via the
    * same broadcast-probes inverted lookup. */
  val q206RrfFusion: QueryDef = sql(
    "q206_rrf_fusion",
    """WITH base AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM base),
      |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS nd
      |        FROM dl),
      |dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      |       FROM (SELECT doc_id, unnest(w) AS tok FROM base)
      |       GROUP BY doc_id, tok),
      |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY tok),
      |q AS (SELECT DISTINCT doc_id AS qid, unnest(w[1:8]) AS tok
      |      FROM base WHERE doc_id < 5),
      |sc AS (
      |  SELECT q.qid, dt.doc_id,
      |         CAST(sum(CAST((nd * 1000) // df AS HUGEINT) *
      |                  ((88 * tf * CAST(t AS HUGEINT) * 1000000) //
      |                   (40 * CAST(t AS HUGEINT) * tf + 12 * t + 36 * dl.dl * nd))) AS BIGINT)
      |           AS score_i
      |  FROM q JOIN dfq USING (tok) JOIN dt USING (tok)
      |  JOIN dl ON dl.doc_id = dt.doc_id CROSS JOIN tot
      |  WHERE dt.doc_id <> q.qid
      |  GROUP BY q.qid, dt.doc_id),
      |bm AS (SELECT qid, doc_id, r FROM (
      |         SELECT qid, doc_id,
      |                row_number() OVER (PARTITION BY qid
      |                                   ORDER BY score_i DESC, doc_id) AS r
      |         FROM sc) WHERE r <= 10),
      |dtok AS (SELECT doc_id, unnest(list_distinct(w)) AS tok FROM base),
      |dn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS d_n FROM dtok GROUP BY doc_id),
      |qn AS (SELECT qid, CAST(count(*) AS BIGINT) AS q_n FROM q GROUP BY qid),
      |itr AS (SELECT q.qid, dtok.doc_id, CAST(count(*) AS BIGINT) AS i_n
      |        FROM q JOIN dtok USING (tok) WHERE dtok.doc_id <> q.qid
      |        GROUP BY q.qid, dtok.doc_id),
      |jsim AS (SELECT itr.qid, itr.doc_id,
      |                CAST((i_n * 1000000) // (q_n + d_n - i_n) AS BIGINT) AS sim_ppm
      |         FROM itr JOIN dn USING (doc_id) JOIN qn USING (qid)),
      |jac AS (SELECT qid, doc_id, r FROM (
      |          SELECT qid, doc_id,
      |                 row_number() OVER (PARTITION BY qid
      |                                    ORDER BY sim_ppm DESC, doc_id) AS r
      |          FROM jsim) WHERE r <= 10),
      |fu AS (
      |  SELECT coalesce(bm.qid, jac.qid) AS qid,
      |         coalesce(bm.doc_id, jac.doc_id) AS doc_id,
      |         bm.r AS rank_bm25, jac.r AS rank_jac,
      |         CAST(coalesce(1000000000 // (60 + bm.r), 0)
      |            + coalesce(1000000000 // (60 + jac.r), 0) AS BIGINT) AS rrf_e9
      |  FROM bm FULL OUTER JOIN jac
      |    ON bm.qid = jac.qid AND bm.doc_id = jac.doc_id)
      |SELECT qid, rank, doc_id, rrf_e9, rank_bm25, rank_jac FROM (
      |  SELECT qid, doc_id, rrf_e9, rank_bm25, rank_jac,
      |         row_number() OVER (PARTITION BY qid
      |                            ORDER BY rrf_e9 DESC, doc_id) AS rank
      |  FROM fu)
      |WHERE rank <= 10
      |ORDER BY qid, rank""".stripMargin) { (s, d) =>
    val probes = Tables.documents(s, d)
      .filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"),
        explode(slice(split(col("text"), " "), 1, 8)).as("tok"))
      .distinct()
    val bm25 = graft.text.Bm25.topK(Tables.documents(s, d), "doc_id", "text",
        probes, k = 10)
      .select(col("qid"), col("doc_id"), col("rank"))
    val dTok = Tables.documents(s, d).select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("tok"))
    val dN = dTok.groupBy(col("doc_id")).agg(count(lit(1)).as("d_n"))
    val qN = probes.groupBy(col("qid")).agg(count(lit(1)).as("q_n"))
    val wj = Window.partitionBy(col("qid"))
      .orderBy(col("sim_ppm").desc, col("doc_id"))
    val jac = broadcast(probes).join(dTok, "tok")
      .filter(col("doc_id") =!= col("qid"))
      .groupBy(col("qid"), col("doc_id")).agg(count(lit(1)).as("i_n"))
      .join(dN, "doc_id").join(broadcast(qN), "qid")
      .select(col("qid"), col("doc_id"),
        expr("(i_n * 1000000) div (q_n + d_n - i_n)").as("sim_ppm"))
      .withColumn("rank", row_number().over(wj))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("doc_id"), col("rank"))
    graft.similarity.Fusion
      .reciprocalRank(Seq("bm25" -> bm25, "jac" -> jac), kConst = 60, topK = 10)
      .orderBy(col("qid"), col("rank"))
  }

  /** Retrieval-quality evaluation of ALL FOUR rankers on the shared
    * probes — the eval that closes the retrieval shelf the way q213
    * closed dedup: per (ranker ∈ {bm25, jac, rrf, vec}, probe), the
    * number of same-language hits in the top-10 (the q178/q196
    * one-vs-rest weak supervision), precision@list on the ppm grid, and
    * the FIRST relevant rank (the serving latency-of-first-good-result
    * metric; NULL when the list has no relevant hit). `vec` (r13, VERDICT
    * item 5) is the deterministic md5-window DOCUMENT embedding scored
    * by brute cosine on the sim_ppb grid — lexical and vector retrieval
    * graded on the SAME ground truth, the comparison a hybrid-serving
    * owner makes. The oracle replays every ranking chain (BM25
    * postings, Jaccard overlap, RRF fusion, embedding cosine), the label
    * joins, and the aggregates — every rank boundary integer. Scale: all
    * inputs are the bounded top-10 lists; the eval itself is a dimension
    * join + one groupBy per ranker. */
  /** Dim `j` of the deterministic 16-dim DOCUMENT embedding (the q147
    * chunk-embedding seam applied to the whole text): a 16-bit hex
    * window of md5(text || "|e<j div 8>") mapped to [−1, 1] — the
    * cross-engine-replayable stand-in for a model embedding, so the
    * vector ranker is hash-checkable on the same ground truth as the
    * lexical ones. */
  private def docEmbedDimSql(j: Int): String = {
    val salt = j / 8; val p = (j % 8) * 4 + 1
    s"CAST((('0x' || substr(md5(text || '|e$salt'), $p, 4))::BIGINT % 2001) - 1000 AS DOUBLE) / 1000.0"
  }

  /** Engine twin of [[docEmbedDimSql]] (shared by q214/q224). */
  private[graft] def docEmbedDim(j: Int): Column = {
    val salt = j / 8; val p = (j % 8) * 4 + 1
    ((conv(substring(md5(concat(col("text"), lit(s"|e$salt"))), p, 4),
      16, 10).cast("long") % 2001) - 1000).cast("double") / lit(1000.0)
  }

  /** The 16-dim document embedding frame (doc_id, emb) over [[docEmbedDim]]. */
  private def docEmb(dd: DataFrame): DataFrame =
    dd.select(col("doc_id"), array((0 until 16).map(docEmbedDim): _*).as("emb"))

  /** Ranked lists + relevance flags under the one-vs-rest lang weak
    * supervision — the engine twin of the `flagged` CTE, shared by the
    * precision (q214/q224) and RBP (q229) grading tails. */
  private def flaggedLists(dd: DataFrame, lists: DataFrame): DataFrame = {
    val lab = dd.select(col("doc_id"), col("lang"))
    lists
      .join(broadcast(lab.select(col("doc_id"), col("lang").as("d_lang"))),
        "doc_id")
      .join(broadcast(lab.select(col("doc_id").as("qid"),
        col("lang").as("q_lang"))), "qid")
      .withColumn("rel", (col("d_lang") === col("q_lang")).cast("long"))
  }

  /** The eval tail shared by q214/q224: per (ranker, probe), hits in the
    * top-10 under the one-vs-rest lang weak supervision, precision on
    * the ppm grid, first relevant rank. `lists`: (ranker, qid, doc_id,
    * rank) top-k rows. */
  private[graft] def gradeRankers(dd: DataFrame, lists: DataFrame): DataFrame = {
    flaggedLists(dd, lists)
      .groupBy(col("ranker"), col("qid"))
      .agg(count(lit(1)).as("n_ranked"), sum(col("rel")).as("n_rel"),
        expr("(sum(rel) * 1000000) div count(1)").as("prec_ppm"),
        min(when(col("rel") === 1, col("rank"))).cast("long")
          .as("first_rel_rank"))
      .orderBy(col("ranker"), col("qid"))
  }

  /** The five-ranker lists + relevance flags as a shared CTE prefix:
    * q214/q224 append the precision tail, q229 the RBP tail. DuckDB
    * replays all five ranking chains from first principles, so q224's
    * hash gate is "index-served eval ≡ corpus-recomputed eval". */
  private def retrievalListsSql: String =
    s"""WITH base AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
      |dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM base),
      |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS nd
      |        FROM dl),
      |dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      |       FROM (SELECT doc_id, unnest(w) AS tok FROM base)
      |       GROUP BY doc_id, tok),
      |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY tok),
      |q AS (SELECT DISTINCT doc_id AS qid, unnest(w[1:8]) AS tok
      |      FROM base WHERE doc_id < 5),
      |sc AS (
      |  SELECT q.qid, dt.doc_id,
      |         CAST(sum(CAST((nd * 1000) // df AS HUGEINT) *
      |                  ((88 * tf * CAST(t AS HUGEINT) * 1000000) //
      |                   (40 * CAST(t AS HUGEINT) * tf + 12 * t + 36 * dl.dl * nd))) AS BIGINT)
      |           AS score_i
      |  FROM q JOIN dfq USING (tok) JOIN dt USING (tok)
      |  JOIN dl ON dl.doc_id = dt.doc_id CROSS JOIN tot
      |  WHERE dt.doc_id <> q.qid
      |  GROUP BY q.qid, dt.doc_id),
      |bm AS (SELECT qid, doc_id, r FROM (
      |         SELECT qid, doc_id,
      |                row_number() OVER (PARTITION BY qid
      |                                   ORDER BY score_i DESC, doc_id) AS r
      |         FROM sc) WHERE r <= 10),
      |dtok AS (SELECT doc_id, unnest(list_distinct(w)) AS tok FROM base),
      |dn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS d_n FROM dtok GROUP BY doc_id),
      |qn AS (SELECT qid, CAST(count(*) AS BIGINT) AS q_n FROM q GROUP BY qid),
      |itr AS (SELECT q.qid, dtok.doc_id, CAST(count(*) AS BIGINT) AS i_n
      |        FROM q JOIN dtok USING (tok) WHERE dtok.doc_id <> q.qid
      |        GROUP BY q.qid, dtok.doc_id),
      |jsim AS (SELECT itr.qid, itr.doc_id,
      |                CAST((i_n * 1000000) // (q_n + d_n - i_n) AS BIGINT) AS sim_ppm
      |         FROM itr JOIN dn USING (doc_id) JOIN qn USING (qid)),
      |jac AS (SELECT qid, doc_id, r FROM (
      |          SELECT qid, doc_id,
      |                 row_number() OVER (PARTITION BY qid
      |                                    ORDER BY sim_ppm DESC, doc_id) AS r
      |          FROM jsim) WHERE r <= 10),
      |fu AS (
      |  SELECT coalesce(bm.qid, jac.qid) AS qid,
      |         coalesce(bm.doc_id, jac.doc_id) AS doc_id,
      |         CAST(coalesce(1000000000 // (60 + bm.r), 0)
      |            + coalesce(1000000000 // (60 + jac.r), 0) AS BIGINT) AS rrf_e9
      |  FROM bm FULL OUTER JOIN jac
      |    ON bm.qid = jac.qid AND bm.doc_id = jac.doc_id),
      |rrf AS (SELECT qid, doc_id, r FROM (
      |          SELECT qid, doc_id,
      |                 row_number() OVER (PARTITION BY qid
      |                                    ORDER BY rrf_e9 DESC, doc_id) AS r
      |          FROM fu) WHERE r <= 10),
      |demb AS (
      |  SELECT doc_id,
      |         [${(0 until 16).map(docEmbedDimSql).mkString(",\n      |          ")}] AS emb
      |  FROM documents),
      |vsc AS (
      |  SELECT q.doc_id AS qid, e.doc_id,
      |         CAST(round(list_cosine_similarity(q.emb, e.emb) * 1000000000)
      |              AS BIGINT) AS sim_ppb
      |  FROM (SELECT * FROM demb WHERE doc_id < 5) q
      |  JOIN demb e ON e.doc_id <> q.doc_id),
      |vec AS (SELECT qid, doc_id, r FROM (
      |          SELECT qid, doc_id,
      |                 row_number() OVER (PARTITION BY qid
      |                                    ORDER BY sim_ppb DESC, doc_id) AS r
      |          FROM vsc) WHERE r <= 10),
      |fbx AS (SELECT qid, doc_id FROM bm WHERE r <= 5),
      |twx AS (
      |  SELECT fbx.qid, dt.tok,
      |         sum(dt.tf * CAST((tot.nd * 1000) // dfq.df AS HUGEINT)) AS wgt
      |  FROM fbx JOIN dt USING (doc_id) JOIN dfq USING (tok) CROSS JOIN tot
      |  GROUP BY fbx.qid, dt.tok),
      |exx AS (SELECT qid, tok FROM (
      |          SELECT twx.qid, twx.tok,
      |                 row_number() OVER (PARTITION BY twx.qid
      |                                    ORDER BY twx.wgt DESC, twx.tok) AS tr
      |          FROM twx ANTI JOIN q ON q.qid = twx.qid AND q.tok = twx.tok)
      |        WHERE tr <= 5),
      |q2x AS (SELECT qid, tok FROM q UNION ALL SELECT qid, tok FROM exx),
      |scx AS (
      |  SELECT q2x.qid, dt.doc_id,
      |         CAST(sum(CAST((nd * 1000) // df AS HUGEINT) *
      |                  ((88 * tf * CAST(t AS HUGEINT) * 1000000) //
      |                   (40 * CAST(t AS HUGEINT) * tf + 12 * t + 36 * dl.dl * nd))) AS BIGINT)
      |           AS score_i
      |  FROM q2x JOIN dfq USING (tok) JOIN dt USING (tok)
      |  JOIN dl ON dl.doc_id = dt.doc_id CROSS JOIN tot
      |  WHERE dt.doc_id <> q2x.qid
      |  GROUP BY q2x.qid, dt.doc_id),
      |rm3 AS (SELECT qid, doc_id, r FROM (
      |          SELECT qid, doc_id,
      |                 row_number() OVER (PARTITION BY qid
      |                                    ORDER BY score_i DESC, doc_id) AS r
      |          FROM scx) WHERE r <= 10),
      |lists AS (
      |  SELECT 'bm25' AS ranker, qid, doc_id, r FROM bm
      |  UNION ALL SELECT 'jac', qid, doc_id, r FROM jac
      |  UNION ALL SELECT 'rrf', qid, doc_id, r FROM rrf
      |  UNION ALL SELECT 'vec', qid, doc_id, r FROM vec
      |  UNION ALL SELECT 'rm3', qid, doc_id, r FROM rm3),
      |lab AS (SELECT doc_id, lang FROM base),
      |flagged AS (
      |  SELECT l.ranker, l.qid, l.r,
      |         CASE WHEN dlab.lang = qlab.lang THEN 1 ELSE 0 END AS rel
      |  FROM lists l
      |  JOIN lab dlab ON dlab.doc_id = l.doc_id
      |  JOIN lab qlab ON qlab.doc_id = l.qid)""".stripMargin

  private def retrievalEvalSql: String = retrievalListsSql +
    """
      |SELECT ranker, qid,
      |       CAST(count(*) AS BIGINT) AS n_ranked,
      |       CAST(sum(rel) AS BIGINT) AS n_rel,
      |       CAST((sum(rel) * 1000000) // count(*) AS BIGINT) AS prec_ppm,
      |       CAST(min(CASE WHEN rel = 1 THEN r END) AS BIGINT) AS first_rel_rank
      |FROM flagged
      |GROUP BY ranker, qid
      |ORDER BY ranker, qid""".stripMargin

  /** The five recomputed-from-corpus ranker lists (ranker, qid, doc_id,
    * rank) — q214's chains, shared with the q229 RBP and q237 nDCG
    * gradings, served as a standing artifact: retrieval evals
    * consume RUN FILES (the TREC discipline — rankers run once, every
    * metric grades the same persisted lists; cross-metric comparability
    * REQUIRES one list surface), so the five chains are built once per
    * (process, sf) and each eval query prices its METRIC over the
    * standing runs. The oracles are unaffected — all three replay the
    * full five-ranker surface from the corpus (retrievalListsSql), so a
    * drifted run file hash-mismatches every consumer. */
  private[queries] val rankerListsShared =
    graft.core.Standing.parquet("ranker_lists_shared")(recomputedRankerLists)

  private def recomputedRankerLists(s: SparkSession, d: String): DataFrame = {
    val probes = docs(s, d).filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"),
        explode(slice(split(col("text"), " "), 1, 8)).as("tok"))
      .distinct()
    val bm25 = graft.text.Bm25.topK(docs(s, d), "doc_id", "text",
        probes, k = 10)
      .select(col("qid"), col("doc_id"), col("rank"))
    val dTok = docs(s, d).select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("tok"))
    val dN = dTok.groupBy(col("doc_id")).agg(count(lit(1)).as("d_n"))
    val qN = probes.groupBy(col("qid")).agg(count(lit(1)).as("q_n"))
    val wj = Window.partitionBy(col("qid"))
      .orderBy(col("sim_ppm").desc, col("doc_id"))
    val jac = broadcast(probes).join(dTok, "tok")
      .filter(col("doc_id") =!= col("qid"))
      .groupBy(col("qid"), col("doc_id")).agg(count(lit(1)).as("i_n"))
      .join(dN, "doc_id").join(broadcast(qN), "qid")
      .select(col("qid"), col("doc_id"),
        expr("(i_n * 1000000) div (q_n + d_n - i_n)").as("sim_ppm"))
      .withColumn("rank", row_number().over(wj))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("doc_id"), col("rank"))
    val rrf = graft.similarity.Fusion
      .reciprocalRank(Seq("bm25" -> bm25, "jac" -> jac), kConst = 60,
        topK = 10)
      .select(col("qid"), col("doc_id"), col("rank"))
    // 4th ranker (VERDICT r12 item 5): the deterministic md5-window
    // document embedding + brute cosine on the sim_ppb fixed-point grid
    // — vector retrieval graded on the SAME weak-supervision ground
    // truth as the lexical rankers, the comparison a hybrid-serving
    // owner makes before choosing what to fuse
    val demb = docEmb(docs(s, d))
    val wv = Window.partitionBy(col("qid"))
      .orderBy(col("sim_ppb").desc, col("doc_id"))
    val vec = broadcast(demb.filter(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("emb").as("qe")))
      .join(demb, col("doc_id") =!= col("qid"))
      .select(col("qid"), col("doc_id"),
        graft.functions.fixed_point(
          graft.functions.cosine_similarity(col("qe"), col("emb")), 1e9)
          .as("sim_ppb"))
      .withColumn("rank", row_number().over(wv))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("doc_id"), col("rank"))
    // 5th ranker: the q219 RM3 expand-and-re-retrieve chain — the eval
    // now answers "does expansion HELP on this ground truth", graded
    // against the un-expanded bm25 row it feeds from
    val rm3 = graft.text.Bm25.topK(docs(s, d), "doc_id", "text",
        graft.text.Bm25.rm3ExpandedTerms(docs(s, d), "doc_id", "text",
          probes, k = 10, fbDocs = 5, fbTerms = 5), k = 10)
      .select(col("qid"), col("doc_id"), col("rank"))
    bm25.withColumn("ranker", lit("bm25"))
      .unionByName(jac.withColumn("ranker", lit("jac")))
      .unionByName(rrf.withColumn("ranker", lit("rrf")))
      .unionByName(vec.withColumn("ranker", lit("vec")))
      .unionByName(rm3.withColumn("ranker", lit("rm3")))
  }

  val q214RetrievalEval: QueryDef = sql(
    "q214_retrieval_eval",
    retrievalEvalSql) { (s, d) =>
    gradeRankers(docs(s, d), s.read.parquet(rankerListsShared.get(s, d)))
  }

  /** Rank-biased precision (Moffat & Zobel TOIS 2008) at persistence
    * p = 1/2 for the same five rankers — the TOP-WEIGHTED companion to
    * q214's unweighted precision@10 (a ranker that front-loads its hits
    * wins here even when hit COUNTS tie). p = 1/2 is the float-policy
    * choice: every term (1−p)·p^(i−1) = 2^−i is exactly dyadic, so
    * RBP accumulates as the INTEGER Σ rel_i · 2^(10−i) on the 1/1024
    * grid — no float ever enters, and the truncated-tail residual of a
    * depth-10 list is exactly 2^−10 (the metric's own uncertainty
    * bound, reported per row as the max_more headroom). */
  val q229RbpEval: QueryDef = sql(
    "q229_rbp_eval",
    retrievalListsSql +
      """
        |SELECT ranker, qid,
        |       CAST(sum(rel * (1 << (10 - r))) AS BIGINT) AS rbp_scaled,
        |       CAST((sum(rel * (1 << (10 - r))) * 1000000) // 1024 AS BIGINT)
        |         AS rbp_ppm,
        |       CAST(1024 - sum(1 << (10 - r)) AS BIGINT) AS missing_scaled
        |FROM flagged
        |GROUP BY ranker, qid
        |ORDER BY ranker, qid""".stripMargin) { (s, d) =>
    flaggedLists(docs(s, d), s.read.parquet(rankerListsShared.get(s, d)))
      .groupBy(col("ranker"), col("qid"))
      .agg(
        sum(expr("rel * shiftleft(1, 10 - rank)")).as("rbp_scaled"),
        expr("(sum(rel * shiftleft(1, 10 - rank)) * 1000000) div 1024")
          .as("rbp_ppm"),
        (lit(1024L) - sum(expr("shiftleft(1, 10 - rank)")))
          .as("missing_scaled"))
      .orderBy(col("ranker"), col("qid"))
  }

  /** nDCG@10 discount grid as LITERALS shared by both engines (the
    * DpNoise discipline): log2 is irrational, so the discount
    * 1/log2(i+1) is frozen ONCE in Scala as D_i = floor(2^30/log2(i+1))
    * and emitted into the oracle SQL and the engine expression as the
    * same 10-branch CASE — neither engine ever computes a logarithm. */
  private val ndcgDiscount: IndexedSeq[Long] = (1 to 10).map(i =>
    math.floor(math.pow(2, 30) / (math.log(i + 1.0) / math.log(2.0))).toLong)
  private val ndcgIdealPrefix: IndexedSeq[Long] = ndcgDiscount.scanLeft(0L)(_ + _).tail

  private def ndcgDcgSql(rankCol: String): String =
    s"CASE $rankCol " + (1 to 10).map(i =>
      s"WHEN $i THEN ${ndcgDiscount(i - 1)}").mkString(" ") + " END"

  private def ndcgIdcgSql(rCol: String): String =
    s"CASE least($rCol, 10) " + (1 to 10).map(j =>
      s"WHEN $j THEN ${ndcgIdealPrefix(j - 1)}").mkString(" ") + " END"

  /** nDCG@10 for the five rankers — the GRADED-discount companion to
    * q214's precision@10 and q229's RBP (the classic triple of top-k
    * retrieval metrics): DCG = Σ rel_i · D_i over the ranked list, IDEAL
    * DCG from the CORPUS-TRUTH relevant count per query (all docs of the
    * query's lang minus self, capped at 10 — the standard nDCG@k
    * denominator, not the in-list count), ndcg on the ppm grid. All
    * arithmetic is integer over the frozen dyadic-scaled discount grid
    * (see [[ndcgDiscount]]); queries whose lang is unique (zero relevant
    * docs exist) define ndcg = 0. Shares the five-ranker lists CTE with
    * q214/q224/q229, so the three evals cross-check one list surface. */
  val q237NdcgEval: QueryDef = sql(
    "q237_ndcg_eval",
    retrievalListsSql +
      s"""
        |, lc AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_lang
        |         FROM documents GROUP BY lang)
        |SELECT f.ranker, f.qid,
        |       CAST(sum(f.rel * ${ndcgDcgSql("f.r")}) AS BIGINT) AS dcg_scaled,
        |       CAST(max(lc.n_lang - 1) AS BIGINT) AS n_rel_corpus,
        |       CAST(CASE WHEN max(lc.n_lang - 1) = 0 THEN 0
        |            ELSE (sum(f.rel * ${ndcgDcgSql("f.r")}) * 1000000) //
        |                 (${ndcgIdcgSql("max(lc.n_lang - 1)")})
        |            END AS BIGINT) AS ndcg_ppm
        |FROM flagged f
        |JOIN lab ql ON ql.doc_id = f.qid
        |JOIN lc ON lc.lang = ql.lang
        |GROUP BY f.ranker, f.qid
        |ORDER BY f.ranker, f.qid""".stripMargin) { (s, d) =>
    val dd = docs(s, d)
    val lc = dd.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    flaggedLists(dd, s.read.parquet(rankerListsShared.get(s, d)))
      .join(broadcast(lc.select(col("lang").as("q_lang"), col("n_lang"))),
        "q_lang")
      .groupBy(col("ranker"), col("qid"))
      .agg(
        sum(expr(s"rel * ${ndcgDcgSql("rank")}")).as("dcg_scaled"),
        max(col("n_lang") - 1).as("n_rel_corpus"),
        expr(s"CASE WHEN max(n_lang - 1) = 0 THEN 0L ELSE " +
          s"(sum(rel * ${ndcgDcgSql("rank")}) * 1000000) div " +
          s"(${ndcgIdcgSql("max(n_lang - 1)")}) END").as("ndcg_ppm"))
      .orderBy(col("ranker"), col("qid"))
  }

  /** CSV INGESTION with malformed-row quarantine — the messy-source
    * half of the scan surface (SURVEY §2.1 has JSON-with-partial-schema
    * and parquet; real corpus drops arrive as CSV with broken lines):
    * the query WRITES a deterministic CSV fixture (one well-formed
    * `doc_id,lang,n_chars` line per document; every doc_id%10=7 line
    * truncated to two fields — the classic column-count break), reads
    * it back through Spark's PERMISSIVE csv source with a
    * corrupt-record column, quarantines the rejects, and reports
    * per-lang good counts + parsed sums + the quarantine count. The
    * oracle never parses CSV at all: it replays the CONSTRUCTION from
    * the documents table (the q187 variant mechanism), so a parser that
    * dropped a good row, accepted a truncated one, or mis-typed a
    * column hash-mismatches. */
  val q235CsvQuarantine: QueryDef = sql(
    "q235_csv_quarantine",
    """WITH good AS (
      |  SELECT lang, doc_id, n_chars FROM documents WHERE doc_id % 10 <> 7),
      |bad AS (SELECT count(*) AS n_bad FROM documents WHERE doc_id % 10 = 7),
      |agg AS (
      |  SELECT lang,
      |         CAST(count(*) AS BIGINT) AS n_rows,
      |         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |         CAST(min(doc_id) AS BIGINT) AS min_id,
      |         CAST(max(doc_id) AS BIGINT) AS max_id
      |  FROM good GROUP BY lang)
      |SELECT lang, n_rows, sum_chars, min_id, max_id,
      |       (SELECT CAST(n_bad AS BIGINT) FROM bad) AS n_quarantined
      |FROM agg
      |ORDER BY lang""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types._
    val dd = docs(s, d)
    val tmp = graft.core.Scratch.tempDir("q235csv")
    val csvDir = s"$tmp/in"
    dd.select(
        when(col("doc_id") % 10 === 7,
          concat_ws(",", col("doc_id"), col("lang")))
          .otherwise(concat_ws(",", col("doc_id"), col("lang"),
            col("n_chars"))).as("line"))
      .write.mode("overwrite").text(csvDir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("n_chars", LongType),
      StructField("_corrupt", StringType)))
    val parsed = s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(csvDir)
      .cache()
    val nBad = parsed.filter(col("_corrupt").isNotNull)
      .agg(count(lit(1))).collect()(0).getLong(0)
    parsed.filter(col("_corrupt").isNull)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .withColumn("n_quarantined", lit(nBad))
      .orderBy(col("lang"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk ACL 2019) —
    * `similarity.BitextMine.mutualMargin` over the en → de document
    * pools on the deterministic md5-window embeddings: cosine relative
    * to BOTH sides' top-4 neighborhood density, reciprocal-best matches
    * only — the parallel-corpus miner of an MT data pipeline, with the
    * hub correction raw-cosine mining lacks (spec-pinned). Everything
    * ranks on integer grids (sim_ppb, margin_ppm with positive-only
    * operands so div ≡ //); the oracle replays the pairwise block, both
    * neighborhood sums, the margin arithmetic and both reciprocal
    * windows. */
  val q231BitextMining: QueryDef = sql(
    "q231_bitext_mining",
    s"""WITH demb AS (
      |  SELECT doc_id, lang,
      |         [${(0 until 16).map(docEmbedDimSql).mkString(",\n      |          ")}] AS emb
      |  FROM documents),
      |s AS (SELECT doc_id AS src_id, emb FROM demb WHERE lang = 'en'),
      |t AS (SELECT doc_id AS tgt_id, emb FROM demb WHERE lang = 'de'),
      |p AS (
      |  SELECT src_id, tgt_id,
      |         CAST(round(list_cosine_similarity(s.emb, t.emb) * 1000000000)
      |              AS BIGINT) AS sim_ppb
      |  FROM s CROSS JOIN t),
      |pp AS (SELECT * FROM p WHERE sim_ppb > 0),
      |sx AS (SELECT src_id, CAST(sum(sim_ppb) AS BIGINT) AS sumk_x FROM (
      |         SELECT src_id, sim_ppb,
      |                row_number() OVER (PARTITION BY src_id
      |                                   ORDER BY sim_ppb DESC, tgt_id) AS r
      |         FROM pp) WHERE r <= 4 GROUP BY src_id),
      |sy AS (SELECT tgt_id, CAST(sum(sim_ppb) AS BIGINT) AS sumk_y FROM (
      |         SELECT tgt_id, sim_ppb,
      |                row_number() OVER (PARTITION BY tgt_id
      |                                   ORDER BY sim_ppb DESC, src_id) AS r
      |         FROM pp) WHERE r <= 4 GROUP BY tgt_id),
      |sc AS (
      |  SELECT pp.src_id, pp.tgt_id, pp.sim_ppb,
      |         CAST((pp.sim_ppb * 8 * 1000000) // (sumk_x + sumk_y) AS BIGINT)
      |           AS margin_ppm
      |  FROM pp JOIN sx USING (src_id) JOIN sy USING (tgt_id)),
      |fw AS (SELECT src_id, tgt_id, sim_ppb, margin_ppm FROM (
      |         SELECT sc.*,
      |                row_number() OVER (PARTITION BY src_id
      |                                   ORDER BY margin_ppm DESC, sim_ppb DESC,
      |                                            tgt_id) AS r
      |         FROM sc) WHERE r = 1),
      |bw AS (SELECT src_id, tgt_id FROM (
      |         SELECT src_id, tgt_id,
      |                row_number() OVER (PARTITION BY tgt_id
      |                                   ORDER BY margin_ppm DESC, sim_ppb DESC,
      |                                            src_id) AS r
      |         FROM sc) WHERE r = 1)
      |SELECT fw.src_id, fw.tgt_id, fw.sim_ppb, fw.margin_ppm
      |FROM fw JOIN bw ON bw.src_id = fw.src_id AND bw.tgt_id = fw.tgt_id
      |ORDER BY fw.src_id""".stripMargin) { (s, d) =>
    val demb = docs(s, d).select(col("doc_id"), col("lang"),
      array((0 until 16).map(docEmbedDim): _*).as("emb"))
    graft.similarity.BitextMine.mutualMargin(
      demb.filter(col("lang") === "en").select(col("doc_id"), col("emb")),
      demb.filter(col("lang") === "de").select(col("doc_id"), col("emb")),
      "doc_id", "emb", k = 4)
  }

  /** The FULLY INDEX-BACKED retrieval eval — q214's five rankers, every
    * one served from a STANDING index (NEXT.md round-14 item 2: "serve
    * them from the index for a fully index-backed retrieval stack"):
    * bm25/rm3 from the persisted `PostingsIndex` (bucket-pruned postings
    * + persisted df/lengths/stats), jac from the same index's postings +
    * the `dln` per-doc fact, rrf as fusion of the two served lists, and
    * vec from a persisted `sources.IvfIndex` over the deterministic
    * md5-window document embeddings (exact-degenerate serve, the q94
    * mechanism: nprobe ≥ centroid count ⇒ provably equals brute force).
    * At serve time the corpus TEXT is read only for the ≤ 25 RM3
    * feedback documents — everything else comes off index partitions.
    * The oracle is q214's recompute chain verbatim, so the hash gate IS
    * "index-served eval ≡ corpus-recomputed eval" for all five rankers
    * at once. */
  val q224IndexedEval: QueryDef = sql(
    "q224_indexed_retrieval_eval",
    retrievalEvalSql) { (s, d) =>
    val dd = docs(s, d)
    val idx = postingsShared.get(s, d)
    val probes = dd.filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"),
        explode(slice(split(col("text"), " "), 1, 8)).as("tok"))
      .distinct()
    // ONE bucket collect shared by the bm25 and jac serves (same probe
    // frame — each serve would otherwise pay its own driver round-trip)
    val probedOnce = Some(idx.bucketsOf(probes))
    // The first-pass list is ≤ k·|Q| rows and consumed FOUR times (bm25
    // ranker, rrf input, rm3 feedback, and rm3's own probedBuckets
    // collect): localCheckpoint pins the tiny result so the eager collect
    // inside the RM3 chain doesn't evaluate a full serve that the final
    // action then recomputes — measured 21.1 → 15.7s warm at sf0.1.
    // A tiny materialized list is exactly the case where
    // pinning CANNOT hurt exchange reuse (the q203 counter-lesson was a
    // corpus-sized cache).
    val bm25full = idx.bm25TopK(probes, k = 10, probedOnce)
      .localCheckpoint(true)
    val bm25 = bm25full.select(col("qid"), col("doc_id"), col("rank"))
    val jac = idx.jaccardTopK(probes, k = 10, probedOnce)
      .select(col("qid"), col("doc_id"), col("rank"))
    val rrf = graft.similarity.Fusion
      .reciprocalRank(Seq("bm25" -> bm25, "jac" -> jac), kConst = 60,
        topK = 10)
      .select(col("qid"), col("doc_id"), col("rank"))
    // the RM3 feedback pass IS the bm25 ranker's list — hand it in so
    // the probe is planned once (exchange reuse, not a recompute)
    val rm3 = idx.bm25TopK(idx.rm3ExpandedTermsFrom(bm25full, probes, dd,
        "doc_id", "text", fbDocs = 5, fbTerms = 5), k = 10)
      .select(col("qid"), col("doc_id"), col("rank"))
    val demb = docEmb(dd)
    // the vec ranker's IVF index is read-only here — shared per
    // (process, sf) like the postings index (second bench rep and any
    // later consumer serve build-free); the mutating IVF queries
    // (q106/q233) keep their own indexes
    val vidx = docIvfShared.get(s, d)
    // simDecimals=9 ranks on the 1e-9 grid — the same total order as
    // q214's fixed_point(cos, 1e9) key (both land on round(sim·1e9)),
    // and SOUND because IvfIndex preserves the double element type: a
    // float-truncated store would perturb cosines by ~1e-7 — enough to
    // rank-flip near-ties against the double-precision oracle
    val vec = vidx.topK(demb.filter(col("doc_id") < 5), "doc_id", "emb",
        k = 10, nprobe = 8, simDecimals = Some(9))
      .select(col("qid"), col("nn").as("doc_id"), col("rank"))
    val lists = bm25.withColumn("ranker", lit("bm25"))
      .unionByName(jac.withColumn("ranker", lit("jac")))
      .unionByName(rrf.withColumn("ranker", lit("rrf")))
      .unionByName(vec.withColumn("ranker", lit("vec")))
      .unionByName(rm3.withColumn("ranker", lit("rm3")))
    gradeRankers(dd, lists)
  }

  /** MaxScore-pruned EXACT top-k BM25 serving (Turtle & Flood 1995) —
    * `PostingsIndex.bm25TopKMaxScore` over a bounds-carrying persisted
    * index: per-term upper bounds at the (max_tf, min_dl) corner, a
    * θ from the seed term's fully-scored postings, ascending-ub prefix
    * sums splitting essential from prunable terms, candidates from
    * essential postings only. The ORACLE IS THE UNPRUNED RECOMPUTE
    * (q184's chain on these probes), so the driver hash gate is the
    * pruning-exactness theorem itself: one over-pruned document and the
    * hash flips. Probes widen q184's to docs 0–7 so the two queries
    * also cross-check each other's shared scoring chain on different
    * probe sets. Candidate-volume reduction is measured in ScaleSmoke
    * `maxscore_serve` on a stopword-adversarial corpus (the uniform
    * synthetic vocabulary here barely prunes — by design the gate only
    * needs equality). */
  val q236MaxScoreServe: QueryDef = sql(
    "q236_maxscore_serve",
    """WITH base AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM base),
      |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS nd
      |        FROM dl),
      |dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      |       FROM (SELECT doc_id, unnest(w) AS tok FROM base)
      |       GROUP BY doc_id, tok),
      |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY tok),
      |q AS (SELECT DISTINCT doc_id AS qid, unnest(w[1:8]) AS tok
      |      FROM base WHERE doc_id < 8),
      |sc AS (
      |  SELECT q.qid, dt.doc_id,
      |         CAST(sum(CAST((nd * 1000) // df AS HUGEINT) *
      |                  ((88 * tf * CAST(t AS HUGEINT) * 1000000) //
      |                   (40 * CAST(t AS HUGEINT) * tf + 12 * t + 36 * dl.dl * nd))) AS BIGINT)
      |           AS score_i
      |  FROM q JOIN dfq USING (tok) JOIN dt USING (tok)
      |  JOIN dl ON dl.doc_id = dt.doc_id CROSS JOIN tot
      |  WHERE dt.doc_id <> q.qid
      |  GROUP BY q.qid, dt.doc_id)
      |SELECT qid, rank, doc_id, score_i FROM (
      |  SELECT qid, doc_id, score_i,
      |         row_number() OVER (PARTITION BY qid
      |                            ORDER BY score_i DESC, doc_id) AS rank
      |  FROM sc)
      |WHERE rank <= 10
      |ORDER BY qid, rank""".stripMargin) { (s, d) =>
    val dd = docs(s, d)
    val idx = postingsShared.get(s, d)
    val probes = dd.filter(col("doc_id") < 8)
      .select(col("doc_id").as("qid"),
        explode(slice(split(col("text"), " "), 1, 8)).as("tok"))
      .distinct()
    idx.bm25TopKMaxScore(probes, k = 10)
      .orderBy(col("qid"), col("rank"))
  }

  /** IMPACT-ORDERED exact BM25 serving (Anh–Moffat SIGIR 2002 family) —
    * `PostingsIndex.buildImpacts` + `bm25TopKImpact`: every posting row
    * carries its fully PRECOMPUTED score contribution, derived at build
    * time from the persisted tables (no corpus pass), so a serve is ONE
    * bucket-pruned join + sum + rank — no df join, no lengths join, no
    * stats crossJoin (q184/q216 pay all three per query batch). THE
    * TRADE is pinned in code and spec: impacts bake the global (df, t,
    * nd) into every row, so `merge` DELETES the table (absence =
    * rebuild-after-ingest-cycle) — the serving-speed-for-rebuild-cycle
    * economics impact-ordered indexes accept, the design point OPPOSITE
    * the merge-friendly raw-tf default. Output ≡ the unindexed
    * recompute by construction; the oracle IS that recompute, so the
    * driver hash gate is the equivalence. */
  val q249ImpactServe: QueryDef = sql(
    "q249_impact_serve",
    """WITH base AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM base),
      |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS nd
      |        FROM dl),
      |dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      |       FROM (SELECT doc_id, unnest(w) AS tok FROM base)
      |       GROUP BY doc_id, tok),
      |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY tok),
      |q AS (SELECT DISTINCT doc_id AS qid, unnest(w[1:8]) AS tok
      |      FROM base WHERE doc_id < 6),
      |sc AS (
      |  SELECT q.qid, dt.doc_id,
      |         CAST(sum(CAST((nd * 1000) // df AS HUGEINT) *
      |                  ((88 * tf * CAST(t AS HUGEINT) * 1000000) //
      |                   (40 * CAST(t AS HUGEINT) * tf + 12 * t + 36 * dl.dl * nd))) AS BIGINT)
      |           AS score_i
      |  FROM q JOIN dfq USING (tok) JOIN dt USING (tok)
      |  JOIN dl ON dl.doc_id = dt.doc_id CROSS JOIN tot
      |  WHERE dt.doc_id <> q.qid
      |  GROUP BY q.qid, dt.doc_id)
      |SELECT qid, rank, doc_id, score_i FROM (
      |  SELECT qid, doc_id, score_i,
      |         row_number() OVER (PARTITION BY qid
      |                            ORDER BY score_i DESC, doc_id) AS rank
      |  FROM sc)
      |WHERE rank <= 10
      |ORDER BY qid, rank""".stripMargin) { (s, d) =>
    val dd = docs(s, d)
    val idx = postingsShared.get(s, d)
    val probes = dd.filter(col("doc_id") < 6)
      .select(col("doc_id").as("qid"),
        explode(slice(split(col("text"), " "), 1, 8)).as("tok"))
      .distinct()
    idx.bm25TopKImpact(probes, k = 10)
      .orderBy(col("qid"), col("rank"))
  }

  /** Impact-ordered BM25 from the LEDGERED index after a DOUBLED-DELIVERY
    * stream — the streaming-stack completion of q249 (VERDICT r13
    * missing #1): the index is created POSITIONLESS (the q224 trade
    * brought to the ledgered class — a bm25-only micro-batch stack never
    * reads the largest table, so it never ingests it), the corpus
    * arrives through a real file-source micro-batch stream whose
    * `foreachBatch` delivers EVERY batch twice (`mergeOnce` commits the
    * first, proves the second a no-op — q223's exactly-once mechanic),
    * and after the cycle DRAINS, `buildImpacts` derives the impact table
    * from the committed state and stamps it with the ledger fingerprint.
    * The rebuild contract this query demonstrates: impacts rebuild once
    * per drained ingest cycle, never per merge; a stale/mid-cycle
    * impact serve refuses loudly (spec-pinned along with
    * compaction-preserves-impacts). The oracle is the corpus recompute,
    * so the hash gate IS stream-ingest + impact-derive ≡ batch scoring. */
  val q250LedgeredImpactServe: QueryDef = sql(
    "q250_ledgered_impact_serve",
    """WITH base AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM base),
      |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS nd
      |        FROM dl),
      |dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      |       FROM (SELECT doc_id, unnest(w) AS tok FROM base)
      |       GROUP BY doc_id, tok),
      |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY tok),
      |q AS (SELECT DISTINCT doc_id AS qid, unnest(w[1:8]) AS tok
      |      FROM base WHERE doc_id < 7),
      |sc AS (
      |  SELECT q.qid, dt.doc_id,
      |         CAST(sum(CAST((nd * 1000) // df AS HUGEINT) *
      |                  ((88 * tf * CAST(t AS HUGEINT) * 1000000) //
      |                   (40 * CAST(t AS HUGEINT) * tf + 12 * t + 36 * dl.dl * nd))) AS BIGINT)
      |           AS score_i
      |  FROM q JOIN dfq USING (tok) JOIN dt USING (tok)
      |  JOIN dl ON dl.doc_id = dt.doc_id CROSS JOIN tot
      |  WHERE dt.doc_id <> q.qid
      |  GROUP BY q.qid, dt.doc_id)
      |SELECT qid, rank, doc_id, score_i FROM (
      |  SELECT qid, doc_id, score_i,
      |         row_number() OVER (PARTITION BY qid
      |                            ORDER BY score_i DESC, doc_id) AS rank
      |  FROM sc)
      |WHERE rank <= 10
      |ORDER BY qid, rank""".stripMargin) { (s, d) =>
    val dd = docs(s, d)
    val tmp = graft.core.Scratch.tempDir("q250stream")
    val inDir = s"$tmp/in"; val ckpt = s"$tmp/ckpt"
    val idxPath = graft.core.Scratch.dir("q250_ledger_impact_index", d)
    val idx = graft.text.LedgeredPostingsIndex.create(s, idxPath,
      nBuckets = 16, withPositions = false)
    val standingId = 1000000L // outside the stream's epoch-id namespace
    val standing = dd.filter(col("doc_id") % 3 === 0)
    // the stream-input staging write (docs % 3 ≠ 0) and the standing
    // bootstrap chain (docs % 3 = 0) share no data or files — overlap
    // them (core.Par, guide §2.6); the stream only starts after both
    graft.core.Par.run(
      () => dd.filter(col("doc_id") % 3 =!= 0).repartition(4)
        .write.parquet(inDir),
      () => {
        require(idx.mergeOnce(standing, "doc_id", "text", standingId),
          "bootstrap merge must commit")
        require(!idx.mergeOnce(standing, "doc_id", "text", standingId),
          "redelivered bootstrap batch must be a no-op")
      })
    // schema of the files just written from `dd` — no inference job
    val schema = graft.streaming.StreamOps.stagedSchema(dd)
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2").parquet(inDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the FIRST call may legitimately return false: Structured
        // Streaming re-invokes the sink with the same batchId after a
        // task/driver failure, and an already-committed epoch is exactly
        // the no-op the ledger exists to absorb — asserting true here
        // would turn the exactly-once recovery path into a hard failure
        idx.mergeOnce(batch, "doc_id", "text", batchId): Unit
        // the deliberate in-call redelivery, though, MUST be a no-op
        require(!idx.mergeOnce(batch, "doc_id", "text", batchId),
          s"redelivered micro-batch $batchId must be a no-op")
      }
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    q.stop()
    // the ingest cycle has DRAINED — the contract's rebuild point
    idx.buildImpacts()
    val probes = dd.filter(col("doc_id") < 7)
      .select(col("doc_id").as("qid"),
        explode(slice(split(col("text"), " "), 1, 8)).as("tok"))
      .distinct()
    idx.bm25TopKImpact(probes, k = 10)
      .orderBy(col("qid"), col("rank"))
  }

  /** LATE-INTERACTION re-ranking (ColBERT-style MaxSim — Khattab &
    * Zaharia SIGIR 2020) — the multi-vector retrieval operator between
    * single-vector ANN (q32/q36) and lexical BM25 (q184/q216): every
    * query TOKEN keeps its own embedding, and a document's score is
    * Σ_{q tok} max_{d tok} ⟨e_q, e_d⟩ — the sum-of-max algebra that
    * preserves token-level matching where a pooled document vector
    * blurs it. Deployed exactly as ColBERT deploys: a cheap stage-1
    * retriever (BM25 top-30 from the SHARED standing postings index)
    * bounds the candidate set, and MaxSim re-ranks only those — at
    * 100 TB the all-pairs token interaction is never materialized
    * corpus-wide, only over k·|Q| candidates (the two-stage cascade
    * a production serving stack runs). Token embeddings are the
    * deterministic md5-window convention (8 dims from one md5 per
    * DISTINCT token — vocabulary-sized, not corpus-sized), the dot
    * product is exact integer in [−8·10^6, 8·10^6], and the rank
    * boundary is (score DESC, doc_id) — fully hash-gated: the oracle
    * replays the BM25 stage, every token embedding window, the max per
    * query token, and the sum. */
  val q252MaxsimRerank: QueryDef = {
    // dim j of the 8-dim token embedding: one md5 per distinct token,
    // four hex chars per dim, mapped to [-1000, 1000]
    def embSqlDuck(src: String, j: Int): String =
      s"(('0x' || substr(md5($src || '|te0'), ${j * 4 + 1}, 4))::BIGINT % 2001) - 1000"
    def embSpark(c: Column, j: Int): Column =
      (conv(substring(md5(concat(c, lit("|te0"))), j * 4 + 1, 4),
        16, 10).cast("long") % 2001L) - 1000L
    val dotDuck = (0 until 8)
      .map(j => s"q.e$j * t.e$j").mkString(" + ")
    QueryDef.sql(
      "q252_maxsim_rerank",
      s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM base),
         |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS nd
         |        FROM dl),
         |dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
         |       FROM (SELECT doc_id, unnest(w) AS tok FROM base)
         |       GROUP BY doc_id, tok),
         |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY tok),
         |q AS (SELECT DISTINCT doc_id AS qid, unnest(w[1:8]) AS tok
         |      FROM base WHERE doc_id < 5),
         |sc AS (
         |  SELECT q.qid, dt.doc_id,
         |         CAST(sum(CAST((nd * 1000) // df AS HUGEINT) *
         |                  ((88 * tf * CAST(t AS HUGEINT) * 1000000) //
         |                   (40 * CAST(t AS HUGEINT) * tf + 12 * t + 36 * dl.dl * nd))) AS BIGINT)
         |           AS score_i
         |  FROM q JOIN dfq USING (tok) JOIN dt USING (tok)
         |  JOIN dl ON dl.doc_id = dt.doc_id CROSS JOIN tot
         |  WHERE dt.doc_id <> q.qid
         |  GROUP BY q.qid, dt.doc_id),
         |cand AS (
         |  SELECT qid, doc_id FROM (
         |    SELECT qid, doc_id,
         |           row_number() OVER (PARTITION BY qid
         |                              ORDER BY score_i DESC, doc_id) AS rank
         |    FROM sc)
         |  WHERE rank <= 30),
         |qe AS (SELECT qid, tok AS qt,
         |              ${(0 until 8).map(j => s"${embSqlDuck("tok", j)} AS e$j").mkString(", ")}
         |       FROM q),
         |te AS (SELECT doc_id, tok AS dt,
         |              ${(0 until 8).map(j => s"${embSqlDuck("tok", j)} AS e$j").mkString(", ")}
         |       FROM (SELECT doc_id, unnest(list_distinct(w)) AS tok
         |             FROM base
         |             WHERE doc_id IN (SELECT DISTINCT doc_id FROM cand))),
         |mx AS (
         |  SELECT c.qid, c.doc_id, q.qt,
         |         CAST(max($dotDuck) AS BIGINT) AS md
         |  FROM cand c
         |  JOIN qe q ON q.qid = c.qid
         |  JOIN te t ON t.doc_id = c.doc_id
         |  GROUP BY c.qid, c.doc_id, q.qt),
         |ms AS (SELECT qid, doc_id, CAST(sum(md) AS BIGINT) AS score_i
         |       FROM mx GROUP BY qid, doc_id)
         |SELECT qid, rank, doc_id, score_i FROM (
         |  SELECT qid, doc_id, score_i,
         |         row_number() OVER (PARTITION BY qid
         |                            ORDER BY score_i DESC, doc_id) AS rank
         |  FROM ms)
         |WHERE rank <= 10
         |ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val dd = docs(s, d)
      val probes = dd.filter(col("doc_id") < 5)
        .select(col("doc_id").as("qid"),
          explode(slice(split(col("text"), " "), 1, 8)).as("tok"))
        .distinct()
      // stage 1: the shared standing index retrieves, MaxSim only re-ranks
      val cands = postingsShared.get(s, d).bm25TopK(probes, k = 30)
        .select(col("qid"), col("doc_id"))
      def withEmb(df: DataFrame, tokCol: String): DataFrame =
        (0 until 8).foldLeft(df)((acc, j) =>
          acc.withColumn(s"e$j", embSpark(col(tokCol), j)))
      val qe = withEmb(probes.withColumnRenamed("tok", "qt"), "qt")
      val candDocs = cands.select(col("doc_id")).distinct()
      val te = withEmb(
        dd.join(candDocs, "doc_id")
          .select(col("doc_id").cast("long").as("doc_id"),
            explode(array_distinct(split(col("text"), " "))).as("dt")),
        "dt")
      // candidate-bounded token interaction: |cand|·|q toks|·|doc toks|
      // rows, never corpus-wide (the operator enforces the shape)
      graft.similarity.MaxSim.rerank(cands, qe, te, dims = 8, k = 10)
        .orderBy(col("qid"), col("rank"))
    }
  }

  /** SKETCH-ONLY CONTAMINATION SCREENING — `KmvSketch.fracSketch` +
    * `fracContainment` (FracMinHash, Irber et al. 2022 / sourmash
    * "scaled"; Broder 1997's mod-m design): per (benchmark doc, corpus
    * shard), estimate C(A, B) = |A∩B| / |A| over distinct 3-word-shingle
    * sets from sketches that keep every hash below a FIXED τ (here a
    * 1/4-fraction of the hash space) — the estimand q91/q122's exact
    * screens compute by reading text, answered from artifacts: at 100 TB
    * you sketch each benchmark ONCE and screen every shard without
    * re-reading either side. Two design decisions are the point:
    * Jaccard is the wrong ESTIMAND (a small benchmark fully inside a
    * huge shard has Jaccard ≈ 0 but containment 1), and the fixed-k KMV
    * cut is the wrong SKETCH (its A-side sample share collapses as
    * k·|A|/|A∪B| — measured: 21 of 30 pairs here lose every A-hash at
    * k = 64; the limitation is documented on `containmentEstimate`).
    * The scaled sketch's shared τ decides membership exactly for every
    * kept hash, so the sample stays A-proportional at any |B|. Planted
    * structure: benchmark doc i LIVES in shard i % 3, so own-shard
    * containment is exactly 10^6 (the subset theorem FA ⊆ FB — a
    * full-containment screen never false-negatives, spec-pinned) while
    * cross-shard containment measures real overlap. Exact values ride
    * along; the oracle replays the τ filter, both kept-hash sets, every
    * count and both ppm divisions. */
  val q253ContainmentScreen: QueryDef = sql(
    "q253_containment_screen",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |         generate_series(1, len(tok) - 2),
      |         i -> array_to_string(tok[i:i+2], ' ')))) AS sh
      |       FROM t WHERE len(tok) >= 3),
      |ash AS (SELECT doc_id AS bench, sh FROM sh WHERE doc_id < 10),
      |bsh AS (SELECT DISTINCT doc_id % 3 AS shard, sh FROM sh),
      |am AS (SELECT DISTINCT bench,
      |         ('0x' || substr(md5(sh || '|kmv-v1'), 1, 12))::BIGINT AS h
      |       FROM ash
      |       WHERE ('0x' || substr(md5(sh || '|kmv-v1'), 1, 12))::BIGINT
      |             < 70368744177664),
      |bm AS (SELECT DISTINCT shard,
      |         ('0x' || substr(md5(sh || '|kmv-v1'), 1, 12))::BIGINT AS h
      |       FROM bsh
      |       WHERE ('0x' || substr(md5(sh || '|kmv-v1'), 1, 12))::BIGINT
      |             < 70368744177664),
      |pairs AS (SELECT bench, shard
      |          FROM (SELECT DISTINCT bench FROM am)
      |          CROSS JOIN (SELECT DISTINCT shard FROM bm)),
      |naf AS (SELECT bench, CAST(count(*) AS BIGINT) AS n_a_frac
      |        FROM am GROUP BY bench),
      |mt AS (SELECT am.bench, bm.shard, CAST(count(*) AS BIGINT) AS matches
      |       FROM am JOIN bm ON bm.h = am.h GROUP BY am.bench, bm.shard),
      |na AS (SELECT bench, CAST(count(*) AS BIGINT) AS n_a_exact
      |       FROM ash GROUP BY bench),
      |ni AS (SELECT a.bench, b.shard, CAST(count(*) AS BIGINT) AS n_inter
      |       FROM ash a JOIN bsh b ON b.sh = a.sh GROUP BY a.bench, b.shard)
      |SELECT p.bench, p.shard, naf.n_a_frac,
      |       CAST(coalesce(mt.matches, 0) AS BIGINT) AS matches,
      |       CAST((coalesce(mt.matches, 0) * 1000000) // naf.n_a_frac
      |            AS BIGINT) AS cont_est_ppm,
      |       na.n_a_exact,
      |       CAST(coalesce(ni.n_inter, 0) AS BIGINT) AS n_inter_exact,
      |       CAST((coalesce(ni.n_inter, 0) * 1000000) // na.n_a_exact
      |            AS BIGINT) AS cont_exact_ppm
      |FROM pairs p
      |JOIN naf USING (bench) JOIN na USING (bench)
      |LEFT JOIN mt ON mt.bench = p.bench AND mt.shard = p.shard
      |LEFT JOIN ni ON ni.bench = p.bench AND ni.shard = p.shard
      |ORDER BY p.bench, p.shard""".stripMargin) { (s, d) =>
    import graft.operators.KmvSketch
    val dd = docs(s, d)
    val sh = dd.select(col("doc_id").cast("long").as("doc_id"),
      explode(array_distinct(graft.functions.word_shingles(
        split(col("text"), " "), 3))).as("sh"))
    val aSh = sh.filter(col("doc_id") < 10)
      .select(col("doc_id").as("bench"), col("sh"))
    val bSh = sh.select((col("doc_id") % 3).as("shard"), col("sh"))
    val aSk = KmvSketch.fracSketch(aSh, "bench", "sh", sPpm = 250000L)
    val bSk = KmvSketch.fracSketch(bSh, "shard", "sh", sPpm = 250000L)
    // 10 benchmarks × 3 shards, keyed by one pair string (the grpCol the
    // estimator joins on); benchmark sketches broadcast (A-side frames
    // are sample-sized), shard sketches carry the corpus-proportional
    // arrays
    val pairKey = concat_ws(":", col("bench"), col("shard"))
    val aF = aSk.crossJoin(broadcast(bSk.select(col("shard"))))
      .select(pairKey.as("pair"), col("fmins"))
    val bF = bSk.crossJoin(broadcast(aSk.select(col("bench"))))
      .select(pairKey.as("pair"), col("fmins"))
    val est = KmvSketch.fracContainment(aF, bF, "pair")
      .withColumn("bench", split(col("pair"), ":").getItem(0).cast("long"))
      .withColumn("shard", split(col("pair"), ":").getItem(1).cast("long"))
    val nA = aSh.groupBy(col("bench")).agg(count(lit(1)).as("n_a_exact"))
    val nI = aSh.join(bSh.distinct(), "sh")
      .groupBy(col("bench"), col("shard")).agg(count(lit(1)).as("n_inter"))
    est
      .join(nA, "bench")
      .join(nI, Seq("bench", "shard"), "left")
      .select(col("bench"), col("shard"), col("n_a_frac"),
        col("matches"), col("cont_est_ppm"), col("n_a_exact"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter_exact"),
        expr("(coalesce(n_inter, 0L) * 1000000) div n_a_exact")
          .as("cont_exact_ppm"))
      .orderBy(col("bench"), col("shard"))
  }

  /** SHARDED contamination screening — the fracMerge mergeability
    * theorem as a cross-engine hash gate: the ENGINE sketches the corpus
    * in four independent shards and merges the artifacts
    * (`KmvSketch.fracMerge` — distinct union; the τ cut is a fixed
    * threshold, so it COMMUTES with set union), while the ORACLE
    * computes the whole-corpus sketch DIRECTLY in one pass — hash
    * equality therefore PROVES merged-shard ≡ from-scratch, hash for
    * hash (`n_corpus_frac` counts the merged sketch itself, so one
    * lost or duplicated hash anywhere flips the gate). This is the
    * property that makes sketch screening deployable at 100 TB: sketch
    * every shard where it lives, union the tiny artifacts, never
    * re-read a shard — and serve the SAME screen a monolithic sketch
    * would. Benchmarks are corpus documents, so the subset theorem
    * makes every containment EXACTLY 10^6 — deterministic output, no
    * estimator noise in the gate. */
  val q257ShardedScreen: QueryDef = sql(
    "q257_sharded_screen",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |         generate_series(1, len(tok) - 2),
      |         i -> array_to_string(tok[i:i+2], ' ')))) AS sh
      |       FROM t WHERE len(tok) >= 3),
      |am AS (SELECT DISTINCT doc_id AS bench,
      |         ('0x' || substr(md5(sh || '|kmv-v1'), 1, 12))::BIGINT AS h
      |       FROM sh
      |       WHERE doc_id < 10
      |         AND ('0x' || substr(md5(sh || '|kmv-v1'), 1, 12))::BIGINT
      |             < 70368744177664),
      |cm AS (SELECT DISTINCT
      |         ('0x' || substr(md5(sh || '|kmv-v1'), 1, 12))::BIGINT AS h
      |       FROM sh
      |       WHERE ('0x' || substr(md5(sh || '|kmv-v1'), 1, 12))::BIGINT
      |             < 70368744177664),
      |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus_frac FROM cm),
      |naf AS (SELECT bench, CAST(count(*) AS BIGINT) AS n_a_frac
      |        FROM am GROUP BY bench),
      |mt AS (SELECT am.bench, CAST(count(*) AS BIGINT) AS matches
      |       FROM am JOIN cm ON cm.h = am.h GROUP BY am.bench)
      |SELECT naf.bench, nc.n_corpus_frac, naf.n_a_frac,
      |       CAST(coalesce(mt.matches, 0) AS BIGINT) AS matches,
      |       CAST((coalesce(mt.matches, 0) * 1000000) // naf.n_a_frac
      |            AS BIGINT) AS cont_est_ppm
      |FROM naf
      |LEFT JOIN mt ON mt.bench = naf.bench
      |CROSS JOIN nc
      |ORDER BY naf.bench""".stripMargin) { (s, d) =>
    import graft.operators.KmvSketch
    val dd = docs(s, d)
    val sh = dd.select(col("doc_id").cast("long").as("doc_id"),
      explode(array_distinct(graft.functions.word_shingles(
        split(col("text"), " "), 3))).as("sh"))
    val aSk = KmvSketch.fracSketch(
      sh.filter(col("doc_id") < 10).select(col("doc_id").as("bench"),
        col("sh")),
      "bench", "sh", sPpm = 250000L)
    // four INDEPENDENT shard sketches — in production each is built
    // where its shard lives — merged into one standing corpus artifact
    val shardSk = KmvSketch.fracSketch(
      sh.select((col("doc_id") % 4).as("shard"), col("sh")),
      "shard", "sh", sPpm = 250000L)
    val corpusSk = KmvSketch.fracMerge(
      shardSk.select(lit(1L).as("g"), col("fmins")), "g")
    // replicate the 1-row corpus artifact per benchmark (10 rows — the
    // bounded broadcast-product shape q253 already allowlists)
    val bF = corpusSk.crossJoin(broadcast(aSk.select(col("bench"))))
      .select(col("bench"), col("fmins"))
    val nc = corpusSk.select(size(col("fmins")).cast("long")
      .as("n_corpus_frac"))
    KmvSketch.fracContainment(aSk, bF, "bench")
      .crossJoin(broadcast(nc))
      .select(col("bench"), col("n_corpus_frac"), col("n_a_frac"),
        col("matches"), col("cont_est_ppm"))
      .orderBy(col("bench"))
  }

  /** Collocation mining — `text.Collocations.topLift`: top-50 adjacent
    * token pairs with count ≥ 5 by PMI-equivalent LIFT on the ppm grid
    * (log is monotone, so the integer lift ranks identically to PMI —
    * the float-policy trick applied to association mining). The oracle
    * replays pair extraction, both count tables, and the HUGEINT lift
    * arithmetic; (lift, x, y) is a total order, so the LIMIT boundary
    * is deterministic on both engines. */
  val q225Collocations: QueryDef = sql(
    "q225_collocations",
    """WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
      |uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS n
      |        FROM (SELECT unnest(w) AS tok FROM w) GROUP BY tok),
      |pr AS (SELECT w[CAST(i AS INT)] AS x, w[CAST(i + 1 AS INT)] AS y
      |       FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
      |             FROM w)),
      |pc AS (SELECT x, y, CAST(count(*) AS BIGINT) AS n_xy
      |       FROM pr GROUP BY x, y HAVING count(*) >= 5),
      |tot AS (SELECT CAST(sum(len(w)) AS BIGINT) AS n_tok,
      |               CAST(sum(greatest(len(w) - 1, 0)) AS BIGINT) AS n_big
      |        FROM w)
      |SELECT x, y, n_xy, ux.n AS n_x, uy.n AS n_y,
      |       CAST((CAST(n_xy AS HUGEINT) * n_tok * n_tok * 1000000) //
      |            (CAST(n_big AS HUGEINT) * ux.n * uy.n) AS BIGINT)
      |         AS lift_ppm
      |FROM pc
      |JOIN uni ux ON ux.tok = pc.x
      |JOIN uni uy ON uy.tok = pc.y
      |CROSS JOIN tot
      |ORDER BY lift_ppm DESC, x, y
      |LIMIT 50""".stripMargin) { (s, d) =>
    graft.text.Collocations.topLift(docs(s, d), "doc_id", "text",
      minCount = 5L, k = 50)
  }

  /** DP noisy count release — `operators.DpNoise`: per-(lang, source)
    * document counts released through the two-sided geometric mechanism
    * at ε = ln 2 (each document contributes to exactly one group, so the
    * count sensitivity is 1 without extra bounding; q198 is the
    * composition for many-rows-per-user releases). The uniform is the
    * q131 48-bit md5 prefix of the release key and the inverse-CDF table
    * is EXACT BigInt arithmetic emitted into both engines as the same
    * literal CASE chain — the oracle replays group counts, the uniform,
    * the whole 61-branch lookup, and the zero clamp. */
  val q226DpNoisyCounts: QueryDef = sql(
    "q226_dp_noisy_counts",
    s"""WITH c AS (
      |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
      |  FROM documents GROUP BY lang, source),
      |u AS (
      |  SELECT lang, source, n,
      |         ('0x' || substr(md5(lang || '|' || source || '|dp1'), 1, 12))::BIGINT
      |           AS u48
      |  FROM c),
      |z AS (
      |  SELECT lang, source, n, u48,
      |         ${graft.operators.DpNoise.noiseForSql("u48", 30)} AS z
      |  FROM u)
      |SELECT lang, source, n, z, greatest(n + z, 0) AS n_noisy
      |FROM z
      |ORDER BY lang, source""".stripMargin) { (s, d) =>
    import graft.operators.DpNoise
    docs(s, d)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
      .withColumn("u48", DpNoise.uniform48(
        concat(col("lang"), lit("|"), col("source")), "|dp1"))
      .select(col("lang"), col("source"), col("n"),
        DpNoise.noiseFor(col("u48"), 30).as("z"),
        DpNoise.noisyCount(col("n"), col("u48"), 30).as("n_noisy"))
      .orderBy(col("lang"), col("source"))
  }

  /** TextRank keyword extraction (Mihalcea–Tarau EMNLP 2004) —
    * `GraphOps.weightedPagerankPpm` over the corpus-level token
    * CO-OCCURRENCE graph (adjacent-pair edges, symmetrized, weighted by
    * occurrence count): the graph-centrality keyword ranker beside
    * q135's frequency-based TF-IDF — TextRank promotes tokens that
    * CONNECT many distinct frequent contexts, not merely frequent ones
    * (the original paper's point). Integer ppm iterate with the exact
    * split `r·w div W = (r div W)·w + ((r mod W)·w) div W`, so the
    * oracle unrolls all three weighted rounds from first principles
    * (pair extraction, symmetrization, out-weights, every contribution
    * sum). Top-30 by (rank, token) — an integer total order — via
    * TakeOrderedAndProject.
    *
    * Scale shape: the corpus collapses FIRST to the vocabulary²-bounded
    * (src, dst, w) edge table (one map-side-combined groupBy); each
    * round is one equi-join + partial-agg sum — the pregel-as-joins
    * shape over a vocabulary-sized frame, never the corpus. */
  val q243TextrankKeywords: QueryDef = sql(
    "q243_textrank_keywords",
    """WITH tk AS (SELECT string_split(text, ' ') AS w FROM documents),
      |pr0 AS (SELECT w[CAST(i AS INT)] AS x, w[CAST(i + 1 AS INT)] AS y
      |        FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
      |              FROM tk)),
      |e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM (
      |        SELECT x AS src, y AS dst FROM pr0
      |        UNION ALL SELECT y AS src, x AS dst FROM pr0)
      |      GROUP BY 1, 2),
      |wd AS (SELECT src, CAST(sum(w) AS BIGINT) AS wout FROM e GROUP BY src),
      |n AS (SELECT DISTINCT src AS id FROM e),
      |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM n),
      |c1 AS (SELECT e.dst AS id,
      |         CAST(sum((r.r // wd.wout) * e.w
      |                  + ((r.r % wd.wout) * e.w) // wd.wout) AS BIGINT) AS cs
      |       FROM e JOIN wd USING (src) JOIN r0 r ON r.id = e.src
      |       GROUP BY e.dst),
      |r1 AS (SELECT n.id,
      |         CAST(150000 + 850000 * (coalesce(cs, 0) // 1000000)
      |              + (850000 * (coalesce(cs, 0) % 1000000)) // 1000000
      |              AS BIGINT) AS r
      |       FROM n LEFT JOIN c1 ON c1.id = n.id),
      |c2 AS (SELECT e.dst AS id,
      |         CAST(sum((r.r // wd.wout) * e.w
      |                  + ((r.r % wd.wout) * e.w) // wd.wout) AS BIGINT) AS cs
      |       FROM e JOIN wd USING (src) JOIN r1 r ON r.id = e.src
      |       GROUP BY e.dst),
      |r2 AS (SELECT n.id,
      |         CAST(150000 + 850000 * (coalesce(cs, 0) // 1000000)
      |              + (850000 * (coalesce(cs, 0) % 1000000)) // 1000000
      |              AS BIGINT) AS r
      |       FROM n LEFT JOIN c2 ON c2.id = n.id),
      |c3 AS (SELECT e.dst AS id,
      |         CAST(sum((r.r // wd.wout) * e.w
      |                  + ((r.r % wd.wout) * e.w) // wd.wout) AS BIGINT) AS cs
      |       FROM e JOIN wd USING (src) JOIN r2 r ON r.id = e.src
      |       GROUP BY e.dst),
      |r3 AS (SELECT n.id,
      |         CAST(150000 + 850000 * (coalesce(cs, 0) // 1000000)
      |              + (850000 * (coalesce(cs, 0) % 1000000)) // 1000000
      |              AS BIGINT) AS r
      |       FROM n LEFT JOIN c3 ON c3.id = n.id),
      |rk AS (SELECT id, r, row_number() OVER (ORDER BY r DESC, id) AS rnk
      |       FROM r3)
      |SELECT CAST(rnk AS BIGINT) AS rnk, id AS tok, r AS rank_ppm
      |FROM rk WHERE rnk <= 30
      |ORDER BY rnk""".stripMargin) { (s, d) =>
    val toks = docs(s, d).select(split(col("text"), " ").as("w"))
    // adjacent pairs via the positions zip (q225's guarded idiom: Spark's
    // sequence(1, 0) is DESCENDING [1, 0], so single-token docs must not
    // reach the transform)
    val adj = toks.filter(size(col("w")) > 1)
      .select(explode(expr(
        "transform(sequence(1, size(w) - 1), i -> struct(w[i-1] AS x, w[i] AS y))"))
        .as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
    val edges = adj.select(col("x").as("src"), col("y").as("dst"))
      .unionByName(adj.select(col("y").as("src"), col("x").as("dst")))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
    val nodes = edges.select(col("src").as("id")).distinct()
    val pr = graft.graph.GraphOps.weightedPagerankPpm(edges, nodes,
      iters = 3)
    val top = pr.orderBy(col("r").desc, col("id")).limit(30)
    // bounded: the unpartitioned window ranks the ≤ 30 rows the limit kept
    top.withColumn("rnk", row_number().over(
        Window.orderBy(col("r").desc, col("id"))).cast("long"))
      .select(col("rnk"), col("id").as("tok"), col("r").as("rank_ppm"))
      .orderBy(col("rnk"))
  }

  /** LOCAL-overlap plagiarism pairs (MOSS, Schleimer–Wilkerson–Aiken
    * SIGMOD 2003) — the winnowing shelf's pair detector: q48's
    * fingerprints become a shared-print equi-join, scoring CONTAINMENT
    * (shared prints over the smaller signature) so a short document
    * lifted wholesale into a long one scores ~10^6 even though its
    * global Jaccard (q44's metric) is tiny — the partial-copy case
    * global dedup structurally misses. Ubiquitous prints (> 20 docs)
    * are dropped first — MOSS's noise rule, and the join bound: kept
    * pairs ≤ cap · |prints| (the LSH bucket-cap argument, answered here
    * by an idf-style filter instead of a star rewrite because dropped
    * prints are NOISE, not candidates someone must still see). The
    * oracle replays the full FNV-1a winnowing (q48's chain), the
    * ubiquity cap, the pair join and the containment grid; the top-50
    * cut orders by the total key (containment, shared, id_a, id_b). */
  val q228WinnowOverlap: QueryDef = sql(
    "q228_winnow_overlap",
    s"""WITH g AS (
       |  SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
       |         substr(text, CAST(u.i AS INT), 8) AS gram
       |  FROM documents, unnest(range(1, len(text) - 6)) AS u(i)),
       |h AS (
       |  SELECT doc_id, pos, ${fnvExpr("gram")} AS hv,
       |         count(*) OVER (PARTITION BY doc_id) AS ngrams
       |  FROM g),
       |wm AS (
       |  SELECT doc_id,
       |         min(hv) OVER (PARTITION BY doc_id ORDER BY pos
       |                       ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS mh
       |  FROM h
       |  QUALIFY ngrams > 16 AND pos <= ngrams - 15),
       |sm AS (
       |  SELECT doc_id, min(hv) AS mh FROM h WHERE ngrams <= 16 GROUP BY doc_id),
       |fp AS (
       |  SELECT DISTINCT doc_id, mh FROM wm
       |  UNION ALL
       |  SELECT doc_id, mh FROM sm),
       |dfp AS (SELECT mh, CAST(count(*) AS BIGINT) AS ndoc FROM fp GROUP BY mh),
       |keepfp AS (
       |  SELECT fp.doc_id, fp.mh FROM fp JOIN dfp USING (mh)
       |  WHERE dfp.ndoc <= 20),
       |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS fp_n
       |       FROM keepfp GROUP BY doc_id),
       |pr AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |         CAST(count(*) AS BIGINT) AS shared
       |  FROM keepfp a JOIN keepfp b
       |    ON a.mh = b.mh AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT id_a, id_b, shared, sa.fp_n AS fp_a, sb.fp_n AS fp_b,
       |       CAST((shared * 1000000) // least(sa.fp_n, sb.fp_n) AS BIGINT)
       |         AS containment_ppm
       |FROM pr
       |JOIN sz sa ON sa.doc_id = pr.id_a
       |JOIN sz sb ON sb.doc_id = pr.id_b
       |ORDER BY containment_ppm DESC, shared DESC, id_a, id_b
       |LIMIT 50""".stripMargin) { (s, d) =>
    val fp = docs(s, d)
      .select(col("doc_id"),
        explode(winnow_fingerprint(col("text"))).as("hv"))
      .distinct()
    val dfp = fp.groupBy(col("hv")).agg(count(lit(1)).as("ndoc"))
    val keep = fp.join(dfp.filter(col("ndoc") <= 20).select("hv"), "hv")
    val sz = keep.groupBy(col("doc_id")).agg(count(lit(1)).as("fp_n"))
    val pairs = keep.select(col("hv"), col("doc_id").as("id_a"))
      .join(keep.select(col("hv"), col("doc_id").as("id_b")), "hv")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("shared"))
    pairs
      .join(sz.select(col("doc_id").as("id_a"), col("fp_n").as("fp_a")), "id_a")
      .join(sz.select(col("doc_id").as("id_b"), col("fp_n").as("fp_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("shared"), col("fp_a"),
        col("fp_b"),
        expr("(shared * 1000000) div least(fp_a, fp_b)")
          .as("containment_ppm"))
      .orderBy(col("containment_ppm").desc, col("shared").desc,
        col("id_a"), col("id_b"))
      .limit(50)
  }

  /** Normalization-aware exact dedup — `text.Normalize.normalized`
    * composed with `Dedup.exact`: per document a case/diacritic/
    * whitespace VARIANT is constructed (upper-cased, vowels accented,
    * padded spaces — built with the same translate/upper SQL in both
    * engines), blob-level hashing sees two texts, the normalized hash
    * one. The oracle replays the ENTIRE normalizer in SQL (fold → lower
    * → collapse → trim), so a fold-table slip, an operation-order bug
    * (lower before fold would miss Á), or a collapse/trim difference
    * hash-mismatches. */
  val q187NormalizedDedup: QueryDef = sql(
    "q187_normalized_dedup",
    s"""WITH v AS (
       |  SELECT doc_id * 2 AS vid, text FROM documents
       |  UNION ALL
       |  SELECT doc_id * 2 + 1,
       |         '  ' || translate(upper(text), 'AEIOU', 'ÁÈÍÖÜ') || ' '
       |  FROM documents),
       |n AS (
       |  SELECT vid,
       |         trim(regexp_replace(lower(translate(text,
       |           '${graft.text.Normalize.AccentFrom}',
       |           '${graft.text.Normalize.AccentTo}')), ' +', ' ', 'g')) AS norm
       |  FROM v),
       |g AS (SELECT vid, md5(norm) AS norm_hash,
       |             len(string_split(norm, ' ')) AS n_tokens
       |      FROM n),
       |k AS (SELECT norm_hash, min(vid) AS keep_id FROM g GROUP BY norm_hash)
       |SELECT g.vid, g.norm_hash, CAST(g.n_tokens AS INT) AS n_tokens,
       |       CAST(k.keep_id AS BIGINT) AS keep_id,
       |       CAST(CASE WHEN g.vid = k.keep_id THEN 0 ELSE 1 END AS INT)
       |         AS is_duplicate
       |FROM g JOIN k USING (norm_hash)
       |ORDER BY vid""".stripMargin) { (s, d) =>
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val variants = base
      .select((col("doc_id") * 2).as("vid"), col("text"))
      .union(base.select((col("doc_id") * 2 + 1).as("vid"),
        concat(lit("  "),
          translate(upper(col("text")), "AEIOU", "ÁÈÍÖÜ"), lit(" "))
          .as("text")))
    val norm = variants
      .withColumn("norm", graft.text.Normalize.normalized(col("text")))
      .withColumn("norm_hash", md5(col("norm")))
      .withColumn("n_tokens", size(split(col("norm"), " ")))
    graft.dedup.Dedup.exact(norm, "vid", "norm")
      .join(norm.select(col("vid"), col("norm_hash"), col("n_tokens")), "vid")
      .select(col("vid"), col("norm_hash"), col("n_tokens"),
        col("keep_id").cast("long").as("keep_id"),
        col("is_duplicate").cast("int").as("is_duplicate"))
      .orderBy(col("vid"))
  }

  /** Calibration / reliability diagram — `text.Eval.calibration`:
    * q178's AUC measures whether the q148 stopword score RANKS English
    * above the rest; this measures whether its squashed ppm value MEANS
    * its claimed probability (it does not — that miscalibration is the
    * honest, hash-pinned result). The n_b/N weight cancels against the
    * per-bucket mean, so ECE_ppm = Σ|acc_sum−conf_sum| div N on raw
    * integer sums — nothing fractional ever materializes. */
  val q191Calibration: QueryDef = sql(
    "q191_calibration",
    """WITH s AS (
      |  SELECT doc_id,
      |         least(1000000, ((CAST(len(list_filter(string_split(text, ' '),
      |                    t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS BIGINT)
      |          * 1000000) // len(string_split(text, ' '))) * 10) AS conf,
      |         CASE WHEN lang = 'en' THEN 1000000 ELSE 0 END AS acc
      |  FROM documents),
      |b AS (
      |  SELECT least(9, (conf * 10) // 1000000) AS bucket,
      |         CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(conf) AS BIGINT) AS conf_sum,
      |         CAST(sum(acc) AS BIGINT) AS acc_sum
      |  FROM s GROUP BY 1),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total,
      |             CAST(sum(abs(conf_sum - acc_sum)) AS BIGINT) AS gap_total
      |      FROM b)
      |SELECT bucket, n, conf_sum // n AS conf_ppm, acc_sum // n AS acc_ppm,
      |       abs(conf_sum - acc_sum) AS gap_abs,
      |       t.gap_total // t.n_total AS ece_ppm
      |FROM b, t
      |ORDER BY bucket""".stripMargin) { (s, d) =>
    val scored = docs(s, d).select(
      expr("least(1000000, ((CAST(size(filter(split(text, ' '), " +
        "t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS BIGINT) * 1000000) " +
        "div size(split(text, ' '))) * 10)").as("conf"),
      when(col("lang") === "en", 1).otherwise(0).as("pos"))
    graft.text.Eval.calibration(scored, "conf", "pos")
      .orderBy(col("bucket"))
  }

  /** Hard-negative mining for retriever training —
    * `text.Bm25.hardNegatives` over `Bm25.topK(k=20)` with lang as the
    * weak-supervision relevance label: per query the best-ranked
    * same-lang doc is the positive, the first three different-lang
    * results are the hard negatives (lexically close, semantically
    * wrong — the pairs a contrastive retriever actually needs; q163's
    * random draws are the easy-negative baseline). The oracle replays
    * the ENTIRE q184 scoring chain at k=20 plus the label joins and
    * both selection windows. */
  val q196HardNegatives: QueryDef = sql(
    "q196_hard_negatives",
    """WITH base AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM base),
      |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS nd
      |        FROM dl),
      |dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      |       FROM (SELECT doc_id, unnest(w) AS tok FROM base)
      |       GROUP BY doc_id, tok),
      |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY tok),
      |q AS (SELECT DISTINCT doc_id AS qid, unnest(w[1:8]) AS tok
      |      FROM base WHERE doc_id < 10),
      |sc AS (
      |  SELECT q.qid, dt.doc_id,
      |         CAST(sum(CAST((nd * 1000) // df AS HUGEINT) *
      |                  ((88 * tf * CAST(t AS HUGEINT) * 1000000) //
      |                   (40 * CAST(t AS HUGEINT) * tf + 12 * t + 36 * dl.dl * nd))) AS BIGINT)
      |           AS score_i
      |  FROM q JOIN dfq USING (tok) JOIN dt USING (tok)
      |  JOIN dl ON dl.doc_id = dt.doc_id CROSS JOIN tot
      |  WHERE dt.doc_id <> q.qid
      |  GROUP BY q.qid, dt.doc_id),
      |rk AS (
      |  SELECT qid, doc_id, score_i,
      |         row_number() OVER (PARTITION BY qid
      |                            ORDER BY score_i DESC, doc_id) AS rank
      |  FROM sc),
      |top AS (SELECT qid, doc_id, rank FROM rk WHERE rank <= 20),
      |rel AS (
      |  SELECT top.qid, top.doc_id, top.rank,
      |         CASE WHEN ql.lang = dl2.lang THEN 1 ELSE 0 END AS relevant
      |  FROM top
      |  JOIN documents ql ON ql.doc_id = top.qid
      |  JOIN documents dl2 ON dl2.doc_id = top.doc_id),
      |pos AS (
      |  SELECT qid, doc_id AS pos_id, rank AS pos_rank FROM (
      |    SELECT qid, doc_id, rank,
      |           row_number() OVER (PARTITION BY qid ORDER BY rank) AS pr
      |    FROM rel WHERE relevant = 1)
      |  WHERE pr = 1),
      |neg AS (
      |  SELECT qid, doc_id AS neg_id, rank AS neg_rank, neg_seq FROM (
      |    SELECT qid, doc_id, rank,
      |           row_number() OVER (PARTITION BY qid ORDER BY rank) AS neg_seq
      |    FROM rel WHERE relevant = 0)
      |  WHERE neg_seq <= 3)
      |SELECT pos.qid, pos.pos_id, CAST(pos.pos_rank AS INT) AS pos_rank,
      |       CAST(neg.neg_seq AS INT) AS neg_seq, neg.neg_id,
      |       CAST(neg.neg_rank AS INT) AS neg_rank
      |FROM pos JOIN neg USING (qid)
      |ORDER BY qid, neg_seq""".stripMargin) { (s, d) =>
    val probes = docs(s, d)
      .filter(col("doc_id") < 10)
      .select(col("doc_id").as("qid"),
        explode(slice(split(col("text"), " "), 1, 8)).as("tok"))
      .distinct()
    val ranked = graft.text.Bm25.topK(docs(s, d), "doc_id", "text",
      probes, k = 20)
    val labels = docs(s, d).select(col("doc_id").as("id"),
      col("lang").as("label"))
    graft.text.Bm25.hardNegatives(ranked, labels, nNeg = 3)
      .select(col("qid"), col("pos_id"), col("pos_rank").cast("int").as("pos_rank"),
        col("neg_seq").cast("int").as("neg_seq"), col("neg_id"),
        col("neg_rank").cast("int").as("neg_rank"))
      .orderBy(col("qid"), col("neg_seq"))
  }

  /** Budgeted proportional sampling with EXACT integer apportionment —
    * Hamilton's largest-remainder method: per-stratum quota
    * `200·n_g/N` floored, the leftover slots going to the largest
    * remainders (ties by lang) — Σ alloc = 200 is a THEOREM, not a
    * rounding hope (the sampling-family completion: q83 is rate-based,
    * q131 weight-proportional, q149 fixed-per-stratum; this one hits a
    * GLOBAL budget exactly while staying proportional). Members drawn
    * per stratum in content-addressed md5 order (growth-stable).
    * Precondition budget ≤ N (holds at every sf). Vocabulary-sized
    * apportionment rows; one per-stratum rank window. */
  val q199BudgetSample: QueryDef = sql(
    "q199_budget_sample",
    """WITH g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_g
      |           FROM documents GROUP BY lang),
      |tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n FROM g),
      |quo AS (SELECT lang, n_g, (200 * n_g) // tot.n AS base,
      |               (200 * n_g) % tot.n AS rem
      |        FROM g, tot),
      |short AS (SELECT 200 - CAST(sum(base) AS BIGINT) AS extra FROM quo),
      |rked AS (SELECT lang, n_g, base, rem,
      |                row_number() OVER (ORDER BY rem DESC, lang) AS rr
      |         FROM quo),
      |alloc AS (SELECT lang, n_g,
      |                 CAST(base + CASE WHEN rr <= short.extra THEN 1 ELSE 0 END AS BIGINT) AS alloc
      |          FROM rked, short),
      |sel AS (
      |  SELECT d.lang, d.doc_id,
      |         row_number() OVER (PARTITION BY d.lang
      |            ORDER BY md5(CAST(d.doc_id AS STRING) || '|bud-v1'), d.doc_id) AS pos
      |  FROM documents d)
      |SELECT sel.lang, CAST(sel.pos AS INT) AS pos, sel.doc_id,
      |       alloc.alloc, alloc.n_g
      |FROM sel JOIN alloc USING (lang)
      |WHERE sel.pos <= alloc.alloc
      |ORDER BY lang, pos""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val g = docs(s, d).groupBy(col("lang"))
      .agg(count(lit(1)).as("n_g"))
    val tot = g.agg(sum(col("n_g")).as("n"))
    val quo = g.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_g"),
        expr("(200 * n_g) div n").as("base"),
        expr("(200 * n_g) % n").as("rem"))
    val short = quo.agg((lit(200L) - sum(col("base"))).as("extra"))
    // bounded: the unpartitioned window ranks one row per language
    val alloc = quo
      .withColumn("rr", row_number().over(
        Window.orderBy(col("rem").desc, col("lang"))))
      .crossJoin(broadcast(short))
      .select(col("lang"), col("n_g"),
        (col("base") + when(col("rr") <= col("extra"), 1L).otherwise(0L))
          .as("alloc"))
    val sel = docs(s, d)
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("lang")).orderBy(
          md5(concat(col("doc_id").cast("string"), lit("|bud-v1"))),
          col("doc_id"))))
    sel.join(broadcast(alloc), "lang")
      .filter(col("pos") <= col("alloc"))
      .select(col("lang"), col("pos").cast("int").as("pos"), col("doc_id"),
        col("alloc"), col("n_g"))
      .orderBy(col("lang"), col("pos"))
  }
}
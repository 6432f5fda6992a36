package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.api.GraftOps

/** Training-data curation operator family (the mandate's "operations a
  * large-scale training-data pipeline would need", beyond the dedup /
  * similarity / text-analysis families): TF-IDF term importance,
  * deterministic stratified sampling, PII redaction, and repetition
  * (boilerplate) scoring — each oracle-checked on the `documents` table.
  *
  * Scale shapes: q36/q37/q38 are pure narrow maps/filters (zero shuffle —
  * at 100 TB they run at scan speed); q35 shuffles once per aggregation
  * level on its own keys with map-side combine, and the doc-frequency
  * side is AQE-broadcastable.
  */
object CurationOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  // ---------------------------------------------------------------- q35
  /** Top-5 TF-IDF terms per document. idf = exact rational n_docs/df (one
    * IEEE divide), not log(N/df): libm log is not bit-portable and the
    * per-document ranking it induces is identical for fixed tf. */
  val q35 = QueryDef("q35_tfidf_topk",
    (s, dir) =>
      GraftOps.tfidfTopK(docs(s, dir), col("doc_id"), col("text"), k = 5)
        .select(col("id").as("doc_id"), col("token"), col("tf"), col("df"),
          col("tfidf"), col("rk"))
        .orderBy("doc_id", "rk"),
    Some(s"""
      WITH tok AS (
        SELECT doc_id, token
        FROM (SELECT doc_id, unnest(${Duck.toks}) AS token FROM documents) u
        WHERE token <> ''),
      tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      dft AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT COUNT(*) AS n_docs FROM documents),
      scored AS (
        SELECT doc_id, token, tf, df,
          CAST(tf * n_docs AS DOUBLE) / CAST(df AS DOUBLE) AS tfidf
        FROM tf JOIN dft USING (token), n),
      ranked AS (
        SELECT doc_id, token, tf, df, tfidf,
          CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS INTEGER) AS rk
        FROM scored)
      SELECT doc_id, token, tf, df, tfidf, rk
      FROM ranked WHERE rk <= 5
      ORDER BY doc_id, rk"""))

  // ---------------------------------------------------------------- q36
  /** Deterministic stratified sample: sources src0–src4 kept at 20%, the
    * rest at 50%, decided by the portable hash of doc_id — reproducible
    * on any engine/run, zero shuffle. */
  private val smpRates: Map[String, Int] =
    (0 to 4).map(i => s"src$i" -> 200000).toMap
  val q36 = QueryDef("q36_stratified_sample",
    (s, dir) =>
      GraftOps.stratifiedSample(docs(s, dir), col("source"), col("doc_id"),
          smpRates, defaultPpm = 500000, bucketCol = Some("bucket"))
        .select(col("doc_id"), col("source"), col("bucket"))
        .orderBy("doc_id"),
    Some(s"""
      SELECT doc_id, source, bucket FROM (
        SELECT doc_id, source,
          ${Duck.ph("'smp|' || CAST(doc_id AS VARCHAR)")} % 1000000 AS bucket
        FROM documents)
      WHERE bucket < CASE WHEN source IN ('src0','src1','src2','src3','src4')
        THEN 200000 ELSE 500000 END
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q37
  /** PII redaction over text augmented with a synthetic contact line (the
    * word-soup corpus carries no organic PII, so the fixture plants one
    * deterministic email + phone per doc — the operator itself is
    * fixture-agnostic). Output carries counts + md5 of the redacted text
    * (not the full text) to keep the checked row narrow. */
  val q37 = QueryDef("q37_pii_redact",
    (s, dir) => {
      val aug = docs(s, dir).withColumn("aug",
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or call +1-555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
      GraftOps.redactPii(aug, col("aug"))
        .select(col("doc_id"), col("n_emails"), col("n_phones"),
          length(col("redacted")).as("redacted_len"),
          md5(col("redacted")).as("redacted_md5"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH a AS (
        SELECT doc_id,
          concat(text, ' contact user', CAST(doc_id AS VARCHAR),
            '@example.com or call +1-555-',
            lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) AS aug
        FROM documents),
      r AS (
        SELECT doc_id,
          CAST(len(regexp_extract_all(aug, '${GraftOps.EmailRe}')) AS INTEGER) AS n_emails,
          CAST(len(regexp_extract_all(aug, '${GraftOps.PhoneRe}', 2)) AS INTEGER) AS n_phones,
          regexp_replace(regexp_replace(aug, '${GraftOps.EmailRe}', '<EMAIL>', 'g'),
            '${GraftOps.PhoneRe}', '\\1<PHONE>\\5', 'g') AS redacted
        FROM a)
      SELECT doc_id, n_emails, n_phones,
        CAST(length(redacted) AS INTEGER) AS redacted_len,
        md5(redacted) AS redacted_md5
      FROM r
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q38
  /** Trigram repetition ratio (boilerplate signal): 1 − distinct/total
    * trigrams per document; distinct counted over the same 60-bit shingle
    * hashes the dedup family joins on. */
  val q38 = QueryDef("q38_repetition_score",
    (s, dir) =>
      GraftOps.repetitionScore(docs(s, dir), col("text"), width = 3)
        .select(col("doc_id"), col("n_ngrams"), col("n_uniq"), col("rep_ratio"))
        .orderBy("doc_id"),
    Some(s"""
      WITH t AS (SELECT doc_id, ${Duck.toks} AS toks FROM documents),
      s AS (
        SELECT doc_id,
          CAST(greatest(len(toks) - 2, 0) AS INTEGER) AS n_ngrams,
          CAST(len(list_distinct(list_transform(${Duck.shingles3},
            x -> ${Duck.ph("x")}))) AS INTEGER) AS n_uniq
        FROM t)
      SELECT doc_id, n_ngrams, n_uniq,
        CASE WHEN n_ngrams > 0
          THEN CAST(1 AS DOUBLE) - CAST(n_uniq AS DOUBLE) / CAST(n_ngrams AS DOUBLE)
          ELSE CAST(0 AS DOUBLE) END AS rep_ratio
      FROM s
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q42
  /** Concat-and-chunk sequence packing: per source, documents concatenate
    * in doc_id order and the token stream is cut every 1000 tokens; each
    * doc reports its stream offset and the bin its first token lands in.
    * Pure integer window math — bit-portable. */
  val q42 = QueryDef("q42_token_pack",
    (s, dir) => {
      val d = docs(s, dir)
        .withColumn("n_tokens", size(graft.functions.Text.tokens(col("text"))))
      GraftOps.packByTokenBudget(d, col("source"), col("doc_id"),
          col("n_tokens"), budget = 1000L)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("tok_offset"), col("bin"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id, source, CAST(len(${Duck.toks}) AS INTEGER) AS n_tokens
        FROM documents),
      o AS (
        SELECT doc_id, source, n_tokens,
          CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS tok_offset
        FROM t)
      SELECT doc_id, source, n_tokens, tok_offset,
        tok_offset // 1000 AS bin
      FROM o
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q43
  /** Fixed-size stratified sample: exactly 10 docs per source (the
    * fixture has 25/source, so the rank cut genuinely drops rows), ranked
    * by the portable hash of doc_id — the deterministic "N examples per
    * source" complement to q36's rate-based sampling. */
  val q43 = QueryDef("q43_stratified_fixed",
    (s, dir) =>
      GraftOps.stratifiedFixedSample(docs(s, dir), col("source"),
          col("doc_id"), n = 10)
        .select(col("doc_id"), col("source"), col("smp_rank"))
        .orderBy("doc_id"),
    Some(s"""
      SELECT doc_id, source, smp_rank FROM (
        SELECT doc_id, source,
          CAST(row_number() OVER (PARTITION BY source
            ORDER BY ${Duck.ph("'fix|' || CAST(doc_id AS VARCHAR)")}, doc_id)
            AS INTEGER) AS smp_rank
        FROM documents)
      WHERE smp_rank <= 10
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q44
  /** End-to-end curation COMPOSITION — the realistic pipeline chained as
    * one optimizer pass: near-dup apply (q16 pairs → clusters → anti-join)
    * → quality-score filter → deterministic stratified sample → token
    * packing. Every stage is individually oracle-checked (q41, q23, q36,
    * q42); this query proves they compose (window-over-anti-join,
    * filter-through-sample plan interactions) against a single DuckDB CTE
    * chain. The reference's R7 DAG is precisely operator composition
    * (OpContainer.java:92-150) — this is its batch-curation analogue.
    * Threshold 1.1 ≈ fixture median quality_score, so the filter
    * genuinely bisects; all doubles are integer-derived (portable). */
  val q44 = QueryDef("q44_curation_pipeline",
    (s, dir) => {
      val d = docs(s, dir)
      val deduped = GraftOps.applyDedup(d, col("doc_id"),
        GraftOps.minhashNearDup(d, col("doc_id"), col("text"),
          shingleWidth = 3, numHashes = 16, bands = 4, minMatches = 8),
        col("id_a"), col("id_b"))
      val filtered = GraftOps.textQuality(deduped, col("text"))
        .filter(col("quality_score") >= 1.1)
      val sampled = GraftOps.stratifiedSample(filtered, col("source"),
        col("doc_id"), smpRates, defaultPpm = 500000)
      GraftOps.packByTokenBudget(sampled, col("source"), col("doc_id"),
          col("n_tokens"), budget = 1000L)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("quality_score"), col("tok_offset"), col("bin"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH RECURSIVE ${Duck.minhashCtes},
      edges AS (
        SELECT doc_a AS a, doc_b AS b FROM mh_pairs
        UNION
        SELECT doc_b AS a, doc_a AS b FROM mh_pairs),
      reach AS (
        SELECT a AS src, b AS dst FROM edges
        UNION
        SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON e.a = r.dst),
      assign AS (
        SELECT LEAST(MIN(dst), src) AS survivor, src AS member
        FROM reach GROUP BY src),
      dedup AS (
        SELECT doc_id, source, text FROM documents
        WHERE doc_id NOT IN (SELECT member FROM assign WHERE member <> survivor)),
      dt AS (SELECT doc_id, source, ${Duck.toks} AS toks FROM dedup),
      feat AS (
        SELECT doc_id, source,
          CAST(len(toks) AS INTEGER) AS n_tokens,
          list_sum(list_transform(toks, tk -> length(tk))) AS sum_len,
          len(list_filter(toks, tk -> tk IN ('the', 'a', 'of', 'and'))) AS n_stop,
          len(list_distinct(toks)) AS n_distinct
        FROM dt),
      filt AS (
        SELECT * FROM (
          SELECT doc_id, source, n_tokens,
            (CAST(sum_len AS DOUBLE) / n_tokens) * 0.2
              + (CAST(n_distinct AS DOUBLE) / n_tokens) * 0.5
              - (CAST(n_stop AS DOUBLE) / n_tokens) * 0.3 AS quality_score
          FROM feat)
        WHERE quality_score >= 1.1),
      samp AS (
        SELECT * FROM filt
        WHERE ${Duck.ph("'smp|' || CAST(doc_id AS VARCHAR)")} % 1000000 <
          CASE WHEN source IN ('src0','src1','src2','src3','src4')
            THEN 200000 ELSE 500000 END),
      o AS (
        SELECT doc_id, source, n_tokens, quality_score,
          CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS tok_offset
        FROM samp)
      SELECT doc_id, source, n_tokens, quality_score, tok_offset,
        tok_offset // 1000 AS bin
      FROM o
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q45
  /** Benchmark decontamination: docs sharing doc_id % 10 == 0 play the
    * eval/benchmark set; every other doc is annotated with how many of
    * its distinct 3-gram shingles appear anywhere in the eval set
    * (width 3 because the fixture docs are short — the operator default
    * is the conventional 13). The count rides the same portable 60-bit
    * shingle hashes the dedup family joins on, so the oracle reuses
    * Duck.shingles3/ph verbatim. */
  val q45 = QueryDef("q45_decontaminate",
    (s, dir) => {
      val d = docs(s, dir)
      val evalSet = d.filter(pmod(col("doc_id"), lit(10)) === 0)
      val corpus = d.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      GraftOps.decontaminate(corpus, col("doc_id"), col("text"),
          evalSet, col("text"), width = 3)
        .select(col("doc_id"), col("n_contam"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, ${Duck.toks} AS toks FROM documents),
      dh AS (
        SELECT doc_id, ${Duck.ph("sh_raw")} AS sh
        FROM (SELECT doc_id, unnest(list_distinct(${Duck.shingles3})) AS sh_raw
              FROM t WHERE doc_id % 10 <> 0)),
      es AS (
        SELECT DISTINCT ${Duck.ph("sh_raw")} AS sh
        FROM (SELECT unnest(list_distinct(${Duck.shingles3})) AS sh_raw
              FROM t WHERE doc_id % 10 = 0)),
      ov AS (
        SELECT doc_id, COUNT(*) AS n_contam
        FROM dh JOIN es USING (sh) GROUP BY doc_id)
      SELECT d.doc_id, CAST(COALESCE(ov.n_contam, 0) AS BIGINT) AS n_contam
      FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d
      LEFT JOIN ov USING (doc_id)
      ORDER BY doc_id"""))

  // --------------------------------------------------------------- q149
  /** Benchmark-contamination evidence report — q45's decontamination
    * family COMPOSED into per-(doc, benchmark) adjudication rows:
    * shingle mass, distinct overlap, directional containment, and the
    * longest contiguous benchmark-window span (the ExactSubstr
    * evidence grain). Same fixture split as q45 (doc_id % 10 == 0 =
    * eval set), width 3 for the short fixture docs. Exercises
    * [[graft.api.GraftOps.contaminationReport]]. */
  val q149 = QueryDef("q149_contamination_report",
    (s, dir) => {
      val d = docs(s, dir)
      val evalSet = d.filter(pmod(col("doc_id"), lit(10)) === 0)
      val corpus = d.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      GraftOps.contaminationReport(corpus, col("doc_id"), col("text"),
          evalSet, col("doc_id"), col("text"), width = 3)
        .orderBy("doc_id", "bench_id")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, ${Duck.toks} AS toks FROM documents),
      b AS (
        SELECT doc_id AS bench_id, ${Duck.ph("sh_raw")} AS sh
        FROM (SELECT doc_id, unnest(list_distinct(${Duck.shingles3})) AS sh_raw
              FROM t WHERE doc_id % 10 = 0)),
      bs AS (SELECT bench_id, CAST(COUNT(*) AS BIGINT) AS n_bench_windows
             FROM b GROUP BY 1),
      dp AS (
        SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
          ${Duck.ph("array_to_string(list_slice(toks, i, i + 2), ' ')")} AS sh
        FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
              FROM t WHERE doc_id % 10 <> 0 AND len(toks) >= 3)),
      h AS (SELECT doc_id, bench_id, pos, sh FROM dp JOIN b USING (sh)),
      runs AS (
        SELECT doc_id, bench_id, pos,
          pos - row_number() OVER (PARTITION BY doc_id, bench_id
            ORDER BY pos) AS grp
        FROM (SELECT DISTINCT doc_id, bench_id, pos FROM h)),
      rl AS (SELECT doc_id, bench_id, CAST(COUNT(*) AS BIGINT) AS rlen
             FROM runs GROUP BY doc_id, bench_id, grp),
      mr AS (SELECT doc_id, bench_id, MAX(rlen) AS max_run
             FROM rl GROUP BY 1, 2),
      agg AS (
        SELECT doc_id, bench_id,
          CAST(COUNT(*) AS BIGINT) AS n_hits,
          CAST(COUNT(DISTINCT sh) AS BIGINT) AS n_overlap
        FROM h GROUP BY 1, 2)
      SELECT a.doc_id, a.bench_id, bs.n_bench_windows, a.n_hits,
        a.n_overlap,
        a.n_overlap * 1000000 // bs.n_bench_windows AS containment_ppm,
        CAST(mr.max_run + 2 AS BIGINT) AS max_span_tokens,
        CAST(CASE WHEN mr.max_run >= bs.n_bench_windows THEN 1 ELSE 0 END
          AS INTEGER) AS full_span
      FROM agg a JOIN bs USING (bench_id) JOIN mr USING (doc_id, bench_id)
      ORDER BY doc_id, bench_id"""))

  // ---------------------------------------------------------------- q69
  /** The bloom tier of q45: same annotate-overlap semantics, but docs with
    * doc_id % 7 == 0 play the eval set and the corpus side is pre-filtered
    * through the distributed-built bloom before the exact confirm join
    * ([[GraftOps.decontaminateBloom]]). The oracle is the EXACT overlap
    * count — the bloom is a pure pre-filter, so fpp never reaches the
    * answer; hash-matching this query proves the tier end-to-end. */
  val q69 = QueryDef("q69_decontaminate_bloom",
    (s, dir) => {
      val d = docs(s, dir)
      val evalSet = d.filter(pmod(col("doc_id"), lit(7)) === 0)
      val corpus = d.filter(pmod(col("doc_id"), lit(7)) =!= 0)
      GraftOps.decontaminateBloom(corpus, col("doc_id"), col("text"),
          evalSet, col("text"), width = 3,
          // fixture-scale bloom (128 KB): the gated docs table holds ~30k
          // distinct trigrams; the 1 MB default is sized for real eval sets
          expectedItems = 1L << 16, bloomBits = 1L << 20)
        .select(col("doc_id"), col("n_contam"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, ${Duck.toks} AS toks FROM documents),
      dh AS (
        SELECT doc_id, ${Duck.ph("sh_raw")} AS sh
        FROM (SELECT doc_id, unnest(list_distinct(${Duck.shingles3})) AS sh_raw
              FROM t WHERE doc_id % 7 <> 0)),
      es AS (
        SELECT DISTINCT ${Duck.ph("sh_raw")} AS sh
        FROM (SELECT unnest(list_distinct(${Duck.shingles3})) AS sh_raw
              FROM t WHERE doc_id % 7 = 0)),
      ov AS (
        SELECT doc_id, COUNT(*) AS n_contam
        FROM dh JOIN es USING (sh) GROUP BY doc_id)
      SELECT d.doc_id, CAST(COALESCE(ov.n_contam, 0) AS BIGINT) AS n_contam
      FROM (SELECT doc_id FROM documents WHERE doc_id % 7 <> 0) d
      LEFT JOIN ov USING (doc_id)
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q46
  /** Weighted epoch mixing: en down-weighted to 0.5 epochs, zh up-weighted
    * to 2.25, everything else 1.0 — the three regimes (down/pass/up) of
    * [[GraftOps.mixCorpus]] in one oracle-checked query. Integer-ppm
    * arithmetic end-to-end; copy fan-out decided by the portable hash of
    * doc_id, so both engines emit the identical multiset of copies. */
  private val mixWeights: Map[String, Long] =
    Map("en" -> 500000L, "zh" -> 2250000L)
  val q46 = QueryDef("q46_mix_epochs",
    (s, dir) =>
      GraftOps.mixCorpus(docs(s, dir), col("lang"), col("doc_id"),
          mixWeights, defaultPpm = 1000000L)
        .select(col("doc_id"), col("lang"), col("copy_idx"))
        .orderBy("doc_id", "copy_idx"),
    Some(s"""
      WITH w AS (
        SELECT doc_id, lang,
          CAST(CASE lang WHEN 'en' THEN 500000 WHEN 'zh' THEN 2250000
               ELSE 1000000 END AS BIGINT) AS wppm,
          ${Duck.ph("'mix|' || CAST(doc_id AS VARCHAR)")} % 1000000 AS bucket
        FROM documents),
      n AS (
        SELECT doc_id, lang,
          wppm // 1000000
            + CASE WHEN bucket < wppm % 1000000 THEN 1 ELSE 0 END AS n
        FROM w)
      SELECT doc_id, lang, copy_idx FROM (
        SELECT doc_id, lang,
          unnest(generate_series(1, n)) AS copy_idx
        FROM n WHERE n >= 1)
      ORDER BY doc_id, copy_idx"""))

  // ---------------------------------------------------------------- q47
  /** Deterministic shard-shuffle layout: 8 shards, seed 7. The checked
    * row is (shard, shuffle_key) per doc — i.e. the complete shuffled
    * write layout, reproducible on any engine. */
  val q47 = QueryDef("q47_shard_shuffle",
    (s, dir) =>
      GraftOps.shardCorpus(docs(s, dir), col("doc_id"), seed = 7, nShards = 8)
        .select(col("doc_id"), col("shard"), col("shuffle_key"))
        .orderBy("doc_id"),
    Some(s"""
      SELECT doc_id,
        CAST(${Duck.ph("'shard|7|' || CAST(doc_id AS VARCHAR)")} % 8 AS INTEGER) AS shard,
        ${Duck.ph("'ord|7|' || CAST(doc_id AS VARCHAR)")} AS shuffle_key
      FROM documents
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q54
  /** Mixture planning: per-source token budgeting with surfaced deficits.
    * Target shares in ppm of a 50k-token budget; keep-rates derived from
    * the same portable token counting as q42. The ratio math is plain
    * IEEE double division of exact long aggregates — hash-portable. */
  private val mixShares: Map[String, Int] =
    Map("src0" -> 300000, "src1" -> 200000, "src2" -> 100000)
  val q54 = QueryDef("q54_mixture_plan",
    (s, dir) => {
      val d = docs(s, dir)
        .withColumn("n_tokens", size(graft.functions.Text.tokens(col("text"))))
      GraftOps.mixtureRates(d, col("source"), col("n_tokens"),
          mixShares, defaultSharePpm = 40000, budgetTokens = 50000L)
        .orderBy("source")
    },
    Some(s"""
      WITH t AS (
        SELECT source, CAST(len(${Duck.toks}) AS BIGINT) AS n_tokens
        FROM documents),
      a AS (
        -- DuckDB SUM(BIGINT) widens to HUGEINT, which pandas materializes
        -- as float64 and the driver's hash then sees 1435.0 vs Spark's
        -- int64 1435 (round-7 gate red). CAST back to BIGINT so both
        -- engines emit the same dtype, not just the same value.
        SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
          CAST(CASE source WHEN 'src0' THEN 300000 WHEN 'src1' THEN 200000
               WHEN 'src2' THEN 100000 ELSE 40000 END AS BIGINT) AS share_ppm
        FROM t GROUP BY source),
      p AS (
        SELECT source, n_docs, total_tokens, share_ppm,
          CAST(floor(CAST(share_ppm AS DOUBLE) * 50000.0 / 1000000.0) AS BIGINT)
            AS target_tokens
        FROM a)
      SELECT source, n_docs, total_tokens, share_ppm, target_tokens,
        CASE WHEN total_tokens <= 0 THEN CAST(0 AS BIGINT) ELSE
          least(CAST(1000000 AS BIGINT),
            CAST(floor(CAST(target_tokens AS DOUBLE) * 1000000.0
              / CAST(total_tokens AS DOUBLE)) AS BIGINT)) END AS rate_ppm,
        CAST(greatest(CAST(0 AS BIGINT), target_tokens - total_tokens) AS BIGINT)
          AS deficit_tokens
      FROM p
      ORDER BY source"""))

  // ---------------------------------------------------------------- q55
  /** The apply half of mixture planning: the q54 plan joins back onto the
    * corpus (broadcast — |sources| rows) and a row survives iff its
    * independent `mixw|` portable-hash bucket clears its source's planned
    * rate. Plan + apply both hash-gated ⇒ the whole blending step is
    * oracle-proven end to end. */
  val q55 = QueryDef("q55_mixture_apply",
    (s, dir) => {
      val d = docs(s, dir)
        .withColumn("n_tokens", size(graft.functions.Text.tokens(col("text"))))
      val rates = GraftOps.mixtureRates(d, col("source"), col("n_tokens"),
        mixShares, defaultSharePpm = 40000, budgetTokens = 50000L)
      GraftOps.applyMixture(d, col("source"), col("doc_id"), rates)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id, source, CAST(len(${Duck.toks}) AS BIGINT) AS n_tokens
        FROM documents),
      a AS (
        SELECT source, SUM(n_tokens) AS total_tokens,
          CAST(CASE source WHEN 'src0' THEN 300000 WHEN 'src1' THEN 200000
               WHEN 'src2' THEN 100000 ELSE 40000 END AS BIGINT) AS share_ppm
        FROM t GROUP BY source),
      p AS (
        SELECT source,
          CASE WHEN total_tokens <= 0 THEN CAST(0 AS BIGINT) ELSE
            least(CAST(1000000 AS BIGINT),
              CAST(floor(CAST(CAST(floor(CAST(share_ppm AS DOUBLE) * 50000.0
                / 1000000.0) AS BIGINT) AS DOUBLE) * 1000000.0
                / CAST(total_tokens AS DOUBLE)) AS BIGINT)) END AS rate_ppm
        FROM a)
      SELECT doc_id, source
      FROM t JOIN p USING (source)
      WHERE ${Duck.ph("'mixw|' || CAST(doc_id AS VARCHAR)")} % 1000000 < rate_ppm
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q57
  /** Declarative validation: named row-level checks → violations array +
    * is_valid flag, all narrow. NULL check results count as violations
    * (an unevaluable constraint is a failed constraint — both engines
    * state this via coalesce(check, false)).
    *
    * The GATED row joins `violations` to one comma-separated string (the
    * q30 convention): the driver's canonicalizer sorts rows over all
    * columns and an array column is an unhashable numpy.ndarray there
    * (round-7 gate `err`). Declaration order is deterministic, so the
    * joined string is too; the operator API keeps the array form. */
  val q57 = QueryDef("q57_validate",
    (s, dir) => {
      val d = docs(s, dir)
        .withColumn("n_tokens", size(graft.functions.Text.tokens(col("text"))))
      GraftOps.withViolations(d, Seq(
          "nonempty" -> (length(trim(col("text"))) > 0),
          "lang_known" -> col("lang").isin("en", "zh", "de", "fr"),
          "tokens_cap" -> (col("n_tokens") <= 120),
          "id_positive" -> (col("doc_id") >= 0)))
        .select(col("doc_id"),
          array_join(col("violations"), ",").as("violations"), col("is_valid"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id, lang, text, CAST(len(${Duck.toks}) AS INTEGER) AS n_tokens
        FROM documents),
      v AS (
        SELECT doc_id,
          list_filter([
            CASE WHEN NOT coalesce(length(trim(text)) > 0, FALSE) THEN 'nonempty' END,
            CASE WHEN NOT coalesce(lang IN ('en','zh','de','fr'), FALSE) THEN 'lang_known' END,
            CASE WHEN NOT coalesce(n_tokens <= 120, FALSE) THEN 'tokens_cap' END,
            CASE WHEN NOT coalesce(doc_id >= 0, FALSE) THEN 'id_positive' END
          ], x -> x IS NOT NULL) AS violations
        FROM t)
      SELECT doc_id,
        coalesce(array_to_string(violations, ','), '') AS violations,
        len(violations) = 0 AS is_valid
      FROM v
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q59
  /** Score-quantile filtering: keep each source's docs at or above the
    * source's exact 0.7-quantile of token count (top ~30% by length,
    * threshold ties all kept). Spark `percentile` == DuckDB
    * `quantile_cont` — the q29-proven portability. */
  val q59 = QueryDef("q59_quantile_filter",
    (s, dir) => {
      val d = docs(s, dir)
        .withColumn("n_tokens", size(graft.functions.Text.tokens(col("text"))))
      GraftOps.topQuantileFilter(d, col("source"), col("n_tokens"), quantile = 0.7)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("q_threshold"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id, source, CAST(len(${Duck.toks}) AS INTEGER) AS n_tokens
        FROM documents),
      thr AS (
        SELECT source, quantile_cont(CAST(n_tokens AS DOUBLE), 0.7) AS q_threshold
        FROM t GROUP BY source)
      SELECT doc_id, source, n_tokens, q_threshold
      FROM t JOIN thr USING (source)
      WHERE CAST(n_tokens AS DOUBLE) >= q_threshold
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q63
  /** Deterministic train/val/test split assignment: every doc tagged
    * with the split whose cumulative ppm range its portable key-hash
    * bucket lands in — 90/5/4 with a deliberate 1% unassigned tail, so
    * the NULL-split (surfaced, never silently binned) contract is
    * hash-gated too. Membership is a pure function of doc_id: stable
    * under re-partitioning and corpus growth. */
  val q63 = QueryDef("q63_split_assign",
    (s, dir) =>
      GraftOps.assignSplits(docs(s, dir), col("doc_id"),
          Seq("train" -> 900000, "valid" -> 50000, "test" -> 40000))
        .select(col("doc_id"), col("source"), col("split"))
        .orderBy("doc_id"),
    Some(s"""
      SELECT doc_id, source,
        CASE WHEN bucket < 900000 THEN 'train'
             WHEN bucket < 950000 THEN 'valid'
             WHEN bucket < 990000 THEN 'test' END AS split
      FROM (SELECT doc_id, source,
        ${Duck.ph("'spl|' || CAST(doc_id AS VARCHAR)")} % 1000000 AS bucket
        FROM documents)
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q64
  /** The canonical post-split check, COMPOSED from q63 + q45: assign
    * train/valid/test splits, then count each train doc's distinct
    * 3-gram shingles that also appear anywhere in the test split — the
    * "did my split leak?" query every training pipeline runs after
    * splitting. Proves assignSplits composes with the decontamination
    * family under one optimizer pass; the oracle derives both sides
    * from the identical split CASE. */
  val q64 = QueryDef("q64_split_decontam",
    (s, dir) => {
      val tagged = GraftOps.assignSplits(docs(s, dir), col("doc_id"),
        Seq("train" -> 900000, "valid" -> 50000, "test" -> 40000))
      GraftOps.decontaminate(
          tagged.filter(col("split") === "train"), col("doc_id"), col("text"),
          tagged.filter(col("split") === "test"), col("text"), width = 3)
        .select(col("doc_id"), col("n_contam"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH b AS (SELECT doc_id, ${Duck.toks} AS toks,
          ${Duck.ph("'spl|' || CAST(doc_id AS VARCHAR)")} % 1000000 AS bucket
        FROM documents),
      dh AS (
        SELECT doc_id, ${Duck.ph("sh_raw")} AS sh
        FROM (SELECT doc_id, unnest(list_distinct(${Duck.shingles3})) AS sh_raw
              FROM b WHERE bucket < 900000)),
      es AS (
        SELECT DISTINCT ${Duck.ph("sh_raw")} AS sh
        FROM (SELECT unnest(list_distinct(${Duck.shingles3})) AS sh_raw
              FROM b WHERE bucket >= 950000 AND bucket < 990000)),
      ov AS (
        SELECT doc_id, COUNT(*) AS n_contam
        FROM dh JOIN es USING (sh) GROUP BY doc_id)
      SELECT d.doc_id, CAST(COALESCE(ov.n_contam, 0) AS BIGINT) AS n_contam
      FROM (SELECT doc_id FROM b WHERE bucket < 900000) d
      LEFT JOIN ov USING (doc_id)
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q65
  /** Snapshot diff between two deterministic corpus versions: v2 drops
    * every 7th doc (removed), suffixes every 5th's text (changed), and
    * appends shifted copies of the first 20 ids (added) — all four
    * statuses exercised and hash-gated; md5 content hashes agree across
    * engines byte-for-byte. */
  val q65 = QueryDef("q65_corpus_diff",
    (s, dir) => {
      val d = docs(s, dir)
      val v2 = d.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        .withColumn("text", when(pmod(col("doc_id"), lit(5)) === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .select(col("doc_id"), col("text"))
        .unionByName(d.filter(col("doc_id") < 20)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      GraftOps.corpusDiff(d, v2, col("doc_id"), col("doc_id"),
          col("text"), col("text"))
        .orderBy("key")
    },
    Some("""
      WITH v2 AS (
        SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
        FROM documents WHERE doc_id % 7 <> 0
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 20)
      SELECT COALESCE(o.doc_id, n.doc_id) AS key,
        CASE WHEN o.doc_id IS NULL THEN 'added'
             WHEN n.doc_id IS NULL THEN 'removed'
             WHEN md5(o.text) IS DISTINCT FROM md5(n.text) THEN 'changed'
             ELSE 'unchanged' END AS status
      FROM documents o FULL OUTER JOIN v2 n ON o.doc_id = n.doc_id
      ORDER BY key"""))

  // ---------------------------------------------------------------- q74
  /** Quality-weighted deterministic sampling: inclusion probability
    * scales with the document's own [[GraftOps.textQuality]] composite
    * (clamped into [0,1] as quality_score − 0.5), at a 60% base rate —
    * the "sample good documents more" curation step, fully reproducible
    * because membership is a pure function of (doc_id, weight). Composes
    * q23's scorer with [[GraftOps.weightedSample]]; zero shuffle. */
  val q74 = QueryDef("q74_weighted_sample",
    (s, dir) => {
      val scored = GraftOps.textQuality(docs(s, dir), col("text"))
        .withColumn("weight",
          greatest(lit(0.0), least(lit(1.0), col("quality_score") - 0.5)))
      GraftOps.weightedSample(scored, col("doc_id"), col("weight"),
          ratePpm = 600000, bucketCol = Some("bucket"))
        .select(col("doc_id"), col("weight"), col("bucket"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, ${Duck.toks} AS toks FROM documents),
      f AS (
        SELECT doc_id,
          CAST(len(toks) AS INTEGER) AS n_tokens,
          list_sum(list_transform(toks, tk -> length(tk))) AS sum_len,
          len(list_filter(toks, tk -> tk IN ('the', 'a', 'of', 'and'))) AS n_stop,
          len(list_distinct(toks)) AS n_distinct
        FROM t),
      q AS (
        SELECT doc_id,
          (CAST(sum_len AS DOUBLE) / n_tokens) * 0.2
            + (CAST(n_distinct AS DOUBLE) / n_tokens) * 0.5
            - (CAST(n_stop AS DOUBLE) / n_tokens) * 0.3 AS quality_score
        FROM f),
      w AS (
        SELECT doc_id,
          greatest(0.0, least(1.0, quality_score - 0.5)) AS weight,
          ${Duck.ph("'wsm|' || CAST(doc_id AS VARCHAR)")} % 1000000 AS bucket
        FROM q)
      SELECT doc_id, weight, bucket FROM w
      WHERE bucket < least(1000000, CAST(floor(weight * 600000.0) AS BIGINT))
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q78
  /** Weighted fixed-size sampling: 10 docs per source, inclusion odds
    * proportional to n_chars (longer docs likelier, count exact) —
    * priority sampling via rank = u/weight over the portable hash.
    * Exercises [[GraftOps.weightedFixedSample]]. */
  val q78 = QueryDef("q78_weighted_fixed",
    (s, dir) =>
      GraftOps.weightedFixedSample(docs(s, dir), col("source"),
          col("doc_id"), col("n_chars"), n = 10)
        .select(col("doc_id"), col("source"), col("n_chars"), col("smp_rank"))
        .orderBy("doc_id"),
    Some(s"""
      SELECT doc_id, source, n_chars, smp_rank FROM (
        SELECT doc_id, source, n_chars,
          CAST(row_number() OVER (PARTITION BY source ORDER BY
            (CAST((${Duck.ph("'wfx|' || CAST(doc_id AS VARCHAR)")} % 1000000) + 1 AS DOUBLE)
              / 1000000.0) / CAST(n_chars AS DOUBLE), doc_id)
            AS INTEGER) AS smp_rank
        FROM documents
        WHERE n_chars IS NOT NULL AND n_chars > 0)
      WHERE smp_rank <= 10
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q79
  /** Cross-source score calibration: each document's length score
    * replaced by its quantile rank WITHIN its source (percent_rank —
    * (rank−1)/(n−1), an exact integer ratio), so a single global
    * threshold means the same thing in every source. Exercises
    * [[GraftOps.quantileNormalize]]. */
  val q79 = QueryDef("q79_quantile_normalize",
    (s, dir) =>
      GraftOps.quantileNormalize(docs(s, dir), col("source"), col("n_chars"))
        .select(col("doc_id"), col("source"), col("n_chars"), col("qrank"))
        .orderBy("doc_id"),
    Some("""
      SELECT doc_id, source, n_chars,
        percent_rank() OVER (PARTITION BY source ORDER BY n_chars) AS qrank
      FROM documents WHERE n_chars IS NOT NULL
      UNION ALL
      SELECT doc_id, source, n_chars, CAST(NULL AS DOUBLE) AS qrank
      FROM documents WHERE n_chars IS NULL
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q80
  /** Corpus-audit histogram: document-length distribution per language,
    * 20 equi-width bins over [0, 2000) chars with edge-clamping (an
    * out-of-range spike shows AT the edge instead of vanishing).
    * Exercises [[GraftOps.histogram]]. */
  val q80 = QueryDef("q80_histogram",
    (s, dir) =>
      GraftOps.histogram(docs(s, dir), col("lang"), col("n_chars"),
          lo = 0.0, hi = 2000.0, nBins = 20)
        .withColumnRenamed("group", "lang")
        .orderBy("lang", "bin"),
    Some("""
      WITH b AS (
        SELECT lang,
          CAST(least(19, greatest(0,
            CAST(floor((CAST(n_chars AS DOUBLE) - 0.0) / 2000.0 * 20) AS INTEGER))) AS INTEGER) AS bin
        FROM documents WHERE n_chars IS NOT NULL)
      SELECT lang, bin,
        0.0 + CAST(bin AS DOUBLE) * 2000.0 / 20 AS bin_lo,
        0.0 + CAST(bin + 1 AS DOUBLE) * 2000.0 / 20 AS bin_hi,
        COUNT(*) AS n
      FROM b
      GROUP BY lang, bin
      ORDER BY lang, bin"""))

  // ---------------------------------------------------------------- q81
  /** Source-contribution report: exact char totals per source ranked
    * descending with integer-ppm share and running cumulative share —
    * "which sources make the top 90%". Exercises
    * [[GraftOps.contributionReport]]. */
  val q81 = QueryDef("q81_contribution",
    (s, dir) =>
      GraftOps.contributionReport(docs(s, dir), col("source"), col("n_chars"))
        .withColumnRenamed("group", "source")
        .orderBy("rank"),
    Some("""
      WITH t AS (
        SELECT source, CAST(SUM(n_chars) AS BIGINT) AS w
        FROM documents GROUP BY source),
      g AS (SELECT CAST(SUM(w) AS BIGINT) AS total FROM t)
      SELECT source, w,
        CAST(row_number() OVER (ORDER BY w DESC, source) AS INTEGER) AS rank,
        (w * 1000000) // total AS share_ppm,
        (CAST(SUM(w) OVER (ORDER BY w DESC, source
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          * 1000000) // total AS cum_ppm
      FROM t, g
      ORDER BY rank"""))

  // ---------------------------------------------------------------- q89
  private val Z_BITS = 12

  /** Z-order curve values over (l_orderkey, l_partkey) — the data-LAYOUT
    * primitive for multi-column min/max scan pruning (Delta/Iceberg
    * OPTIMIZE ZORDER as a plain column): min/max-normalize both keys to
    * 12 bits (exact integer div) and interleave. Every z-value of every
    * row hash-matches DuckDB — pure shifts/masks/integer division.
    * `GraftOps.zorderWrite` is the layout terminal that range-partitions
    * on this value (locality spec-measured: a box query touches ~4×
    * fewer files than a hash layout). */
  val q89 = QueryDef("q89_zorder_curve",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val Seq(xn, yn) = GraftOps.zorderNormalizeCols(li,
        Seq(col("l_orderkey") -> Z_BITS, col("l_partkey") -> Z_BITS),
        "q89_zorder_curve")
      li.select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
          GraftOps.zorderValue(xn, yn, Z_BITS).cast("bigint").as("zvalue"))
        .orderBy("zvalue", "l_orderkey", "l_linenumber")
    },
    Some(s"""
      WITH st AS (
        SELECT CAST(MIN(l_orderkey) AS BIGINT) AS xlo,
          CAST(MAX(l_orderkey) AS BIGINT) AS xhi,
          CAST(MIN(l_partkey) AS BIGINT) AS ylo,
          CAST(MAX(l_partkey) AS BIGINT) AS yhi
        FROM lineitem),
      n AS (
        SELECT l_orderkey, l_partkey, l_linenumber,
          ((CAST(l_orderkey AS BIGINT) - xlo) * ${(1 << Z_BITS) - 1})
            // GREATEST(xhi - xlo, 1) AS xn,
          ((CAST(l_partkey AS BIGINT) - ylo) * ${(1 << Z_BITS) - 1})
            // GREATEST(yhi - ylo, 1) AS yn
        FROM lineitem, st)
      SELECT l_orderkey, l_partkey, l_linenumber,
        CAST(list_sum(list_transform(range(0, $Z_BITS), i ->
          ((xn >> i) & 1) * (CAST(1 AS BIGINT) << (2 * CAST(i AS INTEGER))) +
          ((yn >> i) & 1) * (CAST(1 AS BIGINT) << (2 * CAST(i AS INTEGER) + 1))
        )) AS BIGINT) AS zvalue
      FROM n
      ORDER BY zvalue, l_orderkey, l_linenumber"""))

  // ---------------------------------------------------------------- q90
  /** One Hilbert level as CTE text: rx/ry from the CURRENT (hx, hy), the
    * distance increment s²·((3·rx) xor ry), then the quadrant
    * rotation+swap — exactly [[graft.functions.VectorOps.hilbertD]]'s
    * loop body, unrolled per level (new values computed under fresh
    * names in an inner projection so DuckDB's lateral column aliases
    * can't make an expression read a same-level result). */
  private def hilbertLevelSql(k: Int, s: Long): String = s"""
      h$k AS (
        SELECT l_orderkey, l_partkey, l_linenumber,
          nhd AS hd, nhx AS hx, nhy AS hy
        FROM (
          SELECT *,
            hd + ${s * s} * xor(3 * rx, ry) AS nhd,
            CASE WHEN ry = 1 THEN hx
                 ELSE CASE WHEN rx = 1 THEN ${s - 1} - hy ELSE hy END END AS nhx,
            CASE WHEN ry = 1 THEN hy
                 ELSE CASE WHEN rx = 1 THEN ${s - 1} - hx ELSE hx END END AS nhy
          FROM (
            SELECT *,
              CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END AS rx,
              CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END AS ry
            FROM h${k - 1})))"""

  /** Hilbert-curve values over the q89 normalization — the locality
    * upgrade whose consecutive positions are ALWAYS unit-adjacent cells
    * (spec-proven adjacency law; the Z curve jumps at power-of-two
    * seams). Every value of every row hash-matches DuckDB, whose oracle
    * unrolls the 12 per-level integer steps as CTEs. */
  val q90 = QueryDef("q90_hilbert_curve",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val Seq(xn, yn) = GraftOps.zorderNormalizeCols(li,
        Seq(col("l_orderkey") -> Z_BITS, col("l_partkey") -> Z_BITS),
        "q90_hilbert_curve")
      li.select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
          GraftOps.hilbertValue(xn, yn, Z_BITS).cast("bigint").as("hvalue"))
        .orderBy("hvalue", "l_orderkey", "l_linenumber")
    },
    Some(s"""
      WITH st AS (
        SELECT CAST(MIN(l_orderkey) AS BIGINT) AS xlo,
          CAST(MAX(l_orderkey) AS BIGINT) AS xhi,
          CAST(MIN(l_partkey) AS BIGINT) AS ylo,
          CAST(MAX(l_partkey) AS BIGINT) AS yhi
        FROM lineitem),
      h0 AS (
        SELECT l_orderkey, l_partkey, l_linenumber,
          CAST(0 AS BIGINT) AS hd,
          ((CAST(l_orderkey AS BIGINT) - xlo) * ${(1 << Z_BITS) - 1})
            // GREATEST(xhi - xlo, 1) AS hx,
          ((CAST(l_partkey AS BIGINT) - ylo) * ${(1 << Z_BITS) - 1})
            // GREATEST(yhi - ylo, 1) AS hy
        FROM lineitem, st),
      ${(1 to Z_BITS).map(k => hilbertLevelSql(k, 1L << (Z_BITS - k))).mkString(",\n      ")}
      SELECT l_orderkey, l_partkey, l_linenumber,
        CAST(hd AS BIGINT) AS hvalue
      FROM h$Z_BITS
      ORDER BY hvalue, l_orderkey, l_linenumber"""))

  // ---------------------------------------------------------------- q93
  private val Z3_BITS = 8
  /** The three lineitem keys of the k-column curves (q93, q94, q95). */
  private val Z3_KEYS = Seq("l_orderkey", "l_partkey", "l_suppkey")

  /** THREE-column z-order values (round 14 — the k-column generalization
    * real OPTIMIZE-ZORDER runs): (l_orderkey, l_partkey, l_suppkey)
    * normalized to 8 bits each and round-robin interleaved by
    * [[GraftOps.zorderValueN]] into a 24-bit curve value — bit i of
    * column j lands at position 3i + j. Every value of every row
    * hash-matches DuckDB (pure shifts/masks/integer division, the q89
    * proof extended to k = 3); `GraftOps.zorderWriteN` is the layout
    * terminal (3-D box pruning spec-measured). */
  val q93 = QueryDef("q93_zorder3_curve",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val normed = GraftOps.zorderNormalizeCols(li,
        Z3_KEYS.map(col(_) -> Z3_BITS), "q93_zorder3_curve")
      li.select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_linenumber"),
          GraftOps.zorderValueN(normed.map(_ -> Z3_BITS))
            .cast("bigint").as("zvalue"))
        .orderBy("zvalue", "l_orderkey", "l_linenumber")
    },
    Some(s"""
      WITH st AS (
        SELECT CAST(MIN(l_orderkey) AS BIGINT) AS xlo,
          CAST(MAX(l_orderkey) AS BIGINT) AS xhi,
          CAST(MIN(l_partkey) AS BIGINT) AS ylo,
          CAST(MAX(l_partkey) AS BIGINT) AS yhi,
          CAST(MIN(l_suppkey) AS BIGINT) AS zlo,
          CAST(MAX(l_suppkey) AS BIGINT) AS zhi
        FROM lineitem),
      n AS (
        SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
          ((CAST(l_orderkey AS BIGINT) - xlo) * ${(1 << Z3_BITS) - 1})
            // GREATEST(xhi - xlo, 1) AS xn,
          ((CAST(l_partkey AS BIGINT) - ylo) * ${(1 << Z3_BITS) - 1})
            // GREATEST(yhi - ylo, 1) AS yn,
          ((CAST(l_suppkey AS BIGINT) - zlo) * ${(1 << Z3_BITS) - 1})
            // GREATEST(zhi - zlo, 1) AS zn
        FROM lineitem, st)
      SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
        CAST(list_sum(list_transform(range(0, $Z3_BITS), i ->
          ((xn >> i) & 1) * (CAST(1 AS BIGINT) << (3 * CAST(i AS INTEGER))) +
          ((yn >> i) & 1) * (CAST(1 AS BIGINT) << (3 * CAST(i AS INTEGER) + 1)) +
          ((zn >> i) & 1) * (CAST(1 AS BIGINT) << (3 * CAST(i AS INTEGER) + 2))
        )) AS BIGINT) AS zvalue
      FROM n
      ORDER BY zvalue, l_orderkey, l_linenumber"""))

  // ---------------------------------------------------------------- q94
  /** Per-column bit widths for the mixed-width curve: keys of genuinely
    * different cardinality get proportional resolution (l_orderkey is
    * ~30× l_suppkey's range at any SF). */
  private val Z4_BITS = Seq(8, 6, 4)

  /** The PER-COLUMN-BITS face of the k-column z-order (round 14): three
    * keys at 8/6/4 bits round-robin-interleaved into an 18-bit value —
    * wide keys keep placing bits after narrow ones drop out, exactly
    * [[GraftOps.zorderValueN]]'s placement law. The oracle's interleave
    * terms are GENERATED by the same round-robin loop (each term a
    * literal shift), so both engines state the identical placement. */
  val q94 = QueryDef("q94_zorder_mixed",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val normed = GraftOps.zorderNormalizeCols(li,
        Z3_KEYS.map(col).zip(Z4_BITS), "q94_zorder_mixed").zip(Z4_BITS)
      li.select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_linenumber"),
          GraftOps.zorderValueN(normed).cast("bigint").as("zvalue"))
        .orderBy("zvalue", "l_orderkey", "l_linenumber")
    },
    Some {
      // mirror zorderValueN's round-robin placement as literal SQL terms
      val names = Seq("xn", "yn", "zn")
      var pos = 0
      val terms = for {
        i <- 0 until Z4_BITS.max
        j <- names.indices if i < Z4_BITS(j)
      } yield {
        val t = s"((${names(j)} >> $i) & 1) * (CAST(1 AS BIGINT) << $pos)"
        pos += 1
        t
      }
      s"""
      WITH st AS (
        SELECT CAST(MIN(l_orderkey) AS BIGINT) AS xlo,
          CAST(MAX(l_orderkey) AS BIGINT) AS xhi,
          CAST(MIN(l_partkey) AS BIGINT) AS ylo,
          CAST(MAX(l_partkey) AS BIGINT) AS yhi,
          CAST(MIN(l_suppkey) AS BIGINT) AS zlo,
          CAST(MAX(l_suppkey) AS BIGINT) AS zhi
        FROM lineitem),
      n AS (
        SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
          ((CAST(l_orderkey AS BIGINT) - xlo) * ${(1 << Z4_BITS(0)) - 1})
            // GREATEST(xhi - xlo, 1) AS xn,
          ((CAST(l_partkey AS BIGINT) - ylo) * ${(1 << Z4_BITS(1)) - 1})
            // GREATEST(yhi - ylo, 1) AS yn,
          ((CAST(l_suppkey AS BIGINT) - zlo) * ${(1 << Z4_BITS(2)) - 1})
            // GREATEST(zhi - zlo, 1) AS zn
        FROM lineitem, st)
      SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
        CAST(${terms.mkString(" + ")} AS BIGINT) AS zvalue
      FROM n
      ORDER BY zvalue, l_orderkey, l_linenumber"""
    })

  // ---------------------------------------------------------------- q95
  /** One compact-Hilbert level as CTE text — Hamilton's walk unrolled
    * the way [[hilbertLevelSql]] unrolls the 2-D classic walk: from the
    * carried (h, e, d) state, gather this level's coordinate bits,
    * transform into the walk frame (a 3-case rotate on d), gray-decode,
    * emit the gray-code-rank bits of the dimensions still LIVE at this
    * level (mask and its rotation are GENERATION-TIME literals), and
    * step the entry/direction state via the w-lookup tables. Every
    * constant (masks, rotations, entry/direction tables) is derived at
    * SQL-generation time from the same definitions the Scala walk uses. */
  private def chLevelSql(k: Int, i: Int, ms: Seq[Int]): String = {
    require(ms.size == 3,
      s"chLevelSql is generated for exactly 3 dimensions (xn/yn/zn gather, " +
        s"mod-3 rotations, n=3 entry/direction tables); got ${ms.size}")
    val mu = (0 until 3).filter(j => ms(j) > i).foldLeft(0)((a, j) => a | (1 << j))
    val muCount = Integer.bitCount(mu)
    def rotrI(x: Int, r: Int) = (((x >> (r % 3)) | (x << (3 - r % 3))) & 7)
    def rotrSql(ex: String, r: Int) = r % 3 match {
      case 0 => s"($ex)"
      case 1 => s"(((($ex) >> 1) | ((($ex) << 2) & 7)) & 7)"
      case _ => s"(((($ex) >> 2) | ((($ex) << 1) & 7)) & 7)"
    }
    def rotlSql(ex: String, r: Int) = rotrSql(ex, (3 - r % 3) % 3)
    def rankSql(muR: Int) = {
      val pos = (2 to 0 by -1).filter(j => ((muR >> j) & 1) != 0)
      pos.zipWithIndex.map { case (j, idx) =>
        s"(((w >> $j) & 1) << ${pos.length - 1 - idx})" }.mkString(" + ")
    }
    def caseD(f: Int => String) =
      s"(CASE d WHEN 0 THEN ${f(0)} WHEN 1 THEN ${f(1)} ELSE ${f(2)} END)"
    // entry/direction lookup tables for w in [0,8) — same definitions as
    // functions.VectorOps.compactHilbert (gc(2*floor((w-1)/2)); tsb rule)
    val entryTab = "(CASE w WHEN 3 THEN 3 WHEN 4 THEN 3 WHEN 5 THEN 6 " +
      "WHEN 6 THEN 6 WHEN 7 THEN 5 ELSE 0 END)"
    val dirTab = "(CASE w WHEN 0 THEN 0 WHEN 3 THEN 2 WHEN 4 THEN 2 " +
      "WHEN 7 THEN 0 ELSE 1 END)"
    val l = s"(((xn >> $i) & 1) + (((yn >> $i) & 1) << 1) + (((zn >> $i) & 1) << 2))"
    s"""
      c$k AS (
        SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, xn, yn, zn,
          h * ${1 << muCount} + ${caseD(d => rankSql(rotrI(mu, (d + 1) % 3)))} AS h,
          xor(e, ${caseD(d => rotlSql(entryTab, (d + 1) % 3))}) AS e,
          (d + $dirTab + 1) % 3 AS d
        FROM (
          SELECT *, xor(xor(t, t >> 1), t >> 2) & 7 AS w
          FROM (
            SELECT *, ${caseD(d => rotrSql(s"xor($l, e)", (d + 1) % 3))} AS t
            FROM c${k - 1})))"""
  }

  /** MIXED-WIDTH compact Hilbert values over three lineitem keys at
    * (8, 6, 4) bits — the q94 normalization under Hamilton's walk
    * instead of the z interleave, hash-gating `compactHilbertValue` end
    * to end: the oracle carries the walk state (h, e, d) through eight
    * unrolled levels whose masks, rotations, and lookup tables are all
    * generation-time literals derived from the SAME definitions as the
    * codegen'd Scala walk. Spec laws (bijectivity, order-preservation,
    * true-Hilbert-at-equal-widths) pin the semantics; this pins every
    * VALUE at the driver gate. */
  val q95 = QueryDef("q95_compact_hilbert",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val normed = GraftOps.zorderNormalizeCols(li,
        Z3_KEYS.map(col).zip(Z4_BITS), "q95_compact_hilbert").zip(Z4_BITS)
      li.select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_linenumber"),
          GraftOps.compactHilbertValue(normed).cast("bigint").as("hvalue"))
        .orderBy("hvalue", "l_orderkey", "l_linenumber")
    },
    Some(s"""
      WITH st AS (
        SELECT CAST(MIN(l_orderkey) AS BIGINT) AS xlo,
          CAST(MAX(l_orderkey) AS BIGINT) AS xhi,
          CAST(MIN(l_partkey) AS BIGINT) AS ylo,
          CAST(MAX(l_partkey) AS BIGINT) AS yhi,
          CAST(MIN(l_suppkey) AS BIGINT) AS zlo,
          CAST(MAX(l_suppkey) AS BIGINT) AS zhi
        FROM lineitem),
      c0 AS (
        SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
          CAST(0 AS BIGINT) AS h, 0 AS e, 0 AS d,
          ((CAST(l_orderkey AS BIGINT) - xlo) * ${(1 << Z4_BITS(0)) - 1})
            // GREATEST(xhi - xlo, 1) AS xn,
          ((CAST(l_partkey AS BIGINT) - ylo) * ${(1 << Z4_BITS(1)) - 1})
            // GREATEST(yhi - ylo, 1) AS yn,
          ((CAST(l_suppkey AS BIGINT) - zlo) * ${(1 << Z4_BITS(2)) - 1})
            // GREATEST(zhi - zlo, 1) AS zn
        FROM lineitem, st),
      ${(1 to Z4_BITS.max).map(k => chLevelSql(k, Z4_BITS.max - k, Z4_BITS))
        .mkString(",\n      ")}
      SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
        CAST(h AS BIGINT) AS hvalue
      FROM c${Z4_BITS.max}
      ORDER BY hvalue, l_orderkey, l_linenumber"""))

  // --------------------------------------------------------------- q100
  /** URL canonicalization dedup ([[graft.functions.UrlCanon]], codegen'd):
    * both engines synthesize the same messy URL per document (case noise,
    * :443, trailing slash, shuffled params, utm_/gclid tracking, #fragment
    * — every second doc pair differs in ALL of them but canonicalizes
    * identically), canonicalize with the SAME seven stated steps, and
    * roll up: one row per canonical URL with its raw-variant count and
    * keeper. The canonicalizer itself is hash-gated, step by step, at
    * sf0.01 and sf1. Zero-shuffle canon + one group-by. */
  val q100 = QueryDef("q100_url_canonical_dedup",
    (s, dir) => {
      val k = expr("doc_id div 2")
      val url = concat(
        lit("https://"),
        when(pmod(col("doc_id"), lit(2)) === 0, lit("SITE")).otherwise(lit("site")),
        pmod(k, lit(5)).cast("string"),
        lit(".Example.COM"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit(":443")).otherwise(lit("")),
        lit("/d/"), k.cast("string"),
        when(pmod(col("doc_id"), lit(2)) === 0, lit("/")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(2)) === 0,
          lit("?b=2&a=1&utm_source=x&gclid=1")).otherwise(lit("?a=1&b=2")),
        when(pmod(col("doc_id"), lit(5)) === 0, lit("#frag")).otherwise(lit("")))
      docs(s, dir).select(col("doc_id"), url.as("url"))
        .withColumn("canon_url", graft.functions.UrlCanon(col("url")))
        .groupBy(col("canon_url"))
        .agg(count(lit(1)).as("n_raw"), min(col("doc_id")).as("keeper_id"))
        .select(col("canon_url"),
          regexp_extract(col("canon_url"), "^[a-z]+://([^/?#]+)", 1).as("host"),
          col("n_raw"), col("keeper_id"))
        .orderBy("keeper_id")
    },
    Some("""
      WITH u0 AS (
        SELECT doc_id,
          concat('https://', CASE WHEN doc_id % 2 = 0 THEN 'SITE' ELSE 'site' END,
            CAST((doc_id // 2) % 5 AS VARCHAR), '.Example.COM',
            CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END,
            '/d/', CAST(doc_id // 2 AS VARCHAR),
            CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END,
            CASE WHEN doc_id % 2 = 0 THEN '?b=2&a=1&utm_source=x&gclid=1'
                 ELSE '?a=1&b=2' END,
            CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END) AS url
        FROM documents),
      p AS (
        SELECT doc_id,
          lower(regexp_extract(url, '^([^:/?#]+)://', 1)) AS sch,
          regexp_replace(url, '#.*$', '') AS rest
        FROM u0),
      q AS (
        SELECT doc_id, sch,
          lower(regexp_extract(rest, '^[^:/?#]+://([^/?#]*)', 1)) AS hostport,
          regexp_replace(regexp_extract(rest, '^[^:/?#]+://[^/?#]*([^?]*)', 1),
            '/+$', '') AS path,
          CASE WHEN contains(rest, '?')
            THEN regexp_extract(rest, '\?(.*)$', 1) ELSE NULL END AS qs
        FROM p),
      c AS (
        SELECT doc_id,
          concat(sch, '://',
            CASE WHEN sch = 'http' THEN regexp_replace(hostport, ':80$', '')
                 WHEN sch = 'https' THEN regexp_replace(hostport, ':443$', '')
                 ELSE hostport END,
            path,
            CASE WHEN qs IS NOT NULL AND len(list_filter(string_split(qs, '&'),
                x -> x <> '' AND NOT regexp_matches(lower(x),
                  '^(utm_[^=&]*|gclid|fbclid)(=|$)'))) > 0
              THEN concat('?', array_to_string(list_sort(list_filter(
                string_split(qs, '&'),
                x -> x <> '' AND NOT regexp_matches(lower(x),
                  '^(utm_[^=&]*|gclid|fbclid)(=|$)'))), '&'))
              ELSE '' END) AS canon_url
        FROM q)
      SELECT canon_url,
        regexp_extract(canon_url, '^[a-z]+://([^/?#]+)', 1) AS host,
        count(*) AS n_raw, min(doc_id) AS keeper_id
      FROM c GROUP BY canon_url ORDER BY keeper_id"""))

  // --------------------------------------------------------------- q105
  /** Per-event-type winsorization of `value` to the exact [p05, p95]
    * band: outlier capping (q73 scores, q59 drops — this CLAMPS and
    * keeps every row). In-band values pass through bit-identical;
    * group stats broadcast back, the corpus never shuffles on the
    * group key. */
  val q105 = QueryDef("q105_winsorize",
    (s, dir) =>
      graft.api.GraftOps.winsorize(
          Tables.load(s, dir, "events")
            .select(col("event_id"), col("event_type"), col("value")),
          col("event_type"), col("value"), pLo = 0.05, pHi = 0.95)
        .select(col("event_id"), col("event_type"), col("value"),
          col("clamped"))
        .orderBy("event_id"),
    Some("""
      WITH b AS (
        SELECT event_type,
          quantile_disc(value, 0.05) AS lo,
          quantile_disc(value, 0.95) AS hi
        FROM events GROUP BY event_type)
      SELECT e.event_id, e.event_type, e.value,
        CASE WHEN e.value < b.lo THEN b.lo
             WHEN e.value > b.hi THEN b.hi
             ELSE e.value END AS clamped
      FROM events e JOIN b USING (event_type)
      ORDER BY event_id"""))

  // --------------------------------------------------------------- q107
  /** Corpus drift between the two halves of the events month (split at
    * Jan 16): per-event-type counts, integer-ppm shares, share delta,
    * and the chi-square drift contribution quantized to micros — every
    * column integer-exact or a fixed-order IEEE chain, so the whole
    * drift report is hash-gated. Exercises [[GraftOps.corpusDrift]]. */
  val q107 = QueryDef("q107_corpus_drift",
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
      val split = expr("TIMESTAMP '2024-01-16 00:00:00'")
      GraftOps.corpusDrift(
          e.filter(col("ts") < split), e.filter(col("ts") >= split),
          col("event_type"))
        .withColumn("chi2_us", floor(col("chi2_contrib") * lit(1000000.0)))
        .drop("chi2_contrib")
        .orderBy("category")
    },
    Some("""
      WITH e AS (
        SELECT event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      b AS (SELECT event_type AS category, count(*) AS n_base FROM e
            WHERE ts < TIMESTAMP '2024-01-16 00:00:00' GROUP BY 1),
      c AS (SELECT event_type AS category, count(*) AS n_cur FROM e
            WHERE ts >= TIMESTAMP '2024-01-16 00:00:00' GROUP BY 1),
      j AS (SELECT COALESCE(b.category, c.category) AS category,
              COALESCE(n_base, 0) AS n_base, COALESCE(n_cur, 0) AS n_cur
            FROM b FULL OUTER JOIN c
              ON b.category IS NOT DISTINCT FROM c.category),
      t AS (SELECT CAST(SUM(n_base) AS BIGINT) AS tb,
                   CAST(SUM(n_cur) AS BIGINT) AS tc FROM j)
      SELECT category, n_base, n_cur,
        (n_base * 1000000) // tb AS base_ppm,
        (n_cur * 1000000) // tc AS cur_ppm,
        (n_cur * 1000000) // tc - (n_base * 1000000) // tb AS delta_ppm,
        CASE WHEN n_base > 0 THEN CAST(floor(
          (n_cur - CAST(tc AS DOUBLE) * n_base / tb)
          * (n_cur - CAST(tc AS DOUBLE) * n_base / tb)
          / (CAST(tc AS DOUBLE) * n_base / tb) * 1000000.0) AS BIGINT) END
          AS chi2_us
      FROM j, t
      ORDER BY category NULLS FIRST"""))

  // --------------------------------------------------------------- q108
  /** Link-graph authority over the documents corpus: two planted
    * deterministic out-links per doc ((id·7+1) mod m and (id·13+5)
    * mod m — both engines synthesize the same edge multiset, the
    * q99/q100 planted-structure idiom), then THREE full exact-integer
    * PageRank iterations. Every rank of every node hash-matches the
    * oracle's unrolled-CTE restatement — the float form could never be
    * gated (order-dependent inflow sums); the integer form is the
    * operator's portability contract. Exercises [[GraftOps.linkRank]]. */
  val q108 = QueryDef("q108_link_rank",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents").select(col("doc_id"))
      val m = d.agg(max("doc_id")).collect()(0).getLong(0) + 1
      val edges = d.select(col("doc_id").as("src"),
          ((col("doc_id") * 7 + 1) % m).as("dst"))
        .unionAll(d.select(col("doc_id").as("src"),
          ((col("doc_id") * 13 + 5) % m).as("dst")))
      GraftOps.linkRank(edges, col("src"), col("dst"), iterations = 3)
        .orderBy("node")
    },
    Some("""
      WITH d AS (SELECT doc_id FROM documents),
      mm AS (SELECT MAX(doc_id) + 1 AS m FROM d),
      e AS (SELECT doc_id AS src, (doc_id*7 + 1) % m AS dst FROM d, mm
            UNION ALL
            SELECT doc_id, (doc_id*13 + 5) % m FROM d, mm),
      nodes AS (SELECT DISTINCT node FROM
        (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
      nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
      p AS (SELECT n, 1000000000000 // n AS init,
        ((1000000000000 // n) * 150000) // 1000000 AS base FROM nn),
      od AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
             FROM e GROUP BY 1),
      -- every node of this fixture has out-edges (each doc_id is a src
      -- and dst values land on doc_ids), so the dangling mass is 0 in
      -- every iteration; the operator's dangling path is spec-pinned
      r0 AS (SELECT node, (SELECT init FROM p) AS rank FROM nodes),
      i1 AS (SELECT e.dst AS node, CAST(SUM(r0.rank // od.deg) AS BIGINT) AS f
             FROM e JOIN r0 ON e.src = r0.node JOIN od ON od.node = e.src
             GROUP BY 1),
      r1 AS (SELECT nodes.node, (SELECT base FROM p)
               + (850000 * COALESCE(i1.f, 0)) // 1000000 AS rank
             FROM nodes LEFT JOIN i1 USING (node)),
      i2 AS (SELECT e.dst AS node, CAST(SUM(r1.rank // od.deg) AS BIGINT) AS f
             FROM e JOIN r1 ON e.src = r1.node JOIN od ON od.node = e.src
             GROUP BY 1),
      r2 AS (SELECT nodes.node, (SELECT base FROM p)
               + (850000 * COALESCE(i2.f, 0)) // 1000000 AS rank
             FROM nodes LEFT JOIN i2 USING (node)),
      i3 AS (SELECT e.dst AS node, CAST(SUM(r2.rank // od.deg) AS BIGINT) AS f
             FROM e JOIN r2 ON e.src = r2.node JOIN od ON od.node = e.src
             GROUP BY 1),
      r3 AS (SELECT nodes.node, (SELECT base FROM p)
               + (850000 * COALESCE(i3.f, 0)) // 1000000 AS rank
             FROM nodes LEFT JOIN i3 USING (node))
      SELECT node, rank FROM r3 ORDER BY node"""))

  // --------------------------------------------------------------- q111
  /** Per-vertex triangle counts over a planted doc link graph: three
    * deterministic edge families per doc — ring (+1), chord (+2), and a
    * ×7 long-range link — so every consecutive triple closes a triangle
    * and the ×7 family adds irregular extras, self-loops (6i+1 ≡ 0 mod
    * m), and duplicate edges for the canonicalization path to eat. The
    * full (node, degree, n_tri) report is integer-exact and hash-gated
    * against the oracle's restatement of the same degree-ordered
    * orientation. Exercises [[GraftOps.triangleCounts]]. */
  val q111 = QueryDef("q111_triangle_counts",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents").select(col("doc_id"))
      val m = d.agg(max("doc_id")).collect()(0).getLong(0) + 1
      val edges =
        d.select(col("doc_id").as("src"), ((col("doc_id") + 1) % m).as("dst"))
          .unionAll(d.select(col("doc_id").as("src"),
            ((col("doc_id") + 2) % m).as("dst")))
          .unionAll(d.select(col("doc_id").as("src"),
            ((col("doc_id") * 7 + 1) % m).as("dst")))
      GraftOps.triangleCounts(edges, col("src"), col("dst"))
        .orderBy("node")
    },
    Some("""
      WITH d AS (SELECT doc_id FROM documents),
      mm AS (SELECT MAX(doc_id) + 1 AS m FROM d),
      raw AS (
        SELECT doc_id AS s, (doc_id + 1) % m AS t FROM d, mm
        UNION ALL SELECT doc_id, (doc_id + 2) % m FROM d, mm
        UNION ALL SELECT doc_id, (doc_id*7 + 1) % m FROM d, mm),
      und AS (SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
              FROM raw WHERE s <> t),
      -- node set from ALL endpoints (pre self-loop filter): a loop-only
      -- vertex surfaces as (node, 0, 0), matching the operator contract
      nodes AS (SELECT DISTINCT node FROM
        (SELECT s AS node FROM raw UNION ALL SELECT t FROM raw)),
      deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM
        (SELECT a AS node FROM und UNION ALL SELECT b FROM und) GROUP BY 1),
      o AS (SELECT
          CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS u,
          CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS v,
          CASE WHEN da < db OR (da = db AND a < b) THEN db ELSE da END AS dv
        FROM (SELECT a, b, x.degree AS da, y.degree AS db
              FROM und JOIN deg x ON x.node = a JOIN deg y ON y.node = b)),
      w AS (SELECT e1.u, e1.v AS v1, e2.v AS v2
            FROM o e1 JOIN o e2 ON e1.u = e2.u
              AND (e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v))),
      tri AS (SELECT w.u, w.v1, w.v2
              FROM w JOIN o ON o.u = w.v1 AND o.v = w.v2),
      pern AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM
        (SELECT u AS node FROM tri
         UNION ALL SELECT v1 FROM tri
         UNION ALL SELECT v2 FROM tri) GROUP BY 1)
      SELECT nodes.node, COALESCE(deg.degree, CAST(0 AS BIGINT)) AS degree,
        COALESCE(pern.n_tri, CAST(0 AS BIGINT)) AS n_tri
      FROM nodes LEFT JOIN deg USING (node) LEFT JOIN pern USING (node)
      ORDER BY node"""))

  // --------------------------------------------------------------- q139
  /** 6-core of a planted graph: a 40-clique (every doc_id < 40 pairwise
    * linked — the dense subgraph a link-farm audit hunts) over sparse
    * ring (+1) and hash (×7+1) edges whose vertices peel away over
    * several cascading rounds. The oracle restates exactly
    * [[graft.api.GraftOps.kCore]]'s `maxRounds` peels as unrolled
    * MATERIALIZED CTE blocks (the q108/q135 iterative precedent) —
    * sound against the EARLY-STOPPING operator because peeling is
    * idempotent at the fixpoint: extra oracle rounds are no-ops. */
  private def kcorePeelCtes(rounds: Int, k: Int): String =
    (1 to rounds).map { r =>
      s"""
      d$r AS (SELECT node, COUNT(*) AS degree FROM
        (SELECT a AS node FROM e${r - 1} UNION ALL SELECT b FROM e${r - 1})
        GROUP BY 1),
      k$r AS (SELECT node FROM d$r WHERE degree >= $k),
      e$r AS MATERIALIZED (
        SELECT a, b FROM e${r - 1}
        WHERE a IN (SELECT node FROM k$r) AND b IN (SELECT node FROM k$r))"""
    }.mkString(",")

  val q139 = QueryDef("q139_kcore",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents").select(col("doc_id"))
      val m = d.agg(max("doc_id")).collect()(0).getLong(0) + 1
      val clique = d.filter(col("doc_id") < 40)
        .select(col("doc_id").as("src"),
          explode(sequence(col("doc_id") + 1, lit(39L))).as("dst"))
        .filter(col("dst") > col("src") && col("dst") <= 39)
      val edges = d
        .select(col("doc_id").as("src"), ((col("doc_id") + 1) % m).as("dst"))
        .unionAll(d.select(col("doc_id").as("src"),
          ((col("doc_id") * 7 + 1) % m).as("dst")))
        .unionAll(clique)
      GraftOps.kCore(edges, col("src"), col("dst"), k = 6, maxRounds = 6)
        .orderBy("node")
    },
    Some(s"""
      WITH d AS (SELECT doc_id FROM documents),
      mm AS (SELECT MAX(doc_id) + 1 AS m FROM d),
      raw AS (
        SELECT doc_id AS s, (doc_id + 1) % m AS t FROM d, mm
        UNION ALL SELECT doc_id, (doc_id*7 + 1) % m FROM d, mm
        UNION ALL
        SELECT doc_id, unnest(range(doc_id + 1, 40)) FROM d
        WHERE doc_id < 40),
      e0 AS MATERIALIZED (
        SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
        FROM raw WHERE s <> t),
      ${kcorePeelCtes(6, 6)}
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM
        (SELECT a AS node FROM e6 UNION ALL SELECT b FROM e6)
      GROUP BY 1 ORDER BY node"""))

  // --------------------------------------------------------------- q143
  /** Release-governance audit of customer: quasi-identifiers (nation,
    * market segment), sensitive attribute = exact account-balance
    * cents; k = 10, l = 8. One summary row, all exact integers.
    * Exercises [[graft.api.GraftOps.kAnonymityReport]]. */
  val q143 = QueryDef("q143_k_anonymity",
    (s, dir) => {
      val c = Tables.load(s, dir, "customer")
      GraftOps.kAnonymityReport(c,
        Seq(col("c_nationkey"), col("c_mktsegment")),
        floor(col("c_acctbal") * lit(100)).cast("long"), k = 10, l = 8)
    },
    Some("""
      WITH g AS (
        SELECT c_nationkey, c_mktsegment, COUNT(*) AS n,
          COUNT(DISTINCT CAST(floor(c_acctbal * 100) AS BIGINT)) AS lv
        FROM customer GROUP BY 1, 2)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
        CAST(SUM(n) AS BIGINT) AS n_rows,
        CAST(SUM(CASE WHEN n < 10 THEN 1 ELSE 0 END) AS BIGINT) AS k_violations,
        CAST(SUM(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT) AS rows_at_risk,
        CAST(MIN(n) AS BIGINT) AS min_group_size,
        CAST(SUM(CASE WHEN lv < 8 THEN 1 ELSE 0 END) AS BIGINT) AS l_violations,
        CAST(MIN(lv) AS BIGINT) AS min_l
      FROM g"""))

  // --------------------------------------------------------------- q113
  /** Pearson correlation matrix of the four lineitem money/quantity
    * metrics per returnflag: doubles quantized to exact integer cents
    * (the portable floor(x·100) idiom), every moment sum exact in
    * decimal(38,0)/HUGEINT, the final ratio a three-op IEEE chain on
    * identically-rounded doubles, quantized to micros — the whole
    * profiling report hash-gates. Exercises [[GraftOps.corrMatrix]]. */
  private def corrPairSql(a: String, b: String): String = {
    // pairwise-complete like the operator: every stat counts only rows
    // where BOTH pair values are present (review r16 — the unfiltered
    // draft was faithful only because lineitem has no NULLs)
    val both = s"FILTER (WHERE v$a IS NOT NULL AND v$b IS NOT NULL)"
    def s(v: String) = s"SUM(CAST(v$v AS HUGEINT)) $both"
    def sp(x: String, y: String) =
      s"SUM(CAST(v$x AS HUGEINT) * CAST(v$y AS HUGEINT)) $both"
    s"""SELECT grp, '$a' AS col_a, '$b' AS col_b, n,
      CASE WHEN nh*sxx - sx*sx > 0 AND nh*syy - sy*sy > 0 THEN
        CAST(floor(CAST(nh*sxy - sx*sy AS DOUBLE)
          / (sqrt(CAST(nh*sxx - sx*sx AS DOUBLE))
             * sqrt(CAST(nh*syy - sy*sy AS DOUBLE))) * 1000000.0) AS BIGINT)
      END AS corr_us
    FROM (SELECT grp, CAST(COUNT(*) $both AS BIGINT) AS n,
            CAST(COUNT(*) $both AS HUGEINT) AS nh,
            ${s(a)} AS sx, ${s(b)} AS sy, ${sp(a, b)} AS sxy,
            ${sp(a, a)} AS sxx, ${sp(b, b)} AS syy
          FROM b GROUP BY grp)"""
  }

  val q113 = QueryDef("q113_corr_matrix",
    (s, dir) => {
      val l = Tables.load(s, dir, "lineitem")
      GraftOps.corrMatrix(l, col("l_returnflag"), Seq(
          "disc" -> floor(col("l_discount") * 100),
          "price" -> floor(col("l_extendedprice") * 100),
          "qty" -> floor(col("l_quantity") * 100),
          "tax" -> floor(col("l_tax") * 100)))
        .withColumn("corr_us", floor(col("corr") * lit(1000000.0)))
        .drop("corr")
        .orderBy("grp", "col_a", "col_b")
    },
    Some(s"""
      WITH b AS (SELECT l_returnflag AS grp,
        CAST(floor(l_discount*100) AS BIGINT) AS vdisc,
        CAST(floor(l_extendedprice*100) AS BIGINT) AS vprice,
        CAST(floor(l_quantity*100) AS BIGINT) AS vqty,
        CAST(floor(l_tax*100) AS BIGINT) AS vtax
      FROM lineitem)
      ${Seq("disc" -> "price", "disc" -> "qty", "disc" -> "tax",
            "price" -> "qty", "price" -> "tax", "qty" -> "tax")
        .map { case (a, b) => corrPairSql(a, b) }
        .mkString("", "\nUNION ALL\n", "")}
      ORDER BY grp, col_a, col_b"""))

  // --------------------------------------------------------------- q116
  /** Budgeted proportional sample: exactly 101 documents preserving the
    * language mix via largest-remainder quotas (101 is odd and coprime
    * to the lang counts, so the remainder seats genuinely exercise the
    * deterministic (rem desc, stratum asc) tie order). Every quota and
    * every sampled row id hash-gates. Exercises
    * [[GraftOps.sampleBudget]]. */
  val q116 = QueryDef("q116_budget_sample",
    (s, dir) =>
      GraftOps.sampleBudget(Tables.load(s, dir, "documents"),
          col("lang"), col("doc_id"), budget = 101L)
        .select(col("doc_id"), col("lang"), col("smp_rank"))
        .orderBy("doc_id"),
    Some(s"""
      WITH s AS (SELECT lang AS st, CAST(COUNT(*) AS BIGINT) AS n
                 FROM documents GROUP BY 1),
      t AS (SELECT st, n,
              CAST(SUM(n) OVER () AS BIGINT) AS nn FROM s),
      t2 AS (SELECT st, n, nn,
               (101 * n) // nn AS base, (101 * n) % nn AS rem FROM t),
      t3 AS (SELECT st, base, rem,
               101 - CAST(SUM(base) OVER () AS BIGINT) AS leftover,
               row_number() OVER (ORDER BY rem DESC, st ASC NULLS FIRST)
                 AS rk
             FROM t2),
      qta AS (SELECT st,
                base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS quota
              FROM t3),
      r AS (SELECT doc_id, lang,
              ${Duck.ph("'bud|' || CAST(doc_id AS VARCHAR)")} AS h
            FROM documents),
      rr AS (SELECT doc_id, lang,
               CAST(row_number() OVER (PARTITION BY lang
                 ORDER BY h, doc_id) AS INTEGER) AS smp_rank
             FROM r)
      SELECT rr.doc_id, rr.lang, rr.smp_rank
      FROM rr JOIN qta ON rr.lang IS NOT DISTINCT FROM qta.st
      WHERE rr.smp_rank <= qta.quota
      ORDER BY rr.doc_id"""))

  // --------------------------------------------------------------- q121
  /** Per-priority Pareto frontier of orders: the skyline of (latest
    * order date, lowest total price) — no order on the frontier is
    * beaten on BOTH axes by another order of its priority class. Pure
    * comparisons on stored values (no arithmetic), so doubles and
    * timestamps hash-gate as-is. Exercises
    * [[GraftOps.paretoFrontier]]. */
  val q121 = QueryDef("q121_pareto_frontier",
    (s, dir) =>
      GraftOps.paretoFrontier(Tables.load(s, dir, "orders"),
          col("o_orderpriority"), col("o_orderdate"), col("o_totalprice"),
          minimizeX = false, minimizeY = true)
        .select(col("group").as("priority"), col("x").as("odate"),
          col("y").as("price"))
        .orderBy("priority", "odate", "price"),
    Some("""
      WITH p AS (
        SELECT DISTINCT o_orderpriority AS priority, o_orderdate AS odate,
          o_totalprice AS price
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL),
      w AS (
        SELECT priority, odate, price,
          min(price) OVER (PARTITION BY priority
            ORDER BY odate DESC, price ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m
        FROM p)
      SELECT priority, odate, price FROM w
      WHERE m IS NULL OR price < m
      ORDER BY priority, odate, price"""))

  // --------------------------------------------------------------- q123
  /** Per-user value trend over the event log: x = event day index,
    * y = integer cents of `value` — every user's OLS slope/intercept
    * as exact micro-unit integers; users with all events on one day
    * surface with NULL line fields. Exercises
    * [[GraftOps.groupTrend]]. */
  val q123 = QueryDef("q123_group_trend",
    (s, dir) =>
      GraftOps.groupTrend(
          Tables.load(s, dir, "events").filter(col("value").isNotNull),
          col("user_id"),
          // FLOOR division via the pmod identity, not `div`: Spark div
          // truncates toward zero while DuckDB // floors, and a
          // pre-1970 timestamp has negative micros — (a - pmod(a, b))/b
          // equals DuckDB's floor semantics for every sign (review r16;
          // the q89 normalize precedent generalized off the
          // non-negative assumption)
          expr("(unix_micros(ts) - pmod(unix_micros(ts), 86400000000))" +
            " div 86400000000"),
          floor(col("value") * 100))
        .withColumnRenamed("key", "user_id")
        .orderBy("user_id"),
    Some("""
      WITH b AS (
        SELECT user_id,
          epoch_us(ts) // 86400000000 AS x,
          CAST(floor(value * 100) AS BIGINT) AS y
        -- ts IS NOT NULL: the operator drops NULL-x rows entirely, while
        -- an unfiltered count(*) would keep them in n (review r17)
        FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
      a AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n,
          SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
          SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
          SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
        FROM b GROUP BY 1),
      c AS (
        SELECT user_id, n,
          n * sxy - sx * sy AS num,
          sy * sxx - sx * sxy AS bnum,
          n * sxx - sx * sx AS den
        FROM a)
      SELECT user_id, n,
        CASE WHEN den > 0 THEN CAST(
          (CASE WHEN num < 0 THEN -1 ELSE 1 END) *
          ((abs(num) * 1000000) // den) AS BIGINT) END AS slope_us,
        CASE WHEN den > 0 THEN CAST(
          (CASE WHEN bnum < 0 THEN -1 ELSE 1 END) *
          ((abs(bnum) * 1000000) // den) AS BIGINT) END AS icept_us
      FROM c ORDER BY user_id"""))

  // --------------------------------------------------------------- q124
  /** Corpus subtree weights: each document filed under the 3-level
    * taxonomy source/lang/shard (shard = doc_id mod 10, synthesized
    * in-query like q100's URLs), rolled up to every ancestor prefix —
    * the crawl-balance report feeding per-subtree caps. Exercises
    * [[GraftOps.prefixRollup]]. */
  val q124 = QueryDef("q124_prefix_rollup",
    (s, dir) =>
      GraftOps.prefixRollup(
          Tables.load(s, dir, "documents").select(concat(
            col("source"), lit("/"), col("lang"), lit("/"),
            pmod(col("doc_id"), lit(10)).cast("string")).as("path")),
          col("path"), "/", maxDepth = 3)
        .orderBy("depth", "prefix"),
    Some("""
      WITH t AS (
        SELECT source || '/' || lang || '/' ||
          CAST(doc_id % 10 AS VARCHAR) AS path
        FROM documents),
      s AS (SELECT path, string_split(path, '/') AS segs FROM t),
      u AS (SELECT segs,
        unnest(generate_series(1, least(len(segs), 3))) AS d FROM s),
      e AS (
        SELECT array_to_string(segs[1:CAST(d AS INTEGER)], '/') AS prefix,
          CAST(d AS INTEGER) AS depth FROM u)
      SELECT prefix, depth, CAST(count(*) AS BIGINT) AS n
      FROM e GROUP BY 1, 2
      ORDER BY depth, prefix"""))

  // --------------------------------------------------------------- q127
  /** Novelty scoring: docs with doc_id % 5 == 0 play the reference
    * corpus; every other doc is scored by what fraction of its 3-gram
    * shingle OCCURRENCES appear nowhere in the reference (width 3 for
    * the short fixture docs, as q45). Occurrence-mass — a repeated
    * known shingle counts every time — with exact integer-ppm novelty.
    * Exercises [[GraftOps.noveltyScore]]. */
  val q127 = QueryDef("q127_novelty_score",
    (s, dir) => {
      val d = docs(s, dir)
      val ref = d.filter(pmod(col("doc_id"), lit(5)) === 0)
      val corpus = d.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      GraftOps.noveltyScore(corpus, col("doc_id"), col("text"),
          ref, col("text"), width = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, ${Duck.toks} AS toks FROM documents),
      dh AS (
        SELECT doc_id, ${Duck.ph("sh_raw")} AS sh
        FROM (SELECT doc_id, unnest(${Duck.shingles3}) AS sh_raw
              FROM t WHERE doc_id % 5 <> 0)),
      rv AS (
        SELECT DISTINCT ${Duck.ph("sh_raw")} AS sh
        FROM (SELECT unnest(list_distinct(${Duck.shingles3})) AS sh_raw
              FROM t WHERE doc_id % 5 = 0)),
      tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
              FROM dh GROUP BY 1),
      un AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_unseen
        FROM dh ANTI JOIN rv USING (sh) GROUP BY doc_id)
      SELECT d.doc_id,
        COALESCE(tot.n_shingles, 0) AS n_shingles,
        COALESCE(un.n_unseen, 0) AS n_unseen,
        CASE WHEN COALESCE(tot.n_shingles, 0) > 0 THEN
          (COALESCE(un.n_unseen, 0) * 1000000) // tot.n_shingles
        END AS novelty_ppm
      FROM (SELECT doc_id FROM documents WHERE doc_id % 5 <> 0) d
      LEFT JOIN tot USING (doc_id) LEFT JOIN un USING (doc_id)
      ORDER BY doc_id"""))

  // --------------------------------------------------------------- q130
  /** Lang × source association strength over the document corpus: the
    * full contingency grid (zero-observed cells included), chi² from
    * micros-quantized order-free contributions, Cramér's V as the
    * stated 4-op chain. Exercises
    * [[GraftOps.categoricalAssociation]]. */
  val q130 = QueryDef("q130_cat_association",
    (s, dir) =>
      GraftOps.categoricalAssociation(docs(s, dir), col("lang"),
          col("source"))
        .orderBy("n"),
    Some("""
      WITH cells AS (
        SELECT lang AS a, source AS b, CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2),
      ra AS (SELECT a, CAST(sum(n) AS BIGINT) AS na FROM cells GROUP BY 1),
      cb AS (SELECT b, CAST(sum(n) AS BIGINT) AS nb FROM cells GROUP BY 1),
      tot AS (SELECT CAST((SELECT count(*) FROM ra) AS BIGINT) AS r,
                     CAST((SELECT count(*) FROM cb) AS BIGINT) AS c,
                     CAST((SELECT sum(na) FROM ra) AS BIGINT) AS N),
      g AS (
        -- obs/tot_n, never n/N side by side: resolution is
        -- case-insensitive (both engines — the same collision bit the
        -- Spark side of this query and q116 before it)
        SELECT ra.na, cb.nb, COALESCE(cells.n, 0) AS obs,
          tot.N AS tot_n, tot.r AS r, tot.c AS c
        FROM ra CROSS JOIN cb CROSS JOIN tot
        LEFT JOIN cells ON ra.a IS NOT DISTINCT FROM cells.a
                       AND cb.b IS NOT DISTINCT FROM cells.b),
      x AS (
        SELECT tot_n, r, c,
          CAST(sum(CAST(floor((obs - e) * (obs - e) / e * 1000000.0)
            AS BIGINT)) AS BIGINT) AS chi2_us
        FROM (SELECT tot_n, r, c, obs,
              CAST(na AS DOUBLE) * nb / tot_n AS e FROM g)
        GROUP BY 1, 2, 3)
      SELECT tot_n AS n, r, c, chi2_us,
        CASE WHEN least(r, c) > 1 THEN
          CAST(floor(sqrt((CAST(chi2_us AS DOUBLE) / 1000000.0) /
            (CAST(tot_n AS DOUBLE) * (least(r, c) - 1))) * 1000000.0)
            AS BIGINT)
        END AS v_us
      FROM x ORDER BY n"""))

  // --------------------------------------------------------------- q131
  /** Variant lift over the event log: event types as variants,
    * "value > 50" as the success predicate, 'view' as control — exact
    * integer rates/diffs plus the pooled micros z-score as the stated
    * IEEE chain. Exercises [[GraftOps.proportionLift]]. */
  val q131 = QueryDef("q131_proportion_lift",
    (s, dir) =>
      GraftOps.proportionLift(Tables.load(s, dir, "events"),
          col("event_type"),
          col("value") > 50, baseline = "view")
        .withColumnRenamed("variant", "event_type")
        .orderBy("event_type"),
    Some("""
      WITH stats AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          CAST(count(*) FILTER (WHERE value > 50) AS BIGINT) AS k
        FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        GROUP BY 1),
      base AS (
        SELECT n AS n0, k AS k0 FROM stats WHERE event_type = 'view'),
      j AS (SELECT stats.*, base.n0, base.k0 FROM stats CROSS JOIN base)
      SELECT event_type, n, k, (k * 1000000) // n AS rate_ppm,
        CASE WHEN event_type <> 'view'
          THEN (k * 1000000) // n - (k0 * 1000000) // n0 END AS diff_ppm,
        CASE WHEN event_type <> 'view'
          AND CAST(k + k0 AS DOUBLE) / (n + n0) > 0
          AND CAST(k + k0 AS DOUBLE) / (n + n0) < 1
          THEN CAST(floor(
            (CAST(k AS DOUBLE) / n - CAST(k0 AS DOUBLE) / n0) /
            sqrt((CAST(k + k0 AS DOUBLE) / (n + n0)) *
              (1.0 - CAST(k + k0 AS DOUBLE) / (n + n0)) *
              (1.0 / n + 1.0 / n0)) * 1000000.0) AS BIGINT)
        END AS z_us
      FROM j ORDER BY event_type"""))

  // --------------------------------------------------------------- q160
  /** Model-calibration (reliability-diagram) report over the event log:
    * score = value/1000 (covers every fixture tier's value range), label =
    * purchase, 10 bins — per bin the exact integer (n, positives,
    * floor-micros score mass, positive-rate ppm). Bin assignment and
    * every output integer restate the identical IEEE/integer op chain
    * in both engines, so the whole diagram hash-gates. Exercises
    * [[GraftOps.calibrationReport]]. */
  val q160 = QueryDef("q160_calibration",
    (s, dir) =>
      GraftOps.calibrationReport(Tables.load(s, dir, "events"),
        col("value") / 1000.0, col("event_type") === "purchase",
        buckets = 10),
    Some("""
      -- the CASE mirrors the Spark side's raise_error on scores outside
      -- [0,1]: both engines must FAIL on an unnormalized fixture, not
      -- diverge (Spark aborting while the oracle buckets negatives)
      SELECT CASE WHEN value / 1000.0 BETWEEN 0 AND 1
          THEN CAST(LEAST(FLOOR((value / 1000.0) * 10), 9) AS INTEGER)
          ELSE error('q160: score outside [0,1]: ' || (value / 1000.0))
        END AS bucket,
        CAST(count(*) AS BIGINT) AS n,
        CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
          AS n_pos,
        CAST(SUM(CAST(FLOOR((value / 1000.0) * 1000000.0) AS BIGINT))
          AS BIGINT) AS sum_score_us,
        (CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
          * 1000000) // CAST(count(*) AS BIGINT) AS pos_ppm
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1 ORDER BY bucket"""))

  // --------------------------------------------------------------- q161
  /** Exact ROC-AUC of "value predicts purchase" over the event log —
    * the discrimination statistic completing the scorer-eval triplet
    * (q159 fit, q160 calibration): tie-aware Mann–Whitney from doubled
    * rank sums, every output an exact integer (u2/denom carried
    * exactly; auc_ppm = integer-division ppm), so the report
    * hash-gates. Exercises [[GraftOps.aucReport]]. */
  val q161 = QueryDef("q161_roc_auc",
    (s, dir) =>
      GraftOps.aucReport(Tables.load(s, dir, "events"),
        col("value"), col("event_type") === "purchase"),
    Some("""
      WITH b AS (
        SELECT value AS s, (event_type = 'purchase') AS p
        FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
      g AS (
        SELECT s, CAST(count(*) AS BIGINT) AS n,
          CAST(count(*) FILTER (WHERE p) AS BIGINT) AS np
        FROM b GROUP BY s),
      c AS (
        SELECT s, n, np,
          COALESCE(SUM(n) OVER (ORDER BY s
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            CAST(0 AS BIGINT)) AS cum
        FROM g),
      a AS (
        SELECT CAST(SUM(np * (2 * cum + n + 1)) AS BIGINT) AS sum2r,
          CAST(SUM(np) AS BIGINT) AS n_pos, CAST(SUM(n) AS BIGINT) AS n
        FROM c)
      SELECT n, n_pos, n - n_pos AS n_neg,
        CAST(sum2r - n_pos * (n_pos + 1) AS BIGINT) AS u2,
        CAST(2 * n_pos * (n - n_pos) AS BIGINT) AS denom,
        CAST(CAST(sum2r - n_pos * (n_pos + 1) AS HUGEINT) * 1000000
          // (2 * n_pos * (n - n_pos)) AS BIGINT) AS auc_ppm
      FROM a ORDER BY n"""))

  // -------------------------------------------------------------- q161b
  /** The floor-micros SCALE tier of q161 over genuinely fractional
    * scores (value/1000 — micro-quantization actually coarsens):
    * distinct window input bounded by the score range ×10⁶ by
    * construction, the identical FLOOR(s·10⁶) stated in both engines,
    * every output still an exact integer. Exercises
    * [[GraftOps.aucReportMicros]]; the bit-equality law with the exact
    * tier on already-quantized inputs is spec-pinned. */
  val q161b = QueryDef("q161b_auc_micros",
    (s, dir) =>
      GraftOps.aucReportMicros(Tables.load(s, dir, "events"),
        col("value") / 1000.0, col("event_type") === "purchase"),
    Some("""
      WITH b AS (
        SELECT CAST(FLOOR((value / 1000.0) * 1000000.0) AS BIGINT) AS s,
          (event_type = 'purchase') AS p
        FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
      g AS (
        SELECT s, CAST(count(*) AS BIGINT) AS n,
          CAST(count(*) FILTER (WHERE p) AS BIGINT) AS np
        FROM b GROUP BY s),
      c AS (
        SELECT s, n, np,
          COALESCE(SUM(n) OVER (ORDER BY s
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            CAST(0 AS BIGINT)) AS cum
        FROM g),
      a AS (
        SELECT CAST(SUM(np * (2 * cum + n + 1)) AS BIGINT) AS sum2r,
          CAST(SUM(np) AS BIGINT) AS n_pos, CAST(SUM(n) AS BIGINT) AS n
        FROM c)
      SELECT n, n_pos, n - n_pos AS n_neg,
        CAST(sum2r - n_pos * (n_pos + 1) AS BIGINT) AS u2,
        CAST(2 * n_pos * (n - n_pos) AS BIGINT) AS denom,
        CAST(CAST(sum2r - n_pos * (n_pos + 1) AS HUGEINT) * 1000000
          // (2 * n_pos * (n - n_pos)) AS BIGINT) AS auc_ppm
      FROM a ORDER BY n"""))

  // --------------------------------------------------------------- q162
  /** Exact tie-aware precision–recall curve + running average
    * precision of "value predicts purchase" — the rank-quality face
    * completing the scorer-eval family (q159 fit, q160 calibration,
    * q161 discrimination): one row per distinct score descending
    * (= every achievable retrieval cut), block-atomic tie handling,
    * every column an exact integer (per-block AP terms floored to ppm
    * in decimal(38,0) BEFORE summing, so the running `ap_ppm` is
    * order-independent; its last row is the report's AP). Exercises
    * [[GraftOps.prCurveReport]]. */
  val q162 = QueryDef("q162_pr_curve",
    (s, dir) =>
      GraftOps.prCurveReport(Tables.load(s, dir, "events"),
        col("value"), col("event_type") === "purchase"),
    Some("""
      WITH b AS (
        SELECT value AS s, (event_type = 'purchase') AS p
        FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
      g AS (
        SELECT s, CAST(count(*) AS BIGINT) AS n,
          CAST(count(*) FILTER (WHERE p) AS BIGINT) AS n_pos
        FROM b GROUP BY s),
      c AS (
        SELECT s, n, n_pos,
          CAST(SUM(n) OVER w AS BIGINT) AS cum_n,
          CAST(SUM(n_pos) OVER w AS BIGINT) AS cum_pos,
          CAST(SUM(n_pos) OVER () AS BIGINT) AS tot_pos
        FROM g
        WINDOW w AS (ORDER BY s DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      t AS (
        SELECT *, CAST(CAST(n_pos AS HUGEINT) * cum_pos * 1000000
            // (CAST(tot_pos AS HUGEINT) * cum_n) AS BIGINT) AS term
        FROM c)
      SELECT s, n, n_pos, cum_n, cum_pos,
        CAST(CAST(cum_pos AS HUGEINT) * 1000000 // cum_n AS BIGINT)
          AS prec_ppm,
        CAST(CAST(cum_pos AS HUGEINT) * 1000000 // tot_pos AS BIGINT)
          AS recall_ppm,
        CAST(SUM(term) OVER (ORDER BY s DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS ap_ppm
      FROM t ORDER BY s DESC"""))

  // --------------------------------------------------------------- q163
  /** Sliced ROC-AUC: one exact tie-aware AUC row per user segment
    * (user_id % 4) — the per-slice discrimination audit a mixture
    * decision reads (a global AUC hides an anti-correlated slice), and
    * the shape that DISTRIBUTES q161's value-scale window by
    * partitioning it on the slice. Exercises
    * [[GraftOps.aucReportBy]]. */
  val q163 = QueryDef("q163_auc_by_group",
    (s, dir) =>
      GraftOps.aucReportBy(Tables.load(s, dir, "events"),
        col("user_id") % 4, col("value"), col("event_type") === "purchase"),
    Some("""
      WITH b AS (
        SELECT user_id % 4 AS grp, value AS s, (event_type = 'purchase') AS p
        FROM events
        WHERE user_id IS NOT NULL AND value IS NOT NULL
          AND event_type IS NOT NULL),
      g AS (
        SELECT grp, s, CAST(count(*) AS BIGINT) AS n,
          CAST(count(*) FILTER (WHERE p) AS BIGINT) AS np
        FROM b GROUP BY grp, s),
      c AS (
        SELECT grp, s, n, np,
          COALESCE(SUM(n) OVER (PARTITION BY grp ORDER BY s
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            CAST(0 AS BIGINT)) AS cum
        FROM g),
      a AS (
        SELECT grp, CAST(SUM(np * (2 * cum + n + 1)) AS BIGINT) AS sum2r,
          CAST(SUM(np) AS BIGINT) AS n_pos, CAST(SUM(n) AS BIGINT) AS n
        FROM c GROUP BY grp)
      SELECT grp AS "group", n, n_pos, n - n_pos AS n_neg,
        CAST(sum2r - n_pos * (n_pos + 1) AS BIGINT) AS u2,
        CAST(2 * n_pos * (n - n_pos) AS BIGINT) AS denom,
        CAST(CAST(sum2r - n_pos * (n_pos + 1) AS HUGEINT) * 1000000
          // (2 * n_pos * (n - n_pos)) AS BIGINT) AS auc_ppm
      FROM a ORDER BY "group""""))

  // --------------------------------------------------------------- q164
  /** Sliced model-calibration report: the q160 reliability diagram per
    * user segment (user_id % 4) — per-slice calibration is the audit
    * that catches a scorer running systematically hot on one slice
    * while globally calibrated. Exercises
    * [[GraftOps.calibrationReportBy]]. */
  val q164 = QueryDef("q164_calibration_by_group",
    (s, dir) =>
      GraftOps.calibrationReportBy(Tables.load(s, dir, "events"),
        col("user_id") % 4, col("value") / 1000.0,
        col("event_type") === "purchase", buckets = 10),
    Some("""
      SELECT user_id % 4 AS "group",
        CASE WHEN value / 1000.0 BETWEEN 0 AND 1
          THEN CAST(LEAST(FLOOR((value / 1000.0) * 10), 9) AS INTEGER)
          ELSE error('q164: score outside [0,1]: ' || (value / 1000.0))
        END AS bucket,
        CAST(count(*) AS BIGINT) AS n,
        CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
          AS n_pos,
        CAST(SUM(CAST(FLOOR((value / 1000.0) * 1000000.0) AS BIGINT))
          AS BIGINT) AS sum_score_us,
        (CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
          * 1000000) // CAST(count(*) AS BIGINT) AS pos_ppm
      FROM events
      WHERE user_id IS NOT NULL AND value IS NOT NULL
        AND event_type IS NOT NULL
      GROUP BY 1, 2 ORDER BY "group", bucket"""))

  // --------------------------------------------------------------- q166
  /** Sliced PR curve on the micros tier: one exact tie-aware
    * precision–recall curve + running AP per user segment (user_id %
    * 4) over genuinely FRACTIONAL scores (value/1000, floor-micros
    * quantized — the q161b posture), completing the scorer-eval
    * family's symmetry (AUC has its sliced q163 + quantized q161b
    * faces, calibration its sliced q164; this is BOTH for the rank
    * face in one hash-gated query: every window partitionBy(group),
    * curve length bounded by the score range ×10⁶ per slice).
    * Exercises [[GraftOps.prCurveReportBy]] with quantizeMicros. */
  val q166 = QueryDef("q166_pr_by_group",
    (s, dir) =>
      GraftOps.prCurveReportBy(Tables.load(s, dir, "events"),
        col("user_id") % 4, col("value") / 1000.0,
        col("event_type") === "purchase", quantizeMicros = true),
    Some("""
      WITH b AS (
        SELECT user_id % 4 AS grp,
          CAST(FLOOR((value / 1000.0) * 1000000.0) AS BIGINT) AS s,
          (event_type = 'purchase') AS p
        FROM events
        WHERE user_id IS NOT NULL AND value IS NOT NULL
          AND event_type IS NOT NULL),
      g AS (
        SELECT grp, s, CAST(count(*) AS BIGINT) AS n,
          CAST(count(*) FILTER (WHERE p) AS BIGINT) AS n_pos
        FROM b GROUP BY grp, s),
      c AS (
        SELECT grp, s, n, n_pos,
          CAST(SUM(n) OVER w AS BIGINT) AS cum_n,
          CAST(SUM(n_pos) OVER w AS BIGINT) AS cum_pos,
          CAST(SUM(n_pos) OVER (PARTITION BY grp) AS BIGINT) AS tot_pos
        FROM g
        WINDOW w AS (PARTITION BY grp ORDER BY s DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      t AS (
        SELECT *, CAST(CAST(n_pos AS HUGEINT) * cum_pos * 1000000
            // (CAST(tot_pos AS HUGEINT) * cum_n) AS BIGINT) AS term
        FROM c)
      SELECT grp AS "group", s, n, n_pos, cum_n, cum_pos,
        CAST(CAST(cum_pos AS HUGEINT) * 1000000 // cum_n AS BIGINT)
          AS prec_ppm,
        CAST(CAST(cum_pos AS HUGEINT) * 1000000 // tot_pos AS BIGINT)
          AS recall_ppm,
        CAST(SUM(term) OVER (PARTITION BY grp ORDER BY s DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS ap_ppm
      FROM t ORDER BY "group", s DESC"""))

  // --------------------------------------------------------------- q133
  /** Distinctive vocabulary per source: top-5 overrepresented terms by
    * token-stream chi² keyness, micros-floored before ranking so the
    * ranking key is an integer. Exercises
    * [[GraftOps.classKeyTerms]]. */
  val q133 = QueryDef("q133_class_key_terms",
    (s, dir) =>
      GraftOps.classKeyTerms(docs(s, dir), col("source"), col("text"),
          topK = 5)
        .withColumnRenamed("group", "source")
        .orderBy("source", "rk"),
    Some(s"""
      WITH tok AS (
        SELECT g, token FROM (
          SELECT source AS g, unnest(${Duck.toks}) AS token
          FROM documents WHERE source IS NOT NULL) u
        WHERE token <> ''),
      tf AS (SELECT g, token, CAST(count(*) AS BIGINT) AS tf
             FROM tok GROUP BY 1, 2),
      ct AS (SELECT g, CAST(sum(tf) AS BIGINT) AS tc FROM tf GROUP BY 1),
      tt AS (SELECT token, CAST(sum(tf) AS BIGINT) AS tt
             FROM tf GROUP BY 1),
      nn AS (SELECT CAST(sum(tc) AS BIGINT) AS tot FROM ct),
      sc AS (
        SELECT tf.g, tf.token, tf.tf, ct.tc, tt.tt, nn.tot
        FROM tf JOIN ct USING (g) JOIN tt USING (token) CROSS JOIN nn
        WHERE CAST(tf.tf AS HUGEINT) * tot > CAST(tt.tt AS HUGEINT) * tc),
      x AS (
        SELECT g, token, tf,
          CAST(floor(CAST(tot AS DOUBLE) *
            (CAST(tf AS DOUBLE) * (tot - tt - tc + tf) -
             CAST(tt - tf AS DOUBLE) * (tc - tf)) *
            (CAST(tf AS DOUBLE) * (tot - tt - tc + tf) -
             CAST(tt - tf AS DOUBLE) * (tc - tf)) /
            (CAST(tt AS DOUBLE) * (tot - tt) * tc * (tot - tc)) *
            1000000.0) AS BIGINT) AS chi2_us
        FROM sc),
      r AS (
        SELECT g, token, tf, chi2_us,
          CAST(row_number() OVER (PARTITION BY g
            ORDER BY chi2_us DESC, token) AS INTEGER) AS rk
        FROM x)
      SELECT g AS source, token AS term, tf, chi2_us, rk
      FROM r WHERE rk <= 5
      ORDER BY source, rk"""))

  val all: Seq[QueryDef] =
    Seq(q35, q36, q37, q38, q42, q43, q44, q45, q46, q47, q54, q55, q57, q59,
      q63, q64, q65, q69, q74, q78, q79, q80, q81, q89, q90, q93, q94, q95,
      q100, q105, q107, q108, q111, q113, q116, q121, q123, q124, q127,
      q130, q131, q133, q139, q143, q149, q160, q161, q161b, q162, q163,
      q164, q166)
}

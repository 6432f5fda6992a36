package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import graft.functions.{CosineSim, Portable, Text}
/** text family: tokenization, retrieval (BM25/proximity/RBO/RRF), quality, splits, sampling, mixture, time-series smoothing — members of [[GraftOps]], split out of the former single
  * 6,600-line object (round 19) purely for maintainability: the trait
  * mixes back into `object GraftOps`, so every callsite, registry op,
  * and scaladoc link is untouched. The self-type makes members of the
  * other family traits visible exactly as before the split. */
private[api] trait TextApi { self: GraftOps.type =>

  // ------------------------------------------------------------- text

  /** Per-document text-quality features (integer-derived, deterministic).
    * All integer inputs come from one codegen'd TokenStats pass; the
    * ratios are single IEEE divides of those exact ints (portable). */
  def textQuality(df: DataFrame, text: Column,
      stopwords: Seq[String] = Seq("the", "a", "of", "and")): DataFrame = {
    df.withColumn("__ts",
        graft.functions.TokenStats.asColumn(Text.tokens(text), stopwords))
      .withColumn("n_tokens", col("__ts.n_tokens"))
      .withColumn("avg_token_len",
        col("__ts.sum_len").cast("double") / col("n_tokens"))
      .withColumn("stop_ratio",
        col("__ts.n_stop").cast("double") / col("n_tokens"))
      .withColumn("ttr", col("__ts.n_distinct").cast("double") / col("n_tokens"))
      .withColumn("quality_score",
        col("avg_token_len") * 0.2 + col("ttr") * 0.5 - col("stop_ratio") * 0.3)
      .drop("__ts")
  }

  /** Rule-battery document quality filter — the published pretraining
    * heuristics stated as per-rule flags plus the composite keep
    * decision, the explainable REPORT form a curation pipeline wants
    * (q122's lexicon density and q23's scalar score rank documents;
    * this one says WHICH rule a document failed, so thresholds can be
    * audited and re-tuned without re-deriving features):
    *
    *  - r_wordcount: word count within [minWords, maxWords]
    *  - r_meanlen:   mean word length within the ppm bounds
    *  - r_alpha:     ≥ minAlphaPpm of words contain a letter
    *  - r_sym:       symbol-to-word ratio ('#' chars + non-overlapping
    *                 '...' runs) ≤ maxSymPpm
    *  - r_toptok:    most frequent token's mass ≤ maxTopTokPpm
    *                 (repetition/boilerplate proxy)
    *  - r_stop:      ≥ minStops DISTINCT stopwords present
    *
    * Every statistic is an exact integer (counts, summed lengths) and
    * every rule a division-free ppm cross-multiply, so the full report
    * — counts, flags, keep — hash-gates (q138). NULL or empty text
    * yields n_words = 0 → every count rule fails → keep = false
    * (stated; a document with no content is not trainable signal).
    *
    * Scale shape: ONE narrow per-row projection over codegen'd array
    * folds — zero shuffle at any corpus size, the cheapest possible
    * filter tier (the top-token fold is O(distinct·n) per document —
    * document-scale work, never corpus-scale). */
  def qualityRules(df: DataFrame, id: Column, text: Column,
      minWords: Int = 20, maxWords: Int = 100000,
      minMeanLenPpm: Long = 3000000L, maxMeanLenPpm: Long = 10000000L,
      minAlphaPpm: Long = 800000L, maxSymPpm: Long = 100000L,
      maxTopTokPpm: Long = 200000L, minStops: Int = 2,
      stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in"))
      : DataFrame = {
    require(minWords >= 1 && maxWords >= minWords,
      s"need 1 <= minWords <= maxWords; got [$minWords, $maxWords]")
    require(Seq(minMeanLenPpm, maxMeanLenPpm, minAlphaPpm, maxSymPpm,
        maxTopTokPpm).forall(_ >= 0), "ppm thresholds must be >= 0")
    require(minStops >= 0 && stopwords.nonEmpty,
      "minStops must be >= 0 over a non-empty stopword set")
    val M = lit(1000000L)
    df.select(id.as("id"), text.as("__text"))
      .withColumn("__toks", coalesce(
        filter(Text.tokens(col("__text")), t => t =!= lit("")),
        array().cast("array<string>")))
      .withColumn("__norm", coalesce(Text.normText(col("__text")), lit("")))
      .withColumn("n_words", size(col("__toks")).cast("long"))
      .withColumn("sum_len", aggregate(col("__toks"), lit(0L),
        (acc, t) => acc + length(t).cast("long")))
      .withColumn("n_alpha",
        size(filter(col("__toks"), t => t.rlike("[a-z]"))).cast("long"))
      .withColumn("n_sym",
        (length(col("__norm")) -
          length(regexp_replace(col("__norm"), lit("#"), lit("")))).cast("long") +
        ((length(col("__norm")) -
          length(regexp_replace(col("__norm"), lit("\\.\\.\\."), lit("")))) /
          lit(3)).cast("long"))
      .withColumn("top_cnt", coalesce(
        array_max(transform(array_distinct(col("__toks")),
          t => size(filter(col("__toks"), x => x === t)).cast("long"))),
        lit(0L)))
      .withColumn("n_stop", size(array_intersect(array_distinct(col("__toks")),
        array(stopwords.map(lit): _*))).cast("long"))
      .withColumn("r_wordcount",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("r_meanlen", col("n_words") > 0 &&
        col("sum_len") * M >= col("n_words") * lit(minMeanLenPpm) &&
        col("sum_len") * M <= col("n_words") * lit(maxMeanLenPpm))
      .withColumn("r_alpha", col("n_words") > 0 &&
        col("n_alpha") * M >= col("n_words") * lit(minAlphaPpm))
      .withColumn("r_sym", col("n_words") > 0 &&
        col("n_sym") * M <= col("n_words") * lit(maxSymPpm))
      .withColumn("r_toptok", col("n_words") > 0 &&
        col("top_cnt") * M <= col("n_words") * lit(maxTopTokPpm))
      .withColumn("r_stop", col("n_stop") >= minStops)
      .withColumn("keep", col("r_wordcount") && col("r_meanlen") &&
        col("r_alpha") && col("r_sym") && col("r_toptok") && col("r_stop"))
      .select(col("id"), col("n_words"), col("sum_len"), col("n_alpha"),
        col("n_sym"), col("top_cnt"), col("n_stop"), col("r_wordcount"),
        col("r_meanlen"), col("r_alpha"), col("r_sym"), col("r_toptok"),
        col("r_stop"), col("keep"))
  }

  /** Exact positional phrase matching — the primitive behind BOTH
    * exact-phrase retrieval ("find every document containing this
    * quoted phrase") and benchmark-leakage auditing at phrase grain
    * (q45's shingle decontamination counts overlap mass; this pins the
    * exact contiguous token sequence): for every (document, phrase)
    * pair, the number of contiguous token-window matches, emitted only
    * when ≥ 1. Tokenization is the house canon (Text.tokens), so
    * "Table  SCAN" matches "table scan". Phrases ride as PLAN LITERALS
    * (a query list, not a corpus — the [[kmeansAssign]] baked-constant
    * posture), each match count is one codegen'd linear scan per row
    * ([[graft.functions.PhraseCount]] — the interpreted HOF window form
    * measured ~20× slower on the 5k-doc bench, per-window array
    * allocations; the q135 BpeSegment lesson again), and the whole
    * operator is a narrow projection + filter — ZERO shuffle at any
    * corpus size; the tail ORDER BY in a report is the only exchange.
    * Overlapping windows count (step-1 scan — "x x" occurs twice in
    * "x x x", spec-pinned). Counts are exact integers (hash-gates,
    * q142). Empty phrases are rejected loudly; NULL text yields no
    * rows (nothing can match). */
  def phraseMatch(df: DataFrame, id: Column, text: Column,
      phrases: Seq[Seq[String]]): DataFrame = {
    require(phrases.nonEmpty && phrases.forall(_.nonEmpty),
      "phrases must be a non-empty list of non-empty token sequences")
    // Phrase tokens go through the SAME canon as the document side
    // (Text.tokens = lower/trim) — a caller's Seq("Table", "SCAN") must
    // match "table scan" as the scaladoc promises, not silently match
    // nothing because the document tokens are lowercased and the baked
    // literals were not (r17 ADVICE). A token the canon would SPLIT
    // (internal whitespace) can never equal one document token, so it
    // is rejected loudly rather than baked as an unmatchable literal.
    val canon = phrases.map(_.map(_.trim.toLowerCase(java.util.Locale.ROOT)))
    require(canon.forall(_.forall(_.nonEmpty)),
      "phrase tokens must be non-empty strings")
    require(canon.forall(_.forall(t => !t.exists(_.isWhitespace))),
      "phrase tokens must be single tokens (no internal whitespace) — " +
        "split multi-word phrases into one token per element")
    val toks = Text.tokens(text)
    val perPhrase = canon.map { p =>
      val n = coalesce(
        graft.functions.PhraseCount.asColumn(toks, p), lit(0L))
      struct(lit(p.mkString(" ")).as("phrase"), n.as("n_matches"))
    }
    df.select(id.as("id"), explode(array(perPhrase: _*)).as("__m"))
      .select(col("id"), col("__m.phrase").as("phrase"),
        col("__m.n_matches").as("n_matches"))
      .filter(col("n_matches") > 0)
  }

  /** Order-sensitive rolling-hash document fingerprint. */
  def fingerprint(df: DataFrame, text: Column): DataFrame =
    df.withColumn("fingerprint",
      graft.functions.RollingFingerprint(Text.tokens(text)))

  /** Top-`k` TF-IDF terms per document. The idf factor is the exact
    * rational `n_docs / df` (one IEEE divide — portable), not `log(N/df)`
    * (libm, not bit-portable): same ranking monotonicity for fixed tf.
    * Plan shape: explode → (doc,term) count → term df (map-side combined)
    * joined back on term (AQE broadcasts the df table when small) → one
    * ranking window per doc. No driver-side state; `n_docs` rides along
    * as a broadcast 1-row cross join. */
  def tfidfTopK(df: DataFrame, id: Column, text: Column, k: Int): DataFrame = {
    val tok = df.select(id.as("__id"), explode(Text.tokens(text)).as("token"))
      .filter(col("token") =!= "")
    val tf = tok.groupBy(col("__id"), col("token")).agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val total = df.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("__id")).orderBy(desc("tfidf"), col("token"))
    tf.join(dft, "token")
      .crossJoin(broadcast(total))
      .withColumn("tfidf",
        (col("tf") * col("n_docs")).cast("double") / col("df").cast("double"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("__id").as("id"), col("token"), col("tf"), col("df"),
        col("tfidf"), col("rk"))
  }

  /** Per-class keyness — the corpus-linguistics answer to "what
    * vocabulary CHARACTERIZES each class" (distinctive terms per
    * source/language/cluster, the readable face of a quality or
    * contamination audit): for every (class, term), the 2×2 chi² of
    * token-occurrence vs class membership over the token stream
    * (a = tf(t,c), margins = term total, class total, grand total),
    * keeping only OVERREPRESENTED terms (a·N > tt·tc — an
    * underrepresented term is the other classes' keyword, not this
    * one's), ranked top-`topK` per class by (chi2_us desc, term asc).
    *
    * Portability: counts are exact integers; the overrepresentation
    * test compares decimal(38,0)/HUGEINT products (a·N overflows LONG
    * at corpus scale); chi² uses the 2×2 shortcut
    * N·(ad − bc)²/(tt·(N−tt)·tc·(N−tc)) as ONE stated IEEE chain on
    * exact integer inputs, micros-floored BEFORE ranking so the
    * ranking key itself is an integer. Degenerate margins (tt = N or
    * tc = N) can never pass the strict overrepresentation test, so
    * the denominator is never zero on kept rows.
    *
    * Plan: tokens explode NARROWLY, one agg to (class, term) grain
    * (the corpus's only token-grain shuffle), margins as catalog
    * aggs of the tf table, 1-row grand total broadcast, one window
    * per class over the CATALOG-sized scored table. Output: (group,
    * term, tf, chi2_us, rk). */
  def classKeyTerms(df: DataFrame, classCol: Column, text: Column,
      topK: Int): DataFrame = {
    require(topK >= 1, s"topK must be >= 1; got $topK")
    val tok = df.filter(classCol.isNotNull)
      .select(classCol.as("__cl"), explode(Text.tokens(text)).as("term"))
      .filter(col("term") =!= "")
    val tf = tok.groupBy(col("__cl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val classTot = tf.groupBy(col("__cl")).agg(sum(col("tf")).as("__tc"))
    val termTot = tf.groupBy(col("term")).agg(sum(col("tf")).as("__tt"))
    val grand = classTot.agg(sum(col("__tc")).as("__tot"))
    val w = Window.partitionBy(col("__cl"))
      .orderBy(desc("chi2_us"), col("term"))
    tf.join(classTot, Seq("__cl")).join(termTot, Seq("term"))
      .crossJoin(broadcast(grand))
      .filter(expr("CAST(tf AS decimal(38,0)) * __tot >" +
        " CAST(__tt AS decimal(38,0)) * __tc"))
      .withColumn("__d", col("__tot") - col("__tt") - col("__tc") +
        col("tf"))
      .withColumn("__diff", col("tf").cast("double") * col("__d") -
        (col("__tt") - col("tf")).cast("double") *
        (col("__tc") - col("tf")))
      .withColumn("chi2_us", floor(
        col("__tot").cast("double") * col("__diff") * col("__diff") /
          (col("__tt").cast("double") * (col("__tot") - col("__tt")) *
            col("__tc") * (col("__tot") - col("__tc"))) *
          lit(1000000.0)).cast("long"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("__cl").as("group"), col("term"), col("tf"),
        col("chi2_us"), col("rk"))
  }

  /** BM25-style full-text retrieval: top-`k` documents per query by the
    * Okapi relevance function, with the ONE substitution that makes the
    * whole score hash-portable across engines: the idf factor is the
    * RAW Robertson–Spärck Jones odds ratio (N − df + ½)/(df + ½) —
    * stated as the exact-integer ratio (2(N−df)+1)/(2df+1) — instead of
    * its logarithm (libm, never bit-portable; the ratio is strictly
    * monotone in df, so per-term orderings are preserved — absolute
    * scores are on a different scale than textbook BM25, rankings of
    * single-term queries identical; multi-term mixes weigh rare terms
    * harder, the documented contract). k1/b arrive as ppm integers and
    * become doubles via one stated division each; every remaining step
    * is a fixed-order IEEE chain, and the per-(query, doc) term sum is
    * a left fold in term order — never a float SUM aggregate, whose
    * addend order is engine-dependent. q112 hash-gates rank AND
    * micros-quantized score end to end.
    *
    * Semantics: tf = term count in doc, dl = doc token count, both over
    * non-empty tokens; N and total-token count over docs with ≥ 1
    * token (empty docs are outside the collection — they can never
    * match); NULL-id docs are outside the collection ENTIRELY — they
    * can never be returned, so they shape no corpus statistic either
    * (r22: the q112/q115/q158 oracle CTE states the same filter);
    * duplicate query terms count once; query terms absent from
    * the corpus contribute nothing; a query with no surviving terms
    * emits no rows. Ties break (score desc, doc_id asc), exact.
    *
    * Plan: query terms are one [[queryTerms]] snapshot (one eager job);
    * posting list tf/dl/df aggregates (map-side combined, keyed
    * by (doc, term) / doc / term — the tfidfTopK shapes); corpus stats
    * are ONE 1-row aggregate crossJoin-broadcast back (no driver
    * collect); candidates = query-terms ⋈ posting on term — the
    * inverted-index retrieval cost Σ_t df(t)·q(t), never |docs|×|queries|;
    * per-(query, doc) agg + per-query top-k window both shuffle
    * candidate-sized data only. A stopword-heavy query term is one hot
    * key — AQE skew-split, or pre-drop stopwords from queries (the
    * dfCapPosting contract applied query-side). */
  def bm25TopK(docs: DataFrame, id: Column, text: Column,
      queries: DataFrame, qid: Column, qtext: Column, k: Int,
      k1Ppm: Long = 1200000L, bPpm: Long = 750000L): DataFrame = {
    require(k >= 1, s"k must be >= 1; got $k")
    require(k1Ppm >= 0, s"k1Ppm must be >= 0; got $k1Ppm")
    require(bPpm >= 0 && bPpm <= 1000000,
      s"bPpm must be in [0, 1000000]; got $bPpm")
    val k1 = k1Ppm.toDouble / 1000000.0
    val b = bPpm.toDouble / 1000000.0
    // NULL doc ids drop up front (r21): a doc that can never be returned
    // should not shape the corpus statistics either — and the explicit
    // base filter makes the tf/dl/df/st subtrees CANONICALLY IDENTICAL,
    // so ReuseExchange collapses what used to be four separate
    // scan+tokenize+partial-agg passes over the corpus into ONE (the
    // join-inferred isnotnull(__doc) used to appear on only two of the
    // four branches, defeating exchange reuse — guide §2.4).
    val tok = docs.filter(id.isNotNull)
      .select(id.as("__doc"), explode(Text.tokens(text)).as("__t"))
      .filter(col("__t") =!= "")
    val tf = tok.groupBy(col("__doc"), col("__t")).agg(count(lit(1)).as("__tf"))
    // dl = Σ tf per doc — exactly the token count, but aggregated from
    // the (far smaller) posting list, whose exchange the plan reuses,
    // instead of a second pass over the raw token stream
    val dl = tf.groupBy(col("__doc")).agg(sum("__tf").as("__dl"))
    val st = dl.agg(count(lit(1)).as("__n"), sum("__dl").as("__tot"))
    // df = rows of tf per term. The `__tf >= 1` predicate is a tautology
    // (count(*) of a present group is >= 1) kept ONLY so column pruning
    // does not strip __tf from this branch and rewrite it into a separate
    // distinct pass: with __tf alive, the subtree below the (doc, term)
    // exchange is canonically identical to tf's and ReuseExchange serves
    // df from the SAME shuffle files (one corpus pass, guide §2.4).
    val dfreq = tf.filter(col("__tf") >= 1)
      .groupBy(col("__t")).agg(count(lit(1)).as("__df"))
    Checkpoints.scoped { cp =>
      val (qtr, rMax, _) = queryTerms(cp, queries, qid, qtext)
      val cand = qtr.join(tf, "__t").join(dfreq, "__t")
        .join(dl, "__doc")
        .crossJoin(broadcast(st))
        .withColumn("__x",
          (col("__dl") * col("__n")).cast("double") / col("__tot").cast("double"))
        .withColumn("__idf",
          ((col("__n") - col("__df")) * 2 + 1).cast("double") /
            (col("__df") * 2 + 1).cast("double"))
        .withColumn("__tfp",
          (col("__tf") * lit(k1 + 1.0)) /
            (col("__tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("__x"))))
        .withColumn("__c", col("__idf") * col("__tfp"))
      val w = Window.partitionBy(col("__q")).orderBy(desc("score"), col("__doc"))
      // Per-(query, doc) term fold, slot form (r21): one codegen'd
      // conditional SUM per term rank plus a left-to-right
      // `coalesce(s_r, 0.0)` fold, in place of the sorted-list fold
      // (ObjectHashAggregate collect_list + sort_array + aggregate —
      // object mode, no codegen). Bitwise equal to the list fold: each
      // slot sum covers at most ONE row (term ranks are unique per
      // query), slot order is term order, every __c is a positive finite
      // double, and x + 0.0 == x exactly in IEEE — an absent slot is the
      // identity. rMax is read from the snapshot the candidates join, so
      // every rank has its slot; a query with > 256 distinct terms falls
      // back to the list fold rather than exploding the plan.
      val scored =
        if (rMax >= 1 && rMax <= 256) {
          val slots = (1 to rMax).map(r =>
            sum(when(col("__r") === r, col("__c"))).as(s"__s$r"))
          cand.groupBy(col("__q"), col("__doc"))
            .agg(slots.head, slots.tail: _*)
            .withColumn("score", (1 to rMax).foldLeft(lit(0.0)) {
              (acc, r) => acc + coalesce(col(s"__s$r"), lit(0.0)) })
        } else {
          cand.groupBy(col("__q"), col("__doc"))
            .agg(sort_array(collect_list(struct(col("__t"), col("__c"))))
              .as("__lst"))
            .withColumn("score",
              expr("aggregate(__lst, 0D, (acc, x) -> acc + x.__c)"))
        }
      scored
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k)
        .select(col("__q").as("query_id"), col("__doc").as("doc_id"),
          col("rank"), col("score"))
    }
  }

  /** The retrieval operators' query side, checkpointed once in `cp`:
    * each query's distinct non-empty terms `(__q, __t)` ranked `__r` in
    * term order (string asc — sort_array's order, so a rank-order fold
    * is the sorted fold), plus rMax = max rank and nPairs = Σ(__r − 1) =
    * Σ_q n_q(n_q − 1)/2, read from the checkpoint job itself. Every later
    * reference reads that snapshot, so the scalars cannot disagree with
    * the rows the plan joins, whatever the queries plan does. */
  private def queryTerms(cp: Checkpoints.Scope, queries: DataFrame,
      qid: Column, qtext: Column): (DataFrame, Int, Long) = {
    val terms = queries
      .select(qid.as("__q"), explode(Text.tokens(qtext)).as("__t"))
      .filter(col("__t") =!= "").distinct()
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("__q")).orderBy(col("__t"))))
    val (snap, s) = cp(terms,
      max(col("__r")).as("__rMax"), sum(col("__r") - 1).as("__nPairs"))
    (snap, if (s.isNullAt(0)) 0 else s.getInt(0),
      if (s.isNullAt(1)) 0L else s.getLong(1))
  }

  /** Proximity-scored retrieval — the relevance signal between bag-of-
    * words BM25 (q112, position-blind) and exact phrase matching (q142,
    * order- and adjacency-strict): per (query, doc), how many unordered
    * pairs of distinct query terms co-occur within `window` token
    * positions somewhere in the doc (n_prox_pairs — 0/1 per term PAIR,
    * the coverage grain), plus the matched-term count. Ranking total
    * order: (n_prox_pairs desc, n_terms desc, doc asc), top `k` per
    * query. All integers — hash-gateable.
    *
    * Scale shape — O(n·window), never a position-pair quadratic: the
    * windowed co-occurrence set is computed per DOC (query-independent
    * — (doc, ta, tb) for term pairs within `window`), by one compiled
    * [[graft.functions.WindowTermPairs]] pass over each doc's
    * position-sorted query-vocabulary postings (r21 — formerly a
    * ×window position explode + (doc, position) equi-join + corpus-wide
    * distinct; the compiled scan emits each doc's DISTINCT pair set
    * directly, deleting the explode fan-out, the join and the distinct
    * exchange). The inner scan breaks at the first position gap >
    * `window`, so an adversarial doc repeating one stopword 10⁶ times
    * costs 10⁶·window comparisons, linear, where the naive per-(query,
    * doc) position self-join squares it (the first draft did exactly
    * that and ground to a halt on the sf1 degenerate-vocabulary fixture
    * — kept as the cautionary note). Per-doc collected state is
    * doc-length-bounded — the winnow-window grain, posture-safe; both
    * the pair set and the matched-term set ride ONE collect per doc
    * (the second consumer reuses the exchange). The vocabulary, the
    * query-term pairs (|q|²-scale, broadcast, joined to the doc pair set
    * by (ta, tb)) and the matched-term join all read one [[queryTerms]]
    * snapshot; postings are built only for the query vocabulary
    * (left-semi — prunes hard when queries are selective, harmless when
    * they are not). */
  def proximityTopK(docs: DataFrame, id: Column, text: Column,
      queries: DataFrame, qid: Column, qtext: Column, window: Int,
      k: Int = 5): DataFrame = {
    require(window >= 1, s"window must be >= 1; got $window")
    require(k >= 1, s"k must be >= 1; got $k")
    Checkpoints.scoped { cp =>
      val (qt, _, nPairs) = queryTerms(cp, queries, qid, qtext)
      val vocab = qt.select(col("__t")).distinct()
      val post = docs.select(id.as("__doc"),
          posexplode(Text.tokens(text)).as(Seq("__pos", "__t")))
        .filter(col("__t") =!= "")
        .join(vocab, Seq("__t"), "left_semi")
      // windowed co-occurrence per doc: one compiled pass over the
      // position-sorted postings emits the distinct pair set — O(n·window)
      // exactly, with the inner scan breaking at the first gap > window.
      // sort_array orders by the struct's FIRST field (__pos, unique per
      // doc via posexplode) — fully deterministic.
      val byDoc = post.groupBy(col("__doc"))
        .agg(sort_array(collect_list(struct(col("__pos"), col("__t"))))
          .as("__ps"))
      // per-doc pairs are distinct by construction and __doc is in the
      // key, so no corpus-wide distinct is needed (equal to the former
      // global distinct over (doc, ta, tb))
      val dpairs = byDoc.select(col("__doc"),
          explode(graft.functions.WindowTermPairs.asColumn(col("__ps"), window))
            .as("__p"))
        .select(col("__doc"), col("__p.__ta").as("__ta"),
          col("__p.__tb").as("__tb"))
      // query-term pairs: |q|²-scale — broadcast EXPLICITLY: the compiled
      // pair generator's explode carries no cardinality estimate, so the
      // planner would otherwise build the hash relation on the
      // corpus-derived pair stream (observed at the sf1 degenerate grain:
      // a BuildLeft flip broadcasting 22M doc pairs, 2.3× the whole
      // query); the hint pins the build side to the model-sized table.
      // r22 (ADVICE): the hint is GUARDED by the exact pair count of the
      // snapshot it joins, so an adversarially wide query table past the
      // threshold keeps the planner's shuffle fallback instead of pinning
      // an oversized broadcast into driver/executor memory.
      val qa = qt.select(col("__q"), col("__t").as("__ta"))
      val qb = qt.select(col("__q"), col("__t").as("__tb"))
      val qpairs = qa.join(qb, Seq("__q"))
        .filter(col("__ta") < col("__tb"))
      val qpairsPinned =
        if (nPairs <= 4000000L) broadcast(qpairs) else qpairs
      val prox = dpairs.join(qpairsPinned, Seq("__ta", "__tb"))
        .groupBy(col("__q"), col("__doc"))
        .agg(count(lit(1)).as("n_prox_pairs"))
      // matched terms ride the SAME per-doc collect (ReusedExchange), so
      // the corpus is scanned+tokenized once, not three times
      val terms = byDoc.select(col("__doc"),
          explode(array_distinct(col("__ps.__t"))).as("__t"))
        .join(qt, Seq("__t"))
        .groupBy(col("__q"), col("__doc"))
        .agg(count(lit(1)).as("n_terms"))
      val wR = Window.partitionBy(col("__q"))
        .orderBy(desc("n_prox_pairs"), desc("n_terms"), col("__doc"))
      terms.join(prox, Seq("__q", "__doc"), "left")
        .na.fill(0L, Seq("n_prox_pairs"))
        .withColumn("rank", row_number().over(wR))
        .filter(col("rank") <= k)
        .select(col("__q").as("query_id"), col("__doc").as("doc_id"),
          col("rank"), col("n_prox_pairs"), col("n_terms"))
    }
  }

  /** Rank-biased overlap (Webber–Moffat–Zobel RBO, truncated): how
    * similar are two RANKINGS of the same query set — the eval-pipeline
    * statistic for "did the new retriever actually change results",
    * comparing prefix by prefix with top-weighted persistence `p`:
    * score = (1−p)·Σ_{i=1..depth} p^(i−1)·|prefix_i(A) ∩ prefix_i(B)|/i.
    * Complements [[rrfFuse]] (which COMBINES rankings) with the
    * MEASUREMENT between them. The q117/q155 exactness posture applied
    * to ranking comparison: p arrives as ppm (one stated division),
    * p^(i−1) by REPEATED MULTIPLICATION inside one pinned ascending
    * fold (never libm pow), every step the same IEEE op chain — so the
    * score hash-gates against a recursive-CTE oracle stepping the
    * identical recurrence. Doc ids compare as strings (one report type
    * for any id type). Inner-join semantics: only queries present in
    * BOTH rankings report (a one-sided query has no overlap to
    * measure — stated). Ranking contract: rank unique per (query,
    * list); lists truncate to `depth` (shorter lists are fine — slice
    * clamps, and the missing tail simply can't overlap).
    *
    * Plan: ranking-sized end to end, with per-query state bounded by
    * CONSTRUCTION: a row_number over rank ORDER (not rank value, so
    * sparse ranks stay correct) keeps only the top `depth` rows per
    * query BEFORE the list collect, so even an accidental full-corpus
    * ranking input costs O(depth) per-group state, never O(|docs|).
    * Then one equi-join on query and one narrow fold per row — the
    * corpus never appears. */
  def rboCompare(a: DataFrame, b: DataFrame, qid: Column, doc: Column,
      rank: Column, pPpm: Long, depth: Int): DataFrame = {
    require(pPpm > 0 && pPpm < 1000000,
      s"pPpm must be in (0, 1e6) exclusive; got $pPpm")
    require(depth >= 1 && depth <= 1000,
      s"depth must be in [1,1000]; got $depth")
    val pSql = s"(CAST($pPpm AS DOUBLE) / 1000000.0)"
    def lists(df: DataFrame, out: String) = {
      val wD = Window.partitionBy(col("__q")).orderBy(col("__r"), col("__d"))
      df.select(qid.as("__q"), doc.cast("string").as("__d"),
          rank.as("__r"))
        .withColumn("__rn", row_number().over(wD))
        .filter(col("__rn") <= depth)
        .groupBy(col("__q"))
        .agg(expr(s"slice(transform(sort_array(collect_list(" +
          s"struct(__r, __d))), x -> x.__d), 1, $depth)").as(out))
    }
    lists(a, "la").join(lists(b, "lb"), Seq("__q"))
      .withColumn("__f", expr(
        s"""aggregate(sequence(1, $depth),
            named_struct('pw', CAST(1.0 AS DOUBLE), 's', CAST(0.0 AS DOUBLE)),
            (acc, i) -> named_struct(
              'pw', acc.pw * $pSql,
              's', acc.s + acc.pw *
                (CAST(size(array_intersect(slice(la, 1, i), slice(lb, 1, i))) AS DOUBLE)
                 / CAST(i AS DOUBLE))))"""))
      .select(col("__q").as("query_id"),
        expr(s"(1.0 - $pSql) * __f.s").as("rbo"),
        size(col("la")).as("n_a"), size(col("lb")).as("n_b"),
        size(array_intersect(col("la"), col("lb"))).as("overlap_at_depth"))
  }

  /** Deterministic stratified Bernoulli sample: keep a row iff the
    * portable hash of its `key` lands under the stratum's rate (in
    * millionths). Pure narrow filter — zero shuffle, reproducible across
    * runs/engines, and each stratum's kept fraction converges to its
    * rate. `rates` maps stratum value → ppm; misses use `defaultPpm`.
    * Output schema equals the input's; pass `bucketCol` to additionally
    * surface the row's hash bucket (0..999999) under that name — no
    * undocumented temporary leaks otherwise. */
  def stratifiedSample(df: DataFrame, strata: Column, key: Column,
      rates: Map[String, Int], defaultPpm: Int,
      bucketCol: Option[String] = None): DataFrame = {
    val bucket = pmod(Portable.phash(concat(lit("smp|"), key.cast("string"))),
      lit(1000000))
    val rate = rates.foldLeft(lit(defaultPpm)) { case (acc, (s, ppm)) =>
      when(strata === s, lit(ppm)).otherwise(acc)
    }
    val kept = df.withColumn("__bucket", bucket).filter(col("__bucket") < rate)
    bucketCol match {
      case Some(c) => kept.withColumnRenamed("__bucket", c)
      case None    => kept.drop("__bucket")
    }
  }

  /** Deterministic WEIGHTED Bernoulli sample — quality-biased corpus
    * selection: each row's inclusion probability is `weight · ratePpm/1e6`
    * (capped at 1), decided by the same portable hash machinery as
    * [[stratifiedSample]] (distinct salt), so membership is a pure
    * function of (key, weight) — reproducible across runs, engines, and
    * partitionings, and monotone in weight: raising a row's weight can
    * only ever ADD it to the sample, never drop it (same bucket, higher
    * bar). Zero shuffle, pure narrow filter.
    *
    * Weight handling is explicit, not clamped silently: weight ≤ 0 or
    * NULL keeps nothing (a row with no weight has no business in a
    * weighted sample), weight ≥ 1e6/ratePpm saturates to always-keep.
    * `floor(weight · ratePpm)` is one IEEE double multiply of exact
    * inputs — engine-portable (oracle-hashed, q74). */
  def weightedSample(df: DataFrame, key: Column, weight: Column,
      ratePpm: Long, bucketCol: Option[String] = None): DataFrame = {
    require(ratePpm > 0 && ratePpm <= 1000000L,
      s"ratePpm must be in (0, 1e6]; got $ratePpm")
    val bucket = pmod(Portable.phash(concat(lit("wsm|"), key.cast("string"))),
      lit(1000000))
    // least() skips NULLs in both Spark and DuckDB — least(1e6, NULL)
    // would silently saturate a NULL weight to always-keep; gate on
    // non-null explicitly so NULL keeps nothing, as documented.
    val keepPpm = when(weight.isNotNull, least(lit(1000000L),
      floor(weight.cast("double") * lit(ratePpm.toDouble)).cast("long")))
    val kept = df.withColumn("__bucket", bucket).filter(col("__bucket") < keepPpm)
    bucketCol match {
      case Some(c) => kept.withColumnRenamed("__bucket", c)
      case None    => kept.drop("__bucket")
    }
  }

  /** Deterministic train/validation/test splitting — the dataset-split
    * step every training pipeline runs before anything touches the data:
    * each row is assigned the split whose cumulative ppm range its
    * portable key-hash bucket (0..999999) lands in, so membership is a
    * pure function of the key — reproducible across runs, engines, and
    * re-partitioning, and a row can never drift between splits as the
    * corpus grows (the q36-proven hash machinery, distinct salt). Adds
    * `split`; rows past the last range (when ppms sum < 1e6) get NULL —
    * surfaced, never silently binned. Pure narrow projection, zero
    * shuffle. `splits` is (name, ppm) in DECLARED order; ppms must be
    * positive and sum to at most 1e6. */
  def assignSplits(df: DataFrame, key: Column,
      splits: Seq[(String, Int)]): DataFrame = {
    require(splits.nonEmpty, "assignSplits needs at least one split")
    require(splits.forall(_._2 > 0),
      s"split ppms must be positive; got ${splits.map(_._2).mkString(",")}")
    require(splits.map(_._2.toLong).sum <= 1000000L,
      s"split ppms sum to ${splits.map(_._2.toLong).sum} > 1e6")
    require(splits.map(_._1).distinct.size == splits.size,
      s"split names must be distinct; got ${splits.map(_._1).mkString(",")}")
    require(!df.columns.contains("split"),
      "assignSplits adds a `split` column; the input already has one — rename it first")
    val bucket = pmod(Portable.phash(concat(lit("spl|"), key.cast("string"))),
      lit(1000000))
    val bounds = splits.scanLeft(0L) { case (acc, (_, ppm)) => acc + ppm }.tail
    val assigned = splits.zip(bounds).foldRight(lit(null).cast("string")) {
      case (((name, _), upper), acc) => when(bucket < upper, lit(name)).otherwise(acc)
    }
    df.withColumn("split", assigned)
  }

  /** Snapshot diff between two corpus versions — the dataset-versioning
    * primitive: classify every key as added / removed / changed /
    * unchanged by comparing the md5 of its content across versions.
    * Presence is tracked with explicit indicator columns, NOT the hash
    * (a present row with NULL content must read as present — its hash is
    * NULL); content equality is null-safe (`<=>`), so NULL==NULL content
    * is `unchanged`. One full-outer equi-join on the key — the canonical
    * shape; at 100 TB both sides shuffle once on the key (or co-locate
    * via bucketing) and the hash is computed in the scan projection.
    * Returns (key, status). Keys must be unique per side — this is a
    * version diff, not a multiset diff; a duplicated key would cross-
    * match in the full-outer join and emit one status row per pair.
    * Content is canonicalized by `cast(string)` before hashing, so two
    * distinct values with identical string renderings (or an md5
    * collision, ~2^-64 odds) read as `unchanged` — acceptable for the
    * change-detection contract, not a cryptographic guarantee. */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame,
      oldKey: Column, newKey: Column,
      oldContent: Column, newContent: Column): DataFrame = {
    val o = oldDf.select(oldKey.as("key"), md5(oldContent.cast("string")).as("__ho"),
      lit(true).as("__po"))
    val n = newDf.select(newKey.as("key"), md5(newContent.cast("string")).as("__hn"),
      lit(true).as("__pn"))
    o.join(n, Seq("key"), "full_outer")
      .select(col("key"),
        when(col("__po").isNull, "added")
          .when(col("__pn").isNull, "removed")
          .when(!(col("__ho") <=> col("__hn")), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Concat-and-chunk sequence packing — the batching step of an LLM
    * training pipeline: documents are conceptually concatenated per
    * `strata` in `order`, the token stream is cut every `budget` tokens,
    * and each document is assigned the bin its first token lands in.
    * Adds `tok_offset` (the document's start position in its stratum's
    * token stream) and `bin`. One shuffle on strata + an in-partition
    * running sum — deterministic, integer-exact, and a document may
    * straddle a cut (bin totals ≤ budget + max doc tokens), which is the
    * standard concat-then-chunk contract. */
  def packByTokenBudget(df: DataFrame, strata: Column, order: Column,
      nTokens: Column, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive; got $budget")
    val w = Window.partitionBy(strata).orderBy(order)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("tok_offset", (sum(nTokens).over(w) - nTokens).cast("long"))
      .withColumn("bin", expr(s"tok_offset div ${budget}L")) // exact int div
  }

  /** Document CHUNKING — the windowing step in front of embedding/training
    * pipelines (the complement of [[packByTokenBudget]], which concatenates
    * small docs; this SPLITS large ones): each document becomes overlapping
    * fixed-token windows, chunk i covering token positions
    * [i·stride, i·stride + maxTokens) with the tail clamped. Chunk count =
    * 1 when n ≤ maxTokens else 1 + ⌈(n − maxTokens)/stride⌉ — every token
    * is covered, the last chunk is the only short one, and overlap =
    * maxTokens − stride is the usual context-continuity knob. Emits
    * (doc_id, chunk_id, n_chunk_tokens, chunk_text) — all integer
    * arithmetic plus deterministic token slices, so the chunk TEXT is
    * oracle-portable (q86).
    *
    * Scale shape: pure narrow — tokenize, one integer chunk-count column,
    * one explode (the row multiplier IS the output), per-row slice/join.
    * Zero shuffles at any corpus size; Spark parallelizes by input
    * partition. NULL text ⇒ no token stream ⇒ the doc emits NO chunks
    * (spec-pinned; [[maskRepeatedSpans]] instead keeps such rows with
    * NULL counts — different ops, different row contracts). */
  def chunkDocuments(df: DataFrame, id: Column, text: Column,
      maxTokens: Int, stride: Int): DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be >= 1; got $maxTokens")
    require(stride >= 1 && stride <= maxTokens,
      s"stride must be in [1, maxTokens=$maxTokens]; got $stride")
    val base = df.select(id.as("doc_id"), Text.tokens(text).as("__toks"))
      .withColumn("__n", size(col("__toks")))
    // exact integer ceil-division — no doubles anywhere in the count
    val nChunks = when(col("__n") <= maxTokens, lit(1))
      .otherwise(lit(1) +
        expr(s"(__n - $maxTokens + ${stride - 1}) div $stride").cast("int"))
    base.withColumn("__nc", nChunks)
      .select(col("doc_id"), col("__toks"),
        explode(sequence(lit(0), col("__nc") - 1)).as("chunk_id"))
      .withColumn("__ct", slice(col("__toks"),
        col("chunk_id") * stride + 1, lit(maxTokens)))
      .select(col("doc_id"), col("chunk_id"),
        size(col("__ct")).as("n_chunk_tokens"),
        array_join(col("__ct"), " ").as("chunk_text"))
  }

  /** Fixed-size deterministic stratified sample: exactly `n` rows per
    * stratum (fewer if the stratum is smaller), chosen by ranking the
    * portable hash of `key` — reproducible across runs and engines, and
    * complementary to [[stratifiedSample]]'s rate-based variant. One
    * shuffle on strata + an in-partition top-n. Adds `smp_rank` (1..n
    * within stratum). */
  def stratifiedFixedSample(df: DataFrame, strata: Column, key: Column,
      n: Int): DataFrame = {
    require(n > 0, s"n must be positive; got $n")
    val w = Window.partitionBy(strata)
      .orderBy(Portable.phash(concat(lit("fix|"), key.cast("string"))), key)
    df.withColumn("smp_rank", row_number().over(w))
      .filter(col("smp_rank") <= n)
  }

  /** Budgeted PROPORTIONAL stratified sample — the missing middle
    * between [[stratifiedSample]] (per-stratum rates, total size
    * floats) and [[stratifiedFixedSample]] (fixed n per stratum, mix
    * distorted): "give me exactly `budget` rows that preserve the
    * corpus mix". Quotas are the largest-remainder (Hamilton)
    * apportionment of `budget` by stratum size — base floor((budget·n_g)
    * div N) everywhere, the Σbase..budget leftover seats to the largest
    * remainders ((budget·n_g) mod N desc, stratum asc — fully
    * deterministic, NULL stratum first) — so Σ quotas == budget EXACTLY
    * (for budget ≤ N; a budget ≥ N returns the whole input: every base
    * is already ≥ n_g) and no stratum is off its exact share by more
    * than one row. Rows within a stratum are picked by the portable-
    * hash rank (the [[stratifiedFixedSample]] membership idiom — stable
    * under corpus growth only in the fixed-n sense; quotas re-apportion
    * by design). `budget·n_g` must fit int64 (ANSI fails loudly beyond).
    * Adds `smp_rank` (1..quota within stratum).
    *
    * Plan: stratum sizes = one map-side-combined agg; apportionment =
    * two single-partition windows over the CATALOG-sized stratum table
    * (strata are langs/sources/shards by contract, never a corpus
    * dimension — the buildVocab posture); quotas broadcast back; one
    * per-stratum rank window over the corpus (the one corpus shuffle,
    * keyed by stratum; hot strata are AQE-split). */
  def sampleBudget(df: DataFrame, strata: Column, key: Column,
      budget: Long): DataFrame = {
    require(budget >= 1, s"budget must be >= 1; got $budget")
    // the quota join's working names are reserved (the intervalJoin
    // loud-fail pattern): an input __st/__quota would make the join
    // condition ambiguous / be silently dropped. smp_rank is the
    // documented OUTPUT column (shared with stratifiedFixedSample) and
    // overwrites any input column of that name.
    val reserved = Set("__st", "__quota")
    val clashes = df.columns.filter(c => reserved(c.toLowerCase))
    require(clashes.isEmpty,
      s"sampleBudget reserves column names ${reserved.mkString(", ")}; " +
        s"rename the input column(s): ${clashes.mkString(", ")}")
    val whole = Window.partitionBy()
    // NB: "__N" would silently OVERWRITE "__n" (Spark resolution is
    // case-insensitive by default) — hence "__tot"
    val sizes = df.groupBy(strata.as("__st")).agg(count(lit(1)).as("__n"))
      .withColumn("__tot", sum("__n").over(whole))
      .withColumn("__base", expr(s"(${budget}L * __n) div __tot"))
      .withColumn("__rem", expr(s"(${budget}L * __n) % __tot"))
      .withColumn("__left", lit(budget) - sum("__base").over(whole))
      .withColumn("__rk", row_number().over(
        Window.orderBy(desc("__rem"), col("__st").asc_nulls_first)))
    val quotas = sizes.select(col("__st"),
      (col("__base") + when(col("__rk") <= col("__left"), lit(1L))
        .otherwise(lit(0L))).as("__quota"))
    val w = Window.partitionBy(strata)
      .orderBy(Portable.phash(concat(lit("bud|"), key.cast("string"))), key)
    df.withColumn("smp_rank", row_number().over(w))
      .join(quotas, strata <=> col("__st"))
      .filter(col("smp_rank") <= col("__quota"))
      .drop("__st", "__quota")
  }

  /** Weighted FIXED-SIZE stratified sampling — priority sampling: per
    * stratum keep the `n` rows with the smallest rank = u / weight,
    * where u is the portable key-hash mapped into (0, 1] — inclusion
    * probability scales with weight (probability-proportional-to-size
    * without replacement), yet membership stays a pure function of
    * (key, weight): deterministic across runs, engines, partitionings.
    * The exact-size complement of [[weightedSample]] (rate-based) and
    * the weighted complement of [[stratifiedFixedSample]] (uniform).
    * Rows with NULL or non-positive weight never sample (filtered up
    * front, same contract as weightedSample). Adds `smp_rank` (1..n
    * within stratum, rank order). One shuffle on strata; the rank
    * arithmetic is one IEEE double division of exact inputs —
    * oracle-portable (q78). */
  def weightedFixedSample(df: DataFrame, strata: Column, key: Column,
      weight: Column, n: Int): DataFrame = {
    require(n > 0, s"n must be positive; got $n")
    val u = (pmod(Portable.phash(concat(lit("wfx|"), key.cast("string"))),
      lit(1000000)) + lit(1)).cast("double") / 1000000.0
    val w = Window.partitionBy(strata)
      .orderBy((u / weight.cast("double")).asc, key)
    // NaN must be excluded EXPLICITLY: Spark orders NaN greater than
    // every number, so `weight > 0` PASSES a NaN weight — in an
    // underfull stratum (< n positive-weight rows) it would sample,
    // violating the "NULL or non-positive weight never samples" contract.
    df.filter(weight.isNotNull && weight > 0 &&
        !isnan(weight.cast("double")))
      .withColumn("smp_rank", row_number().over(w))
      .filter(col("smp_rank") <= n)
  }

  /** Weighted corpus mixing — the epoch-weighting step of an LLM training
    * pipeline: each stratum gets a fractional repeat factor (in millionths
    * of a copy, e.g. 2_250_000 ppm = 2.25 epochs). A row emits
    * `floor(w)` copies plus one more iff the portable hash of its `key`
    * lands under the fractional remainder — so upsampling (w > 1),
    * passthrough (w = 1), and downsampling (w < 1) are one operator, all
    * integer-exact and reproducible across runs/engines. Adds `copy_idx`
    * (1..n per surviving row). Pure narrow map + explode — zero shuffle;
    * at 100 TB this runs at scan speed and the output lands directly in
    * the writer's partitioning. Nulls: a null stratum takes `defaultPpm`
    * (it never equi-matches a weight entry); a null key hashes to null,
    * so its fractional extra never fires — exactly floor(w) copies,
    * deterministically (spec-pinned).
    *
    * Composing with [[shardCorpus]]: shard on a key that INCLUDES
    * `copy_idx` (e.g. `concat(key, lit("|"), col("copy_idx"))`), not on
    * `key` alone — every epoch copy of a document shares its `key`, so
    * sharding on the bare key gives all copies an identical
    * (shard, shuffle_key) and they land adjacent in the written layout,
    * defeating exactly the shuffle quality the shard op provides. */
  def mixCorpus(df: DataFrame, strata: Column, key: Column,
      weightsPpm: Map[String, Long], defaultPpm: Long): DataFrame = {
    require(defaultPpm >= 0, s"defaultPpm must be >= 0; got $defaultPpm")
    require(weightsPpm.values.forall(_ >= 0), "weights must be >= 0")
    val wppm = weightsPpm.foldLeft(lit(defaultPpm)) { case (acc, (s, w)) =>
      when(strata === s, lit(w)).otherwise(acc)
    }
    val bucket = pmod(Portable.phash(concat(lit("mix|"), key.cast("string"))),
      lit(1000000L))
    df.withColumn("__w", wppm)
      .withColumn("__n", // exact integer div/mod — no double rounding
        expr("__w div 1000000") +
          when(bucket < pmod(col("__w"), lit(1000000L)), 1L).otherwise(0L))
      .filter(col("__n") >= 1)
      .withColumn("copy_idx", explode(sequence(lit(1L), col("__n"))))
      .drop("__w", "__n")
  }

  /** Score-quantile filtering — score-BASED selection, the complement of
    * the hash-based random samplers: keep each stratum's rows whose
    * `score` clears the stratum's EXACT q-quantile (the same
    * interpolated order statistic the q29 family proved engine-portable:
    * Spark `percentile` == DuckDB `quantile_cont`). Ties at the
    * threshold all survive — deterministic; with discrete scores the
    * kept fraction is >= (1−q) rather than exact. The |strata|-row
    * threshold table broadcasts back; the corpus side is one scan +
    * filter (the percentile agg is the one shuffle). Adds `q_threshold`
    * (the input must not already carry that column — checked); otherwise
    * schema-preserving. The threshold join is NULL-SAFE: rows with a
    * NULL stratum form their own group, get their own threshold, and are
    * filtered against it like any other stratum (a plain equi-join would
    * silently drop them). Rows whose SCORE is NULL never clear any
    * threshold (SQL three-valued filter) — dropped, as for any
    * non-qualifying score. The common instantiation: keep each source's
    * top 30% by quality score before packing. */
  def topQuantileFilter(df: DataFrame, strata: Column, score: Column,
      quantile: Double): DataFrame = {
    require(quantile > 0.0 && quantile < 1.0,
      s"quantile must be in (0,1); got $quantile")
    require(!df.columns.contains("q_threshold"),
      "topQuantileFilter adds a q_threshold column; the input already has " +
        "one — rename it first")
    val thr = df.select(strata.as("__st"), score.cast("double").as("__sc"))
      .groupBy(col("__st"))
      .agg(expr(s"percentile(__sc, $quantile)").as("q_threshold"))
    df.withColumn("__s", strata)
      .join(broadcast(thr), col("__s") <=> col("__st"))
      .filter(score.cast("double") >= col("q_threshold"))
      .drop("__s", "__st")
  }

  /** The SCALE tier of [[topQuantileFilter]]: same selection contract,
    * but the per-stratum threshold comes from `approx_percentile`
    * (Greenwald-Khanna sketch, bounded memory) instead of exact
    * `percentile`. One real semantic difference survives even a
    * rank-exact sketch: exact `percentile` INTERPOLATES between adjacent
    * data values at fractional quantile ranks, while `approx_percentile`
    * returns an actual data value — so this tier's threshold can sit one
    * distinct score below the exact tier's, keeping that boundary value's
    * rows too (exact-kept ⊆ approx-kept; the extras all score exactly the
    * sketched threshold). The
    * exact aggregate buffers EVERY value of a stratum in one aggregation
    * buffer — at 100 TB a hot stratum is an executor OOM, not a slow
    * query; the sketch holds O(accuracy) per stratum regardless of row
    * count. The threshold lands within 1/accuracy quantile rank of
    * exact (so the kept fraction is (1−q) ± 1/accuracy); ties at the
    * sketched threshold all survive, same as the exact tier.
    * `accuracy` trades memory for rank error (default 10000 = ±0.01%). */
  def topQuantileFilterApprox(df: DataFrame, strata: Column, score: Column,
      quantile: Double, accuracy: Int = 10000): DataFrame = {
    require(quantile > 0.0 && quantile < 1.0,
      s"quantile must be in (0,1); got $quantile")
    require(accuracy > 0, s"accuracy must be positive; got $accuracy")
    require(!df.columns.contains("q_threshold"),
      "topQuantileFilterApprox adds a q_threshold column; the input " +
        "already has one — rename it first")
    val thr = df.select(strata.as("__st"), score.cast("double").as("__sc"))
      .groupBy(col("__st"))
      .agg(expr(s"approx_percentile(__sc, $quantile, $accuracy)")
        .as("q_threshold"))
    df.withColumn("__s", strata)
      .join(broadcast(thr), col("__s") <=> col("__st"))
      .filter(score.cast("double") >= col("q_threshold"))
      .drop("__s", "__st")
  }

  /** Time-bucket gap filling — densify a per-key time series: one row
    * per key per `stepUs` bucket between that key's first and last
    * events, with `n` = event count (0 where the series is silent). The
    * bucket spine is generated PER KEY with sequence() off one min/max
    * agg — no driver-side calendar, no cross join — and counts rejoin on
    * (key, bucket). Bucket ids are `unix_micros div stepUs` (trunc
    * division; equals floor division for post-epoch data — pre-1970
    * timestamps would need explicit floor semantics). Output:
    * (key, bucket, n). One agg + one equi-join shuffle, both keyed by
    * (key, bucket); spine size = keys × their ACTIVE spans.
    *
    * Rows with a NULL key or NULL timestamp are EXCLUDED up front — from
    * the spine AND the counts (without the explicit filter they'd land in
    * a NULL counts group that the spine's NULL-ignoring min/max and the
    * equi-join both silently miss, breaking the conserved-counts
    * invariant: sum(n) == number of non-NULL input events, exactly).
    *
    * `maxBucketsPerKey` caps the PER-KEY spine: one key whose span covers
    * decades at a small `stepUs` makes `sequence(mn, mx)` emit one
    * enormous array (Spark hard-fails past ~2³¹ elements; well before
    * that it OOMs an executor). Past the cap the job fails LOUDLY with
    * the offending key and its span — a hostile key must be a diagnosed
    * data problem, not a 3-day-in OOM. Default Long.MaxValue = unguarded. */
  def gapFill(df: DataFrame, key: Column, ts: Column, stepUs: Long,
      maxBucketsPerKey: Long = Long.MaxValue): DataFrame = {
    require(stepUs > 0, s"stepUs must be positive; got $stepUs")
    require(maxBucketsPerKey > 0,
      s"maxBucketsPerKey must be positive; got $maxBucketsPerKey")
    val b = df.select(key.as("key"), unix_micros(ts).as("__um"))
      .filter(col("key").isNotNull && col("__um").isNotNull)
      .select(col("key"), expr(s"__um div ${stepUs}L").as("bucket"))
    val counts = b.groupBy(col("key"), col("bucket")).agg(count(lit(1)).as("__n"))
    // Single-pass gap explode (r21): each observed bucket emits itself
    // plus the silent buckets up to (not incl.) the NEXT observed bucket
    // via one lead() window — the spine rows appear as generated rows
    // instead of a (key, bucket) spine join, deleting the second corpus
    // pass (bounds agg), the spine exchange, and the join. Window input
    // is OBSERVED-bucket-sized, never spine-sized; per-key first/last
    // observed buckets bound the spine exactly as before.
    val wLead = Window.partitionBy(col("key")).orderBy(col("bucket"))
    spineExplode(counts, "gapFill", stepUs, maxBucketsPerKey, wLead)
      .select(col("key"), col("__bkt").as("bucket"),
        when(col("__bkt") === col("bucket"), col("__n")).otherwise(lit(0L))
          .as("n"))
  }

  /** The per-key gap explode shared by [[gapFill]] and [[interpolate]]
    * (r21 — replaces the former bucketSpine join): appends `__bkt` rows
    * covering [bucket, nextBucket) per observed row (last row emits just
    * itself), so the union over a key is exactly its min..max spine.
    * The hostile-key guard fails loudly BEFORE the explode: per-key
    * min/max come from two O(1) running-frame window firsts over the
    * same sorts the callers already pay, never a separate agg pass. */
  private def spineExplode(obs: DataFrame, opName: String, stepUs: Long,
      maxBucketsPerKey: Long, wLead: WindowSpec): DataFrame = {
    val withNext = obs.withColumn("__nb", lead(col("bucket"), 1).over(wLead))
    val guarded =
      if (maxBucketsPerKey == Long.MaxValue) withNext
      else {
        val wfRun = Window.partitionBy(col("key")).orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wbRun = Window.partitionBy(col("key")).orderBy(col("bucket").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        withNext
          .withColumn("__mn", first(col("bucket")).over(wfRun))
          .withColumn("__mx", first(col("bucket")).over(wbRun))
          .withColumn("__nb",
            when(col("__mx") - col("__mn") >= maxBucketsPerKey,
              raise_error(concat(
                lit(s"$opName: key "), col("key").cast("string"),
                lit(" spans "), (col("__mx") - col("__mn") + 1L).cast("string"),
                lit(s" buckets > maxBucketsPerKey=$maxBucketsPerKey at stepUs=$stepUs")
              )).cast("long"))
            .otherwise(col("__nb")))
          .drop("__mn", "__mx")
      }
    guarded.withColumn("__bkt", explode(
      sequence(col("bucket"), coalesce(col("__nb") - 1, col("bucket")))))
  }

  /** Linear interpolation over the gap-filled bucket spine — [[gapFill]]
    * for a VALUE series: each key's silent buckets get the straight line
    * between the nearest observed buckets either side; before the first
    * (after the last) observation the series carries backward (forward)
    * flat. `fill_method` says which rule produced every row (observed /
    * interpolated / ffill / bfill) — a synthetic point that can't say it
    * is synthetic poisons downstream statistics silently.
    *
    * Portability: per-bucket observations are exact integer-cent
    * averages (`sum(floor(v·100)) / 100.0 / n` — the q28 recipe) and the
    * interpolation is one fixed-order IEEE expression
    * `ff + (bf − ff) · ((b − fb)/(nb − fb))`, so results hash-match any
    * IEEE engine running the same shape (q75).
    *
    * Plan shape: one agg + one spine join keyed (key, bucket), then ONE
    * window sort per key serving both direction frames — same single
    * irreducible per-key ordering as sessionize; AQE skew-split applies.
    * Same `maxBucketsPerKey` loud-fail guard as gapFill. */
  /** Per-key exponentially-weighted moving average — the streaming-shaped
    * smoother/anomaly baseline (s₁ = x₁; sₜ = α·xₜ + (1−α)·sₜ₋₁ over the
    * (ts, tiebreak) order): one `ewma` column per input row. α arrives
    * as ppm and becomes a double via one stated division, and the
    * recursion is stated as EXACTLY that two-multiply-one-add chain per
    * step — so the whole smoothed series is hash-portable (q117 gates
    * every smoothed value against DuckDB's recursive-CTE restatement of
    * the same recurrence; a closed-form power-sum restatement would NOT
    * be bit-equal to the recursion). A NULL value poisons its key's
    * tail from that point on (NULL propagates through the recurrence —
    * the honest contract; pre-filter or gap-fill first). Rows with a
    * NULL ts or tiebreak drop UP FRONT (the timeWeightedAvg posture —
    * an observation with no position in the order has no place in the
    * recurrence, and engines disagree on where NULLs sort).
    *
    * Plan: ONE shuffle on key, then a per-key sorted fold inside a
    * single higher-order `aggregate` (the q112 fold idiom, but
    * emitting the running array, re-exploded in place) — no self-join,
    * no window-per-step. Each key's full history is buffered in ONE
    * task row (the collect_list contract: per-key cardinality is
    * bounded — days × events/day, never a corpus dimension; cap or
    * bucket key history upstream if a key can grow unbounded, since an
    * AQE skew split cannot divide a single row). Output: (key, ts,
    * tiebreak, value, ewma). */
  def ewma(df: DataFrame, key: Column, ts: Column, value: Column,
      tiebreak: Column, alphaPpm: Long): DataFrame = {
    require(alphaPpm >= 0 && alphaPpm <= 1000000,
      s"alphaPpm must be in [0, 1000000]; got $alphaPpm")
    val aSql = s"(CAST($alphaPpm AS DOUBLE) / 1000000.0)"
    df.select(key.as("__k"), ts.as("__ts"), tiebreak.as("__tb"),
        value.cast("double").as("__x"))
      .filter(col("__ts").isNotNull && col("__tb").isNotNull)
      .groupBy(col("__k"))
      .agg(sort_array(collect_list(
        struct(col("__ts"), col("__tb"), col("__x")))).as("__seq"))
      .withColumn("__sm", expr(
        s"""aggregate(__seq, CAST(array() AS array<double>),
            (acc, e) -> array_append(acc,
              CASE WHEN size(acc) = 0 THEN e.__x
                   ELSE $aSql * e.__x +
                        (1.0 - $aSql) * element_at(acc, -1) END))"""))
      .select(col("__k"), explode(arrays_zip(col("__seq"), col("__sm"))).as("__z"))
      .select(col("__k").as("key"), col("__z.__seq.__ts").as("ts"),
        col("__z.__seq.__tb").as("tiebreak"), col("__z.__seq.__x").as("value"),
        col("__z.__sm").as("ewma"))
  }

  /** Holt double-exponential smoothing — per-key level + trend, the
    * member of the smoothing family EWMA can't express: EWMA (q117)
    * tracks a level only, so it lags a drifting series by a constant;
    * Holt carries a trend term (l_t = α·x_t + (1−α)(l_{t−1} + b_{t−1});
    * b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1}) and `level + trend` IS the
    * one-step-ahead forecast — the anomaly baseline / capacity-planning
    * primitive. Initialization pinned: l_1 = x_1, b_1 = 0 (stated — the
    * x_2−x_1 seed would make every downstream value depend on a second
    * row existing). Same exactness posture as ewma: the fold is a fixed
    * IEEE op chain over the (ts, tiebreak)-sorted per-key sequence, so
    * both engines — and the S28 streaming twin — produce BIT-EQUAL
    * doubles. NULL ts/tiebreak rows drop up front (no position in the
    * order). Plan: ONE shuffle on key + a sorted per-key fold
    * (sort_array over collect_list — bounded per-key history, the
    * collect_list contract), then a narrow explode back to rows.
    * Streaming twin: [[graft.streaming.HoltStream]] (S28 — O(1) state
    * per key, bit-equal law). */
  def holt(df: DataFrame, key: Column, ts: Column, value: Column,
      tiebreak: Column, alphaPpm: Long, betaPpm: Long): DataFrame = {
    require(alphaPpm >= 0 && alphaPpm <= 1000000,
      s"alphaPpm must be in [0, 1000000]; got $alphaPpm")
    require(betaPpm >= 0 && betaPpm <= 1000000,
      s"betaPpm must be in [0, 1000000]; got $betaPpm")
    val aSql = s"(CAST($alphaPpm AS DOUBLE) / 1000000.0)"
    val bSql = s"(CAST($betaPpm AS DOUBLE) / 1000000.0)"
    df.select(key.as("__k"), ts.as("__ts"), tiebreak.as("__tb"),
        value.cast("double").as("__x"))
      .filter(col("__ts").isNotNull && col("__tb").isNotNull)
      .groupBy(col("__k"))
      .agg(sort_array(collect_list(
        struct(col("__ts"), col("__tb"), col("__x")))).as("__seq"))
      .withColumn("__sm", expr(
        s"""aggregate(__seq,
            CAST(array() AS array<struct<l: double, b: double>>),
            (acc, e) -> array_append(acc,
              CASE WHEN size(acc) = 0
                THEN named_struct('l', e.__x, 'b', CAST(0.0 AS DOUBLE))
                ELSE named_struct(
                  'l', $aSql * e.__x + (1.0 - $aSql) *
                       (element_at(acc, -1).l + element_at(acc, -1).b),
                  'b', $bSql * (($aSql * e.__x + (1.0 - $aSql) *
                       (element_at(acc, -1).l + element_at(acc, -1).b)) -
                       element_at(acc, -1).l) +
                       (1.0 - $bSql) * element_at(acc, -1).b) END))"""))
      .select(col("__k"),
        explode(arrays_zip(col("__seq"), col("__sm"))).as("__z"))
      .select(col("__k").as("key"), col("__z.__seq.__ts").as("ts"),
        col("__z.__seq.__tb").as("tiebreak"), col("__z.__seq.__x").as("value"),
        col("__z.__sm.l").as("level"), col("__z.__sm.b").as("trend"))
  }

  /** Top navigation paths — the product-analytics journey report
    * "which opening sequences are most common": each key's first
    * `maxSteps` states in (ts, tiebreak) order join into one path
    * string, identical prefixes count together, and the `topK` most
    * common paths come back with exact counts and integer-ppm share
    * of ALL keys (tie order: n desc, path asc — deterministic). The
    * whole-journey companion to [[transitionCounts]]' one-step matrix:
    * the matrix says where users go NEXT, this says how journeys
    * BEGIN. NULL states render as the literal "∅" segment (an
    * instrumentation gap is part of the journey — the q119 contract),
    * `sep` must not occur in any state (the path string would be
    * ambiguous — checked LOUDLY per row, not a footnote); keys with
    * fewer than maxSteps events contribute their full (shorter) path.
    * Rows with a NULL ts or tiebreak drop up front (no position in
    * the order — the timeWeightedAvg posture; NULL STATES stay).
    *
    * Plan: ONE shuffle on key + the same sorted per-key fold as ewma
    * (sort_array over collect_list — bounded per-key history, the
    * collect_list contract), a NARROW slice+join to the path string,
    * one map-side-combined path-grain agg, 1-row total broadcast, and
    * a global top-K tail (TakeOrderedAndProject at catalog size). */
  def topPaths(df: DataFrame, key: Column, ts: Column, state: Column,
      tiebreak: Column, maxSteps: Int, topK: Int,
      sep: String = ">"): DataFrame = {
    require(maxSteps >= 1, s"maxSteps must be >= 1; got $maxSteps")
    require(topK >= 1, s"topK must be >= 1; got $topK")
    val checked = when(state.cast("string").contains(sep), raise_error(
        concat(lit(s"topPaths: state '"), state.cast("string"),
          lit(s"' contains the separator '$sep'"))))
      .otherwise(coalesce(state.cast("string"), lit("∅")))
    val paths = df.select(key.as("__k"), ts.as("__ts"),
        tiebreak.as("__tb"), checked.as("__st"))
      .filter(col("__ts").isNotNull && col("__tb").isNotNull)
      .groupBy(col("__k"))
      .agg(sort_array(collect_list(
        struct(col("__ts"), col("__tb"), col("__st")))).as("__seq"))
      .select(array_join(slice(transform(col("__seq"), e => e("__st")),
        1, maxSteps), sep).as("path"))
    val counts = paths.groupBy(col("path")).agg(count(lit(1)).as("n"))
    counts.crossJoin(broadcast(
        counts.agg(sum(col("n")).as("__tot"))))
      .withColumn("share_ppm", expr(
        "CAST(n AS decimal(38,0)) * 1000000 div __tot"))
      .select(col("path"), col("n"),
        col("share_ppm").cast("long").as("share_ppm"))
      .orderBy(desc("n"), col("path"))
      .limit(topK)
  }

  /** Per-key two-sided CUSUM change detection — the sequential
    * drift/shift alarm (Page's cumulative-sum chart) over the (ts,
    * tiebreak) order: s⁺ₜ = max(0, s⁺ₜ₋₁ + (xₜ − target − slack)) and
    * s⁻ₜ = max(0, s⁻ₜ₋₁ + (target − slack − xₜ)), alarm when either
    * side reaches `threshold`, then BOTH sides restart at 0 for the
    * next step (the standard restart chart — each alarm is an
    * independent detection, so state stays bounded by threshold + one
    * step forever). Rows with a NULL ts or tiebreak drop up front
    * (no position in the order — the timeWeightedAvg posture).
    * `value` is CALLER-QUANTIZED to integers (the
    * groupTrend contract — floor-cents, micros, counts), and target /
    * slack / threshold live in the same units, so every statistic is
    * EXACT integer arithmetic — the whole (s⁺, s⁻, alarm) series is
    * hash-portable with no IEEE step at all (stronger than ewma's
    * bit-equal doubles). A NULL value poisons its key's tail from that
    * point on (stated — an unknown observation has no deviation;
    * pre-filter or gap-fill first), distinguished EXPLICITLY on both
    * engines since `greatest` skips NULLs rather than propagating
    * them. Emitted s⁺/s⁻ are post-step, pre-reset — the alarm row
    * shows the statistic that crossed.
    *
    * Plan: ONE shuffle on key, then the whole recurrence inside a
    * single higher-order `aggregate` per key (the ewma fold idiom —
    * running array re-exploded in place; no self-join, no
    * window-per-step). Per-key history buffers in one task row (the
    * collect_list contract — bounded per-key cardinality by design).
    * Output: (key, ts, tiebreak, value, s_pos, s_neg, alarm). */
  def cusum(df: DataFrame, key: Column, ts: Column, value: Column,
      tiebreak: Column, target: Long, slack: Long,
      threshold: Long): DataFrame = {
    require(slack >= 0, s"slack must be >= 0; got $slack")
    require(threshold > 0, s"threshold must be > 0; got $threshold")
    val stT = "struct<sp:bigint,sn:bigint>"
    val prev = "element_at(acc, -1)"
    val reset = s"size(acc) = 0 OR $prev.sp >= ${threshold}L" +
      s" OR $prev.sn >= ${threshold}L"
    df.select(key.as("__k"), ts.as("__ts"), tiebreak.as("__tb"),
        value.cast("long").as("__x"))
      .filter(col("__ts").isNotNull && col("__tb").isNotNull)
      .groupBy(col("__k"))
      .agg(sort_array(collect_list(
        struct(col("__ts"), col("__tb"), col("__x")))).as("__seq"))
      .withColumn("__st", expr(
        s"""aggregate(__seq, CAST(array() AS array<$stT>),
            (acc, e) -> array_append(acc,
              CASE WHEN e.__x IS NULL
                     OR (size(acc) > 0 AND $prev IS NULL)
                   THEN CAST(NULL AS $stT)
                   ELSE named_struct(
                     'sp', greatest(0L,
                       CASE WHEN $reset THEN 0L ELSE $prev.sp END
                         + (e.__x - ${target}L - ${slack}L)),
                     'sn', greatest(0L,
                       CASE WHEN $reset THEN 0L ELSE $prev.sn END
                         + (${target}L - ${slack}L - e.__x)))
              END))"""))
      .select(col("__k"),
        explode(arrays_zip(col("__seq"), col("__st"))).as("__z"))
      .select(col("__k").as("key"), col("__z.__seq.__ts").as("ts"),
        col("__z.__seq.__tb").as("tiebreak"),
        col("__z.__seq.__x").as("value"),
        col("__z.__st.sp").as("s_pos"), col("__z.__st.sn").as("s_neg"),
        (col("__z.__st.sp") >= threshold ||
          col("__z.__st.sn") >= threshold).as("alarm"))
  }

  /** Per-key time-weighted average — the irregular-sampling mean that
    * plain AVG silently gets wrong (a sensor reporting 100× more often
    * while idle dominates an arithmetic mean; TWAP weighs each
    * observation by how long it HELD): each point holds its value until
    * the key's next point in (ts, tiebreak) order, twap = Σ(vᵢ·durᵢ) /
    * Σdurᵢ over exact micro-second durations. The LAST observation has
    * no successor and holds for ZERO duration (stated — extrapolating
    * an open interval invents data; append a sentinel observation at
    * the horizon if the tail should count). Same-timestamp ties hold
    * zero duration each except the last of the tie (honest under the
    * total (ts, tiebreak) order). A key with a single observation (or
    * all at one instant) has NO average → NULL twap with n and dur_us
    * still reported. NULL keys/timestamps/values drop up front (an
    * unknown value has no holding interval — gap-fill first).
    *
    * Portability: `value` is CALLER-QUANTIZED integers (the groupTrend
    * contract); per-row v·dur products are LONG-exact (guard your
    * quantization: |v| · key-lifetime-µs must stay under 2⁶³), sums
    * cross rows as decimal(38,0), and the one division is the
    * sign-split `(|num|·10⁶) div den` on non-negative operands where
    * Spark's truncating div equals DuckDB's flooring `//` — twap_us is
    * the exact micro-unit average, no IEEE step anywhere.
    *
    * Plan: ONE shuffle on key serving both the lead() window and the
    * final agg (same partitioning, the q27/q28 posture) — no
    * self-join, no explosion; output is key-sized. */
  def timeWeightedAvg(df: DataFrame, key: Column, ts: Column,
      value: Column, tiebreak: Column): DataFrame = {
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__um"), col("__tb"))
    df.select(key.as("__k"), unix_micros(ts).as("__um"),
        tiebreak.as("__tb"), value.cast("long").as("__x"))
      .filter(col("__k").isNotNull && col("__um").isNotNull &&
        col("__x").isNotNull)
      .withColumn("__dur",
        coalesce(lead(col("__um"), 1).over(w) - col("__um"), lit(0L)))
      .groupBy(col("__k").as("key"))
      .agg(count(lit(1)).as("n"), sum(col("__dur")).as("dur_us"),
        sum((col("__x") * col("__dur")).cast("decimal(38,0)")).as("__num"))
      .selectExpr("key", "n", "dur_us",
        """CASE WHEN dur_us > 0 THEN
             (CASE WHEN __num < 0 THEN -1L ELSE 1L END) *
             CAST((abs(__num) * 1000000) div CAST(dur_us AS decimal(38,0))
               AS BIGINT) END AS twap_us""")
  }

  def interpolate(df: DataFrame, key: Column, ts: Column, value: Column,
      stepUs: Long, maxBucketsPerKey: Long = Long.MaxValue): DataFrame = {
    require(stepUs > 0, s"stepUs must be positive; got $stepUs")
    require(maxBucketsPerKey > 0,
      s"maxBucketsPerKey must be positive; got $maxBucketsPerKey")
    val b = df.select(key.as("key"), unix_micros(ts).as("__um"),
        floor(value.cast("double") * lit(100)).cast("long").as("__cents"))
      .filter(col("key").isNotNull && col("__um").isNotNull)
      .select(col("key"), expr(s"__um div ${stepUs}L").as("bucket"), col("__cents"))
    val obs = b.groupBy(col("key"), col("bucket"))
      .agg(sum(col("__cents")).as("__sc"), count(lit(1)).as("__n"))
      .select(col("key"), col("bucket"), col("__n"),
        (col("__sc").cast("double") / 100.0 / col("__n").cast("double")).as("__v"))
    // Both carries are RUNNING frames ([unboundedPreceding, currentRow]),
    // the backward one over descending bucket order: Spark evaluates a
    // running frame incrementally (O(n) per partition) but re-scans a
    // [currentRow, unboundedFollowing] frame for every row (O(n²)) — the
    // frame-direction swap took q75 from 35.7 s to sub-second at sf0.1.
    // Since r21 the windows run over the OBSERVED buckets only, never the
    // dense spine: silent buckets are GENERATED per observed row by
    // [[spineExplode]], with the anchors they inherit carried on the
    // emitting row — deleting the spine build, its join, and their
    // exchanges; window volume drops from keys×spans to observed rows.
    // Same key partitioning → one exchange, in-partition sorts only.
    val wf = Window.partitionBy(col("key")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wb = Window.partitionBy(col("key")).orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLead = Window.partitionBy(col("key")).orderBy(col("bucket"))
    // One struct carry per direction (2 window functions, not 4): the
    // (value, anchor-bucket) pair travels together, halving per-row
    // window work — and a struct can never mix value/anchor from
    // different observations.
    val obsPoint = when(col("__v").isNotNull,
      struct(col("__v").as("v"), col("bucket").as("b")))
    val marked = obs
      .withColumn("__f", last(obsPoint, ignoreNulls = true).over(wf))
      // first observation point at or AFTER this observed bucket
      .withColumn("__bk", last(obsPoint, ignoreNulls = true).over(wb))
      // backward anchor a GAP row emitted from this row inherits: the
      // first observation point at or after the NEXT observed bucket
      .withColumn("__nbk", lead(col("__bk"), 1).over(wLead))
    val isObs = col("__bkt") === col("bucket")
    spineExplode(marked, "interpolate", stepUs, maxBucketsPerKey, wLead)
      .withColumn("__vv", when(isObs, col("__v")))
      .withColumn("__fv", col("__f.v")).withColumn("__fb", col("__f.b"))
      .withColumn("__bv", when(isObs, col("__bk.v")).otherwise(col("__nbk.v")))
      .withColumn("__bb", when(isObs, col("__bk.b")).otherwise(col("__nbk.b")))
      .withColumn("value",
        when(col("__vv").isNotNull, col("__vv"))
          .when(col("__fv").isNotNull && col("__bv").isNotNull,
            col("__fv") + (col("__bv") - col("__fv")) *
              ((col("__bkt") - col("__fb")).cast("double") /
               (col("__bb") - col("__fb")).cast("double")))
          .when(col("__fv").isNotNull, col("__fv"))
          .otherwise(col("__bv")))
      .withColumn("fill_method",
        when(col("__vv").isNotNull, "observed")
          .when(col("__fv").isNotNull && col("__bv").isNotNull, "interpolated")
          .when(col("__fv").isNotNull, "ffill")
          .when(col("__bv").isNotNull, "bfill")
          .otherwise("empty"))
      .select(col("key"), col("__bkt").as("bucket"),
        when(isObs, col("__n")).otherwise(lit(0L)).as("n"),
        col("value"), col("fill_method"))
  }

  /** Declarative corpus validation — the admission-control step of a
    * training-data pipeline: each named check is a boolean Column; the op
    * adds `violations` (array of the FAILED check names, declaration
    * order) and `is_valid`. A pure narrow projection — zero shuffle,
    * works unchanged on streams — so the common 100 TB pattern is one
    * pass that routes `is_valid` rows onward and quarantines the rest
    * WITH their reasons (a dropped row that can't say why it was dropped
    * is un-debuggable at corpus scale). NULL check results count as
    * violations: an unevaluable constraint is a failed constraint. */
  def withViolations(df: DataFrame, checks: Seq[(String, Column)]): DataFrame = {
    require(checks.nonEmpty, "withViolations needs at least one named check")
    require(checks.map(_._1).distinct.size == checks.size,
      "check names must be unique")
    val tagged = array(checks.map { case (name, c) =>
      when(coalesce(c, lit(false)), lit(null).cast("string")).otherwise(lit(name))
    }: _*)
    df.withColumn("violations", filter(tagged, v => v.isNotNull))
      .withColumn("is_valid", size(col("violations")) === 0)
  }

  /** Mixture PLANNING — the budgeting step before sampling a blended
    * training corpus: given per-row token counts, a target share per
    * source (ppm of the token budget), and the budget itself, emit one
    * row per source with its deterministic keep-rate:
    *   target_tokens = floor(share_ppm · budget / 1e6)
    *   rate_ppm      = least(1e6, floor(target_tokens · 1e6 / total_tokens))
    *   deficit_tokens = greatest(0, target_tokens − total_tokens)
    * An under-provisioned source (fewer tokens than its target) keeps
    * everything and the shortfall is SURFACED as `deficit_tokens` —
    * never silently re-spread over the other sources; re-weighting is
    * the caller's policy decision. The ratio arithmetic is plain IEEE
    * double division of exact long aggregates (identical in any IEEE
    * engine — oracle-hashed); `budgetTokens` must stay strictly below
    * 2^53 so the double math is exact (9e15 tokens ≈ a 36-PB text
    * corpus).
    *
    * Scale shape: ONE map-side-combined hash agg on source; output rows
    * = |sources| (tiny — broadcastable into [[applyMixture]]). */
  def mixtureRates(df: DataFrame, source: Column, tokens: Column,
      sharesPpm: Map[String, Int], defaultSharePpm: Int,
      budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 0 && budgetTokens < (1L << 53),
      s"budgetTokens must be in [0, 2^53); got $budgetTokens")
    require(defaultSharePpm >= 0 && sharesPpm.values.forall(_ >= 0),
      "shares must be >= 0")
    val share = sharesPpm.foldLeft(lit(defaultSharePpm)) { case (acc, (s, p)) =>
      when(col("source") === s, lit(p)).otherwise(acc)
    }
    df.groupBy(source.as("source"))
      .agg(count(lit(1)).as("n_docs"), sum(tokens.cast("long")).as("total_tokens"))
      .withColumn("share_ppm", share.cast("long"))
      .withColumn("target_tokens",
        floor(col("share_ppm").cast("double") * lit(budgetTokens.toDouble) /
          lit(1000000.0)))
      .withColumn("rate_ppm",
        // a zero-token source has no sampleable mass: rate 0, stated
        // explicitly (0/0 NaN handling differs between engines)
        when(col("total_tokens") <= 0, lit(0L)).otherwise(
          least(lit(1000000L), floor(col("target_tokens").cast("double") *
            lit(1000000.0) / col("total_tokens").cast("double")))))
      .withColumn("deficit_tokens",
        greatest(lit(0L), col("target_tokens") - col("total_tokens")))
  }

  /** Apply a [[mixtureRates]] plan: deterministic per-source Bernoulli
    * keep at the planned `rate_ppm` — the |sources|-row plan broadcasts
    * back onto the corpus and the keep decision is the q36 portable-hash
    * bucket test (prefix `mixw|`, so mixture sampling is independent of
    * any other sampler on the same keys). Output schema equals the
    * input's — the joined rate rides under a reserved `__rate_ppm`
    * alias, so a user column named `rate_ppm` on `df` passes through
    * untouched. Zero shuffle on the corpus side at any scale.
    *
    * A source with NO row in `rates` is dropped entirely (inner join):
    * no plan = no budget. Rows whose `source` is NULL are likewise
    * always dropped — an equi-join never matches NULL keys, even
    * against a NULL-source plan row. That is the right default when the
    * plan came from [[mixtureRates]] over the SAME corpus (every present
    * non-NULL source gets a row); if the plan was trained elsewhere,
    * union a default row per missing source first — silence here would
    * be a policy decision this operator refuses to make implicitly. */
  def applyMixture(df: DataFrame, source: Column, key: Column,
      rates: DataFrame): DataFrame = {
    val bucket = pmod(Portable.phash(concat(lit("mixw|"), key.cast("string"))),
      lit(1000000L))
    df.withColumn("__src", source)
      .join(broadcast(rates.select(col("source").as("__src"),
        col("rate_ppm").as("__rate_ppm"))), "__src")
      .filter(bucket < col("__rate_ppm"))
      .drop("__src", "__rate_ppm")
  }

  /** Deterministic shard-shuffle — the write-layout step of a training
    * pipeline: assigns each row a shard (0..nShards-1) and an in-shard
    * order key, both from independent seeded portable hashes of `key`.
    * Writing with `partitionBy("shard")` + `sortWithinPartitions
    * ("shuffle_key")` yields a globally shuffled, reproducible corpus
    * layout without any global sort: the op itself is a pure narrow
    * projection (zero shuffle), and the write is range-free — no
    * single-partition bottleneck at 100 TB. A different `seed` reshuffles
    * the corpus without touching the data. Nulls: a null key yields a
    * null shard/order key — surfaced, never silently bucketed.
    *
    * `key` must be UNIQUE PER ROW for the layout to be a true shuffle:
    * rows sharing a key (e.g. epoch copies from [[mixCorpus]], which
    * share the document key) get identical (shard, shuffle_key) and land
    * adjacent — include the disambiguator in the key
    * (`concat(key, lit("|"), col("copy_idx"))`). */
  def shardCorpus(df: DataFrame, key: Column, seed: Int,
      nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive; got $nShards")
    df.withColumn("shard",
        pmod(Portable.phash(concat(lit(s"shard|$seed|"), key.cast("string"))),
          lit(nShards.toLong)).cast("int"))
      .withColumn("shuffle_key",
        Portable.phash(concat(lit(s"ord|$seed|"), key.cast("string"))))
  }

  /** The write-side completion of [[shardCorpus]]: materializes the
    * shuffled corpus layout as `path/shard=N/` partitions whose files are
    * internally ordered by `shuffle_key`. One hash exchange on the shard
    * id groups each shard into a writing task (NOT a global range sort —
    * no single hot partition at any scale), and the in-task sort is
    * spill-safe. Readers that consume shards as files (training-data
    * loaders) see a reproducible global shuffle; re-running with the same
    * seed rewrites the identical layout. */
  def writeShardedCorpus(df: DataFrame, path: String, key: Column,
      seed: Int, nShards: Int, format: String = "parquet"): Unit =
    shardCorpus(df, key, seed, nShards)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("shuffle_key"))
      .write.partitionBy("shard").format(format).mode("overwrite").save(path)

  /** PII redaction: replaces email/phone shapes with placeholder tags and
    * counts the hits. Patterns restricted to the RE2-compatible subset
    * both Spark (Java regex) and the oracle (RE2) evaluate identically.
    * Narrow projection — at 100 TB this is a pure map stage.
    *
    * Matched shapes (the contract — anything else passes through):
    *  - Email: `local@domain.tld`, case-insensitive (`(?i)`), local part
    *    over `[a-z0-9._%+-]`, ≥ 2-letter TLD.
    *  - Phone: `[+C[-. ]] [(AAA) |AAA[-. ]] NNN[-. ]NNNN` — optional 1-2
    *    digit country code, optional 3-digit area code (parenthesized or
    *    separator-delimited), then 3+4 digits; separators `-`, `.`, space.
    *    Covers `+1-555-0042`, `(555) 123-4567`, `555.123.4567`, `123-4567`.
    *    The phone must sit at a token boundary: RE2 has no lookaround, so
    *    the boundary is a CONSUMED char on each side (group 1 before:
    *    start-of-string or anything but a digit/`.`/`-`; group 5 after:
    *    end-of-string or a non-digit), reinserted by the replacement.
    *    This stops matches inside longer digit/separator runs — version
    *    strings `10.123.45678`, IDs `987-654-32101` pass through intact.
    *    Consumed boundaries mean two phones separated by a SINGLE
    *    character redact only the first (documented contract edge).
    * Both patterns avoid lookaround/backrefs so Java regex and RE2 agree
    * (leftmost-first, greedy — identical spans on both engines); the
    * replacement templates differ only in syntax (`$1` vs `\1`). */
  val EmailRe = "(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  /** Group 2 = the phone itself; groups 1/5 = the consumed boundary chars. */
  val PhoneRe = "(^|[^0-9.-])((\\+[0-9]{1,2}[-. ])?(\\([0-9]{3}\\) ?|[0-9]{3}[-. ])?[0-9]{3}[-. ][0-9]{4})([^0-9]|$)"
  def redactPii(df: DataFrame, text: Column): DataFrame =
    df.withColumn("n_emails", size(regexp_extract_all(text, lit(EmailRe), lit(0))))
      .withColumn("n_phones", size(regexp_extract_all(text, lit(PhoneRe), lit(2))))
      .withColumn("redacted",
        regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"), PhoneRe,
          "$1<PHONE>$5"))

  /** Trigram repetition score: 1 − distinct/total trigrams — the
    * boilerplate/repetition quality signal. Distinct trigrams reuse the
    * codegen'd one-pass shingle hasher (no shingle strings materialize). */
  def repetitionScore(df: DataFrame, text: Column, width: Int = 3): DataFrame =
    df.withColumn("__toks", Text.tokens(text))
      .withColumn("n_ngrams", greatest(size(col("__toks")) - lit(width - 1), lit(0)))
      .withColumn("n_uniq",
        size(graft.functions.ShingleHashes.asColumn(col("__toks"), width)))
      .withColumn("rep_ratio",
        when(col("n_ngrams") > 0,
          lit(1.0) - col("n_uniq").cast("double") / col("n_ngrams").cast("double"))
        .otherwise(lit(0.0)))
      .drop("__toks")

  /** Benchmark decontamination — the training-data hygiene step: annotate
    * each corpus document with the count of its distinct `width`-gram
    * shingles that also occur anywhere in `eval` (a benchmark/test set).
    * Docs with `n_contam > 0` share verbatim n-grams with the eval set
    * and are candidate leaks; callers filter at their chosen threshold.
    *
    * Scale shape: both sides reduce to distinct int64 shingle hashes
    * (codegen'd one-pass, no shingle strings materialize), the eval set
    * collapses to ONE distinct hash set (benchmarks are small relative to
    * a training corpus → AQE broadcasts it), and the overlap count is a
    * map-side-combined aggregate over the corpus posting list — no string
    * shuffles, nothing quadratic. Standard practice uses widths around
    * 8–13; the default is 13 (the common n-gram decontamination
    * convention in LLM training pipelines). */
  /** Novelty / boilerplate-mass scoring against a reference corpus —
    * the curation score "how much of this document is text we already
    * have": per document, total `width`-gram shingle OCCURRENCES,
    * occurrences whose shingle appears NOWHERE in the reference, and
    * the exact integer-ppm novelty share (unseen·10⁶ div total). The
    * occurrence-mass complement of [[decontaminate]] (which counts
    * DISTINCT overlapping shingles for a drop/keep decision): here a
    * document that repeats one known slogan fifty times scores fifty
    * known occurrences — the boilerplate/memorization-audit weighting,
    * low novelty → near-duplicate of the reference mass, high →
    * genuinely new text. A document with fewer than `width` tokens has
    * no shingles → 0/0 counts and NULL ppm (novelty of nothing is
    * undefined — stated, never a divide).
    *
    * Plan: reference collapses to its DISTINCT shingle-hash vocabulary
    * (one agg); document totals come NARROWLY from the codegen'd
    * shingle array's size (no shuffle); only the unseen count joins —
    * a left-anti against the vocabulary (AQE broadcasts a small
    * vocabulary; for eval-set-sized references that posture is
    * [[decontaminate]]'s, and a [[decontaminateBloom]]-style map-side
    * pre-filter is the documented escape hatch past ~10⁸ shingles) —
    * then one map-side-combined agg on doc id and one doc-keyed join
    * back. Output: (id, n_shingles, n_unseen, novelty_ppm). */
  def noveltyScore(df: DataFrame, id: Column, text: Column,
      reference: DataFrame, refText: Column, width: Int = 13): DataFrame = {
    require(width >= 1, s"width must be >= 1; got $width")
    val refVocab = reference.select(explode(
        graft.functions.ShingleHashes.asColumn(Text.tokens(refText), width))
        .as("__sh")).distinct()
    val withTot = df.select(id.as("id"),
        graft.functions.ShingleHashesAll.asColumn(Text.tokens(text), width)
          .as("__shs"))
      .withColumn("__tot", size(col("__shs")).cast("long"))
    val unseen = withTot
      .select(col("id"), explode(col("__shs")).as("__sh"))
      .join(refVocab, Seq("__sh"), "left_anti")
      .groupBy(col("id")).agg(count(lit(1)).as("__un"))
    withTot.join(unseen, Seq("id"), "left")
      .select(col("id"), col("__tot").as("n_shingles"),
        coalesce(col("__un"), lit(0L)).as("n_unseen"),
        when(col("__tot") > 0, expr(
          "coalesce(__un, 0L) * 1000000L div __tot")).as("novelty_ppm"))
  }

  def decontaminate(corpus: DataFrame, id: Column, text: Column,
      eval: DataFrame, evalText: Column, width: Int = 13): DataFrame = {
    val evalSh = eval.select(explode(graft.functions.ShingleHashes.asColumn(
        Text.tokens(evalText), width)).as("__sh")).distinct()
    val docSh = corpus.select(id.as("__cid"), explode(
        graft.functions.ShingleHashes.asColumn(Text.tokens(text), width))
        .as("__sh"))
    val overlap = docSh.join(evalSh, Seq("__sh"))
      .groupBy(col("__cid")).agg(count(lit(1)).as("__n"))
    corpus.join(overlap, id === col("__cid"), "left")
      .withColumn("n_contam", coalesce(col("__n"), lit(0L)))
      .drop("__cid", "__n")
  }

  /** The bloom tier of [[decontaminate]] — bit-identical output, built for
    * eval sets too large to broadcast as a hash relation. [[decontaminate]]
    * relies on AQE broadcasting the distinct eval-shingle set; once that
    * set outgrows the broadcast threshold (~10⁸ shingles) the overlap join
    * shuffles the ENTIRE corpus posting list — the classic 100 TB cliff.
    * Here the eval set is first collapsed to a bloom filter (~`bloomBits`/8
    * bytes regardless of eval size — a MODEL, like a k-means codebook, so
    * the one driver collect is bounded by the parameter, never by data)
    * embedded as a literal into a codegen'd `might_contain` predicate.
    * Corpus shingles that miss the bloom — in a decontamination setting,
    * almost all of them — are dropped map-side, BEFORE any shuffle; only
    * bloom-positive candidates reach the exact confirm join, which kills
    * the false positives. `fpp` therefore affects only the candidate
    * volume, never the answer: output == [[decontaminate]] exactly
    * (spec-asserted), which is also why the two share one oracle shape.
    *
    * Sizing: ~1.44·n·log₂(1/fpp) bits for n distinct eval shingles — the
    * default 2²³ bits (1 MB, Spark's own runtime-filter default) holds
    * ~600k shingles at 1% fpp; size UP for big eval sets (the literal
    * rides in every task binary, so keep it ≤ a few MB). The bloom is
    * built distributed (one [[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate]]
    * pass, partial blooms OR-merged), not on the driver. */
  def decontaminateBloom(corpus: DataFrame, id: Column, text: Column,
      eval: DataFrame, evalText: Column, width: Int = 13,
      expectedItems: Long = 1L << 20, bloomBits: Long = 1L << 23): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types.BinaryType
    val evalSh = eval.select(explode(graft.functions.ShingleHashes.asColumn(
        Text.tokens(evalText), width)).as("__sh")).distinct()
    val bloomBytes = evalSh.agg(ColumnBridge.column(
        new BloomFilterAggregate(ColumnBridge.expression(col("__sh")),
          Literal(expectedItems), Literal(bloomBits)).toAggregateExpression())
        .as("__bf")).head().getAs[Array[Byte]](0)
    val docSh = corpus.select(id.as("__cid"), explode(
        graft.functions.ShingleHashes.asColumn(Text.tokens(text), width))
        .as("__sh"))
    // empty eval set -> no bloom (aggregate over zero rows yields NULL):
    // nothing can overlap, skip both joins
    val overlap =
      if (bloomBytes == null)
        docSh.select(col("__cid"), lit(0L).as("__n")).limit(0)
      else
        docSh.filter(ColumnBridge.column(BloomFilterMightContain(
            Literal(bloomBytes, BinaryType),
            ColumnBridge.expression(col("__sh")))))
          .join(evalSh, Seq("__sh"))
          .groupBy(col("__cid")).agg(count(lit(1)).as("__n"))
    corpus.join(overlap, id === col("__cid"), "left")
      .withColumn("n_contam", coalesce(col("__n"), lit(0L)))
      .drop("__cid", "__n")
  }

  /** Benchmark-contamination EVIDENCE report — the q118-style
    * composition proof over the decontamination family ([[decontaminate]]
    * counts overlap mass per doc, [[ngramContainment]] scores asymmetric
    * containment, [[phraseMatch]] pins exact spans): one row per
    * (document, benchmark) pair with every signal an audit needs to
    * adjudicate leakage, instead of three separate reports to join by
    * hand:
    *
    *  - n_bench_windows: the benchmark's DISTINCT `width`-token windows
    *  - n_hits: positional window matches in the doc (shingle MASS —
    *    overlapping doc windows each count)
    *  - n_overlap: DISTINCT benchmark windows the doc contains
    *  - containment_ppm: n_overlap·10⁶ div n_bench_windows (the q82
    *    directional score — benchmark contained in doc; 10⁶ = every
    *    benchmark window occurs somewhere in the doc)
    *  - max_span_tokens: the longest CONTIGUOUS doc span all of whose
    *    `width`-windows occur in the benchmark — the ExactSubstr
    *    evidence grain (Lee et al. 2022): with windows overlapping by
    *    width−1 tokens, a long span of benchmark-only windows is the
    *    benchmark text itself up to pathological repetition
    *  - full_span (0/1): max span covers ≥ the benchmark's whole window
    *    count — the benchmark appears as ONE contiguous quote
    *
    * Pairs below `minOverlap` distinct shared windows drop (evidence
    * report, not an annotation — [[decontaminate]] is the keep-all
    * face). All integers (hash-gates, q149).
    *
    * Scale shape: benchmark suites are eval-scale, so the bench window
    * table broadcasts (past ~10⁸ windows use [[decontaminateBloom]]'s
    * pre-filter first); doc windows are one codegen'd positional-hash
    * pass; ONLY matching positions shuffle, once, on (doc, benchmark);
    * the per-pair position list is doc-length-bounded and the longest
    * run is one sorted fold over it (the ewma/topPaths idiom) — no
    * window function, no second shuffle, never corpus × eval. */
  def contaminationReport(corpus: DataFrame, id: Column, text: Column,
      eval: DataFrame, evalId: Column, evalText: Column,
      width: Int = 13, minOverlap: Long = 1L): DataFrame = {
    require(width >= 1, s"width must be >= 1; got $width")
    require(minOverlap >= 1, s"minOverlap must be >= 1; got $minOverlap")
    val bench = eval.select(evalId.as("bench_id"),
        explode(graft.functions.ShingleHashes.asColumn(
          Text.tokens(evalText), width)).as("__sh"))
      .filter(col("bench_id").isNotNull)
    val bsz = bench.groupBy(col("bench_id"))
      .agg(count(lit(1)).as("n_bench_windows"))
    val docPos = corpus.select(id.as("doc_id"),
        posexplode(graft.functions.ShingleHashesAll.asColumn(
          Text.tokens(text), width)))
      .select(col("doc_id"), col("pos"), col("col").as("__sh"))
    val hits = docPos.join(bench, Seq("__sh"))
    // longest run of consecutive matched positions: fold the sorted
    // distinct position list left to right (sizes, not countDistinct —
    // no Expand; the whole agg is one pass over the hit rows)
    val runFold =
      """aggregate(__ps,
           struct(CAST(-2 AS INT) AS prev, CAST(0 AS BIGINT) AS cur,
                  CAST(0 AS BIGINT) AS best),
           (s, p) -> named_struct(
             'prev', p,
             'cur', IF(p = s.prev + 1, s.cur + 1L, 1L),
             'best', GREATEST(s.best, IF(p = s.prev + 1, s.cur + 1L, 1L))),
           s -> s.best)"""
    hits.groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_hits"),
        size(collect_set(col("__sh"))).cast("long").as("n_overlap"),
        sort_array(collect_set(col("pos"))).as("__ps"))
      .filter(col("n_overlap") >= minOverlap)
      .join(broadcast(bsz), "bench_id")
      .withColumn("__run", expr(runFold))
      .select(col("doc_id"), col("bench_id"), col("n_bench_windows"),
        col("n_hits"), col("n_overlap"),
        expr("n_overlap * 1000000L div n_bench_windows").as("containment_ppm"),
        (col("__run") + lit(width - 1)).as("max_span_tokens"),
        (col("__run") >= col("n_bench_windows")).cast("int").as("full_span"))
  }

}

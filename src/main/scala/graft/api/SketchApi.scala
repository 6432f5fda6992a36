package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{CosineSim, Portable, Text}
/** sketch & encoding family: CMS, KMV, vocabulary/BPE/unigram tokenizers, scalar quantization — members of [[GraftOps]], split out of the former single
  * 6,600-line object (round 19) purely for maintainability: the trait
  * mixes back into `object GraftOps`, so every callsite, registry op,
  * and scaladoc link is untouched. The self-type makes members of the
  * other family traits visible exactly as before the split. */
private[api] trait SketchApi { self: GraftOps.type =>

  // ---------------------------------------------------- sketch algebra

  /** Count-min sketch of a key column: a depth × width counter grid,
    * cell (j, b) = count of rows whose j-th seeded portable hash lands
    * in bucket b. The hash family is md5-derived
    * ([[graft.functions.Portable]]), so the sketch — and every estimate
    * read from it — is DETERMINISTIC and engine-portable: unlike the
    * opaque-register HLL tier (q15b, rows-only by design) this sketch
    * hash-gates against DuckDB computing the identical counters. The
    * frequency complement of [[heavyHittersSketch]]: MG bounds the
    * CANDIDATE set, CMS bounds the whole COUNTER state — shuffle
    * carries at most depth·width cells per task after map-side partial
    * aggregation, never the key space (the depth× row expansion exists
    * map-side only, the bounded analogue of q147's Expand). Returns
    * (j, bucket, c). Mergeable: the sketch of a union is the cell-wise
    * sum of the parts' sketches (spec-pinned law), so per-shard
    * sketches fold into a corpus sketch without a re-scan. */
  def cmsSketch(df: DataFrame, key: Column, depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth must be in [1,16]; got $depth")
    require(width >= 2, s"width must be >= 2; got $width")
    val ks = df.select(key.cast("string").as("key")).filter(col("key").isNotNull)
    ks.select(explode(array((0 until depth).map(j =>
          struct(lit(j).as("j"),
            pmod(Portable.phash(concat(lit(s"cms$j|"), col("key"))),
              lit(width.toLong)).as("bucket"))): _*)).as("__c"))
      .groupBy(col("__c.j").as("j"), col("__c.bucket").as("bucket"))
      .agg(count(lit(1)).as("c"))
  }

  /** Point-query a [[cmsSketch]]: estimated count per distinct query
    * key = min over the `depth` counter cells the key hashes to. The
    * CMS guarantee — est ≥ true count, ALWAYS (counters only ever
    * overcount) — is spec-pinned over every key of the fixture. The
    * sketch side broadcasts (≤ depth·width rows by construction);
    * cells no row ever hit are not materialized, so absent cells read
    * as 0 through the left join (a never-seen key estimates 0). */
  def cmsQuery(sketch: DataFrame, keys: DataFrame, key: Column,
      depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth must be in [1,16]; got $depth")
    require(width >= 2, s"width must be >= 2; got $width")
    keys.select(key.cast("string").as("key")).filter(col("key").isNotNull)
      .distinct()
      .select(col("key"), explode(array((0 until depth).map(j =>
        struct(lit(j).as("j"),
          pmod(Portable.phash(concat(lit(s"cms$j|"), col("key"))),
            lit(width.toLong)).as("bucket"))): _*)).as("__l"))
      .select(col("key"), col("__l.j").as("j"), col("__l.bucket").as("bucket"))
      .join(broadcast(sketch), Seq("j", "bucket"), "left")
      .groupBy(col("key"))
      .agg(min(coalesce(col("c"), lit(0L))).as("est"))
  }

  /** CMS adjudication report: the exact top-`topN` keys (count desc,
    * key asc — a total order) with true count, [[cmsSketch]] estimate,
    * and the overcount — the face that lets the driver hash-gate the
    * sketch family end to end (q150). The exact pass exists FOR the
    * report; the scale faces are [[cmsSketch]]/[[cmsQuery]] alone,
    * whose state never exceeds depth·width cells regardless of key
    * cardinality. */
  def cmsFrequencyReport(df: DataFrame, key: Column, depth: Int,
      width: Int, topN: Int): DataFrame = {
    require(topN >= 1, s"topN must be >= 1; got $topN")
    val ks = df.select(key.cast("string").as("key")).filter(col("key").isNotNull)
    val top = ks.groupBy(col("key")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("key")).limit(topN)
    cmsQuery(cmsSketch(df, key, depth, width), top, col("key"), depth, width)
      .join(top, Seq("key"))
      .select(col("key"), col("n"), col("est"),
        (col("est") - col("n")).as("overcount"))
      .orderBy(desc("n"), col("key"))
  }

  /** KMV (k-minimum-values / bottom-k theta) distinct sketch per group:
    * the `k` smallest DISTINCT 40-bit portable hashes of `value` within
    * each group, as (grp, h) rows. The hash is the md5 60-bit portable
    * hash truncated to 40 bits (shiftright 20) so every estimator
    * downstream stays in exact BIGINT arithmetic (cnt·2⁴⁰ ≤ 2⁴⁸ —
    * both engines floor-divide identically; a decimal path would round
    * at engine-specific scales). Truncation bias is negligible by
    * construction: only the BOTTOM-k region matters, and two values
    * colliding inside it needs a k²/2⁴¹ event — independent of corpus
    * cardinality. Build = one distinct on (grp, hash) — the only
    * corpus-scale shuffle — then a per-group bottom-k over the
    * already-distinct hash table; sketches are |groups|·k rows
    * (broadcast-sized). Mergeable: the sketch of a union is the
    * bottom-k of the parts' sketches (spec-pinned law). NULL groups
    * and NULL values drop. */
  def kmvSketch(df: DataFrame, group: Column, value: Column, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2; got $k")
    val d = df.select(group.cast("string").as("grp"),
        shiftright(Portable.phash(concat(lit("kmv|"), value)), 20).as("h"))
      .filter(col("grp").isNotNull && col("h").isNotNull)
      .distinct()
    val w = Window.partitionBy(col("grp")).orderBy(col("h"))
    d.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k)
      .select(col("grp"), col("h"))
  }

  /** Distinct-cardinality set algebra over [[kmvSketch]] — the
    * theta-sketch estimators, all in exact integer arithmetic: per
    * unordered group pair, estimated distinct counts of each side
    * (est_a/est_b — EXACT when a group holds < k distinct hashes,
    * since then theta = 2⁴⁰ and the sketch IS the value set),
    * estimated intersection and union cardinalities, and an integer
    * Jaccard. Estimator: theta_g = k-th smallest hash when saturated
    * (else 2⁴⁰); retained = hashes < theta; est = |retained|·2⁴⁰ div
    * theta. Pairwise: theta = min(theta_a, theta_b); n_common =
    * |sk_a ∩ sk_b below theta|; est_inter = n_common·2⁴⁰ div theta;
    * union via inclusion–exclusion of below-theta counts;
    * jaccard_ppm = n_common·10⁶ div union_count (theta cancels — the
    * floor-free form). The sketch build is the only corpus-scale
    * stage; every pairwise stage runs on |groups|·k rows. The
    * hash-gated complement of approx_count_distinct: HLL registers
    * are engine-opaque (q15b stays rows-only), KMV bottom-k sets are
    * portable values both engines reproduce bit-for-bit (q151). */
  def kmvOverlapReport(df: DataFrame, group: Column, value: Column,
      k: Int): DataFrame = {
    val TWO40 = 1099511627776L
    // the report fans the sketch into four consumers (stats, two
    // below-theta counts, the common-hash join): localCheckpoint the
    // |groups|·k-row sketch eagerly so the corpus-scale distinct runs
    // ONCE, not once per consumer (the q137 lineage-hygiene idiom)
    val sk = kmvSketch(df, group, value, k).localCheckpoint(true)
    val th = sk.groupBy(col("grp"))
      .agg(count(lit(1)).as("__sz"), max(col("h")).as("__hmax"))
      .withColumn("theta",
        when(col("__sz") < k, lit(TWO40)).otherwise(col("__hmax")))
      .withColumn("cnt",
        when(col("__sz") < k, col("__sz")).otherwise(lit((k - 1).toLong)))
      .withColumn("est", expr(s"(cnt * $TWO40) div greatest(theta, 1)"))
    val pairs = th.select(col("grp").as("grp_a"), col("theta").as("__tha"),
        col("est").as("est_a"))
      .crossJoin(th.select(col("grp").as("grp_b"), col("theta").as("__thb"),
        col("est").as("est_b")))
      .filter(col("grp_a") < col("grp_b"))
      .withColumn("__thmin", least(col("__tha"), col("__thb")))
    def below(side: String) =
      sk.select(col("grp").as(s"grp_$side"), col("h"))
        .join(pairs.select(col("grp_a"), col("grp_b"), col("__thmin")),
          Seq(s"grp_$side"))
        .filter(col("h") < col("__thmin"))
        .groupBy(col("grp_a"), col("grp_b"))
        .agg(count(lit(1)).as(s"__n$side"))
    val common = sk.select(col("grp").as("grp_a"), col("h"))
      .join(sk.select(col("grp").as("grp_b"), col("h")), Seq("h"))
      .filter(col("grp_a") < col("grp_b"))
      .join(pairs.select(col("grp_a"), col("grp_b"), col("__thmin")),
        Seq("grp_a", "grp_b"))
      .filter(col("h") < col("__thmin"))
      .groupBy(col("grp_a"), col("grp_b"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(below("a"), Seq("grp_a", "grp_b"), "left")
      .join(below("b"), Seq("grp_a", "grp_b"), "left")
      .join(common, Seq("grp_a", "grp_b"), "left")
      .na.fill(0L, Seq("__na", "__nb", "n_common"))
      .withColumn("__u", col("__na") + col("__nb") - col("n_common"))
      .withColumn("est_inter",
        expr(s"(n_common * $TWO40) div greatest(__thmin, 1)"))
      .withColumn("est_union",
        expr(s"(__u * $TWO40) div greatest(__thmin, 1)"))
      .withColumn("jaccard_ppm",
        expr("(n_common * 1000000) div greatest(__u, 1)"))
      .select(col("grp_a"), col("grp_b"), col("est_a"), col("est_b"),
        col("n_common"), col("est_inter"), col("est_union"),
        col("jaccard_ppm"))
  }

  /** Collocation mining over an adjacent-token bigram column: ranks
    * bigrams by LIFT — observed co-occurrence over the independence
    * expectation from the bigram table's own margins,
    * `n_xy · N / (n_x· · n_·y)` — the log-free core of PMI (log is
    * monotone, so the ranking is identical and the arithmetic stays
    * engine-portable: exact long counts, two IEEE multiplies, one
    * divide; exact while counts stay under 2⁵³). `minCount` suppresses
    * the classic PMI failure mode (rare pairs with sky-high lift).
    *
    * Plan: one hash agg over the bigram vocabulary, two margin aggs +
    * equi-joins keyed by token, and a TakeOrderedAndProject for the
    * top-k — no global sort materializes past k rows. */
  def collocations(df: DataFrame, bigram: Column, minCount: Long,
      k: Int): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1; got $minCount")
    require(k >= 1, s"k must be >= 1; got $k")
    val c = df.select(bigram.as("bg")).filter(col("bg").isNotNull)
      .groupBy(col("bg")).agg(count(lit(1)).as("n"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
    val m1 = c.groupBy(col("w1")).agg(sum(col("n")).as("n1"))
    val m2 = c.groupBy(col("w2")).agg(sum(col("n")).as("n2"))
    val tot = c.agg(sum(col("n")).as("__total"))
    c.filter(col("n") >= minCount)
      .join(m1, "w1").join(m2, "w2")
      .crossJoin(broadcast(tot))
      .withColumn("lift",
        col("n").cast("double") * col("__total").cast("double") /
          (col("n1").cast("double") * col("n2").cast("double")))
      .select(col("bg"), col("n"), col("n1"), col("n2"), col("lift"))
      .orderBy(desc("lift"), col("bg"))
      .limit(k)
  }

  // --------------------------------------------- vocabulary encoding

  /** Frequency vocabulary over a token-array column: the `topK` most
    * frequent tokens, each assigned a DENSE integer id 0..K−1 by
    * (count desc, token asc) — a deterministic TOTAL order, so the id
    * assignment (including ties at the K boundary) is engine-portable
    * (q109 gates it). Returns (token, token_id int, n long). NULL
    * tokens are ignored (an id for SQL-missing would be meaningless).
    *
    * Plan: one map-side-combined hash agg over the token vocabulary +
    * a TakeOrderedAndProject at topK — the corpus ships partial
    * per-token counts, never rows; the id assignment is a
    * single-partition window over the ALREADY-topK-bounded rows,
    * which is model-sized BY CONTRACT (topK is a tokenizer's vocab
    * budget — 2¹⁵–2¹⁸ — not a corpus dimension; the k-centroid
    * idiom). At 100 TB the vocabulary agg is the only corpus-wide
    * cost and it is exactly [[heavyHitters]]'s shape. */
  def buildVocab(df: DataFrame, toks: Column, topK: Int): DataFrame = {
    require(topK >= 1 && topK <= 1000000,
      s"topK must be in [1, 1e6]; got $topK")
    val counts = df.select(explode(toks).as("token"))
      .filter(col("token").isNotNull)
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("token")).limit(topK)
    val w = Window.orderBy(desc("n"), col("token"))
    counts.withColumn("token_id", (row_number().over(w) - 1).cast("int"))
      .select(col("token"), col("token_id"), col("n"))
  }

  /** Token→id encoding against a [[buildVocab]] vocabulary: adds
    * `token_ids` (array<int>) — each token replaced by its vocab id,
    * out-of-vocabulary tokens by `oovId`. A NULL token array stays
    * NULL, an empty one encodes to `[]` (missing text and empty text
    * are different facts). The vocabulary must carry dense unique ids
    * 0..n−1 ([[buildVocab]]'s contract — anything else fails loudly
    * here, not as silently-garbled ids).
    *
    * Plan: the vocabulary collects to the driver (topK-bounded —
    * MODEL-sized, the sqEncode/k-centroid idiom, NOT a corpus collect)
    * and ships once per task inside the codegen'd
    * [[graft.functions.TokenIds]] expression, which probes a real
    * HashMap — O(1) per token. The CORPUS NEVER SHUFFLES: no
    * explode → join → re-assemble round trip on doc_id (two
    * token-grain shuffles), and no `try_element_at` over a Catalyst
    * map literal (an O(K) linear scan per token — measured 7× this
    * query's cost at K=512). Pure narrow projection at any scale. */
  def encodeTokens(df: DataFrame, toks: Column, vocab: DataFrame,
      oovId: Int = -1): DataFrame = {
    val rows = vocab.select(col("token"), col("token_id")).collect()
      .map(r => (r.getString(0), r.getInt(1))).sortBy(_._2)
    require(rows.nonEmpty, "vocabulary is empty")
    require(rows.map(_._2).toSeq == rows.indices,
      s"vocab ids must be exactly 0..${rows.length - 1} (buildVocab's contract)")
    require(rows.map(_._1).distinct.length == rows.length,
      "vocab tokens must be unique")
    df.withColumn("token_ids",
      graft.functions.TokenIds.asColumn(toks, rows.map(_._1).toSeq, oovId))
  }

  /** Markup→text extraction — the first transform a crawled HTML corpus
    * goes through before any quality/dedup pass: drops `<script>` and
    * `<style>` blocks WITH their contents, strips every remaining tag
    * (replaced by a space so `a</p><p>b` never word-joins), decodes the
    * five core entities (`&lt; &gt; &quot; &#39;` first, `&amp;`
    * deliberately LAST — single-pass HTML semantics, so literal
    * `&amp;lt;` decodes to `&lt;`, never double-decodes to `<`; entities
    * outside the set pass through verbatim), then collapses whitespace
    * runs (explicit `[ \t\n\r\f]` class — RE2 and Java disagree on `\s`
    * vs vertical tab, so the contract names its characters) and trims.
    * Every step is a stock codegen'd string function both engines can
    * state verbatim — q110 hash-gates the full chain. NULL markup stays
    * NULL.
    *
    * Plan: pure narrow projection, zero shuffles at any scale — the
    * chunkDocuments posture; regex work is per-row and codegen'd
    * (no UDF, no mapPartitions). */
  def extractText(df: DataFrame, markup: Column,
      out: String = "extracted"): DataFrame = {
    val noScript =
      regexp_replace(markup, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle =
      regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "<[^>]*>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, ch)) => replace(c, lit(e), lit(ch)) }
    df.withColumn(out, trim(regexp_replace(decoded, "[ \\t\\n\\r\\f]+", " ")))
  }

  /** Initial BPE symbol state of a word: one single-character symbol
    * per position, stated as substring probes (NOT `split(w, '')` —
    * engines disagree on empty-regex split tails, while `substr` is
    * identical everywhere). Empty word → empty symbol list. */
  private def charSyms(w: Column): Column =
    when(length(w) >= 1,
      transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1))))
      .otherwise(array().cast("array<string>"))

  /** Apply ONE BPE merge (x, y) → xy to a symbol list, greedy
    * left-to-right non-overlapping (the reference BPE application
    * order): fold symbols left to right; when the accumulator's last
    * symbol is x and the incoming one is y, replace the last with xy,
    * else append. A just-merged xy can never false-re-merge as the x
    * of the same pass (xy == x would need y empty), so the plain fold
    * IS the greedy semantics — no flag, no second pass. */
  private def applyMerge(syms: Column, x: String, y: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, s) => when(
        size(acc) > 0 && element_at(acc, -1) === lit(x) && s === lit(y),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(x + y))))
        .otherwise(array_append(acc, s)))

  /** Byte-pair-encoding merge TRAINING — the iterative half of a real
    * subword tokenizer (the [[buildVocab]] frequency-unigram build is
    * the flat alternative): starting from per-character symbols of
    * every distinct word, repeat `nMerges` times — count adjacent
    * symbol pairs across the corpus (each POSITION counts, weighted by
    * word frequency — the reference BPE statistic, so a run of k equal
    * symbols contributes k−1), merge the most frequent pair everywhere
    * (greedy left-to-right non-overlapping), record it. Ties break
    * (count desc, left asc, right asc) — a deterministic TOTAL order,
    * so every merge rank and count is engine-portable (q135 gates the
    * whole table against DuckDB's unrolled recursive-CTE restatement).
    * Stops early if pairs run out (fewer rows than requested — words
    * fully merged). Returns (rank 1.., left, right, n).
    *
    * Plan: ONE corpus-wide pass (explode → word-grain hash agg) and
    * everything after runs on the DISTINCT-WORD table — vocabulary-
    * scale BY CONTRACT (a 100 TB corpus still has a bounded word
    * vocabulary; the k-centroid idiom). Each iteration is one
    * map-side-combined pair agg + a 1-ROW argmax collect (a trained
    * constant, NOT a corpus collect) + a narrow per-word fold, with
    * the evolving symbol table checkpointed per round in a
    * [[Checkpoints]] scope (without it iteration k recomputes all k−1
    * prior folds). Eager like every trainer. */
  def bpeFit(df: DataFrame, toks: Column, nMerges: Int): DataFrame = {
    require(nMerges >= 1 && nMerges <= 256,
      s"nMerges must be in [1, 256]; got $nMerges")
    val spark = df.sparkSession
    import spark.implicits._
    // r22 (guide §5 — one pass per merge round instead of two): each
    // round's most-frequent-pair argmax is observed on the SAME job
    // that checkpoints the round's symbol table, via the
    // [[graft.functions.TopAdjacentPair]] aggregate (the former
    // explode + groupBy + orderBy-limit-1 collect, bit-identical —
    // integer counts, the same UTF-8-binary tie order).
    val top = graft.functions.TopAdjacentPair.asColumn(
      col("__f"), col("__syms")).as("__top")
    Checkpoints.scoped { cp =>
      var (syms, t) = cp(df.select(explode(toks).as("__w"))
        .filter(col("__w").isNotNull)
        .groupBy(col("__w")).agg(count(lit(1)).as("__f"))
        .select(col("__f"), charSyms(col("__w")).as("__syms")), top)
      val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
      // NULL top pair: no adjacent pairs left — every word fully merged
      while (merges.length < nMerges && !t.isNullAt(0)) {
        val best = t.getStruct(0)
        val (x, y) = (best.getString(0), best.getString(1))
        merges += ((merges.length + 1, x, y, best.getLong(2)))
        if (merges.length < nMerges) { // the last merge's table is unused
          val (next, nextT) = cp(syms.select(col("__f"),
            applyMerge(col("__syms"), x, y).as("__syms")), top)
          cp.release(syms)
          syms = next
          t = nextT
        }
      }
      merges.toSeq.toDF("rank", "left", "right", "n")
    }
  }

  /** The encode half of BPE: adds `pieces` (array<array<string>> — one
    * subword-piece list per input token), applying a [[bpeFit]] merge
    * table in RANK order to each token's character symbols. Applying
    * the ranked merges to a training word reproduces the trainer's
    * final symbol state EXACTLY (each encode step k sees the same
    * symbol state the trainer saw at step k — spec-pinned law), and
    * unseen words segment deterministically with the same rule (no
    * vocabulary probe, no OOV cliff — characters are the floor). A
    * NULL token array stays NULL; a NULL token yields a NULL piece
    * list (unknown word ≠ empty word); empty tokens encode to empty
    * piece lists. Merge ranks must be dense 1..n (bpeFit's contract —
    * loud failure, not silently reordered merges).
    *
    * Plan: the merge table collects to the driver (nMerges rows —
    * MODEL-sized, the encodeTokens idiom) and ships once per task
    * inside the codegen'd [[graft.functions.BpeSegment]] expression —
    * a tight O(len · nMerges) JVM loop per token (the declarative
    * n-deep chain of interpreted HOF folds computed the identical
    * pieces ~8× slower). The CORPUS NEVER SHUFFLES — pure narrow
    * projection at any scale. */
  def bpeEncode(df: DataFrame, toks: Column, merges: DataFrame,
      out: String = "pieces"): DataFrame = {
    val ms = merges.select(col("rank").cast("int"), col("left"), col("right"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    require(ms.nonEmpty, "merge table is empty")
    require(ms.map(_._1).toSeq == (1 to ms.length),
      s"merge ranks must be exactly 1..${ms.length} (bpeFit's contract)")
    df.withColumn(out, graft.functions.BpeSegment.asColumn(
      toks, ms.map(m => (m._2, m._3)).toSeq))
  }

  /** Unigram-LM (SentencePiece-style) tokenizer TRAINING — the
    * probabilistic member of the tokenizer family (q109 frequency
    * vocab, q135 greedy BPE merges): EM-prune a seed vocabulary of
    * word substrings down to `vocabSize` pieces under exact
    * fixed-point likelihoods, so the whole trained table hash-gates
    * (q148) — no libm anywhere:
    *
    *  1. word table: distinct corpus words with counts, words longer
    *     than `maxWordLen` codepoints dropped, top `topWords` kept by
    *     (count desc, word asc) — training on the hot word table is
    *     the standard sampled-corpus posture (SentencePiece trains on
    *     a corpus sample; the q135 distinct-word precedent)
    *  2. seed: every substring of length ≤ `maxPieceLen` with
    *     positional multiplicity, mass = Σ word-count; ALL single
    *     codepoints kept (coverage floor) + top (vocabSize − nChars)
    *     multi-codepoint pieces by (mass desc, piece asc)
    *  3. `iters` EM rounds: score each piece sur_q10 = exact
    *     [[log2Q10]] of (total mass / piece mass); Viterbi-segment
    *     every word under those scores ([[graft.functions.UnigramSegment]]
    *     — min total surprisal, ties by fewer pieces then UTF-8
    *     path order, the pinned order the oracle restates by path
    *     enumeration); re-mass pieces by segmentation usage
    *     (occurrences × word count); single codepoints floor at mass 1
    *     (coverage can never be pruned), used multi pieces re-prune to
    *     the top (vocabSize − nChars)
    *
    * Returns (piece, mass, sur_q10, rank) under the final masses,
    * rank dense 1.. by (mass desc, piece asc).
    *
    * Plan: ONE corpus pass (explode → word hash agg, map-side
    * combined); everything after runs at WORD-TABLE or VOCABULARY
    * scale by contract (the bpeFit posture) — per round one narrow
    * codegen'd segmentation over ≤ topWords rows, one tiny agg, one
    * model-sized collect (the trained constants, never the corpus),
    * checkpointed per round in a [[Checkpoints]] scope.
    * Loud failure when total/mass would overflow the ladder's 2³³
    * contract or vocabSize can't hold the single-codepoint floor. */
  def unigramFit(df: DataFrame, toks: Column, vocabSize: Int,
      iters: Int = 2, maxPieceLen: Int = 4, topWords: Int = 400,
      maxWordLen: Int = 16): DataFrame = {
    require(vocabSize >= 2, s"vocabSize must be >= 2; got $vocabSize")
    require(iters >= 1 && iters <= 16, s"iters must be in [1, 16]; got $iters")
    require(maxPieceLen >= 2, s"maxPieceLen must be >= 2; got $maxPieceLen")
    require(topWords >= 1, s"topWords must be >= 1; got $topWords")
    require(maxWordLen >= 1, s"maxWordLen must be >= 1; got $maxWordLen")
    Checkpoints.scoped { cp =>
      val (words, _) = cp(df.select(explode(toks).as("__w"))
        .filter(col("__w").isNotNull && col("__w") =!= "" &&
          length(col("__w")) <= maxWordLen)
        .groupBy(col("__w")).agg(count(lit(1)).as("__n"))
        .orderBy(desc("__n"), col("__w")).limit(topWords))
      // seed masses: every (position, length ≤ maxPieceLen) substring,
      // with multiplicity — word-table scale, the HOF stays off the
      // corpus
      val sub = words.select(col("__n"), explode(expr(
          s"""flatten(transform(sequence(1, length(__w)), i ->
             filter(transform(sequence(1, $maxPieceLen), l ->
               CASE WHEN i + l - 1 <= length(__w)
                 THEN substring(__w, i, l) END), x -> x IS NOT NULL)))"""))
          .as("piece"))
      // r22 (guide §5 — fewer jobs per fit at equal hashes): the
      // single-codepoint count and each vocabulary's (Σ mass, min mass)
      // scalars are observed on the SAME job that checkpoints the table
      // (exact Long aggregates, order-independent), deleting one count
      // job and one agg-head job per EM round (+ the final one). The
      // tiny `singles` table KEEPS its own checkpoint: replacing it with
      // a lazy filter over mass0's cached blocks was measured SLOWER
      // (q148 plantax 1.8 → 2.7 s) — the LogicalRDD filter carries no
      // usable size estimate, so the per-round survivor join loses its
      // broadcast.
      val (mass0, m0) = cp(
        sub.groupBy(col("piece")).agg(sum(col("__n")).as("mass")),
        sum(when(length(col("piece")) === 1, 1L)).as("__nSingles"))
      val (singles, _) =
        cp(mass0.filter(length(col("piece")) === 1).select(col("piece")))
      val nSingles = if (m0.isNullAt(0)) 0 else m0.getLong(0).toInt
      require(nSingles >= 1, "unigramFit: no training words survived the filters")
      require(vocabSize > nSingles,
        s"vocabSize $vocabSize must exceed the $nSingles single-codepoint " +
          "pieces (the coverage floor)")
      def prune(masses: DataFrame): DataFrame = {
        val s = singles.join(masses, Seq("piece"), "left")
          .select(col("piece"), coalesce(col("mass"), lit(1L)).as("mass"))
        val m = masses.filter(length(col("piece")) > 1)
          .orderBy(desc("mass"), col("piece"))
          .limit(vocabSize - nSingles)
        s.unionByName(m)
      }
      val totals = Seq(sum(col("mass")).as("__t"), min(col("mass")).as("__m"))
      def score(vocab: DataFrame, t: org.apache.spark.sql.Row): DataFrame = {
        val (total, minMass) = (t.getLong(0), t.getLong(1))
        require(total / math.max(minMass, 1L) < (1L << 32),
          s"unigramFit: total mass $total over min piece mass " +
            s"$minMass exceeds the log2 ladder's 2^32 ratio " +
            "contract — raise topWords granularity or shard")
        log2Q10(vocab.withColumn("__tot", lit(total)), "mass", "__tot",
          "sur_q10")
      }
      var (vocab, vt) = cp(prune(mass0), totals: _*)
      for (_ <- 1 to iters) {
        val model = score(vocab, vt).select(col("piece"), col("sur_q10"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        val usage = words.select(col("__n"), explode(element_at(
            graft.functions.UnigramSegment.asColumn(
              array(col("__w")), model, maxPieceLen), 1)).as("piece"))
          .groupBy(col("piece")).agg(sum(col("__n")).as("mass"))
        val (next, nextT) = cp(prune(usage), totals: _*)
        cp.release(vocab)
        vocab = next
        vt = nextT
      }
      cp(score(vocab, vt)
        .withColumn("rank", row_number().over(
          Window.orderBy(desc("mass"), col("piece"))).cast("long"))
        .select(col("piece"), col("mass"), col("sur_q10"), col("rank")))._1
    }
  }

  /** The encode half of the unigram tokenizer: adds `out`
    * (array<array<string>> — one Viterbi piece list per input token)
    * under a [[unigramFit]] model: the segmentation minimizing total
    * sur_q10 under the model's FINAL scores, with the trainer's pinned
    * tie order (the DP is spec-pinned against an enumerate-all-
    * segmentations reference). Unknown codepoints segment as
    * themselves at a cost above any real piece
    * ([[graft.functions.UnigramSeg.UnkCost]]) — characters are the
    * floor, no OOV cliff.
    *
    * Plan: the model collects once (vocabSize rows — MODEL-sized, the
    * bpeEncode idiom) and ships per task inside the codegen'd
    * expression; the corpus never shuffles. */
  def unigramEncode(df: DataFrame, toks: Column, model: DataFrame,
      out: String = "pieces"): DataFrame = {
    val rows = model.select(col("piece"), col("sur_q10"),
        length(col("piece")).as("__l"))
      .collect()
    require(rows.nonEmpty, "unigram model is empty")
    val vocab = rows.map(r => (r.getString(0), r.getLong(1))).toSeq
    val maxLen = rows.map(_.getInt(2)).max
    df.withColumn(out,
      graft.functions.UnigramSegment.asColumn(toks, vocab, maxLen))
  }

  /** Exact binary fixed-point log2 of the rational n_ctx/n_big ≥ 1, in
    * units of 2⁻¹⁰ bit ("q10"): e = MSB(q30) − 30 where q30 =
    * (n_ctx·2³⁰) div n_big (floor(log2 x) == floor(log2 floor(x)) for
    * x ≥ 1, so the MSB of the quotient IS the integer part), then ten
    * truncating square-and-compare steps refine the fraction — x ← x²
    * div 2³⁰, emit a bit and halve when x ≥ 2³¹. Every op is integer
    * (compare, multiply, truncating div, shift): NO libm anywhere, so
    * the result is a STATED deterministic computation both engines
    * reproduce exactly (within 2⁻²⁰ bit of the real log2 — the
    * truncation error after 10 squarings — but bit-for-bit portable,
    * which floor(10⁶·ln x) never is). Caller guarantees n_ctx < 2³³ so
    * q30 fits int64 (a per-CONTEXT occurrence count — 8 billion
    * occurrences of one leading token; shard the model first if a
    * corpus ever gets there). */
  private def log2Q10(df: DataFrame, nBig: String, nCtx: String,
      out: String): DataFrame = {
    val two30 = 1073741824L
    val two31 = 2147483648L
    val withQ = df.withColumn("__q30", expr(
      s"CAST((CAST($nCtx AS DECIMAL(38,0)) * $two30) div " +
        s"CAST($nBig AS DECIMAL(38,0)) AS BIGINT)"))
    // MSB ladder: e = k for the largest k in 1..32 with q30 >= 2^(30+k)
    // (k stops at 32: 2^63 has no positive int64 literal, and q30 < 2^63
    // by the n_ctx < 2^33 contract above)
    val eCol = (1 to 32).foldLeft(lit(0)) { (acc, k) =>
      when(col("__q30") >= lit(1L << (30 + k)), lit(k)).otherwise(acc)
    }
    var cur = withQ.withColumn("__e", eCol)
      .withColumn("__x", expr("shiftright(__q30, __e)"))
    for (j <- 1 to 10) {
      cur = cur
        .withColumn(s"__xs$j", expr(s"(__x * __x) div ${two30}L"))
        .withColumn(s"__b$j",
          when(col(s"__xs$j") >= lit(two31), lit(1)).otherwise(lit(0)))
        .withColumn("__x",
          when(col(s"__xs$j") >= lit(two31), expr(s"__xs$j div 2"))
            .otherwise(col(s"__xs$j")))
    }
    val frac = (1 to 10).map(j => col(s"__b$j") * lit(1 << (10 - j)))
      .reduce(_ + _)
    cur.withColumn(out, (col("__e") * lit(1024) + frac).cast("long"))
      .drop("__q30" +: "__e" +: "__x" +:
        (1 to 10).flatMap(j => Seq(s"__xs$j", s"__b$j")): _*)
  }

  /** N-gram language-model quality scoring — the perplexity-proxy
    * filter every curation pipeline runs between cheap lexical scores
    * ([[lexiconScore]], [[textQuality]]) and expensive embedding
    * passes: train a bigram model on the corpus (n_big = count of each
    * adjacent token pair, n_ctx = count of the left token as a bigram
    * context) and score every document's total and per-position
    * SURPRISAL under it — Σ log2(n_ctx/n_big) over the doc's bigram
    * positions, i.e. Σ −log2 p(w₂|w₁), the standard cross-entropy
    * numerator. Self-scoring (train == score corpus) needs no
    * smoothing: every document bigram exists in the model by
    * construction. Low average surprisal = repetitive/boilerplate
    * text, high = rare-junk — both tails are curation targets (the
    * CCNet/Gopher recipe).
    *
    * Portability: the log2 is [[log2Q10]]'s exact integer fixed-point
    * ladder (q10 units — 1/1024 bit), NOT libm, so the whole report
    * hash-gates (q136) — the first transcendental-family score in the
    * repo gated exactly rather than rows-only. avg_q10 is the
    * truncating integer division sur_q10 div n_bigrams (stated). Docs
    * with < 2 tokens (or NULL token arrays) surface with n_bigrams = 0,
    * sur_q10 = 0 and NULL avg (no positions ≠ surprisal zero — the
    * TWAP single-observation posture).
    *
    * Plan: one corpus pass explodes bigram positions (the only
    * corpus-grain shuffle, keyed by the pair for BOTH the model agg
    * and the scoring join — the same exchange feeds both), the model
    * is bigram-vocabulary-sized (its n_ctx window and the surprisal
    * ladder run at model grain), scoring is one equi-join on the pair
    * + one doc-grain agg. No window over the corpus, no self-join;
    * a hot bigram is one AQE-split partition. */
  def lmScore(df: DataFrame, id: Column, toks: Column): DataFrame = {
    val base = df.select(id.as("__id"), toks.as("__t"))
    val pos = base.filter(size(col("__t")) >= 2)
      .select(col("__id"), explode(
        transform(sequence(lit(1), size(col("__t")) - 1),
          j => struct(element_at(col("__t"), j).as("w1"),
            element_at(col("__t"), j + lit(1)).as("w2")))).as("__p"))
      .select(col("__id"), col("__p.w1").as("__w1"), col("__p.w2").as("__w2"))
    val model = pos.groupBy(col("__w1"), col("__w2"))
      .agg(count(lit(1)).as("__nb"))
      .withColumn("__nc",
        sum(col("__nb")).over(Window.partitionBy(col("__w1"))))
    val scored = log2Q10(model, "__nb", "__nc", "__sur")
      .select(col("__w1"), col("__w2"), col("__sur"))
    val perDoc = pos.join(scored, Seq("__w1", "__w2"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("__m"), sum(col("__sur")).as("__s"))
    base.select(col("__id"))
      .join(perDoc, Seq("__id"), "left_outer")
      .select(col("__id").as("key"),
        coalesce(col("__m"), lit(0L)).as("n_bigrams"),
        coalesce(col("__s"), lit(0L)).as("sur_q10"),
        when(col("__m") > 0, expr("__s div __m")).as("avg_q10"))
  }

  // --------------------------------------------- scalar quantization

  /** SQ8 trainer: per-dimension [lo, hi] corpus ranges — the whole model
    * is 2·dim doubles (vs PQ's m·ksub·sub codebooks), and encode/decode
    * are pure arithmetic, no codebook search. Returns (dim, lo, hi) with
    * `dim` 0-based. min/max of floats cast to double is value-exact, so
    * the model is engine-portable with no quantization step. */
  def sqFit(df: DataFrame, vec: Column): DataFrame =
    df.select(posexplode(vec).as(Seq("dim", "__c")))
      .groupBy(col("dim"))
      .agg(min(col("__c").cast("double")).as("lo"),
        max(col("__c").cast("double")).as("hi"))

  private def collectSqModel(model: DataFrame): (Seq[Double], Seq[Double]) = {
    val rows = model.select(col("dim"), col("lo"), col("hi")).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    require(rows.nonEmpty, "sq model is empty")
    require(rows.map(_._1).toSeq == rows.indices.toSeq,
      s"sq model dims must be exactly 0..${rows.length - 1}")
    (rows.map(_._2).toIndexedSeq, rows.map(_._3).toIndexedSeq)
  }

  /** The encode half of SQ8: adds `codes` (array<tinyint>, one byte per
    * dimension — code 0..255 stored offset by −128). A narrow zero-shuffle
    * codegen'd projection; at rest the codes column replaces the embedding
    * at 1 byte/dim — 4× smaller than the floats, model-free to decode.
    * Code = floor((v−lo)·255/(hi−lo)) clamped to [0,255] (degenerate
    * hi==lo dims encode 0) — the exact formulation the oracle SQL repeats,
    * so scores derived from codes hash-match across engines. */
  def sqEncode(df: DataFrame, vec: Column, model: DataFrame): DataFrame = {
    val (lo, hi) = collectSqModel(model)
    df.withColumn("codes", graft.functions.Sq8Encode(vec, lo, hi))
  }

  /** SQ8 approximate top-k, inline form: [[sqEncode]] then
    * [[sqTopKCoded]] over one corpus, the model collected once. */
  def sqTopK(corpus: DataFrame, id: Column, vec: Column, isProbe: Column,
      model: DataFrame, k: Int): DataFrame = {
    val (lo, hi) = collectSqModel(model)
    val (e, probes) = corpusAndProbes(corpus, id, vec, isProbe)
    flatTopK(e.select(col("id"), graft.functions.Sq8Encode(col("__v"), lo, hi).as("codes")),
      probes, "sq", graft.functions.Sq8Dot(col("__pv"), col("codes"), lo, hi), k)
  }

  /** At-rest SQ8 search: scores STORED [[sqEncode]] output (corpus rows
    * carry ONLY their byte codes) against full-vector probes, each
    * candidate by one codegen'd [[graft.functions.Sq8Dot]] — the
    * sequential-fold dot of the full-precision probe against the row's
    * dequantized reconstruction (lo + code·(hi−lo)/255 per dim), never
    * materializing it. [[pqTopKCoded]]'s broadcast-probe / scan-corpus
    * shape; ordering (score desc, id asc) is deterministic. The corpus
    * keeps 1 byte/dim and only probes retain floats. */
  def sqTopKCoded(coded: DataFrame, codedId: Column, codes: Column,
      probes: DataFrame, probeId: Column, probeVec: Column,
      model: DataFrame, k: Int): DataFrame = {
    val (lo, hi) = collectSqModel(model)
    flatTopK(coded.select(codedId.as("id"), codes.as("codes")),
      probes.select(probeId.as("probe_id"), probeVec.as("__pv")),
      "sq", graft.functions.Sq8Dot(col("__pv"), col("codes"), lo, hi), k)
  }
}

package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{CosineSim, Portable, Text}
/** dedup family: exact / fuzzy / near-dup / span / URL / winnowing dedup, graph curation — members of [[GraftOps]], split out of the former single
  * 6,600-line object (round 19) purely for maintainability: the trait
  * mixes back into `object GraftOps`, so every callsite, registry op,
  * and scaladoc link is untouched. The self-type makes members of the
  * other family traits visible exactly as before the split. */
private[api] trait DedupApi { self: GraftOps.type =>


  // ------------------------------------------------------------ dedup

  /** Exact dedup: keep the row with the smallest `tiebreak` per key.
    * Deterministic survivor (unlike dropDuplicates' arbitrary row). */
  def dedupExact(df: DataFrame, key: Column, tiebreak: Column): DataFrame = {
    val w = Window.partitionBy(key).orderBy(tiebreak)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Frequency-cap dedup: keep at most `k` occurrences per key — the
    * FIRST k in (ts, tiebreak) order, the training-data staple that
    * bounds how often one user/domain/template can contribute ("cap
    * each boilerplate page at k copies", "at most k events per user
    * per feed"). Deterministic under the house unique-(key, ts,
    * tiebreak) contract (the q140 posture: a duplicate (ts, tiebreak)
    * within a key would make membership at the k boundary
    * engine-arbitrary — pass a unique id as the tiebreak). NULL key,
    * ts, or tiebreak rows drop up front (no position in the order —
    * the r17 NULL-ts rule; a NULL tiebreak at the k boundary would
    * otherwise diverge across engines' NULL-sort defaults, and the
    * streaming twin's contract is non-null throughout). One shuffle on
    * the key + in-partition ordered rank — the
    * q06/q12 top-k-per-group shape; a hot key ships its history once,
    * never a self-join. Streaming twin:
    * [[graft.streaming.FrequencyCapStream]] (S27 — count-only O(1)
    * state per key, admitted set == this operator over any chunked
    * in-order replay). */
  def frequencyCap(df: DataFrame, key: Column, ts: Column,
      tiebreak: Column, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1; got $k")
    val w = Window.partitionBy(key).orderBy(ts, tiebreak)
    df.filter(key.isNotNull && ts.isNotNull && tiebreak.isNotNull)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** MinHash+LSH near-dup candidates: (idA, idB, est_jaccard) for document
    * pairs whose signatures agree on ≥ `minMatches` of `numHashes` family
    * members, found via `bands` LSH bands. */
  def minhashNearDup(df: DataFrame, id: Column, text: Column,
      shingleWidth: Int = 3, numHashes: Int = 16, bands: Int = 4,
      minMatches: Int = 8): DataFrame = {
    val rows = numHashes / bands
    // Signature hashing is CPU-bound: rebalance the (narrow) id+text
    // projection across all cores first — a single-row-group parquet file
    // otherwise pins the whole corpus hash on one task. The shuffle moves
    // only id+text, and a dedup pipeline shuffles the corpus by band key
    // right after anyway.
    val par = df.sparkSession.sparkContext.defaultParallelism
    val sig = df.select(id.as("__id"), text.as("__text")).repartition(par)
      .select(col("__id"),
        graft.functions.MinHashSigTokens.asColumn(
          Text.tokens(col("__text")), shingleWidth, numHashes).as("__sig"))
      .filter(col("__sig").isNotNull)
    // Carry the (narrow, 16-int) signature THROUGH the band explode so the
    // band self-join yields both pair signatures directly: the two sides
    // are the identical subplan — one shuffle, computed once, reused — and
    // the md5 signature map runs exactly once over the corpus, vs the
    // candidates-then-two-lookup-joins form which recomputes it 3× and
    // shuffles twice more. Multi-band collisions are deduped AFTER the
    // (cheap, 16-element) match count, on the final narrow columns.
    val bandsDf = sig.select(col("__id"), col("__sig"),
      posexplode(Text.lshBands(col("__sig"), bands, rows)).as(Seq("__b", "__key")))
    bandsDf.as("x").join(bandsDf.as("y"),
        col("x.__b") === col("y.__b") && col("x.__key") === col("y.__key") &&
          col("x.__id") < col("y.__id"))
      // codegen'd signature-agreement count (the HOF zip_with/filter/size
      // form runs interpreted per candidate row; same values)
      .withColumn("__m", graft.functions.SigMatchCount.asColumn(
        col("x.__sig"), col("y.__sig")))
      .filter(col("__m") >= minMatches)
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"),
        (col("__m").cast("double") / numHashes.toDouble).as("est_jaccard"))
      .distinct()
  }

  /** Cross-source duplication matrix — the mixture-design question "how
    * much does source A re-publish source B" answered from the
    * [[minhashNearDup]] pair stream: each near-dup pair maps to its
    * unordered source-label pair, and every (src_a ≤ src_b) cell
    * reports the pair count, both source sizes, the number of POSSIBLE
    * pairs for that cell (n_a·n_b across sources; n·(n−1)/2 within
    * one), and the exact integer pairs-ppm of that possibility mass —
    * the statistic that tells a curator "dedup these two sources
    * against each other before mixing" (q54's mixture planner consumes
    * exactly this). All counts exact, ppm a division-free-threshold-
    * style integer div (hash-gates, q144). Rows with a NULL id or
    * source never pair (stated).
    *
    * Plan: the q16 chain (narrow signatures, one band self-join — only
    * candidate PAIRS shuffle) plus two id-keyed label joins (AQE
    * broadcasts the narrow label table when it fits), one
    * catalog-scale (src, src) agg, and a broadcast of the tiny
    * source-sizes table. Nothing corpus-quadratic anywhere. */
  def sourceOverlapReport(df: DataFrame, id: Column, text: Column,
      src: Column, shingleWidth: Int = 3, numHashes: Int = 16,
      bands: Int = 4, minMatches: Int = 8): DataFrame = {
    val labels = df.select(id.as("__lid"), src.as("__lsrc"))
      .filter(col("__lid").isNotNull && col("__lsrc").isNotNull)
    val pairs = minhashNearDup(df, id, text, shingleWidth, numHashes,
      bands, minMatches)
    val tagged = pairs
      .join(labels.select(col("__lid").as("id_a"), col("__lsrc").as("__sa")),
        Seq("id_a"))
      .join(labels.select(col("__lid").as("id_b"), col("__lsrc").as("__sb")),
        Seq("id_b"))
      .select(least(col("__sa"), col("__sb")).as("src_a"),
        greatest(col("__sa"), col("__sb")).as("src_b"))
    val sizes = labels.groupBy(col("__lsrc")).agg(count(lit(1)).as("__n"))
    tagged.groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .join(broadcast(sizes.select(col("__lsrc").as("src_a"),
        col("__n").as("n_docs_a"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("__lsrc").as("src_b"),
        col("__n").as("n_docs_b"))), Seq("src_b"))
      .withColumn("n_possible",
        when(col("src_a") === col("src_b"),
          expr("(n_docs_a * (n_docs_a - 1)) div 2"))
          .otherwise(col("n_docs_a") * col("n_docs_b")))
      .withColumn("pairs_ppm", expr("(n_pairs * 1000000) div n_possible"))
      .select(col("src_a"), col("src_b"), col("n_pairs"), col("n_docs_a"),
        col("n_docs_b"), col("n_possible"), col("pairs_ppm"))
  }

  /** SimHash near-dup: pairs within `maxHamming` (≤ 3 with 4 chunks is
    * exact by pigeonhole; larger radii need more chunks). */
  def simhashNearDup(df: DataFrame, id: Column, text: Column,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      s"simhashNearDup with 4 x 15-bit chunks is only exhaustive for maxHamming <= 3 " +
        s"(pigeonhole); got $maxHamming — raise the chunk count instead of the radius")
    val sh = df.select(id.as("__id"), Text.simhash(Text.tokens(text)).as("__sh"))
    val chunks = sh.select(col("__id"), col("__sh"),
      posexplode(array((0 to 3).map(i => Text.simhashChunk(col("__sh"), i)): _*))
        .as(Seq("__c", "__chunk")))
    chunks.as("x").join(chunks.as("y"),
        col("x.__c") === col("y.__c") && col("x.__chunk") === col("y.__chunk") &&
          col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"),
        col("x.__sh").as("__ha"), col("y.__sh").as("__hb"))
      .distinct()
      .withColumn("hamming", bit_count(expr("__ha ^ __hb")).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** df-cap a posting list on its `gram` column: aggregate gram
    * frequencies (map-side-combined, the survivor list AQE-broadcastable)
    * + LEFT SEMI back — never `count().over(partitionBy(gram))`, which
    * would full-sort-shuffle the posting list. The shared skeleton of
    * every inverted-index candidate generator (q18 / q82 / q102). */
  private def dfCapPosting(posting: DataFrame, gram: String,
      dfCap: Int): DataFrame = {
    val good = posting.groupBy(col(gram)).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= dfCap).select(col(gram))
    posting.join(good, Seq(gram), "left_semi")
  }

  /** One-pass candidate intersections over a (__id, __sh) posting list
    * (r22 — the q18/q82 core): returns (inter, sizes) where `inter` is
    * one row per unordered candidate pair (id_a < id_b, __inter = count
    * of shared df-capped grams) and `sizes` is each doc's CAPPED posting
    * count (__id, __sz) — bit-identical to the former df-cap semi-join +
    * posting self-join + per-doc count, which re-ran the corpus
    * scan+tokenize+shingle pass once per consumer (11 scans in q18's
    * executed plan; guide §2.4). The fused [[graft.functions.CappedLongIds]]
    * aggregate replaces the count-agg + semi-join (group state and
    * shuffled bytes cap-bounded per map partition — a corpus-hot
    * boilerplate gram buffers `dfCap` ids, never its posting list), and
    * the codegen'd [[graft.functions.SortedLongPairs]] generator emits
    * each group's pair multiset locally — exactly the self-join's output
    * restricted to that gram (sorted-ascending ids, strict <), so the
    * pair fan-out enters the same map-side-combined (id_a, id_b) partial
    * aggregate without a join. Long ids take this path; any other id
    * type keeps the join form (same results — spec'd equivalent). */
  private def postingIntersections(sh: DataFrame,
      dfCap: Int): (DataFrame, DataFrame) = {
    if (sh.schema("__id").dataType ==
        org.apache.spark.sql.types.LongType) {
      val grouped = sh.groupBy(col("__sh"))
        .agg(graft.functions.CappedLongIds.asColumn(col("__id"), dfCap)
          .as("__ids"))
        .filter(col("__ids").isNotNull)
      val inter = grouped
        .select(explode(graft.functions.SortedLongPairs.asColumn(col("__ids")))
          .as("__p"))
        .select(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("__inter"))
      // capped per-doc sizes off the SAME grouped exchange (ReusedExchange
      // serves both branches); NULL-id size rows of the old form are
      // dropped here — they never survived the inner join on non-null
      // pair ids, so results are identical
      val sizes = grouped.select(explode(col("__ids")).as("__id"))
        .groupBy(col("__id")).agg(count(lit(1)).as("__sz"))
      (inter, sizes)
    } else {
      val sf = dfCapPosting(sh, "__sh", dfCap)
        .select(col("__id"), col("__sh"))
      val sizes = sf.groupBy(col("__id")).agg(count(lit(1)).as("__sz"))
      val inter = sf.as("a").join(sf.as("b"),
          col("a.__sh") === col("b.__sh") && col("a.__id") < col("b.__id"))
        .groupBy(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
        .agg(count(lit(1)).as("__inter"))
      (inter, sizes)
    }
  }

  /** Exact n-gram Jaccard ≥ `threshold` via inverted-index join with a
    * document-frequency cap (shingles in > `dfCap` docs are dropped from
    * BOTH sides — bounds fanout; semantics documented to the caller). */
  def ngramJaccard(df: DataFrame, id: Column, text: Column,
      shingleWidth: Int = 3, dfCap: Int = 100, threshold: Double = 0.6): DataFrame = {
    // codegen'd one-pass shingle hashing (tokens → distinct int64 keys);
    // the posting list feeds 3 consumers, so per-recompute cost matters
    val sh = df.select(id.as("__id"),
        explode(graft.functions.ShingleHashes.asColumn(
          Text.tokens(text), shingleWidth)).as("__sh"))
    // NOTE (r21): a per-doc window carrying __sz through the self-join
    // was tried and measured SLOWER here (q18 2.9s -> 3.4s): the extra
    // column widens every row of the candidate fan-out — the one big
    // shuffle — to save two joins against the SMALL pairs table. The
    // sizes-join form stays; winnowOverlapReport (winnowed ~1/(window+1)
    // postings, small fan-out) keeps the window form, where it wins.
    // r22: the candidate core is the one-pass capped-collect form — see
    // postingIntersections.
    val (inter, sizes) = postingIntersections(sh, dfCap)
    inter
      // sizes is O(corpus): no broadcast hint, AQE decides (see minhashNearDup)
      .join(sizes.select(col("__id").as("id_a"), col("__sz").as("__sza")), "id_a")
      .join(sizes.select(col("__id").as("id_b"), col("__sz").as("__szb")), "id_b")
      .withColumn("jaccard", col("__inter").cast("double") /
        (col("__sza") + col("__szb") - col("__inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Winnowing document fingerprints (Schleimer–Wilkerson–Aiken local
    * fingerprinting, SIGMOD'03 — the MOSS algorithm): positional
    * `kgram`-token window hashes → the DISTINCT minimum of every
    * `window` consecutive hashes, exploded as (id, fp) rows. The
    * deterministic-recall member of the near-dup family: a shared token
    * run of ≥ window + kgram − 1 tokens GUARANTEES a shared fingerprint
    * (MinHash/SimHash recall is only probabilistic), while per-doc
    * state is the winnowed subset — ~2/(window+1) of all positions —
    * not every window the way span-level exact-substring masking (q85)
    * keeps. One codegen'd narrow map per document
    * ([[graft.functions.WinnowSelect]] over
    * [[graft.functions.ShingleHashesAll]] — the q85 positional hash, so
    * fingerprints are comparable across both operators); docs shorter
    * than one window still yield one fingerprint (min over all their
    * hashes); docs under `kgram` tokens yield none. */
  def winnowFingerprints(df: DataFrame, id: Column, text: Column,
      kgram: Int = 4, window: Int = 5): DataFrame = {
    require(kgram >= 1, s"kgram must be >= 1; got $kgram")
    require(window >= 1, s"window must be >= 1; got $window")
    df.select(id.as("id"),
      explode(graft.functions.WinnowSelect.asColumn(
        graft.functions.ShingleHashesAll.asColumn(Text.tokens(text), kgram),
        window)).as("fp"))
  }

  /** Fingerprint-overlap report over [[winnowFingerprints]] — the
    * plagiarism/provenance grain between whole-doc MinHash similarity
    * (q16) and byte-level exact-substring spans (q85): unordered pairs
    * sharing ≥ `minShared` winnowed fingerprints, with both capped
    * fingerprint-set sizes and the integer containment score
    * n_shared·10⁶ div min(|A|,|B|). Inverted-index join on the
    * fingerprint (the q18 shape — only candidate pairs shuffle, never
    * all-pairs); fingerprints appearing in > `dfCap` docs drop from
    * BOTH sides (boilerplate mass — the q18/q82 stopword-gram
    * contract, mirrored in the oracle), and sizes count the CAPPED
    * sets so the containment denominator matches the join's evidence
    * universe. All-integer output — engine-portable. */
  def winnowOverlapReport(df: DataFrame, id: Column, text: Column,
      kgram: Int = 4, window: Int = 5, dfCap: Int = 100,
      minShared: Int = 2): DataFrame = {
    require(dfCap >= 1, s"dfCap must be >= 1; got $dfCap")
    require(minShared >= 1, s"minShared must be >= 1; got $minShared")
    val fp = winnowFingerprints(df, id, text, kgram, window)
      .select(col("id").as("__id"), col("fp").as("__fp"))
    // per-doc capped-set size via the doc-bounded window — the
    // ngramJaccard r21 shape (one fingerprint pass, no sizes joins)
    val ff = dfCapPosting(fp, "__fp", dfCap).select(col("__id"), col("__fp"))
      .withColumn("__nf", count(lit(1)).over(Window.partitionBy(col("__id"))))
    ff.as("a").join(ff.as("b"),
        col("a.__fp") === col("b.__fp") && col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"),
        first(col("a.__nf")).as("fp_a"), first(col("b.__nf")).as("fp_b"))
      .filter(col("n_shared") >= minShared)
      .withColumn("containment_ppm",
        expr("(n_shared * 1000000) div least(fp_a, fp_b)"))
      .select(col("id_a"), col("id_b"), col("n_shared"), col("fp_a"),
        col("fp_b"), col("containment_ppm"))
  }

  /** Edit-distance near-key join — typo-tolerant matching of short keys
    * (titles, product codes, names): unordered pairs whose
    * `levenshtein(key_a, key_b) <= maxDist`. Never all-pairs: candidates
    * come from a character-q-gram inverted index (the [[ngramJaccard]]
    * shape at character grain) — df-cap via aggregate + semi-join, pair
    * distinct, then ONE exact levenshtein per surviving candidate pair.
    *
    * Recall contract (the q-gram lemma): two strings at edit distance
    * ≤ d share at least `max(len) − gramWidth + 1 − d·gramWidth` grams,
    * so for keys of length ≥ (d+1)·gramWidth the blocking is LOSSLESS.
    * Shorter keys skip the gram index but are NOT dropped: they take a
    * cheap exact-equality self-join instead (equi-join on the key —
    * occupancy-bounded, never all-pairs), so byte-identical short keys
    * still pair at distance 0 (review r15: the old full exclusion made
    * `dist <= maxDist` quietly return nothing for short keys). Short-key
    * pairs at distance 1..maxDist remain out of contract — finding them
    * needs all-pairs, the banned shape (documented, spec'd). A long-key
    * pair whose every shared gram exceeds `dfCap` is missed — same
    * stopword-gram contract as q18/q82; size dfCap to the corpus'
    * hot-gram profile (a pair of real near-dup keys virtually always
    * shares a rare gram too). */
  def editDistanceJoin(df: DataFrame, id: Column, key: Column,
      maxDist: Int, gramWidth: Int = 3, dfCap: Int = 1000): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0; got $maxDist")
    require(gramWidth >= 1, s"gramWidth must be >= 1; got $gramWidth")
    require(dfCap >= 1, s"dfCap must be >= 1; got $dfCap")
    // exclusion matches the LOSSLESS domain exactly: below
    // (maxDist+1)·gramWidth the lemma's bound hits zero and the blocking
    // would silently lose pairs (review r15: >= gramWidth alone admitted
    // a lossy band, e.g. "abcdef"/"azcdzf" at d=2 share no trigram)
    val minLen = (maxDist + 1) * gramWidth
    val all = df.select(id.as("__id"), key.as("__k"))
      .filter(col("__k").isNotNull)
    val base = all.filter(length(col("__k")) >= minLen)
    // sub-lemma-length keys: distance-0 pairs via exact-equality
    // equi-join (quadratic only in per-value duplicate count, like any
    // dedup equi-join; a hot identical key is one AQE-split partition)
    val short0 = all.filter(length(col("__k")) < minLen)
    val shortPairs = short0.as("a").join(short0.as("b"),
        col("a.__k") === col("b.__k") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        lit(0L).as("dist"))
    val grams = base.select(col("__id"),
        explode(expr(s"transform(sequence(1, length(__k) - ${gramWidth - 1}), " +
          s"i -> substring(__k, i, $gramWidth))")).as("__sh"))
      .distinct()
    // r22: one-pass capped-collect candidate core (see
    // [[postingIntersections]]) — the df-cap count+semi-join, posting
    // self-join and pair distinct collapse into one grouped pass + one
    // pair aggregate. Pair set identical: the grouped (id_a, id_b) keys
    // with __inter >= 1 ARE the old distinct candidate pairs.
    val (inter, _) = postingIntersections(grams, dfCap)
    val cands = inter.select(col("id_a"), col("id_b"))
    cands
      .join(base.select(col("__id").as("id_a"), col("__k").as("__ka")), "id_a")
      .join(base.select(col("__id").as("id_b"), col("__k").as("__kb")), "id_b")
      .withColumn("dist", levenshtein(col("__ka"), col("__kb")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
      .unionAll(shortPairs)
  }

  /** LOSSLESS exact-Jaccard similarity join via PREFIX FILTERING — the
    * tier of [[ngramJaccard]] with NO recall caveat: where the df-cap
    * drops hot shingles from both sides (pairs whose every shared
    * shingle is hot are silently missed — the documented stopword-gram
    * contract), the prefix filter keeps every shingle and still never
    * goes all-pairs. The classic AllPairs/PPJoin recipe: order every
    * document's shingle set by GLOBAL rarity — the (df, hash) pair IS
    * the total order, no global rank table to materialize — and index
    * only each set's PREFIX of length |S| − ⌈t·|S|⌉ + 1 (its rarest
    * shingles). Any pair with Jaccard ≥ t shares ≥ ⌈t·max(|A|,|B|)⌉
    * shingles, and the globally-first shared shingle provably falls in
    * BOTH prefixes (else either side's suffix would have to hold more
    * shared shingles than it has positions) — so the prefix equi-join
    * loses nothing, while indexing the rare END of each set keeps
    * posting lists short exactly where df-capping would have had to
    * drop data. Exact verification on the full sorted sets follows.
    *
    * Plan: one df aggregate + posting join (shuffle on shingle), one
    * per-doc sort-agg (shuffle on id), prefix explode + equi-join on
    * shingle (candidates bounded by prefix-posting occupancy — prefixes
    * hold each corpus's RAREST shingles, so lists are short by
    * construction; a pathological corpus-wide-hot prefix shingle is one
    * AQE-split key), distinct narrow id pairs, then two id-keyed joins
    * fetch the full sets for the exact `array_intersect` verify. Higher
    * thresholds ⇒ shorter prefixes ⇒ fewer candidates — cost scales
    * DOWN with strictness, the signature PPJoin property (a df-cap's
    * cost is threshold-blind). */
  def jaccardJoinPrefix(df: DataFrame, id: Column, text: Column,
      shingleWidth: Int = 3, threshold: Double = 0.6): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1]; got $threshold")
    val sh = df.select(id.as("__id"),
      explode(graft.functions.ShingleHashes.asColumn(
        Text.tokens(text), shingleWidth)).as("__sh"))
    val dfreq = sh.groupBy(col("__sh")).agg(count(lit(1)).as("__df"))
    val ordered = sh.join(dfreq, "__sh")
      .groupBy(col("__id")).agg(
        sort_array(collect_list(struct(col("__df"), col("__sh")))).as("__ord"))
      .select(col("__id"),
        expr("transform(__ord, x -> x.__sh)").as("__set"))
      .withColumn("__sz", size(col("__set")))
      .withColumn("__plen",
        col("__sz") - ceil(col("__sz") * lit(threshold)).cast("int") + 1)
    val pre = ordered.select(col("__id"),
      explode(slice(col("__set"), lit(1), col("__plen"))).as("__sh"))
    val cands = pre.as("a").join(pre.as("b"),
        col("a.__sh") === col("b.__sh") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .distinct()
    val sets = ordered.select(col("__id"), col("__set"), col("__sz"))
    cands
      .join(sets.select(col("__id").as("id_a"), col("__set").as("__sa"),
        col("__sz").as("__za")), "id_a")
      .join(sets.select(col("__id").as("id_b"), col("__set").as("__sb"),
        col("__sz").as("__zb")), "id_b")
      .withColumn("__inter", size(array_intersect(col("__sa"), col("__sb"))))
      .withColumn("jaccard", col("__inter").cast("double") /
        (col("__za") + col("__zb") - col("__inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** N-gram CONTAINMENT detection — the asymmetric near-dup case Jaccard
    * misses: a document embedded inside a larger one (quoted articles,
    * concatenated pages, boilerplate-wrapped reposts) shares most of ITS
    * shingles while the union is dominated by the container, so Jaccard
    * stays low but containment |sh(A)∩sh(B)| / |sh(A)| is high. Emits
    * ORDERED pairs (contained_id, container_id, containment ≥ threshold);
    * both directions of a pair can appear (mutual containment = exact
    * near-dup).
    *
    * Same scale shape as [[ngramJaccard]]: codegen'd one-pass shingle
    * hashing, df-cap via aggregate + semi join (never a window over the
    * posting list), posting-list self-join bounded by the cap — the
    * intersection is computed ONCE per unordered pair and emitted in
    * whichever directions clear the threshold. */
  def ngramContainment(df: DataFrame, id: Column, text: Column,
      shingleWidth: Int = 3, dfCap: Int = 100,
      threshold: Double = 0.9): DataFrame = {
    val sh = df.select(id.as("__id"),
        explode(graft.functions.ShingleHashes.asColumn(
          Text.tokens(text), shingleWidth)).as("__sh"))
    // r22: one-pass capped-collect candidate core (see postingIntersections)
    val (inter0, sizes) = postingIntersections(sh, dfCap)
    val inter = inter0
      .join(sizes.select(col("__id").as("id_a"), col("__sz").as("__sza")), "id_a")
      .join(sizes.select(col("__id").as("id_b"), col("__sz").as("__szb")), "id_b")
    val ab = inter.select(col("id_a").as("contained_id"),
      col("id_b").as("container_id"),
      (col("__inter").cast("double") / col("__sza").cast("double"))
        .as("containment"))
    val ba = inter.select(col("id_b").as("contained_id"),
      col("id_a").as("container_id"),
      (col("__inter").cast("double") / col("__szb").cast("double"))
        .as("containment"))
    ab.unionByName(ba).filter(col("containment") >= threshold)
  }

  /** SPAN-level exact-substring dedup — the passage-granular family the
    * document-level ops (q11 exact, q16–q18/q82 near-dup) can't express:
    * a boilerplate paragraph or license header repeated across ≥ `minDf`
    * documents is MASKED OUT of every document it appears in, while the
    * surrounding unique text survives (the "remove repeated passages, keep
    * the documents" dedup of Lee et al. 2022's ExactSubstr, re-expressed
    * over a token inverted index instead of a suffix array — a suffix
    * array needs a global corpus order, which is exactly what a
    * distributed engine should not build; `width`-token window hashes
    * give the same ≥width-token repeated-span guarantee).
    *
    * Semantics: token t of document d is masked iff some window
    * [s, s+width) ∋ t of d has a window hash appearing in ≥ `minDf`
    * DISTINCT documents. Output per input row: (doc_id, n_tokens,
    * n_masked, masked_text) — masked_text is the kept tokens space-joined
    * in order ('' when everything masked); docs with < width tokens pass
    * through unmasked; NULL-text docs stay present with NULL counts and
    * '' text (spec-pinned).
    *
    * Scale shape (the 100 TB posture): one codegen'd positional-hash pass
    * ([[graft.functions.ShingleHashesAll]]) → posexplode; the repeated
    * set is an aggregate + semi join on the window hash (map-side
    * combined, never a window over the posting list — the q18 df-cap
    * shape inverted: we KEEP hot shingles instead of capping them);
    * coverage explodes each hot occurrence to its `width` covered
    * positions (bounded by width × hot occurrences, and hot occurrences
    * are the thing being removed — self-limiting); the rebuild is one
    * anti join + one per-doc sorted aggregate. Everything shuffles on
    * (doc_id) or (hash) — no all-pairs product anywhere. */
  def maskRepeatedSpans(df: DataFrame, id: Column, text: Column,
      width: Int = 5, minDf: Int = 2, minCount: Int = 0): DataFrame = {
    require(width >= 1, s"width must be >= 1; got $width")
    require(minDf >= 2, s"minDf must be >= 2 (1 would mask every token); got $minDf")
    require(minCount == 0 || minCount >= 2,
      s"minCount must be 0 (off) or >= 2; got $minCount")
    val base = df.select(id.as("doc_id"), Text.tokens(text).as("__toks"))
    val occ = spanOccurrences(base, width)
    maskWithRep(base, occ, repeatedSet(occ, minDf, minCount), width)
  }

  /** The repeated-window set of an occurrence frame: hashes in ≥ `minDf`
    * distinct docs, OR (when `minCount` > 0 — the full ExactSubstr
    * semantics) with ≥ `minCount` TOTAL occurrences, which also catches a
    * passage repeated within ONE document. One map-side-combined agg
    * computes both counts. */
  private def repeatedSet(occ: DataFrame, minDf: Int, minCount: Int): DataFrame =
    countsFilter(occCounts(occ), minDf, minCount)

  /** Per-hash (distinct-doc, total-occurrence) counts of an occurrence
    * frame — the mergeable PARTIAL form behind [[spanIndexCounts]]. */
  private def occCounts(occ: DataFrame): DataFrame =
    occ.groupBy(col("__sh"))
      .agg(count_distinct(col("doc_id")).as("__df"), count(lit(1)).as("__n"))

  private def countsFilter(counts: DataFrame, minDf: Int,
      minCount: Int): DataFrame =
    counts.filter(col("__df") >= minDf ||
        (if (minCount > 0) col("__n") >= minCount else lit(false)))
      .select(col("__sh"))

  /** Positional window-hash occurrences of a (doc_id, __toks) frame:
    * (doc_id, __pos, __sh), one row per window start. */
  private def spanOccurrences(base: DataFrame, width: Int): DataFrame =
    base.filter(size(col("__toks")) >= width)
      .select(col("doc_id"), posexplode(graft.functions.ShingleHashesAll
        .asColumn(col("__toks"), width)).as(Seq("__pos", "__sh")))

  /** The masking tail shared by [[maskRepeatedSpans]] (rep derived from
    * the corpus itself) and [[maskSpansAgainst]] (rep = a prebuilt
    * [[spanIndex]]): hot window STARTS aggregated per doc (span-grain —
    * one element per hot occurrence, never one row per token), then one
    * linear-merge [[graft.functions.ExciseSpans]] pass per row rebuilds
    * the kept text. Shuffles only (hash) for the semi join and (doc_id)
    * for the starts agg + join — the former token-grain posexplode +
    * anti-join (205M rows at the StressSpans top rung) is gone.
    * `rep` needs one column `__sh`. */
  private def maskWithRep(base: DataFrame, occ: DataFrame, rep: DataFrame,
      width: Int): DataFrame = {
    val hot = occ.join(rep, Seq("__sh"), "left_semi")
    // sorted hot-start array per doc; overlapping/adjacent starts are
    // fine (ExciseSpans' covered-until merge is a max)
    val starts = hot.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("__pos"))).as("__starts"))
    base.join(starts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("__toks"),
        when(col("__starts").isNull, col("__toks"))
          .otherwise(graft.functions.ExciseSpans.asColumn(
            col("__toks"), col("__starts"), width)).as("__kept"))
      .select(col("doc_id"), size(col("__toks")).as("n_tokens"),
        (size(col("__toks")) - size(col("__kept"))).as("n_masked"),
        coalesce(array_join(col("__kept"), " "), lit("")).as("masked_text"))
  }

  /** The repeated-span INDEX of a corpus — the static half of continuous
    * span-level dedup (the [[maskRepeatedSpans]] analog of the
    * fingerprint/near-dup admission indexes in
    * [[graft.streaming.StreamingOps]]): one `__sh` column holding every
    * width-token window hash appearing in ≥ `minDf` distinct documents.
    * Build once in batch, persist, reuse across a stream's lifetime;
    * self-index law: masking a corpus against ITS OWN index equals
    * [[maskRepeatedSpans]] exactly (spec-asserted).
    *
    * `minDf = 1` is allowed HERE (unlike [[maskRepeatedSpans]], where it
    * would mask every token) because the index is meant for a DIFFERENT
    * corpus than the one being masked — the eval-span-scrubbing form of
    * decontamination: index EVERY window of the eval/benchmark set
    * (minDf = 1), then [[maskSpansAgainst]] the TRAINING corpus to excise
    * quoted eval passages while keeping the documents ([[decontaminate]]
    * is the doc-DROPPING tier of the same defense; this is the
    * span-excising tier — spec-asserted on planted quotes). */
  def spanIndex(corpus: DataFrame, id: Column, text: Column,
      width: Int = 5, minDf: Int = 2, minCount: Int = 0): DataFrame = {
    require(width >= 1, s"width must be >= 1; got $width")
    require(minDf >= 1, s"minDf >= 1; got $minDf")
    require(minCount == 0 || minCount >= 2,
      s"minCount must be 0 (off) or >= 2; got $minCount")
    repeatedSet(spanOccurrences(corpus.select(id.as("doc_id"),
      Text.tokens(text).as("__toks")), width), minDf, minCount)
  }

  /** The MERGEABLE partial form of [[spanIndex]] — incremental index
    * maintenance for the span admission tier (round 14, the
    * ivfPqAppendSink idea on the span axis): one (__sh, __df, __n) row
    * per window hash of THIS corpus slice. Because `__df` counts
    * DISTINCT docs within the slice, partials merge EXACTLY (plain sums
    * in [[spanIndexFromCounts]]) as long as each document lives in one
    * slice — true of a stream where every doc arrives once; a
    * crash-retried batch double-counts, the same at-least-once caveat
    * [[graft.streaming.StreamingOps.ivfPqAppendSink]] documents.
    * Append these per-batch to parquet, derive the index on read. */
  def spanIndexCounts(corpus: DataFrame, id: Column, text: Column,
      width: Int = 5): DataFrame = {
    require(width >= 1, s"width must be >= 1; got $width")
    occCounts(spanOccurrences(corpus.select(id.as("doc_id"),
      Text.tokens(text).as("__toks")), width))
  }

  /** Re-aggregate accumulated [[spanIndexCounts]] partials into the
    * `__sh` index [[maskSpansAgainst]] consumes. Law (spec'd):
    * `spanIndexFromCounts(countsOf(A) ∪ countsOf(B)) == spanIndex(A ∪ B)`
    * for doc-disjoint slices — so a corpus indexed incrementally masks
    * exactly like one indexed in a single batch pass. */
  def spanIndexFromCounts(counts: DataFrame, minDf: Int = 2,
      minCount: Int = 0): DataFrame = {
    require(minDf >= 1, s"minDf >= 1; got $minDf")
    require(minCount == 0 || minCount >= 2,
      s"minCount must be 0 (off) or >= 2; got $minCount")
    countsFilter(counts.groupBy(col("__sh"))
      .agg(sum(col("__df")).as("__df"), sum(col("__n")).as("__n")),
      minDf, minCount)
  }

  /** The AUDIT face of span-level dedup: the top-`k` repeated spans
    * themselves — "what boilerplate dominates this corpus?" — with their
    * document reach and total occurrence count. The curation analyst's
    * view of what [[maskRepeatedSpans]] is about to remove (run it
    * BEFORE masking: the report justifies the width/minDf choice).
    *
    * Shape: one positional-hash pass, one map-side-combined agg on the
    * window hash (both counts at once), a deterministic REPRESENTATIVE
    * occurrence per hash (min (doc_id, pos) — so the emitted span TEXT
    * is reproducible), one equi-join back to that doc's token array for
    * the slice, TakeOrderedAndProject top-k. The window sorts |repeated
    * hashes| rows, never occurrences. Ordering: n_docs desc,
    * n_occurrences desc, span_text asc — total (distinct spans have
    * distinct texts, collisions aside). */
  def topRepeatedSpans(df: DataFrame, id: Column, text: Column,
      width: Int = 5, minDf: Int = 2, k: Int = 20): DataFrame = {
    require(width >= 1, s"width must be >= 1; got $width")
    require(minDf >= 2, s"minDf must be >= 2; got $minDf")
    require(k >= 1, s"k must be >= 1; got $k")
    val base = df.select(id.as("doc_id"), Text.tokens(text).as("__toks"))
    val occ = spanOccurrences(base, width)
    val stats = occ.groupBy(col("__sh")).agg(
        count_distinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(struct(col("doc_id"), col("__pos"))).as("__first"))
      .filter(col("n_docs") >= minDf)
      .select(col("__sh"), col("n_docs"), col("n_occurrences"),
        col("__first.doc_id").as("__fdoc"), col("__first.__pos").as("__fpos"))
    stats.join(base.select(col("doc_id").as("__fdoc"), col("__toks")), "__fdoc")
      .select(array_join(slice(col("__toks"), col("__fpos") + 1, lit(width)), " ")
          .as("span_text"),
        col("n_docs"), col("n_occurrences"))
      .orderBy(desc("n_docs"), desc("n_occurrences"), col("span_text"))
      .limit(k)
  }

  /** Mask arriving documents against a PREBUILT [[spanIndex]]: per-row
    * semantics identical to [[maskRepeatedSpans]] except the repeated set
    * is the frozen index, not the batch itself — so each document's
    * masking depends only on (its text, the index), making per-micro-batch
    * application over a stream EXACTLY equal to one batch application
    * (the agreement law the S-series spec pins). Use inside foreachBatch
    * for continuous ingestion: boilerplate already known to the corpus is
    * stripped from every arriving document at admission time. */
  def maskSpansAgainst(df: DataFrame, id: Column, text: Column,
      index: DataFrame, width: Int = 5): DataFrame = {
    require(width >= 1, s"width must be >= 1; got $width")
    val base = df.select(id.as("doc_id"), Text.tokens(text).as("__toks"))
    maskWithRep(base, spanOccurrences(base, width),
      index.select(col("__sh")), width)
  }

  /** Connected-component resolution of near-dup candidate pairs — the last
    * stage of a real dedup pipeline: q16–q19-style `(id_a, id_b)` pairs
    * become `(survivor, member)` cluster assignments where the survivor is
    * the minimum id of each connected component (deterministic, so
    * "keep the survivor, drop other members" is reproducible).
    *
    * Routing (broadcast-join logic applied to graph resolution): the raw
    * pair count is measured once (map-side-combined count, no shuffle —
    * an upper bound on the distinct count, so routing errs distributed);
    * at or under `driverLimit` (default 1M pairs — collected as
    * primitive-specialized (Long, Long) tuples that's ~32 MB transient,
    * plus the union-find map and the ≤ 2·pairs result array: ~100 MB
    * worst-case on the driver, sized like a broadcast side) the pairs
    * collect to the driver and resolve via iterative union-find — one
    * job, exact same (survivor, member) output, returned as a
    * parallelized dataset with an explicit broadcast hint so downstream
    * anti-joins broadcast it. Near-dup pair sets are naturally this
    * small relative to the corpus (pairs exist only where documents
    * nearly collide); the distributed loop below is the scale path for
    * anything larger, and `driverLimit = 0` forces it.
    *
    * Algorithm (distributed path): min-label propagation with pointer
    * jumping (the
    * Shiloach–Vishkin shortcut, same O(log n) round bound as the
    * large-star/small-star MapReduce formulation). Every id starts labeled
    * with itself; each round, every vertex takes the min of (its own
    * label, its neighbors' labels, its label's label). The neighbor step
    * is one equi-join on the symmetric edge list + one map-side-combined
    * min agg; the jump step is one self-equi-join of the (narrow) label
    * table — lbl(lbl(v)) halves the distance to the component minimum each
    * round, so chain-shaped components (web-scale near-dup graphs have
    * them) converge in O(log diameter) rounds instead of O(diameter):
    * a 500-vertex path resolves in ~10 rounds (spec-asserted). Shallow
    * star/clique-ish components still finish in 2–3 rounds. No driver
    * state beyond the loop counter. Each round is eagerly
    * LOCAL-CHECKPOINTED, not persisted: a persist caches the data but
    * leaves the logical plan referencing every prior round (with the jump
    * self-join the tree grows ~4^rounds — analysis itself OOMs near round
    * 10), while the checkpoint truncates lineage to a leaf, keeping
    * per-round planning O(1). The convergence check is exact (labels only
    * decrease ⇒ fixpoint iff no label decreased); a non-converged result
    * would be silently wrong, so exceeding `maxIter` throws rather than
    * returns.
    *
    * Scale shape: per round, work is O(|edges| + |vertices|) shuffled on
    * vertex id — never materializes anything quadratic; `maxIter` bounds
    * total cost. Input ids are cast to long.
    *
    * Caching contract: nothing is registered in the catalog-level cache
    * except the edge list, which is unpersisted before returning (on the
    * throw path too) — library callers' own persisted frames are never
    * touched, and `spark.sharedState.cacheManager` stays as the caller
    * left it (spec-asserted). Round checkpoints live in a [[Checkpoints]]
    * scope: each superseded round is freed as soon as the next one is
    * materialized, and only the final round — the one the result reads
    * — outlives the call (none on the throw path; spec-asserted). */
  def dedupClusters(pairs: DataFrame, idA: Column, idB: Column,
      maxIter: Int = 30, driverLimit: Long = 1000000L): DataFrame = {
    // Null ids are dropped EXPLICITLY: left in, they would fall out of the
    // round joins silently (null never equi-matches), yielding a result
    // that quietly ignored some input pairs — an explicit filter makes the
    // contract visible (pairs with a null endpoint carry no information).
    val half = pairs.select(idA.cast("long").as("a"), idB.cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
    // Routed on the RAW pair count (a map-side-combined count, no
    // shuffle): an upper bound on the distinct count, so routing is
    // conservative, and the fast path then needs no distinct at all —
    // union-find absorbs duplicate and self edges natively.
    val halfP = half.persist()
    val nPairs =
      try halfP.count()
      catch { case t: Throwable => halfP.unpersist(); throw t }
    // Small-graph fast path — the same routing logic as a broadcast join:
    // near-dup candidate pairs are, by construction, orders of magnitude
    // fewer than corpus rows (they only exist where two documents nearly
    // collide), so the typical pair set fits on the driver like any
    // broadcast side. Collect once via the primitive tuple encoder
    // (specialized (Long, Long) tuples, ~32 B/pair — a Row collect boxes
    // every field and costs several× more at the limit), resolve with
    // union-find (path-halving, iterative — no recursion depth limit).
    // The distributed pointer-jumping loop below remains the path for
    // genuinely large pair sets (StressClusters exercises it at 3M+
    // edges); `driverLimit = 0` forces it, e.g. for testing.
    if (nPairs <= driverLimit) {
      val sess = pairs.sparkSession
      import sess.implicits._
      val collected =
        try halfP.as[(Long, Long)].collect()
        finally halfP.unpersist()
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x0: Long): Long = {
        var x = parent.getOrElseUpdate(x0, x0)
        if (x == x0) return x0
        while (parent(x) != x) { // path halving
          parent(x0) = parent(x); x = parent(x)
        }
        parent(x0) = x; x
      }
      collected.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // union-by-min keeps every root at its component minimum, so the
      // final find IS the deterministic survivor id.
      val resolved = parent.keys.toArray.sorted.map(v => (find(v), v)).toIndexedSeq
      // Parallelized, NOT a LocalRelation: a local relation embeds the
      // rows in the logical plan and re-serializes them into every
      // downstream plan that references the result; an RDD holds them
      // once on the driver and tasks pull partitions. The explicit
      // broadcast hint keeps what LocalRelation stats used to give for
      // free — downstream joins (applyDedup's anti-join) broadcast the
      // small cluster table instead of shuffling the corpus; the size is
      // bounded by driverLimit, so the hint is always safe.
      val slices = math.max(1, math.min(sess.sparkContext.defaultParallelism,
        resolved.length / 100000 + 1))
      return broadcast(
        sess.sparkContext.parallelize(resolved, slices).toDF("survivor", "member"))
    }
    // symmetric closure for the distributed rounds; the single distinct
    // collapses multi-edges from overlapping candidate generators (e.g. a
    // union of q16+q18 pairs) in the same exchange that symmetrizes
    val edges = halfP.union(halfP.select(col("b").as("a"), col("a").as("b")))
      .distinct().persist()
    // Each round both CHECKPOINTS (truncate lineage — the plan otherwise
    // grows ~4^rounds and analysis OOMs) and REPLACES the checkpoint's
    // inherited statistics (size-only join estimation multiplies child
    // sizes, so preserved stats compound ~4× in exponent per round — by
    // round ~12 one stats pass is minutes of BigInteger math; see
    // StatsBridge) with the honest estimate rows × width: the vertex
    // count is invariant across rounds (inner joins on id preserve every
    // vertex), so one count, observed on the first checkpoint, prices
    // all of them — small label tables keep broadcasting, huge ones keep
    // shuffling. Both failure modes are invisible at 2–4 rounds and bite
    // on deep graphs — exactly the case pointer jumping exists for.
    try Checkpoints.scoped { cp =>
      val (init, nv) = cp(edges.select(col("a").as("id")).distinct()
        .withColumn("lbl", col("id")), count(lit(1)))
      val nVertices = BigInt(nv.getLong(0))
      def priced(ck: DataFrame): DataFrame =
        org.apache.spark.sql.graftbridge.StatsBridge.withStats(ck,
          nVertices * (16L + 8L * ck.schema.length), Some(nVertices))
      // halfP is released only AFTER the eager checkpoint above has
      // materialized `edges` into its cache — unpersisting earlier lets
      // the pair blocks be evicted before the union's two branches read
      // them, rescanning the upstream source twice. (The finally below
      // covers the throw path; unpersist is idempotent.)
      halfP.unpersist()
      var labels = priced(init)
      var converged = false
      var iter = 0
      while (!converged && iter < maxIter) {
        val nbrMin = edges
          .join(labels.select(col("id").as("b"), col("lbl").as("__nlbl")), "b")
          .groupBy(col("a").as("id")).agg(min(col("__nlbl")).as("__nmin"))
        // pointer jump: lbl(lbl(v)). Every label value is a vertex id
        // (init = self; each round propagates existing labels), so the
        // inner self-join on lbl = id always finds its row. Round 1 skips
        // it — labels are still the identity map, so lbl(lbl(v)) = v and
        // the self-join would be pure overhead (shallow graphs finish in
        // 2-3 rounds; one join saved matters there).
        val withNbr = labels.select(col("id"), col("lbl").as("__old"))
          .join(nbrMin, Seq("id")) // every vertex has ≥1 edge by construction
        val stepped =
          if (iter == 0)
            withNbr.select(col("id"),
              least(col("__old"), col("__nmin")).as("lbl"), col("__old"))
          else {
            val jump = labels
              .join(labels.select(col("id").as("lbl"), col("lbl").as("__jlbl")),
                Seq("lbl"))
              .select(col("id"), col("__jlbl"))
            withNbr.join(jump, Seq("id"))
              .select(col("id"),
                least(col("__old"), col("__nmin"), col("__jlbl")).as("lbl"),
                col("__old"))
          }
        // labels are monotone non-increasing, so "no label decreased" is
        // an exact fixpoint test, observed on the round's own checkpoint
        // job: sum(when(decreased)) is NULL iff no label decreased
        val (next, dec) =
          cp(stepped, sum(when(col("lbl") < col("__old"), 1L)).as("__dec"))
        converged = dec.isNullAt(0)
        cp.release(labels)
        labels = priced(next).select(col("id"), col("lbl"))
        iter += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"dedupClusters did not converge in $maxIter rounds — component " +
            "diameter exceeds the pointer-jumping bound; raise maxIter")
      labels.select(col("lbl").as("survivor"), col("id").as("member"))
    } finally {
      halfP.unpersist()
      edges.unpersist()
    }
  }

  /** The apply step of near-dup dedup: given the corpus and candidate
    * pairs (from any of the near-dup generators, or a union of several),
    * drop every non-survivor cluster member and keep the rest of the
    * corpus untouched. Composition of [[dedupClusters]] + one left-anti
    * join on id — the complete pairs → components → filtered-corpus
    * pipeline in one call. */
  def applyDedup(df: DataFrame, id: Column, pairs: DataFrame,
      idA: Column, idB: Column, maxIter: Int = 30,
      driverLimit: Long = 1000000L): DataFrame = {
    val nonSurvivors = dedupClusters(pairs, idA, idB, maxIter, driverLimit)
      .filter(col("member") =!= col("survivor"))
      .select(col("member").as("__drop_id"))
    df.join(nonSurvivors, id === col("__drop_id"), "left_anti")
  }

  /** [[applyDedup]] with a QUALITY survivor policy: per near-dup cluster
    * keep the member with the greatest `score` (ties → smallest id)
    * instead of the smallest id — the curation-grade apply step: when
    * near-dups differ (truncation, boilerplate, OCR noise), min-id keeps
    * an arbitrary copy; this keeps the best one. Rows outside any
    * cluster are untouched.
    *
    * Plan: cluster resolution is [[dedupClusters]] (pair-bounded, tiny
    * vs corpus); scores join in on the member ids, one row_number window
    * over clusters picks survivors, and the corpus sees a single
    * left-anti join against the non-survivor ids — the cluster table
    * never exceeds 2·|pairs| rows, so every join is AQE-broadcast-sized
    * at any corpus scale. NULL scores rank below every non-NULL score
    * (a member with no score never beats a scored one). */
  def applyDedupBest(df: DataFrame, id: Column, score: Column,
      pairs: DataFrame, idA: Column, idB: Column, maxIter: Int = 30,
      driverLimit: Long = 1000000L): DataFrame = {
    val clusters = dedupClusters(pairs, idA, idB, maxIter, driverLimit)
    val members = df.select(id.as("__m_id"), score.as("__m_score"))
      .join(clusters, col("__m_id") === col("member"))
    val w = Window.partitionBy(col("survivor"))
      .orderBy(col("__m_score").desc_nulls_last, col("member"))
    val drop = members.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") > 1).select(col("member").as("__drop_id"))
    df.join(drop, id === col("__drop_id"), "left_anti")
  }

  /** Link-graph authority scoring — EXACT-INTEGER PageRank over a
    * directed edge list, the crawl-corpus quality signal ("which pages
    * does the web itself vouch for") that ranks alongside content
    * quality scores in a curation pipeline. All arithmetic is 64-bit
    * integer: ranks are units of a fixed `totalMass` budget, damping is
    * ppm, and every division truncates — so the result is bit-portable
    * across engines (q108 hash-gates three full iterations against
    * DuckDB) where the textbook double-precision iteration is not (the
    * per-node inflow sum is order-dependent in floats). Truncation
    * bleeds < 1 unit per division, so with `totalMass` = 10¹² the
    * relative error per iteration is ~n/10¹² — noise for any ranking
    * use (mass-conservation law spec'd).
    *
    * Per iteration: r'(v) = base + (d · (inflow(v) + dangle/n)) div 1M,
    * with base = ((T div n) · (1M − d)) div 1M, inflow(v) =
    * Σ_{u→v} r(u) div outdeg(u), and dangle = Σ ranks of nodes with no
    * out-edges (their mass redistributes uniformly — the standard
    * dangling-node treatment). Nodes = src ∪ dst; edges with a NULL (or
    * un-castable) endpoint are ignored — a phantom NULL node would
    * otherwise silently absorb rank as permanently-dangling mass.
    *
    * Plan (r22 — two rank-table-sized shuffles and two jobs per
    * iteration deleted vs r21, guide §2.4/§5): ONE node-state
    * checkpoint (node, __deg — NULL for dangling nodes) replaces the
    * former three (nodes, outdeg, dangling set), and the __deg column
    * RIDES every rank table, so the per-iteration ranks⋈outdeg join
    * and the ranks⋈dangling semi-join are both gone — each iteration
    * is one narrow contribution projection feeding the per-edge join +
    * one hash agg on dst + one left join back to the node state. Ranks
    * are checkpointed per round in a [[Checkpoints]] scope (truncate
    * lineage so the next join doesn't re-execute the whole chain), and
    * the NEXT round's dangling mass is observed on that same checkpoint
    * job — a model-sized scalar metric, not a separate aggregate job
    * (nor a corpus collect). At cluster scale, bucket the edge list by src
    * once and every iteration's big join co-locates; `iterations` is
    * bounded because authority signals saturate in single digits. */
  def linkRank(edgeList: DataFrame, src: Column, dst: Column,
      iterations: Int, dampingPpm: Long = 850000L,
      totalMass: Long = 1000000000000L): DataFrame = {
    require(iterations >= 1 && iterations <= 100,
      s"iterations must be in [1, 100]; got $iterations")
    require(dampingPpm >= 0 && dampingPpm <= 1000000,
      s"dampingPpm must be in [0, 1000000]; got $dampingPpm")
    // d·(inflow + dangleShare) ≤ 1e6·totalMass must fit a long (ANSI
    // mode would otherwise kill an iteration mid-flight with an opaque
    // ARITHMETIC_OVERFLOW); the base multiply has the same bound
    require(totalMass > 0 && totalMass <= Long.MaxValue / 1000000L,
      s"totalMass must be in (0, ${Long.MaxValue / 1000000L}]; got $totalMass")
    val e = edgeList
      .select(src.cast("long").as("src"), dst.cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .persist()
    // every intermediate is released even if an iteration throws (review
    // r15: the loop used to strand up to `iterations` superseded rank
    // tables + the edge list in the block manager); the RETURNED ranks
    // is the one survivor — its lineage is its own checkpoint, so
    // freeing the node state and `e` cannot invalidate it
    try Checkpoints.scoped { cp =>
      // one checkpoint for the whole iteration-invariant node state:
      // node ∪-set with its out-degree attached, __deg NULL ⇔ dangling
      // (the dangling SET is iteration-invariant — who has out-edges
      // never changes; only its rank mass moves)
      val (state, nRow) = cp(e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
        .join(e.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("__deg")), Seq("node"), "left_outer"),
        count(lit(1)))
      val n = nRow.getLong(0)
      if (n == 0)
        throw new IllegalArgumentException(
          "linkRank needs at least one edge with non-null endpoints")
      val base = ((totalMass / n) * (1000000L - dampingPpm)) / 1000000L
      // each rank materialization doubles as the dangling-mass
      // aggregate for the NEXT round: the observed metric is computed
      // while the checkpoint job streams the rows — exact (Long sum,
      // order-independent), no extra job, no join
      val dangle = sum(when(col("__deg").isNull, col("rank"))).as("__dangle")
      var (ranks, d) = cp(state.withColumn("rank", lit(totalMass / n)), dangle)
      for (_ <- 1 to iterations) {
        val dangleShare = (if (d.isNullAt(0)) 0L else d.getLong(0)) / n
        val inflow = ranks.filter(col("__deg").isNotNull)
          .select(col("node"), expr("rank div __deg").as("__contrib"))
          .join(e.select(col("src").as("node"), col("dst")), Seq("node"))
          .groupBy(col("dst").as("node")).agg(sum("__contrib").as("__in"))
        // `div`, not `/`: Spark's Divide on bigints returns double — the
        // truncating integral division is the portability contract here
        val (next, nextD) = cp(
          state.join(inflow, Seq("node"), "left_outer")
            .select(col("node"), col("__deg"),
              expr(s"${base}L + (${dampingPpm}L * (coalesce(__in, 0L) + " +
                s"${dangleShare}L)) div 1000000").as("rank")),
          dangle)
        cp.release(ranks) // eager — its blocks are now dead
        ranks = next
        d = nextD
      }
      ranks.select(col("node"), col("rank"))
    } finally e.unpersist()
  }

  /** Per-vertex triangle counts over an undirected graph — the local
    * clustering signal of a link corpus (link farms and boilerplate nav
    * rings are triangle-dense; organic citation is triangle-sparse),
    * complementing [[linkRank]]'s global authority and [[dedupClusters]]'
    * connectivity. Input is an edge LIST in any form: direction, order,
    * duplicates, and self-loops are all canonicalized away (an edge is
    * the unordered pair of its distinct endpoints). Returns one row per
    * vertex of the INPUT graph — every non-NULL endpoint, including a
    * vertex whose only incident edges are self-loops, which reports
    * (node, degree = 0, n_tri = 0) rather than vanishing — degree counts
    * distinct non-self neighbors, n_tri the triangles the vertex belongs
    * to; Σ n_tri = 3 × total triangles. All-integer, so the full
    * per-vertex report hash-gates (q111).
    *
    * Plan — the degree-ordered orientation (node-iterator++ / Latapy):
    * direct every canonical edge from its (degree, id)-smaller endpoint
    * to the larger, so each wedge is generated exactly once, at its
    * lowest-rank vertex, and out-degrees are bounded by O(√m) on ANY
    * graph (a vertex's out-neighbors all have rank ≥ its own) — the
    * wedge fanout Σ outdeg² stays ≤ O(m^1.5) even on power-law graphs
    * where the naive per-vertex wedge count is quadratic in the hub
    * degree. Three shuffle-bounded phases: (1) canonicalize + distinct
    * on the edge pair; (2) two node-keyed joins to attach endpoint
    * degrees (AQE broadcasts the degree table when it fits); (3) the
    * wedge equi-join on the shared low vertex + the closing-edge
    * equi-join on the (v1, v2) pair — the closing edge is looked up in
    * ORIENTED form (rank-ordered wedge ⇒ the closer, if present, is
    * oriented v1→v2), so the probe is a plain equi-join, never a
    * direction disjunction. No all-pairs anywhere; hot vertices are one
    * AQE-split partition. */
  def triangleCounts(edgeList: DataFrame, src: Column, dst: Column): DataFrame = {
    val ends = edgeList
      .select(src.cast("long").as("__s"), dst.cast("long").as("__d"))
      .filter(col("__s").isNotNull && col("__d").isNotNull)
    // node set BEFORE the self-loop filter: a loop-only vertex is still
    // a vertex of the graph and must surface as (node, 0, 0) (review r16)
    val nodes = ends
      .select(explode(array(col("__s"), col("__d"))).as("node")).distinct()
    val raw = ends.filter(col("__s") =!= col("__d"))
    val und = raw.select(least(col("__s"), col("__d")).as("a"),
      greatest(col("__s"), col("__d")).as("b")).distinct()
    val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("degree").as("__da")), "a")
      .join(deg.select(col("node").as("b"), col("degree").as("__db")), "b")
    // rank(x) = (degree(x), x); orient low rank → high rank
    val lowerA = col("__da") < col("__db") ||
      (col("__da") === col("__db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(lowerA, col("a")).otherwise(col("b")).as("u"),
      when(lowerA, col("b")).otherwise(col("a")).as("v"),
      when(lowerA, col("__db")).otherwise(col("__da")).as("__dv"))
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.u") === col("e2.u") &&
          (col("e1.__dv") < col("e2.__dv") ||
            (col("e1.__dv") === col("e2.__dv") && col("e1.v") < col("e2.v"))))
      .select(col("e1.u").as("u"), col("e1.v").as("v1"), col("e2.v").as("v2"))
    val tri = wedges.join(oriented.select(col("u").as("v1"), col("v").as("v2")),
      Seq("v1", "v2"))
    // one generate pass, not a 3-branch union (which would re-execute
    // the whole triangle pipeline once per role)
    val perNode = tri
      .select(explode(array(col("u"), col("v1"), col("v2"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("__nt"))
    nodes.join(deg, Seq("node"), "left_outer")
      .join(perNode, Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("degree"), lit(0L)).as("degree"),
        coalesce(col("__nt"), lit(0L)).as("n_tri"))
  }

  /** k-core decomposition by iterative peeling — the graph-curation
    * step that isolates densely-linked subgraphs (link farms, citation
    * cliques, bot rings) the per-vertex statistics ([[triangleCounts]],
    * [[linkRank]]) can only score row-by-row: repeatedly delete every
    * vertex with fewer than `k` surviving neighbors until no deletion
    * fires (or `maxRounds` peels — the output is then "the k-core after
    * `maxRounds` peels", stated; peeling is monotone and idempotent at
    * the fixpoint, so running EXTRA rounds never changes a converged
    * answer — that invariant is what lets a fixed-round oracle gate the
    * early-stopping operator, q139). Input edges canonicalize exactly
    * like [[triangleCounts]] (undirected distinct, self-loops and NULL
    * endpoints dropped); output is (node, degree) over the surviving
    * subgraph — at the fixpoint every degree is ≥ k by definition.
    *
    * Scale shape: each round is one map-side-combined degree agg + two
    * semi-joins, all keyed by vertex — the edge table only SHRINKS, and
    * rounds are O(peel depth), not O(|V|) (each round deletes every
    * currently-underdegree vertex at once). Round results are
    * checkpointed in a [[Checkpoints]] scope (an un-truncated loop would
    * replay every prior round per action), each round's edge count is
    * observed on its own checkpoint job, and every superseded checkpoint
    * is freed, on failure too. */
  def kCore(edgeList: DataFrame, src: Column, dst: Column, k: Int,
      maxRounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1; got $k")
    require(maxRounds >= 1 && maxRounds <= 100,
      s"maxRounds must be in [1, 100]; got $maxRounds")
    val raw = edgeList
      .select(src.cast("long").as("__s"), dst.cast("long").as("__d"))
      .filter(col("__s").isNotNull && col("__d").isNotNull &&
        col("__s") =!= col("__d"))
    Checkpoints.scoped { cp =>
      var (und, c) = cp(raw
        .select(least(col("__s"), col("__d")).as("a"),
          greatest(col("__s"), col("__d")).as("b"))
        .distinct(), count(lit(1)))
      var cnt = c.getLong(0)
      var stable = cnt == 0L
      var round = 0
      while (!stable && round < maxRounds) {
        val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
          .groupBy(col("node")).agg(count(lit(1)).as("degree"))
        val keep = deg.filter(col("degree") >= k).select(col("node"))
        val (pruned, c2) = cp(und
          .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
          .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi"),
          count(lit(1)))
        cp.release(und)
        und = pruned
        stable = c2.getLong(0) == cnt
        cnt = c2.getLong(0)
        round += 1
      }
      und.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    }
  }

  /** SEMANTIC near-dup candidate pairs — embedding-CLUSTER routing:
    * train a [[kmeansFit]] model on the corpus embeddings, route every
    * row to its argmax-dot cell ([[kmeansAssign]] — a baked-constant
    * narrow projection, zero shuffle), then emit exact-cosine pairs
    * ≥ `threshold` WITHIN each cell only. The SemDeDup recipe: where
    * [[embeddingNearDup]]'s hyperplane-LSH finds pairs that collide in
    * random-projection buckets, this finds pairs that share a LEARNED
    * cluster — the routing adapts to the corpus's actual density, and
    * the same trained model is reusable across pipeline stages
    * ([[ivfTopK]] cells, mixture audits).
    *
    * Scale shape: the pair step is an equi-join on the cell id — never a
    * global product. Cost is O(Σ|cell|²) ≈ O(n²/k) expected, so k is the
    * knob: grow it proportionally to corpus size to hold cell blocks
    * constant (SemDeDup runs k ≈ n/10⁴ at corpus scale). Cells shuffle-
    * partition independently, so a 1000-executor cluster works k cells
    * in parallel; one hot cell is one skewed partition — AQE skew-join
    * splits it. Rows with a NULL vector get a NULL cell and never pair
    * (null never equi-matches), same contract as [[embeddingNearDup]].
    * Cross-cell near-dups are missed by construction — the documented
    * approximate contract of every clustered dedup; raise k-means
    * `iters` or fall back to [[embeddingNearDup]] when recall across
    * cell boundaries matters more than model reuse.
    *
    * Output: (id_a, id_b, sim), id_a < id_b, exact cosine — drop-in for
    * the [[dedupClusters]] / [[applyDedupBest]] chain. Eager like every
    * trainer (kmeansFit runs `iters` Lloyd rounds when called).
    *
    * `nprobe` (round 14) is the opt-in CROSS-CELL recall tier: each row
    * routes to its top-`nprobe` cells (the same sorted argmax-dot list
    * ivfTopK probes), and a pair forms when the two rows share ANY
    * routed cell — so a near-dup pair straddling one cell boundary is
    * found at nprobe = 2 (RecallSpec plants one and measures it missed
    * at 1, found at 2). Still an equi-join on the cell id, never an
    * all-pairs product (PlanGuard-pinned); expected cost scales ×~nprobe²
    * candidate rows. nprobe = 1 keeps the historic single-cell plan
    * bit-for-bit (the q83 oracle path). */
  def semanticDedupPairs(df: DataFrame, id: Column, vec: Column, k: Int,
      threshold: Double, iters: Int = 2, nprobe: Int = 1): DataFrame = {
    require(k > 0, s"k must be positive; got $k")
    require(nprobe >= 1 && nprobe <= k,
      s"nprobe must be in [1, k=$k]; got $nprobe")
    val model = kmeansFit(df, id, vec, k, iters)
    val base = df.select(id.as("__sd_id"), vec.as("__sd_v"))
    val assigned =
      if (nprobe == 1) kmeansAssign(base, col("__sd_v"), model)
      else {
        val cents = collectModel(model)
        require(cents.nonEmpty, "semanticDedupPairs with an empty model")
        // NULL vectors yield a NULL cell list -> explode drops the row:
        // same never-pairs contract as the argmax path
        base.select(col("__sd_id"), col("__sd_v"),
          explode(slice(graft.functions.NearestCells(col("__sd_v"),
            cents.map(_._2), cents.map(_._1)), 1, nprobe)).as("cluster"))
      }
    val a = assigned.select(col("cluster").as("__ca"),
      col("__sd_id").as("id_a"), col("__sd_v").as("__ea"))
    val b = assigned.select(col("cluster").as("__cb"),
      col("__sd_id").as("id_b"), col("__sd_v").as("__eb"))
    val pairs = a.join(b, col("__ca") === col("__cb") && col("id_a") < col("id_b"))
      .withColumn("sim", graft.functions.CosineSim(col("__ea"), col("__eb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
    // a pair sharing BOTH probed cells collides twice; identical rows
    // (exact cosine of the same two vectors), so the collapse is safe
    if (nprobe == 1) pairs else pairs.dropDuplicates("id_a", "id_b")
  }

  /** End-to-end semantic dedup: [[semanticDedupPairs]] → connected
    * components ([[dedupClusters]]) → keep each cluster's best-`score`
    * member ([[applyDedupBest]] policy — ties to smallest id), rest of
    * the corpus untouched. One call from raw embeddings to the deduped
    * corpus; the pair/cluster tables are pair-bounded (tiny vs corpus),
    * so the corpus itself sees exactly one left-anti join. */
  def semanticDedup(df: DataFrame, id: Column, score: Column, vec: Column,
      k: Int, threshold: Double, iters: Int = 2, maxIter: Int = 30,
      driverLimit: Long = 1000000L, nprobe: Int = 1): DataFrame =
    applyDedupBest(df, id, score,
      semanticDedupPairs(df, id, vec, k, threshold, iters, nprobe),
      col("id_a"), col("id_b"), maxIter, driverLimit)

  /** Deterministic hyperplane component for the near-dup LSH bands (same
    * portable-hash recipe as SimilarityOps' ANN planes, distinct salt). */
  private def ndPlane(j: Int, dim: Int): Seq[Double] =
    (0 until dim).map(i =>
      (graft.functions.Portable.phashJvm(s"nd${j}_$i") % 2001 - 1000).toDouble / 1000.0)

  /** Embedding-cosine near-dup pairs ≥ `threshold`. Corpora at or under
    * `quadraticLimit` rows (or `allowQuadratic = true`) use the exact
    * broadcast block product; anything larger is routed through banded
    * random-hyperplane LSH candidate generation (`bands` OR-amplified
    * bands of `rowsPerBand` sign bits → band-bucket equi-join, no n²
    * product) with exact cosine verification of every candidate — the
    * brute-force form must never run silently on a real corpus. Recall of
    * the LSH path with 8×4 bands is 1−(1−p^4)^8 per pair (p = 1−θ/π) —
    * MEASURED at 1.000 over 200 planted pairs at sim ≥ 0.95 (RecallSpec;
    * README "ANN recall" has the numbers). Pairs in no shared bucket are
    * missed, which is the documented approximate contract at scale.
    *
    * Routing: pass `sizeHint` (approximate row count — e.g. from catalog
    * stats or a prior count) to pick the path without any eager work. With
    * no hint and `allowQuadratic = false`, a bounded count job runs ONCE at
    * plan-construction time (an eager action — it re-executes the upstream
    * plan and is illegal on streaming inputs; hint or flag avoid it).
    * The LSH path requires every vector to have exactly `dim` components
    * and fails loudly otherwise — silently hashing a prefix would degrade
    * recall with no signal. */
  def embeddingNearDup(df: DataFrame, id: Column, vec: Column,
      threshold: Double, dim: Int = 64, bands: Int = 8, rowsPerBand: Int = 4,
      allowQuadratic: Boolean = false, quadraticLimit: Long = 65536L,
      sizeHint: Option[Long] = None): DataFrame = {
    require(quadraticLimit >= 0 && quadraticLimit < Int.MaxValue,
      s"quadraticLimit must be in [0, Int.MaxValue); got $quadraticLimit " +
        "(0 = always take the LSH path)")
    val quadratic = allowQuadratic || sizeHint.map(_ <= quadraticLimit).getOrElse(
      df.select(id).limit(quadraticLimit.toInt + 1).count() <= quadraticLimit)
    val pairs =
      if (quadratic) {
        val a = df.select(id.as("id_a"), vec.as("__ea"))
        val b = df.select(id.as("id_b"), vec.as("__eb"))
        a.join(broadcast(b), col("id_a") < col("id_b"))
      } else {
        // all band sign bits in ONE codegen'd pass over the embedding
        // (PlaneSigns), then each band's key is a cheap shift/mask slice
        val planes = (0 until bands * rowsPerBand)
          .map(j => ndPlane(j, dim).toIndexedSeq)
        // coalesce both the test and the message: a NULL vector makes
        // size(...) null, which would otherwise null the === (falling to
        // raise_error) AND null the concat'd message — the job would die
        // with a blank error. This way null vectors fail with a readable
        // diagnostic like any other wrong-shape input.
        val vecSize = coalesce(size(col("__e0")), lit(-1))
        val checkedVec = when(vecSize === dim, col("__e0"))
          .otherwise(raise_error(concat(
            lit(s"embeddingNearDup: LSH path expects $dim-component vectors, got "),
            when(vecSize === -1, lit("null")).otherwise(vecSize.cast("string")),
            lit(" — pass the actual dim or fix the input"))))
        val sig = df.select(id.as("__id"), vec.as("__e0"))
          .select(col("__id"), checkedVec.as("__e"))
          .withColumn("__sg", graft.functions.PlaneSigns(col("__e"), planes))
        val bandKeys = array((0 until bands).map { bnd =>
          struct(lit(bnd).as("b"),
            shiftright(col("__sg"), bnd * rowsPerBand)
              .bitwiseAND(lit((1L << rowsPerBand) - 1)).as("k"))
        }.toIndexedSeq: _*)
        // carry the vectors through the band self-join (reused exchange,
        // like minhashNearDup) instead of two lookup joins back to sig;
        // multi-band collisions dedup after the verify on narrow columns
        val bd = sig.select(col("__id"), col("__e"), explode(bandKeys).as("__bk"))
        bd.as("x").join(bd.as("y"),
            col("x.__bk") === col("y.__bk") && col("x.__id") < col("y.__id"))
          .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"),
            col("x.__e").as("__ea"), col("y.__e").as("__eb"))
      }
    val out = pairs.withColumn("sim", CosineSim(col("__ea"), col("__eb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
    if (quadratic) out else out.distinct() // multi-band collisions
  }

}

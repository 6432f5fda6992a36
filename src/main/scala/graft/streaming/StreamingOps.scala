package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming operator surface (SURVEY.md §2.2 "Streaming").
  *
  * The reference's core abstraction is a schema-attached micro-batch
  * stream (`DStreamWithSchema`, OpContainer.java:43) flowing through
  * KafkaInput → AddField → KafkaOutput stubs with a fixed 10 s trigger
  * (OpContainer.java:47-49). A streaming `DataFrame` IS that abstraction
  * done right, so every operator here is a plain `DataFrame => DataFrame`
  * usable in both batch and streaming plans — the same declarative graph,
  * executed by MicroBatchExecution when the source is streaming.
  *
  * Scale posture: all stateful ops are keyed by the natural partition key
  * and bounded by watermarks, so state size is O(active keys × window),
  * never O(stream).
  *
  * Replay postures of the `foreachBatch` log sinks: exactly-once output
  * is the offset write-ahead log plus a sink that is idempotent on a
  * replayed batch — a batch whose write finished but whose commit-log
  * entry did not is re-run, with the same batch id and input, when the
  * query restarts from its checkpoint. Each log sink writes through the
  * one core of its posture:
  *  - APPEND ([[appendSink]]): the replay re-appends the same rows (each
  *    is a pure function of the batch). The read face collapses them
  *    where it reduces by max or distinct (upsert, golden record, kmv);
  *    in the index tiers (fingerprint, near-dup, media, semantic, ivfPq,
  *    ivfRpq) they are duplicate rows a compaction pass dedups; span
  *    counts sum, so a replay over-counts them.
  *  - STAMPED ([[stampedAppendSink]]): rows carry `batch_id` and the
  *    checkpoint lifetime's `sink_query_id` ([[checkpointQueryId]]); the
  *    read face ([[collapseReplays]]) takes the max per (lifetime, batch,
  *    cell) before summing, so a replay counts once while a second
  *    checkpoint lifetime, whose batch ids restart at 0, still sums. For
  *    summed logs: cms, gram.
  *  - OVERWRITE ([[batchOverwriteSink]]): each batch overwrites
  *    `path/sink_query_id=<qid>/batch_id=<id>`, so the replay replaces its
  *    first attempt. For outputs a replay may change (a refreshed model):
  *    score, ridgeScore.
  * Read faces of logs whose newer files carry a column older files lack
  * (`sink_query_id`, `sink_k`, `sink_dim`) read through [[readLog]].
  */
object StreamingOps {

  /** R1 parity: decode a Kafka-shaped (key,value) byte stream into typed
    * columns via from_json. Works on any DataFrame with a binary/string
    * `value` column — real `format("kafka")` sources and test doubles. */
  def parseKafkaJson(df: DataFrame, schema: StructType): DataFrame =
    df.select(from_json(col("value").cast("string"), schema).as("r")).select("r.*")

  /** R3 parity: encode all columns back to a Kafka-shaped JSON `value`. */
  def toKafkaJson(df: DataFrame): DataFrame =
    df.select(to_json(struct(col("*"))).as("value"))

  /** R2 parity — the reference's eponymous AddField operator
    * (AddField.java:9-23): pure narrow projection. */
  def addField(df: DataFrame, name: String, e: Column): DataFrame =
    df.withColumn(name, e)

  /** Shuffle-partition count sized to micro-batch volume. Stateful
    * streaming pays a per-partition per-batch state-store tax (store
    * open/commit, snapshot bookkeeping) that is independent of row
    * count: BASELINE.md measures the sf0.1 events replay dropping from
    * ~17k rows/s at 8 partitions to ~10k at 32 on ~14k-row batches —
    * partitions beyond rows/`targetRowsPerPartition` buy no parallelism
    * and bill pure overhead. `clamp(batchRows / target, 1,
    * maxPartitions)` keeps small-batch pipelines cheap and still opens
    * up to `maxPartitions` (≈ cores) when batches are genuinely large.
    * NOTE: Spark pins a stateful query's state partitioning into the
    * checkpoint at FIRST start — size it before the first run; changing
    * it later needs a fresh checkpoint.
    *
    * Tuning: useful parallelism is ultimately bounded by STATE
    * CARDINALITY (distinct group keys alive per batch), which no static
    * formula sees. The BASELINE.md round-9 sweep over the events replay
    * (~24 active windows) measured throughput FLAT from 2–8 partitions
    * and cliffing ≥16 regardless of batch size — so for low-cardinality
    * aggregations raise `targetRowsPerPartition` (fewer partitions);
    * the default is tuned to the measured small-batch sweet spot. */
  def sizedShufflePartitions(expectedBatchRows: Long, maxPartitions: Int,
      targetRowsPerPartition: Long = 2000L): Int = {
    require(maxPartitions >= 1, s"maxPartitions must be >= 1; got $maxPartitions")
    require(targetRowsPerPartition >= 1,
      s"targetRowsPerPartition must be >= 1; got $targetRowsPerPartition")
    val want = expectedBatchRows / targetRowsPerPartition
    math.max(1L, math.min(maxPartitions.toLong, want)).toInt
  }

  /** Scope a `spark.sql.shuffle.partitions` override to ONE query: the
    * plan is rebound to a cloned session (shared SparkContext/catalog,
    * own SQLConf) carrying the override, so starting the returned frame
    * plans with `n` partitions while every other query in the JVM keeps
    * the session default. Pair with [[sizedShufflePartitions]]; works on
    * batch frames too (any conf-sensitive one-off). Caveat: a streaming
    * query started from the returned frame registers in the CLONE's
    * `StreamingQueryManager` — hold the handle `start()` returns rather
    * than discovering it via the origin session's `spark.streams` (the
    * XML sink ops' `shufflePartitions` arg uses a set/restore around
    * start instead, exactly to keep that discovery path). */
  def withShufflePartitions(df: DataFrame, n: Int): DataFrame = {
    require(n >= 1, s"shuffle partitions must be >= 1; got $n")
    org.apache.spark.sql.graftbridge.SessionBridge.withConf(df,
      Map("spark.sql.shuffle.partitions" -> n.toString))
  }

  /** Tumbling-window counts/sums with late-data drop via watermark. */
  def tumblingAgg(df: DataFrame, ts: String, width: String,
      watermark: String, keys: Column*): DataFrame =
    df.withWatermark(ts, watermark)
      .groupBy(window(col(ts), width) +: keys: _*)
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select((col("window.start").as("window_start") +:
        col("window.end").as("window_end") +: keys) :+ col("n") :+ col("sum_value"): _*)

  /** Sliding-window variant. */
  def slidingAgg(df: DataFrame, ts: String, width: String, slide: String,
      watermark: String, keys: Column*): DataFrame =
    df.withWatermark(ts, watermark)
      .groupBy(window(col(ts), width, slide) +: keys: _*)
      .agg(count(lit(1)).as("n"))
      .select((col("window.start").as("window_start") +: keys) :+ col("n"): _*)

  /** Session windows (gap-merge semantics handled by Spark). */
  def sessionAgg(df: DataFrame, ts: String, gap: String,
      watermark: String, keys: Column*): DataFrame =
    df.withWatermark(ts, watermark)
      .groupBy(session_window(col(ts), gap) +: keys: _*)
      .agg(count(lit(1)).as("n"))
      .select((col("session_window.start").as("session_start") +:
        col("session_window.end").as("session_end") +: keys) :+ col("n"): _*)

  /** Streaming dedup bounded by watermark (state stays finite). */
  def dedupWithinWatermark(df: DataFrame, ts: String, watermark: String,
      keys: Seq[String]): DataFrame =
    df.withWatermark(ts, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream–static broadcast join (ref R1+R4 composed): the static dim is
    * broadcast, so the stream never shuffles. */
  def streamStaticJoin(stream: DataFrame, static: DataFrame,
      cond: Column): DataFrame =
    stream.join(broadcast(static), cond)

  /** Static band index for [[nearDupAgainst]]: the corpus side of
    * incremental near-dup dedup, built ONCE in batch (MinHash signatures
    * → LSH band keys, same codegen'd expressions and parameters as
    * `GraftOps.minhashNearDup`, so batch and streaming agree on what "near
    * duplicate" means). The caller persists/reuses it across the stream's
    * lifetime — the library never caches on your behalf. Grown per
    * micro-batch by [[appendSink]] over this function: band rows are a
    * pure per-row function of (text, the baked hash family), so append ==
    * rebuild (S19) — with the SAME shingleWidth / numHashes / bands as the
    * original build (a mismatch makes appended rows unreachable, not
    * wrong). */
  def nearDupIndex(corpus: DataFrame, id: Column, text: Column,
      shingleWidth: Int = 3, numHashes: Int = 16, bands: Int = 4): DataFrame = {
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    corpus.select(id.as("dup_of"), text.as("__text")).repartition(par)
      .select(col("dup_of"),
        graft.functions.MinHashSigTokens.asColumn(
          graft.functions.Text.tokens(col("__text")), shingleWidth, numHashes)
          .as("__csig"))
      .filter(col("__csig").isNotNull)
      .select(col("dup_of"), col("__csig"),
        posexplode(graft.functions.Text.lshBands(col("__csig"), bands,
          numHashes / bands)).as(Seq("__b", "__key")))
  }

  /** Incremental near-dup dedup — the streaming twin of the q16 family:
    * flags documents arriving on a stream that near-duplicate an EXISTING
    * corpus (the admission-control step of continuous corpus ingestion).
    * Per micro-batch: narrow signature computation on the stream side,
    * stream–static equi-join on (band, key) against the prebuilt index
    * (the stream never shuffles the corpus), exact signature-agreement
    * verify ≥ `minMatches`, then multi-band collision dedup on
    * (id, dup_of). The dedup state is keyed by flagged pairs only —
    * near-dups are rare by construction, but for unbounded streams wrap
    * the result with [[dedupWithinWatermark]] instead to bound state by
    * event time. Emits (id, dup_of, est_jaccard). */
  def nearDupAgainst(stream: DataFrame, id: Column, text: Column,
      index: DataFrame, shingleWidth: Int = 3, numHashes: Int = 16,
      bands: Int = 4, minMatches: Int = 8): DataFrame = {
    val sBands = stream.select(id.as("id"), text.as("__text"))
      .select(col("id"),
        graft.functions.MinHashSigTokens.asColumn(
          graft.functions.Text.tokens(col("__text")), shingleWidth, numHashes)
          .as("__sig"))
      .filter(col("__sig").isNotNull)
      .select(col("id"), col("__sig"),
        posexplode(graft.functions.Text.lshBands(col("__sig"), bands,
          numHashes / bands)).as(Seq("__b", "__key")))
    sBands.join(index, Seq("__b", "__key"))
      .filter(col("id") =!= col("dup_of")) // re-ingested doc is not its own dup
      // same codegen'd agreement count as the batch minhashNearDup — one
      // expression in both paths keeps S10's batch/stream agreement exact
      // and takes the interpreted HOF off the per-micro-batch hot path
      .withColumn("__m", graft.functions.SigMatchCount.asColumn(
        col("__sig"), col("__csig")))
      .filter(col("__m") >= minMatches)
      .select(col("id"), col("dup_of"),
        (col("__m").cast("double") / numHashes.toDouble).as("est_jaccard"))
      .dropDuplicates("id", "dup_of")
  }

  /** Static exact-fingerprint index — the cheap FIRST tier of continuous
    * corpus admission, in front of [[nearDupIndex]]'s banded tier: one
    * md5 content fingerprint of the NORMALIZED text per corpus document
    * (the same `Text.normText` canon as batch q11, so batch and stream
    * agree on what "exact duplicate" means). Built once in batch;
    * caller-persisted across the stream's lifetime, like every index
    * here. Narrow projection — at any corpus scale this is one scan. */
  def fingerprintIndex(corpus: DataFrame, id: Column, text: Column): DataFrame =
    corpus.select(id.as("dup_of"),
        md5(graft.functions.Text.normText(text).cast("binary")).as("__fp"))
      .filter(col("__fp").isNotNull)

  /** Exact-dup flags against the index: (id, dup_of) for every arriving
    * document whose normalized content md5 already exists in the corpus
    * — the exact twin of [[nearDupAgainst]] (equi-join on the
    * fingerprint, so the stream never shuffles the corpus; a re-ingested
    * id is not its own dup). */
  def fingerprintAgainst(stream: DataFrame, id: Column, text: Column,
      index: DataFrame): DataFrame =
    stream.select(id.as("id"),
        md5(graft.functions.Text.normText(text).cast("binary")).as("__fp"))
      .join(index, Seq("__fp"))
      .filter(col("id") =!= col("dup_of"))
      .select(col("id"), col("dup_of"))

  /** Exact-dup ADMISSION: the arriving rows whose content is NOT already
    * in the corpus, original schema untouched — one stream–static
    * LEFT-ANTI equi-join on the content md5. Admission is per-row
    * against the STATIC corpus: two identical rows arriving in the same
    * micro-batch are both admitted (neither is in the corpus yet) —
    * compose with [[dedupWithinWatermark]] for within-stream dedup, and
    * refresh/append the index between batches via [[foreachBatchSink]]
    * when admitted rows should immediately block later arrivals. */
  def fingerprintAdmit(stream: DataFrame, text: Column,
      index: DataFrame): DataFrame =
    stream.withColumn("__fp",
        md5(graft.functions.Text.normText(text).cast("binary")))
      .join(index.select(col("__fp")), Seq("__fp"), "left_anti")
      .drop("__fp")

  /** `nChunks` equal band rows of a 64-bit fingerprint frame — the shared
    * index half of the MEDIA admission tiers (image/audio), the SAME
    * banding as `MultimodalOps.hammingNearDup`: `hashed` must be
    * (doc_id, __h) with decodable rows only. The band count is baked at
    * INDEX BUILD time — the flag side must use the same value. */
  private def bandIndex64(hashed: DataFrame, nChunks: Int): DataFrame = {
    require(nChunks >= 2 && 64 % nChunks == 0,
      s"nChunks must divide 64; got $nChunks")
    val cb = 64 / nChunks
    hashed.select(col("doc_id").as("dup_of"), col("__h").as("__ch"),
      posexplode(array((0 until nChunks).map(i =>
        shiftright(col("__h"), i * cb).bitwiseAND(lit((1L << cb) - 1))): _*))
        .as(Seq("__c", "__chunk")))
  }

  /** The shared stream-side half: stream–static equi-join on the band key
    * (the stream never shuffles the corpus), exact popcount verify,
    * STATELESS multi-band collision collapse — a (id, dup_of) pair is
    * emitted only from the FIRST band at which the two hashes agree, a
    * pure per-row predicate over the two full hashes, so no
    * dropDuplicates state accumulates across micro-batches (a
    * long-running stream stays bounded) and no shuffle is added in the
    * batch twin. `nChunks` must match the index's build-time banding
    * (≤ nChunks−1 flips leave a band untouched — pigeonhole-exhaustive,
    * same as the batch `hammingNearDup` generalization). */
  private def bandAgainst64(sHashed: DataFrame, index: DataFrame,
      maxHamming: Int, nChunks: Int): DataFrame = {
    require(nChunks >= 2 && 64 % nChunks == 0,
      s"nChunks must divide 64; got $nChunks")
    require(maxHamming < nChunks,
      s"$nChunks bands are only exhaustive for maxHamming <= ${nChunks - 1} " +
        s"(pigeonhole); got $maxHamming — rebuild the index at a higher nChunks")
    val cb = 64 / nChunks
    val mask = lit((1L << cb) - 1)
    val sBands = sHashed.select(col("doc_id").as("id"), col("__h").as("__sh"),
      posexplode(array((0 until nChunks).map(i =>
        shiftright(col("__h"), i * cb).bitwiseAND(mask)): _*))
        .as(Seq("__c", "__chunk")))
    // round-13 persisted image indexes carry __cah; accept them unchanged
    val idx = if (index.columns.contains("__cah"))
      index.withColumnRenamed("__cah", "__ch") else index
    // hamming <= nChunks-1 guarantees an equal band (pigeonhole), so
    // keeping only __c == firstEq emits each matched pair exactly once
    val diff = expr("__sh ^ __ch")
    val firstEq = (0 until nChunks).foldRight(lit(-1): Column) { (i, rest) =>
      when(shiftright(diff, i * cb).bitwiseAND(mask) === 0, lit(i))
        .otherwise(rest)
    }
    sBands.join(idx, Seq("__c", "__chunk"))
      .filter(col("id") =!= col("dup_of")) // a re-ingested item is not its own dup
      .withColumn("hamming", bit_count(diff).cast("int"))
      .filter(col("hamming") <= maxHamming && col("__c") === firstEq)
      .select(col("id"), col("dup_of"), col("hamming"))
  }

  /** Static image-fingerprint index — the MEDIA tier of continuous
    * corpus admission (the [[fingerprintIndex]]/[[nearDupIndex]] pattern
    * on the image axis): decode every corpus image once
    * ([[graft.operators.MultimodalOps.imageAHash]]), keep decodable rows,
    * and explode the 64-bit perceptual hash into its `nChunks` band keys
    * (the q17/q87 banded-hamming scheme — exhaustive for radius ≤
    * nChunks−1 by pigeonhole; 4×16-bit default covers radius ≤ 3, build
    * at nChunks = 8 for the JPEG-re-encode hamming-4..7 regime). Build
    * once in batch; caller-persisted; the flag side must use the SAME
    * nChunks. Grown per micro-batch by [[appendSink]] over this function
    * (append == rebuild, S16/S19), at the `nChunks` the index was first
    * built at. */
  def imageDupIndex(corpus: DataFrame, id: Column, payload: Column,
      nChunks: Int = 4): DataFrame =
    bandIndex64(graft.operators.MultimodalOps.imageAHash(
        corpus.select(id.cast("long").as("doc_id"), payload.as("payload")))
      .toDF().filter(col("ok"))
      .select(col("doc_id"), col("ahash").as("__h")), nChunks)

  /** Image near-dup flags against the index: (id, dup_of, hamming) for
    * every ARRIVING image within `maxHamming` aHash bits of an indexed
    * corpus image — one decode+hash pass on the stream side, then the
    * [[bandAgainst64]] stateless band join. Undecodable arrivals flag
    * nothing (their rows are ok=false and filtered — corrupt media is
    * counted upstream, never clustered). */
  def imageDupAgainst(stream: DataFrame, id: Column, payload: Column,
      index: DataFrame, maxHamming: Int = 3, nChunks: Int = 4): DataFrame =
    bandAgainst64(graft.operators.MultimodalOps.imageAHash(
        stream.select(id.cast("long").as("doc_id"), payload.as("payload")))
      .toDF().filter(col("ok"))
      .select(col("doc_id"), col("ahash").as("__h")), index, maxHamming, nChunks)

  /** Static audio-fingerprint index — [[imageDupIndex]] on the audio
    * axis: decode every corpus clip once
    * ([[graft.operators.MultimodalOps.audioFingerprint]], the 64-bit
    * energy-envelope hash of real PCM), keep decodable rows, band-explode.
    * Build once in batch; caller-persisted. Grown per micro-batch by
    * [[appendSink]] over this function (append == rebuild, S17/S19), at
    * the `nChunks` the index was first built at. */
  def audioDupIndex(corpus: DataFrame, id: Column, payload: Column,
      nChunks: Int = 4): DataFrame =
    bandIndex64(graft.operators.MultimodalOps.audioFingerprint(
        corpus.select(id.cast("long").as("doc_id"), payload.as("payload")))
      .toDF().filter(col("ok"))
      .select(col("doc_id"), col("afp").as("__h")), nChunks)

  /** Audio near-dup flags against the index — [[imageDupAgainst]] on the
    * audio axis, same stateless band join, same corrupt-media contract. */
  def audioDupAgainst(stream: DataFrame, id: Column, payload: Column,
      index: DataFrame, maxHamming: Int = 3, nChunks: Int = 4): DataFrame =
    bandAgainst64(graft.operators.MultimodalOps.audioFingerprint(
        stream.select(id.cast("long").as("doc_id"), payload.as("payload")))
      .toDF().filter(col("ok"))
      .select(col("doc_id"), col("afp").as("__h")), index, maxHamming, nChunks)

  /** Static video frame-sequence index — the sequence member of the media
    * admission matrix: every corpus payload's ok-prefix frame hashes
    * ([[graft.operators.MultimodalOps.videoFrameHashVec]]) exploded to
    * LEAN (dup_of, frame_idx, frame_hash) band rows — O(frames) per
    * video; the full signature a pair-verify needs is REBUILT from these
    * rows at flag time (frame indices are an ok-prefix, so the sorted
    * collect IS the signature), rather than duplicated onto every band
    * row (which would make the persisted index O(frames²) per video).
    * Build once in batch; caller-persisted. Grown per micro-batch by
    * [[appendSink]] over this function (append == rebuild, S18/S19). */
  def videoDupIndex(corpus: DataFrame, id: Column, payload: Column): DataFrame =
    graft.operators.MultimodalOps.videoFrameHashVec(
        corpus.select(id.cast("long").as("doc_id"), payload.as("payload")))
      .toDF().filter(col("ok"))
      .select(col("doc_id").as("dup_of"),
        posexplode(col("fhashes")).as(Seq("__f", "__fh")))

  /** Video near-dup flags against the index: (id, dup_of, matched_frames,
    * n_stream, n_corpus, sim) for every ARRIVING video sharing
    * ≥ `minMatches` aligned identical frame hashes with an indexed
    * original — q91's `videoNearDup` semantics as an admission tier. One
    * decode+hash pass per arrival, candidate via stream–static equi-join
    * on (frame_idx, frame_hash) — one shared frame makes a candidate,
    * never all-pairs — then a PER-ROW verify over the two full
    * signatures (codegen'd [[graft.functions.SigMatchCount]]: aligned
    * positions with equal hashes — exactly the grouped join count
    * `videoNearDup` aggregates, since ok-frames are always a prefix) and
    * the [[graft.functions.FirstEqIndex]] stateless collapse (each pair
    * emitted only from its first shared frame index) — so unlike a
    * groupBy re-aggregation, NOTHING is stateful across micro-batches.
    * Undecodable arrivals flag nothing. */
  def videoDupAgainst(stream: DataFrame, id: Column, payload: Column,
      index: DataFrame, minMatches: Int = 2): DataFrame = {
    require(minMatches >= 1, s"minMatches must be >= 1; got $minMatches")
    val s = graft.operators.MultimodalOps.videoFrameHashVec(
        stream.select(id.cast("long").as("doc_id"), payload.as("payload")))
      .toDF().filter(col("ok"))
      .select(col("doc_id").as("id"), col("fhashes").as("__sfh"),
        posexplode(col("fhashes")).as(Seq("__f", "__fh")))
    // rebuild each corpus video's ok-prefix signature from its lean band
    // rows (collect_set: an append-sink crash retry re-appends IDENTICAL
    // rows, so the rebuilt signature stays correct without compaction —
    // retry-duplicate band rows still duplicate flag ROWS, the same
    // documented caveat as the image/audio tiers)
    val sigs = index.groupBy(col("dup_of")).agg(
      transform(array_sort(collect_set(struct(col("__f"), col("__fh")))),
        p => p.getField("__fh")).as("__cfh"))
    s.join(index, Seq("__f", "__fh"))
      .filter(col("id") =!= col("dup_of")) // a re-ingested video is not its own dup
      .join(sigs, Seq("dup_of"))
      .withColumn("matched_frames",
        graft.functions.SigMatchCount.asColumn(col("__sfh"), col("__cfh"))
          .cast("long"))
      .filter(col("matched_frames") >= minMatches &&
        col("__f") === graft.functions.FirstEqIndex.asColumn(
          col("__sfh"), col("__cfh")))
      .select(col("id"), col("dup_of"), col("matched_frames"),
        size(col("__sfh")).as("n_stream"), size(col("__cfh")).as("n_corpus"),
        (col("matched_frames").cast("double") /
          greatest(size(col("__sfh")), size(col("__cfh"))).cast("double"))
          .as("sim"))
  }

  /** Static semantic-dup index — the EMBEDDING tier of continuous corpus
    * admission (S25), completing the admission matrix behind the exact
    * fingerprint (S14), banded-text (S10), and media (S16–S18) tiers:
    * assign every corpus row to its argmax-dot cell of a batch-trained
    * [[graft.api.GraftOps.kmeansFit]] model (the q83 SemDeDup routing —
    * the SAME reusable trained model as the batch pipeline, so batch
    * and stream agree on the cell geometry by construction) and keep
    * (cluster, dup_of, __cv). One narrow assignment scan; build once in
    * batch, caller-persisted, appendable per admitted batch like every
    * index here. NULL vectors never index (they can never pair). */
  def semanticDupIndex(corpus: DataFrame, id: Column, vec: Column,
      model: DataFrame): DataFrame =
    graft.api.GraftOps.kmeansAssign(
        corpus.select(id.as("dup_of"), vec.as("__cv"))
          .filter(col("__cv").isNotNull),
        col("__cv"), model)
      .select(col("cluster"), col("dup_of"), col("__cv"))

  /** Semantic near-dup flags against the index: (id, dup_of, sim) for
    * every ARRIVING row whose exact cosine against some routed-cell
    * corpus row clears `threshold` — the streaming twin of the q83
    * cluster-routing recipe. The stream side routes to its top-`nprobe`
    * cells in one baked-constant narrow projection (the model collects
    * ONCE at plan-build time — k·dim trained constants, never the
    * corpus), then one stream–static equi-join on the cell id (the
    * stream never shuffles the corpus) and an exact CosineSim verify.
    * STATELESS by construction: an indexed corpus row holds exactly ONE
    * argmax cell, so a (stream, corpus) pair can match at most one of
    * the stream row's probed cells — no multi-collision, no cross-batch
    * dedup state to accumulate, and the flag set for a replay is
    * identical in ANY chunking (law S25). Same recall contract as
    * batch: a near-dup straddling a cell boundary needs nprobe ≥ 2.
    * `sharedIdSpace` (default true) drops pairs whose arriving id
    * equals the indexed dup_of id — the re-ingestion self-dup guard;
    * pass false when the stream and the index use DIFFERENT id spaces,
    * where a coincidental equality would silently suppress a real flag.
    * Admission composes per micro-batch: inside a [[foreachBatchSink]]
    * the batch is a plain DataFrame, so `batch.join(flags, "left_anti")`
    * + index append is the fingerprintAppendSink idiom at this tier. */
  def semanticDupAgainst(stream: DataFrame, id: Column, vec: Column,
      model: DataFrame, index: DataFrame, threshold: Double,
      nprobe: Int = 1, sharedIdSpace: Boolean = true): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1; got $nprobe")
    val cents = graft.api.GraftOps.collectModel(model)
    require(cents.nonEmpty, "semanticDupAgainst with an empty model")
    val routed = stream.select(id.as("id"), vec.as("__sv"))
      .filter(col("__sv").isNotNull)
      .select(col("id"), col("__sv"),
        explode(slice(graft.functions.NearestCells(col("__sv"),
          cents.map(_._2), cents.map(_._1)), 1, nprobe)).as("cluster"))
    val paired = routed.join(index, Seq("cluster"))
    // self-exclusion ASSUMES the stream and the index share one id
    // space (a re-ingested row is not its own dup). When the two sides
    // use DIFFERENT id spaces, a coincidental numeric equality would
    // silently suppress a legitimate near-dup flag (r17 ADVICE) — such
    // callers pass sharedIdSpace = false to keep every pair.
    val candidates =
      if (sharedIdSpace) paired.filter(col("id") =!= col("dup_of"))
      else paired
    candidates
      .withColumn("sim", graft.functions.CosineSim(col("__sv"), col("__cv")))
      .filter(col("sim") >= threshold)
      .select(col("id"), col("dup_of"), col("sim"))
  }

  /** Stream–stream equi-join with watermarks on both sides and a
    * time-range condition bounding join state (SURVEY.md §2.2). */
  def streamStreamJoin(left: DataFrame, leftTs: String, right: DataFrame,
      rightTs: String, watermark: String, cond: Column): DataFrame =
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark), cond)

  /** foreachBatch sink (ref R8 generalized — JDBC-ish sinks without a
    * connector: each micro-batch arrives as a plain batch DataFrame). */
  def foreachBatchSink(df: DataFrame, queryName: String, checkpoint: String)(
      f: (DataFrame, Long) => Unit) =
    df.writeStream.queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .foreachBatch(f)

  /** The streaming query's STABLE id, read from `<checkpoint>/metadata`
    * (Spark writes it at query start, before the first batch runs). This
    * is the one discriminator with exactly the lifetime the stamped and
    * overwrite postures need: it stays the SAME across restarts from one
    * checkpoint (so a replay of batch N still meets its first attempt)
    * and is FRESH for a new checkpoint (where batch ids restart at 0).
    * The per-START `runId` would be wrong here: a batch replayed across a
    * restart carries a new runId. */
  private[streaming] def checkpointQueryId(
      spark: org.apache.spark.sql.SparkSession, checkpoint: String): String = {
    val p = new org.apache.hadoop.fs.Path(checkpoint, "metadata")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val txt =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    // Proper JSON parse (r20 ADVICE — a regex over raw text would
    // silently pick up any other "id" key a future metadata format
    // puts first); Jackson rides on Spark's classpath
    val node =
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(txt)
      catch { case e: Exception => throw new IllegalArgumentException(
        s"checkpointQueryId: unparseable metadata JSON in $p: ${e.getMessage}") }
    val idNode = node.get("id")
    if (idNode == null || !idNode.isTextual || idNode.asText.isEmpty)
      throw new IllegalArgumentException(
        s"checkpointQueryId: no query id in $p — not a streaming checkpoint?")
    idNode.asText
  }

  /** [[foreachBatchSink]] whose writes also get the checkpoint lifetime's
    * query id, read once on the first batch and kept for the query. */
  private def queryIdSink(stream: DataFrame, queryName: String,
      checkpoint: String)(write: (DataFrame, Long, String) => Unit) = {
    var qid: String = null
    foreachBatchSink(stream, queryName, checkpoint) { (batch, id) =>
      if (qid == null) qid = checkpointQueryId(batch.sparkSession, checkpoint)
      write(batch, id, qid)
    }
  }

  private def appendTo(path: String)(rows: DataFrame): Unit =
    rows.write.mode("append").parquet(path)

  /** The APPEND posture: each micro-batch's `rows` append to the parquet
    * log at `path`, at least once — see the object doc for what absorbs
    * a replayed batch. Returns the writer; call `.start()` (optionally
    * with a trigger) to run. */
  def appendSink(stream: DataFrame, path: String, queryName: String,
      checkpoint: String)(rows: DataFrame => DataFrame): DataStreamWriter[Row] =
    foreachBatchSink(stream, queryName, checkpoint) { (batch, _) =>
      appendTo(path)(rows(batch))
    }

  /** The STAMPED posture: [[appendSink]] with every row tagged by its
    * `batch_id` and the checkpoint lifetime's `sink_query_id` (then the
    * `trailing` columns), so [[collapseReplays]] counts a replayed batch
    * once. For logs whose read face SUMS. */
  private def stampedAppendSink(stream: DataFrame, path: String,
      queryName: String, checkpoint: String, trailing: Column*)(
      rows: DataFrame => DataFrame): DataStreamWriter[Row] =
    queryIdSink(stream, queryName, checkpoint) { (batch, id, qid) =>
      appendTo(path)(rows(batch).select(col("*") +: lit(id).as("batch_id") +:
        lit(qid).as("sink_query_id") +: trailing: _*))
    }

  /** The OVERWRITE posture: each micro-batch's `rows` overwrite the
    * partition directory `path/sink_query_id=<qid>/batch_id=<id>`, so a
    * replay replaces its first attempt wholesale (last attempt wins) and a
    * second checkpoint lifetime's batch 0 never clobbers the first's.
    * Readers `spark.read.parquet(path)`: both levels surface as columns. */
  private def batchOverwriteSink(stream: DataFrame, path: String,
      queryName: String, checkpoint: String)(
      rows: DataFrame => DataFrame): DataStreamWriter[Row] =
    queryIdSink(stream, queryName, checkpoint) { (batch, id, qid) =>
      rows(batch).write.mode("overwrite")
        .parquet(s"$path/sink_query_id=$qid/batch_id=$id")
    }

  /** A log read with `mergeSchema`: a log mixing files written before a
    * column was added (`sink_query_id`, `sink_k`, `sink_dim`) with newer
    * ones must not let Spark take its schema from an OLD footer and drop
    * the column for every row. */
  private def readLog(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Read side of [[stampedAppendSink]]: the max `value` per (lifetime,
    * batch, cell) — a replay re-emits the same value for the same stamp —
    * then the sum per cell. Rows that predate `sink_query_id` share one
    * sentinel lifetime (the old batch-id-only collapse). */
  private def collapseReplays(log: DataFrame, cell: Seq[String],
      value: String): DataFrame = {
    val old = lit("pre-upgrade")
    val run =
      if (log.columns.contains("sink_query_id")) coalesce(col("sink_query_id"), old)
      else old
    log.groupBy(run.as("__run") +: col("batch_id") +: cell.map(col): _*)
      .agg(max(col(value)).as(value))
      .groupBy(cell.map(col): _*)
      .agg(sum(col(value)).as(value))
  }

  /** Incremental maintenance of a STORED IVF×PQ index: every arriving
    * micro-batch is encoded against the SAME frozen coarse/PQ models
    * (collected ONCE here, not per batch) and its (id, cell, codes) rows
    * are appended to the at-rest parquet index at `path`. Because
    * raw-vector encode is a pure per-row function of the frozen models
    * (the SURVEY §2.4 design choice — codes never depend on other rows or
    * on when they were encoded), append-then-search is EXACTLY
    * rebuild-then-search over the union: the stored index stays valid as
    * the corpus grows, no re-encode of existing rows ever needed.
    *
    * Append posture. Duplicates from a replayed batch are NOT free for
    * search: a duplicated candidate id can occupy two top-k slots and
    * displace a distinct neighbor, so search-after-replay may differ from
    * search-over-rebuild until the index is compacted. */
  def ivfPqAppendSink(stream: DataFrame, id: Column, vec: Column,
      coarseModel: DataFrame, pqModel: DataFrame, dim: Int, path: String,
      queryName: String, checkpoint: String): DataStreamWriter[Row] =
    appendSink(stream, path, queryName, checkpoint)(
      graft.api.GraftOps.ivfPqEncoder(id, vec, coarseModel, pqModel, dim))

  /** The residual-tier twin of [[ivfPqAppendSink]]: micro-batches encode
    * through [[graft.api.GraftOps.ivfRpqEncoder]] (frozen coarse +
    * residual-pq models, collected once) and append to the at-rest
    * residual index. Residual codes are still a pure per-row function of
    * the frozen model PAIR, so append == rebuild exactly (PqSpec); the
    * delivery caveats of the raw sink apply unchanged. Remember the
    * residual lifecycle rule: if the coarse model is ever retrained, the
    * WHOLE index (appended batches included) must be re-encoded. */
  def ivfRpqAppendSink(stream: DataFrame, id: Column, vec: Column,
      coarseModel: DataFrame, rpqModel: DataFrame, dim: Int, path: String,
      queryName: String, checkpoint: String): DataStreamWriter[Row] =
    appendSink(stream, path, queryName, checkpoint)(
      graft.api.GraftOps.ivfRpqEncoder(id, vec, coarseModel, rpqModel, dim))

  /** ADMISSION-INDEX append maintenance (round 14) — the
    * [[ivfPqAppendSink]] idea applied to the S14–S18 admission indexes:
    * each micro-batch of newly ADMITTED content computes its own index
    * rows and appends them to the at-rest parquet index, so LATER
    * arrivals dedup against everything admitted so far, not just the
    * original batch-built corpus. Every index row is a pure per-row
    * function of its payload (no model, no other rows), so
    * append-then-flag EXACTLY equals rebuild-then-flag over the union
    * (spec'd: S19, and the batch union laws). Append posture: a replayed
    * batch appends duplicate index rows, which duplicate FLAG rows (never
    * wrong flags) until a compaction pass dedups the index. Feed these
    * sinks the ADMITTED stream (post [[fingerprintAdmit]]/flag
    * filtering), or the raw one to index everything that arrives. The
    * other per-row tiers append through [[appendSink]] with their index
    * function ([[nearDupIndex]], [[imageDupIndex]], [[audioDupIndex]],
    * [[videoDupIndex]]). */
  def fingerprintAppendSink(stream: DataFrame, id: Column, text: Column,
      path: String, queryName: String,
      checkpoint: String): DataStreamWriter[Row] =
    appendSink(stream, path, queryName, checkpoint)(fingerprintIndex(_, id, text))

  /** The S25 SEMANTIC tier's append maintenance — same law as the other
    * per-row tiers because a cell assignment is a pure per-row function
    * of (vector, the FROZEN model): append-then-flag == rebuild-then-
    * flag over the union exactly, in the append posture. Same
    * model-lifecycle rule as [[ivfRpqAppendSink]]: if the kmeans model is
    * ever retrained, the whole index (appended batches included) must be
    * re-assigned — appended rows carry the OLD cell geometry and would
    * silently stop matching re-routed arrivals. */
  def semanticDupAppendSink(stream: DataFrame, id: Column, vec: Column,
      model: DataFrame, path: String, queryName: String,
      checkpoint: String): DataStreamWriter[Row] = {
    // collect the trained constants ONCE at sink build, not per batch
    val cents = graft.api.GraftOps.collectModel(model)
    require(cents.nonEmpty, "semanticDupAppendSink with an empty model")
    appendSink(stream, path, queryName, checkpoint) { batch =>
      batch.select(id.as("dup_of"), vec.as("__cv"))
        .filter(col("__cv").isNotNull)
        .withColumn("cluster",
          element_at(graft.functions.NearestCells(col("__cv"),
            cents.map(_._2), cents.map(_._1)), 1))
        .select(col("cluster"), col("dup_of"), col("__cv"))
    }
  }

  /** The SPAN tier's append maintenance: the span index is NOT per-row
    * (df counts aggregate across docs), so what appends is the MERGEABLE
    * partial — [[graft.api.GraftOps.spanIndexCounts]] per micro-batch —
    * and the reader derives the index with
    * [[graft.api.GraftOps.spanIndexFromCounts]]. Exact under the
    * each-doc-arrives-once contract (distinct-doc counts then merge as
    * plain sums); the S19 law pins incremental == one-batch. Append
    * posture, so a replayed batch's counts add twice (the over-count
    * [[graft.api.GraftOps.compactSpanCounts]] documents). */
  def spanIndexAppendSink(stream: DataFrame, id: Column, text: Column,
      width: Int, path: String, queryName: String,
      checkpoint: String): DataStreamWriter[Row] =
    appendSink(stream, path, queryName, checkpoint)(
      graft.api.GraftOps.spanIndexCounts(_, id, text, width))

  /** S20 — continuously-maintained upsert table (the streaming twin of
    * [[graft.api.GraftOps.applyChanges]], completing the changelog
    * family the way S14–S19 complete the dedup families): each arriving
    * micro-batch of changes is pre-reduced to its per-key winners
    * ([[graft.api.GraftOps.latestByKey]] — at most one row per key per
    * batch crosses the sink) and APPENDED to a parquet upsert log at
    * `path`. The log is reduce-on-read ([[upsertState]]) and compacted
    * periodically ([[graft.api.GraftOps.compactUpsertLog]]) — the S19
    * append + merge posture, NOT a per-batch read-modify-write of the
    * whole state (which would re-write O(keys) every batch at 100 TB).
    *
    * Correctness rests on max-by being associative and insensitive to
    * arrival order: latestByKey(log of per-batch winners) ==
    * latestByKey(all changes), whatever the chunking — S20 pins
    * stream == batch over unordered chunks. Tombstones stay IN the log
    * (and in compacted state) so an out-of-order older update can never
    * resurrect a deleted key; only the read face filters them. Append
    * posture: a replay re-appends the identical winner rows, which the
    * read-side reduction collapses. Columns are passed BY NAME so a
    * restarted sink binds against the restored plan. */
  def upsertAppendSink(stream: DataFrame, key: Seq[String], version: String,
      tiebreak: String, path: String, queryName: String,
      checkpoint: String): DataStreamWriter[Row] =
    appendSink(stream, path, queryName, checkpoint)(
      graft.api.GraftOps.latestByKey(_, key.map(col), col(version), col(tiebreak)))

  /** Read face of [[upsertAppendSink]]'s log: the current table — one
    * winning row per key, tombstones filtered HERE (never from the
    * log). Equals `applyChanges` over everything ever appended. */
  def upsertState(spark: org.apache.spark.sql.SparkSession, path: String,
      key: Seq[String], version: String, tiebreak: String,
      isDelete: Column): DataFrame =
    graft.api.GraftOps.applyChanges(graft.Tables.parquet(spark, path),
      key.map(col), col(version), col(tiebreak), isDelete)

  /** S26 — continuously-maintained FIELD-wise survivorship (the
    * streaming twin of [[graft.api.GraftOps.goldenRecord]], completing
    * the changelog family the way S20 completed row-wise upserts): each
    * arriving micro-batch is pre-reduced to its per-key per-field
    * winners ([[graft.api.GraftOps.goldenRecordDelta]] — at most one
    * row per key per batch crosses the sink, each field riding its
    * winning (version, tiebreak, value) struct) and APPENDED to a
    * parquet log at `path`. The log is reduce-on-read
    * ([[goldenRecordState]]) — the S19/S20 append + merge posture,
    * never a per-batch read-modify-write of O(keys) state. Per-field
    * max over the (version, tiebreak) total order is associative, so
    * state == batch [[graft.api.GraftOps.goldenRecord]] over all
    * changes for ANY chunking (law S26); a replay re-appends identical
    * winner structs, which the read-side max collapses. Columns by NAME
    * so a restarted sink binds against the restored plan. */
  def goldenRecordAppendSink(stream: DataFrame, key: Seq[String],
      version: String, tiebreak: String, fields: Seq[String], path: String,
      queryName: String, checkpoint: String): DataStreamWriter[Row] =
    appendSink(stream, path, queryName, checkpoint)(
      graft.api.GraftOps.goldenRecordDelta(_, key, version, tiebreak, fields))

  /** Read face of [[goldenRecordAppendSink]]'s log: per key, each
    * field's surviving value (the max winner struct's `x`) plus
    * `last_<version>` — row-equal to [[graft.api.GraftOps.goldenRecord]]
    * over everything ever appended (law S26). */
  def goldenRecordState(spark: org.apache.spark.sql.SparkSession,
      path: String, key: Seq[String], version: String,
      fields: Seq[String]): DataFrame = {
    val log = graft.Tables.parquet(spark, path)
    val aggs = fields.map(f => max(col(f)).as(f)) :+
      max(col(s"last_$version")).as(s"last_$version")
    log.groupBy(key.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .select((key.map(col) ++ fields.map(f => col(f).getField("x").as(f)) :+
        col(s"last_$version")): _*)
  }

  /** S29 — continuously-maintained count-min sketch (the streaming face
    * of [[graft.api.GraftOps.cmsSketch]], the S19/S20/S26 append +
    * reduce-on-read posture applied to the sketch algebra): each
    * micro-batch's OWN sketch cells append to a parquet log at `path`
    * (≤ depth·width rows per batch — the log grows with batches, never
    * with keys), and [[cmsState]] folds the log by the q150 merge law
    * (sketch of a union == cell-wise sum), so state == batch cmsSketch
    * over everything for ANY chunking (law S29). A summed sketch cannot
    * absorb a replay for free, so this sink is in the stamped posture. */
  def cmsAppendSink(stream: DataFrame, key: String, depth: Int, width: Int,
      path: String, queryName: String,
      checkpoint: String): DataStreamWriter[Row] =
    stampedAppendSink(stream, path, queryName, checkpoint)(
      graft.api.GraftOps.cmsSketch(_, col(key), depth, width))

  /** Read face of [[cmsAppendSink]]'s log: one row per live cell —
    * row-equal to batch [[graft.api.GraftOps.cmsSketch]] over every row
    * ever streamed (law S29); feed it to
    * [[graft.api.GraftOps.cmsQuery]] unchanged. */
  def cmsState(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    collapseReplays(readLog(spark, path), Seq("j", "bucket"), "c")

  /** S30 — continuously-maintained KMV distinct sketch (the streaming
    * face of [[graft.api.GraftOps.kmvSketch]]): each micro-batch's own
    * bottom-k per group appends (≤ |groups|·k rows per batch), and
    * [[kmvState]] re-derives the global bottom-k from the log — any
    * hash in the TRUE bottom-k of the union is in its own batch's
    * bottom-k, so state == batch kmvSketch over everything for ANY
    * chunking (law S30). Hash values are content-deterministic, so a
    * replay re-appends identical (grp, h) rows and the read-side
    * distinct collapses them (append posture). The sink's `k` is
    * persisted with every appended row (`sink_k`) so the read face can
    * PROVE the law's premise instead of assuming it. */
  def kmvAppendSink(stream: DataFrame, group: String, value: String,
      k: Int, path: String, queryName: String,
      checkpoint: String): DataStreamWriter[Row] =
    appendSink(stream, path, queryName, checkpoint)(
      graft.api.GraftOps.kmvSketch(_, col(group), col(value), k)
        .withColumn("sink_k", lit(k)))

  /** Read face of [[kmvAppendSink]]'s log: the global per-group
    * bottom-k — row-equal to batch [[graft.api.GraftOps.kmvSketch]]
    * over every row ever streamed (law S30). The law only holds when
    * the requested `k` is ≤ the k EVERY appended batch kept (a batch
    * that kept fewer may have discarded a hash in the true global
    * bottom-k), so this read validates `k` against the persisted
    * `sink_k` and fails loudly on violation — one driver-side min over
    * the batch-count-sized log, never a silent undersized sketch. The
    * guard is BEST-EFFORT on logs that predate the `sink_k` column
    * (or mix in pre-upgrade files): rows without a recorded k can't
    * prove anything, so they are warned about and the check applies to
    * the rows that carry one. */
  def kmvState(spark: org.apache.spark.sql.SparkSession, path: String,
      k: Int): DataFrame = {
    val log = readLog(spark, path)
    if (log.columns.contains("sink_k")) {
      val agg = log.agg(min(col("sink_k")),
        count(lit(1)), count(col("sink_k"))).first()
      val (nRows, nWithK) = (agg.getLong(1), agg.getLong(2))
      if (nWithK < nRows)
        System.err.println(s"[kmvState] WARNING: ${nRows - nWithK} of " +
          s"$nRows rows in $path carry no sink_k (pre-upgrade batches) — " +
          "bottom-" + k + " recoverability cannot be proven for them")
      if (!agg.isNullAt(0)) {
        val minK = agg.getInt(0)
        require(k <= minK,
          s"kmvState: requested k=$k exceeds the smallest k any appended " +
            s"batch kept (sink_k=$minK) — the global bottom-$k is not " +
            "recoverable from this log")
      }
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("h"))
    log.select(col("grp"), col("h")).distinct()
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("grp"), col("h"))
  }

  /** S31 — continuously-maintained Gram/PCA model statistic (the
    * streaming face of [[graft.api.GraftOps.gramSummaryRows]]): each
    * micro-batch's own packed Gram summary appends (1 + dim +
    * dim(dim+1)/2 rows per batch — model-sized, never row-scale), and
    * [[gramState]] folds the log by the summary's merge law (summary of
    * a union == idx-wise Long sum), so state == batch gramSummaryRows
    * over everything for ANY chunking (law S31). Like the S29 cells, a
    * summed statistic is in the stamped posture. Feed [[gramState]]'s
    * output to [[graft.api.GraftOps.pcaFitFromSummary]] for a fresh PCA
    * model per read — streaming model maintenance with no history
    * re-scan. */
  def gramAppendSink(stream: DataFrame, vec: String, dim: Int,
      path: String, queryName: String,
      checkpoint: String): DataStreamWriter[Row] =
    stampedAppendSink(stream, path, queryName, checkpoint,
        lit(dim).as("sink_dim"))(
      graft.api.GraftOps.gramSummaryRows(_, col(vec), dim))

  /** Read face of [[gramAppendSink]]'s log: the (idx, v) packed Gram
    * summary — row-equal to batch
    * [[graft.api.GraftOps.gramSummaryRows]] over every row ever
    * streamed (law S31). Summaries of DIFFERENT dims must never sum
    * (a dim-3 triangle row would silently add into a dim-4 mean-sum
    * slot and fit a garbage model downstream — the kmv sink_k failure
    * class), so the sink persists `sink_dim` with every row and this
    * read fails loudly on a mixed-dim log. */
  def gramState(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val log = readLog(spark, path)
    if (log.columns.contains("sink_dim")) {
      val dims = log.select(col("sink_dim")).filter(col("sink_dim").isNotNull)
        .distinct().collect().map(_.getInt(0)).sorted
      require(dims.length <= 1,
        s"gramState: log at $path mixes summaries of different dims " +
          s"(${dims.mkString(", ")}) — their packed layouts must never sum")
    }
    collapseReplays(log, Seq("idx"), "v")
  }

  /** S32 — the streaming SCORING face over a STORED model table:
    * apply a fitted quality/projection model to a live stream as a
    * pure per-row narrow map (the batch
    * [[graft.api.GraftOps.ridgeApply]]/`logisticApply`/`pcaProject`
    * plans, unchanged — zero shuffle, scan speed at any batch volume)
    * and write each batch's scored rows under `path` (read back with
    * `sink_query_id`/`batch_id` partition columns).
    *
    * The model parquet at `modelPath` is re-read ONCE PER BATCH
    * (model-sized — (dim+1) rows — never row-scale), so a model
    * REFRESHED mid-stream (a nightly `logisticFit` re-train, a
    * [[graft.api.GraftOps.ridgeFitFromSummary]] over the S31 log)
    * takes effect on the NEXT micro-batch with no query restart —
    * within one batch every row is scored by ONE consistent model
    * snapshot. Scoring is a deterministic per-row function of
    * (row, model), so for a FIXED model the appended scores are
    * BIT-EQUAL to the batch apply over the same rows for ANY chunking
    * (law S32). `modelKind` picks the apply face: `ridge` (adds
    * `score` = β·x + b), `logistic` (adds `score` = σ(β·x + b) —
    * feed [[graft.api.GraftOps.calibrationReport]] directly), `pca`
    * (adds `proj`, the k-length centered projection). Wrong-length
    * vectors and a model table missing its intercept/mean rows fail
    * loudly inside the batch (the batch faces' own guards).
    *
    * Overwrite posture: by the time a batch replays, the model may have
    * been refreshed, so a replayed append would write CONFLICTING score
    * rows no read-side dedup could adjudicate. */
  def scoreStreamSink(stream: DataFrame, vec: String, dim: Int,
      modelPath: String, modelKind: String, path: String,
      queryName: String,
      checkpoint: String): DataStreamWriter[Row] = {
    val kinds = Set("ridge", "logistic", "pca")
    require(kinds(modelKind),
      s"scoreStreamSink: unknown modelKind '$modelKind' " +
        s"(expected one of ${kinds.toSeq.sorted.mkString(", ")})")
    batchOverwriteSink(stream, path, queryName, checkpoint) { batch =>
      val model = graft.Tables.parquet(batch.sparkSession, modelPath)
      modelKind match {
        case "ridge" =>
          graft.api.GraftOps.ridgeApply(batch, col(vec), model, dim)
        case "logistic" =>
          graft.api.GraftOps.logisticApply(batch, col(vec), model, dim)
        case "pca" =>
          graft.api.GraftOps.pcaProject(batch, col(vec), model, dim)
      }
    }
  }

  /** S32, loop-closing face: score a live stream against the ridge
    * model the S31 GRAM LOG maintains — per micro-batch, fold the log
    * ([[gramState]], model-sized × batches, never row-scale), refit
    * via [[graft.api.GraftOps.ridgeFitFromSummary]] (driver Cholesky
    * over dim×dim — no history re-scan), and score the batch with the
    * batch [[graft.api.GraftOps.ridgeApply]] narrow map. This closes
    * the streaming-model loop: `gramAppendSink` (appending the
    * target-AUGMENTED dim+1 vectors) keeps the sufficient statistics
    * current; this sink turns them into live corpus scores — each
    * batch is scored by the model state AS OF that batch (training
    * data appended mid-stream sharpens the very next batch's scores).
    * Output rows carry `batch_id` plus `model_n` — the training-row
    * count of the state that scored them (the model's provenance
    * stamp; two batches scored by the same log state share it).
    * `dim` is the FEATURE dim (the log holds dim+1 augmented
    * summaries); a log of the wrong dim fails loudly in the refit's
    * packed-layout check, an un-fittable state (n < 2, rank-deficient
    * at λ=0) fails loudly in the solve — never silent zero scores.
    *
    * Overwrite posture, for a sharper reason than [[scoreStreamSink]]'s:
    * a replayed batch refolds a possibly-GROWN gram log, so its re-fit
    * model — and every score and `model_n` — can legitimately differ
    * from the first attempt's; the log keeps one consistent
    * model-per-batch, never two conflicting copies. */
  def ridgeScoreStreamSink(stream: DataFrame, vec: String, dim: Int,
      gramLog: String, lambdaPpm: Long, path: String,
      queryName: String,
      checkpoint: String): DataStreamWriter[Row] =
    batchOverwriteSink(stream, path, queryName, checkpoint) { batch =>
      // one tiny log fold shared by the refit and the provenance stamp
      // (localCheckpoint: the state is model-sized × batches)
      val state = gramState(batch.sparkSession, gramLog).localCheckpoint(true)
      val model =
        graft.api.GraftOps.ridgeFitFromSummary(state, dim, lambdaPpm)
      val n = state.filter(col("idx") === 0).head().getLong(1)
      graft.api.GraftOps.ridgeApply(batch, col(vec), model, dim)
        .withColumn("model_n", lit(n))
    }

  /** Streaming heavy-hitter candidate summary — the streaming twin of
    * [[graft.api.GraftOps.heavyHittersSketch]]'s sketch half: one
    * Misra–Gries summary maintained as STREAMING AGGREGATION STATE
    * (Spark's agg-state machinery runs the same partial/merge path it
    * uses batch-side, so per-task state is `capacity` pairs, never the
    * key space, and each micro-batch merges in one tiny final step).
    * Emits the current (key, est) candidate set each batch (complete
    * output mode: the summary is one logical row, re-emitted whole).
    *
    * Contract mirrors the batch tier's: the candidate set is a proven
    * SUPERSET of every key whose true share exceeds 1/(capacity+1) of
    * the rows seen so far, and `est` undercounts by at most
    * n/(capacity+1). Counters are summary internals — callers needing
    * exact counts recount candidates against stored data (the q70b
    * recount shape); a stream cannot re-scan its own past. */
  def heavyHittersStream(stream: DataFrame, key: Column,
      capacity: Int): DataFrame = {
    val mg = org.apache.spark.sql.functions.udaf(
      new graft.functions.MisraGries(capacity),
      org.apache.spark.sql.Encoders.STRING)
    stream.select(key.cast("string").as("__k"))
      .filter(col("__k").isNotNull)
      .groupBy(lit(1).as("__g"))
      .agg(mg(col("__k")).as("__s"))
      .select(explode(col("__s")).as(Seq("key", "est")))
  }

  /** The reference's one latency semantic: a fixed 10-second micro-batch
    * interval (`OpContainer.java:47-49`, `new Duration(10000)`). */
  val ReferenceTrigger: Trigger = Trigger.ProcessingTime("10 seconds")

  /** Start a streaming write on the reference's 10 s micro-batch cadence
    * (the first batch still fires immediately — ProcessingTime paces
    * subsequent batches, matching the reference's StreamingContext). */
  def startWithReferenceTrigger[T](w: DataStreamWriter[T]): StreamingQuery =
    w.trigger(ReferenceTrigger).start()
}

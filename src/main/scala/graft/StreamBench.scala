package graft

import java.nio.file.Files
import scala.reflect.io.Directory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.StreamingOps

/** Streaming replay benchmark (BASELINE.md "Streaming throughput"
  * section; STREAMBENCH_rN.json artifact): replays the `events` table
  * as a file stream in micro-batches through the registry's production
  * streaming shapes and reports sustained rows/sec per shape:
  *
  *  - s1_parse:    R1/R2/R3 parity — Kafka-shaped JSON decode →
  *                 addField → JSON encode (stateless, scan-speed bound)
  *  - s2_window:   watermarked tumbling window agg (agg state)
  *  - s13_heavy:   Misra–Gries heavy-hitter summary as streaming
  *                 aggregation state (complete mode)
  *  - s5_stateful: transformWithState sessionization (RocksDB store)
  *  - s20_upsert:  changelog-apply foreachBatch sink (per-batch winner
  *                 reduction + parquet log append)
  *  - s21_ewma / s22_transition / s23_cusum: per-key O(1)-state
  *                 recurrence twins (flatMapGroupsWithState). Their
  *                 cross-batch contract REQUIRES each key's points to
  *                 arrive in strictly increasing (ts, tiebreak) order,
  *                 so these replay a TIME-ORDERED chunking (see
  *                 orderedChunked below), not the event_id-mod one.
  *  - s24_rolling_distinct: trailing-window distinct-actives set state
  *                 (same ordered replay — its lateness bound is in days)
  *  - s27_freqcap: frequency-cap admission (count-only O(1) state per
  *                 key — the cheapest stateful shape; same ordered
  *                 replay contract as s21–s23)
  *  - s28_holt:    Holt level+trend recurrence twin (the s21 shape
  *                 with a second accumulator; same ordered replay)
  *  - s25_semantic: semantic-dup admission flags — baked-constant cell
  *                 routing + stream–static cell equi-join + exact cosine
  *                 verify against a kmeans-indexed synthetic corpus
  *                 (stateless, so the plain event_id-mod replay is fine)
  *  - s29_cms / s30_kmv / s31_gram: sketch/model-stat append-log sinks
  *                 (the S29/S30/S31 foreachBatch faces — per-batch CMS
  *                 cell grid, per-group bottom-k, and packed Gram
  *                 summary appended to parquet logs; the s20 terminal
  *                 shape with sketch-sized per-batch output)
  *  - s32_score:   streaming scoring face (S32) — per batch: fold the
  *                 seeded gram log, driver-Cholesky ridge refit, then
  *                 one PlaneDots narrow map over every row (16-dim
  *                 synthetic vectors) + a ROW-SCALE scored parquet
  *                 append (the output-heaviest terminal: s20's append
  *                 volume plus a per-row dot product)
  *
  * Deterministic input (event_id-chunked micro-batches), wall-clock
  * measured over processAllAvailable per shape, fresh checkpoint per
  * shape. One compact JSON line on stdout — redirect to
  * STREAMBENCH_rN.json for the per-round artifact.
  *
  * Usage: sbt "runMain graft.StreamBench [sfDir] [nChunks] [mode ...]"
  * (no modes = every shape in `allModes`).
  */
object StreamBench {
  /** Every benchmarked streaming shape — the registry
    * [[graft.tools.CheckStream]] gates the frozen envelope against
    * (a shape added here without a STREAMBENCH row fails mechanically,
    * the CheckFreeze pattern). */
  val allModes: Seq[String] = Seq("s1_parse", "s2_window", "s13_heavy",
    "s5_stateful", "s20_upsert", "s21_ewma", "s22_transition", "s23_cusum",
    "s24_rolling_distinct", "s25_semantic", "s26_golden", "s27_freqcap",
    "s28_holt", "s29_cms", "s30_kmv", "s31_gram", "s32_score")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val nChunks = args.lift(1).map(_.toInt).getOrElse(10)
    val wanted = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.configure(
        SparkSession.builder().master(s"local[$cpus]").appName("graft-stream-bench"),
        shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the input copies and every checkpoint; removed however the run ends
    val tmp = Files.createTempDirectory("graft-sbench").toFile
    try run(spark, sfDir, nChunks, wanted, cpus.toInt, tmp)
    finally {
      spark.stop()
      new Directory(tmp).deleteRecursively()
    }
  }

  private def run(spark: SparkSession, sfDir: String, nChunks: Int,
      wanted: Set[String], cpus: Int, tmp: java.io.File): Unit = {
    // chunk the events table into nChunks files -> nChunks micro-batches
    val e = Tables.load(spark, sfDir, "events")
    val total = e.count()
    def chunked(df: DataFrame, name: String): String = {
      val dir = new java.io.File(tmp, name)
      df.withColumn("__chunk", pmod(col("event_id"), lit(nChunks)))
        .repartition(nChunks, col("__chunk"))
        .drop("__chunk")
        .write.mode("overwrite").parquet(dir.getAbsolutePath)
      dir.getAbsolutePath
    }
    val rawDir = chunked(e, "raw")
    // TIME-ORDERED chunking for the S21–S24 twins: chunk i holds the
    // i-th contiguous slice of the global (ts, event_id) order, written
    // as sequentially-named single files with FORCED increasing mtimes
    // so FileStreamSource (which orders new files by modification time)
    // replays them in time order — the twins' cross-batch contract
    // (strictly increasing (ts, tiebreak) per key) then holds by
    // construction: later chunks only hold later positions. NULL-ts
    // rows drop up front (the batch operators' own posture).
    def orderedChunked(df: DataFrame, name: String): String = {
      import org.apache.spark.sql.expressions.Window
      val dir = new java.io.File(tmp, name); dir.mkdirs()
      val withChunk = df.filter(col("ts").isNotNull)
        .withColumn("__chunk",
          ntile(nChunks).over(Window.orderBy(col("ts"), col("event_id"))))
      withChunk.cache().count()
      val base = System.currentTimeMillis()
      (1 to nChunks).foreach { i =>
        val scratch = new java.io.File(tmp, s"$name-scratch-$i")
        withChunk.filter(col("__chunk") === i).drop("__chunk")
          .coalesce(1).write.mode("overwrite").parquet(scratch.getAbsolutePath)
        val part = scratch.listFiles().find(_.getName.endsWith(".parquet")).get
        val dest = new java.io.File(dir, f"chunk-$i%03d.parquet")
        java.nio.file.Files.move(part.toPath, dest.toPath)
        dest.setLastModified(base + i * 2000L)
      }
      withChunk.unpersist()
      dir.getAbsolutePath
    }
    val orderedDir = orderedChunked(e, "ordered")
    // Kafka-shaped replay input for s1: the full event row as a JSON
    // `value` (event_id kept alongside only to drive the chunking).
    val kafkaDir = chunked(
      e.select(to_json(struct(col("*"))).as("value"), col("event_id")),
      "kafka")
    // Tiny single-file twins of both inputs for the pre-warm pass.
    val warmRawDir = new java.io.File(tmp, "warm-raw").getAbsolutePath
    e.limit(1000).coalesce(1).write.mode("overwrite").parquet(warmRawDir)
    val warmKafkaDir = new java.io.File(tmp, "warm-kafka").getAbsolutePath
    e.limit(1000).select(to_json(struct(col("*"))).as("value"), col("event_id"))
      .coalesce(1).write.mode("overwrite").parquet(warmKafkaDir)

    def rawStream = spark.readStream.schema(e.schema)
      .option("maxFilesPerTrigger", "1").parquet(rawDir)
    def orderedStream = spark.readStream.schema(e.schema)
      .option("maxFilesPerTrigger", "1").parquet(orderedDir)
    def warmRawStream = spark.readStream.schema(e.schema)
      .option("maxFilesPerTrigger", "1").parquet(warmRawDir)

    // Auto-size shuffle partitions to the micro-batch volume (the
    // BASELINE.md footnote turned operator feature): ~total/nChunks rows
    // per batch, clamped by cores. SPARK_GRAFT_STREAM_PARTS overrides.
    val parts = sys.env.get("SPARK_GRAFT_STREAM_PARTS").map(_.toInt)
      .getOrElse(StreamingOps.sizedShufflePartitions(
        math.max(1L, total / nChunks), cpus))

    /** (stream to run, output mode) per shape; `warm = true` builds the
      * same shape over the tiny single-file input for the pre-warm pass. */
    def shape(mode: String, warm: Boolean = false): (DataFrame, String) = {
      val raw = if (warm) warmRawStream else rawStream
      mode match {
        case "s1_parse" =>
          val in = spark.readStream
            .schema("value STRING, event_id BIGINT")
            .option("maxFilesPerTrigger", "1")
            .parquet(if (warm) warmKafkaDir else kafkaDir)
          val parsed = StreamingOps.parseKafkaJson(in.select("value"), e.schema)
          val enriched = StreamingOps.addField(parsed, "is_purchase",
            col("event_type") === "purchase")
          (StreamingOps.toKafkaJson(enriched), "append")
        case "s2_window" =>
          (StreamingOps.tumblingAgg(raw, "ts", "1 hour", "1 hour",
            col("event_type")), "append")
        case "s13_heavy" =>
          (StreamingOps.heavyHittersStream(raw, col("user_id"),
            capacity = 64), "complete")
        case "s5_stateful" =>
          import spark.implicits._
          (graft.streaming.SessionizeTws(
            raw.select(col("user_id"), col("ts"), col("value"))
              .as[graft.streaming.Sessionize.Event]).toDF(), "append")
        case "s21_ewma" =>
          import spark.implicits._
          val src = if (warm) warmRawStream else orderedStream
          val pts = src.filter(col("ts").isNotNull && col("value").isNotNull)
            .select(col("user_id").as("key"), col("ts"),
              col("event_id").as("tb"), col("value"))
            .as[graft.streaming.EwmaStream.Point]
          (graft.streaming.EwmaStream(pts, alphaPpm = 300000L).toDF(), "append")
        case "s28_holt" =>
          import spark.implicits._
          val src = if (warm) warmRawStream else orderedStream
          val pts = src.filter(col("ts").isNotNull && col("value").isNotNull)
            .select(col("user_id").as("key"), col("ts"),
              col("event_id").as("tb"), col("value"))
            .as[graft.streaming.HoltStream.Point]
          (graft.streaming.HoltStream(pts, alphaPpm = 300000L,
            betaPpm = 200000L).toDF(), "append")
        case "s22_transition" =>
          import spark.implicits._
          val src = if (warm) warmRawStream else orderedStream
          val evs = src.filter(col("ts").isNotNull)
            .select(col("user_id").as("key"), col("ts"),
              col("event_id").as("tb"), col("event_type").as("state"))
            .as[graft.streaming.TransitionStream.Event]
          (graft.streaming.TransitionStream(evs).toDF(), "append")
        case "s23_cusum" =>
          import spark.implicits._
          val src = if (warm) warmRawStream else orderedStream
          // caller-quantized integer micros (the batch cusum contract)
          val pts = src.filter(col("ts").isNotNull && col("value").isNotNull)
            .select(col("user_id").as("key"), col("ts"),
              col("event_id").as("tb"),
              round(col("value") * 1000000).cast("long").as("value"))
            .as[graft.streaming.CusumStream.Point]
          (graft.streaming.CusumStream(pts, target = 500000L,
            slack = 100000L, threshold = 5000000L).toDF(), "append")
        case "s24_rolling_distinct" =>
          import spark.implicits._
          val src = if (warm) warmRawStream else orderedStream
          val visits = src.filter(col("ts").isNotNull)
            .select(col("user_id").as("entity"), col("ts"))
            .as[graft.streaming.RollingDistinctStream.Visit]
          (graft.streaming.RollingDistinctStream(visits, windowDays = 7,
            lateDays = 1).toDF(), "append")
        case "s27_freqcap" =>
          import spark.implicits._
          // count-only O(1) state per key; same strictly-increasing
          // (ts, tiebreak) cross-batch contract as s21–s23, so the
          // time-ordered replay
          val src = if (warm) warmRawStream else orderedStream
          val evs = src
            .filter(col("ts").isNotNull && col("user_id").isNotNull)
            .select(col("user_id").as("key"), col("ts"),
              col("event_id").as("tiebreak"))
            .as[graft.streaming.FrequencyCapStream.Ev]
          (graft.streaming.FrequencyCapStream(evs, k = 20).toDF(), "append")
        case "s25_semantic" =>
          // arrival id = event_id (so a flag row is (event, user) — the
          // arriving doc vs its own corpus user vector plus cell mates)
          val arrivals = raw.select(col("event_id").as("id"),
            vecOf(col("user_id")).as("vec"))
          // arrival ids are event_ids, index ids are user_ids — two id
          // spaces, so the shared-id self-exclusion must be OFF (a
          // coincidental event_id == user_id equality would silently
          // drop a real flag — r17 ADVICE)
          (StreamingOps.semanticDupAgainst(arrivals, col("id"), col("vec"),
            s25Model, s25Index, threshold = 0.95,
            sharedIdSpace = false), "append")
        case other => sys.error(s"unknown StreamBench mode: $other")
      }
    }

    /** s20 is a foreachBatch TERMINAL (its work is the per-batch winner
      * reduction + parquet append), so it can't flow through `shape`'s
      * (DataFrame, outputMode) frame — it builds its writer directly. */
    def upsertWriter(warm: Boolean) = {
      val tag = if (warm) "warm-s20" else "s20"
      StreamingOps.upsertAppendSink(
        StreamingOps.withShufflePartitions(
          if (warm) warmRawStream else rawStream, parts),
        key = Seq("user_id"), version = "ts", tiebreak = "event_id",
        path = new java.io.File(tmp, s"$tag-log").getAbsolutePath,
        queryName = s"sb_$tag",
        checkpoint = new java.io.File(tmp, s"$tag-ckpt").getAbsolutePath)
    }

    /** s26 is s20's terminal shape at FIELD grain: each batch appends
      * per-key per-field winner structs to the golden-record log (NULL
      * ts rows drop — no position in the version order, the q117
      * posture). */
    def goldenWriter(warm: Boolean) = {
      val tag = if (warm) "warm-s26" else "s26"
      StreamingOps.goldenRecordAppendSink(
        StreamingOps.withShufflePartitions(
          (if (warm) warmRawStream else rawStream)
            .filter(col("ts").isNotNull), parts),
        key = Seq("user_id"), version = "ts", tiebreak = "event_id",
        fields = Seq("event_type", "value"),
        path = new java.io.File(tmp, s"$tag-log").getAbsolutePath,
        queryName = s"sb_$tag",
        checkpoint = new java.io.File(tmp, s"$tag-ckpt").getAbsolutePath)
    }

    /** s29/s30/s31 — the sketch/model-stat append faces: per-batch
      * sketch computation + a sketch-sized parquet append (the s20
      * terminal pattern; state is recovered at READ time by each
      * sketch's merge law, so the streaming side carries no state). */
    def cmsWriter(warm: Boolean) = {
      val tag = if (warm) "warm-s29" else "s29"
      StreamingOps.cmsAppendSink(
        StreamingOps.withShufflePartitions(
          if (warm) warmRawStream else rawStream, parts),
        key = "user_id", depth = 4, width = 256,
        path = new java.io.File(tmp, s"$tag-log").getAbsolutePath,
        queryName = s"sb_$tag",
        checkpoint = new java.io.File(tmp, s"$tag-ckpt").getAbsolutePath)
    }
    def kmvWriter(warm: Boolean) = {
      val tag = if (warm) "warm-s30" else "s30"
      StreamingOps.kmvAppendSink(
        StreamingOps.withShufflePartitions(
          if (warm) warmRawStream else rawStream, parts),
        group = "event_type", value = "user_id", k = 128,
        path = new java.io.File(tmp, s"$tag-log").getAbsolutePath,
        queryName = s"sb_$tag",
        checkpoint = new java.io.File(tmp, s"$tag-ckpt").getAbsolutePath)
    }
    /** s32 — the S32 live-scoring loop face: a gram log seeded ONCE from
      * the per-user corpus (the training set), then every streamed batch
      * pays the log fold + driver refit (model-sized — trivial) plus the
      * REAL per-row cost: a 16-dim synthetic-vector build, one PlaneDots
      * dot, and a row-scale scored parquet append. */
    lazy val s32GramLog: String = {
      val dir = new java.io.File(tmp, "s32-gram-seed").getAbsolutePath
      val corpus = e.select(col("user_id")).distinct()
        .select(vecOf(col("user_id")).as("vec"),
          (pmod(col("user_id"), lit(997)).cast("double") / 997.0).as("y"))
      graft.api.GraftOps.gramSummaryRows(corpus,
          concat(col("vec"), array(col("y").cast("float"))), 17)
        .withColumn("batch_id", lit(0L))
        .withColumn("sink_query_id", lit("sb-s32-seed"))
        .withColumn("sink_dim", lit(17))
        .write.mode("append").parquet(dir)
      dir
    }
    def scoreWriter(warm: Boolean) = {
      val tag = if (warm) "warm-s32" else "s32"
      val src = (if (warm) warmRawStream else rawStream)
        .select(col("event_id"), vecOf(col("user_id")).as("vec"))
      StreamingOps.ridgeScoreStreamSink(
        StreamingOps.withShufflePartitions(src, parts),
        vec = "vec", dim = 16, gramLog = s32GramLog, lambdaPpm = 1000L,
        path = new java.io.File(tmp, s"$tag-log").getAbsolutePath,
        queryName = s"sb_$tag",
        checkpoint = new java.io.File(tmp, s"$tag-ckpt").getAbsolutePath)
    }
    def gramWriter(warm: Boolean) = {
      val tag = if (warm) "warm-s31" else "s31"
      // same deterministic synthetic per-user embedding as s25 — every
      // row pays a real 16-dim quantize + outer-product accumulate
      val src = (if (warm) warmRawStream else rawStream)
        .select(vecOf(col("user_id")).as("vec"))
      StreamingOps.gramAppendSink(
        StreamingOps.withShufflePartitions(src, parts),
        vec = "vec", dim = 16,
        path = new java.io.File(tmp, s"$tag-log").getAbsolutePath,
        queryName = s"sb_$tag",
        checkpoint = new java.io.File(tmp, s"$tag-ckpt").getAbsolutePath)
    }

    // s25 setup — a deterministic synthetic 16-dim vector per user
    // (portable-hash components), a kmeans model trained ONCE over the
    // per-user corpus, and the cell-assigned index; the streamed events
    // replay the SAME per-user vectors, so every arrival exercises the
    // full route→join→cosine-verify path with real flag volume.
    def vecOf(c: org.apache.spark.sql.Column) =
      transform(sequence(lit(0), lit(15)),
        i => (pmod(hash(c * 31 + i), lit(1000)).cast("double") / 1000.0)
          .cast("float"))
    lazy val (s25Model, s25Index) = {
      val corpus = e.select(col("user_id")).distinct()
        .select(col("user_id"), vecOf(col("user_id")).as("vec"))
      val m = graft.api.GraftOps.kmeansFit(corpus, col("user_id"),
        col("vec"), k = 16, iters = 1)
      val idx = StreamingOps.semanticDupIndex(corpus, col("user_id"),
        col("vec"), m).localCheckpoint(true)
      (m, idx)
    }

    // every foreachBatch terminal shape routes through the same
    // warm-then-measure path; adding a face here and to allModes is the
    // whole registration
    val terminalWriters = Map[String, Boolean => org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]](
      "s20_upsert" -> upsertWriter _, "s26_golden" -> goldenWriter _,
      "s29_cms" -> cmsWriter _, "s30_kmv" -> kmvWriter _,
      "s31_gram" -> gramWriter _, "s32_score" -> scoreWriter _)
    val modes = StreamBench.allModes.filter(m => wanted.isEmpty || wanted(m))
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // transformWithState (s5) needs the RocksDB store, set for its runs
    // only: every other shape measures the default store production runs
    // on, whichever shapes ran before it
    def rocksDb(on: Boolean): Unit = {
      val key = "spark.sql.streaming.stateStore.providerClass"
      if (on) spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      else spark.conf.unset(key)
    }
    val results = modes.flatMap { mode =>
      rocksDb(mode == "s5_stateful")
      try {
        if (terminalWriters.contains(mode)) {
          val writer = terminalWriters(mode)
          val wq = writer(true).start()
          wq.processAllAvailable(); wq.stop()
          val t0 = System.nanoTime()
          val q = writer(false).start()
          q.processAllAvailable()
          val sec = (System.nanoTime() - t0) / 1e9
          q.stop()
          val batches = q.recentProgress.length
          System.err.println(
            f"[sbench] $mode%-12s ${total / sec}%9.0f rows/s  ($sec%.2f s, $batches batches)")
          Some(mode -> (total / sec, sec, batches))
        } else {
        // Pre-warm: one throwaway micro-batch of the SAME shape over the
        // tiny input, scratch checkpoint — initializes the heavyweight
        // lazies (RocksDB JNI + store instances for s5, codegen, state
        // format writers) so the timed run measures steady state, not
        // cold-init (r13's s5 spread was 6.0k–25.6k rows/s on cold
        // RocksDB — a 4× spread that made the ½× regression rule
        // untestable for that shape).
        val (wout, wmode) = shape(mode, warm = true)
        val wq = StreamingOps.withShufflePartitions(wout, parts)
          .writeStream.format("memory").queryName(s"warm_$mode")
          .outputMode(wmode)
          .option("checkpointLocation",
            new java.io.File(tmp, s"warm-ckpt-$mode").getAbsolutePath)
          .start()
        wq.processAllAvailable()
        wq.stop()
        val (out, outMode) = shape(mode)
        val sized = StreamingOps.withShufflePartitions(out, parts)
        val ckpt = new java.io.File(tmp, s"ckpt-$mode").getAbsolutePath
        val t0 = System.nanoTime()
        val q = sized.writeStream.format("memory").queryName(s"sb_$mode")
          .outputMode(outMode).option("checkpointLocation", ckpt).start()
        q.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        q.stop()
        val batches = q.recentProgress.length
        System.err.println(
          f"[sbench] $mode%-12s ${total / sec}%9.0f rows/s  ($sec%.2f s, $batches batches)")
        Some(mode -> (total / sec, sec, batches))
        }
      } catch { case t: Throwable =>
        failed += mode
        System.err.println(s"[sbench] $mode failed: ${t.getMessage}")
        None
      } finally rocksDb(on = false)
    }
    val modesJson = results.map { case (m, (rps, _, _)) =>
      "\"" + m + f"\":$rps%.0f" }.mkString("{", ",", "}")
    val secJson = results.map { case (m, (_, s, b)) =>
      "\"" + m + f"\":[$s%.2f,$b]" }.mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"stream_rows_per_sec","modes":$modesJson,""" +
      s""""sec_batches":$secJson,"rows":$total,"chunks":$nChunks,""" +
      s""""partitions":$parts,"failed":$failedJson,"sf":"$sfDir"}""")
  }
}

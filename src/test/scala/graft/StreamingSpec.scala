package graft

import java.sql.Timestamp
import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{JobLogListener, Sessionize, StreamingOps}

/** S1–S5 (SURVEY.md §2.3 streaming set): deterministic replay through
  * MemoryStream + processAllAvailable — the only reliably deterministic
  * streaming harness (never wall-clock triggers in tests). */
class StreamingSpec extends AnyFunSuite with SharedSpark {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("S1: kafka-shaped json ingest -> addField -> filter -> sink (R1->R2->R3)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    val schema = StructType(Seq(
      StructField("user", LongType), StructField("amount", DoubleType)))
    val parsed = StreamingOps.parseKafkaJson(
      input.toDF().select(col("value")), schema)
    val shaped = StreamingOps.toKafkaJson(
      StreamingOps.addField(parsed, "flag", expr("amount > 10"))
        .filter(col("flag")))
    val listener = new JobLogListener()
    spark.streams.addListener(listener)
    val q = shaped.writeStream.format("memory").queryName("s1").outputMode("append").start()
    try {
      input.addData("""{"user":1,"amount":5.0}""", """{"user":2,"amount":50.0}""")
      q.processAllAvailable()
      val rows = spark.table("s1").collect().map(_.getString(0))
      assert(rows.length == 1 && rows(0).contains(""""user":2"""))
      assert(listener.lines.exists(_.startsWith("started")), "job log records lifecycle (R9)")
      // R9 one-shot HDFS-style dump (writeStartupLog parity) via Hadoop FS API
      val logDir = Files.createTempDirectory("joblog")
      val logPath = s"file://$logDir/startup.log"
      listener.flush(logPath, spark.sparkContext.hadoopConfiguration)
      val written = Files.readString(java.nio.file.Path.of(logDir.toString, "startup.log"))
      assert(written.linesIterator.exists(_.startsWith("started")), s"flushed log: $written")
    } finally { q.stop(); spark.streams.removeListener(listener) }
  }

  test("JobLogListener ring-caps its buffer (long-running jobs can't leak)") {
    val l = new JobLogListener(maxLines = 3)
    (1 to 10).foreach(i => l.log(s"line$i"))
    assert(l.lines == Seq("line8", "line9", "line10"), "newest lines kept")
    assert(l.dropped == 7L)
  }

  test("S2: tumbling window agg with watermark drops late rows") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val agg = StreamingOps.tumblingAgg(
      input.toDF().toDF("ts", "value"), "ts", "10 minutes", "10 minutes")
    val q = agg.writeStream.format("memory").queryName("s2").outputMode("append").start()
    try {
      input.addData((ts("2024-01-01 10:02:00"), 1.0), (ts("2024-01-01 10:07:00"), 2.0))
      q.processAllAvailable()
      // advance watermark past the 10:00 window: max ts 10:31 -> wm 10:21
      input.addData((ts("2024-01-01 10:31:00"), 3.0))
      q.processAllAvailable()
      // late row behind the watermark: must be dropped, not revise the closed window
      input.addData((ts("2024-01-01 10:04:00"), 99.0))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 11:00:00"), 4.0))
      q.processAllAvailable()
      val closed = spark.table("s2").collect()
        .map(r => (r.getAs[Timestamp]("window_start").toString, r.getAs[Long]("n"), r.getAs[Double]("sum_value")))
      assert(closed.contains(("2024-01-01 10:00:00.0", 2L, 3.0)),
        s"10:00 window must close with 2 rows (late row dropped), got ${closed.toSeq}")
    } finally q.stop()
  }

  test("S12: per-query shuffle-partition sizing — math, isolation, and effect") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // the sizing function: batch volume over target, clamped to [1, cores]
    assert(StreamingOps.sizedShufflePartitions(14000L, 32) == 7)
    assert(StreamingOps.sizedShufflePartitions(100L, 32) == 1)
    assert(StreamingOps.sizedShufflePartitions(Long.MaxValue / 4, 32) == 32)
    assert(StreamingOps.sizedShufflePartitions(0L, 32) == 1)
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val input = MemoryStream[(Timestamp, Double)]
    val agg = StreamingOps.tumblingAgg(
      input.toDF().toDF("ts", "value"), "ts", "10 minutes", "10 minutes")
    val q = StreamingOps.withShufflePartitions(agg, 3)
      .writeStream.format("memory").queryName("s12").outputMode("append").start()
    try {
      input.addData((ts("2024-01-01 10:02:00"), 1.0))
      q.processAllAvailable()
      // the override really reached the stateful operator: the state
      // store ran 3 partitions, not the session default
      val so = q.lastProgress.stateOperators
      assert(so.nonEmpty && so.head.numShufflePartitions == 3L,
        s"state operator must run 3 partitions; progress: ${q.lastProgress.json}")
      // ...and the origin session's conf never moved (isolation)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
    } finally q.stop()
    // the clone must INHERIT runtime conf the caller already set (it is
    // cloneSession, not newSession — newSession resets to the initial
    // conf and silently dropped e.g. a RocksDB state-store provider)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val beforeProvider = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val bound = StreamingOps.withShufflePartitions(
        spark.range(1).toDF(), 2).sparkSession
      assert(bound.conf.get(key).contains("RocksDBStateStoreProvider"),
        "query-scoped clone dropped a runtime conf override")
      assert(bound.conf.get("spark.sql.shuffle.partitions") == "2")
    } finally beforeProvider match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("S3: stream-static broadcast join") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Long]
    val static = Seq((1L, "gold"), (2L, "silver")).toDF("id", "tier")
    val joined = StreamingOps.streamStaticJoin(
      input.toDF().toDF("sid"), static, col("sid") === col("id"))
      .select(col("tier"))
    val q = joined.writeStream.format("memory").queryName("s3").outputMode("append").start()
    try {
      input.addData(1L, 3L)
      q.processAllAvailable()
      val tiers = spark.table("s3").collect().map(_.getString(0))
      assert(tiers.toSeq == Seq("gold"), "only matching keys joined")
    } finally q.stop()
  }

  test("S4: dropDuplicatesWithinWatermark dedups the stream") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val dedup = StreamingOps.dedupWithinWatermark(
      input.toDF().toDF("id", "ts"), "ts", "10 minutes", Seq("id"))
    val q = dedup.writeStream.format("memory").queryName("s4").outputMode("append").start()
    try {
      input.addData((7L, ts("2024-01-01 10:00:00")), (7L, ts("2024-01-01 10:01:00")),
        (8L, ts("2024-01-01 10:02:00")))
      q.processAllAvailable()
      assert(spark.table("s4").count() == 2, "duplicate id within watermark dropped")
    } finally q.stop()
  }

  test("S5: stateful sessionization via flatMapGroupsWithState") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Sessionize.Event]
    val sessions = Sessionize(input.toDS())
    val q = sessions.writeStream.format("memory").queryName("s5").outputMode("append").start()
    try {
      input.addData(
        Sessionize.Event(1L, ts("2024-01-01 10:00:00"), 5.0),
        Sessionize.Event(1L, ts("2024-01-01 10:10:00"), 7.0))
      q.processAllAvailable()
      // gap > 30 min closes the first session
      input.addData(Sessionize.Event(1L, ts("2024-01-01 11:30:00"), 1.0))
      q.processAllAvailable()
      val done = spark.table("s5").as[Sessionize.Session].collect()
      assert(done.length == 1)
      assert(done(0).n_events == 2 && done(0).sum_value == 12.0)
      assert(done(0).session_start == ts("2024-01-01 10:00:00"))
      assert(done(0).session_end == ts("2024-01-01 10:10:00"))
    } finally q.stop()
  }

  test("S5f: reconcile merges cross-batch late-late sessions to batch q28 semantics") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Sessionize.Event]
    val q = Sessionize(input.toDS()).writeStream.format("memory")
      .queryName("s5f").outputMode("append").start()
    try {
      // batch 1: an on-time noon event holds a session open
      input.addData(Sessionize.Event(1L, ts("2024-01-01 12:00:00"), 1.0))
      q.processAllAvailable()
      // batches 2 and 3: past-gap LATE events that belong to ONE morning
      // session but arrive in DIFFERENT micro-batches — the structural
      // stream divergence: each emits as its own session
      input.addData(Sessionize.Event(1L, ts("2024-01-01 09:00:00"), 2.25))
      q.processAllAvailable()
      input.addData(Sessionize.Event(1L, ts("2024-01-01 09:10:00"), 3.50))
      q.processAllAvailable()
      // past-gap sentinel flushes the open noon session (replay contract)
      input.addData(Sessionize.Event(1L, ts("2024-01-02 00:00:00"), 0.0))
      q.processAllAvailable()
      val emitted = spark.table("s5f").as[Sessionize.Session]
      assert(emitted.count() == 3,
        "stream must have emitted the two late events as separate sessions")
      val merged = Sessionize.reconcile(emitted).collect()
        .map(s => (s.user_id, s.session_start, s.session_end, s.n_events, s.sum_value))
        .toSet
      // batch twin: GraftOps.sessionize (q28's rollup) over the SAME real
      // events — the global view the reconciled stream output must equal
      val evDf = Seq(
        (1L, ts("2024-01-01 12:00:00"), 1.0, 1L),
        (1L, ts("2024-01-01 09:00:00"), 2.25, 2L),
        (1L, ts("2024-01-01 09:10:00"), 3.50, 3L))
        .toDF("user_id", "ts", "value", "event_id")
      val batch = graft.api.GraftOps.sessionize(evDf, col("user_id"), col("ts"),
          gapUs = 30L * 60 * 1000000, tiebreak = col("event_id"))
        .groupBy(col("user_id"), col("sess_id"))
        .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"),
          (sum(floor(col("value") * lit(100)).cast("long")).cast("double") / 100.0)
            .as("sum_value"))
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(2), r.getTimestamp(3),
          r.getLong(4), r.getDouble(5)))
        .toSet
      assert(merged == batch,
        s"reconciled stream output must equal batch q28: $merged vs $batch")
    } finally q.stop()
  }

  test("S5g: reconcile edge cases — overlap widening and the exact-gap boundary") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Sessionize.Event]
    val q = Sessionize(input.toDS()).writeStream.format("memory")
      .queryName("s5g").outputMode("append").start()
    try {
      // u1: morning session emitted in batch 1; a later batch delivers a
      // late event INSIDE the already-emitted interval (overlap — the
      // merged end must stay 09:10 via max-over-prev-ends, not shrink)
      input.addData(
        Sessionize.Event(1L, ts("2024-01-01 09:00:00"), 1.0),
        Sessionize.Event(1L, ts("2024-01-01 09:10:00"), 1.0),
        Sessionize.Event(1L, ts("2024-01-01 12:00:00"), 1.0),
        // u2: an open noon anchor; the two morning events arrive later,
        // in separate batches, exactly 30 min apart (== gap: must merge —
        // the split rule is strictly-greater)
        Sessionize.Event(2L, ts("2024-01-01 11:30:00"), 1.0))
      q.processAllAvailable()
      input.addData(
        Sessionize.Event(1L, ts("2024-01-01 09:05:00"), 1.0),
        Sessionize.Event(2L, ts("2024-01-01 10:00:00"), 1.0))
      q.processAllAvailable()
      input.addData(Sessionize.Event(2L, ts("2024-01-01 10:30:00"), 1.0))
      q.processAllAvailable()
      // sentinels flush both open sessions
      input.addData(
        Sessionize.Event(1L, ts("2024-01-02 00:00:00"), 0.0),
        Sessionize.Event(2L, ts("2024-01-02 00:00:00"), 0.0))
      q.processAllAvailable()
      val merged = Sessionize.reconcile(spark.table("s5g").as[Sessionize.Session])
        .collect().map(s => (s.user_id, s.session_start, s.session_end,
          s.n_events)).toSet
      val batch = graft.api.GraftOps.sessionize(
          Seq((1L, ts("2024-01-01 09:00:00")), (1L, ts("2024-01-01 09:05:00")),
            (1L, ts("2024-01-01 09:10:00")), (1L, ts("2024-01-01 12:00:00")),
            (2L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:30:00")),
            (2L, ts("2024-01-01 11:30:00"))).zipWithIndex
            .map { case ((u, t), i) => (u, t, 1.0, i.toLong) }
            .toDF("user_id", "ts", "value", "event_id"),
          col("user_id"), col("ts"), gapUs = 30L * 60 * 1000000,
          tiebreak = col("event_id"))
        .groupBy(col("user_id"), col("sess_id"))
        .agg(min(col("ts")).as("s"), max(col("ts")).as("e"), count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getTimestamp(2), r.getTimestamp(3),
          r.getLong(4))).toSet
      assert(merged == batch,
        s"overlap/boundary reconciliation diverged: $merged vs $batch")
      // the u2 exact-gap pair (10:00, 10:30 — delta == gap) must be ONE
      // session; 11:30 sits 60 min past 10:30 and stays separate
      assert(merged.contains((2L, ts("2024-01-01 10:00:00"),
        ts("2024-01-01 10:30:00"), 2L)))
      assert(merged.contains((2L, ts("2024-01-01 11:30:00"),
        ts("2024-01-01 11:30:00"), 1L)))
    } finally q.stop()
  }

  test("S11: applyMixture is stream-ready — streamed keep set equals batch") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val ctx = spark.sqlContext
    // plan computed ONCE on the static corpus (mixtureRates is a trainer-
    // style eager agg — illegal on a stream); the apply side is a pure
    // stream-static broadcast join + narrow filter, so admission control
    // for continuous ingestion reuses the exact batch operator
    val d = Tables.load(spark, sf001, "documents")
      .withColumn("n_tokens", size(graft.functions.Text.tokens(col("text"))))
    val rates = graft.api.GraftOps.mixtureRates(d, col("source"), col("n_tokens"),
      Map("src0" -> 300000, "src1" -> 200000), defaultSharePpm = 50000,
      budgetTokens = 20000L)
    val batchKept = graft.api.GraftOps.applyMixture(
        d.select("doc_id", "source"), col("source"), col("doc_id"), rates)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val input = MemoryStream[(Long, String)]
    val stream = graft.api.GraftOps.applyMixture(
      input.toDF().toDF("doc_id", "source"), col("source"), col("doc_id"), rates)
    val q = stream.writeStream.format("memory").queryName("s11")
      .outputMode("append").start()
    try {
      val rows = d.select("doc_id", "source").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      input.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("s11").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(streamed == batchKept,
        "the same rows through the streaming plan must keep the same set")
      assert(batchKept.nonEmpty && batchKept.size < rows.size,
        "fixture must exercise both keep and drop")
    } finally q.stop()
  }

  test("S2b: sliding window counts overlap correctly") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val agg = StreamingOps.slidingAgg(
      input.toDF().toDF("ts", "value"), "ts", "10 minutes", "5 minutes", "10 minutes")
    val q = agg.writeStream.format("memory").queryName("s2b").outputMode("append").start()
    try {
      input.addData((ts("2024-01-01 10:07:00"), 1.0))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 11:00:00"), 2.0)) // closes the 10:00/10:05 windows
      q.processAllAvailable()
      val closed = spark.table("s2b").collect()
        .map(r => (r.getAs[Timestamp]("window_start").toString, r.getAs[Long]("n"))).toSet
      // a 10-min window sliding by 5 covers 10:07 twice: starts 10:00 and 10:05
      assert(closed.contains(("2024-01-01 10:00:00.0", 1L)) &&
        closed.contains(("2024-01-01 10:05:00.0", 1L)), s"got $closed")
    } finally q.stop()
  }

  test("S2c: session windows merge within gap") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    // session windows need a grouping key in streaming (global session agg
    // is unsupported) — keyed by user, like the reference's event streams
    val agg = StreamingOps.sessionAgg(
      input.toDF().toDF("user", "ts", "value"), "ts", "5 minutes", "10 minutes",
      col("user"))
    val q = agg.writeStream.format("memory").queryName("s2c").outputMode("append").start()
    try {
      input.addData((1L, ts("2024-01-01 10:00:00"), 1.0), (1L, ts("2024-01-01 10:03:00"), 1.0),
        (1L, ts("2024-01-01 10:20:00"), 1.0))
      q.processAllAvailable()
      input.addData((1L, ts("2024-01-01 11:00:00"), 1.0)) // advance watermark, close sessions
      q.processAllAvailable()
      val sessions = spark.table("s2c").collect()
        .map(r => (r.getAs[Timestamp]("session_start").toString, r.getAs[Long]("n"))).toSet
      assert(sessions.contains(("2024-01-01 10:00:00.0", 2L)),
        s"first two events merge into one session, got $sessions")
      assert(sessions.contains(("2024-01-01 10:20:00.0", 1L)))
    } finally q.stop()
  }

  test("S5b: transformWithState sessionization matches flatMapGroupsWithState") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Sessionize.Event]
    val sessions = graft.streaming.SessionizeTws(input.toDS())
    val ckpt = Files.createTempDirectory("graft-tws").toString
    // transformWithState needs the RocksDB provider (multi column families)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q = sessions.writeStream.format("memory").queryName("s5b")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      input.addData(
        Sessionize.Event(1L, ts("2024-01-01 10:00:00"), 5.0),
        Sessionize.Event(1L, ts("2024-01-01 10:10:00"), 7.0))
      q.processAllAvailable()
      input.addData(Sessionize.Event(1L, ts("2024-01-01 11:30:00"), 1.0))
      q.processAllAvailable()
      val done = spark.table("s5b").as[Sessionize.Session].collect()
      assert(done.length == 1 && done(0).n_events == 2 && done(0).sum_value == 12.0)
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("S5c: late in-gap event in a later batch widens, never shrinks, the open session") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Sessionize.Event]
    val q = Sessionize(input.toDS()).writeStream.format("memory").queryName("s5c")
      .outputMode("append").start()
    try {
      input.addData(
        Sessionize.Event(1L, ts("2024-01-01 10:00:00"), 1.0),
        Sessionize.Event(1L, ts("2024-01-01 10:20:00"), 1.0))
      q.processAllAvailable()
      // late event at 10:05 (within gap of end=10:20) must NOT reset end to 10:05
      input.addData(Sessionize.Event(1L, ts("2024-01-01 10:05:00"), 1.0))
      q.processAllAvailable()
      // 10:40 is within 30min of the TRUE end (10:20) -> still same session
      input.addData(Sessionize.Event(1L, ts("2024-01-01 10:40:00"), 1.0))
      q.processAllAvailable()
      input.addData(Sessionize.Event(1L, ts("2024-01-01 12:00:00"), 1.0)) // close it
      q.processAllAvailable()
      val done = spark.table("s5c").as[Sessionize.Session].collect()
      assert(done.length == 1, s"one session expected, got ${done.toSeq}")
      assert(done(0).n_events == 4)
      assert(done(0).session_end == ts("2024-01-01 10:40:00"))
    } finally q.stop()
  }

  test("S5d: past-gap late event becomes its own session, never widens the open one") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Sessionize.Event]
    val q = Sessionize(input.toDS()).writeStream.format("memory").queryName("s5d")
      .outputMode("append").start()
    try {
      input.addData(Sessionize.Event(1L, ts("2024-01-01 10:00:00"), 1.0))
      q.processAllAvailable()
      // 08:00 is > 30min BEFORE the open session's start: merging would
      // widen across a real gap — must surface as its own past session
      input.addData(Sessionize.Event(1L, ts("2024-01-01 08:00:00"), 2.0))
      q.processAllAvailable()
      input.addData(Sessionize.Event(1L, ts("2024-01-01 12:00:00"), 1.0)) // close 10:00
      q.processAllAvailable()
      val done = spark.table("s5d").as[Sessionize.Session].collect().sortBy(_.session_start.getTime)
      assert(done.length == 2, s"late singleton + closed 10:00 session, got ${done.toSeq}")
      assert(done(0).session_start == ts("2024-01-01 08:00:00") && done(0).n_events == 1)
      assert(done(1).session_start == ts("2024-01-01 10:00:00") &&
        done(1).session_end == ts("2024-01-01 10:00:00") && done(1).n_events == 1)
    } finally q.stop()
  }

  test("S5e: past-gap late events in ONE batch gap-merge like batch q28") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Sessionize.Event]
    val q = Sessionize(input.toDS()).writeStream.format("memory").queryName("s5e")
      .outputMode("append").start()
    try {
      input.addData(Sessionize.Event(1L, ts("2024-01-01 10:00:00"), 1.0))
      q.processAllAvailable()
      // two late events within gap of EACH OTHER, both past-gap before the
      // open session: batch semantics makes them ONE 2-event session, not
      // two singletons (the pre-round-6 behavior)
      input.addData(
        Sessionize.Event(1L, ts("2024-01-01 08:00:00"), 2.0),
        Sessionize.Event(1L, ts("2024-01-01 08:10:00"), 3.0))
      q.processAllAvailable()
      input.addData(Sessionize.Event(1L, ts("2024-01-01 12:00:00"), 1.0)) // close 10:00
      q.processAllAvailable()
      val done = spark.table("s5e").as[Sessionize.Session].collect()
        .sortBy(_.session_start.getTime)
      assert(done.length == 2, s"merged late session + closed 10:00, got ${done.toSeq}")
      assert(done(0).session_start == ts("2024-01-01 08:00:00") &&
        done(0).session_end == ts("2024-01-01 08:10:00") &&
        done(0).n_events == 2 && done(0).sum_value == 5.0)
      assert(done(1).session_start == ts("2024-01-01 10:00:00") && done(1).n_events == 1)
    } finally q.stop()
  }

  test("S7: reference 10 s micro-batch trigger parity (OpContainer.java:47-49)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.streaming.Trigger
    assert(StreamingOps.ReferenceTrigger == Trigger.ProcessingTime("10 seconds"))
    val input = MemoryStream[Long]
    input.addData(1L, 2L, 3L) // enqueued before start -> consumed by the immediate first batch
    val q = StreamingOps.startWithReferenceTrigger(
      input.toDF().writeStream.format("memory").queryName("s7").outputMode("append"))
    try {
      q.processAllAvailable()
      assert(spark.table("s7").count() == 3)
    } finally q.stop()
  }

  test("S6: stream-stream join with watermarks and time-range condition") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val imps = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val joined = StreamingOps.streamStreamJoin(
      imps.toDF().toDF("ad_id", "imp_ts"), "imp_ts",
      clicks.toDF().toDF("c_ad", "click_ts"), "click_ts",
      "10 minutes",
      expr("ad_id = c_ad AND click_ts BETWEEN imp_ts AND imp_ts + INTERVAL 5 MINUTES"))
    val q = joined.writeStream.format("memory").queryName("s6").outputMode("append").start()
    try {
      imps.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:00:00")))
      clicks.addData((1L, ts("2024-01-01 10:03:00")), // within 5 min -> match
        (2L, ts("2024-01-01 10:09:00")))              // beyond 5 min -> no match
      q.processAllAvailable()
      val matched = spark.table("s6").collect().map(_.getLong(0))
      assert(matched.toSeq == Seq(1L), s"only the in-range click joins, got ${matched.toSeq}")
    } finally q.stop()
  }

  test("S8: curation narrow ops run unchanged on a stream (batch/stream unification)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.api.GraftOps
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    // stateless narrow ops (sample filter, redaction, repetition score)
    // need no watermark/state — the same DataFrame code streams as-is
    val out = GraftOps.shardCorpus(
      GraftOps.mixCorpus( // w=2.0 exactly: every row emits 2 copies
        GraftOps.repetitionScore(
          GraftOps.redactPii(
            GraftOps.stratifiedSample(df, lit("all"), col("doc_id"),
              Map.empty, defaultPpm = 1000000),
            col("text")),
          col("text")),
        lit("all"), col("doc_id"), Map.empty, defaultPpm = 2000000L),
      col("doc_id"), seed = 7, nShards = 4)
    val q = out.writeStream.format("memory").queryName("s8").outputMode("append").start()
    try {
      input.addData((1L, "mail me at a.b@c.io " + ("now " * 12).trim))
      q.processAllAvailable()
      val rows = spark.table("s8").collect()
      assert(rows.length == 2, "w=2.0 mixCorpus duplicates the doc on the stream")
      assert(rows.map(_.getAs[Long]("copy_idx")).sorted.toSeq == Seq(1L, 2L))
      val r = rows(0)
      assert(r.getAs[Int]("n_emails") == 1 && r.getAs[String]("redacted").contains("<EMAIL>"))
      assert(r.getAs[Double]("rep_ratio") > 0.5, "repeated tail must score repetitive")
      assert(rows.forall(x => x.getAs[Int]("shard") >= 0 && x.getAs[Int]("shard") < 4))
    } finally q.stop()
  }

  test("S10: streaming near-dup admission flags docs duplicating the static corpus") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.streaming.StreamingOps
    val base = "spark is a unified analytics engine for large scale data processing with apis"
    val corpus = Seq(
      (1L, base),
      (2L, "totally different cooking text about pasta tomatoes basil and olive oil"))
      .toDF("doc_id", "text")
    // index built once in batch; caller-persisted for the stream's lifetime
    val index = StreamingOps.nearDupIndex(corpus, col("doc_id"), col("text"))
      .persist()
    try {
      val arrivals = Seq(
        (100L, base + " in scala"), // near-dup of corpus doc 1
        (200L, "novel text on gardening tulips soil watering sunlight and bees"))
      val input = MemoryStream[(Long, String)]
      val out = StreamingOps.nearDupAgainst(
        input.toDF().toDF("id", "text"), col("id"), col("text"), index,
        minMatches = 6)
      val q = out.writeStream.format("memory").queryName("s10")
        .outputMode("append").start()
      try {
        input.addData(arrivals: _*)
        q.processAllAvailable()
        val flagged = spark.table("s10").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(flagged == Set((100L, 1L)),
          s"near-dup arrival flagged against its corpus doc, novel doc admitted: $flagged")
        // batch/stream unification: the same op over the same rows as a
        // batch DataFrame must flag the identical pairs
        val batch = StreamingOps.nearDupAgainst(
          arrivals.toDF("id", "text"), col("id"), col("text"), index,
          minMatches = 6)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(batch == flagged, "batch twin agrees with the stream")
      } finally q.stop()
    } finally index.unpersist()
  }

  test("S14: exact-fingerprint admission — flags, admits, batch/stream agree") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.streaming.StreamingOps
    val corpus = Seq(
      (1L, "The quick   brown fox"), // normText canon: lower + ws collapse
      (2L, "a corpus document about databases"))
      .toDF("doc_id", "text")
    val index = StreamingOps.fingerprintIndex(corpus, col("doc_id"),
      col("text")).persist()
    try {
      val arrivals = Seq(
        (100L, "the quick brown fox"),      // exact dup of 1 after normText
        (200L, "a NOVEL document"),          // admitted
        (300L, "A corpus document about DATABASES  ")) // exact dup of 2
      val input = MemoryStream[(Long, String)]
      val sdf = input.toDF().toDF("id", "text")
      val flagQ = StreamingOps.fingerprintAgainst(sdf, col("id"),
          col("text"), index)
        .writeStream.format("memory").queryName("s14f")
        .outputMode("append").start()
      val admitQ = StreamingOps.fingerprintAdmit(sdf, col("text"), index)
        .writeStream.format("memory").queryName("s14a")
        .outputMode("append").start()
      try {
        input.addData(arrivals: _*)
        flagQ.processAllAvailable(); admitQ.processAllAvailable()
        val flagged = spark.table("s14f").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(flagged == Set((100L, 1L), (300L, 2L)),
          s"normalized exact dups flagged against their corpus docs: $flagged")
        val admitted = spark.table("s14a").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSet
        assert(admitted == Set((200L, "a NOVEL document")),
          s"only novel content admitted, schema untouched: $admitted")
        // batch/stream unification: both ops over the same rows as a
        // batch DataFrame must produce identical results
        val bFlag = StreamingOps.fingerprintAgainst(arrivals.toDF("id", "text"),
            col("id"), col("text"), index)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val bAdmit = StreamingOps.fingerprintAdmit(arrivals.toDF("id", "text"),
            col("text"), index)
          .collect().map(r => (r.getLong(0), r.getString(1))).toSet
        assert(bFlag == flagged && bAdmit == admitted,
          "batch twins agree with the stream")
        // agreement with the batch q11 canon: a doc equal to a corpus doc
        // under q11's normText groups must be exactly the flagged set
        val canon = corpus.select(col("doc_id"),
          graft.functions.Text.normText(col("text")).as("n"))
        val arrCanon = arrivals.toDF("id", "text").select(col("id"),
          graft.functions.Text.normText(col("text")).as("n"))
        val viaQ11 = arrCanon.join(canon, "n")
          .select(col("id"), col("doc_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(viaQ11 == flagged,
          "fingerprint tier means EXACTLY q11's normalized-equality dedup")
      } finally { flagQ.stop(); admitQ.stop() }
    } finally index.unpersist()
  }

  test("S25: semantic-dup admission — stream flags == batch over any chunking; novel/NULL rows flag nothing") {
    // The embedding tier of the admission matrix (q83's streaming twin):
    // kmeans cells are trained ONCE in batch; arrivals route to their
    // cells as a baked-constant projection and verify exact cosine
    // against same-cell corpus rows. Stateless per row vs the static
    // index, so a multi-batch replay must equal ONE batch call exactly,
    // sims included.
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.streaming.StreamingOps
    import graft.api.GraftOps
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val corpus = Seq(
      (1L, v(1.0, 0.02, 0.0)), (2L, v(0.98, 0.05, 0.0)),
      (3L, v(0.0, 0.01, 1.0)), (4L, v(0.02, 0.0, 0.97)))
      .toDF("doc_id", "vec")
    val model = GraftOps.kmeansFit(corpus, col("doc_id"), col("vec"),
      k = 2, iters = 2)
    val index = StreamingOps.semanticDupIndex(corpus, col("doc_id"),
      col("vec"), model).persist()
    try {
      val chunk1 = Seq((100L, Some(v(0.99, 0.03, 0.0)))) // near cluster A
      val chunk2 = Seq(
        (200L, Some(v(0.0, 0.0, 1.0))),  // near cluster B
        (300L, Some(v(0.5, -0.5, 0.5))), // novel direction, below threshold
        (400L, None))                    // NULL vec never flags
      val input = MemoryStream[(Long, Option[Seq[Float]])]
      val sdf = input.toDF().toDF("id", "vec")
      val q = StreamingOps.semanticDupAgainst(sdf, col("id"), col("vec"),
          model, index, threshold = 0.95)
        .writeStream.format("memory").queryName("s25f")
        .outputMode("append").start()
      try {
        input.addData(chunk1: _*); q.processAllAvailable()
        input.addData(chunk2: _*); q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("s25f").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // law S25: the two-chunk replay == one batch call, bit-equal sims
      val batch = StreamingOps.semanticDupAgainst(
          (chunk1 ++ chunk2).toDF("id", "vec"), col("id"), col("vec"),
          model, index, threshold = 0.95)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == batch, s"stream $got != batch $batch")
      assert(got.map(_._1) == Set(100L, 200L),
        s"only the planted near-dups flag (novel + NULL stay silent): $got")
      assert(got.filter(_._1 == 100L).map(_._2).subsetOf(Set(1L, 2L)) &&
        got.filter(_._1 == 200L).map(_._2).subsetOf(Set(3L, 4L)),
        s"flags point at same-cluster corpus rows: $got")
      assert(got.forall(_._3 >= 0.95), s"every flag clears the threshold: $got")
      // id-space semantics (r17 ADVICE): an arriving id that happens to
      // EQUAL an indexed id is self-excluded under the default shared
      // id space, but kept when the caller declares disjoint id spaces
      val clash = Seq((1L, Some(v(1.0, 0.02, 0.0)))).toDF("id", "vec")
      val shared = StreamingOps.semanticDupAgainst(clash, col("id"),
          col("vec"), model, index, threshold = 0.95)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!shared.contains((1L, 1L)),
        s"shared id space: a row is never its own dup: $shared")
      val disjoint = StreamingOps.semanticDupAgainst(clash, col("id"),
          col("vec"), model, index, threshold = 0.95,
          sharedIdSpace = false)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(disjoint.contains((1L, 1L)),
        s"disjoint id spaces keep the coincidental-equality pair: $disjoint")
    } finally index.unpersist()
  }

  test("S15: span-masking admission via foreachBatch equals one batch application") {
    // The span tier of continuous ingestion (q85's streaming twin, the
    // pattern of S10/S14): spanIndex is built ONCE over the corpus;
    // arriving docs are masked against the frozen index inside
    // foreachBatch. Each doc's masking depends only on (its text, the
    // index) — so per-micro-batch application must equal one batch
    // application EXACTLY, regardless of how arrivals were chunked.
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.api.GraftOps
    import graft.streaming.StreamingOps
    val header = "licensed under the apache license version two point oh"
    val corpus = (0 until 6).map(i => (i.toLong, s"$header corpus body$i"))
      .toDF("doc_id", "text")
    val index = GraftOps.spanIndex(corpus, col("doc_id"), col("text"),
      width = 5, minDf = 2).persist()
    try {
      val arrivals = Seq(
        (100L, s"$header fresh arrival text one"),
        (200L, "wholly novel arrival with no known spans"),
        (300L, s"prefix words then $header trailing"))
      val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Int, String)]
      val input = MemoryStream[(Long, String)]
      val ckpt = Files.createTempDirectory("graft-s15").toString
      val q = StreamingOps.foreachBatchSink(
          input.toDF().toDF("id", "text"), "s15", ckpt) { (batch, _) =>
        val rows = GraftOps.maskSpansAgainst(batch, col("id"), col("text"),
            index, width = 5)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
        got.synchronized { got ++= rows }
      }.start()
      try {
        input.addData(arrivals.take(2): _*); q.processAllAvailable()
        input.addData(arrivals.drop(2): _*); q.processAllAvailable()
      } finally q.stop()
      val batch = GraftOps.maskSpansAgainst(arrivals.toDF("id", "text"),
          col("id"), col("text"), index, width = 5)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
      assert(got.toSet == batch && batch.size == 3,
        s"per-micro-batch masking must equal one batch application: ${got.toSet} vs $batch")
      // the indexed header dies wherever it appears (even mid-document);
      // novel text survives byte-identical
      val byId = batch.map(t => t._1 -> t).toMap
      assert(byId(100L)._4 == "fresh arrival text one", byId(100L).toString)
      assert(byId(200L)._3 == 0 &&
        byId(200L)._4 == "wholly novel arrival with no known spans")
      assert(byId(300L)._4 == "prefix words then trailing", byId(300L).toString)
    } finally index.unpersist()
  }

  test("S16: image-dup admission — arriving near-dup images flag their corpus originals") {
    // the media tier of continuous ingestion (the S10/S14/S15 pattern on
    // the image axis): a perceptual-hash band index built once over the
    // corpus; arriving images flag within maxHamming aHash bits of an
    // indexed original, batch == stream exactly.
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.operators.MultimodalOps
    import graft.streaming.StreamingOps
    val rnd = new scala.util.Random(47)
    def pixels(): Array[Array[Int]] = Array.fill(16, 16)(rnd.nextInt(256))
    def png(p: Array[Array[Int]]): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16) {
        val v = p(y)(x); img.setRGB(x, y, (v << 16) | (v << 8) | v) }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val bases = (0 until 4).map(i => i.toLong -> pixels())
    val corpus = bases.map { case (id, p) => (id, png(p)) }.toDF("doc_id", "payload")
    val index = StreamingOps.imageDupIndex(corpus, col("doc_id"),
      col("payload")).persist()
    try {
      // arrival 100 = byte-identical re-encode of corpus image 2 (same
      // pixels -> identical hash, hamming 0); 200 = novel; 300 = corrupt
      val arrivals = Seq(
        (100L, png(bases(2)._2)),
        (200L, png(pixels())),
        (300L, Array[Byte](1, 2, 3)))
      val input = MemoryStream[(Long, Array[Byte])]
      val q = StreamingOps.imageDupAgainst(
          input.toDF().toDF("id", "payload"), col("id"), col("payload"), index)
        .writeStream.format("memory").queryName("s16")
        .outputMode("append").start()
      try {
        input.addData(arrivals: _*)
        q.processAllAvailable()
        val flagged = spark.table("s16").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
        assert(flagged == Set((100L, 2L, 0)),
          s"the re-encoded image flags its original at hamming 0: $flagged")
        val batch = StreamingOps.imageDupAgainst(
            arrivals.toDF("id", "payload"), col("id"), col("payload"), index)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
        assert(batch == flagged, "batch twin agrees with the stream")
      } finally q.stop()
      // the nChunks generalization reaches the streaming tier: an index
      // built at 8 bands flags the same exact dup at radius up to 7,
      // while a radius beyond the build-time banding is rejected loudly
      val idx8 = StreamingOps.imageDupIndex(corpus, col("doc_id"),
        col("payload"), nChunks = 8)
      val at8 = StreamingOps.imageDupAgainst(
          arrivals.toDF("id", "payload"), col("id"), col("payload"), idx8,
          maxHamming = 6, nChunks = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(at8 == Set((100L, 2L, 0)),
        s"8-band index flags the same dup at radius 6: $at8")
      intercept[IllegalArgumentException] {
        StreamingOps.imageDupAgainst(arrivals.toDF("id", "payload"),
          col("id"), col("payload"), idx8, maxHamming = 6, nChunks = 4)
      }
    } finally index.unpersist()
  }

  test("S17: audio-dup admission — arriving near-dup clips flag their corpus originals") {
    // the audio member of the media admission matrix (S16's pattern on
    // the audio axis): an energy-envelope band index built once over the
    // corpus, arriving clips flag within maxHamming bits, batch == stream.
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.streaming.StreamingOps
    val rnd = new scala.util.Random(53)
    def clip(): Array[Int] = Array.fill(256)(rnd.nextInt(2001) - 1000)
    def wav(samples: Array[Int]): Array[Byte] = {
      val pcm = new Array[Byte](samples.length * 2)
      samples.zipWithIndex.foreach { case (v, i) =>
        pcm(2 * i) = (v & 0xff).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val bases = (0 until 4).map(i => i.toLong -> clip())
    val corpus = bases.map { case (id, s) => (id, wav(s)) }.toDF("doc_id", "payload")
    val index = StreamingOps.audioDupIndex(corpus, col("doc_id"),
      col("payload")).persist()
    try {
      // 100 = re-encode of corpus clip 2 (16-bit PCM roundtrips bit-exact
      // -> identical fingerprint, hamming 0); 200 = novel; 300 = corrupt
      val arrivals = Seq(
        (100L, wav(bases(2)._2)),
        (200L, wav(clip())),
        (300L, Array[Byte](9, 9, 9)))
      val input = MemoryStream[(Long, Array[Byte])]
      val q = StreamingOps.audioDupAgainst(
          input.toDF().toDF("id", "payload"), col("id"), col("payload"), index)
        .writeStream.format("memory").queryName("s17")
        .outputMode("append").start()
      try {
        input.addData(arrivals: _*)
        q.processAllAvailable()
        val flagged = spark.table("s17").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
        assert(flagged == Set((100L, 2L, 0)),
          s"the re-encoded clip flags its original at hamming 0: $flagged")
        val batch = StreamingOps.audioDupAgainst(
            arrivals.toDF("id", "payload"), col("id"), col("payload"), index)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
        assert(batch == flagged, "batch twin agrees with the stream")
      } finally q.stop()
    } finally index.unpersist()
  }

  test("S18: video-dup admission — arriving frame-sharing videos flag their originals") {
    // the sequence member of the media admission matrix: a (frame_idx,
    // frame_hash) index built once over the corpus; an arriving video
    // sharing >= minMatches aligned frames flags its original with the
    // q91 videoNearDup match count + sim, verified PER ROW over the two
    // full signatures (no stateful re-aggregation), batch == stream.
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.operators.MultimodalOps
    import graft.streaming.StreamingOps
    def px(v: Int)(f: Int, x: Int, y: Int): Int =
      math.abs((v * 7919 + f * 997 + x * 131 + y * 31) % 256)
    def gif(v: Int, frames: Seq[Int]): Array[Byte] =
      // frame slot i shows VIDEO `frames(i)`'s frame-i content, so two
      // videos share exactly the aligned slots listing the same source
      MultimodalOps.syntheticGrayGif(8, 8, frames.size,
        (f, x, y) => px(frames(f))(f, x, y))
    val corpus = (0 until 3).map(v => (v.toLong, gif(v, Seq.fill(4)(v))))
      .toDF("doc_id", "payload")
    val index = StreamingOps.videoDupIndex(corpus, col("doc_id"),
      col("payload")).persist()
    try {
      val arrivals = Seq(
        (100L, gif(0, Seq(1, 1, 7, 8))),  // frames 0,1 of video 1 -> matched 2
        (200L, gif(0, Seq(0, 5, 6, 9))),  // only frame 0 of video 0 -> below minMatches
        (300L, Array[Byte](4, 4, 4)))     // corrupt
      val input = MemoryStream[(Long, Array[Byte])]
      val q = StreamingOps.videoDupAgainst(
          input.toDF().toDF("id", "payload"), col("id"), col("payload"), index)
        .writeStream.format("memory").queryName("s18")
        .outputMode("append").start()
      try {
        input.addData(arrivals: _*)
        q.processAllAvailable()
        val flagged = spark.table("s18").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getInt(3), r.getInt(4), r.getDouble(5))).toSet
        assert(flagged == Set((100L, 1L, 2L, 4, 4, 0.5)),
          s"two shared aligned frames of four flag at sim 0.5: $flagged")
        val batch = StreamingOps.videoDupAgainst(
            arrivals.toDF("id", "payload"), col("id"), col("payload"), index)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getInt(3), r.getInt(4), r.getDouble(5))).toSet
        assert(batch == flagged, "batch twin agrees with the stream")
      } finally q.stop()
    } finally index.unpersist()
  }

  test("S19b: semantic-dup index append == rebuild through a real stream (S25 tier)") {
    // The S19 law at the embedding tier: cell assignment is a pure
    // per-row function of (vector, FROZEN model), so an index grown by
    // semanticDupAppendSink must flag exactly like a rebuild over the
    // union — valid ONLY while the model stays frozen (the
    // ivfRpqAppendSink lifecycle rule, restated in the sink's scaladoc).
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.api.GraftOps
    import graft.streaming.StreamingOps
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val baseCorpus = Seq(
      (1L, v(1.0, 0.02, 0.0)), (2L, v(0.98, 0.05, 0.0)),
      (3L, v(0.0, 0.01, 1.0)), (4L, v(0.02, 0.0, 0.97)))
      .toDF("doc_id", "vec")
    val model = GraftOps.kmeansFit(baseCorpus, col("doc_id"), col("vec"),
      k = 2, iters = 2)
    val newRows = Seq((5L, v(0.97, 0.01, 0.0)), (6L, v(0.01, 0.0, 0.99)))
    val arrivals = Seq(
      (100L, v(0.975, 0.012, 0.0)), // dups base 1/2 AND appended 5
      (200L, v(0.008, 0.0, 0.995))) // dups base 3/4 AND appended 6
    val dir = java.nio.file.Files.createTempDirectory("graft-sdidx").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sdidx-ck").toString
    try {
      StreamingOps.semanticDupIndex(baseCorpus, col("doc_id"), col("vec"),
        model).write.mode("append").parquet(dir)
      val input = MemoryStream[(Long, Seq[Float])]
      val q = StreamingOps.semanticDupAppendSink(
        input.toDF().toDF("doc_id", "vec"), col("doc_id"), col("vec"),
        model, dir, "s19sd", ckpt).start()
      try {
        input.addData(newRows.take(1): _*); q.processAllAvailable()
        input.addData(newRows.drop(1): _*); q.processAllAvailable()
      } finally q.stop()
      val grown = spark.read.parquet(dir)
      val rebuilt = StreamingOps.semanticDupIndex(
        baseCorpus.unionByName(newRows.toDF("doc_id", "vec")),
        col("doc_id"), col("vec"), model)
      def flags(idx: org.apache.spark.sql.DataFrame) =
        StreamingOps.semanticDupAgainst(arrivals.toDF("id", "vec"),
            col("id"), col("vec"), model, idx, threshold = 0.95)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val g = flags(grown)
      assert(g == flags(rebuilt),
        s"appended semantic index must flag like a rebuild: $g")
      assert(g.exists(r => r._1 == 100L && r._2 == 5L) &&
        g.exists(r => r._1 == 200L && r._2 == 6L),
        s"appended rows themselves catch later near-dup arrivals: $g")
    } finally {
      new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
      new scala.reflect.io.Directory(new java.io.File(ckpt)).deleteRecursively()
    }
  }

  test("S19: admission-index append == rebuild (fingerprint stream, span counts, media union)") {
    // The ivfPqAppendSink law extended to the admission matrix: an index
    // grown incrementally (batch-built base + per-micro-batch appends of
    // newly admitted content) must flag and admit EXACTLY like an index
    // rebuilt from scratch over the union.
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.api.GraftOps
    import graft.streaming.StreamingOps
    // --- fingerprint tier, through a real stream ---
    val baseDocs = Seq((0L, "alpha beta gamma"), (1L, "delta epsilon"))
    val newDocs = Seq((2L, "zeta eta theta"), (3L, "iota kappa"))
    val arrivals = Seq(
      (100L, "Alpha  beta GAMMA"), // dup of base doc 0 (normText canon)
      (200L, "zeta eta theta"),    // dup of APPENDED doc 2
      (300L, "wholly novel"))
    val dir = java.nio.file.Files.createTempDirectory("graft-fpidx").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-fpidx-ck").toString
    try {
      // base index built in batch
      StreamingOps.fingerprintIndex(baseDocs.toDF("id", "text"),
        col("id"), col("text")).write.mode("append").parquet(dir)
      val input = MemoryStream[(Long, String)]
      val q = StreamingOps.fingerprintAppendSink(
        input.toDF().toDF("id", "text"), col("id"), col("text"),
        dir, "s19fp", ckpt).start()
      try {
        input.addData(newDocs.take(1): _*); q.processAllAvailable()
        input.addData(newDocs.drop(1): _*); q.processAllAvailable()
      } finally q.stop()
      val grown = spark.read.parquet(dir)
      val rebuilt = StreamingOps.fingerprintIndex(
        (baseDocs ++ newDocs).toDF("id", "text"), col("id"), col("text"))
      val aDf = arrivals.toDF("id", "text")
      def flags(idx: org.apache.spark.sql.DataFrame) =
        StreamingOps.fingerprintAgainst(aDf, col("id"), col("text"), idx)
          .as[(Long, Long)].collect().toSet
      assert(flags(grown) == flags(rebuilt) &&
        flags(grown) == Set((100L, 0L), (200L, 2L)),
        s"appended fingerprint index must flag like a rebuild: ${flags(grown)}")
      def admitted(idx: org.apache.spark.sql.DataFrame) =
        StreamingOps.fingerprintAdmit(aDf, col("text"), idx)
          .select("id").as[Long].collect().toSet
      assert(admitted(grown) == admitted(rebuilt) && admitted(grown) == Set(300L),
        "appended index must admit like a rebuild")
    } finally {
      import scala.reflect.io.Directory
      Seq(dir, ckpt).foreach(d =>
        new Directory(new java.io.File(d)).deleteRecursively())
    }
    // --- span tier: mergeable counts through a stream ---
    val sliceA = Seq((10L, "shared header words here plus unique tail one"),
      (11L, "shared header words here plus other content"))
    val sliceB = Seq((12L, "shared header words here plus a third body"),
      (13L, "completely different text with no repeats"))
    val sDir = java.nio.file.Files.createTempDirectory("graft-spidx").toString
    val sCkpt = java.nio.file.Files.createTempDirectory("graft-spidx-ck").toString
    try {
      GraftOps.spanIndexCounts(sliceA.toDF("id", "text"), col("id"),
        col("text"), width = 5).write.mode("append").parquet(sDir)
      val sIn = MemoryStream[(Long, String)]
      val sq = StreamingOps.spanIndexAppendSink(sIn.toDF().toDF("id", "text"),
        col("id"), col("text"), width = 5, sDir, "s19span", sCkpt).start()
      try { sIn.addData(sliceB: _*); sq.processAllAvailable() } finally sq.stop()
      val incr = GraftOps.spanIndexFromCounts(spark.read.parquet(sDir),
        minDf = 2).as[Long].collect().toSet
      val oneShot = GraftOps.spanIndex((sliceA ++ sliceB).toDF("id", "text"),
        col("id"), col("text"), width = 5, minDf = 2).as[Long].collect().toSet
      assert(incr == oneShot && incr.nonEmpty,
        s"incremental span index must equal the one-batch index: $incr vs $oneShot")
      // and masking against it behaves identically
      val probe = Seq((500L, "shared header words here plus novel suffix"))
        .toDF("id", "text")
      def masked(idx: Set[Long]) = GraftOps.maskSpansAgainst(probe, col("id"),
          col("text"), idx.toSeq.toDF("__sh"), width = 5)
        .select("masked_text").as[String].collect().head
      assert(masked(incr) == masked(oneShot))
    } finally {
      import scala.reflect.io.Directory
      Seq(sDir, sCkpt).foreach(d =>
        new Directory(new java.io.File(d)).deleteRecursively())
    }
    // --- media tiers: per-row purity makes index union == union index ---
    import graft.operators.MultimodalOps
    def png(seed: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16) {
        val v = math.abs((seed * 7919 + x * 131 + y * 31) % 256)
        img.setRGB(x, y, (v << 16) | (v << 8) | v) }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val imgA = Seq((0L, png(0)), (1L, png(1))).toDF("doc_id", "payload")
    val imgB = Seq((2L, png(2))).toDF("doc_id", "payload")
    val imgArr = Seq((100L, png(2))).toDF("id", "payload") // dup of APPENDED img 2
    val unioned = StreamingOps.imageDupIndex(imgA, col("doc_id"), col("payload"))
      .union(StreamingOps.imageDupIndex(imgB, col("doc_id"), col("payload")))
    val oneIdx = StreamingOps.imageDupIndex(imgA.union(imgB), col("doc_id"),
      col("payload"))
    def iFlags(idx: org.apache.spark.sql.DataFrame) =
      StreamingOps.imageDupAgainst(imgArr, col("id"), col("payload"), idx)
        .as[(Long, Long, Int)].collect().toSet
    assert(iFlags(unioned) == iFlags(oneIdx) &&
      iFlags(unioned) == Set((100L, 2L, 0)),
      s"image index union law: ${iFlags(unioned)}")
    // --- text near-dup tier (S10's index): same per-row purity law ---
    val tA = Seq((0L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("id", "text")
    val tB = Seq((1L, "pack my box with five dozen brown liquor jugs now"))
      .toDF("id", "text")
    val tArr = Seq((100L, "pack my box with five dozen brown liquor jugs now"))
      .toDF("id", "text")
    def tIdx(df: org.apache.spark.sql.DataFrame) =
      StreamingOps.nearDupIndex(df, col("id"), col("text"))
    def tFlags(idx: org.apache.spark.sql.DataFrame) =
      StreamingOps.nearDupAgainst(tArr, col("id"), col("text"), idx)
        .select("id", "dup_of").as[(Long, Long)].collect().toSet
    assert(tFlags(tIdx(tA).union(tIdx(tB))) == tFlags(tIdx(tA.union(tB))) &&
      tFlags(tIdx(tA).union(tIdx(tB))) == Set((100L, 1L)),
      "text near-dup index union law: appended == rebuilt")
  }

  test("S13: streaming heavy-hitter summary is a superset with the MG error bound") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.streaming.StreamingOps
    // Planted skew split across MULTIPLE micro-batches: "hot" is 40% of
    // the stream, "warm" 20%, the rest 1-off noise keys.
    val capacity = 8
    val b1 = Seq.fill(40)("hot") ++ Seq.fill(10)("warm") ++ (1 to 10).map(i => s"n1_$i")
    val b2 = Seq.fill(40)("hot") ++ Seq.fill(30)("warm") ++ (1 to 20).map(i => s"n2_$i")
    val all = b1 ++ b2
    val input = MemoryStream[String]
    val out = StreamingOps.heavyHittersStream(input.toDF().toDF("k"),
      col("k"), capacity)
    val q = out.writeStream.format("memory").queryName("s13")
      .outputMode("complete").start()
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      val summary = spark.table("s13").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val n = all.size.toLong
      val trueCounts = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val bound = n / (capacity + 1)
      // superset law: every key above the n/(capacity+1) share survives
      // the cross-batch state merges
      trueCounts.filter(_._2 > bound).keys.foreach { k =>
        assert(summary.contains(k), s"true heavy hitter '$k' missing from summary")
      }
      // error law: counters undercount by at most n/(capacity+1)
      summary.foreach { case (k, est) =>
        val t = trueCounts(k)
        assert(est <= t && est >= t - bound,
          s"'$k' est=$est outside [${t - bound}, $t]")
      }
      assert(summary.size <= capacity, "summary never exceeds capacity")
    } finally q.stop()
  }

  test("S11: Observed metrics surface per micro-batch on a stream") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val observed = graft.api.Observed.streaming(
      graft.api.GraftOps.mixCorpus(input.toDF().toDF("k", "grp"),
        col("grp"), col("k"), Map.empty, defaultPpm = 2000000L),
      "mix", count(lit(1)).as("rows_out"))
    val q = observed.writeStream.format("memory").queryName("s11")
      .outputMode("append").start()
    try {
      input.addData((1L, "g"), (2L, "g"))
      q.processAllAvailable()
      // streaming observations surface in QueryProgress, not Observation.get
      val m = q.recentProgress.flatMap(p =>
        Option(p.observedMetrics.get("mix"))).lastOption
      assert(m.isDefined, "micro-batch progress carries the named metrics")
      assert(m.get.getAs[Long]("rows_out") == 4L,
        s"w=2.0 mix doubles the 2-row batch: ${m.get}")
      assert(spark.table("s11").count() == 4)
    } finally q.stop()
  }

  test("S9: streaming as-of enrichment joins each right event to the latest prior left") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.streaming.StreamingAsof
    import graft.streaming.StreamingAsof.{LeftEvent, RightEvent}
    val lefts = MemoryStream[LeftEvent]
    val rights = MemoryStream[RightEvent]
    val q = StreamingAsof(StreamingAsof.tag(lefts.toDS(), rights.toDS()))
      .writeStream.format("memory").queryName("s9").outputMode("append").start()
    try {
      lefts.addData(LeftEvent(1L, ts("2024-01-01 10:00:00"), 99.0))
      rights.addData(
        RightEvent(1L, ts("2024-01-01 09:59:00"), "early"),  // before any left
        RightEvent(1L, ts("2024-01-01 10:03:00"), "mid"))
      q.processAllAvailable()
      lefts.addData(LeftEvent(1L, ts("2024-01-01 10:05:00"), 101.0))
      q.processAllAvailable()
      rights.addData(RightEvent(1L, ts("2024-01-01 10:07:00"), "late"))
      q.processAllAvailable()
      val rows = spark.table("s9").as[StreamingAsof.Enriched].collect()
        .map(e => e.payload -> e.asofValue).toMap
      assert(rows("early").isEmpty, "right before any left is unmatched")
      assert(rows("mid").contains(99.0), "10:03 sees the 10:00 left")
      assert(rows("late").contains(101.0), "10:07 sees the 10:05 left")
    } finally q.stop()
  }

  test("foreachBatch sink receives micro-batches as batch DataFrames") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Long]
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val ckpt = Files.createTempDirectory("graft-feb").toString
    val q = StreamingOps.foreachBatchSink(input.toDF().toDF("x"), "feb", ckpt) {
      (batch, _) => seen ++= batch.collect().map(_.getLong(0))
    }.start()
    try {
      input.addData(1L, 2L, 3L)
      q.processAllAvailable()
      assert(seen.sorted == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("checkpoint recovery: windowed agg state survives a restart") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ckpt").toFile
    val srcDir = new java.io.File(dir, "src"); srcDir.mkdirs()
    val ckpt = new java.io.File(dir, "ckpt").getAbsolutePath
    val schema = StructType(Seq(StructField("user", LongType), StructField("n", LongType)))
    Seq((1L, 10L)).toDF("user", "n").write.mode("append").parquet(srcDir.getAbsolutePath)
    def start() = spark.readStream.schema(schema).parquet(srcDir.getAbsolutePath)
      .groupBy("user").agg(sum("n").as("total"))
      .writeStream.format("memory").queryName("ckpt_out").outputMode("complete")
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    q1.processAllAvailable()
    assert(spark.table("ckpt_out").collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 10L)))
    q1.stop()
    Seq((1L, 5L)).toDF("user", "n").write.mode("append").parquet(srcDir.getAbsolutePath)
    val q2 = start()
    q2.processAllAvailable()
    try {
      val after = spark.table("ckpt_out").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(after == Set((1L, 15L)), s"state restored + new batch applied, got $after")
    } finally q2.stop()
  }

  test("S20: streaming upsert log — stream == batch applyChanges, no resurrection, compaction-stable") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.api.GraftOps
    import graft.streaming.StreamingOps
    // changelog: (key, version, seq, op, payload)
    val chunk1 = Seq(
      (1L, 1L, 10L, "u", "a1"), (2L, 5L, 11L, "u", "b1"),
      (3L, 2L, 12L, "u", "c1"), (3L, 9L, 13L, "d", ""))   // 3 deleted at v9
    val chunk2 = Seq(
      (1L, 3L, 14L, "u", "a2"),   // newer update for 1 -> wins
      (2L, 2L, 15L, "u", "bOLD"), // OLDER than 2's v5 -> must lose
      (3L, 5L, 16L, "u", "cOLD"), // OLDER than 3's delete -> must NOT resurrect
      (4L, 1L, 17L, "u", "d1"))
    val allRows = chunk1 ++ chunk2
    val dir = java.nio.file.Files.createTempDirectory("graft-ups").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ups-ck").toString
    val input = MemoryStream[(Long, Long, Long, String, String)]
    val q = StreamingOps.upsertAppendSink(
      input.toDF().toDF("k", "v", "seq", "op", "payload"),
      key = Seq("k"), version = "v", tiebreak = "seq",
      dir, "s20ups", ckpt).start()
    try {
      input.addData(chunk1: _*); q.processAllAvailable()
      input.addData(chunk2: _*); q.processAllAvailable()
    } finally q.stop()
    def state() = StreamingOps.upsertState(spark, dir, Seq("k"), "v", "seq",
      isDelete = col("op") === "d")
    val got = state().collect()
      .map(r => (r.getLong(0), r.getString(4))).toSet
    // stream == batch over the same (unordered) changelog
    val want = GraftOps.applyChanges(
        allRows.toDF("k", "v", "seq", "op", "payload"),
        Seq(col("k")), col("v"), col("seq"), col("op") === "d")
      .collect().map(r => (r.getLong(0), r.getString(4))).toSet
    assert(got == want, s"stream $got != batch $want")
    // the delete held against the out-of-order older update; older
    // versions lost; key 4 present
    assert(got == Set((1L, "a2"), (2L, "b1"), (4L, "d1")))
    // the LOG retains the tombstone (only the read face filters it)
    assert(spark.read.parquet(dir).filter(col("op") === "d").count() == 1)
    // compaction: derived state identical, log shrinks to one row/key,
    // tombstone still present afterwards
    val compact = java.nio.file.Files.createTempDirectory("graft-ups-c").toString
    GraftOps.compactUpsertLog(spark, dir, compact, Seq("k"), "v", "seq")
    val cState = StreamingOps.upsertState(spark, compact, Seq("k"), "v", "seq",
        isDelete = col("op") === "d")
      .collect().map(r => (r.getLong(0), r.getString(4))).toSet
    assert(cState == got, "compaction never changes the derived table")
    val cLog = spark.read.parquet(compact)
    assert(cLog.count() == 4 && cLog.filter(col("op") === "d").count() == 1,
      "one row per key incl. the tombstone")
    // at-least-once retry: re-appending a batch's winner rows is absorbed
    GraftOps.latestByKey(chunk2.toDF("k", "v", "seq", "op", "payload"),
        Seq(col("k")), col("v"), col("seq"))
      .write.mode("append").parquet(dir)
    assert(state().collect().map(r => (r.getLong(0), r.getString(4))).toSet
      == got, "retried append collapses on read")
  }

  test("S29/S30: streaming sketch logs — cms cell-sum state and kmv bottom-k state == batch sketches; retries absorbed") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.api.GraftOps
    import graft.streaming.StreamingOps
    val chunk1 = Seq(("g1", "a"), ("g1", "b"), ("g2", "a"), ("g1", "a"))
    val chunk2 = Seq(("g1", "c"), ("g2", "d"), ("g2", "a"), ("g1", "a"))
    val all = chunk1 ++ chunk2
    // --- S29: count-min cells over the key column
    val cdir = java.nio.file.Files.createTempDirectory("graft-cms").toString
    val cck = java.nio.file.Files.createTempDirectory("graft-cms-ck").toString
    val in1 = MemoryStream[(String, String)]
    val q1 = StreamingOps.cmsAppendSink(in1.toDF().toDF("g", "v"),
      key = "v", depth = 3, width = 8, cdir, "s29cms", cck).start()
    try {
      in1.addData(chunk1: _*); q1.processAllAvailable()
      in1.addData(chunk2: _*); q1.processAllAvailable()
    } finally q1.stop()
    def cells(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val cmsGot = cells(StreamingOps.cmsState(spark, cdir))
    val cmsWant = cells(GraftOps.cmsSketch(all.toDF("g", "v"), col("v"), 3, 8))
    assert(cmsGot == cmsWant, s"S29 cms state $cmsGot != batch $cmsWant")
    // at-least-once retry: the SAME (query id, batch id) re-appends
    // identical cells — the max-per-(query id, batch id, cell) collapse
    // absorbs it (a plain sum over the log would double-count; spec'd
    // as the sum-specific cure). A real retry replays within the same
    // checkpoint lifetime, so it carries the SAME sink_query_id.
    val cLog0 = spark.read.parquet(cdir)
    val lastId = cLog0.agg(max("batch_id")).head().getLong(0)
    val cQid = cLog0.agg(max("sink_query_id")).head().getString(0)
    assert(cQid != null && cQid.nonEmpty, "sink persisted its query id")
    GraftOps.cmsSketch(chunk2.toDF("g", "v"), col("v"), 3, 8)
      .withColumn("batch_id", lit(lastId))
      .withColumn("sink_query_id", lit(cQid))
      .write.mode("append").parquet(cdir)
    assert(cells(StreamingOps.cmsState(spark, cdir)) == cmsWant,
      "retried cms batch collapses on read")
    // a SECOND checkpoint lifetime appending to the SAME path: its
    // batch ids restart at 0 (colliding with the first lifetime's),
    // but its fresh query id keeps the two batches from max-collapsing
    // — the state SUMS both lifetimes (r19 ADVICE finding, fixed here)
    val chunk3 = Seq(("g1", "a"), ("g2", "b"))
    val cck2 = java.nio.file.Files.createTempDirectory("graft-cms-ck2")
      .toString
    val in1b = MemoryStream[(String, String)]
    val q1b = StreamingOps.cmsAppendSink(in1b.toDF().toDF("g", "v"),
      key = "v", depth = 3, width = 8, cdir, "s29cms2", cck2).start()
    try { in1b.addData(chunk3: _*); q1b.processAllAvailable() }
    finally q1b.stop()
    val cmsWantAll = cells(GraftOps.cmsSketch((all ++ chunk3).toDF("g", "v"),
      col("v"), 3, 8))
    assert(cells(StreamingOps.cmsState(spark, cdir)) == cmsWantAll,
      "a fresh checkpoint lifetime SUMS into the state (no batch-0 collapse)")
    // --- S30: kmv bottom-k per group over (g, v)
    val kdir = java.nio.file.Files.createTempDirectory("graft-kmv").toString
    val kck = java.nio.file.Files.createTempDirectory("graft-kmv-ck").toString
    val in2 = MemoryStream[(String, String)]
    val q2 = StreamingOps.kmvAppendSink(in2.toDF().toDF("g", "v"),
      group = "g", value = "v", k = 2, kdir, "s30kmv", kck).start()
    try {
      in2.addData(chunk1: _*); q2.processAllAvailable()
      in2.addData(chunk2: _*); q2.processAllAvailable()
    } finally q2.stop()
    def hs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val kmvGot = hs(StreamingOps.kmvState(spark, kdir, k = 2))
    val kmvWant = hs(GraftOps.kmvSketch(all.toDF("g", "v"), col("g"),
      col("v"), 2))
    assert(kmvGot == kmvWant, s"S30 kmv state $kmvGot != batch $kmvWant")
    // retry: identical (grp, h) rows, distinct collapses them for free
    // (a sink retry re-emits the same sink_k column it always writes)
    GraftOps.kmvSketch(chunk2.toDF("g", "v"), col("g"), col("v"), 2)
      .withColumn("sink_k", lit(2))
      .write.mode("append").parquet(kdir)
    assert(hs(StreamingOps.kmvState(spark, kdir, k = 2)) == kmvWant,
      "retried kmv batch collapses on read")
    // reading with k above what the sink kept is NOT recoverable —
    // kmvState validates against the persisted sink_k and fails loudly
    // instead of returning a silently undersized sketch
    val exK = intercept[IllegalArgumentException] {
      StreamingOps.kmvState(spark, kdir, k = 3)
    }
    assert(exK.getMessage.contains("not") &&
      exK.getMessage.contains("recoverable"), s"loud k guard: $exK")
    // reading with a SMALLER k than the sink wrote is always fine:
    // bottom-1 per group == the min hash of the batch bottom-2
    val want1 = kmvWant.groupBy(_._1).map { case (g, hsForG) =>
      (g, hsForG.map(_._2).min) }.toSet
    assert(hs(StreamingOps.kmvState(spark, kdir, k = 1)) == want1,
      "smaller read-k == bottom-1 of the batch sketch")
    // a log whose only appends were EMPTY batches (schema-only parquet,
    // every sink_k value null on read): no NPE, empty state
    val edir = java.nio.file.Files.createTempDirectory("graft-kmv-empty")
      .toString
    Seq.empty[(String, Long, Int)].toDF("grp", "h", "sink_k")
      .write.mode("append").parquet(edir)
    assert(StreamingOps.kmvState(spark, edir, k = 2).count() == 0L,
      "empty kmv log reads as an empty state")
  }

  test("S31: streaming gram log — idx-wise-sum state == batch gramSummaryRows; pcaFitFromSummary == pcaFit; retries absorbed") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.api.GraftOps
    import graft.streaming.StreamingOps
    val chunk1 = Seq((1L, Seq(1.0f, 2.0f, 3.0f)), (2L, Seq(-0.5f, 0.25f, 1.5f)))
    val chunk2 = Seq((3L, Seq(0.1f, -0.2f, 0.3f)),
      (4L, Seq(2.0f, 1.0f, -1.0f)), (5L, Seq(0.0f, 0.5f, 0.25f)))
    val all = chunk1 ++ chunk2
    val dir = java.nio.file.Files.createTempDirectory("graft-gram").toString
    val ck = java.nio.file.Files.createTempDirectory("graft-gram-ck").toString
    val in = MemoryStream[(Long, Seq[Float])]
    val q = StreamingOps.gramAppendSink(in.toDF().toDF("id", "vec"),
      vec = "vec", dim = 3, dir, "s31gram", ck).start()
    try {
      in.addData(chunk1: _*); q.processAllAvailable()
      in.addData(chunk2: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    val got = rows(StreamingOps.gramState(spark, dir))
    val want = rows(GraftOps.gramSummaryRows(all.toDF("id", "vec"),
      col("vec"), 3))
    assert(got == want, s"S31 gram state $got != batch $want")
    // packed layout: 1 count + 3 sums + 6 triangle = 10 rows, count = 5
    assert(got.size == 10 && got(0) == 5L, s"packed layout: $got")
    // at-least-once retry: the SAME (query id, batch id) re-appends
    // identical rows — max-per-(query id, batch id, idx) absorbs it (a
    // plain sum would double-count the summed statistic, the S29 cure).
    // A real retry replays within one checkpoint lifetime → same id.
    val gLog0 = spark.read.parquet(dir)
    val lastId = gLog0.agg(max("batch_id")).head().getLong(0)
    val gQid = gLog0.agg(max("sink_query_id")).head().getString(0)
    assert(gQid != null && gQid.nonEmpty, "sink persisted its query id")
    GraftOps.gramSummaryRows(chunk2.toDF("id", "vec"), col("vec"), 3)
      .withColumn("batch_id", lit(lastId))
      .withColumn("sink_query_id", lit(gQid))
      .withColumn("sink_dim", lit(3))
      .write.mode("append").parquet(dir)
    assert(rows(StreamingOps.gramState(spark, dir)) == want,
      "retried gram batch collapses on read")
    // a SECOND checkpoint lifetime on the SAME path: batch ids restart
    // at 0, the fresh query id keeps the two batch-0 summaries from
    // max-collapsing — the state SUMS both lifetimes (r19 ADVICE fix)
    val chunk3 = Seq((6L, Seq(1.0f, 1.0f, 1.0f)))
    val ck2 = java.nio.file.Files.createTempDirectory("graft-gram-ck2")
      .toString
    val inB = MemoryStream[(Long, Seq[Float])]
    val qB = StreamingOps.gramAppendSink(inB.toDF().toDF("id", "vec"),
      vec = "vec", dim = 3, dir, "s31gram2", ck2).start()
    try { inB.addData(chunk3: _*); qB.processAllAvailable() }
    finally qB.stop()
    val wantAll = rows(GraftOps.gramSummaryRows(
      (all ++ chunk3).toDF("id", "vec"), col("vec"), 3))
    assert(rows(StreamingOps.gramState(spark, dir)) == wantAll,
      "a fresh checkpoint lifetime SUMS into the gram state")
    // a log MIXING pre-upgrade files (no sink_query_id column) with
    // post-upgrade ones must not let the read sample its schema from
    // an old footer and silently drop the column for every row — the
    // state read uses mergeSchema, so the post-upgrade lifetime's
    // batch-0 stays distinct from the pre-upgrade batch-0 (r20
    // self-review finding)
    val mixLog = java.nio.file.Files.createTempDirectory("graft-gram-mixlog")
      .toString
    GraftOps.gramSummaryRows(chunk1.toDF("id", "vec"), col("vec"), 3)
      .withColumn("batch_id", lit(0L)).withColumn("sink_dim", lit(3))
      .write.mode("append").parquet(mixLog) // pre-upgrade layout
    GraftOps.gramSummaryRows(chunk2.toDF("id", "vec"), col("vec"), 3)
      .withColumn("batch_id", lit(0L))
      .withColumn("sink_query_id", lit("upgraded-lifetime"))
      .withColumn("sink_dim", lit(3))
      .write.mode("append").parquet(mixLog) // post-upgrade, same batch id
    assert(rows(StreamingOps.gramState(spark, mixLog)) == want,
      "mixed-schema log: pre- and post-upgrade batch-0s SUM, never collapse")
    // a log that mixes summaries of DIFFERENT dims must fail loudly —
    // misaligned packed layouts would silently sum into a garbage model
    val mixDir = java.nio.file.Files.createTempDirectory("graft-gram-mix")
      .toString
    for (d <- Seq(3, 4))
      GraftOps.gramSummaryRows(chunk1.toDF("id", "vec")
          .withColumn("vec", expr(s"slice(concat(vec, array(0.0f)), 1, $d)")),
          col("vec"), d)
        .withColumn("batch_id", lit(d.toLong)).withColumn("sink_dim", lit(d))
        .write.mode("append").parquet(mixDir)
    val exDim = intercept[IllegalArgumentException] {
      StreamingOps.gramState(spark, mixDir)
    }
    assert(exDim.getMessage.contains("mixes summaries of different dims"),
      s"loud mixed-dim guard: $exDim")
    // the model face: a PCA model fit from the streaming state is
    // BIT-EQUAL to pcaFit over every row ever streamed (both lifetimes)
    val mState = GraftOps.pcaFitFromSummary(
      StreamingOps.gramState(spark, dir), 3, 2).collect().map(_.toSeq).toSeq
    val mBatch = GraftOps.pcaFit((all ++ chunk3).toDF("id", "vec"),
        col("vec"), 3, 2)
      .collect().map(_.toSeq).toSeq
    assert(mState == mBatch, "pcaFitFromSummary(state) == batch pcaFit")
    // wrong-dim read fails loudly (layout mismatch, never a wrong model)
    intercept[IllegalArgumentException] {
      GraftOps.pcaFitFromSummary(StreamingOps.gramState(spark, dir), 4, 2)
    }
  }

  test("S32: streaming scoring face — fixed-model stream scores == batch apply over any chunking (ridge/logistic/pca); loop face re-reads the gram log per batch") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.api.GraftOps
    import graft.streaming.StreamingOps
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    // labeled training rows with a planted relation y ≈ 2x₀ − x₁ + 0.25
    val train = IndexedSeq.tabulate(64) { i =>
      val x0 = ((i * 37 % 31) - 15) / 15.0
      val x1 = ((i * 53 % 29) - 14) / 14.0
      (Seq(x0.toFloat, x1.toFloat), 2.0 * x0 - x1 + 0.25)
    }
    val trainDf = train.toDF("vec", "y")
    val ridgeModel = GraftOps.ridgeFit(trainDf, col("vec"), col("y"), 2, 0L)
    val mdir = tmp("graft-s32-model")
    ridgeModel.write.mode("overwrite").parquet(mdir)
    // two arbitrary chunkings of the SAME scoring rows
    val rows1 = Seq((1L, Seq(0.5f, -0.25f)), (2L, Seq(-1.0f, 1.0f)))
    val rows2 = Seq((3L, Seq(0.0f, 0.0f)), (4L, Seq(0.75f, 0.5f)),
      (5L, Seq(-0.3f, -0.6f)))
    val allRows = rows1 ++ rows2
    def runScore(kind: String, modelDir: String,
        chunks: Seq[Seq[(Long, Seq[Float])]]): Map[Long, Seq[Any]] = {
      val out = tmp(s"graft-s32-out-$kind")
      val ck = tmp(s"graft-s32-ck-$kind")
      val in = MemoryStream[(Long, Seq[Float])]
      val q = StreamingOps.scoreStreamSink(in.toDF().toDF("id", "vec"),
        vec = "vec", dim = 2, modelPath = modelDir, modelKind = kind,
        path = out, queryName = s"s32$kind", checkpoint = ck).start()
      try chunks.foreach { c => in.addData(c: _*); q.processAllAvailable() }
      finally q.stop()
      val outCol = if (kind == "pca") "proj" else "score"
      spark.read.parquet(out).select(col("id"), col(outCol)).collect()
        .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    }
    // law: ANY chunking — one batch vs two — is bit-equal to batch apply
    val batchRidge = GraftOps.ridgeApply(allRows.toDF("id", "vec"),
        col("vec"), ridgeModel, 2)
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(2)).toMap
    assert(runScore("ridge", mdir, Seq(rows1, rows2)) == batchRidge,
      "two-chunk ridge stream scores == batch ridgeApply")
    assert(runScore("ridge", mdir, Seq(allRows)) == batchRidge,
      "one-chunk ridge stream scores == batch ridgeApply")
    // logistic face: σ of the same plan (model shape shared)
    val batchLogistic = GraftOps.logisticApply(allRows.toDF("id", "vec"),
        col("vec"), ridgeModel, 2)
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(2)).toMap
    assert(runScore("logistic", mdir, Seq(rows1, rows2)) == batchLogistic,
      "logistic stream scores == batch logisticApply")
    // pca face: k-length centered projection (its own model table)
    val pcaModel = GraftOps.pcaFit(trainDf, col("vec"), 2, 1)
    val pdir = tmp("graft-s32-pca-model")
    pcaModel.write.mode("overwrite").parquet(pdir)
    val batchPca = GraftOps.pcaProject(allRows.toDF("id", "vec"),
        col("vec"), pcaModel, 2)
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(2)).toMap
    assert(runScore("pca", pdir, Seq(rows1, rows2)) == batchPca,
      "pca stream projections == batch pcaProject")
    // unknown model kind fails loudly at sink construction
    val exKind = intercept[IllegalArgumentException] {
      StreamingOps.scoreStreamSink(rows1.toDF("id", "vec").limit(0),
        "vec", 2, mdir, "svm", tmp("s32-bad"), "s32bad", tmp("s32-badck"))
    }
    assert(exKind.getMessage.contains("unknown modelKind"), s"$exKind")
    // -------- loop face: the gram log is re-read ONCE PER BATCH --------
    // gram log seeded with HALF the training rows; the second half is
    // appended BETWEEN scoring batches — batch 0 must score with the
    // half-data model, batch 1 with the full-data model (live refresh,
    // no query restart), each stamped with its state's model_n
    val (trainA, trainB) = train.splitAt(32)
    val glog = tmp("graft-s32-glog")
    def appendSummary(rows: IndexedSeq[(Seq[Float], Double)],
        batchId: Long): Unit =
      GraftOps.gramSummaryRows(rows.toDF("vec", "y"),
          concat(col("vec"), array(col("y").cast("float"))), 3)
        .withColumn("batch_id", lit(batchId))
        .withColumn("sink_query_id", lit("s32-seed"))
        .withColumn("sink_dim", lit(3))
        .write.mode("append").parquet(glog)
    appendSummary(trainA, 0L)
    val out2 = tmp("graft-s32-loop-out")
    val in2 = MemoryStream[(Long, Seq[Float])]
    val q2 = StreamingOps.ridgeScoreStreamSink(in2.toDF().toDF("id", "vec"),
      vec = "vec", dim = 2, gramLog = glog, lambdaPpm = 0L,
      path = out2, queryName = "s32loop",
      checkpoint = tmp("graft-s32-loop-ck")).start()
    try {
      in2.addData(rows1: _*); q2.processAllAvailable()
      appendSummary(trainB, 1L) // training data lands mid-stream
      in2.addData(rows2: _*); q2.processAllAvailable()
    } finally q2.stop()
    val scored = spark.read.parquet(out2)
      .select(col("id"), col("score"), col("batch_id").cast("long"),
        col("model_n"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getDouble(1), r.getLong(2), r.getLong(3))).toMap
    val modelHalf = GraftOps.ridgeFit(trainA.toDF("vec", "y"),
      col("vec"), col("y"), 2, 0L)
    val modelFull = GraftOps.ridgeFit(train.toDF("vec", "y"),
      col("vec"), col("y"), 2, 0L)
    val wantHalf = GraftOps.ridgeApply(rows1.toDF("id", "vec"),
        col("vec"), modelHalf, 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val wantFull = GraftOps.ridgeApply(rows2.toDF("id", "vec"),
        col("vec"), modelFull, 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    rows1.foreach { case (id, _) =>
      val (got, bid, mn) = scored(id)
      assert(got == wantHalf(id) && bid == 0L && mn == 32L,
        s"batch 0 row $id scored by the 32-row state: $got (want ${wantHalf(id)})")
    }
    rows2.foreach { case (id, _) =>
      val (got, bid, mn) = scored(id)
      assert(got == wantFull(id) && bid == 1L && mn == 64L,
        s"batch 1 row $id scored by the refreshed 64-row state: $got (want ${wantFull(id)})")
    }
    // replay cure: each batch owns an OVERWRITE-mode partition dir
    // sink_query_id=<qid>/batch_id=<id>, so an at-least-once replay
    // (possibly against a GROWN gram log) REPLACES its first attempt
    // instead of appending a second, conflicting copy
    val qidDirs = new java.io.File(out2).listFiles()
      .filter(_.getName.startsWith("sink_query_id=")).toSeq
    assert(qidDirs.length == 1 &&
      qidDirs.head.listFiles().map(_.getName).toSet
        .filter(_.startsWith("batch_id=")) == Set("batch_id=0", "batch_id=1"),
      s"per-(query id, batch) overwrite layout: ${qidDirs.map(_.getName)}")
    // simulate the replay: re-score batch 1's rows against the grown
    // log and overwrite its directory the way the sink does — the read
    // still sees exactly ONE copy of each row, scores unchanged
    graft.api.GraftOps.ridgeApply(rows2.toDF("id", "vec"),
        col("vec"), modelFull, 2)
      .withColumn("model_n", lit(64L))
      .write.mode("overwrite")
      .parquet(qidDirs.head.getAbsolutePath + "/batch_id=1")
    val replayed = spark.read.parquet(out2)
      .select(col("id"), col("score"), col("batch_id").cast("long"),
        col("model_n"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getDouble(1), r.getLong(2), r.getLong(3))).toMap
    assert(replayed == scored,
      "a replayed batch REPLACES its first attempt — no duplicate rows")
    // a SECOND checkpoint lifetime on the SAME out path keeps its own
    // sink_query_id directory — lifetimes coexist, batch-0s never clobber
    val in3 = MemoryStream[(Long, Seq[Float])]
    val q3 = StreamingOps.ridgeScoreStreamSink(in3.toDF().toDF("id", "vec"),
      vec = "vec", dim = 2, gramLog = glog, lambdaPpm = 0L,
      path = out2, queryName = "s32loop2",
      checkpoint = tmp("graft-s32-loop-ck2")).start()
    val rows3 = Seq((6L, Seq(1.0f, 1.0f)))
    try { in3.addData(rows3: _*); q3.processAllAvailable() }
    finally q3.stop()
    val after = spark.read.parquet(out2)
    assert(after.select(col("sink_query_id")).distinct().count() == 2L &&
      after.count() == (rows1 ++ rows2 ++ rows3).size.toLong,
      "two checkpoint lifetimes coexist under distinct query-id dirs")
  }

  test("S26: streaming golden-record log — field-wise state == batch goldenRecord over any chunking") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.api.GraftOps
    import graft.streaming.StreamingOps
    // changelog: (key, version, seq, email, phone) — fields go stale
    // and null independently, and versions arrive OUT OF ORDER across
    // chunks so each field's winner comes from a different change
    val chunk1: Seq[(Long, Long, Long, Option[String], Option[String])] = Seq(
      (1L, 5L, 10L, Some("e5"), None),            // email at v5, no phone
      (1L, 3L, 11L, Some("eOLD"), Some("p3")),    // phone's only value
      (2L, 1L, 12L, Some("x1"), Some("y1")))
    val chunk2: Seq[(Long, Long, Long, Option[String], Option[String])] = Seq(
      (1L, 7L, 13L, None, None),                  // newest but all-null:
                                                   //   bumps last_v only
      (2L, 4L, 14L, None, Some("y4")),            // phone newer, email not
      (3L, 2L, 15L, None, None))                  // key with NO field ever
    val allRows = chunk1 ++ chunk2
    val dir = java.nio.file.Files.createTempDirectory("graft-gr").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-gr-ck").toString
    val input = MemoryStream[(Long, Long, Long, Option[String], Option[String])]
    val q = StreamingOps.goldenRecordAppendSink(
      input.toDF().toDF("k", "v", "seq", "email", "phone"),
      key = Seq("k"), version = "v", tiebreak = "seq",
      fields = Seq("email", "phone"), dir, "s26gr", ckpt).start()
    try {
      input.addData(chunk1: _*); q.processAllAvailable()
      input.addData(chunk2: _*); q.processAllAvailable()
    } finally q.stop()
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), Option(r.getString(1)),
        Option(r.getString(2)), r.getLong(3))).toSet
    val got = snap(StreamingOps.goldenRecordState(spark, dir, Seq("k"),
      "v", Seq("email", "phone")))
    // law S26: stream state == batch goldenRecord over the full log
    val want = snap(GraftOps.goldenRecord(
      allRows.toDF("k", "v", "seq", "email", "phone"),
      Seq(col("k")), "v", "seq", Seq("email", "phone")))
    assert(got == want, s"stream $got != batch $want")
    assert(got == Set(
      (1L, Some("e5"), Some("p3"), 7L),  // field-wise winners, last_v 7
      (2L, Some("x1"), Some("y4"), 4L),  // email kept old, phone updated
      (3L, None, None, 2L)),             // all-null key survives with NULLs
      s"field-wise survivorship: $got")
    // at-least-once retry: re-appending a batch's delta is absorbed
    GraftOps.goldenRecordDelta(chunk2.toDF("k", "v", "seq", "email", "phone"),
        Seq("k"), "v", "seq", Seq("email", "phone"))
      .write.mode("append").parquet(dir)
    assert(snap(StreamingOps.goldenRecordState(spark, dir, Seq("k"), "v",
      Seq("email", "phone"))) == got, "retried delta collapses on read")
    // the log carries at most one row per key PER BATCH (the pre-reduce)
    assert(spark.read.parquet(dir).count() == 8L,
      "two batch deltas (2 + 3 keys) plus the retried delta (3 keys)")
  }

  /** Feed two files through `sink` (one per micro-batch), stop, delete the
    * last commit-log entry and restart from the same checkpoint: Spark then
    * re-runs batch 1 through the sink's own write. Returns `snap` taken
    * after the first run and again after the replay. */
  private def replayLastBatch[T](files: Seq[org.apache.spark.sql.DataFrame])(
      sink: (org.apache.spark.sql.DataFrame, String) =>
        org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row])(
      snap: => T): (T, T) = {
    val root = Files.createTempDirectory("graft-replay")
    val src = root.resolve("src"); Files.createDirectory(src)
    val ck = root.resolve("ck").toString
    files.zipWithIndex.foreach { case (df, i) =>
      val tmp = root.resolve(s"tmp-$i").toString
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = src.resolve(f"f-$i%02d.parquet")
      Files.move(part.toPath, dest)
      dest.toFile.setLastModified(1704103200000L + i * 2000L)
    }
    def run(): Seq[Long] = {
      val q = sink(spark.readStream.schema(files.head.schema)
        .option("maxFilesPerTrigger", "1").parquet(src.toString), ck).start()
      try q.processAllAvailable() finally q.stop()
      q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq
    }
    assert(run() == Seq(0L, 1L), "one batch per file")
    val first = snap
    Seq("1", ".1.crc").foreach(f => Files.deleteIfExists(java.nio.file.Paths.get(ck, "commits", f)))
    assert(run() == Seq(1L), "the restart re-runs the uncommitted batch 1")
    (first, snap)
  }

  test("real replay, append posture: a re-run upsert batch re-appends its winners and the read face absorbs them") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-replay-ups").toString
    val files = Seq(
      Seq((1L, 1L, 10L, "u", "a1"), (2L, 5L, 11L, "u", "b1"), (3L, 9L, 13L, "d", "")),
      Seq((1L, 3L, 14L, "u", "a2"), (2L, 2L, 15L, "u", "bOLD"), (4L, 1L, 17L, "u", "d1")))
      .map(_.toDF("k", "v", "seq", "op", "payload"))
    val ((state0, log0), (state1, log1)) = replayLastBatch(files) { (s, ck) =>
      StreamingOps.upsertAppendSink(s, Seq("k"), "v", "seq", dir, "replay_ups", ck)
    } {
      (StreamingOps.upsertState(spark, dir, Seq("k"), "v", "seq", col("op") === "d")
        .collect().map(_.toSeq).toSet, spark.read.parquet(dir).count())
    }
    assert(log1 > log0, s"the replay appended again: $log0 -> $log1 rows")
    assert(state1 == state0, s"replayed upsert state $state1 != $state0")
    assert(state0.map(r => (r(0), r(4))) == Set((1L, "a2"), (2L, "b1"), (4L, "d1")))
  }

  test("real replay, stamped posture: a re-run cms batch collapses with its first attempt") {
    import spark.implicits._
    import graft.api.GraftOps
    val dir = Files.createTempDirectory("graft-replay-cms").toString
    val chunks = Seq(Seq(("g1", "a"), ("g1", "b"), ("g2", "a")),
      Seq(("g1", "c"), ("g2", "a"), ("g1", "a")))
    val ((cells0, log0), (cells1, log1)) =
      replayLastBatch(chunks.map(_.toDF("g", "v"))) { (s, ck) =>
        StreamingOps.cmsAppendSink(s, "v", 3, 8, dir, "replay_cms", ck)
      } {
        (StreamingOps.cmsState(spark, dir).collect().map(_.toSeq).toSet,
          spark.read.parquet(dir).count())
      }
    assert(log1 > log0, s"the replay appended again: $log0 -> $log1 rows")
    assert(cells1 == cells0, "replayed cms state == the run that never replayed")
    assert(cells0 == GraftOps.cmsSketch(chunks.flatten.toDF("g", "v"), col("v"), 3, 8)
      .collect().map(_.toSeq).toSet, "cms state == batch cmsSketch")
  }

  test("real replay, overwrite posture: a re-run score batch replaces its own partition") {
    import spark.implicits._
    import graft.api.GraftOps
    val train = Seq((Seq(1.0f, 0.0f), 2.25), (Seq(0.0f, 1.0f), -0.75),
      (Seq(1.0f, 1.0f), 1.25), (Seq(-1.0f, 0.5f), -2.25)).toDF("vec", "y")
    val mdir = Files.createTempDirectory("graft-replay-model").toString
    GraftOps.ridgeFit(train, col("vec"), col("y"), 2, 0L)
      .write.mode("overwrite").parquet(mdir)
    val dir = Files.createTempDirectory("graft-replay-score").toString
    val files = Seq(Seq((1L, Seq(0.5f, -0.25f)), (2L, Seq(-1.0f, 1.0f))),
      Seq((3L, Seq(0.25f, 0.75f)), (4L, Seq(0.0f, 0.0f)), (5L, Seq(1.0f, 2.0f))))
      .map(_.toDF("id", "vec"))
    def partitions(): Seq[String] = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("sink_query_id=")).toSeq
      .flatMap(q => q.listFiles().filter(_.getName.startsWith("batch_id="))
        .map(b => s"${q.getName}/${b.getName}")).sorted
    val ((parts0, rows0), (parts1, rows1)) = replayLastBatch(files) { (s, ck) =>
      StreamingOps.scoreStreamSink(s, "vec", 2, mdir, "ridge", dir, "replay_score", ck)
    } {
      (partitions(), spark.read.parquet(dir).select("id", "score", "batch_id")
        .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq)
    }
    assert(parts0.size == 2 && parts0.forall(_.startsWith(parts0.head.takeWhile(_ != '/'))),
      s"one query-id level, one partition per batch id: $parts0")
    assert(parts1 == parts0, s"the replay wrote no new partition: $parts1")
    assert(rows1 == rows0 && rows0.map(_.head) == Seq(1L, 2L, 3L, 4L, 5L),
      s"each scored row once after the replay: $rows1")
  }

  test("S22: streaming transition steps aggregate to batch transitionCounts; NULL states; late fails loudly") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.streaming.TransitionStream
    import graft.streaming.TransitionStream.Event
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // mirror the transitionCounts unit fixture: NULL is a REAL state,
    // lone-event keys feed nothing; batch 1 arrives UNORDERED
    val chunk1 = Seq(
      Event(1L, ts("2024-01-01 10:01:00"), 2L, "B"),
      Event(1L, ts("2024-01-01 10:00:00"), 1L, "A"),
      Event(2L, ts("2024-01-01 10:00:00"), 6L, "A"),
      Event(1L, ts("2024-01-01 10:02:00"), 3L, "A"))
    val chunk2 = Seq(
      Event(1L, ts("2024-01-01 10:03:00"), 4L, null),
      Event(1L, ts("2024-01-01 10:04:00"), 5L, "A"),
      Event(2L, ts("2024-01-01 10:01:00"), 7L, "C"),
      Event(3L, ts("2024-01-01 10:00:00"), 8L, "A"))
    val input = MemoryStream[Event]
    val q = TransitionStream(input.toDS())
      .writeStream.format("memory").queryName("s22steps")
      .outputMode("append").start()
    try {
      input.addData(chunk1: _*); q.processAllAvailable()
      input.addData(chunk2: _*); q.processAllAvailable()
    } finally q.stop()
    // law: step events grouped by (from, to) == batch transitionCounts
    val got = spark.table("s22steps")
      .groupBy("from_state", "to_state").count()
      .collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1))) ->
        r.getLong(2)).toMap
    val batch = graft.api.GraftOps.transitionCounts(
        (chunk1 ++ chunk2).toDS().toDF(), col("key"), col("ts"),
        col("state"), col("tb"))
      .collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1))) ->
        r.getLong(2)).toMap
    assert(got == batch, s"stream steps $got != batch counts $batch")
    assert(got((Some("A"), None)) == 1L && got((None, Some("A"))) == 1L,
      "NULL is a real state on the stream too")
    // a cross-batch late point fails the query loudly
    val input2 = MemoryStream[Event]
    val q2 = TransitionStream(input2.toDS())
      .writeStream.format("memory").queryName("s22late")
      .outputMode("append").start()
    try {
      input2.addData(Event(9L, ts("2024-01-01 12:00:00"), 2L, "X"))
      q2.processAllAvailable()
      input2.addData(Event(9L, ts("2024-01-01 11:00:00"), 1L, "Y")) // LATE
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(ex.getMessage.contains("cross-batch order violated") ||
        Option(ex.getCause).exists(_.toString.contains("cross-batch")),
        s"loud order failure: $ex")
    } finally q2.stop()
  }

  test("S28: streaming Holt level+trend BIT-EQUAL to batch over a chunked replay; regression is loud") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.streaming.HoltStream
    import graft.streaming.HoltStream.Point
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // key 1 folds across the batch boundary (the recurrence carries
    // level AND trend over); chunk2's rows arrive intra-batch
    // disordered — the per-batch sort must absorb that
    val chunk1 = Seq(
      Point(1L, ts("2024-03-01 09:00:00"), 1L, 10.0),
      Point(1L, ts("2024-03-01 09:01:00"), 2L, 14.0),
      Point(2L, ts("2024-03-01 09:00:00"), 3L, 5.0))
    val chunk2 = Seq(
      Point(1L, ts("2024-03-01 09:03:00"), 5L, 22.0), // disordered
      Point(1L, ts("2024-03-01 09:02:00"), 4L, 18.0),
      Point(2L, ts("2024-03-01 09:01:00"), 6L, 5.5))
    val input = MemoryStream[Point]
    val q = HoltStream(input.toDS(), alphaPpm = 300000L, betaPpm = 200000L)
      .writeStream.format("memory").queryName("s28holt")
      .outputMode("append").start()
    try {
      input.addData(chunk1: _*); q.processAllAvailable()
      input.addData(chunk2: _*); q.processAllAvailable()
    } finally q.stop()
    // BIT-equality: exact double compare, no tolerance
    val got = spark.table("s28holt").collect()
      .map(r => (r.getLong(0), r.getLong(2)) ->
        (r.getDouble(4), r.getDouble(5))).toMap
    val batch = graft.api.GraftOps.holt((chunk1 ++ chunk2).toDF(),
        col("key"), col("ts"), col("value"), col("tb"),
        alphaPpm = 300000L, betaPpm = 200000L)
      .collect().map(r => (r.getLong(0), r.getLong(2)) ->
        (r.getDouble(4), r.getDouble(5))).toMap
    assert(got == batch, s"stream $got != batch $batch")
    assert(got.size == 6)
    // level + trend really tracks a drifting series: the planted key-1
    // ramp (+4/min) pulls the trend positive
    assert(got((1L, 5L))._2 > 0.5, s"trend learns the ramp: ${got((1L, 5L))}")
    // a replayed point at the already-folded position fails loudly
    val input2 = MemoryStream[Point]
    val q2 = HoltStream(input2.toDS(), 300000L, 200000L)
      .writeStream.format("memory").queryName("s28late")
      .outputMode("append").start()
    try {
      input2.addData(Point(9L, ts("2024-03-10 09:00:00"), 50L, 1.0))
      q2.processAllAvailable()
      input2.addData(Point(9L, ts("2024-03-10 09:00:00"), 50L, 1.0))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(ex.getMessage.contains("cross-batch order violated") ||
        Option(ex.getCause).exists(_.toString.contains("cross-batch order")),
        s"loud replay failure: $ex")
    } finally q2.stop()
  }

  test("S27: streaming frequency-cap admitted set == batch over any in-order chunking; regression is loud") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.streaming.FrequencyCapStream
    import graft.streaming.FrequencyCapStream.Ev
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // k = 2. Key 1 straddles the cap across the batch boundary (one
    // admitted in chunk1, one in chunk2, the rest dropped); key 2 fills
    // the cap inside chunk1 (chunk2 arrivals all dropped); key 3 never
    // reaches it. chunk2's key-1 rows arrive INTRA-BATCH disordered —
    // the per-batch sort must absorb that.
    val chunk1 = Seq(
      Ev(1L, ts("2024-03-01 09:00:00"), 10L),
      Ev(2L, ts("2024-03-01 09:05:00"), 11L),
      Ev(2L, ts("2024-03-01 09:06:00"), 12L))
    val chunk2 = Seq(
      Ev(1L, ts("2024-03-01 10:30:00"), 21L), // disordered within batch
      Ev(1L, ts("2024-03-01 10:00:00"), 20L),
      Ev(1L, ts("2024-03-01 11:00:00"), 22L),
      Ev(2L, ts("2024-03-01 10:00:00"), 23L),
      Ev(3L, ts("2024-03-01 10:00:00"), 24L))
    val input = MemoryStream[Ev]
    val q = FrequencyCapStream(input.toDS(), k = 2)
      .writeStream.format("memory").queryName("s27cap")
      .outputMode("append").start()
    try {
      input.addData(chunk1: _*); q.processAllAvailable()
      input.addData(chunk2: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("s27cap")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // law S27: admitted set == batch frequencyCap over the same events
    val events = (chunk1 ++ chunk2).toDF()
    val want = graft.api.GraftOps.frequencyCap(events, col("key"),
        col("ts"), col("tiebreak"), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(got == want &&
      got == Set((1L, 10L), (1L, 20L), (2L, 11L), (2L, 12L), (3L, 24L)),
      s"stream admitted $got != batch $want")
    // a cross-batch regression (event at or before the key's newest
    // seen (ts, tiebreak)) fails loudly — the counter cannot re-order
    val input2 = MemoryStream[Ev]
    val q2 = FrequencyCapStream(input2.toDS(), k = 2)
      .writeStream.format("memory").queryName("s27late")
      .outputMode("append").start()
    try {
      input2.addData(Ev(9L, ts("2024-03-10 09:00:00"), 50L))
      q2.processAllAvailable()
      input2.addData(Ev(9L, ts("2024-03-09 09:00:00"), 51L)) // behind
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(ex.getMessage.contains("not after the newest seen") ||
        Option(ex.getCause).exists(_.toString.contains("not after the newest")),
        s"loud regression failure: $ex")
    } finally q2.stop()
  }

  test("S24: streaming rolling-distinct contributions == batch; cross-batch dedup; bounded lateness is loud") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.streaming.RollingDistinctStream
    import graft.streaming.RollingDistinctStream.Visit
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // windowDays = 3, lateDays = 2. Entity 1 revisits day 1 across the
    // batch boundary (must emit nothing) and adds day 2 late-but-within
    // bound; entity 2 visits two days.
    val chunk1 = Seq(
      Visit(1L, ts("2024-03-01 09:00:00")),
      Visit(1L, ts("2024-03-01 17:30:00")),   // same-day duplicate
      Visit(2L, ts("2024-03-01 12:00:00")))
    val chunk2 = Seq(
      Visit(1L, ts("2024-03-01 23:00:00")),   // cross-batch revisit
      Visit(1L, ts("2024-03-03 08:00:00")),
      Visit(1L, ts("2024-03-02 10:00:00")),
      Visit(2L, ts("2024-03-04 11:00:00")))
    // a genuinely CROSS-BATCH late (but within lateDays) NEW day:
    // entity 2's newest is Mar 4, Mar 3 is 1 day behind — admissible
    val chunk3 = Seq(Visit(2L, ts("2024-03-03 06:00:00")))
    val input = MemoryStream[Visit]
    val q = RollingDistinctStream(input.toDS(), windowDays = 3,
        lateDays = 2)
      .writeStream.format("memory").queryName("s24roll")
      .outputMode("append").start()
    try {
      input.addData(chunk1: _*); q.processAllAvailable()
      input.addData(chunk2: _*); q.processAllAvailable()
      input.addData(chunk3: _*); q.processAllAvailable()
    } finally q.stop()
    val contrib = spark.table("s24roll")
    // emitted rows are the DISTINCT (entity, target) pairs: entity 1
    // covers targets Mar1..Mar5 (5), entity 2 Mar1..Mar3 + Mar4..Mar6
    // (6) — overlapping visit ranges announce each target ONCE
    assert(contrib.count() == 11, s"contributions: ${contrib.count()}")
    // law S24: counting contributions on OBSERVED days == the batch
    // operator over the same visits
    val visits = (chunk1 ++ chunk2 ++ chunk3).toDF()
    val want = graft.api.GraftOps.rollingDistinct(visits, col("entity"),
        col("ts"), windowDays = 3)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val days = visits.select(to_date(col("ts")).as("day")).distinct()
    val got = contrib.join(days,
        contrib("target_day") === days("day"), "left_semi")
      .groupBy(col("target_day")).agg(count(lit(1)).as("active"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(got == want, s"stream-agg $got != batch $want")
    // a visit more than lateDays behind the entity's newest day fails
    // loudly — its dedup record may already be pruned
    val input2 = MemoryStream[Visit]
    val q2 = RollingDistinctStream(input2.toDS(), 3, 2)
      .writeStream.format("memory").queryName("s24late")
      .outputMode("append").start()
    try {
      input2.addData(Visit(9L, ts("2024-03-10 09:00:00")))
      q2.processAllAvailable()
      input2.addData(Visit(9L, ts("2024-03-07 09:00:00"))) // 3 days behind
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(ex.getMessage.contains("behind the newest day") ||
        Option(ex.getCause).exists(_.toString.contains("behind the newest")),
        s"loud lateness failure: $ex")
    } finally q2.stop()
  }

  test("S23: streaming CUSUM == batch cusum; restart crosses batches; late point fails loudly") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.streaming.CusumStream
    import graft.streaming.CusumStream.Point
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // target 10, slack 2, threshold 15 — the batch spec's numbers; key 1
    // alarms inside batch 1 and its RESTART happens in batch 2 (the
    // cross-batch state carry), key 2 alarms on its very first point.
    // Batch-1 rows deliberately unordered within the batch.
    val chunk1 = Seq(
      Point(1L, ts("2024-01-01 10:01:00"), 2L, 20L),
      Point(1L, ts("2024-01-01 10:00:00"), 1L, 20L),
      Point(2L, ts("2024-01-01 10:00:00"), 1L, 30L))
    val chunk2 = Seq(
      Point(1L, ts("2024-01-01 10:02:00"), 3L, 5L),
      Point(1L, ts("2024-01-01 10:03:00"), 4L, 1L),
      Point(2L, ts("2024-01-01 10:05:00"), 2L, 9L))
    val input = MemoryStream[Point]
    val q = CusumStream(input.toDS(), target = 10L, slack = 2L,
        threshold = 15L)
      .writeStream.format("memory").queryName("s23cusum")
      .outputMode("append").start()
    try {
      input.addData(chunk1: _*); q.processAllAvailable()
      input.addData(chunk2: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("s23cusum").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(4), r.getLong(5),
        r.getBoolean(6))).toSet
    // law: equal cell-for-cell to the batch operator (exact integers)
    val want = graft.api.GraftOps.cusum(
        (chunk1 ++ chunk2).toDS().toDF(), col("key"), col("ts"),
        col("value"), col("tb"), 10L, 2L, 15L)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(4),
        r.getLong(5), r.getBoolean(6))).toSet
    assert(got == want, s"stream $got != batch $want")
    // the alarm fired in batch 1, the restart is visible in batch 2
    assert(got.contains((1L, 2L, 16L, 0L, true)), "key1 alarms at step 2")
    assert(got.contains((1L, 3L, 0L, 3L, false)),
      "key1 restarts from 0 across the batch boundary")
    assert(got.contains((2L, 1L, 18L, 0L, true)),
      "key2 alarms on its first point")
    assert(got.contains((2L, 2L, 0L, 0L, false)),
      "key2 restarts across the batch boundary")
    // a cross-batch late point fails the query loudly, never silently
    val input2 = MemoryStream[Point]
    val q2 = CusumStream(input2.toDS(), 10L, 2L, 15L)
      .writeStream.format("memory").queryName("s23late")
      .outputMode("append").start()
    try {
      input2.addData(Point(9L, ts("2024-01-01 12:00:00"), 2L, 1L))
      q2.processAllAvailable()
      input2.addData(Point(9L, ts("2024-01-01 11:00:00"), 1L, 1L)) // LATE
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(ex.getMessage.contains("cross-batch order violated") ||
        Option(ex.getCause).exists(_.toString.contains("cross-batch")),
        s"loud order failure: $ex")
    } finally q2.stop()
  }

  test("S21: streaming EWMA == batch ewma bit-equal; cross-batch late point fails loudly") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.streaming.EwmaStream
    import graft.streaming.EwmaStream.Point
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // two keys; batch 1 rows deliberately UNORDERED within the batch
    val chunk1 = Seq(
      Point(1L, ts("2024-01-01 10:02:00"), 3L, 40.0),
      Point(1L, ts("2024-01-01 10:00:00"), 1L, 10.0),
      Point(1L, ts("2024-01-01 10:01:00"), 2L, 20.0),
      Point(2L, ts("2024-01-01 10:00:00"), 4L, 7.5))
    val chunk2 = Seq(
      Point(1L, ts("2024-01-01 10:03:00"), 5L, 80.0),
      Point(2L, ts("2024-01-01 10:05:00"), 6L, 2.5))
    val input = MemoryStream[Point]
    val q = EwmaStream(input.toDS(), alphaPpm = 300000L)
      .writeStream.format("memory").queryName("s21ewma")
      .outputMode("append").start()
    try {
      input.addData(chunk1: _*); q.processAllAvailable()
      input.addData(chunk2: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("s21ewma").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(4))).toSet
    // law: BIT-equal to the batch operator over the same points
    val want = graft.api.GraftOps.ewma(
        (chunk1 ++ chunk2).toDS().toDF(), col("key"), col("ts"),
        col("value"), col("tb"), 300000L)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(4))).toSet
    assert(got == want, s"stream $got != batch $want")
    assert(got.size == 6 && got.exists(r => r._1 == 1L && r._2 == 1L &&
      r._3 == 10.0), "first point passes through as its own value")
    // a cross-batch late point fails the query loudly, never silently
    val input2 = MemoryStream[Point]
    val q2 = EwmaStream(input2.toDS(), 300000L)
      .writeStream.format("memory").queryName("s21late")
      .outputMode("append").start()
    try {
      input2.addData(Point(9L, ts("2024-01-01 12:00:00"), 2L, 1.0))
      q2.processAllAvailable()
      input2.addData(Point(9L, ts("2024-01-01 11:00:00"), 1L, 1.0)) // LATE
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(ex.getMessage.contains("cross-batch order violated") ||
        Option(ex.getCause).exists(_.toString.contains("cross-batch")),
        s"loud order failure: $ex")
    } finally q2.stop()
  }
}

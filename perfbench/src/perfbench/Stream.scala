package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.Instant
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryProgress}
import org.apache.spark.sql.types._
import graft.api.GraftOps
import graft.streaming.{Sessionize, SessionizeTws, StreamingOps}

/** Sizes of the stream workload; run.py derives them from `--seconds`. */
final case class StreamParams(rowsPerFile: Int, backlogFiles: Int,
    openFiles: Int, intervalMs: Int, users: Int)

/** The `stream_events` workload: a seeded event stream fed through four
  * shapes, one after another. Each shape first drains a pre-staged backlog,
  * then consumes files that a generator thread writes on a fixed schedule
  * (an open loop: the schedule does not wait for the engine). One file per
  * trigger, so every micro-batch commits exactly one input file.
  *
  * Event time advances one minute per file. 20% of events arrive up to
  * `LagMs` late, which is within the window watermark; the generator never
  * puts two consecutive events of a user between `GapMs - LagMs` and
  * `GapMs` apart. Under those two rules the streamed output equals the
  * batch twin exactly, whatever the micro-batching. */
object Stream {
  val Shapes: Seq[String] = Seq("s1_parse", "s2_window", "s5_stateful", "s20_upsert")
  val FileSpanMs = 60000L
  val LagMs = 120000L
  val GapMs = 300000L
  val Window = "5 minutes"
  val T0Ms: Long = Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
  val Types = Array("click", "view", "purchase", "signup", "error")
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** The JSON lines of every file, generated up front. User ids are
    * Zipf(1.1)-skewed. */
  def generate(seed: Long, files: Int, p: StreamParams): Array[Array[String]] = {
    val rnd = new java.util.SplittableRandom(seed)
    val cdf = {
      val w = (1 to p.users).map(r => 1.0 / math.pow(r, 1.1)).scanLeft(0.0)(_ + _).tail
      w.map(_ / w.last).toArray
    }
    def zipf(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, p.users - 1)
    }
    val seen = Array.fill(p.users)(new java.util.TreeSet[java.lang.Long]())
    def ambiguous(d: Long): Boolean = d > GapMs - LagMs && d <= GapMs
    def fits(u: Int, ts: Long): Boolean = {
      val s = seen(u)
      val lo = s.floor(ts); val hi = s.ceiling(ts)
      (lo == null || !ambiguous(ts - lo)) && (hi == null || !ambiguous(hi - ts))
    }
    var id = 0L
    Array.tabulate(files) { k =>
      Array.tabulate(p.rowsPerFile) { j =>
        val arrival = T0Ms + k * FileSpanMs + j * FileSpanMs / p.rowsPerFile
        val ts = if (rnd.nextInt(5) == 0) arrival - rnd.nextLong(LagMs) else arrival
        var u = zipf()
        while (!fits(u, ts)) u = rnd.nextInt(p.users)
        seen(u).add(ts)
        id += 1
        val cents = 1 + rnd.nextInt(49000)
        f"""{"event_id":$id,"ts":"${Instant.ofEpochMilli(ts)}","user_id":$u,""" +
          f""""event_type":"${Types(rnd.nextInt(Types.length))}","value":${cents / 100}.${cents % 100}%02d}"""
      }
    }
  }

  /** Writes file `k` atomically: written beside the watched directory,
    * then renamed into it. */
  def writeFile(dir: Path, k: Int, lines: Array[String]): Path = {
    val tmp = dir.resolveSibling(dir.getFileName.toString + ".tmp")
    Files.createDirectories(tmp)
    val f = Files.write(tmp.resolve(f"f$k%05d.json"),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(f, dir.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Stages the backlog: files 0 until `n`, with mtimes one second apart
    * in the past, so the file source takes them in order. */
  def stage(dir: Path, files: Array[Array[String]], n: Int): Unit = {
    Files.createDirectories(dir)
    val base = System.currentTimeMillis() - (n + 1) * 1000L
    (0 until n).foreach { k =>
      writeFile(dir, k, files(k)).toFile.setLastModified(base + k * 1000L)
    }
  }

  def parsed(df: DataFrame): DataFrame = StreamingOps.parseKafkaJson(df, schema)

  private def rocksDb(spark: SparkSession, on: Boolean): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    if (on) spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    else spark.conf.unset(key)
  }

  /** The operators of a memory-sink shape: the same on the stream and on
    * its batch twin. */
  private def shaped(shape: String, events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    shape match {
      case "s1_parse" => StreamingOps.toKafkaJson(StreamingOps.addField(
        events, "is_purchase", col("event_type") === "purchase"))
      case "s2_window" => StreamingOps.tumblingAgg(events, "ts", Window, Window,
        col("event_type"))
      case "s5_stateful" => SessionizeTws(events
        .select(col("user_id"), col("ts"), col("value")).as[Sessionize.Event],
        GapMs).toDF()
    }
  }

  /** The writer of one shape over the text-file stream in `in`. */
  def writer(spark: SparkSession, shape: String, in: Path, name: String,
      work: Path): DataStreamWriter[Row] = {
    val events = parsed(spark.readStream.option("maxFilesPerTrigger", "1")
      .text(in.toString))
    val ckpt = work.resolve("ckpt").toString
    if (shape == "s20_upsert") StreamingOps.upsertAppendSink(events, Seq("user_id"),
      "ts", "event_id", work.resolve("log").toString, name, ckpt)
    else shaped(shape, events).writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", ckpt)
  }

  /** Does the stream's final output equal its batch twin over `in`? */
  def twinMatches(spark: SparkSession, shape: String, in: Path, name: String,
      work: Path, last: StreamingQueryProgress): Boolean = {
    val all = parsed(spark.read.text(in.toString))
    val (got, want) = shape match {
      case "s2_window" =>
        // append mode emits a window once the watermark passes its end
        val wm = Option(last.eventTime.get("watermark")).map(Instant.parse)
          .getOrElse(Instant.EPOCH)
        def cents(df: DataFrame) = df.withColumn("sum_value",
          round(col("sum_value") * 100).cast("long"))
        (cents(spark.table(name)), cents(shaped(shape, all)
          .filter(col("window_end") <= lit(java.sql.Timestamp.from(wm)))))
      case "s20_upsert" => (StreamingOps.upsertState(spark,
        work.resolve("log").toString, Seq("user_id"), "ts", "event_id", lit(false)),
        GraftOps.latestByKey(all, Seq(col("user_id")), col("ts"), col("event_id")))
      case _ => (spark.table(name), shaped(shape, all))
    }
    val w = want.select(got.columns.map(col): _*)
    got.count() > 0 && got.exceptAll(w).isEmpty && w.exceptAll(got).isEmpty
  }

  private def epochMs(p: StreamingQueryProgress): Double =
    Instant.parse(p.timestamp).toEpochMilli.toDouble

  private def endMs(p: StreamingQueryProgress): Double =
    epochMs(p) + p.durationMs.get("triggerExecution").toDouble

  /** Runs one shape over `work/in`, where the backlog is staged: drain,
    * then open loop. Returns its record. */
  def runShape(spark: SparkSession, shape: String, files: Array[Array[String]],
      p: StreamParams, work: Path, name: String, tracer: Tracer, parent: Long,
      check: Boolean): Map[String, Any] = {
    val in = work.resolve("in")
    System.gc() // the previous shape's garbage is not this shape's cost
    rocksDb(spark, shape == "s5_stateful")
    val scheduled = mutable.ArrayBuffer.empty[Double]
    val written = mutable.ArrayBuffer.empty[Double]
    var startMs = 0.0
    var drainCpuMs = 0.0 // the JVM's, all threads, from start to drained
    var shapeId = parent
    val q = tracer.span("shape", shape, parent) { id =>
      shapeId = id
      val w = writer(spark, shape, in, name, work)
      startMs = tracer.epochMs(System.nanoTime())
      val c0 = Main.cpuMs()
      val q = w.start()
      q.processAllAvailable()
      drainCpuMs = Main.cpuMs() - c0
      val gen = new Thread(() => {
        val t0 = System.nanoTime() + 20000000L
        (0 until p.openFiles).foreach { i =>
          val due = t0 + i * p.intervalMs * 1000000L
          val wait = due - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          writeFile(in, p.backlogFiles + i, files(p.backlogFiles + i))
          scheduled += tracer.epochMs(due)
          written += tracer.epochMs(System.nanoTime())
        }
      }, "perfbench-generator")
      gen.start()
      gen.join()
      q.processAllAvailable()
      q.stop()
      q
    }
    rocksDb(spark, on = false)
    val progress = q.recentProgress.toSeq.sortBy(_.batchId)
    val data = progress.filter(_.numInputRows > 0)
    val nFiles = p.backlogFiles + p.openFiles
    require(data.size == nFiles && data.forall(_.numInputRows == p.rowsPerFile),
      s"$shape: expected $nFiles batches of ${p.rowsPerFile} rows, got " +
        data.map(_.numInputRows).mkString(","))
    // Drain time: wall time from the start of the backlog's second batch
    // (the first also carries the query's start) to the end of its last.
    val drainMs = endMs(data(p.backlogFiles - 1)) - epochMs(data(1))
    val open = data.drop(p.backlogFiles)
    val latencies = open.zip(scheduled).map { case (b, due) => endMs(b) - due }
    val backlog = open.zipWithIndex.map { case (b, i) =>
      written.count(_ <= epochMs(b)) - i
    }
    val states = progress.flatMap(_.stateOperators)
    System.err.println(f"[perfbench] $name drain ${drainMs / 1e3}%.2f s, latency ms " +
      latencies.map(l => f"$l%.0f").mkString(" "))
    if (tracer.enabled) progress.foreach { b =>
      val d = b.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      val ops = b.stateOperators
      val bid = tracer.record(0L, "batch", s"$shape.${b.batchId}", shapeId, epochMs(b),
        d.getOrElse("triggerExecution", 0.0), Map("shape" -> shape,
          "rows" -> b.numInputRows,
          "state_rows_updated" -> ops.map(_.numRowsUpdated).sum,
          "state_commit_ms" -> ops.map(_.commitTimeMs).sum) ++
          d.map { case (k, v) => s"phase.$k" -> v })
      d.filter(_._1 != "triggerExecution").foreach { case (k, v) =>
        tracer.record(0L, "phase", k, bid, epochMs(b), v, Map.empty)
      }
    }
    val last = progress.last
    Map("shape" -> shape, "drain_ms" -> drainMs, "drain_cpu_ms" -> drainCpuMs,
      "drain_rows" -> (p.backlogFiles - 1L) * p.rowsPerFile,
      "first_batch_ms" -> (endMs(data.head) - startMs),
      "batch_ms" -> data.map(_.durationMs.get("triggerExecution").toDouble),
      "latencies_ms" -> latencies,
      "late_ms_max" -> written.zip(scheduled).map { case (w, s) => w - s }.max,
      "backlog_max_files" -> (0 +: backlog).max,
      "state_rows_total" -> last.stateOperators.map(_.numRowsTotal).sum,
      "state_memory_bytes" -> last.stateOperators.map(_.memoryUsedBytes).sum,
      "dropped_by_watermark" -> states.map(_.numRowsDroppedByWatermark).sum,
      "ok" -> (!check || (states.forall(_.numRowsDroppedByWatermark == 0) &&
        twinMatches(spark, shape, in, name, work, last))))
  }

  /** Runs every shape, all at the same time and untimed, over the first
    * three files: loads the state stores, codegen and sink paths, and lets
    * the JIT compile the per-batch path, before anything is timed. */
  def warm(spark: SparkSession, files: Array[Array[String]], work: Path): Unit = {
    val small = files.take(3)
    Shapes.map { s =>
      val in = work.resolve(s"$s/in")
      stage(in, small, small.length)
      rocksDb(spark, s == "s5_stateful")
      try writer(spark, s, in, s"warm_$s", work.resolve(s)).start()
      finally rocksDb(spark, on = false)
    }.foreach { q => q.processAllAvailable(); q.stop() }
  }
}

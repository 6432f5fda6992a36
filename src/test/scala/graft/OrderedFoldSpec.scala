package graft

import java.io.File
import java.nio.file.Files
import java.sql.Timestamp
import scala.reflect.io.Directory
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite
import graft.api.GraftOps
import graft.streaming._

/** Restart equivalence for the five ordered per-key twins (the
  * [[graft.streaming.OrderedFold]] shapes S21, S22, S23, S27, S28): k
  * micro-batches through a file source and an exactly-once parquet sink,
  * stop, restart from the SAME checkpoint, feed the rest. The union of
  * what both runs emitted must equal a run that never stopped and the
  * batch twin over every point. A later batch that replays the last
  * folded (ts, tiebreak) position must then fail the restarted query
  * loudly. */
class OrderedFoldSpec extends AnyFunSuite with SharedSpark {

  /** One twin: its stream face over the shared (key, ts, tb, v) input,
    * the comparable view of its emitted rows, and the same view from its
    * batch operator. */
  private case class Twin(name: String, op: String,
      stream: DataFrame => DataFrame, emitted: DataFrame => DataFrame,
      batch: DataFrame => DataFrame)

  private val twins: Seq[Twin] = {
    def pts(in: DataFrame, value: String) = in.select(col("key"), col("ts"),
      col("tb"), col("v").cast(value).as("value"))
    val state = when(col("v") % 7 =!= 0, concat(lit("S"), col("v") % 3))
    Seq(
      Twin("S21 ewma", "EwmaStream",
        in => EwmaStream(pts(in, "double")
          .as(Encoders.product[EwmaStream.Point]), 300000L).toDF(),
        _.select("key", "tb", "ewma"),
        in => GraftOps.ewma(in, col("key"), col("ts"), col("v"), col("tb"),
          300000L).select("key", "tiebreak", "ewma")),
      Twin("S22 transition", "TransitionStream",
        in => TransitionStream(in.select(col("key"), col("ts"), col("tb"),
            state.as("state")).as(Encoders.product[TransitionStream.Event]))
          .toDF(),
        _.groupBy("from_state", "to_state").count(),
        in => GraftOps.transitionCounts(in, col("key"), col("ts"), state,
          col("tb")).select("from_state", "to_state", "n")),
      Twin("S23 cusum", "CusumStream",
        in => CusumStream(pts(in, "long")
          .as(Encoders.product[CusumStream.Point]), 10L, 2L, 15L).toDF(),
        _.select("key", "tb", "sPos", "sNeg", "alarm"),
        in => GraftOps.cusum(in, col("key"), col("ts"), col("v"), col("tb"),
          10L, 2L, 15L).select("key", "tiebreak", "s_pos", "s_neg", "alarm")),
      // k = 5 with two points per key per batch: the cap is reached in
      // the first batch after the restart, so a lost counter shows
      Twin("S27 frequency cap", "FrequencyCapStream",
        in => FrequencyCapStream(in.select(col("key"), col("ts"),
            col("tb").as("tiebreak"))
          .as(Encoders.product[FrequencyCapStream.Ev]), 5).toDF(),
        _.select("key", "tiebreak"),
        in => GraftOps.frequencyCap(in, col("key"), col("ts"), col("tb"), 5)
          .select("key", "tb")),
      Twin("S28 holt", "HoltStream",
        in => HoltStream(pts(in, "double")
          .as(Encoders.product[HoltStream.Point]), 300000L, 200000L).toDF(),
        _.select("key", "tb", "level", "trend"),
        in => GraftOps.holt(in, col("key"), col("ts"), col("v"), col("tb"),
          300000L, 200000L).select("key", "tiebreak", "level", "trend")))
  }

  /** 24 points over 3 keys in global (ts, tb) order, cut into 4 batches
    * of 6 (two points per key each); each batch is written in REVERSE
    * so the within-batch sort has work to do. */
  private val points: Seq[(Long, Timestamp, Long, Long)] =
    (0 until 24).map { i =>
      (1L + i % 3, new Timestamp(1704103200000L + i * 60000L), 100L + i,
        (i * 37L) % 29)
    }
  private val batches = points.grouped(6).map(_.reverse).toSeq

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("(", ",", ")")).toSeq.sorted

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).mkString(" | ")

  twins.foreach { twin =>
    test(s"${twin.name}: restart from the checkpoint == uninterrupted == " +
        "batch; a replayed last position fails loudly") {
      val s = spark
      import s.implicits._
      val dir = Files.createTempDirectory("graft-ordered").toFile
      val src = new File(dir, "src"); src.mkdirs()
      val t0 = System.currentTimeMillis()
      var nFiles = 0
      // one parquet file per batch, with increasing mtimes so the file
      // source (maxFilesPerTrigger = 1) replays them in order
      def feed(batch: Seq[(Long, Timestamp, Long, Long)]): Unit = {
        val tmp = new File(dir, s"tmp-$nFiles")
        batch.toDF("key", "ts", "tb", "v").coalesce(1).write
          .parquet(tmp.getAbsolutePath)
        val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
        val dest = new File(src, f"batch-$nFiles%03d.parquet")
        Files.move(part.toPath, dest.toPath)
        dest.setLastModified(t0 + nFiles * 2000L)
        nFiles += 1
      }
      val schema = batches.head.toDF("key", "ts", "tb", "v").schema
      def start(tag: String) = twin.stream(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(src.getAbsolutePath))
        .writeStream.format("parquet").outputMode("append")
        .option("path", new File(dir, s"$tag-out").getAbsolutePath)
        .option("checkpointLocation",
          new File(dir, s"$tag-ckpt").getAbsolutePath)
        .start()
      def out(tag: String) =
        spark.read.parquet(new File(dir, s"$tag-out").getAbsolutePath)

      try {
        batches.take(2).foreach(feed)
        val q1 = start("restart")
        try q1.processAllAvailable() finally q1.stop()
        batches.drop(2).foreach(feed)
        val q2 = start("restart")
        try {
          q2.processAllAvailable()
          val once = start("once")
          try once.processAllAvailable() finally once.stop()
          val restarted = rows(out("restart"))
          assert(restarted.nonEmpty)
          assert(restarted == rows(out("once")),
            "restart from the checkpoint == a run that never stopped")
          assert(rows(twin.emitted(out("restart"))) ==
            rows(twin.batch(points.toDF("key", "ts", "tb", "v"))),
            "restart from the checkpoint == the batch twin")
          // the key-1 point at the last folded position, replayed
          feed(Seq(points.filter(_._1 == 1L).last))
          val msg = messages(intercept[StreamingQueryException] {
            q2.processAllAvailable()
          })
          assert(msg.contains(twin.op) &&
            msg.contains("cross-batch order violated") &&
            msg.contains("not after the newest seen"),
            s"loud replay failure: $msg")
        } finally q2.stop()
      } finally new Directory(dir).deleteRecursively()
    }
  }
}

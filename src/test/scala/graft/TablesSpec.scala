package graft

import java.nio.file.Files
import scala.reflect.io.Directory
import scala.util.{Failure, Success, Try}
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.JobsBridge
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.parquet` reads a table's schema from its footer on the calling thread:
  * the frame equals `spark.read.parquet`'s, and building it fires no job. */
class TablesSpec extends AnyFunSuite with SharedSpark {

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
  private val MergeSchema = "spark.sql.parquet.mergeSchema"

  private def jobs(group: String)(body: => Any): Int =
    JobsBridge.counted(spark.sparkContext, group)(body)._2

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Same schema, or the same error class and condition, as Spark's own
    * inference. */
  private def assertSameAsSpark(path: String): Unit =
    (Try(Tables.parquet(spark, path)), Try(spark.read.parquet(path))) match {
      case (Success(got), Success(want)) => assert(got.schema == want.schema, path)
      case (Failure(got), Failure(want)) =>
        assert(got.getClass == want.getClass, path)
        def condition(t: Throwable) = t match {
          case s: SparkThrowable => Option(s.getCondition)
          case _ => None
        }
        assert(condition(got) == condition(want), path)
      case (got, want) => fail(s"$path: Tables.parquet gave $got, spark.read.parquet gave $want")
    }

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.exceptAll(want).isEmpty)
    assert(want.exceptAll(got).isEmpty)
  }

  test("every table reads with Spark's own schema, with and without nanosAsLong") {
    for (nanos <- Seq("true", "false")) withConf(NanosAsLong, nanos) {
      Tables.names.foreach { n =>
        val path = s"$sf001/$n.parquet"
        assertSameAsSpark(path)
        if (n != "events")
          assert(Tables.load(spark, sf001, n).schema == spark.read.parquet(path).schema, n)
      }
    }
    Seq("events", "documents").foreach { n =>
      val path = s"$sf001/$n.parquet"
      assertSameRows(Tables.parquet(spark, path), spark.read.parquet(path))
    }
  }

  test("Tables.load fires no job") {
    Tables.names.foreach { n =>
      assert(jobs(s"tables-load-$n")(Tables.load(spark, sf001, n)) == 0, n)
    }
  }

  test("merged, partitioned, missing and empty paths fall back to Spark's inference") {
    val root = Files.createTempDirectory("graft-tables").toFile
    try {
      import spark.implicits._
      val merged = s"$root/merged"
      Seq((1L, "a")).toDF("id", "x").write.parquet(merged)
      Seq((2L, 3.0)).toDF("id", "y").write.mode("append").parquet(merged)
      assertSameAsSpark(merged)
      withConf(MergeSchema, "true") {
        assertSameAsSpark(merged)
        assert(Tables.parquet(spark, merged).columns.toSet == Set("id", "x", "y"))
      }
      val partitioned = s"$root/partitioned"
      Seq((1L, "a"), (2L, "b")).toDF("id", "p").write.partitionBy("p").parquet(partitioned)
      assertSameAsSpark(partitioned)
      assertSameRows(Tables.parquet(spark, partitioned), spark.read.parquet(partitioned))
      assertSameAsSpark(s"$root/missing")
      val empty = new java.io.File(root, "empty")
      empty.mkdirs()
      assertSameAsSpark(empty.getPath)
      assert(Try(Tables.parquet(spark, empty.getPath)).failed.get
        .asInstanceOf[SparkThrowable].getCondition == "UNABLE_TO_INFER_SCHEMA")
    } finally new Directory(root).deleteRecursively()
  }

  test("lazy-build guard: relational queries build without a job, q112 with its three") {
    Seq("q01_pricing_summary", "q03_topk_orders").foreach { n =>
      assert(jobs(s"build-$n")(SparkEntry.queries(n)(spark, sf001)) == 0, n)
    }
    assert(jobs("build-q112")(SparkEntry.queries("q112_bm25_topk")(spark, sf001)) == 3)
  }

  test("ANN build jobs per call: each model is collected once") {
    // seed collects, fit rounds and one collect per model; a model the
    // inline top-k collected twice would re-run its last training round
    Seq("q48_kmeans_train" -> 4, "q50_ann_pq" -> 4, "q52_ann_ivf_pq" -> 8,
        "q71_ann_sq8" -> 2, "q84_ann_residual_pq" -> 11).foreach { case (n, want) =>
      assert(jobs(s"build-$n")(SparkEntry.queries(n)(spark, sf001)) == want, n)
    }
  }
}

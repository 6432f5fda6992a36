package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchemaBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Catalog of the TESTDATA tables (TESTDATA.md).
  *
  * One quirk: `events.parquet` stores `ts` as parquet TIMESTAMP(NANOS), which
  * Spark's type system doesn't have. With
  * `spark.sql.legacy.parquet.nanosAsLong=true` the column arrives as a raw
  * nanosecond count; we convert to a microsecond timestamp exactly the way
  * DuckDB does when it reads the same file: integer division truncating
  * toward zero (`div`, long division — NOT `/`, which is double division in
  * Spark and rounds at ~1.7e18 magnitudes).
  *
  * Every table is read through [[parquet]], which builds the DataFrame
  * without firing a Spark job.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Ensure the session can read TIMESTAMP(NANOS) parquet. Runtime-settable. */
  private def ensureNanosConf(spark: SparkSession): Unit =
    if (spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").forall(_ != "true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** `spark.read.parquet(path)`, with the schema read from a footer on the
    * calling thread. Without a schema, Spark infers one with a job on every
    * call, even when it reads a single footer. This reads the footer Spark
    * would read, with Spark's own converter, and passes the schema on.
    *
    * The footer path is taken only when Spark's inference reads exactly one
    * footer: `spark.sql.parquet.mergeSchema` is off, the path is no glob and
    * names a file or a directory without subdirectories, there is no
    * `_metadata` or `_common_metadata` summary file, and there is a data
    * file (a name Spark's listing keeps: not starting with `.`, nor with `_`
    * unless it holds `=`); the footer is the first data file's by path, the
    * one Spark reads. In every other case, and when the footer read
    * throws, this is `spark.read.parquet(path)` unchanged, so errors stay
    * Spark's own (PATH_NOT_FOUND, UNABLE_TO_INFER_SCHEMA).
    * See [[org.apache.spark.sql.execution.datasources.parquet.FooterSchemaBridge]]. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    FooterSchemaBridge.schema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") ensureNanosConf(spark)
    val df = parquet(spark, s"$dir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else if (name == "events" && df.schema("ts").dataType == TimestampNTZType)
      // parquet timestamp[us] (no tz) arrives as TIMESTAMP_NTZ in Spark 4;
      // session tz is UTC, so this cast is instant-preserving and restores
      // the TIMESTAMP(LTZ) type the rest of the engine (unix_micros etc.)
      // and the DuckDB oracle (CAST(ts AS TIMESTAMP)) both operate on.
      df.withColumn("ts", col("ts").cast("timestamp"))
    else df
  }

  /** Register every table as a temp view (for the spark.sql surface). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}

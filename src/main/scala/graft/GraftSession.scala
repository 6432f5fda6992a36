package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Defaults chosen for the 100 TB posture (SURVEY.md §4): AQE on (runtime
  * partition coalescing, skew-join splitting, dynamic join-strategy switch),
  * UTC session time zone (deterministic timestamp semantics vs the DuckDB
  * oracle), and a shuffle-partition count sized for the local[32] test rig —
  * on a real cluster this is the one knob operators must re-size to
  * ~2-3× total executor cores.
  *
  * Generated code is compiled once per JVM, not once per run. The engine
  * reruns the same operator DAGs per micro-batch, per pipeline run and
  * per bench pass, and janino compiles cost milliseconds each:
  *  - `spark.sql.codegen.cache.maxEntries` is [[CodegenCacheEntries]]
  *    instead of Spark's default 100. One pass over the 176-query
  *    registry at sf0.001 fills 1,909 cache entries (2,143 with stage ids
  *    in class names; about 50 in the largest query; a class compiled on
  *    the driver and in a task is two entries), at about 3 KB of bytecode
  *    each. A cyclic access pattern
  *    larger than an LRU misses on every access, so at the default a
  *    repeated pass over more than 100 classes recompiled every one.
  *    4096 holds the registry with about 2× headroom, a few MB.
  *  - `spark.sql.codegen.useIdInClassName` is false. AQE numbers codegen
  *    stages in the order their inputs finish, so one plan gets different
  *    stage ids from run to run; with the id in the class name each
  *    renumbering is a new cache key. Measured on a second registry pass
  *    with the large cache: 86 compiles with ids, 30 without. The rest
  *    come from plans Catalyst emits in a run-dependent column order
  *    (the multi-distinct Expand of q147/q157). Stage ids stay in the
  *    generated source's `codegenStageId` comment.
  *
  * The cache size is a static conf: `CodeGenerator` reads it once, from
  * the session active when the object first initialises — the first
  * session in the JVM — and later sessions cannot change it. Every entry
  * point must therefore build its session through [[configure]], before
  * anything touches `CodeGenerator`.
  */
object GraftSession {

  /** Size of the JVM-wide compiled-class cache; see the object doc. */
  val CodegenCacheEntries = 4096

  /** Apply engine defaults to any builder (local tests, Verify, Bench). */
  def configure(b: SparkSession.Builder, shufflePartitions: Int = 32): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // generated code compiles once per JVM; see the object doc
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")
      // events.parquet carries TIMESTAMP(NANOS); Spark has no nanos type, so
      // read the physical int64 and convert explicitly (Tables.load).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // NOTE on dump timestamps: keep the default (INT96) writer type.
      // TIMESTAMP_MICROS annotates isAdjustedToUTC=true, which pandas
      // reads as tz-AWARE and the DuckDB side reads naive — every
      // timestamp column then fails value compare. INT96 round-trips
      // tz-naive, matching DuckDB (driver-verified green in round 2).

  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val s = configure(SparkSession.builder().master(s"local[$cores]").appName(appName))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

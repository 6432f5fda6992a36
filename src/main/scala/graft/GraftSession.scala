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
  *
  * Local files are written without forking a process. With no libhadoop
  * on the library path, Hadoop's `RawLocalFileSystem` forks `chmod` for
  * every file or directory it creates and `readlink` for every
  * `getFileLinkStatus`. Spark's checkpoint file manager makes each atomic
  * write a `create` plus a `rename` of the file and its `.crc`: 2 chmods
  * and 8 readlinks. On a 4-core VM under the benchmark's JVM flags such a
  * write cost 14–16 ms of JVM CPU and 33–42 ms of wall time, and 0.6 ms
  * of each through java.nio. One benchmark `stream_events` run started
  * 3,146 child processes, 2,272 of them `readlink` and 807 `chmod`, for
  * the offset WAL, commit log, source log and state deltas of every
  * micro-batch and the sink's files. So the `file` scheme
  * is mapped, for both Hadoop APIs, to `graft.io`'s checksummed local
  * filesystems, which do the two calls through java.nio and leave every
  * other call, and the bytes and `.crc` files on disk, as Hadoop's:
  *  - `spark.hadoop.fs.file.impl` is [[graft.io.NioLocalFileSystem]]
  *    (the `FileSystem` API: parquet sinks and table writes);
  *  - `spark.hadoop.fs.AbstractFileSystem.file.impl` is
  *    [[graft.io.NioLocalFs]] (the `FileContext` API: checkpoint logs, the
  *    HDFS-backed state store, RocksDB's file manager).
  *
  * The `FileSystem` mapping has the same ordering rule as the cache size.
  * Hadoop's `FileSystem` cache keeps the first `file:` instance created in
  * the JVM, so a `FileSystem.get` before the session is built through
  * [[configure]] pins the stock class for the JVM's lifetime (Hive's
  * `ProxyLocalFileSystem` over Hadoop's, which Spark's Hive jars register
  * for `file:`). `FileContext` reads the conf on every call and has no
  * such rule.
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
      // fork-free local files; see the object doc
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.io.NioLocalFs].getName)
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

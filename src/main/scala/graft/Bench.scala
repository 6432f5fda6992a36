package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.graftbridge.JobsBridge
/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  * Results are fully materialized via the `noop` sink (forces every
  * operator — joins, sorts, writes — without driver collect). */
object Bench {
  private val ShortKey = "^(q\\d+b?)".r

  /** The keys one rung of the stdout per-query map emits for `names`: the
    * unique qNN[b] prefix (the full name when there is none), without its
    * 'q' when `bareQ`. None when two names emit the same key — e.g. `q102_x`
    * and a literal `102` under `bareQ` — so the rung is skipped rather than
    * printing a duplicate JSON key. */
  def rungKeys(names: Seq[String], bareQ: Boolean): Option[Seq[String]] = {
    val keys = names.map { n =>
      val sk = ShortKey.findFirstIn(n).getOrElse(n)
      if (bareQ) sk.stripPrefix("q") else sk
    }
    if (keys.distinct.size == keys.size) Some(keys) else None
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.configure(
        SparkSession.builder().master(s"local[$cpus]").appName("graft-bench"),
        shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the JVM/codegen path once on the smallest SF so measured times
    // reflect steady-state execution, not first-query classloading.
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // Warm the OS page cache on the MEASURED SF too: without this the first
    // measured query (q01, alphabetically) absorbs the entire cold read of
    // the sf0.1 parquet files and records 2-3x its steady-state time
    // (round-6 adjudication: q01 runs [3.05, 3.06, 0.92]).
    // try/catch sits INSIDE the loop: one unloadable table must not leave
    // every table after it cold (that silently reintroduces the skew).
    Tables.names.foreach { n =>
      try Tables.load(spark, sfDir, n).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warm-up skipped table $n: ${e.getMessage}")
      }
    }
    // optional args: restrict to named queries (profiling aid)
    val wanted = args.toSet
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.isEmpty || wanted(n) }
    // Per-query MEDIAN of `runs` timings (default 3). A single-shot timing
    // can't distinguish a plan regression from transient host contention —
    // the median of three back-to-back runs is robust to one contended run,
    // so the recorded artifact defends itself without re-adjudication.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // Per-run environment counters, captured AFTER each run: when a runs
    // array disagrees with a clean re-run (r6-r8 drivers vs builder on
    // q41), the artifact itself should say what accumulated — driver heap
    // in use, storage memory in use across block managers, live
    // persistent RDDs, live broadcast blocks. All best-effort: a counter
    // that can't be read records -1 rather than failing the bench.
    def diag(): (Long, Long, Int, Int) = {
      val heapMb = {
        val rt = Runtime.getRuntime
        (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
      }
      val (storeMb, nBcast) =
        try {
          val statuses = org.apache.spark.SparkEnv.get.blockManager.master
            .getStorageStatus
          val used = statuses.map(s => s.maxMem - s.memRemaining).sum / (1024 * 1024)
          val bcast = statuses.iterator.flatMap(_.blocks.keys)
            .count(_.isInstanceOf[org.apache.spark.storage.BroadcastBlockId])
          (used, bcast)
        } catch { case scala.util.control.NonFatal(_) => (-1L, -1) }
      val nRdds =
        try spark.sparkContext.getPersistentRDDs.size
        catch { case scala.util.control.NonFatal(_) => -1 }
      (heapMb, storeMb, nRdds, nBcast)
    }
    // Host-contention counters (the r17/r18 drift adjudications as
    // data): a snapshot of /proc/stat's aggregate cpu ticks and this
    // JVM's own utime+stime from /proc/self/stat. The per-run DELTA
    // separates "the host was busy with OUR work" from "someone else
    // was burning the machine": foreign = (non-idle host ticks) −
    // (our own process ticks), as ppm of total host ticks over the
    // run window; steal ppm is the VM-level equivalent. loadavg (1-min,
    // ×100) rides along as the coarse cross-check. All best-effort:
    // unreadable counters record -1 and never fail the bench.
    // NIO one-shot reads (no lingering BufferedSource descriptors — a
    // 167-query × 3-run sweep makes ~2,500 of these reads)
    def readProc(p: String): String = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
    def hostTicks(): (Long, Long, Long, Long) =
      try {
        val cpu = readProc("/proc/stat").linesIterator
          .find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1)
          .map(_.toLong)
        val total = cpu.sum
        val idle = cpu(3) + (if (cpu.length > 4) cpu(4) else 0L) // idle+iowait
        val steal = if (cpu.length > 7) cpu(7) else 0L
        val self = readProc("/proc/self/stat")
          .split("\\)\\s+").last.split("\\s+") // fields after the comm field
        // utime and stime are fields 14 and 15 of /proc/self/stat; after
        // splitting off "pid (comm)" they sit at offsets 11 and 12
        val own = self(11).toLong + self(12).toLong
        (total, idle, steal, own)
      } catch { case scala.util.control.NonFatal(_) => (-1L, -1L, -1L, -1L) }
    def loadAvg100(): Long =
      try math.round(readProc("/proc/loadavg")
        .trim.split("\\s+")(0).toDouble * 100)
      catch { case scala.util.control.NonFatal(_) => -1L }
    def envDelta(before: (Long, Long, Long, Long)): (Long, Long, Long) = {
      val after = hostTicks()
      if (before._1 < 0 || after._1 < 0 || after._1 <= before._1)
        (-1L, -1L, loadAvg100())
      else {
        val total = after._1 - before._1
        val busy = total - (after._2 - before._2)
        val steal = after._3 - before._3
        val own = after._4 - before._4
        val foreignPpm = math.max(0L, busy - own) * 1000000L / total
        val stealPpm = math.max(0L, steal) * 1000000L / total
        (foreignPpm, stealPpm, loadAvg100())
      }
    }
    // Janino compiles in this JVM (driver and tasks) and their total time,
    // JVM-wide counters; a run's delta of them is what the run compiled
    // because it missed the compiled-class cache (GraftSession).
    def codegen(): (Long, Long) =
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    val results = selected.map { case (name, fn) =>
      val timed = (1 to runs).flatMap { i =>
        val ticks0 = hostTicks()
        val cg0 = codegen()
        val t0 = System.nanoTime()
        val res = try {
          // the jobs that building the DataFrame fires: scalar head()s,
          // checkpoints, fit rounds
          val (df, buildJobs) =
            JobsBridge.counted(spark.sparkContext, s"bench-$name-$i")(fn(spark, sfDir))
          df.write.format("noop").mode("overwrite").save()
          val t = (System.nanoTime() - t0) / 1e9
          val cg = codegen()
          Some((t, diag(), envDelta(ticks0),
            (cg._1 - cg0._1, (cg._2 - cg0._2) / 1000000L), buildJobs))
        } catch { case e: Throwable =>
          if (!failed.contains(name)) failed += name
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          None
        }
        // PER-RUN hygiene (untimed — runs after the clock stops): drop
        // any DataFrame caches the run pinned and nudge GC so the
        // ContextCleaner can reclaim the run's broadcast/RDD blocks.
        // This was per-QUERY until round 9; the r8 driver bench showed
        // q41 growing monotonically across its own 3 back-to-back runs
        // ([1.28, 3.64, 6.21]) while its diag counters (captured ABOVE,
        // before this hygiene, so accumulation stays observable) show
        // exactly what accumulates: each run of a query whose plan
        // EXECUTES a BroadcastExchange leaves TorrentBroadcast blocks +
        // driver garbage pinned until the next GC lets the cleaner run.
        // q40 builds the same cluster table but is immune because its
        // result IS the broadcast-hinted frame — no downstream join ever
        // consumes the hint, so no broadcast is materialized per run.
        spark.catalog.clearCache()
        System.gc()
        res
      }
      val times = timed.map(_._1)
      val diags = timed.map(_._2)
      val envs = timed.map(_._3)
      val cgs = timed.map(_._4)
      val jobs = timed.map(_._5)
      val sec =
        if (times.isEmpty) 0.0
        else times.sorted.apply((times.size - 1) / 2) // lower median
      System.err.println(
        f"[bench] $name%-28s $sec%8.2f s  (runs: ${times.map(t => f"$t%.2f").mkString(" ")})")
      (name, sec, times, diags, envs, cgs, jobs)
    }
    // a failed query must not masquerade as a fast one in the JSON record
    val ok = results.filterNot(r => failed.contains(r._1))
    val qs = ok.map { case (k, v, _, _, _, _, _) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    // Every per-query number lives in BENCH_RUNS.json, NOT on stdout: the
    // driver keeps only the last ~2000 bytes of stdout, and at 88+ queries
    // even a medians-only map (~3 KB) overflows that window, truncating
    // the line start and making it unparseable (this nulled BENCH_r05,
    // _r11 and _r12's parse). The stdout line carries only the totals —
    // metric/value/n/failed/sf, a few hundred bytes at any registry size.
    val runsJson = ok.map { case (k, _, ts, _, _, _, _) =>
        "\"" + k + "\":" + ts.map(t => f"$t%.3f").mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    // one diag object per run: [heapMB, storageUsedMB, persistentRdds,
    // broadcastBlocks] — see diag() above
    val diagJson = ok.map { case (k, _, _, ds, _, _, _) =>
        "\"" + k + "\":" + ds.map { case (h, st, r, b) => s"[$h,$st,$r,$b]" }
          .mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    // one env triple per run: [foreignPpm, stealPpm, load100] — the
    // host-contention record CheckFreeze's classifier reads (an
    // over-threshold query with a foreign/steal spike on its slow runs
    // is "contended" — host noise, not a plan regression)
    val envJson = ok.map { case (k, _, _, _, es, _, _) =>
        "\"" + k + "\":" + es.map { case (f, s, l) => s"[$f,$s,$l]" }
          .mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    // one value per run: classes compiled and ms spent compiling them
    def codegenJson(f: ((Long, Long)) => Long): String = ok.map {
        case (k, _, _, _, _, cs, _) =>
          "\"" + k + "\":" + cs.map(f).mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    // one value per run: jobs fired while building the DataFrame
    val buildJobsJson = ok.map { case (k, _, _, _, _, _, js) =>
        "\"" + k + "\":" + js.mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    val ncpu = Runtime.getRuntime.availableProcessors()
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // total sums the SAME filtered set as `queries` — a failed query's
    // partial/zero time must not silently skew the headline number
    val total = ok.map(_._2).sum
    // r22 (VERDICT r21 "what's wrong #2"): put per-query MEDIANS back on
    // stdout so the driver's per-query perf channel is non-empty, without
    // re-breaking the ~2000-byte tail window that nulled BENCH_r05/_r11/
    // _r12 (see the BENCH_RUNS.json comment above). Full names don't fit
    // (~5 KB), so keys are the unique qNN[b] prefixes and values degrade
    // from 2 to 1 decimal — and the map is DROPPED entirely — whenever
    // the assembled line would overflow the window (budget leaves room
    // for sbt's trailing "[success] ..." line inside the same captured
    // stream). Full-fidelity numbers stay in BENCH_RUNS.json; the total
    // line's existing fields are byte-identical to the r21 format.
    val tailBudget = 1880
    // bareQ additionally strips the leading 'q' (rungKeys skips a rung
    // whose emitted keys collide): measured at the 176-query registry, the
    // 1-decimal qNN map is 1948 chars assembled — NEVER fits the 2000-byte
    // window next to sbt's ~76-char "[success]" trailer — while the bare
    // variant (1772) fits with ~150 bytes of slack. The first r22 session
    // shipped only the qNN rungs, so the map was silently dropped on the
    // full registry; the bare rungs make the ladder actually land.
    def pqJson(dec: Int, bareQ: Boolean): Option[String] =
      rungKeys(ok.map(_._1), bareQ).map(_.zip(ok).map { case (key, r) =>
        "\"" + key + "\":" + (if (dec == 2) f"${r._2}%.2f" else f"${r._2}%.1f")
      }.mkString("{", ",", "}"))
    def assemble(pq: Option[String]): String = {
      val qfield = pq.map(m => s""""queries":$m,""").getOrElse("")
      f"""{"metric":"total","value":$total%.3f,"unit":"sec",$qfield"n":${ok.size},"failed":$failedJson,"sf":"$sfDir"}"""
    }
    val line = Seq(pqJson(2, false), pqJson(1, false),
        pqJson(2, true), pqJson(1, true)).flatten
      .map(pq => assemble(Some(pq)))
      .find(_.length <= tailBudget)
      .getOrElse(assemble(None))
    val full = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"runs":$runsJson,"diag":$diagJson,"env":$envJson,"codegen_compiles":${codegenJson(_._1)},"codegen_ms":${codegenJson(_._2)},"build_jobs":$buildJobsJson,"ncpu":$ncpu,"failed":$failedJson,"sf":"$sfDir"}"""
    try {
      val w = new java.io.PrintWriter("BENCH_RUNS.json", "UTF-8")
      try w.println(full) finally w.close()
      System.err.println(s"[bench] per-run times -> BENCH_RUNS.json")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write BENCH_RUNS.json: ${e.getMessage}")
    }
    println(line)
    spark.stop()
  }
}

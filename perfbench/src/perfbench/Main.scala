package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import graft.{GraftSession, Tables}
import graft.streaming.StreamingOps

/** JVM half of the benchmark (run.py is the other half). Modes:
  *
  *  - `gendata <dimsDir> <outDir> <scale>`: the input tables, made by the
  *    engine's own deterministic generator (`graft.tools.GenSf`).
  *  - `run key=value ...`: one run of one workload. Writes `record.json`
  *    (setup times, per-operation latencies, stream records, host
  *    counters) and, when traced, `spans.jsonl` into `out`; run.py checks
  *    outputs and turns the record into metrics.
  */
object Main {
  def main(args: Array[String]): Unit = args.toList match {
    case "gendata" :: dims :: out :: scale :: Nil => genData(dims, out, scale.toInt)
    case "run" :: kv => run(kv.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap)
    case _ => sys.error("usage: Main gendata <dims> <out> <scale> | Main run key=value ...")
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = GraftSession.configure(SparkSession.builder()
        .master(s"local[$cores]").appName("perfbench")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        // a window is emitted by the next data batch, never by an idle one,
        // so a stopped query's output is exactly what its last batch left
        .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
        .config("spark.sql.streaming.numRecentProgressUpdates", "10000"),
      shufflePartitions = cores).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The tables, one parquet file each as TESTDATA.md describes them.
    * region and nation do not scale; GenSf copies them from `dims`. */
  def genData(dims: String, out: String, scale: Int): Unit = {
    val spark = session(Runtime.getRuntime.availableProcessors(), Paths.get(out))
    import spark.implicits._
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    regions.zipWithIndex.map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name")
      .coalesce(1).write.mode("overwrite").parquet(s"$dims/region.parquet")
    (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .coalesce(1).write.mode("overwrite").parquet(s"$dims/nation.parquet")
    graft.tools.GenSf.generate(spark, dims, s"$dims/gen", scale)
    Tables.names.foreach { t =>
      spark.read.parquet(s"$dims/gen/$t.parquet").coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    spark.stop()
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this process, all its threads, in ms. */
  def cpuMs(): Double = osBean.getProcessCpuTime / 1e6

  /** Host CPU ticks: (total, idle, steal) from /proc/stat and this
    * process's own ticks from /proc/self/stat. */
  private def ticks(): Option[(Long, Long, Long, Long)] =
    try {
      val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
        .split("\\s+").drop(1).map(_.toLong)
      val self = Files.readString(Paths.get("/proc/self/stat"))
        .split("\\)\\s+").last.split("\\s+")
      Some((cpu.sum, cpu(3) + cpu(4), cpu(7), self(11).toLong + self(12).toLong))
    } catch { case _: Exception => None }

  /** Foreign and steal CPU over a window, in ppm of host ticks, plus the
    * 1-minute load average at its end. Foreign = busy ticks of the host
    * minus this process's own. */
  private def host(before: Option[(Long, Long, Long, Long)]): Map[String, Double] = {
    val load = try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
      catch { case _: Exception => -1.0 }
    (before, ticks()) match {
      case (Some((t0, i0, s0, o0)), Some((t1, i1, s1, o1))) if t1 > t0 =>
        val total = (t1 - t0).toDouble
        Map("foreign_ppm" -> math.max(0.0, (total - (i1 - i0)) - (o1 - o0)) * 1e6 / total,
          "steal_ppm" -> (s1 - s0) * 1e6 / total, "load1" -> load)
      case _ => Map("foreign_ppm" -> -1.0, "steal_ppm" -> -1.0, "load1" -> load)
    }
  }

  def run(a: Map[String, String]): Unit = {
    val workload = a("workload")
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val data = a("data")
    val out = Files.createDirectories(Paths.get(a("out")))
    val work = Files.createDirectories(out.resolve("work"))
    val isStream = workload == "stream_events"
    val sp = StreamParams(a("rows").toInt, a("backlog").toInt, a("open").toInt,
      a("interval_ms").toInt, a("users").toInt)
    val runId = java.util.UUID.randomUUID().toString

    // Set-up, several times: the median is what a run reports. The first
    // round counts from JVM start.
    var spark: SparkSession = null
    var events: Array[Array[String]] = null
    val setup = (0 until a("setup_rounds").toInt).map { r =>
      if (spark != null) spark.stop()
      val t0 = if (r == 0) ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
        else System.currentTimeMillis().toDouble
      spark = session(cores, work)
      val t1 = System.currentTimeMillis().toDouble
      if (!isStream) Batch.tables.foreach { n =>
        Tables.load(spark, data, n).write.format("noop").mode("overwrite").save()
      }
      val t2 = System.currentTimeMillis().toDouble
      if (isStream) {
        events = Stream.generate(seed, sp.backlogFiles + sp.openFiles, sp)
        Stream.Shapes.foreach { s =>
          val dir = work.resolve(s"pass1/$s/in")
          if (Files.exists(dir)) org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
          Stream.stage(dir, events, sp.backlogFiles)
        }
      }
      val t3 = System.currentTimeMillis().toDouble
      Map("session_ms" -> (t1 - t0), "warm_ms" -> (t2 - t1), "input_ms" -> (t3 - t2))
    }

    System.err.println("[perfbench] setup ms " + setup.map(_.values.sum).mkString(" "))
    val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
    val record = mutable.Map[String, Any]("workload" -> workload, "seed" -> seed,
      "cores" -> cores, "trace" -> trace, "run_id" -> runId, "setup" -> setup)
    var spans: Seq[Map[String, Any]] = Nil
    var hostStart: Option[(Long, Long, Long, Long)] = None
    if (isStream) {
      Stream.warm(spark, events, work.resolve("warm"))
      spark.conf.set("spark.sql.shuffle.partitions",
        StreamingOps.sizedShufflePartitions(sp.rowsPerFile, cores).toString)
      hostStart = ticks()
      val traced = new Tracer(spark, runId, enabled = trace)
      val off = new Tracer(spark, runId, enabled = false)
      // traced: pass 1, the pass an untraced run measures, is traced; an
      // untraced pass 2 follows, for trace.overhead_ratio
      val shapes = (1 to (if (trace) 2 else 1)).flatMap { pass =>
        val tracer = if (pass == 1) traced else off
        tracer.span("pass", s"pass$pass", 0L, Map("pass" -> pass)) { pid =>
          Stream.Shapes.map { s =>
            val dir = work.resolve(s"pass$pass/$s")
            if (!Files.exists(dir.resolve("in"))) Stream.stage(dir.resolve("in"), events, sp.backlogFiles)
            try Stream.runShape(spark, s, events, sp, dir, s"pb_${s}_$pass", tracer, pid,
              check = true) ++ Map("pass" -> pass, "traced" -> (trace && pass == 1))
            catch { case e: Exception =>
              System.err.println(s"[perfbench] $s failed in pass $pass: $e")
              failures += Map("op" -> s, "pass" -> pass, "error" -> String.valueOf(e))
              Map[String, Any]("shape" -> s, "pass" -> pass, "ok" -> false)
            }
          }
        }
      }
      traced.close()
      spans = traced.finish()
      record ++= Seq("shapes" -> shapes, "attempted" -> shapes.size,
        "stream_params" -> sp)
    } else {
      val pipelines = Paths.get(a("pipelines"))
      hostStart = ticks()
      val (passes, runs, sp) = Batch.run(spark, data, pipelines, out,
        seed, a("seconds").toDouble, trace, runId, failures)
      spans = sp
      record ++= Seq("passes" -> passes, "ops" -> runs, "attempted" -> runs.size,
        "control" -> Batch.controlQueries,
        "oracle_sql" -> Batch.oracles(Batch.ops(data, pipelines)))
    }
    record ++= Seq("failures" -> failures.toSeq, "host" -> host(hostStart))
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(out.resolve("record.json"), json.writeValueAsString(record))
    if (trace) Files.write(out.resolve("spans.jsonl"),
      spans.map(json.writeValueAsString).mkString("\n").getBytes("UTF-8"))
    spark.stop()
  }
}

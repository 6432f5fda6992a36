package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.{QueryDef, SparkEntry}
import graft.plans.{PipelineCompiler, PipelineSpec}

/** One operation of a batch workload: a registry query or an XML pipeline. */
sealed trait Op { def name: String }
final case class QueryOp(q: QueryDef) extends Op { def name: String = q.name }
/** `xml` is the pipeline text with the data directory already substituted;
  * its `viewSink`s are the outputs that get executed and checked. */
final case class PipelineOp(name: String, xml: String) extends Op {
  val sinks: Seq[String] = PipelineSpec.parseXml(xml).nodes
    .filter(_.opClass == "viewSink").map(_.args("name"))
}

/** A closed-loop batch workload: one client runs one operation at a time
  * and waits for its full result through a `noop` sink. */
final class Batch(spark: SparkSession, data: String, ops: Seq[Op], seed: Long) {

  /** The seed fixes the operation order within each pass. */
  def order(pass: Int): Seq[Op] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(ops)

  /** Runs `op` once, writing each output to noop. Returns wall ms and
    * the op's span id. */
  def timed(op: Op, tracer: Tracer, parent: Long): (Double, Long) = {
    val t0 = System.nanoTime()
    var opId = 0L
    op match {
      case QueryOp(q) =>
        tracer.span("query", q.name, parent) { id =>
          opId = id
          val df = tracer.span("build", q.name, id)(_ => q.run(spark, data))
          tracer.exec(q.name, id, df)
        }
      case p: PipelineOp =>
        tracer.span("pipeline", p.name, parent) { id =>
          opId = id
          val spec = tracer.span("parse", p.name, id)(_ => PipelineSpec.parseXml(p.xml))
          tracer.span("compile", p.name, id)(_ => PipelineCompiler.compile(spec, spark))
          tracer.annotate(id, "nodes" -> spec.nodes.size)
          p.sinks.foreach { v =>
            tracer.exec(v, id, spark.table(v))
          }
        }
    }
    ((System.nanoTime() - t0) / 1e6, opId)
  }

  /** Runs `op` once and dumps each output as parquet under `dir` for the
    * oracle (queries) and fingerprint (pipeline sinks) checks. */
  def dump(op: Op, dir: Path): Unit = op match {
    case QueryOp(q) =>
      q.run(spark, data).write.mode("overwrite").parquet(dir.resolve(q.name).toString)
    case p: PipelineOp =>
      PipelineCompiler.compile(PipelineSpec.parseXml(p.xml), spark)
      p.sinks.foreach { v =>
        spark.table(v).write.mode("overwrite")
          .parquet(dir.resolve(s"${p.name}.$v").toString)
      }
  }

  /** Untimed between operations, as in `graft.Bench`: release what the
    * operation cached so the next one starts from the same state. Returns
    * the persistent RDDs the operation left behind. */
  def cleanUp(): Int = {
    val left = spark.sparkContext.getPersistentRDDs.size
    spark.catalog.clearCache()
    System.gc()
    left
  }
}

object Batch {
  val llmQueries: Seq[String] = Seq("q112_bm25_topk", "q18_ngram_jaccard_dedup",
    "q114_prefix_jaccard_join")
  val llmPipelines: Seq[String] = Seq("spans")
  /** Relational queries that build lazily: the control of the plan-build
    * layer, whose build may fire no job but the parquet schema reads of
    * `Tables.load` (run.py's self-check). */
  val controlQueries: Seq[String] = Seq("q03_topk_orders")

  /** The tables the workload reads, warmed during set-up. */
  val tables: Seq[String] = Seq("documents", "embeddings", "lineitem", "orders",
    "customer")

  def ops(data: String, pipelineDir: Path): Seq[Op] = {
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    def query(n: String) = QueryOp(byName.getOrElse(n,
      throw new IllegalArgumentException(s"query $n is not in SparkEntry.registry")))
    def pipeline(n: String) = PipelineOp(n,
      Files.readString(pipelineDir.resolve(s"$n.xml")).replace("$DATA", data))
    (llmQueries ++ controlQueries).map(query) ++ llmPipelines.map(pipeline)
  }

  /** Oracle SQL of every query op (pipelines have fingerprints instead). */
  def oracles(ops: Seq[Op]): Map[String, String] = ops.collect {
    case QueryOp(q) => q.oracle.map(o => q.name -> o.stripMargin.trim)
  }.flatten.toMap

  /** `cpuMs` is the CPU time of the whole JVM, all threads, while `ms`
    * ran. */
  final case class OpRun(name: String, pass: Int, ms: Double, ok: Boolean,
      cpuMs: Double)

  /** Timed passes per run, at least: each operation's median over them is
    * what `pass_s` sums. */
  val MinPasses = 3

  /** Runs `llm_ops`: one untimed pass that dumps outputs for checking
    * and warms the JVM, then as many whole timed passes as fit in
    * `seconds`, at least [[MinPasses]]. In a traced run, passes alternate
    * untraced and traced (even passes are traced), so both see the same
    * host and about the same JIT state. */
  def run(spark: SparkSession, data: String, pipelineDir: Path,
      out: Path, seed: Long, seconds: Double, trace: Boolean,
      runId: String, failures: mutable.Buffer[Map[String, Any]])
      : (Seq[Map[String, Any]], Seq[OpRun], Seq[Map[String, Any]]) = {
    val ops = Batch.ops(data, pipelineDir)
    val b = new Batch(spark, data, ops, seed)
    val checkDir = Files.createDirectories(out.resolve("check"))
    def fail(op: Op, pass: Int, e: Throwable): Unit = {
      System.err.println(s"[perfbench] ${op.name} failed in pass $pass: $e")
      failures += Map("op" -> op.name, "pass" -> pass, "error" -> String.valueOf(e))
    }
    val tc = System.nanoTime()
    val checked = b.order(0).map { op =>
      val t = System.nanoTime()
      val ok = try { b.dump(op, checkDir); true }
        catch { case e: Exception => fail(op, 0, e); false }
      b.cleanUp()
      OpRun(op.name, 0, (System.nanoTime() - t) / 1e6, ok, 0.0)
    }
    System.err.println(f"[perfbench] check pass ${(System.nanoTime() - tc) / 1e9}%.1f s")
    val untraced = new Tracer(spark, runId, enabled = false)
    val traced = new Tracer(spark, runId, enabled = trace)
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val runs = mutable.ArrayBuffer.empty[OpRun]
    val t0 = System.nanoTime()
    var pass = 1
    var lastMs = 0.0
    while (pass <= MinPasses || (System.nanoTime() - t0) / 1e6 + lastMs <= seconds * 1e3) {
      val isTraced = trace && pass % 2 == 0
      val tracer = if (isTraced) traced else untraced
      var passMs = 0.0
      tracer.span("pass", s"pass$pass", 0L, Map("pass" -> pass)) { pid =>
        b.order(pass).foreach { op =>
          val c0 = Main.cpuMs()
          val (ms, id, ok) =
            try { val (ms, id) = b.timed(op, tracer, pid); (ms, id, true) }
            catch { case e: Exception => fail(op, pass, e); (0.0, 0L, false) }
          passMs += ms
          runs += OpRun(op.name, pass, ms, ok, Main.cpuMs() - c0)
          tracer.annotate(id, "rdds_left" -> b.cleanUp())
        }
      }
      System.err.println(f"[perfbench] pass $pass${if (isTraced) " (traced)" else ""} ${passMs / 1e3}%.1f s")
      passes += Map("pass" -> pass, "traced" -> isTraced, "ms" -> passMs)
      lastMs = passMs
      pass += 1
    }
    untraced.close()
    traced.close()
    (passes.toSeq, checked ++ runs, traced.finish())
  }
}

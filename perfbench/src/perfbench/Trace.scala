package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Job, stage and task counters of one span. */
final class Counters {
  var jobs, schemaJobs, stages, tasks, failedTasks = 0L
  var cpuMs, runMs, gcMs, schedWaitMs = 0.0
  var inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "schema_jobs" -> schemaJobs, "stages" -> stages, "tasks" -> tasks,
    "failed_tasks" -> failedTasks, "task_cpu_ms" -> cpuMs,
    "task_run_ms" -> runMs, "gc_ms" -> gcMs, "sched_wait_ms" -> schedWaitMs,
    "input_bytes" -> inputBytes, "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes)
}

/** Span recorder for the traced run.
  *
  * A span covers one call the benchmark makes into a layer. While it is
  * open, the SparkContext local property [[Tracer.Prop]] holds its id;
  * Spark copies local properties into every job it submits (also from
  * AQE and broadcast threads, and from a streaming query's thread, which
  * inherits them from the thread that started it), so the listener below
  * can charge each job, stage and task to the span that caused it. Spans
  * stay in memory and are written once, at the end of the run.
  *
  * With `enabled = false` every method just runs its body: the untraced
  * passes take exactly the calls an untraced run takes.
  */
final class Tracer(spark: SparkSession, val runId: String, val enabled: Boolean) {
  private val nextId = new AtomicLong(0)
  private val anchorNs = System.nanoTime()
  private val anchorEpochMs = System.currentTimeMillis().toDouble
  val spans = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
  private val counters = mutable.Map.empty[Long, Counters]
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val stageSubmitMs = mutable.Map.empty[(Int, Int), Long]
  private val executions = mutable.ArrayBuffer.empty[QueryExecution]
  private val pending = mutable.Map.empty[Long, Map[String, Any]]

  /** Epoch milliseconds of a `System.nanoTime` reading. */
  def epochMs(ns: Long): Double = anchorEpochMs + (ns - anchorNs) / 1e6

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
        .foreach { s =>
          val id = s.toLong
          Tracer.this.synchronized {
            val c = counters.getOrElseUpdate(id, new Counters)
            c.jobs += 1
            if (e.stageInfos.exists(_.name.startsWith(Tracer.SchemaCallSite))) c.schemaJobs += 1
            e.stageIds.foreach(stageSpan(_) = id)
          }
        }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        val si = e.stageInfo
        stageSubmitMs((si.stageId, si.attemptNumber())) =
          si.submissionTime.getOrElse(System.currentTimeMillis())
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stageSpan.get(e.stageInfo.stageId).foreach(counters(_).stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        stageSpan.get(e.stageId).foreach { id =>
          val c = counters(id)
          val info = e.taskInfo
          c.tasks += 1
          if (info.failed || info.killed) c.failedTasks += 1
          stageSubmitMs.get((e.stageId, e.stageAttemptId)).foreach { sub =>
            c.schedWaitMs += math.max(0L, info.launchTime - sub).toDouble
          }
          val m = e.taskMetrics
          if (m != null) {
            c.cpuMs += m.executorCpuTime / 1e6
            c.runMs += m.executorRunTime.toDouble
            c.gcMs += m.jvmGCTime.toDouble
            c.inputBytes += m.inputMetrics.bytesRead
            c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      Tracer.this.synchronized { executions += qe }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
  }

  def close(): Unit = if (enabled) {
    drain()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
  }

  private def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Records a span around `body`, which receives the span id. */
  def span[T](kind: String, name: String, parent: Long,
      attrs: Map[String, Any] = Map.empty)(body: Long => T): T =
    if (!enabled) body(-1L)
    else {
      val id = nextId.incrementAndGet()
      val sc = spark.sparkContext
      val outer = sc.getLocalProperty(Tracer.Prop)
      sc.setLocalProperty(Tracer.Prop, id.toString)
      val t0 = System.nanoTime()
      try body(id)
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(Tracer.Prop, outer)
        record(id, kind, name, parent, epochMs(t0), (t1 - t0) / 1e6, attrs)
      }
    }

  /** Adds a span whose times were measured elsewhere (stream batches and
    * their `durationMs` phases, read from progress events). */
  def record(id: Long, kind: String, name: String, parent: Long,
      startEpochMs: Double, durMs: Double, attrs: Map[String, Any]): Long =
    synchronized {
      val sid = if (id > 0) id else nextId.incrementAndGet()
      spans += (mutable.Map[String, Any]("run" -> runId, "id" -> sid,
        "parent" -> parent, "kind" -> kind, "name" -> name,
        "start_ms" -> startEpochMs, "dur_ms" -> durMs) ++= attrs
        ++= pending.remove(sid).getOrElse(Map.empty))
      sid
    }

  /** Adds attributes to span `id`, open or closed. */
  def annotate(id: Long, attrs: (String, Any)*): Unit = if (enabled) synchronized {
    spans.find(_("id") == id) match {
      case Some(s) => s ++= attrs
      case None => pending(id) = pending.getOrElse(id, Map.empty) ++ attrs
    }
  }

  /** Saves `df` to the `noop` sink as an `exec` span. Once the save
    * returns, the query executions it reported supply a `plan` child span:
    * Catalyst's phases of the executing query and the shape of its
    * executed plan. The span is laid at the start of the exec span, so
    * exec self time is execution proper. Its `analysis_ms` also counts the
    * analysis of `df` itself, which ran inside the build span. */
  def exec(name: String, parent: Long, df: DataFrame): Unit = {
    def save(): Unit = df.write.format("noop").mode("overwrite").save()
    if (!enabled) save()
    else {
      drain()
      synchronized { executions.clear() }
      var execId = 0L
      span("exec", name, parent) { id => execId = id; save() }
      drain()
      val qes = synchronized { val q = executions.toList; executions.clear(); q }
      val phases = qes.flatMap(_.tracker.phases.toSeq)
        .groupMapReduce(_._1)(_._2.durationMs.toDouble)(_ + _)
      val built = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
      val nodes = qes.flatMap(qe => Tracer.planNodes(qe.executedPlan))
      val start = synchronized { spans.find(_("id") == execId).get("start_ms") }
      record(0L, "plan", name, execId, start.asInstanceOf[Double],
        phases.values.sum, Map(
          "analysis_ms" -> (phases.getOrElse("analysis", 0.0) + built),
          "optimization_ms" -> phases.getOrElse("optimization", 0.0),
          "planning_ms" -> phases.getOrElse("planning", 0.0),
          "nodes" -> nodes.size,
          "exchanges" -> nodes.count(_.isInstanceOf[Exchange]),
          "scans" -> nodes.count(_.nodeName.contains("Scan"))))
    }
  }

  /** Waits for pending listener events, then returns every span with the
    * counters charged to it. */
  def finish(): Seq[Map[String, Any]] = {
    if (enabled) drain()
    synchronized {
      spans.toList.map { s =>
        val c = counters.getOrElse(s("id").asInstanceOf[Long], new Counters)
        (s ++ c.toMap).toMap
      }
    }
  }
}

object Tracer {
  val Prop = "perfbench.span"
  /** Call site of the job `spark.read.parquet` runs to read a footer for
    * the schema: the one job a lazily built query may fire. */
  val SchemaCallSite = "parquet at "

  /** Every operator of an executed plan: AQE's final plan, its query
    * stages and subqueries included. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }
}

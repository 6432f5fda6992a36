package graft.api

import scala.concurrent.Await
import scala.concurrent.duration.Duration
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.graftbridge.CheckpointBridge

/** The checkpoint scope of any operator that reads a scalar from a
  * frame it later joins — an iterative fit's rounds, or a retrieval
  * operator's query terms: checkpoint the frame eagerly, read its
  * scalars from that same job, and free what the result does not need.
  * The plan then joins exactly the rows the scalars were computed from,
  * even when the source is non-deterministic.
  *
  * {{{
  * Checkpoints.scoped { cp =>
  *   var (ranks, d) = cp(init, sum(col("rank")).as("__t")) // one job
  *   ...
  *   val (next, nd) = cp(step(ranks), ...)
  *   cp.release(ranks)   // superseded: free its blocks now
  *   ...
  *   ranks.select(...)   // the result
  * }
  * }}}
  *
  * `cp(df, metrics*)` truncates lineage (an un-truncated loop replays
  * every prior round per action and its plan grows per round; a
  * re-read source may differ from the one the scalars saw) and
  * returns the metric aggregates as a `Row`, computed through an
  * `Observation` by the checkpoint job itself — no separate `count()` or
  * `agg().head()` job. When the body returns, every checkpoint the
  * returned plan does not reference is freed; when it throws, all of
  * them are. Checkpoints are identified by RDD id, so a frame re-wrapped
  * over the same RDD (`StatsBridge.withStats`) still counts as
  * referenced. Freeing means `rdd.unpersist`: `Dataset.unpersist()` only
  * consults the `CacheManager`, which never sees a checkpoint.
  * (localCheckpoint trades fault recovery for speed — an executor loss
  * mid-consumption fails the job; on a long-lived cluster pipeline,
  * write the result out instead.) */
object Checkpoints {
  final class Scope private[Checkpoints] {
    private val live = scala.collection.mutable.Map.empty[Int, RDD[_]]

    /** Eagerly checkpoints `df`; the `Row` holds `metrics` in order,
      * computed by the checkpoint job (empty when none are given). */
    def apply(df: DataFrame, metrics: Column*): (DataFrame, Row) = {
      val obs = Observation()
      val observed =
        if (metrics.isEmpty) df else df.observe(obs, metrics.head, metrics.tail: _*)
      val ck = observed.localCheckpoint(eager = true)
      CheckpointBridge.leafRdds(ck).foreach(r => live(r.id) = r)
      (ck, if (metrics.isEmpty) Row.empty else Await.result(obs.future, Duration.Inf))
    }

    /** Frees every checkpoint of this scope that `df`'s plan reads. */
    def release(df: DataFrame): Unit =
      releaseAll(CheckpointBridge.leafRdds(df).map(_.id))

    private[Checkpoints] def releaseAllBut(keep: Seq[RDD[_]]): Unit =
      releaseAll(live.keySet.toSet -- keep.map(_.id))

    private def releaseAll(ids: Iterable[Int]): Unit =
      ids.flatMap(live.remove).foreach(_.unpersist(blocking = false))
  }

  /** Runs `body`, then frees its checkpoints that the returned plan
    * does not read (all of them if `body` throws). */
  def scoped(body: Scope => DataFrame): DataFrame = {
    val cp = new Scope
    val out =
      try body(cp)
      catch { case t: Throwable => cp.releaseAllBut(Nil); throw t }
    cp.releaseAllBut(CheckpointBridge.leafRdds(out))
    out
  }
}

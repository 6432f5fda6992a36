package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.Dataset

/** S21: continuous per-key EWMA — the streaming twin of
  * [[graft.api.GraftOps.ewma]] (the q117 recurrence), the S14/S15/S20
  * "batch == stream" pattern applied to a RECURRENCE instead of a set:
  * state is O(1) per key (the last smoothed value + the last (ts,
  * tiebreak) position), each arrival emits its smoothed value
  * immediately, and the arithmetic is the IDENTICAL two-multiply-one-add
  * IEEE chain per step — so a replay of the same points produces values
  * BIT-EQUAL to the batch operator (law S21). Ordering contract: the
  * [[OrderedFold]] one.
  */
object EwmaStream {

  case class Point(key: Long, ts: Timestamp, tb: Long, value: Double)
  case class EwmaState(lastS: Double, lastTs: Long, lastTb: Long)
  case class Smoothed(key: Long, ts: Timestamp, tb: Long, value: Double,
      ewma: Double)

  def apply(points: Dataset[Point], alphaPpm: Long): Dataset[Smoothed] = {
    require(alphaPpm >= 0 && alphaPpm <= 1000000,
      s"alphaPpm must be in [0, 1000000]; got $alphaPpm")
    val a = alphaPpm.toDouble / 1000000.0
    OrderedFold[Point, EwmaState, Smoothed](points, "EwmaStream")(_.key,
      p => (p.ts.getTime, p.tb), e => (e.lastTs, e.lastTb)) { (st, p) =>
      val s = st.fold(p.value)(e => a * p.value + (1.0 - a) * e.lastS)
      (EwmaState(s, p.ts.getTime, p.tb),
        Some(Smoothed(p.key, p.ts, p.tb, p.value, s)))
    }
  }
}

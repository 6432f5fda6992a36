package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.Dataset

/** S28: continuous per-key Holt level+trend smoothing — the streaming
  * twin of [[graft.api.GraftOps.holt]] (the q155 recurrence), the S21
  * EWMA pattern with a second accumulator: state is O(1) per key (the
  * last level, last trend, last (ts, tiebreak) position), each arrival
  * emits its (level, trend) immediately, and the per-step arithmetic is
  * the IDENTICAL IEEE op chain as the batch fold — the b-step uses the
  * freshly computed level exactly as the batch CASE recomputes it — so
  * a replay of the same points is BIT-EQUAL to the batch operator (law
  * S28). `level + trend` per emission is the one-step-ahead forecast.
  * Ordering contract: the [[OrderedFold]] one.
  */
object HoltStream {

  case class Point(key: Long, ts: Timestamp, tb: Long, value: Double)
  case class HoltState(lastL: Double, lastB: Double, lastTs: Long,
      lastTb: Long)
  case class Smoothed(key: Long, ts: Timestamp, tb: Long, value: Double,
      level: Double, trend: Double)

  def apply(points: Dataset[Point], alphaPpm: Long,
      betaPpm: Long): Dataset[Smoothed] = {
    require(alphaPpm >= 0 && alphaPpm <= 1000000,
      s"alphaPpm must be in [0, 1000000]; got $alphaPpm")
    require(betaPpm >= 0 && betaPpm <= 1000000,
      s"betaPpm must be in [0, 1000000]; got $betaPpm")
    val a = alphaPpm.toDouble / 1000000.0
    val b = betaPpm.toDouble / 1000000.0
    OrderedFold[Point, HoltState, Smoothed](points, "HoltStream")(_.key,
      p => (p.ts.getTime, p.tb), e => (e.lastTs, e.lastTb)) { (st, p) =>
      val (l, t) = st.fold((p.value, 0.0)) { e =>
        val ln = a * p.value + (1.0 - a) * (e.lastL + e.lastB)
        (ln, b * (ln - e.lastL) + (1.0 - b) * e.lastB)
      }
      (HoltState(l, t, p.ts.getTime, p.tb),
        Some(Smoothed(p.key, p.ts, p.tb, p.value, l, t)))
    }
  }
}

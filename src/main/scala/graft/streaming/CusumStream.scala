package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.Dataset

/** S23: continuous per-key CUSUM change detection — the streaming twin
  * of [[graft.api.GraftOps.cusum]] (the q125 restart recurrence), the
  * S21/S22 "batch == stream" pattern for the detection family: state is
  * O(1) per key (the post-step pre-reset (s⁺, s⁻) pair + the last (ts,
  * tiebreak) position — whether the NEXT step restarts is derivable
  * from the stored statistics, exactly as in batch), each arrival emits
  * its (s⁺, s⁻, alarm) row immediately, and every step is the
  * IDENTICAL exact integer max(0, ·) chain — so a replay of the same
  * points is EQUAL CELL-FOR-CELL to the batch operator (law S23, no
  * IEEE caveat at all: the arithmetic is integral).
  *
  * Ordering contract: the [[OrderedFold]] one. Values are
  * caller-quantized integers (the batch contract); NULL-valued
  * observations belong to the batch operator, whose poison semantics
  * need the whole tail.
  */
object CusumStream {

  case class Point(key: Long, ts: Timestamp, tb: Long, value: Long)
  case class CusumState(sPos: Long, sNeg: Long, lastTs: Long, lastTb: Long)
  case class Flagged(key: Long, ts: Timestamp, tb: Long, value: Long,
      sPos: Long, sNeg: Long, alarm: Boolean)

  def apply(points: Dataset[Point], target: Long, slack: Long,
      threshold: Long): Dataset[Flagged] = {
    require(slack >= 0, s"slack must be >= 0; got $slack")
    require(threshold > 0, s"threshold must be > 0; got $threshold")
    OrderedFold[Point, CusumState, Flagged](points, "CusumStream")(_.key,
      p => (p.ts.getTime, p.tb), e => (e.lastTs, e.lastTb)) { (st, p) =>
      val (bp, bn) = st match {
        case Some(e) if e.sPos < threshold && e.sNeg < threshold =>
          (e.sPos, e.sNeg)
        case _ => (0L, 0L)
      }
      val sp = math.max(0L, bp + (p.value - target - slack))
      val sn = math.max(0L, bn + (target - slack - p.value))
      (CusumState(sp, sn, p.ts.getTime, p.tb),
        Some(Flagged(p.key, p.ts, p.tb, p.value, sp, sn,
          sp >= threshold || sn >= threshold)))
    }
  }
}

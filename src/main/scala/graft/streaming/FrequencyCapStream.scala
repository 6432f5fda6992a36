package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.Dataset

/** S27: continuous frequency-cap admission — the streaming twin of
  * [[graft.api.GraftOps.frequencyCap]] (the q153 contribution-bounding
  * shape): admit each key's first `k` events in (ts, tiebreak) order,
  * drop everything after. The cheapest admission tier in the matrix —
  * state is ONE counter plus the last admitted-or-seen (ts, tiebreak)
  * per key, not the history, and nothing is recomputed on arrival.
  *
  * Law (S27): over a replay whose CROSS-batch order is (ts, tiebreak)
  * increasing per key — any chunking of the time-sorted stream — the
  * admitted set equals batch `frequencyCap` exactly. Ordering contract:
  * the [[OrderedFold]] one; the counter cannot retroactively un-admit,
  * so a silently re-ordered replay would admit the wrong k.
  */
object FrequencyCapStream {

  case class Ev(key: Long, ts: Timestamp, tiebreak: Long)
  case class CapState(n: Int, lastTs: Long, lastTb: Long)

  def apply(events: Dataset[Ev], k: Int): Dataset[Ev] = {
    require(k >= 1, s"k must be >= 1; got $k")
    OrderedFold[Ev, CapState, Ev](events, "FrequencyCapStream")(_.key,
      e => (e.ts.getTime, e.tiebreak), s => (s.lastTs, s.lastTb)) {
      (st, e) =>
        val n = st.fold(0)(_.n)
        (CapState(math.min(n + 1, k), e.ts.getTime, e.tiebreak),
          if (n < k) Some(e) else None)
    }
  }
}

package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.Dataset

/** S22: continuous per-key state-transition steps — the streaming twin
  * of [[graft.api.GraftOps.transitionCounts]] (the q119 Markov matrix),
  * the S21 recurrence pattern applied to SEQUENCE STRUCTURE instead of
  * arithmetic: state is O(1) per key (the last (ts, tiebreak) position
  * and last state string), and each arrival after a key's first emits
  * one (from → to) STEP event immediately. Aggregating the emitted
  * steps by (from, to) reproduces the batch operator's counts exactly
  * over any replay (law S22) — the ppm shares are a catalog-sized
  * downstream aggregation, not per-event state, so they stay batch.
  *
  * NULL states are REAL states here exactly as in batch: a key's first
  * event emits nothing (no predecessor), but a NULL state after a real
  * one emits a (state → NULL) step — the state row's PRESENCE plays the
  * batch operator's lag(1)-marker role, so instrumentation gaps surface
  * as transition mass instead of vanishing.
  *
  * Ordering contract: the [[OrderedFold]] one.
  */
object TransitionStream {

  case class Event(key: Long, ts: Timestamp, tb: Long, state: String)
  // Option presence of the state row IS the "has a predecessor" flag
  // (review r16 dropped a redundant hasPrev boolean from every keyed
  // state-store row)
  case class TransState(lastTs: Long, lastTb: Long, lastState: String)
  case class Step(key: Long, ts: Timestamp, tb: Long, from_state: String,
      to_state: String)

  def apply(events: Dataset[Event]): Dataset[Step] =
    OrderedFold[Event, TransState, Step](events, "TransitionStream")(_.key,
      e => (e.ts.getTime, e.tb), s => (s.lastTs, s.lastTb)) { (st, e) =>
      (TransState(e.ts.getTime, e.tb, e.state),
        st.map(p => Step(e.key, e.ts, e.tb, p.lastState, e.state)))
    }
}

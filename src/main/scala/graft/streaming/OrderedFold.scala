package graft.streaming

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** The per-key ordered fold behind the streaming recurrence twins
  * ([[EwmaStream]], [[TransitionStream]], [[CusumStream]],
  * [[FrequencyCapStream]], [[HoltStream]]): each key keeps O(1) state
  * `S` in the `flatMapGroupsWithState` store, and each arriving point is
  * stepped into it, emitting at most one row immediately. `S` records
  * the (ts, tiebreak) position of the last point folded into it (`last`).
  *
  * Ordering contract: within a micro-batch, a key's points sort by
  * (ts, tiebreak) before folding (arrival order inside a batch is free);
  * ACROSS batches a key's points must arrive in STRICTLY increasing
  * (ts, tiebreak) order. A point at or before the last folded position
  * cannot be spliced into an already-emitted prefix with O(1) state —
  * and a replayed point at that very position would double-apply its
  * step — so it fails the query LOUDLY, with an [[IllegalStateException]]
  * naming the key and both positions, rather than silently corrupting
  * the recurrence. Two points of one key at the same (ts, tiebreak) in
  * one batch fail the same guard (the unique-tiebreak posture of the
  * batch operators). Heavily-late replays belong to the batch operator —
  * the Sessionize.reconcile division of labor.
  */
private[streaming] object OrderedFold {

  def apply[P, S <: Product : TypeTag, O <: Product : TypeTag](
      in: Dataset[P], op: String)(key: P => Long, pos: P => (Long, Long),
      last: S => (Long, Long))(step: (Option[S], P) => (S, Option[O]))
      : Dataset[O] = {
    implicit val stateEnc: Encoder[S] = Encoders.product[S]
    implicit val outEnc: Encoder[O] = Encoders.product[O]
    in.groupByKey(key)(Encoders.scalaLong).flatMapGroupsWithState[S, O](
      OutputMode.Append, GroupStateTimeout.NoTimeout) { (k, rows, state) =>
      var st = state.getOption
      val out = rows.toSeq.sortBy(pos).flatMap { p =>
        val at = pos(p)
        st.foreach { s =>
          if (Ordering[(Long, Long)].lteq(at, last(s)))
            throw new IllegalStateException(
              s"$op: key $k point at $at is not after the newest seen " +
                s"${last(s)} — cross-batch order violated; replay in batch " +
                "instead")
        }
        val (next, emit) = step(st, p)
        st = Some(next)
        emit
      }
      st.foreach(state.update)
      out.iterator
    }
  }
}

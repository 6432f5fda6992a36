package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues, ValueState}
import graft.streaming.Sessionize.{Event, OpenSession, Session}

/** S5 on the arbitrary-state API (`transformWithState`, the successor to
  * [m]apGroupsWithState — SURVEY.md §2.2 "stateful per-key processing"):
  * identical gap-sessionization semantics to [[Sessionize]], state held in
  * a typed `ValueState` managed by the state-v2 store. The two differ in
  * the store they need: `transformWithState` runs only on the RocksDB
  * state store provider (set
  * `spark.sql.streaming.stateStore.providerClass` before starting it),
  * while [[Sessionize]]'s `flatMapGroupsWithState` runs on the default
  * store.
  */
object SessionizeTws {

  private class Proc(gapMs: Long)
      extends StatefulProcessor[Long, Event, Session] {
    @transient private var open: ValueState[OpenSession] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[OpenSession](
        "open", Encoders.product[OpenSession], TTLConfig.NONE)

    override def handleInputRows(userId: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[Session] = {
      // identical semantics to Sessionize BY CONSTRUCTION: both APIs run
      // the same shared interval sweep (see Sessionize.sweep)
      val (closed, nextOpen) = Sessionize.sweep(userId,
        if (open.exists()) Some(open.get()) else None, rows, gapMs)
      nextOpen.foreach(open.update)
      closed
    }
  }

  def apply(events: Dataset[Event], gapMs: Long = 30L * 60 * 1000)
      : Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new Proc(gapMs), TimeMode.None(), OutputMode.Append())
  }
}

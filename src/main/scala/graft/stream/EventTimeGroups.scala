package graft.stream

import org.apache.spark.sql.{Dataset, Encoder, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The one runner of the keyed-state operators ([[OrderRepair]],
  * [[StreamDedup]]'s flag flavour, [[Burst]]) and the only user of Spark's
  * `flatMapGroupsWithState` state API. An operator supplies
  * `step(key, rows, state, watermark)`, returning the rows to emit and the
  * state to keep (`None`: none), and `flush(key, state)`, what a state still
  * holds once no more rows can arrive for its key.
  *
  * Streaming (`gapMs` set): `step` runs at the current watermark, and the
  * kept state times out at `max(lastTs + gap, watermark + 1)`, when it is
  * removed and flushed. The clamp is needed: Spark rejects a timeout at or
  * behind the watermark, and with unordered file ingestion a key's last
  * event can already be behind it.
  *
  * Batch (`gapMs` empty, one call per key): `step` runs at an infinite
  * watermark and its state is flushed at once — end of data is the final
  * watermark, so batch output equals streaming output by construction. The
  * batch flavours are oracle-checked in SQL; the test suites assert the
  * streaming ones equal to them.
  */
private[stream] object EventTimeGroups {

  def apply[K, V, S: Encoder, U: Encoder](grouped: KeyValueGroupedDataset[K, V],
                                          gapMs: Option[Long])(
      step: (K, Iterator[V], Option[S], Long) => (Iterator[U], Option[S]))(
      flush: (K, S) => Iterator[U], lastTs: S => Long): Dataset[U] = {
    val timeout =
      if (gapMs.isEmpty) GroupStateTimeout.NoTimeout else GroupStateTimeout.EventTimeTimeout
    grouped.flatMapGroupsWithState(OutputMode.Append, timeout) {
      (key: K, rows: Iterator[V], state: GroupState[S]) =>
        gapMs match {
          case Some(_) if state.hasTimedOut =>
            val st = state.get
            state.remove()
            flush(key, st)
          case Some(gap) =>
            val wm = state.getCurrentWatermarkMs()
            val (out, next) = step(key, rows, state.getOption, wm)
            next match {
              // Spark clears the timeout on every call, so a kept state is
              // rewritten and re-armed even when `step` left it as it was
              case Some(st) =>
                state.update(st)
                state.setTimeoutTimestamp(math.max(lastTs(st) + gap, wm + 1))
              case None => if (state.exists) state.remove()
            }
            out
          case None =>
            val (out, next) = step(key, rows, None, Long.MaxValue)
            out ++ next.iterator.flatMap(flush(key, _))
        }
    }
  }
}

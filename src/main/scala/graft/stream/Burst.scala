package graft.stream

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}

/** One keyed input event (the operator's API record — `ts` is top-level so
  * `withWatermark` can tag it). Full-precision ts is preserved end to end:
  * `events.ts` is microsecond parquet and the emitted run boundaries must
  * byte-match the SQL oracle.
  */
case class KeyedEv(user_id: Long, event_id: Long, ts: Timestamp, is_error: Boolean)

/** One event inside per-key state (key held by the group). */
case class BurstEv(event_id: Long, ts: Timestamp, is_error: Boolean)

/** An open (or closed) run of consecutive matching events; len == 0 means
  * no open run.
  */
case class BurstRun(len: Long, firstId: Long, lastId: Long,
                    startTs: Timestamp, endTs: Timestamp)

/** Per-user detector state: events not yet provably complete (buffered
  * until the watermark passes them), the run open at the completed prefix's
  * end, and last activity for eviction.
  */
case class BurstState(buffer: Seq[BurstEv], run: BurstRun, maxTs: Long)

/** An emitted burst: `minRun`-or-longer maximal run of consecutive matching
  * events for one user.
  */
case class BurstOut(user_id: Long, run_len: Long,
                    first_event_id: Long, last_event_id: Long,
                    start_ts: Timestamp, end_ts: Timestamp)

/** CEP sequence-pattern detection as a stateful streaming operator: maximal
  * runs of >= minRun CONSECUTIVE matching events (e.g. `event_type =
  * 'error'`) per key, in EVENT-TIME order. The batch gaps-and-islands query
  * (q_cep_error_burst) is this operator's batch mode, both run by
  * [[EventTimeGroups]].
  *
  * Ordering under out-of-order arrival: "consecutive" is only decidable on
  * the watermark-complete prefix, so arrivals buffer in state and are
  * processed in (ts, event_id) order strictly below the current watermark;
  * the run open at the prefix boundary stays open in state until the next
  * ordered event (or eviction) closes it. Events at or above the watermark
  * millisecond stay buffered — a later arrival may still sort before them.
  *
  * Scale: state per key is O(out-of-orderness) + one open run, evicted by
  * event-time timeout — the same bounded-state contract as OrderRepair;
  * partitioned by user key, no global sort.
  */
object Burst {

  private val NoRun = BurstRun(0L, 0L, 0L, null, null)

  private def evOrd(e: BurstEv): (Long, Int, Long) =
    (e.ts.getTime, e.ts.getNanos, e.event_id)

  /** Feed ordered complete events through the run machine; returns closed
    * qualifying runs and the run left open at the end.
    */
  private def advance(userId: Long, minRun: Int, run0: BurstRun,
                      ordered: Seq[BurstEv]): (Vector[BurstOut], BurstRun) = {
    val out = Vector.newBuilder[BurstOut]
    var run = run0
    def close(): Unit = { out ++= qualifying(userId, minRun, run); run = NoRun }
    ordered.foreach { e =>
      if (e.is_error) {
        run =
          if (run.len == 0L) BurstRun(1L, e.event_id, e.event_id, e.ts, e.ts)
          else BurstRun(run.len + 1, run.firstId, e.event_id, run.startTs, e.ts)
      } else close()
    }
    (out.result(), run)
  }

  private def qualifying(userId: Long, minRun: Int, run: BurstRun): Option[BurstOut] =
    if (run.len >= minRun)
      Some(BurstOut(userId, run.len, run.firstId, run.lastId, run.startTs, run.endTs))
    else None

  /** The [[EventTimeGroups]] step: buffer the arrivals, then run the
    * watermark-complete prefix — strictly below the watermark MILLISECOND:
    * an event whose truncated ms equals the watermark may still be preceded
    * by a later arrival in the same millisecond (ts > watermark, smaller id).
    * At the infinite watermark of batch mode every event is complete.
    */
  private def step(minRun: Int)(key: Long, keyedRows: Iterator[KeyedEv],
                                prev: Option[BurstState],
                                watermarkMs: Long): (Iterator[BurstOut], Option[BurstState]) = {
    // group VALUES stay KeyedEv: a mapValues projection would rebuild `ts`
    // from the object and lose the watermark tag Append mode requires
    val st = prev.getOrElse(BurstState(Nil, NoRun, Long.MinValue))
    var maxTs = st.maxTs
    val arrived = keyedRows.map(e => BurstEv(e.event_id, e.ts, e.is_error)).toVector
    arrived.foreach { e => if (e.ts.getTime > maxTs) maxTs = e.ts.getTime }
    val (ready, pending) = (st.buffer ++ arrived).partition(_.ts.getTime < watermarkMs)
    val (closed, open) = advance(key, minRun, st.run, ready.sortBy(evOrd))
    (closed.iterator, Some(BurstState(pending, open, maxTs)))
  }

  /** Once no event can arrive: run what is buffered and close the open run. */
  private def flush(minRun: Int)(key: Long, st: BurstState): Iterator[BurstOut] = {
    val (closed, open) = advance(key, minRun, st.run, st.buffer.sortBy(evOrd))
    closed.iterator ++ qualifying(key, minRun, open)
  }

  private implicit val evEnc = Encoders.product[BurstEv]
  private implicit val outEnc = Encoders.product[BurstOut]
  private implicit val stateEnc = Encoders.product[BurstState]
  private implicit val keyEnc = Encoders.scalaLong

  /** Batch flavor (the driver-oracle target, q_cep_error_burst). */
  def batch(ds: Dataset[KeyedEv], minRun: Int = 3): Dataset[BurstOut] =
    run(ds, None, minRun)

  /** Streaming flavor: caller must have applied `withWatermark("ts", …)`;
    * `gapMs` is how long a key's state outlives its last activity before
    * eviction closes any open run.
    */
  def streaming(ds: Dataset[KeyedEv], gapMs: Long,
                minRun: Int = 3): Dataset[BurstOut] =
    run(ds, Some(gapMs), minRun)

  private def run(ds: Dataset[KeyedEv], gapMs: Option[Long], minRun: Int): Dataset[BurstOut] =
    EventTimeGroups(ds.groupByKey(_.user_id), gapMs)(step(minRun))(flush(minRun), _.maxTs)
}

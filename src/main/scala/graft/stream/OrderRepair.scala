package graft.stream

import java.sql.Timestamp

import scala.collection.mutable.LongMap

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

import graft.model.{Events, LogEvent}

/** A turn with source position (provenance, the reference's
  * `Record.Position`) — the friendly typed record for the stateful
  * operators.
  */
case class TurnPos(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp,
    pos: Long
)

/** The HOT-PATH record: identical content, packed for the typed
  * `flatMapGroupsWithState` boundary. Every micro-batch deserializes and
  * re-serializes each row crossing that boundary; with [[TurnPos]] that
  * means four UTF-8→UTF-16 String decodes per row (text dominating — the
  * memory-bandwidth ceiling BASELINE.md finding 4 measured). Here the
  * payload fields stay raw UTF-8 bytes: a copy, no decode, half the bytes
  * for ASCII text. `conv_id` stays String (it is the grouping key; byte
  * arrays compare by reference) and `ts` stays a timestamp — the watermark
  * tag must survive into the operator's child output for event-time
  * timeouts, which rules out projecting it to epoch micros. `turn_idx` is
  * nullable like its column and `events` carries the validation events, so
  * error rows cross the repair too.
  */
case class TurnPacked(
    conv_id: String,
    turn_idx: java.lang.Integer,
    role: Array[Byte],
    text: Array[Byte],
    tool: Array[Byte],
    ts: Timestamp,
    pos: Long,
    events: Array[LogEvent]
)

/** Per-conversation order-repair state: next contiguous index to emit plus
  * the buffered out-of-order turns (the north star's "sorted-map state over
  * turn_idx"). Duplicates resolve min-pos-first — deterministic under any
  * partitioning, matching the reference Unique handler's sequential
  * first-wins (reference: src/Shipwright.Core/Dataflows/Transformations/
  * Unique.cs:89-93) without depending on arrival order. `stoppedIdx`: the
  * emitted slots whose occupant was stop-flagged, which a valid turn may fill.
  */
case class RepairState(nextIdx: Int, buffer: Map[Int, TurnPacked], maxTs: Long,
                       stoppedIdx: Set[Int])

/** Per-conversation stateful validation + turn-order repair
  * (`flatMapGroupsWithState`): buffers out-of-order turns in a per-key
  * sorted map, emits contiguous runs of `turn_idx` from 0, dedups by
  * (conv_id, turn_idx) keeping the min-pos occurrence.
  *
  * Error rows: a row with a null `conv_id` or `turn_idx` leaves at once,
  * touching no state. A stop-flagged turn takes its slot, but a valid turn
  * for it wins, even one arriving after the stop-flagged turn was emitted
  * (it then leaves at once, out of order). Every stop-flagged turn is
  * emitted; a losing valid turn is dropped.
  *
  * Modes: run by [[EventTimeGroups]]. Once the watermark passes the
  * conversation's last activity + `gapMs` (streaming) or the data ends
  * (batch), `strict` decides whether the gapped suffix is dropped (strict)
  * or flushed in sorted order (repair what you can once nothing earlier can
  * arrive).
  *
  * Scale: state per key is O(max out-of-orderness), not O(conversation
  * length) — emitted turns leave the buffer immediately, and the watermark
  * evicts idle conversations, so state survives 10^12-turn streams as long
  * as disorder is bounded.
  *
  * Flavors: [[batchPacked]] and [[streamingPacked]] (the one the job runs)
  * over [[TurnPacked]]; [[batch]] over [[TurnPos]], the oracle the tests and
  * the benchmark compare with, is [[pack]] → [[batchPacked]] → [[unpack]].
  * All run the one repair step, so they cannot drift. A [[TurnPos]] with a
  * null `conv_id` therefore passes through [[batch]] without entering state,
  * as it does in the job.
  */
object OrderRepair {

  /** The single repair algorithm, the [[EventTimeGroups]] step. It needs no
    * watermark: order is repaired by `turn_idx`, and event time only dates
    * the state for eviction. The buffer is a `LongMap` (specialized keys —
    * no Integer boxing per row on the hot loop), converted to the
    * immutable state map when the state is kept.
    */
  private def repairStep(key: String, rows: Iterator[TurnPacked], prev: Option[RepairState],
                         watermarkMs: Long): (Iterator[TurnPacked], Option[RepairState]) = {
    def stopped(r: TurnPacked): Boolean = r.events.exists(_.stop)
    val st = prev.getOrElse(RepairState(0, Map.empty, Long.MinValue, Set.empty))
    val buf = LongMap.empty[TurnPacked]
    st.buffer.foreach { case (k, v) => buf.update(k.toLong, v) }
    val late = LongMap.empty[TurnPacked] // valid turns for stoppedIdx slots
    var maxTs = st.maxTs
    var stoppedIdx = st.stoppedIdx
    val emitted = Vector.newBuilder[TurnPacked]
    // puts r in slot idx of m unless the occupant beats it (valid beats
    // stopped, then min pos wins); returns the loser, or null
    def place(m: LongMap[TurnPacked], idx: Int, r: TurnPacked): TurnPacked = {
      val prev = m.getOrNull(idx.toLong)
      if (prev != null &&
          (if (stopped(r) == stopped(prev)) r.pos >= prev.pos else stopped(r))) r
      else { m.update(idx.toLong, r); prev }
    }
    var anyKeyed = false
    rows.foreach { r =>
      if (r.conv_id == null || r.turn_idx == null) emitted += r
      else {
        anyKeyed = true
        maxTs = math.max(maxTs, r.ts.getTime)
        val idx = r.turn_idx.intValue
        // below st.nextIdx the key was emitted — reference flags these via
        // UniqueFlag; the repair never re-emits a valid key, but a valid
        // turn may still fill an emitted stop-flagged slot
        val loser =
          if (idx >= st.nextIdx) place(buf, idx, r)
          else if (!stopped(r) && stoppedIdx.contains(idx)) place(late, idx, r)
          else r
        if (loser != null && stopped(loser)) emitted += loser
      }
    }
    late.foreach { case (idx, r) => stoppedIdx -= idx.toInt; emitted += r }

    var next = st.nextIdx
    var t = buf.getOrNull(next.toLong)
    while (t != null) {
      buf.remove(next.toLong); emitted += t
      if (stopped(t)) stoppedIdx += next
      next += 1; t = buf.getOrNull(next.toLong)
    }

    // only keyed rows create state: malformed rows for a key (or the null
    // key) without one create none
    val kept =
      if (!anyKeyed && prev.isEmpty) None
      else Some(RepairState(next, buf.iterator.map { case (k, v) => k.toInt -> v }.toMap,
        maxTs, stoppedIdx))
    (emitted.result().iterator, kept)
  }

  /** The buffered suffix in turn order once nothing earlier can arrive
    * (repair what you can), or nothing when `strict`.
    */
  private def suffix(strict: Boolean)(key: String, st: RepairState): Iterator[TurnPacked] =
    if (strict) Iterator.empty else st.buffer.toSeq.sortBy(_._1).map(_._2).iterator

  private implicit val turnPosEnc = Encoders.product[TurnPos]
  private implicit val turnPackedEnc = Encoders.product[TurnPacked]
  private implicit val stateEnc = Encoders.product[RepairState]
  private implicit val keyEnc = Encoders.STRING

  /** Pack the boundary: payload strings → raw bytes (cast, no decode).
    * `ts` is projected UNTOUCHED so a watermark tag applied upstream
    * survives (NTZ sources get the encoder's upcast, same as [[TurnPos]]).
    * `events` is carried when `df` has it, else empty.
    */
  def pack(df: DataFrame): Dataset[TurnPacked] =
    df.select(turnCols("binary") :+ (if (df.columns.contains(Events.col)) col(Events.col)
      else Events.empty).as(Events.col): _*).as[TurnPacked]

  /** Inverse of [[pack]] (UTF-8 round-trip is exact), without `events`. */
  def unpack(ds: Dataset[_]): DataFrame = ds.toDF().select(turnCols("string"): _*)

  // the turn columns in schema order, payload strings cast to `payloadType`
  private def turnCols(payloadType: String): Seq[Column] =
    Seq(col("conv_id"), col("turn_idx")) ++
      Seq("role", "text", "tool").map(c => col(c).cast(payloadType).as(c)) ++
      Seq(col("ts"), col("pos"))

  /** Batch flavor over [[TurnPos]] (the oracle target): the packed core. */
  def batch(ds: Dataset[TurnPos], strict: Boolean): Dataset[TurnPos] =
    unpack(batchPacked(pack(ds.toDF()), strict)).as[TurnPos]

  /** Hot-path batch flavor over the packed record. */
  def batchPacked(ds: Dataset[TurnPacked], strict: Boolean): Dataset[TurnPacked] =
    EventTimeGroups(ds.groupByKey(_.conv_id), None)(repairStep)(suffix(strict), _.maxTs)

  /** Hot-path streaming flavor: apply `withWatermark` BEFORE [[pack]] (the
    * watermark node survives the packing projection; the timeout uses the
    * global watermark value, not the projected column).
    */
  def streamingPacked(ds: Dataset[TurnPacked], strict: Boolean,
                      gapMs: Long): Dataset[TurnPacked] =
    EventTimeGroups(ds.groupByKey(_.conv_id), Some(gapMs))(repairStep)(suffix(strict), _.maxTs)
}

package graft.stream

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}

/** A turn plus the `Unique` flag columns: `is_duplicate` and, for
  * duplicates, the original's position (the reference event's
  * duplicate-of pointer, Unique.cs:89-93).
  */
case class FlaggedTurn(
    conv_id: String, turn_idx: Int, role: String, text: String,
    tool: String, ts: Timestamp, pos: Long,
    is_duplicate: Boolean, dup_of_pos: Option[Long])

/** First-seen position per key + last activity, for watermark eviction. */
case class FirstSeen(pos: Long, maxTs: Long)

/** Streaming dedup, the `Unique` transformation's streaming flavors
  * (SURVEY.md §2.2):
  *   - drop flavor — `dropDuplicatesWithinWatermark` keeps the first arrival
  *     per key and expires key state once the watermark passes (bounded
  *     state at 10^12-turn scale);
  *   - flag flavor — [[flagWithinWatermark]]: keyed state (run by
  *     [[EventTimeGroups]]) remembering the FIRST ARRIVAL's position per
  *     key (the reference Unique handler's sequential first-wins,
  *     Unique.cs:89-93); later arrivals are EMITTED, not dropped, flagged
  *     with the original's position. State per key is one (pos, ts) pair,
  *     evicted by event-time timeout — the same bounded-state contract as
  *     the drop flavor, with the duplicate-of provenance the reference
  *     preserves.
  */
object StreamDedup {

  def dropWithinWatermark(df: DataFrame, keys: Seq[String],
                          tsCol: String = "ts", delay: String = "10 minutes"): DataFrame =
    df.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark(keys)

  private implicit val turnPosEnc = Encoders.product[TurnPos]
  private implicit val flaggedEnc = Encoders.product[FlaggedTurn]
  private implicit val stateEnc = Encoders.product[FirstSeen]
  private implicit val keyEnc = Encoders.STRING

  /** The [[EventTimeGroups]] step; it needs no watermark, and its flush
    * emits nothing — every row leaves in the call that brought it.
    */
  private def flagStep(key: String, rows: Iterator[TurnPos], prev: Option[FirstSeen],
                       watermarkMs: Long): (Iterator[FlaggedTurn], Option[FirstSeen]) = {
    var st = prev.orNull
    val out = Vector.newBuilder[FlaggedTurn]
    // Iterator order within a micro-batch is arbitrary post-shuffle; sort by
    // source position so the min-pos row wins deterministically, matching the
    // reference Unique's sequential first-wins (Unique.cs:89-93) and the
    // batch UniqueFlag min-pos winner.
    rows.toSeq.sortBy(_.pos).foreach { t =>
      val ts = t.ts.getTime
      if (st == null) {
        st = FirstSeen(t.pos, ts)
        out += FlaggedTurn(t.conv_id, t.turn_idx, t.role, t.text, t.tool,
          t.ts, t.pos, is_duplicate = false, dup_of_pos = None)
      } else {
        st = FirstSeen(st.pos, math.max(st.maxTs, ts))
        out += FlaggedTurn(t.conv_id, t.turn_idx, t.role, t.text, t.tool,
          t.ts, t.pos, is_duplicate = true, dup_of_pos = Some(st.pos))
      }
    }
    (out.result().iterator, Option(st))
  }

  private def flag(ds: Dataset[TurnPos], gapMs: Option[Long]): Dataset[FlaggedTurn] =
    EventTimeGroups(ds.groupByKey(t => t.conv_id + sep + t.turn_idx), gapMs)(flagStep)(
      (_, _) => Iterator.empty, _.maxTs)

  /** Grouping-key separator: NUL cannot occur in conv_id (CSV/parquet text). */
  private val sep: String = 0.toChar.toString

  /** Flag flavor over the transcript key `(conv_id, turn_idx)`. Caller must
    * have applied `withWatermark("ts", …)`; `gapMs` is how long a key's
    * first-seen state outlives its last activity.
    */
  def flagWithinWatermark(ds: Dataset[TurnPos], gapMs: Long): Dataset[FlaggedTurn] =
    flag(ds, Some(gapMs))

  /** Batch flavor of the flag dedup (q_dedup_flag), the same step in
    * [[EventTimeGroups]]' batch mode. The oracle-checked batch output pins
    * the streaming operator's semantics: min-pos first arrival wins, every
    * row emitted, duplicates carry the original's position.
    */
  def flagBatch(ds: Dataset[TurnPos]): Dataset[FlaggedTurn] = flag(ds, None)
}

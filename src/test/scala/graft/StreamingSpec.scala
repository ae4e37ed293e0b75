package graft

import java.sql.Timestamp

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.stream.{OrderRepair, StreamDedup, ToolPair, TurnPos}

/** Streaming semantics: order repair under out-of-order/late/duplicate
  * arrival, watermark-driven state eviction, dedup-within-watermark, and
  * stream-stream tool pairing (FIXTURES.md §5 scripts).
  */
object StreamingSpec {
  /** Event row for the windowed-aggregation streaming-vs-batch checks. */
  case class Ev(event_id: Long, user_id: String, event_type: String,
                value: Double, ts: Timestamp)
}

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  private def turn(conv: String, idx: Int, sec: Long, role: String = "user",
                   text: String = "t", tool: String = null, pos: Long = 0): TurnPos =
    TurnPos(conv, idx, role, text, tool, ts(sec), if (pos == 0) sec else pos)

  private def runRepair(strict: Boolean, batches: Seq[Seq[TurnPos]]): Seq[(String, Int)] = {
    implicit val enc = Encoders.product[TurnPos]
    val ms = MemoryStream[TurnPos](enc, spark)
    val repaired = OrderRepair.streamingPacked(
      OrderRepair.pack(ms.toDS().withWatermark("ts", "10 seconds").toDF()),
      strict = strict, gapMs = 30000L)
    val name = s"repair_${strict}_${System.nanoTime()}"
    val q = OrderRepair.unpack(repaired).writeStream.format("memory").queryName(name)
      .outputMode("append")
      .option("checkpointLocation", TestSpark.tempDir("ckpt").toString)
      .start()
    batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    q.stop()
    spark.table(name).collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"))).toSeq.sorted
  }

  test("order repair (streaming): out-of-order within watermark emits contiguous runs") {
    val got = runRepair(strict = true, Seq(
      Seq(turn("a", 0, 1), turn("a", 2, 3)),  // gap at 1
      Seq(turn("a", 1, 2)),                   // fills the gap → 1,2 emitted
      Seq(turn("a", 3, 4))))
    assert(got == Seq(("a", 0), ("a", 1), ("a", 2), ("a", 3)))
  }

  test("order repair (streaming): watermark timeout drops gapped suffix when strict") {
    val got = runRepair(strict = true, Seq(
      Seq(turn("a", 0, 1), turn("a", 2, 3)),       // a1 never arrives
      Seq(turn("z", 0, 200)),                      // advances watermark to 190s
      Seq(turn("z", 1, 201))))                     // timeout fires for conv a
    assert(got == Seq(("a", 0), ("z", 0), ("z", 1))) // a2 dropped
  }

  test("order repair (streaming): timeout flushes sorted suffix when lenient") {
    val got = runRepair(strict = false, Seq(
      Seq(turn("a", 0, 1), turn("a", 3, 3), turn("a", 2, 2)),
      Seq(turn("z", 0, 200)),
      Seq(turn("z", 1, 201))))
    assert(got == Seq(("a", 0), ("a", 2), ("a", 3), ("z", 0), ("z", 1))) // 2,3 flushed in order
  }

  test("order repair (streaming): duplicate keys keep min-pos winner") {
    val got = runRepair(strict = true, Seq(
      Seq(turn("a", 0, 1, pos = 10), turn("a", 0, 1, pos = 5)),
      Seq(turn("a", 1, 2))))
    assert(got == Seq(("a", 0), ("a", 1)))
  }

  test("order repair: streaming output equals batch output for the same input") {
    import spark.implicits._
    val all = Seq(
      turn("a", 0, 1), turn("a", 2, 3), turn("a", 1, 2), turn("a", 3, 4),
      turn("b", 1, 5), turn("b", 0, 6), // b fully arrives out of order
      turn("c", 1, 7))                  // c never gets 0 → strict drops it
    val streamed = runRepair(strict = true, Seq(all))
    val batched = OrderRepair.batch(all.toDS(), strict = true)
      .collect().map(t => (t.conv_id, t.turn_idx)).toSeq.sorted
    assert(streamed == batched)
    assert(!batched.contains(("c", 1)))
  }

  test("order repair: PACKED hot path is row-identical to the TurnPos flavor") {
    import spark.implicits._
    val all = Seq(
      turn("a", 0, 1, text = "héllo wörld"), // multi-byte UTF-8 survives packing
      turn("a", 2, 3), turn("a", 1, 2),
      turn("a", 2, 3, pos = 999),            // dup: min-pos winner must match
      turn("b", 1, 5), turn("b", 0, 6),
      turn("c", 1, 7))
    for (strict <- Seq(true, false)) {
      val viaPos = OrderRepair.batch(all.toDS(), strict).toDF()
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts", "pos")
        .collect().map(_.toSeq).toSet
      val viaPacked = OrderRepair.unpack(
        OrderRepair.batchPacked(OrderRepair.pack(all.toDF()), strict))
        .collect().map(_.toSeq).toSet
      assert(viaPacked == viaPos, s"strict=$strict")
    }
  }

  test("order repair (streaming, packed): watermark timeout + flush match TurnPos path") {
    import spark.implicits._
    val batches = Seq(
      Seq(turn("a", 0, 1), turn("a", 3, 3), turn("a", 2, 2)),
      Seq(turn("z", 0, 200)),
      Seq(turn("z", 1, 201)))
    val got = runRepair(strict = false, batches)
    assert(got == Seq(("a", 0), ("a", 2), ("a", 3), ("z", 0), ("z", 1)))
    // the timeout flush emits what the TurnPos batch flavor emits at end of data
    val batched = OrderRepair.batch(batches.flatten.toDS(), strict = false)
      .collect().map(t => (t.conv_id, t.turn_idx)).toSeq.sorted
    assert(got == batched)
  }

  test("sliding window (streaming) equals the batch query on the same events") {
    import spark.implicits._
    implicit val enc = Encoders.product[StreamingSpec.Ev]
    val events = Seq(
      StreamingSpec.Ev(1, "u1", "click", 1.0, ts(600)),
      StreamingSpec.Ev(2, "u1", "click", 2.0, ts(2400)),
      StreamingSpec.Ev(3, "u2", "view", 3.0, ts(2500)),
      StreamingSpec.Ev(4, "u2", "click", 4.0, ts(5400)),
      StreamingSpec.Ev(5, "u1", "view", 5.0, ts(7300)))
    def slide(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))
    val ms = MemoryStream[StreamingSpec.Ev](enc, spark)
    val name = s"slide_${System.nanoTime()}"
    val q = slide(ms.toDS().withWatermark("ts", "10 seconds").toDF())
      .writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", TestSpark.tempDir("ckpt").toString).start()
    ms.addData(events)
    q.processAllAvailable()
    // far-future sentinel advances the watermark past every real window end;
    // its own windows stay open and never emit
    ms.addData(Seq(StreamingSpec.Ev(99, "zz", "zz", 0.0, ts(864000))))
    q.processAllAvailable()
    q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sorted
    assert(canon(spark.table(name)) == canon(slide(events.toDF())))
  }

  test("session window (streaming) equals the batch query on the same events") {
    import spark.implicits._
    implicit val enc = Encoders.product[StreamingSpec.Ev]
    val events = Seq(
      StreamingSpec.Ev(1, "u1", "e", 0, ts(100)),
      StreamingSpec.Ev(2, "u1", "e", 0, ts(400)),   // same session (gap < 10 min)
      StreamingSpec.Ev(3, "u1", "e", 0, ts(1200)),  // new session (gap >= 10 min)
      StreamingSpec.Ev(4, "u2", "e", 0, ts(150)))
    def sess(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("user_id"), col("n"))
    val ms = MemoryStream[StreamingSpec.Ev](enc, spark)
    val name = s"sess_${System.nanoTime()}"
    val q = sess(ms.toDS().withWatermark("ts", "10 seconds").toDF())
      .writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", TestSpark.tempDir("ckpt").toString).start()
    // split across micro-batches: session 1 must merge events arriving apart
    ms.addData(events.take(2))
    q.processAllAvailable()
    ms.addData(events.drop(2))
    q.processAllAvailable()
    ms.addData(Seq(StreamingSpec.Ev(99, "zz", "e", 0, ts(864000))))
    q.processAllAvailable()
    q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime,
        r.getString(2), r.getLong(3))).toSeq.sorted
    assert(canon(spark.table(name)) == canon(sess(events.toDF())))
  }

  test("dedup within watermark drops later duplicates across micro-batches") {
    implicit val enc = Encoders.product[TurnPos]
    val ms = MemoryStream[TurnPos](enc, spark)
    val dd = StreamDedup.dropWithinWatermark(ms.toDS().toDF(),
      Seq("conv_id", "turn_idx"), "ts", "60 seconds")
    val name = s"dedup_${System.nanoTime()}"
    val q = dd.writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", TestSpark.tempDir("ckpt").toString).start()
    ms.addData(Seq(turn("a", 0, 1, text = "first"), turn("a", 1, 2)))
    q.processAllAvailable()
    ms.addData(Seq(turn("a", 0, 3, text = "dup"), turn("b", 0, 4)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(name).collect()
    assert(rows.length == 3)
    val a0 = rows.find(r => r.getAs[String]("conv_id") == "a" && r.getAs[Int]("turn_idx") == 0).get
    assert(a0.getAs[String]("text") == "first") // first arrival won
  }

  test("unique flag flavor (streaming): duplicates emitted with pointer to first arrival; state evicted by watermark") {
    implicit val enc = Encoders.product[TurnPos]
    val ms = MemoryStream[TurnPos](enc, spark)
    val flagged = StreamDedup.flagWithinWatermark(
      ms.toDS().withWatermark("ts", "10 seconds"), gapMs = 30000L)
    val name = s"flag_${System.nanoTime()}"
    val q = flagged.writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", TestSpark.tempDir("ckpt").toString).start()
    ms.addData(Seq(turn("a", 0, 1, text = "first", pos = 5)))
    q.processAllAvailable()
    // same key in a LATER micro-batch, within the watermark → flagged, kept
    ms.addData(Seq(turn("a", 0, 2, text = "dup", pos = 10), turn("b", 0, 3, pos = 7)))
    q.processAllAvailable()
    // advance the watermark far past a/0's last activity + gap → state evicted
    ms.addData(Seq(turn("z", 0, 500, pos = 1)))
    q.processAllAvailable()
    ms.addData(Seq(turn("z", 1, 600, pos = 2)))
    q.processAllAvailable()
    // a/0 again AFTER eviction: a fresh first arrival, not a duplicate —
    // the same bounded-state contract as dropDuplicatesWithinWatermark
    ms.addData(Seq(turn("a", 0, 700, text = "reborn", pos = 99), turn("z", 2, 800, pos = 3)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(name)
      .select("conv_id", "turn_idx", "pos", "is_duplicate", "dup_of_pos").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getBoolean(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toSet
    assert(rows.contains(("a", 0, 5L, false, -1L)))   // first arrival wins
    assert(rows.contains(("a", 0, 10L, true, 5L)))    // flagged, NOT dropped, points at 5
    assert(rows.contains(("b", 0, 7L, false, -1L)))
    assert(rows.contains(("a", 0, 99L, false, -1L)))  // re-registered after eviction
    assert(rows.count(_._1 == "a") == 3)              // every arrival emitted
  }

  test("unique flag flavor (streaming): min-pos wins when duplicates share a micro-batch") {
    implicit val enc = Encoders.product[TurnPos]
    val ms = MemoryStream[TurnPos](enc, spark)
    val flagged = StreamDedup.flagWithinWatermark(
      ms.toDS().withWatermark("ts", "10 seconds"), gapMs = 30000L)
    val name = s"flag_same_batch_${System.nanoTime()}"
    val q = flagged.writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", TestSpark.tempDir("ckpt").toString).start()
    // three duplicates of one key in the SAME batch, positions out of order:
    // post-shuffle iterator order is arbitrary, so only a pos-sorted fold
    // keeps the min-pos row as the original (reference Unique first-wins)
    ms.addData(Seq(
      turn("a", 0, 2, text = "later", pos = 10),
      turn("a", 0, 1, text = "first", pos = 5),
      turn("a", 0, 3, text = "latest", pos = 20)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(name)
      .select("pos", "is_duplicate", "dup_of_pos").collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(rows == Set((5L, false, -1L), (10L, true, 5L), (20L, true, 5L)))
  }

  test("unique flag flavor: batch output equals streaming output for the same input") {
    import spark.implicits._
    implicit val enc = Encoders.product[TurnPos]
    val data = Seq(
      turn("a", 0, 1, pos = 10), turn("a", 0, 2, pos = 5), // same-batch dups
      turn("a", 1, 3, pos = 7),
      turn("b", 0, 4, pos = 9), turn("b", 0, 5, pos = 11))
    val ms = MemoryStream[TurnPos](enc, spark)
    val name = s"flag_eq_${System.nanoTime()}"
    val q = StreamDedup.flagWithinWatermark(
        ms.toDS().withWatermark("ts", "10 seconds"), gapMs = 30000L)
      .writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", TestSpark.tempDir("ckpt").toString).start()
    ms.addData(data)
    q.processAllAvailable()
    q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("conv_id", "turn_idx", "pos", "is_duplicate", "dup_of_pos").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getBoolean(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toSet
    assert(canon(spark.table(name)) == canon(StreamDedup.flagBatch(data.toDS()).toDF()))
  }

  test("tool pairing (streaming left-outer): unmatched call emits null row once watermark passes") {
    implicit val enc = Encoders.product[TurnPos]
    val ms = MemoryStream[TurnPos](enc, spark)
    val joined = ToolPair.streaming(ms.toDS().toDF(), maxDelay = "1 MINUTES",
      watermark = "1 minutes", leftOuter = true)
    val name = s"pair_outer_${System.nanoTime()}"
    val q = joined.writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", TestSpark.tempDir("ckpt").toString).start()
    ms.addData(Seq(
      turn("a", 0, 10, role = "assistant", tool = "search"),
      turn("a", 1, 20, role = "tool", tool = "search"),
      turn("a", 2, 30, role = "assistant", tool = "calc"))) // never answered
    q.processAllAvailable()
    // advance the watermark far past call_ts + maxDelay so the outer side flushes
    ms.addData(Seq(turn("z", 0, 2000, role = "tool", tool = "zzz")))
    q.processAllAvailable()
    ms.addData(Seq(turn("z", 1, 3000, role = "tool", tool = "zzz")))
    q.processAllAvailable()
    ms.addData(Seq(turn("z", 2, 4000, role = "tool", tool = "zzz")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(name)
      .select(col("call_turn_idx"), col("result_turn_idx")).collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) -1 else r.getInt(1))).toSet
    assert(rows == Set((0, 1), (2, -1))) // matched pair + null-padded unmatched call
  }

  test("tool pairing (streaming inner join) matches batch pairs") {
    implicit val enc = Encoders.product[TurnPos]
    val ms = MemoryStream[TurnPos](enc, spark)
    val joined = ToolPair.streaming(ms.toDS().toDF(), maxDelay = "5 MINUTES",
      watermark = "10 minutes", leftOuter = false)
    val name = s"pair_${System.nanoTime()}"
    val q = joined.writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", TestSpark.tempDir("ckpt").toString).start()
    val data = Seq(
      turn("a", 0, 10, role = "assistant", tool = "search"),
      turn("a", 1, 20, role = "tool", tool = "search"),       // pairs with call 0
      turn("a", 2, 30, role = "assistant", tool = "calc"),    // unmatched call
      turn("b", 0, 40, role = "assistant", tool = "search"),
      turn("b", 1, 999, role = "tool", tool = "search"))      // too late (> 5 min)
    ms.addData(data)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table(name)
      .select("conv_id", "call_turn_idx", "result_turn_idx", "latency_ms").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    assert(streamed == Set(("a", 0, 1, 10000L)))
    // batch flavor agrees on the matched subset
    import spark.implicits._
    val batchPairs = ToolPair.batch(data.toDF())
      .filter(col("result_turn_idx").isNotNull)
      .select("conv_id", "call_turn_idx", "result_turn_idx", "latency_ms").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    assert(batchPairs == streamed)
    // and flags the unmatched calls as nulls
    assert(ToolPair.batch(data.toDF()).filter(col("result_turn_idx").isNull).count() == 2)
  }

  test("tool timeouts (streaming absence detection) equal the batch left-anti flavor") {
    implicit val enc = Encoders.product[TurnPos]
    val ms = MemoryStream[TurnPos](enc, spark)
    val touts = ToolPair.timeoutsStreaming(ms.toDS().toDF(),
      maxDelay = "1 MINUTES", watermark = "1 minutes")
    val name = s"timeout_${System.nanoTime()}"
    val q = touts.writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", TestSpark.tempDir("ckpt").toString).start()
    val data = Seq(
      turn("a", 0, 10, role = "assistant", tool = "search"),
      turn("a", 1, 20, role = "tool", tool = "search"),     // answered in time
      turn("a", 2, 30, role = "assistant", tool = "calc"),  // never answered
      turn("b", 0, 40, role = "assistant", tool = "search"),
      turn("b", 1, 200, role = "tool", tool = "search"))    // answered too late (> 1 min)
    ms.addData(data)
    q.processAllAvailable()
    // advance the watermark far past call_ts + maxDelay so outer state flushes
    ms.addData(Seq(turn("z", 0, 2000, role = "tool", tool = "zzz")))
    q.processAllAvailable()
    ms.addData(Seq(turn("z", 1, 3000, role = "tool", tool = "zzz")))
    q.processAllAvailable()
    ms.addData(Seq(turn("z", 2, 4000, role = "tool", tool = "zzz")))
    q.processAllAvailable()
    q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("conv_id", "call_turn_idx", "tool").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    import spark.implicits._
    val expected = canon(ToolPair.timeoutsBatch(data.toDF(), maxDelay = "1 MINUTES"))
    assert(expected == Set(("a", 2, "calc"), ("b", 0, "search")))
    assert(canon(spark.table(name)) == expected)
  }

  test("batchPairs is the exact multiset the streaming inner join emits (multi-match call)") {
    // the bench harness's correctness guard (Bench.joinOnce) asserts
    // emitted-count == batchPairs-count; this pins the semantic it relies
    // on — ALL in-window (call, result) pairs, not the earliest-per-call
    // winner the `batch` flavor keeps
    implicit val enc = Encoders.product[TurnPos]
    val ms = MemoryStream[TurnPos](enc, spark)
    val joined = ToolPair.streaming(ms.toDS().toDF(), maxDelay = "5 MINUTES",
      watermark = "10 minutes", leftOuter = false)
    val name = s"pair_multi_${System.nanoTime()}"
    val q = joined.writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", TestSpark.tempDir("ckpt").toString).start()
    val data = Seq(
      turn("a", 0, 10, role = "assistant", tool = "search"),
      turn("a", 1, 20, role = "tool", tool = "search"),   // 1st match for call 0
      turn("a", 2, 40, role = "tool", tool = "search"),   // 2nd match for call 0
      turn("a", 3, 50, role = "assistant", tool = "search"),
      turn("a", 4, 60, role = "tool", tool = "search"))   // matches calls 0 AND 3
    // two batches so one pair crosses a micro-batch boundary
    ms.addData(data.take(3)); q.processAllAvailable()
    ms.addData(data.drop(3)); q.processAllAvailable()
    q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("conv_id", "call_turn_idx", "result_turn_idx", "latency_ms").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3))).sorted.toSeq
    import spark.implicits._
    val expected = canon(ToolPair.batchPairs(data.toDF()))
    assert(expected.map(t => (t._2, t._3)) == Seq((0, 1), (0, 2), (0, 4), (3, 4)))
    assert(canon(spark.table(name)) == expected)
    // the earliest-winner batch flavor keeps strictly fewer rows
    assert(ToolPair.batch(data.toDF()).count() == 2)
  }
}

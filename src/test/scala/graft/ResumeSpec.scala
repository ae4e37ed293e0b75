package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.stream.{FlaggedTurn, OrderRepair, StreamDedup, TurnPos}

/** Checkpoint-resume semantics (north rule: "the job resumes exactly-once
  * from any checkpoint"): the order-repair state — nextIdx and the
  * out-of-order buffer — must survive a query restart, and windowed
  * aggregations must run as a streaming query with watermark-driven append.
  */
class ResumeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ts(sec: Long) = new Timestamp(sec * 1000L)
  private def turn(conv: String, idx: Int, sec: Long): TurnPos =
    TurnPos(conv, idx, "user", s"t$idx", null, ts(sec), sec)

  test("order repair state survives checkpoint restart") {
    implicit val enc = Encoders.product[TurnPos]
    val ckpt = Files.createTempDirectory("repair_ckpt").toString
    val ms = MemoryStream[TurnPos](enc, spark)
    val emitted = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

    // memory sink cannot recover from a checkpoint — collect via
    // foreachBatch, which can
    def start() = OrderRepair.unpack(OrderRepair.streamingPacked(
        OrderRepair.pack(ms.toDS().withWatermark("ts", "10 seconds").toDF()),
        strict = true, gapMs = 60000L))
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("turn_idx").collect().foreach(r => emitted.add(r.getInt(0)))
      }.start()

    // run 1: turn 0 emitted, turn 2 buffered (gap at 1), then "crash"
    val q1 = start()
    ms.addData(Seq(turn("a", 0, 1), turn("a", 2, 3)))
    q1.processAllAvailable()
    q1.stop()
    assert(emitted.size == 1)

    // run 2: the gap-filling turn arrives; buffered turn 2 must still be in
    // state for the contiguous run 1,2,3 to emit
    val q2 = start()
    ms.addData(Seq(turn("a", 1, 2), turn("a", 3, 4)))
    q2.processAllAvailable()
    q2.stop()
    import scala.jdk.CollectionConverters._
    assert(emitted.asScala.toSeq.sorted == Seq(0, 1, 2, 3))
  }

  test("flag dedup first-seen state survives checkpoint restart") {
    implicit val enc = Encoders.product[TurnPos]
    val ckpt = Files.createTempDirectory("dedup_ckpt").toString
    val ms = MemoryStream[TurnPos](enc, spark)
    // (pos, is_duplicate, dup_of_pos) — a Set absorbs any replayed batch on
    // restart (foreachBatch re-delivery), so the assertion is on the
    // CONVERGED flagged multiset, the reference Unique first-wins contract
    val out = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(Long, Boolean, Option[Long])]()

    def start() = StreamDedup.flagWithinWatermark(
        ms.toDS().withWatermark("ts", "10 seconds"), gapMs = 60000L)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[FlaggedTurn], _: Long) =>
        b.collect().foreach(f => out.add((f.pos, f.is_duplicate, f.dup_of_pos)))
      }.start()

    // run 1: first arrivals for keys (a,0) and (a,1), then "crash"
    val q1 = start()
    ms.addData(Seq(turn("a", 0, 1), turn("a", 1, 2)))
    q1.processAllAvailable()
    q1.stop()
    import scala.jdk.CollectionConverters._
    assert(out.asScala == Set((1L, false, None), (2L, false, None)))

    // run 2 (restarted from checkpoint): a re-arrival of key (a,0) must be
    // flagged with the pre-crash original's position — first-seen state
    // (Unique.cs:89-93 first-wins) survived the restart
    val q2 = start()
    ms.addData(Seq(turn("a", 0, 5), turn("b", 0, 6)))
    q2.processAllAvailable()
    q2.stop()
    assert(out.asScala == Set(
      (1L, false, None), (2L, false, None),
      (5L, true, Some(1L)), (6L, false, None)))
  }

  test("stream-stream tool-pair join state survives checkpoint restart") {
    implicit val enc = Encoders.product[TurnPos]
    val ckpt = Files.createTempDirectory("pair_ckpt").toString
    val ms = MemoryStream[TurnPos](enc, spark)
    // a Set absorbs any replayed batch on restart (foreachBatch
    // re-delivery), so the assertion is on the CONVERGED pair multiset
    val out = java.util.concurrent.ConcurrentHashMap.newKeySet[(String, Int, Int)]()

    def start() = graft.stream.ToolPair.streaming(ms.toDS().toDF(),
        maxDelay = "5 MINUTES", watermark = "10 seconds", leftOuter = false)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("conv_id", "call_turn_idx", "result_turn_idx").collect()
          .foreach(r => out.add((r.getString(0), r.getInt(1), r.getInt(2))))
      }.start()

    def t(conv: String, idx: Int, sec: Long, role: String, tool: String) =
      TurnPos(conv, idx, role, s"t$idx", tool, ts(sec), sec)

    // run 1: a tool call arrives but its result does not — the buffered
    // call is join state that must survive the crash
    val q1 = start()
    ms.addData(Seq(t("a", 0, 10, "assistant", "search")))
    q1.processAllAvailable()
    q1.stop()
    assert(out.isEmpty)

    // run 2 (restarted from checkpoint): the result arrives; the pair can
    // only emit if the pre-crash call is still in the restored join state
    val q2 = start()
    ms.addData(Seq(t("a", 1, 20, "tool", "search"),
                   t("b", 0, 30, "assistant", "calc"),
                   t("b", 1, 40, "tool", "calc")))
    q2.processAllAvailable()
    q2.stop()
    import scala.jdk.CollectionConverters._
    assert(out.asScala == Set(("a", 0, 1), ("b", 0, 1)))
  }

  test("session window aggregation runs as a streaming query") {
    implicit val enc = Encoders.product[TurnPos]
    val ms = MemoryStream[TurnPos](enc, spark)
    val agg = ms.toDS().toDF()
      .withWatermark("ts", "5 seconds")
      .groupBy(session_window(col("ts"), "30 seconds"), col("conv_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("s_start"), col("conv_id"), col("n"))
    val name = s"sess_${System.nanoTime()}"
    val q = agg.writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString).start()
    // session 1: turns at 10,20 (gap < 30s); session 2 at 100; close via 1000
    ms.addData(Seq(turn("a", 0, 10), turn("a", 1, 20), turn("a", 2, 100)))
    q.processAllAvailable()
    ms.addData(Seq(turn("z", 0, 1000)))
    q.processAllAvailable()
    ms.addData(Seq(turn("z", 1, 2000)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(name).collect()
      .filter(_.getAs[String]("conv_id") == "a")
      .map(r => r.getAs[Long]("n")).sorted.toSeq
    assert(rows == Seq(1L, 2L)) // two sessions: {10,20} and {100}
  }

  test("sliding window assigns each event to both overlapping windows") {
    implicit val enc = Encoders.product[TurnPos]
    val ms = MemoryStream[TurnPos](enc, spark)
    val agg = ms.toDS().toDF()
      .withWatermark("ts", "5 seconds")
      .groupBy(window(col("ts"), "2 minutes", "1 minute"), col("conv_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("conv_id"), col("n"))
    val name = s"slide_${System.nanoTime()}"
    val q = agg.writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString).start()
    ms.addData(Seq(turn("a", 0, 70))) // minute 1 → windows starting at 0:00 and 1:00
    q.processAllAvailable()
    ms.addData(Seq(turn("z", 0, 2000)))
    q.processAllAvailable()
    ms.addData(Seq(turn("z", 1, 3000)))
    q.processAllAvailable()
    q.stop()
    val starts = spark.table(name).collect()
      .filter(_.getAs[String]("conv_id") == "a")
      .map(r => r.getAs[Timestamp]("w_start").getTime / 1000).sorted.toSeq
    assert(starts == Seq(0L, 60L))
  }

  test("tumbling window aggregation runs as a streaming query (append on watermark)") {
    implicit val enc = Encoders.product[TurnPos]
    val ms = MemoryStream[TurnPos](enc, spark)
    val agg = ms.toDS().toDF()
      .withWatermark("ts", "5 seconds")
      .groupBy(window(col("ts"), "1 minute"), col("conv_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("conv_id"), col("n"))
    val name = s"win_${System.nanoTime()}"
    val q = agg.writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString).start()
    // minute 0: three turns; then jump past the watermark so it closes
    ms.addData(Seq(turn("a", 0, 10), turn("a", 1, 20), turn("b", 0, 30)))
    q.processAllAvailable()
    ms.addData(Seq(turn("a", 2, 200)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(name).collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Long]("n"))).toSet
    assert(rows == Set(("a", 2L), ("b", 1L))) // minute-0 window appended once closed
  }
}

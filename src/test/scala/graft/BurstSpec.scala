package graft

import java.sql.Timestamp

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.stream.{Burst, KeyedEv}

/** Streaming CEP burst detection: runs of consecutive matching events per
  * user survive out-of-order arrival, micro-batch splits, and watermark
  * eviction; the streaming flavor equals the batch (oracle-pinned) flavor.
  */
class BurstSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private implicit val kevEnc = Encoders.product[KeyedEv]

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  private def ev(user: Long, id: Long, sec: Long, err: Boolean): KeyedEv =
    KeyedEv(user, id, ts(sec), err)

  private type Run = (Long, Long, Long, Long) // user, len, firstId, lastId

  private def collectRuns(rows: Array[org.apache.spark.sql.Row]): Set[Run] =
    rows.map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("run_len"),
      r.getAs[Long]("first_event_id"), r.getAs[Long]("last_event_id"))).toSet

  private def runStreaming(batches: Seq[Seq[KeyedEv]]): Set[Run] = {
    val ms = MemoryStream[KeyedEv](kevEnc, spark)
    val out = Burst.streaming(
      ms.toDS().withWatermark("ts", "5 seconds"), gapMs = 20000L, minRun = 3)
    val name = s"burst_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append")
      .option("checkpointLocation", TestSpark.tempDir("ckpt").toString)
      .start()
    batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    q.stop()
    collectRuns(spark.table(name).collect())
  }

  private def runBatch(events: Seq[KeyedEv]): Set[Run] = {
    import spark.implicits._
    collectRuns(Burst.batch(events.toDS(), minRun = 3).toDF().collect())
  }

  // user 1: errors 1-3 (run of 3), view, errors 5-6 (run of 2 — silent)
  // user 2: never consecutive
  // user 3: trailing open run of 4 — closed only by eviction/end-of-data
  private val fixture = Seq(
    ev(1, 10, 1, err = true), ev(1, 11, 2, err = true), ev(1, 12, 3, err = true),
    ev(1, 13, 4, err = false), ev(1, 14, 5, err = true), ev(1, 15, 6, err = true),
    ev(2, 20, 1, err = true), ev(2, 21, 2, err = false), ev(2, 22, 3, err = true),
    ev(3, 30, 1, err = true), ev(3, 31, 2, err = true),
    ev(3, 32, 3, err = true), ev(3, 33, 4, err = true),
    // watermark driver: far-future non-error, advances wm past every gap
    ev(99, 990, 1000, err = false))

  private val expected: Set[Run] = Set((1L, 3L, 10L, 12L), (3L, 4L, 30L, 33L))

  test("batch: maximal runs >= 3 emit; trailing open run closed at end-of-data") {
    assert(runBatch(fixture) == expected)
  }

  test("streaming equals batch under out-of-order arrival across micro-batches") {
    // deliver shuffled within the 5 s watermark slack, split over batches;
    // the far-future event arrives last and forces eviction of open state
    val b1 = Seq(fixture(2), fixture(0), fixture(6), fixture(9)) // e12, e10, e20, e30
    val b2 = Seq(fixture(1), fixture(3), fixture(7), fixture(10), fixture(11)) // e11, view13, e21, e31, e32
    val b3 = Seq(fixture(4), fixture(5), fixture(8), fixture(12)) // e14, e15, e22, e33
    val b4 = Seq(fixture(13))
    val streamed = runStreaming(Seq(b1, b2, b3, b4))
    assert(streamed == expected)
    assert(streamed == runBatch(fixture))
  }

  test("open run and its buffered continuation survive checkpoint restart") {
    val ckpt = TestSpark.tempDir("burst_ckpt").toString
    val ms = MemoryStream[KeyedEv](kevEnc, spark)
    val out = java.util.concurrent.ConcurrentHashMap.newKeySet[Run]()

    // memory sink cannot recover from a checkpoint — collect via
    // foreachBatch (a Set absorbs any replayed batch on restart)
    def start() = Burst.streaming(
        ms.toDS().withWatermark("ts", "5 seconds"), gapMs = 20000L, minRun = 3)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.stream.BurstOut], _: Long) =>
        b.collect().foreach(o =>
          out.add((o.user_id, o.run_len, o.first_event_id, o.last_event_id)))
      }.start()

    // run 1: two errors — an OPEN run of 2 in state, nothing emitted; "crash"
    val q1 = start()
    ms.addData(Seq(ev(5, 50, 1, err = true), ev(5, 51, 2, err = true)))
    q1.processAllAvailable()
    q1.stop()
    import scala.jdk.CollectionConverters._
    assert(out.asScala.isEmpty)

    // run 2 (restarted from checkpoint): the continuation extends the
    // pre-crash open run; eviction closes it as ONE run of 3
    val q2 = start()
    ms.addData(Seq(ev(5, 52, 3, err = true)))
    q2.processAllAvailable()
    ms.addData(Seq(ev(99, 992, 1000, err = false)))
    q2.processAllAvailable()
    q2.stop()
    assert(out.asScala == Set((5L, 3L, 50L, 52L)))
  }

  test("property: batch flavor equals a sequential reference over random inputs") {
    // in-JVM reference: per user, sort by (ts, event_id), scan for maximal
    // runs of >= 3 — the semantics the SQL oracle states declaratively
    def reference(events: Seq[KeyedEv]): Set[Run] =
      events.groupBy(_.user_id).flatMap { case (u, evs) =>
        val sorted = evs.sortBy(e => (e.ts.getTime, e.event_id))
        val runs = scala.collection.mutable.Buffer.empty[Run]
        var len = 0L; var first = 0L; var last = 0L
        def close(): Unit = { if (len >= 3) runs += ((u, len, first, last)); len = 0 }
        sorted.foreach { e =>
          if (e.is_error) { if (len == 0) first = e.event_id; last = e.event_id; len += 1 }
          else close()
        }
        close()
        runs
      }.toSet

    val rnd = new scala.util.Random(42)
    (0 until 5).foreach { _ =>
      val events = (0 until 60).map { i =>
        ev(user = rnd.nextInt(4).toLong, id = i.toLong,
          sec = rnd.nextInt(50).toLong, err = rnd.nextInt(3) != 0)
      }
      // distinct (user, ts) so the reference's order is total like the
      // operator's (equal-ts ties break by event_id in both — keep them)
      assert(runBatch(events) == reference(events))
    }
  }

  test("streaming: run continuing past an advanced watermark stays one run") {
    // errors at ts 11-12 arrive first; the ts=17 event advances the
    // watermark to 12, so e70 is complete (below wm) when the continuation
    // at ts 13-14 arrives — STRICTLY above wm, because Spark's late filter
    // drops rows at ts <= watermark. The continuation must extend the same
    // open run, not start a new one.
    val a = Seq(ev(7, 70, 11, err = true), ev(7, 71, 12, err = true))
    val b = Seq(ev(8, 80, 17, err = false))
    val c = Seq(ev(7, 72, 13, err = true), ev(7, 73, 14, err = true))
    val d = Seq(ev(99, 991, 1000, err = false))
    assert(runStreaming(Seq(a, b, c, d)) == Set((7L, 4L, 70L, 73L)))
  }
}

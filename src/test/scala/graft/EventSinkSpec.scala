package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sink.{AggregateEventSink, CollectingEventSink, ConsoleEventSink, ErrorSplit, EventSink}
import graft.transform._

/** Event channel: valid/error split and the lifecycle sink fan-out
  * (reference: EventSinks/AggregateEventSink.cs:34-79, minimum-level filter
  * of ConsoleEventSink.cs:16-95).
  */
class EventSinkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("error split: one row per event with record keys; valid excludes stopped") {
    val df = Seq((1L, "ok"), (2L, null), (3L, " ")).toDF("pos", "f")
    val piped = Pipeline(df, Seq(Required(Seq("f"))))
    val (valid, errors) = ErrorSplit.split(piped, Seq("pos"))
    assert(valid.select("pos").as[Long].collect().toSet == Set(1L))
    val errs = errors.collect().map(r =>
      (r.getAs[Long]("pos"), r.getAs[Boolean]("stop"), r.getAs[String]("level"))).toSet
    assert(errs == Set((2L, true, "ERROR"), (3L, true, "ERROR")))
  }

  test("error write: a replayed batch id replaces its own files; another id adds its rows") {
    val dir = TestSpark.tempDir("err_write").toString
    val (_, errors) = ErrorSplit.split(
      Pipeline(Seq((1L, "ok"), (2L, null), (3L, " ")).toDF("pos", "f"), Seq(Required(Seq("f")))),
      Seq("pos"))
    def written = spark.read.parquet(dir).select("pos").as[Long].collect().sorted.toSeq
    assert(ErrorSplit.write(errors, dir, 0L) == 2)
    assert(ErrorSplit.write(errors, dir, 0L) == 2) // replay
    assert(written == Seq(2L, 3L))
    ErrorSplit.write(errors.filter($"pos" === 3L), dir, 1L)
    assert(written == Seq(2L, 3L, 3L))
    // a batch without errors writes nothing
    assert(ErrorSplit.write(errors.limit(0), dir, 2L) == 0)
    val names = new java.io.File(dir).list().filterNot(_.startsWith(".")).sorted.toSeq
    assert(names.nonEmpty && names.forall(_.matches("batch-[01]-\\d+\\.parquet")), names)
  }

  test("per-record console mode: one line per record event at/above minimum level") {
    val df = Seq((1L, "ok"), (2L, null), (3L, " ")).toDF("pos", "f")
    val piped = Pipeline(df, Seq(Required(Seq("f"))))
    val (_, errors) = ErrorSplit.split(piped, Seq("pos"))
    // the job's path: recordEvents → EventSink.notify, one call per event
    def notifyAll(sink: EventSink, minimumLevel: String): Unit =
      ErrorSplit.recordEvents(errors, Seq("pos"), minimumLevel)
        .toLocalIterator().forEachRemaining(e => sink.notify(e._1, e._2))
    val captured = new CollectingEventSink
    notifyAll(captured, "WARN")
    val events = captured.captured.toSeq.sortBy(_._2)
    assert(events.length == 2, s"got: ${events.mkString("; ")}")
    assert(events.forall { case (level, msg) => level == "ERROR" && msg.startsWith("record(pos=") })
    assert(events.exists(_._2.startsWith("record(pos=2")) &&
      events.exists(_._2.startsWith("record(pos=3")))
    // a minimum level above the events' level suppresses them
    assert(ErrorSplit.recordEvents(errors, Seq("pos"), "CRITICAL").isEmpty)
    // the console terminus prints without error
    notifyAll(new ConsoleEventSink("WARN"), "WARN")
  }

  test("dataflow lifecycle notifications fire from a real run") {
    val captured = new CollectingEventSink
    val df = Seq((1L, "a"), (2L, "b")).toDF("pos", "f")
    val flow = graft.dsl.Dataflow("lifecycle-test").sink(captured)
      .source(df).source(df)
      .transform(Required(Seq("f")))
    flow.run().count()
    val msgs = captured.captured.map(_._2)
    assert(msgs.head == "Executing dataflow: lifecycle-test")
    assert(msgs.count(_.toLowerCase.contains("data source")) == 4) // 2 sources × attach begin/done
    assert(msgs.last == "Completed dataflow: lifecycle-test")
  }

  test("transcript pipeline notifies per-batch error counts") {
    val base = TestSpark.tempDir("evt_pipe").toString
    val in = s"$base/in"
    Seq(("c1", 0, "user", "hello", null.asInstanceOf[String],
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L),
      ("c1", 1, "assistant", null.asInstanceOf[String], null.asInstanceOf[String],
        java.sql.Timestamp.valueOf("2024-01-01 00:00:05"), 2L))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "pos")
      .write.parquet(in)
    val captured = new CollectingEventSink
    val (q, _) = graft.jobs.TranscriptPipeline.startStateful(spark,
      graft.jobs.TranscriptPipeline.Config(in, s"$base/out", s"$base/errs",
        s"$base/ckpt", s"$base/progress", eventSink = captured,
        perRecordLevel = Some("WARN")))
    q.processAllAvailable()
    q.stop()
    val msgs = captured.captured
    assert(msgs.exists { case (lvl, m) =>
      lvl == "WARN" && m.contains("1 error rows") }, s"got: $msgs")
    assert(msgs.exists(_._2.contains("merged into")))
    // per-record mode: the bad row's event arrives as its own notification,
    // keyed, at the event's level
    assert(msgs.exists { case (lvl, m) =>
      lvl == "ERROR" && m.startsWith("record(conv_id=c1, turn_idx=1, pos=2)") },
      s"got: $msgs")
  }

  test("sourceCsv: fatal read notifies sinks and contributes zero records") {
    val captured = new CollectingEventSink
    val out = graft.dsl.Dataflow("csv-flow")
      .sourceCsv(spark, "src/test/resources/csv/DuplicateHeader.csv")
      .sink(captured) // attached AFTER sourceCsv — events must still arrive
      .run()
    assert(out.count() == 0)
    assert(captured.captured.exists { case (lvl, m) =>
      lvl == "CRITICAL" && m.contains("Duplicate header name") })
  }

  test("sourceCsv: valid file feeds the pipeline like any source") {
    val out = graft.dsl.Dataflow("csv-flow2")
      .sourceCsv(spark, "src/test/resources/csv/ValidFile.csv")
      .transform(Required(Seq("B")))
      .run()
    // rows 4 and 5 have blank/whitespace B → stopped
    assert(out.count() == 4)
    assert(out.filter(graft.model.Events.stoppedCol).count() == 2)
  }

  test("sourceCsv: quote/escape configuration reaches the parser") {
    val f = TestSpark.tempDir("dslq").resolve("dslq.csv")
    java.nio.file.Files.write(f, "A,B\n'x,y','ok'\n".getBytes("UTF-8"))
    val out = graft.dsl.Dataflow("csv-quote")
      .sourceCsv(spark, f.toString, quote = '\'')
      .run()
    val row = out.select("A", "B").collect().head
    assert(row.getString(0) == "x,y" && row.getString(1) == "ok")
  }

  test("aggregate sink fans out sequentially; level filter works") {
    val a = new CollectingEventSink
    val b = new CollectingEventSink
    val agg = new AggregateEventSink(Seq(a, b))
    agg.notify("ERROR", "boom")
    agg.notify("INFO", "fyi")
    assert(a.captured == b.captured && a.captured.size == 2)
    // console sink's level filter does not throw and filters below minimum
    new ConsoleEventSink("CRITICAL").notify("INFO", "suppressed")
  }
}

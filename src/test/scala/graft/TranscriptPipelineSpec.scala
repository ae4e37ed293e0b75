package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.jobs.TranscriptPipeline
import graft.stream.{OrderRepair, TurnPos}

/** End-to-end flagship job: file stream → validation → error split → order
  * repair → exactly-once merge + progress log, including kill-and-resume
  * with re-delivery converging to the same output table (FIXTURES.md §5).
  */
class TranscriptPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  private def writeBatchFile(dir: String, turns: Seq[TurnPos], n: Int): Unit =
    turns.toDS().coalesce(1).write.mode("append").parquet(dir)

  test("full pipeline: valid rows merged ordered, invalid rows in errors table, progress logged, resume converges") {
    val in = Files.createTempDirectory("tp_in").toString
    val out = Files.createTempDirectory("tp_out").toString
    val errs = Files.createTempDirectory("tp_errs").toString
    val ckpt = Files.createTempDirectory("tp_ckpt").toString
    val progress = Files.createTempDirectory("tp_progress").toString
    val cfg = TranscriptPipeline.Config(in, out, errs, ckpt, progress,
      maxFilesPerTrigger = 1)

    // file 1: conv a out of order + one invalid (blank text) turn
    writeBatchFile(in, Seq(
      TurnPos("a", 1, "assistant", "r1", "search", ts(2), 2),
      TurnPos("a", 0, "user", "q0", null, ts(1), 1),
      TurnPos("a", 2, "tool", "   ", "search", ts(3), 3)), 1)

    val (q1, sink1) = TranscriptPipeline.start(spark, cfg)
    q1.processAllAvailable()
    q1.stop()

    // the stopped (blank-text) turn short-circuits the write path exactly
    // like the reference's event decorator skipping DbCommand — it lands in
    // the errors table only
    val t1 = sink1.read(spark).orderBy("conv_id", "turn_idx").collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"), r.getAs[String]("text")))
    assert(t1.toSeq == Seq(("a", 0, "q0"), ("a", 1, "r1")))

    val errRows = spark.read.parquet(errs).collect()
    assert(errRows.length == 1)
    assert(errRows.head.getAs[String]("description").contains("required for the field [text]"))

    // "crash", add file 2, restart from the same checkpoint — file 1 is NOT
    // reprocessed (offsets) and the merge journal makes any replay a no-op
    writeBatchFile(in, Seq(
      TurnPos("a", 1, "assistant", "r1-amended", "search", ts(10), 10),
      TurnPos("b", 0, "user", "hello", null, ts(11), 11)), 2)
    val (q2, sink2) = TranscriptPipeline.start(spark, cfg)
    q2.processAllAvailable()
    q2.stop()

    val t2 = sink2.read(spark).orderBy("conv_id", "turn_idx").collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"), r.getAs[String]("text")))
    assert(t2.toSeq == Seq(
      ("a", 0, "q0"), ("a", 1, "r1-amended"), ("b", 0, "hello")))

    // progress log captured batches from both runs
    val log = Files.readString(java.nio.file.Paths.get(progress, "progress.jsonl"))
    assert(log.linesIterator.count(_.contains("\"event\":\"progress\"")) >= 2)
  }

  /** Writes `turns` as one parquet file straight into the watched `dir`,
    * with modification time `mtimeS`, so the file source's arrival order
    * is the test's. */
  private def writeFileAt(dir: String, name: String, turns: Seq[TurnPos], mtimeS: Long): Unit = {
    val tmp = Files.createTempDirectory("tp_file")
    turns.toDS().coalesce(1).write.mode("overwrite").parquet(tmp.resolve("out").toString)
    val part = Files.list(tmp.resolve("out")).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val dst = java.nio.file.Paths.get(dir, s"$name.parquet")
    Files.copy(part, dst)
    dst.toFile.setLastModified(mtimeS * 1000L)
  }

  test("stateful job: order repaired across micro-batches, state counted once per batch, restart converges") {
    val in = Files.createTempDirectory("tps_in").toString
    val out = Files.createTempDirectory("tps_out").toString
    val errs = Files.createTempDirectory("tps_errs").toString
    val ckpt = Files.createTempDirectory("tps_ckpt").toString
    val progress = Files.createTempDirectory("tps_progress").toString
    val cfg = TranscriptPipeline.Config(in, out, errs, ckpt, progress,
      maxFilesPerTrigger = 1)
    val t0 = 1000000L
    def t(conv: String, idx: Int, sec: Long, pos: Long) =
      TurnPos(conv, idx, "user", s"$conv-$idx-$pos", "none", ts(t0 + sec), pos)
    // every turn passes validation: startStateful does not split off
    // stop-flagged turns yet (their error channel is an open defect), so
    // this test covers order repair, state and the sink only
    val file1 = Seq(t("a", 1, 2, 1), t("a", 2, 3, 2), t("b", 0, 1, 3), t("b", 2, 5, 4),
      t("c", 0, 1, 5), t("c", 1, 2, 6))
    // second micro-batch: the turns a and b were missing, a duplicate of b/2
    // (min pos wins), and conversation d, whose turn 0 never arrives. No
    // event time passes the first file's, so the watermark does not move
    // and this data batch is the run's last.
    val file2 = Seq(t("a", 0, 1, 7), t("b", 1, 4, 8), t("b", 2, 5, 9), t("a", 3, 4, 10),
      t("d", 1, 3, 11))
    // a day later: its watermark times every conversation out, flushing d
    val sentinel = Seq(t("zz", 0, 86400, 12))
    val now = System.currentTimeMillis() / 1000
    writeFileAt(in, "f1", file1, now - 3)
    writeFileAt(in, "f2", file2, now - 2)

    val (q1, _) = TranscriptPipeline.startStateful(spark, cfg)
    q1.processAllAvailable()
    val last = q1.lastProgress
    q1.stop()
    assert(last.numInputRows == file2.size)
    // a, b, c and d are held in state; a state operator that ran twice in
    // the batch would count them twice
    assert(last.stateOperators(0).numRowsTotal == 4)

    // restart from the same checkpoint with the sentinel
    writeFileAt(in, "f3", sentinel, now - 1)
    val (q2, sink) = TranscriptPipeline.startStateful(spark, cfg)
    q2.processAllAvailable()
    q2.stop()

    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts", "pos").as[TurnPos]
      .collect().toSet
    val expected = rows(OrderRepair.batch((file1 ++ file2 ++ sentinel).toDS(), strict = false).toDF())
    assert(expected.exists(r => r.conv_id == "d" && r.turn_idx == 1))
    assert(rows(sink.read(spark)) == expected)
  }

  test("two concurrent jobs: each progress log is valid JSONL of its own query, listeners leave on stop") {
    // a tab and a CR in one input dir reach its source description
    val jobs = Seq("tp_in\t\r", "tp_in").map { inName =>
      val in = Files.createTempDirectory(inName).toString
      writeBatchFile(in, Seq(
        TurnPos("a", 0, "user", "q0", null, ts(1), 1),
        TurnPos("a", 1, "assistant", "r1", "search", ts(2), 2)), 1)
      TranscriptPipeline.Config(in, Files.createTempDirectory("tpc_out").toString,
        Files.createTempDirectory("tpc_errs").toString,
        Files.createTempDirectory("tpc_ckpt").toString,
        Files.createTempDirectory("tpc_progress").toString)
    }
    val before = spark.streams.listListeners().toSet
    val (qa, _) = TranscriptPipeline.start(spark, jobs(0))
    val (qb, _) = TranscriptPipeline.startStateful(spark, jobs(1))
    val added = spark.streams.listListeners().toSet -- before
    assert(added.size == 2)
    Seq(qa, qb).foreach(_.processAllAvailable())
    Seq(qa, qb).foreach(_.stop())
    // each listener leaves after its run's terminated event, which the
    // listener bus delivers asynchronously
    eventually(timeout(30.seconds)) {
      assert(spark.streams.listListeners().toSet.intersect(added).isEmpty)
    }

    val json = new ObjectMapper()
    Seq(qa -> jobs(0), qb -> jobs(1)).foreach { case (q, cfg) =>
      val lines = Files.readAllLines(java.nio.file.Paths.get(cfg.progressDir, "progress.jsonl"))
        .asScala.toSeq
      val parsed = lines.map(json.readTree) // throws on an invalid line
      assert(parsed.map(_.get("id").asText()).toSet == Set(q.id.toString), lines.mkString("\n"))
      val events = parsed.map(_.get("event").asText())
      assert(events.head == "started" && events.last == "terminated" && events.contains("progress"),
        events)
      val sources = parsed.filter(_.has("sources")).flatMap(_.get("sources").asScala)
      assert(sources.exists(_.get("description").asText().contains(cfg.inputDir)))
    }
  }

  test("stateful job plan: one micro-batch runs one state operator over one scan of the input dir") {
    val in = Files.createTempDirectory("tpp_in").toString
    val cfg = TranscriptPipeline.Config(in, Files.createTempDirectory("tpp_out").toString,
      Files.createTempDirectory("tpp_errs").toString,
      Files.createTempDirectory("tpp_ckpt").toString,
      Files.createTempDirectory("tpp_progress").toString)
    // every turn is in order: all five leave the repair in this batch.
    // Event time stays under the 10-minute watermark delay, so the
    // watermark does not move, no further batch runs, and the data batch
    // is the query's last execution.
    val turns = Seq(
      TurnPos("a", 0, "user", "q0", "none", ts(1), 1),
      TurnPos("a", 1, "assistant", "r1", "none", ts(2), 2),
      TurnPos("a", 2, "user", "q2", "none", ts(3), 3),
      TurnPos("b", 0, "user", "q0", "none", ts(1), 4),
      TurnPos("b", 1, "assistant", "r1", "none", ts(2), 5))
    writeBatchFile(in, turns, 1)

    val (q, sink) = TranscriptPipeline.startStateful(spark, cfg)
    q.processAllAvailable()
    val last = q.lastProgress
    val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    q.stop()
    assert(last.batchId == 0 && last.numInputRows == turns.size)
    assert(sink.read(spark).count() == turns.size)

    val state = plan.collect { case p if p.nodeName == "FlatMapGroupsWithState" => p }
    assert(state.size == 1, s"expected one state operator in:\n$plan")
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1, s"expected one file scan in:\n$plan")
    assert(scans.head.relation.location.inputFiles.forall(_.contains(in)))
    // the SQL metrics sum over every run of the batch's plan: a second run
    // of the state operator or the scan would double them
    assert(state.head.metrics("numOutputRows").value == turns.size)
    assert(scans.head.metrics("numOutputRows").value == turns.size)
    // the one grouping shuffle on the conversation key feeds the repair
    val shuffles = state.head.collect { case e: ShuffleExchangeLike => e }
    assert(shuffles.size == 1, s"shuffle exchanges before the state operator in:\n$plan")
  }
}

package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.jobs.TranscriptPipeline
import graft.stream.{OrderRepair, TurnPos}

/** End-to-end flagship job: file stream → validation → order repair →
  * error split → exactly-once merge + progress log, including kill-and-resume
  * with re-delivery converging to the same output table (FIXTURES.md §5).
  */
class TranscriptPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  private def writeBatchFile(dir: String, turns: Seq[TurnPos], n: Int): Unit =
    turns.toDS().coalesce(1).write.mode("append").parquet(dir)

  test("full pipeline: valid rows merged ordered, invalid rows in errors table, progress logged, resume converges") {
    val in = TestSpark.tempDir("tp_in").toString
    val out = TestSpark.tempDir("tp_out").toString
    val errs = TestSpark.tempDir("tp_errs").toString
    val ckpt = TestSpark.tempDir("tp_ckpt").toString
    val progress = TestSpark.tempDir("tp_progress").toString
    val cfg = TranscriptPipeline.Config(in, out, errs, ckpt, progress,
      maxFilesPerTrigger = 1)

    // file 1: conv a out of order + one invalid (blank text) turn
    writeBatchFile(in, Seq(
      TurnPos("a", 1, "assistant", "r1", "search", ts(2), 2),
      TurnPos("a", 0, "user", "q0", null, ts(1), 1),
      TurnPos("a", 2, "tool", "   ", "search", ts(3), 3)), 1)

    val (q1, sink1) = TranscriptPipeline.startStateful(spark, cfg)
    q1.processAllAvailable()
    q1.stop()

    // the stopped (blank-text) turn short-circuits the write path exactly
    // like the reference's event decorator skipping DbCommand — it lands in
    // the errors table only
    val t1 = sink1.read(spark).orderBy("conv_id", "turn_idx").collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"), r.getAs[String]("text")))
    assert(t1.toSeq == Seq(("a", 0, "q0"), ("a", 1, "r1")))

    def errRows = spark.read.parquet(errs).collect()
    assert(errRows.length == 1)
    assert(errRows.head.getAs[String]("description").contains("required for the field [text]"))
    assert(errRows.head.getAs[Int]("turn_idx") == 2)

    // "crash", add file 2, restart from the same checkpoint — file 1 is NOT
    // reprocessed (offsets) and the merge journal makes any replay a no-op.
    // A re-sent turn of an already emitted key is dropped: the first turn
    // per key stays.
    writeBatchFile(in, Seq(
      TurnPos("a", 1, "assistant", "r1-amended", "search", ts(10), 10),
      TurnPos("b", 0, "user", "hello", null, ts(11), 11)), 2)
    val (q2, sink2) = TranscriptPipeline.startStateful(spark, cfg)
    q2.processAllAvailable()
    q2.stop()

    val t2 = sink2.read(spark).orderBy("conv_id", "turn_idx").collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"), r.getAs[String]("text")))
    assert(t2.toSeq == Seq(("a", 0, "q0"), ("a", 1, "r1"), ("b", 0, "hello")))
    assert(errRows.length == 1)

    // progress log captured batches from both runs
    val log = Files.readString(java.nio.file.Paths.get(progress, "progress.jsonl"))
    assert(log.linesIterator.count(_.contains("\"event\":\"progress\"")) >= 2)
  }

  private def dirs(prefix: String): TranscriptPipeline.Config =
    TranscriptPipeline.Config(TestSpark.tempDir(s"${prefix}_in").toString,
      TestSpark.tempDir(s"${prefix}_out").toString,
      TestSpark.tempDir(s"${prefix}_errs").toString,
      TestSpark.tempDir(s"${prefix}_ckpt").toString,
      TestSpark.tempDir(s"${prefix}_progress").toString)

  /** (conv_id, turn_idx, pos, description) of every row in the errors dir. */
  private def errorRows(cfg: TranscriptPipeline.Config): Set[(String, Integer, Long, String)] =
    spark.read.parquet(cfg.errorsDir).collect().map(r => (r.getAs[String]("conv_id"),
      r.getAs[Integer]("turn_idx"), r.getAs[Long]("pos"), r.getAs[String]("description"))).toSet

  test("malformed keys: rows with a null conv_id or turn_idx become error rows, not a crash") {
    val cfg = dirs("tpm")
    val rows = Seq(
      Row("a", 0, "user", "q0", "none", ts(1), 1L),
      Row("a", null, "user", "no index", "none", ts(2), 2L),
      Row(null, 0, "user", "no conversation", "none", ts(3), 3L),
      Row("a", 1, "assistant", "r1", "none", ts(4), 4L))
    spark.createDataFrame(rows.asJava, TranscriptPipeline.turnSchema)
      .coalesce(1).write.mode("append").parquet(cfg.inputDir)
    val (q, sink) = TranscriptPipeline.startStateful(spark, cfg)
    q.processAllAvailable()
    val last = q.lastProgress
    q.stop()
    assert(q.exception.isEmpty)
    assert(sink.read(spark).select("conv_id", "turn_idx").as[(String, Int)].collect().toSet ==
      Set(("a", 0), ("a", 1)))
    assert(errorRows(cfg) == Set(
      ("a", null, 2L, "A value is required for the field [turn_idx]"),
      (null, 0, 3L, "A value is required for the field [conv_id]")))
    // the malformed rows hold no state: only conversation a does
    assert(last.stateOperators(0).numRowsTotal == 1)
  }

  test("duplicates: every stop-flagged turn reaches the errors dir; the table is the valid turns' repair") {
    val cfg = dirs("tpd").copy(maxFilesPerTrigger = 1)
    val t0 = 1000000L
    def t(conv: String, idx: Int, pos: Long, text: String = "ok") =
      TurnPos(conv, idx, "user", text, "none", ts(t0 + pos), pos)
    val file1 = Seq(
      t("a", 0, 5), t("a", 0, 1, " "),  // a stopped turn at a lower pos loses the slot
      t("a", 1, 6), t("a", 1, 9, " "),  // ... and at a higher pos
      t("b", 1, 7, " "), t("b", 1, 8, " "),  // two stopped turns for one slot
      t("b", 0, 2),
      t("c", 0, 3, " "), t("c", 1, 4))  // a stopped turn emitted in its slot
    // a stopped duplicate of a key emitted in the first micro-batch, and two
    // valid turns for the slot the stopped c/0 took there (min pos wins)
    val file2 = Seq(t("a", 0, 20, " "), t("b", 2, 21), t("c", 0, 23), t("c", 0, 22))
    val now = System.currentTimeMillis() / 1000
    writeFileAt(cfg.inputDir, "f1", file1.toDF(), now - 2)
    writeFileAt(cfg.inputDir, "f2", file2.toDF(), now - 1)
    val (q, sink) = TranscriptPipeline.startStateful(spark, cfg)
    q.processAllAvailable()
    q.stop()

    val stopped = (file1 ++ file2).filter(_.text.trim.isEmpty)
    assert(errorRows(cfg).map(e => (e._1, e._2.intValue, e._3)) ==
      stopped.map(s => (s.conv_id, s.turn_idx, s.pos)).toSet)
    val valid = (file1 ++ file2).filterNot(stopped.contains)
    val expected = OrderRepair.batch(valid.toDS(), strict = false).collect().toSet
    assert(expected.exists(r => r.conv_id == "c" && r.turn_idx == 0 && r.pos == 22))
    assert(sink.read(spark).select("conv_id", "turn_idx", "role", "text", "tool", "ts", "pos")
      .as[TurnPos].collect().toSet == expected)
  }

  test("a micro-batch of only malformed rows for a conversation keeps its buffered turns' timeout") {
    val cfg = dirs("tpt").copy(maxFilesPerTrigger = 1)
    val t0 = 1000000L
    def file(rows: Row*) = spark.createDataFrame(rows.asJava, TranscriptPipeline.turnSchema)
    val now = System.currentTimeMillis() / 1000
    // a/1 waits in state for a/0, which never arrives
    writeFileAt(cfg.inputDir, "f1", file(Row("a", 1, "user", "r1", "none", ts(t0 + 1), 1L)), now - 3)
    writeFileAt(cfg.inputDir, "f2", file(Row("a", null, "user", "x", "none", ts(t0 + 2), 2L)), now - 2)
    // a day later: its watermark times conversation a out, flushing a/1
    writeFileAt(cfg.inputDir, "f3", file(Row("zz", 0, "user", "s", "none", ts(t0 + 86400), 3L)), now - 1)
    val (q, sink) = TranscriptPipeline.startStateful(spark, cfg)
    q.processAllAvailable()
    q.stop()
    assert(sink.read(spark).select("conv_id", "turn_idx").as[(String, Int)].collect().toSet ==
      Set(("a", 1), ("zz", 0)))
    assert(errorRows(cfg).map(_._3) == Set(2L))
  }

  /** Writes `turns` as one parquet file straight into the watched `dir`,
    * with modification time `mtimeS`, so the file source's arrival order
    * is the test's. */
  private def writeFileAt(dir: String, name: String, turns: DataFrame, mtimeS: Long): Unit = {
    val tmp = TestSpark.tempDir("tp_file")
    turns.coalesce(1).write.mode("overwrite").parquet(tmp.resolve("out").toString)
    val part = Files.list(tmp.resolve("out")).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val dst = java.nio.file.Paths.get(dir, s"$name.parquet")
    Files.copy(part, dst)
    dst.toFile.setLastModified(mtimeS * 1000L)
  }

  test("stateful job: order repaired across micro-batches, state counted once per batch, restart converges") {
    val in = TestSpark.tempDir("tps_in").toString
    val out = TestSpark.tempDir("tps_out").toString
    val errs = TestSpark.tempDir("tps_errs").toString
    val ckpt = TestSpark.tempDir("tps_ckpt").toString
    val progress = TestSpark.tempDir("tps_progress").toString
    val cfg = TranscriptPipeline.Config(in, out, errs, ckpt, progress,
      maxFilesPerTrigger = 1)
    val t0 = 1000000L
    def t(conv: String, idx: Int, sec: Long, pos: Long) =
      TurnPos(conv, idx, "user", s"$conv-$idx-$pos", "none", ts(t0 + sec), pos)
    // every turn passes validation: this test covers order repair, state
    // and the sink; the error channel has its own tests
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
    writeFileAt(in, "f1", file1.toDF(), now - 3)
    writeFileAt(in, "f2", file2.toDF(), now - 2)

    val (q1, _) = TranscriptPipeline.startStateful(spark, cfg)
    q1.processAllAvailable()
    val last = q1.lastProgress
    q1.stop()
    assert(last.numInputRows == file2.size)
    // a, b, c and d are held in state; a state operator that ran twice in
    // the batch would count them twice
    assert(last.stateOperators(0).numRowsTotal == 4)
    // the suite runs the state store the job ships
    assert(last.stateOperators(0).customMetrics.keySet.asScala.exists(_.startsWith("rocksdb")),
      last.stateOperators(0).customMetrics)

    // restart from the same checkpoint with the sentinel
    writeFileAt(in, "f3", sentinel.toDF(), now - 1)
    val (q2, sink) = TranscriptPipeline.startStateful(spark, cfg)
    q2.processAllAvailable()
    q2.stop()

    def rows(df: DataFrame) = df
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts", "pos").as[TurnPos]
      .collect().toSet
    val expected = rows(OrderRepair.batch((file1 ++ file2 ++ sentinel).toDS(), strict = false).toDF())
    assert(expected.exists(r => r.conv_id == "d" && r.turn_idx == 1))
    assert(rows(sink.read(spark)) == expected)
    // batches without errors write nothing to the errors dir
    assert(new java.io.File(errs).list().isEmpty)
  }

  test("two concurrent jobs: each progress log is valid JSONL of its own query, listeners leave on stop") {
    // a tab and a CR in one input dir reach its source description
    val jobs = Seq("tp_in\t\r", "tp_in").map { inName =>
      val in = TestSpark.tempDir(inName).toString
      writeBatchFile(in, Seq(
        TurnPos("a", 0, "user", "q0", null, ts(1), 1),
        TurnPos("a", 1, "assistant", "r1", "search", ts(2), 2)), 1)
      TranscriptPipeline.Config(in, TestSpark.tempDir("tpc_out").toString,
        TestSpark.tempDir("tpc_errs").toString,
        TestSpark.tempDir("tpc_ckpt").toString,
        TestSpark.tempDir("tpc_progress").toString)
    }
    val before = spark.streams.listListeners().toSet
    val (qa, _) = TranscriptPipeline.startStateful(spark, jobs(0))
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
      // Spark's whole progress record: every phase's duration, and the
      // state store's own metrics for each batch that read rows
      val progress = parsed.filter(_.get("event").asText() == "progress")
      assert(progress.forall(_.at("/durationMs/triggerExecution").isNumber), lines.mkString("\n"))
      val data = progress.filter(_.get("numInputRows").asLong() > 0)
      assert(data.nonEmpty && data.forall { p =>
        p.at("/durationMs/addBatch").isNumber &&
          p.at("/stateOperators/0/customMetrics").fieldNames().asScala.exists(_.startsWith("rocksdb"))
      }, lines.mkString("\n"))
    }
  }

  test("stateful job plan: one micro-batch runs one state operator over one scan of the input dir") {
    val in = TestSpark.tempDir("tpp_in").toString
    val cfg = TranscriptPipeline.Config(in, TestSpark.tempDir("tpp_out").toString,
      TestSpark.tempDir("tpp_errs").toString,
      TestSpark.tempDir("tpp_ckpt").toString,
      TestSpark.tempDir("tpp_progress").toString)
    // every turn is in order: all six leave the repair in this batch, the
    // blank-text one into the errors dir. Event time stays under the
    // 10-minute watermark delay, so the watermark does not move, no further
    // batch runs, and the data batch is the query's last execution.
    val turns = Seq(
      TurnPos("a", 0, "user", "q0", "none", ts(1), 1),
      TurnPos("a", 1, "assistant", "r1", "none", ts(2), 2),
      TurnPos("a", 2, "user", "q2", "none", ts(3), 3),
      TurnPos("b", 0, "user", "q0", "none", ts(1), 4),
      TurnPos("b", 1, "assistant", "r1", "none", ts(2), 5),
      TurnPos("b", 2, "user", " ", "none", ts(3), 6))
    writeBatchFile(in, turns, 1)

    val (q, sink) = TranscriptPipeline.startStateful(spark, cfg)
    q.processAllAvailable()
    val last = q.lastProgress
    val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    q.stop()
    assert(last.batchId == 0 && last.numInputRows == turns.size)
    assert(sink.read(spark).count() == turns.size - 1)
    assert(spark.read.parquet(cfg.errorsDir).count() == 1)

    val state = plan.collect { case p if p.nodeName == "FlatMapGroupsWithState" => p }
    assert(state.size == 1, s"expected one state operator in:\n$plan")
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1, s"expected one file scan in:\n$plan")
    assert(scans.head.relation.location.inputFiles.forall(_.contains(in)))
    // the SQL metrics sum over every run of the batch's plan: a second run
    // of the state operator or the scan (say, by the errors write) would
    // double them
    assert(state.head.metrics("numOutputRows").value == turns.size)
    assert(scans.head.metrics("numOutputRows").value == turns.size)
    // the one grouping shuffle on the conversation key feeds the repair
    val shuffles = state.head.collect { case e: ShuffleExchangeLike => e }
    assert(shuffles.size == 1, s"shuffle exchanges before the state operator in:\n$plan")
  }
}

package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.jobs.TranscriptPipeline
import graft.sink.MergeSink
import graft.stream.{OrderRepair, TurnPos}

/** The two stream workloads. Both run the production job,
  * `TranscriptPipeline.startStateful`, through its public entry point and
  * drive it with `processAllAvailable`; neither touches the job's code.
  *
  * stream_drain: a staged backlog, drained in two large micro-batches at
  * the job's own files-per-trigger, a fixed number of times on fresh job
  * directories. Per-row work (scan, transform, state update, the sink's
  * bucket rewrite) is about a third of such a batch on a 4-core box; the
  * per-batch fixed costs are the rest.
  *
  * stream_paced: an open loop. Small pre-staged files are released into the
  * watched directory on a fixed schedule, well below drain throughput, and
  * each file is timed from when it was due. Per-batch fixed costs dominate:
  * offset listing, planning, WAL, state commit, manifest flip, job launch.
  */
object Streams {

  private val keys = Seq("conv_id", "turn_idx")
  /** Turns `Transcript.fromEvents` makes of the sf0.1 events, one replica. */
  private val replicaTurns = 100000.0

  // stream_drain backlog: 127 files of 750 turns (95,250 turns) and the
  // sentinel, two micro-batches at the job's own maxFilesPerTrigger (64), so
  // the second merges into the table the first wrote; the sentinel rides in
  // the second and its watermark triggers the flush batch
  private val drainRowsPerFile = 750L
  private val drainFiles = 127
  /** The job's own files per micro-batch (`TranscriptPipeline.Config`). */
  private val jobFilesPerTrigger = TranscriptPipeline.Config("", "", "", "", "").maxFilesPerTrigger
  /** Time of one warm drain on an unloaded 4-core box. */
  private val drainNominalS = 9.5
  // stream_paced releases 20 files a second, 50 turns each: at 10 s, 200
  // freshness samples (a 95th percentile with 10 beyond it) at 1000 turns/s,
  // well below the job's drain throughput on a 4-core box (9,000 to 16,000)
  private val pacedFilesPerSecond = 20
  private val pacedRowsPerFile = 50L

  /** One run of the job on fresh directories under `root`. */
  final case class JobRun(root: File, cfg: TranscriptPipeline.Config, queryId: String,
                          startMs: Double, endMs: Double,
                          progress: Seq[StreamingQueryProgress]) {
    def wallS: Double = (endMs - startMs) / 1000.0
    /** Micro-batches that read files, i.e. not the watermark-only ones. */
    def dataBatches: Seq[StreamingQueryProgress] = progress.filter(_.numInputRows > 0)
    def batchEndMs(p: StreamingQueryProgress): Double =
      Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").doubleValue
    /** Input file name → micro-batch id, from the checkpoint's source log. */
    def fileBatches: Map[String, Long] = {
      val dir = new File(cfg.checkpointDir, "sources/0")
      Option(dir.listFiles()).getOrElse(Array.empty).filterNot(_.getName.startsWith("."))
        .flatMap(f => Files.readAllLines(f.toPath).asScala.drop(1))
        .flatMap { l =>
          val path = "\"path\":\"([^\"]+)\"".r.findFirstMatchIn(l).map(_.group(1))
          val batch = "\"batchId\":(\\d+)".r.findFirstMatchIn(l).map(_.group(1).toLong)
          for (p <- path; b <- batch) yield new File(new java.net.URI(p).getPath).getName -> b
        }.toMap
    }
  }

  /** Starts the job at its own settings on fresh directories under `root`. */
  private def start(spark: SparkSession, root: File,
                    input: String): (StreamingQuery, TranscriptPipeline.Config) = {
    org.apache.commons.io.FileUtils.deleteDirectory(root)
    val cfg = TranscriptPipeline.Config(
      inputDir = input,
      outputTable = new File(root, "table").getPath,
      errorsDir = new File(root, "errors").getPath,
      checkpointDir = new File(root, "checkpoint").getPath,
      progressDir = new File(root, "progress").getPath)
    spark.sparkContext.setLocalProperty(Tracer.phaseKey, s"stream:${root.getName}")
    val (q, _) = TranscriptPipeline.startStateful(spark, cfg)
    (q, cfg)
  }

  private def finish(q: StreamingQuery, root: File, cfg: TranscriptPipeline.Config,
                     startMs: Double): JobRun = {
    q.processAllAvailable()
    val end = Tracer.nowMs
    val progress = q.recentProgress.toSeq
    q.stop()
    JobRun(root, cfg, q.id.toString, startMs, end, progress)
  }

  /** Drain everything in `input` once; timed from start to the last commit. */
  def drainOnce(spark: SparkSession, root: File, input: String): JobRun = {
    val t0 = Tracer.nowMs
    val (q, cfg) = start(spark, root, input)
    val r = finish(q, root, cfg, t0)
    Main.log(f"drained ${root.getName} in ${r.wallS}%.2f s")
    r
  }

  /** Copies files into a watched directory, the sentinel last and newest. */
  private def backlog(dir: File, files: Seq[File], sentinel: File): String = {
    org.apache.commons.io.FileUtils.deleteDirectory(dir)
    dir.mkdirs()
    val now = System.currentTimeMillis()
    (files :+ sentinel).zipWithIndex.foreach { case (f, i) =>
      val dst = new File(dir, f.getName)
      Files.copy(f.toPath, dst.toPath)
      dst.setLastModified(now - (files.size + 1 - i) * 1000L)
    }
    dir.getPath
  }

  // ---------------------------------------------------------------- oracle

  final case class Verdict(attempted: Long, failed: Long, validWrong: Long)

  /** Compares the sink table with `OrderRepair.batch` over the non-stopped
    * input turns, and checks that the errors dir holds the stopped turns.
    * A turn fails when its row is missing, extra, duplicated or different,
    * or when it was stopped but is absent from the errors dir. `validWrong`
    * counts the failed turns that were not stop-flagged.
    */
  def verify(spark: SparkSession, files: Seq[File], cfg: TranscriptPipeline.Config): Verdict = {
    import spark.implicits._
    val input = spark.read.schema(TranscriptPipeline.turnSchema).parquet(files.map(_.getPath): _*)
    // the job's validation contract: Required(conv_id, turn_idx),
    // DefaultValue(tool -> "none"), Required(text), Truncate(text -> 4096)
    val stopped = col("conv_id").isNull || col("turn_idx").isNull ||
      col("text").isNull || trim(col("text")) === ""
    val valid = input.filter(!stopped).select(col("conv_id"), col("turn_idx"), col("role"),
      substring(col("text"), 1, 4096).as("text"),
      when(col("tool").isNull || trim(col("tool")) === "", lit("none")).otherwise(col("tool")).as("tool"),
      col("ts"), col("pos")).as[TurnPos]
    val expected = OrderRepair.batch(valid, strict = false).toDF()
    val stoppedKeys = input.filter(stopped).select(keys.map(col): _*)
    val sink = new MergeSink(cfg.outputTable, keys, "pos")
    val actual =
      if (sink.isEmpty) expected.limit(0)
      else sink.read(spark).filter(col("conv_id") =!= Stage.sentinelConv)
    def fp(df: DataFrame) = df.select(col("conv_id"), col("turn_idx"),
      xxhash64(col("role"), col("text"), col("tool"), col("ts"), col("pos")).as("h"))
    val mismatched = fp(expected).as("e").join(fp(actual).as("a"), keys, "full_outer")
      .filter(col("e.h").isNull || col("a.h").isNull || col("e.h") =!= col("a.h"))
      .select(keys.map(col): _*)
    val duplicated = actual.groupBy(keys.map(col): _*).count().filter(col("count") > 1)
      .select(keys.map(col): _*)
    val errDir = new File(cfg.errorsDir)
    val unrouted =
      if (Option(errDir.list()).exists(_.exists(_.endsWith(".parquet"))))
        stoppedKeys.join(spark.read.parquet(errDir.getPath).select(keys.map(col): _*).distinct(),
          keys, "left_anti")
      else stoppedKeys
    val failedKeys = mismatched.union(duplicated).union(unrouted).distinct().cache()
    try {
      val failed = failedKeys.count()
      val validWrong = failedKeys.join(stoppedKeys, keys, "left_anti").count()
      Verdict(input.count(), failed, validWrong)
    } finally failedKeys.unpersist()
  }

  /** Order-independent fingerprint of a job run's output: its sink table
    * and its errors dir. */
  private def outputFingerprint(spark: SparkSession, cfg: TranscriptPipeline.Config): Seq[(Long, String)] = {
    val sink = new MergeSink(cfg.outputTable, keys, "pos")
    val errDir = new File(cfg.errorsDir)
    Seq(if (sink.isEmpty) (0L, "0") else Suite.fingerprint(sink.read(spark)),
      if (Option(errDir.list()).exists(_.exists(_.endsWith(".parquet"))))
        Suite.fingerprint(spark.read.parquet(errDir.getPath))
      else (0L, "0"))
  }

  /** The oracle over the first run. Every run drains the same input, so a
    * later run whose output has the first run's fingerprint has its verdict;
    * any other run goes through the oracle itself. */
  private def verifyRuns(spark: SparkSession, files: Seq[File], runs: Seq[JobRun]): Verdict = {
    val first = verify(spark, files, runs.head.cfg)
    val fp = outputFingerprint(spark, runs.head.cfg)
    verdictOf(first +: runs.tail.map { r =>
      if (outputFingerprint(spark, r.cfg) == fp) first else verify(spark, files, r.cfg)
    })
  }

  // ------------------------------------------------------------ accounting

  /** Lines of each run's own progress.jsonl written for another query: the
    * job's listener is neither scoped to its query nor removed. */
  private def foreignLines(runs: Seq[JobRun]): Long = {
    Thread.sleep(200) // let the asynchronous listener bus drain
    runs.map { r =>
      val f = new File(r.cfg.progressDir, "progress.jsonl")
      val own = r.progress.map(_.timestamp).toSet
      if (!f.exists()) 0L
      else Files.readAllLines(f.toPath).asScala.count { l =>
        val id = "\"id\":\"([^\"]+)\"".r.findFirstMatchIn(l).map(_.group(1))
        val ts = "\"timestamp\":\"([^\"]+)\"".r.findFirstMatchIn(l).map(_.group(1))
        id.map(_ != r.queryId).getOrElse(!ts.exists(own.contains))
      }.toLong
    }.sum
  }

  private def ms(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Per-layer metrics of the traced job runs, and their spans: job run →
    * micro-batch → progress phases, with addBatch placed where its root SQL
    * execution ran → nested SQL executions → Spark jobs, plus the sink's
    * own commit work, the parts of addBatch outside those executions. */
  private def layers(runs: Seq[JobRun], tracer: Tracer, log: SpanLog, parent: Long,
                     inputTurns: Map[String, Long]): Map[String, Double] = {
    val jobs = tracer.snapshotJobs
    val execs = tracer.snapshotExecs
    def lay(m: String) = Map("layer" -> m)
    val perBatch = runs.flatMap { r =>
      val files = r.fileBatches
      val runSpan = log.add(parent, "job_run", r.root.getName, r.startMs, r.endMs)
      r.progress.map { p =>
        val t0 = Instant.parse(p.timestamp).toEpochMilli.toDouble
        val t1 = r.batchEndMs(p)
        val batchSpan = log.add(runSpan, "batch", s"batch ${p.batchId}", t0, t1,
          Map("numInputRows" -> p.numInputRows))
        val bJobs = jobs.filter(j => j.query.contains(r.queryId) && j.batch.contains(p.batchId))
        val jobExecs = bJobs.flatMap(_.exec).toSet
        val rootExec = execs.filter(e => jobExecs.contains(e.id)).map(_.root).headOption
          .flatMap(id => execs.find(_.id == id))
        val nested = rootExec.toSeq.flatMap(root => execs.filter(e => e.root == root.id && e.id != root.id))
        // the phases before addBatch in the order the micro-batch runs them
        val before = Seq("latestOffset" -> "source.offset_ms", "walCommit" -> "jobs.wal_ms",
          "getBatch" -> "source.offset_ms", "queryPlanning" -> "jobs.planning_ms")
        val bounds = before.map(_._1).scanLeft(t0)((t, k) => t + ms(p, k))
        before.zip(bounds.zip(bounds.tail)).foreach { case ((k, m), (a, b)) =>
          log.add(batchSpan, "phase", k, a, b, lay(m))
        }
        val (addA, addB) = rootExec.filter(_.end > 0).map(e => (e.start.toDouble, e.end.toDouble))
          .getOrElse((bounds.last, bounds.last + ms(p, "addBatch")))
        val addId = log.add(batchSpan, "phase", "addBatch", addA, addB)
        log.add(batchSpan, "phase", "commitOffsets", addB, addB + ms(p, "commitOffsets"), lay("jobs.wal_ms"))
        val rootSpan = rootExec.map(e => log.add(addId, "sql", "addBatch", addA, addB)).getOrElse(addId)
        val execSpan = nested.sortBy(_.start).map { e =>
          val attributed = bJobs.exists(_.exec.contains(e.id))
          e.id -> log.add(rootSpan, "sql", e.desc.take(60), e.start, if (e.end > 0) e.end else addB,
            Map("sink_write" -> e.sinkWrite) ++ (if (attributed) lay("exec.cpu_s") else Map.empty))
        }.toMap
        bJobs.foreach { j =>
          log.add(j.exec.flatMap(execSpan.get).getOrElse(batchSpan), "spark_job", s"job ${j.id}",
            j.start, if (j.end > 0) j.end else t1, lay("jobs.spark_jobs_per_batch"))
        }
        // the sink's manifest, journal and gc IO: addBatch outside its SQL
        // executions, given the layer only when the tracer found the write
        val sinkGaps = log.gaps(addA, addB, nested.map(e =>
          (math.max(e.start.toDouble, addA), math.min(if (e.end > 0) e.end.toDouble else addB, addB))))
        val wrote = nested.exists(_.sinkWrite)
        sinkGaps.foreach { case (a, b) =>
          log.add(addId, "sink_commit", "sink commit", a, b, if (wrote) lay("sink.commit_ms") else Map.empty)
        }
        val turns = files.collect { case (f, b) if b == p.batchId => inputTurns.getOrElse(f, 0L) }.sum
        val st = Option(p.stateOperators).getOrElse(Array.empty)
        Map(
          "data" -> (if (turns > 0) 1.0 else 0.0),
          "turns" -> turns.toDouble,
          "trigger" -> ms(p, "triggerExecution"),
          "covered" -> log.layerMs(batchSpan, t0, t1),
          "span" -> (t1 - t0),
          "offset" -> (ms(p, "latestOffset") + ms(p, "getBatch")),
          "planning" -> ms(p, "queryPlanning"),
          "wal" -> (ms(p, "walCommit") + ms(p, "commitOffsets")),
          "add" -> ms(p, "addBatch"),
          "sinkCommit" -> sinkGaps.map { case (a, b) => b - a }.sum,
          "jobs" -> bJobs.size.toDouble,
          "stateRuns" -> bJobs.count(_.stateRan).toDouble,
          "stateCommit" -> st.map(_.commitTimeMs).sum.toDouble,
          "stateUpdate" -> st.map(_.allUpdatesTimeMs).sum.toDouble,
          "stateRows" -> st.map(_.numRowsTotal).sum.toDouble,
          "stateBytes" -> st.map(_.memoryUsedBytes).sum.toDouble,
          "dropped" -> st.map(_.numRowsDroppedByWatermark).sum.toDouble,
          "scanInput" -> bJobs.map(_.scanInput).sum.toDouble,
          "scanTable" -> bJobs.map(_.scanTable).sum.toDouble,
          "written" -> bJobs.map(_.written).sum.toDouble,
          "cpuNs" -> bJobs.map(_.cpuNs).sum.toDouble,
          "shuffle" -> bJobs.map(_.shuffleWrite).sum.toDouble,
          "spill" -> bJobs.map(_.spill).sum.toDouble)
      }
    }
    val data = perBatch.filter(_("data") > 0)
    def med(k: String) = Stats.median(data.map(_(k)))
    def total(k: String) = perBatch.map(_(k)).sum
    val turns = total("turns")
    Map(
      "source.offset_ms" -> med("offset"),
      "jobs.planning_ms" -> med("planning"),
      "jobs.wal_ms" -> med("wal"),
      "jobs.spark_jobs_per_batch" -> data.map(_("jobs")).sum / data.size,
      "stream.state_commit_ms" -> med("stateCommit"),
      "sink.commit_ms" -> med("sinkCommit"),
      "sink.add_batch_ms" -> med("add"),
      "source.scan_rows_per_input_row" -> total("scanInput") / turns,
      "stream.state_runs_per_batch" -> data.map(_("stateRuns")).sum / data.size,
      "stream.state_update_ms" -> med("stateUpdate"),
      "sink.table_rows_read_per_input_row" -> total("scanTable") / turns,
      "sink.rows_written_per_input_row" -> total("written") / turns,
      "stream.state_rows" -> perBatch.map(_("stateRows")).max,
      "stream.state_bytes" -> perBatch.map(_("stateBytes")).max,
      "stream.watermark_dropped_rows" -> total("dropped"),
      "exec.cpu_s" -> total("cpuNs") / 1e9,
      "exec.shuffle_write_bytes" -> total("shuffle"),
      "exec.spill_bytes" -> total("spill"),
      "trace.batch_ms" -> med("trigger"),
      "trace.layer_coverage" -> data.map(_("covered")).sum / data.map(_("span")).sum)
  }

  /** A traced run: two untraced and two traced measurements in the order
    * A B B A, so that the drift of a warming JVM cancels out of the tracing
    * overhead, the relative increase of the summed `headline` from the
    * untraced to the traced ones. Returns the untraced and the traced
    * measurements and the per-layer metrics of the traced ones. */
  private def traced[T](spark: SparkSession, a: Main.Args, locate: String => String,
                        measure: String => T, headline: T => Double,
                        layerOf: (Seq[T], Tracer, SpanLog, Long) => Map[String, Double])
      : (Seq[T], Seq[T], Map[String, Double]) = {
    val tracer = new Tracer(locate)
    val log = new SpanLog
    val first = measure("m-0")
    val gc0 = Tracer.gcSeconds
    val t0 = Tracer.nowMs
    spark.sparkContext.addSparkListener(tracer)
    val tr = try Seq(measure("t-1"), measure("t-2")) finally {
      Thread.sleep(200) // let the asynchronous listener bus deliver the last events
      spark.sparkContext.removeSparkListener(tracer)
    }
    val t1 = Tracer.nowMs
    val gcS = Tracer.gcSeconds - gc0
    val plain = Seq(first, measure("m-3"))
    val l = layerOf(tr, tracer, log, log.add(0, "run", a.workload, t0, t1))
    log.write(new File(a.work, s"trace/${a.workload}-${a.seed}.jsonl"))
    (plain, tr, l ++ Map(
      "exec.gc_s" -> gcS,
      "trace.overhead_share" -> (tr.map(headline).sum / plain.map(headline).sum - 1.0)))
  }

  // ------------------------------------------------------------- workloads

  private def locator(work: File): String => String = s =>
    if (s.contains(new File(work, "runs").getPath) && s.contains("/table")) "table"
    else if (s.contains(new File(work, "in").getPath) || s.contains(new File(work, "watch").getPath)) "input"
    else "other"

  /** `input` is the staged backlog in a watched directory. */
  private final case class Setup(spark: SparkSession, staged: Stage.Staged, input: String,
                                 setupS: Double, stageS: Double)

  /** Session start plus a discarded warm-up drain, once and cold, as a
    * deployment of the job pays them. The warm-up drains one full
    * micro-batch of staged files at the job's own settings, then the
    * sentinel, whose merge and the timeout flush after it run the merge
    * into existing buckets, so every path of a timed drain has run at full
    * size before anything is timed. The staging in between is timed as the
    * generator's own cost and kept out of `setup_s`. */
  private def setUp(a: Main.Args, work: File, rowsPerFile: Long, nFiles: Int): Setup = {
    val t0 = System.nanoTime()
    val spark = Main.session(a.cores, work.getPath)
    val sessionS = (System.nanoTime() - t0) / 1e9
    Main.log("session started")
    val g0 = System.nanoTime()
    val replicas = math.ceil(nFiles * rowsPerFile / replicaTurns).toInt
    val staged = Stage.write(spark, Stage.replicated(spark, s"${a.data}/sf0.1", replicas, a.seed),
      new File(work, "staged").getPath, rowsPerFile, nFiles, a.seed)
    val stageS = (System.nanoTime() - g0) / 1e9
    Main.log(f"staged ${staged.turns} turns in ${staged.files.size} files, $stageS%.2f s")
    val input = backlog(new File(work, "in"), staged.files, staged.sentinel)
    val w0 = System.nanoTime()
    drainOnce(spark, new File(work, "runs/warm"),
      backlog(new File(work, "warm-in"), staged.files.take(jobFilesPerTrigger), staged.sentinel))
    val setupS = sessionS + (System.nanoTime() - w0) / 1e9
    Main.log(f"setup: $setupS%.2f s")
    Setup(spark, staged, input, setupS, stageS)
  }

  private def verdictOf(vs: Seq[Verdict]) = Verdict(vs.map(_.attempted).sum,
    vs.map(_.failed).sum, vs.map(_.validWrong).sum)

  private def outcome(v: Verdict, e2e: Map[String, Double], layers: Map[String, Double],
                      ctx: Map[String, Any]) =
    Main.Outcome(v.attempted, v.failed, v.validWrong == 0 && v.attempted > 0, e2e, layers, ctx)

  def drain(a: Main.Args): Main.Outcome = {
    val work = new File(a.work, "stream_drain")
    val su = setUp(a, work, drainRowsPerFile, drainFiles)
    val spark = su.spark
    val input = su.input
    val turnsOf = su.staged.files.map(_.getName).zip(su.staged.rows).toMap

    var measured = Map.empty[String, Double]
    def drainRun(tag: String): JobRun = drainOnce(spark, new File(work, s"runs/$tag"), input)
    /** Median of the drains' input turns per second. */
    def tps(rs: Seq[JobRun]) = Stats.median(rs.map(su.staged.turns / _.wallS))

    val (runs, verdict, layerMap) =
      if (!a.trace) {
        val c0 = Main.clock()
        val rs = (0 until Main.units(a.seconds, drainNominalS)).map(i => drainRun(s"m-$i"))
        measured = c0.to(Main.clock())
        (rs, verifyRuns(spark, su.staged.files, rs), Map.empty[String, Double])
      } else {
        val (plain, tracedRuns, l) = traced[JobRun](spark, a, locator(work), drainRun, _.wallS,
          (rs, tr, log, p) => layers(rs, tr, log, p, turnsOf))
        val all = plain ++ tracedRuns
        val foreign = foreignLines(all)
        val v = verifyRuns(spark, su.staged.files, all)
        // single-threaded baseline of the same drain, in a new session of
        // this already warm JVM, against the traced drains
        spark.stop()
        val one = Main.session(1, work.getPath)
        val single = drainOnce(one, new File(work, "runs/one"), input)
        (all, v, l ++ Map(
          "jobs.parallel_efficiency" -> tps(tracedRuns) / (a.cores * tps(Seq(single))),
          "progress.foreign_lines" -> foreign.toDouble))
      }
    Main.log(s"verified: $verdict")
    val batchMs = runs.flatMap(_.dataBatches).map(_.durationMs.get("triggerExecution").doubleValue)
    val e2e = Map(
      "setup_s" -> su.setupS,
      "rate_per_s" -> tps(runs),
      "typical_ms" -> Stats.median(batchMs))
    val ctx = su.staged.context("staged") ++ measured ++ Map(
      "gen.stage_s" -> su.stageS, "gen.late_p95_ms" -> su.staged.lateP95Ms,
      "drains" -> runs.size, "batch_samples" -> batchMs.size,
      "drain_s" -> runs.map(_.wallS),
      "throughput_tps" -> tps(runs), "batch_p50_ms" -> e2e("typical_ms"))
    outcome(verdict, e2e,
      layerMap ++ Map("gen.stage_s" -> su.stageS, "gen.late_p95_ms" -> su.staged.lateP95Ms), ctx)
  }

  /** Result of one paced schedule. */
  private final case class Paced(run: JobRun, dueMs: Map[String, Double],
                                 releaseLagMs: Seq[Double]) {
    def freshness: Seq[Double] = {
      val fb = run.fileBatches
      val ends = run.progress.map(p => p.batchId -> run.batchEndMs(p)).toMap
      dueMs.toSeq.map { case (f, due) => ends(fb(f)) - due }
    }
    def turnsPerS(turns: Long): Double = {
      val fb = run.fileBatches
      val ends = run.progress.map(p => p.batchId -> run.batchEndMs(p)).toMap
      turns * 1000.0 / (dueMs.keys.map(f => ends(fb(f))).max - dueMs.values.min)
    }
  }

  def paced(a: Main.Args): Main.Outcome = {
    val work = new File(a.work, "stream_paced")
    val nFiles = math.ceil(pacedFilesPerSecond * a.seconds).toInt
    val su = setUp(a, work, pacedRowsPerFile, nFiles)
    val spark = su.spark
    val files = su.staged.files
    val turns = su.staged.turns
    val periodMs = 1000.0 / pacedFilesPerSecond

    def measure(tag: String): Paced = {
      val watch = new File(work, s"watch-$tag")
      org.apache.commons.io.FileUtils.deleteDirectory(watch)
      watch.mkdirs()
      val pending = new File(work, s"pending-$tag")
      backlog(pending, files, su.staged.sentinel)
      val t0 = Tracer.nowMs
      val (q, cfg) = start(spark, new File(work, s"runs/$tag"), watch.getPath)
      val first = Tracer.nowMs + 500.0
      val lags = files.indices.map { i =>
        val due = first + i * periodMs
        val wait = due - Tracer.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        release(new File(pending, files(i).getName), watch)
        Tracer.nowMs - due
      }
      release(new File(pending, su.staged.sentinel.getName), watch)
      val run = finish(q, new File(work, s"runs/$tag"), cfg, t0)
      Paced(run, files.indices.map(i => files(i).getName -> (first + i * periodMs)).toMap, lags)
    }

    val turnsOf = files.map(_.getName).zip(su.staged.rows).toMap
    val (m, layerMap) =
      if (!a.trace) (measure("m"), Map.empty[String, Double])
      else {
        val (plain, _, l) = traced[Paced](spark, a, locator(work), measure, p => Stats.median(p.freshness),
          (ps, tr, log, par) => layers(ps.map(_.run), tr, log, par, turnsOf))
        (plain.head, l ++ Map("progress.foreign_lines" -> foreignLines(plain.map(_.run)).toDouble))
      }
    val verdict = verify(spark, files, m.run.cfg)
    Main.log(s"verified: $verdict")
    val fresh = m.freshness
    val e2e = Map(
      "setup_s" -> su.setupS,
      "rate_per_s" -> m.turnsPerS(turns),
      "typical_ms" -> Stats.median(fresh))
    val ctx = su.staged.context("staged") ++ Map(
      "gen.stage_s" -> su.stageS, "gen.late_p95_ms" -> su.staged.lateP95Ms,
      "paced_files" -> files.size, "paced_turns" -> turns, "paced_tps" -> pacedFilesPerSecond * pacedRowsPerFile,
      "freshness_samples" -> fresh.size,
      "freshness_p50_ms" -> e2e("typical_ms"), "freshness_p95_ms" -> Stats.quantile(fresh, 0.95),
      "gen.release_lag_p95_ms" -> Stats.quantile(m.releaseLagMs, 0.95),
      "batches" -> m.run.dataBatches.size)
    outcome(verdict, e2e,
      layerMap ++ Map("gen.stage_s" -> su.stageS, "gen.late_p95_ms" -> su.staged.lateP95Ms,
        "gen.release_lag_p95_ms" -> Stats.quantile(m.releaseLagMs, 0.95)), ctx)
  }

  /** Moves a pending file into the watched directory, stamped with the
    * release time (rename keeps the stamp, so the source never lists it
    * with a stale one). */
  private def release(f: File, watch: File): Unit = {
    f.setLastModified(System.currentTimeMillis())
    Files.move(f.toPath, new File(watch, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
  }
}

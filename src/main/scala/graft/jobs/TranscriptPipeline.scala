package graft.jobs

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.Sessions
import graft.sink.{BatchEffect, ConsoleEventSink, ErrorSplit, EventSink, MergeSink, ProgressListener}
import graft.stream.{OrderRepair, TurnPacked}
import graft.transform._

/** The flagship streaming job — the complete reference pipeline
  * re-expressed Spark-native, shaped for `spark-submit` on a real cluster:
  *
  *   - `turnSchema`: the input turn rows;
  *   - `validation`: the stop-guarded steps (Required keys and text,
  *     DefaultValue, text truncated to 4096 chars);
  *   - `repaired`: the validated file stream through the packed
  *     per-conversation order repair — the stream `Bench` measures behind
  *     its own counting sink. Stop-flagged turns cross it and keep their
  *     `turn_idx` slot, so later turns do not wait for a gap timeout; rows
  *     with a null key skip its state (see [[OrderRepair]]);
  *   - [[startStateful]]: `repaired` split per micro-batch into the error
  *     rows (written to the errors dir) and the exactly-once keyed MERGE
  *     of the valid turns into the bucketed output table, with lineage +
  *     state metrics in progress.jsonl and full checkpoint resume.
  *
  * On a cluster: same code, `--master yarn/k8s`, checkpoint + tables on
  * HDFS/S3, MergeSink swapped for an Iceberg catalog. Every stage keys on
  * conv_id, so the stateful shuffle is reused; hot conversations are
  * handled by AQE + the bounded per-conversation state (buffer is
  * O(out-of-orderness), evicted on watermark timeout).
  */
object TranscriptPipeline {

  val turnSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
    StructField("role", StringType), StructField("text", StringType),
    StructField("tool", StringType), StructField("ts", TimestampType),
    StructField("pos", LongType)))

  case class Config(
      inputDir: String,
      outputTable: String,
      errorsDir: String,
      checkpointDir: String,
      progressDir: String,
      maxFilesPerTrigger: Int = 64,
      eventSink: EventSink = new ConsoleEventSink(),
      // per-record event mode (reference ConsoleEventSink.cs:44-95): when
      // set, every record event at/above this level also goes through
      // `eventSink.notify`, one call per event
      perRecordLevel: Option[String] = None)

  private val watermark = "10 minutes" // event-time lateness allowed
  private val gapMs = 600000L // event time after a conversation's last turn to flush it
  private val errorKeys = Seq("conv_id", "turn_idx", "pos")

  /** The job's validation steps, in order: stop-guarded, so a turn that
    * fails one is flagged in its `events` column, never dropped. */
  private val validation: Seq[Transformation] = Seq(
    Required(Seq("conv_id", "turn_idx")),
    DefaultValue(Map("tool" -> "none")),
    Required(Seq("text")),
    Truncate(Map("text" -> 4096)))

  /** `cfg.inputDir`'s parquet files, at most `cfg.maxFilesPerTrigger` per
    * micro-batch, through `validation`, watermarked on `ts`, through the
    * packed `flatMapGroupsWithState` order repair: the repair holds
    * cross-batch state, so a conversation's turns come out in order however
    * its arrival is split across micro-batches. */
  def repaired(spark: SparkSession, cfg: Config): Dataset[TurnPacked] = {
    val validated = Pipeline(spark.readStream.schema(turnSchema)
      .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
      .parquet(cfg.inputDir), validation)
    OrderRepair.streamingPacked(
      OrderRepair.pack(validated.withWatermark("ts", watermark)),
      strict = false, gapMs)
  }

  /** Starts the job. Returns the query + sink (the caller owns lifecycle —
    * tests use processAllAvailable, production awaitTermination). */
  def startStateful(spark: SparkSession, cfg: Config): (StreamingQuery, MergeSink) = {
    val sink = new MergeSink(cfg.outputTable, Seq("conv_id", "turn_idx"), "pos")
    val q = ProgressListener.logging(spark, cfg.progressDir) {
      repaired(spark, cfg).writeStream
        .option("checkpointLocation", cfg.checkpointDir)
        .foreachBatch((batch: Dataset[TurnPacked], batchId: Long) => each(cfg, sink, batch, batchId))
        .start()
    }
    (q, sink)
  }

  /** One micro-batch, persisted once so the state operator runs once. Error
    * rows are written to `cfg.errorsDir` by a [[BatchEffect]] that the sink
    * runs before its manifest commit, after the merge has read the batch:
    * the error count is then a scan of the cached batch, a batch without
    * errors writes nothing, and a replayed batch replaces its own files. */
  private def each(cfg: Config, sink: MergeSink, batch: Dataset[TurnPacked], batchId: Long): Unit = {
    val cached = batch.persist()
    try {
      val (valid, errors) = ErrorSplit.split(cached.toDF(), errorKeys)
      val errorChannel: BatchEffect = (_, _) => {
        val nErrors = ErrorSplit.write(errors, cfg.errorsDir, batchId)
        // per-batch lifecycle notification (the reference's per-record
        // NotifyRecordCompleted, aggregated to stay driver-cheap)
        cfg.eventSink.notify(if (nErrors > 0) "WARN" else "INFO",
          s"batch $batchId: $nErrors error rows written to ${cfg.errorsDir}")
        // optional per-record fidelity: formatting + level filter run data-
        // parallel; only the notify loop is driver-side, a partition at a time
        if (nErrors > 0) cfg.perRecordLevel.foreach { lvl =>
          ErrorSplit.recordEvents(errors, errorKeys, lvl)
            .toLocalIterator().forEachRemaining(e => cfg.eventSink.notify(e._1, e._2))
        }
      }
      sink.merge(OrderRepair.unpack(valid), batchId, effects = Seq(errorChannel))
      cfg.eventSink.notify("INFO", s"batch $batchId: merged into ${cfg.outputTable}")
    } finally cached.unpersist()
  }

  /** spark-submit entry: TranscriptPipeline <in> <outTable> <errors> <ckpt> <progress> */
  def main(args: Array[String]): Unit = {
    val Array(in, out, errs, ckpt, progress) = args.take(5)
    val spark = Sessions("graft-transcript-pipeline")
    val (q, _) = startStateful(spark, Config(in, out, errs, ckpt, progress))
    q.awaitTermination()
  }
}

package graft.jobs

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.sink.{ConsoleEventSink, ErrorSplit, EventSink, MergeSink, ProgressListener}
import graft.stream.{OrderRepair, TurnPacked, TurnPos}
import graft.transform._

/** The flagship streaming job — the complete reference pipeline
  * re-expressed Spark-native, shaped for `spark-submit` on a real cluster.
  * The job is defined once, in pieces both flavours share:
  *
  *   - `turnSchema`: the input turn rows;
  *   - `validation`: the stop-guarded steps (Required keys and text,
  *     DefaultValue, text truncated to 4096 chars);
  *   - `validated`: the parquet file stream through `validation`;
  *   - `repaired`: `validated`, watermarked, through the packed
  *     per-conversation order repair (flatMapGroupsWithState) — the stream
  *     `main` runs and `Bench` measures behind its own counting sink;
  *   - one setup for the exactly-once keyed MERGE into the bucketed output
  *     table, with the run's lineage + state metrics appended to
  *     progress.jsonl and full checkpoint resume.
  *
  * The flavours differ only in where the repair runs. `startStateful`
  * (what `main` runs) merges `repaired`. `start` splits the event channel
  * per micro-batch (invalid rows → errors table) and runs the batch repair
  * inside the micro-batch; it is the only flavour with the error channel —
  * `startStateful` writes stop-flagged turns into the table.
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
      watermark: String = "10 minutes",
      gapMs: Long = 600000L,
      strict: Boolean = false,
      maxFilesPerTrigger: Int = 64,
      eventSink: EventSink = new ConsoleEventSink(),
      // per-record event mode (reference ConsoleEventSink.cs:44-95): when
      // set, every record event at/above this level is routed through
      // `eventSink.notify`, one call per event, in addition to the
      // aggregate per-batch notifications
      perRecordLevel: Option[String] = None)

  /** The job's validation steps, in order: stop-guarded, so a turn that
    * fails one is flagged in its `events` column, never dropped. */
  private val validation: Seq[Transformation] = Seq(
    Required(Seq("conv_id", "turn_idx")),
    DefaultValue(Map("tool" -> "none")),
    Required(Seq("text")),
    Truncate(Map("text" -> 4096)))

  /** The validated turn stream: `cfg.inputDir`'s parquet files, at most
    * `cfg.maxFilesPerTrigger` per micro-batch, through `validation`. */
  private def validated(spark: SparkSession, cfg: Config): DataFrame =
    Pipeline(spark.readStream.schema(turnSchema)
      .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
      .parquet(cfg.inputDir), validation)

  /** The validated stream, watermarked on `ts`, through the packed
    * `flatMapGroupsWithState` order repair: the repair holds cross-batch
    * state, so a conversation's turns come out in order however its
    * arrival is split across micro-batches. */
  def repaired(spark: SparkSession, cfg: Config): Dataset[TurnPacked] = {
    val turns = validated(spark, cfg)
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts", "pos")
      .withWatermark("ts", cfg.watermark)
    // packed hot path across the stateful boundary; unpack before the sink
    // so the output table carries plain string/timestamp columns
    OrderRepair.streamingPacked(OrderRepair.pack(turns), cfg.strict, cfg.gapMs)
  }

  /** Per-micro-batch flavour: `validated` into the event-channel split
    * and the BATCH order repair, per micro-batch. Returns the query + sink
    * (the caller owns lifecycle — tests use processAllAvailable,
    * production awaitTermination).
    */
  def start(spark: SparkSession, cfg: Config): (StreamingQuery, MergeSink) = {
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.product[TurnPos]
    run(spark, cfg, validated(spark, cfg)) { (sink, batch, batchId) =>
      // Split the event channel per micro-batch: errors append to the
      // errors table; valid rows go through order repair + merge. The
      // repair runs its BATCH flavor here per micro-batch — cross-batch
      // ordering state lives in `repaired`; for the merge sink the
      // (conv_id, turn_idx) key makes replays converge either way.
      val cached = batch.cache()
      try {
        val (valid, errors) = ErrorSplit.split(cached, Seq("conv_id", "turn_idx", "pos"))
        errors.write.mode("append").parquet(cfg.errorsDir)
        val nErrors = errors.count()
        // per-batch lifecycle notification (the reference's per-record
        // NotifyRecordCompleted, aggregated to stay driver-cheap)
        cfg.eventSink.notify(if (nErrors > 0) "WARN" else "INFO",
          s"batch $batchId: $nErrors error rows appended to ${cfg.errorsDir}")
        // optional per-record fidelity: formatting + level filter run
        // data-parallel; only the notify loop is driver-side, streamed a
        // partition at a time
        cfg.perRecordLevel.foreach { lvl =>
          ErrorSplit.recordEvents(errors, Seq("conv_id", "turn_idx", "pos"), lvl)
            .toLocalIterator().forEachRemaining(e => cfg.eventSink.notify(e._1, e._2))
        }
        val repaired = OrderRepair.batch(
          valid.select("conv_id", "turn_idx", "role", "text", "tool", "ts", "pos")
            .as[TurnPos],
          strict = false)
        sink.merge(repaired.toDF(), batchId)
        cfg.eventSink.notify("INFO", s"batch $batchId: merged into ${cfg.outputTable}")
      } finally cached.unpersist()
    }
  }

  /** Streaming-stateful flavour (what `main` runs): `repaired`, merged
    * into the sink keyed by (conv_id, turn_idx). Used when strict global
    * turn ordering must hold across arbitrarily fragmented arrival.
    */
  def startStateful(spark: SparkSession, cfg: Config): (StreamingQuery, MergeSink) =
    run(spark, cfg, repaired(spark, cfg)) { (sink, batch, batchId) =>
      sink.merge(OrderRepair.unpack(batch), batchId)
    }

  /** The setup both flavours share: the merge sink, and `stream` started
    * on `cfg.checkpointDir` with its own progress log, each micro-batch
    * handed to `each` with the sink. */
  private def run[T](spark: SparkSession, cfg: Config, stream: Dataset[T])(
      each: (MergeSink, Dataset[T], Long) => Unit): (StreamingQuery, MergeSink) = {
    val sink = new MergeSink(cfg.outputTable, Seq("conv_id", "turn_idx"), "pos")
    val q = ProgressListener.logging(spark, cfg.progressDir) {
      stream.writeStream
        .option("checkpointLocation", cfg.checkpointDir)
        .foreachBatch((batch: Dataset[T], batchId: Long) => each(sink, batch, batchId))
        .start()
    }
    (q, sink)
  }

  /** spark-submit entry: TranscriptPipeline <in> <outTable> <errors> <ckpt> <progress> */
  def main(args: Array[String]): Unit = {
    val Array(in, out, errs, ckpt, progress) = args.take(5)
    val spark = SparkSession.builder()
      .appName("graft-transcript-pipeline")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    val (q, _) = startStateful(spark, Config(in, out, errs, ckpt, progress))
    q.awaitTermination()
  }
}

package graft.sink

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.UUID

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryManager}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.Json

/** Per-micro-batch lineage + state metrics log (north rule: "every
  * micro-batch records per-partition lineage and state-store metrics to a
  * checkpointed progress log"). Appends one JSON line per batch to
  * `<dir>/progress.jsonl`: query id and run id, batchId, source offsets
  * (the lineage — which input slice produced the batch), rows/sec,
  * state-store rows & memory, watermark. Spark's own `progress.json` is
  * already JSON — we persist the subset that matters for resume audits
  * next to the checkpoint.
  *
  * A listener logs one run of one query: `ProgressListener.logging`
  * registers it, binds it to the run `start()` returned, and the listener
  * removes itself from `spark.streams` once that run has terminated.
  */
class ProgressListener private (dir: String, streams: StreamingQueryManager)
    extends StreamingQueryListener {

  Files.createDirectories(Paths.get(dir))
  private val out = Paths.get(dir, "progress.jsonl")

  // The run this listener logs. Its id is known only once `start()` has
  // returned, and the listener bus may deliver the run's first events
  // (the started event among them) before that: until then every event
  // waits here as (runId, line, last).
  private var run: Option[UUID] = None
  private val early = ArrayBuffer.empty[(UUID, String, Boolean)]

  private def bind(runId: UUID): Unit = {
    val ended = synchronized {
      run = Some(runId)
      val own = early.filter(_._1 == runId)
      early.clear()
      own.foreach(e => append(e._2))
      own.exists(_._3)
    }
    if (ended) streams.removeListener(this)
  }

  /** Writes `line` if it belongs to the bound run; `last` marks the run's
    * terminated line, after which the listener removes itself. */
  private def log(runId: UUID, line: String, last: Boolean = false): Unit = {
    val ended = synchronized {
      run match {
        case None => early += ((runId, line, last)); false
        case Some(`runId`) => append(line); last
        case Some(_) => false
      }
    }
    if (ended) streams.removeListener(this)
  }

  override def onQueryStarted(event: QueryStartedEvent): Unit =
    log(event.runId, s"""{"event":"started",${ids(event.id, event.runId)}}""")

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    val sources = p.sources.map { s =>
      s"""{"description":${Json.str(s.description)},"startOffset":${orNull(s.startOffset)},"endOffset":${orNull(s.endOffset)},"numInputRows":${s.numInputRows}}"""
    }.mkString("[", ",", "]")
    val state = Option(p.stateOperators).getOrElse(Array.empty).map { so =>
      s"""{"operatorName":${Json.str(so.operatorName)},"numRowsTotal":${so.numRowsTotal},"numRowsUpdated":${so.numRowsUpdated},"memoryUsedBytes":${so.memoryUsedBytes}}"""
    }.mkString("[", ",", "]")
    val watermark = Option(p.eventTime.get("watermark")).map(Json.str).getOrElse("null")
    log(p.runId,
      s"""{"event":"progress",${ids(p.id, p.runId)},"batchId":${p.batchId},"timestamp":${Json.str(p.timestamp)},""" +
        s""""numInputRows":${p.numInputRows},"processedRowsPerSecond":${safeNum(p.processedRowsPerSecond)},""" +
        s""""durationMs":${p.durationMs.getOrDefault("triggerExecution", -1L)},""" +
        s""""watermark":$watermark,"sources":$sources,"stateOperators":$state}""")
  }

  override def onQueryTerminated(event: QueryTerminatedEvent): Unit =
    log(event.runId, s"""{"event":"terminated",${ids(event.id, event.runId)}}""", last = true)

  private def ids(id: UUID, runId: UUID): String = s""""id":"$id","runId":"$runId""""

  private def safeNum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  private def orNull(s: String): String = Option(s).getOrElse("null")

  private def append(line: String): Unit =
    Files.writeString(out, line + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
}

object ProgressListener {

  /** Starts a query through `start` with a progress log at
    * `<dir>/progress.jsonl` that holds that run only. The listener is
    * registered before `start`, so the run's started event is not missed,
    * and it leaves `spark.streams` when the run terminates.
    */
  def logging(spark: SparkSession, dir: String)(start: => StreamingQuery): StreamingQuery = {
    val listener = new ProgressListener(dir, spark.streams)
    spark.streams.addListener(listener)
    val q = try start catch { case e: Throwable =>
      spark.streams.removeListener(listener); throw e
    }
    listener.bind(q.runId)
    q
  }
}

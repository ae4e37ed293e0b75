package graft.sink

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.UUID

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryManager}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Per-micro-batch lineage + state metrics log (north rule: "every
  * micro-batch records per-partition lineage and state-store metrics to a
  * checkpointed progress log"). Appends one JSON line per event to
  * `<dir>/progress.jsonl`: `{"event":"<kind>",` followed by the fields of
  * Spark's own compact record — the started and terminated events' `json`,
  * and each micro-batch's `StreamingQueryProgress.json` (query and run id,
  * batchId, the whole `durationMs` map of phases, source offsets — which
  * input slice produced the batch — state operators with their custom
  * metrics, watermark).
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
    log(event.runId, line("started", event.json))

  override def onQueryProgress(event: QueryProgressEvent): Unit =
    log(event.progress.runId, line("progress", event.progress.json))

  override def onQueryTerminated(event: QueryTerminatedEvent): Unit =
    log(event.runId, line("terminated", event.json), last = true)

  // Spark's compact one-line record (it always opens with the query id),
  // with the event kind as its first field
  private def line(kind: String, json: String): String =
    s"""{"event":"$kind",${json.drop(1)}"""

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

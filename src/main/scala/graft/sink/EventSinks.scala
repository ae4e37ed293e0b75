package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.model.Events

/** Level ordering shared by the min-level filters (the reference's
  * `LogLevel` comparison in ConsoleEventSink.cs:38-42).
  */
private[sink] object EventLevels {
  val order = Map("DEBUG" -> 0, "INFO" -> 1, "WARN" -> 2, "ERROR" -> 3, "CRITICAL" -> 4)

  /** Rank of the `level` column; unknown levels rank as INFO. */
  def rank(level: Column): Column =
    order.foldLeft(lit(order("INFO")): Column) { case (acc, (l, r)) =>
      when(level === l, lit(r)).otherwise(acc)
    }
}

/** The reference's event-sink channel (reference:
  * src/Shipwright.Core/Dataflows/EventSinks/ConsoleEventSink.cs:16-95,
  * AggregateEventSink.cs:34-79) re-expressed data-parallel: per-record
  * events are DATA (the `events` column), so "sinking" them is a DataFrame
  * split + writers, not a side channel.
  */
object ErrorSplit {

  /** Split pipeline output into (valid rows, error rows). Error rows =
    * one row per LogEvent, with the record key columns carried alongside —
    * the record-completed notification stream of the reference's
    * Dataflow.Handler terminus (Dataflow.cs:263-269).
    */
  def split(df: DataFrame, keyCols: Seq[String]): (DataFrame, DataFrame) = {
    val valid = df.filter(!Events.stoppedCol)
    val errors = df.filter(size(col(Events.col)) > 0)
      .select(keyCols.map(col) :+ explode(col(Events.col)).as("event"): _*)
      .select(keyCols.map(col) ++ Seq(
        col("event.stop").as("stop"), col("event.level").as("level"),
        col("event.description").as("description"), col("event.value").as("value")): _*)
    (valid, errors)
  }

  /** Writes micro-batch `batchId`'s error rows to `dir` as top-level
    * `batch-<batchId>-<n>.parquet` files and returns their count; with none
    * it writes nothing. A replay replaces the batch's own files, as a
    * [[BatchEffect]] must: the rows are staged in `dir/_staging/<id>`, an
    * earlier attempt's files deleted, then the staged ones renamed into
    * place. `errors` should be cached: it is counted, then written. */
  def write(errors: DataFrame, dir: String, batchId: Long): Long = {
    val n = errors.count()
    if (n > 0) {
      val root = new Path(dir)
      val fs = root.getFileSystem(errors.sparkSession.sparkContext.hadoopConfiguration)
      val staging = new Path(new Path(root, "_staging"), batchId.toString)
      errors.write.mode("overwrite").parquet(staging.toString)
      fs.globStatus(new Path(root, s"batch-$batchId-*.parquet")).foreach(f => fs.delete(f.getPath, false))
      fs.listStatus(staging).map(_.getPath).filter(_.getName.endsWith(".parquet"))
        .sortBy(_.getName).zipWithIndex.foreach { case (part, i) =>
          val to = new Path(root, s"batch-$batchId-$i.parquet")
          if (!fs.rename(part, to)) throw new java.io.IOException(s"cannot rename $part to $to")
        }
      fs.delete(staging.getParent, true) // a job runs one batch at a time
    }
    n
  }

  /** Per-record events (reference ConsoleEventSink.cs:44-95 logs each
    * record's event list at/above the minimum level) as (level, message)
    * pairs — the shape an [[EventSink]]'s `notify` takes, so a pipeline
    * routes them through whatever sink is configured. Formatting and the
    * level filter run DATA-PARALLEL over the [[split]] error stream; only
    * the `notify` calls run outside the executors.
    */
  def recordEvents(errors: DataFrame, keyCols: Seq[String],
                   minimumLevel: String = "WARN"): Dataset[(String, String)] = {
    require(EventLevels.order.contains(minimumLevel),
      s"Unknown minimum level [$minimumLevel]; expected one of ${EventLevels.order.keys.mkString(", ")}")
    val spark = errors.sparkSession
    import spark.implicits._
    val keyPart = concat_ws(", ", keyCols.map(k =>
      concat(lit(k + "="), coalesce(col(k).cast("string"), lit("null")))): _*)
    errors
      .filter(EventLevels.rank(col("level")) >= lit(EventLevels.order(minimumLevel)))
      .select(col("level"), concat(
        lit("record("), keyPart, lit("): "), col("description"),
        coalesce(concat(lit(" value="), col("value")), lit(""))).as("message"))
      .as[(String, String)]
  }
}

/** Lifecycle notification sinks. The per-record volume goes through
  * [[ErrorSplit]]; these receive the aggregate notifications (dataflow /
  * source started & completed, per-batch error counts) like the reference's
  * `IEventSinkHandler` with a MinimumLevel filter.
  */
trait EventSink extends Serializable {
  def notify(level: String, message: String): Unit
}

class ConsoleEventSink(minimumLevel: String = "WARN") extends EventSink {
  import EventLevels.order
  require(order.contains(minimumLevel), // sink validation decorator analog
    s"Unknown minimum level [$minimumLevel]; expected one of ${order.keys.mkString(", ")}")
  def notify(level: String, message: String): Unit =
    if (order.getOrElse(level, order("INFO")) >= order(minimumLevel))
      // scalastyle:off println
      println(s"[$level] $message")
      // scalastyle:on println
}

/** Fan-out to children, sequential (AggregateEventSink.cs:34-79). */
class AggregateEventSink(children: Seq[EventSink]) extends EventSink {
  def notify(level: String, message: String): Unit =
    children.foreach(_.notify(level, message))
}

/** Test capture (the reference's FakeEventSink). */
class CollectingEventSink extends EventSink {
  val captured = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
  def notify(level: String, message: String): Unit =
    synchronized { captured += ((level, message)) }
}

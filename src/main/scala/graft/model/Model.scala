package graft.model

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-row diagnostic event, the analog of the reference's
  * `LogEvent(StopProcessing, Level, Description, Value)` accumulated on
  * each record (reference: src/Shipwright.Core/Dataflows/Record.cs:65,
  * LogEvent.cs:16). Carried as an `events` array column so the error
  * channel stays data-parallel instead of a side effect.
  */
case class LogEvent(
    stop: Boolean,
    level: String,
    description: String,
    value: String
)

object LogEvent {
  val Error = "ERROR"
  val Critical = "CRITICAL"
}

/** Helpers for the `events` column that every operator threads through.
  *
  * The single most important semantic reproduced from the reference: once a
  * record carries any StopProcessing event, every later transformation is a
  * no-op for that record (reference:
  * src/Shipwright.Core/Dataflows/Transformations/Internal/
  * TransformationHandlerEventDecorator.cs:20-27). Here that becomes a pure
  * per-row boolean guard, so the whole pipeline stays inside Catalyst
  * expressions / whole-stage codegen — no control flow, no UDF on the hot
  * path.
  */
object Events {
  val col = "events"

  val eventType: StructType = StructType(Seq(
    StructField("stop", BooleanType, nullable = false),
    StructField("level", StringType, nullable = false),
    StructField("description", StringType, nullable = false),
    StructField("value", StringType, nullable = true)
  ))
  val arrayType: ArrayType = ArrayType(eventType, containsNull = false)

  /** Empty events array with the right element type. */
  def empty: Column =
    array().cast(arrayType)

  /** True when the row has any StopProcessing event — the short-circuit
    * guard every operator consults before touching a field.
    *
    * Implemented as `array_contains(events.stop, true)` rather than
    * `exists(events, _.stop)`: higher-order functions are CodegenFallback
    * expressions, and ONE of them in a projection excludes the whole
    * operator from whole-stage codegen (CollapseCodegenStages rejects any
    * plan whose expressions contain a CodegenFallback) — every pipeline
    * stage was running interpreted because of this guard. The extracted
    * `events.stop` is a GetArrayStructFields over a containsNull=false
    * array with a non-nullable `stop` field, so `array_contains(…, true)`
    * is exactly `exists`: true iff any element is true, false on empty,
    * null only for a null array (which Pipeline.init rules out).
    */
  def stopped(events: Column): Column =
    array_contains(events.getField("stop"), lit(true))

  def stoppedCol: Column = stopped(expr(col))

  /** Build one event struct. */
  def event(stop: Boolean, level: String, description: Column, value: Column): Column =
    struct(
      lit(stop).as("stop"),
      lit(level).as("level"),
      description.as("description"),
      value.cast(StringType).as("value")
    )

  /** Append `ev` to the events array when `cond` holds (and the row is not
    * already stopped — callers guard with [[stopped]] themselves when the
    * semantics require it).
    */
  def appendWhen(events: Column, cond: Column, ev: Column): Column =
    when(cond, concat(events, array(ev))).otherwise(events)
}

package graft.source

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic transcript table (BASELINE.json `input_hint` shape) derived
  * from the driver's `events` parquet — columns
  * (conv_id string, turn_idx int, role string, text string, tool string,
  * ts timestamp) plus `pos` (source position / provenance, the analog of the
  * reference's `Record.Position`, reference:
  * src/Shipwright.Core/Dataflows/Record.cs:32-37).
  *
  * The same derivation exists as a DuckDB CTE ([[duckSql]]) so every
  * transcript operator can be oracle-checked: both engines compute the table
  * from the same parquet with integer/string arithmetic that is
  * engine-agnostic (no float formatting, no locale).
  *
  * Deterministic "dirt" injected for operator coverage:
  *   - `event_id % 97 == 0` → text NULL          (Required / missing-field path)
  *   - `event_id % 89 == 0` → text '   '         (Required blank / DefaultValue path)
  *   - role cycles user/assistant/tool on `event_id % 3`
  *   - tool present only on assistant/tool turns (stream-stream join fixture)
  */
object Transcript {

  /** Spark-side derivation. Window is per-conversation only (150–150k convs
    * scale with the data); at 100 TB this is the natural partitioning.
    *
    * The window is keyed on `conv_id` ITSELF — projected to an attribute
    * BEFORE the window so the exchange's hashpartitioning(conv_id) survives
    * the final projection (alias-aware output partitioning only tracks
    * attributes that stay in scope; windowing on the raw `concat` expression
    * would hide the partitioning behind an extracted `_w0` alias). Because
    * `conv_id = 'c' + user_id` is a bijection of `user_id`, partitions and
    * in-partition order — hence every `row_number` value — are identical to
    * a user_id-keyed window; but now every downstream conv_id-keyed operator
    * (ConvOps lag/lead/cumsum windows, the tool-pair join and its
    * earliest-result window, the timeout anti-join) REUSES this exchange
    * instead of adding a second full shuffle of the transcript.
    */
  def fromEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.read(spark, sfDir, "events")
      .withColumn("conv_id", concat(lit("c"), col("user_id").cast(StringType)))
    val w = Window.partitionBy(col("conv_id")).orderBy(col("ts"), col("event_id"))
    events.select(
      col("conv_id"),
      (row_number().over(w) - 1).cast(IntegerType).as("turn_idx"),
      when(col("event_id") % 3 === 0, lit("user"))
        .when(col("event_id") % 3 === 1, lit("assistant"))
        .otherwise(lit("tool")).as("role"),
      when(col("event_id") % 97 === 0, lit(null).cast(StringType))
        .when(col("event_id") % 89 === 0, lit("   "))
        .otherwise(col("props")).as("text"),
      when(col("event_id") % 3 === 0, lit(null).cast(StringType))
        .otherwise(col("event_type")).as("tool"),
      col("ts"),
      col("event_id").as("pos")
    )
  }

  /** DuckDB CTE producing the identical table from `events`. Prefix any
    * oracle query with `WITH turns AS (<duckSql>)`.
    */
  val duckSql: String =
    """SELECT concat('c', CAST(user_id AS VARCHAR)) AS conv_id,
      |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INTEGER) AS turn_idx,
      |  CASE WHEN event_id % 3 = 0 THEN 'user' WHEN event_id % 3 = 1 THEN 'assistant' ELSE 'tool' END AS role,
      |  CASE WHEN event_id % 97 = 0 THEN NULL WHEN event_id % 89 = 0 THEN '   ' ELSE props END AS text,
      |  CASE WHEN event_id % 3 = 0 THEN NULL ELSE event_type END AS tool,
      |  ts,
      |  event_id AS pos
      |FROM events""".stripMargin

  /** `WITH turns AS (...)` prefix for oracle SQL. */
  val withTurns: String = s"WITH turns AS (\n$duckSql\n)\n"
}

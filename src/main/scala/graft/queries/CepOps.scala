package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.source.{Tables, Transcript}
import graft.stream.{OrderRepair, StreamDedup, ToolPair, TurnPos}

/** North-rule CEP obligations as oracle-checkable batch queries (SURVEY.md
  * §2.5): event-time windows (tumbling/sliding/session), per-conversation
  * order repair (`flatMapGroupsWithState` — the SAME function that runs in
  * streaming, invoked in batch mode where end-of-data plays the final
  * watermark), tool-call/response pairing, watermark-style dedup, and salted
  * skew-safe aggregation. Streaming flavors live in graft.stream and are
  * asserted equal to these in the test suites.
  */
object CepOps {

  private val W = Transcript.withTurns

  /** Deterministic disorder: drop every 7th event (gaps) and duplicate every
    * 11th (with pos offset + marker text) — identical in the DuckDB CTE.
    */
  private def dirtyTurns(s: SparkSession, dir: String): DataFrame = {
    val t = Transcript.fromEvents(s, dir)
    // Same multiset as `filter(%7≠0) UNION ALL dup(%11=0)`, built from ONE
    // pass: the filter-union shape duplicated the whole scan → exchange →
    // row_number subtree per branch (the branches prune different columns,
    // so ReuseExchange cannot merge them — two full scans and two window
    // exchanges per dirty query). Here each row contributes its original
    // copy (unless %7-dropped) plus its DUP copy (when %11-selected) via
    // one codegen'd explode. Every consumer is order-insensitive (fMGWS
    // min-pos dedup, row_number over pos), so multiset equality is result
    // equality — the DuckDB dirty CTE is unchanged.
    // conv_id stays a TOP-LEVEL column through the explode (only the
    // per-copy fields ride in the struct): Generate preserves its child's
    // output partitioning, so the transcript window's
    // hashpartitioning(conv_id) survives into the dirty frame and the
    // dedup window (conv_id, turn_idx) reuses it instead of re-shuffling
    // (the fMGWS consumers still exchange on their opaque groupByKey value).
    val rest = t.columns.toSeq.filterNot(_ == "conv_id")
    val orig = struct(rest.map(col): _*)
    val dup = struct(col("turn_idx"), col("role"), lit("DUP").as("text"),
      col("tool"), col("ts"), (col("pos") + 1000000000L).as("pos"))
    val none = array().cast(new org.apache.spark.sql.types.ArrayType(
      t.select(orig).schema.head.dataType, false))
    t.select(col("conv_id"), explode(concat(
        when(col("pos") % 7 =!= 0, array(orig)).otherwise(none),
        when(col("pos") % 11 === 0, array(dup)).otherwise(none)))
        .as("__r"))
      .select(col("conv_id") +: rest.map(f => col(s"__r.$f").as(f)): _*)
  }

  private val dirtySql =
    """SELECT * FROM turns WHERE pos % 7 <> 0
      |UNION ALL
      |SELECT conv_id, turn_idx, role, 'DUP' AS text, tool, ts, pos + 1000000000 AS pos
      |FROM turns WHERE pos % 11 = 0""".stripMargin

  private val dedupSql =
    """SELECT conv_id, turn_idx, role, text, tool, ts, pos FROM (
      |  SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY pos) AS rn
      |  FROM dirty
      |) WHERE rn = 1""".stripMargin

  import org.apache.spark.sql.Encoders
  private implicit val turnPosEnc = Encoders.product[TurnPos]

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // `OrderRepair.batch` — the packed core the job runs, and the code the
    // benchmark's correctness check calls. The pack/unpack round-trip makes
    // ts UTC-adjusted; cast back to NTZ so the parquet output matches the
    // oracle's naive timestamps byte-for-byte regardless of how the driver
    // normalizes time zones.
    "q_order_repair" -> ((s, dir) =>
      OrderRepair.batch(dirtyTurns(s, dir).as[TurnPos], strict = true).toDF()
        .withColumn("ts", col("ts").cast("timestamp_ntz"))),

    "q_order_repair_flush" -> ((s, dir) =>
      OrderRepair.batch(dirtyTurns(s, dir).as[TurnPos], strict = false).toDF()
        .withColumn("ts", col("ts").cast("timestamp_ntz"))),

    "q_dedup_keep_first" -> ((s, dir) => {
      // Batch analog of dropDuplicatesWithinWatermark: min-pos winner per key
      // (dropDuplicates keeps an arbitrary row — not deterministic, so the
      // engine's dedup is a window, one shuffle on the same key as every
      // other per-conversation op).
      val w = Window.partitionBy(col("conv_id"), col("turn_idx")).orderBy(col("pos"))
      dirtyTurns(s, dir).withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }),

    // The streaming flag-dedup fMGWS operator (stream/Dedup.scala) run in
    // batch mode — same core function, NoTimeout — so the driver oracle pins
    // its semantics: min-pos first arrival wins, duplicates EMITTED (not
    // dropped) with a pointer to the original's position.
    "q_dedup_flag" -> ((s, dir) =>
      StreamDedup.flagBatch(dirtyTurns(s, dir).as[TurnPos])
        .withColumn("ts", col("ts").cast("timestamp_ntz"))),

    "q_tool_pair" -> ((s, dir) =>
      ToolPair.batch(Transcript.fromEvents(s, dir))
        .select(col("conv_id"), col("call_turn_idx"), col("tool"),
          col("result_turn_idx"), col("latency_ms"))),

    // CEP absence detection — calls with no result within the SLA window.
    // Streaming flavor (ToolPair.timeoutsStreaming) emits the same rows via
    // the watermarked left-outer join; StreamingSpec asserts equality.
    "q_tool_timeout" -> ((s, dir) =>
      ToolPair.timeoutsBatch(Transcript.fromEvents(s, dir))),

    "q_window_tumbling" -> ((s, dir) => {
      val ev = Tables.read(s, dir, "events")
      ev.groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))
    }),

    "q_window_sliding" -> ((s, dir) => {
      val ev = Tables.read(s, dir, "events")
      ev.groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))
    }),

    "q_session_window" -> ((s, dir) => {
      val ev = Tables.read(s, dir, "events")
      ev.groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("session_window.start").as("s_start"),
          col("session_window.end").as("s_end"), col("user_id"), col("n"))
    }),

    "q_cep_error_burst" -> ((s, dir) => {
      // CEP sequence pattern: maximal runs of >= 3 CONSECUTIVE 'error'
      // events per user, in event-time order. Runs the stream/Burst fMGWS
      // core in batch mode (NoTimeout — one invocation per key, end-of-data
      // as the final watermark), so this oracle pins the SAME function the
      // streaming flavor runs — the OrderRepair/StreamDedup pattern. The
      // SQL oracle is the equivalent gaps-and-islands window query.
      import graft.stream.{Burst, KeyedEv}
      implicit val kevEnc = Encoders.product[KeyedEv]
      val ev = Tables.read(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"),
          (col("event_type") === "error").as("is_error"))
        .as[KeyedEv]
      Burst.batch(ev, minRun = 3).toDF()
        .withColumn("start_ts", col("start_ts").cast("timestamp_ntz"))
        .withColumn("end_ts", col("end_ts").cast("timestamp_ntz"))
    }),

    "q_skew_salted_agg" -> ((s, dir) => {
      // Two-stage salted aggregation: partial agg on (conv_id, salt) spreads
      // a hot conversation over 16 reducers, final agg merges partials.
      // Result is identical to the direct groupBy — the salt only reshapes
      // the shuffle.
      val t = Transcript.fromEvents(s, dir)
      t.withColumn("__salt", pmod(col("pos"), lit(16)))
        .groupBy(col("conv_id"), col("__salt"))
        .agg(count(lit(1)).as("pn"), sum(length(col("text"))).as("pl"))
        .groupBy(col("conv_id"))
        .agg(sum(col("pn")).as("n_turns"), sum(col("pl")).as("total_chars"))
    })
  )

  val oracles: Map[String, String] = Map(

    "q_order_repair" -> (W +
      s""", dirty AS (\n$dirtySql\n), dedup AS (\n$dedupSql\n),
         |gaps AS (
         |  SELECT conv_id, min(turn_idx) AS min_gap FROM (
         |    SELECT conv_id, turn_idx,
         |      row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) - 1 AS rnk
         |    FROM dedup
         |  ) WHERE turn_idx <> rnk GROUP BY conv_id
         |)
         |SELECT d.conv_id, d.turn_idx, d.role, d.text, d.tool, d.ts, d.pos
         |FROM dedup d LEFT JOIN gaps g ON d.conv_id = g.conv_id
         |WHERE g.min_gap IS NULL OR d.turn_idx < g.min_gap""".stripMargin),

    "q_order_repair_flush" -> (W +
      s""", dirty AS (\n$dirtySql\n)\n$dedupSql""".stripMargin),

    "q_dedup_keep_first" -> (W +
      s""", dirty AS (\n$dirtySql\n)\n$dedupSql""".stripMargin),

    "q_dedup_flag" -> (W +
      s""", dirty AS (\n$dirtySql\n)
         |SELECT conv_id, turn_idx, role, text, tool, ts, pos,
         |  pos <> fp AS is_duplicate,
         |  CASE WHEN pos <> fp THEN fp END AS dup_of_pos
         |FROM (SELECT *, min(pos) OVER (PARTITION BY conv_id, turn_idx) AS fp
         |      FROM dirty)""".stripMargin),

    "q_tool_pair" -> (W +
      """, calls AS (
        |  SELECT conv_id, turn_idx AS call_turn_idx, tool, ts AS call_ts, pos AS call_pos
        |  FROM turns WHERE role = 'assistant' AND tool IS NOT NULL
        |), results AS (
        |  SELECT conv_id AS r_conv_id, turn_idx AS result_turn_idx, tool AS r_tool,
        |    ts AS result_ts, pos AS result_pos
        |  FROM turns WHERE role = 'tool'
        |), joined AS (
        |  SELECT c.conv_id, c.call_turn_idx, c.tool, r.result_turn_idx,
        |    epoch_ms(r.result_ts) - epoch_ms(c.call_ts) AS latency_ms,
        |    row_number() OVER (PARTITION BY c.conv_id, c.call_turn_idx
        |      ORDER BY r.result_ts ASC NULLS LAST, r.result_pos ASC NULLS LAST) AS rn
        |  FROM calls c LEFT JOIN results r
        |    ON c.conv_id = r.r_conv_id AND c.tool = r.r_tool
        |   AND r.result_turn_idx > c.call_turn_idx
        |   AND r.result_ts >= c.call_ts
        |   AND r.result_ts <= c.call_ts + INTERVAL 5 MINUTE
        |)
        |SELECT conv_id, call_turn_idx, tool, result_turn_idx, latency_ms
        |FROM joined WHERE rn = 1""".stripMargin),

    "q_tool_timeout" -> (W +
      """, calls AS (
        |  SELECT conv_id, turn_idx AS call_turn_idx, tool, ts AS call_ts
        |  FROM turns WHERE role = 'assistant' AND tool IS NOT NULL
        |)
        |SELECT c.conv_id, c.call_turn_idx, c.tool, c.call_ts
        |FROM calls c WHERE NOT EXISTS (
        |  SELECT 1 FROM turns r
        |  WHERE r.role = 'tool' AND r.conv_id = c.conv_id AND r.tool = c.tool
        |    AND r.turn_idx > c.call_turn_idx
        |    AND r.ts >= c.call_ts AND r.ts <= c.call_ts + INTERVAL 5 MINUTE)""".stripMargin),

    "q_window_tumbling" ->
      """SELECT date_trunc('hour', ts) AS w_start, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_window_sliding" ->
      """SELECT make_timestamp(((epoch_ms(ts) // 1800000) - k.k) * 1800000000) AS w_start,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events CROSS JOIN (VALUES (0), (1)) AS k(k)
        |GROUP BY 1, 2""".stripMargin,

    "q_session_window" ->
      """WITH x AS (
        |  SELECT user_id, ts,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              >= INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events
        |), y AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x
        |)
        |SELECT min(ts) AS s_start, max(ts) + INTERVAL 10 MINUTE AS s_end,
        |  user_id, count(*) AS n
        |FROM y GROUP BY user_id, sid""".stripMargin,

    "q_cep_error_burst" ->
      """WITH r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events
        |), e AS (
        |  SELECT user_id, event_id, ts,
        |    rn - row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS grp
        |  FROM r WHERE event_type = 'error'
        |)
        |SELECT user_id, count(*) AS run_len,
        |  min(event_id) AS first_event_id, max(event_id) AS last_event_id,
        |  min(ts) AS start_ts, max(ts) AS end_ts
        |FROM e GROUP BY user_id, grp HAVING count(*) >= 3""".stripMargin,

    "q_skew_salted_agg" -> (W +
      // DuckDB sum(BIGINT) yields HUGEINT (int128) — cast back to BIGINT so
      // the type hashes like Spark's LONG sum.
      """SELECT conv_id, count(*) AS n_turns,
        |  CAST(sum(length(text)) AS BIGINT) AS total_chars
        |FROM turns GROUP BY conv_id""".stripMargin)
  )
}

package graft.transform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.{Events, LogEvent}

/** Field converters — the analog of the reference's `Conversion` delegates
  * (reference: src/Shipwright.Core/Dataflows/Transformations/Conversion.cs:111-228).
  * Each is a pure Column→Column returning NULL on unconvertible input, so the
  * whole conversion stays inside whole-stage codegen (no UDFs). The exact C#
  * parse semantics (bool token table, lenient DateTime, SSN formatting) are
  * reproduced as expression trees, NOT as Spark CASTs — `CAST` accepts values
  * the reference rejects (e.g. `'t'` as boolean).
  */
object Converters {

  /** Conversion.ToUpperCase (Conversion.cs:111-118). Input schema is string,
    * so the non-string failure path of the reference cannot arise.
    */
  val toUpperCase: Column => Column = c => upper(c)

  /** Conversion.ToBoolean (Conversion.cs:158-190): bool.TryParse plus the
    * case-insensitive token table yes/no/y/n/0/1
    * (tests: BooleanTests.cs:20-47). Numeric strings beyond 0/1 fail, exactly
    * like C# (Convert.ToBoolean(string) uses bool.Parse, not numeric parse).
    */
  val toBoolean: Column => Column = c => {
    val t = lower(trim(c))
    when(t.isin("true", "yes", "y", "1"), lit(true))
      .when(t.isin("false", "no", "n", "0"), lit(false))
      .otherwise(lit(null).cast(BooleanType))
  }

  /** Conversion.ToDecimal (Conversion.cs:210-228): decimal.TryParse with
    * NumberStyles.Number (thousands separators allowed when well-formed).
    */
  val toDecimal: Column => Column = c => {
    val t = trim(c)
    val grouped = t.rlike("^[+-]?[0-9]{1,3}(,[0-9]{3})+(\\.[0-9]*)?$")
    val cleaned = when(grouped, regexp_replace(t, ",", "")).otherwise(t)
    cleaned.try_cast("decimal(38,18)")
  }

  /** Conversion.ToDateTime (Conversion.cs:123-141): C# DateTime.TryParse is
    * lenient ("Jan  2, 2018 12:30 AM" parses — DateTimeTests.cs:57-60). We
    * normalize runs of spaces, then try ISO (Spark's default string→timestamp
    * parse covers yyyy-MM-dd[ HH:mm:ss[.f…]], single-digit month/day and the
    * 'T'/round-trip forms) followed by the lenient en-US format table below
    * (month-name, slash, dash and day-first shapes TryParse accepts).
    * Deliberate deviations from TryParse, documented:
    *   - digit-only strings ("2018", "20180102") are REJECTED — Spark's
    *     default parser would read "2018" as a year, TryParse fails both;
    *   - time-only strings ("03:04:05") are rejected: TryParse fills in
    *     "today", which is nondeterministic in a distributed engine.
    */
  private val monthNameFormats: Seq[String] = Seq(
    "MMM d, yyyy h:mm:ss a", "MMM d, yyyy h:mm a", "MMM d, yyyy",
    "MMMM d, yyyy h:mm:ss a", "MMMM d, yyyy h:mm a", "MMMM d, yyyy",
    "MMM d yyyy", "MMMM d yyyy")
  private val dayFirstFormats: Seq[String] = Seq(
    "d MMM yyyy h:mm:ss a", "d MMM yyyy h:mm a", "d MMM yyyy", "d MMMM yyyy")
  private val slashFormats: Seq[String] = Seq(
    "M/d/yyyy h:mm:ss a", "M/d/yyyy h:mm a", "M/d/yyyy H:mm:ss", "M/d/yyyy")
  private val dashFormats: Seq[String] = Seq(
    "M-d-yyyy h:mm:ss a", "M-d-yyyy")
  private val yearSlashFormats: Seq[String] = Seq(
    "yyyy/M/d H:mm:ss", "yyyy/M/d")
  private val lenientDateTimeFormats: Seq[String] =
    monthNameFormats ++ dayFirstFormats ++ slashFormats ++ dashFormats ++
      yearSlashFormats

  val toDateTime: Column => Column = c => {
    val norm = regexp_replace(trim(c), " +", " ")
    def attempt(fs: Seq[String]) =
      coalesce(fs.map(f => try_to_timestamp(norm, lit(f))): _*)
    val nullTs = lit(null).cast(TimestampType)
    val digitOnly = norm.rlike("^[0-9]+$")
    val timeOnly = norm.rlike("^[0-9]{1,2}:[0-9]{2}(:[0-9]{2})?(\\.[0-9]+)?( ?[AaPp][Mm])?$")
    // Shape dispatch: a failed try_to_timestamp attempt costs an internal
    // exception, so running all 21 formats per row dominates the operator at
    // scale. Each prefix shape can only ever match one format family (a
    // letter-first string can never parse as ISO or M/d/yyyy, and vice
    // versa) and each END-anchored time-of-day suffix can only ever match
    // the format variant with the same time fields — the Java formatter
    // must consume the ENTIRE input, so "… h:mm:ss AM" can never parse
    // under "… h:mm a" or a bare-date pattern and vice versa. Two-level
    // dispatch (prefix family, then time suffix) therefore tries the ONE
    // OR TWO formats that could possibly succeed instead of 21 — identical
    // results, near-zero internal parse exceptions; the unclassified
    // residue falls through to the original full chain.
    val hmsA = norm.rlike(" [0-9]{1,2}:[0-9]{2}:[0-9]{2} [AaPp][Mm]$")
    val hmA = norm.rlike(" [0-9]{1,2}:[0-9]{2} [AaPp][Mm]$")
    val hms = norm.rlike(" [0-9]{1,2}:[0-9]{2}:[0-9]{2}$")
    // route each time-suffix shape to its format variants (empty = the
    // family has no variant with that suffix, so every original attempt
    // would have failed: return null without throwing)
    def bySuffix(fHmsA: Seq[String], fHmA: Seq[String], fHms: Seq[String],
                 bare: Seq[String]): Column = {
      def att(fs: Seq[String]) = if (fs.isEmpty) nullTs else attempt(fs)
      when(hmsA, att(fHmsA)).when(hmA, att(fHmA)).when(hms, att(fHms))
        .otherwise(att(bare))
    }
    val fullChain = coalesce(try_to_timestamp(norm) +:
      lenientDateTimeFormats.map(f => try_to_timestamp(norm, lit(f))): _*)
    when(digitOnly || timeOnly, nullTs)
      .when(norm.rlike("^[A-Za-z]"),
        when(norm.contains(","),
          bySuffix(
            Seq("MMM d, yyyy h:mm:ss a", "MMMM d, yyyy h:mm:ss a"),
            Seq("MMM d, yyyy h:mm a", "MMMM d, yyyy h:mm a"),
            Nil,
            Seq("MMM d, yyyy", "MMMM d, yyyy")))
        .otherwise(bySuffix(Nil, Nil, Nil, Seq("MMM d yyyy", "MMMM d yyyy"))))
      .when(norm.rlike("^[0-9]{1,2} [A-Za-z]"),
        bySuffix(Seq("d MMM yyyy h:mm:ss a"), Seq("d MMM yyyy h:mm a"), Nil,
          Seq("d MMM yyyy", "d MMMM yyyy")))
      .when(norm.rlike("^[0-9]{1,2}/[0-9]{1,2}/[0-9]{4}"),
        bySuffix(Seq("M/d/yyyy h:mm:ss a"), Seq("M/d/yyyy h:mm a"),
          Seq("M/d/yyyy H:mm:ss"), Seq("M/d/yyyy")))
      .when(norm.rlike("^[0-9]{1,2}-[0-9]{1,2}-[0-9]{4}"),
        bySuffix(Seq("M-d-yyyy h:mm:ss a"), Nil, Nil, Seq("M-d-yyyy")))
      .when(norm.rlike("^[0-9]{4}/"),
        bySuffix(Nil, Nil, Seq("yyyy/M/d H:mm:ss"), Seq("yyyy/M/d")))
      .when(norm.rlike("^[0-9]{4}-"), try_to_timestamp(norm))
      .otherwise(fullChain)
  }

  /** Conversion.ToDate (Conversion.cs:146-153): ToDateTime then midnight
    * truncation.
    */
  val toDate: Column => Column = c => toDateTime(c).cast(DateType)

  /** Conversion.ToSocialSecurityNumber (Conversion.cs:195-205): strip
    * non-digits; exactly 9 digits → ###-##-####; else fail.
    */
  val toSsn: Column => Column = c => {
    val digits = regexp_replace(c, "[^0-9]", "")
    when(length(digits) === 9,
      concat_ws("-",
        substring(digits, 1, 3), substring(digits, 4, 2), substring(digits, 6, 4)))
      .otherwise(lit(null).cast(StringType))
  }

  def byName(name: String): (Column => Column, DataType) = name match {
    case "upper"    => (toUpperCase, StringType)
    case "boolean"  => (toBoolean, BooleanType)
    case "decimal"  => (toDecimal, DecimalType(38, 18))
    case "datetime" => (toDateTime, TimestampType)
    case "date"     => (toDate, DateType)
    case "ssn"      => (toSsn, StringType)
  }

  val names: Seq[String] = Seq("upper", "boolean", "decimal", "datetime", "date", "ssn")
  def known(name: String): Boolean = names.contains(name)
}

/** Declarative transformation ADT — the analog of the reference's
  * `Transformation` records composed by `AggregateTransformation`
  * (reference: src/Shipwright.Core/Dataflows/Transformations/
  * AggregateTransformation.cs:53-61). The [[Pipeline]] compiler folds these
  * into Catalyst column expressions; nothing here materializes rows.
  */
sealed trait Transformation

/** Required (Required.cs:53-80): missing/null or (unless allowEmpty)
  * whitespace-only string → field nulled + stop event. Build-time
  * validation mirrors the reference's FluentValidation decorators
  * (Required.cs:38-50): a bad plan fails before any job is submitted.
  */
case class Required(fields: Seq[String], allowEmpty: Boolean = false) extends Transformation {
  require(fields.nonEmpty && fields.forall(_.trim.nonEmpty),
    "Required needs at least one non-blank field name")
}

/** DefaultValue (DefaultValue.cs:60-84): missing/null or (defaultOnBlank)
  * whitespace-only → literal default; a missing field is CREATED.
  */
case class DefaultValue(defaults: Map[String, Any], defaultOnBlank: Boolean = true) extends Transformation {
  require(defaults.nonEmpty, "DefaultValue needs at least one field → default")
}

/** Replace (Replace.cs:69-99): exact case-sensitive match against the map. */
case class Replace(fields: Seq[String], replacements: Map[String, String]) extends Transformation {
  require(fields.nonEmpty, "Replace needs at least one field")
  require(replacements.nonEmpty, "Replace needs at least one incoming → outgoing pair")
}

/** Truncate (Truncate.cs:52-73): strings longer than len → prefix. */
case class Truncate(lengths: Map[String, Int]) extends Transformation {
  require(lengths.nonEmpty && lengths.values.forall(_ > 0),
    "Truncate needs positive lengths")
}

/** Conversion (Conversion.cs:62-94): converter by name from [[Converters]];
  * failure nulls the field and appends the stop event carrying the offending
  * value (remove-on-fail, Conversion.cs:84-88).
  */
case class Conversion(fields: Seq[String], converter: String) extends Transformation {
  require(fields.nonEmpty, "Conversion needs at least one field")
  require(Converters.known(converter),
    s"Unknown converter [$converter]; expected one of ${Converters.names.mkString(", ")}")
}

/** Conditional (Conditional.cs:48-95): per-row predicate gating inner
  * transformations. Compiled by pushing the predicate into every inner
  * field-effect — per-row guards, not control flow.
  */
case class Conditional(pred: Column, inner: Seq[Transformation]) extends Transformation

/** Unique (Unique.cs:60-97): duplicates by key are FLAGGED (stop event naming
  * the first occurrence's position), never dropped; first occurrence by
  * source position wins — reproducing the reference's sequential arrival
  * order deterministically via min-position, independent of partitioning.
  */
case class UniqueFlag(keys: Seq[String], posCol: String = "pos",
                      caseSensitive: Boolean = false) extends Transformation {
  require(keys.nonEmpty, "UniqueFlag needs at least one key field")
}

/** DbLookup (DbLookup.cs:181-223) re-expressed as a left join with an
  * exactly-one-match guard: 1 match → outputs copied; 0 or ≥2 → stop event
  * carrying the match count. The reference's per-key result cache
  * (DbLookup.cs:159-176) is subsumed by join execution — the build side is
  * read once. The planner and AQE pick broadcast or shuffle join by the
  * lookup's size. `parameters` are the reference's STATIC query parameters
  * (DbLookup.cs:196 merges `Parameters` into every lookup's input): constant
  * equality criteria applied to the lookup side before the join.
  */
case class Lookup(lookupDf: DataFrame, joinKeys: Seq[String],
                  outputs: Seq[String],
                  parameters: Map[String, Any] = Map.empty) extends Transformation {
  require(joinKeys.nonEmpty, "Lookup needs at least one join key")
}

/** Code (Code.cs:12-62): the escape-hatch UDF — arbitrary DataFrame step.
  * Not gateable by Conditional (use column functions for that).
  */
case class CodeT(fn: DataFrame => DataFrame) extends Transformation

/** Compiles a transformation list over a DataFrame carrying an `events`
  * column, reproducing the reference's short-circuit decorator
  * (TransformationHandlerEventDecorator.cs:20-27): each op's effects are
  * guarded by `!stopped(events)` — a stop event freezes the record for all
  * later operators. Everything stays in Catalyst expressions (one projection
  * per operator, collapsed by the optimizer into a single codegen stage for
  * the narrow ops).
  */
object Pipeline {

  /** Add the empty events column (idempotent). */
  def init(df: DataFrame): DataFrame =
    if (df.columns.contains(Events.col)) df
    else df.withColumn(Events.col, Events.empty)

  def apply(df: DataFrame, transformations: Seq[Transformation]): DataFrame =
    transformations.foldLeft(init(df))((d, t) => applyOne(d, t, lit(true), gated = false))

  private def fieldEvent(stop: Boolean, level: String, desc: String, value: Column): Column =
    Events.event(stop, level, lit(desc), value)

  private def applyOne(df: DataFrame, t: Transformation, pred: Column,
                       gated: Boolean): DataFrame = t match {

    case Required(fields, allowEmpty) =>
      fields.foldLeft(df) { (d0, f) =>
        // a MISSING field is a Required failure in the reference's record
        // dict (Required.cs:68-69) — materialize it as null so the event
        // fires instead of the plan failing analysis
        val d = if (d0.columns.contains(f)) d0
                else d0.withColumn(f, lit(null).cast(StringType))
        val g = pred && !Events.stoppedCol
        val blank = if (allowEmpty) lit(false) else trim(col(f).cast(StringType)) === ""
        val bad = g && (col(f).isNull || blank)
        // The guard must be evaluated against the PRE-op events array: stage
        // it in a temp column, then append the event (payload = pre-null
        // value), then null the field.
        d.withColumn("__bad", bad)
          .withColumn(Events.col,
            Events.appendWhen(col(Events.col), col("__bad"),
              fieldEvent(stop = true, LogEvent.Error,
                s"A value is required for the field [$f]", col(f))))
          .withColumn(f, when(col("__bad"), lit(null).cast(d.schema(f).dataType)).otherwise(col(f)))
          .drop("__bad")
      }

    case DefaultValue(defaults, onBlank) =>
      defaults.foldLeft(df) { case (d, (f, v)) =>
        val g = pred && !Events.stoppedCol
        if (!d.columns.contains(f))
          // the reference's record dict CREATES a missing field on default
          // (DefaultValue.cs:60-84 sets record[field]); stopped rows stay
          // untouched → the field remains missing (null) for them
          d.withColumn(f, when(g, lit(v)))
        else {
          val blank =
            if (onBlank) col(f).isNull || trim(col(f).cast(StringType)) === ""
            else col(f).isNull
          d.withColumn(f, when(g && blank, lit(v)).otherwise(col(f)))
        }
      }

    case Replace(fields, map) =>
      // replacing a field the record does not carry is a no-op, like the
      // reference's dict lookup (Replace.cs:69-99)
      fields.filter(df.columns.contains).foldLeft(df) { (d, f) =>
        val g = pred && !Events.stoppedCol
        val s = col(f).cast(StringType)
        val replaced = map.foldLeft(lit(null).cast(StringType)) {
          case (acc, (in, out)) => when(s === lit(in), lit(out)).otherwise(acc)
        }
        val hit = map.keys.foldLeft(lit(false))((acc, in) => acc || s === lit(in))
        d.withColumn(f, when(g && col(f).isNotNull && hit, replaced).otherwise(col(f)))
      }

    case Truncate(lengths) =>
      // missing field → no-op (dict TryGetValue semantics)
      lengths.filter { case (f, _) => df.columns.contains(f) }.foldLeft(df) { case (d, (f, n)) =>
        val g = pred && !Events.stoppedCol
        d.withColumn(f,
          when(g && length(col(f)) > n, substring(col(f), 1, n)).otherwise(col(f)))
      }

    case Conversion(fields, convName) =>
      val (fn, dt) = Converters.byName(convName)
      // missing field → no-op ("for each configured field with a non-null
      // value", Conversion.cs:70-74)
      fields.filter(df.columns.contains).foldLeft(df) { (d, f) =>
        val g = pred && !Events.stoppedCol
        val applied = g && col(f).isNotNull
        // The converted value is STAGED in a temp column and referenced from
        // both the failure test and the final value. Instantiating `fn(col(f))`
        // twice (the previous shape) left two copies of the converter tree in
        // the collapsed projection — for ToDateTime that is the whole
        // try_to_timestamp format chain evaluated twice per row. A staged
        // non-cheap alias referenced more than once is exactly what
        // CollapseProject refuses to inline, so this guarantees one
        // evaluation.
        val failed = col("__applied") && col("__conv").isNull
        // Unconditional conversion → typed column: success overwrites,
        // failure removes the field (null) matching Conversion.cs:84-88.
        // GATED conversion (under Conditional) must NOT destroy rows the
        // predicate skips — the reference leaves unconverted records
        // untouched, but a static typed column cannot hold the frozen
        // string. So a gated conversion keeps the column as STRING:
        // converted values render canonically, skipped rows keep their
        // original value, failures null + stop event.
        val newVal =
          if (gated)
            when(col("__applied") && !col("__failed"), col("__conv").cast(StringType))
              .when(col("__failed"), lit(null).cast(StringType))
              .otherwise(col(f).cast(StringType))
          else
            when(col("__applied") && !col("__failed"), col("__conv"))
              .otherwise(lit(null).cast(dt))
        d.withColumn("__conv", fn(col(f)))
          .withColumn("__applied", applied).withColumn("__failed", failed)
          .withColumn(Events.col,
            Events.appendWhen(col(Events.col), col("__failed"),
              fieldEvent(stop = true, LogEvent.Error,
                s"Unable to convert the data in field [$f]", col(f))))
          .withColumn(f, newVal)
          .drop("__conv", "__applied", "__failed")
      }

    case Conditional(p, inner) =>
      inner.foldLeft(df)((d, t2) => applyOne(d, t2, pred && p, gated = true))

    case UniqueFlag(keys, posCol, caseSensitive) =>
      val g = pred && !Events.stoppedCol
      val rawKey = to_json(struct(keys.map(k => col(k).cast(StringType)): _*))
      val key = if (caseSensitive) rawKey else upper(rawKey)
      // Stopped/ungated rows never reach the handler in the reference, so
      // they neither register keys nor get flagged. A single sentinel key
      // for ALL of them would funnel every stopped row through one window
      // partition (a one-reducer hot spot in exactly the high-error
      // pipelines this operator serves) — instead they get a salted junk
      // key, spreading them over the shuffle; `dup` requires `g`, so junk
      // partitions can never flag. Junk keys ("__x…") cannot collide with
      // real keys (JSON objects, "{"-prefixed).
      val eligKey = when(g, key)
        .otherwise(concat(lit("__x"), pmod(col(posCol), lit(1024)).cast(StringType)))
      // Shuffle on a 128-bit fingerprint of the key (fnv64 + independent
      // xxhash64, both computed map-side, both codegen'd), not the JSON
      // string: on wide multi-field keys the exchange hashes and sorts 16
      // bytes per row instead of the full serialized key — the q_dedup_exact
      // lesson. Simultaneous 64+64-bit collision odds at 10^10 rows ≈ 10^-19
      // (the standard content-hash contract); a collision could only merge
      // two key groups, flagging a non-duplicate — no string tiebreak kept.
      val w = Window
        .partitionBy(graft.functions.fns.fnv64(eligKey), xxhash64(eligKey))
        .orderBy(col(posCol))
      // reference the materialized __first_pos column, NOT the window
      // expression itself: inlining `first(pos).over(w)` into `dup` builds a
      // SECOND Window node whose fresh partition aliases Catalyst cannot
      // prove co-partitioned — doubling the exchange
      val dup = g && eligKey.isNotNull && col(posCol) =!= col("__first_pos")
      df.withColumn("__first_pos", first(col(posCol)).over(w))
        .withColumn(Events.col,
          Events.appendWhen(col(Events.col), dup,
            Events.event(stop = true, LogEvent.Error,
              lit("Duplicate record detected"),
              concat(lit("first occurrence at position "), col("__first_pos")))))
        .drop("__first_pos")

    case Lookup(lookupDf, joinKeys, outputs, parameters) =>
      val g = pred && !Events.stoppedCol
      // Static parameters: constant equality criteria on the lookup side,
      // applied BEFORE the aggregation so they participate in the
      // exactly-one count like the reference's merged query input.
      val withParams = parameters.foldLeft(lookupDf) {
        case (d, (k, v)) => d.filter(col(k) === lit(v))
      }
      // Pre-aggregate the build side: exactly-one semantics become a count
      // check after a single left join (a broadcast below the auto-broadcast
      // threshold, a shuffle join above it).
      val build = withParams
        .groupBy(joinKeys.map(col): _*)
        .agg(count(lit(1)).as("__match_count"),
          outputs.map(o => first(col(o)).as(o)): _*)
      val joined = df.join(build, joinKeys, "left")
      val matched = col("__match_count").isNotNull && col("__match_count") === 1
      val staged = joined
        .withColumn("__ok", g && matched)
        .withColumn("__failed", g && !matched)
      val withEv = staged.withColumn(Events.col,
        Events.appendWhen(col(Events.col), col("__failed"),
          Events.event(stop = true, LogEvent.Error,
            lit("Lookup did not match exactly one record"),
            coalesce(col("__match_count"), lit(0)).cast(StringType))))
      outputs.foldLeft(withEv) { (d, o) =>
        d.withColumn(o, when(col("__ok"), col(o)).otherwise(lit(null).cast(d.schema(o).dataType)))
      }.drop("__match_count", "__ok", "__failed")

    case CodeT(fn) => fn(df)
  }
}

package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Events
import graft.transform._

/** Record-level operator semantics, mirroring the reference handler tests
  * (reference: src/Shipwright.Test/Dataflows/Transformations/…/
  * HandlerTests.cs): Required matrix, Unique flag-don't-drop with pointer to
  * first occurrence, Lookup exactly-one rule, DefaultValue/Replace/Truncate,
  * Conditional gating, and the stop-event short-circuit decorator.
  */
class TransformsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def events(df: DataFrame): Map[Long, Seq[Row]] =
    df.select(col("pos"), col(Events.col)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Row](1)).toMap

  private def mk(rows: (Long, String)*): DataFrame =
    rows.toDF("pos", "f")

  test("required: matrix of missing/null/value/blank/whitespace × allowEmpty") {
    val df = mk(1L -> "v", 2L -> null, 3L -> "", 4L -> "   ")
    val strict = Pipeline(df, Seq(Required(Seq("f"))))
    val vals = strict.select("pos", "f").as[(Long, Option[String])].collect().toMap
    assert(vals(1L).contains("v") && vals(2L).isEmpty && vals(3L).isEmpty && vals(4L).isEmpty)
    val ev = events(strict)
    assert(ev(1L).isEmpty && ev(2L).size == 1 && ev(3L).size == 1 && ev(4L).size == 1)
    assert(ev(2L).head.getAs[Boolean]("stop"))
    assert(ev(2L).head.getAs[String]("description").contains("required for the field [f]"))

    val lax = Pipeline(df, Seq(Required(Seq("f"), allowEmpty = true)))
    val lv = lax.select("pos", "f").as[(Long, Option[String])].collect().toMap
    assert(lv(3L).contains("") && lv(4L).contains("   ")) // blanks allowed
    assert(events(lax)(2L).size == 1)                      // null still fails
  }

  test("default value: null and blank defaulted; defaultOnBlank=false keeps blanks") {
    val df = mk(1L -> "v", 2L -> null, 3L -> " ")
    val d1 = Pipeline(df, Seq(DefaultValue(Map("f" -> "D"))))
      .select("pos", "f").as[(Long, String)].collect().toMap
    assert(d1 == Map(1L -> "v", 2L -> "D", 3L -> "D"))
    val d2 = Pipeline(df, Seq(DefaultValue(Map("f" -> "D"), defaultOnBlank = false)))
      .select("pos", "f").as[(Long, String)].collect().toMap
    assert(d2 == Map(1L -> "v", 2L -> "D", 3L -> " "))
  }

  test("replace: exact case-sensitive match only; null input is a no-op") {
    val df = mk(1L -> "a", 2L -> "A", 3L -> "b", 4L -> null)
    val got = Pipeline(df, Seq(Replace(Seq("f"), Map("a" -> "x"))))
      .select("pos", "f").as[(Long, Option[String])].collect().toMap
    assert(got == Map(1L -> Some("x"), 2L -> Some("A"), 3L -> Some("b"), 4L -> None))
  }

  test("missing fields: Required fails the record; Truncate/Conversion no-op") {
    val df = Seq((1L, "v")).toDF("pos", "present")
    // Required on a field the record does not carry → created null + event
    val req = Pipeline(df, Seq(Required(Seq("absent"))))
    assert(req.columns.contains("absent"))
    assert(events(req)(1L).size == 1)
    // Truncate/Conversion on a missing field are dict-TryGetValue no-ops
    val noop = Pipeline(df, Seq(Truncate(Map("absent" -> 3)), Conversion(Seq("absent"), "upper")))
    assert(!noop.columns.contains("absent"))
    assert(events(noop)(1L).isEmpty)
  }

  test("build-time validation: bad plans fail before any job is submitted") {
    intercept[IllegalArgumentException](Required(Nil))
    intercept[IllegalArgumentException](Required(Seq("  ")))
    intercept[IllegalArgumentException](DefaultValue(Map.empty))
    intercept[IllegalArgumentException](Replace(Nil, Map("a" -> "b")))
    intercept[IllegalArgumentException](Replace(Seq("f"), Map.empty))
    intercept[IllegalArgumentException](Truncate(Map("f" -> 0)))
    intercept[IllegalArgumentException](Conversion(Seq("f"), "no-such-converter"))
    intercept[IllegalArgumentException](UniqueFlag(Nil))
    intercept[IllegalArgumentException](
      Lookup(spark.range(1).toDF(), Nil, Seq("out")))
  }

  test("lookup static parameters restrict the build side before the exactly-one check") {
    val records = Seq((1L, "k1"), (2L, "k2")).toDF("pos", "key")
    // k1 matches one ACTIVE row (the inactive one is filtered by the static
    // parameter); k2's only row is inactive → 0 matches → stop event
    val lookup = Seq(
      ("k1", "active", "v1"), ("k1", "inactive", "v1-old"),
      ("k2", "inactive", "v2")).toDF("key", "status", "value")
    val out = Pipeline(records, Seq(
      Lookup(lookup, Seq("key"), Seq("value"), parameters = Map("status" -> "active"))))
    val vals = out.select("pos", "value").as[(Long, Option[String])].collect().toMap
    assert(vals(1L).contains("v1"))
    assert(vals(2L).isEmpty)
    val ev = events(out)
    assert(ev(1L).isEmpty && ev(2L).size == 1)
  }

  test("conversion under conditional preserves non-matching rows (no data loss)") {
    val df = Seq(
      (1L, "user", "123.45"),   // matches → converted (canonical string)
      (2L, "tool", "123.45"),   // predicate false → ORIGINAL value kept
      (3L, "user", "garbage"),  // matches, fails → null + stop event
      (4L, "tool", "garbage"),  // predicate false → original kept, no event
      (5L, "user", null)        // matches, null input → stays null, no event
    ).toDF("pos", "role", "f")
    val out = Pipeline(df,
      Seq(Conditional(col("role") === "user", Seq(Conversion(Seq("f"), "decimal")))))
    val vals = out.select("pos", "f").as[(Long, Option[String])].collect().toMap
    assert(vals(1L).contains("123.450000000000000000"))
    assert(vals(2L).contains("123.45"), "non-matching row lost its value")
    assert(vals(3L).isEmpty)
    assert(vals(4L).contains("garbage"), "non-matching row lost its value")
    assert(vals(5L).isEmpty)
    val ev = events(out)
    assert(ev(1L).isEmpty && ev(2L).isEmpty && ev(4L).isEmpty && ev(5L).isEmpty)
    assert(ev(3L).size == 1 && ev(3L).head.getAs[Boolean]("stop"))
  }

  test("truncate only when longer") {
    val df = mk(1L -> "abcdef", 2L -> "ab", 3L -> null)
    val got = Pipeline(df, Seq(Truncate(Map("f" -> 3))))
      .select("pos", "f").as[(Long, Option[String])].collect().toMap
    assert(got == Map(1L -> Some("abc"), 2L -> Some("ab"), 3L -> None))
  }

  test("unique: duplicates flagged (not dropped) with pointer to first by position; case-insensitive by default") {
    val df = mk(10L -> "k1", 20L -> "K1", 30L -> "k2")
    val flagged = Pipeline(df, Seq(UniqueFlag(Seq("f"), posCol = "pos")))
    assert(flagged.count() == 3) // flag, don't drop
    val ev = events(flagged)
    assert(ev(10L).isEmpty && ev(30L).isEmpty)
    assert(ev(20L).size == 1)
    assert(ev(20L).head.getAs[String]("description") == "Duplicate record detected")
    assert(ev(20L).head.getAs[String]("value").contains("position 10"))

    val cs = Pipeline(df, Seq(UniqueFlag(Seq("f"), posCol = "pos", caseSensitive = true)))
    assert(events(cs).values.forall(_.isEmpty)) // k1 ≠ K1 when case-sensitive
  }

  test("lookup: exactly-one copies outputs; zero or many → stop event with count") {
    val recs = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("pos", "k")
    val lkp = Seq(("a", "va"), ("b", "v1"), ("b", "v2")).toDF("k", "out")
    val got = Pipeline(recs, Seq(Lookup(lkp, Seq("k"), Seq("out"))))
    val vals = got.select("pos", "out").as[(Long, Option[String])].collect().toMap
    assert(vals(1L).contains("va") && vals(2L).isEmpty && vals(3L).isEmpty)
    val ev = events(got)
    assert(ev(1L).isEmpty)
    assert(ev(2L).head.getAs[String]("value") == "2") // two matches
    assert(ev(3L).head.getAs[String]("value") == "0") // zero matches
  }

  test("lookup: the planner picks the join by size; no broadcast above the thresholds") {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      keys.foreach(spark.conf.set(_, "-1"))
      val recs = Seq((1L, "a"), (2L, "b")).toDF("pos", "k")
      val lkp = Seq(("a", "va"), ("b", "vb")).toDF("k", "out")
      val got = Pipeline(recs, Seq(Lookup(lkp, Seq("k"), Seq("out"))))
      val vals = got.collect().map(r => r.getAs[Long]("pos") -> r.getAs[String]("out")).toMap
      assert(vals == Map(1L -> "va", 2L -> "vb"))
      // read after the action: the adaptive plan shows its final form
      val plan = got.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"), plan)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("conditional gates inner transformations per row") {
    val df = Seq((1L, "keep", "abcdef"), (2L, "cut", "abcdef")).toDF("pos", "mode", "f")
    val got = Pipeline(df, Seq(Conditional(col("mode") === "cut", Seq(Truncate(Map("f" -> 3))))))
      .select("pos", "f").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "abcdef", 2L -> "abc"))
  }

  test("short-circuit: once stopped, later transformations are no-ops for that record") {
    // Row 2 fails Required(f); the later Truncate(g) must NOT touch its g.
    val df = Seq((1L, "v", "abcdef"), (2L, null, "abcdef")).toDF("pos", "f", "g")
    val got = Pipeline(df, Seq(Required(Seq("f")), Truncate(Map("g" -> 3))))
    val vals = got.select("pos", "g").as[(Long, String)].collect().toMap
    assert(vals(1L) == "abc")    // transformed
    assert(vals(2L) == "abcdef") // frozen by stop event
    // and no second event was appended
    assert(events(got)(2L).size == 1)
  }

  test("conversion failure removes field, adds event carrying offending value") {
    val df = mk(1L -> "123.45", 2L -> "xyz", 3L -> null)
    val got = Pipeline(df, Seq(Conversion(Seq("f"), "decimal")))
    val vals = got.select(col("pos"), col("f").cast("string")).as[(Long, Option[String])].collect().toMap
    assert(vals(1L).exists(_.startsWith("123.45")))
    assert(vals(2L).isEmpty && vals(3L).isEmpty)
    val ev = events(got)
    assert(ev(1L).isEmpty && ev(3L).isEmpty) // null input: skipped, no event
    assert(ev(2L).size == 1 && ev(2L).head.getAs[String]("value") == "xyz")
  }

  test("dataflow builder: implicit prefix order keys-Required → defaults → replaces") {
    val df = Seq((1L, "k", null.asInstanceOf[String], "old"),
      (2L, null.asInstanceOf[String], null.asInstanceOf[String], "old"))
      .toDF("pos", "key", "d", "r")
    val out = graft.dsl.Dataflow("t").withKeys("key")
      .default("d", "DEF").replace("r", Map("old" -> "new"))
      .source(df).run()
    val m = out.select(col("pos"), col("d"), col("r")).as[(Long, Option[String], String)]
      .collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(m(1L) == (Some("DEF"), "new"))
    // row 2 failed keys-Required first → frozen: no default, no replace
    assert(m(2L) == (None, "old"))
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-5 training-data curation operators (PipelineOps) + the CEP
  * error-burst pattern: exact-semantics fixtures written as tiny parquet
  * tables, driven through the same `queries` entries the driver runs.
  */
class PipelineOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Write a crafted documents table; returns the dir to pass to a query. */
  private def docsDir(rows: Seq[(Long, String, String, String)]): String = {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-pipeops").toString
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def run(name: String, dir: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  // ---- q_pii_redact ----

  test("pii: injected email/phone/ssn detected and redacted; clean doc untouched") {
    // doc 0: % 7, 11, 13 all zero — gets every injection
    // doc 3: no injection, but carries a natural email
    // doc 7: email injection only
    val dir = docsDir(Seq(
      (0L, "plain words here", "en", "src1"),
      (3L, "write to joe.user@mail.example.org today", "en", "src1"),
      (5L, "nothing sensitive", "en", "src1"),
      (7L, "some text", "en", "src1")))
    val got = run("q_pii_redact", dir).collect()
      .map(r => r.getLong(0) -> r).toMap

    val d0 = got(0L)
    assert(d0.getAs[Int]("n_email") == 1 && d0.getAs[Int]("n_phone") == 1
      && d0.getAs[Int]("n_ssn") == 1)
    assert(d0.getAs[String]("redacted") ==
      "plain words here contact <EMAIL> phone <PHONE> ssn <SSN>")
    assert(d0.getAs[Boolean]("has_pii"))

    val d3 = got(3L)
    assert(d3.getAs[Int]("n_email") == 1 && d3.getAs[Int]("n_phone") == 0)
    assert(d3.getAs[String]("redacted") == "write to <EMAIL> today")

    val d5 = got(5L)
    assert(!d5.getAs[Boolean]("has_pii")
      && d5.getAs[String]("redacted") == "nothing sensitive")

    val d7 = got(7L)
    assert(d7.getAs[Int]("n_email") == 1 && d7.getAs[Int]("n_ssn") == 0)
    assert(d7.getAs[String]("redacted") == "some text contact <EMAIL>")
  }

  // ---- q_repetition ----

  test("repetition: degenerate doc flagged, diverse doc clean") {
    val diverse = (1 to 20).map(i => s"w$i").mkString(" ") // all distinct
    val dir = docsDir(Seq(
      (1L, "a a a a b", "en", "src1"),
      (2L, diverse, "en", "src1")))
    val got = run("q_repetition", dir).collect()
      .map(r => r.getLong(0) -> r).toMap

    val r1 = got(1L)
    assert(r1.getAs[Long]("n_words") == 5 && r1.getAs[Long]("n_distinct_words") == 2)
    assert(math.abs(r1.getAs[Double]("dup_word_ratio") - 0.6) < 1e-12)
    assert(math.abs(r1.getAs[Double]("top_word_frac") - 0.8) < 1e-12)
    assert(math.abs(r1.getAs[Double]("top_bigram_frac") - 0.75) < 1e-12) // "a a" 3 of 4
    assert(r1.getAs[Boolean]("repetitive"))

    val r2 = got(2L)
    assert(r2.getAs[Long]("n_distinct_words") == 20)
    assert(r2.getAs[Double]("dup_word_ratio") == 0.0)
    assert(!r2.getAs[Boolean]("repetitive")) // 1/20 = 0.05, 1/19 ≈ 0.053
  }

  // ---- q_decontaminate ----

  test("decontaminate: >=2 shared 4-grams flags; 1 does not; bench excluded") {
    val bench = "alpha beta gamma delta epsilon zeta"
    val dir = docsDir(Seq(
      (0L, bench, "en", "src0"),
      // two distinct shared 4-grams (a b g d, b g d e)
      (1L, "alpha beta gamma delta epsilon x y z", "en", "src1"),
      // exactly one shared 4-gram
      (2L, "alpha beta gamma delta x y z w", "en", "src2"),
      (3L, "totally different words only here now", "en", "src3")))
    val got = run("q_decontaminate", dir).collect()
      .map(r => (r.getLong(0), (r.getAs[Long]("n_shared_ngrams"), r.getAs[Boolean]("contaminated"))))
      .toMap
    assert(!got.contains(0L)) // benchmark slice excluded from output
    assert(got(1L) == ((2L, true)))
    assert(got(2L) == ((1L, false)))
    assert(got(3L) == ((0L, false)))
  }

  // ---- q_pack_sequences ----

  test("pack: per-source running offset, 256-token bins, boundary spans") {
    val t300 = Seq.fill(300)("x").mkString(" ")
    val t200 = Seq.fill(200)("y").mkString(" ")
    val t100 = Seq.fill(100)("z").mkString(" ")
    val dir = docsDir(Seq(
      (1L, t200, "en", "srcA"), // A: [0, 200) seq 0
      (2L, t100, "en", "srcA"), // A: [200, 300) spans 0→1
      (3L, t300, "en", "srcB"), // B: [0, 300) spans 0→1 (doc > bin)
      (4L, t100, "en", "srcB"))) // B: [300, 400) seq 1
    val got = run("q_pack_sequences", dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Long]("start_off"), r.getAs[Long]("seq_idx"), r.getAs[Boolean]("spans_boundary"))))
      .toMap
    assert(got(1L) == ((0L, 0L, false)))
    assert(got(2L) == ((200L, 0L, true)))
    assert(got(3L) == ((0L, 0L, true)))
    assert(got(4L) == ((300L, 1L, false)))
  }

  // ---- q_stratified_sample ----

  test("stratified sample: bucket formula and per-language thresholds") {
    val rows = (0L until 40L).map(i =>
      (i, "text", if (i % 2 == 0) "en" else "fr", "src1"))
    val dir = docsDir(rows)
    val got = run("q_stratified_sample", dir).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("bucket")).toMap
    val expected = rows.flatMap { case (id, _, lang, _) =>
      val b = (id * 2654435761L) % 1000
      if (b < (if (lang == "en") 300 else 700)) Some(id -> b) else None
    }.toMap
    assert(got == expected)
    assert(got.nonEmpty && got.size < rows.size) // filter actually selective
  }

  // ---- q_cep_error_burst ----

  test("error burst: only runs of >= 3 CONSECUTIVE errors per user emit") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-pipeops-ev").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(m: Int) = new java.sql.Timestamp(base.getTime + m * 60000L)
    // user 1: errors 0,1,2 (run of 3), view, errors 4,5 (run of 2 — silent)
    // user 2: errors interleaved with views — never consecutive
    // user 3: 4 straight errors
    val ev = Seq(
      (10L, ts(0), 1L, "error"), (11L, ts(1), 1L, "error"), (12L, ts(2), 1L, "error"),
      (13L, ts(3), 1L, "view"), (14L, ts(4), 1L, "error"), (15L, ts(5), 1L, "error"),
      (20L, ts(0), 2L, "error"), (21L, ts(1), 2L, "view"), (22L, ts(2), 2L, "error"),
      (30L, ts(0), 3L, "error"), (31L, ts(1), 3L, "error"),
      (32L, ts(2), 3L, "error"), (33L, ts(3), 3L, "error"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
    ev.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")

    val got = run("q_cep_error_burst", dir).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("run_len"),
        r.getAs[Long]("first_event_id"), r.getAs[Long]("last_event_id")))
      .toSet
    assert(got == Set((1L, 3L, 10L, 12L), (3L, 4L, 30L, 33L)))
  }
}

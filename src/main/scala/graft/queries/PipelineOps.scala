package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.source.Tables

/** Training-data curation operators over the `documents` table, round 5:
  * PII detection/redaction, Gopher-style repetition scoring, benchmark
  * decontamination (n-gram overlap), token-budget sequence packing, and
  * deterministic stratified sampling. Every operator is oracle-checked in
  * DuckDB over the same parquet; regexes are kept to the Java∩RE2 common
  * subset (character classes, `\b`, bounded repetition — no backrefs or
  * lookaround) so both engines match identically.
  *
  * Scale notes (100 TB): every op is a projection or an explode→groupBy
  * keyed on doc_id — linear, shuffle on doc_id only. Decontamination
  * semi-joins the corpus against the benchmark n-gram set, which is
  * benchmark-sized (≪ corpus) and broadcast by AQE; the corpus side never
  * shuffles. Sequence packing uses a window partitioned by `source`
  * (pack-within-domain), NOT a global sort — a global-order cumsum would
  * serialize on one partition at scale.
  */
object PipelineOps {

  // ---- PII: deterministic injected fixtures + detect/redact ----
  // The synthetic corpus is PII-free word salad, so each PII kind is
  // injected deterministically by doc_id modulus — the detector then has
  // known-positive and known-negative rows and the oracle reproduces both.

  private val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val SsnPat   = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  private val PhonePat = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  // DuckDB string literals keep backslashes raw, so the same pattern text
  // is interpolated into the oracle SQL unchanged.

  private def injectPii(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" phone 555-123-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          concat(lit(" ssn "), lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-45-6789")))
          .otherwise(lit(""))))

  // NOTE: no line below may START with `||` — the enclosing oracle string
  // applies stripMargin a second time and would eat one pipe.
  private val injectPiiSql =
    """pii_in AS (
      |  SELECT doc_id,
      |    text ||
      |    CASE WHEN doc_id % 7 = 0
      |         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
      |    CASE WHEN doc_id % 11 = 0
      |         THEN ' phone 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
      |    CASE WHEN doc_id % 13 = 0
      |         THEN ' ssn ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-45-6789' ELSE '' END
      |    AS text
      |  FROM documents
      |)""".stripMargin

  // ---- word / n-gram helpers (whitespace tokens, same split both engines) ----

  private def words(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(col("w") =!= "")

  private def ngramHashesSql(src: String, n: Int): String = {
    val parts = (1 to n).map(j => s"t.w[i+${j - 1}]").mkString(", ")
    s"""SELECT DISTINCT a.doc_id, ${TextOps.md5Hash60Sql("g.s")} AS h
       |  FROM $src a,
       |    LATERAL (SELECT w FROM (SELECT regexp_extract_all(trim(a.text), '\\S+') AS w)) t,
       |    LATERAL (
       |      SELECT unnest(list_transform(range(1, greatest(len(t.w) - ${n - 2}, 1)),
       |        i -> concat_ws(' ', $parts))) AS s
       |    ) g
       |  WHERE len(t.w) >= $n""".stripMargin
  }

  /** Decontamination n-gram width: real pipelines use 8–13-word exact
    * match; the synthetic corpus draws from a ~30-word vocabulary, so 4
    * plays the same structural role (mixed hit/miss output at sf0.01).
    */
  private val ContamN = 4

  /** Sequence-packing token budget (tokens per training sequence). */
  private val PackLen = 256

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_pii_redact" -> ((s, dir) => {
      // Detect + redact emails / SSNs / phone numbers: counts from the
      // pre-redaction text, then sequential regexp_replace. One projection,
      // no shuffle — codegen'd end to end.
      val d = injectPii(Tables.read(s, dir, "documents")
        .select("doc_id", "text"))
      d.select(col("doc_id"),
          regexp_count(col("text"), lit(EmailPat)).as("n_email"),
          regexp_count(col("text"), lit(SsnPat)).as("n_ssn"),
          regexp_count(col("text"), lit(PhonePat)).as("n_phone"),
          regexp_replace(
            regexp_replace(
              regexp_replace(col("text"), EmailPat, "<EMAIL>"),
              SsnPat, "<SSN>"),
            PhonePat, "<PHONE>").as("redacted"))
        .withColumn("has_pii",
          col("n_email") + col("n_ssn") + col("n_phone") > 0)
    }),

    "q_repetition" -> ((s, dir) => {
      // Gopher-style repetition filter: duplicate-word ratio, top-word
      // fraction, top-bigram fraction. Two explode→groupBy passes keyed on
      // doc_id (linear, no self-join), merged with a single join.
      val docs = Tables.read(s, dir, "documents").select("doc_id", "text")
      val ws = words(docs).groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(
          sum("c").as("n_words"), count(lit(1)).as("n_distinct_words"),
          max("c").as("__top_w"))
      // bigrams must stay STRINGS (the group key is the literal bigram —
      // hashing could merge distinct groups), but the n-gram generation is
      // the same single codegen pass (fns.word_ngrams)
      val bg = docs
        .select(col("doc_id"),
          explode(graft.functions.fns.word_ngrams(col("text"), 2)).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(sum("c").as("__n_bg"), max("c").as("__top_bg"))
      ws.join(bg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_words"), col("n_distinct_words"),
          (lit(1.0) - col("n_distinct_words").cast("double") / col("n_words")).as("dup_word_ratio"),
          (col("__top_w").cast("double") / col("n_words")).as("top_word_frac"),
          (col("__top_bg").cast("double") / col("__n_bg")).as("top_bigram_frac"))
        .withColumn("repetitive",
          col("dup_word_ratio") > 0.55 || col("top_word_frac") > 0.1 ||
            col("top_bigram_frac") > 0.06)
    }),

    "q_decontaminate" -> ((s, dir) => {
      // Benchmark decontamination: flag corpus docs sharing any word-4-gram
      // with the held-out benchmark slice (source = 'src0'). The benchmark
      // n-gram set is benchmark-sized — Spark broadcasts it; the corpus side
      // computes its n-grams map-side and never shuffles the text.
      val docs = Tables.read(s, dir, "documents")
        .select("doc_id", "text", "source")
      val bench = TextOps.ngramHashes(docs.filter(col("source") === "src0"), ContamN, 0L)
        .select("h").distinct()
      val corpus = docs.filter(col("source") =!= "src0")
      val hits = TextOps.ngramHashes(corpus, ContamN, 0L)
        .join(broadcast(bench), Seq("h"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      corpus.select("doc_id", "source").join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared_ngrams"))
        .withColumn("contaminated", col("n_shared_ngrams") >= 2)
    }),

    "q_pack_sequences" -> ((s, dir) => {
      // Token-budget sequence packing: concat-then-chunk at PackLen tokens
      // within each `source` partition in doc_id order. The running offset
      // is a rows-between window cumsum partitioned by source — NOT a
      // global sort, so it scales (per-domain packing, the standard layout
      // for domain-stratified training mixes).
      val d = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          regexp_count(col("text"), lit("\\S+")).cast("long").as("n_tokens"))
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      d.withColumn("start_off", coalesce(sum("n_tokens").over(w), lit(0L)))
        .withColumn("seq_idx", expr(s"start_off div $PackLen"))
        .withColumn("spans_boundary",
          expr(s"start_off div $PackLen") =!=
            expr(s"(start_off + n_tokens - 1) div $PackLen"))
    }),

    "q_stratified_sample" -> ((s, dir) => {
      // Deterministic stratified sampling: multiplicative-hash bucket of
      // doc_id (identical int64 arithmetic in both engines — no engine RNG),
      // down-sampling the majority language to 30% and minority languages
      // to 70%. Pure filter — map-side, no shuffle, reproducible.
      val d = Tables.read(s, dir, "documents").select("doc_id", "lang")
      d.withColumn("bucket", (col("doc_id") * 2654435761L) % 1000)
        .filter(when(col("lang") === "en", col("bucket") < 300)
          .otherwise(col("bucket") < 700))
    })
  )

  val oracles: Map[String, String] = Map(

    "q_pii_redact" ->
      s"""WITH $injectPiiSql
         |SELECT doc_id,
         |  len(regexp_extract_all(text, '$EmailPat')) AS n_email,
         |  len(regexp_extract_all(text, '$SsnPat')) AS n_ssn,
         |  len(regexp_extract_all(text, '$PhonePat')) AS n_phone,
         |  regexp_replace(
         |    regexp_replace(
         |      regexp_replace(text, '$EmailPat', '<EMAIL>', 'g'),
         |      '$SsnPat', '<SSN>', 'g'),
         |    '$PhonePat', '<PHONE>', 'g') AS redacted,
         |  len(regexp_extract_all(text, '$EmailPat'))
         |    + len(regexp_extract_all(text, '$SsnPat'))
         |    + len(regexp_extract_all(text, '$PhonePat')) > 0 AS has_pii
         |FROM pii_in""".stripMargin,

    "q_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(regexp_extract_all(trim(text), '\S+')) AS w
        |  FROM documents
        |), wc AS (
        |  SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w
        |), ws AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |    count(*) AS n_distinct_words, max(c) AS top_w
        |  FROM wc GROUP BY doc_id
        |), bgl AS (
        |  SELECT a.doc_id, g.s AS bg
        |  FROM documents a,
        |    LATERAL (SELECT w FROM (SELECT regexp_extract_all(trim(a.text), '\S+') AS w)) t,
        |    LATERAL (SELECT unnest(list_transform(range(1, greatest(len(t.w), 1)),
        |      i -> concat_ws(' ', t.w[i], t.w[i+1]))) AS s) g
        |  WHERE len(t.w) >= 2
        |), bc AS (
        |  SELECT doc_id, bg, count(*) AS c FROM bgl GROUP BY doc_id, bg
        |), bs AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bg, max(c) AS top_bg
        |  FROM bc GROUP BY doc_id
        |)
        |SELECT ws.doc_id, n_words, n_distinct_words,
        |  1.0 - CAST(n_distinct_words AS DOUBLE) / n_words AS dup_word_ratio,
        |  CAST(top_w AS DOUBLE) / n_words AS top_word_frac,
        |  CAST(top_bg AS DOUBLE) / n_bg AS top_bigram_frac,
        |  (1.0 - CAST(n_distinct_words AS DOUBLE) / n_words > 0.55
        |   OR CAST(top_w AS DOUBLE) / n_words > 0.1
        |   OR CAST(top_bg AS DOUBLE) / n_bg > 0.06) AS repetitive
        |FROM ws LEFT JOIN bs ON ws.doc_id = bs.doc_id""".stripMargin,

    "q_decontaminate" ->
      s"""WITH bench_docs AS (
         |  SELECT doc_id, text FROM documents WHERE source = 'src0'
         |), corpus AS (
         |  SELECT doc_id, text, source FROM documents WHERE source <> 'src0'
         |), bng AS (
         |  ${ngramHashesSql("bench_docs", ContamN)}
         |), cng AS (
         |  ${ngramHashesSql("corpus", ContamN)}
         |), hits AS (
         |  SELECT c.doc_id, count(*) AS n_shared
         |  FROM cng c JOIN (SELECT DISTINCT h FROM bng) b ON c.h = b.h
         |  GROUP BY c.doc_id
         |)
         |SELECT c.doc_id, c.source,
         |  coalesce(h.n_shared, 0) AS n_shared_ngrams,
         |  coalesce(h.n_shared, 0) >= 2 AS contaminated
         |FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id""".stripMargin,

    "q_pack_sequences" ->
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, source, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (
         |      PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
         |  FROM d
         |)
         |SELECT doc_id, source, n_tokens, start_off,
         |  start_off // $PackLen AS seq_idx,
         |  start_off // $PackLen <> (start_off + n_tokens - 1) // $PackLen AS spans_boundary
         |FROM c""".stripMargin,

    "q_stratified_sample" ->
      """SELECT doc_id, lang, (doc_id * 2654435761) % 1000 AS bucket
        |FROM documents
        |WHERE CASE WHEN lang = 'en' THEN (doc_id * 2654435761) % 1000 < 300
        |           ELSE (doc_id * 2654435761) % 1000 < 700 END""".stripMargin
  )
}

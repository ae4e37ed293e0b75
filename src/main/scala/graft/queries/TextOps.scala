package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.source.Tables

/** Training-data pipeline text operators over the `documents` table:
  * exact dedup, MinHash+LSH near-dup, SimHash near-dup, n-gram Jaccard,
  * language ID, quality scoring, token counting. Every operator here is
  * oracle-checked: the shingle/word hash is md5-prefix→int64 (identical in
  * Spark and DuckDB), and the MinHash/SimHash mixing uses small-modulus
  * integer arithmetic so neither engine can overflow or diverge.
  *
  * Scale notes: all ops are explode→groupBy shapes that shuffle on doc_id
  * or (hash-bucket) keys — at 100 TB the LSH band join replaces the O(n²)
  * pair scan with an equi-join on band values, which AQE can skew-split;
  * the brute-force paths exist only as correctness baselines.
  */
object TextOps {

  // ---- deterministic test-dirt: near-dup copies (first two words dropped)
  //      and exact copies, so dedup operators have non-trivial output ----

  private[queries] def augDocs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.read(s, dir, "documents")
      .select("doc_id", "text", "lang", "source")
    d.unionByName(
        d.filter(col("doc_id") % 10 === 0)
          .withColumn("doc_id", col("doc_id") + 100000L)
          .withColumn("text", regexp_replace(col("text"), "^\\S+ \\S+ ", "")))
      .unionByName(
        d.filter(col("doc_id") % 7 === 0)
          .withColumn("doc_id", col("doc_id") + 200000L))
  }

  private[queries] val augSql =
    """aug AS (
      |  SELECT doc_id, text, lang, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, regexp_replace(text, '^\S+ \S+ ', ''), lang, source
      |  FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 200000, text, lang, source FROM documents WHERE doc_id % 7 = 0
      |)""".stripMargin

  // ---- cross-engine exact string→int64 hash: first 15 hex chars of md5 ----

  private[queries] def md5Hash60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  private[queries] def md5Hash60Sql(e: String): String =
    s"CAST(concat('0x', substr(md5($e), 1, 15)) AS BIGINT)"

  // ---- MinHash: K=16 permutations h_i(x) = (a_i*(x mod M) + b_i) mod M ----

  private val M = 1000003L
  private val K = 16
  private val as: Seq[Long] = (1 to K).map(i => (1103515245L * i + 12345L) % M)
  private val bs: Seq[Long] = (1 to K).map(i => (987654321L * i + 7L) % M)

  /** Document-frequency cap for exact-Jaccard shingles: a shingle present in
    * more than this many documents is boilerplate (stop-phrase), carries no
    * dedup signal, and — joined against itself — produces df² candidate rows
    * (the classic hot-key quadratic). Dropping capped shingles keeps the
    * self-join linear-ish; standard practice in production dedup pipelines.
    */
  private val ShingleDfCap = 256

  /** Shingles with document frequency ≤ [[ShingleDfCap]]: anti-join against
    * the (small, by definition) hot-shingle set — one extra groupBy, and the
    * build side is bounded by the number of distinct hot shingles, so AQE
    * broadcasts it.
    */
  private def cappedShingleHashes(docs: DataFrame): DataFrame = {
    // persist: sh is consumed twice (the hot-set aggregation AND the
    // anti-join left side) — without it the whole shingle-generation +
    // distinct pipeline runs twice. Rows are (doc_id, h) = 16 bytes, no
    // text; MEMORY_AND_DISK spills rather than OOMs (the same contract as
    // the sig/capped persists in this file).
    val sh = ngramHashes(docs, 3, M)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hot = sh.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > ShingleDfCap).select("h")
    sh.join(hot, Seq("h"), "left_anti")
  }

  /** doc_id → distinct word-n-gram hashes (60-bit md5 prefix, then mod
    * `mod` when > 0): the word-3-gram shingles here (mod M), the
    * decontamination n-grams in PipelineOps. Single codegen pass per
    * document (`fns.word_ngram_hash60`): the previous transform-lambda +
    * md5-hex-string composition was CodegenFallback (HOF) and allocated a
    * hex string + conv per shingle — values are bit-identical (same
    * tokenization, same ' '-joined bytes, same 60-bit md5 prefix, same
    * mod), proved by TextHashSpec.
    */
  private[queries] def ngramHashes(docs: DataFrame, n: Int, mod: Long): DataFrame =
    docs.select(col("doc_id"),
        explode(graft.functions.fns.word_ngram_hash60(col("text"), n, mod)).as("h"))
      .distinct()

  private[queries] val shingleHashesSql =
    s"""sh AS (
       |  SELECT DISTINCT a.doc_id,
       |    ${md5Hash60Sql("g.s")} % $M AS h
       |  FROM aug a,
       |    LATERAL (SELECT w FROM (SELECT regexp_extract_all(trim(a.text), '\\S+') AS w)) t,
       |    LATERAL (
       |      SELECT unnest(list_transform(range(1, greatest(len(t.w) - 1, 1)),
       |        i -> concat(t.w[i], ' ', t.w[i+1], ' ', t.w[i+2]))) AS s
       |    ) g
       |  WHERE len(t.w) >= 3
       |)""".stripMargin

  /** MinHash signature columns mh0..mh15, Spark side — ONE map-side codegen
    * pass per document (`fns.word_ngram_minhash`): the explode →
    * distinct → 16-min groupBy pipeline cost two exchanges to compute what
    * is a per-document minimum (a min over a multiset equals the min over
    * its set, so the distinct never mattered). NULL array = fewer than 3
    * tokens, exactly the docs the aggregation emitted no row for; values
    * are bit-identical (TextHashSpec).
    */
  private def signatures(docs: DataFrame): DataFrame = {
    val sig = docs.select(col("doc_id"),
        graft.functions.fns.word_ngram_minhash(col("text"), 3, M, as, bs)
          .as("__sig"))
      .filter(col("__sig").isNotNull)
    sig.select(col("doc_id") +:
      (0 until K).map(i => element_at(col("__sig"), i + 1).as(s"mh$i")): _*)
  }

  private[queries] val signaturesSql =
    s"""sig AS (
       |  SELECT doc_id,
       |    ${(0 until K).map(i => s"min((h * ${as(i)} + ${bs(i)}) % $M) AS mh$i").mkString(",\n    ")}
       |  FROM sh GROUP BY doc_id
       |)""".stripMargin

  /** MinHash-LSH near-dup pairs (doc_a < doc_b, estimated Jaccard ≥ 0.5):
    * 4 bands × 4 rows; candidate pairs share ≥1 band; estimated Jaccard =
    * fraction of equal minhashes. The band join is an equi-join on
    * (band_idx, band_value) — linear in data, no O(n²) pair scan. sig is
    * read 3× (bands + both re-rank sides); MEMORY_AND_DISK spills rather
    * than OOMs at scale — swap for checkpoint when recompute is cheaper.
    * Also the edge set for [[GraphOps]] duplicate-cluster assignment.
    */
  private[queries] def minhashNearDups(docs: DataFrame): DataFrame = {
    val sig = signatures(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = sig.select(col("doc_id"),
      array((0 until 4).map(b =>
        concat_ws(",", (0 until 4).map(r => col(s"mh${b * 4 + r}")): _*)): _*).as("bands"))
      .select(col("doc_id"), posexplode(col("bands")))
      .toDF("doc_id", "band_idx", "band_val")
    // repartition(doc_a) BEFORE the distinct: hash partitioning on a
    // subset of the distinct keys satisfies its (doc_a, doc_b) clustering
    // AND the sa re-rank join's doc_a clustering (the q_ann_ivf
    // exchange-sharing pattern) — at scale the candidate pairs cross the
    // network twice (doc_a, then doc_b for sb) instead of three times; at
    // fixture scale AQE broadcasts sig so the plan keeps its single hash
    // exchange either way. The price is hub-document skew: every candidate
    // pair of a document that shares a band with thousands of others (a
    // boilerplate page) lands in one task, and AQE cannot split that
    // partition: its skew splitting covers the exchanges it plans itself
    // and rebalances, not a REPARTITION_BY_COL exchange like this one.
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .repartition(col("doc_a"))
      .distinct()
    val est = (0 until K).map(i =>
      when(col(s"sa.mh$i") === col(s"sb.mh$i"), 1).otherwise(0)).reduce(_ + _)
    cand.join(sig.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sig.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (est.cast("double") / K).as("jaccard_est"))
      .filter(col("jaccard_est") >= 0.5)
  }

  // ---- SimHash: 48-bit over word-unigram hashes ----

  private val SIMBITS = 48

  /** 48-bit SimHash in ONE map-side codegen pass per document
    * (`fns.simhash_bits`) — the previous explode → 48×sum(CASE) →
    * assemble pipeline shuffled every word hash through a doc_id exchange
    * just to tally bits that are a per-document-local computation. NULL
    * simhash = no non-empty tokens, exactly the docs the aggregation
    * emitted no row for; bit values are identical (TextHashSpec).
    */
  private def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.fns.simhash_bits(col("text"), SIMBITS).as("simhash"))
      .filter(col("simhash").isNotNull)

  private val simhashSql = {
    val sums = (0 until SIMBITS)
      .map(j => s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(",\n    ")
    val assemble = (0 until SIMBITS)
      .map(j => s"CASE WHEN b$j > 0 THEN (CAST(1 AS BIGINT) << $j) ELSE 0 END")
      .mkString(" + ")
    s"""wh AS (
       |  SELECT a.doc_id, ${md5Hash60Sql("g.w")} AS h
       |  FROM aug a, LATERAL (
       |    SELECT unnest(regexp_extract_all(trim(a.text), '\\S+')) AS w
       |  ) g WHERE g.w <> ''
       |), sums AS (
       |  SELECT doc_id,
       |    $sums
       |  FROM wh GROUP BY doc_id
       |), simh AS (
       |  SELECT doc_id, $assemble AS simhash FROM sums
       |)""".stripMargin
  }

  // ---- language ID: stopword-count heuristic, deterministic argmax ----

  private val langPatterns: Seq[(String, String)] = Seq(
    "de" -> "\\b(der|die|das|und|ist|nicht|mit|ein|ich|zu)\\b",
    "en" -> "\\b(the|and|of|to|in|is|you|that|it|for)\\b",
    "es" -> "\\b(el|la|los|y|es|no|por|que|una|en)\\b",
    "fr" -> "\\b(le|la|les|et|est|pas|pour|que|une|dans)\\b",
    "zh" -> "[\\x{4e00}-\\x{9fff}]"
  )

  private def argmaxCase(counts: Seq[(String, String)]): String =
    // first max in lang order (alphabetical) — deterministic tie-break
    counts.init.map { case (lang, c) =>
      val geAll = counts.filter(_._1 != lang).map(o => s"$c >= ${o._2}").mkString(" AND ")
      s"WHEN $geAll THEN '$lang'"
    }.mkString("CASE ", " ", s" ELSE '${counts.last._1}' END")

  // ---- quality / token counts ----

  private val bpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_dedup_exact" -> ((s, dir) => {
      // Exact dedup by CONTENT HASH: min doc_id per content wins; every doc
      // maps to its canonical + copy count. The shuffle key is a 128-bit
      // fingerprint (fnv64 + independent xxhash64, both codegen'd map-side)
      // instead of the raw text — at 100 TB the exchange hashes and sorts
      // 16-byte keys, not multi-KB documents, and the text column is pruned
      // before the exchange. Simultaneous 64+64-bit collision odds at 10^10
      // docs ≈ 10^-19: the standard content-hash dedup contract. (Flag-
      // don't-drop, like the reference Unique — Transformations/Unique.cs:89-93.)
      val w = Window.partitionBy(col("__fp"), col("__fp2"))
      augDocs(s, dir)
        .select(col("doc_id"),
          graft.functions.fns.fnv64(col("text")).as("__fp"),
          xxhash64(col("text")).as("__fp2"))
        .withColumn("canonical_id", min(col("doc_id")).over(w))
        .withColumn("n_copies", count(lit(1)).over(w))
        .select(col("doc_id"), col("canonical_id"), col("n_copies"),
          (col("doc_id") === col("canonical_id")).as("is_canonical"))
    }),

    "q_dedup_rolling" -> ((s, dir) => {
      // Winnowing-style near-dup PREFILTER: candidates share the minimum
      // FNV hash over all 8-byte windows (one codegen pass per doc, no
      // explode — fns.rolling_min_hash). Two docs sharing any
      // 8-byte run of content collide on this value with high probability;
      // `exact_dup` marks which candidates are whole-content equal. Hot
      // fingerprints (boilerplate runs shared by > ShingleDfCap docs) are
      // dropped before the self-join — the same anti-join cap as hot
      // shingles, killing the df² quadratic at 100 TB.
      // persist: d is consumed by the hot-set pass and BOTH self-join
      // sides — unpersisted, the O(len) rolling-hash scan of every
      // document ran up to 4×. Rows are (doc_id, rfp, fp) = 24 bytes.
      val d = augDocs(s, dir).select(col("doc_id"),
        graft.functions.fns.rolling_min_hash(col("text"), 8).as("rfp"),
        graft.functions.fns.fnv64(col("text")).as("fp"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val hot = d.groupBy("rfp").agg(count(lit(1)).as("df"))
        .filter(col("df") > ShingleDfCap).select("rfp")
      val capped = d.join(hot, Seq("rfp"), "left_anti")
      capped.as("x").join(capped.as("y"),
          col("x.rfp") === col("y.rfp") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          (col("x.fp") === col("y.fp")).as("exact_dup"))
    }),

    "q_minhash_signature" -> ((s, dir) => signatures(augDocs(s, dir))),

    "q_dedup_minhash" -> ((s, dir) => minhashNearDups(augDocs(s, dir))),

    "q_dedup_simhash" -> ((s, dir) => {
      // SimHash near-dup: band on 12-bit chunks, verify hamming ≤ 6.
      val sim = simhash(augDocs(s, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bands = sim.select(col("doc_id"), col("simhash"),
          posexplode(array((0 until 4).map(b =>
            expr(s"(simhash >> ${b * 12}) & 4095")): _*)))
        .toDF("doc_id", "simhash", "band_idx", "band_val")
      bands.as("x").join(bands.as("y"),
          col("x.band_idx") === col("y.band_idx") &&
            col("x.band_val") === col("y.band_val") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          expr("bit_count(x.simhash ^ y.simhash)").as("hamming"))
        .distinct()
        .filter(col("hamming") <= 6)
    }),

    "q_ngram_jaccard" -> ((s, dir) => {
      // Exact Jaccard over word-3-gram sets for LSH-candidate-free exact
      // verification: pairs sharing ≥1 shingle (equi-join on shingle hash),
      // Jaccard = |∩|/|∪| over the DF-capped shingle sets, threshold 0.5.
      // MEMORY_AND_DISK persist: sh is read 3× (sizes, both join sides);
      // at scale it spills instead of OOMing, and can be swapped for a
      // checkpoint when recompute is cheaper than storage.
      val sh = cappedShingleHashes(augDocs(s, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = sh.as("x").join(sh.as("y"),
          col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("inter"))
      inter.join(sizes.as("na"), col("doc_a") === col("na.doc_id"))
        .join(sizes.as("nb"), col("doc_b") === col("nb.doc_id"))
        .select(col("doc_a"), col("doc_b"),
          (col("inter").cast("double") /
            (col("na.n") + col("nb.n") - col("inter"))).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
    }),

    "q_lang_id" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val counted = langPatterns.foldLeft(docs.select(col("doc_id"), col("lang"), col("text"))) {
        case (d, (lang, pat)) => d.withColumn(s"c_$lang", regexp_count(col("text"), lit(pat)))
      }
      counted.withColumn("lang_pred",
          expr(argmaxCase(langPatterns.map { case (l, _) => (l, s"c_$l") })))
        .select((Seq(col("doc_id"), col("lang"), col("lang_pred")) ++
          langPatterns.map { case (l, _) => col(s"c_$l") }): _*)
    }),

    "q_quality_score" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      docs.select(col("doc_id"),
          length(col("text")).as("n_chars"),
          regexp_count(col("text"), lit("\\S+")).as("n_tokens"),
          regexp_count(col("text"), lit("[A-Za-z]")).as("n_alpha"),
          regexp_count(col("text"), lit("[^A-Za-z0-9\\s]")).as("n_punct"),
          regexp_count(col("text"), lit(langPatterns(1)._2)).as("n_stop"))
        .withColumn("alpha_ratio", col("n_alpha").cast("double") / col("n_chars"))
        .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens"))
        .withColumn("quality_ok",
          col("n_tokens") >= 10 && col("alpha_ratio") >= 0.5 && col("stop_ratio") >= 0.01)
    }),

    "q_token_count" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      docs.select(col("doc_id"),
        regexp_count(col("text"), lit("\\S+")).as("n_ws_tokens"),
        regexp_count(col("text"), lit(bpeishPattern)).as("n_bpeish_tokens"))
    }),

    "q_curation_cascade" -> ((s, dir) => {
      // The composition a curation pipeline actually runs: exact-dedup +
      // language gate + quality gates folded into ONE keep/drop decision
      // with a priority-ordered drop reason (first failing check wins, so
      // reasons are deterministic and mutually exclusive). Physically one
      // codegen map-side projection (8 regex counts + two 64-bit
      // fingerprints), one 16-byte-key exchange for the canonical window —
      // the text column never shuffles — and one decision projection. At
      // 100 TB this costs the same single exchange as q_dedup_exact; the
      // gates ride along for free.
      val w = Window.partitionBy(col("__fp"), col("__fp2"))
      val scored = langPatterns.foldLeft(
        augDocs(s, dir).select(col("doc_id"), col("text"),
          graft.functions.fns.fnv64(col("text")).as("__fp"),
          xxhash64(col("text")).as("__fp2"),
          length(col("text")).as("n_chars"),
          regexp_count(col("text"), lit("\\S+")).as("n_tokens"),
          regexp_count(col("text"), lit("[A-Za-z]")).as("n_alpha"),
          regexp_count(col("text"), lit(langPatterns(1)._2)).as("n_stop"))) {
        case (d, (lang, pat)) => d.withColumn(s"c_$lang", regexp_count(col("text"), lit(pat)))
      }
      scored
        .withColumn("canonical_id", min(col("doc_id")).over(w))
        .withColumn("lang_pred",
          expr(argmaxCase(langPatterns.map { case (l, _) => (l, s"c_$l") })))
        .withColumn("reason",
          when(col("doc_id") =!= col("canonical_id"), "exact_dup")
            .when(col("lang_pred") =!= "en", "lang")
            .when(col("n_tokens") < 10, "too_short")
            .when(col("n_alpha").cast("double") / col("n_chars") < 0.5, "low_alpha")
            .when(col("n_stop").cast("double") / col("n_tokens") < 0.01, "low_stopword")
            .otherwise("keep"))
        .select(col("doc_id"), (col("reason") === "keep").as("keep"), col("reason"))
    })
  )

  private def withAug(rest: String) = s"WITH $augSql\n$rest"

  /** DuckDB CTEs `bands` + `cand` (LSH candidate pairs) over `sig`. */
  private[queries] val bandsCandSql: String =
    s"""bands AS (
       |  SELECT doc_id, b.band_idx,
       |    CASE b.band_idx
       |      ${(0 until 4).map(b => s"WHEN $b THEN concat(${(0 until 4).map(r => s"mh${b * 4 + r}").mkString(", ',', ")})").mkString("\n      ")}
       |    END AS band_val
       |  FROM sig CROSS JOIN (VALUES (0), (1), (2), (3)) AS b(band_idx)
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band_idx = y.band_idx AND x.band_val = y.band_val AND x.doc_id < y.doc_id
       |)""".stripMargin

  /** Estimated Jaccard between signature aliases `sa` and `sb`. */
  private[queries] val jaccardEstSql: String =
    s"(${(0 until K).map(i => s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END").mkString(" + ")}) / ${K.toDouble}"

  val oracles: Map[String, String] = Map(

    // NOTE deliberate asymmetry: the oracle partitions by RAW TEXT while the
    // Spark query partitions by its 128-bit (fnv64, xxhash64) fingerprint —
    // the "exact" contract is probabilistic on the Spark side (collision
    // odds ≈ 10^-19 at 10^10 docs). If this query's hash_match ever fails
    // with no logic change, suspect a fingerprint collision in the fixture
    // before suspecting the dedup logic.
    "q_dedup_exact" -> withAug(
      """SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY text) AS canonical_id,
        |  count(*) OVER (PARTITION BY text) AS n_copies,
        |  doc_id = min(doc_id) OVER (PARTITION BY text) AS is_canonical
        |FROM aug""".stripMargin),

    "q_dedup_rolling" -> withAug(
      s""", ${RelOps.fingerprintSql("aug")},
         |capped AS (
         |  SELECT * FROM fp WHERE rolling_min8 NOT IN (
         |    SELECT rolling_min8 FROM fp GROUP BY rolling_min8
         |    HAVING count(*) > $ShingleDfCap)
         |)
         |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |  x.fnv64 = y.fnv64 AS exact_dup
         |FROM capped x JOIN capped y
         |  ON x.rolling_min8 = y.rolling_min8 AND x.doc_id < y.doc_id""".stripMargin),

    "q_minhash_signature" -> withAug(
      s", $shingleHashesSql\nSELECT doc_id,\n  " +
        (0 until K).map(i => s"min((h * ${as(i)} + ${bs(i)}) % $M) AS mh$i").mkString(",\n  ") +
        "\nFROM sh GROUP BY doc_id"),

    "q_dedup_minhash" -> withAug(
      s""", $shingleHashesSql, $signaturesSql,
         |$bandsCandSql
         |SELECT doc_a, doc_b, $jaccardEstSql AS jaccard_est
         |FROM cand JOIN sig sa ON cand.doc_a = sa.doc_id JOIN sig sb ON cand.doc_b = sb.doc_id
         |WHERE $jaccardEstSql >= 0.5""".stripMargin),

    "q_dedup_simhash" -> withAug(
      s""", $simhashSql,
         |bands AS (
         |  SELECT doc_id, simhash, b.band_idx,
         |    (simhash >> (b.band_idx * 12)) & 4095 AS band_val
         |  FROM simh CROSS JOIN (VALUES (0), (1), (2), (3)) AS b(band_idx)
         |)
         |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |  bit_count(xor(x.simhash, y.simhash)) AS hamming
         |FROM bands x JOIN bands y
         |  ON x.band_idx = y.band_idx AND x.band_val = y.band_val AND x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.simhash, y.simhash)) <= 6""".stripMargin),

    "q_ngram_jaccard" -> withAug(
      s""", $shingleHashesSql,
         |shc AS (
         |  SELECT * FROM sh WHERE h NOT IN (
         |    SELECT h FROM sh GROUP BY h HAVING count(*) > $ShingleDfCap)
         |),
         |sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
         |inter AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
         |  FROM shc x JOIN shc y ON x.h = y.h AND x.doc_id < y.doc_id
         |  GROUP BY x.doc_id, y.doc_id
         |)
         |SELECT doc_a, doc_b,
         |  CAST(inter AS DOUBLE) / (na.n + nb.n - inter) AS jaccard
         |FROM inter JOIN sizes na ON doc_a = na.doc_id JOIN sizes nb ON doc_b = nb.doc_id
         |WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= 0.5""".stripMargin),

    "q_lang_id" -> {
      val counts = langPatterns.map { case (l, pat) =>
        s"len(regexp_extract_all(text, '$pat')) AS c_$l"
      }.mkString(",\n  ")
      s"""SELECT doc_id, lang,
         |  ${argmaxCase(langPatterns.map { case (l, _) => (l, s"c_$l") })} AS lang_pred,
         |  ${langPatterns.map { case (l, _) => s"c_$l" }.mkString(", ")}
         |FROM (SELECT doc_id, lang, text,
         |  $counts
         |FROM documents)""".stripMargin
    },

    "q_quality_score" ->
      s"""SELECT doc_id, n_chars, n_tokens, n_alpha, n_punct, n_stop,
         |  CAST(n_alpha AS DOUBLE) / n_chars AS alpha_ratio,
         |  CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
         |  (n_tokens >= 10 AND CAST(n_alpha AS DOUBLE) / n_chars >= 0.5
         |   AND CAST(n_stop AS DOUBLE) / n_tokens >= 0.01) AS quality_ok
         |FROM (SELECT doc_id, length(text) AS n_chars,
         |  len(regexp_extract_all(text, '\\S+')) AS n_tokens,
         |  len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
         |  len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
         |  len(regexp_extract_all(text, '${langPatterns(1)._2}')) AS n_stop
         |FROM documents)""".stripMargin,

    "q_token_count" ->
      s"""SELECT doc_id,
         |  len(regexp_extract_all(text, '\\S+')) AS n_ws_tokens,
         |  len(regexp_extract_all(text, '$bpeishPattern')) AS n_bpeish_tokens
         |FROM documents""".stripMargin,

    // canonical = min doc_id per TEXT: the oracle states the logical
    // contract the Spark side implements via the 128-bit fingerprint
    // window (same probabilistic-collision note as q_dedup_exact)
    "q_curation_cascade" -> withAug(
      s""", scored AS (
         |  SELECT doc_id,
         |    min(doc_id) OVER (PARTITION BY text) AS canonical_id,
         |    length(text) AS n_chars,
         |    len(regexp_extract_all(text, '\\S+')) AS n_tokens,
         |    len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
         |    len(regexp_extract_all(text, '${langPatterns(1)._2}')) AS n_stop,
         |    ${langPatterns.map { case (l, pat) =>
               s"len(regexp_extract_all(text, '$pat')) AS c_$l" }.mkString(",\n    ")}
         |  FROM aug
         |), lp AS (
         |  SELECT *, ${argmaxCase(langPatterns.map { case (l, _) => (l, s"c_$l") })} AS lang_pred
         |  FROM scored
         |), decided AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id <> canonical_id THEN 'exact_dup'
         |         WHEN lang_pred <> 'en' THEN 'lang'
         |         WHEN n_tokens < 10 THEN 'too_short'
         |         WHEN CAST(n_alpha AS DOUBLE) / n_chars < 0.5 THEN 'low_alpha'
         |         WHEN CAST(n_stop AS DOUBLE) / n_tokens < 0.01 THEN 'low_stopword'
         |         ELSE 'keep' END AS reason
         |  FROM lp
         |)
         |SELECT doc_id, reason = 'keep' AS keep, reason FROM decided""".stripMargin)
  )
}

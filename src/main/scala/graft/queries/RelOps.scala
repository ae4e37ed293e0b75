package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.fns
import graft.source.Tables

/** Relational workhorse queries over the TPC-H-ish tables — the throughput
  * backbone for Bench plus coverage of the classic shapes: wide aggregation,
  * broadcast star join, top-k. All sums go through exact decimals and are
  * cast to double at the end so both engines agree bitwise.
  */
object RelOps {

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_tpch_q1" -> ((s, dir) => {
      val li = Tables.read(s, dir, "lineitem")
      li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          count(lit(1)).as("count_order"))
    }),

    "q_star_join" -> ((s, dir) => {
      // Star join: the true dimensions (customer, nation) are broadcast;
      // orders is fact-proportional (~0.4× lineitem rows) — broadcasting it
      // OOMs every executor at 100 TB, so lineitem ⋈ orders is left to
      // Catalyst/AQE (shuffle join at scale, auto-broadcast when tiny).
      val li = Tables.read(s, dir, "lineitem")
      val o = Tables.read(s, dir, "orders")
      val c = Tables.read(s, dir, "customer")
      val n = Tables.read(s, dir, "nation")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    "q_topk_orders" -> ((s, dir) => {
      val o = Tables.read(s, dir, "orders")
      o.orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    }),

    "q_distinct_agg" -> ((s, dir) => {
      val li = Tables.read(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
    }),

    // As-of (temporal) enrichment: each purchase gets the latest view the
    // same user made at-or-before the purchase time — the union+running-
    // window as-of join (one shuffle, no range join; transform/AsOfJoin).
    "q_asof_enrich" -> ((s, dir) => {
      val ev = Tables.read(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val views = ev.filter(col("event_type") === "view")
      graft.transform.AsOfJoin.asof(purchases, views,
        key = "user_id", leftTs = "ts", rightTs = "ts",
        rightOrd = "event_id", rightVals = Seq("event_id", "value"))
    }),

    // Native kernels (graft.functions.fns, called from generated code),
    // oracle-checked: DuckDB folds
    // the UTF-8 bytes with HUGEINT arithmetic mod 2^64 (see oracles below);
    // exactness is additionally asserted by FingerprintSpec.
    "q_fingerprint" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      docs.select(col("doc_id"),
        fns.fnv64(col("text")).as("fnv64"),
        fns.rolling_min_hash(col("text"), 8).as("rolling_min8"))
    }),

    // Strict CSV source — oracle-checked against DuckDB read_csv on the
    // same golden fixture, plus CsvSourceSpec's contract fixtures.
    "q_csv_source" -> ((s, dir) => {
      val fixture = Seq(
        "src/test/resources/csv/ValidFile.csv",
        "/root/repo/src/test/resources/csv/ValidFile.csv")
        .map(new java.io.File(_)).find(_.exists())
        .getOrElse(new java.io.File("src/test/resources/csv/ValidFile.csv"))
      graft.source.CsvStrictSource.read(s, fixture.getAbsolutePath).df
    })
  )

  // ---- FNV-1a-64 in DuckDB: fold over UTF-8 bytes with HUGEINT (128-bit)
  //      arithmetic mod 2^64, then two's-complement to signed BIGINT to
  //      match graft.functions.Fnv64.hash. Bytes come from hex(encode(text))
  //      because VARCHAR→BLOB casts reject non-ASCII. ----

  private val Fnv1aFoldSql =
    "(acc, x) -> (xor(acc, x) * 1099511628211) % 18446744073709551616"

  private[queries] def fnvReduceSql(bytesExpr: String): String =
    s"list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), $bytesExpr), $Fnv1aFoldSql)"

  private[queries] def toSignedSql(h: String): String =
    s"CAST(CASE WHEN $h >= 9223372036854775808 THEN $h - 18446744073709551616 ELSE $h END AS BIGINT)"

  /** `doc_id, fnv64, rolling_min8` over `srcTable` — DuckDB equivalent of
    * the Fnv64 / RollingMinHash(k=8) codegen expressions.
    */
  private[queries] def fingerprintSql(srcTable: String): String =
    s"""b AS (
       |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
       |  FROM $srcTable
       |), bl AS (
       |  SELECT doc_id, n, list_transform(range(0, n),
       |    i -> CAST(CAST(concat('0x', substr(hx, CAST(2*i+1 AS INT), 2)) AS BIGINT) AS HUGEINT)) AS bytes
       |  FROM b
       |), h AS (
       |  SELECT doc_id, n,
       |    ${fnvReduceSql("bytes")} AS whole,
       |    CASE WHEN n >= 8 THEN list_transform(range(0, n - 7),
       |      i -> ${fnvReduceSql("bytes[CAST(i+1 AS INT):CAST(i+8 AS INT)]")})
       |    ELSE NULL END AS winh
       |  FROM bl
       |), fp AS (
       |  SELECT doc_id,
       |    ${toSignedSql("whole")} AS fnv64,
       |    CASE WHEN winh IS NULL THEN ${toSignedSql("whole")}
       |         ELSE list_min(list_transform(winh, w -> ${toSignedSql("w")})) END AS rolling_min8
       |  FROM h
       |)""".stripMargin

  val oracles: Map[String, String] = Map(

    "q_fingerprint" ->
      s"""WITH ${fingerprintSql("documents")}
         |SELECT doc_id, fnv64, rolling_min8 FROM fp""".stripMargin,

    // LATERAL top-1 = the as-of semantics (latest right at-or-before left's
    // ts, ties by greatest event_id); values are carried verbatim so the
    // double `value` columns compare byte-exact.
    "q_asof_enrich" ->
      """WITH p AS (
        |  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
        |), v AS (
        |  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view'
        |)
        |SELECT p.event_id, p.user_id, p.ts, p.value,
        |  l.event_id AS asof_event_id, l.value AS asof_value
        |FROM p LEFT JOIN LATERAL (
        |  SELECT v.event_id, v.value FROM v
        |  WHERE v.user_id = p.user_id AND v.ts <= p.ts
        |  ORDER BY v.ts DESC, v.event_id DESC LIMIT 1
        |) l ON true""".stripMargin,

    "q_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q_star_join" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "q_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,

    "q_distinct_agg" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    // Same trim/blank→null semantics; pos = raw line of the record (header
    // on line 1, so data starts at 2 — the fixture has no multi-line
    // records, making row_number()+1 the line number).
    "q_csv_source" ->
      """SELECT nullif(trim(A), '') AS A, nullif(trim(B), '') AS B,
        |  nullif(trim(C), '') AS C,
        |  row_number() OVER () + 1 AS pos
        |FROM read_csv('/root/repo/src/test/resources/csv/ValidFile.csv',
        |  header=true, all_varchar=true)""".stripMargin
  )
}

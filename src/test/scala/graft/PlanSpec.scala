package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests — the scale contract. A query that silently
  * loses its pushed filter, its broadcast, or its column pruning still
  * passes row-equality at sf0.01 but dies at 100 TB; these assertions pin
  * the physical plan properties the engine's performance story rests on.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q_tpch_q1: filter pushed to parquet scan + column pruning + partial agg") {
    val p = plan("q_tpch_q1")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(p.contains("partial_sum"))
    // scan must not read all 11 lineitem columns
    assert(!p.contains("l_partkey"), "column pruning lost: scan reads unused columns")
  }

  test("q_star_join: dims broadcast, orders NOT broadcast at scale, fact scanned once") {
    // Simulate 100 TB ("nothing fits the auto-broadcast threshold"): the
    // customer/nation hints must survive, the fact-sized orders side must
    // compile to a shuffle join, never a broadcast.
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(thresholdKey)
    try {
      spark.conf.set(thresholdKey, "-1")
      val p = plan("q_star_join")
      assert("BroadcastHashJoin".r.findAllIn(p).size == 2,
        "exactly customer+nation broadcast")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        "lineitem ⋈ orders must be a shuffle join at scale")
      assert("FileScan parquet \\[l_orderkey".r.findAllIn(p).size == 1)
    } finally spark.conf.set(thresholdKey, saved)
  }

  test("q_lookup: exactly-one lookup compiles to a broadcast join, not per-row queries") {
    val p = plan("q_lookup")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("transcript pipeline: one exchange (conv window), pruned events scan") {
    val p = plan("q_required")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1)
    assert(!p.contains("event_type"), "pruning lost: scan reads unused events columns")
  }

  test("q_ann_brute: query side broadcast — corpus never shuffles") {
    val p = plan("q_ann_brute")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("q_order_repair: packed boundary adds no extra exchange (one conv_id shuffle)") {
    val p = plan("q_order_repair")
    // pack → repair → unpack must cost exactly ONE grouping shuffle (on the
    // conversation key); extra exchanges from the pack/unpack projections
    // would double the shuffle bytes at 100 TB. (The dirty-fixture union
    // also carries two transcript-window exchanges, collapsed to one
    // ReusedExchange at runtime — not the operator under test.)
    assert("Exchange hashpartitioning\\(value".r.findAllIn(p).size == 1,
      s"grouping shuffle count wrong in:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3,
      s"unexpected extra exchange in:\n$p")
  }

  test("q_tool_timeout: anti join keeps its equi-keys — never a nested loop at scale") {
    // the pairing condition mixes equi-keys (conv_id, tool) with range
    // predicates; Catalyst must extract the equi part into a hash/sort-merge
    // LeftAnti with the ranges as residual — a BroadcastNestedLoopJoin here
    // is O(calls × results) per conversation-pair and dies at 100 TB
    val p = plan("q_tool_timeout")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"anti join degenerated to a nested loop:\n$p")
    assert(p.contains("LeftAnti"), s"expected an anti join in:\n$p")
  }

  test("q_asof_enrich: one hash exchange for the as-of window — no range join") {
    // the union+running-window as-of join must cost exactly one hash
    // exchange on the key (plus the final window sort) — a range-join
    // formulation would appear as a nested loop or a per-key quadratic
    val p = plan("q_asof_enrich")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"as-of join must not plan a nested loop:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected exactly one hash exchange in:\n$p")
  }

  test("q_ann_ivf: centroid assignment is map-side — no per-vector window, no corpus shuffle") {
    val p = plan("q_ann_ivf")
    // round 2 shape shuffled 16× the corpus through Window.partitionBy(vec_id)
    assert(!p.contains("hashpartitioning(vec_id"),
      s"corpus must not shuffle for centroid assignment:\n$p")
    assert("Window \\[".r.findAllIn(p).size == 1,
      s"only the final top-k may use a window:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, // distinct + top-k
      s"unexpected extra exchange:\n$p")
  }

  test("q_dedup_exact: exchange partitions on the 128-bit fingerprint, not raw text") {
    val p = plan("q_dedup_exact")
    assert(p.contains("Exchange hashpartitioning(__fp"),
      s"dedup shuffle key must be the content fingerprint:\n$p")
    assert(!p.contains("hashpartitioning(text"),
      s"raw document text must never be the shuffle key:\n$p")
    // scan pruning: only doc_id + text leave the parquet reader — the
    // unused lang/source columns must not be read at 100 TB
    assert(!p.contains("lang"), s"pruning lost: scan reads unused columns:\n$p")
  }

  test("q_curation_cascade: one fingerprint exchange carries all gates — text never shuffles") {
    val p = plan("q_curation_cascade")
    assert(p.contains("Exchange hashpartitioning(__fp"),
      s"cascade shuffle key must be the content fingerprint:\n$p")
    assert(!p.contains("hashpartitioning(text"),
      s"raw document text must never be the shuffle key:\n$p")
    // the dedup window is the only exchange: the language/quality gates are
    // map-side regex counts that ride the same pass
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"cascade must shuffle exactly once:\n$p")
  }

  test("q_unique_flag: one exchange, partitioned on the 128-bit key fingerprint") {
    val p = plan("q_unique_flag")
    // the fingerprint pair is computed map-side (Catalyst extracts window
    // partition exprs into _wN aliases, so the Exchange lists aliases);
    // fns.fnv64 shows as the static call to its kernel
    assert(p.contains("Fnv64.hash(") && p.contains("xxhash64("),
      s"unique-flag shuffle key must be the key fingerprint:\n$p")
    assert(!"hashpartitioning\\(CASE WHEN".r.findFirstIn(p).isDefined,
      s"the JSON key string must never be the shuffle key:\n$p")
    // one Window + one Exchange: inlining the window expr into the dup
    // predicate used to double both
    assert("Window \\[".r.findAllIn(p).size == 1,
      s"unique-flag must build exactly one Window:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"unique-flag must shuffle exactly once:\n$p")
  }

  test("q_skew_salted_agg: two aggregation stages (salted partial, final)") {
    val p = plan("q_skew_salted_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 4) // 2 logical aggs × partial/final
  }

  test("q_decontaminate: benchmark n-gram set broadcast — corpus never shuffles for the probe") {
    // at 100 TB the corpus side of the contamination check must stay
    // map-side: the benchmark set (held-out eval slices) is tiny by
    // definition and is broadcast; a sort-merge join here would shuffle
    // every corpus n-gram
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"bench probe must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin [h"),
      s"corpus n-grams must not shuffle for the bench probe:\n$p")
  }

  test("q_pack_sequences: cumsum window partitioned by source — never a global sort") {
    val p = plan("q_pack_sequences")
    assert(p.contains("Exchange hashpartitioning(source"),
      s"packing must partition by source:\n$p")
    assert(!p.contains("Exchange SinglePartition") && !p.contains("rangepartitioning"),
      s"packing must not serialize on a global sort:\n$p")
  }

  test("q_pii_redact and q_stratified_sample: pure map-side — zero exchanges") {
    Seq("q_pii_redact", "q_stratified_sample").foreach { name =>
      val p = plan(name)
      assert(!p.contains("Exchange"), s"$name must not shuffle:\n$p")
    }
  }

  test("ConvOps: each conversation-analytics op costs ONE conv_id exchange total") {
    // round 6: the turns derivation windows on conv_id itself (Transcript.
    // fromEvents), so its exchange satisfies every downstream conv_id
    // clustering — the analytics window/groupBy REUSES it instead of adding
    // a second full shuffle of the transcript; no global sort anywhere
    Seq("q_conv_stats", "q_turn_latency", "q_context_window", "q_role_violations")
      .foreach { name =>
        val p = plan(name)
        assert(p.contains("Exchange hashpartitioning(conv_id"),
          s"$name must partition by conv_id:\n$p")
        assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
          s"$name must shuffle the transcript exactly once:\n$p")
        assert(!p.contains("Exchange SinglePartition") && !p.contains("rangepartitioning"),
          s"$name must not plan a global sort:\n$p")
      }
  }

  test("q_tool_pair: join + earliest-result window reuse the transcript's conv_id partitioning") {
    // the pairing join's equi-keys start with conv_id and the winner window
    // partitions by (conv_id, call_turn_idx) — both clusterings are
    // satisfied by the turns derivation's hashpartitioning(conv_id), so the
    // only hash exchanges are the two side derivations (≤ 2; the final
    // window must NOT re-shuffle the joined pairs)
    val p = plan("q_tool_pair")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"pairing must not add exchanges beyond the side derivations:\n$p")
    // call_turn_idx anywhere in the argument list, in any key order
    assert(!"Exchange hashpartitioning\\((?:[^()]|\\([^()]*\\))*call_turn_idx".r
        .findFirstIn(p).isDefined,
      s"earliest-result window must reuse the conv_id partitioning:\n$p")
  }

  test("streaming tool-pair join: text pruned from BOTH scans, keyed on (conv_id, tool)") {
    // The join reads the source twice (one scan per side); if column pruning
    // ever regresses, each micro-batch decodes the ~256-byte text column
    // twice for rows that only contribute (conv_id, tool, ts, idx, pos) —
    // the single biggest avoidable memory cost at 10^12-turn scale.
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("plan_join").toString
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .limit(100)
      .select(col("user_id").cast("string").as("conv_id"),
        (col("event_id") % 10).cast("int").as("turn_idx"),
        lit("assistant").as("role"), col("props").as("text"),
        lit("search").as("tool"), col("ts").cast("timestamp").as("ts"),
        col("event_id").cast("long").as("pos"))
      .write.mode("overwrite").parquet(dir)
    val src = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    // Deterministic plan capture (the round-4 flake): racing q.explain()
    // against the stream thread let a no-data watermark-commit batch replace
    // lastExecution with a LocalTableScan <empty> plan between "first
    // progress seen" and the explain call. Disabling no-data micro-batches
    // for THIS query means processAllAvailable() returns with the
    // data-carrying batch as the last (and only) execution — no sleep-poll,
    // no race, and a failed query surfaces as a StreamingQueryException
    // instead of an infinite wait.
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val savedNoData = spark.conf.get(noDataKey)
    spark.conf.set(noDataKey, "false")
    val q =
      try graft.stream.ToolPair.streaming(src).writeStream.format("noop")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ckpt_plan").toString)
        .start()
      finally spark.conf.set(noDataKey, savedNoData)
    try {
      q.processAllAvailable()
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) { q.explain() }
      val p = out.toString
      assert(p.contains("StreamingSymmetricHashJoin"), s"not a stream-stream join:\n$p")
      val scans = "FileScan parquet \\[[^\\]]*\\]".r.findAllIn(p).toList
      assert(scans.size == 2, s"expected two join-side scans:\n$p")
      scans.foreach(s => assert(!s.contains("text"),
        s"column pruning lost: join-side scan reads text — $s"))
    } finally q.stop()
  }
}

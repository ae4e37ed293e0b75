package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** batch_suite: `SparkEntry.queries` over the bundled sf0.01 tables, in a
  * seeded order. All 64 queries take about 62 s cold and 27 s warm on a
  * 4-core box, more than a run may spend, so the suite runs the fixed
  * sample in [[sample]]. An untimed cold pass checks each query's row
  * count and order-independent fingerprint against `expected_sf0.01.json`;
  * timed passes then split each query into build (the `fn(spark, sf)` call,
  * eager jobs included), plan (`executedPlan`) and exec (a `noop` write).
  * No state store and no merge sink run here, so a sink or state change
  * predicts no change on this workload.
  */
object Suite {

  val sf = "sf0.01"

  /** Every sixth query by warm run time at sf0.01 on a 4-core box (ranks
    * 1, 7, 13, ... of 64, slowest first): a sample stratified by cost that
    * keeps the slowest query, whose build runs eager connected-components
    * jobs. */
  val sample: Seq[String] = Seq(
    "q_cluster_canonical", "q_decontaminate", "q_dedup_minhash", "q_dedup_rolling",
    "q_ann_lsh", "q_dedup_keep_first", "q_ann_brute", "q_conv_stats",
    "q_conv_ssn", "q_conv_upper", "q_stratified_sample")
  /** Time of one warm pass over [[sample]] on a 4-core box. */
  private val passNominalS = 8.0
  def expectedFile(data: String) = new File(data, s"expected_$sf.json")

  /** Row count and an order-independent content fingerprint: the sum of a
    * 64-bit hash per row over its columns in name order, with floating
    * values rounded to 9 significant digits (the rounding `tools/check.py`
    * compares at). */
  def fingerprint(df: DataFrame): (Long, String) = {
    val canon = df.columns.sortBy(_.toLowerCase).toSeq.map { c =>
      val v = df.schema(c).dataType match {
        case DoubleType | FloatType | _: DecimalType => format_string("%.9g", col(c).cast("double"))
        case _ => col(c).cast("string")
      }
      coalesce(v, lit("\u0000"))
    }
    val r = df.agg(count(lit(1)), sum(xxhash64(concat_ws("\u0001", canon: _*)).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toString).getOrElse("0"))
  }

  private def loadExpected(f: File): Map[String, (Long, String)] = {
    val entry = "\"([^\"]+)\":\\{\"fingerprint\":\"(-?\\d+)\",\"rows\":(\\d+)\\}".r
    entry.findAllMatchIn(Files.readString(f.toPath))
      .map(m => m.group(1) -> (m.group(3).toLong, m.group(2))).toMap
  }

  /** One query's steps in ms, and when its build began (epoch ms). */
  final case class Timing(start: Double, build: Double, plan: Double, exec: Double) {
    def total: Double = build + plan + exec
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def run(a: Main.Args): Main.Outcome = {
    val work = new File(a.work, "batch_suite")
    val dir = s"${a.data}/$sf"
    val expected = loadExpected(expectedFile(a.data))
    val t0 = System.nanoTime()
    val spark = Main.session(a.cores, work.getPath)
    val sc = spark.sparkContext
    val queries = SparkEntry.queries.filter { case (n, _) => sample.contains(n) }
    require(queries.size == sample.size, s"queries missing from SparkEntry: ${sample.filterNot(queries.contains)}")
    val order = new scala.util.Random(a.seed).shuffle(sample.sorted)

    // cold pass: correctness, and the warm-up every later pass relies on
    val coldFailed = order.filter { n =>
      try {
        val c0 = System.nanoTime()
        val df = queries(n)(spark, dir)
        df.queryExecution.executedPlan
        val bad = !expected.get(n).contains(fingerprint(df))
        Main.log(f"cold $n ${(System.nanoTime() - c0) / 1e6}%.0f ms${if (bad) " MISMATCH" else ""}")
        bad
      } catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] $n failed: ${e.getMessage}")
        true
      }
    }.toSet
    val setupS = (System.nanoTime() - t0) / 1e9

    var timedFailed = Set.empty[String]
    /** One timed pass: per-query timings and the pass wall time in ms. */
    def pass(tag: String): (Map[String, Timing], Double) = {
      val p0 = System.nanoTime()
      val ts = order.flatMap { n =>
        try {
          sc.setLocalProperty(Tracer.phaseKey, s"build:$n")
          val s0 = Tracer.nowMs
          val (df, b) = timed(queries(n)(spark, dir))
          sc.setLocalProperty(Tracer.phaseKey, s"plan:$n")
          val (_, p) = timed(df.queryExecution.executedPlan)
          sc.setLocalProperty(Tracer.phaseKey, s"exec:$n")
          val (_, e) = timed(df.write.mode("overwrite").format("noop").save())
          Main.log(f"$tag $n build $b%.1f plan $p%.1f exec $e%.1f ms")
          Some(n -> Timing(s0, b, p, e))
        } catch { case NonFatal(e) =>
          System.err.println(s"[perfbench] $tag $n failed: ${e.getMessage}")
          timedFailed += n
          None
        } finally sc.setLocalProperty(Tracer.phaseKey, null)
      }
      (ts.toMap, (System.nanoTime() - p0) / 1e6)
    }

    val c0 = Main.clock()
    val passList = List.fill(Main.units(a.seconds, passNominalS))(pass("timed"))
    val measured = c0.to(Main.clock())
    val suiteMs = Stats.median(passList.map(_._2))
    val perQuery = order.flatMap { n =>
      val xs = passList.flatMap(_._1.get(n)).map(_.total)
      if (xs.isEmpty) None else Some(n -> Stats.median(xs))
    }.toMap
    val e2e = Map(
      "setup_s" -> setupS,
      "rate_per_s" -> queries.size * 1000.0 / suiteMs,
      "typical_ms" -> Stats.geomean(perQuery.values.toSeq))

    val layers =
      if (!a.trace) Map.empty[String, Double]
      else {
        val tracer = new Tracer(_ => "other")
        val log = new SpanLog
        val gc0 = Tracer.gcSeconds
        sc.addSparkListener(tracer)
        val s0 = Tracer.nowMs
        val (ts, wall) = try pass("traced") finally sc.removeSparkListener(tracer)
        // untraced passes on both sides of the traced one, so that the JVM's
        // warm-up drift cancels out of the overhead
        val untracedMs = (passList.last._2 + pass("untraced")._2) / 2
        val runSpan = log.add(0, "run", "batch_suite", s0, Tracer.nowMs)
        val passSpan = log.add(runSpan, "pass", "traced", s0, s0 + wall)
        layerSpans(log, passSpan, tracer, order.flatMap(n => ts.get(n).map(n -> _)))
        log.write(new File(a.work, s"trace/batch_suite-${a.seed}.jsonl"))
        val jobs = tracer.snapshotJobs
        Map(
          "queries.build_ms" -> ts.values.map(_.build).sum,
          "queries.plan_ms" -> ts.values.map(_.plan).sum,
          "queries.exec_ms" -> ts.values.map(_.exec).sum,
          "queries.eager_jobs" -> jobs.count(_.phase.exists(_.startsWith("build:"))).toDouble,
          "exec.cpu_s" -> jobs.map(_.cpuNs).sum / 1e9,
          "exec.shuffle_write_bytes" -> jobs.map(_.shuffleWrite).sum.toDouble,
          "exec.spill_bytes" -> jobs.map(_.spill).sum.toDouble,
          "exec.gc_s" -> (Tracer.gcSeconds - gc0),
          "trace.overhead_share" -> (wall / untracedMs - 1.0),
          "trace.layer_coverage" -> log.layerMs(passSpan, s0, s0 + wall) / wall) ++
          ts.map { case (n, t) => s"query.${n}_ms" -> t.total }
      }

    val failed = coldFailed ++ timedFailed
    Main.Outcome(queries.size, failed.size, failed.isEmpty, e2e, layers, measured ++ Map(
      "pass_s" -> passList.map(_._2 / 1000.0),
      "sf" -> sf, "queries" -> queries.size, "passes" -> passList.size,
      "suite_s" -> suiteMs / 1000.0, "query_geomean_ms" -> e2e("typical_ms"),
      "failed_queries" -> failed.toSeq.sorted,
      "input_bytes" -> new File(dir).listFiles().map(_.length).sum))
  }

  /** query → build/plan/exec spans as they ran, SQL executions under the
    * step they started in (nested ones under their root execution), Spark
    * jobs under their SQL execution or else their step. Build and plan
    * carry their layer metric; an exec step counts for coverage only
    * through the SQL executions and jobs the tracer attributed inside it. */
  private def layerSpans(log: SpanLog, parent: Long, tracer: Tracer,
                         ts: Seq[(String, Timing)]): Unit = {
    val layerOf = Map("build" -> "queries.build_ms", "plan" -> "queries.plan_ms")
    val steps = ts.flatMap { case (n, tm) =>
      val q = log.add(parent, "query", n, tm.start, tm.start + tm.total)
      Seq("build" -> tm.build, "plan" -> tm.plan, "exec" -> tm.exec)
        .scanLeft(("", 0L, tm.start, tm.start)) { case ((_, _, _, t), (k, d)) =>
          (s"$k:$n", log.add(q, "step", k, t, t + d, layerOf.get(k).map("layer" -> _).toMap), t, t + d)
        }.tail
    }
    val jobs = tracer.snapshotJobs
    val execSpan = scala.collection.mutable.HashMap.empty[Long, Long]
    tracer.snapshotExecs.sortBy(e => (e.root != e.id, e.start)).foreach { e =>
      val par =
        if (e.root != e.id) execSpan.get(e.root)
        else steps.find { case (_, _, a, b) => e.start >= a - 1 && e.start <= b + 1 }.map(_._2)
      val ran = jobs.exists(_.exec.contains(e.id))
      par.foreach { p =>
        execSpan(e.id) = log.add(p, "sql", e.desc.take(60), e.start, math.max(e.end, e.start),
          if (ran) Map("layer" -> "exec.cpu_s") else Map.empty)
      }
    }
    val stepOf = steps.map(s => s._1 -> s._2).toMap
    jobs.foreach { j =>
      j.exec.flatMap(execSpan.get).orElse(j.phase.flatMap(stepOf.get)).foreach { p =>
        log.add(p, "spark_job", s"job ${j.id}", j.start, math.max(j.end, j.start), Map("layer" -> "exec.cpu_s"))
      }
    }
  }
}

/** Fingerprints each query result `graft.Verify` dumped (one parquet dir
  * per query, already compared with its DuckDB oracle by `tools/check.py`)
  * into the expected file batch_suite checks against.
  * Usage: Expect <dump dir> <expected json out> */
object Expect {
  def main(args: Array[String]): Unit = {
    val Array(dump, out) = args
    val spark = Main.session(Runtime.getRuntime.availableProcessors(), dump + "-work")
    val fps = SparkEntry.queries.keys.toSeq.sorted.map { n =>
      val (rows, fp) = Suite.fingerprint(spark.read.parquet(s"$dump/$n"))
      s"""  ${Json.str(n)}:{"fingerprint":"$fp","rows":$rows}"""
    }
    Files.writeString(Paths.get(out), fps.mkString("{\n", ",\n", "\n}\n"))
    spark.stop()
  }
}

package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload` on inputs made from `--seed`, timed for
  * `--seconds`, with tracing off (end-to-end metrics) or on (per-layer
  * metrics). Writes the result object to `--out`; `perfbench/run.py` owns
  * the build, the process and the printed result line.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, work: String,
                        out: String, cores: Int)

  /** What a workload hands back: verdict counts, end-to-end metrics
    * (tracing off) and per-layer metrics (tracing on), plus context. */
  final case class Outcome(attempted: Long, failed: Long, correct: Boolean,
                           e2e: Map[String, Double],
                           layers: Map[String, Double],
                           context: Map[String, Any])

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"), need("out"),
      Runtime.getRuntime.availableProcessors())
  }

  /** The production job's session settings (`TranscriptPipeline.main`),
    * in local mode. The benchmark adds the deployment settings a
    * `spark-submit` of the job would pass on this box (one shuffle partition
    * per core, as `Verify` and the tests use), where Spark keeps scratch
    * files, how much progress history a query retains, and untruncated scan
    * locations in plan metadata, which the tracer classifies scans by. The
    * code-generation cache holds every class the batch suite generates
    * (Spark's default of 100 does not), so a warm pass reuses the classes
    * the JIT has already compiled instead of generating them again.
    */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.maxMetadataStringLength", "100000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Peak memory of this process, which in local mode holds all of Spark,
    * in MiB, as two parts: the native part of the peak resident set (VmHWM
    * minus the heap, which run.py fixes and pre-touches, so all of it is
    * resident from the start), which moves with RocksDB, buffers and code,
    * and the summed peak use of the heap's pools, which moves with the rows
    * and state the run keeps on the heap. `peak_mem_mb` is their sum: the
    * native part alone varied by a sixth between runs of the same work. */
  def peakMemMb(): (Double, Double) = {
    val hwm = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble * 1024.0)
      .getOrElse(Double.NaN)
    val heapCommitted = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    ((hwm - heapCommitted) / 1048576.0, heapPeak / 1048576.0)
  }

  /** Readings taken around the timed part of a run, for its context: the
    * process's CPU, GC and JIT compile time, Spark's code-generation
    * compiles, and the host's steal and total CPU ticks (steal is time the
    * host gave this machine's CPUs to someone else). */
  final case class Clock(cpuNs: Long, steal: Long, total: Long, wallNs: Long, gcS: Double, jitMs: Long,
                         codegens: Long) {
    def to(b: Clock): Map[String, Double] = Map(
      "measured_wall_s" -> (b.wallNs - wallNs) / 1e9,
      "measured_gc_s" -> (b.gcS - gcS),
      "measured_jit_s" -> (b.jitMs - jitMs) / 1e3,
      "measured_codegen_compiles" -> (b.codegens - codegens).toDouble,
      "measured_cpu_s" -> (b.cpuNs - cpuNs) / 1e9,
      "host_steal_share" -> (b.steal - steal).toDouble / math.max(1L, b.total - total))
  }
  def clock(): Clock = {
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val t = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    Clock(os.getProcessCpuTime, if (t.length > 7) t(7) else 0L, t.sum, System.nanoTime(),
      Tracer.gcSeconds, ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  /** Whole measured units for a run of `seconds`: one per `nominalS`, the
    * time a unit takes on a 4-core box, and at least one. A fixed count,
    * not a deadline, so every run does the same work however fast the
    * machine is at the time. */
  def units(seconds: Double, nominalS: Double): Int =
    math.max(1, math.floor(seconds / nominalS).toInt)

  private val started = System.nanoTime()
  /** Progress line on stderr, which the run log keeps. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%7.2f s $msg")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    val outcome = a.workload match {
      case "stream_drain" => Streams.drain(a)
      case "stream_paced" => Streams.paced(a)
      case "batch_suite" => Suite.run(a)
      case w => sys.error(s"unknown workload $w")
    }
    val spark = SparkSession.getActiveSession
    val (nativeMb, heapMb) = peakMemMb()
    val ctx = outcome.context ++ Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "nproc" -> a.cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_version" -> spark.map(_.version).getOrElse(""),
      "jvm" -> ManagementFactory.getRuntimeMXBean.getVmVersion,
      "mem.native_peak_mb" -> nativeMb, "mem.heap_peak_mb" -> heapMb,
      "wall_s" -> (System.nanoTime() - t0) / 1e9)
    val e2e = if (a.trace) Map.empty[String, Double]
      else outcome.e2e + ("peak_mem_mb" -> (nativeMb + heapMb))
    val json = Json.obj(Map(
      "correct" -> outcome.correct, "attempted" -> outcome.attempted,
      "failed" -> outcome.failed, "e2e" -> e2e,
      "layers" -> (if (a.trace) outcome.layers else Map.empty[String, Double]),
      "context" -> ctx))
    new File(a.out).getParentFile.mkdirs()
    Files.writeString(Paths.get(a.out), json + "\n")
    spark.foreach(_.stop())
  }
}

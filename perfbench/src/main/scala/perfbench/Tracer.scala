package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One traced interval in epoch milliseconds. `parent` is the id of the
  * span that caused it (0 for the root). */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Double, end: Double, attrs: Map[String, Any] = Map.empty) {
  def ms: Double = end - start
}

/** Spans collected in memory and written out when the run ends, with each
  * span's self time: its duration minus the part of it its children cover.
  */
final class SpanLog {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L

  def add(parent: Long, kind: String, name: String, start: Double, end: Double,
          attrs: Map[String, Any] = Map.empty): Long = synchronized {
    val id = nextId
    nextId += 1
    spans += Span(id, parent, kind, name, start, end, attrs)
    id
  }

  def all: Seq[Span] = synchronized(spans.toList)

  def selfMs: Map[Long, Double] = {
    val s = all
    val kids = s.groupBy(_.parent)
    s.map { p =>
      val cov = covered(kids.getOrElse(p.id, Nil)
        .map(c => (math.max(c.start, p.start), math.min(c.end, p.end)))
        .filter { case (a, b) => b > a })
      p.id -> (p.ms - cov)
    }.toMap
  }

  def write(file: File): Unit = {
    file.getParentFile.mkdirs()
    val self = selfMs
    val lines = all.map { s =>
      Json.obj(Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> self(s.id), "attrs" -> s.attrs))
    }
    Files.writeString(file.toPath, lines.mkString("", "\n", "\n"))
  }

  /** Milliseconds of [a, b] covered by the spans below `root` that carry a
    * layer metric (attribute "layer"). Container spans (a micro-batch's
    * addBatch, a query's exec step) carry none, so they count only through
    * what the tracer attributed inside them. */
  def layerMs(root: Long, a: Double, b: Double): Double = {
    val kids = all.groupBy(_.parent)
    def below(id: Long): Seq[Span] = kids.getOrElse(id, Nil).flatMap(c => c +: below(c.id))
    covered(below(root).filter(_.attrs.contains("layer"))
      .map(s => (math.max(s.start, a), math.min(s.end, b))).filter { case (x, y) => y > x })
  }

  /** Length of the union of the given intervals. */
  def covered(iv: Seq[(Double, Double)]): Double =
    iv.sortBy(_._1).foldLeft((0.0, Double.NegativeInfinity)) { case ((acc, hi), (a, b)) =>
      if (b <= hi) (acc, hi)
      else (acc + b - math.max(a, hi), b)
    }._1

  /** The parts of [a, b] that the given intervals leave uncovered. */
  def gaps(a: Double, b: Double, iv: Seq[(Double, Double)]): Seq[(Double, Double)] = {
    val (out, hi) = iv.sortBy(_._1).foldLeft((Vector.empty[(Double, Double)], a)) {
      case ((acc, h), (x, y)) => (if (x > h) acc :+ (h -> math.min(x, b)) else acc, math.max(h, y))
    }
    (if (hi < b) out :+ (hi -> b) else out).filter { case (x, y) => y > x }
  }
}

/** The benchmark's Spark listener: SQL executions, jobs and task metrics,
  * attributed to the scans, state operators and writes that caused them.
  * `locate` classifies a scan location or write path as "input" (the
  * watched input directory), "table" (the merge sink's table) or "other".
  */
final class Tracer(locate: String => String) extends SparkListener {

  final class Exec(val id: Long, val root: Long, val desc: String, val start: Long) {
    @volatile var end: Long = -1L
    @volatile var sinkWrite: Boolean = false
  }

  final class Job(val id: Int, val exec: Option[Long], val query: Option[String],
                  val batch: Option[Long], val phase: Option[String], val start: Long) {
    var end: Long = -1L
    var scanInput, scanTable, written, cpuNs, shuffleWrite, spill = 0L
    var stateRan = false
  }

  val execs = mutable.LinkedHashMap.empty[Long, Exec]
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val scanAcc = mutable.HashMap.empty[Long, String]
  private val stateAcc = mutable.HashSet.empty[Long]

  private def walk(p: SparkPlanInfo, exec: Long): Unit = {
    if (p.nodeName.startsWith("Scan"))
      p.metadata.get("Location").map(locate).filter(_ != "other").foreach { cls =>
        p.metrics.find(_.name == "number of output rows").foreach(m => scanAcc(m.accumulatorId) = cls)
      }
    if (p.nodeName.contains("FlatMapGroupsWithState"))
      stateAcc ++= p.metrics.map(_.accumulatorId)
    if (p.nodeName.contains("InsertIntoHadoopFsRelationCommand") && locate(p.simpleString) == "table")
      execs.get(exec).foreach(_.sinkWrite = true)
    p.children.foreach(walk(_, exec))
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case e: SparkListenerSQLExecutionStart =>
        execs(e.executionId) = new Exec(e.executionId,
          e.rootExecutionId.getOrElse(e.executionId), e.description, e.time)
        walk(e.sparkPlanInfo, e.executionId)
      case e: SparkListenerSQLAdaptiveExecutionUpdate => walk(e.sparkPlanInfo, e.executionId)
      case e: SparkListenerSQLExecutionEnd => execs.get(e.executionId).foreach(_.end = e.time)
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    jobs(e.jobId) = new Job(e.jobId, prop("spark.sql.execution.id").map(_.toLong),
      prop("sql.streaming.queryId"), prop("streaming.sql.batchId").map(_.toLong),
      prop(Tracer.phaseKey), e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      Option(e.taskMetrics).foreach { m =>
        j.cpuNs += m.executorCpuTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.diskBytesSpilled
        if (j.exec.flatMap(execs.get).exists(_.sinkWrite)) j.written += m.outputMetrics.recordsWritten
      }
      Option(e.taskInfo).foreach(_.accumulables.foreach { a =>
        val n = a.update match { case Some(v: Long) => v; case _ => 0L }
        scanAcc.get(a.id) match {
          case Some("input") => j.scanInput += n
          case Some("table") => j.scanTable += n
          case _ =>
        }
        if (stateAcc.contains(a.id)) j.stateRan = true
      })
    }
  }

  def snapshotJobs: Seq[Job] = synchronized(jobs.values.toList)
  def snapshotExecs: Seq[Exec] = synchronized(execs.values.toList)
}

object Tracer {
  /** Local property naming the benchmark step that launched a job. */
  val phaseKey = "perfbench.phase"

  /** Wall-clock time in epoch milliseconds with sub-millisecond digits. */
  private val (baseMs, baseNs) = (System.currentTimeMillis().toDouble, System.nanoTime())
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** JVM-wide garbage-collection seconds so far. */
  def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
  }
}

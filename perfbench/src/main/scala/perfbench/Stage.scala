package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.jobs.TranscriptPipeline
import graft.source.Transcript

/** The seeded input generator. Turns come from `Transcript.fromEvents` over
  * the bundled sf0.1 `events` table, replicated with fresh conversation ids,
  * a seeded time offset per replica and unique positions. Files hold equal
  * row counts in event-time order, except that each turn is displaced by a
  * seeded delay of at most `Stage.displacementMs`, which keeps every turn
  * inside the job's 10-minute watermark. Stop-flagged dirty turns (null or
  * blank text, about 2.1 %) are kept.
  */
object Stage {

  val sentinelConv = "zz_sentinel"
  /** Largest out-of-order displacement, half the job's watermark delay. */
  val displacementMs = 300000L

  /** One staged backlog: parquet files in arrival order plus what the
    * benchmark needs to know about them. `lateP95Ms` is the 95th percentile
    * of how far each turn's event time lies behind the latest event time of
    * all earlier files (0 when it lies ahead). */
  final case class Staged(dir: String, files: IndexedSeq[File], rows: IndexedSeq[Long],
                          stopped: Long, lateP95Ms: Double, sentinel: File) {
    def turns: Long = rows.sum
    def bytes: Long = files.map(_.length).sum
    def context(prefix: String): Map[String, Any] = Map(
      s"${prefix}_files" -> files.size, s"${prefix}_turns" -> turns,
      s"${prefix}_bytes" -> bytes, s"${prefix}_stopped_turns" -> stopped)
  }

  def replicated(spark: SparkSession, eventsDir: String, replicas: Int,
                 seed: Long): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val reps = (0 until replicas).map(r => (r, rnd.nextInt(86400))).toDF("rep", "offset_s")
    Transcript.fromEvents(spark, eventsDir).crossJoin(broadcast(reps)).select(
      concat(col("conv_id"), lit("_"), col("rep")).as("conv_id"),
      col("turn_idx"), col("role"), col("text"), col("tool"),
      expr("timestampadd(SECOND, offset_s, ts)").cast("timestamp").as("ts"),
      (col("pos") * replicas + col("rep")).as("pos"))
  }

  /** Writes the first `nFiles` files of `rowsPerFile` rows of `turns`, in
    * arrival order, into `dir` (f-00000.parquet, ...) with modification
    * times increasing in file order, plus an event-time sentinel beside
    * them that is not part of the backlog. */
  def write(spark: SparkSession, turns: DataFrame, dir: String, rowsPerFile: Long,
            nFiles: Int, seed: Long): Staged = {
    import spark.implicits._
    val arrival = unix_millis(col("ts")) + pmod(xxhash64(lit(seed), col("pos")), lit(displacementMs))
    val rank = row_number().over(Window.orderBy(arrival, col("pos"))) - 1
    val ranked = turns.withColumn("rank", rank)
      .filter(col("rank") < nFiles * rowsPerFile)
      .withColumn("file", (col("rank") / rowsPerFile).cast("int")).drop("rank")
      .cache()
    try {
      val tmp = new File(dir + ".tmp")
      ranked.repartition(col("file")).write.mode("overwrite").partitionBy("file").parquet(tmp.getPath)
      Main.log("staging: files written")
      val perFile = ranked.groupBy("file")
        .agg(count(lit(1)), max(unix_millis(col("ts"))),
          sum(when(col("text").isNull || trim(col("text")) === "", 1L).otherwise(0L)))
        .as[(Int, Long, Long, Long)].collect().sortBy(_._1)
      Main.log("staging: per-file counts")
      val frontier = perFile.map(_._3).scanLeft(0L)(math.max)
      val fr = perFile.map(_._1).zip(frontier).toSeq.toDF("file", "frontier")
      val late = ranked.join(broadcast(fr), "file")
        .select(greatest(col("frontier") - unix_millis(col("ts")), lit(0L)).as("late"))
        .agg(percentile(col("late"), lit(0.95))).as[Double].head()
      Main.log("staging: lateness")

      val out = new File(dir)
      out.mkdirs()
      val now = System.currentTimeMillis()
      val files = perFile.map { case (f, _, _, _) =>
        val part = new File(tmp, s"file=$f").listFiles().filter(_.getName.endsWith(".parquet")).head
        val dst = new File(out, f"f-$f%05d.parquet")
        Files.move(part.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)
        dst.setLastModified(now - (perFile.length - f) * 1000L)
        dst
      }.toIndexedSeq
      org.apache.commons.io.FileUtils.deleteDirectory(tmp)
      val sentinel = writeSentinel(spark, new File(out.getParentFile, out.getName + "-sentinel"),
        new Timestamp(frontier.last + 86400000L))
      Staged(dir, files, perFile.map(_._2).toIndexedSeq, perFile.map(_._4).sum, late, sentinel)
    } finally ranked.unpersist()
  }

  /** A one-turn file a day past the backlog's last event time: once it is
    * committed the watermark passes every gap, so the job's event-time
    * timeouts flush all buffered turns and the comparison is exact. */
  private def writeSentinel(spark: SparkSession, dir: File, ts: Timestamp): File = {
    import spark.implicits._
    val tmp = new File(dir.getPath + ".tmp")
    Seq((sentinelConv, 0, "user", "sentinel", "none", ts, -1L))
      .toDF(TranscriptPipeline.turnSchema.fieldNames.toIndexedSeq: _*)
      .coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    dir.mkdirs()
    val dst = new File(dir, "sentinel.parquet")
    Files.move(tmp.listFiles().filter(_.getName.endsWith(".parquet")).head.toPath,
      dst.toPath, StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    dst
  }
}

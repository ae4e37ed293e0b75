package graft.sink

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Exactly-once keyed MERGE sink — the Spark-native replacement for the
  * reference's per-record `DbCommand` upsert path (reference:
  * src/Shipwright.Core/Dataflows/Transformations/DbCommand.cs:118-144).
  *
  * The north rule asks for Iceberg MERGE INTO; no Iceberg/Delta runtime
  * exists in this sandbox (see BASELINE.md), so the same contract is
  * realized Iceberg-style over hash-bucketed parquet with a manifest:
  *
  *   - the table is `numBuckets` hash-buckets of the key; a manifest maps
  *     bucket → current data directory (Iceberg's manifest-of-data-files,
  *     one entry per bucket) and records the bucket width and the id of
  *     the last batch it applied
  *   - merge(batch) touches ONLY the buckets containing batch keys (the
  *     lookup and the write both read the batch, so a caller persists a
  *     costly one); those buckets' rows ∪ batch go through ONE key-hash
  *     shuffle into `n` parts, `n` dividing the bucket width so each part
  *     holds whole buckets; one window keeps the newest row per key (batch
  *     beats current; within a batch, max `versionCol` wins) and its sorted
  *     output is written as one file per bucket. The new manifest
  *     references the untouched buckets' existing dirs — a partition-scoped
  *     merge, not a table rewrite
  *   - commit = ONE step: rename a tmp file to `_manifest.{N+1}` without
  *     overwrite. The current version is the highest `_manifest.N` in the
  *     table root, and a batch whose id is at or below the one that
  *     manifest records is a no-op (as Spark's FileStreamSink skips an
  *     already committed batch), so a re-delivered micro-batch after
  *     restart changes nothing: foreachBatch + checkpoint ⇒ exactly-once
  *
  * All metadata and data IO goes through the one Hadoop `FileSystem`
  * resolved from `tableDir`'s scheme, so the same sink runs on `file:`,
  * HDFS, or any store with atomic rename — and a real Iceberg catalog
  * drops in behind the same merge(batch, batchId) interface where the jar
  * exists. Per-batch side effects (the job's error rows) are plain code in
  * the caller's `foreachBatch`, replay-safe on their own.
  *
  * Concurrency contract: SINGLE WRITER per table (the Iceberg-without-a-
  * catalog-lock reality). Within one JVM, ALL MergeSink instances over the
  * same table serialize on a shared per-table monitor (interned by
  * qualified table path — see [[MergeSink.lockFor]]), so two instances
  * cannot interleave commits; across processes the manifest commit uses
  * rename-without-overwrite as a best-effort optimistic check — the loser
  * of a version race fails loudly instead of silently clobbering — but the
  * gc of a just-loosed writer's data dir cannot be excluded without a
  * catalog, so do not run two writer PROCESSES against one table.
  *
  * At 10^12-turn scale the bucket count rises with the key cardinality via
  * [[rebucket]] (read-all → re-hash → one commit), and the per-batch work
  * stays proportional to the batch's key spread, exactly like Iceberg's
  * merge-on-read partition pruning.
  */
object MergeSink {
  /** JVM-wide per-table monitors, interned by qualified table path: every
    * instance over the same table locks the SAME object, so in-JVM writers
    * are mutually excluded (an instance-level `synchronized` only excluded
    * re-entry on one instance). Monitors are never removed — one Object per
    * distinct table path touched by this JVM is noise.
    */
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(qualifiedRoot: String): Object =
    tableLocks.computeIfAbsent(qualifiedRoot, _ => new Object)

  /** One table version as its `_manifest.{version}` file holds it: the
    * bucket width its data was hashed with (an Iceberg-table-property
    * analog that wins over the constructor argument), the id of the last
    * batch it applied (-1 for none), and bucket → data dir relative to the
    * table root. */
  private[graft] final case class Manifest(version: Long, width: Int, batchId: Long,
                                           buckets: Map[Int, String]) {
    def text: String =
      (s"buckets\t$width" +: s"batch\t$batchId" +:
        buckets.toSeq.sortBy(_._1).map { case (b, d) => s"$b\t$d" })
        .mkString("", "\n", "\n")
  }

  /** Reads [[Manifest.text]] back; a manifest written before the width or
    * the batch id was recorded reads as `defaultWidth` or -1. */
  private def parseManifest(version: Long, text: String, defaultWidth: Int): Manifest = {
    val lines = text.split("\n").map(_.split("\t"))
    Manifest(version,
      lines.collectFirst { case Array("buckets", w) => w.toInt }.getOrElse(defaultWidth),
      lines.collectFirst { case Array("batch", id) => id.toLong }.getOrElse(-1L),
      lines.collect { case Array(b, d) if b != "buckets" && b != "batch" => b.toInt -> d }.toMap)
  }

  private val ManifestName = """_manifest\.(\d+)""".r
  private def versionOf(name: String): Option[Long] = name match {
    case ManifestName(v) => Some(v.toLong)
    case _ => None
  }
}

class MergeSink(tableDir: String, keyCols: Seq[String], versionCol: String,
                numBuckets: Int = 16) {
  import MergeSink.{Manifest, parseManifest, versionOf}
  require(keyCols.nonEmpty, "MergeSink needs at least one key column")
  require(versionCol.trim.nonEmpty, "MergeSink needs a version column")
  require(numBuckets > 0, "MergeSink needs a positive bucket count")

  private val hconf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())
  private val fs: FileSystem = new HPath(tableDir).getFileSystem(hconf)
  private val root: HPath = fs.makeQualified(new HPath(tableDir))
  private val tableLock: Object = MergeSink.lockFor(root.toString)
  fs.mkdirs(root)

  private def manifestPath(v: Long): HPath = new HPath(root, s"_manifest.$v")

  private def readManifest(v: Long): Manifest = {
    val in = fs.open(manifestPath(v))
    try parseManifest(v, new String(in.readAllBytes(), UTF_8), numBuckets) finally in.close()
  }

  /** The current version: the highest `_manifest.N` in the table root, or
    * the empty version -1 before the first commit. Re-read by every merge,
    * so a rebucket through another (sequential) instance — or one that
    * failed mid-write — can never leave this instance hashing keys with a
    * width that disagrees with the manifest it merges against. */
  private def latest: Manifest =
    fs.listStatus(root).flatMap(s => versionOf(s.getPath.getName)).maxOption
      .fold(Manifest(-1L, numBuckets, -1L, Map.empty))(readManifest)

  def currentVersion: Long = latest.version

  def bucketCount: Int = latest.width

  private def bucketCol(width: Int) = pmod(hash(keyCols.map(col): _*), lit(width))

  def read(spark: SparkSession): DataFrame = {
    val dirs = latest.buckets.values.toSeq.distinct
      .map(d => new HPath(root, d).toString)
    if (dirs.isEmpty) spark.emptyDataFrame
    else spark.read.parquet(dirs: _*).drop("__bucket")
  }

  def isEmpty: Boolean = latest.buckets.isEmpty

  /** Idempotent keyed merge of one micro-batch. Safe to call from
    * `foreachBatch`; a batchId at or below the current manifest's is a
    * no-op.
    *
    * `deleteCol`: optional boolean column marking TOMBSTONES — the MERGE's
    * `WHEN MATCHED AND <del> THEN DELETE` arm (the reference DbCommand's
    * arbitrary-SQL surface includes deletes). A tombstone removes its key
    * from the table; within a batch the newest row per key (by
    * `versionCol`) decides whether the key survives. Replays converge:
    * deleting an absent key is a no-op.
    */
  def merge(batch: DataFrame, batchId: Long,
            deleteCol: Option[String] = None): Unit = tableLock.synchronized {
    val m = latest
    if (batchId <= m.batchId) return

    // the touched-bucket lookup and the write both read `batch`: a caller
    // whose batch is costly to compute (a streaming job's state update)
    // persists it first, so that runs once per batch
    val staged = batch
      .withColumn("__del",
        deleteCol.map(c => coalesce(col(c).cast("boolean"), lit(false)))
          .getOrElse(lit(false)))
      .drop(deleteCol.toSeq: _*)
      .withColumn("__bucket", bucketCol(m.width))
    val touched = staged.select("__bucket").distinct()
      .collect().map(_.getInt(0)).toSet
    val next = m.version + 1
    val written =
      if (touched.isEmpty) Map.empty[Int, String]
      else {
        // current rows of ONLY the touched buckets (partition-scoped read)
        val touchedDirs = m.buckets.filter { case (b, _) => touched.contains(b) }
          .values.toSeq.distinct
        val rows = staged.withColumn("__gen", lit(1)) // batch row beats current row
        // the touched buckets hold what this sink wrote: the batch's
        // columns without `deleteCol`
        val fileSchema = batch.drop(deleteCol.toSeq: _*).schema
        writeBuckets(
          if (touchedDirs.isEmpty) rows
          else current(batch.sparkSession, touchedDirs, m.width, Some(fileSchema))
            .unionByName(rows),
          m.width, s"data_v$next")
      }
    // a tombstone batch can empty a touched bucket entirely — only buckets
    // that actually wrote rows enter the manifest; emptied ones drop out. A
    // batch that touches no bucket commits the same entries under its id.
    commit(Manifest(next, m.width, batchId, m.buckets -- touched ++ written))
  }

  /** Admin migration: rewrite the WHOLE table at a new bucket width under
    * the next manifest version — read-all → re-hash → one commit (the usual
    * write-data-then-rename discipline; a crash leaves the old version
    * current). Run it when key cardinality has outgrown the width
    * (per-bucket dirs getting too large); subsequent merges and reopened
    * sinks pick the recorded width up automatically.
    */
  def rebucket(spark: SparkSession, newBuckets: Int): Unit = tableLock.synchronized {
    require(newBuckets > 0, "rebucket needs a positive bucket count")
    val m = latest
    if (newBuckets == m.width) return
    val dirs = m.buckets.values.toSeq.distinct
    val next = m.version + 1
    val buckets =
      if (dirs.isEmpty) Map.empty[Int, String]
      else writeBuckets(current(spark, dirs, newBuckets, None), newBuckets, s"data_v$next")
    commit(Manifest(next, newBuckets, m.batchId, buckets))
  }

  /** The table rows in `dirs` (bucket dirs relative to root), staged for
    * [[writeBuckets]] at `width`: the files carry no partition column, so
    * `__bucket` is recomputed; `__gen` 0 loses to a batch row. A known
    * `schema` spares the read its footer job; without one it is inferred. */
  private def current(spark: SparkSession, dirs: Seq[String], width: Int,
                      schema: Option[StructType]): DataFrame =
    schema.foldLeft(spark.read)(_.schema(_))
      .parquet(dirs.map(d => new HPath(root, d).toString): _*)
      .withColumn("__bucket", bucketCol(width))
      .withColumn("__del", lit(false))
      .withColumn("__gen", lit(0))

  /** The one bucketed write: keeps the newest row per key of `rows`
    * (highest `__gen`, then highest `versionCol`) unless it is a tombstone,
    * and writes it under `dataDir` as one file per `__bucket=b` dir; returns
    * the manifest entries of the buckets written.
    *
    * One shuffle: `rows` are hash-partitioned on the key into `n` parts,
    * where `n` divides `width`. Spark's partition id is
    * pmod(murmur3(keys), n) and the bucket id pmod(murmur3(keys), width), so
    * each part holds whole buckets; the window's sort on (`__bucket`, keys)
    * then also serves the partitioned write, which needs no further
    * exchange or sort and opens one file per bucket.
    */
  private def writeBuckets(rows: DataFrame, width: Int, dataDir: String): Map[Int, String] = {
    val keys = keyCols.map(col)
    val cores = rows.sparkSession.sparkContext.defaultParallelism
    val n = (math.min(cores, width) to 1 by -1).find(width % _ == 0).get
    rows.repartition(n, keys: _*)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__bucket") +: keys: _*)
          .orderBy(col("__gen").desc, col(versionCol).desc)))
      // tombstone winners delete their key (WHEN MATCHED AND del THEN DELETE)
      .filter(col("__rn") === 1 && !col("__del"))
      .drop("__rn", "__gen", "__del")
      .write.mode(SaveMode.Overwrite).partitionBy("__bucket")
      .parquet(new HPath(root, dataDir).toString)
    try fs.listStatus(new HPath(root, dataDir))
      .collect { case s if s.getPath.getName.startsWith("__bucket=") =>
        s.getPath.getName.stripPrefix("__bucket=").toInt -> s"$dataDir/${s.getPath.getName}" }
      .toMap
    catch { case _: FileNotFoundException => Map.empty }
  }

  /** The commit, one step: `m` lands as `_manifest.{m.version}` via tmp +
    * rename WITHOUT overwrite, so a writer that already published this
    * version makes the commit fail loudly (optimistic-concurrency check)
    * instead of being clobbered. HDFS's rename refuses an existing
    * destination atomically; the local filesystem's would replace it, so
    * there the `exists` check makes it check-then-rename — as Hadoop's own
    * no-overwrite rename on the local filesystem is. Then gc.
    *
    * Visible to tests: the collision spec drives this commit step directly
    * to simulate losing the cross-process race, whose timing window (between
    * this writer's version read and its rename) cannot be hit
    * deterministically from the public API.
    */
  private[graft] def commit(m: Manifest): Unit = {
    val tmp = new HPath(root, "_manifest.tmp")
    val out = fs.create(tmp, true)
    try out.write(m.text.getBytes(UTF_8)) finally out.close()
    val dst = manifestPath(m.version)
    if (fs.exists(dst) || !fs.rename(tmp, dst)) throw collided(m.version)
    gc(m)
  }

  private def collided(version: Long) =
    new IllegalStateException(
      s"MergeSink at $root: commit of _manifest.$version collided — " +
        "another writer holds this table (single-writer contract)")

  /** Removes the manifests below `m` and the data dirs it does not
    * reference. A manifest above `m` means another writer committed past
    * this one into a slot gc had freed: fail loudly, deleting nothing, so
    * this writer's gc cannot remove the other's data. */
  private def gc(m: Manifest): Unit = {
    val entries = fs.listStatus(root)
    if (entries.exists(s => versionOf(s.getPath.getName).exists(_ > m.version)))
      throw collided(m.version)
    val liveDirs = m.buckets.values.map(_.split("/").head).toSet
    entries.foreach { s =>
      val name = s.getPath.getName
      if (versionOf(name).exists(_ < m.version) ||
          (s.isDirectory && name.startsWith("data_v") && !liveDirs.contains(name)))
        try fs.delete(s.getPath, true) catch { case NonFatal(_) => }
    }
  }
}

package graft.sink

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A per-batch side effect sharing [[MergeSink]]'s commit journal — the
  * Spark-native analog of the reference `DbCommand`'s ARBITRARY per-record
  * SQL surface (reference: src/Shipwright.Core/Dataflows/Transformations/
  * DbCommand.cs:118-144 executes any INSERT/UPDATE/stored-proc; the sink
  * itself realizes only the keyed upsert/tombstone contract).
  *
  * Contract: the sink runs the effect once per batchId it commits, after
  * the batch's rows are in the table and before its journal entry — a
  * re-delivered (already journaled) micro-batch skips the effect, so under
  * checkpointed `foreachBatch` the effect is exactly-once EXCEPT for the
  * crash window between effect execution and journal write, where replay
  * re-runs it. The effect must therefore be idempotent per batchId (same
  * contract a DbCommand upsert needed against its database).
  */
trait BatchEffect extends Serializable {
  def apply(batch: DataFrame, batchId: Long): Unit
}

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
  *     one entry per bucket)
  *   - merge(batch) touches ONLY the buckets containing batch keys (the
  *     lookup and the write both read the batch, so a caller persists a
  *     costly one); those buckets' rows ∪ batch go through ONE key-hash
  *     shuffle into `n` parts, `n` dividing the bucket width so each part
  *     holds whole buckets; one window keeps the newest row per key (batch
  *     beats current; within a batch, max `versionCol` wins) and its sorted
  *     output is written as one file per bucket. The new manifest
  *     references the untouched buckets' existing dirs — a partition-scoped
  *     merge, not a table rewrite
  *   - commit = write `_manifest.{N}`, atomically flip `_current`; the
  *     commit journal (one `_commits.d/<batchId>` marker per batch,
  *     periodically compacted into the `_commits` file) records applied
  *     batch ids, so a re-delivered micro-batch (same batchId after
  *     restart) is a no-op: foreachBatch + checkpoint ⇒ exactly-once
  *
  * All metadata and data IO goes through the Hadoop `FileSystem` /
  * `FileContext` API resolved from `tableDir`'s scheme, so the same sink
  * runs on `file:`, HDFS, or any store with atomic rename — and a real
  * Iceberg catalog drops in behind the same merge(batch, batchId)
  * interface where the jar exists.
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
}

class MergeSink(tableDir: String, keyCols: Seq[String], versionCol: String,
                numBuckets: Int = 16, journalCompactAfter: Int = 1 << 16) {
  require(keyCols.nonEmpty, "MergeSink needs at least one key column")
  require(versionCol.trim.nonEmpty, "MergeSink needs a version column")
  require(numBuckets > 0, "MergeSink needs a positive bucket count")
  require(journalCompactAfter > 0, "MergeSink needs a positive compaction threshold")

  private val hconf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())
  private val fs: FileSystem = new HPath(tableDir).getFileSystem(hconf)
  private val root: HPath = fs.makeQualified(new HPath(tableDir))
  private val tableLock: Object = MergeSink.lockFor(root.toString)
  fs.mkdirs(root)
  private lazy val fc: FileContext = FileContext.getFileContext(root.toUri, hconf)

  private def currentPtr: HPath = new HPath(root, "_current")
  private def commitsPtr: HPath = new HPath(root, "_commits")
  private def commitsDir: HPath = new HPath(root, "_commits.d")
  private def manifestPath(v: Long): HPath = new HPath(root, s"_manifest.$v")

  private def readString(p: HPath): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def writeString(p: HPath, s: String, overwrite: Boolean): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(s.getBytes(UTF_8)) finally out.close()
  }

  /** Atomic pointer flip (REPLACE_EXISTING ≡ Options.Rename.OVERWRITE). */
  private def renameOver(src: HPath, dst: HPath): Unit =
    fc.rename(src, dst, Options.Rename.OVERWRITE)

  def currentVersion: Long =
    if (fs.exists(currentPtr)) readString(currentPtr).trim.toLong else -1L

  // Tolerate a truncated/garbled trailing line in the compacted file (crash
  // mid-write before it became tmp+atomic-move): an unparsable id is simply
  // not committed, so the batch re-merges idempotently instead of wedging.
  private def compactedIds: Set[Long] =
    if (fs.exists(commitsPtr))
      readString(commitsPtr).split("\n")
        .flatMap(l => scala.util.Try(l.trim.toLong).toOption).toSet
    else Set.empty

  private def markerIds: Set[Long] =
    if (!fs.exists(commitsDir)) Set.empty
    else fs.listStatus(commitsDir)
      .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption).toSet

  /** O(1) journal probe per batch: one marker existence check + one small
    * compacted-file read — never a full-journal rewrite (the pre-compaction
    * design rewrote every committed id each batch: O(N²) cumulative IO).
    */
  private def isCommitted(batchId: Long): Boolean =
    fs.exists(new HPath(commitsDir, batchId.toString)) ||
      compactedIds.contains(batchId)

  /** Visible for tests: all journaled batch ids (compacted ∪ markers). */
  def committedBatches: Set[Long] = compactedIds ++ markerIds

  /** Append one marker file for `batchId`; compact markers into `_commits`
    * once they exceed the threshold (checked every `threshold/16` commits so
    * the steady-state cost per batch stays one file create).
    */
  private var commitsSinceCheck = 0
  private def recordCommit(batchId: Long): Unit = {
    fs.mkdirs(commitsDir)
    fs.create(new HPath(commitsDir, batchId.toString), true).close()
    commitsSinceCheck += 1
    if (commitsSinceCheck >= math.max(1, journalCompactAfter / 16)) {
      commitsSinceCheck = 0
      maybeCompact()
    }
  }

  private def maybeCompact(): Unit = {
    val markers = markerIds
    if (markers.size >= journalCompactAfter) {
      // union first, delete markers after: a crash between the two leaves
      // ids present in both places — harmless, committedBatches is a union
      val all = (compactedIds ++ markers).toSeq.sorted
      val tmp = new HPath(root, "_commits.tmp")
      writeString(tmp, all.mkString("", "\n", "\n"), overwrite = true)
      renameOver(tmp, commitsPtr)
      markers.foreach(id =>
        fs.delete(new HPath(commitsDir, id.toString), false))
    }
  }

  /** bucket → data dir (relative to root). */
  private def readManifest(v: Long): Map[Int, String] =
    if (v < 0 || !fs.exists(manifestPath(v))) Map.empty
    else readString(manifestPath(v)).split("\n")
      .filter(l => l.nonEmpty && !l.startsWith("buckets\t")).map { line =>
        val Array(b, dir) = line.split("\t")
        b.toInt -> dir
      }.toMap

  private def readBucketCount(v: Long): Option[Int] =
    if (v < 0 || !fs.exists(manifestPath(v))) None
    else readString(manifestPath(v)).split("\n")
      .find(_.startsWith("buckets\t")).map(_.split("\t")(1).toInt)

  /** Effective bucket width AT a manifest version: the JOURNALED width wins
    * over the constructor argument (an Iceberg-table-property analog).
    * merge() re-reads it from the exact version it merges against, so a
    * rebucket through another (sequential) instance — or one that failed
    * mid-write — can never leave this instance hashing keys with a width
    * that disagrees with the manifest it reads.
    */
  private def widthAt(v: Long): Int = readBucketCount(v).getOrElse(numBuckets)

  def bucketCount: Int = widthAt(currentVersion)

  private def bucketCol(width: Int) = pmod(hash(keyCols.map(col): _*), lit(width))

  def read(spark: SparkSession): DataFrame = {
    val dirs = readManifest(currentVersion).values.toSeq.distinct
      .map(d => new HPath(root, d).toString)
    if (dirs.isEmpty) spark.emptyDataFrame
    else spark.read.parquet(dirs: _*).drop("__bucket")
  }

  def isEmpty: Boolean = readManifest(currentVersion).isEmpty

  /** Idempotent keyed merge of one micro-batch. Safe to call from
    * `foreachBatch`; re-delivery of an applied batchId is a no-op.
    *
    * `deleteCol`: optional boolean column marking TOMBSTONES — the MERGE's
    * `WHEN MATCHED AND <del> THEN DELETE` arm (the reference DbCommand's
    * arbitrary-SQL surface includes deletes). A tombstone removes its key
    * from the table; within a batch the newest row per key (by
    * `versionCol`) decides whether the key survives. Replays converge:
    * deleting an absent key is a no-op.
    *
    * `effects`: [[BatchEffect]]s run under the same journal guard, after
    * the batch's rows are in the table — a re-delivered batchId skips them
    * along with the merge (see the BatchEffect idempotence contract for the
    * crash window).
    */
  def merge(batch: DataFrame, batchId: Long,
            deleteCol: Option[String] = None,
            effects: Seq[BatchEffect] = Nil): Unit = tableLock.synchronized {
    if (isCommitted(batchId)) return
    def journal(): Unit = { effects.foreach(_.apply(batch, batchId)); recordCommit(batchId) }
    val v = currentVersion
    val manifest = readManifest(v)
    val width = widthAt(v) // the width THIS manifest was written with

    // the touched-bucket lookup and the write both read `batch`: a caller
    // whose batch is costly to compute (a streaming job's state update)
    // persists it first, so that runs once per batch
    val staged = batch
      .withColumn("__del",
        deleteCol.map(c => coalesce(col(c).cast("boolean"), lit(false)))
          .getOrElse(lit(false)))
      .drop(deleteCol.toSeq: _*)
      .withColumn("__bucket", bucketCol(width))
    val touched = staged.select("__bucket").distinct()
      .collect().map(_.getInt(0)).toSet
    if (touched.isEmpty) return journal()

    // current rows of ONLY the touched buckets (partition-scoped read)
    val touchedDirs = manifest.filter { case (b, _) => touched.contains(b) }
      .values.toSeq.distinct
    val rows = staged.withColumn("__gen", lit(1)) // batch row beats current row
    val next = v + 1
    val written = writeBuckets(
      if (touchedDirs.isEmpty) rows
      else current(batch.sparkSession, touchedDirs, width).unionByName(rows),
      width, s"data_v$next")

    // a tombstone batch can empty a touched bucket entirely — only buckets
    // that actually wrote rows enter the manifest; emptied ones drop out
    val newManifest = manifest -- touched ++ written
    writeVersion(next, newManifest, width)
    journal()
    gc(newManifest)
  }

  /** Admin migration: rewrite the WHOLE table at a new bucket width under
    * the next manifest version — read-all → re-hash → one atomic commit
    * (the usual write-data-then-flip discipline; a crash leaves the old
    * version current). Run it when key cardinality has outgrown the width
    * (per-bucket dirs getting too large); subsequent merges and reopened
    * sinks pick the journaled width up automatically.
    */
  def rebucket(spark: SparkSession, newBuckets: Int): Unit = tableLock.synchronized {
    require(newBuckets > 0, "rebucket needs a positive bucket count")
    val v = currentVersion
    if (newBuckets == widthAt(v)) return
    val dirs = readManifest(v).values.toSeq.distinct
    val next = v + 1
    val newManifest =
      if (dirs.isEmpty) Map.empty[Int, String]
      else writeBuckets(current(spark, dirs, newBuckets), newBuckets, s"data_v$next")
    // nothing mutates until this atomic flip: a failed write above leaves
    // the old version (and old width) current
    writeVersion(next, newManifest, newBuckets)
    gc(newManifest)
  }

  /** The table rows in `dirs` (bucket dirs relative to root), staged for
    * [[writeBuckets]] at `width`: the files carry no partition column, so
    * `__bucket` is recomputed; `__gen` 0 loses to a batch row. */
  private def current(spark: SparkSession, dirs: Seq[String], width: Int): DataFrame =
    spark.read.parquet(dirs.map(d => new HPath(root, d).toString): _*)
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

  /** Manifest (with its journaled bucket width) + atomic `_current` flip.
    *
    * The manifest lands via tmp + rename-WITHOUT-overwrite: a concurrent
    * writer that already published this version makes the rename fail
    * loudly (optimistic-concurrency check) instead of silently clobbering.
    * An orphan `_manifest.{v}` ABOVE the committed pointer — the residue of
    * a crash between rename and flip, unreachable by readers — is cleared
    * first so the single writer can never wedge itself. (An orphan is
    * distinguishable from a CONCURRENT winner's manifest: the winner also
    * flipped `_current`, so its version is not above the pointer and the
    * clear is skipped — the rename then collides and fails.)
    *
    * Visible to tests: the collision spec drives this commit step directly
    * to simulate losing the cross-process race, whose timing window (between
    * this writer's version read and its rename) cannot be hit
    * deterministically from the public API.
    */
  private[graft] def writeVersion(version: Long, manifest: Map[Int, String], width: Int): Unit = {
    val dst = manifestPath(version)
    if (fs.exists(dst) && version > currentVersion) fs.delete(dst, false)
    val mtmp = new HPath(root, "_manifest.tmp")
    writeString(mtmp,
      (s"buckets\t$width" +:
        manifest.toSeq.sortBy(_._1).map { case (b, d) => s"$b\t$d" })
        .mkString("", "\n", "\n"),
      overwrite = true)
    try fc.rename(mtmp, dst, Options.Rename.NONE)
    catch {
      case NonFatal(e) =>
        throw new IllegalStateException(
          s"MergeSink at $root: commit of _manifest.$version collided — " +
            "another writer holds this table (single-writer contract)", e)
    }
    val tmp = new HPath(root, "_current.tmp")
    writeString(tmp, version.toString, overwrite = true)
    renameOver(tmp, currentPtr)
  }

  /** Remove data dirs no manifest entry references (keep the live set). */
  private def gc(live: Map[Int, String]): Unit = {
    val liveDirs = live.values.map(_.split("/").head).toSet
    fs.listStatus(root).foreach { s =>
      val name = s.getPath.getName
      if (s.isDirectory && name.startsWith("data_v") && !liveDirs.contains(name))
        try fs.delete(s.getPath, true) catch { case NonFatal(_) => }
    }
  }
}

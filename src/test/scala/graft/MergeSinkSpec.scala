package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.sink.{BatchEffect, MergeSink, ProgressListener}
import graft.stream.TurnPos

/** Exactly-once MERGE sink: keyed upsert, newest-wins, idempotent batch
  * re-delivery, checkpointed streaming end-to-end with re-processing
  * converging to the same table (FIXTURES.md §5 kill/restart script).
  */
class MergeSinkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ts(sec: Long) = new Timestamp(sec * 1000L)
  private def turn(conv: String, idx: Int, text: String, pos: Long): TurnPos =
    TurnPos(conv, idx, "user", text, null, ts(pos), pos)

  private def tableOf(sink: MergeSink): Set[(String, Int, String)] =
    sink.read(spark).collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"), r.getAs[String]("text")))
      .toSet

  /** Runs `f` and returns the executed plans of the parquet writes it ran;
    * the listener bus is asynchronous, so this waits for the first one. */
  private def writePlans(f: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (Plans.find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec]).isDefined)
          plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      f
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    plans.toArray(Array.empty[SparkPlan]).toSeq
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** Asserts one shuffle in the write and one data file per bucket dir of
    * the current version's data dir. */
  private def assertOneShuffleOneFilePerBucket(dir: String, sink: MergeSink,
                                               plans: Seq[SparkPlan]): Unit = {
    assert(plans.size == 1, s"expected one write, got ${plans.size}")
    val shuffles = Plans.collect(plans.head) { case e: ShuffleExchangeLike => e }
    assert(shuffles.size == 1, s"expected one shuffle exchange in:\n${plans.head}")
    val data = java.nio.file.Paths.get(dir, s"data_v${sink.currentVersion}")
    val bucketDirs = Files.list(data).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("__bucket="))
    assert(bucketDirs.nonEmpty)
    bucketDirs.foreach { b =>
      val files = Files.list(b).toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
        .filter(n => !n.startsWith(".") && !n.startsWith("_"))
      assert(files.length == 1, s"$b holds ${files.mkString(", ")}")
    }
  }

  test("merge writes through one bucket-aligned shuffle, one file per bucket (widths 16 and 7)") {
    import spark.implicits._
    val dir = TestSpark.tempDir("merge_plan").toString
    val sink = new MergeSink(dir, Seq("conv_id", "turn_idx"), "pos")
    assert(sink.bucketCount == 16)
    // two merges: the second unions the touched buckets' current rows
    sink.merge((0 until 200).map(i => turn(s"c$i", 0, "v1", i)).toDF(), 0L)
    val batch1 = (0 until 200 by 2).map(i => turn(s"c$i", 0, "v2", 1000 + i)) ++
      (0 until 50).map(i => turn(s"n$i", 0, "v1", 2000 + i))
    assertOneShuffleOneFilePerBucket(dir, sink,
      writePlans(sink.merge(batch1.toDF(), 1L)))
    assert(tableOf(sink).size == 250)
    // width 7 has no divisor near the core count: the whole merge is one part
    assertOneShuffleOneFilePerBucket(dir, sink, writePlans(sink.rebucket(spark, 7)))
    assert(sink.bucketCount == 7)
    val batch2 = (0 until 200 by 3).map(i => turn(s"c$i", 0, "v3", 3000 + i))
    assertOneShuffleOneFilePerBucket(dir, sink,
      writePlans(sink.merge(batch2.toDF(), 2L)))
    val table = tableOf(sink)
    assert(table.size == 250)
    assert(table.contains(("c0", 0, "v3")) && table.contains(("c2", 0, "v2")) &&
      table.contains(("c1", 0, "v1")) && table.contains(("n7", 0, "v1")))
  }

  test("rebucket migration: rows survive, width is journaled, reopening honors it") {
    import spark.implicits._
    val dir = TestSpark.tempDir("merge_rebucket").toString
    val sink = new MergeSink(dir, Seq("conv_id", "turn_idx"), "pos", numBuckets = 4)
    sink.merge((0 until 40).map(i => turn(s"c$i", i, s"v$i", i)).toDF(), 0L)
    assert(sink.bucketCount == 4)
    val before = tableOf(sink)
    sink.rebucket(spark, 16)
    assert(sink.bucketCount == 16)
    assert(tableOf(sink) == before)
    // merges after the migration land on the new width
    sink.merge(Seq(turn("c1", 1, "updated", 100)).toDF(), 1L)
    assert(tableOf(sink).contains(("c1", 1, "updated")))
    assert(tableOf(sink).size == before.size)
    // a REOPENED sink with a different constructor default must use the
    // recorded width — a mismatched width would mis-route every key
    val reopened = new MergeSink(dir, Seq("conv_id", "turn_idx"), "pos", numBuckets = 7)
    assert(reopened.bucketCount == 16)
    assert(tableOf(reopened) == tableOf(sink))
    reopened.merge(Seq(turn("c1", 1, "again", 200)).toDF(), 2L)
    assert(tableOf(reopened).contains(("c1", 1, "again")))
    assert(tableOf(reopened).size == before.size)
    // a rebucket through ANOTHER instance must be picked up by the ORIGINAL
    // open sink's next merge (width is read per merged-against version, not
    // cached at construction) — a stale width would mis-route keys silently
    new MergeSink(dir, Seq("conv_id", "turn_idx"), "pos").rebucket(spark, 8)
    sink.merge(Seq(turn("c2", 2, "cross", 300)).toDF(), 3L)
    assert(sink.bucketCount == 8)
    assert(tableOf(sink).contains(("c2", 2, "cross")))
    assert(tableOf(sink).size == before.size)
  }

  test("concurrent-writer collision: loser fails loudly, winner's manifest unclobbered") {
    import spark.implicits._
    val dir = TestSpark.tempDir("merge_collide").toString
    val sink = new MergeSink(dir, Seq("conv_id", "turn_idx"), "pos", numBuckets = 4)
    sink.merge(Seq(turn("c1", 0, "v0", 1)).toDF(), 0L) // commits version 0
    // Simulate a SECOND PROCESS winning the race to version 1: its manifest
    // exists, while this sink's in-flight commit (which read version 0
    // before the winner published) targets the same version. commit is
    // driven directly because the race window — between the loser's version
    // read and its rename — is not reachable deterministically through
    // merge().
    val winnerManifest = "buckets\t4\nbatch\t0\n"
    Files.write(java.nio.file.Paths.get(dir, "_manifest.1"), winnerManifest.getBytes("UTF-8"))
    val ex = intercept[IllegalStateException] {
      sink.commit(MergeSink.Manifest(1L, 4, 1L, Map(0 -> "data_v1/__bucket=0")))
    }
    assert(ex.getMessage.contains("another writer"))
    // rename-without-overwrite means the winner's manifest was NOT clobbered
    assert(new String(Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_manifest.1")), "UTF-8") == winnerManifest)
    assert(sink.currentVersion == 1L)
    // a loser further behind renames into a slot the winner's gc freed: the
    // winner's higher manifest makes it fail loudly and delete nothing
    Files.delete(java.nio.file.Paths.get(dir, "_manifest.0"))
    Files.deleteIfExists(java.nio.file.Paths.get(dir, "._manifest.0.crc"))
    val ex2 = intercept[IllegalStateException] {
      sink.commit(MergeSink.Manifest(0L, 4, 1L, Map.empty))
    }
    assert(ex2.getMessage.contains("another writer"))
    assert(new String(Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_manifest.1")), "UTF-8") == winnerManifest)
    assert(Files.exists(java.nio.file.Paths.get(dir, "data_v0")))
    sink.merge(Seq(turn("c2", 0, "v1", 2)).toDF(), 1L) // targets version 2, succeeds
    // the winner's (empty) manifest was the base: c1's version-0 data is no
    // longer referenced, so the merged table carries exactly the new batch
    assert(sink.currentVersion == 2L)
    assert(tableOf(sink).map(t => (t._1, t._2)) == Set(("c2", 0)))
  }

  test("merge: tombstones delete keys exactly-once; replays converge") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val dir = TestSpark.tempDir("merge_del").toString
    val sink = new MergeSink(dir, Seq("conv_id", "turn_idx"), "pos")

    sink.merge(Seq(turn("a", 0, "v1", 1), turn("a", 1, "v1", 2),
      turn("b", 0, "v1", 3)).toDF(), 0L)

    // batch 1: update a/0, TOMBSTONE a/1, tombstone an absent key (no-op),
    // and a key where a later version resurrects over an earlier tombstone
    val b1 = Seq(
      (turn("a", 0, "v2", 10), false),
      (turn("a", 1, "ignored", 11), true),  // delete a/1
      (turn("z", 9, "ignored", 12), true),  // delete absent key → no-op
      (turn("b", 0, "ignored", 13), true),  // tombstone...
      (turn("b", 0, "kept", 14), false))    // ...beaten by newer upsert
      .map { case (t, d) => (t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts, t.pos, d) }
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "pos", "del")
    sink.merge(b1, 1L, deleteCol = Some("del"))
    assert(tableOf(sink) == Set(("a", 0, "v2"), ("b", 0, "kept")))

    // replay of batch 1 is a no-op (its id is in the manifest)
    sink.merge(b1, 1L, deleteCol = Some("del"))
    assert(tableOf(sink) == Set(("a", 0, "v2"), ("b", 0, "kept")))

    // a non-delete batch over a table that has seen deletes still works
    sink.merge(Seq(turn("a", 1, "back", 20)).toDF()
      .withColumn("ignored", lit(1)).drop("ignored")
      .select(col("*")), 2L)
    assert(tableOf(sink) == Set(("a", 0, "v2"), ("a", 1, "back"), ("b", 0, "kept")))
  }

  test("merge: upsert semantics, newest wins, idempotent re-delivery") {
    import spark.implicits._
    val dir = TestSpark.tempDir("merge").toString
    val sink = new MergeSink(dir, Seq("conv_id", "turn_idx"), "pos")

    val b0 = Seq(turn("a", 0, "v1", 1), turn("a", 1, "v1", 2)).toDF()
    sink.merge(b0, 0L)
    assert(tableOf(sink) == Set(("a", 0, "v1"), ("a", 1, "v1")))

    // re-delivered batch 0 (post-crash replay) is a no-op
    sink.merge(b0, 0L)
    assert(sink.currentVersion == 0L)

    // batch 1 updates a key and inserts another; within-batch dup: max pos wins
    val b1 = Seq(turn("a", 1, "v2", 10), turn("a", 1, "stale", 5), turn("b", 0, "v1", 11)).toDF()
    sink.merge(b1, 1L)
    assert(tableOf(sink) == Set(("a", 0, "v1"), ("a", 1, "v2"), ("b", 0, "v1")))

    // a batch row beats the table row even at a LOWER version: recency of
    // the batch is ordered before `pos`
    sink.merge(Seq(turn("b", 0, "v2", 3)).toDF(), 2L)
    assert(tableOf(sink) == Set(("a", 0, "v1"), ("a", 1, "v2"), ("b", 0, "v2")))
  }

  test("merge is partition-scoped: untouched buckets' data dirs are reused, not rewritten") {
    import spark.implicits._
    val dir = TestSpark.tempDir("merge_scope").toString
    val sink = new MergeSink(dir, Seq("conv_id", "turn_idx"), "pos", numBuckets = 8)
    // batch 0 populates several buckets
    sink.merge((0 until 32).map(i => turn(s"c$i", 0, "v", i.toLong)).toDF(), 0L)
    val manifest0 = Files.readString(java.nio.file.Paths.get(dir, "_manifest.0"))
    // batch 1 touches exactly one key → at most one bucket rewritten
    sink.merge(Seq(turn("c0", 0, "v2", 100L)).toDF(), 1L)
    val manifest1 = Files.readString(java.nio.file.Paths.get(dir, "_manifest.1"))
    def entries(m: String) = m.linesIterator
      .filterNot(l => l.startsWith("buckets") || l.startsWith("batch"))
      .map(_.split("\t")).map(a => a(0) -> a(1)).toMap
    val (entries0, entries1) = (entries(manifest0), entries(manifest1))
    val changed = entries1.filter { case (b, d) => entries0.get(b).exists(_ != d) }
    assert(changed.size == 1, s"expected one rewritten bucket, got $changed")
    assert(entries1.filter(_._2.startsWith("data_v0")).size == entries0.size - 1)
    // content correct after the scoped merge
    val rows = tableOf(sink)
    assert(rows.contains(("c0", 0, "v2")) && rows.size == 32)
    // progress lines parse as JSON (listener robustness piggyback)
  }

  test("batch ids at or below the manifest's are no-ops: replay, reopen, rebucket") {
    import spark.implicits._
    val dir = TestSpark.tempDir("merge_replay").toString
    val sink = new MergeSink(dir, Seq("conv_id", "turn_idx"), "pos", numBuckets = 4)
    val b0 = Seq(turn("a", 0, "v1", 1)).toDF()
    sink.merge(b0, 0L)
    sink.merge(Seq(turn("a", 1, "v1", 2)).toDF(), 1L)
    sink.merge(Seq(turn("b", 0, "v1", 3)).toDF(), 2L)
    val expected = Set(("a", 0, "v1"), ("a", 1, "v1"), ("b", 0, "v1"))
    val overwrite = Seq(turn("a", 0, "replayed", 100)).toDF()
    val vBefore = sink.currentVersion
    // a replayed batch, and an older id never applied, change nothing
    sink.merge(b0, 0L)
    sink.merge(overwrite, 1L)
    assert(sink.currentVersion == vBefore)
    assert(tableOf(sink) == expected)
    // a reopened sink reads the recorded id from the manifest
    val reopened = new MergeSink(dir, Seq("conv_id", "turn_idx"), "pos", numBuckets = 4)
    reopened.merge(overwrite, 2L)
    assert(reopened.currentVersion == vBefore)
    // rebucket carries the id forward
    reopened.rebucket(spark, 8)
    reopened.merge(overwrite, 2L)
    assert(reopened.currentVersion == vBefore + 1)
    assert(tableOf(reopened) == expected)
    reopened.merge(overwrite, 3L)
    assert(tableOf(reopened) == expected - (("a", 0, "v1")) + (("a", 0, "replayed")))
  }

  test("after N merges the root holds one manifest and only the data dirs it references") {
    import spark.implicits._
    val dir = TestSpark.tempDir("merge_gc")
    val sink = new MergeSink(dir.toString, Seq("conv_id", "turn_idx"), "pos", numBuckets = 4)
    (0 until 5).foreach(i => sink.merge(Seq(turn(s"c$i", 0, "v", i)).toDF(), i.toLong))
    val names = Files.list(dir).toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .filterNot(_.startsWith(".")).toSet
    val manifest = Files.readString(dir.resolve("_manifest.4"))
    val referenced = manifest.linesIterator.map(_.split("\t"))
      .collect { case Array(_, d) if d.startsWith("data_v") => d.takeWhile(_ != '/') }.toSet
    assert(names == referenced + "_manifest.4", s"root holds ${names.mkString(", ")}")
    assert(tableOf(sink).size == 5)
  }

  test("sink runs against an explicit file: FileSystem URI (Hadoop FS API path)") {
    import spark.implicits._
    val dir = TestSpark.tempDir("merge_fsuri")
    val sink = new MergeSink("file:" + dir.toString, Seq("conv_id", "turn_idx"), "pos")
    sink.merge(Seq(turn("a", 0, "v1", 1), turn("b", 0, "v1", 2)).toDF(), 0L)
    sink.merge(Seq(turn("a", 0, "v2", 10)).toDF(), 1L)
    assert(tableOf(sink) == Set(("a", 0, "v2"), ("b", 0, "v1")))
    // metadata really landed under the local path the URI names
    assert(Files.exists(dir.resolve("_manifest.1")))
    assert(Seq("_current", "_commits", "_commits.d").forall(n => !Files.exists(dir.resolve(n))))
  }

  test("BatchEffect: runs once per committed batch, skipped on re-delivery") {
    import spark.implicits._
    val dir = TestSpark.tempDir("merge_effect").toString
    val sink = new MergeSink(dir, Seq("conv_id", "turn_idx"), "pos")
    val runs = new java.util.concurrent.ConcurrentHashMap[Long, Integer]()
    val audit = new BatchEffect {
      def apply(batch: org.apache.spark.sql.DataFrame, batchId: Long): Unit =
        runs.merge(batchId, 1, (a, b) => a + b)
    }
    val b0 = Seq(turn("a", 0, "v1", 1)).toDF()
    sink.merge(b0, 0L, effects = Seq(audit))
    sink.merge(b0, 0L, effects = Seq(audit))               // replay → skipped
    sink.merge(Seq.empty[TurnPos].toDF(), 1L,
      effects = Seq(audit))                                // empty batch still commits
    sink.merge(b0, 1L, effects = Seq(audit))               // replay of empty id → skipped
    assert(runs.get(0L) == 1 && runs.get(1L) == 1)
    assert(tableOf(sink) == Set(("a", 0, "v1")))
  }

  test("BatchEffect that throws leaves the table at its version; the retry applies the batch") {
    import spark.implicits._
    val dir = TestSpark.tempDir("merge_effect_fail")
    val sink = new MergeSink(dir.toString, Seq("conv_id", "turn_idx"), "pos", numBuckets = 4)
    sink.merge(Seq(turn("a", 0, "v1", 1)).toDF(), 0L)
    val runs = new java.util.concurrent.atomic.AtomicInteger()
    val failing: BatchEffect = (_, _) => {
      runs.incrementAndGet()
      throw new IllegalStateException("effect failed")
    }
    val b1 = Seq(turn("a", 0, "v2", 10), turn("b", 0, "v1", 11)).toDF()
    intercept[IllegalStateException](sink.merge(b1, 1L, effects = Seq(failing)))
    assert(sink.currentVersion == 0L)
    assert(tableOf(sink) == Set(("a", 0, "v1")))
    def dataFiles(): Set[String] = Files.walk(dir).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.getFileName.toString.endsWith(".parquet")).map(_.toString).toSet
    val failedTry = dataFiles().filter(_.contains("data_v1"))
    assert(failedTry.nonEmpty)
    // the retry runs the effect again and commits the batch
    val counting: BatchEffect = (_, _) => runs.incrementAndGet()
    sink.merge(b1, 1L, effects = Seq(counting))
    assert(runs.get == 2)
    assert(sink.currentVersion == 1L)
    assert(tableOf(sink) == Set(("a", 0, "v2"), ("b", 0, "v1")))
    assert(dataFiles().intersect(failedTry).isEmpty)
  }

  test("streaming foreachBatch + checkpoint: restart with replay converges (exactly-once)") {
    implicit val enc = Encoders.product[TurnPos]
    val dir = TestSpark.tempDir("merge_stream").toString
    val ckpt = TestSpark.tempDir("ckpt").toString
    val sink = new MergeSink(dir, Seq("conv_id", "turn_idx"), "pos")

    val progressDir = TestSpark.tempDir("progress").toString
    val ms = MemoryStream[TurnPos](enc, spark)
    def start() = ProgressListener.logging(spark, progressDir) {
      ms.toDS().writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[TurnPos], id: Long) =>
          sink.merge(batch.toDF(), id)
        }.start()
    }

    val q1 = start()
    ms.addData(Seq(turn("a", 0, "v1", 1), turn("a", 1, "v1", 2)))
    q1.processAllAvailable()
    q1.stop()

    // "crash": restart from the same checkpoint, old data replays plus new
    val q2 = start()
    ms.addData(Seq(turn("a", 1, "v2", 10), turn("b", 0, "v1", 11)))
    q2.processAllAvailable()
    q2.stop()

    assert(tableOf(sink) == Set(("a", 0, "v1"), ("a", 1, "v2"), ("b", 0, "v1")))

    // the progress log captured per-batch lineage lines
    val log = Files.readString(java.nio.file.Paths.get(progressDir, "progress.jsonl"))
    assert(log.contains("\"event\":\"progress\""))
    assert(log.contains("\"numInputRows\""))
  }
}

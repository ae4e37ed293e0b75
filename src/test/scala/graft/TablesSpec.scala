package graft

import java.io.File
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.source.Tables

/** The declared-schema catalog of the bundled tables: each declaration is
  * what Spark infers from the files, and with it building a query runs no
  * Spark job. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("each declared schema is the schema Spark infers from the bundled files") {
    for (dir <- Seq("/root/testdata/sf0.001", "perfbench/data/sf0.01")) {
      assert(new File(dir).list().map(_.stripSuffix(".parquet")).toSet == Tables.ddl.keySet, dir)
      for (name <- Tables.ddl.keys.toSeq.sorted)
        assert(Tables.read(spark, dir, name).schema ==
          spark.read.parquet(s"$dir/$name.parquet").schema, s"$dir/$name")
    }
    val e = intercept[IllegalArgumentException](Tables.read(spark, "/root/testdata/sf0.001", "event"))
    assert(e.getMessage.contains("unknown table 'event'"))
  }

  /** Queries whose build runs Spark jobs on purpose, and why. */
  private val eager: Map[String, String] = Map(
    "q_dedup_cluster" -> ("connected components: each large-star/small-star round " +
      "checkpoints the rewritten edges, and the next round runs only if an edge moved"),
    "q_cluster_canonical" -> "the same connected-components loop as q_dedup_cluster",
    "q_embed_neardup" -> ("the near-dup pairs are checkpointed so the persisted corpus " +
      "is released before the build returns"),
    "q_ann_ivf" -> "the k centroids are collected to the driver and become literals",
    "q_csv_source" -> ("the strict CSV source's preview pass decides at build whether the " +
      "file yields rows or a stop event"))

  test("building a query starts no Spark job, except the listed eager ones") {
    val sc = spark.sparkContext
    val tag = "graft.test.build"
    val jobs = new ConcurrentHashMap[String, Integer]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag))).foreach {
          case "drained" => drained.countDown()
          case q => jobs.merge(q, 1, (a, b) => a + b)
        }
    }
    sc.addSparkListener(listener)
    try {
      for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
        sc.setLocalProperty(tag, name)
        try fn(spark, "/root/testdata/sf0.001") finally sc.setLocalProperty(tag, null)
      }
      // the listener bus delivers in order: once this job's start arrives,
      // every build job's start has arrived before it
      sc.setLocalProperty(tag, "drained")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(tag, null)
      assert(drained.await(60, TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    val started = jobs.asScala.toMap
    assert(started.keySet -- eager.keySet == Set.empty, s"jobs per query build: $started")
    assert(eager.keySet -- started.keySet == Set.empty, "an eager query ran no job: drop it from the list")
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hot-key handling: stopped rows must not funnel into one window
  * partition, and salted two-stage aggregation (the shape of
  * `q_skew_salted_agg`) must equal direct aggregation.
  */
class SkewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("UniqueFlag does not funnel stopped rows into one window partition") {
    import graft.model.Events
    import graft.transform.{Pipeline, Required, UniqueFlag}
    // 90% of rows fail Required → stopped BEFORE UniqueFlag; the window
    // shuffle must still spread them over the cluster, not one reducer.
    val rows = (0 until 2000).map(i =>
      (s"c${i % 3}", if (i % 10 == 0) s"t$i" else null, i.toLong))
    val df = rows.toDF("conv_id", "text", "pos")
    // AQE would re-coalesce these tiny test partitions into one — disable it
    // here so the assertion sees the raw hash spread the plan produces.
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val saved = spark.conf.get(coalesceKey)
    try {
      spark.conf.set(coalesceKey, "false")
      val out = Pipeline(df, Seq(Required(Seq("text")), UniqueFlag(Seq("conv_id"))))
        .withColumn("pid", spark_partition_id())
      val stoppedPids = out.filter(Events.stoppedCol)
        .select("pid").distinct().collect().map(_.getInt(0)).toSet
      assert(stoppedPids.size >= 2,
        s"stopped rows landed on a single partition: $stoppedPids")
      // semantics unchanged: one unflagged row per conv among eligible
      val elig = out.filter(!Events.stoppedCol)
      assert(elig.count() == 3)
    } finally spark.conf.set(coalesceKey, saved)
  }

  test("salted two-stage aggregation equals direct aggregation") {
    val hot = (0 until 5000).map(i => ("hot", i.toLong))
    val cold = (0 until 50).map(i => (s"c$i", i.toLong))
    val df = (hot ++ cold).toDF("k", "v")
    val direct = df.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val salted = df.withColumn("__salt", pmod(col("v"), lit(16)))
      .groupBy("k", "__salt").agg(count(lit(1)).as("pn"), sum("v").as("ps"))
      .groupBy("k").agg(sum("pn").as("n"), sum("ps").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(direct == salted)
  }
}

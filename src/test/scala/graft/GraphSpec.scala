package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.GraphOps

/** Connected components (duplicate-cluster assignment): fixtures exercise
  * singletons, transitive chains, merged stars, and long paths, in order
  * and with shuffled ids, that must converge in logarithmically many rounds.
  */
class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def cc(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    GraphOps.connectedComponents(nodes.toDF("id"), edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("singletons, self-loops, duplicate and reversed edges") {
    val got = cc(Seq(1L, 2L, 3L, 4L, 5L),
      Seq((2L, 3L), (3L, 2L), (3L, 3L), (2L, 3L), (5L, 4L)))
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 4L, 5L -> 4L))
  }

  test("two stars joined by a bridge collapse to one component") {
    // star at 10 (leaves 11-13), star at 20 (leaves 21-23), bridge 13-21
    val nodes = Seq(10L, 11L, 12L, 13L, 20L, 21L, 22L, 23L)
    val edges = Seq((10L, 11L), (10L, 12L), (10L, 13L),
      (20L, 21L), (20L, 22L), (20L, 23L), (13L, 21L))
    assert(cc(nodes, edges) == nodes.map(_ -> 10L).toMap)
  }

  test("cluster canonical: one representative per cluster, and it is the best member") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val out = GraphOps.defs("q_cluster_canonical")(spark, dir).cache()
    // exactly one representative per cluster, and rep_id is a member
    val perCluster = out.groupBy("cluster_id")
      .agg(sum(when(col("is_representative"), 1).otherwise(0)).as("reps"),
        countDistinct("rep_id").as("rep_ids")).collect()
    assert(perCluster.nonEmpty)
    perCluster.foreach { r =>
      assert(r.getLong(1) == 1L, s"cluster ${r.get(0)}: ${r.getLong(1)} representatives")
      assert(r.getLong(2) == 1L, s"cluster ${r.get(0)}: rep_id not constant")
    }
    assert(out.as("o").join(out.as("r"),
      col("o.rep_id") === col("r.doc_id") &&
        col("o.cluster_id") =!= col("r.cluster_id")).isEmpty,
      "rep_id must belong to its own cluster")
    // the representative maximizes (n_tokens, then min doc_id) in-cluster
    // same augmentation as the query fixture (TextOps.augDocs is
    // package-private): base ∪ clipped %10 dups ∪ exact %7 dups
    val d = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    val aug = d
      .unionByName(d.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 100000L)
        .withColumn("text", regexp_replace(col("text"), "^\\S+ \\S+ ", "")))
      .unionByName(d.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 200000L))
    val toks = aug
      .select(col("doc_id"), regexp_count(col("text"), lit("\\S+")).as("n_tokens"))
    val joined = out.join(toks, "doc_id")
    val best = joined.groupBy("cluster_id").agg(max("n_tokens").as("max_tokens"))
    val reps = joined.filter(col("is_representative")).as("rep")
      .join(best, "cluster_id")
    assert(reps.filter(col("n_tokens") =!= col("max_tokens")).isEmpty,
      "representative must have the cluster's max token count")
    out.unpersist()
  }

  test("long paths, in order and with shuffled ids, converge in logarithmically many rounds") {
    // plain min-label propagation moves a label one hop per round: it needs
    // 63 rounds on the 64-node path and about 1023 on the 1024-node one.
    // Shuffled ids put the minimum anywhere along the path, the adversarial
    // order for it. Alternating large-star/small-star takes 7 rounds on the
    // ordered 64-node path, 6 on the shuffled one and 9 on the shuffled
    // 1024-node one, so the 1024-node input tells logarithmic from linear
    // convergence: a linear-round loop runs past the round cap (64) and the
    // require() in connectedComponents fires
    val nodes = (0L to 63L).toSeq
    val edges = nodes.sliding(2).map(p => (p(1), p(0))).toSeq
    assert(cc(nodes, edges) == nodes.map(_ -> 0L).toMap)
    val rnd = new scala.util.Random(13)
    for (n <- Seq(64L, 1024L)) {
      val ids = rnd.shuffle((0L until n).toVector)
      val shuffled = ids.sliding(2).map(p => (p(0), p(1))).toSeq
      assert(cc(ids, shuffled) == ids.map(_ -> 0L).toMap, s"shuffled $n-node path")
    }
  }
}

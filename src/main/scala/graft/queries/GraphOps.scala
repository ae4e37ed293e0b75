package graft.queries

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Duplicate-cluster assignment: connected components over the near-dup
  * edge set, so every document maps to ONE canonical representative even
  * when duplicates chain transitively (A≈B, B≈C, but A and C never share a
  * band — pairwise near-dup output alone would keep both A and C). This is
  * the step production dedup pipelines run between candidate-pair
  * generation and canonical selection.
  */
object GraphOps {

  /** Connected components of the undirected graph over `nodes` (column
    * `id`) with `edges` (columns `src`, `dst`; endpoints must appear in
    * `nodes`) → (`id`, `comp`) where `comp` = min node id in the component.
    *
    * Algorithm — alternating large-star/small-star over the edge set alone
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014). Each round rewrites the edges into pairs (u < v) that keep
    * every component connected:
    *   - large-star: each node u re-points its larger neighbours at
    *     m = least(u, min N(u));
    *   - small-star: each node v and its smaller neighbours are re-pointed
    *     at the minimum of those neighbours;
    *   - cleanup: duplicate edges and self-loops go.
    * When a round re-points nothing, every component is a star around its
    * minimum, so a leaf's `comp` is its centre and a centre's (or an
    * isolated node's) is its own id. The paper bounds the rounds by
    * O(log² n); the bundled corpora take two. Each round ends in one
    * `localCheckpoint`, which cuts the iterative lineage (it would
    * otherwise grow a plan per round and stall the driver at scale), and
    * the exit condition is observed in that same job.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame): DataFrame = {
    // the first round reads the edges as given: the symmetric view below
    // absorbs either orientation, duplicates and self-loops
    var e = edges.select(col("src").as("u"), col("dst").as("v"))
    var rounds = 0
    var moved = 1L
    while (moved > 0) {
      require(rounds < MaxRounds, s"connectedComponents did not converge in $MaxRounds " +
        "rounds — alternating large-star/small-star needs O(log² n) rounds on n nodes")
      rounds += 1
      val (large, small) = (Observation(), Observation())
      // large-star over both orientations of each edge (one scan of e):
      // (m, v) for every larger neighbour v of u; it moved when m < u
      val star = e.select(inline(array(struct(col("u"), col("v")),
          struct(col("v").as("u"), col("u").as("v")))))
        .groupBy("u").agg(least(col("u"), min(col("v"))).as("m"),
          collect_list(col("v")).as("nb"))
        .select(col("u"), col("m"), explode(col("nb")).as("v"))
        .filter(col("v") > col("u"))
        .observe(large, count_if(col("m") < col("u")).as("n"))
      // small-star: v and its smaller neighbours nb → (min nb, x); of the
      // size(nb) edges emitted per v, all but (min nb, v) moved
      e = star.groupBy("v").agg(collect_set(col("m")).as("nb"))
        .observe(small, coalesce(sum(size(col("nb")) - 1), lit(0L)).as("n"))
        .select(array_min(col("nb")).as("u"),
          explode(array_union(col("nb"), array(col("v")))).as("v"))
        .filter(col("u") =!= col("v")).distinct()
        .localCheckpoint()
      moved = large.get("n").asInstanceOf[Long] + small.get("n").asInstanceOf[Long]
    }
    // isolated nodes (no incident edge) and star centres are their own component
    nodes.select(col("id")).join(e, col("id") === col("v"), "left")
      .select(col("id"), coalesce(col("u"), col("id")).as("comp"))
  }

  /** Round cap, a safety net: a 64-node path takes 7 rounds and a
    * 1024-node path with shuffled ids about 10, where one-hop-per-round
    * label propagation would need about 1023. */
  private val MaxRounds = 64

  /** (`doc_id`, `cluster_id`) of the augmented corpus `docs`: connected
    * components over its MinHash near-dup edges, `cluster_id` the smallest
    * `doc_id` of the cluster. */
  private def nearDupClusters(docs: DataFrame): DataFrame = {
    val edges = TextOps.minhashNearDups(docs)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    connectedComponents(docs.select(col("doc_id").as("id")), edges)
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_dedup_cluster" -> ((s, dir) =>
      nearDupClusters(TextOps.augDocs(s, dir)).select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))),

    "q_cluster_canonical" -> ((s, dir) => {
      // The step AFTER near-dup clustering in a real dedup pipeline: keep
      // the BEST document of each cluster, not the arbitrary min-id one —
      // representative = argmax by (n_tokens, doc_id) within the cluster.
      // Scale shape: the quality score is a map-side regex count joined on
      // (doc_id, cluster_id) 16-byte rows, then one cluster_id exchange
      // for the argmax window — document text never shuffles, and the
      // component labels come from the same connected-components loop as
      // q_dedup_cluster.
      val docs = TextOps.augDocs(s, dir)
      val clusters = nearDupClusters(docs)
      val scored = docs.select(col("doc_id"),
        regexp_count(col("text"), lit("\\S+")).as("n_tokens"))
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("n_tokens").desc, col("doc_id").asc)
      clusters.join(scored, "doc_id")
        .withColumn("rep_id", first(col("doc_id")).over(w))
        .select(col("doc_id"), col("cluster_id"), col("rep_id"),
          (col("doc_id") === col("rep_id")).as("is_representative"))
    })
  )

  val oracles: Map[String, String] = Map(

    // Reachability closure via recursive CTE (UNION dedups, so it
    // terminates); min reachable id per node = the component minimum —
    // exactly the Spark side's star centre.
    "q_dedup_cluster" ->
      s"""WITH RECURSIVE ${TextOps.augSql},
         |${TextOps.shingleHashesSql},
         |${TextOps.signaturesSql},
         |${TextOps.bandsCandSql},
         |pairs AS (
         |  SELECT doc_a, doc_b
         |  FROM cand JOIN sig sa ON cand.doc_a = sa.doc_id
         |            JOIN sig sb ON cand.doc_b = sb.doc_id
         |  WHERE ${TextOps.jaccardEstSql} >= 0.5
         |), edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs
         |), cc(id, comp) AS (
         |  SELECT doc_id, doc_id FROM aug
         |  UNION
         |  SELECT e.src, cc.comp FROM edges e JOIN cc ON cc.id = e.dst
         |)
         |SELECT id AS doc_id, min(comp) AS cluster_id,
         |  min(comp) = id AS is_canonical
         |FROM cc GROUP BY id""".stripMargin,

    "q_cluster_canonical" ->
      s"""WITH RECURSIVE ${TextOps.augSql},
         |${TextOps.shingleHashesSql},
         |${TextOps.signaturesSql},
         |${TextOps.bandsCandSql},
         |pairs AS (
         |  SELECT doc_a, doc_b
         |  FROM cand JOIN sig sa ON cand.doc_a = sa.doc_id
         |            JOIN sig sb ON cand.doc_b = sb.doc_id
         |  WHERE ${TextOps.jaccardEstSql} >= 0.5
         |), edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs
         |), cc(id, comp) AS (
         |  SELECT doc_id, doc_id FROM aug
         |  UNION
         |  SELECT e.src, cc.comp FROM edges e JOIN cc ON cc.id = e.dst
         |), cl AS (
         |  SELECT id AS doc_id, min(comp) AS cluster_id FROM cc GROUP BY id
         |), scored AS (
         |  SELECT doc_id, len(regexp_extract_all(text, '\\S+')) AS n_tokens FROM aug
         |), ranked AS (
         |  SELECT cl.doc_id, cl.cluster_id,
         |    first_value(cl.doc_id) OVER (
         |      PARTITION BY cl.cluster_id
         |      ORDER BY s.n_tokens DESC, cl.doc_id ASC) AS rep_id
         |  FROM cl JOIN scored s ON cl.doc_id = s.doc_id
         |)
         |SELECT doc_id, cluster_id, rep_id, doc_id = rep_id AS is_representative
         |FROM ranked""".stripMargin
  )
}

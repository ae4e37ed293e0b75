package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
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
    * Algorithm — min-label star contraction with path doubling: each round
    * (1) every current representative adopts the minimum id in its
    * contracted neighborhood, (2) the label map is pointer-jumped once
    * (comp := comp(comp)), and (3) edges are rewritten onto the new labels
    * and self-loops dropped, so the edge set SHRINKS toward empty and the
    * loop ends when no cross-component edge remains. The jump gives path
    * doubling, so convergence is logarithmic in component diameter rather
    * than linear — the property that matters when boilerplate chains
    * thousands of near-identical documents at 100 TB. Per round: one
    * groupBy + three joins, all keyed shuffles of the (small) edge/label
    * sets; `localCheckpoint` truncates the iterative lineage, which would
    * otherwise grow a plan per round and stall the driver at scale.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          maxIters: Int = 20): DataFrame = {
    var (e, crossEdges) = checkpointed(edges.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct(), count(lit(1)))
    // Iterate over the EDGE-INCIDENT vertex set only: an isolated node can
    // never change label, so carrying the whole corpus through every
    // label⋈label pointer-jump join (the previous shape) multiplied each
    // round's cost by |nodes|/|touched| — at 100 TB the duplicate-edge set
    // is ≪ the corpus, so this is the difference between per-round joins
    // over billions of rows and per-round joins over the (small) duplicate
    // neighborhood. Isolated nodes rejoin at the end with comp = id, which
    // is exactly the fixpoint the old loop computed for them. The initial
    // label map is a projection of the checkpointed edges, so it is left
    // lazy: the first round's checkpoint computes it.
    var lab = e.select(col("u").as("id")).union(e.select(col("v").as("id")))
      .distinct().select(col("id"), col("id").as("comp"))
    var iters = 0
    while (crossEdges > 0 && iters < maxIters) {
      iters += 1
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      // min over contracted neighborhood ∪ self
      val m = sym.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("c"))
      // relabel members whose representative got merged; every member of a
      // representative maps identically (comp(x)=r and m(r) agree), so the
      // label map stays a function
      val merged = lab.as("l").join(m, col("l.comp") === col("u"), "left")
        .select(col("l.id"), coalesce(col("c"), col("l.comp")).as("comp"))
      // pointer jump: comp := comp(comp) — path doubling
      val jumped = merged.as("a")
        .join(merged.as("b"), col("a.comp") === col("b.id"), "left")
        .select(col("a.id"), coalesce(col("b.comp"), col("a.comp")).as("comp"))
        .localCheckpoint()
      // contract edges onto the new labels
      val (contracted, left) = checkpointed(e.join(jumped.as("ju"), col("u") === col("ju.id"))
        .join(jumped.as("jv"), col("v") === col("jv.id"))
        .select(least(col("ju.comp"), col("jv.comp")).as("u"),
          greatest(col("ju.comp"), col("jv.comp")).as("v"))
        .filter(col("u") =!= col("v")).distinct(), count(lit(1)))
      e = contracted
      crossEdges = left
      lab = jumped
    }
    require(crossEdges == 0,
      s"connectedComponents did not converge in $maxIters rounds — " +
        "component diameter exceeds 2^maxIters; raise maxIters")
    // the edge set can empty while the label FOREST still has depth > 1
    // (each round jumps pointers only once) — flatten to fixpoint, halving
    // chain depth per jump, so comp is the component MINIMUM for every node.
    // The change marker rides along in the SAME join (old: a second
    // id-equality join per round just to compare labels — one extra shuffle
    // and one extra job per flatten iteration).
    var changed = 1L
    while (changed > 0) {
      val (jumped, n) = checkpointed(lab.as("a")
        .join(lab.as("b"), col("a.comp") === col("b.id"), "left")
        .select(col("a.id"), coalesce(col("b.comp"), col("a.comp")).as("comp"),
          (col("b.comp").isNotNull && col("b.comp") =!= col("a.comp"))
            .as("__changed")), count_if(col("__changed")))
      changed = n
      lab = jumped.drop("__changed")
    }
    // isolated nodes (no incident edge) are their own component
    nodes.select(col("id")).join(lab, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  /** `df` materialized by an eager `localCheckpoint`, and `metric` (a
    * count) over its rows, observed in that same job: the loop tests its
    * exit condition without a probe job of its own. */
  private def checkpointed(df: DataFrame, metric: Column): (DataFrame, Long) = {
    val seen = Observation()
    val cp = df.observe(seen, metric.as("n")).localCheckpoint()
    (cp, seen.get("n").asInstanceOf[Long])
  }

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
      // component labels come from the same O(log diameter) contraction
      // as q_dedup_cluster.
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
    // exactly the Spark side's min-label contraction fixpoint.
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

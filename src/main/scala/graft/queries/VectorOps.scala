package graft.queries

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.media.Media
import graft.source.Tables

/** Similarity search / embedding operators over the `embeddings` table
  * (64-dim float vectors): brute-force cosine top-k (correctness baseline),
  * sign-LSH bucketed ANN and near-dup (the scale path — candidate generation
  * becomes an equi-join on bucket id instead of an O(n²) pair scan), plus
  * the multimodal binary-column plumbing.
  *
  * Cross-engine determinism: dot products are ordered left-folds over the
  * array in BOTH engines (Spark `aggregate`, DuckDB `list_sum∘list_zip`) in
  * double precision, LSH hyperplanes are fixed ±1 literals derived from md5
  * at build time, and ranking keys round to 9 decimals before ordering.
  */
object VectorOps {

  private val DIMS = 64

  /** LSH hash width used by the oracle-checked fixture queries. At scale the
    * width must grow with the corpus — see [[nbitsFor]]; a fixed width makes
    * the bucketed self-join O(n²/2^nbits), quadratic again once n outgrows
    * the bucket count.
    */
  private val NBITS = 8

  /** Corpus-size-driven LSH width: 2^nbits buckets sized so the EXPECTED
    * bucket occupancy stays ≤ `targetPerBucket`, i.e. the per-bucket
    * self-join cost is bounded as n grows (floor 8 = the fixture setting).
    * At 10^12 vectors with the default target this is ~30 bits — still a
    * single int bucket id.
    */
  def nbitsFor(corpusSize: Long, targetPerBucket: Long = 1024L): Int =
    math.min(30, // Int bucket id: 1 << b must not overflow
      math.max(NBITS,
        math.ceil(math.log(math.max(corpusSize, 1L).toDouble / targetPerBucket)
          / math.log(2)).toInt))

  /** IVF coarse-quantizer size and probe count: k is FIXED (independent of
    * corpus size) so the broadcast side never grows with n; the deterministic
    * md5-ranked sample stands in for k-means training, which this sandbox's
    * oracle could not reproduce bit-for-bit.
    */
  private val IVF_K = 16
  private val IVF_NPROBE = 2

  /** Deterministic ±1 hyperplanes: parity of the first md5 byte of "b:d". */
  private[queries] def planes(nbits: Int): Seq[Seq[Int]] = {
    val md = MessageDigest.getInstance("MD5")
    (0 until nbits).map { b =>
      (0 until DIMS).map { d =>
        val h = md.digest(s"$b:$d".getBytes("UTF-8"))
        if ((h(0) & 1) == 1) 1 else -1
      }
    }
  }

  // ---- Spark-side vector helpers ----
  // graft.functions.ArrayDot (custom codegen Expression) instead of
  // aggregate(zip_with(...)): the higher-order lambdas are interpreted per
  // element with boxing — at 64 dims × nbits planes × corpus rows they were
  // the dominant operator cost. Fold order and promotion are identical, so
  // results (and the DuckDB oracles) are bitwise unchanged.

  private def dot(a: Column, b: Column): Column =
    graft.functions.fns.array_dot(a, b)

  private def norm(a: Column): Column =
    sqrt(graft.functions.fns.array_dot(a, a))

  private def planeCol(nbits: Int, b: Int): Column =
    typedLit(planes(nbits)(b))

  /** Sign-LSH bucket id (`nbits` bits) of an embedding column. */
  private[queries] def bucket(emb: Column, nbits: Int = NBITS): Column =
    (0 until nbits).map { b =>
      when(graft.functions.fns.array_dot(emb, planeCol(nbits, b)) > 0,
        lit(1 << b)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Candidate pairs (`qid`, `nid`, `cos`) of a corpus ⋈ query join: one
    * dot product per pair, over the norms both sides computed before it
    * (`nrm`, `qn`). */
  private def cosinePairs(joined: DataFrame): DataFrame =
    joined.select(col("qid"), col("vec_id").as("nid"),
      (dot(col("embedding"), col("qe")) / (col("nrm") * col("qn"))).as("cos"))

  /** Each query's `k` nearest candidates by cosine (ties by `nid`), in the
    * oracle's output shape (`qid`, `rank`, `nid`, `cos_sim`). */
  private def topK(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(round(col("cos"), 9).desc, col("nid").asc)
    pairs.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), round(col("cos"), 6).as("cos_sim"))
  }

  // ---- matching DuckDB SQL fragments ----

  private def planeSqlLit(b: Int): String =
    planes(NBITS)(b).mkString("[", ", ", "]")

  private val dotSql =
    "list_sum(list_transform(list_zip(%s, %s), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))"

  private def bucketSql(embExpr: String): String =
    (0 until NBITS).map { b =>
      s"(CASE WHEN list_sum(list_transform(list_zip($embExpr, ${planeSqlLit(b)}), " +
        s"z -> CAST(z[1] AS DOUBLE) * z[2])) > 0 THEN ${1 << b} ELSE 0 END)"
    }.mkString(" + ")

  private val normSql =
    "sqrt(list_sum(list_transform(%s, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"

  // ---- production entry points: LSH width auto-sized to the corpus ----

  /** Sign-LSH near-dup over an embedding corpus (`vec_id`, `embedding`):
    * candidate pairs share a bucket whose width grows with `corpusSize`
    * ([[nbitsFor]]), so expected bucket occupancy — and the per-bucket
    * self-join cost — stays bounded as n grows; exact cosine verify ≥
    * `minCos` after candidate generation. The oracle fixture
    * `q_embed_neardup` routes through this with a corpus small enough that
    * the width floors at the DuckDB-reproducible 8 bits.
    */
  def embedNearDup(e0: DataFrame, corpusSize: Long, minCos: Double = 0.99,
                   targetPerBucket: Long = 1024L): DataFrame =
    embedNearDupAt(e0, nbitsFor(corpusSize, targetPerBucket), minCos)

  /** [[embedNearDup]] at an EXPLICIT width (the fixture queries pin the
    * oracle-reproducible 8 bits — a live corpus count would silently change
    * the Spark result away from the fixed-width DuckDB SQL past 262k rows).
    */
  def embedNearDupAt(e0: DataFrame, nbits: Int, minCos: Double = 0.99): DataFrame = {
    // both self-join sides are the same plan: the scan and the nbits
    // hyperplane projections sit below one shared exchange (or broadcast)
    val e = e0.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"), bucket(col("embedding"), nbits).as("bkt"))
    e.as("x").join(e.as("y"),
        col("x.bkt") === col("y.bkt") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        (dot(col("x.embedding"), col("y.embedding")) /
          (col("x.nrm") * col("y.nrm"))).as("cos"))
      .filter(col("cos") >= minCos)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos_sim"))
  }

  /** Sign-LSH bucketed ANN top-k: query rows (selected by `isQuery`) are
    * broadcast; candidates share an LSH bucket sized to the corpus; exact
    * re-rank within the bucket. Same width-floor note as [[embedNearDup]].
    */
  def annLsh(e0: DataFrame, isQuery: Column, corpusSize: Long, k: Int = 5,
             targetPerBucket: Long = 1024L): DataFrame =
    annLshAt(e0, isQuery, nbitsFor(corpusSize, targetPerBucket), k)

  /** [[annLsh]] at an EXPLICIT width — same fixture/oracle note as
    * [[embedNearDupAt]].
    */
  def annLshAt(e0: DataFrame, isQuery: Column, nbits: Int, k: Int = 5): DataFrame = {
    val e = e0.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"), bucket(col("embedding"), nbits).as("bkt"))
    val q = broadcast(e.filter(isQuery)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("nrm").as("qn"), col("bkt").as("qbkt")))
    topK(cosinePairs(
      e.join(q, col("bkt") === col("qbkt") && col("vec_id") =!= col("qid"))), k)
  }

  /** Fixed-k deterministic coarse quantizer: the k vectors ranked first by
    * md5(vec_id) — a uniform pseudo-random sample both engines reproduce
    * bit-for-bit. The output is ALWAYS k rows, whatever the corpus size:
    * the broadcast side of the IVF assignment is bounded.
    */
  private[queries] def centroids(e: DataFrame, k: Int = IVF_K): DataFrame =
    e.orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(k)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"))

  // ---- augmented embeddings: exact copies for near-dup fixtures ----

  private def augEmb(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "embeddings").select("vec_id", "embedding")
    e.unionByName(e.filter(col("vec_id") % 25 === 0)
      .withColumn("vec_id", col("vec_id") + 100000L))
  }

  private val augEmbSql =
    """aug AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 25 = 0
      |)""".stripMargin

  /** IVF probe + exact re-rank against k collected centroid literals. */
  private def ivfQuery(e: DataFrame,
                       cents: Array[(Long, Seq[Float], Double)]): DataFrame = {
    // ascending struct sort on (−round(csim,9), cid) ≡ csim DESC, cid ASC —
    // the exact oracle ordering. NaN (zero-norm centroid) sorts GREATEST in
    // both engines' DESC, so it maps to −∞ here to keep NaN-first.
    val sortedCells = array_sort(array(cents.map { case (cid, ce, cn) =>
      val csim = dot(col("embedding"), typedLit(ce)) / (col("nrm") * lit(cn))
      struct(
        when(isnan(csim), lit(Double.NegativeInfinity))
          .otherwise(round(csim, 9) * -1).as("negsim"),
        lit(cid).as("cid"))
    }.toSeq: _*))
    val asg = e.withColumn("cid", element_at(sortedCells, 1).getField("cid"))
    val probes = e.filter(col("vec_id") % 50 === 0)
      .withColumn("pcell", explode(slice(sortedCells, 1, IVF_NPROBE)))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("nrm").as("qn"), col("pcell").getField("cid").as("pcid"))
    // One exchange serves BOTH the dedup and the top-k window (guide:
    // operations keyed the same way share an exchange): hash-partitioning
    // by qid alone satisfies the distinct's (qid, nid, cos) clustering
    // (subset rule) AND the window's qid clustering, so the candidate
    // pairs shuffle once instead of twice.
    val pairs = cosinePairs(asg.join(broadcast(probes),
        col("cid") === col("pcid") && col("vec_id") =!= col("qid")))
      .repartition(col("qid"))
      .distinct() // a neighbor can appear via both probed cells
    topK(pairs, 5)
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_ann_brute" -> ((s, dir) => {
      // Brute-force cosine top-5 for each query vector (vec_id % 50 = 0) —
      // the exactness baseline. Norms are precomputed per side BEFORE the
      // join so each pair costs one dot product, and the small query side is
      // broadcast: at scale this is a map-side loop over the big table, no
      // shuffle of the corpus.
      val e = Tables.read(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      val q = broadcast(e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn")))
      topK(cosinePairs(e.join(q, col("vec_id") =!= col("qid"))), 5)
    }),

    "q_ann_lsh" -> ((s, dir) => {
      // Scale path: candidates share a sign-LSH bucket (equi-join on bucket
      // id), then exact re-rank within the bucket. Linear candidate
      // generation; recall traded for the O(n²) scan. The FIXTURE pins the
      // oracle's 8-bit width; production uses annLsh(corpusSize).
      annLshAt(Tables.read(s, dir, "embeddings"),
        col("vec_id") % 50 === 0, NBITS)
    }),

    "q_embed_neardup" -> ((s, dir) =>
      // Embedding-cosine near-dup via LSH buckets + exact verify ≥ 0.99.
      // Fixture pins the oracle's 8-bit width; production uses
      // embedNearDup(corpusSize).
      embedNearDupAt(augEmb(s, dir), NBITS)),

    "q_ann_ivf" -> ((s, dir) => {
      // IVF: a FIXED-k coarse quantizer (k = IVF_K, independent of corpus
      // size — a corpus-proportional centroid set would grow the broadcast
      // with n and eventually OOM the executors), every vector assigned to
      // its nearest centroid by cosine (the inverted file), queries probe
      // their IVF_NPROBE nearest cells and re-rank exactly within them.
      // Centroids are a deterministic md5-ranked sample standing in for
      // k-means training. At scale the assignment is an argmax over k
      // centroid LITERALS — one map-side pass, no corpus shuffle; the probe
      // search is an equi-join on cell id against the broadcast query side.
      val e = Tables.read(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      // k is FIXED and tiny, so collecting the k centroids to the driver is
      // O(k) — they become LITERALS, and nearest-centroid assignment compiles
      // to a map-side argmax (sorted array of (−csim, cid) structs) with no
      // join, no window, no corpus shuffle. (The previous join+Window plan
      // shuffled 16× the corpus just to pick each vector's best cell.)
      val cents = centroids(e).collect().map(r =>
        (r.getLong(0), r.getSeq[Float](1), r.getDouble(2)))
      // empty corpus → empty result with the oracle's schema (an array() of
      // zero structs would be ArrayType(NullType) and fail analysis)
      if (cents.isEmpty)
        e.select(col("vec_id").as("qid"), lit(1).as("rank"),
          col("vec_id").as("nid"), lit(0.0).as("cos_sim")).limit(0)
      else ivfQuery(e, cents)
    }),

    "q_multimodal_meta" -> ((s, dir) => {
      // Binary-column plumbing: text → utf-8 bytes as the opaque payload,
      // partition-wise decode (stub codec, real schema/batching).
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      Media.extractMeta(docs, "doc_id", "payload").toDF()
    }),

    "q_media_frames" -> ((s, dir) => {
      // Frame sampling: payload → one row per sampled 64-byte frame (every
      // 2nd), lazy per-partition fan-out; offsets carry provenance.
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      Media.frameSample(docs, "doc_id", "payload").toDF()
    }),

    "q_media_resize" -> ((s, dir) => {
      // Resize planning: fit-within-160×120, aspect preserved, integer math.
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      Media.resizeMeta(docs, "doc_id", "payload").toDF()
    })
  )

  val oracles: Map[String, String] = Map(

    "q_ann_brute" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding, ${normSql.format("embedding")} AS nrm FROM embeddings
         |), q AS (
         |  SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM e WHERE vec_id % 50 = 0
         |), p AS (
         |  SELECT q.qid, e.vec_id AS nid,
         |    ${dotSql.format("e.embedding", "q.qe")} / (e.nrm * q.qn) AS cos
         |  FROM e, q WHERE e.vec_id <> q.qid
         |), r AS (
         |  SELECT qid, nid, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY round(cos, 9) DESC, nid) AS rank
         |  FROM p
         |)
         |SELECT qid, rank, nid, round(cos, 6) AS cos_sim FROM r WHERE rank <= 5""".stripMargin,

    "q_ann_lsh" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding, ${normSql.format("embedding")} AS nrm,
         |    ${bucketSql("embedding")} AS bkt
         |  FROM embeddings
         |), q AS (
         |  SELECT vec_id AS qid, embedding AS qe, nrm AS qn, bkt AS qbkt
         |  FROM e WHERE vec_id % 50 = 0
         |), p AS (
         |  SELECT q.qid, e.vec_id AS nid,
         |    ${dotSql.format("e.embedding", "q.qe")} / (e.nrm * q.qn) AS cos
         |  FROM e JOIN q ON e.bkt = q.qbkt AND e.vec_id <> q.qid
         |), r AS (
         |  SELECT qid, nid, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY round(cos, 9) DESC, nid) AS rank
         |  FROM p
         |)
         |SELECT qid, rank, nid, round(cos, 6) AS cos_sim FROM r WHERE rank <= 5""".stripMargin,

    "q_embed_neardup" ->
      s"""WITH $augEmbSql,
         |e AS (
         |  SELECT vec_id, embedding, ${normSql.format("embedding")} AS nrm,
         |    ${bucketSql("embedding")} AS bkt
         |  FROM aug
         |)
         |SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
         |  round(${dotSql.format("x.embedding", "y.embedding")} / (x.nrm * y.nrm), 6) AS cos_sim
         |FROM e x JOIN e y ON x.bkt = y.bkt AND x.vec_id < y.vec_id
         |WHERE ${dotSql.format("x.embedding", "y.embedding")} / (x.nrm * y.nrm) >= 0.99""".stripMargin,

    "q_ann_ivf" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding, ${normSql.format("embedding")} AS nrm FROM embeddings
         |), c AS (
         |  SELECT vec_id AS cid, embedding AS ce, nrm AS cn FROM e
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $IVF_K
         |), scored AS (
         |  SELECT e.vec_id, e.embedding, e.nrm, c.cid,
         |    ${dotSql.format("e.embedding", "c.ce")} / (e.nrm * c.cn) AS csim
         |  FROM e, c
         |), asg AS (
         |  SELECT vec_id, embedding, nrm, cid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY round(csim, 9) DESC, cid ASC) AS rn FROM scored
         |  ) WHERE rn = 1
         |), probes AS (
         |  SELECT vec_id AS qid, embedding AS qe, nrm AS qn, cid AS pcid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY round(csim, 9) DESC, cid ASC) AS rn
         |    FROM scored WHERE vec_id % 50 = 0
         |  ) WHERE rn <= $IVF_NPROBE
         |), pairs AS (
         |  SELECT DISTINCT p.qid, a.vec_id AS nid,
         |    ${dotSql.format("a.embedding", "p.qe")} / (a.nrm * p.qn) AS cos
         |  FROM asg a JOIN probes p ON a.cid = p.pcid AND a.vec_id <> p.qid
         |), r AS (
         |  SELECT qid, nid, cos, row_number() OVER (PARTITION BY qid
         |    ORDER BY round(cos, 9) DESC, nid ASC) AS rank FROM pairs
         |)
         |SELECT qid, rank, nid, round(cos, 6) AS cos_sim FROM r WHERE rank <= 5""".stripMargin,

    "q_multimodal_meta" ->
      """SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n_bytes,
        |  octet_length(CAST(text AS BLOB)) % 640 AS width,
        |  (octet_length(CAST(text AS BLOB)) * 7) % 480 AS height,
        |  CASE WHEN length(text) = 0 THEN -1 ELSE ascii(substr(text, 1, 1)) END AS first_byte
        |FROM documents""".stripMargin,

    "q_media_frames" ->
      """WITH d AS (
        |  SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n FROM documents
        |), f AS (
        |  SELECT doc_id, n, unnest(range(0, CAST((n + 63) // 64 AS BIGINT), 2)) AS i
        |  FROM d WHERE n > 0
        |)
        |SELECT doc_id, i AS frame_idx, i * 64 AS frame_off,
        |  CAST(least(64, n - i * 64) AS INT) AS frame_len
        |FROM f""".stripMargin,

    "q_media_resize" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    octet_length(CAST(text AS BLOB)) % 640 + 1 AS w0,
        |    (octet_length(CAST(text AS BLOB)) * 7) % 480 + 1 AS h0
        |  FROM documents
        |)
        |SELECT doc_id, w0 AS src_w, h0 AS src_h,
        |  CASE WHEN w0 <= 160 AND h0 <= 120 THEN w0
        |       WHEN w0 * 120 >= h0 * 160 THEN 160
        |       ELSE greatest(1, (w0 * 120) // h0) END AS dst_w,
        |  CASE WHEN w0 <= 160 AND h0 <= 120 THEN h0
        |       WHEN w0 * 120 >= h0 * 160 THEN greatest(1, (h0 * 160) // w0)
        |       ELSE 120 END AS dst_h
        |FROM s""".stripMargin
  )
}

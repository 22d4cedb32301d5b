package graft.ops

import graft.Gated
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`embedding: array<float>`, 64-dim).
  *
  * - Brute-force cosine top-k: the correctness baseline. The query side is
  *   broadcast (it is small by construction) so the big side streams with
  *   no shuffle; dot products run as codegen'd higher-order functions
  *   (`aggregate`/`zip_with`), no UDF.
  * - Sign-LSH bucketed top-k: the scale path — bucket by the sign bits of
  *   the leading dimensions (a fixed random-hyperplane family degenerates
  *   to axis signs for a fixed seed), shuffle on the bucket key only, and
  *   search within buckets. At 100 TB the bucket join replaces the cross
  *   product entirely.
  *
  * Similarities are rounded to 4 places so double summation-order
  * differences between engines cannot flip the driver's hash compare;
  * ranking ties break on neighbor id, so top-k is fully deterministic.
  */
object SimilarityOps {

  private def embeddings(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("cast(vec_id as long) as vec_id", "embedding",
        // squared norm, double accumulation in list order
        "aggregate(embedding, 0D, (acc, x) -> acc + cast(x as double) * cast(x as double)) as nrm")

  private val DotExpr =
    "aggregate(zip_with(q_embedding, embedding, (a, b) -> cast(a as double) * cast(b as double)), 0D, (acc, x) -> acc + x)"

  /** Shared top-k tail: the bounded [[graft.functions.KBest]] aggregate
    * replaces the old `row_number() OVER (PARTITION BY q_id)` window —
    * with the window, EVERY scored corpus row for a query funneled into
    * one reducer before `rn <= k`; with the capped aggregator, map-side
    * combine ships at most k candidates per (partition, query) into the
    * exchange. Output schema/order identical to the window version.
    */
  private def topkTail(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("q_id"))
      .agg(graft.functions.KBest.topk(k)(col("vec_id"), col("sim")).as("cands"))
      .select(col("q_id"), posexplode(col("cands")))
      .select(col("q_id"), col("col.n_id").as("n_id"),
        (col("pos") + 1).cast("long").as("rn"), col("col.sim").as("sim"))

  /** Brute-force cosine top-5 for query vectors (vec_id % 100 == 0). */
  def annBrute(spark: SparkSession, dir: String): DataFrame = {
    val all = embeddings(spark, dir)
    val q = all.filter(col("vec_id") % 100 === 0)
      .withColumnRenamed("vec_id", "q_id")
      .withColumnRenamed("embedding", "q_embedding")
      .withColumnRenamed("nrm", "q_nrm")
    val scored = all.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", round(expr(DotExpr) / sqrt(col("q_nrm") * col("nrm")), 4))
    topkTail(scored, 5)
  }

  val annBruteSql: String =
    """WITH n AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding::DOUBLE[] AS e,
      |    list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS nrm
      |  FROM embeddings),
      |q AS (SELECT * FROM n WHERE vec_id % 100 = 0),
      |s AS (SELECT q.vec_id AS q_id, p.vec_id AS n_id,
      |    round(list_inner_product(q.e, p.e) / sqrt(q.nrm * p.nrm), 4) AS sim
      |  FROM q, n p WHERE p.vec_id <> q.vec_id),
      |r AS (SELECT q_id, n_id, sim,
      |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS rn
      |  FROM s)
      |SELECT q_id, n_id, rn, sim FROM r WHERE rn <= 5""".stripMargin

  /** Sign-LSH bucket key: sign bits of dims 1..8 (deterministic family). */
  private val BucketExpr: String = (1 to 8)
    .map(i => s"(case when element_at(embedding, $i) >= cast(0 as float) then '1' else '0' end)")
    .mkString("concat(", ", ", ")")

  /** Bucketed ANN: candidates share the 8-bit sign bucket; top-3 within
    * bucket. Recall is partial by design (the scale/efficiency trade).
    */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val all = embeddings(spark, dir).withColumn("bucket", expr(BucketExpr))
    val q = all.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"),
        col("nrm").as("q_nrm"), col("bucket").as("q_bucket"))
    val scored = all.join(broadcast(q), col("bucket") === col("q_bucket") &&
        col("vec_id") =!= col("q_id"))
      .withColumn("sim", round(expr(DotExpr) / sqrt(col("q_nrm") * col("nrm")), 4))
    topkTail(scored, 3)
  }

  val annLshSql: String = {
    val bucket = (1 to 8)
      .map(i => s"(CASE WHEN embedding[$i] >= 0 THEN '1' ELSE '0' END)")
      .mkString(" || ")
    s"""WITH n AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding::DOUBLE[] AS e,
       |    list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS nrm,
       |    $bucket AS bucket
       |  FROM embeddings),
       |q AS (SELECT * FROM n WHERE vec_id % 100 = 0),
       |s AS (SELECT q.vec_id AS q_id, p.vec_id AS n_id,
       |    round(list_inner_product(q.e, p.e) / sqrt(q.nrm * p.nrm), 4) AS sim
       |  FROM q JOIN n p ON p.bucket = q.bucket AND p.vec_id <> q.vec_id),
       |r AS (SELECT q_id, n_id, sim,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS rn
       |  FROM s)
       |SELECT q_id, n_id, rn, sim FROM r WHERE rn <= 3""".stripMargin
  }

  /** kNN label vote: majority label of the brute-force top-5 (embedding
    * near-dup / classification building block). Tie → smaller label.
    */
  def knnLabel(spark: SparkSession, dir: String): DataFrame = {
    val labels = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("cast(vec_id as long) as n_id", "cast(label as long) as label")
    annBrute(spark, dir)
      .join(labels, "n_id")
      .groupBy(col("q_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("q_id"))
          .orderBy(col("votes").desc, col("label").asc)))
      .filter(col("rn") === 1)
      .select(col("q_id"), col("label").as("pred_label"), col("votes"))
  }

  val knnLabelSql: String =
    s"""WITH topk AS ($annBruteSql),
       |v AS (SELECT t.q_id, CAST(e.label AS BIGINT) AS label, CAST(count(*) AS BIGINT) AS votes
       |  FROM topk t JOIN embeddings e ON CAST(e.vec_id AS BIGINT) = t.n_id
       |  GROUP BY t.q_id, e.label),
       |r AS (SELECT q_id, label, votes,
       |    row_number() OVER (PARTITION BY q_id ORDER BY votes DESC, label) AS rn FROM v)
       |SELECT q_id, label AS pred_label, votes FROM r WHERE rn = 1""".stripMargin

  /** IVF-style ANN: a deterministic 8-centroid codebook (the embeddings
    * with vec_id 0..7 — a fixed "trained" codebook stand-in), every vector
    * assigned to its nearest centroid, then each query searches ONLY its
    * own cell: top-3 by cosine. At 100 TB the cell assignment is a
    * write-time partition column and a probe touches 1/K of the data;
    * here the cell join IS that pruning.
    *
    * The codebook is a driver-side model artifact (exactly as
    * KMeansModel.clusterCenters would be): 8×64 floats collected once and
    * inlined as literals, so nearest-centroid assignment is a single
    * narrow projection — the 8 cosines in one array, argmax via
    * array_position(array_max) — ZERO exchange, no per-row window. Ties
    * resolve to the smallest c_id because the sim array is ordered by
    * c_id and array_position takes the first occurrence (same tiebreak as
    * the oracle's ORDER BY c_sim DESC, c_id).
    */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val all = embeddings(spark, dir)
    val cents = all.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding"), col("nrm"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2)))
      .sortBy(_._1)
    val cSims = cents.map { case (_, emb, cnrm) =>
      val centLit = array(emb.map(v => lit(v)): _*)
      round(
        aggregate(
          zip_with(col("embedding"), centLit, (a, b) => a.cast("double") * b.cast("double")),
          lit(0.0), (acc, x) => acc + x) / sqrt(lit(cnrm) * col("nrm")), 6)
    }
    val cellIds = array(cents.map(c => lit(c._1)): _*)
    val assigned = all
      .withColumn("c_sims", array(cSims.toIndexedSeq: _*))
      .withColumn("cell",
        element_at(cellIds, array_position(col("c_sims"), array_max(col("c_sims"))).cast("int")))
      .drop("c_sims")
    val q = assigned.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"),
        col("nrm").as("q_nrm"), col("cell").as("q_cell"))
    val scored = assigned
      .join(broadcast(q), col("cell") === col("q_cell") && col("vec_id") =!= col("q_id"))
      .withColumn("sim", round(expr(DotExpr) / sqrt(col("q_nrm") * col("nrm")), 4))
    topkTail(scored, 3)
  }

  val annIvfSql: String =
    """WITH n AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding::DOUBLE[] AS e,
      |    list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS nrm
      |  FROM embeddings),
      |c AS (SELECT vec_id AS c_id, e AS ce, nrm AS cnrm FROM n WHERE vec_id < 8),
      |sc AS (SELECT n.vec_id, n.e, n.nrm, c.c_id,
      |    round(list_inner_product(n.e, c.ce) / sqrt(c.cnrm * n.nrm), 6) AS c_sim
      |  FROM n, c),
      |asg AS (SELECT vec_id, e, nrm, c_id AS cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, c_id) AS rn
      |    FROM sc) WHERE rn = 1),
      |q AS (SELECT vec_id AS q_id, e AS qe, nrm AS qnrm, cell AS q_cell
      |  FROM asg WHERE vec_id % 100 = 0),
      |s AS (SELECT q.q_id, p.vec_id AS n_id,
      |    round(list_inner_product(q.qe, p.e) / sqrt(q.qnrm * p.nrm), 4) AS sim
      |  FROM q JOIN asg p ON p.cell = q.q_cell AND p.vec_id <> q.q_id),
      |r AS (SELECT q_id, n_id, sim,
      |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS rn
      |  FROM s)
      |SELECT q_id, n_id, rn, sim FROM r WHERE rn <= 3""".stripMargin


  /** Multi-probe sign-LSH (Lv et al. 2007's trick on the sign family):
    * each query searches its own bucket PLUS the 8 buckets at Hamming
    * distance 1 (one sign bit flipped) — recovering neighbors that fell
    * just across a hyperplane without any extra index. Probes explode
    * on the SMALL query side only (9 rows per query, still broadcast);
    * the corpus keeps exactly one bucket per point, so the scan cost is
    * unchanged and buckets stay disjoint (no candidate dedup needed).
    */
  def annMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    val all = embeddings(spark, dir).withColumn("bucket", expr(BucketExpr))
    val probes =
      "array(bucket, " + (1 to 8).map { i =>
        s"concat(substring(bucket, 1, ${i - 1}), " +
          s"case when substring(bucket, $i, 1) = '1' then '0' else '1' end, " +
          s"substring(bucket, ${i + 1}))"
      }.mkString(", ") + ")"
    val q = all.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"),
        col("nrm").as("q_nrm"), explode(expr(probes)).as("q_bucket"))
    val scored = all.join(broadcast(q), col("bucket") === col("q_bucket") &&
        col("vec_id") =!= col("q_id"))
      .withColumn("sim", round(expr(DotExpr) / sqrt(col("q_nrm") * col("nrm")), 4))
    topkTail(scored, 3)
  }

  val annMultiprobeSql: String = {
    val bucket = (1 to 8)
      .map(i => s"(CASE WHEN embedding[$i] >= 0 THEN '1' ELSE '0' END)")
      .mkString(" || ")
    s"""WITH n AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding::DOUBLE[] AS e,
       |    list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS nrm,
       |    $bucket AS bucket
       |  FROM embeddings),
       |q0 AS (SELECT * FROM n WHERE vec_id % 100 = 0),
       |qp AS (SELECT vec_id, e, nrm,
       |    CASE WHEN i = 0 THEN bucket
       |         ELSE substr(bucket, 1, i - 1) ||
       |           (CASE WHEN substr(bucket, i, 1) = '1' THEN '0' ELSE '1' END) ||
       |           substr(bucket, i + 1) END AS pbucket
       |  FROM q0, (SELECT CAST(unnest(range(0, 9)) AS INT) AS i)),
       |s AS (SELECT qp.vec_id AS q_id, p.vec_id AS n_id,
       |    round(list_inner_product(qp.e, p.e) / sqrt(qp.nrm * p.nrm), 4) AS sim
       |  FROM qp JOIN n p ON p.bucket = qp.pbucket AND p.vec_id <> qp.vec_id),
       |r AS (SELECT q_id, n_id, sim,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS rn
       |  FROM s)
       |SELECT q_id, n_id, rn, sim FROM r WHERE rn <= 3""".stripMargin
  }

  /** Recall@3 of the sign-LSH path against brute-force ground truth —
    * the evaluation op any approximate index needs before it replaces the
    * exact one. Both sides reuse the production queries; the oracle
    * composes the same two pipelines in SQL, so the recall numbers are
    * exact, per query vector.
    */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val truth = annBrute(spark, dir).filter(col("rn") <= 3)
      .select(col("q_id"), col("n_id"))
    val approx = annLsh(spark, dir)
      .select(col("q_id").as("a_q"), col("n_id").as("a_n"))
    truth.join(approx,
        col("q_id") === col("a_q") && col("n_id") === col("a_n"), "left")
      .groupBy(col("q_id"))
      .agg(count(col("a_n")).as("hits"))
      .select(col("q_id"), col("hits"),
        round(col("hits").cast("double") / 3.0, 6).as("recall_at_3"))
  }

  val annRecallSql: String =
    s"""WITH t0 AS ($annBruteSql),
       |t AS (SELECT q_id, n_id FROM t0 WHERE rn <= 3),
       |a AS ($annLshSql)
       |SELECT t.q_id, CAST(count(a.n_id) AS BIGINT) AS hits,
       |  round(CAST(count(a.n_id) AS DOUBLE) / 3.0, 6) AS recall_at_3
       |FROM t LEFT JOIN a ON a.q_id = t.q_id AND a.n_id = t.n_id
       |GROUP BY t.q_id""".stripMargin

  /** Distributed Lloyd k-means (k=4, 2 update rounds) over the
    * embeddings — the corpus-clustering step a training-data pipeline
    * runs for topic balancing / mixture design before sampling.
    *
    * 100 TB shape (the same split as Spark MLlib's KMeans): the model is
    * tiny and driver-held, the data never shuffles in full —
    *  - ASSIGNMENT is a narrow projection: centroids inlined as literals
    *    (the [[annIvf]] codebook pattern), per-point argmin over k
    *    integer distance keys, zero exchange;
    *  - UPDATE is a partial-agg'd `groupBy(cluster, dim)` over exploded
    *    components — exactly k×64 = 256 keys cross the exchange with
    *    map-side combine, then 256 rows collect to the driver to form
    *    the next codebook.
    *
    * Cross-engine exactness by construction (no float-summation-order
    * hazard, unlike a naive port): points quantize to integers
    * (round(e·100)), centroids to fixed-point ×10⁴ (HALF_UP — DuckDB's
    * round matches), and the distance key
    * 10⁸·q·q − 2·10⁴·q·s + s·s is integral and < 2⁵³, so every partial
    * sum is exact in BOTH engines regardless of order, and argmin can
    * never flip. Ties break to the smallest cluster id on both sides.
    */
  def kmeansAssign(spark: SparkSession, dir: String): DataFrame = {
    val k = 4
    val pts = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("cast(vec_id as long) as vec_id",
        "transform(embedding, x -> cast(round(cast(x as double) * 100) as bigint)) as q")
      .localCheckpoint(true) // one scan feeds the seeds, both rounds and the assignment

    val seeds = pts.filter(col("vec_id") < k).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1)
    var clusterIds: Array[Long] = seeds.map(_._1)
    var cents: Array[Array[Long]] = seeds.map(_._2.map(_ * 10000L))

    def assigned(): DataFrame = {
      val distCols = cents.map { s =>
        val sLit = array(s.map(v => lit(v)).toIndexedSeq: _*)
        aggregate(
          zip_with(col("q"), sLit, (a, b) => {
            val d = a * lit(10000L) - b
            d * d
          }),
          lit(0L), (acc, x) => acc + x)
      }
      pts.withColumn("dks", array(distCols.toIndexedSeq: _*))
        .withColumn("dist_key", array_min(col("dks")))
        .withColumn("cluster",
          element_at(array(clusterIds.map(lit(_)).toIndexedSeq: _*),
            array_position(col("dks"), col("dist_key")).cast("int")))
        .drop("dks")
    }

    var t = 0
    while (t < 2) {
      val rows = assigned()
        .select(col("cluster"), posexplode(col("q")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
        .collect()
      val byCluster = rows.groupBy(_.getLong(0)).toArray.sortBy(_._1)
      clusterIds = byCluster.map(_._1)
      cents = byCluster.map { case (_, rs) =>
        val dim = new Array[Long](64)
        rs.foreach(r => dim(r.getInt(1)) = halfUp(10000.0 * r.getLong(2) / r.getLong(3)))
        dim
      }
      t += 1
    }
    assigned().select(col("vec_id"), col("cluster"), col("dist_key"))
  }

  /** The k-means CTE chain (quantized points `p` → 2 Lloyd rounds →
    * final assignment `a3` with columns vec_id, q, cluster, dk),
    * parameterized over the final SELECT so [[semDedupSql]] can reuse
    * the identical model fit.
    */
  private def kmeansChainSql(finalSelect: String): String = {
    // one assignment round against centroid CTE `cN` (s: fixed-point list)
    def assign(src: String, cn: String, out: String): String =
      s"""$out AS (SELECT vec_id, q, j AS cluster, dk FROM (
         |  SELECT p.vec_id, p.q, c.j,
         |    100000000 * list_inner_product(p.q, p.q)
         |      - 20000 * list_inner_product(p.q, c.s)
         |      + list_inner_product(c.s, c.s) AS dk,
         |    row_number() OVER (PARTITION BY p.vec_id ORDER BY
         |      100000000 * list_inner_product(p.q, p.q)
         |        - 20000 * list_inner_product(p.q, c.s)
         |        + list_inner_product(c.s, c.s), c.j) AS rn
         |  FROM $src p, $cn c) WHERE rn = 1)""".stripMargin
    // one update round: exact integer component sums → HALF_UP fixed point
    def update(an: String, out: String): String =
      s"""$out AS (SELECT cluster AS j, list(s_i ORDER BY i) AS s FROM (
         |  SELECT cluster, i, round(10000.0 * sum(q[i]) / count(*)) AS s_i
         |  FROM $an, (SELECT unnest(range(1, 65)) AS i) dims
         |  GROUP BY cluster, i) GROUP BY cluster)""".stripMargin
    s"""WITH p AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
       |    list_transform(embedding::DOUBLE[], x -> round(x * 100)) AS q
       |  FROM embeddings),
       |c0 AS (SELECT vec_id AS j, list_transform(q, x -> x * 10000) AS s
       |  FROM p WHERE vec_id < 4),
       |${assign("p", "c0", "a1")},
       |${update("a1", "c1")},
       |${assign("p", "c1", "a2")},
       |${update("a2", "c2")},
       |${assign("p", "c2", "a3")}
       |$finalSelect""".stripMargin
  }

  val kmeansAssignSql: String = kmeansChainSql(
    "SELECT vec_id, cluster, CAST(dk AS BIGINT) AS dist_key FROM a3")

  /** Cluster purity against the embedding table's ground-truth `label`
    * column — the standard external clustering eval (purity = fraction
    * of a cluster's members carrying its majority label): the QA gate a
    * pipeline runs before trusting k-means clusters for SemDeDup
    * pair-capping or curriculum bucketing. Same fit as [[kmeansAssign]]
    * (identical 2-round Lloyd chain on both engines), so the metric is
    * exactly reproducible; ties on the majority label break to the
    * smaller label id on both sides.
    *
    * 100 TB shape: the fit is the driver-held model of [[kmeansAssign]];
    * the eval is one (cluster,label) partial-agg'd count shuffle (k·|L|
    * cells) plus a window over those tiny cells.
    */
  def clusterPurity(spark: SparkSession, dir: String): DataFrame = {
    val asg = kmeansAssign(spark, dir).select("vec_id", "cluster")
    val lab = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("cast(vec_id as long) as vec_id", "cast(label as long) as label")
    asg.join(lab, Seq("vec_id"))
      .groupBy("cluster", "label")
      .agg(count(lit(1)).cast("long").as("n"))
      .withColumn("rk", expr("row_number() over (partition by cluster order by n desc, label)"))
      .withColumn("nm", expr("sum(n) over (partition by cluster)"))
      .where("rk = 1")
      .selectExpr("cluster", "cast(nm as long) as n_members",
        "label as majority_label", "n as n_majority",
        "round(cast(n as double) / nm, 6) as purity")
  }

  val clusterPuritySql: String = kmeansChainSql(
    """, cells AS (SELECT a3.cluster, CAST(e.label AS BIGINT) AS label,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM a3 JOIN embeddings e ON e.vec_id = a3.vec_id GROUP BY 1, 2),
      |r AS (SELECT cluster, label, n,
      |    row_number() OVER (PARTITION BY cluster ORDER BY n DESC, label) AS rk,
      |    sum(n) OVER (PARTITION BY cluster) AS nm FROM cells)
      |SELECT cluster, CAST(nm AS BIGINT) AS n_members, label AS majority_label,
      |  n AS n_majority, round(CAST(n AS DOUBLE) / nm, 6) AS purity
      |FROM r WHERE rk = 1""".stripMargin)

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540):
    * cluster the embedding space with k-means, then look for semantic
    * duplicates ONLY within a cluster — pairs whose cosine similarity
    * exceeds τ — and drop the pair member FARTHER from its centroid
    * (the paper's "keep low-similarity-to-centroid" rule inverted to
    * its dedup form: of two near-identical points, keep the more
    * central / more prototypical one; ties to the smaller vec_id).
    *
    * 100 TB shape — the whole point of the method: clustering makes the
    * O(n²) similarity join per-CLUSTER, so the only wide ops are (a)
    * the k-means fit (tiny driver-held model, see [[kmeansAssign]]) and
    * (b) a self-join keyed on cluster id. On top of that this caps each
    * cluster at the [[SemDedupCap]] members closest to the centroid
    * before pairing (a bounded window per cluster — the same
    * truncation-is-observable discipline as the LSH bucket caps), so
    * the pair expansion is ≤ C(cap,2) per cluster no matter how hot a
    * cluster gets. Similarity is exact integer arithmetic end to end:
    * quantized components (round(x·100)), integer dot/norms, and
    * cos ≥ 3/10 tested as 100·dot² ≥ 9·‖a‖²·‖b‖² with dot > 0 — no
    * float on any comparison path, so the oracle can never flip a pair.
    */
  private val SemDedupCap = 64

  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    val asg = kmeansAssign(spark, dir) // vec_id, cluster, dist_key
    val pts = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("cast(vec_id as long) as vec_id",
        "transform(embedding, x -> cast(round(cast(x as double) * 100) as bigint)) as q")
    val members = asg.join(pts, "vec_id")
      .withColumn("rn", row_number().over(
        Window.partitionBy("cluster").orderBy(col("dist_key"), col("vec_id"))))
      .filter(col("rn") <= SemDedupCap)
      .selectExpr("vec_id", "cluster", "dist_key", "q",
        "aggregate(q, 0L, (acc, x) -> acc + x * x) as nq")
    val a = members.toDF("a_id", "cluster", "a_dk", "a_q", "a_nq")
    val b = members.toDF("b_id", "b_cluster", "b_dk", "b_q", "b_nq")
    a.join(b, col("cluster") === col("b_cluster") && col("a_id") < col("b_id"))
      .withColumn("dot",
        expr("aggregate(zip_with(a_q, b_q, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"))
      .filter(col("dot") > 0 && expr("100L * dot * dot >= 9L * a_nq * b_nq"))
      .selectExpr(
        "case when a_dk > b_dk or (a_dk = b_dk and a_id > b_id) then a_id else b_id end as vec_id",
        "cluster")
      .groupBy("vec_id", "cluster")
      .agg(count(lit(1)).as("n_dup_pairs"))
  }

  val semDedupSql: String = kmeansChainSql(
    s""",
       |m AS (SELECT vec_id, cluster, dk, q,
       |    CAST(list_inner_product(q, q) AS BIGINT) AS nq,
       |    row_number() OVER (PARTITION BY cluster ORDER BY dk, vec_id) AS rn
       |  FROM a3),
       |cm AS (SELECT * FROM m WHERE rn <= $SemDedupCap),
       |pr AS (SELECT a.cluster,
       |    CAST(list_inner_product(a.q, b.q) AS BIGINT) AS dot,
       |    a.vec_id AS a_id, b.vec_id AS b_id,
       |    a.dk AS a_dk, b.dk AS b_dk, a.nq AS a_nq, b.nq AS b_nq
       |  FROM cm a JOIN cm b ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
       |SELECT CASE WHEN a_dk > b_dk OR (a_dk = b_dk AND a_id > b_id)
       |         THEN a_id ELSE b_id END AS vec_id,
       |  cluster, CAST(count(*) AS BIGINT) AS n_dup_pairs
       |FROM pr WHERE dot > 0 AND 100 * dot * dot >= 9 * a_nq * b_nq
       |GROUP BY 1, 2""".stripMargin)

  /** Per-vector int8 (0..255) min-max quantization — the storage-side
    * compression every large vector store applies (4× smaller than
    * float32 before any index). Outputs the dequant params, the exact
    * integer code sum (order-independent — pins every code), and the max
    * reconstruction error. Pure codegen projection, zero shuffle; the
    * same arithmetic formula text runs in both engines so the doubles
    * agree bit-for-bit before rounding.
    */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("cast(vec_id as long) as vec_id",
        "transform(embedding, x -> cast(x as double)) as de")
      .selectExpr("vec_id", "de",
        "array_min(de) as mn", "array_max(de) as mx")
      .selectExpr("vec_id", "de", "mn", "(mx - mn) / 255.0D as s",
        "round(mn, 6) as q_min", "round(mx, 6) as q_max")
      .selectExpr("vec_id", "q_min", "q_max",
        """aggregate(
          |  transform(de, x -> case when s = 0D then 0L
          |                     else cast(round((x - mn) / s) as bigint) end),
          |  0L, (acc, c) -> acc + c) as code_sum""".stripMargin,
        """round(array_max(transform(de, x ->
          |  abs(x - (mn + (case when s = 0D then 0D
          |                 else round((x - mn) / s) end) * s)))), 6) as max_err""".stripMargin)

  val embedQuantizeSql: String =
    """WITH b AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding::DOUBLE[] AS de
      |  FROM embeddings),
      |m AS (SELECT vec_id, de, list_min(de) AS mn, list_max(de) AS mx FROM b),
      |c AS (SELECT vec_id, de, mn, (mx - mn) / 255.0 AS s,
      |  round(mn, 6) AS q_min, round(mx, 6) AS q_max FROM m)
      |SELECT vec_id, q_min, q_max,
      |  CAST(list_sum(list_transform(de, x ->
      |    CASE WHEN s = 0 THEN 0 ELSE CAST(round((x - mn) / s) AS BIGINT) END)) AS BIGINT) AS code_sum,
      |  round(list_max(list_transform(de, x ->
      |    abs(x - (mn + (CASE WHEN s = 0 THEN 0 ELSE round((x - mn) / s) END) * s)))), 6) AS max_err
      |FROM c""".stripMargin

  // --------------------------------------------- product quantization (PQ)

  /** PQ (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
    * Search"): the 64-dim vector splits into M=8 subvectors of 8 dims;
    * each subspace trains its own K=4 codebook with the SAME
    * exact-integer Lloyd arithmetic as [[kmeansAssign]] (points
    * quantized ×100, centroids fixed-point ×10⁴, integral distance keys
    * < 2⁵³ — cross-engine exact, ties to the smallest centroid id);
    * a vector's code is its 8 per-subspace centroid ids (3 bits each
    * here — 64 floats → 8 small codes, the 32× compression PQ exists
    * for). Query scoring is ADC: the query stays full-precision and
    * sums exact subspace distances to each CODED centroid.
    *
    * 100 TB shape: codebooks are a driver-held model artifact (M×K×8
    * ints), ENCODING is a zero-exchange literal projection
    * (PlanShapeSpec pins no Exchange in [[pqEncode]]'s plan), and ADC
    * scoring broadcasts only the query side — the corpus scan carries
    * codes, never raw vectors, into the bounded top-k aggregation.
    */
  private val PqM = 8 // subspaces
  private val PqSub = 8 // dims per subspace
  private val PqK = 4 // centroids per subspace

  private def pqPoints(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("cast(vec_id as long) as vec_id",
        "transform(embedding, x -> cast(round(cast(x as double) * 100) as bigint)) as q")

  private def longArrLit(a: Array[Long]): String =
    a.map(v => s"${v}L").mkString("array(", ",", ")")

  private def idsLit(ids: Array[Array[Long]]): String =
    ids.map(longArrLit).mkString("array(", ",", ")")

  private def centsLit(cents: Array[Array[Array[Long]]]): String =
    cents.map(_.map(longArrLit).mkString("array(", ",", ")"))
      .mkString("array(", ",", ")")

  /** Exact-integer subspace distance keys for subvector expr `sqExpr`
    * against subspace `m+1`'s codebook (both lambda-scope names).
    */
  private def pqDksExpr(cents: Array[Array[Array[Long]]], sqExpr: String): String =
    s"""transform(element_at(${centsLit(cents)}, m + 1),
       |  s -> aggregate(zip_with($sqExpr, s,
       |         (a, b) -> (a * 10000L - b) * (a * 10000L - b)),
       |       0L, (acc, x) -> acc + x))""".stripMargin

  /** argmin centroid id: first occurrence of the min distance key — the
    * ids are ascending per subspace, so ties resolve to the smallest id
    * (the oracle's ORDER BY dk, j).
    */
  private def pqCodeExpr(ids: Array[Array[Long]], cents: Array[Array[Array[Long]]],
      sqExpr: String): String = {
    val dks = pqDksExpr(cents, sqExpr)
    s"""element_at(element_at(${idsLit(ids)}, m + 1),
       |  cast(array_position($dks, array_min($dks)) as int))""".stripMargin
  }

  private[ops] def halfUp(x: Double): Long =
    new java.math.BigDecimal(x).setScale(0, java.math.RoundingMode.HALF_UP).longValue

  /** 2 Lloyd rounds per subspace, all M subspaces in one pass per round:
    * assignment is a literal-codebook projection over the exploded
    * (vec_id, m, sq) frame (no join, no window), the update collects
    * exactly M×K×8 = 256 (m, code, dim) partial sums to the driver.
    */
  private def pqTrain(spark: SparkSession, dir: String): (Array[Array[Long]], Array[Array[Array[Long]]]) = {
    val ex = pqPoints(spark, dir).selectExpr("vec_id",
      s"posexplode(transform(sequence(0, ${PqM - 1}), m -> slice(q, m * $PqSub + 1, $PqSub))) as (m, sq)")
      .localCheckpoint(true) // one scan feeds both training rounds
    val seeds = ex.where(s"vec_id < $PqK").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2).toArray))
    var ids: Array[Array[Long]] =
      Array.tabulate(PqM)(m => seeds.filter(_._2 == m).map(_._1).sorted)
    var cents: Array[Array[Array[Long]]] =
      Array.tabulate(PqM)(m =>
        seeds.filter(_._2 == m).sortBy(_._1).map(_._3.map(_ * 10000L)))
    var t = 0
    while (t < 2) {
      val rows = ex
        .selectExpr("m", s"${pqCodeExpr(ids, cents, "sq")} as code", "sq")
        .selectExpr("m", "code", "posexplode(sq) as (pos, v)")
        .groupBy("m", "code", "pos")
        .agg(sum("v").as("s"), count(lit(1)).as("n"))
        .collect()
      val byM = rows.groupBy(_.getInt(0))
      ids = Array.tabulate(PqM)(m =>
        byM.getOrElse(m, Array.empty[org.apache.spark.sql.Row])
          .map(_.getLong(1)).distinct.sorted.toArray)
      cents = Array.tabulate(PqM) { m =>
        ids(m).map { code =>
          val dim = new Array[Long](PqSub)
          byM(m).filter(_.getLong(1) == code).foreach(r =>
            dim(r.getInt(2)) = halfUp(10000.0 * r.getLong(3) / r.getLong(4)))
          dim
        }
      }
      t += 1
    }
    (ids, cents)
  }

  private def pqEncodeWith(spark: SparkSession, dir: String,
      ids: Array[Array[Long]], cents: Array[Array[Array[Long]]]): DataFrame = {
    val code = pqCodeExpr(ids, cents, s"slice(q, m * $PqSub + 1, $PqSub)")
    pqPoints(spark, dir).selectExpr("vec_id", "q",
      s"transform(sequence(0, ${PqM - 1}), m -> $code) as codes")
  }

  /** Train + encode: the returned plan is a PURE literal projection over
    * the scan (training already happened driver-side) — zero Exchange.
    */
  def pqEncode(spark: SparkSession, dir: String): DataFrame = {
    val (ids, cents) = pqTrain(spark, dir)
    pqEncodeWith(spark, dir, ids, cents)
  }

  /** ADC: exact integer distance from full-precision query subvectors to
    * the corpus row's CODED centroids, summed over subspaces.
    */
  private def pqAdcExpr(ids: Array[Array[Long]], cents: Array[Array[Array[Long]]]): String =
    s"""aggregate(transform(sequence(0, ${PqM - 1}), m ->
       |    aggregate(zip_with(slice(q_q, m * $PqSub + 1, $PqSub),
       |        element_at(element_at(${centsLit(cents)}, m + 1),
       |          cast(array_position(element_at(${idsLit(ids)}, m + 1),
       |                              element_at(codes, m + 1)) as int)),
       |        (a, b) -> (a * 10000L - b) * (a * 10000L - b)),
       |      0L, (acc, x) -> acc + x)),
       |  0L, (acc, x) -> acc + x)""".stripMargin

  /** PQ-ADC top-3 per query (vec_id % 100 == 0), self excluded. */
  def annPq(spark: SparkSession, dir: String): DataFrame = {
    val (ids, cents) = pqTrain(spark, dir)
    val enc = pqEncodeWith(spark, dir, ids, cents)
    val q = pqPoints(spark, dir).filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("q").as("q_q"))
    val scored = enc.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      // ADC keys are integral and < 2^53 — exact in the double TopK rides
      .withColumn("sim", -expr(pqAdcExpr(ids, cents)).cast("double"))
    topkTail(scored, 3)
      .selectExpr("q_id", "n_id", "rn", "cast(-sim as bigint) as adc")
  }

  /** Recall@3 of PQ-ADC vs EXACT integer-L2 ground truth over the same
    * quantized points — isolates the quantization loss (the number a PQ
    * rollout decision actually needs).
    */
  def annPqRecall(spark: SparkSession, dir: String): DataFrame = {
    val pts = pqPoints(spark, dir)
    val q = pts.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("q").as("q_q"))
    val scored = pts.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim",
        -expr("aggregate(zip_with(q, q_q, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)")
          .cast("double"))
    val truth = topkTail(scored, 3).select(col("q_id"), col("n_id"))
    val approx = annPq(spark, dir)
      .select(col("q_id").as("a_q"), col("n_id").as("a_n"))
    truth.join(approx,
        col("q_id") === col("a_q") && col("n_id") === col("a_n"), "left")
      .groupBy(col("q_id"))
      .agg(count(col("a_n")).as("hits"))
      .select(col("q_id"), col("hits"),
        round(col("hits").cast("double") / 3.0, 6).as("recall_at_3"))
  }

  /** Shared CTE chain: quantized points, subvectors, 2 Lloyd rounds per
    * subspace (linear CTE chain — a scalar subquery referencing a CTE
    * twice makes DuckDB's inlining exponential), final encode.
    */
  private val pqTrainCtes: String = {
    def assign(src: String, cn: String, out: String): String =
      s"""$out AS (SELECT vec_id, m, sq, j AS code FROM (
         |  SELECT e.vec_id, e.m, e.sq, c.j,
         |    row_number() OVER (PARTITION BY e.vec_id, e.m ORDER BY
         |      100000000 * list_inner_product(e.sq, e.sq)
         |        - 20000 * list_inner_product(e.sq, c.s)
         |        + list_inner_product(c.s, c.s), c.j) AS rn
         |  FROM $src e JOIN $cn c ON c.m = e.m) WHERE rn = 1)""".stripMargin
    def update(an: String, out: String): String =
      s"""$out AS (SELECT m, code AS j, list(s_i ORDER BY i) AS s FROM (
         |  SELECT m, code, i, round(10000.0 * sum(sq[i]) / count(*)) AS s_i
         |  FROM $an, (SELECT unnest(range(1, ${PqSub + 1})) AS i) dims
         |  GROUP BY m, code, i) GROUP BY m, code)""".stripMargin
    s"""p AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
       |    list_transform(embedding::DOUBLE[], x -> CAST(round(x * 100) AS BIGINT)) AS q
       |  FROM embeddings),
       |ex AS (SELECT vec_id, m, q[m*$PqSub+1 : m*$PqSub+$PqSub] AS sq
       |  FROM p, (SELECT unnest(range(0, $PqM)) AS m)),
       |c0 AS (SELECT m, vec_id AS j, list_transform(sq, x -> x * 10000) AS s
       |  FROM ex WHERE vec_id < $PqK),
       |${assign("ex", "c0", "a1")},
       |${update("a1", "c1")},
       |${assign("ex", "c1", "a2")},
       |${update("a2", "c2")},
       |${assign("ex", "c2", "enc")}""".stripMargin
  }

  val annPqSql: String =
    s"""WITH $pqTrainCtes,
       |qv AS (SELECT vec_id AS q_id, m, sq AS qs FROM ex WHERE vec_id % 100 = 0),
       |ad AS (SELECT qv.q_id, e.vec_id AS n_id, CAST(sum(
       |      100000000 * list_inner_product(qv.qs, qv.qs)
       |        - 20000 * list_inner_product(qv.qs, c.s)
       |        + list_inner_product(c.s, c.s)) AS BIGINT) AS adc
       |  FROM qv JOIN enc e ON e.m = qv.m AND e.vec_id <> qv.q_id
       |       JOIN c2 c ON c.m = e.m AND c.j = e.code
       |  GROUP BY qv.q_id, e.vec_id),
       |r AS (SELECT q_id, n_id, adc,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc, n_id) AS BIGINT) AS rn
       |  FROM ad)
       |SELECT q_id, n_id, rn, adc FROM r WHERE rn <= 3""".stripMargin

  val annPqRecallSql: String =
    s"""WITH $pqTrainCtes,
       |qv AS (SELECT vec_id AS q_id, m, sq AS qs FROM ex WHERE vec_id % 100 = 0),
       |ad AS (SELECT qv.q_id, e.vec_id AS n_id, sum(
       |      100000000 * list_inner_product(qv.qs, qv.qs)
       |        - 20000 * list_inner_product(qv.qs, c.s)
       |        + list_inner_product(c.s, c.s)) AS adc
       |  FROM qv JOIN enc e ON e.m = qv.m AND e.vec_id <> qv.q_id
       |       JOIN c2 c ON c.m = e.m AND c.j = e.code
       |  GROUP BY qv.q_id, e.vec_id),
       |pq AS (SELECT q_id, n_id FROM (SELECT q_id, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY adc, n_id) AS rn
       |  FROM ad) WHERE rn <= 3),
       |tq AS (SELECT vec_id AS q_id, q AS qq FROM p WHERE vec_id % 100 = 0),
       |td AS (SELECT tq.q_id, x.vec_id AS n_id,
       |    list_inner_product(x.q, x.q) - 2 * list_inner_product(x.q, tq.qq)
       |      + list_inner_product(tq.qq, tq.qq) AS d
       |  FROM tq JOIN p x ON x.vec_id <> tq.q_id),
       |tr AS (SELECT q_id, n_id FROM (SELECT q_id, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY d, n_id) AS rn
       |  FROM td) WHERE rn <= 3)
       |SELECT tr.q_id, CAST(count(pq.n_id) AS BIGINT) AS hits,
       |  round(CAST(count(pq.n_id) AS DOUBLE) / 3.0, 6) AS recall_at_3
       |FROM tr LEFT JOIN pq ON pq.q_id = tr.q_id AND pq.n_id = tr.n_id
       |GROUP BY tr.q_id""".stripMargin

  def registry: Map[String, Gated] = Map(
    "q_embed_quantize" -> Gated(embedQuantize(_, _), embedQuantizeSql),
    "q_kmeans_assign" -> Gated(kmeansAssign(_, _), kmeansAssignSql),
    "q_cluster_purity" -> Gated(clusterPurity(_, _), clusterPuritySql),
    "q_semdedup" -> Gated(semDedup(_, _), semDedupSql),
    "q_ann_brute" -> Gated(annBrute(_, _), annBruteSql),
    "q_ann_lsh" -> Gated(annLsh(_, _), annLshSql),
    "q_ann_multiprobe" -> Gated(annMultiprobe(_, _), annMultiprobeSql),
    "q_ann_ivf" -> Gated(annIvf(_, _), annIvfSql),
    "q_knn_label" -> Gated(knnLabel(_, _), knnLabelSql),
    "q_ann_recall" -> Gated(annRecall(_, _), annRecallSql),
    "q_ann_pq" -> Gated(annPq(_, _), annPqSql),
    "q_ann_pq_recall" -> Gated(annPqRecall(_, _), annPqRecallSql))
}

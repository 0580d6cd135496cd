package graft.queries

import graft.Tables
import graft.ops.VectorOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked embedding-column operators (SURVEY §2.3): L2
  * normalization, int8 quantization, nearest-centroid assignment — each
  * a map-side transform whose fixed-point formulation is bit-identical
  * across engines (see [[graft.ops.VectorOps]]). */
object Vectors {

  /** L2-normalize every embedding (SURVEY L19). */
  def qVecNorm(s: SparkSession, dir: String): DataFrame =
    VectorOps.l2Normalize(Tables.embeddings(s, dir), "vec_id", "embedding")

  /** Int8 symmetric quantization of every embedding (SURVEY L20). */
  def qVecQuantize(s: SparkSession, dir: String): DataFrame =
    VectorOps.quantizeInt8(Tables.embeddings(s, dir), "vec_id", "embedding")

  /** Assign every embedding to its nearest of 8 fixed centroids (the
    * embeddings of vec_id 0..7) by cosine — the k-means E-step /
    * cluster-labeling pattern with broadcast centroids (SURVEY L21). */
  def qVecAssign(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    VectorOps.assignNearestCentroid(e, "vec_id", "embedding", cents, "cid", "cvec")
  }

  /** Full k-means (Lloyd) over the embeddings table (SURVEY L38):
    * farthest-point seeding, 4 iterations, k=8 — per-cell membership
    * profile of the converged model. Rows-only by design (the oracle
    * cannot express an iterative Lloyd run in one SQL statement); the
    * ground-truth contract lives in `KmeansSpec` (planted clusters
    * recovered with purity 1.0, bit-identical model under any
    * partitioning). */
  def qKmeans(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val model = VectorOps.kmeans(e, "vec_id", "embedding", k = 8, maxIters = 4)
    VectorOps.kmeansAssign(e, "vec_id", "embedding", model.centroids)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"))
  }

  /** PQ encode, exact fixed-point form (the ORACLE gate of L39's
    * encode math): codebooks = the subspace slices of embeddings
    * vec_id < 8 (m=2 subspaces of 32 dims), assignment = argmin of
    * EXACT integer squared distance on the round(v·1e7) fixed-point
    * view — integer sums make the argmin engine-exact, so the codes
    * hash-match DuckDB. The production encoder (codegen'd double
    * argmax, [[graft.ops.Pq.encode]]) is gated by `PqSpec`; this query
    * pins the assignment RULE itself. */
  def qPqEncode(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("pos"),
        round(col("v").cast("double") * 1e7).cast("long").as("vi"))
    val c = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("pos").as("pos"), col("vi").as("ci"))
    val d = e.join(c, "pos")
      .groupBy(col("vec_id"), floor(col("pos") / 32.0).cast("int").as("sub"), col("cid"))
      .agg(sum((col("vi") - col("ci")) * (col("vi") - col("ci"))).as("d2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"), col("sub")).orderBy(col("d2"), col("cid"))
    d.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("sub"), col("cid").cast("long").as("code"))
  }

  // COMMITTED index catalog per (session, dir) — r17: train
  // (m=8 × Lloyd) + encode happen once and land as TABLE SIDECARS
  // ([[graft.meta.VectorIndex]]: model JSON + per-commit codes parquet,
  // refs on every FileMeta), so the benched path is SEARCH OVER THE
  // COMMITTED INDEX — what a fresh session or another node would run,
  // with no session-memo retrain. The fixture here only avoids
  // re-COMMITTING per call; the search reads nothing from it but the root.
  private[queries] def pqCatFor(s: SparkSession, dir: String): graft.meta.SnapshotCatalog =
    Fixtures.rooted("pqidx", (s, dir)) { root =>
      val cat = new graft.meta.SnapshotCatalog(root)
      graft.sinks.Writers.writeSnapshot(cat, "embeddings",
        Tables.embeddings(s, dir), s"$root/data")
      graft.meta.VectorIndex.indexVectors(s, cat, "embeddings", "vec_id", "embedding",
        m = 8, k = 16, nCells = 32, maxIters = 4)
      cat
    }

  private def queryVecs(s: SparkSession, dir: String): Seq[(String, Seq[Double])] =
    Tables.embeddings(s, dir).filter(col("vec_id") < 10)
      .select(col("vec_id").cast("string"), col("embedding")).collect()
      .map(r => (r.getString(0), r.getSeq[Float](1).map(_.toDouble).toSeq)).toSeq

  /** ADC search over the COMMITTED PQ code sidecars (SURVEY L39's
    * serving path — rows-only; recall + distance-ordering contracts in
    * PqSpec, lifecycle contracts in VectorIndexSpec): 10 queries ×
    * corpus at 8 bytes/vector, distances are table lookups, never a
    * float vector read, and the model/codes come from the snapshot —
    * not from session state. */
  def qPqSearch(s: SparkSession, dir: String): DataFrame =
    graft.meta.VectorIndex.search(s, pqCatFor(s, dir), "embeddings",
      queryVecs(s, dir), k = 5, nProbe = None, excludeSelf = true)
      .select(col("query_id"), col("nn_id"), col("rk"))

  /** IVF-PQ composed search over the COMMITTED index (SURVEY §2.3
    * L39's deployed form — rows-only; recall contract in PqSpec):
    * nProbe cells bound WHICH codes are scored, PQ bounds the bytes
    * per score — the query plan that still works when neither the
    * vectors nor the full code table fits a scan budget. Cells and
    * codes both ride the committed sidecars. */
  def qAnnIvfPq(s: SparkSession, dir: String): DataFrame =
    graft.meta.VectorIndex.search(s, pqCatFor(s, dir), "embeddings",
      queryVecs(s, dir), k = 5, nProbe = Some(4), excludeSelf = true)
      .select(col("query_id"), col("nn_id"), col("rk"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_vec_norm" -> (qVecNorm _),
    "q_vec_quantize" -> (qVecQuantize _),
    "q_kmeans" -> (qKmeans _),
    "q_pq_encode" -> (qPqEncode _),
    "q_pq_search" -> (qPqSearch _),
    "q_ann_ivfpq" -> (qAnnIvfPq _),
    "q_vec_assign" -> (qVecAssign _))

  /** Fixed-point unnested view shared by the oracles: one row per
    * (vec_id, pos) with the component as round(v·1e7) BIGINT. */
  private val fixedE =
    """SELECT vec_id,
      |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
      |    CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 10000000) AS BIGINT) AS vi
      |  FROM embeddings""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_vec_norm" ->
      s"""WITH e AS ($fixedE),
         |n AS (SELECT vec_id, SUM(vi * vi) AS ss FROM e GROUP BY 1)
         |SELECT e.vec_id, e.pos, ROUND(e.vi / SQRT(n.ss), 6) AS nv
         |FROM e JOIN n USING (vec_id)""".stripMargin,
    "q_vec_quantize" ->
      """WITH v AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
        |  FROM embeddings)
        |SELECT vec_id,
        |  CAST(generate_subscripts(emb, 1) - 1 AS INT) AS pos,
        |  CAST(ROUND(unnest(emb) / scale * 127.0) AS INT) AS q,
        |  ROUND(scale, 6) AS scale6
        |FROM v""".stripMargin,
    "q_pq_encode" ->
      s"""WITH e AS ($fixedE),
         |c AS (SELECT vec_id AS cid, pos, vi AS ci FROM e WHERE vec_id < 8),
         |d AS (
         |  SELECT e.vec_id, CAST(FLOOR(e.pos / 32.0) AS INT) AS sub, c.cid,
         |    SUM((e.vi - c.ci) * (e.vi - c.ci)) AS d2
         |  FROM e JOIN c USING (pos) GROUP BY 1, 2, 3),
         |r AS (
         |  SELECT vec_id, sub, cid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
         |  FROM d)
         |SELECT vec_id, sub, CAST(cid AS BIGINT) AS code FROM r WHERE rn = 1""".stripMargin,
    "q_vec_assign" ->
      s"""WITH e AS ($fixedE),
         |c AS (SELECT vec_id AS cid, pos, vi AS ci FROM e WHERE vec_id < 8),
         |vv AS (SELECT vec_id, SUM(vi * vi) AS vv FROM e GROUP BY 1),
         |cc AS (SELECT cid, SUM(ci * ci) AS cc FROM c GROUP BY 1),
         |d AS (
         |  SELECT e.vec_id, c.cid, SUM(e.vi * c.ci) AS dot
         |  FROM e JOIN c USING (pos) GROUP BY 1, 2),
         |s AS (
         |  SELECT d.vec_id, d.cid,
         |    d.dot / (SQRT(vv.vv) * SQRT(cc.cc)) AS sim_raw,
         |    ROW_NUMBER() OVER (PARTITION BY d.vec_id
         |      ORDER BY d.dot / (SQRT(vv.vv) * SQRT(cc.cc)) DESC, d.cid) AS rn
         |  FROM d JOIN vv USING (vec_id) JOIN cc USING (cid))
         |SELECT vec_id, cid, ROUND(sim_raw, 6) AS sim FROM s WHERE rn = 1""".stripMargin)
}

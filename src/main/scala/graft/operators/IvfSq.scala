package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF-SQ — the composed billion-vector index tier (FAISS `IVF…,SQ8`):
  * [[Ann.Ivf]]'s k-means coarse quantizer prunes the scan to `nprobe`
  * inverted lists, and the vectors inside each list are stored as SQ8
  * codes of their RESIDUAL (v − centroid). The centroid absorbs the
  * coarse location of the cluster, so the residual occupies a far
  * tighter per-dimension range than the raw vector — the same byte
  * budget as raw SQ8 (q128) buys visibly less quantization error, which
  * is exactly why composed indexes are the large-scale default over
  * either tier alone.
  *
  * All arithmetic stays in the exact e6 integer space of the ANN stack:
  * the IVF fit is the replayable deterministic k-means
  * ([[Ann.Ivf.fit]]), residuals are integer subtractions against
  * broadcast-as-literal centroids, the residual bounds fit is one
  * per-dimension min/max aggregate (d rows to the driver), and search
  * ranks by integer squared distance of (centroid + dequantized
  * residual) against the exact query — so a SQL oracle replays BOTH
  * fits and the full search end to end (q138).
  *
  * Scale shape: [[index]] materializes (cid, codes) — the table a store
  * writes; scans read the int8 codes plus one small int, floats only
  * for the ≤ pool re-scored rows; assignment/quantize/distance are
  * per-row array algebra (no join, no shuffle); the probe prune is a
  * partition-prunable equality filter when the table is written
  * partitioned by cid (the inverted-list layout).
  */
object IvfSq {

  final class Model(val ivf: Ann.Ivf, val sq: Sq.Model)
      extends Serializable

  /** The centroids as ONE literal (see [[Sq.litArr]]). */
  private[operators] def centsLit(ivf: Ann.Ivf): Column =
    typedlit(ivf.centroidsE6)

  /** Residual in e6 space: e6(v) − centroid(cid), per dimension. */
  private def residualE6(vecCol: Column, cidCol: Column,
      ivf: Ann.Ivf): Column =
    zip_with(Sq.e6(vecCol), element_at(centsLit(ivf), cidCol + 1),
      (x, c) => x - c)

  /** Fit = IVF centroids (deterministic sampled k-means) + per-dimension
    * residual bounds over the full corpus (one aggregate, d rows).
    */
  def fit(df: DataFrame, idCol: String, vecCol: String, kCentroids: Int,
      dim: Int, sampleCap: Int = 4096, rounds: Int = 3): Model = {
    val ivf = Ann.Ivf.fit(df, idCol, vecCol, kCentroids, sampleCap, rounds)
    val rows = graft.SparkUtil.ensureParallelism(df)
      .select(posexplode(residualE6(col(vecCol),
        ivf.assignCol(col(vecCol)), ivf)).as(Seq("d", "x")))
      .groupBy(col("d"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect()
    require(rows.length == dim,
      s"IVF-SQ fit saw ${rows.length} dimensions, expected $dim")
    val mn = new Array[Long](dim)
    val mx = new Array[Long](dim)
    rows.foreach { r =>
      mn(r.getInt(0)) = r.getLong(1); mx(r.getInt(0)) = r.getLong(2)
    }
    new Model(ivf, new Sq.Model(mn, mx))
  }

  /** Materialize (cid, residual codes) — write THIS table (partitioned
    * by cidCol for inverted-list partition pruning at scale).
    */
  def index(df: DataFrame, vecCol: String, m: Model,
      cidCol: String = "ivf_cid", codeCol: String = "sq_code"): DataFrame =
    df.withColumn(cidCol, m.ivf.assignCol(col(vecCol)))
      .withColumn(codeCol,
        Sq.quantizeE6Col(residualE6(col(vecCol), col(cidCol), m.ivf),
          m.sq))

  def search(df: DataFrame, idCol: String, vecCol: String, m: Model,
      q: Array[Float], k: Int, nprobe: Int = 2, pool: Int = 50): DataFrame =
    searchIndexed(index(df, vecCol, m), idCol, vecCol, "ivf_cid",
      "sq_code", m, q, k, nprobe, pool)

  /** Serve a search from a PERSISTED codes table (the `_index` sidecar
    * shape [[graft.store.VectorStore.buildIndex]] writes): `codes`
    * carries only (idCol, cidCol, codeCol) — int8 codes plus a small
    * int per row, the scan a 100 TB serving path wants — and the float
    * vectors are joined back from `chunks` for the exact re-score of
    * the ≤ `pool` survivors only. Ranking, tiebreaks and output are
    * EXACTLY [[searchIndexed]]'s (pool by integer approximate d², k by
    * exact integer d², both keyed ascending), so a sidecar built over
    * the same rows returns the identical id set.
    */
  def searchCodes(codes: DataFrame, chunks: DataFrame, idCol: String,
      vecCol: String, cidCol: String, codeCol: String, m: Model,
      q: Array[Float], k: Int, nprobe: Int = 2, pool: Int = 50): DataFrame = {
    val qE6 = q.map(x => math.floor(x.toDouble * 1e6).toLong)
    val probes = m.ivf.probeCentroids(q, nprobe)
    val pruned = codes.filter(Ann.isInLit(col(cidCol), probes))
    val approx = zip_with(element_at(centsLit(m.ivf), col(cidCol) + 1),
      Sq.dequantCol(col(codeCol), m.sq), (c, r) => c + r)
    val poolIds = pruned
      .select(col(idCol), Sq.sqDistToLit(approx, qE6).as("d2q_e12"))
      .orderBy(col("d2q_e12"), col(idCol))
      .limit(pool)
    chunks.select(col(idCol), col(vecCol))
      .join(broadcast(poolIds), Seq(idCol))
      .select(col(idCol), col("d2q_e12"),
        Sq.sqDistToLit(Sq.e6(col(vecCol)), qE6).as("d2_e12"))
      .orderBy(col("d2_e12"), col(idCol))
      .limit(k)
  }

  /** SET-ORIENTED [[searchCodes]]: ALL queries of a batch answered in
    * ONE plan — one probe join over the codes table, one pool rank, one
    * exact re-score — instead of a driver action per query. Per query
    * the candidate set, ranking, tie-breaks and output rows are EXACTLY
    * [[searchCodes]]'s (the per-query `limit` becomes a row_number
    * window over the same (distance, id) order; the probe prune becomes
    * a broadcast equality join on the same driver-computed probe list),
    * so `searchCodesAll(qs)` row-equals `qs.map(searchCodes)` — the
    * batched-serving contract BatchedSearchSpec pins. This is the
    * 100 TB serving shape: a query BATCH amortizes the codes scan, and
    * the only per-query state shipped to executors is (id, probe cids,
    * e6 query vector) — a broadcast of the batch itself.
    *
    * Returns (query_id, idCol, d2q_e12, d2_e12), per-query top-`k` by
    * (d2_e12, idCol), ordered (query_id, d2_e12, idCol).
    */
  def searchCodesAll(codes: DataFrame, chunks: DataFrame, idCol: String,
      vecCol: String, cidCol: String, codeCol: String, m: Model,
      queries: Seq[(Long, Array[Float])], k: Int, nprobe: Int = 2,
      pool: Int = 50): DataFrame = {
    require(queries.nonEmpty, "searchCodesAll needs at least one query")
    val spark = codes.sparkSession
    import spark.implicits._
    val probesDf = broadcast(queries.flatMap { case (qid, q) =>
      m.ivf.probeCentroids(q, nprobe).map(c => (qid, c))
    }.toDF("query_id", cidCol))
    val qE6Df = broadcast(queries.map { case (qid, q) =>
      (qid, q.map(x => math.floor(x.toDouble * 1e6).toLong))
    }.toDF("query_id", "__qe6"))
    val approx = zip_with(element_at(centsLit(m.ivf), col(cidCol) + 1),
      Sq.dequantCol(col(codeCol), m.sq), (c, r) => c + r)
    val wq = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
    // 100 TB shape (r21): the probe prune bounds WHICH lists are read,
    // but an inverted list is still O(corpus / kCentroids) rows, so a
    // bare per-query row_number would funnel every candidate row of a
    // query into one task (a full per-list sort per query). Bound the
    // window input first with a per-(scan partition, query) local
    // top-pool — ≤ pool × partitions rows per query reach the global
    // ranking; any partitioning yields the same global pool.
    val wl = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id", "__p")
    val poolIds = codes.join(probesDf, Seq(cidCol))
      .join(qE6Df, Seq("query_id"))
      .select(col("query_id"), col(idCol),
        Sq.sqDistCols(approx, col("__qe6")).as("d2q_e12"))
      .withColumn("__p", spark_partition_id())
      .withColumn("__lrn", row_number().over(
        wl.orderBy(col("d2q_e12"), col(idCol))))
      .filter(col("__lrn") <= pool)
      .withColumn("__rn", row_number().over(
        wq.orderBy(col("d2q_e12"), col(idCol))))
      .filter(col("__rn") <= pool)
      .select(col("query_id"), col(idCol), col("d2q_e12"))
    chunks.select(col(idCol), col(vecCol))
      .join(broadcast(poolIds), Seq(idCol))
      .join(qE6Df, Seq("query_id"))
      .select(col("query_id"), col(idCol), col("d2q_e12"),
        Sq.sqDistCols(Sq.e6(col(vecCol)), col("__qe6")).as("d2_e12"))
      .withColumn("__rn", row_number().over(
        wq.orderBy(col("d2_e12"), col(idCol))))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col(idCol), col("d2q_e12"), col("d2_e12"))
      .orderBy(col("query_id"), col("d2_e12"), col(idCol))
  }

  /** Probe-pruned asymmetric search over an [[index]]ed table: scan only
    * the `nprobe` nearest inverted lists, rank by integer squared L2 of
    * (centroid + dequantized residual) vs the exact query, then exact
    * e6 re-score of the ≤ `pool` best. Output: idCol, d2q_e12, d2_e12,
    * ordered by (d2_e12, idCol).
    */
  def searchIndexed(indexed: DataFrame, idCol: String, vecCol: String,
      cidCol: String, codeCol: String, m: Model, q: Array[Float], k: Int,
      nprobe: Int = 2, pool: Int = 50): DataFrame = {
    val qE6 = q.map(x => math.floor(x.toDouble * 1e6).toLong)
    val probes = m.ivf.probeCentroids(q, nprobe)
    val pruned = indexed.filter(col(cidCol).isin(probes: _*))
    val approx = zip_with(element_at(centsLit(m.ivf), col(cidCol) + 1),
      Sq.dequantCol(col(codeCol), m.sq), (c, r) => c + r)
    val poolIds = pruned
      .select(col(idCol), Sq.sqDistToLit(approx, qE6).as("d2q_e12"))
      .orderBy(col("d2q_e12"), col(idCol))
      .limit(pool)
    pruned.select(col(idCol), col(vecCol))
      .join(broadcast(poolIds), Seq(idCol))
      .select(col(idCol), col("d2q_e12"),
        Sq.sqDistToLit(Sq.e6(col(vecCol)), qE6).as("d2_e12"))
      .orderBy(col("d2_e12"), col(idCol))
      .limit(k)
  }
}

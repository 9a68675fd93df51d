package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SQ8 — int8 scalar quantization for embedding columns, the third
  * compression tier of the similarity stack: brute force reads floats
  * (q21), IVF prunes partitions (q49), PQ compresses 32× with codebooks
  * (q72); SQ8 compresses 4× (one byte per dimension) with NO codebook
  * and near-lossless recall — the tier real vector stores default to
  * (FAISS `SQ8`, Lucene/HNSW scalar quantization).
  *
  * Everything lives in the e6 fixed-point integer space the ANN stack
  * already uses ([[Ann.Ivf]]): per-dimension corpus bounds `mn/mx` over
  * `floor(x·1e6)` longs, code = ((x−mn)·255) div range ∈ [0,255],
  * dequantized x̂ = mn + (code·range) div 255. All arithmetic is exact
  * integer, so quantization, distances, and ranking replay bit-for-bit
  * in a SQL oracle — no float percentile, no rounding boundary.
  *
  * Scale shape (billions of vectors): the fit is ONE map-side-combinable
  * per-dimension min/max aggregate (d rows to the driver — bounded, like
  * the centroid/codebook fits); quantize/dequantize/distance are per-row
  * array algebra over broadcast-as-literal bound arrays (no join, no
  * shuffle); search is quantized-space TakeOrdered into a `pool`, then
  * an exact e6 re-score of the pool only. Store the [[index]]ed table
  * (codes materialized once at write time) and [[searchIndexed]] ranks
  * on the 4×-smaller code column, reading floats only for the pool
  * re-score; the convenience [[search]] over a raw float table
  * quantizes on read (one pass, but the scan still reads floats).
  */
object Sq {

  /** Per-dimension e6 bounds; `range` is clamped to ≥ 1 so constant
    * dimensions quantize to 0 and dequantize back to `mn` exactly.
    */
  final class Model(val mnE6: Array[Long], val mxE6: Array[Long])
      extends Serializable {
    val rangeE6: Array[Long] =
      mnE6.indices.map(d => math.max(mxE6(d) - mnE6(d), 1L)).toArray
    def dim: Int = mnE6.length
  }

  private[operators] def e6(vecCol: Column): Column =
    transform(vecCol, x => floor(x.cast("double") * 1e6).cast("long"))

  /** Exact non-negative integer division as a Column: (a − a mod b) / b.
    * A bare double `/` + cast can round up across the integer boundary
    * when the quotient is large; subtracting the remainder first makes
    * the division exact (the result is a representable integer).
    */
  private[operators] def intDiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")

  /** One per-dimension min/max pass over the e6-quantized corpus. */
  def fit(df: DataFrame, vecCol: String, dim: Int): Model = {
    val rows = graft.SparkUtil.ensureParallelism(df)
      .select(posexplode(e6(col(vecCol))).as(Seq("d", "x")))
      .groupBy(col("d"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect()
    require(rows.length == dim,
      s"SQ8 fit saw ${rows.length} dimensions, expected $dim")
    val mn = new Array[Long](dim)
    val mx = new Array[Long](dim)
    rows.foreach { r =>
      mn(r.getInt(0)) = r.getLong(1); mx(r.getInt(0)) = r.getLong(2)
    }
    new Model(mn, mx)
  }

  /** A constant long array as ONE literal. An `array(lit…)` tree folds
    * to the same value, but the driver first analyses and optimizes one
    * node per element, on every query that builds it.
    */
  private[operators] def litArr(a: Array[Long]): Column = typedlit(a)

  /** int8 codes (as ints 0..255): ((x − mn) · 255) div range, per dim. */
  def quantizeCol(vecCol: Column, m: Model): Column =
    quantizeE6Col(e6(vecCol), m)

  /** [[quantizeCol]] over an already-e6 long array (IvfSq quantizes
    * RESIDUALS, which are born in e6 space).
    */
  private[operators] def quantizeE6Col(vecE6: Column, m: Model): Column = {
    val diff = zip_with(vecE6, litArr(m.mnE6), (x, mn) => x - mn)
    zip_with(diff, litArr(m.rangeE6),
      (df, rg) => intDiv(df * 255L, rg).cast("int"))
  }

  /** Dequantized e6 components: mn + (code · range) div 255, per dim. */
  def dequantCol(codeCol: Column, m: Model): Column = {
    val scaled = zip_with(codeCol, litArr(m.rangeE6),
      (c, rg) => intDiv(c.cast("long") * rg, lit(255L)))
    zip_with(scaled, litArr(m.mnE6), (s, mn) => s + mn)
  }

  private[operators] def sqDistToLit(vecE6: Column, q: Array[Long]): Column =
    aggregate(zip_with(vecE6, litArr(q), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, x) => acc + x)

  /** [[sqDistToLit]] with the query as a COLUMN (array<long>) — the
    * set-oriented search path carries one query vector per row (joined
    * from a broadcast query batch) instead of folding a literal into
    * the plan. Identical integer arithmetic, same element-order fold.
    */
  private[operators] def sqDistCols(vecE6: Column, qE6: Column): Column =
    aggregate(zip_with(vecE6, qE6, (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, x) => acc + x)

  /** Asymmetric SQ8 search: rank the whole corpus by exact-query ×
    * dequantized-corpus squared L2 (integer), TakeOrdered the best
    * `pool`, re-score those exactly in e6, return the top `k`.
    * Output: idCol, d2q_e12 (quantized-space), d2_e12 (exact), ordered
    * by (d2_e12, idCol).
    */
  def search(df: DataFrame, idCol: String, vecCol: String, m: Model,
      q: Array[Float], k: Int, pool: Int = 50): DataFrame =
    searchIndexed(index(df, vecCol, m), idCol, vecCol, "sq_code", m, q,
      k, pool)

  /** Materialize the int8 code column — write THIS table to storage:
    * the code column is the 4×-smaller scan [[searchIndexed]] ranks on
    * (floats stay for the exact pool re-score only).
    */
  def index(df: DataFrame, vecCol: String, m: Model,
      codeCol: String = "sq_code"): DataFrame =
    df.withColumn(codeCol, quantizeCol(col(vecCol), m))

  /** Search over an [[index]]ed table: quantized-space ranking reads
    * only `codeCol`; `vecCol` floats are read for the ≤ `pool`
    * broadcast-joined re-score rows.
    */
  def searchIndexed(indexed: DataFrame, idCol: String, vecCol: String,
      codeCol: String, m: Model, q: Array[Float], k: Int,
      pool: Int = 50): DataFrame = {
    val qE6 = Ann.Ivf.quantizeE6(q)
    val xhat = dequantCol(col(codeCol), m)
    val poolIds = indexed
      .select(col(idCol), sqDistToLit(xhat, qE6).as("d2q_e12"))
      .orderBy(col("d2q_e12"), col(idCol))
      .limit(pool)
    indexed.select(col(idCol), col(vecCol))
      .join(broadcast(poolIds), Seq(idCol))
      .select(col(idCol), col("d2q_e12"),
        sqDistToLit(e6(col(vecCol)), qE6).as("d2_e12"))
      .orderBy(col("d2_e12"), col(idCol))
      .limit(k)
  }
}

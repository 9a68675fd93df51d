package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** IVF-SQ composed-index semantics (q138's operator): the residual
  * model's whole point — tighter quantization range than raw SQ8 at the
  * same byte budget — plus exactness of the full-probe path and the
  * stored-index round trip. The DuckDB oracle certifies the integer
  * arithmetic engine-for-engine; these pin the numerics and the claim.
  */
class IvfSqSpec extends SparkSpec {

  private lazy val emb =
    Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
  private lazy val q = emb.filter(col("vec_id") === 0)
    .select("embedding").head().getSeq[Float](0).toArray
  private lazy val corpus = emb.filter(col("vec_id") =!= 0)
  private lazy val m =
    IvfSq.fit(corpus, "vec_id", "embedding", kCentroids = 8, dim = 64)

  test("residual ranges are tighter than raw SQ8 ranges (the point of IVF-SQ)") {
    val raw = Sq.fit(corpus, "embedding", 64)
    val rawSpan = raw.rangeE6.map(BigInt(_)).sum
    val resSpan = m.sq.rangeE6.map(BigInt(_)).sum
    assert(resSpan < rawSpan,
      s"residual total range $resSpan not tighter than raw $rawSpan")
  }

  test("full probe + corpus-wide pool reproduces the exact e6 top-5") {
    val n = corpus.count().toInt
    val got = IvfSq.search(corpus, "vec_id", "embedding", m, q, k = 5,
        nprobe = 8, pool = n)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    val qE6 = q.map(x => math.floor(x.toDouble * 1e6).toLong)
    val exact = corpus.select(col("vec_id"), col("embedding")).collect()
      .map { r =>
        val v = r.getSeq[Float](1)
          .map(x => math.floor(x.toDouble * 1e6).toLong)
        (r.getLong(0),
          v.indices.map { i => val d = v(i) - qE6(i); d * d }.sum)
      }
      .sortBy { case (id, d2) => (d2, id) }.take(5).toSeq
    assert(got == exact)
  }

  test("searchIndexed over a parquet round-trip = search over floats") {
    val dir = java.nio.file.Files.createTempDirectory("ivfsq").toString
    IvfSq.index(corpus, "embedding", m).write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    val viaStored = IvfSq.searchIndexed(stored, "vec_id", "embedding",
      "ivf_cid", "sq_code", m, q, k = 5).collect().map(_.toSeq).toSeq
    val viaFloats = IvfSq.search(corpus, "vec_id", "embedding", m, q,
      k = 5).collect().map(_.toSeq).toSeq
    assert(viaStored == viaFloats)
  }

  test("centsLit is one literal holding the values of the nested " +
      "array(lit…) form") {
    val folded = IvfSq.centsLit(m.ivf)
    val nodes = spark.range(1).select(folded).queryExecution.analyzed
      .expressions.flatMap(_.collect {
        case l: org.apache.spark.sql.catalyst.expressions.Literal => l })
    assert(nodes.size == 1, s"one literal expected, got $nodes")
    val tree = array(m.ivf.centroidsE6.map(c => array(c.map(lit): _*)): _*)
    val r = spark.range(1).select(folded, tree).head()
    val got = r.getSeq[scala.collection.Seq[Long]](0)
    assert(got == r.getSeq[scala.collection.Seq[Long]](1))
    assert(got.map(_.toSeq) == m.ivf.centroidsE6.map(_.toSeq).toSeq)
  }
}

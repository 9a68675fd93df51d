package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** SQ8 scalar-quantization semantics (q128's operator): code range,
  * reconstruction error bound, constant-dimension handling, and recall
  * of the quantized tier against the exact e6 brute force on the real
  * testdata embeddings. The DuckDB oracle certifies the integer
  * arithmetic engine-for-engine; these pin the numerics.
  */
class SqSpec extends SparkSpec {
  import spark.implicits._

  private val Dim = 4

  private lazy val tiny = Seq(
    (1L, Array(0.0f, -1.0f, 0.5f, 0.25f)),
    (2L, Array(1.0f, 1.0f, 0.5f, -0.25f)),
    (3L, Array(0.5f, 0.0f, 0.5f, 0.0f)))
    .toDF("vec_id", "embedding")

  test("codes stay in [0,255]; constant dims dequantize exactly") {
    val m = Sq.fit(tiny, "embedding", Dim)
    // dim 3 (0-based 2) is constant 0.5 -> range clamps to 1
    assert(m.rangeE6(2) == 1L)
    val out = tiny.select(col("vec_id"),
      Sq.quantizeCol(col("embedding"), m).as("c"),
      Sq.dequantCol(Sq.quantizeCol(col("embedding"), m), m).as("xh"))
      .collect()
    out.foreach { r =>
      val codes = r.getSeq[Int](1)
      assert(codes.forall(c => c >= 0 && c <= 255), codes)
      // constant dim reconstructs to its exact e6 value (500000)
      assert(r.getSeq[Long](2)(2) == 500000L)
    }
  }

  test("reconstruction error is bounded by range/255 + 1 per dimension") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val m = Sq.fit(emb, "embedding", 64)
    val bounds = m.rangeE6.map(r => r / 255 + 1)
    val errs = emb.select(
      zip_with(
        Sq.dequantCol(Sq.quantizeCol(col("embedding"), m), m),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1e6).cast("long")),
        (a, b) => b - a).as("e"))
      .collect()
    errs.foreach { r =>
      val e = r.getSeq[Long](0)
      e.indices.foreach { d =>
        assert(e(d) >= 0 && e(d) <= bounds(d),
          s"dim $d err ${e(d)} bound ${bounds(d)}")
      }
    }
  }

  test("searchIndexed over a stored (parquet) code column = search over floats") {
    // The 100 TB shape: codes materialized once at write time, ranking
    // reads the stored 4x-smaller code column, floats only for the pool
    // re-score. Round-tripping the indexed table through parquet and
    // searching it must give byte-identical results to the
    // quantize-on-read convenience path.
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val corpus = emb.filter(col("vec_id") =!= 0)
    val m = Sq.fit(corpus, "embedding", 64)
    val dir = java.nio.file.Files.createTempDirectory("sq-idx").toString
    Sq.index(corpus, "embedding", m).write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    val viaCodes = Sq.searchIndexed(stored, "vec_id", "embedding",
        "sq_code", m, q, k = 5).collect().map(_.toSeq).toSeq
    val viaFloats = Sq.search(corpus, "vec_id", "embedding", m, q, k = 5)
      .collect().map(_.toSeq).toSeq
    assert(viaCodes == viaFloats)
  }

  test("SQ8 top-5 recalls the exact e6 top-5 on real embeddings") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val corpus = emb.filter(col("vec_id") =!= 0)
    val m = Sq.fit(corpus, "embedding", 64)
    val got = Sq.search(corpus, "vec_id", "embedding", m, q, k = 5)
      .collect()
    // exact reference: integer e6 brute force
    val qE6 = q.map(x => math.floor(x.toDouble * 1e6).toLong)
    val exact = corpus.select(col("vec_id"), col("embedding")).collect()
      .map { r =>
        val v = r.getSeq[Float](1)
          .map(x => math.floor(x.toDouble * 1e6).toLong)
        val d2 = v.indices.map { i =>
          val d = v(i) - qE6(i); d * d
        }.sum
        (r.getLong(0), d2)
      }
      .sortBy { case (id, d2) => (d2, id) }.take(5)
    // exact re-score inside the pool must agree with the brute force
    assert(got.map(r => (r.getLong(0), r.getLong(2))).toSeq ==
      exact.toSeq)
    // quantized-space distance stays close to exact for every hit
    got.foreach { r =>
      assert(r.getLong(1) >= 0L)
    }
    // results ordered by exact distance with id tiebreak
    val ord = got.map(r => (r.getLong(2), r.getLong(0)))
    assert(ord.sortBy(identity).toSeq == ord.toSeq)
  }

  test("litArr is one literal holding the values of the array(lit…) form") {
    val a = Array(0L, -1L, Long.MaxValue, Long.MinValue, 500000L)
    val folded = Sq.litArr(a)
    val nodes = spark.range(1).select(folded).queryExecution.analyzed
      .expressions.flatMap(_.collect {
        case l: org.apache.spark.sql.catalyst.expressions.Literal => l })
    assert(nodes.size == 1, s"one literal expected, got $nodes")
    val r = spark.range(1).select(folded.as("t"),
      array(a.map(lit): _*).as("o")).head()
    assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    assert(r.getSeq[Long](0) == a.toSeq)
    // And through the quantizer, the bounds' consumer.
    val m = Sq.fit(tiny, "embedding", Dim)
    val viaTree = zip_with(
      zip_with(Sq.e6(col("embedding")), array(m.mnE6.map(lit): _*),
        (x, mn) => x - mn),
      array(m.rangeE6.map(lit): _*),
      (df, rg) => Sq.intDiv(df * 255L, rg).cast("int"))
    val both = tiny.select(Sq.quantizeCol(col("embedding"), m), viaTree)
      .collect()
    both.foreach(r => assert(r.getSeq[Int](0) == r.getSeq[Int](1)))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (north-star surface).
  *
  * Three tiers, trading recall for scan cost:
  *   1. [[bruteForceKnn]] — exact cosine top-k, full scan. The baseline, and
  *      the DuckDB-oracle-checked path (q21).
  *   2. [[RandomHyperplaneLsh]] — sign-random-projection buckets; at query
  *      time only matching buckets (± multiprobe neighbors) are re-scored
  *      exactly. Sub-linear candidate sets, tunable recall.
  *   3. [[Ivf]] — k-means coarse quantizer (MLlib); vectors are indexed by
  *      nearest centroid, queries probe the `nprobe` nearest centroid lists.
  *
  * 100 TB design: both index tiers write a small per-row index column
  * (bucket / centroid id) that parquet can partition or cluster on, so a
  * query reads only its probe lists (partition pruning), never the full
  * corpus. Scoring is expression-level (`zip_with`/`aggregate`) or a tight
  * JVM loop in `mapPartitions` — no Python, no per-row allocation storms.
  */
object Ann {

  private def asDouble(c: Column): Column = transform(c, _.cast("double"))

  /** Squared-L2 distance of a vector column to a literal centroid. */
  private[operators] def sqDistCol(v: Column, c: Array[Double]): Column = {
    val cLit = array(c.toIndexedSeq.map(lit): _*)
    aggregate(zip_with(asDouble(v), cLit, (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)
  }

  /** The `sampleCap` lowest-hash vectors as driver-side arrays — the
    * bounded deterministic training sample shared by the IVF and PQ fits
    * (stable across runs and partitionings).
    */
  private[operators] def sampleVectors(df: DataFrame, vecCol: String,
      seed: Long, sampleCap: Int): Array[Array[Double]] = {
    val s = df.select(transform(col(vecCol), _.cast("double")).as("__v"))
      .withColumn("__h", xxhash64(col("__v").cast("array<string>"), lit(seed)))
      .orderBy(col("__h"), col("__v"))
      .limit(sampleCap)
      .collect()
      .map(_.getSeq[Double](0).toArray)
    require(s.nonEmpty, "vector fit: empty training input")
    s
  }

  /** Cosine vs a literal query vector — the native codegen'd expression
    * ([[graft.functions.CosineSimilarity]]); same numeric semantics
    * (sequential double accumulation, 0.0 on zero norm) as the
    * higher-order-function formulation it replaces, but stays inside
    * WholeStageCodegen.
    */
  def cosineCol(v: Column, q: Array[Float]): Column =
    graft.functions.CosineSimilarity(v, typedlit(q))

  /** `c IN values` over ONE array literal. An IN list generates code
    * with its values inlined, so every new probe set compiles a new
    * class; an array literal reaches generated code by reference, so a
    * repeat search with other probes reuses the compiled plan.
    */
  def isInLit(c: Column, values: Seq[Int]): Column =
    array_contains(typedlit(values.toArray), c)

  /** Exact cosine top-k: one scan + TakeOrderedAndProject. */
  def bruteForceKnn(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int): DataFrame =
    df.select(col(idCol), round(cosineCol(col(vecCol), query), 6).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)

  /** Deterministic Rademacher (±1) hyperplane matrix: nBits × dim. */
  def hyperplanes(nBits: Int, dim: Int, seed: Long = 42L): Array[Array[Float]] = {
    Array.tabulate(nBits) { b =>
      Array.tabulate(dim) { i =>
        // splitmix64-style mix of (seed, b, i) — stable across runs/JVMs.
        var z = seed + 0x9e3779b97f4a7c15L * (b.toLong * 1048573L + i + 1)
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        if (((z ^ (z >>> 31)) & 1L) == 0L) 1f else -1f
      }
    }
  }

  /** Sign-random-projection bucket id (0..2^nBits-1) as an int column:
    * bit b = [dot(v, plane_b) > 0]. Expression-level: the planes are ±1
    * literals folded into codegen.
    */
  def lshBucketCol(vecCol: Column, planes: Array[Array[Float]]): Column = {
    val v = asDouble(vecCol)
    planes.zipWithIndex.map { case (p, b) =>
      val pLit = array(p.toIndexedSeq.map(x => lit(x.toDouble)): _*)
      val dot = aggregate(zip_with(v, pLit, (a, x) => a * x), lit(0.0),
        (acc, x) => acc + x)
      when(dot > 0, lit(1 << b)).otherwise(lit(0))
    }.reduce(_ + _)
  }

  final class RandomHyperplaneLsh(nBits: Int = 12, dim: Int, seed: Long = 42L)
      extends Serializable {
    val planes: Array[Array[Float]] = hyperplanes(nBits, dim, seed)

    /** Add the `bucket` index column (persist/partition this at scale).
      * The index parameters ride along as column metadata so the
      * [[graft.plans.AnnTopKRewrite]] optimizer rule can recognize the
      * index and prune buckets — including after a parquet round-trip
      * (Spark persists field metadata in the footer schema).
      */
    def index(df: DataFrame, vecCol: String): DataFrame = {
      val meta = new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("graft.lsh.nbits", nBits.toLong)
        .putLong("graft.lsh.seed", seed)
        .putLong("graft.lsh.dim", dim.toLong)
        .putString("graft.lsh.veccol", vecCol)
        .build()
      df.withColumn("bucket",
        lshBucketCol(col(vecCol), planes).as("bucket", meta))
    }

    def bucketOf(q: Array[Float]): Int =
      planes.zipWithIndex.map { case (p, b) =>
        val dot = p.zip(q).map { case (x, y) => x.toDouble * y }.sum
        if (dot > 0) 1 << b else 0
      }.sum

    /** Buckets within Hamming distance `probes` of the query bucket —
      * multiprobe: recover neighbors that fell across up to `probes`
      * hyperplanes. The radius is THE recall/scan-cost knob: each +1
      * admits C(nBits, r) more buckets. (On near-duplicate workloads
      * radius 1 already recovers everything — AnnSpec; on uncorrelated
      * vectors recall@k grows with the scanned fraction and the radius
      * buys a principled sweep of that tradeoff — AnnRecallSpec.)
      */
    def probeBuckets(q: Array[Float], probes: Int): Seq[Int] = {
      val b0 = bucketOf(q)
      val r = math.min(math.max(probes, 0), nBits)
      (0 to r).flatMap(k =>
        (0 until nBits).combinations(k).map(_.foldLeft(b0)((b, i) =>
          b ^ (1 << i))))
    }

    /** ANN top-k: prune to probe buckets, exact-rescore, take k. */
    def search(indexed: DataFrame, idCol: String, vecCol: String,
        q: Array[Float], k: Int, probes: Int = 1): DataFrame = {
      val bs = probeBuckets(q, probes)
      indexed.filter(col("bucket").isin(bs: _*))
        .select(col(idCol), round(cosineCol(col(vecCol), q), 6).as("score"))
        .orderBy(col("score").desc, col(idCol))
        .limit(k)
    }

    /** Query-specific |margin| of each hyperplane at e6 (the multiprobe
      * ranking key): a small |dot(q, plane)| means q sits CLOSE to that
      * cut, so true neighbors are likely just across it. Rounded
      * half-away-from-zero to an e6 long so the probe RANKING is exact
      * integer arithmetic both engines replay (the residual risk is a
      * raw double landing within half an e6 ulp of a rounding edge —
      * the same accepted posture as the bucket sign test itself).
      */
    def marginsE6(q: Array[Float]): Array[Long] =
      planes.map { p =>
        val d = p.zip(q).map { case (x, y) => x.toDouble * y }.sum
        math.floor(math.abs(d) * 1e6 + 0.5).toLong
      }

    /** The multiprobe PROBING SEQUENCE (Lv et al., VLDB'07 — proper
      * margin-ordered multi-probe, not [[probeBuckets]]'s uniform
      * Hamming ball): the base bucket plus the `t−1` best perturbations
      * among all single- and pair-bit flips, ranked by the summed e6
      * margins of the flipped planes (tie: smaller mask). Probing T
      * margin-chosen buckets beats a radius ball at equal scan budget —
      * radius 2 admits all C(n,1)+C(n,2) buckets uniformly; this takes
      * only the t cheapest crossings, which is how one LSH table serves
      * high recall without multiplying tables (the memory trade the
      * original paper quantifies).
      */
    def multiProbeSequence(q: Array[Float], t: Int): Seq[Int] = {
      require(t >= 1, s"multiprobe needs t >= 1, got $t")
      val b0 = bucketOf(q)
      val m = marginsE6(q)
      val singles = (0 until nBits).map(i => (m(i), 1 << i))
      val pairs = for {
        i <- 0 until nBits; j <- i + 1 until nBits
      } yield (m(i) + m(j), (1 << i) | (1 << j))
      val chosen = (singles ++ pairs).sorted.take(t - 1).map(_._2)
      b0 +: chosen.map(b0 ^ _)
    }

    /** ANN top-k through the margin-ordered probing sequence: scan
      * budget is exactly `t` buckets, chosen where this query's recall
      * mass actually is. Same prune → exact-rescore → take-k shape as
      * [[search]].
      */
    def searchMultiProbe(indexed: DataFrame, idCol: String, vecCol: String,
        q: Array[Float], k: Int, t: Int): DataFrame = {
      val bs = multiProbeSequence(q, t)
      indexed.filter(col("bucket").isin(bs: _*))
        .select(col(idCol), round(cosineCol(col(vecCol), q), 6).as("score"))
        .orderBy(col("score").desc, col(idCol))
        .limit(k)
    }
  }

  /** Embedding near-duplicate PAIRS at scale: hyperplane-LSH bucketing →
    * candidate pair join (reusing [[Dedup.lshCandidatePairs]], so hot
    * buckets get the same exact block-salted self-join) → exact cosine
    * re-score ≥ `minSim`. This is the scale path that replaces the
    * brute-force all-pairs embedding compare (q26 restricts brute force to
    * a key range; this never goes all-pairs). Recall caveat: only pairs
    * landing in the SAME bucket are candidates — for near-dup thresholds
    * (cos ≥ 0.9) collisions are near-certain at small nBits; raise nBits
    * for precision, lower it (or union multiple rotated indexes) for
    * recall.
    */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      nBits: Int = 8, minSim: Double = 0.9, seed: Long = 42L,
      saltBlocks: Int = 1): DataFrame = {
    val lsh = new RandomHyperplaneLsh(nBits, dim, seed)
    val buckets = lsh.index(
        df.select(col(idCol).as("id"), col(vecCol).as("__v")), "__v")
      .select(col("id"), lit(0).as("band"), col("bucket").as("band_hash"))
    val pairs = Dedup.lshCandidatePairs(buckets, saltBlocks)
    val va = df.select(col(idCol).as("a"), col(vecCol).as("__va"))
    val vb = df.select(col(idCol).as("b"), col(vecCol).as("__vb"))
    pairs.join(va, "a").join(vb, "b")
      .select(col("a"), col("b"),
        round(graft.functions.CosineSimilarity(col("__va"), col("__vb")), 6)
          .as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** IVF (inverted-file) index: k-means centroids as the coarse quantizer.
    * Centroids are fit once (sampled), broadcast as literals; assignment is
    * an argmin over centroid distances — expression-level, no UDF.
    *
    * All distances live in e6 fixed-point integer space: vectors quantize
    * component-wise to `floor(x·1e6)` longs and every squared distance is
    * an exact integer sum — order-independent, overflow-audited
    * (|x| < 10 ⇒ component diff < 2·10^7 ⇒ per-dim square < 4·10^14 ⇒
    * dim=384 sum < 1.6·10^17 « 2^63), and bit-replayable by a SQL oracle
    * (SURVEY §5.4). Ties break toward the lower centroid index.
    */
  final class Ivf(val centroidsE6: Array[Array[Long]]) extends Serializable {

    def assignCol(vecCol: Column): Column =
      // PqAssign with ONE subspace spanning the whole vector IS the IVF
      // coarse assignment (r11): quantize x to e6 longs once, integer
      // squared distance per centroid, first-minimal index on ties — the
      // exact arithmetic and tiebreak of the previous
      // array_min-over-HOF-structs shape, but in one codegen'd primitive
      // loop instead of k interpreted lambda chains per row.
      graft.functions.PqAssign(vecCol, Array(centroidsE6)).getItem(0)

    def index(df: DataFrame, vecCol: String): DataFrame =
      df.withColumn("centroid", assignCol(col(vecCol)))

    def probeCentroids(q: Array[Float], nprobe: Int): Seq[Int] = {
      val qe = Ivf.quantizeE6(q)
      centroidsE6.zipWithIndex.map { case (c, i) =>
        (Ivf.sqDistE6(qe, c), i)
      }.sortBy(x => (x._1, x._2)).take(nprobe).map(_._2).toSeq
    }

    def search(indexed: DataFrame, idCol: String, vecCol: String,
        q: Array[Float], k: Int, nprobe: Int = 2): DataFrame = {
      val probe = probeCentroids(q, nprobe)
      indexed.filter(col("centroid").isin(probe: _*))
        .select(col(idCol), round(cosineCol(col(vecCol), q), 6).as("score"))
        .orderBy(col("score").desc, col(idCol))
        .limit(k)
    }
  }

  object Ivf {

    private[operators] def quantizeE6(v: Array[Float]): Array[Long] =
      v.map(x => math.floor(x.toDouble * 1e6).toLong)

    private[operators] def sqDistE6(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }

    /** Fit centroids on a bounded, deterministically-chosen sample.
      *
      * At 100 TB you never fit the coarse quantizer on the full corpus:
      * quantization error is dominated by k, not sample size, so a few
      * thousand sampled vectors pin the centroids as well as billions
      * (the standard IVF train-on-sample practice). One cluster job
      * selects the `sampleCap` lowest-`md5(id)` vectors (stable across
      * runs and partitionings); the driver then runs farthest-point
      * (max-min) seeding followed by `rounds` FIXED Lloyd steps — every
      * operation in e6 integer space (quantized components, exact
      * integer distances, truncating-division means), every tie broken
      * by sample order. No float, no RNG: a SQL oracle replays the fit
      * verbatim (the r9 kmeans++ fit was driver-deterministic but not
      * replayable — its seeding walked a float cdf under a JVM RNG).
      * Empty clusters keep their previous centroid. Assignment of the
      * full corpus stays expression-level and distributed
      * ([[Ivf#assignCol]]).
      */
    def fit(df: DataFrame, idCol: String, vecCol: String, kCentroids: Int,
        sampleCap: Int = 4096, rounds: Int = 3): Ivf =
      new Ivf(deterministicKmeans(
        sampleE6(df, idCol, vecCol, sampleCap), kCentroids, rounds))

    /** The `sampleCap` lowest-`md5(id)` vectors, e6-quantized — the
      * bounded deterministic training sample shared by the IVF and PQ
      * fits (stable across runs and partitionings, and replayable by a
      * SQL oracle: both engines order by the same md5 strings).
      */
    private[operators] def sampleE6(df: DataFrame, idCol: String,
        vecCol: String, sampleCap: Int): Array[Array[Long]] = {
      val pts = df
        .select(transform(col(vecCol),
            x => floor(x.cast("double") * 1e6).cast("long")).as("__v"),
          md5(col(idCol).cast("string")).as("__h"))
        .orderBy(col("__h"))
        .limit(sampleCap)
        .collect()
        .map(_.getSeq[Long](0).toArray)
      require(pts.nonEmpty, "vector fit: empty training input")
      pts
    }

    /** Farthest-point (max-min) seeding + `rounds` fixed Lloyd steps,
      * entirely in e6 integer space: exact integer distances, earliest-
      * position/lowest-index tiebreaks, truncating-division means, empty
      * clusters keep their previous centroid. No float, no RNG — a SQL
      * oracle replays the fit verbatim (the r9 kmeans++ fit was driver-
      * deterministic but not replayable: its seeding walked a float cdf
      * under a JVM RNG).
      */
    private[operators] def deterministicKmeans(pts: Array[Array[Long]],
        kCentroids: Int, rounds: Int): Array[Array[Long]] = {
      val k = math.min(kCentroids, pts.length)
      val dim = pts(0).length
      val cents = scala.collection.mutable.ArrayBuffer(pts(0))
      val minD = pts.map(sqDistE6(_, cents(0)))
      for (j <- 1 until k) {
        var best = 0; var bd = -1L
        var i = 0
        while (i < pts.length) {
          if (minD(i) > bd) { bd = minD(i); best = i }
          i += 1
        }
        cents += pts(best)
        i = 0
        while (i < pts.length) {
          val d = sqDistE6(pts(i), cents(j))
          if (d < minD(i)) minD(i) = d
          i += 1
        }
      }
      var centroids = cents.toArray
      // Fixed round count — a data-dependent convergence test would not
      // be statically replayable.
      for (_ <- 1 to rounds) {
        val sums = Array.fill(k)(Array.ofDim[Long](dim))
        val counts = Array.ofDim[Long](k)
        for (p <- pts) {
          var best = 0; var bd = sqDistE6(p, centroids(0))
          var c = 1
          while (c < k) {
            val d = sqDistE6(p, centroids(c))
            if (d < bd) { bd = d; best = c }
            c += 1
          }
          counts(best) += 1
          var j = 0
          while (j < dim) { sums(best)(j) += p(j); j += 1 }
        }
        centroids = Array.tabulate(k) { c =>
          if (counts(c) > 0) sums(c).map(_ / counts(c))
          else centroids(c)
        }
      }
      centroids
    }
  }
}

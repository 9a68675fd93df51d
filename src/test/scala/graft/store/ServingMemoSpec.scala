package graft.store

import graft.SparkSpec
import graft.model.EmbeddedChunk
import org.apache.spark.sql.functions._

/** The serving memo's contract: one materialized snapshot per store
  * version, shared by every search mode.
  *
  *   - CROSS-PROCESS safety: the memoized code tables are keyed by
  *     (data fingerprint, sidecar stamp), so a sidecar rebuild by a
  *     DIFFERENT store instance over the same root — the stand-in for a
  *     second CLI/driver process, whose in-process invalidation hook
  *     can't reach ours — must be a cache miss here, not a
  *     FileNotFoundException against the overwritten parquet files or a
  *     silent serve of the stale candidates. Likewise a second
  *     instance's upsert or delete must be seen by the first's next
  *     exact search, which no longer re-reads the store per call.
  *   - RELEASE: a replaced or invalidated snapshot leaves the block
  *     manager at once; a dropped store's snapshots are freed by the
  *     ContextCleaner.
  *   - PLAN STABILITY: a repeat search with a new query vector compiles
  *     no new classes.
  *   - Both checkpoint modes serve the same rows.
  */
class ServingMemoSpec extends SparkSpec {

  private val dim = 16

  private def vec(seed: Int): Array[Float] = {
    val rnd = new scala.util.Random(seed)
    val raw = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val n = math.sqrt(raw.map(x => x.toDouble * x).sum)
    raw.map(x => (x / n).toFloat)
  }

  private val provider = new graft.functions.VectorLiteralProvider(dim)
  private def text(qv: Array[Float]) =
    graft.functions.VectorLiteralProvider.render(qv)

  private def hits(vs: ChunkStore, mode: String, qv: Array[Float],
      k: Int = 5) =
    vs.search("c", text(qv), k = k, provider = provider, mode = mode)
      .select(col("key"), col("score")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq

  private def batchHits(vs: ChunkStore, mode: String,
      qvs: Seq[Array[Float]], k: Int = 5) =
    vs.searchAll("c", qvs.zipWithIndex.map(x => (x._2.toLong, text(x._1))),
        k = k, provider = provider, mode = mode)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSeq

  private def chunk(doc: String, i: Int, v: Array[Float]) =
    EmbeddedChunk(s"$doc:$i", v, s"c$doc$i", "", doc)

  /** 8 documents × 8 chunks, upserted through `vs` into collection c. */
  private def fill(vs: ChunkStore): Unit = {
    import spark.implicits._
    val rows = for (d <- 0 until 8; i <- 0 until 8) yield
      chunk(f"d$d%02d", i, vec(d * 100 + i))
    vs.upsert(rows.toDS().repartition(4), "c")
  }

  private def tmpRoot() =
    java.nio.file.Files.createTempDirectory("memo-spec").toString

  private def persisted(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private val layouts: Seq[(String, String => ChunkStore)] = Seq(
    "snapshot" -> (r => new SnapshotStore(spark, r, nBuckets = 4)),
    "document" -> (r => new VectorStore(spark, r)))

  for (mode <- Seq("lsh", "ivfsq")) {
    test(s"[$mode] a sidecar rebuild by a second store instance over " +
        "the same root misses the first instance's serving memo") {
      val root = tmpRoot()
      val vs1 = new VectorStore(spark, root)
      fill(vs1)
      vs1.buildIndex("c", mode)
      val q = vec(9001)
      val served = hits(vs1, mode, q) // memo is now WARM in vs1
      // "Another process": a second instance whose buildIndex overwrite
      // replaces the codes parquet files on disk. vs1's cached codes
      // DataFrames point at the deleted files; the data fingerprint is
      // UNCHANGED (sidecars are excluded from it), so only the sidecar
      // stamp in the memo key can save the next search.
      val vs2 = new VectorStore(spark, root)
      vs2.buildIndex("c", mode)
      assert(vs1.hasFreshIndex("c", mode),
        "the rebuilt sidecar is fresh — same data, new codes files")
      val reserved = hits(vs1, mode, q)
      assert(reserved == served,
        "the reload after a cross-process rebuild must serve the same " +
          "deterministic answer")
    }
  }

  test("an upsert followed by a search leaves ONE chunks snapshot of the " +
      "collection persisted, not two") {
    val vs = new SnapshotStore(spark, tmpRoot(), nBuckets = 4)
    fill(vs)
    val before = persisted()
    hits(vs, "exact", vec(9001))
    val first = persisted() -- before
    assert(first.size == 1, s"one chunks snapshot expected, got $first")
    hits(vs, "exact", vec(9002))
    assert(persisted() -- before == first, "a repeat search must reuse it")
    import spark.implicits._
    vs.upsert(Seq(chunk("dnew", 0, vec(7))).toDS(), "c")
    hits(vs, "exact", vec(9001))
    val second = persisted() -- before
    assert(second.size == 1 && (second & first).isEmpty,
      s"the reload must release the replaced snapshot: $first -> $second")
    vs.close()
    assert((persisted() & second).isEmpty, "close releases every snapshot")
  }

  for (mode <- Seq("lsh", "ivfsq")) {
    test(s"[$mode] buildIndex and refreshIndex release the previous " +
        "code and chunk snapshots") {
      val vs = new SnapshotStore(spark, tmpRoot(), nBuckets = 4)
      fill(vs)
      vs.buildIndex("c", mode)
      val before = persisted()
      hits(vs, mode, vec(9001))
      val served = persisted() -- before
      assert(served.size == 2, s"chunks + codes snapshots expected: $served")
      vs.buildIndex("c", mode)
      assert((persisted() & served).isEmpty,
        "buildIndex must release the snapshots it invalidates")
      hits(vs, mode, vec(9001))
      val reserved = persisted() -- before
      assert(reserved.size == 2)
      import spark.implicits._
      vs.upsert(Seq(chunk("dnew", 0, vec(8888))).toDS(), "c")
      vs.refreshIndex("c", mode, Seq("dnew"))
      assert((persisted() & reserved).isEmpty,
        "refreshIndex must release the snapshots it invalidates")
      assert(hits(vs, mode, vec(8888), k = 1).map(_._1) == Seq("dnew:0"))
      vs.close()
    }
  }

  test("a store dropped without close has its snapshots freed by the " +
      "ContextCleaner") {
    val root = tmpRoot()
    fill(new SnapshotStore(spark, root, nBuckets = 4))
    // The store and every DataFrame it returned go out of scope here.
    def searchOnce(): Set[Int] = {
      val vs = new SnapshotStore(spark, root, nBuckets = 4)
      val before = persisted()
      hits(vs, "exact", vec(9001))
      persisted() -- before
    }
    val ids = searchOnce()
    assert(ids.size == 1)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while ((persisted() & ids).nonEmpty && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(100)
    }
    assert((persisted() & ids).isEmpty,
      "an unreachable store's snapshot must not stay persisted")
  }

  for ((layout, mk) <- layouts) {
    test(s"[$layout] exact search and searchAll see a second instance's " +
        "upsert and never return its deletes") {
      import spark.implicits._
      val root = tmpRoot()
      val vs1 = mk(root)
      fill(vs1)
      val q = vec(9001)
      // Warm vs1's memo in both exact entry points.
      val warm = hits(vs1, "exact", q)
      assert(batchHits(vs1, "exact", Seq(q)).map(r => (r._2, r._3)) == warm)
      val vs2 = mk(root)
      vs2.upsert(Seq(chunk("dnew", 0, q)).toDS(), "c")
      assert(hits(vs1, "exact", q).head._1 == "dnew:0",
        "vs1's exact search must see vs2's upsert")
      assert(batchHits(vs1, "exact", Seq(q)).head._2 == "dnew:0",
        "vs1's exact searchAll must see vs2's upsert")
      vs2.delete("c", Seq("dnew", "d03"))
      def gone(keys: Seq[String]) =
        keys.forall(k => !k.startsWith("dnew:") && !k.startsWith("d03:"))
      val all = hits(vs1, "exact", q, k = 100).map(_._1)
      assert(all.size == 56 && gone(all),
        s"vs1 must not return vs2's deleted documents: $all")
      val allBatch = batchHits(vs1, "exact", Seq(q), k = 100).map(_._2)
      assert(allBatch.size == 56 && gone(allBatch))
      vs1.close()
    }
  }

  test("a second search with a different query vector compiles no new " +
      "classes, in every mode") {
    val vs = new SnapshotStore(spark, tmpRoot(), nBuckets = 4)
    fill(vs)
    vs.buildIndex("c", "lsh")
    vs.buildIndex("c", "ivfsq")
    val modes = Seq("exact", "lsh", "ivfsq")
    modes.foreach(m => hits(vs, m, vec(9001)))
    val compiled = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    val before = compiled.getCount
    modes.foreach(m => hits(vs, m, vec(9002)))
    assert(compiled.getCount == before,
      s"${compiled.getCount - before} new classes compiled")
    vs.close()
  }

  test("both checkpoint modes serve the same rows in every mode and in " +
      "searchAll") {
    val root = tmpRoot()
    val vs = new SnapshotStore(spark, root, nBuckets = 4)
    fill(vs)
    vs.buildIndex("c", "lsh")
    vs.buildIndex("c", "ivfsq")
    val qs = Seq(vec(9001), vec(9002), vec(305))
    val modes = Seq("exact", "lsh", "ivfsq")
    def answers(st: ChunkStore) = modes.map(m =>
      (qs.map(q => hits(st, m, q)), batchHits(st, m, qs)))
    val local = answers(vs)
    vs.close()
    val ckDir = java.nio.file.Files.createTempDirectory("memo-ck").toString
    def files() = java.nio.file.Files.walk(java.nio.file.Paths.get(ckDir))
      .filter(p => java.nio.file.Files.isRegularFile(p)).count()
    spark.sparkContext.setCheckpointDir(ckDir)
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    try {
      val durable = new SnapshotStore(spark, root, nBuckets = 4)
      assert(answers(durable) == local)
      assert(files() > 0, "durable mode must write checkpoint files")
      durable.close()
      assert(files() == 0, "close must delete the durable snapshots")
    } finally spark.conf.set("spark.graft.checkpoint.reliable", "false")
  }
}

package perfbench

import graft.functions.Embedding
import graft.model.{EmbeddedChunk, IngestionResult}
import graft.operators.IngestionPipeline
import graft.parse.MarkdownParser
import graft.store.{BucketedVectorStore, ChunkStore, SnapshotStore, VectorStore}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}

/** Input sizes. `tiny` is the self-test's size. */
final case class Sizes(batchDocs: Int, warmDocs: Int, storeMd: Int,
    storePdf: Int, storeDb: Int, batchQueries: Int, layoutDocs: Int)

object Sizes {
  val full = Sizes(batchDocs = 80, warmDocs = 80, storeMd = 300,
    storePdf = 60, storeDb = 240, batchQueries = 6, layoutDocs = 80)
  val tiny = Sizes(batchDocs = 12, warmDocs = 6, storeMd = 10, storePdf = 3,
    storeDb = 8, batchQueries = 2, layoutDocs = 8)
}

/** Documents written to disk in the three readers' forms. */
final case class Corpus(dir: Path, docs: Map[String, Vector[Doc]]) {
  def path(reader: String): Path = reader match {
    case "markdown" => dir.resolve("md")
    case "pdf" => dir.resolve("pdf")
    case "database" => dir.resolve("items.db")
  }
  def all: Vector[Doc] = Ingest.readers.flatMap(docs).toVector
}

/** One hit as the REPL prints it. */
final case class Hit(key: String, documentid: String, score: Double)

object Workloads {
  val all: Map[String, Ctx => Unit] = Map(
    "ingest_bulk" -> IngestBulk.run,
    "search_session" -> SearchSession.run,
    "ingest_search_mixed" -> Mixed.run)

  val modes: Seq[String] = Seq("exact", "lsh", "ivfsq")

  def sizes(ctx: Ctx): Sizes = if (ctx.opts.tiny) Sizes.tiny else Sizes.full

  def writeCorpus(in: Inputs, dir: Path, tag: String, nMd: Int, nPdf: Int,
      nDb: Int, firstDbId: Int): Corpus = {
    val c = Corpus(dir, Map(
      "markdown" -> Vector.tabulate(nMd)(i => in.doc("markdown", f"$tag-$i%04d.md")),
      "pdf" -> Vector.tabulate(nPdf)(i => in.doc("pdf", f"$tag-$i%04d.pdf")),
      "database" -> Vector.tabulate(nDb)(i =>
        in.doc("database", (firstDbId + i).toString))))
    Files.createDirectories(c.path("markdown"))
    Files.createDirectories(c.path("pdf"))
    c.docs("markdown").foreach(Inputs.writeMarkdown(c.path("markdown"), _))
    c.docs("pdf").foreach(Inputs.writePdf(c.path("pdf"), _))
    if (nDb > 0) Inputs.writeSqlite(c.path("database"), c.docs("database"))
    c
  }

  /** The CLI's three `ingest` commands over one corpus. */
  def ingest(ctx: Ctx, c: Corpus, st: ChunkStore,
      collDir: Path): Seq[IngestionResult] =
    Ingest.readers.filter(r => c.docs(r).nonEmpty).flatMap(r =>
      Ingest.run(ctx, r, c.path(r), st, ctx.collection, collDir))

  /** Every document came back `succeeded` with at least one chunk. */
  def checkIngested(ctx: Ctx, docs: Seq[Doc],
      res: Seq[IngestionResult]): Unit = {
    val byId = res.map(r => r.documentid -> r).toMap
    val bad = docs.filterNot(d =>
      byId.get(d.docId).exists(r => r.succeeded && r.n_chunks > 0))
    ctx.report.check(bad.isEmpty && res.size == docs.size,
      s"${bad.size} of ${docs.size} documents not ingested " +
        s"(${res.size} results), e.g. ${bad.take(3).map(d => byId.get(d.docId))}")
  }

  /** Row count equals the chunks the pipeline reported, keys are
    * unique, and no deleted document is present.
    */
  def checkStore(ctx: Ctx, st: ChunkStore, expected: Long,
      deleted: Set[String] = Set.empty): Unit = {
    val planted = if (ctx.opts.plant == "wrong") 1 else 0
    val df = st.read(ctx.collection)
    val r = df.agg(count(lit(1)), countDistinct(col("key"))).head()
    ctx.report.check(r.getLong(0) == expected + planted &&
      r.getLong(1) == r.getLong(0),
      s"store holds ${r.getLong(0)} rows / ${r.getLong(1)} distinct keys, " +
        s"pipeline reported ${expected + planted} chunks")
    if (deleted.nonEmpty) {
      val back = df.filter(col("documentid").isin(deleted.toSeq: _*)).count()
      ctx.report.check(back == 0, s"$back chunks of deleted documents remain")
    }
  }

  def hits(rows: Array[Row]): Seq[Hit] = rows.toSeq.map(r =>
    Hit(r.getAs[String]("key"), r.getAs[String]("documentid"),
      r.getAs[Double]("score")))

  def search(ctx: Ctx, st: ChunkStore, q: String, mode: String): Seq[Hit] =
    ctx.tracer.span(s"search.$mode")(hits(
      st.search(ctx.collection, q, ctx.k, ctx.provider, mode).collect()))

  /** One run's latency samples as a per-layer median, printed with the
    * sample count.
    */
  def latencies(ctx: Ctx, name: String, ms: Seq[Double]): Unit = {
    ctx.report.layer(s"$name.p50_ms", Report.median(ms), "ms")
    ctx.report.info(s"$name: n=${ms.size} p50_ms=${Report.num(Report.median(ms))}" +
      (if (ms.size >= 100) s" p90_ms=${Report.num(Report.quantile(ms, 0.9))}"
       else " (p90 needs 100 samples)"))
  }

  /** Setup repeated `rounds` times; setup_s is session start plus the
    * median round. Returns the last round's state.
    */
  def repeatedSetup[T](ctx: Ctx, rounds: Int)(round: Int => T): T = {
    var last: Option[T] = None
    val walls = (0 until rounds).map { i =>
      val t0 = System.nanoTime()
      last = Some(round(i))
      ctx.secondsSince(t0)
    }
    ctx.report.info(s"setup rounds_s=${walls.map(Report.num).mkString(",")}")
    ctx.report.e2e("setup_s", ctx.sessionS + Report.median(walls), "s")
    last.get
  }

  /** The per-layer metrics every traced run prints (BENCHMARK.json's
    * `per_layer`), zero where the workload does not exercise the layer.
    */
  def layerMetrics(ctx: Ctx, overhead: Double): Unit = {
    val tr = ctx.tracer
    tr.settle()
    val r = ctx.report
    def have(name: String, v: Double, unit: String): Unit =
      if (!r.perLayer.contains(name)) r.layer(name, v, unit)
    r.layer("sources.s", tr.selfS("sources"), "s")
    r.layer("sources.docs", ctx.counts("sources.docs"), "count")
    r.layer("sources.elements", ctx.counts("sources.elements"), "count")
    r.layer("parse.s", tr.selfS("parse"), "s")
    r.layer("chunk.s", tr.selfS("chunk"), "s")
    r.layer("chunk.chunks", ctx.counts("chunk.chunks"), "count")
    r.layer("chunk.shuffle_bytes", tr.counters("chunk").shuffleWrite.toDouble,
      "bytes")
    r.layer("embed.s", tr.selfS("embed"), "s")
    r.layer("commit.s", tr.selfS("commit"), "s")
    r.layer("commit.files", ctx.counts("commit.files"), "count")
    r.layer("commit.bytes", ctx.counts("commit.bytes"), "bytes")
    r.layer("pipeline.s", tr.selfS("pipeline"), "s")
    r.layer("pipeline.jobs", tr.counters("pipeline").jobs.toDouble, "count")
    have("ingest.batch.p50_ms", 0, "ms")
    Seq("document", "bucketed", "snapshot").foreach { l =>
      have(s"layout.$l.commit_s", 0, "s")
      have(s"layout.$l.files", 0, "count")
      have(s"layout.$l.exact_ms", 0, "ms")
    }
    r.layer("index.build_ivfsq.s", tr.selfS("index.build_ivfsq"), "s")
    r.layer("index.build_lsh.s", tr.selfS("index.build_lsh"), "s")
    modes.foreach { m =>
      val spans = tr.named(s"search.$m")
      val n = math.max(1, spans.size).toDouble
      have(s"search.$m.p50_ms", 0, "ms")
      r.layer(s"search.$m.jobs_per_query",
        spans.map(s => tr.listener.of(s.id).jobs).sum / n, "count")
      r.layer(s"search.$m.driver_ms",
        Report.median(spans.map(tr.driverMs)), "ms")
      r.layer(s"search.$m.task_ms",
        spans.map(s => tr.listener.of(s.id).taskMs).sum / n, "ms")
    }
    modes.foreach { m =>
      r.layer(s"search.batch_$m.s", tr.selfS(s"search.batch_$m"), "s")
      r.layer(s"search.batch_$m.shuffle_bytes",
        tr.counters(s"search.batch_$m").shuffleWrite.toDouble, "bytes")
    }
    have("search.lsh.recall_at5", 0, "ratio")
    have("search.ivfsq.recall_at5", 0, "ratio")
    val (c, gapMs) = tr.sparkTotals()
    r.layer("spark.jobs", c.jobs.toDouble, "count")
    r.layer("spark.tasks", c.tasks.toDouble, "count")
    r.layer("spark.task_s", c.taskMs / 1e3, "s")
    r.layer("spark.gc_s", c.gcMs / 1e3, "s")
    r.layer("spark.shuffle_read_bytes", c.shuffleRead.toDouble, "bytes")
    r.layer("spark.shuffle_write_bytes", c.shuffleWrite.toDouble, "bytes")
    r.layer("spark.spill_bytes", c.spill.toDouble, "bytes")
    r.layer("spark.driver_gap_s", gapMs / 1e3, "s")
    r.layer("trace.overhead", overhead, "ratio")
    r.layer("client.failed_share", if (r.attempted == 0) 0.0
      else r.failed.toDouble / r.attempted, "ratio")
    ctx.opts.spansOut.foreach(tr.dump)
    r.info(s"spans=${tr.spans.size}" +
      ctx.opts.spansOut.map(p => s" written to $p").getOrElse("") +
      s"; tracing overhead ${Report.num(overhead * 100)}% against the " +
      "untraced half")
  }

  def overhead(traced: Seq[Double], untraced: Seq[Double]): Double =
    if (traced.isEmpty || untraced.isEmpty) 0.0
    else Report.median(traced) / Report.median(untraced) - 1.0
}

/** Exact answers on the driver: brute-force cosine over the collected
  * store, rounded like the engine's `score`.
  */
final class BruteForce(rows: Array[(String, Array[Float])]) {
  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  def scores(qv: Array[Float]): Map[String, Double] =
    rows.map(r => r._1 -> round6(Embedding.cosine(r._2, qv))).toMap

  def top(s: Map[String, Double], k: Int): Seq[(String, Double)] =
    s.toSeq.sortBy(x => (-x._2, x._1)).take(k)
}

object BruteForce {
  val Tol = 2e-6

  def collect(ctx: Ctx, st: ChunkStore): BruteForce =
    new BruteForce(st.read(ctx.collection).select("key", "embedding")
      .collect().map(r => (r.getString(0), r.getSeq[Float](1).toArray)))

  /** Engine top-k equals the brute-force top-k up to ties. */
  def sameTopK(got: Seq[(String, Double)], s: Map[String, Double],
      want: Seq[(String, Double)]): Boolean =
    got.size == want.size && got.zip(want).forall { case ((gk, gs), (_, ws)) =>
      s.get(gk).exists(x => math.abs(x - gs) <= Tol) &&
        math.abs(gs - ws) <= Tol
    }

  /** Tie-tolerant recall@k: a hit counts if its exact score reaches the
    * k-th exact score.
    */
  def recall(got: Seq[String], s: Map[String, Double],
      want: Seq[(String, Double)]): Double =
    if (want.isEmpty) 1.0 else {
      val kth = want.last._2
      got.distinct.count(g => s.get(g).exists(_ >= kth - Tol)).toDouble /
        want.size
    }
}

/** Batches of a generated corpus into a fresh collection, one
  * `IngestionPipeline.run` per reader per batch, no index, no search.
  */
object IngestBulk {
  import Workloads._

  private def batch(ctx: Ctx, in: Inputs, dir: Path, b: Int,
      n: Int): Corpus = {
    val nPdf = n * in.int(10, 20) / 100
    val nDb = n * in.int(30, 45) / 100
    writeCorpus(in, dir, s"b$b", n - nPdf - nDb, nPdf, nDb, b * 10000 + 1)
  }

  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    repeatedSetup(ctx, 3) { i =>
      val warm = ctx.dir(s"setup$i")
      val c = batch(ctx, new Inputs(ctx.opts.seed), warm.resolve("in"), 0,
        sizes(ctx).warmDocs)
      val st = ctx.store(warm.resolve("store"))
      checkIngested(ctx, c.all,
        ingest(ctx, c, st, warm.resolve("store").resolve(ctx.collection)))
      ctx.deleteTree(warm)
    }
    val in = new Inputs(ctx.opts.seed + 1)
    val root = ctx.dir("store")
    val collDir = root.resolve(ctx.collection)
    val st = ctx.store(root)
    val shadow = ctx.store(ctx.dir("shadow"))
    var chunks = 0L
    var docs = 0
    var b = 0
    // Every batch holds batchDocs documents, so walls compare directly.
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tracedWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    def phase(seconds: Double): Unit = {
      var spent = 0.0
      ctx.sampleHeap(force = true)
      while (spent < seconds || b == 0) {
        b += 1
        val c = batch(ctx, in, ctx.dir(s"in$b"), b, sizes(ctx).batchDocs)
        ctx.op(ingest(ctx, c, st, collDir)).foreach { case (res, ms) =>
          checkIngested(ctx, c.all, res)
          chunks += res.map(_.n_chunks).sum
          docs += c.all.size
          spent += ms / 1e3
          (if (ctx.tracer.enabled) tracedWalls else walls) += ms
        }
        if (ctx.tracer.enabled) c.docs.foreach { case (reader, ds) =>
          if (ds.nonEmpty) ctx.tracer.span("pipeline")(IngestionPipeline.run(
            Ingest.elements(ctx.spark, reader, c.path(reader)), shadow,
            ctx.collection, ctx.chunker, ctx.provider).collect())
        }
        if (b == 1) ctx.plantedThrow(st)
        ctx.deleteTree(c.dir)
        ctx.sampleHeap()
      }
      ctx.sampleHeap(force = true)
    }
    if (!ctx.opts.trace) phase(ctx.opts.seconds)
    else {
      phase(ctx.opts.seconds / 2.0)
      ctx.tracer.enable()
      phase(ctx.opts.seconds / 2.0)
    }
    r.info(s"corpus: batches=$b docs=$docs chunks=$chunks " +
      s"store_bytes=${Ingest.files(collDir).values.sum} " +
      s"batch_docs=${sizes(ctx).batchDocs} queries=0 writes=$b")
    checkStore(ctx, st, chunks)
    latencies(ctx, "ingest.batch", walls.toSeq)
    r.e2e("throughput_per_s",
      walls.size * sizes(ctx).batchDocs / (walls.sum / 1e3), "1/s")
    r.e2e("peak_heap_mb", ctx.peakHeapMb, "MB")
    if (ctx.opts.trace) {
      layouts(ctx, st)
      layerMetrics(ctx, overhead(tracedWalls.toSeq, walls.toSeq))
    }
  }

  /** The same chunks committed through each store layout, then one
    * exact search each: evidence for choosing the layout.
    */
  private def layouts(ctx: Ctx, st: ChunkStore): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val ids = st.read(ctx.collection).select("documentid").distinct()
      .orderBy("documentid").limit(sizes(ctx).layoutDocs)
      .as[String].collect().toSeq
    val chunks = st.read(ctx.collection).filter(col("documentid").isin(ids: _*))
      .select("key", "embedding", "content", "context", "documentid")
      .as[EmbeddedChunk].localCheckpoint(true)
    val qs = new Inputs(ctx.opts.seed + 7).queryStream(Vector(
      new Inputs(ctx.opts.seed).doc("markdown", "q.md")), 3, 0, 0)
    Seq("document", "bucketed", "snapshot").foreach { l =>
      val root = ctx.dir(s"layout-$l")
      val s: ChunkStore = l match {
        case "document" => new VectorStore(spark, root.toString)
        case "bucketed" => new BucketedVectorStore(spark, root.toString, 16)
        case "snapshot" => ctx.store(root)
      }
      val t0 = System.nanoTime()
      s.upsert(chunks, ctx.collection)
      val commitS = ctx.secondsSince(t0)
      val exact = qs.map { q =>
        val t = System.nanoTime()
        s.search(ctx.collection, q, ctx.k, ctx.provider).collect()
        ctx.secondsSince(t) * 1e3
      }
      ctx.report.layer(s"layout.$l.commit_s", commitS, "s")
      ctx.report.layer(s"layout.$l.files",
        Ingest.files(root.resolve(ctx.collection)).size.toDouble, "count")
      ctx.report.layer(s"layout.$l.exact_ms", Report.median(exact), "ms")
      ctx.deleteTree(root)
    }
    ctx.report.info(s"layout probe: ${ids.size} documents per layout")
  }
}

/** Store + indexes built in setup, then one REPL client: each query of a
  * seeded stream in each mode, then one `searchAll` batch per mode.
  */
object SearchSession {
  import Workloads._

  final case class Built(st: SnapshotStore, collDir: Path, corpus: Corpus,
      chunks: Long)

  /** The serving workloads' setup, repeated: a fresh store with the
    * given sidecars, then `warm`. Earlier rounds' stores are deleted.
    */
  def setup(ctx: Ctx, indexes: Seq[String])(warm: Built => Unit): Built = {
    var prev: Option[Path] = None
    repeatedSetup(ctx, 2) { i =>
      prev.foreach(ctx.deleteTree)
      val d = ctx.dir(s"setup$i")
      prev = Some(d)
      val b = build(ctx, d, indexes)
      warm(b)
      b
    }
  }

  private def build(ctx: Ctx, dir: Path, indexes: Seq[String]): Built = {
    val z = sizes(ctx)
    val in = new Inputs(ctx.opts.seed)
    val c = writeCorpus(in, dir.resolve("in"), "kb", z.storeMd, z.storePdf,
      z.storeDb, 1)
    val root = dir.resolve("store")
    val st = ctx.store(root)
    val t0 = System.nanoTime()
    val res = ingest(ctx, c, st, root.resolve(ctx.collection))
    val ingestS = ctx.secondsSince(t0)
    checkIngested(ctx, c.all, res)
    val t1 = System.nanoTime()
    indexes.foreach(m => buildIndex(ctx, st, m))
    ctx.report.info(s"store build: ingest_s=${Report.num(ingestS)} " +
      s"index_s=${Report.num(ctx.secondsSince(t1))}")
    Built(st, root.resolve(ctx.collection), c, res.map(_.n_chunks).sum)
  }

  def buildIndex(ctx: Ctx, st: ChunkStore, mode: String): Unit = {
    ctx.tracer.span(s"index.build_$mode")(st.buildIndex(ctx.collection, mode))
    ctx.report.check(st.hasFreshIndex(ctx.collection, mode),
      s"$mode index not fresh after build")
  }

  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    val z = sizes(ctx)
    // The warm pass runs each search path once per setup round, so the
    // JIT has compiled it and the serving memo is loaded before the REPL
    // is timed.
    val built = setup(ctx, Seq("lsh", "ivfsq")) { b =>
      val warm = new Inputs(ctx.opts.seed + 3).queryStream(b.corpus.all, 1, 0)
      for (q <- warm; m <- modes)
        b.st.search(ctx.collection, q, ctx.k, ctx.provider, m).collect()
    }
    val st = built.st
    val in = new Inputs(ctx.opts.seed + 2)
    val stream = in.queryStream(built.corpus.all, 2000)
    val batch = stream.distinct.take(z.batchQueries)
    val answered = scala.collection.mutable.LinkedHashMap.empty[(String, String), Seq[Hit]]
    val lat = modes.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    val tracedLat = scala.collection.mutable.ArrayBuffer.empty[Double]
    var qi = 0
    var replWall = 0.0
    def repl(seconds: Double): Unit = {
      var spent = 0.0
      ctx.sampleHeap(force = true)
      val start = qi
      while (spent < seconds || qi == start) {
        val q = stream(qi)
        modes.foreach { m =>
          ctx.op(search(ctx, st, q, m)).foreach { case (h, ms) =>
            answered((q, m)) = h
            spent += ms / 1e3
            if (ctx.tracer.enabled) tracedLat += ms
            else { lat(m) += ms; replWall += ms / 1e3 }
          }
        }
        if (qi == 0) ctx.plantedThrow(st)
        qi += 1
        ctx.sampleHeap()
      }
    }
    val batchRows = scala.collection.mutable.Map.empty[String, Seq[(Long, Hit)]]
    var batchWall = 0.0
    def batches(): Unit = modes.foreach { m =>
      ctx.op(ctx.tracer.span(s"search.batch_$m")(st.searchAll(ctx.collection,
          batch.zipWithIndex.map(x => (x._2.toLong, x._1)), ctx.k,
          ctx.provider, m).collect())).foreach { case (rows, ms) =>
        batchRows(m) = rows.toSeq.map(x => (x.getAs[Long]("query_id"),
          Hit(x.getAs[String]("key"), "", x.getAs[Double]("score"))))
        if (!ctx.tracer.enabled) batchWall += ms / 1e3
      }
      ctx.sampleHeap()
    }
    // The REPL gets the measured time; the batches follow it, and their
    // cost is fixed by the batch size.
    if (!ctx.opts.trace) { repl(ctx.opts.seconds); batches() }
    else {
      repl(ctx.opts.seconds / 2.0)
      batches()
      ctx.tracer.enable()
      Seq("lsh", "ivfsq").foreach { m =>
        buildIndex(ctx, st, m)
        // Reload the serving memo the rebuild dropped, as setup did.
        st.search(ctx.collection, stream(0), ctx.k, ctx.provider, m).collect()
      }
      repl(ctx.opts.seconds / 2.0)
      batches()
    }
    ctx.sampleHeap(force = true)
    r.info(s"corpus: docs=${built.corpus.all.size} " +
      s"(markdown=${z.storeMd} pdf=${z.storePdf} database=${z.storeDb}) " +
      s"chunks=${built.chunks} store_bytes=" +
      s"${Ingest.files(built.collDir).values.sum} queries=$qi " +
      s"batch=${batch.size} writes=0")
    checks(ctx, built, batch, answered, batchRows)
    val pooled = lat.values.flatten.toSeq
    val nq = pooled.size + batch.size * modes.size
    r.e2e("throughput_per_s", nq / (replWall + batchWall), "1/s")
    r.e2e("peak_heap_mb", ctx.peakHeapMb, "MB")
    modes.foreach(m => latencies(ctx, s"search.$m", lat(m).toSeq))
    if (ctx.opts.trace)
      layerMetrics(ctx, overhead(tracedLat.toSeq, pooled))
  }

  private def checks(ctx: Ctx, built: Built, batch: Seq[String],
      answered: scala.collection.Map[(String, String), Seq[Hit]],
      batchRows: scala.collection.Map[String, Seq[(Long, Hit)]]): Unit = {
    val r = ctx.report
    checkStore(ctx, built.st, built.chunks)
    val bf = BruteForce.collect(ctx, built.st)
    val exactOf = batch.map(q => bf.scores(ctx.provider.embed(q)))
    // Exact search equals brute force: the batch, and a sample of the
    // REPL's exact answers.
    val sample = answered.keys.filter(_._2 == "exact").map(_._1).toSeq
      .distinct.take(5)
    sample.foreach { q =>
      val s = bf.scores(ctx.provider.embed(q))
      r.check(BruteForce.sameTopK(answered((q, "exact")).map(h => (h.key, h.score)),
        s, bf.top(s, ctx.k)), s"exact search differs from brute force for '$q'")
    }
    modes.foreach { m =>
      val rows = batchRows.getOrElse(m, Seq.empty)
      batch.zipWithIndex.foreach { case (q, qid) =>
        val got = rows.filter(_._1 == qid).map(_._2)
        if (m == "exact")
          r.check(BruteForce.sameTopK(got.map(h => (h.key, h.score)),
            exactOf(qid), bf.top(exactOf(qid), ctx.k)),
            s"exact searchAll differs from brute force for '$q'")
        answered.get((q, m)).foreach { h =>
          r.check(h.map(x => (x.key, x.score)) == got.map(x => (x.key, x.score)),
            s"$m searchAll rows differ from search rows for '$q'")
        }
      }
    }
    Seq("lsh", "ivfsq").foreach { m =>
      val rows = batchRows.getOrElse(m, Seq.empty)
      val rec = batch.indices.map { qid =>
        BruteForce.recall(rows.filter(_._1 == qid).map(_._2.key),
          exactOf(qid), bf.top(exactOf(qid), ctx.k))
      }
      val mean = if (rec.isEmpty) 0.0 else rec.sum / rec.size
      r.info(s"recall_${m}_at5=${Report.num(mean)} over ${rec.size} queries")
      r.layer(s"search.$m.recall_at5", mean, "ratio")
    }
  }
}

/** The same pre-built store; each cycle is a seeded write (append,
  * replace or delete), an ivfsq refresh of the touched documents, and
  * ivfsq searches, one of them for the document just written.
  */
object Mixed {
  import Workloads._

  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    val built = SearchSession.setup(ctx, Seq("ivfsq"))(b =>
      b.st.search(ctx.collection, b.corpus.all.head.paras.head, ctx.k,
        ctx.provider, "ivfsq").collect())
    val st = built.st
    val collDir = built.collDir
    val in = new Inputs(ctx.opts.seed + 4)
    val stream = in.queryStream(built.corpus.all, 2000)
    // Driver-side model of the collection: live documents and their
    // chunk counts, the markdown text of replaceable documents.
    val live = scala.collection.mutable.LinkedHashMap.empty[String, Doc]
    built.corpus.all.foreach(d => live(d.docId) = d)
    val nChunks = scala.collection.mutable.Map.empty[String, Long]
    st.read(ctx.collection).groupBy("documentid").count().collect()
      .foreach(x => nChunks(x.getString(0)) = x.getLong(1))
    val deleted = scala.collection.mutable.Set.empty[String]
    val fresh = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tracedFresh = scala.collection.mutable.ArrayBuffer.empty[Double]
    val searchMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var cycle = 0
    var written = 0
    var writtenUntraced = 0
    var cycleWall = 0.0
    var qi = 0

    def ownText(d: Doc): String = ctx.chunker.chunkDocument(d.docId,
      MarkdownParser.parse(d.docId, Inputs.markdown(d))).head.content

    def afterWrite(q: String): Option[(Seq[Hit], Double)] =
      ctx.op(ctx.tracer.span("search.after_write.ivfsq")(hits(
        st.search(ctx.collection, q, ctx.k, ctx.provider, "ivfsq").collect())))
        .map { case (h, ms) =>
          if (!ctx.tracer.enabled) searchMs += ms
          r.check(!h.exists(x => deleted(x.documentid)),
            s"deleted document returned for '$q'")
          (h, ms)
        }

    def cycleOnce(): Double = {
      cycle += 1
      val kind = { val x = in.int(1, 100); if (x <= 40) "append"
        else if (x <= 75) "replace" else "delete" }
      val md = live.values.filter(_.reader == "markdown").toVector
      val docs: Vector[Doc] = kind match {
        case "append" => Vector.tabulate(in.int(2, 5))(j =>
          in.doc("markdown", f"w$cycle%04d-$j.md"))
        case "replace" => Vector.fill(in.int(1, 3))(in.pick(md)).distinct
          .map(d => in.doc("markdown", d.name))
        case _ => Vector.fill(in.int(1, 3))(in.pick(live.values.toVector))
          .distinct
      }
      val ids = docs.map(_.docId)
      val dir = ctx.dir(s"w$cycle")
      if (kind != "delete") docs.foreach(Inputs.writeMarkdown(dir, _))
      val t = ctx.op {
        if (kind == "delete")
          Ingest.commit(ctx, collDir)(st.delete(ctx.collection, ids))
        val res = if (kind == "delete") Seq.empty
          else Ingest.run(ctx, "markdown", dir, st, ctx.collection, collDir)
        ctx.tracer.span("index.refresh")(
          st.refreshIndex(ctx.collection, "ivfsq", ids))
        (res, st.hasFreshIndex(ctx.collection, "ivfsq"))
      }
      var spent = 0.0
      t.foreach { case ((res, isFresh), ms) =>
        spent += ms
        (if (ctx.tracer.enabled) tracedFresh else fresh) += ms
        r.check(isFresh, s"ivfsq index not fresh after cycle $cycle ($kind)")
        written += docs.size
        if (!ctx.tracer.enabled) writtenUntraced += docs.size
        if (kind == "delete") {
          ids.foreach { id => live.remove(id); nChunks.remove(id); deleted += id }
        } else {
          checkIngested(ctx, docs, res)
          res.foreach(x => nChunks(x.documentid) = x.n_chunks)
          docs.foreach(d => live(d.docId) = d)
        }
      }
      ctx.deleteTree(dir)
      // The document just written is found by its own text; a deleted
      // one is not (checked on every search).
      val probe = docs.head
      val q = if (kind == "delete") probe.paras.head else ownText(probe)
      afterWrite(q).foreach { case (h, ms) =>
        spent += ms
        if (kind != "delete")
          r.check(h.exists(_.documentid == probe.docId),
            s"document ${probe.docId} not found by its own text after $kind")
      }
      if (cycle % 2 == 0) {
        afterWrite(stream(qi)).foreach(x => spent += x._2)
        qi += 1
      }
      if (cycle == 1) ctx.plantedThrow(st)
      ctx.sampleHeap()
      spent / 1e3
    }

    def phase(seconds: Double): Unit = {
      var spent = 0.0
      ctx.sampleHeap(force = true)
      val start = cycle
      while (spent < seconds || cycle == start) {
        val s = cycleOnce()
        spent += s
        if (!ctx.tracer.enabled) cycleWall += s
      }
    }
    if (!ctx.opts.trace) phase(ctx.opts.seconds)
    else {
      phase(ctx.opts.seconds / 2.0)
      ctx.tracer.enable()
      SearchSession.buildIndex(ctx, st, "ivfsq")
      st.search(ctx.collection, stream(0), ctx.k, ctx.provider, "ivfsq")
        .collect()
      phase(ctx.opts.seconds / 2.0)
    }
    ctx.sampleHeap(force = true)
    r.info(s"corpus: docs=${built.corpus.all.size} chunks=${built.chunks} " +
      s"live_docs=${live.size} store_bytes=${Ingest.files(collDir).values.sum} " +
      s"cycles=$cycle writes=$written deleted=${deleted.size} queries=$qi")
    checkStore(ctx, st, nChunks.values.sum, deleted.toSet)
    r.e2e("throughput_per_s",
      if (cycleWall > 0) writtenUntraced / cycleWall else 0, "1/s")
    r.e2e("peak_heap_mb", ctx.peakHeapMb, "MB")
    latencies(ctx, "freshness", fresh.toSeq)
    latencies(ctx, "search.after_write.ivfsq", searchMs.toSeq)
    if (ctx.opts.trace) {
      layerMetrics(ctx, overhead(tracedFresh.toSeq, fresh.toSeq))
      // This workload's own layers, beyond the common list.
      val tr = ctx.tracer
      r.layer("index.refresh.s", tr.selfS("index.refresh"), "s")
      r.layer("index.refresh.jobs", tr.counters("index.refresh").jobs.toDouble,
        "count")
      r.layer("search.after_write.ivfsq.driver_ms", Report.median(
        tr.named("search.after_write.ivfsq").map(tr.driverMs)), "ms")
    }
  }
}

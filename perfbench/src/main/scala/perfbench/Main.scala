package perfbench

import graft.functions.{Embedding, EmbeddingProvider}
import graft.model.{ElementRow, IngestionResult}
import graft.operators.{Embed, IngestionPipeline, SemanticChunker}
import graft.parse.{MarkdownParser, PdfTextExtractor}
import graft.sources.{DatabaseSource, MarkdownSource, PdfSource, SqliteReader}
import graft.store.{ChunkStore, SnapshotStore}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Command line of one benchmark run (see perfbench/run.py). */
final case class Opts(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: Path, tiny: Boolean, plant: String,
    spansOut: Option[Path])

object Opts {
  def parse(args: Array[String]): Opts = {
    def opt(name: String, dflt: String): String = {
      val i = args.indexOf(s"--$name")
      if (i >= 0 && i + 1 < args.length) args(i + 1) else dflt
    }
    val o = Opts(opt("workload", ""), opt("seed", "1").toLong,
      opt("seconds", "10").toInt, opt("trace", "0") == "1",
      Paths.get(opt("work", "")).toAbsolutePath,
      opt("size", "full") == "tiny", opt("plant", "none"),
      Option(opt("spans", null)).map(Paths.get(_).toAbsolutePath))
    require(args.contains("--work"), "--work <dir> is required")
    require(Workloads.all.contains(o.workload),
      s"unknown --workload '${o.workload}' " +
        s"(${Workloads.all.keys.toSeq.sorted.mkString("|")})")
    require(Set("none", "wrong", "throw")(o.plant),
      s"unknown --plant '${o.plant}' (none|wrong|throw)")
    o
  }
}

/** Everything a run reports: metrics by name with units, failed checks,
  * and the attempted/failed operation counts.
  */
final class Report {
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val problems = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def e2e(name: String, v: Double, unit: String): Unit =
    endToEnd(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit =
    perLayer(name) = (v, unit)
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) problems += what
  def info(line: String): Unit = println(s"# $line")

  def json(trace: Boolean): String = {
    val ms = if (trace) perLayer else endToEnd
    val body = ms.map { case (k, (v, u)) =>
      s""""$k": {"value": ${Report.num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${problems.isEmpty}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$body}}"""
  }
}

object Report {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v)
      .round(new java.math.MathContext(10)).stripTrailingZeros
      .toPlainString

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Shared state of one run: session, options, tracer, report, and the
  * engine objects every workload uses (the CLI's defaults: hashing
  * embedder, snapshot layout with 16 buckets).
  */
final class Ctx(val spark: SparkSession, val opts: Opts, val sessionS: Double) {
  val report = new Report
  val tracer = new Tracer(spark.sparkContext)
  val provider: EmbeddingProvider = Embedding.default
  val chunker = new SemanticChunker(embedder = provider)
  val k = 5
  val collection = "documents"
  val counts = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private var peakHeap = 0.0
  private var lastHeapNs = 0L

  def store(root: Path): SnapshotStore =
    new SnapshotStore(spark, root.toString, nBuckets = 16)

  def dir(name: String): Path = {
    val d = opts.work.resolve(name)
    Files.createDirectories(d)
    d
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Driver heap after a full collection, kept as the run's peak. Called
    * between client operations, never inside a timed one, at most every
    * 4 s. Collections repeat until the heap stops shrinking: Spark frees
    * unpersisted blocks and unreachable checkpoints asynchronously, only
    * after a collection has found them.
    */
  def sampleHeap(force: Boolean = false): Unit =
    if (force || System.nanoTime() - lastHeapNs > 4000000000L) {
      val mem = ManagementFactory.getMemoryMXBean
      def usedAfterGc(): Long = { System.gc(); mem.getHeapMemoryUsage.getUsed }
      var used = usedAfterGc()
      var shrinking = true
      var i = 0
      while ((shrinking || i < 2) && i < 6) {
        Thread.sleep(100)
        val next = usedAfterGc()
        shrinking = used - next > (1L << 20)
        used = math.min(used, next)
        i += 1
      }
      peakHeap = math.max(peakHeap, used / 1048576.0)
      lastHeapNs = System.nanoTime()
    }
  def peakHeapMb: Double = peakHeap

  /** One client operation: counted as attempted, and as failed when it
    * throws. Returns its wall time in ms with the result.
    */
  def op[T](body: => T): Option[(T, Double)] = {
    report.attempted += 1
    tracer.newRequest()
    val t0 = System.nanoTime()
    try {
      val r = body
      Some((r, (System.nanoTime() - t0) / 1e6))
    } catch {
      case NonFatal(e) =>
        report.failed += 1
        report.info(s"operation failed: ${e.getClass.getSimpleName}: " +
          s"${e.getMessage}".take(300))
        None
    }
  }

  /** The planted throwing operation of the self-test: the engine
    * rejects an unknown search mode.
    */
  def plantedThrow(st: ChunkStore): Unit =
    if (opts.plant == "throw")
      op(st.search(collection, "planted", k, provider, "bogus").collect())

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.iterator.asScala.toSeq.reverse.foreach(Files.delete)
    finally w.close()
  }
}

/** How the benchmark feeds the engine: the CLI's three `ingest` readers,
  * either as one `IngestionPipeline.run` (untraced) or split into layer
  * spans with each layer's output materialised in turn (traced).
  */
object Ingest {
  val readers: Seq[String] = Seq("markdown", "pdf", "database")

  def elements(spark: SparkSession, reader: String,
      path: Path): Dataset[ElementRow] = reader match {
    case "markdown" => MarkdownSource.elements(spark, path.toString)
    case "pdf" => PdfSource.elements(spark, path.toString)
    case "database" =>
      val rows = SqliteReader.readTable(path.toString, "Items")
        .map(r => (r.long(0), r.string(1), r.string(2)))
      DatabaseSource.elements(
        spark.createDataFrame(rows).toDF("id", "title", "body"))
  }

  def run(ctx: Ctx, reader: String, path: Path, st: ChunkStore,
      collection: String, collectionDir: Path): Seq[IngestionResult] =
    if (!ctx.tracer.enabled)
      IngestionPipeline.run(elements(ctx.spark, reader, path), st, collection,
        chunker = ctx.chunker, provider = ctx.provider).collect().toSeq
    else ctx.tracer.span("ingest")(
      split(ctx, reader, path, st, collection, collectionDir))

  /** The layers of `IngestionPipeline.run`, one span each, with the same
    * per-document results.
    */
  private def split(ctx: Ctx, reader: String, path: Path, st: ChunkStore,
      collection: String, collectionDir: Path): Seq[IngestionResult] = {
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.tracer
    val elems = tr.span("sources") {
      val e = elements(spark, reader, path).localCheckpoint(true)
      ctx.counts("sources.elements") += e.count()
      e
    }
    tr.span("parse")(parseOnDriver(reader, path))
    val failedDocs = elems.filter(col("element_type") === "error")
      .groupBy(col("doc_id"))
      .agg(first(col("text"), ignoreNulls = true).as("error"))
      .localCheckpoint(true)
    val good = elems.join(failedDocs.select(col("doc_id")), Seq("doc_id"),
      "left_anti").as[ElementRow]
    val chunks = tr.span("chunk") {
      val c = ctx.chunker.chunks(good).localCheckpoint(true)
      ctx.counts("chunk.chunks") += c.count()
      c
    }
    val embedded = tr.span("embed")(
      Embed.chunks(chunks, ctx.provider).localCheckpoint(true))
    commit(ctx, collectionDir)(st.upsert(embedded, collection))
    val counts = embedded.groupBy(col("documentid").as("doc_id"))
      .agg(count(lit(1)).as("n_chunks"))
    val results = elems.select(col("doc_id")).distinct()
      .join(failedDocs, Seq("doc_id"), "left")
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id").as("documentid"),
        col("error").isNull.as("succeeded"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"), col("error"))
      .as[IngestionResult].collect().toSeq
    ctx.counts("sources.docs") += results.size
    results
  }

  /** The parsers alone, called directly on the same inputs: the
    * difference to the `sources` span is the scan's cost.
    */
  private def parseOnDriver(reader: String, path: Path): Unit = reader match {
    case "markdown" | "pdf" =>
      val w = Files.list(path)
      val files = try w.iterator.asScala.toSeq.sortBy(_.toString)
        finally w.close()
      files.foreach { f =>
        val name = f.getFileName.toString
        if (reader == "markdown")
          MarkdownParser.parse(name, new String(Files.readAllBytes(f), UTF_8))
        else PdfTextExtractor.extract(Files.readAllBytes(f))
      }
    case _ => () // the SQLite page reader is the database source's scan
  }

  /** A store mutation in the `commit` span, with the files and bytes it
    * left in the collection (the `_index` sidecar excluded).
    */
  def commit[T](ctx: Ctx, root: Path)(body: => T): T =
    if (!ctx.tracer.enabled) body else {
      val before = files(root)
      val r = ctx.tracer.span("commit")(body)
      val added = files(root) -- before.keySet
      ctx.counts("commit.files") += added.size
      ctx.counts("commit.bytes") += added.values.sum
      r
    }

  /** Data and manifest files under a collection, by path, with sizes. */
  def files(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty else {
      val w = Files.walk(root)
      try w.iterator.asScala
        .filter(p => Files.isRegularFile(p))
        .filterNot(p => p.getFileName.toString.startsWith("."))
        .filterNot(p => root.relativize(p).toString.startsWith("_index"))
        .map(p => p.toString -> Files.size(p)).toMap
      finally w.close()
    }
}

object Main {
  def main(args: Array[String]): Unit = {
    val opts = try Opts.parse(args) catch {
      case e: IllegalArgumentException =>
        System.err.println(e.getMessage); sys.exit(2)
    }
    val t0 = System.nanoTime()
    val spark = graft.Main.session()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, opts, (System.nanoTime() - t0) / 1e9)
    val r = ctx.report
    r.info(s"workload=${opts.workload} seed=${opts.seed} " +
      s"seconds=${opts.seconds} trace=${if (opts.trace) 1 else 0} " +
      s"master=${spark.sparkContext.master} " +
      s"session_start_s=${Report.num(ctx.sessionS)}")
    val ok = try { Workloads.all(opts.workload)(ctx); true }
    catch {
      case NonFatal(e) =>
        System.err.println(s"benchmark aborted: $e")
        e.printStackTrace()
        false
    } finally spark.stop()
    if (!ok) sys.exit(1)
    r.problems.foreach(p => r.info(s"CHECK FAILED: $p"))
    val ms = if (opts.trace) r.perLayer else r.endToEnd
    ms.foreach { case (k, (v, u)) => r.info(s"metric $k = ${Report.num(v)} $u") }
    r.info(s"attempted=${r.attempted} failed=${r.failed} failed_share=" +
      Report.num(if (r.attempted == 0) 0.0 else r.failed.toDouble / r.attempted))
    println(r.json(opts.trace))
    if (r.problems.nonEmpty) sys.exit(1)
  }
}

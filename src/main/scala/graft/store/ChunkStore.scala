package graft.store

import graft.functions.{Embedding, EmbeddingProvider}
import graft.model.EmbeddedChunk
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The store seam: what the ingestion surface (batch pipeline, stream
  * ingest) requires of a chunk store — replace-by-document upsert with
  * idempotent deterministic keys, and schema-on-read read-back. Two
  * layouts implement it:
  *
  *   - [[VectorStore]]: one parquet partition per documentid — the
  *     reference's replace-unit layout (`VectorStoreCommands.cs:159`),
  *     right for ingest increments and REPL collections;
  *   - [[BucketedVectorStore]]: nBuckets hash partitions of documentid
  *     — the 100 TB layout (file census independent of document count,
  *     O(buckets) commits, bucket-pruned merges and point reads).
  *
  * The contract both must honor (and ChunkStoreSwapSpec certifies):
  * the LAYOUT is invisible to readers — the same pipeline run lands
  * byte-identical (key, content, context, documentid, embedding) rows
  * through either implementation.
  *
  * The QUERY surface (Q1 search, Q2 list) lives here too, implemented
  * once over `read`: search semantics must not depend on the layout,
  * so the CLI's `--layout` flag can swap stores without changing what
  * a query returns. The ANN scan hooks (implemented here, once)
  * serve from a persisted `_index` sidecar when one is FRESH, else
  * fit at search time — on either layout.
  */
trait ChunkStore extends AutoCloseable {
  protected def spark: SparkSession
  protected def root: String

  /** One directory per collection under the store root — the layout
    * both implementations share (what differs is INSIDE the
    * directory: documentid partitions vs hash buckets), so the
    * collection-scoped machinery (listing, fingerprints, the `_index`
    * sidecar) lives here, written once.
    */
  protected final def collectionPath(collection: String): String =
    s"$root/$collection"

  private def indexDir(collection: String, part: String) =
    s"${collectionPath(collection)}/_index/$part"

  /** Content-version fingerprint backing the `_index` freshness check —
    * any upsert/delete/compact must change it. Default: the raw
    * data-file census hash ([[ChunkStore.dataFingerprint]]), right for
    * the rename-commit layouts whose directories hold exactly the live
    * data. [[SnapshotStore]] overrides it with a hash of the LATEST
    * MANIFEST instead: its directories retain non-live files for time
    * travel, so a vacuum (which changes no live content) must NOT
    * invalidate a fresh index, and a commit (which changes only the
    * manifest until old files age out) MUST.
    */
  protected def storeFingerprint(collection: String): String =
    ChunkStore.dataFingerprint(spark, collectionPath(collection))

  /** SERVING MEMO — one materialized snapshot per store version, shared
    * by every search mode. A REPL sends query after query against a
    * store that does not change between them, so re-running the
    * collection read (on the snapshot layout: schema inference, the
    * merge-on-read arbitration aggregate, its joins and shuffles) per
    * query redoes identical work. Instead the collection's rows and
    * each sidecar's code table are materialized ONCE per version
    * through [[graft.SparkUtil.stableCheckpoint]] and every `exact`,
    * `lsh` and `ivfsq` [[search]] and [[searchAll]] scans those
    * blocks:
    *
    *   - KEYED BY VERSION: the chunks snapshot by [[storeFingerprint]],
    *     a code table by (fingerprint, [[sidecarStamp]]) together with
    *     its meta row. Every search revalidates with one driver-side
    *     listing (no job), so an upsert/delete/compact — by this
    *     instance or any other over the same root — is a miss that
    *     reloads; a stale entry never serves.
    *   - LINEAGE CUT: the snapshot holds rows only, not the plan that
    *     produced them — a plain `persist()` would keep that plan's
    *     broadcast relations alive for as long as the entry lives.
    *   - RELEASED ON CHANGE: a replaced entry, and every entry of a
    *     collection whose sidecar is rebuilt or refreshed
    *     ([[invalidateServing]]), is released at once; [[close]]
    *     releases them all, and a store dropped without closing is
    *     freed by the ContextCleaner. A search DataFrame is therefore
    *     valid until the store changes: collect it before writing.
    *   - FAILURE SEMANTICS are the checkpoint's: by default executor-
    *     local blocks, so a lost block fails the search (never wrong
    *     rows); with the durable opt-in (`spark.graft.checkpoint.
    *     reliable=true` plus a checkpoint dir) the snapshot survives
    *     executor loss. Both modes return the same rows.
    */
  private val servingMeta = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (String, org.apache.spark.sql.Row)]()
  private val servingDf = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (String, DataFrame)]()

  /** SIDECAR identity for the serving memo: the (name, length, mtime)
    * census of `mode`'s codes + meta dirs — one driver-side listing, no
    * job. The data fingerprint alone cannot key the memo safely:
    * sidecar rebuilds don't change it (sidecars are excluded from the
    * census by design), so a rebuild by ANOTHER process over the same
    * store root would leave this process's cached codes DataFrames
    * pointing at overwritten/deleted parquet files — searches would
    * then fail with FileNotFoundException or serve stale candidates
    * despite a "fresh" fingerprint. Keying the memo by (fingerprint,
    * sidecar stamp) makes any cross-process rebuild a cache miss
    * (ServingMemoSpec pins it); in-process rebuilds additionally drop
    * the memo eagerly via [[buildIndex]]/[[refreshIndex]].
    */
  private[store] def sidecarStamp(collection: String, mode: String): String = {
    // Opt-in stamp TTL (`spark.graft.serving.stampTtlMs`, default 0 =
    // revalidate every search, the local-fs-safe behavior the specs
    // pin). On a real object store the stamp is two LIST requests per
    // search on the serving hot path; the cross-process-rebuild safety
    // it buys only needs eventual (per-window) detection there, so a
    // deployment can trade "a cross-process rebuild is invisible for up
    // to TTL (a search in that window fails loudly on the overwritten
    // files, never serves silently wrong rows)" for LIST-free repeat
    // searches. In-process rebuilds stay exact: buildIndex/refreshIndex
    // drop this cache eagerly via [[invalidateServing]].
    val ttlMs = spark.conf.get("spark.graft.serving.stampTtlMs", "0").toLong
    val key = (collection, mode)
    if (ttlMs > 0) {
      val hit = stampCache.get(key)
      if (hit != null && System.nanoTime() < hit._1) return hit._2
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    Seq(indexDir(collection, mode), indexDir(collection, s"${mode}_meta"))
      .foreach { d =>
        val fsys = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(d), spark.sparkContext.hadoopConfiguration)
        val p = new org.apache.hadoop.fs.Path(d)
        if (fsys.exists(p))
          fsys.listStatus(p).map(st => s"${st.getPath.getName}:" +
              s"${st.getLen}:${st.getModificationTime}")
            .sorted.foreach(e => md.update(e.getBytes("UTF-8")))
      }
    val stamp = md.digest().map("%02x".format(_)).mkString
    if (ttlMs > 0)
      stampCache.put(key, (System.nanoTime() + ttlMs * 1000000L, stamp))
    stamp
  }

  private val stampCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (Long, String)]()

  /** The fresh meta row for `mode`'s sidecar plus the serving token the
    * codes memo is keyed under, or None when the sidecar is absent or
    * stale — ONE fingerprint listing + one sidecar listing per call,
    * one meta parquet read per (re)load.
    */
  protected final def freshMeta(collection: String,
      mode: String): Option[(org.apache.spark.sql.Row, String)] = {
    val fp = storeFingerprint(collection)
    val token = s"$fp|${sidecarStamp(collection, mode)}"
    val key = (collection, mode)
    val cached = servingMeta.get(key)
    if (cached != null && cached._1 == token)
      return Some((cached._2, token))
    val metaDir = indexDir(collection, s"${mode}_meta")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(metaDir), spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(metaDir))) return None
    val meta = spark.read.parquet(metaDir).head()
    if (meta.getAs[String]("fingerprint") != fp) return None
    servingMeta.put(key, (token, meta))
    Some((meta, token))
  }

  /** The memoized snapshot of `part` under `token`: a hit returns it,
    * a miss materializes `load` and releases the entry it replaces.
    * Loads are serialized per store, so two racing searches never
    * materialize (and release) the same version twice.
    */
  private def servingSnapshot(collection: String, part: String,
      token: String)(load: => DataFrame): DataFrame =
    servingDf.synchronized {
      val key = (collection, part)
      val cached = servingDf.get(key)
      if (cached != null && cached._1 == token) cached._2
      else {
        val df = graft.SparkUtil.stableCheckpoint(load)
        release(servingDf.put(key, (token, df)))
        df
      }
    }

  private def release(entry: (String, DataFrame)): Unit =
    if (entry != null) graft.SparkUtil.releaseCheckpoint(entry._2)

  /** Code table (part = "lsh" | "ivfsq") under the serving `token`
    * (fingerprint + sidecar stamp — see [[sidecarStamp]] for why the
    * fingerprint alone is not enough).
    */
  private def servingCodes(collection: String, part: String,
      token: String): DataFrame =
    servingSnapshot(collection, s"codes_$part", token)(
      spark.read.parquet(indexDir(collection, part)))

  /** The collection's rows under `fp`. `fp` is taken BEFORE the read,
    * so a commit racing the load can only make the snapshot newer than
    * its key — the next search's fingerprint then misses and reloads.
    */
  private def servingChunks(collection: String, fp: String): DataFrame =
    servingSnapshot(collection, "chunks", fp)(read(collection))

  /** Drop and release a collection's serving memo — called by
    * [[buildIndex]] and [[refreshIndex]], whose sidecar OVERWRITES are
    * invisible to the data fingerprint (sidecars are excluded from it
    * by design). Data-path mutations (upsert/delete/compact) need no
    * hook — they change the fingerprint, which every lookup
    * revalidates, and the reload releases the entry it replaces.
    */
  private def invalidateServing(collection: String): Unit =
    servingDf.synchronized {
      Seq("lsh", "ivfsq").foreach { m =>
        servingMeta.remove((collection, m))
        stampCache.remove((collection, m))
      }
      Seq("codes_lsh", "codes_ivfsq", "chunks").foreach(k =>
        release(servingDf.remove((collection, k))))
    }

  /** Release every serving snapshot this store holds. The store stays
    * usable: the next search reloads.
    */
  def close(): Unit = servingDf.synchronized {
    servingDf.values().forEach(e => release(e))
    servingDf.clear()
    servingMeta.clear()
    stampCache.clear()
  }

  def upsert(chunks: Dataset[EmbeddedChunk], collection: String): Unit
  def read(collection: String): DataFrame

  /** DELETE whole documents — the takedown/right-to-be-forgotten
    * primitive every long-lived store needs (the replace-by-document
    * upsert can only ever replace, never remove). The unit is the
    * documentid, matching the upsert contract; deleting an absent id
    * is a no-op; cost follows the layout's replace unit (per-document
    * partitions dropped / touched buckets rewritten), never the store.
    */
  def delete(collection: String, docIds: Seq[String]): Unit

  /** Store maintenance: rewrite a collection to its canonical file
    * layout. Returns (files_before, files_after).
    */
  def compact(collection: String): (Long, Long)

  /** Q2: list collection names (subdirectories of the store root) —
    * layout-independent, both stores keep one directory per collection.
    */
  def listCollections(): Seq[String] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(_.startsWith("_")).toSeq.sorted
  }

  /** Q1: cosine KNN. Embeds the query with the same provider used at
    * ingest time (one generator for both, as in `Program.cs:76-79`), scores
    * with codegen-friendly higher-order functions (no UDF), and reduces with
    * TakeOrderedAndProject — the only cross-node traffic is k rows.
    *
    * `mode` selects the scan strategy; the DEFAULT is `exact` (the
    * reference's semantics — sqlite-vec brute force scan,
    * `VectorStoreCommands.cs:113`). The ANN modes are opt-in and
    * APPROXIMATE (sub-linear scan, recall < 1):
    *
    *   - `lsh`: random-hyperplane bucket probe (radius-
    *     [[ChunkStore.LshProbeRadius]] multiprobe) — only the probe
    *     buckets are scanned, candidates re-scored with exact cosine.
    *   - `ivfsq`: the composed IVF-SQ tier (q138's operator) — coarse
    *     k-means probe pruning + SQ8 residual codes rank the
    *     candidates in integer space; the returned rows carry exact
    *     cosine scores. The chunk embeddings are L2-normalized at
    *     ingest, so L2 ranking and cosine ranking agree.
    *
    * Every mode returns the SAME shape: chunk columns + `score`
    * (cosine, 6dp), ordered (score desc, key). The trait's ANN hooks
    * build the index at search time from the collection (the
    * convenience path — right for REPL-sized collections);
    * [[buildIndex]] persists the code tables once so the
    * serving path reads a `_index` sidecar instead — exactly the
    * stored-code shape q128/q138 certify under the oracle.
    */
  def search(collection: String, queryText: String, k: Int = 1,
      provider: EmbeddingProvider = Embedding.default,
      mode: String = "exact"): DataFrame = mode match {
    case "exact" =>
      val qv = provider.embed(queryText)
      servingChunks(collection, storeFingerprint(collection))
        .withColumn("score",
          round(graft.operators.Ann.cosineCol(col("embedding"), qv), 6))
        .orderBy(col("score").desc, col("key"))
        .limit(k)
    case "lsh" => searchLsh(collection, provider.embed(queryText), k)
    case "ivfsq" => searchIvfsq(collection, provider.embed(queryText), k)
    case other => throw new IllegalArgumentException(
      s"unknown search mode '$other' (exact|lsh|ivfsq)")
  }

  /** SET-ORIENTED Q1: answer a query BATCH in ONE plan per mode — the
    * serving shape a production search tier runs (and the r19 profile
    * demanded: ~75% of a per-query search's wall was driver-side
    * planning/collect, paid once per query; a batch pays it once per
    * MODE). Per query the returned (key, score) rows, ranking and
    * tie-breaks are EXACTLY [[search]]'s — the per-query `limit(k)`
    * becomes a row_number window over the same (score desc, key) order,
    * the probe prunes become broadcast equality joins on the same
    * driver-computed probe lists, and the scoring expression is the
    * same codegen'd [[graft.functions.CosineSimilarity]] with the query
    * vector as a joined column instead of a folded literal
    * (BatchedSearchSpec pins `searchAll ≡ queries.map(search)` rowwise
    * on all three modes, serving and fit-at-search paths). The corpus
    * is scanned ONCE for the whole batch; the only per-query state
    * shipped is the broadcast batch itself — at 100 TB this is the
    * difference between q queries × one scan each and one scan.
    *
    * Returns (query_id, key, score), per-query top-`k`, ordered
    * (query_id, score desc, key) — in EVERY mode, including exact:
    * unlike [[search]], which in exact mode returns the full chunk
    * columns plus score, the batch path ships only the id/score pair
    * (callers needing chunk columns join them back on `key`).
    */
  def searchAll(collection: String, queries: Seq[(Long, String)],
      k: Int = 1, provider: EmbeddingProvider = Embedding.default,
      mode: String = "exact"): DataFrame = {
    require(queries.nonEmpty, "searchAll needs at least one query")
    val qvs = queries.map { case (qid, text) => (qid, provider.embed(text)) }
    require(qvs.map(_._2.length).distinct.size == 1,
      "searchAll query batch mixes embedding dimensions")
    mode match {
      case "exact" =>
        rescoreTopK(servingChunks(collection, storeFingerprint(collection))
          .select(col("key"), col("embedding")), qvs, k)
      case "lsh" => searchAllLsh(collection, qvs, k)
      case "ivfsq" => searchAllIvfsq(collection, qvs, k)
      case other => throw new IllegalArgumentException(
        s"unknown search mode '$other' (exact|lsh|ivfsq)")
    }
  }

  /** The batch as a broadcast (query_id, __qv float vector) frame. */
  private def queryBatchDf(qvs: Seq[(Long, Array[Float])]): DataFrame = {
    val s0 = spark
    import s0.implicits._
    broadcast(qvs.toDF("query_id", "__qv"))
  }

  /** Exact cosine + per-query top-k over (key, embedding[, query_id])
    * rows: when `cand` already carries a query_id the scoring join is
    * keyed on it (each candidate scores against ITS query); otherwise
    * every key scores against every query of the batch (the exact-mode
    * full scan).
    */
  private def rescoreTopK(cand: DataFrame, qvs: Seq[(Long, Array[Float])],
      k: Int): DataFrame = {
    val q = queryBatchDf(qvs)
    val hasQid = cand.columns.contains("query_id")
    val joined = if (hasQid) cand.join(q, Seq("query_id"))
      else cand.crossJoin(q)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("key"))
    val scored = joined
      .select(col("query_id"), col("key"),
        round(graft.functions.CosineSimilarity(col("embedding"),
          col("__qv")), 6).as("score"))
    // 100 TB shape (r21): in exact mode the window input is the whole
    // corpus × batch, and a bare per-query row_number would funnel every
    // scored row into |batch| tasks — one full per-query corpus sort per
    // task (the same single-task-window class PlanAuditSpec hunts, at
    // low instead of empty partition cardinality). Bound it first: a
    // per-(scan partition, query) local top-k leaves ≤ k × partitions
    // rows per query for the global ranking, and any partitioning of
    // the scan yields the same global top-k. The ANN modes skip the
    // extra exchange — their candidate sets are already pool-bounded
    // per query by the probe/pool prune.
    val bounded = if (hasQid) scored else {
      val lw = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id", "__p")
        .orderBy(col("score").desc, col("key"))
      scored.withColumn("__p", spark_partition_id())
        .withColumn("__lrn", row_number().over(lw))
        .filter(col("__lrn") <= k)
        .drop("__p", "__lrn")
    }
    bounded
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col("key"), col("score"))
      .orderBy(col("query_id"), col("score").desc, col("key"))
  }

  /** Batched [[searchLsh]]: ONE probe join for the whole batch against
    * the persisted bucket table when fresh, else one fit-at-search
    * index over one collection read. Candidate sets per query are
    * exactly the per-query path's (a bucket-equality broadcast join
    * replays the probe filter).
    */
  private def searchAllLsh(collection: String,
      qvs: Seq[(Long, Array[Float])], k: Int): DataFrame = {
    val s0 = spark
    import s0.implicits._
    freshMeta(collection, "lsh") match {
      case Some((meta, token)) =>
        val fp = meta.getAs[String]("fingerprint")
        val dim = meta.getAs[Int]("dim")
        require(dim == qvs.head._2.length,
          s"lsh index dim $dim != query dim ${qvs.head._2.length}")
        val lsh = new graft.operators.Ann.RandomHyperplaneLsh(
          nBits = meta.getAs[Int]("nbits"), dim = dim,
          seed = meta.getAs[Long]("seed"))
        val probesDf = broadcast(qvs.flatMap { case (qid, qv) =>
          lsh.probeBuckets(qv, ChunkStore.LshProbeRadius).map(b => (qid, b))
        }.toDF("query_id", "bucket"))
        val cand = servingCodes(collection, "lsh", token)
          .join(probesDf, Seq("bucket"))
          .select(col("query_id"), col("key"))
        rescoreTopK(servingChunks(collection, fp)
          .select(col("key"), col("embedding")).join(cand, Seq("key")),
          qvs, k)
      case None =>
        val chunks = read(collection)
        val lsh = new graft.operators.Ann.RandomHyperplaneLsh(
          nBits = lshBitsFor(chunks.count()), dim = qvs.head._2.length)
        val probesDf = broadcast(qvs.flatMap { case (qid, qv) =>
          lsh.probeBuckets(qv, ChunkStore.LshProbeRadius).map(b => (qid, b))
        }.toDF("query_id", "bucket"))
        rescoreTopK(lsh.index(chunks, "embedding")
          .select(col("key"), col("embedding"), col("bucket"))
          .join(probesDf, Seq("bucket"))
          .select(col("query_id"), col("key"), col("embedding")),
          qvs, k)
    }
  }

  /** Batched [[searchIvfsq]]: the whole batch through ONE
    * [[graft.operators.IvfSq.searchCodesAll]] pass (persisted codes
    * when fresh, a one-shot fit + encode when not), then one exact
    * cosine re-score of the per-query survivors.
    */
  private def searchAllIvfsq(collection: String,
      qvs: Seq[(Long, Array[Float])], k: Int): DataFrame = {
    val dim = qvs.head._2.length
    val pool = math.max(200, 20 * k)
    val (codes, chunks, m) = freshMeta(collection, "ivfsq") match {
      case Some((meta, token)) =>
        require(meta.getAs[Int]("dim") == dim,
          s"ivfsq index dim ${meta.getAs[Int]("dim")} != query dim $dim")
        val model = new graft.operators.IvfSq.Model(
          new graft.operators.Ann.Ivf(
            meta.getAs[scala.collection.Seq[scala.collection.Seq[Long]]](
              "cents").map(_.toArray).toArray),
          new graft.operators.Sq.Model(
            meta.getAs[scala.collection.Seq[Long]]("mn").toArray,
            meta.getAs[scala.collection.Seq[Long]]("mx").toArray))
        (servingCodes(collection, "ivfsq", token),
          servingChunks(collection, meta.getAs[String]("fingerprint")),
          model)
      case None =>
        val chunks = read(collection)
        val model = graft.operators.IvfSq.fit(chunks, "key", "embedding",
          kCentroids = 8, dim = dim)
        (graft.operators.IvfSq.index(chunks, "embedding", model)
          .select(col("key"), col("ivf_cid"), col("sq_code")),
          chunks, model)
    }
    val ids = graft.operators.IvfSq.searchCodesAll(codes, chunks,
        "key", "embedding", "ivf_cid", "sq_code", m, qvs,
        k = k, nprobe = ChunkStore.IvfsqNprobe, pool = pool)
      .select(col("query_id"), col("key"))
    rescoreTopK(chunks.select(col("key"), col("embedding"))
      .join(broadcast(ids), Seq("key")), qvs, k)
  }

  /** LSH bucket count sized to the collection (~8 vectors/bucket): a
    * fixed high nBits over a small collection scatters neighbors into
    * unprobed buckets (recall collapses), a fixed low one over a large
    * collection stops pruning. At store scale nBits grows as log2(n) —
    * the scan stays ~constant per bucket. Shared by the fit-at-search
    * path and [[buildIndex]] so a sidecar built over the
    * same rows probes the same buckets.
    */
  protected final def lshBitsFor(n: Long): Int =
    math.max(2, math.min(16,
      (math.log(math.max(n, 8L).toDouble / 8.0) / math.log(2.0))
        .round.toInt))

  /** LSH serving: the persisted bucket table when fresh (scan = probe
    * buckets of a (key, bucket) table + a keyed join back for exact
    * re-score), else fit-at-search. Identical output either way: the
    * sidecar stores the SAME deterministic hyperplane-family
    * assignment (nBits from the same size rule, fixed seed) the
    * search-time fit would recompute. Layout-independent — the sidecar
    * lives under `<collection>/_index/` on EITHER store, so the 100 TB
    * bucketed layout serves from a persisted index exactly like the
    * per-document one (BOTH layouts exercised by IndexSidecarSpec).
    */
  protected final def searchLsh(collection: String, qv: Array[Float],
      k: Int): DataFrame = {
    val (meta, token) = freshMeta(collection, "lsh") match {
      case None => return searchLshFit(collection, qv, k)
      case Some(m) => m
    }
    val fp = meta.getAs[String]("fingerprint")
    val nBits = meta.getAs[Int]("nbits")
    val dim = meta.getAs[Int]("dim")
    require(dim == qv.length,
      s"lsh index dim $dim != query dim ${qv.length}")
    val lsh = new graft.operators.Ann.RandomHyperplaneLsh(
      nBits = nBits, dim = dim, seed = meta.getAs[Long]("seed"))
    val probes = lsh.probeBuckets(qv, ChunkStore.LshProbeRadius)
    val cand = servingCodes(collection, "lsh", token)
      .filter(graft.operators.Ann.isInLit(col("bucket"), probes))
      .select(col("key"))
    servingChunks(collection, fp).join(cand, Seq("key"))
      .withColumn("score",
        round(graft.operators.Ann.cosineCol(col("embedding"), qv), 6))
      .orderBy(col("score").desc, col("key"))
      .limit(k)
  }

  /** Fit-at-search LSH (the REPL convenience path, and the fallback
    * whenever no FRESH sidecar exists — never silently serving an
    * index that is missing the newest documents).
    */
  private def searchLshFit(collection: String, qv: Array[Float],
      k: Int): DataFrame = {
    val chunks = read(collection)
    val nBits = lshBitsFor(chunks.count())
    val lsh = new graft.operators.Ann.RandomHyperplaneLsh(
      nBits = nBits, dim = qv.length)
    // Radius-[[ChunkStore.LshProbeRadius]] multiprobe — the measured
    // operating point (SCALE.md "ANN recall operating point"); the
    // production scan-budget knob is the stored-code index tier
    // (q128/q138), not this convenience path.
    val probes = lsh.probeBuckets(qv, ChunkStore.LshProbeRadius)
    lsh.index(chunks, "embedding")
      .filter(col("bucket").isin(probes: _*))
      .drop("bucket")
      .withColumn("score",
        round(graft.operators.Ann.cosineCol(col("embedding"), qv), 6))
      .orderBy(col("score").desc, col("key"))
      .limit(k)
  }

  /** IVF-SQ serving: the persisted code table + fitted model when
    * fresh ([[graft.operators.IvfSq.searchCodes]] — probe-pruned
    * integer ranking over (key, cid, code) rows, exact re-score joined
    * from the collection), else fit-at-search. The fit is
    * deterministic over the same rows, so sidecar and fit-at-search
    * return the identical id set.
    */
  protected final def searchIvfsq(collection: String, qv: Array[Float],
      k: Int): DataFrame = {
    val (meta, token) = freshMeta(collection, "ivfsq") match {
      case None => return searchIvfsqFit(collection, qv, k)
      case Some(m) => m
    }
    val fp = meta.getAs[String]("fingerprint")
    val dim = meta.getAs[Int]("dim")
    require(dim == qv.length,
      s"ivfsq index dim $dim != query dim ${qv.length}")
    val cents = meta.getAs[scala.collection.Seq[scala.collection.Seq[Long]]](
      "cents").map(_.toArray).toArray
    val m = new graft.operators.IvfSq.Model(
      new graft.operators.Ann.Ivf(cents),
      new graft.operators.Sq.Model(
        meta.getAs[scala.collection.Seq[Long]]("mn").toArray,
        meta.getAs[scala.collection.Seq[Long]]("mx").toArray))
    val chunks = servingChunks(collection, fp)
    val ids = graft.operators.IvfSq.searchCodes(
        servingCodes(collection, "ivfsq", token), chunks,
        "key", "embedding", "ivf_cid", "sq_code", m, qv,
        k = k, nprobe = ChunkStore.IvfsqNprobe,
        pool = math.max(200, 20 * k))
      .select(col("key"))
    chunks.join(broadcast(ids), Seq("key"))
      .withColumn("score",
        round(graft.operators.Ann.cosineCol(col("embedding"), qv), 6))
      .orderBy(col("score").desc, col("key"))
      .limit(k)
  }

  /** Fit-at-search IVF-SQ (the REPL convenience path / fallback). */
  private def searchIvfsqFit(collection: String, qv: Array[Float],
      k: Int): DataFrame = {
    val chunks = read(collection)
    val m = graft.operators.IvfSq.fit(chunks, "key", "embedding",
      kCentroids = 8, dim = qv.length)
    val ids = graft.operators.IvfSq.search(chunks, "key", "embedding",
        m, qv, k = k, nprobe = ChunkStore.IvfsqNprobe,
        pool = math.max(200, 20 * k))
      .select(col("key"))
    chunks.join(broadcast(ids), Seq("key"))
      .withColumn("score",
        round(graft.operators.Ann.cosineCol(col("embedding"), qv), 6))
      .orderBy(col("score").desc, col("key"))
      .limit(k)
  }

  /** Persist the ANN index sidecar for `mode` (`lsh` or `ivfsq`) under
    * `<collection>/_index/` — the write-time half of the stored-code
    * index tier (q128/q138): fit once, serve many. Each sidecar
    * carries the store's [[ChunkStore.dataFingerprint]] at build time;
    * [[search]] trusts it only while the fingerprint still matches.
    * The code tables store only (key, documentid, code) — int8/int
    * columns, the ~1% footprint that makes a persisted index
    * affordable at 100 TB — and float vectors stay solely in the
    * collection, joined back for the exact re-score of the pruned
    * survivors. An underscore-prefixed sidecar dir is invisible to the
    * collection's own parquet reads and excluded from the file census,
    * so building an index changes neither query results nor compaction
    * certificates. Layout-independent: the build reads through
    * [[read]], so the bucketed store indexes exactly like the
    * per-document one.
    */
  def buildIndex(collection: String, mode: String): Unit = {
    invalidateServing(collection)
    buildIndexImpl(collection, mode)
    invalidateServing(collection)
  }

  private def buildIndexImpl(collection: String, mode: String): Unit = mode match {
    case "ivfsq" =>
      val fp = storeFingerprint(collection)
      val chunks = read(collection)
      val dim = chunks.select("embedding").head().getSeq[Float](0).length
      val m = graft.operators.IvfSq.fit(chunks, "key", "embedding",
        kCentroids = 8, dim = dim)
      graft.operators.IvfSq.index(chunks, "embedding", m)
        .select(col("key"), col("documentid"), col("ivf_cid"),
          col("sq_code"))
        .write.mode("overwrite").parquet(indexDir(collection, "ivfsq"))
      spark.createDataset(Seq(ChunkStore.IvfSqMeta(fp, dim,
          m.ivf.centroidsE6.map(_.toSeq).toSeq,
          m.sq.mnE6.toSeq, m.sq.mxE6.toSeq)))(
          org.apache.spark.sql.Encoders.product[ChunkStore.IvfSqMeta])
        .coalesce(1).write.mode("overwrite")
        .parquet(indexDir(collection, "ivfsq_meta"))
    case "lsh" =>
      val fp = storeFingerprint(collection)
      val chunks = read(collection)
      val dim = chunks.select("embedding").head().getSeq[Float](0).length
      val nBits = lshBitsFor(chunks.count())
      val lsh = new graft.operators.Ann.RandomHyperplaneLsh(
        nBits = nBits, dim = dim)
      lsh.index(chunks, "embedding")
        .select(col("key"), col("documentid"), col("bucket"))
        .write.mode("overwrite").parquet(indexDir(collection, "lsh"))
      spark.createDataset(Seq(ChunkStore.LshMeta(fp, dim, nBits, 42L)))(
          org.apache.spark.sql.Encoders.product[ChunkStore.LshMeta])
        .coalesce(1).write.mode("overwrite")
        .parquet(indexDir(collection, "lsh_meta"))
    case other => throw new IllegalArgumentException(
      s"unknown index mode '$other' (lsh|ivfsq)")
  }

  /** True iff `mode`'s sidecar exists AND was built over exactly the
    * current data files (fingerprint match) — one driver-side listing
    * plus a 1-row meta read; no scan of the collection. Any upsert,
    * delete or compact since the build flips this false, which is the
    * signal the q151 refresh policy acts on (rebuild/refresh) and
    * [[search]] acts on conservatively (serve fit-at-search instead of
    * a stale index — never silently missing the newest documents).
    */
  def hasFreshIndex(collection: String, mode: String): Boolean =
    freshMeta(collection, mode).isDefined

  /** INCREMENTAL index maintenance — the production refresh pattern:
    * the fitted MODEL stays FROZEN (refitting is rare and deliberate —
    * that is [[buildIndex]]); only the named documents' code rows are
    * re-derived. The caller passes exactly its upsert/delete batch's
    * documentids (the replace unit, so the delta is known for free):
    * their old code rows are dropped, the documents' CURRENT chunks —
    * none, for a deleted document — are re-encoded under the frozen
    * model and appended, and the meta is re-stamped with the store's
    * current fingerprint. The result is REQUIRED-equal to re-encoding
    * the whole collection under the same model (q242 certifies
    * `refresh(Δ) == frozen-model full re-encode` by set equality), so
    * staleness never accumulates across refreshes. Cost: the changed
    * documents' encode + one rewrite of the codes TABLE (~1% of store
    * bytes; at 100 TB, partition the codes by cid/bucket and dynamic-
    * overwrite only the touched partitions — same discipline, smaller
    * unit). The rewrite commits through [[ChunkStore.commitSwap]].
    */
  def refreshIndex(collection: String, mode: String,
      docIds: Seq[String]): Unit = {
    require(Set("lsh", "ivfsq")(mode),
      s"unknown index mode '$mode' (lsh|ivfsq)")
    invalidateServing(collection)
    val codesDir = indexDir(collection, mode)
    val metaDir = indexDir(collection, s"${mode}_meta")
    val meta = spark.read.parquet(metaDir).head()
    val chunks = read(collection)
    val changed = chunks.filter(col("documentid").isin(
      docIds.map(x => x: Any): _*))
    val fresh = mode match {
      case "ivfsq" =>
        val cents = meta.getAs[scala.collection.Seq[
          scala.collection.Seq[Long]]]("cents").map(_.toArray).toArray
        val m = new graft.operators.IvfSq.Model(
          new graft.operators.Ann.Ivf(cents),
          new graft.operators.Sq.Model(
            meta.getAs[scala.collection.Seq[Long]]("mn").toArray,
            meta.getAs[scala.collection.Seq[Long]]("mx").toArray))
        graft.operators.IvfSq.index(changed, "embedding", m)
          .select(col("key"), col("documentid"), col("ivf_cid"),
            col("sq_code"))
      case "lsh" =>
        val lsh = new graft.operators.Ann.RandomHyperplaneLsh(
          nBits = meta.getAs[Int]("nbits"), dim = meta.getAs[Int]("dim"),
          seed = meta.getAs[Long]("seed"))
        lsh.index(changed, "embedding")
          .select(col("key"), col("documentid"), col("bucket"))
    }
    val kept = spark.read.parquet(codesDir)
      .filter(!col("documentid").isin(docIds.map(x => x: Any): _*))
    val tmp = codesDir + "__refresh_tmp"
    kept.unionByName(fresh).write.mode("overwrite").parquet(tmp)
    ChunkStore.commitSwap(spark, codesDir, tmp)
    // Re-stamp: same frozen model, current data fingerprint.
    val fp = storeFingerprint(collection)
    mode match {
      case "ivfsq" =>
        spark.createDataset(Seq(ChunkStore.IvfSqMeta(fp,
            meta.getAs[Int]("dim"),
            meta.getAs[scala.collection.Seq[scala.collection.Seq[Long]]](
              "cents").map(_.toSeq).toSeq,
            meta.getAs[scala.collection.Seq[Long]]("mn").toSeq,
            meta.getAs[scala.collection.Seq[Long]]("mx").toSeq)))(
            org.apache.spark.sql.Encoders.product[ChunkStore.IvfSqMeta])
          .coalesce(1).write.mode("overwrite").parquet(metaDir)
      case "lsh" =>
        spark.createDataset(Seq(ChunkStore.LshMeta(fp,
            meta.getAs[Int]("dim"), meta.getAs[Int]("nbits"),
            meta.getAs[Long]("seed"))))(
            org.apache.spark.sql.Encoders.product[ChunkStore.LshMeta])
          .coalesce(1).write.mode("overwrite").parquet(metaDir)
    }
    invalidateServing(collection)
  }
}

object ChunkStore {
  /** The ANN serving operating point, measured not guessed —
    * `graft.RecallSweep` over the embeddings table at sf0.001/0.01/0.1
    * (the weakly-clustered hard case; full curve in SCALE.md "ANN
    * recall operating point", r18). Radius-3 multiprobe reads
    * 1 + nBits + C(nBits,2) + C(nBits,3) buckets and measures mean
    * recall@10 of 0.90 / 0.86 / 0.64 across the three SFs (radius 2
    * read 0.66 / 0.68 / 0.42 — under the q-gate floor at sf0.1). At
    * store scale nBits grows as log2(n/8), so the radius-3 ball is a
    * VANISHING scan fraction (nBits=16 ⇒ 697 of 65536 buckets ≈ 1%)
    * — the scan cost of the recall floor shrinks as the store grows.
    */
  val LshProbeRadius = 3

  /** nprobe=4 of the 8 coarse lists: measured mean recall@10
    * 0.74 / 0.72 / 0.80 across sf0.001/0.01/0.1 (nprobe=3 read
    * 0.60 / 0.62 / 0.72 — floor-grazing at the small SFs). Same
    * SCALE.md curve; on production embeddings (actually clustered)
    * the same nprobe scans a far smaller fraction than the uniform
    * synthetic table's 50%.
    */
  val IvfsqNprobe = 4

  /** MIGRATE a collection between layouts through the seam — the
    * operational path from the REPL-scale per-document store to the
    * 100 TB layouts (and between them): one schema-on-read scan of the
    * source, one replace-by-document upsert into the target (= ONE
    * commit there: a single atomic manifest version on the snapshot
    * layout, one bucket merge on the bucketed one). Deterministic keys
    * make a re-run idempotent, so a crashed migration is safely
    * re-runnable. At very large collections, shard the migration by
    * documentid ranges (several upserts — each still a consistent
    * replace unit) rather than one giant batch. Returns the migrated
    * row count, read back from the TARGET (the number a verifier
    * wants).
    */
  def migrate(from: ChunkStore, to: ChunkStore,
      collection: String): Long = {
    val src = from.read(collection).select(
      org.apache.spark.sql.functions.col("key"),
      org.apache.spark.sql.functions.col("embedding"),
      org.apache.spark.sql.functions.col("content"),
      org.apache.spark.sql.functions.col("context"),
      org.apache.spark.sql.functions.col("documentid"))
    to.upsert(src.as[EmbeddedChunk](
      org.apache.spark.sql.Encoders.product[EmbeddedChunk]), collection)
    to.read(collection).count()
  }

  /** `_index/ivfsq_meta` row: build fingerprint + the fitted model
    * (IVF centroids at e6, SQ residual bounds) — everything a search
    * needs to serve without refitting.
    */
  private[store] case class IvfSqMeta(fingerprint: String, dim: Int,
      cents: Seq[Seq[Long]], mn: Seq[Long], mx: Seq[Long])

  /** `_index/lsh_meta` row: build fingerprint + the deterministic
    * hyperplane-family parameters (the planes regenerate from
    * (nbits, dim, seed); only the bucket TABLE needs storing).
    */
  private[store] case class LshMeta(fingerprint: String, dim: Int,
      nbits: Int, seed: Long)

  /** Recursive .parquet data-file census under a store path — ONE
    * walker for every layout's compaction certificate (underscore
    * sidecar dirs — `_schema`, `_index` — are invisible to reads and
    * bounded in size, so they are not part of the census).
    */
  def countDataFiles(spark: org.apache.spark.sql.SparkSession,
      p: String): Long = {
    var n = 0L
    walkDataFiles(spark, p)(_ => n += 1)
    n
  }

  /** Content-version fingerprint of a store path: an MD5 over the
    * sorted (relative-path, length, mtime) of its data files. Any
    * upsert/compact changes at least one component, so an `_index`
    * sidecar stamped with the fingerprint at build time can be
    * freshness-checked with ONE driver-side listing (O(files), no
    * job) — the cheap staleness test [[hasFreshIndex]]
    * runs before trusting a persisted index. Sidecar dirs are
    * excluded (building an index must not invalidate it).
    */
  def dataFingerprint(spark: org.apache.spark.sql.SparkSession,
      p: String): String = {
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    val prefix = p.stripSuffix("/") + "/"
    walkDataFiles(spark, p) { f =>
      val rel = f.getPath.toString.split(prefix.replace("//", "/"), 2)
        .lastOption.getOrElse(f.getPath.getName)
      entries += s"$rel:${f.getLen}:${f.getModificationTime}"
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    entries.sorted.foreach(e => md.update(e.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def walkDataFiles(spark: org.apache.spark.sql.SparkSession,
      p: String)(f: org.apache.hadoop.fs.LocatedFileStatus => Unit): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(p), spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(p), true)
    while (it.hasNext) {
      val st = it.next()
      val isSidecar = st.getPath.toString.contains("/_schema/") ||
        st.getPath.toString.contains("/_index/")
      if (st.getPath.getName.endsWith(".parquet") && !isSidecar) f(st)
    }
  }

  /** CRASH-SAFE staged-rewrite commit: publish `tmp` at `dir` via
    * rename-aside — `dir → dir__compact_old`, `tmp → dir`, delete
    * `__old` — never delete-then-rename. The difference matters
    * exactly when the driver dies mid-commit: with delete-first a
    * crash between the two calls leaves the collection PATH ABSENT
    * (readers get PATH_NOT_FOUND; data recoverable from tmp only by
    * hand), while here every intermediate state keeps a complete copy
    * on disk — before step 2 the old data is intact at `__old` (and a
    * failed step 2 rolls it back into place), after step 2 the new
    * data is live and `__old` is garbage a later commit clears. On an
    * object store the renames are per-path metadata ops; both are
    * O(1) directory moves on HDFS-like filesystems.
    */
  def commitSwap(spark: org.apache.spark.sql.SparkSession, dir: String,
      tmp: String,
      rename: (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path,
        org.apache.hadoop.fs.Path) => Boolean = _.rename(_, _)): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val dirP = new org.apache.hadoop.fs.Path(dir)
    val tmpP = new org.apache.hadoop.fs.Path(tmp)
    val oldP = new org.apache.hadoop.fs.Path(dir + "__compact_old")
    // Leftover from a crash AFTER step 2 of a prior commit: the live
    // dir is already the compacted data; the aside copy is garbage.
    if (fs.exists(oldP)) fs.delete(oldP, true)
    require(rename(fs, dirP, oldP),
      s"compact: rename-aside $dir -> $oldP failed")
    val published =
      try rename(fs, tmpP, dirP)
      catch {
        case e: Throwable => fs.rename(oldP, dirP); throw e
      }
    if (!published) {
      // Roll the old data back into place: the collection stays
      // readable; the staged tmp remains for inspection/retry.
      fs.rename(oldP, dirP)
      throw new IllegalStateException(
        s"compact: publish $tmp -> $dir failed; previous data restored")
    }
    fs.delete(oldP, true)
  }
}

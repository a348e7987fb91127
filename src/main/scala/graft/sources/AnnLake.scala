package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** A similarity-search index AS A TABLE: the quantized-IVF index
  * persisted in a versioned lake, cell = partition. This is the
  * production shape for ANN over a growing corpus — the quantizer is
  * trained once, new embeddings are ASSIGNED and APPENDED (never a
  * rebuild), and a query batch reads only the partitions its probes
  * name.
  *
  * Layout under `lakeDir`:
  *  - `vectors/` — a [[VersionedLake]] of (doc, v, cell), partitioned
  *    by cell, so every lake capability applies to the index itself:
  *    time travel (search the index as of any version), exactly-once
  *    streaming appends via batch ids, OCC for concurrent writers,
  *    compaction for the one-file-per-increment growth;
  *  - `centroids/` — the frozen (cell, cv) integer centroids of
  *    [[Similarity.quantizedKMeans]] (20-bit fixed point, so the
  *    append-time assignment replays the build-time rule bit-exactly
  *    on any engine).
  *
  * Scale shape: `search` probes centroids first (a query×nlist
  * broadcast product), collects the probed CELL IDS (bounded by nlist
  * — cell metadata, never data), and hands [[VersionedLake.read]] the
  * partition list — so a query batch at nprobe = p reads ~p/nlist of
  * the corpus from disk. Partition pruning and cell probing share one
  * implementation ([[Similarity.quantizedProbe]]), which is what makes
  * the pruned search provably equal to the unpruned one (AnnLakeSpec
  * pins both the equality and the file-count reduction).
  *
  * Freezing the quantizer is the standard IVF contract (FAISS-style):
  * appends shift cell balance, not correctness — full-probe results
  * are centroid-independent, and partial-probe results depend only on
  * the frozen centroids, so incremental and one-shot indexes agree
  * wherever their centroids do. The s_ann_lake_incremental gate pins
  * the end-to-end property: build on half the corpus, append the rest,
  * full-probe search ≡ brute-force cosine.
  */
object AnnLake {

  private def vectorsDir(lakeDir: String) = s"$lakeDir/vectors"
  private def centroidsDir(lakeDir: String) = s"$lakeDir/centroids"

  /** Table property on a reindexed (green) lake: the source lake's
    * version its corpus was read at. [[cutover]] replays every append
    * committed AFTER this version, so nothing in flight during the
    * rebuild is lost. */
  private val SourceVersionProp = "reindexSourceVersion"

  /** The pointer file a [[cutover]] writes under the original lake
    * path: subsequent reads/appends/searches of that path resolve to
    * the green index it names — callers keep their handle, blue/green
    * style. */
  private val PointerName = "CURRENT"

  /** Resolve a lake handle through its cutover pointer, if any. One
    * hop only: a chained pointer means a repoint went through a
    * retired handle — refuse loudly rather than walk an unbounded
    * chain a concurrent writer could be mutating. */
  private[graft] def resolved(lakeDir: String): String = {
    val ptr = new java.io.File(lakeDir, PointerName)
    if (!ptr.isFile) lakeDir
    else {
      val target = new String(java.nio.file.Files.readAllBytes(ptr.toPath),
        java.nio.charset.StandardCharsets.UTF_8).trim
      require(!new java.io.File(target, PointerName).isFile,
        s"chained index pointer: $lakeDir -> $target is itself cut over; " +
          "repoint the original handle directly")
      target
    }
  }

  /** Train the quantizer on `corpus` and materialize the index lake.
    * `trainFraction` < 1 trains the quantizer on a sample; every row
    * is still assigned and stored. */
  def create(corpus: DataFrame, id: String, vec: String, lakeDir: String,
      nlist: Int, dim: Int, iters: Int = 4,
      trainFraction: Double = 1.0): Unit =
    doCreate(corpus, id, vec, lakeDir, nlist, dim, iters, trainFraction,
      Map.empty)

  private def doCreate(corpus: DataFrame, id: String, vec: String,
      lakeDir: String, nlist: Int, dim: Int, iters: Int,
      trainFraction: Double, extraProps: Map[String, String]): Unit = {
    require(!new java.io.File(lakeDir, PointerName).isFile,
      s"$lakeDir is a cut-over handle (it has a $PointerName pointer); " +
        "create at a fresh directory and cutover() to swap")
    val spark = corpus.sparkSession
    import spark.implicits._
    val (assigned, centroids) = Similarity.quantizedKMeans(
      corpus, id, vec, nlist, dim, iters, trainFraction)
    val rows = corpus.select(col(id).as("doc"), col(vec).as("v"))
      .join(assigned.select(col("doc"), col("cell")), "doc")
    // doc Blooms make the retract path candidate-bounded: a takedown
    // of a handful of ids opens a handful of files, not the index.
    // (search needs no Bloom — its partition column IS the probed
    // cell, so manifest partition pruning is already exact.)
    VersionedLake.create(rows, vectorsDir(lakeDir), "cell",
      blooms = Seq(VersionedLake.BloomSpec("doc")),
      props = Map("nlist" -> nlist.toString) ++ extraProps)
    centroids.zipWithIndex.map { case (c, j) => (j, c.toSeq) }.toSeq
      .toDF("cell", "cv").coalesce(1).write.mode("overwrite")
      .parquet(centroidsDir(lakeDir))
  }

  /** Assign new embeddings against the FROZEN centroids and append
    * them — one broadcast argmin over nlist cells per row, then a
    * watermark-guarded lake append (`batchId` arms exactly-once for
    * streaming callers; a replayed increment is a no-op). */
  def append(newVecs: DataFrame, id: String, vec: String, lakeDir: String,
      batchId: Option[Long] = None): Unit = {
    val spark = newVecs.sparkSession
    val root = resolved(lakeDir)
    if (batchId.exists(_ <= VersionedLake.committedBatchId(vectorsDir(root))))
      return
    val centroids = loadCentroids(spark, root)
    val qv = newVecs.select(col(id).as("doc"),
      Similarity.quant20(col(vec)).as("qv"))
    val assigned = Similarity.assignCells(qv, centroids)
      .select(col("doc"), col("cell"))
    val rows = newVecs.select(col(id).as("doc"), col(vec).as("v"))
      .join(assigned, "doc")
    VersionedLake.append(rows, vectorsDir(root), "cell", batchId)
  }

  /** Drive [[append]] from a STREAM of embeddings — the ingest-time
    * form: each micro-batch is assigned against the frozen centroids
    * and lands exactly-once (the batch id arms the lake's replay
    * watermark; a crashed tick re-delivers into a no-op). The lake
    * must exist ([[create]] trains the quantizer) before the stream
    * starts — assignment needs centroids. `compactEvery` > 0 folds
    * per-tick file growth every N batches (maintenance never fails a
    * data batch — a lost OCC race just defers to a later tick). */
  def indexStream(stream: DataFrame, id: String, vec: String,
      lakeDir: String, checkpointDir: String, compactEvery: Int = 0,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    maintainedIndexStream(stream, lakeDir, checkpointDir, compactEvery,
      trigger, "indexStream",
      s"create($lakeDir) first: streaming appends assign against the frozen centroids")(
      (b, batchId) => append(b, id, vec, lakeDir, batchId = Some(batchId)))

  /** The ONE streaming-append-with-maintenance loop both index stream
    * forms share (a fix to the cadence or the swallowed-maintenance
    * policy must not fork between them): exactly-once appends via the
    * micro-batch id, compaction at batch N, 2N, … when
    * `compactEvery` = N > 0, maintenance never failing a data batch
    * (a lost OCC race defers the fold to a later tick). */
  private def maintainedIndexStream(stream: DataFrame, lakeDir: String,
      checkpointDir: String, compactEvery: Int,
      trigger: org.apache.spark.sql.streaming.Trigger,
      opName: String, createFirstMsg: String)(
      appendBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(stream.isStreaming, s"AnnLake.$opName expects a streaming DataFrame")
    require(VersionedLake.currentVersion(vectorsDir(resolved(lakeDir))) >= 1,
      createFirstMsg)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        appendBatch(b.toDF(), batchId)
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          try { compact(b.sparkSession, lakeDir); () }
          catch { case scala.util.control.NonFatal(_) => () }
        ()
      }
      .start()
  }

  private def booksDir(lakeDir: String) = s"$lakeDir/books"

  /** PQ codes AT REST — the compressed-index form of this lake: rows
    * store m one-byte-scale codes instead of dim floats (the memory
    * story that makes a billion-vector index feasible), partitioned by
    * IVF cell exactly like [[create]], so probes still prune
    * partitions from the manifest. Two frozen models persist beside
    * the codes: the cell centroids (probing) and the m per-subspace
    * codebooks (encoding + ADC search). Both quantizers train with the
    * deterministic integer Lloyd's, so the whole index — codes
    * included — replays in the DuckDB oracle (s32/s33 gates).
    *
    * The full vectors are NOT stored here; [[searchPq]] ranks from
    * codes alone and [[searchPqRefined]] fetches only its shortlist's
    * vectors from the caller's corpus table — the standard split of a
    * production PQ deployment (codes hot, vectors cold). */
  def createPq(corpus: DataFrame, id: String, vec: String, lakeDir: String,
      nlist: Int, m: Int, ksub: Int, dim: Int, itersIvf: Int = 4,
      itersPq: Int = 3, trainFraction: Double = 1.0): Unit =
    doCreatePq(corpus, id, vec, lakeDir, nlist, m, ksub, dim, itersIvf,
      itersPq, trainFraction, Map.empty)

  private def doCreatePq(corpus: DataFrame, id: String, vec: String,
      lakeDir: String, nlist: Int, m: Int, ksub: Int, dim: Int,
      itersIvf: Int, itersPq: Int, trainFraction: Double,
      extraProps: Map[String, String]): Unit = {
    require(!new java.io.File(lakeDir, PointerName).isFile,
      s"$lakeDir is a cut-over handle; create at a fresh directory")
    val spark = corpus.sparkSession
    import spark.implicits._
    val (assigned, centroids) = Similarity.quantizedKMeans(
      corpus, id, vec, nlist, dim, itersIvf, trainFraction)
    val (_, books) = Similarity.pqTrain(
      corpus, id, vec, m, ksub, dim, itersPq, trainFraction)
    val booksDf = Similarity.bookRows(books).toDF("m", "cell", "cv")
    // stored codes are ENCODED AGAINST THE PERSISTED (final) books —
    // not pqTrain's last-round assignment (which predates the final
    // centroid update) — so create-time and append-time codes obey one
    // rule and the oracle's single encode pass replays the whole lake
    val codes = Similarity.pqEncode(corpus, id, vec, m, dim, booksDf)
    val rows = packCodes(codes).join(assigned.select(col("doc"), col("cell")), "doc")
    VersionedLake.create(rows, vectorsDir(lakeDir), "cell",
      blooms = Seq(VersionedLake.BloomSpec("doc")),
      props = Map("nlist" -> nlist.toString, "pq_m" -> m.toString,
        "pq_ksub" -> ksub.toString, "pq_dim" -> dim.toString) ++ extraProps)
    centroids.zipWithIndex.map { case (c, j) => (j, c.toSeq) }.toSeq
      .toDF("cell", "cv").coalesce(1).write.mode("overwrite")
      .parquet(centroidsDir(lakeDir))
    booksDf.coalesce(1).write.mode("overwrite").parquet(booksDir(lakeDir))
  }

  /** (doc, m, cell) code rows → one (doc, code[m]) array row — the
    * at-rest shape (sorted by subspace, so packing is deterministic
    * and [[unpackCodes]] is its exact inverse). */
  private def packCodes(codes: DataFrame): DataFrame =
    codes.groupBy(col("doc")).agg(
      transform(array_sort(collect_list(struct(col("m"), col("cell")))),
        x => x.getField("cell")).as("code"))

  private def unpackCodes(rows: DataFrame): DataFrame =
    rows.select(col("doc"), posexplode(col("code")).as(Seq("m", "cell")))

  /** Append to a PQ lake: assign cells against the frozen centroids,
    * ENCODE against the frozen codebooks (no retraining — same tie
    * rule as training, so re-encoding a trained row reproduces its
    * codes), and commit with the same exactly-once batch-id guard as
    * [[append]]. */
  def appendPq(newVecs: DataFrame, id: String, vec: String,
      lakeDir: String, batchId: Option[Long] = None): Unit = {
    val spark = newVecs.sparkSession
    val root = resolved(lakeDir)
    if (batchId.exists(_ <= VersionedLake.committedBatchId(vectorsDir(root))))
      return
    val (m, _, dim) = pqParams(root)
    val centroids = loadCentroids(spark, root)
    val qv = newVecs.select(col(id).as("doc"),
      Similarity.quant20(col(vec)).as("qv"))
    val assigned = Similarity.assignCells(qv, centroids)
      .select(col("doc"), col("cell"))
    val codes = Similarity.pqEncode(newVecs, id, vec, m, dim,
      spark.read.parquet(booksDir(root)))
    VersionedLake.append(packCodes(codes).join(assigned, "doc"),
      vectorsDir(root), "cell", batchId)
  }

  /** ADC search over the code lake: probe `nprobe` cells, read ONLY
    * those partitions' code files, rank by exact-integer asymmetric
    * distance — the corpus's floats are never touched. At full probe
    * this is exactly [[Similarity.pqTopKAdc]]'s ranking (gate s32). */
  def searchPq(spark: SparkSession, queries: DataFrame, id: String,
      vec: String, lakeDir: String, k: Int, nprobe: Int,
      version: Option[Int] = None): DataFrame = {
    val root = resolved(lakeDir)
    val (m, _, dim) = pqParams(root)
    Similarity.pqSearchAdc(queries, id, vec, k, m, dim,
      probedCodes(spark, queries, id, vec, root, nprobe, version),
      spark.read.parquet(booksDir(root)))
  }

  /** Two-stage search over the code lake: ADC shortlists k × refine
    * from the probed codes, then only those rows fetch full vectors
    * from `corpus` (the cold store) and rerank by exact cosine. At
    * full probe with the whole corpus shortlisted this is exactly
    * brute-force cosine; at production settings it is the
    * memory-bounded path to near-exact recall (gate s33). */
  def searchPqRefined(spark: SparkSession, queries: DataFrame, id: String,
      vec: String, lakeDir: String, k: Int, refine: Int, nprobe: Int,
      corpus: DataFrame, version: Option[Int] = None): DataFrame = {
    val root = resolved(lakeDir)
    val (m, _, dim) = pqParams(root)
    Similarity.pqSearchRefined(corpus, queries, id, vec, k, refine, m, dim,
      probedCodes(spark, queries, id, vec, root, nprobe, version),
      spark.read.parquet(booksDir(root)))
  }

  /** FILTERED ADC search — the PQ-lake twin of [[searchFiltered]]:
    * `allow`'s first column names the allowed doc ids, semi-joined
    * against the probed CODES before ranking, so k fills from allowed
    * docs only (a post-filter would under-fill whenever the filter is
    * selective). At full probe this is exactly the ADC ranking over
    * the allowed corpus (gate s34). */
  def searchPqFiltered(spark: SparkSession, queries: DataFrame, id: String,
      vec: String, lakeDir: String, k: Int, nprobe: Int, allow: DataFrame,
      version: Option[Int] = None): DataFrame = {
    val root = resolved(lakeDir)
    val (m, _, dim) = pqParams(root)
    val codes = probedCodes(spark, queries, id, vec, root, nprobe, version)
      .join(allow.select(col(allow.columns.head).as("doc")).distinct(),
        Seq("doc"), "left_semi")
    Similarity.pqSearchAdc(queries, id, vec, k, m, dim, codes,
      spark.read.parquet(booksDir(root)))
  }

  private def pqParams(root: String): (Int, Int, Int) = {
    val props = VersionedLake.tableProps(vectorsDir(root))
    def p(k: String): Int = props.getOrElse(k,
      throw new IllegalArgumentException(
        s"$root is not a PQ index lake (no '$k' table property); " +
          "searchPq/appendPq serve createPq lakes — use search/append")).toInt
    (p("pq_m"), p("pq_ksub"), p("pq_dim"))
  }

  /** The probed cells' code rows, unpacked to (doc, m, cell) for the
    * shared ADC core — partition-pruned from the manifest exactly like
    * [[doSearch]]. */
  private def probedCodes(spark: SparkSession, queries: DataFrame,
      id: String, vec: String, root: String, nprobe: Int,
      version: Option[Int]): DataFrame = {
    val cdf = spark.read.parquet(centroidsDir(root))
    val cells = Similarity.quantizedProbe(queries, id, vec, nprobe, cdf)
      .select(col("cell")).distinct()
      .collect().map(_.getInt(0).toString).toSeq // nlist-bounded metadata
    unpackCodes(VersionedLake.read(spark, vectorsDir(root), version,
      partitions = Some(cells)))
  }

  /** Probe, prune, rank: each query's `nprobe` nearest cells by the
    * shared probe rule; only those cells' PARTITIONS are read from the
    * lake; exact-cosine top-k over the probed members. `version`
    * searches the index as of an earlier lake version — ANN time
    * travel for free. */
  def search(spark: SparkSession, queries: DataFrame, id: String,
      vec: String, lakeDir: String, k: Int, nprobe: Int,
      version: Option[Int] = None): DataFrame =
    doSearch(spark, queries, id, vec, lakeDir, k, nprobe, version, None)

  /** FILTERED search — "nearest neighbors WHERE <predicate>", the
    * filtered-ANN shape every production vector store needs (a plain
    * top-k then post-filter under-fills k whenever the filter is
    * selective). `allow`'s FIRST column is the allowed doc ids; the
    * probed candidates semi-join against it BEFORE ranking, so k is
    * filled from allowed docs only. Membership is orthogonal to cell
    * geometry (probing is query-side), so at full probe the result is
    * exactly brute-force cosine over the allowed corpus — the
    * s28_ann_filtered gate pins that — and at partial probe the usual
    * IVF recall applies to the allowed candidates. */
  def searchFiltered(spark: SparkSession, queries: DataFrame, id: String,
      vec: String, lakeDir: String, k: Int, nprobe: Int,
      allow: DataFrame, version: Option[Int] = None): DataFrame =
    doSearch(spark, queries, id, vec, lakeDir, k, nprobe, version, Some(allow))

  private def doSearch(spark: SparkSession, queries: DataFrame, id: String,
      vec: String, lakeDir: String, k: Int, nprobe: Int,
      version: Option[Int], allow: Option[DataFrame]): DataFrame = {
    val root = resolved(lakeDir)
    val cdf = spark.read.parquet(centroidsDir(root))
    val cells = Similarity.quantizedProbe(queries, id, vec, nprobe, cdf)
      .select(col("cell")).distinct()
      .collect().map(_.getInt(0).toString).toSeq // nlist-bounded metadata
    val rows0 = VersionedLake.read(spark, vectorsDir(root), version,
      partitions = Some(cells))
      .select(col("doc"), col("v"), col("cell").cast("int").as("cell"))
    val rows = allow match {
      case Some(a) => rows0.join(
        a.select(col(a.columns.head).as("doc")).distinct(),
        Seq("doc"), "left_semi")
      case None => rows0
    }
    Similarity.ivfQuantizedSearch(
      rows.select(col("doc").as(id), col("v").as(vec)),
      queries, id, vec, k, nprobe,
      rows.select(col("doc"), col("cell")), cdf)
  }

  /** Fold per-increment file growth back to one file per cell (OCC
    * compaction; search unchanged by construction). Works on BOTH lake
    * forms — float vectors and PQ codes share the cell partitioning,
    * and compaction rewrites layout only, never rows. */
  def compact(spark: SparkSession, lakeDir: String): Unit = {
    VersionedLake.compactPartitions(spark, vectorsDir(resolved(lakeDir)), "cell")
    ()
  }

  /** Drive [[appendPq]] from a STREAM of embeddings — the PQ twin of
    * [[indexStream]]: each micro-batch is assigned against the frozen
    * centroids, encoded against the frozen codebooks, and lands
    * exactly-once. Without maintenance, each tick commits at least one
    * file into every cell partition it touches, so a long-running
    * index stream fragments the code lake the same way pack lakes
    * fragmented before `compactEvery` — `compactEvery` > 0 folds the
    * growth every N batches ([[compact]]; layout-only, search results
    * are hash-identical across the fold — AnnLakeSpec pins that).
    * Maintenance never fails a data batch: a lost OCC race just defers
    * the fold to a later tick. */
  def indexStreamPq(stream: DataFrame, id: String, vec: String,
      lakeDir: String, checkpointDir: String, compactEvery: Int = 0,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    maintainedIndexStream(stream, lakeDir, checkpointDir, compactEvery,
      trigger, "indexStreamPq",
      s"createPq($lakeDir) first: streaming appends encode against the " +
        "frozen centroids and codebooks")(
      (b, batchId) => appendPq(b, id, vec, lakeDir, batchId = Some(batchId)))

  /** RETRACT embeddings from the index (takedown shape): a copy-on-
    * write MERGE rewrites only the cells holding the named docs; the
    * frozen centroids are untouched (cell geometry is independent of
    * membership), so subsequent appends and searches are unaffected
    * beyond the removed rows. Pre-delete versions stay searchable via
    * `search(version = ...)` until vacuumed.
    *
    * `batchId` rides the lake's INGEST sequence — deletes interleave
    * with appends in ONE monotone sequence (an id at or below the
    * watermark is a replay and no-ops, enforced at the commit claim).
    * An independently-sequenced takedown pipeline must use
    * [[VersionedLake.mergeUpsert]]'s `retractId` namespace instead. */
  def delete(docs: DataFrame, id: String, lakeDir: String,
      batchId: Option[Long] = None): Unit = {
    val spark = docs.sparkSession
    val root = resolved(lakeDir)
    if (batchId.exists(_ <= VersionedLake.committedBatchId(vectorsDir(root))))
      return
    val ids = docs.select(col(id).as("doc")).distinct()
    val dir = vectorsDir(root)
    // candidate-bounded rows-to-delete read: only files whose doc
    // Bloom might hold a named id (pre-Bloom lakes fall back to the
    // full read; key sets past the driver bound do too)
    val candRows = VersionedLake.pointReadOrFull(spark, dir, "doc", ids)
    val changes = candRows
      .join(ids, Seq("doc"), "left_semi")
      .withColumn("_deleted", lit(true))
    VersionedLake.mergeUpsert(spark, dir, changes,
      Seq("doc"), "cell", batchId = batchId)
  }

  /** Per-cell population from MANIFEST METADATA alone — no data scan:
    * the drift signal for a long-lived index. Appends assign against
    * frozen centroids, so as the corpus distribution moves, cells
    * skew; a skewed cell means partial-probe searches read more data
    * for the same recall. One row per cell: (cell, files, rows).
    * Check max(rows)/avg(rows) on a cadence and [[reindex]] when it
    * drifts past tolerance. */
  def cellStats(spark: SparkSession, lakeDir: String): DataFrame = {
    import spark.implicits._
    val root = resolved(lakeDir)
    val v = VersionedLake.currentVersion(vectorsDir(root))
    require(v >= 1, s"no ANN index at $lakeDir — create() it first")
    VersionedLake.manifestEntries(vectorsDir(root), v)
      .map(e => (e.partition, 1L, e.rows))
      .toDF("cell", "files", "rows")
      .groupBy(col("cell"))
      .agg(sum(col("files")).as("files"), sum(col("rows")).as("rows"))
  }

  /** REINDEX — the drift repair: retrain the quantizer on the CURRENT
    * corpus and build a fresh index at `newLakeDir`, blue/green style.
    * Deliberately NOT in place:
    *
    *  - time-travel correctness: `search(version = v)` prunes with the
    *    centroids the version's rows were ASSIGNED under; an in-place
    *    centroid swap would probe old assignments with new geometry
    *    and silently read the wrong cells;
    *  - concurrent appends keep landing in the old index (assignments
    *    against its still-frozen centroids stay valid) while the new
    *    one builds; [[cutover]] then swaps the handle and replays the
    *    append tail, exactly like any blue/green index rotation.
    *
    * The corpus read is PINNED to the source version current when the
    * rebuild starts, and that version is recorded on the green lake
    * ([[SourceVersionProp]]) — the replay point [[cutover]] resumes
    * from. The old lake remains intact and searchable until retired. */
  def reindex(spark: SparkSession, lakeDir: String, newLakeDir: String,
      nlist: Int, dim: Int, iters: Int = 4,
      trainFraction: Double = 1.0): Unit = {
    val src = resolved(lakeDir)
    val v = VersionedLake.currentVersion(vectorsDir(src))
    require(v >= 1, s"no ANN index at $lakeDir — create() it first")
    val corpus = VersionedLake.read(spark, vectorsDir(src), Some(v))
      .select(col("doc"), col("v"))
    doCreate(corpus, "doc", "v", newLakeDir, nlist, dim, iters,
      trainFraction, Map(SourceVersionProp -> v.toString))
  }

  /** CUTOVER — finish the blue/green rotation [[reindex]] started:
    *
    *  1. replay the WATERMARKED append tail — every version the old
    *     index committed after the green one's recorded source version
    *     re-assigns against the green centroids and lands with its
    *     original batch id, so a crashed-and-rerun cutover is a no-op
    *     past the watermark (exactly-once, same argument as any
    *     streaming append);
    *  2. swap the handle: an atomically-renamed pointer file under
    *     `lakeDir` makes every subsequent read/append/search of the
    *     ORIGINAL path resolve to the green index — callers keep their
    *     handle (the VersionedLake CURRENT-rename discipline, one
    *     level up);
    *  3. replay the remaining tail TO STABILITY: an appender that
    *     resolved the handle BEFORE the pointer existed may still be
    *     in flight, targeting the old index — so the post-swap replay
    *     loops until the old lake's version is unchanged across two
    *     consecutive replays. Any racing append that commits within
    *     the stabilization window is replayed onto green; one that
    *     commits after it lands on a retired index (the inherent
    *     blue/green window — an appender cannot be both un-swapped and
    *     unbounded), which is why [[retire]] should follow only after
    *     in-flight writers from before the swap have drained.
    *
    * Appends only: a delete in the tail aborts the cutover loudly
    * (apply takedowns after rotating — replaying a delete+append
    * version would trip the shared watermark). A stream driving
    * [[indexStream]] keeps its checkpoint across the rotation: the
    * green lake inherits the old one's batch-id high-water through the
    * replay, so the resumed stream's next batch is past it. */
  def cutover(spark: SparkSession, lakeDir: String, greenDir: String): Unit =
    doCutover(lakeDir, greenDir,
      (oldRoot, fromV) => replayAppendTail(spark, oldRoot, greenDir, fromV))

  /** The swap/stabilize skeleton shared by [[cutover]] (float lakes)
    * and [[cutoverPq]] (code lakes) — only the tail-replay step
    * differs. `replay(oldRoot, fromV)` replays `(fromV, current]` of
    * the old index onto green and returns the version reached. */
  private def doCutover(lakeDir: String, greenDir: String,
      replay: (String, Int) => Int): Unit = {
    val old = resolved(lakeDir)
    val samePath = new java.io.File(old).getCanonicalPath ==
      new java.io.File(greenDir).getCanonicalPath
    require(!new java.io.File(greenDir, PointerName).isFile,
      s"cutover target $greenDir is itself a cut-over handle")
    val from = VersionedLake.tableProps(vectorsDir(greenDir))
      .get(SourceVersionProp).map(_.toInt)
      .getOrElse(throw new IllegalArgumentException(
        s"$greenDir records no $SourceVersionProp — it was not built by " +
          s"reindex(); cutover cannot know where the append tail starts"))
    if (samePath && old != lakeDir) {
      // rerun after a completed swap (a crash between the swap and the
      // final replay reruns the whole cutover): the handle already
      // resolves to green and the old index — still on disk under the
      // handle itself until retired — receives no further appends, so
      // only the final-tail replay remains, and its batch-id
      // watermarks make repeating it a no-op past what landed.
      replay(lakeDir, from)
      return
    }
    require(!samePath, s"cutover target $greenDir IS the live index")
    val replayed = replay(old, from)
    writePointer(lakeDir, greenDir)
    onPointerSwapped()
    // stabilized final replay (scaladoc step 3): at least TWO post-swap
    // version reads, repeated until consecutive reads agree — a
    // pre-swap-resolved appender that commits after one replay's read
    // is caught by the next iteration, not silently stranded on the
    // old index (exiting on the first quiet read would leave the same
    // single-read race window the stabilization exists to close)
    var last = replay(old, replayed)
    var cur = replay(old, last)
    while (cur != last) {
      last = cur
      cur = replay(old, last)
    }
  }

  /** Test seam: runs once right after the cutover pointer lands, i.e.
    * inside the race window the stabilized replay exists to close. */
  private[graft] var onPointerSwapped: () => Unit = () => ()

  /** The whole blue/green rotation as ONE maintenance call —
    * [[reindex]] → [[cutover]] → optionally [[retire]] — so SQL
    * callers can drive it through the `ann_rotate` deferred-effect TVF
    * the way they drive `lake_compact`/`retention_drop`. Returns the
    * receipt (old_version = the source version the rebuild was pinned
    * to, replayed_versions = old-index versions the cutover walked
    * onto green, green_dir). `retireOld` defaults to FALSE: retiring
    * inside the rotation is only safe once in-flight writers from
    * before the swap have drained (see [[cutover]] step 3) — leave the
    * old index searchable and retire on the next maintenance tick
    * unless the caller owns all writers. */
  def rotate(spark: SparkSession, lakeDir: String, greenDir: String,
      nlist: Int, dim: Int, iters: Int = 4, trainFraction: Double = 1.0,
      retireOld: Boolean = false): (Long, Long, String) = {
    val old = resolved(lakeDir)
    reindex(spark, lakeDir, greenDir, nlist, dim, iters, trainFraction)
    val from = VersionedLake.tableProps(vectorsDir(greenDir))(SourceVersionProp).toInt
    cutover(spark, lakeDir, greenDir)
    val replayed = VersionedLake.currentVersion(vectorsDir(old)) - from
    if (retireOld) retire(lakeDir)
    (from.toLong, replayed.toLong, greenDir)
  }

  /** REINDEX for a PQ code lake — the drift repair frozen codebooks
    * otherwise lack ([[createPq]] freezes both quantizers; corpus
    * drift degrades ADC quality with no in-place remedy): retrain IVF
    * centroids AND PQ codebooks on the index's CURRENT membership,
    * re-encode every member, and build a fresh green code lake —
    * blue/green for the same reasons as [[reindex]] (time-travel
    * correctness, concurrent appends keep landing in the old index
    * until [[cutoverPq]]).
    *
    * The lake stores CODES, not vectors (codes are lossy — nothing can
    * be re-encoded from them), so the member VECTORS come from the
    * caller's `corpus` table, the same cold store [[searchPqRefined]]
    * reranks from. Membership is pinned to the old lake's current
    * version (recorded as the cutover replay point); a corpus missing
    * any member vector is refused LOUDLY — silently retraining on a
    * partial corpus would under-index the green lake. */
  def reindexPq(spark: SparkSession, lakeDir: String, newLakeDir: String,
      corpus: DataFrame, id: String, vec: String, nlist: Int, m: Int,
      ksub: Int, dim: Int, itersIvf: Int = 4, itersPq: Int = 3,
      trainFraction: Double = 1.0): Unit = {
    val src = resolved(lakeDir)
    pqParams(src) // loud refusal: reindexPq serves createPq lakes only
    val v = VersionedLake.currentVersion(vectorsDir(src))
    require(v >= 1, s"no PQ index at $lakeDir — createPq() it first")
    val members = VersionedLake.read(spark, vectorsDir(src), Some(v))
      .select(col("doc")).distinct()
    val rows = corpus.select(col(id).as("doc"), col(vec).as("v"))
      .join(members, Seq("doc"), "left_semi")
    // coverage and uniqueness are separate refusals: a duplicated id
    // could otherwise exactly mask a missing member in a bare row-count
    // comparison — the silent under-indexing this guard exists to stop
    val nm = members.count()
    val nr = rows.count()
    val nd = rows.select(col("doc")).distinct().count()
    require(nd == nm,
      s"corpus is missing ${nm - nd} of the index's $nm member vectors — " +
        "codes cannot be re-encoded (they are lossy); reindexPq needs the " +
        "cold vector store the lake was built from")
    require(nr == nd,
      s"corpus holds ${nr - nd} duplicate ids among the index's members — " +
        "ambiguous vectors; dedupe the corpus before reindexPq")
    doCreatePq(rows, "doc", "v", newLakeDir, nlist, m, ksub, dim,
      itersIvf, itersPq, trainFraction, Map(SourceVersionProp -> v.toString))
  }

  /** CUTOVER for a PQ rotation — [[cutover]]'s protocol (watermarked
    * tail replay, atomic pointer swap, replay to stability) with the
    * PQ replay step: tail versions hold CODES encoded against the OLD
    * books, so each tail doc's VECTOR is fetched from `corpus` and
    * re-encoded against the green books ([[appendPq]]), landing with
    * its original batch id (idempotent under rerun). A tail doc whose
    * vector is absent from `corpus` is refused loudly. */
  def cutoverPq(spark: SparkSession, lakeDir: String, greenDir: String,
      corpus: DataFrame, id: String, vec: String): Unit =
    doCutover(lakeDir, greenDir, (oldRoot, fromV) =>
      replayAppendTailPq(spark, oldRoot, greenDir, fromV, corpus, id, vec))

  /** The whole PQ blue/green rotation as ONE maintenance call —
    * [[reindexPq]] → [[cutoverPq]] → optionally [[retire]] — the
    * compressed-index twin of [[rotate]], drivable from SQL through
    * the `ann_pq_rotate` deferred TVF. Same receipt, same
    * retire-later default (see [[rotate]]). */
  def rotatePq(spark: SparkSession, lakeDir: String, greenDir: String,
      corpus: DataFrame, id: String, vec: String, nlist: Int, m: Int,
      ksub: Int, dim: Int, itersIvf: Int = 4, itersPq: Int = 3,
      trainFraction: Double = 1.0, retireOld: Boolean = false)
      : (Long, Long, String) = {
    val old = resolved(lakeDir)
    reindexPq(spark, lakeDir, greenDir, corpus, id, vec, nlist, m, ksub,
      dim, itersIvf, itersPq, trainFraction)
    val from = VersionedLake.tableProps(vectorsDir(greenDir))(SourceVersionProp).toInt
    cutoverPq(spark, lakeDir, greenDir, corpus, id, vec)
    val replayed = VersionedLake.currentVersion(vectorsDir(old)) - from
    if (retireOld) retire(lakeDir)
    (from.toLong, replayed.toLong, greenDir)
  }

  /** [[replayAppendTail]]'s PQ twin: tail inserts are (doc, code)
    * rows — re-encoding needs the original vectors, fetched from the
    * caller's corpus per tail version (candidate-bounded: tail-sized
    * semi-join, never a corpus scan on the lake side). */
  private def replayAppendTailPq(spark: SparkSession, oldRoot: String,
      greenDir: String, fromV: Int, corpus: DataFrame, id: String,
      vec: String): Int = {
    val dir = vectorsDir(oldRoot)
    val cur = VersionedLake.currentVersion(dir)
    for (w <- fromV + 1 to cur) {
      val changes = VersionedLake.diff(spark, dir, w - 1, w)
      require(changes.filter(col("_change") === "delete").isEmpty,
        s"old-index version $w contains deletes: cutover replays appends " +
          "only — apply takedowns to the green index after rotating")
      val docs = changes.filter(col("_change") === "insert")
        .select(col("doc")).distinct()
      if (!docs.isEmpty) {
        val bid = VersionedLake.committedBatchId(dir, Some(w))
        require(bid >= 0,
          s"old-index version $w carries rows but no batch id: cutover " +
            "replays only the watermarked append tail (idempotence under " +
            "a crashed cutover needs the ids); reindex again from the " +
            "current version")
        val rows = corpus.select(col(id).as("doc"), col(vec).as("v"))
          .join(docs, Seq("doc"), "left_semi")
        // same split refusal as reindexPq: distinct coverage first
        // (duplicates must not mask a missing vector), then uniqueness
        val nd = docs.count()
        val nrd = rows.select(col("doc")).distinct().count()
        val nr = rows.count()
        require(nrd == nd,
          s"corpus is missing ${nd - nrd} of version $w's $nd tail vectors — " +
            "codes are lossy; the cutover replay needs the cold vector store")
        require(nr == nrd,
          s"corpus holds ${nr - nrd} duplicate ids among version $w's tail " +
            "docs — ambiguous vectors; dedupe the corpus before cutoverPq")
        appendPq(rows, "doc", "v", greenDir, batchId = Some(bid))
      }
    }
    cur
  }

  /** Replay versions `(fromV, current]` of the old index's vectors
    * lake onto the green index. Returns the version replayed up to. */
  private def replayAppendTail(spark: SparkSession, oldRoot: String,
      greenDir: String, fromV: Int): Int = {
    val dir = vectorsDir(oldRoot)
    val cur = VersionedLake.currentVersion(dir)
    for (w <- fromV + 1 to cur) {
      val changes = VersionedLake.diff(spark, dir, w - 1, w)
      require(changes.filter(col("_change") === "delete").isEmpty,
        s"old-index version $w contains deletes: cutover replays appends " +
          "only — apply takedowns to the green index after rotating")
      val inserts = changes.filter(col("_change") === "insert")
        .select(col("doc"), col("v"))
      // row-less versions (compaction from indexStream's compactEvery,
      // an aborted-writer slot) replay as nothing — only row-carrying
      // tail versions need the batch-id watermark for idempotence
      if (!inserts.isEmpty) {
        val bid = VersionedLake.committedBatchId(dir, Some(w))
        require(bid >= 0,
          s"old-index version $w carries rows but no batch id: cutover " +
            "replays only the watermarked append tail (idempotence under " +
            "a crashed cutover needs the ids); reindex again from the " +
            "current version")
        append(inserts, "doc", "v", greenDir, batchId = Some(bid))
      }
    }
    cur
  }

  private def writePointer(lakeDir: String, target: String): Unit = {
    val dir = new java.io.File(lakeDir)
    dir.mkdirs()
    val tmp = new java.io.File(dir, s"$PointerName.tmp${System.nanoTime()}")
    java.nio.file.Files.write(tmp.toPath,
      target.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp.toPath,
      new java.io.File(dir, PointerName).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Retire a cut-over handle's OLD index files (vectors + centroids
    * under `lakeDir` itself). Refuses when no pointer exists — that
    * would delete the live index. The pointer stays: the handle keeps
    * resolving to the green index. */
  def retire(lakeDir: String): Unit = {
    require(new java.io.File(lakeDir, PointerName).isFile,
      s"$lakeDir has not been cut over — retiring would delete the LIVE index")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
      ()
    }
    rm(new java.io.File(vectorsDir(lakeDir)))
    rm(new java.io.File(centroidsDir(lakeDir)))
  }

  /** Expire the index's OWN version history: drop every code/vector
    * version below `keepFrom` and reclaim the data files only they
    * referenced ([[VersionedLake.vacuum]] on the resolved handle —
    * works identically on float and PQ lakes, and on a cut-over handle
    * it expires the GREEN index's history). This is the retention
    * lever [[delete]]'s scaladoc promises ("pre-delete versions stay
    * searchable until vacuumed") and the missing half of the blue/
    * green story (r19 ask 5): [[retire]] reclaims the old index BEHIND
    * a cut-over pointer, while this bounds the live index's time-travel
    * window — without it a long-lived index retains every pre-rotation
    * append/delete version forever. Searches of the current version
    * are unaffected by construction (same manifest, same files);
    * `search(version = expired)` fails at manifest resolution like any
    * table format's vacuum. Run it on the same maintenance cadence as
    * [[compact]], keeping whatever window audits need. */
  def vacuum(lakeDir: String, keepFrom: Int): Unit =
    VersionedLake.vacuum(vectorsDir(resolved(lakeDir)), keepFrom)

  /** The live index's current version — the `keepFrom` bound callers
    * pass to [[vacuum]] and the version [[search]] pins by default. */
  def currentVersion(lakeDir: String): Int =
    VersionedLake.currentVersion(vectorsDir(resolved(lakeDir)))

  /** The pruned file set a probe plan would read — exposed so specs
    * and operators can reason about I/O without executing a search. */
  def prunedInputFiles(spark: SparkSession, queries: DataFrame, id: String,
      vec: String, lakeDir: String, nprobe: Int): Array[String] = {
    val root = resolved(lakeDir)
    val cdf = spark.read.parquet(centroidsDir(root))
    val cells = Similarity.quantizedProbe(queries, id, vec, nprobe, cdf)
      .select(col("cell")).distinct()
      .collect().map(_.getInt(0).toString).toSeq
    VersionedLake.read(spark, vectorsDir(root),
      partitions = Some(cells)).inputFiles
  }

  /** `loadCentroids` takes the RESOLVED root (all callers resolve). */
  private def loadCentroids(spark: SparkSession, lakeDir: String): Array[Array[Long]] = {
    val rows = spark.read.parquet(centroidsDir(lakeDir))
      .collect().map(r => r.getAs[Int]("cell") ->
        r.getAs[scala.collection.Seq[Long]]("cv").toArray)
    val n = rows.length
    val out = new Array[Array[Long]](n)
    rows.foreach { case (cell, cv) => out(cell) = cv }
    require(out.forall(_ != null), s"centroid table under $lakeDir has gaps")
    out
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float>).
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set
  * against the corpus, one pass, no shuffle of the corpus itself.
  * Scale path: random-hyperplane LSH — each vector gets a compact
  * bucket signature; candidates come from bucket equi-joins, so the
  * corpus-side work is a hash join instead of a cross product.
  *
  * Float discipline: vectors are L2-NORMALIZED ONCE up front (norms are
  * never recomputed per pair), so every pairwise score is a single
  * sequential-fold dot product — deterministic summation order,
  * mirrored element-for-element in the DuckDB oracles.
  */
object Similarity {

  /** Sequential left-fold dot product — a native codegen'd Catalyst
    * expression (graft.functions.VecDot): one tight loop over
    * ArrayData, bit-identical to the oracles' list_reduce fold.
    */
  def dotN(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vecDot(a, b)

  /** Cast float embedding to double once. */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** (idAlias, nv) with nv = v / ||v||: norms computed once per row, so
    * cosine(a, b) = dotN(na, nb) — one dot loop per pair instead of
    * three. Repartitions off the (typically few) input files so the
    * per-pair work parallelizes across the cluster.
    */
  private def normalized(df: DataFrame, id: String, vec: String, idAlias: String,
      vecAlias: String): DataFrame = {
    val v = asDouble(col(vec))
    df.repartition(col(id))
      .select(col(id).as(idAlias), v.as("_v"), sqrt(dotN(v, v)).as("_norm"))
      .select(col(idAlias), transform(col("_v"), x => x / col("_norm")).as(vecAlias))
  }

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (self excluded). Query side is broadcast — the
    * corpus is scanned exactly once regardless of cluster size.
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = normalized(corpus, id, vec, "neighbor_id", "nv")
    val q = normalized(queries, id, vec, "query_id", "qv")
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dotN(col("qv"), col("nv")))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(desc("cos"), col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("neighbor_id"),
        (floor(col("cos") * 10000 + lit(0.5)) / 10000.0).as("cos_r4"))
  }

  /** All pairs with cosine ≥ threshold (embedding near-dup). Exact
    * all-pairs — the oracle baseline. The pair loop is a broadcast
    * nested-loop over normalized vectors: one fused dot per pair,
    * stream side hash-partitioned so all cores participate. For
    * true near-dup thresholds (≥ ~0.9) at corpus scale, block with
    * `hyperplaneBuckets` first (annTopK shows the pattern); at the
    * low thresholds this dataset exercises (max pair cos ≈ 0.51) no
    * sublinear blocking is sound, so exact is the only correct form.
    */
  def cosineNearDupPairs(df: DataFrame, id: String, vec: String,
      threshold: Double): DataFrame = {
    val v = normalized(df, id, vec, "doc", "nv")
    v.select(col("doc").as("d1"), col("nv").as("nv1"))
      .join(v.select(col("doc").as("d2"), col("nv").as("nv2")), col("d1") < col("d2"))
      .withColumn("cos", dotN(col("nv1"), col("nv2")))
      .filter(col("cos") >= threshold)
      .select(col("d1"), col("d2"), (floor(col("cos") * 10000 + lit(0.5)) / 10000.0).as("cos_r4"))
  }

  /** LSH-BLOCKED cosine near-dup pairs — the 100 TB scale path for true
    * near-dup thresholds (≥ ~0.9): candidates are pairs sharing a
    * hyperplane bucket in ANY of the `tables` hash tables, then exact
    * cosine verifies, so the corpus-side work is hash joins instead of
    * an all-pairs product. Output schema and scoring are identical to
    * [[cosineNearDupPairs]]; the difference is recall — at cos ≥ 0.99
    * and (nbits=8, tables=16) the per-pair miss probability is
    * ~(1 − p_bit^nbits)^tables ≈ 2e-15, and SimilaritySpec asserts
    * equality to the exact form over injected near-dup pairs. For LOW
    * thresholds (this corpus's max pair cos ≈ 0.51) no sublinear
    * blocking is sound — use the exact form there.
    */
  def cosineNearDupPairsBlocked(df: DataFrame, id: String, vec: String,
      threshold: Double, nbits: Int, tables: Int, dim: Int,
      seed: Long = 7L, hotBucketThreshold: Long = 1000L, salts: Int = 16): DataFrame = {
    // persisted: both sides of the bucket self-join consume it
    val b = graft.CacheRegistry.retain(
      hyperplaneBuckets(df, id, vec, nbits, tables, dim, seed)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // skew-safe bucket self-join (a heavily clustered corpus collapses
    // into few buckets — same degenerate class as the LSH band join)
    val cands = Dedup.saltedSelfPairs(b, Seq("table_id", "bucket"), hotBucketThreshold, salts)
      .select(col("doc_1").as("d1"), col("doc_2").as("d2"))
      .dropDuplicates("d1", "d2")
    val v = normalized(df, id, vec, "doc", "nv")
    cands
      .join(v.select(col("doc").as("d1"), col("nv").as("nv1")), "d1")
      .join(v.select(col("doc").as("d2"), col("nv").as("nv2")), "d2")
      .withColumn("cos", dotN(col("nv1"), col("nv2")))
      .filter(col("cos") >= threshold)
      .select(col("d1"), col("d2"), (floor(col("cos") * 10000 + lit(0.5)) / 10000.0).as("cos_r4"))
  }

  /** One hyperplane component: the md5-nibble uniform of
    * "plane:seed:table:plane:dim" shifted to [-0.5, 0.5). The 24-bit
    * fraction is an exact binary double, and DuckDB's md5() produces
    * the same hex — so an oracle can rebuild the planes bit-for-bit
    * (see SimilarityQueries.planesSql). Cube-uniform (vs Gaussian)
    * directions lose nothing at dim = 64: the projection of any fixed
    * vector onto such a plane is a 64-term CLT sum, so sign-collision
    * probability tracks 1 − θ/π as with Gaussian planes (recall floor
    * re-asserted empirically in SimilaritySpec).
    */
  private[graft] def planeComponent(seed: Long, table: Int, plane: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"plane:$seed:$table:$plane:$d".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Integer.parseInt(hex.substring(0, 6), 16) / 16777216.0 - 0.5
  }

  /** Random-hyperplane LSH bucket signatures, `tables` independent
    * hash tables of `nbits` sign bits each → rows (doc, table, bucket).
    * Hyperplanes are a tiny broadcast DataFrame — the corpus is scanned
    * once and never replicated; per-table buckets come out of one
    * groupBy over (doc, table). Plane components are md5-derived
    * (see [[planeComponent]]), so the whole bucketing — and therefore
    * the ANN candidate set — is reproducible in a DuckDB oracle.
    */
  def hyperplaneBuckets(df: DataFrame, id: String, vec: String, nbits: Int,
      tables: Int, dim: Int, seed: Long = 7L): DataFrame = {
    val planes = for (t <- 0 until tables; p <- 0 until nbits)
      yield (t, p, Array.tabulate(dim)(d => planeComponent(seed, t, p, d)))
    val spark = df.sparkSession
    import spark.implicits._
    val planesDf = planes.toDF("table_id", "plane_id", "w")
    df.repartition(col(id))
      .select(col(id).as("doc"), asDouble(col(vec)).as("v"))
      .crossJoin(broadcast(planesDf))
      .withColumn("bit", when(dotN(col("v"), col("w")) >= 0, lit(1L)).otherwise(lit(0L)))
      .groupBy(col("doc"), col("table_id"))
      // bit << plane_id via exact power-of-two arithmetic (nbits ≤ 32)
      .agg(sum(col("bit") * pow(lit(2.0), col("plane_id"))).cast("long").as("bucket"))
  }

  /** IVF (inverted-file) ANN top-k: a k-means coarse quantizer assigns
    * every corpus vector to its nearest centroid cell; each query
    * probes the `nprobe` nearest cells and ranks the candidates with
    * exact cosine. The index is the standard IVF layout: candidate
    * cost ≈ nprobe/nlist of the corpus, centroids are a tiny broadcast
    * (nlist × dim), and cell assignment is one model pass — at corpus
    * scale the quantizer trains on a sample and the cell column is
    * written once at ingest. Complements `annTopK`: IVF wins on
    * clustered embeddings, hyperplane LSH needs no training.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
      k: Int, nlist: Int, nprobe: Int, dim: Int, seed: Long = 11L,
      trainFraction: Double = 1.0): DataFrame = {
    val (assigned, centroids) =
      ivfBuild(corpus, id, vec, nlist, seed, trainFraction)
    ivfSearchCosine(corpus, queries, id, vec, k, nprobe, assigned, centroids)
  }

  /** The INDEX half of [[ivfTopK]]: fit the ml-KMeans coarse quantizer
    * and return (assignments (neighbor_id, cell), normalized centroids
    * (cell, centroid)) — both parquet-round-trippable, so a session
    * fixture can persist the index once and gates search it.
    *
    * The quantizer only needs a REPRESENTATIVE sample: at corpus scale
    * train k-means on trainFraction of the data (one cheap pass), then
    * assign the FULL corpus with the fitted model — cell assignment is
    * the only full-corpus cost. Full-probe exactness is independent of
    * the centroids (every cell is probed), so sampling never affects
    * the nprobe = nlist configuration. Centroids are normalized
    * driver-side (nlist of them) so cell probing ranks by true cosine,
    * not cosine scaled by centroid norm.
    */
  def ivfBuild(corpus: DataFrame, id: String, vec: String, nlist: Int,
      seed: Long = 11L, trainFraction: Double = 1.0): (DataFrame, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = corpus.sparkSession
    import spark.implicits._
    val train = corpus.repartition(col(id))
      .select(col(id).as("doc"), asDouble(col(vec)).as("v"))
      .withColumn("features", array_to_vector(col("v")))
    val fitOn =
      if (trainFraction >= 1.0) train
      else train.sample(withReplacement = false, trainFraction, seed)
    val model = new KMeans().setK(nlist).setSeed(seed).setMaxIter(10).fit(fitOn)
    val assigned = model.transform(train)
      .select(col("doc").as("neighbor_id"), col("prediction").as("cell"))
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) =>
        val a = c.toArray
        val n = math.sqrt(a.foldLeft(0.0)((s, x) => s + x * x))
        (i, if (n == 0) a else a.map(_ / n))
      }.toSeq.toDF("cell", "centroid")
    (assigned, centroids)
  }

  /** The SEARCH half of [[ivfTopK]] over a pre-built index: probe the
    * query's `nprobe` best cells by centroid cosine, rank the probed
    * cells' members by exact cosine. Corpus rows are normalized ONCE,
    * before the candidate join — never per (candidate, query) pair.
    * The registered full-probe gate reads a session-fixture index
    * through this entry point, so the bench measures search.
    */
  def ivfSearchCosine(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, k: Int, nprobe: Int, assigned: DataFrame,
      centroids: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withVecs = assigned.join(normalized(corpus, id, vec, "neighbor_id", "nv"),
      "neighbor_id")
    val probed = normalized(queries, id, vec, "query_id", "qv")
      .crossJoin(broadcast(centroids))
      .withColumn("cdist", dotN(col("qv"), col("centroid")))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(desc("cdist"), col("cell"))))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("qv"), col("cell"))
    val cands = withVecs.join(broadcast(probed), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dotN(col("qv"), col("nv")))
    cands
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(desc("cos"), col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("neighbor_id"),
        (floor(col("cos") * 10000 + lit(0.5)) / 10000.0).as("cos_r4"))
  }

  /** Deterministic integer-quantized Lloyd's k-means — the coarse
    * quantizer for [[ivfQuantizedTopK]]. Vectors are quantized to
    * 20-bit fixed point (`floor(x * 2^20 + 0.5)`), so every distance is
    * an exact integer (≤ 2^50 — exact in doubles too) and every
    * centroid mean is `floor(sum / count)` of exact integers:
    * order-independent, retry-independent, and bit-reproducible in any
    * engine — a DuckDB oracle replays the exact same `iters` rounds.
    * Init = the quantized vectors of the `nlist` smallest ids. Empty
    * cells keep their previous centroid. Returns (id, cell,
    * assignments DF) and the final centroids.
    *
    * Scale shape: each round is one broadcast-join argmin + one
    * per-dimension partial aggregate (posexplode → sum), with only the
    * nlist × dim sum table (tiny) collected to the driver. The corpus
    * is never collected; 100 TB runs `iters` distributed passes over
    * `trainFraction` of it — the quantizer only needs a representative
    * SAMPLE to place centroids (the tested scale path, not a scaladoc
    * promise), and only the final cell-assignment pass must see every
    * row. `trainFraction = 1.0` (the gates' replayable config) trains
    * on everything and the last round's assignment IS the index.
    */
  private[graft] def quantizedKMeans(df: DataFrame, id: String, vec: String,
      nlist: Int, dim: Int, iters: Int, trainFraction: Double = 1.0,
      seed: Long = 17L): (DataFrame, Array[Array[Long]]) = {
    require(iters >= 1, s"quantizedKMeans needs at least one Lloyd's round, got $iters")
    require(trainFraction > 0.0 && trainFraction <= 1.0,
      s"trainFraction must be in (0, 1], got $trainFraction")
    val qv = graft.CacheRegistry.retain(
      df.repartition(col(id))
        .select(col(id).as("doc"),
          transform(asDouble(col(vec)), x => floor(x * (1L << 20) + 0.5).cast("long")).as("qv"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val trainQv =
      if (trainFraction >= 1.0) qv
      else graft.CacheRegistry.retain(
        qv.sample(withReplacement = false, trainFraction, seed)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    var centroids: Array[Array[Long]] = trainQv.orderBy(col("doc")).limit(nlist)
      .collect().map(_.getSeq[Long](1).toArray)
    var assigned: DataFrame = null
    for (_ <- 0 until iters) {
      assigned = assignCells(trainQv, centroids)
      val sums = assigned
        .select(col("cell"), posexplode(col("qv")).as(Seq("d", "q")))
        .groupBy(col("cell"), col("d"))
        .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
        .collect().map(r => ((r.getInt(0), r.getInt(1)), (r.getLong(2), r.getLong(3))))
        .toMap
      centroids = Array.tabulate(nlist) { j =>
        sums.get((j, 0)) match {
          case None => centroids(j) // empty cell: carry previous centroid
          case Some(_) => Array.tabulate(dim) { d =>
            val (s, n) = sums((j, d))
            math.floor(s.toDouble / n).toLong
          }
        }
      }
    }
    // full training: the last round's assignment already covers every
    // row (and is what the SQL oracle replays). Sampled training: one
    // extra argmin pass assigns the FULL corpus with the fitted
    // centroids — the only unavoidably full-corpus step.
    val full = if (trainFraction >= 1.0) assigned else assignCells(qv, centroids)
    (full.select(col("doc"), col("cell")), centroids)
  }

  /** One argmin pass of the quantized Lloyd's: nearest centroid per
    * row by exact integer distance (evaluated in doubles, ≤ 2^50 <
    * 2^53), ties to the lower cell. */
  private[graft] def assignCells(qv: DataFrame,
      centroids: Array[Array[Long]]): DataFrame = {
    val spark = qv.sparkSession
    import spark.implicits._
    val cdf = broadcast(centroids.zipWithIndex
      .map { case (c, j) => (j, c) }.toSeq.toDF("cell", "cv"))
    val dist = aggregate(
      zip_with(transform(col("qv"), _.cast("double")),
        transform(col("cv"), _.cast("double")), (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)
    qv.crossJoin(cdf)
      .withColumn("dist", dist)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc")).orderBy(col("dist"), col("cell"))))
      .filter(col("rn") === 1)
      .select(col("doc"), col("qv"), col("cell"))
  }

  /** IVF ANN top-k with the DETERMINISTIC quantized coarse quantizer —
    * the configuration where even PARTIAL probing (nprobe < nlist) is
    * hash-checkable: the whole index build is exact integer math a SQL
    * oracle replays, and candidate ranking is the same exact-cosine
    * fold as everywhere else. Complements [[ivfTopK]] (ml-KMeans —
    * float means, better centroids, spec-verified) by pinning the IVF
    * mechanics — cell assignment, cell probing, candidate ranking —
    * under the driver's hash gate at a real operating point.
    */
  def ivfQuantizedTopK(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, k: Int, nlist: Int, nprobe: Int, dim: Int,
      iters: Int = 10, trainFraction: Double = 1.0): DataFrame = {
    val (assigned, centroids) =
      ivfQuantizedBuild(corpus, id, vec, nlist, dim, iters, trainFraction)
    ivfQuantizedSearch(corpus, queries, id, vec, k, nprobe, assigned, centroids)
  }

  /** The BUILD half of the quantized IVF as a public entry point:
    * trains the deterministic integer quantizer and returns the index
    * in exactly the shapes [[ivfQuantizedSearch]], [[annRecall]], and
    * [[chooseNprobe]] consume — `assigned` (doc, cell, qv) and
    * `centroids` (cell, cv) — both all-integral, so they round-trip
    * through parquet unchanged (build once at ingest, persist, search
    * many). */
  def ivfQuantizedBuild(corpus: DataFrame, id: String, vec: String,
      nlist: Int, dim: Int, iters: Int = 10,
      trainFraction: Double = 1.0): (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (assigned, centroids) =
      quantizedKMeans(corpus, id, vec, nlist, dim, iters, trainFraction)
    (assigned,
      centroids.zipWithIndex.map { case (c, j) => (j, c.toSeq) }.toSeq
        .toDF("cell", "cv"))
  }

  /** Cell probing of the quantized IVF: each query's `nprobe` closest
    * cells by exact integer distance between its 20-bit-quantized
    * vector and the (cell, cv) centroid rows — (query_id, cell).
    * Shared by [[ivfQuantizedSearch]] and the lake-backed index
    * ([[graft.sources.AnnLake]]), whose partition pruning must probe
    * IDENTICALLY to the search it prunes for. */
  private[graft] def quantizedProbe(queries: DataFrame, id: String,
      vec: String, nprobe: Int, centroids: DataFrame): DataFrame =
    quantizedProbeRanked(queries, id, vec, nprobe, centroids)
      .select(col("query_id"), col("cell"))

  /** [[quantizedProbe]] keeping the probe rank (`crank`, 1-based by
    * ascending quantized distance, ties on cell id): candidate cell
    * sets are NESTED in the probe depth, so one ranked probe at the
    * deepest depth serves every shallower depth as `crank <= n` — what
    * lets [[annRecall]] sweep all its depths in a single corpus pass. */
  private[graft] def quantizedProbeRanked(queries: DataFrame, id: String,
      vec: String, nprobe: Int, centroids: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cdf = broadcast(centroids)
    val qdist = aggregate(
      zip_with(transform(col("qqv"), _.cast("double")),
        transform(col("cv"), _.cast("double")), (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)
    queries
      .select(col(id).as("query_id"), quant20(col(vec)).as("qqv"))
      .crossJoin(cdf)
      .select(col("query_id"), col("cell"),
        row_number().over(Window.partitionBy(col("query_id"))
          .orderBy(qdist, col("cell"))).as("crank"))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("cell"), col("crank"))
  }

  /** The SEARCH half of [[ivfQuantizedTopK]], taking a pre-built index
    * (`assigned` = (doc, cell) rows, `centroids` = (cell, cv) rows —
    * exactly what [[quantizedKMeans]] returns, round-trippable through
    * parquet since every value is integral). At scale the index is
    * built once at ingest and persisted; per-query cost is cell
    * probing + exact-cosine ranking of the probed cells only. The
    * registered gates read a session-fixture index through this entry
    * point, so the bench measures search, not training.
    */
  def ivfQuantizedSearch(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, k: Int, nprobe: Int, assigned: DataFrame,
      centroids: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probed = quantizedProbe(queries, id, vec, nprobe, centroids)
    val cands = assigned.withColumnRenamed("doc", "neighbor_id")
      .join(broadcast(probed), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .join(normalized(corpus, id, vec, "neighbor_id", "nv"), "neighbor_id")
      .join(broadcast(normalized(queries, id, vec, "query_id", "qv")), "query_id")
      .withColumn("cos", dotN(col("qv"), col("nv")))
    cands
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(desc("cos"), col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("neighbor_id"),
        (floor(col("cos") * 10000 + lit(0.5)) / 10000.0).as("cos_r4"))
  }

  /** ANN RECALL HARNESS: the operating-point table that makes nprobe a
    * measured choice instead of a guess — today a misconfigured probe
    * count fails SILENTLY (results come back, just worse). For each
    * requested nprobe, run the IVF search ([[ivfQuantizedSearch]], the
    * same code path production queries take) and count, in integers,
    * how many of the engine's own brute-force top-k ([[cosineTopK]],
    * the ground truth) it recovered.
    *
    * Output: one row per nprobe — (nprobe, k, n_queries, hits,
    * max_hits = n_queries·k, recall_pct half-up 2dp). Integer hit
    * counts are the hash-stable core (the s_ann_recall gate replays
    * quantizer + probing + both rankings in DuckDB); recall is the
    * derived ratio. Properties pinned in IvfSpec: hits is monotone in
    * nprobe (candidate sets are nested and displacement is by true
    * cosine), and the full probe recovers brute force exactly
    * (recall 1.0).
    *
    * Scale shape: the brute-force leg is the expensive one (it IS the
    * scan ANN replaces) — this is a CALIBRATION harness, run on a
    * query sample, not per query. One pass per requested nprobe, each
    * a probed-partition search like production. */
  def annRecall(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, k: Int, nprobes: Seq[Int], assigned: DataFrame,
      centroids: DataFrame): DataFrame = {
    require(nprobes.nonEmpty, "annRecall needs at least one nprobe")
    // one row per DEPTH: a repeated depth would explode every candidate
    // twice and double-count its hits
    val depths = nprobes.distinct
    import org.apache.spark.sql.expressions.Window
    val truth = graft.CacheRegistry.retain(
      cosineTopK(corpus, queries, id, vec, k)
        .select(col("query_id"), col("neighbor_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val nQueries = queries.select(col(id)).distinct().count()
    // ONE corpus pass for ALL depths (previously one ivfQuantizedSearch
    // plan per nprobe — at 4 depths, 4 scans of the corpus and 4x the
    // plan/codegen fixed cost): probe once at the deepest depth keeping
    // the probe rank, join/score candidates once, then expand each
    // candidate to the depths whose nested cell set contains it
    // (crank <= n). Per depth the candidate set, the (cos desc,
    // neighbor_id) ranking, and the truth semi-join are exactly what
    // the per-depth searches computed, so hits are bit-identical — the
    // s_ann_recall oracle hash pins that.
    val maxProbe = depths.max
    val probed = quantizedProbeRanked(queries, id, vec, maxProbe, centroids)
    val cands = assigned.withColumnRenamed("doc", "neighbor_id")
      .join(broadcast(probed), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .join(normalized(corpus, id, vec, "neighbor_id", "nv"), "neighbor_id")
      .join(broadcast(normalized(queries, id, vec, "query_id", "qv")), "query_id")
      .withColumn("cos", dotN(col("qv"), col("nv")))
    val hitsByDepth = cands
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("crank"),
        explode(array(depths.map(n => lit(n.toLong)): _*)).as("nprobe"))
      .filter(col("crank") <= col("nprobe"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("nprobe"), col("query_id"))
          .orderBy(desc("cos"), col("neighbor_id"))))
      .filter(col("rank") <= k)
      .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("nprobe")).agg(count(lit(1)).as("hits"))
    // a depth whose top-k recovers nothing must still emit its row
    // (the per-depth agg form produced hits = 0, not an absent row)
    val spark = corpus.sparkSession
    import spark.implicits._
    depths.map(_.toLong).toDF("nprobe")
      .join(hitsByDepth, Seq("nprobe"), "left")
      .select(col("nprobe"), lit(k.toLong).as("k"),
        lit(nQueries).as("n_queries"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        lit(nQueries * k).as("max_hits"),
        graft.functions.Arith.r2(
          coalesce(col("hits"), lit(0L)) * 100.0 /
            lit((nQueries * k).toDouble)).as("recall_pct"))
  }

  /** The actionable half of [[annRecall]]: the smallest nprobe whose
    * measured recall@k on the query sample meets `targetRecallPct` —
    * probe depths swept doubling (1, 2, 4, …, nlist), so the harness
    * costs O(log nlist) searches plus the one brute-force leg. Returns
    * nlist when nothing smaller suffices (full probe IS brute force,
    * so the target is always eventually met for targets ≤ 100). */
  def chooseNprobe(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, k: Int, nlist: Int, targetRecallPct: Double,
      assigned: DataFrame, centroids: DataFrame): Int = {
    require(nlist >= 1 && targetRecallPct <= 100.0,
      s"bad chooseNprobe params: nlist=$nlist target=$targetRecallPct")
    val depths = (Iterator.iterate(1)(_ * 2).takeWhile(_ < nlist).toSeq :+ nlist).distinct
    val rows = annRecall(corpus, queries, id, vec, k, depths,
      assigned, centroids)
      .select(col("nprobe"), col("recall_pct"))
      .collect().map(r => r.getLong(0).toInt -> r.getDouble(1)).sortBy(_._1)
    rows.find(_._2 >= targetRecallPct).map(_._1).getOrElse(nlist)
  }

  // ---------------------------------------------------------------------------
  // Product quantization — compressed-domain ANN
  // ---------------------------------------------------------------------------

  /** The 20-bit fixed-point quantization shared with [[quantizedKMeans]]. */
  private[graft] def quant20(vec: Column): Column =
    transform(asDouble(vec), x => floor(x * (1L << 20) + 0.5).cast("long"))

  /** One row per (doc, subspace): the quantized sub-vector. */
  private def subspaceRows(df: DataFrame, id: String, vec: String,
      m: Int, dsub: Int): DataFrame =
    df.select(col(id).as("doc"), quant20(col(vec)).as("qv"))
      .select(col("doc"), explode(expr(
        s"transform(sequence(0, ${m - 1}), mm -> " +
          s"struct(cast(mm as int) AS m, slice(qv, mm * $dsub + 1, $dsub) AS sv))")).as("e"))
      .select(col("doc"), col("e.m").as("m"), col("e.sv").as("sv"))

  /** Product-quantization training: split `dim` into `m` subspaces of
    * dim/m dims and train `ksub` centroids per subspace with the SAME
    * deterministic integer Lloyd's as [[quantizedKMeans]] — but ALL
    * subspaces train in ONE distributed pass per round (the subspace
    * index is just another grouping key), so driver round-trips stay
    * `iters` regardless of m. Init: subspace codebook j = sub-vectors
    * of the ksub smallest ids; empty cells carry their previous
    * centroid; every distance and mean is exact integer arithmetic, so
    * a DuckDB oracle replays the whole build (s_ann_pq_adc).
    *
    * Returns (codes (doc, m, cell), codebooks[m][cell][d]).
    */
  private[graft] def pqTrain(df: DataFrame, id: String, vec: String,
      m: Int, ksub: Int, dim: Int, iters: Int, trainFraction: Double = 1.0,
      seed: Long = 17L): (DataFrame, Array[Array[Array[Long]]]) = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    require(iters >= 1, s"pqTrain needs at least one Lloyd's round, got $iters")
    require(trainFraction > 0.0 && trainFraction <= 1.0,
      s"trainFraction must be in (0, 1], got $trainFraction")
    val dsub = dim / m
    val subs = graft.CacheRegistry.retain(
      subspaceRows(df.repartition(col(id)), id, vec, m, dsub)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // sample DOCUMENTS, not (doc, subspace) rows — a codebook trained
    // on half a vector's subspaces would skew per-subspace statistics
    val trainDf = if (trainFraction >= 1.0) df
      else df.sample(withReplacement = false, trainFraction, seed)
    val trainSubs =
      if (trainFraction >= 1.0) subs
      else graft.CacheRegistry.retain(
        subspaceRows(trainDf.repartition(col(id)), id, vec, m, dsub)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val initRows = trainDf
      .select(col(id).as("doc"), quant20(col(vec)).as("qv"))
      .orderBy(col("doc")).limit(ksub)
      .collect().map(_.getSeq[Long](1).toArray)
    var books: Array[Array[Array[Long]]] = Array.tabulate(m) { mm =>
      initRows.map(_.slice(mm * dsub, mm * dsub + dsub))
    }
    var codes: DataFrame = null
    for (_ <- 0 until iters) {
      val assigned = assignSubs(trainSubs, books)
      val sums = assigned
        .select(col("m"), col("cell"), posexplode(col("sv")).as(Seq("d", "q")))
        .groupBy(col("m"), col("cell"), col("d"))
        .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), (r.getLong(3), r.getLong(4))))
        .toMap
      books = Array.tabulate(m) { mm =>
        Array.tabulate(ksub) { j =>
          if (!sums.contains((mm, j, 0))) books(mm)(j)
          else Array.tabulate(dsub) { d =>
            val (s, n) = sums((mm, j, d))
            math.floor(s.toDouble / n).toLong
          }
        }
      }
      codes = assigned.select(col("doc"), col("m"), col("cell"))
    }
    // sampled training: one extra encode pass assigns EVERY doc's
    // sub-vectors with the fitted codebooks (full training already
    // encoded everything in the last round)
    if (trainFraction < 1.0)
      codes = assignSubs(subs, books).select(col("doc"), col("m"), col("cell"))
    (codes, books)
  }

  /** One encode pass: nearest codebook centroid per (doc, subspace) by
    * exact integer distance, ties to the lower cell. */
  private def assignSubs(subs: DataFrame,
      books: Array[Array[Array[Long]]]): DataFrame = {
    val spark = subs.sparkSession
    import spark.implicits._
    assignSubsCdf(subs, broadcast(bookRows(books).toDF("m", "cell", "cv")))
  }

  private def assignSubsCdf(subs: DataFrame, cdf: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dist = aggregate(
      zip_with(transform(col("sv"), _.cast("double")),
        transform(col("cv"), _.cast("double")), (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)
    subs.join(cdf, "m")
      .withColumn("dist", dist)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc"), col("m")).orderBy(col("dist"), col("cell"))))
      .filter(col("rn") === 1)
      .select(col("doc"), col("m"), col("sv"), col("cell"))
  }

  /** ENCODE-ONLY pass against FROZEN codebooks (the `books` DataFrame
    * form [[pqTrain]] persists): new vectors become m codes each
    * without retraining — the append path of a PQ index at rest.
    * Same tie rule as training's assignment, so encoding a vector the
    * trainer saw reproduces its training-time codes exactly. */
  private[graft] def pqEncode(df: DataFrame, id: String, vec: String,
      m: Int, dim: Int, books: DataFrame): DataFrame =
    assignSubsCdf(subspaceRows(df, id, vec, m, dim / m), broadcast(books))
      .select(col("doc"), col("m"), col("cell"))

  private[graft] def bookRows(books: Array[Array[Array[Long]]]): Seq[(Int, Int, Seq[Long])] =
    books.zipWithIndex.flatMap { case (cents, mm) =>
      cents.zipWithIndex.map { case (c, j) => (mm, j, c.toSeq) }
    }.toSeq

  /** PQ ANN top-k by ASYMMETRIC DISTANCE (ADC): the corpus lives as
    * m-byte codes (here m cells per doc — 8 codes instead of 64 floats,
    * the memory story that makes billion-vector search feasible), and a
    * query scans CODES, not vectors: its distance to every codebook
    * centroid is tabulated once (m × ksub integers, broadcast), and a
    * candidate's approximate distance is m table lookups summed. All
    * arithmetic is exact integers, so ranking (adist ASC, neighbor_id)
    * is totally ordered and the gate hash-checks at full precision —
    * approximation error relative to exact cosine is SimilaritySpec's
    * recall assertion, not hash noise.
    */
  def pqTopKAdc(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
      k: Int, m: Int, ksub: Int, dim: Int, iters: Int = 3,
      trainFraction: Double = 1.0): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (codes, books) = pqTrain(corpus, id, vec, m, ksub, dim, iters, trainFraction)
    pqSearchAdc(queries, id, vec, k, m, dim, codes,
      bookRows(books).toDF("m", "cell", "cv"))
  }

  /** The SEARCH half of [[pqTopKAdc]], taking a pre-built index
    * (`codes` = (doc, m, cell), `books` = (m, cell, cv) — what
    * [[pqTrain]] returns, parquet-round-trippable: all integral). At
    * scale the codes table IS the compressed corpus at rest; per-query
    * cost is the m × ksub distance tabulation plus one aggregate over
    * the codes. The registered gate reads a session-fixture index
    * through this entry point, so the bench measures ADC search, not
    * codebook training.
    */
  def pqSearchAdc(queries: DataFrame, id: String, vec: String, k: Int,
      m: Int, dim: Int, codes: DataFrame, books: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dsub = dim / m
    val cdf = books
    val dist = aggregate(
      zip_with(transform(col("qsv"), _.cast("double")),
        transform(col("cv"), _.cast("double")), (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)
    val dtab = subspaceRows(queries, id, vec, m, dsub)
      .withColumnRenamed("doc", "query_id").withColumnRenamed("sv", "qsv")
      .join(cdf, "m")
      .select(col("query_id"), col("m"), col("cell"), dist.cast("long").as("sdist"))
    val adc = codes
      .join(broadcast(dtab), Seq("m", "cell"))
      .filter(col("query_id") =!= col("doc"))
      .groupBy(col("query_id"), col("doc").as("neighbor_id"))
      .agg(sum(col("sdist")).as("adist"))
    adc
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("adist"), col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("adist"))
  }

  /** The REFINE step over [[pqSearchAdc]] — the standard IVF-PQ/DiskANN
    * two-stage search: ADC's integer ranking shortlists `k × refine`
    * candidates per query from the compressed codes alone, then ONLY
    * those rows' full vectors are fetched and reranked by exact cosine.
    * This is how compressed-domain search recovers accuracy without
    * giving up the memory story: the corpus stays m bytes/vector at
    * rest; exact arithmetic touches queries × k·refine rows, never the
    * corpus.
    *
    * Scale shape: the shortlist (queries × k·refine rows) is the small
    * side of both vector fetches — Spark broadcasts it against the
    * corpus read, so the refine pass is one pruned scan + a bounded
    * window. Determinism: the shortlist is exact integer ADC ranking
    * and the rerank is the same sequential dot fold as [[cosineTopK]],
    * so the full output is oracle-replayable (gate s31_ann_pq_refine);
    * recall-vs-refine monotonicity is SimilaritySpec's assertion.
    */
  def pqSearchRefined(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, k: Int, refine: Int, m: Int, dim: Int,
      codes: DataFrame, books: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(refine >= 1, s"refine factor must be >= 1, got $refine")
    val shortlist = pqSearchAdc(queries, id, vec, k * refine, m, dim,
      codes, books)
      .select(col("query_id"), col("neighbor_id"))
    shortlist
      // LEFT join + loud per-row refusal, not an inner join: a
      // shortlisted neighbor absent from `corpus` means the codes and
      // the vector table have drifted apart, and silently dropping it
      // would under-fill below k with no error — the same
      // loud-refusal discipline as the lake's other guards. The check
      // is one codegen'd null test over the BOUNDED shortlist
      // (queries × k·refine rows), never the corpus.
      .join(normalized(corpus, id, vec, "neighbor_id", "nv"),
        Seq("neighbor_id"), "left")
      .withColumn("nv", when(col("nv").isNull, raise_error(concat(
        lit("pqSearchRefined: shortlisted neighbor "), col("neighbor_id"),
        lit(" has no vector in the corpus — codes lake and corpus table " +
          "are out of sync")))).otherwise(col("nv")))
      .join(broadcast(normalized(queries, id, vec, "query_id", "qv")), "query_id")
      .withColumn("cos", dotN(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(desc("cos"), col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"),
        (floor(col("cos") * 10000 + lit(0.5)) / 10000.0).as("cos_r4"))
  }

  /** ANN top-k via multi-table LSH: candidates share the query's bucket
    * in ANY of the `tables` hash tables (union via dropDuplicates), then
    * exact cosine ranks the candidate set. Recall grows with `tables`,
    * candidate cost with 1/2^nbits; recall vs `cosineTopK` is asserted
    * in SimilaritySpec.
    */
  def annTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
      k: Int, nbits: Int, tables: Int, dim: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cb = hyperplaneBuckets(corpus, id, vec, nbits, tables, dim)
      .withColumnRenamed("doc", "neighbor_id")
    val qb = hyperplaneBuckets(queries, id, vec, nbits, tables, dim)
      .withColumnRenamed("doc", "query_id")
    val cands = cb.join(broadcast(qb), Seq("table_id", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
    val withVecs = cands
      .join(normalized(corpus, id, vec, "neighbor_id", "nv"), "neighbor_id")
      .join(broadcast(normalized(queries, id, vec, "query_id", "qv")), "query_id")
    withVecs
      .withColumn("cos", dotN(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(desc("cos"), col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("neighbor_id"),
        (floor(col("cos") * 10000 + lit(0.5)) / 10000.0).as("cos_r4"))
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.sources.{AnnLake, VersionedLake}

/** The lake-backed incremental ANN index: correctness of the frozen-
  * quantizer append path, exactness of full probing, partition-pruned
  * search I/O, and the exactly-once append guard.
  */
class AnnLakeSpec extends SparkSpec {

  private lazy val root = {
    val r = java.nio.file.Files.createTempDirectory("graft_ann_lake").toString
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    AnnLake.create(emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      r, nlist = 8, dim = 64)
    AnnLake.append(emb.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding",
      r, batchId = Some(0L))
    r
  }

  test("build-half + append-half, full-probe search equals brute-force cosine") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val queries = emb.filter(col("vec_id") < 5)
    val viaLake = AnnLake.search(spark, queries, "vec_id", "embedding",
      root, k = 10, nprobe = 8).collect().map(_.toSeq).toSet
    val brute = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 10)
      .collect().map(_.toSeq).toSet
    assert(viaLake == brute && viaLake.nonEmpty)
  }

  test("partial probe: pruned read touches fewer files, result equals unpruned search") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val queries = emb.filter(col("vec_id") === 0)
    val f2 = AnnLake.prunedInputFiles(spark, queries, "vec_id", "embedding", root, 2)
    val f8 = AnnLake.prunedInputFiles(spark, queries, "vec_id", "embedding", root, 8)
    assert(f2.nonEmpty && f2.length < f8.length,
      s"expected pruning: ${f2.length} vs ${f8.length}")
    // the pruned search equals the same search over the UNPRUNED index
    // (pruning only removes cells no probe names)
    val pruned = AnnLake.search(spark, queries, "vec_id", "embedding",
      root, k = 10, nprobe = 2).collect().map(_.toSeq).toSet
    val all = VersionedLake.read(spark, s"$root/vectors")
      .select(col("doc"), col("v"), col("cell").cast("int").as("cell"))
    val unpruned = Similarity.ivfQuantizedSearch(
      all.select(col("doc").as("vec_id"), col("v").as("embedding")),
      queries, "vec_id", "embedding", k = 10, nprobe = 2,
      all.select(col("doc"), col("cell")),
      spark.read.parquet(s"$root/centroids"))
      .collect().map(_.toSeq).toSet
    assert(pruned == unpruned && pruned.nonEmpty)
  }

  test("PQ code lake: codes round-trip packing, appendPq exactly-once, partial probe prunes, refine at full shortlist is exact") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val r = java.nio.file.Files.createTempDirectory("graft_ann_pq").toString
    AnnLake.createPq(emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      r, nlist = 8, m = 8, ksub = 16, dim = 64)
    AnnLake.appendPq(emb.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding",
      r, batchId = Some(0L))
    // exactly-once: a re-delivered batch is a no-op
    val rowsBefore = VersionedLake.read(spark, s"$r/vectors").count()
    AnnLake.appendPq(emb.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding",
      r, batchId = Some(0L))
    assert(VersionedLake.read(spark, s"$r/vectors").count() == rowsBefore)
    assert(rowsBefore == emb.count())
    // every stored row is m codes in [0, ksub)
    val lake = VersionedLake.read(spark, s"$r/vectors")
    assert(lake.filter(size(col("code")) =!= 8).count() == 0)
    assert(lake.select(explode(col("code")).as("c"))
      .filter(col("c") < 0 || col("c") >= 16).count() == 0)
    val queries = emb.filter(col("vec_id") < 3)
    // partial probe reads fewer code files than full probe, and its
    // candidates come only from the probed cells' partitions
    val full = AnnLake.searchPq(spark, queries, "vec_id", "embedding",
      r, k = 10, nprobe = 8).collect()
    assert(full.length == 30)
    val partial = AnnLake.searchPq(spark, queries, "vec_id", "embedding",
      r, k = 10, nprobe = 2).collect().map(_.getLong(2)).toSet
    val probedDocs = lake.select(col("doc")).collect().map(_.getLong(0)).toSet
    assert(partial.subsetOf(probedDocs) && partial.nonEmpty)
    // refine with a corpus-sized shortlist at full probe IS brute force
    val n = emb.count().toInt
    val refined = AnnLake.searchPqRefined(spark, queries, "vec_id", "embedding",
      r, k = 10, refine = n, nprobe = 8, corpus = emb)
      .collect().map(_.toSeq).toSet
    val brute = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 10)
      .collect().map(_.toSeq).toSet
    assert(refined == brute && refined.nonEmpty)
    // a plain (non-PQ) lake is refused loudly by the PQ search
    val e = intercept[IllegalArgumentException] {
      AnnLake.searchPq(spark, queries, "vec_id", "embedding", root,
        k = 10, nprobe = 8)
    }
    assert(e.getMessage.contains("not a PQ index lake"))
    // filtered form fills k from ALLOWED docs only (no under-fill):
    // a 1-in-5 filter still returns k rows per query, all allowed
    val allow = emb.filter(col("vec_id") % 5 === 0).select(col("vec_id"))
    val filt = AnnLake.searchPqFiltered(spark, queries, "vec_id", "embedding",
      r, k = 10, nprobe = 8, allow = allow).collect()
    assert(filt.length == 30)
    assert(filt.forall(_.getLong(2) % 5 == 0))
    // TVF parity
    queries.createOrReplaceTempView("annpq_q")
    val viaSql = spark.sql(
      s"SELECT * FROM ann_lake_search_pq('annpq_q', 'vec_id', 'embedding', '$r', 10, 8)")
      .collect().map(_.toSeq).toSet
    assert(viaSql == full.map(_.toSeq).toSet)
  }

  test("append is exactly-once under batch-id re-delivery; frozen assignment rule") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val v = VersionedLake.currentVersion(s"$root/vectors")
    AnnLake.append(emb.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding",
      root, batchId = Some(0L))
    assert(VersionedLake.currentVersion(s"$root/vectors") == v,
      "replayed batch id must not advance the lake")
    // appended rows sit in the cell the frozen centroids assign
    val cents = spark.read.parquet(s"$root/centroids")
    val stored = VersionedLake.read(spark, s"$root/vectors")
      .filter(col("doc") % 2 =!= 0)
      .select(col("doc"), col("cell").cast("int").as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val expect = Similarity.assignCells(
      emb.filter(col("vec_id") % 2 =!= 0)
        .select(col("vec_id").as("doc"),
          Similarity.quant20(col("embedding")).as("qv")),
      cents.collect().sortBy(_.getInt(0))
        .map(_.getAs[scala.collection.Seq[Long]]("cv").toArray))
      .select(col("doc"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(stored == expect && stored.nonEmpty)
  }

  test("ann_lake_search TVF equals the Scala API") {
    val q = Tables.embeddings(spark, sf("sf0.001")).filter(col("vec_id") < 5)
    q.createOrReplaceTempView("ann_q")
    val viaSql = spark.sql(
      s"SELECT * FROM ann_lake_search('ann_q', 'vec_id', 'embedding', '$root', 10, 8)")
      .collect().map(_.toSeq).toSet
    val viaApi = AnnLake.search(spark, q, "vec_id", "embedding", root,
      k = 10, nprobe = 8).collect().map(_.toSeq).toSet
    assert(viaSql == viaApi && viaSql.nonEmpty)
  }

  test("delete retracts embeddings: full-probe equals brute force on survivors") {
    val r = java.nio.file.Files.createTempDirectory("graft_ann_del").toString
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    AnnLake.create(emb, "vec_id", "embedding", r, nlist = 8, dim = 64)
    AnnLake.delete(emb.filter(col("vec_id") >= 10 && col("vec_id") < 20),
      "vec_id", r, batchId = Some(0L))
    val queries = emb.filter(col("vec_id") < 5)
    val afterDelete = AnnLake.search(spark, queries, "vec_id", "embedding",
      r, k = 10, nprobe = 8).collect().map(_.toSeq).toSet
    val brute = Similarity.cosineTopK(
      emb.filter(col("vec_id") < 10 || col("vec_id") >= 20),
      queries, "vec_id", "embedding", 10).collect().map(_.toSeq).toSet
    assert(afterDelete == brute && afterDelete.nonEmpty)
    // replayed delete is a no-op
    val v = VersionedLake.currentVersion(s"$r/vectors")
    AnnLake.delete(emb.filter(col("vec_id") >= 10 && col("vec_id") < 20),
      "vec_id", r, batchId = Some(0L))
    assert(VersionedLake.currentVersion(s"$r/vectors") == v)
    // the rows-to-delete read is candidate-bounded through the doc
    // Blooms the index records: one id admits a strict subset of the
    // files, an absent id admits none — decided from manifest metadata
    val all = VersionedLake.read(spark, s"$r/vectors").inputFiles.length
    val one = VersionedLake.prunedPointFiles(s"$r/vectors", "doc", Seq("3"))
    assert(one.nonEmpty && one.size < all, s"${one.size} vs $all")
    assert(VersionedLake.prunedPointFiles(s"$r/vectors", "doc",
      Seq("absent-983245872")).isEmpty)
  }

  test("cellStats reads population from manifest metadata; reindex rebuilds blue/green") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val queries = emb.filter(col("vec_id") < 5)
    // drift signal: per-cell rows from the manifest alone, summing to
    // the corpus — no data files are opened for this
    val stats = AnnLake.cellStats(spark, root).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    // SQL form sees the same table
    assert(spark.sql(s"SELECT * FROM ann_cell_stats('$root')").collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap == stats)
    assert(stats.values.sum == emb.count(), stats.toString)
    assert(stats.keySet.size <= 8 && stats.keySet.nonEmpty)
    // blue/green reindex: fresh quantizer over the grown corpus in a
    // NEW lake; the old lake is untouched and both agree at full probe
    val nw = java.nio.file.Files.createTempDirectory("graft_ann_reindex").toString
    AnnLake.reindex(spark, root, nw, nlist = 8, dim = 64)
    val oldFull = AnnLake.search(spark, queries, "vec_id", "embedding",
      root, k = 10, nprobe = 8).collect().map(_.toSeq).toSet
    val newFull = AnnLake.search(spark, queries, "vec_id", "embedding",
      nw, k = 10, nprobe = 8).collect().map(_.toSeq).toSet
    assert(newFull == oldFull && newFull.nonEmpty)
    // the new quantizer trained on everything: its lake carries the
    // same doc set, reassigned
    assert(VersionedLake.read(spark, s"$nw/vectors").count() == emb.count())
  }

  test("indexStream: streamed embeddings land exactly-once; full probe equals brute force") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val r = java.nio.file.Files.createTempDirectory("graft_ann_stream").toString
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    AnnLake.create(emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      r, nlist = 8, dim = 64)
    val tail = emb.filter(col("vec_id") % 2 =!= 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    val ms = MemoryStream[(Long, Seq[Float])]
    tail.grouped(math.max(1, tail.length / 2 + 1)).foreach { b =>
      ms.addData(b.toSeq)
      // NB the encoder's array<float> has containsNull=false while the
      // lake recorded the parquet (nullable-element) form — the lake's
      // nullability-widening schema merge accepts the append
      AnnLake.indexStream(ms.toDS().toDF("vec_id", "embedding"),
        "vec_id", "embedding", r, s"$r/ckpt").awaitTermination()
    }
    val queries = emb.filter(col("vec_id") < 5)
    val viaLake = AnnLake.search(spark, queries, "vec_id", "embedding",
      r, k = 10, nprobe = 8).collect().map(_.toSeq).toSet
    val brute = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 10)
      .collect().map(_.toSeq).toSet
    assert(viaLake == brute && viaLake.nonEmpty)
    assert(VersionedLake.read(spark, s"$r/vectors").count() == emb.count())
  }

  test("indexStreamPq + compaction: files collapse per cell, search results hash-identical across the fold") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val r = java.nio.file.Files.createTempDirectory("graft_ann_pqstream").toString
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    AnnLake.createPq(emb.filter(col("vec_id") % 4 === 0), "vec_id", "embedding",
      r, nlist = 8, m = 8, ksub = 16, dim = 64)
    val tail = emb.filter(col("vec_id") % 4 =!= 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    val ms = MemoryStream[(Long, Seq[Float])]
    // four ticks with compactEvery=2: batches 2 and (none later) fold
    tail.grouped(math.max(1, tail.length / 4 + 1)).foreach { b =>
      ms.addData(b.toSeq)
      AnnLake.indexStreamPq(ms.toDS().toDF("vec_id", "embedding"),
        "vec_id", "embedding", r, s"$r/ckpt", compactEvery = 2)
        .awaitTermination()
    }
    assert(VersionedLake.read(spark, s"$r/vectors").count() == emb.count())
    val queries = emb.filter(col("vec_id") < 5)
    def searchSet() = AnnLake.searchPq(spark, queries, "vec_id", "embedding",
      r, k = 10, nprobe = 8).collect().map(_.toSeq).toSet
    val preFold = searchSet()
    val filesBefore = VersionedLake.read(spark, s"$r/vectors").inputFiles.length
    AnnLake.compact(spark, r) // fold whatever the cadence left fragmented
    val filesAfter = VersionedLake.read(spark, s"$r/vectors").inputFiles.length
    assert(filesAfter < filesBefore,
      s"compaction must collapse code files: $filesBefore -> $filesAfter")
    // one file per cell partition (the s17 discipline) and the SAME
    // search results byte for byte — compaction rewrites layout only
    val v = VersionedLake.currentVersion(s"$r/vectors")
    val parts = VersionedLake.manifestEntries(s"$r/vectors", v).map(_.partition)
    assert(parts.distinct.size == parts.size, "one file per cell")
    assert(searchSet() == preFold && preFold.nonEmpty)
    // replay after the fold is still a no-op (watermark survives)
    val rows = VersionedLake.read(spark, s"$r/vectors").count()
    AnnLake.appendPq(emb.filter(col("vec_id") % 4 === 1), "vec_id",
      "embedding", r, batchId = Some(0L))
    assert(VersionedLake.read(spark, s"$r/vectors").count() == rows)
  }

  test("cutover: tail replayed, handle repointed, rerun idempotent, retire guarded") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val queries = emb.filter(col("vec_id") < 5)
    val base = java.nio.file.Files.createTempDirectory("graft_ann_cut").toString
    val live = s"$base/live"; val green = s"$base/green"
    AnnLake.create(emb.filter(col("vec_id") % 3 === 0), "vec_id", "embedding",
      live, nlist = 8, dim = 64)
    AnnLake.append(emb.filter(col("vec_id") % 3 === 1), "vec_id", "embedding",
      live, batchId = Some(0L))
    AnnLake.reindex(spark, live, green, nlist = 8, dim = 64)
    // in-flight: an append lands on the OLD index while green builds,
    // and maintenance compacts it (a row-less tail version the replay
    // must skip, not refuse — indexStream's compactEvery produces these)
    AnnLake.append(emb.filter(col("vec_id") % 3 === 2), "vec_id", "embedding",
      live, batchId = Some(1L))
    AnnLake.compact(spark, live)
    AnnLake.cutover(spark, live, green)
    // the ORIGINAL handle now resolves to the green index, and the
    // full-probe search over it sees the COMPLETE corpus — nothing in
    // flight during the rebuild was lost
    val viaHandle = AnnLake.search(spark, queries, "vec_id", "embedding",
      live, k = 10, nprobe = 8).collect().map(_.toSeq).toSet
    val brute = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 10)
      .collect().map(_.toSeq).toSet
    assert(viaHandle == brute && viaHandle.nonEmpty)
    assert(VersionedLake.read(spark, s"$green/vectors").count() == emb.count())
    // a crashed-and-rerun cutover is a no-op past the watermark
    val vBefore = VersionedLake.currentVersion(s"$green/vectors")
    AnnLake.cutover(spark, live, green)
    assert(VersionedLake.currentVersion(s"$green/vectors") == vBefore)
    assert(VersionedLake.read(spark, s"$green/vectors").count() == emb.count())
    // retire refuses on a live (un-cut-over) lake, works on the handle
    assert(intercept[IllegalArgumentException] {
      AnnLake.retire(green)
    }.getMessage.contains("not been cut over"))
    AnnLake.retire(live)
    assert(!new java.io.File(s"$live/vectors").exists())
    assert(AnnLake.search(spark, queries, "vec_id", "embedding",
      live, k = 10, nprobe = 8).collect().map(_.toSeq).toSet == brute)
    // appends through the handle land in the green index
    AnnLake.append(emb.filter(col("vec_id") === 0)
      .select((col("vec_id") + 5000).as("vec_id"), col("embedding")),
      "vec_id", "embedding", live, batchId = Some(2L))
    assert(VersionedLake.read(spark, s"$green/vectors").count() == emb.count() + 1)
    // create through a cut-over handle is refused (it would clobber green)
    assert(intercept[IllegalArgumentException] {
      AnnLake.create(emb, "vec_id", "embedding", live, nlist = 8, dim = 64)
    }.getMessage.contains("cut-over handle"))
  }

  test("vacuum bounds the time-travel window after a rotation: expired files reclaimed, current search unchanged") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val queries = emb.filter(col("vec_id") < 5)
    val base = java.nio.file.Files.createTempDirectory("graft_ann_vac").toString
    val live = s"$base/live"; val green = s"$base/green"
    AnnLake.create(emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      live, nlist = 8, dim = 64)
    AnnLake.append(emb.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding",
      live, batchId = Some(0L))
    AnnLake.reindex(spark, live, green, nlist = 8, dim = 64)
    AnnLake.cutover(spark, live, green)
    AnnLake.retire(live) // the OLD index behind the pointer is reclaimed...
    // ...but the GREEN index keeps accumulating history through the
    // handle: an append plus a layout fold (compaction rewrites files,
    // so pre-fold versions reference files the current one doesn't)
    AnnLake.append(emb.filter(col("vec_id") === 1)
      .select((col("vec_id") + 9000).as("vec_id"), col("embedding")),
      "vec_id", "embedding", live, batchId = Some(1L))
    AnnLake.compact(spark, live)
    def dataFiles(): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(s"$green/vectors"))
    }
    val beforeSearch = AnnLake.search(spark, queries, "vec_id", "embedding",
      live, k = 10, nprobe = 8).collect().map(_.toSeq).toSet
    val filesBefore = dataFiles()
    val cur = AnnLake.currentVersion(live)
    assert(cur >= 3, s"fixture should have accumulated history, cur=$cur")
    AnnLake.vacuum(live, keepFrom = cur)
    assert(dataFiles() < filesBefore,
      s"vacuum reclaimed nothing: $filesBefore files before and after")
    // the current version's search is untouched by construction
    val afterSearch = AnnLake.search(spark, queries, "vec_id", "embedding",
      live, k = 10, nprobe = 8).collect().map(_.toSeq).toSet
    assert(afterSearch == beforeSearch && afterSearch.nonEmpty)
    // an expired version now refuses at manifest resolution
    assert(intercept[IllegalArgumentException] {
      AnnLake.search(spark, queries, "vec_id", "embedding",
        live, k = 10, nprobe = 8, version = Some(1)).collect()
    }.getMessage.contains("does not exist"))
  }

  test("cutover stabilization: an append racing the pointer swap is replayed onto green") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val base = java.nio.file.Files.createTempDirectory("graft_ann_race").toString
    val live = s"$base/live"; val green = s"$base/green"
    AnnLake.create(emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      live, nlist = 8, dim = 64)
    AnnLake.reindex(spark, live, green, nlist = 8, dim = 64)
    // the racing appender RESOLVED the handle before the swap (no
    // pointer existed), so its write targets the old index root; its
    // commit lands inside cutover's swap → final-replay window via the
    // test seam. Going through AnnLake.append(live) here would resolve
    // the fresh pointer to green and miss the race entirely — replicate
    // the pre-swap-resolved appender's exact writes instead.
    val straggler = emb.filter(col("vec_id") % 2 =!= 0)
    AnnLake.onPointerSwapped = () => {
      AnnLake.onPointerSwapped = () => ()
      val cents = spark.read.parquet(s"$live/centroids")
        .collect().sortBy(_.getInt(0))
        .map(_.getAs[scala.collection.Seq[Long]]("cv").toArray)
      val assigned = Similarity.assignCells(
        straggler.select(col("vec_id").as("doc"),
          Similarity.quant20(col("embedding")).as("qv")), cents)
        .select(col("doc"), col("cell"))
      val rows = straggler
        .select(col("vec_id").as("doc"), col("embedding").as("v"))
        .join(assigned, "doc")
      VersionedLake.append(rows, s"$live/vectors", "cell", Some(7L))
    }
    try AnnLake.cutover(spark, live, green)
    finally AnnLake.onPointerSwapped = () => ()
    // nothing stranded: green holds the complete corpus and a
    // full-probe search through the handle equals brute force over it
    assert(VersionedLake.read(spark, s"$green/vectors").count() == emb.count(),
      "the racing append must be replayed onto the green index")
    val queries = emb.filter(col("vec_id") < 5)
    val viaHandle = AnnLake.search(spark, queries, "vec_id", "embedding",
      live, k = 10, nprobe = 8).collect().map(_.toSeq).toSet
    val brute = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 10)
      .collect().map(_.toSeq).toSet
    assert(viaHandle == brute && viaHandle.nonEmpty)
  }

  test("PQ rotation: retrained books, tail re-encoded from the cold store, rerun idempotent, partial corpus refused") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val queries = emb.filter(col("vec_id") < 5)
    val base = java.nio.file.Files.createTempDirectory("graft_pq_rot").toString
    val live = s"$base/live"; val green = s"$base/green"; val ref = s"$base/ref"
    AnnLake.createPq(emb.filter(col("vec_id") % 3 === 0), "vec_id", "embedding",
      live, nlist = 8, m = 8, ksub = 16, dim = 64, itersPq = 3)
    AnnLake.appendPq(emb.filter(col("vec_id") % 3 === 1), "vec_id", "embedding",
      live, batchId = Some(0L))
    // reindex pins membership {0,1}; an in-flight tail append lands on
    // the OLD index during the rebuild window and must be re-encoded
    // against the GREEN books by the cutover (codes are lossy — the
    // replay fetches vectors from the cold corpus table)
    AnnLake.reindexPq(spark, live, green, emb, "vec_id", "embedding",
      nlist = 8, m = 8, ksub = 16, dim = 64, itersPq = 3)
    AnnLake.appendPq(emb.filter(col("vec_id") % 3 === 2), "vec_id", "embedding",
      live, batchId = Some(1L))
    AnnLake.cutoverPq(spark, live, green, emb, "vec_id", "embedding")
    // deterministic reference: one-shot createPq on the pinned
    // membership (same training rows → same books/centroids) plus a
    // frozen-books append of the tail — the rotated handle must search
    // identically
    AnnLake.createPq(emb.filter(col("vec_id") % 3 =!= 2), "vec_id", "embedding",
      ref, nlist = 8, m = 8, ksub = 16, dim = 64, itersPq = 3)
    AnnLake.appendPq(emb.filter(col("vec_id") % 3 === 2), "vec_id", "embedding",
      ref, batchId = Some(0L))
    val viaHandle = AnnLake.searchPq(spark, queries, "vec_id", "embedding",
      live, k = 10, nprobe = 8).collect().map(_.toSeq).toSet
    val viaRef = AnnLake.searchPq(spark, queries, "vec_id", "embedding",
      ref, k = 10, nprobe = 8).collect().map(_.toSeq).toSet
    assert(viaHandle == viaRef && viaHandle.nonEmpty)
    assert(VersionedLake.read(spark, s"$green/vectors").count() == emb.count(),
      "the tail append must be replayed onto the green code lake")
    // a crashed-and-rerun cutover is a no-op past the watermark
    val vB = VersionedLake.currentVersion(s"$green/vectors")
    AnnLake.cutoverPq(spark, live, green, emb, "vec_id", "embedding")
    assert(VersionedLake.currentVersion(s"$green/vectors") == vB)
    // a corpus missing member vectors is refused loudly, not silently
    // under-indexed
    assert(intercept[IllegalArgumentException] {
      AnnLake.reindexPq(spark, live, s"$base/g2",
        emb.filter(col("vec_id") % 5 =!= 0), "vec_id", "embedding",
        nlist = 8, m = 8, ksub = 16, dim = 64)
    }.getMessage.contains("missing"))
    // ...and a DUPLICATED id must not mask the gap (row counts would
    // match; distinct coverage is checked first), nor pass when
    // coverage is complete (ambiguous vectors)
    val oneDup = emb.filter(col("vec_id") === 0)
    assert(intercept[IllegalArgumentException] {
      AnnLake.reindexPq(spark, live, s"$base/g2b",
        emb.filter(col("vec_id") =!= 3).unionByName(oneDup),
        "vec_id", "embedding", nlist = 8, m = 8, ksub = 16, dim = 64)
    }.getMessage.contains("missing"))
    assert(intercept[IllegalArgumentException] {
      AnnLake.reindexPq(spark, live, s"$base/g2c",
        emb.unionByName(oneDup), "vec_id", "embedding",
        nlist = 8, m = 8, ksub = 16, dim = 64)
    }.getMessage.contains("duplicate"))
    // reindexPq refuses a float (non-PQ) lake
    AnnLake.create(emb.limit(50), "vec_id", "embedding",
      s"$base/float", nlist = 4, dim = 64)
    assert(intercept[IllegalArgumentException] {
      AnnLake.reindexPq(spark, s"$base/float", s"$base/g3", emb,
        "vec_id", "embedding", nlist = 4, m = 8, ksub = 16, dim = 64)
    }.getMessage.contains("not a PQ index lake"))
  }

  test("PQ cutover stabilization: an append racing the pointer swap is replayed onto green") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val base = java.nio.file.Files.createTempDirectory("graft_pq_race").toString
    val live = s"$base/live"; val green = s"$base/green"
    AnnLake.createPq(emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      live, nlist = 8, m = 8, ksub = 16, dim = 64, itersPq = 3)
    AnnLake.reindexPq(spark, live, green, emb, "vec_id", "embedding",
      nlist = 8, m = 8, ksub = 16, dim = 64, itersPq = 3)
    // the racing appender RESOLVED the handle before the swap —
    // replicate appendPq's exact writes against the old root (going
    // through the handle here would resolve the fresh pointer to green
    // and miss the race)
    val straggler = emb.filter(col("vec_id") % 2 =!= 0)
    AnnLake.onPointerSwapped = () => {
      AnnLake.onPointerSwapped = () => ()
      val cents = spark.read.parquet(s"$live/centroids")
        .collect().sortBy(_.getInt(0))
        .map(_.getAs[scala.collection.Seq[Long]]("cv").toArray)
      val assigned = Similarity.assignCells(
        straggler.select(col("vec_id").as("doc"),
          Similarity.quant20(col("embedding")).as("qv")), cents)
        .select(col("doc"), col("cell"))
      val codes = Similarity.pqEncode(straggler, "vec_id", "embedding",
        m = 8, dim = 64, spark.read.parquet(s"$live/books"))
      val packed = codes.groupBy(col("doc")).agg(
        transform(array_sort(collect_list(struct(col("m"), col("cell")))),
          x => x.getField("cell")).as("code"))
      VersionedLake.append(packed.join(assigned, "doc"),
        s"$live/vectors", "cell", Some(7L))
    }
    try AnnLake.cutoverPq(spark, live, green, emb, "vec_id", "embedding")
    finally AnnLake.onPointerSwapped = () => ()
    assert(VersionedLake.read(spark, s"$green/vectors").count() == emb.count(),
      "the racing PQ append must be replayed onto the green code lake")
    // green's ADC through the handle equals a deterministic reference
    // built the same way (train evens, frozen-books append of odds)
    val ref = s"$base/ref"
    AnnLake.createPq(emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      ref, nlist = 8, m = 8, ksub = 16, dim = 64, itersPq = 3)
    AnnLake.appendPq(straggler, "vec_id", "embedding", ref, batchId = Some(0L))
    val queries = emb.filter(col("vec_id") < 5)
    val viaHandle = AnnLake.searchPq(spark, queries, "vec_id", "embedding",
      live, k = 10, nprobe = 8).collect().map(_.toSeq).toSet
    val viaRef = AnnLake.searchPq(spark, queries, "vec_id", "embedding",
      ref, k = 10, nprobe = 8).collect().map(_.toSeq).toSet
    assert(viaHandle == viaRef && viaHandle.nonEmpty)
  }

  test("a live indexStream survives cutover: checkpoint kept, batch ids continue, nothing lost") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_ann_cutstream").toString
    val live = s"$base/live"; val green = s"$base/green"
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    AnnLake.create(emb.filter(col("vec_id") % 4 === 0), "vec_id", "embedding",
      live, nlist = 8, dim = 64)
    val tail = emb.filter(col("vec_id") % 4 =!= 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    val parts = tail.grouped(math.max(1, tail.length / 4 + 1)).toSeq
    assert(parts.length == 4, s"fixture expects 4 stream batches, got ${parts.length}")
    val ms = MemoryStream[(Long, Seq[Float])]
    def drain(): Unit =
      AnnLake.indexStream(ms.toDS().toDF("vec_id", "embedding"),
        "vec_id", "embedding", live, s"$base/ckpt").awaitTermination()
    // batches 0 and 1 land on the old index
    ms.addData(parts(0)); drain()
    ms.addData(parts(1)); drain()
    // rebuild while live: green pins the pre-reindex version...
    AnnLake.reindex(spark, live, green, nlist = 8, dim = 64)
    // ...and batch 2 lands on the OLD index mid-rebuild
    ms.addData(parts(2)); drain()
    AnnLake.cutover(spark, live, green)
    // the SAME checkpoint keeps the stream going — batch 3 resolves
    // through the handle into the green index, past the inherited
    // batch-id high-water
    ms.addData(parts(3)); drain()
    assert(VersionedLake.read(spark, s"$green/vectors").count() == emb.count())
    // full-probe search through the handle sees every vector
    val queries = emb.filter(col("vec_id") < 5)
    val viaHandle = AnnLake.search(spark, queries, "vec_id", "embedding",
      live, k = 10, nprobe = 8)
      .collect().map(_.toSeq).toSet
    val brute = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 10)
      .collect().map(_.toSeq).toSet
    assert(viaHandle == brute && viaHandle.nonEmpty)
  }

  test("cutover preconditions: non-reindexed target refused; cellStats names a missing lake") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val base = java.nio.file.Files.createTempDirectory("graft_ann_cut2").toString
    // a lake NOT built by reindex records no source version to replay from
    AnnLake.create(emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      s"$base/other", nlist = 8, dim = 64)
    assert(intercept[IllegalArgumentException] {
      AnnLake.cutover(spark, root, s"$base/other")
    }.getMessage.contains("reindex"))
    // cellStats on a never-created lake names the real problem
    assert(intercept[IllegalArgumentException] {
      AnnLake.cellStats(spark, s"$base/nowhere")
    }.getMessage.contains("no ANN index"))
  }

  test("filtered search fills k from ALLOWED docs only; TVF parity") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val queries = emb.filter(col("vec_id") < 5)
    val allow = emb.filter(col("vec_id") % 2 === 0).select(col("vec_id"))
    val got = AnnLake.searchFiltered(spark, queries, "vec_id", "embedding",
      root, k = 10, nprobe = 8, allow = allow)
    val rows = got.collect()
    // nothing disallowed leaks, and k still fills (a post-filtered
    // plain top-k would under-fill whenever odd ids ranked high)
    assert(rows.forall(_.getAs[Long]("neighbor_id") % 2 == 0))
    assert(rows.groupBy(_.getAs[Long]("query_id")).forall(_._2.length == 10))
    // equals brute force over the allowed corpus (full probe)
    val brute = Similarity.cosineTopK(emb.filter(col("vec_id") % 2 === 0),
      queries, "vec_id", "embedding", 10)
      .collect().map(_.toSeq).toSet
    assert(rows.map(_.toSeq).toSet == brute && rows.nonEmpty)
    // SQL form
    queries.createOrReplaceTempView("annf_q")
    allow.createOrReplaceTempView("annf_allow")
    assert(spark.sql(
      s"""SELECT * FROM ann_lake_search_filtered('annf_q', 'vec_id',
         |'embedding', '$root', 10, 8, 'annf_allow')""".stripMargin)
      .collect().map(_.toSeq).toSet == rows.map(_.toSeq).toSet)
  }

  test("compact folds increment files; search unchanged") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val queries = emb.filter(col("vec_id") < 5)
    val before = AnnLake.search(spark, queries, "vec_id", "embedding",
      root, k = 10, nprobe = 8).collect().map(_.toSeq).toSet
    val filesBefore = VersionedLake.read(spark, s"$root/vectors").inputFiles.length
    AnnLake.compact(spark, root)
    val filesAfter = VersionedLake.read(spark, s"$root/vectors").inputFiles.length
    assert(filesAfter < filesBefore, s"$filesAfter vs $filesBefore")
    assert(AnnLake.search(spark, queries, "vec_id", "embedding",
      root, k = 10, nprobe = 8).collect().map(_.toSeq).toSet == before)
  }
}

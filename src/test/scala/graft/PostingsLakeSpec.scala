package graft

import org.apache.spark.sql.functions._
import graft.operators.TextSearch
import graft.sources.{PostingsLake, VersionedLake}

/** The lake-backed incremental BM25 index: exact parity with the
  * tokenize-on-query operator over the union corpus, term-partition
  * pruning, and the exactly-once append guard.
  */
class PostingsLakeSpec extends SparkSpec {

  private val query = Seq("spark", "hash", "join", "stream")

  private lazy val root = {
    val r = java.nio.file.Files.createTempDirectory("graft_postings").toString
    val docs = Tables.documents(spark, sf("sf0.001"))
    PostingsLake.append(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", r, batchId = Some(0L))
    PostingsLake.append(docs.filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", r, batchId = Some(1L))
    r
  }

  test("two-increment lake search equals one-shot bm25TopK on the union corpus") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val viaLake = PostingsLake.search(spark, root, query, k = 50)
      .collect().map(_.toSeq).toSet
    val oneShot = TextSearch.bm25TopK(docs, "doc_id", "text", query, k = 50)
      .collect().map(_.toSeq).toSet
    assert(viaLake == oneShot && viaLake.nonEmpty)
  }

  test("query I/O is the terms' partitions, not the index") {
    val all = VersionedLake.read(spark, s"$root/postings").inputFiles
    val pruned = PostingsLake.prunedInputFiles(spark, root, query)
    assert(pruned.nonEmpty && pruned.length < all.length,
      s"expected pruning: ${pruned.length} vs ${all.length}")
    // a one-term query touches at most 1/64 of the term space
    val one = PostingsLake.prunedInputFiles(spark, root, Seq("spark"))
    assert(one.length <= pruned.length)
    // the term Bloom composes WITH partition pruning: a term absent
    // from the corpus lands in some partition, but no file's filter
    // admits it — zero files, decided from manifest metadata alone
    val absent = PostingsLake.prunedInputFiles(spark, root,
      Seq("zz-absent-term-983245872"))
    assert(absent.isEmpty, absent.mkString(","))
    // and search through the same pruned path still equals one-shot
    // (the parity test above already runs through readPoints)
    assert(VersionedLake.tableProps(s"$root/postings")("termParts") == "64")
    // a searcher hashing with a DIFFERENT termParts is refused loudly
    // by the recorded table property rather than silently mispruning
    intercept[IllegalArgumentException] {
      PostingsLake.append(Tables.documents(spark, sf("sf0.001")).limit(1),
        "doc_id", "text", root, termParts = 32, batchId = Some(7L))
    }
  }

  test("phraseSearch: lake equals one-shot, reads only phrase partitions, refuses pre-positional rows") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf("sf0.001"))
    // a phrase that exists: first two words of the lowest-id doc
    val phrase = docs.orderBy(col("doc_id")).limit(1)
      .select(array_join(slice(split(col("text"), " "), 1, 2), " "))
      .head().getString(0)
    val viaLake = PostingsLake.phraseSearch(spark, root, phrase)
      .collect().map(_.toSeq).toSet
    val oneShot = TextSearch.phraseSearch(docs, "doc_id", "text", phrase)
      .collect().map(_.toSeq).toSet
    assert(viaLake == oneShot && viaLake.nonEmpty)
    // the phrase read is the phrase WORDS' pruned file set, not the index
    val all = VersionedLake.read(spark, s"$root/postings").inputFiles.length
    val pruned = PostingsLake.prunedInputFiles(spark, root,
      phrase.split(" ").toSeq)
    assert(pruned.nonEmpty && pruned.length < all)
    // a lake whose postings predate positional recording refuses
    // loudly instead of silently missing occurrences
    val old = java.nio.file.Files.createTempDirectory("graft_prepos").toString
    VersionedLake.create(
      Seq(("alpha", 1L, 1L, 2L, 0L), ("beta", 1L, 1L, 2L, 1L))
        .toDF("term", "doc_id", "tf", "dl", "tp"),
      s"$old/postings", "tp", props = Map("termParts" -> "64"))
    assert(intercept[IllegalArgumentException] {
      PostingsLake.phraseSearch(spark, old, "alpha beta")
    }.getMessage.contains("no positional postings"))
    // evolved lake (old rows null positions) also refuses on contact —
    // at EVALUATION (the guard is fused into the projection so the
    // postings are read once, not once to validate and once to answer)
    PostingsLake.append(Seq((2L, "alpha beta")).toDF("doc_id", "text"),
      "doc_id", "text", old)
    val e = intercept[Exception] {
      PostingsLake.phraseSearch(spark, old, "alpha beta").collect()
    }
    assert((e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse(""))
      .contains("pre-positional"), e.getMessage)
  }

  test("proximitySearch: lake equals one-shot across slops; slop 0 matches phrase occurrences; refusal shared") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf("sf0.001"))
    val phrase = docs.orderBy(col("doc_id")).limit(1)
      .select(array_join(slice(split(col("text"), " "), 1, 3), " "))
      .head().getString(0)
    for (slop <- Seq(0, 2, 5)) {
      val viaLake = PostingsLake.proximitySearch(spark, root, phrase, slop)
        .collect().map(_.toSeq).toSet
      val oneShot = TextSearch.proximitySearch(docs, "doc_id", "text", phrase, slop)
        .collect().map(_.toSeq).toSet
      assert(viaLake == oneShot && viaLake.nonEmpty, s"slop=$slop diverged")
    }
    // slop 0 matches the exact-phrase doc set
    val prox0 = PostingsLake.proximitySearch(spark, root, phrase, 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val exact = PostingsLake.phraseSearch(spark, root, phrase)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(prox0 == exact)
    // pre-positional lakes refuse loudly through the shared read path
    val old = java.nio.file.Files.createTempDirectory("graft_preposx").toString
    VersionedLake.create(
      Seq(("alpha", 1L, 1L, 2L, 0L), ("beta", 1L, 1L, 2L, 1L))
        .toDF("term", "doc_id", "tf", "dl", "tp"),
      s"$old/postings", "tp", props = Map("termParts" -> "64"))
    assert(intercept[IllegalArgumentException] {
      PostingsLake.proximitySearch(spark, old, "alpha beta", 1)
    }.getMessage.contains("no positional postings"))
    // TVF parity
    assert(spark.sql(
      s"SELECT * FROM proximity_lake_search('$root', '$phrase', 2)")
      .collect().map(_.toSeq).toSet ==
      PostingsLake.proximitySearch(spark, root, phrase, 2)
        .collect().map(_.toSeq).toSet)
  }

  test("phraseSearchBatch: every phrase equals its one-shot phraseSearch, in one pass") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val phrases = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("phrase_id"),
        array_join(slice(split(col("text"), " "), 1, 3), " ").as("ptext"))
    val batch = PostingsLake.phraseSearchBatch(spark, root,
      phrases, "phrase_id", "ptext")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val serial = phrases.collect().flatMap { pr =>
      PostingsLake.phraseSearch(spark, root, pr.getString(1)).collect()
        .map(r => (pr.getLong(0), r.getLong(0), r.getLong(1), r.getLong(2)))
    }.toSet
    assert(batch == serial && batch.nonEmpty)
  }

  test("proximitySearchBatch: mixed-length phrases each equal their one-shot form, in one pass") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf("sf0.001"))
    // lengths 1–4 plus a REPEATED-word phrase: the runtime chain fold
    // must agree with the unrolled one-shot at every length, including
    // the degenerate single-word window and duplicate slots
    val prefixes = docs.filter(col("doc_id") % 60 === 0)
      .select(col("doc_id"),
        slice(split(col("text"), " "), 1, 4).as("w4"))
      .collect().zipWithIndex.map { case (r, i) =>
        val w = r.getSeq[String](1)
        val len = 1 + i % 4
        (r.getLong(0), w.take(len).mkString(" "))
      }
    val dupWord = docs.orderBy(col("doc_id")).limit(1)
      .select(split(col("text"), " ")).head().getSeq[String](0).head
    val all = prefixes :+ (999999L, s"$dupWord $dupWord")
    val phrases = all.toSeq.toDF("phrase_id", "ptext")
    for (slop <- Seq(0, 2)) {
      val batch = PostingsLake.proximitySearchBatch(spark, root,
        phrases, "phrase_id", "ptext", slop)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      val serial = all.flatMap { case (pid, ptext) =>
        PostingsLake.proximitySearch(spark, root, ptext, slop).collect()
          .map(r => (pid, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      }.toSet
      assert(batch == serial && batch.nonEmpty, s"slop=$slop diverged")
    }
  }

  test("batch search surfaces refuse blank phrases loudly instead of silently matching nothing") {
    import spark.implicits._
    // an empty/whitespace phrase tokenizes to zero words (its "" token
    // is filtered before the join) — the pre-fix behavior was plen=1
    // with no slots, a silent no-match (r18 ADVICE)
    for (bad <- Seq("", "   ", null.asInstanceOf[String])) {
      val phrases = Seq((1L, "alpha beta"), (2L, bad)).toDF("phrase_id", "ptext")
      assert(intercept[IllegalArgumentException] {
        PostingsLake.proximitySearchBatch(spark, root, phrases,
          "phrase_id", "ptext", 1)
      }.getMessage.contains("whitespace-only"), s"proximity bad=[$bad]")
      assert(intercept[IllegalArgumentException] {
        PostingsLake.phraseSearchBatch(spark, root, phrases,
          "phrase_id", "ptext")
      }.getMessage.contains("whitespace-only"), s"phrase bad=[$bad]")
    }
  }

  test("lake highlight: postings-driven snippets equal the one-shot form byte for byte") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val base = java.nio.file.Files.createTempDirectory("graft_hl_docs").toString
    VersionedLake.create(
      docs.select(col("doc_id"), col("text"))
        .withColumn("dp", pmod(xxhash64(col("doc_id")), lit(16))),
      s"$base/lake", "dp",
      blooms = Seq(VersionedLake.BloomSpec("doc_id")))
    val viaLake = PostingsLake.highlight(spark, root, s"$base/lake",
      "doc_id", "text", terms = Seq("spark", "stream"), window = 3)
      .collect().map(_.toSeq).toSet
    val oneShot = TextSearch.highlight(docs, "doc_id", "text",
      terms = Seq("spark", "stream"), window = 3)
      .collect().map(_.toSeq).toSet
    assert(viaLake == oneShot && viaLake.nonEmpty)
    // the snippet assembly rides the Bloom point-read: a single hit
    // doc admits a strict subset of the docs lake's files
    val one = docs.agg(min(col("doc_id"))).head().getLong(0).toString
    val all = VersionedLake.read(spark, s"$base/lake").inputFiles.length
    val pruned = VersionedLake.prunedPointFiles(s"$base/lake", "doc_id", Seq(one))
    assert(pruned.length < all,
      s"expected Bloom pruning for one hit doc: ${pruned.length} vs $all")
  }

  test("past the literal-list bound, search routes through the broadcast form identically") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    // absent terms carry no postings, so the fat query's answer is the
    // real terms' answer — what changes is only the restriction plan
    // (isin literals under the bound, broadcast semi-join over it)
    val fat = query ++
      (1 to PostingsLake.MaxLiteralTerms + 10).map(i => s"zzz-absent-$i")
    assert(fat.size > PostingsLake.MaxLiteralTerms)
    val viaLake = PostingsLake.search(spark, root, fat, k = 50)
      .collect().map(_.toSeq).toSet
    val oneShot = TextSearch.bm25TopK(docs, "doc_id", "text", query, k = 50)
      .collect().map(_.toSeq).toSet
    assert(viaLake == oneShot && viaLake.nonEmpty)
  }

  test("append is exactly-once under batch-id re-delivery") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val before = PostingsLake.search(spark, root, query, k = 50)
      .collect().map(_.toSeq).toSet
    val v = (VersionedLake.currentVersion(s"$root/postings"),
      VersionedLake.currentVersion(s"$root/doclens"))
    PostingsLake.append(docs.filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", root, batchId = Some(1L))
    assert((VersionedLake.currentVersion(s"$root/postings"),
      VersionedLake.currentVersion(s"$root/doclens")) == v)
    assert(PostingsLake.search(spark, root, query, k = 50)
      .collect().map(_.toSeq).toSet == before)
  }

  test("postings-lake TVFs equal the Scala API") {
    val r = java.nio.file.Files.createTempDirectory("graft_postings_tvf").toString
    Tables.documents(spark, sf("sf0.001")).limit(100)
      .createOrReplaceTempView("pl_docs")
    assert(spark.sql(
      s"SELECT * FROM bm25_lake_append('pl_docs', 'doc_id', 'text', '$r/lake')")
      .head().getString(0) == "appended")
    val viaSql = spark.sql(
      s"SELECT * FROM bm25_lake_search('$r/lake', 'spark,hash,join,stream', 20)")
      .collect().map(_.toSeq).toSet
    val viaApi = PostingsLake.search(spark, s"$r/lake", query, k = 20)
      .collect().map(_.toSeq).toSet
    assert(viaSql == viaApi && viaSql.nonEmpty)
    // the query-TABLE form: bm25_lake_batch ≡ searchBatch
    spark.sql("SELECT 1L AS query_id, 'spark hash join stream' AS qtext")
      .createOrReplaceTempView("pl_queries")
    val batchSql = spark.sql(
      s"SELECT * FROM bm25_lake_batch('$r/lake', 'pl_queries', 'query_id', 'qtext', 20)")
      .collect().map(_.toSeq).toSet
    val batchApi = PostingsLake.searchBatch(spark, s"$r/lake",
      spark.table("pl_queries"), "query_id", "qtext", k = 20)
      .collect().map(_.toSeq).toSet
    assert(batchSql == batchApi && batchSql.nonEmpty)
    // and a one-query batch ranks exactly like the single-query form
    // (drop the query_id column; both emit (rank, doc_id, ...))
    assert(batchApi.map(_.drop(1)) == viaApi)
    // the ingest statement DEFERS: EXPLAIN must not grow the index
    val vNow = VersionedLake.currentVersion(s"$r/lake/postings")
    spark.sql(
      s"EXPLAIN SELECT * FROM bm25_lake_append('pl_docs', 'doc_id', 'text', '$r/lake')")
      .collect()
    assert(VersionedLake.currentVersion(s"$r/lake/postings") == vNow,
      "EXPLAIN on bm25_lake_append must not append")
    // phrase_lake_batch ≡ phraseSearchBatch
    val phrase = Tables.documents(spark, sf("sf0.001")).orderBy(col("doc_id"))
      .limit(1).select(array_join(slice(split(col("text"), " "), 1, 3), " "))
      .head().getString(0)
    spark.sql(s"SELECT 1L AS pid, '$phrase' AS ptext")
      .createOrReplaceTempView("pl_phrases")
    val pbSql = spark.sql(
      s"SELECT * FROM phrase_lake_batch('$r/lake', 'pl_phrases', 'pid', 'ptext')")
      .collect().map(_.toSeq).toSet
    val pbApi = PostingsLake.phraseSearchBatch(spark, s"$r/lake",
      spark.table("pl_phrases"), "pid", "ptext").collect().map(_.toSeq).toSet
    assert(pbSql == pbApi && pbSql.nonEmpty)
    // highlight_lake ≡ PostingsLake.highlight
    VersionedLake.create(
      Tables.documents(spark, sf("sf0.001")).limit(100)
        .select(col("doc_id"), col("text"))
        .withColumn("dp", pmod(xxhash64(col("doc_id")), lit(16))),
      s"$r/docs", "dp", blooms = Seq(VersionedLake.BloomSpec("doc_id")))
    val hlSql = spark.sql(
      s"SELECT * FROM highlight_lake('$r/lake', '$r/docs', 'doc_id', 'text', 'spark,stream', 3)")
      .collect().map(_.toSeq).toSet
    val hlApi = PostingsLake.highlight(spark, s"$r/lake", s"$r/docs",
      "doc_id", "text", Seq("spark", "stream"), 3).collect().map(_.toSeq).toSet
    assert(hlSql == hlApi && hlSql.nonEmpty)
  }

  test("corpus stats come from the increments ledger, exact under append and delete") {
    import org.apache.spark.sql.functions.{avg, count, lit}
    val r = java.nio.file.Files.createTempDirectory("graft_postings_stats").toString
    val docs = Tables.documents(spark, sf("sf0.001"))
    PostingsLake.append(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", r, batchId = Some(0L))
    PostingsLake.append(docs.filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", r, batchId = Some(1L))
    PostingsLake.delete(docs.filter(col("doc_id") % 5 === 0), "doc_id", r,
      batchId = Some(2L))
    val ledger = PostingsLake.corpusStats(spark, r, None).head()
    val truth = VersionedLake.read(spark, s"$r/doclens")
      .agg(count(lit(1)), avg(col("dl"))).head()
    assert(ledger.getLong(0) == truth.getLong(0))
    assert(ledger.getDouble(1) == truth.getDouble(1),
      s"ledger ${ledger.getDouble(1)} vs scan ${truth.getDouble(1)}")
    // the ledger itself stays increments-sized: 3 rows, not corpus-sized
    assert(VersionedLake.read(spark, s"$r/stats").count() == 3L)

    // compaction FOLDS the ledger to one cumulative row with the same
    // (N, avgdl) — the O(1) form a years-old index converges to
    PostingsLake.compact(spark, r)
    assert(VersionedLake.read(spark, s"$r/stats").count() == 1L)
    val folded = PostingsLake.corpusStats(spark, r, None).head()
    assert(folded.getLong(0) == truth.getLong(0))
    assert(folded.getDouble(1) == truth.getDouble(1))
    // the batch-id watermark survives the fold: a redelivered increment
    // is still a no-op on every leg, including the folded ledger
    val vAfter = (VersionedLake.currentVersion(s"$r/postings"),
      VersionedLake.currentVersion(s"$r/doclens"),
      VersionedLake.currentVersion(s"$r/stats"))
    PostingsLake.append(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", r, batchId = Some(0L))
    assert((VersionedLake.currentVersion(s"$r/postings"),
      VersionedLake.currentVersion(s"$r/doclens"),
      VersionedLake.currentVersion(s"$r/stats")) == vAfter)
    assert(VersionedLake.read(spark, s"$r/stats").count() == 1L)
  }

  test("indexStream: streamed documents build the same index as batched appends") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val r = java.nio.file.Files.createTempDirectory("graft_postings_stream").toString
    // filter, not limit: an unordered LIMIT may pick different rows in
    // the stream fixture and the one-shot reference plans
    val docs = Tables.documents(spark, sf("sf0.001")).filter(col("doc_id") < 200)
    val rowsArr = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
    val ms = MemoryStream[(Long, String)]
    rowsArr.grouped(math.max(1, rowsArr.length / 3 + 1)).foreach { b =>
      ms.addData(b.toSeq)
      PostingsLake.indexStream(ms.toDS().toDF("doc_id", "text"),
        "doc_id", "text", r, s"$r/ckpt", compactEvery = 2).awaitTermination()
    }
    val viaStream = PostingsLake.search(spark, r, query, k = 30)
      .collect().map(_.toSeq).toSet
    val oneShot = TextSearch.bm25TopK(docs, "doc_id", "text", query, k = 30)
      .collect().map(_.toSeq).toSet
    assert(viaStream == oneShot && viaStream.nonEmpty)
    // streamed ticks carried batch ids, so the lake maintains the
    // stats ledger (and the mid-stream compaction folded it)
    assert(VersionedLake.tableProps(s"$r/postings").contains("stats"))
    assert(VersionedLake.read(spark, s"$r/stats").count() <= 3L)
  }

  test("a ledger lake refuses unwatermarked appends/deletes; a batchId-less lake never ledgers") {
    import org.apache.spark.sql.functions.{avg, count, lit}
    val docs = Tables.documents(spark, sf("sf0.001")).limit(50)
    // `root` was created WITH batch ids → it maintains the ledger, and
    // an unwatermarked write (which could crash between the doclens
    // and stats commits with no healing path) is refused loudly
    assert(intercept[IllegalArgumentException] {
      PostingsLake.append(docs, "doc_id", "text", root)
    }.getMessage.contains("batchId"))
    assert(intercept[IllegalArgumentException] {
      PostingsLake.delete(docs, "doc_id", root)
    }.getMessage.contains("batchId"))
    // a lake created WITHOUT a batchId never acquires the ledger and
    // derives stats from the doclens scan — correct, just not
    // increments-sized
    val r = java.nio.file.Files.createTempDirectory("graft_postings_noledger").toString
    PostingsLake.append(docs, "doc_id", "text", r)
    assert(!new java.io.File(s"$r/stats").exists())
    val stats = PostingsLake.corpusStats(spark, r, None).head()
    val truth = VersionedLake.read(spark, s"$r/doclens")
      .agg(count(lit(1)), avg(col("dl"))).head()
    assert(stats.getLong(0) == truth.getLong(0))
    assert(stats.getDouble(1) == truth.getDouble(1))
  }

  test("delete retracts documents: search equals one-shot on the surviving corpus") {
    val r = java.nio.file.Files.createTempDirectory("graft_postings_del").toString
    val docs = Tables.documents(spark, sf("sf0.001"))
    PostingsLake.append(docs, "doc_id", "text", r, batchId = Some(0L))
    PostingsLake.delete(docs.filter(col("doc_id") % 2 =!= 0), "doc_id", r,
      batchId = Some(1L))
    val afterDelete = PostingsLake.search(spark, r, query, k = 50)
      .collect().map(_.toSeq).toSet
    val oneShot = TextSearch.bm25TopK(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", query, k = 50).collect().map(_.toSeq).toSet
    assert(afterDelete == oneShot && afterDelete.nonEmpty)
    // re-delivered delete: versions unchanged
    val v = VersionedLake.currentVersion(s"$r/postings")
    PostingsLake.delete(docs.filter(col("doc_id") % 2 =!= 0), "doc_id", r,
      batchId = Some(1L))
    assert(VersionedLake.currentVersion(s"$r/postings") == v)
    // the pre-delete version is still searchable (retrieval time travel)
    val before = PostingsLake.search(spark, r, query, k = 50,
      version = Some(1)).collect().map(_.toSeq).toSet
    assert(before == TextSearch.bm25TopK(docs, "doc_id", "text", query, k = 50)
      .collect().map(_.toSeq).toSet)
  }

  test("compact folds increment files; search and phrase positions unchanged") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val phrase = docs.orderBy(col("doc_id")).limit(1)
      .select(array_join(slice(split(col("text"), " "), 1, 2), " "))
      .head().getString(0)
    val before = PostingsLake.search(spark, root, query, k = 50)
      .collect().map(_.toSeq).toSet
    val phraseBefore = PostingsLake.phraseSearch(spark, root, phrase)
      .collect().map(_.toSeq).toSet
    val filesBefore = VersionedLake.read(spark, s"$root/postings").inputFiles.length
    PostingsLake.compact(spark, root)
    val filesAfter = VersionedLake.read(spark, s"$root/postings").inputFiles.length
    assert(filesAfter < filesBefore, s"$filesAfter vs $filesBefore")
    assert(PostingsLake.search(spark, root, query, k = 50)
      .collect().map(_.toSeq).toSet == before)
    // the rewrite carries POSITIONS: contiguity answers are identical
    // post-compaction (a compactor dropping or reordering the column
    // would silently break every phrase query)
    assert(PostingsLake.phraseSearch(spark, root, phrase)
      .collect().map(_.toSeq).toSet == phraseBefore && phraseBefore.nonEmpty)
  }
}

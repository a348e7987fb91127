package graft

import graft.operators.TextSearch
import org.apache.spark.sql.functions._

/** BM25 semantics the rank-only hash gate can't isolate: tf
  * monotonicity, document-length normalization, idf ordering of rare
  * vs common terms, tie-breaks, and the plan-shape guarantees.
  */
class TextSearchSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "spark join spark join spark"),   // heavy on both query terms
    (2L, "spark join"),                    // same terms, shorter doc
    (3L, "spark filter scan table"),       // one query term
    (4L, "filter scan table row group"),   // no query terms
    (5L, "join " + ("pad " * 40).trim)     // one term, very long doc
  ).toDF("doc_id", "text")

  test("invertedIndex counts term frequencies per document") {
    val idx = TextSearch.invertedIndex(corpus, "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(idx(("spark", 1L)) == 3L && idx(("join", 1L)) == 2L)
    assert(idx(("spark", 2L)) == 1L)
    assert(!idx.contains(("join", 4L)))
    assert(idx(("pad", 5L)) == 40L)
  }

  test("bm25TopK: matching docs only, rank order, evidence columns") {
    val top = TextSearch.bm25TopK(corpus, "doc_id", "text",
      query = Seq("spark", "join"), k = 10).collect()
    // doc 4 has no query terms: absent
    assert(!top.exists(_.getLong(1) == 4L))
    assert(top.map(_.getLong(0)).toSeq == (1L to top.length))
    val byDoc = top.map(r => r.getLong(1) ->
      ((r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // doc 2 (both terms, 2-word doc) beats doc 1 (same terms, diluted
    // by repetition saturation? no — more tf wins here) … assert the
    // actual semantics: higher tf at similar length ranks first, and
    // the very long doc with one term ranks last
    assert(byDoc(5L)._1 == top.length.toLong) // longest, single term: last
    assert(byDoc(1L)._2 == 2L && byDoc(1L)._3 == 5L && byDoc(1L)._4 == 5L)
    assert(byDoc(2L)._2 == 2L && byDoc(2L)._3 == 2L && byDoc(2L)._4 == 2L)
    // both-term docs rank above single-term docs
    assert(byDoc(1L)._1 < byDoc(3L)._1 && byDoc(2L)._1 < byDoc(3L)._1)
  }

  test("bm25TopK: length normalization and exact-tie doc_id break") {
    // identical tf, different lengths: shorter doc scores higher
    val docs = Seq(
      (1L, "term " + ("x " * 30).trim),
      (2L, "term x")
    ).toDF("doc_id", "text")
    val r = TextSearch.bm25TopK(docs, "doc_id", "text", Seq("term"), 10)
      .select("rank", "doc_id").as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 2L, 2L -> 1L).map(_.swap))
    // exact ties (identical text) break on doc_id ascending
    val ties = Seq((9L, "a b"), (3L, "a b"), (7L, "a b")).toDF("doc_id", "text")
    val order = TextSearch.bm25TopK(ties, "doc_id", "text", Seq("a"), 10)
      .orderBy("rank").select("doc_id").as[Long].collect().toSeq
    assert(order == Seq(3L, 7L, 9L))
  }

  test("bm25TopK: rarer terms carry more weight (idf ordering)") {
    // 'rare' appears in 1 of 6 docs, 'common' in 5 of 6 — a doc
    // matching only 'rare' must outrank a doc matching only 'common'
    val docs = (Seq((1L, "rare z"), (2L, "common z")) ++
      (3L to 6L).map(i => (i, "common filler"))).toDF("doc_id", "text")
    val r = TextSearch.bm25TopK(docs, "doc_id", "text", Seq("rare", "common"), 10)
      .orderBy("rank").select("doc_id").as[Long].collect()
    assert(r.head == 1L, r.toSeq.toString)
  }

  test("bm25TopK plan: top-k via TakeOrdered, no global sort; k bounds the output") {
    val plan = TextSearch.bm25TopK(corpus, "doc_id", "text", Seq("spark"), 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(TextSearch.bm25TopK(corpus, "doc_id", "text", Seq("spark"), 2).count() == 2)
    // partition invariance
    val a = TextSearch.bm25TopK(corpus, "doc_id", "text", Seq("spark", "join"), 5)
      .collect().map(_.toSeq).toSeq
    val b = TextSearch.bm25TopK(corpus.repartition(7), "doc_id", "text", Seq("spark", "join"), 5)
      .collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("bm25TopKBatch ≡ one bm25TopK per query, in a single corpus pass") {
    val queries = Seq(
      (100L, "spark join"),
      (200L, "join"),
      (300L, "filter scan")
    ).toDF("query_id", "qtext")
    val batch = TextSearch.bm25TopKBatch(
      corpus, "doc_id", "text", queries, "query_id", "qtext", k = 3)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getLong(1))
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
        .toSeq).toMap
    val singles = Map(
      100L -> Seq("spark", "join"), 200L -> Seq("join"), 300L -> Seq("filter", "scan"))
      .map { case (q, terms) =>
        q -> TextSearch.bm25TopK(corpus, "doc_id", "text", terms, k = 3)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
          .toSeq
      }
    assert(batch == singles, s"$batch\nvs\n$singles")
    // a query whose terms miss the corpus entirely yields no rows,
    // never a null-scored row
    val none = TextSearch.bm25TopKBatch(corpus, "doc_id", "text",
      Seq((9L, "zzz qqq")).toDF("query_id", "qtext"),
      "query_id", "qtext", k = 3)
    assert(none.count() == 0)
  }

  test("rrfFuse: missing arms contribute zero, ties break on doc_id, evidence ranks ride") {
    import spark.implicits._
    // q1: doc 10 in both arms (rank 1+2), doc 11 lexical-only (rank 2),
    // doc 12 vector-only (rank 1); docs 13/14 tie symmetrically.
    val lex = Seq((1L, 1L, 10L), (1L, 2L, 11L), (1L, 3L, 13L), (1L, 4L, 14L))
      .toDF("query_id", "rank", "doc_id")
    val vec = Seq((1L, 1L, 12L), (1L, 2L, 10L), (1L, 4L, 13L), (1L, 3L, 14L))
      .toDF("query_id", "rank", "doc_id")
    val out = graft.operators.TextSearch.rrfFuse(lex, vec, k = 10)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // doc 10 (1/61 + 1/62) wins; 13 and 14 (1/63 + 1/64 each, two
    // arms) beat the single-arm docs and tie -> doc_id order; then
    // 12 (1/61) beats 11 (1/62)
    assert(out.toSeq == Seq(
      (1L, 10L, 1L, 2L), (2L, 13L, 3L, 4L), (3L, 14L, 4L, 3L),
      (4L, 12L, 0L, 1L), (5L, 11L, 2L, 0L)), out.toSeq.toString)
  }

  test("phraseSearch: contiguity, overlap, repeated words, boundaries, no-match") {
    import spark.implicits._
    val docs = Seq(
      (1L, "new york is not york new"),        // one occurrence at 0
      (2L, "a new york b new york"),           // two occurrences
      (3L, "new house york"),                  // words present, not adjacent
      (4L, "york new"),                        // reversed — no match
      (5L, "a b a b a"),                       // overlapping repeated-word phrase
      (6L, "ends with new york"))              // match at the end
      .toDF("doc_id", "text")
    def run(phrase: String) =
      graft.operators.TextSearch.phraseSearch(docs, "doc_id", "text", phrase)
        .orderBy(col("doc_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(run("new york") == Seq((1L, 1L, 0L), (2L, 2L, 1L), (6L, 1L, 2L)))
    // overlapping occurrences of a phrase with a REPEATED word: "a b a"
    // occurs at 0 and 2 in doc 5 (the shared 'a' serves both)
    assert(run("a b a") == Seq((5L, 2L, 0L)))
    // single-word phrase degenerates to term positions
    assert(run("york") == Seq((1L, 2L, 1L), (2L, 2L, 2L), (3L, 1L, 2L),
      (4L, 1L, 0L), (6L, 1L, 3L)))
    // SQL TVF parity
    docs.createOrReplaceTempView("ps_docs")
    assert(spark.sql(
      "SELECT * FROM phrase_search('ps_docs', 'doc_id', 'text', 'new york') ORDER BY doc_id")
      .collect().map(_.toSeq).toSeq ==
      Seq(Seq(1L, 1L, 0L), Seq(2L, 2L, 1L), Seq(6L, 1L, 2L)))
  }

  test("proximitySearch: windowed order, slop-0 ≡ phrase, greedy tightest span, misordered excluded") {
    import spark.implicits._
    val docs = Seq(
      (1L, "new york is great"),                // exact phrase, span 2
      (2L, "new big shiny york"),               // in order, gap 2 → span 4
      (3L, "york then new"),                    // out of order — never matches
      (4L, "new a b c d york"),                 // gap 4 → span 6, needs slop ≥ 4
      (5L, "new york and new also york"))       // two windows at slop ≥ 1
      .toDF("doc_id", "text")
    def run(phrase: String, slop: Int) =
      graft.operators.TextSearch.proximitySearch(docs, "doc_id", "text", phrase, slop)
        .orderBy(col("doc_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // slop 0 = exact contiguity
    assert(run("new york", 0) == Seq((1L, 1L, 0L, 2L), (5L, 1L, 0L, 2L)))
    // slop 2 admits the gap-2 doc; spans are the greedy-tightest
    assert(run("new york", 2) ==
      Seq((1L, 1L, 0L, 2L), (2L, 1L, 0L, 4L), (5L, 2L, 0L, 2L)))
    // slop 4 admits the gap-4 doc; doc 3 (reversed) never matches
    assert(run("new york", 4).map(_._1) == Seq(1L, 2L, 4L, 5L))
    // slop-0 equivalence with phraseSearch on the match set + counts
    val corpus = Seq(
      (10L, "a b c a b"), (11L, "b a"), (12L, "a x b a b")).toDF("doc_id", "text")
    val viaProx = graft.operators.TextSearch
      .proximitySearch(corpus, "doc_id", "text", "a b", 0)
      .select(col("doc_id"), col("n_windows"), col("first_start"))
      .collect().map(_.toSeq).toSet
    val viaPhrase = graft.operators.TextSearch
      .phraseSearch(corpus, "doc_id", "text", "a b")
      .collect().map(_.toSeq).toSet
    assert(viaProx == viaPhrase)
    // SQL TVF parity
    docs.createOrReplaceTempView("prox_docs")
    assert(spark.sql(
      "SELECT * FROM proximity_search('prox_docs', 'doc_id', 'text', 'new york', 2) ORDER BY doc_id")
      .collect().map(_.toSeq).toSeq ==
      Seq(Seq(1L, 1L, 0L, 2L), Seq(2L, 1L, 0L, 4L), Seq(5L, 2L, 0L, 2L)))
  }

  test("highlight: span merge, clipping at both ends, disjoint snippets, hit accounting") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x hit a b c d e f g h i j k hit y"),   // two disjoint spans (gap 11 > 2w)
      (2L, "hit a b hit c d e f g h"),              // overlapping spans merge (gap 3 <= 4)
      (3L, "a b c d e hit"),                        // clipped at the end
      (4L, "no match here"))
      .toDF("doc_id", "text")
    val out = graft.operators.TextSearch.highlight(docs, "doc_id", "text",
      Seq("hit"), window = 2)
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 2L, 2L, "x hit a b ... j k hit y"),
      (2L, 2L, 1L, "hit a b hit c d"),
      (3L, 1L, 1L, "d e hit")), out.toSeq.toString)
    // SQL TVF parity
    docs.createOrReplaceTempView("hl_docs")
    assert(spark.sql(
      "SELECT * FROM highlight('hl_docs', 'doc_id', 'text', 'hit', 2) ORDER BY doc_id")
      .collect().map(_.toSeq).toSeq == out.map(t => Seq[Any](t._1, t._2, t._3, t._4)).toSeq)
  }

  test("retrievalMetrics: hits, first-rel rank, rr, recall@k; zero-hit and unjudged queries") {
    import spark.implicits._
    // q1: rels {10, 11, 12}, run hits 11@2 and 10@4 within k=5, 12@7 outside
    // q2: rels {20}, run never retrieves it (rr 0, recall 0)
    // q3: judged {30} but absent from the run entirely (still reported)
    // run rows for q4 have no judgments -> not reported
    val run = Seq(
      (1L, 1L, 99L), (1L, 2L, 11L), (1L, 3L, 98L), (1L, 4L, 10L), (1L, 7L, 12L),
      (2L, 1L, 97L), (2L, 2L, 96L),
      (4L, 1L, 40L))
      .toDF("query_id", "rank", "doc_id")
    val qrels = Seq((1L, 10L), (1L, 11L), (1L, 12L), (1L, 12L), (2L, 20L), (3L, 30L))
      .toDF("query_id", "doc_id")
    val out = graft.operators.TextSearch.retrievalMetrics(run, qrels, k = 5)
      .orderBy(col("query_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(out.toSeq == Seq(
      (1L, 3L, 2L, 2L, 0.5, 2.0 / 3.0),
      (2L, 1L, 0L, 0L, 0.0, 0.0),
      (3L, 1L, 0L, 0L, 0.0, 0.0)), out.toSeq.toString)
    // SQL TVF parity
    run.createOrReplaceTempView("rm_run")
    qrels.createOrReplaceTempView("rm_qrels")
    assert(spark.sql("SELECT * FROM retrieval_metrics('rm_run', 'rm_qrels', 5)")
      .orderBy(col("query_id")).collect().map(_.toSeq).toSeq ==
      graft.operators.TextSearch.retrievalMetrics(run, qrels, 5)
        .orderBy(col("query_id")).collect().map(_.toSeq).toSeq)
  }
}

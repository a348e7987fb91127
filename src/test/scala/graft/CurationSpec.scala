package graft

import graft.operators.Curation
import org.apache.spark.sql.functions._

/** Curation operators: token-budget shard packing (distributed prefix
  * sum ≡ the global running sum it stands for) and benchmark
  * decontamination (inverted-index join ≡ brute-force overlap).
  */
class CurationSpec extends SparkSpec {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  test("packShards equals the single global running sum") {
    import spark.implicits._
    val docs = (1L to 500L).map(i => (i, s"doc $i " + ("w " * (i % 37).toInt))).toDF("doc_id", "text")
    val out = Curation.packShards(docs, "doc_id",
      size(split(col("text"), " ")).cast("long"), budget = 100L)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

    // brute force: one global order by (md5 shuffle key, id)
    val toks = docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    var cum = 0L
    val expected = toks.keys.toSeq
      .sortBy(id => (md5Hex(s"shuffle:$id"), id))
      .map { id =>
        val start = cum; cum += toks(id)
        val shard = math.floor(start / 100.0).toLong
        id -> ((toks(id), shard, start - shard * 100L))
      }.toMap
    assert(out == expected)
  }

  test("packShards is partition-invariant and conserves the token total") {
    import spark.implicits._
    val docs = (1L to 300L).map(i => (i, "w " * (1 + (i % 11)).toInt)).toDF("doc_id", "text")
    val tok = size(split(col("text"), " ")).cast("long")
    val a = Curation.packShards(docs, "doc_id", tok, budget = 64L)
      .collect().toSeq.sortBy(_.getLong(0))
    val b = Curation.packShards(docs.repartition(7), "doc_id", tok, budget = 64L)
      .collect().toSeq.sortBy(_.getLong(0))
    assert(a == b)
    // every position is inside its shard's budget window
    assert(a.forall(r => r.getLong(3) >= 0 && r.getLong(3) < 64L))
    // shard ids are dense from 0 to ceil(total/budget) - 1
    val total = a.map(_.getLong(1)).sum
    val shards = a.map(_.getLong(2)).distinct.sorted
    assert(shards.head == 0L && shards.last == (total - 1) / 64L)
  }

  test("decontaminate equals brute-force n-gram overlap") {
    import spark.implicits._
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated text with no overlap at all"),
      (3L, "shared benchmark phrase one two three four five tail"),
      (4L, "tiny")).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "prefix shared benchmark phrase one two three four five"),
      (101L, "the quick brown fox jumps elsewhere entirely")).toDF("doc_id", "text")
    val out = Curation.decontaminate(train, bench, "doc_id", "text", n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)

    def grams(s: String, n: Int) =
      s.split(" ").sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet
    val bg = Seq(100L -> grams("prefix shared benchmark phrase one two three four five", 5),
      101L -> grams("the quick brown fox jumps elsewhere entirely", 5))
    val expected = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "completely unrelated text with no overlap at all",
      3L -> "shared benchmark phrase one two three four five tail",
      4L -> "tiny").flatMap { case (id, t) =>
      val g = grams(t, 5)
      val hits = g.filter(x => bg.exists(_._2.contains(x)))
      val docs = bg.count(_._2.exists(g.contains))
      if (hits.nonEmpty) Some((id, hits.size.toLong, docs.toLong)) else None
    }
    assert(out == expected)
  }

  test("contaminationScore is invariant under duplicated doc-id rows") {
    import spark.implicits._
    val train = Seq(
      (1L, "shared benchmark phrase one two three four five tail"),
      (2L, "completely unrelated text with no overlap at all")).toDF("doc_id", "text")
    // the same docs re-ingested: identical rows duplicated
    val dup = train.unionAll(train)
    val bench = Seq(
      (100L, "prefix shared benchmark phrase one two three four five"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(Curation.contaminationScore(dup, bench, "doc_id", "text", 5)) ==
      rows(Curation.contaminationScore(train, bench, "doc_id", "text", 5)))
    assert(rows(Curation.decontaminate(dup, bench, "doc_id", "text", 5)) ==
      rows(Curation.decontaminate(train, bench, "doc_id", "text", 5)))
  }

  test("mixtureSample honors integral weights and bounds fractional ones") {
    import spark.implicits._
    val docs = (1L to 400L).map(i =>
      (i, Seq("en", "de", "zh")((i % 3).toInt))).toDF("doc_id", "lang")
    val out = Curation.mixtureSample(docs, "doc_id", "lang",
      Map("en" -> 1.5, "de" -> 1.0, "zh" -> 0.25))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(out.filter(_._2 == "de").forall(_._3 == 1L))
    assert(out.filter(_._2 == "en").forall(c => c._3 == 1L || c._3 == 2L))
    assert(out.filter(_._2 == "zh").forall(c => c._3 == 0L || c._3 == 1L))
    // deterministic: same draws under a different partitioning
    val again = Curation.mixtureSample(docs.repartition(7), "doc_id", "lang",
      Map("en" -> 1.5, "de" -> 1.0, "zh" -> 0.25))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(out.toSeq == again.toSeq)
    // the fractional strata actually exercise both branches
    assert(out.filter(_._2 == "zh").map(_._3).distinct.length == 2)
    assert(out.filter(_._2 == "en").map(_._3).distinct.length == 2)
  }

  test("leakageSafeSplit: near-dups share a split, singletons match the per-doc marginal") {
    import spark.implicits._
    import graft.operators.Dedup
    // 40 singleton docs + 3 near-dup families (ids 100x share text)
    val singles = (1L to 40L).map(i => (i, s"unique document number $i with words " + ("w" + i) * 3))
    val fams = Seq(100L, 200L, 300L).flatMap { base =>
      (0 until 3).map(j => (base + j, s"family $base shared shingle text body repeated tokens alpha beta gamma delta"))
    }
    val docs = (singles ++ fams).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.8)
    val out = Curation.leakageSafeSplit(docs, "doc_id", pairs,
      trainPct = 80, valPct = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // every cluster lands in exactly ONE split — the leak a per-doc
    // split allows is structurally impossible
    out.groupBy(_._2).foreach { case (c, rows) =>
      assert(rows.map(_._4).distinct.length == 1, s"cluster $c straddles splits")
    }
    // the three families are clusters of 3 (same text → jaccard 1.0)
    assert(out.filter(_._3 == 3L).map(_._2).distinct.sorted.toSeq == Seq(100L, 200L, 300L))
    // singletons hash on themselves — identical to the per-doc draw
    val u = graft.functions.HashRandom.uniform(
      concat(lit("split:"), col("doc_id").cast("string")))
    val perDoc = docs.filter(col("doc_id") <= 40)
      .select(col("doc_id"), when(u < 0.8, "train").when(u < 0.9, "val")
        .otherwise("test").as("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out.filter(_._1 <= 40L).foreach { case (d, c, sz, sp) =>
      assert(c == d && sz == 1L && sp == perDoc(d), s"singleton $d diverged")
    }
    // SQL TVF parity
    docs.createOrReplaceTempView("lss_docs")
    val viaSql = spark.sql(
      "SELECT * FROM leakage_safe_split('lss_docs', 'doc_id', 'text', 3, 0.8D, 80, 10)")
      .collect().map(_.toSeq).toSet
    assert(viaSql == out.map(t => Seq[Any](t._1, t._2, t._3, t._4)).toSet)
    // percentage contract is validated
    assert(intercept[IllegalArgumentException] {
      Curation.leakageSafeSplit(docs, "doc_id", pairs, trainPct = 95, valPct = 10)
    }.getMessage.contains("fit in 100"))
  }

  test("packShards rejects a non-positive budget") {
    import spark.implicits._
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Curation.packShards(docs, "doc_id", lit(2L), budget = 0L)
    }
  }

  test("capPerGroup two-phase quota equals the single-window form under 90% skew") {
    import spark.implicits._
    // one mega-source holds 90% of the corpus — the exact regime the
    // pre-prune exists for; the kept set must still be the cap
    // smallest md5 draws per group, identical to the naive window
    val docs = (1L to 2000L).map { i =>
      (i, if (i <= 1800L) "hot.example" else s"site${i % 7}.example")
    }.toDF("doc_id", "source")
    val got = Curation.capPerGroup(docs, "source", "doc_id", cap = 25)
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    val naive = docs
      .withColumn("_ck", md5(concat(lit("cap:"), col("doc_id").cast("string"))))
      .withColumn("_rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("_ck"), col("doc_id"))))
      .filter(col("_rn") <= 25)
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    assert(got == naive)
    assert(got.count(_._1 == "hot.example") == 25)
    // groups under the cap keep everything
    val small = got.groupBy(_._1).view.mapValues(_.size).toMap
    (0 until 7).map(k => s"site$k.example").filter(small.contains).foreach { g =>
      assert(small(g) <= 25)
    }
    // partition-invariant
    val again = Curation.capPerGroup(docs.repartition(13), "source", "doc_id", cap = 25)
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    assert(again == got)
  }

  test("capPerGroup pre-prune is bucket-partitioned — the hot group never hits one task's sort") {
    import spark.implicits._
    val docs = (1L to 500L).map(i => (i, "one.source")).toDF("doc_id", "source")
    val plan = Curation.capPerGroup(docs, "source", "doc_id", cap = 5)
      .queryExecution.executedPlan.toString
    // phase 1 windows over (group, md5-prefix bucket): its partition
    // spec carries the extracted bucket expression (_wN) next to the
    // group key, so the hot group's sort splits across 256 sub-sorts
    assert("windowspecdefinition\\(\\w+#\\d+, _w\\d+#\\d+,".r.findFirstIn(plan).isDefined, plan)
    // two window passes: the bucketed pre-prune and the exact rank
    assert("Window \\[".r.findAllIn(plan).size >= 2, plan)
    // and Spark's rank-limit pushdown prunes each sub-sort to cap rows
    // BEFORE the exchange — the shuffle never carries the full group
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("lineDedup keeps one global occurrence per span and reassembles in order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),        // spans (w=3): "a b c", "d e f"
      (2L, "a b c x y z"),        // "a b c" duplicates doc 1 pos 0 -> dropped here
      (3L, "x y z a b c d e f"),  // all three spans are dups of earlier keepers
      (4L, "p q r")               // unique span, untouched
    ).toDF("doc_id", "text")
    val out = Curation.lineDedup(docs, "doc_id", "text", spanWords = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("a b c d e f", 2L, 2L)))       // keeper of both spans
    assert(out(2L) == (("x y z", 2L, 1L)))             // lost "a b c", kept "x y z"
    assert(out(3L) == (("", 3L, 0L)))                  // every span already kept elsewhere
    assert(out(4L) == (("p q r", 1L, 1L)))
    // each distinct span of the input survives exactly once, corpus-wide
    val keptSpans = out.values.toSeq.flatMap(_._1.split(" ").grouped(3).map(_.mkString(" ")))
      .filter(_.nonEmpty)
    assert(keptSpans.distinct.length == keptSpans.length)
    // partition invariance: the keeper rule is (doc_id, pos), not arrival order
    val again = Curation.lineDedup(docs.repartition(5), "doc_id", "text", spanWords = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(again == out)
  }

  test("prioritySample: top-k by w/u, tau estimator, small-corpus collapse") {
    import graft.functions.HashRandom
    import org.apache.spark.sql.functions.{col, concat, lit}
    import spark.implicits._
    val docs = (1L to 40L).map(i => (i, i * 10)).toSeq.toDF("doc_id", "w")
    val k = 10
    val out = Curation.prioritySample(docs, "doc_id", "w", k)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(out.length == k)
    // reference: compute priorities with the same hash construction
    val us = docs.select(col("doc_id"), HashRandom.uniform(
      concat(lit("prio:"), col("doc_id").cast("string"))).as("u"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val prios = (1L to 40L).map(i => i -> (i * 10.0) / us(i))
      .sortBy { case (i, p) => (-p, i) }
    val expectIds = prios.take(k).map(_._1).toSet
    assert(out.map(_._1).toSet == expectIds)
    val tau = prios(k)._2 // (k+1)-th priority
    out.foreach { case (i, w, est) =>
      assert(w == i * 10.0)
      val want = math.floor(math.max(w, tau) * 100 + 0.5) / 100.0
      assert(est == want, s"doc $i: $est vs $want")
      assert(est >= w)
    }
    // partition invariance
    val again = Curation.prioritySample(docs.repartition(7), "doc_id", "w", k)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(again.sortBy(_._1).toSeq == out.sortBy(_._1).toSeq)
    // corpus smaller than k: everything kept, tau = 0, est = exact weight
    val tiny = Seq((1L, 5L), (2L, 7L)).toDF("doc_id", "w")
    val all = Curation.prioritySample(tiny, "doc_id", "w", k)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(all == Map(1L -> 5.0, 2L -> 7.0))
  }

  test("chunkDocs: window/overlap arithmetic, full coverage, short docs, invalid args") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "a b c"),                                  // shorter than window
      (3L, (1 to 8).map(i => s"u$i").mkString(" "))   // exactly window*2 with stride 4
    ).toDF("doc_id", "text")
    val out = Curation.chunkDocs(docs, "doc_id", "text", window = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    // stride 3: starts 0,3,6 cover 10 tokens; last chunk is full (7..10)
    assert(d1.map(_._3).toSeq == Seq(
      "t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"))
    assert(d1.map(_._4).toSeq == Seq(4L, 4L, 4L))
    // consecutive chunks share exactly `overlap` tokens
    assert(d1(0)._3.split(" ").last == d1(1)._3.split(" ").head)
    // short doc: one whole-doc chunk
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0L, "a b c", 3L)))
    // tail shorter than window stays short, never padded
    val d3 = out.filter(_._1 == 3L).sortBy(_._2)
    assert(d3.map(_._3).toSeq == Seq("u1 u2 u3 u4", "u4 u5 u6 u7", "u7 u8"))
    // every token of every doc appears in some chunk
    val covered = d1.flatMap(_._3.split(" ")).toSet
    assert(covered == (1 to 10).map(i => s"t$i").toSet)
    intercept[IllegalArgumentException] {
      Curation.chunkDocs(docs, "doc_id", "text", window = 4, overlap = 4)
    }
    intercept[IllegalArgumentException] {
      Curation.chunkDocs(docs, "doc_id", "text", window = 0, overlap = 0)
    }
    // plan pin: pure per-row math — zero exchanges, zero windows
    val plan = Curation.chunkDocs(docs, "doc_id", "text", 4, 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Window ["), plan)
  }
}

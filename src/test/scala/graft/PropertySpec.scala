package graft

import graft.operators.TimeSeries
import graft.operators.TimeSeries.GridParams
import graft.streaming.CepStream
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import java.nio.file.Files
import java.sql.Timestamp

/** Property-based invariants (SURVEY §5.2.3) over randomized inputs:
  * interpolation bounds and idempotence, LOCF stability, and the CEP
  * pattern-matching contract checked simultaneously against BOTH
  * implementations (window emulation and state machine).
  * Samples are drawn with fixed seeds — failures reproduce exactly.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val T0 = 1700000000000L

  /** Deterministic sampler: n cases from fixed seeds. */
  private def forAllSampled[A](gen: Gen[A], n: Int)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen(Gen.Parameters.default, Seed(i.toLong * 7919 + 17)) match {
        case Some(a) => body(a)
        case None => fail(s"generator produced no value for seed $i")
      }
    }

  /** Random per-key event sequences: seconds-spaced, occasional gaps. */
  private case class Ev(key: String, offsetS: Int, value: Double, status: String)

  private val evGen: Gen[List[Ev]] = for {
    nKeys <- Gen.choose(1, 3)
    n <- Gen.choose(5, 60)
    evs <- Gen.listOfN(n, for {
      k <- Gen.choose(0, nKeys - 1)
      off <- Gen.choose(0, 300)
      v <- Gen.choose(10.0, 180.0)
      s <- Gen.frequency(5 -> Gen.const("OK"), 2 -> Gen.const("WARNING"), 3 -> Gen.const("ERROR"))
    } yield Ev(s"k$k", off, math.floor(v), s))
  } yield evs.distinctBy(e => (e.key, e.offsetS)) // unique (key, time)

  private val P = GridParams("k", "t", "v", "s", "30 SECONDS")

  private def toDf(evs: List[Ev]) =
    evs.map(e => (e.key, new Timestamp(T0 + e.offsetS * 1000L), e.value, e.status))
      .toDF("k", "t", "v", "s")

  test("linear interpolation stays within each key's observed value bounds") {
    forAllSampled(evGen, 8) { evs =>
      if (evs.nonEmpty) {
        val out = TimeSeries.interpolateOnGrid(toDf(evs), P)
          .groupBy(col("k")).agg(min("temperature").as("lo"), max("temperature").as("hi"))
          .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
        val byKey = evs.groupBy(_.key)
        out.foreach { case (k, (lo, hi)) =>
          val vs = byKey(k).map(_.value)
          assert(lo >= vs.min - 1e-9 && hi <= vs.max + 1e-9,
            s"key $k interpolated outside [${vs.min}, ${vs.max}]: [$lo, $hi]")
        }
      }
    }
  }

  test("interpolating an already-gridded series is the identity (idempotence)") {
    forAllSampled(evGen, 5) { evs =>
      if (evs.nonEmpty) {
        val once = TimeSeries.interpolateOnGrid(toDf(evs), P)
          .select(col("k"), col("time").as("t"), col("temperature").as("v"),
            col("status").as("s"))
        val twice = TimeSeries.interpolateOnGrid(once, P)
        val a = once.collect().map(_.toSeq).toSet
        val b = twice.select(col("k"), col("time").as("t"), col("temperature").as("v"),
          col("status").as("s")).collect().map(_.toSeq).toSet
        assert(b == a) // grid points hit observations exactly → identity
      }
    }
  }

  test("neardupClusters equals driver-side union-find on random pair graphs") {
    val graphGen: Gen[(Int, List[(Long, Long)])] = for {
      n <- Gen.choose(5, 40)
      m <- Gen.choose(0, 60)
      raw <- Gen.listOfN(m, for {
        a <- Gen.choose(0, n - 1)
        b <- Gen.choose(0, n - 1)
      } yield (math.min(a, b).toLong, math.max(a, b).toLong))
    } yield (n, raw.filter(e => e._1 != e._2).distinct)
    forAllSampled(graphGen, 8) { case (n, edges) =>
      val docs = (0 until n).map(_.toLong).toDF("doc_id")
      val pairs = edges.toDF("d1", "d2")
      // force the DISTRIBUTED loop (driverEdgeLimit = 0) — the default
      // path on graphs this size is the driver union-find, which would
      // make this test oracle-vs-itself
      val got = graft.operators.Dedup.neardupClusters(docs, "doc_id", pairs,
          driverEdgeLimit = 0L)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      // and the fast path must agree with the loop
      val fast = graft.operators.Dedup.neardupClusters(docs, "doc_id", pairs)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(fast == got, s"fast-path mismatch: n=$n edges=$edges")
      // ground truth: plain union-find, cluster id = component minimum
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) => parent(find(a.toInt)) = find(b.toInt) }
      val comp = (0 until n).groupBy(find)
      val expect = comp.values.flatMap { members =>
        val cid = members.min.toLong
        members.map(m => m.toLong -> (cid, members.size.toLong))
      }.toMap
      assert(got == expect, s"n=$n edges=$edges")
    }
  }

  test("lineDedup invariants hold on random corpora: global span uniqueness + order") {
    val vocab = Vector("a", "b", "c", "d", "e")
    val corpusGen: Gen[List[(Long, String)]] = for {
      n <- Gen.choose(2, 12)
      docs <- Gen.listOfN(n, for {
        len <- Gen.choose(1, 20)
        ws <- Gen.listOfN(len, Gen.oneOf(vocab))
      } yield ws.mkString(" "))
    } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    forAllSampled(corpusGen, 20) { corpus =>
      val span = 3
      val out = graft.operators.Curation.lineDedup(
        corpus.toDF("doc_id", "text"), "doc_id", "text", span)
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
        .toMap
      // every doc gets a row
      assert(out.keySet == corpus.map(_._1).toSet)
      // each distinct input span survives exactly once corpus-wide, and
      // the survivor set equals the distinct input span set
      def spansOf(t: String): Seq[String] =
        if (t.isEmpty) Seq.empty
        else t.split(" ").grouped(span).map(_.mkString(" ")).toSeq
      val kept = out.values.toSeq.flatMap(v => spansOf(v._1))
      assert(kept.distinct.length == kept.length, s"duplicate survivor in $kept")
      val inputSpans = corpus.flatMap { case (_, t) => spansOf(t) }.toSet
      assert(kept.toSet == inputSpans)
      // counts are consistent: n_kept = surviving spans of that doc
      out.foreach { case (id, (text, nSpans, nKept)) =>
        assert(spansOf(text).length.toLong == nKept, s"doc $id")
        val orig = corpus.find(_._1 == id).get._2
        assert(spansOf(orig).length.toLong == nSpans, s"doc $id")
        // surviving spans appear in original relative order
        val origSpans = spansOf(orig)
        val surviving = spansOf(text)
        assert(surviving.forall(origSpans.contains), s"doc $id")
      }
    }
  }

  test("histogram quantiles are partition-invariant and rank-correct on random data") {
    val dataGen: Gen[List[(String, Double)]] = for {
      n <- Gen.choose(20, 200)
      rows <- Gen.listOfN(n, for {
        g <- Gen.oneOf("g1", "g2")
        v <- Gen.choose(0.0, 100.0)
      } yield (g, math.floor(v * 4) / 4))
    } yield rows
    forAllSampled(dataGen, 15) { rows =>
      val (lo, hi, bins) = (0.0, 100.0, 50)
      val df = rows.toDF("g", "v")
      val h1 = graft.operators.Sketch.histogramBuild(df, col("v"), Seq("g"), lo, hi, bins)
      val h2 = graft.operators.Sketch.histogramBuild(df.repartition(7), col("v"), Seq("g"), lo, hi, bins)
      val q1 = graft.operators.Sketch.histogramQuantiles(h1, Seq("g"), lo, hi, bins, Seq(0.5))
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
      val q2 = graft.operators.Sketch.histogramQuantiles(h2, Seq("g"), lo, hi, bins, Seq(0.5))
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
      assert(q1 == q2)
      // estimate within one bin width of the exact median, per group
      val width = (hi - lo) / bins
      rows.groupBy(_._1).foreach { case (g, vs) =>
        val sorted = vs.map(_._2).sorted
        val exact = sorted((math.ceil(0.5 * sorted.length) - 1).toInt.max(0))
        assert(math.abs(q1(g) - exact) <= width,
          s"$g: est ${q1(g)} vs exact $exact (n=${sorted.length})")
      }
    }
  }

  test("CEP contract holds on random sequences, and both implementations agree") {
    val params = CepStream.Params(errorValue = "ERROR", maxB = 5,
      withinMicros = 120000000L) // 2 minutes
    forAllSampled(evGen, 8) { evs =>
      if (evs.nonEmpty) {
        val typed = evs.sortBy(e => (e.offsetS, e.key)).zipWithIndex.map { case (e, i) =>
          CepStream.SensorEvent(e.key, new Timestamp(T0 + e.offsetS * 1000L), e.value, e.status, i.toLong)
        }
        val stateMachine = CepStream.matches(typed.toDS(), params)
          .collect().map(m => (m.sensor_id, m.event_time.getTime, m.non_errors, m.elapsed)).toSet
        val emulation = CepStream.matchesBatchEmulation(typed.toDS(), params)
          .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime,
            r.getLong(2), r.getLong(7))).toSet
        assert(stateMachine == emulation)

        // contract: 1..maxB buffered events, elapsed within WITHIN, and
        // matches never overlap per key
        stateMachine.groupBy(_._1).foreach { case (_, ms) =>
          val sorted = ms.toSeq.sortBy(_._2)
          sorted.foreach { case (_, _, nonErrors, elapsed) =>
            assert(nonErrors >= 1 && nonErrors <= 5)
            assert(elapsed * 1000000L <= params.withinMicros)
          }
          sorted.sliding(2).foreach {
            case Seq((_, t1, _, e1), (_, t2, _, _)) =>
              assert(t2 > t1 + e1 * 1000 - 1000) // next A after this C (second rounding)
            case _ =>
          }
        }
      }
    }
  }

  test("rangeJoin equals the brute-force theta join on random point/interval sets") {
    val caseGen = for {
      nPts <- Gen.choose(5, 40)
      nIvs <- Gen.choose(2, 15)
      binS <- Gen.oneOf(7L, 60L, 97L, 3600L) // including non-divisor widths
      pts <- Gen.listOfN(nPts, for {
        k <- Gen.choose(0, 2)
        off <- Gen.choose(0, 7200)
      } yield (k.toLong, off))
      ivs <- Gen.listOfN(nIvs, for {
        k <- Gen.choose(0, 2)
        s <- Gen.choose(0, 7200)
        len <- Gen.choose(-60, 3600) // includes EMPTY and negative spans
      } yield (k.toLong, s, len))
    } yield (pts, ivs, binS)
    forAllSampled(caseGen, 8) { case (pts, ivs, binS) =>
      val ptsDf = pts.zipWithIndex
        .map { case ((k, off), i) => (i.toLong, k, new Timestamp(T0 + off * 1000L)) }
        .toDF("pid", "k", "t")
      val ivsDf = ivs.map { case (k, s, len) =>
        (k, new Timestamp(T0 + s * 1000L), new Timestamp(T0 + (s + len) * 1000L))
      }.toDF("k", "ws", "we")
      val got = graft.operators.Temporal
        .rangeJoin(ptsDf, ivsDf, Seq("k"), "t", "ws", "we", binS * 1000000L)
        .select("pid", "ws").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime)).toList.sorted
      // brute force over the driver-side lists — fully independent
      val want = (for {
        ((k, off), i) <- pts.zipWithIndex
        (ik, s, len) <- ivs
        if ik == k && off >= s && off < s + len
      } yield (i.toLong, T0 + s * 1000L)).sorted
      assert(got == want, s"bin=${binS}s pts=$pts ivs=$ivs")
    }
  }

  test("chunkDocs invariants on random corpora: coverage, overlap, reconstruction") {
    val caseGen = for {
      window <- Gen.choose(2, 12)
      overlap <- Gen.choose(0, window - 1)
      nDocs <- Gen.choose(1, 8)
      docs <- Gen.listOfN(nDocs, Gen.choose(1, 40).flatMap(len =>
        Gen.listOfN(len, Gen.choose('a', 'f')).map(_.mkString(" "))))
    } yield (window, overlap, docs)
    forAllSampled(caseGen, 12) { case (window, overlap, docs) =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val chunks = graft.operators.Curation.chunkDocs(df, "doc_id", "text", window, overlap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
        .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
      val stride = window - overlap
      docs.zipWithIndex.foreach { case (t, i) =>
        val toks = t.split(" ")
        val cs = chunks(i.toLong)
        // chunk k starts at k * stride and carries min(window, rest) tokens
        cs.foreach { case (_, k, text, n) =>
          val want = toks.slice((k * stride).toInt, (k * stride).toInt + window)
          assert(text == want.mkString(" ") && n == want.length.toLong,
            s"doc $i chunk $k (w=$window o=$overlap)")
        }
        // full coverage: last chunk reaches the final token
        val (_, lastK, _, lastN) = cs.last
        assert(lastK * stride + lastN >= toks.length.toLong)
        // no empty chunks, contiguous chunk indexes from 0
        assert(cs.forall(_._4 > 0) && cs.map(_._2).toSeq == (0L until cs.length))
        // reconstruction: dropping each chunk's first `overlap` tokens
        // (except chunk 0) and concatenating yields the document
        val rebuilt = cs.zipWithIndex.flatMap { case ((_, _, text, _), idx) =>
          val ts = text.split(" ").toSeq
          if (idx == 0) ts else ts.drop(overlap min ts.length)
        }
        // tail chunks may re-cover tokens; compare as prefix-safe join
        assert(rebuilt.toSeq.take(toks.length) == toks.toSeq,
          s"doc $i reconstruct (w=$window o=$overlap)")
      }
    }
  }

  test("exactSubstringScrub invariants on random near-dup corpora") {
    val caseGen = for {
      ell <- Gen.choose(3, 6)
      base <- Gen.listOfN(20, Gen.choose('a', 'c')).map(_.mkString(" "))
      nCopies <- Gen.choose(1, 4)
      extras <- Gen.listOfN(nCopies, Gen.choose(1, 10).flatMap(k =>
        Gen.listOfN(k, Gen.choose('a', 'c')).map(_.mkString(" "))))
    } yield (ell, base, extras)
    forAllSampled(caseGen, 10) { case (ell, base, extras) =>
      // doc 0 is the base; later docs embed the base verbatim plus noise
      val docs = ((0L, base) +: extras.zipWithIndex.map { case (e, i) =>
        ((i + 1).toLong, s"$e $base")
      }).toDF("doc_id", "text")
      val out = graft.operators.Dedup.exactSubstringScrub(docs, "doc_id", "text", ell)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(4)))).toMap
      // accounting: removed = tokens - kept, never negative
      out.values.foreach { case (n, rem, kept) =>
        val keptN = if (kept.isEmpty) 0 else kept.split(" ").length
        assert(rem == n - keptN && rem >= 0)
      }
      // the alphabet is tiny, so doc 0 can self-scrub internal repeats;
      // what MUST hold is global keep-first: the union of kept token
      // mass never exceeds the originals, and every later doc that
      // embeds the base lost at least its copy of one base L-gram
      extras.indices.foreach { i =>
        val (_, rem, _) = out((i + 1).toLong)
        assert(rem >= ell.toLong, s"copy ${i + 1} removed only $rem (L=$ell)")
      }
      // fingerprint mode agrees exactly
      val fp = graft.operators.Dedup.exactSubstringScrub(docs, "doc_id", "text", ell,
        fingerprint = true)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(4)))).toMap
      assert(fp == out)
    }
  }

  test("lake file skipping: explicit reads and the planner rule admit the same files and never drop a match") {
    import graft.sources.VersionedLake
    val dir = Files.createTempDirectory("graft_skipprop").toString + "/lake"
    val rnd = new scala.util.Random(7)
    // five commits x two partitions = ten files; each commit draws ids
    // and names from its own window, and the windows overlap, so the
    // zone maps and envelopes neither prune everything nor nothing
    (0 until 5).foreach { c =>
      val rows = (0 until 60).map { _ =>
        (c * 60L - 40 + rnd.nextInt(100), f"n${c * 150 + rnd.nextInt(300)}%04d",
          s"p${rnd.nextInt(2)}")
      }.toDF("id", "name", "part").coalesce(1)
      if (c == 0) VersionedLake.create(rows, dir, "part",
        blooms = Seq(VersionedLake.BloomSpec("id"), VersionedLake.BloomSpec("name")))
      else VersionedLake.append(rows, dir, "part")
    }
    def files(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.inputFiles.map(VersionedLake.normalizePath).toSet
    def scanned(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.inputFiles.toSeq
      }.flatten.map(VersionedLake.normalizePath).toSet
    val lake = VersionedLake.read(spark, dir)
    val all = files(lake)
    assert(all.size == 10)
    // (file, id, name) of every row, read without any filter
    val rows = lake.select(input_file_name(), col("id"), col("name")).collect()
      .map(r => (VersionedLake.normalizePath(r.getString(0)), r.getLong(1), r.getString(2)))
    // 1. a random [lo, hi]: readRange opens exactly the files the rule
    //    scans for the equivalent BETWEEN, numeric and string alike
    var narrowed = 0
    (0 until 20).foreach { _ =>
      val lo = rnd.nextInt(340) - 60L
      val hi = lo + 1 + rnd.nextInt(80)
      val explicit = files(VersionedLake.readRange(spark, dir, "id", lo.toDouble, hi.toDouble, None))
      assert(explicit == scanned(lake.filter(col("id").between(lo, hi))), s"id in [$lo, $hi]")
      val slo = f"n${rnd.nextInt(900)}%04d"
      val shi = f"n${slo.drop(1).toInt + 1 + rnd.nextInt(200)}%04d"
      val sExplicit = files(VersionedLake.readRange(spark, dir, "name", slo, shi, None))
      assert(sExplicit == scanned(lake.filter(col("name").between(slo, shi))),
        s"name in [$slo, $shi]")
      if (explicit.size < all.size || sExplicit.size < all.size) narrowed += 1
    }
    assert(narrowed > 0, "no sampled range skipped a file: the lake shape is too weak")
    // 2. a random key set: every file readPoints or the rule drops
    //    holds none of the keys
    var dropped = 0
    def holdsNone(kept: Set[String], holds: ((String, Long, String)) => Boolean,
        what: String): Unit = {
      val missed = rows.filter(r => !kept.contains(r._1) && holds(r))
      assert(missed.isEmpty, s"$what dropped files holding ${missed.take(3).mkString(", ")}")
      dropped += (all -- kept).size
    }
    (0 until 15).foreach { _ =>
      val ids = Seq.fill(1 + rnd.nextInt(4))(rnd.nextInt(340) - 60L).distinct
      val names = Seq.fill(1 + rnd.nextInt(4))(f"n${rnd.nextInt(1000)}%04d").distinct
      holdsNone(files(VersionedLake.readPoints(spark, dir, "id", ids.map(_.toString))),
        r => ids.contains(r._2), s"readPoints(id, $ids)")
      holdsNone(scanned(lake.filter(col("id").isin(ids: _*))),
        r => ids.contains(r._2), s"id IN $ids")
      holdsNone(files(VersionedLake.readPoints(spark, dir, "name", names)),
        r => names.contains(r._3), s"readPoints(name, $names)")
      holdsNone(scanned(lake.filter(col("name").isin(names: _*))),
        r => names.contains(r._3), s"name IN $names")
    }
    assert(dropped > 0, "no sampled key set skipped a file: the lake shape is too weak")
  }
}

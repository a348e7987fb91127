package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.expr
import org.apache.spark.unsafe.types.UTF8String

/** SQL entry points for the LLM-pipeline extension operators, so a
  * SQL-first user reaches them from `spark.sql` the way the Timestream
  * dialect ([[Dialect]]) exposes the reference's functions — the
  * reference precedent is that EVERY capability is SQL-reachable
  * (timestream-queries/queries.txt, README.md:411-449).
  *
  * Each operator registers as a TABLE-VALUED function callable in a
  * FROM clause; the first argument names the input table or temp view
  * and the rest are the operator's parameters as literals:
  *
  *   SELECT * FROM minhash_lsh_pairs('docs', 'doc_id', 'text', 3, 0.8)
  *   SELECT * FROM pack_shards('docs', 'doc_id', 'size(split(text, " "))', 2000)
  *   SELECT * FROM cap_per_group('docs', 'source', 'doc_id', 10)
  *   SELECT * FROM asof_join('trades', 'quotes', 'sym', 't', 't', 'bid,ask')
  *   SELECT * FROM sessionize('events', 'user_id', 'ts', 'value', '4 hours')
  *
  * plus `exact_dedup`, `ngram_jaccard_pairs`, `simhash_pairs`,
  * `neardup_clusters`, `cosine_topk`, `semantic_dedup`,
  * `decontaminate`,
  * `mixture_sample` (weights as 'stratum=weight,...'), `line_dedup`,
  * `trailing_agg`, `hist_quantiles` (quantiles as 'q1,q2,...'),
  * `range_join`, `ohlc`, `downsample_minmax`, `rate_of_change`,
  * `detect_gaps`, `bm25_batch` (corpus + query TABLE),
  * `unigram_train` / `unigram_encode` (the unigram-LM tokenizer),
  * `phash` / `phash_neardup` (perceptual image near-dup),
  * `audio_goertzel` (windowed spectral energies),
  * `set_jaccard_pairs` (generic membership-table near-dup),
  * `audio_fingerprints` / `audio_neardup` / `video_neardup` (windowed
  * content fingerprints and the fused decode→Jaccard pair scans for
  * the temporal modalities), `dedup_index_batch` /
  * `dedup_index_elements` / `dedup_index_hashes` (one increment of
  * streaming dedup-at-ingest against named state lakes — shingle,
  * element-set, and Hamming-fingerprint forms), `bm25_lake_append` /
  * `bm25_lake_search` (the incremental postings lake), `rrf_fuse`
  * (hybrid-retrieval reciprocal-rank fusion), `ann_lake_search`
  * (probe-pruned search over the lake-backed incremental ANN
  * index), `html_extract` (markup/boilerplate extraction),
  * `domain_edges` / `link_pagerank` (the crawl link graph and its
  * integer authority scores), `quality_learned` (train-and-score
  * hashed Naive Bayes), `ann_recall` (the recall@k-vs-nprobe
  * calibration table), `unigram_prune` (loss-ranked vocab
  * elimination from a persisted model table), `hot_cold_read` /
  * `retention_drop` (the export lake's memory/magnetic tiers and
  * their expiry), `ann_cell_stats` (the ANN index's metadata-only
  * drift signal), `bm25_lake_batch` (query-TABLE retrieval over the
  * postings lake), `phrase_search` / `phrase_lake_search` /
  * `phrase_lake_batch` (exact contiguity: one-shot,
  * positional-postings, and query-TABLE forms), `highlight` /
  * `highlight_lake` (merged hit spans as snippets, one-shot and
  * postings-driven), `gram_decontaminate` / `gram_score` (the
  * incremental decontamination index), `retrieval_metrics` (per-query
  * recall@k and reciprocal rank), `leakage_safe_split` (cluster-keyed
  * train/val/test), `lake_col_stats` (the zone maps as a table —
  * string columns fold their truncated envelopes), `lake_expire_below`
  * (partition-level retention as a deferred commit), `ann_rotate` /
  * `ann_pq_rotate` (the blue/green float and PQ rotations as one
  * deferred statement each), `proximity_lake_batch` (query-TABLE
  * sloppy-phrase search over the positional postings),
  * `epoch_lake_append` / `epoch_read` / `epoch_shard_read` (the
  * per-epoch loader layouts as a lake), `lake_history` (DESCRIBE
  * HISTORY from the manifests), and the 4-arg `read_range` column
  * form over per-column zone maps (string bounds prune on the
  * truncated string envelopes) — the whole extension-operator
  * inventory.
  *
  * SIDE-EFFECTING maintenance TVFs (`lake_compact`, `lake_vacuum`,
  * `lake_clean_orphans`, `retention_drop`, `lake_expire_below`,
  * `ann_rotate`, `bm25_lake_append`) parse their arguments at
  * analysis but run the operation at first EXECUTION
  * ([[graft.plans.DeferredEffect]]) — EXPLAIN and failed outer
  * analysis never mutate a lake.
  *
  * The builder resolves the named table THROUGH the session catalog at
  * analysis time and splices the operator's analyzed plan into the
  * outer query — the resulting query plans, optimizes, and scales
  * exactly like the Scala-API form (these are the same DataFrame
  * builders, not a parallel implementation).
  */
object PipelineSql {

  private def fail(fn: String, msg: String): Nothing =
    throw new IllegalArgumentException(s"$fn: $msg")

  private def lit(fn: String, e: Expression, what: String): Any = {
    if (!e.foldable) fail(fn, s"$what must be a literal, got $e")
    e.eval()
  }

  private def str(fn: String, e: Expression, what: String): String =
    lit(fn, e, what) match {
      case s: UTF8String => s.toString
      case s: String => s
      case other => fail(fn, s"$what must be a string literal, got $other")
    }

  private def int(fn: String, e: Expression, what: String): Int =
    lit(fn, e, what) match {
      case i: Int => i
      case l: Long => l.toInt
      case s: Short => s.toInt
      case other => fail(fn, s"$what must be an integer literal, got $other")
    }

  private def long(fn: String, e: Expression, what: String): Long =
    lit(fn, e, what) match {
      case i: Int => i.toLong
      case l: Long => l
      case other => fail(fn, s"$what must be an integer literal, got $other")
    }

  private def dbl(fn: String, e: Expression, what: String): Double =
    lit(fn, e, what) match {
      case d: Double => d
      case f: Float => f.toDouble
      case d: java.math.BigDecimal => d.doubleValue()
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case i: Int => i.toDouble
      case l: Long => l.toDouble
      case other => fail(fn, s"$what must be a numeric literal, got $other")
    }

  private def argc(fn: String, es: Seq[Expression], n: Int): Unit =
    if (es.length != n) fail(fn, s"expects $n arguments, got ${es.length}")

  private def csv(s: String): Seq[String] =
    s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** The pipeline table functions by name, installed by
    * [[graft.plans.GraftExtensions]]. Builders resolve tables and run
    * operators on the ACTIVE session — the one analyzing the calling
    * query (deferred effects: the one executing it). */
  lazy val tableFunctions: Seq[(String, Seq[Expression] => LogicalPlan)] =
    build(SparkSession.active)

  private def build(spark: => SparkSession): Seq[(String, Seq[Expression] => LogicalPlan)] = {
    import org.apache.spark.sql.GraftShim.analyzedPlan
    val out = scala.collection.mutable.ListBuffer.empty[(String, Seq[Expression] => LogicalPlan)]

    def table(fn: String, e: Expression): DataFrame =
      spark.table(str(fn, e, "the table argument"))

    def reg(name: String)(builder: Seq[Expression] => DataFrame): Unit =
      out += name -> (es => analyzedPlan(builder(es)))

    // side-effecting maintenance TVFs: the builder (analysis time)
    // only parses arguments and declares the receipt schema; the
    // operation runs when the plan EXECUTES (graft.plans.DeferredEffect
    // — EXPLAIN and failed outer analysis leave the lake untouched)
    def regDeferred(name: String, schema: org.apache.spark.sql.types.StructType)(
        builder: Seq[Expression] => () => Seq[Seq[Any]]): Unit =
      out += name -> (es => graft.plans.DeferredEffect.plan(schema)(builder(es)))

    // dedup family
    reg("minhash_lsh_pairs") { es =>
      argc("minhash_lsh_pairs", es, 5)
      graft.operators.Dedup.minhashLshPairs(
        table("minhash_lsh_pairs", es(0)),
        id = str("minhash_lsh_pairs", es(1), "id column"),
        text = str("minhash_lsh_pairs", es(2), "text column"),
        n = int("minhash_lsh_pairs", es(3), "shingle size n"),
        threshold = dbl("minhash_lsh_pairs", es(4), "jaccard threshold"))
    }
    reg("exact_dedup") { es =>
      argc("exact_dedup", es, 3)
      graft.operators.Dedup.exactDedup(
        table("exact_dedup", es(0)),
        id = str("exact_dedup", es(1), "id column"),
        text = str("exact_dedup", es(2), "text column"))
    }

    // curation / packing family: the tokens argument is a SQL
    // expression string evaluated against the input table's columns
    reg("pack_shards") { es =>
      argc("pack_shards", es, 4)
      graft.operators.Curation.packShards(
        table("pack_shards", es(0)),
        id = str("pack_shards", es(1), "id column"),
        tokens = expr(str("pack_shards", es(2), "tokens expression")),
        budget = long("pack_shards", es(3), "shard budget"))
    }

    reg("pack_sequences") { es =>
      argc("pack_sequences", es, 4)
      graft.operators.Loader.packSequences(
        table("pack_sequences", es(0)),
        id = str("pack_sequences", es(1), "id column"),
        tokens = expr(str("pack_sequences", es(2), "tokens expression")),
        seqLen = long("pack_sequences", es(3), "sequence length"))
    }
    reg("epoch_shuffle") { es =>
      argc("epoch_shuffle", es, 4)
      graft.operators.Loader.epochShuffle(
        table("epoch_shuffle", es(0)),
        id = str("epoch_shuffle", es(1), "id column"),
        epoch = int("epoch_shuffle", es(2), "epoch"),
        shards = int("epoch_shuffle", es(3), "shard count"))
    }

    // per-source quota family
    reg("cap_per_group") { es =>
      argc("cap_per_group", es, 4)
      graft.operators.Curation.capPerGroup(
        table("cap_per_group", es(0)),
        group = str("cap_per_group", es(1), "group column"),
        id = str("cap_per_group", es(2), "id column"),
        cap = int("cap_per_group", es(3), "cap"))
    }

    // temporal family
    reg("asof_join") { es =>
      argc("asof_join", es, 6)
      graft.operators.Temporal.asOf(
        table("asof_join", es(0)),
        table("asof_join", es(1)),
        keys = csv(str("asof_join", es(2), "keys csv")),
        leftTime = str("asof_join", es(3), "left time column"),
        rightTime = str("asof_join", es(4), "right time column"),
        payload = csv(str("asof_join", es(5), "payload csv")))
    }
    reg("sessionize") { es =>
      argc("sessionize", es, 5)
      graft.operators.Temporal.sessionize(
        table("sessionize", es(0)),
        key = str("sessionize", es(1), "key column"),
        time = str("sessionize", es(2), "time column"),
        value = str("sessionize", es(3), "value column"),
        gap = str("sessionize", es(4), "session gap"))
    }
    reg("trailing_agg") { es =>
      argc("trailing_agg", es, 5)
      graft.operators.Temporal.trailingAgg(
        table("trailing_agg", es(0)),
        key = str("trailing_agg", es(1), "key column"),
        time = str("trailing_agg", es(2), "time column"),
        value = str("trailing_agg", es(3), "value column"),
        windowMicros = long("trailing_agg", es(4), "window micros"))
    }
    reg("range_join") { es =>
      argc("range_join", es, 7)
      graft.operators.Temporal.rangeJoin(
        table("range_join", es(0)),
        table("range_join", es(1)),
        keys = csv(str("range_join", es(2), "keys csv")),
        time = str("range_join", es(3), "point time column"),
        start = str("range_join", es(4), "interval start column"),
        end = str("range_join", es(5), "interval end column"),
        binMicros = long("range_join", es(6), "bin micros"))
    }

    // more dedup surface
    reg("ngram_jaccard_pairs") { es =>
      argc("ngram_jaccard_pairs", es, 5)
      graft.operators.Dedup.jaccardPairs(
        table("ngram_jaccard_pairs", es(0)),
        id = str("ngram_jaccard_pairs", es(1), "id column"),
        text = str("ngram_jaccard_pairs", es(2), "text column"),
        n = int("ngram_jaccard_pairs", es(3), "shingle size n"),
        threshold = dbl("ngram_jaccard_pairs", es(4), "jaccard threshold"))
    }
    reg("simhash_pairs") { es =>
      argc("simhash_pairs", es, 4)
      graft.operators.Dedup.simhashPairs(
        table("simhash_pairs", es(0)),
        id = str("simhash_pairs", es(1), "id column"),
        text = str("simhash_pairs", es(2), "text column"),
        maxHamming = int("simhash_pairs", es(3), "max hamming distance"))
    }
    reg("neardup_clusters") { es =>
      argc("neardup_clusters", es, 5)
      val t = table("neardup_clusters", es(0))
      graft.operators.Dedup.neardupClusters(
        t,
        id = str("neardup_clusters", es(1), "id column"),
        pairs = graft.operators.Dedup.jaccardPairs(
          t,
          id = str("neardup_clusters", es(1), "id column"),
          text = str("neardup_clusters", es(2), "text column"),
          n = int("neardup_clusters", es(3), "shingle size n"),
          threshold = dbl("neardup_clusters", es(4), "jaccard threshold")))
    }
    // cluster-keyed train/val/test: near-dups never straddle the
    // boundary — ('<docs table>', '<id>', '<text>', n, threshold,
    // trainPct, valPct)
    reg("leakage_safe_split") { es =>
      argc("leakage_safe_split", es, 7)
      val t = table("leakage_safe_split", es(0))
      val idc = str("leakage_safe_split", es(1), "id column")
      graft.operators.Curation.leakageSafeSplit(
        t, idc,
        pairs = graft.operators.Dedup.jaccardPairs(
          t, idc,
          text = str("leakage_safe_split", es(2), "text column"),
          n = int("leakage_safe_split", es(3), "shingle size n"),
          threshold = dbl("leakage_safe_split", es(4), "jaccard threshold")),
        trainPct = int("leakage_safe_split", es(5), "train percent"),
        valPct = int("leakage_safe_split", es(6), "val percent"))
    }

    // similarity family
    reg("cosine_topk") { es =>
      argc("cosine_topk", es, 5)
      graft.operators.Similarity.cosineTopK(
        table("cosine_topk", es(0)),
        table("cosine_topk", es(1)),
        id = str("cosine_topk", es(2), "id column"),
        vec = str("cosine_topk", es(3), "vector column"),
        k = int("cosine_topk", es(4), "k"))
    }

    // curation family
    reg("decontaminate") { es =>
      argc("decontaminate", es, 5)
      graft.operators.Curation.decontaminate(
        table("decontaminate", es(0)),
        table("decontaminate", es(1)),
        id = str("decontaminate", es(2), "id column"),
        text = str("decontaminate", es(3), "text column"),
        n = int("decontaminate", es(4), "n-gram size"))
    }
    reg("contamination_score") { es =>
      argc("contamination_score", es, 5)
      graft.operators.Curation.contaminationScore(
        table("contamination_score", es(0)),
        table("contamination_score", es(1)),
        id = str("contamination_score", es(2), "id column"),
        text = str("contamination_score", es(3), "text column"),
        n = int("contamination_score", es(4), "n-gram size"))
    }
    reg("line_dedup") { es =>
      argc("line_dedup", es, 4)
      graft.operators.Curation.lineDedup(
        table("line_dedup", es(0)),
        id = str("line_dedup", es(1), "id column"),
        text = str("line_dedup", es(2), "text column"),
        spanWords = int("line_dedup", es(3), "span width in words"))
    }
    reg("mixture_sample") { es =>
      argc("mixture_sample", es, 4)
      // weights as 'stratum=weight,...' (e.g. 'en=1.5,de=1.0,zh=0.25')
      val fn = "mixture_sample"
      val weights = csv(str(fn, es(3), "weights csv")).map { kv =>
        kv.split("=") match {
          case Array(k, v) => k.trim -> v.trim.toDouble
          case _ => fail(fn, s"weights must be 'stratum=weight,...', got '$kv'")
        }
      }.toMap
      graft.operators.Curation.mixtureSample(
        table(fn, es(0)),
        id = str(fn, es(1), "id column"),
        stratum = str(fn, es(2), "stratum column"),
        weights = weights)
    }

    // time-series reductions
    reg("ohlc") { es =>
      argc("ohlc", es, 6)
      graft.operators.TimeSeries.ohlc(
        table("ohlc", es(0)),
        key = str("ohlc", es(1), "key column"),
        time = str("ohlc", es(2), "time column"),
        value = str("ohlc", es(3), "value column"),
        tiebreak = str("ohlc", es(4), "tiebreak column"),
        stepSeconds = long("ohlc", es(5), "step seconds"))
    }
    reg("downsample_minmax") { es =>
      argc("downsample_minmax", es, 6)
      graft.operators.TimeSeries.downsampleMinMax(
        table("downsample_minmax", es(0)),
        key = str("downsample_minmax", es(1), "key column"),
        time = str("downsample_minmax", es(2), "time column"),
        value = str("downsample_minmax", es(3), "value column"),
        tiebreak = str("downsample_minmax", es(4), "tiebreak column"),
        stepSeconds = long("downsample_minmax", es(5), "step seconds"))
    }
    reg("rate_of_change") { es =>
      argc("rate_of_change", es, 5)
      graft.operators.TimeSeries.rateOfChange(
        table("rate_of_change", es(0)),
        key = str("rate_of_change", es(1), "key column"),
        time = str("rate_of_change", es(2), "time column"),
        value = str("rate_of_change", es(3), "value column"),
        tiebreak = str("rate_of_change", es(4), "tiebreak column"))
    }
    reg("detect_gaps") { es =>
      argc("detect_gaps", es, 4)
      graft.operators.TimeSeries.detectGaps(
        table("detect_gaps", es(0)),
        key = str("detect_gaps", es(1), "key column"),
        time = str("detect_gaps", es(2), "time column"),
        stepSeconds = long("detect_gaps", es(3), "step seconds"))
    }

    // sketch family: quantile estimates straight from a table
    // (build + walk fused; quantiles as 'q1,q2,...')
    reg("hist_quantiles") { es =>
      argc("hist_quantiles", es, 7)
      val groups = csv(str("hist_quantiles", es(2), "group columns"))
      val lo = dbl("hist_quantiles", es(3), "histogram lower bound")
      val hi = dbl("hist_quantiles", es(4), "histogram upper bound")
      val bins = int("hist_quantiles", es(5), "bin count")
      val qs = csv(str("hist_quantiles", es(6), "quantiles")).map(_.toDouble)
      graft.operators.Sketch.histogramQuantiles(
        graft.operators.Sketch.histogramBuild(
          table("hist_quantiles", es(0)),
          org.apache.spark.sql.functions.col(
            str("hist_quantiles", es(1), "value column")),
          groups, lo, hi, bins),
        groups, lo, hi, bins, qs)
    }

    // derived-bounds variant: no [lo, hi] arguments
    reg("hist_quantiles_auto") { es =>
      argc("hist_quantiles_auto", es, 5)
      graft.operators.Sketch.histogramQuantilesAuto(
        table("hist_quantiles_auto", es(0)),
        org.apache.spark.sql.functions.col(
          str("hist_quantiles_auto", es(1), "value column")),
        csv(str("hist_quantiles_auto", es(2), "group columns")),
        bins = int("hist_quantiles_auto", es(3), "bin count"),
        qs = csv(str("hist_quantiles_auto", es(4), "quantiles")).map(_.toDouble))
    }

    // distinct-count sketch family: group columns as csv ('' = global)
    reg("hll_distinct") { es =>
      argc("hll_distinct", es, 4)
      graft.operators.Sketch.hllDistinct(
        table("hll_distinct", es(0)),
        org.apache.spark.sql.functions.col(
          str("hll_distinct", es(1), "key column")).cast("string"),
        csv(str("hll_distinct", es(2), "group columns")),
        p = int("hll_distinct", es(3), "precision p"))
    }
    reg("hll_setops") { es =>
      argc("hll_setops", es, 5)
      graft.operators.Sketch.hllSetOps(
        table("hll_setops", es(0)),
        org.apache.spark.sql.functions.col(
          str("hll_setops", es(1), "key column")).cast("string"),
        expr(str("hll_setops", es(2), "cohort A predicate")),
        expr(str("hll_setops", es(3), "cohort B predicate")),
        p = int("hll_setops", es(4), "precision p"))
    }

    reg("anomaly_zscore") { es =>
      argc("anomaly_zscore", es, 5)
      graft.operators.TimeSeries.anomalyZScore(
        table("anomaly_zscore", es(0)),
        key = str("anomaly_zscore", es(1), "key column"),
        time = str("anomaly_zscore", es(2), "time column"),
        value = str("anomaly_zscore", es(3), "value column"),
        windowMicros = long("anomaly_zscore", es(4), "trailing window micros"))
    }

    // vocab-induction family
    reg("bpe_pairs") { es =>
      argc("bpe_pairs", es, 2)
      graft.operators.Vocab.bpePairCounts(
        table("bpe_pairs", es(0)),
        text = str("bpe_pairs", es(1), "text column"))
    }
    reg("bpe_train") { es =>
      argc("bpe_train", es, 3)
      graft.operators.Vocab.bpeTrain(
        table("bpe_train", es(0)),
        text = str("bpe_train", es(1), "text column"),
        k = int("bpe_train", es(2), "merge rounds"))
    }
    // train-then-encode composition: the merge list is k rows of
    // driver-side model state between the two halves, so the SQL form
    // stays one call — the encode path is the production large-k fold
    reg("bpe_encode") { es =>
      argc("bpe_encode", es, 3)
      val t = table("bpe_encode", es(0))
      val text = str("bpe_encode", es(1), "text column")
      val merges = graft.operators.Vocab.bpeTrain(
        t, text, int("bpe_encode", es(2), "merge rounds"))
        .orderBy("step").collect()
        .map(r => (r.getAs[String]("left_sym"), r.getAs[String]("right_sym")))
        .toSeq
      graft.operators.Vocab.bpeEncodeLargeK(t, text, merges)
    }
    reg("ngram_count_of_counts") { es =>
      argc("ngram_count_of_counts", es, 3)
      graft.operators.Vocab.ngramCountOfCounts(
        table("ngram_count_of_counts", es(0)),
        text = str("ngram_count_of_counts", es(1), "text column"),
        n = int("ngram_count_of_counts", es(2), "n-gram size"))
    }

    // generic MATCH_RECOGNIZE: A/B/C predicates as SQL expression text
    // over the input table's columns, e.g.
    //   SELECT * FROM cep_pattern('events', 'user_id', 'ts', 'value',
    //     'event_type', 'event_id', "event_type = 'signup'",
    //     "event_type IN ('click','view')", "event_type = 'purchase'",
    //     0, 3, 259200000000)
    reg("cep_pattern") { es =>
      argc("cep_pattern", es, 12)
      val p = graft.operators.Cep.Params(
        key = str("cep_pattern", es(1), "key column"),
        time = str("cep_pattern", es(2), "time column"),
        value = str("cep_pattern", es(3), "value column"),
        status = str("cep_pattern", es(4), "status column"),
        id = str("cep_pattern", es(5), "id column"))
      graft.operators.Cep.matchesPattern(
        table("cep_pattern", es(0)), p,
        graft.operators.Cep.PatternSpec(
          a = expr(str("cep_pattern", es(6), "A predicate")),
          b = expr(str("cep_pattern", es(7), "B predicate")),
          c = expr(str("cep_pattern", es(8), "C predicate")),
          minB = int("cep_pattern", es(9), "minB"),
          maxB = int("cep_pattern", es(10), "maxB"),
          withinMicros = long("cep_pattern", es(11), "within micros")))
    }

    reg("priority_sample") { es =>
      argc("priority_sample", es, 4)
      graft.operators.Curation.prioritySample(
        table("priority_sample", es(0)),
        id = str("priority_sample", es(1), "id column"),
        weight = str("priority_sample", es(2), "weight column"),
        k = int("priority_sample", es(3), "sample size"))
    }

    // versioned-lake surface: read any committed version / the
    // row-level change stream between two versions, from SQL text —
    // the same manifest-pruned plans as the Scala API (the argument
    // is the lake DIRECTORY, not a catalog table).
    reg("time_travel") { es =>
      argc("time_travel", es, 2)
      graft.sources.VersionedLake.read(spark,
        str("time_travel", es(0), "lake directory"),
        Some(int("time_travel", es(1), "version")))
    }
    // Delta-style TIMESTAMP AS OF over the commit-time headers
    reg("time_travel_at") { es =>
      argc("time_travel_at", es, 2)
      graft.sources.VersionedLake.readAsOf(spark,
        str("time_travel_at", es(0), "lake directory"),
        long("time_travel_at", es(1), "epoch millis"))
    }
    reg("version_diff") { es =>
      argc("version_diff", es, 3)
      graft.sources.VersionedLake.diff(spark,
        str("version_diff", es(0), "lake directory"),
        int("version_diff", es(1), "from version"),
        int("version_diff", es(2), "to version"))
    }
    // Bloom point read of a named column: files skipped from manifest
    // metadata alone; the caller applies the exact row predicate
    reg("read_point") { es =>
      argc("read_point", es, 3)
      graft.sources.VersionedLake.readPoint(spark,
        str("read_point", es(0), "lake directory"),
        str("read_point", es(1), "bloom column"),
        str("read_point", es(2), "key value"), None)
    }
    // zone-map range read of a named column: files skipped from
    // manifest metadata alone; the caller still applies the exact row
    // predicate on top (zone maps bound files, not rows). Numeric
    // bounds prune on the per-column min/max (timestamps probe in
    // epoch micros, dates in epoch days); STRING bounds prune on the
    // truncated string envelopes commits record for every string
    // column (binary UTF-8 order — categorical filters like
    // lang = 'en' probe with lo = hi)
    reg("read_range") { es =>
      argc("read_range", es, 4)
      def isStr(e: Expression): Boolean = e match {
        case org.apache.spark.sql.catalyst.expressions.Literal(_, t) =>
          t == org.apache.spark.sql.types.StringType
        case _ => false
      }
      if (isStr(es(2)) && isStr(es(3)))
        graft.sources.VersionedLake.readRange(spark,
          str("read_range", es(0), "lake directory"),
          str("read_range", es(1), "stats column"),
          str("read_range", es(2), "range low"),
          str("read_range", es(3), "range high"), None)
      else
        graft.sources.VersionedLake.readRange(spark,
          str("read_range", es(0), "lake directory"),
          str("read_range", es(1), "stats column"),
          dbl("read_range", es(2), "range low"),
          dbl("read_range", es(3), "range high"), None)
    }
    // maintenance TVFs: the argument parsing happens at analysis, the
    // OPERATION at first execution, and the relation is its receipt —
    // SQL-first maintenance, the way a table format exposes
    // OPTIMIZE/VACUUM as SQL statements. Each returns what it did so
    // the caller can assert on it; EXPLAIN touches nothing
    // (DialectSpec pins that).
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    regDeferred("lake_compact",
      StructType(Seq(StructField("committed_version", LongType)))) { es =>
      argc("lake_compact", es, 2)
      val dir = str("lake_compact", es(0), "lake directory")
      val part = str("lake_compact", es(1), "partition column")
      () => Seq(Seq(graft.sources.VersionedLake.compactPartitions(
        spark, dir, part).toLong))
    }
    reg("lake_row_count") { es =>
      if (es.length < 1 || es.length > 2)
        fail("lake_row_count", s"expects 1 or 2 arguments, got ${es.length}")
      val session = spark
      import session.implicits._
      Seq(graft.sources.VersionedLake.rowCount(session,
        str("lake_row_count", es(0), "lake directory"),
        es.lift(1).map(int("lake_row_count", _, "version"))))
        .toDF("n_rows")
    }
    // DESCRIBE HISTORY: one row per surviving version, straight from
    // the manifests (commit ts, per-commit batch/retract ids, file and
    // row counts) — metadata-only
    reg("lake_history") { es =>
      argc("lake_history", es, 1)
      graft.sources.VersionedLake.history(spark,
        str("lake_history", es(0), "lake directory"))
    }
    regDeferred("lake_vacuum",
      StructType(Seq(StructField("keep_from", LongType),
        StructField("current_version", LongType)))) { es =>
      argc("lake_vacuum", es, 2)
      val dir = str("lake_vacuum", es(0), "lake directory")
      val keepFrom = int("lake_vacuum", es(1), "keep-from version")
      () => {
        graft.sources.VersionedLake.vacuum(dir, keepFrom)
        Seq(Seq(keepFrom.toLong,
          graft.sources.VersionedLake.currentVersion(dir).toLong))
      }
    }
    regDeferred("lake_clean_orphans",
      StructType(Seq(StructField("deleted_path", StringType)))) { es =>
      argc("lake_clean_orphans", es, 1)
      val dir = str("lake_clean_orphans", es(0), "lake directory")
      () => graft.sources.VersionedLake.cleanOrphans(dir).map(Seq(_))
    }
    // partition-level retention as a COMMIT: expire partitions below
    // the cutoff by manifest exclusion — metadata-only, time travel
    // keeps pre-drop versions until vacuumed. Receipt: (version,
    // dropped partition) per expired partition, or one null-partition
    // row when nothing matched.
    regDeferred("lake_expire_below",
      StructType(Seq(StructField("committed_version", LongType),
        StructField("dropped_partition", StringType)))) { es =>
      argc("lake_expire_below", es, 2)
      val dir = str("lake_expire_below", es(0), "lake directory")
      val cutoff = str("lake_expire_below", es(1), "cutoff partition value")
      () => {
        val (v, dropped) = graft.sources.VersionedLake
          .expirePartitionsBelow(dir, cutoff)
        if (dropped.isEmpty) Seq(Seq(v.toLong, null))
        else dropped.map(p => Seq(v.toLong, p))
      }
    }
    // Z-order re-clustering as a deferred maintenance statement — the
    // OPTIMIZE ... ZORDER BY of this lake. Receipt: the committed
    // version and the clustered version's file count.
    regDeferred("lake_zorder",
      StructType(Seq(StructField("committed_version", LongType),
        StructField("n_files", LongType)))) { es =>
      if (es.length < 3 || es.length > 4)
        fail("lake_zorder", s"expects 3 or 4 arguments, got ${es.length}")
      val dir = str("lake_zorder", es(0), "lake directory")
      val part = str("lake_zorder", es(1), "partition column")
      val zc = str("lake_zorder", es(2), "comma-separated z-order columns")
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val fpp = es.lift(3).map(int("lake_zorder", _, "files per partition"))
        .getOrElse(4)
      () => {
        val v = graft.sources.VersionedLake.zorderPartitions(
          spark, dir, part, zc, fpp)
        Seq(Seq(v.toLong,
          graft.sources.VersionedLake.manifestEntries(dir, v).size.toLong))
      }
    }
    // one tranche of the packed-dataset lake: pack the named table's
    // documents from the carried token offset and append the slices
    regDeferred("pack_lake_append",
      StructType(Seq(StructField("committed_version", LongType)))) { es =>
      argc("pack_lake_append", es, 5)
      val src = table("pack_lake_append", es(0))
      val id = str("pack_lake_append", es(1), "id column")
      val tokens = expr(str("pack_lake_append", es(2), "tokens expression"))
      val seqLen = long("pack_lake_append", es(3), "sequence length")
      val dir = str("pack_lake_append", es(4), "pack lake directory")
      () => Seq(Seq(graft.operators.Loader.packedLakeAppend(
        src, id, tokens, seqLen, dir).toLong))
    }

    // epoch layouts as a lake: append commits one epoch's shard
    // manifest exactly-once (batch id = epoch); the read forms serve a
    // whole epoch or a single (epoch, shard) partition back,
    // manifest-pruned — the SQL surface of Loader.epochLakeAppend/
    // readEpoch/readEpochShard
    regDeferred("epoch_lake_append",
      StructType(Seq(StructField("committed_version", LongType)))) { es =>
      argc("epoch_lake_append", es, 5)
      val src = table("epoch_lake_append", es(0))
      val id = str("epoch_lake_append", es(1), "id column")
      val epoch = int("epoch_lake_append", es(2), "epoch")
      val shards = int("epoch_lake_append", es(3), "shard count")
      val dir = str("epoch_lake_append", es(4), "epoch lake directory")
      () => Seq(Seq(graft.operators.Loader.epochLakeAppend(
        src, id, epoch, shards, dir).toLong))
    }
    reg("epoch_read") { es =>
      argc("epoch_read", es, 2)
      graft.operators.Loader.readEpoch(spark,
        str("epoch_read", es(0), "epoch lake directory"),
        int("epoch_read", es(1), "epoch"))
    }
    reg("epoch_shard_read") { es =>
      argc("epoch_shard_read", es, 3)
      graft.operators.Loader.readEpochShard(spark,
        str("epoch_shard_read", es(0), "epoch lake directory"),
        int("epoch_shard_read", es(1), "epoch"),
        int("epoch_shard_read", es(2), "shard"))
    }

    reg("exact_substring_scrub") { es =>
      argc("exact_substring_scrub", es, 4)
      graft.operators.Dedup.exactSubstringScrub(
        table("exact_substring_scrub", es(0)),
        id = str("exact_substring_scrub", es(1), "id column"),
        text = str("exact_substring_scrub", es(2), "text column"),
        L = int("exact_substring_scrub", es(3), "minimum duplicated length L"))
    }
    reg("chunk_docs") { es =>
      argc("chunk_docs", es, 5)
      graft.operators.Curation.chunkDocs(
        table("chunk_docs", es(0)),
        id = str("chunk_docs", es(1), "id column"),
        text = str("chunk_docs", es(2), "text column"),
        window = int("chunk_docs", es(3), "window tokens"),
        overlap = int("chunk_docs", es(4), "overlap tokens"))
    }
    reg("lm_surprise") { es =>
      argc("lm_surprise", es, 3)
      graft.operators.Vocab.lmSurprise(
        table("lm_surprise", es(0)),
        id = str("lm_surprise", es(1), "id column"),
        text = str("lm_surprise", es(2), "text column"))
    }

    // lexical retrieval family
    reg("inverted_index") { es =>
      argc("inverted_index", es, 3)
      graft.operators.TextSearch.invertedIndex(
        table("inverted_index", es(0)),
        id = str("inverted_index", es(1), "id column"),
        text = str("inverted_index", es(2), "text column"))
    }
    reg("bm25_topk") { es =>
      argc("bm25_topk", es, 5)
      graft.operators.TextSearch.bm25TopK(
        table("bm25_topk", es(0)),
        id = str("bm25_topk", es(1), "id column"),
        text = str("bm25_topk", es(2), "text column"),
        query = str("bm25_topk", es(3), "query terms").split(" ").toSeq,
        k = int("bm25_topk", es(4), "k"))
    }

    // query-TABLE BM25: both the corpus and the query set are named
    // tables — the decontamination-review retrieval shape from SQL
    reg("bm25_batch") { es =>
      argc("bm25_batch", es, 7)
      graft.operators.TextSearch.bm25TopKBatch(
        table("bm25_batch", es(0)),
        id = str("bm25_batch", es(1), "id column"),
        text = str("bm25_batch", es(2), "text column"),
        queries = table("bm25_batch", es(3)),
        qid = str("bm25_batch", es(4), "query id column"),
        qtext = str("bm25_batch", es(5), "query text column"),
        k = int("bm25_batch", es(6), "k"))
    }

    // unigram-LM tokenizer: train returns the model table; encode
    // trains then segments (the bpe_encode discipline — the model is
    // analysis-time state derived from the named table)
    reg("unigram_train") { es =>
      argc("unigram_train", es, 6)
      graft.operators.Vocab.unigramTrain(
        table("unigram_train", es(0)),
        text = str("unigram_train", es(1), "text column"),
        vocabSize = int("unigram_train", es(2), "vocab size"),
        rounds = int("unigram_train", es(3), "EM rounds"),
        maxLen = int("unigram_train", es(4), "max piece length"),
        seedSize = int("unigram_train", es(5), "seed size"))
    }
    reg("unigram_encode") { es =>
      argc("unigram_encode", es, 7)
      val t = table("unigram_encode", es(0))
      val textCol = str("unigram_encode", es(2), "text column")
      val maxLen = int("unigram_encode", es(5), "max piece length")
      val model = graft.operators.Vocab.unigramTrain(t, textCol,
        vocabSize = int("unigram_encode", es(3), "vocab size"),
        rounds = int("unigram_encode", es(4), "EM rounds"),
        maxLen = maxLen,
        seedSize = int("unigram_encode", es(6), "seed size"))
        .collect().map(r => (r.getAs[String]("piece"), r.getAs[Long]("cost"))).toSeq
      graft.operators.Vocab.unigramEncode(t,
        str("unigram_encode", es(1), "id column"), textCol, model, maxLen)
    }

    // multimodal family: batch decode of (media_id, payload) tables
    // from SQL text — same mapPartitions plans as the Scala API
    reg("decode_media") { es =>
      argc("decode_media", es, 1)
      graft.operators.Multimodal.decode(table("decode_media", es(0))).toDF()
    }
    // perceptual hashes of an image media table, and the Hamming-ball
    // near-dup pair scan over them
    reg("phash") { es =>
      argc("phash", es, 1)
      graft.operators.Multimodal.phash(table("phash", es(0)))
    }
    reg("phash_neardup") { es =>
      argc("phash_neardup", es, 2)
      graft.operators.Dedup.hammingPairs(
        graft.operators.Multimodal.phash(table("phash_neardup", es(0)))
          .select(org.apache.spark.sql.functions.col("media_id").as("doc"),
            org.apache.spark.sql.functions.col("phash").as("h")),
        maxHamming = int("phash_neardup", es(1), "max hamming"))
    }
    // windowed integer-Goertzel bin energies per channel
    reg("audio_goertzel") { es =>
      argc("audio_goertzel", es, 2)
      graft.operators.Multimodal.audioGoertzel(
        table("audio_goertzel", es(0)),
        windowSize = int("audio_goertzel", es(1), "window size")).toDF()
    }
    reg("decode_audio") { es =>
      argc("decode_audio", es, 1)
      graft.operators.Multimodal.decodeAudio(table("decode_audio", es(0))).toDF()
    }
    reg("decode_video_frames") { es =>
      argc("decode_video_frames", es, 2)
      graft.operators.Multimodal.decodeVideoFrames(
        table("decode_video_frames", es(0)),
        stride = int("decode_video_frames", es(1), "frame stride"))
    }
    // generic exact set-Jaccard near-dup over any (id, element)
    // membership table (maxDf <= 0 disables the stop-element cap)
    reg("set_jaccard_pairs") { es =>
      argc("set_jaccard_pairs", es, 5)
      val cap = long("set_jaccard_pairs", es(4), "max element df")
      graft.operators.Dedup.setJaccardPairs(
        table("set_jaccard_pairs", es(0)),
        str("set_jaccard_pairs", es(1), "id column"),
        str("set_jaccard_pairs", es(2), "element column"),
        threshold = dbl("set_jaccard_pairs", es(3), "jaccard threshold"),
        maxElemDf = if (cap > 0) Some(cap) else None)
    }
    // per-window channel-seeded PCM fingerprints of a WAV media table
    reg("audio_fingerprints") { es =>
      argc("audio_fingerprints", es, 2)
      graft.operators.Multimodal.audioFingerprints(
        table("audio_fingerprints", es(0)),
        windowSize = int("audio_fingerprints", es(1), "window size"))
    }
    // fused near-dup pipelines for the two temporal modalities:
    // decode -> windowed fingerprints -> set-Jaccard pair scan
    reg("video_neardup") { es =>
      argc("video_neardup", es, 4)
      val cap = long("video_neardup", es(3), "max element df")
      graft.operators.Dedup.setJaccardPairs(
        graft.operators.Multimodal.decodeVideoFrames(
          table("video_neardup", es(0)),
          stride = int("video_neardup", es(1), "frame stride"))
          .select(org.apache.spark.sql.functions.col("media_id").as("doc"),
            org.apache.spark.sql.functions.col("frame_hash").as("s")),
        "doc", "s",
        threshold = dbl("video_neardup", es(2), "jaccard threshold"),
        maxElemDf = if (cap > 0) Some(cap) else None)
    }
    reg("audio_neardup") { es =>
      argc("audio_neardup", es, 4)
      val cap = long("audio_neardup", es(3), "max element df")
      graft.operators.Dedup.setJaccardPairs(
        graft.operators.Multimodal.audioFingerprints(
          table("audio_neardup", es(0)),
          windowSize = int("audio_neardup", es(1), "window size"))
          .select(org.apache.spark.sql.functions.col("media_id").as("doc"),
            org.apache.spark.sql.functions.col("whash").as("s")),
        "doc", "s",
        threshold = dbl("audio_neardup", es(2), "jaccard threshold"),
        maxElemDf = if (cap > 0) Some(cap) else None)
    }
    // incremental dedup-at-ingest (side-effecting, like the lake
    // maintenance TVFs): run one increment against the named state
    // lakes and return the pairs the increment introduces
    reg("dedup_index_batch") { es =>
      argc("dedup_index_batch", es, 7)
      graft.streaming.DedupStream.indexBatch(
        table("dedup_index_batch", es(0)),
        str("dedup_index_batch", es(1), "id column"),
        str("dedup_index_batch", es(2), "text column"),
        str("dedup_index_batch", es(3), "docs lake dir"),
        str("dedup_index_batch", es(4), "index lake dir"),
        n = int("dedup_index_batch", es(5), "shingle size"),
        threshold = dbl("dedup_index_batch", es(6), "jaccard threshold"))
    }
    reg("dedup_index_hashes") { es =>
      argc("dedup_index_hashes", es, 5)
      graft.streaming.DedupStream.indexHammingBatch(
        table("dedup_index_hashes", es(0)),
        str("dedup_index_hashes", es(1), "id column"),
        str("dedup_index_hashes", es(2), "hash column"),
        str("dedup_index_hashes", es(3), "hash lake dir"),
        maxHamming = int("dedup_index_hashes", es(4), "max hamming"))
    }
    // reciprocal-rank fusion of two (query_id, rank, doc_id) rankings
    reg("rrf_fuse") { es =>
      argc("rrf_fuse", es, 4)
      graft.operators.TextSearch.rrfFuse(
        table("rrf_fuse", es(0)), table("rrf_fuse", es(1)),
        k = int("rrf_fuse", es(2), "k"),
        c = int("rrf_fuse", es(3), "rrf constant"))
    }
    // append one increment of documents into a postings lake, and
    // BM25-search it with term-partition pruning (terms as a
    // comma-separated literal, the hist_quantiles list convention)
    // DEFERRED like every other mutating TVF: the table resolves at
    // analysis, but the tokenize-and-commit runs at first execution —
    // EXPLAIN on an ingest statement must not grow the index
    regDeferred("bm25_lake_append",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("status",
          org.apache.spark.sql.types.StringType)))) { es =>
      argc("bm25_lake_append", es, 4)
      val t = table("bm25_lake_append", es(0))
      val id = str("bm25_lake_append", es(1), "id column")
      val text = str("bm25_lake_append", es(2), "text column")
      val dir = str("bm25_lake_append", es(3), "postings lake dir")
      () => {
        graft.sources.PostingsLake.append(t, id, text, dir)
        Seq(Seq("appended"))
      }
    }
    reg("bm25_lake_search") { es =>
      argc("bm25_lake_search", es, 3)
      val terms = str("bm25_lake_search", es(1), "query terms")
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      graft.sources.PostingsLake.search(
        org.apache.spark.sql.SparkSession.active,
        str("bm25_lake_search", es(0), "postings lake dir"),
        terms, k = int("bm25_lake_search", es(2), "k"))
    }
    // search-result highlighting: ('<docs table>', '<id>', '<text>',
    // '<terms csv>', window)
    reg("highlight") { es =>
      argc("highlight", es, 5)
      graft.operators.TextSearch.highlight(
        table("highlight", es(0)),
        id = str("highlight", es(1), "id column"),
        text = str("highlight", es(2), "text column"),
        terms = csv(str("highlight", es(3), "query terms")),
        window = int("highlight", es(4), "window"))
    }
    // exact phrase search: ('<docs table>', '<id>', '<text>', '<phrase>')
    reg("phrase_search") { es =>
      argc("phrase_search", es, 4)
      graft.operators.TextSearch.phraseSearch(
        table("phrase_search", es(0)),
        id = str("phrase_search", es(1), "id column"),
        text = str("phrase_search", es(2), "text column"),
        phrase = str("phrase_search", es(3), "phrase"))
    }
    reg("proximity_search") { es =>
      argc("proximity_search", es, 5)
      graft.operators.TextSearch.proximitySearch(
        table("proximity_search", es(0)),
        id = str("proximity_search", es(1), "id column"),
        text = str("proximity_search", es(2), "text column"),
        phrase = str("proximity_search", es(3), "phrase"),
        slop = int("proximity_search", es(4), "slop"))
    }
    // retrieval evaluation: ('<run table (query_id, rank, doc_id)>',
    // '<qrels table (query_id, doc_id)>', k) — per-query hits/recall@k
    // and the reciprocal-rank MRR term
    reg("retrieval_metrics") { es =>
      argc("retrieval_metrics", es, 3)
      graft.operators.TextSearch.retrievalMetrics(
        table("retrieval_metrics", es(0)),
        table("retrieval_metrics", es(1)),
        k = int("retrieval_metrics", es(2), "k"))
    }
    // phrase search over the positional postings lake:
    // ('<lake dir>', '<phrase>')
    reg("phrase_lake_search") { es =>
      argc("phrase_lake_search", es, 2)
      graft.sources.PostingsLake.phraseSearch(
        org.apache.spark.sql.SparkSession.active,
        str("phrase_lake_search", es(0), "postings lake dir"),
        str("phrase_lake_search", es(1), "phrase"))
    }
    reg("proximity_lake_search") { es =>
      argc("proximity_lake_search", es, 3)
      graft.sources.PostingsLake.proximitySearch(
        org.apache.spark.sql.SparkSession.active,
        str("proximity_lake_search", es(0), "postings lake dir"),
        str("proximity_lake_search", es(1), "phrase"),
        slop = int("proximity_lake_search", es(2), "slop"))
    }
    // the QUERY-TABLE phrase form over the lake: ('<lake dir>',
    // '<phrases table>', '<phrase id col>', '<phrase text col>')
    reg("phrase_lake_batch") { es =>
      argc("phrase_lake_batch", es, 4)
      graft.sources.PostingsLake.phraseSearchBatch(
        org.apache.spark.sql.SparkSession.active,
        str("phrase_lake_batch", es(0), "postings lake dir"),
        table("phrase_lake_batch", es(1)),
        pid = str("phrase_lake_batch", es(2), "phrase id column"),
        ptext = str("phrase_lake_batch", es(3), "phrase text column"))
    }
    // the QUERY-TABLE proximity form over the lake: ('<lake dir>',
    // '<phrases table>', '<phrase id col>', '<phrase text col>', slop)
    reg("proximity_lake_batch") { es =>
      argc("proximity_lake_batch", es, 5)
      graft.sources.PostingsLake.proximitySearchBatch(
        org.apache.spark.sql.SparkSession.active,
        str("proximity_lake_batch", es(0), "postings lake dir"),
        table("proximity_lake_batch", es(1)),
        pid = str("proximity_lake_batch", es(2), "phrase id column"),
        ptext = str("proximity_lake_batch", es(3), "phrase text column"),
        slop = int("proximity_lake_batch", es(4), "slop"))
    }
    // lake-backed highlighting: ('<postings lake>', '<docs lake>',
    // '<id>', '<text>', '<terms csv>', window)
    reg("highlight_lake") { es =>
      argc("highlight_lake", es, 6)
      graft.sources.PostingsLake.highlight(
        org.apache.spark.sql.SparkSession.active,
        str("highlight_lake", es(0), "postings lake dir"),
        str("highlight_lake", es(1), "docs lake dir"),
        id = str("highlight_lake", es(2), "id column"),
        text = str("highlight_lake", es(3), "text column"),
        terms = csv(str("highlight_lake", es(4), "query terms")),
        window = int("highlight_lake", es(5), "window"))
    }
    // index-backed decontamination over a GramLake: ('<gram lake dir>')
    reg("gram_decontaminate") { es =>
      argc("gram_decontaminate", es, 1)
      graft.sources.GramLake.decontaminate(
        org.apache.spark.sql.SparkSession.active,
        str("gram_decontaminate", es(0), "gram lake dir"))
    }
    reg("gram_score") { es =>
      argc("gram_score", es, 1)
      graft.sources.GramLake.contaminationScore(
        org.apache.spark.sql.SparkSession.active,
        str("gram_score", es(0), "gram lake dir"))
    }
    // the QUERY-TABLE form over the lake: ('<lake dir>', '<queries
    // table>', '<query id col>', '<query text col>', k)
    reg("bm25_lake_batch") { es =>
      argc("bm25_lake_batch", es, 5)
      val q = table("bm25_lake_batch", es(1))
      graft.sources.PostingsLake.searchBatch(q.sparkSession,
        str("bm25_lake_batch", es(0), "postings lake dir"), q,
        qid = str("bm25_lake_batch", es(2), "query id column"),
        qtext = str("bm25_lake_batch", es(3), "query text column"),
        k = int("bm25_lake_batch", es(4), "k"))
    }
    // probe-pruned search over a lake-backed incremental ANN index
    reg("ann_lake_search") { es =>
      argc("ann_lake_search", es, 6)
      val q = table("ann_lake_search", es(0))
      graft.sources.AnnLake.search(q.sparkSession, q,
        str("ann_lake_search", es(1), "id column"),
        str("ann_lake_search", es(2), "vector column"),
        str("ann_lake_search", es(3), "index lake dir"),
        k = int("ann_lake_search", es(4), "k"),
        nprobe = int("ann_lake_search", es(5), "nprobe"))
    }
    // ADC search over a PQ code lake (createPq): probe, prune, rank
    // from the compressed codes alone
    reg("ann_lake_search_pq") { es =>
      argc("ann_lake_search_pq", es, 6)
      val q = table("ann_lake_search_pq", es(0))
      graft.sources.AnnLake.searchPq(q.sparkSession, q,
        str("ann_lake_search_pq", es(1), "id column"),
        str("ann_lake_search_pq", es(2), "vector column"),
        str("ann_lake_search_pq", es(3), "index lake dir"),
        k = int("ann_lake_search_pq", es(4), "k"),
        nprobe = int("ann_lake_search_pq", es(5), "nprobe"))
    }
    // filtered ANN: same, restricted to an allow TABLE of doc ids
    reg("ann_lake_search_filtered") { es =>
      argc("ann_lake_search_filtered", es, 7)
      val q = table("ann_lake_search_filtered", es(0))
      graft.sources.AnnLake.searchFiltered(q.sparkSession, q,
        str("ann_lake_search_filtered", es(1), "id column"),
        str("ann_lake_search_filtered", es(2), "vector column"),
        str("ann_lake_search_filtered", es(3), "index lake dir"),
        k = int("ann_lake_search_filtered", es(4), "k"),
        nprobe = int("ann_lake_search_filtered", es(5), "nprobe"),
        allow = table("ann_lake_search_filtered", es(6)))
    }
    reg("dedup_index_elements") { es =>
      argc("dedup_index_elements", es, 6)
      val cap = long("dedup_index_elements", es(5), "max element df")
      graft.streaming.DedupStream.indexElementsBatch(
        table("dedup_index_elements", es(0)),
        str("dedup_index_elements", es(1), "id column"),
        str("dedup_index_elements", es(2), "element column"),
        str("dedup_index_elements", es(3), "element lake dir"),
        threshold = dbl("dedup_index_elements", es(4), "jaccard threshold"),
        maxElemDf = if (cap > 0) Some(cap) else None)
    }

    // semantic dedup: embedding near-dup pairs -> canonical clusters
    reg("semantic_dedup") { es =>
      argc("semantic_dedup", es, 7)
      val t = table("semantic_dedup", es(0))
      val id = str("semantic_dedup", es(1), "id column")
      graft.operators.Dedup.neardupClusters(t, id,
        graft.operators.Similarity.cosineNearDupPairsBlocked(
          t, id,
          str("semantic_dedup", es(2), "embedding column"),
          threshold = dbl("semantic_dedup", es(3), "cosine threshold"),
          nbits = int("semantic_dedup", es(4), "bits per LSH table"),
          tables = int("semantic_dedup", es(5), "LSH table count"),
          dim = int("semantic_dedup", es(6), "embedding dimension")))
    }

    // markup extraction: (table, id col, html col, densityNum, densityDen)
    // → (id, text, n_blocks, n_kept)
    reg("html_extract") { es =>
      argc("html_extract", es, 5)
      val idc = str("html_extract", es(1), "id column")
      table("html_extract", es(0))
        .select(org.apache.spark.sql.functions.col(idc),
          graft.operators.Markup.extractText(
            org.apache.spark.sql.functions.col(
              str("html_extract", es(2), "html column")),
            num = int("html_extract", es(3), "density numerator"),
            den = int("html_extract", es(4), "density denominator")).as("e"))
        .select(org.apache.spark.sql.functions.col(idc),
          org.apache.spark.sql.functions.col("e.text").as("text"),
          org.apache.spark.sql.functions.col("e.n_blocks").as("n_blocks"),
          org.apache.spark.sql.functions.col("e.n_kept").as("n_kept"))
    }

    // link graph: host-level weighted edges from (host, html) documents
    reg("domain_edges") { es =>
      argc("domain_edges", es, 3)
      graft.operators.LinkGraph.domainEdges(
        table("domain_edges", es(0)),
        host = str("domain_edges", es(1), "host column"),
        html = str("domain_edges", es(2), "html column"))
    }
    // scaled-integer PageRank over an edge table (src, dst, weight)
    reg("link_pagerank") { es =>
      argc("link_pagerank", es, 3)
      graft.operators.LinkGraph.pagerank(
        table("link_pagerank", es(0)),
        iters = int("link_pagerank", es(1), "iterations"),
        dampingPct = int("link_pagerank", es(2), "damping percent"))
    }

    // learned quality: train on (table, id, text, label EXPRESSION,
    // buckets) and score the same table — (doc_id, n_toks, score, pred)
    reg("quality_learned") { es =>
      argc("quality_learned", es, 5)
      val t = table("quality_learned", es(0))
      val id = str("quality_learned", es(1), "id column")
      val text = str("quality_learned", es(2), "text column")
      val model = graft.operators.LearnedQuality.train(t, id, text,
        expr(str("quality_learned", es(3), "label expression")),
        buckets = int("quality_learned", es(4), "feature buckets"))
      graft.operators.LearnedQuality.score(model, t, id, text)
    }

    // ANN recall harness over a persisted index: (corpus, queries, id,
    // vec, k, 'n1,n2,...', assigned table, centroids table)
    reg("ann_recall") { es =>
      argc("ann_recall", es, 8)
      graft.operators.Similarity.annRecall(
        table("ann_recall", es(0)), table("ann_recall", es(1)),
        id = str("ann_recall", es(2), "id column"),
        vec = str("ann_recall", es(3), "vector column"),
        k = int("ann_recall", es(4), "k"),
        nprobes = csv(str("ann_recall", es(5), "nprobe list")).map(_.toInt),
        assigned = table("ann_recall", es(6)),
        centroids = table("ann_recall", es(7)))
    }

    // loss-ranked unigram pruning: the model arrives as a TABLE of
    // (piece, cnt) — e.g. a persisted unigram_train output
    reg("unigram_prune") { es =>
      argc("unigram_prune", es, 5)
      val model = table("unigram_prune", es(2))
        .select(org.apache.spark.sql.functions.col("piece"),
          org.apache.spark.sql.functions.col("cnt"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      graft.operators.Vocab.unigramPrune(
        table("unigram_prune", es(0)),
        text = str("unigram_prune", es(1), "text column"),
        model = model,
        targetSize = int("unigram_prune", es(3), "target vocab size"),
        maxLen = int("unigram_prune", es(4), "max piece length"))
    }

    // hot/cold tiered read of an export lake: ('<lake dir>',
    // '<hot cutoff partition key>') — partitions at or above the
    // cutoff served from the block-manager cache, colder from parquet
    reg("hot_cold_read") { es =>
      argc("hot_cold_read", es, 2)
      graft.streaming.Exporter.hotColdRead(spark,
        str("hot_cold_read", es(0), "export lake dir"),
        str("hot_cold_read", es(1), "hot cutoff partition key"))
    }

    // retention expiry: drop export partitions strictly below the
    // cutoff key; returns one row per dropped partition. Execution-
    // time like the other maintenance TVFs — this one DELETES DATA, so
    // analysis-time execution (the pre-r16 convention) was the worst
    // of the footguns: an EXPLAIN would expire partitions.
    regDeferred("retention_drop",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("dropped_partition",
          org.apache.spark.sql.types.StringType)))) { es =>
      argc("retention_drop", es, 2)
      val dir = str("retention_drop", es(0), "export lake dir")
      val cutoff = str("retention_drop", es(1), "cutoff partition key")
      () => graft.streaming.Exporter.dropPartitionsOlderThan(spark, dir, cutoff)
        .map(Seq(_))
    }

    // per-partition column stats from manifest metadata alone (no data
    // scan): ('<lake dir>', '<column>') — the zone maps as a TABLE
    reg("lake_col_stats") { es =>
      argc("lake_col_stats", es, 2)
      graft.sources.VersionedLake.columnStats(spark,
        str("lake_col_stats", es(0), "lake directory"),
        str("lake_col_stats", es(1), "column"))
    }
    // ANN index drift signal: per-cell population from manifest
    // metadata alone — ('<ann lake dir>')
    reg("ann_cell_stats") { es =>
      argc("ann_cell_stats", es, 1)
      graft.sources.AnnLake.cellStats(spark,
        str("ann_cell_stats", es(0), "ann lake dir"))
    }
    // the whole blue/green ANN rotation (reindex → cutover) as ONE
    // deferred maintenance statement — ('<live lake dir>',
    // '<green dir>', nlist, dim[, iters]); the receipt is the pinned
    // source version, the replayed tail length, and the green path.
    // Deliberately no retire argument: retiring is only safe once
    // pre-swap writers have drained (AnnLake.rotate documents it), so
    // SQL callers retire on a LATER tick, not inside the rotation.
    regDeferred("ann_rotate",
      StructType(Seq(StructField("old_version", LongType),
        StructField("replayed_versions", LongType),
        StructField("green_dir", StringType)))) { es =>
      if (es.length < 4 || es.length > 5)
        fail("ann_rotate", s"expects 4 or 5 arguments, got ${es.length}")
      val dir = str("ann_rotate", es(0), "live ann lake dir")
      val green = str("ann_rotate", es(1), "green (rebuild target) dir")
      val nlist = int("ann_rotate", es(2), "nlist")
      val dim = int("ann_rotate", es(3), "dim")
      val iters = es.lift(4).map(int("ann_rotate", _, "iters")).getOrElse(4)
      () => {
        val (oldV, replayed, greenDir) = graft.sources.AnnLake.rotate(
          spark, dir, green, nlist, dim, iters)
        Seq(Seq(oldV, replayed, greenDir))
      }
    }
    // the PQ twin: retrain IVF centroids AND PQ codebooks on the
    // index's current membership, re-encode, cutover — ('<live dir>',
    // '<green dir>', '<corpus table>', '<id col>', '<vec col>', nlist,
    // m, ksub, dim). The corpus table is the cold vector store (codes
    // are lossy — nothing can be re-encoded from the lake alone); same
    // retire-later receipt discipline as ann_rotate.
    regDeferred("ann_pq_rotate",
      StructType(Seq(StructField("old_version", LongType),
        StructField("replayed_versions", LongType),
        StructField("green_dir", StringType)))) { es =>
      argc("ann_pq_rotate", es, 9)
      val dir = str("ann_pq_rotate", es(0), "live PQ lake dir")
      val green = str("ann_pq_rotate", es(1), "green (rebuild target) dir")
      val corpus = table("ann_pq_rotate", es(2))
      val idc = str("ann_pq_rotate", es(3), "corpus id column")
      val vecc = str("ann_pq_rotate", es(4), "corpus vector column")
      val nlist = int("ann_pq_rotate", es(5), "nlist")
      val m = int("ann_pq_rotate", es(6), "pq m")
      val ksub = int("ann_pq_rotate", es(7), "pq ksub")
      val dim = int("ann_pq_rotate", es(8), "dim")
      () => {
        val (oldV, replayed, greenDir) = graft.sources.AnnLake.rotatePq(
          spark, dir, green, corpus, idc, vecc, nlist, m, ksub, dim)
        Seq(Seq(oldV, replayed, greenDir))
      }
    }
    out.toList
  }
}

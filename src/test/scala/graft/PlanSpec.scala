package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Physical-plan audits: the properties the 100 TB design depends on,
  * pinned as assertions so a regression in plan shape fails CI, not
  * a production cluster. Checked against the registered queries
  * themselves (sf0.001 — plan shape is scale-independent).
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df: DataFrame = Registry.byName(name).fn(spark, sf("sf0.001"))
    df.queryExecution.executedPlan.toString
  }

  test("filters reach the parquet scan (predicate pushdown)") {
    val p = plan("p_scan_scalar")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("IsNotNull(l_shipdate)") || p.contains("GreaterThanOrEqual(l_shipdate"), p)
  }

  test("scans are column-pruned to the referenced columns") {
    val p = plan("q1_pricing_summary")
    // lineitem has 16 columns; the scan must read only the 7 used
    val readSchema = "ReadSchema: struct<" + p.split("ReadSchema: struct<")(1).split(">")(0)
    assert(!readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"), readSchema)
  }

  test("dimension joins broadcast; the fact table is never the build side") {
    val p = plan("j_orders_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    // whatever broadcasts, it must not be the fact table (orders): at
    // test scale Catalyst may legitimately broadcast customer too
    // (under threshold); at cluster scale statistics push that join to
    // shuffle. The invariant that holds at EVERY scale is fact-side.
    assert(!p.split("BroadcastExchange").drop(1).exists(_.contains("orders.parquet")), p)
  }

  test("top-k plans TakeOrderedAndProject, not a global sort") {
    val p = plan("o_topk_values")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("priority sampling takes its top-(k+1) without shuffling the corpus") {
    val df = graft.operators.Curation.prioritySample(
      Tables.documents(spark, sf("sf0.001")), "doc_id", "n_chars", 100)
    val p = df.queryExecution.executedPlan.toString
    // per-partition heads merged on the driver; everything after the
    // take runs on k+1 rows — NO hash exchange anywhere in the plan
    // (the tau side joins back via broadcast over the persisted take)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange hashpartitioning"),
      s"priority sampling shuffles the corpus:\n$p")
    CacheRegistry.clearAll()
  }

  test("flagship runs on a bounded number of shuffles") {
    val p = plan("t9_flagship")
    // one hash exchange by key feeds the grid walk; the presentation
    // sort's range exchange is the only other shuffle
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"flagship now has $exchanges hash exchanges:\n$p")
    assert("\\bWindow\\b".r.findFirstIn(p).isEmpty, s"flagship plans a Window node:\n$p")
  }

  /** What one build of a gate yields for the whole-registry audits. */
  private final case class Audit(cartesian: Boolean, embeddedSorts: Seq[String],
      optimized: String, canon: String)

  /** A fresh suite session: nothing any gate or test set on `spark`. */
  private def fresh() = { val s = spark.newSession(); GraftSession.install(s); s }

  /** Global sorts below the root presentation sort and outside top-k
    * (see "global sorts live at the gate edge only"). */
  private def violations(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      edgeOk: Boolean, limitOk: Boolean): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, Project, Sort}
    p match {
      case s: Sort if s.global =>
        val bad = if (edgeOk || limitOk) Seq.empty else Seq(s.simpleString(200))
        bad ++ violations(s.child, edgeOk = false, limitOk = false)
      case pr: Project =>
        // projections are transparent: a root Project over a Sort is
        // still the edge; a Limit>Project>Sort chain is still top-k
        violations(pr.child, edgeOk, limitOk)
      case l @ (_: GlobalLimit | _: LocalLimit) =>
        l.children.flatMap(violations(_, edgeOk = false, limitOk = true))
      case other =>
        other.children.flatMap(violations(_, edgeOk = false, limitOk = false))
    }
  }

  /** Build `q` on `s` once and read every audit off that one DataFrame.
    * The canonical form blanks what a build numbers afresh — expression
    * and lambda-variable ids, object identities, codegen-stage and
    * exchange ids inside cached plans — and compares lines of the
    * distinct-aggregate rewrite (gid), whose columns Spark orders by
    * hash, as character multisets. A scan's file list is not in the
    * plan text, so each file relation's file count is appended, and so
    * are the engine rules and strategies the plan was made with. */
  private def audit(q: QDef, s: org.apache.spark.sql.SparkSession, executed: Boolean): Audit = try {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val df = q.fn(s, sf("sf0.001"))
    val (rules, strategies, _, _) =
      org.apache.spark.sql.GraftTestShim.sessionEngine(df.sparkSession)
    val plan = df.queryExecution.optimizedPlan
    val files = plan.collect { case r: LogicalRelation => r.relation }
      .collect { case h: HadoopFsRelation => h.location.inputFiles.length }
    val canon = plan.toString
      .replaceAll("#\\d+", "#")
      .replaceAll("lambda ([a-z]+)_\\d+", "lambda $1_")
      .replaceAll("@[0-9a-f]+", "@")
      .replaceAll("\\*\\(\\d+\\)", "*")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .split("\n").map(l => if (l.contains("gid#")) l.sorted else l)
      .mkString("", "\n", files.mkString("\nfiles: ", ",", "")) +
      (rules.toSeq.sorted ++ strategies.toSeq.sorted).mkString("\nengine: ", ",", "")
    Audit(
      cartesian = executed && df.queryExecution.executedPlan.toString.contains("CartesianProduct"),
      embeddedSorts = violations(plan, edgeOk = true, limitOk = false),
      optimized = plan.toString, canon = canon)
  } finally CacheRegistry.clearAll()

  /** Every gate built ONCE, alone: each on its own fresh suite session,
    * before the suite pass of the order spec. The cartesian, global-sort
    * and order audits all read this one pass over the registry. */
  private lazy val alone: Map[String, Audit] =
    Registry.all.map(q => q.name -> audit(q, fresh(), executed = true)).toMap

  test("registered queries avoid cartesian products") {
    Registry.all.foreach { q =>
      assert(!alone(q.name).cartesian, s"${q.name} plans a CartesianProduct")
    }
  }

  test("every gate plans the same alone as after the whole suite") {
    // Alone: the shared pass above. After: every gate built on ONE
    // session, then each built again and compared. A gate that installs
    // or sets anything on the session it is handed (rules, functions,
    // confs, a clock) makes a later gate's plan depend on run order;
    // the canonical optimized plans differ.
    val suite = fresh()
    Registry.all.foreach(q => try q.fn(suite, sf("sf0.001")).queryExecution.optimizedPlan
      finally CacheRegistry.clearAll())
    val moved = Registry.all.collect {
      case q if audit(q, suite, executed = false).canon != alone(q.name).canon => q.name
    }
    assert(moved.isEmpty, s"plan differently after the suite: ${moved.mkString(", ")}")
  }

  test("the cluster extension and the live install give a session the same engine") {
    import org.apache.spark.sql.GraftTestShim.{extensionEngine, sessionEngine}
    val cluster = extensionEngine(spark, "graft.plans.GraftExtensions")
    val live = { val s = spark.newSession(); GraftSession.install(s); sessionEngine(s) }
    assert(cluster == live)
    val (rules, strategies, fns, tvfs) = live
    assert(rules.size == 3 && strategies.size == 1, live)
    assert(Set("ago", "ts_now", "create_time_series", "vec_dot").subsetOf(fns))
    assert(Set("ann_recall", "time_travel", "lake_compact").subsetOf(tvfs))
  }

  test("range join is a binned equi-join — hash join on (key, bin), no nested loop") {
    val p = plan("j_range_incidents")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(p.contains("_bin"), p) // the containment filter rides an equi-join on bins
  }

  test("near-dup cluster output sizes clusters with a hash agg, not a window") {
    // a count-over-window on cluster_id would put a whole cluster in
    // one task's sort buffer (fatal on a mega-cluster corpus); the
    // operator must size via groupBy + join. The gate's plan may window
    // elsewhere (pair generation) but never partitioned by cluster_id.
    val p = plan("d_neardup_clusters")
    assert(!p.split("Window").drop(1).exists(_.take(200).contains("cluster_id")),
      s"cluster sizing went through a window:\n$p")
  }

  test("as-of join is union + one key window — no join operator at all") {
    val p = plan("j_asof_latest")
    assert(!p.contains("Join"), p)
    // one exchange for the right side's (user, ts) pre-reduce, one for
    // the as-of window itself; a range-join formulation would add a
    // candidate-pair explosion here
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2, s"as-of now has $exchanges hash exchanges:\n$p")
  }

  test("trailing window is one key shuffle, RANGE frame, no join") {
    val p = plan("t10_trailing_window")
    assert(!p.contains("Join"), p)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"trailing window has $exchanges hash exchanges:\n$p")
    assert(p.contains("specifiedwindowframe(RangeFrame"), p)
  }

  test("anomaly z-score fuses its three frame aggregates into one Window, one key shuffle") {
    val p = plan("t15_anomaly_zscore")
    assert(!p.contains("Join"), p)
    // count/sum/sumsq share one window spec -> ONE Window node (plus
    // nothing else); a second Window would mean a re-sort per aggregate
    val windows = "\\bWindow\\b".r.findAllIn(p).size
    assert(windows == 1, s"expected 1 Window node, got $windows:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"z-score has $exchanges hash exchanges:\n$p")
    assert(p.contains("specifiedwindowframe(RangeFrame"), p)
  }

  test("decontaminate: gram build is shuffle-free — the only hash exchange is the final aggregate") {
    val p = plan("x_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    // WordShingles emits per-doc-distinct grams in the row itself, so
    // neither side pays a dropDuplicates exchange; what remains is the
    // final aggregate's two-phase multi-count-distinct (Catalyst's
    // expand rewrite — 2 hash exchanges, its floor for two DISTINCT
    // aggregates). 4 would mean the gram-build shuffles came back.
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 2, s"decontaminate has $exchanges hash exchanges:\n$p")
  }

  test("contamination scoring marks hits via one broadcast join, no duplicated gram build") {
    val p = plan("x_contamination_score")
    // the benchmark gram set is the small side at corpus scale
    assert(p.contains("BroadcastHashJoin"), p)
    // one pass over the train gram table: the explode appears ONCE per
    // input side (train + bench = 2), not twice for train
    val explodes = "Generate explode".r.findAllIn(p).size
    assert(explodes == 2, s"expected 2 explodes (train+bench), got $explodes:\n$p")
  }

  test("bucketed join reads co-located buckets — zero shuffle before the join") {
    val p = plan("j_bucketed_join")
    assert(p.contains("SortMergeJoin"), p)
    // the only hash exchange allowed is the post-join groupBy; the
    // join inputs come straight from bucketed scans
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 1, s"bucketed join has $exchanges hash exchanges:\n$p")
    assert(p.contains("Bucketed: true"), p)
  }

  test("CEP batch emulation is two window passes, no join") {
    val p = plan("c1_cep_error_sandwich")
    assert(!p.contains("Join"), p)
  }

  test("shard packing windows are bucket-partitioned; offsets broadcast") {
    val p = plan("x_pack_shards")
    // the corpus-scale running sum must be PARTITIONed BY bucket — a
    // global Window.orderBy would serialize 100 TB through one task
    assert(p.contains("windowspecdefinition(bucket"), p)
    // the 256-row bucket-offset side joins back as a broadcast
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("HLL registers aggregate with map-side partial max — the sketch's scale property") {
    // partial_max on (group, bucket) BEFORE the exchange: the shuffle
    // carries ≤ groups × m rows however large the input — remove the
    // partial aggregation and the sketch degrades to shuffling raw keys
    assert(plan("k_hll_users").contains("partial_max"))
    // The SKETCH path never ships a raw key across a shuffle (the
    // registered gate also carries the exact count(distinct) leg as a
    // calibration column, which legitimately does — at scale that leg
    // is dropped, so pin the property on the sketch path itself).
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf("sf0.001"))
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    val regs = graft.operators.Sketch
      .hllRegisters(ev, col("user_id").cast("string"), Seq("day"), p = 5)
    val rp = regs.queryExecution.executedPlan.toString
    assert(rp.contains("partial_max"), rp)
    // the one exchange partitions on (day, bucket) — raw keys are
    // consumed map-side and never cross the wire
    assert("Exchange hashpartitioning\\(day#\\d+, b#\\d+".r.findFirstIn(rp).isDefined, rp)
    assert("Exchange hashpartitioning\\([^)]*user_id".r.findFirstIn(rp).isEmpty, rp)
  }

  test("heavy hitters: Misra-Gries pass feeds an equi-join, no full-vocabulary topk shuffle") {
    val p = plan("k_heavy_ngrams")
    assert(p.contains("MapPartitions"), p) // the bounded-memory candidate pass
    assert(p.contains("TakeOrderedAndProject"), p) // top-k, not a global sort
  }

  test("export-lake reads prune to the requested partition directory") {
    // the reason the export lake partitions by key at all: a one-window
    // read must scan ONE directory, not the whole lake
    val dir = sf("sf0.001")
    val q = Registry.byName("c6_incremental_export")
    q.fn(spark, dir) // materializes the lake fixture on first call
    val lake = queries.Fixtures.dir("export_lake", dir)(_ => fail("fixture missing"))
    val pruned = graft.streaming.Exporter.readExport(spark, lake)
      .filter(col("partition_key") === "2024-01-08T00-00")
    val p = pruned.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*partition_key".r.findFirstIn(p).isDefined, p)
    assert(pruned.count() > 0)
  }

  test("Q3 pushes date cutoffs to BOTH scans and plans top-k, not a global sort") {
    val p = plan("q3_shipping_priority")
    assert(p.contains("TakeOrderedAndProject"), p)
    // each side's date predicate reaches its own parquet scan
    assert("PushedFilters: \\[[^\\]]*o_orderdate".r.findFirstIn(p).isDefined, p)
    assert("PushedFilters: \\[[^\\]]*l_shipdate".r.findFirstIn(p).isDefined, p)
  }

  test("Q5's six-table star join broadcasts every dimension; the fact table never does") {
    val p = plan("q5_local_supplier")
    assert(p.contains("BroadcastHashJoin"), p)
    // lineitem (the fact) must never be a broadcast build side
    assert(!p.split("BroadcastExchange").drop(1).exists(_.contains("lineitem.parquet")), p)
    // the date filter reaches the orders scan
    assert("PushedFilters: \\[[^\\]]*o_orderdate".r.findFirstIn(p).isDefined, p)
  }

  test("gap detection is a hash LEFT ANTI join of (key, bin) pairs — no payloads, no BNLJ") {
    val p = plan("t14_gap_detection")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("CountMin builds through a map-side partial count — d×w-bounded shuffle") {
    val p = plan("k_cm_freq")
    assert(p.contains("partial_count") || p.contains("Partial"), p)
    // the counter aggregate must hash-aggregate, never sort-aggregate
    assert(p.contains("HashAggregate"), p)
  }

  test("global sorts live at the gate edge only — operators return unsorted rows") {
    // A total ORDER BY is presentation, not semantics: embedded in an
    // operator it is a full-dataset range exchange every consumer pays
    // whether or not they want order (fatal on input-sized outputs at
    // 100 TB). The contract: operators return unsorted; the oracle
    // gates sort once, at the edge. Audited at the optimized LOGICAL
    // level so the local SortExecs that EnsureRequirements inserts for
    // SMJ/window never false-positive. Allowed global sorts: the root
    // presentation sort (possibly under column-pruning Projects) and
    // top-k Sort-under-Limit (which executes as TakeOrderedAndProject).
    Registry.all.foreach { q =>
      val a = alone(q.name)
      assert(a.embeddedSorts.isEmpty,
        s"${q.name} embeds ${a.embeddedSorts.size} non-edge global sort(s):\n${a.optimized}")
    }
  }

  test("semi/anti/outer TPC-H shapes plan hash joins — no BNLJ, no row duplication") {
    // Q4: EXISTS decorrelates to LeftSemi (an inner join would
    // duplicate an order per matching line before the distinct)
    val q4 = plan("q4_priority_returns")
    assert(q4.contains("LeftSemi"), q4)
    // Q21: both nested EXISTS / NOT EXISTS are hash joins, and the
    // top-20 is TakeOrderedAndProject, not a global sort
    val q21 = plan("q21_sole_returner")
    assert(q21.contains("LeftSemi") && q21.contains("LeftAnti"), q21)
    assert(q21.contains("TakeOrderedAndProject"), q21)
    assert(!q21.contains("BroadcastNestedLoopJoin") && !q21.contains("CartesianProduct"), q21)
    // Q22: the NOT EXISTS is a hash LeftAnti and its date filter is
    // pushed to the orders scan (the anti side never scans all years)
    val q22 = plan("q22_idle_rich")
    assert(q22.contains("LeftAnti"), q22)
    assert("PushedFilters: \\[[^\\]]*o_orderdate".r.findFirstIn(q22).isDefined, q22)
    // Q13: the zero-order customers survive, so the join must be outer
    val q13 = plan("q13_order_distribution")
    assert(q13.contains("LeftOuter"), q13)
    // Q19: the OR-of-ANDs predicate rides an equi join on partkey
    val q19 = plan("q19_discounted_bands")
    assert(!q19.contains("BroadcastNestedLoopJoin") && !q19.contains("CartesianProduct"), q19)
    // Q14: the raw fact table (lineitem) is never a broadcast side
    val q14 = plan("q14_promo_revenue")
    assert(!q14.split("BroadcastExchange").drop(1)
      .exists(_.takeWhile(_ != '\n').contains("lineitem.parquet")), q14)
    // Q15: the 1-row global max and the supplier dim both broadcast
    // (an aggregate OF the fact table is the legitimate broadcast side)
    val q15 = plan("q15_top_supplier")
    assert("BroadcastHashJoin".r.findAllIn(q15).size >= 2, q15)
    // Q7/Q8: the dimension hops (supplier+nation, customer+nation /
    // part) all broadcast — at least two broadcast joins per star and
    // no nested-loop fallback anywhere
    Seq(plan("q7_volume_shipping"), plan("q8_market_share")).foreach { p =>
      assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    }
  }

  test("window suite runs on one key shuffle shared by all window functions") {
    val p = plan("w_window_suite")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"window suite has $exchanges hash exchanges:\n$p")
  }

  test("batch BM25: corpus-sized shuffle count is independent of query count") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    def planFor(nq: Int): String = {
      val queries = docs.filter(col("doc_id") % (500 / nq) === 0)
        .select(col("doc_id").as("query_id"),
          org.apache.spark.sql.functions.array_join(
            org.apache.spark.sql.functions.slice(
              org.apache.spark.sql.functions.split(col("text"), " "), 1, 5), " ")
            .as("qtext"))
      graft.operators.TextSearch.bm25TopKBatch(
        docs, "doc_id", "text", queries, "query_id", "qtext", k = 5)
        .queryExecution.executedPlan.toString
    }
    val small = planFor(10)
    val large = planFor(100)
    // the query table rides broadcast joins; the corpus-sized tf
    // aggregate is the same shuffle either way, so the hash-exchange
    // census must not grow with query count
    def exchanges(p: String) = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges(small) == exchanges(large),
      s"query count changed the shuffle census:\n$small\n---\n$large")
    assert(small.contains("BroadcastHashJoin"), small)
  }

  test("markup extraction is a pure projection — zero exchanges, no join") {
    val df = Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id"),
        graft.operators.Markup.extractText(col("text")).as("e"))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"markup extraction shuffles:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("learned-quality scoring: model rides broadcast, one per-doc aggregate") {
    import org.apache.spark.sql.functions.lit
    val docs = Tables.documents(spark, sf("sf0.001"))
    val model = graft.operators.LearnedQuality.train(
      docs, "doc_id", "text", col("doc_id") % 2 === 0, buckets = 64)
    val p = graft.operators.LearnedQuality.score(model, docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    // the bucket-bounded model must never be the stream side
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("lake batch BM25: query tables ride broadcast, postings scan is partition-pruned") {
    val p = plan("x_bm25_lake_batch")
    // the term/query/df sides are all broadcast against the pruned
    // postings read — a sort-merge join here would shuffle the
    // postings once per join
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // (the pruned-file-set I/O contract is pinned in PostingsLakeSpec
    // via prunedInputFiles — plan text doesn't expose the file list)
  }

  test("phrase search: one broadcast of the phrase table, no self-join of the token stream") {
    val p = plan("x_phrase_search")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // exactly ONE join: the token-vs-phrase-table vote — adjacency is
    // aggregation, not a per-offset positional self-join cascade
    assert("BroadcastHashJoin".r.findAllIn(p).size == 1, p)
    val pl = plan("x_phrase_lake")
    assert("BroadcastHashJoin".r.findAllIn(pl).size == 1, pl)
    assert(!pl.contains("SortMergeJoin") && !pl.contains("CartesianProduct"), pl)
  }

  test("batch phrase search: phrase table rides broadcast, token stream never self-joins") {
    val p = plan("x_phrase_lake_batch")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // contiguity is aggregation over anchor votes, never a positional
    // self-join cascade: no sort-merge join of the postings with
    // themselves anywhere in the plan
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("index-backed decontamination: gram equi-joins only, no pairwise doc scan") {
    val p = plan("x_decontaminate_incr")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val ps = plan("x_contamination_score_incr")
    assert(!ps.contains("CartesianProduct") && !ps.contains("BroadcastNestedLoopJoin"), ps)
  }

  test("lake hybrid: both arms fuse without a cartesian; only the 1-row stats crossJoin") {
    val p = plan("x_hybrid_lake")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop broadcasts allowed are the BOUNDED products
    // both arms document: the lexical arm's 1-row corpus-stats
    // crossJoin and the vector arm's query×nlist centroid probes —
    // never a corpus-sized side
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 3, p)
  }

  test("zone-map prune rule: a range WHERE over a lake scan skips files from the manifest") {
    import spark.implicits._
    import graft.sources.VersionedLake
    val dir = java.nio.file.Files.createTempDirectory("graft_zmp").toString + "/lake"
    // three commits with DISJOINT value ranges → three files whose zone
    // maps can prove exclusion for a mid-range predicate
    VersionedLake.create((0 until 10).map(i => (i.toLong, "p0")).toDF("v", "part"),
      dir, "part")
    VersionedLake.append((10 until 20).map(i => (i.toLong, "p0")).toDF("v", "part"),
      dir, "part")
    VersionedLake.append((20 until 30).map(i => (i.toLong, "p0")).toDF("v", "part"),
      dir, "part")
    def scannedFiles(df: DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.inputFiles.toSeq
      }.flatten
    val all = VersionedLake.read(spark, dir).inputFiles.length
    assert(all >= 3)
    val q = VersionedLake.read(spark, dir)
      .filter(col("v") >= 12 && col("v") <= 17)
    assert(q.collect().map(_.getLong(0)).toSet == (12L to 17L).toSet,
      "pruning must not change the rows")
    val pruned = scannedFiles(q)
    assert(pruned.nonEmpty && pruned.length < all,
      s"expected manifest file skipping: ${pruned.length} vs $all")
    // the same predicate through SQL TEXT over the time_travel TVF
    val v = VersionedLake.currentVersion(dir)
    val qSql = spark.sql(
      s"SELECT * FROM time_travel('$dir', $v) WHERE v BETWEEN 12 AND 17")
    assert(qSql.collect().map(_.getLong(0)).toSet == (12L to 17L).toSet)
    assert(scannedFiles(qSql).length < all, "SQL range must prune too")
    // TIMESTAMP predicates fold through the manifest's epoch-micros
    // encoding — the time-keyed-lake shape this rule exists for
    val tdir = java.nio.file.Files.createTempDirectory("graft_zmpts").toString + "/lake"
    def tsRows(d0: Int, d1: Int) = (d0 until d1)
      .map(i => (i.toLong, f"2024-01-$i%02d 00:00:00", "p0"))
      .toDF("v", "s", "part")
      .select(col("v"), org.apache.spark.sql.functions.to_timestamp(col("s")).as("ts"),
        col("part"))
    VersionedLake.create(tsRows(1, 10), tdir, "part")
    VersionedLake.append(tsRows(10, 20), tdir, "part")
    VersionedLake.append(tsRows(20, 28), tdir, "part")
    val tAll = VersionedLake.read(spark, tdir).inputFiles.length
    val tq = VersionedLake.read(spark, tdir)
      .filter(col("ts") >= org.apache.spark.sql.functions.lit("2024-01-12").cast("timestamp") &&
        col("ts") < org.apache.spark.sql.functions.lit("2024-01-15").cast("timestamp"))
    assert(tq.collect().map(_.getLong(0)).toSet == Set(12L, 13L, 14L))
    assert(scannedFiles(tq).length < tAll,
      s"timestamp range must prune: ${scannedFiles(tq).length} vs $tAll")
    // IN-lists fold to their [min, max] envelope
    val inQ = VersionedLake.read(spark, dir).filter(col("v").isin(13, 14, 16))
    assert(inQ.collect().map(_.getLong(0)).toSet == Set(13L, 14L, 16L))
    assert(scannedFiles(inQ).length < all,
      s"IN-list envelope must prune: ${scannedFiles(inQ).length} vs $all")
  }

  test("count-from-manifest: bare COUNT(*) and null-sensitive count(col) plan NO scan; filters and legacy lakes keep it") {
    import spark.implicits._
    import graft.sources.VersionedLake
    val dir = java.nio.file.Files.createTempDirectory("graft_cmeta").toString + "/lake"
    VersionedLake.create((0 until 25).map(i =>
      (i.toLong, if (i % 5 == 0) null else s"n$i", s"p${i % 3}"))
      .toDF("v", "name", "part"), dir, "part")
    VersionedLake.append((25 until 40).map(i => (i.toLong, s"n$i", s"p${i % 3}"))
      .toDF("v", "name", "part"), dir, "part")
    def hasScan(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains("FileScan")
    val bare = VersionedLake.read(spark, dir).groupBy().count()
    assert(!hasScan(bare), bare.queryExecution.executedPlan.toString)
    assert(bare.head().getLong(0) == 40L)
    // a PARTITION-pruned read still answers from its files' entries
    val pruned = VersionedLake.read(spark, dir, None, partitions = Some(Seq("p0")))
      .groupBy().count()
    assert(!hasScan(pruned))
    assert(pruned.head().getLong(0) == 14L)
    // filters must scan (the count depends on rows, not files)
    val filtered = VersionedLake.read(spark, dir).filter(col("v") >= 10)
      .groupBy().count()
    assert(hasScan(filtered))
    assert(filtered.head().getLong(0) == 30L)
    // count(col) is null-sensitive — answered from the recorded
    // per-file null counts, scan-free and exact
    val nullSensitive = VersionedLake.read(spark, dir)
      .agg(org.apache.spark.sql.functions.count(col("name")))
    assert(!hasScan(nullSensitive),
      nullSensitive.queryExecution.executedPlan.toString)
    assert(nullSensitive.head().getLong(0) == 35L)
    // ...but a column added by a later append has no null count in
    // the files written before it (their rows read it as null), so
    // count(col) over it must scan
    val addDir = java.nio.file.Files.createTempDirectory("graft_cmadd").toString + "/lake"
    VersionedLake.create((0 until 10).map(i => (i.toLong, "p0")).toDF("v", "part"),
      addDir, "part")
    VersionedLake.append((10 until 20).map(i =>
      (i.toLong, if (i % 2 == 0) null else s"n$i", "p0"))
      .toDF("v", "name", "part"), addDir, "part")
    val addCount = VersionedLake.read(spark, addDir)
      .agg(org.apache.spark.sql.functions.count(col("name")))
    assert(hasScan(addCount) && addCount.head().getLong(0) == 5L)
    // SQL text through time_travel takes the same metadata path
    val sqlCount = spark.sql(s"SELECT count(*) AS n FROM time_travel('$dir', 2)")
    assert(!hasScan(sqlCount) && sqlCount.head().getLong(0) == 40L)
  }

  test("bloom point prune: equality over a Bloom-indexed lake skips files the envelopes cannot") {
    import spark.implicits._
    import graft.sources.VersionedLake
    val dir = java.nio.file.Files.createTempDirectory("graft_zmbloom").toString + "/lake"
    // ids INTERLEAVED across three single-file commits: every file's
    // numeric envelope spans ~[0, 60], so a point predicate gets
    // nothing from zone maps — only the per-file Blooms can prove a
    // file out
    def rows(res: Int) = (0 until 20).map(i =>
      (3L * i + res, s"n${3 * i + res}", "p0")).toDF("id", "name", "part")
    VersionedLake.create(rows(0).coalesce(1), dir, "part",
      blooms = Seq(VersionedLake.BloomSpec("id"), VersionedLake.BloomSpec("name")))
    VersionedLake.append(rows(1).coalesce(1), dir, "part")
    VersionedLake.append(rows(2).coalesce(1), dir, "part")
    def scannedFiles(df: DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.inputFiles.toSeq
      }.flatten
    val all = VersionedLake.read(spark, dir).inputFiles.length
    assert(all == 3)
    // integral equality: one residue class → one file
    val eq = VersionedLake.read(spark, dir).filter(col("id") === 31L)
    assert(eq.count() == 1 && scannedFiles(eq).length == 1)
    // string-column Bloom prunes too
    val sEq = VersionedLake.read(spark, dir).filter(col("name") === "n32")
    assert(sEq.count() == 1 && scannedFiles(sEq).length <= 2,
      "name Bloom must skip at least one residue file")
    // per-value IN: two residues → two files
    val in = VersionedLake.read(spark, dir).filter(col("id").isin(30L, 31L))
    assert(in.count() == 2 && scannedFiles(in).length == 2)
    // a key NO file holds scans nothing at all... except conservatism:
    // the strictly-shrinking guard still allows the empty file set
    val miss = VersionedLake.read(spark, dir).filter(col("id") === 999999L)
    assert(miss.count() == 0 && scannedFiles(miss).isEmpty)
    // NULL-count pruning: an all-null file and a no-null file — the
    // recorded per-file null counts decide IS [NOT] NULL exactly
    val ndir = java.nio.file.Files.createTempDirectory("graft_zmnull").toString + "/lake"
    VersionedLake.create((0 until 10).map(i =>
      (i.toLong, null.asInstanceOf[String], "p0")).toDF("id", "tag", "part")
      .coalesce(1), ndir, "part")
    VersionedLake.append((10 until 20).map(i =>
      (i.toLong, s"t$i", "p0")).toDF("id", "tag", "part").coalesce(1),
      ndir, "part")
    val isNull = VersionedLake.read(spark, ndir).filter(col("tag").isNull)
    assert(isNull.count() == 10 && scannedFiles(isNull).length == 1,
      "IS NULL must skip the fully-populated file")
    val notNull = VersionedLake.read(spark, ndir).filter(col("tag").isNotNull)
    assert(notNull.count() == 10 && scannedFiles(notNull).length == 1,
      "IS NOT NULL must skip the all-null file")
    // Catalyst injects IsNotNull beside equalities: the all-null file
    // drops from an equality query through the same leaf
    val eq2 = VersionedLake.read(spark, ndir).filter(col("tag") === "t15")
    assert(eq2.count() == 1 && scannedFiles(eq2).length == 1)
  }

  test("path fallback never splices a scan whose inferred types disagree with the recorded schema") {
    import spark.implicits._
    import graft.sources.VersionedLake
    // a pack-lake shape: STRING partition values that LOOK numeric, so
    // a raw (unregistered) read of the data tree infers block as INT
    // while the recorded schema says STRING — the path fallback makes
    // the rule consider this scan, and the type guard must refuse the
    // rewrite instead of aliasing INT attributes over STRING values
    val dir = java.nio.file.Files.createTempDirectory("graft_zmtype").toString + "/lake"
    VersionedLake.create((0 until 10).map(i => (i.toLong, (i / 5).toString))
      .toDF("v", "block").coalesce(1), dir, "block")
    VersionedLake.append((10 until 20).map(i => (i.toLong, (i / 5).toString))
      .toDF("v", "block").coalesce(1), dir, "block")
    val raw = spark.read.parquet(s"$dir/data").filter(col("v") >= 12)
    // must not throw and must return exactly the right rows
    assert(raw.collect().map(_.getLong(0)).toSet == (12L until 20L).toSet)
    // the REGISTERED read of the same lake still prunes normally
    val reg = VersionedLake.read(spark, dir).filter(col("v") >= 12)
    assert(reg.collect().map(_.getLong(0)).toSet == (12L until 20L).toSet)
    val scanned = reg.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.inputFiles.toSeq
    }.flatten
    assert(scanned.length < VersionedLake.read(spark, dir).inputFiles.length)
  }

  test("minmax-from-manifest: unfiltered MIN/MAX over a lake plans NO scan; filters, strings, NaN keep it") {
    import spark.implicits._
    import graft.sources.VersionedLake
    val dir = java.nio.file.Files.createTempDirectory("graft_mmeta").toString + "/lake"
    VersionedLake.create((0 until 25).map(i =>
      (i.toLong, i * 1.5, s"n$i", s"p${i % 3}"))
      .toDF("v", "d", "name", "part"), dir, "part")
    VersionedLake.append((25 until 40).map(i =>
      (i.toLong, i * 1.5, s"n$i", s"p${i % 3}"))
      .toDF("v", "d", "name", "part"), dir, "part")
    def hasScan(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains("FileScan")
    import org.apache.spark.sql.functions.{count => fcount, max => fmax, min => fmin}
    // long + double extrema, with a count riding along and scalar
    // arithmetic AROUND the aggregates — all folded from the manifest
    val bare = VersionedLake.read(spark, dir)
      .agg(fmin(col("v")).as("mn"), fmax(col("v")).as("mx"),
        (fmax(col("d")) * 2).as("dx"), fcount(org.apache.spark.sql.functions.lit(1)).as("n"))
    assert(!hasScan(bare), bare.queryExecution.executedPlan.toString)
    assert(bare.head() == org.apache.spark.sql.Row(0L, 39L, 117.0, 40L))
    // a PARTITION-pruned read folds only its files' stats
    val pruned = VersionedLake.read(spark, dir, None, partitions = Some(Seq("p1")))
      .agg(fmin(col("v")), fmax(col("v")))
    assert(!hasScan(pruned))
    assert(pruned.head() == org.apache.spark.sql.Row(1L, 37L))
    // filters must scan (extrema depend on rows, not files)
    val filtered = VersionedLake.read(spark, dir).filter(col("v") >= 10)
      .agg(fmin(col("v")))
    assert(hasScan(filtered) && filtered.head().getLong(0) == 10L)
    // strings never fold: recorded stats are truncated BOUNDS
    val str = VersionedLake.read(spark, dir).agg(fmax(col("name")))
    assert(hasScan(str) && str.head().getString(0) == "n9")
    // a NaN-bearing double commit records no stats → the scan stays
    // and NaN-greatest max semantics hold
    val ndir = java.nio.file.Files.createTempDirectory("graft_mmnan").toString + "/lake"
    VersionedLake.create(Seq((1.0, "p0"), (Double.NaN, "p0")).toDF("d", "part"),
      ndir, "part")
    val nan = VersionedLake.read(spark, ndir).agg(fmax(col("d")))
    assert(hasScan(nan) && nan.head().getDouble(0).isNaN)
    // SQL text through time_travel takes the same metadata path,
    // timestamps decode back through the epoch-micros encoding
    val sqlMm = spark.sql(
      s"SELECT min(v) AS mn, max(d) AS mx, count(*) AS n FROM time_travel('$dir', 2)")
    assert(!hasScan(sqlMm) && sqlMm.head() == org.apache.spark.sql.Row(0L, 58.5, 40L))
    val tdir = java.nio.file.Files.createTempDirectory("graft_mmts").toString + "/lake"
    VersionedLake.create(Seq(("2024-01-03 04:05:06", "p0"), ("2024-02-01 00:00:00", "p0"))
      .toDF("s", "part")
      .select(org.apache.spark.sql.functions.to_timestamp(col("s")).as("ts"), col("part")),
      tdir, "part")
    val ts = VersionedLake.read(spark, tdir)
      .agg(fmin(col("ts")).cast("string"), fmax(col("ts")).cast("string"))
    assert(!hasScan(ts))
    assert(ts.head() == org.apache.spark.sql.Row(
      "2024-01-03 04:05:06", "2024-02-01 00:00:00"))
    // a NaN stat is refused, naming the manifest: the writer records
    // none, and a NaN bound would poison max (NaN sorts greatest) and
    // silently drop the file from min
    val mf = java.nio.file.Paths.get(s"$dir/_versions/v1.manifest")
    val doctored = new String(java.nio.file.Files.readAllBytes(mf), "UTF-8")
      .replaceAll("""v:[-0-9.E]+:[-0-9.E]+""", "v:NaN:NaN")
    java.nio.file.Files.write(mf, doctored.getBytes("UTF-8"))
    val nanErr = intercept[IllegalStateException](
      VersionedLake.read(spark, dir, Some(1)).agg(fmin(col("v"))).collect())
    assert(nanErr.getMessage.contains(mf.toString) &&
      nanErr.getMessage.contains("NaN"), nanErr.getMessage)
    // far-future timestamps (epoch micros beyond 2^53) never fold —
    // the recorded double is already rounded
    val fdir = java.nio.file.Files.createTempDirectory("graft_mmfar").toString + "/lake"
    VersionedLake.create(Seq(("2024-01-01 00:00:00", "p0"), ("9999-12-31 23:59:59", "p0"))
      .toDF("s", "part")
      .select(org.apache.spark.sql.functions.to_timestamp(col("s")).as("ts"), col("part")),
      fdir, "part")
    val far = VersionedLake.read(spark, fdir)
      .agg(fmax(col("ts")).cast("string"))
    assert(hasScan(far), "micros past 2^53 must keep the scan")
    assert(far.head().getString(0) == "9999-12-31 23:59:59")
  }

  test("zone-map prune never changes rows: randomized interval sweep, rule on vs off") {
    import spark.implicits._
    import graft.sources.VersionedLake
    val dir = java.nio.file.Files.createTempDirectory("graft_zmprop").toString + "/lake"
    val rnd = new scala.util.Random(42)
    // three commits of uniformly random values: per-file intervals
    // OVERLAP, so pruning decisions are non-trivial (any bug in the
    // overlap arithmetic shows up as a missing or phantom row)
    def commit(k: Int): Unit = {
      val rows = (0 until 400).map(_ => (rnd.nextLong(1000L), s"p${rnd.nextInt(3)}"))
        .toDF("v", "part")
      if (k == 0) VersionedLake.create(rows, dir, "part")
      else VersionedLake.append(rows, dir, "part")
    }
    (0 until 3).foreach(commit)
    // the reference: the same filter applied in Scala to the lake's
    // unfiltered rows, which no planner rule can prune
    val allRows = VersionedLake.read(spark, dir).select("v", "part").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    def reference(keep: Long => Boolean): Set[Seq[Any]] =
      allRows.filter(r => keep(r._1)).groupBy(_._2).map { case (part, rs) =>
        Seq[Any](part, rs.size.toLong, rs.map(_._1).sum)
      }.toSet
    def run(lo: Long, hi: Long): Set[Seq[Any]] =
      VersionedLake.read(spark, dir)
        .filter(col("v") >= lo && col("v") <= hi)
        .groupBy(col("part")).agg(
          org.apache.spark.sql.functions.count(col("v")).as("n"),
          org.apache.spark.sql.functions.sum(col("v")).as("s"))
        .collect().map(_.toSeq).toSet
    for (_ <- 0 until 12) {
      val a = rnd.nextLong(1100L) - 50L
      val b = a + rnd.nextLong(400L)
      assert(run(a, b) == reference(v => v >= a && v <= b),
        s"rows diverged for [$a, $b]")
    }
    // OR of two random intervals: the tree evaluation must keep rows
    // identical under any branch combination
    def runOr(a1: Long, b1: Long, a2: Long, b2: Long): Set[Seq[Any]] =
      VersionedLake.read(spark, dir)
        .filter((col("v") >= a1 && col("v") <= b1) ||
          (col("v") >= a2 && col("v") <= b2))
        .groupBy(col("part")).agg(
          org.apache.spark.sql.functions.count(col("v")).as("n"),
          org.apache.spark.sql.functions.sum(col("v")).as("s"))
        .collect().map(_.toSeq).toSet
    for (_ <- 0 until 8) {
      val a1 = rnd.nextLong(1000L); val b1 = a1 + rnd.nextLong(200L)
      val a2 = rnd.nextLong(1000L); val b2 = a2 + rnd.nextLong(200L)
      assert(runOr(a1, b1, a2, b2) ==
        reference(v => (v >= a1 && v <= b1) || (v >= a2 && v <= b2)),
        s"rows diverged for [$a1,$b1] OR [$a2,$b2]")
    }
  }

  test("string zone-map prune: categorical predicates skip files from string envelopes") {
    import spark.implicits._
    import graft.sources.VersionedLake
    val dir = java.nio.file.Files.createTempDirectory("graft_zmstr").toString + "/lake"
    // three lang-disjoint single-file commits: the q_sql_zonemap_string
    // fixture shape, shrunk to pin EXACT pruned file counts
    def rows(langs: Seq[String], base: Long) = langs.zipWithIndex.flatMap {
      case (l, j) => (0 until 20).map(i => (base + j * 100 + i, l, "p0"))
    }.toDF("v", "lang", "part")
    VersionedLake.create(rows(Seq("de", "en"), 0L).coalesce(1), dir, "part")
    VersionedLake.append(rows(Seq("es", "fr"), 1000L).coalesce(1), dir, "part")
    VersionedLake.append(rows(Seq("zh"), 2000L).coalesce(1), dir, "part")
    def scannedFiles(df: DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.inputFiles.toSeq
      }.flatten
    val all = VersionedLake.read(spark, dir).inputFiles.length
    assert(all == 3)
    val eq = VersionedLake.read(spark, dir).filter(col("lang") === "en")
    assert(eq.count() == 20)
    assert(scannedFiles(eq).length == 1, "equality must open only the de..en file")
    // IN is tested PER VALUE against each file's envelope: ('de','zh')
    // spans the whole range, but the middle file contains neither
    val in = VersionedLake.read(spark, dir).filter(col("lang").isin("de", "zh"))
    assert(in.count() == 40)
    assert(scannedFiles(in).length == 2,
      "per-value IN must skip the es..fr file inside the de..zh envelope")
    val rng = VersionedLake.read(spark, dir)
      .filter(col("lang") >= "es" && col("lang") <= "fr")
    assert(rng.count() == 40)
    assert(scannedFiles(rng).length == 1)
    // LIKE 'e%' (Catalyst rewrites to StartsWith) matches en + es —
    // exactly the first two files' envelopes
    val pfx = VersionedLake.read(spark, dir).filter(col("lang").like("e%"))
    assert(pfx.count() == 40)
    assert(scannedFiles(pfx).length == 2,
      "prefix predicate must skip the zh file")
    // OR branches: each file admitted iff EITHER branch admits it —
    // de hits file 1, zh hits file 3, the es..fr file drops
    val or = VersionedLake.read(spark, dir)
      .filter(col("lang") === "de" || col("lang") === "zh")
    assert(or.count() == 40)
    assert(scannedFiles(or).length == 2,
      "OR of two equalities must skip the middle file")
    // nested and/or with a NUMERIC leaf on one side: (lang='zh' AND
    // v >= 2000) OR lang='de' — file 2 fails both branches
    val mixed = VersionedLake.read(spark, dir)
      .filter((col("lang") === "zh" && col("v") >= 2000L) || col("lang") === "de")
    assert(mixed.count() == 40)
    assert(scannedFiles(mixed).length == 2, "nested and/or must prune")
    // a NOT is opaque: its inner leaves are never tested positively,
    // rows stay exact, and nothing is wrongly skipped
    val not = VersionedLake.read(spark, dir)
      .filter(!(col("lang") === "en") && col("lang") >= "es")
    assert(not.count() == 60)
    assert(scannedFiles(not).length == 2,
      "the >= 'es' conjunct prunes; the NOT contributes nothing")
    // the explicit string read_range surface: loud refusal for a
    // column with no STRING stats (v is numeric), pruning for lang
    intercept[IllegalArgumentException] {
      VersionedLake.readRange(spark, dir, "v", "a", "b", None)
    }
    val rr = VersionedLake.readRange(spark, dir, "lang", "zh", "zh", None)
    assert(rr.inputFiles.length == 1 &&
      rr.filter(col("lang") === "zh").count() == 20)
  }

  test("loader packing: two-level prefix sum — no cartesian, offsets side broadcast, no global window") {
    val p = plan("x_pack_sequences")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the 256-row bucket-offset side rides a broadcast, never a shuffle join
    assert(p.contains("BroadcastHashJoin"), p)
    // the only single-task window is the bounded offsets fold: every
    // Window must carry a partition key (the corpus-side windows
    // partition by bucket; the offsets side by the explicit pmod)
    assert(!p.contains("windowspecdefinition()"), p)
    // the incremental gate reads its PREBUILT slice lake — the plan to
    // pin there is the pure partition-pruned scan (packing's own shape
    // is the x_pack_sequences plan above, same code path)
    val pi = plan("x_pack_incremental")
    assert(!pi.contains("CartesianProduct") && !pi.contains("Exchange hash"), pi)
  }

  test("epoch shuffle: per-shard windows only, no corpus-wide single-partition exchange") {
    val p = plan("x_epoch_shuffle")
    assert(!p.contains("CartesianProduct"), p)
    // row_number partitions by shard_id — a windowspec with no
    // partition key would collapse the corpus into one task
    assert(!p.contains("windowspecdefinition()") &&
      p.contains("windowspecdefinition(shard_id"), p)
  }

  test("PQ lake search: codes ride one broadcast-joined distance table; no corpus-sized nested loop") {
    val p = plan("s32_ann_lake_pq")
    assert(!p.contains("CartesianProduct"), p)
    // dtab (queries × m × ksub) broadcasts against the code scan; the
    // only nested-loop broadcast allowed is the bounded centroid probe
    assert(p.contains("BroadcastHashJoin"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p)
  }

  test("retrieval metrics: judgment-sized joins only — no corpus-sized exchange beyond the run") {
    val p = plan("x_retrieval_eval")
    assert(!p.contains("CartesianProduct"), p)
    // qrels and hits are judgment-sized; nothing here may plan a
    // nested loop over the run
    assert(!p.contains("BroadcastNestedLoopJoin") ||
      // the bm25 run itself carries one 1-row stats crossJoin — that
      // single-row broadcast is the documented scoring shape
      "BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p)
  }
}

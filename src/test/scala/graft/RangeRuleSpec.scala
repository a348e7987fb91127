package graft

import graft.operators.Temporal
import graft.plans.RangeJoinBinRewrite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The containment-join optimizer rule: fires on the natural theta
  * join, preserves semantics exactly, leaves non-eligible joins alone,
  * and kills the BroadcastNestedLoopJoin on keyless range joins.
  */
class RangeRuleSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private lazy val pts = Seq(
    (1L, 10L, ts("2024-01-01 00:10:00")),
    (2L, 10L, ts("2024-01-01 00:00:00")),
    (3L, 10L, ts("2024-01-01 00:30:00")),
    (4L, 10L, ts("2024-01-01 01:59:59.999999")),
    (5L, 20L, ts("2024-01-01 00:10:00"))
  ).toDF("event_id", "user_id", "ts")

  private lazy val ivs = Seq(
    (10L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:30:00"), 7.0),
    (10L, ts("2024-01-01 01:00:00"), ts("2024-01-01 02:00:00"), 8.0),
    (20L, ts("2024-01-01 05:00:00"), ts("2024-01-01 05:00:00"), 9.0), // empty
    (30L, ts("2024-01-01 00:00:00"), ts("2024-01-01 09:00:00"), 1.0)
  ).toDF("uid", "w_start", "w_end", "sev")

  private def naturalJoin(l: DataFrame, r: DataFrame): DataFrame =
    l.join(r, l("user_id") === r("uid") &&
      l("ts") >= r("w_start") && l("ts") < r("w_end"))

  private def optimized(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("rule rewrites the natural containment join to a binned equi-join") {
    val df = naturalJoin(pts, ivs)
    val opt = optimized(df)
    assert(opt.contains("_graft_bin"), opt)
    assert(opt.contains("explode(sequence("), opt)
    val got = df.select("event_id", "sev").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == Set((1L, 7.0), (2L, 7.0), (4L, 8.0)))
  }

  test("rewrite equals the rule-off plan and the explicit rangeJoin operator") {
    val withRule = naturalJoin(pts, ivs)
      .select("event_id", "w_start").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
    spark.conf.set(RangeJoinBinRewrite.EnabledKey, "false")
    val without = try naturalJoin(pts, ivs)
      .select("event_id", "w_start").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
    finally spark.conf.unset(RangeJoinBinRewrite.EnabledKey)
    val operator = Temporal.rangeJoin(
      pts, ivs.withColumnRenamed("uid", "user_id"), Seq("user_id"),
      "ts", "w_start", "w_end", RangeJoinBinRewrite.DefaultBinMicros)
      .select("event_id", "w_start").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
    assert(withRule == without && withRule == operator)
  }

  test("keyless pure-time containment join: BNLJ without the rule, hash join with it") {
    val l = pts.select(col("event_id"), col("ts"))
    val r = ivs.select(col("w_start"), col("w_end"), col("sev"))
    val natural = l.join(r, l("ts") >= r("w_start") && l("ts") < r("w_end"))
    assert(!physical(natural).contains("BroadcastNestedLoopJoin"),
      physical(natural))
    spark.conf.set(RangeJoinBinRewrite.EnabledKey, "false")
    val off = try physical(l.join(r, l("ts") >= r("w_start") && l("ts") < r("w_end")))
    finally spark.conf.unset(RangeJoinBinRewrite.EnabledKey)
    assert(off.contains("BroadcastNestedLoopJoin"), off)
    // and the rewritten result is the true containment set
    val got = natural.select("event_id", "sev").collect()
      .map(r0 => (r0.getLong(0), r0.getDouble(1))).toSet
    // keyless: user 20's point also lands in window 1 and window 4
    val want = Set(1L -> 7.0, 2L -> 7.0, 5L -> 7.0, 4L -> 8.0,
      1L -> 1.0, 2L -> 1.0, 3L -> 1.0, 4L -> 1.0, 5L -> 1.0)
    assert(got == want)
  }

  test("rule fires once (idempotent under the fixed-point batch)") {
    val opt = optimized(naturalJoin(pts, ivs))
    assert("explode\\(sequence\\(".r.findAllIn(opt).size == 1, opt)
  }

  test("rule does not re-bin plans built by the rangeJoin operator") {
    // the operator's containment post-filter gets pushed back into the
    // join condition by Catalyst, making the join LOOK eligible; the
    // shared bin-marker name must stop a second explode/equi-conjunct
    // from stacking on top of the operator's own binning.
    val df = Temporal.rangeJoin(
      pts, ivs.withColumnRenamed("uid", "user_id"), Seq("user_id"),
      "ts", "w_start", "w_end", RangeJoinBinRewrite.DefaultBinMicros)
    val opt = optimized(df)
    assert("explode\\(sequence\\(".r.findAllIn(opt).size == 1,
      s"operator plan was re-binned by the rule:\n$opt")
    val got = df.select("event_id", "sev").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == Set((1L, 7.0), (2L, 7.0), (4L, 8.0)))
  }

  test("non-eligible joins are untouched") {
    // equi-only
    val equi = pts.join(ivs, pts("user_id") === ivs("uid"))
    assert(!optimized(equi).contains("_graft_bin"))
    // left-outer containment (rewrite would drop unmatched rows' nulls)
    val outer = pts.join(ivs, pts("user_id") === ivs("uid") &&
      pts("ts") >= ivs("w_start") && pts("ts") < ivs("w_end"), "left")
    assert(!optimized(outer).contains("_graft_bin"))
    // half-bounded (no upper conjunct)
    val half = pts.join(ivs, pts("user_id") === ivs("uid") &&
      pts("ts") >= ivs("w_start"))
    assert(!optimized(half).contains("_graft_bin"))
  }

  test("rewrite matches brute force on real events at a non-divisor bin width") {
    val ev = Tables.events(spark, sf("sf0.001"))
    val l = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val r = ev.filter(col("event_type") === "error")
      .groupBy(col("user_id").as("uid"), col("ts").as("w_start"))
      .agg(max(col("value")).as("sev"))
      .withColumn("w_end", col("w_start") + expr("INTERVAL 97 MINUTES"))
    spark.conf.set(RangeJoinBinRewrite.BinKey, (7L * 60L * 1000000L + 13L).toString)
    val got = try {
      val df = naturalJoin(l, r)
      assert(optimized(df).contains("_graft_bin"))
      df.select("event_id", "w_start").collect()
        .map(r0 => (r0.getLong(0), r0.getTimestamp(1))).toSet
    } finally spark.conf.unset(RangeJoinBinRewrite.BinKey)
    spark.conf.set(RangeJoinBinRewrite.EnabledKey, "false")
    val want = try naturalJoin(l, r)
      .select("event_id", "w_start").collect()
      .map(r0 => (r0.getLong(0), r0.getTimestamp(1))).toSet
    finally spark.conf.unset(RangeJoinBinRewrite.EnabledKey)
    assert(got == want && got.nonEmpty)
  }
}

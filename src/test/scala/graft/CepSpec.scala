package graft

import graft.operators.Cep
import org.apache.spark.sql.DataFrame

import java.sql.Timestamp

class CepSpec extends SparkSpec {
  import spark.implicits._

  // one event per second starting at t0; WITHIN set to 10 s unless given
  private def seq(statuses: (String, Double)*): DataFrame =
    statuses.zipWithIndex.map { case ((s, v), i) =>
      ("k1", new Timestamp(1700000000000L + i * 1000L), v, s, i.toLong)
    }.toDF("k", "t", "v", "s", "id")

  private def run(df: DataFrame, within: Long = 10000000L) =
    Cep.matchesBatch(df, Cep.Params("k", "t", "v", "s", "id",
      errorValue = "ERROR", maxB = 5, withinMicros = within))
      .collect()

  private val E = "ERROR" -> 100.0
  private def ok(v: Double) = "OK" -> v

  test("simple sandwich matches with full measures") {
    val out = run(seq(E, ok(10.0), ok(20.0), E))
    assert(out.length == 1)
    val m = out.head
    assert(m.getAs[Long]("non_errors") == 2L)
    assert(m.getAs[String]("history") == "OK-OK")
    assert(m.getAs[Double]("min_temperature") == 10.0)
    assert(m.getAs[Double]("max_temperature") == 100.0)
    assert(m.getAs[Double]("avg_temperature") == 57.5) // (100+10+20+100)/4
    assert(m.getAs[Long]("elapsed") == 3L)
  }

  test("no match without a closing ERROR") {
    assert(run(seq(E, ok(1), ok(2), ok(3))).isEmpty)
  }

  test("B overflow (>5 non-errors) does not match") {
    assert(run(seq(E, ok(1), ok(2), ok(3), ok(4), ok(5), ok(6), E)).isEmpty)
  }

  test("adjacent ERROR-ERROR (zero B rows) does not match") {
    assert(run(seq(E, E)).isEmpty)
  }

  test("WITHIN expiry suppresses slow matches") {
    // 4 events, 1 s apart → C - A = 3 s; within = 2 s
    assert(run(seq(E, ok(1), ok(2), E), within = 2000000L).isEmpty)
    assert(run(seq(E, ok(1), ok(2), E), within = 3000000L).length == 1)
  }

  test("SKIP PAST LAST ROW: shared C cannot start the next match") {
    // E ok E ok E — pairs (1,2) and (2,3) both candidates; greedy takes
    // the first, consumes the middle ERROR, so only one match.
    val out = run(seq(E, ok(1), E, ok(2), E))
    assert(out.length == 1)
    assert(out.head.getAs[String]("history") == "OK")
  }

  test("SKIP PAST LAST ROW: third pair matches again after a skipped middle") {
    // E ok E ok E ok E — candidates (1,2),(2,3),(3,4): matches 1st and 3rd.
    val out = run(seq(E, ok(1), E, ok(2), E, ok(3), E))
    assert(out.length == 2)
    assert(out.map(_.getAs[Double]("min_temperature")).toSet == Set(1.0, 3.0))
  }

  test("non-candidate pair resets the greedy run") {
    // E E ok E: (1,2) not a candidate (no B), so (2,3) is free to match.
    val out = run(seq(E, E, ok(7), E))
    assert(out.length == 1)
    assert(out.head.getAs[Double]("min_temperature") == 7.0)
  }

  test("keys are independent") {
    val df = seq(E, ok(1), E).union(
      Seq(("k2", new Timestamp(1700000000000L), 50.0, "ERROR", 100L),
        ("k2", new Timestamp(1700000001000L), 5.0, "OK", 101L),
        ("k2", new Timestamp(1700000002000L), 50.0, "ERROR", 102L))
        .toDF("k", "t", "v", "s", "id"))
    assert(run(df).length == 2)
  }

  test("matches never overlap and always start/end with ERROR (invariant at sf0.001)") {
    val p = Cep.Params("user_id", "ts", "value", "event_type", "event_id",
      errorValue = "error", maxB = 5, withinMicros = 259200000000L)
    val events = Tables.events(spark, sf("sf0.001"))
    val out = Cep.matchesBatch(events, p)
    val rows = out.select("sensor_id", "event_time", "elapsed", "non_errors").collect()
    // non-overlap: for each key, next match's A strictly after this match's C
    rows.groupBy(_.getLong(0)).foreach { case (_, ms) =>
      val sorted = ms.sortBy(_.getTimestamp(1).getTime)
      sorted.sliding(2).foreach {
        case Array(m1, m2) =>
          val c1End = m1.getTimestamp(1).getTime + m1.getLong(2) * 1000
          assert(m2.getTimestamp(1).getTime > c1End - 1000) // elapsed rounded to s
        case _ =>
      }
    }
    assert(rows.forall(r => r.getLong(3) >= 1 && r.getLong(3) <= 5))
  }

  test("generic pattern: fixed-form equals matchesPattern(errorSandwichSpec) on random sequences") {
    // property-style, seeded: the window formulation (matchesBatch) and
    // the sorted pass through the state machine (matchesPattern) must
    // emit identical match sets, measures and schemas. Each trial is one
    // DataFrame of 30 keys — more keys than the spec session's 4 shuffle
    // partitions — with time steps of 0 or 1 s (ties broken by a
    // shuffled id), NULL statuses, runs of non-errors longer than maxB,
    // and whole-second gaps so C often lands exactly on the WITHIN
    // bound. Even trials key on a long, odd trials on a string.
    val rnd = new scala.util.Random(42)
    val statuses = Seq[Option[String]](Some("ERROR"), Some("ERROR"), Some("OK"),
      Some("OK"), Some("WARN"), None)
    var atBound = 0
    (1 to 8).foreach { trial =>
      val rows = (0 until 30).flatMap { key =>
        val n = 5 + rnd.nextInt(30)
        val ids = rnd.shuffle((0 until n).toList)
        val steps = Seq.fill(n)(rnd.nextInt(2) * 1000L).scanLeft(0L)(_ + _)
        (0 until n).map { i =>
          (key, new Timestamp(1700000000000L + steps(i)),
            math.floor(rnd.nextDouble() * 1000) / 10.0,
            statuses(rnd.nextInt(statuses.length)), key * 1000L + ids(i))
        }
      }
      val df =
        if (trial % 2 == 0) rows.map { case (k, t, v, s, id) => (k.toLong, t, v, s, id) }
          .toDF("k", "t", "v", "s", "id")
        else rows.map { case (k, t, v, s, id) => (s"k$k", t, v, s, id) }
          .toDF("k", "t", "v", "s", "id")
      val p = Cep.Params("k", "t", "v", "s", "id",
        errorValue = "ERROR", maxB = 1 + rnd.nextInt(5),
        withinMicros = (1 + rnd.nextInt(6)) * 1000000L)
      val fixedDf = Cep.matchesBatch(df, p)
      val genericDf = Cep.matchesPattern(df, p, Cep.errorSandwichSpec(p))
      assert(fixedDf.schema == genericDf.schema, s"trial $trial schemas differ")
      val fixed = fixedDf.collect().map(_.toSeq)
      val generic = genericDf.collect().map(_.toSeq)
      assert(fixed.length == generic.length && fixed.toSet == generic.toSet,
        s"trial $trial diverged (params $p)")
      atBound += fixed.count(_(7) == p.withinMicros / 1000000L)
    }
    assert(atBound > 0, "no trial put a C exactly on the WITHIN bound")
  }

  // A NULL value has one answer in every form: refused, naming the column.
  private val nullValue = Seq(("k1", 0L, Some(10.0), "ERROR"), ("k1", 1L, None, "OK"),
    ("k1", 2L, Some(30.0), "ERROR"))
    .map { case (k, i, v, s) => (k, new Timestamp(1700000000000L + i * 1000L), v, s, i) }
  private val nullP = Cep.Params("k", "t", "v", "s", "id",
    errorValue = "ERROR", maxB = 5, withinMicros = 10000000L)

  private def assertRefusesNullValue(run: => Any): Unit = {
    val e = intercept[Exception](run)
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("column 'v' holds a NULL")), e.toString)
  }

  test("NULL value: matchesPattern refuses it, naming the column") {
    val df = nullValue.toDF("k", "t", "v", "s", "id")
    assertRefusesNullValue(Cep.matchesPattern(df, nullP, Cep.errorSandwichSpec(nullP)).collect())
  }

  test("NULL value: matchesBatch refuses it, naming the column") {
    val df = nullValue.toDF("k", "t", "v", "s", "id")
    assertRefusesNullValue(Cep.matchesBatch(df, nullP).collect())
  }

  test("NULL value: CepStream.matchesPattern refuses it, naming the column") {
    val df = nullValue.toDF("k", "t", "v", "s", "id")
    assertRefusesNullValue(
      graft.streaming.CepStream.matchesPattern(df, nullP, Cep.errorSandwichSpec(nullP)).collect())
  }

  test("plan shape: matchesPattern is one shuffle and no window; matchesBatch keeps its windows") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    // the final AQE plan, query stages unwrapped
    def nodes(df: DataFrame): Seq[SparkPlan] = {
      df.collect()
      def walk(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => q +: walk(q.plan)
        case other => other +: other.children.flatMap(walk)
      }
      walk(df.queryExecution.executedPlan)
    }
    val df = seq(E, ok(1), E, ok(2), ok(3), E, E)
    val p = Cep.Params("k", "t", "v", "s", "id", errorValue = "ERROR")
    val machine = nodes(Cep.matchesPattern(df, p, Cep.errorSandwichSpec(p)))
    assert(!machine.exists(_.isInstanceOf[WindowExec]), machine.mkString("\n"))
    assert(machine.count(_.isInstanceOf[ShuffleExchangeLike]) == 1, machine.mkString("\n"))
    val windows = nodes(Cep.matchesBatch(df, p))
    assert(windows.exists(_.isInstanceOf[WindowExec]), windows.mkString("\n"))
  }

  test("generic pattern: distinct A/C, minB=0, and non-variable rows breaking runs") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      // signup -> click,view -> purchase: match with 2 B rows
      ("k1", new Timestamp(1700000000000L), 10.0, "signup", 0L),
      ("k1", new Timestamp(1700000001000L), 20.0, "click", 1L),
      ("k1", new Timestamp(1700000002000L), 30.0, "view", 2L),
      ("k1", new Timestamp(1700000003000L), 40.0, "purchase", 3L),
      // signup -> purchase adjacent: minB=0 admits the empty B run
      ("k1", new Timestamp(1700000010000L), 50.0, "signup", 4L),
      ("k1", new Timestamp(1700000011000L), 60.0, "purchase", 5L),
      // signup -> click -> ERROR (no variable) -> purchase: run broken
      ("k1", new Timestamp(1700000020000L), 70.0, "signup", 6L),
      ("k1", new Timestamp(1700000021000L), 80.0, "click", 7L),
      ("k1", new Timestamp(1700000022000L), 90.0, "error", 8L),
      ("k1", new Timestamp(1700000023000L), 95.0, "purchase", 9L)
    ).toDF("k", "t", "v", "s", "id")
    val p = Cep.Params("k", "t", "v", "s", "id")
    val spec = Cep.PatternSpec(
      a = col("s") === "signup",
      b = col("s").isin("click", "view"),
      c = col("s") === "purchase",
      minB = 0, maxB = 3, withinMicros = 10000000L)
    val out = Cep.matchesPattern(df, p, spec)
      .orderBy(col("event_time")).collect()
    assert(out.length == 2, out.mkString("\n"))
    assert(out(0).getAs[Long]("non_errors") == 2L)
    assert(out(0).getAs[String]("history") == "click-view")
    assert(out(0).getAs[Double]("avg_temperature") == 25.0)
    assert(out(0).getAs[Long]("elapsed") == 3L)
    // the empty-B match: measures degrade to the A/C pair alone
    assert(out(1).getAs[Long]("non_errors") == 0L)
    assert(out(1).getAs[String]("history") == "")
    assert(out(1).getAs[Double]("min_temperature") == 50.0)
    assert(out(1).getAs[Double]("max_temperature") == 60.0)
    assert(out(1).getAs[Double]("avg_temperature") == 55.0)
  }

  test("generic pattern: minB filters short runs; quantifier upper bound still applies") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      ("k1", new Timestamp(1700000000000L), 1.0, "A", 0L),
      ("k1", new Timestamp(1700000001000L), 2.0, "b", 1L),
      ("k1", new Timestamp(1700000002000L), 3.0, "C", 2L), // 1 B row
      ("k1", new Timestamp(1700000010000L), 4.0, "A", 3L),
      ("k1", new Timestamp(1700000011000L), 5.0, "b", 4L),
      ("k1", new Timestamp(1700000012000L), 6.0, "b", 5L),
      ("k1", new Timestamp(1700000013000L), 7.0, "C", 6L)  // 2 B rows
    ).toDF("k", "t", "v", "s", "id")
    val p = Cep.Params("k", "t", "v", "s", "id")
    def spec(m: Int, x: Int) = Cep.PatternSpec(
      a = col("s") === "A", b = col("s") === "b", c = col("s") === "C",
      minB = m, maxB = x, withinMicros = 10000000L)
    assert(Cep.matchesPattern(df, p, spec(2, 5)).count() == 1) // only the 2-B run
    assert(Cep.matchesPattern(df, p, spec(1, 1)).count() == 1) // only the 1-B run
    assert(Cep.matchesPattern(df, p, spec(1, 5)).count() == 2)
  }

  test("measures clause: custom names draw from the same match vocabulary") {
    import org.apache.spark.sql.functions.{array_join, col}
    // two disjoint sandwiches (the adjacent E-E pair between them is
    // not a candidate, so the second match survives SKIP PAST LAST ROW)
    val df = seq(E, ok(10.0), ok(20.0), E, E, ok(5.0), E)
    val p = Cep.Params("k", "t", "v", "s", "id",
      errorValue = "ERROR", maxB = 5, withinMicros = 10000000L)
    val spec = Cep.errorSandwichSpec(p)
    val dflt = Cep.matchesPattern(df, p, spec)
      .collect().sortBy(_.getAs[Timestamp]("event_time").getTime)
    val custom = Cep.matchesPattern(df, p, spec, m => Seq(
      m.key.as("who"),
      m.aTime.as("started"),
      m.cTime.as("ended"),
      m.bCount.cast("long").as("quiet_rows"),
      array_join(m.bHistory, "|").as("trail"),
      m.aValue.as("first_v"),
      m.cValue.as("last_v"),
      m.totalRows.cast("long").as("span"),
      m.avgValue.as("mean_v"),
      m.elapsedSeconds.as("secs")))
      .collect().sortBy(_.getAs[Timestamp]("started").getTime)
    assert(dflt.length == 2 && custom.length == 2)
    dflt.zip(custom).foreach { case (d, c) =>
      assert(c.getAs[String]("who") == d.getAs[String]("sensor_id"))
      assert(c.getAs[Timestamp]("started") == d.getAs[Timestamp]("event_time"))
      assert(c.getAs[Long]("quiet_rows") == d.getAs[Long]("non_errors"))
      assert(c.getAs[String]("trail") == d.getAs[String]("history").replace("-", "|"))
      assert(c.getAs[Double]("mean_v") == d.getAs[Double]("avg_temperature"))
      assert(c.getAs[Long]("secs") == d.getAs[Long]("elapsed"))
      assert(c.getAs[Long]("span") == d.getAs[Long]("non_errors") + 2)
      assert(c.getAs[Double]("first_v") == 100.0 && c.getAs[Double]("last_v") == 100.0)
    }
    // the default-measures overload IS defaultMeasures
    val viaDefault = Cep.matchesPattern(df, p, spec, Cep.defaultMeasures)
      .collect().map(_.toSeq).toSet
    assert(viaDefault == dflt.map(_.toSeq).toSet)
  }
}

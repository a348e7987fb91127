package graft

import graft.operators.TimeSeries
import graft.operators.TimeSeries.GridParams
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.sql.Timestamp

class TimeSeriesSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private val P = GridParams("k", "t", "v", "s", "1 MINUTE")

  private def obs(rows: (String, String, Double, String)*) =
    rows.toSeq.map { case (k, t, v, s) => (k, ts(t), v, s) }.toDF("k", "t", "v", "s")

  test("linear interpolation fills the midpoint of a gap") {
    val df = obs(
      ("a", "2024-01-01 00:00:00", 10.0, "OK"),
      ("a", "2024-01-01 00:02:00", 30.0, "OK"))
    val out = TimeSeries.interpolateOnGrid(df, P)
      .orderBy("time").collect()
    assert(out.map(_.getAs[Double]("temperature")).toSeq == Seq(10.0, 20.0, 30.0))
  }

  test("exact grid hits return the observed value, not an interpolation") {
    val df = obs(
      ("a", "2024-01-01 00:00:00", 5.0, "OK"),
      ("a", "2024-01-01 00:01:00", 99.0, "WARNING"),
      ("a", "2024-01-01 00:02:00", 7.0, "OK"))
    val out = TimeSeries.interpolateOnGrid(df, P).orderBy("time").collect()
    assert(out.map(_.getAs[Double]("temperature")).toSeq == Seq(5.0, 99.0, 7.0))
    assert(out.map(_.getAs[String]("status")).toSeq == Seq("OK", "WARNING", "OK"))
  }

  test("single observation yields a single grid point carrying the value") {
    val df = obs(("a", "2024-01-01 00:00:30", 42.0, "ERROR"))
    val out = TimeSeries.interpolateOnGrid(df, P).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Double]("temperature") == 42.0)
    assert(out(0).getAs[String]("status") == "ERROR")
  }

  test("LOCF carries the last seen status across unobserved grid points") {
    val df = obs(
      ("a", "2024-01-01 00:00:00", 1.0, "WARNING"),
      ("a", "2024-01-01 00:03:00", 4.0, "OK"))
    val out = TimeSeries.interpolateOnGrid(df, P).orderBy("time").collect()
    assert(out.map(_.getAs[String]("status")).toSeq ==
      Seq("WARNING", "WARNING", "WARNING", "OK"))
  }

  test("groups are independent (no cross-sensor leakage)") {
    val df = obs(
      ("a", "2024-01-01 00:00:00", 0.0, "OK"),
      ("a", "2024-01-01 00:01:00", 10.0, "OK"),
      ("b", "2024-01-01 00:00:00", 100.0, "ERROR"))
    val out = TimeSeries.interpolateOnGrid(df, P)
    assert(out.filter($"k" === "b").count() == 1)
    assert(out.filter($"k" === "a").agg(max("temperature")).head().getDouble(0) == 10.0)
  }

  test("interpolated values stay within observed bounds (linearity invariant)") {
    val df = Tables.events(spark, sf("sf0.001"))
    val p = GridParams("user_id", "ts", "value", "event_type", "1 HOUR")
    val bounds = df.groupBy("user_id")
      .agg(min("value").as("lo"), max("value").as("hi"))
    val bad = TimeSeries.interpolateOnGrid(df, p)
      .join(bounds, "user_id")
      .filter($"temperature" < $"lo" - 1e-9 || $"temperature" > $"hi" + 1e-9)
    assert(bad.count() == 0)
  }

  test("bin truncates to the bucket start") {
    val df = Seq(Tuple1(ts("2024-01-01 10:17:45"))).toDF("t")
    val out = df.select(TimeSeries.bin($"t", 3600L).as("b")).head().getTimestamp(0)
    assert(out == ts("2024-01-01 10:00:00"))
  }

  test("createTimeSeries orders by time and unnest round-trips") {
    val df = obs(
      ("a", "2024-01-01 00:02:00", 2.0, "OK"),
      ("a", "2024-01-01 00:00:00", 0.0, "OK"),
      ("a", "2024-01-01 00:01:00", 1.0, "OK"))
    val series = df.groupBy("k").agg(TimeSeries.createTimeSeries($"t", $"v").as("series"))
    val flat = TimeSeries.unnestSeries(series, "series", "time", "value")
    assert(flat.orderBy("time").select("value").as[Double].collect().toSeq == Seq(0.0, 1.0, 2.0))
  }

  test("binMaxWindowed == bin() formulation on batch, and runs unchanged as a stream") {
    val events = Tables.events(spark, sf("sf0.001"))
      .select(col("user_id"), col("ts"), col("value"))
    val windowed = TimeSeries.binMaxWindowed(events, "user_id", "ts", "value", "1 hour")
      .orderBy("user_id", "bin_ts").collect()
    val binned = events
      .groupBy(col("user_id"), TimeSeries.bin(col("ts"), 3600L).as("bin_ts"))
      .agg(max(col("value")).as("max_value"))
      .orderBy("user_id", "bin_ts").collect()
    assert(windowed.sameElements(binned) && windowed.nonEmpty)

    // the SAME function over a MemoryStream, watermarked append mode
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = events.limit(200)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2))).toSeq
    val ms = MemoryStream[(Long, Timestamp, Double)]
    val stream = TimeSeries.binMaxWindowed(
      ms.toDS().toDF("user_id", "ts", "value").withWatermark("ts", "0 seconds"),
      "user_id", "ts", "value", "1 hour")
    val q = stream.writeStream.format("memory").queryName("binmax_out")
      .outputMode("append").start()
    try {
      ms.addData(rows)
      // sentinel advances the watermark past every real bin
      ms.addData(Seq((999L, ts("2030-01-01 00:00:00"), 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("binmax_out")
      .filter(col("user_id") =!= 999L)
      .orderBy("user_id", "bin_ts").collect()
    // batch side built from the SAME collected rows (limit() alone is
    // not a deterministic subset across evaluations)
    val batch200 = TimeSeries.binMaxWindowed(
      rows.toDF("user_id", "ts", "value"), "user_id", "ts", "value", "1 hour")
      .orderBy("user_id", "bin_ts").collect()
    assert(streamed.sameElements(batch200) && streamed.nonEmpty)
  }

  test("ohlc picks first/last by (time, tiebreak); rate nulls on duplicate timestamps") {
    val rows = Seq(
      (1L, ts("2024-01-01 00:05:00"), 10.0, 1L),
      (1L, ts("2024-01-01 00:10:00"), 30.0, 2L),
      (1L, ts("2024-01-01 00:20:00"), 5.0, 3L),
      // same timestamp as id=3: tiebreak decides close; rate goes null
      (1L, ts("2024-01-01 00:20:00"), 8.0, 4L)
    ).toDF("k", "t", "v", "id")
    val candle = TimeSeries.ohlc(rows, "k", "t", "v", "id", 3600L).collect()
    assert(candle.length == 1)
    val r = candle.head
    assert(r.getDouble(2) == 10.0 && r.getDouble(3) == 30.0 &&
      r.getDouble(4) == 5.0 && r.getDouble(5) == 8.0 && r.getLong(6) == 4L)
    val rates = TimeSeries.rateOfChange(rows, "k", "t", "v", "id")
      .select("id", "rate_r4").collect()
      .map(x => x.getLong(0) -> (if (x.isNullAt(1)) null else x.getDouble(1))).toMap
    assert(rates(1L) == null) // first of series
    assert(rates(2L) == math.floor(20.0 / 300.0 * 10000 + 0.5) / 10000.0)
    assert(rates(3L) == math.floor(-25.0 / 600.0 * 10000 + 0.5) / 10000.0)
    assert(rates(4L) == null) // dt = 0 → null, never ±Infinity
  }

  /** Walk and window reference on `df`: equal schemas and equal rows,
    * for interpolateOnGrid and for the flagship. */
  private def assertWalkEqualsWindow(df: DataFrame, p: GridParams, clue: String): Unit = {
    Seq[(String, (DataFrame, GridParams) => DataFrame, (DataFrame, GridParams) => DataFrame)](
      ("interpolateOnGrid", TimeSeries.interpolateOnGrid, WindowInterpolation.interpolateOnGrid),
      ("flagship", TimeSeries.flagship, WindowInterpolation.flagship)
    ).foreach { case (name, walk, window) =>
      val w = walk(df, p)
      val ref = window(df, p)
      assert(w.schema == ref.schema, s"$clue $name: schemas differ")
      val got = w.collect().map(_.toSeq)
      val want = ref.collect().map(_.toSeq)
      assert(got.length == want.length && got.toSet == want.toSet,
        s"$clue $name: walk ${got.sortBy(_.toString).mkString("\n")}\n" +
          s"window ${want.sortBy(_.toString).mkString("\n")}")
    }
  }

  test("grid walk equals the window reference on random series") {
    // 30 keys (more than the session's 4 shuffle partitions), 1 to 8
    // observations each on a 5 s lattice under a 10 s grid, so instants
    // often land on an observation; duplicate times with distinct
    // values, NULL values (leading, trailing, and all-NULL keys), NULL
    // statuses and one-observation keys. Trials key on a long, a
    // string and a struct.
    val rnd = new scala.util.Random(7)
    val statuses = Seq[String]("OK", "WARN", "ERROR", null)
    val p = GridParams("k", "t", "v", "s", "10 SECONDS")
    var ties, nulls, singles = 0
    (0 until 6).foreach { trial =>
      val rows = (0 until 30).flatMap { key =>
        val n = 1 + rnd.nextInt(8)
        val allNull = rnd.nextInt(10) == 0
        if (n == 1) singles += 1
        val offs = Seq.fill(n)(rnd.nextInt(25) * 5000L).sorted
        ties += offs.size - offs.distinct.size
        offs.zipWithIndex.map { case (off, i) =>
          val v = if (allNull || rnd.nextInt(4) == 0) None
            else Some(math.floor(rnd.nextDouble() * 1000) / 10.0 + i * 1e-3)
          if (v.isEmpty) nulls += 1
          (key, new Timestamp(1700000000000L + off), v, statuses(rnd.nextInt(statuses.size)))
        }
      }
      val base = rows.toDF("k0", "t", "v", "s")
      val df = trial % 3 match {
        case 0 => base.withColumn("k", $"k0".cast("long"))
        case 1 => base.withColumn("k", concat(lit("k"), $"k0"))
        case _ => base.withColumn("k", struct(($"k0" % 7).as("a"), ($"k0" / 7).cast("int").as("b")))
      }
      assertWalkEqualsWindow(df.drop("k0"), p, s"trial $trial")
    }
    assert(ties > 0 && nulls > 0 && singles > 0, (ties, nulls, singles))
  }

  test("a NULL time is refused, naming the column") {
    val df = Seq(("a", Some(ts("2024-01-01 00:00:00")), 1.0, "OK"), ("a", None, 2.0, "OK"))
      .toDF("k", "t", "v", "s")
    val e = intercept[Exception](TimeSeries.interpolateOnGrid(df, P).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("column 't' holds a NULL")), e.toString)
  }

  test("a non-TIMESTAMP time column and a step that is no positive interval are refused") {
    val df = obs(("a", "2024-01-01 00:00:00", 1.0, "OK"))
    val dated = intercept[IllegalArgumentException](
      TimeSeries.interpolateOnGrid(df.withColumn("t", $"t".cast("date")), P))
    assert(dated.getMessage.contains("'t' is DATE"), dated.getMessage)
    Seq("0 SECONDS", "-1 HOUR", "1 MONTH 1 DAY").foreach { step =>
      val e = intercept[Exception](TimeSeries.interpolateOnGrid(df, P.copy(step = step)))
      assert(e.getMessage.contains(step), s"$step: ${e.getMessage}")
    }
  }

  /** Rows at `instants` (UTC ISO) in a session whose time zone is New York. */
  private def newYork(instants: String*): DataFrame = {
    val s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/New_York")
    val rows = instants.zipWithIndex.map { case (i, n) =>
      Row("a", Timestamp.from(java.time.Instant.parse(i)), n * 10.0, s"s$n")
    }
    val schema = StructType(Seq(StructField("k", StringType), StructField("t", TimestampType),
      StructField("v", DoubleType), StructField("s", StringType)))
    s.createDataFrame(s.sparkContext.parallelize(rows), schema)
  }

  test("a day-time step: fixed µs under a day, calendar days in the session time zone") {
    // New York springs forward on 2024-03-10 (07:00Z): a 6-hour step stays
    // on the UTC lattice; a 1-day step keeps 12:00 local, 17:00Z before
    // the change and 16:00Z after it
    val df = newYork("2024-03-08T17:00:00Z", "2024-03-12T05:00:00Z")
    def times(step: String) = {
      val p = GridParams("k", "t", "v", "s", step)
      assertWalkEqualsWindow(df, p, step)
      TimeSeries.interpolateOnGrid(df, p).collect().map(_.getTimestamp(1).toInstant.toString).toSeq.sorted
    }
    assert(times("6 HOURS").contains("2024-03-11T23:00:00Z"))
    assert(times("1 DAY") == Seq("2024-03-08T17:00:00Z", "2024-03-09T17:00:00Z",
      "2024-03-10T16:00:00Z", "2024-03-11T16:00:00Z"))
  }

  test("a year-month step adds months in the session time zone") {
    // Jan 31 00:30 New York time: months clamp to the month's last day
    // and keep the local wall time across the DST change (04:30Z in
    // summer, 05:30Z in winter)
    val df = newYork("2024-01-31T05:30:00Z", "2024-03-15T12:00:00Z", "2024-06-01T00:00:00Z")
    val p = GridParams("k", "t", "v", "s", "1 MONTH")
    assertWalkEqualsWindow(df, p, "1 MONTH")
    val times = TimeSeries.interpolateOnGrid(df, p).collect().map(_.getTimestamp(1).toInstant.toString).sorted
    assert(times.toSeq == Seq("2024-01-31T05:30:00Z", "2024-02-29T05:30:00Z",
      "2024-03-31T04:30:00Z", "2024-04-30T04:30:00Z", "2024-05-31T04:30:00Z"), times.mkString(","))
  }
}

package graft

import graft.functions.Dialect
import graft.operators.TimeSeries
import graft.operators.TimeSeries.GridParams
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** The SQL dialect surface: registered functions must agree with their
  * DataFrame-native counterparts, and AGO must honor a frozen clock.
  */
class DialectSpec extends SparkSpec {
  import spark.implicits._

  private val P = GridParams(key = "user_id", time = "ts", value = "value",
    status = "event_type", step = "1 HOUR")

  test("SQL-text flagship equals the DataFrame flagship (sf0.001)") {
    Tables.events(spark, sf("sf0.001")).createOrReplaceTempView("events")
    val sql = spark.sql(
      """WITH interpolated AS (
        |  SELECT user_id,
        |         INTERPOLATE_LINEAR(CREATE_TIME_SERIES(ts, value),
        |           SEQUENCE(MIN(ts), MAX(ts), INTERVAL 1 HOUR)) AS it,
        |         INTERPOLATE_LOCF(CREATE_TIME_SERIES_STR(ts, event_type),
        |           SEQUENCE(MIN(ts), MAX(ts), INTERVAL 1 HOUR)) AS is
        |  FROM events GROUP BY user_id
        |), t AS (SELECT user_id, tt.time AS time, tt.value AS temperature
        |         FROM interpolated LATERAL VIEW explode(it) x AS tt),
        |st AS (SELECT user_id, ss.time AS time, ss.value AS status
        |       FROM interpolated LATERAL VIEW explode(is) y AS ss)
        |SELECT t.user_id, t.time, MIN(st.status) AS status,
        |       floor(AVG(t.temperature) * 100 + 0.5) / 100.0D AS temperature
        |FROM t JOIN st ON t.user_id = st.user_id AND t.time = st.time
        |GROUP BY t.user_id, t.time""".stripMargin)
      .collect().map(_.toSeq).toSet
    val dsl = TimeSeries.flagship(Tables.events(spark, sf("sf0.001")), P)
      .collect().map(_.toSeq).toSet
    assert(sql == dsl && dsl.nonEmpty)
  }

  test("interpolate_linear handles exact hits, midpoints, and edges") {
    val out = spark.sql(
      """SELECT interpolate_linear(
        |  array(struct(TIMESTAMP '2024-01-01 00:00:00' AS time, 10.0D AS value),
        |        struct(TIMESTAMP '2024-01-01 00:02:00' AS time, 30.0D AS value)),
        |  array(TIMESTAMP '2023-12-31 23:59:00', TIMESTAMP '2024-01-01 00:00:00',
        |        TIMESTAMP '2024-01-01 00:01:00', TIMESTAMP '2024-01-01 00:03:00')) AS r""".stripMargin)
      .select(explode(col("r")).as("e")).select("e.value").as[Double].collect().toSeq
    // before-first → first obs; exact hit → obs; midpoint → 20; past-last → last obs
    assert(out == Seq(10.0, 10.0, 20.0, 30.0))
  }

  test("interpolate_locf carries the last observation forward") {
    val out = spark.sql(
      """SELECT interpolate_locf(
        |  array(struct(TIMESTAMP '2024-01-01 00:00:00' AS time, 'OK' AS value),
        |        struct(TIMESTAMP '2024-01-01 00:02:00' AS time, 'ERROR' AS value)),
        |  array(TIMESTAMP '2024-01-01 00:01:00', TIMESTAMP '2024-01-01 00:02:00',
        |        TIMESTAMP '2024-01-01 00:05:00')) AS r""".stripMargin)
      .select(explode(col("r")).as("e")).select("e.value").as[String].collect().toSeq
    assert(out == Seq("OK", "ERROR", "ERROR"))
  }

  test("bin() UDF equals the native bin column") {
    val df = Tables.events(spark, sf("sf0.001")).limit(200)
    val diff = df.select(
      expr("bin(ts, 3600)").as("udf_bin"),
      TimeSeries.bin(col("ts"), 3600L).as("native_bin"))
      .filter(col("udf_bin") =!= col("native_bin"))
    assert(diff.count() == 0)
  }

  test("ago()/ts_now() honor the frozen clock") {
    val now = Timestamp.valueOf("2024-01-31 00:00:00")
    spark.conf.set(Dialect.ClockKey, now.toString)
    try {
      val r = spark.sql("SELECT ts_now() AS n, ago('15d') AS a, ago('90m') AS m").collect().head
      assert(r.getTimestamp(0) == now)
      assert(r.getTimestamp(1) == Timestamp.valueOf("2024-01-16 00:00:00"))
      assert(r.getTimestamp(2) == Timestamp.valueOf("2024-01-30 22:30:00"))
    } finally spark.conf.unset(Dialect.ClockKey)
  }

  test("ago() rejects garbage durations") {
    assertThrows[IllegalArgumentException](Dialect.parseAgoMicros("soon"))
    assert(Dialect.parseAgoMicros("15 m") == 900000000L)
  }

  test("series element cap fails fast with a clear error") {
    val e = intercept[Exception] {
      Tables.events(spark, sf("sf0.001")).groupBy("user_id")
        .agg(Dialect.seriesAgg(10)(col("ts"), col("value")).as("s"))
        .collect()
    }
    // Spark wraps the UDAF failure; the root message must survive
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null && m.contains("exceeds 10 elements")), e.toString)
  }

  test("vec_dot SQL surface casts float arrays and propagates null elements") {
    // array<float> input: implicit cast to array<double> must produce the
    // true dot product (raw ArrayData reinterpretation returned garbage)
    val f = spark.sql(
      "SELECT vec_dot(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)), array(2.0D, 3.0D)) AS d")
      .head.getDouble(0)
    assert(f == 1.5 * 2.0 + 2.0 * 3.0)
    // a null ELEMENT yields a null result, not a silent 0.0 contribution
    val n = spark.sql(
      "SELECT vec_dot(array(1.0D, CAST(NULL AS DOUBLE)), array(2.0D, 3.0D)) AS d")
      .head
    assert(n.isNullAt(0))
    // wrong arity is an analysis-time failure, not wrong numbers
    assertThrows[Exception](spark.sql("SELECT vec_dot(array(1.0D))").collect())
  }

  test("word_shingles requires a literal shingle size") {
    val e = intercept[Exception] {
      spark.sql("SELECT word_shingles('a b c', CAST(id AS INT)) FROM range(3)").collect()
    }
    assert(e.getMessage.contains("literal"), e.getMessage)
    // long literals are accepted
    assert(spark.sql("SELECT word_shingles('a b c', 2L) AS s").head.getSeq[String](0)
      == Seq("a b", "b c"))
  }

  test("shingle_stats equals the higher-order size/array_distinct formulation") {
    import spark.implicits._
    // empty, single word, all-same, trailing-space empties, repeats
    val texts = Seq("", "one", "a a a a a", "a b ", "x y x y x y z", "a  b")
    val df = texts.toDF("text")
    val words = split(col("text"), " ")
    val grams = when(size(words) >= 2,
      transform(sequence(lit(0), size(words) - 2),
        i => concat(element_at(words, i + 1), lit(" "), element_at(words, i + 2))))
      .otherwise(array().cast("array<string>"))
    val hof = df.select(col("text"), size(grams).cast("long").as("t"),
      size(array_distinct(grams)).cast("long").as("d")).collect()
    val nat = df.select(col("text"),
      graft.functions.TextFunctions.shingleStats(col("text"), 2).as("st"))
      .select(col("text"), col("st.total"), col("st.distinct")).collect()
    assert(nat.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      == hof.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq)
    // n=3 on a short doc: both counts zero
    val z = df.filter(col("text") === "one")
      .select(graft.functions.TextFunctions.shingleStats(col("text"), 3).as("st"))
      .select(col("st.total"), col("st.distinct")).head
    assert((z.getLong(0), z.getLong(1)) == ((0L, 0L)))
  }

  test("interpolation UDFs sort an unsorted hand-built series defensively") {
    val out = spark.sql(
      """SELECT interpolate_linear(
        |  array(struct(TIMESTAMP '2024-01-01 00:02:00' AS time, 30.0D AS value),
        |        struct(TIMESTAMP '2024-01-01 00:00:00' AS time, 10.0D AS value)),
        |  array(TIMESTAMP '2024-01-01 00:01:00')) AS r""".stripMargin)
      .select(explode(col("r")).as("e")).select("e.value").as[Double].collect().toSeq
    assert(out == Seq(20.0)) // midpoint of the SORTED series, not garbage
  }

  test("native expressions resolve from SQL text (FunctionRegistry injection)") {
    val r = spark.sql(
      """SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |       word_shingles('a b c d', 3) AS sh,
        |       rolling_poly_hash('abc') AS h""".stripMargin).collect().head
    assert(r.getDouble(0) == 11.0)
    assert(r.getSeq[String](1) == Seq("a b c", "b c d"))
    // ((0*31+97)*31+98)*31+99 = 97*961 + 98*31 + 99
    assert(r.getLong(2) == 97L * 961 + 98L * 31 + 99)
  }

  test("pipeline table functions: one SQL round-trip per family equals the Scala API") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    docs.createOrReplaceTempView("psql_docs")
    val events = Tables.events(spark, sf("sf0.001"))
    events.createOrReplaceTempView("psql_events")

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet

    // dedup family
    assert(rows(spark.sql(
      "SELECT * FROM minhash_lsh_pairs('psql_docs', 'doc_id', 'text', 3, 0.8D)")) ==
      rows(graft.operators.Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 0.8)))

    // packing family (tokens as a SQL expression over the table)
    assert(rows(spark.sql(
      """SELECT * FROM pack_shards('psql_docs', 'doc_id',
        |  'CAST(size(split(text, " ")) AS BIGINT)', 2000)""".stripMargin)) ==
      rows(graft.operators.Curation.packShards(docs, "doc_id",
        size(split(col("text"), " ")).cast("long"), 2000L)))

    // quota family
    assert(rows(spark.sql(
      "SELECT * FROM cap_per_group('psql_docs', 'source', 'doc_id', 10)")) ==
      rows(graft.operators.Curation.capPerGroup(docs, "source", "doc_id", 10)))

    // loader family
    assert(rows(spark.sql(
      """SELECT * FROM pack_sequences('psql_docs', 'doc_id',
        |  'CAST(size(split(text, " ")) AS BIGINT)', 1024)""".stripMargin)) ==
      rows(graft.operators.Loader.packSequences(docs, "doc_id",
        size(split(col("text"), " ")).cast("long"), 1024L)))
    assert(rows(spark.sql(
      "SELECT * FROM epoch_shuffle('psql_docs', 'doc_id', 1, 12)")) ==
      rows(graft.operators.Loader.epochShuffle(docs, "doc_id", 1, 12)))

    // temporal family: as-of join of late events onto early events
    events.filter(col("event_id") % 2 === 0).createOrReplaceTempView("psql_left")
    events.filter(col("event_id") % 2 === 1)
      .select(col("user_id"), col("ts"), col("value")).createOrReplaceTempView("psql_right")
    assert(rows(spark.sql(
      "SELECT * FROM asof_join('psql_left', 'psql_right', 'user_id', 'ts', 'ts', 'value')")) ==
      rows(graft.operators.Temporal.asOf(
        spark.table("psql_left"), spark.table("psql_right"),
        Seq("user_id"), "ts", "ts", Seq("value"))))
    assert(rows(spark.sql(
      "SELECT * FROM sessionize('psql_events', 'user_id', 'ts', 'value', '4 hours')")) ==
      rows(graft.operators.Temporal.sessionize(events, "user_id", "ts", "value", "4 hours")))

    // the TVF output composes like any relation: filter + aggregate on top
    val n = spark.sql(
      """SELECT count(*) AS n FROM (
        |  SELECT * FROM cap_per_group('psql_docs', 'source', 'doc_id', 10)
        |) WHERE lang = 'en'""".stripMargin).head().getLong(0)
    assert(n > 0)
  }

  test("pipeline table functions reject non-literal and mistyped arguments") {
    Tables.documents(spark, sf("sf0.001")).createOrReplaceTempView("psql_docs2")
    val e1 = intercept[Exception] {
      spark.sql("SELECT * FROM cap_per_group('psql_docs2', 'source', 'doc_id', 'ten')").collect()
    }
    assert(e1.getMessage.contains("integer literal"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("SELECT * FROM minhash_lsh_pairs('psql_docs2', 'doc_id', 'text', 3)").collect()
    }
    assert(e2.getMessage.contains("expects 5 arguments"), e2.getMessage)
  }

  test("pipeline table functions cover every extension family (SQL == Scala API)") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    docs.createOrReplaceTempView("pq_docs")
    val events = Tables.events(spark, sf("sf0.001"))
    events.createOrReplaceTempView("pq_events")
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    emb.createOrReplaceTempView("pq_emb")
    emb.filter(col("vec_id") < 3).createOrReplaceTempView("pq_queries")

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet

    assert(rows(spark.sql("SELECT * FROM exact_dedup('pq_docs', 'doc_id', 'text')")) ==
      rows(graft.operators.Dedup.exactDedup(docs, "doc_id", "text")))
    assert(rows(spark.sql("SELECT * FROM ngram_jaccard_pairs('pq_docs', 'doc_id', 'text', 3, 0.8D)")) ==
      rows(graft.operators.Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8)))
    assert(rows(spark.sql("SELECT * FROM simhash_pairs('pq_docs', 'doc_id', 'text', 7)")) ==
      rows(graft.operators.Dedup.simhashPairs(docs, "doc_id", "text", 7)))
    assert(rows(spark.sql("SELECT * FROM neardup_clusters('pq_docs', 'doc_id', 'text', 3, 0.8D)")) ==
      rows(graft.operators.Dedup.neardupClusters(docs, "doc_id",
        graft.operators.Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8))))
    assert(rows(spark.sql("SELECT * FROM cosine_topk('pq_emb', 'pq_queries', 'vec_id', 'embedding', 5)")) ==
      rows(graft.operators.Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 3),
        "vec_id", "embedding", 5)))
    docs.filter(col("doc_id") % 10 =!= 0).createOrReplaceTempView("pq_train")
    docs.filter(col("doc_id") % 10 === 0).createOrReplaceTempView("pq_bench")
    assert(rows(spark.sql("SELECT * FROM decontaminate('pq_train', 'pq_bench', 'doc_id', 'text', 5)")) ==
      rows(graft.operators.Curation.decontaminate(
        docs.filter(col("doc_id") % 10 =!= 0), docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", 5)))
    assert(rows(spark.sql("SELECT * FROM contamination_score('pq_train', 'pq_bench', 'doc_id', 'text', 5)")) ==
      rows(graft.operators.Curation.contaminationScore(
        docs.filter(col("doc_id") % 10 =!= 0), docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", 5)))
    assert(rows(spark.sql(
      "SELECT * FROM mixture_sample('pq_docs', 'doc_id', 'lang', 'en=1.5,de=1.0,zh=0.25')")) ==
      rows(graft.operators.Curation.mixtureSample(docs, "doc_id", "lang",
        Map("en" -> 1.5, "de" -> 1.0, "zh" -> 0.25))))
    assert(rows(spark.sql("SELECT * FROM trailing_agg('pq_events', 'user_id', 'ts', 'value', 3600000000)")) ==
      rows(graft.operators.Temporal.trailingAgg(events, "user_id", "ts", "value", 3600000000L)))
    events.select(col("user_id"), col("ts"), col("value"), col("event_id"))
      .createOrReplaceTempView("pq_pts")
    events.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 6 HOURS")).as("w_end"), col("event_id").as("incident_id"))
      .createOrReplaceTempView("pq_iv")
    assert(rows(spark.sql(
      "SELECT * FROM range_join('pq_pts', 'pq_iv', 'user_id', 'ts', 'w_start', 'w_end', 21600000000)")) ==
      rows(graft.operators.Temporal.rangeJoin(
        spark.table("pq_pts"), spark.table("pq_iv"), Seq("user_id"),
        "ts", "w_start", "w_end", 21600000000L)))
    assert(rows(spark.sql("SELECT * FROM ohlc('pq_pts', 'user_id', 'ts', 'value', 'event_id', 21600)")) ==
      rows(graft.operators.TimeSeries.ohlc(spark.table("pq_pts"),
        "user_id", "ts", "value", "event_id", 21600L)))
    assert(rows(spark.sql("SELECT * FROM downsample_minmax('pq_pts', 'user_id', 'ts', 'value', 'event_id', 21600)")) ==
      rows(graft.operators.TimeSeries.downsampleMinMax(spark.table("pq_pts"),
        "user_id", "ts", "value", "event_id", 21600L)))
    assert(rows(spark.sql("SELECT * FROM rate_of_change('pq_pts', 'user_id', 'ts', 'value', 'event_id')")) ==
      rows(graft.operators.TimeSeries.rateOfChange(spark.table("pq_pts"),
        "user_id", "ts", "value", "event_id")))
    assert(rows(spark.sql("SELECT * FROM detect_gaps('pq_events', 'user_id', 'ts', 86400)")) ==
      rows(graft.operators.TimeSeries.detectGaps(events, "user_id", "ts", 86400L)))
    assert(rows(spark.sql("SELECT * FROM line_dedup('pq_docs', 'doc_id', 'text', 5)")) ==
      rows(graft.operators.Curation.lineDedup(docs, "doc_id", "text", 5)))
    assert(rows(spark.sql(
      "SELECT * FROM hist_quantiles('pq_events', 'value', 'event_type', 0.0D, 600.0D, 120, '0.5,0.9')")) ==
      rows(graft.operators.Sketch.histogramQuantiles(
        graft.operators.Sketch.histogramBuild(events, col("value"), Seq("event_type"), 0.0, 600.0, 120),
        Seq("event_type"), 0.0, 600.0, 120, Seq(0.5, 0.9))))
    assert(rows(spark.sql(
      "SELECT * FROM anomaly_zscore('pq_events', 'user_id', 'ts', 'value', 259200000000)")) ==
      rows(graft.operators.TimeSeries.anomalyZScore(
        events, "user_id", "ts", "value", 259200000000L)))
    assert(rows(spark.sql("SELECT * FROM bpe_pairs('pq_docs', 'text')")) ==
      rows(graft.operators.Vocab.bpePairCounts(docs, "text")))
    assert(rows(spark.sql("SELECT * FROM hll_distinct('pq_events', 'user_id', 'event_type', 8)")) ==
      rows(graft.operators.Sketch.hllDistinct(events, col("user_id").cast("string"), Seq("event_type"), 8)))
    assert(rows(spark.sql(
      """SELECT * FROM hll_setops('pq_events', 'user_id',
        |  "event_type = 'click'", "event_type = 'view'", 8)""".stripMargin)) ==
      rows(graft.operators.Sketch.hllSetOps(events, col("user_id").cast("string"),
        col("event_type") === "click", col("event_type") === "view", 8)))
    assert(rows(spark.sql("SELECT * FROM bm25_topk('pq_docs', 'doc_id', 'text', 'spark hash join', 20)")) ==
      rows(graft.operators.TextSearch.bm25TopK(docs, "doc_id", "text",
        Seq("spark", "hash", "join"), 20)))
    assert(rows(spark.sql("SELECT * FROM inverted_index('pq_docs', 'doc_id', 'text') WHERE term = 'spark'")) ==
      rows(graft.operators.TextSearch.invertedIndex(docs, "doc_id", "text")
        .filter(col("term") === "spark")))
    assert(rows(spark.sql("SELECT * FROM ngram_count_of_counts('pq_docs', 'text', 3)")) ==
      rows(graft.operators.Vocab.ngramCountOfCounts(docs, "text", 3)))
    assert(rows(spark.sql(
      "SELECT * FROM semantic_dedup('pq_emb', 'vec_id', 'embedding', 0.9D, 8, 16, 64)")) ==
      rows(graft.operators.Dedup.neardupClusters(emb, "vec_id",
        graft.operators.Similarity.cosineNearDupPairsBlocked(
          emb, "vec_id", "embedding", 0.9, nbits = 8, tables = 16, dim = 64))))
    assert(rows(spark.sql(
      "SELECT * FROM hist_quantiles_auto('pq_events', 'value', 'event_type', 120, '0.5,0.9')")) ==
      rows(graft.operators.Sketch.histogramQuantilesAuto(
        events, col("value"), Seq("event_type"), 120, Seq(0.5, 0.9))))
    assert(rows(spark.sql("SELECT * FROM bpe_train('pq_docs', 'text', 4)")) ==
      rows(graft.operators.Vocab.bpeTrain(docs, "text", 4)))
    assert(rows(spark.sql("SELECT * FROM bpe_encode('pq_docs', 'text', 4)")) ==
      rows {
        val m = graft.operators.Vocab.bpeTrain(docs, "text", 4)
          .orderBy("step").collect()
          .map(r => (r.getAs[String]("left_sym"), r.getAs[String]("right_sym")))
          .toSeq
        graft.operators.Vocab.bpeEncodeLargeK(docs, "text", m)
      })
    assert(rows(spark.sql("SELECT * FROM priority_sample('pq_docs', 'doc_id', 'n_chars', 50)")) ==
      rows(graft.operators.Curation.prioritySample(docs, "doc_id", "n_chars", 50)))
    assert(rows(spark.sql(
      """SELECT * FROM cep_pattern('pq_events', 'user_id', 'ts', 'value',
        |  'event_type', 'event_id', "event_type = 'signup'",
        |  "event_type IN ('click', 'view')", "event_type = 'purchase'",
        |  0, 3, 259200000000)""".stripMargin)) ==
      rows(graft.operators.Cep.matchesPattern(events,
        graft.operators.Cep.Params("user_id", "ts", "value", "event_type", "event_id"),
        graft.operators.Cep.PatternSpec(
          a = col("event_type") === "signup",
          b = col("event_type").isin("click", "view"),
          c = col("event_type") === "purchase",
          minB = 0, maxB = 3, withinMicros = 259200000000L))))
  }

  test("versioned-lake table functions: time_travel / version_diff from SQL text") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tvf_lake").toString
    import spark.implicits._
    val v1 = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
      .toDF("id", "part", "v")
    graft.sources.VersionedLake.create(v1, s"$dir/lake", "part",
      blooms = Seq(graft.sources.VersionedLake.BloomSpec("id")))
    val changes = Seq((2L, "a", 25.0, false), (4L, "b", 40.0, false))
      .toDF("id", "part", "v", "_deleted")
    graft.sources.VersionedLake.mergeUpsert(
      spark, s"$dir/lake", changes, Seq("id"), "part")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rows(spark.sql(s"SELECT * FROM time_travel('$dir/lake', 1)")) ==
      rows(graft.sources.VersionedLake.read(spark, s"$dir/lake", Some(1))))
    assert(rows(spark.sql(s"SELECT * FROM time_travel('$dir/lake', 2)")) ==
      rows(graft.sources.VersionedLake.read(spark, s"$dir/lake", Some(2))))
    assert(rows(spark.sql(s"SELECT * FROM version_diff('$dir/lake', 1, 2)")) ==
      rows(graft.sources.VersionedLake.diff(spark, s"$dir/lake", 1, 2)))
    val t1 = graft.sources.VersionedLake.commitTimestamp(s"$dir/lake", 1)
    assert(rows(spark.sql(s"SELECT * FROM time_travel_at('$dir/lake', ${t1}L)")) ==
      rows(graft.sources.VersionedLake.read(spark, s"$dir/lake", Some(1))))
    assert(rows(spark.sql(s"SELECT * FROM read_point('$dir/lake', 'id', '2') WHERE id = 2")) ==
      rows(graft.sources.VersionedLake.read(spark, s"$dir/lake").filter(col("id") === 2L)))
    // and the change algebra is visible from SQL alone
    val byChange = spark.sql(
      s"""SELECT _change, count(*) AS n FROM version_diff('$dir/lake', 1, 2)
         |GROUP BY _change""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byChange == Map("delete" -> 1L, "insert" -> 2L)) // update = del+ins, plus the new row
  }

  test("lake maintenance table functions: read_range / lake_compact / lake_vacuum / lake_clean_orphans") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tvf_maint").toString
    val lake = s"$dir/lake"
    import spark.implicits._
    // fragmented two-commit lake (every commit records zone maps on
    // every column)
    graft.sources.VersionedLake.create(
      (1 to 50).map(i => (i.toLong, s"p${i % 2}", i.toDouble)).toDF("id", "part", "v")
        .repartition(3),
      lake, "part")
    graft.sources.VersionedLake.append(
      (51 to 100).map(i => (i.toLong, s"p${i % 2}", i.toDouble)).toDF("id", "part", "v")
        .repartition(3),
      lake, "part")

    // read_range from SQL == readRange from Scala, exact-filtered
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rows(spark.sql(
      s"SELECT * FROM read_range('$lake', 'v', 20.0D, 40.0D) WHERE v BETWEEN 20.0 AND 40.0")) ==
      rows(graft.sources.VersionedLake.readRange(spark, lake, "v", 20.0, 40.0, None)
        .filter(col("v").between(20.0, 40.0))))
    assert(spark.sql(
      s"SELECT count(*) AS n FROM read_range('$lake', 'v', 20.0D, 40.0D) WHERE v BETWEEN 20.0 AND 40.0")
      .head().getLong(0) == 21L)
    // any recorded column prunes, not only v
    assert(spark.sql(
      s"SELECT count(*) AS n FROM read_range('$lake', 'id', 20.0D, 40.0D) WHERE id BETWEEN 20 AND 40")
      .head().getLong(0) == 21L)

    // lake_compact commits v3 and reports it; partitions collapse
    val committed = spark.sql(s"SELECT * FROM lake_compact('$lake', 'part')")
      .head().getLong(0)
    assert(committed == 3L)
    val post = graft.sources.VersionedLake.manifestEntries(lake, 3)
    assert(post.groupBy(_.partition).forall(_._2.size == 1))
    // the consolidated files re-record zone maps through the SQL path
    assert(post.forall(_.colStats.contains("v")))

    // lake_vacuum expires history below the compaction point
    val vac = spark.sql(s"SELECT * FROM lake_vacuum('$lake', 3)").head()
    assert(vac.getLong(0) == 3L && vac.getLong(1) == 3L)
    intercept[IllegalArgumentException] {
      graft.sources.VersionedLake.manifest(lake, 1)
    }
    assert(graft.sources.VersionedLake.read(spark, lake).count() == 100)

    // lake_clean_orphans reports the aged litter it removed
    val orphan = java.nio.file.Paths.get(s"$lake/data/part=p0/c9-orphan.parquet")
    java.nio.file.Files.write(orphan, Array[Byte](1))
    orphan.toFile.setLastModified(System.currentTimeMillis() - 60 * 60 * 1000L)
    val deleted = spark.sql(s"SELECT * FROM lake_clean_orphans('$lake')")
      .collect().map(_.getString(0))
    assert(deleted.exists(_.endsWith("c9-orphan.parquet")))
    assert(!java.nio.file.Files.exists(orphan))
  }

  test("multimodal table functions: decode_media / decode_audio / decode_video_frames from SQL") {
    import spark.implicits._
    val docs = Seq((1L, "a mixed media corpus doc"), (2L, "another document here!"),
      (3L, "and a third one for luck")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    graft.operators.Multimodal.asMixedMedia(docs, "doc_id", "text")
      .createOrReplaceTempView("mm_img")
    assert(rows(spark.sql("SELECT media_id, width, height, content_hash FROM decode_media('mm_img')")) ==
      rows(graft.operators.Multimodal.decode(spark.table("mm_img")).toDF()
        .select("media_id", "width", "height", "content_hash")))
    graft.operators.Multimodal.asWavMedia(docs, "doc_id", "text")
      .createOrReplaceTempView("mm_wav")
    assert(rows(spark.sql("SELECT * FROM decode_audio('mm_wav')")) ==
      rows(graft.operators.Multimodal.decodeAudio(spark.table("mm_wav")).toDF()))
    graft.operators.Multimodal.asAviMedia(docs, "doc_id", "text")
      .createOrReplaceTempView("mm_avi")
    assert(rows(spark.sql("SELECT * FROM decode_video_frames('mm_avi', 1)")) ==
      rows(graft.operators.Multimodal.decodeVideoFrames(spark.table("mm_avi"), 1)))
    assert(rows(spark.sql("SELECT * FROM audio_goertzel('mm_wav', 50)")) ==
      rows(graft.operators.Multimodal.audioGoertzel(spark.table("mm_wav"), 50).toDF()))
    graft.operators.Multimodal.asRencodedMedia(docs, "doc_id", "text")
      .createOrReplaceTempView("mm_renc")
    assert(rows(spark.sql("SELECT * FROM phash('mm_renc')")) ==
      rows(graft.operators.Multimodal.phash(spark.table("mm_renc"))))
    assert(rows(spark.sql("SELECT * FROM phash_neardup('mm_renc', 3)")) ==
      rows(graft.operators.Dedup.hammingPairs(
        graft.operators.Multimodal.phash(spark.table("mm_renc"))
          .select(col("media_id").as("doc"), col("phash").as("h")), 3)))
  }

  test("round-12 table functions: bm25_batch / unigram_train / unigram_encode from SQL") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val docs = Tables.documents(spark, sf("sf0.001")).limit(60)
    docs.createOrReplaceTempView("r12_docs")
    val queries = Seq((1L, "the quick"), (2L, "data lake"))
      .toDF("query_id", "qtext")
    queries.createOrReplaceTempView("r12_queries")
    assert(rows(spark.sql(
      "SELECT * FROM bm25_batch('r12_docs', 'doc_id', 'text', 'r12_queries', 'query_id', 'qtext', 5)")) ==
      rows(graft.operators.TextSearch.bm25TopKBatch(
        docs, "doc_id", "text", queries, "query_id", "qtext", 5)))
    assert(rows(spark.sql(
      "SELECT * FROM unigram_train('r12_docs', 'text', 80, 1, 4, 150)")) ==
      rows(graft.operators.Vocab.unigramTrain(docs, "text", 80, 1, 4, 150)))
    val model = graft.operators.Vocab.unigramTrain(docs, "text", 80, 1, 4, 150)
      .collect().map(r => (r.getAs[String]("piece"), r.getAs[Long]("cost"))).toSeq
    assert(rows(spark.sql(
      "SELECT * FROM unigram_encode('r12_docs', 'doc_id', 'text', 80, 1, 4, 150)")) ==
      rows(graft.operators.Vocab.unigramEncode(docs, "doc_id", "text", model, 4)))
  }

  test("near-dup table functions: set_jaccard_pairs / audio_fingerprints / video_neardup / audio_neardup") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val items = Seq((10L, 1L), (10L, 2L), (10L, 3L),
      (20L, 2L), (20L, 3L), (20L, 4L), (30L, 9L)).toDF("doc", "e")
    items.createOrReplaceTempView("sj_items")
    assert(rows(spark.sql("SELECT * FROM set_jaccard_pairs('sj_items', 'doc', 'e', 0.4, 0)")) ==
      rows(graft.operators.Dedup.setJaccardPairs(items, "doc", "e", 0.4, None)))
    val docs = Seq((1L, "the quick brown fox jumps over the dog " * 4),
      (2L, "a completely different corpus document here " * 4)).toDF("doc_id", "text")
    val vmedia = graft.operators.Multimodal.asRencodedVideoMedia(docs, "doc_id", "text")
    vmedia.createOrReplaceTempView("sj_avi")
    assert(rows(spark.sql("SELECT * FROM video_neardup('sj_avi', 2, 0.5, 100)")) ==
      rows(graft.operators.Dedup.setJaccardPairs(
        graft.operators.Multimodal.decodeVideoFrames(vmedia, 2)
          .select(col("media_id").as("doc"), col("frame_hash").as("s")),
        "doc", "s", 0.5, Some(100L))))
    val amedia = graft.operators.Multimodal.asRencodedAudioMedia(docs, "doc_id", "text", 50)
    amedia.createOrReplaceTempView("sj_wav")
    assert(rows(spark.sql("SELECT * FROM audio_fingerprints('sj_wav', 50)")) ==
      rows(graft.operators.Multimodal.audioFingerprints(amedia, 50)))
    assert(rows(spark.sql("SELECT * FROM audio_neardup('sj_wav', 50, 0.5, 100)")) ==
      rows(graft.operators.Dedup.setJaccardPairs(
        graft.operators.Multimodal.audioFingerprints(amedia, 50)
          .select(col("media_id").as("doc"), col("whash").as("s")),
        "doc", "s", 0.5, Some(100L))))
    // the incremental forms are side-effecting: fresh lakes per call,
    // SQL result == the Scala API result on equally fresh lakes
    val r1 = java.nio.file.Files.createTempDirectory("graft_tvf_incr").toString
    val r2 = java.nio.file.Files.createTempDirectory("graft_tvf_incr").toString
    val b = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g h"))
      .toDF("doc_id", "text")
    b.createOrReplaceTempView("sj_incr_docs")
    assert(rows(spark.sql(
      s"SELECT * FROM dedup_index_batch('sj_incr_docs', 'doc_id', 'text', '$r1/docs', '$r1/index', 3, 0.5)")) ==
      rows(graft.streaming.DedupStream.indexBatch(b, "doc_id", "text",
        s"$r2/docs", s"$r2/index", n = 3, threshold = 0.5)))
    val e1 = java.nio.file.Files.createTempDirectory("graft_tvf_elem").toString
    val e2 = java.nio.file.Files.createTempDirectory("graft_tvf_elem").toString
    val it = Seq((1L, 7L), (1L, 8L), (2L, 7L), (2L, 8L), (3L, 99L)).toDF("doc", "e")
    it.createOrReplaceTempView("sj_incr_items")
    assert(rows(spark.sql(
      s"SELECT * FROM dedup_index_elements('sj_incr_items', 'doc', 'e', '$e1/elems', 0.5, 0)")) ==
      rows(graft.streaming.DedupStream.indexElementsBatch(it, "doc", "e",
        s"$e2/elems", threshold = 0.5)))
  }

  test("rrf_fuse TVF equals the Scala API") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val lex = Seq((1L, 1L, 10L), (1L, 2L, 11L)).toDF("query_id", "rank", "doc_id")
    val vec = Seq((1L, 1L, 12L), (1L, 2L, 10L)).toDF("query_id", "rank", "doc_id")
    lex.createOrReplaceTempView("rrf_lex")
    vec.createOrReplaceTempView("rrf_vec")
    assert(rows(spark.sql("SELECT * FROM rrf_fuse('rrf_lex', 'rrf_vec', 5, 60)")) ==
      rows(graft.operators.TextSearch.rrfFuse(lex, vec, k = 5)))
  }

  test("round-14 TVFs equal the Scala API: html_extract, link graph, learned quality, prune") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet

    val pages = Seq(
      ("a.example", 1L, "<p>body text here</p><nav><a href=\"https://b.example/\">b</a> " +
        "<a href=\"https://c.example/\">c</a></nav>"),
      ("b.example", 2L, "<p>more prose</p><a href=\"https://a.example/\">a</a>"))
      .toDF("host", "doc_id", "html")
    pages.createOrReplaceTempView("lg_pages")

    assert(rows(spark.sql("SELECT * FROM html_extract('lg_pages', 'doc_id', 'html', 1, 2)")) ==
      rows(pages.select(col("doc_id"),
        graft.operators.Markup.extractText(col("html")).as("e"))
        .select(col("doc_id"), col("e.text").as("text"),
          col("e.n_blocks").as("n_blocks"), col("e.n_kept").as("n_kept"))))

    val edges = graft.operators.LinkGraph.domainEdges(pages, "host", "html")
    assert(rows(spark.sql("SELECT * FROM domain_edges('lg_pages', 'host', 'html')")) ==
      rows(edges))
    edges.createOrReplaceTempView("lg_edges")
    assert(rows(spark.sql("SELECT * FROM link_pagerank('lg_edges', 2, 85)")) ==
      rows(graft.operators.LinkGraph.pagerank(edges, iters = 2)))

    val docs = Seq((1L, "aa bb cc", true), (2L, "dd ee ff", false))
      .toDF("doc_id", "text", "lab")
    docs.createOrReplaceTempView("lq_docs")
    val model = graft.operators.LearnedQuality.train(docs, "doc_id", "text",
      col("lab"), buckets = 64)
    assert(rows(spark.sql(
      "SELECT * FROM quality_learned('lq_docs', 'doc_id', 'text', 'lab', 64)")) ==
      rows(graft.operators.LearnedQuality.score(model, docs, "doc_id", "text")))

    val corpus = Seq((1L, "ab ab"), (2L, "ab ba")).toDF("doc_id", "text")
    corpus.createOrReplaceTempView("up_docs")
    val m = Seq(("a", 10L), ("b", 10L), ("ab", 5L), ("ba", 2L)).toDF("piece", "cnt")
    m.createOrReplaceTempView("up_model")
    assert(rows(spark.sql("SELECT * FROM unigram_prune('up_docs', 'text', 'up_model', 3, 6)")) ==
      rows(graft.operators.Vocab.unigramPrune(corpus, "text",
        Seq(("a", 10L), ("b", 10L), ("ab", 5L), ("ba", 2L)), targetSize = 3)))
  }

  test("round-15 TVFs equal the Scala API: hot_cold_read, retention_drop") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    import graft.streaming.Exporter
    import graft.operators.TimeSeries.GridParams
    val out = java.nio.file.Files.createTempDirectory("tvf_tier").toString
    val p = GridParams(key = "user_id", time = "ts", value = "value",
      status = "event_type", step = "1 HOUR")
    Exporter.backfillOnePass(Tables.events(spark, sf("sf0.001")), p, out, Seq(
      ("2024-01-01", "2024-01-08"), ("2024-01-08", "2024-01-15")))
    assert(rows(spark.sql(
      s"SELECT * FROM hot_cold_read('$out', '2024-01-08T00-00')")) ==
      rows(Exporter.readExport(spark, out)))
    assert(rows(spark.sql(
      s"SELECT * FROM retention_drop('$out', '2024-01-08T00-00')")) ==
      Set(Seq("2024-01-01T00-00")))
    assert(rows(Exporter.readExport(spark, out)
      .select(col("partition_key").cast("string")).distinct()) ==
      Set(Seq("2024-01-08T00-00")))
  }

  test("side-effecting TVFs run at EXECUTION, not analysis: EXPLAIN touches nothing") {
    import graft.streaming.Exporter
    import graft.operators.TimeSeries.GridParams
    val out = java.nio.file.Files.createTempDirectory("tvf_defer").toString
    val p = GridParams(key = "user_id", time = "ts", value = "value",
      status = "event_type", step = "1 HOUR")
    Exporter.backfillOnePass(Tables.events(spark, sf("sf0.001")), p, out, Seq(
      ("2024-01-01", "2024-01-08"), ("2024-01-08", "2024-01-15")))
    def keys = Exporter.readExport(spark, out)
      .select(col("partition_key").cast("string")).distinct()
      .collect().map(_.getString(0)).toSet
    val drop = s"SELECT * FROM retention_drop('$out', '2024-01-08T00-00')"
    // analysis-only paths leave the lake untouched: EXPLAIN, a
    // formatted-plan dump, and an outer query that fails analysis
    spark.sql(s"EXPLAIN $drop").collect()
    spark.sql(drop).explain()
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT no_such_column FROM ($drop)").collect()
    }
    assert(keys == Set("2024-01-01T00-00", "2024-01-08T00-00"),
      "resolving retention_drop must not drop partitions")
    // executing it drops, and the receipt names what it dropped; a
    // SECOND collect of the SAME Dataset reuses the receipt instead of
    // re-running the operation (command semantics per statement — a
    // re-run would find nothing left to drop and return empty)
    val dropped = spark.sql(drop)
    assert(dropped.collect().map(_.getString(0)).toSeq == Seq("2024-01-01T00-00"))
    assert(dropped.collect().map(_.getString(0)).toSeq == Seq("2024-01-01T00-00"),
      "same Dataset must reuse the receipt")
    assert(keys == Set("2024-01-08T00-00"))
    // a NEW statement is a new command and runs again (now a no-op)
    assert(spark.sql(drop).collect().isEmpty)
    // lake_compact defers the same way
    val vlake = java.nio.file.Files.createTempDirectory("tvf_defer_l").toString + "/lake"
    import spark.implicits._
    graft.sources.VersionedLake.create(
      (1 to 8).map(i => (i.toLong, s"p${i % 2}")).toDF("v", "part"), vlake, "part")
    graft.sources.VersionedLake.append(
      (9 to 16).map(i => (i.toLong, s"p${i % 2}")).toDF("v", "part"), vlake, "part")
    spark.sql(s"EXPLAIN SELECT * FROM lake_compact('$vlake', 'part')").collect()
    assert(graft.sources.VersionedLake.currentVersion(vlake) == 2,
      "EXPLAIN must not compact")
    assert(spark.sql(s"SELECT * FROM lake_compact('$vlake', 'part')")
      .head().getLong(0) == 3L)
    assert(graft.sources.VersionedLake.currentVersion(vlake) == 3)
    // receipt reuse must survive DERIVED plans too: show() wraps the
    // plan in a Limit and count() in an Aggregate — each a NEW
    // QueryExecution with a fresh exec node. The memo lives on the
    // shared logical leaf, so one Dataset = one committed compaction
    // however many (and whichever kind of) actions run on it.
    graft.sources.VersionedLake.append(
      (17 to 20).map(i => (i.toLong, s"p${i % 2}")).toDF("v", "part"), vlake, "part")
    val compactOnce = spark.sql(s"SELECT * FROM lake_compact('$vlake', 'part')")
    assert(compactOnce.count() == 1L)
    compactOnce.show()
    assert(compactOnce.head().getLong(0) == 5L)
    assert(graft.sources.VersionedLake.currentVersion(vlake) == 5,
      "count()+show()+head() on one Dataset must commit exactly one compaction")
    // ann_rotate defers the same way: EXPLAIN must neither rebuild nor
    // swap; execution rotates and the receipt names what it did
    val abase = java.nio.file.Files.createTempDirectory("tvf_defer_ann").toString
    val live = s"$abase/live"; val green = s"$abase/green"
    graft.sources.AnnLake.create(
      Tables.embeddings(spark, sf("sf0.001")).limit(60),
      "vec_id", "embedding", live, nlist = 4, dim = 64)
    val rot = s"SELECT * FROM ann_rotate('$live', '$green', 4, 64)"
    spark.sql(s"EXPLAIN $rot").collect()
    assert(!new java.io.File(green).exists(), "EXPLAIN must not reindex")
    assert(!new java.io.File(s"$live/CURRENT").isFile, "EXPLAIN must not cut over")
    val receipt = spark.sql(rot).head()
    assert(receipt.getLong(0) == 1L && receipt.getLong(1) == 0L &&
      receipt.getString(2) == green)
    assert(new java.io.File(s"$live/CURRENT").isFile,
      "executing ann_rotate must swap the handle")
    // the old index survives the rotation (retire is a LATER tick)
    assert(new java.io.File(s"$live/vectors").isDirectory)
    // ann_pq_rotate defers the same way: EXPLAIN neither retrains the
    // books nor swaps; execution rotates the code lake
    val pqlive = s"$abase/pqlive"; val pqgreen = s"$abase/pqgreen"
    val pqemb = Tables.embeddings(spark, sf("sf0.001")).limit(60)
    pqemb.createOrReplaceTempView("tvf_pq_rotate_emb")
    graft.sources.AnnLake.createPq(pqemb, "vec_id", "embedding", pqlive,
      nlist = 4, m = 8, ksub = 16, dim = 64, itersPq = 2)
    val pqrot = s"SELECT * FROM ann_pq_rotate('$pqlive', '$pqgreen', " +
      "'tvf_pq_rotate_emb', 'vec_id', 'embedding', 4, 8, 16, 64)"
    spark.sql(s"EXPLAIN $pqrot").collect()
    assert(!new java.io.File(pqgreen).exists(), "EXPLAIN must not reindexPq")
    assert(!new java.io.File(s"$pqlive/CURRENT").isFile,
      "EXPLAIN must not cut over the PQ lake")
    val pqReceipt = spark.sql(pqrot).head()
    assert(pqReceipt.getLong(0) == 1L && pqReceipt.getString(2) == pqgreen)
    assert(new java.io.File(s"$pqlive/CURRENT").isFile,
      "executing ann_pq_rotate must swap the handle")
    // pack_lake_append defers the same way: EXPLAIN packs nothing
    val pbase = java.nio.file.Files.createTempDirectory("tvf_defer_pack").toString
    Tables.documents(spark, sf("sf0.001")).limit(40)
      .createOrReplaceTempView("tvf_pack_docs")
    val pack = "SELECT * FROM pack_lake_append('tvf_pack_docs', 'doc_id', " +
      s"'CAST(size(split(text, \" \")) AS BIGINT)', 512, '$pbase/lake')"
    spark.sql(s"EXPLAIN $pack").collect()
    assert(!new java.io.File(s"$pbase/lake").exists(), "EXPLAIN must not pack")
    // v1 is the empty watermark-arming commit; the tranche lands as v2
    assert(spark.sql(pack).head().getLong(0) == 2L)
    assert(graft.sources.VersionedLake.currentVersion(s"$pbase/lake") == 2)
    // epoch_lake_append defers the same way; the read TVFs serve the
    // committed layouts back identical to the Scala API
    val ebase = java.nio.file.Files.createTempDirectory("tvf_defer_epoch").toString
    val eappend = "SELECT * FROM epoch_lake_append('tvf_pack_docs', " +
      s"'doc_id', 0, 4, '$ebase/lake')"
    spark.sql(s"EXPLAIN $eappend").collect()
    assert(!new java.io.File(s"$ebase/lake").exists(),
      "EXPLAIN must not commit an epoch layout")
    assert(spark.sql(eappend).head().getLong(0) == 2L)
    val viaTvf = spark.sql(s"SELECT * FROM epoch_read('$ebase/lake', 0)")
      .collect().map(_.toSeq).toSet
    assert(viaTvf == graft.operators.Loader.readEpoch(spark, s"$ebase/lake", 0)
      .collect().map(_.toSeq).toSet && viaTvf.size == 40)
    assert(spark.sql(s"SELECT * FROM epoch_shard_read('$ebase/lake', 0, 2)")
      .collect().map(_.toSeq).toSet ==
      viaTvf.filter(_(1) == 2L))
  }
}

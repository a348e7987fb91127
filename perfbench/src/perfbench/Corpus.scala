package perfbench

import graft.operators.Dedup
import graft.sources.VersionedLake
import graft.streaming.DedupStream
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The curation probe: incremental near-duplicate detection. A
  * 5,000-document corpus is split by a seeded hash into two equal
  * increments; each tick runs `DedupStream.indexBatch` on one increment
  * against the docs and index lakes the earlier tick built, and collects the
  * pairs it introduces. The first tick creates both lakes, the second
  * matches against them.
  */
object Corpus {
  val Docs = 5000
  val Ticks = 2

  final case class Tick(ms: Double, fromMs: Long, toMs: Long, codegen: Long)

  /** The curation layer's probe: set-up, both ticks, and the check, with
    * the layer's metrics. Runs after the traced dashboard phase. */
  def probe(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val a = ctx.a
    val path = s"${ctx.dir("corpus")}/documents.parquet"
    import spark.implicits._
    Gen.documents(a.seed, Docs).toDF("doc_id", "text")
      .withColumn("inc", pmod(xxhash64(lit(a.seed), col("doc_id")), lit(Ticks)))
      .write.parquet(path)
    val docs = spark.read.parquet(path)
    val (ticks, pairs) = pass(ctx, docs, "pass")
    val expected = Dedup.minhashLshPairs(docs.select("doc_id", "text"), "doc_id", "text",
      n = 3, threshold = 0.8)
    val nExp = expected.count()
    val bad = expected.exceptAll(pairs).count() + pairs.exceptAll(expected).count()
    ctx.check("union of dedup tick pairs equals Dedup.minhashLshPairs", math.max(nExp, 1L),
      math.min(bad, math.max(nExp, 1L)))
    Thread.sleep(300) // let the listener bus deliver the ticks' last jobs
    val ms = ticks.map(_.ms)
    ctx.metric("dedup.tick_ms", Stat.median(ms), "ms", ms.size)
    ctx.metric("dedup.docs_per_s", Docs / (ms.sum / 1000.0), "1/s", Docs)
    ctx.metric("dedup.jobs_per_tick",
      Stat.median(ticks.map(k => ctx.runtime.jobsIn(k.fromMs, k.toMs).size.toDouble)),
      "count", ticks.size)
    ctx.metric("dedup.codegen_per_tick", Stat.median(ticks.map(_.codegen.toDouble)),
      "count", ticks.size)
    ctx.metric("dedup.pairs", pairs.count(), "count")
    val dir = ctx.dir("pass")
    def files(l: String) = VersionedLake.manifest(l, VersionedLake.currentVersion(l)).size
    ctx.metric("dedup.index_files", files(s"$dir/index"), "count")
    ctx.metric("dedup.docs_files", files(s"$dir/docs"), "count")
  }

  private def pass(ctx: Ctx, docs: DataFrame, tag: String): (Seq[Tick], DataFrame) = {
    val spark = ctx.spark
    val dir = ctx.dir(tag)
    val out = (0 until Ticks).map { t =>
      val batch = docs.filter(col("inc") === t).select("doc_id", "text")
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val rows = Trace.span("DedupStream", "dedup.tick") {
        DedupStream.indexBatch(batch, "doc_id", "text", s"$dir/docs", s"$dir/index",
          n = 3, threshold = 0.8, appendBatchId = Some(t.toLong)).collect()
      }
      val ms = (System.nanoTime() - n0) / 1e6
      Log.step(f"$tag tick $t: ${rows.length} pairs in $ms%.0f ms")
      (Tick(ms, t0, System.currentTimeMillis(),
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0), rows)
    }
    val schema = "d1 BIGINT, d2 BIGINT, common BIGINT, sz1 BIGINT, sz2 BIGINT, jaccard DOUBLE"
    val pairs = spark.createDataFrame(
      spark.sparkContext.parallelize(out.flatMap(_._2).toSeq, 1),
      org.apache.spark.sql.types.StructType.fromDDL(schema))
    (out.map(_._1), pairs)
  }
}

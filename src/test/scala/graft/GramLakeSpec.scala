package graft

import org.apache.spark.sql.functions._
import graft.operators.Curation
import graft.sources.{GramLake, VersionedLake}

/** The incremental decontamination index: exact parity with the
  * one-shot operators after multi-tranche builds, bench-driven pruning
  * of the train read, exactly-once appends, and the mismatched-n
  * refusal.
  */
class GramLakeSpec extends SparkSpec {

  private lazy val root = {
    val r = java.nio.file.Files.createTempDirectory("graft_gram").toString
    val docs = Tables.documents(spark, sf("sf0.001"))
    // train in two increments, bench in two tranches — every leg grown
    GramLake.appendTrain(docs.filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 2 === 0),
      "doc_id", "text", n = 5, r, batchId = Some(0L))
    GramLake.appendTrain(docs.filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 2 =!= 0),
      "doc_id", "text", n = 5, r, batchId = Some(1L))
    GramLake.appendBench(docs.filter(col("doc_id") % 20 === 0),
      "doc_id", "text", n = 5, r, batchId = Some(0L))
    GramLake.appendBench(docs.filter(col("doc_id") % 20 === 10),
      "doc_id", "text", n = 5, r, batchId = Some(1L))
    r
  }

  private def train = Tables.documents(spark, sf("sf0.001"))
    .filter(col("doc_id") % 10 =!= 0)
  private def bench = Tables.documents(spark, sf("sf0.001"))
    .filter(col("doc_id") % 10 === 0)

  test("index-backed decontaminate equals the one-shot operator on the union tranches") {
    val viaLake = GramLake.decontaminate(spark, root)
      .collect().map(_.toSeq).toSet
    val oneShot = Curation.decontaminate(train, bench, "doc_id", "text", n = 5)
      .collect().map(_.toSeq).toSet
    assert(viaLake == oneShot && viaLake.nonEmpty)
  }

  test("benchVersion pins the report to an earlier tranche set (report time travel)") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    // bench v1 = tranche 0 only: the pinned report must equal the
    // one-shot operator run against ONLY that tranche
    val pinned = GramLake.decontaminate(spark, root, benchVersion = Some(1))
      .collect().map(_.toSeq).toSet
    val oneShot = Curation.decontaminate(train,
      docs.filter(col("doc_id") % 20 === 0), "doc_id", "text", n = 5)
      .collect().map(_.toSeq).toSet
    assert(pinned == oneShot && pinned.nonEmpty)
    assert(pinned != GramLake.decontaminate(spark, root)
      .collect().map(_.toSeq).toSet,
      "the second tranche must change the current report")
  }

  test("index-backed contaminationScore equals the one-shot, zero-gram docs included") {
    val viaLake = GramLake.contaminationScore(spark, root)
      .collect().map(_.toSeq).toSet
    val oneShot = Curation.contaminationScore(train, bench, "doc_id", "text", n = 5)
      .collect().map(_.toSeq).toSet
    assert(viaLake == oneShot && viaLake.nonEmpty)
    // every train doc has a row (the roster leg), not just contaminated ones
    assert(GramLake.contaminationScore(spark, root).count() == train.count())
  }

  test("a small bench probe reads a pruned slice of the train grams, not the index") {
    // one bench gram = one partition + Bloom-admitted files within it
    val g = VersionedLake.read(spark, s"$root/train")
      .select(col("g")).limit(1).head().getString(0)
    val all = VersionedLake.read(spark, s"$root/train").inputFiles.length
    val pruned = GramLake.prunedTrainFiles(spark, root, Seq(g))
    assert(pruned.nonEmpty && pruned.length < all,
      s"expected pruning: ${pruned.length} vs $all")
  }

  test("benchStream: streamed tranches build the same index as batched appends") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val r = java.nio.file.Files.createTempDirectory("graft_gram_stream").toString
    val docs = Tables.documents(spark, sf("sf0.001"))
    GramLake.appendTrain(train, "doc_id", "text", n = 5, r, batchId = Some(0L))
    val src = MemoryStream[(Long, String)]
    val q = GramLake.benchStream(
      src.toDF().toDF("doc_id", "text"), "doc_id", "text", n = 5, r,
      checkpointDir = s"$r/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    def tranche(m: Int): Seq[(Long, String)] = docs
      .filter(col("doc_id") % 20 === m).select(col("doc_id"), col("text"))
      .collect().map(x => (x.getLong(0), x.getString(1))).toSeq
    src.addData(tranche(0): _*)
    q.processAllAvailable()
    src.addData(tranche(10): _*)
    q.processAllAvailable()
    q.stop()
    assert(GramLake.decontaminate(spark, r).collect().map(_.toSeq).toSet ==
      GramLake.decontaminate(spark, root).collect().map(_.toSeq).toSet)
  }

  test("gram TVFs equal the Scala API") {
    assert(spark.sql(s"SELECT * FROM gram_decontaminate('$root')")
      .collect().map(_.toSeq).toSet ==
      GramLake.decontaminate(spark, root).collect().map(_.toSeq).toSet)
    assert(spark.sql(s"SELECT * FROM gram_score('$root')")
      .collect().map(_.toSeq).toSet ==
      GramLake.contaminationScore(spark, root).collect().map(_.toSeq).toSet)
  }

  test("appends are exactly-once under batch-id re-delivery; mismatched n is refused") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val vT = VersionedLake.currentVersion(s"$root/train")
    val vB = VersionedLake.currentVersion(s"$root/bench")
    GramLake.appendTrain(docs.filter(col("doc_id") % 10 =!= 0),
      "doc_id", "text", n = 5, root, batchId = Some(1L))
    GramLake.appendBench(docs.filter(col("doc_id") % 20 === 10),
      "doc_id", "text", n = 5, root, batchId = Some(1L))
    assert(VersionedLake.currentVersion(s"$root/train") == vT &&
      VersionedLake.currentVersion(s"$root/bench") == vB,
      "replayed batch ids must not advance any leg")
    // a tranche shingled with a different n would silently break the
    // join — the immutable table property refuses it at append time
    intercept[IllegalArgumentException] {
      GramLake.appendBench(docs.filter(col("doc_id") % 20 === 10),
        "doc_id", "text", n = 4, root, batchId = Some(2L))
    }
  }
}

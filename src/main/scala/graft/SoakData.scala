package graft

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions.col

/** Build a synthetic data decade ABOVE the largest driver-provided
  * scale factor, for the scale soak (`scripts/soak10x.sh`): the
  * committed soak table showed every 0.01→0.1 exponent under 0.33,
  * i.e. the provided SFs are fixture-cost dominated and say nothing
  * about how the heavy dedup/ANN/BM25 paths scale with DATA (r19
  * verdict, "What's missing" 2). A 10× documents/embeddings corpus
  * gives the exponent fit one decade that is actually data-driven.
  *
  * Determinism: replica 0 is the source rows byte-identical; replica
  * k > 0 shifts ids by k·(max_id+1) and perturbs CONTENT with pure
  * hash arithmetic (no RNG state, no time), so every run of this main
  * writes the same corpus.
  *
  * The perturbation is chosen so the corpus's duplicate structure
  * stays INTRA-replica: documents salt every 7th token per replica
  * (any 5-gram shingle window crossing a salted token differs, so
  * cross-replica Jaccard falls well below dedup thresholds);
  * embeddings get ±35% per-dimension relative noise (cross-replica
  * cosine ≈ 0.89, below near-dup thresholds). Ten exact copies would
  * instead make every near-dup gate quadratic in the replication
  * factor — 10-way clusters everywhere — and the soak would measure
  * that fixture pathology, not scaling.
  */
object SoakData {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("target/soak10x")
    val reps = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    val docs = Tables.documents(spark, src)
    val emb = Tables.embeddings(spark, src)
    val docStride = docs.agg(F.max(col("doc_id"))).head().getLong(0) + 1L
    val embStride = emb.agg(F.max(col("vec_id"))).head().getLong(0) + 1L
    val repDf = spark.range(reps.toLong).toDF("rep")

    val docs10 = docs.crossJoin(F.broadcast(repDf))
      .withColumn("text", F.when(col("rep") === 0, col("text")).otherwise(
        F.array_join(
          F.expr("transform(split(text, ' '), (w, i) -> " +
            "IF((i + rep) % 7 = 0, concat(w, '_r', rep), w))"), " ")))
      .withColumn("doc_id", col("doc_id") + col("rep") * docStride)
      .withColumn("n_chars", F.length(col("text")))
      .select("doc_id", "text", "lang", "source", "n_chars")

    val emb10 = emb.crossJoin(F.broadcast(repDf))
      .withColumn("embedding", F.when(col("rep") === 0, col("embedding")).otherwise(
        F.expr("transform(embedding, (x, i) -> CAST(" +
          "x * (1.0 + (pmod(hash(vec_id, rep, i), 1000) - 500) / 1428.0) " +
          "+ (pmod(hash(rep, vec_id, i), 1000) - 500) / 50000.0 AS FLOAT))")))
      .withColumn("vec_id", col("vec_id") + col("rep") * embStride)
      .select("vec_id", "embedding", "label")

    // one directory per table, named like the driver's single files so
    // Tables.apply resolves them identically
    docs10.repartition(8).write.mode("overwrite").parquet(s"$out/documents.parquet")
    emb10.repartition(8).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"""{"soak_corpus":"$out","reps":$reps,"documents":${spark.read.parquet(s"$out/documents.parquet").count()},"embeddings":${spark.read.parquet(s"$out/embeddings.parquet").count()}}""")
    spark.stop()
  }
}

package graft

/** Dump `.explain("formatted")` for the named gates to
  * `<outDir>/<gate>_<tag>.txt` — the plan evidence optimization claims
  * are checked against (plans/r20/). Builds its session with
  * [[GraftSession.local]], like Bench, and runs each gate on its own
  * session as Bench does, so the captured plan is the one the bench
  * executes. Usage:
  *   runMain graft.PlanDump <outDir> <tag> <gate1,gate2,...>
  * with SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in Bench.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.envCpus)
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val df = fn(spark, sfDir) // builds fixtures on first call
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote $outDir/${name}_$tag.txt (${plan.length} chars)")
      CacheRegistry.clearAll()
    }
    spark.stop()
  }
}

package graft

import graft.plans.GraftExtensions
import org.apache.spark.sql.{GraftShim, SparkSession}

/** The one place sessions are built and the engine is installed. */
object GraftSession {

  /** A `local[cpus]` session with the engine installed: UTC, one shuffle
    * partition per core, UI off, and capped listener-state retention —
    * the app-status store collects per-task metrics even with the UI
    * off, and a 200-gate session otherwise drags hundreds of MB of it
    * (heap and GC grow, and late gates read slower than early ones).
    * Artifact isolation is off: every gate runs on its own clone
    * ([[isolated]]), and with isolation on each clone's first job sets
    * up its own artifact state on the executors, about 0.1 s a gate;
    * the engine adds no per-session artifacts. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "25")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    install(spark)
    spark
  }

  /** Cores for a main's session: `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Apply [[GraftExtensions]] — the same list `spark.sql.extensions`
    * injects on a cluster — to a session that already exists, and set
    * its confs. Idempotent. */
  def install(spark: SparkSession): Unit = {
    GraftShim.applyExtensions(spark, new GraftExtensions)
    GraftExtensions.Confs.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** A gate's own session: a clone of `spark` (its runtime confs, temp
    * views and functions) with the engine installed, so what one gate
    * sets or registers never reaches another. */
  def isolated(spark: SparkSession): SparkSession = {
    val s = GraftShim.cloneSession(spark)
    install(s)
    s
  }
}

package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** The benchmark's JVM: one workload, one seed, one process.
  *
  * {{{
  * java -cp <classes>:<spark classpath> perfbench.Main --workload fleet_live \
  *   --seed 1 --seconds 10 --trace 0 --cores 4 --work <dir> --out <file>
  * }}}
  *
  * Writes a JSON result to `--out`: every metric it measured (value, unit,
  * sample count), the operations attempted and failed, and, for traced runs,
  * the spans and Spark job records the reducer turns into per-layer self
  * times. `run.py` wraps this and prints the benchmark's result line.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val ctx = new Ctx(a)
    try {
      a.workload match {
        case "fleet_live" => Fleet.live(ctx)
        case "fleet_dashboard" => Dashboard.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      ctx.write()
      Log.step("result written")
    } finally ctx.spark.stop()
    Log.step("session stopped")
  }
}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    cores: Int, work: String, out: String, baseline: Boolean)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("cores").toInt, need("work"), need("out"),
      kv.get("baseline").contains("1"))
  }
}

/** Shared run context: the session, the metrics, the listeners. */
final class Ctx(val a: Args) {
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[${a.cores}]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", a.cores.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.ui.retainedJobs", "100")
    .config("spark.ui.retainedStages", "100")
    .config("spark.ui.retainedTasks", "2000")
    .config("spark.sql.ui.retainedExecutions", "25")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", s"${a.work}/spark-local")
    .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    .config("spark.sql.streaming.checkpointLocation", s"${a.work}/checkpoints")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")

  /** query id → layer, for attributing streaming jobs and progress. */
  val queryLayers = new java.util.concurrent.ConcurrentHashMap[String, String]()
  val runtime = new RuntimeListener(id => Option(queryLayers.get(id)))
  if (a.trace) {
    spark.sparkContext.addSparkListener(runtime)
    spark.listenerManager.register(runtime)
  }
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
  })

  private final case class Metric(value: Double, unit: String, n: Long)
  private val metrics = mutable.LinkedHashMap.empty[String, Metric]
  var attempted = 0L
  var failed = 0L
  val checks = mutable.ArrayBuffer.empty[String]
  val extra = mutable.LinkedHashMap.empty[String, String] // raw JSON fragments

  def metric(name: String, value: Double, unit: String, n: Long = 1): Unit = {
    require(!value.isNaN && !value.isInfinite, s"metric $name is $value")
    metrics(name) = Metric(value, unit, n)
  }

  /** Count one verified operation class: `bad` of `total` were wrong. */
  def check(what: String, total: Long, bad: Long): Unit = {
    attempted += total
    failed += bad
    checks += s"$what: ${total - bad}/$total correct"
    System.err.println(s"check $what: ${total - bad}/$total correct")
  }

  def dir(name: String): String = {
    val d = new File(a.work, name)
    d.mkdirs()
    d.getAbsolutePath
  }

  /** Run set-up `reps` times (each into a fresh directory), report the
    * median as `setup_s`, and return the last set-up's state. `warm` runs,
    * untimed, on the first set-up's state before the others are built. */
  def setup[S](reps: Int)(f: String => S, warm: S => Unit = (_: S) => ()): S = {
    var last: Option[S] = None
    val secs = (1 to reps).map { r =>
      val t0 = System.nanoTime()
      last = Some(f(dir(s"setup$r")))
      val s = (System.nanoTime() - t0) / 1e9
      if (r == 1) warm(last.get)
      s
    }
    metric("setup_s", Stat.median(secs), "s", reps)
    Log.step(f"setup_s samples: ${secs.map(s => f"$s%.3f").mkString(" ")}")
    last.get
  }

  /** The measured phase, traced when the run is; its wall time is kept as
    * `measured_wall_ms` for the reducer's comparison of traced and untraced
    * runs. */
  def measured[T](body: => T): T = if (a.trace) traced(body) else {
    val t0 = System.nanoTime()
    val out = body
    metric("measured_wall_ms", (System.nanoTime() - t0) / 1e6, "ms")
    out
  }

  /** Run `body` with tracing on, then derive the runtime layer's metrics
    * (jobs, tasks, scheduler wait, shuffle, spill, planning, codegen, GC,
    * JIT, heap) over the interval it covered. */
  private def traced[T](body: => T): T = {
    Trace.on = true
    JvmSnap.resetHeapPeak()
    val j0 = JvmSnap.now()
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val out = try body finally Trace.on = false
    val n1 = System.nanoTime()
    metric("measured_wall_ms", (n1 - n0) / 1e6, "ms")
    val t1 = System.currentTimeMillis()
    val j1 = JvmSnap.now()
    Thread.sleep(300) // let the listener bus deliver the interval's last events
    Trace.spans.add(Span(Trace.nextId(), 0L, 0L, "Workload", "measured", n0, n1, "main"))
    val jobs = runtime.jobsIn(t0, t1)
    val wallMs = math.max(1L, t1 - t0).toDouble
    metric("spark.jobs", jobs.size, "count")
    metric("spark.tasks", jobs.map(_.tasks).sum, "count")
    metric("spark.task_busy_frac", jobs.map(_.busyMs).sum / (wallMs * a.cores), "frac")
    metric("spark.sched_wait_ms", jobs.map(_.waitMs).sum, "ms")
    metric("spark.shuffle_mb", jobs.map(_.shuffleBytes).sum / 1048576.0, "MB")
    metric("spark.spill_mb", jobs.map(_.spillBytes).sum / 1048576.0, "MB")
    val phases = runtime.planPhases.asScala.filter { case (s, _) => s >= t0 && s <= t1 }
    metric("spark.plan_ms", phases.map { case (s, e) => (e - s).toDouble }.sum, "ms")
    metric("spark.codegen_n", j1.cgN - j0.cgN, "count")
    metric("spark.codegen_ms", math.max(0.0, j1.cgMs - j0.cgMs), "ms")
    metric("jvm.jit_ms", j1.jitMs - j0.jitMs, "ms")
    metric("jvm.gc_ms", j1.gcMs - j0.gcMs, "ms")
    metric("jvm.heap_peak_mb", JvmSnap.heapPeakMb(), "MB")
    val js = jobs.map(j => s"""{"id":${j.id},"layer":"${j.layer}","start":${j.start},""" +
      s""""end":${j.end},"tasks":${j.tasks},"busy_ms":${j.busyMs},"wait_ms":${j.waitMs}}""")
    extra("jobs") = js.mkString("[", ",", "]")
    out
  }

  def write(): Unit = {
    val sb = new StringBuilder
    sb ++= "{\"workload\":" ++= Json.str(a.workload)
    sb ++= ",\"attempted\":" ++= attempted.toString
    sb ++= ",\"failed\":" ++= failed.toString
    sb ++= ",\"checks\":" ++= checks.map(Json.str).mkString("[", ",", "]")
    sb ++= ",\"metrics\":{"
    sb ++= metrics.map { case (k, m) =>
      s"${Json.str(k)}:{\"value\":${Json.num(m.value)},\"unit\":${Json.str(m.unit)},\"n\":${m.n}}"
    }.mkString(",")
    sb ++= "}"
    extra.foreach { case (k, v) => sb ++= s",${Json.str(k)}:$v" }
    val spans = Trace.spans.asScala.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"layer":${Json.str(s.layer)},""" +
        s""""name":${Json.str(s.name)},"start":${s.start},"end":${s.end},"lane":${Json.str(s.lane)}}"""
    }
    sb ++= ",\"spans\":" ++= spans.mkString("[", ",", "]")
    sb ++= "}\n"
    Files.write(Paths.get(a.out), sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
  def num(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString

}

/** Progress lines on stderr, stamped with seconds since the JVM started. */
object Log {
  private val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def step(msg: String): Unit =
    System.err.println(f"[${(System.currentTimeMillis() - t0) / 1e3}%7.2f s] $msg")
}

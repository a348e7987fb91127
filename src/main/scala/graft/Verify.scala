package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** SELF-CHECK (r14/r18 both produced a silent `{}` driver correctness
    * artifact): every selected gate must have left a non-empty parquet
    * dump under `outDir`, and the oracle JSON must re-read with one key
    * per oracle. Returns the human-readable failure, or None when clean
    * — a partial dump must be LOUD on the builder's side, not discovered
    * as an empty judge artifact. */
  private[graft] def selfCheck(outDir: String, selected: Seq[String],
      oracleKeys: Seq[String]): Option[String] = {
    val missing = selected.sorted.filterNot { name =>
      val d = new java.io.File(s"$outDir/$name")
      d.isDirectory &&
        Option(d.listFiles()).exists(_.exists(_.getName.endsWith(".parquet")))
    }
    val oraclePath = Paths.get(s"$outDir/oracle_sql.json")
    val oracleBack =
      if (Files.isRegularFile(oraclePath)) Files.readString(oraclePath) else ""
    // Gate names are plain identifiers (never escaped by q), so the
    // written form of every key is exactly `"name": ` — presence of each
    // is a re-parse-equivalent check without a JSON parser dependency.
    val missingKeys = oracleKeys.sorted
      .filterNot(k => oracleBack.contains("\"" + k + "\": "))
    val oracleOk = oracleBack.startsWith("{") && oracleBack.endsWith("}") &&
      missingKeys.isEmpty
    if (missing.isEmpty && oracleOk) None
    else Some(
      s"${missing.size} gate(s) missing dumps: ${missing.mkString(", ")}; " +
        s"oracle_sql.json ok=$oracleOk" +
        (if (missingKeys.nonEmpty)
           s" (missing keys: ${missingKeys.take(5).mkString(", ")})"
         else ""))
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated name prefixes to run (local
    // iteration on a few gates); the oracle dump always covers them.
    val only: String => Boolean = args.lift(2) match {
      case Some(p) => name => p.split(",").exists(name.startsWith)
      case None => _ => true
    }
    val spark = GraftSession.local(GraftSession.envCpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => only(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release operator-internal persisted blocks between queries
      CacheRegistry.clearAll()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()

    val selected = SparkEntry.queries.keys.filter(only).toSeq.sorted
    selfCheck(outDir, selected, SparkEntry.oracleSql.keys.toSeq) match {
      case Some(failure) =>
        System.err.println(s"[verify] SELF-CHECK FAILED: $failure")
        sys.exit(2)
      case None =>
        println(s"[verify] self-check OK: ${selected.size} dumps present, " +
          s"oracle_sql.json keys=${SparkEntry.oracleSql.size}")
    }
  }
}

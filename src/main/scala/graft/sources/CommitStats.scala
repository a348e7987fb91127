package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast}
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One written file's manifest metadata as its write task saw it: the
  * row count, the zone maps in [[VersionedLake]]'s stats encoding, the
  * string columns' (StrStatsLen + 1)-codepoint min/max prefixes (the
  * driver truncates them into envelopes), per-column null counts and
  * the Bloom columns' filters. A column missing from a map has no
  * such value in the file: all-null, NaN-bearing or not encodable. */
private[sources] final case class FileStats(rows: Long,
    colStats: Map[String, (Double, Double)],
    strPrefixes: Map[String, (String, String)],
    nullCounts: Map[String, Long],
    blooms: Map[String, VersionedLake.FileBloom])

/** One task's files, keyed by `<partition dir>/<file name>`: the task
  * writes at an attempt-scoped temp path, and the job commit moves the
  * file to `<output>/<partition dir>/<file name>`. */
private[sources] final case class CommitTaskStats(files: Map[String, FileStats])
    extends WriteTaskStats

/** The write-job hook that collects every new file's [[FileStats]]
  * while the file is written, so a commit needs no second pass over its
  * data. `schema` is the written frame's schema: the data columns in
  * write order plus the partition column `partitionCol`, whose value
  * each task receives once per partition and which is recorded under
  * its type here (the schema the manifest records). After the write,
  * [[files]] holds every committed file's stats. */
private[sources] final class CommitStatsTracker(schema: StructType,
    partitionCol: String, blooms: Seq[VersionedLake.BloomSpec],
    timeZoneId: String) extends WriteJobStatsTracker {

  @transient @volatile private var collected: Map[String, FileStats] = Map.empty

  def files: Map[String, FileStats] = collected

  override def newTaskInstance(): WriteTaskStatsTracker =
    new CommitStatsTask(schema, partitionCol, blooms, timeZoneId)

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    collected = stats.iterator.flatMap {
      case s: CommitTaskStats => s.files
      case other => throw new IllegalStateException(s"unexpected write stats $other")
    }.toMap
}

/** One column's running metadata within one file: the column at
  * `ordinal` of the rows [[add]] sees. */
private final class ColumnAcc(dt: DataType, ordinal: Int,
    bloom: Option[VersionedLake.BloomSpec], timeZoneId: String) {
  import ColumnAcc._
  private val kind = kindOf(dt)
  var nulls = 0L
  private var nonNull = false
  private var nan = false
  private var lo, hi = 0.0
  private var sLo, sHi: UTF8String = _
  private var words: Array[Long] = _
  private lazy val md = java.security.MessageDigest.getInstance("MD5")
  private lazy val prefixes = bloom.fold(Array.empty[Array[Byte]])(b =>
    Array.tabulate(b.k)(VersionedLake.bloomPrefix))
  private lazy val value = BoundReference(ordinal, dt, nullable = true)
  private lazy val asTimestamp = Cast(value, TimestampType, Some(timeZoneId))
  private lazy val asString = Cast(value, StringType, Some(timeZoneId))

  def add(row: InternalRow): Unit =
    if (row.isNullAt(ordinal)) nulls += 1
    else {
      kind match {
        case Num =>
          val x = encode(row)
          if (x.isNaN) nan = true
          else if (!nonNull) { lo = x; hi = x }
          else { if (x < lo) lo = x; if (x > hi) hi = x }
        case Str =>
          val p = row.getUTF8String(ordinal).substring(0, VersionedLake.StrStatsLen + 1)
          if (!nonNull) { sLo = p.clone(); sHi = sLo }
          else {
            if (p.binaryCompare(sLo) < 0) sLo = p.clone()
            if (p.binaryCompare(sHi) > 0) sHi = p.clone()
          }
        case _ => ()
      }
      nonNull = true
      if (bloom.isDefined) addKey(bloom.get, row)
    }

  /** [[VersionedLake.statsEncoding]], on the internal value. */
  private def encode(row: InternalRow): Double = dt match {
    case ByteType => row.getByte(ordinal).toDouble
    case ShortType => row.getShort(ordinal).toDouble
    case IntegerType | DateType => row.getInt(ordinal).toDouble
    case LongType | TimestampType => row.getLong(ordinal).toDouble
    case FloatType => row.getFloat(ordinal).toDouble
    case DoubleType => row.getDouble(ordinal)
    case d: DecimalType => row.getDecimal(ordinal, d.precision, d.scale).toDouble
    case TimestampNTZType => asTimestamp.eval(row).asInstanceOf[Long].toDouble
  }

  /** Set the key's [[graft.operators.Sketch.bloomBuckets]] in the
    * file's words; the key is the column cast to string. */
  private def addKey(b: VersionedLake.BloomSpec, row: InternalRow): Unit = {
    if (words == null) words = new Array[Long](b.m / 64)
    val key =
      if (dt == StringType) row.getUTF8String(ordinal)
      else asString.eval(row).asInstanceOf[UTF8String]
    val bytes = key.getBytes
    var j = 0
    while (j < b.k) {
      val bucket = VersionedLake.bloomHash(md, prefixes(j), bytes) % b.m
      words((bucket >> 6).toInt) |= 1L << (bucket & 63)
      j += 1
    }
  }

  def zoneMap: Option[(Double, Double)] =
    if (kind == Num && nonNull && !nan) Some((lo, hi)) else None
  def strPrefixes: Option[(String, String)] =
    if (kind == Str && nonNull) Some((sLo.toString, sHi.toString)) else None
  def bloomFilter: Option[VersionedLake.FileBloom] =
    for (b <- bloom; w <- Option(words)) yield VersionedLake.FileBloom(b.k, b.m, w)
}

private object ColumnAcc {
  val Num = 1
  val Str = 2
  val Other = 0
  def kindOf(dt: DataType): Int = dt match {
    case _: NumericType | DateType | TimestampType | TimestampNTZType => Num
    case StringType => Str
    case _ => Other
  }
}

private final class CommitStatsTask(schema: StructType, partitionCol: String,
    blooms: Seq[VersionedLake.BloomSpec], timeZoneId: String)
    extends WriteTaskStatsTracker {
  private val partIdx = schema.fieldIndex(partitionCol)
  private val partField = schema(partIdx)
  private val dataFields = schema.fields.patch(partIdx, Nil, 1)
  private val bloomOf = blooms.map(b => b.column -> b).toMap

  private final class FileAcc(partition: InternalRow) {
    var rows = 0L
    val cols: Array[ColumnAcc] = dataFields.zipWithIndex.map { case (f, i) =>
      new ColumnAcc(f.dataType, i, bloomOf.get(f.name), timeZoneId)
    }

    def add(row: InternalRow): Unit = {
      rows += 1
      var i = 0
      while (i < cols.length) { cols(i).add(row); i += 1 }
    }

    /** The partition column is one value for the whole file: fed once,
      * its null count scales to the file's rows. */
    def result: FileStats =
      if (rows == 0) FileStats(0L, Map.empty, Map.empty, Map.empty, Map.empty)
      else {
        val part = new ColumnAcc(partField.dataType, 0, bloomOf.get(partitionCol),
          timeZoneId)
        part.add(partition)
        part.nulls *= rows
        val named = (dataFields.map(_.name) :+ partitionCol).zip(cols :+ part)
        FileStats(rows,
          named.flatMap { case (n, c) => c.zoneMap.map(n -> _) }.toMap,
          named.flatMap { case (n, c) => c.strPrefixes.map(n -> _) }.toMap,
          named.map { case (n, c) => n -> c.nulls }.toMap,
          named.flatMap { case (n, c) => c.bloomFilter.map(n -> _) }.toMap)
      }
  }

  private val files = scala.collection.mutable.HashMap.empty[String, FileAcc]
  private var partition: InternalRow = InternalRow.empty
  private var curPath: String = _
  private var cur: FileAcc = _

  override def newPartition(partitionValues: InternalRow): Unit =
    partition = partitionValues.copy()

  override def newFile(filePath: String): Unit = {
    cur = new FileAcc(partition)
    curPath = filePath
    files(filePath) = cur
  }

  override def closeFile(filePath: String): Unit = ()

  override def newRow(filePath: String, row: InternalRow): Unit = {
    if (filePath ne curPath) { cur = files(filePath); curPath = filePath }
    cur.add(row)
  }

  /** Keyed by `<partition dir>/<file name>` of each written path. */
  override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
    CommitTaskStats(files.iterator.map { case (p, f) =>
      p.substring(p.lastIndexOf('/', p.lastIndexOf('/') - 1) + 1) -> f.result
    }.toMap)
}

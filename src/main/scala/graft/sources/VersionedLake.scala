package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Snapshot-versioned partitioned lake: every commit writes IMMUTABLE
  * parquet files plus a manifest naming exactly the files that make up
  * that version, and readers resolve a version's manifest instead of
  * listing directories. The core lakehouse-table idea (Iceberg/Delta
  * style) in its minimal Spark-first form:
  *
  *  - **Time travel**: any prior version stays readable — its files
  *    are never mutated or deleted by later commits.
  *  - **File reuse**: a merge commit rewrites only the partitions the
  *    change-set touches; the new manifest carries the UNTOUCHED
  *    partitions' existing file entries forward verbatim (no data
  *    copy — the `VersionedLakeSpec` identity pin).
  *  - **Atomic visibility + optimistic concurrency**: a commit is data
  *    files, then one atomic EXCLUSIVE claim of the next version slot —
  *    the manifest body is staged to a temp file and hard-linked to
  *    `v<N>.manifest` (link(2) is atomic and fails with EEXIST if the
  *    slot is taken). Readers see the old version or the new one, never
  *    a half-written mix, and two concurrent writers can never both
  *    claim the same version: the loser re-reads the new current
  *    manifest, REBASES if its touched partitions are untouched by the
  *    interleaved commits (carrying the winner's entries forward), and
  *    ABORTS with `ConcurrentModificationException` if they overlap —
  *    the Iceberg/Delta optimistic-concurrency protocol. (On an object
  *    store the hard link becomes a conditional `If-None-Match` put of
  *    the manifest object — same protocol.)
  *  - **Exactly-once streaming**: a streaming commit's batch id is a
  *    header INSIDE the manifest, so replay detection is atomic with
  *    data visibility — there is no crash window where data committed
  *    but the replay marker did not (or vice versa).
  *
  * Layout under `lakeDir`:
  * {{{
  *   data/<partitionCol>=<v>/c<commit>-part-*.parquet   immutable
  *   _versions/v<N>.manifest    one manifest per committed version
  *   _versions/CURRENT          advisory hint; the source of truth is
  *                              the set of committed manifests
  * }}}
  *
  * One manifest format, written by every commit and refused by every
  * reader in any other shape (the error names the file):
  * {{{
  *   #format=1                      first line, always
  *   #batchid=<id>                  optional: this commit's batch id
  *   #retractid=<id>                optional: this commit's retraction id
  *   #batchwm=<id>                  mandatory: highest batch id so far
  *   #retractwm=<id>                mandatory: highest retraction id so far
  *   #mbloom=<col>:<k>:<m>          0..n: the table's Bloom columns
  *   #props=<k>=<v>&...             optional: the table's properties
  *   #schema=<json>                 mandatory: the table's schema
  *   #committs=<epoch millis>       mandatory: commit wall time
  *   partition \t path \t rows \t colStats \t colBlooms \t strStats \t nullCounts
  * }}}
  * one tab-separated entry line per file. Each per-column field is a
  * `;`-joined list sorted by column name (names URL-encoded): colStats
  * `col:min:max` (finite doubles, see [[statsEncoding]]), colBlooms
  * `col:k:m:hexwords`, strStats `col:min:max` (URL-encoded truncated
  * envelope), nullCounts `col:n`. The Bloom columns, properties and
  * schema are the table's metadata spec: every commit carries them
  * forward, so appends, merges and compactions inherit it.
  *
  * Scale shape: manifests are file-count-sized metadata (the same
  * scaling argument as any table format); reads hand Spark an explicit
  * file list with `basePath` so partition columns still resolve and
  * partition pruning happens at the manifest level — a time-travel
  * read of one partition opens that partition's files only.
  */
object VersionedLake {

  private def versionsDir(lakeDir: String) = s"$lakeDir/_versions"

  private val ManifestName = """v(\d+)\.manifest""".r

  /** The committed version number, 0 if the lake has no commit yet.
    * Derived from the committed manifests themselves (a manifest file
    * EXISTS iff its version committed — the hard-link claim is the
    * commit point), not from the CURRENT hint: a hint writer can lose
    * a race with a later version's writer, and trusting it would
    * resurrect the lost-update hole the CAS protocol closes. One
    * directory listing of version-count metadata files — the same cost
    * class as any table format's log listing. */
  def currentVersion(lakeDir: String): Int = {
    val names = Option(new File(versionsDir(lakeDir)).listFiles())
      .getOrElse(Array.empty[File]).map(_.getName)
    val vs = names.collect { case ManifestName(v) => v.toInt }
    if (vs.isEmpty) 0 else vs.max
  }

  /** One manifest line: a data file, its partition value (in the
    * Hive-ESCAPED directory form Spark writes — %-encoded special
    * chars, `__HIVE_DEFAULT_PARTITION__` for null; raw caller values
    * go through [[escapedPartition]] before comparing), its row count,
    * and the per-column zone maps, Blooms and null counts its commit's
    * write job recorded — the planning-time file-skipping
    * metadata. A column missing from a map has no stats in that file
    * (all-null, not stats-encodable, or added by a later commit). */
  final case class Entry(partition: String, path: String, rows: Long,
      colStats: Map[String, (Double, Double)] = Map.empty,
      colBlooms: Map[String, FileBloom] = Map.empty,
      strStats: Map[String, (String, String)] = Map.empty,
      nullCounts: Map[String, Long] = Map.empty)

  /** Which files a read may skip, as a small test tree over one file's
    * manifest [[Entry]]: every file-skipping path builds one and asks
    * [[admits]] — the explicit reads ([[readRange]], [[readPoints]])
    * one leaf each, the [[graft.plans.ZoneMapPrune]] rule a whole
    * and/or tree translated once per filter. A leaf admits a file
    * whenever the file might hold a row satisfying it, and always when
    * the file records no metadata for the leaf's column (all-null,
    * not stats-encodable, or written before the column existed). */
  private[graft] sealed trait FileTest
  private[graft] object FileTest {
    /** The column's zone map meets the closed interval [lo, hi] (in the
      * [[statsEncoding]] of the column). */
    final case class NumRange(column: String, lo: Double, hi: Double) extends FileTest
    /** The column's string envelope meets [lo, hi]; a missing bound is
      * open. */
    final case class StrRange(column: String, lo: Option[String],
        hi: Option[String]) extends FileTest
    /** The column's string envelope holds at least one of the values. */
    final case class StrIn(column: String, values: Seq[String]) extends FileTest
    /** The column's string envelope meets the strings starting with
      * `prefix`: [prefix, [[prefixUpperBound]](prefix)). */
    final case class StrPrefix(column: String, prefix: String) extends FileTest {
      val upper: Option[String] = prefixUpperBound(prefix)
    }
    /** The column's Bloom might hold at least one key; `hashes` are the
      * keys' [[FileBloom.keyHashes]] (see [[bloomTest]]). */
    final case class Bloom(column: String, hashes: Seq[Array[Long]]) extends FileTest
    /** IS NULL (`wantNull`) needs a recorded null; IS NOT NULL a
      * recorded non-null. */
    final case class Nulls(column: String, wantNull: Boolean) extends FileTest
    final case class And(a: FileTest, b: FileTest) extends FileTest
    final case class Or(a: FileTest, b: FileTest) extends FileTest
    /** A predicate no metadata can decide: admits every file. */
    case object Opaque extends FileTest
  }

  /** Might file `e` hold a row satisfying `t`? False only when the
    * manifest proves it cannot, so skipping the file never loses a
    * row. String bounds compare in [[utf8Compare]] order. */
  private[graft] def admits(e: Entry, t: FileTest): Boolean = {
    def envelope(c: String)(meets: (String, String) => Boolean): Boolean =
      e.strStats.get(c).forall { case (mn, mx) => meets(mn, mx) }
    def within(mn: String, mx: String, lo: Option[String], hi: Option[String]) =
      lo.forall(utf8Compare(mx, _) >= 0) && hi.forall(utf8Compare(mn, _) <= 0)
    t match {
      case FileTest.NumRange(c, lo, hi) =>
        e.colStats.get(c).forall { case (mn, mx) => mx >= lo && mn <= hi }
      case FileTest.StrRange(c, lo, hi) => envelope(c)(within(_, _, lo, hi))
      case FileTest.StrIn(c, vs) =>
        envelope(c)((mn, mx) => vs.exists(v => within(mn, mx, Some(v), Some(v))))
      case p @ FileTest.StrPrefix(c, prefix) => envelope(c)((mn, mx) =>
        utf8Compare(mx, prefix) >= 0 && p.upper.forall(utf8Compare(mn, _) < 0))
      case FileTest.Bloom(c, hs) =>
        e.colBlooms.get(c).forall(fb => hs.exists(fb.mightContainHashes))
      case FileTest.Nulls(c, wantNull) =>
        e.nullCounts.get(c).forall(n => if (wantNull) n > 0 else n < e.rows)
      case FileTest.And(a, b) => admits(e, a) && admits(e, b)
      case FileTest.Or(a, b) => admits(e, a) || admits(e, b)
      case FileTest.Opaque => true
    }
  }

  /** A [[FileTest.Bloom]] probing `keys` (compared as strings — the
    * build-side cast): one digest pass per key at the largest k any of
    * `entries` records for the column, after which each file tests
    * bits only. [[FileTest.Opaque]] when no entry records a Bloom for
    * the column. */
  private[graft] def bloomTest(column: String, keys: Seq[String],
      entries: Seq[Entry]): FileTest = {
    val maxK = entries.flatMap(_.colBlooms.get(column)).map(_.k).foldLeft(0)(math.max)
    if (maxK == 0) FileTest.Opaque
    else {
      val digester = FileBloom(maxK, 64, Array(0L))
      FileTest.Bloom(column, keys.map(digester.keyHashes))
    }
  }

  /** The one refusal of the explicit reads: a column that no entry
    * records `what` for (read through `recorded`) cannot prune, and a
    * read on it would silently scan every file — a lie at 100 TB. The
    * error names the columns that can prune. */
  private def requireRecorded(lakeDir: String, v: Int, entries: Seq[Entry],
      column: String, what: String)(recorded: Entry => collection.Set[String]): Unit =
    if (entries.nonEmpty && !entries.exists(recorded(_).contains(column))) {
      val available = entries.flatMap(recorded).distinct.sorted
      throw new IllegalArgumentException(
        s"no $what recorded for column '$column' in $lakeDir@v$v — a read " +
          s"pruned on it would silently scan every file; columns with " +
          s"$what: [${available.mkString(", ")}]")
    }

  /** Per-file Bloom filter of a key column, recorded in the manifest:
    * the point-lookup complement of the min/max zone maps. Same hash
    * family as [[graft.operators.Sketch.bloomBuckets]], so the filter
    * a commit records is exactly what a probe-side plan would compute. */
  final case class FileBloom(k: Int, m: Int, words: Array[Long]) {
    /** The k uniform 32-bit hashes of a key — the per-key half of
      * membership, split out so a SET probe ([[readPoints]]) digests
      * each key once and tests it against every file's bitset. */
    def keyHashes(key: String): Array[Long] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val bytes = key.getBytes(StandardCharsets.UTF_8)
      Array.tabulate(k)(j => bloomHash(md, bloomPrefix(j), bytes))
    }

    /** Membership from precomputed [[keyHashes]] (geometry-compatible:
      * same k — hashes are mod-free until here, so one digest pass
      * serves files with different m). */
    def mightContainHashes(hs: Array[Long]): Boolean =
      (0 until k).forall { j =>
        val bucket = (hs(j) % m).toInt
        (words(bucket >> 6) & (1L << (bucket & 63))) != 0L
      }

    /** Driver-side membership: false = the key is definitely not in
      * the file (skip it); true = it might be. */
    def mightContain(key: String): Boolean = mightContainHashes(keyHashes(key))
  }

  /** The salt of a key's j-th Bloom hash. */
  private[graft] def bloomPrefix(j: Int): Array[Byte] =
    s"bloom:$j:".getBytes(StandardCharsets.UTF_8)

  /** One Bloom hash of a key's UTF-8 bytes: the first 32 bits of
    * md5(prefix ++ key), unsigned — the number
    * [[graft.operators.Sketch.bloomBuckets]] reads from the first 8 hex
    * digits of the same digest before its `pmod m`. */
  private[graft] def bloomHash(md: java.security.MessageDigest,
      prefix: Array[Byte], key: Array[Byte]): Long = {
    md.update(prefix)
    val d = md.digest(key)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** What to record per file for point-lookup skipping: the key
    * column and the filter geometry (m bits, k probes — m/64 longs of
    * manifest metadata per file). */
  final case class BloomSpec(column: String, k: Int = 4, m: Int = 8192) {
    require(k >= 1 && k <= 16, s"bloom k must be in [1, 16], got $k")
    require(m >= 64 && m <= (1 << 20) && (m & 63) == 0,
      s"bloom m must be a multiple of 64 in [64, 2^20], got $m")
  }

  /** A raw partition VALUE in the escaped directory namespace the
    * manifests (and the filesystem) use. */
  private def escapedPartition(v: String): String =
    if (v == null)
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME
    else
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(v)

  /** The first line of every manifest: the one format this lake reads
    * and writes (the layout is in the object doc). */
  private val FormatHeader = "#format=1"

  /** One committed version as its manifest records it: the commit's
    * headers, then its file entries. `schemaJson` is kept as written,
    * so [[renderManifest]] reproduces the file byte for byte. */
  private[graft] final case class Manifest(
      batchId: Option[Long],
      retractId: Option[Long],
      batchWm: Long,
      retractWm: Long,
      blooms: Seq[BloomSpec],
      props: Map[String, String],
      schemaJson: String,
      commitTs: Long,
      entries: Seq[Entry]) {
    lazy val schema: org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.DataType.fromJson(schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
  }

  /** Committed manifests are IMMUTABLE (the hard-link claim is the
    * commit point; a slot is never rewritten), so their parse caches
    * perfectly: the planner rules re-derive zone maps on every
    * optimized query, and re-parsing a 100k-file manifest per query is
    * avoidable driver overhead. Bounded LRU; entries are validated
    * against the file's (mtime, size, head/tail fingerprint) so even an
    * out-of-band manifest edit (manual repair, a doctored-manifest
    * test) reparses rather than serving stale entries — the fingerprint
    * covers equal-length in-place edits that coarse-mtime filesystems
    * would otherwise hide (r18 ADVICE), and since r20 probes the middle
    * of the file too (r19 ask: the "equal-length edit confined to the
    * middle bytes" blind spot). Residual blind spot, accepted under the
    * immutability contract: an equal-length edit that dodges all three
    * 256-byte probes, inside the mtime granularity window. The
    * existence check stays OUTSIDE the cache so a vacuumed version
    * still fails loudly. */
  private val ManifestCacheSize = 64
  private val manifestCache =
    new java.util.LinkedHashMap[(String, Int), (Long, Long, Long, Manifest)](
      ManifestCacheSize, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Int), (Long, Long, Long, Manifest)]): Boolean =
        size() > ManifestCacheSize
    }

  /** Cheap content fingerprint: 256 bytes each from the head, the
    * exact middle, and the tail, hashed — three bounded reads, never a
    * full-file scan, so validation stays O(1) for a 100k-entry
    * manifest. Each probe loops until its buffer fills (or EOF):
    * FileChannel.read may legally return short, and a short read would
    * leave zero-padding whose position depends on scheduling, making
    * the fingerprint nondeterministic (r19 ADVICE). */
  private def manifestFingerprint(f: java.nio.file.Path, size: Long): Long = {
    val n = 256
    val ch = java.nio.channels.FileChannel.open(f,
      java.nio.file.StandardOpenOption.READ)
    try {
      def probe(pos: Long): Int = {
        val buf = java.nio.ByteBuffer.allocate(n)
        var p = pos
        var r = ch.read(buf, p)
        while (r > 0 && buf.hasRemaining) { p += r; r = ch.read(buf, p) }
        java.util.Arrays.hashCode(buf.array())
      }
      val ht = (probe(0L).toLong << 32) |
        (probe(math.max(0L, size - n)).toLong & 0xffffffffL)
      ht * 1000003L + probe(math.max(0L, size / 2 - n / 2)).toLong
    } finally ch.close()
  }

  /** The cache-validation stamp of one manifest file: (mtime, size,
    * head/middle/tail fingerprint). Three bounded reads, computed
    * OUTSIDE any lock — concurrent planner threads must not serialize
    * on file I/O for unrelated lakes. A version vacuumed between the
    * caller's existence check and this stamp surfaces as the same loud
    * "does not exist" refusal, not a raw NoSuchFileException (r19
    * ADVICE). */
  private def manifestStamp(f: java.nio.file.Path): (Long, Long, Long) =
    try {
      val attrs = Files.readAttributes(f,
        classOf[java.nio.file.attribute.BasicFileAttributes])
      val size = attrs.size
      (attrs.lastModifiedTime.toMillis, size, manifestFingerprint(f, size))
    } catch {
      case _: java.nio.file.NoSuchFileException =>
        throw new IllegalArgumentException(
          s"version manifest $f does not exist (vacuumed concurrently?)")
    }

  private def cachedManifest(k: (String, Int),
      stamp: (Long, Long, Long)): Option[Manifest] =
    manifestCache.synchronized {
      val hit = manifestCache.get(k)
      if (hit != null && (hit._1, hit._2, hit._3) == stamp) Some(hit._4)
      else None
    }

  private def parseAndCache(f: java.nio.file.Path, k: (String, Int),
      stamp: (Long, Long, Long)): Manifest = {
    val parsed = parseManifest(f)
    manifestCache.synchronized {
      manifestCache.put(k, (stamp._1, stamp._2, stamp._3, parsed))
      ()
    }
    parsed
  }

  private def manifestPath(lakeDir: String, version: Int): java.nio.file.Path =
    Paths.get(s"${versionsDir(lakeDir)}/v$version.manifest")

  /** A version's parsed manifest, headers and entries — the one read
    * path every question about a committed version goes through, so a
    * manifest in any other format is refused whichever reader meets it
    * first. */
  private[graft] def loadManifest(lakeDir: String, version: Int): Manifest = {
    val f = manifestPath(lakeDir, version)
    require(Files.exists(f), s"version $version does not exist under $lakeDir")
    val stamp = manifestStamp(f)
    val k = (lakeDir, version)
    cachedManifest(k, stamp).getOrElse(parseAndCache(f, k, stamp))
  }

  /** Full manifest entries of a version, zone maps included. */
  def manifestEntries(lakeDir: String, version: Int): Seq[Entry] =
    loadManifest(lakeDir, version).entries

  private val warnedHugeManifests =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The largest manifest a planner rule parses itself: 16 MiB, about
    * a 100k-file lake with Blooms. */
  private val MaxPlanManifestBytes = 16L << 20

  /** Planner-rule view of [[manifestEntries]]: serves the cached parse
    * when present, but REFUSES (None) a FIRST parse of a manifest
    * larger than `maxBytes` — that parse is a driver stall inside the
    * optimizer, paid by whatever query happens to plan first, and a
    * planner rule must degrade to "no pruning" rather than stall
    * planning. Data-path reads (read/readRange/readPoint) still parse
    * unconditionally: they need the file list to run at all, and their
    * callers asked for that work — after any of them touches the lake
    * the cached parse serves the planner too. Warns once per lake. */
  private[graft] def manifestEntriesForPlanning(lakeDir: String,
      version: Int, maxBytes: Long = MaxPlanManifestBytes): Option[Seq[Entry]] = {
    val f = manifestPath(lakeDir, version)
    if (!Files.exists(f)) return None
    val stamp = manifestStamp(f)
    val k = (lakeDir, version)
    cachedManifest(k, stamp).orElse {
      if (stamp._2 > maxBytes) {
        if (warnedHugeManifests.add(lakeDir))
          System.err.println(s"[graft] $lakeDir v$version manifest is " +
            s"${stamp._2} bytes (> $maxBytes): planner rules skip its " +
            "file pruning and metadata answers until a data read of the " +
            "lake caches the parse; compacting the lake shrinks it")
        None
      } else Some(parseAndCache(f, k, stamp))
    }.map(_.entries)
  }

  private val MBloomValue = """(.+):(\d+):(\d+)""".r
  private val HeaderKeys =
    Set("batchid", "retractid", "batchwm", "retractwm", "mbloom", "props",
      "schema", "committs")

  /** Parse one manifest file, refusing — with the file's name — any
    * shape [[renderManifest]] does not write: a missing or unknown
    * `#format`, an unknown, repeated or missing mandatory header, an
    * entry line with other than seven fields or an unparsable field,
    * and a NaN zone-map bound (the writer records none, and every NaN
    * comparison is false, so one would silently prune a file). */
  private def parseManifest(f: java.nio.file.Path): Manifest = {
    def refuse(why: String): Nothing =
      throw new IllegalStateException(s"manifest $f: $why")
    def field[A](what: String, v: String)(p: => A): A =
      try p catch {
        case scala.util.control.NonFatal(e) => refuse(s"malformed $what '$v' ($e)")
      }
    def dec(x: String) = java.net.URLDecoder.decode(x, "UTF-8")
    def perCol[V](what: String, v: String)(p: String => V): Map[String, V] =
      if (v.isEmpty) Map.empty
      else v.split(";").iterator.map { ent =>
        val i = ent.indexOf(':')
        if (i < 0) refuse(s"malformed $what entry '$ent'")
        dec(ent.substring(0, i)) -> field(what, ent)(p(ent.substring(i + 1)))
      }.toMap
    def pair(v: String): (String, String) = {
      val Array(a, b) = v.split(":", 2)
      (a, b)
    }
    def words(v: String): Array[Long] =
      v.split(",").map(java.lang.Long.parseUnsignedLong(_, 16))
    val lines = new String(Files.readAllBytes(f), StandardCharsets.UTF_8).split("\n")
    if (lines.headOption.forall(_ != FormatHeader))
      refuse(s"first line must be '$FormatHeader', found " +
        s"'${lines.headOption.getOrElse("")}'")
    val (headerLines, entryLines) = lines.iterator.drop(1).toSeq.span(_.startsWith("#"))
    val headers = headerLines.map { h =>
      val i = h.indexOf('=')
      val key = if (i < 0) h.drop(1) else h.substring(1, i)
      if (i < 0 || !HeaderKeys.contains(key)) refuse(s"unknown header '$h'")
      key -> h.substring(i + 1)
    }
    def opt(key: String): Option[String] = headers.collect { case (`key`, v) => v } match {
      case Seq() => None
      case Seq(v) => Some(v)
      case _ => refuse(s"header #$key repeats")
    }
    def req(key: String): String =
      opt(key).getOrElse(refuse(s"missing mandatory header #$key"))
    def long(key: String, v: String): Long = field(s"#$key", v)(v.toLong)
    val entries = entryLines.map { line =>
      val fs = line.split("\t", -1)
      if (fs.length != 7)
        refuse(s"entry line has ${fs.length} fields, expected 7: $line")
      val e = Entry(fs(0), fs(1), field("row count", fs(2))(fs(2).toLong),
        colStats = perCol("colStats", fs(3)) { v =>
          val (mn, mx) = pair(v); (mn.toDouble, mx.toDouble)
        },
        colBlooms = perCol("colBlooms", fs(4)) { v =>
          val Array(k, m, ws) = v.split(":", 3)
          FileBloom(k.toInt, m.toInt, words(ws))
        },
        strStats = perCol("strStats", fs(5)) { v =>
          val (mn, mx) = pair(v); (dec(mn), dec(mx))
        },
        nullCounts = perCol("nullCounts", fs(6))(_.toLong))
      e.colStats.collectFirst {
        case (c, (mn, mx)) if mn.isNaN || mx.isNaN => c
      }.foreach(c => refuse(s"NaN zone-map bound for column '$c' of ${e.path}"))
      e
    }
    Manifest(
      batchId = opt("batchid").map(long("batchid", _)),
      retractId = opt("retractid").map(long("retractid", _)),
      batchWm = long("batchwm", req("batchwm")),
      retractWm = long("retractwm", req("retractwm")),
      blooms = headers.collect { case ("mbloom", v) => v }.map {
        case v @ MBloomValue(c, k, m) => field("#mbloom", v)(BloomSpec(c, k.toInt, m.toInt))
        case v => refuse(s"malformed #mbloom '$v'")
      },
      props = opt("props").fold(Map.empty[String, String]) { body =>
        if (body.isEmpty) Map.empty
        else body.split("&").iterator.map { kv =>
          field("#props", kv) { val Array(k, v) = kv.split("=", 2); dec(k) -> dec(v) }
        }.toMap
      },
      schemaJson = req("schema"),
      commitTs = long("committs", req("committs")),
      entries = entries)
  }

  /** The one manifest layout (see the object doc); [[parseManifest]]
    * inverts it exactly, so a parsed manifest re-renders to the same
    * bytes. */
  private[graft] def renderManifest(m: Manifest): String = {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    def perCol[V](kv: Map[String, V])(f: V => String): String =
      kv.toSeq.sortBy(_._1).map { case (n, v) => s"${enc(n)}:${f(v)}" }.mkString(";")
    val headers = Seq(FormatHeader) ++
      m.batchId.map(id => s"#batchid=$id") ++
      m.retractId.map(id => s"#retractid=$id") ++
      Seq(s"#batchwm=${m.batchWm}", s"#retractwm=${m.retractWm}") ++
      m.blooms.map(b => s"#mbloom=${b.column}:${b.k}:${b.m}") ++
      (if (m.props.isEmpty) Nil else Seq("#props=" + m.props.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString("&"))) ++
      Seq(s"#schema=${m.schemaJson}", s"#committs=${m.commitTs}")
    headers.map(_ + "\n").mkString + m.entries.map { e =>
      Seq(e.partition, e.path, e.rows.toString,
        perCol(e.colStats) { case (lo, hi) => s"$lo:$hi" },
        perCol(e.colBlooms) { fb =>
          s"${fb.k}:${fb.m}:" + fb.words.map(java.lang.Long.toHexString).mkString(",")
        },
        perCol(e.strStats) { case (lo, hi) => s"${enc(lo)}:${enc(hi)}" },
        perCol(e.nullCounts)(_.toString)).mkString("\t")
    }.mkString("\n")
  }

  /** (partitionValue, absolutePath) entries of a version's manifest. */
  def manifest(lakeDir: String, version: Int): Seq[(String, String)] =
    manifestEntries(lakeDir, version).map(e => (e.partition, e.path))

  /** Whether a version's manifest still exists (false after [[vacuum]]
    * expired it) — lets replay guards distinguish "provably never
    * committed" from "history no longer inspectable". */
  private[graft] def manifestExists(lakeDir: String, version: Int): Boolean =
    Files.exists(manifestPath(lakeDir, version))

  /** Create version 1 from `df`, partitioned by `partitionCol`. Every
    * commit records per-file zone maps for every column (numeric, date
    * and timestamp min/max, truncated string envelopes, null counts),
    * so [[readRange]] and the planner rules can skip files on any of
    * them.
    *
    * `blooms` declares a column SET to record per-file Bloom filters
    * for (the point-lookup complement of the per-column zone maps —
    * any declared column can prune a [[readPoint]]/[[readPoints]], the
    * s22 discipline). `props` are immutable table properties recorded
    * in every manifest header and carried forward by every commit —
    * the home for CONSTRUCTION PARAMETERS (a partition-count a writer
    * hashed with, a signature geometry) that later appends and reads
    * must agree on; validate with [[requireProps]]. Both become the
    * table's recorded metadata spec that all later commits inherit. */
  def create(df: DataFrame, lakeDir: String, partitionCol: String,
      batchId: Option[Long] = None,
      blooms: Seq[BloomSpec] = Nil,
      props: Map[String, String] = Map.empty): Unit = {
    require(currentVersion(lakeDir) == 0,
      s"$lakeDir already has commits; use mergeUpsert")
    val entries = writeCommitFiles(df, lakeDir, commitId = 1, partitionCol, blooms)
    if (!tryCommitManifest(lakeDir, version = 1, entries, batchId, None,
        df.schema.json, blooms, props)) {
      entries.foreach(e => Files.deleteIfExists(Paths.get(e.path)))
      throw new java.util.ConcurrentModificationException(
        s"another writer created $lakeDir concurrently")
    }
  }

  /** Validate construction parameters against the table's recorded
    * [[tableProps]]: every expected key must match the recorded value
    * exactly. Fails LOUDLY on mismatch — a writer appending with a
    * different partition-count/geometry than the lake was built with
    * would silently corrupt later pruned reads. Keys the lake never
    * recorded pass unchecked. */
  def requireProps(lakeDir: String, expected: Map[String, String]): Unit = {
    val recorded = tableProps(lakeDir)
    val bad = expected.toSeq.flatMap { case (k, v) =>
      recorded.get(k) match {
        case Some(r) if r != v => Some(s"$k: recorded '$r', caller supplied '$v'")
        case _ => None
      }
    }
    require(bad.isEmpty,
      s"construction parameters of $lakeDir do not match the lake's " +
        s"recorded properties — ${bad.mkString("; ")}")
  }

  /** Read a version (default: current) as a DataFrame with the
    * partition column restored. Pruning note: `partitions` narrows the
    * file list at the MANIFEST (metadata) level — the Spark scan never
    * sees the other partitions' files at all. */
  def read(spark: SparkSession, lakeDir: String, version: Option[Int] = None,
      partitions: Option[Seq[String]] = None): DataFrame = {
    val v = version.getOrElse(currentVersion(lakeDir))
    val entries = manifest(lakeDir, v)
    val wanted = partitions match {
      case Some(ps) =>
        val esc = ps.map(escapedPartition).toSet
        entries.filter(e => esc.contains(e._1))
      case None => entries
    }
    readFiles(spark, lakeDir, v, wanted.map(_._2))
  }

  /** How a column's values land in the per-column zone maps, when they
    * do: numerics cast to double; dates as epoch DAYS; timestamps as
    * epoch MICROSECONDS (exact in a double out to ±2^53 µs ≈ ±285
    * years). Strings/binaries/nested types record no stats. The same
    * encodings are what [[readRange]]'s column form compares against,
    * so callers probe timestamp columns with microsecond bounds. */
  private def statsEncoding(
      f: org.apache.spark.sql.types.StructField): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.types._
    f.dataType match {
      case _: NumericType => Some(col(f.name).cast("double"))
      case DateType => Some(datediff(col(f.name), lit("1970-01-01")).cast("double"))
      case TimestampType | TimestampNTZType =>
        Some(unix_micros(col(f.name).cast("timestamp")).cast("double"))
      case _ => None
    }
  }

  /** Zone-map range read: files whose recorded [min, max] FOR THE
    * NAMED COLUMN overlaps [lo, hi] are handed to the scan — any column
    * the commit recorded stats for can prune ([[statsEncoding]]
    * documents the value encodings: probe timestamps in epoch micros,
    * dates in epoch days). Files lacking stats for the column (all-null,
    * NaN-bearing, or written before the column was added) are
    * conservatively KEPT; but a column no
    * entry in the manifest records is REFUSED loudly — a "range read"
    * that silently scans everything is a lie at 100 TB, and the error
    * names the columns that can prune. The caller still applies the
    * exact row filter (zone maps bound files, not rows). */
  def readRange(spark: SparkSession, lakeDir: String, column: String,
      lo: Double, hi: Double, version: Option[Int]): DataFrame =
    readAdmitted(spark, lakeDir, version, column, "zone-map stats",
      _.colStats.keySet, FileTest.NumRange(column, lo, hi))

  /** The explicit range reads' one path: refuse a column no entry
    * records, then hand the scan the files `leaf` admits. */
  private def readAdmitted(spark: SparkSession, lakeDir: String,
      version: Option[Int], column: String, what: String,
      recorded: Entry => collection.Set[String], leaf: FileTest): DataFrame = {
    val v = version.getOrElse(currentVersion(lakeDir))
    val entries = manifestEntries(lakeDir, v)
    requireRecorded(lakeDir, v, entries, column, what)(recorded)
    readFiles(spark, lakeDir, v, entries.filter(admits(_, leaf)).map(_.path))
  }

  /** How many CODEPOINTS of a string column land in the per-file zone
    * maps: commits record a truncated [min, max] envelope per string
    * column (min truncated down — a prefix is <= the value; max
    * truncated UP by [[strTruncUp]]), the Delta/Iceberg discipline
    * that keeps manifests bounded while still proving containment. */
  val StrStatsLen = 32

  /** First [[StrStatsLen]] codepoints — a prefix, hence <= the value
    * in the binary order string comparisons use. */
  private[graft] def strTruncDown(s: String): String = {
    val cps = s.codePoints().toArray
    if (cps.length <= StrStatsLen) s else new String(cps, 0, StrStatsLen)
  }

  /** Smallest recordable upper bound: values of <= StrStatsLen
    * codepoints are exact; longer ones truncate to StrStatsLen and
    * INCREMENT the last codepoint (carrying left past 0x10FFFF,
    * skipping the surrogate block) — UTF-8 encodes codepoint order, so
    * prefix+(c+1) > prefix+c+anything byte-wise. None when every
    * codepoint is already U+10FFFF (no finite upper bound exists at
    * this width — the file records no stats and is always kept). */
  private[graft] def strTruncUp(s: String): Option[String] = {
    val cps = s.codePoints().toArray
    if (cps.length <= StrStatsLen) Some(s)
    else prefixUpperBound(new String(cps, 0, StrStatsLen))
  }

  /** Exclusive upper bound of the set of strings starting with `s`:
    * increment the LAST codepoint (carrying left past U+10FFFF,
    * skipping the surrogate block) — every extension of `s` is < the
    * result in binary order. None when no finite bound exists (empty
    * string, or all codepoints already U+10FFFF) — "no constraint". */
  private[graft] def prefixUpperBound(s: String): Option[String] = {
    val cps = s.codePoints().toArray
    var i = cps.length - 1
    while (i >= 0) {
      val c = cps(i)
      if (c < 0x10FFFF) {
        val next = if (c == 0xD7FF) 0xE000 else c + 1
        val out = cps.clone(); out(i) = next
        return Some(new String(out, 0, i + 1))
      }
      i -= 1
    }
    None
  }

  /** Byte-wise UTF-8 comparison — the SAME binary order Spark's
    * UTF8String (and DuckDB's collation-free memcmp) use for string
    * min/max and predicates, so driver-side zone-map overlap tests
    * agree with what the executors computed. Java's String.compareTo
    * (UTF-16 code-unit order) differs for supplementary characters and
    * must not be used here. */
  private[graft] def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(StandardCharsets.UTF_8)
    val y = b.getBytes(StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** STRING-column zone-map read: files whose recorded truncated
    * [min, max] envelope for the named string column overlaps
    * [lo, hi] (binary UTF-8 order — the order Spark compares strings
    * in) are handed to the scan. The envelope is conservative (max is
    * truncated UP), so false keeps are possible but false skips are
    * not; the caller still applies the exact row filter. Same loud
    * refusal as the numeric form when NO entry records string stats
    * for the column. Point lookups probe with lo == hi; categorical
    * curation filters (`lang = 'en'`) get the same automatic planner
    * form via [[graft.plans.ZoneMapPrune]]. */
  def readRange(spark: SparkSession, lakeDir: String, column: String,
      lo: String, hi: String, version: Option[Int]): DataFrame =
    readAdmitted(spark, lakeDir, version, column, "string zone-map stats",
      _.strStats.keySet, FileTest.StrRange(column, Some(lo), Some(hi)))

  /** Point-lookup read: only the files whose recorded Bloom for the
    * NAMED column might contain `key` (compared as string — the
    * build-side cast) are handed to the scan; membership is decided on
    * the driver from manifest metadata alone. Any column the commit
    * recorded a filter for (the `blooms` spec) can prune, the Bloom
    * twin of [[readRange]]. False positives pass (deterministically);
    * false negatives are impossible — so the caller's exact
    * `WHERE col = key` row filter on the result is complete. Refused
    * loudly when no entry records a filter for the column (same
    * discipline: a point read that silently scans everything is a lie
    * at 100 TB). */
  def readPoint(spark: SparkSession, lakeDir: String, column: String,
      key: String, version: Option[Int]): DataFrame =
    readPoints(spark, lakeDir, column, Seq(key), version)

  /** Key-SET point read: only the files whose recorded Bloom for
    * `column` might contain AT LEAST ONE of `keys` are handed to the
    * scan — the candidate-bounded state read an incremental operator
    * makes against its index lake (a small tick's key set skips nearly
    * every file of a long-lived index; membership is decided on the
    * driver from manifest metadata alone, one digest pass per key).
    * Files without a filter for the column are conservatively kept;
    * a column NO entry records is refused loudly, naming the columns
    * that can prune. False positives pass — the caller's exact join
    * against the result stays complete.
    *
    * `maxKeys` bounds the driver-side work (|keys| digests +
    * |files|·|keys| bit tests): beyond it the prune degenerates toward
    * keeping everything anyway, so the read falls back to the plain
    * full-manifest scan — the documented large-tick fallback. */
  def readPoints(spark: SparkSession, lakeDir: String, column: String,
      keys: Seq[String], version: Option[Int] = None,
      maxKeys: Int = MaxPointKeys, partitions: Option[Seq[String]] = None): DataFrame = {
    val v = version.getOrElse(currentVersion(lakeDir))
    readFiles(spark, lakeDir, v,
      pointPrune(lakeDir, v, column, keys, maxKeys, partitions))
  }

  /** Driver-side key-collection cap shared by [[readPoints]],
    * [[prunedPointFiles]] and [[pointReadOrFull]] — ONE named constant
    * so raising it changes the degeneration bound everywhere at once
    * instead of silently diverging between paths. */
  val MaxPointKeys = 20000

  /** The candidate-bounded read every incremental-lake point path
    * makes (DedupStream ticks, PostingsLake.delete, AnnLake.retract),
    * in one place so the fallback rules can't drift:
    *
    *  - no file of the current version records a Bloom for `column`
    *    (pre-Bloom lake, or all-empty commits) → plain
    *    (partition-narrowed) read — NOT readPoints' loud refusal,
    *    because for these callers an unindexed lake is a legitimate
    *    degraded state, not a caller bug;
    *  - more than `maxKeys` DISTINCT keys → plain (partition-narrowed)
    *    read — collecting an unbounded key set to the driver is the
    *    degenerate case [[readPoints]] itself refuses to pay for;
    *  - otherwise → [[readPoints]] with the collected key set
    *    (partition pruning composes with per-file Bloom admission).
    *
    * `keysDf`'s FIRST column is the key (cast to string to match the
    * Bloom digest form). False positives pass; the caller's exact
    * join/filter against the result stays complete. */
  def pointReadOrFull(spark: SparkSession, lakeDir: String, column: String,
      keysDf: DataFrame, maxKeys: Int = MaxPointKeys,
      partitions: Option[Seq[String]] = None): DataFrame = {
    // Bloom check FIRST: a pre-Bloom (degraded) lake takes the plain
    // read without paying the key-collection job whose result would be
    // discarded anyway
    if (!hasColumnBloom(lakeDir, column))
      return read(spark, lakeDir, partitions = partitions)
    // distinct BEFORE the cap probe: maxKeys+1 distinct survivors prove
    // the set is over (→ fallback); limiting before distinct could
    // truncate a complete key set and silently miss candidates
    val keyCol = keysDf.columns.head
    val keys = keysDf.select(col(keyCol).cast("string")).distinct()
      .limit(maxKeys + 1).collect().map(_.getString(0)).toSeq
    pointReadOrFull(spark, lakeDir, column, keys, maxKeys, partitions)
  }

  /** Does ANY file of the current version record a Bloom for `column`?
    * (Entries, not the table-spec header: files predating the spec, or
    * all-empty commits, must route callers to the fallback read rather
    * than readPoints' loud unrecorded-column refusal.) */
  private def hasColumnBloom(lakeDir: String, column: String): Boolean = {
    val v = currentVersion(lakeDir)
    v >= 1 && manifestEntries(lakeDir, v).exists(_.colBlooms.contains(column))
  }

  /** [[pointReadOrFull]] for callers that already hold the candidate
    * keys on the driver (one prior collect — the per-tick hot path):
    * `keys` must be the COMPLETE candidate set unless its distinct
    * size exceeds `maxKeys`, in which case the degeneration fallback
    * fires and completeness of the list no longer matters. */
  def pointReadOrFull(spark: SparkSession, lakeDir: String, column: String,
      keys: Seq[String], maxKeys: Int,
      partitions: Option[Seq[String]]): DataFrame = {
    if (!hasColumnBloom(lakeDir, column))
      return read(spark, lakeDir, partitions = partitions)
    val distinctKeys = keys.distinct
    if (distinctKeys.size > maxKeys) read(spark, lakeDir, partitions = partitions)
    else readPoints(spark, lakeDir, column, distinctKeys,
      maxKeys = maxKeys, partitions = partitions)
  }

  /** The shared file-skipping rule behind [[readPoints]] and
    * [[prunedPointFiles]] — ONE implementation, so what the spec
    * reasons about is exactly what the read scans: loud refusal for an
    * unrecorded column, the `maxKeys` degeneration fallback, optional
    * manifest-level `partitions` narrowing (applied BEFORE the Bloom
    * tests, so a partitioned candidate read composes both prunes), then
    * the per-file Bloom-set admission. */
  private def pointPrune(lakeDir: String, v: Int, column: String,
      keys: Seq[String], maxKeys: Int,
      partitions: Option[Seq[String]]): Seq[String] = {
    val all = manifestEntries(lakeDir, v)
    requireRecorded(lakeDir, v, all, column, "Bloom filter")(_.colBlooms.keySet)
    val entries = partitions match {
      case Some(ps) =>
        val esc = ps.map(escapedPartition).toSet
        all.filter(e => esc.contains(e.partition))
      case None => all
    }
    val distinctKeys = keys.distinct
    // beyond maxKeys the prune degenerates toward keeping everything
    // anyway — fall back to the (partition-narrowed) full list rather
    // than pay |files|·|keys| driver-side bit tests for nothing
    if (distinctKeys.size > maxKeys) return entries.map(_.path)
    val leaf = bloomTest(column, distinctKeys, entries)
    entries.filter(admits(_, leaf)).map(_.path)
  }

  /** The files a [[readPoints]] would hand the scan — for I/O
    * reasoning in specs without running the read. Same refusal and
    * `maxKeys` fallback as the read itself ([[pointPrune]] is shared),
    * so the reported list is never smaller than the actual scan. */
  def prunedPointFiles(lakeDir: String, column: String, keys: Seq[String],
      version: Option[Int] = None, maxKeys: Int = MaxPointKeys,
      partitions: Option[Seq[String]] = None): Seq[String] = {
    val v = version.getOrElse(currentVersion(lakeDir))
    pointPrune(lakeDir, v, column, keys, maxKeys, partitions)
  }

  private[graft] def readFiles(spark: SparkSession, lakeDir: String, v: Int,
      files: Seq[String]): DataFrame = {
    // the version's recorded schema is authoritative: no footer
    // inference at planning time, and files written before a column
    // existed surface nulls for it — merge-on-read evolution from the
    // commit log. An empty file list (all rows deleted / everything
    // skipped) reads as an empty frame of that schema.
    val schema = recordedSchema(lakeDir, v)
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else {
      val df = readDataFiles(spark, lakeDir, files, schema)
      // register on the ANALYZED plan: the reader's raw logical plan is
      // an unresolved wrapper in Spark 4; forcing analysis here also
      // pins the one relation instance every derived Dataset will share
      df.queryExecution.analyzed.foreach {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          zoneInfo.put(lr.relation, (lakeDir, v))
        case _ => ()
      }
      df
    }
  }

  /** Copy-on-write MERGE as a new VERSION: same upsert/delete
    * semantics and contract as [[LakeOps.mergeUpsert]], but instead of
    * overwriting partition directories, the merged touched partitions
    * become new immutable files and the new manifest reuses every
    * untouched partition's entries — so the pre-merge version remains
    * readable (time travel) and untouched data is never copied.
    *
    * Concurrency: optimistic. The merge is planned and its files
    * written against the current version; if another writer commits
    * first, the commit REBASES onto the winner when the interleaved
    * commits left this merge's touched partitions untouched, and
    * aborts with `ConcurrentModificationException` (staged files
    * deleted) when they overlap — rebasing then would silently drop
    * the winner's rows in those partitions, since the merged files
    * were computed from the pre-race snapshot.
    */
  def mergeUpsert(spark: SparkSession, lakeDir: String, changes: DataFrame,
      keyCols: Seq[String], partitionCol: String,
      deleteCol: String = "_deleted",
      batchId: Option[Long] = None,
      retractId: Option[Long] = None): Unit = {
    // the lake ITSELF enforces the retraction replay guard (callers
    // can pre-check committedRetractId, but forgetting must be safe):
    // a change-set whose retraction id already committed is stale
    // replay — re-merging it would overwrite newer ingests
    if (retractId.exists(_ <= committedRetractId(lakeDir))) return
    val pending = planMerge(spark, lakeDir, changes, keyCols, partitionCol,
      deleteCol, batchId, retractId)
    if (pending.touched.nonEmpty) { commitPending(lakeDir, pending); () }
  }

  /** Field-by-name schema union for evolution: existing fields keep
    * their recorded type (a type CHANGE is refused loudly — this lake
    * does add-column evolution, not type migration); new fields
    * append. */
  /** Strip every nullability flag to `true`, recursively — the
    * RECORDED form when two writers agree on types but disagree on
    * nullability (a Scala primitive encoder says containsNull=false,
    * parquet says true): nullable is the safe superset for reads, and
    * refusing the append over an advisory flag would break legitimate
    * mixed-encoder pipelines. */
  private def widenNullability(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case ArrayType(et, _) => ArrayType(widenNullability(et), containsNull = true)
      case MapType(k, v, _) =>
        MapType(widenNullability(k), widenNullability(v), valueContainsNull = true)
      case StructType(fs) => StructType(fs.map(f =>
        f.copy(dataType = widenNullability(f.dataType), nullable = true)))
      case other => other
    }
  }

  private def mergeSchemas(base: Option[org.apache.spark.sql.types.StructType],
      next: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    base match {
      case None => next
      case Some(b) =>
        val have = b.fieldNames.toSet
        val nextByName = next.fields.map(f => f.name -> f).toMap
        val merged = b.fields.map { old =>
          nextByName.get(old.name) match {
            // nullability differences — nested (dataType != but same up
            // to null flags) OR the top-level field flag — evolve to
            // the widened nullable form: recording non-nullable over
            // files that carry nulls would let codegen elide null
            // checks and surface garbage. A genuine type change is
            // refused loudly.
            case Some(f) if old.dataType != f.dataType || old.nullable != f.nullable =>
              require(widenNullability(old.dataType) == widenNullability(f.dataType),
                s"schema evolution cannot change '${f.name}' from " +
                  s"${old.dataType.simpleString} to ${f.dataType.simpleString}")
              val dt = if (old.dataType == f.dataType) old.dataType
                else widenNullability(old.dataType)
              old.copy(dataType = dt, nullable = old.nullable || f.nullable)
            case _ => old
          }
        }
        // a NEW column is nullable in the evolved table no matter what
        // the writer's encoder claimed: every pre-evolution file
        // surfaces null for it, and a non-nullable recording would let
        // NullPropagation fold IsNull(col) to false — silently hiding
        // exactly the pre-evolution rows a reader filters for
        org.apache.spark.sql.types.StructType(
          merged ++ next.fields.filterNot(f => have.contains(f.name)).map(f =>
            f.copy(dataType = widenNullability(f.dataType), nullable = true)))
    }

  /** Read a set of committed data files under the version's recorded
    * schema (no footer inference; files predating a column surface
    * nulls for it). */
  private def readDataFiles(spark: SparkSession, lakeDir: String,
      files: Seq[String], schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.option("basePath", s"$lakeDir/data").schema(schema).parquet(files: _*)

  /** A planned-but-uncommitted commit: everything [[commitPending]]
    * needs to claim a version slot, rebase, or abort. `baseEntries` is
    * the manifest snapshot the plan was computed against — conflict
    * detection compares per-partition file sets base → current.
    * `schemaJson`, `blooms` and `props` are the metadata spec the new
    * manifest records (rebased onto a concurrent winner's at commit).
    *
    * `guard`: an OPTIONAL caller-supplied conflict test over the
    * CURRENT manifest entries, checked on every commit attempt (even
    * when the version didn't move — the caller's read of lake state
    * may predate the plan's base snapshot). True = the lake state the
    * plan DERIVED ITS DATA from has changed; the commit aborts
    * (staged files deleted, ConcurrentModificationException) so the
    * caller can re-derive and retry. This is what upgrades an
    * insert-only append whose ROWS depend on prior content (a pack
    * tranche's continuation offset) from "single-writer by contract"
    * to real OCC — plain appends conflict with nothing and never set
    * it. In-memory only (same-JVM commit protocol), never persisted. */
  private[graft] final case class PendingCommit(
      baseVersion: Int,
      baseEntries: Seq[Entry],
      touched: Set[String],
      newEntries: Seq[Entry],
      insertOnly: Boolean,
      batchId: Option[Long],
      schemaJson: String,
      blooms: Seq[BloomSpec] = Nil,
      props: Map[String, String] = Map.empty,
      retractId: Option[Long] = None,
      guard: Option[Seq[Entry] => Boolean] = None)

  /** A plan that touches nothing: callers test `touched.isEmpty` and
    * commit no version. */
  private def noChange(v: Int, m: Manifest): PendingCommit =
    PendingCommit(v, m.entries, Set.empty, Seq.empty, insertOnly = false,
      None, m.schemaJson, m.blooms, m.props)

  /** Plan a merge against the CURRENT version and stage its data
    * files, without committing. Split from [[mergeUpsert]] so the
    * two-writer interleaving in VersionedLakeSpec can hold a stale
    * plan while another writer commits. The table's recorded metadata
    * spec applies to the rewritten files. */
  private[graft] def planMerge(spark: SparkSession, lakeDir: String,
      changes: DataFrame, keyCols: Seq[String], partitionCol: String,
      deleteCol: String = "_deleted",
      batchId: Option[Long] = None,
      retractId: Option[Long] = None): PendingCommit = {
    require(keyCols.nonEmpty, "mergeUpsert needs at least one key column")
    val v = currentVersion(lakeDir)
    require(v >= 1, s"$lakeDir has no committed version to merge into")
    val m = loadManifest(lakeDir, v)
    // manifest partitions are escaped directory names — compare the
    // change-set's raw values in that namespace
    val touched = changes.select(col(partitionCol).cast("string")).distinct()
      .collect().map(r => escapedPartition(r.getString(0))).toSet
    if (touched.isEmpty) return noChange(v, m)

    val existingTouched = {
      val files = m.entries.filter(e => touched.contains(e.partition)).map(_.path)
      if (files.isEmpty) None
      else Some(readDataFiles(spark, lakeDir, files, m.schema))
    }
    val changeKeys = changes.select(keyCols.map(col): _*).distinct()
    val upserts = changes.filter(!col(deleteCol)).drop(deleteCol)
    val merged = existingTouched match {
      case Some(ex) =>
        ex.join(changeKeys, keyCols, "left_anti")
          .unionByName(upserts.select(ex.columns.map(col): _*))
      case None => upserts
    }
    val newEntries = writeCommitFiles(merged, lakeDir, commitId = v + 1,
      partitionCol, m.blooms)
    PendingCommit(v, m.entries, touched, newEntries, insertOnly = false, batchId,
      mergeSchemas(Some(m.schema), merged.schema).json, m.blooms, m.props, retractId)
  }

  /** Commit a pending plan under optimistic concurrency: claim the
    * next version slot; on a lost race re-read the winner's manifest
    * and either rebase (touched partitions' file sets unchanged since
    * the plan's base — the staged files are still a correct rewrite,
    * and every untouched entry is carried forward from the WINNER) or
    * abort, deleting the staged files. Insert-only commits (appends)
    * always rebase — they rewrite nothing, so they conflict with
    * nothing. Returns the committed version. */
  private[graft] def commitPending(lakeDir: String, p: PendingCommit,
      maxAttempts: Int = 50): Int = {
    val baseByPart = p.baseEntries.groupBy(_.partition)
      .view.mapValues(_.map(_.path).sorted).toMap
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val cur = currentVersion(lakeDir)
      val curM = if (cur >= 1) Some(loadManifest(lakeDir, cur)) else None
      val curEntries = curM.fold(Seq.empty[Entry])(_.entries)
      // COMMIT-TIME exactly-once: callers pre-check `batchId >
      // committedBatchId` before planning, but that is check-then-act —
      // a redelivered increment racing a live writer (or two writers
      // fed the same id) would land twice. Enforce at the claim point:
      // an id at or below the current watermark means this increment
      // already committed, so the replay no-ops (staged files deleted,
      // current version returned) — never a duplicate. Retractions get
      // the same rule in their own watermark namespace. The watermark
      // is LAKE-GLOBAL (see [[append]]'s single-sequence contract): a
      // second writer with its own id sequence is indistinguishable
      // from a replay here, which is why the contract forbids one.
      if (p.batchId.exists(_ <= committedBatchId(lakeDir)) ||
          p.retractId.exists(_ <= committedRetractId(lakeDir))) {
        p.newEntries.foreach(e => Files.deleteIfExists(Paths.get(e.path)))
        return cur
      }
      // caller-supplied OCC guard: tested on EVERY attempt (the state it
      // protects was read before the plan's base snapshot, so version
      // equality proves nothing)
      if (p.guard.exists(g => g(curEntries))) {
        p.newEntries.foreach(e => Files.deleteIfExists(Paths.get(e.path)))
        throw new java.util.ConcurrentModificationException(
          s"lake state this commit's rows were derived from changed under " +
            s"it (now v$cur); commit aborted, staged files deleted — " +
            "re-derive and retry")
      }
      if (!p.insertOnly && cur != p.baseVersion) {
        val curByPart = curEntries.groupBy(_.partition)
          .view.mapValues(_.map(_.path).sorted).toMap
        val conflicting = p.touched.filter(pt =>
          baseByPart.getOrElse(pt, Nil) != curByPart.getOrElse(pt, Nil))
        if (conflicting.nonEmpty) {
          p.newEntries.foreach(e => Files.deleteIfExists(Paths.get(e.path)))
          throw new java.util.ConcurrentModificationException(
            s"partitions [${conflicting.mkString(", ")}] changed between " +
              s"v${p.baseVersion} and v$cur; merge aborted, staged files deleted")
        }
      }
      val manifest =
        if (p.insertOnly) curEntries ++ p.newEntries
        else curEntries.filterNot(e => p.touched.contains(e.partition)) ++ p.newEntries
      // Rebase the schema header against the version actually being
      // committed onto, not the plan-time base: a concurrent winner may
      // have evolved the schema (insert-only append with a new column,
      // or a merge on non-conflicting partitions). The recorded schema
      // is authoritative for reads, so reusing the plan-time JSON here
      // would silently drop the winner's columns from every later read.
      //
      // Rebase the table's METADATA SPEC too, not just the schema: a
      // plan computed at v0 (or a stale base) carries the caller's
      // props/blooms — typically empty for a plain appender — while a
      // concurrent creator's interleaved commit recorded the table's
      // real spec. Writing the plan-time snapshot here would silently
      // erase the recorded spec from the new current manifest
      // (tableProps/tableBlooms read only CURRENT), disarming
      // requireProps and stopping colBloom recording for every later
      // commit. The committed-on-disk spec wins; plan-time values only
      // fill keys/columns the winner never recorded.
      val (schemaJson, blooms, props) = curM match {
        case Some(w) if cur != p.baseVersion =>
          val plan = org.apache.spark.sql.types.DataType.fromJson(p.schemaJson)
            .asInstanceOf[org.apache.spark.sql.types.StructType]
          val haveCols = w.blooms.map(_.column).toSet
          (mergeSchemas(Some(w.schema), plan).json,
            w.blooms ++ p.blooms.filterNot(b => haveCols.contains(b.column)),
            p.props ++ w.props)
        case _ => (p.schemaJson, p.blooms, p.props)
      }
      if (tryCommitManifest(lakeDir, cur + 1, manifest, p.batchId, p.retractId,
        schemaJson, blooms, props)) return cur + 1
      // lost the slot race: loop re-reads the new current and retries
    }
    throw new IllegalStateException(
      s"failed to commit to $lakeDir after $maxAttempts attempts")
  }

  /** Small-file COMPACTION as a new version: rewrite each selected
    * partition's files into `filesPerPartition` consolidated ones and
    * commit the rewrite under the same optimistic-concurrency protocol
    * as [[mergeUpsert]] — reads are row-identical across the rewrite
    * (the s17 gate hashes pre- and post-compaction aggregates against
    * one oracle), every pre-compaction version stays time-travel
    * readable, and the superseded small files are reclaimed by the
    * ordinary [[vacuum]] once history below the compaction point is
    * expired.
    *
    * This is the operational complement of [[streamingCommit]]: a
    * streaming sink commits one version per micro-batch, so partition
    * file counts grow linearly with uptime; periodic compaction bounds
    * them (the maintenance loop every table format schedules —
    * Iceberg's rewrite_data_files, Delta's OPTIMIZE).
    *
    * Selection: `partitions` names raw partition values to compact;
    * None selects every partition holding at least `minFiles` files
    * (already-compact partitions are skipped, so the operation is
    * idempotent and cheap to run on a schedule). Per selected
    * partition the rewrite reads only THAT partition's files — cost
    * scales with the data being compacted, never the lake.
    *
    * Concurrency: the plan stages against the current version; at
    * commit time an interleaved commit touching a compacted partition
    * ABORTS the compaction (its rewrite would drop the winner's rows
    * — staged files deleted), while commits to other partitions
    * rebase. A lost compaction is cheap to retry; data is never at
    * risk (same argument as any OCC maintenance job).
    *
    * The consolidated files record the same per-column zone maps and
    * the table's Bloom columns — compaction must not degrade the
    * manifest metadata the read paths prune with.
    *
    * Returns the committed version, or the current version unchanged
    * when nothing needed compacting.
    */
  def compactPartitions(spark: SparkSession, lakeDir: String,
      partitionCol: String, filesPerPartition: Int = 1, minFiles: Int = 2,
      partitions: Option[Seq[String]] = None): Int = {
    val p = planCompact(spark, lakeDir, partitionCol, filesPerPartition,
      minFiles, partitions)
    if (p.touched.isEmpty) p.baseVersion else commitPending(lakeDir, p)
  }

  /** Copy-on-write CONTENT rewrite of whole partitions — the commit
    * primitive behind ledger folds and any other "replace these
    * partitions' rows with a transformed form" maintenance. Where
    * [[compactPartitions]] rewrites LAYOUT only (same rows, fewer
    * files), this applies `transform` to the touched partitions'
    * current content and commits the result in their place, with the
    * same OCC discipline as merge/compact (a concurrent commit to a
    * touched partition aborts the rewrite, staged files deleted) and
    * full history: pre-rewrite versions stay time-travel-readable
    * until vacuumed.
    *
    * `transform` must preserve `partitionCol` (and must not move rows
    * into partitions outside `partitions`, or the commit would
    * silently double rows that also survive in untouched files — the
    * require guards the former; callers own the latter, which is why
    * the default rewrites ALL partitions). Returns the committed
    * version. */
  def rewritePartitions(spark: SparkSession, lakeDir: String,
      partitionCol: String, transform: DataFrame => DataFrame,
      partitions: Option[Seq[String]] = None): Int = {
    val v = currentVersion(lakeDir)
    require(v >= 1, s"$lakeDir has no committed version to rewrite")
    val m = loadManifest(lakeDir, v)
    val touched = partitions match {
      case Some(ps) => ps.map(escapedPartition).toSet
      case None => m.entries.map(_.partition).toSet
    }
    val files = m.entries.filter(e => touched.contains(e.partition)).map(_.path)
    if (files.isEmpty) return v
    val out = transform(readDataFiles(spark, lakeDir, files, m.schema))
    require(out.columns.contains(partitionCol),
      s"rewrite transform dropped partition column '$partitionCol'")
    // the transform's OUTPUT schema must be committable, not silently
    // shadowed by the old recording: a type-changing transform (int
    // sum widening to long) would otherwise write parquet that
    // diverges from the schema header every later read trusts.
    // mergeSchemas refuses type changes loudly and records new or
    // nullability-widened columns the evolved way.
    val newEntries = writeCommitFiles(out.repartition(col(partitionCol)),
      lakeDir, commitId = v + 1, partitionCol, m.blooms)
    commitPending(lakeDir, PendingCommit(v, m.entries, touched, newEntries,
      insertOnly = false, None, mergeSchemas(Some(m.schema), out.schema).json,
      m.blooms, m.props))
  }

  /** Z-ORDER layout rewrite: re-cluster the touched partitions' files
    * so that rows close in the multi-column space `zCols` land in the
    * same file — the Delta/Iceberg `OPTIMIZE ... ZORDER BY` shape,
    * built on this lake's own primitives. Same rows, same versioned
    * history, different FILE boundaries: after the rewrite each file's
    * per-column zone map ([[writeCommitFiles]]'s colStats) covers a
    * tight interval on EVERY z column at once, so both [[readRange]]
    * and the automatic [[graft.plans.ZoneMapPrune]] rule skip most of
    * a partition for selective predicates on any of them — the
    * before/after file counts are what `LakePlanSpec` pins.
    *
    * Mechanics (all distributed; driver state is the quantile
    * boundary model, ≤ zCols × 2^bits doubles):
    *  1. per z column, approx-quantile cut points at 2^bits ranks —
    *     RANK-based bucketing, so skewed value distributions still
    *     spread across buckets (uniform `width_bucket` would not);
    *     STRING columns cluster through a byte-order-preserving
    *     numeric surrogate (first 60 bits of the UTF-8 encoding), so
    *     `OPTIMIZE ... ZORDER BY (lang, quality)` — the curation
    *     shape — tightens the string envelopes [[graft.plans
    *     .ZoneMapPrune]] prunes with;
    *  2. per row, interleave the bucket ids bit-by-bit into one long
    *     (the Morton key) with builtin shift/mask columns — no UDF,
    *     stays inside whole-stage codegen;
    *  3. range-repartition by (partition, zkey) into
    *     touched × filesPerPartition tasks and sort within each, so
    *     every output file covers one contiguous Morton range;
    *  4. commit copy-on-write with the standard OCC discipline — a
    *     concurrent commit to a touched partition aborts the rewrite.
    *
    * Returns the committed version (current version unchanged when the
    * touched set is empty). */
  def zorderPartitions(spark: SparkSession, lakeDir: String,
      partitionCol: String, zCols: Seq[String], filesPerPartition: Int = 4,
      partitions: Option[Seq[String]] = None, bits: Int = 6): Int = {
    val p = planZorder(spark, lakeDir, partitionCol, zCols,
      filesPerPartition, partitions, bits)
    if (p.touched.isEmpty) p.baseVersion else commitPending(lakeDir, p)
  }

  /** Plan/stage half of [[zorderPartitions]] — split like
    * [[planCompact]] so the spec can interleave a competing writer. */
  private[graft] def planZorder(spark: SparkSession, lakeDir: String,
      partitionCol: String, zCols: Seq[String], filesPerPartition: Int,
      partitions: Option[Seq[String]], bits: Int): PendingCommit = {
    require(zCols.nonEmpty, "zorder needs at least one column")
    require(filesPerPartition >= 1, "filesPerPartition must be >= 1")
    require(bits >= 1 && bits * zCols.size <= 60,
      s"bits × zCols must fit a long: $bits × ${zCols.size}")
    val v = currentVersion(lakeDir)
    require(v >= 1, s"$lakeDir has no committed version to zorder")
    val m = loadManifest(lakeDir, v)
    val touched = partitions match {
      case Some(ps) => ps.map(escapedPartition).toSet
      case None => m.entries.map(_.partition).toSet
    }
    val files = m.entries.filter(e => touched.contains(e.partition)).map(_.path)
    if (files.isEmpty) return noChange(v, m)
    val df = readDataFiles(spark, lakeDir, files, m.schema)
    val fieldByName = df.schema.fields.map(f => f.name -> f).toMap
    val encoded = zCols.map { c =>
      val f = fieldByName.getOrElse(c,
        throw new IllegalArgumentException(s"zorder column '$c' not in lake schema"))
      statsEncoding(f).orElse {
        // STRING z columns cluster through a byte-order-preserving
        // numeric surrogate: the first 60 bits of the UTF-8 encoding
        // (15 hex chars, right-padded with the lowest digit so a
        // prefix sorts before its extensions), converted to a double.
        // hex() emits 0-9A-F whose char order matches nibble order, so
        // the surrogate is monotone in the binary string order the
        // string zone maps record; collisions past 7.5 bytes and the
        // 2^53 rounding are harmless — rank-based bucketing needs
        // ORDER, not exactness. Clustering by a categorical (lang,
        // source) is the curation shape ZoneMapPrune's string
        // envelopes reward.
        if (f.dataType == org.apache.spark.sql.types.StringType)
          Some(conv(rpad(substring(hex(col(f.name)), 1, 15), 15, "0"), 16, 10)
            .cast("double"))
        else None
      }.getOrElse(throw new IllegalArgumentException(
        s"zorder column '$c' (${f.dataType.simpleString}) records no zone-map " +
          "stats — only numeric/date/timestamp/string columns can cluster"))
    }
    // rank-based cut points: 2^bits - 1 interior quantiles per column
    // (the only collect — a bounded model, like ANN centroids)
    val nb = 1 << bits
    val probs = (1 until nb).map(_.toDouble / nb).toArray
    val proj = df.select(encoded.zipWithIndex.map { case (e, i) =>
      e.as(s"_z$i")
    }: _*)
    val bounds: Seq[Array[Double]] = zCols.indices.map { i =>
      proj.stat.approxQuantile(s"_z$i", probs, 0.001)
    }
    val k = zCols.size
    // bucket id per column: count of cut points <= value (null → 0),
    // via a codegen'd fold over the literal boundary array
    val buckets = encoded.zipWithIndex.map { case (e, i) =>
      // an all-null column yields no cut points: every row buckets to 0
      if (bounds(i).isEmpty) lit(0L)
      else aggregate(array(bounds(i).toSeq.map(lit): _*), lit(0L),
        (acc, b) => acc + when(e >= b, 1L).otherwise(0L))
    }
    // Morton interleave: bit i of column j lands at position i*k + j
    val zkey = (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      buckets.zipWithIndex.foldLeft(acc) { case (a, (b, j)) =>
        a.bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), i * k + j))
      }
    }
    val nTasks = math.max(1, touched.size * filesPerPartition)
    val clustered = df.withColumn("_zkey", zkey)
      .repartitionByRange(nTasks, col(partitionCol), col("_zkey"))
      .sortWithinPartitions(col(partitionCol), col("_zkey"))
      .drop("_zkey")
    val newEntries = writeCommitFiles(clustered, lakeDir, commitId = v + 1,
      partitionCol, m.blooms)
    PendingCommit(v, m.entries, touched, newEntries, insertOnly = false, None,
      m.schemaJson, m.blooms, m.props)
  }

  /** Plan a compaction against the CURRENT version and stage its
    * consolidated files, without committing — split from
    * [[compactPartitions]] exactly like [[planMerge]], so the spec can
    * interleave a competing writer between plan and commit. */
  private[graft] def planCompact(spark: SparkSession, lakeDir: String,
      partitionCol: String, filesPerPartition: Int = 1, minFiles: Int = 2,
      partitions: Option[Seq[String]] = None): PendingCommit = {
    require(filesPerPartition >= 1, "filesPerPartition must be >= 1")
    require(minFiles >= 2, "minFiles must be >= 2 (1-file partitions are compact)")
    val v = currentVersion(lakeDir)
    require(v >= 1, s"$lakeDir has no committed version to compact")
    val m = loadManifest(lakeDir, v)
    val byPart = m.entries.groupBy(_.partition)
    val candidates = partitions match {
      case Some(ps) => ps.map(escapedPartition).toSet
      case None => byPart.keySet
    }
    // compact only where it helps: a partition already at or under the
    // target file count is carried forward untouched
    val touched = candidates.filter(p =>
      byPart.get(p).exists(_.size >= math.max(minFiles, filesPerPartition + 1)))
    if (touched.isEmpty) return noChange(v, m)
    val files = m.entries.filter(e => touched.contains(e.partition)).map(_.path)
    // the rewrite must read (and re-write) under the version's
    // recorded schema, or an evolved column absent from some touched
    // file would be dropped from the consolidated files
    val df = readDataFiles(spark, lakeDir, files, m.schema)
    // one task per (partition [, salt]) writes one consolidated file —
    // the same shuffle shape as LakeOps.compact, scoped to the touched
    // partitions only
    val repartitioned =
      if (filesPerPartition == 1) df.repartition(col(partitionCol))
      else df.repartition(spark.sessionState.conf.numShufflePartitions,
        col(partitionCol),
        pmod(hash(struct(df.columns.map(col): _*)), lit(filesPerPartition)))
    val newEntries = writeCommitFiles(repartitioned, lakeDir, commitId = v + 1,
      partitionCol, m.blooms)
    PendingCommit(v, m.entries, touched, newEntries, insertOnly = false, None,
      m.schemaJson, m.blooms, m.props)
  }

  /** Write `df`'s files into the shared `data/<partitionCol>=<v>/`
    * tree under commit-prefixed names (stage with one partitioned
    * write, then per-file rename — metadata ops on new files only) and
    * return their manifest entries. One uniform directory depth keeps
    * a single basePath scan valid across any mix of commits.
    *
    * Every entry's metadata comes from the write job itself: a
    * [[CommitStatsTracker]] rides the write (through
    * `GraftShim.writeParquet`) and folds each file's rows, as the task
    * writes them, into its row count, its zone map of every
    * stats-encodable column ([[statsEncoding]]: numeric; date as epoch
    * days; timestamp as epoch micros; a NaN anywhere in a column
    * records no bounds for it), its (StrStatsLen + 1)-codepoint string
    * prefixes, its per-column null counts and the `blooms` columns'
    * filters — no footer, read-back or aggregate job afterwards. The
    * partition column's value comes from the task's partition, recorded
    * under its type in `df.schema` (the schema reads trust), never
    * inferred from the directory name. The driver then truncates each
    * string column's min DOWN and max UP ([[strTruncUp]]; an
    * un-incrementable max records no envelope), so the recorded
    * 32-codepoint envelope provably contains every value in the file.
    * An empty file records its row count only, and a column with no
    * non-null value in a file records no zone map and no Bloom there. */
  private def writeCommitFiles(df: DataFrame, lakeDir: String, commitId: Int,
      partitionCol: String, blooms: Seq[BloomSpec]): Seq[Entry] = {
    blooms.foreach(b => require(df.columns.contains(b.column),
      s"bloom column '${b.column}' is not in [${df.columns.mkString(", ")}]"))
    // unique per write: concurrent writers may plan the same commitId
    // before the CAS resolves the race — staging must never collide
    val staging = s"$lakeDir/_staging_c$commitId-${java.util.UUID.randomUUID()}"
    val tracker = new CommitStatsTracker(df.schema, partitionCol, blooms,
      df.sparkSession.sessionState.conf.sessionLocalTimeZone)
    org.apache.spark.sql.GraftShim.writeParquet(df, staging, partitionCol, tracker)
    val stats = tracker.files
    val prefix = partitionCol + "="
    val entries = Option(new File(staging).listFiles())
      .getOrElse(Array.empty[File])
      .filter(d => d.isDirectory && d.getName.startsWith(prefix))
      .flatMap { d =>
        val value = d.getName.substring(prefix.length)
        val destDir = new File(s"$lakeDir/data/${d.getName}")
        destDir.mkdirs()
        d.listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
          val s = stats.getOrElse(s"${d.getName}/${f.getName}",
            throw new IllegalStateException(s"the write job reported no stats for $f"))
          val dest = new File(destDir, s"c$commitId-${f.getName}")
          Files.move(f.toPath, dest.toPath)
          Entry(value, dest.getAbsolutePath, s.rows,
            colStats = s.colStats,
            colBlooms = s.blooms,
            strStats = s.strPrefixes.flatMap { case (c, (mn, mx)) =>
              strTruncUp(mx).map(up => c -> ((strTruncDown(mn), up)))
            },
            nullCounts = s.nullCounts)
        }
      }.toSeq.sortBy(_.path)
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new File(staging))
    entries
  }

  /** COUNT(*) of a version from manifest metadata alone: every entry
    * records its file's row count, so at any scale the count is a
    * manifest read, not a table scan — the classic table-format win.
    * (`spark` is unused; the count never touches data.) */
  def rowCount(spark: SparkSession, lakeDir: String,
      version: Option[Int] = None): Long =
    manifestEntries(lakeDir, version.getOrElse(currentVersion(lakeDir)))
      .map(_.rows).sum

  /** Partition-level RETENTION as a COMMIT: drop whole partitions from
    * the current version by manifest EXCLUSION — metadata-only (no
    * data file is touched), so expiring a year of history costs one
    * manifest write, and every pre-drop version stays time-travel
    * readable until [[vacuum]] reclaims the excluded files — retention
    * stays explicit, never accidental. This is the versioned-lake
    * analog of [[graft.streaming.Exporter.dropPartitionsOlderThan]],
    * which physically deletes from the (unversioned) export layout.
    *
    * OCC like every commit: a concurrent write landing in a dropped
    * partition between plan and commit aborts the drop (retry decides
    * whether the new data changes the retention call). `batchId` arms
    * the replay watermark for schedule-driven callers. Unknown
    * partition values are ignored (idempotent on a schedule). Returns
    * the committed version — unchanged when nothing matched. */
  def dropPartitions(lakeDir: String, partitions: Seq[String],
      batchId: Option[Long] = None): Int =
    dropEscaped(lakeDir, partitions.map(escapedPartition).toSet, batchId)

  private def dropEscaped(lakeDir: String, escaped: Set[String],
      batchId: Option[Long]): Int = {
    val v = currentVersion(lakeDir)
    require(v >= 1, s"$lakeDir has no committed version")
    if (batchId.exists(_ <= committedBatchId(lakeDir))) return v
    val m = loadManifest(lakeDir, v)
    val touched = escaped.intersect(m.entries.map(_.partition).toSet)
    if (touched.isEmpty) return v
    commitPending(lakeDir, PendingCommit(v, m.entries, touched, Nil,
      insertOnly = false, batchId, m.schemaJson, m.blooms, m.props))
  }

  /** [[dropPartitions]] for time-keyed partition values: expire every
    * partition sorting strictly below `cutoff` (dates and the
    * export-key format are lexicographically time-ordered). Compares
    * in the escaped directory namespace — identical to the raw value
    * for date/time strings. Returns (committed version, dropped
    * partition names). */
  def expirePartitionsBelow(lakeDir: String, cutoff: String,
      batchId: Option[Long] = None): (Int, Seq[String]) = {
    val v = currentVersion(lakeDir)
    require(v >= 1, s"$lakeDir has no committed version")
    val below = manifestEntries(lakeDir, v).map(_.partition).distinct
      .filter(_ < escapedPartition(cutoff)).sorted
    (dropEscaped(lakeDir, below.toSet, batchId), below)
  }

  /** Per-PARTITION column statistics from manifest metadata alone — no
    * data scan: (partition, n_files, n_rows, min, max), the aggregate
    * the zone maps already paid for at commit time. Per-file min/max
    * are exact (computed from the data by the commit's write job), so
    * their fold is the exact partition min/max. STRING columns fold
    * their truncated envelopes instead — per-partition BOUNDS (min
    * truncated down, max up), not attained values, which is what a
    * drift dashboard over categorical columns needs; Spark's string
    * min/max use the same binary order the envelopes are recorded in.
    * Refuses loudly when no file records
    * stats of either kind for `column`, naming the columns that can
    * answer — same contract as [[readRange]]. */
  def columnStats(spark: SparkSession, lakeDir: String, column: String,
      version: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val v = version.getOrElse(currentVersion(lakeDir))
    require(v >= 1, s"$lakeDir has no committed version")
    val entries = manifestEntries(lakeDir, v)
    val numeric = entries.exists(_.colStats.contains(column))
    if (entries.nonEmpty && !numeric &&
        !entries.exists(_.strStats.contains(column))) {
      val available = (entries.flatMap(_.colStats.keys) ++
        entries.flatMap(_.strStats.keys)).distinct.sorted
      throw new IllegalArgumentException(
        s"no file of $lakeDir v$v records column stats for '$column'; " +
          s"recorded columns: ${available.mkString(", ")}")
    }
    def fold(df: DataFrame): DataFrame = df
      .groupBy(col("partition"))
      .agg(
        count(lit(1)).as("n_files"),
        sum(col("rows")).as("n_rows"),
        // a file with NO stats for the column (all-null values there)
        // contributes nothing to min/max — min/max skip nulls, which
        // is exactly the aggregate's own null semantics
        min(col("mm._1")).as("min"),
        max(col("mm._2")).as("max"),
        // null-poisoned: a file written before the column was added
        // records no null count for it, and a partial sum over only
        // the files that did would silently understate
        when(count(col("nulls")) === count(lit(1)), sum(col("nulls")))
          .as("n_nulls"))
    if (numeric)
      fold(entries.map(e =>
        (e.partition, e.colStats.get(column), e.rows, e.nullCounts.get(column)))
        .toDF("partition", "mm", "rows", "nulls"))
    else
      fold(entries.map(e =>
        (e.partition, e.strStats.get(column), e.rows, e.nullCounts.get(column)))
        .toDF("partition", "mm", "rows", "nulls"))
  }

  /** input_file_name() yields a (possibly URI-encoded) file: URI while
    * manifest entries carry plain absolute paths — compare on the
    * decoded filesystem path. */
  private[graft] def normalizePath(p: String): String =
    if (p.startsWith("file:")) java.net.URI.create(p).getPath else p

  /** Zone-info registry: BaseRelation identity → (lakeDir, version)
    * for every relation [[readFiles]] hands out, so [[lakeScan]] can
    * recognize a lake scan inside an arbitrary SQL plan — what makes
    * `WHERE col BETWEEN lo AND hi` over a `time_travel(...)`/lake read
    * skip files AUTOMATICALLY instead of only through the opt-in
    * `read_range` TVF. Weak keys: a dropped DataFrame releases its
    * entry with its relation. Keys compare by IDENTITY: relations over
    * the same files are equal, and an equal key would keep the first
    * relation's weak reference, so the entry would vanish when that
    * relation is collected while a later equal one is still being
    * planned. */
  private val zoneInfo: java.util.concurrent.ConcurrentMap[AnyRef, (String, Int)] =
    new com.google.common.collect.MapMaker().weakKeys().makeMap()

  /** The planner rules' one scan recognizer: for a lake file scan,
    * (lake root, version, the manifest entries of exactly the files
    * the scan reads — it may already be partition- or point-pruned).
    * None when the relation is no lake scan, when a huge manifest's
    * first parse is refused ([[manifestEntriesForPlanning]]), or when
    * the entries do not cover exactly the scanned files.
    *
    * A registry miss (a weak entry the GC collected, or a plan whose
    * relation was recreated outside [[readFiles]]) falls back to the
    * scan's own file layout (`<root>/data/<col>=<v>/c<k>-…parquet`) and
    * the CURRENT version's manifest — sound because per-file metadata
    * rides manifests VERBATIM (files are immutable and entries are
    * carried forward), so any manifest covering all scanned files
    * records the same metadata for them. */
  private[graft] def lakeScan(
      lr: org.apache.spark.sql.execution.datasources.LogicalRelation)
      : Option[(String, Int, Seq[Entry])] = lr.relation match {
    case hfs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
      lazy val files = hfs.location.inputFiles
      def byPath = files.headOption.flatMap { f =>
        val p = normalizePath(f)
        val i = p.lastIndexOf("/data/")
        val root = if (i <= 0) "" else p.substring(0, i)
        if (i <= 0 || !new File(versionsDir(root)).isDirectory) None
        else Some(currentVersion(root)).filter(_ >= 1).map(v => (root, v))
      }
      for {
        (lakeDir, v) <- Option(zoneInfo.get(hfs)).orElse(byPath)
        all <- manifestEntriesForPlanning(lakeDir, v)
        scanned = files.map(normalizePath).toSet
        entries = all.filter(e => scanned.contains(normalizePath(e.path)))
        if entries.size == scanned.size
      } yield (lakeDir, v, entries)
    case _ => None
  }

  /** Append `df` as a new version: the new manifest is the old one
    * plus this batch's files — the insert-only commit a streaming
    * sink makes. Creates version 1 on an empty lake. `batchId`, when
    * given, is recorded as a HEADER INSIDE the manifest, making replay
    * detection atomic with data visibility (a batch id is committed
    * iff its rows are).
    *
    * CONTRACT: batch ids form ONE monotone sequence per lake (and
    * retraction ids a second, independent one) — the replay watermark
    * is lake-global, not per-writer. Two independent streams, each
    * numbering its own micro-batches from 0, must NOT share a lake:
    * the later starter's ids sit at or below the watermark and are
    * silently no-op'd as replays at the claim point. Fan-in belongs in
    * front of the lake (one query, one checkpoint, one id sequence) or
    * in two lakes unioned at read time. Appends rewrite nothing, so a
    * lost slot race rebases unconditionally — concurrent appenders
    * all land. */
  def append(df: DataFrame, lakeDir: String, partitionCol: String,
      batchId: Option[Long] = None,
      blooms: Seq[BloomSpec] = Nil,
      props: Map[String, String] = Map.empty): Unit = {
    commitPending(lakeDir,
      planAppend(df, lakeDir, partitionCol, batchId, blooms, props))
    ()
  }

  /** Plan an append against the CURRENT version and stage its data
    * files, without committing — the [[planMerge]] split for the
    * insert-only path, so VersionedLakeSpec can interleave a
    * concurrent creator between plan and commit (the first-commit
    * metadata-spec race [[commitPending]] rebases across). */
  private[graft] def planAppend(df: DataFrame, lakeDir: String,
      partitionCol: String,
      batchId: Option[Long] = None,
      blooms: Seq[BloomSpec] = Nil,
      props: Map[String, String] = Map.empty,
      guard: Option[Seq[Entry] => Boolean] = None): PendingCommit = {
    val v = currentVersion(lakeDir)
    // the table's recorded metadata spec applies unless overridden;
    // first-append on an empty lake records the caller's blooms/props
    // as the table's spec (the create-by-append path)
    val base = if (v >= 1) Some(loadManifest(lakeDir, v)) else None
    val effBlooms = if (blooms.nonEmpty) blooms else base.fold(blooms)(_.blooms)
    val effProps = if (v == 0) props else {
      requireProps(lakeDir, props) // a mismatched re-statement fails loudly
      base.fold(props)(_.props)
    }
    // Cluster the staged write by the partition column (guide §6 file
    // sizing): without this every append writes one file per (shuffle
    // task × partition value) — a 32-task append over 16 partitions is
    // 512 files PER COMMIT, and a few commits later every reader pays a
    // multi-second parallel-listing job just to construct the scan
    // (2,560 files made each d_dedup_tick lake read ~3 s of driver
    // time). The AQE REBALANCE hint is the scale-adaptive form: small
    // appends collapse to one file per partition value while a
    // partition over the advisory size still splits across tasks (no
    // write-side skew at real scale). Without AQE, fall back to a
    // plain hash repartition on the partition column — same one-file-
    // per-value layout, minus the large-partition splitting.
    val clustered =
      if (df.sparkSession.sessionState.conf.adaptiveExecutionEnabled)
        df.hint("rebalance", col(partitionCol))
      else df.repartition(col(partitionCol))
    val newEntries = writeCommitFiles(clustered, lakeDir, commitId = v + 1,
      partitionCol, effBlooms)
    PendingCommit(v, Seq.empty, Set.empty, newEntries, insertOnly = true,
      batchId, mergeSchemas(base.map(_.schema), df.schema).json, effBlooms,
      effProps, guard = guard)
  }

  /** The highest batch id recorded by ANY committed version, -1 when
    * none. The max over all versions — not just the current commit's
    * own id — so the replay guard survives a merge or manual append
    * landing BETWEEN streaming commits (the interleaved commit carries
    * no batch id). Every commit re-states this high water as
    * `#batchwm`, a header distinct from the per-commit `#batchid`, so
    * expiring history ([[vacuum]] deleting old manifests) can never
    * regress the guard and the newest manifest alone answers: one
    * cached parse, not a walk over every version (this runs on every
    * commit attempt since the claim-point enforcement landed). Batch
    * ids live in manifest headers, so only committed (visible) batches
    * count. */
  def committedBatchId(lakeDir: String): Long = {
    val v = currentVersion(lakeDir)
    if (v == 0) -1L else loadManifest(lakeDir, v).batchWm
  }

  /** The batch id recorded in one SPECIFIC version's manifest header
    * (-1 when that version carries none) — what ties a materialized
    * view's version k back to the exact source version it folded. */
  def committedBatchId(lakeDir: String, version: Option[Int]): Long =
    version match {
      case None => committedBatchId(lakeDir)
      case Some(v) => loadManifest(lakeDir, v).batchId.getOrElse(-1L)
    }

  /** The highest RETRACTION batch id recorded by any committed version,
    * -1 when none — a watermark namespace (`#retractwm`) separate from
    * the ingest batch ids, so a takedown's replay guard never collides
    * with the append stream's: a retraction sequenced against its own
    * watermark cannot be silently swallowed by a later INGEST batch id
    * ([[mergeUpsert]]'s `retractId` writes it). */
  def committedRetractId(lakeDir: String): Long = {
    val v = currentVersion(lakeDir)
    if (v == 0) -1L else loadManifest(lakeDir, v).retractWm
  }

  /** The column-SET Bloom spec recorded in the current manifest's
    * headers — carried forward by every commit like the rest of the
    * metadata spec. */
  def tableBlooms(lakeDir: String): Seq[BloomSpec] = {
    val v = currentVersion(lakeDir)
    if (v == 0) Seq.empty else loadManifest(lakeDir, v).blooms
  }

  /** Immutable table properties recorded at create/first-append and
    * carried forward by every commit — construction parameters later
    * writers and readers must agree on ([[requireProps]]). */
  def tableProps(lakeDir: String): Map[String, String] = {
    val v = currentVersion(lakeDir)
    if (v == 0) Map.empty else loadManifest(lakeDir, v).props
  }

  /** The commit HISTORY as a table — the `DESCRIBE HISTORY` shape,
    * from the manifests alone (metadata-only, no data scan): one row
    * per surviving version with its commit timestamp, the per-commit
    * batch/retract ids (-1 = none recorded), file count, and row count.
    * Vacuumed versions are absent: their manifests are gone, which is
    * exactly what vacuum means. */
  def history(spark: SparkSession, lakeDir: String): DataFrame = {
    import spark.implicits._
    val vs = Option(new File(versionsDir(lakeDir)).listFiles())
      .getOrElse(Array.empty[File]).map(_.getName)
      .collect { case ManifestName(v) => v.toInt }.sorted.toSeq
    vs.map { v =>
      val m = loadManifest(lakeDir, v)
      // Options keep commit_ts and n_rows nullable, the table's
      // published schema
      (v, Option(m.commitTs), m.batchId.getOrElse(-1L), m.retractId.getOrElse(-1L),
        m.entries.size.toLong, Option(m.entries.map(_.rows).sum))
    }.toDF("version", "ts_millis", "batch_id", "retract_id",
      "n_files", "n_rows")
      .withColumn("commit_ts", timestamp_millis(col("ts_millis")))
      .select(col("version"), col("commit_ts"), col("batch_id"),
        col("retract_id"), col("n_files"), col("n_rows"))
      .orderBy(col("version"))
  }

  /** The schema recorded by a version's commit. Reads never open
    * parquet footers for planning: the manifest IS the schema
    * authority, and evolution is the merged-schema header (old files
    * surface nulls for later-added columns — merge-on-read from the
    * commit log, the Delta/Iceberg design). */
  def recordedSchema(lakeDir: String, version: Int): org.apache.spark.sql.types.StructType =
    loadManifest(lakeDir, version).schema

  /** Wall-clock commit instant (epoch millis) recorded in a version's
    * manifest. */
  def commitTimestamp(lakeDir: String, version: Int): Long =
    loadManifest(lakeDir, version).commitTs

  /** Timestamp time travel: the newest surviving version committed at
    * or before `tsMillis` — Delta's TIMESTAMP AS OF over the manifest
    * headers. */
  def versionAt(lakeDir: String, tsMillis: Long): Int = {
    val cur = currentVersion(lakeDir)
    val vs = (1 to cur).filter(v =>
      manifestExists(lakeDir, v) && commitTimestamp(lakeDir, v) <= tsMillis)
    require(vs.nonEmpty,
      s"no version of $lakeDir was committed at or before $tsMillis")
    vs.max
  }

  /** Read the lake as of a wall-clock instant. */
  def readAsOf(spark: SparkSession, lakeDir: String, tsMillis: Long,
      partitions: Option[Seq[String]] = None): DataFrame =
    read(spark, lakeDir, Some(versionAt(lakeDir, tsMillis)), partitions)

  /** Structured-Streaming sink: every micro-batch commits as a new
    * VERSION of the lake, exactly-once end to end:
    *
    *  - the checkpoint resumes source offsets, so each batch id is
    *    delivered at-least-once with stable contents;
    *  - a replayed batch is detected by `batchId <= committedBatchId`
    *    and skipped — and because the batch id is a header inside the
    *    manifest itself, detection is ATOMIC with data visibility:
    *    a crash before the manifest claim leaves orphan data files no
    *    manifest references (harmless; the same maintenance that
    *    vacuums old versions collects them) and an unrecorded batch id,
    *    so the replay correctly re-appends; a crash after the claim
    *    leaves both, so the replay is correctly skipped. There is no
    *    ordering between "rows visible" and "batch id recorded" for a
    *    crash to land between — the version sequence never
    *    double-commits, readers never see a duplicate row.
    *
    * Each tick's cost is the batch write plus two metadata files —
    * and every historical micro-batch stays time-travel-readable.
    */
  def streamingCommit(stream: DataFrame, lakeDir: String, partitionCol: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0,
      postCommit: (SparkSession, Long) => Unit = (_, _) => ()): StreamingQuery = {
    require(stream.isStreaming, "streamingCommit expects a streaming DataFrame")
    require(compactEvery >= 0, s"compactEvery must be >= 0, got $compactEvery")
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        if (id > committedBatchId(lakeDir))
          append(batch.toDF(), lakeDir, partitionCol, Some(id))
        // in-loop maintenance: every compactEvery-th version, fold the
        // accumulated micro-batch files back to one per partition —
        // the bound on one-version-per-batch file growth, scheduled by
        // the stream itself instead of an external job. A lost OCC
        // race just defers to the next tick; compaction failure must
        // never fail the data batch (the append above already
        // committed, and the batch-id watermark makes the replay
        // guard independent of maintenance). NonFatal, not just the
        // OCC abort: commitPending can exhaust its retry budget
        // (IllegalStateException) and the rewrite can hit IO errors —
        // all of them defer maintenance to a later tick rather than
        // failing a batch whose data is already durable.
        if (compactEvery > 0 && currentVersion(lakeDir) % compactEvery == 0)
          try { compactPartitions(batch.sparkSession, lakeDir, partitionCol); () }
          catch { case scala.util.control.NonFatal(_) => () }
        // post-commit hook: downstream maintenance driven by the stream
        // itself (e.g. MaterializedAgg.maintainHook keeping a view
        // current without an external tick). Same contract as
        // compaction: the data batch is already durable, so a hook
        // failure defers — it must never fail the batch.
        try postCommit(batch.sparkSession, id)
        catch { case scala.util.control.NonFatal(_) => () }
        ()
      }
      .start()
  }

  /** Changed-data capture between two versions: every row deleted or
    * inserted going fromV → toV, tagged `_change` ∈ {'delete',
    * 'insert'} (an update surfaces as the old row's delete plus the
    * new row's insert — the standard CDC decomposition).
    *
    * The file-level manifest diff does the pruning: rows are read
    * ONLY from files present in exactly one of the two manifests, so
    * partitions untouched between the versions (identical file
    * entries) contribute zero I/O — CDC cost scales with the churn,
    * not the lake. Row-level changes inside rewritten files resolve
    * with two EXCEPT ALLs over just those files.
    */
  def diff(spark: SparkSession, lakeDir: String, fromV: Int, toV: Int): DataFrame = {
    // fromV = 0 is the empty lake: the diff is the bootstrap snapshot
    // (every row of toV as an insert) — what a change feed emits for
    // the first committed version
    val from = if (fromV == 0) Set.empty[String]
      else manifest(lakeDir, fromV).map(_._2).toSet
    val to = manifest(lakeDir, toV).map(_._2).toSet
    val removedFiles = (from -- to).toSeq.sorted
    val addedFiles = (to -- from).toSeq.sorted
    def readSome(files: Seq[String]): DataFrame =
      readFiles(spark, lakeDir, math.max(fromV, toV), files)
    val old = readSome(removedFiles)
    val nw = readSome(addedFiles)
    val cols = (if (removedFiles.nonEmpty) old else nw).columns.map(col).toSeq
    old.select(cols: _*).exceptAll(nw.select(cols: _*))
      .withColumn("_change", lit("delete"))
      .unionByName(
        nw.select(cols: _*).exceptAll(old.select(cols: _*))
          .withColumn("_change", lit("insert")))
  }

  /** Advisory mutual exclusion for maintenance ops ([[vacuum]],
    * [[cleanOrphans]], [[compactPartitions]]' superseded-file sweep):
    * an atomically-created lock file under `_versions/`, stale by age
    * (a crashed holder's lock expires after `staleMs` instead of
    * wedging the lake forever). Best-effort by design — the lock makes
    * concurrent-maintenance misuse fail LOUDLY; it is not a
    * correctness dependency (each op's own set arithmetic stays the
    * safety argument). */
  private def withMaintenanceLock[A](lakeDir: String,
      staleMs: Long = 60 * 60 * 1000L)(body: => A): A = {
    val dir = new File(versionsDir(lakeDir))
    dir.mkdirs()
    val lock = Paths.get(s"$dir/MAINTENANCE.lock")
    val token = java.util.UUID.randomUUID().toString
    if (Files.exists(lock)) {
      if (System.currentTimeMillis() -
        Files.getLastModifiedTime(lock).toMillis < staleMs)
        throw new IllegalStateException(
          s"another maintenance operation holds $lock; " +
            "wait for it to finish (or remove the lock if its holder crashed)")
      // Stale takeover must be ATOMIC, not delete-then-create: with a
      // bare deleteIfExists, two processes observing the same stale
      // lock can interleave so that B deletes A's FRESH lock and both
      // proceed. Rename the stale file aside instead — of N racers,
      // POSIX rename succeeds for exactly one (the source is gone for
      // the losers), and the losers fall through to createFile below,
      // which fails loudly on the winner's fresh lock.
      //
      // The rename alone still leaves a second-order TOCTOU: racer A
      // can pass the staleness check, STALL, and then move aside a
      // FRESH lock that racer B created during B's own completed
      // takeover — deleting B's live lock would let both run. So after
      // the move, re-check that what we actually moved is still stale;
      // a fresh capture is moved back (restoring B's lock) and this
      // racer aborts loudly. If B's successor already re-created the
      // lock while we held the aside copy, the move-back fails EEXIST
      // — the path is owned again, so the aside copy is just litter to
      // delete; either way we abort.
      val aside = Paths.get(s"$dir/MAINTENANCE.lock.stale.$token")
      try {
        Files.move(lock, aside)
        if (System.currentTimeMillis() -
          Files.getLastModifiedTime(aside).toMillis < staleMs) {
          try Files.move(aside, lock)
          catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              Files.deleteIfExists(aside)
          }
          throw new IllegalStateException(
            s"lost the stale-takeover race for $lock: a concurrent " +
              "maintenance operation re-acquired it mid-takeover")
        }
        Files.deleteIfExists(aside)
        ()
      } catch { case _: java.nio.file.NoSuchFileException => () }
    }
    // The lock carries our token so the finally-delete below removes
    // only OUR lock — never a successor's takeover of a lock we let
    // go stale by running past staleMs.
    try Files.write(lock, token.getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"lost the race for $lock to a concurrent maintenance operation")
    }
    try body finally {
      try {
        if (Files.exists(lock) &&
          new String(Files.readAllBytes(lock), "UTF-8") == token)
          Files.deleteIfExists(lock)
      } catch { case scala.util.control.NonFatal(_) => () }
      ()
    }
  }

  /** Canonical filesystem form for path-set arithmetic: manifests
    * record absolute paths captured at write time, while a caller may
    * spell the same lake via `..`, symlinks, or a different prefix —
    * string comparison would then misclassify every committed file as
    * orphaned. getCanonicalFile resolves both. */
  private def canonical(p: String): String =
    new File(p).getCanonicalPath

  /** Expire history: drop every version below `keepFrom` and delete
    * the data files ONLY they referenced. A file shared with any
    * surviving version survives (manifest set difference — the whole
    * operation is metadata-sized, no data read). The time-travel
    * window becomes [keepFrom, current]; reads of expired versions
    * fail at manifest resolution, exactly like any table format's
    * vacuum. Takes the advisory maintenance lock. */
  def vacuum(lakeDir: String, keepFrom: Int): Unit =
    withMaintenanceLock(lakeDir) {
      val cur = currentVersion(lakeDir)
      require(keepFrom >= 1 && keepFrom <= cur,
        s"keepFrom must be in [1, $cur], got $keepFrom")
      val keptFiles = (keepFrom to cur).flatMap(manifest(lakeDir, _))
        .map(e => canonical(e._2)).toSet
      (1 until keepFrom).foreach { v =>
        val f = manifestPath(lakeDir, v)
        if (Files.exists(f)) {
          manifest(lakeDir, v).map(_._2)
            .filterNot(p => keptFiles.contains(canonical(p)))
            .foreach(p => Files.deleteIfExists(Paths.get(p)))
          Files.delete(f)
        }
      }
    }

  /** Collect the litter crashed or lost-race writers leave behind:
    * `_staging_*` trees (a writer that died mid-stage) and data files
    * under `data/` that NO committed manifest references (a writer
    * that died between staging its files and claiming a version slot,
    * or an aborted commit whose cleanup crashed). Committed files and
    * manifests are never touched — the operation is manifest set
    * arithmetic plus one directory walk, metadata-sized like vacuum.
    * Returns the deleted paths.
    *
    * Guard rails (each failure is loud, never a silent eat):
    *  - paths compare CANONICALIZED on both sides, so a `..`-spelled
    *    or symlinked `lakeDir` cannot make committed files look
    *    orphaned;
    *  - if no committed manifest references anything but data files
    *    exist, the lake was probably moved/copied after commit —
    *    abort instead of deleting the whole table;
    *  - an unreferenced file YOUNGER than `graceMs` is treated as a
    *    live writer's in-flight staging (the advisory in-flight
    *    guard): the operation aborts, naming the file. `force = true`
    *    overrides both guards for deliberate cleanup of a lake known
    *    to be quiescent.
    *  - the advisory maintenance lock excludes concurrent
    *    vacuum/cleanOrphans runs.
    */
  def cleanOrphans(lakeDir: String, graceMs: Long = 20 * 60 * 1000L,
      force: Boolean = false): Seq[String] = withMaintenanceLock(lakeDir) {
    val cur = currentVersion(lakeDir)
    val referenced = (1 to cur).flatMap { v =>
      val f = manifestPath(lakeDir, v)
      if (Files.exists(f)) manifest(lakeDir, v).map(e => canonical(e._2))
      else Seq.empty
    }.toSet
    val dataDir = new File(s"$lakeDir/data")
    val cutoff = System.currentTimeMillis() - graceMs
    def assertAged(f: File): Unit =
      if (!force && f.lastModified() > cutoff)
        throw new IllegalStateException(
          s"unreferenced file ${f.getAbsolutePath} is younger than the " +
            s"${graceMs}ms grace period — a writer may be mid-commit; " +
            "re-run after it finishes (force = true overrides)")
    val deleted = Seq.newBuilder[String]
    def rmTree(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
    }
    val staging = Option(new File(lakeDir).listFiles())
      .getOrElse(Array.empty[File])
      .filter(d => d.isDirectory && d.getName.startsWith("_staging_"))
    val orphans = Seq.newBuilder[File]
    var foundReferenced = 0
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.getName.endsWith(".parquet")) {
        if (referenced.contains(canonical(f.getAbsolutePath))) foundReferenced += 1
        else orphans += f
      }
    walk(dataDir)
    val orphanFiles = orphans.result()
    // sanity guard: a lake WITH commits whose data files are 100%
    // unreferenced means the manifests' recorded absolute paths point
    // somewhere else — the lake was moved/copied after commit (or the
    // caller spelled a different path to it). Proceeding would delete
    // the entire table; abort loudly instead.
    if (!force && cur >= 1 && orphanFiles.nonEmpty && foundReferenced == 0)
      throw new IllegalStateException(
        s"every data file under $lakeDir is unreferenced by its own " +
          "manifests — the lake was likely moved or copied after commit; " +
          "refusing to delete everything (force = true overrides)")
    // validate EVERYTHING against the grace period before deleting
    // anything: abort-all-or-delete-all, never a half-cleaned lake
    staging.foreach(assertAged)
    orphanFiles.foreach(assertAged)
    staging.foreach { d => deleted += d.getAbsolutePath; rmTree(d) }
    orphanFiles.foreach { f => deleted += f.getAbsolutePath; f.delete(); () }
    deleted.result()
  }

  /** Atomically claim version slot `version`: stage the full manifest
    * body to a temp file, then hard-link it to `v<version>.manifest`.
    * link(2) is atomic and fails with EEXIST when the name exists, so
    * exactly one writer can ever claim a slot, and the manifest
    * appears to readers complete or not at all (the link exposes the
    * fully-written temp content — never a partial file). Returns
    * false when another writer holds the slot. A crash at any point
    * leaves either nothing visible or a complete committed manifest;
    * the only litter is a temp file / orphan data files that version
    * maintenance collects. CURRENT is refreshed afterwards as an
    * ADVISORY hint (racy across writers by design — all readers
    * derive the version from the manifests). */
  private def tryCommitManifest(lakeDir: String, version: Int,
      entries: Seq[Entry], batchId: Option[Long], retractId: Option[Long],
      schemaJson: String, blooms: Seq[BloomSpec],
      props: Map[String, String]): Boolean = {
    val dir = new File(versionsDir(lakeDir))
    dir.mkdirs()
    // carry the replay WATERMARKS forward on every commit (see
    // committedBatchId): the max of everything committed so far and
    // this commit's own ids rides the new manifest, so vacuuming
    // history past the newest batch/retraction can never regress the
    // guards.
    val body = renderManifest(Manifest(batchId, retractId,
      batchWm = math.max(committedBatchId(lakeDir), batchId.getOrElse(-1L)),
      retractWm = math.max(committedRetractId(lakeDir), retractId.getOrElse(-1L)),
      blooms, props, schemaJson, System.currentTimeMillis(), entries))
    val tmp = Paths.get(s"$dir/.staged-${java.util.UUID.randomUUID()}")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    try {
      Files.createLink(manifestPath(lakeDir, version), tmp)
      val ctmp = Paths.get(s"$dir/.current-${java.util.UUID.randomUUID()}")
      Files.write(ctmp, version.toString.getBytes(StandardCharsets.UTF_8))
      Files.move(ctmp, Paths.get(s"$dir/CURRENT"),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally {
      Files.deleteIfExists(tmp)
      ()
    }
  }
}

package graft.operators

import java.nio.charset.StandardCharsets
import java.util.UUID

import scala.collection.mutable.ListBuffer

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A commit lost its race: the target manifest version was taken (or the
  * store moved past the version the commit was planned against). The
  * CONTRACT, not a failure of it — the loser re-reads the new current
  * snapshot and retries ([[CorpusStore.tick]]'s bounded loop does exactly
  * that). Subtypes `IllegalStateException` so pre-existing catch sites
  * keep working.
  */
final class CommitConflictException(msg: String)
  extends IllegalStateException(msg)

/** A minimal snapshot-manifest table format: the dependency-free analog of
  * the single-statement transactional upserts the reference gets from
  * Postgres (`aggregators/base.py:155-238` — one INSERT .. ON CONFLICT is
  * atomic; a partition-dir swap on object storage is not).
  *
  * Layout under `root/`:
  * {{{
  *   _manifests/v00000000000000000001.manifest   one line per LIVE data file
  *   data/p_date=2024-01-01/part-...-<uuid>.parquet
  * }}}
  *
  * Protocol (write side):
  *   1. publish: move freshly-written files into `data/` under their
  *      partition dirs. File names carry Spark's per-job UUID, so versions
  *      never collide and published-but-uncommitted files are invisible.
  *   2. commit: write the next manifest to a temp name, then one atomic
  *      `rename` — the ONLY mutation readers can observe. A crash anywhere
  *      before it leaves the previous snapshot fully intact (orphan files
  *      only; `vacuum` reclaims them).
  *
  * Read side: the manifest IS the file listing — no recursive directory
  * listing, which at 100 TB (millions of files on object storage) is itself
  * the scan-planning bottleneck this format removes. Readers pin a snapshot:
  * a concurrent commit cannot make them see a torn mix of versions.
  *
  * Single writer assumed for store-level housekeeping (staging sweeps,
  * vacuum — the reference's collectors are single-flow too), but the COMMIT
  * itself is conditional: the manifest install fails loudly when the target
  * version already exists — atomically on local filesystems (hard link) and
  * HDFS (conditional rename), best-effort on object stores unless a
  * conditional-write [[commitPublisher]] is plugged in. A racing committer
  * can therefore never silently overwrite a manifest; it throws and may
  * retry from the new current version (`CommitRaceSpec`).
  *
  * `vacuum` retains the last [[RetainSnapshots]] snapshots, so a reader
  * pinned to the previous version survives a concurrent commit + vacuum.
  */
object ManifestTable {

  private val ManifestDirName = "_manifests"

  /** One live data file plus optional per-column (min, max) pruning stats.
    * Stats cover INT64-backed columns only (longs; timestamps Spark writes
    * as INT64 micros) — the columns file skipping pays off on. A file with
    * no stats for a column is never skipped on that column (safe default),
    * which also makes pre-stats manifests (bare-path lines) readable
    * unchanged. Membership metadata (Bloom filters) deliberately does NOT
    * live in the manifest: filter bytes scale with ROW count, a manifest
    * must stay O(file count) to be readable in full by every planner —
    * see [[writeFileBlooms]] for the sidecar-file form.
    */
  case class FileEntry(path: String, stats: Map[String, (Long, Long)] = Map.empty)

  // manifest line: path[<TAB>col=min..max[;col=min..max]...]
  private def renderEntry(e: FileEntry): String =
    if (e.stats.isEmpty) e.path
    else e.path + "\t" + e.stats.toSeq.sortBy(_._1)
      .map { case (c, (lo, hi)) => s"$c=$lo..$hi" }.mkString(";")

  private def parseEntry(line: String): FileEntry =
    line.split('\t') match {
      case Array(p) => FileEntry(p)
      case parts =>
        // stats are the first tab field; any later field (e.g. the retired
        // inline-bloom experiment's bloom64: tag) is ignored, not an error
        val stats = parts(1).split(';').iterator.filter(_.contains("=")).map { kv =>
          val Array(c, range) = kv.split("=", 2)
          val Array(lo, hi) = range.split("\\.\\.", 2)
          c -> (lo.toLong, hi.toLong)
        }.toMap
        FileEntry(parts(0), stats)
    }

  /** Java-serializable Hadoop `Configuration` carrier, so a distributed
    * job's tasks can open the SAME filesystem the driver resolved (with
    * its credentials/endpoints) — `Configuration` itself is only Writable.
    */
  private class SerializableHadoopConf(
      @transient var value: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new org.apache.hadoop.conf.Configuration(false)
      value.readFields(in)
    }
  }

  /** Bloom sidecar of data file `relFile`: `_blooms/<relFile>.bloom`.
    * Membership skipping for point-lookup workloads where min/max stats
    * cannot prune (uniform hashes: the CorpusStore's text_md5 / band_val
    * probes). Kept OUT of the manifest because filter bytes scale with row
    * count — sidecars are read lazily, only for the files a scan already
    * shortlisted, while the manifest stays O(file count). A data file is
    * immutable once published, so its sidecar is immutable too (rewrites
    * produce new file names), which is what makes [[readBloom]]'s cache
    * safe with no invalidation protocol.
    */
  private def bloomPath(root: String, relFile: String): Path =
    new Path(s"$root/_blooms/$relFile.bloom")

  /** Build and persist the Bloom sidecar of every file in `relFiles`
    * (paths relative to `data/`), over string key column `column`. ONE
    * distributed job however many files — (file, key) pairs group by file,
    * each group STREAMS into a filter pre-sized from the file's footer row
    * count (never materialized: a compacted file holds millions of keys)
    * and the TASK writes the sidecar, so filter bytes never funnel through
    * the driver
    * (a full-store compaction rewrite would otherwise stream O(store rows)
    * through it). Sidecars land before the commit that makes their data
    * files live; a crash in between leaves orphans [[vacuum]] reclaims.
    */
  def writeFileBlooms(spark: SparkSession, root: String, relFiles: Seq[String],
                      column: String, fpp: Double = 0.01): Unit =
    writeFileBloomGroups(spark, root, Seq((relFiles, column, None)), fpp)

  /** [[writeFileBlooms]] over several (files, key column) groups — e.g. one
    * commit's doc/tomb/band/sh file sets, each probed by a different
    * column — as ONE distributed job: the per-group (file, key) streams
    * union before the group-by-file fold, so a tick pays one job's fixed
    * overhead for all of its kinds' sidecars instead of one per kind.
    * Each file's filter is pre-sized from its parquet footer's row count
    * (one concurrent metadata read per file, the [[footerMeta]] pass) and
    * the task STREAMS keys into it — a compacted file holds millions of
    * rows, and materializing its keys before sizing would OOM the task.
    */
  def writeFileBloomGroups(spark: SparkSession, root: String,
                           groups: Seq[(Seq[String], String,
                             Option[org.apache.spark.sql.types.StructType])],
                           fpp: Double = 0.01): Unit = {
    val nonEmpty = groups.filter(_._1.nonEmpty)
    if (nonEmpty.isEmpty) return
    import spark.implicits._
    val dataRoot = dataDir(root)
    // qualified through the filesystem so a RELATIVE root still strips
    // against input_file_name's absolute URI path
    val dataPath = fsOf(spark, dataRoot)
      .makeQualified(new Path(dataRoot)).toUri.getPath
    val bloomRoot = s"$root/_blooms"
    val conf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val rowsOf: Map[String, Long] =
      nonEmpty.flatMap { case (relFiles, _, _) =>
        footerMeta(spark, dataRoot, relFiles, Seq.empty)
          .map { case (e, n) => e.path -> n }
      }.toMap
    val rowsOfB = spark.sparkContext.broadcast(rowsOf)
    nonEmpty.map { case (relFiles, column, schemaOpt) =>
      // a supplied schema (callers that own their file schemas, e.g. the
      // CorpusStore kinds) skips the per-group footer-reading
      // schema-inference job the bare parquet() read pays
      val rd = schemaOpt.fold(spark.read)(spark.read.schema)
      rd.parquet(relFiles.map(f => s"$dataRoot/$f"): _*)
        .select(org.apache.spark.sql.functions.input_file_name().as("f"),
          org.apache.spark.sql.functions.col(column).cast("string").as("k"))
        .as[(String, String)]
    }
      .reduce(_ union _)
      .groupByKey(_._1)
      .mapGroups { (file, it) =>
        // input_file_name is a URI; re-relativize against data/. A prefix
        // mismatch must fail loudly — a silently misplaced sidecar reads
        // back as "no filter" and disables pruning with no error anywhere
        val uriPath = new Path(file).toUri.getPath
        require(uriPath.startsWith(dataPath),
          s"bloom sidecar path $uriPath escapes data root $dataPath")
        val rel = uriPath.stripPrefix(dataPath).stripPrefix("/")
        val bf = org.apache.spark.util.sketch.BloomFilter
          .create(math.max(rowsOfB.value.getOrElse(rel, 1L << 20), 16L), fpp)
        it.foreach(kv => bf.putString(kv._2))
        val dest = new Path(s"$bloomRoot/$rel.bloom")
        val fs = dest.getFileSystem(conf.value)
        val out = fs.create(dest, true)
        try bf.writeTo(out) finally out.close()
        rel
      }
      .collect()  // force the job; result is just the rel paths written
    rowsOfB.destroy()
  }

  /** Driver-side sidecar LRU keyed by `root/relFile`, bounded by DECODED
    * BYTES, not entry count — a compacted file's filter is MBs (fpp 0.01 ≈
    * 1.2 bytes/row), so an entry-count bound would let the "bounded" cache
    * grow to GBs of driver heap. Entries are immutable (see [[bloomPath]])
    * so there is no invalidation. Negative results are cached ONLY on a
    * verified missing sidecar (a live file either had its sidecar before
    * its commit or never will); a transient read error is NOT cached —
    * pinning "no filter" for the driver's lifetime off one throttled open
    * would silently disable pruning for that file forever.
    */
  private val BloomCacheMaxBytes = 256L << 20
  private var bloomCacheBytes = 0L
  private val bloomCache =
    new java.util.LinkedHashMap[String,
        Option[org.apache.spark.util.sketch.BloomFilter]](64, 0.75f, true)
  private def bloomWeight(
      v: Option[org.apache.spark.util.sketch.BloomFilter]): Long =
    v.map(_.bitSize() / 8 + 64L).getOrElse(64L)

  /** The Bloom sidecar of `relFile`, if one exists and decodes. `None`
    * (missing or unreadable — e.g. a torn write) means the caller must
    * KEEP the file: skipping is only ever justified by a negative probe of
    * a healthy filter.
    */
  def readBloom(spark: SparkSession, root: String,
                relFile: String): Option[org.apache.spark.util.sketch.BloomFilter] = {
    val key = s"$root/$relFile"
    val cached = bloomCache.synchronized(Option(bloomCache.get(key)))
    cached.getOrElse {
      // IO phase: a failure here (throttled open, torn connection, listing
      // hiccup) is TRANSIENT — keep the file and cache NOTHING, so the next
      // probe retries instead of inheriting the error for the driver's
      // lifetime. `Right(None)` is a verified-missing sidecar (cacheable: a
      // live file either had its sidecar before its commit or never will).
      val io: Either[Unit, Option[Array[Byte]]] =
        try {
          val p = bloomPath(root, relFile)
          val fs = fsOf(spark, root)
          if (!fs.exists(p)) Right(None)
          else {
            val in = fs.open(p)
            try {
              val buf = new java.io.ByteArrayOutputStream(64 << 10)
              val chunk = new Array[Byte](64 << 10)
              var n = in.read(chunk)
              while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
              Right(Some(buf.toByteArray))
            } finally in.close()
          }
        } catch { case scala.util.control.NonFatal(_) => Left(()) }
      io match {
        case Left(_) => None
        case Right(bytes) =>
          // decode phase: the sidecar was already read IN FULL, so a decode
          // failure is a corrupt (torn-write) file — PERMANENT, sidecars
          // being immutable — and is negative-cached like a verified miss;
          // re-reading the same bytes on every probe can never succeed and
          // would re-pay the IO forever.
          val loaded = bytes.flatMap { bs =>
            try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(
              new java.io.ByteArrayInputStream(bs)))
            catch { case scala.util.control.NonFatal(_) => None }
          }
          bloomCache.synchronized {
            if (bloomCache.get(key) == null) {
              bloomCache.put(key, loaded)
              bloomCacheBytes += bloomWeight(loaded)
              val it = bloomCache.entrySet().iterator()
              while (bloomCacheBytes > BloomCacheMaxBytes && it.hasNext) {
                bloomCacheBytes -= bloomWeight(it.next().getValue)
                it.remove()
              }
            }
          }
          loaded
      }
    }
  }

  /** [[readBloom]] over many files, loading COLD sidecars from a bounded
    * thread pool — at production counts (thousands of files per touched
    * bucket) a cold tick's serial probe loop pays one filesystem round-trip
    * per file on the driver, the same reason [[footerMeta]] reads footers
    * concurrently. Warm entries are served from the cache and never touch
    * the pool; per-file semantics (including what is and isn't cached) are
    * exactly [[readBloom]]'s, which is thread-safe.
    */
  def readBlooms(spark: SparkSession, root: String, relFiles: Seq[String])
      : Map[String, Option[org.apache.spark.util.sketch.BloomFilter]] = {
    val cold = relFiles.filter(f =>
      bloomCache.synchronized(bloomCache.get(s"$root/$f") == null))
    if (cold.size > 1) {
      import scala.jdk.CollectionConverters._
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(cold.size, 16))
      try pool.invokeAll(cold.map { f =>
        new java.util.concurrent.Callable[Unit] {
          def call(): Unit = { readBloom(spark, root, f); () }
        }
      }.asJava).asScala.foreach(_.get())
      finally pool.shutdown()
    }
    relFiles.map(f => f -> readBloom(spark, root, f)).toMap
  }

  def dataDir(root: String): String = s"$root/data"

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(root: String, version: Long): Path =
    new Path(s"$root/$ManifestDirName/v${"%020d".format(version)}.manifest")

  /** Latest committed version, if any manifest exists. */
  def currentVersion(spark: SparkSession, root: String): Option[Long] =
    versions(spark, root).lastOption

  /** All committed versions, ascending. */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val fs = fsOf(spark, root)
    val dir = new Path(s"$root/$ManifestDirName")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toLong
      }.sorted
  }

  /** `v{N}` version-directory children of `dir` — the versioned-sidecar
    * layout the model stores share ([[CentroidStore]] model versions,
    * [[QuantStore]] `_bounds`, [[CorpusStore]] `_models`) — ascending by
    * N. One parser, so the stores cannot drift.
    */
  private[operators] def versionDirs(fs: FileSystem, dir: Path): Seq[(Long, Path)] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .collect { case st if { val n = st.getPath.getName
          n.startsWith("v") && n.length > 1 && n.drop(1).forall(_.isDigit) } =>
        (st.getPath.getName.drop(1).toLong, st.getPath)
      }.sortBy(_._1)

  /** Delete every `v{N}` child of `dir` whose N is not in `keep` — the
    * shared retention pass for sidecars versioned with a snapshot.
    */
  private[operators] def pruneVersionDirs(fs: FileSystem, dir: Path,
                                          keep: Set[Long]): Unit =
    versionDirs(fs, dir).foreach { case (v, p) =>
      if (!keep.contains(v)) fs.delete(p, true)
    }

  // `#`-prefixed header lines (the commit token, see [[commitEntries]]) are
  // metadata, not file entries; `allLinesOf` keeps them for the readers that
  // want the token, `rawLinesOf` is the entry-only view every other caller
  // (including the kept-lines carry-forward in a commit) uses.
  private def allLinesOf(spark: SparkSession, root: String, version: Long): Seq[String] = {
    val fs = fsOf(spark, root)
    val in = fs.open(manifestPath(root, version))
    try {
      scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().map(_.trim).filter(_.nonEmpty).toList
    } finally in.close()
  }

  private def rawLinesOf(spark: SparkSession, root: String, version: Long): Seq[String] =
    allLinesOf(spark, root, version).filterNot(_.startsWith("#"))

  private val TokenPrefix = "#token="
  private val MetaPrefix = "#meta:"

  /** Per-commit key=value metadata recorded INSIDE `version`'s manifest
    * file (`#meta:` header lines, written by the commit that created the
    * version). Because the lines ride the manifest bytes through the same
    * conditional [[commitPublisher]] install, the metadata is ATOMIC with
    * the snapshot — the mechanism version-paired state (e.g. [[IvfStore]]'s
    * model↔postings ref) uses so no separately-written sidecar can be
    * clobbered by a racing committer. Commits that wrote no meta yield an
    * empty map.
    */
  def commitMeta(spark: SparkSession, root: String,
                 version: Long): Map[String, String] =
    allLinesOf(spark, root, version)
      .filter(_.startsWith(MetaPrefix))
      .map { l =>
        val kv = l.substring(MetaPrefix.length)
        val i = kv.indexOf('=')
        require(i > 0, s"malformed manifest meta line: $l")
        kv.substring(0, i) -> kv.substring(i + 1)
      }.toMap

  /** The commit token of `version`'s manifest header, by reading ONLY the
    * first line — the cheap identity probe [[entriesOf]] validates its
    * cache with (one small ranged read, not a full manifest parse). A
    * non-token first line yields None.
    */
  private def headerToken(spark: SparkSession, root: String, version: Long): Option[String] = {
    val fs = fsOf(spark, root)
    val in = fs.open(manifestPath(root, version))
    try {
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, StandardCharsets.UTF_8), 256)
      Option(r.readLine()).map(_.trim).filter(_.startsWith(TokenPrefix))
    } finally in.close()
  }

  /** Data files of snapshot `version`, as paths relative to `data/`. */
  def filesOf(spark: SparkSession, root: String, version: Long): Seq[String] =
    entriesOf(spark, root, version).map(_.path)

  /** Driver-side parsed-manifest LRU keyed by `root@version`. A committed
    * manifest is immutable (versions only ever grow; vacuum deletes old
    * versions but never rewrites one), so the bound only caps memory. One
    * tick reads the same snapshot's listing for each of its kind prunes;
    * this makes that one parse, not five. Hits are validated by the
    * manifest's COMMIT TOKEN (a per-commit UUID header, see
    * [[commitEntries]]) via a first-line read — one small RPC instead of a
    * full read+parse — so a store deleted and re-created at the same path
    * (which legitimately restarts version numbers) can never be served the
    * old root's listing: the recreated manifest carries a fresh token even
    * when its length and second-granularity mtime happen to collide with
    * the old one's. A manifest whose first line is no token (every commit
    * writes one; only hand-written files lack it) is read but never cached:
    * nothing could validate a hit on it.
    */
  private val EntryCacheMax = 8
  private case class CachedEntries(token: String, entries: Seq[FileEntry])
  private val entryCache =
    new java.util.LinkedHashMap[String, CachedEntries](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, CachedEntries]): Boolean =
        size() > EntryCacheMax
    }

  /** Data files of snapshot `version` with their pruning stats. */
  def entriesOf(spark: SparkSession, root: String, version: Long): Seq[FileEntry] = {
    val key = s"$root@$version"
    // the token alone decides: it is unique per commit, so a match proves
    // this is byte-for-byte the manifest that was parsed (a validation
    // failure of any kind just falls through to a re-read)
    val cached = entryCache.synchronized(Option(entryCache.get(key)))
      .filter { c =>
        try headerToken(spark, root, version).contains(c.token)
        catch { case scala.util.control.NonFatal(_) => false }
      }
    cached.map(_.entries).getOrElse {
      val lines = allLinesOf(spark, root, version)
      val parsed = lines.filterNot(_.startsWith("#")).map(parseEntry)
      lines.headOption.filter(_.startsWith(TokenPrefix)).foreach { t =>
        entryCache.synchronized(entryCache.put(key, CachedEntries(t, parsed)))
      }
      parsed
    }
  }

  /** Live entries (path + stats) of the latest snapshot. */
  def liveEntries(spark: SparkSession, root: String): Seq[FileEntry] =
    currentVersion(spark, root) match {
      case None    => Seq.empty
      case Some(v) => entriesOf(spark, root, v)
    }

  /** Live data files of the latest snapshot, as paths relative to `data/`
    * (e.g. `p_date=2024-01-01/part-00000-<uuid>.parquet`).
    */
  def liveFiles(spark: SparkSession, root: String): Seq[String] =
    currentVersion(spark, root) match {
      case None    => Seq.empty
      case Some(v) => filesOf(spark, root, v)
    }

  /** Read the latest snapshot. Explicit file list + basePath keeps partition
    * inference (`p_date=...` dirs) while never listing directories.
    */
  def read(spark: SparkSession, root: String): DataFrame = {
    val v = currentVersion(spark, root)
    require(v.nonEmpty, s"no committed snapshot at $root")
    readAt(spark, root, v.get)
  }

  /** Read a PINNED snapshot version — the form consumers use when a model
    * sidecar must pair with exactly this version's data (see `QuantStore`).
    */
  def readAt(spark: SparkSession, root: String, version: Long): DataFrame = {
    val files = filesOf(spark, root, version)
    require(files.nonEmpty, s"no committed snapshot v$version at $root")
    spark.read.option("basePath", dataDir(root))
      .parquet(files.map(f => s"${dataDir(root)}/$f"): _*)
  }

  /** Entries whose stats CANNOT rule out rows with `statCol` in [lo, hi] —
    * manifest-level file skipping, the same min/max pruning Delta/Iceberg
    * do from their manifests. A file without stats for the column is kept
    * (skipping must be provably safe). Pure metadata: no file is opened.
    */
  def pruneEntries(entries: Seq[FileEntry], statCol: String,
                   lo: Long, hi: Long): Seq[FileEntry] =
    entries.filter(_.stats.get(statCol).forall { case (mn, mx) => mx >= lo && mn <= hi })

  /** Read the latest snapshot restricted to files that can hold `statCol`
    * values in [lo, hi] (closed interval, in the column's INT64 physical
    * units — epoch-µs for Spark-written timestamps). The caller still
    * applies the row-level predicate; this only shrinks the file list the
    * scan plans over — at 100 TB the difference between touching a day and
    * touching the whole table. Falls back to the full listing semantics
    * when no file carries stats.
    */
  def readWhere(spark: SparkSession, root: String, statCol: String,
                lo: Long, hi: Long): DataFrame = {
    val entries = liveEntries(spark, root)
    require(entries.nonEmpty, s"no committed snapshot at $root")
    val kept = pruneEntries(entries, statCol, lo, hi)
    if (kept.isEmpty)
      // every file pruned: preserve the schema with an empty scan over one
      // file (cheapest way to a correctly-typed empty frame)
      spark.read.option("basePath", dataDir(root))
        .parquet(s"${dataDir(root)}/${entries.head.path}")
        .limit(0)
    else
      spark.read.option("basePath", dataDir(root))
        .parquet(kept.map(e => s"${dataDir(root)}/${e.path}"): _*)
  }

  /** Per-file (rowCount, min/max stats for `statCols`) straight from the
    * parquet FOOTERS of `relFiles` — one concurrent metadata read per file
    * (same rationale as the row-count pass in [[Incremental]]: sequential
    * opens would serialize N round-trips on object storage). Stats are
    * collected only for top-level INT64 columns (longs, micros timestamps)
    * whose every block carries non-null min/max; anything else yields no
    * entry for that column, which [[pruneEntries]] treats as unskippable.
    */
  def footerMeta(spark: SparkSession, dataRoot: String, relFiles: Seq[String],
                 statCols: Seq[String]): Seq[(FileEntry, Long)] =
    if (relFiles.isEmpty) Seq.empty
    else {
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
      val hconf = spark.sparkContext.hadoopConfiguration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(relFiles.size, 16))
      try {
        import scala.jdk.CollectionConverters._
        pool.invokeAll(
          relFiles.map { rel =>
            new java.util.concurrent.Callable[(FileEntry, Long)] {
              def call(): (FileEntry, Long) = {
                val r = org.apache.parquet.hadoop.ParquetFileReader.open(
                  org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                    new Path(s"$dataRoot/$rel"), hconf))
                try {
                  val blocks = r.getFooter.getBlocks.asScala
                  val stats = statCols.flatMap { c =>
                    val chunks = blocks.flatMap(_.getColumns.asScala)
                      .filter(_.getPath.toDotString == c)
                    val ok = chunks.nonEmpty && chunks.forall { ch =>
                      ch.getPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT64 &&
                        ch.getStatistics != null && ch.getStatistics.hasNonNullValue
                    }
                    if (!ok) None
                    else {
                      val mins = chunks.map(_.getStatistics.genericGetMin
                        .asInstanceOf[java.lang.Long].longValue)
                      val maxs = chunks.map(_.getStatistics.genericGetMax
                        .asInstanceOf[java.lang.Long].longValue)
                      Some(c -> (mins.min, maxs.max))
                    }
                  }.toMap
                  (FileEntry(rel, stats), r.getRecordCount)
                } finally r.close()
              }
            }
          }.asJava
        ).asScala.map(_.get()).toSeq
      } finally pool.shutdown()
    }

  /** Step 1 of a commit: move every parquet file under `stagedDir`
    * (a normal partitioned Spark write) into `data/`, preserving the
    * partition-relative layout. Returns the relative paths moved. Crash-safe:
    * moved files are not in any manifest yet, so readers cannot see them.
    */
  def publishFiles(spark: SparkSession, root: String, stagedDir: String): Seq[String] = {
    val fs = fsOf(spark, root)
    val staged = fs.makeQualified(new Path(stagedDir))
    val moved = ListBuffer.empty[String]
    if (fs.exists(staged)) {
      val it = fs.listFiles(staged, true)
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) {
          val rel = staged.toUri.relativize(f.getPath.toUri).getPath
          val dest = new Path(s"${dataDir(root)}/$rel")
          fs.mkdirs(dest.getParent)
          require(fs.rename(f.getPath, dest), s"publish failed: $rel")
          moved += rel
        }
      }
      fs.delete(staged, true)
    }
    moved.toList
  }

  /** Step 2: atomically commit the next snapshot = previous live files minus
    * those under `replacedPartitions` (directory prefixes like
    * `p_date=2024-01-01`; an empty prefix replaces everything), plus
    * `addedFiles`. Returns the committed version.
    */
  def commitReplace(spark: SparkSession, root: String,
                    replacedPartitions: Seq[String],
                    addedFiles: Seq[String],
                    expectedVersion: Option[Long] = None,
                    meta: Map[String, String] = Map.empty): Long =
    commitEntries(spark, root, replacedPartitions,
      addedFiles.map(FileEntry(_)), expectedVersion, meta)

  /** How a commit installs its written temp manifest as the version-numbered
    * target — the format's single LogStore-style seam (the role Delta's
    * LogStore plays for `_delta_log`). Contract: atomically make `target`
    * exist with `tmp`'s bytes, THROWING — never silently replacing — if
    * `target` already exists, so a racing committer of the same version
    * loses loudly instead of losing a manifest. The default dispatches on
    * the filesystem:
    *   - local paths: a POSIX hard link (atomic, fails with EEXIST) then
    *     unlink of the temp — this CLOSES the exists()+rename window
    *     entirely, because link(2) is create-exclusive at the kernel;
    *   - object-store schemes (s3/s3a/gs/abfs/…, where rename is a fake —
    *     a copy that silently replaces the target): the lease-lock
    *     publisher ([[leaseCommitPublish]] — the Delta-on-S3 LogStore
    *     role), selected by URI scheme;
    *   - everything else (HDFS and rename-atomic filesystems): exists() +
    *     rename, which HDFS makes conditional (rename onto an existing
    *     file returns false).
    */
  @volatile var commitPublisher: (FileSystem, Path, Path) => Unit =
    defaultCommitPublish

  /** URI schemes whose `rename` is copy-based and NOT conditional on the
    * target (and whose `create` ignores overwrite flags) — the filesystems
    * that need the lease publisher. Extendable per-deployment via the
    * hadoop conf key `graft.commit.nonatomic.schemes` (comma-separated) —
    * which is also how the race spec routes its simulated object-store FS
    * here.
    */
  private val NonAtomicRenameSchemes = Set(
    "s3", "s3a", "s3n", "gs", "oss", "swift", "wasb", "wasbs", "abfs",
    "abfss", "cosn")

  private def isNonAtomicRenameFs(fs: FileSystem): Boolean = {
    val scheme = Option(fs.getUri).flatMap(u => Option(u.getScheme))
      .map(_.toLowerCase).getOrElse("")
    NonAtomicRenameSchemes.contains(scheme) ||
      fs.getConf.get("graft.commit.nonatomic.schemes", "")
        .split(",").map(_.trim.toLowerCase).contains(scheme)
  }

  /** Whether this filesystem's `create(path, overwrite = false)` is a TRUE
    * conditional write — one atomic create-if-absent arbitrated AT THE
    * STORE (S3 If-None-Match through a conditional-write-enabled
    * connector, GCS generation-0 preconditions, ABFS ETag creates), not a
    * client-side exists()+create. Declared per deployment via the hadoop
    * conf key `graft.commit.conditional.schemes` (comma-separated): the
    * operator's assertion that the connector is configured for conditional
    * creates. A declared scheme takes the [[putIfAbsentCommitPublish]]
    * path even when it is also listed rename-non-atomic — conditional
    * create is strictly stronger than the lease protocol (no settle
    * window, no committer-clock assumption), so it wins the dispatch.
    */
  private def isConditionalCreateFs(fs: FileSystem): Boolean = {
    val scheme = Option(fs.getUri).flatMap(u => Option(u.getScheme))
      .map(_.toLowerCase).getOrElse("")
    fs.getConf.get("graft.commit.conditional.schemes", "")
      .split(",").map(_.trim.toLowerCase).contains(scheme)
  }

  /** The conditional-PUT manifest install — the [[leaseCommitPublish]]
    * scaladoc's endgame, for stores with native write preconditions: ONE
    * create-exclusive PUT of the manifest bytes, arbitrated by the store
    * itself. Of two racing committers of the same version exactly one
    * create succeeds and the other throws [[CommitConflictException]] —
    * no lock object, no settle window, and NO clock assumption (the lease
    * protocol's residual caveats). A read-back verifies the committed
    * bytes are ours, turning any connector that silently last-writer-wins
    * despite the declared precondition into a loud conflict rather than a
    * lost manifest.
    */
  private[graft] def putIfAbsentCommitPublish(fs: FileSystem, tmp: Path,
                                              target: Path): Unit = {
    def conflict(): Nothing = throw new CommitConflictException(
      s"commit conflict: $target already exists (racing committer)")
    val bytes = readAllBytes(fs, tmp)
    // An IOException whose message merely CONTAINS "exist" is AMBIGUOUS —
    // "does not exist" / "no such file exists" match too, and a transport
    // error after the object actually materialized would have classified a
    // COMMITTED manifest as a conflict (whose handler then deletes this
    // attempt's data files — a committed manifest referencing deleted
    // files). Probe the target instead of guessing: absent → the failure
    // was something else entirely, rethrow it verbatim; present with our
    // bytes → the PUT materialized before the error surfaced, success;
    // present with foreign bytes → a real conflict. Returns true iff our
    // bytes are committed.
    def resolveAmbiguous(e: java.io.IOException): Boolean = {
      val exists =
        try fs.exists(target)
        catch { case scala.util.control.NonFatal(_) => throw e }
      if (!exists) throw e
      if (java.util.Arrays.equals(readAllBytes(fs, target), bytes)) true
      else conflict()
    }
    val out =
      try fs.create(target, false)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => conflict()
        case _: java.nio.file.FileAlreadyExistsException => conflict()
        case e: java.io.IOException
          if Option(e.getMessage).exists(_.toLowerCase.contains("exist")) =>
          resolveAmbiguous(e) // our bytes already committed (crashed retry)
          fs.delete(tmp, false)
          return
      }
    // object PUTs materialize at close — a precondition failure may surface
    // there instead of at create
    try { try out.write(bytes) finally out.close() }
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => conflict()
      case _: java.nio.file.FileAlreadyExistsException => conflict()
      case e: java.io.IOException
        if Option(e.getMessage).exists(_.toLowerCase.contains("exist")) =>
        resolveAmbiguous(e) // our bytes committed → fall through as success
    }
    if (!java.util.Arrays.equals(readAllBytes(fs, target), bytes))
      conflict() // the "conditional" create was not: bytes lost an overwrite
    fs.delete(tmp, false)
  }

  private[graft] def defaultCommitPublish(fs: FileSystem, tmp: Path,
                                          target: Path): Unit = {
    def conflict(): Nothing = throw new CommitConflictException(
      s"commit conflict: $target already exists (racing committer)")
    fs match {
      // a declared conditional-create scheme wins outright: the store's
      // own precondition is strictly stronger than both the lease protocol
      // and any rename path
      case _ if isConditionalCreateFs(fs) =>
        putIfAbsentCommitPublish(fs, tmp, target)
      // the EXPLICIT non-atomic dispatch must win over the local/rename
      // arms: an object-store-like FS can subclass a local one (exactly how
      // the race harness simulates S3 semantics), and the scheme
      // declaration is the operator's intent
      case _ if isNonAtomicRenameFs(fs) =>
        leaseCommitPublish(fs, tmp, target)
      case _: org.apache.hadoop.fs.LocalFileSystem |
           _: org.apache.hadoop.fs.RawLocalFileSystem =>
        val src = java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath)
        val dst = java.nio.file.Paths.get(fs.makeQualified(target).toUri.getPath)
        try java.nio.file.Files.createLink(dst, src)
        catch { case _: java.nio.file.FileAlreadyExistsException => conflict() }
        // the link IS the commit point; temp cleanup is best-effort
        // (fs.delete also drops LocalFileSystem's .crc sidecar of the temp)
        fs.delete(tmp, false)
      case _ =>
        if (fs.exists(target)) conflict()
        if (!fs.rename(tmp, target)) conflict()
    }
  }

  /** The OBJECT-STORE conditional install: a lease-lock protocol over
    * nothing but last-writer-wins PUT + strongly-consistent read (what
    * S3/GCS/ABFS provide today) — the role Delta's S3 LogStore plays for
    * `_delta_log`, without the external coordination table.
    *
    * Protocol, per target version (locks of different versions never
    * contend):
    *   1. CLAIM `target.lock` by overwriting it with a unique owner token
    *      + wall-clock stamp, wait one settle window, read back: the
    *      claimant that survives the last-writer-wins overwrite owns the
    *      lease; the other reads a foreign token and loops.
    *   2. Under the lease: re-check the target is absent (a finished
    *      committer → loud [[CommitConflictException]]), RE-VERIFY the
    *      lease right before the PUT, write the manifest, and read it back
    *      — a foreign read-back means the bytes lost an overwrite race and
    *      the commit conflicts rather than silently succeeding.
    *   3. Release the lock (only if still owned); a crashed holder's lock
    *      EXPIRES after `graft.commit.lease.ms` (default 60 s) and is
    *      broken by the next claimant.
    *
    * Honest limits: without a conditional PUT there is no true CAS — the
    * residual window is two claimants interleaving within one settle
    * window AND passing all three re-checks within the same microseconds.
    * The layered checks shrink the round-12 "every commit races" window to
    * that sliver; a store offering conditional writes (S3 If-None-Match,
    * GCS preconditions) should plug a putIfAbsent [[commitPublisher]]
    * instead and get the real thing. Lease expiry assumes committer clocks
    * agree to within the lease duration (the standard lease caveat).
    *
    * Assumed store semantics (true of S3/GCS/ABFS, asserted by the race
    * harness): PUTs are ATOMIC-AT-CLOSE — an object is either absent or
    * fully present, never partially visible (a reader of the committed
    * manifest must see all its lines; a partial read would silently shrink
    * the next commit's kept set), and reads are strongly consistent.
    *
    * Tuning (hadoop conf): `graft.commit.lease.ms` (expiry, 60000),
    * `graft.commit.lease.settle.ms` (claim settle window, 100),
    * `graft.commit.lease.timeout.ms` (acquire budget, 600000).
    */
  private[graft] def leaseCommitPublish(fs: FileSystem, tmp: Path,
                                        target: Path): Unit = {
    val conf = fs.getConf
    val leaseMs = conf.getLong("graft.commit.lease.ms", 60000L)
    val settleMs = conf.getLong("graft.commit.lease.settle.ms", 100L)
    val timeoutMs = conf.getLong("graft.commit.lease.timeout.ms", 600000L)
    val me = UUID.randomUUID().toString
    val lock = new Path(target.getParent, target.getName + ".lock")
    val bytes = readAllBytes(fs, tmp)
    def conflict(): Nothing = throw new CommitConflictException(
      s"commit conflict: $target already exists (racing committer)")
    // a torn/unparsable read counts as absent: the settle-verify loop, not
    // the parse, is what arbitrates ownership
    def lockOwner(): Option[(String, Long)] =
      try {
        if (!fs.exists(lock)) None
        else {
          val txt = new String(readAllBytes(fs, lock), StandardCharsets.UTF_8)
          txt.split("\n") match {
            case Array(o, s) => Some((o.trim, s.trim.toLong))
            case _           => None
          }
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    def writeLock(): Unit = {
      val out = fs.create(lock, true) // PUT: last writer wins by design
      try out.write(s"$me\n${System.currentTimeMillis()}"
        .getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
    val deadline = System.currentTimeMillis() + timeoutMs
    var owned = false
    while (!owned) {
      if (fs.exists(target)) conflict()
      val now = System.currentTimeMillis()
      val blocked = lockOwner().exists { case (o, stamp) =>
        o != me && now - stamp <= leaseMs
      }
      if (!blocked) {
        writeLock()
        if (settleMs > 0) Thread.sleep(settleMs)
        owned = lockOwner().exists(_._1 == me)
      }
      if (!owned) {
        if (System.currentTimeMillis() > deadline)
          throw new IllegalStateException(
            s"commit lease at $lock not acquired within ${timeoutMs}ms — " +
              "holder crashed with a future clock, or the store is " +
              "overcommitted; raise graft.commit.lease.timeout.ms or " +
              "clear the lock once its writer is provably dead")
        Thread.sleep(math.max(settleMs, 10L))
      }
    }
    try {
      if (fs.exists(target)) conflict()
      // final ownership check narrows the claim race to the PUT itself
      if (!lockOwner().exists(_._1 == me)) conflict()
      val out = fs.create(target, true)
      try out.write(bytes) finally out.close()
      if (!java.util.Arrays.equals(readAllBytes(fs, target), bytes))
        conflict() // lost a same-version overwrite race after the PUT
      fs.delete(tmp, false)
    } finally {
      if (lockOwner().exists(_._1 == me)) fs.delete(lock, false)
    }
  }

  /** Full drain read (Hadoop streams may return partial reads). */
  private def readAllBytes(fs: FileSystem, f: Path): Array[Byte] = {
    val in = fs.open(f)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n > 0) { bos.write(buf, 0, n); n = in.read(buf) }
      bos.toByteArray
    } finally in.close()
  }

  /** [[commitReplace]] with pruning stats attached to the added files (see
    * [[FileEntry]]); kept files carry their existing stats forward.
    *
    * Concurrency: the manifest install is conditional (see
    * [[commitPublisher]]) — of two committers that both read version N,
    * exactly one commits N+1 and the other THROWS, never silently
    * overwriting; the loser can re-read and retry (`CommitRaceSpec` pins
    * no-lost-update under concurrent retrying committers). Store-level
    * writers ([[CorpusStore]] ticks) still assume external serialization
    * for their staging/vacuum housekeeping; this guard is what turns a
    * violated assumption into a loud failure instead of a lost manifest.
    */
  def commitEntries(spark: SparkSession, root: String,
                    replacedPartitions: Seq[String],
                    added: Seq[FileEntry],
                    expectedVersion: Option[Long] = None,
                    meta: Map[String, String] = Map.empty): Long =
    commitDropping(spark, root,
      f => replacedPartitions.exists(p => p.isEmpty || f.startsWith(p + "/")),
      added, expectedVersion, meta)

  /** Commit the next snapshot = previous live files minus EXACTLY the named
    * files, plus `added` — the file-level rewrite commit (a purge or
    * selective compaction replaces individual files, not partition
    * prefixes). Removing a file not in the live set is an error: the
    * caller planned its rewrite against a snapshot that has moved, and
    * committing would silently re-expose rows the caller thought it
    * replaced.
    */
  def commitRewriteFiles(spark: SparkSession, root: String,
                         removedFiles: Seq[String],
                         added: Seq[FileEntry],
                         expectedVersion: Option[Long] = None,
                         meta: Map[String, String] = Map.empty): Long = {
    val live = liveFiles(spark, root).toSet
    val missing = removedFiles.filterNot(live.contains)
    require(missing.isEmpty,
      s"rewrite commit removes files not in the live snapshot " +
        s"(planned against a moved store?): ${missing.take(5).mkString(",")}")
    val doomed = removedFiles.toSet
    commitDropping(spark, root, doomed.contains, added, expectedVersion, meta)
  }

  private def commitDropping(spark: SparkSession, root: String,
                             drop: String => Boolean,
                             added: Seq[FileEntry],
                             expectedVersion: Option[Long] = None,
                             meta: Map[String, String] = Map.empty): Long = {
    val fs = fsOf(spark, root)
    val prev = currentVersion(spark, root)
    // optimistic-transaction check (version 0 = empty store): a caller that
    // COMPUTED its commit against snapshot N must not build on a snapshot
    // that moved to N+1 meanwhile — without this, two overlapping ticks
    // both commit "successfully" but the later one's dedup never saw the
    // earlier one's keepers. Losing here is loud and cheap (nothing
    // written yet); the caller re-reads and recomputes.
    expectedVersion.foreach { e =>
      val cur = prev.getOrElse(0L)
      if (cur != e)
        throw new CommitConflictException(
          s"commit conflict at $root: planned against version $e but the " +
            s"store is at $cur (racing committer) — re-read and retry")
    }
    val kept = prev.map(rawLinesOf(spark, root, _)).getOrElse(Seq.empty)
      .filterNot(line => drop(parseEntry(line).path))
    val next = prev.getOrElse(0L) + 1
    val tmp = new Path(s"$root/$ManifestDirName/.tmp-${UUID.randomUUID()}")
    fs.mkdirs(tmp.getParent)
    val out = fs.create(tmp, false)
    // header lines: the commit token (this commit's identity: unique per
    // commit, never carried forward, what entriesOf validates its cache
    // against) then the caller's per-commit metadata. Both are `#` lines
    // that entry parsing skips and rawLinesOf never carries forward — meta
    // describes ONE commit, not the snapshot lineage.
    meta.foreach { case (k, v) =>
      require(k.nonEmpty && !k.contains('=') && !k.contains('\n'),
        s"commit meta key must be non-empty and '='/newline-free: '$k'")
      require(!v.contains('\n'), s"commit meta value for '$k' contains a newline")
    }
    val metaLines = meta.toSeq.sortBy(_._1).map { case (k, v) => s"$MetaPrefix$k=$v" }
    try out.write(((s"$TokenPrefix${UUID.randomUUID()}" +: metaLines
      ++: (kept ++ added.map(renderEntry)))
      .mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val target = manifestPath(root, next)
    try commitPublisher(fs, tmp, target)
    catch {
      case e: Throwable =>
        // a lost race must not leak its temp (vacuum never sweeps _manifests)
        try fs.delete(tmp, false)
        catch { case scala.util.control.NonFatal(_) => () }
        throw e
    }
    next
  }

  /** Snapshots every vacuum retains: the latest plus this many predecessors'
    * worth of history. 2 keeps the current AND previous snapshot alive, so a
    * reader that pinned version N before a writer committed N+1 (and
    * vacuumed) still finds every file its scan planned — the same reason
    * Delta/Iceberg retain old versions for a window instead of reclaiming
    * eagerly. Raise it (or vacuum less often) when readers can lag by more
    * than one commit.
    */
  val RetainSnapshots = 2

  /** Reclaim data files referenced by NO retained snapshot. Two tiers:
    *
    * Always (pure manifest arithmetic, NO directory listing): manifests
    * older than the retention window (see [[RetainSnapshots]]) are
    * expired, and every file they referenced that no retained snapshot
    * still references is deleted along with its Bloom sidecar. Cost is
    * O(expired + retained manifest entries) however many files live
    * under `data/` — what makes vacuum safe to run on EVERY commit of a
    * store with millions of files (a recursive listing per tick would be
    * the planning bottleneck the manifest exists to remove; on object
    * stores, a LIST storm).
    *
    * `deep = true` adds the recursive sweep that also reclaims CRASH
    * ORPHANS — files published (or sidecars written) by a writer that
    * died before its commit, plus files whose cheap-tier delete failed
    * transiently. Orphans are invisible to every reader and bounded by
    * failed attempts, so the deep sweep is periodic maintenance (e.g.
    * [[CorpusStore.compact]] time), not a per-commit tax.
    *
    * Staged-but-never-published leftovers are swept on the DEEP tier
    * only: they are crash leftovers by definition (a live publish's
    * staging dir exists only inside its own tick), and sweeping
    * `_staging` from the per-commit cheap tier would let one writer's
    * routine housekeeping silently empty a concurrent writer's in-flight
    * publish — the write-side twin of the conditional-commit guarantee.
    * Writer-side housekeeping — run between ticks, not concurrently with
    * a publish. Returns data files deleted.
    */
  def vacuum(spark: SparkSession, root: String,
             retainLast: Int = RetainSnapshots,
             deep: Boolean = true): Long = {
    require(retainLast >= 1, "must retain at least the current snapshot")
    val fs = fsOf(spark, root)
    val data = fs.makeQualified(new Path(dataDir(root)))
    if (!fs.exists(data)) return 0L
    val all = versions(spark, root)
    val (expired, retained) = all.splitAt((all.size - retainLast).max(0))
    val referenced = retained.flatMap(v => filesOf(spark, root, v)).toSet
    // expired manifests' files must be read BEFORE the manifests go
    val expiredRefs = expired.flatMap(v => filesOf(spark, root, v)).toSet
    expired.foreach(v => fs.delete(manifestPath(root, v), false))
    var removed = 0L
    // one exists() gates the per-file sidecar deletes: most ManifestTable
    // stores never write blooms, and paying a DELETE round-trip per
    // reclaimed file against a nonexistent _blooms tree doubles the
    // request count of a large vacuum for nothing
    val hasBlooms = fs.exists(new Path(s"$root/_blooms"))
    (expiredRefs -- referenced).foreach { rel =>
      if (fs.delete(new Path(s"${dataDir(root)}/$rel"), false)) removed += 1
      if (hasBlooms) fs.delete(bloomPath(root, rel), false)
    }
    if (deep) {
      val it = fs.listFiles(data, true)
      val doomed = ListBuffer.empty[Path]
      while (it.hasNext) {
        val f = it.next()
        val rel = data.toUri.relativize(f.getPath.toUri).getPath
        if (f.getPath.getName.endsWith(".parquet") && !referenced.contains(rel))
          doomed += f.getPath
      }
      doomed.foreach { p => if (fs.delete(p, false)) removed += 1 }
      // bloom sidecars whose data file no retained snapshot references —
      // the same ownership rule as the data files themselves (covers both
      // aged-out rewrites and crash orphans from a sidecar-then-commit tick)
      val blooms = fs.makeQualified(new Path(s"$root/_blooms"))
      if (fs.exists(blooms)) {
        val bit = fs.listFiles(blooms, true)
        val deadSidecars = ListBuffer.empty[Path]
        while (bit.hasNext) {
          val f = bit.next()
          val rel = blooms.toUri.relativize(f.getPath.toUri).getPath
          if (rel.endsWith(".bloom") &&
              !referenced.contains(rel.stripSuffix(".bloom")))
            deadSidecars += f.getPath
        }
        deadSidecars.foreach(fs.delete(_, false))
      }
      // staged-but-never-published leftovers from a crashed writer (deep
      // tier only — see the scaladoc's concurrent-writer rationale)
      val staging = new Path(s"$root/_staging")
      if (fs.exists(staging)) fs.delete(staging, true)
    }
    removed
  }
}

package graft.operators

import java.util.UUID

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** The continuously-built training corpus as ONE disk-backed store — the
  * production composition of the whole curation suite, and the corpus twin
  * of [[Orchestrator]]'s market-data loop:
  *
  *   per arriving batch ([[tick]]): quality gate → within-batch exact dedup
  *   (first arrival wins) → exact-vs-store dedup (md5 anti-join against the
  *   kept md5s AND the dropped-doc tombstones, file-pruned) → near-dup-vs-
  *   store dedup (band prune + exact-Jaccard verification, file-pruned) →
  *   within-batch near-dup components → ONE atomic append of the keepers'
  *   rows plus their dedup state; on demand ([[manifest]]): the packed
  *   per-shard training manifest rebuilt from the accumulated keepers
  *   through the SAME stage 2–7 tail as [[Corpus.corpusPipeline]].
  *
  * PHYSICAL LAYOUT — the 100 TB design. One [[ManifestTable]] holds FOUR
  * row kinds, each under its own partition prefix, all committed in ONE
  * atomic snapshot (so dedup state and the document set can never
  * disagree, and a crash between "two stores" cannot orphan either):
  *
  *   - `p_kind=doc/p_b=<md5 bucket>`   (doc_id, lang, source, text,
  *     text_md5, tick) — the documents; bucketed by md5 so the exact check
  *     plans only over buckets the batch's md5s hash to.
  *   - `p_kind=tomb/p_b=<md5 bucket>`  (text_md5) — tombstones of docs the
  *     near-dup stage DROPPED. Without them, an exact redelivery of a doc
  *     dropped TRANSITIVELY (component chain O–X–C where only C was kept
  *     and jaccard(O, C) < threshold) would pass the exact check, find no
  *     direct store match, and be re-appended — the store would not be
  *     byte-stable under marker-less replay. With them, every md5 the
  *     store ever processed past the quality gate is either kept or
  *     tombstoned, so exact redelivery always drops at the exact stage.
  *   - `p_kind=band/p_b=<band bucket>` (doc_id, band_id, band_val) — the
  *     LSH band postings, bucketed by (band_id, hash(band_val)) so a
  *     tick's band prune plans only over the buckets the batch's band
  *     values hash to — the [[IvfStore]] `p_cell` inverted-file pattern
  *     applied to LSH.
  *   - `p_kind=sh/p_b=<doc_id bucket>` (doc_id, shingles) — the exact
  *     shingle sets for candidate verification, bucketed by doc_id so the
  *     verification fetch plans only over the candidates' buckets instead
  *     of joining a full corpus-wide shingle scan.
  *
  * Scale shape: per-tick INPUT is O(touched buckets), not O(store) — the
  * store is never rewritten (appends only), never reshuffled (batch sides
  * broadcast into semi-joins evaluated inside the pruned scans), and the
  * text-scale columns (text, shingles) are only read from partitions the
  * batch actually touches (spec-asserted: every tick scan's file list ⊆
  * the batch-touched partitions). Per-doc tick cost is O(store/buckets)
  * bytes instead of O(store); raise the bucket constants for production
  * stores (they are baked into the directory layout — changing them is a
  * [[compact]]-with-rebucket, not a config flip). The skew cap stays
  * EXACT under pruning: the band semi-join keys on the full
  * (band_id, band_val), so it keeps or drops whole buckets and counting
  * the surviving rows equals counting the original corpus bucket.
  *
  * Convergence contract (spec-asserted): driving the doc_id % nWaves wave
  * slices through [[tick]] in arrival order yields a store — and a
  * [[manifest]] — identical to [[Corpus.corpusPipelineIncremental]] run
  * over the whole corpus at once. The exact stage differs mechanically
  * (the incremental build pre-dedups exact copies across ALL waves before
  * its fold; a tick sees the store's kept md5s plus tombstones), but the
  * outcomes agree: a later exact copy of a kept doc drops at the md5
  * check, and a later exact copy of a DROPPED doc drops at the tombstone
  * check — including transitive within-batch drops, which a direct-match
  * check alone would miss.
  *
  * Replay safety (at-least-once delivery): a named tick that already rode
  * a committed snapshot is skipped by the `_ticks/` marker fast path; an
  * unnamed (or marker-lost/pruned) replay re-runs and drops every
  * document at the exact (kept + tombstoned md5s) stage — zero keepers
  * and zero new tombstones commit nothing, so the store is byte-stable
  * under re-delivery either way (the [[streaming.StreamingDedup]]
  * contract, extended to the full row and to transitively-dropped docs).
  *
  * The manifest rebuild is one pipeline-tail pass over the accumulated
  * SURVIVORS (never the raw corpus): the scrub/gate/decontamination
  * stages are corpus-dependent — the LM trains on a slice of the current
  * corpus, the held-out set grows with it — so freezing their per-tick
  * results would silently diverge from the all-at-once build this store
  * is contractually convergent with; only the budget/order/pack stages
  * are metadata-scale. The rebuild runs per loader refresh, amortized
  * across however many ticks land in between.
  *
  * Housekeeping: per-tick appends fragment each bucket into batch-sized
  * files; [[compact]] rewrites the snapshot kind-by-kind to target-size
  * files in ONE atomic commit (rows, dedup state, and tick markers all
  * unchanged — spec-asserted). [[Layout.compactTable]] cannot be applied
  * to this root directly: the kinds carry different schemas.
  */
object CorpusStore {

  /** One tick's driver-side report: the committed (or reused) snapshot
    * version and the per-stage survivor counts — the funnel a production
    * ingest publishes per batch.
    */
  case class TickReport(version: Long, nRaw: Long, nQuality: Long,
                        nExactNew: Long, nKept: Long, replaySkipped: Boolean)

  // ---- physical layout: bucket partitions for file-pruned tick scans ----

  /** The bucket-EXPRESSION version this binary computes. Bumped only if
    * the hash expressions below ever change shape; a store written under a
    * different expression version fails loudly at open instead of silently
    * pruning against wrong directories.
    */
  val BucketExprVersion = 1

  /** The store's physical bucket layout — PERSISTED PER SNAPSHOT as the
    * `#meta:layout` line of every commit ([[ManifestTable.commitMeta]]),
    * atomic with the snapshot, never a compile-time constant. Every tick and
    * pruned read resolves the layout from the store itself, so a reader
    * and the writer that laid the directories out can never disagree;
    * changing the constants of a live store is [[compact]] with
    * `rebucketTo` (an atomic rewrite that recomputes every `p_b`), and a
    * caller that *asserts* a layout ([[tick]]'s `layoutIfNew`) on a store
    * created under a different one gets an error, not a silent dedup miss.
    *
    * - `md5Buckets`: buckets for the md5-keyed kinds (doc, tomb).
    * - `bandValBuckets`: band-value buckets PER band id (the band kind has
    *   NumBands × this dirs).
    * - `shingleBuckets`: doc_id buckets for the shingle kind.
    *
    * Raise the counts for production stores at creation (or via one
    * rebucket compaction) — per-tick scanned bytes scale with
    * store/buckets.
    */
  case class StoreLayout(md5Buckets: Int, bandValBuckets: Int,
                         shingleBuckets: Int,
                         exprVersion: Int = BucketExprVersion) {
    require(md5Buckets > 0 && bandValBuckets > 0 && shingleBuckets > 0,
      s"bucket counts must be positive: $this")
    private[graft] def render: String =
      s"""{"md5Buckets":$md5Buckets,"bandValBuckets":$bandValBuckets,""" +
        s""""shingleBuckets":$shingleBuckets,"exprVersion":$exprVersion}"""
  }

  /** Layout a store is created with when the creator does not choose. */
  val DefaultLayout: StoreLayout = StoreLayout(16, 16, 16)

  private[graft] def md5Bucket(c: Column, l: StoreLayout): Column =
    pmod(conv(substring(c, 1, 4), 16, 10).cast("int"), lit(l.md5Buckets))
  private[graft] def bandBucket(bandId: Column, bandVal: Column,
                                l: StoreLayout): Column =
    bandId.cast("int") * l.bandValBuckets +
      pmod(conv(substring(bandVal, 1, 4), 16, 10).cast("int"),
        lit(l.bandValBuckets))
  private[graft] def shingleBucket(id: Column, l: StoreLayout): Column =
    pmod(id, lit(l.shingleBuckets)).cast("int")

  // ---- layout: the commit's #meta:layout, or a staged creation choice ---

  private def layoutDir(root: String) =
    new org.apache.hadoop.fs.Path(s"$root/_layout")
  private def stagedLayoutPath(root: String) =
    new org.apache.hadoop.fs.Path(s"$root/_layout/v1")

  /** Stage the explicit layout choice of a creation tick that committed
    * nothing. Before the first commit no manifest exists to carry
    * `#meta:layout`, so this `_layout/v1` file is the one channel for that
    * choice: it is read only while the store has no version, and the
    * creating commit deletes it.
    */
  private def writeLayoutFor(spark: SparkSession, root: String,
                             l: StoreLayout): Unit = {
    val fs = fsOf(spark, root)
    fs.mkdirs(layoutDir(root))
    val out = fs.create(stagedLayoutPath(root), true)
    try out.write(l.render.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private[graft] def parseLayout(s: String, where: String): StoreLayout = {
    def field(k: String): Int = {
      val m = s""""$k"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(s)
      require(m.nonEmpty, s"layout $where is missing \"$k\": $s")
      m.get.group(1).toInt
    }
    val l = StoreLayout(field("md5Buckets"), field("bandValBuckets"),
      field("shingleBuckets"), field("exprVersion"))
    if (l.exprVersion != BucketExprVersion)
      throw new IllegalStateException(
        s"store layout $where was written by bucket-expression version " +
          s"${l.exprVersion}; this binary computes version $BucketExprVersion " +
          "— reading it would file-prune against wrong directories. " +
          "Migrate with a compact(rebucketTo = ...) run by a matching binary.")
    l
  }

  /** The creation choice a zero-commit tick staged, if any. */
  private def stagedLayout(spark: SparkSession,
                           root: String): Option[StoreLayout] = {
    val fs = fsOf(spark, root)
    val p = stagedLayoutPath(root)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      Some(parseLayout(s, p.toString))
    }
  }

  /** The layout recorded in `version`'s own commit meta. Every corpus-store
    * commit writes one, so a committed version without it was not written
    * by this store's format: throw rather than guess a layout, which on a
    * rebucketed store would mean wrong dirs and missed duplicates.
    */
  private def committedLayout(spark: SparkSession, root: String,
                              version: Long): StoreLayout =
    ManifestTable.commitMeta(spark, root, version).get("layout") match {
      case Some(s) => parseLayout(s, s"$root manifest v$version #meta:layout")
      case None => throw new IllegalStateException(
        s"store at $root has no #meta:layout at committed version $version " +
          "— every corpus-store commit records its layout, so this root " +
          "was not written by a corpus store of this format")
    }

  /** The layout governing the CURRENT snapshot — what every tick and
    * pruned read resolves (never a compile-time constant). Before the first
    * commit, a staged creation choice (see [[writeLayoutFor]]) or else
    * [[DefaultLayout]] governs the creation still to come. A foreign
    * expression version throws (see [[BucketExprVersion]]).
    */
  def layoutOf(spark: SparkSession, root: String): StoreLayout =
    ManifestTable.currentVersion(spark, root) match {
      case None    => stagedLayout(spark, root).getOrElse(DefaultLayout)
      case Some(v) => committedLayout(spark, root, v)
    }

  /** The layout a tick must use: the persisted one when the store exists;
    * the caller's choice (or the default) at creation. A caller asserting
    * a layout against an existing store that disagrees is a configuration
    * error — the one path that used to be a silent dedup miss.
    */
  private def resolveLayout(spark: SparkSession, root: String,
                            ifNew: Option[StoreLayout]): StoreLayout = {
    ifNew.foreach(requireCurrentExprVersion(_, "tick(layoutIfNew)"))
    ManifestTable.currentVersion(spark, root) match {
      case Some(v) =>
        val persisted = committedLayout(spark, root, v)
        ifNew.foreach(l => require(l == persisted,
          s"store at $root is laid out as $persisted but the tick asserted " +
            s"$l; changing a live store's layout is compact(rebucketTo = ...)"))
        persisted
      // not yet created: the most recent EXPLICIT choice wins — the
      // caller's, else a choice staged by an earlier zero-commit creation
      // tick. There is no data a layout change could corrupt before the
      // first commit, so last-writer-wins is safe here and only here.
      case None => ifNew.orElse(stagedLayout(spark, root))
        .getOrElse(DefaultLayout)
    }
  }

  /** A CALLER-supplied layout (tick's `layoutIfNew`, compact's
    * `rebucketTo`) must carry this binary's expression version — parseLayout
    * already fails foreign layouts at read, but without this check a
    * caller could PERSIST a layout labeled with a version the expressions
    * don't match, bricking the store for every matching reader.
    */
  private def requireCurrentExprVersion(l: StoreLayout, what: String): Unit =
    require(l.exprVersion == BucketExprVersion,
      s"$what carries bucket-expression version ${l.exprVersion}, but this " +
        s"binary computes version $BucketExprVersion; persisting that " +
        "layout would mislabel the store's directories")

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("source", StringType), StructField("text", StringType),
    StructField("text_md5", StringType), StructField("tick", StringType)))
  private val shSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("shingles", ArrayType(StringType))))
  private val bandSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("band_id", IntegerType),
    StructField("band_val", StringType)))
  private val tombSchema = StructType(Seq(StructField("text_md5", StringType)))

  private def kindSchema(kind: String): StructType = kind match {
    case "doc" => docSchema
    case "sh" => shSchema
    case "band" => bandSchema
    case "tomb" => tombSchema
    case other => throw new IllegalArgumentException(s"unknown kind: $other")
  }

  /** A kind's data schema plus the store's two partition columns — the
    * USER-SPECIFIED schema every store read passes to the parquet source.
    * Without it, `spark.read.parquet(files…)` INFERS the schema by reading
    * file footers — a distributed `mergeSchemasInParallel` job over the
    * whole file list, paid once per read call. The store owns its schemas
    * (the readKindFiles scaladoc's own argument), so inference was pure
    * fixed cost: thread dumps of the first sf0.1 store build showed the
    * driver parked in `ParquetFileFormat.inferSchema` across the tick's
    * reads (r16). Partition columns ride in the schema so `p_kind`/`p_b`
    * stay available to the callers that repartition on them.
    */
  private def withPartCols(s: StructType): StructType =
    StructType(s.fields ++ Seq(
      StructField("p_kind", StringType), StructField("p_b", IntegerType)))

  /** Live files of one kind (manifest-listed, no directory walk). */
  private[graft] def kindFiles(spark: SparkSession, root: String,
                               kind: String): Seq[String] =
    ManifestTable.liveFiles(spark, root).filter(_.startsWith(s"p_kind=$kind/"))

  /** The p_b bucket a store file sits in, parsed from its path. */
  private def bucketOfPath(path: String): Option[Int] =
    "p_b=(\\d+)/".r.findFirstMatchIn(path).map(_.group(1).toInt)

  /** The column each kind's per-file Bloom sidecar indexes — the key the
    * tick reads probe by. The shingle kind probes by doc_id: its fetch is
    * keyed by the candidate doc_ids the band join surfaced, and within a
    * candidate's bucket dir most files hold OTHER docs' shingle rows — the
    * same mostly-miss shape the md5/band probes skip on.
    */
  private val BloomKeyOf = Map("doc" -> "text_md5", "tomb" -> "text_md5",
    "band" -> "band_val", "sh" -> "doc_id")

  /** The single column a kind's files can be index-pruned BY (bucket dir +
    * Bloom sidecar agree on it) — what [[graft.plans.StorePruneRule]] keys
    * its literal-predicate extraction on. The band kind is excluded HERE
    * because its bucket is a (band_id, band_val) compound — a band_val
    * literal alone cannot resolve a directory; the rule handles it through
    * its own two-column extraction routed via [[bandBucketForKey]].
    */
  private[graft] def bloomKeyOf(kind: String): Option[String] =
    if (kind == "band") None else BloomKeyOf.get(kind)

  /** Write the Bloom sidecars of freshly-published kind files, for the
    * probed kinds — ONE job however many kinds (over files this commit
    * just wrote, batch-bounded, filter bytes executor-side; see
    * [[ManifestTable.writeFileBloomGroups]]). Runs BEFORE the commit that
    * makes the files live, so a live file's sidecar always exists; crash
    * orphans are vacuumed with their data files.
    */
  private def writeKindBlooms(spark: SparkSession, root: String,
                              byKind: Seq[(String, Seq[String])]): Unit =
    ManifestTable.writeFileBloomGroups(spark, root,
      byKind.flatMap { case (kind, fs) =>
        // the kind schema rides along so the bloom builder's read skips
        // schema inference (see [[withPartCols]])
        BloomKeyOf.get(kind).map(c => (fs, c, Some(kindSchema(kind))))
      })

  /** [[prunedKindFiles]] sharpened by the per-file Bloom sidecars: of the
    * batch-touched buckets' files, keep only those whose filter might
    * contain at least one of the batch's keys FOR THAT BUCKET. This is the
    * second prune level — bucket dirs bound the candidate set to
    * O(touched buckets); the blooms then skip the (common) files a mostly-
    * fresh batch shares no key with, so the steady-state exact/band read
    * is near zero however large the buckets grow between compactions.
    * Sidecar reads are bounded by the dir-pruned shortlist, loaded from a
    * bounded pool when cold ([[ManifestTable.readBlooms]] — a cold tick at
    * thousands of files per touched bucket must not pay one serial driver
    * round-trip per sidecar) and cached (immutable files → immutable
    * filters); a file with no readable sidecar is always read — skipping
    * must be provably safe, the [[ManifestTable.pruneEntries]] rule.
    */
  private[graft] def bloomPrunedKindFiles(spark: SparkSession, root: String,
                                          kind: String,
                                          keysByBucket: Map[Int, Seq[String]])
      : Seq[String] = {
    val prefix = s"p_kind=$kind/"
    val shortlist = ManifestTable.liveFiles(spark, root)
      .filter(f => f.startsWith(prefix) &&
        bucketOfPath(f).exists(keysByBucket.contains))
    val blooms = ManifestTable.readBlooms(spark, root, shortlist)
    shortlist.filter { f =>
      val keys = keysByBucket(bucketOfPath(f).get)
      blooms(f) match {
        case None     => true
        case Some(bf) => keys.exists(bf.mightContainString)
      }
    }
  }

  /** The `p_b` bucket a KEY lands in, computed DRIVER-SIDE for the
    * optimizer's literal-predicate prune ([[graft.plans.StorePruneRule]]).
    * Mirrors [[md5Bucket]]/[[shingleBucket]] with the same Catalyst
    * operators evaluated eagerly (Substring→Conv→Cast→Pmod; Pmod→Cast) —
    * the distributed and driver forms can never drift apart because they
    * are the same expression classes, and the spec pins the equivalence on
    * real keys anyway. Soundness for garbage keys is free: a key the store
    * never wrote matches no row, so ANY bucket answer for it prunes
    * correctly; only keys that exist must agree with the writer, and those
    * are well-formed (lowercase-hex md5s / decimal doc_ids).
    */
  private[graft] def bucketForKey(kind: String, l: StoreLayout,
                                  key: String): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, Pmod}
    kind match {
      case "doc" | "tomb" => hexPmod(key, l.md5Buckets)
      case "sh" =>
        Cast(Pmod(Literal(key.toLong), Literal(l.shingleBuckets.toLong)),
          IntegerType).eval(null).asInstanceOf[Int]
      case other =>
        throw new IllegalArgumentException(
          s"kind $other has no single-key bucket expression")
    }
  }

  /** The band kind's compound bucket, driver-side — [[bandBucket]]'s twin
    * the way [[bucketForKey]] twins the single-key exprs.
    */
  private[graft] def bandBucketForKey(bandId: Int, bandVal: String,
                                      l: StoreLayout): Int =
    bandId * l.bandValBuckets + hexPmod(bandVal, l.bandValBuckets)

  /** pmod(conv(substring(hex,1,4),16,10)::int, buckets) evaluated eagerly —
    * the shared core of the md5/band-val bucket exprs, as the same Catalyst
    * operators the distributed form compiles to.
    */
  private def hexPmod(hex: String, buckets: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Conv, Literal, Pmod, Substring}
    Pmod(Cast(Conv(Substring(Literal(hex), Literal(1), Literal(4)),
      Literal(16), Literal(10)), IntegerType), Literal(buckets))
      .eval(null).asInstanceOf[Int]
  }

  /** Two-level prune of an EXPLICIT relative-file list (a pinned
    * snapshot's files, not a fresh listing — the caller's plan must keep
    * reading the snapshot it planned against) down to the files that might
    * hold any of `keys`: bucket dirs first, then the per-file Bloom
    * sidecars. Same safety contract as [[bloomPrunedKindFiles]] — a file
    * with no readable sidecar is kept, so a skip is only ever justified by
    * a negative probe. Returns None (meaning "don't prune") if any key
    * fails bucket evaluation.
    */
  private[graft] def pruneRelFiles(spark: SparkSession, root: String,
                                   kind: String, l: StoreLayout,
                                   relFiles: Seq[String], keys: Seq[String])
      : Option[Seq[String]] = {
    val byBucket: Map[Int, Seq[String]] =
      try keys.groupBy(k => bucketForKey(kind, l, k))
      catch { case scala.util.control.NonFatal(_) => return None }
    Some(pruneRelFilesByBucket(spark, root, relFiles, byBucket))
  }

  /** [[pruneRelFiles]] with the (bucket → probe keys) map prebuilt — the
    * form compound-bucketed kinds use (band: [[bandBucketForKey]] buckets,
    * band_val probe keys).
    */
  private[graft] def pruneRelFilesByBucket(spark: SparkSession, root: String,
                                           relFiles: Seq[String],
                                           byBucket: Map[Int, Seq[String]])
      : Seq[String] = {
    val shortlist = relFiles.filter(f =>
      bucketOfPath(f).exists(byBucket.contains))
    val blooms = ManifestTable.readBlooms(spark, root, shortlist)
    shortlist.filter { f =>
      val ks = byBucket(bucketOfPath(f).get)
      blooms(f) match {
        case None     => true
        case Some(bf) => ks.exists(bf.mightContainString)
      }
    }
  }

  /** [[kindFiles]] restricted to the given bucket partitions — THE file
    * prune every tick scan goes through (spec-asserted ⊆ batch-touched
    * partitions).
    */
  private[graft] def prunedKindFiles(spark: SparkSession, root: String,
                                     kind: String,
                                     buckets: Set[Int]): Seq[String] =
    kindFiles(spark, root, kind)
      .filter(f => buckets.exists(b => f.startsWith(s"p_kind=$kind/p_b=$b/")))

  /** Scan an explicit kind file list; an empty list yields a correctly
    * typed empty frame from the kind's static schema (the store owns its
    * schemas, so no schema-donor file is needed — a tomb-only first
    * commit, for instance, has no doc file to borrow from). The non-empty
    * read is pinned to the SAME static column order: different commit
    * paths (tick append, compaction, forget's rewrite) physically lay the
    * columns out in whatever order their plan produced, and Spark's
    * multi-file schema resolution donates the order of an arbitrary file —
    * without the select, [[read]]'s column order flipped run-to-run on
    * stores touched by more than one writer path.
    */
  private def readKindFiles(spark: SparkSession, root: String,
                            files: Seq[String], schema: StructType,
                            tags: Map[String, String] = Map.empty): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else {
      val dd = ManifestTable.dataDir(root)
      // explicit user schema (data + partition columns): no footer-reading
      // schema-inference job per read (see [[withPartCols]])
      spark.read.schema(withPartCols(schema))
        .option("basePath", dd).options(tags)
        .parquet(files.map(f => s"$dd/$f"): _*)
        .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    }

  /** The relation-option tags [[read]] stamps on a snapshot scan so
    * [[graft.plans.StorePruneRule]] can recognize it and prune its file
    * list against literal key predicates. The LAYOUT rides along (rendered
    * JSON) so the rule buckets with exactly the layout that wrote the
    * files it is pruning — never a re-resolved one that a concurrent
    * rebucket could have moved past the plan.
    */
  private def pruneTags(root: String, kind: String,
                        l: StoreLayout): Map[String, String] = Map(
    "graft.store.root" -> root,
    "graft.store.kind" -> kind,
    "graft.store.layout" -> l.render)

  // the marker layout, in one place: every reader/writer goes through these
  private def fsOf(spark: SparkSession, root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def markerDir(root: String, ns: String) =
    new org.apache.hadoop.fs.Path(s"$root/$ns")
  private def markerPath(root: String, ns: String, id: String) =
    new org.apache.hadoop.fs.Path(s"$root/$ns/$id")
  private def writeMarker(spark: SparkSession, root: String, ns: String,
                          id: String): Unit = {
    val fs = fsOf(spark, root)
    fs.mkdirs(markerDir(root, ns))
    fs.create(markerPath(root, ns, id)).close()
  }
  private def markerExists(spark: SparkSession, root: String, ns: String,
                           id: String): Boolean =
    fsOf(spark, root).exists(markerPath(root, ns, id))

  /** The kept documents of the latest snapshot (doc kind: doc_id, lang,
    * source, text, text_md5, tick). Guards the format boundary: a root
    * whose live files carry no `p_kind=` prefix was written by something
    * other than this store (e.g. a plain [[ManifestTable]]) — reading it
    * as an empty doc frame would silently re-ingest everything on the
    * next tick, so it throws instead.
    */
  def read(spark: SparkSession, root: String): DataFrame = {
    require(ManifestTable.currentVersion(spark, root).nonEmpty,
      s"no committed snapshot at $root")
    val live = ManifestTable.liveFiles(spark, root)
    requireStoreLayout(root, live)
    readKindFiles(spark, root, kindFiles(spark, root, "doc"), docSchema,
      pruneTags(root, "doc", layoutOf(spark, root)))
  }

  /** Format-boundary guard shared by [[read]], [[readAt]] and
    * [[changesBetween]]: a non-empty file set with no `p_kind=` prefix was
    * written by something other than this store (a plain [[ManifestTable]],
    * or an incompatible format version). Silently treating it as an empty
    * snapshot would make an incremental consumer on a mistyped root
    * conclude "no documents / no changes" — so it throws instead.
    */
  private def requireStoreLayout(root: String, files: Seq[String]): Unit =
    require(files.isEmpty || files.exists(_.startsWith("p_kind=")),
      s"files at $root carry no p_kind= partitions — not a CorpusStore " +
        "layout (or one from an incompatible format version); refusing to " +
        "read it as an empty store")

  /** The kept documents of the latest snapshot — the frame [[manifest]]
    * and any downstream analysis consume (column-pruned scan).
    */
  def docs(spark: SparkSession, root: String): DataFrame =
    read(spark, root).select(col("doc_id"), col("lang"), col("source"),
      col("text"))

  /** The live band postings (doc_id, band_id, band_val) — the
    * investigative "which documents share this band" surface. Tagged for
    * [[graft.plans.StorePruneRule]]: with the rule installed, a query
    * pinning BOTH `band_id` and `band_val` to literals plans over the
    * compound band bucket's pruned files only (bucket dir +
    * band_val Bloom probes), not the whole band kind.
    */
  def bands(spark: SparkSession, root: String): DataFrame = {
    require(ManifestTable.currentVersion(spark, root).nonEmpty,
      s"no committed snapshot at $root")
    requireStoreLayout(root, ManifestTable.liveFiles(spark, root))
    readKindFiles(spark, root, kindFiles(spark, root, "band"), bandSchema,
      pruneTags(root, "band", layoutOf(spark, root)))
  }

  /** Tick ids that have committed (one FS listing — observability; the
    * per-tick replay check uses an O(1) `exists` on the single marker).
    */
  def committedTicks(spark: SparkSession, root: String): Seq[String] = {
    val fs = fsOf(spark, root)
    val dir = markerDir(root, "_ticks")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName).toSeq
  }

  /** Marker housekeeping: delete tick markers whose mtime is older than
    * `olderThanMillis` (an AGE cutoff, not a count — count-based retention
    * depends on tick rate and on mtime tie-ordering, so on coarse-mtime
    * object stores a marker still inside the redelivery window could be
    * pruned while an older one survived). Size the cutoff to the delivery
    * system's maximum redelivery lag, the same reasoning as snapshot
    * retention; the default (7 days) dwarfs any realistic redelivery
    * horizon. Markers grow one file per named tick forever otherwise.
    *
    * Pruning the corpus namespace (`_ticks/`) is safe because that marker
    * is only the FAST replay path — a re-delivered tick whose marker was
    * pruned falls back to the semantic replay: every document drops at
    * the exact (store md5s + dropped-doc tombstones) / near-dup checks,
    * zero keepers commit nothing (spec-asserted byte-stable). The
    * `_ticks_ivf/` namespace is pruned on the same cutoff: a re-delivered
    * platform tick whose marker is gone is caught by the postings
    * presence check in [[tickWithIndex]] (its keeper vectors are already
    * posted — the index-side semantic backstop), so the marker there is
    * also only the fast path. Returns markers deleted.
    */
  def pruneTickMarkers(spark: SparkSession, root: String,
                       olderThanMillis: Long = 7L * 24 * 3600 * 1000): Long = {
    require(olderThanMillis >= 0,
      s"olderThanMillis must be >= 0, got $olderThanMillis")
    val fs = fsOf(spark, root)
    // "now" from the STORAGE SYSTEM's clock, not the driver's: marker
    // mtimes are stamped by the filesystem, so an age cutoff computed from
    // a skewed driver clock could prune a marker still inside the
    // redelivery window. A freshly-written probe file's mtime is the
    // filesystem's own notion of now — same clock as every marker.
    // probe lives in its OWN `_clock/` namespace, never `_ticks/`: a crash
    // between create and delete must not leave a file committedTicks would
    // report as a tick id (and even transiently it must not be listed)
    val fsNow = {
      val probe = new org.apache.hadoop.fs.Path(
        s"$root/_clock/probe-${UUID.randomUUID()}")
      fs.mkdirs(probe.getParent)
      fs.create(probe, true).close()
      val t = fs.getFileStatus(probe).getModificationTime
      // delete ONLY this call's probe file — deleting the whole _clock/
      // dir would race a concurrent pruner's live probe
      fs.delete(probe, false)
      t
    }
    val cutoff = fsNow - olderThanMillis
    Seq("_ticks", "_ticks_ivf").map { ns =>
      val dir = markerDir(root, ns)
      if (!fs.exists(dir)) 0L
      else {
        val expired = fs.listStatus(dir)
          .filter(_.getModificationTime <= cutoff)
        expired.foreach(st => fs.delete(st.getPath, false))
        expired.length.toLong
      }
    }.sum
  }

  /** Ingest one arriving batch of raw documents; returns the tick's
    * funnel counts and committed version. `tickId` (optional, `[A-Za-z0-9._-]+`)
    * enables the replay fast path; the marker is written AFTER the commit,
    * so a crash between commit and marker degrades to the (byte-stable)
    * semantic replay, never to loss or duplication.
    *
    * `retainSnapshots` is the per-tick vacuum's retention window — it
    * bounds how far back [[manifestAt]] can reproduce a training manifest
    * (only the retained versions stay readable). The default keeps the
    * current and previous snapshot; a deployment that needs deeper
    * training-reproducibility raises it (disk cost: the store is
    * append-only, so old snapshots share all but the newest files).
    *
    * `layoutIfNew` picks the bucket layout WHEN THIS TICK CREATES the
    * store; on an existing store the persisted layout governs, and
    * asserting a different one here throws (see [[StoreLayout]]). The
    * choice survives even if this tick's documents all drop (it is staged
    * in `_layout/v1` for the first real commit to adopt), so creation
    * ticks need not repeat it.
    */
  def tick(rawBatch: DataFrame, root: String,
           tickId: Option[String] = None,
           minQuality: Double = 0.70,
           threshold: Double = 0.5,
           cap: Int = Dedup.MaxBucketSize,
           retainSnapshots: Int = ManifestTable.RetainSnapshots,
           layoutIfNew: Option[StoreLayout] = None): TickReport =
    tickCollecting(rawBatch, root, tickId, minQuality, threshold, cap,
      collectKeeperIds = false, retainSnapshots, layoutIfNew)._1

  /** Near-dup-vs-store: banded candidates off the store's band postings
    * (file-pruned to the buckets the batch's band values hash to), skew-
    * capped on the TRUE corpus bucket sizes, verified against shingle
    * rows fetched from the candidates' doc_id buckets only. Returns the
    * distinct duplicated batch doc_ids, PERSISTED and materialized (the
    * caller unpersists after its downstream consumption) — the
    * intermediates release before returning, the long-running-loop cache
    * discipline.
    */
  private def prunedStoreDupIds(batchSigs: DataFrame, root: String,
                                threshold: Double, cap: Int,
                                layout: StoreLayout): DataFrame = {
    val spark = batchSigs.sparkSession
    val rowsPerBand = Dedup.NumHashes / Dedup.NumBands
    val batchBands = Dedup.explodedBands(batchSigs, rowsPerBand)
    // persisted: feeds the bucket collect, the semi-join broadcast, and
    // the candidate join — unpersisted, the 16-hash banding re-runs thrice
    val batchKeys = batchBands.select(col("band_id"), col("band_val"))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // (band_val → bucket) map for the two-level prune (dirs, then the
      // per-file band_val blooms). The bucket already encodes band_id, so
      // probing by band_val alone within a bucket is exact enough — a
      // cross-band band_val collision lands in a different bucket dir.
      val keysByBucket = batchKeys
        .select(col("band_val"),
          bandBucket(col("band_id"), col("band_val"), layout).as("b"))
        .distinct().collect()
        .groupBy(_.getInt(1))
        .map { case (b, rows) => b -> rows.toSeq.map(_.getString(0)) }
      val storeBands = readKindFiles(spark, root,
        bloomPrunedKindFiles(spark, root, "band", keysByBucket), bandSchema)
      val touched = storeBands.join(broadcast(batchKeys),
        Seq("band_id", "band_val"), "left_semi")
      val capped = Dedup.capBuckets(touched, Seq("band_id", "band_val"), cap)
      // spreadDistinct: one exchange dedups AND spreads the pair key (the
      // verifyCandidates contract — the verify stage no longer repartitions)
      val candidates = Dedup.spreadDistinct(
        batchBands.as("n")
          .join(capped.as("c"), Seq("band_id", "band_val"))
          .select(col("n.doc_id").as("new_id"), col("c.doc_id").as("dup_of")),
        "new_id", "dup_of").persist(StorageLevel.MEMORY_AND_DISK)
      try {
        // the candidates' (doc_id → bucket) map, same two-level prune as
        // the exact check: bucket dirs bound the shortlist, the per-file
        // doc_id blooms skip the bucket's files that hold only OTHER
        // docs' shingle rows. Collect is the same cardinality as the
        // bucket-only collect this replaced (capped candidate set).
        val idsByBucket = candidates
          .select(col("dup_of"), shingleBucket(col("dup_of"), layout).as("b"))
          .distinct().collect()
          .groupBy(_.getInt(1))
          .map { case (b, rows) => b -> rows.toSeq.map(_.getLong(0).toString) }
        val candShingles = readKindFiles(spark, root,
          bloomPrunedKindFiles(spark, root, "sh", idsByBucket), shSchema)
          .join(broadcast(
            candidates.select(col("dup_of").as("doc_id")).distinct()),
            Seq("doc_id"), "left_semi")
        // stageCut, not persist: the dup-id plan embeds the candidate
        // chain + the pruned shingle read — cut it so the caller's anti
        // join (and every action after it) plans over a leaf
        val dup = stageCut(Dedup.verifyCandidates(candidates,
          batchSigs.select(col("doc_id"), col("shingles")), candShingles,
          threshold)
          .select(col("new_id").as("doc_id")).distinct())
        dup.count()
        dup
      } finally candidates.unpersist()
    } finally batchKeys.unpersist()
  }

  /** [[tick]] plus the tick's keeper doc_ids collected to the driver
    * (batch-bounded, the broadcast-id-guard sizing contract) —
    * [[tickWithIndex]]'s fresh path consumes them so the index step needs
    * no store scan. Empty when skipped or when nothing was kept.
    */
  private def tickCollecting(rawBatch: DataFrame, root: String,
                             tickId: Option[String],
                             minQuality: Double,
                             threshold: Double,
                             cap: Int,
                             collectKeeperIds: Boolean,
                             retainSnapshots: Int = ManifestTable.RetainSnapshots,
                             layoutIfNew: Option[StoreLayout] = None)
      : (TickReport, Array[Long]) = {
    // OPTIMISTIC CONCURRENCY — two genuinely concurrent ticks both land.
    // A tick is an optimistic transaction: it reads snapshot N, computes
    // its keepers against N, and commits CONDITIONED on the store still
    // being at N (ManifestTable's expected-version check + the conditional
    // manifest install). A tick that loses — another writer committed
    // while it computed — throws CommitConflictException, and this loop
    // re-reads and RECOMPUTES the whole tick against the new snapshot:
    // the winner's keepers must be deduped against, so retrying just the
    // commit would be wrong. Replay markers and the md5/tombstone
    // semantics make re-running safe by construction; the lost attempt's
    // published files are deleted at the conflict site. Bounded: ticks
    // are seconds long, so starvation means pathological writer counts —
    // serialize those deployments instead.
    val maxRetries = 5
    var attempt = 0
    var last: CommitConflictException = null
    while (attempt <= maxRetries) {
      try return tickAttempt(rawBatch, root, tickId, minQuality, threshold,
        cap, collectKeeperIds, retainSnapshots, layoutIfNew)
      catch {
        case e: CommitConflictException =>
          attempt += 1
          last = e
          logInfo(s"tick lost commit race $attempt/$maxRetries at $root — " +
            "recomputing against the new snapshot")
      }
    }
    throw new IllegalStateException(
      s"tick lost $maxRetries consecutive commit races at $root — " +
        "pathological writer contention; serialize these writers", last)
  }

  private def logInfo(msg: String): Unit =
    System.err.println(s"[graft.CorpusStore] $msg")

  /** Cache + PLAN-TRUNCATE a multiply-consumed tick frame: lazy
    * `localCheckpoint` instead of a bare `persist` — the [[Corpus]]
    * stageCut shape, applied to the tick chain. A bare persist caches the
    * DATA but leaves the LOGICAL plan intact, and the tick's plans compound
    * multiplicatively (batchSigs embeds the pruned exact chain, the
    * vs-store dup prune embeds batchSigs ~5×, the within-batch fold embeds
    * the remainder ~5 more, the four bucketed writes embed both ends) — so
    * every action's AQE plan-update event re-rendered a multi-megabyte
    * formatted plan string on the DRIVER. Measured: the FIRST sf0.1 store
    * build spent ~70 of its 75 s in `ExplainUtils.collectOperatorsWithID`
    * under exactly those events (thread dumps, r16). The cut truncates each
    * stage to a LogicalRDD leaf; `eager = false` keeps materialization
    * inside the action that first consumes the frame (the counts the tick
    * already takes). Same fault-tolerance trade as the Corpus/Dedup cuts:
    * truncated lineage is unrecoverable under executor loss — documented
    * seam, not for preemptible clusters.
    */
  private def stageCut(df: DataFrame): DataFrame = df.localCheckpoint(false)

  /** Deterministically release a [[stageCut]] frame's blocks: a
    * localCheckpoint persists at the RDD level, which `Dataset.unpersist`
    * (a CacheManager call) cannot see — without this, a long-running tick
    * loop would hold one checkpoint per tick until GC + ContextCleaner
    * got around to it (the round-15 ADVICE caveat on the cut's blast
    * radius). The checkpointed RDD sits in the plan's LogicalRDD leaf.
    */
  private def releaseCut(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  private def tickAttempt(rawBatch: DataFrame, root: String,
                          tickId: Option[String],
                          minQuality: Double,
                          threshold: Double,
                          cap: Int,
                          collectKeeperIds: Boolean,
                          retainSnapshots: Int,
                          layoutIfNew: Option[StoreLayout])
      : (TickReport, Array[Long]) = {
    val spark = rawBatch.sparkSession
    tickId.foreach(id => require(id.matches("[A-Za-z0-9._-]+"),
      s"unsafe tick id: $id"))
    // version 0 = "store still empty" (a processed tick whose documents all
    // dropped leaves no snapshot; its marker alone records the delivery)
    val prev = ManifestTable.currentVersion(spark, root)
    if (tickId.exists(id => markerExists(spark, root, "_ticks", id)))
      return (TickReport(prev.getOrElse(0L), 0L, 0L, 0L, 0L,
        replaySkipped = true), Array.empty)
    // the store's OWN layout (or the creation choice): every bucket
    // expression below — prune side and write side — goes through it
    val layout = resolveLayout(spark, root, layoutIfNew)

    val nRaw = rawBatch.count()
    // quality gate inside the scan stage, then within-batch exact dedup
    // (first arrival = min doc_id, one md5-keyed window — the
    // corpusPipelineIncremental stage shapes)
    val clean = rawBatch
      .filter(TextOps.qualityScore(col("text")) >= minQuality)
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        md5(col("text")).as("text_md5"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var exactP: DataFrame = null
    var batchSigs: DataFrame = null
    var dupIds: DataFrame = null
    var rem: DataFrame = null
    var keepSigs: DataFrame = null
    // try/finally: an at-least-once caller CATCHES and retries a failed
    // tick, so a mid-tick exception must not strand this attempt's caches
    // in executor storage (the IvfStore.build discipline)
    try {
      val nQuality = clean.count()
      // within-batch exact dedup, skew-immune (see Dedup.keepMinBy)
      val inBatch = Dedup.keepMinBy(clean, col("text_md5"), col("doc_id"))
      // exact-vs-store: the batch's md5 set broadcasts into a map-side
      // semi-join over the store's kept md5s AND dropped-doc tombstones —
      // both file-pruned to the buckets the batch's md5s hash to — and the
      // batch anti-joins the (batch-bounded) touched set. The store side
      // never shuffles and never reads untouched buckets.
      val exact = prev match {
        case Some(_) =>
          // the batch's (md5 → bucket) map, ONE collect (batch-bounded,
          // the broadcast-id sizing contract): buckets drive the dir-level
          // prune, the md5s themselves drive the per-file bloom probes —
          // and deriving the bucket via the SAME expression the write side
          // uses keeps the two prune levels provably consistent
          val md5ByBucket = inBatch
            .select(col("text_md5"),
              md5Bucket(col("text_md5"), layout).as("b"))
            .distinct().collect()
            .groupBy(_.getInt(1))
            .map { case (b, rows) => b -> rows.toSeq.map(_.getString(0)) }
          val storeMd5 = readKindFiles(spark, root,
            bloomPrunedKindFiles(spark, root, "doc", md5ByBucket), docSchema)
            .select(col("text_md5"))
            .union(readKindFiles(spark, root,
              bloomPrunedKindFiles(spark, root, "tomb", md5ByBucket),
              tombSchema)
              .select(col("text_md5")))
          val touched = storeMd5.join(
            broadcast(inBatch.select(col("text_md5")).distinct()),
            Seq("text_md5"), "left_semi")
          inBatch.join(broadcast(touched), Seq("text_md5"), "left_anti")
        case None => inBatch
      }
      // stageCut, not persist, for every multiply-consumed tick frame:
      // same caching, truncated plans (see [[stageCut]] — the bare
      // persists left the first sf0.1 store build spending ~70 s rendering
      // compounded plan strings on the driver)
      exactP = stageCut(exact)
      val nExactNew = exactP.count()
      batchSigs = stageCut(Dedup.shingleSignatures(exactP))
      // near-dup-vs-store over the pruned band/shingle kinds, then
      // within-batch components over the remainder (the ingestTick
      // bootstrap path — identical composition to the unpruned fold)
      rem = prev match {
        case Some(_) =>
          dupIds = prunedStoreDupIds(batchSigs, root, threshold, cap, layout)
          stageCut(batchSigs.join(dupIds, Seq("doc_id"), "left_anti"))
        case None => batchSigs
      }
      keepSigs = stageCut(Dedup.ingestTick(rem, None, threshold, cap,
        releaseIntermediate = true))
      // zero keepers AND zero tombstones commit NOTHING: replay without a
      // marker must leave the version untouched, not mint empty snapshots
      val nKept = keepSigs.count()
      val nTomb = nExactNew - nKept
      val version =
        if (nKept == 0L && nTomb == 0L) {
          // a creation tick whose documents ALL dropped still records its
          // explicit layout choice (staged for the first real commit to
          // adopt) — otherwise a later tick without layoutIfNew would
          // silently create the store under DefaultLayout, defeating the
          // creation-time assertion
          if (prev.isEmpty && layoutIfNew.isDefined)
            writeLayoutFor(spark, root, layout)
          prev.getOrElse(0L)
        }
        else {
          val stamp = tickId.getOrElse("untracked")
          val staging = s"$root/_staging/${UUID.randomUUID()}"
          // keepers' doc rows + their dedup state (shingles for
          // verification, band postings for the prune) + the dropped
          // docs' tombstones — four bucketed writes, ONE commit. Each
          // write repartitions on the bucket column first (batch-bounded
          // shuffle) so a tick appends at most ONE file per touched
          // bucket, not one per (task × bucket) — per-tick fragmentation
          // stays O(touched buckets)
          exactP.join(keepSigs.select(col("doc_id")), Seq("doc_id"))
            .withColumn("tick", lit(stamp))
            .withColumn("p_kind", lit("doc"))
            .withColumn("p_b", md5Bucket(col("text_md5"), layout))
            .repartition(col("p_b"))
            .write.partitionBy("p_kind", "p_b")
            .mode(SaveMode.Overwrite).parquet(s"$staging/doc")
          keepSigs.select(col("doc_id"), col("shingles"))
            .withColumn("p_kind", lit("sh"))
            .withColumn("p_b", shingleBucket(col("doc_id"), layout))
            .repartition(col("p_b"))
            .write.partitionBy("p_kind", "p_b")
            .mode(SaveMode.Overwrite).parquet(s"$staging/sh")
          Dedup.explodedBands(keepSigs, Dedup.NumHashes / Dedup.NumBands)
            .withColumn("p_kind", lit("band"))
            .withColumn("p_b", bandBucket(col("band_id"), col("band_val"), layout))
            .repartition(col("p_b"))
            .write.partitionBy("p_kind", "p_b")
            .mode(SaveMode.Overwrite).parquet(s"$staging/band")
          exactP.join(keepSigs.select(col("doc_id")), Seq("doc_id"), "left_anti")
            .select(col("text_md5"))
            .withColumn("p_kind", lit("tomb"))
            .withColumn("p_b", md5Bucket(col("text_md5"), layout))
            .repartition(col("p_b"))
            .write.partitionBy("p_kind", "p_b")
            .mode(SaveMode.Overwrite).parquet(s"$staging/tomb")
          val byKind = Seq("doc", "sh", "band", "tomb")
            .map(k => k -> ManifestTable.publishFiles(spark, root,
              s"$staging/$k"))
          // the staging→publish handoff must never lose rows SILENTLY: if
          // anything deleted _staging between the writes and the publish
          // (a concurrent writer's deep vacuum, an external cleaner), the
          // tick would otherwise commit an empty snapshot while reporting
          // keepers. Kinds with a known row count must have published
          // files (band is exempt: shingle-less keepers emit no band rows)
          val published = byKind.toMap
          require((nKept == 0L ||
              (published("doc").nonEmpty && published("sh").nonEmpty)) &&
              (nTomb == 0L || published("tomb").nonEmpty),
            s"published files inconsistent with the tick's counts " +
              s"(nKept=$nKept, nTomb=$nTomb, " +
              s"published=${byKind.map { case (k, f) => s"$k:${f.size}" }
                .mkString(",")}) — staged files vanished before publish; " +
              "is another writer's housekeeping running against this store?")
          // bloom sidecars ride ahead of the commit: a committed snapshot
          // always finds them; a crash right here leaves orphans vacuum
          // reclaims. The layout rides the commit itself (#meta:layout)
          writeKindBlooms(spark, root, byKind)
          val v =
            try ManifestTable.commitReplace(spark, root, Seq.empty,
              byKind.flatMap(_._2),
              expectedVersion = Some(prev.getOrElse(0L)),
              meta = Map("layout" -> layout.render))
            catch {
              case e: CommitConflictException =>
                // lost the race after publishing: this attempt's data
                // files are orphans no manifest references — delete them
                // (and their bloom sidecars) so the retry loop doesn't
                // accumulate junk for the deep vacuum to find. The retry
                // recomputes and re-stages from scratch.
                val fs = fsOf(spark, root)
                byKind.flatMap(_._2).foreach { rel =>
                  try {
                    fs.delete(new org.apache.hadoop.fs.Path(
                      s"${ManifestTable.dataDir(root)}/$rel"), false)
                    fs.delete(new org.apache.hadoop.fs.Path(
                      s"$root/_blooms/$rel.bloom"), false)
                  } catch { case scala.util.control.NonFatal(_) => () }
                }
                throw e
            }
          // cheap tier only: per-tick reclamation is manifest arithmetic;
          // the deep orphan sweep (a recursive listing) runs at compact
          // time, not once per batch
          ManifestTable.vacuum(spark, root, retainSnapshots, deep = false)
          // the creating commit's meta now carries the layout a zero-commit
          // tick may have staged; the staged copy is never read again
          if (prev.isEmpty) fsOf(spark, root).delete(layoutDir(root), true)
          v
        }
      val keeperIds =
        if (collectKeeperIds && nKept > 0L)
          keepSigs.select(col("doc_id")).collect().map(_.getLong(0))
        else Array.empty[Long]
      tickId.foreach(id => writeMarker(spark, root, "_ticks", id))
      (TickReport(version, nRaw, nQuality, nExactNew, nKept,
        replaySkipped = false), keeperIds)
    } finally {
      clean.unpersist()
      if (exactP != null) releaseCut(exactP)
      if (batchSigs != null) releaseCut(batchSigs)
      if (dupIds != null) releaseCut(dupIds)
      // no-op on the bootstrap path (rem aliases batchSigs there)
      if (rem != null && (rem ne batchSigs)) releaseCut(rem)
      if (keepSigs != null) releaseCut(keepSigs)
    }
  }

  /** The FULL platform tick: [[tick]] plus vector-index maintenance in one
    * production step. After the corpus tick, the batch's embeddings
    * restricted to the tick's KEPT doc_ids (`vec_id` = `doc_id`; the kept
    * set is batch-bounded, recovered from the store's `tick` column, so
    * the restriction broadcasts) flow into the staged IVF index: the first
    * kept batch trains and builds ([[IvfStore.build]]), later batches
    * append postings under the staged model — optionally after one
    * mini-batch model refresh ([[IvfStore.ingestBatch]]).
    *
    * Replay safety composes: the corpus tick skips (marker) or no-ops
    * (semantic), the kept set re-derives from committed store rows either
    * way, and the SAME tick id rides the IVF postings/model commit guards
    * — so a crash anywhere in the chain re-lands exactly the commits that
    * are missing, never a double-append (the bootstrap build stamps the
    * marker too). A tick id is therefore REQUIRED here, unlike [[tick]].
    */
  def tickWithIndex(rawBatch: DataFrame, batchEmb: DataFrame,
                    root: String, ivfRoot: String, tickId: String,
                    refreshModel: Boolean = false,
                    minQuality: Double = 0.70,
                    threshold: Double = 0.5,
                    cap: Int = Dedup.MaxBucketSize): TickReport = {
    val spark = rawBatch.sparkSession
    val (r, keeperIds) = tickCollecting(rawBatch, root, Some(tickId),
      minQuality, threshold, cap, collectKeeperIds = true)
    if (ManifestTable.currentVersion(spark, root).isEmpty) return r
    // composed-tick marker (own `_ticks_ivf/` namespace): IvfStore's guard
    // covers only the CURRENT postings version's marker — enough for the
    // immediate replay at-least-once delivers, but a re-delivery arriving
    // after LATER ticks have committed would re-append an old batch. Later
    // ticks can only run once this one completed (marker included), so the
    // marker is always present exactly when the current-version guard no
    // longer covers the tick. Prunable by [[pruneTickMarkers]] past the
    // redelivery horizon: the presence check below is the index-side
    // semantic backstop a marker-less replay falls back to.
    if (!markerExists(spark, root, "_ticks_ivf", tickId)) {
      import spark.implicits._
      // fresh path: the tick just collected its keeper ids (batch-bounded)
      // — no store scan, no presence check (fresh keepers are by
      // construction unposted). Replay/retry path (corpus tick skipped or
      // its keeper collection lost): re-derive the keeper ids from the
      // committed store rows' tick column, then ask the postings whether
      // this tick already landed — a tick's postings commit atomically, so
      // ANY posted keeper proves the whole tick's postings did
      // ([[IvfStore.anyPosted]], vec_id-stat-pruned).
      val (keptIds, maybePosted) =
        if (keeperIds.nonEmpty) (keeperIds, false)
        else (read(spark, root).filter(col("tick") === tickId)
          .select(col("doc_id")).as[Long].collect(), true)
      if (!(maybePosted && IvfStore.anyPosted(spark, ivfRoot, keptIds))) {
        val keptVecs = batchEmb.join(
          broadcast(keptIds.toSeq.toDF("vec_id")), Seq("vec_id"), "left_semi")
        if (!keptVecs.isEmpty) {
          if (!IvfStore.isBuilt(spark, ivfRoot))
            IvfStore.build(keptVecs, ivfRoot, tickId = Some(tickId))
          else
            IvfStore.ingestBatch(keptVecs, ivfRoot, refreshModel, Some(tickId))
        }
      }
      writeMarker(spark, root, "_ticks_ivf", tickId)
    }
    r
  }

  /** INCREMENTAL small-file compaction with a truly atomic cutover, and
    * the store's one supported layout migration.
    *
    * Default mode (`rebucketTo = None`): rewrite ONLY fragmented buckets —
    * a `p_b` dir whose file count exceeds what its bytes justify
    * (more than ceil(bytes / targetBytes) files). Cold buckets' files are
    * carried into the new manifest UNTOUCHED, so one invocation costs
    * O(fragmented buckets), not O(store) — the per-tick input bound
    * applied to maintenance. Output files are sized PER BUCKET: rows
    * repartition on (p_b, sub-split) with ceil(bucketBytes / targetBytes)
    * sub-splits each, so a hot bucket emits several ~targetBytes files and
    * a small one exactly one — never the one-global-`coalesce` shape whose
    * tasks each emit a file into every bucket they hold.
    *
    * Rebucket mode (`rebucketTo = Some(layout)`): the whole store rewrites
    * in one atomic commit with every `p_b` RECOMPUTED from the row's own
    * key columns under the new layout, recorded in the same commit's
    * `#meta:layout` — the supported way to raise the bucket
    * constants of a live store (e.g. 16 → production 4096). Readers see
    * the old layout+files or the new, never a mix.
    *
    * Rows, dedup state, and tick markers are unchanged in both modes
    * (spec-asserted). Returns (files_before, files_after).
    */
  def compact(spark: SparkSession, root: String,
              targetBytes: Long = 128L << 20,
              rebucketTo: Option[StoreLayout] = None): (Long, Long) = {
    rebucketTo.foreach(requireCurrentExprVersion(_, "compact(rebucketTo)"))
    val fs = fsOf(spark, root)
    val dd = ManifestTable.dataDir(root)
    val prev = ManifestTable.currentVersion(spark, root)
    require(prev.nonEmpty, s"no committed snapshot at $root")
    val cur = layoutOf(spark, root)
    val target = rebucketTo.getOrElse(cur)
    val rebucket = target != cur
    val live = ManifestTable.liveFiles(spark, root)

    def bucketExpr(kind: String): Column = kind match {
      case "doc" | "tomb" => md5Bucket(col("text_md5"), target)
      case "band" => bandBucket(col("band_id"), col("band_val"), target)
      case "sh"   => shingleBucket(col("doc_id"), target)
    }
    // sub-split hash key: any uniformly-distributed row key of the kind
    def subKey(kind: String): Column = kind match {
      case "doc" | "tomb" => col("text_md5")
      case "band" => col("band_val")
      case "sh"   => col("doc_id")
    }
    def targetBucketCount(kind: String): Int = kind match {
      case "doc" | "tomb" => target.md5Buckets
      case "band" => Dedup.NumBands * target.bandValBuckets
      case "sh"   => target.shingleBuckets
    }

    val staging = s"$root/_staging/compact-${UUID.randomUUID()}"
    val results = Seq("doc", "sh", "band", "tomb").map { kind =>
      val files = live.filter(_.startsWith(s"p_kind=$kind/"))
      if (files.isEmpty) (Seq.empty[String], Seq.empty[String], 0)
      else {
        val sized = files.map(f => f -> fs.getFileStatus(
          new org.apache.hadoop.fs.Path(s"$dd/$f")).getLen)
        // bucket dir ("p_kind=doc/p_b=3") → its files with sizes
        val byBucket = sized.groupBy(_._1.split('/').take(2).mkString("/"))
        def justified(bytes: Long): Long =
          math.max(1L, (bytes + targetBytes - 1) / targetBytes)
        val rewrite =
          if (rebucket) byBucket
          else byBucket.filter { case (_, bf) =>
            bf.length > justified(bf.map(_._2).sum)
          }
        if (rewrite.isEmpty) (Seq.empty[String], Seq.empty[String], 0)
        else {
          val inFiles = rewrite.values.flatten.map(_._1).toSeq
          // explicit schema: no footer-reading inference job per kind
          // (see [[withPartCols]])
          val df0 = spark.read.schema(withPartCols(kindSchema(kind)))
            .option("basePath", dd)
            .parquet(inFiles.map(f => s"$dd/$f"): _*)
          val (df, nSub: Column) =
            if (rebucket) {
              // per-target-bucket bytes are unknown until the hash runs;
              // a uniform estimate sizes the sub-splits (hash buckets are
              // uniform by construction)
              val totalBytes = sized.map(_._2).sum
              val per = totalBytes / math.max(1, targetBucketCount(kind))
              (df0.withColumn("p_b", bucketExpr(kind)),
                lit(justified(per)))
            } else {
              // exact per-bucket sizing from the live file sizes
              val pairs = rewrite.toSeq.flatMap { case (dir, bf) =>
                val b = dir.split("p_b=")(1).toInt
                Seq(lit(b), lit(justified(bf.map(_._2).sum)))
              }
              (df0, element_at(map(pairs: _*), col("p_b")))
            }
          df.withColumn("__sub",
              pmod(xxhash64(subKey(kind)), nSub.cast("bigint")))
            .repartition(col("p_b"), col("__sub"))
            .drop("__sub")
            .write.partitionBy("p_kind", "p_b")
            .mode(SaveMode.Overwrite).parquet(s"$staging/$kind")
          // rewritten files get FRESH bloom sidecars (a merged file's
          // filter is not the union of its inputs' — it is re-sized to
          // the merged file's row count), so the second-level prune
          // survives every compaction and rebucket
          val published = ManifestTable.publishFiles(spark, root,
            s"$staging/$kind")
          writeKindBlooms(spark, root, Seq(kind -> published))
          (rewrite.keys.toSeq, published, inFiles.length)
        }
      }
    }
    val replacedDirs = results.flatMap(_._1)
    val added = results.flatMap(_._2)
    val nRewrittenIn = results.map(_._3).sum
    if (replacedDirs.isEmpty && !rebucket)
      return (live.length.toLong, live.length.toLong) // nothing fragmented
    ManifestTable.commitReplace(spark, root,
      if (rebucket) Seq("") else replacedDirs, added,
      meta = Map("layout" -> target.render))
    // deep on purpose: compaction is the store's maintenance pass, so it
    // also sweeps crash orphans the per-tick cheap vacuums leave behind
    ManifestTable.vacuum(spark, root, deep = true)
    (live.length.toLong, (live.length - nRewrittenIn + added.length).toLong)
  }

  /** What [[forget]] did: the committed version (unchanged when there was
    * nothing to do), documents purged, tombstones added for requested md5s
    * not already blocked, and live files rewritten across the three kinds.
    */
  case class ForgetReport(version: Long, nPurgedDocs: Long,
                          nNewTombstones: Long, nFilesRewritten: Int)

  /** CONTENT PURGE (right-to-be-forgotten): remove every document whose
    * `text_md5` is in `md5s` from the live snapshot — doc rows, shingle
    * rows, and band postings — and tombstone ALL the requested md5s so an
    * exact redelivery of the purged text can never re-enter. One atomic
    * commit: the affected files (located through the same two-level
    * bucket+Bloom index the tick reads use, so a purge touches O(requests)
    * files, never the store) are rewritten without the victim rows and
    * swapped file-for-file ([[ManifestTable.commitRewriteFiles]]); fresh
    * Bloom sidecars ride ahead of the commit like every other writer.
    *
    * Semantics a caller must know:
    *   - EXACT copies never return (tombstoned — including md5s the store
    *     had never seen, so a purge can pre-block a text). NEAR duplicates
    *     of the purged content MAY enter later: purging the shingle/band
    *     rows is the point (they derive from the content), and with them
    *     goes the store's ability to recognize its near-neighbors.
    *   - The purge is LOGICAL at commit time and physical after retention:
    *     prior snapshot versions still reference the old files until
    *     [[ManifestTable.vacuum]] ages them out (same reader-lag contract
    *     as every commit). Run a purge, then let retention lapse (or
    *     compact + deep-vacuum) for hard deletion.
    *   - Vector-index postings written by [[tickWithIndex]] are NOT
    *     touched here — [[forgetWithIndex]] composes this purge with
    *     [[IvfStore.forget]] for stores that run the platform tick.
    *   - Idempotent: re-running with the same md5s finds no victims and
    *     no new tombstones and commits nothing.
    *
    * Housekeeping contract (single writer), like [[compact]].
    */
  def forget(spark: SparkSession, root: String, md5s: Seq[String],
             retainSnapshots: Int = ManifestTable.RetainSnapshots)
      : ForgetReport = {
    val keys = md5s.map(_.toLowerCase).distinct
    require(keys.nonEmpty, "forget of an empty md5 set")
    // fail loud on malformed hashes — a purge that silently no-ops on a
    // typo'd hex string is a compliance bug, not a convenience
    keys.foreach(k => require(k.matches("[0-9a-f]{32}"),
      s"not an md5 hex digest: $k"))
    require(keys.size <= 100000,
      s"forget batch too large (${keys.size}); split into <=100000-key calls")
    val prev = ManifestTable.currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root"))
    val layout = layoutOf(spark, root)
    requireCurrentExprVersion(layout, "forget")
    val dd = ManifestTable.dataDir(root)
    def relName(abs: String): String = {
      val i = abs.lastIndexOf("p_kind=")
      require(i >= 0, s"not a store data file: $abs")
      abs.substring(i)
    }
    // explicit schema (incl. partition cols — the rewrite repartitions on
    // p_b): no schema-inference job per read (see [[withPartCols]])
    def readRaw(files: Seq[String], kind: String): DataFrame =
      spark.read.schema(withPartCols(kindSchema(kind)))
        .option("basePath", dd)
        .parquet(files.map(f => s"$dd/$f"): _*)

    // victim documents, through the index: (doc_id, text_md5, file)
    val docShort = pruneRelFiles(spark, root, "doc", layout,
      kindFiles(spark, root, "doc"), keys)
      .getOrElse(kindFiles(spark, root, "doc"))
    val victims =
      if (docShort.isEmpty) Array.empty[(Long, String, String)]
      else readKindFiles(spark, root, docShort, docSchema)
        .filter(col("text_md5").isin(keys: _*))
        .select(col("doc_id"), col("text_md5"),
          input_file_name().as("f"))
        .collect().map(r => (r.getLong(0), r.getString(1), relName(r.getString(2))))
    val victimIds = victims.map(_._1).toSeq
    val docVictimFiles = victims.map(_._3).distinct.toSeq

    // tombstones to add: every requested md5 not already blocked (kept
    // victims are not in tomb — their md5s get blocked here)
    val tombShort = pruneRelFiles(spark, root, "tomb", layout,
      kindFiles(spark, root, "tomb"), keys)
      .getOrElse(kindFiles(spark, root, "tomb"))
    val already =
      if (tombShort.isEmpty) Set.empty[String]
      else readKindFiles(spark, root, tombShort, tombSchema)
        .filter(col("text_md5").isin(keys: _*))
        .select(col("text_md5")).distinct()
        .collect().map(_.getString(0)).toSet
    val newTombs = keys.filterNot(already.contains)

    if (victimIds.isEmpty && newTombs.isEmpty)
      return ForgetReport(prev, 0L, 0L, 0)

    var victimSh: DataFrame = null
    try {
      // the victims' dedup state: shingle rows (by doc_id bucket) and the
      // band postings derived from them with the SAME kernels the tick
      // used, so the located band rows are exactly the stored ones
      val shShort =
        if (victimIds.isEmpty) Seq.empty[String]
        else pruneRelFiles(spark, root, "sh", layout,
          kindFiles(spark, root, "sh"), victimIds.map(_.toString))
          .getOrElse(kindFiles(spark, root, "sh"))
      victimSh =
        if (shShort.isEmpty) null
        else readKindFiles(spark, root, shShort, shSchema)
          .filter(col("doc_id").isin(victimIds: _*))
          .persist(StorageLevel.MEMORY_AND_DISK)
      val shVictimFiles =
        if (victimSh == null) Seq.empty[String]
        else readRaw(shShort, "sh").filter(col("doc_id").isin(victimIds: _*))
          .select(input_file_name().as("f")).distinct()
          .collect().map(r => relName(r.getString(0))).toSeq
      val bandKeys =
        if (victimSh == null) Array.empty[(Int, String)]
        else Dedup.explodedBands(Dedup.rawSignatures(victimSh),
          Dedup.NumHashes / Dedup.NumBands)
          .select(col("band_id"), col("band_val")).distinct()
          .collect().map(r => (r.getInt(0), r.getString(1)))
      val bandByBucket: Map[Int, Seq[String]] = bandKeys.toSeq
        .groupBy { case (id, v) => bandBucketForKey(id, v, layout) }
        .map { case (b, kvs) => b -> kvs.map(_._2).distinct }
      val bandShort = pruneRelFilesByBucket(spark, root,
        kindFiles(spark, root, "band"), bandByBucket)
      val bandVictimFiles =
        if (bandShort.isEmpty) Seq.empty[String]
        else readRaw(bandShort, "band").filter(col("doc_id").isin(victimIds: _*))
          .select(input_file_name().as("f")).distinct()
          .collect().map(r => relName(r.getString(0))).toSeq

      // rewrite the affected files without the victim rows; tomb additions
      // ride the same staging → ONE commit flips everything
      val staging = s"$root/_staging/${UUID.randomUUID()}"
      val toRewrite = Seq(
        "doc" -> (docVictimFiles, col("text_md5").isin(keys: _*)),
        "sh" -> (shVictimFiles, col("doc_id").isin(victimIds: _*)),
        "band" -> (bandVictimFiles, col("doc_id").isin(victimIds: _*)))
      val survivorCounts = toRewrite.map { case (kind, (files, victim)) =>
        if (files.isEmpty) kind -> 0L
        else {
          val df = readRaw(files, kind).filter(!victim)
          df.repartition(col("p_b"))
            .write.partitionBy("p_kind", "p_b")
            .mode(SaveMode.Overwrite).parquet(s"$staging/$kind")
          kind -> df.count()
        }
      }.toMap
      if (newTombs.nonEmpty) {
        import spark.implicits._
        newTombs.toDF("text_md5")
          .withColumn("p_kind", lit("tomb"))
          .withColumn("p_b", md5Bucket(col("text_md5"), layout))
          .repartition(col("p_b"))
          .write.partitionBy("p_kind", "p_b")
          .mode(SaveMode.Overwrite).parquet(s"$staging/tomb")
      }
      val byKind = Seq("doc", "sh", "band", "tomb")
        .map(k => k -> ManifestTable.publishFiles(spark, root, s"$staging/$k"))
      // publish integrity, the tick's contract: staged survivors must all
      // arrive — a purge that silently dropped NON-victim rows on the way
      // would be data loss wearing a compliance hat
      byKind.foreach { case (kind, published) =>
        if (kind != "tomb") {
          val nPub =
            if (published.isEmpty) 0L
            else readRaw(published, kind).count()
          require(nPub == survivorCounts(kind),
            s"purge rewrite of kind $kind published $nPub rows, expected " +
              s"${survivorCounts(kind)} — staged files vanished before " +
              "publish; is another writer's housekeeping running?")
        }
      }
      writeKindBlooms(spark, root, byKind)
      val removed = (docVictimFiles ++ shVictimFiles ++ bandVictimFiles).distinct
      val v = ManifestTable.commitRewriteFiles(spark, root, removed,
        byKind.flatMap(_._2).map(ManifestTable.FileEntry(_)),
        meta = Map("layout" -> layout.render))
      ManifestTable.vacuum(spark, root, retainSnapshots, deep = false)
      ForgetReport(v, victimIds.size.toLong, newTombs.size.toLong,
        removed.size)
    } finally {
      if (victimSh != null) victimSh.unpersist()
    }
  }

  /** [[forget]] composed with the vector index [[tickWithIndex]] maintains
    * — the platform store's complete right-to-be-forgotten: the victims'
    * IVF postings leave the index FIRST (while their doc rows still exist
    * to resolve md5 → doc_id through the doc-kind two-level index), then
    * the corpus purge runs. After both, neither [[read]] nor
    * [[IvfStore.annIvf]] can ever return the purged content.
    *
    * Ordering is the crash-safety: a retry after a crash anywhere finds
    * the doc rows still present (the corpus purge hadn't run), re-resolves
    * the SAME victim ids, re-runs the idempotent index purge (a no-op if
    * it landed), and completes the corpus purge. The reverse order would
    * strand the postings forever — once the doc rows are gone, md5s no
    * longer resolve to vec_ids. Same housekeeping contract (single writer)
    * and retention semantics as [[forget]].
    */
  def forgetWithIndex(spark: SparkSession, root: String, ivfRoot: String,
                      md5s: Seq[String],
                      retainSnapshots: Int = ManifestTable.RetainSnapshots)
      : ForgetReport = {
    val keys = md5s.map(_.toLowerCase).distinct
    require(keys.nonEmpty, "forget of an empty md5 set")
    keys.foreach(k => require(k.matches("[0-9a-f]{32}"),
      s"not an md5 hex digest: $k"))
    if (ManifestTable.currentVersion(spark, root).nonEmpty) {
      val layout = layoutOf(spark, root)
      val docShort = pruneRelFiles(spark, root, "doc", layout,
        kindFiles(spark, root, "doc"), keys)
        .getOrElse(kindFiles(spark, root, "doc"))
      val victimIds =
        if (docShort.isEmpty) Seq.empty[Long]
        else readKindFiles(spark, root, docShort, docSchema)
          .filter(col("text_md5").isin(keys: _*))
          .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
      if (victimIds.nonEmpty) IvfStore.forget(spark, ivfRoot, victimIds)
    }
    forget(spark, root, md5s, retainSnapshots)
  }

  /** The packed (shard, bin) training manifest over the accumulated
    * keepers — [[Corpus.corpusPipeline]]'s stage 2–7 tail off the store
    * (identical output to the all-at-once incremental build when the
    * ticks were its arrival waves; spec-asserted).
    *
    * Cache lifecycle: the tail persists its multiply-consumed stage frames
    * under the session-cache contract — a long-running caller materializes
    * the manifest, then clears the session cache (or runs each refresh in
    * its own session), unlike [[tick]], which releases its own caches.
    */
  def manifest(spark: SparkSession, root: String,
               perplexityThreshold: Double = 3.5,
               flagAt: Double = 0.2,
               totalBudget: Long = 20000L,
               nShards: Int = 8,
               seqBudget: Long = 1024L,
               seed: String = "graft"): DataFrame =
    Corpus.pipelineTail(docs(spark, root), perplexityThreshold, flagAt,
      totalBudget, nShards, seqBudget, seed)

  /** [[manifest]] with the tail's corpus-dependent models STAGED per store
    * snapshot version (the [[CentroidStore]] versioned-sidecar pattern
    * applied to the pipeline tail): the first refresh at version v trains
    * the perplexity LM and derives the held-out decontamination shingle
    * set, then persists them under `_models/v{v}/` (write, then one
    * atomic `_DONE` marker — a crash mid-write just re-derives next
    * refresh); subsequent refreshes at the SAME version load the sidecars
    * instead of re-training. Byte-identical manifest either way
    * (spec-asserted) — the models are deterministic functions of the
    * snapshot, so staging changes cost, never content. Sidecars of
    * vacuumed versions prune on the shared retention parser.
    */
  def manifestCached(spark: SparkSession, root: String,
                     perplexityThreshold: Double = 3.5,
                     flagAt: Double = 0.2,
                     totalBudget: Long = 20000L,
                     nShards: Int = 8,
                     seqBudget: Long = 1024L,
                     seed: String = "graft"): DataFrame = {
    val v = ManifestTable.currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root"))
    val fs = fsOf(spark, root)
    val base = new org.apache.hadoop.fs.Path(s"$root/_models")
    val mdir = s"$root/_models/v$v"
    val done = new org.apache.hadoop.fs.Path(s"$mdir/_DONE")
    val staged =
      if (fs.exists(done))
        Some(Corpus.TailModels(
          spark.read.parquet(s"$mdir/lm_bigrams"),
          spark.read.parquet(s"$mdir/lm_vocab"),
          spark.read.parquet(s"$mdir/held_shingles")))
      else None
    val (m, models) = Corpus.pipelineTailWithModels(docs(spark, root),
      perplexityThreshold, flagAt, totalBudget, nShards, seqBudget, seed,
      staged)
    if (staged.isEmpty) {
      // the model writes run the tail's shared DAG up to `gated`; its
      // stage frames are persisted by the tail itself, so the manifest
      // materialization that follows reuses them, not re-derives
      models.lmBigrams.write.mode(SaveMode.Overwrite)
        .parquet(s"$mdir/lm_bigrams")
      models.lmVocab.coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$mdir/lm_vocab")
      models.heldShingles.write.mode(SaveMode.Overwrite)
        .parquet(s"$mdir/held_shingles")
      fs.create(done).close()
      ManifestTable.pruneVersionDirs(fs, base,
        ManifestTable.versions(spark, root).toSet)
    }
    m
  }

  /** [[manifest]] over a PINNED store snapshot — the byte-reproducible
    * rebuild of the manifest a past loader refresh saw (the tail is a
    * deterministic function of the snapshot's rows, and a snapshot's files
    * are immutable while the retention window holds them). The training-
    * reproducibility read: "which exact (shard, bin) packing did version v
    * train on".
    *
    * RETENTION BOUND: only versions inside the per-tick vacuum's window
    * stay readable — with [[tick]]'s default (`ManifestTable.RetainSnapshots`
    * = 2) that is the current and previous version only; anything older
    * fails the readAt require. Pass a larger `retainSnapshots` to [[tick]]
    * when loaders need to reproduce deeper history.
    */
  def manifestAt(spark: SparkSession, root: String, version: Long,
                 perplexityThreshold: Double = 3.5,
                 flagAt: Double = 0.2,
                 totalBudget: Long = 20000L,
                 nShards: Int = 8,
                 seqBudget: Long = 1024L,
                 seed: String = "graft"): DataFrame = {
    val files = ManifestTable.filesOf(spark, root, version)
      .filter(_.startsWith("p_kind=doc/"))
    require(files.nonEmpty, s"no doc files in snapshot v$version at $root")
    Corpus.pipelineTail(
      readKindFiles(spark, root, files, docSchema)
        .select(col("doc_id"), col("lang"), col("source"), col("text")),
      perplexityThreshold, flagAt, totalBudget, nShards, seqBudget, seed)
  }

  /** [[read]] pinned at a RETAINED snapshot version — the doc rows exactly
    * as that version committed them (time travel; files are immutable
    * inside the retention window, see [[tick]]'s `retainSnapshots`). An
    * unretained version fails loudly at the manifest read; a retained
    * version with no doc files (e.g. a tomb-only first commit) reads as a
    * correctly typed empty frame.
    */
  def readAt(spark: SparkSession, root: String, version: Long): DataFrame = {
    val files = ManifestTable.filesOf(spark, root, version)
    requireStoreLayout(root, files)
    readKindFiles(spark, root,
      files.filter(_.startsWith("p_kind=doc/")), docSchema)
  }

  /** Change data feed between two retained snapshots: the document-level
    * inserts and deletes that move `fromVersion`'s kept-document view to
    * `toVersion`'s — what an incremental consumer (a training-data export
    * refresh, a downstream feature store) applies instead of re-reading the
    * corpus. Output: (doc_id, lang, source, text_md5, change) with change
    * in {insert, delete}; `text_md5` is the store's content identity (the
    * exact-dedup key — one doc row per md5 per snapshot), so a delete names
    * exactly the content that left.
    *
    * SCALE: pure manifest arithmetic picks the doc files the two versions
    * do NOT share, and only those files are ever read — ticks append and
    * [[forget]] rewrites only victim files, so a tick-window diff costs
    * O(changed files), never O(store). Rows that merely MOVED between
    * files cancel in a `text_md5` anti-join between the two changed sides:
    * a [[compact]]-only window reads its rewritten files once and yields
    * zero changes. The one degenerate window is a `rebucketTo` migration
    * (every file rewrites, so the diff reads the store once to prove
    * nothing changed) — diff around migrations, not across them, when that
    * matters.
    *
    * Both versions must still be retained (an unretained version's
    * manifest is gone and the read fails loudly — raise [[tick]]'s
    * `retainSnapshots` to the consumer's maximum refresh lag).
    * `fromVersion = 0` is the EMPTY store: the bootstrap full export
    * (every kept doc as an insert). Streaming surface:
    * [[graft.streaming.StoreChangesSource]] serves exactly these windows
    * as micro-batches with store versions as offsets.
    */
  def changesBetween(spark: SparkSession, root: String,
                     fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion > toVersion $toVersion")
    // version 0 = the EMPTY store: changesBetween(0, v) is the bootstrap
    // diff — every kept document as an insert — which is what lets a CDF
    // consumer (graft.streaming.StoreChangesSource) start from nothing
    // and stay incremental afterwards
    def docFiles(v: Long): Set[String] =
      if (v == 0L) Set.empty
      else {
        val files = ManifestTable.filesOf(spark, root, v)
        requireStoreLayout(root, files)
        files.filter(_.startsWith("p_kind=doc/")).toSet
      }
    val fromF = docFiles(fromVersion)
    val toF = docFiles(toVersion)
    def changedRows(own: Set[String], other: Set[String], tag: String) =
      readKindFiles(spark, root, (own -- other).toSeq.sorted, docSchema)
        .join(readKindFiles(spark, root, (other -- own).toSeq.sorted,
            docSchema).select(col("text_md5")),
          Seq("text_md5"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"), col("text_md5"))
        .withColumn("change", lit(tag))
    changedRows(toF, fromF, "insert")
      .unionByName(changedRows(fromF, toF, "delete"))
  }

  /** [[changesBetween]] from `sinceVersion` to the current snapshot — the
    * consumer-side refresh call ("what changed since my last export").
    */
  def changesSince(spark: SparkSession, root: String,
                   sinceVersion: Long): DataFrame =
    changesBetween(spark, root, sinceVersion,
      ManifestTable.currentVersion(spark, root).getOrElse(
        throw new IllegalStateException(s"no committed snapshot at $root")))

  case class KindHealth(kind: String, nFiles: Long, nBuckets: Long,
                        maxFilesPerBucket: Long)
  case class StoreHealth(version: Long, nRetainedVersions: Int,
                         nCommittedTicks: Int, layout: StoreLayout,
                         kinds: Seq[KindHealth])

  /** Operational health of the live snapshot — the numbers a compaction
    * schedule and a capacity dashboard key on — from manifest arithmetic
    * plus one marker listing: no data file is opened and no directory
    * under `data/` is walked, so the call is O(manifest lines) on the
    * driver however large the store grows. `maxFilesPerBucket` is the
    * fragmentation signal: ticks append one file per touched bucket per
    * kind, so it climbs roughly one per tick between [[compact]] runs and
    * collapses back to ~1 after.
    */
  def health(spark: SparkSession, root: String): StoreHealth = {
    val v = ManifestTable.currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root"))
    val live = ManifestTable.liveFiles(spark, root)
    val kinds = Seq("doc", "tomb", "band", "sh").map { k =>
      val files = live.filter(_.startsWith(s"p_kind=$k/"))
      val perBucket = files.groupBy(bucketOfPath).values.map(_.size)
      KindHealth(k, files.size.toLong, perBucket.size.toLong,
        if (perBucket.isEmpty) 0L else perBucket.max.toLong)
    }
    StoreHealth(v, ManifestTable.versions(spark, root).size,
      committedTicks(spark, root).size, layoutOf(spark, root), kinds)
  }
}

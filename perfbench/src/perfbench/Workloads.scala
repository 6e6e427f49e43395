package perfbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.sql.Timestamp
import java.time.{DayOfWeek, LocalDateTime}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators._

/** One timed call into the program. `latency` marks the calls whose median
  * is the workload's latency metric; `items` (> 0) marks the bulk calls whose
  * items per second are its throughput metric. `ok` is its output check.
  * `weight` is how often the call fires in production relative to the
  * round's other calls; both metrics count each call with it.
  */
final case class Op(seconds: Double, items: Long, ok: Boolean, latency: Boolean = true,
                    weight: Double = 1.0)

/** A seeded workload. `setUp` warms every code path and prepares the state
  * the first round starts from; `timed` repeats whole rounds in a closed
  * loop; a round traced when given a tracer is the traced run's unit.
  */
abstract class Workload(val spark: SparkSession, val dir: String, val seed: Long) {
  /** Write the seeded input tables; returns a one-line description of them. */
  def generate(): String
  /** Warm-up and the first round's starting state, outside the timing. */
  def setUp(): Unit
  /** One round of ops; every op checked. */
  def round(tr: Option[Tracer]): Seq[Op]
  /** Per-layer numbers only the workload knows (sink and store state). */
  def layerFacts(): Map[String, Double]
  /** Bytes on disk the last round left, per byte of generated input. */
  def bytesPerInputByte(): Double

  /** Whole rounds, one caller, until `seconds` have passed. */
  def timed(seconds: Double): Seq[Op] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val ops = Seq.newBuilder[Op]
    while (System.nanoTime() < deadline) ops ++= round(None)
    ops.result()
  }

  protected def span[T](tr: Option[Tracer], name: String)(body: => T): T =
    tr.fold(body)(_.span(name)(body))

  protected def clock[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  protected def withLastCheck(ops: Seq[Op], ok: Boolean): Seq[Op] =
    ops.init :+ ops.last.copy(ok = ops.last.ok && ok)
}

object Workload {
  /** Row count and an order-independent hash of every column: equal
    * frames, equal prints.
    */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val hash = xxhash64(df.columns.map(c => col(s"`$c`")).toSeq: _*).bitwiseAND(0xFFFFFFFFL)
    val r = df.agg(count(lit(1)), coalesce(sum(hash), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  def ts(t: LocalDateTime): Timestamp = Timestamp.valueOf(t)

  def copyTree(from: String, to: String): Unit = {
    val (src, dst) = (Paths.get(from), Paths.get(to))
    val all = Files.walk(src)
    try all.forEach(f => Files.copy(f, dst.resolve(src.relativize(f))))
    finally all.close()
  }

  def bytesUnder(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(g => bytesUnder(g.getPath)).sum
    else f.length()
  }
}

import Workload._

/** The reference's production shape: `Orchestrator.Pipeline.runTick` over
  * a seeded trade stream. Set-up creates the sinks with a Thursday 11:00
  * tick (the deployment's first fire); each round starts from a copy of
  * them and times an hourly intraday tick at 12:05 and 13:05, then the
  * 11:00 tick of the month's last Friday (daily, weekly and monthly flows).
  * The Friday tick catches up the intraday hours in between, which are not
  * run. A seeded feed outage that Thursday morning makes the repair flow
  * fire on the creating tick and on 12:05 (the refetch is still empty) and,
  * healed at 13:00, backfill on 13:05. The stream ends at Friday 10:00, so
  * after the round every sink must equal the all-at-once batch recompute
  * (`OrchestratorSpec`'s property).
  *
  * Ticks are weighted by the cadence table in `Orchestrator`: hourly, a day
  * holds 23 intraday ticks to one 11:00 tick.
  */
final class CronTicks(spark: SparkSession, dir: String, seed: Long, work: String)
    extends Workload(spark, dir, seed) {
  val spec = Gen.TradeSpec()
  private val thursday = spec.start.plusDays(6)
  val createTick: Timestamp = ts(thursday.plusHours(11))
  // intraday ticks at :05, the cadence table's hourly fire of the option flow
  val intraday: Seq[Timestamp] = (12 to 13).map(h => ts(thursday.plusHours(h).plusMinutes(5)))
  val dailyTick: Timestamp = ts(thursday.plusHours(35))
  private val intradayWeight = 23.0 / intraday.size
  private var trades: DataFrame = _
  private var outage: Orchestrator.Outage = _
  private var batch = Map.empty[String, (Long, Long)]
  private var rounds = 0
  private var lastPipe: Orchestrator.Pipeline = _
  private var lastRuns = Seq.empty[Orchestrator.FlowRun]

  def generate(): String = {
    Gen.writeTrades(spark, dir, spec, seed)
    val (a, b, healed) = Gen.outage(spec, thursday, seed)
    outage = Orchestrator.Outage(ts(a), ts(b), ts(healed))
    s"${spec.nTrades} trades, ${spec.instruments} instruments, ${spec.spanHours} hours, " +
      s"outage $a..$b healed $healed, create at $createTick, " +
      s"timed ticks ${(intraday :+ dailyTick).mkString(", ")}"
  }

  private def pipeline(root: String): Orchestrator.Pipeline =
    new Orchestrator.Pipeline(spark, new Orchestrator.SimulatedFeed(trades, Some(outage)), root)

  /** A copy of the sinks the Thursday 11:00 tick created in set-up:
    * manifests hold paths relative to the table root, so a copied root is
    * the same table.
    */
  private def created(): Orchestrator.Pipeline = {
    rounds += 1
    val root = s"$work/cron/round$rounds"
    copyTree(s"$work/cron/created", root)
    pipeline(root)
  }

  /** (ETL layer, sink path, batch recompute of the layer over the stream),
    * with the daily frame persisted for the duration of `f`, so the weekly
    * and monthly layers time only their own operator.
    */
  private def withLayers[T](p: Orchestrator.Pipeline)(f: Seq[(String, String, DataFrame)] => T): T = {
    val daily = Ohlc.dailySessions(Ohlc.hourlyBars(trades)).persist()
    try f(Seq(("ohlc.minute", p.bars1mPath, Ohlc.minuteOhlc(trades)),
      ("ohlc.hourly", p.hourlyPath, Ohlc.hourlyOhlc(trades)),
      ("ohlc.daily", p.dailyPath, daily),
      ("ohlc.weekly", p.weeklyPath, Ohlc.weeklySessions(daily)),
      ("ohlc.monthly", p.monthlyPath, Ohlc.monthlySessions(daily))))
    finally daily.unpersist()
  }

  /** Every sink equals its layer's batch recompute. A traced round
    * recomputes the layers under spans, which gives the ETL operators'
    * per-layer numbers, and checks them against the set-up's recompute.
    */
  private def converged(p: Orchestrator.Pipeline, tr: Option[Tracer]): Boolean =
    withLayers(p)(_.forall { case (name, path, like) =>
      val want = tr.fold(batch(name))(_.span(name)(fingerprint(like)))
      val got = if (ManifestTable.currentVersion(spark, path).isEmpty) (0L, 0L)
        else fingerprint(Incremental.readSink(spark, path).select(like.columns.map(col).toSeq: _*))
      got == want && want == batch(name)
    })

  private def upserted(r: Orchestrator.FlowRun): Long = r.stats.inserted + r.stats.updated

  /** `runTick`'s flows through the public flow methods, in its documented
    * order, each under its own span.
    */
  private def tracedTick(p: Orchestrator.Pipeline, t: Timestamp, tr: Tracer): Seq[Orchestrator.FlowRun] = {
    val local = t.toLocalDateTime
    val rs = Seq.newBuilder[Orchestrator.FlowRun]
    rs += tr.span("orch.sync1m")(p.sync1m(t))
    tr.span("orch.repair1m")(p.repair1m(t)).foreach(rs += _)
    rs += tr.span("orch.option_ohlc")(p.optionOhlc(t))
    if (local.getHour == 11) {
      tr.span("orch.daily")(p.dailyAgg(t)).foreach(rs += _)
      if (local.getDayOfWeek == DayOfWeek.FRIDAY) {
        tr.span("orch.weekly")(p.weeklyAgg(t)).foreach(rs += _)
        if (Orchestrator.isLastFriday(local.toLocalDate))
          tr.span("orch.monthly")(p.monthlyAgg(t)).foreach(rs += _)
      }
    }
    rs.result()
  }

  def setUp(): Unit = {
    // the simulated exchange serves the stream through the public loader,
    // cached once like an external API's constant-cost responses
    trades = Tables.trades(spark, dir).persist()
    val p = pipeline(s"$work/cron/created")
    p.runTick(createTick)
    batch = withLayers(p)(_.map { case (name, _, df) => name -> fingerprint(df) }.toMap)
    require((batch - "ohlc.monthly").values.forall(_._1 > 0), s"generated stream leaves layers empty: $batch")
  }

  def round(tr: Option[Tracer]): Seq[Op] = {
    val p = created()
    val runs = Seq.newBuilder[Orchestrator.FlowRun]
    val ops = (intraday.map(_ -> intradayWeight) :+ (dailyTick -> 1.0)).map { case (t, weight) =>
      val kind = if (t == dailyTick) "cron.daily_tick" else "cron.intraday_tick"
      val (r, s) = clock(tr.fold(p.runTick(t))(x => x.span(kind)(tracedTick(p, t, x))))
      runs ++= r
      println(f"tick $t (${kind.stripPrefix("cron.")}): $s%.2f s, ${r.map(upserted).sum} rows upserted")
      Op(s, r.map(upserted).sum, ok = true, weight = weight)
    }
    val got = runs.result()
    // the traced flow sequence must be exactly what runTick produced
    val sameFlows = tr.isEmpty || lastRuns.isEmpty || got == lastRuns
    val fired = got.map(_.flow).toSet.size == 6 &&
      got.exists(r => r.flow == "binance-1m-gap-repair-hourly" && r.stats.written > 0)
    if (tr.isEmpty) lastRuns = got
    lastPipe = p
    withLastCheck(ops, sameFlows && fired && converged(p, tr))
  }

  def bytesPerInputByte(): Double =
    bytesUnder(lastPipe.bars1mPath.stripSuffix("/bars_1m")).toDouble / bytesUnder(s"$dir/events.parquet")

  def layerFacts(): Map[String, Double] = {
    val p = lastPipe
    val paths = Seq(p.bars1mPath, p.hourlyPath, p.dailyPath, p.weeklyPath, p.monthlyPath)
    val written = lastRuns.map(_.stats.written).sum.toDouble
    val up = lastRuns.map(upserted).sum.toDouble
    Map(
      "incremental.rows_written" -> written,
      "incremental.rewrite_ratio" -> (if (up > 0) written / up else 0.0),
      "manifest.live_files" -> paths.map(ManifestTable.liveFiles(spark, _).size).sum.toDouble,
      "manifest.versions_retained" -> paths.map(ManifestTable.versions(spark, _).size).sum.toDouble)
  }
}

/** Document arrival waves through `CorpusStore.tick` on a fresh root, each
  * followed by point lookups on `text_md5` through `CorpusStore.read` with
  * `GraftExtensions` installed: hits on kept texts mixed with planted
  * misses. The creating wave and a few lookups prepare each round outside
  * the timing; the next wave's tick is the bulk op and the lookups after it
  * are the latency ops.
  */
final class StoreChurn(spark: SparkSession, dir: String, seed: Long, work: String)
    extends Workload(spark, dir, seed) {
  val waves = 2
  val docsPerWave = 100
  val lookupsPerWave = 60
  val warmUpLookups = 10
  val missShare = 0.25
  val spec = Gen.DocSpec(nDocs = waves * docsPerWave)
  private var truth: Gen.DocTruth = _
  private var rounds = 0
  private var prepared: Option[(String, CorpusStore.TickReport)] = None
  private var lastRoot = ""
  private var lastReports = Seq.empty[CorpusStore.TickReport]
  private val planMs = Seq.newBuilder[Double]
  private var firstTickS = 0.0
  private var filesAddedPerTick = 0.0

  def generate(): String = {
    truth = Gen.writeDocuments(spark, dir, spec, seed)
    graft.plans.GraftExtensions.install(spark)
    s"${spec.nDocs} documents (${truth.baseTexts.size} distinct kept) in $waves waves, " +
      s"${truth.inputBytes} text bytes"
  }

  /** Probes after wave `w`: (md5, expected doc_id or None for a planted miss). */
  private def probes(w: Int, n: Int): Seq[(String, Option[Long])] = {
    val rnd = Gen.rng(seed, s"probes$w")
    val kept = truth.baseTexts.filter(_._1 < (w + 1L) * docsPerWave)
    (0 until n).map { i =>
      if (rnd.nextDouble() < missShare || kept.isEmpty)
        md5Hex(s"planted miss $seed/$w/$i ${rnd.nextLong()}") -> None
      else {
        val (id, text) = kept(rnd.nextInt(kept.size))
        md5Hex(text) -> Some(id)
      }
    }
  }

  private def wave(root: String, w: Int): CorpusStore.TickReport =
    CorpusStore.tick(Tables.documents(spark, dir).filter(
      col("doc_id") >= w.toLong * docsPerWave && col("doc_id") < (w + 1L) * docsPerWave),
      root, tickId = Some(s"wave$w"))

  private def lookups(tr: Option[Tracer], root: String, w: Int, n: Int): Seq[Op] =
    probes(w, n).map { case (md5, want) =>
      val (got, s) = clock(span(tr, "lookup") {
        val df = CorpusStore.read(spark, root).filter(col("text_md5") === md5).select(col("doc_id"))
        val (_, plan) = clock(df.queryExecution.executedPlan)
        planMs += plan * 1e3
        df.collect().map(_.getLong(0)).toSeq
      })
      Op(s, 0, got == want.toSeq)
    }

  /** A fresh store created by wave 0, then its lookups (never traced, so
    * every traced round has the same spans).
    */
  private def created(): (String, CorpusStore.TickReport) = {
    rounds += 1
    val root = s"$work/store/round$rounds"
    val (rep, s) = clock(wave(root, 0))
    firstTickS = s
    lookups(None, root, 0, warmUpLookups)
    (root, rep)
  }

  def setUp(): Unit = prepared = Some(created())

  def round(tr: Option[Tracer]): Seq[Op] = {
    val (root, first) = prepared.getOrElse(created())
    prepared = None
    planMs.clear()
    val filesBefore = ManifestTable.liveFiles(spark, root).size
    val reports = Seq.newBuilder[CorpusStore.TickReport] += first
    val ops = (1 until waves).flatMap { w =>
      val (rep, s) = clock(span(tr, "store.tick")(wave(root, w)))
      reports += rep
      Op(s, rep.nRaw, ok = rep.nRaw == docsPerWave, latency = false) +: lookups(tr, root, w, lookupsPerWave)
    }
    lastRoot = root
    lastReports = reports.result()
    filesAddedPerTick = (ManifestTable.liveFiles(spark, root).size - filesBefore).toDouble / (waves - 1)
    withLastCheck(ops, lastReports.map(_.nKept).sum == CorpusStore.read(spark, root).count())
  }

  def bytesPerInputByte(): Double = bytesUnder(lastRoot).toDouble / truth.inputBytes

  def layerFacts(): Map[String, Double] = {
    val h = CorpusStore.health(spark, lastRoot)
    Map(
      "store.first_tick_s" -> firstTickS,
      "store.files_added_per_tick" -> filesAddedPerTick,
      "store.kept_per_raw" -> lastReports.map(_.nKept).sum.toDouble / lastReports.map(_.nRaw).sum,
      "store.max_files_per_bucket" -> h.kinds.map(_.maxFilesPerBucket).max.toDouble,
      "lookup.plan_ms" -> Stats.median(planMs.result()),
      "manifest.live_files" -> ManifestTable.liveFiles(spark, lastRoot).size.toDouble,
      "manifest.versions_retained" -> ManifestTable.versions(spark, lastRoot).size.toDouble)
  }
}

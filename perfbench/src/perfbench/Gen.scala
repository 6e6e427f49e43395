package perfbench

import java.sql.Timestamp
import java.time.{LocalDateTime, ZoneOffset}

import scala.util.Random

import org.apache.spark.sql.{Row, SaveMode, SparkSession}

import graft.Schemas

/** Seeded input generators. Every control is a field with a fixed default,
  * so one seed always yields the same tables and different seeds yield
  * tables of identical size and shape (only the random details move).
  * Tables are written as parquet in the testdata layout
  * (`<dir>/<name>.parquet`) and reach the program only through
  * `graft.Tables`.
  */
object Gen {

  /** An independent random stream per (seed, purpose): consecutive seeds
    * give java.util.Random correlated first draws, so seeds are hashed.
    */
  def rng(seed: Long, purpose: String): Random =
    new Random(scala.util.hashing.MurmurHash3.stringHash(s"$purpose/$seed"))

  /** Trade stream (`events` table). Trades per instrument-hour are exact, so
    * the row count is the same for every seed; timestamps, prices and users
    * are random. `outOfOrderShare` of the rows are displaced in file order
    * (late arrivals); the outage window is not a hole in the stream but a
    * feed outage the cron workload's simulated exchange applies. The
    * instrument count and trade rate follow the repository's sf0.1 `events`
    * testdata: 5 event types (instruments, through `Tables.trades`) and
    * 100,000 rows over 720 hours, i.e. ~28 per instrument-hour. The span is
    * shorter than the testdata's 30 days to fit the run budget; it ends at
    * the month's last Friday 10:00, before the cron workload's last tick.
    */
  final case class TradeSpec(instruments: Int = 5,
                             tradesPerInstrumentHour: Int = 28,
                             startDay: String = "2024-01-19",
                             spanHours: Int = 7 * 24 + 10,
                             outOfOrderShare: Double = 0.05,
                             outageHours: Int = 3) {
    def nTrades: Long = instruments.toLong * spanHours * tradesPerInstrumentHour
    def start: LocalDateTime = LocalDateTime.parse(s"${startDay}T00:00:00")
  }

  /** Documents table. `exactDupShare` rows repeat an earlier text verbatim,
    * `nearDupShare` rows repeat one with a single word replaced, and
    * `qualityFailShare` rows are symbol noise that fails the quality gate.
    * The rest are distinct prose that passes it ("base" documents): words
    * drawn uniformly from a `vocabSize`-word vocabulary, with a
    * `stopwordShare` of `TextOps.stopwords` among them. Vocabulary size,
    * uniform draw and the 100-word maximum follow the sf0.1 `documents`
    * testdata (31 distinct words, 10-100 words a text); the 40-word minimum
    * and the stopword share keep every prose text above `CorpusStore.tick`'s
    * 0.70 quality gate.
    */
  final case class DocSpec(nDocs: Int,
                           exactDupShare: Double = 0.10,
                           nearDupShare: Double = 0.10,
                           qualityFailShare: Double = 0.10,
                           minWords: Int = 40,
                           maxWords: Int = 100,
                           vocabSize: Int = 31,
                           stopwordShare: Double = 0.35)

  /** What the generator planted, for the output checks. */
  final case class DocTruth(baseTexts: IndexedSeq[(Long, String)], inputBytes: Long)

  def writeTrades(spark: SparkSession, dir: String, spec: TradeSpec, seed: Long): Long = {
    val rnd = rng(seed, "trades")
    val startS = spec.start.toEpochSecond(ZoneOffset.UTC)
    val raw = Array.newBuilder[(Long, Int, Double)] // (epoch µs, instrument, price)
    raw.sizeHint(spec.nTrades.toInt)
    val price = Array.fill(spec.instruments)(100.0 + rnd.nextInt(900))
    for (h <- 0 until spec.spanHours; i <- 0 until spec.instruments) {
      val hourUs = (startS + h * 3600L) * 1000000L
      val offsets = Array.fill(spec.tradesPerInstrumentHour)(
        (rnd.nextDouble() * 3.6e9).toLong).sorted
      offsets.foreach { off =>
        price(i) = math.max(1.0, price(i) * (1 + (rnd.nextGaussian() * 0.002)))
        raw += ((hourUs + off, i, math.round(price(i) * 100) / 100.0))
      }
    }
    val sorted = raw.result().sortBy(t => (t._1, t._2))
    // late arrivals: swap a share of rows with a nearby later row
    val n = sorted.length
    (0 until (n * spec.outOfOrderShare).toInt).foreach { _ =>
      val a = rnd.nextInt(n)
      val b = math.min(n - 1, a + 1 + rnd.nextInt(500))
      val t = sorted(a); sorted(a) = sorted(b); sorted(b) = t
    }
    val rows = sorted.zipWithIndex.map { case ((us, i, p), id) =>
      val t = new Timestamp(us / 1000)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      Row(id.toLong, t, rnd.nextInt(1000).toLong, f"inst$i%02d", p,
        s"""{"k": ${rnd.nextInt(100)}}""")
    }
    writeTable(spark, dir, "events", rows.toSeq)
    n.toLong
  }

  /** A feed outage of `spec.outageHours` starting at a seeded 06:00 or
    * 07:00 of `day`, so it has ended by 11:00, healed at 13:00: (start, end,
    * healed).
    */
  def outage(spec: TradeSpec, day: LocalDateTime, seed: Long)
      : (LocalDateTime, LocalDateTime, LocalDateTime) = {
    val start = day.plusHours(6 + rng(seed, "outage").nextInt(2))
    (start, start.plusHours(spec.outageHours), day.plusHours(13))
  }

  private val stop = graft.operators.TextOps.stopwords
  private val langs = Seq("en", "de", "fr", "es", "zh")

  /** A seeded vocabulary of `n` distinct pronounceable lowercase words. */
  private def vocabulary(rnd: Random, n: Int): IndexedSeq[String] = {
    val syl = Seq("ka", "lo", "mi", "ner", "sta", "vi", "qua", "dor", "pel",
      "ti", "ru", "shan", "gle", "mor", "bex", "fi", "zan", "tor", "lin", "wes")
    Iterator.continually((0 until 2 + rnd.nextInt(3)).map(_ => syl(rnd.nextInt(syl.size))).mkString)
      .distinct.take(n).toIndexedSeq
  }

  def writeDocuments(spark: SparkSession, dir: String, spec: DocSpec, seed: Long): DocTruth = {
    val rnd = rng(seed, "documents")
    val vocab = vocabulary(rnd, spec.vocabSize)
    def word(): String = vocab(rnd.nextInt(vocab.size))
    def prose(): String = {
      val n = spec.minWords + rnd.nextInt(spec.maxWords - spec.minWords + 1)
      (0 until n).map { _ =>
        if (rnd.nextDouble() < spec.stopwordShare) stop(rnd.nextInt(stop.size)) else word()
      }.mkString(" ")
    }
    def noise(): String =
      (0 until 30 + rnd.nextInt(30)).map(_ => "#%&*!?".charAt(rnd.nextInt(6)).toString * (1 + rnd.nextInt(4)) +
        rnd.nextInt(10000)).mkString(" ")
    // categories in exact shares: every block of 10 documents holds the same
    // mix in a seeded order, so every seed keeps the same number of texts
    def count(share: Double) = math.round(share * 10).toInt
    val block = Seq.fill(count(spec.exactDupShare))("exact") ++
      Seq.fill(count(spec.nearDupShare))("near") ++
      Seq.fill(count(spec.qualityFailShare))("noise")
    val kinds = Seq.fill((spec.nDocs + 9) / 10)(rnd.shuffle(block.padTo(10, "base"))).flatten
    val base = IndexedSeq.newBuilder[(Long, String)]
    val texts = new Array[String](spec.nDocs)
    val bases = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until spec.nDocs).foreach { id =>
      val text = kinds(id) match {
        case "exact" if bases.nonEmpty => bases(rnd.nextInt(bases.size))
        case "near" if bases.nonEmpty =>
          val w = bases(rnd.nextInt(bases.size)).split(" ")
          w(rnd.nextInt(w.length)) = word()
          w.mkString(" ")
        case "noise" => noise()
        case _ =>
          val t = prose()
          bases += t
          base += ((id.toLong, t))
          t
      }
      texts(id) = text
    }
    val rows = texts.toSeq.zipWithIndex.map { case (t, id) =>
      Row(id.toLong, t, langs(rnd.nextInt(langs.size)), s"src${rnd.nextInt(20)}", t.length.toLong)
    }
    writeTable(spark, dir, "documents", rows)
    DocTruth(base.result(), texts.map(_.getBytes("UTF-8").length.toLong).sum)
  }

  private def writeTable(spark: SparkSession, dir: String, name: String, rows: Seq[Row]): Unit = {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), Schemas.all(name))
    df.write.mode(SaveMode.Overwrite).parquet(s"$dir/$name.parquet")
  }
}

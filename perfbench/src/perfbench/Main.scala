package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double = median(xs, xs.map(_ => 1.0))

  /** The value at half the total weight; the mean of the two values on
    * either side when half falls exactly between them (so equal weights
    * give the plain median).
    */
  def median(xs: Seq[Double], weights: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.zip(weights).sortBy(_._1)
    val half = weights.sum / 2
    val cum = s.scanLeft(0.0)(_ + _._2).tail
    val i = cum.indexWhere(_ >= half - 1e-9)
    if (math.abs(cum(i) - half) < 1e-9 && i + 1 < s.size) (s(i)._1 + s(i + 1)._1) / 2 else s(i)._1
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (value, percentile); None below eleven samples.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else Some((xs.sorted.apply(xs.size - 11), 100.0 * (xs.size - 10) / xs.size))
}

/** Benchmark harness entry point: one workload, one seed, one JVM.
  *
  *   --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <scratch dir> --cores <n>
  *
  * Prints progress lines, then `RESULT <json>` with the run's metrics.
  */
object Main {
  private def workload(name: String, spark: SparkSession, work: String, seed: Long): Workload = {
    val in = s"$work/inputs"
    name match {
      case "cron_ticks" => new CronTicks(spark, in, seed, work)
      case "store_churn" => new StoreChurn(spark, in, seed, work)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
  }

  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = opt("seed").toLong
    val work = new File(opt("work")).getAbsolutePath
    val cores = opt("cores").toInt
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val trace = opt("trace") == "1"
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (trace) builder.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    try {
      val w = workload(opt("workload"), spark, work, seed)
      val t0 = System.currentTimeMillis()
      println(s"inputs: ${w.generate()}")
      val t1 = System.currentTimeMillis()
      w.setUp()
      val t2 = System.currentTimeMillis()
      val setupS = (t2 - jvmStart) / 1e3
      println(f"setup: session ${(t0 - jvmStart) / 1e3}%.1f s, inputs ${(t1 - t0) / 1e3}%.1f s, " +
        f"warm-up ${(t2 - t1) / 1e3}%.1f s")
      val result =
        if (trace) Report.traced(w, spark)
        else Report.timed(w.timed(opt("seconds").toDouble), setupS, w.bytesPerInputByte())
      println("RESULT " + result)
    } finally spark.stop()
  }
}

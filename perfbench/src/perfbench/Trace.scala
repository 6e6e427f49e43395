package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, LeafExecNode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener

/** Hadoop FileSystem statistics, summed over schemes (process-wide, so in
  * local mode they include executor-side writes).
  */
final case class FsStats(readOps: Long, writeOps: Long, bytesWritten: Long) {
  def -(o: FsStats): FsStats =
    FsStats(readOps - o.readOps, writeOps - o.writeOps, bytesWritten - o.bytesWritten)
}

object FsStats {
  @annotation.nowarn("cat=deprecation")
  def now(): FsStats = {
    var r, w, bw = 0L
    FileSystem.getAllStatistics.forEach { s =>
      r += s.getReadOps + s.getLargeReadOps
      w += s.getWriteOps
      bw += s.getBytesWritten
    }
    FsStats(r, w, bw)
  }
}

/** Everything attributed to one span. Counters are exclusive: a job, stage,
  * task or plan belongs to the innermost span active when it started.
  */
final class SpanStats(val id: Int, val name: String, val parent: Int,
                      val startMs: Long, val startNs: Long) {
  var endMs = 0L
  var endNs = 0L
  var fs = FsStats(0, 0, 0)
  var jobs, stages, tasks, exchanges, scans, filesRead, fileBytes = 0L
  var cpuNs, gcMs, schedDelayMs, inputRecords, scanTaskMs = 0L
  var shuffleWriteBytes, spillBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var childNs = 0L
  def wallS: Double = (endNs - startNs) / 1e9
  def selfS: Double = (endNs - startNs - childNs) / 1e9
  /** Wall time of the span during which none of `jobs` (start, end
    * intervals; pass the span's and its descendants') was running.
    */
  def driverGapS(jobs: Seq[(Long, Long)]): Double = {
    val clipped = jobs.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered, curA, curB = 0L
    var open = false
    clipped.foreach { case (a, b) =>
      if (open && a <= curB) curB = math.max(curB, b)
      else { if (open) covered += curB - curA; curA = a; curB = b; open = true }
    }
    if (open) covered += curB - curA
    math.max(0L, endMs - startMs - covered) / 1e3
  }
  /** The structural counts two traced runs of one seed must repeat. */
  def structure: (String, Long, Long, Long, Long) = (name, jobs, stages, exchanges, scans)
}

/** Spans around the benchmark's calls into the program. The span id rides
  * a Spark local property, so the listeners below can attribute jobs,
  * stages, tasks and executed plans to it; FileSystem statistics are read at
  * span entry and exit. Spans are kept in memory and reported at the end.
  * The benchmark calls the program from one thread, so one "current span"
  * suffices.
  */
final class Tracer(spark: SparkSession) {
  import Tracer.Key

  private val spans = mutable.ArrayBuffer.empty[SpanStats]
  private var current = -1
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val execSpan = mutable.Map.empty[Long, Int]
  private val queryExec = mutable.Map.empty[Long, Long] // query execution id -> SQL execution id
  // (query id, exchanges, scans, files read, bytes of files read)
  private val plans = mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)]

  private def spanOf(props: java.util.Properties): Option[SpanStats] =
    Option(props).flatMap(p => Option(p.getProperty(Key))).map(s => spans(s.toInt))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      spanOf(e.properties).foreach { s =>
        s.jobs += 1
        jobSpan(e.jobId) = s.id
        s.jobIntervals += ((e.time, Long.MaxValue))
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .foreach(x => execSpan.getOrElseUpdate(x.toLong, s.id))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.get(e.jobId).foreach { id =>
        val iv = spans(id).jobIntervals
        val i = iv.lastIndexWhere(_._2 == Long.MaxValue)
        if (i >= 0) iv(i) = (iv(i)._1, e.time)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        org.apache.spark.sql.BenchSql.queryId(end)
          .foreach(q => Tracer.this.synchronized { queryExec(q) = end.executionId })
      case _ =>
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      spanOf(e.properties).foreach { s =>
        s.stages += 1
        stageSpan(e.stageInfo.stageId) = s.id
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val s = spans(id)
        val info = e.taskInfo
        s.tasks += 1
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
        s.inputRecords += m.inputMetrics.recordsRead
        if (m.inputMetrics.recordsRead > 0) s.scanTaskMs += m.executorRunTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val planListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val nodes: Seq[SparkPlan] = collectWithSubqueries(qe.executedPlan) { case p => p }
      val exchanges = nodes.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      }
      val scans = nodes.count {
        case _: QueryStageExec | _: ReusedExchangeExec => false
        case _: LeafExecNode => true
        case _ => false
      }
      val fileScans = nodes.collect { case f: FileSourceScanExec => f.metrics }
      def metric(name: String) = fileScans.map(_.get(name).map(_.value).getOrElse(0L)).sum
      Tracer.this.synchronized {
        plans += ((qe.id, exchanges.toLong, scans.toLong, metric("numFiles"), metric("filesSize")))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(planListener)

  def span[T](name: String)(body: => T): T = {
    val s = synchronized {
      val s = new SpanStats(spans.size, name, current, System.currentTimeMillis(), System.nanoTime())
      s.fs = FsStats.now()
      spans += s
      s
    }
    val parent = current
    current = s.id
    spark.sparkContext.setLocalProperty(Key, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      s.fs = FsStats.now() - s.fs
      current = parent
      spark.sparkContext.setLocalProperty(Key, if (parent < 0) null else parent.toString)
      if (parent >= 0) spans(parent).childNs += s.endNs - s.startNs
    }
  }

  /** Detach the listeners and return every span, with the executed plans
    * folded in. Waits until the listener bus has delivered every event.
    */
  def finish(): Seq[SpanStats] = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
    synchronized {
      plans.foreach { case (query, ex, sc, files, bytes) =>
        queryExec.get(query).flatMap(execSpan.get).foreach { id =>
          val s = spans(id)
          s.exchanges += ex; s.scans += sc; s.filesRead += files; s.fileBytes += bytes
        }
      }
      // a span's own FS deltas include its children's; keep them exclusive
      spans.filter(_.parent >= 0).foreach(c => spans(c.parent).fs = spans(c.parent).fs - c.fs)
      spans.toSeq
    }
  }
}

object Tracer {
  val Key = "perfbench.span"
}

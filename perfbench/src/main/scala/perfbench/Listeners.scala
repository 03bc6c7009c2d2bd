package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** One micro-batch as its progress event reports it. */
final case class Batch(
    queryId: String,
    batchId: Long,
    startMs: Double,
    endMs: Double,
    startOffset: Long,
    endOffset: Long,
    inputRows: Long,
    durations: Map[String, Long],
    stateRowsTotal: Long,
    stateRowsUpdated: Long,
    stateMemoryBytes: Long,
    stateUpdateMs: Long,
    stateCommitMs: Long)

/** Streaming progress of every query, kept per query id. Offsets of the gun
  * source count messages, so a batch's offset range names the puts it holds
  * without any extra job.
  */
final class ProgressLog extends StreamingQueryListener {
  private val batches = new ConcurrentLinkedQueue[Batch]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    def off(s: String): Long = scala.util.Try(s.trim.toLong).getOrElse(-1L)
    val src = p.sources.headOption
    val st = p.stateOperators.headOption
    batches.add(Batch(p.id.toString, p.batchId, start, start + d.getOrElse("triggerExecution", 0L),
      src.map(s => off(s.startOffset)).getOrElse(-1L), src.map(s => off(s.endOffset)).getOrElse(-1L),
      p.numInputRows,
      d,
      st.map(_.numRowsTotal).getOrElse(0L), st.map(_.numRowsUpdated).getOrElse(0L),
      st.map(_.memoryUsedBytes).getOrElse(0L), st.map(_.allUpdatesTimeMs).getOrElse(0L),
      st.map(_.commitTimeMs).getOrElse(0L)))
  }

  def of(queryId: java.util.UUID): Seq[Batch] =
    batches.asScala.filter(_.queryId == queryId.toString).toSeq.sortBy(_.batchId)

  /** Highest end offset the query has committed (0 before the first batch). */
  def committed(queryId: java.util.UUID): Long =
    batches.asScala.filter(_.queryId == queryId.toString).map(_.endOffset).foldLeft(0L)(_ max _)
}

/** Spark scheduler and SQL listener tallies, attributed to time windows. Only
  * registered in traced runs.
  */
final class SparkTally extends SparkListener with QueryExecutionListener {
  import SparkTally.{Plan, Task}

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Double]()
  private val jobs = new ConcurrentLinkedQueue[(Double, Double)]()
  private val stages = new ConcurrentLinkedQueue[java.lang.Double]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val plans = new ConcurrentLinkedQueue[Plan]()
  @volatile private var costNs = 0L

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    costNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    jobStarts.put(e.jobId, e.time.toDouble)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    val s = Option(jobStarts.remove(e.jobId)).map(_.doubleValue).getOrElse(e.time.toDouble)
    jobs.add((s, e.time.toDouble))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    stages.add(java.lang.Double.valueOf(
      e.stageInfo.completionTime.map(_.toDouble).getOrElse(Clock.nowMs)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.taskInfo.finishTime.toDouble, m.executorCpuTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime, m.peakExecutionMemory))
  }

  private def planOf(qe: QueryExecution): Unit = timed {
    val phases = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
    val compaction = qe.logical.toString.contains(".compact-staging")
    plans.add(Plan(Clock.nowMs, ms.toDouble, compaction))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planOf(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planOf(qe)

  def overheadMs: Double = costNs / 1e6

  /** Jobs still running (listener events are asynchronous). */
  def openJobs: Int = jobStarts.size

  /** Scheduler and planner totals for events inside [a, b] (epoch ms). */
  def window(a: Double, b: Double): Map[String, Double] = {
    val js = jobs.asScala.filter { case (s, _) => s >= a && s <= b }.toSeq
    val ts = tasks.asScala.filter(t => t.endMs >= a && t.endMs <= b).toSeq
    val ps = plans.asScala.filter(p => p.endMs >= a && p.endMs <= b).toSeq
    // union of job intervals clipped to the window; the rest is driver time
    val busy = js.map { case (s, e) => (s max a, e min b) }.filter { case (s, e) => e > s }
      .sortBy(_._1).foldLeft((0.0, Double.NegativeInfinity)) { case ((acc, hi), (s, e)) =>
        if (s >= hi) (acc + (e - s), e) else if (e > hi) (acc + (e - hi), e) else (acc, hi)
      }._1
    Map(
      "jobs" -> js.length.toDouble,
      "stages" -> stages.asScala.count(t => t >= a && t <= b).toDouble,
      "tasks" -> ts.length.toDouble,
      "executor_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "driver_gap_s" -> ((b - a) - busy).max(0.0) / 1000.0,
      "plan_ms" -> ps.map(_.planMs).sum,
      "shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "gc_s" -> ts.map(_.gcMs).sum / 1000.0,
      "peak_exec_mem_bytes" -> ts.map(_.peakMem).foldLeft(0L)(_ max _).toDouble)
  }

  /** Store compaction writes (their output is a `.compact-staging` dir). */
  def compactions(a: Double, b: Double): Int =
    plans.asScala.count(p => p.endMs >= a && p.endMs <= b && p.compaction)
}

object SparkTally {
  final case class Task(endMs: Double, cpuNs: Long, shuffleWrite: Long, shuffleRead: Long,
      spill: Long, gcMs: Long, peakMem: Long)
  final case class Plan(endMs: Double, planMs: Double, compaction: Boolean)

  /** Register a tally on the session and return it. */
  def attach(spark: org.apache.spark.sql.SparkSession): SparkTally = {
    val t = new SparkTally
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }

  /** Wait until the asynchronous listener bus has delivered every job end. */
  def settle(t: SparkTally): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    Thread.sleep(200)
    while (t.openJobs > 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  /** Totals over several windows (peak memory: the largest). */
  def total(ws: Seq[Map[String, Double]]): Map[String, Double] =
    ws.reduceOption((x, y) => x.map { case (k, v) =>
      k -> (if (k == "peak_exec_mem_bytes") v max y(k) else v + y(k)) }).getOrElse(Map.empty)

  /** The spark.* per-layer values of one window. */
  def sparkLayer(rec: Record, w: Map[String, Double]): Unit =
    Seq("jobs", "stages", "tasks", "executor_cpu_s", "driver_gap_s", "plan_ms",
      "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "gc_s", "peak_exec_mem_bytes")
      .foreach(k => rec.set(s"spark.$k", w.getOrElse(k, 0.0)))
}

package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters read from Spark's own event channels: the scheduler's
  * listener bus (jobs, stages, tasks, shuffle, scans, writes, GC) and the
  * session's query-execution listener (Catalyst phase times from each
  * executed plan's `QueryPlanningTracker`). Nothing inside the library is
  * changed; the probe only listens.
  *
  * Intervals are epoch milliseconds, as the events carry them, so the
  * caller can intersect them with an operation's own wall interval.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  private val counters = mutable.LinkedHashMap[String, AtomicLong]()
  private def c(name: String): AtomicLong =
    counters.synchronized(counters.getOrElseUpdate(name, new AtomicLong))

  Seq("scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "scheduler.task_run_ms", "scheduler.gc_ms", "shuffle.read_b",
    "shuffle.write_b", "shuffle.spill_b", "store.write_b", "store.job_ms",
    "sources.scan_b", "sources.scan_records", "catalyst.executions",
    "catalyst.plan_ms").foreach(c)

  private val jobStarts = mutable.Map[Int, (Long, Boolean)]()
  private val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  private val planIntervals = mutable.ArrayBuffer[(Long, Long)]()

  /** Jobs launched from the store code, judged by the long call site
    * (the user-code stack) Spark records on each stage.
    */
  private def isStoreJob(e: SparkListenerJobStart): Boolean =
    e.stageInfos.exists { s =>
      s.details.contains("graft.operators.StoreFiles") ||
        s.details.contains("graft.operators.StoreFamily")
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    c("scheduler.jobs").incrementAndGet()
    jobStarts.synchronized(jobStarts(e.jobId) = (e.time, isStoreJob(e)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStarts.synchronized(jobStarts.remove(e.jobId)).foreach { case (start, store) =>
      jobIntervals.synchronized(jobIntervals += ((start, e.time)))
      if (store) c("store.job_ms").addAndGet(e.time - start)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c("scheduler.stages").incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      c("scheduler.tasks").incrementAndGet()
      c("scheduler.task_run_ms").addAndGet(m.executorRunTime)
      c("scheduler.gc_ms").addAndGet(m.jvmGCTime)
      c("shuffle.read_b").addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c("shuffle.write_b").addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c("shuffle.spill_b").addAndGet(m.diskBytesSpilled)
      c("store.write_b").addAndGet(m.outputMetrics.bytesWritten)
      c("sources.scan_b").addAndGet(m.inputMetrics.bytesRead)
      c("sources.scan_records").addAndGet(m.inputMetrics.recordsRead)
    }
  }

  private def recordPlan(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values.toSeq
    c("catalyst.executions").incrementAndGet()
    c("catalyst.plan_ms").addAndGet(phases.map(p => p.endTimeMs - p.startTimeMs).sum)
    planIntervals.synchronized(phases.foreach(p =>
      planIntervals += ((p.startTimeMs, p.endTimeMs))))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    recordPlan(qe)

  def snapshot(): Map[String, Long] =
    counters.synchronized(counters.map { case (k, v) => k -> v.get }.toMap)

  /** Removes and returns the job and planning intervals seen so far. */
  def takeIntervals(): (Seq[(Long, Long)], Seq[(Long, Long)]) = {
    val jobs = jobIntervals.synchronized {
      val out = jobIntervals.toSeq; jobIntervals.clear(); out
    }
    val plans = planIntervals.synchronized {
      val out = planIntervals.toSeq; planIntervals.clear(); out
    }
    (jobs, plans)
  }
}

object Intervals {
  /** Merges possibly overlapping intervals, clipped to `[lo, hi]`. */
  def union(xs: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    clipped.foldLeft(List.empty[(Long, Long)]) {
      case ((a0, b0) :: rest, (a, b)) if a <= b0 => (a0, math.max(b0, b)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse
  }

  def length(xs: Seq[(Long, Long)]): Long = xs.map { case (a, b) => b - a }.sum
}

/** Samples the driver thread's stack at a fixed period. A sample inside
  * `SparkContext.runJob` is job time and is not charged to the driver.
  * Any other sample is charged by its innermost library frame (the first
  * `org.apache.spark` or `graft` frame from the top, past JDK and Scala
  * frames) when that frame belongs to one of the named modules.
  */
final class StackSampler(target: Thread, periodMs: Long) extends Thread("perfbench-sampler") {
  setDaemon(true)
  @volatile private var running = true
  private val counts = mutable.LinkedHashMap[String, Long]()
  @volatile private var samples = 0L
  @volatile private var spanNs = 0L

  private val modules: Seq[(String, String)] = Seq(
    "graft.operators.StoreFiles" -> "StoreFiles",
    "graft.operators.StoreFamily" -> "StoreFiles",
    "graft.operators.Bpe" -> "Bpe",
    "graft.operators.Graph" -> "Graph",
    "graft.operators.Dedup" -> "Dedup",
    "graft.operators.Similarity" -> "Similarity",
    "graft.arxiv." -> "arxiv",
    "org.apache.spark.sql.catalyst." -> "Catalyst")

  def moduleOf(stack: Array[StackTraceElement]): Option[String] =
    if (stack.exists(f => f.getClassName == "org.apache.spark.SparkContext" &&
        f.getMethodName == "runJob")) None
    else stack.iterator.map(_.getClassName)
      .find(c => c.startsWith("org.apache.spark.") || c.startsWith("graft."))
      .flatMap(c => modules.collectFirst { case (prefix, m) if c.startsWith(prefix) => m })

  override def run(): Unit = {
    val t0 = System.nanoTime()
    while (running) {
      val stack = target.getStackTrace
      samples += 1
      moduleOf(stack).foreach(m => counts.synchronized(counts(m) = counts.getOrElse(m, 0L) + 1))
      try Thread.sleep(periodMs) catch { case _: InterruptedException => () }
    }
    spanNs = System.nanoTime() - t0
  }

  /** Stops sampling and returns milliseconds charged to each module. */
  def finish(): Map[String, Double] = {
    running = false
    interrupt()
    join()
    val msPerSample = if (samples == 0) 0.0 else spanNs / 1e6 / samples
    counts.synchronized(counts.map { case (m, n) => m -> n * msPerSample }.toMap)
  }
}

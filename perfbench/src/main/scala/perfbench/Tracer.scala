package perfbench

import scala.collection.mutable

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What one span recorded. `jobMs` is the length of the union of the
  * span's job intervals, clipped to the span; `gapMs` is measured apart
  * from it, as the sum of the stretches of the span that no job covers
  * (see [[Tracer.gapMs]]), so `wallMs == jobMs + gapMs` is a check on
  * both. `classMs` splits job-covered time by call-site class (see
  * [[Tracer]]). */
final case class Span(
    name: String, startMs: Double, wallMs: Double, jobMs: Double,
    gapMs: Double, planMs: Double, jobs: Int, tasks: Long, runMs: Double,
    gcMs: Double, shuffleWriteMb: Double, spillMb: Double,
    outputMb: Double, classMs: Map[String, Double]) {
  /** Task run time over the job-covered time of all cores. */
  def busyShare(cores: Int): Double =
    if (jobMs <= 0) 0.0 else runMs / (jobMs * cores)
}

/** Listener-based tracer: a SparkListener for jobs, stages and tasks and
  * a QueryExecutionListener for the planning phases. It is attached only
  * for the duration of a span; the bus is drained at both span edges,
  * so every event delivered between the two cuts belongs to the span.
  *
  * Jobs are classified by the long call site of their final stage: the
  * first rule whose marker occurs in the call-site text wins. */
final class Tracer(spark: SparkSession, classes: Seq[(String, Seq[String])],
                   fallbackClass: String)
    extends SparkListener with QueryExecutionListener {

  private final class Job(val start: Long, val site: String) {
    var end: Long = -1L
    var tasks = 0L
    var runMs = 0.0
    var gcMs = 0.0
    var shuffleWrite = 0L
    var spill = 0L
    var output = 0L
  }

  private val lock = new Object
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private var planMs = 0.0

  /** Every span recorded so far, in order; written out when the run ends. */
  val spans = mutable.ArrayBuffer.empty[Span]

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val site =
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    jobs(e.jobId) = new Job(e.time, site)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    for (j <- stageJob.get(e.stageId); job <- jobs.get(j)) {
      job.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        job.runMs += m.executorRunTime
        job.gcMs += m.jvmGCTime
        job.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        job.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        job.output += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = addPlan(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = addPlan(qe)

  private def addPlan(qe: QueryExecution): Unit = {
    val ms = qe.tracker.phases.values.map(_.durationMs).sum
    lock.synchronized { planMs += ms }
  }

  private def cut(): Unit = lock.synchronized {
    jobs.clear(); stageJob.clear(); planMs = 0.0
  }

  private def classify(site: String): String =
    classes.collectFirst {
      case (c, markers) if markers.exists(site.contains) => c
    }.getOrElse(fallbackClass)

  /** Runs `body` as one span named `name`; returns its result. */
  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    BusDrain(sc)
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
    cut()
    val startMs = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    try body
    finally {
      val wallMs = (System.nanoTime() - t0) / 1e6
      BusDrain(sc)
      sc.removeSparkListener(this)
      spark.listenerManager.unregister(this)
      spans += summarize(name, startMs, wallMs)
    }
  }

  private def summarize(name: String, startMs: Double, wallMs: Double): Span =
    lock.synchronized {
      val endMs = startMs + wallMs
      def clipped(js: Iterable[Job]): Seq[(Double, Double)] =
        js.toSeq.map { j =>
          val e = if (j.end < 0) endMs else j.end.toDouble
          (math.max(startMs, j.start.toDouble), math.min(endMs, e))
        }.filter { case (a, b) => b > a }
      val all = jobs.values
      val jobMs = Tracer.unionMs(clipped(all))
      val gapMs = Tracer.gapMs(clipped(all), startMs, endMs)
      val byClass = all.groupBy(j => classify(j.site))
        .map { case (c, js) => c -> Tracer.unionMs(clipped(js)) }
      val mb = 1024.0 * 1024.0
      Span(name, startMs, wallMs, jobMs, gapMs, planMs, all.size,
        all.map(_.tasks).sum, all.map(_.runMs).sum, all.map(_.gcMs).sum,
        all.map(_.shuffleWrite).sum / mb, all.map(_.spill).sum / mb,
        all.map(_.output).sum / mb, byClass)
    }
}

object Tracer {
  /** Length of the union of closed intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Time in [start, end] that no interval covers: a sweep that adds
    * each stretch between the end of the intervals seen so far and the
    * start of the next one, and the tail after the last. */
  def gapMs(iv: Seq[(Double, Double)], start: Double, end: Double): Double = {
    var gap = 0.0
    var covered = start
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > covered) gap += a - covered
      covered = math.max(covered, b)
    }
    gap + math.max(0.0, end - covered)
  }
}

package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One traced interval: a call the benchmark made into a layer, or a Spark
  * job or streaming micro-batch attributed to one. Times are epoch ms.
  */
final case class Span(id: Long, parent: Long, name: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Spans recorded around the benchmark's own calls, kept in memory until the
  * run ends. Each open span is also the SparkContext job group, so the jobs a
  * call launches (from any thread that inherits the driver's local
  * properties) are attributed to it by [[JobListener]].
  */
final class Spans(sc: SparkContext) {
  val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Long, String)]
  private var nextId = 1L

  def newId(): Long = synchronized { nextId += 1; nextId - 1 }

  def apply[T](name: String)(body: => T): T = {
    val id = newId()
    val parent = stack.headOption.map(_._1).getOrElse(0L)
    stack = (id, name) :: stack
    sc.setJobGroup(id.toString, name)
    val t0 = System.currentTimeMillis().toDouble
    try body
    finally {
      val t1 = System.currentTimeMillis().toDouble
      stack = stack.tail
      stack.headOption match {
        case Some((pid, pname)) => sc.setJobGroup(pid.toString, pname)
        case None => sc.clearJobGroup()
      }
      synchronized { done += Span(id, parent, name, t0, t1) }
    }
  }
}

/** Per-job totals gathered from task-end events. */
final class JobRec(val id: Int, val group: String, val batch: String, val startMs: Long) {
  var endMs = 0L
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var schedDelayMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** The benchmark's SparkListener: counts jobs, stages and tasks, sums task
  * metrics per job, and keeps every task's run interval so idle-executor
  * (driver-only) time can be measured. Jobs carry the job group of the span
  * that launched them and, for streaming, the micro-batch id.
  */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Every stage submitted and task ended, whether or not a job claims it. */
  var stagesSeen = 0
  var tasksSeen = 0
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    jobs(e.jobId) = new JobRec(e.jobId, prop("spark.jobGroup.id"),
      prop("streaming.sql.batchId"), e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stagesSeen += 1
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    tasksSeen += 1
    taskIntervals += ((info.launchTime, info.finishTime))
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (!info.successful) j.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
        j.runMs += m.executorRunTime
        j.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        j.inputBytes += m.inputMetrics.bytesRead
        j.inputRecords += m.inputMetrics.recordsRead
        j.shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def snapshot(): (Seq[JobRec], Seq[(Long, Long)]) = synchronized {
    (jobs.values.toList, taskIntervals.toList)
  }

  /** Jobs, stages and tasks the listener saw that none of `attributed`
    * (the jobs a span or micro-batch claims) accounts for.
    */
  def unattributed(attributed: Seq[JobRec]): Map[String, Double] = synchronized {
    Map(
      "trace.unattributed_jobs" -> (jobs.size - attributed.length).toDouble,
      "trace.unattributed_stages" -> (stagesSeen - attributed.map(_.stages).sum).toDouble,
      "trace.unattributed_tasks" -> (tasksSeen - attributed.map(_.tasks).sum).toDouble)
  }
}

object Trace {
  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var end = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  /** Self time of each span: its duration minus what its child spans and
    * attributed jobs cover. Summed by span name.
    */
  def selfMsByName(spans: Seq[Span], jobs: Seq[JobRec]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    val jobsBy = jobs.groupBy(_.group)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)) ++
          jobsBy.getOrElse(s.id.toString, Nil).map(j => (j.startMs.toDouble, j.endMs.toDouble))
        s.durMs - covered(kids, s.startMs, s.endMs)
      }.sum
    }
  }

  /** Spark-side layer totals over the traced `windows` (epoch ms), divided
    * by `per` (the number of traced passes).
    */
  def sparkLayers(jobs: Seq[JobRec], intervals: Seq[(Long, Long)], windows: Seq[(Double, Double)],
                  cpus: Int, gcS: Double, per: Double): Map[String, Double] = {
    def sum(f: JobRec => Long): Double = jobs.map(f).sum.toDouble
    val wallS = windows.map { case (a, b) => b - a }.sum / 1e3
    val ivs = intervals.map { case (a, b) => (a.toDouble, b.toDouble) }
    val busyS = windows.map { case (a, b) => covered(ivs, a, b) }.sum / 1e3
    Map(
      "spark.jobs" -> jobs.length / per,
      "spark.stages" -> sum(_.stages) / per,
      "spark.tasks" -> sum(_.tasks) / per,
      "spark.sched_delay_s" -> sum(_.schedDelayMs) / 1e3 / per,
      "spark.driver_only_s" -> (wallS - busyS) / per,
      "spark.task_cpu_core_s" -> sum(_.cpuNs) / 1e9 / per,
      "spark.task_run_core_s" -> sum(_.runMs) / 1e3 / per,
      "spark.cpu_util" -> sum(_.cpuNs) / 1e9 / (cpus * wallS),
      "sources.scan_mb" -> sum(_.inputBytes) / 1048576.0 / per,
      "sources.scan_rows" -> sum(_.inputRecords) / per,
      "spark.shuffle_read_mb" -> sum(_.shuffleReadBytes) / 1048576.0 / per,
      "spark.shuffle_write_mb" -> sum(_.shuffleWriteBytes) / 1048576.0 / per,
      "spark.spill_mb" -> sum(_.spillBytes) / 1048576.0 / per,
      "spark.gc_s" -> gcS / per,
      "spark.failed_tasks" -> sum(_.failedTasks) / per)
  }

  /** Session pins: count, build seconds, and the storage every persisted
    * RDD still holds, from `getRDDStorageInfo`.
    */
  def cacheLayers(spark: org.apache.spark.sql.SparkSession): Map[String, Double] = {
    val pins = graft.Caches.pinnedBuildSecs(spark)
    Map(
      "caches.pinned_storage_mb" -> spark.sparkContext.getRDDStorageInfo
        .map(r => r.memSize + r.diskSize).sum / 1048576.0,
      "caches.pins" -> pins.size.toDouble,
      "caches.pinned_build_s" -> pins.values.sum)
  }
}

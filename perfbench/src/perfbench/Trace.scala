package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Wall clock in epoch milliseconds with nanosecond resolution, on the
  * same time base as the listener's event times (driver
  * `System.currentTimeMillis`), so spans and jobs can be intersected.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Executor work summed over a set of tasks. Times are seconds. */
final case class Work(
    jobs: Int = 0, tasks: Int = 0, reduceTasks: Int = 0,
    runS: Double = 0, cpuS: Double = 0, deserS: Double = 0, gcS: Double = 0,
    inBytes: Long = 0, inRecords: Long = 0,
    shuffleWriteBytes: Long = 0, fetchWaitS: Double = 0, spillBytes: Long = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, tasks + o.tasks, reduceTasks + o.reduceTasks,
    runS + o.runS, cpuS + o.cpuS, deserS + o.deserS, gcS + o.gcS,
    inBytes + o.inBytes, inRecords + o.inRecords,
    shuffleWriteBytes + o.shuffleWriteBytes, fetchWaitS + o.fetchWaitS,
    spillBytes + o.spillBytes)
  def toMap: Map[String, Double] = Map(
    "jobs" -> jobs.toDouble, "tasks" -> tasks.toDouble, "reduce_tasks" -> reduceTasks.toDouble,
    "executor_run_s" -> runS, "executor_cpu_s" -> cpuS, "deserialize_s" -> deserS,
    "gc_s" -> gcS, "input_bytes" -> inBytes.toDouble, "input_records" -> inRecords.toDouble,
    "shuffle_write_bytes" -> shuffleWriteBytes.toDouble, "fetch_wait_s" -> fetchWaitS,
    "spill_bytes" -> spillBytes.toDouble)
}

/** Records every job, stage and task the session runs, keyed by the
  * job group the benchmark sets around each call, plus the live size of
  * persisted RDD blocks (memory + disk) and its peak.
  */
final class CountingListener extends SparkListener {
  final case class JobRec(id: Int, group: String, startMs: Double, stages: Seq[Int],
                          var endMs: Double = Double.NaN)

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val reduceStages = mutable.Set.empty[Int]
  // a stage belongs to the first job that lists it: later jobs list it
  // again as a skipped stage whose tasks already ran
  private val stageOwner = mutable.Map.empty[Int, Int]
  private val taskWork = mutable.Map.empty[Int, Work] // by stage id
  private val blocks = mutable.Map.empty[String, Long]
  private var storedBytes = 0L
  private var peakStored = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageInfos.foreach { s =>
      if (s.parentIds.nonEmpty) reduceStages += s.stageId
      stageOwner.getOrElseUpdate(s.stageId, e.jobId)
    }
    jobs(e.jobId) = JobRec(e.jobId, group, e.time.toDouble,
      e.stageInfos.map(_.stageId).filter(stageOwner(_) == e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val w = if (m == null) Work(tasks = 1) else Work(
      tasks = 1,
      runS = m.executorRunTime / 1e3, cpuS = m.executorCpuTime / 1e9,
      deserS = m.executorDeserializeTime / 1e3, gcS = m.jvmGCTime / 1e3,
      inBytes = m.inputMetrics.bytesRead, inRecords = m.inputMetrics.recordsRead,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      fetchWaitS = m.shuffleReadMetrics.fetchWaitTime / 1e3,
      spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled)
    taskWork(e.stageId) = taskWork.getOrElse(e.stageId, Work()) + w
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      storedBytes += size - blocks.getOrElse(key, 0L)
      if (size == 0L) blocks.remove(key) else blocks(key) = size
      peakStored = math.max(peakStored, storedBytes)
    }
  }

  def storagePeakBytes: Long = synchronized(peakStored)

  def jobsOf(group: String): Seq[JobRec] = synchronized(jobs.values.filter(_.group == group).toSeq)

  /** Executor work of the stages `js` ran. */
  def work(js: Seq[JobRec]): Work = synchronized {
    val stages = js.flatMap(_.stages)
    stages.flatMap(taskWork.get).foldLeft(Work(jobs = js.size))(_ + _)
      .copy(reduceTasks = stages.filter(reduceStages).flatMap(taskWork.get).map(_.tasks).sum)
  }

  /** Blocks until the listener bus has delivered the end of every job of
    * `group` (task events precede their job's end event on the bus).
    */
  def await(sc: SparkContext, group: String): Unit = {
    val ids = sc.statusTracker.getJobIdsForGroup(group).toSet
    val deadline = System.nanoTime() + 30L * 1000000000L
    def pending = synchronized(ids.exists(id => jobs.get(id).forall(_.endMs.isNaN)))
    while (pending && System.nanoTime() < deadline) Thread.sleep(5)
    require(!pending, s"listener did not see the end of every job of $group")
  }
}

/** In-memory span tree of one benchmark process: every span shares the
  * run id; self time is a span's duration minus what its children cover.
  */
final class Tracer(val runId: String) {
  final class Span(val id: Int, val parent: Int, val name: String, val startMs: Double) {
    var endMs: Double = Double.NaN
    val counts: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
    def seconds: Double = (endMs - startMs) / 1e3
  }

  private val spans = mutable.ArrayBuffer.empty[Span]

  def open(name: String, parent: Option[Span]): Span = {
    val s = new Span(spans.size + 1, parent.map(_.id).getOrElse(0), name, Clock.nowMs())
    spans += s
    s
  }

  def close(s: Span): Span = { s.endMs = Clock.nowMs(); s }

  /** A closed span whose interval was measured elsewhere. */
  def record(name: String, parent: Span, startMs: Double, endMs: Double): Span = {
    val s = new Span(spans.size + 1, parent.id, name, startMs)
    s.endMs = endMs
    spans += s
    s
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  def selfSeconds(s: Span): Double = {
    val covered = children(s).map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0.0, Double.NegativeInfinity)) { case ((sum, reach), (a, b)) =>
        if (b <= reach) (sum, reach) else (sum + b - math.max(a, reach), b)
      }._1
    (s.endMs - s.startMs - covered) / 1e3
  }

  def toJson(meta: Map[String, String]): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("run_id", runId)
    meta.foreach { case (k, v) => root.put(k, v) }
    val arr = root.putArray("spans")
    spans.foreach { s =>
      val n = arr.addObject()
      n.put("id", s.id); n.put("parent", s.parent); n.put("run_id", runId)
      n.put("name", s.name); n.put("start_ms", s.startMs); n.put("end_ms", s.endMs)
      n.put("self_s", selfSeconds(s))
      val c = n.putObject("counts")
      s.counts.foreach { case (k, v) => c.put(k, v) }
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }
}

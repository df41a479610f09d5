package graft.metrics

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.storage.RDDInfo

/** The Spark jobs a block of driver code runs, seen by a listener. */
object JobLog {

  /** One job: the RDDs of every stage it submitted. */
  final case class Job(id: Int, rdds: Seq[RDDInfo])

  /** Runs `f` under a fresh job group and returns its result with every
    * job it started. Listener events arrive asynchronously but in order,
    * so once a marker job run afterwards has been seen to end, every
    * job of `f` has been recorded.
    */
  def of[A](sc: SparkContext)(f: => A): (A, Seq[Job]) = {
    val group = s"joblog-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val jobs = new ConcurrentHashMap[Int, Seq[RDDInfo]]()
    val markerJobs = ConcurrentHashMap.newKeySet[Int]()
    val done = new CountDownLatch(1)
    def groupOf(p: java.util.Properties) =
      Option(p).map(_.getProperty("spark.jobGroup.id")).orNull
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = groupOf(e.properties) match {
        case `group` => jobs.put(e.jobId, e.stageInfos.flatMap(_.rddInfos))
        case `marker` => markerJobs.add(e.jobId)
        case _ =>
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) done.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "JobLog")
      val result = try f finally sc.clearJobGroup()
      sc.setJobGroup(marker, "JobLog marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      require(done.await(60, TimeUnit.SECONDS), "the listener never saw the marker job end")
      (result, jobs.asScala.toSeq.sortBy(_._1).map { case (id, rdds) => Job(id, rdds) })
    } finally sc.removeSparkListener(listener)
  }
}

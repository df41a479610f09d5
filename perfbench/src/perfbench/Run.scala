package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.io.SnapshotTable
import graft.metrics.Metrics
import graft.pipeline.{CheckpointedRun, QualityFilter}
import graft.rules.RuleConfig

/** One benchmark invocation after setup: corpus, reference, timed jobs
  * and, when traced, the span tree and the isolated layer calls.
  */
final class Run(spark: SparkSession, w: Workload, work: String, seed: Long,
                seconds: Double, traced: Boolean, traceFile: String) {
  import PerfBench._

  private val sc = spark.sparkContext
  private val B = w.buckets
  private val crashBucket = B / 2
  private val corpus = s"$work/corpus"
  private val bench = s"$work/bench"
  private val runId = s"${w.name}-seed$seed-${ProcessHandle.current.pid}"
  private val tracer = new Tracer(runId)
  private val root = tracer.open("perfbench", None)
  private val errors = ArrayBuffer.empty[String]
  private var attempted = 0
  private var failed = 0
  // giant census limit of the isolated census call on workloads that run
  // without the split (the optins-resume limit)
  private val censusLimit = if (w.skewMaxTurns > 0) w.skewMaxTurns else 100
  // the runner's default bound on collected giant ids
  private val maxCollectedGiants = 65536

  tracer.record("setup", root,
    ManagementFactory.getRuntimeMXBean.getStartTime.toDouble, Clock.nowMs())

  private def span[A](name: String)(f: => A): A = {
    val s = tracer.open(name, Some(root))
    try f finally tracer.close(s)
  }

  /** One timed job: fresh roots; `calls` are the `CheckpointedRun.run`
    * intervals and `marks` their `afterDataCommit` times (epoch ms).
    */
  final case class Job(idx: Int, group: String, wallS: Double, resumeS: Double,
                       guardS: Double, heapMb: Double, outBytes: Long, dataBytes: Long,
                       calls: Seq[(Double, Double)], marks: Seq[Seq[(Int, Double)]],
                       out: String) {
    def turnsPerS: Double = turns / wallS
    /** Time between consecutive bucket data commits within one call. */
    def intervals: Seq[Double] = marks.flatMap(ms =>
      ms.map(_._2).sliding(2).collect { case Seq(a, b) => (b - a) / 1e3 })
  }

  private lazy val (turns: Long, corpusFingerprint: String) = {
    val fp = fingerprint(readTurns(spark, corpus).toDF())
    (fp.takeWhile(_ != ':').toLong, fp)
  }

  private var reference: Summary = _
  private var oracle: Option[Seq[graft.schema.LabeledTurn]] = None

  private def prepare(): Unit = {
    span("corpus") {
      writeCorpus(spark, w, seed, corpus, bench)
      turns
    }
    span("reference") {
      val input = readTurns(spark, corpus)
      val (labeled, release) = directComposition(w, input)
      try reference = summarize(labeled) finally release()
      if (w.oracleSample) oracle = Some(oracleLabels(spark, input))
    }
  }

  private def completed(out: String, met: String): (Set[Int], Set[Int], Set[Int]) =
    (SnapshotTable(out, B).completedBuckets,
      SnapshotTable(s"$met/bucket_stats", B).completedBuckets,
      SnapshotTable(s"$met/rule_lineage", B).completedBuckets)

  /** Runs one job and checks its output; None when it failed. */
  private def job(idx: Int): Option[Job] = {
    val out = s"$work/job$idx/out"
    val met = s"$work/job$idx/metrics"
    val group = s"$runId:job$idx"
    val args = mainArgs(w, corpus, out, met)
    val problems = ArrayBuffer.empty[String]
    attempted += 1
    try {
      quiesce()
      PostGcHeap.reset()
      val calls = ArrayBuffer.empty[(Double, Double)]
      val marks = ArrayBuffer.empty[ArrayBuffer[(Int, Double)]]
      def call(after: Int => Unit): CheckpointedRun.RunResult = {
        val ms = ArrayBuffer.empty[(Int, Double)]
        marks += ms
        val t0 = Clock.nowMs()
        try runLikeMain(spark, args, b => { ms += b -> Clock.nowMs(); after(b) })
        finally calls += t0 -> Clock.nowMs()
      }
      sc.setJobGroup(group, s"${w.name} job $idx")
      val (guardS, resumeS) = try {
        if (w.interrupt) {
          try {
            call(b => if (b == crashBucket) throw new Interrupted(b))
            problems += "the induced interruption did not fire"
          } catch { case _: Interrupted => }
          // what the interrupted process held in memory dies with it
          spark.catalog.clearCache()
          // the torn state the crash drill expects: the bucket's data is
          // committed, its metrics are not
          val ((data, stats, lineage), guardS) = PerfBench.seconds(completed(out, met))
          if (data != (0 to crashBucket).toSet || stats != (0 until crashBucket).toSet ||
              lineage != (0 until crashBucket).toSet)
            problems += s"torn state after the interruption: data $data, stats $stats, lineage $lineage"
          val r = call(_ => ())
          if (r.bucketsComputed != (crashBucket until B) || r.bucketsSkipped != (0 until crashBucket))
            problems += s"resume computed ${r.bucketsComputed}, skipped ${r.bucketsSkipped}"
          (guardS, (calls.last._2 - calls.last._1) / 1e3)
        } else {
          call(_ => ())
          val guardS = PerfBench.seconds(completed(out, met))._2
          // resuming a complete table: the no-op fast path, median of 5
          val resumes = (1 to 5).map(_ => PerfBench.seconds(runLikeMain(spark, args, _ => ())))
          resumes.map(_._1).filter(_.bucketsComputed.nonEmpty).foreach(r =>
            problems += s"resume of a complete table recomputed ${r.bucketsComputed}")
          (guardS, median(resumes.map(_._2)))
        }
      } finally sc.clearJobGroup()
      val heapMb = PostGcHeap.peakMb
      val wallS = calls.map { case (a, b) => b - a }.sum / 1e3

      val all = (0 until B).toSet
      val (data, stats, lineage) = completed(out, met)
      if (data != all || stats != all || lineage != all)
        problems += s"incomplete tables: data $data, stats $stats, lineage $lineage"
      val output = CheckpointedRun.readOutput(spark, out, B)
      val got = summarize(output)
      if (got != reference) problems += s"output $got differs from the reference $reference"
      oracle.foreach { o =>
        val s = sampleLabels(spark, output)
        if (s != o) problems += s"oracle sample: ${s.size} turns vs ${o.size}, " +
          s"${s.zip(o).count { case (a, b) => a != b }} differ"
      }
      Some(Job(idx, group, wallS, resumeS, guardS, heapMb,
        dirBytes(out) + dirBytes(met), dirBytes(s"$out/data"), calls.toSeq,
        marks.map(_.toSeq).toSeq, out)).filter(_ => problems.isEmpty)
    } catch {
      case NonFatal(e) =>
        problems += e.toString
        spark.catalog.clearCache()
        None
    } finally if (problems.nonEmpty) {
      failed += 1
      errors ++= problems.map(p => s"job $idx: $p")
    }
  }

  private def clean(idx: Int): Unit = deleteTree(s"$work/job$idx")

  /** Spans of one job: the job, each `CheckpointedRun.run` call, and one
    * span per bucket between consecutive `afterDataCommit` marks.
    */
  private def jobSpans(j: Job, name: String): Seq[tracer.Span] = {
    val js = tracer.record(name, root, j.calls.head._1, j.calls.last._2)
    js +: j.calls.zip(j.marks).flatMap { case ((a, b), ms) =>
      val cs = tracer.record("CheckpointedRun.run", js, a, b)
      val starts = a +: ms.map(_._2)
      cs +: ms.zip(starts).map { case ((bucket, end), start) =>
        tracer.record(s"bucket.$bucket", cs, start, end)
      }
    }
  }

  private def metricsJson(metrics: Seq[(String, Double)], info: Seq[(String, String)]): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val o = mapper.createObjectNode()
    o.put("attempted", attempted)
    o.put("failed", failed)
    val e = o.putArray("errors")
    errors.foreach(e.add)
    val m = o.putObject("metrics")
    metrics.foreach { case (k, v) => m.put(k, v) }
    val i = o.putObject("info")
    info.foreach { case (k, v) => i.put(k, v) }
    mapper.writeValueAsString(o)
  }

  def execute(): String = {
    prepare()
    if (!traced) untracedRun() else tracedRun()
  }

  /** Closed loop, one client: jobs back to back until `seconds` of job
    * wall time are measured; every metric is the median over jobs.
    */
  private def untracedRun(): String = {
    val jobs = ArrayBuffer.empty[Job]
    var measured = 0.0
    var idx = 0
    while (idx == 0 || measured < seconds) {
      val t0 = System.nanoTime()
      val j = job(idx)
      clean(idx)
      j.foreach(jobs += _)
      measured += j.map(_.wallS).getOrElse((System.nanoTime() - t0) / 1e9)
      idx += 1
    }
    val intervals = jobs.flatMap(_.intervals).toSeq
    val metrics = if (jobs.isEmpty) Nil else Seq(
      "turns_per_s" -> median(jobs.map(_.turnsPerS).toSeq),
      "bucket_s.p50" -> median(intervals),
      "out_bytes_per_turn" -> median(jobs.map(_.outBytes.toDouble / turns).toSeq))
    metricsJson(metrics, Seq("turns" -> turns.toString, "corpus_fingerprint" -> corpusFingerprint,
      "jobs" -> jobs.size.toString, "bucket_interval_samples" -> intervals.size.toString,
      "phases_s" -> tracer.children(root).map(s => f"${s.name}=${s.seconds}%.1f").mkString(" "),
      "job_walls_s" -> jobs.map(j => f"${j.wallS}%.2f").mkString(" ")))
  }

  /** The listener-traced job between two untraced ones (their mean is
    * the overhead base, which cancels the warming from job to job), then
    * the isolated layer calls on the same corpus.
    */
  private def tracedRun(): String = {
    val before = job(0)
    clean(0)
    val listener = new CountingListener
    sc.addSparkListener(listener)
    val traced = try job(1) finally {
      listener.await(sc, s"$runId:job1")
      sc.removeSparkListener(listener)
    }
    val after = job(2)
    clean(2)
    val metrics = try (before, traced, after) match {
      case (Some(b), Some(t), Some(a)) =>
        Seq(b, a).foreach(jobSpans(_, "job.untraced"))
        sc.addSparkListener(listener)
        try layerMetrics((b.turnsPerS + a.turnsPerS) / 2, t, listener)
        finally sc.removeSparkListener(listener)
      case _ => Nil
    } finally clean(1)
    val metricsWithErrors = metrics :+ ("error_rate" -> failed.toDouble / attempted)
    tracer.close(root)
    Files.write(Paths.get(traceFile), tracer.toJson(Map(
      "workload" -> w.name, "seed" -> seed.toString, "turns" -> turns.toString,
      "corpus_fingerprint" -> corpusFingerprint)).getBytes(UTF_8))
    metricsJson(metricsWithErrors, Seq("turns" -> turns.toString,
      "corpus_fingerprint" -> corpusFingerprint, "trace_file" -> traceFile))
  }

  private def layerMetrics(untracedTurnsPerS: Double, tj: Job,
                           listener: CountingListener): Seq[(String, Double)] = {
    val cores = PerfBench.Cores
    val spans = jobSpans(tj, "job.traced")
    val runJobs = listener.jobsOf(tj.group)
    spans.foreach { s =>
      s.counts ++= listener.work(runJobs.filter(j => j.startMs >= s.startMs && j.startMs < s.endMs)).toMap
    }
    val run = listener.work(runJobs)
    // wall time no Spark job of the run was active: driver-only work
    val jobActive = tj.calls.map { case (a, b) =>
      runJobs.map(j => (math.max(a, j.startMs), math.min(b, j.endMs)))
        .filter { case (x, y) => y > x }.sortBy(_._1)
        .foldLeft((0.0, Double.NegativeInfinity)) { case ((sum, reach), (x, y)) =>
          if (y <= reach) (sum, reach) else (sum + y - math.max(x, reach), y)
        }._1
    }.sum / 1e3
    val storagePeakMb = listener.storagePeakBytes / 1048576.0

    val layers = tracer.open("layers", Some(root))
    def layer[A](name: String)(f: => A): (A, Double, Work) = {
      val g = s"$runId:$name"
      sc.setJobGroup(g, name)
      val s = tracer.open(name, Some(layers))
      val r = try f finally {
        tracer.close(s)
        sc.clearJobGroup()
      }
      listener.await(sc, g)
      val wk = listener.work(listener.jobsOf(g))
      s.counts ++= wk.toMap
      (r, s.seconds, wk)
    }

    val input = readTurns(spark, corpus)
    val keys = Seq("conv_id", "turn_idx", "keep", "drop_reasons").map(col)
    val (_, scanS, _) = layer("scan")(noop(input.toDF()))
    val (_, scoreS, scoreW) = layer("score")(noop(QualityFilter.score(input).toDF()))
    val (scored, iqrS, _) = layer("census.iqr") {
      val s = QualityFilter.score(input).persist(StorageLevel.MEMORY_AND_DISK)
      QualityFilter.pplIqrBounds(s, RuleConfig.PplIqrK)
      s
    }
    val (_, persistedS, _) = layer("persisted_read")(noop(scored.toDF()))
    val (_, windowS, windowW) = layer("window")(
      noop(QualityFilter.labelScored(scored).select(keys: _*)))
    val (_, scrubS, _) = layer("scrub")(noop(QualityFilter.labelScored(scored)
      .select(keys ++ Seq(col("scrubbed_text"), col("scrub_counts")): _*)))
    scored.unpersist(blocking = true)
    val (_, skewS, _) = layer("skew.census")(
      input.groupBy(col("conv_id")).agg(count(lit(1)).as("n_turns"))
        .where(col("n_turns") > censusLimit)
        .select(col("conv_id"), Metrics.bucketCol(B).cast("int").as("b"))
        .limit(maxCollectedGiants + 1).collect())
    val (_, bpS, _) = layer("census.boilerplate")(
      QualityFilter.boilerplateDropKeysRaw(input, QualityFilter.BoilerplateConfig()).count())
    val (_, cndS, _) = layer("census.conv_neardup")(
      QualityFilter.convNearDupDropIds(input.toDF(), QualityFilter.ConvNearDupConfig()).count())
    val (_, dcS, _) = layer("census.decontam") {
      val cfg = QualityFilter.ContaminationConfig(benchPath = bench)
      graft.ops.Decontaminate.benchFingerprint(spark.read.parquet(bench), cfg.benchTextCol, cfg.n)
      QualityFilter.contaminatedTurnKeys(input.toDF(), spark.read.parquet(bench), cfg).count()
    }
    graft.ops.Decontaminate.releaseCache()

    // commit layers: the traced run's committed bucket, staged into a
    // fresh table
    val staged = s"${tj.out}/data/bucket=$CommitBucket"
    val probe = s"$work/commit-probe"
    val table = SnapshotTable(s"$probe/out", B)
    val (_, readS, _) = layer("commit.read")(noop(spark.read.parquet(staged)))
    val (_, writeS, _) = layer("commit.write")(
      table.commitBucket(spark.read.parquet(staged), CommitBucket))
    val (_, manifestS, _) = layer("commit.manifest")(table.commitBuckets(Set(CommitBucket)))
    val (_, readbackS, _) = layer("metrics.readback") {
      val committed = spark.read.parquet(s"$probe/out/data/bucket=$CommitBucket")
      SnapshotTable(s"$probe/metrics/bucket_stats", B)
        .commitBucket(Metrics.bucketStats(committed, B), CommitBucket)
      SnapshotTable(s"$probe/metrics/rule_lineage", B)
        .commitBucket(Metrics.ruleLineage(committed, B), CommitBucket)
    }
    deleteTree(probe)
    tracer.close(layers)

    val output = CheckpointedRun.readOutput(spark, tj.out, B)
    val fireRatio = output.agg(avg(when(exists(map_values(col("scrub_counts")), _ > 0), 1.0)
      .otherwise(0.0))).head().getDouble(0)
    val giantTurns = input.groupBy(col("conv_id")).count().where(col("count") > censusLimit)
      .agg(coalesce(sum(col("count")), lit(0L))).head().getLong(0)
    val outTable = SnapshotTable(tj.out, B)
    val files = outTable.filesAt(outTable.currentVersion).size

    val scoreSelf = scoreS - scanS
    val windowSelf = windowS - persistedS
    val scrubSelf = scrubS - windowS
    val writeSelf = writeS - readS
    // Σ isolated layer self times, each times how often the run executes
    // it, over the run's wall: how much of the run the layers explain
    val nMarks = tj.marks.map(_.size).sum
    val nCalls = tj.calls.size
    val rowWork = (if (w.pplIqr) 0.0 else scanS + scoreSelf) + windowSelf + scrubSelf
    val censusWork = (if (w.pplIqr) iqrS else 0.0) + (if (w.skewMaxTurns > 0) skewS else 0.0)
    val explained = rowWork * nMarks / B + (writeSelf + manifestS + readbackS) * nMarks +
      censusWork * nCalls
    val M = 1e6 / turns

    Seq(
      "runner.jobs_per_bucket" -> run.jobs.toDouble / B,
      "runner.tasks_per_bucket" -> run.tasks.toDouble / B,
      "runner.driver_only_s" -> (tj.wallS - jobActive),
      "runner.guard_s" -> tj.guardS,
      "resume_s" -> tj.resumeS,
      "scan.read_amplification" -> run.inRecords.toDouble / turns,
      "scan.bytes_per_turn" -> run.inBytes.toDouble / turns,
      "scan.s" -> scanS,
      "score.self_s" -> scoreSelf,
      "score.cpu_s_per_mturn" -> scoreW.cpuS * M,
      "exchange.shuffle_bytes_per_turn" -> windowW.shuffleWriteBytes.toDouble / turns,
      "exchange.fetch_wait_s" -> windowW.fetchWaitS,
      "exchange.reduce_tasks_per_bucket" -> run.reduceTasks.toDouble / B,
      "window.self_s" -> windowSelf,
      "window.spill_bytes" -> windowW.spillBytes.toDouble,
      "scrub.self_s" -> scrubSelf,
      "scrub.fire_ratio" -> fireRatio,
      "commit.write_s" -> writeSelf,
      "commit.manifest_s" -> manifestS,
      "commit.files_per_bucket" -> files.toDouble / B,
      "commit.bytes_per_turn" -> tj.dataBytes.toDouble / turns,
      "metrics.readback_s" -> readbackS,
      "skew.census_s" -> skewS,
      "skew.giant_turn_share" -> giantTurns.toDouble / turns,
      "census.iqr_s" -> iqrS,
      "census.boilerplate_s" -> bpS,
      "census.conv_neardup_s" -> cndS,
      "census.decontam_s" -> dcS,
      "census.persist_mb" -> storagePeakMb,
      "peak_heap_mb" -> tj.heapMb,
      "exec.cpu_util" -> run.cpuS / (tj.wallS * cores),
      "exec.gc_s" -> run.gcS,
      "exec.deser_share" -> run.deserS / run.runS,
      "trace.overhead" -> (1 - tj.turnsPerS / untracedTurnsPerS),
      "trace.coverage" -> explained / tj.wallS)
  }
}

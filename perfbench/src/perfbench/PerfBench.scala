package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.TranscriptGen
import graft.oracle.OracleFilter
import graft.pipeline.{CheckpointedRun, QualityFilter}
import graft.rules.RuleConfig
import graft.schema.{LabeledTurn, Turn}

/** One benchmark workload: the corpus `TranscriptGen` draws from the
  * seed, and the `pipeline.Main` flags the job runs with.
  *
  * @param turns        corpus size: the first conversations of the seed's
  *                     draw up to this many turns, so every seed gives the
  *                     same size to within one conversation
  * @param skewCap      `TranscriptGen` cap on conversation length
  * @param skewMaxTurns `--skew-max-turns` (0 = Main's default, no split)
  * @param pplIqr       `--ppl-iqr` (the opt-in that scores the corpus once
  *                     into a persisted frame every bucket labels from)
  * @param interrupt    throw from `afterDataCommit` at bucket B/2, then
  *                     resume with the same arguments
  * @param oracleSample compare a ~1% conversation sample per turn with
  *                     `OracleFilter` (its rules are the opt-ins-off set)
  */
final case class Workload(name: String, turns: Long, skewCap: Int, buckets: Int,
                          skewMaxTurns: Int, pplIqr: Boolean, interrupt: Boolean,
                          oracleSample: Boolean)

object Workload {
  val all: Seq[Workload] = Seq(
    Workload("bulk", turns = 30000, skewCap = 200, buckets = 2, skewMaxTurns = 0,
      pplIqr = false, interrupt = false, oracleSample = true),
    Workload("resume", turns = 9000, skewCap = 300, buckets = 2, skewMaxTurns = 100,
      pplIqr = true, interrupt = true, oracleSample = false))

  /** The same workload on a corpus small enough for the benchmark's own tests. */
  def smoke(w: Workload): Workload =
    w.copy(turns = 1500, skewCap = math.min(w.skewCap, 150),
      skewMaxTurns = math.min(w.skewMaxTurns, 20))

  def named(name: String, scale: String): Workload = {
    val w = all.find(_.name == name).getOrElse(
      sys.error(s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
    scale match {
      case "full" => w
      case "smoke" => smoke(w)
      case other => sys.error(s"unknown scale '$other'")
    }
  }
}

/** Largest heap occupancy right after a collection since the last
  * reset, summed over the heap pools: what the heap still held once the
  * collector had run. The pools' own usage peaks track the young
  * generation's adaptive size more than the program's memory, and move
  * by a third between identical runs.
  */
object PostGcHeap {
  import com.sun.management.GarbageCollectionNotificationInfo
  private val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heap(pool) => u.getUsed }.sum
          synchronized { peak = math.max(peak, used) }
        }, null, null)
    case _ =>
  }

  def reset(): Unit = synchronized { peak = 0L }
  def peakMb: Double = peak / 1048576.0
}

/** Labeled-output fingerprint compared against the reference. */
final case class Summary(rows: Long, kept: Long, reasons: Map[String, Long], checksum: String)

/** Signals the benchmark's own induced interruption. */
final class Interrupted(val bucket: Int)
  extends RuntimeException(s"induced interruption after the data commit of bucket $bucket")

/** Production-path benchmark: `pipeline.Main`'s read and argument mapping
  * into `CheckpointedRun.run`, timed from outside the program.
  *
  *   PerfBench run         <workload> <scale> <work dir> <setup corpus> <seed> <seconds> <trace 0|1> <trace file>
  *   PerfBench fingerprint <workload> <scale> <work dir> <setup corpus> <seed>
  *
  * `run` prints `PERFBENCH_READY` once the session is up and the first
  * pipeline call on a tiny corpus has returned, and ends with one
  * `PERFBENCH_RESULT <json>` line.
  */
object PerfBench {
  val Cores = 4
  val CommitBucket = 0

  // ------------------------------------------------------------ session

  def session(work: String): SparkSession = {
    // only the settings the benchmark fixes: master, UI off, UTC; the
    // local dir keeps Spark's scratch files inside the work dir
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-quality-filter")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark
  }

  // ------------------------------------------------- Main's production path

  /** The `pipeline.Main` command line of workload `w`. */
  def mainArgs(w: Workload, input: String, out: String, metrics: String): Seq[String] =
    Seq("--input", input, "--output", out, "--metrics", metrics,
      "--buckets", w.buckets.toString, "--skew-max-turns", w.skewMaxTurns.toString) ++
      (if (w.pplIqr) Seq("--ppl-iqr", RuleConfig.PplIqrK.toString) else Nil)

  /** `pipeline.Main.main` without its session handling: the same read and
    * the same flag-to-argument mapping, plus the `afterDataCommit` seam.
    */
  def runLikeMain(spark: SparkSession, args: Seq[String],
                  afterDataCommit: Int => Unit): CheckpointedRun.RunResult = {
    import spark.implicits._
    val opts = args.sliding(2, 2).collect {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val input = opts.getOrElse("input", sys.error("--input <parquet dir> required"))
    val output = opts.getOrElse("output", sys.error("--output <table root> required"))
    val buckets = opts.getOrElse("buckets", "256").toInt
    val skewMax = opts.getOrElse("skew-max-turns", "0").toInt
    val turns = spark.read.schema(Turn.schema).parquet(input).as[Turn]
    val convNearDup = opts.get("conv-neardup-threshold").map(t =>
      QualityFilter.ConvNearDupConfig(threshold = t.toDouble))
    val boilerplate = opts.get("boilerplate-min-convs").map(n =>
      QualityFilter.BoilerplateConfig(minConvs = n.toInt))
    val pplIqrK = opts.get("ppl-iqr").map(_.toDouble)
    val decontaminate = opts.get("decontaminate-bench").map(p =>
      QualityFilter.ContaminationConfig(benchPath = p,
        benchTextCol = opts.getOrElse("decontaminate-text-col", "text"),
        n = opts.getOrElse("decontaminate-ngram", "8").toInt,
        minMatches = opts.getOrElse("decontaminate-min-matches", "1").toInt))
    CheckpointedRun.run(turns, output, buckets,
      metricsRoot = opts.get("metrics"), skewMaxTurns = skewMax,
      afterDataCommit = afterDataCommit,
      convNearDup = convNearDup, boilerplate = boilerplate,
      pplIqrK = pplIqrK, decontaminate = decontaminate)
  }

  // ------------------------------------------------------------- corpora

  def readTurns(spark: SparkSession, path: String): Dataset[Turn] = {
    import spark.implicits._
    spark.read.schema(Turn.schema).parquet(path).as[Turn]
  }

  /** Writes the seed's corpus, and the eval set the isolated
    * decontamination call reads: every turn of the ~0.1% of conversations
    * whose id hashes to 0 mod 997, as `tools.Soak` draws it.
    */
  def writeCorpus(spark: SparkSession, w: Workload, seed: Long,
                  corpus: String, bench: String): Unit = {
    // conversations average under 6 turns: a third of the target in
    // conversations always draws enough turns
    val draw = TranscriptGen.generate(spark, w.turns / 3, seed, skewCap = w.skewCap,
      partitions = 8).toDF()
    val sizes = draw.groupBy(col("conv_id")).count().orderBy(col("conv_id"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val cut = sizes.iterator.scanLeft(("", 0L)) { case ((_, n), (id, c)) => (id, n + c) }
      .find(_._2 >= w.turns).getOrElse(sys.error(s"draw of ${w.turns} turns came up short"))._1
    draw.where(col("conv_id") <= cut).write.parquet(corpus)
    readTurns(spark, corpus).toDF()
      .where(pmod(xxhash64(col("conv_id")), lit(997L)) === 0L)
      .select(col("text")).write.parquet(bench)
  }

  /** Fingerprint of the corpus `writeCorpus` writes for `seed`. */
  def corpusFingerprint(spark: SparkSession, w: Workload, seed: Long,
                        corpus: String, bench: String): String = {
    writeCorpus(spark, w, seed, corpus, bench)
    fingerprint(readTurns(spark, corpus).toDF())
  }

  /** Order-independent content fingerprint: row count and the sum of a
    * per-row xxhash64 over every column.
    */
  def fingerprint(df: DataFrame): String = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.getDecimal(1).toBigInteger}"
  }

  // --------------------------------------------------------------- checks

  /** Every drop reason the program can emit. */
  val Reasons: Seq[String] = RuleConfig.RuleOrder ++
    Seq(RuleConfig.RuleBoilerplate, RuleConfig.RuleContaminated, RuleConfig.RuleConvNearDup)

  /** Rows, kept count, per-reason drop counts and the `tools.Soak`
    * checksum (xxhash64 sum over the decision-carrying columns), in one
    * pass; a reason outside [[Reasons]] still moves the checksum.
    */
  def summarize(df: DataFrame): Summary = {
    val dec = "decimal(38,0)"
    val r = df.agg(count(lit(1)), sum(when(col("keep"), 1L).otherwise(0L)) +:
      coalesce(sum(xxhash64(col("conv_id"), col("turn_idx"), col("keep"),
        concat_ws("|", col("drop_reasons")), col("scrubbed_text")).cast(dec)),
        lit(0).cast(dec)) +:
      Reasons.map(x => sum(when(array_contains(col("drop_reasons"), x), 1L).otherwise(0L))): _*)
      .head()
    def long(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    Summary(r.getLong(0), long(1), Reasons.indices.map(i => Reasons(i) -> long(i + 3)).toMap,
      r.getDecimal(2).toBigInteger.toString)
  }

  /** The unbucketed direct composition `CheckpointSpec` pins equal to the
    * bucketed run (skew split == unsplit, so it never splits), and what
    * to release once it is summarized.
    */
  def directComposition(w: Workload, input: Dataset[Turn]): (DataFrame, () => Unit) =
    if (!w.pplIqr) (QualityFilter.label(input), () => ())
    else {
      val scored = QualityFilter.score(input)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bounds = QualityFilter.pplIqrBounds(scored, RuleConfig.PplIqrK)
      (QualityFilter.labelScored(scored, Some(bounds)), () => { scored.unpersist(); () })
    }

  /** Deterministic ~1% of conversations, independent of the bucketing. */
  def oracleSample: Column = pmod(xxhash64(col("conv_id")), lit(101L)) === 7L

  private def normalize(t: LabeledTurn): LabeledTurn =
    t.copy(drop_reasons = t.drop_reasons.toList,
      scrub_counts = t.scrub_counts.toSeq.sortBy(_._1).toMap)

  def sampleLabels(spark: SparkSession, labeled: DataFrame): Seq[LabeledTurn] = {
    import spark.implicits._
    labeled.where(oracleSample).as[LabeledTurn].collect().toSeq
      .map(normalize).sortBy(t => (t.conv_id, t.turn_idx))
  }

  def oracleLabels(spark: SparkSession, input: Dataset[Turn]): Seq[LabeledTurn] =
    OracleFilter.run(input.where(oracleSample).collect().toSeq)
      .map(normalize).sortBy(t => (t.conv_id, t.turn_idx))

  // ------------------------------------------------------------ machinery

  /** `sync`, then wait until the kernel's dirty pages drain below 64 MiB
    * (as `graft.Bench` does), so writeback from one job never lands in
    * the next one's timing; then a full GC.
    */
  def quiesce(): Unit = {
    new ProcessBuilder("sync").inheritIO().start().waitFor()
    def dirtyKb(): Long =
      scala.util.Try(scala.io.Source.fromFile("/proc/meminfo").getLines()
        .collectFirst { case l if l.startsWith("Dirty:") => l.split("\\s+")(1).toLong }
        .getOrElse(0L)).getOrElse(0L)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (dirtyKb() > 65536 && System.nanoTime() < deadline) Thread.sleep(100)
    System.gc()
  }

  def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach((f: Path) => Files.deleteIfExists(f))
      finally s.close()
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def say(line: String): Unit = { println(line); System.out.flush() }

  /** Fresh session plus the first pipeline call, with Main's default
    * flags at one bucket, on the fixed tiny corpus under
    * `setupCorpus` (24 `TranscriptGen` conversations, seed 1): the cost a
    * spark-submit user pays on every job (codegen, JIT, dense model
    * tables). The same for every workload, so opt-in paths stay cold
    * until the first timed job, as they are in a submitted job.
    */
  def setup(work: String, setupCorpus: String): SparkSession = {
    val spark = session(work)
    val dir = s"$work/setup"
    runLikeMain(spark, Seq("--input", setupCorpus, "--output", s"$dir/out", "--buckets", "1"),
      _ => ())
    say("PERFBENCH_READY")
    deleteTree(dir)
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(mode, workload, scale, work, setupCorpus) = args.take(5)
    val w = Workload.named(workload, scale)
    mode match {
      case "fingerprint" =>
        val spark = session(work)
        val seed = args(5).toLong
        say("PERFBENCH_FINGERPRINT " +
          corpusFingerprint(spark, w, seed, s"$work/corpus", s"$work/bench"))
        spark.stop()
      case "run" =>
        val spark = setup(work, setupCorpus)
        val r = new Run(spark, w, work, seed = args(5).toLong, seconds = args(6).toDouble,
          traced = args(7) == "1", traceFile = args(8))
        val result = try r.execute() finally spark.stop()
        say("PERFBENCH_RESULT " + result)
      case other => sys.error(s"unknown mode '$other'")
    }
  }
}

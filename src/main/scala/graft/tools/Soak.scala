package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.gen.TranscriptGen
import graft.pipeline.CheckpointedRun

/** Scale soak: run the full checkpointed pipeline (bucketed commits,
  * metrics tables, skew split) over a corpus 1-2 orders of magnitude
  * beyond the bench, with a deliberately giant conversation, and print
  * one JSON line of evidence (label counts, `pipeline_secs`, and
  * `spark_jobs`: the Spark jobs the run started, seen by a listener).
  * Usage:
  *
  *   runMain graft.tools.Soak [nConvs] [skewCap] [skewMaxTurns] [buckets]
  *
  * Crash drill (`--crash-drill [nConvs]`): forks a child JVM that runs
  * the same checkpointed pipeline and HALTS (Runtime.halt — no
  * shutdown hooks, the closest sandbox analog of a killed executor
  * host) right between one bucket's data commit and its metrics
  * commits; the parent then restarts the run against the same roots
  * and asserts (a) the half-committed bucket re-ran, (b) fully
  * committed buckets were skipped, and (c) the final labeled output is
  * content-identical to an undisturbed reference run. Prints one JSON
  * line recording the induced crash + clean resume.
  */
object Soak {

  private def session(name: String): SparkSession = {
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SOAK_MASTER", "local[8]"))
      .appName(name)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Order-independent content checksum of a labeled output: sum of
    * per-row xxhash64 over the decision-carrying columns (decimal sum —
    * ANSI long sum would overflow).
    */
  private def checksum(df: org.apache.spark.sql.DataFrame): (Long, String) = {
    val row = df.agg(
      count(lit(1)),
      sum(xxhash64(col("conv_id"), col("turn_idx"), col("keep"),
        concat_ws("|", col("drop_reasons")), col("scrubbed_text"))
        .cast("decimal(38,0)"))).head()
    (row.getLong(0), row.getDecimal(1).toBigInteger.toString)
  }

  /** Child mode: run the checkpointed pipeline but HALT the JVM right
    * after `crashBucket`'s data commit, before its metrics commits.
    */
  private def drillChild(corpus: String, outRoot: String, metricsRoot: String,
                         nBuckets: Int, crashBucket: Int): Unit = {
    val spark = session("graft-soak-drill-child")
    import spark.implicits._
    val input = spark.read.schema(graft.schema.Turn.schema)
      .parquet(s"$corpus/turns").as[graft.schema.Turn]
    CheckpointedRun.run(input, outRoot, nBuckets,
      metricsRoot = Some(metricsRoot), skewMaxTurns = 2000,
      afterDataCommit = b => if (b == crashBucket) Runtime.getRuntime.halt(137))
    spark.stop()
  }

  private def forkDrillChild(args: Seq[String]): Int = {
    val javaBin = sys.props("java.home") + "/bin/java"
    // forward the PARENT's own --add-opens flags (handles both the
    // "--add-opens=x" and "--add-opens x" spellings) so the child can
    // never drift from build.sbt's list; fall back to a static copy
    // only if the parent somehow runs without any
    import scala.jdk.CollectionConverters._
    val parentArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toList
    val forwarded = parentArgs.zipWithIndex.flatMap {
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case (a, i) if a == "--add-opens" && i + 1 < parentArgs.length =>
        Seq(a, parentArgs(i + 1))
      case _ => Nil
    }
    val opens =
      if (forwarded.nonEmpty) forwarded
      else Seq(
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar"
      ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(javaBin) ++ opens ++ Seq("-Xmx8g", "-Dspark.ui.enabled=false",
      "-cp", sys.props("java.class.path"), "graft.tools.Soak") ++ args
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectOutput(ProcessBuilder.Redirect.INHERIT)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    pb.start().waitFor()
  }

  private def crashDrill(nConvs: Long): Unit = {
    val nBuckets = 8
    val crashBucket = 1 // second bucket in todo order: bucket 0 fully
                        // commits, 1 gets data-only, 2..7 never start
    val spark = session("graft-soak-drill")
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_drill").toString
    TranscriptGen.generate(spark, nConvs, seed = 42L, skewCap = 5000,
      partitions = 32).write.parquet(s"$root/turns")
    val input = spark.read.schema(graft.schema.Turn.schema)
      .parquet(s"$root/turns").as[graft.schema.Turn]

    // undisturbed reference run
    CheckpointedRun.run(input, s"$root/ref_out", nBuckets,
      metricsRoot = Some(s"$root/ref_metrics"), skewMaxTurns = 2000)
    val (refN, refSum) = checksum(
      CheckpointedRun.readOutput(spark, s"$root/ref_out", nBuckets))

    // induced crash in a forked JVM (hard halt, no shutdown hooks)
    val rc = forkDrillChild(Seq("--drill-child", root, s"$root/out",
      s"$root/metrics", nBuckets.toString, crashBucket.toString))
    require(rc == 137, s"drill child should have halted with 137, got $rc")

    // post-crash state: data table has the crash bucket committed,
    // its metrics tables do NOT — exactly the torn window
    val dataDone = graft.io.SnapshotTable(s"$root/out", nBuckets).completedBuckets
    val lineageDone =
      graft.io.SnapshotTable(s"$root/metrics/rule_lineage", nBuckets).completedBuckets
    require(dataDone.contains(crashBucket) && !lineageDone.contains(crashBucket),
      s"crash window wrong: data=$dataDone lineage=$lineageDone")

    // restart: fully committed buckets skip, the torn bucket re-runs
    val res = CheckpointedRun.run(input, s"$root/out", nBuckets,
      metricsRoot = Some(s"$root/metrics"), skewMaxTurns = 2000)
    require(res.bucketsComputed.contains(crashBucket),
      s"torn bucket $crashBucket did not re-run: $res")
    require(res.bucketsSkipped == dataDone.intersect(lineageDone).toSeq.sorted,
      s"skipped set wrong: $res")

    val (n, sum) = checksum(
      CheckpointedRun.readOutput(spark, s"$root/out", nBuckets))
    require(n == refN && sum == refSum,
      s"resumed output differs from reference: ($n,$sum) vs ($refN,$refSum)")
    val lineageAfter =
      graft.io.SnapshotTable(s"$root/metrics/rule_lineage", nBuckets).completedBuckets
    require(lineageAfter == (0 until nBuckets).toSet, s"metrics incomplete: $lineageAfter")

    println(
      s"""{"crash_drill":{"turns":$n,"buckets":$nBuckets,"crash_bucket":$crashBucket,"child_exit":$rc,"data_committed_at_crash":${dataDone.toSeq.sorted.mkString("[", ",", "]")},"lineage_committed_at_crash":${lineageDone.toSeq.sorted.mkString("[", ",", "]")},"resumed_buckets":${res.bucketsComputed.mkString("[", ",", "]")},"skipped_buckets":${res.bucketsSkipped.mkString("[", ",", "]")},"output_matches_reference":true,"checksum":"$sum"}}""")
    // drills otherwise leak a ~100k-turn corpus per invocation in /tmp
    graft.io.SnapshotTable.deleteTree(new java.io.File(root))
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--drill-child")) {
      drillChild(args(1), args(2), args(3), args(4).toInt, args(5).toInt); return
    }
    if (args.headOption.contains("--crash-drill")) {
      crashDrill(args.lift(1).map(_.toLong).getOrElse(20000L)); return
    }
    val nConvs = args.lift(0).map(_.toLong).getOrElse(2000000L)
    val skewCap = args.lift(1).map(_.toInt).getOrElse(200000)
    val skewMaxTurns = args.lift(2).map(_.toInt).getOrElse(50000)
    val nBuckets = args.lift(3).map(_.toInt).getOrElse(8)
    // "optins" turns on the two census opt-ins (conv near-dup +
    // boilerplate); "bp" / "cnd" / "iqr" / "dc" turn on exactly one,
    // separating each rule's soak cost; "all" runs all FOUR opt-ins
    // together (the maximal pipeline configuration — for "dc"/"all" a
    // deterministic eval set is synthesized from the corpus below).
    // The generator's finite phrase pools make the boilerplate census
    // flag heavily — a deliberate stress of the flagged-side join at
    // the far end of its envelope
    val optArg = args.lift(4)
    // fail fast on typos: a silently-ignored arg would emit a soak
    // record labeled with a rule that never ran
    require(optArg.forall(Set("optins", "bp", "cnd", "iqr", "dc", "all")),
      s"arg 5 must be optins|bp|cnd|iqr|dc|all, got ${optArg.get}")
    val withBp = optArg.exists(a => a == "optins" || a == "bp" || a == "all")
    val withCnd = optArg.exists(a => a == "optins" || a == "cnd" || a == "all")
    val withIqr = optArg.exists(a => a == "iqr" || a == "all")
    val withDc = optArg.exists(a => a == "dc" || a == "all")

    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SOAK_MASTER", "local[32]"))
      .appName("graft-soak")
      .config("spark.sql.shuffle.partitions", "128")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val corpus = java.nio.file.Files.createTempDirectory("graft_soak").toString
    val outRoot = corpus + "/out"
    val metricsRoot = corpus + "/metrics"

    val t0 = System.nanoTime()
    TranscriptGen.generate(spark, nConvs, seed = 42L, skewCap = skewCap,
      partitions = 256).write.parquet(s"$corpus/turns")
    val genSecs = (System.nanoTime() - t0) / 1e9

    val input = spark.read.schema(graft.schema.Turn.schema)
      .parquet(s"$corpus/turns").as[graft.schema.Turn]

    // synthesized eval set for the decontamination soak: every turn of
    // conversations whose id hashes to bucket 0 of 997 — deterministic,
    // ~0.1% of the corpus, realistic bench-to-corpus size ratio. The
    // gram-set build, the labeling.cfg fingerprint, and the broadcast
    // gate all exercise the real code path.
    val dcConfig = if (!withDc) None else {
      val benchDir = s"$corpus/bench"
      input.toDF().where(pmod(xxhash64(col("conv_id")), lit(997L)) === 0L)
        .select(col("text")).write.parquet(benchDir)
      Some(graft.pipeline.QualityFilter.ContaminationConfig(
        benchPath = benchDir, n = 8, minMatches = 1))
    }

    // spark_jobs: every job the run started, seen by a listener
    val ((res, runSecs), jobs) = graft.metrics.JobLog.of(spark.sparkContext) {
      val t1 = System.nanoTime()
      val r = CheckpointedRun.run(input, outRoot, nBuckets,
        metricsRoot = Some(metricsRoot), skewMaxTurns = skewMaxTurns,
        convNearDup =
          if (withCnd) Some(graft.pipeline.QualityFilter.ConvNearDupConfig()) else None,
        boilerplate =
          if (withBp) Some(graft.pipeline.QualityFilter.BoilerplateConfig()) else None,
        pplIqrK = if (withIqr) Some(graft.rules.RuleConfig.PplIqrK) else None,
        decontaminate = dcConfig)
      (r, (System.nanoTime() - t1) / 1e9)
    }

    val out = CheckpointedRun.readOutput(spark, outRoot, nBuckets)
    val row = out.agg(count(lit(1)), sum(when(col("keep"), 1L).otherwise(0L)),
      sum(when(array_contains(col("drop_reasons"),
        graft.rules.RuleConfig.RuleBoilerplate), 1L).otherwise(0L)),
      sum(when(array_contains(col("drop_reasons"),
        graft.rules.RuleConfig.RuleConvNearDup), 1L).otherwise(0L)),
      sum(when(array_contains(col("drop_reasons"),
        graft.rules.RuleConfig.RuleContaminated), 1L).otherwise(0L)),
      sum(when(array_contains(col("drop_reasons"),
        graft.rules.RuleConfig.RulePpl), 1L).otherwise(0L))
    ).head()
    val (n, kept) = (row.getLong(0), row.getLong(1))
    val (bp, cnd) = (row.getLong(2), row.getLong(3))
    val (ct, ppl) = (row.getLong(4), row.getLong(5))
    val maxConv = input.groupBy($"conv_id").count().agg(max("count")).head().getLong(0)
    val lineage = graft.io.SnapshotTable(s"$metricsRoot/rule_lineage", nBuckets).read(spark)
      .where(col("bucket") === 0)
    println(
      f"""{"soak":{"turns":$n,"kept":$kept,"max_conv_turns":$maxConv,"buckets":${res.bucketsComputed.size},"gen_secs":$genSecs%.1f,"pipeline_secs":$runSecs%.1f,"turns_per_sec":${n / runSecs}%.0f,"spark_jobs":${jobs.size},"lineage_rules":${lineage.count()},"optins":"${optArg.getOrElse("off")}","boilerplate_dropped":$bp,"conv_neardup_dropped":$cnd,"contaminated_dropped":$ct,"perplexity_dropped":$ppl}}""")
    spark.stop()
  }
}

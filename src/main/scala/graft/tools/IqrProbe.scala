package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.pipeline.CheckpointedRun
import graft.schema.Turn

/** Measures the end-to-end cost of a checkpointed labeling run with the
  * opt-in IQR perplexity bounds (the round-6 "double scoring pass" item)
  * plus the cost of an immediate fully-committed no-op resume. Usage:
  *
  *   runMain graft.tools.IqrProbe [nConvs] [cores] [nBuckets]
  *
  * Generates its corpus once and caches it as parquet. Prints wall-clock
  * for (a) the run, (b) the no-op resume.
  */
object IqrProbe {
  def main(args: Array[String]): Unit = {
    val nConvs = args.lift(0).map(_.toLong).getOrElse(350000L)
    val cores = args.lift(1).map(_.toInt).getOrElse(4)
    val nBuckets = args.lift(2).map(_.toInt).getOrElse(4)

    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-iqr-probe")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.sql.files.maxPartitionBytes", (2L << 20).toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")

    val path = s"/tmp/graft_probe_$nConvs.parquet"
    if (!new java.io.File(path).exists()) {
      graft.gen.TranscriptGen.generate(s, nConvs, seed = 42L, skewCap = 20000,
        partitions = 64).write.mode("overwrite").parquet(path)
    }
    def input = s.read.schema(Turn.schema).parquet(path).as[Turn](
      org.apache.spark.sql.Encoders.product[Turn])

    val out = java.nio.file.Files.createTempDirectory("graft_iqr_probe").toString
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val tRun = timed {
      CheckpointedRun.run(input, out, nBuckets, pplIqrK = Some(1.5))
    }
    val keep = CheckpointedRun.readOutput(s, out, nBuckets)
      .where(col("keep")).count()
    val tResume = timed {
      CheckpointedRun.run(input, out, nBuckets, pplIqrK = Some(1.5))
    }
    println(f"""IQRPROBE {"run_secs":$tRun%.3f,"noop_resume_secs":$tResume%.3f,"keep":$keep,"buckets":$nBuckets,"cores":$cores}""")
    s.stop()
  }
}

package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.mapreduce.TaskAttemptContext
import org.apache.spark.TaskContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol

import graft.gen.TranscriptGen
import graft.io.SnapshotTable
import graft.metrics.Metrics
import graft.pipeline.CheckpointedRun

/** Fails the first attempt of partition 0 of every write under the
  * directory named by the `graft.failFirstAttemptUnder` system property,
  * after the task has written all its rows.
  */
class FailFirstAttemptCommit(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def commitTask(ctx: TaskAttemptContext): TaskCommitMessage = {
    val tc = TaskContext.get()
    val dir = new org.apache.hadoop.fs.Path(path).toUri.getPath
    if (dir.startsWith(sys.props("graft.failFirstAttemptUnder")) &&
        tc.partitionId == 0 && tc.attemptNumber == 0) {
      FailFirstAttemptCommit.failed.incrementAndGet()
      throw new IllegalStateException(s"injected failure: first attempt of a task writing $path")
    }
    super.commitTask(ctx)
  }
}

object FailFirstAttemptCommit {
  /** Attempts failed so far (the local executors share this JVM). */
  val failed = new AtomicInteger
}

/** A metrics run on `local[4,3]` (up to 3 attempts per task) in which
  * the first attempt of one task of every bucket's data write fails
  * after writing its rows. Prints one line,
  * `failed=<failed attempts> stats=<ok> lineage=<ok>`, where `ok` says
  * the committed metrics table equals the groupBy table over the
  * committed output. Runs in its own JVM: a local master's retry count
  * is fixed when its SparkContext starts.
  */
object RetriedMetricsRun {
  def main(args: Array[String]): Unit = {
    val Array(root, mroot) = args
    sys.props("graft.failFirstAttemptUnder") = s"$root/data"
    val spark = SparkSession.builder()
      .master("local[4,3]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.sources.commitProtocolClass", classOf[FailFirstAttemptCommit].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val nBuckets = 2
    CheckpointedRun.run(spark.createDataset(TranscriptGen.generateLocal(40, seed = 11, skewCap = 100)),
      root, nBuckets, metricsRoot = Some(mroot))
    val out = CheckpointedRun.readOutput(spark, root, nBuckets)
    def rows(df: DataFrame) = df.collect().map(_.toSeq.toList).sortBy(_.toString).toList
    def same(table: String, want: DataFrame) =
      rows(SnapshotTable(s"$mroot/$table", nBuckets).read(spark).select(want.columns.map(col): _*)) ==
        rows(want)
    val stats = same("bucket_stats", Metrics.bucketStats(out, nBuckets))
    val lineage = same("rule_lineage", Metrics.ruleLineage(out, nBuckets))
    println(s"failed=${FailFirstAttemptCommit.failed.get} stats=$stats lineage=$lineage")
    spark.stop()
  }
}

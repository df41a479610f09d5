package graft.metrics

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, CollectMetrics}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.io.SnapshotTable
import graft.rules.RuleConfig
import graft.schema.LabeledTurn

/** Per-partition lineage + counters (north rule): kept/dropped/scrubbed
  * per rule per conversation-bucket, written to a metrics table next to
  * the output snapshot. The bucket key is pmod(xxhash64(conv_id), B):
  * stable across runs, independent of physical partitioning.
  *
  * A bucket's counters are defined ONCE ([[counters]]); `bucket_stats`
  * and `rule_lineage` are both projections of that one list, whether it
  * is aggregated per bucket by a `groupBy` or counted by an
  * `Observation` while the bucket's rows are written. The runner
  * builds a bucket's two tables from its observed row on the driver
  * ([[CounterRows]]) and commits them as row buckets of the metrics
  * tables' manifests (`SnapshotTable.commitRows`): no Spark job and no
  * data file, so with metrics a bucket runs only its data write's jobs.
  *
  * Observed counters are exact under task retries. Observations are
  * accumulators, and Spark applies a task's accumulator updates only
  * when the task succeeds (a failed attempt reports only
  * `countFailedValues` accumulators, which these are not); for a RESULT
  * task it applies them once per partition, even when a speculative or
  * retried attempt also succeeds. A shuffle-map stage offers no such
  * guarantee: a map stage re-run after a fetch failure applies its
  * updates again (SURVEY.md §7.5 #4). So the observe node must sit at
  * the top of the frame an action writes, which puts it in that
  * action's result stage.
  */
object Metrics {

  /** Conversation bucket: the lineage (and checkpoint) unit. */
  def bucketCol(nBuckets: Int) = pmod(xxhash64(col("conv_id")), lit(nBuckets))

  /** The one definition of a bucket's counters: the `bucket_stats`
    * columns, then one drop count per lineage rule, named by the rule.
    * A rule counts every occurrence in `drop_reasons` (the multiplicity
    * an `explode` would give) and is never null (zero rows count 0);
    * `array_remove` keeps the count in generated code, where a lambda
    * `filter` would be interpreted.
    */
  private def counters: Seq[Column] = {
    val reasons = col("drop_reasons")
    Seq(
      count(lit(1)).as("n_turns"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
      sum(when(!col("keep"), 1L).otherwise(0L)).as("n_dropped")) ++
      RuleConfig.ScrubChain.map { case (rule, _, _) =>
        sum(coalesce(element_at(col("scrub_counts"), rule), lit(0)))
          .cast("long").as(s"n_scrub_$rule")
      } ++
      RuleConfig.LineageOrder.map(rule =>
        coalesce(sum(size(reasons) - size(array_remove(reasons, rule))).cast("long"), lit(0L))
          .as(rule))
  }

  private def countedBy(labeled: DataFrame, nBuckets: Int): DataFrame =
    labeled.groupBy(bucketCol(nBuckets).as("bucket")).agg(counters.head, counters.tail: _*)

  private def statsOf(counted: DataFrame): DataFrame =
    counted.drop(RuleConfig.LineageOrder: _*)

  /** One row per (bucket, rule) with a drop count above 0. */
  private def lineageOf(counted: DataFrame): DataFrame =
    counted.unpivot(Array(col("bucket")), RuleConfig.LineageOrder.map(col).toArray,
        "rule", "n_dropped")
      .where(col("n_dropped") > 0)

  /** Per-bucket per-rule drop counts: one row per (bucket, rule). */
  def ruleLineage(labeled: DataFrame, nBuckets: Int): DataFrame =
    lineageOf(countedBy(labeled, nBuckets))

  /** Per-bucket roll-up: turns / kept / dropped / scrub spans per rule. */
  def bucketStats(labeled: DataFrame, nBuckets: Int): DataFrame =
    statsOf(countedBy(labeled, nBuckets))

  /** `labeled` with the bucket counters attached as observation `obs`.
    * Write the returned frame itself: the observe node is its top
    * operator, so it runs in the write's result stage.
    */
  def observeCounters(labeled: DataFrame, obs: Observation): DataFrame =
    labeled.observe(obs, counters.head, counters.tail: _*)

  /** How long an action's observation may take to arrive after the
    * action returned (the listener bus delivers it); past this the
    * counters are missing and the call fails instead of waiting forever.
    */
  private val ObservationWait = 120.seconds

  /** Builds buckets' `(bucket_stats, rule_lineage)` rows on the driver
    * from the counters observed while each bucket was written (a frame
    * of [[observeCounters]]): the same rows, names and types
    * [[bucketStats]] and [[ruleLineage]] give over the written rows —
    * `bucket` plus the stats counters, and one `(bucket, rule,
    * n_dropped)` row per lineage rule that dropped a turn. Both schemas
    * come from the groupBy over zero labeled rows, analyzed once here
    * (no job); the counters' types do not depend on the input's
    * nullability, so they hold for every bucket. An empty bucket gives
    * zero rows in both tables.
    *
    * An optimizer can prune an observe node over an empty subtree out
    * of the executed plan (see [[truncationMetrics]]); Spark then
    * completes the observation with no fields. That reads as zero
    * turns, which the written row count must confirm: any disagreement
    * between the counters and the rows written fails.
    */
  final class CounterRows(spark: SparkSession) {
    private val none = countedBy(
      spark.createDataFrame(java.util.List.of[Row](), Encoders.product[LabeledTurn].schema), 1)
    val statsSchema: StructType = statsOf(none).schema
    val lineageSchema: StructType = lineageOf(none).schema

    /** Bucket `bucket`'s rows from `obs`, observed during the action that
      * wrote its `writtenRows` rows.
      */
    def of(obs: Observation, bucket: Int,
           writtenRows: Long): (SnapshotTable.Rows, SnapshotTable.Rows) = {
      val row = Await.result(obs.future, ObservationWait)
      val nTurns = if (row.length == 0) 0L else row.getLong(0) // n_turns
      require(nTurns == writtenRows,
        s"bucket $bucket: the observation counted $nTurns turns but $writtenRows were written")
      if (nTurns == 0) (SnapshotTable.Rows(statsSchema, Nil), SnapshotTable.Rows(lineageSchema, Nil))
      else {
        val (stats, drops) = row.toSeq.splitAt(statsSchema.length - 1)
        val lineage = RuleConfig.LineageOrder.zip(drops).collect {
          case (rule, n: Long) if n > 0 => Row(bucket.toLong, rule, n)
        }
        (SnapshotTable.Rows(statsSchema, Seq(Row.fromSeq(bucket.toLong +: stats))),
          SnapshotTable.Rows(lineageSchema, lineage))
      }
    }
  }

  /** Surface the LSH bucket-cap observations (capped_buckets /
    * dropped_ids emitted by Dedup.lshBucketPairs and Ann.lshTopK via
    * `observe`) as DATA: one row per source pipeline, so a production
    * run can SEE recall-affecting truncation in its metrics table
    * instead of burying it in executor logs. Runs ONE full action on
    * `df` and reads the metrics off that same QueryExecution — the
    * observation rides the job, no second pass over the data.
    *
    * `sources` are observation prefixes ("dd2", "dd3", "cd2", "ann2",
    * "ann3") — each must correspond to a `<src>_buckets` observe node
    * in df's plan (fails fast otherwise).
    *
    * An optimizer may prune an observe node out of the executed plan:
    * AQE's empty-relation propagation replaces a subtree that produced
    * no rows (e.g. an LSH stage with no candidate pairs) by an
    * EmptyRelation, CollectMetricsExec included, and a join with an
    * empty side drops its other side the same way. The observation is
    * defined as its aggregates over its child, so a node that is in
    * df's analyzed plan but missing from the executed one is evaluated
    * as exactly that aggregate — a second pass over the observed
    * subtree on this rare path, and a real value, never a default.
    */
  def truncationMetrics(df: DataFrame, sources: Seq[String]): DataFrame =
    truncationRows(df, sources).toDF(df.sparkSession)

  /** [[truncationMetrics]]'s rows on the driver, as a metrics table's
    * row bucket.
    */
  def truncationRows(df: DataFrame, sources: Seq[String]): SnapshotTable.Rows = {
    val spark = df.sparkSession
    // the one action, on df's OWN QueryExecution: Dataset.foreach/rdd
    // would build a separate execution (deserializer path) whose
    // accumulators this queryExecution never sees
    df.queryExecution.toRdd.foreach(_ => ())
    val om = df.queryExecution.observedMetrics
    val seams = df.queryExecution.analyzed.collect { case c: CollectMetrics => c.name -> c }.toMap
    val rows = sources.map { src =>
      val name = s"${src}_buckets"
      val seam = seams.getOrElse(name,
        throw new IllegalArgumentException(
          s"no '$name' observation in plan (have: ${seams.keys.mkString(",")})"))
      val row = om.getOrElse(name,
        ColumnShim.ofRows(spark, Aggregate(Nil, seam.metrics, seam.child)).head())
      def metric(field: String): Long = {
        val names = row.schema.fieldNames
        val i = names.indexWhere(n => n == field || n == s"${src}_$field")
        // an unknown field name must fail fast: silently reading 0 for a
        // renamed accumulator column would report "zero truncation" —
        // the exact silent failure this metric exists to expose. The 0L
        // default is reserved for the legitimate null case (a sum over
        // zero observed rows).
        if (i < 0)
          throw new IllegalArgumentException(
            s"observation '${src}_buckets' has no field '$field' " +
              s"(have: ${names.mkString(",")})")
        if (row.isNullAt(i)) 0L else row.getLong(i)
      }
      Row(src, metric("capped_buckets"), metric("dropped_ids"))
    }
    SnapshotTable.Rows(TruncationSchema, rows)
  }

  private val TruncationSchema = StructType(Seq(
    StructField("source", StringType),
    StructField("capped_buckets", LongType, nullable = false),
    StructField("dropped_ids", LongType, nullable = false)))

  /** Corpus quality score — the reference's A14 formula
    * (utils.py:491-509) recast: 100 * kept / total.
    */
  def qualityScore(stats: DataFrame): Double = {
    val row = stats.agg(sum(col("n_kept")).cast("double"),
      sum(col("n_turns")).cast("double")).head()
    if (row.getDouble(1) == 0) 100.0 else 100.0 * row.getDouble(0) / row.getDouble(1)
  }
}

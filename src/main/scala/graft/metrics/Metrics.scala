package graft.metrics

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, CollectMetrics}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim

import graft.rules.RuleConfig

/** Per-partition lineage + counters (north rule): kept/dropped/scrubbed
  * per rule per conversation-bucket, written to a metrics table next to
  * the output snapshot, plus job-level counters via the Observation API.
  *
  * Counters derive from aggregations (deterministic under task retries)
  * — NOT from accumulators, which double-count on retry
  * (SURVEY.md §7.5 #4). The bucket key is pmod(xxhash64(conv_id), B):
  * stable across runs, independent of physical partitioning.
  */
object Metrics {

  /** Conversation bucket: the lineage (and checkpoint) unit. */
  def bucketCol(nBuckets: Int) = pmod(xxhash64(col("conv_id")), lit(nBuckets))

  /** Attach job-level counters to a labeled DataFrame; read
    * `obs.get` after the first action on the returned frame.
    */
  def observed(labeled: DataFrame, obs: Observation): DataFrame =
    labeled.observe(obs,
      count(lit(1)).as("n_turns"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
      sum(when(!col("keep"), 1L).otherwise(0L)).as("n_dropped"),
      sum(aggregate(map_values(col("scrub_counts")), lit(0),
        (acc, v) => acc + v)).as("n_scrubbed_spans"))

  /** Per-bucket per-rule drop counts: one row per (bucket, rule).
    * Shuffles only (bucket, reason) pairs after map-side partial agg.
    */
  def ruleLineage(labeled: DataFrame, nBuckets: Int): DataFrame =
    labeled
      .select(bucketCol(nBuckets).as("bucket"),
        explode(col("drop_reasons")).as("rule"))
      .groupBy(col("bucket"), col("rule"))
      .agg(count(lit(1)).as("n_dropped"))

  /** Per-bucket roll-up: turns / kept / dropped / scrub spans per rule. */
  def bucketStats(labeled: DataFrame, nBuckets: Int): DataFrame = {
    val scrubSums = RuleConfig.ScrubChain.map { case (rule, _, _) =>
      sum(coalesce(element_at(col("scrub_counts"), rule), lit(0)))
        .cast("long").as(s"n_scrub_$rule")
    }
    val aggs = Seq(
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
      sum(when(!col("keep"), 1L).otherwise(0L)).as("n_dropped")) ++ scrubSums
    labeled
      .groupBy(bucketCol(nBuckets).as("bucket"))
      .agg(count(lit(1)).as("n_turns"), aggs: _*)
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
  def truncationMetrics(df: DataFrame, sources: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
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
      (src, metric("capped_buckets"), metric("dropped_ids"))
    }
    rows.toDF("source", "capped_buckets", "dropped_ids")
  }

  /** Corpus quality score — the reference's A14 formula
    * (utils.py:491-509) recast: 100 * kept / total.
    */
  def qualityScore(stats: DataFrame): Double = {
    val row = stats.agg(sum(col("n_kept")).cast("double"),
      sum(col("n_turns")).cast("double")).head()
    if (row.getDouble(1) == 0) 100.0 else 100.0 * row.getDouble(0) / row.getDouble(1)
  }
}

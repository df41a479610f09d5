package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.TranscriptGen
import graft.io.SnapshotTable
import graft.metrics.Metrics
import graft.oracle.OracleFilter
import graft.pipeline.QualityFilter
import graft.rules.RuleConfig

/** Lineage + counters must agree with the golden oracle's tallies. */
class MetricsSpec extends AnyFunSuite {

  /** Writes `labeled` as bucket `bucket` with its counters observed, the
    * way the runner's data commit does; returns the observed rows as
    * the two tables' frames.
    */
  private def observedTables(labeled: DataFrame, bucket: Int): (DataFrame, DataFrame) = {
    val obs = Observation()
    val observed = Metrics.observeCounters(labeled, obs)
    val dir = Files.createTempDirectory("graft_observed").toString
    observed.write.mode("overwrite").parquet(dir)
    asTables(new Metrics.CounterRows(TestSpark.spark).of(obs, bucket,
      TestSpark.spark.read.parquet(dir).count()))
  }

  private def asTables(rows: (SnapshotTable.Rows, SnapshotTable.Rows)): (DataFrame, DataFrame) =
    (rows._1.toDF(TestSpark.spark), rows._2.toDF(TestSpark.spark))

  // the explode/groupBy definitions the shared counter list replaced:
  // the reference for both tables' rows and schema
  private def referenceLineage(labeled: DataFrame, nBuckets: Int): DataFrame =
    labeled.select(Metrics.bucketCol(nBuckets).as("bucket"),
        explode(col("drop_reasons")).as("rule"))
      .groupBy(col("bucket"), col("rule"))
      .agg(count(lit(1)).as("n_dropped"))

  private def referenceStats(labeled: DataFrame, nBuckets: Int): DataFrame = {
    val scrubSums = RuleConfig.ScrubChain.map { case (rule, _, _) =>
      sum(coalesce(element_at(col("scrub_counts"), rule), lit(0)))
        .cast("long").as(s"n_scrub_$rule")
    }
    labeled.groupBy(Metrics.bucketCol(nBuckets).as("bucket"))
      .agg(count(lit(1)).as("n_turns"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept") +:
          sum(when(!col("keep"), 1L).otherwise(0L)).as("n_dropped") +: scrubSums: _*)
  }

  private def assertSameTable(got: DataFrame, want: DataFrame, clue: String): Unit = {
    assert(got.schema == want.schema,
      s"$clue: schema\n${got.schema.treeString}vs\n${want.schema.treeString}")
    def rows(df: DataFrame) = df.collect().map(_.toSeq.toList).sortBy(_.toString).toList
    assert(rows(got) == rows(want), clue)
  }

  /** Per bucket: observed tables == groupBy tables == the reference. */
  private def assertCountedEqualsGroupBy(labeled: DataFrame, nBuckets: Int,
                                         clue: String): Unit =
    (0 until nBuckets).foreach { b =>
      val one = labeled.where(Metrics.bucketCol(nBuckets) === b)
      val (stats, lineage) = observedTables(one, b)
      assertSameTable(Metrics.bucketStats(one, nBuckets), referenceStats(one, nBuckets),
        s"$clue bucket $b: bucketStats vs reference")
      assertSameTable(Metrics.ruleLineage(one, nBuckets), referenceLineage(one, nBuckets),
        s"$clue bucket $b: ruleLineage vs reference")
      assertSameTable(stats, Metrics.bucketStats(one, nBuckets), s"$clue bucket $b: stats")
      assertSameTable(lineage, Metrics.ruleLineage(one, nBuckets), s"$clue bucket $b: lineage")
    }

  test("observation counters and lineage match oracle tallies") {
    val spark = TestSpark.spark
    import spark.implicits._
    val turns = TranscriptGen.generateLocal(100, seed = 21, skewCap = 300)
    val golden = OracleFilter.run(turns)

    // the whole corpus observed as one bucket
    val (observedStats, observedLineage) =
      observedTables(QualityFilter.label(spark.createDataset(turns)), 0)
    val row = observedStats.head()
    assert(row.getAs[Long]("n_turns") == turns.length.toLong)
    assert(row.getAs[Long]("n_kept") == golden.count(_.keep).toLong)
    assert(row.getAs[Long]("n_dropped") == golden.count(!_.keep).toLong)
    assert(RuleConfig.ScrubChain.map { case (r, _, _) => row.getAs[Long](s"n_scrub_$r") }.sum ==
      golden.map(_.scrub_counts.values.sum).sum.toLong)
    val goldenHist = golden.flatMap(_.drop_reasons)
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(observedLineage.select("rule", "n_dropped").as[(String, Long)].collect().toMap ==
      goldenHist)

    // per-rule lineage == oracle reason histogram
    val lineage = Metrics.ruleLineage(QualityFilter.label(spark.createDataset(turns)), 8)
      .groupBy("rule").sum("n_dropped").as[(String, Long)].collect().toMap
    assert(lineage == goldenHist)

    // bucket stats roll up to the same totals
    val stats = Metrics.bucketStats(QualityFilter.label(spark.createDataset(turns)), 8)
    assert(stats.count() <= 8)
    val kept = stats.agg(sum("n_kept")).head.getLong(0)
    assert(kept == golden.count(_.keep).toLong)
    val score = Metrics.qualityScore(stats)
    assert(math.abs(score - 100.0 * golden.count(_.keep) / golden.size) < 1e-9)
  }

  test("observed tables == groupBy tables: golden corpus, duplicate reasons, empty buckets") {
    val spark = TestSpark.spark
    import spark.implicits._
    val labeled = QualityFilter.label(
      spark.createDataset(TranscriptGen.generateLocal(60, seed = 7, skewCap = 500)))
    assertCountedEqualsGroupBy(labeled, 3, "golden")

    // a reason listed twice counts twice, as explode counted it
    val doubled = labeled.withColumn("drop_reasons",
      when(col("turn_idx") === 0,
        concat(col("drop_reasons"), array(lit(RuleConfig.RuleLength), lit(RuleConfig.RuleLength))))
        .otherwise(col("drop_reasons")))
    val (_, lineage) = observedTables(doubled.where(Metrics.bucketCol(1) === 0), 0)
    val nLength = lineage.where(col("rule") === RuleConfig.RuleLength)
      .select("n_dropped").as[Long].head()
    assert(nLength == doubled.select(explode(col("drop_reasons")).as("r"))
      .where(col("r") === RuleConfig.RuleLength).count())
    assertCountedEqualsGroupBy(doubled, 2, "duplicate reasons")

    // empty buckets commit zero-row tables: one emptied by the optimizer
    // (its observe node is pruned), one that is empty only at run time
    val neverTrue = Seq(labeled.where(lit(false)),
      labeled.where(col("conv_id") === "no such conversation"))
    neverTrue.foreach { empty =>
      val (stats, lineage) = observedTables(empty, 0)
      assert(stats.isEmpty && lineage.isEmpty)
      assertSameTable(stats, Metrics.bucketStats(empty, 1), "empty: stats")
      assertSameTable(lineage, Metrics.ruleLineage(empty, 1), "empty: lineage")
    }

    // an observe node pruned from the executed plan (a semi join with an
    // empty side drops the observed side) completes the observation with
    // no fields: zero turns, which the written row count must confirm
    val obs = Observation()
    val pruned = Metrics.observeCounters(labeled, obs)
      .join(Seq.empty[String].toDF("conv_id"), Seq("conv_id"), "left_semi")
    pruned.write.format("noop").mode("overwrite").save()
    assert(scala.concurrent.Await.result(obs.future,
      scala.concurrent.duration.Duration(60, "s")).length == 0)
    val (prunedStats, prunedLineage) = asTables(new Metrics.CounterRows(spark).of(obs, 0, 0L))
    assert(prunedStats.isEmpty && prunedLineage.isEmpty)
    assertSameTable(prunedStats, Metrics.bucketStats(labeled.where(lit(false)), 1),
      "pruned: stats")
    intercept[IllegalArgumentException](new Metrics.CounterRows(spark).of(obs, 0, 1L))

    // counters that disagree with the rows written fail
    val obs2 = Observation()
    val observed = Metrics.observeCounters(labeled, obs2)
    observed.write.format("noop").mode("overwrite").save()
    intercept[IllegalArgumentException](new Metrics.CounterRows(spark).of(obs2, 0, 1L))
  }

  test("truncation metrics surface observed bucket caps as data") {
    val spark = TestSpark.spark
    import spark.implicits._
    // clean corpus: distinct docs, no degenerate buckets → zeros
    val clean = (0 until 60).map(i =>
      (i.toLong, s"wholly unique document number $i about topic ${i * 7}"))
      .toDF("doc_id", "text")
    val cleanPairs = graft.ops.Dedup.minHashPairs(clean, "text", "doc_id",
      numHashes = 64, bands = 16, shingleK = 3, threshold = 0.5)
    val zeros = Metrics.truncationMetrics(cleanPairs, Seq("dd2"))
      .as[(String, Long, Long)].collect()
    assert(zeros.toSeq == Seq(("dd2", 0L, 0L)))

    // degenerate corpus: 40 identical docs with maxBucket=8 → every
    // band bucket holds 40 ids, 32 over the cap, and the observation
    // must SEE it (16 bands × 1 capped bucket, 16 × 32 dropped ids)
    val dup = (0 until 40).map(i => (i.toLong, "same exact text in every row"))
      .toDF("doc_id", "text")
    val dupPairs = graft.ops.Dedup.minHashPairs(dup, "text", "doc_id",
      numHashes = 64, bands = 16, shingleK = 3, threshold = 0.5, maxBucket = 8)
    val caps = Metrics.truncationMetrics(dupPairs, Seq("dd2"))
      .as[(String, Long, Long)].collect()
    assert(caps.toSeq == Seq(("dd2", 16L, 16L * 32L)))

    // unknown source fails fast instead of silently reporting zeros
    intercept[IllegalArgumentException] {
      Metrics.truncationMetrics(cleanPairs, Seq("nope"))
    }

    // an observe node the optimizer prunes from the executed plan (a
    // join with an empty side drops the observed side) still reports
    // its real aggregates, not zeros
    val observed = spark.range(10).toDF("x").observe("t_buckets",
      sum(lit(1L)).as("capped_buckets"), sum(lit(2L)).as("dropped_ids"))
    val pruned = observed.join(Seq.empty[Long].toDF("x"), "x")
    val recovered = Metrics.truncationMetrics(pruned, Seq("t"))
      .as[(String, Long, Long)].collect()
    assert(recovered.toSeq == Seq(("t", 10L, 20L)))
    assert(!pruned.queryExecution.observedMetrics.contains("t_buckets"))
  }
}

package graft

import org.apache.spark.sql.Observation
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.TranscriptGen
import graft.metrics.Metrics
import graft.oracle.OracleFilter
import graft.pipeline.QualityFilter

/** Lineage + counters must agree with the golden oracle's tallies. */
class MetricsSpec extends AnyFunSuite {

  test("observation counters and lineage match oracle tallies") {
    val spark = TestSpark.spark
    import spark.implicits._
    val turns = TranscriptGen.generateLocal(100, seed = 21, skewCap = 300)
    val golden = OracleFilter.run(turns)

    val obs = Observation("m")
    val labeled = Metrics.observed(QualityFilter.label(spark.createDataset(turns)), obs)
    labeled.write.mode("overwrite").format("noop").save()
    val row = obs.get
    assert(row("n_turns") == turns.length.toLong)
    assert(row("n_kept") == golden.count(_.keep).toLong)
    assert(row("n_dropped") == golden.count(!_.keep).toLong)
    assert(row("n_scrubbed_spans") ==
      golden.map(_.scrub_counts.values.sum).sum.toLong)

    // per-rule lineage == oracle reason histogram
    val lineage = Metrics.ruleLineage(QualityFilter.label(spark.createDataset(turns)), 8)
      .groupBy("rule").sum("n_dropped").as[(String, Long)].collect().toMap
    val goldenHist = golden.flatMap(_.drop_reasons)
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(lineage == goldenHist)

    // bucket stats roll up to the same totals
    val stats = Metrics.bucketStats(QualityFilter.label(spark.createDataset(turns)), 8)
    assert(stats.count() <= 8)
    val kept = stats.agg(org.apache.spark.sql.functions.sum("n_kept")).head.getLong(0)
    assert(kept == golden.count(_.keep).toLong)
    val score = Metrics.qualityScore(stats)
    assert(math.abs(score - 100.0 * golden.count(_.keep) / golden.size) < 1e-9)
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
    import org.apache.spark.sql.functions.{lit, sum}
    val observed = spark.range(10).toDF("x").observe("t_buckets",
      sum(lit(1L)).as("capped_buckets"), sum(lit(2L)).as("dropped_ids"))
    val pruned = observed.join(Seq.empty[Long].toDF("x"), "x")
    val recovered = Metrics.truncationMetrics(pruned, Seq("t"))
      .as[(String, Long, Long)].collect()
    assert(recovered.toSeq == Seq(("t", 10L, 20L)))
    assert(!pruned.queryExecution.observedMetrics.contains("t_buckets"))
  }
}

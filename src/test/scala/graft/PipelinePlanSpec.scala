package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.gen.TranscriptGen
import graft.pipeline.QualityFilter

/** Physical-plan shape assertions — the "would this survive 100x
  * scale-up" properties, locked as tests so regressions show up in CI
  * rather than in cluster bills:
  *  - the quality filter shuffles the corpus exactly ONCE (by conv_id);
  *  - dimension joins broadcast;
  *  - aggregations are partial (map-side combine);
  *  - top-k is TakeOrdered, not a global sort;
  *  - parquet scans prune columns.
  */
class PipelinePlanSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("quality filter: exactly one exchange of the corpus") {
    val df = QualityFilter.label(TranscriptGen.generate(spark, 50, 1L, 100))
    val p = plan(df)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange, plan:\n$p")
  }

  test("flagship exchange carries no partition count (REPARTITION_BY_COL)") {
    // an explicit count plans REPARTITION_BY_NUM, which AQE may not
    // coalesce: every checkpointed bucket then ran
    // spark.sql.shuffle.partitions reduce tasks and wrote as many files
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL, ShuffleExchangeExec}
    val df = QualityFilter.label(TranscriptGen.generate(spark, 50, 1L, 100))
    val origins = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e.shuffleOrigin
    }
    assert(origins == Seq(REPARTITION_BY_COL), plan(df))
  }

  test("quality filter plan has no cartesian or broadcast-nested-loop") {
    val p = plan(QualityFilter.label(TranscriptGen.generate(spark, 50, 1L, 100)))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("dimension join broadcasts (q2_join_revenue)") {
    val p = plan(SparkEntry.queries("q2_join_revenue")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("anti-join vs dictionary broadcasts (f9_anti_dict)") {
    val p = plan(SparkEntry.queries("f9_anti_dict")(spark, sf))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
  }

  test("aggregation is partial+final (q1_pricing_agg)") {
    val p = plan(SparkEntry.queries("q1_pricing_agg")(spark, sf))
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("top-k compiles to TakeOrderedAndProject, not global sort (o1)") {
    val p = plan(SparkEntry.queries("o1_topk_orders")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("parquet scan prunes columns (c6 reads 2 of 5 doc columns)") {
    val p = plan(SparkEntry.queries("c6_scrub_email")(spark, sf))
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("?")
    assert(readSchema.contains("doc_id") && readSchema.contains("source") &&
      !readSchema.contains("text"), s"ReadSchema: $readSchema")
  }

  test("language vote computes one window sum per language, not per reference") {
    val df = QualityFilter.label(TranscriptGen.generate(spark, 50, 1L, 100))
    val p = plan(df)
    val langs = graft.lang.LangId.default.langs.size
    // each window aggregate buffer shows up as one "sum(CASE WHEN" inside
    // the Window node; round 1 inlined the sums into greatest/coalesce and
    // paid langs*(langs+2) buffers
    val windowNodes = p.linesIterator.filter(_.contains("Window [")).mkString("\n")
    val sums = "sum\\(".r.findAllIn(windowNodes).length
    assert(sums == langs, s"expected $langs window sums, got $sums in:\n$windowNodes")
  }

  test("flagship windows collapse to two Window operators") {
    // dup ranking needs the (conv, hash, turn) sort; sequence windows
    // AND the language vote share ONE (conv, turn) Window operator
    // (the vote uses the same order spec with an unbounded frame) — a
    // third WindowExec pass would re-buffer the whole corpus
    val p = plan(QualityFilter.label(TranscriptGen.generate(spark, 50, 1L, 100)))
    val windows = "Window \\[".r.findAllIn(p).length
    assert(windows == 2, s"expected 2 Window operators, got $windows:\n$p")
  }

  test("LSH bucket keys carry no embedding/text payload (ann2/ann3/dd2)") {
    // the posexplode Generate node's carried-through columns must be the
    // id only — round 1 carried the embedding/text into `tables` bucket
    // rows per id, amplifying the fattest column through the exchange
    def generateLines(p: String): Seq[String] =
      p.linesIterator.filter(_.contains("Generate posexplode")).toSeq
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val plans = Seq(
      "lshTopK" -> graft.ops.Ann.lshTopK(e, e.where(
        org.apache.spark.sql.functions.col("vec_id") < 8), k = 3, tables = 8, bits = 8),
      "cosineNearDupPairs" -> graft.ops.Ann.cosineNearDupPairs(e, 0.35))
    for ((q, df) <- plans) {
      val lines = generateLines(plan(df))
      assert(lines.nonEmpty, q)
      lines.foreach(l => assert(!l.contains("vec#") && !l.contains("embedding#"),
        s"$q: embedding rides the bucket explode:\n$l"))
    }
    val ddLines = generateLines(plan(SparkEntry.queries("dd2_minhash_pairs")(spark, sf)))
    assert(ddLines.nonEmpty)
    ddLines.foreach(l => assert(!l.contains("txt#") && !l.contains("text#"),
      s"dd2: text rides the band explode:\n$l"))
  }

  test("filter pushdown reaches the scan (c6 doc_id < 40)") {
    val p = plan(SparkEntry.queries("c6_scrub_email")(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,40)]") ||
      p.contains("LessThan(doc_id,40)"), p)
  }

  test("doc pipeline: no shuffle exchange carries the text column") {
    // round 2 ranked exact dups with a window over xxhash64(text),
    // shuffling every full-text row; the exactSurvivors shape moves
    // only (hash, id) and joins tiny flag tables back broadcast. Under
    // AQE the executed plan is an AdaptiveSparkPlanExec, a leaf to a
    // plain tree walk (which then finds no exchange at all), so the walk
    // goes through AdaptiveSparkPlanHelper, after a run, over the final
    // plan AQE chose
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = graft.ops.DocPipeline.label(docs)
    df.collect()
    val helper = new AdaptiveSparkPlanHelper {}
    val executed = df.queryExecution.executedPlan
    assert(helper.find(executed)(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.BaseJoinExec]).isDefined,
      s"the walk does not reach the flags join:\n$executed")
    val offenders = helper.collect(executed) {
      case e: ShuffleExchangeLike if e.output.exists(_.name == "text") => e
    }
    assert(offenders.isEmpty,
      s"text rides a shuffle:\n${offenders.mkString("\n")}")
  }

  test("skew split routes giants via InSet filters, not anti/semi joins") {
    val ds = TranscriptGen.generate(spark, 60, 1L, 500)
    val df = graft.pipeline.SkewSplit.label(ds, maxTurns = 64)
    val p = plan(df)
    // the giant branch keeps its (tiny) boundary/vote joins; the SPLIT
    // itself — round 2's LeftAnti/LeftSemi against the census — must be
    // plain filters over the one tagged scan
    assert(!p.contains("LeftAnti") && !p.contains("LeftSemi"),
      s"split still joins:\n$p")
    assert(p.contains("INSET") || p.contains("isin") || p.contains("IN ("),
      s"expected InSet filters in:\n$p")
  }
}

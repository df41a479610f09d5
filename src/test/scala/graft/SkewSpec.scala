package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.gen.TranscriptGen
import graft.pipeline.{QualityFilter, SkewSplit}
import graft.oracle.OracleFilter
import graft.schema.LabeledTurn

/** The skew-split path (range-bucketed windows for giant conversations)
  * must produce EXACTLY the labels of the standard path and the golden
  * oracle — on corpora where several conversations exceed the bucket
  * threshold, with turn-index gaps spanning whole buckets.
  */
class SkewSpec extends AnyFunSuite {

  private def normalize(t: LabeledTurn): LabeledTurn =
    t.copy(drop_reasons = t.drop_reasons.toList,
      scrub_counts = t.scrub_counts.toSeq.sortBy(_._1).toMap)

  test("skew-split == standard path == oracle on a skewed corpus") {
    val spark = TestSpark.spark
    import spark.implicits._
    // skewCap 800 with threshold 25 → many conversations take the
    // giant path, most take the normal path
    val turns = TranscriptGen.generateLocal(250, seed = 33, skewCap = 800)
    val ds = spark.createDataset(turns).repartition(9)

    val expected = OracleFilter.run(turns).map(normalize)
    val standard = QualityFilter.label(ds).as[LabeledTurn]
      .collect().sortBy(t => (t.conv_id, t.turn_idx)).map(normalize)
    val split = SkewSplit.label(ds, 25).as[LabeledTurn]
      .collect().sortBy(t => (t.conv_id, t.turn_idx)).map(normalize)

    assert(standard.toSeq == expected)
    assert(split.toSeq == expected, {
      val bad = expected.zip(split).filter { case (e, a) => e != a }.take(3)
      s"${bad.size}+ mismatches, first: ${bad.headOption}"
    })
    // sanity: the giant path actually ran
    val maxConv = turns.groupBy(_.conv_id).map(_._2.size).max
    assert(maxConv > 25, s"fixture too small (max conv $maxConv)")
  }

  test("skew-split == oracle with null timestamps inside giant conversations") {
    val spark = TestSpark.spark
    import spark.implicits._
    // null ts at bucket-boundary positions (first/last row of a 25-turn
    // bucket) AND mid-bucket: lag(ts) over the bucket window is then
    // null for a row whose PREDECESSOR exists — the round-1
    // coalesce(prev_ts_l, prev_ts_b) wrongly substituted the previous
    // bucket's boundary ts there and could fire ts_regress
    val turns = TranscriptGen.generateLocal(120, seed = 77, skewCap = 600)
      .map(t => if (t.turn_idx % 25 == 0 || t.turn_idx % 25 == 24 || t.turn_idx % 13 == 7)
        t.copy(ts = null) else t)
    val ds = spark.createDataset(turns).repartition(7)

    val expected = OracleFilter.run(turns).map(normalize)
    val split = SkewSplit.label(ds, 25).as[LabeledTurn]
      .collect().sortBy(t => (t.conv_id, t.turn_idx)).map(normalize)
    assert(split.toSeq == expected, {
      val bad = expected.zip(split).filter { case (e, a) => e != a }.take(3)
      s"${bad.size}+ mismatches, first: ${bad.headOption}"
    })
    val maxConv = turns.groupBy(_.conv_id).map(_._2.size).max
    assert(maxConv > 25, s"fixture too small (max conv $maxConv)")
    assert(turns.exists(t => t.ts == null && t.turn_idx % 25 != 0),
      "fixture must contain an in-bucket null-ts predecessor")
  }

  test("join-based fallback split (many giants) == InSet split == oracle") {
    // the fallback path for giant counts above the InSet guard is
    // behavior-equivalent to the default split
    val spark = TestSpark.spark
    import spark.implicits._
    val turns = TranscriptGen.generateLocal(120, seed = 55, skewCap = 400)
    val ds = spark.createDataset(turns).repartition(5)
    val expected = OracleFilter.run(turns).map(normalize)
    val viaJoins = SkewSplit.route(QualityFilter.score(ds), 25, giants = None)
      .as[LabeledTurn]
      .collect().sortBy(t => (t.conv_id, t.turn_idx)).map(normalize)
    assert(viaJoins.toSeq == expected)
  }

  test("census overflow: bounded collect routes through joins, labels exact") {
    // when the giant count exceeds MaxCollectedGiants, SkewSplit.label
    // must never pull the full id list to the driver (limit-bounded
    // collect) and must route BOTH branches through the join split;
    // CheckpointedRun's shared census must do the same per bucket
    val spark = TestSpark.spark
    import spark.implicits._
    val turns = TranscriptGen.generateLocal(200, seed = 77, skewCap = 120)
    val ds = spark.createDataset(turns)
    val expected = OracleFilter.run(turns).map(normalize)
    val maxTurns = 8
    val nGiants = turns.groupBy(_.conv_id).count(_._2.size > maxTurns)
    assert(nGiants > 3, s"fixture needs >3 giants, got $nGiants")

    val labeled = SkewSplit.label(ds, maxTurns, maxCollectedGiants = 3)
    val plan = labeled.queryExecution.executedPlan.toString
    assert(plan.contains("ExistenceJoin") && !plan.contains("LeftSemi") &&
        !plan.contains("LeftAnti") && !plan.contains("BroadcastNestedLoopJoin"),
      s"overflow did not route both branches via IN-subquery joins:\n${plan.take(2000)}")
    val got = labeled.as[LabeledTurn].collect()
      .sortBy(t => (t.conv_id, t.turn_idx)).map(normalize)
    assert(got.toSeq == expected)

    // checkpointed runner under the same overflow: output equals the
    // whole-corpus run exactly
    val root = java.nio.file.Files.createTempDirectory("graft_ovf").toString
    graft.pipeline.CheckpointedRun.run(ds, root, nBuckets = 4,
      skewMaxTurns = maxTurns, maxCollectedGiants = 3)
    val ckpt = graft.pipeline.CheckpointedRun.readOutput(spark, root, 4)
      .as[LabeledTurn].collect()
      .sortBy(t => (t.conv_id, t.turn_idx)).map(normalize)
    assert(ckpt.toSeq == expected)
  }

  test("overflow route: scoring stays above the IN-subquery join, null conv_id routes normal") {
    import org.apache.spark.sql.catalyst.plans.ExistenceJoin
    import org.apache.spark.sql.execution.{ProjectExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val spark = TestSpark.spark
    import spark.implicits._
    val maxTurns = 8
    // null out one GIANT conversation's id: the census subquery then
    // holds a null id, and IN must still never match a null conv_id
    val base = TranscriptGen.generateLocal(60, seed = 91, skewCap = 60)
    val nulled = base.groupBy(_.conv_id)
      .collectFirst { case (c, ts) if ts.size > maxTurns => c }.get
    val turns = base.map(t => if (t.conv_id == nulled) t.copy(conv_id = null) else t)
    // repartitioned: over a bare local relation the optimizer would
    // fold the scoring projection into the scan
    val ds = spark.createDataset(turns).repartition(4)

    val routed = SkewSplit.route(QualityFilter.score(ds), maxTurns, giants = None)
    val plan = routed.queryExecution.executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    def scores(p: SparkPlan): Boolean = p match {
      case pr: ProjectExec => pr.projectList.exists(_.toString.contains("scoreallexpr"))
      case _ => false
    }
    val routing = helper.collect(plan) {
      case j: BaseJoinExec if j.joinType.isInstanceOf[ExistenceJoin] => j
    }
    // every routing join reads UNSCORED rows: the scoring projection
    // sits above it, so each row is scored after routing
    assert(routing.nonEmpty, plan.toString)
    assert(routing.forall(j => !j.exists(scores)), plan.toString)
    assert(helper.find(plan)(scores).isDefined, plan.toString)
    assert(!plan.toString.contains("BroadcastNestedLoopJoin"), plan.toString)

    // the giant branch's boundary equi-join would drop null-keyed rows;
    // every one of them comes back, labeled exactly as unsplit
    def canon(df: org.apache.spark.sql.DataFrame) = df.as[LabeledTurn].collect()
      .sortBy(t => (Option(t.conv_id), t.turn_idx)).map(normalize).toSeq
    val got = canon(routed)
    assert(got.count(_.conv_id == null) == turns.count(_.conv_id == null))
    assert(got == canon(QualityFilter.label(ds)))
  }
}

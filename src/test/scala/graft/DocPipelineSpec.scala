package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.DocPipeline

/** Composite document-cleaning pipeline behavior. */
class DocPipelineSpec extends AnyFunSuite {

  private val cfg = DocPipeline.DocConfig(nearDupThreshold = 0.7)

  private def docs = {
    val spark = TestSpark.spark
    import spark.implicits._
    val good = "please make sure the tests pass before you merge the change today"
    Seq(
      (0L, good),
      (1L, good), // exact dup of 0
      (2L, good.replace("today", "tomorrow")), // near dup
      (3L, "el tiempo hoy es muy agradable y vamos a dar un paseo corto por el parque"),
      (4L, "short one"),
      (5L, "@#$% @#$% @#$% junk &*()"),
      (6L, "reach me at alice@example.com for the complete report details thanks"))
      .toDF("doc_id", "text")
  }

  test("labels: dups, near-dups, language, quality, scrub") {
    val out = DocPipeline.label(docs, cfg = cfg).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("keep"), r.getSeq[String](2).toList,
          r.getAs[String]("lang"), r.getAs[String]("scrubbed_text"))).toMap

    assert(out(0L)._1, out(0L).toString)
    assert(out(1L)._2.contains("exact_dup"))
    assert(out(2L)._2.contains("near_dup"))
    assert(out(3L)._2 == List("lang") && out(3L)._3 == "es")
    assert(out(4L)._2.contains("too_short"))
    assert(out(5L)._2.contains("symbol_noise"))
    assert(out(6L)._1 && out(6L)._4.contains("<EMAIL>"))
  }

  test("label keeps nothing between calls; the overflow path labels like the broadcast one") {
    val sc = TestSpark.spark.sparkContext
    def labels(maxCollectedFlags: Int) =
      DocPipeline.labelScored(DocPipeline.score(docs), DocPipeline.exactDupIds(docs),
          DocPipeline.nearDupIds(docs, threshold = cfg.nearDupThreshold), cfg, maxCollectedFlags)
        .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq

    val persisted = sc.getPersistentRDDs.keySet
    val broadcastPath = labels(DocPipeline.MaxBroadcastFlags)
    DocPipeline.label(docs, cfg = cfg).collect()
    assert(sc.getPersistentRDDs.keySet == persisted,
      "a collected label call left a relation persisted")

    // two flagged docs (1: exact dup, 2: near dup), so a bound of 0
    // overflows and the unhinted join runs
    val overflow = labels(0)
    assert(overflow == broadcastPath)
    assert(broadcastPath.count(r => r(2).asInstanceOf[scala.collection.Seq[_]].exists(
      Set[Any]("exact_dup", "near_dup"))) == 2)
  }
}

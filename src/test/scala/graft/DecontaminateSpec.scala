package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.metrics.JobLog
import graft.ops.Decontaminate

/** Benchmark decontamination: hand-computed overlap counts, the
  * broadcast-vs-join path parity the size gate switches between, and
  * the edge cases the DuckDB oracle shares (short docs, null text,
  * within-doc duplicate grams, threshold).
  */
class DecontaminateSpec extends AnyFunSuite {

  private def docsDf(rows: Seq[(Long, String)]) = {
    val spark = TestSpark.spark
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  // bench doc holds grams "a b c" and "b c d" (n=3)
  private val bench = Seq(1000L -> "a b c d")
  private val corpus = Seq(
    1L -> "a b c x y",         // shares "a b c" -> 1
    2L -> "x a b c d y",       // shares "a b c" and "b c d" -> 2
    3L -> "x y z w",           // nothing shared -> 0
    4L -> "a b",               // shorter than n -> 0 grams -> clean
    5L -> (null: String),      // null text -> clean
    6L -> "a b c a b c a b c") // "a b c" thrice, counted once -> 1

  private def run(minMatches: Int, maxBroadcastGrams: Long) =
    Decontaminate.decontaminate(
        docsDf(corpus), docsDf(bench), "text", "doc_id",
        n = 3, minMatches = minMatches, maxBroadcastGrams = maxBroadcastGrams)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1).toSeq

  test("broadcast path: hand-computed match counts and threshold") {
    // doc 6's grams: "a b c", "b c a", "c a b" — only the first is in
    // the bench set, and its three occurrences count once
    val got = run(minMatches = 1, maxBroadcastGrams = 1L << 20)
    assert(got == Seq(
      (1L, 1L, true), (2L, 2L, true), (3L, 0L, false),
      (4L, 0L, false), (5L, 0L, false), (6L, 1L, true)))
    val strict = run(minMatches = 2, maxBroadcastGrams = 1L << 20)
    assert(strict.map(t => t._1 -> t._3) ==
      Seq(1L -> false, 2L -> true, 3L -> false, 4L -> false,
        5L -> false, 6L -> false))
  }

  test("join fallback (gate at 0) lands exactly the broadcast answer") {
    assert(run(1, maxBroadcastGrams = 0L) == run(1, maxBroadcastGrams = 1L << 20))
  }

  test("empty benchmark set marks nothing contaminated on either path") {
    for (gate <- Seq(0L, 1L << 20)) {
      val got = Decontaminate.decontaminate(
          docsDf(corpus), docsDf(Seq.empty[(Long, String)]), "text", "doc_id",
          n = 3, minMatches = 1, maxBroadcastGrams = gate)
        .collect().map(r => (r.getLong(1), r.getBoolean(2))).toSeq
      assert(got.length == corpus.length && got.forall(_ == ((0L, false))))
    }
  }

  test("string ids pass through untouched; dup + null ids keep per-row counts") {
    val spark = TestSpark.spark
    import spark.implicits._
    // string ids: the id column must keep its type, never be cast
    val sCorpus = Seq("c-1" -> "a b c x", "c-2" -> "x y z").toDF("conv_id", "text")
    val sBench = Seq("e-1" -> "a b c").toDF("conv_id", "text")
    for (gate <- Seq(0L, 1L << 20)) {
      val got = Decontaminate.decontaminate(sCorpus, sBench, "text", "conv_id",
          n = 3, minMatches = 1, maxBroadcastGrams = gate)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
        .sortBy(_._1).toSeq
      assert(got == Seq(("c-1", 1L, true), ("c-2", 0L, false)), s"gate=$gate")
    }

    // duplicate and null ids: the report stays PER ROW on both paths —
    // two rows sharing an id each count their own grams (never the
    // summed total), and a null id neither drops nor zeroes its row
    val dCorpus = Seq[(java.lang.Long, String)](
      (1L, "a b c x"), (1L, "a b c d y"), (null, "b c d z"))
      .toDF("doc_id", "text")
    val dBench = Seq[(java.lang.Long, String)]((9L, "a b c d"))
      .toDF("doc_id", "text")
    val byGate = Seq(0L, 1L << 20).map { gate =>
      Decontaminate.decontaminate(dCorpus, dBench, "text", "doc_id",
          n = 3, minMatches = 2, maxBroadcastGrams = gate)
        .collect()
        .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    }
    assert(byGate.head == Seq((-1L, 1L, false), (1L, 1L, false), (1L, 2L, true)))
    assert(byGate.head == byGate.last, "paths diverge on dup/null ids")
  }

  test("equal texts, repeated rows and null text keep single-document counts on both paths") {
    val spark = TestSpark.spark
    import spark.implicits._
    // the fallback keys rows by text content: identical texts under
    // different ids, a repeated (id, text) row and null text must each
    // report exactly what the document alone would
    val rows = Seq[(java.lang.Long, String)](
      (1L, "a b c x"), (2L, "a b c x"),          // same text, two ids
      (3L, "x a b c d"), (3L, "x a b c d"),      // repeated (id, text) row
      (4L, null), (null, null),                  // null text (and id)
      (5L, "b c d a b c"), (6L, "z z z"))
    val bench = Seq[(java.lang.Long, String)]((9L, "a b c d")).toDF("doc_id", "text")
    def single(text: String): Long = Decontaminate.decontaminate(
        Seq[(java.lang.Long, String)]((0L, text)).toDF("doc_id", "text"), bench,
        "text", "doc_id", n = 3, minMatches = 1)
      .head().getLong(1)
    val expected = rows.map { case (id, t) => (Option(id).map(_.toLong), single(t)) }
      .sortBy(r => (r._1.getOrElse(-1L), r._2))
    assert(expected.map(_._2) == Seq(0L, 1L, 1L, 2L, 2L, 0L, 2L, 0L))
    for (gate <- Seq(0L, 1L << 20)) {
      val got = Decontaminate.decontaminate(rows.toDF("doc_id", "text"), bench,
          "text", "doc_id", n = 3, minMatches = 1, maxBroadcastGrams = gate)
        .collect().map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getLong(1)))
        .sortBy(r => (r._1.getOrElse(-1L), r._2)).toSeq
      assert(got == expected, s"gate=$gate")
    }
  }

  test("join fallback: no cached relation or row numbering; no persist outlives the call") {
    import org.apache.spark.sql.catalyst.expressions.MonotonicallyIncreasingID
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val sc = TestSpark.spark.sparkContext
    for (gate <- Seq(0L, 1L << 20)) {
      val before = sc.getPersistentRDDs.keySet.toSet
      // both paths: the gate's count and collect read the bench set
      // unpersisted, so no job of the call computes a persisted RDD
      val (df, jobs) = JobLog.of(sc) {
        val df = Decontaminate.decontaminate(docsDf(corpus), docsDf(bench), "text", "doc_id",
          n = 3, minMatches = 1, maxBroadcastGrams = gate)
        assert(df.collect().length == corpus.length)
        df
      }
      val persisted = jobs.exists(_.rdds.exists(_.storageLevel.isValid))
      assert(jobs.nonEmpty && !persisted, s"gate=$gate: a job computed a persisted RDD")
      assert(sc.getPersistentRDDs.keySet.toSet == before, s"gate=$gate: a persist outlived the call")
      val plan = df.queryExecution.executedPlan
      val helper = new AdaptiveSparkPlanHelper {}
      assert(helper.find(plan)(_.isInstanceOf[InMemoryTableScanExec]).isEmpty &&
        !plan.toString.contains("InMemoryRelation"), s"gate=$gate:\n$plan")
      assert(helper.find(plan)(_.expressions.exists(
        _.exists(_.isInstanceOf[MonotonicallyIncreasingID]))).isEmpty, s"gate=$gate:\n$plan")
    }
  }

  test("gramHashes: dedup, ordering-insensitive hashing, short inputs") {
    val h = Decontaminate.gramHashes("A  b\tC", 3)
    assert(h.length == 1) // case-folded, whitespace-run split
    assert(h.sameElements(Decontaminate.gramHashes("a b c", 3)))
    assert(Decontaminate.gramHashes("a b", 3).isEmpty)
    assert(Decontaminate.gramHashes(null, 3).isEmpty)
    // within-doc duplicates collapse; result is sorted distinct
    // bigrams of "a b c a b c": {a b, b c, c a}
    val d = Decontaminate.gramHashes("a b c a b c", 2)
    assert(d.length == 3 && d.sameElements(d.distinct.sorted))
  }
}

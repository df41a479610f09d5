package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.gen.TranscriptGen
import graft.pipeline.QualityFilter

/** Dumps formatted physical plans for the flagship pipeline and key
  * queries into BENCH/PLANS.md — the reviewable "is this the plan you'd
  * want at 100 TB" artifact. Regenerated on every test run so it can't
  * go stale, and normalized so the file changes only when a plan does:
  * a PLANS.md diff is a plan change.
  */
class PlanDumpSpec extends AnyFunSuite {

  /** Per-JVM counters in plan text — expression ids (`#NNN`), exchange
    * `plan_id=NNN` and lambda variable suffixes (`x_NNN`) — renumbered
    * by first appearance; generated lambda class suffixes and object
    * addresses dropped.
    */
  private def normalize(plan: String): String = {
    def renumber(s: String, re: scala.util.matching.Regex): String = {
      val ids = scala.collection.mutable.Map.empty[String, Int]
      re.replaceAllIn(s, m => scala.util.matching.Regex.quoteReplacement(
        m.group(1) + ids.getOrElseUpdate(m.group(2), ids.size + 1)))
    }
    val noLambdas = plan.replaceAll("\\$Lambda(\\$\\d+)?/0x[0-9a-f]+(@[0-9a-f]+)?", "\\$Lambda")
    Seq("(#)(\\d+)".r, "(plan_id=)(\\d+)".r, "(lambda [A-Za-z]+_)(\\d+)".r)
      .foldLeft(noLambdas)(renumber)
  }

  private def explain(df: org.apache.spark.sql.DataFrame): String =
    normalize(df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)).take(12000)

  test("dump formatted plans") {
    val spark = TestSpark.spark
    val sf = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans (auto-generated by PlanDumpSpec)\n")

    def dump(title: String, df: org.apache.spark.sql.DataFrame, notes: String): Unit = {
      sb.append(s"\n## $title\n\n$notes\n\n```\n")
      sb.append(explain(df))
      sb.append("\n```\n")
    }

    // the same plan built twice (fresh expression ids, plan ids and
    // lambda names) dumps byte-identically
    def flagship = QualityFilter.label(TranscriptGen.generate(spark, 50, 1L, 100))
    assert(explain(flagship) == explain(flagship))

    dump("quality filter (flagship)", flagship,
      """One `Exchange hashpartitioning(conv_id)` for the whole corpus;
        |two intra-partition sorts (dup window on (conv_id, norm_hash,
        |turn_idx), then sequence+vote windows share (conv_id,
        |turn_idx)); model scoring is the fused scoreallexpr Project
        |(r7: was a MapPartitions object pass — the expression keeps
        |scan → score → exchange inside whole-stage codegen); the fused
        |scrub expression sits in the final Project.""".stripMargin)

    dump("q2_join_revenue", SparkEntry.queries("q2_join_revenue")(spark, sf),
      "Dimension joins must be BroadcastHashJoin; aggregate partial+final.")

    dump("f9_anti_dict", SparkEntry.queries("f9_anti_dict")(spark, sf),
      "Dictionary anti-join must broadcast (LeftAnti BuildRight).")

    dump("o1_topk_orders", SparkEntry.queries("o1_topk_orders")(spark, sf),
      "Top-k must be TakeOrderedAndProject — no global sort.")

    dump("c6_scrub_email", SparkEntry.queries("c6_scrub_email")(spark, sf),
      "Scan must prune to (doc_id, source) and push LessThan(doc_id,40).")

    dump("dd2_minhash_pairs", SparkEntry.queries("dd2_minhash_pairs")(spark, sf),
      "Band-bucket self-join on (band, bucket) hashes — no cartesian.")

    dump("doc pipeline (dp1)",
      graft.ops.DocPipeline.label(spark.read.parquet(s"$sf/documents.parquet")),
      """Exact-dup ranking shuffles (xxhash64(text), doc_id) only — no
        |shuffle exchange in this plan carries the text column
        |(asserted by PipelinePlanSpec); dup/near-dup flag ids join back
        |as one broadcast left join. The flag table is collected under a
        |row bound before this plan is built, so its dup subtrees run in
        |that job and the join's build side is a LocalTableScan.""".stripMargin)

    dump("conversation near-dup, text-free path (cd2)",
      graft.ops.Dedup.conversationMinHashPairs(
        TranscriptGen.generate(spark, 40, 1L, 200).toDF()),
      """Per-turn MinHash signatures min-combined per conversation: the
        |signature aggregation's exchange carries (conv_id, sig) only —
        |partial-agg'd elementwise mins; conversation text is built just
        |for LSH candidates (left-semi), so the full-corpus stages never
        |shuffle concatenated text.""".stripMargin)

    dump("skew split (labeled plan)",
      graft.pipeline.SkewSplit.label(
        TranscriptGen.generate(spark, 50, 1L, 500), maxTurns = 64),
      """Census runs eagerly (separate tiny job, conv_id-pruned scan);
        |this labeled plan routes branches via InSet filters over two
        |scans — no LeftAnti/LeftSemi split joins (asserted by
        |PipelinePlanSpec). Giant branch keeps its per-bucket boundary
        |join + broadcast vote join.""".stripMargin)

    dump("IQR perplexity variant (qf3 labeling plan)",
      {
        val scored = QualityFilter.score(TranscriptGen.generate(spark, 50, 1L, 100))
        QualityFilter.labelScored(scored, Some((1.0, 30.0)))
      },
      """Same single-exchange shape as the flagship — the data-driven
        |bounds are PLAIN LITERALS in the rule predicate (computed once
        |up front by Stats.exactPercentiles' partial-agg passes), so
        |opting into IQR bounds adds zero exchanges, joins, or window
        |sorts to the labeling plan.""".stripMargin)

    dump("conv near-dup rule applied to labels (qf5 shape)",
      {
        val turns = TranscriptGen.generate(spark, 40, 1L, 200)
        QualityFilter.withConvNearDup(QualityFilter.label(turns),
          QualityFilter.convNearDupDropIds(turns.toDF()))
      },
      """The opt-in rule is ONE left join of the labeled rows against the
        |dropped-conversation id set (no new window, no extra corpus
        |exchange beyond the LSH stage's keys-only shuffles); AQE decides
        |the build side at runtime — no hard broadcast hint, the dropped
        |set is O(#conversations) on a clone-heavy corpus.""".stripMargin)

    dump("BPE word-count training aggregation (bpe1 train stage)",
      graft.lm.Bpe.wordCounts(
        spark.read.parquet(s"$sf/documents.parquet"), "text"),
      """The only corpus-sized BPE stage: codegen regex extraction +
        |explode feeding a partial-agg'd count — the exchange carries
        |(word, count) pairs only; the scan prunes to the text column.
        |The merge loop runs on the TakeOrdered capped vocabulary, and
        |encode is broadcast-model mapPartitions (no plan to dump).""".stripMargin)

    dump("sequence packing (pk1)",
      SparkEntry.queries("pk1_sequence_packing")(spark, sf),
      """Token counts are computed in the scan-side Project (codegen
        |regexp_extract_all + size) BEFORE the exchange, so the one
        |hashpartitioning(shard) shuffle carries (doc_id, shard,
        |n_tokens) — 20 bytes/doc, never text; then a single
        |intra-partition Sort and the stateful MapPartitions next-fit
        |pass. The trailing rangepartitioning exchange is the
        |presentation ORDER BY for the oracle, not part of the
        |operator.""".stripMargin)

    dump("boilerplate rule applied to labels (qf6 shape)",
      {
        val turns = TranscriptGen.generate(spark, 40, 1L, 200)
        QualityFilter.withBoilerplate(QualityFilter.label(turns),
          QualityFilter.boilerplateDropKeysRaw(turns))
      },
      """Census shuffles two keys-only stages — distinct (norm_hash,
        |conv_id) 16-byte pairs, then per-hash conversation counts —
        |and the flagged keys join back as ONE left join on (conv_id,
        |turn_idx); the raw entry point normalizes+hashes in a
        |mapPartitions WITHOUT the model pass, and AQE picks the build
        |side (the flagged set is small by construction — only texts
        |recurring across conversations survive the census).""".stripMargin)

    dump("benchmark decontamination, broadcast path (dc1)",
      {
        val docs = spark.read.parquet(s"$sf/documents.parquet")
        import org.apache.spark.sql.functions.col
        graft.ops.Decontaminate.decontaminate(
          docs.where(col("doc_id") % 10 =!= 7),
          docs.where(col("doc_id") % 10 === 7),
          "text", "doc_id", n = 4, minMatches = 1)
      },
      """The corpus pass is MAP-ONLY: scan → typed mapPartitions
        |(binary-search membership against the broadcast sorted 64-bit
        |gram array) → project — no exchange touches the corpus. The
        |benchmark gram set was counted BEFORE collection behind the
        |size gate; an oversized set switches to the keys-only
        |(id, hash) join fallback instead of broadcasting.""".stripMargin)

    dump("decontamination rule applied to labels (qf7 shape)",
      {
        val turns = TranscriptGen.generate(spark, 40, 1L, 200)
        import org.apache.spark.sql.functions.col
        val bench = turns.toDF().where(col("turn_idx") % 7 === 3)
          .select(col("text"))
        QualityFilter.withContaminated(QualityFilter.label(turns),
          QualityFilter.contaminatedTurnKeys(turns.toDF(), bench,
            QualityFilter.ContaminationConfig(benchPath = "<inline>", n = 3)))
      },
      """Detection inherits dc1's shape keyed by the (conv_id, turn_idx)
        |struct: the corpus side is scan → mapPartitions (broadcast
        |sorted gram array, binary search) → project — map-only, no
        |corpus exchange; the flagged keys are distinct'd (set
        |membership) and join back as ONE left join on (conv_id,
        |turn_idx), which the labeled side's existing hash(conv_id)
        |partitioning already clusters.""".stripMargin)

    dump("hash-sharded packing, string ids (packNextFitByHash)",
      {
        import spark.implicits._
        graft.ops.Packing.packNextFitByHash(
          (0 until 64).map(i => (f"doc$i%03d", (i % 9).toLong))
            .toDF("doc_id", "n_tokens"),
          "doc_id", "n_tokens", nShards = 4, capacity = 16L)
      },
      """Same scale shape as pk1 with ids of any type: shard =
        |pmod(xxhash64(id), n) computed in the scan-side Project, ONE
        |hashpartitioning(shard) exchange carrying (id, shard,
        |n_tokens), an intra-partition Sort on (shard, id, n_tokens),
        |and the stateful MapPartitions next-fit pass — the id rides
        |through with its original type, never cast.""".stripMargin)

    Files.createDirectories(Paths.get("BENCH"))
    Files.writeString(Paths.get("BENCH/PLANS.md"), sb.toString)
    assert(Files.exists(Paths.get("BENCH/PLANS.md")))
  }
}

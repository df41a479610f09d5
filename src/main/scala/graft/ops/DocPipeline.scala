package graft.ops

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim

import graft.functions.GraftExpressions.doc_fingerprint
import graft.rules.RuleConfig

/** End-to-end training-data cleaning over a DOCUMENT corpus (the
  * documents-table counterpart of the transcript quality filter):
  * language-ID + heuristic quality + PII scrub + exact-dup and
  * near-dup flags, one labeled output row per document.
  *
  * Plan shape: one mapPartitions scoring pass (broadcast models); exact
  * dedup shuffles ONLY (xxhash64(text), doc_id) — non-first ids per
  * hash come back as a tiny flag table (the `exactSurvivors` shape,
  * Dedup.scala), so the full-text rows never ride the dedup exchange;
  * near-dup ids come from the MinHash band join (also keys-only).
  * Both flag tables join back on doc_id in ONE left join (they are
  * unioned first): the flag table is collected with a row bound and
  * broadcast as a local relation when it fits, and left to AQE when it
  * does not (see [[labelScored]]). Nothing is persisted or kept between
  * calls. Everything else is codegen'd columns.
  */
object DocPipeline {

  final case class DocConfig(
      minTokens: Int = 5,
      maxSymbolRatio: Double = 0.3,
      minQuality: Double = 0.3,
      allowedLangs: Set[String] = RuleConfig.AllowedLangs,
      langConfMin: Double = 0.65,
      nearDupThreshold: Double = 0.85)

  /** Stage 1: broadcast-model language-ID + perplexity per document —
    * the persisted seam the driver's DuckDB oracle re-labels from
    * (every downstream rule is SQL-expressible; the model scores are
    * not).
    */
  def score(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val scorerBc = spark.sparkContext.broadcast(graft.lm.TurnScorer.default)
    docs.select(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val scorer = scorerBc.value
        it.map { case (id, text) =>
          val norm = graft.scrub.Scrub.normalizeWsPlain(text)
          val (lang, conf, ppl) = scorer.score(norm)
          (id, text, lang, conf, ppl)
        }
      }.toDF("doc_id", "text", "lang", "lang_conf", "ppl")
  }

  /** Duplicate-flag table: doc_ids that are NOT the first (min-id)
    * occurrence of their exact text. Only (hash, id) flows through the
    * aggregation — the Dedup.exactSurvivors shape inverted to return
    * the (small) non-survivor side.
    */
  def exactDupIds(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val keyed = docs.select(xxhash64(col(textCol)).as("k"), col(idCol).cast("long").as("doc_id"))
    keyed
      .withColumn("keep_id", min(col("doc_id"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("k"))))
      .where(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"))
  }

  /** Above this many flagged ids the flag table is no longer "small":
    * [[labelScored]] stops collecting it for a broadcast and leaves the
    * join to AQE. At the bound the collected rows hold ~390 MB of
    * driver heap (~93 B an id: a 32-byte UnsafeRow in its own byte
    * array, measured at 4,194,304 ids) for as long as the returned frame
    * lives; running it builds the broadcast relation from them.
    */
  private[graft] val MaxBroadcastFlags = 4 << 20

  /** Stage 2: rules + scrub over the scored rows plus the two flag-id
    * tables. Pure Catalyst columns — mirrored 1:1 by the DuckDB oracle.
    */
  def labelScored(scored: DataFrame, exactDups: DataFrame, nearDups: DataFrame,
                  cfg: DocConfig = DocConfig()): DataFrame =
    labelScored(scored, exactDups, nearDups, cfg, MaxBroadcastFlags)

  /** [[labelScored]] with the collect bound as a parameter (tests reach
    * the overflow path with a tiny bound instead of a 4M-duplicate
    * corpus).
    */
  private[graft] def labelScored(scored: DataFrame, exactDups: DataFrame, nearDups: DataFrame,
                                 cfg: DocConfig, maxCollectedFlags: Int): DataFrame = {
    val flags = exactDups.select(col("doc_id"), lit(true).as("is_exact_dup"),
        lit(null).cast("boolean").as("is_near_dup"))
      .unionByName(nearDups.select(col("doc_id"),
        lit(null).cast("boolean").as("is_exact_dup"), lit(true).as("is_near_dup")))
      .groupBy(col("doc_id"))
      .agg(max(col("is_exact_dup")).as("is_exact_dup"),
        max(col("is_near_dup")).as("is_near_dup"))

    // The collect is LIMIT-bounded, so it measures the flag table's size
    // in the job that computes it without pulling an O(corpus) table to
    // the driver. A table that fits joins back as a broadcast local
    // relation over the collected UnsafeRows: the dup subtrees ran once,
    // and no full-text row rides a join exchange (an unhinted join plans
    // a sort-merge join and AQE shuffles the scored side before it can
    // switch to a broadcast). On a high-duplication corpus the table
    // overflows and the plain left join lets AQE pick the build side;
    // that path computes the dup subtrees a second time, in the join.
    val bounded = flags.limit(maxCollectedFlags + 1)
    val rows = ColumnShim.collectInternal(bounded)
    val flagsJoin =
      if (rows.length > maxCollectedFlags) flags
      else broadcast(ColumnShim.ofRows(scored.sparkSession, LocalRelation(
        bounded.queryExecution.analyzed.output, ArraySeq.unsafeWrapArray(rows))))

    val quality = TextStats.qualityScoreCol(col("text"))
    val reasons = array_compact(array(
      when(col("text").isNull || trim(col("text")) === "", lit("empty")),
      when(TextStats.tokenCountCol(col("text")) < cfg.minTokens, lit("too_short")),
      when(TextStats.symbolRatioCol(col("text")) > cfg.maxSymbolRatio, lit("symbol_noise")),
      when(quality < cfg.minQuality, lit("low_quality")),
      when(!col("lang").isin(cfg.allowedLangs.toSeq: _*) &&
        col("lang_conf") >= cfg.langConfMin, lit("lang")),
      when(coalesce(col("is_exact_dup"), lit(false)), lit("exact_dup")),
      when(coalesce(col("is_near_dup"), lit(false)), lit("near_dup"))))

    val scrubStruct = graft.functions.GraftExpressions.scrub_all(col("text"))

    scored
      .join(flagsJoin, Seq("doc_id"), "left")
      .withColumn("drop_reasons", reasons)
      .withColumn("keep", size(col("drop_reasons")) === 0)
      .withColumn("scrubbed_text", scrubStruct.getField("scrubbed_text"))
      .withColumn("quality", round(quality, 6))
      .withColumn("fingerprint", doc_fingerprint(col("text")))
      .select(col("doc_id"), col("keep"), col("drop_reasons"),
        col("lang"), round(col("lang_conf"), 4).as("lang_conf"),
        round(col("ppl"), 4).as("ppl"), col("quality"),
        col("fingerprint"), col("scrubbed_text"))
  }

  /** Near-dup-flag table from the MinHash-LSH verified pairs: any doc
    * appearing as the LARGER id of a pair is a near-dup of an earlier
    * doc.
    */
  def nearDupIds(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                 threshold: Double = DocConfig().nearDupThreshold): DataFrame =
    Dedup.minHashPairs(docs.select(col(idCol), col(textCol)).toDF(idCol, textCol),
        textCol, idCol, threshold = threshold)
      .select(col("id_b").cast("long").as("doc_id")).distinct()

  def label(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
            cfg: DocConfig = DocConfig()): DataFrame =
    labelScored(
      score(docs, idCol, textCol),
      exactDupIds(docs, idCol, textCol),
      nearDupIds(docs, idCol, textCol, cfg.nearDupThreshold),
      cfg)
}

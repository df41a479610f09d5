package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextAlgos
import graft.lang.LangId
import graft.rules.RuleConfig._
import graft.schema.{ScoredTurn, Turn}

/** The quality-filter pipeline (north rule): typed Dataset in, labeled +
  * scrubbed DataFrame out.
  *
  * Shape (whole-stage-codegen throughout + one shuffle + windows + one
  * projection):
  *  1. Fused scoring projection (ScoreAllExpr, r7 — replaced the r6
  *     mapPartitions object pass): per-executor dense-table
  *     language-ID + perplexity, plus every per-turn text metric the
  *     rules need (norm length/hash, sentinel flag, symbol density,
  *     repetition ratio) — computed once per row while the String is
  *     already materialized, with no Turn/ScoredTurn serialization.
  *  2. ONE repartition by conv_id; all conversation windows ride that
  *     partitioning (no further exchanges). The exchange carries no
  *     partition count (REPARTITION_BY_COL), so AQE sizes its reduce
  *     side — tasks and output files — to the data: a checkpointed
  *     bucket gets a handful, not `spark.sql.shuffle.partitions` (the
  *     count used when AQE is off). Every window is conversation-
  *     scoped, so labels never depend on the count. The language vote
  *     shares the sequence windows' (conv, turn) sort AND Window operator
  *     (unbounded frame over the same spec): 2 intra-partition sorts
  *     and 2 Window operators total, over SLIM rows (no normalized
  *     text — see ScoredTurn).
  *  3. Final projection: rule flags → drop_reasons lineage array,
  *     normalized text recomputed + gated PII scrub chain + counts in
  *     one fused expression (ScrubAllExpr).
  *
  * Scale notes (SURVEY.md §4.2/§7.5): rules are literal-pattern
  * regexes / precomputed metrics (whole-stage codegen); the vote is a
  * window aggregate (no join, skew = one conversation's rows in one
  * partition, O(1) lag state); giant conversations cap the sort task
  * but never the hash-agg.
  */
object QualityFilter {

  /** Stage 1: fused model inference (language-ID + perplexity over the
    * per-executor dense union tables) + per-turn metrics in a single
    * codegen expression (north_star: "fastText language-ID, batched
    * inference" + KenLM-style perplexity). Values are bit-identical to
    * the round-6 mapPartitions object pass — ScoreAllExpr calls the
    * same normalize/score/turnMetrics functions — but the stage stays
    * inside whole-stage codegen: no Turn/ScoredTurn (de)serialization
    * per row, and the scan fuses straight into the conv_id exchange.
    * The two Projects below deliberately stay separate (CollapseProject
    * refuses to duplicate the non-cheap struct), so the expression runs
    * once per row and the field extraction is free column plumbing.
    */
  def score(ds: Dataset[Turn]): Dataset[ScoredTurn] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val sc = graft.functions.GraftExpressions.score_all(col("text")).as("__sc")
    ds.toDF()
      .select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
        col("tool"), col("ts"), sc)
      .select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
        col("tool"), col("ts"),
        col("__sc.lang").as("lang"),
        col("__sc.lang_conf").as("lang_conf"),
        col("__sc.ppl").as("ppl"),
        col("__sc.norm_len").as("norm_len"),
        col("__sc.norm_hash").as("norm_hash"),
        col("__sc.is_empty").as("is_empty"),
        col("__sc.sym_density").as("sym_density"),
        col("__sc.rep_ratio").as("rep_ratio"))
      .as[ScoredTurn]
  }

  /** Eligibility for model-based rules + the conversation language
    * vote: non-empty, long enough to carry signal, not a tool payload.
    */
  private[pipeline] def eligible: Column =
    !col("is_empty") && col("norm_len") >= PplMinChars &&
      !(col("role") <=> lit("tool"))

  /** Conversation language vote, shared by the windowed path below and
    * the giant-conversation path ([[SkewSplit]]): `langVote(l)` counts
    * a conversation's eligible turns in language `l` (aggregated per
    * conversation by the caller and named `cnt_<l>`), and `convLang`
    * picks the deterministic mode from those counts (count desc, lang
    * asc; "und" when no turn is eligible). The classifier's language
    * set is FIXED and small, so the mode is a handful of conditional
    * sums.
    */
  private[pipeline] def langVote(l: String): Column =
    sum(when(eligible && col("lang") === l, 1).otherwise(0))

  private[pipeline] def convLang: Column = {
    val langs = LangId.default.langs.toSeq
    val maxCnt = greatest(langs.map(l => col(s"cnt_$l")): _*)
    when(maxCnt > 0, coalesce(langs.map(l => when(col(s"cnt_$l") === maxCnt, lit(l))): _*))
      .otherwise(lit("und"))
  }

  def label(ds: Dataset[Turn]): DataFrame = labelScored(score(ds))

  /** OPT-IN data-driven perplexity bounds (SURVEY §7.1 sketch): the A8
    * IQR-outlier rule applied to the model score — exact distributed
    * quartiles (Stats.exactPercentiles: histogram selection, no
    * single-buffer percentile) of the ELIGIBLE turns' ppl, widened by
    * k·IQR. Pass the result to [[labelScored]]'s `pplBounds` to replace
    * the fixed PplMax threshold; the fixed threshold stays the
    * north-rule default.
    */
  def pplIqrBounds(scored: Dataset[ScoredTurn],
                   k: Double = PplIqrK): (Double, Double) = {
    val qs = graft.ops.Stats.exactPercentiles(
      scored.toDF().where(eligible), "ppl", Seq(0.25, 0.75))
    val iqr = qs(1) - qs(0)
    (qs(0) - k * iqr, qs(1) + k * iqr)
  }

  def labelScored(scored: Dataset[ScoredTurn],
                  pplBounds: Option[(Double, Double)] = None): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._

    val byConv = scored.repartition($"conv_id")

    val wSeq = Window.partitionBy($"conv_id").orderBy($"turn_idx")
    val wDup = Window.partitionBy($"conv_id", $"norm_hash").orderBy($"turn_idx")
    // The vote frame: whole conversation, expressed with wSeq's EXACT
    // (partition, order) spec plus an unbounded-unbounded frame — an
    // order-independent integer sum, so values equal the plain
    // (conv_id) window's, but CollapseWindow can now merge the vote
    // into the sequence Window operator (r6 ran a third WindowExec
    // pass — a full buffer-and-copy of the corpus — for the vote).
    val wConvFull = Window.partitionBy($"conv_id").orderBy($"turn_idx")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

    // Conversation language vote: sharing wSeq's (conv, turn) sort AND
    // its Window operator. Total intra-partition sorts in the whole
    // pipeline: 2 ((conv,norm_hash,turn) then (conv,turn)); total
    // Window operators: 2 (pinned by PipelinePlanSpec).
    // Each sum is projected ONCE as a named column and the vote is
    // derived downstream from the attributes: WindowExec does not CSE,
    // so inlining the sums into greatest/coalesce (the round-1 shape)
    // materialized 24 aggregate buffers for 4 distinct sums.
    val voteSums = LangId.default.langs.toSeq.map(l =>
      langVote(l).over(wConvFull).as(s"cnt_$l"))

    // ONE select holding every window expression: the analyzer groups
    // window functions by (partition, order) spec — the sequence
    // row_number/lags and the vote sums share (conv, turn) and land in
    // ONE Window operator (frames may differ within it); computing the
    // vote in a later select put a Project between the two Window
    // nodes, which blocks CollapseWindow and re-buffered the corpus in
    // a third WindowExec pass (r6 shape).
    val withWindows = byConv
      .select(col("*") +: (Seq(
        when($"is_empty", lit(1)).otherwise(row_number().over(wDup)).as("dup_rank"),
        (row_number().over(wSeq) === 1).as("is_first"),
        lag($"turn_idx", 1).over(wSeq).as("prev_idx"),
        lag($"ts", 1).over(wSeq).as("prev_ts")) ++ voteSums): _*)
      .withColumn("conv_lang", convLang)

    // rule evaluation + fused scrub projection shared with the
    // skew-split giant-conversation path (single implementation)
    SkewSplit.finishLabeling(withWindows, pplBounds)
  }

  /** End-to-end convenience: read parquet transcripts → labeled output. */
  def run(spark: SparkSession, inputPath: String): DataFrame = {
    import spark.implicits._
    label(spark.read.schema(Turn.schema).parquet(inputPath).as[Turn])
  }

  /** Parameters of the OPT-IN conversation-level near-dup drop stage
    * (`drop:conv_neardup`): the text-free scale path
    * ([[graft.ops.Dedup.conversationMinHashPairs]] — per-turn MinHash
    * signatures min-combined per conversation, keys-only shuffles,
    * exact verify on LSH candidates only). Default banding is 16 bands
    * × 4 rows over 64 hashes: tuned so the s-curve is steep AROUND the
    * verify threshold (recall ≈ 0.99 at jaccard 0.7, ≈ 1 above 0.8)
    * instead of flooding the candidate stage with low-similarity
    * collisions (the 32×2 banding collided on 73% of jaccard-0.2
    * pairs — see the measurement note in Dedup.conversationMinHashPairs
    * and the cd3 recall oracle).
    */
  final case class ConvNearDupConfig(
      numHashes: Int = 64, bands: Int = 16, shingleK: Int = 3,
      threshold: Double = 0.7, maxBucket: Int = 256)

  /** Conversations to DROP under the conv-near-dup rule: the
    * non-survivor (lexicographically larger) side of every verified
    * pair — greedy min-id survivors, the exact-dedup convention. One
    * global stage: pairs can cross any bucketing of the corpus, so a
    * bucketed runner computes this ONCE over the full input
    * (CheckpointedRun) and applies it per bucket.
    */
  def convNearDupDropIds(turns: DataFrame,
                         cfg: ConvNearDupConfig = ConvNearDupConfig()): DataFrame =
    graft.ops.Dedup.conversationMinHashPairs(turns,
        numHashes = cfg.numHashes, bands = cfg.bands,
        shingleK = cfg.shingleK, threshold = cfg.threshold,
        maxBucket = cfg.maxBucket)
      .select(col("id_b").as("conv_id")).distinct()

  /** Apply the opt-in conversation near-dup rule to a labeled frame:
    * every turn of a dropped conversation gets keep=false and
    * RuleConvNearDup appended (LAST — conversation-level rules follow
    * the per-turn RuleOrder) to its lineage array. One left join on
    * conv_id; AQE broadcasts the dropped-id side when its runtime size
    * allows (no hard hint — on a clone-heavy corpus the set is
    * O(#conversations)).
    */
  def withConvNearDup(labeled: DataFrame, droppedConvs: DataFrame): DataFrame =
    withFlag(labeled, droppedConvs.select(col("conv_id")), RuleConvNearDup)

  /** Shared tail of the opt-in flag rules: rows of `labeled` matching a
    * key row of `flagged` (joined on all of its columns) get keep=false
    * and `rule` appended to their lineage array. `flagged` must hold
    * each key once — the flag is set membership, never a row
    * multiplier.
    */
  private def withFlag(labeled: DataFrame, flagged: DataFrame, rule: String): DataFrame =
    labeled.join(flagged.withColumn("__flag", lit(true)), flagged.columns.toSeq, "left")
      .withColumn("drop_reasons",
        when(col("__flag"), concat(col("drop_reasons"), array(lit(rule))))
          .otherwise(col("drop_reasons")))
      .withColumn("keep", col("keep") && !coalesce(col("__flag"), lit(false)))
      .drop("__flag")

  /** Parameters of the OPT-IN cross-conversation boilerplate rule
    * (`drop:boilerplate` — see [[graft.rules.RuleConfig.RuleBoilerplate]]).
    */
  final case class BoilerplateConfig(minConvs: Int = BoilerplateMinConvs,
                                     minLen: Int = BoilerplateMinLen)

  /** Census tail shared by both drop-key entry points: `keyed` must
    * carry (conv_id, turn_idx, role, norm_hash, norm_len, is_empty).
    * Two keys-only shuffles — distinct (norm_hash, conv_id) 16-byte
    * pairs, then the per-hash conversation count — and a semi-join of
    * eligible turns against the flagged-hash set (small by
    * construction: only hashes repeated across conversations survive,
    * so AQE broadcasts it).
    */
  private def boilerplateKeysFromMetrics(keyed: DataFrame,
                                         cfg: BoilerplateConfig): DataFrame = {
    val el = keyed
      .where(!col("is_empty") && col("norm_len") >= cfg.minLen &&
        !(col("role") <=> lit("tool")))
      .select(col("conv_id"), col("turn_idx"), col("norm_hash"))
    val census = el.select(col("norm_hash"), col("conv_id")).distinct()
      .groupBy(col("norm_hash")).agg(count(lit(1)).as("n_convs"))
      .where(col("n_convs") >= cfg.minConvs)
      .select(col("norm_hash"))
    el.join(census, Seq("norm_hash"), "left_semi")
      .select(col("conv_id"), col("turn_idx"))
  }

  /** Turn keys to DROP under the boilerplate rule, from the scored
    * stage (norm_hash/norm_len/is_empty are already columns — no text
    * is reprocessed or shuffled).
    */
  def boilerplateDropKeys(scored: Dataset[ScoredTurn],
                          cfg: BoilerplateConfig = BoilerplateConfig()): DataFrame =
    boilerplateKeysFromMetrics(scored.toDF(), cfg)

  /** The same drop keys from RAW turns, skipping model inference: the
    * census needs only the normalization metrics, and those come from
    * the calls `score` makes — GraftExpressions.normalized for
    * norm_len/is_empty, the TextAlgos.turnMetrics hash for norm_hash —
    * so the keys equal `boilerplateDropKeys(score(ds))` (pinned by
    * RulesSpec). This is the bucketed runner's entry point — a full
    * scoring pass over the corpus just to census hashes would double
    * its model cost.
    */
  def boilerplateDropKeysRaw(turns: Dataset[Turn],
                             cfg: BoilerplateConfig = BoilerplateConfig()): DataFrame = {
    val spark = turns.sparkSession
    import spark.implicits._
    val keyed = turns.mapPartitions { it =>
      it.map { t =>
        val (norm, normLen, isEmpty) = graft.functions.GraftExpressions.normalized(t.text)
        (t.conv_id, t.turn_idx, t.role,
          TextAlgos.turnMetrics(norm, RepetitionOrder)._2, normLen, isEmpty)
      }
    }.toDF("conv_id", "turn_idx", "role", "norm_hash", "norm_len", "is_empty")
    boilerplateKeysFromMetrics(keyed, cfg)
  }

  /** Parameters of the OPT-IN benchmark-decontamination rule
    * (`drop:contaminated` — [[graft.rules.RuleConfig.RuleContaminated]]):
    * word n-gram overlap against a held-out evaluation set, detected by
    * [[graft.ops.Decontaminate]] (broadcast gram set + map-only corpus
    * pass below `maxBroadcastGrams`; keys-only join fallback above it).
    * `benchPath` is the parquet directory of the eval set — recorded in
    * labeling.cfg so a resume against different decontamination
    * settings fails fast.
    */
  final case class ContaminationConfig(
      benchPath: String, benchTextCol: String = "text",
      n: Int = 8, minMatches: Int = 1,
      maxBroadcastGrams: Long = 1L << 26)

  /** Turn keys to DROP under the decontamination rule: (conv_id,
    * turn_idx) of every turn whose text shares ≥ `minMatches` distinct
    * word n-grams with the benchmark set. The per-row key is the
    * (conv_id, turn_idx) struct, so duplicate conv ids, null ids, and
    * original id types all pass through Decontaminate untouched — the
    * detection itself is the dc1 machinery (map-only under the
    * broadcast gate; never shuffles corpus text).
    *
    * The rule is per-turn (a turn's contamination depends only on its
    * own text and the bench set), so unlike the census rules it would
    * be CORRECT per bucket — it is still computed once corpus-wide by
    * the bucketed runner so the benchmark gram set is built and
    * gated once, not once per bucket.
    */
  def contaminatedTurnKeys(turns: DataFrame, bench: DataFrame,
                           cfg: ContaminationConfig,
                           textCol: String = "text"): DataFrame =
    graft.ops.Decontaminate.decontaminate(
        turns.select(struct(col("conv_id"), col("turn_idx")).as("__k"),
          col(textCol)),
        bench.select(col(cfg.benchTextCol).as(textCol)),
        textCol, "__k", n = cfg.n, minMatches = cfg.minMatches,
        maxBroadcastGrams = cfg.maxBroadcastGrams)
      .where(col("contaminated"))
      .select(col("__k.conv_id").as("conv_id"),
        col("__k.turn_idx").as("turn_idx"))

  /** Apply the opt-in decontamination rule to a labeled frame: flagged
    * (conv_id, turn_idx) turns get keep=false and RuleContaminated
    * appended to the lineage array (after boilerplate, before
    * conv_neardup). Same join shape as [[withBoilerplate]]: the labeled
    * side's hash(conv_id) partitioning already clusters the keys, only
    * the small flagged side moves.
    */
  def withContaminated(labeled: DataFrame, droppedTurns: DataFrame): DataFrame =
    // distinct: contaminatedTurnKeys emits one row per corpus ROW (the
    // Decontaminate contract), so duplicate (conv_id, turn_idx) inputs
    // would otherwise multiply labeled rows through the join
    withFlag(labeled, droppedTurns.select(col("conv_id"), col("turn_idx")).distinct(),
      RuleContaminated)

  /** Apply the opt-in boilerplate rule to a labeled frame: flagged
    * (conv_id, turn_idx) turns get keep=false and RuleBoilerplate
    * appended to the lineage array (after the per-turn RuleOrder;
    * when composed with the conv-near-dup rule, apply boilerplate
    * FIRST so turn-level reasons precede conversation-level ones).
    * The join clusters on (conv_id, turn_idx), which the labeled
    * side's existing hash(conv_id) partitioning already satisfies —
    * only the small flagged side moves.
    */
  def withBoilerplate(labeled: DataFrame, droppedTurns: DataFrame): DataFrame =
    // distinct for the same reason as withContaminated
    withFlag(labeled, droppedTurns.select(col("conv_id"), col("turn_idx")).distinct(),
      RuleBoilerplate)
}

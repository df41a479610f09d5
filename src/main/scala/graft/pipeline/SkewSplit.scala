package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.lang.LangId
import graft.rules.RuleConfig._
import graft.schema.ScoredTurn

/** Explicit skew handling for pathological conversations (north rule:
  * "conv_id skew handled with salted repartitioning and AQE").
  *
  * Window functions need every row of a partition key in one task, so a
  * conversation with tens of millions of turns caps the window stage at
  * one straggler task no matter how many executors exist. AQE's skew
  * split only fixes JOINS, not windows — so we split explicitly:
  *
  *  1. conversation sizes via groupBy(conv_id).count — partial-agg'd,
  *     inherently skew-proof ([[giantCensus]]);
  *  2. [[route]] sends conversations ≤ maxTurns down the standard
  *     single-sort window path ([[QualityFilter.labelScored]]);
  *  3. giant conversations take a range-bucketed path: turns are salted
  *     into (conv_id, turn_idx / maxTurns) buckets — windows partition
  *     on the salted key, so a 10M-turn conversation becomes many
  *     bounded tasks. The sequential rules (contiguity, ts-regression,
  *     first-turn) need one row of cross-bucket state: the last row of
  *     each bucket, carried by a per-bucket boundary table (rows =
  *     #buckets, tiny) lag-joined back on the salted key. The language
  *     vote becomes a two-phase aggregation + broadcast join (giant
  *     conversations are by definition few). Duplicate ranking already
  *     partitions by (conv_id, norm_hash), which spreads giant
  *     conversations naturally.
  *
  * Both paths produce identical labels (SkewSpec asserts equality with
  * the golden oracle and with the unsplit pipeline).
  */
object SkewSplit {

  /** Above this many giant conversations the collected id set stops
    * being "tiny": [[giantCensus]] reports an overflow and [[route]]
    * matches giants with an IN-subquery instead of an inlined list.
    * Overridable per call via the `maxCollectedGiants` parameter (tests
    * exercise the overflow path with a tiny bound instead of 65k+ giant
    * conversations).
    */
  private[graft] val MaxCollectedGiants = 65536

  def label(ds: Dataset[graft.schema.Turn], maxTurns: Int,
            pplBounds: Option[(Double, Double)] = None,
            maxCollectedGiants: Int = MaxCollectedGiants): DataFrame = {
    val giants = giantCensus(ds, maxTurns, maxCollectedGiants, lit(0))
      .map(_.getOrElse(0, Array.empty[String]))
    route(QualityFilter.score(ds), maxTurns, giants, pplBounds)
  }

  /** Conversations of `ds` with more than `maxTurns` rows. */
  private def giantConvs(ds: Dataset[_], maxTurns: Int): DataFrame =
    ds.groupBy(col("conv_id")).agg(count(lit(1)).as("n_turns"))
      .where(col("n_turns") > maxTurns).select(col("conv_id"))

  /** Giant conversation ids, grouped by `key` (an int column over
    * conv_id, e.g. a runner's bucket column) — or None when there are
    * more than `maxCollectedGiants` of them. Column pruning reduces the
    * scan to conv_id, so scoring never runs here. The collect is
    * LIMIT-bounded: a degenerate corpus where "most conversations are
    * giant" overflows without ever pulling the unbounded id list to the
    * driver (an unbounded collect guarded only afterwards would OOM
    * first).
    */
  private[pipeline] def giantCensus(ds: Dataset[_], maxTurns: Int,
                                    maxCollectedGiants: Int,
                                    key: Column): Option[Map[Int, Array[String]]] = {
    import ds.sparkSession.implicits._
    val rows = giantConvs(ds, maxTurns)
      .select(col("conv_id"), key.cast("int"))
      .limit(maxCollectedGiants + 1)
      .as[(String, Int)].collect()
    if (rows.length > maxCollectedGiants) None
    else Some(rows.groupBy(_._2).map { case (k, rs) => k -> rs.map(_._1) })
  }

  /** Label a scored frame, splitting off conversations above `maxTurns`
    * into the range-bucketed path. `giants` is the census result for
    * exactly these rows: an empty list (or `maxTurns <= 0`) takes the
    * standard path with zero split overhead; a list routes with an
    * inlined InSet literal; None (census overflow) routes with an
    * IN-subquery over this frame's own census, which plans as one
    * ExistenceJoin per branch consumer (AQE picks broadcast vs shuffle
    * from the runtime size — the set is large by definition here).
    *
    * Routing is over scored rows, yet on an unpersisted scored frame
    * the conv_id filter (and the ExistenceJoin) push below the scoring
    * projection — scoring is per-row pure — so each branch scores only
    * its own rows. On a persisted frame both branches read the cached
    * rows.
    */
  def route(scored: Dataset[ScoredTurn], maxTurns: Int,
            giants: Option[Array[String]],
            pplBounds: Option[(Double, Double)] = None): DataFrame = {
    if (maxTurns <= 0 || giants.exists(_.isEmpty))
      return QualityFilter.labelScored(scored, pplBounds)

    val inGiants = giants match {
      case Some(ids) => col("conv_id").isin(ids.toSeq: _*)
      case None => col("conv_id").isin(giantConvs(scored, maxTurns))
    }
    // null conv_id routes to the normal path: IN is null on null input,
    // hence the coalesce. The normal branch negates the coalesced flag —
    // `coalesce(NOT IN, true)` would plan a null-aware
    // BroadcastNestedLoopJoin for the subquery form
    val isGiant = coalesce(inGiants, lit(false))
    QualityFilter.labelScored(scored.where(!isGiant), pplBounds)
      .unionByName(labelGiant(scored.where(isGiant), maxTurns, pplBounds))
  }

  /** Bucketed-window labeling for giant conversations. Semantics are
    * identical to QualityFilter.labelScored; only the physical window
    * partitioning differs.
    */
  private[pipeline] def labelGiant(scored: Dataset[ScoredTurn], bucketTurns: Int,
                                   pplBounds: Option[(Double, Double)] = None): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._

    val bucketed = scored.withColumn("bkt", floor($"turn_idx" / bucketTurns))

    // windows over the SALTED key — giant conversations split into
    // bounded tasks
    val wBkt = Window.partitionBy($"conv_id", $"bkt").orderBy($"turn_idx")
    val wDup = Window.partitionBy($"conv_id", $"norm_hash").orderBy($"turn_idx")

    val local = bucketed
      .withColumn("dup_rank",
        when($"is_empty", lit(1)).otherwise(row_number().over(wDup)))
      .withColumn("rn_bkt", row_number().over(wBkt))
      .withColumn("prev_idx_l", lag($"turn_idx", 1).over(wBkt))
      .withColumn("prev_ts_l", lag($"ts", 1).over(wBkt))

    // cross-bucket state: last row of each (conv, bucket), lagged over
    // the (tiny) per-bucket table so each bucket sees its predecessor's
    // boundary even across empty buckets (turn_idx gaps)
    val wConvBkt = Window.partitionBy($"conv_id").orderBy($"bkt")
    val boundaries = bucketed
      .groupBy($"conv_id", $"bkt")
      .agg(max(struct($"turn_idx", $"ts")).as("last"))
      .select($"conv_id", $"bkt",
        lag($"last".getField("turn_idx"), 1).over(wConvBkt).as("prev_idx_b"),
        lag($"last".getField("ts"), 1).over(wConvBkt).as("prev_ts_b"),
        lag($"bkt", 1).over(wConvBkt).isNull.as("first_bkt"))

    // boundary value selected by ROW POSITION, not null-coalescing:
    // lag(ts) is null both for "first row of bucket" and "predecessor
    // has null ts" — coalescing would substitute the previous bucket's
    // boundary ts for an in-bucket null predecessor and fire
    // RuleTsRegress where the unsplit path (compare against the
    // immediate predecessor, skip on null) would not
    val withPrev = local
      .join(boundaries, Seq("conv_id", "bkt"))
      .withColumn("is_first", $"first_bkt" && $"rn_bkt" === 1)
      .withColumn("prev_idx", when($"rn_bkt" === 1, $"prev_idx_b").otherwise($"prev_idx_l"))
      .withColumn("prev_ts", when($"rn_bkt" === 1, $"prev_ts_b").otherwise($"prev_ts_l"))

    // language vote: two-phase aggregation (map-side combine soaks the
    // skew) + broadcast join back (few giant conversations)
    val voteAggs = LangId.default.langs.toSeq.map(l =>
      QualityFilter.langVote(l).as(s"cnt_$l"))
    val votes = bucketed.groupBy($"conv_id").agg(voteAggs.head, voteAggs.tail: _*)
    val voteTable = votes.select($"conv_id", QualityFilter.convLang.as("conv_lang"))

    val withVote = withPrev.join(broadcast(voteTable), Seq("conv_id"))

    finishLabeling(withVote, pplBounds)
  }

  /** Rule evaluation + scrub — shared semantics, expressed over the
    * prev/first/dup/conv_lang columns whichever path produced them.
    *
    * `pplBounds`: optional data-driven perplexity interval (the IQR
    * variant, QualityFilter.pplIqrBounds) — None keeps the fixed
    * PplMax north-rule default.
    */
  private[graft] def finishLabeling(df: DataFrame,
                                    pplBounds: Option[(Double, Double)] = None): DataFrame = {
    val empty = col("is_empty")
    val notTool = !(col("role") <=> lit("tool"))
    val pplViolation = pplBounds match {
      case Some((lo, hi)) => col("ppl") < lo || col("ppl") > hi
      case None => col("ppl") > PplMax
    }
    val preds: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      RuleEmpty -> empty,
      RuleLength -> (!empty && (col("norm_len") < MinLen || col("norm_len") > MaxLen)),
      RuleSymbol -> (!empty && notTool && col("norm_len") >= SymbolDensityMinLen &&
        col("sym_density") > SymbolDensityThreshold),
      RuleRepetition -> (!empty && notTool &&
        col("norm_len") >= RepetitionMinGrams + RepetitionOrder - 1 &&
        col("rep_ratio") < RepetitionDistinctMin),
      RuleBadRole -> (col("role").isNull || !col("role").isin(AllowedRoles.toSeq: _*)),
      RuleBadTool -> ((col("tool").isNotNull &&
        !coalesce(col("role").isin(ToolBearingRoles.toSeq: _*), lit(false))) ||
        (col("role") <=> lit("tool") && col("tool").isNull)),
      RuleNonContiguous -> (when(col("is_first"), col("turn_idx") =!= 0)
        .otherwise(col("turn_idx") =!= col("prev_idx") + 1)),
      RuleTsRegress -> (!col("is_first") && col("ts").isNotNull &&
        col("prev_ts").isNotNull && col("ts") < col("prev_ts")),
      RuleDuplicate -> (!empty && col("dup_rank") > 1),
      RuleLang -> (QualityFilter.eligible && !col("lang").isin(AllowedLangs.toSeq: _*) &&
        (col("lang_conf") >= LangDropConf ||
          !col("conv_lang").isin(AllowedLangs.toSeq: _*))),
      RulePpl -> (QualityFilter.eligible && pplViolation)
    )
    require(preds.map(_._1) == RuleOrder, "rule order drift vs RuleConfig")

    val reasons = array_compact(array(
      preds.map { case (name, p) => when(p, lit(name)) }: _*))
    val countsMap = map(
      ScrubChain.flatMap { case (rule, _, _) =>
        Seq(lit(rule), col("scrub_struct").getField(s"c_$rule"))
      }: _*)

    df.withColumn("scrub_struct", graft.functions.GraftExpressions.scrub_all(col("text")))
      .withColumn("drop_reasons", reasons)
      .withColumn("keep", size(col("drop_reasons")) === 0)
      .withColumn("scrubbed_text", col("scrub_struct").getField("scrubbed_text"))
      .withColumn("scrub_counts", countsMap)
      .select(
        col("conv_id"), col("turn_idx"), col("role"), col("text"), col("tool"), col("ts"),
        col("keep"), col("drop_reasons"), col("scrubbed_text"),
        col("lang"), col("lang_conf"), col("ppl"), col("scrub_counts"))
  }
}

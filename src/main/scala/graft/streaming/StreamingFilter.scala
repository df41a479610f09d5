package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.pipeline.{QualityFilter, SkewSplit}
import graft.rules.RuleConfig
import graft.schema.{ScoredTurn, Turn}

/** Per-conversation streaming state: the O(1)-ish summary the
  * conversation rules need — last seen turn index/timestamp, the
  * norm-hashes seen so far (capped), and the language vote counts.
  */
final case class ConvState(
    prevIdx: Int,
    prevTsMicros: Option[Long],
    hashes: Seq[Long],
    cnts: Map[String, Int],
    started: Boolean)

/** A scored turn + the conversation-state columns the shared rule
  * evaluator (SkewSplit.finishLabeling) consumes.
  */
final case class StatefulScoredTurn(
    conv_id: String, turn_idx: Int, role: String, text: String, tool: String,
    ts: Timestamp, lang: String, lang_conf: Double, ppl: Double,
    norm_len: Int, norm_hash: Long, is_empty: Boolean,
    sym_density: Double, rep_ratio: Double,
    is_first: Boolean, prev_idx: Option[Int], prev_ts: Option[Timestamp],
    dup_rank: Int, conv_lang: String)

/** Structured Streaming front-end for the quality filter.
  *
  * The reference is strictly request-scoped batch and the north rule is
  * batch with snapshot resume (SURVEY.md §2.9), so streaming is a
  * CAPABILITY wrapper, not the primary path. Semantics: the per-turn
  * STATELESS rule subset (sentinels, length, symbol density,
  * repetition, role/tool dictionary, turn-confidence language, ppl) +
  * the full PII scrub chain. Conversation-scoped rules (contiguity,
  * ts-regression, in-conversation dedup, conversation vote) need
  * cross-row state per conv_id and are the batch pipeline's job; here
  * their state columns are pinned to neutral values so the shared rule
  * evaluator never fires them (and the turn-level language rule drops
  * only on its own confidence).
  *
  * The scoring pass is the same code as batch: [[QualityFilter.score]]'s
  * fused ScoreAllExpr projection — a per-row expression, so
  * streaming-safe (no state).
  */
object StreamingFilter {

  /** readStream(Dataset[Turn]) → labeled stream (stateless subset). */
  def label(stream: Dataset[Turn]): DataFrame = {
    val scored = QualityFilter.score(stream)
    val neutral = scored
      .withColumn("is_first", lit(false))
      .withColumn("prev_idx", col("turn_idx") - 1)
      .withColumn("prev_ts", lit(null).cast("timestamp"))
      .withColumn("dup_rank", lit(1))
      .withColumn("conv_lang", lit(graft.rules.RuleConfig.AllowedLangs.min))
    SkewSplit.finishLabeling(neutral)
  }

  /** Event-time metrics stream: kept/dropped counts per 5-minute
    * window with a 10-minute watermark (late rows beyond the watermark
    * are dropped from the aggregation, standard streaming semantics).
    */
  def metrics(labeled: DataFrame): DataFrame =
    labeled
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("keep"))
      .agg(count(lit(1)).as("n_turns"),
        sum(size(col("drop_reasons"))).as("n_reasons"))

  /** Cap on remembered norm-hashes per conversation: a conversation
    * with more distinct texts than this stops gaining new dedup
    * coverage (bounded state is non-negotiable at 10^12-turn scale).
    */
  val DedupStateCap = 8192

  /** STATEFUL streaming labeling: the conversation-scoped rules
    * (contiguity, ts-regression, in-conversation dedup, language vote)
    * evaluated with flatMapGroupsWithState keyed by conv_id — the
    * north-star's "KeyValueGroupedDataset.flatMapGroupsWithState for
    * custom state".
    *
    * Semantics are the batch rules under PREFIX state: each turn sees
    * the conversation as accumulated so far (dup = hash seen before;
    * vote = counts up to and including this turn; prev = last turn
    * processed). A whole-conversation batch run remains the authority —
    * on an in-order, complete stream the two agree except for the vote
    * on early turns of mixed-language conversations (StreamingSpec
    * pins the equivalence on in-order input). Out-of-order WITHIN a
    * micro-batch is handled (rows are processed in turn_idx order);
    * across micro-batches the contiguity rule flags regressions, as a
    * quality filter should.
    *
    * State is expired `stateTtl` past the event-time watermark
    * (`watermarkDelay`), so idle conversations stop occupying the
    * state store.
    */
  def statefulLabel(stream: Dataset[Turn],
                    watermarkDelay: String = "10 minutes",
                    stateTtl: String = "1 hour"): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    val langs = graft.lang.LangId.default.langs.toSeq.sorted
    val ttlMs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(stateTtl))
    // the watermark tags the SCORED frame's ts (the scoring projection
    // passes ts through unchanged) — the frame the stateful operator
    // below consumes
    val scored = QualityFilter.score(stream)
      .withWatermark("ts", watermarkDelay).as[ScoredTurn]

    def eligible(t: ScoredTurn): Boolean =
      !t.is_empty && t.norm_len >= RuleConfig.PplMinChars && t.role != "tool"

    val labeled = scored
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (convId: String, rows: Iterator[ScoredTurn], state: GroupState[ConvState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(
              ConvState(prevIdx = -1, prevTsMicros = None, hashes = Nil,
                cnts = Map.empty, started = false))
            val seen = scala.collection.mutable.LinkedHashSet.from(st.hashes)
            val cnts = scala.collection.mutable.Map.from(st.cnts)
            // micros, not millis: batch lag(ts) compares full timestamp
            // precision, so RuleTsRegress parity needs it preserved
            def toMicros(ts: Timestamp): Long =
              ts.getTime / 1000 * 1000000L + ts.getNanos / 1000
            def fromMicros(us: Long): Timestamp = {
              val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
              t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
              t
            }
            var maxEventMs = 0L
            val out = rows.toArray.sortBy(_.turn_idx).iterator.map { t =>
              if (t.ts != null) maxEventMs = math.max(maxEventMs, t.ts.getTime)
              val isFirst = !st.started
              val dupRank =
                if (t.is_empty) 1
                else if (seen.contains(t.norm_hash)) 2
                else { if (seen.size < DedupStateCap) seen.add(t.norm_hash); 1 }
              if (eligible(t) && langs.contains(t.lang))
                cnts.update(t.lang, cnts.getOrElse(t.lang, 0) + 1)
              val convLang =
                if (cnts.isEmpty) "und"
                else { val m = cnts.values.max; langs.find(l => cnts.getOrElse(l, 0) == m).get }
              val row = StatefulScoredTurn(
                t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts,
                t.lang, t.lang_conf, t.ppl, t.norm_len, t.norm_hash, t.is_empty,
                t.sym_density, t.rep_ratio,
                is_first = isFirst,
                prev_idx = if (isFirst) None else Some(st.prevIdx),
                prev_ts = if (isFirst) None else st.prevTsMicros.map(fromMicros),
                dup_rank = dupRank,
                conv_lang = convLang)
              st = ConvState(t.turn_idx, Option(t.ts).map(toMicros),
                st.hashes, st.cnts, started = true)
              row
            }.toArray
            state.update(ConvState(st.prevIdx, st.prevTsMicros, seen.toSeq,
              cnts.toMap, started = true))
            // expire the conversation stateTtl past the event-time clock.
            // The watermark visible DURING a batch lags one batch behind —
            // it is 0 for the whole first micro-batch — so anchor on
            // max(watermark, this batch's own event times): anchoring on
            // the stale watermark alone set epoch+ttl timeouts that
            // evicted every first-batch conversation as soon as the
            // watermark advanced to real time
            val anchor = math.max(state.getCurrentWatermarkMs(), maxEventMs)
            if (anchor > 0)
              state.setTimeoutTimestamp(anchor +
                org.apache.spark.sql.catalyst.util.IntervalUtils.getDuration(
                  ttlMs, java.util.concurrent.TimeUnit.MILLISECONDS))
            out.iterator
          }
        })
    SkewSplit.finishLabeling(labeled.toDF())
  }
}

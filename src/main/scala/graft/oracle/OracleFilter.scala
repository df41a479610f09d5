package graft.oracle

import scala.collection.mutable

import graft.functions.TextAlgos
import graft.lang.LangId
import graft.rules.RuleConfig._
import graft.schema.{LabeledTurn, Turn}
import graft.scrub.Scrub

/** Sequential, obviously-correct golden implementation of the quality
  * filter. Shares ONLY the rule constants ([[graft.rules.RuleConfig]]),
  * the scrub chain, and the model code with the distributed pipeline;
  * control flow here is plain loops over in-memory collections. The
  * ScalaTest golden suite asserts per-turn exact equality between this
  * and [[graft.pipeline.QualityFilter]] under stable
  * (conv_id, turn_idx) ordering (BASELINE.json `metric`).
  */
object OracleFilter {

  def run(turns: Seq[Turn]): Seq[LabeledTurn] = {
    val byConv = turns.groupBy(_.conv_id)
    byConv.toSeq.sortBy(_._1).flatMap { case (_, ts) =>
      labelConv(ts.sortBy(_.turn_idx))
    }
  }

  private def isEmpty(text: String, norm: String): Boolean =
    text == null || Sentinels.contains(norm)

  private def eligible(t: Turn, norm: String): Boolean =
    !isEmpty(t.text, norm) && norm.length >= PplMinChars && t.role != "tool"

  private def labelConv(conv: Seq[Turn]): Seq[LabeledTurn] = {
    val norms = conv.map(t => Scrub.normalizeWsPlain(t.text))

    // model scores (same fused scorer singleton as the pipeline)
    val scores = norms.map(graft.lm.TurnScorer.default.score)

    // conversation language vote (count desc, lang asc)
    val votes = mutable.Map.empty[String, Int]
    conv.indices.foreach { i =>
      if (eligible(conv(i), norms(i)))
        votes(scores(i)._1) = votes.getOrElse(scores(i)._1, 0) + 1
    }
    val convLang =
      if (votes.isEmpty) "und"
      else votes.toSeq.sortBy { case (l, n) => (-n, l) }.head._1

    // duplicate ranks: occurrence index per 64-bit norm_text hash within
    // the conv (turn order = turn_idx order, which `conv` already is).
    // The pipeline groups by the same 64-bit hash (slim window rows),
    // so parity holds exactly — even under a hash collision.
    val seen = mutable.Map.empty[Long, Int]
    val metrics = norms.map(n => TextAlgos.turnMetrics(n, RepetitionOrder))
    val dupRanks = conv.indices.map { i =>
      val key = metrics(i)._2
      val r = seen.getOrElse(key, 0) + 1
      seen(key) = r
      r
    }

    conv.indices.map { i =>
      val t = conv(i)
      val norm = norms(i)
      val (lang, conf, ppl) = scores(i)
      val empty = isEmpty(t.text, norm)
      val nLen = if (norm == null) 0 else norm.length
      val elig = eligible(t, norm)

      val reasons = mutable.ArrayBuffer.empty[String]
      if (empty) reasons += RuleEmpty
      if (!empty && (nLen < MinLen || nLen > MaxLen)) reasons += RuleLength
      if (!empty && t.role != "tool" && nLen >= SymbolDensityMinLen &&
          metrics(i)._1 > SymbolDensityThreshold)
        reasons += RuleSymbol
      if (!empty && t.role != "tool" && nLen >= RepetitionMinGrams + RepetitionOrder - 1 &&
          metrics(i)._3 < RepetitionDistinctMin)
        reasons += RuleRepetition
      if (t.role == null || !AllowedRoles.contains(t.role)) reasons += RuleBadRole
      if ((t.tool != null && !ToolBearingRoles.contains(t.role)) ||
          (t.role == "tool" && t.tool == null)) reasons += RuleBadTool
      val contiguityViolated =
        if (i == 0) t.turn_idx != 0
        else t.turn_idx != conv(i - 1).turn_idx + 1
      if (contiguityViolated) reasons += RuleNonContiguous
      if (i > 0 && t.ts != null && conv(i - 1).ts != null &&
          t.ts.before(conv(i - 1).ts)) reasons += RuleTsRegress
      if (!empty && dupRanks(i) > 1) reasons += RuleDuplicate
      if (elig && !AllowedLangs.contains(lang) &&
          (conf >= LangDropConf || !AllowedLangs.contains(convLang)))
        reasons += RuleLang
      if (elig && ppl > PplMax) reasons += RulePpl

      val (scrubbed, counts) = Scrub.scrubPlain(norm)
      LabeledTurn(t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts,
        keep = reasons.isEmpty, drop_reasons = reasons.toSeq,
        scrubbed_text = scrubbed, lang = lang, lang_conf = conf, ppl = ppl,
        scrub_counts = counts)
    }
  }
}

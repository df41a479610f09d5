package graft.rules

/** Single source of truth for every rule constant: sentinel lists, regex
  * patterns, thresholds, and the scrub order. Both the distributed
  * pipeline (graft.pipeline.QualityFilter) and the sequential golden
  * oracle (graft.oracle.OracleFilter) read ONLY these constants, so the
  * two implementations can only diverge on engine semantics, never on
  * rule definitions (SURVEY.md §7.5 hard-part #1).
  *
  * Regex provenance (reference, re-expressed in Java regex dialect):
  *  - sentinels: DataGuardianApp/db_configs/functions.sql:1541-1544
  *  - superfluous whitespace: db_configs/data_types.json:3-7 (`\s{2,}`)
  *  - letter repetition:      db_configs/data_types.json:8-12
  *  - special characters:     db_configs/data_types.json:13-17
  *  - email:                  db_configs/data_types.json:128-132
  *  - phone:                  db_configs/data_types.json:133-137 and
  *                            DataGuardianApp/models.py:49
  * Key/slur patterns are north_star additions with no reference analog.
  */
object RuleConfig {

  // ---------------------------------------------------------------- drops

  /** Missing-value sentinels (functions.sql:1541-1544): compared against
    * the trimmed text, case-sensitively (the reference matches
    * case-sensitive and untrimmed; we additionally trim so that a padded
    * sentinel like "' - '" still counts as missing — the reference's
    * correction pass C1 (utils.py:1444-1448) null-outs padded variants
    * too).
    */
  val Sentinels: Set[String] =
    Set("MISSINGVALUE", "NULL", "-", "=", "!", "?", "nan", "")

  /** Length bounds (chars of the normalized text). Analog of the min/max
    * length profile (functions.sql:158-314) turned into a keep/drop rule.
    */
  val MinLen = 2
  val MaxLen = 8000

  /** Symbol density: fraction of chars that are neither letter, digit
    * nor whitespace. Analog of the special-character anomaly
    * (data_types.json:13-17, functions.sql:1050-1085).
    */
  val SymbolDensityThreshold = 0.30
  val SymbolDensityMinLen = 10

  /** Repetition: fraction of DISTINCT char trigrams among all char
    * trigrams of the lowercased normalized text. Low distinct fraction =
    * repetitive (analog of `([a-zA-Z])\1{2,}`, data_types.json:8-12,
    * generalized to n-gram repetition which also catches "ab ab ab ...").
    */
  val RepetitionOrder = 3
  val RepetitionMinGrams = 24
  val RepetitionDistinctMin = 0.30

  /** Allowed role values; the dictionary-membership rule (anti-join vs
    * bf_* fact tables, functions.sql:1622-1634) recast for transcripts.
    */
  val AllowedRoles: Set[String] = Set("system", "user", "assistant", "tool")

  /** Roles that may carry a non-null `tool` value. */
  val ToolBearingRoles: Set[String] = Set("assistant", "tool")

  /** Language filter: allowed language set + the minimum classifier
    * confidence required to drop a turn for being out-of-set. A turn is
    * dropped when BOTH its own predicted language and its conversation's
    * majority language are outside the allowed set, or when its own
    * prediction is out-of-set with confidence >= LangDropConf.
    */
  val AllowedLangs: Set[String] = Set("en", "fr", "de")
  val LangDropConf = 0.65

  /** Perplexity bounds from the char-trigram LM (graft.lm.NGramLM).
    * High ppl = gibberish / far out of distribution; the analog of the
    * z-score / IQR outlier rules (functions.sql:1479-1506,
    * utils.py:1131-1154) on a model score instead of a numeric cell.
    */
  val PplMax = 25.0
  val PplMinChars = 16

  /** IQR multiplier for the OPTIONAL data-driven perplexity bounds
    * (the A8 outlier rule applied to the model score): when a run opts
    * in (QualityFilter.pplIqrBounds → labelScored(pplBounds=...)), the
    * perplexity rule drops turns outside [Q1 - k·IQR, Q3 + k·IQR] of
    * the eligible-turn ppl distribution instead of the fixed PplMax.
    * The fixed threshold remains the north-rule default semantics.
    */
  val PplIqrK = 1.5

  // ------------------------------------------------------------- rule ids

  val RuleEmpty = "empty_text"
  val RuleLength = "length"
  val RuleSymbol = "symbol_density"
  val RuleRepetition = "repetition"
  val RuleBadRole = "bad_role"
  val RuleBadTool = "bad_tool"
  val RuleNonContiguous = "non_contiguous_turn"
  val RuleTsRegress = "ts_regression"
  val RuleDuplicate = "duplicate_turn"
  val RuleLang = "lang"
  val RulePpl = "perplexity"

  /** Fixed evaluation order of the drop rules — the lineage array lists
    * reasons in this order (mirrors the reference's fixed correction
    * order, api.py:812-906).
    */
  val RuleOrder: Seq[String] = Seq(
    RuleEmpty, RuleLength, RuleSymbol, RuleRepetition, RuleBadRole,
    RuleBadTool, RuleNonContiguous, RuleTsRegress, RuleDuplicate,
    RuleLang, RulePpl
  )

  /** OPT-IN conversation-level near-dup rule (not in [[RuleOrder]]: the
    * per-turn rules above evaluate row-local/window state; this one is
    * a corpus-level LSH stage applied afterwards, appended LAST to the
    * lineage array). A conversation is dropped when it is the
    * NON-SURVIVOR side of any verified near-dup pair — the survivor is
    * the lexicographically smaller conv_id, the same greedy min-id
    * convention as exact dedup (Dedup.exactSurvivors).
    */
  val RuleConvNearDup = "conv_neardup"

  /** OPT-IN cross-conversation boilerplate rule (also outside
    * [[RuleOrder]], applied afterwards like [[RuleConvNearDup]] — the
    * C4 "repeated line" filter at turn granularity): a turn is
    * boilerplate when its NORMALIZED text occurs in at least
    * [[BoilerplateMinConvs]] distinct conversations (canned greetings,
    * templated tool banners). [[BoilerplateMinLen]] exempts short turns
    * — brief acknowledgements legitimately repeat everywhere — and
    * tool-role turns are exempt (structured payloads repeat by
    * design). The census keys on the precomputed 64-bit `norm_hash`
    * (the duplicate-turn window's key), so it shuffles no text.
    */
  val RuleBoilerplate = "boilerplate"
  val BoilerplateMinConvs = 2
  val BoilerplateMinLen = 16

  /** OPT-IN benchmark-decontamination rule (outside [[RuleOrder]] like
    * the other corpus-level opt-ins): a turn is dropped when its text
    * shares at least `minMatches` distinct word n-grams with a held-out
    * evaluation set (see [[graft.ops.Decontaminate]] — the GPT-3/Llama
    * style leakage guard). Applied after [[RuleBoilerplate]] (both are
    * turn-level; census-style rules precede external-set rules in the
    * lineage) and before [[RuleConvNearDup]] (conversation-level last).
    */
  val RuleContaminated = "contaminated"

  /** Lineage order: the order reasons appear in every turn's
    * `drop_reasons` — the per-turn rules, then the opt-in rules in the
    * order they are applied (turn-level before conversation-level).
    */
  val LineageOrder: Seq[String] =
    RuleOrder ++ Seq(RuleBoilerplate, RuleContaminated, RuleConvNearDup)

  // ------------------------------------------------------------- scrubbing

  /** Whitespace normalization applied before everything else (C3,
    * utils.py:1458-1463 + data_types.json:3-7): collapse runs, trim.
    */
  val WhitespaceRe = "\\s+"

  /** PII/toxicity scrub chain, applied to the normalized text in this
    * exact order. Each entry: (rule id, java regex, replacement token).
    * Order matters: keys before phones (long digit keys would otherwise
    * be half-eaten by the phone rule), emails before phones (digits in
    * mail local parts).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val KeyRe =
    "(?:sk-[A-Za-z0-9]{16,}|AKIA[0-9A-Z]{16}|ghp_[A-Za-z0-9]{36}|xox[baprs]-[A-Za-z0-9-]{10,}|[0-9a-fA-F]{32,})"
  val PhoneRe = "\\+?[0-9](?:[0-9()\\-. ]{6,14})[0-9]"

  /** Deterministic fake slur denylist (north_star toxicity stand-in; the
    * real list would be configuration). Word-boundary, case-insensitive.
    */
  val SlurTokens: Seq[String] = Seq("frakk", "smeghead", "gorram", "felgercarb")
  val SlurRe: String =
    "(?i)\\b(?:" + SlurTokens.mkString("|") + ")\\b"

  val ScrubEmail = "email"
  val ScrubKey = "key"
  val ScrubPhone = "phone"
  val ScrubSlur = "slur"

  /** (rule id, pattern, replacement) in application order. */
  val ScrubChain: Seq[(String, String, String)] = Seq(
    (ScrubEmail, EmailRe, "<EMAIL>"),
    (ScrubKey, KeyRe, "<KEY>"),
    (ScrubPhone, PhoneRe, "<PHONE>"),
    (ScrubSlur, SlurRe, "<SLUR>")
  )
}

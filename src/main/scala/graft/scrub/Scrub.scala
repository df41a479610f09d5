package graft.scrub

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.rules.RuleConfig

/** Ordered PII/toxicity scrub chain (emails → keys → phones → slurs)
  * over whitespace-normalized text, with per-rule replacement counts.
  *
  * Two implementations of the SAME chain (patterns + order come from
  * [[RuleConfig.ScrubChain]] only):
  *  - [[scrubCol]]: Catalyst columns (`regexp_replace`/`regexp_count`,
  *    literal patterns → the java.util.regex Pattern is compiled once
  *    per task by codegen, satisfying "compiled once per partition").
  *  - [[scrubPlain]]/[[scrubPlainArray]]: sequential java.util.regex,
  *    used by the golden oracle AND (via ScrubAllExpr) the flagship
  *    pipeline's fused projection. The hot path gates each regex with a
  *    cheap single-pass necessary-condition scan (see [[gateMask]]) —
  *    the regexes themselves, their order, and their replacement
  *    semantics are untouched, so results are bit-identical to the
  *    ungated chain (ScrubPropertySpec runs the differential).
  *
  * Reference ancestry: correction chain order api.py:812-906; email
  * null-out + lowercase utils.py:1481-1486; trim/collapse C3
  * utils.py:1458-1463; regex registry db_configs/data_types.json.
  */
object Scrub {

  /** Whitespace normalization: collapse all whitespace runs to a single
    * space, then strip the (single possible) leading/trailing space.
    * Applied before the PII chain and before every text-quality rule.
    * The column path uses the same two regexes as always — String.trim
    * would strip non-\s control chars (< U+0020) that Spark's trim()
    * keeps.
    */
  def normalizeWsCol(c: Column): Column =
    regexp_replace(regexp_replace(c, RuleConfig.WhitespaceRe, " "), "^ | $", "")

  /** Java regex `\s` is exactly [ \t\n\x0B\f\r] (ASCII-only without
    * UNICODE_CHARACTER_CLASS); \t..\r are the contiguous block
    * 0x09..0x0D. The plain path below depends on this equivalence
    * (asserted against the regex pair in ScrubPropertySpec).
    */
  @inline private def isWs(c: Char): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r')

  /** Hand-rolled equivalent of
    * `replaceAll("\\s+", " ").replaceAll("^ | $", "")` — this runs
    * twice per pipeline row (score stage + scrub projection), and the
    * two java.util.regex passes (Matcher + StringBuffer allocations per
    * call) were a measured ~10% of the whole pipeline. Fast path: a
    * string with no collapsible/strippable whitespace is returned
    * as-is, unallocated.
    */
  def normalizeWsPlain(s: String): String = {
    if (s == null) return null
    val len = s.length
    var i = 0
    var needsWork = false
    while (i < len && !needsWork) {
      val c = s.charAt(i)
      if (c == ' ') {
        if (i == 0 || i == len - 1 || isWs(s.charAt(i + 1))) needsWork = true
      } else if (c >= '\t' && c <= '\r') needsWork = true
      i += 1
    }
    if (!needsWork) return s
    // collapse runs to one space; drop leading/trailing runs entirely
    // (a leading/trailing run collapses to the one space the edge regex
    // then removes)
    val sb = new java.lang.StringBuilder(len)
    var pendingSpace = false
    var started = false
    var j = 0
    while (j < len) {
      val c = s.charAt(j)
      if (isWs(c)) { if (started) pendingSpace = true }
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
        started = true
      }
      j += 1
    }
    sb.toString
  }

  /** Column-side chain. Returns (scrubbed_text, scrub_counts) where the
    * count for each rule is the number of matches in the text state at
    * that point of the chain (identical to the sequential semantics).
    */
  def scrubCol(normText: Column): (Column, Column) = {
    var cur = normText
    val counts = RuleConfig.ScrubChain.map { case (rule, pattern, repl) =>
      val n = when(cur.isNull, lit(0))
        .otherwise(regexp_count(cur, lit(pattern)))
        .cast("int")
      val next = regexp_replace(cur, pattern, repl)
      cur = next
      (rule, n)
    }
    val mapCol = map(
      counts.flatMap { case (rule, n) => Seq(lit(rule), n) }: _*
    )
    (cur, mapCol)
  }

  private val slurToks: Array[String] =
    RuleConfig.SlurTokens.map(_.toLowerCase(java.util.Locale.ROOT)).toArray
  // the gate's ASCII-case-insensitive scan (and `(?i)` itself, which
  // only folds ASCII) is sound only for non-empty lowercase-ASCII
  // tokens — fail fast if the configured list ever drifts
  require(RuleConfig.SlurTokens.forall(t =>
    t.nonEmpty && t.forall(c => c < 128) &&
      t == t.toLowerCase(java.util.Locale.ROOT)),
    "SlurTokens must be non-empty lowercase ASCII for the gated scan " +
      "and the (?i) regex to agree; rework gateMask before widening them")
  private val slurFirstChars: Array[Boolean] = {
    val a = new Array[Boolean](128)
    slurToks.foreach { t => if (t.nonEmpty && t.charAt(0) < 128) a(t.charAt(0)) = true }
    a
  }

  @inline private def asciiLower(c: Char): Char =
    if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

  /** ASCII-case-insensitive literal match at position i — exactly the
    * `(?i)` flag's semantics for ASCII letters (Java `(?i)` without
    * UNICODE_CASE folds ASCII only, so e.g. the Kelvin sign U+212A does
    * NOT match 'k' — and neither does it here).
    */
  private def matchesCI(s: String, i: Int, tok: String): Boolean = {
    if (i + tok.length > s.length) return false
    var j = 0
    while (j < tok.length) {
      if (asciiLower(s.charAt(i + j)) != tok.charAt(j)) return false
      j += 1
    }
    true
  }

  /** One cheap pass computing, per scrub rule, a NECESSARY condition
    * for its regex to match anywhere in `s`:
    *  - email  — contains '@' (the pattern has a literal '@');
    *  - key    — contains "sk-" / "AKIA" / "ghp_" / "xox" or a run of
    *             ≥32 hex chars (the pattern is that 5-way alternation);
    *  - phone  — contains a run of ≥8 consecutive chars from the
    *             pattern's class [0-9()\-. ] holding ≥2 digits (every
    *             match is [0-9] + {6,14} class chars + [0-9] — 8 to 16
    *             consecutive class chars with digits at both ends, so
    *             it sits inside such a run; the optional '+' prefix
    *             only precedes the span and is not needed by the gate);
    *  - slur   — contains a slur token ASCII-case-insensitively (the
    *             \b boundaries only restrict further).
    * Returns one `Feat*` bit per condition found. A cleared bit proves
    * count 0 / no replacement without running the regex (~85% of rows
    * clear email/key/slur). The mask stays valid for every later link
    * of the chain even after an earlier rule replaced text: replacement tokens (<EMAIL> etc.) contain no '@',
    * digit, or slur substring, and their '<'/'>' break any hex run or
    * key prefix that could otherwise form across a splice — all
    * characters of a later match therefore already existed in `s`
    * (differential-tested against the ungated chain in
    * ScrubPropertySpec).
    */
  private def gateMask(s: String): Int = {
    val len = s.length
    var hasAt = false
    var hexRun = 0
    var keyHit = false
    var slurHit = false
    var phoneHit = false
    var phoneRun = 0 // consecutive chars from PhoneRe's class [0-9()\-. ]
    var phoneRunDigits = 0
    var i = 0
    while (i < len) {
      val c = s.charAt(i)
      if (c == '@') hasAt = true
      val isDigit = c >= '0' && c <= '9'
      if (isDigit || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')) {
        hexRun += 1
        if (hexRun >= 32) keyHit = true
      } else hexRun = 0
      if (!phoneHit) {
        if (isDigit || c == '(' || c == ')' || c == '-' || c == '.' || c == ' ') {
          phoneRun += 1
          if (isDigit) phoneRunDigits += 1
          if (phoneRun >= 8 && phoneRunDigits >= 2) phoneHit = true
        } else { phoneRun = 0; phoneRunDigits = 0 }
      }
      if (!keyHit) {
        if (c == 's') {
          if (i + 2 < len && s.charAt(i + 1) == 'k' && s.charAt(i + 2) == '-') keyHit = true
        } else if (c == 'A') {
          if (i + 3 < len && s.charAt(i + 1) == 'K' && s.charAt(i + 2) == 'I' &&
            s.charAt(i + 3) == 'A') keyHit = true
        } else if (c == 'g') {
          if (i + 3 < len && s.charAt(i + 1) == 'h' && s.charAt(i + 2) == 'p' &&
            s.charAt(i + 3) == '_') keyHit = true
        } else if (c == 'x') {
          if (i + 2 < len && s.charAt(i + 1) == 'o' && s.charAt(i + 2) == 'x') keyHit = true
        }
      }
      if (!slurHit) {
        val lc = asciiLower(c)
        if (lc < 128 && slurFirstChars(lc)) {
          // token loop gated on first AND second char (both derived
          // from SlurTokens) before the full match - common first
          // letters, rare bigrams
          var t = 0
          while (!slurHit && t < slurToks.length) {
            val tok = slurToks(t)
            if (tok.charAt(0) == lc &&
                (tok.length < 2 ||
                  (i + 1 < len && asciiLower(s.charAt(i + 1)) == tok.charAt(1))) &&
                matchesCI(s, i, tok)) slurHit = true
            t += 1
          }
        }
      }
      i += 1
    }
    var mask = 0
    if (hasAt) mask |= FeatEmail
    if (keyHit) mask |= FeatKey
    if (phoneHit) mask |= FeatPhone
    if (slurHit) mask |= FeatSlur
    mask
  }

  private val FeatEmail = 1
  private val FeatKey = 2
  private val FeatPhone = 4
  private val FeatSlur = 8
  /** The rules [[gateMask]] has a necessary condition for. */
  private val gateFeature: Map[String, Int] = Map(
    RuleConfig.ScrubEmail -> FeatEmail, RuleConfig.ScrubKey -> FeatKey,
    RuleConfig.ScrubPhone -> FeatPhone, RuleConfig.ScrubSlur -> FeatSlur)

  /** An ordered scrub chain of (rule, pattern, replacement) links,
    * compiled once. Gating fails closed: a rule [[gateMask]] has no
    * condition for runs on every row, and once such a rule replaces
    * text every later rule runs ungated too — its replacement may
    * create matches the gate scan never saw (the soundness argument
    * above covers the four known replacements only).
    */
  final class Chain(links: Seq[(String, String, String)]) {
    private val rules: Array[String] = links.map(_._1).toArray
    private val pats: Array[Pattern] = links.map(l => Pattern.compile(l._2)).toArray
    private val repls: Array[String] = links.map(_._3).toArray
    // 0 = no gate condition: always run
    private val feats: Array[Int] = rules.map(gateFeature.getOrElse(_, 0))

    /** Sequential chain, counts index-aligned with `links` — the
      * pipeline hot path (ScrubAllExpr): no Map/tuple/StringBuilder
      * allocation unless a rule actually fires.
      */
    def scrubPlainArray(normText: String): (String, Array[Int]) = {
      val k = pats.length
      val counts = new Array[Int](k)
      if (normText == null) return (null, counts)
      var gates = gateMask(normText)
      var cur = normText
      var r = 0
      while (r < k) {
        if (feats(r) == 0 || (gates & feats(r)) != 0) {
          val m = pats(r).matcher(cur)
          if (m.find()) {
            val repl = repls(r)
            val sb = new java.lang.StringBuilder(cur.length)
            var last = 0
            var n = 0
            do {
              n += 1
              sb.append(cur, last, m.start()).append(repl)
              last = m.end()
            } while (m.find())
            sb.append(cur, last, cur.length)
            cur = sb.toString
            counts(r) = n
            if (feats(r) == 0) gates = -1
          }
        }
        r += 1
      }
      (cur, counts)
    }

    /** Map-shaped view of [[scrubPlainArray]] (golden oracle). */
    def scrubPlain(normText: String): (String, Map[String, Int]) = {
      val (cur, counts) = scrubPlainArray(normText)
      (cur, rules.indices.map(i => rules(i) -> counts(i)).toMap)
    }
  }

  // Compiled once per JVM; shared by oracle + pipeline + tests.
  private val chain = new Chain(RuleConfig.ScrubChain)

  /** [[Chain.scrubPlainArray]] over [[RuleConfig.ScrubChain]]: counts
    * index-aligned with it. */
  def scrubPlainArray(normText: String): (String, Array[Int]) =
    chain.scrubPlainArray(normText)

  /** Sequential chain (golden oracle) — Map-shaped view of
    * [[scrubPlainArray]].
    */
  def scrubPlain(normText: String): (String, Map[String, Int]) =
    chain.scrubPlain(normText)
}

package graft.functions

import scala.collection.mutable

/** Pure, allocation-conscious text algorithms. These are the single
  * implementations called from (a) the Catalyst expressions in
  * [[Expressions]] (inside whole-stage codegen via static calls), (b) the
  * sequential golden oracle, and (c) driver-side tests — so the
  * distributed and sequential paths cannot diverge.
  *
  * Everything here is a pure function of its arguments (no wall-clock,
  * no global RNG) — bit-stable across partitioning (SURVEY.md §7.5 #3).
  */
object TextAlgos {

  /** Open-addressing set of longs for distinct-counting in the per-row
    * hot loops ([[turnMetrics]], [[distinctNgramFraction]]): the
    * java.util.HashSet[Long] it replaces boxed one Long per inserted
    * gram (an allocation per char of every pipeline row). Semantics are
    * plain distinct membership — identical results by construction.
    * Zero is handled via a flag (0 marks empty slots); keys are spread
    * with mix64 (packed-char keys have low entropy in the low bits).
    */
  private final class LongDistinctSet(expected: Int) {
    private var cap = {
      var c = 16
      val target = math.min(math.max(expected, 8) * 2, 1 << 17)
      while (c < target) c <<= 1
      c
    }
    private var mask = cap - 1
    private var keys = new Array[Long](cap)
    private var used = 0
    private var hasZero = false

    def contains(k: Long): Boolean = {
      if (k == 0L) hasZero
      else {
        var i = (mix64(k) & mask).toInt
        var st = keys(i)
        while (st != 0L && st != k) { i = (i + 1) & mask; st = keys(i) }
        st == k
      }
    }

    def add(k: Long): Boolean = {
      if (k == 0L) {
        if (hasZero) false else { hasZero = true; true }
      } else {
        var i = (mix64(k) & mask).toInt
        var st = keys(i)
        while (st != 0L && st != k) { i = (i + 1) & mask; st = keys(i) }
        if (st == k) false
        else {
          keys(i) = k
          used += 1
          if (used * 4 > cap * 3) grow()
          true
        }
      }
    }

    private def grow(): Unit = {
      val old = keys
      cap <<= 1
      mask = cap - 1
      keys = new Array[Long](cap)
      var i = 0
      while (i < old.length) {
        val k = old(i)
        if (k != 0L) {
          var j = (mix64(k) & mask).toInt
          while (keys(j) != 0L) j = (j + 1) & mask
          keys(j) = k
        }
        i += 1
      }
    }
  }

  /** Fraction of distinct char n-grams among all char n-grams of `s`
    * (lowercased by the caller if wanted). Returns 1.0 when there are
    * fewer than 2 grams (nothing to repeat).
    */
  def distinctNgramFraction(s: String, n: Int): Double = {
    if (s == null) return 1.0
    val total = s.length - n + 1
    if (total < 2) return 1.0
    // hash-set over 64-bit gram fingerprints; collision probability is
    // negligible and identical on every path (deterministic hashing).
    val seen = scratchSet.get()
    seen.reset(math.min(total, 1 << 16))
    var i = 0
    var distinct = 0
    try while (i < total) {
      var h = 1125899906842597L
      var j = 0
      while (j < n) { h = 31L * h + s.charAt(i + j); j += 1 }
      if (seen.add(h)) distinct += 1
      i += 1
    } finally seen.release()
    distinct.toDouble / total.toDouble
  }

  /** Fraction of chars that are neither letter, digit, nor whitespace. */
  def symbolDensity(s: String): Double = {
    if (s == null || s.isEmpty) return 0.0
    var i = 0
    var sym = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (!Character.isLetterOrDigit(c) && !Character.isWhitespace(c)) sym += 1
      i += 1
    }
    sym.toDouble / s.length.toDouble
  }

  /** Whitespace-delimited token count (A15 analog, utils.py:663-664). */
  def tokenCount(s: String): Int = {
    if (s == null) return 0
    var i = 0
    var n = 0
    var inTok = false
    while (i < s.length) {
      val ws = Character.isWhitespace(s.charAt(i))
      if (!ws && !inTok) { n += 1; inTok = true }
      else if (ws) inTok = false
      i += 1
    }
    n
  }

  /** Jaro similarity of two strings (0..1). Standard definition as in
    * pg_similarity's jarowinkler (reference
    * init-scripts/init-user-db.sh:7, used functions.sql:1704-1708) and
    * DuckDB's jaro_winkler_similarity.
    */
  def jaro(s1: String, s2: String): Double =
    jaroBytes(
      if (s1 == null) null else s1.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      if (s2 == null) null else s2.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Jaro over UTF-8 BYTES: pg_similarity's jarowinkler and DuckDB's
    * jaro_winkler_similarity are C byte-wise implementations, so
    * multi-byte characters (accents) count as several units; comparing
    * UTF-16 chars instead diverges on any accented string (found by the
    * j2c oracle on 'Etats-Unis' vs 'États-Unis').
    */
  def jaroBytes(s1: Array[Byte], s2: Array[Byte]): Double = {
    if (s1 == null || s2 == null) return 0.0
    val l1 = s1.length
    val l2 = s2.length
    if (l1 == 0 && l2 == 0) return 1.0
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(math.max(l1, l2) / 2 - 1, 0)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var matches = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - window)
      val hi = math.min(l2 - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!m2(j) && s1(i) == s2(j)) {
          m1(i) = true; m2(j) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var transpositions = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1(i) != s2(k)) transpositions += 1
        k += 1
      }
      i += 1
    }
    val m = matches.toDouble
    // classic C convention (pg_similarity, DuckDB): transpositions are
    // FLOOR(mismatches / 2) — integer division, not exact halves
    (m / l1 + m / l2 + (m - (transpositions / 2)) / m) / 3.0
  }

  /** Jaro-Winkler with the standard prefix boost (p=0.1, max prefix 4,
    * boost threshold 0.7) — matches DuckDB's jaro_winkler_similarity and
    * pg_similarity defaults (byte-wise, see [[jaroBytes]]).
    */
  def jaroWinkler(s1: String, s2: String): Double =
    jaroWinklerBytes(
      if (s1 == null) null else s1.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      if (s2 == null) null else s2.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def jaroWinklerBytes(s1: Array[Byte], s2: Array[Byte]): Double = {
    val j = jaroBytes(s1, s2)
    if (j <= 0.7) return j
    var prefix = 0
    val max = math.min(4, math.min(
      if (s1 == null) 0 else s1.length,
      if (s2 == null) 0 else s2.length))
    while (prefix < max && s1(prefix) == s2(prefix)) prefix += 1
    j + prefix * 0.1 * (1.0 - j)
  }

  // ------------------------------------------------------------ hashing

  /** splitmix64 — deterministic 64-bit mixer used everywhere we need a
    * seeded hash (minhash permutations, synthetic data generation).
    */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Rolling polynomial document fingerprint over whitespace-normalized
    * lowercase tokens (document fingerprinting for near-dup candidate
    * keys). Pure function of token content — insensitive to extra
    * whitespace and case.
    */
  def docFingerprint(s: String): Long = {
    if (s == null) return 0L
    var h = 0xcbf29ce484222325L
    val lower = s.toLowerCase(java.util.Locale.ROOT)
    var i = 0
    var prevWs = true
    while (i < lower.length) {
      val c = lower.charAt(i)
      val ws = Character.isWhitespace(c)
      if (!ws) {
        if (prevWs && h != 0xcbf29ce484222325L) { h ^= ' '.toLong; h *= 0x100000001b3L }
        h ^= c.toLong
        h *= 0x100000001b3L
      }
      prevWs = ws
      i += 1
    }
    mix64(h)
  }

  /** Word k-shingle fingerprints of a document (lowercased, whitespace
    * tokenized). Used by minhash / ngram-jaccard dedup.
    *
    * Tokenization is a hand loop over the lowercased string (token =
    * maximal run of non-`\s` chars — bit-identical to the previous
    * `split("\\s+").filter(_.nonEmpty)`, java regex `\s` being the
    * ASCII [ \t\n\x0B\f\r]); shingle hashes read chars straight from
    * the token offsets, so no per-token String or Array[String] is
    * allocated in the signature hot path.
    */
  /** Token boundaries of a string: (starts, ends, count) of the maximal
    * runs of non-`\s` chars — the same tokens as
    * `split("\\s+").filter(_.nonEmpty)` (java regex `\s` is the ASCII
    * [ \t\n\x0B\f\r]). Shared by every word-shingle/word-gram path so
    * no per-token String is allocated in the hashing hot loops.
    */
  private[graft] def tokenOffsets(s: String): (Array[Int], Array[Int], Int) = {
    val len = s.length
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var nTok = 0
    var i = 0
    while (i < len) {
      val c = s.charAt(i)
      if (c == ' ' || (c >= '\t' && c <= '\r')) i += 1
      else {
        val st = i
        while (i < len && {
          val d = s.charAt(i); !(d == ' ' || (d >= '\t' && d <= '\r'))
        }) i += 1
        if (nTok == starts.length) {
          starts = java.util.Arrays.copyOf(starts, nTok * 2)
          ends = java.util.Arrays.copyOf(ends, nTok * 2)
        }
        starts(nTok) = st
        ends(nTok) = i
        nTok += 1
      }
    }
    (starts, ends, nTok)
  }

  /** FNV-1a over tokens[from, until) of `lower` joined by SINGLE
    * SPACES (separator between tokens, none trailing), then mix64 —
    * equals [[turnMetrics]]'s hash of the joined string without
    * materializing it.
    * Single implementation shared by [[shingles]]'s short branch and
    * Decontaminate's word-gram hashing, so the cross-path (and
    * DuckDB-oracle) hash equality has one definition.
    */
  private[graft] def hashJoinedTokens(lower: String, starts: Array[Int],
                                      ends: Array[Int], from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var t = from
    while (t < until) {
      if (t > from) { h ^= ' '.toLong; h *= 0x100000001b3L }
      var p = starts(t)
      while (p < ends(t)) { h ^= lower.charAt(p).toLong; h *= 0x100000001b3L; p += 1 }
      t += 1
    }
    mix64(h)
  }

  /** FNV-1a over tokens[from, until) with a space hashed AFTER every
    * token (the historical shingle-window shape — trailing separator
    * included), then mix64.
    */
  private def hashShingleWindow(lower: String, starts: Array[Int],
                                ends: Array[Int], from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var t = from
    while (t < until) {
      var p = starts(t)
      while (p < ends(t)) { h ^= lower.charAt(p).toLong; h *= 0x100000001b3L; p += 1 }
      h ^= ' '.toLong
      h *= 0x100000001b3L
      t += 1
    }
    mix64(h)
  }

  def shingles(s: String, k: Int): Array[Long] = {
    if (s == null) return Array.emptyLongArray
    // Locale.ROOT: keep tokenization identical to DuckDB lower() under
    // any default JVM locale (tr-TR would fold 'I' to dotless ı)
    val lower = s.toLowerCase(java.util.Locale.ROOT)
    val (starts, ends, nTok) = tokenOffsets(lower)
    if (nTok < k) {
      if (nTok == 0) Array.emptyLongArray
      else Array(hashJoinedTokens(lower, starts, ends, 0, nTok))
    } else {
      val out = new Array[Long](nTok - k + 1)
      var w = 0
      while (w + k <= nTok) {
        out(w) = hashShingleWindow(lower, starts, ends, w, w + k)
        w += 1
      }
      out
    }
  }

  /** Per-permutation seeds for [[minHashSignature]], hoisted out of the
    * (shingle × hash) inner loop — the seed is a pure function of the
    * hash index, and recomputing its mix64 per pair roughly doubled the
    * signature pass's cost (the dominant stage of conversation near-dup
    * at soak scale). Grow-only volatile cache: the computation is
    * idempotent, so a racing publish is harmless.
    */
  @volatile private var minHashSeedCache: Array[Long] = Array.emptyLongArray
  private def minHashSeeds(numHashes: Int): Array[Long] = {
    val s = minHashSeedCache
    if (s.length >= numHashes) s
    else synchronized {
      // re-check under the lock so a racing shorter request can never
      // shrink the published array (grow-only for real)
      val cur = minHashSeedCache
      if (cur.length >= numHashes) cur
      else {
        val nu = Array.tabulate(numHashes)(h =>
          mix64(h.toLong * 0x9e3779b97f4a7c15L + 1))
        minHashSeedCache = nu
        nu
      }
    }
  }

  /** MinHash signature: for each of `numHashes` seeded permutations,
    * the minimum of mix64(shingle ^ seed_i). Empty doc → Long.MaxValue
    * rows (never collides with real signatures in band buckets because
    * callers filter empty docs).
    */
  def minHashSignature(sh: Array[Long], numHashes: Int): Array[Long] = {
    val seeds = minHashSeeds(numHashes)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < sh.length) {
      val s = sh(i)
      var h = 0
      while (h < numHashes) {
        val v = mix64(s ^ seeds(h))
        if (v < sig(h)) sig(h) = v
        h += 1
      }
      i += 1
    }
    sig
  }

  /** 64-bit SimHash over word 2-shingles. */
  def simHash(s: String): Long = {
    val sh = shingles(s, 2)
    if (sh.isEmpty) return 0L
    val acc = new Array[Int](64)
    var i = 0
    while (i < sh.length) {
      val h = sh(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Jaccard similarity of the k-shingle sets of two strings. */
  def ngramJaccard(a: String, b: String, k: Int): Double = {
    val sa = shingles(a, k)
    val sb = shingles(b, k)
    if (sa.isEmpty && sb.isEmpty) return 1.0
    if (sa.isEmpty || sb.isEmpty) return 0.0
    val setA = new LongDistinctSet(sa.length)
    var da = 0
    var i = 0
    while (i < sa.length) { if (setA.add(sa(i))) da += 1; i += 1 }
    val setB = new LongDistinctSet(sb.length)
    var db = 0
    var inter = 0
    i = 0
    while (i < sb.length) {
      val v = sb(i)
      if (setB.add(v)) { db += 1; if (setA.contains(v)) inter += 1 }
      i += 1
    }
    inter.toDouble / (da + db - inter).toDouble
  }

  /** Cosine similarity of two float vectors (0 if either norm is 0).
    * Fixed left-to-right accumulation order → bit-stable.
    */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    if (a == null || b == null || a.length != b.length) return 0.0
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Reusable epoch-stamped variant of [[LongDistinctSet]] for the
    * per-ROW distinct counting inside [[turnMetrics]]: a fresh set per
    * row allocated (and zeroed) a table per call, which JFR measured at
    * ~13% of pipeline samples. One instance per task thread
    * (ThreadLocal); `reset` bumps the epoch instead of clearing, so a
    * row pays zero allocation and zero zeroing. Membership semantics
    * are identical: a slot counts only when its stamp equals the
    * current epoch. The set serves one consumer at a time: `reset`
    * fails fast while a consumer holds it (a nested caller would
    * otherwise restart the outer caller's epoch and corrupt its
    * counts), and every consumer `release`s it in a `finally`.
    */
  private final class ScratchLongSet {
    private var cap = 1 << 10
    private var mask = cap - 1
    private var keys = new Array[Long](cap)
    private var stamps = new Array[Int](cap)
    private var epoch = 0
    private var used = 0
    private var inUse = false

    /** Start a new row: O(1) unless the requested capacity outgrows the
      * table (then re-allocate) or the epoch counter wraps (then clear
      * stamps once every ~2^31 rows).
      */
    def reset(expected: Int): Unit = {
      if (inUse) throw new IllegalStateException(
        "TextAlgos scratch set reset while in use: nested distinct counting on one thread")
      inUse = true
      var need = 16
      val target = math.min(math.max(expected, 8) * 2, 1 << 17)
      while (need < target) need <<= 1
      if (need > cap) {
        cap = need; mask = cap - 1
        keys = new Array[Long](cap); stamps = new Array[Int](cap)
        epoch = 0
      }
      if (epoch == Int.MaxValue) { java.util.Arrays.fill(stamps, 0); epoch = 0 }
      epoch += 1
      used = 0
    }

    def release(): Unit = inUse = false

    def add(k: Long): Boolean = {
      var i = (mix64(k) & mask).toInt
      while (stamps(i) == epoch) {
        if (keys(i) == k) return false
        i = (i + 1) & mask
      }
      stamps(i) = epoch
      keys(i) = k
      used += 1
      if (used * 4 > cap * 3) grow()
      true
    }

    private def grow(): Unit = {
      val oldKeys = keys
      val oldStamps = stamps
      val oldEpoch = epoch
      cap <<= 1
      mask = cap - 1
      keys = new Array[Long](cap)
      stamps = new Array[Int](cap)
      epoch = 1
      var i = 0
      while (i < oldKeys.length) {
        if (oldStamps(i) == oldEpoch) {
          var j = (mix64(oldKeys(i)) & mask).toInt
          while (stamps(j) == epoch) j = (j + 1) & mask
          stamps(j) = epoch
          keys(j) = oldKeys(i)
        }
        i += 1
      }
    }
  }

  private val scratchSet = new ThreadLocal[ScratchLongSet] {
    override def initialValue(): ScratchLongSet = new ScratchLongSet
  }

  /** Runs `body` while this thread's scratch set is held, the way an
    * outer distinct-counting consumer holds it — the seam for testing
    * that a nested consumer fails fast.
    */
  private[graft] def holdingScratch[T](body: => T): T = {
    val s = scratchSet.get()
    s.reset(1)
    try body finally s.release()
  }

  /** Per-char lookup tables for the hot per-row loops: fold
    * Character.toLowerCase / isLetterOrDigit / isWhitespace into one
    * array read each. Pure precomputation of the same JDK functions —
    * values identical by construction.
    */
  private val lowerTable: Array[Char] =
    Array.tabulate(1 << 16)(i => Character.toLowerCase(i.toChar))
  private val SymFlag: Byte = 1 // neither letter/digit nor whitespace
  private val classTable: Array[Byte] = Array.tabulate(1 << 16) { i =>
    val c = i.toChar
    if (!Character.isLetterOrDigit(c) && !Character.isWhitespace(c)) SymFlag else 0
  }

  /** All per-turn text metrics in ONE pass over the normalized text:
    * (symbol density, 64-bit hash — FNV-1a over UTF-16 code units,
    * then mix64 — and distinct-trigram fraction over per-char
    * lowercased text). Values identical to calling symbolDensity /
    * distinctNgramFraction(toLowerCase) separately for ASCII inputs;
    * for exact parity the pipeline AND the
    * oracle both call only this (per-char Character.toLowerCase — the
    * sequential oracle is the semantics definition).
    */
  def turnMetrics(s: String, order: Int): (Double, Long, Double) = {
    if (s == null) return (0.0, 0L, 1.0)
    val len = s.length
    var sym = 0
    var h = 0xcbf29ce484222325L
    val total = len - order + 1
    val seen =
      if (total >= 2) { val s = scratchSet.get(); s.reset(math.min(total, 1 << 16)); s }
      else null
    var distinct = 0
    var rolling = 0L // last `order` lowercased chars packed 16 bits each
    val mask = (1L << (16 * order)) - 1
    var i = 0
    try while (i < len) {
      val c = s.charAt(i)
      sym += classTable(c)
      h ^= c.toLong
      h *= 0x100000001b3L
      if (seen != null) {
        rolling = ((rolling << 16) | lowerTable(c).toLong) & mask
        if (i >= order - 1 && seen.add(rolling)) distinct += 1
      }
      i += 1
    } finally if (seen != null) seen.release()
    val symD = if (len == 0) 0.0 else sym.toDouble / len.toDouble
    val rep = if (total < 2) 1.0 else distinct.toDouble / total.toDouble
    (symD, mix64(h), rep)
  }

  /** `transform_string` (reference utils.py:538-543): uppercase,
    * spaces → '_', Unicode NFD accent strip. Applied to anomaly codes.
    */
  def transformString(s: String): String = {
    if (s == null) return null
    val decomposed = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
    decomposed.replaceAll("\\p{M}", "").toUpperCase.replace(' ', '_')
  }

  /** Base64 check (reference utils.py:47-59): decodes and re-encodes. */
  def isBase64(s: String): Boolean = {
    if (s == null || s.isEmpty || s.length % 4 != 0) return false
    try {
      val dec = java.util.Base64.getDecoder.decode(s)
      java.util.Base64.getEncoder.encodeToString(dec) == s
    } catch { case _: IllegalArgumentException => false }
  }
}

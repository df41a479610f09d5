package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextAlgos

/** Misc string helpers ported from the reference (utils.py:47-59,
  * :538-543).
  */
class MiscHelpersSpec extends AnyFunSuite {

  test("transformString: upper + underscore + NFD accent strip") {
    assert(TextAlgos.transformString("données manquantes") == "DONNEES_MANQUANTES")
    assert(TextAlgos.transformString("Café crème") == "CAFE_CREME")
    assert(TextAlgos.transformString("plain") == "PLAIN")
    assert(TextAlgos.transformString(null) == null)
  }

  test("isBase64") {
    assert(TextAlgos.isBase64(java.util.Base64.getEncoder
      .encodeToString("hello world".getBytes)))
    assert(!TextAlgos.isBase64("not base64!"))
    assert(!TextAlgos.isBase64("abc"))  // bad length
    assert(!TextAlgos.isBase64(""))
    assert(!TextAlgos.isBase64(null))
  }

  test("scratch set: a nested distinct-counting consumer fails fast") {
    // both per-row consumers of the thread's scratch set throw instead
    // of restarting an outer consumer's epoch mid-row
    val text = "abcabcabd some longer text"
    val expected = (TextAlgos.turnMetrics(text, 3), TextAlgos.distinctNgramFraction(text, 3))
    intercept[IllegalStateException](TextAlgos.holdingScratch(TextAlgos.turnMetrics(text, 3)))
    intercept[IllegalStateException](
      TextAlgos.holdingScratch(TextAlgos.distinctNgramFraction(text, 3)))
    // fewer than 2 grams never touches the set, so nesting it is fine
    assert(TextAlgos.holdingScratch(TextAlgos.turnMetrics("ab", 3)) == TextAlgos.turnMetrics("ab", 3))
    // released on every exit: sequential use after the failures works
    assert((TextAlgos.turnMetrics(text, 3), TextAlgos.distinctNgramFraction(text, 3)) == expected)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Main

/** `pipeline.Main` rejects a malformed command line before any session
  * starts: a mistyped flag must not silently run with a default.
  */
class MainSpec extends AnyFunSuite {

  test("parseArgs: key/value pairs; unknown keys, missing values and stray tokens fail") {
    assert(Main.parseArgs(Seq("--input", "in", "--output", "out", "--buckets", "16")) ==
      Right(Map("input" -> "in", "output" -> "out", "buckets" -> "16")))
    assert(Main.parseArgs(Nil) == Right(Map.empty))
    Seq(
      Seq("--input", "in", "--bucket", "16") -> "unknown key '--bucket'",
      Seq("--input", "in", "--metric", "/x") -> "unknown key '--metric'",
      Seq("--input", "in", "--metrics") -> "key '--metrics' has no value",
      Seq("--metrics", "--buckets", "4") -> "key '--metrics' has no value",
      Seq("--input", "in", "16") -> "stray token '16'",
      Seq("input", "in") -> "stray token 'input'",
      Seq("--buckets", "4", "--buckets", "8") -> "key '--buckets' given twice"
    ).foreach { case (args, problem) =>
      val msg = Main.parseArgs(args).left.getOrElse(fail(s"accepted $args"))
      assert(msg.startsWith(problem), msg)
      assert(Main.Keys.forall(k => msg.contains(s"--$k")), s"known keys not listed: $msg")
    }
  }
}

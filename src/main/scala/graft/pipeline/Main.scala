package graft.pipeline

import org.apache.spark.sql.SparkSession

import graft.schema.Turn

/** spark-submit entrypoint for the quality filter:
  *
  *   spark-submit --class graft.pipeline.Main <jar> \
  *     --input  <parquet dir of (conv_id,turn_idx,role,text,tool,ts)> \
  *     --output <snapshot table root> \
  *     [--metrics <metrics table root>] \
  *     [--buckets 256] [--skew-max-turns 0] \
  *     [--conv-neardup-threshold 0.7] \
  *     [--boilerplate-min-convs 2] \
  *     [--ppl-iqr 1.5] \
  *     [--decontaminate-bench <parquet dir of the eval set>] \
  *     [--decontaminate-ngram 8] [--decontaminate-min-matches 1] \
  *     [--decontaminate-text-col text]
  *
  * A malformed command line (an unknown or repeated key, a key with no
  * value, a stray token) fails before the session starts.
  *
  * Runs checkpoint-resumable: re-submitting after a failure skips
  * committed buckets. Lineage + counters land under --metrics
  * (`bucket_stats`, `rule_lineage`, and — when the opt-in
  * --conv-neardup-threshold enables the conversation near-dup rule —
  * the `truncation` table recording any capped-LSH-bucket recall
  * trades).
  *
  * Opt-in rules (each recorded in the output's labeling.cfg so a
  * resume with different semantics fails fast):
  *  - `--ppl-iqr <k>` replaces the fixed PplMax perplexity threshold
  *    with data-driven [Q1 - k·IQR, Q3 + k·IQR] bounds computed ONCE
  *    over the whole corpus (per-bucket quartiles would label buckets
  *    inconsistently);
  *  - `--decontaminate-bench <dir>` drops turns sharing
  *    `--decontaminate-ngram`-word n-grams (default 8, the GPT-3/Llama
  *    convention) with the eval set, reason `contaminated`.
  */
object Main {

  /** The flags Main reads, without their leading `--`. */
  val Keys: Seq[String] = Seq("input", "output", "metrics", "buckets", "skew-max-turns",
    "conv-neardup-threshold", "boilerplate-min-convs", "ppl-iqr", "decontaminate-bench",
    "decontaminate-ngram", "decontaminate-min-matches", "decontaminate-text-col")

  /** `--key value` pairs of a command line, keyed without the `--`; Left
    * with a message naming the known keys for an unknown or repeated
    * key, a key with no value, or a token that is not a key.
    */
  def parseArgs(args: Seq[String]): Either[String, Map[String, String]] = {
    def usage(problem: String) =
      Left(s"$problem; known keys: ${Keys.map("--" + _).mkString(" ")}")
    @annotation.tailrec
    def go(rest: List[String], acc: Map[String, String]): Either[String, Map[String, String]] =
      rest match {
        case Nil => Right(acc)
        case k :: _ if !k.startsWith("--") => usage(s"stray token '$k'")
        case k :: _ if !Keys.contains(k.drop(2)) => usage(s"unknown key '$k'")
        case k :: _ if acc.contains(k.drop(2)) => usage(s"key '$k' given twice")
        case k :: v :: tail if !v.startsWith("--") => go(tail, acc + (k.drop(2) -> v))
        case k :: _ => usage(s"key '$k' has no value")
      }
    go(args.toList, Map.empty)
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args.toSeq).fold(e => throw new IllegalArgumentException(e), identity)
    val input = opts.getOrElse("input",
      sys.error("--input <parquet dir> required"))
    val output = opts.getOrElse("output",
      sys.error("--output <table root> required"))
    val buckets = opts.getOrElse("buckets", "256").toInt
    val skewMax = opts.getOrElse("skew-max-turns", "0").toInt

    val spark = SparkSession.builder()
      .appName("graft-quality-filter")
      .getOrCreate()
    import spark.implicits._

    val turns = spark.read.schema(Turn.schema).parquet(input).as[Turn]
    val convNearDup = opts.get("conv-neardup-threshold").map(t =>
      QualityFilter.ConvNearDupConfig(threshold = t.toDouble))
    val boilerplate = opts.get("boilerplate-min-convs").map(n =>
      QualityFilter.BoilerplateConfig(minConvs = n.toInt))
    val pplIqrK = opts.get("ppl-iqr").map(_.toDouble)
    val decontaminate = opts.get("decontaminate-bench").map(p =>
      QualityFilter.ContaminationConfig(benchPath = p,
        benchTextCol = opts.getOrElse("decontaminate-text-col", "text"),
        n = opts.getOrElse("decontaminate-ngram", "8").toInt,
        minMatches = opts.getOrElse("decontaminate-min-matches", "1").toInt))
    val res = CheckpointedRun.run(turns, output, buckets,
      metricsRoot = opts.get("metrics"), skewMaxTurns = skewMax,
      convNearDup = convNearDup, boilerplate = boilerplate,
      pplIqrK = pplIqrK, decontaminate = decontaminate)
    // scalastyle:off println — job summary on stdout is the contract
    println(s"graft: snapshot v${res.snapshotVersion}; " +
      s"computed buckets ${res.bucketsComputed.mkString(",")}; " +
      s"skipped ${res.bucketsSkipped.size} already-committed buckets")
    spark.stop()
  }
}

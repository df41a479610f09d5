package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** The label-semantics settings of a checkpointed run, and the one codec
  * for the `_graft/labeling.cfg` file that records them.
  *
  * Every opt-in rule (conv-near-dup, boilerplate, IQR ppl bounds,
  * decontamination) changes what the committed labels MEAN, so a resume
  * must run under the settings its committed buckets were produced
  * under — otherwise the table silently mixes semantics per bucket.
  *
  * Format: one `key=value` line per rule, in a fixed order.
  * `conv_neardup` is always written (`off` when disabled); the other
  * lines only when their rule is on, so a table produced before a rule
  * existed still resumes cleanly with it off. A table with committed
  * buckets but no labeling.cfg predates the guard and carries the
  * all-off semantics ([[LabelingCfg.Off]]).
  *
  *  - `ppl_iqr=k,lo,hi` records the COMPUTED bounds, not just k: a resume
  *    whose recomputation lands different bounds (corpus changed under
  *    the table) fails instead of silently relabeling. Computing them
  *    costs a full-corpus scoring pass, so a value without `pplBounds`
  *    compares k only — the settings check that runs before any corpus
  *    pass.
  *  - `decontaminate=n,minMatches,textCol,count:xor,path` records the
  *    eval set's CONTENT fingerprint
  *    ([[graft.ops.Decontaminate.benchFingerprint]] — cheap, the eval set
  *    is small by design), so an eval set rewritten under the table
  *    fails even a fully-committed resume.
  */
private[graft] final case class LabelingCfg(
    convNearDup: Option[QualityFilter.ConvNearDupConfig],
    boilerplate: Option[QualityFilter.BoilerplateConfig],
    pplIqrK: Option[Double],
    decontaminate: Option[(QualityFilter.ContaminationConfig, (Long, Long))],
    pplBounds: Option[(Double, Double)] = None) {

  decontaminate.foreach { case (d, _) =>
    require(!d.benchPath.contains("\n"),
      "decontamination bench path must not contain newlines (labeling.cfg is line-oriented)")
  }

  def render: String = Seq(
    Some("conv_neardup=" + convNearDup.fold("off")(c =>
      s"${c.numHashes},${c.bands},${c.shingleK},${c.threshold},${c.maxBucket}")),
    boilerplate.map(b => s"boilerplate=${b.minConvs},${b.minLen}"),
    pplIqrK.map(k => s"ppl_iqr=$k" + pplBounds.fold("") { case (lo, hi) => s",$lo,$hi" }),
    decontaminate.map { case (d, (nGrams, xorSig)) =>
      s"decontaminate=${d.n},${d.minMatches},${d.benchTextCol}," +
        s"$nGrams:${java.lang.Long.toHexString(xorSig)},${d.benchPath}"
    }
  ).flatten.mkString("\n")

  /** Whether a recorded labeling.cfg body holds these settings (line
    * order aside). Without `pplBounds` the ppl_iqr line compares k only.
    */
  def agrees(recorded: String): Boolean = {
    val withBounds = pplBounds.isDefined
    LabelingCfg.parse(recorded, withBounds) == LabelingCfg.parse(render, withBounds)
  }

  def write(outRoot: String): Unit =
    Files.write(LabelingCfg.path(outRoot), render.getBytes(UTF_8))
}

private[graft] object LabelingCfg {

  /** The settings of a table with no labeling.cfg: every opt-in off. */
  val Off: String = LabelingCfg(None, None, None, None).render

  private def path(outRoot: String) = Paths.get(outRoot, "_graft", "labeling.cfg")

  /** The table's recorded labeling.cfg body, if it has one. */
  def read(outRoot: String): Option[String] = {
    val f = path(outRoot)
    if (Files.exists(f)) Some(new String(Files.readAllBytes(f), UTF_8).trim) else None
  }

  private def parse(text: String, withBounds: Boolean): Map[String, String] =
    Map("conv_neardup" -> "off") ++ text.linesIterator.filter(_.nonEmpty).map { line =>
      val (key, rest) = line.span(_ != '=')
      val value = rest.drop(1)
      key -> (if (key == "ppl_iqr" && !withBounds) value.takeWhile(_ != ',') else value)
    }
}

package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.gen.TranscriptGen
import graft.metrics.{JobLog, Metrics}
import graft.pipeline.{CheckpointedRun, LabelingCfg, QualityFilter}
import graft.schema.LabeledTurn

/** Snapshot-checkpoint resume (north rule): a run that stops after some
  * buckets must resume where it left off, and the final snapshot must
  * equal a whole-corpus run exactly.
  */
class CheckpointSpec extends AnyFunSuite {

  test("bucketed run + resume == whole-corpus run") {
    val spark = TestSpark.spark
    import spark.implicits._
    val root = Files.createTempDirectory("graft_ckpt").toString
    val turns = TranscriptGen.generateLocal(80, seed = 5, skewCap = 200)
    val ds = spark.createDataset(turns)
    val nBuckets = 6

    // phase 1: pretend a crash after 2 buckets — pre-commit buckets 0,1
    val table = graft.io.SnapshotTable(root, nBuckets)
    val bucket = Metrics.bucketCol(nBuckets)
    Seq(0, 1).foreach { b =>
      table.commitBucket(QualityFilter.label(ds.where(bucket === b)), b)
    }
    assert(table.completedBuckets == Set(0, 1))
    assert(table.currentVersion == 2)

    // phase 2: resume — must compute exactly the remaining buckets
    val res = CheckpointedRun.run(ds, root, nBuckets)
    assert(res.bucketsSkipped == Seq(0, 1))
    assert(res.bucketsComputed == Seq(2, 3, 4, 5))

    // snapshot read == full-run output, per-turn exact
    val fromSnapshot = CheckpointedRun.readOutput(spark, root, nBuckets)
      .as[LabeledTurn].collect().sortBy(t => (t.conv_id, t.turn_idx))
      .map(t => t.copy(drop_reasons = t.drop_reasons.toList)).toSeq
    val full = QualityFilter.label(ds).as[LabeledTurn].collect()
      .sortBy(t => (t.conv_id, t.turn_idx))
      .map(t => t.copy(drop_reasons = t.drop_reasons.toList)).toSeq
    assert(fromSnapshot == full)

    // idempotence: a third run computes nothing
    val res2 = CheckpointedRun.run(ds, root, nBuckets)
    assert(res2.bucketsComputed.isEmpty)
    assert(res2.bucketsSkipped == (0 until nBuckets))
  }

  test("snapshot isolation: uncommitted bucket is invisible") {
    val spark = TestSpark.spark
    import spark.implicits._
    val root = Files.createTempDirectory("graft_ckpt2").toString
    val turns = TranscriptGen.generateLocal(20, seed = 9, skewCap = 100)
    val ds = spark.createDataset(turns)
    val table = graft.io.SnapshotTable(root, 4)
    val bucket = Metrics.bucketCol(4)

    // data written but NOT committed (crash between write and commit)
    QualityFilter.label(ds.where(bucket === 2))
      .write.mode("overwrite").parquet(s"$root/data/bucket=2")
    assert(table.completedBuckets.isEmpty)
    assert(table.read(spark).isEmpty)

    table.commitBuckets(Set(2))
    assert(table.read(spark).count() > 0)
  }

  test("crash between data and metrics commits re-runs the bucket (metrics never lost)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val root = Files.createTempDirectory("graft_ckpt3").toString
    val mroot = Files.createTempDirectory("graft_ckpt3_m").toString
    val turns = TranscriptGen.generateLocal(40, seed = 11, skewCap = 100)
    val ds = spark.createDataset(turns)
    val nBuckets = 4

    // simulate the crash: bucket 0 committed to the DATA table only —
    // the metrics tables never saw it
    val table = graft.io.SnapshotTable(root, nBuckets)
    val bucket = Metrics.bucketCol(nBuckets)
    table.commitBucket(QualityFilter.label(ds.where(bucket === 0)), 0)
    assert(table.completedBuckets == Set(0))

    // resume with metrics enabled: bucket 0 must be RE-RUN (recommit is
    // idempotent), so the metrics tables are backfilled
    val res = CheckpointedRun.run(ds, root, nBuckets, metricsRoot = Some(mroot))
    assert(res.bucketsComputed == (0 until nBuckets),
      s"bucket 0 must not be skipped: $res")
    val stats = graft.io.SnapshotTable(s"$mroot/bucket_stats", nBuckets)
    val lineage = graft.io.SnapshotTable(s"$mroot/rule_lineage", nBuckets)
    assert(stats.completedBuckets == (0 until nBuckets).toSet)
    assert(lineage.completedBuckets == (0 until nBuckets).toSet)
    // and the metrics frame covers every bucket's rows
    val statRows = stats.read(spark).count()
    assert(statRows > 0)

    // a further resume skips everything (data ∩ metrics complete)
    val res2 = CheckpointedRun.run(ds, root, nBuckets, metricsRoot = Some(mroot))
    assert(res2.bucketsComputed.isEmpty)
  }

  test("opt-in conv near-dup rule: bucketed run == direct apply, split == unsplit") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // planted clones: every conversation whose index ends in 0 is
    // duplicated verbatim under a "d" prefix — the clone sorts larger,
    // so it is the non-survivor side of a jaccard-1.0 pair; clone and
    // original hash into DIFFERENT buckets (the cross-bucket case the
    // global stage exists for)
    val base = TranscriptGen.generateLocal(50, seed = 21, skewCap = 200)
    val clones = base.filter(_.conv_id.endsWith("0")).map(t => t.copy(conv_id = "d" + t.conv_id))
    val ds = spark.createDataset(base ++ clones)
    val cfg = QualityFilter.ConvNearDupConfig()

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[LabeledTurn].collect().sortBy(t => (t.conv_id, t.turn_idx))
        .map(t => t.copy(drop_reasons = t.drop_reasons.toList)).toSeq

    val direct = QualityFilter.withConvNearDup(
      QualityFilter.label(ds), QualityFilter.convNearDupDropIds(ds.toDF(), cfg))
    val directRows = canon(direct)

    // the rule actually fires: every cloned conversation (and nothing
    // else) carries conv_neardup on every turn
    val flagged = directRows.filter(_.drop_reasons.contains("conv_neardup"))
      .map(_.conv_id).toSet
    assert(flagged == clones.map(_.conv_id).toSet, s"flagged: $flagged")
    assert(directRows.filter(t => flagged.contains(t.conv_id)).forall(!_.keep))

    val root1 = Files.createTempDirectory("graft_cnd1").toString
    val res1 = CheckpointedRun.run(ds, root1, 4, convNearDup = Some(cfg))
    assert(res1.bucketsComputed == (0 until 4))
    assert(canon(CheckpointedRun.readOutput(spark, root1, 4)) == directRows)

    // semantics guard: resuming the same table WITHOUT the rule (or
    // with different parameters) must fail fast, never mix labels
    val e = intercept[IllegalArgumentException] {
      CheckpointedRun.run(ds, root1, 4)
    }
    assert(e.getMessage.contains("conv_neardup"))
    intercept[IllegalArgumentException] {
      CheckpointedRun.run(ds, root1, 4, convNearDup = Some(cfg.copy(threshold = 0.9)))
    }

    // skew-split path composes with the rule
    val root2 = Files.createTempDirectory("graft_cnd2").toString
    CheckpointedRun.run(ds, root2, 4, skewMaxTurns = 5, convNearDup = Some(cfg))
    assert(canon(CheckpointedRun.readOutput(spark, root2, 4)) == directRows)

    // metrics wiring: truncation table lands next to stats/lineage and
    // records zero truncation on this corpus
    val root3 = Files.createTempDirectory("graft_cnd3").toString
    val mroot = Files.createTempDirectory("graft_cnd3_m").toString
    CheckpointedRun.run(ds, root3, 2, metricsRoot = Some(mroot),
      convNearDup = Some(cfg))
    val trunc = graft.io.SnapshotTable(s"$mroot/truncation", 1).read(spark)
    val row = trunc.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(row.toSeq == Seq(("cd2", 0L, 0L)))
    // lineage sees the new rule
    val lineage = graft.io.SnapshotTable(s"$mroot/rule_lineage", 2).read(spark)
    assert(lineage.where(col("rule") === "conv_neardup").count() > 0)
  }

  test("opt-in boilerplate rule: bucketed == direct, composes with conv near-dup") {
    val spark = TestSpark.spark
    import spark.implicits._
    // plant a canned opening line into every conversation whose id ends
    // in 3 — identical normalized text across many conversations, so the
    // corpus-wide census must flag every planted copy (and the copies
    // hash into different conv buckets, the cross-bucket case the global
    // census stage exists for)
    val canned = "this conversation may be recorded for quality assurance purposes"
    val base = TranscriptGen.generateLocal(40, seed = 22, skewCap = 200)
    val turns = base.map(t =>
      if (t.conv_id.endsWith("3") && t.turn_idx == 0) t.copy(text = canned) else t)
    val ds = spark.createDataset(turns)
    val cfg = QualityFilter.BoilerplateConfig()

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[LabeledTurn].collect().sortBy(t => (t.conv_id, t.turn_idx))
        .map(t => t.copy(drop_reasons = t.drop_reasons.toList)).toSeq

    val direct = QualityFilter.withBoilerplate(
      QualityFilter.label(ds), QualityFilter.boilerplateDropKeysRaw(ds, cfg))
    val directRows = canon(direct)
    val flagged = directRows.filter(_.drop_reasons.contains("boilerplate"))
      .map(t => (t.conv_id, t.turn_idx)).toSet
    val planted = turns.filter(_.text == canned)
      .map(t => (t.conv_id, t.turn_idx)).toSet
    assert(planted.size >= 4 && planted.subsetOf(flagged), s"flagged: $flagged")

    val root1 = Files.createTempDirectory("graft_bp1").toString
    val res1 = CheckpointedRun.run(ds, root1, 4, boilerplate = Some(cfg))
    assert(res1.bucketsComputed == (0 until 4))
    assert(canon(CheckpointedRun.readOutput(spark, root1, 4)) == directRows)

    // semantics guard: resuming without the rule (or with different
    // parameters) fails fast instead of mixing label semantics
    intercept[IllegalArgumentException] { CheckpointedRun.run(ds, root1, 4) }
    intercept[IllegalArgumentException] {
      CheckpointedRun.run(ds, root1, 4,
        boilerplate = Some(cfg.copy(minConvs = 3)))
    }

    // composed with conv near-dup: clone the PLANTED (ending-in-3)
    // conversations so their turn 0 carries both rules, run both rules
    // bucketed, and require (a) equality with the directly
    // composed labels and (b) boilerplate listed BEFORE conv_neardup on
    // turns that carry both
    val clones = turns.filter(_.conv_id.endsWith("3"))
      .map(t => t.copy(conv_id = "d" + t.conv_id))
    val ds2 = spark.createDataset(turns ++ clones)
    val nd = QualityFilter.ConvNearDupConfig()
    val direct2 = canon(QualityFilter.withConvNearDup(
      QualityFilter.withBoilerplate(
        QualityFilter.label(ds2), QualityFilter.boilerplateDropKeysRaw(ds2, cfg)),
      QualityFilter.convNearDupDropIds(ds2.toDF(), nd)))
    val root2 = Files.createTempDirectory("graft_bp2").toString
    CheckpointedRun.run(ds2, root2, 4, convNearDup = Some(nd),
      boilerplate = Some(cfg))
    assert(canon(CheckpointedRun.readOutput(spark, root2, 4)) == direct2)
    val both = direct2.filter(t => t.drop_reasons.contains("boilerplate") &&
      t.drop_reasons.contains("conv_neardup"))
    assert(both.nonEmpty, "clone of a planted conv must carry both rules")
    both.foreach(t => assert(t.drop_reasons.indexOf("boilerplate") <
      t.drop_reasons.indexOf("conv_neardup"), s"$t"))
  }

  test("opt-in IQR ppl bounds: bucketed == direct, bounds recorded in labeling.cfg") {
    val spark = TestSpark.spark
    import spark.implicits._
    val turns = TranscriptGen.generateLocal(60, seed = 23, skewCap = 200)
    val ds = spark.createDataset(turns)

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[LabeledTurn].collect().sortBy(t => (t.conv_id, t.turn_idx))
        .map(t => t.copy(drop_reasons = t.drop_reasons.toList)).toSeq

    // direct: corpus-wide bounds threaded through labelScored
    val bounds = QualityFilter.pplIqrBounds(QualityFilter.score(ds))
    val direct = canon(QualityFilter.labelScored(QualityFilter.score(ds), Some(bounds)))
    // the data-driven bounds actually change labels vs the fixed PplMax
    // on this corpus (otherwise the test proves nothing)
    val fixed = canon(QualityFilter.label(ds))
    assert(direct != fixed, "IQR bounds must relabel at least one turn here")

    val root1 = Files.createTempDirectory("graft_iqr1").toString
    CheckpointedRun.run(ds, root1, 4, pplIqrK = Some(1.5))
    assert(canon(CheckpointedRun.readOutput(spark, root1, 4)) == direct)

    // the computed bounds land in labeling.cfg; a resume without the
    // rule (or with a different k) fails fast
    val cfg = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root1, "_graft", "labeling.cfg")))
    assert(cfg.contains(s"ppl_iqr=1.5,${bounds._1},${bounds._2}"), cfg)
    intercept[IllegalArgumentException] { CheckpointedRun.run(ds, root1, 4) }
    intercept[IllegalArgumentException] {
      CheckpointedRun.run(ds, root1, 4, pplIqrK = Some(3.0))
    }

    // skew-split path threads the same corpus-wide bounds
    val root2 = Files.createTempDirectory("graft_iqr2").toString
    CheckpointedRun.run(ds, root2, 4, skewMaxTurns = 5, pplIqrK = Some(1.5))
    assert(canon(CheckpointedRun.readOutput(spark, root2, 4)) == direct)
  }

  test("opt-in decontamination rule: bucketed == direct, composes in lineage order") {
    val spark = TestSpark.spark
    import spark.implicits._
    // plant a distinctive 8-word phrase into an "eval set" and into
    // turn 1 of every conversation whose id ends in 4 — those turns
    // (and only those) must drop as contaminated
    val leak = "the quick zephyr vexes the jaded dwarf mightily"
    val base = TranscriptGen.generateLocal(40, seed = 24, skewCap = 200)
    val turns = base.map(t =>
      if (t.conv_id.endsWith("4") && t.turn_idx == 1)
        t.copy(text = s"as we said before $leak and nothing else matters")
      else t)
    val ds = spark.createDataset(turns)
    val benchDir = Files.createTempDirectory("graft_bench").toString
    Seq(s"eval prompt one $leak", "eval prompt two entirely clean")
      .toDF("text").write.mode("overwrite").parquet(benchDir)
    val cfg = QualityFilter.ContaminationConfig(benchPath = benchDir, n = 8)

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[LabeledTurn].collect().sortBy(t => (t.conv_id, t.turn_idx))
        .map(t => t.copy(drop_reasons = t.drop_reasons.toList)).toSeq

    val direct = canon(QualityFilter.withContaminated(
      QualityFilter.label(ds),
      QualityFilter.contaminatedTurnKeys(ds.toDF(),
        spark.read.parquet(benchDir), cfg)))
    val flagged = direct.filter(_.drop_reasons.contains("contaminated"))
      .map(t => (t.conv_id, t.turn_idx)).toSet
    val planted = turns.filter(_.text != null)
      .filter(_.text.contains(leak)).map(t => (t.conv_id, t.turn_idx)).toSet
    assert(planted.size >= 2 && flagged == planted, s"flagged: $flagged")
    assert(direct.filter(t => flagged.contains((t.conv_id, t.turn_idx)))
      .forall(!_.keep))

    // the join fallback (gate forced to 0) lands the identical key set
    // with the struct row key — the path an oversized benchmark takes
    val viaFallback = QualityFilter.contaminatedTurnKeys(ds.toDF(),
        spark.read.parquet(benchDir), cfg.copy(maxBroadcastGrams = 0L))
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(viaFallback == planted, s"fallback keys: $viaFallback")

    val root1 = Files.createTempDirectory("graft_ct1").toString
    val res1 = CheckpointedRun.run(ds, root1, 4, decontaminate = Some(cfg))
    assert(res1.bucketsComputed == (0 until 4))
    assert(canon(CheckpointedRun.readOutput(spark, root1, 4)) == direct)

    // semantics guard: resume without the rule or with different
    // parameters fails fast
    intercept[IllegalArgumentException] { CheckpointedRun.run(ds, root1, 4) }
    intercept[IllegalArgumentException] {
      CheckpointedRun.run(ds, root1, 4,
        decontaminate = Some(cfg.copy(minMatches = 3)))
    }

    // content guard survives the fully-committed no-op fast path: the
    // bench set rewritten IN PLACE (same path, different rows) must
    // fail even a resume that would otherwise touch nothing — the
    // fingerprint scans only the small eval set, so the fast path can
    // afford to keep checking it
    Seq("a completely different eval prompt", "another one")
      .toDF("text").write.mode("overwrite").parquet(benchDir)
    intercept[IllegalArgumentException] {
      CheckpointedRun.run(ds, root1, 4, decontaminate = Some(cfg))
    }
    // restore the original eval set; the matching no-op resume passes
    // and computes nothing
    Seq(s"eval prompt one $leak", "eval prompt two entirely clean")
      .toDF("text").write.mode("overwrite").parquet(benchDir)
    val resNoop = CheckpointedRun.run(ds, root1, 4, decontaminate = Some(cfg))
    assert(resNoop.bucketsComputed.isEmpty && resNoop.bucketsSkipped == (0 until 4))

    // composed with boilerplate + conv-near-dup: clone the planted
    // conversations so a contaminated turn can also be conv_neardup;
    // lineage must list boilerplate < contaminated < conv_neardup
    val clones = turns.filter(_.conv_id.endsWith("4"))
      .map(t => t.copy(conv_id = "d" + t.conv_id))
    val ds2 = spark.createDataset(turns ++ clones)
    val bp = QualityFilter.BoilerplateConfig()
    val nd = QualityFilter.ConvNearDupConfig()
    val direct2 = canon(QualityFilter.withConvNearDup(
      QualityFilter.withContaminated(
        QualityFilter.withBoilerplate(
          QualityFilter.label(ds2),
          QualityFilter.boilerplateDropKeysRaw(ds2, bp)),
        QualityFilter.contaminatedTurnKeys(ds2.toDF(),
          spark.read.parquet(benchDir), cfg)),
      QualityFilter.convNearDupDropIds(ds2.toDF(), nd)))
    val root2 = Files.createTempDirectory("graft_ct2").toString
    CheckpointedRun.run(ds2, root2, 4, convNearDup = Some(nd),
      boilerplate = Some(bp), decontaminate = Some(cfg))
    assert(canon(CheckpointedRun.readOutput(spark, root2, 4)) == direct2)
    val both = direct2.filter(t => t.drop_reasons.contains("contaminated") &&
      t.drop_reasons.contains("conv_neardup"))
    assert(both.nonEmpty, "clone of a planted conv must carry both rules")
    both.foreach { t =>
      assert(t.drop_reasons.indexOf("contaminated") <
        t.drop_reasons.indexOf("conv_neardup"), s"$t")
      if (t.drop_reasons.contains("boilerplate"))
        assert(t.drop_reasons.indexOf("boilerplate") <
          t.drop_reasons.indexOf("contaminated"), s"$t")
    }
  }

  test("file-level stats prune a ts-range read to only the overlapping files") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.io.SnapshotTable
    val root = Files.createTempDirectory("graft_stats").toString
    val tbl = SnapshotTable(root, 2)
    def ts(h: Int) = new java.sql.Timestamp(1700000000000L + h * 3600000L)
    val rows = (0 until 40).map(i => (f"c$i%03d", i, ts(i)))
    val df = spark.createDataFrame(rows).toDF("conv_id", "turn_idx", "ts")
    // 2 buckets x 2 range-partitioned files -> 4 files with disjoint
    // ts ranges per bucket
    tbl.commitBucket(df.where($"turn_idx" < 20).repartitionByRange(2, $"ts"), 0)
    tbl.commitBucket(df.where($"turn_idx" >= 20).repartitionByRange(2, $"ts"), 1)

    val files = tbl.filesAt(tbl.currentVersion)
    assert(files.size == 4, files.map(_.path).mkString(","))
    // every file carries rows + string/long/ts bounds from its footer
    files.foreach { f =>
      assert(f.rows > 0)
      assert(f.bounds.contains("conv_id") && f.bounds.contains("ts") &&
        f.bounds.contains("turn_idx"), s"${f.path}: ${f.bounds.keySet}")
    }

    // a point ts predicate overlaps exactly ONE file (ranges disjoint)
    val h0 = SnapshotTable.micros(ts(0))
    val pruned = tbl.readAt(spark, tbl.currentVersion,
      f => SnapshotTable.overlapsLong(f, "ts", h0, h0))
    assert(pruned.inputFiles.length == 1, pruned.inputFiles.mkString(","))
    assert(pruned.where($"ts" === ts(0)).count() == 1)

    // conv-prefix pruning: only bucket 0's files hold c000..c019
    val convPruned = tbl.readAt(spark, tbl.currentVersion,
      f => SnapshotTable.overlapsString(f, "conv_id", "c000", "c003"))
    assert(convPruned.inputFiles.length < 4 && convPruned.inputFiles.nonEmpty)
    assert(convPruned.where($"conv_id" <= "c003").count() == 4)

    // pruned-read correctness: range read == full read filtered
    val lo = ts(5); val hi = ts(25)
    val viaPrune = tbl.readAt(spark, tbl.currentVersion,
        f => SnapshotTable.overlapsLong(f, "ts",
          SnapshotTable.micros(lo), SnapshotTable.micros(hi)))
      .where($"ts" >= lo && $"ts" <= hi)
      .select($"conv_id").as[String].collect().sorted.toSeq
    val viaFull = tbl.read(spark).where($"ts" >= lo && $"ts" <= hi)
      .select($"conv_id").as[String].collect().sorted.toSeq
    assert(viaPrune == viaFull && viaPrune.size == 21)

    // pipeline-level surface: readOutputRange opens only the
    // overlapping files (3 of 4 here) and applies the residual filter
    val viaHelper = CheckpointedRun.readOutputRange(spark, root, 2, lo, hi)
    assert(viaHelper.inputFiles.length == 3,
      viaHelper.inputFiles.mkString(","))
    assert(viaHelper.select($"conv_id").as[String].collect().sorted.toSeq
      == viaFull)

    // an all-pruned read keeps the schema, returns zero rows
    val none = tbl.readAt(spark, tbl.currentVersion, _ => false)
    assert(none.columns.toSeq == Seq("conv_id", "turn_idx", "ts"))
    assert(none.count() == 0)

    // time travel still prunes against THAT snapshot's file set
    val v1Files = tbl.filesAt(1)
    assert(v1Files.map(_.bucket).toSet == Set(0))

    // after a bucket re-commit (idempotent overwrite -> new part
    // files), pruned time travel to the old snapshot must fall back to
    // dir granularity for that bucket — same read-newest semantics as
    // the unpruned readAt, never a deleted-path crash
    tbl.commitBucket(df.where($"turn_idx" < 20).repartition(3), 0)
    val stale = tbl.readAt(spark, 1, _ => false)
    assert(stale.count() == 20)
  }

  test("a second writer's commit never silently drops the first's buckets") {
    val root = Files.createTempDirectory("graft_ckpt4").toString
    val t1 = graft.io.SnapshotTable(root, 4)
    val t2 = graft.io.SnapshotTable(root, 4)
    val spark = TestSpark.spark
    import spark.implicits._
    Seq((1, "a")).toDF("k", "v").write.mode("overwrite").parquet(s"$root/data/bucket=0")
    Seq((2, "b")).toDF("k", "v").write.mode("overwrite").parquet(s"$root/data/bucket=1")
    t1.commitBuckets(Set(0)) // v1
    // a divergent/stale manifest at the next version (e.g. left by a
    // killed writer): allocation must skip PAST it, never overwrite it
    val stale = java.nio.file.Paths.get(root, "_graft", "manifest-v2.json")
    java.nio.file.Files.write(stale, "{}".getBytes)
    val v = t2.commitBuckets(Set(1))
    assert(v == 3, s"allocated $v")
    assert(t2.completedBuckets == Set(0, 1)) // t1's commit survived
    assert(new String(java.nio.file.Files.readAllBytes(stale)) == "{}") // untouched
    // rollback then commit: the new snapshot supersedes without
    // overwriting the divergent future
    t2.rollbackTo(1)
    val v2 = t2.commitBuckets(Set(1))
    assert(v2 == 4 && t2.completedBuckets == Set(0, 1))
  }

  private def labeled(df: org.apache.spark.sql.DataFrame): Seq[LabeledTurn] = {
    import TestSpark.spark.implicits._
    df.as[LabeledTurn].collect().sortBy(t => (t.conv_id, t.turn_idx))
      .map(t => t.copy(drop_reasons = t.drop_reasons.toList)).toSeq
  }

  test("conv near-dup with no LSH candidates: truncation reported, run completes (AQE on)") {
    val spark = TestSpark.spark
    import spark.implicits._
    // a small corpus without near-dups: the LSH finds no candidate
    // pairs, and AQE's empty-relation propagation prunes the cd2_buckets
    // observe node out of the executed plan
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val ds = spark.createDataset(TranscriptGen.generateLocal(40, seed = 3, skewCap = 200))
    val cfg = QualityFilter.ConvNearDupConfig()
    val probe = QualityFilter.convNearDupDropIds(ds.toDF(), cfg)
    assert(probe.queryExecution.toRdd.count() == 0)
    assert(!probe.queryExecution.observedMetrics.contains("cd2_buckets"))
    val root = Files.createTempDirectory("graft_cnd0").toString
    val mroot = Files.createTempDirectory("graft_cnd0_m").toString
    CheckpointedRun.run(ds, root, 2, metricsRoot = Some(mroot), convNearDup = Some(cfg))
    val trunc = graft.io.SnapshotTable(s"$mroot/truncation", 1).read(spark)
      .as[(String, Long, Long)].collect()
    assert(trunc.toSeq == Seq(("cd2", 0L, 0L)))
    assert(labeled(CheckpointedRun.readOutput(spark, root, 2)) == labeled(QualityFilter.label(ds)))
  }

  test("bucket exchange is sized per bucket: bucketed == direct with AQE on and off") {
    val spark = TestSpark.spark
    import spark.implicits._
    val ds = spark.createDataset(TranscriptGen.generateLocal(60, seed = 13, skewCap = 200))
    val direct = labeled(QualityFilter.label(ds))
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val prior = keys.map(spark.conf.get)
    // Spark's default count: with a fixed-count exchange every bucket
    // ran 200 reduce tasks and wrote up to 200 files
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try {
      for (aqe <- Seq(true, false)) {
        spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
        val root = Files.createTempDirectory("graft_ckpt_aqe").toString
        CheckpointedRun.run(ds, root, 3)
        assert(labeled(CheckpointedRun.readOutput(spark, root, 3)) == direct, s"AQE $aqe")
        if (aqe) {
          val tbl = graft.io.SnapshotTable(root, 3)
          val files = tbl.filesAt(tbl.currentVersion).groupBy(_.bucket)
          assert(files.keySet == Set(0, 1, 2))
          assert(files.values.forall(_.size <= 8),
            s"files per bucket: ${files.map { case (b, fs) => b -> fs.size }}")
        }
      }
    } finally keys.zip(prior).foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("labeling.cfg keeps its on-disk format; a table with the all-off file resumes") {
    val spark = TestSpark.spark
    import spark.implicits._
    // the exact strings earlier releases wrote: the codec must keep them
    assert(LabelingCfg(None, None, None, None).render == "conv_neardup=off")
    val allOn = LabelingCfg(Some(QualityFilter.ConvNearDupConfig()),
      Some(QualityFilter.BoilerplateConfig()), Some(1.5),
      Some(QualityFilter.ContaminationConfig(benchPath = "/data/eval set") -> ((12L, -2L))),
      Some((-0.25, 40.125)))
    assert(allOn.render == "conv_neardup=64,16,3,0.7,256\nboilerplate=2,16\n" +
      "ppl_iqr=1.5,-0.25,40.125\ndecontaminate=8,1,text,12:fffffffffffffffe,/data/eval set")
    // before the bounds are computed, ppl_iqr compares k only
    assert(allOn.copy(pplBounds = None).agrees(allOn.render))
    assert(!allOn.copy(pplIqrK = Some(3.0), pplBounds = None).agrees(allOn.render))
    assert(!allOn.agrees(allOn.render.replace("40.125", "40.5")))

    // a partially committed table carrying the all-off file resumes
    val ds = spark.createDataset(TranscriptGen.generateLocal(30, seed = 27, skewCap = 200))
    val root = Files.createTempDirectory("graft_cfg_golden").toString
    val table = graft.io.SnapshotTable(root, 2)
    table.commitBucket(QualityFilter.label(ds.where(Metrics.bucketCol(2) === 0)), 0)
    Files.write(java.nio.file.Paths.get(root, "_graft", "labeling.cfg"),
      "conv_neardup=off".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val res = CheckpointedRun.run(ds, root, 2)
    assert(res.bucketsComputed == Seq(1) && res.bucketsSkipped == Seq(0))
    assert(labeled(CheckpointedRun.readOutput(spark, root, 2)) == labeled(QualityFilter.label(ds)))
    assert(LabelingCfg.read(root).contains("conv_neardup=off"))
  }

  test("partially committed table: a changed opt-in fails before any corpus pass, unchanged resume == direct") {
    val spark = TestSpark.spark
    import spark.implicits._
    val ds = spark.createDataset(CheckpointSpec.allOptInTurns)
    val benchDir = CheckpointSpec.allOptInBench()
    val nd = QualityFilter.ConvNearDupConfig()
    val bp = QualityFilter.BoilerplateConfig()
    val ct = QualityFilter.ContaminationConfig(benchPath = benchDir)
    val root = Files.createTempDirectory("graft_guard").toString
    def run(in: org.apache.spark.sql.Dataset[graft.schema.Turn],
            nd: QualityFilter.ConvNearDupConfig = nd,
            bp: QualityFilter.BoilerplateConfig = bp, k: Double = 1.5,
            ct: QualityFilter.ContaminationConfig = ct,
            after: Int => Unit = _ => ()) =
      CheckpointedRun.run(in, root, 4, convNearDup = Some(nd), boilerplate = Some(bp),
        pplIqrK = Some(k), decontaminate = Some(ct), afterDataCommit = after)

    // crash right after bucket 0's data commit: the run still releases
    // every relation it persisted (scored frame + three key sets)
    final class Crash extends RuntimeException("simulated crash")
    def persistedRdds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val persistedBefore = persistedRdds
    intercept[Crash] { run(ds, after = b => if (b == 0) throw new Crash) }
    assert(persistedRdds == persistedBefore, "a failed run left relations persisted")
    assert(graft.io.SnapshotTable(root, 4).completedBuckets == Set(0))
    val bounds = QualityFilter.pplIqrBounds(QualityFilter.score(ds), 1.5)
    val (nGrams, xorSig) = graft.ops.Decontaminate.benchFingerprint(
      spark.read.parquet(benchDir), "text", 8)
    val recorded = "conv_neardup=64,16,3,0.7,256\nboilerplate=2,16\n" +
      s"ppl_iqr=1.5,${bounds._1},${bounds._2}\n" +
      s"decontaminate=8,1,text,$nGrams:${java.lang.Long.toHexString(xorSig)},$benchDir"
    assert(LabelingCfg.read(root).contains(recorded))

    // each changed opt-in fails in the settings guard, before any corpus
    // pass: every job over this input throws
    val poisoned = ds.map[graft.schema.Turn]((_: graft.schema.Turn) =>
      throw new IllegalStateException("corpus pass before the settings guard"))
    Seq[(String, () => Any)](
      "conv_neardup" -> (() => run(poisoned, nd = nd.copy(threshold = 0.9))),
      "boilerplate" -> (() => run(poisoned, bp = bp.copy(minConvs = 3))),
      "ppl_iqr" -> (() => run(poisoned, k = 3.0)),
      "decontaminate" -> (() => run(poisoned, ct = ct.copy(minMatches = 3)))
    ).foreach { case (rule, resume) =>
      val e = intercept[IllegalArgumentException](resume())
      assert(e.getMessage.contains("was produced under"), s"$rule: ${e.getMessage}")
    }
    assert(LabelingCfg.read(root).contains(recorded))

    // recorded bounds that the recomputation does not land fail the
    // guard once the scoring pass has computed them
    val cfgFile = java.nio.file.Paths.get(root, "_graft", "labeling.cfg")
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val tampered = recorded.replace(s"ppl_iqr=1.5,${bounds._1},", s"ppl_iqr=1.5,${bounds._1 - 1},")
    assert(tampered != recorded)
    Files.write(cfgFile, tampered.getBytes(utf8))
    intercept[IllegalArgumentException](run(ds))
    Files.write(cfgFile, recorded.getBytes(utf8))

    val res = run(ds)
    assert(res.bucketsComputed == Seq(1, 2, 3) && res.bucketsSkipped == Seq(0))
    assert(persistedRdds == persistedBefore, "a completed run left relations persisted")
    val direct = labeled(QualityFilter.withConvNearDup(
      QualityFilter.withContaminated(
        QualityFilter.withBoilerplate(
          QualityFilter.labelScored(QualityFilter.score(ds), Some(bounds)),
          QualityFilter.boilerplateDropKeysRaw(ds, bp)),
        QualityFilter.contaminatedTurnKeys(ds.toDF(), spark.read.parquet(benchDir), ct)),
      QualityFilter.convNearDupDropIds(ds.toDF(), nd)))
    Seq("boilerplate", "contaminated", "conv_neardup", "perplexity").foreach(r =>
      assert(direct.exists(_.drop_reasons.contains(r)), s"$r never fires"))
    assert(labeled(CheckpointedRun.readOutput(spark, root, 4)) == direct)
  }

  private def tableRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq.toList).sortBy(_.toString).toList

  /** The committed metrics tables == the groupBy tables over `labeled`. */
  private def assertMetricsMatch(mroot: String, nBuckets: Int,
                                 labeled: org.apache.spark.sql.DataFrame): Unit = {
    val spark = TestSpark.spark
    Seq("bucket_stats" -> Metrics.bucketStats(labeled, nBuckets),
        "rule_lineage" -> Metrics.ruleLineage(labeled, nBuckets)).foreach { case (name, want) =>
      val got = graft.io.SnapshotTable(s"$mroot/$name", nBuckets).read(spark)
      assert(got.columns.toSeq == want.columns.toSeq, name)
      assert(got.schema.map(_.dataType) == want.schema.map(_.dataType), name)
      assert(tableRows(got) == tableRows(want), name)
    }
  }

  test("metrics counted during the data write: <= 2 jobs a bucket, no metrics write") {
    val spark = TestSpark.spark
    import spark.implicits._
    val root = Files.createTempDirectory("graft_counted").toString
    val mroot = Files.createTempDirectory("graft_counted_m").toString
    val ds = spark.createDataset(TranscriptGen.generateLocal(40, seed = 11, skewCap = 100))
    val nBuckets = 3
    val tables = Seq(root, s"$mroot/bucket_stats", s"$mroot/rule_lineage")
      .map(graft.io.SnapshotTable(_, nBuckets))
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, Seq[Boolean])]
    val (res, jobs) = JobLog.of(spark.sparkContext) {
      CheckpointedRun.run(ds, root, nBuckets, metricsRoot = Some(mroot),
        afterDataCommit = b => seen += b -> tables.map(_.completedBuckets.contains(b)))
    }
    assert(res.bucketsComputed == (0 until nBuckets))
    // the torn window the crash drills rely on: data committed, metrics not
    assert(seen == (0 until nBuckets).map(_ -> Seq(true, false, false)))
    // the label-and-write job's two jobs; the metrics commits run none
    assert(jobs.size <= 2 * nBuckets, s"${jobs.size} jobs for $nBuckets buckets")
    // the input is in memory: a job scanning files reads the run's own output
    assert(!jobs.exists(_.rdds.exists(_.name == "FileScanRDD")),
      jobs.map(j => j.id -> j.rdds.map(_.name)).mkString("\n"))
    // nothing was written under the metrics root but its manifests
    val written = Files.walk(java.nio.file.Paths.get(mroot)).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => Files.isRegularFile(p) && !p.getParent.endsWith("_graft"))
    assert(written.isEmpty, written.mkString(", "))
    assertMetricsMatch(mroot, nBuckets, CheckpointedRun.readOutput(spark, root, nBuckets))
    assertMetricsMatch(mroot, nBuckets, QualityFilter.label(ds))
  }

  test("metrics tables with file and row buckets == groupBy tables") {
    val spark = TestSpark.spark
    import spark.implicits._
    val root = Files.createTempDirectory("graft_mixed").toString
    val mroot = Files.createTempDirectory("graft_mixed_m").toString
    val ds = spark.createDataset(TranscriptGen.generateLocal(40, seed = 17, skewCap = 100))
    val nBuckets = 3
    // bucket 0 in the file layout: each table's rows written by a Spark
    // job, and manifests without the bucket count, as earlier releases
    // committed them
    val one = QualityFilter.label(ds.where(Metrics.bucketCol(nBuckets) === 0))
    graft.io.SnapshotTable(root, nBuckets).commitBucket(one, 0)
    graft.io.SnapshotTable(s"$mroot/bucket_stats", nBuckets)
      .commitBucket(Metrics.bucketStats(one, nBuckets).coalesce(1), 0)
    graft.io.SnapshotTable(s"$mroot/rule_lineage", nBuckets)
      .commitBucket(Metrics.ruleLineage(one, nBuckets).coalesce(1), 0)
    Seq(root, s"$mroot/bucket_stats", s"$mroot/rule_lineage").foreach(CheckpointSpec.dropBucketCount)

    val res = CheckpointedRun.run(ds, root, nBuckets, metricsRoot = Some(mroot))
    assert(res.bucketsSkipped == Seq(0) && res.bucketsComputed == Seq(1, 2))
    Seq("bucket_stats", "rule_lineage").foreach { name =>
      val t = graft.io.SnapshotTable(s"$mroot/$name", nBuckets)
      assert(t.filesAt(t.currentVersion).map(_.bucket).toSet == Set(0), name)
      assert(t.recordedBuckets.contains(nBuckets), name)
    }
    assertMetricsMatch(mroot, nBuckets, QualityFilter.label(ds))
  }

  test("a resume under another bucket count fails before any Spark job") {
    val spark = TestSpark.spark
    import spark.implicits._
    val root = Files.createTempDirectory("graft_nbuckets").toString
    val mroot = Files.createTempDirectory("graft_nbuckets_m").toString
    val ds = spark.createDataset(TranscriptGen.generateLocal(40, seed = 19, skewCap = 100))
    def run(in: org.apache.spark.sql.Dataset[graft.schema.Turn], nBuckets: Int,
            after: Int => Unit = _ => ()) =
      CheckpointedRun.run(in, root, nBuckets, metricsRoot = Some(mroot), afterDataCommit = after)
    final class Crash extends RuntimeException("simulated crash")
    intercept[Crash] { run(ds, 4, after = b => if (b == 1) throw new Crash) }
    val roots = Seq(root, s"$mroot/bucket_stats", s"$mroot/rule_lineage")
    def versions = roots.map(r => new String(Files.readAllBytes(
      java.nio.file.Paths.get(r, "_graft", "VERSION")), java.nio.charset.StandardCharsets.UTF_8))
    val atCrash = versions
    assert(graft.io.SnapshotTable(root, 4).completedBuckets == Set(0, 1))

    // every job over this input throws, and none may start
    val poisoned = ds.map[graft.schema.Turn]((_: graft.schema.Turn) =>
      throw new IllegalStateException("corpus pass before the bucket-count guard"))
    Seq(8, 3).foreach { b =>
      val (outcome, jobs) = JobLog.of(spark.sparkContext)(scala.util.Try(run(poisoned, b)))
      val e = outcome.failed.get
      assert(e.isInstanceOf[IllegalArgumentException], e)
      assert(e.getMessage.contains("4 buckets") && e.getMessage.contains(s"asks for $b"),
        e.getMessage)
      assert(jobs.isEmpty, s"B=$b ran ${jobs.size} jobs")
      assert(versions == atCrash, s"B=$b moved a VERSION")
    }

    // the unchanged count resumes, and so does a complete table
    val res = run(ds, 4)
    assert(res.bucketsComputed == Seq(1, 2, 3) && res.bucketsSkipped == Seq(0))
    assert(labeled(CheckpointedRun.readOutput(spark, root, 4)) == labeled(QualityFilter.label(ds)))
    assert(run(poisoned, 4).bucketsComputed.isEmpty)
    intercept[IllegalArgumentException](run(poisoned, 8))

    // manifests written before the count was recorded resume as before
    roots.foreach(CheckpointSpec.dropBucketCount)
    assert(run(poisoned, 4).bucketsComputed.isEmpty)
  }

  test("counted metrics with all four opt-ins == groupBy tables over the output") {
    val spark = TestSpark.spark
    import spark.implicits._
    val root = Files.createTempDirectory("graft_counted_opt").toString
    val mroot = Files.createTempDirectory("graft_counted_opt_m").toString
    CheckpointedRun.run(spark.createDataset(CheckpointSpec.allOptInTurns), root, 4,
      metricsRoot = Some(mroot),
      convNearDup = Some(QualityFilter.ConvNearDupConfig()),
      boilerplate = Some(QualityFilter.BoilerplateConfig()), pplIqrK = Some(1.5),
      decontaminate = Some(QualityFilter.ContaminationConfig(
        benchPath = CheckpointSpec.allOptInBench())))
    import org.apache.spark.sql.functions.{array_contains, col}
    val out = CheckpointedRun.readOutput(spark, root, 4)
    Seq("boilerplate", "contaminated", "conv_neardup", "perplexity").foreach(r =>
      assert(!out.where(array_contains(col("drop_reasons"), r)).isEmpty, s"$r never fires"))
    assertMetricsMatch(mroot, 4, out)
  }

  test("counters stay exact when a data-write task's first attempt fails (local[4,3])") {
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft_retry").toString
    val mroot = Files.createTempDirectory("graft_retry_m").toString
    // the parent's JVM flags (--add-opens, -D...) with a small heap
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-Xmx")).toSeq
    val cmd = Seq(sys.props("java.home") + "/bin/java") ++ jvmArgs ++
      Seq("-Xmx1g", "-cp", sys.props("java.class.path"), "graft.RetriedMetricsRun", root, mroot)
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val output = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
    assert(proc.waitFor() == 0, output.takeRight(40).mkString("\n"))
    val result = output.filter(_.startsWith("failed="))
    assert(result == Seq("failed=2 stats=true lineage=true"), output.takeRight(40).mkString("\n"))
  }

}

object CheckpointSpec {
  /** Rewrites a table's current manifest without its `n_buckets` field,
    * the form manifests had before the bucket count was recorded.
    */
  def dropBucketCount(root: String): Unit = {
    val t = graft.io.SnapshotTable(root, 1)
    val f = java.nio.file.Paths.get(root, "_graft", s"manifest-v${t.currentVersion}.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val m = mapper.readTree(Files.readAllBytes(f))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    assert(m.remove("n_buckets") != null)
    Files.write(f, mapper.writeValueAsBytes(m))
  }

  // all four opt-ins fire on this corpus: a canned opening line
  // (boilerplate), a leaked eval phrase (decontamination), verbatim
  // clones (conv near-dup), and IQR ppl bounds
  private val leak = "the quick zephyr vexes the jaded dwarf mightily"

  def allOptInTurns: Seq[graft.schema.Turn] = {
    val canned = "this conversation may be recorded for quality assurance purposes"
    val base = TranscriptGen.generateLocal(40, seed = 25, skewCap = 200).map { t =>
      if (t.conv_id.endsWith("3") && t.turn_idx == 0) t.copy(text = canned)
      else if (t.conv_id.endsWith("4") && t.turn_idx == 1)
        t.copy(text = s"as we said before $leak and nothing else matters")
      else t
    }
    base ++ base.filter(_.conv_id.endsWith("0")).map(t => t.copy(conv_id = "d" + t.conv_id))
  }

  /** Writes the eval set `allOptInTurns` leaks from; returns its dir. */
  def allOptInBench(): String = {
    val spark = TestSpark.spark
    import spark.implicits._
    val benchDir = Files.createTempDirectory("graft_guard_bench").toString
    Seq(s"eval prompt one $leak", "eval prompt two entirely clean")
      .toDF("text").write.mode("overwrite").parquet(benchDir)
    benchDir
  }
}

package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.SnapshotTable
import graft.metrics.Metrics
import graft.schema.Turn

/** Checkpoint-resumable pipeline run (north rule): conversations are
  * hashed into `nBuckets` buckets; each bucket is labeled, written, and
  * committed to the snapshot table independently. A restarted run skips
  * committed buckets (idempotent overwrite + atomic manifest commit),
  * so a crash loses at most one bucket of work — the analog of resuming
  * from an Iceberg snapshot at 10^12-turn scale.
  *
  * Buckets partition by conv_id hash, so every conversation-scoped
  * window stays within one bucket — per-bucket results are identical to
  * a whole-corpus run (asserted by CheckpointSpec).
  *
  * Per-bucket tasks and files: a bucket's labeling job runs one conv_id
  * exchange with no fixed partition count, so AQE sizes its reduce side
  * to the bucket — a handful of reduce tasks and parquet files per
  * bucket, not `spark.sql.shuffle.partitions` of each (200 by default:
  * 51,200 files at `--buckets 256`). The commit's footer scan and the
  * metrics read-back below touch only those files.
  *
  * At real scale the input table would itself be bucket-partitioned
  * (Iceberg `bucket(conv_id, B)` partition transform), making each
  * bucket job scan only its own files; on flat sandbox parquet each
  * bucket job rescans + filters, which is still correct.
  */
object CheckpointedRun {

  final case class RunResult(
      snapshotVersion: Int,
      bucketsComputed: Seq[Int],
      bucketsSkipped: Seq[Int])

  /** `afterDataCommit` is a fault-injection seam (crash drills): invoked
    * with the bucket id right after that bucket's DATA commit and
    * before its metrics commits — the window where a crash must force
    * the bucket to re-run on restart.
    */
  def run(input: Dataset[Turn], outRoot: String, nBuckets: Int,
          metricsRoot: Option[String] = None,
          skewMaxTurns: Int = 0,
          afterDataCommit: Int => Unit = _ => (),
          maxCollectedGiants: Int = SkewSplit.MaxCollectedGiants,
          convNearDup: Option[QualityFilter.ConvNearDupConfig] = None,
          boilerplate: Option[QualityFilter.BoilerplateConfig] = None,
          pplIqrK: Option[Double] = None,
          decontaminate: Option[QualityFilter.ContaminationConfig] = None): RunResult = {
    val table = SnapshotTable(outRoot, nBuckets)
    val bucket = Metrics.bucketCol(nBuckets)

    // metrics are snapshot tables of their own (the "Iceberg metrics
    // table"): committed per bucket with the same atomic-manifest
    // semantics as the data, so lineage is never ahead of or behind
    // the output snapshot by more than the in-flight bucket
    val metricTables = metricsRoot.map(mr =>
      (SnapshotTable(s"$mr/bucket_stats", nBuckets),
        SnapshotTable(s"$mr/rule_lineage", nBuckets)))

    // a bucket counts as done only when data AND metrics committed it:
    // a crash between the data commit and the metrics commits must
    // re-run the bucket on restart (every commit is an idempotent
    // overwrite), otherwise its stats/lineage rows are lost for good
    val done = metricTables match {
      case Some((statsT, lineageT)) =>
        table.completedBuckets intersect statsT.completedBuckets intersect
          lineageT.completedBuckets
      case None => table.completedBuckets
    }
    val todo = (0 until nBuckets).filterNot(done)

    // Fully-committed no-op resume: nothing will be relabeled, so the
    // expensive CORPUS passes (full-corpus model scoring for the IQR
    // bounds) exist only to rebuild labeling.cfg's computed values for
    // the guard comparison. Compare the recorded parameters instead
    // and return — same failure semantics on a parameter mismatch,
    // zero corpus passes when the table is already complete. The
    // decontamination line keeps its CONTENT check: the bench
    // fingerprint scans only the (small by design) eval set, so a
    // rewritten-under-the-table eval set still fails even the no-op
    // resume; only the ppl_iqr bounds narrow to a k-only compare here
    // (recomputing them IS the full-corpus pass being skipped).
    if (todo.isEmpty) {
      val cfgFile = java.nio.file.Paths.get(outRoot, "_graft", "labeling.cfg")
      if (java.nio.file.Files.exists(cfgFile)) {
        val prior = new String(java.nio.file.Files.readAllBytes(cfgFile),
          java.nio.charset.StandardCharsets.UTF_8).trim
        val lines = prior.linesIterator.toSeq
        def line(prefix: String): Option[String] = lines.find(_.startsWith(prefix))
        val cndOk = convNearDup match {
          case Some(c) => line("conv_neardup=").contains(
            s"conv_neardup=${c.numHashes},${c.bands},${c.shingleK},${c.threshold},${c.maxBucket}")
          case None => line("conv_neardup=").forall(_ == "conv_neardup=off")
        }
        val bpOk = boilerplate match {
          case Some(b) => line("boilerplate=").contains(s"boilerplate=${b.minConvs},${b.minLen}")
          case None => line("boilerplate=").isEmpty
        }
        val iqrOk = pplIqrK match {
          case Some(k) => line("ppl_iqr=").exists(_.startsWith(s"ppl_iqr=$k,"))
          case None => line("ppl_iqr=").isEmpty
        }
        val ctOk = decontaminate match {
          case Some(d) =>
            val (nGrams, xorSig) = graft.ops.Decontaminate.benchFingerprint(
              input.sparkSession.read.parquet(d.benchPath), d.benchTextCol, d.n)
            line("decontaminate=").contains(
              s"decontaminate=${d.n},${d.minMatches},${d.benchTextCol}," +
                s"$nGrams:${java.lang.Long.toHexString(xorSig)},${d.benchPath}")
          case None => line("decontaminate=").isEmpty
        }
        require(cndOk && bpOk && iqrOk && ctOk,
          s"output table $outRoot was produced under '$prior' but this " +
            "fully-committed resume asks for different labeling settings — " +
            "finish the run with the original setting or start a fresh output root")
        return RunResult(table.currentVersion, Seq.empty, done.toSeq.sorted)
      }
    }

    // opt-in IQR perplexity bounds (the A8 outlier rule on the model
    // score): quartiles are a whole-corpus statistic, so the bounds are
    // computed ONCE over the FULL input — naive per-bucket quartiles
    // would give each bucket different drop thresholds, breaking the
    // bucketed == direct invariant. Scoring is the engine's dominant
    // map cost, so the scored frame is PERSISTED and reused: the
    // quartile passes read it, and every bucket labels from it via the
    // labelScored seam instead of re-scoring its rows (round 6 paid a
    // second full-corpus model pass here). Deterministic either way
    // (exact histogram-selection percentiles), so a resume recomputes
    // the identical bounds and labeling.cfg's recorded copy below
    // fails fast if it somehow doesn't (changed corpus, changed k).
    val scoredForIqr: Option[Dataset[graft.schema.ScoredTurn]] = pplIqrK.map { _ =>
      QualityFilter.score(input)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val pplBounds: Option[(Double, Double)] =
      (pplIqrK, scoredForIqr) match {
        case (Some(k), Some(s)) => Some(QualityFilter.pplIqrBounds(s, k))
        case _ => None
      }

    // opt-in decontamination: fingerprint the bench gram set up front —
    // the guard below records CONTENT (count + xor of gram hashes), not
    // just the path, so an eval set rewritten under the table between
    // runs fails the resume instead of silently mixing label semantics
    // per bucket (the same reason ppl_iqr records its computed bounds).
    val ctFingerprint: Option[(Long, Long)] = decontaminate.map { d =>
      graft.ops.Decontaminate.benchFingerprint(
        input.sparkSession.read.parquet(d.benchPath), d.benchTextCol, d.n)
    }

    // LABEL-SEMANTICS guard: every opt-in (conv-near-dup, boilerplate,
    // IQR ppl bounds, decontamination) changes what the committed
    // labels MEAN, so a resume must run with the same settings the
    // committed buckets were produced under — otherwise the table
    // silently mixes semantics per bucket. The first run records the
    // settings next to the manifests; later runs must match them while
    // any bucket is already committed. (skew-max-turns is NOT recorded:
    // the split changes the plan, never the labels — CheckpointSpec
    // pins split == unsplit.)
    locally {
      import java.nio.charset.StandardCharsets.UTF_8
      val cfgFile = java.nio.file.Paths.get(outRoot, "_graft", "labeling.cfg")
      // the boilerplate line is appended ONLY when the rule is on, so
      // tables produced before the rule existed still resume cleanly
      // with it off — and any on/off mismatch still fails the guard
      val cfgStr = (convNearDup match {
        case Some(c) =>
          s"conv_neardup=${c.numHashes},${c.bands},${c.shingleK},${c.threshold},${c.maxBucket}"
        case None => "conv_neardup=off"
      }) + (boilerplate match {
        case Some(b) => s"\nboilerplate=${b.minConvs},${b.minLen}"
        case None => ""
      }) + ((pplIqrK, pplBounds) match {
        // the COMPUTED bounds are recorded, not just k: a resume whose
        // recomputation lands different bounds (corpus changed under
        // the table) must fail the guard, not silently relabel
        case (Some(k), Some((lo, hi))) => s"\nppl_iqr=$k,$lo,$hi"
        case _ => ""
      }) + ((decontaminate, ctFingerprint) match {
        case (Some(d), Some((nGrams, xorSig))) =>
          require(!d.benchPath.contains("\n"),
            "decontamination bench path must not contain newlines (labeling.cfg is line-oriented)")
          s"\ndecontaminate=${d.n},${d.minMatches},${d.benchTextCol}," +
            s"$nGrams:${java.lang.Long.toHexString(xorSig)},${d.benchPath}"
        case _ => ""
      })
      if (java.nio.file.Files.exists(cfgFile)) {
        val prior = new String(java.nio.file.Files.readAllBytes(cfgFile), UTF_8).trim
        require(prior == cfgStr || table.completedBuckets.isEmpty,
          s"output table $outRoot was partially produced under '$prior' but this " +
            s"run asks for '$cfgStr' — finish the run with the original setting " +
            "or start a fresh output root")
      } else {
        // no labeling.cfg but committed buckets: a table produced before
        // this guard existed (or via direct SnapshotTable use) carries
        // the documented pre-rule default semantics — every opt-in off.
        // Resuming with any opt-in ON would mix label semantics per
        // bucket, the exact failure the guard prevents.
        require(table.completedBuckets.isEmpty ||
            (convNearDup.isEmpty && boilerplate.isEmpty &&
              pplIqrK.isEmpty && decontaminate.isEmpty),
          s"output table $outRoot has committed buckets but no labeling.cfg " +
            "(pre-guard table: all opt-in rules off) — this run enables an " +
            "opt-in rule; finish with the rules off or start a fresh output root")
      }
      java.nio.file.Files.write(cfgFile, cfgStr.getBytes(UTF_8))
    }

    // ONE census over the remaining corpus locates giant conversations
    // for every to-do bucket (SkewSplit would otherwise census per
    // bucket — nBuckets extra full-input jobs); buckets with no giants
    // run the standard path with zero split overhead. The collect is
    // LIMIT-bounded like SkewSplit.label's: when the corpus is so
    // degenerate that giants exceed the bound, every bucket takes the
    // join-based split instead of pulling an unbounded id list to the
    // driver (a guard applied after an unbounded collect would OOM
    // before it ran).
    val (giantsByBucket: Map[Int, Array[String]], censusOverflow: Boolean) =
      if (skewMaxTurns <= 0 || todo.isEmpty) (Map.empty[Int, Array[String]], false)
      else {
        import input.sparkSession.implicits._
        val rows = input.groupBy(col("conv_id")).agg(count(lit(1)).as("n_turns"))
          .where(col("n_turns") > skewMaxTurns)
          .select(col("conv_id"), bucket.cast("int").as("b"))
          .limit(maxCollectedGiants + 1)
          .as[(String, Int)].collect()
        if (rows.length > maxCollectedGiants)
          (Map.empty[Int, Array[String]], true)
        else
          (rows.groupBy(_._2).map { case (b, rs) => b -> rs.map(_._1) }, false)
      }

    // opt-in conversation near-dup: near-dup PAIRS cross conv-hash
    // buckets, so the dropped-conversation set is computed ONCE over
    // the FULL corpus (deterministic LSH — a resumed run recomputes the
    // identical set, keeping re-run buckets bit-identical) and joined
    // into each bucket's labels. Persisted: every to-do bucket reuses
    // the one candidate-generation pass. The cd2 capped-bucket
    // truncation observation is harvested off the SAME materializing
    // action and lands in the metrics root as data (north rule:
    // recall-affecting truncation must be queryable, not buried in
    // logs).
    val dropped = convNearDup.filter(_ => todo.nonEmpty).map { cfg =>
      val d = QualityFilter.convNearDupDropIds(input.toDF(), cfg)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      metricsRoot match {
        case Some(mr) =>
          val trunc = Metrics.truncationMetrics(d, Seq("cd2"))
          SnapshotTable(s"$mr/truncation", 1).commitBucket(trunc, 0)
        case None => d.count() // materialize the cache in one pass
      }
      d
    }

    // opt-in boilerplate: the census (which normalized texts recur
    // across >= minConvs conversations) also crosses conv-hash buckets,
    // so the dropped-turn key set is computed ONCE over the FULL corpus
    // — via the model-free raw path (normalize + hash only; the
    // per-bucket labeling already pays the model pass) — persisted, and
    // joined into each bucket. Deterministic, so a resumed run
    // recomputes the identical set.
    val bpDropped = boilerplate.filter(_ => todo.nonEmpty).map { cfg =>
      val d = QualityFilter.boilerplateDropKeysRaw(input, cfg)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      d.count() // materialize the cache in one pass
      d
    }

    // opt-in decontamination: per-turn (no cross-bucket coupling), but
    // still computed ONCE corpus-wide so the benchmark gram set is
    // built, counted, and broadcast-gated a single time instead of per
    // bucket. Deterministic — a resume recomputes the identical keys.
    val ctDropped = decontaminate.filter(_ => todo.nonEmpty).map { cfg =>
      val bench = input.sparkSession.read.parquet(cfg.benchPath)
      val d = QualityFilter.contaminatedTurnKeys(input.toDF(), bench, cfg)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      d.count() // materialize before any later call releases the
                // fallback path's one-slot upstream cache
      d
    }

    todo.foreach { b =>
      val bucketInput = input.where(bucket === b)
      // with IQR on, label each bucket from the persisted scored frame
      // (scored exactly once, above) instead of re-scoring its rows;
      // scoring is per-row pure, so the results are identical
      // (CheckpointSpec pins bucketed == direct on both paths)
      val base = scoredForIqr match {
        case Some(s) =>
          import input.sparkSession.implicits._
          val sb = s.where(bucket === b).as[graft.schema.ScoredTurn]
          if (skewMaxTurns <= 0) QualityFilter.labelScored(sb, pplBounds)
          else if (censusOverflow)
            SkewSplit.labelViaJoinsScored(sb, skewMaxTurns, pplBounds)
          else SkewSplit.labelWithGiantsScored(sb, skewMaxTurns,
            giantsByBucket.getOrElse(b, Array.empty), pplBounds)
        case None =>
          if (skewMaxTurns <= 0)
            QualityFilter.label(bucketInput, skewMaxTurns = 0, pplBounds)
          // censusOverflow: the corpus-wide giant count exceeded the
          // bound, so no bucket gets an inlined isin literal list (plan
          // size / driver memory) — all take the join-based split
          else if (censusOverflow)
            SkewSplit.labelViaJoins(bucketInput, skewMaxTurns, pplBounds)
          else SkewSplit.labelWithGiants(bucketInput, skewMaxTurns,
            giantsByBucket.getOrElse(b, Array.empty), pplBounds)
      }
      // composition order = lineage order: boilerplate then
      // decontamination (turn-level) before conv-near-dup
      // (conversation-level) — finer-grained reasons first
      val withBp = bpDropped match {
        case Some(d) => QualityFilter.withBoilerplate(base, d)
        case None => base
      }
      val withCt = ctDropped match {
        case Some(d) => QualityFilter.withContaminated(withBp, d)
        case None => withBp
      }
      val labeled = dropped match {
        case Some(d) => QualityFilter.withConvNearDup(withCt, d)
        case None => withCt
      }
      table.commitBucket(labeled, b)
      afterDataCommit(b)
      metricTables.foreach { case (statsT, lineageT) =>
        // metrics read the bucket's COMMITTED parquet back instead of
        // re-running the pipeline per metrics table (2 extra pipeline
        // executions per bucket in round 1), and are thereby derived
        // from exactly the bytes the data snapshot serves
        val committed = input.sparkSession.read.parquet(s"$outRoot/data/bucket=$b")
        statsT.commitBucket(Metrics.bucketStats(committed, nBuckets), b)
        lineageT.commitBucket(Metrics.ruleLineage(committed, nBuckets), b)
      }
    }
    dropped.foreach(_.unpersist(blocking = false))
    bpDropped.foreach(_.unpersist(blocking = false))
    ctDropped.foreach(_.unpersist(blocking = false))
    scoredForIqr.foreach(_.unpersist(blocking = false))
    graft.ops.Decontaminate.releaseCache()
    RunResult(table.currentVersion, todo, done.toSeq.sorted)
  }

  /** Read the labeled output as of the current snapshot. */
  def readOutput(spark: SparkSession, outRoot: String, nBuckets: Int): DataFrame =
    SnapshotTable(outRoot, nBuckets).read(spark)

  /** Range read over the labeled output's `ts` column with FILE-LEVEL
    * pruning: only files whose parquet-footer ts bounds overlap
    * [tsLo, tsHi] are opened (SnapshotTable's per-file stats — files
    * with unknown/poisoned bounds are conservatively kept), then the
    * residual row filter applies on top. Rows with a NULL ts are
    * outside every range, matching SQL BETWEEN semantics. This is the
    * pipeline-level surface of the stats pruning, so operational reads
    * ("re-score yesterday's partitions") need no io internals.
    */
  def readOutputRange(spark: SparkSession, outRoot: String, nBuckets: Int,
                      tsLo: java.sql.Timestamp, tsHi: java.sql.Timestamp): DataFrame = {
    val table = SnapshotTable(outRoot, nBuckets)
    val (lo, hi) = (SnapshotTable.micros(tsLo), SnapshotTable.micros(tsHi))
    table.readAt(spark, table.currentVersion,
        f => SnapshotTable.overlapsLong(f, "ts", lo, hi))
      .where(col("ts") >= lit(tsLo) && col("ts") <= lit(tsHi))
  }
}

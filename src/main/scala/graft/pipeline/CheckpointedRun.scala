package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
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
  * 51,200 files at `--buckets 256`). The commit's footer scan touches
  * only those files.
  *
  * Metrics (`metricsRoot`): a bucket's counters are counted by an
  * `Observation` on the frame its data commit writes, not read back
  * from the committed files. After the data commit, both metric
  * tables' rows are built on the driver from the one observed row and
  * committed into each table's manifest, `bucket_stats` then
  * `rule_lineage` — a manifest write and a VERSION rename each, no
  * Spark job — so a bucket runs only the label-and-write job's two
  * Spark jobs (Metrics explains why the counts are exact under task
  * retries). The cd2 truncation rows are committed the same way.
  *
  * Every manifest records the bucket count, and a resume under another
  * `nBuckets` fails before any corpus pass: conversations would hash to
  * other buckets, so committed turns would be labeled twice or never.
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
    * the bucket to re-run on restart. The bucket's counters were
    * observed during the data write, but neither metrics table holds
    * them yet.
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
    lazy val counterRows = new Metrics.CounterRows(input.sparkSession)

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

    // BUCKET-COUNT guard: a table records the count it was committed
    // under (a manifest without one predates the record and resumes)
    (table +: metricTables.toSeq.flatMap { case (s, l) => Seq(s, l) }).foreach { t =>
      t.recordedBuckets.foreach(recorded => require(recorded == nBuckets,
        s"table ${t.root} was committed with $recorded buckets but this run asks for " +
          s"$nBuckets — finish the run with $recorded buckets or start a fresh output root"))
    }

    // LABEL-SEMANTICS guard (LabelingCfg): while any bucket is
    // committed, this run's settings must match the recorded ones. The
    // settings are checked here, before any corpus pass; only the IQR
    // bounds need the scoring pass and are compared once computed.
    // (skew-max-turns is NOT recorded: the split changes the plan,
    // never the labels — CheckpointSpec pins split == unsplit.)
    val prior = LabelingCfg.read(outRoot)
    val committed = table.completedBuckets.nonEmpty
    def guard(cfg: LabelingCfg): Unit =
      require(!committed || cfg.agrees(prior.getOrElse(LabelingCfg.Off)),
        s"output table $outRoot was produced under " +
          s"'${prior.getOrElse(s"${LabelingCfg.Off} (no labeling.cfg: pre-guard table)")}' " +
          s"but this run asks for '${cfg.render}' — finish the run with the " +
          "original settings or start a fresh output root")
    val settings = LabelingCfg(convNearDup, boilerplate, pplIqrK,
      decontaminate.map(d => d -> graft.ops.Decontaminate.benchFingerprint(
        input.sparkSession.read.parquet(d.benchPath), d.benchTextCol, d.n)))
    guard(settings)

    // Fully-committed no-op resume: nothing will be relabeled and the
    // settings match, so return before the corpus passes — their only
    // remaining use would be recomputing the IQR bounds for the guard.
    if (todo.isEmpty && prior.isDefined)
      return RunResult(table.currentVersion, Seq.empty, done.toSeq.sorted)

    // every relation this run caches goes through `persisted` and is
    // released by the one `finally` below — on return and on a throw
    // (a failed bucket, an interrupted run) alike
    val cached = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
    def persisted[T](ds: Dataset[T]): Dataset[T] = {
      cached += ds
      ds.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    try {
      // opt-in IQR perplexity bounds (the A8 outlier rule on the model
      // score): quartiles are a whole-corpus statistic, so the bounds
      // are computed ONCE over the FULL input — naive per-bucket
      // quartiles would give each bucket different drop thresholds,
      // breaking the bucketed == direct invariant. Scoring is the
      // engine's dominant map cost, so the scored frame is PERSISTED
      // and reused: the quartile passes read it, and every bucket labels
      // from it instead of re-scoring its rows. Deterministic (exact
      // histogram-selection percentiles), so a resume recomputes the
      // identical bounds and the recorded copy fails the guard if it
      // somehow doesn't (changed corpus).
      val scoredForIqr = pplIqrK.map(_ => persisted(QualityFilter.score(input)))
      val pplBounds = for (k <- pplIqrK; s <- scoredForIqr)
        yield QualityFilter.pplIqrBounds(s, k)
      val recorded = settings.copy(pplBounds = pplBounds)
      guard(recorded)
      recorded.write(outRoot)

      // ONE census over the corpus locates giant conversations for every
      // to-do bucket (a census per bucket would be nBuckets extra
      // full-input jobs); buckets with no giants run the standard path
      // with zero split overhead. None = the census overflowed: every
      // bucket then matches giants with an IN-subquery instead of an
      // inlined list.
      val giants: Option[Map[Int, Array[String]]] =
        if (skewMaxTurns <= 0 || todo.isEmpty) Some(Map.empty)
        else SkewSplit.giantCensus(input, skewMaxTurns, maxCollectedGiants, bucket)

      // The opt-in flag rules' key sets, each computed ONCE over the
      // FULL corpus, persisted, and joined into every to-do bucket.
      // Boilerplate (which normalized texts recur across >= minConvs
      // conversations) and conv near-dup (pairs) cross conv-hash
      // buckets; decontamination is per-turn but builds, counts and
      // broadcast-gates the benchmark gram set once instead of per
      // bucket. All three are deterministic (the LSH too), so a resumed
      // run recomputes identical sets and re-run buckets stay
      // bit-identical. The list order is RuleConfig.LineageOrder's:
      // turn-level boilerplate then decontamination before
      // conversation-level near dup — finer-grained reasons first.
      val flagRules: Seq[DataFrame => DataFrame] = if (todo.isEmpty) Nil else Seq(
        // the model-free raw census (normalize + hash only; the
        // per-bucket labeling already pays the model pass)
        boilerplate.map { cfg =>
          val d = persisted(QualityFilter.boilerplateDropKeysRaw(input, cfg))
          d.count() // materialize the cache in one pass
          QualityFilter.withBoilerplate(_: DataFrame, d)
        },
        decontaminate.map { cfg =>
          val bench = input.sparkSession.read.parquet(cfg.benchPath)
          val d = persisted(QualityFilter.contaminatedTurnKeys(input.toDF(), bench, cfg))
          d.count() // materialize the cache in one pass
          QualityFilter.withContaminated(_: DataFrame, d)
        },
        // the cd2 capped-bucket truncation observation is harvested off
        // the SAME materializing action and lands in the metrics root as
        // data (north rule: recall-affecting truncation must be
        // queryable, not buried in logs)
        convNearDup.map { cfg =>
          val d = persisted(QualityFilter.convNearDupDropIds(input.toDF(), cfg))
          metricsRoot match {
            case Some(mr) =>
              SnapshotTable(s"$mr/truncation", 1)
                .commitRows(Metrics.truncationRows(d, Seq("cd2")), 0)
            case None => d.count() // materialize the cache in one pass
          }
          QualityFilter.withConvNearDup(_: DataFrame, d)
        }).flatten

      // with IQR on, every bucket labels from the persisted scored frame;
      // otherwise the bucket filter and routing push below the scoring
      // projection, so each bucket scores only its own rows
      val scored = scoredForIqr.getOrElse(QualityFilter.score(input))
      todo.foreach { b =>
        val base = SkewSplit.route(scored.where(bucket === b), skewMaxTurns,
          giants.map(_.getOrElse(b, Array.empty[String])), pplBounds)
        val labeled = flagRules.foldLeft(base)((df, flag) => flag(df))
        val obs = Observation()
        val written =
          if (metricTables.isDefined) Metrics.observeCounters(labeled, obs) else labeled
        val version = table.commitBucket(written, b)
        afterDataCommit(b)
        metricTables.foreach { case (statsT, lineageT) =>
          // the commit's footer row counts, which the counters must match
          val rows = table.filesAt(version).filter(_.bucket == b).map(_.rows).sum
          val (stats, lineage) = counterRows.of(obs, b, rows)
          statsT.commitRows(stats, b)
          lineageT.commitRows(lineage, b)
        }
      }
    } finally cached.foreach(_.unpersist(blocking = false))
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

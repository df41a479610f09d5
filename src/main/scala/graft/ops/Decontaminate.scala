package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.functions.TextAlgos

/** Benchmark decontamination: flag (and let the caller drop) corpus
  * documents that share word n-grams with a held-out evaluation set —
  * the standard guard against test-set leakage in training-data
  * pipelines (GPT-3 App. C / Llama-style 8-13-gram overlap checks,
  * here parameterized by `n`).
  *
  * Semantics (shared verbatim by the DuckDB oracle): lowercase, split
  * on whitespace, drop empty tokens (the dd4 tokenization); a
  * document's grams are its DISTINCT consecutive n-token windows
  * joined with single spaces; `n_matched` counts the document's
  * distinct grams that occur anywhere in the benchmark set;
  * `contaminated` = `n_matched >= minMatches`. Documents shorter than
  * `n` tokens (or with null text) have zero grams and are clean. The
  * report is PER CORPUS ROW (duplicate or null `idCol` values each
  * keep their own row and count), and `idCol` passes through with its
  * original type — no cast.
  *
  * Scale design (the 100 TB lens): real eval suites are tiny next to
  * a training corpus — 10^6-10^7 distinct grams, i.e. an 8-80 MB
  * sorted `Array[Long]` of 64-bit gram fingerprints — so the default
  * path broadcasts the benchmark gram set and the corpus pass is
  * MAP-ONLY: one `mapPartitions` over `(id, text)` computes per-doc
  * match counts with a window-narrowed binary search, no shuffle, no
  * text movement, no join. The broadcast is GATED on the counted
  * gram-set size (the dp1 pattern — a hint that bypasses the size
  * check is how broadcasts OOM); an oversized benchmark falls back to
  * a keys-only shuffle join keyed by CONTENT: each corpus row's key is
  * `xxhash64(text)` (null text, null key), rows explode to 16-byte
  * `(key, gram-hash)` pairs (never text), inner-join the gram set, and
  * the matched pairs — identical texts emit identical pairs, hence a
  * `distinct` — are counted per key. The report left-joins those
  * counts back to `(id, key)`, so every row keeps its own row and id
  * type, and the plan stays a pure function of its inputs: no row
  * numbering, nothing cached; the corpus is scanned twice (pairs,
  * report) instead.
  *
  * Both paths hash grams with the same 64-bit fingerprint and dedupe
  * them per document before counting. Against exact string matching
  * (the DuckDB oracle) both share one floor: a false match needs a
  * gram-fingerprint collision, per row about g·B/2^64 for g grams
  * against B bench grams (~5e-11 at g = 10^2, B = 10^7). The fallback
  * can differ from the broadcast path only by its content key: a
  * row's count changes only if its text key collides with that of
  * another distinct text that has matched grams — at most M/2^64 per
  * row for M such texts (~5e-13 at M = 10^7), below the gram floor.
  */
object Decontaminate {

  /** No-op: [[decontaminate]] caches nothing past its own call, so
    * there is nothing to release. Kept for callers written against the
    * former one-slot cache of the join fallback.
    */
  def releaseCache(): Unit = ()

  /** Distinct sorted 64-bit fingerprints of a text's word n-grams —
    * the single tokenization + hashing source for both paths.
    */
  private[graft] def gramHashes(text: String, n: Int): Array[Long] = {
    if (text == null) return Array.emptyLongArray
    // Locale.ROOT: a locale-sensitive lowercase (tr-TR dotless ı) would
    // diverge from DuckDB's lower() and across hosts
    val lower = text.toLowerCase(java.util.Locale.ROOT)
    val (starts, ends, nTok) = TextAlgos.tokenOffsets(lower)
    if (nTok < n) return Array.emptyLongArray
    // FNV-1a/mix64 hash of each n-token window joined by single
    // spaces, computed straight from the token offsets (shared single
    // implementation — TextAlgos.hashJoinedTokens — so this hash and
    // the shingle hash can never drift apart)
    val out = new Array[Long](nTok - n + 1)
    var i = 0
    while (i + n <= nTok) {
      out(i) = TextAlgos.hashJoinedTokens(lower, starts, ends, i, i + n)
      i += 1
    }
    java.util.Arrays.sort(out)
    // in-place unique on the sorted array
    var w = 0
    var r = 1
    while (r < out.length) {
      if (out(r) != out(w)) { w += 1; out(w) = out(r) }
      r += 1
    }
    java.util.Arrays.copyOf(out, w + 1)
  }

  /** Matches of a doc's sorted-distinct gram hashes against the sorted
    * benchmark array. Both sides are sorted strictly ascending, so each
    * search starts where the previous hit's window ended — O(g log B)
    * worst case, approaching a linear merge when many grams land close
    * together.
    */
  private def countMatches(grams: Array[Long], bench: Array[Long]): Int = {
    var i = 0
    var c = 0
    var lo = 0
    while (i < grams.length && lo < bench.length) {
      val p = java.util.Arrays.binarySearch(bench, lo, bench.length, grams(i))
      if (p >= 0) { c += 1; lo = p + 1 } else lo = -(p + 1)
      i += 1
    }
    c
  }

  /** Benchmark-side distinct gram fingerprints as a Dataset[Long]
    * (shuffles only 8-byte hashes; the bench set is small by
    * construction).
    */
  private def benchGramSet(bench: DataFrame, textCol: String, n: Int): Dataset[Long] = {
    val spark = bench.sparkSession
    import spark.implicits._
    bench.select(col(textCol)).as[String]
      .flatMap(t => gramHashes(t, n))
      .distinct()
  }

  /** Order-independent fingerprint of the benchmark's distinct gram
    * set: (gram count, XOR of the 64-bit gram fingerprints). Resume
    * guards record it next to the settings — a bench directory whose
    * CONTENT changed under a checkpointed table must fail the guard
    * even though its path string still matches (the same hazard the
    * ppl_iqr guard closes by recording computed bounds). One cheap
    * pass over the (small) bench set; deterministic.
    */
  def benchFingerprint(bench: DataFrame, textCol: String, n: Int): (Long, Long) = {
    val row = benchGramSet(bench, textCol, n).toDF("h")
      .agg(count(lit(1)).cast("long"), expr("bit_xor(h)")).head()
    (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
  }

  /** Per-corpus-document contamination report:
    * `(idCol, n_matched: bigint, contaminated: boolean)` — one row per
    * corpus row, including clean ones (`n_matched = 0`), so the output
    * is a total function of the corpus and the oracle can hash it.
    * `idCol` keeps its original type and nullability.
    *
    * `maxBroadcastGrams` gates the broadcast path on the COUNTED
    * benchmark gram-set size; above it the keys-only join fallback
    * runs instead. Default 2^26 grams = a 512 MB long array — sized to
    * executor memory, far above any real eval suite.
    */
  def decontaminate(corpus: DataFrame, bench: DataFrame, textCol: String,
                    idCol: String, n: Int, minMatches: Int,
                    maxBroadcastGrams: Long = 1L << 26): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    require(minMatches > 0, s"minMatches must be positive, got $minMatches")
    require(idCol != "__key" && textCol != "__key",
      "__key is reserved for the fallback path's content key")
    val spark = corpus.sparkSession
    import spark.implicits._
    // NOT persisted: the bench set is small, so counting and collecting
    // each rebuild it cheaply with an AQE-coalesced shuffle, where a
    // persisted copy keeps every one of `spark.sql.shuffle.partitions`
    // partitions (cached plans keep their output partitioning) and pays
    // ~200 reduce tasks per pass
    val grams = benchGramSet(bench, textCol, n)
    // count BEFORE collecting: the gate must trip without materializing
    // an oversized set on the driver
    val benchArr =
      if (grams.count() <= maxBroadcastGrams) Some(grams.collect()) else None
    val idField = corpus.schema(corpus.schema.fieldIndex(idCol))
    val projected = corpus.select(col(idCol), col(textCol).cast("string"))
    val counted: DataFrame = benchArr match {
      case Some(arr) =>
        java.util.Arrays.sort(arr)
        val bc = spark.sparkContext.broadcast(arr)
        val outSchema = StructType(Seq(idField,
          StructField("n_matched", LongType, nullable = false)))
        projected.mapPartitions { it =>
          val arr = bc.value
          it.map { r =>
            Row(r.get(0),
              countMatches(gramHashes(r.getString(1), n), arr).toLong)
          }
        }(Encoders.row(outSchema)).toDF(idField.name, "n_matched")
      case None =>
        // fallback: 16-byte (key, hash) pairs ride the shuffle, never
        // text. The key is the text's content hash, so rows with equal
        // text share one count and duplicate or null ids never merge
        // counts or drop rows
        val text = col(textCol)
        val keyed = projected.withColumn("__key", when(text.isNotNull, xxhash64(text)))
        val pairs = keyed.where(text.isNotNull).select(col("__key"), text)
          .as[(Long, String)]
          .flatMap { case (k, t) => gramHashes(t, n).map(h => (k, h)) }
          .toDF("__key", "h")
        val matched = pairs.join(grams.toDF("h"), Seq("h"))
          .distinct()
          .groupBy(col("__key")).agg(count(lit(1)).as("n_matched"))
        keyed.select(col(idField.name), col("__key"))
          .join(matched, Seq("__key"), "left")
          .select(col(idField.name),
            coalesce(col("n_matched"), lit(0L)).as("n_matched"))
    }
    counted.select(col(idField.name), col("n_matched"),
      (col("n_matched") >= minMatches).as("contaminated"))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextAlgos

/** Jaro-Winkler against published values (also cross-checked against
  * DuckDB's jaro_winkler_similarity by the driver's oracle gate on
  * jw1/j2) + hash/shingle/simhash invariants.
  */
class SimilaritySpec extends AnyFunSuite {

  private def approx(a: Double, b: Double, eps: Double = 1e-9) =
    assert(math.abs(a - b) < eps, s"$a vs $b")

  test("jaro-winkler canonical values") {
    approx(TextAlgos.jaroWinkler("MARTHA", "MARHTA"), 0.9611111111111111)
    approx(TextAlgos.jaroWinkler("DWAYNE", "DUANE"), 0.8400000000000001)
    approx(TextAlgos.jaroWinkler("FRENCE", "FRANCE"), 0.9111111111111112)
    // below the 0.7 boost threshold: prefix bonus must NOT apply
    approx(TextAlgos.jaroWinkler("abcdefgh", "abzzzzzz"), 0.5)
    approx(TextAlgos.jaroWinkler("same", "same"), 1.0)
    approx(TextAlgos.jaroWinkler("", ""), 1.0)
    approx(TextAlgos.jaroWinkler("a", ""), 0.0)
    approx(TextAlgos.jaroWinkler(null, "x"), 0.0)
  }

  test("jaro-winkler is symmetric and bounded") {
    val words = Seq("NATION_1", "NATION_12", "spark", "sprak", "a", "ab", "ba")
    for (a <- words; b <- words) {
      val s = TextAlgos.jaroWinkler(a, b)
      assert(s >= 0.0 && s <= 1.0)
      approx(s, TextAlgos.jaroWinkler(b, a))
      if (a == b) approx(s, 1.0)
    }
  }

  test("fingerprint is whitespace/case insensitive, content sensitive") {
    val a = TextAlgos.docFingerprint("The quick  Brown fox")
    assert(a == TextAlgos.docFingerprint("the quick brown FOX"))
    assert(a == TextAlgos.docFingerprint("  the   quick brown fox  "))
    assert(a != TextAlgos.docFingerprint("the quick brown cat"))
  }

  test("minhash signature approximates jaccard") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val near = base.replace("today", "tonight")
    val far = "completely different words about spark window aggregation strategies"
    def sim(x: String, y: String): Double = {
      val sx = TextAlgos.minHashSignature(TextAlgos.shingles(x, 2), 128)
      val sy = TextAlgos.minHashSignature(TextAlgos.shingles(y, 2), 128)
      sx.zip(sy).count { case (p, q) => p == q }.toDouble / 128
    }
    val trueNear = TextAlgos.ngramJaccard(base, near, 2)
    assert(math.abs(sim(base, near) - trueNear) < 0.15)
    assert(sim(base, far) < 0.1)
    assert(sim(base, base) == 1.0)
  }

  test("ngram jaccard is over distinct shingles, with empty inputs at the edges") {
    // {a b, b a} vs {a b, b c}: one shared of three distinct
    approx(TextAlgos.ngramJaccard("a b a b", "A b C", 2), 1.0 / 3)
    approx(TextAlgos.ngramJaccard("a b a b", "b a b a", 2), 1.0)
    approx(TextAlgos.ngramJaccard("", null, 2), 1.0)
    approx(TextAlgos.ngramJaccard("a b", "", 2), 0.0)
  }

  test("simhash: near texts have small hamming distance, far texts large") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val near = base.replace("today", "tonight")
    val far = "vector hash group order column part table stream batch big merge line"
    val hNear = TextAlgos.hamming64(TextAlgos.simHash(base), TextAlgos.simHash(near))
    val hFar = TextAlgos.hamming64(TextAlgos.simHash(base), TextAlgos.simHash(far))
    assert(hNear < hFar)
    assert(TextAlgos.hamming64(TextAlgos.simHash(base), TextAlgos.simHash(base)) == 0)
  }

  test("cosine basics") {
    approx(TextAlgos.cosine(Array(1f, 0f), Array(1f, 0f)), 1.0)
    approx(TextAlgos.cosine(Array(1f, 0f), Array(0f, 1f)), 0.0)
    approx(TextAlgos.cosine(Array(1f, 1f), Array(-1f, -1f)), -1.0)
    approx(TextAlgos.cosine(Array(0f, 0f), Array(1f, 1f)), 0.0)
  }

  test("cosine_sim expression == zip_with/aggregate column chain (incl. null shapes)") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._

    // the r6 implementation, verbatim — the reference the codegen
    // expression must match in value AND null behavior
    def refCosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
      val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)
      val na = aggregate(transform(a, x => x.cast("double") * x.cast("double")),
        lit(0.0), (acc, v) => acc + v)
      val nb = aggregate(transform(b, x => x.cast("double") * x.cast("double")),
        lit(0.0), (acc, v) => acc + v)
      when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(dot / sqrt(na * nb))
    }

    val rows = Seq[(Array[java.lang.Float], Array[java.lang.Float])](
      (Array[java.lang.Float](1f, 2f, 3f), Array[java.lang.Float](4f, 5f, 6f)),
      (Array[java.lang.Float](0f, 0f), Array[java.lang.Float](1f, 1f)),
      (Array[java.lang.Float](0f, 0f), Array[java.lang.Float](0f, 0f)),
      (Array[java.lang.Float](1f, 2f), Array[java.lang.Float](1f, 2f, 3f)), // length mismatch
      (Array[java.lang.Float](0f, 0f), Array[java.lang.Float](1f, 2f, 3f)), // mismatch + zero norm
      (Array[java.lang.Float](1f, null), Array[java.lang.Float](1f, 2f)), // null element left
      (Array[java.lang.Float](1f, 2f), Array[java.lang.Float](null, 2f)), // null element right
      (Array[java.lang.Float](null, null), Array[java.lang.Float](0f, 0f)), // nulls vs zero norm
      (null, Array[java.lang.Float](1f, 2f)), // null array
      (Array[java.lang.Float](1f, 2f), null), // null array right
      (null, null), // both null
      // SQL OR: zero norm on one side fires the 0.0 branch even when
      // the OTHER side is a null array (true||null = TRUE)
      (Array[java.lang.Float](0f, 0f), null),
      (null, Array[java.lang.Float](0f, 0f)),
      (Array[java.lang.Float](), Array[java.lang.Float]()), // empty arrays
      (Array[java.lang.Float](Float.NaN, 1f), Array[java.lang.Float](1f, 1f)),
      (Array[java.lang.Float](1e30f, 1e30f), Array[java.lang.Float](1e30f, -1e30f)))

    val schema = StructType(Seq(
      StructField("a", ArrayType(FloatType, containsNull = true)),
      StructField("b", ArrayType(FloatType, containsNull = true))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (a, b) =>
        Row(if (a == null) null else a.toSeq, if (b == null) null else b.toSeq)
      }), schema)

    val got = df.select(
      refCosine(col("a"), col("b")).as("ref"),
      graft.functions.GraftExpressions.cosine_sim(col("a"), col("b")).as("fast"))
      .collect()
    got.zip(rows).foreach { case (r, in) =>
      val ref = if (r.isNullAt(0)) null else r.getDouble(0)
      val fast = if (r.isNullAt(1)) null else r.getDouble(1)
      assert(ref == fast ||
        (ref != null && fast != null &&
          ref.asInstanceOf[Double].isNaN && fast.asInstanceOf[Double].isNaN),
        s"mismatch on ${in}: ref=$ref fast=$fast")
    }
  }
}

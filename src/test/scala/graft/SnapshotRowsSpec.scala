package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.SnapshotTable
import graft.io.SnapshotTable.Rows

/** Row buckets: driver-side rows committed into a snapshot table's
  * manifest (the metrics tables' counters) read, carry forward and
  * time-travel like file buckets.
  */
class SnapshotRowsSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("bucket", LongType, nullable = false),
    StructField("rule", StringType),
    StructField("n", LongType)))

  private def rows(bucket: Long, ns: (String, Any)*): Rows =
    Rows(schema, ns.map { case (r, n) => Row(bucket, r, n) })

  private def sorted(df: DataFrame): List[List[Any]] =
    df.select(schema.fieldNames.map(df.col).toSeq: _*)
      .collect().map(_.toSeq.toList).sortBy(_.toString).toList

  private def table(name: String): SnapshotTable =
    SnapshotTable(Files.createTempDirectory(name).toString, 4)

  test("row buckets: an empty bucket keeps its schema, nulls and longs round-trip") {
    val spark = TestSpark.spark
    val t = table("graft_rows_empty")
    t.commitRows(Rows(schema, Nil), 2)
    assert(t.completedBuckets == Set(2))
    val empty = t.read(spark)
    assert(empty.schema == schema && empty.isEmpty)

    t.commitRows(rows(0, "a" -> Long.MaxValue, (null, null), "é中😀" -> -1L), 0)
    assert(t.read(spark).schema == schema)
    assert(sorted(t.read(spark)) == sorted(spark.createDataFrame(
      java.util.List.of(Row(0L, "a", Long.MaxValue), Row(0L, null, null),
        Row(0L, "é中😀", -1L)), schema)))
    // no data file, no Spark write: only the manifests and VERSION
    assert(Option(Paths.get(t.root, "data").toFile.list()).forall(_.isEmpty))
  }

  test("row buckets: a re-commit replaces the bucket's rows; files and rows swap per bucket") {
    val spark = TestSpark.spark
    import spark.implicits._
    val t = table("graft_rows_recommit")
    t.commitRows(rows(0, "a" -> 1L, "b" -> 2L), 0)
    t.commitRows(rows(1, "c" -> 3L), 1)
    t.commitRows(rows(0, "d" -> 4L), 0)
    assert(sorted(t.read(spark)) == List(List(0L, "d", 4L), List(1L, "c", 3L)))

    // a file bucket next to row buckets reads as one table (by name)
    Seq((2L, "e", 5L)).toDF("bucket", "rule", "n").select("n", "rule", "bucket")
      .write.mode("overwrite").parquet(s"${t.root}/data/bucket=2")
    t.commitBuckets(Set(2))
    assert(sorted(t.read(spark)) == List(List(0L, "d", 4L), List(1L, "c", 3L), List(2L, "e", 5L)))
    // a pruned read keeps every row bucket
    assert(sorted(t.readAt(spark, t.currentVersion, _ => false)) ==
      List(List(0L, "d", 4L), List(1L, "c", 3L)))

    // re-committing a row bucket as files, and a file bucket as rows
    Seq((1L, "f", 6L)).toDF("bucket", "rule", "n").write.mode("overwrite")
      .parquet(s"${t.root}/data/bucket=1")
    t.commitBuckets(Set(1))
    t.commitRows(rows(2, "g" -> 7L), 2)
    assert(t.filesAt(t.currentVersion).map(_.bucket).toSet == Set(1))
    assert(sorted(t.read(spark)) == List(List(0L, "d", 4L), List(1L, "f", 6L), List(2L, "g", 7L)))
  }

  test("row buckets: rollbackTo and time travel see the rows of their snapshot") {
    val spark = TestSpark.spark
    val t = table("graft_rows_travel")
    val v1 = t.commitRows(rows(0, "a" -> 1L), 0)
    val v2 = t.commitRows(rows(1, "b" -> 2L), 1)
    val v3 = t.commitRows(rows(0, "c" -> 3L), 0)
    assert(sorted(t.readAt(spark, v1)) == List(List(0L, "a", 1L)))
    assert(sorted(t.readAt(spark, v2)) == List(List(0L, "a", 1L), List(1L, "b", 2L)))
    assert(sorted(t.readAt(spark, v3)) == List(List(0L, "c", 3L), List(1L, "b", 2L)))

    t.rollbackTo(v2)
    assert(sorted(t.read(spark)) == List(List(0L, "a", 1L), List(1L, "b", 2L)))
    // the next commit builds on v2's rows; v3 stays readable
    t.commitRows(rows(2, "d" -> 4L), 2)
    assert(sorted(t.read(spark)) ==
      List(List(0L, "a", 1L), List(1L, "b", 2L), List(2L, "d", 4L)))
    assert(sorted(t.readAt(spark, v3)) == List(List(0L, "c", 3L), List(1L, "b", 2L)))
  }

  test("row buckets: an unsupported column type or a second schema fails at commit") {
    val t = table("graft_rows_types")
    t.commitRows(rows(0, "a" -> 1L), 0)
    val before = (t.currentVersion, t.snapshotHistory)
    Seq(IntegerType, DoubleType, TimestampType, ArrayType(StringType),
        MapType(StringType, LongType)).foreach { dt =>
      val bad = StructType(Seq(StructField("bucket", LongType), StructField("x", dt)))
      val e = intercept[IllegalArgumentException](t.commitRows(Rows(bad, Nil), 1))
      assert(e.getMessage.contains(dt.simpleString), e.getMessage)
    }
    // encodable, but not the schema the carried row buckets have
    val other = StructType(Seq(StructField("bucket", LongType), StructField("m", StringType)))
    intercept[IllegalArgumentException](t.commitRows(Rows(other, Seq(Row(1L, "x"))), 1))
    assert((t.currentVersion, t.snapshotHistory) == before)
    // replacing the table's only row bucket may change the schema
    t.commitRows(Rows(other, Seq(Row(0L, "x"))), 0)
    assert(t.read(TestSpark.spark).columns.toSeq == Seq("bucket", "m"))
  }
}

package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Degenerate centroid rows fail fast with a named error instead of a bare
  * driver error (null `nm`) or a silent 0.0 (null element of `m`). */
class CentroidTableSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("cid", LongType),
    StructField("m", ArrayType(DoubleType, containsNull = true)),
    StructField("nm", DoubleType)))

  private def frame(rows: Row*) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)

  private def assertDegenerate(f: => Any): Unit = {
    val e = intercept[IllegalArgumentException](f)
    assert(e.getMessage.contains("degenerate centroid"), e.getMessage)
  }

  private val good = Row(0L, Seq(1.0, 2.0), 5.0)

  test("collect: a well-formed table round-trips in ascending cid") {
    val t = CentroidTable.collect(frame(Row(3L, Seq(0.0, 1.0), 1.0), good))
    assert(t.cids.toSeq == Seq(0L, 3L))
    assert(t.ms(0).toSeq == Seq(1.0, 2.0))
    assert(t.nms.toSeq == Seq(5.0, 1.0))
  }

  test("collect: a null nm row is degenerate") {
    assertDegenerate(CentroidTable.collect(frame(good, Row(1L, Seq(1.0, 1.0), null))))
  }

  test("collect: a null element of m is degenerate") {
    assertDegenerate(CentroidTable.collect(frame(good, Row(1L, Seq(1.0, null), 1.0))))
  }

  private def books(bad: Row) = CentroidTable.collectBooks(
    frame(good, bad).withColumn("sub", org.apache.spark.sql.functions.lit(0)))

  test("collectBooks: a well-formed book round-trips") {
    assert(books(Row(1L, Seq(3.0, 4.0), 25.0))(0).cids.toSeq == Seq(0L, 1L))
  }

  test("collectBooks: a null nm row is degenerate") {
    assertDegenerate(books(Row(1L, Seq(1.0, 1.0), null)))
  }

  test("collectBooks: a null element of m is degenerate") {
    assertDegenerate(books(Row(1L, Seq(null, 1.0), 1.0)))
  }
}

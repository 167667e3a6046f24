package graft.queries

import graft.SparkTestBase
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pins Q.distributedCumsum (r10 — range-partitioned per-partition running
  * sums + broadcast exact offsets) bit-equal to the single-reducer
  * `sum(v) OVER (ORDER BY … ROWS UNBOUNDED PRECEDING)` it replaces.
  * Long and decimal addition are associative, so equality is exact, not
  * approximate; a floating-point column is refused.
  */
class DistributedCumsumSpec extends SparkTestBase {

  test("distributedCumsum == global running-sum window, two columns at once") {
    import spark.implicits._
    val df = (1 to 97).map(i => (i.toLong, (i % 13 + 1).toLong, (i * 7 % 29).toLong))
      .toDF("id", "a", "b").repartition(5)
    val (cum, totals) = Q.distributedCumsum(df, Seq(col("id")),
        Seq("a" -> "ca", "b" -> "cb"))
    val got = cum.orderBy("id").collect()
    val w = Window.orderBy(col("id")).rowsBetween(Window.unboundedPreceding, 0)
    val want = df
      .withColumn("ca", sum(col("a")).over(w))
      .withColumn("cb", sum(col("b")).over(w))
      .orderBy("id").collect()
    assert(got.length === 97)
    got.zip(want).foreach { case (x, y) => assert(x === y) }
    assert(totals === Seq(got.last.getLong(3), got.last.getLong(4)).map(java.math.BigDecimal.valueOf))
  }

  test("distributedCumsum: ties on the sort prefix break by the tie column") {
    import spark.implicits._
    // Every k is duplicated: the caller's total order includes id, so the
    // running sum must follow (k, id), not partition-arrival order.
    val df = (1 to 40).map(i => ((i % 4).toLong, i.toLong, 1L)).toDF("k", "id", "one")
      .repartition(7)
    val got = Q.distributedCumsum(df, Seq(col("k"), col("id")), Seq("one" -> "rn"))._1
      .orderBy("k", "id").collect()
    got.zipWithIndex.foreach { case (r, i) => assert(r.getLong(3) === (i + 1).toLong) }
  }

  test("distributedCumsum on an empty frame yields an empty frame with the sum columns") {
    import spark.implicits._
    val df = Seq.empty[(Long, Long)].toDF("id", "a")
    val (got, totals) = Q.distributedCumsum(df, Seq(col("id")), Seq("a" -> "ca"))
    assert(got.columns.toSeq === Seq("id", "a", "ca"))
    assert(got.count() === 0L)
    assert(totals === Seq(java.math.BigDecimal.ZERO))
  }

  test("distributedCumsum rejects a floating-point column: it has no exact prefix") {
    import spark.implicits._
    val df = Seq((1L, 0.5)).toDF("id", "x")
    val e = intercept[IllegalArgumentException] {
      Q.distributedCumsum(df, Seq(col("id")), Seq("x" -> "cx"))
    }
    assert(e.getMessage.contains("x sums as double"), e.getMessage)
  }
}

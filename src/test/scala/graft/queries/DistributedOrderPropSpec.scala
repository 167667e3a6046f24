package graft.queries

import graft.SparkTestBase
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property pins for the range-partitioned order helpers (r10): on random
  * frames — random sizes, duplicate-heavy values, random pre-partitioning —
  * Q.distributedRank / distributedNtile / distributedCumsum (long and
  * decimal(18,2) columns) and Q.stackedNtile (two orderings, per `__sid`)
  * must be BIT-equal to the SinglePartition window spellings they replace.
  * The hand-written specs pin crafted edges (ties, N < buckets, empty); the
  * generator hunts the shapes nobody crafted.
  */
class DistributedOrderPropSpec extends SparkTestBase {

  private val genFrame = for {
    n <- Gen.choose(0, 120)
    parts <- Gen.choose(1, 9)
    vals <- Gen.listOfN(n, Gen.zip(Gen.choose(-5L, 5L), Gen.choose(-3L, 3L), // heavy ties
      Gen.choose(-99999L, 99999L)))                                          // cents
    buckets <- Gen.choose(1, 7)
  } yield (vals, parts, buckets)

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("distributedRank/Ntile/Cumsum == the global window spellings on random frames") {
    import spark.implicits._
    check(Prop.forAll(genFrame) { case (vals, parts, buckets) =>
      val df = vals.zipWithIndex
        .map { case ((v, u, c), i) => (i.toLong, v, u, java.math.BigDecimal.valueOf(c, 2)) }
        .toDF("id", "v", "u", "d")
        .withColumn("d", col("d").cast("decimal(18,2)"))
        .repartition(parts)
      val sort = Seq(col("v"), col("id")) // total order: ties break on id
      val w = Window.orderBy(sort: _*)
      val wr = Window.orderBy(sort: _*).rowsBetween(Window.unboundedPreceding, 0)

      val gotRank = Q.distributedRank(df, sort, "rk").orderBy("id").collect()
      val wantRank = df.withColumn("rk", row_number().over(w).cast("long"))
        .orderBy("id").collect()

      val gotNtile = Q.distributedNtile(df, buckets, sort, "nt").orderBy("id").collect()
      val wantNtile = df.withColumn("nt", ntile(buckets).over(w)).orderBy("id").collect()

      val gotCum = Q.distributedCumsum(df, sort, Seq("v" -> "cv", "d" -> "cd"))._1
        .orderBy("id").collect()
      val wantCum = df.withColumn("cv", sum(col("v")).over(wr))
        .withColumn("cd", sum(col("d")).over(wr)).orderBy("id").collect()

      // two orderings in one stacked pass: (v, id) and (u DESC, id)
      val stacked = Q.stackedNtile(df, buckets, Seq(col("v"), -col("u")), Seq(col("id")), "nt")
      val stackedOk = Seq(1 -> w, 2 -> Window.orderBy(col("u").desc, col("id"))).forall {
        case (sid, ws) =>
          stacked.filter(col("__sid") === sid).select("id", "nt").orderBy("id").collect()
            .sameElements(df.select(col("id"), ntile(buckets).over(ws).as("nt"))
              .orderBy("id").collect())
      }

      gotRank.sameElements(wantRank) &&
        gotNtile.sameElements(wantNtile) &&
        gotCum.sameElements(wantCum) &&
        stackedOk
    })
  }
}

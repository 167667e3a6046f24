package graft.queries

import graft.{Registry, SparkTestBase}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pins Q.distributedNtile (r10 — range-partitioned exact global rank +
  * broadcast offsets + SQL bucket formula) bit-equal to the single-reducer
  * `ntile(n) OVER (ORDER BY …)` it replaces, q_rfm_segments' scores equal
  * to one global ntile window per score on the real orders table, and the
  * helper-column guard of every prefix-pass entry point.
  */
class RfmNtileSpec extends SparkTestBase {

  private def globalNtile(df: org.apache.spark.sql.DataFrame, n: Int,
                          sort: Seq[org.apache.spark.sql.Column], out: String) =
    df.withColumn(out, ntile(n).over(Window.orderBy(sort: _*)))

  private def pinEqual(df: org.apache.spark.sql.DataFrame, n: Int,
                       sort: Seq[org.apache.spark.sql.Column]): Unit = {
    val a = Q.distributedNtile(df, n, sort, "nt").orderBy("id").collect()
    val b = globalNtile(df, n, sort, "nt").orderBy("id").collect()
    assert(a.length === b.length && a.length > 0)
    a.zip(b).foreach { case (x, y) => assert(x === y) }
  }

  test("distributedNtile == ntile window: N % n != 0, ties split by the tie-break column") {
    import spark.implicits._
    // 11 rows over 5 buckets (first bucket gets the extra row); value ties
    // at v=3 must split across bucket edges by id order, exactly as ntile.
    val df = (1 to 11).map(i => (i.toLong, if (i <= 6) 3.0 else i.toDouble))
      .toDF("id", "v").repartition(4)
    pinEqual(df, 5, Seq(col("v").asc, col("id")))
    pinEqual(df, 5, Seq(col("v").desc, col("id")))
  }

  test("distributedNtile == ntile window: fewer rows than buckets, and exact multiples") {
    import spark.implicits._
    val tiny = (1 to 3).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    pinEqual(tiny, 5, Seq(col("v").asc, col("id")))
    val exact = (1 to 20).map(i => (i.toLong, (i % 7).toDouble)).toDF("id", "v").repartition(3)
    pinEqual(exact, 5, Seq(col("v").asc, col("id")))
  }

  test("distributedNtile == ntile window on a 10k-row frame across many partitions") {
    import spark.implicits._
    val df = (1 to 10000).map(i => (i.toLong, (i % 97).toDouble)).toDF("id", "v").repartition(16)
    pinEqual(df, 5, Seq(col("v").asc, col("id")))
  }

  test("distributedNtile on an empty frame returns empty (no div-by-zero in the bucket math)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Double)].toDF("id", "v")
    assert(Q.distributedNtile(empty, 5, Seq(col("v").asc, col("id")), "nt").count() === 0L)
  }

  test("q_abc_analysis on an empty lineitem returns zero rows (no empty.reduce)") {
    // the offsets pass collects zero partition totals — must degrade to an
    // empty frame like the single-window spelling did, not throw
    val tmp = java.nio.file.Files.createTempDirectory("graft-abc-empty").toString
    graft.tables.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .limit(0).write.parquet(s"$tmp/lineitem.parquet")
    val out = Registry.byName("q_abc_analysis").run(spark, tmp)
    assert(out.count() === 0L)
    assert(out.columns.toSeq === Seq("l_partkey", "revenue", "cum_share", "abc"))
  }

  test("stackedNtile == one ntile window per ordering (asc, desc-via-negation, ties)") {
    import spark.implicits._
    // 23 rows, 5 buckets (N % n != 0), heavy ties in every ordering so the
    // id tie-break decides bucket edges; ordering 3 is DESC via negation.
    val df = (1 to 23).map(i =>
      (i.toLong, (i % 5).toDouble, ((i * 7) % 11).toLong, (i % 3).toDouble))
      .toDF("id", "a", "b", "c").repartition(4)
    val got = Q.stackedNtile(df, 5,
        Seq(col("a"), col("b").cast("double"), (-col("c")).cast("double")),
        Seq(col("id")), "nt")
      .groupBy("id").agg(
        max(when(col("__sid") === 1, col("nt"))).as("n1"),
        max(when(col("__sid") === 2, col("nt"))).as("n2"),
        max(when(col("__sid") === 3, col("nt"))).as("n3"))
      .orderBy("id").collect()
    val want = df
      .withColumn("n1", ntile(5).over(Window.orderBy(col("a").asc, col("id"))))
      .withColumn("n2", ntile(5).over(Window.orderBy(col("b").asc, col("id"))))
      .withColumn("n3", ntile(5).over(Window.orderBy(col("c").desc, col("id"))))
      .select("id", "n1", "n2", "n3").orderBy("id").collect()
    assert(got.length === want.length && got.length > 0)
    got.zip(want).foreach { case (x, y) => assert(x === y) }
  }

  test("stackedNtile: fewer rows than buckets, empty frame, single ordering") {
    import spark.implicits._
    val tiny = (1 to 3).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    val got = Q.stackedNtile(tiny, 5, Seq(col("v")), Seq(col("id")), "nt")
      .filter(col("__sid") === 1).orderBy("id").collect()
    val want = tiny.withColumn("nt", ntile(5).over(Window.orderBy(col("v").asc, col("id"))))
      .withColumn("__sid", lit(1)).select("id", "v", "__sid", "nt")
      .orderBy("id").collect()
    got.zip(want).foreach { case (x, y) => assert(x === y) }
    val empty = Seq.empty[(Long, Double)].toDF("id", "v")
    assert(Q.stackedNtile(empty, 5, Seq(col("v")), Seq(col("id")), "nt").count() === 0L)
  }

  test("stackedNtile rejects an input column that clashes with a helper column or `out`") {
    import spark.implicits._
    for (clash <- Seq("__sv", "__SID", "__val", "__pid", "__off", "__rk", "nt")) {
      val df = Seq((1L, 1.0, 0L)).toDF("id", "v", clash)
      val e = intercept[IllegalArgumentException] {
        Q.stackedNtile(df, 5, Seq(col("v")), Seq(col("id")), "nt")
      }
      assert(e.getMessage.contains(clash), e.getMessage)
    }
    // a frame that merely shares a prefix is fine
    val ok = Seq((1L, 1.0, 0L)).toDF("id", "v", "__sidecar")
    assert(Q.stackedNtile(ok, 5, Seq(col("v")), Seq(col("id")), "nt").count() === 1L)
  }

  test("every prefix-pass entry point rejects an input column that clashes with a helper or output column") {
    import spark.implicits._
    val sort = Seq(col("v"), col("id"))
    val entries: Seq[(String, Seq[String], org.apache.spark.sql.DataFrame => Any)] = Seq(
      ("distributedRank", Seq("rk"), d => Q.distributedRank(d, sort, "rk")),
      ("distributedNtile", Seq("__rk", "nt"), d => Q.distributedNtile(d, 5, sort, "nt")),
      ("distributedCumsum", Seq("__off0", "cv"), d => Q.distributedCumsum(d, sort, Seq("v" -> "cv"))),
      ("stackedNtile", Seq("__sid", "nt"),
        d => Q.stackedNtile(d, 5, Seq(col("v")), Seq(col("id")), "nt")))
    for ((fn, own, run) <- entries; clash <- Seq("__pid", "__OFF") ++ own) {
      val df = Seq((1L, 1L, 0L)).toDF("id", "v", clash)
      val e = intercept[IllegalArgumentException](run(df))
      assert(e.getMessage.contains(fn) && e.getMessage.contains(clash), e.getMessage)
    }
  }

  test("q_rfm_segments: distributed branch == legacy global-window branch on real orders") {
    // the legacy spelling, one global ntile window per score, over the
    // same customer frame the query ranks
    val dir = "/root/testdata/sf0.001"
    val scores = Seq("o_custkey", "recency_d", "freq", "money", "r_score", "f_score", "m_score")
    val dist = Registry.byName("q_rfm_segments").run(spark, dir)
      .select(scores.map(col): _*).collect()
    val legacy = QAgg.rfmCustomers(spark, dir)
      .withColumn("r_score", ntile(5).over(Window.orderBy(col("recency_d").desc, col("o_custkey"))))
      .withColumn("f_score", ntile(5).over(Window.orderBy(col("freq").asc, col("o_custkey"))))
      .withColumn("m_score", ntile(5).over(Window.orderBy(col("money").asc, col("o_custkey"))))
      .withColumn("recency_d", col("recency_d").cast("bigint"))
      .select(scores.map(col): _*).orderBy("o_custkey").collect()
    assert(dist.length === legacy.length && dist.length > 0)
    dist.zip(legacy).foreach { case (x, y) => assert(x === y) }
  }
}

package graft.queries

import graft.{Registry, SparkTestBase}
import org.apache.spark.sql.functions._

/** r10: the curriculum order's contract is structural — global_pos is a
  * permutation of 1..N, difficulty stages are visited in order, and within
  * a stage the sources round-robin in alphabetical order (no
  * domain-contiguous stretches). Pinned here beyond the DuckDB hash check
  * because these are the properties a training loop RELIES on, not just
  * one dataset's answer.
  */
class CurriculumOrderSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("q_curriculum_order: permutation, stage-monotone, source-interleaved") {
    val out = Registry.byName("q_curriculum_order").run(spark, dir).cache()
    try {
      val n = out.count()
      assert(out.agg(min("global_pos"), max("global_pos"), countDistinct("global_pos"))
        .head() match {
        case r => r.getLong(0) == 1L && r.getLong(1) == n && r.getLong(2) == n
      }, "global_pos must be a permutation of 1..N")

      val rows = out.orderBy("global_pos")
        .select("global_pos", "source", "stage", "n_chars")
        .collect()
      // stages never go backwards along the curriculum
      rows.sliding(2).foreach { case Array(a, b) =>
        assert(a.getLong(2) <= b.getLong(2),
          s"stage regressed at pos ${b.getLong(0)}")
        // within one stage, sources strictly increase (round-robin order)
        if (a.getLong(2) == b.getLong(2))
          assert(a.getString(1) < b.getString(1),
            s"sources out of order within stage ${a.getLong(2)}")
      }
      // within each source, difficulty (n_chars) is nondecreasing in stage
      val bad = out.groupBy("source")
        .agg(max(struct(col("stage"), col("n_chars"))).as("hi"))
        .join(out, Seq("source"))
        .filter(col("stage") === col("hi.stage") && col("n_chars") =!= col("hi.n_chars"))
        .count()
      assert(bad == 0L, "max stage must carry the max n_chars per source")
    } finally { out.unpersist(): Unit }
  }

  test("curriculum rejects an input column that clashes with its rank helper columns") {
    import spark.implicits._
    for (clash <- Seq("__pid", "__off", "__GRK")) {
      val df = Seq((1L, "a", 10L, 0L)).toDF("doc_id", "source", "n_chars", clash)
      val e = intercept[IllegalArgumentException](QText.curriculum(df))
      assert(e.getMessage.contains(clash), e.getMessage)
    }
  }
}

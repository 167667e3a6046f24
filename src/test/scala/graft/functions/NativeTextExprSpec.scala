package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** r12 optimization guards: the native one-pass expressions that replaced
  * interpreted higher-order-function spellings in the dedup/text hot paths
  * must be BIT-IDENTICAL to the HOF forms they replaced (the DuckDB oracle
  * fragments still describe the HOF semantics).
  */
class NativeTextExprSpec extends SparkTestBase {

  private def tokensDf = {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val words = Vector("alpha", "beta", "gamma", "", "delta", "épsilon", "z")
    (0 until 200).map { i =>
      val n = rnd.nextInt(12) // includes arrays shorter than every n below
      (i.toLong, (0 until n).map(_ => words(rnd.nextInt(words.length))))
    }.toDF("id", "toks")
  }

  test("word_ngrams(toks, n) == transform(sequence, concat_ws(slice)) for n in 2, 5, 8") {
    TextHash.register(spark)
    for (n <- Seq(2, 5, 8)) {
      val df = tokensDf
        .withColumn("native", expr(s"word_ngrams(toks, $n)"))
        .withColumn("hof", expr(
          s"CASE WHEN size(toks) >= $n THEN transform(sequence(1, size(toks) - ${n - 1}), " +
            s"i -> concat_ws(' ', slice(toks, i, $n))) ELSE array() END"))
      val bad = df.filter(col("native") =!= col("hof")).count()
      assert(bad == 0L, s"n=$n: $bad rows diverge from the HOF spelling")
    }
  }

  test("word_ngrams skips NULL array elements like concat_ws (ADVICE r12 — " +
      "UnsafeArrayData reads a null element as empty string without the guard)") {
    TextHash.register(spark)
    import spark.implicits._
    val df = Seq(
      (1L, Seq[String]("a", null, "b", "c")),
      (2L, Seq[String](null, null, "x")),
      (3L, Seq[String]("only")))
      .toDF("id", "toks")
      // force the UnsafeArrayData representation through an exchange
      .repartition(2)
      .withColumn("native", expr("word_ngrams(toks, 2)"))
      .withColumn("hof", expr(
        "CASE WHEN size(toks) >= 2 THEN transform(sequence(1, size(toks) - 1), " +
          "i -> concat_ws(' ', slice(toks, i, 2))) ELSE array() END"))
    assert(df.filter(col("native") =!= col("hof")).count() == 0L,
      "null elements must contribute nothing, exactly like concat_ws")
    // "a NULL" must be the gram "a", not "a " (the empty-string read)
    val g = df.filter(col("id") === 1).select(expr("element_at(native, 1)")).head().getString(0)
    assert(g == "a", s"expected 'a', got '$g'")
  }

  test("word_ngrams with the wrong arity raises an AnalysisException, not an index error") {
    TextHash.register(spark)
    import spark.implicits._
    val df = Seq((1L, Seq("a", "b"))).toDF("id", "toks")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.selectExpr("word_ngrams(toks)").collect()
    }
    assert(e.getMessage.toLowerCase.contains("word_ngrams"))
  }

  test("property: minhash_text(lower(t)) == array_min(transform(shingle_hashes(" +
      "split(lower(t), ' ')), (a*hv+b) % p)) for all 8 hashes, generated and interpreted") {
    TextHash.register(spark)
    import spark.implicits._
    // İ and ẞ change byte length under lower(); 𝔘 and 😀 are surrogate pairs
    val words = Vector("alpha", "beta", "Gamma", "", "épsilon", "İstanbul", "STRAẞE",
      "𝔘nicode", "😀", "z", "ÄÖÜ", "x-y")
    val rnd = new scala.util.Random(47)
    def text(nTok: Int): String = {
      val sb = new StringBuilder
      if (rnd.nextInt(4) == 0) sb.append(" " * (1 + rnd.nextInt(2))) // leading
      (0 until nTok).foreach { i =>
        if (i > 0) sb.append(" " * (1 + (if (rnd.nextInt(5) == 0) rnd.nextInt(3) else 0)))
        sb.append(words(rnd.nextInt(words.length)))
      }
      if (rnd.nextInt(4) == 0) sb.append(" " * (1 + rnd.nextInt(2))) // trailing
      sb.toString
    }
    val fixed = Seq("", " ", "  ", "   ", "a", "a b", "a  b", " a b", "a b ", "a b c",
      "İ İ İ", "ẞ ẞ ẞ ẞ", "😀 😀 😀", "𝔘 a 𝔘 a", "a a a a a a")
    val generated = (0 until 400).map(i => text(if (i % 10 == 0) 100 + rnd.nextInt(60) else rnd.nextInt(12)))
    val texts = spark.sparkContext.parallelize(
      (fixed ++ generated).zipWithIndex.map { case (t, i) => (i.toLong, t) }, 3).toDF("id", "t")
    val P = TextHash.MinHashP
    val ref = TextHash.MinHashA.indices.map { j =>
      s"array_min(transform(shingle_hashes(split(lower(t), ' ')), " +
        s"hv -> (${TextHash.MinHashA(j)} * hv + ${TextHash.MinHashB(j)}) % $P))"
    }.mkString("CASE WHEN size(split(lower(t), ' ')) >= 3 THEN array(", ", ", ") END")
    val modes = Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")
    for ((mode, wholeStage) <- modes) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      val got = try texts.select(col("id"), col("t"),
          expr("minhash_text(lower(t))").as("native"), expr(ref).as("ref")).collect()
        finally Seq("factoryMode", "wholeStage").foreach(k => spark.conf.unset(s"spark.sql.codegen.$k"))
      assert(got.length == fixed.length + generated.length)
      val bad = got.filterNot(r => r.get(2) == r.get(3))
      assert(bad.isEmpty, s"$mode: " + bad.take(3).map(r =>
        s"'${r.getString(1)}': ${r.get(2)} != ${r.get(3)}").mkString("; "))
      // below 3 tokens (incl. "" and "a b") the signature is null
      assert(got.count(_.isNullAt(2)) >= 6, s"$mode: too few null signatures")
    }
    val plan = texts.select(expr("minhash_text(lower(t))")).queryExecution.executedPlan
    val stages = plan.collect { case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w }
    assert(stages.exists(_.toString.contains("minhash_text")),
      s"expected minhash_text inside a WholeStageCodegen stage in:\n$plan")
  }
}

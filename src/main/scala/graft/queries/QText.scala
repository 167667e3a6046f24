package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.GraftQuery
import Q._

/** Text-analysis operators over the documents table — SURVEY.md §2.8 F13 /
  * D5 plus the training-data-pipeline extensions (language-ID, quality
  * scoring, token counting, document fingerprinting).
  *
  * All token work is builtin split/explode/higher-order functions —
  * codegen'd, no UDFs. At 100 TB the tokenize→explode→groupBy(token) path
  * is the classic word-count shape: partial aggregation collapses the
  * explosion map-side before the single shuffle on token.
  */
object QText {

  private val EnStop = "('the','a','of','and','is','to','in')"

  /** The curriculum-order plan over ANY (doc_id, source, n_chars) frame —
    * shared by q_curriculum_order (whole corpus) and the composed
    * q_pipeline_curriculum (post-dedup, train-split survivors). Stage =
    * rank of the doc within its source by (n_chars, doc_id), computed as
    * the exact global rank of ONE Q.prefixPass minus the per-source
    * prefix; global_pos is a pure literal projection from the k collected
    * (source, size) pairs (the broadcast-centroid-literal pattern) — no
    * SinglePartition window anywhere, k = |sources| is driver-bounded like
    * the ntile partition counts. The input must not carry `__grk` or a
    * prefix-pass helper column (`__pid`, `__off`).
    */
  private[queries] def curriculum(base: DataFrame): DataFrame = {
    // ONE collect serves both passes (r13, VERDICT r12 #5): the prefix
    // pass's per-(pid, source) counts give the pid offsets of the global
    // rank AND the per-source sizes (the stage offsets + the global_pos
    // literal projection), so no separate sizes job re-executes the
    // caller's input lineage. The per-source stage offset is a literal
    // CASE chain (k = |sources|, driver-bounded), not a broadcast join.
    val p = Q.prefixPass(base, "curriculum", Seq(col("source"), col("n_chars"), col("doc_id")),
      groups = Seq("source"), reserved = Seq("__grk"))
    if (p.parts.isEmpty)
      return base.select(col("doc_id").as("global_pos"), col("doc_id"),
        col("source"), col("doc_id").as("stage"), col("n_chars")).limit(0)
    val sizes = p.parts.groupBy(_.getString(1))
      .map { case (src, xs) => (src, xs.map(_.getLong(2)).sum) }.toSeq.sortBy(_._1)
    val srcOff = sizes.scanLeft(0L)(_ + _._2).init
      .zip(sizes).map { case (o, (src, _)) => (src, o) }
    val srcOffExpr = srcOff.tail
      .foldLeft(when(col("source") === srcOff.head._1, srcOff.head._2)) {
        case (acc, (src, o)) => acc.when(col("source") === src, o)
      }.otherwise(lit(0L))
    val staged = p.keyed.withColumn("__grk", p.rank)
      .withColumn("stage", col("__grk") - srcOffExpr)
    val offExpr = sizes.map { case (_, n) =>
      least(lit(n), col("stage") - 1) }.reduce(_ + _)
    val rankExpr = sizes.map { case (src2, n) =>
      when(lit(n) >= col("stage") && lit(src2) < col("source"), 1L).otherwise(0L)
    }.reduce(_ + _)
    staged
      .select((offExpr + rankExpr + 1).cast("bigint").as("global_pos"),
        col("doc_id"), col("source"), col("stage"), col("n_chars"))
      .orderBy("global_pos")
  }

  val all: Seq[GraftQuery] = Seq(

    GraftQuery(
      "q_corpus_datasheet",
      "Extension (r10): the per-source corpus DATA CARD — doc counts, token volume, " +
        "length profile, language mix, exact-dup incidence in one report (the datasheet " +
        "a dataset release ships; every number a training run quotes about its mixture). " +
        "One scan: the dup flag rides a content-hash window, everything else is one " +
        "groupBy(source) aggregate — two exchanges total regardless of corpus size, " +
        "output rows = |sources|.",
      """WITH t AS (SELECT doc_id, source, lang, n_chars,
        |                  len(string_split(lower(text), ' ')) AS toks,
        |                  md5(text) AS h
        |           FROM documents),
        |w AS (SELECT *, count(*) OVER (PARTITION BY h) AS c FROM t)
        |SELECT source, count(*) AS n_docs,
        |       sum(toks)::BIGINT AS total_tokens,
        |       round(avg(n_chars), 4) AS avg_chars,
        |       round(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::DOUBLE / count(*), 4)
        |         AS pct_en,
        |       sum(CASE WHEN c > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_docs
        |FROM w GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val t = documents(s, dir).select(
        col("source"), col("lang"), col("n_chars"),
        size(split(lower(col("text")), " ")).cast("long").as("toks"),
        md5(col("text")).as("h"))
      val w = t.withColumn("c", count(lit(1)).over(Window.partitionBy("h")))
      w.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).as("total_tokens"),
          round(avg(col("n_chars")), 4).as("avg_chars"),
          round(sum(when(col("lang") === "en", 1).otherwise(0)).cast("double")
            / count(lit(1)), 4).as("pct_en"),
          sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
        .orderBy("source")
    },

    GraftQuery(
      "q_pipeline_c4",
      "Extension (r10): the C4 cleaning pipeline with FUNNEL ATTRIBUTION — language-ID " +
        "gate → quality gate → exact dedup WITHIN the surviving set (the real C4 order: " +
        "dedup after filtering, so a junk doc never claims canonical-ness), and every doc " +
        "reports the FIRST stage that dropped it ('langid'/'quality'/'exact_dup'/'kept') " +
        "— the per-stage loss accounting a pipeline run publishes. One scan computes all " +
        "three signals; the dedup keeper is one hash aggregate over the filtered slice " +
        "joined back (co-keyed on the content hash).",
      s"""WITH f AS (SELECT doc_id,
         |            len(list_filter(string_split(lower(text), ' '), t -> t IN $EnStop))::DOUBLE
         |              / len(string_split(lower(text), ' ')) AS sr,
         |            len(string_split(lower(text), ' ')) AS ntok,
         |            md5(trim(regexp_replace(regexp_replace(lower(text),
         |                  '[^a-z0-9 ]', '', 'g'), '\\s+', ' ', 'g'))) AS h
         |          FROM documents),
         |p AS (SELECT * FROM f WHERE sr > 0.02 AND ntok >= 40),
         |k AS (SELECT h, min(doc_id) AS keeper FROM p GROUP BY h)
         |SELECT f.doc_id,
         |       CASE WHEN f.sr <= 0.02 THEN 'langid'
         |            WHEN f.ntok < 40 THEN 'quality'
         |            WHEN f.doc_id <> k.keeper THEN 'exact_dup'
         |            ELSE 'kept' END AS dropped_by
         |FROM f LEFT JOIN k USING (h) ORDER BY f.doc_id""".stripMargin) { (s, dir) =>
      val lt = lower(col("text"))
      val f = Q.fanout(documents(s, dir)).select(
        col("doc_id"),
        (expr(s"size(filter(split(lower(text), ' '), t -> t IN $EnStop))").cast("double")
          / size(split(lt, " "))).as("sr"),
        size(split(lt, " ")).as("ntok"),
        md5(trim(regexp_replace(regexp_replace(lt, "[^a-z0-9 ]", ""), "\\s+", " "))).as("h"))
        .transform(Q.materialize) // one scan feeds both the gate and the keeper agg
      val k = f.filter(col("sr") > 0.02 && col("ntok") >= 40)
        .groupBy("h").agg(min(col("doc_id")).as("keeper"))
      f.join(k, Seq("h"), "left")
        .select(col("doc_id"),
          when(col("sr") <= 0.02, "langid")
            .when(col("ntok") < 40, "quality")
            .when(col("doc_id") =!= col("keeper"), "exact_dup")
            .otherwise("kept").as("dropped_by"))
        .orderBy("doc_id")
    },

    GraftQuery(
      "q_truncation_loss",
      "Extension (r10): context-length planning — for candidate sequence lengths, the " +
        "fraction of docs that fit whole and the fraction of corpus tokens RETAINED " +
        "under truncation (what a context-window choice actually costs in data; " +
        "production asks this at 2k/8k/32k, same shape). One scan, one 3-way explode, " +
        "one aggregate — output rows = |candidate lengths|.",
      """WITH t AS (SELECT doc_id, len(string_split(lower(text), ' ')) AS n FROM documents),
        |x AS (SELECT n, unnest([32, 64, 128]) AS ctx_len FROM t)
        |SELECT ctx_len::BIGINT AS ctx_len,
        |       round(sum(CASE WHEN n <= ctx_len THEN 1 ELSE 0 END)::DOUBLE / count(*), 4)
        |         AS pct_docs_fit,
        |       round(sum(least(n, ctx_len))::DOUBLE / sum(n), 4) AS pct_tokens_kept
        |FROM x GROUP BY ctx_len ORDER BY ctx_len""".stripMargin) { (s, dir) =>
      documents(s, dir)
        .select(size(split(lower(col("text")), " ")).cast("long").as("n"))
        .select(col("n"), explode(array(lit(32L), lit(64L), lit(128L))).as("ctx_len"))
        .groupBy("ctx_len")
        .agg(
          round(sum(when(col("n") <= col("ctx_len"), 1).otherwise(0)).cast("double")
            / count(lit(1)), 4).as("pct_docs_fit"),
          round(sum(least(col("n"), col("ctx_len"))).cast("double") / sum(col("n")), 4)
            .as("pct_tokens_kept"))
        .orderBy("ctx_len")
    },

    GraftQuery(
      "q_text_tokens",
      "F13/D5: tokenize + global token frequency (explode is the builtin Generator — no UDTF)",
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
        |WHERE token <> '' GROUP BY token ORDER BY token""".stripMargin) { (s, dir) =>
      documents(s, dir)
        .select(explode(split(lower(col("text")), " ")).as("token"))
        .filter(col("token") =!= "")
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .orderBy("token")
    },

    GraftQuery(
      "q_text_langid",
      "Extension: n-gram/stopword language-ID heuristic per document",
      s"""SELECT doc_id, lang,
         |       round(len(list_filter(string_split(lower(text), ' '), t -> t IN $EnStop))::DOUBLE
         |             / len(string_split(lower(text), ' ')), 4) AS stop_ratio,
         |       CASE WHEN len(list_filter(string_split(lower(text), ' '), t -> t IN $EnStop))::DOUBLE
         |                 / len(string_split(lower(text), ' ')) > 0.02
         |            THEN 'en' ELSE 'unk' END AS predicted
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val hits = expr(s"size(filter(split(lower(text), ' '), t -> t IN $EnStop))")
      val n = size(split(lower(col("text")), " "))
      documents(s, dir)
        .withColumn("stop_ratio_raw", hits.cast("double") / n)
        .select(col("doc_id"), col("lang"),
          round(col("stop_ratio_raw"), 4).as("stop_ratio"),
          when(col("stop_ratio_raw") > 0.02, "en").otherwise("unk").as("predicted"))
        .orderBy("doc_id")
    },

    GraftQuery(
      "q_langid_eval",
      "Extension (r10): language-ID EVALUATION — the confusion matrix of the stopword " +
        "heuristic against the gold lang label plus per-gold-class recall, the check a " +
        "pipeline runs before trusting a classifier to route its mixture (a filter " +
        "that silently drops a language is a mixture bug, not a quality win). One " +
        "corpus aggregate to the k×2-row confusion frame; the recall window runs on " +
        "THAT frame (k rows), never on the corpus.",
      s"""WITH p AS (SELECT lang,
         |                  CASE WHEN len(list_filter(string_split(lower(text), ' '),
         |                                            t -> t IN $EnStop))::DOUBLE
         |                            / len(string_split(lower(text), ' ')) > 0.02
         |                       THEN 'en' ELSE 'unk' END AS predicted
         |           FROM documents),
         |c AS (SELECT lang, predicted, count(*) AS n_docs FROM p GROUP BY 1, 2)
         |SELECT lang, predicted, n_docs,
         |       round(n_docs::DOUBLE / sum(n_docs) OVER (PARTITION BY lang), 4)
         |         AS recall
         |FROM c ORDER BY lang, predicted""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val hits = expr(s"size(filter(split(lower(text), ' '), t -> t IN $EnStop))")
      val n = size(split(lower(col("text")), " "))
      documents(s, dir)
        .select(col("lang"),
          when(hits.cast("double") / n > 0.02, "en").otherwise("unk").as("predicted"))
        .groupBy("lang", "predicted").agg(count(lit(1)).as("n_docs"))
        .withColumn("recall",
          round(col("n_docs").cast("double")
            / sum(col("n_docs")).over(Window.partitionBy("lang")), 4))
        .orderBy("lang", "predicted")
    },

    GraftQuery(
      "q_text_quality",
      "Extension: document quality scoring (length / token stats / stopword ratio)",
      s"""SELECT doc_id, length(text) AS n_chars_m,
         |       len(string_split(lower(text), ' ')) AS n_tokens,
         |       round(list_sum(list_transform(string_split(lower(text), ' '), t -> length(t)::BIGINT))::DOUBLE
         |             / len(string_split(lower(text), ' ')), 4) AS avg_tok_len,
         |       CASE WHEN len(string_split(text, ' ')) >= 80 THEN 'high'
         |            WHEN len(string_split(text, ' ')) >= 40 THEN 'medium'
         |            ELSE 'low' END AS quality
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val toks = split(lower(col("text")), " ")
      val nTok = size(toks)
      documents(s, dir)
        .select(col("doc_id"),
          length(col("text")).cast("bigint").as("n_chars_m"),
          nTok.cast("bigint").as("n_tokens"),
          // Σ token lengths ≡ chars minus separators — a codegen'd builtin
          // instead of the per-token interpreted fold
          round(length(translate(lower(col("text")), " ", "")).cast("double")
            / nTok, 4).as("avg_tok_len"),
          when(nTok >= 80, "high").when(nTok >= 40, "medium").otherwise("low").as("quality"))
        .orderBy("doc_id")
    },

    GraftQuery(
      "q_token_count",
      "Extension: token counting — whitespace + regex (BPE-ish ≤4-char chunks)",
      """SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens,
        |       len(regexp_extract_all(text, '[a-z0-9]+')) AS word_tokens,
        |       len(regexp_extract_all(text, '[a-z]{1,4}')) AS bpe_ish_tokens
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      documents(s, dir).select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("bigint").as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))).cast("bigint").as("word_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]{1,4}"), lit(0))).cast("bigint").as("bpe_ish_tokens"))
        .orderBy("doc_id")
    },

    GraftQuery(
      "q_tokenizer_fertility",
      "Extension (r10): TOKENIZER FERTILITY report per language — subword-per-word " +
        "fertility (BPE-ish chunks / words) and chars-per-whitespace-token compression, " +
        "the numbers a tokenizer evaluation quotes per language before committing a " +
        "vocab (high-fertility languages pay more sequence length per sentence). One " +
        "scan + one k-row aggregate; the ratios divide two exact integer sums, so both " +
        "engines agree bit-for-bit before round(4).",
      """SELECT lang, count(*) AS n_docs,
        |       sum(len(string_split(text, ' ')))::BIGINT AS ws_tokens,
        |       sum(len(regexp_extract_all(text, '[a-z0-9]+')))::BIGINT AS word_tokens,
        |       sum(len(regexp_extract_all(text, '[a-z]{1,4}')))::BIGINT AS bpe_ish_tokens,
        |       sum(n_chars)::BIGINT AS total_chars,
        |       round(sum(len(regexp_extract_all(text, '[a-z]{1,4}')))::DOUBLE
        |             / sum(len(regexp_extract_all(text, '[a-z0-9]+'))), 4) AS fertility,
        |       round(sum(n_chars)::DOUBLE
        |             / sum(len(string_split(text, ' '))), 4) AS chars_per_token
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      documents(s, dir)
        .select(col("lang"), col("n_chars"),
          size(split(col("text"), " ")).cast("bigint").as("ws"),
          size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))).cast("bigint").as("wt"),
          size(regexp_extract_all(col("text"), lit("[a-z]{1,4}"), lit(0))).cast("bigint").as("bp"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("ws_tokens"),
          sum(col("wt")).as("word_tokens"), sum(col("bp")).as("bpe_ish_tokens"),
          sum(col("n_chars")).as("total_chars"))
        .select(col("lang"), col("n_docs"), col("ws_tokens"), col("word_tokens"),
          col("bpe_ish_tokens"), col("total_chars"),
          round(col("bpe_ish_tokens").cast("double") / col("word_tokens"), 4).as("fertility"),
          round(col("total_chars").cast("double") / col("ws_tokens"), 4).as("chars_per_token"))
        .orderBy("lang")
    },

    GraftQuery(
      "q_length_buckets",
      "Extension (r10): LENGTH-BUCKETED batching report — docs grouped into 64-token " +
        "buckets with the padding waste each bucket pays (bucket_max·n − Σtokens), the " +
        "number a batching planner reads to pick sequence-length buckets: padding to " +
        "per-bucket max instead of global max is the standard throughput lever. One " +
        "map-side projection + one k-row aggregate; integer math end to end.",
      """SELECT ((len(string_split(text, ' ')) + 63) // 64) * 64 AS bucket_max,
        |       count(*) AS n_docs,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
        |       CAST(((len(string_split(text, ' ')) + 63) // 64) * 64 * count(*)
        |         - sum(len(string_split(text, ' '))) AS BIGINT) AS pad_tokens,
        |       round((((len(string_split(text, ' ')) + 63) // 64) * 64 * count(*)
        |              - sum(len(string_split(text, ' '))))::DOUBLE
        |             / (((len(string_split(text, ' ')) + 63) // 64) * 64 * count(*)), 4)
        |         AS waste_pct
        |FROM documents GROUP BY 1 ORDER BY bucket_max""".stripMargin) { (s, dir) =>
      val t = size(split(col("text"), " ")).cast("bigint")
      documents(s, dir)
        // floor((t+63)/64)·64: the double division is exact (t ≪ 2^53) and
        // floor() returns LONG, matching DuckDB's integer `//` on positives
        .select((floor((t + lit(63L)) / lit(64L)) * 64).cast("bigint").as("bucket_max"),
          t.as("t"))
        .groupBy("bucket_max")
        .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("sum_tokens"))
        .select(col("bucket_max"), col("n_docs"), col("sum_tokens"),
          (col("bucket_max") * col("n_docs") - col("sum_tokens")).as("pad_tokens"),
          round((col("bucket_max") * col("n_docs") - col("sum_tokens")).cast("double")
            / (col("bucket_max") * col("n_docs")), 4).as("waste_pct"))
        .orderBy("bucket_max")
    },

    GraftQuery(
      "q_curriculum_order",
      "Extension (r10): deterministic CURRICULUM ORDER — shortest (easiest) docs " +
        "first, sources interleaved round-robin at every difficulty stage so no " +
        "training run sees a domain-contiguous stretch. stage = rank of the doc " +
        "within its source by (n_chars, doc_id); global_pos visits stage 1 across " +
        "all sources (source-alphabetical), then stage 2, … Scale shape: the stage " +
        "comes from ONE range-partitioned exact rank (Q.prefixPass — no " +
        "SinglePartition window even when one source is billions of docs), and " +
        "global_pos is computed ARITHMETICALLY from the k-row per-source size " +
        "table (k = |sources|, driver-bounded like the ntile partition counts): " +
        "pos = Σ_s min(size_s, stage−1) + |{s: size_s ≥ stage, s < source}| + 1. " +
        "No global sort anywhere; the ORDER BY is presentation only.",
      """WITH staged AS (SELECT doc_id, source, n_chars,
        |                       row_number() OVER (PARTITION BY source
        |                                          ORDER BY n_chars, doc_id) AS stage
        |                FROM documents),
        |sz AS (SELECT source, count(*) AS n FROM documents GROUP BY source)
        |SELECT CAST((SELECT sum(least(z.n, m.stage - 1)) FROM sz z)
        |          + (SELECT count(*) FROM sz z
        |             WHERE z.n >= m.stage AND z.source < m.source) + 1 AS BIGINT)
        |         AS global_pos,
        |       m.doc_id, m.source, m.stage, m.n_chars
        |FROM staged m ORDER BY global_pos""".stripMargin) { (s, dir) =>
      curriculum(documents(s, dir).select(col("doc_id"), col("source"), col("n_chars")))
    },

    GraftQuery(
      "q_text_pii",
      "Extension: PII scrub — mask emails and long digit runs before training (regexp_replace, codegen'd)",
      """SELECT doc_id,
        |       regexp_replace(regexp_replace(text,
        |         '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |         '[0-9]{7,}', '<NUM>', 'g') AS scrubbed,
        |       len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS n_emails,
        |       len(regexp_extract_all(text, '[0-9]{7,}')) AS n_longnums
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val emailPat = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
      val numPat = "[0-9]{7,}"
      documents(s, dir).select(
        col("doc_id"),
        regexp_replace(regexp_replace(col("text"), emailPat, "<EMAIL>"), numPat, "<NUM>")
          .as("scrubbed"),
        size(regexp_extract_all(col("text"), lit(emailPat), lit(0))).cast("bigint").as("n_emails"),
        size(regexp_extract_all(col("text"), lit(numPat), lit(0))).cast("bigint").as("n_longnums"))
        .orderBy("doc_id")
    },

    GraftQuery(
      "q_stratified_sample",
      "Extension: stratified training-mix sampling — fixed quota per source via deterministic LCG-hash rank",
      """SELECT doc_id, source, rk FROM (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY (doc_id * 1103515245 + 12345) % 2147483647, doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 5 ORDER BY source, rk""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // Same WindowGroupLimit map-side cut as q_sample: each stratum's
      // quota is taken before the shuffle, so a 100 TB corpus moves only
      // quota x |strata| rows. Quota-per-source is how training mixes are
      // actually specified (vs a global fraction that skews to big strata).
      val rk = Window.partitionBy("source")
        .orderBy((col("doc_id") * 1103515245L + 12345L) % 2147483647L, col("doc_id"))
      documents(s, dir)
        .withColumn("rk", row_number().over(rk))
        .filter(col("rk") <= 5)
        .select("doc_id", "source", "rk")
        .orderBy("source", "rk")
    },

    GraftQuery(
      "q_doc_fingerprint",
      "Extension: polynomial rolling-hash document fingerprint (content-defined, engine-portable)",
      """SELECT doc_id,
        |       list_reduce(list_prepend(0::BIGINT,
        |                     list_transform(string_split(text, ''), c -> unicode(c)::BIGINT)),
        |                   (a, b) -> (a * 31 + b) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.functions.TextHash.register(s)
      // native poly_hash == the per-char HOF fold, one codegen'd call/row
      Q.fanout(documents(s, dir)).select(
        col("doc_id"), expr("poly_hash(text)").as("fp"))
        .orderBy("doc_id")
    },

    GraftQuery(
      "q_ngram_novelty",
      "Extension (r10): NOVELTY curve — per doc (in doc_id ingestion order) the " +
        "fraction of its distinct 3-token shingles whose FIRST corpus occurrence is " +
        "this doc; the number that tells a dataset build whether the next crawl " +
        "increment still adds new content or only re-treads (diminishing-novelty " +
        "cutoffs are standard in crawl scheduling). Shape (re-spelled r11 after the " +
        "sf10 audit measured the gram-level join-back + a 90M-row exploded-frame " +
        "checkpoint at 17×/10×): per-doc gram counts are size(hs) — a MAP-ONLY " +
        "projection, no explode — so the exploded frame has ONE consumer (the " +
        "gram→min(doc_id) aggregate re-aggregated to novel-grams-per-first-doc) " +
        "and nothing gram-sized is ever checkpointed or joined; the final join " +
        "runs at DOC granularity. Equivalent by construction: hs is distinct per " +
        "doc, so len(hs) = the old per-gram count and counting each gram once at " +
        "its min-doc equals summing first_doc = doc_id over the doc's grams. " +
        "Re-measured 5.6× at 100× data (was 17×).",
      s"""WITH ${QDedup.duckBase},
         |sz AS (SELECT doc_id, len(hs)::BIGINT AS n_grams FROM base),
         |g AS (SELECT doc_id, unnest(hs) AS g FROM base),
         |f AS (SELECT g, min(doc_id) AS first_doc FROM g GROUP BY g),
         |nv AS (SELECT first_doc AS doc_id, count(*) AS novel_grams
         |       FROM f GROUP BY first_doc)
         |SELECT sz.doc_id, sz.n_grams,
         |       coalesce(nv.novel_grams, 0)::BIGINT AS novel_grams,
         |       round(coalesce(nv.novel_grams, 0)::DOUBLE / sz.n_grams, 4) AS novelty
         |FROM sz LEFT JOIN nv USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      // materialize the COMPACT per-doc frame (doc_id, hs), not the
      // exploded one: both branches read it, and the heavy shingle-hash
      // lineage runs once
      val base = Q.materialize(
        QDedup.shingled(documents(s, dir)).select(col("doc_id"), col("hs")))
      val sz = base.select(col("doc_id"), size(col("hs")).cast("bigint").as("n_grams"))
      val nv = base.select(col("doc_id"), explode(col("hs")).as("g"))
        .groupBy("g").agg(min(col("doc_id")).as("first_doc"))
        .groupBy(col("first_doc").as("nv_doc"))
        .agg(count(lit(1)).as("nv_grams"))
      sz.join(nv, col("doc_id") === col("nv_doc"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("nv_grams"), lit(0L)).as("novel_grams"),
          round(coalesce(col("nv_grams"), lit(0L)).cast("double") / col("n_grams"), 4)
            .as("novelty"))
        .orderBy("doc_id")
    },

    GraftQuery(
      "q_vocab_growth",
      "Extension (r10): Heaps-law VOCABULARY-GROWTH curve — per doc (ingestion " +
        "order) the tokens it adds, the types it introduces, and the exact running " +
        "totals (cum_tokens, cum_vocab) plus the type/token ratio: the curve a " +
        "corpus build reads to see whether new data still grows the vocabulary or " +
        "only repeats it (flattening TTR = diminishing lexical return, the " +
        "token-level twin of q_ngram_novelty). First-seen types via ONE " +
        "token→min(doc_id) aggregate (word-count shape); the running totals are the " +
        "range-partitioned two-pass prefix sum (Q.distributedCumsum) — exact long " +
        "arithmetic, no SinglePartition Exchange, so the curve survives a 10⁹-doc " +
        "corpus where a global window serializes.",
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |           FROM documents),
        |t AS (SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM d),
        |f AS (SELECT tok, min(doc_id) AS first_doc FROM t GROUP BY tok),
        |nv AS (SELECT t.doc_id,
        |              sum(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END)
        |                AS new_types
        |       FROM t JOIN f USING (tok) GROUP BY t.doc_id),
        |j AS (SELECT d.doc_id, len(d.toks) AS n_tokens, nv.new_types
        |      FROM d JOIN nv USING (doc_id)),
        |c AS (SELECT doc_id, n_tokens, new_types,
        |             sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |               AS cum_tokens,
        |             sum(new_types) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |               AS cum_vocab
        |      FROM j)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       CAST(new_types AS BIGINT) AS new_types,
        |       CAST(cum_tokens AS BIGINT) AS cum_tokens,
        |       CAST(cum_vocab AS BIGINT) AS cum_vocab,
        |       round(cum_vocab::DOUBLE / cum_tokens, 4) AS ttr
        |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // ONE corpus scan: n_tokens rides the distinct-token explode as a
      // carried column, so the tokenization never re-runs and no join
      // back to the documents frame is needed (review r10 finding).
      val t = documents(s, dir)
        .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
        .select(col("doc_id"), size(col("toks")).cast("bigint").as("n_tokens"),
          explode(array_distinct(col("toks"))).as("tok"))
        .transform(Q.materialize) // feeds the first-seen agg AND the per-doc agg
      val f = t.groupBy("tok").agg(min(col("doc_id")).as("first_doc"))
      val j = t.join(f, Seq("tok"))
        .groupBy("doc_id")
        .agg(first(col("n_tokens")).as("n_tokens"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("new_types"))
      Q.distributedCumsum(j, Seq(col("doc_id")),
          Seq("n_tokens" -> "cum_tokens", "new_types" -> "cum_vocab"))._1
        .select(col("doc_id"), col("n_tokens"), col("new_types"),
          col("cum_tokens"), col("cum_vocab"),
          round(col("cum_vocab").cast("double") / col("cum_tokens"), 4).as("ttr"))
        .orderBy("doc_id")
    },

    GraftQuery(
      "q_zipf_fit",
      "Extension (r10): ZIPF-law fit — the OLS slope of log-frequency vs log-rank " +
        "over the top-100 corpus tokens, the one-number sanity check that a corpus " +
        "looks like natural language (slope ≈ −1) rather than boilerplate or " +
        "machine spam (flat head or cliff). Word-count aggregate → " +
        "TakeOrderedAndProject top-100 (map-side cut, never a global sort) → the " +
        "regression runs on the bounded 100-row frame; round(4) absorbs the " +
        "cross-engine ln/summation-order ulps per the established convention.",
      """WITH w AS (SELECT unnest(string_split(lower(text), ' ')) AS tok
        |           FROM documents),
        |tc AS (SELECT tok, count(*) AS freq FROM w GROUP BY tok),
        |top AS (SELECT tok, freq FROM tc ORDER BY freq DESC, tok LIMIT 100),
        |p AS (SELECT ln(row_number() OVER (ORDER BY freq DESC, tok)::DOUBLE) AS x,
        |             ln(freq::DOUBLE) AS y
        |      FROM top)
        |SELECT count(*)::BIGINT AS n_top,
        |       round((count(*)*sum(x*y) - sum(x)*sum(y))
        |             / (count(*)*sum(x*x) - sum(x)*sum(x)), 4) AS zipf_slope,
        |       round((sum(y) - (count(*)*sum(x*y) - sum(x)*sum(y))
        |                       / (count(*)*sum(x*x) - sum(x)*sum(x)) * sum(x))
        |             / count(*), 4) AS intercept
        |FROM p""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val tc = documents(s, dir)
        .select(explode(split(lower(col("text")), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
      // top-100 via orderBy+limit = TakeOrderedAndProject (partial top-k on
      // the map side); the window below runs on the LIMIT-bounded frame, so
      // its single partition holds exactly 100 rows at any corpus size
      val top = tc.orderBy(col("freq").desc, col("tok")).limit(100)
      val p = top
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("freq").desc, col("tok"))))
        .select(log(col("rnk").cast("double")).as("x"),
          log(col("freq").cast("double")).as("y"))
      val n = count(lit(1)).cast("double")
      val slope = (n * sum(col("x") * col("y")) - sum(col("x")) * sum(col("y"))) /
        (n * sum(col("x") * col("x")) - sum(col("x")) * sum(col("x")))
      p.agg(
        count(lit(1)).cast("bigint").as("n_top"),
        round(slope, 4).as("zipf_slope"),
        round((sum(col("y")) - slope * sum(col("x"))) / n, 4).as("intercept"))
    },

    GraftQuery(
      "q_quality_ablation",
      "Extension (r10): quality-filter ABLATION sweep — for each candidate " +
        "min-token threshold, the docs and tokens that would survive and the " +
        "fraction of the corpus they retain: the one-scan grid a pipeline reads " +
        "to place its quality cut before committing a full run. The threshold " +
        "grid is a generator (explode over literals), NOT a join; corpus totals " +
        "are two driver-side longs (the scalar-subquery rule).",
      """WITH tk AS (SELECT len(string_split(text, ' ')) AS tok FROM documents),
        |tot AS (SELECT count(*)::DOUBLE AS nd, sum(tok)::DOUBLE AS nt FROM tk),
        |s AS (SELECT unnest([10, 20, 40, 80, 160]) AS min_tokens)
        |SELECT min_tokens, count(*) AS n_docs, sum(tok)::BIGINT AS n_tokens,
        |       round(count(*) / (SELECT nd FROM tot), 4) AS pct_docs,
        |       round(sum(tok) / (SELECT nt FROM tot), 4) AS pct_tokens
        |FROM s JOIN tk ON tk.tok >= s.min_tokens
        |GROUP BY min_tokens ORDER BY min_tokens""".stripMargin) { (s, dir) =>
      val tk = documents(s, dir)
        .select(size(split(col("text"), " ")).cast("bigint").as("tok"))
        .transform(Q.materialize) // one tiny column, read for totals + sweep
      val totals = tk.agg(count(lit(1)), sum(col("tok"))).head()
      val (nd, nt) = (totals.getLong(0).toDouble, totals.getLong(1).toDouble)
      tk.select(col("tok"),
          explode(array(Seq(10, 20, 40, 80, 160).map(lit): _*)).as("min_tokens"))
        .filter(col("tok") >= col("min_tokens"))
        .groupBy("min_tokens")
        .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"))
        .select(col("min_tokens"), col("n_docs"), col("n_tokens"),
          round(col("n_docs") / nd, 4).as("pct_docs"),
          round(col("n_tokens") / nt, 4).as("pct_tokens"))
        .orderBy("min_tokens")
    },

    GraftQuery(
      "q_text_normalize",
      "Extension: canonical text normalization for dedup/training — ASCII-fold, lowercase, collapse whitespace",
      // Non-[A-Za-z0-9] chars are replaced BEFORE lower() so case folding
      // only ever sees ASCII — identical in both engines regardless of
      // locale/ICU differences on non-ASCII input.
      """SELECT doc_id,
        |       trim(regexp_replace(lower(regexp_replace(text, '[^A-Za-z0-9]', ' ', 'g')),
        |                           ' +', ' ', 'g')) AS norm_text,
        |       length(trim(regexp_replace(lower(regexp_replace(text, '[^A-Za-z0-9]', ' ', 'g')),
        |                                  ' +', ' ', 'g'))) AS norm_len
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      documents(s, dir)
        .withColumn("norm_text",
          trim(regexp_replace(lower(regexp_replace(col("text"), "[^A-Za-z0-9]", " ")), " +", " ")))
        .select(col("doc_id"), col("norm_text"), length(col("norm_text")).as("norm_len"))
        .orderBy("doc_id")
    },

    GraftQuery(
      "q_text_repetition",
      "Extension: repetition quality signals (Gopher-style) — top-unigram and top-bigram " +
        "fraction per document, flagging degenerate repeated text before training. Two " +
        "word-count aggregations (partial agg collapses the explode map-side) + a tiny join",
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |u AS (SELECT doc_id, len(toks) AS n, unnest(toks) AS tok FROM t),
        |uc AS (SELECT doc_id, n, max(c) AS mx
        |       FROM (SELECT doc_id, n, tok, count(*) AS c FROM u GROUP BY 1, 2, 3)
        |       GROUP BY doc_id, n),
        |b AS (SELECT doc_id, len(toks) - 1 AS nb,
        |             unnest(list_transform(range(len(toks) - 1),
        |                                   i -> toks[i+1] || ' ' || toks[i+2])) AS bg
        |      FROM t WHERE len(toks) >= 2),
        |bc AS (SELECT doc_id, nb, max(c) AS mxb
        |       FROM (SELECT doc_id, nb, bg, count(*) AS c FROM b GROUP BY 1, 2, 3)
        |       GROUP BY doc_id, nb)
        |SELECT uc.doc_id,
        |       round(uc.mx::DOUBLE / uc.n, 4) AS top_unigram_frac,
        |       round(bc.mxb::DOUBLE / bc.nb, 4) AS top_bigram_frac,
        |       (uc.mx::DOUBLE / uc.n > 0.1 OR bc.mxb::DOUBLE / bc.nb > 0.05) AS repetitive
        |FROM uc JOIN bc ON uc.doc_id = bc.doc_id
        |ORDER BY 1""".stripMargin) { (s, dir) =>
      // Per-DOCUMENT signals need no corpus shuffle: sort the token (or
      // bigram) array per row and fold for the longest equal run — the
      // mode count of a sorted multiset. Zero Exchanges; embarrassingly
      // parallel at any corpus size (vs the explode→groupBy word-count
      // shape, which shuffles every token twice for a per-row answer).
      def maxRun(arr: String): org.apache.spark.sql.Column = expr(
        s"""aggregate(sort_array($arr),
           |  named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L),
           |  (a, t) -> named_struct(
           |    'prev', t,
           |    'run', IF(a.prev <=> t, a.run + 1, 1L),
           |    'best', greatest(a.best, IF(a.prev <=> t, a.run + 1, 1L))),
           |  a -> a.best)""".stripMargin)
      documents(s, dir)
        .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
        .filter(size(col("toks")) >= 2)
        .withColumn("bgs", expr(
          "transform(sequence(1, size(toks) - 1), i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"))
        .select(col("doc_id"),
          size(col("toks")).as("n"), maxRun("toks").as("mx"),
          size(col("bgs")).as("nb"), maxRun("bgs").as("mxb"))
        .select(col("doc_id"),
          round(col("mx").cast("double") / col("n"), 4).as("top_unigram_frac"),
          round(col("mxb").cast("double") / col("nb"), 4).as("top_bigram_frac"),
          (col("mx").cast("double") / col("n") > 0.1 ||
            col("mxb").cast("double") / col("nb") > 0.05).as("repetitive"))
        .orderBy("doc_id")
    },

    GraftQuery(
      "q_decontaminate",
      "Extension: benchmark decontamination — flag training docs sharing any 5-gram with " +
        "the held-out set (docs 0-9 stand in for the benchmark). The benchmark gram set is " +
        "tiny → broadcast to the corpus-side join; at 100 TB this is the canonical " +
        "broadcast-semi-join decontamination pass",
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |g AS (SELECT doc_id,
        |             unnest(list_transform(range(len(toks) - 4),
        |                                   i -> array_to_string(toks[i+1:i+5], ' '))) AS gram
        |      FROM t WHERE len(toks) >= 5),
        |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id < 10),
        |scored AS (SELECT g.doc_id, count(DISTINCT g.gram) AS shared
        |           FROM g JOIN bench b ON g.gram = b.gram
        |           WHERE g.doc_id >= 10 GROUP BY 1)
        |SELECT d.doc_id, coalesce(s.shared, 0) AS shared_5grams,
        |       coalesce(s.shared, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
        |WHERE d.doc_id >= 10 ORDER BY 1""".stripMargin) { (s, dir) =>
      graft.functions.TextHash.register(s) // word_ngrams
      // Each side explodes from its own pushed-down scan (r12): the bench
      // side re-tokenizes only 10 docs — trivially cheaper than
      // checkpointing the corpus's millions of gram strings to share one
      // explode (the materialize dominated the key at sf1: 4.6 s of the
      // 5.1 s total), and the corpus side now streams straight into the
      // broadcast join with nothing persisted.
      def gramsOf(df: org.apache.spark.sql.DataFrame) = df
        .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
        .filter(size(col("toks")) >= 5)
        .select(col("doc_id"), explode(expr(
          "word_ngrams(toks, 5)" // native one-pass gram builder (r12)
        )).as("gram"))
      val docs = documents(s, dir)
      val bench = gramsOf(docs.filter(col("doc_id") < 10)).select("gram").distinct()
      val scored = gramsOf(docs.filter(col("doc_id") >= 10))
        .join(broadcast(bench), "gram")
        .groupBy("doc_id").agg(count_distinct(col("gram")).as("shared"))
      documents(s, dir).filter(col("doc_id") >= 10)
        .select(col("doc_id"))
        .join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("shared"), lit(0L)).as("shared_5grams"),
          (coalesce(col("shared"), lit(0L)) > 0).as("contaminated"))
        .orderBy("doc_id")
    },

    GraftQuery(
      "q_chunk_windows",
      "Extension: context-window chunking — split each document's token stream into " +
        "fixed 32-token windows (sequence/RAG packing prep; real pipelines use 2k-8k — " +
        "the shape is identical). posexplode is the builtin Generator: output-proportional " +
        "on executors, then ONE partial+final hash agg shuffled on (doc_id, chunk_id). " +
        "Chunk identity columns are engine-portable integers + boundary tokens, not hashes",
      """WITH ex AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |)
        |SELECT doc_id, (i - 1) // 32 AS chunk_id, count(*) AS n_tokens,
        |       CAST(sum(length(toks[i])) AS BIGINT) AS chunk_chars,
        |       min(CASE WHEN (i - 1) % 32 = 0 THEN toks[i] END) AS first_tok
        |FROM ex GROUP BY 1, 2 ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
      documents(s, dir)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
        .groupBy(col("doc_id"), floor(col("pos") / 32).as("chunk_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(length(col("token"))).as("chunk_chars"),
          min(when(col("pos") % 32 === 0, col("token"))).as("first_tok"))
        .orderBy("doc_id", "chunk_id")
    },

    GraftQuery(
      "q_pack_sequences",
      "Extension: contiguous sequence packing — assign each source's documents " +
        "(doc_id order) to fixed 512-token training sequences by their running start " +
        "offset. The at-scale packing strategy: contiguous fill needs NO cross-document " +
        "comparisons (vs bin-packing's quadratic matching), one window pass per source " +
        "partition; a sequence overflows by at most one document tail, which the " +
        "q_chunk_windows splitter then trims. fill_bp is integer basis points — " +
        "engine-portable exact arithmetic, no float rounding at the oracle boundary",
      """WITH tok AS (
        |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens FROM documents
        |), r AS (
        |  SELECT doc_id, source, n_tokens,
        |         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
        |              - n_tokens AS BIGINT) AS start_tok
        |  FROM tok)
        |SELECT source, start_tok // 512 AS seq_id, count(*) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        |       (CAST(sum(n_tokens) AS BIGINT) * 10000) // 512 AS fill_bp
        |FROM r GROUP BY 1, 2 ORDER BY source, seq_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source").orderBy("doc_id")
      documents(s, dir)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("bigint").as("n_tokens"))
        .withColumn("start_tok", sum("n_tokens").over(w) - col("n_tokens"))
        .groupBy(col("source"), floor(col("start_tok") / 512).as("seq_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("seq_tokens"),
          min("doc_id").as("first_doc"),
          max("doc_id").as("last_doc"),
          expr("(sum(n_tokens) * 10000) div 512").as("fill_bp"))
        .orderBy("source", "seq_id")
    },

    GraftQuery(
      "q_embedding_coverage",
      "Extension: embedding-coverage report — per source, how many docs have an embedding " +
        "row (the pipeline-health check before any ANN/semantic-dedup stage; the testdata " +
        "itself embeds only a prefix of the corpus at sf0.1). Left semi-join on doc_id, " +
        "two k-row aggregates",
      """WITH c AS (SELECT d.source, count(*) AS n_docs,
        |                  count(e.vec_id) AS n_embedded
        |           FROM documents d LEFT JOIN embeddings e ON e.vec_id = d.doc_id
        |           GROUP BY d.source)
        |SELECT source, n_docs, n_embedded,
        |       round(n_embedded::DOUBLE / n_docs, 4) AS coverage
        |FROM c ORDER BY source""".stripMargin) { (s, dir) =>
      documents(s, dir).select(col("doc_id"), col("source"))
        .join(Q.embeddings(s, dir).select(col("vec_id")),
          col("vec_id") === col("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), count(col("vec_id")).as("n_embedded"))
        .select(col("source"), col("n_docs"), col("n_embedded"),
          round(col("n_embedded").cast("double") / col("n_docs"), 4).as("coverage"))
        .orderBy("source")
    },

    GraftQuery(
      "q_mixture_temperature",
      "Extension: temperature-scaled mixture weights — w_s ∝ total_s^0.5 (α = 0.5, the " +
        "multilingual-sampling rebalance that upweights small sources without drowning " +
        "large ones), normalized, plus each source's share of a 100k-token budget. One " +
        "k-row aggregate; sqrt is IEEE-correctly-rounded in both engines, round(4) " +
        "absorbs the normalization sum's ordering ulp",
      """WITH tok AS (SELECT source, count(*) AS n_docs,
        |                    sum(len(string_split(text, ' '))) AS total
        |             FROM documents GROUP BY source),
        |t AS (SELECT source, n_docs, total, sqrt(total::DOUBLE) AS w FROM tok),
        |z AS (SELECT sum(w) AS z FROM t)
        |SELECT source, n_docs, CAST(total AS BIGINT) AS total_tokens,
        |       round(w / (SELECT z FROM z), 4) AS weight,
        |       round(100000 * w / (SELECT z FROM z), 2) AS budget_tokens
        |FROM t ORDER BY source""".stripMargin) { (s, dir) =>
      val t = documents(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(size(split(col("text"), " "))).as("total"))
        .withColumn("w", sqrt(col("total").cast("double")))
        .transform(Q.materialize) // one tiny k-row table, read twice
      // the normalizer is ONE double — driver-side (scalar-subquery joins
      // plan an audit-banned BNLJ); summation-order ulps die in round(4)
      val z = t.agg(sum(col("w"))).head().getDouble(0)
      t.select(col("source"), col("n_docs"), col("total").cast("bigint").as("total_tokens"),
        round(col("w") / z, 4).as("weight"),
        round(lit(100000) * col("w") / z, 2).as("budget_tokens"))
        .orderBy("source")
    },

    GraftQuery(
      "q_mixture_epochs",
      "Extension (r10): data-constrained REPETITION PLAN — under a fixed training " +
        "token budget (1M here) and the α=0.5 temperature mixture, how many epochs " +
        "each source must repeat to fill its share (epochs = budget·w/z / tokens_s) " +
        "and whether it crosses the ~4-epoch mark past which repeated data's value " +
        "decays sharply (the data-constrained-scaling rule of thumb). The report a " +
        "budget review reads before buying more data vs repeating. Same one k-row " +
        "aggregate as the mixture keys; z is a driver-side scalar.",
      """WITH tok AS (SELECT source, sum(len(string_split(text, ' '))) AS total
        |             FROM documents GROUP BY source),
        |t AS (SELECT source, total, sqrt(total::DOUBLE) AS w FROM tok),
        |z AS (SELECT sum(w) AS z FROM t)
        |SELECT source, CAST(total AS BIGINT) AS total_tokens,
        |       round(w / (SELECT z FROM z), 4) AS weight,
        |       round(1000000 * (w / (SELECT z FROM z)) / total, 4) AS epochs,
        |       round(1000000 * (w / (SELECT z FROM z)) / total, 4) > 4.0
        |         AS over_repeated
        |FROM t ORDER BY source""".stripMargin) { (s, dir) =>
      val t = documents(s, dir)
        .groupBy("source")
        .agg(sum(size(split(col("text"), " "))).as("total"))
        .withColumn("w", sqrt(col("total").cast("double")))
        .transform(Q.materialize) // k rows, read twice (z + the report)
      val z = t.agg(sum(col("w"))).head().getDouble(0)
      val epochs = lit(1000000) * (col("w") / z) / col("total")
      t.select(col("source"), col("total").cast("bigint").as("total_tokens"),
        round(col("w") / z, 4).as("weight"),
        round(epochs, 4).as("epochs"),
        // compare the ROUNDED value: the raw double differs by summation-
        // order ulps between engines (z is a sum), round(4) absorbs them
        (round(epochs, 4) > 4.0).as("over_repeated"))
        .orderBy("source")
    },

    GraftQuery(
      "q_mixture_sample",
      "Extension: balanced domain-mixture downsample — every source contributes at most " +
        "the smallest source's token total (deterministic doc_id-ordered cumulative cut; " +
        "swap the min() for externally-supplied per-domain weights for arbitrary mixtures). " +
        "Two shuffles on source (total + running sum, co-partitioned) and a broadcast " +
        "1-row budget — no driver loop, mixture math stays on executors",
      """WITH tok AS (
        |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens FROM documents
        |), budget AS (
        |  SELECT min(total) AS b FROM (
        |    SELECT sum(n_tokens) AS total FROM tok GROUP BY source)
        |), ranked AS (
        |  SELECT doc_id, source, n_tokens,
        |         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT)
        |           AS cum_tokens
        |  FROM tok)
        |SELECT doc_id, source, n_tokens, cum_tokens
        |FROM ranked, budget WHERE cum_tokens <= b ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val tok = documents(s, dir).select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("bigint").as("n_tokens"))
      // the global budget rides the per-source totals table (a few rows
      // post-agg, so the unpartitioned window is trivially cheap) and
      // attaches back by SOURCE — a broadcast hash equi-join, never a
      // cartesian/BNLJ (a 1-row crossJoin would plan one and fail the
      // no-cartesian audit)
      val budgeted = tok.groupBy("source").agg(sum("n_tokens").as("total"))
        .withColumn("b", min("total").over(Window.partitionBy()))
        .select("source", "b")
      val ranked = tok.withColumn("cum_tokens",
        sum("n_tokens").over(Window.partitionBy("source").orderBy("doc_id")))
      ranked.join(broadcast(budgeted), "source")
        .filter(col("cum_tokens") <= col("b"))
        .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
        .orderBy("doc_id")
    },

    GraftQuery(
      "q_epoch_shuffle",
      "Extension: deterministic global training-order shuffle — seed-keyed LCG permutation " +
        "materialized by Spark's range-partitioned sort (sampled range bounds, no single " +
        "reducer; re-seed the constant for the next epoch). The engine-portable integer " +
        "hash makes the order reproducible across engines and runs — sample-based " +
        "randomness would not be",
      """SELECT doc_id, source,
        |       (doc_id * 1103515245 + 42) % 2147483647 AS shuffle_key
        |FROM documents ORDER BY shuffle_key, doc_id""".stripMargin) { (s, dir) =>
      // ORDER BY plans a RangePartitioning exchange: Spark samples the key
      // distribution and assigns contiguous key ranges to partitions, so a
      // 100 TB corpus sorts with every executor writing its own ordered
      // slice — the doc_id tiebreak keeps the permutation total (LCG
      // collisions would otherwise leave nondeterministic islands)
      documents(s, dir).select(col("doc_id"), col("source"),
          ((col("doc_id") * 1103515245L + 42L) % 2147483647L).as("shuffle_key"))
        .orderBy("shuffle_key", "doc_id")
    },

    GraftQuery(
      "q_substring_spans",
      "Extension: span-level exact-substring dedup (the Lee et al. \"Deduplicating Training " +
        "Data\" shape, re-expressed relationally) — every 8-token gram whose document " +
        "frequency exceeds 1 marks a duplicated position; gap-and-islands over positions " +
        "finds each doc's longest duplicated run. Cost is inverted-index bounded: one " +
        "gram-df aggregate + a semi-join back, never all-pairs; at 100 TB the string gram " +
        "swaps for the 64-bit rolling hash (q_doc_fingerprint) with identical plan shape",
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |g AS (SELECT doc_id,
        |             unnest(range(len(toks) - 7)) AS pos,
        |             unnest(list_transform(range(len(toks) - 7),
        |                                   i -> array_to_string(toks[i+1:i+8], ' '))) AS gram
        |      FROM t WHERE len(toks) >= 8),
        |dfreq AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) > 1),
        |dup AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM dfreq)),
        |isl AS (SELECT doc_id, pos,
        |               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        |        FROM dup),
        |runs AS (SELECT doc_id, isl, count(*) AS run FROM isl GROUP BY 1, 2),
        |per AS (SELECT doc_id, sum(run) AS dup_grams, max(run) AS max_run FROM runs GROUP BY 1)
        |SELECT t.doc_id,
        |       CAST(coalesce(per.dup_grams, 0) AS BIGINT) AS dup_grams,
        |       CAST(coalesce(per.max_run, 0) AS BIGINT) AS max_dup_run,
        |       coalesce(per.max_run, 0) >= 4 AS dup_span
        |FROM t LEFT JOIN per USING (doc_id)
        |WHERE len(t.toks) >= 8 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.functions.TextHash.register(s) // word_ngrams
      import org.apache.spark.sql.expressions.Window
      val W = 8
      val toks = documents(s, dir)
        .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
        .filter(size(col("toks")) >= W)
      // (doc_id, pos, gram): pos is the 0-based gram start, the island key
      val g = Q.fanout(toks)
        .select(col("doc_id"), posexplode(expr(
          s"word_ngrams(toks, $W)" // native one-pass gram builder (r12)
        )).as(Seq("pos", "gram")))
        .transform(Q.materialize) // feeds BOTH the df aggregate and the join back
      // inverted-index bound: only grams seen in >1 doc survive (partial
      // agg collapses per-doc repeats map-side before the gram shuffle)
      val dupGrams = g.groupBy("gram")
        .agg(count_distinct(col("doc_id")).as("df")).filter(col("df") > 1)
        .select("gram")
      val dup = g.join(dupGrams, Seq("gram"), "left_semi")
      // gap-and-islands: consecutive duplicated positions share (pos - rn)
      val wd = Window.partitionBy("doc_id").orderBy("pos")
      val runs = dup
        .withColumn("isl", col("pos") - row_number().over(wd))
        .groupBy("doc_id", "isl").agg(count(lit(1)).as("run"))
      val per = runs.groupBy("doc_id")
        .agg(sum(col("run")).as("dup_grams"), max(col("run")).as("max_run"))
      toks.select(col("doc_id"))
        .join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("dup_grams"), lit(0L)).as("dup_grams"),
          coalesce(col("max_run"), lit(0L)).as("max_dup_run"),
          // a run of 4 grams = an 11-token span shared verbatim with
          // another document — the Lee-et-al drop/trim candidate
          (coalesce(col("max_run"), lit(0L)) >= 4).as("dup_span"))
        .orderBy("doc_id")
    },

    GraftQuery(
      "q_unigram_logprob",
      "Extension: unigram-LM perplexity-style quality score (the KenLM-filter stand-in): " +
        "corpus unigram counts -> per-doc mean log-probability avg(ln(cnt_t)) - ln(N). " +
        "Two word-count aggregates + one vocab join; at 100 TB the vocab side is millions " +
        "of rows -> broadcast, the corpus side never re-shuffles beyond the token count",
      """WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        |             FROM documents),
        |tk AS (SELECT doc_id, token FROM tok WHERE token <> ''),
        |cnt AS (SELECT token, count(*) AS c FROM tk GROUP BY token),
        |tot AS (SELECT ln(count(*)::DOUBLE) AS ln_n FROM tk)
        |SELECT doc_id, count(*) AS n_tokens,
        |       round(avg(ln(c::DOUBLE)) - (SELECT ln_n FROM tot), 4) AS logprob
        |FROM tk JOIN cnt USING (token)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val tk = Q.fanout(documents(s, dir))
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
        .filter(col("token") =!= "")
        .transform(Q.materialize) // feeds counts, total, and the doc side once
      val cnt = tk.groupBy("token").agg(count(lit(1)).as("c"))
      // the corpus total rides the plan as a 1-row aggregate attached as a
      // bounded 1-row broadcast (r13, VERDICT r12 #4 — the scalar-attach
      // BNLJ shape PlanAuditSpec allows); the r12 spelling paid a driver
      // count job. Derived from the VOCAB counts (Σc == |tk| exactly, long
      // sums), so the extra pass reads k vocab rows, not the token table.
      val nAgg = cnt.agg(sum(col("c")).as("__n"))
      tk.join(broadcast(cnt), Seq("token"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          avg(log(col("c").cast("double"))).as("__avg"))
        .crossJoin(broadcast(nAgg))
        .select(col("doc_id"), col("n_tokens"),
          round(col("__avg") - log(col("__n").cast("double")), 4).as("logprob"))
        .orderBy("doc_id")
    },

    GraftQuery(
      "q_bigram_logprob",
      "Extension (r10): BIGRAM-LM quality score — per-doc mean add-one-smoothed " +
        "conditional log-probability avg(ln(c(w1 w2)+1) − ln(c(w1)+V)), the " +
        "KenLM/CCNet perplexity filter one order up from q_unigram_logprob (a " +
        "unigram LM can't see scrambled word order; a bigram LM scores it down). " +
        "Per-row bigram construction (no shuffle) → two word-count aggregates + " +
        "two count-table joins; V is one driver-side long (the scalar rule). " +
        "At 100 TB the corpus never re-shuffles beyond the count aggregates; the " +
        "joins are UNHINTED so AQE broadcasts the count tables while small and " +
        "degrades to shuffle joins when the bigram vocabulary outgrows the " +
        "broadcast cap (it grows near-linearly with corpus tokens).",
      """WITH d AS (SELECT doc_id,
        |                  list_filter(string_split(lower(text), ' '),
        |                              t -> t <> '') AS toks
        |           FROM documents),
        |bg AS (SELECT doc_id,
        |              unnest(list_transform(range(len(toks) - 1),
        |                                    i -> toks[i+1] || ' ' || toks[i+2])) AS b
        |       FROM d WHERE len(toks) >= 2),
        |c2 AS (SELECT b, count(*) AS c2 FROM bg GROUP BY b),
        |tk AS (SELECT unnest(toks) AS token FROM d),
        |c1 AS (SELECT token, count(*) AS c1 FROM tk GROUP BY token),
        |v AS (SELECT count(*) AS v FROM c1)
        |SELECT doc_id, count(*) AS n_bigrams,
        |       round(avg(ln((c2.c2 + 1)::DOUBLE)
        |                 - ln((c1.c1 + (SELECT v FROM v))::DOUBLE)), 4) + 0
        |         AS bigram_logprob
        |FROM bg JOIN c2 USING (b)
        |JOIN c1 ON c1.token = string_split(bg.b, ' ')[1]
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.functions.TextHash.register(s)
      // r13 bigram construction: the native word_ngrams(toks, 2) builder —
      // the SAME one-JVM-pass expression the r12 round pinned for
      // q_bpe_merge/q_source_overlap — replaces posexplode + a lead()
      // window, which cost this query's only wide pre-count exchange (hash
      // on doc_id) plus per-row window state. Bigrams are now a pure
      // shuffle-free scan→project→explode pipeline; w1 is the prefix before
      // the first space (tokens never contain spaces — they come from a
      // space split; the oracle reads it back the same way,
      // string_split(b)[1]). Empty tokens are removed BEFORE gram
      // construction (array_remove == the oracle's list_filter t <> ''),
      // so pairs join consecutive SURVIVING tokens exactly as the old
      // post-explode filter + lead did.
      // NOT checkpointed (r12 reasoning, stronger now): bg feeds the bigram
      // count and the join back, but its lineage is a codegen'd
      // scan+split+ngrams+explode with NO shuffle — recomputing it once is
      // cheaper than checkpointing the query's largest frame.
      val d = Q.fanout(documents(s, dir))
        .select(col("doc_id"),
          array_remove(split(lower(col("text")), " "), "").as("toks"))
      val bg = d
        .select(col("doc_id"), explode(expr("word_ngrams(toks, 2)")).as("b"))
        .withColumn("w1", substring_index(col("b"), " ", 1))
      val tk = d.select(explode(col("toks")).as("w1"))
      // No broadcast HINTS on the count tables: the distinct-bigram side
      // grows near-linearly with corpus tokens (the Heaps-law point), so a
      // pinned BroadcastHashJoin would OOM past the 8 GB relation cap at
      // large SF — let AQE broadcast while small and degrade to a shuffle
      // join when it isn't (review r10 finding).
      val c2 = bg.groupBy("b").agg(count(lit(1)).as("c2"))
      val c1 = tk.groupBy("w1").agg(count(lit(1)).as("c1"))
      // |V| rides the plan as a 1-row aggregate broadcast onto the vocab
      // side (VERDICT r12 #4) — the r12 spelling checkpointed c1 and paid
      // a driver count job; at 100 TB that count is a full extra pass over
      // the vocab table. The count subtree shares c1's token exchange
      // (AQE stage reuse). A 1-row broadcast BNLJ is the bounded
      // scalar-attach shape PlanAuditSpec allows.
      val c1v = c1.crossJoin(broadcast(c1.agg(count(lit(1)).as("__v"))))
      bg.join(c2, Seq("b"))
        .join(c1v, Seq("w1"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          // `+0` folds IEEE -0.0 (the established rounding convention)
          (round(avg(log((col("c2") + 1).cast("double"))
            - log((col("c1") + col("__v")).cast("double"))), 4) + lit(0.0))
            .as("bigram_logprob"))
        .orderBy("doc_id")
    },

    GraftQuery(
      "q_importance_weights",
      "Extension (r10): DSIR-style IMPORTANCE WEIGHTS — per-doc mean log-ratio of " +
        "target-domain vs whole-corpus unigram probability (add-one smoothed over the " +
        "corpus vocab), the score importance resampling ranks by when steering a " +
        "mixture toward a clean reference domain (here source='src0'). Token log-ratio " +
        "reduces to ln(ct+1) − ln(cr+1) plus a constant normalizer riding the plan as " +
        "a 1-row broadcast, so the heavy path is ONE conditional word-count aggregate " +
        "(cr and ct in one pass; r13) + ONE broadcast vocab join — at 100 TB the " +
        "corpus never re-shuffles beyond the token count, and the vocab side stays " +
        "broadcastable.",
      """WITH tok AS (SELECT doc_id, source,
        |                    unnest(string_split(lower(text), ' ')) AS token
        |             FROM documents),
        |tk AS (SELECT doc_id, source, token FROM tok WHERE token <> ''),
        |raw AS (SELECT token, count(*) AS cr FROM tk GROUP BY token),
        |tgt AS (SELECT token, count(*) AS ct FROM tk WHERE source = 'src0'
        |        GROUP BY token),
        |v AS (SELECT token, cr, coalesce(ct, 0) AS ct
        |      FROM raw LEFT JOIN tgt USING (token)),
        |s AS (SELECT ln(((SELECT count(*) FROM tk) + (SELECT count(*) FROM raw))::DOUBLE)
        |           - ln(((SELECT count(*) FROM tk WHERE source = 'src0')
        |                 + (SELECT count(*) FROM raw))::DOUBLE) AS off)
        |SELECT doc_id, count(*) AS n_tokens,
        |       round(avg(ln((ct + 1)::DOUBLE) - ln((cr + 1)::DOUBLE))
        |             + (SELECT off FROM s), 4) + 0 AS dsir_logweight
        |FROM tk JOIN v USING (token)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val tk = Q.fanout(documents(s, dir))
        .select(col("doc_id"), col("source"),
          explode(split(lower(col("text")), " ")).as("token"))
        .filter(col("token") =!= "")
        .transform(Q.materialize) // feeds the vocab aggregate + the doc side
      // r13: the whole-corpus and target-domain counts are ONE conditional
      // aggregation over one pass of tk — raw LEFT JOIN tgt with
      // coalesce(ct, 0) is exactly sum(CASE source='src0') per token, so
      // the second full tk aggregate and the vocab self-join collapse away
      // (guide §2.4); identical exact long counts.
      val vocab = tk.groupBy("token")
        .agg(count(lit(1)).as("cr"),
          sum(when(col("source") === "src0", 1L).otherwise(0L)).as("ct"))
        .transform(Q.materialize) // feeds the scalar aggregate AND the join
      // The normalizer ln(nRaw+|V|) − ln(nTgt+|V|) is a constant over the
      // whole corpus, added AFTER the avg so the distributed part is the
      // same ln(c+1) shape both engines fold identically. All three scalars
      // come out of ONE k-row aggregate over the checkpointed vocab table
      // (r12), which since r13 rides the plan as a bounded 1-row
      // broadcast (VERDICT r12 #4) instead of a driver head() job —
      // exact long sums either way, same one ln per side.
      val scal = vocab.agg(count(lit(1)).as("__v"),
        sum("cr").as("__nr"), sum("ct").as("__nt"))
      val off = log((col("__nr") + col("__v")).cast("double")) -
        log((col("__nt") + col("__v")).cast("double"))
      tk.join(broadcast(vocab), Seq("token"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          avg(log((col("ct") + 1).cast("double"))
            - log((col("cr") + 1).cast("double"))).as("__avg"))
        .crossJoin(broadcast(scal))
        .select(col("doc_id"), col("n_tokens"),
          // `+0` folds IEEE -0.0 (InfluxQLPlanner.scala:1878 convention)
          (round(col("__avg") + off, 4) + lit(0.0)).as("dsir_logweight"))
        .orderBy("doc_id")
    },

    GraftQuery(
      "q_tfidf",
      "Extension: TF-IDF term weighting — tf(doc, term) * ln(n_docs / df(term)), top-3 " +
        "terms per doc (weight desc, token asc). tf and df are the two word-count " +
        "aggregates; the df table broadcasts at any realistic vocab; top-k is a per-doc " +
        "window the optimizer caps with WindowGroupLimit",
      """WITH tk AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        |            FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tk WHERE token <> '' GROUP BY 1, 2),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |nd AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n_docs FROM documents),
        |w AS (SELECT doc_id, token,
        |             tf * ln((SELECT n_docs FROM nd) / df::DOUBLE) AS weight
        |      FROM tf JOIN df USING (token)),
        |r AS (SELECT doc_id, token, weight,
        |             row_number() OVER (PARTITION BY doc_id
        |                                ORDER BY weight DESC, token) AS rnk
        |      FROM w)
        |SELECT doc_id, rnk, token, round(weight, 4) AS weight
        |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val tf = Q.fanout(documents(s, dir))
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
        .filter(col("token") =!= "")
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        .transform(Q.materialize) // tf feeds df AND the weight join
      val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
      // corpus doc count: one driver-side long (see q_unigram_logprob).
      // doc_id is the table's unique key, so count(DISTINCT doc_id) ==
      // count(*) — the bare count needs no distinct exchange and Spark
      // answers it from parquet row-group metadata (r12).
      val nDocs = documents(s, dir).count().toDouble
      val wTop = Window.partitionBy("doc_id").orderBy(col("weight_raw").desc, col("token"))
      tf.join(broadcast(df), Seq("token"))
        .withColumn("weight_raw", col("tf") * log(lit(nDocs) / col("df").cast("double")))
        .withColumn("rnk", row_number().over(wTop))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk").cast("bigint").as("rnk"), col("token"),
          round(col("weight_raw"), 4).as("weight"))
        .orderBy("doc_id", "rnk")
    },

    GraftQuery(
      "q_rag_index",
      "Extension: the composed RAG index build — quality gate (≥ 40 tokens) → 32-token " +
        "chunking → inner join to the embedded subset (doc-level embedding reused per " +
        "chunk, the pre-chunk-embedding deployment shape); the int8-quantized vector is " +
        "FINGERPRINTED (offset-positive polynomial fold → both engines' % agree) so the " +
        "index row stays scalar-comparable. Chunk fan-out on executors, one equi-join",
      """WITH t AS (SELECT doc_id, source, string_split(lower(text), ' ') AS toks
        |           FROM documents),
        |f AS (SELECT * FROM t WHERE len(toks) >= 40),
        |ch AS (SELECT doc_id, source,
        |              unnest(range(0, (len(toks) + 31) // 32)) AS chunk_id,
        |              unnest(list_transform(range(0, (len(toks) + 31) // 32),
        |                      i -> array_to_string(toks[i*32+1 : i*32+32], ' '))) AS chunk_text,
        |              unnest(list_transform(range(0, (len(toks) + 31) // 32),
        |                      i -> len(toks[i*32+1 : i*32+32]))) AS n_chunk_tokens
        |       FROM f),
        |e AS (SELECT vec_id,
        |             list_reduce(list_prepend(0::BIGINT,
        |                 list_transform(embedding::DOUBLE[],
        |                   x -> floor(greatest(least(x, 1.0), -1.0) * 127.0 + 0.5)::BIGINT + 127)),
        |               (a, b) -> (a * 255 + b) % 1000000007) AS qv_fp
        |      FROM embeddings)
        |SELECT ch.doc_id, ch.chunk_id, ch.source,
        |       CAST(ch.n_chunk_tokens AS BIGINT) AS n_chunk_tokens, ch.chunk_text, e.qv_fp
        |FROM ch JOIN e ON e.vec_id = ch.doc_id
        |ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
      val chunks = Q.fanout(documents(s, dir))
        .select(col("doc_id"), col("source"), split(lower(col("text")), " ").as("toks"))
        .filter(size(col("toks")) >= 40)
        .select(col("doc_id"), col("source"), posexplode(expr(
          "transform(sequence(0, cast(ceil(size(toks) / 32.0) AS INT) - 1)," +
            " i -> struct(concat_ws(' ', slice(toks, i * 32 + 1, 32)) AS ctext," +
            "            size(slice(toks, i * 32 + 1, 32)) AS ntok))")).as(Seq("chunk_id", "c")))
      val emb = Q.embeddings(s, dir).select(col("vec_id"), expr(
        "aggregate(transform(embedding," +
          "  x -> cast(floor(greatest(least(cast(x AS double), 1.0D), -1.0D) * 127.0D + 0.5D)" +
          "       AS bigint) + 127L)," +
          " 0L, (a, b) -> (a * 255 + b) % 1000000007)").as("qv_fp"))
      chunks.join(emb, col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("chunk_id"), col("source"),
          col("c.ntok").cast("bigint").as("n_chunk_tokens"),
          col("c.ctext").as("chunk_text"), col("qv_fp"))
        .orderBy("doc_id", "chunk_id")
    },

    GraftQuery(
      "q_source_overlap",
      "Extension: cross-source contamination matrix — shared 8-token grams between every " +
        "source pair (the corpus-internal leakage audit a dataset builder runs before " +
        "declaring splits independent). Inverted-index bounded: distinct (gram, source) " +
        "first, so the self-join fans out per gram by sources-sharing-it (≤ #sources), " +
        "never by document count",
      """WITH t AS (SELECT doc_id, source, string_split(lower(text), ' ') AS toks
        |           FROM documents),
        |g AS (SELECT DISTINCT source,
        |             unnest(list_transform(range(1, len(toks) - 6),
        |                     i -> array_to_string(toks[i:i+7], ' '))) AS gram
        |      FROM t WHERE len(toks) >= 8),
        |p AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared_grams
        |      FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT src_a, src_b, shared_grams FROM p
        |ORDER BY src_a, src_b""".stripMargin) { (s, dir) =>
      graft.functions.TextHash.register(s) // word_ngrams
      // ONE aggregate instead of a materialized self-join (r12): per gram,
      // collect the sorted distinct source set (bounded by #sources, not
      // documents — collect_set's partial agg collapses repeats map-side,
      // subsuming the old DISTINCT shuffle), then fan the (i<j) pairs out
      // ON THE EXECUTORS. Same counts as the src_a < src_b self-join, with
      // one shuffle total and nothing checkpointed — the sf1 board had the
      // join spelling at 5.7 s, this runs the key scan-bound.
      Q.fanout(documents(s, dir))
        .select(col("source"), split(lower(col("text")), " ").as("toks"))
        .filter(size(col("toks")) >= 8)
        .select(col("source"), explode(expr(
          "word_ngrams(toks, 8)" // native one-pass gram builder (r12)
        )).as("gram"))
        .groupBy("gram").agg(sort_array(collect_set(col("source"))).as("srcs"))
        .filter(size(col("srcs")) >= 2)
        .select(explode(expr(
          "flatten(transform(sequence(0, size(srcs) - 2), i ->" +
            " transform(sequence(i + 1, size(srcs) - 1), j ->" +
            " struct(srcs[i] AS src_a, srcs[j] AS src_b))))")).as("p"))
        .select(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("shared_grams"))
        .orderBy("src_a", "src_b")
    },

    GraftQuery(
      "q_bm25",
      "Extension: BM25 retrieval scoring (Lucene idf variant, k1=1.2 b=0.75) for a fixed " +
        "query term set over the corpus — tf/df/doclen are word-count aggregates, avgdl is " +
        "one driver-side scalar, the per-doc score is a sum over matched terms. The shape " +
        "search-index scoring jobs run at corpus scale: no per-query corpus re-scan beyond " +
        "the term filter, df broadcasts",
      """WITH tk AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        |            FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tk WHERE token <> '' GROUP BY doc_id),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tk
        |       WHERE token IN ('spark', 'vector', 'query') GROUP BY 1, 2),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |nd AS (SELECT count(*)::DOUBLE AS n FROM documents),
        |ad AS (SELECT avg(dl::DOUBLE) AS avgdl FROM dl)
        |SELECT tf.doc_id, count(*) AS n_terms,
        |       round(sum(ln((((SELECT n FROM nd) - df + 0.5) / (df + 0.5)) + 1)
        |                 * tf * 2.2
        |                 / (tf + 1.2 * (0.25 + 0.75 * dl / (SELECT avgdl FROM ad)))), 4)
        |         AS score
        |FROM tf JOIN df USING (token) JOIN dl USING (doc_id)
        |GROUP BY tf.doc_id ORDER BY tf.doc_id""".stripMargin) { (s, dir) =>
      val (k1, b) = (1.2, 0.75)
      // r13: the per-doc length needs NO explode+aggregate — it is
      // size(tokens) per row (a codegen projection), which also kills the
      // r12 checkpoint of the full exploded token table (tf is now the
      // explode's only consumer). The two scalars (N docs, total tokens →
      // avgdl) become ONE 1-row aggregate of that projection, attached via
      // a bounded 1-row broadcast (the q_bigram_logprob scalar rule,
      // VERDICT r12 #4; the scalar-attach BNLJ shape PlanAuditSpec allows) — zero driver jobs where r12 paid a checkpoint and
      // two count jobs. Values are bit-identical: sum(size(toks)) == the
      // old tk.count(), count(*) == documents.count(), and avgdl is the
      // same single double division.
      val d = Q.fanout(documents(s, dir))
        .select(col("doc_id"),
          array_remove(split(lower(col("text")), " "), "").as("toks"))
      val dl = d.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
      val scal = dl.agg(sum(col("dl")).as("__tok"), count(lit(1)).as("__nd"))
      val tf = d.select(col("doc_id"), explode(col("toks")).as("token"))
        .filter(col("token").isin("spark", "vector", "query"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val nD = col("__nd").cast("double")
      val avgdl = col("__tok").cast("double") / nD
      val idf = log(((nD - col("df") + 0.5) / (col("df") + 0.5)) + 1)
      val tfNorm = col("tf") * (k1 + 1) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / avgdl))
      tf.join(broadcast(df), Seq("token"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(scal))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms"), round(sum(idf * tfNorm), 4).as("score"))
        .orderBy("doc_id")
    },

    GraftQuery(
      "q_bpe_merge",
      "Extension: BPE merge-candidate ranking — corpus-wide adjacent-pair frequencies, " +
        "top-20 by count (the single merge step a tokenizer-training driver loop iterates; " +
        "Sennrich et al.'s argmax). Pair fan-out is a per-row array transform (no self-join), " +
        "then ONE word-count shuffle with map-side partial aggregation",
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |p AS (SELECT unnest(list_transform(range(1, len(toks)),
        |                     i -> toks[i] || ' ' || toks[i+1])) AS pair
        |      FROM t WHERE len(toks) >= 2),
        |c AS (SELECT pair, count(*) AS n FROM p GROUP BY pair),
        |r AS (SELECT pair, n, row_number() OVER (ORDER BY n DESC, pair) AS rnk FROM c)
        |SELECT rnk, pair, n FROM r WHERE rnk <= 20 ORDER BY rnk""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      graft.functions.TextHash.register(s)
      val pairs = Q.fanout(documents(s, dir))
        .select(split(lower(col("text")), " ").as("toks"))
        .filter(size(col("toks")) >= 2)
        // adjacent pairs ARE the 2-grams — native one-pass builder (r12)
        .select(explode(expr("word_ngrams(toks, 2)")).as("pair"))
      val counts = pairs.groupBy("pair").agg(count(lit(1)).as("n"))
      // global top-20 via limit → TakeOrderedAndProject (distributed
      // per-partition top-k, no full sort); the unpartitioned rank window
      // then only ever sees 20 rows
      val wr = Window.orderBy(col("n").desc, col("pair"))
      counts.orderBy(col("n").desc, col("pair")).limit(20)
        .withColumn("rnk", row_number().over(wr))
        .select(col("rnk").cast("bigint").as("rnk"), col("pair"), col("n"))
        .orderBy("rnk")
    },

    GraftQuery(
      "q_doc_entropy",
      "Extension (r9): per-document Shannon token entropy + type-token ratio — the classic " +
        "training-corpus diversity/quality signals (low entropy = boilerplate/repetition; " +
        "low TTR = template text). Two hash aggregates: (doc_id, token) counts, then a " +
        "doc_id-partitioned window for the totals and the entropy agg reuse the SAME doc_id " +
        "hash partitioning, so the token shuffle is the only wide exchange after the scan. " +
        "At 100 TB both shuffles carry one row per distinct (doc, token) — the map-side " +
        "combine has already collapsed repeats. round(4) absorbs cross-engine ln/sum ulps " +
        "(Q.scala parity rules).",
      """WITH t AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents),
        |     f AS (SELECT doc_id, token, count(*) AS c FROM t WHERE token <> '' GROUP BY 1, 2),
        |     g AS (SELECT doc_id, sum(c)::BIGINT AS n, count(*) AS kinds FROM f GROUP BY 1)
        |SELECT f.doc_id,
        |       round(-sum((c::DOUBLE / n) * ln(c::DOUBLE / n)), 4) AS entropy,
        |       round(kinds::DOUBLE / n, 4) AS ttr,
        |       g.kinds AS distinct_tokens, g.n AS total_tokens
        |FROM f JOIN g USING (doc_id) GROUP BY f.doc_id, g.kinds, g.n
        |ORDER BY f.doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val f = Q.fanout(documents(s, dir))
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
        .filter(col("token") =!= "")
        .groupBy("doc_id", "token")
        .agg(count(lit(1)).as("c"))
      val wDoc = Window.partitionBy("doc_id")
      val p = col("c").cast("double") / col("n")
      f.withColumn("n", sum(col("c")).over(wDoc))
        .withColumn("kinds", count(lit(1)).over(wDoc))
        .groupBy("doc_id")
        .agg(
          round(-sum(p * log(p)), 4).as("entropy"),
          round(max(col("kinds")).cast("double") / max(col("n")), 4).as("ttr"),
          max(col("kinds")).as("distinct_tokens"),
          max(col("n")).as("total_tokens"))
        .orderBy("doc_id")
    },

    GraftQuery(
      "q_pmi_bigrams",
      "Extension (r9): pointwise mutual information over adjacent-token bigrams (count >= 5) " +
        "— the collocation detector behind phrase mining / BPE-style vocabulary induction " +
        "(complements q_bpe_merge's raw pair counts with the association-strength score). " +
        "Bigrams via the native word_ngrams builder (one JVM pass, no self-join on " +
        "position; r13), unigram vocab joins back broadcast (vocab ≪ corpus at " +
        "any scale), corpus total N rides the plan as a bounded 1-row broadcast " +
        "(not a scalar-subquery crossJoin, which would plan the BNLJ PlanAuditSpec " +
        "bans). ln-ratio on exact integer products " +
        "(< 2^53, conversion exact) with round(4) absorbing cross-engine ln ulps.",
      """WITH d AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
        |           FROM documents),
        |z AS (SELECT unnest(list_zip(t, t[2:])) AS p FROM d),
        |b AS (SELECT p[1] AS w1, p[2] AS w2 FROM z WHERE p[2] IS NOT NULL),
        |bc AS (SELECT w1, w2, count(*) AS cb FROM b GROUP BY 1, 2 HAVING count(*) >= 5),
        |u AS (SELECT unnest(t) AS w FROM d),
        |uc AS (SELECT w, count(*) AS c FROM u GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM u)
        |SELECT bc.w1, bc.w2, bc.cb,
        |       round(ln((bc.cb * n.n)::DOUBLE / (u1.c * u2.c)), 4) + 0 AS pmi
        |FROM bc JOIN uc u1 ON bc.w1 = u1.w JOIN uc u2 ON bc.w2 = u2.w CROSS JOIN n
        |ORDER BY w1, w2""".stripMargin) { (s, dir) =>
      graft.functions.TextHash.register(s)
      // r13: the adjacent pairs are word_ngrams(t, 2) — the same native
      // one-pass builder as q_bpe_merge/q_bigram_logprob — replacing the
      // interpreted zip_with lambda over two slice copies (guide §4). The
      // count groups on the GRAM STRING (tokens never contain spaces, so
      // "w1 w2" ↔ (w1, w2) is bijective) and splits it back only on the
      // post-HAVING survivors (count ≥ 5 — a tiny frame). The corpus total
      // rides the plan as a bounded 1-row broadcast (VERDICT r12 #4)
      // instead of a driver count job.
      val toks = Q.materialize(
        Q.fanout(documents(s, dir))
          .select(array_remove(split(lower(col("text")), " "), "").as("t")))
      val unig = toks.select(explode(col("t")).as("w"))
      val uc = unig.groupBy("w").agg(count(lit(1)).as("c"))
      val nAgg = unig.agg(count(lit(1)).as("__n"))
      val bc = toks
        .select(explode(expr("word_ngrams(t, 2)")).as("b"))
        .groupBy("b").agg(count(lit(1)).as("cb"))
        .filter(col("cb") >= 5)
        .select(substring_index(col("b"), " ", 1).as("w1"),
          element_at(split(col("b"), " "), 2).as("w2"), col("cb"))
      bc.join(broadcast(uc.withColumnRenamed("w", "w1").withColumnRenamed("c", "c1")), Seq("w1"))
        .join(broadcast(uc.withColumnRenamed("w", "w2").withColumnRenamed("c", "c2")), Seq("w2"))
        .crossJoin(broadcast(nAgg))
        .select(col("w1"), col("w2"), col("cb"),
          (round(log((col("cb") * col("__n")).cast("double") / (col("c1") * col("c2"))), 4) + 0)
            .as("pmi")) // `+0` folds IEEE -0.0 (InfluxQLPlanner.scala:1878 convention)
        .orderBy("w1", "w2")
    },
  )
}

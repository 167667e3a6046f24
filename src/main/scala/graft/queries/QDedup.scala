package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.GraftQuery
import Q._

/** Near-duplicate detection over documents — MinHash+LSH, SimHash, and
  * n-gram Jaccard (training-data-pipeline extensions; VERDICT.md round-1
  * explicitly requires the banded/LSH shape, not all-pairs).
  *
  * Engine-portable hashing: token/shingle → polynomial char hash mod
  * 1000000007, then k universal hashes (a*h+b) mod 100003 — pure integer
  * arithmetic, so DuckDB computes bit-identical values and every stage is
  * oracle-checkable (no reliance on engine-private hash functions).
  *
  * Scale design: signatures are computed per-row by native expressions
  * (no join, no global vocab — embarrassingly parallel). Candidate
  * generation is the LSH band→bucket equi-join
  * (shuffle on (band, key), bucket sizes ~ duplicates only), never an
  * all-pairs cross join. n-gram Jaccard restricts its inverted index to
  * rare shingles (df ≤ 5) — the classic stop-shingle cutoff that bounds
  * per-shingle pair fan-out at 100 TB.
  */
object QDedup {

  // 8 universal hashes for MinHash (4 bands × 2 rows), 16 for SimHash bits.
  // The MinHash (a, b, p) constants live in TextHash so the native
  // MinHashText expression and the DuckDB oracle fragments here can never
  // drift.
  private val A  = graft.functions.TextHash.MinHashA.toSeq
  private val B  = graft.functions.TextHash.MinHashB.toSeq
  private val A2 = A ++ Seq(173L, 179L, 181L, 191L, 193L, 197L, 199L, 211L)
  private val B2 = B ++ Seq(37L, 41L, 43L, 47L, 53L, 59L, 61L, 67L)
  private val P  = graft.functions.TextHash.MinHashP
  private val CP = 1000000007L

  /** documents → (doc_id, hs: array<long> of DISTINCT 3-token-shingle
    * hashes) via the native ShingleHashes expression (one JVM pass per
    * row; the interpreted lambda form cost µs per character).
    *
    * The repartition between `toks` and the hash is load-bearing twice
    * over: it spreads the single-file scan across cores, AND it is an
    * exchange barrier that stops CollapseProject from inlining `toks`
    * into downstream lambdas (inlined, every `toks[i]` access re-splits
    * the whole document; observed 300s → 3s at sf0.1).
    */
  private[queries] def shingled(df: DataFrame): DataFrame = {
    graft.functions.TextHash.register(df.sparkSession)
    Q.fanout(
      df.withColumn("toks", split(lower(col("text")), " "))
        .filter(size(col("toks")) >= 3))
      .withColumn("hs", expr("shingle_hashes(toks)"))
  }

  /** (doc_id, mh0..mh7) MinHash signature — per-row, no shuffle: one
    * native `minhash_text(lower(text))` pass over each text's bytes (no
    * token array, no shingle set), run after the fanout so it spreads over
    * the cores. The kernel is null below 3 tokens, and `inline` of a null
    * array emits no row: that drops the doc exactly like the oracle's
    * `len(toks) >= 3`. A Filter would do the same, but Catalyst pushes it
    * below the fanout and so evaluates the kernel twice, once on one core.
    */
  private def signatures(df: DataFrame): DataFrame = {
    graft.functions.TextHash.register(df.sparkSession)
    val mhs = struct(A.indices.map(i => element_at(col("__sig"), i + 1).as(s"mh$i")): _*)
    Q.fanout(df.select("doc_id", "text"))
      .select(col("doc_id"), expr("minhash_text(lower(text))").as("__sig"))
      .select(col("doc_id"), inline(when(col("__sig").isNotNull, array(mhs))))
  }

  /** Stop-bucket cap (r11, sf10 audit): an LSH bucket with more members
    * than this is dropped from the banded frame ENTIRELY — it is
    * non-discriminative (its members are near-identical boilerplate the
    * EXACT dedup layer already collapses) and its pair fan-out is
    * quadratic in bucket size, which is exactly what bent
    * q_minhash_calibration 35× at 100× data (62.9k → 6.13M candidate
    * pairs; hot buckets grow linearly with the corpus, their pairs
    * quadratically). The cut is an integer count both engines replay
    * (duckBands carries the same QUALIFY), and at ≤ sf0.1 no bucket
    * comes near it (top bucket 9 at sf0.1, 91 at sf1), so oracle rows
    * are untouched where the driver verifies. The DuckDB oracle
    * fragments ([[duckBands]], q_dedup_stopbuckets) interpolate the same
    * constant, so both engines apply one cut.
    */
  val maxBucket: Long = 256L

  /** The banded MinHash signature table (doc_id, mh0..mh7, band_id, k) —
    * the LSH candidate-generation frame (4 bands × 2 rows). The full
    * signature rides along so candidate pairs and est_sim come out of a
    * SINGLE self-join on (band_id, k): no join back to sig. Self-joins of
    * this frame go through RENAMED `toDF` copies, never `.as(alias)`
    * (aliased self-joins of one plan de-duplicate attributes and degrade
    * the equi-keys to a cartesian product; observed 135s → <5s at sf0.1).
    *
    * Public because at 100 TB this is the table a deployment PERSISTS
    * bucketed by (band_id, k) via [[graft.sinks.BucketedStore]] — the
    * candidate self-join then runs bucket-to-bucket with NO shuffle
    * (pinned by BucketedJoinSpec "LSH band table").
    */
  /** The UNCUT banded frame — q_dedup_stopbuckets reports the bucket-size
    * histogram over this (including what the cut drops); every candidate
    * join goes through the capped [[bandedSignatures]] instead. */
  /** The band explode over a given signature frame — shared by the
    * per-run builders below and by q_dedup_incremental, whose batch and
    * snapshot sides band a CHECKPOINTED signature separately so each side
    * keeps the window's (band_id, k) hash partitioning into its join. */
  private[queries] def bandExplode(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until 4).map(j =>
      struct(lit(j).as("band_id"), (col(s"mh${2 * j}") * P + col(s"mh${2 * j + 1}")).as("k")))
    sig.select(col("doc_id") +: A.indices.map(i => col(s"mh$i")) :+
      explode(array(bandStructs: _*)).as("bk"): _*)
      .select(col("doc_id") +: A.indices.map(i => col(s"mh$i")) :+
        col("bk.band_id").as("band_id") :+ col("bk.k").as("k"): _*)
  }

  /** Stop-bucket cut (see [[maxBucket]]) over a banded frame; the window's
    * (band_id, k) hash partitioning is the SAME distribution every
    * downstream bucket aggregate / candidate join requires, so Catalyst
    * reuses the exchange — the cut is free. */
  private[queries] def stopBucketCut(banded: DataFrame): DataFrame = {
    val wb = org.apache.spark.sql.expressions.Window.partitionBy("band_id", "k")
    banded.withColumn("__bn", count(lit(1)).over(wb))
      .filter(col("__bn") <= maxBucket).drop("__bn")
  }

  private[queries] def bandedSignaturesRaw(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    // No checkpoint here (r12): since candidatePairs stopped self-joining
    // the banded frame, every caller consumes this lineage exactly once
    // (q_dedup_incremental checkpoints the signature at its own call site).
    bandExplode(signatures(documents(s, dir)))

  def bandedSignatures(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    stopBucketCut(bandedSignaturesRaw(s, dir))

  // ---- DuckDB-side fragments ----
  private val duckCharHash =
    s"list_reduce(list_prepend(0::BIGINT, list_transform(string_split(tok, ''), ch -> unicode(ch)::BIGINT)), (acc, b) -> (acc * 31 + b) % $CP)"

  // list_distinct AFTER hashing: matches ShingleHashes' dedup-by-hash
  // exactly even in the (unlikely) event of a hash collision.
  private[queries] val duckBase =
    s"""base AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(
       |           list_transform(range(len(toks) - 2),
       |             i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]),
       |           tok -> $duckCharHash)) AS hs
       |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)
       |  WHERE len(toks) >= 3)""".stripMargin

  private val duckSig = {
    val cols = A.indices.map(i =>
      s"list_min(list_transform(hs, hv -> (${A(i)} * hv + ${B(i)}) % $P)) AS mh$i").mkString(", ")
    s"sig AS (SELECT doc_id, $cols FROM base)"
  }

  /** DuckDB twin of the UNCUT banded-signature explode (braw CTE). */
  private val duckBandsRaw: String = {
    val bands = (0 until 4).map(j =>
      s"SELECT doc_id, $j AS band_id, mh${2 * j} * $P + mh${2 * j + 1} AS k FROM sig")
      .mkString(" UNION ALL ")
    s"braw AS ($bands)"
  }

  /** DuckDB twin of [[bandedSignatures]] (bands CTE over sig), including
    * the [[maxBucket]] stop-bucket QUALIFY. */
  private val duckBands: String =
    s"""$duckBandsRaw,
       |bands AS (SELECT * FROM braw
       |          QUALIFY count(*) OVER (PARTITION BY band_id, k) <= $maxBucket)""".stripMargin

  /** DuckDB MinHash-agreement estimate between sig aliases `a` and `b`. */
  private def duckEst(a: String, b: String): String =
    A.indices.map(i => s"CASE WHEN $a.mh$i = $b.mh$i THEN 1 ELSE 0 END").mkString(" + ")

  /** DuckDB twin of [[clusterGroups]] as a composable CTE chain — bands →
    * cand → scored → edges → reach → cc(doc_id, cluster). Callers open
    * `WITH RECURSIVE $duckBase, $duckSig, $duckCc` and select from cc.
    * ONE copy per engine side: the banding scheme lives in
    * [[candidatePairs]] on the Spark side and here on the oracle side.
    */
  private val duckCc: String =
    s"""$duckBands,
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |         FROM bands x JOIN bands y
       |           ON x.band_id = y.band_id AND x.k = y.k AND x.doc_id < y.doc_id),
       |scored AS (SELECT p.doc_a, p.doc_b
       |           FROM cand p JOIN sig a ON p.doc_a = a.doc_id
       |           JOIN sig b ON p.doc_b = b.doc_id WHERE (${duckEst("a", "b")}) >= 4),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM scored
       |          UNION ALL SELECT doc_b, doc_a FROM scored),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |cc AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster
       |       FROM reach GROUP BY src)""".stripMargin

  /** LSH candidate pairs: (doc_a, doc_b, m) with m = number of agreeing
    * minhashes (0..8, so est_sim = m/8 and the near-dup cut is the
    * INTEGER m >= 4 — no FP boundary between engines). The single place
    * the banding scheme lives on the Spark side; q_dedup_minhash,
    * q_minhash_calibration and clusterGroups all consume this frame.
    *
    * r12 re-spell (guide §2.4 — remove the shuffle outright): the r10
    * spelling SELF-JOINED two renamed copies of the banded frame, paying
    * the shingle→signature→explode→exchange→window pass TWICE plus the
    * join. Post-cut buckets are bounded (≤ [[maxBucket]] members by the
    * stop-bucket QUALIFY), so each bucket's member list fits one bounded
    * aggregation buffer: collect the members per (band_id, k) ON the
    * window's own hash partitioning (no new exchange) and fan out the
    * i<j pairs map-side with a double explode. One pass over the corpus,
    * one exchange on (band_id, k), no join. The pair SET is order-
    * independent (all i,j with doc_a < doc_b), and m is a pure function
    * of the two signatures, so results are bit-identical to the
    * self-join. Memory stays safe in the adversarial hot-bucket case
    * because the CUT runs before the collect (the uncut frame never
    * reaches an aggregation buffer).
    */
  private def candidatePairs(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val member = struct(col("doc_id") +: A.indices.map(i => col(s"mh$i")): _*)
    val buckets = bandedSignatures(s, dir)
      .groupBy("band_id", "k")
      .agg(collect_list(member).as("ms"))
    val est = A.indices.map(i =>
      when(col(s"a.mh$i") === col(s"b.mh$i"), 1).otherwise(0)).reduce(_ + _)
    buckets
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(max(est).as("m"))
  }

  /** Driver union-find cutoff for connected components: below this many
    * candidate pairs the exact in-memory pass wins; above it, distributed
    * min-label propagation. Injectable (system property) so the 100 TB
    * code path is exercisable under a spec — DistributedCcSpec pins both
    * branches to identical output at threshold 0.
    */
  def driverCcMaxPairs: Long =
    sys.props.get("graft.dedup.driverCcMaxPairs").map(_.toLong).getOrElse(1000000L)

  /** Shared by q_dedup_groups / q_dedup_keep: (doc_id, cluster) for every
    * doc in a near-dup component (cluster = component min doc_id).
    */
  private def clusterGroups(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    // Pairs: the shared LSH candidate self-join ([[candidatePairs]]),
    // thresholded at >= 4/8 matching minhashes (est. Jaccard >= 0.5) --
    // an INTEGER threshold, so both engines cut identically.
    val pairs = candidatePairs(s, dir)
        .filter(col("m") >= 4)
        .select("doc_a", "doc_b")
      // Connected components, scale-adaptive (like broadcast-join
      // selection): the candidate-pair set is the rare near-dup slice of
      // the corpus, so it is usually SMALL relative to input — when it
      // fits the driver comfortably, exact union-find in memory beats
      // iterative joins by the per-round scheduling cost. Past the
      // threshold, fall back to distributed min-label propagation
      // (converges in <= diameter rounds; near-dup components are shallow
      // dup clusters; for adversarial deep graphs the large-star/
      // small-star variant halves the diameter per round).
      val spark = s
      // the pair count rides the checkpoint job as an observed metric: no
      // separate count job over the checkpointed frame
      val seen = org.apache.spark.sql.Observation()
      val pairsC = Q.materialize(pairs.observe(seen, count(lit(1)).as("n")))
      val nPairs = seen.get("n").asInstanceOf[Long]
      if (nPairs <= driverCcMaxPairs) {
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        pairsC.collect().foreach { row =>
          val (a, b) = (row.getLong(0), row.getLong(1))
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) // min-root → canonical = component min
        }
        import spark.implicits._
        parent.keys.toSeq.map(n => (n, find(n))).toDF("doc_id", "cluster")
          .orderBy("doc_id")
      } else {
        val edges = pairsC.union(pairsC.select(col("doc_b"), col("doc_a")))
          .toDF("src", "dst").transform(Q.materialize)
        var labels = edges.select(col("src").as("node")).distinct()
          .withColumn("label", col("node")).transform(Q.materialize)
        var changed = 1L
        var iter = 0
        while (changed > 0 && iter < 20) {
          val nbr = edges
            .join(labels.toDF("dst", "dl"), "dst")
            .groupBy(col("src").as("node")).agg(min(col("dl")).as("nl"))
          val updated = labels.join(nbr, Seq("node"), "left")
            .select(col("node"), col("label"),
              least(col("label"), coalesce(col("nl"), col("label"))).as("nlabel"))
            .transform(Q.materialize)
          changed = updated.filter(col("nlabel") =!= col("label")).count()
          labels = updated.select(col("node"), col("nlabel").as("label"))
          iter += 1
        }
        labels.select(col("node").as("doc_id"), col("label").as("cluster"))
          .orderBy("doc_id")
      }
  }

  /** Quality gate ∧ exact dedup ∧ near-dup keep-list — the shared front
    * of q_pipeline_trainset and q_pipeline_curriculum: docs with ≥ 40
    * tokens, the lowest doc_id per identical text, minus `nearVictims`.
    * The gate runs BEFORE the exact-dedup window: identical texts have
    * identical token counts, so the gate keeps or drops whole text groups
    * and the keeper within the gated rows is the keeper over the whole
    * corpus. So the exact side is one window over the gated rows, with no
    * victim scan and no second anti-join, and the text shuffle carries
    * only gated rows.
    */
  private def gatedKeepers(docs: DataFrame, nearVictims: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs.filter(size(split(col("text"), " ")) >= 40)
      .withColumn("__rn", row_number().over(Window.partitionBy("text").orderBy("doc_id")))
      .filter(col("__rn") === 1).drop("__rn")
      .join(nearVictims, Seq("doc_id"), "left_anti")
  }

  val all: Seq[GraftQuery] = Seq(

    GraftQuery(
      "q_minhash_calibration",
      "Extension (r10): the dedup index's HONESTY GATE — per LSH candidate pair, the " +
        "8-hash estimated Jaccard against the EXACT shingle Jaccard, with the absolute " +
        "error (q_knn_recall's role for the minhash side: an index you never calibrate " +
        "is an index you can't trust). The exact side costs one shared-shingle count " +
        "over the CANDIDATE pairs only (LSH already bounded them) — never all-pairs.",
      {
        val est = A.indices.map(i => s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END").mkString(" + ")
        s"""WITH $duckBase, $duckSig, $duckBands,
           |
           |cpairs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           |           FROM bands x JOIN bands y
           |             ON x.band_id = y.band_id AND x.k = y.k AND x.doc_id < y.doc_id),
           |est AS (SELECT p.doc_a, p.doc_b, ($est) / 8.0 AS est_sim
           |        FROM cpairs p JOIN sig a ON p.doc_a = a.doc_id
           |        JOIN sig b ON p.doc_b = b.doc_id),
           |sh AS (SELECT doc_id, unnest(hs) AS shingle FROM base),
           |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
           |shared AS (SELECT e.doc_a, e.doc_b, count(*) AS shared
           |           FROM est e JOIN sh x ON x.doc_id = e.doc_a
           |           JOIN sh y ON y.doc_id = e.doc_b AND y.shingle = x.shingle
           |           GROUP BY 1, 2)
           |SELECT e.doc_a, e.doc_b, round(e.est_sim, 4) AS est_sim,
           |       round(coalesce(s.shared, 0)::DOUBLE
           |             / (sa.n + sb.n - coalesce(s.shared, 0)), 4) AS jaccard,
           |       round(abs(e.est_sim - coalesce(s.shared, 0)::DOUBLE
           |             / (sa.n + sb.n - coalesce(s.shared, 0))), 4) AS abs_err
           |FROM est e LEFT JOIN shared s ON s.doc_a = e.doc_a AND s.doc_b = e.doc_b
           |JOIN sizes sa ON sa.doc_id = e.doc_a
           |JOIN sizes sb ON sb.doc_id = e.doc_b
           |ORDER BY e.doc_a, e.doc_b""".stripMargin
      }) { (s, dir) =>
      val est = candidatePairs(s, dir)
        .select(col("doc_a"), col("doc_b"), (col("m") / lit(8.0)).as("est_raw"))
      // r13 (VERDICT r12 #3 — the last dedup-family sort-merge): `hs` is a
      // DISTINCT shingle-hash SET per doc, so the exact side needs no
      // exploded-shingle frame at all — |A∩B| = size(array_intersect) and
      // |A| = size(hs), computed per PAIR after two doc-keyed equi-joins of
      // the compact (doc_id, hs) frame. The r12 spelling exploded hs
      // (corpus shingle count rows), checkpointed it, shuffled it twice
      // for the (pair × shared-shingle) fan-out join, re-aggregated the
      // fan-out, and joined two size frames back: 5 joins + 2 aggregates
      // → 2 joins + 0 aggregates, and the checkpoint shrinks to the
      // per-doc array frame.
      val base = Q.materialize(
        shingled(documents(s, dir)).select(col("doc_id"), col("hs")))
      val hsA = base.select(col("doc_id").as("da"), col("hs").as("hsa"))
      val hsB = base.select(col("doc_id").as("db"), col("hs").as("hsb"))
      est
        .join(hsA, col("doc_a") === col("da"))
        .join(hsB, col("doc_b") === col("db"))
        .withColumn("__sh", size(array_intersect(col("hsa"), col("hsb"))).cast("long"))
        .withColumn("__jac", col("__sh").cast("double") /
          (size(col("hsa")).cast("long") + size(col("hsb")).cast("long") - col("__sh")))
        .select(col("doc_a"), col("doc_b"),
          round(col("est_raw"), 4).as("est_sim"),
          round(col("__jac"), 4).as("jaccard"),
          round(abs(col("est_raw") - col("__jac")), 4).as("abs_err"))
        .orderBy("doc_a", "doc_b")
    },

    GraftQuery(
      "q_dedup_normalized",
      "Extension (r10): normalized exact dedup — the C4/CCNet preprocessing step that " +
        "catches trivially-disguised copies plain content-hash dedup misses: casefold, " +
        "strip non-alphanumerics, collapse whitespace, THEN hash. One shuffle on the " +
        "normalized hash; keeper = min doc_id per group (greedy keep-first, the " +
        "q_dedup_keep rule); both the keep flag and the copy count ride the same window " +
        "partitioning, so the whole key is one exchange.",
      """WITH n AS (SELECT doc_id,
        |                  md5(trim(regexp_replace(regexp_replace(lower(text),
        |                        '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g'))) AS norm_hash
        |           FROM documents),
        |g AS (SELECT norm_hash, min(doc_id) AS keeper, count(*) AS n_copies
        |      FROM n GROUP BY norm_hash)
        |SELECT n.doc_id, n.norm_hash, g.n_copies,
        |       n.doc_id = g.keeper AS keep
        |FROM n JOIN g USING (norm_hash) ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val wH = Window.partitionBy("norm_hash")
      Q.fanout(documents(s, dir))
        .select(col("doc_id"),
          md5(trim(regexp_replace(regexp_replace(lower(col("text")),
            "[^a-z0-9 ]", ""), "\\s+", " "))).as("norm_hash"))
        .withColumn("n_copies", count(lit(1)).over(wH))
        .withColumn("keep", col("doc_id") === min(col("doc_id")).over(wH))
        .select("doc_id", "norm_hash", "n_copies", "keep")
        .orderBy("doc_id")
    },

    GraftQuery(
      "q_minhash_sig",
      "Extension: MinHash signatures (k=8) over 3-token shingles — per-row, shuffle-free",
      s"""WITH $duckBase, $duckSig
         |SELECT * FROM sig ORDER BY doc_id""".stripMargin) { (s, dir) =>
      signatures(documents(s, dir)).orderBy("doc_id")
    },

    GraftQuery(
      "q_dedup_minhash",
      "Extension: MinHash-LSH candidate pairs (4 bands × 2 rows) + estimated Jaccard",
      {
        val est = A.indices.map(i => s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END").mkString(" + ")
        s"""WITH $duckBase, $duckSig, $duckBands,
           |
           |pairs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           |          FROM bands x JOIN bands y
           |            ON x.band_id = y.band_id AND x.k = y.k AND x.doc_id < y.doc_id)
           |SELECT p.doc_a, p.doc_b, round(($est) / 8.0, 4) AS est_sim
           |FROM pairs p JOIN sig a ON p.doc_a = a.doc_id JOIN sig b ON p.doc_b = b.doc_id
           |ORDER BY doc_a, doc_b""".stripMargin
      }) { (s, dir) =>
      candidatePairs(s, dir)
        .select(col("doc_a"), col("doc_b"), round(col("m") / lit(8.0), 4).as("est_sim"))
        .orderBy("doc_a", "doc_b")
    },

    GraftQuery(
      "q_dedup_threshold_sweep",
      "Extension (r10): dedup AGGRESSIVENESS sweep — for every candidate minhash-" +
        "agreement cut m_min (0..8, est. Jaccard m/8): surviving candidate pairs, " +
        "docs implicated, and the corpus fraction at stake. The probe-sweep twin " +
        "for the NEAR-DUP threshold: q_minhash_calibration says how honest the " +
        "estimator is, this says what each cut would actually do — the two curves " +
        "a dedup rollout reads before moving the m >= 4 default. Each pair " +
        "explodes to its satisfied thresholds (pairs are the rare LSH-bounded " +
        "slice, so the 9× fan-out is tiny); corpus total is a driver scalar.",
      {
        val est = A.indices.map(i => s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END").mkString(" + ")
        s"""WITH $duckBase, $duckSig, $duckBands,
           |
           |pairs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           |          FROM bands x JOIN bands y
           |            ON x.band_id = y.band_id AND x.k = y.k AND x.doc_id < y.doc_id),
           |pm AS (SELECT p.doc_a, p.doc_b, ($est) AS m
           |       FROM pairs p JOIN sig a ON p.doc_a = a.doc_id
           |       JOIN sig b ON p.doc_b = b.doc_id),
           |ex AS (SELECT doc_a, doc_b, unnest(range(0, m + 1)) AS m_min FROM pm),
           |np AS (SELECT m_min, count(*) AS n_pairs FROM ex GROUP BY m_min),
           |xd AS (SELECT m_min, doc_a AS d FROM ex
           |       UNION ALL SELECT m_min, doc_b FROM ex),
           |nd AS (SELECT m_min, count(DISTINCT d) AS n_docs FROM xd GROUP BY m_min)
           |SELECT CAST(np.m_min AS INT) AS m_min,
           |       round(np.m_min / 8.0, 4) AS est_sim,
           |       np.n_pairs, nd.n_docs,
           |       round(nd.n_docs::DOUBLE / (SELECT count(*) FROM documents), 4)
           |         AS pct_docs
           |FROM np JOIN nd USING (m_min) ORDER BY m_min""".stripMargin
      }) { (s, dir) =>
      val total = documents(s, dir).count().toDouble
      val ex = Q.materialize(candidatePairs(s, dir)
        .select(col("doc_a"), col("doc_b"),
          explode(expr("sequence(0, m)")).as("m_min")))
      val np = ex.groupBy("m_min").agg(count(lit(1)).as("n_pairs"))
      val nd = ex
        .select(col("m_min"), explode(array(col("doc_a"), col("doc_b"))).as("d"))
        .groupBy("m_min").agg(countDistinct(col("d")).as("n_docs"))
      np.join(nd, Seq("m_min"))
        .select(col("m_min").cast("int").as("m_min"),
          round(col("m_min") / 8.0, 4).as("est_sim"),
          col("n_pairs"), col("n_docs"),
          round(col("n_docs").cast("double") / total, 4).as("pct_docs"))
        .orderBy("m_min")
    },

    GraftQuery(
      "q_dedup_stopbuckets",
      "Extension (r11): LSH bucket-size HISTOGRAM per band over the UNCUT banded " +
        "frame — the observability twin of the stop-bucket cut the sf10 audit " +
        "forced (hot buckets grow linearly with the corpus, their candidate pairs " +
        "quadratically): per (band, bucket size) the bucket count, the pair " +
        "fan-out those buckets would generate, and whether the cut drops them. " +
        "The report a dedup rollout reads to site the stop-bucket cap — and the " +
        "first place a corpus full of boilerplate shows up. Integer-only.",
      s"""WITH $duckBase, $duckSig, $duckBandsRaw,
         |bs AS (SELECT band_id, k, count(*) AS sz FROM braw GROUP BY band_id, k)
         |SELECT CAST(band_id AS INT) AS band_id, sz AS bucket_size,
         |       count(*) AS n_buckets,
         |       (count(*) * (sz * (sz - 1) / 2))::BIGINT AS pair_fanout,
         |       CAST(CASE WHEN sz > $maxBucket THEN 1 ELSE 0 END AS INT) AS dropped
         |FROM bs GROUP BY band_id, sz ORDER BY band_id, sz""".stripMargin
    ) { (s, dir) =>
      bandedSignaturesRaw(s, dir)
        .groupBy("band_id", "k").agg(count(lit(1)).as("sz"))
        .groupBy("band_id", "sz")
        .agg(count(lit(1)).as("n_buckets"))
        .select(col("band_id").cast("int").as("band_id"),
          col("sz").as("bucket_size"), col("n_buckets"),
          (col("n_buckets") * (col("sz") * (col("sz") - 1) / lit(2)))
            .cast("bigint").as("pair_fanout"),
          when(col("sz") > maxBucket, 1).otherwise(0).cast("int").as("dropped"))
        .orderBy("band_id", "bucket_size")
    },

    GraftQuery(
      "q_dedup_groups",
      "Extension: near-dup CLUSTERS — connected components over LSH candidate pairs (min-label propagation), canonical doc per cluster",
      s"""WITH RECURSIVE $duckBase, $duckSig, $duckCc
         |SELECT doc_id, cluster FROM cc ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      clusterGroups(s, dir).orderBy("doc_id")
    },

    GraftQuery(
      "q_dedup_keep",
      "Extension: the dedup KEEP LIST — corpus minus non-canonical near-dup cluster members (the actual training-set filter)",
      s"""WITH RECURSIVE $duckBase, $duckSig, $duckCc
         |SELECT d.doc_id, d.lang, d.source FROM documents d
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM cc WHERE doc_id <> cluster)
         |ORDER BY d.doc_id""".stripMargin
    ) { (s, dir) =>
      // Victims = cluster members that are not their cluster's canonical
      // doc; the corpus anti-joins them away. This is the query a training
      // pipeline actually ships — groups are diagnostics, THIS is the
      // filtered dataset.
      val victims = clusterGroups(s, dir).filter(col("doc_id") =!= col("cluster"))
      documents(s, dir)
        .join(victims.select("doc_id"), Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },

    GraftQuery(
      "q_dedup_keep_best",
      "Extension (r10): QUALITY-AWARE canonical selection — within each near-dup cluster " +
        "keep the LONGEST member (C4's rule; ties to the lowest doc_id) instead of " +
        "q_dedup_keep's greedy keep-first. Same cluster labels, one extra window over " +
        "the (tiny) clustered slice joined back broadcast-style; singleton docs are their " +
        "own cluster and always keep.",
      s"""WITH RECURSIVE $duckBase, $duckSig, $duckCc,
         |m AS (SELECT d.doc_id, coalesce(cc.cluster, d.doc_id) AS cluster, d.n_chars
         |      FROM documents d LEFT JOIN cc USING (doc_id)),
         |best AS (SELECT cluster, doc_id AS keep_id FROM m
         |         QUALIFY row_number() OVER (PARTITION BY cluster
         |                                    ORDER BY n_chars DESC, doc_id) = 1)
         |SELECT m.doc_id, m.cluster, m.n_chars, m.doc_id = b.keep_id AS keep
         |FROM m JOIN best b USING (cluster) ORDER BY m.doc_id""".stripMargin
    ) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val labels = clusterGroups(s, dir)
        .select(col("doc_id").as("l_doc"), col("cluster").as("l_cluster"))
      val m = documents(s, dir)
        .join(labels, col("doc_id") === col("l_doc"), "left")
        .select(col("doc_id"), coalesce(col("l_cluster"), col("doc_id")).as("cluster"),
          col("n_chars"))
      val wBest = Window.partitionBy("cluster")
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      m.withColumn("keep", row_number().over(wBest) === 1)
        .select("doc_id", "cluster", "n_chars", "keep")
        .orderBy("doc_id")
    },

    GraftQuery(
      "q_dedup_sizes",
      "Extension: the duplication REPORT — near-dup cluster size distribution (how many " +
        "clusters of 2, of 3, …, and how many docs they hold), the number every dedup run " +
        "logs before anyone trusts the keep list. Two k-row aggregates over the shared " +
        "cluster assignment",
      s"""WITH RECURSIVE $duckBase, $duckSig, $duckCc,
         |sz AS (SELECT cluster, count(*) AS cluster_size FROM cc GROUP BY cluster)
         |SELECT cluster_size, count(*) AS n_clusters,
         |       CAST(cluster_size * count(*) AS BIGINT) AS n_docs
         |FROM sz GROUP BY cluster_size ORDER BY cluster_size""".stripMargin
    ) { (s, dir) =>
      clusterGroups(s, dir)
        .groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"))
        .orderBy("cluster_size")
    },

    GraftQuery(
      "q_dedup_cross_source",
      "Extension (r10): cross-source DUPLICATION MATRIX — for every source pair, " +
        "how many near-dup clusters span them and how many duplicate pairs they " +
        "share (who mirrors whom): the provenance report that decides which feed " +
        "gets deduped against which before mixing. Pair counts come from per-" +
        "(cluster, source) member counts (n_a·n_b cross, n·(n−1)/2 within), so " +
        "the work after clustering is two k-row aggregates + one tiny self-join — " +
        "never doc-level pair enumeration.",
      s"""WITH RECURSIVE $duckBase, $duckSig, $duckCc,
         |m AS (SELECT cc.doc_id, cc.cluster, d.source
         |      FROM cc JOIN documents d USING (doc_id)),
         |cs AS (SELECT cluster, source, count(*) AS n FROM m GROUP BY 1, 2),
         |px AS (SELECT a.cluster, a.source AS source_a, b.source AS source_b,
         |              CASE WHEN a.source = b.source THEN a.n * (a.n - 1) // 2
         |                   ELSE a.n * b.n END AS np
         |       FROM cs a JOIN cs b
         |         ON a.cluster = b.cluster AND a.source <= b.source)
         |SELECT source_a, source_b, count(*) AS n_clusters,
         |       sum(np)::BIGINT AS n_pairs
         |FROM px WHERE np > 0 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      val m = clusterGroups(s, dir)
        .join(documents(s, dir).select("doc_id", "source"), Seq("doc_id"))
      val cs = Q.materialize(
        m.groupBy("cluster", "source").agg(count(lit(1)).as("n")))
      val a = cs.toDF("cluster", "source_a", "na")
      val b = cs.toDF("cluster", "source_b", "nb")
      a.join(b, Seq("cluster"))
        .filter(col("source_a") <= col("source_b"))
        .select(col("cluster"), col("source_a"), col("source_b"),
          when(col("source_a") === col("source_b"),
            expr("na * (na - 1) DIV 2")).otherwise(col("na") * col("nb"))
            .cast("bigint").as("np"))
        .filter(col("np") > 0)
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_clusters"), sum(col("np")).as("n_pairs"))
        .orderBy("source_a", "source_b")
    },

    GraftQuery(
      "q_soft_dedup",
      "Extension (r10): SOFT dedup — instead of DROPPING near-duplicates, each doc " +
        "gets sampling weight 1/cluster_size (a full cluster sums to one effective " +
        "doc), and the per-source report shows documents/tokens before vs after " +
        "down-weighting — the SoftDeDup alternative a mixture review weighs against " +
        "the hard keep-list when duplicates carry signal (boilerplate vs canon). " +
        "Weights are FIXED-POINT integers (10000 DIV cluster_size) summed exactly, " +
        "so no cross-engine float summation exists anywhere; the single float op " +
        "per row group is one exact division at the end.",
      s"""WITH RECURSIVE $duckBase, $duckSig, $duckCc,
         |sz AS (SELECT cluster, count(*) AS csz FROM cc GROUP BY cluster),
         |m AS (SELECT d.doc_id, d.source,
         |             len(string_split(d.text, ' ')) AS tok,
         |             coalesce(sz.csz, 1) AS csz
         |      FROM documents d
         |      LEFT JOIN cc ON cc.doc_id = d.doc_id
         |      LEFT JOIN sz ON sz.cluster = cc.cluster)
         |SELECT source, count(*) AS n_docs,
         |       sum(CASE WHEN csz > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_docs,
         |       sum(10000 // csz)::BIGINT / 10000.0 AS effective_docs,
         |       sum(tok)::BIGINT AS n_tokens,
         |       sum(tok * 10000 // csz)::BIGINT / 10000.0 AS effective_tokens,
         |       round((sum(tok * 10000 // csz)::BIGINT / 10000.0)
         |             / sum(tok), 4) AS discount
         |FROM m GROUP BY source ORDER BY source""".stripMargin
    ) { (s, dir) =>
      val labels = Q.materialize(clusterGroups(s, dir))
      val sz = labels.groupBy("cluster").agg(count(lit(1)).as("csz"))
      val m = documents(s, dir)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("bigint").as("tok"))
        .join(labels, Seq("doc_id"), "left")
        .join(sz, Seq("cluster"), "left")
        .select(col("source"), col("tok"),
          coalesce(col("csz"), lit(1L)).as("csz"))
      m.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("csz") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
          sum(expr("10000 DIV csz")).as("__ed"),
          sum(col("tok")).as("n_tokens"),
          sum(expr("tok * 10000 DIV csz")).as("__et"))
        .select(col("source"), col("n_docs"), col("n_dup_docs"),
          (col("__ed") / lit(10000.0)).as("effective_docs"),
          col("n_tokens"),
          (col("__et") / lit(10000.0)).as("effective_tokens"),
          round((col("__et") / lit(10000.0)) / col("n_tokens"), 4).as("discount"))
        .orderBy("source")
    },

    GraftQuery(
      "q_pipeline_trainset",
      "Extension: the SHIPPED training-set pipeline — quality gate ∧ exact-dedup ∧ near-dup keep-list → stratified sample, one composed query",
      s"""WITH RECURSIVE $duckBase, $duckSig, $duckCc,
         |near_v AS (SELECT doc_id FROM cc WHERE doc_id <> cluster),
           |exact_v AS (SELECT doc_id FROM (
           |  SELECT doc_id, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
           |  FROM documents) WHERE rn > 1),
           |kept AS (SELECT d.doc_id, d.source FROM documents d
           |         WHERE len(string_split(d.text, ' ')) >= 40
           |           AND d.doc_id NOT IN (SELECT doc_id FROM exact_v)
           |           AND d.doc_id NOT IN (SELECT doc_id FROM near_v))
           |SELECT doc_id, source, rk FROM (
           |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
           |    ORDER BY (doc_id * 1103515245 + 12345) % 2147483647, doc_id) AS rk
           |  FROM kept) WHERE rk <= 10 ORDER BY source, rk""".stripMargin
    ) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // The pipeline a training run actually ships, composed from the
      // proven stages: quality gate (>= 40 tokens), exact dedup
      // (lowest-doc_id keeper per identical text), near-dup keep-list
      // (LSH clusters over the FULL corpus, canonical kept), then the
      // stratified per-source quota. Each stage is a bounded candidate
      // computation, never all-pairs, and the final sample cut is map-side
      // (WindowGroupLimit). Two scans of documents: the signatures and
      // the gated keepers.
      val nearVictims = clusterGroups(s, dir)
        .filter(col("doc_id") =!= col("cluster")).select("doc_id")
      val kept = gatedKeepers(documents(s, dir), nearVictims)
      val rk = Window.partitionBy("source")
        .orderBy((col("doc_id") * 1103515245L + 12345L) % 2147483647L, col("doc_id"))
      kept.withColumn("rk", row_number().over(rk))
        .filter(col("rk") <= 10)
        .select("doc_id", "source", "rk")
        .orderBy("source", "rk")
    },

    GraftQuery(
      "q_pipeline_curriculum",
      "Extension (r10): the END-TO-END training-ORDER pipeline — quality gate ∧ " +
        "exact-dedup ∧ near-dup keep-list → leakage-safe TRAIN split (cluster-keyed, " +
        "so no near-dup of a held-out doc can train) → curriculum order over the " +
        "survivors (easy-first, source-interleaved). One composed plan from four " +
        "proven stages sharing one scan + one cluster assignment; the ordering pass " +
        "is the same SinglePartition-free rank + literal-projection shape as " +
        "q_curriculum_order.",
      s"""WITH RECURSIVE $duckBase, $duckSig, $duckCc,
         |near_v AS (SELECT doc_id FROM cc WHERE doc_id <> cluster),
         |exact_v AS (SELECT doc_id FROM (
         |  SELECT doc_id, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
         |  FROM documents) WHERE rn > 1),
         |kept AS (SELECT d.doc_id, d.source, d.n_chars FROM documents d
         |         WHERE len(string_split(d.text, ' ')) >= 40
         |           AND d.doc_id NOT IN (SELECT doc_id FROM exact_v)
         |           AND d.doc_id NOT IN (SELECT doc_id FROM near_v)),
         |m AS (SELECT k.doc_id, k.source, k.n_chars,
         |             coalesce(cc.cluster, k.doc_id) AS cluster
         |      FROM kept k LEFT JOIN cc USING (doc_id)),
         |train AS (SELECT doc_id, source, n_chars FROM m
         |          WHERE ((cluster % 2147483648) * 1103515245 + 12345)
         |                % 2147483648 % 10 <= 7),
         |staged AS (SELECT doc_id, source, n_chars,
         |                  row_number() OVER (PARTITION BY source
         |                                     ORDER BY n_chars, doc_id) AS stage
         |           FROM train),
         |sz AS (SELECT source, count(*) AS n FROM train GROUP BY source)
         |SELECT CAST((SELECT sum(least(z.n, t.stage - 1)) FROM sz z)
         |          + (SELECT count(*) FROM sz z
         |             WHERE z.n >= t.stage AND z.source < t.source) + 1 AS BIGINT)
         |         AS global_pos,
         |       t.doc_id, t.source, t.stage, t.n_chars
         |FROM staged t ORDER BY global_pos""".stripMargin
    ) { (s, dir) =>
      val labels = Q.materialize(clusterGroups(s, dir)) // victims AND split keys
      val nearVictims = labels
        .filter(col("doc_id") =!= col("cluster")).select("doc_id")
      val kept = gatedKeepers(documents(s, dir), nearVictims)
        .select("doc_id", "source", "n_chars")
      // cluster-keyed split hash (the q_split_leakage_safe LCG): every
      // member of a near-dup cluster lands in the same split, so the
      // train cut can never leak a paraphrase of held-out data
      val m = kept
        .join(labels.select(col("doc_id").as("l_doc"), col("cluster").as("l_cluster")),
          col("doc_id") === col("l_doc"), "left")
        .select(col("doc_id"), col("source"), col("n_chars"),
          coalesce(col("l_cluster"), col("doc_id")).as("cluster"))
      val b = ((col("cluster") % 2147483648L) * 1103515245L + 12345L) % 2147483648L % 10
      val train = m.filter(b <= 7).select("doc_id", "source", "n_chars")
      QText.curriculum(train)
    },

    GraftQuery(
      "q_split_leakage_safe",
      "Extension (r10): LEAKAGE-SAFE train/val/test split — the split UNIT is the " +
        "near-dup cluster, not the document, so near-duplicates can never straddle " +
        "train and test (the leakage a per-document random split ships: the model is " +
        "evaluated on paraphrases of its training data). Deterministic integer hash of " +
        "the cluster id → 80/10/10; singletons are their own cluster. Same CC labels as " +
        "q_dedup_groups — at 100 TB the cluster assignment is computed once and every " +
        "split/decontamination consumer broadcast-joins it.",
      s"""WITH RECURSIVE $duckBase, $duckSig, $duckCc,
         |m AS (SELECT d.doc_id, coalesce(cc.cluster, d.doc_id) AS cluster
         |      FROM documents d LEFT JOIN cc USING (doc_id)),
         |h AS (SELECT doc_id, cluster,
         |             ((cluster % 2147483648) * 1103515245 + 12345) % 2147483648 % 10 AS b
         |      FROM m)
         |SELECT doc_id, cluster,
         |       CASE WHEN b <= 7 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
         |FROM h ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      // The hash is LCG-style pure integer arithmetic: (cluster mod 2^31)
      // * 1103515245 stays ≤ 2.4e18 (no Long wrap at any doc_id), and both
      // engines compute it bit-identically. Every member of a cluster
      // shares `cluster`, hence shares `split` BY CONSTRUCTION — the
      // leakage guarantee is structural, not statistical
      // (SplitLeakageSpec pins it plus the 80/10/10 ratios).
      val labels = clusterGroups(s, dir)
        .select(col("doc_id").as("l_doc"), col("cluster").as("l_cluster"))
      val m = documents(s, dir)
        .join(labels, col("doc_id") === col("l_doc"), "left")
        .select(col("doc_id"), coalesce(col("l_cluster"), col("doc_id")).as("cluster"))
      val b = ((col("cluster") % 2147483648L) * 1103515245L + 12345L) % 2147483648L % 10
      m.withColumn("split",
          when(b <= 7, "train").when(b === 8, "val").otherwise("test"))
        .orderBy("doc_id")
    },

    GraftQuery(
      "q_dedup_incremental",
      "Extension (r10): INCREMENTAL dedup — an arriving batch (odd doc_ids) checked " +
        "against the already-ingested snapshot (even doc_ids) WITHOUT re-clustering " +
        "the corpus: exact layer = content-hash equi-join against the snapshot, near " +
        "layer = the batch's banded MinHash signatures probing the snapshot's band " +
        "index (the table bandedSignatures persists bucketed by (band_id, k) at " +
        "100 TB — cost ∝ |batch|, never ∝ |corpus|, and no batch×batch or " +
        "snapshot×snapshot pairs are ever formed). Verdict per batch doc: " +
        "drop_exact beats drop_near beats keep; match_id = lowest matching " +
        "snapshot doc (−1 for keepers).",
      s"""WITH $duckBase, $duckSig, $duckBands,
         |bb AS (SELECT * FROM bands WHERE doc_id % 2 = 1),
         |sb AS (SELECT * FROM bands WHERE doc_id % 2 = 0),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_id, y.doc_id AS s_doc
         |         FROM bb x JOIN sb y ON x.band_id = y.band_id AND x.k = y.k),
         |near AS (SELECT c.doc_id, min(c.s_doc) AS near_id
         |         FROM cand c JOIN sig a ON c.doc_id = a.doc_id
         |         JOIN sig b ON c.s_doc = b.doc_id
         |         WHERE (${duckEst("a", "b")}) >= 4 GROUP BY c.doc_id),
         |hx AS (SELECT doc_id, md5(text) AS h FROM documents),
         |exact AS (SELECT n.doc_id, min(o.doc_id) AS exact_id
         |          FROM hx n JOIN hx o ON n.h = o.h AND o.doc_id % 2 = 0
         |          WHERE n.doc_id % 2 = 1 GROUP BY n.doc_id)
         |SELECT d.doc_id,
         |       CASE WHEN e.exact_id IS NOT NULL THEN 'drop_exact'
         |            WHEN nr.near_id IS NOT NULL THEN 'drop_near'
         |            ELSE 'keep' END AS verdict,
         |       coalesce(e.exact_id, nr.near_id, -1) AS match_id
         |FROM documents d
         |LEFT JOIN exact e USING (doc_id) LEFT JOIN near nr USING (doc_id)
         |WHERE d.doc_id % 2 = 1 ORDER BY d.doc_id""".stripMargin
    ) { (s, dir) =>
      // Exact layer: batch text hashes probe the snapshot's hashes.
      val hx = documents(s, dir).select(col("doc_id"), md5(col("text")).as("h"))
      val snapH = hx.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("s_doc"), col("h"))
      val exact = hx.filter(col("doc_id") % 2 === 1)
        .join(snapH, "h")
        .groupBy("doc_id").agg(min(col("s_doc")).as("exact_id"))
      // Near layer: batch bands probe snapshot bands. RENAMED toDF copy of
      // the snapshot side (the aliased-self-join trap, see bandedSignatures
      // doc) — and since both sides carry the full signature, est_sim needs
      // no join back to sig.
      // the ONE remaining two-sided consumer of the banded frame: both the
      // batch and snapshot sides band the SAME checkpointed signature, and
      // each side's window cut leaves it hash-partitioned on (band_id, k)
      // — the join below then needs NO further exchange (checkpointing the
      // banded frame instead measured +0.5 s: the ExistingRDD loses the
      // partitioning metadata and the join re-shuffles both sides)
      val sigAll = stopBucketCut(bandExplode(
        Q.materialize(signatures(documents(s, dir)))))
      val batchSig = sigAll.filter(col("doc_id") % 2 === 1)
      val snapSig = sigAll.filter(col("doc_id") % 2 === 0)
        .toDF(("s_doc" +: A.indices.map(i => s"smh$i")) ++ Seq("s_band", "s_k"): _*)
      val est = A.indices
        .map(i => when(col(s"mh$i") === col(s"smh$i"), 1).otherwise(0))
        .reduce(_ + _)
      val near = batchSig
        .join(snapSig, col("band_id") === col("s_band") && col("k") === col("s_k"))
        .filter(est >= 4)
        .groupBy("doc_id").agg(min(col("s_doc")).as("near_id"))
      documents(s, dir).filter(col("doc_id") % 2 === 1).select("doc_id")
        .join(exact, Seq("doc_id"), "left")
        .join(near, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("exact_id").isNotNull, "drop_exact")
            .when(col("near_id").isNotNull, "drop_near")
            .otherwise("keep").as("verdict"),
          coalesce(col("exact_id"), col("near_id"), lit(-1L)).as("match_id"))
        .orderBy("doc_id")
    },

    GraftQuery(
      "q_dedup_simhash",
      "Extension: 16-bit SimHash fingerprint per document + bucket size (exact-match candidates)",
      {
        val sCols = A2.indices.map(i =>
          s"list_sum(list_transform(hs, hv -> CASE WHEN ((${A2(i)} * hv + ${B2(i)}) % $P) % 2 = 1 THEN 1 ELSE -1 END)) AS s$i")
          .mkString(", ")
        val fp = A2.indices.map(i => s"(CASE WHEN s$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
        s"""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
           |hashed AS (SELECT doc_id,
           |             list_transform(t, tok -> $duckCharHash) AS hs FROM toks),
           |sums AS (SELECT doc_id, $sCols FROM hashed),
           |fps AS (SELECT doc_id, CAST($fp AS BIGINT) AS fp FROM sums)
           |SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS n_bucket
           |FROM fps ORDER BY doc_id""".stripMargin
      }) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // Token-level hashes keep duplicate tokens → natural term weighting.
      graft.functions.TextHash.register(s)
      val hashed = Q.fanout(documents(s, dir))
        .withColumn("toks", split(lower(col("text")), " "))
        .withColumn("hs", expr("token_hashes(toks)"))
      val withSums = A2.indices.foldLeft(hashed) { (d, i) =>
        d.withColumn(s"s$i", expr(
          s"aggregate(hs, 0L, (acc, hv) -> acc + (CASE WHEN ((${A2(i)} * hv + ${B2(i)}) % $P) % 2 = 1 THEN 1 ELSE -1 END))"))
      }
      val fp = A2.indices.map(i =>
        when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
      withSums.withColumn("fp", fp.cast("long"))
        .withColumn("n_bucket", count(lit(1)).over(Window.partitionBy("fp")))
        .select("doc_id", "fp", "n_bucket")
        .orderBy("doc_id")
    },

    GraftQuery(
      "q_ngram_jaccard",
      "Extension: n-gram Jaccard near-dup — rare-shingle inverted index (df ≤ 5), never all-pairs",
      s"""WITH $duckBase,
        |sh AS (SELECT doc_id, unnest(hs) AS shingle FROM base),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |rare AS (SELECT shingle FROM (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle)
        |         WHERE df BETWEEN 2 AND 5),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM sh a JOIN rare r ON a.shingle = r.shingle
        |         JOIN sh b ON b.shingle = a.shingle AND a.doc_id < b.doc_id),
        |shared AS (SELECT c.doc_a, c.doc_b, count(*) AS shared
        |           FROM cand c JOIN sh x ON x.doc_id = c.doc_a
        |           JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
        |           GROUP BY 1, 2)
        |SELECT s.doc_a, s.doc_b, s.shared,
        |       round(s.shared::DOUBLE / (sa.n + sb.n - s.shared), 4) AS jaccard
        |FROM shared s JOIN sizes sa ON sa.doc_id = s.doc_a
        |JOIN sizes sb ON sb.doc_id = s.doc_b
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      // r13: materialize the COMPACT per-doc shingle-set frame (the
      // q_ngram_novelty shape) instead of the exploded one — the exact
      // shared counts then come from size(array_intersect) on two doc-keyed
      // joins of the array frame (hs is a distinct set per doc), and sizes
      // are size(hs). Drops the (pair × shared-shingle) fan-out join, its
      // re-aggregation and both size joins (5 joins + 3 aggregates → the
      // inverted-index join + 2 array joins; see q_minhash_calibration).
      val base = Q.materialize(
        shingled(documents(s, dir)).select(col("doc_id"), col("hs")))
      val sh = base.select(col("doc_id"), explode(col("hs")).as("shingle"))
      val rare = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df").between(2, 5)).select("shingle")
      // Candidate pairs map-side (r12, the candidatePairs pattern): a rare
      // shingle has 2..5 member docs BY THE FILTER, so each bucket's
      // member list is a bounded collect on the join's own (shingle)
      // partitioning and the i<j fan-out needs no second full-sh join side.
      val cand = sh.join(rare, Seq("shingle"))
        .groupBy("shingle").agg(collect_list(col("doc_id")).as("ds"))
        .select(explode(col("ds")).as("doc_a"), col("ds"))
        .select(col("doc_a"), explode(col("ds")).as("doc_b"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      val hsA = base.select(col("doc_id").as("da"), col("hs").as("hsa"))
      val hsB = base.select(col("doc_id").as("db"), col("hs").as("hsb"))
      cand
        .join(hsA, col("doc_a") === col("da"))
        .join(hsB, col("doc_b") === col("db"))
        .withColumn("shared", size(array_intersect(col("hsa"), col("hsb"))).cast("long"))
        .select(col("doc_a"), col("doc_b"), col("shared"),
          round(col("shared").cast("double") /
            (size(col("hsa")).cast("long") + size(col("hsb")).cast("long") - col("shared")), 4)
            .as("jaccard"))
        .orderBy("doc_a", "doc_b")
    },

    GraftQuery(
      "q_dedup_edit",
      "Extension: edit-distance near-dup — levenshtein over rare-shingle candidates; 200-char cap bounds per-pair cost",
      s"""WITH $duckBase,
        |sh AS (SELECT doc_id, unnest(hs) AS shingle FROM base),
        |rare AS (SELECT shingle FROM (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle)
        |         WHERE df BETWEEN 2 AND 5),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM sh a JOIN rare r ON a.shingle = r.shingle
        |         JOIN sh b ON b.shingle = a.shingle AND a.doc_id < b.doc_id),
        |d AS (SELECT c.doc_a, c.doc_b,
        |             levenshtein(substr(lower(x.text), 1, 200),
        |                         substr(lower(y.text), 1, 200)) AS edit
        |      FROM cand c JOIN documents x ON x.doc_id = c.doc_a
        |      JOIN documents y ON y.doc_id = c.doc_b)
        |SELECT doc_a, doc_b, edit FROM d WHERE edit <= 40
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      // Typo-level near-dup: the SAME bounded candidate set as
      // q_ngram_jaccard (rare-shingle inverted index — never all-pairs),
      // scored by edit distance on a fixed 200-char prefix so the O(n*m)
      // DP per pair is capped regardless of document length. At 100 TB the
      // candidate join is the bucketed equi-join; levenshtein is per-pair
      // codegen'd work after it.
      // r13: checkpoint the COMPACT per-doc frame and explode from it (both
      // consumers read the checkpoint; the exploded frame is corpus-shingle
      // sized and was the query's largest checkpoint)
      val sh = Q.materialize(
        shingled(documents(s, dir)).select(col("doc_id"), col("hs")))
        .select(col("doc_id"), explode(col("hs")).as("shingle"))
      val rare = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df").between(2, 5)).select("shingle")
      // map-side pair fan-out over bounded (df ≤ 5) rare buckets — see the
      // q_ngram_jaccard cand note; drops the second full-sh join side
      val cand = sh.join(rare, Seq("shingle"))
        .groupBy("shingle").agg(collect_list(col("doc_id")).as("ds"))
        .select(explode(col("ds")).as("doc_a"), col("ds"))
        .select(col("doc_a"), explode(col("ds")).as("doc_b"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      val docsA = documents(s, dir)
        .select(col("doc_id").as("da"), substring(lower(col("text")), 1, 200).as("ta"))
      val docsB = documents(s, dir)
        .select(col("doc_id").as("db"), substring(lower(col("text")), 1, 200).as("tb"))
      cand.join(docsA, col("doc_a") === col("da"))
        .join(docsB, col("doc_b") === col("db"))
        // length-difference lower bound prunes the DP entirely for most
        // pairs; the thresholded levenshtein runs a banded O(k*n) DP and
        // returns -1 above the threshold (same kept rows as the oracle's
        // full distance + WHERE)
        .filter(abs(length(col("ta")) - length(col("tb"))) <= 40)
        .withColumn("edit", levenshtein(col("ta"), col("tb"), 40))
        .filter(col("edit") >= 0)
        .select(col("doc_a"), col("doc_b"), col("edit"))
        .orderBy("doc_a", "doc_b")
    },

    GraftQuery(
      "q_dedup_lines",
      "Extension: CCNet/C4-style LINE-level corpus dedup — docs cut into non-overlapping " +
        "10-token segments (the 'paragraph' unit; real corpora split on newlines), a segment " +
        "survives only at its FIRST corpus occurrence (min (doc_id, seg_no)), and each doc is " +
        "reassembled from its kept segments. One shuffle on the segment key (partial agg " +
        "collapses repeats map-side), one doc-side regroup — never all-pairs; at 100 TB the " +
        "segment key space is the dedup working set, exactly CCNet's sharded-hash layout",
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |segs AS (SELECT doc_id,
        |                unnest(range(0, (len(toks) + 9) // 10)) AS seg_no,
        |                unnest(list_transform(range(0, (len(toks) + 9) // 10),
        |                        i -> array_to_string(toks[i*10+1 : i*10+10], ' '))) AS seg
        |         FROM t),
        |fl AS (SELECT doc_id, seg_no, seg,
        |              row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_no) = 1 AS kept
        |       FROM segs)
        |SELECT doc_id, count(*) AS n_segs,
        |       coalesce(sum(CASE WHEN kept THEN 1 ELSE 0 END), 0)::BIGINT AS n_kept,
        |       round(sum(CASE WHEN kept THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) AS kept_ratio,
        |       coalesce(string_agg(seg, ' ' ORDER BY seg_no) FILTER (WHERE kept), '') AS kept_text
        |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val segs = Q.fanout(documents(s, dir))
        .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, cast(ceil(size(toks) / 10.0) AS INT) - 1)," +
            " i -> concat_ws(' ', slice(toks, i * 10 + 1, 10)))")).as(Seq("seg_no", "seg")))
      // first-occurrence-wins: ONE window shuffle keyed on the segment text
      // (intra-doc repeats drop too, like CCNet's hash-set semantics)
      val wFirst = Window.partitionBy("seg").orderBy("doc_id", "seg_no")
      segs.withColumn("kept", row_number().over(wFirst) === 1)
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_segs"),
          sum(col("kept").cast("long")).as("n_kept"),
          // reassembly: kept segments back in document order — collect_list
          // skips the CASE's nulls, array_sort orders by seg_no (1st field)
          expr("array_join(transform(array_sort(collect_list(" +
            "CASE WHEN kept THEN struct(seg_no, seg) END)), x -> x.seg), ' ')").as("kept_text"))
        .select(col("doc_id"), col("n_segs"), col("n_kept"),
          round(col("n_kept").cast("double") / col("n_segs"), 4).as("kept_ratio"),
          col("kept_text"))
        .orderBy("doc_id")
    },
  )
}

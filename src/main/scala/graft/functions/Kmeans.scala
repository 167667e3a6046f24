package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared deterministic k-means trainer over int8-quantized vectors —
  * used by the QVector query family (whose DuckDB oracle mirrors every
  * step bit-for-bit) and by [[graft.sinks.VectorIndexStore]] (the store
  * lifecycle artifact, r10).
  *
  * Discipline (established in QVector, kept here verbatim):
  *  - vectors are int8-quantized (`quantExpr`): |q| ≤ 127 keeps every
  *    squared distance ≤ 254²·64 ≈ 4.1e6 ≪ 2⁵³, so all arithmetic is
  *    exact integer math in ANY engine;
  *  - assignment is a codegen'd projection against LITERAL centroids
  *    (zero joins, zero shuffles — the MLlib broadcast pattern);
  *  - the Lloyd update is one k×d hash aggregate; only k×d longs ever
  *    reach the driver;
  *  - seeding is greedy farthest-point (deterministic kmeans++ twin):
  *    seed 0 = min-vec_id row, each next seed maximizes min-distance to
  *    the chosen set, ties to the lowest vec_id. k−1 bounded passes.
  *
  * Input frames carry (vec_id LONG, qv ARRAY<LONG>).
  */
object Kmeans {

  /** Int8 scalar quantization of a float vector column (floor(x·127+0.5)
    * after clamping to [−1,1] — floor keeps engines' rounding identical). */
  def quantExpr(c: String): String =
    s"transform($c, x -> floor(greatest(least(cast(x AS double), 1.0D), -1.0D) * 127.0D + 0.5D))"

  /** Squared-L2 between the quantized column and a literal centroid. */
  def d2Lit(qcol: String, cent: Seq[Long]): Column =
    expr(s"vec_l2sq($qcol, array(${cent.map(v => s"${v}L").mkString(",")}))")

  /** argmin over the k centroids as a (d2, cid) struct — ties to the
    * lowest cluster id via lexicographic array_min. */
  def assignCol(qcol: String, cents: Seq[(Int, Seq[Long])]): Column =
    array_min(array(cents.map { case (cid, cv) =>
      struct(d2Lit(qcol, cv).as("d2"), lit(cid).as("cid")) }: _*))

  /** Greedy farthest-point seeds over a materialized (vec_id, qv) frame. */
  def farthestSeeds(qdf: DataFrame, k: Int): Seq[(Int, Seq[Long])] = {
    val v0 = qdf.agg(min(col("vec_id"))).head().getLong(0)
    var seeds: Vector[(Int, Seq[Long])] = Vector(
      0 -> qdf.filter(col("vec_id") === v0).select("qv").head().getSeq[Long](0).toVector)
    for (j <- 1 until k) {
      val dists = seeds.map { case (_, cv) => d2Lit("qv", cv) }
      val dmin = if (dists.size == 1) dists.head else least(dists: _*)
      val pick = qdf.withColumn("__dmin", dmin)
        .orderBy(col("__dmin").desc, col("vec_id").asc)
        .select("qv").head().getSeq[Long](0).toVector
      seeds :+= (j -> (pick: Seq[Long]))
    }
    seeds
  }

  /** Full training run: (seed centroids, trained centroids). */
  def train(qdf: DataFrame, k: Int, iters: Int): (Seq[(Int, Seq[Long])], Seq[(Int, Seq[Long])]) = {
    val seeds = farthestSeeds(qdf, k)
    var c = seeds
    for (_ <- 1 to iters) c = lloydStep(qdf, c)
    (seeds, c)
  }

  // ---------------------------------------------------------------------
  // The CORPUS-SCALED path (r11, VERDICT r10 #5): k = 8 cells prunes only
  // 2× at nprobe=4 — at 100 TB that is no index. The store lifecycle
  // therefore scales k with the corpus, which invalidates three small-k
  // shortcuts above at once:
  //  - farthest-point seeding is k−1 driver-paced passes → at k=√n that is
  //    thousands of sequential jobs. Replaced by ONE deterministic pass
  //    (the k smallest (xxhash64(vec_id), vec_id) rows — MLlib's random
  //    init, made replayable).
  //  - Lloyd over the full corpus is k·n distance evals per iteration.
  //    Replaced by training on a deterministic hash-sample of ≤ 256·k
  //    rows (the FAISS train-on-sample discipline: centroid quality needs
  //    points-per-centroid, not the whole corpus).
  //  - the literal-expression assign is one codegen expression with k
  //    struct branches — fine at 8, pathological past ~64. Replaced by a
  //    broadcast centroid table + min(struct(d2, cid)) aggregate past the
  //    threshold (one n×k pass, the honest IVF assignment cost at any
  //    engine; ties to the lowest cid, same as assignCol).
  // ---------------------------------------------------------------------

  /** Number of IVF cells for an n-vector corpus: √n (the standard IVF
    * sizing), floored so cells average ≥ 32 members (a thinner cell reads
    * slower than it prunes), capped at 2¹⁶ directories. n = 10⁹ → 31623
    * cells of ~31623 vectors — a real index, vs 8 cells of 10⁸.
    */
  def cellsFor(n: Long): Int =
    if (n <= 0L) 1
    else math.min(math.max(1L, math.min(math.round(math.sqrt(n.toDouble)), n / 32L)), 1L << 16).toInt

  /** Past this k, assignment switches from the literal codegen expression
    * to the broadcast-join aggregate. */
  val LiteralAssignMaxK = 64

  /** Deterministic one-pass seeding: the k rows with the smallest
    * (xxhash64(vec_id), vec_id), de-duplicated on the vector value so two
    * identical corpus rows cannot seed two empty-twin cells. One
    * TakeOrdered job regardless of k.
    */
  def hashSeeds(qdf: DataFrame, k: Int): Seq[(Int, Seq[Long])] =
    qdf.orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .select("qv").limit(4 * k)
      .collect().map(_.getSeq[Long](0).toVector).distinct.take(k)
      .zipWithIndex.map { case (cv, i) => (i, cv: Seq[Long]) }.toSeq

  /** Assign every row of `df` (which must carry `qv`) to its nearest
    * centroid as a new `cluster` column. Literal codegen for small k;
    * broadcast centroid table + min-struct aggregate past
    * [[LiteralAssignMaxK]] (df must then also carry a unique `vec_id`).
    */
  def assignScaled(df: DataFrame, cents: Seq[(Int, Seq[Long])]): DataFrame =
    if (cents.size <= LiteralAssignMaxK)
      df.withColumn("cluster", assignCol("qv", cents).getField("cid"))
    else {
      val spark = df.sparkSession
      val sq = spark; import sq.implicits._
      val centDf = broadcast(cents.map { case (cid, cv) => (cid, cv) }.toDF("cid", "cv"))
      val asg = df.select("vec_id", "qv").crossJoin(centDf)
        .select(col("vec_id"),
          struct(expr("vec_l2sq(qv, cv)").as("d2"), col("cid")).as("s"))
        .groupBy("vec_id").agg(min(col("s")).as("m"))
        .select(col("vec_id"), col("m.cid").as("cluster"))
      df.join(asg, "vec_id")
    }

  /** One Lloyd update of both trainers: assign ([[assignScaled]] — the
    * literal projection for small k), per-dim floored integer mean (one
    * k×d aggregate), empty clusters keep their previous centroid; only
    * k×d longs reach the driver. */
  def lloydStep(qdf: DataFrame, cents: Seq[(Int, Seq[Long])]): Seq[(Int, Seq[Long])] = {
    val rows = assignScaled(qdf, cents)
      .select(col("cluster").as("cid"), posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy("cid", "pos")
      .agg(floor(sum(col("v")).cast("double") / count(lit(1))).cast("long").as("cv"))
      .collect()
    val byCid = rows.groupBy(_.getInt(0)).map { case (cid, rs) =>
      cid -> (rs.sortBy(_.getInt(1)).map(_.getLong(2)).toVector: Seq[Long])
    }
    cents.map { case (cid, old) => cid -> byCid.getOrElse(cid, old) }
  }

  /** Corpus-scaled training: hash-seeded, Lloyd over a deterministic
    * ≤ 256·k-row hash-sample (train-on-sample — the full corpus is only
    * touched by the caller's final assignment pass). Returns the trained
    * centroids; k may come out smaller than requested if the corpus holds
    * fewer than k distinct quantized vectors.
    */
  def trainScaled(qdf: DataFrame, k: Int, iters: Int): Seq[(Int, Seq[Long])] = {
    val sample = graft.queries.Q.materialize(
      qdf.orderBy(xxhash64(col("vec_id")), col("vec_id"))
        .select("vec_id", "qv").limit(256 * k))
    var c = hashSeeds(sample, k)
    for (_ <- 1 to iters) c = lloydStep(sample, c)
    c
  }
}

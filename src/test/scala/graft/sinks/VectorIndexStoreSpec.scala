package graft.sinks

import graft.SparkTestBase
import graft.tables.Tables
import org.apache.spark.sql.functions._

/** The r10 lifecycle contract for the IVF store (VERDICT r9 #6): write new
  * embeddings → tick → a probe finds them WITHOUT a full rebuild (the
  * centroid artifact is byte-identical across the incremental tick), and
  * the retrain threshold still triggers the full fold when delta dwarfs
  * the indexed corpus. Every change commits one version through
  * `CURRENT`; the crash-state tests put each kind of change in each state
  * a crash can leave it in.
  */
class VectorIndexStoreSpec extends SparkTestBase {

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("vecidx").toFile
    d.deleteOnExit(); d.getPath
  }

  private def corpus = Tables.embeddings(spark, "/root/testdata/sf0.001")
    .select("vec_id", "embedding")

  private def centroids(dir: String) =
    spark.read.parquet(s"$dir/v${VectorIndexStore.generation(dir)}/centroids.parquet")
      .orderBy("cid").collect().map(r => (r.getInt(0), r.getSeq[Long](1))).toSeq

  /** The current version's lists. */
  private def lists(dir: String) =
    spark.read.parquet(VectorIndexStore.listsDir(dir, VectorIndexStore.generation(dir)))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Array[Float])] =
    df.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq

  test("build → search returns exact cosine top-k from the probed cells only") {
    val dir = freshDir()
    VectorIndexStore.build(spark, corpus, dir)
    val probeVec = corpus.filter(col("vec_id") === 3L)
      .head().getSeq[Float](1).map(_.toDouble)
    val hits = VectorIndexStore.search(spark, dir, probeVec, topK = 5).collect()
    assert(hits.length === 5)
    // the probe vector itself is in the corpus → must be its own top hit
    assert(hits.head.getLong(0) === 3L && math.abs(hits.head.getDouble(1) - 1.0) < 1e-9)
    // scores descend
    assert(hits.map(_.getDouble(1)).sliding(2).forall(p => p(0) >= p(1)))
    // fine scan pruned: every hit comes from one of the 3 probed cells
    assert(hits.map(_.getInt(2)).distinct.length <= 3)
  }

  test("append lands in delta (index stale), tick folds it in WITHOUT retraining, probe finds it") {
    val dir = freshDir()
    VectorIndexStore.build(spark, corpus, dir)
    val centsBefore = centroids(dir)

    // a new vector engineered to be the global nearest neighbor of itself:
    // clone vector 3's embedding under a fresh id
    val donor = corpus.filter(col("vec_id") === 3L).head().getSeq[Float](1)
    VectorIndexStore.appendLocal(Seq((100001L, donor.toArray)), dir)
    assert(VectorIndexStore.staleCount(spark, dir) === 1L)

    // pre-tick: the staleness window — the probe does NOT see the new id
    val probe = donor.map(_.toDouble)
    val pre = VectorIndexStore.search(spark, dir, probe, topK = 5).collect()
    assert(!pre.map(_.getLong(0)).contains(100001L))

    // tick: incremental (1 ≪ 50% of 500) — no retrain, centroids untouched
    val (indexed, retrained) = VectorIndexStore.tick(spark, dir)
    assert(indexed === 1L && !retrained)
    assert(centroids(dir) === centsBefore, "incremental tick must not move centroids")
    assert(VectorIndexStore.staleCount(spark, dir) === 0L)

    // post-tick: the clone scores cosine 1.0 and ranks in the top hits
    val post = VectorIndexStore.search(spark, dir, probe, topK = 5).collect()
    assert(post.map(_.getLong(0)).contains(100001L),
      s"probe must find the newly indexed vector, got ${post.map(_.getLong(0)).toSeq}")
    // and a second tick is a no-op
    assert(VectorIndexStore.tick(spark, dir) === ((0L, false)))
  }

  test("searchBatch == per-probe search for every probe in the frame") {
    val dir = freshDir()
    VectorIndexStore.build(spark, corpus, dir)
    val probes = corpus.filter(col("vec_id") < 4L)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    val batched = VectorIndexStore.searchBatch(spark, dir, probes, topK = 5)
      .collect().groupBy(_.getLong(0))
    (0L until 4L).foreach { pid =>
      val single = VectorIndexStore.search(spark, dir,
          corpus.filter(col("vec_id") === pid).head().getSeq[Float](1).map(_.toDouble),
          topK = 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val b = batched(pid).sortBy(_.getInt(3)).map(r => (r.getLong(1), r.getDouble(2)))
      assert(b.toSeq === single.toSeq, s"probe $pid diverged")
    }
  }

  test("a delta larger than the retrain fraction triggers the full fold") {
    val dir = freshDir()
    val half = corpus.filter(col("vec_id") < 250L)
    val rest = corpus.filter(col("vec_id") >= 250L)
    VectorIndexStore.build(spark, half, dir)
    VectorIndexStore.appendLocal(rows(rest), dir)
    val (indexed, retrained) = VectorIndexStore.tick(spark, dir)
    assert(indexed === rest.count() && retrained, "delta > 50% of indexed must retrain")
    // the rebuilt index covers the full corpus
    val n = lists(dir).count()
    assert(n === corpus.count())
  }

  test("checkDim is crash-atomic: records once, rejects mismatches, fails loud on a corrupt empty marker (ADVICE r11)") {
    val dir = freshDir()
    VectorIndexStore.checkDim(dir, 8)   // first caller records
    VectorIndexStore.checkDim(dir, 8)   // same dim passes
    assert(VectorIndexStore.dimOf(dir) === Some(8))
    intercept[IllegalArgumentException](VectorIndexStore.checkDim(dir, 16))
    // a pre-fix crash orphan (empty marker) must throw, not silently
    // disable enforcement
    val dim = new java.io.File(dir, "dim")
    java.nio.file.Files.writeString(dim.toPath, ""): Unit
    intercept[IllegalStateException](VectorIndexStore.checkDim(dir, 8))
    // no stray temp files left behind by the link-into-place protocol
    val strays = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".tmp"))
    assert(strays.isEmpty, strays.mkString(","))
  }

  test("centroid cache: a retrain bumps the generation and searches see the NEW centroids (r12, VERDICT r11 #2)") {
    val dir = freshDir()
    val half = corpus.filter(col("vec_id") < 250L)
    val rest = corpus.filter(col("vec_id") >= 250L)
    VectorIndexStore.build(spark, half, dir)
    assert(VectorIndexStore.generation(dir) === 1L)
    // warm the driver-side cache with generation-1 centroids
    val donor = corpus.filter(col("vec_id") === 400L).head().getSeq[Float](1)
    val probe = donor.map(_.toDouble)
    VectorIndexStore.search(spark, dir, probe, topK = 3).collect(): Unit
    val centsG1 = centroids(dir)
    // retrain from a corpus 3x the indexed half — centroids move
    VectorIndexStore.appendLocal(rows(rest), dir)
    val (_, retrained) = VectorIndexStore.tick(spark, dir)
    assert(retrained)
    assert(VectorIndexStore.generation(dir) === 2L,
      "retrain commit must bump the generation marker")
    assert(centroids(dir) !== centsG1, "retrain over 3x the corpus must move centroids")
    // a stale cache would probe gen-1 cells against gen-2 lists: vector
    // 400 (only in the retrained corpus) must now be its own top hit —
    // proof the search went through the NEW centroid table
    val post = VectorIndexStore.search(spark, dir, probe, topK = 3).collect()
    assert(post.head.getLong(0) === 400L && math.abs(post.head.getDouble(1) - 1.0) < 1e-9,
      s"post-retrain search must find vec 400 via the new centroids, got ${post.toSeq}")
    // incremental ticks leave centroids untouched but DO bump the
    // generation (r12: cell membership changed — the hot-cell cache must
    // not serve the pre-fold cell), by exactly one commit, and the freshly
    // folded vector is visible through the caches immediately
    VectorIndexStore.appendLocal(Seq((300001L, donor.toArray)), dir)
    assert(VectorIndexStore.tick(spark, dir) === ((1L, false)))
    assert(VectorIndexStore.generation(dir) === 3L,
      "an incremental fold is one commit: the generation goes up by exactly 1")
    val folded = VectorIndexStore.search(spark, dir, probe, topK = 3).collect()
    assert(folded.map(_.getLong(0)).contains(300001L),
      s"post-fold search must see the folded vector, got ${folded.toSeq}")
  }

  test("hot-cell cache: bit-identical to the Spark fine scan, and job-free once resident (r12)") {
    val dir = freshDir()
    VectorIndexStore.build(spark, corpus, dir)
    val probe = corpus.filter(col("vec_id") === 7L)
      .head().getSeq[Float](1).map(_.toDouble)
    val cached = VectorIndexStore.search(spark, dir, probe, topK = 10).collect()
    spark.conf.set("graft.ann.cellCacheMB", "0")
    val viaSpark =
      try VectorIndexStore.search(spark, dir, probe, topK = 10).collect()
      finally spark.conf.unset("graft.ann.cellCacheMB")
    // same ids, same clusters, scores bit-equal (cosF mirrors vec_cos's
    // accumulation order exactly)
    assert(cached.map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq ===
      viaSpark.map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq)
    // with the probed cells resident, the result is a LocalRelation —
    // collect() runs zero Spark jobs (the serving-latency point)
    val plan = VectorIndexStore.search(spark, dir, probe, topK = 10)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("LocalRelation"), s"expected LocalRelation, got:\n$plan")
  }

  /** One clone of a member of every cell, under fresh ids from `base`: a
    * fold of these touches every cell once (a clone assigns to its
    * original's cell — same embedding, same centroids). */
  private def onePerCell(dir: String, base: Long): Seq[(Long, Array[Float])] =
    lists(dir).groupBy("cluster").agg(min(col("vec_id")).as("vec_id"))
      .join(lists(dir).select("vec_id", "embedding"), "vec_id")
      .select(col("cluster"), col("embedding")).collect().toSeq
      .map(r => (base + r.getInt(0), r.getSeq[Float](1).toArray))

  private def listsFiles(dir: String): (Int, Int) = {
    val cellDirs = new java.io.File(
      VectorIndexStore.listsDir(dir, VectorIndexStore.generation(dir))).listFiles()
      .filter(_.getName.startsWith("cluster="))
    (cellDirs.map(StoreLayout.dataFiles(_).size).sum, cellDirs.length)
  }

  test("lists compaction: accreted fold files rewrite to ~one per cluster; results identical (r12)") {
    val dir = freshDir()
    VectorIndexStore.build(spark, corpus, dir)
    val probe = corpus.filter(col("vec_id") === 3L).head().getSeq[Float](1).map(_.toDouble)
    val before = VectorIndexStore.search(spark, dir, probe, topK = 5).collect()
    val (built, nCells) = listsFiles(dir)
    assert(built === nCells, "a build writes one file per cell")
    // three folds that touch every cell: one more file per cell each
    for (round <- 1 to 3) {
      VectorIndexStore.appendLocal(onePerCell(dir, 100000L * round), dir)
      assert(VectorIndexStore.tick(spark, dir) === ((nCells.toLong, false)))
      assert(listsFiles(dir) === ((nCells * (round + 1), nCells)),
        s"fold $round should add one file per cell")
    }
    // the fourth would leave 5 files per cell, past the 4 the fold allows:
    // it stages the lists as one rewrite instead, in the same one commit
    val gen = VectorIndexStore.generation(dir)
    VectorIndexStore.appendLocal(onePerCell(dir, 400000L), dir)
    VectorIndexStore.tick(spark, dir)
    assert(VectorIndexStore.generation(dir) === gen + 1)
    assert(listsFiles(dir) === ((nCells, nCells)), "compaction leaves one file per cell")
    val ids = lists(dir).select("vec_id").collect().map(_.getLong(0))
    assert(ids.length === ids.distinct.length && ids.length === 500 + 4 * nCells)
    // content preserved: the original corpus hits are still served
    val after = VectorIndexStore.search(spark, dir, probe, topK = 5).collect()
    assert(after.head.getLong(0) === before.head.getLong(0))
  }

  private def copyTree(from: java.io.File, to: java.io.File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      from.listFiles().foreach(f => copyTree(f, new java.io.File(to, f.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("vec_id").collect().map(_.getLong(0)).toSeq.sorted

  /** The two states a crash can leave a change in, for the change the
    * next tick makes to the index `setup` writes. The change runs once on
    * a copy, for its staged version `v<g+1>` and its `CURRENT`. Then, each
    * on a fresh copy of the index before the change:
    *  1. an uncommitted `v<g+1>`, whole, or partial (half its cells);
    *  2. a committed `CURRENT` with the folded delta files and `v<g>` still
    *     on disk.
    * After the next tick every vec_id is indexed exactly once, the
    * generation is the change's, and the index is quiesced. */
  private def crashStates(setup: String => Unit): Unit = {
    import java.io.File
    val pre = freshDir()
    setup(pre)
    val g0 = VectorIndexStore.generation(pre)
    val want = ((if (VectorIndexStore.built(pre)) ids(lists(pre)) else Nil) ++
      ids(spark.read.parquet(s"$pre/delta"))).sorted
    val done = freshDir()
    copyTree(new File(pre), new File(done))
    VectorIndexStore.tick(spark, done)
    val g1 = VectorIndexStore.generation(done)
    assert(g1 === g0 + 1 && ids(lists(done)) === want)
    val staged = new File(done, s"v$g1")
    val states = Seq[(String, File => Unit)](
      "whole uncommitted version" -> (d => copyTree(staged, new File(d, s"v$g1"))),
      "partial uncommitted version" -> { d =>
        copyTree(staged, new File(d, s"v$g1"))
        val cellDirs = new File(d, s"v$g1/lists").listFiles().filter(_.isDirectory).sortBy(_.getName)
        cellDirs.take(cellDirs.length / 2 + 1).foreach(StoreLayout.rmTree)
      },
      "committed, not cleaned up" -> { d =>
        copyTree(staged, new File(d, s"v$g1"))
        copyTree(new File(done, "CURRENT"), new File(d, "CURRENT"))
        // the folded files are indexed now: they are not stale
        assert(VectorIndexStore.staleCount(spark, d.getPath) === 0L)
      })
    states.foreach { case (name, crash) =>
      val d = freshDir()
      copyTree(new File(pre), new File(d))
      crash(new File(d))
      VectorIndexStore.tick(spark, d)
      assert(VectorIndexStore.generation(d) === g1, name)
      assert(ids(lists(d)) === want, s"$name: every vector indexed exactly once")
      assert(VectorIndexStore.quiesced(d), name)
      assert(VectorIndexStore.staleCount(spark, d) === 0L, name)
    }
  }

  test("crash states of a bootstrap: the next tick finishes or redoes it") {
    crashStates(dir => VectorIndexStore.appendLocal(rows(corpus), dir))
  }

  test("crash states of a retrain: the next tick finishes or redoes it") {
    crashStates { dir =>
      VectorIndexStore.build(spark, corpus.filter(col("vec_id") < 250L), dir)
      VectorIndexStore.appendLocal(rows(corpus.filter(col("vec_id") >= 250L)), dir)
    }
  }

  test("crash states of an incremental fold: the next tick finishes or redoes it") {
    crashStates { dir =>
      VectorIndexStore.build(spark, corpus, dir)
      VectorIndexStore.appendLocal(onePerCell(dir, 100000L), dir)
    }
  }

  test("crash states of a compacting fold: the next tick finishes or redoes it") {
    crashStates { dir =>
      VectorIndexStore.build(spark, corpus, dir)
      for (round <- 1 to 4) {
        VectorIndexStore.appendLocal(onePerCell(dir, 100000L * round), dir)
        if (round < 4) VectorIndexStore.tick(spark, dir)
      }
    }
  }

  test("an index in the previous layout is adopted on the first tick; a staging leftover is refused by name") {
    import java.io.File
    val dir = freshDir()
    VectorIndexStore.build(spark, corpus, dir)
    VectorIndexStore.build(spark, corpus, dir) // generation 2
    // the previous layout: gen, centroids.parquet and lists/ at the top
    StoreLayout.move(new File(dir, "v2/centroids.parquet"), new File(dir, "centroids.parquet"))
    StoreLayout.move(new File(dir, "v2/lists"), new File(dir, "lists"))
    StoreLayout.rmTree(new File(dir, "v2"))
    new File(dir, "CURRENT").delete(): Unit
    java.nio.file.Files.writeString(new File(dir, "gen").toPath, "2"): Unit
    assert(!VectorIndexStore.built(dir))
    // a leftover of that layout's own protocol: refused, named, untouched
    val leftover = new File(dir, "lists.building")
    leftover.mkdirs()
    val e = intercept[IllegalStateException](VectorIndexStore.tick(spark, dir))
    assert(e.getMessage.contains("lists.building"), e.getMessage)
    assert(new File(dir, "lists").isDirectory && new File(dir, "gen").isFile)
    StoreLayout.rmTree(leftover)
    // adopted as v2, then the pending delta folds into v3
    val donor = corpus.filter(col("vec_id") === 3L).head().getSeq[Float](1)
    VectorIndexStore.appendLocal(Seq((100001L, donor.toArray)), dir)
    assert(VectorIndexStore.tick(spark, dir) === ((1L, false)))
    assert(VectorIndexStore.generation(dir) === 3L)
    assert(new File(dir).list().sorted.toSeq === Seq("CURRENT", "delta", "v3"))
    assert(ids(lists(dir)) === (0L until 500L) :+ 100001L)
    val hits = VectorIndexStore.search(spark, dir, donor.map(_.toDouble), topK = 2).collect()
    assert(hits.map(_.getLong(0)).toSet === Set(3L, 100001L))
  }
}

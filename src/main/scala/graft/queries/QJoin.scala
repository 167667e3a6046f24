package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftQuery
import Q._

/** Joins — SURVEY.md §2.3 (J1-J6).
  *
  * Scale design per join:
  *  - J1 broadcast: the config/dimension side is tiny (nation=25, region=5
  *    rows at every SF) → explicit broadcast() keeps the fact side
  *    shuffle-free. At 100 TB this is the only sane plan.
  *  - J2/J3 semi/anti: plan as Broadcast*Join when the right side is small;
  *    never materialize the join payload.
  *  - J4 sort-merge: large⋈large with an explicit merge hint so the plan is
  *    stable across SFs (both sides shuffle-partitioned on the key; at scale
  *    bucketing both tables by orderkey removes the shuffle entirely).
  *  - J5 as-of: no Spark builtin. Union probe+reference rows, one window
  *    pass partitioned by key ordered by (ts, side) — reference rows sort
  *    before probes at equal ts so ties match DuckDB ASOF (probe.ts >=
  *    ref.ts). Single shuffle on the series key; no nested-loop.
  *  - J6 range join: rewritten as an equi-join on a computed bucket column
  *    against a broadcast bucket dim — Spark would otherwise plan
  *    BroadcastNestedLoopJoin for the between-predicate (SURVEY §2.3).
  */
object QJoin {

  val all: Seq[GraftQuery] = Seq(

    GraftQuery(
      "q_join_broadcast",
      "J1: config-enrichment broadcast join (ref get_data_by_alias, ConfigApp.py:120-136)",
      """SELECT r_name, n_name, count(*) AS n, round(sum(c_acctbal), 2) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin) { (s, dir) =>
      customer(s, dir)
        .join(broadcast(nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n"), round(sum("c_acctbal"), 2).as("sum_bal"))
        .orderBy("r_name", "n_name")
    },

    GraftQuery(
      "q_join_semi",
      "J2: left-semi — keys with at least one match (ref get_data_aliases, ConfigApp.py:102-118)",
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      customer(s, dir)
        .join(orders(s, dir), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    GraftQuery(
      "q_join_anti",
      "J3: left-anti — keys with no match (ref delete_element, ConfigApp.py:138-153)",
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      customer(s, dir)
        .join(orders(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    GraftQuery(
      "q_join_sortmerge",
      "J4: large⋈large sort-merge join (metadata enrichment at scale, ref README.md:98-100)",
      """SELECT o_orderpriority, count(*) AS n,
        |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |                       * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      // DECIMAL(18,2) sum is exact → order-independent → DuckDB hash parity.
      val revenue = sum(col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
      lineitem(s, dir)
        .join(orders(s, dir).hint("merge"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), round(revenue.cast("double"), 2).as("revenue"))
        .orderBy("o_orderpriority")
    },

    GraftQuery(
      "q_join_asof",
      "J5: as-of join — last purchase value at or before each click (the m_value cache as a join, ref InfluxConnector2.py:53,173)",
      """SELECT p.event_id, p.user_id, p.value, r.value AS asof_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
        |  ON p.user_id = r.user_id AND p.ts >= r.ts
        |ORDER BY p.event_id""".stripMargin) { (s, dir) =>
      val e = events(s, dir)
      val probes = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"), lit(1).as("is_probe"))
      val refs = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"), lit(0).as("is_probe"))
      // One shuffle on user_id; refs sort before probes at equal ts → ties
      // behave like DuckDB ASOF's probe.ts >= ref.ts.
      val wAsof = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("is_probe"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      probes.unionByName(refs)
        .withColumn("asof_value",
          last(when(col("is_probe") === 0, col("value")), ignoreNulls = true).over(wAsof))
        .filter(col("is_probe") === 1)
        .select("event_id", "user_id", "value", "asof_value")
        .orderBy("event_id")
    },

    GraftQuery(
      "q_join_nearest",
      "Extension: NEAREST-sample join within ±6 h tolerance — sensor fusion's 'closest " +
        "reading either side' (the bidirectional sibling of J5's backward as-of). Both " +
        "directions run the same union+window trick (backward pass + mirrored forward " +
        "pass — ONE shuffle on the series key, two sorts), then pick the smaller |Δt|, " +
        "backward winning ties; the oracle spells the identical window logic so even " +
        "equal-timestamp tie-breaks match engine-for-engine",
      """WITH u AS (
        |  SELECT event_id, user_id, ts, value, 1 AS is_probe FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT event_id, user_id, ts, value, 0 AS is_probe FROM events WHERE event_type = 'purchase'),
        |b AS (
        |  SELECT *,
        |    last_value(CASE WHEN is_probe = 0 THEN value END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, is_probe, event_id
        |            ROWS UNBOUNDED PRECEDING) AS bval,
        |    last_value(CASE WHEN is_probe = 0 THEN epoch_us(ts) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, is_probe, event_id
        |            ROWS UNBOUNDED PRECEDING) AS bts,
        |    last_value(CASE WHEN is_probe = 0 THEN value END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts DESC, is_probe, event_id DESC
        |            ROWS UNBOUNDED PRECEDING) AS fval,
        |    last_value(CASE WHEN is_probe = 0 THEN epoch_us(ts) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts DESC, is_probe, event_id DESC
        |            ROWS UNBOUNDED PRECEDING) AS fts
        |  FROM u),
        |p AS (
        |  SELECT event_id, user_id, value,
        |         epoch_us(ts) - bts AS bdt, fts - epoch_us(ts) AS fdt, bval, fval,
        |         bts IS NOT NULL AND epoch_us(ts) - bts <= 21600000000 AS cb,
        |         fts IS NOT NULL AND fts - epoch_us(ts) <= 21600000000 AS cf
        |  FROM b WHERE is_probe = 1)
        |SELECT event_id, user_id, value,
        |       CASE WHEN cb AND (NOT cf OR bdt <= fdt) THEN bval
        |            WHEN cf THEN fval END AS nearest_value,
        |       CASE WHEN cb AND (NOT cf OR bdt <= fdt) THEN -bdt
        |            WHEN cf THEN fdt END AS nearest_dt_us
        |FROM p ORDER BY event_id""".stripMargin) { (s, dir) =>
      val e = events(s, dir)
      val u = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"), lit(1).as("is_probe"))
        .unionByName(e.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"), lit(0).as("is_probe")))
      val refVal = when(col("is_probe") === 0, col("value"))
      val refTs = when(col("is_probe") === 0, unix_micros(col("ts")))
      val wB = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("is_probe"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wF = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("is_probe"), col("event_id").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tol = 21600000000L
      val scored = u
        .withColumn("bval", last(refVal, ignoreNulls = true).over(wB))
        .withColumn("bts", last(refTs, ignoreNulls = true).over(wB))
        .withColumn("fval", last(refVal, ignoreNulls = true).over(wF))
        .withColumn("fts", last(refTs, ignoreNulls = true).over(wF))
        .filter(col("is_probe") === 1)
        .withColumn("bdt", unix_micros(col("ts")) - col("bts"))
        .withColumn("fdt", col("fts") - unix_micros(col("ts")))
        .withColumn("cb", col("bts").isNotNull && col("bdt") <= tol)
        .withColumn("cf", col("fts").isNotNull && col("fdt") <= tol)
      scored.select(col("event_id"), col("user_id"), col("value"),
          when(col("cb") && (!col("cf") || col("bdt") <= col("fdt")), col("bval"))
            .when(col("cf"), col("fval")).as("nearest_value"),
          when(col("cb") && (!col("cf") || col("bdt") <= col("fdt")), -col("bdt"))
            .when(col("cf"), col("fdt")).as("nearest_dt_us"))
        .orderBy("event_id")
    },

    GraftQuery(
      "q_join_bloom",
      "Extension: explicit bloom runtime-filter join — fact rows pruned by a dim-side bloom BEFORE the shuffle (BloomFns)",
      // The oracle is the PLAIN join: the bloom admits false positives but
      // never false negatives, and the exact join that follows removes the
      // false positives — identical results, that's what makes the runtime
      // filter safe. At 100 TB the bloom (a few MB, broadcast via scalar
      // subquery) keeps non-matching fact rows out of the Exchange.
      """SELECT p_brand, count(*) AS n,
        |       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size <= 5
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin) { (s, dir) =>
      graft.functions.BloomFns.register(s)
      lineitem(s, dir).createOrReplaceTempView("graft_bloom_lineitem")
      part(s, dir).createOrReplaceTempView("graft_bloom_part")
      // MERGE hint: keep the join a shuffle join so the bloom prune sits
      // below the fact side's Exchange — the pattern only pays off when
      // there IS a shuffle to shrink (with a broadcast join Spark would
      // not need it).
      s.sql(
        """SELECT /*+ MERGE(d) */ d.p_brand AS p_brand, count(*) AS n,
          |       round(CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty
          |FROM (SELECT l_partkey, l_quantity FROM graft_bloom_lineitem
          |      WHERE graft_might_contain(
          |              (SELECT graft_bloom_agg(xxhash64(p_partkey))
          |               FROM graft_bloom_part WHERE p_size <= 5),
          |              xxhash64(l_partkey))) l
          |JOIN (SELECT p_partkey, p_brand FROM graft_bloom_part WHERE p_size <= 5) d
          |  ON l.l_partkey = d.p_partkey
          |GROUP BY d.p_brand
          |ORDER BY d.p_brand""".stripMargin)
    },

    GraftQuery(
      "q_join_range",
      "J6: range join rewritten as bucketed equi-join (avoids BroadcastNestedLoopJoin, SURVEY §2.3)",
      """SELECT b.bucket_name, count(*) AS n
        |FROM events e
        |JOIN (VALUES ('b0',0,20),('b1',20,40),('b2',40,60),('b3',60,80),('b4',80,100),
        |             ('b5',100,120),('b6',120,140),('b7',140,160),('b8',160,180),('b9',180,200))
        |     b(bucket_name, lo, hi)
        |  ON e.value >= b.lo AND e.value < b.hi
        |GROUP BY b.bucket_name ORDER BY b.bucket_name""".stripMargin) { (s, dir) =>
      import s.implicits._
      // The oracle states the range predicate; we execute the scale-correct
      // plan: value → bucket id (width 20), equi-join a broadcast dim.
      val dim = Seq.tabulate(10)(i => (i.toLong, s"b$i")).toDF("bucket_id", "bucket_name")
      events(s, dir)
        .filter(col("value") >= 0 && col("value") < 200)
        .withColumn("bucket_id", floor(col("value") / 20))
        .join(broadcast(dim), "bucket_id")
        .groupBy("bucket_name")
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket_name")
    },

    GraftQuery(
      "q_gini_revenue",
      "Extension (r10): Gini COEFFICIENT of per-part revenue — the one-number " +
        "concentration measure next to q_abc_analysis's classed Pareto curve " +
        "(G→0 revenue spread evenly, G→1 a handful of parts carry it). " +
        "G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over ascending-sorted revenues: the rank " +
        "is Q.distributedRank (range-partitioned, no SinglePartition Exchange) " +
        "and both Σ run as exact DECIMAL(38) integers (cents), so the only " +
        "doubles are one fixed op-sequence from two exact big integers.",
      """WITH r AS (SELECT l_partkey,
        |                  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |                       * (1 - CAST(l_discount AS DECIMAL(18,2)))) * 100
        |                       AS HUGEINT) AS rc
        |           FROM lineitem GROUP BY l_partkey),
        |k AS (SELECT rc, row_number() OVER (ORDER BY rc, l_partkey) AS i FROM r),
        |a AS (SELECT count(*) AS n, sum(rc) AS sx, sum(i * rc) AS six FROM k)
        |SELECT CAST(n AS BIGINT) AS n_parts,
        |       round(2.0 * six::DOUBLE / (n * sx::DOUBLE) - (n + 1.0) / n, 4)
        |         AS gini
        |FROM a""".stripMargin) { (s, dir) =>
      val r = lineitem(s, dir)
        .groupBy("l_partkey")
        .agg((sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          * 100).cast("decimal(38,0)").as("rc"))
      // checkpoint the per-part aggregate before ranking: the range
      // partitioner's sampling pass re-executes its input, so the
      // unmaterialized spelling ran the lineitem decimal aggregate twice
      Q.distributedRank(Q.materialize(r), Seq(col("rc"), col("l_partkey")), "i")
        .agg(count(lit(1)).as("n"),
          sum(col("rc")).as("sx"),
          sum(col("i") * col("rc")).as("six"))
        .select(col("n").cast("bigint").as("n_parts"),
          round(lit(2.0) * col("six").cast("double")
              / (col("n") * col("sx").cast("double"))
            - (col("n") + lit(1.0)) / col("n"), 4).as("gini"))
    },

    GraftQuery(
      "q_lorenz_curve",
      "Extension (r10): Lorenz curve by revenue decile — cumulative revenue share " +
        "per ascending-revenue decile of parts, the 10-point curve whose area " +
        "deficit IS q_gini_revenue's number (a report shows both). Deciles come " +
        "from Q.distributedNtile (range-partitioned exact ntile, no " +
        "SinglePartition Exchange); the cumulative share runs on the 10-row " +
        "decile frame, never on parts; sums stay exact DECIMAL(38) cents and the " +
        "share is one exact division + round(4).",
      """WITH r AS (SELECT l_partkey,
        |                  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |                       * (1 - CAST(l_discount AS DECIMAL(18,2)))) * 100
        |                       AS HUGEINT) AS rc
        |           FROM lineitem GROUP BY l_partkey),
        |k AS (SELECT rc, ntile(10) OVER (ORDER BY rc, l_partkey) AS decile FROM r),
        |d AS (SELECT decile, count(*) AS n_parts, sum(rc) AS rev FROM k GROUP BY decile),
        |t AS (SELECT sum(rev) AS total FROM d)
        |SELECT CAST(decile AS INT) AS decile, n_parts,
        |       round(CAST(rev AS DOUBLE) / 100, 2) AS revenue,
        |       round(CAST(sum(rev) OVER (ORDER BY decile
        |                                 ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |             / CAST((SELECT total FROM t) AS DOUBLE), 4) AS cum_share
        |FROM d ORDER BY decile""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val r = lineitem(s, dir)
        .groupBy("l_partkey")
        .agg((sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          * 100).cast("decimal(38,0)").as("rc"))
      // same pre-rank checkpoint as q_gini_revenue (range sampling
      // re-executes unmaterialized input). r13 watch-item A/B (VERDICT r12
      // #1): re-measured both ways on adjacent min-of-6 runs — with ckpt
      // 1.77 s/12 jobs, without 1.83 s/11 jobs — flat; the r12 "slower in
      // both driver runs" signal was environment, and the checkpoint stays
      // (at 100 TB it saves a full corpus-aggregate recompute).
      val d = Q.distributedNtile(Q.materialize(r), 10,
          Seq(col("rc"), col("l_partkey")), "decile")
        .groupBy("decile")
        .agg(count(lit(1)).as("n_parts"), sum(col("rc")).as("rev"))
      // BOTH the cumulative sum and the grand total run as windows on the
      // 10-row decile frame (a SinglePartition over 10 rows is bounded by
      // construction) — one plan, no checkpoint and no driver round-trip
      // for the total (r12: the materialize + head pair cost two jobs).
      // The full-frame window total is the same exact decimal sum of the
      // same 10 values the old d.agg(sum) collected.
      val wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
      val wt = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      d.select(col("decile").cast("int").as("decile"), col("n_parts"),
          round(col("rev").cast("double") / 100, 2).as("revenue"),
          round(sum(col("rev")).over(wc).cast("double")
            / sum(col("rev")).over(wt).cast("double"), 4).as("cum_share"))
        .orderBy("decile")
    },

    GraftQuery(
      "q_abc_analysis",
      "Extension: ABC / Pareto revenue classification — rank parts by revenue, classify by " +
        "cumulative share (A ≤ 80%, B ≤ 95%, C rest). Revenue aggregates per part FIRST " +
        "(the ranking runs over parts ≪ lineitem rows); every comparison is " +
        "DECIMAL-exact integer arithmetic (cum·5 ≤ total·4 for 80%), so no FP boundary " +
        "can flip a class between engines. The cumulative sum is Q.distributedCumsum " +
        "over the decimal revenue: range-partition by (rev DESC, l_partkey), " +
        "per-partition running sums, and the k partition totals come back as exact " +
        "decimal broadcast offsets and the grand total — no row ever crosses a " +
        "single-reducer Exchange, so a 10⁹-row part dimension stays parallel " +
        "(PlanAuditSpec pins SinglePartition out of the plan)",
      """WITH r AS (SELECT l_partkey,
        |                  sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |                      * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev
        |           FROM lineitem GROUP BY l_partkey),
        |t AS (SELECT sum(rev) AS total FROM r),
        |c AS (SELECT l_partkey, rev,
        |             sum(rev) OVER (ORDER BY rev DESC, l_partkey
        |                            ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM r)
        |SELECT l_partkey, round(CAST(rev AS DOUBLE), 4) AS revenue,
        |       round(CAST(cum AS DOUBLE) / CAST((SELECT total FROM t) AS DOUBLE), 4) AS cum_share,
        |       CASE WHEN cum * 5 <= (SELECT total FROM t) * 4 THEN 'A'
        |            WHEN cum * 20 <= (SELECT total FROM t) * 19 THEN 'B'
        |            ELSE 'C' END AS abc
        |FROM c ORDER BY l_partkey""".stripMargin) { (s, dir) =>
      val r = lineitem(s, dir)
        .groupBy("l_partkey")
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))).as("rev"))
        // pre-range checkpoint (r12): the range partitioner's sampling pass
        // re-executes its input, so without it the lineitem decimal
        // aggregate ran twice; the k-row part frame checkpoints cheaply
        .transform(Q.materialize)
      // the decimal running sum and the grand total come from ONE prefix
      // pass: its collected partition totals give both, exactly (a
      // scalar-subquery total would plan an audit-banned BNLJ). An empty
      // lineitem yields zero parts and zero rows.
      val (c, totals) = Q.distributedCumsum(r,
        Seq(col("rev").desc, col("l_partkey")), Seq("rev" -> "cum"))
      val total = lit(totals.head)
      // scale-4 decimal → double → round(4): the true value HAS exactly 4
      // decimals, so no rounding midpoint exists (round(2) would hit the
      // .xx5 midpoints where Spark's shortest-repr and DuckDB's binary
      // rounding disagree by a cent)
      c.select(col("l_partkey"), round(col("rev").cast("double"), 4).as("revenue"),
          round(col("cum").cast("double") / total.cast("double"), 4).as("cum_share"),
          when(col("cum") * 5 <= total * 4, "A")
            .when(col("cum") * 20 <= total * 19, "B")
            .otherwise("C").as("abc"))
        .orderBy("l_partkey")
    },

    GraftQuery(
      "q_fk_audit",
      "Extension: referential-integrity audit — orphan counts across the star schema's " +
        "foreign keys (the data-quality report every warehouse load runs; a healthy load " +
        "reports zeros, the QUERY is the deliverable). Each edge is one left-anti join " +
        "shuffled on its key; nothing is collected beyond the k-row report",
      """SELECT 'lineitem->orders' AS fk, count(*) AS orphans
        |FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |UNION ALL
        |SELECT 'orders->customer', count(*)
        |FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |UNION ALL
        |SELECT 'customer->nation', count(*)
        |FROM customer c WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
        |UNION ALL
        |SELECT 'supplier->nation', count(*)
        |FROM supplier s WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey)
        |ORDER BY fk""".stripMargin) { (s, dir) =>
      def orphans(name: String, child: DataFrame, ck: String,
          parent: DataFrame, pk: String): DataFrame =
        child.join(parent.select(col(pk)), col(ck) === col(pk), "left_anti")
          .agg(count(lit(1)).as("orphans"))
          .select(lit(name).as("fk"), col("orphans"))
      orphans("lineitem->orders", lineitem(s, dir), "l_orderkey", orders(s, dir), "o_orderkey")
        .unionAll(orphans("orders->customer", orders(s, dir), "o_custkey",
          customer(s, dir), "c_custkey"))
        .unionAll(orphans("customer->nation", customer(s, dir), "c_nationkey",
          nation(s, dir), "n_nationkey"))
        .unionAll(orphans("supplier->nation", supplier(s, dir), "s_nationkey",
          nation(s, dir), "n_nationkey"))
        .orderBy("fk")
    },
  )
}

package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import Q._

/** Round-3 additions to the analytics battery: bloom-pruned joins, complex
  * predicate pushdown (TPC-H Q19/Q22 shapes), data profiling, histograms,
  * blocked fuzzy matching, and time-series gap-fill interpolation — each
  * paired with a DuckDB oracle and shaped for 100 TB (bounded blocks, no
  * driver loops, partial-aggregable everything).
  */
object AnalyticsQueries {

  /** q_fd_mine's column lattice and its exhaustive single-column oracle:
    * every ordered pair verified from scratch in SQL, held pairs only —
    * what D235's pruned-then-verified mine must reproduce exactly. */
  private val FdMineCols =
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
  private val fdMineOracleSql: String = {
    val arms = for { a <- FdMineCols; b <- FdMineCols if a != b } yield s"""
      SELECT '$a' AS det, '$b' AS dep,
             coalesce(sum(CASE WHEN ndep > 1 THEN 1 ELSE 0 END), 0) = 0
               AS holds
      FROM (SELECT dv, count(*) AS ndep FROM
             (SELECT DISTINCT $a AS dv, $b AS pv FROM orders
              WHERE $a IS NOT NULL) GROUP BY dv)"""
    s"""SELECT det, dep FROM (${arms.mkString(" UNION ALL ")})
      WHERE holds ORDER BY det, dep"""
  }

  val defs: Map[String, Entry] = Map(

    // Bloom-pruned selective join (operators.BloomPrune): the dim keys are
    // aggregated into an 800 KB bloom INSIDE the plan (scalar subquery) and
    // the fact scan is pre-filtered with the codegen'd probe, so the fact
    // exchange carries ~20% of rows instead of 100%. False positives are
    // removed by the join itself — the oracle is the PLAIN join.
    "q_bloom_join" -> (((spark, dir) => {
      graft.operators.BloomPrune.register(spark)
      load(spark, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey").createOrReplaceTempView("bloom_dim")
      load(spark, dir, "lineitem").createOrReplaceTempView("bloom_fact")
      spark.sql("""
        WITH pruned AS (
          SELECT l_orderkey, l_extendedprice, l_discount FROM bloom_fact
          WHERE graft_might_contain(
            (SELECT graft_bloom_agg(xxhash64(o_orderkey),
                      CAST(100000 AS BIGINT), CAST(800000 AS BIGINT))
             FROM bloom_dim),
            xxhash64(l_orderkey)))
        SELECT count(*) AS n, count(DISTINCT p.l_orderkey) AS nk,
               CAST(SUM(CAST(CAST(p.l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(p.l_discount AS DECIMAL(3,2)))
                    AS DECIMAL(18,4))) AS DOUBLE) AS rev
        FROM pruned p JOIN bloom_dim d ON p.l_orderkey = d.o_orderkey""")
    }, Some("""
      SELECT count(*) AS n, count(DISTINCT l.l_orderkey) AS nk,
             CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
                  (1 - CAST(l.l_discount AS DECIMAL(3,2)))
                  AS DECIMAL(18,4))) AS DOUBLE) AS rev
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderpriority = '1-URGENT'"""))),

    // TPC-H Q19 shape: OR-of-conjuncts spanning both join sides. Catalyst
    // extracts each side's OR envelope (brand/size disjunction, quantity
    // disjunction) as single-side predicates and pushes them INTO both
    // parquet scans (asserted in PushdownSpec) — the cross-side OR itself
    // runs post-join. At 100 TB that scan-level pre-filter is the
    // difference between reading 3 brands and reading all of them.
    "q19_discount" -> (((spark, dir) => {
      val li = load(spark, dir, "lineitem")
      val p = load(spark, dir, "part")
      def clause(brand: String, szHi: Int, qLo: Int, qHi: Int) =
        col("p_brand") === brand && col("p_size").between(1, szHi) &&
          col("l_quantity").between(qLo, qHi)
      li.join(p, col("l_partkey") === col("p_partkey"))
        .filter(clause("Brand#1", 15, 1, 11) ||
          clause("Brand#2", 25, 10, 20) || clause("Brand#3", 35, 20, 30))
        .agg(count(lit(1)).as("n"),
          sum((d18(col("l_extendedprice")) *
            (lit(1) - col("l_discount").cast("decimal(3,2)")))
            .cast("decimal(18,4)")).cast("double").as("revenue"))
    }, Some("""
      SELECT count(*) AS n,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                  (1 - CAST(l_discount AS DECIMAL(3,2)))
                  AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
             AND l.l_quantity BETWEEN 1 AND 11)
         OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
             AND l.l_quantity BETWEEN 10 AND 20)
         OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
             AND l.l_quantity BETWEEN 20 AND 30)"""))),

    // TPC-H Q22 shape: scalar-aggregate threshold + anti join. The "above
    // average balance" predicate is computed as ONE aggregated row and
    // broadcast; the comparison is exact decimal (bal*n > total avoids
    // engine-specific double-avg summation order entirely).
    "q22_no_urgent" -> (((spark, dir) => {
      val c = load(spark, dir, "customer")
      val thr = c.filter(col("c_acctbal") > 0)
        .agg(sum(d18(col("c_acctbal"))).as("total"),
          count(lit(1)).as("n_pos"))
      val urgent = load(spark, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
      c.crossJoin(broadcast(thr))
        .filter(d18(col("c_acctbal")) * col("n_pos") > col("total"))
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("numcust"),
          dsum(col("c_acctbal")).as("totacctbal"))
        .orderBy("c_nationkey")
    }, Some("""
      WITH t AS (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS total,
                        count(*) AS n_pos
                 FROM customer WHERE c_acctbal > 0)
      SELECT c_nationkey, count(*) AS numcust,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               AS totacctbal
      FROM customer c, t
      WHERE CAST(c_acctbal AS DECIMAL(18,2)) * t.n_pos > t.total
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderpriority = '1-URGENT')
      GROUP BY 1 ORDER BY 1"""))),

    // Equi-width histogram (profiling primitive): one partial-aggregable
    // groupBy on a computed bucket — the 100 TB way to eyeball a
    // distribution (vs. sampling or sorting). Bucket arithmetic is plain
    // IEEE double math, identical in both engines.
    "q_histogram" -> (((spark, dir) => {
      load(spark, dir, "lineitem")
        .select(least(greatest(floor(col("l_extendedprice") / 10000.0),
          lit(0L)), lit(10L)).cast("int").as("bucket"),
          col("l_extendedprice"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), min("l_extendedprice").as("lo"),
          max("l_extendedprice").as("hi"))
        .orderBy("bucket")
    }, Some("""
      SELECT CAST(LEAST(GREATEST(FLOOR(l_extendedprice / 10000.0), 0), 10)
               AS INT) AS bucket,
             count(*) AS n, min(l_extendedprice) AS lo,
             max(l_extendedprice) AS hi
      FROM lineitem GROUP BY 1 ORDER BY 1"""))),

    // D233 — functional-dependency + candidate-key verification
    // (operators.FuncDeps): the profiling step schema inference and
    // MERGE-key validation rest on — A→B holds iff every non-null A
    // maps to ONE distinct B; per pair one map-side-combinable distinct
    // over the (A,B) domain (the shuffle carries the domain, never the
    // table). One holding and two violated dependencies across two
    // tables, violation counts exact; the key check require()s the
    // known key/non-key split in-gate.
    "q_fd_discover" -> (((spark, dir) => {
      val fd = graft.operators.FuncDeps.check(load(spark, dir, "orders"),
          Seq(("o_orderkey", "o_custkey"),
            ("o_custkey", "o_orderpriority")))
        .unionByName(graft.operators.FuncDeps.check(
          load(spark, dir, "lineitem"),
          Seq(("l_orderkey", "l_returnflag"))))
      val keys = graft.operators.FuncDeps.keyCheck(
        load(spark, dir, "orders"), Seq("o_orderkey", "o_custkey"))
        .collect().map(r => r.getString(0) -> r.getBoolean(2)).toMap
      require(keys("o_orderkey") && !keys("o_custkey"),
        s"key check must split the known key from the repeating " +
          s"column (got $keys)")
      fd.orderBy("det", "dep")
    }, Some("""
      WITH f1 AS (SELECT dv, count(*) AS ndep FROM
               (SELECT DISTINCT o_orderkey AS dv, o_custkey AS pv
                FROM orders WHERE o_orderkey IS NOT NULL) GROUP BY dv),
      f2 AS (SELECT dv, count(*) AS ndep FROM
               (SELECT DISTINCT o_custkey AS dv, o_orderpriority AS pv
                FROM orders WHERE o_custkey IS NOT NULL) GROUP BY dv),
      f3 AS (SELECT dv, count(*) AS ndep FROM
               (SELECT DISTINCT l_orderkey AS dv, l_returnflag AS pv
                FROM lineitem WHERE l_orderkey IS NOT NULL) GROUP BY dv)
      SELECT 'o_orderkey' AS det, 'o_custkey' AS dep,
             CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(CASE WHEN ndep > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating,
             sum(CASE WHEN ndep > 1 THEN 1 ELSE 0 END) = 0 AS holds
      FROM f1
      UNION ALL
      SELECT 'o_custkey', 'o_orderpriority', CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN ndep > 1 THEN 1 ELSE 0 END) AS BIGINT),
             sum(CASE WHEN ndep > 1 THEN 1 ELSE 0 END) = 0
      FROM f2
      UNION ALL
      SELECT 'l_orderkey', 'l_returnflag', CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN ndep > 1 THEN 1 ELSE 0 END) AS BIGINT),
             sum(CASE WHEN ndep > 1 THEN 1 ELSE 0 END) = 0
      FROM f3
      ORDER BY det, dep"""))),

    // D235 — bounded single-column FD DISCOVERY (FuncDeps.mine): the
    // candidate-generation half in front of D233's verification. Every
    // ordered pair over four orders columns, pruned BEFORE any data
    // pass by the NDV rule (null-free A: ndv(B) > ndv(A) refutes A→B),
    // survivors verified exactly by check(). In-gate proofs: pruning
    // refuted a real share of the lattice; an exhaustive check over the
    // pruned pairs finds ZERO holding (the rule is sound); and the
    // metadata-priced arm — the o_custkey NDV supplied by a D231
    // sidecar ESTIMATE instead of a scan — discovers the identical
    // held set. Oracle: the exhaustive single-column scan in SQL.
    "q_fd_mine" -> (((spark, dir) => {
      val ord = load(spark, dir, "orders").select(FdMineCols.map(col): _*)
      val mined = graft.operators.FuncDeps.mine(ord, FdMineCols)
        .localCheckpoint()
      Q.Phase.opDone() // soundness + metadata-arm proofs below
      // PROOF arms run at correctness SF only (the Q.benchLean contract
      // sim_knn_graph_incr already follows): the soundness sweep is a
      // second full scan and the metadata arm a full re-mine — pure
      // proof, computed strictly after the checkpointed result frame
      if (!Q.benchLean) {
        val all = for { a <- FdMineCols; b <- FdMineCols if a != b }
          yield (a, b)
        val survivors = mined.select("det", "dep").collect()
          .map(r => (r.getString(0), r.getString(1))).toSet
        require(survivors.size < all.size,
          s"the NDV rule must refute part of the lattice " +
            s"(${survivors.size}/${all.size} survived)")
        val pruned = all.filterNot(survivors)
        require(graft.operators.FuncDeps.check(ord, pruned)
          .filter(col("holds")).count() == 0L,
          "the NDV rule must never prune a true dependency")
        // metadata-priced arm: the determinant profile for o_custkey
        // comes from the D231 KMV sidecar (zero scan for that column),
        // slack absorbs the estimate error, held set must not move
        val tmp = Q.scratchDir("fd_mine")
        try {
          val t = tmp.resolve("ord").toString
          ord.coalesce(4).write.parquet(t)
          graft.sink.Sidecars.declare(spark, t,
            Seq(graft.sink.Sidecars.Ndv("o_custkey", k = 256)))
          val est = graft.sink.MetadataAgg.ndvEstimate(t, "o_custkey").get
          val hinted = graft.operators.FuncDeps.mine(ord, FdMineCols,
            ndvHints = Map("o_custkey" -> est),
            nullFreeHints = Set("o_custkey"))
          val h1 = mined.filter(col("holds")).select("det", "dep")
          val h2 = hinted.filter(col("holds")).select("det", "dep")
          require(h1.exceptAll(h2).isEmpty && h2.exceptAll(h1).isEmpty,
            "the sidecar-hinted mine must discover the same held set")
        } finally graft.sink.StageWriter.deleteRecursively(tmp)
      }
      mined.filter(col("holds")).select("det", "dep")
        .orderBy("det", "dep")
    }, Some(fdMineOracleSql))),

    // Column profiling summary (long format): rows / nulls / exact NDV /
    // min / max in ONE scan (stack pivots the single agg row). Exact NDV
    // shuffles distinct values — the approx twin for 100 TB casual use is
    // q_approx_distinct; this is the audit-grade variant.
    "q_profile" -> (((spark, dir) => {
      load(spark, dir, "customer")
        .agg(count(lit(1)).cast("double").as("n_rows"),
          sum(when(col("c_acctbal").isNull, 1).otherwise(0)).cast("double")
            .as("acctbal_nulls"),
          countDistinct(col("c_acctbal")).cast("double").as("acctbal_ndv"),
          min(col("c_acctbal")).as("acctbal_min"),
          max(col("c_acctbal")).as("acctbal_max"),
          countDistinct(col("c_mktsegment")).cast("double")
            .as("mktsegment_ndv"))
        .select(expr("""stack(6,
          'rows', n_rows,
          'acctbal_nulls', acctbal_nulls,
          'acctbal_ndv', acctbal_ndv,
          'acctbal_min', acctbal_min,
          'acctbal_max', acctbal_max,
          'mktsegment_ndv', mktsegment_ndv) AS (metric, value)"""))
        .orderBy("metric")
    }, Some("""
      WITH a AS (SELECT count(*) AS n_rows,
        SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS acctbal_nulls,
        count(DISTINCT c_acctbal) AS acctbal_ndv,
        min(c_acctbal) AS acctbal_min, max(c_acctbal) AS acctbal_max,
        count(DISTINCT c_mktsegment) AS mktsegment_ndv FROM customer)
      SELECT 'rows' AS metric, CAST(n_rows AS DOUBLE) AS value FROM a
      UNION ALL SELECT 'acctbal_nulls', CAST(acctbal_nulls AS DOUBLE) FROM a
      UNION ALL SELECT 'acctbal_ndv', CAST(acctbal_ndv AS DOUBLE) FROM a
      UNION ALL SELECT 'acctbal_min', acctbal_min FROM a
      UNION ALL SELECT 'acctbal_max', acctbal_max FROM a
      UNION ALL SELECT 'mktsegment_ndv', CAST(mktsegment_ndv AS DOUBLE) FROM a
      ORDER BY metric"""))),

    // Blocked fuzzy matching: edit-distance candidate pairs WITHIN a
    // blocking key (brand, size) — the classic entity-resolution shape. The
    // block bounds the quadratic term (max block here is 7 rows; at 100 TB
    // the blocking key is chosen so blocks fit a task), and the join itself
    // is an equi-join on the block key, so it shuffles linearly.
    "q_fuzzy" -> (((spark, dir) => {
      val p = load(spark, dir, "part")
        .select("p_partkey", "p_brand", "p_size", "p_name")
      val a = p.toDF("a_key", "p_brand", "p_size", "a_name")
      val b = p.toDF("b_key", "p_brand", "p_size", "b_name")
      a.join(b, Seq("p_brand", "p_size"))
        .filter(col("a_key") < col("b_key"))
        .withColumn("dist", levenshtein(col("a_name"), col("b_name")))
        .filter(col("dist") <= 4) // computed once, filter + output reuse it
        .select("p_brand", "a_key", "b_key", "dist")
        .orderBy("a_key", "b_key")
    }, Some("""
      SELECT a.p_brand, a.p_partkey AS a_key, b.p_partkey AS b_key,
             levenshtein(a.p_name, b.p_name) AS dist
      FROM part a JOIN part b
        ON a.p_brand = b.p_brand AND a.p_size = b.p_size
       AND a.p_partkey < b.p_partkey
      WHERE levenshtein(a.p_name, b.p_name) <= 4
      ORDER BY a_key, b_key"""))),

    // Time-series gap-fill + linear interpolation: hourly per-type value
    // series, missing hours generated from a sequence spine and filled by
    // interpolating between the nearest observed neighbours (edge gaps take
    // the single existing neighbour). Windows are partitioned by the series
    // key, so each series interpolates in parallel — no global sort.
    "evt_gapfill" -> (((spark, dir) => {
      val hourly = load(spark, dir, "events")
        .select(col("event_type"), expr("ts div 3600000000000").as("h"),
          col("value"))
        .groupBy("event_type", "h").agg(dsum(col("value")).as("v"))
      graft.operators.GapFill.fill(hourly, "event_type", "h", "v")
        .select(col("event_type"), col("h"),
          round(col("filled"), 6).as("filled"), col("was_gap"))
        .orderBy("event_type", "h")
    }, Some("""
      WITH hourly AS (
        SELECT event_type, epoch_ns(ts) // 3600000000000 AS h,
               CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v
        FROM events GROUP BY 1, 2),
      bounds AS (SELECT event_type, min(h) AS lo, max(h) AS hi
                 FROM hourly GROUP BY 1),
      spine AS (SELECT event_type, unnest(generate_series(lo, hi)) AS h
                FROM bounds),
      j AS (SELECT s.event_type, s.h, hr.v
            FROM spine s LEFT JOIN hourly hr
              ON s.event_type = hr.event_type AND s.h = hr.h),
      w AS (SELECT event_type, h, v,
        last_value(v IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY h ROWS UNBOUNDED PRECEDING) AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY h ROWS UNBOUNDED PRECEDING) AS ph,
        first_value(v IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY h
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY h
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
        FROM j)
      SELECT event_type, h,
        ROUND(CASE WHEN v IS NOT NULL THEN v
              WHEN pv IS NULL THEN nv
              WHEN nv IS NULL THEN pv
              ELSE pv + (nv - pv) * (h - ph) / (nh - ph) END, 6) AS filled,
        CASE WHEN v IS NULL THEN 1 ELSE 0 END AS was_gap
      FROM w ORDER BY event_type, h"""))),

    // Funnel conversion: per user, first 'view' then first 'purchase'
    // within 24 h of it. The per-user anchor comes from a user-partitioned
    // window MIN, so the events scan ONCE and shuffle once on user_id; the
    // per-user regroup reuses that partitioning (an agg-then-join-back form
    // would scan and shuffle twice).
    "evt_funnel" -> (((spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
      load(spark, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
        .withColumn("first_view",
          min(when(col("event_type") === "view", col("ts"))).over(w))
        .filter(col("first_view").isNotNull)
        .groupBy(col("user_id"), col("first_view"))
        .agg(min(when(col("event_type") === "purchase" &&
          col("ts") >= col("first_view") &&
          col("ts") < col("first_view") + lit(86400000000000L),
          col("ts"))).as("first_purchase"))
        .agg(count(lit(1)).as("viewers"),
          count(col("first_purchase")).as("converted"))
    }, Some("""
      WITH u AS (
        SELECT user_id,
          min(CASE WHEN event_type = 'view' THEN epoch_ns(ts) END)
            AS first_view
        FROM events GROUP BY 1),
      conv AS (
        SELECT u.user_id, u.first_view,
          min(CASE WHEN e.event_type = 'purchase'
                   AND epoch_ns(e.ts) >= u.first_view
                   AND epoch_ns(e.ts) < u.first_view + 86400000000000
              THEN epoch_ns(e.ts) END) AS first_purchase
        FROM u JOIN events e ON e.user_id = u.user_id
        WHERE u.first_view IS NOT NULL
        GROUP BY 1, 2)
      SELECT count(*) AS viewers, count(first_purchase) AS converted
      FROM conv"""))),

    // N-step ordered funnel (operators.Funnel): view → click within 24 h
    // of the first view → purchase within 24 h of THAT click. Chained
    // window MINs over one user partitioning — one events scan, one
    // shuffle, no join-backs (the per-step windows all reuse the same
    // exchange). Oracle = the identical chained-window form in DuckDB.
    "evt_funnel_steps" -> (((spark, dir) => {
      val day = 86400000000000L
      graft.operators.Funnel.counts(load(spark, dir, "events"),
        "user_id", "event_type", "ts", "view",
        Seq(("click", day), ("purchase", day)))
    }, Some("""
      WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS t FROM events),
      s1 AS (
        SELECT *, min(CASE WHEN event_type = 'view' THEN t END)
                    OVER (PARTITION BY user_id) AS t1 FROM e),
      s2 AS (
        SELECT *, min(CASE WHEN event_type = 'click' AND t >= t1
                        AND t < t1 + 86400000000000 THEN t END)
                    OVER (PARTITION BY user_id) AS t2 FROM s1),
      s3 AS (
        SELECT *, min(CASE WHEN event_type = 'purchase' AND t >= t2
                        AND t < t2 + 86400000000000 THEN t END)
                    OVER (PARTITION BY user_id) AS t3 FROM s2),
      u AS (SELECT user_id, min(t1) AS t1, min(t2) AS t2, min(t3) AS t3
            FROM s3 WHERE t1 IS NOT NULL GROUP BY 1)
      SELECT count(t1) AS step1_users, count(t2) AS step2_users,
             count(t3) AS step3_users
      FROM u"""))),

    // Cohort retention: cohort = each user's first active day; count
    // distinct users active at each day offset. The cohort comes from a
    // user-partitioned window MIN over the distinct activity — ONE events
    // scan and one distinct shuffle (the agg-then-join-back form scans the
    // events twice and shuffles the distinct twice; verified in PlanAudit).
    "evt_retention" -> (((spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val act = load(spark, dir, "events")
        .select(col("user_id"), expr("ts div 86400000000000").as("d"))
        .distinct()
      act.withColumn("cohort",
          min("d").over(Window.partitionBy("user_id")))
        .groupBy((col("d") - col("cohort")).as("offset_days"))
        .agg(count_distinct(col("user_id")).as("n"))
        .orderBy("offset_days")
    }, Some("""
      WITH act AS (SELECT DISTINCT user_id,
                     epoch_ns(ts) // 86400000000000 AS d FROM events),
      coh AS (SELECT user_id, min(d) AS cohort FROM act GROUP BY 1)
      SELECT a.d - c.cohort AS offset_days, count(DISTINCT a.user_id) AS n
      FROM act a JOIN coh c USING (user_id)
      GROUP BY 1 ORDER BY 1"""))),

    // Rolling z-score anomaly detection: hourly per-type series, trailing
    // 24-bucket mean/variance from EXACT decimal window sums (S, Q) — the
    // double math happens once at the end with identical formula text in
    // both engines, so round(z,4) hash-matches. Series-partitioned windows:
    // every series scores in parallel, no global sort. The warm-up guard
    // (n >= 12) suppresses the unstable early frames.
    "evt_anomaly" -> (((spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hourly = load(spark, dir, "events")
        .select(col("event_type"), expr("ts div 3600000000000").as("h"),
          col("value"))
        .groupBy("event_type", "h")
        .agg(sum(d18(col("value"))).cast("decimal(18,2)").as("vd"))
      val w = Window.partitionBy("event_type").orderBy("h")
        .rowsBetween(-23, 0)
      val win = hourly.select(col("event_type"), col("h"), col("vd"),
        count(lit(1)).over(w).as("n"),
        sum(col("vd")).over(w).cast("double").as("s"),
        sum(col("vd") * col("vd")).over(w).cast("double").as("q"))
      val z = win.filter(col("n") >= 12)
        .withColumn("v", col("vd").cast("double"))
        .withColumn("variance",
          (col("q") - col("s") * col("s") / col("n")) / (col("n") - 1))
        .withColumn("dev", col("v") - col("s") / col("n"))
      z.filter(col("variance") > 0 &&
          abs(col("dev") / sqrt(col("variance"))) > 2.0)
        .select(col("event_type"), col("h"), col("v"),
          round(col("dev") / sqrt(col("variance")), 4).as("z"))
        .orderBy("event_type", "h")
    }, Some("""
      WITH hourly AS (
        SELECT event_type, epoch_ns(ts) // 3600000000000 AS h,
               CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DECIMAL(18,2))
                 AS vd
        FROM events GROUP BY 1, 2),
      win AS (
        SELECT event_type, h, vd,
          COUNT(*) OVER w AS n,
          CAST(SUM(vd) OVER w AS DOUBLE) AS s,
          CAST(SUM(vd * vd) OVER w AS DOUBLE) AS q
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY h
                     ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
      z AS (
        SELECT event_type, h, CAST(vd AS DOUBLE) AS v, n,
               (q - s * s / n) / (n - 1) AS var,
               CAST(vd AS DOUBLE) - s / n AS dev
        FROM win WHERE n >= 12)
      SELECT event_type, h, v, ROUND(dev / sqrt(var), 4) AS z
      FROM z WHERE var > 0 AND abs(dev / sqrt(var)) > 2.0
      ORDER BY event_type, h"""))),

    // Higher-order array functions battery: filter / transform / aggregate
    // (left fold) / sort+slice over the embedding vectors — all per-row,
    // zero shuffles, fully codegen-adjacent (no UDFs). The fold runs left-
    // to-right in both engines, so even float→double sums are ulp-equal.
    "q_array_hof" -> (((spark, dir) => {
      val e = col("embedding")
      load(spark, dir, "embeddings")
        .select(col("vec_id"),
          size(filter(e, x => x > 0f)).as("n_pos"),
          round(aggregate(e, lit(0.0),
            (acc, x) => acc + abs(x.cast("double"))), 4).as("l1"),
          round(sort_array(e, asc = false).getItem(0).cast("double"), 4)
            .as("top1"),
          round(sort_array(e, asc = false).getItem(1).cast("double"), 4)
            .as("top2"))
        .orderBy("vec_id")
    }, Some("""
      SELECT vec_id,
             len(list_filter(embedding, x -> x > 0)) AS n_pos,
             round(list_reduce(list_prepend(0.0,
               list_transform(embedding::DOUBLE[], x -> abs(x))),
               (a, b) -> a + b), 4) AS l1,
             round((list_sort(embedding::DOUBLE[], 'DESC'))[1], 4) AS top1,
             round((list_sort(embedding::DOUBLE[], 'DESC'))[2], 4) AS top2
      FROM embeddings ORDER BY vec_id"""))),

    // Built-in session windows (session_window, the declarative twin of
    // streaming.Streams' flatMapGroupsWithState sessionizer in
    // evt_sessionize): gap-merged sessions as a grouping expression — one
    // shuffle on (user, window), merging handled by the aggregation
    // itself. The oracle mirrors session_window's END-EXCLUSIVE boundary
    // (an event exactly `gap` after the previous one starts a NEW
    // session: delta >= gap) on microsecond-truncated timestamps — the
    // precision Spark actually compares at (`timestamp_micros`).
    "evt_session_window" -> (((spark, dir) => {
      load(spark, dir, "events")
        .withColumn("tst", timestamp_micros(expr("ts div 1000")))
        .groupBy(col("user_id"), session_window(col("tst"), "1 hour"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          col("n_events"), col("total"))
        .orderBy("user_id", "start_us")
    }, Some("""
      WITH marked AS (
        SELECT user_id, epoch_ns(ts) // 1000 AS tsu, "value",
               CASE WHEN epoch_ns(ts) // 1000
                      - lag(epoch_ns(ts) // 1000) OVER
                        (PARTITION BY user_id ORDER BY epoch_ns(ts))
                    >= 3600 * CAST(1000000 AS BIGINT) THEN 1 ELSE 0 END
                 AS new_s
        FROM events),
      sess AS (
        SELECT user_id, tsu, "value",
               CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY tsu
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        FROM marked)
      SELECT user_id, min(tsu) AS start_us, count(*) AS n_events,
             CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM sess GROUP BY user_id, sid
      ORDER BY user_id, start_us"""))),

    // Distribution window functions: ntile / percent_rank / cume_dist over
    // a deterministic (value, key) order — the window-family gap the rank/
    // navigation batteries don't cover. Both engines define all three
    // identically; the composite sort key removes tie ambiguity.
    "q_window_dist" -> (((spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal"), col("c_custkey"))
      load(spark, dir, "customer")
        .filter(col("c_custkey") <= 200)
        .select(col("c_mktsegment"), col("c_custkey"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"))
        .orderBy("c_mktsegment", "c_custkey")
    }, Some("""
      SELECT c_mktsegment, c_custkey,
             ntile(4) OVER w AS quartile,
             round(percent_rank() OVER w, 6) AS pr,
             round(cume_dist() OVER w, 6) AS cd
      FROM customer WHERE c_custkey <= 200
      WINDOW w AS (PARTITION BY c_mktsegment
                   ORDER BY c_acctbal, c_custkey)
      ORDER BY c_mktsegment, c_custkey"""))),

    // Explicit GROUPING SETS (beyond the cube/rollup specializations):
    // arbitrary aggregation lattice in ONE pass over the scan — Spark
    // expands to a single shuffle with a grouping-id, not one job per set.
    "q_grouping_sets" -> (((spark, dir) => {
      load(spark, dir, "orders").createOrReplaceTempView("gs_orders")
      spark.sql("""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total
        FROM gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority))
        ORDER BY status, priority""")
    }, Some("""
      SELECT coalesce(o_orderstatus, 'ALL') AS status,
             coalesce(o_orderpriority, 'ALL') AS priority,
             count(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                              (o_orderstatus, o_orderpriority))
      ORDER BY status, priority"""))),

    // REAL stream-static enrichment in the gate: the events parquet
    // replayed as a stream, joined per-micro-batch against a STATIC dim
    // (broadcast — the static side never shuffles or re-reads per batch),
    // aggregated in complete mode. Oracle = the batch join.
    "evt_stream_static" -> (((spark, dir) => withStreamPartitions(spark) {
      import org.apache.spark.sql.streaming.Trigger
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val schema = spark.read.parquet(s"$dir/events.parquet").schema
      val in = spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val dim = load(spark, dir, "nation")
        .select(col("n_nationkey").cast("long").as("nk"), col("n_name"))
      val agg = in.withColumn("nk", col("user_id") % 25)
        .join(broadcast(dim), "nk")
        .groupBy("n_name")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      val sink = s"evt_stream_static_${Q.nextSinkId()}"
      val q = agg.writeStream.format("memory").queryName(sink)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(sink).orderBy("n_name")
    }, Some("""
      SELECT n_name, count(*) AS n,
             CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
      GROUP BY 1 ORDER BY 1"""))),

    // REAL stream-stream interval join in the gate (evt_interval_join's
    // batch twin promoted): errors and clicks replayed as TWO watermarked
    // file streams, joined on user within a 24 h lookback — Spark buffers
    // both sides in state and evicts past the watermark. Oracle = the
    // batch interval join.
    "evt_stream_interval" -> (((spark, dir) => withStreamPartitions(spark) {
      import org.apache.spark.sql.streaming.Trigger
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val schema = spark.read.parquet(s"$dir/events.parquet").schema
      def in = spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val joined = graft.streaming.Streams.intervalJoin(
        in.filter(col("event_type") === "error"),
        in.filter(col("event_type") === "click"),
        "user_id", Seq("event_id"), window = "24 hours")
      val sink = s"evt_stream_interval_${Q.nextSinkId()}"
      val q = joined.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(sink)
        .groupBy(col("event_id"), col("user_id"))
        .agg(count(lit(1)).as("n_clicks"))
        .orderBy("event_id")
    }, Some("""
      WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tsu
                 FROM events WHERE event_type = 'error'),
           c AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tsu
                 FROM events WHERE event_type = 'click')
      SELECT e.event_id, e.user_id, count(*) AS n_clicks
      FROM e JOIN c ON e.user_id = c.user_id
       AND c.tsu >= e.tsu - CAST(86400 AS BIGINT) * 1000000 AND c.tsu <= e.tsu
      GROUP BY 1, 2 ORDER BY e.event_id"""))),

    // D117 — streaming LEFT-OUTER interval join: every error event emits,
    // matched with its 24 h click context or with NULL right columns once
    // the watermark PROVES no match can arrive (outer rows only flush
    // when late data becomes impossible). A fence pair 3 days past the
    // last real event (excluded from the result) advances the final
    // watermark so every unmatched error drains before the AvailableNow
    // query stops; maxFilesPerTrigger=1 forces the multi-batch watermark
    // advancement. Oracle = the batch LEFT JOIN.
    "evt_stream_interval_outer" -> (((spark, dir) => withStreamPartitions(spark) {
      import org.apache.spark.sql.streaming.Trigger
      import org.apache.spark.sql.expressions.Window
      val tmp = Q.scratchDir("outer_gate")
      try {
        val src = tmp.resolve("src").toString
        val evn = load(spark, dir, "events")
        Q.FixtureCache.link(spark, s"$dir|outer_src", src)(evn.coalesce(1))
        Q.FixtureCache.link(spark, s"$dir|outer_fence", src) {
          val mx = evn.agg(max(col("ts"))).head().getLong(0)
          val w = Window.partitionBy("event_type").orderBy("event_id")
          evn.filter(col("event_type").isin("error", "click"))
            .withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
            .withColumn("ts", lit(mx + 259200000000000L)) // +3 days (ns)
            .withColumn("user_id", lit(-999L))
            .withColumn("event_id", -col("event_id") - 1)
            .coalesce(1)
        }
        val schema = spark.read.parquet(src).schema
        Q.Phase.setupDone() // fence-augmented source fixture written
        // one-file-per-batch forces multi-batch watermark advancement —
        // correctness protocol (Q.benchLean contract); one batch +
        // the final no-data micro-batch flushes the same outer rows
        def in = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger",
            if (Q.benchLean) "1000" else "1")
          .parquet(src)
        val joined = graft.streaming.Streams.intervalJoin(
          in.filter(col("event_type") === "error"),
          in.filter(col("event_type") === "click"),
          "user_id", Seq("event_id"), window = "24 hours",
          joinType = "left_outer")
        val sink = s"evt_stream_outer_${Q.nextSinkId()}"
        val q = joined.writeStream.format("memory").queryName(sink)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        spark.table(sink)
          .filter(col("user_id") =!= -999L)
          .groupBy(col("event_id"), col("user_id"))
          .agg(count(col("r_event_id")).as("n_clicks"))
          .orderBy("event_id")
          // materialize off the memory sink before tmp is reclaimed
          .localCheckpoint()
      } finally graft.sink.StageWriter.deleteRecursively(tmp)
    }, Some("""
      WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tsu
                 FROM events WHERE event_type = 'error'),
           c AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tsu
                 FROM events WHERE event_type = 'click')
      SELECT e.event_id, e.user_id, count(c.event_id) AS n_clicks
      FROM e LEFT JOIN c ON e.user_id = c.user_id
       AND c.tsu >= e.tsu - CAST(86400 AS BIGINT) * 1000000
       AND c.tsu <= e.tsu
      GROUP BY 1, 2 ORDER BY e.event_id"""))),

    // Kill-restart EXACTLY-ONCE in the gate: half the events stream through
    // rawToStage, the query is STOPPED (simulated driver death after a
    // committed batch), the other half lands in raw, and a brand-new query
    // resumes from the SAME checkpoint. The oracle is the full batch over
    // ALL events — any replay (duplicates) or loss at the restart boundary
    // breaks n / n_ids / the decimal-exact total. Scratch dirs are
    // reclaimed after the counts materialize.
    "evt_stream_restart" -> (((spark, dir) => withStreamPartitions(spark) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val tmp = Q.scratchDir("restart_gate")
      val (raw, stage, chk) = (tmp.resolve("raw").toString,
        tmp.resolve("stage").toString, tmp.resolve("chk").toString)
      try {
        val ev = load(spark, dir, "events")
        Q.FixtureCache.link(spark, s"$dir|evt_restart_e1", raw)(
          ev.filter(col("event_id") % 2 === 0).coalesce(4))
        def run(): Unit = {
          val q = graft.streaming.Streams.rawToStage(spark, raw, stage, chk,
            df =>
              df.filter(col("event_type").isin("click", "view", "purchase")))
          q.processAllAvailable(); q.stop()
        }
        // the kill/restart arm is CORRECTNESS protocol (exactly-once
        // across a stop is what Verify proves); the bench times the
        // operator over one delivery — identical result by that proof
        if (!Q.benchLean) run() // first life commits the even half
        Q.FixtureCache.link(spark, s"$dir|evt_restart_e2", raw)(
          ev.filter(col("event_id") % 2 === 1))
        run() // restart: only the delta may be processed
        val row = spark.read.parquet(stage)
          .agg(count(lit(1)).as("n"),
            count_distinct(col("event_id")).as("ids"),
            dsum(col("value")).as("total")).head()
        spark.createDataFrame(Seq(
          (row.getLong(0), row.getLong(1), row.getDouble(2))))
          .toDF("n", "n_ids", "total")
      } finally graft.sink.StageWriter.deleteRecursively(tmp) // even on failure
    }, Some("""
      SELECT count(*) AS n, count(DISTINCT event_id) AS n_ids,
             CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM events WHERE event_type IN ('click', 'view', 'purchase')"""))),

    // Streaming exact dedup in the gate (Streams.dedupStream /
    // dropDuplicatesWithinWatermark): every event is delivered TWICE and
    // the stream must emit each event_id exactly once, with state bounded
    // by the watermark horizon instead of the stream length. Oracle = the
    // plain batch over the ORIGINAL (single-delivery) events.
    "evt_stream_dedup" -> (((spark, dir) => withStreamPartitions(spark) {
      import org.apache.spark.sql.streaming.Trigger
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val tmp = Q.scratchDir("sdedup_gate")
      val raw = tmp.resolve("raw").toString
      try {
        val ev = load(spark, dir, "events")
        Q.FixtureCache.link(spark, s"$dir|evt_dedup_dup", raw)(
          ev.unionByName(ev)) // duplicate delivery
        val schema = spark.read.parquet(raw).schema
        val in = spark.readStream.schema(schema).parquet(raw)
        val deduped = graft.streaming.Streams.dedupStream(in, Seq("event_id"))
        val sink = s"evt_stream_dedup_${Q.nextSinkId()}"
        val q = deduped.writeStream.format("memory").queryName(sink)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val row = spark.table(sink)
          .agg(count(lit(1)).as("n"),
            count_distinct(col("event_id")).as("ids"),
            dsum(col("value")).as("total")).head()
        spark.createDataFrame(Seq(
          (row.getLong(0), row.getLong(1), row.getDouble(2))))
          .toDF("n", "n_ids", "total")
      } finally graft.sink.StageWriter.deleteRecursively(tmp) // even on failure
    }, Some("""
      SELECT count(*) AS n, count(DISTINCT event_id) AS n_ids,
             CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM events"""))),

    // D127 — streaming CDC latest-wins apply (Streams.cdcLatestStream):
    // change events (key = user_id, sequence = event_id, delete when
    // event_type = 'purchase') are delivered OUT OF ORDER across two
    // epochs (evens first, odds appended, query restarted from its
    // checkpoint) — a stale odd-sequence change arriving after a fresher
    // even one must be SKIPPED by the per-key max-seq state, which the
    // gate asserts actually happened. Materialization = applied rows,
    // latest per key, deletes dropped; oracle = the batch dedup-latest
    // window over the SAME feed, which order-independence guarantees.
    "evt_stream_cdc_apply" -> (((spark, dir) => withStreamPartitions(spark) {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = Q.scratchDir("cdc_gate")
      val (raw, outp, chk) = (tmp.resolve("raw").toString,
        tmp.resolve("out").toString, tmp.resolve("chk").toString)
      try {
        val feed = load(spark, dir, "events").select(
          col("user_id").as("key"), col("event_id").as("seq"),
          when(col("event_type") === "purchase", "D").otherwise("U")
            .as("op"),
          col("value"))
        Q.FixtureCache.link(spark, s"$dir|cdc_apply_e1", raw)(
          feed.filter(col("seq") % 2 === 0).coalesce(1))
        val schema = spark.read.parquet(raw).schema
        def run(): Unit = {
          val in = spark.readStream.schema(schema).parquet(raw)
          val q = graft.streaming.Streams
            .cdcLatestStream(
              in.as[graft.streaming.Streams.CdcOp](
                org.apache.spark.sql.Encoders.product))
            .toDF().writeStream.format("parquet")
            .option("path", outp).option("checkpointLocation", chk)
            .outputMode("append").trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        run() // epoch 1: even sequences
        Q.FixtureCache.link(spark, s"$dir|cdc_apply_e2", raw)(
          feed.filter(col("seq") % 2 === 1).coalesce(1))
        run() // epoch 2: odd (often STALE) sequences against epoch-1 state
        val decisions = spark.read.parquet(outp)
        require(decisions.filter(!col("applied")).count() > 0,
          "no stale event was skipped — the out-of-order guard never fired")
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("key").orderBy(col("seq").desc)
        decisions.filter(col("applied"))
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .filter(col("op") === "U")
          .select(col("key").as("user_id"), col("seq").as("last_seq"),
            col("value"))
          .orderBy("user_id")
          .localCheckpoint() // materialize before the sink dir dies
      } finally graft.sink.StageWriter.deleteRecursively(tmp)
    }, Some("""
      SELECT user_id, event_id AS last_seq, "value"
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id
              ORDER BY event_id DESC) AS rn FROM events)
      WHERE rn = 1 AND event_type <> 'purchase'
      ORDER BY user_id"""))),

    // Weighted PageRank over the nation trade network (operators.PageRank):
    // edges = customer-nation -> supplier-nation trade counts aggregated
    // from lineitem|x|orders|x|customer|x|supplier|x|nation^2 (the 100 TB
    // part — one map-side-combinable groupBy over the star join); 3 power
    // iterations then run on the aggregated graph, every iteration two
    // src-keyed joins + one dst-keyed decimal-exact aggregation. The oracle
    // unrolls the same 3 iterations as CTEs.
    // D108 — label-propagation communities (operators.Communities):
    // synchronous weighted LPA with min-label tiebreak (the deterministic
    // variant — async LPA is visit-order-dependent and un-oracle-able)
    // over the nation trade network; the edge build IS the 100 TB star
    // join, the 2 rounds run on the 25-node aggregated graph. Oracle
    // replays both rounds.
    "q_communities" -> (((spark, dir) => {
      val li = load(spark, dir, "lineitem").select("l_orderkey", "l_suppkey")
      val ord = load(spark, dir, "orders").select("o_orderkey", "o_custkey")
      val cust = load(spark, dir, "customer")
        .select("c_custkey", "c_nationkey")
      val supp = load(spark, dir, "supplier")
        .select("s_suppkey", "s_nationkey")
      val nat = load(spark, dir, "nation").select("n_nationkey", "n_name")
      val edges = li
        .join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .join(broadcast(supp), li("l_suppkey") === supp("s_suppkey"))
        .join(broadcast(nat).as("cn"),
          cust("c_nationkey") === col("cn.n_nationkey"))
        .join(broadcast(nat).as("sn"),
          supp("s_nationkey") === col("sn.n_nationkey"))
        .groupBy(col("cn.n_name").as("src"), col("sn.n_name").as("dst"))
        .agg(count(lit(1)).as("w"))
      graft.operators.Communities.lpa(edges, "src", "dst", "w", rounds = 2)
        .select(col("node").as("nation"), col("community"))
        .orderBy("nation")
    }, Some("""
      WITH e0 AS (
        SELECT cn.n_name AS src, sn.n_name AS dst, count(*) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        GROUP BY 1, 2),
      und AS (SELECT a, b, CAST(sum(wt) AS BIGINT) AS wt FROM (
          SELECT src AS a, dst AS b, w AS wt FROM e0 WHERE src <> dst
          UNION ALL
          SELECT dst, src, w FROM e0 WHERE src <> dst) t
        GROUP BY 1, 2),
      l0 AS (SELECT DISTINCT a AS node, a AS lbl FROM und),
      v1 AS (SELECT und.a, l0.lbl, sum(wt) AS vw
             FROM und JOIN l0 ON und.b = l0.node GROUP BY 1, 2),
      l1 AS (SELECT a AS node, lbl FROM (
               SELECT a, lbl, row_number() OVER
                 (PARTITION BY a ORDER BY vw DESC, lbl) AS rn
               FROM v1) t WHERE rn = 1),
      v2 AS (SELECT und.a, l1.lbl, sum(wt) AS vw
             FROM und JOIN l1 ON und.b = l1.node GROUP BY 1, 2),
      l2 AS (SELECT a AS node, lbl FROM (
               SELECT a, lbl, row_number() OVER
                 (PARTITION BY a ORDER BY vw DESC, lbl) AS rn
               FROM v2) t WHERE rn = 1)
      SELECT node AS nation, lbl AS community FROM l2
      ORDER BY nation"""))),

    "q_pagerank" -> (((spark, dir) => {
      val li = load(spark, dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
      val ord = load(spark, dir, "orders").select("o_orderkey", "o_custkey")
      val cust = load(spark, dir, "customer")
        .select("c_custkey", "c_nationkey")
      val supp = load(spark, dir, "supplier")
        .select("s_suppkey", "s_nationkey")
      val nat = load(spark, dir, "nation").select("n_nationkey", "n_name")
      val edges = li
        .join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .join(broadcast(supp), li("l_suppkey") === supp("s_suppkey"))
        .join(broadcast(nat).as("cn"),
          cust("c_nationkey") === col("cn.n_nationkey"))
        .join(broadcast(nat).as("sn"),
          supp("s_nationkey") === col("sn.n_nationkey"))
        .groupBy(col("cn.n_name").as("src"), col("sn.n_name").as("dst"))
        .agg(count(lit(1)).as("w"))
      graft.operators.PageRank.run(edges, "src", "dst", "w", iters = 3)
        .select(col("node").as("nation"), col("r").as("pr6"))
        .orderBy("nation")
    }, Some("""
      WITH e AS (
        SELECT cn.n_name AS src, sn.n_name AS dst, count(*) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        GROUP BY 1, 2),
      outw AS (SELECT src, sum(w) AS out_w FROM e GROUP BY 1),
      nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      n AS (SELECT count(*) AS nn FROM nodes),
      r0 AS (SELECT node, round(1.0 / nn, 6) AS r FROM nodes CROSS JOIN n),
      c1 AS (SELECT e.dst, CAST(round(r0.r * e.w / outw.out_w, 8)
                      AS DECIMAL(28,8)) AS c8
             FROM e JOIN outw USING (src) JOIN r0 ON r0.node = e.src),
      s1 AS (SELECT dst, sum(c8) AS s FROM c1 GROUP BY 1),
      r1 AS (SELECT node, round(0.15 / nn + 0.85 *
               COALESCE(CAST(s AS DOUBLE), 0.0), 6) AS r
             FROM nodes CROSS JOIN n LEFT JOIN s1 ON s1.dst = nodes.node),
      c2 AS (SELECT e.dst, CAST(round(r1.r * e.w / outw.out_w, 8)
                      AS DECIMAL(28,8)) AS c8
             FROM e JOIN outw USING (src) JOIN r1 ON r1.node = e.src),
      s2 AS (SELECT dst, sum(c8) AS s FROM c2 GROUP BY 1),
      r2 AS (SELECT node, round(0.15 / nn + 0.85 *
               COALESCE(CAST(s AS DOUBLE), 0.0), 6) AS r
             FROM nodes CROSS JOIN n LEFT JOIN s2 ON s2.dst = nodes.node),
      c3 AS (SELECT e.dst, CAST(round(r2.r * e.w / outw.out_w, 8)
                      AS DECIMAL(28,8)) AS c8
             FROM e JOIN outw USING (src) JOIN r2 ON r2.node = e.src),
      s3 AS (SELECT dst, sum(c8) AS s FROM c3 GROUP BY 1),
      r3 AS (SELECT node, round(0.15 / nn + 0.85 *
               COALESCE(CAST(s AS DOUBLE), 0.0), 6) AS r
             FROM nodes CROSS JOIN n LEFT JOIN s3 ON s3.dst = nodes.node)
      SELECT node AS nation, r AS pr6 FROM r3 ORDER BY nation"""))),

    // Per-user event-type transition matrix (first-order Markov counts):
    // one user_id-keyed window to pair each event with its predecessor,
    // then a tiny |types|^2 aggregation; transition probabilities
    // normalize inside a prev-keyed window. At 100 TB the only large
    // exchange is the user_id window; its output aggregates map-side.
    "evt_transitions" -> (((spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val prevW = Window.partitionBy("prev")
      load(spark, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("prev", lag("event_type", 1).over(w))
        .filter(col("prev").isNotNull)
        .groupBy("prev", "event_type").agg(count(lit(1)).as("n"))
        .withColumn("p4", round(col("n").cast("double") /
          sum("n").over(prevW), 4))
        .select(col("prev"), col("event_type").as("next"), col("n"),
          col("p4"))
        .orderBy("prev", "next")
    }, Some("""
      WITH seq AS (
        SELECT event_type,
               lag(event_type) OVER (PARTITION BY user_id
                 ORDER BY epoch_ns(ts), event_id) AS prev
        FROM events),
      t AS (SELECT prev, event_type AS next, count(*) AS n
            FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2)
      SELECT prev, next, n,
             round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev), 4)
               AS p4
      FROM t ORDER BY prev, next"""))),

    // Frequent event trigrams (sequential-pattern head): two lags over ONE
    // user_id window (single exchange + sort serves both), a types^3 agg,
    // per-task-heap top-20. The behavioral-mining twin of evt_transitions.
    "evt_seq3" -> (((spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      load(spark, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("e3"))
        .withColumn("e2", lag("e3", 1).over(w))
        .withColumn("e1", lag("e3", 2).over(w))
        .filter(col("e1").isNotNull)
        .groupBy("e1", "e2", "e3").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
        .limit(20)
    }, Some("""
      WITH seq AS (
        SELECT event_type AS e3,
               lag(event_type, 1) OVER (PARTITION BY user_id
                 ORDER BY epoch_ns(ts), event_id) AS e2,
               lag(event_type, 2) OVER (PARTITION BY user_id
                 ORDER BY epoch_ns(ts), event_id) AS e1
        FROM events)
      SELECT e1, e2, e3, count(*) AS n FROM seq WHERE e1 IS NOT NULL
      GROUP BY 1, 2, 3 ORDER BY n DESC, e1, e2, e3 LIMIT 20"""))),

    // Per-window distinct-user sketches: the KMV bounded aggregator
    // (functions.KmvDistinct — mergeable, map-side-combinable, <= 16·8
    // bytes of state per hour group at ANY scale) beside the exact count;
    // the windowed twin of q_kmv_distinct, the shape streaming dashboards
    // aggregate 100 TB of events with. Oracle replays the k-min set per
    // hour via row_number.
    "evt_window_distinct" -> (((spark, dir) => {
      val p = graft.llm.Dedup.PortableP
      val h = graft.llm.Dedup.portableWordHash(col("user_id"))
      load(spark, dir, "events")
        .withColumn("hr", expr("ts div 3600000000000"))
        .groupBy("hr")
        .agg(count_distinct(col("user_id")).as("exact_nd"),
          round(graft.functions.KmvDistinct.kmv(h, 16, p.toDouble), 4)
            .as("kmv_est"))
        .orderBy("hr")
    }, Some {
      val p = graft.llm.Dedup.PortableP
      s"""
      WITH hset AS (
        SELECT DISTINCT epoch_ns(ts) // 3600000000000 AS hr,
               CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)),
                 1, 15)) AS BIGINT) % $p AS h
        FROM events),
      ranked AS (
        SELECT hr, h,
               row_number() OVER (PARTITION BY hr ORDER BY h) AS rn,
               count(*) OVER (PARTITION BY hr) AS nd
        FROM hset),
      est AS (
        SELECT hr,
               CASE WHEN nd < 16 THEN CAST(nd AS DOUBLE)
                    ELSE 15.0 / (CAST(h AS DOUBLE) / $p) END AS kmv_est
        FROM ranked WHERE rn = least(16, nd)),
      exact AS (
        SELECT epoch_ns(ts) // 3600000000000 AS hr,
               count(DISTINCT user_id) AS exact_nd
        FROM events GROUP BY 1)
      SELECT hr, exact_nd, round(kmv_est, 4) AS kmv_est
      FROM exact JOIN est USING (hr)
      ORDER BY hr"""
    })),

    // Triangle counting on the nation trade graph (degree-ordered
    // orientation — each triangle counted ONCE, and the oriented join
    // fan-out is bounded by the max ORIENTED degree, the standard trick
    // that makes triangle counting feasible on power-law graphs): edges
    // orient from lower (degree, node) to higher, one self-join builds
    // wedges, one join closes them. The edge build is the 100 TB star
    // join; the triangle algebra runs on the aggregated graph.
    "q_triangles" -> (((spark, dir) => {
      val li = load(spark, dir, "lineitem").select("l_orderkey", "l_suppkey")
      val ord = load(spark, dir, "orders").select("o_orderkey", "o_custkey")
      val cust = load(spark, dir, "customer")
        .select("c_custkey", "c_nationkey")
      val supp = load(spark, dir, "supplier")
        .select("s_suppkey", "s_nationkey")
      val nat = load(spark, dir, "nation").select("n_nationkey", "n_name")
      val raw = li
        .join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .join(broadcast(supp), li("l_suppkey") === supp("s_suppkey"))
        .join(broadcast(nat).as("cn"),
          cust("c_nationkey") === col("cn.n_nationkey"))
        .join(broadcast(nat).as("sn"),
          supp("s_nationkey") === col("sn.n_nationkey"))
        .filter(col("cn.n_name") =!= col("sn.n_name"))
        .select(least(col("cn.n_name"), col("sn.n_name")).as("u"),
          greatest(col("cn.n_name"), col("sn.n_name")).as("v"))
        .distinct().localCheckpoint()
      val deg = raw.select(col("u").as("x")).union(raw.select(col("v")))
        .groupBy("x").agg(count(lit(1)).as("d"))
      // orient each undirected edge from the (degree, name)-smaller
      // endpoint to the larger
      val oriented = raw
        .join(deg.toDF("x", "du"), col("u") === col("x")).drop("x")
        .join(deg.toDF("y", "dv"), col("v") === col("y")).drop("y")
        .select(
          when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
            struct(col("u").as("a"), col("v").as("b")))
            .otherwise(struct(col("v").as("a"), col("u").as("b")))
            .as("e"))
        .select(col("e.a"), col("e.b"))
      val wedges = oriented.toDF("a", "b")
        .join(oriented.toDF("a", "c"), "a")
        .filter(col("b") < col("c"))
      val tris = wedges.join(
        raw.select(least(col("u"), col("v")).as("b"),
          greatest(col("u"), col("v")).as("c")),
        Seq("b", "c"))
      tris.agg(count(lit(1)).as("n_triangles"),
        count_distinct(col("a")).as("n_apex_nations"))
    }, Some("""
      WITH raw AS (
        SELECT DISTINCT least(cn.n_name, sn.n_name) AS u,
               greatest(cn.n_name, sn.n_name) AS v
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        WHERE cn.n_name <> sn.n_name),
      deg AS (SELECT x, count(*) AS d FROM (
                SELECT u AS x FROM raw UNION ALL SELECT v FROM raw)
              GROUP BY 1),
      oriented AS (
        SELECT CASE WHEN (du.d, r.u) < (dv.d, r.v) THEN r.u ELSE r.v END
                 AS a,
               CASE WHEN (du.d, r.u) < (dv.d, r.v) THEN r.v ELSE r.u END
                 AS b
        FROM raw r JOIN deg du ON r.u = du.x JOIN deg dv ON r.v = dv.x),
      wedges AS (SELECT e1.a, e1.b, e2.b AS c
                 FROM oriented e1 JOIN oriented e2 ON e1.a = e2.a
                 WHERE e1.b < e2.b)
      SELECT count(*) AS n_triangles,
             count(DISTINCT w.a) AS n_apex_nations
      FROM wedges w JOIN raw ON raw.u = least(w.b, w.c)
                           AND raw.v = greatest(w.b, w.c)"""))),

    // First/last-touch attribution: each purchase credits the first and
    // the most recent preceding non-purchase event of the same user — two
    // running aggregates over ONE user-keyed window pass, then a tiny
    // channel rollup. The event-analytics twin of the as-of join.
    "evt_attribution" -> (((spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      load(spark, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("first_touch", first(
          when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
        .withColumn("last_touch", last(
          when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase" &&
          col("first_touch").isNotNull)
        .groupBy("first_touch", "last_touch")
        .agg(count(lit(1)).as("n"))
        .orderBy("first_touch", "last_touch")
    }, Some("""
      WITH seq AS (
        SELECT user_id, event_type,
               first_value(CASE WHEN event_type <> 'purchase'
                 THEN event_type END IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS first_touch,
               last_value(CASE WHEN event_type <> 'purchase'
                 THEN event_type END IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS last_touch
        FROM events)
      SELECT first_touch, last_touch, count(*) AS n
      FROM seq WHERE event_type = 'purchase' AND first_touch IS NOT NULL
      GROUP BY 1, 2 ORDER BY 1, 2"""))),

    // Weighted median (price weighted by quantity): collapse to the price
    // DOMAIN first (decimal-exact weight per distinct price), then one
    // running-sum window over the bounded domain picks the first price
    // whose cumulative weight crosses half the (exact) total — the
    // weighted twin of the q_percentile order-statistic discipline.
    "q_weighted_median" -> (((spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cumW = Window.orderBy("price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val allW = Window.partitionBy()
      load(spark, dir, "lineitem")
        .select(col("l_extendedprice").as("price"),
          col("l_quantity").cast(DecimalType(18, 2)).as("w"))
        .groupBy("price").agg(sum("w").as("pw"))
        .withColumn("cum", sum("pw").over(cumW))
        .withColumn("total", sum("pw").over(allW))
        .filter(col("cum") * 2 >= col("total"))
        .orderBy("price").limit(1)
        .select(col("price").as("weighted_median"),
          col("total").cast(DoubleType).as("total_weight"))
    }, Some("""
      WITH pts AS (SELECT l_extendedprice AS price,
                     sum(CAST(l_quantity AS DECIMAL(18,2))) AS pw
                   FROM lineitem GROUP BY 1),
      run AS (SELECT price,
                sum(pw) OVER (ORDER BY price
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS cum,
                sum(pw) OVER () AS total
              FROM pts)
      SELECT price AS weighted_median, CAST(total AS DOUBLE)
               AS total_weight
      FROM run WHERE cum * 2 >= total ORDER BY price LIMIT 1"""))),

    // Gini coefficient of revenue concentration across customers:
    // G = (2·Σ i·xᵢ) / (n·Σ xᵢ) − (n+1)/n over rank-sorted exact decimal
    // customer totals. The per-customer aggregation is the 100 TB pass;
    // the rank walk runs over the customer DOMAIN (at extreme scale,
    // quantile-bucket the totals first — same estimator, bounded domain).
    "q_gini" -> (((spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val li = load(spark, dir, "lineitem")
      val ord = load(spark, dir, "orders").select("o_orderkey", "o_custkey")
      val totals = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy("o_custkey")
        .agg(sum(d18(col("l_extendedprice"))).as("x"))
      val rankW = Window.orderBy(col("x"), col("o_custkey"))
      totals.withColumn("i", row_number().over(rankW))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"),
          sum(col("x") * col("i")).as("sxi"))
        .select(col("n"),
          round(lit(2.0) * col("sxi").cast(DoubleType) /
            (col("n") * col("sx").cast(DoubleType)) -
            (col("n") + lit(1)).cast(DoubleType) / col("n"), 6)
            .as("gini6"))
    }, Some("""
      WITH totals AS (
        SELECT o_custkey,
               sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS x
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1),
      ranked AS (SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS i
                 FROM totals),
      agg AS (SELECT count(*) AS n, sum(x) AS sx, sum(x * i) AS sxi
              FROM ranked)
      SELECT n,
             round(2.0 * CAST(sxi AS DOUBLE) / (n * CAST(sx AS DOUBLE)) -
               CAST(n + 1 AS DOUBLE) / n, 6) AS gini6
      FROM agg"""))),

    // Skyline / Pareto frontier (maximize quantity, minimize price): a
    // point survives iff it is max-quantity at its price AND strictly
    // out-quantities every cheaper price. One distinct + one price-keyed
    // aggregation collapse the fact to the price DOMAIN; the running-max
    // window then walks that bounded domain (the ksDrift discipline),
    // never the rows.
    "q_skyline" -> (((spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy("price")
        .rowsBetween(Window.unboundedPreceding, -1)
      load(spark, dir, "lineitem")
        .select(col("l_extendedprice").as("price"),
          col("l_quantity").as("qty"))
        .groupBy("price").agg(max("qty").as("max_qty"))
        .withColumn("best_cheaper", max("max_qty").over(w))
        .filter(col("best_cheaper").isNull ||
          col("max_qty") > col("best_cheaper"))
        .select(col("price"), col("max_qty"))
        .orderBy("price")
    }, Some("""
      WITH pts AS (SELECT l_extendedprice AS price,
                          max(l_quantity) AS max_qty
                   FROM lineitem GROUP BY 1),
      run AS (SELECT price, max_qty,
                max(max_qty) OVER (ORDER BY price
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS best_cheaper
              FROM pts)
      SELECT price, max_qty FROM run
      WHERE best_cheaper IS NULL OR max_qty > best_cheaper
      ORDER BY price"""))),

    // Grouped trend regression: OLS slope/intercept of event value over
    // time per event_type, assembled from DECIMAL-EXACT sums (n, Σx, Σy,
    // Σxy, Σx²) — one map-side-combinable aggregation per group carries
    // five numbers at any scale; the closed-form division is the only
    // floating step and rounds once.
    "evt_trend" -> (((spark, dir) => {
      val x = expr("ts div 3600000000000") - lit(473000L) // hour index
      val yD = col("value").cast(DecimalType(18, 2))
      load(spark, dir, "events")
        .select(col("event_type"), x.as("x"), yD.as("y"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"),
          sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("event_type"), col("n"),
          round((col("n") * col("sxy").cast(DoubleType) -
            col("sx").cast(DoubleType) * col("sy").cast(DoubleType)) /
            (col("n") * col("sxx").cast(DoubleType) -
             col("sx").cast(DoubleType) * col("sx").cast(DoubleType)), 8)
            .as("slope8"))
        .orderBy("event_type")
    }, Some("""
      WITH pts AS (SELECT event_type,
                     (epoch_ns(ts) // 3600000000000) - 473000 AS x,
                     CAST("value" AS DECIMAL(18,2)) AS y
                   FROM events),
      agg AS (SELECT event_type, count(*) AS n,
                CAST(sum(x) AS BIGINT) AS sx, sum(y) AS sy,
                sum(x * y) AS sxy,
                CAST(sum(x * x) AS BIGINT) AS sxx
              FROM pts GROUP BY 1)
      SELECT event_type, n,
             round((n * CAST(sxy AS DOUBLE) -
               CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
               (n * CAST(sxx AS DOUBLE) -
                CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 8) AS slope8
      FROM agg ORDER BY event_type"""))),

    // Equi-DEPTH histogram (the equi-width twin of D35): ntile(8) over
    // price with a rowkey tiebreak (ntile's remainder rule is identical
    // cross-engine once the order is total), then per-bucket bounds +
    // decimal-exact sums. One global-sort window at gate scale; at 100 TB
    // the same result shape comes from approx quantile cutpoints
    // (q_approx_percentile) + a free per-partition bucket join.
    "q_equidepth" -> (((spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(col("l_extendedprice"), col("l_orderkey"),
        col("l_linenumber"))
      load(spark, dir, "lineitem")
        .select(col("l_extendedprice"), col("l_orderkey"),
          col("l_linenumber"))
        .withColumn("bucket", ntile(8).over(w))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("l_extendedprice").as("lo"),
          max("l_extendedprice").as("hi"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("total"))
        .orderBy("bucket")
    }, Some("""
      SELECT bucket, count(*) AS n,
             min(l_extendedprice) AS lo, max(l_extendedprice) AS hi,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total
      FROM (SELECT l_extendedprice,
              ntile(8) OVER (ORDER BY l_extendedprice, l_orderkey,
                l_linenumber) AS bucket
            FROM lineitem)
      GROUP BY 1 ORDER BY 1"""))),

    // Data-quality assertion battery (the ingest-pipeline "expectations"
    // op): null fractions, domain-range violations, and FK orphan counts
    // in ONE row — the null/range checks ride a single scan's partial
    // aggregation; the orphan check is a broadcast-able anti-join count.
    "q_dq_checks" -> (((spark, dir) => {
      val li = load(spark, dir, "lineitem")
      val ord = load(spark, dir, "orders").select("o_orderkey")
      val orphans = li.select("l_orderkey")
        .join(ord, li("l_orderkey") === ord("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("fk_orphans"))
      val checks = li.agg(
        count(lit(1)).as("n_rows"),
        round(avg(when(col("l_returnflag").isNull, 1.0).otherwise(0.0)), 6)
          .as("null_flag_frac"),
        count(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1))
          .as("qty_range_viol"),
        count(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1))
          .as("disc_range_viol"),
        count(when(col("l_tax") < 0 || col("l_tax") > 0.08, 1))
          .as("tax_range_viol"),
        count(when(col("l_shipdate") < lit("1992-01-01").cast("timestamp")
          || col("l_shipdate") >= lit("2002-01-01").cast("timestamp"), 1))
          .as("date_range_viol"))
      checks.crossJoin(broadcast(orphans))
    }, Some("""
      WITH orphans AS (
        SELECT count(*) AS fk_orphans FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)),
      checks AS (
        SELECT count(*) AS n_rows,
               round(avg(CASE WHEN l_returnflag IS NULL THEN 1.0
                 ELSE 0.0 END), 6) AS null_flag_frac,
               count(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1
                 END) AS qty_range_viol,
               count(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1
                 END) AS disc_range_viol,
               count(CASE WHEN l_tax < 0 OR l_tax > 0.08 THEN 1
                 END) AS tax_range_viol,
               count(CASE WHEN l_shipdate < TIMESTAMP '1992-01-01'
                 OR l_shipdate >= TIMESTAMP '2002-01-01' THEN 1 END)
                 AS date_range_viol
        FROM lineitem)
      SELECT n_rows, null_flag_frac, qty_range_viol, disc_range_viol,
             tax_range_viol, date_range_viol, fk_orphans
      FROM checks CROSS JOIN orphans"""))),

    // D106 — exactly-once streaming upsert into a LIVE JDBC endpoint
    // (sink.JdbcExactlyOnce, embedded Derby): stage-in-parallel then
    // one-transaction publish under a batch-log guard. The gate kills the
    // query between halves, re-delivers a slice of already-committed
    // events in new files, and restarts from the same checkpoint — the
    // log must skip replayed batches and the keyed upsert must absorb
    // re-delivered rows. Oracle = the batch over DISTINCT events.
    // 4 shuffle partitions + coalesced source files: the stream is
    // STATELESS (foreachBatch upsert), so partitions buy nothing but
    // per-task and per-file micro-batch overhead here
    "evt_stream_jdbc_restart" -> (((spark, dir) => withStreamPartitions(spark, 4) {
      import org.apache.spark.sql.{Dataset, Row}
      val url = "jdbc:derby:memory:xonce;create=true"
      val tbl = s"sink_${Q.nextSinkId()}"
      val tmp = Q.scratchDir("jdbc_gate")
      val (raw, chk) = (tmp.resolve("raw").toString,
        tmp.resolve("chk").toString)
      try {
        val ev = load(spark, dir, "events")
        Q.FixtureCache.link(spark, s"$dir|jdbc_restart_e1", raw)(
          ev.filter(col("event_id") % 2 === 0).coalesce(4))
        Q.Phase.setupDone() // op = both stream lives (the epoch-2
        // append + restart-with-re-delivery IS the exactly-once
        // operator under test) + the final JDBC read-back
        def run(): Unit = {
          val schema = spark.read.parquet(raw).schema
          val q = spark.readStream.schema(schema).parquet(raw)
            .writeStream.option("checkpointLocation", chk)
            .foreachBatch { (b: Dataset[Row], id: Long) =>
              graft.sink.JdbcExactlyOnce.upsertBatch(url, tbl, b.toDF(),
                id, "event_id", "value", stagingPartitions = 1)
            }
            .outputMode("update").start()
          q.processAllAvailable(); q.stop()
        }
        // restart arm = correctness protocol (Q.benchLean contract);
        // per-batch key pre-aggregation makes the final table identical
        // under one delivery
        if (!Q.benchLean) run() // first life commits the even half
        Q.FixtureCache.link(spark, s"$dir|jdbc_restart_e2", raw)(
          ev.filter(col("event_id") % 2 === 1)
            .unionByName(ev.filter(col("event_id") % 6 === 0)) // re-delivery
            .coalesce(4))
        run() // restart: replayed batches skipped, duplicates upserted
        val p = new java.util.Properties()
        p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        val row = spark.read.jdbc(url, tbl, p)
          .agg(count(lit(1)).as("n"), count_distinct(col("K")).as("ids"),
            dsum(col("V")).as("total")).head()
        spark.createDataFrame(Seq(
          (row.getLong(0), row.getLong(1), row.getDouble(2))))
          .toDF("n", "n_ids", "total")
      } finally graft.sink.StageWriter.deleteRecursively(tmp) // even on failure
    }, Some("""
      SELECT count(*) AS n, count(DISTINCT event_id) AS n_ids,
             CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM events"""))),

    // D208 — exactly-once streaming APPEND into a guarded, plane-
    // maintained table (StageWriter.appendExactlyOnce as the
    // foreachBatch body): applied-batch markers no-op same-checkpoint
    // replays (the commits-file surgery below forces one), a planted
    // partial landing (crash between reveal and marker) is SWEPT by
    // batch-id file naming before the re-append, declared CHECKs and
    // the stats plane ride along per batch. Final content oracled.
    "evt_stream_append" -> (((spark, dir) => withStreamPartitions(spark, 4) {
      import org.apache.spark.sql.{Dataset, Row}
      val tmp = Q.scratchDir("sappend_gate")
      try {
        val (raw, chk, target) = (tmp.resolve("raw").toString,
          tmp.resolve("chk").toString, tmp.resolve("t").toString)
        val ev = load(spark, dir, "events")
          .select("event_id", "value")
        graft.sink.Checks.declare(target,
          Map("ev_nn" -> "event_id IS NOT NULL"))
        def run(): Unit = {
          val schema = spark.read.parquet(raw).schema
          val q = spark.readStream.schema(schema).parquet(raw)
            .writeStream.option("checkpointLocation", chk)
            .foreachBatch { (b: Dataset[Row], id: Long) =>
              graft.sink.StageWriter.appendExactlyOnce(b.toDF(), target,
                id)
            }
            .outputMode("update").start()
          q.processAllAvailable(); q.stop(); q.awaitTermination()
        }
        // epoch 1 bootstraps the table (batch 0)
        Q.FixtureCache.link(spark, s"$dir|sappend_e1", raw)(
          ev.filter(col("event_id") % 2 === 0).coalesce(4))
        // the epoch split, planted partial landing, stats-plane
        // freshness and forced re-delivery are correctness protocol
        // (Q.benchLean contract): exactly-once appends land the same
        // table content under one delivery
        if (!Q.benchLean) {
          run()
          // the stats plane declared mid-life: appends must keep it fresh
          graft.sink.Sidecars.declare(spark, target,
            Seq(graft.sink.Sidecars.Stats("event_id")))
          // plant a PARTIAL landing of the upcoming batch 1 (crash
          // between reveal and marker): one visible + one hidden stray —
          // the re-delivery must sweep both before landing
          val aFile = graft.sink.StageWriter.listDataFiles(
            java.nio.file.Paths.get(target)).head
          java.nio.file.Files.copy(aFile, java.nio.file.Paths.get(target,
            "ap-b1-p99999.parquet"))
          java.nio.file.Files.copy(aFile, java.nio.file.Paths.get(target,
            ".ap-b1-p99998.parquet"))
        }
        // epoch 2 (batch 1): the odd half
        Q.FixtureCache.link(spark, s"$dir|sappend_e2", raw)(
          ev.filter(col("event_id") % 2 === 1).coalesce(4))
        run()
        if (!Q.benchLean) {
          // re-delivery: drop the LAST commit record — the restart
          // re-runs batch 1 with the same id/content; the marker must
          // no-op it
          val commits = java.nio.file.Paths.get(chk, "commits")
          val last = {
            val s = java.nio.file.Files.list(commits)
            try {
              import scala.jdk.CollectionConverters._
              s.iterator().asScala.filter(
                _.getFileName.toString.forall(_.isDigit))
                .maxBy(_.getFileName.toString.toInt)
            } finally s.close()
          }
          java.nio.file.Files.delete(last)
          // the local-FS CRC shadow too, or the re-commit's rename trips
          java.nio.file.Files.deleteIfExists(
            last.resolveSibling("." + last.getFileName.toString + ".crc"))
          run()
        }
        val landed = spark.read.parquet(target)
        require(landed.count() == ev.count(),
          "markers + sweep must land every event exactly once")
        if (!Q.benchLean) {
          // the plane stayed fresh through appends, sweeps and replays
          require(graft.sink.Sidecars.load(target)
            .exists(_.bounds("event_id").isDefined),
            "stats plane must be fresh")
        }
        landed.agg(count(lit(1)).as("n"),
            count_distinct(col("event_id")).as("n_ids"),
            dsum(col("value")).as("total"))
          .localCheckpoint() // materialize before the scratch dir dies
      } finally graft.sink.StageWriter.deleteRecursively(tmp)
    }, Some("""
      SELECT count(*) AS n, count(DISTINCT event_id) AS n_ids,
             CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM events"""))),

    // D103 — join-explosion guard (operators.JoinGuard): the supplier
    // self-join's hot keys (per-key pair product > 10k) are capped to 10
    // deterministic rows per side BEFORE the join; cold keys join exactly.
    // The offender set is two key-domain aggregations + a tiny broadcast —
    // the guardrail that keeps one bad key from turning a 100 TB join
    // into a never-finishing task.
    "q_join_guard" -> (((spark, dir) => {
      val li = load(spark, dir, "lineitem")
      val left = li.select(col("l_suppkey").as("k"),
        col("l_orderkey").as("lo"), col("l_linenumber").as("ll"),
        col("l_extendedprice").as("lp"))
      val right = li.filter(col("l_quantity") <= 2)
        .select(col("l_suppkey").as("k"), col("l_orderkey").as("ro"),
          col("l_linenumber").as("rl"))
      graft.operators.JoinGuard.cappedJoin(left, right, "k",
          maxProduct = 10000L, capEach = 10,
          leftTiebreak = Seq(col("lo"), col("ll")),
          rightTiebreak = Seq(col("ro"), col("rl")))
        .groupBy("k")
        .agg(count(lit(1)).as("n_pairs"), dsum(col("lp")).as("total"))
        .orderBy("k")
    }, Some("""
      WITH l AS (SELECT l_suppkey AS k, l_orderkey AS lo,
                        l_linenumber AS ll, l_extendedprice AS lp
                 FROM lineitem),
      r AS (SELECT l_suppkey AS k, l_orderkey AS ro, l_linenumber AS rl
            FROM lineitem WHERE l_quantity <= 2),
      off AS (SELECT lc.k FROM (SELECT k, count(*) AS nl FROM l GROUP BY 1) lc
              JOIN (SELECT k, count(*) AS nr FROM r GROUP BY 1) rc
                USING (k)
              WHERE nl * nr > 10000),
      lcap AS (
        SELECT k, lo, ll, lp FROM l WHERE k NOT IN (SELECT k FROM off)
        UNION ALL
        SELECT k, lo, ll, lp FROM (
          SELECT l.*, row_number() OVER (PARTITION BY k ORDER BY lo, ll)
            AS rn
          FROM l WHERE k IN (SELECT k FROM off)) t WHERE rn <= 10),
      rcap AS (
        SELECT k, ro, rl FROM r WHERE k NOT IN (SELECT k FROM off)
        UNION ALL
        SELECT k, ro, rl FROM (
          SELECT r.*, row_number() OVER (PARTITION BY k ORDER BY ro, rl)
            AS rn
          FROM r WHERE k IN (SELECT k FROM off)) t WHERE rn <= 10)
      SELECT k, count(*) AS n_pairs,
             CAST(SUM(CAST(lp AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM lcap JOIN rcap USING (k)
      GROUP BY k ORDER BY k"""))),

    // D103 audit leg — JoinGuard.profile standalone: the per-key sizing
    // table a pipeline logs BEFORE a risky join (two key-domain aggs, no
    // join executed). Pins the offender verdict the capped join acts on.
    "q_join_profile" -> (((spark, dir) => {
      val li = load(spark, dir, "lineitem")
      graft.operators.JoinGuard.profile(
          li.select(col("l_suppkey").as("k")),
          li.filter(col("l_quantity") <= 2)
            .select(col("l_suppkey").as("k")),
          "k", maxProduct = 10000L)
        .orderBy("k")
    }, Some("""
      SELECT k, n_left, n_right, n_left * n_right AS pairs,
             n_left * n_right > 10000 AS offender
      FROM (SELECT l_suppkey AS k, count(*) AS n_left
            FROM lineitem GROUP BY 1) l
      JOIN (SELECT l_suppkey AS k, count(*) AS n_right
            FROM lineitem WHERE l_quantity <= 2 GROUP BY 1) r
        USING (k)
      ORDER BY k"""))),

    // D104 — incremental aggregate maintenance (operators.Rollup): a
    // materialized (event_type, day) rollup absorbs two delta batches by
    // MERGING additive (n, decimal-sum) state — the base is never
    // rescanned, only each delta shuffles (map-side combined) plus a
    // rollup-domain merge agg. The oracle recomputes from scratch over
    // ALL events: merge ≡ rebuild exactly, because the state is additive
    // and the sums decimal.
    "q_rollup_incr" -> (((spark, dir) => {
      val ev = load(spark, dir, "events")
        .withColumn("d", expr("ts div 86400000000000"))
      val keys = Seq("event_type", "d")
      val r0 = graft.operators.Rollup.build(
        ev.filter(col("event_id") % 3 === 0), keys, "value")
      val r1 = graft.operators.Rollup.merge(r0,
        ev.filter(col("event_id") % 3 === 1), keys, "value")
      val r2 = graft.operators.Rollup.merge(r1,
        ev.filter(col("event_id") % 3 === 2), keys, "value")
      graft.operators.Rollup.readable(r2)
        .orderBy("event_type", "d")
    }, Some("""
      SELECT event_type, epoch_ns(ts) // 86400000000000 AS d,
             count(*) AS n,
             CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM events GROUP BY 1, 2 ORDER BY event_type, d"""))),

    // D126 — incremental JOIN-view maintenance (operators.JoinView): a
    // materialized orders ⋈ lineitem view is built from a base epoch,
    // PERSISTED, then maintained through a real delta batch touching BOTH
    // sides — ΔV = ΔA ⋈ B' ∪ A ⋈ ΔB appended to storage, never A' ⋈ B'
    // recomputed (old-left in the second term prevents the ΔA⋈ΔB double
    // count — the classic IVM bug, separately spec'd). The oracle is the
    // full from-scratch join, so maintenance ≡ rebuild is hash-proven.
    "q_join_view_incr" -> (((spark, dir) => {
      val tmp = Q.scratchDir("jv_gate")
      try {
        val v = tmp.resolve("view").toString
        val ords = load(spark, dir, "orders")
          .select("o_orderkey", "o_orderstatus")
        val li = load(spark, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_returnflag",
            "l_extendedprice")
          .withColumnRenamed("l_orderkey", "o_orderkey")
        // the splits CROSS: dA is an orderkey band, dB a linenumber band,
        // so both delta terms (ΔA ⋈ B' and A ⋈ ΔB) and the ΔA ⋈ ΔB
        // overlap are all non-empty — the full delta rule is exercised
        val cut = 10000L
        val (a0, dA) = (ords.filter(col("o_orderkey") < cut),
          ords.filter(col("o_orderkey") >= cut))
        val (b0, dB) = (li.filter(col("l_linenumber") < 4),
          li.filter(col("l_linenumber") >= 4))
        a0.join(b0, Seq("o_orderkey")).write.parquet(v) // V0, stored
        graft.operators.JoinView.delta(a0, dA, b0, dB, Seq("o_orderkey"))
          .write.mode("append").parquet(v) // ONE maintenance append
        spark.read.parquet(v)
          .groupBy("o_orderstatus", "l_returnflag")
          .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("rev"))
          .orderBy("o_orderstatus", "l_returnflag")
          .localCheckpoint() // materialize before the view dir dies
      } finally graft.sink.StageWriter.deleteRecursively(tmp)
    }, Some("""
      SELECT o_orderstatus, l_returnflag, count(*) AS n,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS rev
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY 1, 2 ORDER BY o_orderstatus, l_returnflag"""))),

    // D113 — k-core decomposition (operators.KCore): 4 synchronous peel
    // rounds of the 30-core on the part–supplier bipartite graph
    // (suppliers negated for a shared id space). Each round is one
    // key-domain degree agg + two semi-joins on the surviving edges;
    // rounds are FIXED so the oracle unrolls them as CTEs (peeling is
    // monotone — extra rounds past the peel depth are no-ops).
    "q_kcore" -> (((spark, dir) => {
      val li = load(spark, dir, "lineitem")
        .select(col("l_partkey").as("pa"), (-col("l_suppkey")).as("pb"))
      graft.operators.KCore.peel(li, "pa", "pb", k = 30, rounds = 4)
        .orderBy("node")
    }, Some("""
      WITH e0 AS (
        SELECT DISTINCT a, b FROM (
          SELECT l_partkey AS a, -l_suppkey AS b FROM lineitem
          UNION ALL
          SELECT -l_suppkey, l_partkey FROM lineitem) t),
      k1 AS (SELECT a FROM e0 GROUP BY a HAVING count(*) >= 30),
      e1 AS (SELECT e.a, e.b FROM e0 e
             JOIN k1 x ON e.a = x.a JOIN k1 y ON e.b = y.a),
      k2 AS (SELECT a FROM e1 GROUP BY a HAVING count(*) >= 30),
      e2 AS (SELECT e.a, e.b FROM e1 e
             JOIN k2 x ON e.a = x.a JOIN k2 y ON e.b = y.a),
      k3 AS (SELECT a FROM e2 GROUP BY a HAVING count(*) >= 30),
      e3 AS (SELECT e.a, e.b FROM e2 e
             JOIN k3 x ON e.a = x.a JOIN k3 y ON e.b = y.a),
      k4 AS (SELECT a FROM e3 GROUP BY a HAVING count(*) >= 30),
      e4 AS (SELECT e.a, e.b FROM e3 e
             JOIN k4 x ON e.a = x.a JOIN k4 y ON e.b = y.a)
      SELECT a AS node, count(*) AS degree FROM e4
      GROUP BY a ORDER BY node"""))),

    // D114 — BFS hop distances (operators.Bfs): 3 synchronous frontier
    // relaxations from supplier 1 over the part–supplier bipartite graph
    // (suppliers negated). Each round is one edge⋈distance join + one
    // min-dist agg; state is one (node, dist) row per reached node. The
    // oracle unrolls the same 3 rounds as CTEs (relaxation is monotone —
    // round r pins every node within r hops).
    "q_bfs_hops" -> (((spark, dir) => {
      val li = load(spark, dir, "lineitem")
        .select(col("l_partkey").as("pa"), (-col("l_suppkey")).as("pb"))
      val src = spark.range(1).select(lit(-1L).as("s"))
      graft.operators.Bfs.hops(li, "pa", "pb", src, "s", rounds = 3)
        .groupBy("dist")
        .agg(count(lit(1)).as("n_nodes"),
          min(col("node")).as("min_node"), max(col("node")).as("max_node"))
        .orderBy("dist")
    }, Some("""
      WITH e AS (
        SELECT DISTINCT a, b FROM (
          SELECT l_partkey AS a, -l_suppkey AS b FROM lineitem
          UNION ALL
          SELECT -l_suppkey, l_partkey FROM lineitem) t),
      d0 AS (SELECT CAST(-1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist),
      d1 AS (SELECT node, min(dist) AS dist FROM (
               SELECT node, dist FROM d0
               UNION ALL
               SELECT e.b, d0.dist + 1 FROM e JOIN d0 ON e.a = d0.node) t
             GROUP BY node),
      d2 AS (SELECT node, min(dist) AS dist FROM (
               SELECT node, dist FROM d1
               UNION ALL
               SELECT e.b, d1.dist + 1 FROM e JOIN d1 ON e.a = d1.node) t
             GROUP BY node),
      d3 AS (SELECT node, min(dist) AS dist FROM (
               SELECT node, dist FROM d2
               UNION ALL
               SELECT e.b, d2.dist + 1 FROM e JOIN d2 ON e.a = d2.node) t
             GROUP BY node)
      SELECT dist, count(*) AS n_nodes, min(node) AS min_node,
             max(node) AS max_node
      FROM d3 GROUP BY dist ORDER BY dist"""))),

    // D118 — capped co-occurrence projection (operators.Cooccur): parts
    // co-ordered within the same order become a weighted item–item graph;
    // per-order item sets cap to their 8 smallest partkeys BEFORE pairing
    // (deterministic — the oracle replays the cap), bounding the pair
    // fan-out at C(8,2) per group however degenerate the group. Reported:
    // edges seen in 2+ orders.
    "q_cooccur" -> (((spark, dir) => {
      graft.operators.Cooccur.project(
          load(spark, dir, "lineitem")
            .select(col("l_orderkey"), col("l_partkey")),
          "l_orderkey", "l_partkey", capPerGroup = 8)
        .filter(col("w") >= 2)
        .orderBy("i1", "i2")
    }, Some("""
      WITH m AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
                 FROM lineitem),
      c AS (SELECT g, i FROM (
              SELECT g, i, row_number() OVER (PARTITION BY g ORDER BY i)
                AS rn
              FROM m) t WHERE rn <= 8)
      SELECT a.i AS i1, b.i AS i2, count(*) AS w
      FROM c a JOIN c b ON a.g = b.g AND a.i < b.i
      GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY i1, i2""")))
  )
}

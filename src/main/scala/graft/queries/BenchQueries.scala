package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Headline analytical queries (TPC-H-shaped) — the performance surface the
  * bench times. Plans verified with .explain("formatted"): filters reach the
  * parquet scan (PushedFilters), dims broadcast, aggregates partial-agg
  * before the shuffle.
  */
object BenchQueries {

  val defs: Map[String, Entry] = Map(

    // Set operations (the reference never generates them; Spark surfaces
    // them free — included so the engine's query capabilities are explicit)
    "q_setops" -> (((spark, dir) => {
      val c = load(spark, dir, "customer")
      val building = c.filter(col("c_mktsegment") === "BUILDING")
        .select("c_nationkey")
      val machinery = c.filter(col("c_mktsegment") === "MACHINERY")
        .select("c_nationkey")
      val both = building.intersect(machinery)
        .withColumn("op", lit("intersect"))
      val onlyB = building.except(machinery).withColumn("op", lit("except"))
      val all = building.union(machinery).distinct()
        .withColumn("op", lit("union"))
      both.unionByName(onlyB).unionByName(all)
        .groupBy("op").agg(count(lit(1)).as("n"))
        .orderBy("op")
    }, Some("""
      WITH b AS (SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'),
           m AS (SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'),
      u AS (
        SELECT 'intersect' AS op, c_nationkey FROM (SELECT * FROM b INTERSECT SELECT * FROM m)
        UNION ALL
        SELECT 'except', c_nationkey FROM (SELECT * FROM b EXCEPT SELECT * FROM m)
        UNION ALL
        SELECT 'union', c_nationkey FROM (SELECT * FROM b UNION SELECT * FROM m))
      SELECT op, count(*) AS n FROM u GROUP BY op ORDER BY op"""))),

    // ROLLUP with grouping indicators (labels via coalesce for stable hash)
    "q_rollup" -> (((spark, dir) => {
      load(spark, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("qty"))
        .orderBy("rf", "ls")
    }, Some("""
      SELECT coalesce(l_returnflag, 'ALL') AS rf,
             coalesce(l_linestatus, 'ALL') AS ls, count(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY rf, ls"""))),

    // Anti join: customers that never ordered (the NOT EXISTS shape — same
    // operator MERGE builds on)
    "q_anti_join" -> (((spark, dir) => {
      val c = load(spark, dir, "customer")
      val recent = load(spark, dir, "orders")
        .filter(col("o_orderdate") >= lit("1998-01-01"))
      c.join(recent, c("c_custkey") === recent("o_custkey"), "left_anti")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    }, Some("""
      SELECT c_custkey, c_mktsegment FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
      ORDER BY c_custkey"""))),

    // Full outer join: month × two market segments, mismatched months kept
    // from both sides with nulls
    "q_outer_join" -> (((spark, dir) => {
      val o = load(spark, dir, "orders")
      val c = load(spark, dir, "customer")
      def seg(s: String, alias: String) =
        o.join(c.filter(col("c_mktsegment") === s),
            o("o_custkey") === c("c_custkey"))
          .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("m"))
          .agg(count(lit(1)).as(alias))
      val a = seg("BUILDING", "n_building")
      val b = seg("FURNITURE", "n_furniture").withColumnRenamed("m", "m2")
      a.join(b, a("m") === b("m2"), "full_outer")
        .select(coalesce(col("m"), col("m2")).as("m"),
          coalesce(col("n_building"), lit(0L)).as("n_building"),
          coalesce(col("n_furniture"), lit(0L)).as("n_furniture"))
        .orderBy("m")
    }, Some("""
      WITH a AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
               count(*) AS n_building
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING' GROUP BY 1),
      b AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
               count(*) AS n_furniture
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'FURNITURE' GROUP BY 1)
      SELECT coalesce(a.m, b.m) AS m,
             coalesce(n_building, 0) AS n_building,
             coalesce(n_furniture, 0) AS n_furniture
      FROM a FULL OUTER JOIN b ON a.m = b.m ORDER BY m"""))),

    // Null-safe equality join (<=> / IS NOT DISTINCT FROM): null keys match
    // each other instead of disappearing
    "q_null_safe" -> (((spark, dir) => {
      val o = load(spark, dir, "orders")
        .withColumn("k", when(col("o_orderkey") % 7 === 0, lit(null))
          .otherwise(col("o_orderpriority")))
      val dim = o.groupBy("k").agg(count(lit(1)).as("n_k"))
        .withColumnRenamed("k", "k2")
      o.join(dim, col("k") <=> col("k2"))
        .groupBy(col("k").as("key"))
        .agg(count(lit(1)).as("n"), max("n_k").as("n_k"))
        .orderBy(col("key").asc_nulls_first)
    }, Some("""
      WITH o AS (
        SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL
                    ELSE o_orderpriority END AS k
        FROM orders),
      dim AS (SELECT k, count(*) AS n_k FROM o GROUP BY k)
      SELECT o.k AS key, count(*) AS n, max(n_k) AS n_k
      FROM o JOIN dim ON o.k IS NOT DISTINCT FROM dim.k
      GROUP BY o.k ORDER BY key NULLS FIRST"""))),

    // String-function battery — the scalar string surface (all codegen'd
    // built-ins), verified value-exact against DuckDB's twins
    "q_strings" -> (((spark, dir) => {
      load(spark, dir, "part")
        .select(col("p_partkey"),
          upper(col("p_name")).as("up"),
          translate(col("p_name"), "ao", "40").as("tr"),
          reverse(col("p_name")).as("rev"),
          repeat(substring(col("p_name"), 1, 3), 2).as("rep"),
          levenshtein(col("p_name"), col("p_type")).as("lev"),
          split_part(col("p_name"), lit(" "), lit(2)).as("word2"),
          instr(col("p_name"), "a").as("posa"),
          length(regexp_replace(col("p_name"), "[aeiou]", "")).as("novowel"))
        .orderBy("p_partkey")
    }, Some("""
      SELECT p_partkey, upper(p_name) AS up,
             translate(p_name, 'ao', '40') AS tr,
             reverse(p_name) AS rev,
             repeat(p_name[1:3], 2) AS rep,
             levenshtein(p_name, p_type) AS lev,
             split_part(p_name, ' ', 2) AS word2,
             strpos(p_name, 'a') AS posa,
             length(regexp_replace(p_name, '[aeiou]', '', 'g')) AS novowel
      FROM part ORDER BY p_partkey"""))),

    // Date/time-function battery — trunc / boundaries / field extraction /
    // day arithmetic, value-exact against DuckDB
    "q_datefuncs" -> (((spark, dir) => {
      load(spark, dir, "orders")
        .select(col("o_orderkey"),
          date_trunc("month", col("o_orderdate")).cast("date").as("mstart"),
          last_day(col("o_orderdate").cast("date")).as("mend"),
          year(col("o_orderdate")).as("y"),
          quarter(col("o_orderdate")).as("q"),
          dayofweek(col("o_orderdate")).as("dow"),
          weekofyear(col("o_orderdate")).as("woy"),
          date_add(col("o_orderdate").cast("date"), 90).as("plus90"),
          datediff(lit("1999-01-01").cast("date"),
            col("o_orderdate").cast("date")).as("to_eoy"))
        .orderBy("o_orderkey")
    }, Some("""
      SELECT o_orderkey,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS mstart,
             last_day(CAST(o_orderdate AS DATE)) AS mend,
             year(o_orderdate) AS y, quarter(o_orderdate) AS q,
             dayofweek(o_orderdate) + 1 AS dow,
             weekofyear(o_orderdate) AS woy,
             CAST(o_orderdate AS DATE) + 90 AS plus90,
             datediff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS to_eoy
      FROM orders ORDER BY o_orderkey"""))),

    // CUBE with grouping_id — all four grouping combinations in one pass
    // (Spark expands grouping sets BEFORE the partial aggregate, so the
    // shuffle still carries pre-combined rows at scale)
    "q_cube" -> (((spark, dir) => {
      load(spark, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          dsum(col("l_quantity")).as("qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("gid").cast("int").as("gid"), col("n"), col("qty"))
        .orderBy("gid", "rf", "ls")
    }, Some("""
      SELECT coalesce(l_returnflag, 'ALL') AS rf,
             coalesce(l_linestatus, 'ALL') AS ls,
             CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
             count(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      ORDER BY gid, rf, ls"""))),

    // Approximate count-distinct (HLL++) gated against the exact count:
    // the oracle asserts the estimate landed within 5% — the way a 100 TB
    // pipeline actually consumes sketches (exact distinct of a high-card
    // column forces a massive shuffle; the sketch is one pass, mergeable)
    "q_approx_distinct" -> (((spark, dir) => {
      // reduce to DISTINCT (flag, partkey) rows first, then count + HLL
      // over the reduced frame (r15): the mixed distinct/non-distinct
      // aggregate planned as an Expand + partial-agg whose HLL buffer
      // allocated PER EXPANDED GROUP — ~200k sketch buffers for 3 output
      // rows, the allocation-contention signature behind this gate's
      // 8-core-beats-32 inverse scaling. HLL register state is a pure
      // function of the input SET (duplicate-insensitive), and count()
      // over distinct non-null rows ≡ count_distinct, so the estimate
      // and the output are IDENTICAL — now with map-side distinct
      // reduction and exactly 3 HLL buffers per task (guide §2.3).
      load(spark, dir, "lineitem")
        .select(col("l_returnflag"), col("l_partkey")).distinct()
        .groupBy("l_returnflag")
        .agg(count(col("l_partkey")).as("exact_nd"),
          approx_count_distinct(col("l_partkey")).as("approx"))
        .select(col("l_returnflag"), col("exact_nd"),
          (abs(col("approx") - col("exact_nd")) <=
            col("exact_nd") * 0.05).as("within_5pct"))
        .orderBy("l_returnflag")
    }, Some("""
      SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_nd,
             TRUE AS within_5pct
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))),

    // KMV distinct sketch (custom typed Aggregator): unlike HLL, the KMV
    // estimate is a deterministic function of the hash SET, so the oracle
    // recomputes the identical estimate in SQL and the VALUES hash-match —
    // a cross-engine-verifiable sketch. Exact count shown beside it.
    // D120 — incremental DISTINCT rollup: the count_distinct twin of
    // D104. Additive sums merge trivially; distinct counts don't —
    // unless the per-key state is a mergeable sketch. Per-returnflag KMV
    // k-min states build on a 99% base, two delta batches aggregate to
    // their own states, and the merge absorbs them WITHOUT rescanning
    // the base (k-smallest-distinct is a set semigroup, so merge ≡
    // rebuild exactly — which is why the oracle recomputes from scratch
    // over ALL rows and still hash-matches).
    "q_distinct_rollup" -> (((spark, dir) => {
      val p = graft.llm.Dedup.PortableP
      val li = load(spark, dir, "lineitem")
      val h = graft.llm.Dedup.portableWordHash(col("l_partkey"))
      def states(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("l_returnflag")
          .agg(graft.functions.KmvDistinct.sketch(h, 64).as("st"))
      val base = states(li.filter(pmod(col("l_orderkey"), lit(100)) =!= 0))
      val d1 = states(li.filter(pmod(col("l_orderkey"), lit(200)) === 0))
      val d2 = states(li.filter(pmod(col("l_orderkey"), lit(100)) === 0 &&
        pmod(col("l_orderkey"), lit(200)) =!= 0))
      base.unionByName(d1).unionByName(d2)
        .groupBy("l_returnflag")
        .agg(graft.functions.KmvDistinct.mergeStates(col("st"), 64).as("m"))
        .select(col("l_returnflag"),
          round(graft.functions.KmvDistinct.estimate(col("m"), 64,
            p.toDouble), 4).as("kmv_est"))
        .orderBy("l_returnflag")
    }, Some {
      val p = graft.llm.Dedup.PortableP
      s"""
      WITH hset AS (
        SELECT DISTINCT l_returnflag,
               CAST(concat('0x', substring(md5(CAST(l_partkey AS VARCHAR)),
                 1, 15)) AS BIGINT) % $p AS h
        FROM lineitem),
      ranked AS (
        SELECT l_returnflag, h,
               row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn,
               count(*) OVER (PARTITION BY l_returnflag) AS nd
        FROM hset)
      SELECT l_returnflag,
             round(CASE WHEN nd < 64 THEN CAST(nd AS DOUBLE)
                        ELSE 63.0 / (CAST(h AS DOUBLE) / $p) END, 4)
               AS kmv_est
      FROM ranked WHERE rn = least(64, nd)
      ORDER BY l_returnflag"""
    })),

    "q_kmv_distinct" -> (((spark, dir) => {
      val p = graft.llm.Dedup.PortableP
      val h = graft.llm.Dedup.portableWordHash(col("l_partkey"))
      load(spark, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(count_distinct(col("l_partkey")).as("exact_nd"),
          round(graft.functions.KmvDistinct.kmv(h, 64, p.toDouble), 4)
            .as("kmv_est"))
        .orderBy("l_returnflag")
    }, Some {
      val p = graft.llm.Dedup.PortableP
      s"""
      WITH hset AS (
        SELECT DISTINCT l_returnflag,
               CAST(concat('0x', substring(md5(CAST(l_partkey AS VARCHAR)),
                 1, 15)) AS BIGINT) % $p AS h
        FROM lineitem),
      ranked AS (
        SELECT l_returnflag, h,
               row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn,
               count(*) OVER (PARTITION BY l_returnflag) AS nd
        FROM hset),
      est AS (
        SELECT l_returnflag,
               CASE WHEN nd < 64 THEN CAST(nd AS DOUBLE)
                    ELSE 63.0 / (CAST(h AS DOUBLE) / $p) END AS kmv_est
        FROM ranked WHERE rn = least(64, nd)),
      exact AS (
        SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_nd
        FROM lineitem GROUP BY 1)
      SELECT l_returnflag, exact_nd, round(kmv_est, 4) AS kmv_est
      FROM exact JOIN est USING (l_returnflag)
      ORDER BY l_returnflag"""
    })),

    // Count-min sketch heavy hitters (functions.CountMin): the corpus token
    // stream reduces to ONE 4×64-counter row (element-wise-sum merge = map-
    // side combinable, 2 KB state at any scale); per-token estimates are
    // min-over-rows probes of the broadcast counters. Like KMV, the sketch
    // is a deterministic function of pinned portable hashes, so the oracle
    // replays the exact counters — estimates hash-match as VALUES, and the
    // exact counts beside them exhibit the ≥-true guarantee.
    "q_cms_heavy" -> (((spark, dir) => {
      import graft.functions.CountMin
      val words = load(spark, dir, "documents")
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
        .filter(col("w") =!= "")
      val sk = CountMin.sketch(words, col("w"), 4, 64)
      words.groupBy("w").agg(count(lit(1)).as("true_cnt"))
        .crossJoin(broadcast(sk))
        .select(col("w").as("token"),
          CountMin.estimate(col("cms"), col("w"), 4, 64).as("cms_est"),
          col("true_cnt"))
        .orderBy("token")
    }, Some("""
      WITH wf AS (SELECT w FROM (SELECT unnest(string_split_regex(
          lower(trim(text)), '\s+')) AS w FROM documents) WHERE w <> ''),
      buck AS (SELECT w,
        CAST('0x' || substring(md5(w), 1, 8) AS BIGINT) % 64 AS b0,
        CAST('0x' || substring(md5(w), 9, 8) AS BIGINT) % 64 AS b1,
        CAST('0x' || substring(md5(w), 17, 8) AS BIGINT) % 64 AS b2,
        CAST('0x' || substring(md5(w), 25, 8) AS BIGINT) % 64 AS b3
        FROM wf),
      c0 AS (SELECT b0 AS b, count(*) AS c FROM buck GROUP BY 1),
      c1 AS (SELECT b1 AS b, count(*) AS c FROM buck GROUP BY 1),
      c2 AS (SELECT b2 AS b, count(*) AS c FROM buck GROUP BY 1),
      c3 AS (SELECT b3 AS b, count(*) AS c FROM buck GROUP BY 1),
      cand AS (SELECT w AS token, count(*) AS true_cnt, min(b0) AS b0,
                      min(b1) AS b1, min(b2) AS b2, min(b3) AS b3
               FROM buck GROUP BY 1)
      SELECT token, LEAST(c0.c, c1.c, c2.c, c3.c) AS cms_est, true_cnt
      FROM cand JOIN c0 ON c0.b = cand.b0 JOIN c1 ON c1.b = cand.b1
                JOIN c2 ON c2.b = cand.b2 JOIN c3 ON c3.b = cand.b3
      ORDER BY token"""))),

    // D105 — CMS join-size estimation (AGMS inner product): two 2 KB
    // sketches answer "how big would clicks ⋈ views on user be" WITHOUT
    // running the join — min over hash rows of the bucket-wise counter
    // product, an upper bound exact absent collisions. Output pins the
    // estimate AGAINST the exact Σ n_a·n_b (both deterministic: the
    // counters replay from the md5 buckets). The planner-side guard that
    // picks broadcast vs shuffle vs JoinGuard capping at 100 TB.
    "q_cms_join_size" -> (((spark, dir) => {
      import graft.functions.CountMin
      val ev = load(spark, dir, "events")
      val a = ev.filter(col("event_type") === "click").select(col("user_id"))
      val b = ev.filter(col("event_type") === "view").select(col("user_id"))
      val ska = CountMin.sketch(a, col("user_id"), 4, 1024)
        .withColumnRenamed("cms", "cms_a")
      val skb = CountMin.sketch(b, col("user_id"), 4, 1024)
        .withColumnRenamed("cms", "cms_b")
      val exact = a.groupBy("user_id").agg(count(lit(1)).as("na"))
        .join(b.groupBy("user_id").agg(count(lit(1)).as("nb")), "user_id")
        .agg(sum(col("na") * col("nb")).as("exact_pairs"))
      ska.crossJoin(broadcast(skb)).crossJoin(broadcast(exact))
        .select(
          CountMin.innerProduct(col("cms_a"), col("cms_b"), 4, 1024)
            .as("est_pairs"),
          col("exact_pairs"))
    }, Some("""
      WITH a AS (SELECT user_id FROM events WHERE event_type = 'click'),
      b AS (SELECT user_id FROM events WHERE event_type = 'view'),
      rows_i AS (SELECT i FROM (VALUES (0), (1), (2), (3)) t(i)),
      ca AS (SELECT i, CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                 i * 8 + 1, 8) AS BIGINT) % 1024 AS bk, count(*) AS c
             FROM a, rows_i GROUP BY 1, 2),
      cb AS (SELECT i, CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                 i * 8 + 1, 8) AS BIGINT) % 1024 AS bk, count(*) AS c
             FROM b, rows_i GROUP BY 1, 2),
      prods AS (SELECT ca.i, CAST(sum(ca.c * cb.c) AS BIGINT) AS p
                FROM ca JOIN cb ON ca.i = cb.i AND ca.bk = cb.bk
                GROUP BY 1),
      ex AS (SELECT CAST(sum(na * nb) AS BIGINT) AS exact_pairs FROM
               (SELECT user_id, count(*) AS na FROM a GROUP BY 1) x
               JOIN (SELECT user_id, count(*) AS nb FROM b GROUP BY 1) y
               USING (user_id))
      SELECT (SELECT min(p) FROM prods) AS est_pairs,
             (SELECT exact_pairs FROM ex) AS exact_pairs"""))),

    // D110 — ADAPTIVE JOIN CHOOSER: the planner-side consumer D105's
    // sketches promise (operators.AdaptiveJoin). Three join shapes, one
    // decision rule: a dimension join must come out `broadcast`, a
    // well-distributed fact join `shuffle`, and a hot-key self-join
    // `capped` (JoinGuard path, cap sized as a no-op here so the result
    // still equals the plain join). The chosen strategy is a RESULT column
    // pinned by the oracle — a mis-decision fails the hash match; the
    // physical-plan shape per strategy is asserted in PlanShapeSpec.
    // phase: genuinely all-op — THREE AdaptiveJoin calls (sketch probe +
    // chosen join each) are the operator under test; no fixture, no proof
    "q_adaptive_join" -> (((spark, dir) => {
      import graft.operators.AdaptiveJoin
      val o = load(spark, dir, "orders")
      val docs = load(spark, dir, "documents")
      def row(jcase: String,
          r: (org.apache.spark.sql.DataFrame, AdaptiveJoin.Profile),
          value: org.apache.spark.sql.Column) =
        r._1.agg(count(lit(1)).as("n"), dsum(value).as("total"))
          .withColumn("jcase", lit(jcase))
          .withColumn("strategy", lit(r._2.strategy))
      val dim = AdaptiveJoin.join(
        o.select(col("o_custkey").as("k"), col("o_totalprice")),
        load(spark, dir, "customer").select(col("c_custkey").as("k")), "k")
      val fact = AdaptiveJoin.join(
        o.select(col("o_orderkey").as("k")),
        load(spark, dir, "lineitem")
          .select(col("l_orderkey").as("k"), col("l_quantity")), "k",
        broadcastRows = 1000)
      val skew = AdaptiveJoin.join(
        docs.select(col("source"), col("n_chars"), col("doc_id")),
        docs.select(col("source"), col("doc_id").as("doc_id_b")), "source",
        capEach = 1000000, leftTiebreak = Seq(col("doc_id")),
        rightTiebreak = Seq(col("doc_id_b")),
        broadcastRows = 10, maxProduct = 100)
      row("dim", dim, col("o_totalprice"))
        .unionByName(row("fact", fact, col("l_quantity")))
        .unionByName(row("skew", skew, col("n_chars")))
        .orderBy("jcase")
    }, Some("""
      SELECT 'dim' AS jcase, 'broadcast' AS strategy, count(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders JOIN customer ON o_custkey = c_custkey
      UNION ALL
      SELECT 'fact', 'shuffle', count(*),
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      UNION ALL
      SELECT 'skew', 'capped', count(*),
             CAST(SUM(CAST(a.n_chars AS DECIMAL(18,2))) AS DOUBLE)
      FROM documents a JOIN documents b ON a.source = b.source
      ORDER BY jcase"""))),

    // D112 — grouped top-k via a BOUNDED-HEAP Aggregator (functions.TopK):
    // top-3 orders by price per priority without the window-rank full
    // sort — the aggregation state is a ≤ 16·k-byte min-heap per group,
    // map-side combinable, so the shuffle carries k rows per (partition,
    // group) instead of sorting the whole table. The (v DESC, id ASC)
    // total order makes the kept set data-determined; the oracle replays
    // it with the window-rank form.
    "q_topk_heap" -> (((spark, dir) => {
      load(spark, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(graft.functions.TopK.topk(col("o_orderkey"),
          col("o_totalprice"), 3).as("top"))
        .select(col("o_orderpriority"), posexplode(col("top")))
        .select(col("o_orderpriority"),
          (col("pos") + 1).cast("long").as("rnk"),
          col("col.id").as("o_orderkey"), col("col.v").as("o_totalprice"))
        .orderBy("o_orderpriority", "rnk")
    }, Some("""
      SELECT o_orderpriority, rnk, o_orderkey, o_totalprice FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        FROM orders) t
      WHERE rnk <= 3 ORDER BY o_orderpriority, rnk"""))),

    // Salted two-phase aggregation — the skew-mitigation shape for hot keys
    // (l_returnflag has 3 values over 600k rows: the worst-case hot-key agg).
    // Phase 1 spreads each key over 16 salt buckets (map-side partials land
    // on 48 reducers instead of 3); phase 2 merges the per-salt partials.
    // The oracle proves the decomposition is lossless.
    "q_salted_agg" -> (((spark, dir) => {
      val salted = load(spark, dir, "lineitem")
        .withColumn("salt", pmod(col("l_orderkey"), lit(16)))
        .groupBy("l_returnflag", "salt")
        .agg(sum(d18(col("l_quantity"))).as("pqty"), count(lit(1)).as("pn"))
      salted.groupBy("l_returnflag")
        .agg(sum(col("pqty")).cast("double").as("qty"), sum(col("pn")).as("n"))
        .orderBy("l_returnflag")
    }, Some("""
      SELECT l_returnflag,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
             count(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))),

    // Salted JOIN (operators.SkewSalt, the join-side twin of q_salted_agg):
    // lineitem joined on its 3-value returnflag — the degenerate hot-key
    // join — with the fact side salted 16 ways and the dim replicated, so
    // the fact exchange spreads each hot key over 16 reducers. The oracle
    // is the PLAIN join: salting changes parallelism, never semantics.
    "q_salted_join" -> (((spark, dir) => {
      val li = load(spark, dir, "lineitem")
      val dim = li.select(col("l_returnflag").as("rf")).distinct()
        .withColumn("label", concat(lit("G-"), col("rf")))
      graft.operators.SkewSalt.saltedJoin(li, dim, "l_returnflag", "rf",
          col("l_orderkey"), buckets = 16)
        .groupBy("label")
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("rev"))
        .orderBy("label")
    }, Some("""
      SELECT 'G-' || l_returnflag AS label, count(*) AS n,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS rev
      FROM lineitem GROUP BY 1 ORDER BY 1"""))),

    // Percentiles with a BOUNDED-MEMORY primary plan: exact `percentile`
    // buffers every group value in ONE aggregation buffer (3 groups over
    // lineitem = the whole fact in 3 buffers — a 100 TB memory killer), so
    // the first-class path is a deterministic k-minimum-hash sample
    // (functions.KmhSample: ≤ 32·k bytes of state per group, map-side
    // combinable) followed by exact interpolation over the ≤ k sampled
    // values. The kept set is the k rows smallest by (md5-hash, pk) — a
    // pure function of the data — so DuckDB replays the IDENTICAL sample
    // via row_number() and the estimates hash-match exactly (stronger than
    // a tolerance gate). Rank error ~0.5/sqrt(k) ≈ 0.6% at k = 8192.
    "q_percentile" -> (((spark, dir) => {
      val k = 8192
      val h = portableHash60(col("l_orderkey"), col("l_linenumber"))
      load(spark, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(graft.functions.KmhSample.sample(h,
          col("l_orderkey").cast("long"), col("l_linenumber").cast("long"),
          col("l_extendedprice").cast("double"), k).as("vals"))
        .select(col("l_returnflag"), explode(col("vals")).as("v"))
        .groupBy("l_returnflag")
        .agg(percentile(col("v"),
          array(lit(0.25), lit(0.5), lit(0.75))).as("ps"))
        .select(col("l_returnflag"),
          round(element_at(col("ps"), 1), 4).as("p25"),
          round(element_at(col("ps"), 2), 4).as("p50"),
          round(element_at(col("ps"), 3), 4).as("p75"))
        .orderBy("l_returnflag")
    }, Some("""
      WITH h AS (
        SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber,
               CAST('0x' || substring(md5(CAST(l_orderkey AS VARCHAR) || '|'
                 || CAST(l_linenumber AS VARCHAR)), 1, 15) AS BIGINT) AS hk
        FROM lineitem),
      r AS (
        SELECT *, row_number() OVER (PARTITION BY l_returnflag
                 ORDER BY hk, l_orderkey, l_linenumber) AS rn
        FROM h)
      SELECT l_returnflag,
             round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
             round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
             round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
      FROM r WHERE rn <= 8192
      GROUP BY l_returnflag ORDER BY l_returnflag"""))),

    // t-digest quantile sketch (functions.TDigest, Dunning's merging
    // digest) gated against the exact percentile — the mergeable-sketch
    // quantile twin beside KMV/CMS: ≤ ~δ/2 centroids of state per group at
    // any scale. Estimates are merge-order-dependent within the error
    // bound, so the gate is a tolerance band (q_approx_percentile's
    // pattern); the exact values here are the sf0.01 ORACLE GATE, not the
    // scale path — KmhSample/q_percentile is the replayable bounded path.
    "q_tdigest" -> (((spark, dir) => {
      load(spark, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(percentile(col("l_extendedprice"),
            array(lit(0.25), lit(0.5), lit(0.75))).as("ps"),
          graft.functions.TDigest.quantiles(
            col("l_extendedprice").cast("double"), 200,
            Seq(0.25, 0.5, 0.75)).as("td"))
        .select(col("l_returnflag") +: (1 to 3).flatMap(i =>
          Seq(round(element_at(col("ps"), i), 4).as(s"p$i"),
            (abs(element_at(col("td"), i) - element_at(col("ps"), i))
              <= element_at(col("ps"), i) * 0.01).as(s"p${i}_ok"))): _*)
        .orderBy("l_returnflag")
    }, Some("""
      SELECT l_returnflag,
             round(quantile_cont(l_extendedprice, 0.25), 4) AS p1,
             TRUE AS p1_ok,
             round(quantile_cont(l_extendedprice, 0.50), 4) AS p2,
             TRUE AS p2_ok,
             round(quantile_cont(l_extendedprice, 0.75), 4) AS p3,
             TRUE AS p3_ok
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))),

    // Winsorized (outlier-clipped) aggregation with BOUNDED state: the
    // p05/p95 clip cutoffs come from the deterministic KmhSample — but as
    // DISCRETE order statistics (an element of the sorted sample, i.e. a
    // raw data value), never an interpolated midpoint, so the decimal cast
    // of the clipped value is always a cast of raw data (midpoints round
    // differently per engine at the half-cent). Cutoffs broadcast (3 tiny
    // rows) onto the full scan; one pass, no group-sized buffers anywhere.
    "q_winsorize" -> (((spark, dir) => {
      val k = 8192
      val h = portableHash60(col("l_orderkey"), col("l_linenumber"))
      val cuts = load(spark, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(graft.functions.KmhSample.sample(h,
          col("l_orderkey").cast("long"), col("l_linenumber").cast("long"),
          col("l_extendedprice").cast("double"), k).as("vals"))
        .select(col("l_returnflag"), sort_array(col("vals")).as("sv"),
          size(col("vals")).as("n"))
        .select(col("l_returnflag"),
          element_at(col("sv"), greatest(lit(1),
            ceil(lit(0.05) * col("n")).cast("int"))).as("lo"),
          element_at(col("sv"),
            ceil(lit(0.95) * col("n")).cast("int")).as("hi"))
      load(spark, dir, "lineitem")
        .join(broadcast(cuts), "l_returnflag")
        .select(col("l_returnflag"),
          least(greatest(col("l_extendedprice").cast("double"), col("lo")),
            col("hi")).as("w"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(d18(col("w"))).cast("double")
          .as("wsum"))
        .orderBy("l_returnflag")
    }, Some("""
      WITH h AS (
        SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber,
               CAST('0x' || substring(md5(CAST(l_orderkey AS VARCHAR) || '|'
                 || CAST(l_linenumber AS VARCHAR)), 1, 15) AS BIGINT) AS hk
        FROM lineitem),
      s AS (
        SELECT l_returnflag, l_extendedprice,
               row_number() OVER (PARTITION BY l_returnflag
                 ORDER BY hk, l_orderkey, l_linenumber) AS rn
        FROM h),
      samp AS (SELECT l_returnflag, l_extendedprice FROM s WHERE rn <= 8192),
      idx AS (SELECT l_returnflag, count(*) AS n FROM samp GROUP BY 1),
      srt AS (
        SELECT l_returnflag, l_extendedprice,
               row_number() OVER (PARTITION BY l_returnflag
                 ORDER BY l_extendedprice) AS rv
        FROM samp),
      cut AS (
        SELECT srt.l_returnflag,
               max(CASE WHEN rv = greatest(1, CAST(ceil(0.05 * n) AS BIGINT))
                   THEN l_extendedprice END) AS lo,
               max(CASE WHEN rv = CAST(ceil(0.95 * n) AS BIGINT)
                   THEN l_extendedprice END) AS hi
        FROM srt JOIN idx USING (l_returnflag) GROUP BY 1)
      SELECT f.l_returnflag, count(*) AS n,
             CAST(SUM(CAST(least(greatest(f.l_extendedprice, cut.lo), cut.hi)
               AS DECIMAL(18,2))) AS DOUBLE) AS wsum
      FROM lineitem f JOIN cut ON f.l_returnflag = cut.l_returnflag
      GROUP BY 1 ORDER BY 1"""))),

    // D128 — EXACT distributed selection (operators.Select.kthLong): the
    // exact percentile that is safe at 100 TB — multi-round histogram
    // narrowing (each round ONE ≤4096-counter map-side-combinable
    // aggregation + a pushed-down range filter; ≤6 rounds for a 64-bit
    // domain) instead of the whole-sort shape ScaleSmoke bans from the
    // scale path. Values are fixed-pointed to cents so the arithmetic is
    // integral end-to-end; the oracle is the plain nearest-rank
    // row_number selection.
    "q_exact_kth" -> (((spark, dir) => {
      val cents = load(spark, dir, "lineitem")
        .select(round(col("l_extendedprice") * 100).cast("long").as("v"))
        .cache() // fixed-point ONCE; the counting rounds re-scan cached
                 // longs, not re-derived doubles (less than half the 20x wall)
      val p50 = graft.operators.Select.percentileLong(cents, "v", 0.5)
      val p90 = graft.operators.Select.percentileLong(cents, "v", 0.9)
      val n = cents.count()
      cents.unpersist()
      spark.createDataFrame(Seq((p50, p90, n))).toDF("p50", "p90", "n")
    }, Some("""
      WITH c AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v
                 FROM lineitem),
      nn AS (SELECT count(*) AS n FROM c),
      s AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM c)
      SELECT
        (SELECT v FROM s, nn
         WHERE rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))) AS p50,
        (SELECT v FROM s, nn
         WHERE rn = greatest(1, CAST(ceil(0.9 * n) AS BIGINT))) AS p90,
        (SELECT n FROM nn) AS n"""))),

    // Z-order (Morton) clustering values — the arithmetic behind
    // Layout.zorderWrite's multi-dimensional file clustering (Delta
    // OPTIMIZE ZORDER twin), verified bit-for-bit: the oracle computes the
    // identical interleave as a sum of disjoint-bit products
    "q_zvalue" -> (((spark, dir) => {
      load(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          graft.sink.Layout.zValue2(pmod(col("l_orderkey"), lit(4096)),
            pmod(col("l_partkey"), lit(4096)), bits = 12).as("z"))
        .orderBy("l_orderkey", "l_linenumber")
    }, Some {
      val terms = (0 until 12).flatMap { j =>
        Seq(s"(((l_orderkey % 4096) >> $j) & 1) * ${1L << (2 * j)}",
          s"(((l_partkey % 4096) >> $j) & 1) * ${1L << (2 * j + 1)}")
      }.mkString(" + ")
      s"""
      SELECT l_orderkey, l_linenumber, $terms AS z
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""
    })),

    // Bucketed co-located join end-to-end (StageWriter.writeBucketed —
    // previously plan-spec-only): both sides bucketed on the join key
    // through the session catalog, joined and aggregated with the
    // broadcast threshold disabled so the co-located (zero-exchange,
    // BucketingSpec-pinned) path actually executes, result vs the plain
    // join oracle. The pre-shuffle that pays for itself on first reuse —
    // at 100 TB the difference between re-shuffling the fact table per
    // join and never shuffling it again.
    "q_bucketed_join" -> (((spark, dir) => {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val (to, tl) = (s"bkt_orders_${Q.nextSinkId()}",
        s"bkt_lineitem_${Q.nextSinkId()}")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        graft.sink.StageWriter.writeBucketed(
          load(spark, dir, "orders").select("o_orderkey", "o_orderstatus"),
          to, Seq("o_orderkey"), numBuckets = 8, sortCols = Seq("o_orderkey"))
        graft.sink.StageWriter.writeBucketed(
          load(spark, dir, "lineitem")
            .select("l_orderkey", "l_extendedprice"),
          tl, Seq("l_orderkey"), numBuckets = 8, sortCols = Seq("l_orderkey"))
        spark.table(tl)
          .join(spark.table(to),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("rev"))
          .orderBy("o_orderstatus")
          .localCheckpoint() // materialize before the tables drop
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(s"DROP TABLE IF EXISTS $to")
        spark.sql(s"DROP TABLE IF EXISTS $tl")
      }
    }, Some("""
      SELECT o_orderstatus, count(*) AS n,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS rev
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1 ORDER BY o_orderstatus"""))),

    // Hive-style partitioned stage table + partition-directory pruning:
    // the reference's processdate-partitioned stage layout
    // (light_transform writes partitioned Delta; crawlers register the
    // partitions). StageWriter.overwrite(partitionBy) lays the table out
    // as type=<v> directories; a filter on the partition column must
    // reach the scan as a PartitionFilter so only that directory's files
    // are touched — asserted here by counting DISTINCT input files
    // against the partition's own file count (PartitionPruneSpec pins
    // the plan shape under a fixed session).
    "q_partition_prune" -> (((spark, dir) => {
      val tmp = Q.scratchDir("ppart_gate")
      try {
        val p = tmp.resolve("ev").toString
        graft.sink.StageWriter.overwrite(
          load(spark, dir, "events")
            .select(col("event_id"), col("event_type"), col("value")),
          p, partitionBy = Seq("event_type"))
        val one = spark.read.parquet(p)
          .filter(col("event_type") === "click")
        val touched = one.select(input_file_name()).distinct().count()
        val inDir = java.nio.file.Files.walk(
            java.nio.file.Paths.get(p, "event_type=click"))
          .toArray.count(_.toString.endsWith(".parquet")).toLong
        require(touched == inDir && touched > 0,
          s"partition pruning read $touched files, partition has $inDir")
        one.agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
          .localCheckpoint() // materialize before the table dir dies
      } finally graft.sink.StageWriter.deleteRecursively(tmp)
    }, Some("""
      SELECT count(*) AS n,
             CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM events WHERE event_type = 'click'"""))),

    // D123 — per-file BLOOM sidecar point-lookup pruning
    // (Sidecars.Bloom/bloomPrunedRead): orders is written clustered by
    // o_custkey, so every file's o_orderkey [min, max] straddles any probe
    // — the D107 range manifest prunes NOTHING for a point lookup on the
    // non-layout key. The persisted per-file Bloom sidecar (k hashed bit
    // positions per key, one bounded collect_set aggregation per write)
    // skips every file that can't contain a probe key; false positives
    // cost a file scan, never a wrong row (exact IN filter stays). The
    // gate asserts the skip actually happened (≤ a third of the files
    // survive 5 probes into 32 custkey-clustered files) and the rows match
    // the full-scan oracle.
    "q_bloom_file_prune" -> (((spark, dir) => {
      val tmp = Q.scratchDir("bloom_gate")
      try {
        val p = tmp.resolve("ord").toString
        load(spark, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .repartitionByRange(32, col("o_custkey"))
          .sortWithinPartitions("o_custkey")
          .write.parquet(p)
        // filter sized to the DATA (~64 bits per key across the 32
        // files, pow2, floor 2^17, cap 2^24): a fixed size saturates as
        // rows/file grow — 8192 bits skipped nothing at sf0.1, 2^17
        // would skip nothing at the 20x smoke. fp stays < 1e-3 at every
        // scale this gate runs
        val nRows = load(spark, dir, "orders").count()
        val bloomBits = math.min(1L << 24,
          math.max(1L << 17, java.lang.Long.highestOneBit(nRows * 2))).toInt
        graft.sink.Sidecars.declare(spark, p,
          Seq(graft.sink.Sidecars.Bloom("o_orderkey", bits = bloomBits)))
        val keys = Seq(11L, 4000L, 7777L, 9988L, 14000L)
        val (pruned, read, total) = graft.sink.Layout.bloomPrunedRead(
          spark, p, "o_orderkey", keys, bits = bloomBits)
        require(read <= total / 3 && total >= 16,
          s"bloom pruning ineffective: read $read of $total files")
        pruned.filter(col("o_orderkey").isin(keys: _*))
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .orderBy("o_orderkey")
          .localCheckpoint() // materialize before the table dir dies
      } finally graft.sink.StageWriter.deleteRecursively(tmp)
    }, Some("""
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      WHERE o_orderkey IN (11, 4000, 7777, 9988, 14000)
      ORDER BY o_orderkey"""))),

    // N-ary Morton interleave (Layout.zValueN — Delta ZORDER BY takes any
    // column count; bit j of col i → position j·n + i), verified
    // bit-for-bit on 3 columns: the oracle computes the identical
    // interleave as a sum of disjoint-bit products
    "q_zvalue3" -> (((spark, dir) => {
      load(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          graft.sink.Layout.zValueN(Seq(
            pmod(col("l_orderkey"), lit(1024)),
            pmod(col("l_partkey"), lit(1024)),
            pmod(col("l_suppkey"), lit(1024))), bits = 10).as("z"))
        .orderBy("l_orderkey", "l_linenumber")
    }, Some {
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey")
      val terms = (for (j <- 0 until 10; i <- cols.indices) yield
        s"(((${cols(i)} % 1024) >> $j) & 1) * ${1L << (j * 3 + i)}")
        .mkString(" + ")
      s"""
      SELECT l_orderkey, l_linenumber, $terms AS z
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""
    })),

    // D107 — stats-manifest file pruning (Layout.prunedRead): lineitem is
    // z-order-written into range-disjoint files, the per-file (min, max)
    // manifest is built in one stat-column scan, and a range predicate
    // reads ONLY the files whose range can intersect — Delta data skipping
    // on the Parquet fallback. The gate proves pruned + residual filter ≡
    // the full-scan filter (the skipping-effectiveness file counts are
    // session-layout-dependent, so LayoutSpec pins those under a fixed
    // session instead).
    "q_file_prune" -> (((spark, dir) => {
      val tmp = Q.scratchDir("prune_gate")
      try {
        val p = tmp.resolve("li").toString
        graft.sink.Layout.zorderWrite(
          load(spark, dir, "lineitem")
            .select("l_orderkey", "l_partkey", "l_extendedprice"),
          p, "l_orderkey", "l_partkey", bits = 16, numFiles = 32)
        val (pruned, _, _) =
          graft.sink.Layout.prunedRead(spark, p, "l_orderkey", 10000L, 20000L)
        val row = pruned
          .filter(col("l_orderkey").between(10000L, 20000L)) // residual
          // coalesce: an empty range (every file pruned) must yield
          // (0, 0.0), not a NULL sum that breaks the typed fetch
          .agg(count(lit(1)).as("n"),
            coalesce(dsum(col("l_extendedprice")), lit(0.0)).as("total"))
          .head()
        spark.createDataFrame(Seq((row.getLong(0), row.getDouble(1))))
          .toDF("n", "total")
      } finally graft.sink.StageWriter.deleteRecursively(tmp)
    }, Some("""
      SELECT count(*) AS n,
             COALESCE(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
               AS DOUBLE), 0.0) AS total
      FROM lineitem WHERE l_orderkey BETWEEN 10000 AND 20000"""))),

    // Approximate percentile (Greenwald-Khanna sketch) gated against the
    // exact sort-based percentile — the 100 TB twin of q_percentile: the
    // exact form is the oracle-able one, the sketch is one mergeable pass
    // (no full sort shuffle) and the gate asserts it landed within 1% —
    // same consumption pattern as q_approx_distinct's HLL gate
    "q_approx_percentile" -> (((spark, dir) => {
      load(spark, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(percentile(col("l_extendedprice"), lit(0.5)), 4)
            .as("exact_p50"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000))
            .as("ap"))
        .select(col("l_returnflag"), col("exact_p50"),
          (abs(col("ap") - col("exact_p50")) <= col("exact_p50") * 0.01)
            .as("within_1pct"))
        .orderBy("l_returnflag")
    }, Some("""
      SELECT l_returnflag,
             round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_p50,
             TRUE AS within_1pct
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))),

    // Moving-window aggregation (ROWS frame): 3-month trailing average of
    // monthly order totals — frame semantics verified cross-engine
    "q_moving_agg" -> (((spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val monthly = load(spark, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("m"))
        .agg(dsum(col("o_totalprice")).as("mtotal"), count(lit(1)).as("n"))
      val w = Window.orderBy("m").rowsBetween(-2, 0)
      monthly
        .select(col("m"), col("n"),
          round(avg(col("mtotal")).over(w), 2).as("avg3m"),
          sum(col("n")).over(w).as("n3m"))
        .orderBy("m")
    }, Some("""
      WITH monthly AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS mtotal,
               count(*) AS n
        FROM orders GROUP BY 1)
      SELECT m, n,
             round(avg(mtotal) OVER w, 2) AS avg3m,
             CAST(sum(n) OVER w AS BIGINT) AS n3m
      FROM monthly
      WINDOW w AS (ORDER BY m ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      ORDER BY m"""))),

    // Date-spine densification: sequence + explode generates every month in
    // the data range, left join fills gaps with zero — the standard
    // time-series completion shape (a generated dimension, no source scan
    // for the spine)
    "q_date_spine" -> (((spark, dir) => {
      val o = load(spark, dir, "orders")
        .withColumn("m", date_trunc("month", col("o_orderdate")).cast("date"))
      val bounds = o.agg(min("m").as("lo"), max("m").as("hi"))
      val spine = bounds.select(explode(expr(
        "sequence(lo, hi, interval 1 month)")).as("m"))
      spine.join(o.groupBy("m").agg(count(lit(1)).as("n")), Seq("m"), "left")
        .select(col("m"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("m")
    }, Some("""
      WITH o AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m
                 FROM orders),
      spine AS (
        SELECT CAST(unnest(generate_series(
          (SELECT CAST(min(m) AS TIMESTAMP) FROM o),
          (SELECT CAST(max(m) AS TIMESTAMP) FROM o),
          INTERVAL 1 MONTH)) AS DATE) AS m),
      agg AS (SELECT m, count(*) AS n FROM o GROUP BY m)
      SELECT spine.m, coalesce(agg.n, 0) AS n
      FROM spine LEFT JOIN agg USING (m) ORDER BY m"""))),

    // Range (non-equi) join: facts against a generated interval dimension
    // (quarter windows), lo <= ts < hi. The dim is broadcast — at any fact
    // scale this is the right plan for a small interval table (each fact row
    // probes the broadcast list; no shuffle, no cross-join explosion)
    "q_range_join" -> (((spark, dir) => {
      val quarters = spark.range(0, 28).select(
        col("id").as("q_idx"),
        expr("add_months(date'1992-01-01', cast(id * 3 as int))").as("q_lo"),
        expr("add_months(date'1992-01-01', cast((id + 1) * 3 as int))")
          .as("q_hi"))
      val o = load(spark, dir, "orders")
        .withColumn("od", col("o_orderdate").cast("date"))
      o.join(broadcast(quarters),
          col("od") >= col("q_lo") && col("od") < col("q_hi"))
        .groupBy("q_idx", "q_lo")
        .agg(count(lit(1)).as("n"))
        .orderBy("q_idx")
    }, Some("""
      WITH quarters AS (
        SELECT i AS q_idx,
               (DATE '1992-01-01' + (i * 3) * INTERVAL 1 MONTH) AS q_lo,
               (DATE '1992-01-01' + ((i + 1) * 3) * INTERVAL 1 MONTH) AS q_hi
        FROM range(0, 28) t(i))
      SELECT q_idx, CAST(q_lo AS DATE) AS q_lo, count(*) AS n
      FROM orders JOIN quarters
        ON CAST(o_orderdate AS DATE) >= q_lo
       AND CAST(o_orderdate AS DATE) < q_hi
      GROUP BY q_idx, q_lo ORDER BY q_idx"""))),

    // Correlated scalar subqueries through the SQL interface — Catalyst
    // rewrites both into aggregate+join (RewriteCorrelatedScalarSubquery).
    // "orders above twice their customer's average" is expressed as
    // price*count > 2*sum so every comparison is exact decimal/integer
    // arithmetic (an avg would divide differently per engine)
    "q_corr_scalar" -> (((spark, dir) => {
      load(spark, dir, "orders").createOrReplaceTempView("v_orders")
      spark.sql("""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM v_orders o
        WHERE CAST(o_totalprice AS DECIMAL(18,2)) *
              (SELECT count(*) FROM v_orders o2
               WHERE o2.o_custkey = o.o_custkey)
              > 2 * (SELECT sum(CAST(o_totalprice AS DECIMAL(18,2)))
                     FROM v_orders o2 WHERE o2.o_custkey = o.o_custkey)
        ORDER BY o_orderkey""")
    }, Some("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders o
      WHERE CAST(o_totalprice AS DECIMAL(18,2)) *
            (SELECT count(*) FROM orders o2
             WHERE o2.o_custkey = o.o_custkey)
            > 2 * (SELECT sum(CAST(o_totalprice AS DECIMAL(18,2)))
                   FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      ORDER BY o_orderkey"""))),

    // Ordered array aggregation, rendered as a string (array outputs don't
    // compare portably; the joined string does)
    "q_array_agg" -> (((spark, dir) => {
      load(spark, dir, "nation")
        .groupBy("n_regionkey")
        .agg(concat_ws(",", array_sort(collect_list(col("n_name"))))
          .as("nations"))
        .orderBy("n_regionkey")
    }, Some("""
      SELECT n_regionkey,
             array_to_string(list(n_name ORDER BY n_name), ',') AS nations
      FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"""))),

    // Statistical aggregates (sample stddev/variance, correlation,
    // covariance) — rounded so the engines' different accumulation
    // algorithms (Welford vs naive) cannot surface ulp noise
    "q_stats" -> (((spark, dir) => {
      load(spark, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(stddev_samp(col("l_extendedprice")), 2).as("sd_price"),
          round(var_samp(col("l_discount")), 6).as("var_disc"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2)
            .as("cov_qp"))
        .orderBy("l_returnflag")
    }, Some("""
      SELECT l_returnflag,
             round(stddev_samp(l_extendedprice), 2) AS sd_price,
             round(var_samp(l_discount), 6) AS var_disc,
             round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
             round(covar_samp(l_quantity, l_extendedprice), 2) AS cov_qp
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))),

    // Navigation windows: first/last/nth over an explicit full-partition
    // ROWS frame with a deterministic order (frame semantics verified
    // cross-engine)
    "q_window_nav" -> (((spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("c_nationkey")
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      load(spark, dir, "customer")
        .select(col("c_nationkey"), col("c_custkey"),
          first("c_custkey").over(w).as("richest"),
          last("c_custkey").over(w).as("poorest"),
          nth_value(col("c_custkey"), 2).over(w).as("second"))
        .filter(col("c_custkey") === col("richest"))
        .orderBy("c_nationkey")
    }, Some("""
      SELECT c_nationkey, c_custkey, richest, poorest, second FROM (
        SELECT c_nationkey, c_custkey,
               first_value(c_custkey) OVER w AS richest,
               last_value(c_custkey) OVER w AS poorest,
               nth_value(c_custkey, 2) OVER w AS second
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey
                     ORDER BY c_acctbal DESC, c_custkey ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
      WHERE c_custkey = richest ORDER BY c_nationkey"""))),

    // Ranking windows (rank / dense_rank / ntile per nation by balance)
    "q_window_rank" -> (((spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("c_nationkey")
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      load(spark, dir, "customer")
        .select(col("c_nationkey"), col("c_custkey"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          ntile(4).over(w).as("quartile"))
        .filter(col("rnk") <= 5)
        .orderBy("c_nationkey", "rnk", "c_custkey")
    }, Some("""
      SELECT c_nationkey, c_custkey, rnk, drnk, quartile FROM (
        SELECT c_nationkey, c_custkey,
               rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
               ntile(4) OVER w AS quartile
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey
                     ORDER BY c_acctbal DESC, c_custkey ASC))
      WHERE rnk <= 5 ORDER BY c_nationkey, rnk, c_custkey"""))),

    // Q1-style pricing summary: single scan, partial-agg, 4-group output
    "q1_pricing" -> (((spark, dir) => {
      load(spark, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base"),
          sum((d18(col("l_extendedprice")) *
            (lit(1) - col("l_discount").cast("decimal(3,2)")))
            .cast("decimal(18,4)")).cast("double").as("sum_disc"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }, Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                  (1 - CAST(l_discount AS DECIMAL(3,2)))
                  AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc,
             count(*) AS n
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))),

    // Q6-style selective scan: all three filters reach the parquet scan
    // (PushedFilters), one partial-agg — the pure scan-throughput shape
    "q6_selective" -> (((spark, dir) => {
      load(spark, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1994-01-01") &&
          col("l_shipdate") < lit("1995-01-01") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(sum((d18(col("l_extendedprice")) *
            col("l_discount").cast("decimal(3,2)"))
            .cast("decimal(18,4)")).cast("double").as("revenue"),
          count(lit(1)).as("n"))
    }, Some("""
      SELECT CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                  CAST(l_discount AS DECIMAL(3,2))
                  AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             count(*) AS n
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1995-01-01 00:00:00'
        AND l_discount BETWEEN 0.05 AND 0.07
        AND l_quantity < 24"""))),

    // Q14-style promo share: join + conditional aggregation; the ratio is
    // a division of two exact-decimal sums cast to double (identical in
    // both engines), rounded for output stability
    "q14_promo" -> (((spark, dir) => {
      val l = load(spark, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-09-01") &&
          col("l_shipdate") < lit("1995-10-01"))
      val p = load(spark, dir, "part")
      val rev = (d18(col("l_extendedprice")) *
        (lit(1) - col("l_discount").cast("decimal(3,2)")))
        .cast("decimal(18,4)")
      l.join(p, l("l_partkey") === p("p_partkey"))
        .agg(round(lit(100.0) *
          sum(when(col("p_type").startsWith("PROMO"), rev)
            .otherwise(lit(0).cast("decimal(18,4)"))).cast("double") /
          sum(rev).cast("double"), 4).as("promo_pct"),
          count(lit(1)).as("n"))
    }, Some("""
      SELECT round(100.0 *
               CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                    THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                         (1 - CAST(l_discount AS DECIMAL(3,2)))
                         AS DECIMAL(18,4))
                    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l_discount AS DECIMAL(3,2)))
                    AS DECIMAL(18,4))) AS DOUBLE), 4) AS promo_pct,
             count(*) AS n
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1995-10-01 00:00:00'"""))),

    // Q18-style large orders: aggregate-then-join with a HAVING filter on
    // the exact decimal sum (the "find the whales" shape)
    "q18_big_orders" -> (((spark, dir) => {
      val big = load(spark, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sum(d18(col("l_quantity"))).as("sum_qty"))
        .filter(col("sum_qty") > 300)
      val o = load(spark, dir, "orders")
      o.join(big, o("o_orderkey") === big("l_orderkey"))
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate").cast("date").as("od"),
          col("sum_qty").cast("double").as("sum_qty"))
        .orderBy("o_orderkey")
    }, Some("""
      SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS od,
             CAST(sum_qty AS DOUBLE) AS sum_qty
      FROM orders JOIN (
        SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300
      ) ON o_orderkey = l_orderkey
      ORDER BY o_orderkey"""))),

    // Q17-style small-quantity revenue: the CORRELATED-AVG-subquery shape.
    // The 0.5·avg(per-part) threshold is rewritten multiplicatively
    // (2·qty·cnt < sum) so the comparison is decimal-exact — a decimal
    // DIVISION would pick up engine-specific result scales. Catalyst plans
    // the self-correlated aggregate as one grouped subquery + join (no
    // per-row re-scan), the shape that matters at scale.
    "q17_small_qty" -> (((spark, dir) => {
      val li = load(spark, dir, "lineitem")
      val brandParts = load(spark, dir, "part")
        .filter(col("p_brand") === "Brand#4").select("p_partkey")
      val perPart = li.groupBy(col("l_partkey").as("pk"))
        .agg(sum(d18(col("l_quantity"))).as("sq"),
          count(lit(1)).as("cnt"))
      li.join(broadcast(brandParts), li("l_partkey") === col("p_partkey"))
        .join(perPart, li("l_partkey") === col("pk"))
        .filter(d18(col("l_quantity")) * lit(2) * col("cnt") < col("sq"))
        .agg(count(lit(1)).as("n"),
          dsum(col("l_extendedprice")).as("total"))
    }, Some("""
      SELECT count(*) AS n,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total
      FROM lineitem l
      JOIN part ON p_partkey = l_partkey AND p_brand = 'Brand#4'
      JOIN (SELECT l_partkey AS pk,
                   SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
                   count(*) AS cnt
            FROM lineitem GROUP BY 1) ON pk = l_partkey
      WHERE CAST(l_quantity AS DECIMAL(18,2)) * 2 * cnt < sq"""))),

    // Q20-style supplier shortlist: the NESTED-SEMI-JOIN shape — suppliers
    // (in one nation) whose 1997 shipments of SMALL-type parts exceed a
    // quantity floor. Both inner predicates reduce to a grouped HAVING
    // feeding a left-semi join; nothing but supplier keys shuffles.
    "q20_part_suppliers" -> (((spark, dir) => {
      val smallParts = load(spark, dir, "part")
        .filter(col("p_type") === "SMALL").select("p_partkey")
      val qualifying = load(spark, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1998-01-01"))
        .join(broadcast(smallParts), col("l_partkey") === col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(sum(d18(col("l_quantity"))).as("sq"))
        .filter(col("sq") > 50)
      val nat = load(spark, dir, "nation")
        .filter(col("n_name") === "NATION_9")
      val s = load(spark, dir, "supplier")
      s.join(broadcast(nat), s("s_nationkey") === nat("n_nationkey"))
        .join(qualifying, s("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
        .orderBy("s_suppkey")
    }, Some("""
      SELECT s_suppkey, s_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_9' AND s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        JOIN part ON p_partkey = l_partkey AND p_type = 'SMALL'
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_suppkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 50)
      ORDER BY s_suppkey"""))),

    // Q21-style sole-late-supplier count: the EXISTS + NOT-EXISTS shape —
    // per supplier, finished orders where THIS supplier shipped late
    // (> o_orderdate + 90 days), ANOTHER supplier participated (left-semi
    // on the other-supplier lines), and NO other supplier was late
    // (left-anti on the other-late lines). Exercises the semi/anti join
    // pair on one fact table without partsupp/receiptdate (absent here).
    "q21_sole_late" -> (((spark, dir) => {
      val li = load(spark, dir, "lineitem").alias("l")
      val ord = load(spark, dir, "orders")
        .filter(col("o_orderstatus") === "F").alias("o")
      val late = li.join(ord, col("l.l_orderkey") === col("o.o_orderkey"))
        .filter(col("l.l_shipdate") >
          col("o.o_orderdate") + expr("INTERVAL 90 DAYS"))
        .select(col("l.l_orderkey").as("ok"), col("l.l_suppkey").as("sk"))
        .distinct().alias("late")
      val lines = li.select(col("l.l_orderkey").as("ok2"),
        col("l.l_suppkey").as("sk2")).distinct().alias("all2")
      late
        .join(lines,
          col("late.ok") === col("all2.ok2") &&
            col("late.sk") =!= col("all2.sk2"), "left_semi")
        .join(late.select(col("ok").as("ok3"), col("sk").as("sk3"))
            .alias("late3"),
          col("late.ok") === col("late3.ok3") &&
            col("late.sk") =!= col("late3.sk3"), "left_anti")
        .groupBy(col("sk").as("s_suppkey"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_suppkey"))
        .limit(20)
    }, Some("""
      WITH late AS (
        SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F'
          AND l_shipdate > o_orderdate + INTERVAL 90 DAY),
      lines AS (SELECT DISTINCT l_orderkey AS ok2, l_suppkey AS sk2
                FROM lineitem)
      SELECT sk AS s_suppkey, count(*) AS numwait
      FROM late t
      WHERE EXISTS (SELECT 1 FROM lines a
                    WHERE a.ok2 = t.ok AND a.sk2 <> t.sk)
        AND NOT EXISTS (SELECT 1 FROM late x
                        WHERE x.ok = t.ok AND x.sk <> t.sk)
      GROUP BY 1 ORDER BY numwait DESC, s_suppkey LIMIT 20"""))),

    // Q3-style shipping priority: 3-way join, top-10 by exact decimal revenue
    "q3_topk" -> (((spark, dir) => {
      val c = load(spark, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      val o = load(spark, dir, "orders")
        .filter(col("o_orderdate") < lit("1997-06-01"))
      val l = load(spark, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1997-06-01"))
      // customer GROWS with scale factor — no broadcast hint (a forced
      // broadcast is an executor OOM at sf100); AQE picks broadcast at
      // small SF from its size estimate and SMJ once it outgrows the
      // threshold. Verified: sf0.1 plan still broadcasts.
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(sum((d18(col("l_extendedprice")) *
            (lit(1) - col("l_discount").cast("decimal(3,2)")))
            .cast("decimal(18,4)")).cast("double").as("revenue"))
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("od"),
          col("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }, Some("""
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                  (1 - CAST(l_discount AS DECIMAL(3,2)))
                  AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
        AND l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
      GROUP BY o_orderkey, o_orderdate
      ORDER BY revenue DESC, o_orderkey LIMIT 10"""))),

    // Q5-style star join: region→nation→customer→orders→lineitem with
    // broadcast dims, revenue by nation
    "q5_starjoin" -> (((spark, dir) => {
      val region = load(spark, dir, "region").filter(col("r_name") === "ASIA")
      val nation = load(spark, dir, "nation")
      val customer = load(spark, dir, "customer")
      val orders = load(spark, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01") &&
          col("o_orderdate") < lit("1997-01-01"))
      val lineitem = load(spark, dir, "lineitem")
      // broadcast hints only on the FIXED-size dims (nation 25 / region 5
      // rows at any SF); customer grows with scale factor, so its join
      // strategy is left to AQE's size estimate (broadcast at small SF,
      // shuffle join beyond the threshold — never a forced OOM)
      lineitem
        .join(orders, lineitem("l_orderkey") === orders("o_orderkey"))
        .join(customer, orders("o_custkey") === customer("c_custkey"))
        .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum((d18(col("l_extendedprice")) *
            (lit(1) - col("l_discount").cast("decimal(3,2)")))
            .cast("decimal(18,4)")).cast("double").as("revenue"),
          count(lit(1)).as("n"))
        .orderBy(col("n_name"))
    }, Some("""
      SELECT n_name,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                  (1 - CAST(l_discount AS DECIMAL(3,2)))
                  AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             count(*) AS n
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY n_name ORDER BY n_name""")))
  )
}

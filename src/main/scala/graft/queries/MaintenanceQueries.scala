package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import Q._

/** Round-8 maintenance plane: the lakehouse features that keep DERIVED
  * state (materialized rollups, cached results) correct while the base
  * tables move — answering from precomputed aggregates when exactly
  * equivalent, maintaining them under retractions, and never serving
  * stale derived data. Exact-arithmetic discipline throughout so the
  * DuckDB oracle replays bit-for-bit.
  */
object MaintenanceQueries {

  val defs: Map[String, Entry] = Map(

    // D164 — materialized-view auto-rewrite (plans.MvRewrite): a query
    // aggregating the BASE path is transparently answered from its
    // KB-scale rollup when the MV subsumes it (grouping ⊆ keys, exact
    // decimal sum / count(1)), with inventory-fingerprint staleness:
    // after an un-caught-up base write the rule STANDS DOWN and the base
    // answers. The gate require()s both plan shapes (MV scan first,
    // base scan after the append) AND that the MV-era answer equals the
    // fresh answer minus exactly the appended group.
    "q_mv_rewrite" -> (((spark, dir) => {
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
        LogicalRelation}
      val tmp = Q.scratchDir("mv_gate")
      try {
        val base = tmp.resolve("base").toString
        val mvp = tmp.resolve("mv").toString
        load(spark, dir, "lineitem")
          .select(col("l_returnflag").as("rf"),
            col("l_linestatus").as("ls"), col("l_quantity").as("qty"))
          .repartition(4).write.parquet(base)
        graft.sink.StageWriter.overwrite(
          graft.operators.Rollup.build(
            spark.read.parquet(base), Seq("rf", "ls"), "qty"), mvp)
        graft.plans.MvRewrite.register(base, mvp, Seq("rf", "ls"), "qty")
        graft.plans.MvRewrite.ensureInstalled(spark)
        def q() = spark.read.parquet(base).groupBy("rf")
          .agg(sum(col("qty").cast(DecimalType(18, 2))).as("s"),
            count(lit(1)).as("n"))
          .select(col("rf"), col("s").cast("double").as("s"), col("n"))
        def scans(df: org.apache.spark.sql.DataFrame) =
          df.queryExecution.optimizedPlan.collect {
            case lr: LogicalRelation =>
              lr.relation.asInstanceOf[HadoopFsRelation]
                .location.rootPaths.map(_.toUri.getPath)
          }.flatten
        val served = q()
        require(scans(served).exists(_.endsWith("/mv")) &&
          !scans(served).exists(_.endsWith("/base")),
          "the subsuming aggregate must be answered from the MV")
        val fromMv = served.collect().map(r =>
          (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
        // base moves; the MV hasn't caught up — the rule must stand down
        import spark.implicits._
        Seq(("Z", "Z", 7.5)).toDF("rf", "ls", "qty")
          .write.mode("append").parquet(base)
        val fresh = q()
        require(scans(fresh).forall(!_.endsWith("/mv")),
          "a stale MV must never answer")
        val fromBase = fresh.collect().map(r =>
          (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
        require(fromBase - (("Z", 7.5, 1L)) == fromMv,
          "MV answer must equal the base answer on the shared groups")
        fresh.orderBy("rf").localCheckpoint()
      } finally graft.sink.StageWriter.deleteRecursively(tmp)
    }, Some("""
      WITH base AS (SELECT l_returnflag AS rf, l_quantity AS qty
                    FROM lineitem
                    UNION ALL SELECT 'Z', CAST(7.5 AS DOUBLE))
      SELECT rf, CAST(SUM(CAST(qty AS DECIMAL(18,2))) AS DOUBLE) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM base GROUP BY rf ORDER BY rf"""))),

    // D165 — retraction-aware rollup maintenance (Rollup.applyChanges):
    // a REAL change feed (VersionedTable.diff between two committed
    // versions: deletes every orderkey%7=0 row, +100 on every %11=0
    // survivor — updates arrive as delete+insert pairs) maintains the
    // v1 rollup to EXACTLY the v2 rebuild (require()d via two-sided
    // exceptAll) without rescanning the base. Keys fully retracted
    // leave the rollup entirely.
    "q_rollup_cdc" -> (((spark, dir) => {
      val tmp = Q.scratchDir("rollcdc_gate")
      try {
        val vt = tmp.resolve("orders").toString
        val orders = load(spark, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
        val v2 = orders.filter(pmod(col("o_orderkey"), lit(7)) =!= 0)
          .withColumn("o_totalprice",
            when(pmod(col("o_orderkey"), lit(11)) === 0,
              col("o_totalprice") + 100.0).otherwise(col("o_totalprice")))
        graft.sink.VersionedTable.commit(orders, vt)
        graft.sink.VersionedTable.commit(v2, vt)
        val changes = graft.sink.VersionedTable.diff(spark, vt, 1, 2)
        val r1 = graft.operators.Rollup.build(
          graft.sink.VersionedTable.read(spark, vt, Some(1)),
          Seq("o_custkey"), "o_totalprice").localCheckpoint()
        Q.Phase.setupDone() // prior rollup + version diff are fixture
        // checkpoint: maintained feeds the equality proof AND the output
        val maintained = graft.operators.Rollup.applyChanges(
          r1, changes, Seq("o_custkey"), "o_totalprice")
          .localCheckpoint()
        Q.Phase.opDone() // the v2 rebuild + equality is the PROOF
        val rebuilt = graft.operators.Rollup.build(
          graft.sink.VersionedTable.read(spark, vt, Some(2)),
          Seq("o_custkey"), "o_totalprice").localCheckpoint()
        // multiset equality: equal counts + one empty difference
        require(maintained.count() == rebuilt.count() &&
          maintained.exceptAll(rebuilt).isEmpty,
          "maintain(diff) over build(v1) must equal build(v2) exactly")
        graft.operators.Rollup.readable(maintained)
          .orderBy("o_custkey").localCheckpoint()
      } finally graft.sink.StageWriter.deleteRecursively(tmp)
    }, Some("""
      WITH v2 AS (SELECT o_custkey,
                    CASE WHEN o_orderkey % 11 = 0
                         THEN o_totalprice + 100.0
                         ELSE o_totalprice END AS p
                  FROM orders WHERE o_orderkey % 7 <> 0)
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM v2 GROUP BY o_custkey ORDER BY o_custkey"""))),

    // D226 — PUBLIC change-data-feed read (VersionedTable.readChangeFeed,
    // the Delta table_changes(from, to) consumer surface): D165's
    // applyChanges is fed FROM the public API across TWO commits
    // (deletes + updates + re-inserts), the bootstrap arm (fromV=0, the
    // new-consumer path: the snapshot as pure inserts over an empty
    // rollup) lands on the same contract, and an invalid range refuses
    // loudly. maintain(feed) ≡ rebuild require()d both arms; the output
    // is the maintained v3 rollup, recomputed from scratch by the oracle.
    "c5_change_feed" -> (((spark, dir) => {
      val tmp = Q.scratchDir("cdf_gate")
      try {
        val vt = tmp.resolve("orders").toString
        val orders = load(spark, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
        val v2 = orders.filter(pmod(col("o_orderkey"), lit(7)) =!= 0)
          .withColumn("o_totalprice",
            when(pmod(col("o_orderkey"), lit(11)) === 0,
              col("o_totalprice") + 100.0).otherwise(col("o_totalprice")))
        val v3 = v2.withColumn("o_totalprice",
            when(pmod(col("o_orderkey"), lit(13)) === 0,
              col("o_totalprice") + 50.0).otherwise(col("o_totalprice")))
          .unionByName(orders
            .filter(pmod(col("o_orderkey"), lit(7)) === 0 &&
              pmod(col("o_orderkey"), lit(2)) === 0)
            .withColumn("o_totalprice", col("o_totalprice") + 1000.0))
        graft.sink.VersionedTable.commit(orders, vt)
        graft.sink.VersionedTable.commit(v2, vt)
        graft.sink.VersionedTable.commit(v3, vt)
        val r1 = graft.operators.Rollup.build(
          graft.sink.VersionedTable.read(spark, vt, Some(1)),
          Seq("o_custkey"), "o_totalprice").localCheckpoint()
        Q.Phase.setupDone() // three commits + the prior rollup = fixture
        val feed = graft.sink.VersionedTable
          .readChangeFeed(spark, vt, 1, 3)
        val maintained = graft.operators.Rollup.applyChanges(
          r1, feed, Seq("o_custkey"), "o_totalprice").localCheckpoint()
        Q.Phase.opDone() // rebuild-equality + bootstrap + refusal = PROOF
        // proof arms at correctness SF only (Q.benchLean contract): the
        // rebuild and bootstrap exist purely to prove the maintained
        // rollup — Verify runs the full protocol every round
        if (!Q.benchLean) {
          val rebuilt = graft.operators.Rollup.build(
            graft.sink.VersionedTable.read(spark, vt, Some(3)),
            Seq("o_custkey"), "o_totalprice").localCheckpoint()
          require(Q.multisetEqual(maintained, rebuilt),
            "maintain(readChangeFeed(1,3)) over build(v1) must equal " +
              "build(v3) exactly")
          // bootstrap arm: fromV=0 delivers the snapshot as pure inserts
          // — applying it to an EMPTY rollup must also equal the rebuild
          val boot = graft.operators.Rollup.applyChanges(r1.limit(0),
            graft.sink.VersionedTable.readChangeFeed(spark, vt, 0, 3),
            Seq("o_custkey"), "o_totalprice")
          require(Q.multisetEqual(boot, rebuilt),
            "the fromV=0 bootstrap feed must rebuild the rollup exactly")
          // refusal arm: an empty or out-of-range window is a config
          // error, never an empty feed
          val refused = try {
            graft.sink.VersionedTable.readChangeFeed(spark, vt, 3, 3)
            false
          } catch { case _: IllegalArgumentException => true }
          require(refused, "from >= to must refuse, not return empty")
        }
        graft.operators.Rollup.readable(maintained)
          .orderBy("o_custkey").localCheckpoint()
      } finally graft.sink.StageWriter.deleteRecursively(tmp)
    }, Some("""
      WITH v3 AS (
        SELECT o_custkey,
               CASE WHEN o_orderkey % 13 = 0 THEN base + 50.0
                    ELSE base END AS p
        FROM (SELECT o_orderkey, o_custkey,
                     CASE WHEN o_orderkey % 11 = 0
                          THEN o_totalprice + 100.0
                          ELSE o_totalprice END AS base
              FROM orders WHERE o_orderkey % 7 <> 0) t
        UNION ALL
        SELECT o_custkey, o_totalprice + 1000.0 AS p
        FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 2 = 0)
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM v3 GROUP BY o_custkey ORDER BY o_custkey"""))),

    // D166 — plan-fingerprint result cache (sink.ResultCache): a repeat
    // ask of the same canonicalized plan over the same input state reads
    // the materialized result; ANY base write changes the inventory
    // fingerprint → new key → fresh compute. The gate require()s the
    // miss→hit→invalidate transitions, hit ≡ miss row equality, and that
    // the post-write answer carries the fresh row.
    "q_result_cache" -> (((spark, dir) => {
      val tmp = Q.scratchDir("rescache_gate")
      try {
        val base = tmp.resolve("base").toString
        val cache = tmp.resolve("cache").toString
        load(spark, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .write.parquet(base)
        def q() = spark.read.parquet(base).groupBy("o_custkey")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(DecimalType(18, 2))).as("s"))
          .select(col("o_custkey"), col("n"),
            col("s").cast("double").as("total"))
        val first = graft.sink.ResultCache.through(q(), cache)
        require(!first.hit && first.key.isDefined, "first ask must MISS")
        val second = graft.sink.ResultCache.through(q(), cache)
        require(second.hit && second.key == first.key,
          "an identical re-ask over unchanged inputs must HIT")
        require(second.df.exceptAll(first.df).isEmpty &&
          first.df.exceptAll(second.df).isEmpty,
          "the cached answer must equal the computed answer")
        import spark.implicits._
        Seq((99999999L, 77777L, 123.45))
          .toDF("o_orderkey", "o_custkey", "o_totalprice")
          .write.mode("append").parquet(base)
        val third = graft.sink.ResultCache.through(q(), cache)
        require(!third.hit && third.key != first.key,
          "a base write must invalidate (new key, fresh compute)")
        require(third.df.filter(col("o_custkey") === 77777L).count() == 1,
          "the fresh answer must see the appended row")
        third.df.orderBy("o_custkey").localCheckpoint()
      } finally graft.sink.StageWriter.deleteRecursively(tmp)
    }, Some("""
      WITH base AS (SELECT o_custkey, o_totalprice FROM orders
                    UNION ALL SELECT 77777, CAST(123.45 AS DOUBLE))
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total
      FROM base GROUP BY o_custkey ORDER BY o_custkey"""))),

    // D167 — mojibake repair (TextAnalysis.mojibakeRepair): fold the
    // pinned UTF-8-as-cp1252 sequences back to their intended characters
    // — a pure codegen'd replace chain, zero shuffles. The gate corrupts
    // every 5th document with a known mojibake prefix in BOTH engines and
    // pins the repaired head, characters recovered, and changed flag.
    "text_mojibake" -> (((spark, dir) => {
      val inject = "CafÃ© â€” rÃ©sumÃ©: "
      val docs = load(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
        .withColumn("text",
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(lit(inject), col("text"))).otherwise(col("text")))
      val out = graft.llm.TextAnalysis.mojibakeRepair(docs, "text")
        .select(col("doc_id"),
          substring(col("repaired"), 1, 60).as("head"),
          (length(col("text")) - length(col("repaired")))
            .cast("long").as("recovered"),
          (col("text") =!= col("repaired")).cast("int").as("changed"))
      require(out.filter(col("changed") === 1).count() > 0,
        "the repair must actually fire on the corrupted docs")
      out.orderBy("doc_id")
    }, Some {
      val inject = "CafÃ© â€” rÃ©sumÃ©: "
      val chain = graft.llm.TextAnalysis.MojibakePairs
        .foldLeft("t") { case (e, (b, g)) => s"replace($e, '$b', '$g')" }
      s"""
      WITH c AS (SELECT doc_id,
                   CASE WHEN doc_id % 5 = 0 THEN '$inject' || text
                        ELSE text END AS t
                 FROM documents),
      r AS (SELECT doc_id, t, $chain AS rep FROM c)
      SELECT doc_id, substring(rep, 1, 60) AS head,
             CAST(length(t) - length(rep) AS BIGINT) AS recovered,
             CAST(t <> rep AS INTEGER) AS changed
      FROM r ORDER BY doc_id"""
    })),

    // D168 — Hilbert-curve clustering (Layout.hilbertWrite over the
    // codegen'd functions.Hilbert expression): rows land in files that
    // are contiguous RANGES of the unit-step curve, so an aligned
    // rectangle is one curve interval and its query touches a handful of
    // files. The gate clusters lineitem on a 1024×1024 grid, REQUIREs
    // file skipping on each single dimension AND that the 128×128
    // rectangle touches ≤ max(3, files/4) files, then oracle-matches the
    // rectangle rows themselves (layout must never change results).
    "q_hilbert" -> (((spark, dir) => {
      val tmp = Q.scratchDir("hilbert_gate")
      try {
        val path = tmp.resolve("t").toString
        val src = load(spark, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
            col("l_quantity"),
            pmod(col("l_orderkey"), lit(1024)).cast("long").as("x"),
            pmod(col("l_partkey"), lit(1024)).cast("long").as("y"))
        graft.sink.Layout.hilbertWrite(src, path, "x", "y",
          bits = 10, numFiles = 32)
        Q.Phase.opDone() // the curve layout is the operator; checks follow
        val total = graft.sink.StageWriter.listDataFiles(
          java.nio.file.Paths.get(path)).size
        require(total >= 16, s"need a multi-file layout, got $total")
        // both dims' per-file ranges in ONE scan (two fileRanges calls
        // + a join paid a second full pass for the same answer)
        val both = graft.sink.Layout.fileRangesMulti(spark, path,
            Seq("x", "y"))
          .withColumnRenamed("x_mn", "xmn").withColumnRenamed("x_mx", "xmx")
          .withColumnRenamed("y_mn", "ymn").withColumnRenamed("y_mx", "ymx")
          .cache()
        try {
          val px = both.filter(col("xmn") <= 127).count()
          val py = both.filter(col("ymn") <= 127).count()
          require(px <= total * 2 / 3 && py <= total * 2 / 3,
            s"hilbert layout must skip files on EACH dim " +
              s"(x=$px, y=$py of $total)")
          val rect = both.filter(col("xmn") <= 127 && col("ymn") <= 127)
            .count()
          require(rect <= math.max(3, total / 4),
            s"an aligned 128x128 rectangle must be a near-contiguous " +
              s"curve interval ($rect of $total files)")
        } finally both.unpersist()
        spark.read.parquet(path)
          .filter(col("x") < 128 && col("y") < 128)
          .orderBy("l_orderkey", "l_linenumber")
          .localCheckpoint() // materialize before the scratch dir dies
      } finally graft.sink.StageWriter.deleteRecursively(tmp)
    }, Some("""
      SELECT l_orderkey, l_partkey, l_linenumber, l_quantity,
             l_orderkey % 1024 AS x, l_partkey % 1024 AS y
      FROM lineitem
      WHERE l_orderkey % 1024 < 128 AND l_partkey % 1024 < 128
      ORDER BY l_orderkey, l_linenumber"""))),

    // D169 — shallow clone (VersionedTable.cloneShallow, Delta SHALLOW
    // CLONE): a dev/test copy of a committed snapshot lands as a _ref
    // pointer — the gate require()s the WHOLE clone table stays under
    // 4 KB on disk (zero-copy proof) while reading the full snapshot.
    // Copy-on-write divergence both ways: a commit to the clone leaves
    // the source byte-equal; a later source commit leaves the clone's
    // pinned version readable. Final doubled-price clone state oracled
    // against the raw table.
    "c5_clone" -> (((spark, dir) => {
      val tmp = Q.scratchDir("clone_gate")
      try {
        val src = tmp.resolve("src").toString
        val dst = tmp.resolve("dev").toString
        val orders = load(spark, dir, "orders")
          .select("o_orderkey", "o_totalprice")
        graft.sink.VersionedTable.commit(
          orders.filter(col("o_orderkey") <= 1000), src)
        graft.sink.VersionedTable.commit(orders, src)
        val v = graft.sink.VersionedTable.cloneShallow(src, dst)
        require(v == 1, "first clone must land as version 1")
        val cloneBytes = graft.sink.StageWriter.dirSize(
          java.nio.file.Paths.get(dst))
        require(cloneBytes < 4096,
          s"shallow clone must copy NO data ($cloneBytes bytes on disk)")
        require(graft.sink.VersionedTable.read(spark, dst).count() ==
          orders.count(), "the clone must read the full source snapshot")
        // copy-on-write: a clone commit never touches the source
        val dev = graft.sink.VersionedTable.read(spark, dst)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
        graft.sink.VersionedTable.commit(dev, dst)
        require(graft.sink.VersionedTable.read(spark, src)
          .exceptAll(orders).isEmpty,
          "a commit to the clone must leave the source untouched")
        // source advances; the clone's pinned version stays readable
        graft.sink.VersionedTable.commit(
          orders.filter(col("o_orderkey") <= 10), src)
        require(graft.sink.VersionedTable.read(spark, dst, Some(1))
          .count() == orders.count(),
          "the clone's referenced snapshot must survive source commits")
        graft.sink.VersionedTable.read(spark, dst)
          .orderBy("o_orderkey")
          .localCheckpoint() // materialize before the scratch dir dies
      } finally graft.sink.StageWriter.deleteRecursively(tmp)
    }, Some("""
      SELECT o_orderkey, o_totalprice * 2 AS o_totalprice
      FROM orders ORDER BY o_orderkey"""))),

    // D170 — self-maintaining MV (plans.MvMaintain): the full lifecycle
    // on one versioned table — build registers the rewrite against the
    // head version's immutable data dir; a source commit structurally
    // un-registers (new path ⇒ registry miss ⇒ base answers, correct);
    // refresh catches the rollup up from the VERSION DIFF (O(changes),
    // no base rescan) and re-registers. The gate require()s all three
    // plan states and oracles the final MV-served aggregate.
    "q_mv_incremental" -> (((spark, dir) => {
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
        LogicalRelation}
      val tmp = Q.scratchDir("mvincr_gate")
      try {
        val vt = tmp.resolve("orders").toString
        val mv = tmp.resolve("mv").toString
        val orders = load(spark, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
        graft.sink.VersionedTable.commit(orders, vt)
        Q.Phase.setupDone() // op = the MV lifecycle itself (build,
        // structural un-register on commit, diff refresh, re-serve)
        require(graft.plans.MvMaintain.build(spark, vt, mv,
          Seq("o_custkey"), "o_totalprice") == 1)
        graft.plans.MvRewrite.ensureInstalled(spark)
        def q() = graft.sink.VersionedTable.read(spark, vt)
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(DecimalType(18, 2))).as("s"))
          .select(col("o_custkey"), col("n"),
            col("s").cast("double").as("total"))
        def usedMv(df: org.apache.spark.sql.DataFrame) =
          df.queryExecution.optimizedPlan.collect {
            case lr: LogicalRelation =>
              lr.relation.asInstanceOf[HadoopFsRelation]
                .location.rootPaths.map(_.toUri.getPath)
          }.flatten.exists(_.endsWith("/mv"))
        require(usedMv(q()), "after build, the head query must answer " +
          "from the MV")
        val v2 = orders.filter(pmod(col("o_orderkey"), lit(7)) =!= 0)
          .withColumn("o_totalprice",
            when(pmod(col("o_orderkey"), lit(11)) === 0,
              col("o_totalprice") + 100.0).otherwise(col("o_totalprice")))
        graft.sink.VersionedTable.commit(v2, vt)
        require(!usedMv(q()),
          "an un-refreshed MV must not answer the new head")
        val r = graft.plans.MvMaintain.refresh(spark, vt, mv,
          Seq("o_custkey"), "o_totalprice")
        require(r.fromV == 1 && r.toV == 2 && r.changeRows > 0,
          s"refresh must apply the version diff, got $r")
        val served = q()
        require(usedMv(served),
          "after refresh, the head query must answer from the MV again")
        served.orderBy("o_custkey").localCheckpoint()
      } finally graft.sink.StageWriter.deleteRecursively(tmp)
    }, Some("""
      WITH v2 AS (SELECT o_custkey,
                    CASE WHEN o_orderkey % 11 = 0
                         THEN o_totalprice + 100.0
                         ELSE o_totalprice END AS p
                  FROM orders WHERE o_orderkey % 7 <> 0)
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM v2 GROUP BY o_custkey ORDER BY o_custkey"""))),

    // D171 — RELY join elimination (plans.JoinElim): the query joins
    // customer and then uses no customer column — with the declared
    // o_custkey → c_custkey RELY edge the join is the identity on orders
    // and is CUT from the plan (require()d: no Join node). At 100 TB the
    // eliminated join is a full shuffle of the fact table, for free. The
    // oracle runs WITH the join, proving the cut preserves semantics;
    // the negative leg require()s a dim-referencing query keeps its join.
    "q_join_elim" -> (((spark, dir) => {
      import org.apache.spark.sql.catalyst.plans.logical.Join
      val tmp = Q.scratchDir("jelim_gate")
      try {
        val fact = tmp.resolve("orders").toString
        val dim = tmp.resolve("customer").toString
        load(spark, dir, "orders").write.parquet(fact)
        load(spark, dir, "customer").write.parquet(dim)
        graft.plans.Constraints.declareFk(
          fact, Seq("o_custkey"), dim, Seq("c_custkey"))
        graft.plans.JoinElim.ensureInstalled(spark)
        def hasJoin(df: org.apache.spark.sql.DataFrame) =
          df.queryExecution.optimizedPlan
            .collect { case j: Join => j }.nonEmpty
        val q = spark.read.parquet(fact)
          .join(spark.read.parquet(dim),
            col("o_custkey") === col("c_custkey"), "inner")
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .filter(col("o_totalprice") > 100000.0)
        require(!hasJoin(q), "the identity join must be eliminated")
        val withDim = spark.read.parquet(fact)
          .join(spark.read.parquet(dim),
            col("o_custkey") === col("c_custkey"), "inner")
          .select("o_orderkey", "c_mktsegment")
        require(hasJoin(withDim),
          "a dim-referencing query must keep its join")
        q.orderBy("o_orderkey")
          .localCheckpoint() // materialize before the scratch dir dies
      } finally {
        graft.plans.Constraints.drop(
          tmp.resolve("orders").toString, tmp.resolve("customer").toString)
        graft.sink.StageWriter.deleteRecursively(tmp)
      }
    }, Some("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE o_totalprice > 100000.0
      ORDER BY o_orderkey"""))),

    // D172 — duration-weighted SCD2 aggregation (Scd2.timeWeighted): the
    // time-weighted average rate in effect per user over a fixed window,
    // from the versioned dimension the event stream builds — exact
    // decimal weighted sums, one final IEEE division per key; zero-
    // coverage keys absent. Window pinned to days [19728, 19745) of the
    // events span in BOTH engines.
    "evt_scd2_weighted" -> (((spark, dir) => {
      val lo = 19728L * 86400L * 1000000000L
      val hi = 19745L * 86400L * 1000000000L
      val changes = load(spark, dir, "events")
        .groupBy("user_id", "ts").agg(max("value").as("rate"))
      val dim = graft.operators.Scd2.build(
        changes, Seq("user_id"), "ts", Seq("rate"))
      graft.operators.Scd2.timeWeighted(dim, Seq("user_id"), "rate",
        lo, hi).orderBy("user_id")
    }, Some {
      val lo = 19728L * 86400L * 1000000000L
      val hi = 19745L * 86400L * 1000000000L
      s"""
      WITH c AS (SELECT user_id, epoch_ns(ts) AS tsn, max("value") AS rate
                 FROM events GROUP BY 1, 2),
      d AS (SELECT user_id, tsn AS valid_from,
              lead(tsn) OVER (PARTITION BY user_id ORDER BY tsn)
                AS valid_to, rate
            FROM c),
      o AS (SELECT user_id, rate,
              CASE WHEN least(coalesce(valid_to, $hi), $hi) >
                        greatest(valid_from, $lo)
                   THEN least(coalesce(valid_to, $hi), $hi) -
                        greatest(valid_from, $lo)
                   ELSE 0 END AS ov
            FROM d),
      a AS (SELECT user_id, CAST(SUM(ov) AS BIGINT) AS covered_ns,
              SUM(CAST(rate AS DECIMAL(18,2)) * ov) AS ws
            FROM o GROUP BY 1)
      SELECT user_id, covered_ns,
             CAST(CAST(ws AS VARCHAR) AS DOUBLE) / covered_ns AS twa
      FROM a WHERE covered_ns > 0 ORDER BY user_id"""
    })),

    // D173 — streaming rollup maintenance (Streams.rollupMaintainStream):
    // a CDC change stream keeps the (n, s) rollup current per micro-batch
    // — two epochs (bootstrap inserts, then the delete/update diff) with
    // a REAL checkpoint restart between them, then a replay-fence proof:
    // the checkpoint is DELETED and the whole feed re-delivered, and the
    // applied-batch marker (swapped atomically WITH the data) must turn
    // the double-maintenance into a no-op. Final rollup require()d ≡ the
    // batch rebuild, then oracled.
    "evt_stream_rollup" -> (((spark, dir) => withStreamPartitions(spark, 4) {
      val tmp = Q.scratchDir("strollup_gate")
      try {
        val (feed, roll, chk) = (tmp.resolve("feed").toString,
          tmp.resolve("rollup").toString, tmp.resolve("chk").toString)
        val v1 = load(spark, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
        val v2 = v1.filter(pmod(col("o_orderkey"), lit(7)) =!= 0)
          .withColumn("o_totalprice",
            when(pmod(col("o_orderkey"), lit(11)) === 0,
              col("o_totalprice") + 100.0).otherwise(col("o_totalprice")))
        // epoch 1: bootstrap inserts
        Q.FixtureCache.link(spark, s"$dir|strollup_e1", feed)(
          v1.withColumn("change", lit("insert")).coalesce(1))
        Q.Phase.setupDone() // op = the maintenance stream epochs
        def life(): Unit = {
          val q = graft.streaming.Streams.rollupMaintainStream(spark,
            feed, roll, chk, Seq("o_custkey"), "o_totalprice")
          // AvailableNow semantics via processAllAvailable + stop
          q.processAllAvailable(); q.stop(); q.awaitTermination()
        }
        // the restart split + both equality proofs + the replay fence
        // are correctness protocol (Q.benchLean contract): change
        // application is additive per batch, so one delivery of the
        // whole feed maintains the identical rollup
        if (!Q.benchLean) life() // epoch 1 commits the bootstrap
        // epoch 2 (after a restart): the v1→v2 change feed
        Q.FixtureCache.link(spark, s"$dir|strollup_e2", feed)(
          v2.exceptAll(v1).withColumn("change", lit("insert"))
            .unionByName(v1.exceptAll(v2)
              .withColumn("change", lit("delete")))
            .coalesce(1))
        life()
        Q.Phase.opDone() // rebuild-equality + the replay fence = PROOF
        if (!Q.benchLean) {
          val rebuilt = graft.operators.Rollup.build(v2,
            Seq("o_custkey"), "o_totalprice").localCheckpoint()
          require(Q.multisetEqual(spark.read.parquet(roll), rebuilt),
            "streamed maintenance must equal the batch rebuild")
          // replay fence: rebuilt checkpoint re-delivers EVERYTHING; the
          // marker must no-op it (without the fence this double-counts)
          graft.sink.StageWriter.deleteRecursively(
            java.nio.file.Paths.get(chk))
          life()
          require(Q.multisetEqual(spark.read.parquet(roll), rebuilt),
            "the applied-batch fence must no-op a full re-delivery")
        }
        graft.operators.Rollup.readable(spark.read.parquet(roll))
          .orderBy("o_custkey").localCheckpoint()
      } finally graft.sink.StageWriter.deleteRecursively(tmp)
    }, Some("""
      WITH v2 AS (SELECT o_custkey,
                    CASE WHEN o_orderkey % 11 = 0
                         THEN o_totalprice + 100.0
                         ELSE o_totalprice END AS p
                  FROM orders WHERE o_orderkey % 7 <> 0)
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM v2 GROUP BY o_custkey ORDER BY o_custkey"""))),

    // D174 — RELY constraint validation + orphan quarantine
    // (Constraints.validate/splitOrphans): the audit that makes D171's
    // trust honest — pk uniqueness via one count, fk coverage via one
    // key-domain anti-join. The gate corrupts copies (3 orphan fact
    // rows, 1 duplicated pk) and require()s the exact violation counts
    // plus a clean valid/orphan split.
    "q_fk_validate" -> (((spark, dir) => {
      val tmp = Q.scratchDir("fkval_gate")
      val fact = tmp.resolve("orders").toString
      val dim = tmp.resolve("customer").toString
      try {
        import spark.implicits._
        val orders = load(spark, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
        orders.unionByName(Seq(
          (9000001L, 999999L, 1.0), (9000002L, 999999L, 2.0),
          (9000003L, 888888L, 3.0))
          .toDF("o_orderkey", "o_custkey", "o_totalprice"))
          .write.parquet(fact)
        val cust = load(spark, dir, "customer")
        cust.unionByName(cust.filter(col("c_custkey") === 1))
          .write.parquet(dim)
        graft.plans.Constraints.declareFk(
          fact, Seq("o_custkey"), dim, Seq("c_custkey"))
        val v = graft.plans.Constraints.validate(spark, fact, dim)
        require(v == graft.plans.Constraints.Validation(1L, 3L),
          s"expected exactly (1 dup pk group, 3 orphans), got $v")
        val (valid, orphans) = graft.plans.Constraints.splitOrphans(
          spark, fact, dim)
        val nOrphans = orphans.count()
        val nValid = valid.count()
        require(nOrphans == 3, s"orphan split must isolate 3, got $nOrphans")
        require(nValid == orders.count(),
          "every original fact row is referentially valid")
        Seq(("dup_pk_groups", v.dupPkGroups),
          ("orphan_rows", v.orphanRows), ("valid_rows", nValid))
          .toDF("metric", "value").orderBy("metric")
      } finally {
        graft.plans.Constraints.drop(fact, dim)
        graft.sink.StageWriter.deleteRecursively(tmp)
      }
    }, Some("""
      SELECT 'dup_pk_groups' AS metric, CAST(1 AS BIGINT) AS value
      UNION ALL SELECT 'orphan_rows', 3
      UNION ALL SELECT 'valid_rows', (SELECT count(*) FROM orders)
      ORDER BY metric"""))),

    // D175 — unpivot/melt (the inverse of D90's pivot, Spark's built-in
    // Dataset.unpivot): wide metric columns to long (id, metric, val)
    // form — pure narrow projection, no shuffle beyond the final sort.
    "q_unpivot" -> (((spark, dir) => {
      load(spark, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_discount")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount")),
          "metric", "val")
        .orderBy("l_orderkey", "l_linenumber", "metric")
    }, Some("""
      SELECT l_orderkey, l_linenumber, metric, val FROM (
        SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
               l_quantity AS val FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_extendedprice',
               l_extendedprice FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        FROM lineitem)
      ORDER BY l_orderkey, l_linenumber, metric"""))),

    // D163+D142 composition — automatic file pruning on a STRING-keyed
    // table: optimize writes the string-dialect sidecar, the (installed)
    // StatsFilePrune rule prunes a plain string-range filter's scan, and
    // the rows match the full-scan oracle. The gate require()s strictly
    // fewer files scanned than the directory holds.
    "q_auto_prune_string" -> (((spark, dir) => {
      val tmp = Q.scratchDir("apstr_gate")
      try {
        val path = tmp.resolve("t").toString
        load(spark, dir, "customer")
          .select(concat(lit("c_"),
            lpad(col("c_custkey").cast("string"), 8, "0")).as("c_key"),
            col("c_acctbal").as("bal"))
          .repartitionByRange(8, col("c_key"))
          .write.parquet(path)
        graft.sink.StageWriter.optimize(spark, path,
          targetFileBytes = 8 * 1024, statsColumn = Some("c_key"))
        graft.plans.StatsFilePrune.ensureInstalled(spark)
        val q = spark.read.parquet(path)
          .filter(col("c_key") >= "c_00000200" && col("c_key") < "c_00000400")
        val total = graft.sink.StageWriter.listDataFiles(
          java.nio.file.Paths.get(path)).size
        val scanned = q.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources
              .LogicalRelation =>
            lr.relation.asInstanceOf[org.apache.spark.sql.execution
              .datasources.HadoopFsRelation].location.inputFiles.length
        }.head
        require(total >= 2 && scanned < total,
          s"string auto-prune must skip files ($scanned of $total)")
        q.orderBy("c_key").localCheckpoint()
      } finally graft.sink.StageWriter.deleteRecursively(tmp)
    }, Some("""
      SELECT 'c_' || lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS c_key,
             c_acctbal AS bal
      FROM customer
      WHERE c_custkey >= 200 AND c_custkey < 400
      ORDER BY c_key"""))),

    // D176 — portable bundle export/import (sink.Portable): export with
    // a distributed sha256 manifest, flip ONE byte in one bundled file,
    // require import to REFUSE naming that file, repair, then require
    // the clean import to round-trip exactly (oracled rows).
    "q_portable_bundle" -> (((spark, dir) => {
      val tmp = Q.scratchDir("bundle_gate")
      try {
        val src = tmp.resolve("src").toString
        val bundle = tmp.resolve("bundle").toString
        val dst = tmp.resolve("dst").toString
        load(spark, dir, "nation").repartition(3).write.parquet(src)
        val n = graft.sink.Portable.exportTable(spark, src, bundle)
        require(n >= 2, s"want a multi-file bundle, got $n")
        // bit-flip one data byte mid-file
        val victim = graft.sink.StageWriter.listDataFiles(
          java.nio.file.Paths.get(bundle, "data")).head
        val bytes = java.nio.file.Files.readAllBytes(victim)
        bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x1).toByte
        java.nio.file.Files.write(victim, bytes)
        val e = try {
          graft.sink.Portable.importTable(spark, bundle, dst); None
        } catch {
          case ex: graft.sink.Portable.IntegrityException => Some(ex)
        }
        require(e.exists(_.getMessage.contains(
          victim.getFileName.toString)),
          "import must refuse and NAME the corrupted file")
        require(!java.nio.file.Files.exists(java.nio.file.Paths.get(dst)),
          "nothing may be installed from a failed verification")
        // repair (re-export) and import cleanly
        graft.sink.Portable.exportTable(spark, src, bundle)
        require(graft.sink.Portable.importTable(spark, bundle, dst) == n)
        spark.read.parquet(dst).orderBy("n_nationkey")
          .localCheckpoint() // materialize before the scratch dir dies
      } finally graft.sink.StageWriter.deleteRecursively(tmp)
    }, Some("SELECT * FROM nation ORDER BY n_nationkey"))),

    // D177 — partition-level retention/TTL (StageWriter.expirePartitions):
    // drop whole day-partitions below the cutoff — O(dropped partitions)
    // metadata work, surviving partitions require()d byte-stable, and
    // the remaining rows oracled against the day filter.
    "q_partition_ttl" -> (((spark, dir) => {
      val tmp = Q.scratchDir("ttl_gate")
      try {
        val path = tmp.resolve("events").toString
        val ev = load(spark, dir, "events").select("event_id", "ts")
        graft.sink.StageWriter.writeDerivedPartitioned(ev, path,
          srcCol = "ts", partCol = "d", divisor = 86400L * 1000000000L)
        def inventory(): Map[String, Seq[(String, Long)]] = {
          val root = java.nio.file.Paths.get(path)
          val parts = java.nio.file.Files.list(root)
          try parts.toArray.map(_.asInstanceOf[java.nio.file.Path])
            .filter(p => java.nio.file.Files.isDirectory(p) &&
              p.getFileName.toString.startsWith("d="))
            .map(p => p.getFileName.toString ->
              graft.sink.StageWriter.listDataFiles(p).map(f =>
                (f.getFileName.toString, java.nio.file.Files.size(f))))
            .toMap
          finally parts.close()
        }
        val before = inventory()
        val dropped = graft.sink.StageWriter.expirePartitions(
          path, "d", cutoff = 19740L)
        require(dropped.nonEmpty && dropped.forall(_ < 19740L),
          s"expected expired day partitions, got $dropped")
        val after = inventory()
        require(after.keySet ==
          before.keySet.filter(_.drop(2).toLong >= 19740L),
          "exactly the sub-cutoff partitions must be gone")
        after.foreach { case (p, files) =>
          require(before(p) == files,
            s"surviving partition $p changed on disk") }
        spark.read.parquet(path)
          .select(col("event_id"), col("d").cast("long").as("d"))
          .orderBy("event_id")
          .localCheckpoint() // materialize before the scratch dir dies
      } finally graft.sink.StageWriter.deleteRecursively(tmp)
    }, Some("""
      SELECT event_id, epoch_ns(ts) // 86400000000000 AS d
      FROM events
      WHERE epoch_ns(ts) // 86400000000000 >= 19740
      ORDER BY event_id"""))),

    // D178 — keyed table compare (operators.TableDiff): old-pipeline vs
    // new-pipeline disagreement as (added, removed, changed, same) plus
    // PER-COLUMN changed counts — one full-outer key join + one
    // aggregation, null-safe per column. The gate mutates a copy three
    // ways and oracles the exact summary; a sampled changed row is
    // require()d to blame exactly the mutated column.
    "q_table_diff" -> (((spark, dir) => {
      import spark.implicits._
      val left = load(spark, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val right = left.filter(pmod(col("o_orderkey"), lit(13)) =!= 0)
        .withColumn("o_totalprice",
          when(pmod(col("o_orderkey"), lit(17)) === 0,
            col("o_totalprice") + 50.0).otherwise(col("o_totalprice")))
        .unionByName(Seq((8000001L, 1L, 10.0), (8000002L, 2L, 20.0))
          .toDF("o_orderkey", "o_custkey", "o_totalprice"))
      val sample = graft.operators.TableDiff.rows(left, right,
        Seq("o_orderkey")).filter(col("status") === "changed")
        .select(col("changed_cols")).limit(1)
        .as[Seq[String]].collect()
      require(sample.headOption.contains(Seq("o_totalprice")),
        s"a changed row must blame exactly the mutated column, got $sample")
      graft.operators.TableDiff.summary(left, right, Seq("o_orderkey"))
        .orderBy("metric")
    }, Some("""
      WITH m AS (SELECT
          count(*) FILTER (WHERE o_orderkey % 13 = 0) AS rem,
          count(*) FILTER (WHERE o_orderkey % 13 <> 0
                             AND o_orderkey % 17 = 0) AS chg,
          count(*) AS tot
        FROM orders)
      SELECT metric, value FROM (
        SELECT 'n_added' AS metric, CAST(2 AS BIGINT) AS value
        UNION ALL SELECT 'n_removed', rem FROM m
        UNION ALL SELECT 'n_changed', chg FROM m
        UNION ALL SELECT 'n_same', tot - rem - chg FROM m
        UNION ALL SELECT 'col:o_totalprice', chg FROM m)
      ORDER BY metric"""))),

    // D179 — referentially-closed dev sampling (operators.LinkedSample):
    // sample the ROOT key domain by the portable hash, take children by
    // key containment — the extract still JOINS. The gate require()s
    // closure (zero orphan custkeys among sampled orders) and a sane
    // fraction, then oracles per-table counts + exact-decimal sums.
    "q_linked_sample" -> (((spark, dir) => {
      import spark.implicits._
      val cust = load(spark, dir, "customer")
      val orders = load(spark, dir, "orders")
      val li = load(spark, dir, "lineitem")
      val sc = graft.operators.LinkedSample.root(cust, "c_custkey",
        rate = 0.2, salt = "dev")
      val so = graft.operators.LinkedSample.linked(orders, "o_custkey",
        sc, "c_custkey")
      val sl = graft.operators.LinkedSample.linked(li, "l_orderkey",
        so, "o_orderkey")
      // ONE aggregation pass per table (count + exact-decimal sum
      // together — separate count()/agg() calls would double every scan)
      def stat(df: org.apache.spark.sql.DataFrame, c: String) = {
        val r = df.agg(count(lit(1)), dsum(col(c))).head()
        (r.getLong(0), r.getDouble(1))
      }
      val (nC, sC) = stat(sc, "c_acctbal")
      val (nO, sO) = stat(so, "o_totalprice")
      val (nL, sL) = stat(sl, "l_quantity")
      require(so.join(sc, so("o_custkey") === sc("c_custkey"), "left_anti")
        .isEmpty, "sampled orders must be CLOSED over sampled customers")
      val frac = nC.toDouble / cust.count()
      require(frac > 0.1 && frac < 0.3,
        s"20% hash sample drifted to $frac")
      val rows = Seq(("customer", nC, sC), ("lineitem", nL, sL),
        ("orders", nO, sO))
      rows.toDF("t", "n", "total").orderBy("t")
    }, Some("""
      WITH sc AS (SELECT * FROM customer
                  WHERE CAST(CAST('0x' || substring(md5(
                      CAST(c_custkey AS VARCHAR) || '|dev'), 1, 15)
                    AS BIGINT) AS DOUBLE) / 1152921504606846976.0 < 0.2),
      so AS (SELECT o.* FROM orders o
             WHERE o.o_custkey IN (SELECT c_custkey FROM sc)),
      sl AS (SELECT l.* FROM lineitem l
             WHERE l.l_orderkey IN (SELECT o_orderkey FROM so))
      SELECT t, n, total FROM (
        SELECT 'customer' AS t, CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                 AS total FROM sc
        UNION ALL SELECT 'orders', count(*),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               FROM so
        UNION ALL SELECT 'lineitem', count(*),
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               FROM sl)
      ORDER BY t"""))),

    // D180 — tolerance-bounded as-of join (AsofJoin.asofJoinTolerant):
    // the latest click at-or-before each error, REJECTED when staler
    // than one hour — all carried columns null as a unit. Same one
    // key-sort plan as the plain as-of; the gate require()s the
    // tolerance actually rejected matches the plain join kept.
    "evt_asof_tolerance" -> (((spark, dir) => {
      val ev = load(spark, dir, "events")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      val hour = 3600L * 1000000000L
      val plain = graft.operators.AsofJoin.asofJoin(errors, clicks,
        Seq("user_id"), "ts", "ts", Seq("click_id"))
        .filter(col("asof_click_id").isNull).count()
      val out = graft.operators.AsofJoin.asofJoinTolerant(errors, clicks,
        Seq("user_id"), "ts", "ts", Seq("click_id"), maxGap = hour)
        .select(col("event_id"), col("user_id"),
          col("asof_click_id").as("prev_click_id"))
      require(out.filter(col("prev_click_id").isNull).count() > plain,
        "the tolerance must reject at least one stale match")
      out.orderBy("event_id")
    }, Some("""
      WITH errors AS (SELECT event_id, user_id, epoch_ns(ts) AS tsn
                      FROM events WHERE event_type = 'error'),
           clicks AS (SELECT event_id AS click_id, user_id,
                        epoch_ns(ts) AS tsn
                      FROM events WHERE event_type = 'click')
      SELECT e.event_id, e.user_id,
             CASE WHEN c.tsn IS NOT NULL
                    AND e.tsn - c.tsn <= 3600000000000
                  THEN c.click_id END AS prev_click_id
      FROM errors e ASOF LEFT JOIN clicks c
        ON e.user_id = c.user_id AND e.tsn >= c.tsn
      ORDER BY e.event_id"""))),

    // D181 — exact-k per-group sampling (LinkedSample.perGroupExact):
    // exactly min(k, |group|) docs per source by hash rank — the eval-set
    // constructor fraction-based stratification can't give. The gate
    // require()s the exact per-group counts, then oracles the chosen ids.
    "llm_eval_sample" -> (((spark, dir) => {
      val docs = load(spark, dir, "documents").select("doc_id", "source")
      val out = graft.operators.LinkedSample.perGroupExact(
        docs, "source", "doc_id", k = 40, salt = "eval")
      val sizes = docs.groupBy("source").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = out.groupBy("source").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      require(got == sizes.map { case (s, n) => s -> math.min(40L, n) },
        s"exact-k violated: $got vs groups $sizes")
      out.orderBy("source", "doc_id")
    }, Some("""
      SELECT doc_id, source FROM (
        SELECT doc_id, source, row_number() OVER (PARTITION BY source
          ORDER BY CAST('0x' || substring(md5(
            CAST(doc_id AS VARCHAR) || '|eval'), 1, 15) AS BIGINT),
            doc_id) AS r
        FROM documents)
      WHERE r <= 40 ORDER BY source, doc_id"""))),

    // D182 — multi-level IVM (Rollup.diffRollups + applyRollupChanges):
    // a per-customer rollup maintains a per-cohort (custkey % 100)
    // rollup from ITS OWN change feed — deltas of deltas; the base is
    // touched once. The gate require()s cascade ≡ direct rebuild and
    // that the parent feed is much smaller than the base change volume
    // would be, then oracles the cohort aggregate.
    "q_rollup_cascade" -> (((spark, dir) => {
      val v1 = load(spark, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val v2 = v1.filter(pmod(col("o_orderkey"), lit(7)) =!= 0)
        .withColumn("o_totalprice",
          when(pmod(col("o_orderkey"), lit(11)) === 0,
            col("o_totalprice") + 100.0).otherwise(col("o_totalprice")))
      val fine1 = graft.operators.Rollup.build(v1,
        Seq("o_custkey"), "o_totalprice").localCheckpoint()
      val baseChanges = v2.exceptAll(v1).withColumn("change", lit("insert"))
        .unionByName(v1.exceptAll(v2).withColumn("change", lit("delete")))
      val fine2 = graft.operators.Rollup.applyChanges(fine1, baseChanges,
        Seq("o_custkey"), "o_totalprice").localCheckpoint()
      val coarse1 = fine1.withColumn("g", pmod(col("o_custkey"), lit(100)))
        .groupBy("g").agg(sum("n").as("n"), sum("s").as("s"))
      val parentFeed = graft.operators.Rollup.diffRollups(fine1, fine2)
        .withColumn("g", pmod(col("o_custkey"), lit(100)))
      val maintained = graft.operators.Rollup.applyRollupChanges(
        coarse1, parentFeed, Seq("g"))
      val rebuilt = graft.operators.Rollup.build(
        v2.withColumn("g", pmod(col("o_custkey"), lit(100))),
        Seq("g"), "o_totalprice")
        .select(col("g"), col("n"),
          col("s").cast(org.apache.spark.sql.types.DecimalType(38, 2))
            .as("s"))
      val m38 = maintained.select(col("g"), col("n"),
        col("s").cast(org.apache.spark.sql.types.DecimalType(38, 2))
          .as("s"))
      require(m38.exceptAll(rebuilt).isEmpty &&
        rebuilt.exceptAll(m38).isEmpty,
        "cascaded maintenance must equal the direct rebuild exactly")
      graft.operators.Rollup.readable(maintained)
        .orderBy("g")
    }, Some("""
      WITH v2 AS (SELECT o_custkey % 100 AS g,
                    CASE WHEN o_orderkey % 11 = 0
                         THEN o_totalprice + 100.0
                         ELSE o_totalprice END AS p
                  FROM orders WHERE o_orderkey % 7 <> 0)
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM v2 GROUP BY g ORDER BY g"""))),

    // D230 — INCREMENTAL small-file compaction (StageWriter.compactSmall,
    // Delta OPTIMIZE's bin-packing shape): ONLY the small-file tail
    // rewrites — right-sized files stay byte-identical in place (names +
    // sizes require()d), selection is driver-side metadata, and every
    // pruning plane (stats + counts) stays fresh through the commit. A
    // second pass is require()d a no-op (idempotent maintenance). The
    // oracle proves content preservation: the compacted table reads back
    // exactly the source rows.
    "q_compact_small" -> (((spark, dir) => {
      val tmp = Q.scratchDir("csmall_gate")
      try {
        val t = tmp.resolve("ord").toString
        val orders = load(spark, dir, "orders")
          .select("o_orderkey", "o_totalprice")
        orders.filter(pmod(col("o_orderkey"), lit(5)) =!= 0)
          .coalesce(1).write.parquet(t)
        val big = graft.sink.StageWriter.listDataFiles(
          java.nio.file.Paths.get(t))
        orders.filter(pmod(col("o_orderkey"), lit(5)) === 0)
          .repartition(24).write.mode("append").parquet(t)
        graft.sink.Sidecars.declare(spark, t, Seq(
          graft.sink.Sidecars.Stats("o_orderkey"),
          graft.sink.Sidecars.Counts))
        val before = graft.sink.StageWriter.listDataFiles(
          java.nio.file.Paths.get(t))
        val bigNames = big.map(_.getFileName.toString).toSet
        val small = before.filterNot(p =>
          bigNames(p.getFileName.toString))
        // the size threshold is MEASURED, never guessed: strictly
        // between the largest straggler and the smallest head file, at
        // every SF the battery runs
        val smallMax = small.map(java.nio.file.Files.size(_)).max
        val bigMin = big.map(java.nio.file.Files.size(_)).min
        require(smallMax < bigMin,
          s"fixture degenerate: straggler $smallMax !< head $bigMin")
        val minBytes = (smallMax + bigMin) / 2
        val bigSizes = big.map(p =>
          p.getFileName.toString -> java.nio.file.Files.size(p)).toMap
        Q.Phase.setupDone() // mixed-layout table + declared planes
        // one bin (huge target): the packed output always clears the
        // threshold count (<= 1 small file short-circuits pass 2)
        val rep = graft.sink.StageWriter.compactSmall(spark, t,
          targetFileBytes = Long.MaxValue / 4, minFileBytes = minBytes)
        Q.Phase.opDone() // untouched/fresh/no-op proofs below
        require(rep.rewritten == small.size &&
          rep.filesBefore == before.size,
          s"exactly the small tail must rewrite (got $rep)")
        require(rep.filesAfter == big.size + 1,
          "bin-packing must land the tail in one file")
        big.foreach { p =>
          require(java.nio.file.Files.exists(p) &&
            java.nio.file.Files.size(p) ==
              bigSizes(p.getFileName.toString),
            s"right-sized file ${p.getFileName} must stay byte-identical")
        }
        require(graft.sink.MetadataAgg.count(t).nonEmpty &&
          graft.sink.MetadataAgg.minMax(t, "o_orderkey").nonEmpty,
          "every metadata plane must stay fresh through the compaction")
        val again = graft.sink.StageWriter.compactSmall(spark, t,
          targetFileBytes = Long.MaxValue / 4, minFileBytes = minBytes)
        require(again.rewritten == 0,
          s"a second pass must be a no-op (got $again)")
        spark.read.parquet(t)
          .select(col("o_orderkey"), col("o_totalprice").as("total"))
          .orderBy("o_orderkey").localCheckpoint()
      } finally graft.sink.StageWriter.deleteRecursively(tmp)
    }, Some("""
      SELECT o_orderkey, o_totalprice AS total
      FROM orders ORDER BY o_orderkey"""))),

    // D227 — METADATA-ONLY aggregate answering (sink.MetadataAgg): the
    // Delta/Iceberg "metadata-only query" — count(*), min/max of the
    // stats column, and per-partition counts served from the D190/D107
    // sidecar planes with ZERO Spark jobs (asserted via the job-group
    // tracker behind a listener-bus sentinel). Freshness is the D190
    // contract, proven adversarially: a file smuggled in behind the
    // sidecar's back makes every metadata answer stand DOWN (None) and
    // the full-scan fallback return the now-different truth — a stale
    // plane can degrade the answer path, never corrupt it. Oracle: the
    // same aggregates recomputed by a full scan of the source table.
    "q_metadata_only" -> (((spark, dir) => {
      val tmp = Q.scratchDir("meta_gate")
      try {
        val flat = tmp.resolve("ord").toString
        val part = tmp.resolve("ordp").toString
        val slice = load(spark, dir, "orders")
          .select("o_orderkey", "o_orderpriority", "o_totalprice")
        slice.select("o_orderkey", "o_totalprice")
          .repartition(8).write.parquet(flat)
        slice.write.partitionBy("o_orderpriority").parquet(part)
        graft.sink.Sidecars.declare(spark, flat, Seq(
          graft.sink.Sidecars.Stats("o_orderkey"),
          graft.sink.Sidecars.Counts))
        graft.sink.Sidecars.declare(spark, part,
          Seq(graft.sink.Sidecars.Counts))
        Q.Phase.setupDone() // tables + declared sidecar planes = fixture
        val (n, mm, parts) = Q.requireZeroJobs(spark, "meta_only") {
          (graft.sink.MetadataAgg.count(flat),
            graft.sink.MetadataAgg.minMax(flat, "o_orderkey"),
            graft.sink.MetadataAgg.partitionCounts(part))
        }
        Q.Phase.opDone() // staleness arm below = PROOF
        require(n.nonEmpty && mm.nonEmpty && parts.nonEmpty,
          "fresh sidecars must answer all three metadata-only forms")
        // staleness arm: smuggle a duplicate part file in behind the
        // sidecars — every metadata answer must stand down, and the
        // scan fallback returns the (now larger) truth
        val smuggled = {
          val files = graft.sink.StageWriter.listDataFiles(
            java.nio.file.Paths.get(flat))
          val src = files.head
          val dst = src.getParent.resolve("zz_smuggled.parquet")
          java.nio.file.Files.copy(src, dst)
          spark.read.parquet(dst.toString).count()
        }
        require(graft.sink.MetadataAgg.count(flat).isEmpty &&
          graft.sink.MetadataAgg.minMax(flat, "o_orderkey").isEmpty,
          "a foreign file must stand the metadata plane down")
        require(spark.read.parquet(flat).count() == n.get + smuggled,
          "the stand-down fallback is the full scan — and it sees " +
            "the smuggled rows")
        val rows = Seq(
          ("count", n.get), ("min", mm.get._1), ("max", mm.get._2)) ++
          parts.get.toSeq.map { case (d, c) =>
            ("part:" + d.substring(d.indexOf('=') + 1), c)
          }
        spark.createDataFrame(rows).toDF("metric", "value")
          .orderBy("metric").coalesce(1).localCheckpoint()
      } finally graft.sink.StageWriter.deleteRecursively(tmp)
    }, Some("""
      SELECT 'count' AS metric, CAST(count(*) AS BIGINT) AS value
      FROM orders
      UNION ALL SELECT 'min', CAST(min(o_orderkey) AS BIGINT) FROM orders
      UNION ALL SELECT 'max', CAST(max(o_orderkey) AS BIGINT) FROM orders
      UNION ALL
      SELECT 'part:' || o_orderpriority, CAST(count(*) AS BIGINT)
      FROM orders GROUP BY o_orderpriority
      ORDER BY metric"""))),

    // D234 — TRANSPARENT metadata-only rewrite (plans.MetadataRewrite):
    // the optimizer face of D227 — the user's own count(*)/min/max
    // aggregate over a declared-plane table collapses to a
    // LocalRelation holding the sidecar answer (the D164 MvRewrite
    // pattern over the sidecar family), with ZERO Spark jobs at
    // execution, proven by the listener-bus sentinel AND by the
    // optimized plan shape. Freshness is adversarial like
    // q_metadata_only: a smuggled file makes the SAME query keep its
    // scan (plan shape checked), launch real jobs, and return the
    // now-larger truth — the rewrite can degrade to the scan, never
    // serve stale. Oracle: the fresh aggregates recomputed by a full
    // scan of the source table.
    "q_metadata_rewrite" -> (((spark, dir) => {
      val tmp = Q.scratchDir("meta_rw")
      try {
        val t = tmp.resolve("ord").toString
        load(spark, dir, "orders").select("o_orderkey", "o_totalprice")
          .repartition(8).write.parquet(t)
        graft.sink.Sidecars.declare(spark, t, Seq(
          graft.sink.Sidecars.Stats("o_orderkey"),
          graft.sink.Sidecars.Counts))
        graft.plans.MetadataRewrite.ensureInstalled(spark)
        def q() = spark.read.parquet(t).agg(
          count(lit(1)).as("cnt"), min("o_orderkey").as("mn"),
          max("o_orderkey").as("mx"))
        Q.Phase.setupDone() // table + planes + installed rule = fixture
        def isLocal(df: org.apache.spark.sql.DataFrame) =
          df.queryExecution.optimizedPlan.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
        // analyze/optimize OUTSIDE the sentinel (spark.read's listing /
        // schema inference may job); the ANSWER — optimized plan to
        // collected row — is the zero-jobs claim
        val fresh = q()
        require(isLocal(fresh),
          "the fresh-plane aggregate must collapse to a LocalRelation")
        val r1 = Q.requireZeroJobs(spark, "meta_rw") {
          fresh.collect().head
        }
        Q.Phase.opDone() // staleness arm below = PROOF
        // foreign writer: the SAME query must keep its scan and see the
        // smuggled rows — the rewrite stands down exactly as the
        // explicit API does
        val smuggled = {
          val f = graft.sink.StageWriter.listDataFiles(
            java.nio.file.Paths.get(t)).head
          val dst = f.getParent.resolve("zz_smuggled.parquet")
          java.nio.file.Files.copy(f, dst)
          spark.read.parquet(dst.toString).count()
        }
        require(!isLocal(q()),
          "a foreign file must keep the scan in the plan (stand down)")
        val r2 = q().collect().head
        require(r2.getLong(0) == r1.getLong(0) + smuggled &&
          r2.getLong(1) == r1.getLong(1) && r2.getLong(2) == r1.getLong(2),
          s"the stand-down answer must be the scan's truth ($r1 -> $r2)")
        spark.createDataFrame(Seq((r1.getLong(0), r1.getLong(1),
          r1.getLong(2)))).toDF("cnt", "mn", "mx")
      } finally graft.sink.StageWriter.deleteRecursively(tmp)
    }, Some("""
      SELECT count(*) AS cnt, min(o_orderkey) AS mn,
             max(o_orderkey) AS mx
      FROM orders"""))),

    // D240 — transparent PARTITION-grouped counts (MetadataRewrite's
    // partition arm): `GROUP BY <first partition column>` + count(*)
    // over a Counts-declared partitioned layout collapses to a
    // LocalRelation from the per-partition file counts — the
    // SHOW-PARTITIONS-priced answer to the most common partitioned
    // GROUP BY, zero Spark jobs, the NULL partition served as the NULL
    // group exactly as the scan would. A file smuggled into one
    // partition dir stands the whole plane down (plan keeps the scan,
    // fallback sees the extra rows). Oracle: the grouped counts
    // recomputed by a full scan of the source table.
    "q_metadata_rewrite_part" -> (((spark, dir) => {
      val tmp = Q.scratchDir("meta_rw_part")
      try {
        val t = tmp.resolve("ord").toString
        load(spark, dir, "orders")
          .select("o_orderkey", "o_orderpriority")
          .write.partitionBy("o_orderpriority").parquet(t)
        graft.sink.Sidecars.declare(spark, t,
          Seq(graft.sink.Sidecars.Counts))
        graft.plans.MetadataRewrite.ensureInstalled(spark)
        def q() = spark.read.parquet(t)
          .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        def isLocal(df: org.apache.spark.sql.DataFrame) =
          df.queryExecution.optimizedPlan.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
        Q.Phase.setupDone() // table + counts plane + rule = fixture
        val fresh = q()
        require(isLocal(fresh),
          "the partition-grouped count must collapse to a LocalRelation")
        val rows = Q.requireZeroJobs(spark, "meta_rw_part") {
          fresh.collect()
        }
        Q.Phase.opDone() // staleness arm below = PROOF
        // smuggle a duplicate file into ONE partition dir: the same
        // query must keep its scan and see the extra rows there
        val pDir = java.nio.file.Paths.get(t)
          .resolve("o_orderpriority=1-URGENT")
        val f = graft.sink.StageWriter.listDataFiles(pDir).head
        val smuggled = {
          java.nio.file.Files.copy(f,
            f.getParent.resolve("zz_smuggled.parquet"))
          spark.read.parquet(
            f.getParent.resolve("zz_smuggled.parquet").toString).count()
        }
        val stale = q()
        require(!isLocal(stale),
          "a foreign file must keep the scan in the plan")
        val urgentFresh = rows.find(_.getString(0) == "1-URGENT")
          .get.getLong(1)
        val urgentStale = stale.collect()
          .find(_.getString(0) == "1-URGENT").get.getLong(1)
        require(urgentStale == urgentFresh + smuggled,
          "the stand-down fallback must see the smuggled rows")
        spark.createDataFrame(rows.map(r =>
            (r.getString(0), r.getLong(1))).toSeq)
          .toDF("o_orderpriority", "n")
          .orderBy("o_orderpriority").coalesce(1).localCheckpoint()
      } finally graft.sink.StageWriter.deleteRecursively(tmp)
    }, Some("""
      SELECT o_orderpriority, count(*) AS n
      FROM orders GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))),

    // D236 — metadata-only GROUP BY via per-file categorical histogram
    // sidecars (MetadataAgg.histCounts + Sidecars.Hist): each file
    // carries exact per-value counts of one declared low-cardinality
    // column; histograms add, so grouped counts and
    // `count(*) WHERE c = v` serve with ZERO Spark jobs — exactly.
    // Both the explicit API and the D234 TRANSPARENT rewrite arms are
    // proven (grouped + filtered plans collapse to LocalRelation,
    // zero-jobs sentinel); a smuggled file stands the plane down and
    // the same plans keep their scans; a never-occurring value answers
    // 0 (a valid exact answer, not a stand-down). Oracle: the grouped
    // counts recomputed by a full scan of the source table.
    "q_hist_sidecar" -> (((spark, dir) => {
      val tmp = Q.scratchDir("hist_gate")
      try {
        val t = tmp.resolve("ord").toString
        load(spark, dir, "orders").select("o_orderkey", "o_orderpriority")
          .repartition(8).write.parquet(t)
        graft.sink.Sidecars.declare(spark, t, Seq(
          graft.sink.Sidecars.Hist("o_orderpriority", maxDistinct = 16)))
        graft.plans.MetadataRewrite.ensureInstalled(spark)
        def grouped() = spark.read.parquet(t)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"))
        def filtered() = spark.read.parquet(t)
          .filter(col("o_orderpriority") === "1-URGENT")
          .agg(count(lit(1)).as("n"))
        def isLocal(df: org.apache.spark.sql.DataFrame) =
          df.queryExecution.optimizedPlan.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
        Q.Phase.setupDone() // table + plane + installed rule = fixture
        val (g, f, api) = {
          val gq = grouped(); val fq = filtered()
          require(isLocal(gq) && isLocal(fq),
            "grouped + filtered counts must collapse to LocalRelation")
          Q.requireZeroJobs(spark, "hist_only") {
            (gq.collect(), fq.collect().head.getLong(0),
              graft.sink.MetadataAgg.histCounts(t, "o_orderpriority"))
          }
        }
        Q.Phase.opDone() // stand-down proofs below
        require(api.nonEmpty, "the explicit API must answer when fresh")
        require(graft.sink.MetadataAgg.countWhere(t, "o_orderpriority",
          "9-NO-SUCH").contains(0L),
          "a never-occurring value answers 0 exactly, not a stand-down")
        val fApi = api.get.getOrElse(Some("1-URGENT"), 0L)
        require(f == fApi,
          s"rewrite and explicit API must agree ($f vs $fApi)")
        // staleness arm: smuggle a file — both plans keep their scans,
        // the fallback sees the duplicate rows
        val file = graft.sink.StageWriter.listDataFiles(
          java.nio.file.Paths.get(t)).head
        java.nio.file.Files.copy(file,
          file.getParent.resolve("zz_smuggled.parquet"))
        require(!isLocal(grouped()) && !isLocal(filtered()),
          "a foreign file must keep the scan in both plans")
        require(graft.sink.MetadataAgg
          .histCounts(t, "o_orderpriority").isEmpty,
          "the explicit API stands down too")
        val total = g.map(_.getLong(1)).sum
        require(grouped().agg(sum(col("n"))).head().getLong(0) > total,
          "the stand-down fallback must see the smuggled rows")
        spark.createDataFrame(g.map(r =>
            (r.getString(0), r.getLong(1))).toSeq)
          .toDF("o_orderpriority", "n")
          .orderBy("o_orderpriority").coalesce(1).localCheckpoint()
      } finally graft.sink.StageWriter.deleteRecursively(tmp)
    }, Some("""
      SELECT o_orderpriority, count(*) AS n
      FROM orders GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))),

    // D231 — metadata-only NDV from per-file KMV sketch sidecars
    // (MetadataAgg.ndvEstimate + Sidecars.Ndv): the CBO distinct-count
    // statistic answered with ZERO Spark jobs. The union of per-file
    // bottom-k sketch sets contains the global bottom-k, so the merged
    // estimate is EXACTLY the whole-table KMV — deterministic and
    // SQL-replayable (the KmvDistinct contract), which is why this gate
    // hash-matches where approx_count_distinct never could. Freshness:
    // a smuggled file stands the answer down (D190 discipline); the
    // plane patches O(new files) through the targeted merge.
    "q_ndv_sidecar" -> (((spark, dir) => {
      val tmp = Q.scratchDir("ndv_gate")
      try {
        val t = tmp.resolve("ord").toString
        load(spark, dir, "orders").select("o_orderkey", "o_custkey")
          .repartition(8).write.parquet(t)
        graft.sink.Sidecars.declare(spark, t, Seq(
          graft.sink.Sidecars.Ndv("o_custkey", k = 256),
          graft.sink.Sidecars.Counts))
        Q.Phase.setupDone() // table + declared NDV/counts planes
        val est = Q.requireZeroJobs(spark, "ndv_only") {
          graft.sink.MetadataAgg.ndvEstimate(t, "o_custkey")
        }
        Q.Phase.opDone() // staleness + wrong-column proofs below
        require(est.nonEmpty, "a fresh NDV plane must answer")
        require(graft.sink.MetadataAgg
          .ndvEstimate(t, "o_orderkey").isEmpty,
          "a column the plane does not describe must stand down")
        // staleness arm: a smuggled duplicate stands the plane down
        val f = graft.sink.StageWriter.listDataFiles(
          java.nio.file.Paths.get(t)).head
        java.nio.file.Files.copy(f,
          f.getParent.resolve("zz_smuggled.parquet"))
        require(graft.sink.MetadataAgg
          .ndvEstimate(t, "o_custkey").isEmpty,
          "a foreign file must stand the NDV plane down")
        spark.createDataFrame(Seq((256L,
          BigDecimal(est.get).setScale(4,
            BigDecimal.RoundingMode.HALF_UP).toDouble)))
          .toDF("k", "ndv_est")
      } finally graft.sink.StageWriter.deleteRecursively(tmp)
    }, Some(s"""
      WITH h AS (
        SELECT DISTINCT
          CAST(concat('0x', substring(md5(CAST(o_custkey AS VARCHAR)),
            1, 15)) AS BIGINT) % ${graft.llm.Dedup.PortableP} AS h
        FROM orders WHERE o_custkey IS NOT NULL),
      r AS (SELECT h, row_number() OVER (ORDER BY h) AS rn,
              count(*) OVER () AS nd FROM h)
      SELECT CAST(256 AS BIGINT) AS k,
             round(CASE WHEN nd < 256 THEN CAST(nd AS DOUBLE)
                   ELSE 255.0 / (CAST(h AS DOUBLE) /
                     ${graft.llm.Dedup.PortableP}) END, 4) AS ndv_est
      FROM r WHERE rn = least(256, nd)"""))),

    // D232 — metadata-only QUANTILES from per-file KMH sample sidecars
    // (MetadataAgg.kmhQuantiles + Sidecars.Kmh): the quantile member of
    // the metadata-only family. Any row in the global bottom-k by the
    // portable (hash, key) order is in its own file's bottom-k, so the
    // merged sidecar re-taken at k IS the whole-table D44 KMH sample —
    // deterministic, and the estimate replays in SQL exactly
    // (q_percentile's math, zero Spark jobs to serve). Staleness stands
    // down per the D190 contract.
    "q_kmh_sidecar" -> (((spark, dir) => {
      val tmp = Q.scratchDir("kmh_gate")
      try {
        val t = tmp.resolve("li").toString
        load(spark, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_extendedprice")
          .repartition(8).write.parquet(t)
        graft.sink.Sidecars.declare(spark, t, Seq(
          graft.sink.Sidecars.Kmh("l_extendedprice", "l_orderkey",
            "l_linenumber", k = 1024)))
        Q.Phase.setupDone() // table + declared KMH plane = fixture
        val est = Q.requireZeroJobs(spark, "kmh_only") {
          graft.sink.MetadataAgg.kmhQuantiles(t,
            "l_extendedprice", Seq(0.25, 0.5, 0.75))
        }
        Q.Phase.opDone() // staleness proofs below
        require(est.nonEmpty, "a fresh KMH plane must answer")
        require(graft.sink.MetadataAgg.kmhQuantiles(t, "l_orderkey",
          Seq(0.5)).isEmpty,
          "a column the plane does not describe must stand down")
        val f = graft.sink.StageWriter.listDataFiles(
          java.nio.file.Paths.get(t)).head
        java.nio.file.Files.copy(f,
          f.getParent.resolve("zz_smuggled.parquet"))
        require(graft.sink.MetadataAgg.kmhQuantiles(t,
          "l_extendedprice", Seq(0.5)).isEmpty,
          "a foreign file must stand the KMH plane down")
        def r4(x: Double) = BigDecimal(x)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        spark.createDataFrame(Seq((r4(est.get.head), r4(est.get(1)),
          r4(est.get(2))))).toDF("p25", "p50", "p75")
      } finally graft.sink.StageWriter.deleteRecursively(tmp)
    }, Some("""
      WITH h AS (
        SELECT CAST(l_extendedprice AS DOUBLE) AS v,
               l_orderkey, l_linenumber,
               CAST('0x' || substring(md5(CAST(l_orderkey AS VARCHAR)
                 || '|' || CAST(l_linenumber AS VARCHAR)), 1, 15)
                 AS BIGINT) AS hk
        FROM lineitem),
      r AS (SELECT *, row_number() OVER
              (ORDER BY hk, l_orderkey, l_linenumber) AS rn FROM h)
      SELECT round(quantile_cont(v, 0.25), 4) AS p25,
             round(quantile_cont(v, 0.50), 4) AS p50,
             round(quantile_cont(v, 0.75), 4) AS p75
      FROM r WHERE rn <= 1024"""))),

    // D183 — multi-column zone map + automatic pruning (Sidecars.Zone +
    // plans.ZoneMapPrune): the read-side payoff of the D168 Hilbert
    // layout — BOTH clustered columns skip files on plain filters, the
    // reader asks for neither. The gate clusters on (x, y), writes one
    // zone map for both, and require()s file skipping for an x-only AND
    // a y-only predicate before oracling the y-filter rows.
    "q_zonemap" -> (((spark, dir) => {
      val tmp = Q.scratchDir("zonemap_gate")
      try {
        val path = tmp.resolve("t").toString
        graft.sink.Layout.hilbertWrite(
          load(spark, dir, "lineitem")
            .select(col("l_orderkey"), col("l_linenumber"),
              pmod(col("l_orderkey"), lit(1024)).cast("long").as("x"),
              pmod(col("l_partkey"), lit(1024)).cast("long").as("y")),
          path, "x", "y", bits = 10, numFiles = 32)
        graft.sink.Sidecars.declare(spark, path,
          Seq(graft.sink.Sidecars.Zone(Seq("x", "y"))))
        graft.plans.ZoneMapPrune.ensureInstalled(spark)
        def scanned(df: org.apache.spark.sql.DataFrame) =
          df.queryExecution.optimizedPlan.collect {
            case lr: org.apache.spark.sql.execution.datasources
                .LogicalRelation =>
              lr.relation.asInstanceOf[org.apache.spark.sql.execution
                .datasources.HadoopFsRelation].location.inputFiles.length
          }.head
        val total = graft.sink.StageWriter.listDataFiles(
          java.nio.file.Paths.get(path)).size
        val xq = spark.read.parquet(path).filter(col("x") < 100)
        val yq = spark.read.parquet(path).filter(col("y") < 100)
        require(scanned(xq) < total && scanned(yq) < total,
          s"zone map must skip on BOTH clustered dims " +
            s"(x=${scanned(xq)}, y=${scanned(yq)} of $total)")
        yq.orderBy("l_orderkey", "l_linenumber")
          .localCheckpoint() // materialize before the scratch dir dies
      } finally graft.sink.StageWriter.deleteRecursively(tmp)
    }, Some("""
      SELECT l_orderkey, l_linenumber,
             l_orderkey % 1024 AS x, l_partkey % 1024 AS y
      FROM lineitem
      WHERE l_partkey % 1024 < 100
      ORDER BY l_orderkey, l_linenumber"""))),

    // D184 — semi-incremental MIN/MAX maintenance
    // (Rollup.applyChangesMinMax): min/max are not retraction-closed, so
    // inserts fold distributively and ONLY groups whose deletes tie or
    // pass a recorded extremum recompute via one semi-join-bounded scan.
    // The gate require()s maintain ≡ rebuild AND that the recompute set
    // stayed a strict subset of the changed groups.
    "q_rollup_minmax" -> (((spark, dir) => {
      val v1 = load(spark, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val v2 = v1.filter(pmod(col("o_orderkey"), lit(7)) =!= 0)
        .withColumn("o_totalprice",
          when(pmod(col("o_orderkey"), lit(11)) === 0,
            col("o_totalprice") + 100.0).otherwise(col("o_totalprice")))
      val r1 = graft.operators.Rollup.buildMinMax(v1,
        Seq("o_custkey"), "o_totalprice").localCheckpoint()
      val changes = v2.exceptAll(v1).withColumn("change", lit("insert"))
        .unionByName(v1.exceptAll(v2).withColumn("change", lit("delete")))
        .localCheckpoint()
      Q.Phase.setupDone() // prior rollup + change feed are the fixture
      // checkpoint: maintained feeds the equality proof AND the output;
      // un-checkpointed it re-derived its whole plan for each
      val maintained = graft.operators.Rollup.applyChangesMinMax(
        r1, changes, Seq("o_custkey"), "o_totalprice", v2)
        .localCheckpoint()
      Q.Phase.opDone() // the rebuild + equality is the PROOF
      val rebuilt = graft.operators.Rollup.buildMinMax(v2,
        Seq("o_custkey"), "o_totalprice").localCheckpoint()
      // multiset equality: equal counts + one empty difference
      require(maintained.count() == rebuilt.count() &&
        maintained.exceptAll(rebuilt).isEmpty,
        "semi-incremental min/max must equal the rebuild exactly")
      maintained.orderBy("o_custkey")
    }, Some("""
      WITH v2 AS (SELECT o_custkey,
                    CASE WHEN o_orderkey % 11 = 0
                         THEN o_totalprice + 100.0
                         ELSE o_totalprice END AS p
                  FROM orders WHERE o_orderkey % 7 <> 0)
      SELECT o_custkey, min(p) AS mn, max(p) AS mx
      FROM v2 GROUP BY o_custkey ORDER BY o_custkey"""))),

    // D185 — scan budget guard (plans.ScanGuard): plan-time metadata
    // refusal of unpruned scans — the 100 TB footgun rail. The gate
    // require()s (a) the pruned plan's planned bytes are a fraction of
    // the full plan's, (b) a budget between the two REJECTS the full
    // scan naming it and PASSES the pruned one, with zero jobs launched
    // for the refusal; then oracles the pruned rows.
    "q_scan_guard" -> (((spark, dir) => {
      val tmp = Q.scratchDir("guard_gate")
      try {
        val path = tmp.resolve("t").toString
        load(spark, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity")
          .repartitionByRange(8, col("l_orderkey"))
          .write.parquet(path)
        // ONE zone-map scan sets up the pruning substrate (a byte-sized
        // re-compaction here would dominate the gate at 20x for nothing)
        graft.sink.Sidecars.declare(spark, path,
          Seq(graft.sink.Sidecars.Zone(Seq("l_orderkey"))))
        graft.plans.ZoneMapPrune.ensureInstalled(spark)
        val full = spark.read.parquet(path)
        val pruned = spark.read.parquet(path)
          .filter(col("l_orderkey") < 2000)
        val fullBytes = graft.plans.ScanGuard.plannedBytes(full)
        val prunedBytes = graft.plans.ScanGuard.plannedBytes(pruned)
        require(prunedBytes < fullBytes / 2,
          s"pruning must shrink planned bytes ($prunedBytes/$fullBytes)")
        val budget = (fullBytes + prunedBytes) / 2
        val refused = try {
          graft.plans.ScanGuard.assertBounded(full, budget); None
        } catch {
          case e: graft.plans.ScanGuard.ScanBudgetExceeded => Some(e)
        }
        require(refused.exists(_.getMessage.contains("bytes")),
          "the unpruned scan must be refused BEFORE execution")
        require(graft.plans.ScanGuard.assertBounded(pruned, budget) ==
          prunedBytes, "the pruned scan must pass the same budget")
        pruned.orderBy("l_orderkey", "l_linenumber")
          .localCheckpoint() // materialize before the scratch dir dies
      } finally graft.sink.StageWriter.deleteRecursively(tmp)
    }, Some("""
      SELECT l_orderkey, l_linenumber, l_quantity
      FROM lineitem WHERE l_orderkey < 2000
      ORDER BY l_orderkey, l_linenumber"""))),

    // D186 — right-to-be-forgotten composition (sink.Erasure = deletion
    // vectors + keyed-pseudonym ledger): erasing ~1% of users costs a
    // KB sidecar append (data files require()d byte-identical), the
    // DV-aware read excludes them immediately, the ledger answers "was
    // X honored?" to the key holder while require()d to never carry the
    // raw id. Survivor aggregate oracled.
    "c5_erasure" -> (((spark, dir) => {
      val tmp = Q.scratchDir("erasure_gate")
      try {
        val path = tmp.resolve("events").toString
        val ledger = tmp.resolve("ledger").toString
        load(spark, dir, "events")
          .select("event_id", "user_id", "event_type", "value")
          .write.parquet(path)
        def inv() = graft.sink.StageWriter.listDataFiles(
          java.nio.file.Paths.get(path))
          .map(p => p.getFileName.toString -> java.nio.file.Files.size(p))
          .toMap
        val before = inv()
        val subjects = spark.read.parquet(path)
          .filter(pmod(col("user_id"), lit(97)) === 0)
          .select(col("user_id")).distinct()
        val r = graft.sink.Erasure.eraseSubjects(spark, path, "user_id",
          subjects, ledger, ledgerKey = "dsar-key")
        require(r.subjects > 0 && r.rows > r.subjects,
          s"erasure must tombstone every subject row, got $r")
        require(inv() == before,
          "erasure must not rewrite a single data file")
        val survivors = graft.sink.DeletionVectors.read(spark, path)
        require(survivors.filter(
          pmod(col("user_id"), lit(97)) === 0).count() == 0,
          "DV-aware reads must exclude erased subjects immediately")
        require(spark.read.parquet(path).count() > survivors.count(),
          "plain readers see the superset until the fold (documented)")
        // ledger: verifiable by the key holder, raw ids never stored
        val someId = subjects.limit(1).collect().head.getLong(0).toString
        require(graft.sink.Erasure.isErased(spark, ledger, someId,
          "dsar-key"), "the ledger must answer an honored request")
        require(!graft.sink.Erasure.isErased(spark, ledger, "1",
          "dsar-key") || someId == "1",
          "an un-erased id must not appear honored")
        require(spark.read.parquet(ledger)
          .filter(col("subject") === someId).isEmpty,
          "the ledger must never carry the raw id")
        survivors.groupBy("event_type")
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
          .orderBy("event_type")
          .localCheckpoint() // materialize before the scratch dir dies
      } finally graft.sink.StageWriter.deleteRecursively(tmp)
    }, Some("""
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM events
      WHERE user_id % 97 <> 0 OR user_id IS NULL
      GROUP BY event_type ORDER BY event_type"""))),

    // D186 × D169/D157 — erasure must not be resurrectable through a
    // clone or time travel (Erasure.eraseVersioned): clones pinned
    // BEFORE the request reference historical version dirs, so the
    // erasure DV-deletes + folds EVERY retained snapshot's resolved
    // bytes. Pinned here: (a) neither the head clone, the pre-request
    // v1 clone, nor source asOf(1) can resurrect a subject after the
    // fold; (b) once the source vacuums past the old clone's version,
    // that clone fails EAGERLY with the vacuum message — never partial
    // rows; (c) the head clone still serves the erased-subject-free
    // snapshot, oracled.
    "c5_erasure_clone" -> (((spark, dir) => {
      val tmp = Q.scratchDir("eracl_gate")
      try {
        val src = tmp.resolve("src").toString
        val dst = tmp.resolve("devclone").toString
        val dstOld = tmp.resolve("oldclone").toString
        val ledger = tmp.resolve("ledger").toString
        val ev = load(spark, dir, "events")
          .select("event_id", "user_id", "event_type", "value")
        graft.sink.VersionedTable.commit(
          ev.filter(col("event_id") % 2 === 0), src) // v1
        graft.sink.VersionedTable.commit(ev, src)    // v2 (head)
        // clones pinned BEFORE the erasure request
        graft.sink.VersionedTable.cloneShallow(src, dst) // pins v2
        graft.sink.VersionedTable.cloneShallow(src, dstOld,
          asOf = Some(1)) // pins v1
        val subjects = ev.filter(pmod(col("user_id"), lit(97)) === 0)
          .select("user_id").distinct()
        Q.Phase.setupDone() // two commits + two clones are the fixture
        val r = graft.sink.Erasure.eraseVersioned(spark, src, "user_id",
          subjects, ledger, ledgerKey = "dsar-key")
        Q.Phase.opDone() // no-resurrect proofs across readers follow
        require(r.subjects > 0 && r.rows > r.subjects,
          s"versioned erasure must reach both snapshots, got $r")
        def subjRows(df: org.apache.spark.sql.DataFrame): Long =
          df.filter(pmod(col("user_id"), lit(97)) === 0).count()
        require(subjRows(graft.sink.VersionedTable.read(spark, dst)) == 0,
          "the head clone must not resurrect erased subjects")
        require(subjRows(
          graft.sink.VersionedTable.read(spark, dstOld)) == 0,
          "a clone pinned BEFORE the request must not resurrect")
        require(subjRows(
          graft.sink.VersionedTable.read(spark, src, Some(1))) == 0,
          "source time travel must not resurrect")
        // retention arm: the source vacuums past the old clone's pin
        graft.sink.VersionedTable.vacuum(src, keepLast = 1)
        val eager = try {
          graft.sink.VersionedTable.read(spark, dstOld).count(); false
        } catch { case e: IllegalStateException =>
          e.getMessage.contains("vacuum") }
        require(eager, "a clone of a reclaimed version must fail " +
          "eagerly with the vacuum message, never partial rows")
        graft.sink.VersionedTable.read(spark, dst)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
          .orderBy("event_type")
          .localCheckpoint() // materialize before the scratch dir dies
      } finally graft.sink.StageWriter.deleteRecursively(tmp)
    }, Some("""
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM events
      WHERE user_id % 97 <> 0 OR user_id IS NULL
      GROUP BY event_type ORDER BY event_type"""))),

    // D216 — LEGAL HOLDS × erasure (Erasure.eraseVersionedWithHolds):
    // a deletion request arriving while some subjects sit under
    // litigation hold is PARTIALLY honored — erasable subjects erase
    // and ledger, held ones survive UNLEDGERED (a ledger line certifies
    // an erasure that happened; deferring silently would certify a
    // lie). After releaseHold the re-driven request completes and the
    // ledger certifies the formerly-held subject. Survivors oracled.
    "c5_erasure_hold" -> (((spark, dir) => {
      val tmp = Q.scratchDir("erhold_gate")
      try {
        val src = tmp.resolve("src").toString
        val ledger = tmp.resolve("ledger").toString
        // a third of the events: the gate proves HOLD semantics (two
        // erase drives, each a DV+fold over every snapshot) — table
        // size only scales the fold I/O, not the semantics
        val ev = load(spark, dir, "events")
          .filter(col("event_id") % 3 === 0)
          .select("event_id", "user_id", "event_type", "value")
        graft.sink.VersionedTable.commit(ev, src)
        val subjects = ev.filter(pmod(col("user_id"), lit(7)) === 3)
          .select("user_id").distinct().localCheckpoint()
        val held = subjects.filter(pmod(col("user_id"), lit(14)) === 3)
          .localCheckpoint()
        val (nSubjects, nHeldFix) = (subjects.count(), held.count())
        require(nHeldFix > 0 && nHeldFix < nSubjects,
          "the fixture needs a proper held/erasable split")
        graft.sink.Erasure.declareHold(spark, src, "litigation-42", held)
        Q.Phase.setupDone() // op = the two hold-aware erasure drives
        val (r1, nHeld1) = graft.sink.Erasure.eraseVersionedWithHolds(
          spark, src, "user_id", subjects, ledger, ledgerKey = "dsar-key")
        require(r1.subjects > 0 && nHeld1 == nHeldFix,
          s"the erasable subset must erase, the held one defer " +
            s"(got $r1 held=$nHeld1)")
        // one action proves both halves of the partial erasure
        val s1 = graft.sink.VersionedTable.read(spark, src).agg(
          sum(when(pmod(col("user_id"), lit(14)) === 3, 1L)
            .otherwise(0L)).as("held_rows"),
          sum(when(pmod(col("user_id"), lit(7)) === 3 &&
            pmod(col("user_id"), lit(14)) =!= 3, 1L)
            .otherwise(0L)).as("erased_rows")).head()
        require(s1.getLong(0) > 0,
          "held subjects must SURVIVE the partial erasure")
        require(s1.getLong(1) == 0, "erasable subjects must be gone")
        val heldId = held.orderBy("user_id").limit(1)
          .collect().head.getLong(0).toString
        require(!graft.sink.Erasure.isErased(spark, ledger, heldId,
          "dsar-key"),
          "a deferred subject must not be certified erased")
        // release the hold; the privacy program re-drives the request
        graft.sink.Erasure.releaseHold(spark, src, "litigation-42")
        val (r2, nHeld2) = graft.sink.Erasure.eraseVersionedWithHolds(
          spark, src, "user_id", subjects, ledger, ledgerKey = "dsar-key")
        require(nHeld2 == 0 && r2.subjects == nSubjects,
          s"after release the full request must drive (got $r2 " +
            s"held=$nHeld2)")
        require(graft.sink.Erasure.isErased(spark, ledger, heldId,
          "dsar-key"),
          "the formerly-held subject must now be certified erased")
        graft.sink.VersionedTable.read(spark, src)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
          .orderBy("event_type")
          .localCheckpoint() // materialize before the scratch dir dies
      } finally graft.sink.StageWriter.deleteRecursively(tmp)
    }, Some("""
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM events
      WHERE event_id % 3 = 0 AND (user_id % 7 <> 3 OR user_id IS NULL)
      GROUP BY event_type ORDER BY event_type"""))),

    // D188 — MV rewrite serves avg (plans.MvRewrite): avg(cast(v AS
    // DECIMAL(18,2))) re-derives as sum(s)/sum(n) in Average's OWN
    // division shape — buffer-typed (28,2) sum over (20,0) count, cast
    // to (22,6) — so the served answer is require()d BIT-identical
    // (BigDecimal value+scale) to the base's. IEEE double avg never
    // rewrites (sum order would drift). The oracle replays Spark's
    // two-step HALF_UP rounding (scale 12 division, then the cast to
    // scale 6) in exact HUGEINT arithmetic — DuckDB's own decimal
    // division returns DOUBLE, so the rounding chain is emulated, not
    // approximated.
    "q_mv_rewrite_avg" -> (((spark, dir) => {
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
        LogicalRelation}
      val tmp = Q.scratchDir("mvavg_gate")
      try {
        val base = tmp.resolve("base").toString
        val mvp = tmp.resolve("mv").toString
        load(spark, dir, "lineitem")
          .select(col("l_returnflag").as("rf"),
            col("l_linestatus").as("ls"), col("l_quantity").as("qty"))
          .repartition(4).write.parquet(base)
        graft.sink.StageWriter.overwrite(
          graft.operators.Rollup.build(
            spark.read.parquet(base), Seq("rf", "ls"), "qty"), mvp)
        graft.plans.MvRewrite.register(base, mvp, Seq("rf", "ls"), "qty")
        graft.plans.MvRewrite.ensureInstalled(spark)
        def q() = spark.read.parquet(base).groupBy("rf")
          .agg(avg(col("qty").cast(DecimalType(18, 2))).as("a"),
            count(lit(1)).as("n"))
        def scans(df: org.apache.spark.sql.DataFrame) =
          df.queryExecution.optimizedPlan.collect {
            case lr: LogicalRelation =>
              lr.relation.asInstanceOf[HadoopFsRelation]
                .location.rootPaths.map(_.toUri.getPath)
          }.flatten
        val served = q()
        require(scans(served).exists(_.endsWith("/mv")) &&
          !scans(served).exists(_.endsWith("/base")),
          "the decimal avg must be answered from the MV")
        val fromMv = served.collect().map(r =>
          (r.getString(0), r.getDecimal(1), r.getLong(2))).toSet
        graft.plans.MvRewrite.deregister(base)
        val fromBase = q().collect().map(r =>
          (r.getString(0), r.getDecimal(1), r.getLong(2))).toSet
        require(fromMv == fromBase,
          "the MV-served avg must be BIT-identical to the base avg")
        // a double avg must keep reading the base even while registered
        graft.plans.MvRewrite.register(base, mvp, Seq("rf", "ls"), "qty")
        require(scans(spark.read.parquet(base).groupBy("rf")
          .agg(avg(col("qty")).as("a"))).forall(!_.endsWith("/mv")),
          "IEEE double avg must stand down")
        q().select(col("rf"), col("a").cast("double").as("avg_qty"),
          col("n")).orderBy("rf").localCheckpoint()
      } finally {
        graft.plans.MvRewrite.deregister(
          tmp.resolve("base").toAbsolutePath.toString)
        graft.sink.StageWriter.deleteRecursively(tmp)
      }
    }, Some("""
      WITH g AS (SELECT l_returnflag AS rf,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 100
                     AS HUGEINT) AS su,
                   CAST(COUNT(*) AS HUGEINT) AS n
                 FROM lineitem GROUP BY 1),
      r AS (SELECT rf, (su * 10000000000 * 2 + n) // (2 * n) AS r12, n
            FROM g)
      SELECT rf,
             CAST((r12 + 500000) // 1000000 AS DOUBLE) / 1000000.0
               AS avg_qty,
             CAST(n AS BIGINT) AS n
      FROM r ORDER BY rf"""))),

    // D189 — MV rewrite serves min/max (MvRewrite.registerMinMax over
    // Rollup.buildMinMax artifacts, D184's plane made query-facing):
    // min/max re-aggregate losslessly from per-group extrema in any
    // type, so the (mn, mx) rollup answers coarser groupings exactly;
    // sum/avg shapes are never served by it (no (n, s) state).
    "q_mv_rewrite_minmax" -> (((spark, dir) => {
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
        LogicalRelation}
      val tmp = Q.scratchDir("mvmm_gate")
      try {
        val base = tmp.resolve("base").toString
        val mvp = tmp.resolve("mv").toString
        load(spark, dir, "lineitem")
          .select(col("l_returnflag").as("rf"),
            col("l_linestatus").as("ls"), col("l_quantity").as("qty"))
          .repartition(4).write.parquet(base)
        graft.sink.StageWriter.overwrite(
          graft.operators.Rollup.buildMinMax(
            spark.read.parquet(base), Seq("rf", "ls"), "qty"), mvp)
        graft.plans.MvRewrite.registerMinMax(base, mvp,
          Seq("rf", "ls"), "qty")
        graft.plans.MvRewrite.ensureInstalled(spark)
        def q() = spark.read.parquet(base).groupBy("rf")
          .agg(min(col("qty")).as("mn_q"), max(col("qty")).as("mx_q"))
        def scans(df: org.apache.spark.sql.DataFrame) =
          df.queryExecution.optimizedPlan.collect {
            case lr: LogicalRelation =>
              lr.relation.asInstanceOf[HadoopFsRelation]
                .location.rootPaths.map(_.toUri.getPath)
          }.flatten
        val served = q()
        require(scans(served).exists(_.endsWith("/mv")) &&
          !scans(served).exists(_.endsWith("/base")),
          "min/max must be answered from the minmax MV")
        // a sum shape has no (n, s) here — must keep reading the base
        require(scans(spark.read.parquet(base).groupBy("rf")
          .agg(sum(col("qty").cast(DecimalType(18, 2))).as("s")))
          .forall(!_.endsWith("/mv")),
          "a minmax MV must never serve a sum")
        val fromMv = served.collect().map(r =>
          (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
        graft.plans.MvRewrite.deregister(base)
        require(q().collect().map(r =>
          (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet == fromMv,
          "MV-served min/max must equal the base answer exactly")
        q().orderBy("rf").localCheckpoint()
      } finally {
        graft.plans.MvRewrite.deregister(
          tmp.resolve("base").toAbsolutePath.toString)
        graft.sink.StageWriter.deleteRecursively(tmp)
      }
    }, Some("""
      SELECT l_returnflag AS rf, MIN(l_quantity) AS mn_q,
             MAX(l_quantity) AS mx_q
      FROM lineitem GROUP BY 1 ORDER BY 1"""))),

    // D190 — unified sidecar freshness (sink.Sidecars): ONE per-table
    // manifest declares the pruning planes (D107 ranges, D123 blooms,
    // D183 zone maps); every writer finishes through a refresh hook —
    // full rewrites rebuild, the file-targeted merge patches O(new
    // files) — so after a targeted MERGE *and then* an OPTIMIZE, all
    // three planes are require()d STILL ACTIVE (files skipped per
    // plane, bloom sidecar inventory-exact). Before the manifest, only
    // zone maps survived a merge; the others quietly degraded to full
    // scans. Merged values oracled via the CASE mirror.
    "q_sidecar_fresh" -> (((spark, dir) => {
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
        LogicalRelation}
      val tmp = Q.scratchDir("sidecar_gate")
      try {
        val path = tmp.resolve("t").toString
        load(spark, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            expr("l_orderkey div 1000").as("ok_bucket"),
            expr("l_orderkey * 10 + l_linenumber").as("uid"),
            col("l_partkey"), col("l_quantity"))
          .repartitionByRange(8, col("l_orderkey"))
          .sortWithinPartitions("l_orderkey")
          .write.parquet(path)
        // bloom bits sized to the DATA (~8 bits/key/file): a fixed 2^16
        // saturates at 20x (1.5M keys/file) and prunes nothing; capped
        // at 2^22 — the BloomBits AGGREGATION BUFFER is bits/8 bytes
        // PER GROUP PER TASK, and map-side partial aggregation holds
        // (tasks x file-groups) of them concurrently (0.5 MB each at
        // the cap; a 2^25 filter OOMed the 20x smoke). Past the cap the
        // fill ratio rises and pruning degrades gracefully (fp ~0.3 at
        // 20x still skips most files) — never a heap cliff.
        val bloomBits = {
          val perFile = spark.read.parquet(path).count() / 8
          var b = 1 << 16
          while (b.toLong < perFile * 8 && b < (1 << 22)) b <<= 1
          b
        }
        graft.sink.Sidecars.declare(spark, path, Seq(
          graft.sink.Sidecars.Stats("l_orderkey"),
          graft.sink.Sidecars.Zone(Seq("ok_bucket")),
          // blooms on a UNIQUE row key: point lookups where partkeys
          // (each ~30 rows, landing in every file) could never skip
          graft.sink.Sidecars.Bloom("uid", bits = bloomBits)))
        graft.plans.StatsFilePrune.ensureInstalled(spark)
        graft.plans.ZoneMapPrune.ensureInstalled(spark)
        val probeKey = spark.read.parquet(path)
          .agg(min(col("uid"))).head().getLong(0)
        def scannedOf(df: org.apache.spark.sql.DataFrame): Int =
          df.queryExecution.optimizedPlan.collect {
            case lr: LogicalRelation =>
              lr.relation.asInstanceOf[HadoopFsRelation]
                .location.inputFiles.length
          }.head
        def requireActive(tag: String): Unit = {
          import spark.implicits._
          val names = graft.sink.StageWriter.listDataFiles(
            java.nio.file.Paths.get(path)).map(_.getFileName.toString)
          val total = names.size
          require(total >= 4, s"$tag: need several files, got $total")
          val ranged = scannedOf(spark.read.parquet(path)
            .filter(col("l_orderkey") < 3000))
          require(ranged < total,
            s"$tag: range(stats) pruning inactive ($ranged of $total)")
          val zoned = scannedOf(spark.read.parquet(path)
            .filter(col("ok_bucket") === 2L))
          require(zoned < total,
            s"$tag: zone-map pruning inactive ($zoned of $total)")
          // the bloom plane must be inventory-EXACT (bloomPrunedRead
          // would otherwise rebuild in-query — a hidden full scan)...
          val have = graft.sink.Sidecars.load(path).flatMap(_.of(
            graft.sink.Sidecars.Bloom("uid", bits = bloomBits)))
          require(have.exists(_.keySet == names.toSet),
            s"$tag: bloom plane stale")
          // ...and actually skip files on a point probe
          val (_, bRead, bTotal) = graft.sink.Layout.bloomPrunedRead(
            spark, path, "uid", Seq(probeKey), bits = bloomBits)
          require(bRead < bTotal,
            s"$tag: bloom pruning inactive ($bRead of $bTotal)")
        }
        requireActive("initial")
        // table build + plane declaration + initial plane proof are the
        // fixture; the merge/optimize refresh hooks under test follow
        // (their own requireActive proofs stay inside op — interleaved)
        Q.Phase.setupDone()
        // file-targeted MERGE: +100 qty on %7 keys confined to a narrow
        // key range, so only range-intersecting files rewrite. The
        // testdata's (orderkey, linenumber) is NOT unique — MERGE
        // collapses duplicate keys to one delta row (engine-undefined
        // pick), so the delta keeps only globally-UNIQUE keys and the
        // oracle mirrors with the same kc = 1 guard.
        val kw = org.apache.spark.sql.expressions.Window
          .partitionBy("l_orderkey", "l_linenumber")
        val delta = spark.read.parquet(path)
          .withColumn("__kc", count(lit(1)).over(kw))
          .filter(col("__kc") === 1 &&
            col("l_orderkey").between(2000, 4999) &&
            pmod(col("l_orderkey"), lit(7)) === 0)
          .drop("__kc")
          .withColumn("l_quantity", col("l_quantity") + 100.0)
        graft.sink.StageWriter.mergeInto(spark, delta, path,
          Seq("l_orderkey", "l_linenumber"))
        requireActive("after targeted merge")
        // scale-aware file budget: a fixed 64 KB target shatters the 20x
        // table into ~3000 files and the plane rebuilds pay per-file —
        // ~12 output files at ANY scale keeps the gate's cost shape flat
        val tgt = math.max(64L * 1024, graft.sink.StageWriter.dirSize(
          java.nio.file.Paths.get(path)) / 12)
        graft.sink.StageWriter.optimize(spark, path,
          targetFileBytes = tgt, statsColumn = Some("l_orderkey"))
        requireActive("after optimize")
        spark.read.parquet(path).filter(col("l_orderkey") < 3000)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_quantity").as("q"))
          .orderBy("l_orderkey", "l_linenumber")
          .localCheckpoint() // materialize before the scratch dir dies
      } finally graft.sink.StageWriter.deleteRecursively(tmp)
    }, Some("""
      WITH t AS (SELECT *, count(*) OVER (PARTITION BY l_orderkey,
                     l_linenumber) AS kc
                 FROM lineitem)
      SELECT l_orderkey, l_linenumber, l_partkey,
             CASE WHEN kc = 1 AND l_orderkey BETWEEN 2000 AND 4999
                   AND l_orderkey % 7 = 0
                  THEN l_quantity + 100 ELSE l_quantity END AS q
      FROM t WHERE l_orderkey < 3000
      ORDER BY l_orderkey, l_linenumber"""))),

    // D204 — APPEND with incremental plane maintenance (round 10,
    // StageWriter.append): new rows land as NEW files — existing files
    // require()d byte-identical, cost O(batch) — while every declared
    // pruning plane stays fresh in O(new files) (stats sidecar unions
    // footer ranges, zone map patches, blooms hash only the new files)
    // and D197 CHECKs validate the STAGED batch (violating append
    // refuses with target AND planes untouched, staging cleaned).
    "q_append_incremental" -> (((spark, dir) => {
      import graft.sink.{Checks, Sidecars, StageWriter}
      val tmp = Q.scratchDir("append_gate")
      try {
        val path = tmp.resolve("t").toString
        val li = load(spark, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity")
        StageWriter.overwrite(li.filter(col("l_orderkey") <= 8000)
          .repartitionByRange(4, col("l_orderkey")), path)
        Sidecars.declare(spark, path, Seq(
          Sidecars.Stats("l_orderkey"),
          Sidecars.Zone(Seq("l_linenumber")),
          Sidecars.Bloom("l_orderkey", bits = 1 << 16)))
        Checks.declare(path, Map("qty_pos" -> "l_quantity >= 0"))
        def inv() = StageWriter.listDataFiles(
          java.nio.file.Paths.get(path))
          .map(p => p.getFileName.toString -> java.nio.file.Files.size(p))
          .toMap
        val before = inv()
        val batch = li.filter(col("l_orderkey") > 8000 &&
          col("l_orderkey") <= 12000)
        require(batch.limit(1).count() == 1, "batch must be non-empty")
        // a violating append refuses pre-land, planes + files untouched
        val e = try {
          StageWriter.append(batch.withColumn("l_quantity", lit(-1.0)),
            path); None
        } catch { case v: Checks.CheckViolation => Some(v.getMessage) }
        require(e.exists(_.contains("qty_pos")) && inv() == before,
          "violating append must refuse with nothing landed")
        require(!java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get(path + ".__appendtmp__")),
          "refused append must clean its staging dir")
        // the clean append: O(batch) — existing files byte-identical
        StageWriter.append(
          batch.repartitionByRange(2, col("l_orderkey")), path)
        val after = inv()
        require(before.forall { case (f, s) => after.get(f).contains(s) },
          "append must leave every existing file byte-identical")
        require(after.size > before.size, "append must add files")
        // every declared plane fresh against the NEW inventory
        val planes = Sidecars.load(path)
        require(planes.exists(_.bounds("l_orderkey").isDefined) &&
          planes.exists(_.bounds("l_linenumber").isDefined),
          "range stats and zone map must be patched, not stale")
        require(planes.exists(_.of(Sidecars.Bloom("l_orderkey",
          bits = 1 << 16)).isDefined),
          "bloom plane must cover exactly the new inventory")
        spark.read.parquet(path)
          .filter(pmod(col("l_orderkey"), lit(11)) === 0)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity").as("q"))
          .orderBy("l_orderkey", "l_linenumber", "q")
          .localCheckpoint() // materialize before the scratch dir dies
      } finally {
        graft.sink.Checks.drop(tmp.resolve("t").toString)
        graft.sink.Sidecars.drop(tmp.resolve("t").toString)
        graft.sink.StageWriter.deleteRecursively(tmp)
      }
    }, Some("""
      SELECT l_orderkey, l_linenumber, l_quantity AS q
      FROM lineitem
      WHERE l_orderkey <= 12000 AND l_orderkey % 11 = 0
      ORDER BY l_orderkey, l_linenumber, q"""))),

    // D205 — CHECK constraints on the TRANSACTIONAL sink (round 10):
    // VersionedTable.commit validates the STAGED version's bytes
    // against the table's declared CHECKs at the WAP point — a
    // violating commit aborts with the pointer untouched (no reader,
    // head or AS OF, can ever see a version that broke an invariant),
    // the claim releases, and the next clean commit lands normally.
    "c5_check_commit" -> (((spark, dir) => {
      import graft.sink.{Checks, VersionedTable}
      val tmp = Q.scratchDir("vtcheck_gate")
      try {
        val t = tmp.resolve("vt").toString
        val v1 = load(spark, dir, "lineitem")
          .filter(col("l_orderkey") <= 5000)
          .select("l_orderkey", "l_linenumber", "l_quantity")
        Checks.declare(t, Map(
          "qty_range" -> "l_quantity BETWEEN 0 AND 200"))
        VersionedTable.commit(v1, t)
        // the violating commit: refused at the WAP point, head unmoved
        val dirty = v1.withColumn("l_quantity",
          when(pmod(col("l_orderkey"), lit(13)) === 0, lit(-5.0))
            .otherwise(col("l_quantity")))
        val e = try { VersionedTable.commit(dirty, t); None }
          catch { case v: Checks.CheckViolation => Some(v.getMessage) }
        require(e.exists(_.contains("qty_range")),
          s"commit must refuse naming the check, got $e")
        require(VersionedTable.latestVersion(t).contains(1),
          "a refused commit must leave the head untouched")
        require(VersionedTable.versions(t) == Seq(1),
          "the refused version's staged dir must be cleaned")
        // the claim released: a clean commit lands as version 2
        val v2 = v1.filter(pmod(col("l_orderkey"), lit(2)) === 0)
        require(VersionedTable.commit(v2, t) == 2)
        val head = VersionedTable.read(spark, t)
        val asOf1 = VersionedTable.read(spark, t, Some(1))
        asOf1.agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
          .select(lit(1).as("v"), col("n"), col("qty"))
          .unionByName(head
            .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
            .select(lit(2).as("v"), col("n"), col("qty")))
          .orderBy("v")
          .localCheckpoint() // materialize before the scratch dir dies
      } finally {
        graft.sink.Checks.drop(tmp.resolve("vt").toString)
        graft.sink.StageWriter.deleteRecursively(tmp)
      }
    }, Some("""
      WITH b AS (SELECT * FROM lineitem WHERE l_orderkey <= 5000)
      SELECT 1 AS v, count(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      FROM b
      UNION ALL
      SELECT 2, count(*),
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      FROM b WHERE l_orderkey % 2 = 0
      ORDER BY v"""))),

    // D197 — CHECK-constraint enforcement on write (sink.Checks),
    // Delta's ADD CONSTRAINT CHECK on the parquet fallback: declared
    // boolean invariants validate in ONE codegen'd aggregation pass
    // BEFORE anything lands — a violating overwrite AND a violating
    // file-targeted merge both REFUSE naming the constraint and its
    // count, with the target require()d untouched; the quarantine
    // split routes bad rows aside when refusing isn't the policy.
    // Clean writes land; merged values oracled via the CASE mirror.
    "q_check_constraints" -> (((spark, dir) => {
      val tmp = Q.scratchDir("checks_gate")
      try {
        val path = tmp.resolve("t").toString
        val base = load(spark, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity")
        graft.sink.Checks.declare(path, Map(
          "qty_range" -> "l_quantity >= 0 AND l_quantity <= 200",
          "key_nn" -> "l_orderkey IS NOT NULL"))
        graft.sink.StageWriter.overwrite(
          base.repartitionByRange(6, col("l_orderkey")), path)
        def inv() = graft.sink.StageWriter.listDataFiles(
          java.nio.file.Paths.get(path))
          .map(p => p.getFileName.toString -> java.nio.file.Files.size(p))
          .toMap
        val before = inv()
        // the clean table + declared checks are the fixture; every
        // trial from here (refusals, WAP binding, splits) is the
        // operator contract itself — no assert phase to separate
        Q.Phase.setupDone()
        // a violating OVERWRITE refuses, naming constraint + count
        val dirty = base.withColumn("l_quantity",
          when(pmod(col("l_orderkey"), lit(13)) === 0, lit(-5.0))
            .otherwise(col("l_quantity")))
        val e1 = try {
          graft.sink.StageWriter.overwrite(dirty, path); None
        } catch {
          case v: graft.sink.Checks.CheckViolation => Some(v.getMessage)
        }
        require(e1.exists(m => m.contains("qty_range") &&
          !m.contains("key_nn")),
          s"refusal must name exactly the violated check, got $e1")
        require(inv() == before, "a refused write must land NOTHING")
        // non-deterministic frames BIND (r10): validation runs on the
        // staged bytes (WAP), so a rand()-gated violating row either
        // refuses or zero violators land — never validate-clean-then-
        // land-dirty. With ~60k rows at p=0.5 refusal is certain
        // (P(pass) = 2^-rows); the target must stay byte-identical.
        val nd = base.withColumn("l_quantity",
          when(rand() < 0.5, lit(-1.0)).otherwise(col("l_quantity")))
        val ndBound = try {
          graft.sink.StageWriter.overwrite(nd, path)
          spark.read.parquet(path).filter(col("l_quantity") < 0)
            .count() == 0L
        } catch {
          case _: graft.sink.Checks.CheckViolation => true
        }
        require(ndBound && inv() == before,
          "non-deterministic write must bind validated bytes to landed " +
            "bytes with the target untouched on refusal")
        require(!java.nio.file.Files.exists(
          java.nio.file.Paths.get(path + ".__tmp__")),
          "a refused staged write must clean its staging dir")
        // quarantine split: good + bad partition the frame exactly
        val (good, bad) = graft.sink.Checks.split(dirty,
          graft.sink.Checks.declared(path))
        require(good.count() + bad.count() == base.count() &&
          bad.count() > 0, "split must partition the frame")
        // a violating TARGETED merge refuses too; a clean one lands
        val kw = org.apache.spark.sql.expressions.Window
          .partitionBy("l_orderkey", "l_linenumber")
        val keys = spark.read.parquet(path)
          .withColumn("__kc", count(lit(1)).over(kw))
          .filter(col("__kc") === 1 &&
            col("l_orderkey").between(1000, 2999) &&
            pmod(col("l_orderkey"), lit(3)) === 0)
          .drop("__kc")
        val e2 = try {
          graft.sink.StageWriter.mergeInto(spark,
            keys.withColumn("l_quantity", lit(999.0)), path,
            Seq("l_orderkey", "l_linenumber")); None
        } catch {
          case v: graft.sink.Checks.CheckViolation => Some(v.getMessage)
        }
        require(e2.exists(_.contains("qty_range")) && inv() == before,
          "a violating merge must refuse pre-land")
        graft.sink.StageWriter.mergeInto(spark,
          keys.withColumn("l_quantity", col("l_quantity") + 50.0), path,
          Seq("l_orderkey", "l_linenumber"))
        spark.read.parquet(path)
          .filter(col("l_orderkey") < 5000) // dump a slice; proofs above
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity").as("q"))
          .orderBy("l_orderkey", "l_linenumber")
          .localCheckpoint() // materialize before the scratch dir dies
      } finally {
        graft.sink.Checks.drop(tmp.resolve("t").toString)
        graft.sink.StageWriter.deleteRecursively(tmp)
      }
    }, Some("""
      WITH t AS (SELECT l_orderkey, l_linenumber, l_quantity,
                   count(*) OVER (PARTITION BY l_orderkey, l_linenumber)
                     AS kc
                 FROM lineitem)
      SELECT l_orderkey, l_linenumber,
             CASE WHEN kc = 1 AND l_orderkey BETWEEN 1000 AND 2999
                   AND l_orderkey % 3 = 0
                  THEN l_quantity + 50 ELSE l_quantity END AS q
      FROM t WHERE l_orderkey < 5000
      ORDER BY l_orderkey, l_linenumber"""))),

    // D187 — top movers between rollup states (Rollup.topMovers): the
    // "which customers changed most" report from two maintained
    // summaries — one rollup-domain full-outer join + top-k by |Δsum|
    // with a key tiebreak; appeared/vanished groups count as movers.
    "q_top_movers" -> (((spark, dir) => {
      val v1 = load(spark, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val v2 = v1.filter(pmod(col("o_orderkey"), lit(7)) =!= 0)
        .withColumn("o_totalprice",
          when(pmod(col("o_orderkey"), lit(11)) === 0,
            col("o_totalprice") + 100.0).otherwise(col("o_totalprice")))
      val r1 = graft.operators.Rollup.build(v1,
        Seq("o_custkey"), "o_totalprice")
      val r2 = graft.operators.Rollup.build(v2,
        Seq("o_custkey"), "o_totalprice")
      graft.operators.Rollup.topMovers(r1, r2, Seq("o_custkey"), k = 25)
    }, Some("""
      WITH r1 AS (SELECT o_custkey, count(*) AS n1,
                    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s1
                  FROM orders GROUP BY 1),
      v2 AS (SELECT o_custkey,
               CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 100.0
                    ELSE o_totalprice END AS p
             FROM orders WHERE o_orderkey % 7 <> 0),
      r2 AS (SELECT o_custkey, count(*) AS n2,
               SUM(CAST(p AS DECIMAL(18,2))) AS s2
             FROM v2 GROUP BY 1),
      d AS (SELECT o_custkey,
              CAST(coalesce(n2, 0) - coalesce(n1, 0) AS BIGINT) AS dn,
              coalesce(s2, 0) - coalesce(s1, 0) AS ds_dec
            FROM r1 FULL JOIN r2 USING (o_custkey))
      SELECT o_custkey, dn, CAST(ds_dec AS DOUBLE) AS ds
      FROM d ORDER BY abs(ds_dec) DESC, o_custkey LIMIT 25""")))
  )
}

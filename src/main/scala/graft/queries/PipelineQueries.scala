package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.config.ColumnMetadata
import graft.sink.StageWriter
import graft.transform.TransformationEngine
import Q._

/** Transform/sink-plane operators (SURVEY §2C) + the flagship end-to-end
  * reference-shaped pipeline.
  */
object PipelineQueries {

  /** The flagship E2E slice (SURVEY §7.2.1): a BigMagic-shaped all-string
    * raw table synthesized from `orders`, pushed through config-driven DSL
    * transform → dedup-latest → ordered output. */
  def e2ePipeline(spark: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    // raw zone: every column stringified (reference extract_data.py:694)
    val raw = load(spark, dir, "orders").select(
      expr("lpad(cast(o_custkey % 5 as string), 3, '0')").as("compania"),
      col("o_orderkey").cast("string").as("numdoc"),
      graft.magic.Magic.dateToMagicDay(col("o_orderdate").cast("date"))
        .cast("string").as("fecmodi"),
      expr("""concat(lpad(cast(o_orderkey % 24 as string), 2, '0'),
        lpad(cast((o_orderkey div 7) % 60 as string), 2, '0'),
        lpad(cast((o_orderkey div 11) % 60 as string), 2, '0'))""")
        .as("horamodi"),
      expr("case when o_orderstatus = 'F' then 'F' else 'T' end").as("flgact"),
      col("o_totalprice").cast("string").as("monto"))
    val meta = Seq(
      ColumnMetadata("processdate", 1, false, false, false, false,
        "timestamp", "t", "fn_transform_Datetime()"),
      ColumnMetadata("id_venta", 2, false, true, true, false,
        "string", "t", "fn_transform_Concatenate(compania, numdoc)"),
      ColumnMetadata("id_compania", 3, false, false, false, true,
        "string", "t", "fn_transform_ClearString(compania)"),
      ColumnMetadata("lastmodifydate", 4, true, false, false, false,
        "timestamp", "t",
        "fn_transform_DatetimeMagic(fecmodi, horamodi, yyyyMMdd)"),
      ColumnMetadata("flg_activo", 5, false, false, false, false,
        "string", "t", "fn_transform_ByteMagic(flgact, $F)"),
      ColumnMetadata("monto", 6, false, false, false, false,
        "numeric(18,2)", "t", "fn_transform_Numeric(monto)"))
    TransformationEngine.run(raw, meta, now = Some(DslQueries.auditNow))
      .select(col("id_venta"), col("id_compania"),
        fmtTs(col("processdate")).as("processdate"),
        fmtTs(col("lastmodifydate")).as("lastmodifydate"),
        col("flg_activo"), col("monto").cast("double").as("monto"))
      .orderBy("id_venta")
  }

  val e2eOracle: String = """
    SELECT concat_ws('|', lpad(CAST(o_custkey % 5 AS VARCHAR), 3, '0'),
                          CAST(o_orderkey AS VARCHAR)) AS id_venta,
           lpad(CAST(o_custkey % 5 AS VARCHAR), 3, '0') AS id_compania,
           '2024-06-25 07:00:00' AS processdate,
           strftime(CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)
             + (o_orderkey % 24) * INTERVAL 1 HOUR
             + ((o_orderkey // 7) % 60) * INTERVAL 1 MINUTE
             + ((o_orderkey // 11) % 60) * INTERVAL 1 SECOND,
             '%Y-%m-%d %H:%M:%S') AS lastmodifydate,
           CASE WHEN o_orderstatus = 'F' THEN 'F' ELSE 'T' END AS flg_activo,
           CAST(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(18,2)) AS DOUBLE) AS monto
    FROM orders ORDER BY id_venta"""

  val defs: Map[String, Entry] = Map(

    // C3 — dedup-latest-by-key window (latest order per customer)
    "c3_dedup_latest" -> (((spark, dir) => {
      TransformationEngine.dedupLatest(load(spark, dir, "orders"),
        idCols = Seq("o_custkey"), dateCols = Seq("o_orderdate"),
        tieBreak = Seq("o_orderkey"))
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("od"))
        .orderBy("o_custkey")
    }, Some("""
      SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS od
      FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
              ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
      WHERE rn = 1 ORDER BY o_custkey"""))),

    // C6 — MERGE upsert semantics: delta rows (keyed) replace matched rows,
    // unmatched delta rows insert (anti-join ∪ new). Runs END-TO-END
    // through the path-based CAS path (StageWriter.mergeInto: claim →
    // snapshot → merge → swap → sequence flip — the default,
    // multi-writer-safe MERGE the pipeline itself uses), not the pure
    // DataFrame merge: bootstrap commit, then the delta merge, then the
    // table read back from disk.
    // The delta is a contiguous key band — the real incremental-load
    // shape (new/late keys are range-local), and the shape the round-7
    // file-targeted merge prunes on: only base files whose key range
    // intersects the band are rewritten. c6_cdc below keeps the UNIFORM
    // delta as the worst-case twin (touches every file; still exact).
    "c6_merge" -> (((spark, dir) => {
      val orders = load(spark, dir, "orders")
      val delta = orders.filter(col("o_orderkey") <= 15000)
        .withColumn("o_totalprice", col("o_totalprice") + 1000)
      val tmp = Q.scratchDir("merge_gate")
      try {
        val t = tmp.resolve("orders").toString
        StageWriter.mergeInto(spark, orders, t, Seq("o_orderkey"))
        StageWriter.mergeInto(spark, delta, t, Seq("o_orderkey"))
        require(StageWriter.committedSeq(t) == 2L,
          "two CAS merges must advance the committed sequence to 2")
        spark.read.parquet(t)
          .select(col("o_orderkey"), col("o_totalprice").as("total"))
          .orderBy("o_orderkey")
          .localCheckpoint() // materialize before the scratch dir dies
      } finally StageWriter.deleteRecursively(tmp)
    }, Some("""
      SELECT o_orderkey,
             CASE WHEN o_orderkey <= 15000 THEN o_totalprice + 1000
                  ELSE o_totalprice END AS total
      FROM orders ORDER BY o_orderkey"""))),

    // D163 — file-targeted MERGE on a STRING key: the per-file (min, max)
    // manifest generalized to the natural keys most tables actually carry
    // (uuids, business codes). Base lands range-partitioned on the key;
    // a low-band delta + one beyond-range insert merge through the CAS
    // path, and the gate REQUIREs ≥3 of the 4 base files untouched on
    // disk (names + sizes stable) plus the string-dialect sidecar — the
    // O(delta) proof, not just the final rows. Bounds are compared with
    // Spark's binary string ordering end-to-end (scan stats and the
    // touched-file join both evaluate in Spark), and parquet footer
    // bounds are trusted only when pure-ASCII (truncation can split a
    // multi-byte sequence).
    "c6_merge_string" -> (((spark, dir) => {
      val base = load(spark, dir, "customer")
        .select(concat(lit("c_"),
          lpad(col("c_custkey").cast("string"), 8, "0")).as("c_key"),
          col("c_acctbal").as("bal"))
      import spark.implicits._
      val delta = base.filter(col("c_key") <= "c_00000100")
        .withColumn("bal", col("bal") + 10.0)
        .unionByName(Seq(("c_zzz_insert", 999.5)).toDF("c_key", "bal"))
      val tmp = Q.scratchDir("merge_str_gate")
      try {
        val t = tmp.resolve("cust").toString
        base.repartitionByRange(4, col("c_key")).write.parquet(t)
        def inv() = StageWriter.listDataFiles(java.nio.file.Paths.get(t))
          .map(p => p.getFileName.toString -> java.nio.file.Files.size(p))
          .toMap
        val before = inv()
        require(before.size >= 4, "string-merge gate needs a multi-file base")
        StageWriter.mergeInto(spark, delta, t, Seq("c_key"))
        require(StageWriter.committedSeq(t) == 1L,
          "the CAS merge must commit sequence 1")
        val after = inv()
        val untouched = before.keySet.intersect(after.keySet)
        require(untouched.size >= before.size - 1,
          s"string-keyed merge must rewrite ONLY the low-band file " +
            s"(${before.size} files, ${untouched.size} untouched)")
        untouched.foreach(f => require(before(f) == after(f),
          s"untouched file $f changed on disk"))
        require(graft.sink.Sidecars.load(t)
          .exists(_.bounds("c_key").exists(_._1 == "string")),
          "the string-kind bounds plane must persist")
        spark.read.parquet(t).orderBy("c_key")
          .localCheckpoint() // materialize before the scratch dir dies
      } finally StageWriter.deleteRecursively(tmp)
    }, Some("""
      WITH base AS (SELECT 'c_' || lpad(CAST(c_custkey AS VARCHAR), 8, '0')
                             AS c_key,
                           c_acctbal AS bal
                    FROM customer)
      SELECT c_key,
             CASE WHEN c_key <= 'c_00000100'
                  THEN bal + CAST(10.0 AS DOUBLE) ELSE bal END AS bal
      FROM base
      UNION ALL SELECT 'c_zzz_insert', CAST(999.5 AS DOUBLE)
      ORDER BY c_key"""))),

    // C6+ — SCHEMA EVOLUTION through the MERGE path end-to-end (the
    // Delta-autoMerge contract — previously spec-only): a delta carrying
    // a NEW column merges into a table without it. The merge takes the
    // full-rewrite arm (targeted pruning requires schema parity — the
    // documented fallback), old unmatched rows surface the new column as
    // NULL, and the widened table on disk accepts a SECOND, file-targeted
    // merge afterward.
    "c6_evolution" -> (((spark, dir) => {
      val orders = load(spark, dir, "orders")
        .select("o_orderkey", "o_totalprice")
      val widened = orders.filter(col("o_orderkey") < 5000)
        .withColumn("o_channel",
          concat(lit("ch"), pmod(col("o_orderkey"), lit(3))))
      val later = orders.filter(col("o_orderkey") >= 14000)
        .withColumn("o_totalprice", col("o_totalprice") + 500)
        .withColumn("o_channel", lit("late"))
      val tmp = Q.scratchDir("evolve_gate")
      try {
        val t = tmp.resolve("orders").toString
        StageWriter.mergeInto(spark, orders, t, Seq("o_orderkey"))
        Q.Phase.setupDone() // bootstrapped target table = fixture; op =
        // the widening merge + the targeted merge after it + read-back
        StageWriter.mergeInto(spark, widened, t, Seq("o_orderkey"))
        StageWriter.mergeInto(spark, later, t, Seq("o_orderkey"))
        require(StageWriter.committedSeq(t) == 3L,
          "bootstrap + widening merge + targeted merge must commit seq 3")
        spark.read.parquet(t)
          .select(col("o_orderkey"), col("o_totalprice").as("total"),
            col("o_channel"))
          .orderBy("o_orderkey")
          .localCheckpoint() // materialize before the scratch dir dies
      } finally StageWriter.deleteRecursively(tmp)
    }, Some("""
      SELECT o_orderkey,
             CASE WHEN o_orderkey >= 14000 THEN o_totalprice + 500
                  ELSE o_totalprice END AS total,
             CASE WHEN o_orderkey >= 14000 THEN 'late'
                  WHEN o_orderkey < 5000 THEN 'ch' || (o_orderkey % 3)
                  ELSE NULL END AS o_channel
      FROM orders ORDER BY o_orderkey"""))),

    // C6+ — CDC MERGE with tombstones: the delta carries op U/D; deletes
    // remove matched keys, upserts replace-or-insert, one key shuffle
    // (the whenMatchedDelete leg Delta adds over plain upsert MERGE).
    // Routed through the path-based CAS variant (StageWriter.mergeCdcInto)
    // so the gate proves the DEFAULT multi-writer-safe CDC path end-to-end:
    // bootstrap, CDC merge, read back from disk.
    "c6_cdc" -> (((spark, dir) => {
      val orders = load(spark, dir, "orders")
      val ups = orders.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000)
        .withColumn("op", lit("U"))
      val dels = orders
        .filter(col("o_orderkey") % 7 === 0 && col("o_orderkey") % 10 =!= 0)
        .withColumn("op", lit("D"))
      val tmp = Q.scratchDir("cdc_gate")
      try {
        val t = tmp.resolve("orders").toString
        StageWriter.mergeInto(spark, orders, t, Seq("o_orderkey"))
        StageWriter.mergeCdcInto(spark, ups.unionByName(dels), t,
          Seq("o_orderkey"))
        require(StageWriter.committedSeq(t) == 2L,
          "bootstrap + CDC merge must advance the committed sequence to 2")
        spark.read.parquet(t)
          .select(col("o_orderkey"), col("o_totalprice").as("total"))
          .orderBy("o_orderkey")
          .localCheckpoint()
      } finally StageWriter.deleteRecursively(tmp)
    }, Some("""
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000
                  ELSE o_totalprice END AS total
      FROM orders
      WHERE NOT (o_orderkey % 7 = 0 AND o_orderkey % 10 <> 0)
      ORDER BY o_orderkey"""))),

    // C5+ — versioned snapshots with time travel (sink.VersionedTable, the
    // Delta versionAsOf twin): two commits INSIDE the gate, then the v1
    // read (time travel) and the latest read are compared against the
    // source-table oracle. The _latest pointer flip is the atomic commit.
    // C14 — multi-format interchange: the SAME slice written to ORC, CSV
    // (plain and GZIP — the reference raw zone's compressed-chunk
    // fallback, query_executor.py:184-208) and JSON, read back through
    // each codec, and aggregated — count, decimal-exact revenue and
    // timestamp non-null count must survive every roundtrip (type
    // fidelity through text formats is where ingest pipelines silently
    // corrupt). Oracle: the parquet truth, repeated per format. Scratch
    // dir reclaimed eagerly (c5 discipline).
    "c14_formats" -> (((spark, dir) => {
      // coalesce before the codec writes: the gate proves type
      // fidelity, not write parallelism — at input parallelism it wrote
      // 3×32 small files and the task overhead dominated the wall.
      // The source slice is FIXTURE-CACHED (written once per JVM,
      // hardlinked into the gate dir on every pass) then CACHED in
      // memory: the four codec arms otherwise each re-scan the parquet
      // source, and the bench passes each re-paid the slice scan —
      // the matrix measures codec round-trips, not repeated scans.
      val tmpRoot = Q.scratchDir("fmt_gate")
      val srcDir = tmpRoot.resolve("src").toString
      Q.FixtureCache.link(spark, s"$dir|c14_formats_src", srcDir) {
        load(spark, dir, "lineitem")
          .select("l_orderkey", "l_quantity", "l_extendedprice",
            "l_shipdate")
          .coalesce(8)
      }
      // repartition(8) after the read: the scan bin-packs the small
      // fixture files into fewer splits, which would single-thread the
      // codec writes — the shuffle is one in-memory pass at setup
      val li = spark.read.parquet(srcDir).repartition(8).cache()
      // BEST_SPEED gzip for the compressed arm: the gate proves FORMAT
      // fidelity (values survive the codec round-trip), not deflate
      // ratios — level 1 halves the arm's wall with identical
      // assertions. Scoped: restored in the finally.
      val hconf = spark.sparkContext.hadoopConfiguration
      val prevZlib = hconf.get("zlib.compress.level")
      hconf.set("zlib.compress.level", "BEST_SPEED")
      try {
        li.count() // materialize the shared source
        Q.Phase.setupDone() // op = the 4 codec write+read round-trips
        val rows = Seq("csv", "csv.gz", "json", "orc").map { f =>
          val p = tmpRoot.resolve(f.replace('.', '_')).toString
          val fmt = if (f == "csv.gz") "csv" else f
          // deflate is the one CPU-bound codec here: spread the gz arm
          // across the full core count (cheap exchange off the cached
          // source); the uncompressed arms keep 8 right-sized files
          val src = if (f == "csv.gz") li.repartition(32) else li
          val w0 = src.write.mode("overwrite")
          val w1 = if (fmt == "csv") w0.option("header", "true") else w0
          (if (f == "csv.gz") w1.option("compression", "gzip") else w1)
            .format(fmt).save(p)
          if (f == "csv.gz") {
            val s = java.nio.file.Files.list(java.nio.file.Paths.get(p))
            val hasGz = try {
              import scala.jdk.CollectionConverters._
              s.iterator().asScala
                .exists(_.getFileName.toString.endsWith(".csv.gz"))
            } finally s.close()
            require(hasGz, "the gzip arm must land .csv.gz chunks")
          }
          val rd = spark.read
          val back = (fmt match {
            case "csv" => rd.schema(li.schema).option("header", "true")
            case "json" => rd.schema(li.schema)
            case _ => rd
          }).format(fmt).load(p)
          val a = back.agg(count(lit(1)).as("n"),
            dsum(col("l_extendedprice")).as("total"),
            count(col("l_shipdate")).as("n_ts")).head()
          (f, a.getLong(0), a.getDouble(1), a.getLong(2))
        }
        spark.createDataFrame(rows).toDF("fmt", "n", "total", "n_ts")
          .orderBy("fmt")
      } finally {
        if (prevZlib == null) hconf.unset("zlib.compress.level")
        else hconf.set("zlib.compress.level", prevZlib)
        li.unpersist()
        graft.sink.StageWriter.deleteRecursively(tmpRoot)
      }
    }, Some("""
      SELECT fmt, count(*) AS n,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total,
             count(l_shipdate) AS n_ts
      FROM lineitem CROSS JOIN
        (VALUES ('csv'), ('csv.gz'), ('json'), ('orc')) AS f(fmt)
      GROUP BY fmt ORDER BY fmt"""))),

    // C14+ — binaryFile source: the REAL ingestion path for multimodal
    // payloads (the mm_* operators synthesize binary columns in-plan; this
    // gate reads actual files through Spark's binaryFile format). Payload
    // bytes derive from the part table, so the oracle recomputes length +
    // md5 from the same derivation without touching the filesystem.
    "c14_binary_source" -> (((spark, dir) => {
      val tmp = Q.scratchDir("bin_gate")
      try {
        val names = load(spark, dir, "part").filter(col("p_partkey") <= 20)
          .select(col("p_partkey").cast("long"), col("p_name"))
          .collect().map(r => (r.getLong(0), r.getString(1)))
        names.foreach { case (k, name) =>
          java.nio.file.Files.write(tmp.resolve(s"$k.bin"),
            name.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        spark.read.format("binaryFile").load(tmp.toString)
          .select(
            regexp_extract(col("path"), "(\\d+)\\.bin", 1).cast("long")
              .as("k"),
            col("length").as("len"),
            md5(col("content")).as("h"))
          .orderBy("k")
          .localCheckpoint() // materialize before the scratch dir dies
      } finally graft.sink.StageWriter.deleteRecursively(tmp)
    }, Some("""
      SELECT CAST(p_partkey AS BIGINT) AS k,
             CAST(strlen(p_name) AS BIGINT) AS len, md5(p_name) AS h
      FROM part WHERE p_partkey <= 20 ORDER BY k"""))),

    "c5_time_travel" -> (((spark, dir) => {
      val tmpRoot = Q.scratchDir("vt_gate")
      try {
        val t = tmpRoot.resolve("docs").toString
        val docs = load(spark, dir, "documents")
        graft.sink.VersionedTable.commit(docs.filter(col("lang") === "en"), t)
        graft.sink.VersionedTable.commit(docs, t)
        // Materialize both snapshot counts EAGERLY so the scratch dir can
        // be reclaimed before returning (repeated Verify/ScaleSmoke runs
        // must not accumulate snapshots in /tmp).
        val n1 = graft.sink.VersionedTable.read(spark, t, asOf = Some(1))
          .count()
        val n2 = graft.sink.VersionedTable.read(spark, t).count()
        spark.createDataFrame(Seq((1, n1), (2, n2))).toDF("version", "n")
          .orderBy("version")
      } finally graft.sink.StageWriter.deleteRecursively(tmpRoot)
    }, Some("""
      SELECT 1 AS version, count(*) AS n FROM documents WHERE lang = 'en'
      UNION ALL
      SELECT 2 AS version, count(*) AS n FROM documents
      ORDER BY version"""))),

    // C5+ — change-data feed between snapshots (VersionedTable.diff, the
    // Delta CDF read twin): v1 = English docs, v2 = all docs; the diff
    // must be exactly the non-English inserts and nothing else.
    "c5_diff" -> (((spark, dir) => {
      val tmpRoot = Q.scratchDir("vt_diff")
      try {
        val t = tmpRoot.resolve("docs").toString
        val docs = load(spark, dir, "documents")
        graft.sink.VersionedTable.commit(docs.filter(col("lang") === "en"), t)
        graft.sink.VersionedTable.commit(docs, t)
        val rows = graft.sink.VersionedTable.diff(spark, t, 1, 2)
          .groupBy("change").agg(count(lit(1)).as("n"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
        spark.createDataFrame(rows).toDF("change", "n").orderBy("change")
      } finally graft.sink.StageWriter.deleteRecursively(tmpRoot)
    }, Some("""
      SELECT 'insert' AS change, count(*) AS n
      FROM documents WHERE lang <> 'en'
      ORDER BY change"""))),

    // C5/C6 — TRANSACTIONAL multi-writer MERGE in the gate
    // (VersionedTable.mergeCommit): two writers race disjoint-key merges
    // from the SAME base through the claim CAS; the loser's commit fails
    // (never silently overwrites), re-reads the winner's head, re-merges
    // and lands on top. Disjoint keys make the final table order-
    // independent (oracle-able); head_version = 3 pins exactly one commit
    // per writer (base + two merges) regardless of interleaving.
    "c5_merge_txn" -> (((spark, dir) => {
      val tmpRoot = Q.scratchDir("vt_merge")
      try {
        val t = tmpRoot.resolve("cust").toString
        val cust = load(spark, dir, "customer")
          .select(col("c_custkey").cast("long").as("k"),
            col("c_acctbal").cast("double").as("bal"))
        graft.sink.VersionedTable.commit(cust.filter(col("k") <= 200), t)
        val d1 = cust.filter(col("k") <= 50)
          .withColumn("bal", col("bal") * 2)
          .unionByName(cust.filter(col("k").between(201, 250)))
        val d2 = cust.filter(col("k").between(51, 100))
          .withColumn("bal", col("bal") * 3)
          .unionByName(cust.filter(col("k").between(251, 300)))
        val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
        try {
          val start = new java.util.concurrent.CountDownLatch(1)
          def race(d: org.apache.spark.sql.DataFrame) = pool.submit(
            new java.util.concurrent.Callable[Int] {
              def call(): Int = {
                start.await()
                graft.sink.VersionedTable.mergeCommit(spark, t, d, Seq("k"))
              }
            })
          val (f1, f2) = (race(d1), race(d2))
          start.countDown()
          val head = math.max(f1.get(), f2.get())
          graft.sink.VersionedTable.read(spark, t)
            .withColumn("head_version", lit(head))
            .orderBy("k")
            .localCheckpoint() // materialize before the scratch dir dies
        } finally pool.shutdown()
      } finally graft.sink.StageWriter.deleteRecursively(tmpRoot)
    }, Some("""
      SELECT c_custkey AS k,
             CASE WHEN c_custkey <= 50 THEN c_acctbal * 2
                  WHEN c_custkey <= 100 THEN c_acctbal * 3
                  ELSE c_acctbal END AS bal,
             3 AS head_version
      FROM customer WHERE c_custkey <= 300 ORDER BY k"""))),

    // C8 — empty-table bootstrap: typed empty output from declared schema
    "c8_empty_bootstrap" -> (((spark, dir) => {
      val schema = StructType(Seq(
        StructField("id_venta", StringType),
        StructField("monto", DecimalType(18, 2)),
        StructField("od", DateType)))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }, Some("""
      SELECT CAST(NULL AS VARCHAR) AS id_venta,
             CAST(NULL AS DECIMAL(18,2)) AS monto,
             CAST(NULL AS DATE) AS od
      WHERE false"""))),

    // C10 — catalog registration + schema-drift re-sync END-TO-END (the
    // reference's crawler phase, crawler_stage.py:416-519,886-953): a
    // stage table is registered over its parquet location in the session
    // metastore, the WRITER then evolves the schema (adds one column,
    // drops another), the drift re-sync re-registers it, and the final
    // result is read back THROUGH the catalog (spark.table) — metastore
    // resolution, not a path read, is what the oracle matches.
    "c10_catalog" -> (((spark, dir) => {
      import graft.sources.Catalog
      val tmp = Q.scratchDir("catalog_gate")
      val db = Catalog.databaseName("graft", "tpch", "main", "stage")
      try {
        val loc = tmp.resolve("nation").toString
        val nation = load(spark, dir, "nation")
        // v1 layout carries a column the re-sync must DROP
        nation.withColumn("legacy_flag", lit(1)).write.parquet(loc)
        Catalog.registerStageTable(spark, db, "nation_c10", loc)
        require(spark.table(s"`$db`.`nation_c10`").columns
          .contains("legacy_flag"), "v1 registration must see the v1 schema")
        nation.withColumn("name_up", upper(col("n_name")))
          .write.mode("overwrite").parquet(loc)
        val drift = Catalog.syncStageTable(spark, db, "nation_c10", loc)
        require(drift.exists(d => d.added == Seq("name_up") &&
          d.dropped == Seq("legacy_flag") && d.retyped.isEmpty),
          s"re-sync must report exactly the add+drop, got $drift")
        require(Catalog.syncStageTable(spark, db, "nation_c10", loc).isEmpty,
          "a driftless re-sync must be a no-op (no catalog churn)")
        spark.table(s"`$db`.`nation_c10`")
          .select(col("n_nationkey"), col("n_name"), col("name_up"))
          .orderBy("n_nationkey")
          .localCheckpoint() // materialize before the scratch dir dies
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS `$db`.`nation_c10`")
        StageWriter.deleteRecursively(tmp)
      }
    }, Some("""
      SELECT n_nationkey, n_name, upper(n_name) AS name_up
      FROM nation ORDER BY n_nationkey"""))),

    // C7 — the composed OPTIMIZE maintenance pass (the reference runs
    // OPTIMIZE + VACUUM + manifest after EVERY write,
    // light_transform.py:1394-1409): 48 skewed small files are rewritten
    // z-order-clustered into byte-budgeted files, the per-file key-range
    // sidecar is refreshed, the symlink manifest regenerated, and a
    // manifest-pruned range read over the optimized layout must equal the
    // full-scan filter. File counts are layout-dependent → require()'d;
    // the oracle matches the aggregate.
    "c7_optimize" -> (((spark, dir) => {
      val tmp = Q.scratchDir("optimize_gate")
      try {
        val p = tmp.resolve("li").toString
        load(spark, dir, "lineitem")
          .select("l_orderkey", "l_partkey", "l_extendedprice")
          .repartition(48).write.parquet(p)
        val rep = StageWriter.optimize(spark, p,
          targetFileBytes = 256 * 1024,
          zorderBy = Some(("l_orderkey", "l_partkey")),
          statsColumn = Some("l_orderkey"))
        require(rep.filesBefore == 48 && rep.filesAfter < 48,
          s"optimize must compact the 48 small files, got $rep")
        val manifest = java.nio.file.Files.readAllLines(java.nio.file
          .Paths.get(p).resolve("_symlink_format_manifest/manifest"))
        require(manifest.size == rep.filesAfter,
          s"manifest must list every data file " +
            s"(${manifest.size} vs ${rep.filesAfter})")
        val (pruned, fRead, fTotal) = graft.sink.Layout.prunedRead(
          spark, p, "l_orderkey", 10000L, 15000L)
        require(fRead <= fTotal, "pruned read can never widen the scan")
        val row = pruned
          .filter(col("l_orderkey").between(10000L, 15000L)) // residual
          .agg(count(lit(1)).as("n"),
            coalesce(dsum(col("l_extendedprice")), lit(0.0)).as("total"))
          .head()
        spark.createDataFrame(Seq((row.getLong(0), row.getDouble(1))))
          .toDF("n", "total")
      } finally StageWriter.deleteRecursively(tmp)
    }, Some("""
      SELECT count(*) AS n,
             COALESCE(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
               AS DOUBLE), 0.0) AS total
      FROM lineitem WHERE l_orderkey BETWEEN 10000 AND 15000"""))),

    // E2E — flagship reference-shaped pipeline (also SparkEntry.entry)
    "e2e_pipeline" -> ((e2ePipeline _, Some(e2eOracle))),

    // C13 — CONFIG-PLANE replay as a correctness gate: a reference-shaped
    // `;`-delimited latin-1 config (stray quotes and all — the SQL Server
    // identifier-bug workaround, extract_data.py:817-892) drives the WHOLE
    // engine path with zero hand-built objects: CsvConfigLoader.parse →
    // TableConfig/ColumnMetadata → Strategies.plan (COLUMNS projection +
    // ID_COLUMN aliasing + IN-subquery FILTER_EXP through applySql's
    // semi-join rewrite) → raw-zone stringify → TablePipeline.transform
    // (DSL compile, dedup-latest on IS_ID over the IS_FILTER_DATE recency
    // pair, ordered output, stage WRITE) → read back. This is the
    // reference's actual entry point (tables.csv / columns.csv →
    // light_transform.py:579-617) oracled end-to-end.
    "c13_config_replay" -> (((spark, dir) => {
      import graft.config.{CsvConfigLoader, LoadMode}
      val tablesCsv =
        "PROCESS_ID;SOURCE_SCHEMA;SOURCE_TABLE;SOURCE_TABLE_TYPE;LOAD_TYPE;" +
          "COLUMNS;ID_COLUMN;FILTER_EXP;PARTITION_MODE;PARTITION_COLUMN;" +
          "DELAY_INCREMENTAL_INI;DELAY_INCREMENTAL_END;FILTER_COLUMN;" +
          "FILTER_DATA_TYPE;JOIN_EXPR;STAGE_TABLE_NAME;STATUS;" +
          "JOB_EXTRACT_MAX_CAPACITY\n" +
        "P1;dbo;orders;m;full;" +
          "\"o_custkey\", o_orderkey, o_orderdate, o_totalprice, " +
          "o_orderstatus;\"o_custkey\";" +
          "o_custkey IN (SELECT c_custkey FROM customer WHERE " +
          "c_mktsegment = 'BUILDING');auto;;0;0;;;;stage_orders;A;2"
      val columnsCsv =
        "TABLE_NAME;COLUMN_NAME;COLUMN_ID;NEW_DATA_TYPE;TRANSFORMATION;" +
          "IS_ID;IS_FILTER_DATE;IS_ORDER_BY;IS_PARTITION\n" +
        "stage_orders;id_cliente;1;string;" +
          "fn_transform_ClearString(id);T;F;T;F\n" +
        // recency PAIR: date first, then the unique order id — the same
        // two-column recency the reference's fecmodi/horamodi pairs use,
        // and what makes dedup-latest deterministic under date ties
        "stage_orders;fecha;2;date;" +
          "\"fn_transform_Date(o_orderdate, yyyy-MM-dd)\";F;T;F;F\n" +
        "stage_orders;id_orden;3;string;" +
          "fn_transform_ClearString(o_orderkey);F;T;F;F\n" +
        "stage_orders;monto;4;numeric(18,2);" +
          "fn_transform_Numeric(o_totalprice);F;F;F;F\n" +
        "stage_orders;estado;5;string;o_orderstatus;F;F;F;F\n" +
        "stage_orders;processdate;6;timestamp;fn_transform_Datetime();F;F;F;F"
      val cfg = CsvConfigLoader.tableConfig(
        CsvConfigLoader.parse(tablesCsv).head)
      val meta = CsvConfigLoader.parse(columnsCsv)
        .map(CsvConfigLoader.columnMetadata)
        .filter(_.tableName.equalsIgnoreCase("stage_orders"))
        .sortBy(_.columnId)
      val clock = java.time.Clock.fixed(
        java.time.Instant.parse("2024-06-25T12:00:00Z"),
        java.time.ZoneOffset.UTC)
      val plan = graft.extract.Strategies.plan(cfg, LoadMode.Normal, clock,
        java.time.ZoneId.of("UTC"))
      val extracted = plan.applySql(spark, load(spark, dir, "orders"),
        "c13_orders_src", Map("customer" -> load(spark, dir, "customer")))
      val tmp = Q.scratchDir("cfg_gate")
      try {
        val rawPath = tmp.resolve("raw").toString
        StageWriter.overwrite(
          graft.run.TablePipeline.toRawZone(extracted), rawPath)
        val stagePath = tmp.resolve("stage").toString
        graft.run.TablePipeline.transform(spark, rawPath, stagePath, cfg,
          meta, now = Some(DslQueries.auditNow))
        spark.read.parquet(stagePath)
          .select(col("id_cliente"), col("fecha"), col("id_orden"),
            col("monto").cast("double").as("monto"), col("estado"),
            fmtTs(col("processdate")).as("processdate"))
          .orderBy("id_cliente")
          .localCheckpoint() // materialize before the scratch dir dies
      } finally StageWriter.deleteRecursively(tmp)
    }, Some("""
      WITH src AS (
        SELECT CAST(o_custkey AS VARCHAR) AS id,
               CAST(o_orderkey AS VARCHAR) AS o_orderkey,
               CAST(o_orderdate AS VARCHAR) AS o_orderdate,
               CAST(o_totalprice AS VARCHAR) AS o_totalprice,
               CAST(o_orderstatus AS VARCHAR) AS o_orderstatus
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer
                            WHERE c_mktsegment = 'BUILDING')),
      tr AS (
        SELECT trim(id) AS id_cliente,
               CAST(o_orderdate AS DATE) AS fecha,
               trim(o_orderkey) AS id_orden,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS monto,
               o_orderstatus AS estado,
               '2024-06-25 07:00:00' AS processdate
        FROM src),
      dd AS (
        SELECT *, row_number() OVER (PARTITION BY id_cliente
                 ORDER BY fecha DESC, id_orden DESC) AS rn
        FROM tr)
      SELECT id_cliente, fecha, id_orden, monto, estado, processdate
      FROM dd WHERE rn = 1 ORDER BY id_cliente"""))),

    // ROBUSTNESS gate for the event-time plane: the SAME event slice
    // written under all three parquet timestamp encodings — nanos-as-long
    // (what a TIMESTAMP(NANOS) footer + nanosAsLong read yields), MICROS,
    // and MILLIS — then read back through Q.normalizeEventTs and windowed.
    // The three hourly aggregates must be IDENTICAL (slice truncated to
    // whole millis so every annotation represents it exactly); the oracle
    // is the annotation-agnostic epoch_ns math repeated per annotation.
    // This turns the round-4 outage class (an annotation flip silently
    // breaking ts arithmetic in 15 queries) into a battery-caught failure.
    "q_ts_annotations" -> (((spark, dir) => {
      val ev = load(spark, dir, "events")
        .filter(col("event_id") % 5 === 0)
        .withColumn("ts", expr("(ts div 1000000) * 1000000")) // whole millis
        .select("event_id", "user_id", "ts", "value")
      val tmp = Q.scratchDir("tsann_gate")
      try {
        ev.write.parquet(tmp.resolve("nanos").toString) // long nanos column
        val prevOut = spark.conf.get("spark.sql.parquet.outputTimestampType")
        def writeAs(annotation: String, sub: String): Unit = {
          spark.conf.set("spark.sql.parquet.outputTimestampType", annotation)
          try ev.withColumn("ts",
              timestamp_micros(expr("ts div 1000")))
            .write.parquet(tmp.resolve(sub).toString)
          finally spark.conf.set("spark.sql.parquet.outputTimestampType",
            prevOut)
        }
        writeAs("TIMESTAMP_MICROS", "micros")
        writeAs("TIMESTAMP_MILLIS", "millis")
        Seq("millis", "micros", "nanos").map { ann =>
          Q.normalizeEventTs(spark.read.parquet(tmp.resolve(ann).toString))
            .withColumn("hour", expr("ts div 3600000000000"))
            .groupBy("hour")
            .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
            .withColumn("annotation", lit(ann))
        }.reduce(_ unionByName _)
          .orderBy("annotation", "hour")
          .localCheckpoint()
      } finally StageWriter.deleteRecursively(tmp)
    }, Some("""
      WITH e AS (
        SELECT (epoch_ns(ts) // 1000000) * 1000000 AS tsn, "value"
        FROM events WHERE event_id % 5 = 0),
      a AS (
        SELECT tsn // 3600000000000 AS hour, count(*) AS n,
               CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM e GROUP BY 1)
      SELECT annotation, hour, n, total
      FROM a CROSS JOIN (VALUES ('millis'), ('micros'), ('nanos'))
        AS t(annotation)
      ORDER BY annotation, hour"""))),

    // C12 — process-group scheduler driving two full raw->stage pipelines in
    // parallel; output is the run log (deterministic: statuses + row counts)
    "pipeline_group" -> (((spark, dir) => {
      import spark.implicits._
      import graft.run.{GroupScheduler, TablePipeline}
      import graft.config.{ColumnMetadata, LoadMode, LoadType, TableConfig}
      val work = Q.scratchDir("grp").toString
      // the whole group runs under the ambient scan-budget rail (D185
      // session enforcement): a generous default proves enforcement-on
      // costs nothing on healthy plans — the spec proves the refusal arm
      graft.run.ScanBudget.setDefaultUnder(work, 256L * 1024 * 1024)
      def cfg(t: String) = TableConfig("*", LoadType.Full, "auto", "", 0, 0,
        "", "", "", "", "", "G1", "dbo", t, "m", s"m_$t", "a", "1")
      def meta(id: String, cols: (String, String)*): Seq[ColumnMetadata] =
        cols.zipWithIndex.map { case ((n, tr), i) =>
          ColumnMetadata(n, i + 1, false, n == id, false, false, "string",
            "t", tr)
        }
      val clock = java.time.Clock.fixed(
        java.time.Instant.parse("2024-06-25T12:00:00Z"),
        java.time.ZoneOffset.UTC)
      val utc = java.time.ZoneId.of("UTC")
      def job(table: String, m: Seq[ColumnMetadata]): (Long, String) = {
        TablePipeline.extract(spark, s"$dir/$table.parquet",
          s"$work/raw/$table", cfg(table), LoadMode.Initial, clock, utc, None)
        // status-carrying path: the run log records the error tier
        // (SUCCESS here; WARNING when 10-50% of columns degrade)
        TablePipeline.transformWithStatus(spark, s"$work/raw/$table",
          s"$work/stage/$table", cfg(table), m,
          Some(DslQueries.auditNow))
      }
      val recs =
        try GroupScheduler.runDetailed(Seq(
          ("nation", () => job("nation", meta("id_nation",
            ("id_nation", "fn_transform_Concatenate(n_nationkey, n_name)"),
            ("cod_nation", "fn_transform_ClearString(n_name)")))),
          ("region", () => job("region", meta("id_region",
            ("id_region", "fn_transform_ClearString(r_name)"))))),
          maxConcurrency = 2)
        finally graft.run.ScanBudget.clearUnder(work)
      recs.map(r => (r.table, r.status, r.rows)).toDF("table", "status", "rows")
        .orderBy("table")
    }, Some("""
      SELECT 'nation' AS "table", 'SUCCESS' AS status,
             (SELECT count(*) FROM nation) AS "rows"
      UNION ALL
      SELECT 'region', 'SUCCESS', (SELECT count(*) FROM region)
      ORDER BY "table""""))),

    // Sessionization (gap > 1 h starts a new session) — the batch twin of
    // streaming.Streams.sessionize, lag/cumsum over a per-user window
    "evt_sessionize" -> (((spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts")
      load(spark, dir, "events")
        .withColumn("new_s",
          when(col("ts") - lag("ts", 1).over(w) > 3600L * 1000000000L, 1)
            .otherwise(0))
        .withColumn("session_id", sum("new_s")
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_id")
        // micros in the output: DuckDB surfaces parquet NANOS at micro
        // precision, so ns-exact values can never hash-match
        .agg(count(lit(1)).as("n_events"),
          expr("min(ts) div 1000").as("start_us"),
          expr("max(ts) div 1000").as("end_us"),
          dsum(col("value")).as("total"))
        .orderBy("user_id", "session_id")
    }, Some("""
      WITH marked AS (
        SELECT user_id, epoch_ns(ts) AS tsn, "value",
               CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts)) OVER
                      (PARTITION BY user_id ORDER BY epoch_ns(ts))
                    > 3600 * CAST(1000000000 AS BIGINT) THEN 1 ELSE 0 END AS new_s
        FROM events),
      sess AS (
        SELECT user_id, tsn, "value",
               CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY tsn
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM marked)
      SELECT user_id, session_id, count(*) AS n_events,
             min(tsn) // 1000 AS start_us, max(tsn) // 1000 AS end_us,
             CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM sess GROUP BY user_id, session_id
      ORDER BY user_id, session_id"""))),

    // As-of join: for each 'error' event, the latest preceding-or-equal
    // 'click' event of the same user (composed operator, one shuffle+sort;
    // oracle = DuckDB's native ASOF JOIN)
    "evt_asof" -> (((spark, dir) => {
      val ev = load(spark, dir, "events")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      graft.operators.AsofJoin.asofJoin(errors, clicks,
          keyCols = Seq("user_id"), leftTime = "ts", rightTime = "ts",
          rightCols = Seq("click_id"))
        .select(col("event_id"), col("user_id"),
          col("asof_click_id").as("prev_click_id"))
        .orderBy("event_id")
    }, Some("""
      WITH errors AS (SELECT event_id, user_id, epoch_ns(ts) AS tsn
                      FROM events WHERE event_type = 'error'),
           clicks AS (SELECT event_id AS click_id, user_id, epoch_ns(ts) AS tsn
                      FROM events WHERE event_type = 'click')
      SELECT e.event_id, e.user_id, c.click_id AS prev_click_id
      FROM errors e ASOF LEFT JOIN clicks c
        ON e.user_id = c.user_id AND e.tsn >= c.tsn
      ORDER BY e.event_id"""))),

    // D109 — SCD Type-2 (operators.Scd2): purchases define each user's
    // tier over time; build derives the versioned interval table (one
    // lead() window — the reporting artifact, stats pinned as columns),
    // while fact enrichment goes through the AS-OF path (one key-sort, no
    // range join) — the two halves must agree, and the oracle checks both:
    // intervals via lead(), enrichment via DuckDB's ASOF JOIN.
    "evt_scd2" -> (((spark, dir) => {
      val ev = load(spark, dir, "events")
      val changes = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts")) // unique per (key, ts)
        .agg(max(col("value")).as("v"))
        .withColumn("tier", when(col("v") >= 75, "gold")
          .when(col("v") >= 40, "silver").otherwise("bronze"))
        .select("user_id", "ts", "tier")
      val dim = graft.operators.Scd2.build(changes, Seq("user_id"), "ts",
        Seq("tier"))
      val stats = dim.agg(count(lit(1)).as("n_intervals"),
        sum(when(col("valid_to").isNull, 1L).otherwise(0L)).as("n_open"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"))
      graft.operators.Scd2.pointInTime(clicks, changes, Seq("user_id"),
          "ts", "ts", Seq("tier"))
        .filter(col("asof_tier").isNotNull) // clicks before any purchase
        .groupBy(col("asof_tier").as("tier"))
        .agg(count(lit(1)).as("n_clicks"),
          count_distinct(col("user_id")).as("n_users"))
        .crossJoin(broadcast(stats))
        .orderBy("tier")
    }, Some("""
      WITH ch AS (
        SELECT user_id, epoch_ns(ts) AS t,
               CASE WHEN max("value") >= 75 THEN 'gold'
                    WHEN max("value") >= 40 THEN 'silver'
                    ELSE 'bronze' END AS tier
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      iv AS (SELECT user_id, t AS vf,
               lead(t) OVER (PARTITION BY user_id ORDER BY t) AS vt, tier
             FROM ch),
      ivs AS (SELECT count(*) AS n_intervals,
                CAST(count(*) FILTER (WHERE vt IS NULL) AS BIGINT) AS n_open
              FROM iv),
      ck AS (SELECT user_id, epoch_ns(ts) AS t FROM events
             WHERE event_type = 'click'),
      j AS (SELECT ck.user_id, c.tier
            FROM ck ASOF JOIN ch c
              ON ck.user_id = c.user_id AND ck.t >= c.t)
      SELECT tier, count(*) AS n_clicks,
             count(DISTINCT user_id) AS n_users,
             (SELECT n_intervals FROM ivs) AS n_intervals,
             (SELECT n_open FROM ivs) AS n_open
      FROM j GROUP BY tier ORDER BY tier"""))),

    // D109+ — SCD Type-2 under SAME-TIMESTAMP ties and late arrival:
    // purchases bucketed to DAYS so one (user, day) carries several
    // competing changes; the tiebreak (highest event_id = last writer)
    // must pick the SAME winner in build (intervals) and pointInTime
    // (enrichment), and the batch build is arrival-order-insensitive by
    // construction. Oracle resolves ties with the identical row_number
    // rule, then lead() + ASOF JOIN as in evt_scd2.
    "evt_scd2_ties" -> (((spark, dir) => {
      val ev = load(spark, dir, "events")
      val ch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("ts div 86400000000000").as("day"),
          col("value"), col("event_id"))
        .withColumn("tier", when(col("value") >= 75, "gold")
          .when(col("value") >= 40, "silver").otherwise("bronze"))
      val tb = Seq(col("event_id").desc)
      val dim = graft.operators.Scd2.build(ch, Seq("user_id"), "day",
        Seq("tier"), tb)
      val stats = dim.agg(count(lit(1)).as("n_intervals"),
        sum(when(col("valid_to").isNull, 1L).otherwise(0L)).as("n_open"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      graft.operators.Scd2.pointInTime(clicks, ch, Seq("user_id"),
          "day", "day", Seq("tier"), tb)
        .filter(col("asof_tier").isNotNull)
        .groupBy(col("asof_tier").as("tier"))
        .agg(count(lit(1)).as("n_clicks"),
          count_distinct(col("user_id")).as("n_users"))
        .crossJoin(broadcast(stats))
        .orderBy("tier")
    }, Some("""
      WITH p AS (
        SELECT user_id, epoch_ns(ts) // 86400000000000 AS day, "value",
               event_id,
               row_number() OVER (
                 PARTITION BY user_id, epoch_ns(ts) // 86400000000000
                 ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase'),
      ch AS (
        SELECT user_id, day,
               CASE WHEN "value" >= 75 THEN 'gold'
                    WHEN "value" >= 40 THEN 'silver'
                    ELSE 'bronze' END AS tier
        FROM p WHERE rn = 1),
      iv AS (SELECT user_id, day AS vf,
               lead(day) OVER (PARTITION BY user_id ORDER BY day) AS vt,
               tier
             FROM ch),
      ivs AS (SELECT count(*) AS n_intervals,
                CAST(count(*) FILTER (WHERE vt IS NULL) AS BIGINT) AS n_open
              FROM iv),
      ck AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS day
             FROM events WHERE event_type = 'click'),
      j AS (SELECT ck.user_id, c.tier
            FROM ck ASOF JOIN ch c
              ON ck.user_id = c.user_id AND ck.day >= c.day)
      SELECT tier, count(*) AS n_clicks,
             count(DISTINCT user_id) AS n_users,
             (SELECT n_intervals FROM ivs) AS n_intervals,
             (SELECT n_open FROM ivs) AS n_open
      FROM j GROUP BY tier ORDER BY tier"""))),

    // Interval join (batch twin of streaming.Streams.intervalJoin — the
    // SAME operator, watermarks no-op in batch): each error event counts
    // the same user's clicks in the preceding 24 hours
    "evt_interval_join" -> (((spark, dir) => {
      val ev = load(spark, dir, "events")
      val errors = ev.filter(col("event_type") === "error")
      val clicks = ev.filter(col("event_type") === "click")
      graft.streaming.Streams.intervalJoin(errors, clicks, "user_id",
          Seq("event_id"), window = "24 hours")
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

    // JSON column functions: extract typed fields from the events props
    // JSON strings and aggregate on them
    "evt_json" -> (((spark, dir) => {
      load(spark, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(col("event_type"), (col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"))
        .orderBy("event_type", "k_mod")
    }, Some("""
      SELECT event_type, CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod,
             count(*) AS n,
             CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS k_sum
      FROM events GROUP BY 1, 2 ORDER BY event_type, k_mod"""))),

    // Pivot (manual conditional aggregation — identical shape both engines)
    "q_pivot" -> (((spark, dir) => {
      val li = load(spark, dir, "lineitem")
      li.groupBy("l_linestatus")
        .agg(
          dsum(when(col("l_returnflag") === "A", col("l_quantity"))
            .otherwise(lit(0))).as("qty_a"),
          dsum(when(col("l_returnflag") === "N", col("l_quantity"))
            .otherwise(lit(0))).as("qty_n"),
          dsum(when(col("l_returnflag") === "R", col("l_quantity"))
            .otherwise(lit(0))).as("qty_r"))
        .orderBy("l_linestatus")
    }, Some("""
      SELECT l_linestatus,
             CAST(SUM(CAST(CASE WHEN l_returnflag = 'A' THEN l_quantity ELSE 0 END
                  AS DECIMAL(18,2))) AS DOUBLE) AS qty_a,
             CAST(SUM(CAST(CASE WHEN l_returnflag = 'N' THEN l_quantity ELSE 0 END
                  AS DECIMAL(18,2))) AS DOUBLE) AS qty_n,
             CAST(SUM(CAST(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END
                  AS DECIMAL(18,2))) AS DOUBLE) AS qty_r
      FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus"""))),

    // REAL Structured Streaming inside the gate: the events parquet replayed
    // as a stream (Trigger.AvailableNow) through the watermarked tumbling-
    // window aggregation, collected from a memory sink — the STREAMED result
    // hash-matches the same DuckDB oracle shape as the batch twin. Complete
    // output mode so the final (unclosed) window is emitted deterministically.
    "evt_stream_window" -> (((spark, dir) => withStreamPartitions(spark) {
      import org.apache.spark.sql.streaming.Trigger
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val schema = spark.read.parquet(s"$dir/events.parquet").schema
      // the file source needs a directory; glob-filter the single file
      val in = spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val agg = graft.streaming.Streams.windowedAgg(in,
          windowLen = "5 minutes", lateness = "10 minutes")
        .select(col("window.start").cast("long").as("win_s"),
          col("event_type"), col("n"),
          col("total").cast("double").as("total"))
      val sink = s"evt_stream_window_${System.nanoTime()}"
      val q = agg.writeStream.format("memory").queryName(sink)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(sink).orderBy("win_s", "event_type")
    }, Some("""
      SELECT (epoch_ns(ts) // 1000) // 300000000 * 300 AS win_s, event_type,
             count(*) AS n,
             CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM events GROUP BY 1, 2 ORDER BY win_s, event_type"""))),

    // Events micro-batch window aggregation (5-minute tumbling windows over
    // nanosecond timestamps) — the batch equivalent of the streaming path
    "evt_window_agg" -> (((spark, dir) => {
      load(spark, dir, "events")
        .withColumn("win", expr("ts div 300000000000"))
        .groupBy("win", "event_type")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("win", "event_type")
    }, Some("""
      SELECT epoch_ns(ts) // 300000000000 AS win, event_type,
             count(*) AS n,
             CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM events GROUP BY 1, 2 ORDER BY win, event_type""")))
  )
}

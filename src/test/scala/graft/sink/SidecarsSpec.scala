package graft.sink

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** D190 — unified sidecar freshness: every writer path (overwrite,
  * compact, optimize, targeted merge, full-rewrite merge, DV fold)
  * leaves every DECLARED pruning plane inventory-fresh; undeclared
  * tables pay nothing. */
class SidecarsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def frame(n: Int) =
    spark.range(0, n).select(col("id").as("k"),
      (col("id") % 50).as("b"), (col("id") * 3 + 1).as("v")) // v unique: the bloom point-lookup key

  private def declareAll(path: String): Unit =
    Sidecars.declare(spark, path, Seq(
      Sidecars.Stats("k"), Sidecars.Zone(Seq("b")),
      Sidecars.Bloom("v", bits = 1 << 14)))

  /** Every declared plane validates against the CURRENT inventory. */
  private def assertFresh(path: String, tag: String): Unit = {
    val names = StageWriter.listDataFiles(Paths.get(path))
      .map(_.getFileName.toString).toSet
    val planes = Sidecars.load(path)
    assert(planes.exists(_.files == names), s"$tag: sidecar stale")
    assert(planes.exists(_.bounds("k").isDefined),
      s"$tag: range stats stale")
    assert(planes.exists(_.bounds("b").isDefined), s"$tag: zone map stale")
    assert(planes.exists(_.of(Sidecars.Bloom("v", bits = 1 << 14))
      .exists(_.keySet == names)), s"$tag: bloom plane stale")
  }

  test("declare builds all planes; overwrite, compact, optimize and the " +
    "DV fold each leave every plane fresh") {
    val tmp = Files.createTempDirectory("sidecars")
    try {
      val p = tmp.resolve("t").toString
      frame(4000).repartitionByRange(4, col("k")).write.parquet(p)
      declareAll(p)
      assertFresh(p, "after declare")
      assert(Sidecars.declared(p) == Seq(Sidecars.Stats("k"),
        Sidecars.Zone(Seq("b")), Sidecars.Bloom("v", bits = 1 << 14)))

      StageWriter.overwrite(
        frame(5000).repartitionByRange(5, col("k")), p)
      assertFresh(p, "after overwrite")
      assert(StageWriter.listDataFiles(Paths.get(p)).size == 5)

      StageWriter.compact(spark, p, targetFileBytes = 16 * 1024,
        clusterBy = Some("k"))
      assertFresh(p, "after compact")

      StageWriter.optimize(spark, p, targetFileBytes = 8 * 1024)
      assertFresh(p, "after optimize")

      assert(DeletionVectors.delete(spark, p, col("k") < 100) == 100)
      DeletionVectors.apply(spark, p) // fold = rewrite via overwrite
      assertFresh(p, "after DV fold")
      assert(spark.read.parquet(p).count() == 4900)
    } finally StageWriter.deleteRecursively(tmp)
  }

  test("a file-targeted merge patches planes in O(new files): untouched " +
    "files stay byte-identical AND every plane stays fresh") {
    val tmp = Files.createTempDirectory("sidecars2")
    try {
      val p = tmp.resolve("t").toString
      frame(8000).repartitionByRange(8, col("k")).write.parquet(p)
      declareAll(p)
      def inv() = StageWriter.listDataFiles(Paths.get(p))
        .map(f => f.getFileName.toString -> Files.size(f)).toMap
      val before = inv()
      // delta confined to a narrow key range: touches 1-2 of 8 files
      val delta = frame(8000)
        .filter(col("k").between(1000, 1499))
        .withColumn("v", col("v") + 100000)
      StageWriter.mergeInto(spark, delta, p, Seq("k"))
      val after = inv()
      val untouched = before.keySet.intersect(after.keySet)
      assert(untouched.nonEmpty, "targeted merge must keep some files")
      assert(untouched.forall(f => before(f) == after(f)))
      assert(after.keySet != before.keySet, "merge must add merged files")
      assertFresh(p, "after targeted merge")
      // values actually merged
      assert(spark.read.parquet(p).filter(col("k") === 1200)
        .select("v").as[Long].head() == 1200L * 3 + 1 + 100000)
      // and pruning still actually skips via the fresh blooms
      val probe = 2000L * 3 + 1 // v of k=2000 (outside the delta range)
      val (_, read, total) = Layout.bloomPrunedRead(spark, p, "v",
        Seq(probe), bits = 1 << 14)
      assert(total == after.size && read < total,
        s"fresh blooms must skip ($read of $total)")
    } finally StageWriter.deleteRecursively(tmp)
  }

  test("a full-rewrite merge (schema evolution fallback) refreshes via " +
    "the overwrite hook; undeclared tables grow no sidecars") {
    val tmp = Files.createTempDirectory("sidecars3")
    try {
      val p = tmp.resolve("t").toString
      frame(3000).repartitionByRange(3, col("k")).write.parquet(p)
      declareAll(p)
      // schema-evolving delta → targetedEligible false → full rewrite
      val delta = frame(3000).filter(col("k") < 10)
        .withColumn("extra", lit("x"))
      StageWriter.mergeInto(spark, delta, p, Seq("k"))
      assert(spark.read.parquet(p).columns.contains("extra"))
      assertFresh(p, "after full-rewrite merge")

      val q = tmp.resolve("plain").toString
      StageWriter.overwrite(frame(100), q)
      assert(!Files.exists(Paths.get(q + ".__planes__")),
        "an undeclared table must pay nothing")
      Sidecars.drop(p)
      assert(Sidecars.declared(p).isEmpty)
    } finally StageWriter.deleteRecursively(tmp)
  }

  test("stats+zone refresh shares ONE data pass (records-read counted) " +
    "and writes byte-identical sidecars to the dedicated passes") {
    val tmp = Files.createTempDirectory("sidecars4")
    // input-records counter: schema/footer probes read 0 records, so
    // this measures exactly how many times the DATA was passed over
    val recs = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        if (t.taskMetrics != null)
          recs.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
        ()
      }
    }
    def measure(body: => Unit): Long = {
      recs.set(0)
      spark.sparkContext.addSparkListener(listener)
      try { body; Thread.sleep(500) /* drain listener bus */ }
      finally spark.sparkContext.removeSparkListener(listener)
      recs.get()
    }
    try {
      val p = tmp.resolve("t").toString
      // string stats column with a non-ASCII bound: the footer reader
      // stands down, so the bounds plane MUST scan — and one scan serves
      // every bounds column, the stats and the zone ones alike
      spark.range(0, 4000).select(col("id").as("k"),
        concat(lit("sé"), lpad(col("id").cast("string"), 6, "0")).as("s"),
        (col("id") % 50).as("b"))
        .repartitionByRange(4, col("k"))
        .write.parquet(p)
      val files = MetadataAgg.listRel(Paths.get(p))
      val schema = Sidecars.schemaOf(spark, files.head._2)
      // dedicated per-column passes → reference entries. The string
      // column scans (4000 records); the ALL-INTEGRAL columns are
      // footer-served (zero records, zero jobs), which this count pins.
      val sPlane = Sidecars.Bounds(Seq("s" -> "string"))
      val bkPlane = Sidecars.Bounds(Seq("b" -> "long", "k" -> "long"))
      var sRef: Map[String, Seq[Option[(String, String)]]] = Map.empty
      var bkRef: Map[String, Seq[Option[(String, String)]]] = Map.empty
      val dedicated = measure {
        sRef = sPlane.summarize(spark, files, schema)
        bkRef = bkPlane.summarize(spark, files, schema)
      }
      assert(dedicated == 4000L,
        s"the string column must scan once and the all-integral pass " +
          s"must be footer-served (zero records), counted $dedicated")
      assert(bkPlane.footer(files).isDefined && sPlane.footer(files).isEmpty)
      Sidecars.declare(spark, p, Seq(
        Sidecars.Stats("s"), Sidecars.Zone(Seq("b", "k"))))
      val combined = measure { Sidecars.refreshAfterWrite(spark, p) }
      assert(combined == 4000L,
        s"stats+zone must share ONE data pass, counted $combined records")
      val planes = Sidecars.load(p).get
      assert(planes.boundsColumns ==
        Seq("s" -> "string", "b" -> "long", "k" -> "long"))
      files.foreach { case (f, _) =>
        assert(planes.bounds("s").get._2(f) == sRef(f).head,
          "combined stats entries must equal the dedicated pass")
        assert(Seq("b", "k").map(planes.bounds(_).get._2(f)) == bkRef(f),
          "combined zone entries must equal the dedicated pass")
      }
    } finally StageWriter.deleteRecursively(tmp)
  }

  private def scanned(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.length
    }.head

  // one case per plane kind: generic upkeep (drop the removed files'
  // lines, summarize only the added files) must leave EXACTLY the
  // sidecar a full rebuild writes, and every consumer must stand down
  // once a file lands behind the sidecar's back
  Seq[(String, Sidecars.Plane)](
    "stats" -> Sidecars.Stats("k"),
    "zone" -> Sidecars.Zone(Seq("b", "s")),
    "bloom" -> Sidecars.Bloom("v", bits = 1 << 12),
    "counts" -> Sidecars.Counts,
    "ndv" -> Sidecars.Ndv("b", k = 16),
    "kmh" -> Sidecars.Kmh("d", "k", "b", k = 32),
    "hist" -> Sidecars.Hist("s", maxDistinct = 8)
  ).foreach { case (kind, plane) =>
    test(s"upkeep equals rebuild ($kind plane): a targeted merge leaves " +
      "the sidecar byte-identical to a fresh refresh, and a foreign file " +
      "stands every consumer down") {
      val tmp = Files.createTempDirectory("sidecars_upkeep")
      try {
        val p = tmp.resolve("t").toString
        def rows(lo: Long, hi: Long, tag: Long) = spark.range(lo, hi)
          .select(col("id").as("k"), (col("id") % 50).as("b"),
            (col("id") * 3 + tag).as("v"),
            concat(lit("s"), col("id") % 5).as("s"),
            (col("id") % 97 + tag).cast("double").as("d"))
        rows(0, 4000, 1).repartitionByRange(4, col("k")).write.parquet(p)
        Sidecars.declare(spark, p, Seq(plane))
        val before = StageWriter.listDataFiles(Paths.get(p))
          .map(_.getFileName.toString).toSet
        StageWriter.mergeInto(spark, rows(1000, 1200, 7) union
          rows(9000, 9010, 7), p, Seq("k"))
        val after = StageWriter.listDataFiles(Paths.get(p))
          .map(_.getFileName.toString).toSet
        assert(before.intersect(after).nonEmpty && after != before,
          "the merge must be file-targeted")
        val sidecar = Paths.get(p + ".__planes__")
        val upkept = Files.readAllBytes(sidecar)
        assert(Sidecars.load(p).isDefined, "upkeep must leave it fresh")
        Sidecars.refreshAfterWrite(spark, p)
        assert(java.util.Arrays.equals(upkept, Files.readAllBytes(sidecar)),
          "upkeep must write exactly what a rebuild writes:\n" +
            new String(upkept) + "\nvs\n" +
            new String(Files.readAllBytes(sidecar)))
        // a file added behind the sidecar's back (a duplicate of one
        // holding key 3000): every consumer stands down
        val holder = StageWriter.listDataFiles(Paths.get(p)).find { f =>
          spark.read.parquet(f.toString).filter(col("k") === 3000L)
            .count() == 1 }.get
        Files.copy(holder, holder.getParent.resolve("zz_foreign.parquet"))
        assert(Sidecars.load(p).isEmpty)
        assert(MetadataAgg.count(p).isEmpty &&
          MetadataAgg.minMax(p, "k").isEmpty &&
          MetadataAgg.ndvEstimate(p, "b").isEmpty &&
          MetadataAgg.kmhQuantiles(p, "d", Seq(0.5)).isEmpty &&
          MetadataAgg.histCounts(p, "s").isEmpty)
        graft.plans.StatsFilePrune.ensureInstalled(spark)
        val total = StageWriter.listDataFiles(Paths.get(p)).size
        assert(scanned(spark.read.parquet(p).filter(col("k") < 100)) ==
          total && scanned(spark.read.parquet(p).filter(col("b") === 3L &&
            col("s") === "s3")) == total, "pruning must stand down")
        val (df, _, files) = Layout.bloomPrunedRead(spark, p, "v",
          Seq(3000L * 3 + 1), bits = 1 << 12)
        assert(files == total &&
          df.filter(col("v") === 3000L * 3 + 1).count() == 2,
          "the bloom probe must stand down to in-query filters")
      } finally StageWriter.deleteRecursively(tmp)
    }
  }

  test("a table written with parquet statistics disabled prunes and " +
    "merges exactly (empty footer statistics are not 'no values')") {
    val tmp = Files.createTempDirectory("sidecars_nostats")
    try {
      val p = tmp.resolve("t").toString
      spark.range(0, 1000).select(col("id").as("k"), lit("old").as("v"))
        .repartitionByRange(4, col("k"))
        .write.option("parquet.column.statistics.enabled", "false")
        .parquet(p)
      // premise: the footers carry no min/max for k
      val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(StageWriter.listDataFiles(
            Paths.get(p)).head.toUri),
          new org.apache.hadoop.conf.Configuration()))
      try assert(footer.getFooter.getBlocks.get(0).getColumns.get(0)
        .getStatistics.isEmpty, "statistics must be disabled")
      finally footer.close()
      Sidecars.declare(spark, p, Seq(Sidecars.Zone(Seq("k"))))
      graft.plans.StatsFilePrune.ensureInstalled(spark)
      graft.plans.ZoneMapPrune.ensureInstalled(spark)
      assert(spark.read.parquet(p).filter(col("k") === 5L).count() == 1,
        "a plain filter must find the row")
      StageWriter.mergeInto(spark, Seq((5L, "new")).toDF("k", "v"), p,
        Seq("k"))
      assert(spark.read.parquet(p).filter(col("k") === 5L)
        .select("v").as[String].collect().toSeq == Seq("new"),
        "the merge must replace key 5, not insert a second row")
      assert(spark.read.parquet(p).count() == 1000)
    } finally StageWriter.deleteRecursively(tmp)
  }
}

package graft.sink

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** D227 — metadata-only aggregate answering: counts/min/max/partition
  * counts from the sidecar planes with zero Spark jobs; ANY inventory
  * mismatch stands the answers down (None), never a wrong number; the
  * counts plane stays fresh through every declared writer path. */
class MetadataAggSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("fresh sidecars answer count/min-max/partition counts; a foreign " +
    "file stands every answer down") {
    val tmp = Files.createTempDirectory("metaagg")
    try {
      val p = tmp.resolve("t").toString
      spark.range(0, 1000).select(col("id").as("k"),
          (col("id") % 4).as("part"))
        .repartition(4).write.parquet(p)
      Sidecars.declare(spark, p,
        Seq(Sidecars.Stats("k"), Sidecars.Counts))
      assert(MetadataAgg.count(p).contains(1000L))
      assert(MetadataAgg.minMax(p, "k").contains((0L, 999L)))
      // a column the stats sidecar does not describe stands down
      assert(MetadataAgg.minMax(p, "part").isEmpty)
      // foreign file: answers stand down rather than double-count
      val f = StageWriter.listDataFiles(tmp.resolve("t")).head
      Files.copy(f, f.getParent.resolve("zz_foreign.parquet"))
      assert(MetadataAgg.count(p).isEmpty &&
        MetadataAgg.minMax(p, "k").isEmpty,
        "a smuggled file must invalidate the whole metadata plane")
    } finally StageWriter.deleteRecursively(tmp)
  }

  test("partition counts group by the first-level col=value directory") {
    val tmp = Files.createTempDirectory("metaagg_part")
    try {
      val p = tmp.resolve("t").toString
      spark.range(0, 90).select(col("id").as("k"),
          when(col("id") < 10, "a small").otherwise("b").as("g"))
        .write.partitionBy("g").parquet(p)
      Sidecars.declare(spark, p, Seq(Sidecars.Counts))
      val parts = MetadataAgg.partitionCounts(p).get
      assert(parts == Map("g=a small" -> 10L, "g=b" -> 80L),
        s"got $parts")
      assert(MetadataAgg.count(p).contains(90L))
    } finally StageWriter.deleteRecursively(tmp)
  }

  test("NDV plane: the merged per-file sketches equal the whole-table " +
    "KMV exactly, stay fresh through the targeted merge, and stand " +
    "down on wrong column or stale inventory") {
    val tmp = Files.createTempDirectory("metaagg_ndv")
    try {
      val p = tmp.resolve("t").toString
      def frame(lo: Long, hi: Long) = spark.range(lo, hi)
        .select(col("id").as("k"), (col("id") % 777).as("u"))
      StageWriter.mergeInto(spark, frame(0, 5000), p, Seq("k"))
      Sidecars.declare(spark, p,
        Seq(Sidecars.Stats("k"), Sidecars.Ndv("u", k = 64)))
      def wholeTableKmv(): Double = spark.read.parquet(p)
        .select(graft.llm.Dedup.portableWordHash(col("u")).as("h"))
        .agg(graft.functions.KmvDistinct.kmv(col("h"), 64,
          graft.llm.Dedup.PortableP.toDouble)).head().getDouble(0)
      assert(MetadataAgg.ndvEstimate(p, "u").contains(wholeTableKmv()),
        "merged sidecar sketches must equal the whole-table KMV")
      assert(MetadataAgg.ndvEstimate(p, "k").isEmpty,
        "an undescribed column stands down")
      // targeted merge introduces new u values; the plane must patch
      StageWriter.mergeInto(spark, spark.range(4990, 5100)
        .select(col("id").as("k"), (col("id") % 991 + 10000).as("u")),
        p, Seq("k"))
      assert(MetadataAgg.ndvEstimate(p, "u").contains(wholeTableKmv()),
        "the NDV plane must stay exact through a targeted merge")
      val f = StageWriter.listDataFiles(tmp.resolve("t")).head
      Files.copy(f, f.getParent.resolve("zz_foreign.parquet"))
      assert(MetadataAgg.ndvEstimate(p, "u").isEmpty,
        "stale inventory stands the plane down")
    } finally StageWriter.deleteRecursively(tmp)
  }

  test("KMH plane: merged per-file samples quantile-match Spark's own " +
    "percentile over the true global bottom-k, stay fresh through the " +
    "targeted merge, and stand down on staleness") {
    val tmp = Files.createTempDirectory("metaagg_kmh")
    try {
      val p = tmp.resolve("t").toString
      def frame(lo: Long, hi: Long) = spark.range(lo, hi)
        .select(col("id").as("k1"), (col("id") % 7).as("k2"),
          (col("id") * 13 % 997).cast("double").as("v"))
      StageWriter.mergeInto(spark, frame(0, 5000), p, Seq("k1"))
      Sidecars.declare(spark, p,
        Seq(Sidecars.Stats("k1"), Sidecars.Kmh("v", "k1", "k2", k = 128)))
      def expected(): Seq[Double] = {
        import org.apache.spark.sql.expressions.Window
        spark.read.parquet(p)
          .withColumn("h",
            graft.queries.Q.portableHash60(col("k1"), col("k2")))
          .withColumn("rn", row_number().over(
            Window.orderBy("h", "k1", "k2")))
          .filter(col("rn") <= 128)
          .agg(percentile(col("v"),
            array(lit(0.25), lit(0.5), lit(0.75))))
          .head().getSeq[Double](0).toSeq
      }
      assert(MetadataAgg.kmhQuantiles(p, "v", Seq(0.25, 0.5, 0.75))
        .contains(expected()),
        "merged sidecar must equal Spark percentile over the true " +
          "global bottom-k")
      StageWriter.mergeInto(spark, frame(4950, 5200), p, Seq("k1"))
      assert(MetadataAgg.kmhQuantiles(p, "v", Seq(0.25, 0.5, 0.75))
        .contains(expected()),
        "the KMH plane must stay exact through a targeted merge")
      assert(MetadataAgg.kmhQuantiles(p, "k2", Seq(0.5)).isEmpty)
      val f = StageWriter.listDataFiles(tmp.resolve("t")).head
      Files.copy(f, f.getParent.resolve("zz_foreign.parquet"))
      assert(MetadataAgg.kmhQuantiles(p, "v", Seq(0.5)).isEmpty)
    } finally StageWriter.deleteRecursively(tmp)
  }

  test("NDV/KMH planes refuse partitioned layouts at declare time and " +
    "stand down when partitions appear after the sidecar was built") {
    val tmp = Files.createTempDirectory("metaagg_flat")
    try {
      // declare-time refusal: a partitioned table's root-level file
      // inventory is EMPTY, so the freshness equality would pass
      // vacuously and an empty sketch merge would read as NDV 0 — the
      // one wrong-answer shape in the metadata family
      val part = tmp.resolve("p").toString
      spark.range(0, 100).select(col("id").as("k"),
          (col("id") % 3).as("g"))
        .write.partitionBy("g").parquet(part)
      intercept[IllegalArgumentException] {
        Sidecars.declare(spark, part, Seq(Sidecars.Ndv("k", k = 64)))
      }
      intercept[IllegalArgumentException] {
        Sidecars.declare(spark, part,
          Seq(Sidecars.Kmh("k", "k", "g", k = 64)))
      }
      // read-time stand-down: a flat table grows a partition directory
      // AFTER the plane was built — root inventory goes empty, but the
      // estimate must return None, never Some(0.0)
      val flat = tmp.resolve("f").toString
      spark.range(0, 200).select(col("id").as("k"))
        .coalesce(2).write.parquet(flat)
      Sidecars.declare(spark, flat, Seq(Sidecars.Ndv("k", k = 64)))
      assert(MetadataAgg.ndvEstimate(flat, "k").nonEmpty)
      val sub = tmp.resolve("f").resolve("g=1")
      Files.createDirectory(sub)
      StageWriter.listDataFiles(tmp.resolve("f")).foreach { f =>
        Files.move(f, sub.resolve(f.getFileName))
      }
      assert(MetadataAgg.ndvEstimate(flat, "k").isEmpty,
        "a layout that grew partitions must stand down, not answer 0")
    } finally StageWriter.deleteRecursively(tmp)
  }

  test("the missing-sidecar rebuild inside targeted-rewrite maintenance " +
    "excludes the not-yet-dropped files (pre-flip inventory)") {
    val tmp = Files.createTempDirectory("metaagg_preflip")
    try {
      val p = tmp.resolve("t").toString
      spark.range(0, 300).select(col("id").as("k"))
        .repartition(3).write.parquet(p)
      val files = StageWriter.listDataFiles(tmp.resolve("t"))
      assert(files.size == 3)
      // a counts plane over files 0 and 1 only (file 2 set aside), made
      // stale by a foreign copy — so the upkeep below must rebuild
      val aside = tmp.resolve("aside.parquet")
      Files.move(files(2), aside)
      Sidecars.declare(spark, p, Seq(Sidecars.Counts))
      val foreign = files(1).getParent.resolve("zz_foreign.parquet")
      Files.copy(files(1), foreign)
      Files.move(aside, files(2))
      // the targeted commit's post-reveal / pre-deletion state: file 0
      // is logically replaced by (newly revealed) file 2, file 0 STILL
      // on disk → the fallback rebuild must not bake file 0 in
      val removedName = files.head.getFileName.toString
      Sidecars.afterTargetedRewrite(spark, p,
        Seq(files(0), files(1), foreign).map(_.getFileName.toString),
        Set(removedName), Seq(files(2)))
      // the commit completes its drop
      Files.delete(files.head)
      val n = spark.read.parquet(p).count()
      assert(MetadataAgg.count(p).contains(n),
        "the rebuilt sidecar must match the post-drop inventory " +
          "(a raw pre-drop snapshot would be permanently stale)")
    } finally StageWriter.deleteRecursively(tmp)
  }

  test("the distributed full rebuild writes a byte-identical sidecar " +
    "and runs as a Spark job, not a driver loop") {
    val tmp = Files.createTempDirectory("metaagg_dist")
    try {
      val p = tmp.resolve("t").toString
      spark.range(0, 4000).select(col("id").as("k"),
          (col("id") % 5).as("part"))
        .repartition(16).write.parquet(p)
      Sidecars.declare(spark, p, Seq(Sidecars.Counts)) // serial reference
      val serial = MetadataAgg.loadCounts(p).get
      val sc = spark.sparkContext
      sc.setJobGroup("dist_rebuild", "footer pass", false)
      val distributed =
        try MetadataAgg.distributedCounts(spark,
          MetadataAgg.listRel(tmp.resolve("t")))
        finally sc.clearJobGroup()
      assert(distributed == serial,
        "distributed and serial footer passes must agree")
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (sc.statusTracker.getJobIdsForGroup("dist_rebuild").isEmpty &&
        System.nanoTime < deadline) Thread.sleep(5)
      assert(sc.statusTracker.getJobIdsForGroup("dist_rebuild").nonEmpty,
        "the distributed rebuild must run as a Spark job")
      assert(MetadataAgg.count(p).contains(4000L))
    } finally StageWriter.deleteRecursively(tmp)
  }

  test("histogram plane: merged per-file value counts equal the scan's " +
    "GROUP BY (null bucket included), survive the targeted merge, " +
    "refuse high cardinality, and stand down on staleness") {
    val tmp = Files.createTempDirectory("metaagg_hist")
    try {
      val p = tmp.resolve("t").toString
      def frame(lo: Long, hi: Long) = spark.range(lo, hi)
        .select(col("id").as("k"),
          when(col("id") % 11 === 0, lit(null))
            .otherwise(concat(lit("s"), col("id") % 5)).as("s"))
      StageWriter.mergeInto(spark, frame(0, 3000), p, Seq("k"))
      Sidecars.declare(spark, p,
        Seq(Sidecars.Stats("k"), Sidecars.Hist("s", maxDistinct = 8)))
      def scanCounts(): Map[Option[String], Long] =
        spark.read.parquet(p).groupBy("s").count().collect()
          .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
      assert(MetadataAgg.histCounts(p, "s").contains(scanCounts()),
        "merged histograms must equal the scan's GROUP BY with nulls")
      assert(MetadataAgg.countWhere(p, "s", "s3")
        .contains(scanCounts()(Some("s3"))))
      assert(MetadataAgg.countWhere(p, "s", "nope").contains(0L))
      assert(MetadataAgg.histCounts(p, "k").isEmpty,
        "an undescribed column stands down")
      // targeted merge changes value frequencies; the plane must patch
      StageWriter.mergeInto(spark, spark.range(2990, 3100)
        .select(col("id").as("k"), lit("s0").as("s")), p, Seq("k"))
      assert(MetadataAgg.histCounts(p, "s").contains(scanCounts()),
        "the histogram plane must stay exact through a targeted merge")
      // a value with a tab/colon round-trips through the encoding
      val weird = tmp.resolve("w").toString
      spark.range(0, 10).select(col("id").as("k"),
          lit("a:b\tc,d e%").as("s"))
        .coalesce(1).write.parquet(weird)
      Sidecars.declare(spark, weird, Seq(Sidecars.Hist("s", 4)))
      assert(MetadataAgg.countWhere(weird, "s", "a:b\tc,d e%")
        .contains(10L))
      // cardinality refusal
      intercept[IllegalArgumentException] {
        Sidecars.declare(spark, p, Seq(Sidecars.Hist("k", 16)))
      }
      // a STALE sidecar rebuilds through the next targeted rewrite
      // instead of leaving the plane dead (the counts-plane fallback
      // discipline, r14 review fix)
      spark.range(99999, 100000).select(col("id").as("k"),
          lit("s0").as("s"))
        .coalesce(1).write.parquet(tmp.resolve("stray").toString)
      Files.move(StageWriter.listDataFiles(tmp.resolve("stray")).head,
        tmp.resolve("t").resolve("zz_stray.parquet"))
      assert(MetadataAgg.histCounts(p, "s").isEmpty)
      StageWriter.mergeInto(spark, spark.range(3100, 3150)
        .select(col("id").as("k"), lit("s1").as("s")), p, Seq("k"))
      assert(MetadataAgg.histCounts(p, "s").contains(scanCounts()),
        "the maintenance hook must rebuild a missing sidecar")
      // staleness
      val f = StageWriter.listDataFiles(tmp.resolve("t")).head
      Files.copy(f, f.getParent.resolve("zz_foreign.parquet"))
      assert(MetadataAgg.histCounts(p, "s").isEmpty)
    } finally StageWriter.deleteRecursively(tmp)
  }

  test("the counts plane stays fresh through overwrite and the " +
    "file-targeted merge (O(changed files) maintenance)") {
    val tmp = Files.createTempDirectory("metaagg_fresh")
    try {
      val p = tmp.resolve("t").toString
      def frame(n: Int) = spark.range(0, n)
        .select(col("id").as("k"), (col("id") * 2).as("v"))
      StageWriter.mergeInto(spark, frame(500), p, Seq("k"))
      Sidecars.declare(spark, p,
        Seq(Sidecars.Stats("k"), Sidecars.Counts))
      assert(MetadataAgg.count(p).contains(500L))
      // targeted merge: upsert 10 existing + 20 new keys
      val delta = spark.range(490, 520)
        .select(col("id").as("k"), lit(-1L).as("v"))
      StageWriter.mergeInto(spark, delta, p, Seq("k"))
      assert(MetadataAgg.count(p).contains(520L),
        "counts must stay fresh after a targeted merge")
      // full rewrite
      StageWriter.overwrite(frame(100), p)
      assert(MetadataAgg.count(p).contains(100L),
        "counts must stay fresh after an overwrite")
    } finally StageWriter.deleteRecursively(tmp)
  }
}

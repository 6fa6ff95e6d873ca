package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sink.{Sidecars, StageWriter}

/** D183 — multi-column zone map: long AND string columns prune, results
  * identical, stale maps and unbounded predicates stand down. */
class ZoneMapPruneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def scanFiles(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.length
    }.head

  private def fixture(): (java.nio.file.Path, String) = {
    val tmp = java.nio.file.Files.createTempDirectory("zm")
    val path = tmp.resolve("t").toString
    spark.range(0, 8000).select(col("id").as("k"),
        concat(lit("s"), lpad(col("id").cast("string"), 6, "0")).as("s"),
        (col("id") % 97).as("v"))
      .repartitionByRange(8, col("k"))
      .write.parquet(path)
    Sidecars.declare(spark, path, Seq(Sidecars.Zone(Seq("k", "s"))))
    ZoneMapPrune.ensureInstalled(spark)
    (tmp, path)
  }

  test("long and string columns both prune with identical results; " +
    "unmapped/no-bound predicates pass through") {
    val (tmp, path) = fixture()
    try {
      val total = StageWriter.listDataFiles(
        java.nio.file.Paths.get(path)).size
      assert(total >= 4)
      val kq = spark.read.parquet(path).filter(col("k") < 1000)
      assert(scanFiles(kq) < total, "long column must prune")
      val sq = spark.read.parquet(path)
        .filter(col("s") >= "s002000" && col("s") < "s003000")
      assert(scanFiles(sq) < total, "string column must prune")
      assert(sq.count() == 1000)
      // both columns constrained: adding a conjunct can only prune
      // FURTHER than the same k bound alone. (Comparing against sq is
      // unsound — its s-range is a DIFFERENT predicate than both's
      // s >= bound, and repartitionByRange's sampled boundaries
      // legitimately let k<1000 straddle 2 files some runs.)
      val both = spark.read.parquet(path)
        .filter(col("k") < 1000 && col("s") >= "s000500")
      assert(scanFiles(both) <= scanFiles(kq))
      assert(both.count() == 500)
      // a predicate on an unmapped column must not prune
      assert(scanFiles(spark.read.parquet(path)
        .filter(col("v") === 1L)) == total)
    } finally StageWriter.deleteRecursively(tmp)
  }

  test("a stale map (file appended after write) stands down; rewriting " +
    "the map restores pruning") {
    val (tmp, path) = fixture()
    try {
      val kq = () => spark.read.parquet(path).filter(col("k") < 1000)
      val before = scanFiles(kq())
      Seq((99999L, "zz", 0L)).toDF("k", "s", "v")
        .write.mode("append").parquet(path)
      val total = StageWriter.listDataFiles(
        java.nio.file.Paths.get(path)).size
      assert(scanFiles(kq()) == total, "stale zone map must stand down")
      Sidecars.declare(spark, path, Seq(Sidecars.Zone(Seq("k", "s"))))
      assert(scanFiles(kq()) <= before + 1, "rewritten map prunes again")
      assert(kq().count() == 1000)
    } finally StageWriter.deleteRecursively(tmp)
  }

  test("the zone map SURVIVES a file-targeted merge (O(new files) " +
    "maintenance) and still prunes correctly afterwards") {
    val tmp = java.nio.file.Files.createTempDirectory("zmm")
    val path = tmp.resolve("t").toString
    try {
      spark.range(0, 8000).select(col("id").as("k"),
          (col("id") % 500).as("y"))
        .repartitionByRange(8, col("k"))
        .write.parquet(path)
      Sidecars.declare(spark, path, Seq(Sidecars.Zone(Seq("k", "y"))))
      ZoneMapPrune.ensureInstalled(spark)
      val total0 = StageWriter.listDataFiles(
        java.nio.file.Paths.get(path)).size
      def kq() = spark.read.parquet(path).filter(col("k") < 1000)
      assert(scanFiles(kq()) < total0)
      // targeted merge: updates inside one file's range + one insert
      StageWriter.mergeInto(spark,
        Seq((1L, 999L), (99999L, 7L)).toDF("k", "y"), path, Seq("k"))
      val total1 = StageWriter.listDataFiles(
        java.nio.file.Paths.get(path)).size
      // the maintained map still prunes — no stand-down, no rewrite
      assert(scanFiles(kq()) < total1,
        "zone map must survive the merge and keep pruning")
      assert(kq().count() == 1000)
      assert(kq().filter(col("k") === 1L).select("y")
        .as[Long].head() == 999L, "merged row visible through the prune")
      // the new out-of-range key's file is found via the map too
      val ins = spark.read.parquet(path).filter(col("k") === 99999L)
      assert(scanFiles(ins) < total1 && ins.count() == 1)
    } finally StageWriter.deleteRecursively(tmp)
  }
}

package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sink.StageWriter

/** StatsFilePrune — the optimizer rule prunes sidecar-backed scans,
  * keeps results identical, and stands down on stale sidecars,
  * no-bound predicates, and foreign tables. */
class StatsFilePruneSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def scanFiles(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.length
    }

  // idempotent permanent install: a scoped save/restore here raced with
  // q_auto_prune (CurationPlanSpec drives gates on the same shared
  // session), intermittently clobbering the rule mid-test
  private def withRule[T](body: => T): T = {
    StatsFilePrune.ensureInstalled(spark)
    body
  }

  private def writeTable(): (java.nio.file.Path, String) = {
    val tmp = java.nio.file.Files.createTempDirectory("sfp")
    val path = tmp.resolve("t").toString
    spark.range(0, 8000).select(col("id").as("k"),
        (col("id") % 97).as("v"))
      .repartitionByRange(8, col("k"))
      .write.parquet(path)
    // optimize keeps the 8 range-disjoint files and writes the sidecar
    StageWriter.optimize(spark, path, targetFileBytes = 6 * 1024,
      statsColumn = Some("k"))
    (tmp, path)
  }

  test("range filter scans fewer files with identical results; " +
    "no-bound predicates and foreign tables pass through") {
    val (tmp, path) = writeTable()
    try {
      def q() = spark.read.parquet(path)
        .filter(col("k") >= 1000 && col("k") < 2000)
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      val base = q().collect().toSeq
      withRule {
        val df = q()
        val Seq(files) = scanFiles(df)
        val total = StageWriter.listDataFiles(
          java.nio.file.Paths.get(path)).size
        assert(total >= 4, s"want multiple files, got $total")
        assert(files < total, s"rule did not prune: $files of $total")
        assert(df.collect().toSeq == base, "pruned result diverged")
        // equality predicate prunes too (how far depends on compaction
        // boundaries — pin strictly-fewer, not a absolute count)
        // point probes are the canary for clustering loss: a coalesce()
        // compaction once merged non-adjacent ranges under parallel load
        // and every file straddled the probe (fixed: compact clusters by
        // the stats column)
        val eq = spark.read.parquet(path).filter(col("k") === 4242L)
        val eqFiles = scanFiles(eq).head
        assert(eqFiles < total, s"eq did not prune: $eqFiles of $total")
        assert(eq.count() == 1)
        // a predicate on a NON-stats column must not prune
        val other = spark.read.parquet(path).filter(col("v") === 1L)
        assert(scanFiles(other).head == total)
      }
    } finally StageWriter.deleteRecursively(tmp)
  }

  test("a stale sidecar (directory rewritten underneath) disables " +
    "pruning instead of mis-pruning") {
    val (tmp, path) = writeTable()
    try {
      // rewrite the data files without refreshing the sidecar: the file
      // inventory no longer matches, Sidecars.load must reject it
      spark.range(0, 8000).select(col("id").as("k"),
          (col("id") % 97).as("v"))
        .repartition(3)
        .write.mode("overwrite").parquet(path)
      withRule {
        val df = spark.read.parquet(path).filter(col("k") < 100)
        val total = StageWriter.listDataFiles(
          java.nio.file.Paths.get(path)).size
        assert(scanFiles(df).head == total, "stale sidecar pruned")
        assert(df.count() == 100)
      }
    } finally StageWriter.deleteRecursively(tmp)
  }

  test("STRING sidecar: range and point probes prune with identical " +
    "results; non-ASCII literals stand down; the long loader rejects it") {
    val tmp = java.nio.file.Files.createTempDirectory("sfps")
    val path = tmp.resolve("t").toString
    try {
      spark.range(0, 8000).select(
          concat(lit("k"), lpad(col("id").cast("string"), 6, "0")).as("k"),
          (col("id") % 97).as("v"))
        .repartitionByRange(8, col("k"))
        .write.parquet(path)
      StageWriter.optimize(spark, path, targetFileBytes = 6 * 1024,
        statsColumn = Some("k"))
      def q() = spark.read.parquet(path)
        .filter(col("k") >= "k001000" && col("k") < "k002000")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      val base = q().collect().toSeq
      withRule {
        val total = StageWriter.listDataFiles(
          java.nio.file.Paths.get(path)).size
        assert(total >= 4, s"want multiple files, got $total")
        val files = scanFiles(q()).head
        assert(files < total, s"string range did not prune: $files/$total")
        assert(q().collect().toSeq == base, "pruned result diverged")
        val eq = spark.read.parquet(path).filter(col("k") === "k004242")
        assert(scanFiles(eq).head < total)
        assert(eq.count() == 1)
        // a non-ASCII literal must stand down (driver String order is
        // not UTF8 byte order beyond ASCII)
        val exotic = spark.read.parquet(path)
          .filter(col("k") >= "k\u00e4")
        assert(scanFiles(exotic).head == total)
        // the bounds plane records k in its STRING kind, so no reader
        // compares these bounds as longs
        assert(graft.sink.Sidecars.load(path).flatMap(_.bounds("k"))
          .map(_._1).contains("string"))
      }
    } finally StageWriter.deleteRecursively(tmp)
  }

  test("one rule prunes on every bounds column: a filter on a Stats " +
    "AND a Zone column reads only the files both admit") {
    val tmp = java.nio.file.Files.createTempDirectory("sfp_merged")
    try {
      val path = tmp.resolve("t").toString
      // 8 files of 1000 consecutive k each; c = (k / 500) % 4, so the
      // even files hold c in {0, 1} and the odd files c in {2, 3}
      (0 until 8).foreach { i =>
        spark.range(i * 1000L, (i + 1) * 1000L)
          .select(col("id").as("k"),
            (col("id").divide(500).cast("long") % 4).as("c"))
          .coalesce(1).write.mode("append").parquet(path)
      }
      graft.sink.Sidecars.declare(spark, path, Seq(
        graft.sink.Sidecars.Stats("k"), graft.sink.Sidecars.Zone(Seq("c"))))
      StatsFilePrune.ensureInstalled(spark)
      ZoneMapPrune.ensureInstalled(spark)
      def q(p: org.apache.spark.sql.Column) = spark.read.parquet(path).filter(p)
      assert(scanFiles(q(col("k") < 4000)) == Seq(4))
      assert(scanFiles(q(col("c") >= 2)) == Seq(4))
      val both = q(col("k") < 4000 && col("c") >= 2)
      assert(scanFiles(both) == Seq(2),
        "both bounds must narrow the scan together")
      assert(both.count() == 2000)
    } finally StageWriter.deleteRecursively(
      java.nio.file.Paths.get(tmp.toString))
  }
}

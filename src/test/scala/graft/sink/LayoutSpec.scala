package graft.sink

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Z-order layout clustering: Morton-value arithmetic plus the property
  * that actually matters at scale — per-file min/max stats localize BOTH
  * clustering dimensions, so a filter on either key prunes most files
  * (single-key sorting only localizes its own key). */
class LayoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("zValue2 interleaves bits (known Morton values)") {
    val got = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (3L, 5L), (7L, 7L))
      .toDF("x", "y")
      .select(Layout.zValue2(col("x"), col("y"), bits = 8).as("z"))
      .as[Long].collect().toSeq
    // z(3,5): x bits 0,1 -> pos 0,2 = 1+4; y bits 0,2 -> pos 1,5 = 2+32 = 39
    assert(got == Seq(0L, 1L, 2L, 3L, 39L, 63L))
  }

  test("zValueN: 3-way interleave known values; n=2 case equals zValue2") {
    // z3(1,1,1) = bits at positions 0,1,2 = 7; z3(2,0,0) = x bit1 -> pos 3
    val got = Seq((1L, 1L, 1L), (2L, 0L, 0L), (0L, 2L, 0L), (0L, 0L, 2L))
      .toDF("x", "y", "w")
      .select(Layout.zValueN(Seq(col("x"), col("y"), col("w")), bits = 4)
        .as("z")).as[Long].collect().toSeq
    assert(got == Seq(7L, 8L, 16L, 32L))
    val pairs = Seq((3L, 5L), (7L, 7L), (123L, 456L)).toDF("x", "y")
    val both = pairs.select(Layout.zValue2(col("x"), col("y"), 12).as("a"),
      Layout.zValueN(Seq(col("x"), col("y")), 12).as("b"))
      .as[(Long, Long)].collect()
    assert(both.forall(p => p._1 == p._2))
  }

  /** Per-file [min,max] of a column across the files of a parquet dir. */
  private def fileBounds(path: String, c: String): Seq[(Long, Long)] = {
    val files = Files.list(java.nio.file.Paths.get(path)).toArray
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq
    files.map { f =>
      val r = spark.read.parquet(f).agg(min(col(c)), max(col(c))).head()
      (r.getLong(0), r.getLong(1))
    }
  }

  test("prunedRead skips files outside the range and loses no rows") {
    val dir = java.nio.file.Files.createTempDirectory("prune").toString
    import spark.implicits._
    val df = (0L until 4096L).map(i => (i, (i * 37) % 4096, i * 1.0))
      .toDF("x", "y", "v")
    Layout.zorderWrite(df, s"$dir/t", "x", "y", bits = 12, numFiles = 16)
    val (pruned, read, total) = Layout.prunedRead(spark, s"$dir/t", "x",
      100L, 300L)
    assert(total == 16)
    assert(read < total, s"no files skipped: $read/$total")
    val got = pruned.filter($"x".between(100L, 300L))
      .select("x").as[Long].collect().toSet
    assert(got == (100L to 300L).toSet)
    // empty intersection: zero files, typed empty result
    val (none, r0, _) = Layout.prunedRead(spark, s"$dir/t", "x",
      100000L, 200000L)
    assert(r0 == 0 && none.count() == 0)
    graft.sink.StageWriter.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("zorderWrite localizes BOTH dimensions; a single-key sort does not") {
    // the full 256×256 grid: x and y perfectly independent
    val n = 1 << 16
    val df = spark.range(n).select(
      (col("id") % 256).as("x"),
      (col("id") / 256).cast("long").as("y"))
    val dir = Files.createTempDirectory("zo")
    val zPath = dir.resolve("z").toString
    // the interleave is a bijection on the 256×256 grid
    assert(df.select(Layout.zValue2(col("x"), col("y"), bits = 8))
      .distinct().count() == n)
    Layout.zorderWrite(df, zPath, "x", "y", bits = 8, numFiles = 16)
    assert(spark.read.parquet(zPath).count() == n)
    // x-sorted baseline: localizes x, leaves y unconstrained per file
    val xPath = dir.resolve("xsort").toString
    df.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.parquet(xPath)
    // a y-only range filter: count files whose [min,max] y-bounds overlap
    def overlapping(path: String): Int =
      fileBounds(path, "y").count { case (lo, hi) => lo <= 31L && hi >= 0L }
    val zHit = overlapping(zPath)
    val xHit = overlapping(xPath)
    // single-key layout: every file spans the full y range -> no pruning
    assert(xHit == 16, s"x-sorted baseline should never prune y, got $xHit")
    // z-order: y in [0,32) touches ~1/4 of the curve -> most files prunable
    assert(zHit <= 8, s"z-order should localize y, got $zHit/16 files")
    // and x stays localized too (z-order trades a little x-locality)
    val zxHit = fileBounds(zPath, "x").count { case (lo, hi) =>
      lo <= 31L && hi >= 0L }
    assert(zxHit <= 8, s"z-order should still localize x, got $zxHit/16")
  }

  test("bloomPrunedRead skips files a point lookup can't hit; " +
      "range stats can't prune this layout at all") {
    val dir = java.nio.file.Files.createTempDirectory("bloom").toString
    // cluster by y; probe by x — x is uniformly spread over every file,
    // so every file's x-[min,max] straddles any probe key
    val df = (0L until 8192L).map(i => (i, (i * 37) % 64, i * 1.0))
      .toDF("x", "y", "v")
    df.repartitionByRange(16, $"y").sortWithinPartitions("y")
      .write.parquet(s"$dir/t")
    val rangeHit = fileBounds(s"$dir/t", "x").count { case (lo, hi) =>
      lo <= 4100L && hi >= 4100L }
    assert(rangeHit == 16, "layout premise broken: min/max should NOT prune")
    val keys = Seq(4100L, 17L, 8000L)
    val (pruned, read, total) =
      Layout.bloomPrunedRead(spark, s"$dir/t", "x", keys)
    assert(total == 16)
    assert(read <= 8, s"bloom should skip most files, read $read/$total")
    val got = pruned.filter($"x".isin(keys: _*)).select("x")
      .as[Long].collect().toSet
    assert(got == keys.toSet, "pruning must lose no probed rows")
    // absent key: every file's bloom rejects (w.h.p.); rows stay exact
    val (_, readAbsent, _) =
      Layout.bloomPrunedRead(spark, s"$dir/t", "x", Seq(999999L))
    assert(readAbsent <= 2, s"absent key should prune ~all files: $readAbsent")
    graft.sink.StageWriter.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("bloom pruning works on STRING keys (canonical-form hashing)") {
    val dir = java.nio.file.Files.createTempDirectory("bloomstr").toString
    val df = (0L until 2048L).map(i => (s"doc-${i}", i % 16))
      .toDF("doc_id", "shard")
    df.repartitionByRange(8, $"shard").write.parquet(s"$dir/t")
    val (pruned, read, total) = Layout.bloomPrunedRead(spark, s"$dir/t",
      "doc_id", Seq("doc-777", "doc-1500"))
    assert(total == 8 && read <= 4,
      s"string-key bloom should skip files: $read/$total")
    val got = pruned.filter($"doc_id".isin("doc-777", "doc-1500"))
      .select("doc_id").as[String].collect().toSet
    assert(got == Set("doc-777", "doc-1500"))
    graft.sink.StageWriter.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("a stale bloom sidecar (table rewritten) is detected and rebuilt") {
    val dir = java.nio.file.Files.createTempDirectory("bloomstale").toString
    val mk = (n: Long) => (0L until n).map(i => (i, i % 8)).toDF("x", "y")
    mk(1024L).repartition(4).write.parquet(s"$dir/t")
    Sidecars.declare(spark, s"$dir/t", Seq(Sidecars.Bloom("x")))
    // rewrite the table behind the sidecar's back: new part files, MORE
    // keys — the sidecar's file inventory no longer matches, so it must
    // be ignored (else key 2000 would be wrongly pruned away)
    mk(4096L).repartition(4).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$dir/t")
    val (pruned, _, _) = Layout.bloomPrunedRead(spark, s"$dir/t", "x",
      Seq(2000L))
    assert(pruned.filter($"x" === 2000L).count() == 1L,
      "stale sidecar must not prune rows the rewritten table contains")
    graft.sink.StageWriter.deleteRecursively(java.nio.file.Paths.get(dir))
  }
}

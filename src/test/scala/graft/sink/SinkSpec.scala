package graft.sink

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.state.FileWatermarkStore

/** Stage-writer + watermark-store behavior (SURVEY §5.5 pipeline policies). */
class SinkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft").resolve("t").toString

  test("overwrite + re-read roundtrip, swap is idempotent") {
    val path = tmp()
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.mode("overwrite").parquet(path)
    StageWriter.overwrite(Seq((3, "c")).toDF("k", "v"), path)
    val got = spark.read.parquet(path).as[(Int, String)].collect().toSet
    assert(got == Set((3, "c")))
    assert(!Files.exists(java.nio.file.Paths.get(path + ".__tmp__")))
    assert(!Files.exists(java.nio.file.Paths.get(path + ".__old__")))
  }

  test("merge: new rows win on key match, unmatched old rows survive") {
    val old = Seq((1, "old1"), (2, "old2"), (3, "old3")).toDF("k", "v")
    val delta = Seq((2, "NEW2"), (4, "NEW4"), (2, "NEW2")).toDF("k", "v")
    val got = StageWriter.merge(old, delta, Seq("k"))
      .as[(Int, String)].collect().toSet
    assert(got == Set((1, "old1"), (2, "NEW2"), (3, "old3"), (4, "NEW4")))
  }

  test("mergeCdc: deletes tombstone, upserts replace/insert, same-batch " +
    "delete+upsert resolves to the upsert") {
    val old = Seq((1, "old1"), (2, "old2"), (3, "old3"), (4, "old4"))
      .toDF("k", "v")
    val delta = Seq((2, "NEW2", "U"), (3, "x", "D"), (5, "NEW5", "U"),
      (4, "x", "D"), (4, "NEW4", "U")).toDF("k", "v", "op")
    val got = StageWriter.mergeCdc(old, delta, Seq("k"))
      .as[(Int, String)].collect().toSet
    assert(got == Set((1, "old1"), (2, "NEW2"), (4, "NEW4"), (5, "NEW5")))
  }

  test("mergeCdc refuses a delta without the op column") {
    val old = Seq((1, "a")).toDF("k", "v")
    intercept[IllegalArgumentException] {
      StageWriter.mergeCdc(old, Seq((1, "b")).toDF("k", "v"), Seq("k"))
    }
  }

  test("merge schema evolution: delta-added column appends with old rows " +
    "null-filled; delta-dropped column kept with new rows null-filled " +
    "(Delta autoMerge contract, light_transform.py:2013)") {
    val old = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val delta = Seq((2, "B", "x2"), (3, "c", "x3")).toDF("k", "v", "extra")
    val evolved = StageWriter.merge(old, delta, Seq("k"))
    assert(evolved.columns.toSeq == Seq("k", "v", "extra"))
    val byK = evolved.collect()
      .map(r => r.getInt(0) -> Option(r.getString(2))).toMap
    assert(byK == Map(1 -> None, 2 -> Some("x2"), 3 -> Some("x3")))
    // the other direction: delta missing an old column
    val narrow = Seq((4, "zz")).toDF("k", "extra")
    val kept = StageWriter.merge(evolved, narrow, Seq("k"))
    assert(kept.columns.toSeq == Seq("k", "v", "extra"))
    assert(kept.filter($"k" === 4).collect().head.getString(1) == null)
  }

  test("mergeInto evolves the on-disk schema across incremental batches") {
    val path = tmp()
    StageWriter.mergeInto(spark, Seq((1, "a")).toDF("k", "v"), path, Seq("k"))
    StageWriter.mergeInto(spark,
      Seq((1, "A", 7L), (2, "b", 9L)).toDF("k", "v", "n"), path, Seq("k"))
    val out = spark.read.parquet(path)
    assert(out.columns.toSeq == Seq("k", "v", "n"))
    assert(out.orderBy("k").collect().map(r =>
      (r.getInt(0), r.getString(1), r.get(2))).toSeq ==
      Seq((1, "A", 7L), (2, "b", 9L)))
  }

  test("merge refuses keys missing from either side") {
    intercept[IllegalArgumentException] {
      StageWriter.merge(Seq((1, "a")).toDF("k", "v"),
        Seq((1, "a")).toDF("other", "v"), Seq("k"))
    }
  }

  test("overwriteWithRetry refuses retries < 1 (no null rethrow)") {
    intercept[IllegalArgumentException] {
      StageWriter.overwriteWithRetry(Seq((1, "a")).toDF("k", "v"), tmp(),
        retries = 0)
    }
  }

  test("mergeInto bootstraps on first write then upserts") {
    val path = tmp()
    StageWriter.mergeInto(spark, Seq((1, "a"), (2, "b")).toDF("k", "v"),
      path, Seq("k"))
    StageWriter.mergeInto(spark, Seq((2, "B"), (3, "c")).toDF("k", "v"),
      path, Seq("k"))
    val got = spark.read.parquet(path).as[(Int, String)].collect().toSet
    assert(got == Set((1, "a"), (2, "B"), (3, "c")))
  }

  test("partition cardinality guard refuses high-cardinality partitioning") {
    val df = (1 to 100).map(i => (i, s"v$i")).toDF("k", "v")
    intercept[IllegalArgumentException] {
      StageWriter.overwrite(df, tmp(), partitionBy = Seq("k"),
        maxPartitionValues = 10)
    }
  }

  test("manifest lists every data file; vacuum clears stranded swap dirs " +
    "only past retention") {
    val path = tmp()
    Seq((1, "a"), (2, "b")).toDF("k", "v").repartition(3)
      .write.parquet(path)
    StageWriter.writeManifest(path)
    val manifest = Files.readString(java.nio.file.Paths.get(
      path, "_symlink_format_manifest", "manifest")).trim.split("\n")
    val dataFiles = Files.list(java.nio.file.Paths.get(path)).toArray
      .map(_.toString).filter(_.endsWith(".parquet"))
    assert(manifest.length == dataFiles.length && manifest.nonEmpty)
    assert(manifest.forall(_.startsWith("file://")))
    // stranded swap dir from a crashed overwrite
    val stranded = java.nio.file.Paths.get(path + ".__old__")
    Files.createDirectories(stranded)
    Files.writeString(stranded.resolve("junk"), "x")
    StageWriter.vacuum(path) // inside retention -> kept
    assert(Files.exists(stranded))
    StageWriter.vacuum(path, retentionMs = -1) // past retention -> removed
    assert(!Files.exists(stranded))
  }

  test("empty bootstrap writes a typed empty table") {
    val path = tmp()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a",
        org.apache.spark.sql.types.StringType)))
    StageWriter.writeEmpty(spark, schema, path)
    val got = spark.read.parquet(path)
    assert(got.count() == 0 && got.schema.fieldNames.toSeq == Seq("a"))
  }

  test("compact coalesces many small files") {
    val path = tmp()
    spark.range(1000).repartition(16).write.parquet(path)
    val before = Files.list(java.nio.file.Paths.get(path))
      .filter(p => p.toString.endsWith(".parquet")).count()
    StageWriter.compact(spark, path)
    val after = Files.list(java.nio.file.Paths.get(path))
      .filter(p => p.toString.endsWith(".parquet")).count()
    assert(before == 16 && after == 1)
    assert(spark.read.parquet(path).count() == 1000)
  }

  test("file watermark store: pending is invisible until confirmed; " +
    "rollback discards; delete clears") {
    val dir = Files.createTempDirectory("wm").toString
    val s = new FileWatermarkStore(dir)
    val t1 = s.savePending("p", "t", "c", "10")
    assert(s.lastConfirmed("p", "t", "c").isEmpty)
    s.confirm(t1)
    assert(s.lastConfirmed("p", "t", "c") == Some("10"))
    val t2 = s.savePending("p", "t", "c", "20")
    s.rollback(t2)
    assert(s.lastConfirmed("p", "t", "c") == Some("10"))
    val t3 = s.savePending("p", "t", "c", "30")
    s.confirm(t3)
    assert(s.lastConfirmed("p", "t", "c") == Some("30"))
    s.delete("p", "t", "c")
    assert(s.lastConfirmed("p", "t", "c").isEmpty)
  }

  test("CSV raw fallback is pipe-delimited QUOTE_ALL and round-trips") {
    import spark.implicits._
    val path = tmp()
    val df = Seq((1L, "a|b", "x\"y"), (2L, "", "z")).toDF("id", "v1", "v2")
    StageWriter.writeCsvRaw(df, path)
    // every field quoted, pipe-delimited (reference extract_data.py:739-741)
    val lines = Files.list(java.nio.file.Paths.get(path)).toArray
      .map(_.toString).filter(_.endsWith(".csv"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines().toSeq)
    assert(lines.exists(_.startsWith("\"id\"|\"v1\"|\"v2\"")))
    val back = spark.read.option("delimiter", "|").option("header", "true")
      .csv(path)
    assert(back.count() == 2)
    assert(back.filter($"v1" === "a|b").count() == 1) // quoting preserved |
  }

  test("retry write falls back to CSV after exhausting attempts") {
    import spark.implicits._
    val df = Seq((1, "x")).toDF("a", "b")
    val bad = "/proc/definitely/not/writable/p"
    val csv = tmp()
    val e = intercept[RuntimeException] {
      StageWriter.overwriteWithRetry(df, bad, retries = 2, delayMs = 1,
        csvFallbackPath = Some(csv))
    }
    assert(e.getMessage.contains("CSV fallback"))
    assert(spark.read.option("delimiter", "|").option("header", "true")
      .csv(csv).count() == 1)
  }

  test("failed CSV fallback surfaces BOTH errors (parquet cause suppressed)") {
    import spark.implicits._
    val df = Seq((1, "x")).toDF("a", "b")
    val bad = "/proc/definitely/not/writable/p"
    val badCsv = "/proc/also/not/writable/c"
    val e = intercept[Throwable] {
      StageWriter.overwriteWithRetry(df, bad, retries = 1, delayMs = 1,
        csvFallbackPath = Some(badCsv))
    }
    assert(e.getSuppressed.nonEmpty,
      "fallback failure must carry the original parquet error as suppressed")
  }

  test("watermark tokens with colliding timestamps resolve independently") {
    val dir = Files.createTempDirectory("wmcol").toString
    val s = new FileWatermarkStore(dir)
    val t1 = s.savePending("p", "t", "c", "10")
    val t2 = s.savePending("p", "t", "c", "20")
    // force a timestamp collision: identity must come from the token id
    val t2collided = t2.copy(ts = t1.ts)
    s.rollback(t1)
    s.confirm(t2collided)
    // t1 rolled back, t2 confirmed — a ts-keyed store would have matched
    // t2's confirm against t1's ROLLED_BACK line and dropped the update
    assert(s.lastConfirmed("p", "t", "c") == Some("20"))
  }

  test("file watermark store: confirm after rollback is a no-op " +
    "(protocol matches the in-memory store)") {
    val dir = Files.createTempDirectory("wm2").toString
    val s = new FileWatermarkStore(dir)
    val t1 = s.savePending("p", "t", "c", "10")
    s.confirm(t1)
    val t2 = s.savePending("p", "t", "c", "20")
    s.rollback(t2)
    s.confirm(t2) // stale token: must NOT advance the watermark
    assert(s.lastConfirmed("p", "t", "c") == Some("10"))
    s.rollback(t1) // rollback after confirm: must NOT un-confirm
    assert(s.lastConfirmed("p", "t", "c") == Some("10"))
  }

  test("footer-derived file stats equal the scan-derived ones, including " +
    "all-null and empty behaviors") {
    val tmp = java.nio.file.Files.createTempDirectory("fstats")
    try {
      val path = tmp.resolve("t").toString
      spark.range(0, 1000).select(col("id").as("k"), (col("id") % 9).as("v"))
        .repartitionByRange(4, col("k")).write.parquet(path)
      val files = MetadataAgg.listRel(java.nio.file.Paths.get(path))
      val plane = Sidecars.Bounds(Seq("k" -> "long"))
      val foot = plane.footer(files)
      assert(foot.isDefined, "footer stats unavailable for a fresh write")
      assert(foot.get == plane.scanBounds(spark, files,
        Sidecars.schemaOf(spark, files.head._2)),
        "footer and scan bounds must agree")
      // ranges partition 0..999 disjointly and cover every file
      val got = foot.get.values.flatMap(_.head)
        .map { case (a, b) => (a.toLong, b.toLong) }.toSeq.sortBy(_._1)
      assert(got.head._1 == 0 && got.last._2 == 999)
      got.sliding(2).foreach { case Seq((_, aHi), (bLo, _)) =>
        assert(aHi < bLo, "footer ranges overlap")
      }
      // a column absent from the files has no values in any of them
      assert(Sidecars.Bounds(Seq("missing" -> "long")).footer(files).get
        .values.forall(_ == Seq(None)))
    } finally StageWriter.deleteRecursively(tmp)
  }
}

package graft.sink

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** File-targeted MERGE (Delta's matched-file rewrite on the Parquet
  * fallback): a merge batch rewrites ONLY the base files whose key range
  * intersects the delta — untouched files stay byte-identical on disk and
  * merge cost is O(delta + touched), never O(table). */
class MergeTargetedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("tmerge").resolve("t").toString

  private def md5(p: Path): String =
    MessageDigest.getInstance("MD5").digest(Files.readAllBytes(p))
      .map("%02x".format(_)).mkString

  /** name → (size, md5) of every visible data file. */
  private def inventory(path: String): Map[String, (Long, String)] =
    StageWriter.listDataFiles(Paths.get(path))
      .map(p => p.getFileName.toString -> ((Files.size(p), md5(p)))).toMap

  /** 4000 keys in 4 range-disjoint files (repartitionByRange on k). */
  private def writeBase(path: String): Unit =
    spark.range(4000).select(col("id").as("k"),
        concat(lit("v"), col("id")).as("v"))
      .repartitionByRange(4, col("k"))
      .write.parquet(path)

  test("upsert merge rewrites only the key-intersecting file; the other " +
    "files stay byte-identical") {
    val path = tmp()
    writeBase(path)
    val before = inventory(path)
    assert(before.size == 4, "fixture must span 4 files")
    // updates inside one file's range + an insert beyond every range
    val delta = (Seq.tabulate(10)(i => (i.toLong, s"u$i")) :+
      (99999L, "ins")).toDF("k", "v")
    StageWriter.mergeInto(spark, delta, path, Seq("k"))
    assert(StageWriter.committedSeq(path) == 1L)
    val after = inventory(path)
    val untouched = before.keySet.intersect(after.keySet)
    assert(untouched.size == 3, s"expected 3 untouched files, " +
      s"got ${untouched.size} (before=${before.keySet} after=${after.keySet})")
    untouched.foreach { f =>
      assert(before(f) == after(f), s"untouched file $f changed on disk") }
    val newFiles = after.keySet -- before.keySet
    assert(newFiles.nonEmpty && newFiles.forall(_.startsWith("m1-")),
      s"merge output must land as m1-* files, got $newFiles")
    val got = spark.read.parquet(path).as[(Long, String)].collect().toMap
    assert(got.size == 4001)
    (0 until 10).foreach(i => assert(got(i.toLong) == s"u$i"))
    assert(got(99999L) == "ins")
    assert(got(500L) == "v500" && got(3999L) == "v3999")
  }

  test("stats sidecar is written, reused, and tracks the file inventory " +
    "across successive merges") {
    val path = tmp()
    writeBase(path)
    StageWriter.mergeInto(spark, Seq((1L, "a")).toDF("k", "v"), path,
      Seq("k"))
    val planes = Sidecars.load(path)
    assert(planes.isDefined, "targeted merge must persist file stats")
    assert(planes.get.declared == Seq(Sidecars.Stats("k")),
      "sidecar must record which column its stats describe")
    assert(planes.get.files == inventory(path).keySet,
      "sidecar inventory must match the directory")
    // second merge touches only the m1 file (key 1 now lives there)
    val snap = inventory(path)
    StageWriter.mergeInto(spark, Seq((1L, "b")).toDF("k", "v"), path,
      Seq("k"))
    val after = inventory(path)
    // the three original untouched files survive BOTH merges unchanged
    val survivors = snap.keySet.filterNot(_.startsWith("m1-"))
      .intersect(after.keySet)
    assert(survivors.size >= 3)
    survivors.foreach(f => assert(snap(f) == after(f)))
    assert(spark.read.parquet(path).filter(col("k") === 1)
      .select("v").as[String].head() == "b")
    assert(StageWriter.committedSeq(path) == 2L)
  }

  test("insert-only delta beyond every file range touches ZERO base files") {
    val path = tmp()
    writeBase(path)
    val before = inventory(path)
    StageWriter.mergeInto(spark,
      Seq((50000L, "i1"), (50001L, "i2")).toDF("k", "v"), path, Seq("k"))
    val after = inventory(path)
    assert(before.keySet.subsetOf(after.keySet),
      "an out-of-range insert must leave every base file in place")
    before.keySet.foreach(f => assert(before(f) == after(f)))
    assert(spark.read.parquet(path).count() == 4002)
  }

  test("CDC merge with tombstones stays file-targeted") {
    val path = tmp()
    writeBase(path)
    val before = inventory(path)
    val delta = Seq((0L, "z", "U"), (1L, "", "D"), (2L, "", "D"))
      .toDF("k", "v", "op")
    StageWriter.mergeCdcInto(spark, delta, path, Seq("k"))
    val after = inventory(path)
    assert(before.keySet.intersect(after.keySet).size == 3,
      "only the file holding keys 0..2 may be rewritten")
    val got = spark.read.parquet(path).as[(Long, String)].collect().toMap
    assert(got.size == 3998, "two deletes must land")
    assert(got(0L) == "z" && !got.contains(1L) && !got.contains(2L))
  }

  test("schema-evolving delta falls back to the full rewrite and " +
    "null-fills old rows (Delta autoMerge contract)") {
    val path = tmp()
    writeBase(path)
    val delta = Seq((0L, "u0", "extra")).toDF("k", "v", "w")
    StageWriter.mergeInto(spark, delta, path, Seq("k"))
    val got = spark.read.parquet(path)
    assert(got.columns.toSet == Set("k", "v", "w"))
    assert(got.filter(col("k") === 0).select("w").as[String].head() == "extra")
    assert(got.filter(col("w").isNull).count() == 3999)
  }

  test("non-integral merge key falls back to the full rewrite — result " +
    "still exact") {
    val path = tmp()
    Seq(("a", 1), ("b", 2), ("c", 3)).toDF("k", "n").write.parquet(path)
    StageWriter.mergeInto(spark, Seq(("b", 20), ("d", 4)).toDF("k", "n"),
      path, Seq("k"))
    assert(spark.read.parquet(path).as[(String, Int)].collect().toSet ==
      Set(("a", 1), ("b", 20), ("c", 3), ("d", 4)))
  }

  test("optimize: compacts small files z-order-clustered, refreshes the " +
    "stats sidecar so the NEXT merge is file-targeted, writes the manifest") {
    val path = tmp()
    spark.range(20000).select(col("id").as("k"),
        concat(lit("value-"), col("id")).as("v"))
      .repartition(16).write.parquet(path)
    val rep = StageWriter.optimize(spark, path,
      targetFileBytes = 32 * 1024, zorderBy = Some(("k", "k")),
      statsColumn = Some("k"))
    assert(rep.filesBefore == 16)
    assert(rep.filesAfter < 16 && rep.filesAfter >= 2,
      s"expected a multi-file compaction, got ${rep.filesAfter}")
    // manifest lists exactly the visible data files
    import scala.jdk.CollectionConverters._
    val manifest = Files.readAllLines(
      Paths.get(path).resolve("_symlink_format_manifest/manifest"))
      .asScala.filter(_.nonEmpty).map(_.split('/').last).toSet
    assert(manifest == inventory(path).keySet)
    // the refreshed sidecar drives the next merge: z(k,k) is monotonic in
    // k, so files are range-disjoint and a one-key delta touches ONE file
    val before = inventory(path)
    StageWriter.mergeInto(spark, Seq((0L, "u")).toDF("k", "v"), path,
      Seq("k"))
    val after = inventory(path)
    val untouched = before.keySet.intersect(after.keySet)
    assert(untouched.size == before.size - 1,
      s"optimize stats must keep the merge file-targeted " +
        s"(${before.size} files, ${untouched.size} untouched)")
    untouched.foreach(f => assert(before(f) == after(f)))
    assert(spark.read.parquet(path).count() == 20000)
  }

  test("STRING-keyed merge is file-targeted: low-band update + " +
    "beyond-range insert leave the other range files byte-identical, " +
    "the string-dialect sidecar persists and is reused, and awkward " +
    "key values (tab, newline, literal '-') round-trip the sidecar") {
    val path = tmp()
    spark.range(4000).select(
        concat(lit("k"), lpad(col("id").cast("string"), 6, "0")).as("k"),
        concat(lit("v"), col("id")).as("v"))
      .repartitionByRange(4, col("k"))
      .write.parquet(path)
    val before = inventory(path)
    assert(before.size == 4)
    val delta = (Seq.tabulate(10)(i =>
      (f"k$i%06d", s"u$i")) :+ (("zz_beyond", "ins"))).toDF("k", "v")
    StageWriter.mergeInto(spark, delta, path, Seq("k"))
    val after = inventory(path)
    val untouched = before.keySet.intersect(after.keySet)
    assert(untouched.size == 3,
      s"expected 3 untouched files, got ${untouched.size}")
    untouched.foreach(f => assert(before(f) == after(f)))
    val got = spark.read.parquet(path).as[(String, String)].collect().toMap
    assert(got.size == 4001)
    (0 until 10).foreach(i => assert(got(f"k$i%06d") == s"u$i"))
    assert(got("zz_beyond") == "ins" && got("k000500") == "v500")
    // sidecar: string dialect, inventory-exact, reused by the next merge
    assert(Sidecars.load(path).flatMap(_.bounds("k")).map(_._1)
      .contains("string"),
      "string bounds must validate against the directory inventory")
    val snap = inventory(path)
    StageWriter.mergeInto(spark,
      Seq(("k000001", "b")).toDF("k", "v"), path, Seq("k"))
    val after2 = inventory(path)
    val survivors = snap.keySet.filterNot(_.startsWith("m2-"))
      .intersect(after2.keySet)
    assert(survivors.size >= 3, "sidecar reuse must keep merge 2 targeted")
    // awkward values: keys containing tab/newline/'-' in a fresh table
    val path2 = tmp()
    Seq(("a\tb", 1), ("c\nd", 2), ("-", 3)).toDF("k", "n")
      .write.parquet(path2)
    StageWriter.mergeInto(spark, Seq(("-", 30), ("e", 4)).toDF("k", "n"),
      path2, Seq("k"))
    assert(spark.read.parquet(path2).as[(String, Int)].collect().toSet ==
      Set(("a\tb", 1), ("c\nd", 2), ("-", 30), ("e", 4)))
  }

  test("crash inside the reveal window: the stranded claim fail-stops " +
    "later merges, and the next claimant rolls the partial attempt back " +
    "to an EXACT repair — no reveal collision, no lingering duplicates") {
    val path = tmp()
    writeBase(path)
    // seq 1: a committed targeted merge so generation-m files exist
    StageWriter.mergeInto(spark, Seq((1L, "a")).toDF("k", "v"), path,
      Seq("k"))
    assert(StageWriter.committedSeq(path) == 1L)
    val committed = spark.read.parquet(path).as[(Long, String)]
      .collect().toMap
    // simulate an attempt at seq 2 that crashed mid-reveal: one of its
    // output files was revealed (duplicating rows of a touched base file),
    // one is still hidden, the staging dir survives, and the claim is
    // stranded. Built from a REAL data file so the duplication is real.
    val donor = StageWriter.listDataFiles(Paths.get(path))
      .find(_.getFileName.toString.startsWith("m1-")).get
    val dir = Paths.get(path)
    Files.copy(donor, dir.resolve("m2-deadbeef-p00000.parquet"))
    Files.copy(donor, dir.resolve(".m2-deadbeef-p00001.parquet"))
    val stage = Paths.get(path + ".__mergetmp__2")
    Files.createDirectories(stage)
    Files.writeString(stage.resolve("junk"), "x")
    Files.createFile(Paths.get(path + ".__claims__").resolve("2"))
    // the duplication is visible (the documented reveal-window exposure)
    assert(spark.read.parquet(path).count() > committed.size,
      "fixture must actually duplicate rows")
    // fail-stop: the stranded claim blocks any merger at seq 2
    val delta2 = Seq((2L, "b"), (77777L, "ins")).toDF("k", "v")
    intercept[StageWriter.ConcurrentMergeException] {
      StageWriter.mergeInto(spark, delta2, path, Seq("k"),
        maxRetries = 1, backoffMs = 1)
    }
    Thread.sleep(10)
    StageWriter.vacuum(path, retentionMs = 0)
    // re-run repairs exactly: rollback deletes the partial attempt's
    // visible AND hidden leftovers, then the merge applies to the
    // committed snapshot — no FileAlreadyExistsException, no duplicates
    StageWriter.mergeInto(spark, delta2, path, Seq("k"))
    assert(StageWriter.committedSeq(path) == 2L)
    val got = spark.read.parquet(path).as[(Long, String)].collect()
    assert(got.length == got.toMap.size, "repair must remove ALL duplicates")
    assert(got.toMap == committed ++ Map(2L -> "b", 77777L -> "ins"),
      "repaired table must equal committed ∪ merge(delta)")
    val names = StageWriter.listDataFiles(dir).map(_.getFileName.toString)
    assert(!names.exists(_.contains("deadbeef")),
      "the crashed attempt's revealed file must be rolled back")
    assert(!Files.exists(dir.resolve(".m2-deadbeef-p00001.parquet")) &&
      !Files.exists(stage), "hidden leftovers and staging dir must be gone")
  }

  test("vacuum reclaims stranded staging dirs and hidden unrevealed files; " +
    "hidden files are invisible to readers") {
    val path = tmp()
    writeBase(path)
    val n0 = spark.read.parquet(path).count()
    // simulate a crash mid-commit: staging dir + one hidden staged file
    val stage = Paths.get(path + ".__mergetmp__7")
    Files.createDirectories(stage)
    Files.writeString(stage.resolve("junk"), "x")
    val hidden = Paths.get(path).resolve(".m7-p00000.parquet")
    Files.writeString(hidden, "not parquet")
    assert(spark.read.parquet(path).count() == n0,
      "hidden staged files must be invisible to readers")
    StageWriter.vacuum(path, retentionMs = -1000)
    assert(!Files.exists(stage) && !Files.exists(hidden))
  }

  test("STRING-keyed CDC merge (tombstones) stays file-targeted") {
    val path = tmp()
    spark.range(4000).select(
        concat(lit("k"), lpad(col("id").cast("string"), 6, "0")).as("k"),
        concat(lit("v"), col("id")).as("v"))
      .repartitionByRange(4, col("k"))
      .write.parquet(path)
    val before = inventory(path)
    val delta = Seq(("k000000", "z", "U"), ("k000001", "", "D"),
      ("k000002", "", "D")).toDF("k", "v", "op")
    StageWriter.mergeCdcInto(spark, delta, path, Seq("k"))
    val after = inventory(path)
    assert(before.keySet.intersect(after.keySet).size == 3,
      "only the file holding k000000..k000002 may be rewritten")
    val got = spark.read.parquet(path).as[(String, String)].collect().toMap
    assert(got.size == 3998)
    assert(got("k000000") == "z" && !got.contains("k000001") &&
      !got.contains("k000002"))
  }
}

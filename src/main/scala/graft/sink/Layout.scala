package graft.sink

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional layout clustering — the Parquet-fallback twin of Delta
  * `OPTIMIZE ZORDER BY` (the reference's table-maintenance surface,
  * light_transform.py:1394-1409, runs OPTIMIZE on every write).
  *
  * Z-ordering interleaves the bits of two clustering keys so rows close in
  * EITHER dimension land in the same files; per-file min/max footer stats
  * then prune scans filtered on either key. At 100 TB this is the difference
  * between "a y-filter reads every file" (single-key sort layout) and "a
  * y-filter reads ~sqrt(files)" — data skipping without an index.
  *
  * Everything is built-in Column arithmetic (shift/and/or — codegen'd,
  * oracle-replayable); the write is repartitionByRange + sortWithinPartitions
  * on the z-value, so file boundaries are range-disjoint in z.
  */
object Layout {

  /** Interleave the low `bits` bits of two non-negative integral columns:
    * bit j of `x` lands at position 2j, bit j of `y` at 2j+1. The classic
    * Morton (Z) curve — pure integer arithmetic, identical in any engine. */
  def zValue2(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    zValueN(Seq(x, y), bits)
  }

  /** N-ary Morton interleave (Delta `OPTIMIZE ZORDER BY c1, …, cN` takes
    * any column count): bit j of column i lands at position j·n + i, so
    * [[zValue2]] is exactly the n = 2 case. n·bits must fit a long. */
  def zValueN(cols: Seq[Column], bits: Int = 16): Column = {
    val n = cols.length
    require(n >= 2, s"need at least 2 clustering columns, got $n")
    require(bits >= 1 && n * bits <= 63,
      s"$n cols x $bits bits exceeds the long interleave range")
    (for (j <- 0 until bits; i <- cols.indices) yield
      shiftleft(shiftright(cols(i), j).bitwiseAND(lit(1L)), j * n + i))
      .reduce(_ bitwiseOR _)
  }

  /** Write `df` z-order-clustered on (xCol, yCol) into `numFiles`
    * range-disjoint files. The z column is computed, used for the range
    * repartition + intra-file sort, and pruned from the output. */
  def zorderWrite(df: DataFrame, path: String, xCol: String, yCol: String,
      bits: Int = 16, numFiles: Int = 32): Unit =
    zorderWriteN(df, path, Seq(xCol, yCol), bits, numFiles)

  /** N-column z-order-clustered write. */
  def zorderWriteN(df: DataFrame, path: String, cols: Seq[String],
      bits: Int = 16, numFiles: Int = 32): Unit = {
    val z = zValueN(cols.map(col), bits)
    val clustered = df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    clustered.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
  }

  /** Hilbert-clustered write (D168): like [[zorderWriteN]] but on the
    * Hilbert index ([[graft.functions.Hilbert]]) — unit-step curve
    * locality, so equal-size index ranges cover more compact rectangles
    * than Morton's quadrant jumps and rectangle queries touch fewer
    * files at the same file count (Databricks liquid clustering /
    * Iceberg hilbert sort order). Coordinates must lie in [0, 2^bits);
    * out-of-range rows index NULL and would pool into one partition —
    * size `bits` to the key domain (same discipline as zorderBits). */
  def hilbertWrite(df: DataFrame, path: String, xCol: String, yCol: String,
      bits: Int = 10, numFiles: Int = 32): Unit = {
    val h = graft.functions.Hilbert.hValue2(col(xCol), col(yCol), bits)
    df.withColumn("__h", h)
      .repartitionByRange(numFiles, col("__h"))
      .sortWithinPartitions("__h")
      .drop("__h")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
  }

  /** Per-file (min, max) of `column` (cast to long) — the data-skipping
    * index Delta keeps in its log, surfaced as a manifest table for the
    * Parquet fallback (D107). ONE scan of only the stat column; at 100 TB
    * this runs once per write (like OPTIMIZE's stats collection), not per
    * query. */
  def fileRanges(spark: org.apache.spark.sql.SparkSession, path: String,
      column: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(column).cast("long")).as("mn"),
        max(col(column).cast("long")).as("mx"))

  /** Per-file [min, max] for SEVERAL columns in ONE scan — columns come
    * back as `<col>_mn` / `<col>_mx` (the single-column form keeps its
    * legacy `mn`/`mx` names for its pruning callers). */
  def fileRangesMulti(spark: org.apache.spark.sql.SparkSession,
      path: String, columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "at least one column")
    val aggs = columns.flatMap(c => Seq(
      min(col(c).cast("long")).as(s"${c}_mn"),
      max(col(c).cast("long")).as(s"${c}_mx")))
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Range-predicate read that SKIPS files whose [min, max] cannot
    * intersect [lo, hi]: the manifest is collected driver-side (file-count
    * rows — the same size class as Delta's log replay) and the surviving
    * file list feeds the scan. Callers still apply the residual row filter;
    * skipping is file-granular. Returns (dataframe, filesRead, filesTotal). */
  def prunedRead(spark: org.apache.spark.sql.SparkSession, path: String,
      column: String, lo: Long, hi: Long): (DataFrame, Int, Int) = {
    val ranges = fileRanges(spark, path, column).collect()
    val keep = ranges.collect {
      case r if !r.isNullAt(1) && !(r.getLong(2) < lo || r.getLong(1) > hi) =>
        r.getString(0)
    }
    val df =
      if (keep.isEmpty)
        spark.read.parquet(path).filter(lit(false)) // typed empty
      else spark.read.parquet(keep: _*)
    (df, keep.length, ranges.length)
  }

  // ---------------------------------------------------------------------
  // D123 — per-file Bloom sidecar: point-lookup data skipping where
  // min/max CAN'T help. Range stats (D107) prune range predicates, but a
  // point lookup on a high-cardinality key under a layout clustered by a
  // DIFFERENT key sees every file's [min, max] straddle the probe — zero
  // skipping. A per-file Bloom filter answers "might this key be in this
  // file" regardless of layout: k hashed bit positions per key, a file is
  // read only if some probe key has ALL k positions set. This is exactly
  // Parquet's column-index bloom / Delta's bloom-index capability surfaced
  // on the plain-parquet fallback.
  //
  // Scale shape: the sidecar is ONE bounded-state aggregation over the key
  // column — the filter is a FIXED bits/8-byte bitset per file (a typed
  // OR-merge Aggregator, functions/BloomBits: map-side combinable, state
  // independent of file row count — a 4M-bit filter for a 5M-row file is
  // 512 KB where a position-set would balloon), kept as a declared plane
  // of the table's one sidecar ([[Sidecars.Bloom]]) and maintained only
  // on write. Honest size note: a plane-served probe holds every filter
  // on the driver (KBs per file); at 10⁶ files the in-query path's
  // distributed broadcast join, which collects only surviving file
  // NAMES, is the shape to keep.
  // ---------------------------------------------------------------------

  /** The k bit positions of one key — pure xxhash64 arithmetic, identical
    * on the build and probe sides (seeded by subscript, modded into
    * [0, bits)). Keys hash by their CANONICAL STRING form so integral and
    * string key columns share one code path (a long probe 42 matches an
    * int32 column's 42); intended for integral/string keys — fractional
    * types would need their own canonicalization. */
  private def bloomPositions(key: Column, bits: Int, k: Int): Column =
    array((0 until k).map(i =>
      pmod(xxhash64(key.cast("string"), lit(i)), lit(bits.toLong))): _*)

  /** Per-file Bloom table `(file, bitset)` of `df`, whose `__f` column
    * names each row's file: the fixed-size filter of each file's keys,
    * ONE bounded-state aggregation over the key column. */
  private[sink] def blooms(df: DataFrame, column: String, bits: Int,
      k: Int): DataFrame =
    df.select(col("__f").as("file"),
        explode(bloomPositions(col(column), bits, k)).as("pos"))
      .groupBy("file")
      .agg(graft.functions.BloomBits.agg(bits)(col("pos")).as("bitset"))

  /** "Every position in `ps` is set in `bitset`" — the probe predicate,
    * written as a SQL lambda because the shift amount is per-element. */
  private val ProbeHit =
    expr("forall(ps, p -> (element_at(bitset, CAST(p DIV 64 AS INT) + 1) " +
      "& shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))) != 0)")

  /** Point-lookup read that scans ONLY files whose Bloom filter might
    * contain one of `keys`. A declared `Sidecars.Bloom(column, bits, k)`
    * plane that validates against the current inventory serves the
    * filters — the probe then runs on the driver with ZERO Spark jobs
    * (the probe positions are a local-relation projection, the same
    * expressions the build used); otherwise filters are built in-query
    * and the probe runs as a broadcast join that collects only the
    * surviving file names. False positives cost an extra file scan,
    * never a wrong row — callers still apply the exact IN filter.
    * Returns (dataframe, filesRead, filesTotal). */
  def bloomPrunedRead(spark: org.apache.spark.sql.SparkSession, path: String,
      column: String, keys: Seq[Any], bits: Int = 8192,
      k: Int = 3): (DataFrame, Int, Int) = {
    import spark.implicits._
    // canonical string form on the probe side too (see bloomPositions)
    val probes = keys.map(_.toString).toDF(column)
      .select(bloomPositions(col(column), bits, k).as("ps"))
    val plane = Sidecars.Bloom(column, bits, k)
    val (keep, total) = Sidecars.load(path).flatMap(_.of(plane)) match {
      case Some(filters) =>
        val ps = probes.collect().map(_.getSeq[Long](0))
        val hit = filters.collect { case (f, words) if ps.exists(_.forall(p =>
          (words((p / 64).toInt) & (1L << (p % 64))) != 0)) =>
          java.nio.file.Paths.get(path, f).toString }
        (hit.toSeq.sorted, filters.size)
      case None =>
        val blooms = this.blooms(spark.read.parquet(path)
          .withColumn("__f", input_file_name()), column, bits, k)
        (blooms.join(broadcast(probes), ProbeHit)
          .select("file").distinct().as[String].collect().toSeq,
          blooms.select("file").distinct().count().toInt)
    }
    val df =
      if (keep.isEmpty) spark.read.parquet(path).filter(lit(false))
      else spark.read.parquet(keep: _*)
    (df, keep.length, total)
  }
}

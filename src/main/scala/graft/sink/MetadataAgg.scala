package graft.sink

import java.nio.file.{Files, Path, Paths}

/** Metadata-only aggregate answering (SURVEY §2D, D227) — the
  * Delta/Iceberg "metadata-only query" served from the sidecar planes
  * the engine already maintains: `count(*)`, per-partition counts, and
  * the stats column's min/max answered WITHOUT scanning a single data
  * page. The reference stack gets this for free from the Glue/Delta
  * catalogs; the parquet-fallback answer folds the per-file planes of
  * the table's one [[Sidecars]] sidecar: the counts plane (parquet
  * FOOTER record counts — driver-side metadata reads, zero Spark jobs)
  * and the bounds plane for min/max, plus the NDV, KMH and histogram
  * planes below.
  *
  * Freshness is the D190 contract: every read here validates its
  * sidecar against the EXACT current file inventory and returns `None`
  * on any mismatch — the caller stands down to the full scan, never a
  * wrong count. A foreign writer that ignores this sink therefore
  * degrades the answer path, never corrupts it.
  *
  * Scale shape: at 100 TB the sidecar is file-inventory-sized (one
  * line per file), the answers are pure driver-side folds over it, and
  * the footer pass that builds it is paid at WRITE cadence — the same
  * stats-on-write trade every lakehouse writer makes. */
object MetadataAgg {

  /** (root-relative path, file) for every visible parquet data file,
    * recursing through partition directories (`col=value/...`); hidden
    * and `_`-prefixed entries skipped — the [[StageWriter
    * .listDataFiles]] visibility rule, extended below the root. */
  private[graft] def listRel(root: Path): Seq[(String, Path)] = {
    def walk(dir: Path, prefix: String): Seq[(String, Path)] = {
      if (!Files.isDirectory(dir)) return Nil
      val s = Files.list(dir)
      try s.toArray.map(_.asInstanceOf[Path]).toSeq.flatMap { p =>
        val n = p.getFileName.toString
        if (n.startsWith(".") || n.startsWith("_")) Nil
        else if (Files.isDirectory(p)) walk(p, prefix + n + "/")
        else if (n.endsWith(".parquet") && Files.isRegularFile(p))
          Seq((prefix + n, p))
        else Nil
      }.sortBy(_._1)
      finally s.close()
    }
    walk(root, "")
  }

  /** True iff `path` is a FLAT layout — no visible subdirectories. The
    * NDV/KMH/histogram planes describe flat layouts only: enforced at
    * declare time (refuse) AND at read time (stand down), so a layout
    * that grows partitions after declaration degrades safely too. */
  private[sink] def flatLayout(path: String): Boolean = {
    val dir = Paths.get(path)
    if (!Files.isDirectory(dir)) return true
    val s = Files.list(dir)
    try !s.toArray.map(_.asInstanceOf[Path]).exists { p =>
      val n = p.getFileName.toString
      Files.isDirectory(p) && !n.startsWith(".") && !n.startsWith("_")
    } finally s.close()
  }

  private[sink] def footerCount(p: Path): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toUri), conf))
    try r.getRecordCount finally r.close()
  }

  /** Driver-loop → distributed cutover of the counts plane's footer
    * pass: past this many files the serial footer pass is the
    * bottleneck, below it a Spark job is pure overhead. */
  private[sink] val DistributedRebuildCutover = 256

  /** Footer record counts of `files` AS A SPARK JOB: the file list
    * parallelizes across executors, each task opens its footers where
    * the scheduler placed it, and only (relative name, row count) pairs
    * return to the driver — the same counts as the serial footer pass,
    * only the pass moves off the driver. */
  private[graft] def distributedCounts(
      spark: org.apache.spark.sql.SparkSession,
      files: Seq[(String, Path)]): Map[String, Long] = {
    val rels = files.map { case (rel, p) => (rel, p.toString) }
    val slices = math.max(1, math.min(rels.size,
      spark.sparkContext.defaultParallelism))
    spark.sparkContext.parallelize(rels, slices)
      .map { case (rel, abs) => rel -> footerCount(Paths.get(abs)) }
      .collect().toMap
  }

  /** Inventory-validated per-file counts: `Some` iff the sidecar covers
    * the CURRENT file inventory exactly — any added, removed or renamed
    * file stands the whole plane down (`None`). */
  def loadCounts(path: String): Option[Map[String, Long]] =
    Sidecars.load(path).flatMap(_.of(Sidecars.Counts))

  /** Metadata-only `count(*)`: `None` = stand down to the scan. */
  def count(path: String): Option[Long] =
    loadCounts(path).map(_.values.sum)

  /** Metadata-only per-partition counts for a `col=value` directory
    * layout: keys are the first-level partition directory names
    * (`col=value`); files at the root count under `""`. `None` = stand
    * down. */
  def partitionCounts(path: String): Option[Map[String, Long]] =
    loadCounts(path).map(_.toSeq.groupBy { case (rel, _) =>
      val i = rel.indexOf('/')
      if (i < 0) "" else rel.substring(0, i)
    }.map { case (part, fs) => part -> fs.map(_._2).sum })

  /** Metadata-only min/max of an integral bounds-plane column, folded
    * from the inventory-validated sidecar. `None` = no sidecar, a column
    * the plane does not carry, stale inventory, or a table whose files
    * hold no non-null values — every case stands down to the scan
    * rather than guessing. */
  def minMax(path: String, column: String): Option[(Long, Long)] =
    Sidecars.load(path).flatMap(_.bounds(column)).flatMap {
      case ("long", st) =>
        val bounds = st.values.flatten
        if (bounds.isEmpty) None
        else Some((bounds.map(_._1.toLong).min, bounds.map(_._2.toLong).max))
      case _ => None
    }

  /** The inventory-validated entries of the declared plane `pick`
    * selects, on a flat layout only: the Ndv/Kmh/Hist planes refuse
    * partitioned layouts at declare time, and a layout that grows
    * partitions afterwards stands down here. */
  private def flatPlane[P <: Sidecars.FilePlane](path: String)(
      pick: PartialFunction[Sidecars.Plane, P]): Option[(P, Map[String, P#V])] =
    if (!flatLayout(path)) None
    else Sidecars.load(path).flatMap { l =>
      l.declared.collectFirst(pick).flatMap(p => l.of(p).map(p -> _))
    }

  // ---- categorical histogram plane (SURVEY §2D, D236) ----------------
  //
  // The GROUP-BY twin of the counts plane: each file carries the exact
  // per-value row counts of ONE declared low-cardinality column. Per-file
  // histograms add, so merging them answers `GROUP BY c` counts and
  // `count(*) WHERE c = v` with ZERO Spark jobs — exactly, not
  // approximately; NULL is a tracked bucket (SQL GROUP BY has a NULL
  // group).

  /** Metadata-only `GROUP BY column` row counts (the NULL group under
    * `None`): merge the inventory-validated per-file histograms.
    * `None` = no plane, wrong column, partitioned layout, or stale
    * inventory — stand down to the scan. */
  def histCounts(path: String,
      colName: String): Option[Map[Option[String], Long]] =
    flatPlane(path) { case h: Sidecars.Hist if h.column == colName => h }
      .map { case (_, m) =>
        m.values.flatten.groupBy(_._1)
          .map { case (v, cs) => v -> cs.map(_._2).sum }
      }

  /** Metadata-only `count(*) WHERE column = value` (0 when the value
    * never occurs — a valid exact answer, not a stand-down). */
  def countWhere(path: String, colName: String,
      value: String): Option[Long] =
    histCounts(path, colName).map(_.getOrElse(Some(value), 0L))

  // ---- NDV plane (SURVEY §2D, D231): per-file KMV sketches -----------
  //
  // Because the union of per-file bottom-k sets contains the GLOBAL
  // bottom-k, merging the sketches reproduces the whole-table KMV
  // estimate EXACTLY — deterministic, SQL-replayable (the KmvDistinct
  // contract), and servable with zero Spark jobs. This is the NDV
  // statistic Delta/Iceberg keep for CBO, here a plane the D154 join
  // planner consumes without a scan.

  /** Metadata-only approximate-distinct estimate of the declared NDV
    * column: merge the inventory-validated per-file sketches (k
    * smallest distinct hashes of the union = the whole-table KMV state)
    * and apply the deterministic KMV estimator. `None` = no plane,
    * different column, or stale inventory — stand down to the scan. */
  def ndvEstimate(path: String, colName: String): Option[Double] =
    flatPlane(path) { case n: Sidecars.Ndv if n.column == colName => n }
      .map { case (n, m) =>
        val merged = m.values.foldLeft(Array.emptyLongArray) {
          (acc, sk) => sk.foldLeft(acc)(
            graft.functions.KmvDistinct.insert(_, _, n.k))
        }
        if (merged.length < n.k) merged.length.toDouble
        else (n.k - 1).toDouble /
          (merged.last.toDouble / graft.llm.Dedup.PortableP.toDouble)
      }

  // ---- KMH quantile-sample plane (SURVEY §2D, D232) ------------------
  //
  // The quantile twin of the NDV plane: merging the per-file samples and
  // re-taking the k smallest reproduces the whole-table D44 KMH sample
  // EXACTLY — the deterministic "random" sample q_percentile replays in
  // SQL. Honest size note: the plane is files×k rows; past ~10k files
  // (post-compaction at 128 MB that is a ~TB table) the driver-side fold
  // should become a sidecar-sized Spark job — the stand-down contract
  // keeps every path correct either way.

  /** Metadata-only quantiles of the declared value column: merge the
    * inventory-validated per-file samples, re-take the k smallest by
    * (hash, key1, key2) — exactly the whole-table D44 KMH sample — and
    * interpolate (the `percentile` / `quantile_cont` linear rule, so
    * the SQL replay hash-matches). `None` = no plane, wrong column, or
    * stale inventory. */
  def kmhQuantiles(path: String, valueCol: String,
      qs: Seq[Double]): Option[Seq[Double]] = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"quantiles must be in [0,1], got $qs")
    flatPlane(path) { case p: Sidecars.Kmh if p.valueColumn == valueCol => p }
      .flatMap { case (p, m) =>
        val sample = m.values.flatten.toArray
          .sortBy(r => (r.h, r.k1, r.k2)).take(p.k).map(_.v).sorted
        if (sample.isEmpty) None
        else Some(qs.map { q =>
          val pos = q * (sample.length - 1)
          val lo = math.floor(pos).toInt
          val hi = math.ceil(pos).toInt
          if (lo == hi) sample(lo)
          else sample(lo) + (pos - lo) * (sample(hi) - sample(lo))
        })
      }
  }
}

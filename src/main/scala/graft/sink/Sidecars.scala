package graft.sink

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.parquet.column.statistics.{BinaryStatistics, IntStatistics,
  LongStatistics}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType,
  ShortType, StringType, StructType}

/** One per-file metadata plane per table (SURVEY §2D, D190) — the
  * Delta-log shape on the parquet fallback. Delta keeps every file's
  * statistics in that file's log entry and every consumer reads them
  * from there; here every declared plane of a table lives in ONE
  * atomically replaced sidecar, `path.__planes__`:
  *
  *  - header lines (`#…`) list the declared planes, then the resolved
  *    column kinds of the bounds plane;
  *  - one line per data file, keyed by the [[MetadataAgg.listRel]]
  *    inventory walk, holding each plane's encoded entry for the file.
  *
  * Every plane is a [[FilePlane]]: it summarizes a list of data files
  * (from the parquet footer when the footer is exact, from one scan
  * otherwise) and encodes / decodes one file's entry. `Stats(c)` and
  * `Zone(cs)` both declare columns of the ONE [[Bounds]] plane (long or
  * string kind), which serves the pruning rule, the file-targeted MERGE
  * and the metadata-only min/max.
  *
  * Freshness: [[load]] validates the file lines against the CURRENT
  * inventory and returns None on any mismatch, so every consumer stands
  * down to a scan rather than answer from a stale plane — a foreign
  * writer or an unreadable sidecar degrades the same way. Upkeep is
  * generic: full rewrites end in [[refreshAfterWrite]] (summarize every
  * file), file-targeted rewrites in [[afterTargetedRewrite]] (drop the
  * removed files' lines, summarize only the added files). The sidecar is
  * written once, after every summary has returned.
  *
  * D155's `_derived_partition` sidecar is deliberately NOT here: it
  * records a column DERIVATION (valid for any file inventory), not
  * inventory-keyed state. */
object Sidecars {

  /** A declared plane. */
  sealed trait Plane

  /** The per-file plane contract. Entries must be free of tabs and
    * newlines; `empty` is the entry of a file a scan emitted no row for
    * (no rows, or no non-null values). */
  sealed trait FilePlane {
    type V
    def empty: V
    def summarize(spark: SparkSession, files: Seq[(String, Path)],
        schema: StructType): Map[String, V]
    def encode(v: V): String
    def decode(s: String): V

    /** Encoded entry of every file in `files`. */
    private[Sidecars] def entries(spark: SparkSession,
        files: Seq[(String, Path)], schema: StructType): Map[String, String] =
      if (files.isEmpty) Map.empty
      else {
        val got = summarize(spark, files, schema)
        files.map { case (rel, _) => rel -> encode(got.getOrElse(rel, empty)) }
          .toMap
      }
  }

  /** D107 per-file key range — a column of the [[Bounds]] plane. */
  final case class Stats(column: String) extends Plane
  /** D183 multi-column zone map — columns of the [[Bounds]] plane. */
  final case class Zone(columns: Seq[String]) extends Plane

  /** Per-file (min, max) of each column, aggregated in the column's own
    * order and stringified; None = no non-null value in the file. Kinds
    * are "long" (integral columns) or "string". */
  final case class Bounds(columns: Seq[(String, String)]) extends FilePlane {
    type V = Seq[Option[(String, String)]]
    def empty: V = columns.map(_ => None)
    def summarize(spark: SparkSession, files: Seq[(String, Path)],
        schema: StructType): Map[String, V] =
      footer(files).getOrElse(scanBounds(spark, files, schema))

    /** The footer half: None when any file's statistics are unusable. */
    private[sink] def footer(files: Seq[(String, Path)])
        : Option[Map[String, V]] =
      try Some(files.map { case (rel, p) =>
        rel -> withFooter(p)(f => columns.map { case (c, k) =>
          footerBounds(f, c, k) })
      }.toMap)
      catch { case NonFatal(_) => None }
    def encode(v: V): String = v.map {
      case Some((mn, mx)) => enc(mn) + "," + enc(mx)
      case None => "-"
    }.mkString(" ")
    def decode(s: String): V = s.split(' ').toSeq.map {
      case "-" => None
      case b =>
        val i = b.indexOf(',')
        Some((dec(b.substring(0, i)), dec(b.substring(i + 1))))
    }

    /** The scan half: one aggregation over `files`. */
    private[sink] def scanBounds(spark: SparkSession,
        files: Seq[(String, Path)], schema: StructType): Map[String, V] = {
      // aggregate in the column's OWN order, stringify the result — a
      // min/max over the string CAST of a long column is lexicographic
      // ("99" > "100") and records inverted bounds that mis-prune
      val aggs = columns.flatMap { case (c, kind) =>
        val v = if (kind == "long") col(c).cast("long") else col(c)
        Seq(min(v).cast("string"), max(v).cast("string"))
      }
      val rel = relOf(files)
      scan(spark, files, schema).groupBy("__f").agg(aggs.head, aggs.tail: _*)
        .collect().map { r =>
          rel(r.getString(0)) -> columns.indices.map(i =>
            Option(r.getString(1 + 2 * i)).map((_, r.getString(2 + 2 * i))))
        }.toMap
    }
  }

  /** D123 per-file Bloom filter (bits/k are part of the declaration —
    * probe and build must agree), entries base64 of the raw words. */
  final case class Bloom(column: String, bits: Int = 8192, k: Int = 3)
      extends Plane with FilePlane {
    type V = Array[Long]
    def empty: V = new Array[Long](bits / 64)
    def summarize(spark: SparkSession, files: Seq[(String, Path)],
        schema: StructType): Map[String, V] = {
      val rel = relOf(files)
      Layout.blooms(scan(spark, files, schema), column, bits, k)
        .collect().map(r => rel(r.getString(0)) -> r.getSeq[Long](1).toArray)
        .toMap
    }
    def encode(v: V): String = {
      val b = java.nio.ByteBuffer.allocate(v.length * 8)
      v.foreach(b.putLong)
      java.util.Base64.getEncoder.encodeToString(b.array)
    }
    def decode(s: String): V = {
      val b = java.nio.ByteBuffer.wrap(java.util.Base64.getDecoder.decode(s))
      Array.fill(b.remaining / 8)(b.getLong)
    }
  }

  /** D227 per-file row counts from parquet footer record counts —
    * metadata-only count(*) / per-partition counts. */
  case object Counts extends Plane with FilePlane {
    type V = Long
    def empty: V = 0L
    def summarize(spark: SparkSession, files: Seq[(String, Path)],
        schema: StructType): Map[String, V] =
      if (files.size <= MetadataAgg.DistributedRebuildCutover)
        files.map { case (rel, p) => rel -> MetadataAgg.footerCount(p) }.toMap
      else MetadataAgg.distributedCounts(spark, files)
    def encode(v: V): String = v.toString
    def decode(s: String): V = s.toLong
  }

  /** D231 per-file KMV distinct sketches ([[MetadataAgg.ndvEstimate]]):
    * the k smallest distinct portable hashes of the column, so merging
    * the files' sketches reproduces the whole-table KMV state exactly. */
  final case class Ndv(column: String, k: Int = 256)
      extends Plane with FilePlane {
    type V = Array[Long]
    def empty: V = Array.emptyLongArray
    def summarize(spark: SparkSession, files: Seq[(String, Path)],
        schema: StructType): Map[String, V] = {
      val rel = relOf(files)
      scan(spark, files, schema)
        .select(col("__f"),
          graft.llm.Dedup.portableWordHash(col(column)).as("h"))
        .where(col("h").isNotNull)
        .groupBy("__f")
        .agg(udaf(new graft.functions.KmvSketch(k)).apply(col("h")))
        .collect()
        .map(r => rel(r.getString(0)) -> r.getSeq[Long](1).toArray).toMap
    }
    def encode(v: V): String = v.mkString(",")
    def decode(s: String): V =
      if (s.isEmpty) empty else s.split(',').map(_.toLong)
  }

  /** One KMH sample row. */
  final case class KmhRow(h: Long, k1: Long, k2: Long, v: Double)

  /** D232 per-file KMH quantile samples ([[MetadataAgg.kmhQuantiles]]):
    * each file's k smallest rows by the portable (hash, key1, key2)
    * order with the value column alongside — any row of the global
    * bottom-k is in its own file's bottom-k. */
  final case class Kmh(valueColumn: String, key1: String, key2: String,
      k: Int = 1024) extends Plane with FilePlane {
    type V = Seq[KmhRow]
    def empty: V = Nil
    def summarize(spark: SparkSession, files: Seq[(String, Path)],
        schema: StructType): Map[String, V] = {
      val rel = relOf(files)
      scan(spark, files, schema)
        .select(col("__f"),
          graft.llm.Dedup.portableHash60(
            concat_ws("|", col(key1), col(key2))).as("h"),
          col(key1).cast("long").as("k1"), col(key2).cast("long").as("k2"),
          col(valueColumn).cast("double").as("v"))
        .where(col("v").isNotNull)
        .withColumn("rn", row_number().over(
          Window.partitionBy("__f").orderBy("h", "k1", "k2")))
        .filter(col("rn") <= k)
        .collect()
        .groupBy(r => rel(r.getString(0)))
        .map { case (n, rs) => n -> rs.toSeq.map(r => KmhRow(r.getLong(1),
          r.getLong(2), r.getLong(3), r.getDouble(4)))
          .sortBy(r => (r.h, r.k1, r.k2)) }
    }
    def encode(v: V): String = v.map(r => s"${r.h}:${r.k1}:${r.k2}:" +
      java.lang.Double.doubleToRawLongBits(r.v)).mkString(",")
    def decode(s: String): V =
      if (s.isEmpty) Nil
      else s.split(',').toSeq.map { cell =>
        val p = cell.split(':')
        KmhRow(p(0).toLong, p(1).toLong, p(2).toLong,
          java.lang.Double.longBitsToDouble(p(3).toLong))
      }
  }

  /** D236 per-file categorical value histogram
    * ([[MetadataAgg.histCounts]]) of one low-cardinality column; NULL
    * is a tracked bucket, and more than `maxDistinct` values refuse. */
  final case class Hist(column: String, maxDistinct: Int = 64)
      extends Plane with FilePlane {
    type V = Seq[(Option[String], Long)]
    def empty: V = Nil
    def summarize(spark: SparkSession, files: Seq[(String, Path)],
        schema: StructType): Map[String, V] = {
      val rel = relOf(files)
      val rows = scan(spark, files, schema)
        .select(col("__f"), col(column).cast("string").as("v"))
        .groupBy("__f", "v").agg(count(lit(1)))
        .collect()
      val values = rows.map(r => Option(r.getString(1))).distinct
      require(values.length <= maxDistinct,
        s"$column carries ${values.length} distinct values — above the " +
          s"declared histogram bound $maxDistinct; raise it or drop the " +
          "plane")
      rows.groupBy(r => rel(r.getString(0))).map { case (n, rs) =>
        n -> rs.toSeq.map(r => Option(r.getString(1)) -> r.getLong(2))
          .sortBy(p => (p._1.isDefined, p._1.getOrElse("")))
      }
    }
    // a NULL value is a SPACE: URLEncoder emits "+" for it, never a space
    def encode(v: V): String = v.map { case (x, n) =>
      x.fold(" ")(enc) + ":" + n }.mkString(",")
    def decode(s: String): V =
      if (s.isEmpty) Nil
      else s.split(',').toSeq.map { cell =>
        val i = cell.lastIndexOf(':')
        val x = cell.substring(0, i)
        (if (x == " ") None else Some(dec(x))) -> cell.substring(i + 1).toLong
      }
  }

  /** A sidecar read back: the declarations, the planes its file lines
    * hold (in line order) and each file's raw entries. */
  final class Loaded private[Sidecars] (val declared: Seq[Plane],
      val planes: Seq[FilePlane], private[Sidecars] val raw: Map[String,
        Seq[String]]) {
    def files: Set[String] = raw.keySet

    /** Every file's decoded entry of `p`, if the sidecar holds `p`. */
    def of(p: FilePlane): Option[Map[String, p.V]] = {
      val i = planes.indexOf(p)
      if (i < 0) None
      else Some(raw.map { case (f, es) => f -> p.decode(es(i)) })
    }

    /** (kind, per-file bounds) of `column`, if the bounds plane has it. */
    def bounds(column: String)
        : Option[(String, Map[String, Option[(String, String)]])] =
      planes.collectFirst { case b: Bounds => b }.flatMap { b =>
        val i = b.columns.indexWhere(_._1 == column)
        if (i < 0) None
        else of(b).map(m =>
          b.columns(i)._2 -> m.map { case (f, v) => f -> v(i) })
      }

    /** (column, kind) of every bounds-plane column. */
    def boundsColumns: Seq[(String, String)] =
      planes.collectFirst { case b: Bounds => b.columns }.getOrElse(Nil)
  }

  private def file(path: String): Path = Paths.get(path + ".__planes__")
  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")

  private[sink] def kindOf(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some("long")
    case StringType => Some("string")
    case _ => None
  }

  /** Declare the planes `path` carries and build them all now.
    * Re-declaring replaces the declarations (and rebuilds). */
  def declare(spark: SparkSession, path: String,
      planes: Seq[Plane]): Unit = {
    require(planes.nonEmpty, "declare at least one plane")
    require(!planes.exists(p => p.isInstanceOf[Ndv] ||
        p.isInstanceOf[Kmh] || p.isInstanceOf[Hist]) ||
      MetadataAgg.flatLayout(path),
      s"Ndv/Kmh/Hist planes cover flat layouts only; $path is " +
        "partitioned")
    rebuild(spark, path, planes)
  }

  /** The declared planes (empty when there is no sidecar — every hook
    * below is then a no-op, so undeclared tables pay nothing). */
  def declared(path: String): Seq[Plane] =
    read(path).fold(Seq.empty[Plane])(_.declared)

  def drop(path: String): Unit = {
    Files.deleteIfExists(file(path)); ()
  }

  /** The sidecar iff its file lines match the CURRENT inventory
    * exactly; None on any mismatch or unreadable sidecar. */
  def load(path: String): Option[Loaded] =
    read(path).filter(_.files ==
      MetadataAgg.listRel(Paths.get(path)).map(_._1).toSet)

  /** Add `column` to the bounds plane unless it already carries it: the
    * declaration path of the targeted MERGE and `optimize(statsColumn)`.
    * Writes the declarations only — the caller's refresh summarizes, and
    * consumers stand down until it has. */
  private[sink] def declareBounds(spark: SparkSession, path: String,
      column: String): Unit = {
    val old = declared(path)
    if (!boundsColumns(old).contains(column)) {
      val decl = old :+ Stats(column)
      // refuse a column without a bounds kind NOW, not at every refresh
      MetadataAgg.listRel(Paths.get(path)).headOption
        .foreach(f => resolve(decl, Some(schemaOf(spark, f._2))))
      write(path, decl, Nil, Map.empty)
    }
  }

  /** Rebuild every declared plane against the table's CURRENT inventory
    * — the full-rewrite hook ([[StageWriter.overwrite]] calls this after
    * its swap). No sidecar → no-op. */
  def refreshAfterWrite(spark: SparkSession, path: String): Unit =
    read(path).foreach(old => rebuild(spark, path, old.declared))

  /** Upkeep after a FILE-TARGETED rewrite (targeted merge, append,
    * incremental compaction), called after the reveal and before the
    * removed files are deleted: if the sidecar describes exactly
    * `preNames`, keep the unremoved files' lines and summarize only
    * `added` — O(new files); otherwise rebuild against the post-rewrite
    * inventory (`preNames` − `removed` + `added`, never the on-disk
    * listing, which still holds the removed files). */
  def afterTargetedRewrite(spark: SparkSession, path: String,
      preNames: Seq[String], removed: Set[String],
      added: Seq[Path]): Unit = {
    val old = read(path).getOrElse(return)
    val dir = Paths.get(path)
    val post = (preNames.filterNot(removed) ++
      added.map(_.getFileName.toString)).distinct.map(n => n -> dir.resolve(n))
    val schema = post.headOption.map(f => schemaOf(spark, f._2))
    val planes = resolve(old.declared, schema)
    val newRel = added.map(p => p.getFileName.toString -> p)
    if (old.files == preNames.toSet && planes == old.planes)
      write(path, old.declared, planes, (old.raw -- removed) ++
        summarize(spark, planes, newRel, schema))
    else write(path, old.declared, planes,
      summarize(spark, planes, post, schema))
  }

  private def rebuild(spark: SparkSession, path: String,
      decl: Seq[Plane]): Unit = {
    val files = MetadataAgg.listRel(Paths.get(path))
    val schema = files.headOption.map(f => schemaOf(spark, f._2))
    val planes = resolve(decl, schema)
    write(path, decl, planes, summarize(spark, planes, files, schema))
  }

  private def boundsColumns(decl: Seq[Plane]): Seq[String] =
    decl.flatMap {
      case Stats(c) => Seq(c)
      case Zone(cs) => cs
      case _ => Nil
    }.distinct

  /** The planes of `decl` against the table schema: one bounds plane
    * over every Stats/Zone column first (none without a schema — an
    * empty table), then the other planes in declared order. */
  private def resolve(decl: Seq[Plane],
      schema: Option[StructType]): Seq[FilePlane] = {
    val bounds = schema.toSeq.flatMap { s =>
      val cs = boundsColumns(decl).map { c =>
        val dt = s.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(s"no column $c")).dataType
        c -> kindOf(dt).getOrElse(throw new IllegalArgumentException(
          s"column $c (${dt.simpleString}) has no bounds kind"))
      }
      if (cs.isEmpty) Nil else Seq(Bounds(cs))
    }
    bounds ++ decl.collect { case p: FilePlane => p }
  }

  /** Every plane's encoded entries of `files` as file lines. The planes'
    * summaries are independent actions — overlapped through the shared
    * bounded pool (guide §2.6). */
  private def summarize(spark: SparkSession, planes: Seq[FilePlane],
      files: Seq[(String, Path)],
      schema: Option[StructType]): Map[String, Seq[String]] = {
    val s = schema.getOrElse(new StructType())
    val byPlane = Par.map(spark, planes)(_.entries(spark, files, s))
    files.map { case (rel, _) => rel -> byPlane.map(_(rel)) }.toMap
  }

  private def write(path: String, decl: Seq[Plane], planes: Seq[FilePlane],
      lines: Map[String, Seq[String]]): Unit = {
    val header = decl.map {
      case Stats(c) => s"#stats\t$c"
      case Zone(cs) => s"#zone\t${cs.mkString(",")}"
      case Bloom(c, bits, k) => s"#bloom\t$c\t$bits\t$k"
      case Counts => "#counts"
      case Ndv(c, k) => s"#ndv\t$c\t$k"
      case Kmh(vc, c1, c2, k) => s"#kmh\t$vc\t$c1\t$c2\t$k"
      case Hist(c, k) => s"#hist\t$c\t$k"
    } ++ planes.collect { case Bounds(cs) =>
      cs.map { case (c, k) => s"$c:$k" }.mkString("#bounds\t", "\t", "") }
    graft.state.TabSidecar.write(file(path), header ++
      lines.toSeq.sortBy(_._1).map { case (f, es) => (f +: es).mkString("\t") })
  }

  /** The sidecar as written, unvalidated; None when absent or when any
    * line does not parse. */
  private def read(path: String): Option[Loaded] = {
    val lines = graft.state.TabSidecar.read(file(path))
    if (lines.isEmpty) return None
    val (head, rows) = lines.partition(_.startsWith("#"))
    try {
      val (boundsLines, declLines) =
        head.map(_.split("\t").toList).partition(_.head == "#bounds")
      val bounds = boundsLines.map(l => Bounds(l.tail.map { c =>
        val i = c.lastIndexOf(':')
        c.substring(0, i) -> c.substring(i + 1)
      }))
      val decl = declLines.map {
        case "#stats" :: c :: Nil => Stats(c)
        case "#zone" :: cs :: Nil => Zone(cs.split(',').toSeq)
        case "#bloom" :: c :: b :: k :: Nil => Bloom(c, b.toInt, k.toInt)
        case "#counts" :: Nil => Counts
        case "#ndv" :: c :: k :: Nil => Ndv(c, k.toInt)
        case "#kmh" :: vc :: c1 :: c2 :: k :: Nil => Kmh(vc, c1, c2, k.toInt)
        case "#hist" :: c :: k :: Nil => Hist(c, k.toInt)
        case l => throw new IllegalArgumentException(s"unknown plane: $l")
      }
      val planes = bounds ++ decl.collect { case p: FilePlane => p }
      val raw = rows.map(_.split("\t", -1).toSeq).map(a => a.head -> a.tail)
      if (decl.isEmpty || raw.exists(_._2.size != planes.size)) None
      else Some(new Loaded(decl, planes, raw.toMap))
    } catch { case NonFatal(_) => None }
  }

  // ---- footer and scan helpers shared by the planes -------------------

  private def withFooter[T](p: Path)(f: ParquetMetadata => T): T = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toUri),
      new org.apache.hadoop.conf.Configuration()))
    try f(r.getFooter) finally r.close()
  }

  /** THE footer reader: (min, max) of column `c` over a file's row
    * groups from parquet column statistics, or None when the file holds
    * no non-null value. Throws (→ the caller's scan) when any chunk's
    * statistics are unusable: absent, EMPTY (statistics disabled or
    * omitted — "no min/max" is NOT "no values" unless the null count
    * covers every value), of an unexpected type, unsigned, or — for
    * strings — non-ASCII (truncation may split a UTF-8 sequence, and
    * beyond ASCII driver String order is not Spark's byte order). */
  private def footerBounds(f: ParquetMetadata, c: String,
      kind: String): Option[(String, String)] = {
    val stats = f.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
      .filter(_.getPath.toDotString == c).flatMap { cc =>
        val st = cc.getStatistics
        if (cc.getPrimitiveType.getLogicalTypeAnnotation match {
          case i: IntLogicalTypeAnnotation => !i.isSigned
          case _ => false
        }) throw new IllegalStateException(s"$c: unsigned statistics")
        if (st != null && st.hasNonNullValue) Some(st)
        else if (st != null && st.isNumNullsSet &&
          st.getNumNulls == cc.getValueCount) None
        else throw new IllegalStateException(s"$c: no usable statistics")
      }
    if (stats.isEmpty) None
    else if (kind == "long") {
      val ls = stats.map {
        case l: LongStatistics => (l.getMin, l.getMax)
        case i: IntStatistics => (i.getMin.toLong, i.getMax.toLong)
        case st => throw new IllegalStateException(
          s"$c: non-integral statistics ${st.getClass.getSimpleName}")
      }
      Some((ls.map(_._1).min.toString, ls.map(_._2).max.toString))
    } else {
      def ascii(b: Array[Byte]): String =
        if (b.exists(_ < 0)) throw new IllegalStateException("non-ASCII bound")
        else new String(b, java.nio.charset.StandardCharsets.US_ASCII)
      val ss = stats.map {
        case b: BinaryStatistics =>
          (ascii(b.genericGetMin.getBytes), ascii(b.genericGetMax.getBytes))
        case st => throw new IllegalStateException(
          s"$c: non-binary statistics ${st.getClass.getSimpleName}")
      }
      Some((ss.map(_._1).min, ss.map(_._2).max))
    }
  }

  /** The Spark schema a data file was written with (from its footer —
    * no inference job), else Spark's inference over that file. */
  private[sink] def schemaOf(spark: SparkSession, p: Path): StructType =
    scala.util.Try(withFooter(p)(f => DataType.fromJson(
      f.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      .asInstanceOf[StructType]))
      .getOrElse(spark.read.parquet(p.toString).schema)

  /** One scan of `files` with each row's file in `__f`. */
  private def scan(spark: SparkSession, files: Seq[(String, Path)],
      schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(files.map(_._2.toString): _*)
      .withColumn("__f", input_file_name())

  /** Inventory name of a scanned row's `__f` (a URL-encoded file URI). */
  private def relOf(files: Seq[(String, Path)]): String => String = {
    val byPath = files.map { case (rel, p) =>
      p.toAbsolutePath.normalize.toString -> rel }.toMap
    f => {
      val p = scala.util.Try(new java.net.URI(f).getPath).getOrElse(f)
      byPath.getOrElse(p, p.split('/').last)
    }
  }
}

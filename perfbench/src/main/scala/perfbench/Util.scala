package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec

/** Everything a workload needs from the command line and the session. */
final case class Ctx(spark: SparkSession, sf: String, work: Path, seed: Long,
    seconds: Int, trace: Boolean, nproc: Int,
    sample: Int = Gen.OrderSample) {
  val clock: java.time.Clock = java.time.Clock.fixed(
    java.time.Instant.parse("2024-06-25T12:00:00Z"), java.time.ZoneOffset.UTC)
  val zone: java.time.ZoneId = java.time.ZoneId.of("UTC")
}

/** What a workload run reports: op counts, the end-to-end metrics of the
  * contract, the workload's own named metrics and its input properties. */
final case class Outcome(attempted: Long, failed: Long,
    e2e: Map[String, Double], named: Map[String, Double],
    inputs: Map[String, Any])

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (NaN when empty). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest whole percentile with at least ten samples above it,
    * if any: (percentile, value). */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.size
    (99 to 50 by -1).find(p => n - math.ceil(p / 100.0 * n) >= 10)
      .map(p => (p, quantile(xs, p / 100.0)))
  }
}

object Fs {
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  /** Regular files under `p` (p itself when it is a file). */
  def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else if (Files.isRegularFile(p)) Seq(p)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      finally s.close()
    }

  def size(p: Path): Long = files(p).map(Files.size).sum

  /** Visible parquet data files of a flat table directory. */
  def dataFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
      }.toSeq
      finally s.close()
    }

  /** The table's sidecars: siblings named `<table>.__<plane>__…`. */
  def sidecars(table: Path): Seq[Path] = {
    val name = table.getFileName.toString + ".__"
    val s = Files.list(table.getParent)
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith(name))
      .toSeq.flatMap(files)
    finally s.close()
  }

  /** Bytes of a stage table: data files plus sidecars. */
  def tableBytes(table: Path): Long =
    size(table) + sidecars(table).map(Files.size).sum

  /** (path → (size, mtime)) of everything a table owns, to diff writes. */
  def snapshot(table: Path): Map[Path, (Long, Long)] =
    (files(table) ++ sidecars(table)).map { p =>
      p -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }.toMap
}

object Plans {
  /** Files the planned scans of `df` will read (after any pruning rule
    * narrowed their file index). */
  def filesRead(df: DataFrame): Long =
    df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s.relation.location.inputFiles.length.toLong
    }.sum
}

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case RawJson(raw) => raw
    case null => "null"
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

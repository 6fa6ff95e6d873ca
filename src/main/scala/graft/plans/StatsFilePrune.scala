package graft.plans

import java.nio.file.Paths

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  InMemoryFileIndex, LogicalRelation}

import graft.sink.Sidecars

/** Optimizer rule: AUTOMATIC bounds-plane file pruning (the D107
  * manifest and the D183 zone map applied transparently, the way
  * Delta's log stats prune every query without the reader asking).
  * `Layout.prunedRead` requires the caller to opt in per query; this
  * rule gives every plain `spark.read.parquet(path).filter(...)` over a
  * table with a declared bounds plane ([[graft.sink.Sidecars]]'s `Stats`
  * and `Zone` columns, long or string kind) the skip, for equality and
  * range predicates: a file survives only if EVERY constrained bounds
  * column admits it.
  *
  * Safety: the ORIGINAL Filter always remains above the pruned scan
  * (file skipping is file-granular; rows still filter); pruning only
  * fires when the sidecar's file inventory matches the directory EXACTLY
  * (`Sidecars.load`) — a stale or foreign sidecar disables the rule
  * rather than mis-pruning; strict bounds relax to inclusive, non-ASCII
  * string bounds/literals stand down, no bound → no pruning.
  * Partitioned layouts pass through. Idempotent by construction: a
  * pruned relation's root paths are data FILES, whose directory listing
  * no longer validates, so the rule never re-fires on its own output.
  *
  * Register via `spark.experimental.extraOptimizations` or
  * [[GraftExtensions]] (`injectOptimizerRule`). */
class StatsFilePrune extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case f @ Filter(cond, lr: LogicalRelation)
        if lr.relation.isInstanceOf[HadoopFsRelation] =>
      prune(cond, lr, lr.relation.asInstanceOf[HadoopFsRelation])
        .getOrElse(f)
  }

  private def ascii(s: String) = s.forall(_ < 128)

  private def prune(cond: Expression, lr: LogicalRelation,
      rel: HadoopFsRelation): Option[Filter] = {
    val roots = rel.location.rootPaths
    if (roots.size != 1 || rel.partitionSchema.nonEmpty) return None
    val dir = roots.head.toUri.getPath
    if (!java.nio.file.Files.isDirectory(Paths.get(dir))) return None
    val planes = Sidecars.load(dir).getOrElse(return None)
    // per bounds column: does the file admit the predicate's bound, if
    // the predicate has one (None = no non-null values, cannot match)
    val admits: Seq[String => Boolean] =
      planes.boundsColumns.flatMap { case (c, kind) =>
        val b = planes.bounds(c).get._2
        if (kind == "long")
          StatsFilePrune.extractBounds(cond, c).map { case (lo, hi) =>
            (name: String) => b(name).exists { case (mn, mx) =>
              !(mx.toLong < lo || mn.toLong > hi) }
          }
        else
          StatsFilePrune.extractBoundsStr(cond, c)
            .filter { case (lo, hi) => (lo.toSeq ++ hi.toSeq).forall(ascii) }
            .map { case (lo, hi) =>
              (name: String) => b(name).exists { case (mn, mx) =>
                !ascii(mn) || !ascii(mx) || // opaque bounds: keep
                  !(lo.exists(mx < _) || hi.exists(mn > _)) }
            }
      }
    if (admits.isEmpty) return None
    val files = planes.files.toSeq.sorted
    val keep = files.filter(n => admits.forall(_(n)))
    if (keep.size >= files.size) return None
    val spark = rel.sparkSession
    val idx = new InMemoryFileIndex(spark,
      keep.map(n => new Path(Paths.get(dir, n).toUri)), Map.empty,
      Some(rel.dataSchema))
    Some(Filter(cond, lr.copy(relation = rel.copy(location = idx)(spark))))
  }
}

object StatsFilePrune {

  /** Conjunctive [lo, hi] bounds on `column` from =, <, <=, >, >=,
    * literal on either side. None when no conjunct constrains the
    * column (no bound → no pruning — never guess). Shared by the bounds
    * plane rule and [[DerivedPartitionPrune]]. */
  private[plans] def extractBounds(cond: Expression,
      column: String): Option[(Long, Long)] = {
    def lit(e: Expression): Option[Long] = e match {
      case Literal(v: Byte, _) => Some(v.toLong)
      case Literal(v: Short, _) => Some(v.toLong)
      case Literal(v: Int, _) => Some(v.toLong)
      case Literal(v: Long, _) => Some(v)
      case _ => None
    }
    def isCol(e: Expression): Boolean = e match {
      case a: AttributeReference => a.name == column
      case _ => false
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    var lo = Long.MinValue
    var hi = Long.MaxValue
    var found = false
    conjuncts(cond).foreach {
      case EqualTo(c, v) if isCol(c) => lit(v).foreach { x =>
        lo = math.max(lo, x); hi = math.min(hi, x); found = true }
      case EqualTo(v, c) if isCol(c) => lit(v).foreach { x =>
        lo = math.max(lo, x); hi = math.min(hi, x); found = true }
      case GreaterThanOrEqual(c, v) if isCol(c) =>
        lit(v).foreach { x => lo = math.max(lo, x); found = true }
      case GreaterThan(c, v) if isCol(c) =>
        lit(v).foreach { x => lo = math.max(lo, x + 1); found = true }
      case LessThanOrEqual(c, v) if isCol(c) =>
        lit(v).foreach { x => hi = math.min(hi, x); found = true }
      case LessThan(c, v) if isCol(c) =>
        lit(v).foreach { x => hi = math.min(hi, x - 1); found = true }
      case GreaterThanOrEqual(v, c) if isCol(c) => // lit >= col ⟺ col <= lit
        lit(v).foreach { x => hi = math.min(hi, x); found = true }
      case GreaterThan(v, c) if isCol(c) =>
        lit(v).foreach { x => hi = math.min(hi, x - 1); found = true }
      case LessThanOrEqual(v, c) if isCol(c) =>
        lit(v).foreach { x => lo = math.max(lo, x); found = true }
      case LessThan(v, c) if isCol(c) =>
        lit(v).foreach { x => lo = math.max(lo, x + 1); found = true }
      case _ => ()
    }
    if (found) Some((lo, hi)) else None
  }

  /** Conjunctive [lo, hi] bounds on a STRING `column` from =, <, <=, >,
    * >= against string literals (either side). Strict comparisons relax
    * to inclusive — sound for pruning (over-keep, never over-prune);
    * None of a side means unbounded. None overall when no conjunct
    * constrains the column. */
  private[plans] def extractBoundsStr(cond: Expression,
      column: String): Option[(Option[String], Option[String])] = {
    def lit(e: Expression): Option[String] = e match {
      case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) =>
        Some(v.toString)
      case Literal(v: String, _) => Some(v)
      case _ => None
    }
    def isCol(e: Expression): Boolean = e match {
      case a: AttributeReference => a.name == column
      case _ => false
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    var lo: Option[String] = None
    var hi: Option[String] = None
    var found = false
    def raiseLo(x: String): Unit = {
      if (lo.forall(_ < x)) lo = Some(x); found = true
    }
    def lowerHi(x: String): Unit = {
      if (hi.forall(_ > x)) hi = Some(x); found = true
    }
    conjuncts(cond).foreach {
      case EqualTo(c, v) if isCol(c) =>
        lit(v).foreach { x => raiseLo(x); lowerHi(x) }
      case EqualTo(v, c) if isCol(c) =>
        lit(v).foreach { x => raiseLo(x); lowerHi(x) }
      case GreaterThanOrEqual(c, v) if isCol(c) => lit(v).foreach(raiseLo)
      case GreaterThan(c, v) if isCol(c) => lit(v).foreach(raiseLo)
      case LessThanOrEqual(c, v) if isCol(c) => lit(v).foreach(lowerHi)
      case LessThan(c, v) if isCol(c) => lit(v).foreach(lowerHi)
      case GreaterThanOrEqual(v, c) if isCol(c) => lit(v).foreach(lowerHi)
      case GreaterThan(v, c) if isCol(c) => lit(v).foreach(lowerHi)
      case LessThanOrEqual(v, c) if isCol(c) => lit(v).foreach(raiseLo)
      case LessThan(v, c) if isCol(c) => lit(v).foreach(raiseLo)
      case _ => ()
    }
    if (found) Some((lo, hi)) else None
  }

  /** Idempotently install the rule on a session's experimental optimizer
    * list and LEAVE it installed. `extraOptimizations` is session-global
    * mutable state: concurrent save-mutate-restore scoping (a gate and a
    * spec racing on the shared session) can clobber each other's
    * installs mid-query — observed as the rule silently not firing. The
    * rule is fail-safe by construction (prunes only validated
    * sidecar-carrying scans), so permanent installation is the correct
    * lifecycle, matching how [[graft.GraftExtensions]] injects it. */
  def ensureInstalled(spark: org.apache.spark.sql.SparkSession): Unit =
    RuleInstall.ensure(spark)(_.isInstanceOf[StatsFilePrune],
      new StatsFilePrune)
}

/** ONE lock for every idempotent rule install: two companions each
  * synchronizing on THEMSELVES still lose updates when they interleave
  * on the same session's `extraOptimizations` (read-[], read-[],
  * write-[A], write-[B] — A's install vanishes; observed as a rule
  * silently not firing when two spec suites ran in parallel). */
private[plans] object RuleInstall {
  def ensure(spark: org.apache.spark.sql.SparkSession)(
      installed: Rule[LogicalPlan] => Boolean,
      mk: => Rule[LogicalPlan]): Unit = synchronized {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(installed))
      spark.experimental.extraOptimizations = cur :+ mk
  }
}

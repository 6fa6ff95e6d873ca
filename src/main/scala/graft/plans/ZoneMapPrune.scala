package graft.plans

import org.apache.spark.sql.SparkSession

/** D183 zone-map pruning. `Zone` columns are columns of the table's one
  * bounds plane, and [[StatsFilePrune]] prunes on every column of that
  * plane — a filter over a stats AND a zone column must be narrowed by
  * both at once, which one rule does and two rules in one batch do not.
  * This alias keeps the install calls of zone-map users working. */
object ZoneMapPrune {
  def ensureInstalled(spark: SparkSession): Unit =
    StatsFilePrune.ensureInstalled(spark)
}

package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Pipeline benchmark of the graft engine.
  *
  * {{{
  * Main --workload full_load|incremental_merge|stage_query|train --seed N
  *      --seconds S --trace 0|1 --work DIR --data SF_DIR
  * }}}
  *
  * Prints progress on stderr, one detail line (the workload's own named
  * metrics, input properties, checks) and, last, the result line:
  * `{"correct", "attempted", "failed", "metrics"}` with the end-to-end
  * metrics (`--trace 0`) or the per-layer metrics of a traced run
  * (`--trace 1`). Exits 1 when any output was wrong. `train` runs both
  * contract workloads on tiny inputs and prints nothing (the JVM's
  * class-data-sharing archive is dumped from it).
  */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_s_p50" -> "s", "ops_per_s" -> "1/s",
    "lookup_s_p50" -> "s", "stage_bytes_per_row" -> "B/row")

  /** Unit of a per-layer metric, from its name. */
  def layerUnit(name: String): String = {
    val segs = name.split('.').toSeq
    if (segs.exists(g => g == "s" || g.endsWith("_s") || g.contains("_s_"))) "s"
    else if (segs.exists(_.contains("bytes"))) "B"
    else if (segs.exists(_.endsWith("_mb"))) "MB"
    else if (Seq("ratio", "overlap", "frac", "per_row").exists(name.contains))
      "ratio"
    else "count"
  }

  /** The one place the session's optimizer rules are installed: the
    * stats-sidecar and zone-map pruning rules plain stage reads rely on. */
  def installRules(spark: SparkSession): Unit = {
    graft.plans.StatsFilePrune.ensureInstalled(spark)
    graft.plans.ZoneMapPrune.ensureInstalled(spark)
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = a.getOrElse("workload", "")
    require(Seq("full_load", "incremental_merge", "stage_query", "train")
      .contains(workload), s"unknown workload '$workload'")
    val work = Paths.get(a("work")).toAbsolutePath.normalize()
    Files.createDirectories(work)
    val nproc = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = SparkEntry.configure(SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    installRules(spark)
    Trace.init(spark)
    val trace = a.getOrElse("trace", "0") == "1"
    val listener = new JobListener
    val clockOffsetNs =
      System.nanoTime() - System.currentTimeMillis() * 1000000L
    if (trace) spark.sparkContext.addSparkListener(listener)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val c = Ctx(spark, a("data"), work, a.getOrElse("seed", "1").toLong,
      a.getOrElse("seconds", "10").toInt, trace, nproc)
    if (workload == "train") {
      // class-data-sharing training: both workloads on tiny inputs
      IncrementalMerge.run(c.copy(seconds = 0))
      StageQuery.run(c.copy(seconds = 0))
      spark.stop()
      sys.exit(0)
    }
    val out = workload match {
      case "full_load" => FullLoad.run(c)
      case "incremental_merge" => IncrementalMerge.run(c)
      case "stage_query" => StageQuery.run(c)
    }
    val layers: Map[String, Double] = if (!trace) Map.empty else {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val lat = Bench.opLat.toSeq
      Report.layers(listener, clockOffsetNs, lat.filter(_._2).map(_._1),
        lat.filterNot(_._2).map(_._1), Bench.gcS, Bench.heapPeakMb, lat.size)
    }
    val metrics: Seq[(String, Any)] =
      if (!trace) EndToEnd.map { case (k, u) =>
        k -> Map("value" -> out.e2e(k), "unit" -> u) }
      else layers.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Map("value" -> v, "unit" -> layerUnit(k)) }
    // traced runs: the layers' self times must cover the traced wall
    // time (no layer unattributed), and the aggregate must bypass pruning
    val traceChecks: Map[String, Any] = if (!trace) Map.empty else Map(
      "self_times_cover_wall" -> (layers("trace.attributed_frac") >= 0.9),
      "agg_prune_ratio_zero" -> (layers("plans.prune_ratio.agg") == 0.0))
    val failFrac = out.failed.toDouble / math.max(1L, out.attempted)
    println("{\"detail\":" + Json.obj(Seq(
      "workload" -> workload, "seed" -> c.seed, "seconds" -> c.seconds,
      "trace" -> trace, "nproc" -> nproc, "session_s" -> sessionS,
      "fail_frac" -> failFrac, "metrics" -> out.named,
      "inputs" -> out.inputs, "trace_checks" -> traceChecks,
      "op_s" -> Bench.opLat.map(_._1).toSeq)) + "}")
    println(Json.obj(Seq("correct" -> (out.failed == 0),
      "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> RawJson(Json.obj(metrics)))))
    System.out.flush()
    spark.stop()
    sys.exit(if (out.failed == 0) 0 else 1)
  }
}

/** Already-encoded JSON, emitted verbatim. */
final case class RawJson(s: String)

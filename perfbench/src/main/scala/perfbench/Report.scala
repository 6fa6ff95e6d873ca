package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

/** Counters the workloads record at layer boundaries during traced ops
  * (directory diffs, returned rows, pruning counts, probe timings). */
object Probe {
  private val m = mutable.Map[String, Double]().withDefaultValue(0.0)
  def add(k: String, v: Double): Unit =
    if (Trace.on) m.synchronized { m(k) += v }
  def put(k: String, v: Double): Unit = m.synchronized { m(k) = v }
  def get(k: String): Double = m.synchronized(m(k))
}

/** A read of a stage table, planned and executed the way a user's
  * DataFrame query is: `spark.read.parquet` then an action. Traced, the
  * read and planning (file listing, pruning rules' sidecar loads,
  * physical planning) are the `plans` span and the action the `query`
  * span; the planned file count is recorded after the clock stops. */
object Query {
  val Kinds = Seq("lookup", "range", "agg", "ryw")

  def run(c: Ctx, kind: String, stage: java.nio.file.Path)
      (build: DataFrame => DataFrame): (Array[Row], Double) = {
    var df: DataFrame = null
    val t0 = System.nanoTime()
    val rows = Trace.span(s"op.$kind", "bench") {
      if (Trace.on) {
        df = Trace.span("plans.plan", "plans") {
          val d = build(c.spark.read.parquet(stage.toString))
          d.queryExecution.executedPlan
          d
        }
        Trace.span("query.exec", "query")(df.collect())
      } else build(c.spark.read.parquet(stage.toString)).collect()
    }
    val s = (System.nanoTime() - t0) / 1e9
    if (Trace.on) {
      Probe.add(s"plans.files_read.$kind", Plans.filesRead(df).toDouble)
      Probe.add(s"plans.files_total.$kind", Fs.dataFiles(stage).size.toDouble)
    }
    (rows, s)
  }
}

/** Per-layer metrics of a traced run, from spans, the job listener and
  * the probe counters. A layer's additive metrics are per traced root
  * span that exercised the layer (a cycle, a load, a query); the plans
  * and query metrics are per query of each kind; spark.* per root. */
object Report {

  /** Layer of a job inside a fused engine call, from the engine file of
    * its innermost engine frame. */
  private def siteLayer(site: String): String = site match {
    case "StageWriter" => "sink.commit"
    case "Sidecars" | "ZoneMap" | "Layout" | "MetadataAgg" | "Par" =>
      "sink.sidecar"
    case _ => "transform"
  }

  private def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { total += b - math.max(a, end); end = b }
    }
    total / 1e9
  }

  def layers(listener: JobListener, clockOffsetNs: Long, tracedLat: Seq[Double],
      untracedLat: Seq[Double], gcS: Double, heapPeakMb: Double,
      opsAll: Int): Map[String, Double] = {
    val spans = Trace.spans
    val byId = spans.map(s => s.id -> s).toMap
    def ns(ms: Long) = ms * 1000000L + clockOffsetNs
    val jobs = listener.jobs.values.toSeq.filter(j => byId.contains(j.span))
    def jobLayer(j: JobRec): String = {
      val s = byId(j.span)
      if (s.fused) siteLayer(j.site)
      else if (s.name == "sink.declare") "sink.sidecar"
      else s.layer
    }
    // fused calls: each job of another layer becomes a child span
    val synth = jobs.flatMap { j =>
      val s = byId(j.span)
      val l = jobLayer(j)
      val (a, b) = (math.max(s.t0, ns(j.t0)), math.min(s.t1, ns(j.t1)))
      if (s.fused && l != s.layer && b > a)
        Some(Trace.Span(Trace.nextId(), s.id, l, "sink", false, a, b))
      else None
    }
    val all = spans ++ synth
    val self = Trace.selfTimes(all)
    val allById = all.map(s => s.id -> s).toMap
    val rootMemo = mutable.Map[Int, Int]()
    def rootOf(id: Int): Int = rootMemo.getOrElseUpdate(id,
      allById.get(id).filter(_.parent != 0).fold(id)(s => rootOf(s.parent)))
    val roots = spans.filter(_.parent == 0)
    def rootsWith(layer: String): Double = math.max(1,
      all.filter(_.layer == layer).map(s => rootOf(s.id)).distinct.size)
    val m = mutable.LinkedHashMap[String, Double]()
    def dur(s: Trace.Span) = (s.t1 - s.t0) / 1e9
    def named(n: String) = all.filter(_.name == n)
    def durSum(n: String) = named(n).map(dur).sum
    def layerJobs(l: String) = jobs.filter(j => jobLayer(j).startsWith(l))
    def per(layer: String, x: Double) = x / rootsWith(layer)
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    def unionUnder(n: String) =
      synth.filter(_.name == n).groupBy(_.parent).values
        .map(ss => union(ss.map(s => (s.t0, s.t1)))).sum

    m("run.group_s") = per("run", durSum("run.group"))
    m("run.table_s_sum") = per("run", durSum("bench.table"))
    m("run.overlap") = ratio(m("run.table_s_sum"), m("run.group_s"))

    val ex = layerJobs("extract")
    m("extract.s") = per("extract", durSum("extract"))
    m("extract.rows_in") =
      per("extract", ex.map(_.agg.inRecords).sum.toDouble)
    m("extract.rows_out") = per("extract", Probe.get("extract.rows_out"))
    m("extract.select_ratio") =
      ratio(m("extract.rows_out"), m("extract.rows_in"))
    m("extract.raw_bytes") = per("extract", Probe.get("extract.raw_bytes"))
    m("extract.raw_files") = per("extract", Probe.get("extract.raw_files"))
    m("extract.cpu_s") = per("extract", ex.map(_.agg.cpuNs).sum / 1e9)

    val st = all.filter(_.layer == "state")
    m("state.ops") = per("state", st.size.toDouble)
    m("state.s") = per("state", st.map(dur).sum)

    m("transform.s") = per("transform", durSum("transform"))
    m("transform.dedup_drop_ratio") = Probe.get("transform.dedup_drop_ratio")
    // the transform is lazy: its dedup shuffle runs inside the sink's
    // write action, so count every job of the fused call
    m("transform.shuffle_bytes") = per("transform",
      jobs.filter(j => byId(j.span).fused).map(_.agg.shuffleBytes).sum
        .toDouble)
    m("transform.raw_cache_s") = Probe.get("transform.raw_cache_s")
    m("transform.dsl_s") = Probe.get("transform.dsl_s")
    m("transform.dedup_s") = Probe.get("transform.dedup_s")

    m("sink.commit_s") = per("sink", unionUnder("sink.commit"))
    val sj = layerJobs("sink")
    m("sink.bytes_written") = per("sink", sj.map(_.agg.outBytes).sum.toDouble)
    m("sink.files_written") = per("sink", sj.map(_.agg.outFiles).sum.toDouble)
    m("sink.merge_files_rewritten") =
      per("sink", Probe.get("sink.merge_files_rewritten"))
    m("sink.merge_files_total") =
      per("sink", Probe.get("sink.merge_files_total"))
    m("sink.targeted_ratio") = if (m("sink.merge_files_total") > 0)
      1.0 - m("sink.merge_files_rewritten") / m("sink.merge_files_total")
      else 0.0
    m("sink.sidecar_s") =
      per("sink", unionUnder("sink.sidecar") + durSum("sink.declare"))
    m("sink.sidecar_jobs") =
      per("sink", layerJobs("sink.sidecar").size.toDouble)
    m("sink.sidecar_bytes") = per("sink", Probe.get("sink.sidecar_bytes"))
    m("sink.optimize_s") = per("sink", durSum("sink.optimize"))
    m("sink.files_before") = per("sink", Probe.get("sink.files_before"))
    m("sink.files_after") = per("sink", Probe.get("sink.files_after"))

    Query.Kinds.foreach { k =>
      val opSpans = named(s"op.$k").map(_.id).toSet
      val n = math.max(1, opSpans.size).toDouble
      def under(name: String) = all.filter(s => s.name == name &&
        opSpans.contains(s.parent))
      val exec = under("query.exec").map(_.id).toSet
      val qj = jobs.filter(j => exec.contains(j.span))
      val read = Probe.get(s"plans.files_read.$k")
      val total = Probe.get(s"plans.files_total.$k")
      m(s"plans.plan_s.$k") = under("plans.plan").map(dur).sum / n
      m(s"plans.files_read.$k") = read / n
      m(s"plans.files_total.$k") = total / n
      m(s"plans.prune_ratio.$k") = if (total > 0) 1.0 - read / total else 0.0
      m(s"query.exec_s.$k") = under("query.exec").map(dur).sum / n
      m(s"query.bytes_read.$k") = qj.map(_.agg.inBytes).sum / n
      m(s"query.rows_scanned_per_row_returned.$k") =
        if (opSpans.isEmpty) 0.0
        else qj.map(_.agg.inRecords).sum /
          math.max(1.0, Probe.get(s"query.returned.$k"))
    }

    val agg = new JobAgg
    jobs.foreach(j => agg += j.agg)
    def perRoot(x: Double) = x / math.max(1, roots.size)
    m("spark.jobs") = perRoot(jobs.size.toDouble)
    m("spark.tasks") = perRoot(agg.tasks.toDouble)
    m("spark.task_run_s") = perRoot(agg.runMs / 1e3)
    m("spark.task_cpu_s") = perRoot(agg.cpuNs / 1e9)
    m("spark.sched_wait_s") = perRoot(agg.schedMs / 1e3)
    m("spark.shuffle_write_bytes") = perRoot(agg.shuffleBytes.toDouble)
    m("spark.shuffle_records") = perRoot(agg.shuffleRecords.toDouble)
    m("spark.spill_bytes") = perRoot(agg.spill.toDouble)
    m("jvm.gc_s") = gcS / math.max(1, opsAll)
    m("jvm.heap_peak_mb") = heapPeakMb

    val layerNames = Seq("run", "extract", "state", "transform", "sink",
      "plans", "query", "bench")
    val selfBy = all.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => self.getOrElse(s.id, 0.0)).sum }
    layerNames.foreach(l => m(s"self_s.$l") =
      selfBy.getOrElse(l, 0.0) / rootsWith(l))
    // traced wall: every root span (ops and the reads between them)
    val wall = roots.map(dur).sum
    val selfSum = selfBy.values.sum
    m("trace.ops") = tracedLat.size.toDouble
    m("trace.wall_s") = perRoot(wall)
    m("trace.self_sum_frac") = ratio(selfSum, wall)
    m("trace.attributed_frac") =
      ratio(selfSum - selfBy.getOrElse("bench", 0.0), wall)
    val over = Stats.median(tracedLat) - Stats.median(untracedLat)
    m("trace.overhead_s") = if (over.isNaN) 0.0 else over
    m("trace.overhead_frac") =
      if (over.isNaN) 0.0 else ratio(over, Stats.median(untracedLat))
    m.toMap
  }
}

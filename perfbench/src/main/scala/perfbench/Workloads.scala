package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.config.{ColumnMetadata, LoadMode}
import graft.run.{GroupScheduler, TablePipeline}
import graft.sink.{Sidecars, StageWriter}
import graft.state.FileWatermarkStore
import graft.transform.TransformationEngine

/** Shared run structure: repeated set-up, the closed loop, the checks. */
object Bench {
  /** Stage files are optimized to this size, so a table spans enough
    * files for pruning to matter. */
  val FileBytes: Long = 256L << 10
  /** Timed set-ups per run, after one untimed warm-up set-up. */
  val SetupReps = 2

  /** Latency of every timed op, and whether it was traced. */
  val opLat = ArrayBuffer[(Double, Boolean)]()
  var gcS = 0.0
  var heapPeakMb = 0.0
  var attempted = 0L
  var failed = 0L

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[perfbench] WRONG: $what") }
  }

  /** Warm the JVM with one untimed set-up on tiny inputs followed by
    * `warm` (a few of the workload's own ops on them), then run `f`
    * `reps` times, each in a fresh directory, and keep the last state.
    * Returns it with the median set-up time. In a traced run the last
    * set-up is traced (its engine calls are the load the stage comes
    * from). */
  def setups[S](c: Ctx, reps: Int, traceLast: Boolean = false)
      (f: (Ctx, Path) => S)(warm: (Ctx, S) => Unit): (S, Double) = {
    val wdir = c.work.resolve("warm")
    Files.createDirectories(wdir)
    val tw = System.nanoTime()
    val tiny = c.copy(sample = c.sample * 16)
    val tinyState = f(tiny, wdir)
    warm(tiny, tinyState)
    // a training run (no timed part) only exercises the code paths
    if (c.seconds == 0) return (tinyState, 0.0)
    Fs.deleteRecursively(wdir)
    System.err.println(
      f"[perfbench] warm-up: ${(System.nanoTime() - tw) / 1e9}%.3f s")
    val times = ArrayBuffer[Double]()
    var last: Option[Path] = None
    var state: Option[S] = None
    (0 until reps).foreach { r =>
      last.foreach(Fs.deleteRecursively)
      val dir = c.work.resolve(s"setup$r")
      Files.createDirectories(dir)
      Trace.on = c.trace && traceLast && r == reps - 1
      val t0 = System.nanoTime()
      try state = Some(f(c, dir)) finally Trace.on = false
      times += (System.nanoTime() - t0) / 1e9
      last = Some(dir)
      System.err.println(f"[perfbench] setup $r: ${times.last}%.3f s")
    }
    attempted = 0; failed = 0; opLat.clear()
    (state.get, Stats.median(times.toSeq))
  }

  private def gcTime(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  /** Closed loop with one client: `op(i)` until `seconds` have passed
    * (at least two ops). In a traced run every odd op is traced, so the
    * even ones measure the same loop untraced. */
  def loop(c: Ctx)(op: Int => Unit): Int = {
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heap.foreach(_.resetPeakUsage())
    val gc0 = gcTime()
    val deadline = System.nanoTime() + c.seconds * 1000000000L
    var i = 0
    while (i < 2 || System.nanoTime() < deadline) { op(i); i += 1 }
    gcS = gcTime() - gc0
    heapPeakMb = heap.map(_.getPeakUsage.getUsed).sum / 1048576.0
    i
  }

  def traced(c: Ctx, i: Int): Boolean = c.trace && i % 2 == 1

  /** Time `body` as op `i` of the loop, traced when its turn. */
  def timedOp[T](c: Ctx, i: Int)(body: => T): (T, Double) = {
    Trace.on = traced(c, i)
    try {
      val t0 = System.nanoTime()
      val r = body
      val s = (System.nanoTime() - t0) / 1e9
      opLat += ((s, Trace.on))
      (r, s)
    } finally Trace.on = false
  }

  /** Run `body` with tracing as for op `i` (reads that follow an op). */
  def asOp[T](c: Ctx, i: Int)(body: => T): T = {
    Trace.on = traced(c, i)
    try body finally Trace.on = false
  }

  def writeSource(df: DataFrame, c: Ctx, p: Path): Unit =
    df.repartition(c.nproc, col("numdoc")).write.parquet(p.toString)

  /** The stage table holds exactly one row per source key, carrying the
    * key's newest version (plain Spark over the generated source). */
  def checkStage(c: Ctx, src: Path, stage: Path, what: String): Unit = {
    val cols = Seq("chg_seq", "lastmodifydate", "id_compania", "monto")
    val exp = Gen.newest(c.spark.read.parquet(src.toString))
      .select((col("id") +: cols.map(k => col(k).as(s"e_$k"))): _*)
    val got = c.spark.read.parquet(stage.toString)
      .withColumn("monto", col("monto").cast("decimal(18,2)"))
      .select((col("id") +: cols.map(k => col(k).as(s"g_$k"))): _*)
    // one row per key on both sides: any missing, extra, duplicate or
    // differing row shows as a bad row of the full outer join
    val bad = exp.join(got, Seq("id"), "full_outer")
      .where(cols.map(k => !col(s"e_$k").eqNullSafe(col(s"g_$k")))
        .reduce(_ || _) || col("id").isNull).count()
    val dups = got.groupBy("id").count().where(col("count") > 1).count()
    check(bad == 0 && dups == 0,
      s"$what: $bad rows differ from the newest source version" +
        s", $dups duplicated keys")
  }

  /** Transform probes on raw inputs (traced runs only): read + cache +
    * count, the DSL select, and dedup-latest over it minus the select,
    * each materialized to the noop sink after one untimed pass. */
  def transformProbes(c: Ctx, raws: Seq[(Path, Seq[ColumnMetadata])]): Unit = {
    var rawN = 0L; var dedupN = 0L
    var cacheS = 0.0; var dslS = 0.0; var dedupS = 0.0
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    raws.foreach { case (p, meta) =>
      var raw: DataFrame = null
      cacheS += time { raw = c.spark.read.parquet(p.toString).cache()
        rawN += raw.count() }
      try {
        val applied = TransformationEngine.apply(raw, meta, Some(Gen.Now))
        val deduped = TransformationEngine.dedupLatest(applied,
          meta.filter(_.isId).map(_.columnName),
          meta.filter(_.isFilterDate).map(_.columnName))
        def noop(df: DataFrame) =
          time(df.write.format("noop").mode("overwrite").save())
        noop(applied); noop(deduped) // compile and warm both plans
        val d = noop(applied)
        dslS += d
        dedupS += noop(deduped) - d
        dedupN += deduped.count()
      } finally raw.unpersist()
    }
    Probe.put("transform.raw_cache_s", cacheS)
    Probe.put("transform.dsl_s", dslS)
    Probe.put("transform.dedup_s", dedupS)
    Probe.put("transform.dedup_drop_ratio",
      if (rawN > 0) 1.0 - dedupN.toDouble / rawN else 0.0)
  }

  def extracted(raw: Path, rows: Long): Unit = {
    Probe.add("extract.rows_out", rows.toDouble)
    Probe.add("extract.raw_bytes", Fs.size(raw).toDouble)
    Probe.add("extract.raw_files", Fs.dataFiles(raw).size.toDouble)
  }

  def sidecarBytes(stage: Path): Unit =
    Probe.add("sink.sidecar_bytes", Fs.sidecars(stage).map(Files.size).sum
      .toDouble)

  def lookup(c: Ctx, kind: String, stage: Path, key: Long,
      expected: Option[Long]): Double = {
    val (rows, s) = Query.run(c, kind, stage)(
      _.filter(col("id") === key).select("chg_seq"))
    Probe.add(s"query.returned.$kind", rows.length.toDouble)
    check(rows.map(_.getLong(0)).toSeq == expected.toSeq,
      s"$kind id=$key: expected ${expected.getOrElse("no row")}, got " +
        rows.map(_.getLong(0)).mkString(","))
    s
  }

  def stageRows(c: Ctx, stage: Path): Long =
    c.spark.read.parquet(stage.toString).count()

  def medianOr0(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs)

  def tailEntries(name: String, xs: Seq[Double]): Map[String, Double] =
    Stats.tail(xs).fold(Map[String, Double]()) { case (p, v) =>
      Map(s"${name}_tail" -> v, s"${name}_tail_pct" -> p.toDouble) }
}

/** `full_load`: one INITIAL process group of five tables through the
  * group scheduler, each extracted, transformed and optimized; reads of
  * the produced lineitem stage follow every group run. */
object FullLoad {
  val Tables = Seq("orders" -> true, "lineitem" -> true,
    "customer" -> false, "part" -> false, "supplier" -> false)
  val LookupsPerRun = 10

  final case class St(dir: Path, rows: Map[String, Long],
      maxSeq: Map[String, Long], lookups: IndexedSeq[(Long, Option[Long])],
      store: TracedStore)

  private def source(c: Ctx, t: String): DataFrame = t match {
    case "orders" => Gen.orders(c.spark, c.sf, c.seed, c.sample)
    case "lineitem" => Gen.lineitem(c.spark, c.sf, c.seed, c.sample)
    case m => Gen.master(c.spark, c.sf, c.seed, m, c.sample)
  }

  def setup(c: Ctx, dir: Path): St = {
    val stats = Tables.map { case (t, _) =>
      val p = dir.resolve("src").resolve(t)
      Bench.writeSource(source(c, t), c, p)
      val r = c.spark.read.parquet(p.toString)
        .agg(count(lit(1)), max("chg_seq")).head()
      t -> (r.getLong(0), r.getLong(1))
    }.toMap
    // lookup keys: a seeded sample of present lines and, for every
    // fifth, the same order's line 0, which no source row has
    val present = Gen.newest(c.spark.read.parquet(
        dir.resolve("src").resolve("lineitem").toString))
      .where(Gen.pick(c.seed, "fl-lookup", 400, col("id")) === 0)
      .select("id", "chg_seq").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val lookups = (0 until 200).map { j =>
      val (id, seq) = present(Gen.pickL(c.seed, "fl-key", present.length, j)
        .toInt)
      if (j % 5 == 4) (id - id % 64, None) else (id, Some(seq))
    }
    St(dir, stats.map { case (t, v) => t -> v._1 },
      stats.map { case (t, v) => t -> v._2 }, lookups,
      new TracedStore(new FileWatermarkStore(dir.resolve("wm").toString)))
  }

  /** Group runs against one set-up, with their recorders. */
  final class Groups(c: Ctx, st: St) {
    val groupLat = ArrayBuffer[Double]()
    val lookLat = ArrayBuffer[Double]()
    def group(i: Int, gen: Path): Unit = {
      val jobs = Tables.map { case (t, transactional) =>
        val src = st.dir.resolve("src").resolve(t)
        val raw = gen.resolve("raw").resolve(t)
        val stage = gen.resolve("stage").resolve(t)
        val cfg = Gen.tableConfig(t, transactional)
        val meta = Gen.meta(t)
        t -> (() => Trace.span("bench.table", "bench") {
          val n = Trace.span("extract", "extract") {
            TablePipeline.extract(c.spark, src.toString, raw.toString, cfg,
              LoadMode.Initial, c.clock, c.zone, Some(st.store))
          }
          val (rows, status) = Trace.span("transform", "transform",
              fused = true) {
            TablePipeline.transformWithStatus(c.spark, raw.toString,
              stage.toString, cfg, meta, Some(Gen.Now))
          }
          val rep = Trace.span("sink.optimize", "sink") {
            StageWriter.optimize(c.spark, stage.toString, Bench.FileBytes,
              statsColumn = Some("id"))
          }
          Bench.extracted(raw, n)
          Probe.add("sink.files_before", rep.filesBefore.toDouble)
          Probe.add("sink.files_after", rep.filesAfter.toDouble)
          Bench.sidecarBytes(stage)
          (rows, status)
        })
      }
      val (recs, s) = Bench.timedOp(c, i) {
        Trace.span("bench.op", "bench") {
          Trace.span("run.group", "run") {
            GroupScheduler.runDetailed(jobs, maxConcurrency = c.nproc)
          }
        }
      }
      groupLat += s
      recs.foreach(r => Bench.check(r.status == "SUCCESS",
        s"run record ${r.table}: ${r.status} ${r.error}"))
      Seq("orders", "lineitem").foreach { t =>
        val wm = st.store.lastConfirmed("default", t, "chg_seq")
        Bench.check(wm.contains(st.maxSeq(t).toString),
          s"$t watermark $wm, source max ${st.maxSeq(t)}")
      }
      val stage = gen.resolve("stage").resolve("lineitem")
      Bench.asOp(c, i) {
        (0 until LookupsPerRun).foreach { j =>
          val (k, exp) = st.lookups((i * LookupsPerRun + j) %
            st.lookups.size)
          lookLat += Bench.lookup(c, "lookup", stage, k, exp)
        }
      }
    }
  }

  def run(c: Ctx): Outcome = {
    val (st, setupS) = Bench.setups(c, Bench.SetupReps)(setup) { (tiny, s) =>
      new Groups(tiny, s).group(0, s.dir.resolve("gen-warm")) }
    val g = new Groups(c, st)
    var lastGen: Path = null
    val n = Bench.loop(c) { i =>
      val gen = st.dir.resolve(s"gen$i")
      g.group(i, gen)
      if (lastGen != null) Fs.deleteRecursively(lastGen)
      lastGen = gen
    }
    val (groupLat, lookLat) = (g.groupLat, g.lookLat)
    Tables.foreach { case (t, _) =>
      Bench.checkStage(c, st.dir.resolve("src").resolve(t),
        lastGen.resolve("stage").resolve(t), s"stage_$t")
    }
    if (c.trace) Bench.transformProbes(c, Tables.map { case (t, _) =>
      (lastGen.resolve("raw").resolve(t), Gen.meta(t)) })
    val stages = Tables.map { case (t, _) =>
      lastGen.resolve("stage").resolve(t) }
    val stageRows = stages.map(Bench.stageRows(c, _)).sum
    val bytesPerRow = stages.map(Fs.tableBytes).sum.toDouble / stageRows
    val srcRows = st.rows.values.sum
    val named = Map(
      "load_rows_per_s" -> srcRows * n / groupLat.sum,
      "stage_bytes_per_row" -> bytesPerRow,
      "group_s_p50" -> Stats.median(groupLat.toSeq),
      "lookup_s_p50" -> Stats.median(lookLat.toSeq),
      "group_runs" -> n.toDouble)
    Outcome(Bench.attempted, Bench.failed, Map(
      "setup_s" -> setupS,
      "op_s_p50" -> Stats.median(groupLat.toSeq),
      "ops_per_s" -> n / groupLat.sum,
      "lookup_s_p50" -> Stats.median(lookLat.toSeq),
      "stage_bytes_per_row" -> bytesPerRow), named, Map(
      "source_rows" -> st.rows, "stage_rows" -> stageRows,
      "versions_per_key" -> st.rows("lineitem").toDouble /
        Bench.stageRows(c, lastGen.resolve("stage").resolve("lineitem")),
      "group_concurrency" -> c.nproc, "lookups_per_group_run" -> LookupsPerRun,
      "lookup_miss_share" -> 0.2))
  }
}

/** `incremental_merge`: NORMAL-mode cycles against a growing orders
  * source, each extract → CAS MERGE, then a read-your-write lookup. */
object IncrementalMerge {
  val DeltaShare = 0.01
  val NewShare = 0.7
  /** Read-your-write lookups of just-merged keys after each commit. */
  val RywLookups = 3
  /** One order in eight is kept (the base the deltas merge into). */
  val Sample = 8

  final class St(val dir: Path, val src: Path, val raw: Path,
      val stage: Path, val store: TracedStore, var maxKey: Long,
      var maxSeq: Long, val baseRows: Long)

  val Table = "orders"
  lazy val cfg = Gen.tableConfig(Table, transactional = true)
  lazy val meta = Gen.meta(Table)

  def setup(c: Ctx, dir: Path): St = {
    val src = dir.resolve("src").resolve(Table)
    Bench.writeSource(Gen.orders(c.spark, c.sf, c.seed, c.sample), c, src)
    val r = c.spark.read.parquet(src.toString)
      .agg(count(lit(1)), max("numdoc"), max("chg_seq")).head()
    val st = new St(dir, src, dir.resolve("raw").resolve(Table),
      dir.resolve("stage").resolve(Table),
      new TracedStore(new FileWatermarkStore(dir.resolve("wm").toString)),
      r.getLong(1), r.getLong(2), r.getLong(0))
    TablePipeline.extract(c.spark, src.toString, st.raw.toString, cfg,
      LoadMode.Initial, c.clock, c.zone, Some(st.store))
    TablePipeline.transform(c.spark, st.raw.toString, st.stage.toString, cfg,
      meta, Some(Gen.Now))
    StageWriter.optimize(c.spark, st.stage.toString, Bench.FileBytes / 4,
      statsColumn = Some("id"))
    Sidecars.declare(c.spark, st.stage.toString, Seq(Sidecars.Stats("id"),
      Sidecars.Zone(Seq("lastmodifydate", "id_compania")),
      Sidecars.Bloom("id")))
    st
  }

  /** The timed cycles of one run, with their recorders. */
  final class Cycles(c: Ctx, st: St) {
    val nDelta = math.round(st.baseRows * DeltaShare).toInt
    val nNew = math.round(nDelta * NewShare).toInt
    val nUpd = nDelta - nNew
    val cycleLat = ArrayBuffer[Double]()
    val rywLat = ArrayBuffer[Double]()
    var written = 0L
    var rawBytes = 0L

    def cycle(i: Int): Unit = {
      val (delta, keys, seq0) = Gen.ordersDelta(c.spark, c.seed, i, st.maxKey,
        st.maxSeq, nNew, nUpd)
      delta.coalesce(1).write.mode("append").parquet(st.src.toString)
      st.maxKey += nNew
      st.maxSeq = seq0 + keys.size - 1
      val before = Fs.snapshot(st.stage)
      var n = -1L
      val job = () => Trace.span("bench.table", "bench") {
        n = Trace.span("extract", "extract") {
          TablePipeline.extract(c.spark, st.src.toString, st.raw.toString,
            cfg, LoadMode.Normal, c.clock, c.zone, Some(st.store))
        }
        Trace.span("transform", "transform", fused = true) {
          TablePipeline.transformWithStatus(c.spark, st.raw.toString,
            st.stage.toString, cfg, meta, Some(Gen.Now))
        }
      }
      // the NORMAL process group: one table, one client
      val (recs, s) = Bench.timedOp(c, i) {
        Trace.span("bench.cycle", "bench") {
          Trace.span("run.group", "run") {
            GroupScheduler.runDetailed(Seq(Table -> job), maxConcurrency = 1)
          }
        }
      }
      cycleLat += s
      recs.foreach(r => Bench.check(r.status == "SUCCESS",
        s"cycle $i run record ${r.table}: ${r.status} ${r.error}"))
      Bench.asOp(c, i) {
        (0 until RywLookups).foreach { r =>
          val j = Gen.pickL(c.seed, "ryw", keys.size, i * RywLookups + r).toInt
          rywLat += Bench.lookup(c, "ryw", st.stage, keys(j), Some(seq0 + j))
        }
      }
      val after = Fs.snapshot(st.stage)
      val changed = after.filter { case (p, v) => !before.get(p).contains(v) }
      written += changed.values.map(_._1).sum
      rawBytes += Fs.size(st.raw)
      Bench.asOp(c, i) {
        Bench.extracted(st.raw, n)
        val dataBefore = before.keySet.filter(_.getParent == st.stage)
        val dataAfter = after.keySet.filter(_.getParent == st.stage)
        def isData(p: Path) = p.getFileName.toString.endsWith(".parquet")
        Probe.add("sink.merge_files_total", dataBefore.count(isData).toDouble)
        Probe.add("sink.merge_files_rewritten",
          (dataBefore -- dataAfter).count(isData).toDouble)
        Bench.sidecarBytes(st.stage)
      }
      Bench.check(n == keys.size,
        s"cycle $i extracted $n rows, delta ${keys.size}")
      val wm = st.store.lastConfirmed("default", Table, "chg_seq")
      Bench.check(wm.contains(st.maxSeq.toString),
        s"cycle $i watermark $wm, source max ${st.maxSeq}")
    }
  }

  def run(c0: Ctx): Outcome = {
    val c = c0.copy(sample = Sample)
    val (st, setupS) = Bench.setups(c, Bench.SetupReps)(setup) {
      (tiny, s) => new Cycles(tiny, s).cycle(0) }
    val cy = new Cycles(c, st)
    val n = Bench.loop(c)(i => cy.cycle(i + 1))
    Bench.checkStage(c, st.src, st.stage, "stage_orders")
    val srcMax = c.spark.read.parquet(st.src.toString).agg(max("chg_seq"))
      .head().getLong(0)
    Bench.check(srcMax == st.maxSeq,
      s"source max $srcMax, tracked ${st.maxSeq}")
    if (c.trace) Bench.transformProbes(c, Seq((st.raw, meta)))
    val rows = Bench.stageRows(c, st.stage)
    val bytesPerRow = Fs.tableBytes(st.stage).toDouble / rows
    val cycleLat = cy.cycleLat.toSeq
    val named = Map(
      "cycle_s_p50" -> Stats.median(cycleLat),
      "write_amp" -> cy.written.toDouble / cy.rawBytes,
      "lookup_after_commit_s_p50" -> Stats.median(cy.rywLat.toSeq),
      "stage_bytes_per_row" -> bytesPerRow,
      "cycles" -> n.toDouble) ++ Bench.tailEntries("cycle_s", cycleLat)
    Outcome(Bench.attempted, Bench.failed, Map(
      "setup_s" -> setupS,
      "op_s_p50" -> Stats.median(cycleLat),
      "ops_per_s" -> n / cycleLat.sum,
      "lookup_s_p50" -> Stats.median(cy.rywLat.toSeq),
      "stage_bytes_per_row" -> bytesPerRow), named, Map(
      "base_rows" -> st.baseRows, "delta_rows" -> cy.nDelta,
      "delta_new_keys" -> cy.nNew, "delta_updated_keys" -> cy.nUpd,
      "update_keys_from" -> "most recent tenth of keys",
      "ryw_lookups_per_cycle" -> RywLookups, "stage_rows_end" -> rows))
  }
}

/** `stage_query`: a read-only lineitem stage table under a seeded
  * closed-loop mix of point lookups, range scans and an aggregate. */
object StageQuery {
  val Selectivities = Seq(0.001, 0.01, 0.1)
  val LookupShare = 60; val RangeShare = 30 // percent; 10 aggregates
  val HotShare = 0.01; val MissShare = 10; val HotLookups = 45 // percent
  /** One order in sixteen is kept: every run sets the table up three
    * times (warm-up included), so the load must stay small. */
  val Sample = 16

  sealed trait Op
  final case class Lookup(id: Long, expected: Option[Long]) extends Op
  final case class Range(lo: String, hi: Option[String], expected: Long)
    extends Op
  case object Agg extends Op

  final case class St(stage: Path, ops: IndexedSeq[Op],
      aggExpected: Map[String, java.math.BigDecimal], rows: Long,
      srcRows: Long, raw: Path)

  def setup(c: Ctx, dir: Path): St = {
    val src = dir.resolve("src").resolve("lineitem")
    val raw = dir.resolve("raw").resolve("lineitem")
    val stage = dir.resolve("stage").resolve("lineitem")
    Bench.writeSource(Gen.lineitem(c.spark, c.sf, c.seed, c.sample), c, src)
    load(c, src, raw, stage, new TracedStore(
      new FileWatermarkStore(dir.resolve("wm").toString)))
    // expectations: plain Spark over the generated source
    val srcDf = c.spark.read.parquet(src.toString)
    val newest = Gen.newest(srcDf).cache()
    try {
      val idSeq = newest.select("id", "chg_seq").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val ts = newest.select("lastmodifydate").collect().map(_.getString(0))
        .sorted
      val agg = newest.groupBy("id_compania").agg(sum("monto")).collect()
        .map(r => r.getString(0) -> r.getDecimal(1)).toMap
      val n = idSeq.length
      val hot = (0 until math.max(1, (n * HotShare).toInt))
        .map(h => Gen.pickL(c.seed, "hot", n, h).toInt)
      // blocks of ten ops, each exactly six lookups, three ranges (one
      // per selectivity) and one aggregate, in seeded order
      val ops = (0 until 400).flatMap { b =>
        val kinds = (Seq.fill(LookupShare / 10)("L") ++
          Selectivities.indices.map(i => s"R$i") ++ Seq("A"))
          .zipWithIndex.sortBy { case (_, i) =>
            Gen.pickL(c.seed, "order", 1L << 30, b * 10 + i) }.map(_._1)
        kinds.zipWithIndex.map { case (k, pos) =>
          val j = b * 10 + pos
          if (k == "L") {
            val a = Gen.pickL(c.seed, "lk", 100, j)
            val idx = if (a < MissShare + HotLookups)
                hot(Gen.pickL(c.seed, "hp", hot.size, j).toInt)
              else Gen.pickL(c.seed, "uni", n, j).toInt
            val (id, seq) = idSeq(idx)
            // line 0 of a present order: no source row has it
            if (a < MissShare) Lookup(id - id % 64, None)
            else Lookup(id, Some(seq))
          } else if (k == "A") Agg
          else {
            val sel = Selectivities(k.drop(1).toInt)
            val w = math.max(1, (sel * n).toInt)
            val start = Gen.pickL(c.seed, "rs", n - w + 1, j).toInt
            Range(ts(start),
              if (start + w < n) Some(ts(start + w)) else None, w)
          }
        }
      }
      St(stage, ops, agg, n, srcDf.count(), raw)
    } finally newest.unpersist()
  }

  /** The stage table's load, as a scheduled INITIAL run produces it:
    * extract, transform (overwrite), optimize into key-clustered files,
    * then the declared pruning planes. Traced as one root. */
  private def load(c: Ctx, src: Path, raw: Path, stage: Path,
      store: TracedStore): Unit = Trace.span("bench.setup", "bench") {
    val cfg = Gen.tableConfig("lineitem", transactional = true)
    val n = Trace.span("extract", "extract") {
      TablePipeline.extract(c.spark, src.toString, raw.toString, cfg,
        LoadMode.Initial, c.clock, c.zone, Some(store))
    }
    Trace.span("transform", "transform", fused = true) {
      TablePipeline.transformWithStatus(c.spark, raw.toString,
        stage.toString, cfg, Gen.meta("lineitem"), Some(Gen.Now))
    }
    val rep = Trace.span("sink.optimize", "sink") {
      StageWriter.optimize(c.spark, stage.toString, Bench.FileBytes / 4,
        statsColumn = Some("id"))
    }
    Trace.span("sink.declare", "sink") {
      Sidecars.declare(c.spark, stage.toString, Seq(Sidecars.Stats("id"),
        Sidecars.Zone(Seq("lastmodifydate", "id_compania")),
        Sidecars.Bloom("id"), Sidecars.Counts))
    }
    Bench.extracted(raw, n)
    Probe.add("sink.files_before", rep.filesBefore.toDouble)
    Probe.add("sink.files_after", rep.filesAfter.toDouble)
    Bench.sidecarBytes(stage)
  }

  /** Run one op of the mix against `st`; returns its kind and latency. */
  def exec(c: Ctx, st: St, op: Op): (String, Double) = op match {
    case Lookup(id, exp) =>
      "lookup" -> Bench.lookup(c, "lookup", st.stage, id, exp)
    case Range(lo, hi, exp) =>
      val (rows, s) = Query.run(c, "range", st.stage) { df =>
        val p = col("lastmodifydate") >= lo
        df.filter(hi.fold(p)(h => p && col("lastmodifydate") < h))
          .agg(count(lit(1)))
      }
      val got = rows.head.getLong(0)
      Probe.add("query.returned.range", got.toDouble)
      Bench.check(got == exp, s"range [$lo, $hi): expected $exp, got $got")
      "range" -> s
    case Agg =>
      val (rows, s) = Query.run(c, "agg", st.stage)(
        _.groupBy("id_compania").agg(sum("monto")))
      Probe.add("query.returned.agg", rows.length.toDouble)
      val got = rows.map(r => r.getString(0) -> r.getDecimal(1)).toMap
      Bench.check(got.keySet == st.aggExpected.keySet && got.forall {
        case (k, v) => v.compareTo(st.aggExpected(k)) == 0 },
        s"aggregate: expected ${st.aggExpected}, got $got")
      "agg" -> s
  }

  def run(c0: Ctx): Outcome = {
    val c = c0.copy(sample = Sample)
    val (st, setupS) = Bench.setups(c, Bench.SetupReps, traceLast = true)(
      setup) { (tiny, s) => s.ops.take(10).foreach(exec(tiny, s, _)) }
    val lat = Map("lookup" -> ArrayBuffer[Double](),
      "range" -> ArrayBuffer[Double](), "agg" -> ArrayBuffer[Double]())
    val n = Bench.loop(c) { i =>
      Bench.timedOp(c, i) {
        val (kind, s) = exec(c, st, st.ops(i % st.ops.size))
        lat(kind) += s
      }
    }
    if (c.trace) Bench.transformProbes(c, Seq((st.raw, Gen.meta("lineitem"))))
    val all = Bench.opLat.map(_._1).toSeq
    val bytesPerRow = Fs.tableBytes(st.stage).toDouble / st.rows
    val named = Map(
      "lookup_s_p50" -> Bench.medianOr0(lat("lookup").toSeq),
      "range_s_p50" -> Bench.medianOr0(lat("range").toSeq),
      "agg_s_p50" -> Bench.medianOr0(lat("agg").toSeq),
      "ops" -> n.toDouble, "lookups" -> lat("lookup").size.toDouble,
      "ranges" -> lat("range").size.toDouble,
      "aggs" -> lat("agg").size.toDouble) ++
      Bench.tailEntries("lookup_s", lat("lookup").toSeq) ++
      Bench.tailEntries("range_s", lat("range").toSeq)
    Outcome(Bench.attempted, Bench.failed, Map(
      "setup_s" -> setupS,
      "op_s_p50" -> Stats.median(all),
      "ops_per_s" -> n / all.sum,
      "lookup_s_p50" -> Bench.medianOr0(lat("lookup").toSeq),
      "stage_bytes_per_row" -> bytesPerRow), named, Map(
      "source_rows" -> st.srcRows, "stage_rows" -> st.rows,
      "versions_per_key" -> st.srcRows.toDouble / st.rows,
      "mix_percent" -> Map("lookup" -> LookupShare, "range" -> RangeShare,
        "agg" -> (100 - LookupShare - RangeShare)),
      "hot_key_share" -> HotShare,
      "hot_lookup_percent" -> HotLookups, "miss_lookup_percent" -> MissShare,
      "range_selectivities" -> Selectivities))
  }
}

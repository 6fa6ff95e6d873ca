package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.state.{WatermarkStore, WatermarkToken}

/** Spans recorded from the benchmark's own files, around each call into
  * an engine layer. Off by default: `span` is then a plain call. When on,
  * a span's id is the Spark local property [[Trace.SpanKey]] while its
  * body runs, so [[JobListener]] can charge every job the body causes to
  * it. Spans are kept in memory and read when the run ends. */
object Trace {
  val SpanKey = "perfbench.span"

  /** `layer` is an engine layer name, or "bench" for the benchmark's own
    * grouping spans (op, table, cycle). A fused span wraps one engine
    * call that spans several layers: its jobs are split by call site. */
  final case class Span(id: Int, parent: Int, name: String, layer: String,
      fused: Boolean, t0: Long, t1: Long)

  @volatile var on = false
  @volatile private var spark: SparkSession = _
  private val done = ArrayBuffer[Span]()
  private val ids = new AtomicInteger(0)
  private val current = new InheritableThreadLocal[Option[Span]] {
    override def initialValue(): Option[Span] = None
  }

  def init(s: SparkSession): Unit = spark = s

  def span[T](name: String, layer: String, fused: Boolean = false)
      (body: => T): T = {
    if (!on) return body
    val parent = current.get
    val id = ids.incrementAndGet()
    val open = Span(id, parent.fold(0)(_.id), name, layer, fused,
      System.nanoTime(), 0L)
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(SpanKey)
    current.set(Some(open))
    sc.setLocalProperty(SpanKey, id.toString)
    try body
    finally {
      val closed = open.copy(t1 = System.nanoTime())
      done.synchronized { done += closed }
      current.set(parent)
      sc.setLocalProperty(SpanKey, prevProp)
    }
  }

  def spans: Seq[Span] = done.synchronized(done.toList)

  def nextId(): Int = ids.incrementAndGet()

  /** Self time per span: at every instant the elapsed time is shared
    * equally by the open spans that have no open child, so the self
    * times of a tree add up exactly to the time its root was open, also
    * when sibling spans overlap (concurrent tables). */
  def selfTimes(all: Seq[Span]): Map[Int, Double] = {
    val self = scala.collection.mutable.Map[Int, Double]().withDefaultValue(0.0)
    // at equal times: closes before opens, parents open before and
    // close after their children (ids grow with nesting)
    val evs = all.flatMap(s => Seq((s.t0, 1, s), (s.t1, 0, s)))
      .sortBy { case (t, kind, s) => (t, kind, if (kind == 1) s.id else -s.id) }
    val open = scala.collection.mutable.LinkedHashMap[Int, Span]()
    val openChildren = scala.collection.mutable.Map[Int, Int]()
      .withDefaultValue(0)
    var last = if (evs.isEmpty) 0L else evs.head._1
    evs.foreach { case (t, kind, s) =>
      if (t > last && open.nonEmpty) {
        val leaves = open.values.filter(o => openChildren(o.id) == 0)
        val share = (t - last) / 1e9 / leaves.size
        leaves.foreach(l => self(l.id) += share)
      }
      last = math.max(last, t)
      if (kind == 1) {
        open(s.id) = s
        if (open.contains(s.parent)) openChildren(s.parent) += 1
      } else {
        open.remove(s.id)
        if (open.contains(s.parent)) openChildren(s.parent) -= 1
      }
    }
    self.toMap
  }
}

/** Per-job Spark cost, charged to the span that submitted the job. */
final class JobAgg {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var schedMs = 0L
  var inBytes = 0L; var inRecords = 0L; var outBytes = 0L; var outFiles = 0L
  var shuffleBytes = 0L; var shuffleRecords = 0L; var spill = 0L
  def +=(o: JobAgg): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    schedMs += o.schedMs; inBytes += o.inBytes; inRecords += o.inRecords
    outBytes += o.outBytes; outFiles += o.outFiles
    shuffleBytes += o.shuffleBytes; shuffleRecords += o.shuffleRecords
    spill += o.spill
  }
}

/** One job: its span (0 = none), the engine file of its innermost engine
  * frame in Spark's call site, wall interval (epoch ms) and cost. */
final case class JobRec(id: Int, span: Int, site: String, t0: Long,
    var t1: Long, agg: JobAgg)

/** Listener that attributes jobs, stages and task metrics to spans. */
final class JobListener extends SparkListener {
  val jobs = TrieMap[Int, JobRec]()
  private val stageJob = TrieMap[Int, Int]()
  private val stageSubmit = TrieMap[Int, Long]()
  private val stageFirstLaunch = TrieMap[Int, Long]()
  private val execSite = TrieMap[Long, String]()
  private val Frame = """^\s*graft\.[\w.$]+\(([A-Za-z0-9_]+)\.scala:\d+\)""".r

  /** Engine file of the innermost engine frame of a call-site stack. */
  private def engineFile(details: String): String =
    details.split("\n").iterator.flatMap(l => Frame.findFirstMatchIn(l))
      .map(_.group(1)).nextOption().getOrElse("")

  // a SQL action's call site is taken on the caller's thread; the jobs
  // AQE then submits from its own threads carry the execution id only
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execSite(s.executionId) = engineFile(s.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Trace.SpanKey)))
      .map(_.toInt).getOrElse(0)
    val fromExec = props.flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSite.get(id.toLong)).getOrElse("")
    val site = if (fromExec.nonEmpty || e.stageInfos.isEmpty) fromExec
      else engineFile(e.stageInfos.maxBy(_.stageId).details)
    jobs(e.jobId) = JobRec(e.jobId, span, site, e.time, e.time, new JobAgg)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.t1 = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    stageFirstLaunch.updateWith(e.stageId) {
      case Some(t) => Some(math.min(t, info.launchTime))
      case None => Some(info.launchTime)
    }
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid); if m != null)
      j.agg.synchronized {
        val a = j.agg
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.schedMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        a.inBytes += m.inputMetrics.bytesRead
        a.inRecords += m.inputMetrics.recordsRead
        a.outBytes += m.outputMetrics.bytesWritten
        if (m.outputMetrics.recordsWritten > 0) a.outFiles += 1
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    for (sub <- stageSubmit.get(id); first <- stageFirstLaunch.get(id);
         jid <- stageJob.get(id); j <- jobs.get(jid))
      j.agg.synchronized { j.agg.schedMs += math.max(0L, first - sub) }
  }
}

/** Watermark store wrapper that records a `state` span around every
  * call when tracing is on. */
final class TracedStore(u: WatermarkStore) extends WatermarkStore {
  private def traced[T](name: String)(f: => T): T =
    Trace.span(s"state.$name", "state")(f)
  def savePending(p: String, t: String, c: String, v: String): WatermarkToken =
    traced("savePending")(u.savePending(p, t, c, v))
  def confirm(tok: WatermarkToken): Unit = traced("confirm")(u.confirm(tok))
  def rollback(tok: WatermarkToken): Unit =
    traced("rollback")(u.rollback(tok))
  def lastConfirmed(p: String, t: String, c: String): Option[String] =
    traced("lastConfirmed")(u.lastConfirmed(p, t, c))
  def delete(p: String, t: String, c: String): Unit =
    traced("delete")(u.delete(p, t, c))
}

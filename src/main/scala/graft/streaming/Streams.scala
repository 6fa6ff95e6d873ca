package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming operators for the events stream.
  *
  * The reference's "incremental with watermark" is a batch bookmark (SURVEY
  * §2 streaming note); this module adds the true event-time streaming
  * equivalents: watermarked windowed aggregation and stateful sessionization
  * (`flatMapGroupsWithState`). Batch twins of both shapes live in the query
  * inventory (`evt_window_agg`, `evt_sessionize`) so the semantics are
  * oracle-checked; these streaming forms run the same logic incrementally
  * with bounded state — the shape that survives an unbounded 100 TB/day
  * event feed.
  */
object Streams {

  /** Normalize an events DataFrame to a typed event-time stream, whatever
    * the `ts` representation: nanos-as-long (NANOS annotation + nanosAsLong)
    * truncates to micros; a timestamp-typed `ts` (MICROS/MILLIS annotation)
    * casts directly (ntz→tz is identity under the UTC session). */
  def withEventTime(events: DataFrame): DataFrame = {
    val et = events.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros((col("ts") / 1000).cast("long"))
      case _ => col("ts").cast("timestamp")
    }
    events.withColumn("event_time", et)
  }

  /** Watermarked tumbling-window aggregation (streaming twin of
    * evt_window_agg): counts + sums per (window, event_type), late data
    * beyond `lateness` dropped, state bounded by the watermark. */
  def windowedAgg(events: DataFrame, windowLen: String = "5 minutes",
      lateness: String = "10 minutes"): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", lateness)
      .groupBy(window(col("event_time"), windowLen), col("event_type"))
      // decimal sum: exact and order-independent, so the incremental
      // (per-micro-batch) accumulation equals the batch result bit-for-bit
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("total"))

  final case class Event(user_id: Long, event_time: java.sql.Timestamp,
      value: Double)
  final case class SessionState(start: Long, last: Long, n: Int, total: Double)
  final case class Session(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Int, total_value: Double)

  /** Stateful sessionization: events of one user belong to one session while
    * gaps stay under `gapMs`; a session closes when the processing-time
    * timeout fires after the gap. State per user is O(1) — the shape that
    * holds at any scale. */
  def sessionize(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.ProcessingTimeTimeout)(
        (userId: Long, rows: Iterator[Event],
         state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(userId, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.last), s.n, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(_.event_time.getTime)
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.event_time.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(SessionState(s.start, t, s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed ::= Session(userId, new java.sql.Timestamp(s.start),
                    new java.sql.Timestamp(s.last), s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutDuration(gapMs)
            }
            closed.reverseIterator
          }
        })
  }

  final case class Interval(user_id: Long, s: Long, e: Long,
      event_time: java.sql.Timestamp)
  final case class IslandsState(islands: List[(Long, Long, Long)])
  final case class Island(user_id: Long, i_start: Long, i_end: Long,
      n_merged: Long)

  /** Streaming interval coalescing — the watermark-fenced twin of
    * [[graft.operators.Intervals.coalesce]]: per-key [s, e] activity
    * intervals arrive IN ANY ORDER across micro-batches; state holds each
    * key's currently-open merged islands (sorted, non-overlapping), and an
    * island is EMITTED exactly when the event-time watermark passes its
    * end — at that point no admissible future interval can still merge
    * into it (a future start is ≥ the watermark > island end, and touching
    * needs start == end), so emission is final and exactly-once without
    * ever buffering raw intervals.
    *
    * State per key = open islands only: bounded by (lateness horizon /
    * typical island length), independent of stream length — closed
    * islands leave state the moment the watermark fences them.
    * `event_time` must equal `s` at micro precision (the caller derives
    * it); the watermark argument fences both late-drop and emission. */
  def coverageStream(iv: Dataset[Interval],
      lateness: String): Dataset[Island] = {
    import iv.sparkSession.implicits._
    def insert(sorted: List[(Long, Long, Long)],
        s: Long, e: Long): List[(Long, Long, Long)] = {
      val (before, rest) = sorted.span(_._2 < s) // strictly before (no touch)
      val (overlap, after) = rest.span(_._1 <= e)
      val merged =
        if (overlap.isEmpty) (s, e, 1L)
        else (math.min(s, overlap.head._1),
          math.max(e, overlap.map(_._2).max),
          overlap.map(_._3).sum + 1L)
      before ::: merged :: after
    }
    // EventTimeTimeout, not NoTimeout: a key whose rows STOP arriving is
    // only re-visited by a timeout — without one its closed islands would
    // sit in state forever waiting for a batch that never comes
    iv.withWatermark("event_time", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        (uid: Long, rows: Iterator[Interval],
         state: GroupState[IslandsState]) => {
          var islands = state.getOption.map(_.islands).getOrElse(Nil)
          rows.foreach(r => islands = insert(islands, r.s, r.e))
          val wmMs = state.getCurrentWatermarkMs()
          val wmNs = wmMs * 1000000L
          val (closed, open) = islands.partition(_._2 < wmNs)
          if (open.isEmpty) state.remove()
          else {
            state.update(IslandsState(open))
            // wake when the watermark can first fence the earliest open
            // island (never at-or-before the current watermark — Spark
            // rejects a non-advancing timeout)
            state.setTimeoutTimestamp(
              math.max(open.map(_._2).min / 1000000L + 1L, wmMs + 1L))
          }
          closed.iterator.map { case (s, e, n) => Island(uid, s, e, n) }
        })
  }

  /** One session-stream input event: `ts` in nanos (the Q.load dialect),
    * `cents` = the event's value pre-cast to DECIMAL(18,2) hundredths so
    * state sums a Long and the emitted total replays the batch twin's
    * exact decimal fold; `event_time` = ts at micro precision (the
    * watermark column the caller derives). */
  final case class SessEvent(user_id: Long, ts: Long, cents: Long,
    event_time: java.sql.Timestamp)
  /** Open sessions of one key: (start, end, n, cents), sorted,
    * pairwise more than `gap` apart. */
  final case class SessionsState(open: List[(Long, Long, Long, Long)])
  /** One CLOSED gap-session (final by the watermark fence). */
  final case class GapSession(user_id: Long, start_ns: Long, end_ns: Long,
    n_events: Long, cents: Long)

  /** Streaming session windows (SURVEY §2D, D237) — the watermark-fenced
    * twin of the batch gaps-and-islands sessionizer (`evt_sessionize`):
    * events arrive IN ANY ORDER across micro-batches; per-key state
    * holds only the currently-open sessions (an event merges every
    * session within `gapNs` of it, possibly bridging two — exactly the
    * lag-over-sorted semantics, which makes the result a function of
    * the event-time multiset, independent of arrival order); a session
    * is emitted exactly when the watermark passes `end + gap` — no
    * admissible future event can still attach, so emission is final and
    * exactly-once without ever buffering raw events.
    *
    * State per key = open sessions only, bounded by (lateness horizon /
    * gap), independent of stream length. An EventTimeTimeout re-visits
    * keys whose events stopped, the [[coverageStream]] discipline —
    * without it a closed session would wait forever for a batch that
    * never comes. */
  def sessionStream(events: Dataset[SessEvent], gapNs: Long,
      lateness: String): Dataset[GapSession] = {
    import events.sparkSession.implicits._
    // attach t to every session with distance ≤ gap (strictly-greater
    // gaps split — the batch twin's `ts - lag(ts) > gap` rule)
    def insert(sorted: List[(Long, Long, Long, Long)], t: Long,
        c: Long): List[(Long, Long, Long, Long)] = {
      val (before, rest) = sorted.span(_._2 < t - gapNs)
      val (overlap, after) = rest.span(_._1 <= t + gapNs)
      val merged =
        if (overlap.isEmpty) (t, t, 1L, c)
        else (math.min(t, overlap.head._1),
          math.max(t, overlap.map(_._2).max),
          overlap.map(_._3).sum + 1L, overlap.map(_._4).sum + c)
      before ::: merged :: after
    }
    events.withWatermark("event_time", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        (uid: Long, rows: Iterator[SessEvent],
         state: GroupState[SessionsState]) => {
          var open = state.getOption.map(_.open).getOrElse(Nil)
          rows.foreach(r => open = insert(open, r.ts, r.cents))
          val wmMs = state.getCurrentWatermarkMs()
          val wmNs = wmMs * 1000000L
          val (closed, still) = open.partition(_._2 + gapNs < wmNs)
          if (still.isEmpty) state.remove()
          else {
            state.update(SessionsState(still))
            // wake when the watermark can first fence the earliest open
            // session's end + gap (never at-or-before the current
            // watermark — Spark rejects a non-advancing timeout)
            state.setTimeoutTimestamp(math.max(
              (still.map(_._2).min + gapNs) / 1000000L + 1L, wmMs + 1L))
          }
          closed.iterator.map { case (s, e, n, c) =>
            GapSession(uid, s, e, n, c)
          }
        })
  }

  /** Streaming exact dedup: drops re-deliveries of the same key within the
    * watermark horizon — state stays bounded by `lateness` instead of
    * growing with the stream (the streaming twin of Dedup.exact). */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      lateness: String = "1 hour"): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", lateness)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Watermarked stream-stream interval join: each left event joins right
    * events of the same key whose event time falls within
    * [left.event_time − window, left.event_time] — the streaming
    * "enrich each event with its recent context" shape (streaming twin of
    * the batch as-of join family). Both sides carry watermarks and the join
    * condition is time-bounded, so Spark evicts buffered rows once the
    * watermark passes the interval — state stays bounded no matter how long
    * the streams run. `rightCols` are projected with an `r_` prefix. */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      rightCols: Seq[String], window: String = "5 minutes",
      lateness: String = "10 minutes", joinType: String = "inner")
      : DataFrame = {
    val l = withEventTime(left).withWatermark("event_time", lateness)
    val r = withEventTime(right)
      .select((keyCol +: rightCols :+ "event_time").distinct.map(c =>
        col(c).as(s"r_$c")): _*)
      .withWatermark("r_event_time", lateness)
    // left_outer: unmatched left rows emit with NULL right columns once
    // the watermark passes their interval — Spark can only declare "no
    // match will ever come" after late data is impossible, so a bounded
    // stream needs a watermark-advancing fence event after the last real
    // one for the final null rows to flush (see evt_stream_interval_outer)
    l.join(r,
      col(keyCol) === col(s"r_$keyCol") &&
        col("r_event_time") >= col("event_time") - expr(s"interval $window") &&
        col("r_event_time") <= col("event_time"),
      joinType)
      .drop(s"r_$keyCol")
  }

  // Array[Long] fields on purpose: the encoder bulk-copies primitive
  // arrays (UnsafeArrayData.fromPrimitiveArray) where Seq[Long] walks a
  // per-element MapObjects loop — and these rows cross the shuffle b
  // times per doc and live in state
  final case class BandDoc(band: Int, bh: Long, doc_id: Long,
    sh: Array[Long])
  final case class BucketMember(id: Long, sh: Array[Long])
  final case class BucketState(members: Seq[BucketMember])
  /** One bucket's verdict for one doc: `dup_of` = the smallest
    * earlier-arrived bucket-mate whose exact Jaccard clears the threshold
    * (−1 when none). A doc appears once per band; its FINAL verdict is the
    * OR over bands — a plain batch aggregation over the sink. */
  final case class BucketVerdict(band: Int, doc_id: Long, dup_of: Long,
      is_dup: Boolean)

  /** Streaming NEAR-duplicate dedup (D124) — the streaming twin of
    * `Dedup.minhashLshPairs`: documents arrive as a stream, each is flagged
    * against everything seen BEFORE it (first-arrival-wins; feed batches in
    * ascending-id order and the semantics collapse to the batch miner's
    * min-id-wins, which is what the gate's brute-force oracle replays).
    *
    * Shape: a stateless minhash/band stage (one pass per doc — shingle,
    * hash, k-min signature, b band hashes, explode to b rows) keys the
    * stream by (band, bandHash); `flatMapGroupsWithState` keeps per-BUCKET
    * state and verifies candidates with EXACT Jaccard over the docs'
    * distinct shingle-hash sets, so band collisions (necessary) never flag
    * a doc the real similarity wouldn't (sufficient) — the same
    * candidates-then-verify discipline as the batch miner.
    *
    * Scale notes: state per bucket is capped at `maxBucket` members
    * (arrival-order first — under id-ordered feed, the same smallest-id
    * members the batch cappedBuckets keeps), each member a distinct
    * shingle-hash set (8 B per shingle — text itself never enters state or
    * shuffle). The keyed shuffle carries each doc's shingle hashes b times;
    * that is the price of in-flight verification — per-doc KBs, bounded,
    * and only for the streaming ingest path (the batch miner joins shingle
    * sets back post-candidates instead). State never times out here
    * (near-dup history must outlive any watermark); production bounds the
    * horizon by partitioning the corpus epoch, not by TTL. */
  def nearDupStream(docs: DataFrame, idCol: String, textCol: String,
      shingleWidth: Int = 3, k: Int = 32, b: Int = 8,
      threshold: Double = 0.8, maxBucket: Int = 64): Dataset[BucketVerdict] = {
    import docs.sparkSession.implicits._
    import graft.llm.Dedup
    require(k % b == 0, s"k=$k must be divisible by b=$b")
    // the shingle array BINDS ONCE per row (lambda variable), because
    // projection collapse would otherwise inline its expression into
    // every one of the k+1 consumers — measured as the dominant stage
    // of the streaming gate (re-shingling the text 33x per row)
    val banded = docs
      .select(col(idCol).cast("long").as("doc_id"),
        graft.llm.TextAnalysis.bindOnce(
          Dedup.wordShingles(col(textCol), shingleWidth)) { g =>
          struct(
            array_distinct(transform(g, s => xxhash64(s))).as("sh"),
            Dedup.bands(Dedup.minhashSignature(g, k), b, k / b).as("bbs"))
        }.as("x"))
      .select(col("doc_id"), col("x.sh").as("sh"),
        explode(col("x.bbs")).as("bb"))
      .select(col("bb.band").as("band"), col("bb.bh").as("bh"),
        col("doc_id"), col("sh"))
      .as[BandDoc]
    banded.groupByKey(d => (d.band, d.bh))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: (Int, Long), rows: Iterator[BandDoc],
         state: GroupState[BucketState]) => {
          // members kept SORTED by id (insertion position, ≤ maxBucket
          // elements): the min-id qualifying mate is then the FIRST
          // qualifying one, so the scan early-exits — and the verdict is
          // min-id-wins under ANY feed order, not just ascending.
          // Shingle sets are held as SORTED arrays (decoded once per
          // group invocation, re-sorted defensively): exact Jaccard
          // verification then runs as a merge-intersection that ABORTS
          // as soon as the remaining overlap cannot reach the threshold
          // — crowded buckets of dissimilar docs cost a prefix scan,
          // never |a|+|b| work per mate.
          var members: Vector[(Long, Array[Long])] =
            state.getOption.map(_.members.map { m =>
              java.util.Arrays.sort(m.sh); (m.id, m.sh)
            }.toVector).getOrElse(Vector.empty)
          def qualifies(a: Array[Long], b: Array[Long]): Boolean = {
            val (la, lb) = (a.length, b.length)
            if (la == 0 && lb == 0) return true
            // size prefilter: J = i/u ≤ min/max
            if (math.min(la, lb).toDouble / math.max(la, lb) < threshold)
              return false
            // i/(la+lb-i) ≥ t  ⟺  i ≥ t·(la+lb)/(1+t)
            val need =
              math.ceil(threshold * (la + lb) / (1.0 + threshold) - 1e-9)
            var i = 0; var j = 0; var inter = 0L
            while (i < la && j < lb) {
              if (inter + math.min(la - i, lb - j) < need) return false
              if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
              else if (a(i) < b(j)) i += 1
              else j += 1
            }
            val union = la + lb - inter
            union == 0 || inter.toDouble / union >= threshold
          }
          val out = rows.toSeq.sortBy(_.doc_id).map { d =>
            val dArr = d.sh
            java.util.Arrays.sort(dArr)
            val hit = members.iterator
              .filter(_._1 != d.doc_id) // re-delivery: not a dup of itself
              .find(m => qualifies(dArr, m._2)).map(_._1)
            if (members.size < maxBucket && !members.exists(_._1 == d.doc_id)) {
              val at = members.indexWhere(_._1 > d.doc_id)
              val mem = (d.doc_id, dArr)
              members =
                if (at < 0) members :+ mem
                else (members.take(at) :+ mem) ++ members.drop(at)
            }
            BucketVerdict(key._1, d.doc_id, hit.getOrElse(-1L), hit.isDefined)
          }
          state.update(BucketState(members.map { case (id, a) =>
            BucketMember(id, a) }))
          out.iterator
        })
  }

  final case class CdcOp(key: Long, seq: Long, op: String, value: Double)
  final case class CdcState(seq: Long, op: String, value: Double)
  final case class CdcDecision(key: Long, seq: Long, op: String,
      value: Double, applied: Boolean)

  /** Streaming CDC latest-wins apply with OUT-OF-ORDER tolerance (D127) —
    * the streaming twin of the batch dedup-latest window (C3) and the CDC
    * merge (C6): change events (key, monotone sequence, upsert/delete op)
    * arrive in ANY order across micro-batches; per-key state remembers
    * only the highest sequence applied (O(1) — a dozen bytes per live
    * key), and each event is emitted as a DECISION: applied (it advanced
    * the key) or skipped (a fresher change was already applied — the
    * Debezium-style stale-event guard). Applied decisions per key have
    * strictly increasing sequences, so the materialized table is just
    * "applied rows, latest per key, deletes dropped" — and because the
    * final state is the max-sequence op regardless of delivery order, the
    * result is replay-deterministic and a plain batch window oracles it. */
  def cdcLatestStream(ops: Dataset[CdcOp]): Dataset[CdcDecision] = {
    import ops.sparkSession.implicits._
    ops.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, rows: Iterator[CdcOp], state: GroupState[CdcState]) => {
          var cur = state.getOption
          val out = rows.toSeq.sortBy(_.seq).map { o =>
            val applied = cur.forall(_.seq < o.seq)
            if (applied) cur = Some(CdcState(o.seq, o.op, o.value))
            CdcDecision(key, o.seq, o.op, o.value, applied)
          }
          cur.foreach(state.update)
          out.iterator
        })
  }

  /** Streaming MERGE upsert: file-source stream → transform → per-micro-
    * batch MERGE into the stage table via foreachBatch — the streaming twin
    * of the C6 incremental upsert (each micro-batch's keyed rows replace
    * matched stage rows, new keys insert). The checkpoint makes re-delivery
    * replay the same batch ids; MERGE is idempotent per batch, so restarts
    * converge to the same table. */
  def rawToStageMerge(spark: SparkSession, rawPath: String, stagePath: String,
      checkpoint: String, keys: Seq[String],
      transform: DataFrame => DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = spark.read.parquet(rawPath).schema
    val in = spark.readStream.schema(schema).parquet(rawPath)
    transform(in).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.sink.StageWriter.mergeInto(batch.sparkSession, batch.toDF(),
          stagePath, keys)
      }
      .outputMode(OutputMode.Update)
      .start()
  }

  final case class HhEmit(grp: Int, item: String, est: Long)

  /** D149 — streaming heavy hitters with BOUNDED state: a count-min
    * sketch per hash-partitioned item group, kept as
    * `flatMapGroupsWithState` state (d·w·8 bytes per group, FIXED at any
    * stream length or item cardinality — the unbounded-domain case where
    * per-item counting state grows forever).
    *
    * Order-independence discipline: a micro-batch first absorbs ALL its
    * rows into the sketch (sums — commutative), and only then emits one
    * (item, estimate) row per DISTINCT item in the batch. The emitted
    * estimate is therefore a pure function of (prior state ∪ whole
    * batch) no matter how Spark orders the group iterator, and estimates
    * only grow, so `max(est) per item` downstream equals the sketch
    * estimate at the item's LAST batch — which a SQL oracle replays from
    * per-epoch exact counts (the same portable md5 bucket derivation as
    * the batch CMS, `functions.CountMin.bucket`).
    *
    * The per-batch distinct-item buffer is batch-bounded (never
    * stream-bounded); state never stores items, only counters.
    *
    * @param items   streaming DataFrame
    * @param itemCol item column (stringified for hashing)
    * @param d       sketch hash rows (≤ 4, one md5 digest)
    * @param w       sketch width per row
    * @param nBuckets stream partitioning groups (parallelism knob: state
    *                 rows = nBuckets, each d·w·8 bytes)
    */
  def heavyHittersStream(items: DataFrame, itemCol: String, d: Int, w: Int,
      nBuckets: Int): Dataset[HhEmit] = {
    val spark = items.sparkSession
    import spark.implicits._
    val prepared = items.select(
        pmod(graft.llm.Dedup.portableHash60(col(itemCol).cast("string")),
          lit(nBuckets.toLong)).cast("int").as("grp"),
        col(itemCol).cast("string").as("item"),
        graft.functions.CountMin.buckets(col(itemCol).cast("string"), d, w)
          .as("bks"))
      .as[(Int, String, Seq[Int])]
    prepared.groupByKey(_._1)
      .flatMapGroupsWithState[Array[Long], HhEmit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (grp, rows, state) =>
          val buf = state.getOption.getOrElse(new Array[Long](d * w))
          val batch = rows.toArray // batch-bounded, see scaladoc
          batch.foreach { case (_, _, bks) =>
            var i = 0
            while (i < d) { buf(i * w + bks(i)) += 1L; i += 1 }
          }
          state.update(buf)
          val seen = scala.collection.mutable.LinkedHashMap[String, Seq[Int]]()
          batch.foreach { case (_, it, bks) =>
            if (!seen.contains(it)) seen(it) = bks }
          seen.iterator.map { case (it, bks) =>
            var est = Long.MaxValue
            var i = 0
            while (i < d) {
              est = math.min(est, buf(i * w + bks(i))); i += 1
            }
            HhEmit(grp, it, est)
          }
      }
  }

  final case class FunnelChainState(anchors: Seq[Long], ver: Long)
  final case class FunnelChainEmit(user_id: Long, ver: Long,
      anchors: Seq[Long])

  /** D152 — streaming N-step funnel (the incremental twin of
    * `operators.Funnel.anchors`): per-user state is ONLY the N anchor
    * timestamps (8N bytes — never the events), updated by an ascending
    * event-time fold. The greedy window-min chain is exactly computable
    * this way: when a step-i event at time t folds in, the step-(i−1)
    * anchor can never improve afterwards (later events have larger
    * timestamps and min() only moves down via SMALLER ones), so the
    * stored anchor IS final with respect to t and the chain predicate
    * `t ∈ [a_{i−1}, a_{i−1}+W)` evaluates exactly as the batch window
    * chain does.
    *
    * Delivery contract: batches must arrive per-user event-time ORDERED
    * ACROSS batches (each batch is sorted internally, so any order
    * WITHIN a batch is fine) — the daily-landing-file shape, where file
    * k holds day k. For feeds with bounded cross-batch disorder, fence
    * with a watermark buffer first (the D138 interval-stream pattern).
    * Emissions carry a per-user version; the latest version is the
    * current exact funnel state, so `max(ver) per user` downstream
    * recovers the batch answer.
    */
  def funnelStream(events: DataFrame, firstType: String,
      rest: Seq[(String, Long)]): Dataset[FunnelChainEmit] = {
    val spark = events.sparkSession
    import spark.implicits._
    val n = rest.size + 1
    val stepExpr = rest.zipWithIndex.foldLeft(
      when(col("event_type") === firstType, 1)) { case (e, ((t, _), i)) =>
      e.when(col("event_type") === t, i + 2)
    }
    val windows = rest.map(_._2)
    events.select(col("user_id"), col("ts"), stepExpr.as("step"))
      .filter(col("step").isNotNull)
      .as[(Long, Long, Int)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelChainState, FunnelChainEmit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          val st = state.getOption.getOrElse(
            FunnelChainState(Seq.fill(n)(Long.MaxValue), 0L))
          val a = st.anchors.toArray
          // ties (same ts): earlier step folds first, matching the batch
          // chain's inclusive `t >= prev` predicate
          rows.toArray.sortBy(r => (r._2, r._3)).foreach { case (_, ts, s) =>
            if (s == 1) { if (ts < a(0)) a(0) = ts }
            else {
              val prev = a(s - 2)
              if (prev != Long.MaxValue && ts >= prev &&
                ts < prev + windows(s - 2) && ts < a(s - 1)) a(s - 1) = ts
            }
          }
          val ver = st.ver + 1
          state.update(FunnelChainState(a.toSeq, ver))
          Iterator.single(FunnelChainEmit(uid, ver, a.toSeq))
      }
  }

  /** D160 — DQ-GATED streaming publish (the WAP discipline applied per
    * micro-batch): each batch is transformed, AUDITED, and either merged
    * into the stage table or — on an audit veto — routed whole to a
    * quarantine table with the veto reason, and the stream keeps
    * running. A poisoned upstream batch therefore never reaches stage
    * readers AND never wedges the pipeline (the two failure modes of
    * audit-less streaming ingest: publish garbage, or crash-loop).
    *
    * Delivery semantics: the checkpoint replays an un-committed batch on
    * restart; the stage side lands through the idempotent keyed MERGE
    * (exactly-once effect), while the quarantine append is at-least-once
    * (re-audit of a replayed bad batch re-appends — dedup by key
    * downstream if it matters; quarantine is a triage surface, not a
    * ledger). Batch audits are independent, so delivery ORDER doesn't
    * change what lands where. */
  def rawToStageGated(spark: SparkSession, rawPath: String,
      stagePath: String, quarantinePath: String, checkpoint: String,
      keys: Seq[String], audit: DataFrame => Unit,
      transform: DataFrame => DataFrame,
      maxFilesPerTrigger: Int = 1)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = spark.read.parquet(rawPath).schema
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(rawPath)
    transform(in).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.toDF().cache()
        try {
          val veto =
            try { audit(b); None }
            catch { case scala.util.control.NonFatal(e) => Some(e) }
          veto match {
            case None =>
              graft.sink.StageWriter.mergeInto(b.sparkSession, b,
                stagePath, keys)
            case Some(e) =>
              b.withColumn("quarantine_reason",
                  lit(String.valueOf(e.getMessage)))
                .write.mode(SaveMode.Append).parquet(quarantinePath)
          }
        } finally b.unpersist()
      }
      .outputMode(OutputMode.Update)
      .start()
  }

  /** D173 — streaming rollup maintenance: a CDC change stream (the
    * `VersionedTable.diff` insert|delete convention) keeps a materialized
    * (n, s) rollup current per micro-batch via
    * [[graft.operators.Rollup.applyChanges]] — the streaming twin of the
    * D165 batch maintenance, and the streaming half of the D170 MV
    * lifecycle. The 100 TB discipline carries over: each batch aggregates
    * map-side to its key domain and merges with rollup-domain state; no
    * base ever rescans.
    *
    * Exactly-once: applying a change delta is NOT idempotent (a replayed
    * batch double-counts), so the sink records the last applied batch id
    * INSIDE the rollup directory (`_applied`) and stages data + marker
    * through ONE atomic dir swap — data and watermark can never diverge.
    * A replayed batch id (crash after swap, restart re-delivers) is
    * skipped; a REBUILT checkpoint against an already-maintained rollup
    * restarts ids at 0 and is likewise fenced (ids ≤ marker skip), which
    * turns the classic accidental double-maintenance into a no-op. Pair
    * a fresh checkpoint with a fresh rollup to rebuild from scratch. */
  def rollupMaintainStream(spark: SparkSession, changesPath: String,
      rollupPath: String, checkpoint: String, keys: Seq[String],
      valueCol: String, changeCol: String = "change",
      maxFilesPerTrigger: Int = 1)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import java.nio.file.{Files, Paths}
    val schema = spark.read.parquet(changesPath).schema
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(changesPath)
    in.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val sp = batch.sparkSession
        val marker = Paths.get(rollupPath, "_applied")
        val last =
          if (Files.isRegularFile(marker))
            Files.readString(marker).trim.toLong
          else -1L
        if (id > last) {
          val cur =
            if (Files.isDirectory(Paths.get(rollupPath)))
              sp.read.parquet(rollupPath)
            else graft.operators.Rollup.build(
              batch.toDF().drop(changeCol).limit(0), keys, valueCol)
          val next = graft.operators.Rollup.applyChanges(
            cur, batch.toDF(), keys, valueCol)
            .localCheckpoint() // materialize BEFORE overwriting its input
          val tmpDir = rollupPath + ".__tmp__"
          next.write.mode(SaveMode.Overwrite).parquet(tmpDir)
          Files.writeString(Paths.get(tmpDir, "_applied"), id.toString)
          graft.sink.StageWriter.swapTmp(rollupPath)
        }
      }
      .outputMode(OutputMode.Update)
      .start()
  }

  /** One admission-stream input row: bucket, id, portable id-hash. */
  final case class AdmitIn(bucket: Long, id: Long, h: Long)
  /** Per-bucket admission state: how many were ever admitted. */
  final case class AdmitState(n: Long)
  /** One admitted row: `seq` = admission order within the bucket. */
  final case class Admitted(bucket: Long, id: Long, seq: Long)

  /** Streaming QUOTA ADMISSION (SURVEY §2D, D225) — the online twin of
    * `Splits.matchedSample` (D223): documents arrive as a stream and at
    * most `quotas(bucket)` are ever admitted per bucket; buckets absent
    * from the quota map admit nothing. Admission is FIRST-ARRIVAL by
    * design — an online sampler cannot hold a slot for a better-hash
    * row that may never come — so unlike the batch matcher the admitted
    * SET depends on the epoch layout; WITHIN a micro-batch ties order
    * by the same portable (hash, id) the batch sampler uses, so a given
    * epoch layout admits one exact, replayable set (the gate's 2-epoch
    * SQL oracle unrolls it). State per bucket is ONE counter — bytes,
    * not rows — and never times out (a quota is forever).
    *
    * NOTE: deliberately NOT [[graft.queries.Q.benchLean]]-branchable —
    * the result depends on epoch boundaries by the operator's own
    * semantics, so the bench runs the same full protocol Verify does. */
  def matchedAdmitStream(docs: DataFrame, idCol: String,
      bucketCol: org.apache.spark.sql.Column,
      quotas: Map[Long, Long]): Dataset[Admitted] = {
    import docs.sparkSession.implicits._
    require(quotas.nonEmpty && quotas.values.forall(_ >= 1),
      "quotas must be non-empty with positive caps")
    val qb = quotas // catalog-sized; ships in the task closure
    docs.select(bucketCol.cast("long").as("bucket"),
        col(idCol).cast("long").as("id"),
        graft.llm.Dedup.portableWordHash(col(idCol)).as("h"))
      .as[AdmitIn]
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[AdmitState, Admitted](OutputMode.Append,
        GroupStateTimeout.NoTimeout) { (bucket, rows, state) =>
        val quota = qb.getOrElse(bucket, 0L)
        var n = state.getOption.map(_.n).getOrElse(0L)
        val out = scala.collection.mutable.ArrayBuffer.empty[Admitted]
        val it = rows.toArray.sortBy(r => (r.h, r.id)).iterator
        while (n < quota && it.hasNext) {
          val r = it.next()
          n += 1
          out += Admitted(bucket, r.id, n)
        }
        state.update(AdmitState(n))
        out.iterator
      }
  }

  /** One windowed-quantile emission: window key, `ver` = total values
    * the window's digest has absorbed (monotonic — `max(ver)` per
    * window downstream selects the CURRENT estimate, the D149/D152
    * emission convention), and the quantile estimates. */
  final case class TdEmit(w: Long, ver: Long, est: Seq[Double])

  /** Streaming windowed quantile sketch (SURVEY §2D, D228) — the
    * t-digest (D45, [[graft.functions.TDigest]]) as
    * `flatMapGroupsWithState` per-window state: the streaming dashboard
    * twin of `evt_window_distinct`, closing the batch↔stream pattern
    * for the quantile family (D17/D44/D45/D74/D128 were batch-only).
    * State per window is ONE digest — ≤ ~compression/2 centroids + the
    * singleton buffer, a few KB at ANY window cardinality, where exact
    * per-window percentile state grows with the data. Each batch folds
    * its values into the window's digest (absorb-then-emit: the
    * emission is a pure function of prior state ∪ whole batch) and
    * emits one row carrying the updated estimates.
    *
    * t-digest estimates are merge-order-dependent WITHIN the error
    * bound, so downstream gating is a tolerance band against the exact
    * batch percentile (the q_tdigest / q_approx_percentile pattern),
    * never value replay — which also makes the result band-identical
    * under any epoch layout (the [[graft.queries.Q.benchLean]]
    * contract: the proof arms establish the band holds through a
    * restart; the band, not the bits, is the result). No timeout:
    * a dashboard window's digest lives as long as the stream. */
  def tdigestWindowStream(values: DataFrame, windowCol: String,
      valueCol: String, compression: Double,
      qs: Seq[Double]): Dataset[TdEmit] = {
    val spark = values.sparkSession
    import spark.implicits._
    val agg = new graft.functions.TDigest(compression, qs.toArray)
    implicit val stEnc: org.apache.spark.sql.Encoder[
      graft.functions.TDigestState] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    values.select(col(windowCol).cast("long").as("w"),
        col(valueCol).cast("double").as("v"))
      // null window keys / values would NPE the non-nullable tuple
      // encode and kill the query — the batch planes' (Sidecars.Kmh /
      // Sidecars.Ndv) isNotNull discipline applies here too
      .where(col("w").isNotNull && col("v").isNotNull)
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[graft.functions.TDigestState, TdEmit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (w, rows, state) =>
          var s = state.getOption.getOrElse(agg.zero)
          rows.foreach { case (_, v) => s = agg.reduce(s, v) }
          state.update(s)
          val ver = (s.weight.sum + s.nBuf).toLong
          Iterator.single(TdEmit(w, ver, agg.finish(s).toSeq))
      }
  }

  final case class PsiState(counts: Array[Long])
  final case class PsiEmit(w: Long, ver: Long, psi6: Double)

  /** Streaming PSI drift monitor (SURVEY §2D, D242) — the Population
    * Stability Index, the standard production drift score for a scored
    * feature, per event-time window against a FIXED reference profile:
    * PSI = Σ_bins (p_win − p_ref)·ln(p_win / p_ref) over fixed value
    * bins, add-half smoothed on BOTH sides (the D81 discipline) so
    * empty cells never divide by zero and the statistic is exactly
    * SQL-replayable. State per window is ONE counts array of
    * `thresholds.size + 1` longs — bytes at any window cardinality —
    * absorbed-then-emitted each batch with a monotone version (the
    * [[tdigestWindowStream]] protocol: the max-version row per window
    * is the whole-stream answer under ANY epoch layout).
    *
    * Determinism across engines: each bin's contribution is computed
    * in mirrored double arithmetic, rounded to 6 decimals, and summed
    * EXACTLY (BigDecimal here, DECIMAL(28,6) in the replay) — the sum
    * order can never move the result. */
  def psiDriftStream(values: DataFrame, windowCol: String,
      valueCol: String, thresholds: Seq[Double],
      ref: Seq[Long]): Dataset[PsiEmit] = {
    require(thresholds.nonEmpty && thresholds == thresholds.sorted,
      s"cutpoints must be sorted, got $thresholds")
    require(ref.size == thresholds.size + 1,
      s"reference profile needs ${thresholds.size + 1} bins, " +
        s"got ${ref.size}")
    require(ref.forall(_ >= 0) && ref.sum > 0,
      "the reference profile must hold counts")
    val spark = values.sparkSession
    import spark.implicits._
    val k = ref.size
    val tb = ref.sum
    values.select(col(windowCol).cast("long").as("w"),
        col(valueCol).cast("double").as("v"))
      .where(col("w").isNotNull && col("v").isNotNull)
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[PsiState, PsiEmit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (w, rows, state) =>
          val counts = state.getOption.map(_.counts)
            .getOrElse(new Array[Long](k))
          rows.foreach { case (_, v) =>
            // row-side twin of Curriculum.binByThresholds' strict-
            // greater / ties-low grammar (a Column can't run inside
            // the state function) — keep the two in lockstep
            var b = 0
            while (b < thresholds.size && v > thresholds(b)) b += 1
            counts(b) += 1
          }
          state.update(PsiState(counts))
          val ta = counts.sum
          var acc = BigDecimal(0)
          var i = 0
          while (i < k) {
            // mirrored in the SQL replay operation for operation
            val pa = (counts(i) + 0.5) / (ta + 0.5 * k)
            val pr = (ref(i) + 0.5) / (tb + 0.5 * k)
            val c = (pa - pr) * math.log(pa / pr)
            acc += BigDecimal(c).setScale(6,
              BigDecimal.RoundingMode.HALF_UP)
            i += 1
          }
          Iterator.single(PsiEmit(w, ta, acc.toDouble))
      }
  }

  /** Incremental micro-batch runner: file-source stream over a raw-zone
    * directory → transform → parquet sink with checkpoint. The streaming
    * twin of the watermark-incremental batch loop (exactly-once via the
    * checkpoint + file-sink log instead of PENDING→CONFIRMED). */
  def rawToStage(spark: SparkSession, rawPath: String, stagePath: String,
      checkpoint: String, transform: DataFrame => DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = spark.read.parquet(rawPath).schema
    val in = spark.readStream.schema(schema).parquet(rawPath)
    transform(in).writeStream
      .format("parquet")
      .option("path", stagePath)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .start()
  }
}

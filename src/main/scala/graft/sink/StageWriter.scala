package graft.sink

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Stage-zone writer (SURVEY C5–C9).
  *
  * The reference writes Delta (overwrite or MERGE upsert,
  * light_transform.py:1363-1409); Delta isn't on this classpath, so the
  * idiomatic fallback is partitioned Parquet with an atomic temp-dir swap
  * for overwrite and an anti-join ∪ new for MERGE (semantically
  * whenMatchedUpdateAll + whenNotMatchedInsertAll — new rows win).
  * The atomicity gap vs Delta's log-based commit is documented here: the
  * swap is atomic per-directory rename; a crash between delete and move can
  * lose the target (Delta's transaction log cannot) — acceptable for the
  * idempotent re-run model of this pipeline (re-extract rebuilds).
  * CONCURRENT MERGERS, however, are fully arbitrated: the path-based MERGE
  * variants run an optimistic claim-sequence CAS (see [[mergeInto]]), so a
  * multi-writer deployment never loses an update.
  */
object StageWriter {

  /** Partitioned overwrite with temp-write + atomic-ish swap
    * (light_transform.py:1363-1380). Guards partition cardinality at scale
    * (SURVEY §7.4.7): refuses > maxPartitionValues distinct values. */
  def overwrite(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
      maxPartitionValues: Long = 10000): Unit = {
    if (partitionBy.nonEmpty) {
      val n = df.select(partitionBy.map(col): _*).distinct().limit(
        (maxPartitionValues + 1).toInt).count()
      require(n <= maxPartitionValues,
        s"partition columns ${partitionBy.mkString(",")} have >" +
          s"$maxPartitionValues distinct values — refusing high-cardinality " +
          "partitioning at scale")
    }
    val tmp = path + ".__tmp__"
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(tmp)
    // write-time contracts (D197): declared CHECKs validate the STAGED
    // bytes — exactly what a passing swap reveals (WAP discipline, like
    // VersionedTable.commitAudited) — so the incoming plan is evaluated
    // ONCE (by the write) and non-deterministic frames can't validate
    // clean then land dirty. A violation deletes the staging dir and
    // refuses with the target untouched; no-op for undeclared tables.
    try Checks.enforceStaged(df.sparkSession, tmp, path, df.schema)
    catch { case t: Throwable =>
      deleteRecursively(Paths.get(tmp)); throw t }
    swapTmp(path)
    // unified sidecar freshness (D190): a table that DECLARED pruning
    // planes gets them rebuilt by every full rewrite — no-op otherwise
    Sidecars.refreshAfterWrite(df.sparkSession, path)
  }

  /** Derived-partition layout (Delta generated columns on the parquet
    * fallback): partitions the table by `partCol = srcCol div divisor`
    * (e.g. day buckets from a nanosecond timestamp) and records the
    * derivation in a `_derived_partition` sidecar, which
    * [[graft.plans.DerivedPartitionPrune]] reads to turn source-column
    * range predicates into directory-level partition pruning — readers
    * filter on `ts`, never needing to know the layout. */
  def writeDerivedPartitioned(df: DataFrame, path: String, srcCol: String,
      partCol: String, divisor: Long,
      maxPartitionValues: Long = 10000): Unit = {
    require(divisor > 0, s"divisor must be positive, got $divisor")
    overwrite(df.withColumn(partCol, expr(s"$srcCol div ${divisor}L")),
      path, partitionBy = Seq(partCol),
      maxPartitionValues = maxPartitionValues)
    Files.writeString(Paths.get(path, "_derived_partition"),
      s"$partCol\n$srcCol\n$divisor\n")
  }

  /** (partCol, srcCol, divisor) from a `_derived_partition` sidecar, or
    * None when absent/unparsable (pruning stands down, never guesses). */
  private[graft] def derivedPartitionSpec(
      dir: String): Option[(String, String, Long)] = {
    val p = Paths.get(dir, "_derived_partition")
    if (!Files.isRegularFile(p)) return None
    Files.readString(p).split("\n").map(_.trim).toList match {
      case part :: src :: div :: _ if part.nonEmpty && src.nonEmpty =>
        scala.util.Try(div.toLong).toOption.map((part, src, _))
      case _ => None
    }
  }

  /** Dynamic partition overwrite (Delta's `replaceWhere` shape on the
    * parquet fallback, Spark's `partitionOverwriteMode=dynamic`):
    * replaces ONLY the partitions present in `df`, leaving every other
    * partition's files physically untouched — write cost is O(touched
    * partitions), never O(table). The restatement/backfill primitive: a
    * late-arriving day re-lands by rewriting that day alone (the
    * reference reloads BETWEEN-date slices the same way,
    * `raw_extract.py` date-window reloads). The conf is scoped and
    * restored; cardinality-guarded like [[overwrite]]. */
  def overwritePartitions(df: DataFrame, path: String,
      partitionBy: Seq[String], maxPartitionValues: Long = 10000): Unit = {
    require(partitionBy.nonEmpty, "dynamic overwrite needs partition cols")
    val n = df.select(partitionBy.map(col): _*).distinct()
      .limit((maxPartitionValues + 1).toInt).count()
    require(n <= maxPartitionValues,
      s"partition columns ${partitionBy.mkString(",")} have >" +
        s"$maxPartitionValues distinct values in this batch")
    val spark = df.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.get(key, "STATIC")
    spark.conf.set(key, "dynamic")
    try df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionBy: _*).parquet(path)
    finally spark.conf.set(key, prev)
  }

  /** APPEND new rows as NEW files (SURVEY §2D, D204) — the ingest path
    * for immutable event data: every existing file stays byte-identical
    * and the cost is O(batch), where overwrite is O(table) and MERGE is
    * the keyed-update shape. Flat tables only (the targeted-merge
    * restriction); partitioned layouts take [[overwritePartitions]].
    * An absent target bootstraps via [[overwrite]] (declared planes
    * then build in full).
    *
    * The guard rails compose:
    *  - D197 CHECKs validate the STAGED batch bytes — refusal deletes
    *    the staging dir with the target and every plane untouched;
    *  - declared planes maintain INCREMENTALLY, O(new files): every
    *    plane summarizes only the new files (bounds footer-first) — no
    *    plane silently stands down after an append;
    *  - reveal is hidden-staging + per-file atomic rename (the
    *    targeted-merge ordering): a crash mid-reveal leaves a PARTIAL
    *    batch visible to plain readers (re-land after upstream dedup);
    *    deployments needing atomic multi-file appends commit through
    *    [[VersionedTable]]. */
  def append(df: DataFrame, path: String): Unit =
    append(df, path, None)

  /** As [[append]]; `nonce` pins the landed file-name tag (default: a
    * fresh random tag per call) — the exactly-once streaming sink keys
    * it by batch id so a crashed attempt's partial landing is
    * SWEEPABLE by name ([[appendExactlyOnce]]). */
  def append(df: DataFrame, path: String, nonce: Option[String]): Unit = {
    val dir = Paths.get(path)
    if (!Files.isDirectory(dir)) { overwrite(df, path); return }
    val spark = df.sparkSession
    val preFiles = listDataFiles(dir)
    val partitioned = {
      val s = Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.exists(p => Files.isDirectory(p) &&
          p.getFileName.toString.contains("="))
      } finally s.close()
    }
    require(!partitioned,
      s"append targets flat tables; $path has hive partition directories")
    val tmpDir = path + ".__appendtmp__"
    df.write.mode(SaveMode.Overwrite).parquet(tmpDir)
    try Checks.enforceStaged(spark, tmpDir, path, df.schema)
    catch { case t: Throwable =>
      deleteRecursively(Paths.get(tmpDir)); throw t }
    val parts = listDataFiles(Paths.get(tmpDir))
    val tag = nonce.getOrElse(
      java.util.UUID.randomUUID().toString.substring(0, 8))
    val staged = parts.zipWithIndex.map { case (p, i) =>
      val vis = dir.resolve(f"ap-$tag%s-p$i%05d.parquet")
      val hid = dir.resolve("." + vis.getFileName.toString)
      Files.move(p, hid, StandardCopyOption.ATOMIC_MOVE)
      (hid, vis)
    }
    staged.foreach { case (hid, vis) =>
      Files.move(hid, vis, StandardCopyOption.ATOMIC_MOVE) }
    deleteRecursively(Paths.get(tmpDir))
    // declared planes summarize only the new files (bounds from their
    // footers — usually zero jobs); a stale or foreign sidecar rebuilds
    // in full rather than patching a lie
    Sidecars.afterTargetedRewrite(spark, path,
      preFiles.map(_.getFileName.toString), Set.empty, staged.map(_._2))
  }

  /** Exactly-once streaming APPEND (SURVEY §2D, D208) — the
    * `foreachBatch` body for ingesting a stream into a guarded,
    * plane-maintained table. Structured Streaming replays a batch with
    * the SAME id and content on restart from its checkpoint (the
    * foreachBatch exactly-once contract), so:
    *
    *  - an applied MARKER (`path.__applied__/<batchId>`) makes replays
    *    of committed batches no-ops;
    *  - a crash BETWEEN reveal and marker is repaired on re-delivery:
    *    landed file names carry the batch id (`ap-b<id>-*`), so the
    *    retry SWEEPS any partial landing (visible or hidden) before
    *    re-appending — duplicates cannot survive;
    *  - the sweep may leave pruning planes stale; [[append]]'s
    *    maintenance detects the inventory mismatch and rebuilds rather
    *    than patching a lie (consumers stood down in the window — safe).
    *
    * D197 CHECKs and the O(new files) plane maintenance ride along via
    * [[append]]. The marker dir is sibling state like every sidecar —
    * and BOUNDED: only a trailing window of `retainMarkers` batch ids
    * is kept (older markers prune after each commit). Safe because the
    * checkpoint contract only ever replays batches at or after the
    * last uncommitted one — once a LATER batch committed, an older id
    * can never be re-delivered, so its marker is dead weight; a
    * million-batch stream would otherwise accrete a million files.
    *
    * Operational contract: run COMPACTION on a quiesced table only (no
    * in-flight streaming appends) — a full rewrite absorbs data files
    * into new names, so a partial landing stranded in the
    * crash-before-marker window would no longer be sweepable by batch
    * id. The same quiesce-before-compact rule every log-structured
    * store documents. */
  def appendExactlyOnce(batch: DataFrame, path: String,
      batchId: Long, retainMarkers: Int = 128): Unit = {
    val dir = Paths.get(path)
    val markerDir = Paths.get(path + ".__applied__")
    val marker = markerDir.resolve(batchId.toString)
    if (Files.exists(marker)) return // replayed committed batch: no-op
    // a delivery BELOW the retained marker window is undecidable: its
    // marker may have been pruned (committed — appending would double)
    // or never written (genuinely new). The checkpoint contract never
    // re-delivers below the last uncommitted id once later batches
    // committed, so landing here means a checkpoint reset or a second
    // writer — fail loudly instead of silently double-appending.
    // (retainMarkers <= 0 retains forever: the multi-writer/reset
    // escape hatch — no pruning, so this refusal can never trigger.)
    if (retainMarkers > 0 && Files.isDirectory(markerDir)) {
      val s = Files.list(markerDir)
      val minId = try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .flatMap(p =>
            scala.util.Try(p.getFileName.toString.toLong).toOption)
          .foldLeft(Long.MaxValue)(math.min)
      } finally s.close()
      if (minId != Long.MaxValue && batchId < minId)
        throw new IllegalStateException(
          s"batch $batchId is below the retained exactly-once marker " +
            s"window of $path (oldest surviving marker: $minId): a " +
            "pruned committed batch and a new delivery are " +
            "indistinguishable here; refusing to append. Deliveries " +
            "this old indicate a checkpoint reset or a second writer " +
            "— pass retainMarkers <= 0 (retain forever) for such setups")
    }
    // force the STAGED-REVEAL path even on bootstrap (an empty dir, not
    // an overwrite): bootstrap files must carry the batch-id tag too,
    // or a crash between the first landing and its marker could not be
    // swept on re-delivery and batch 0 would land twice
    Files.createDirectories(dir)
    if (Files.isDirectory(dir)) {
      val prefix = s"ap-b$batchId-"
      val s = Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter { p =>
            val n = p.getFileName.toString
            n.startsWith(prefix) || n.startsWith("." + prefix)
          }
          .foreach(Files.deleteIfExists(_))
      } finally s.close()
    }
    append(batch, path, nonce = Some(s"b$batchId"))
    Files.createDirectories(markerDir)
    try Files.createFile(marker)
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
    // prune the trailing window: ids at or below batchId - retain can
    // never replay once this batch's marker is durable (retainMarkers
    // <= 0 = retain forever, see the refusal above)
    val floor = batchId - retainMarkers.toLong
    if (retainMarkers > 0 && floor > 0) {
      val s = Files.list(markerDir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(p => scala.util.Try(p.getFileName.toString.toLong)
            .toOption.exists(_ < floor))
          .foreach(Files.deleteIfExists(_))
      } finally s.close()
    }
    ()
  }

  /** Atomic-ish `path.__tmp__` → `path` swap shared by the overwrite and
    * optimize paths (see the class doc for the crash-window contract).
    * `private[graft]` so sinks that must co-publish a sidecar ATOMICALLY
    * with the data (the streaming rollup's applied-batch marker) can
    * stage both into the tmp dir and swap once. */
  private[graft] def swapTmp(path: String): Unit = {
    val target = Paths.get(path)
    val old = Paths.get(path + ".__old__")
    deleteRecursively(old)
    if (Files.exists(target)) Files.move(target, old)
    Files.move(Paths.get(path + ".__tmp__"), target,
      StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(old)
  }

  /** MERGE upsert: existing rows matched on id-columns are replaced by new
    * rows; unmatched new rows are inserted
    * (light_transform.py:1382-1392 — dropDuplicates → merge →
    * whenMatchedUpdateAll.whenNotMatchedInsertAll).
    *
    * Pure-Spark MERGE: old ⟕anti new (on keys) ∪ new. One shuffle on the
    * key columns; at 100 TB both sides hash-partition on the same keys so
    * AQE can pick a sort-merge or (small delta) broadcast anti-join.
    *
    * Schema evolution matches Delta's autoMerge (the reference enables
    * `spark.databricks.delta.schema.autoMerge.enabled`,
    * light_transform.py:2013): a column added to the delta (a new
    * columns.csv entry on an incremental table) appends to the output
    * schema with old rows null-filled; a column the delta dropped is kept
    * with new rows null-filled — `unionByName(allowMissingColumns = true)`
    * is exactly that contract. */
  def merge(old: DataFrame, delta: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "MERGE requires id columns")
    require(keys.forall(old.columns.contains) &&
      keys.forall(delta.columns.contains),
      s"MERGE keys ${keys.mkString(",")} must exist on both sides")
    val newRows = delta.dropDuplicates(keys)
    old.join(newRows, keys, "left_anti")
      .unionByName(newRows, allowMissingColumns = true)
  }

  /** CDC MERGE: delta rows carry an op column — 'D' deletes the matched
    * key (tombstone), anything else upserts (the Delta
    * whenMatchedDelete / whenMatchedUpdateAll / whenNotMatchedInsertAll
    * triple as one Spark plan). One shuffle on the key columns: the
    * anti-join removes EVERY delta key (deleted or replaced) from the old
    * side, then the surviving upserts append. A key carrying both a
    * delete and an upsert in one batch resolves to the upsert (the row
    * exists after the batch) — dropDuplicates keeps the upsert row. */
  def mergeCdc(old: DataFrame, delta: DataFrame, keys: Seq[String],
      opCol: String = "op"): DataFrame = {
    require(keys.nonEmpty, "CDC MERGE requires id columns")
    require(delta.columns.contains(opCol),
      s"CDC delta must carry the '$opCol' op column")
    // null-safe comparison: a NULL/absent op means "anything else" =
    // upsert — a plain =!= would drop the row from upserts while its key
    // still anti-joins old away, silently deleting it
    val upserts = delta.filter(!(col(opCol) <=> "D")).drop(opCol)
      .dropDuplicates(keys)
    old.join(delta.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(upserts, allowMissingColumns = true)
  }

  /** A concurrent merger holds (or stranded) the next merge sequence claim.
    * The table is untouched by the loser; retried automatically up to
    * `maxRetries`, after which the caller should vacuum (crashed claimant)
    * or raise the retry budget (live contention). */
  final class ConcurrentMergeException(msg: String)
    extends RuntimeException(msg)

  private def seqFile(path: String) = Paths.get(path + ".__seq__")
  private def claimsDir(path: String) = Paths.get(path + ".__claims__")
  private def dropAfterFile(path: String, seq: Long) =
    Paths.get(path + s".__dropafter__$seq")

  /** Persist the touched-file drop list for commit `seq` — written
    * BEFORE the reveal, consumed (idempotently) AFTER the sequence
    * flip; the durable half of the drop-after commit protocol (see
    * [[targetedCommit]]'s ordering scaladoc). */
  private def writeDropAfter(path: String, seq: Long,
      names: Seq[String]): Unit =
    graft.state.TabSidecar.write(dropAfterFile(path, seq), names.sorted)

  /** Finish commit `seq`'s post-flip deletion: drop every file the
    * marker names (idempotent — deleteIfExists), then the marker. */
  private def completeDrop(path: String, seq: Long): Unit = {
    val f = dropAfterFile(path, seq)
    if (!Files.isRegularFile(f)) return
    val dir = Paths.get(path)
    graft.state.TabSidecar.read(f)
      .foreach(n => Files.deleteIfExists(dir.resolve(n)))
    Files.deleteIfExists(f); ()
  }

  private def pendingDropSeqs(path: String): Seq[Long] = {
    val parent = Paths.get(path).toAbsolutePath.getParent
    val prefix = Paths.get(path).getFileName.toString + ".__dropafter__"
    if (parent == null || !Files.isDirectory(parent)) return Nil
    val s = Files.list(parent)
    try s.toArray.map(_.asInstanceOf[Path]).toSeq
      .map(_.getFileName.toString)
      .filter(_.startsWith(prefix))
      .flatMap(n => scala.util.Try(n.drop(prefix.length).toLong).toOption)
      .sorted
    finally s.close()
  }

  /** Replay every COMMITTED drop marker (seq ≤ the committed sequence):
    * a crash between the flip and the deletion left duplicates the
    * marker names exactly — every later claimant (and the vacuum sweep)
    * finishes them before doing anything else. */
  private[sink] def replayPendingDrops(path: String): Unit = {
    val committed = committedSeq(path)
    pendingDropSeqs(path).filter(_ <= committed)
      .foreach(completeDrop(path, _))
  }

  /** Committed merge sequence of a stage path (0 = never CAS-merged —
    * includes tables written only by `overwrite`). */
  def committedSeq(path: String): Long = {
    val f = seqFile(path)
    if (Files.exists(f))
      new String(Files.readAllBytes(f),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
    else 0L
  }

  /** MERGE into a Parquet path — DEFAULT PATH IS TRANSACTIONAL. The
    * reference gets optimistic concurrency unconditionally from Delta
    * (light_transform.py:1382-1392) while running 60 concurrent transforms
    * (group_stack.py:375); the plain-Parquet twin gets it from a sidecar
    * claim-sequence protocol (the [[VersionedTable]] commit CAS applied to
    * a flat layout, so `spark.read.parquet(path)` and catalog registration
    * keep working unchanged):
    *
    *  - `path.__seq__` names the committed merge sequence (atomic rename);
    *  - a merger first CLAIMS sequence N+1 via create-if-absent of
    *    `path.__claims__/N+1` — of racing mergers exactly one wins, and the
    *    loser backs off and RETRIES FROM THE NEW HEAD, so its rows land on
    *    top of the winner's instead of clobbering them (never silent
    *    last-writer-wins, never a lost update);
    *  - the claim is taken BEFORE reading the current data, so a merger
    *    never snapshots a table mid-swap;
    *  - claims persist until [[vacuum]]; a claimant that CRASHES between
    *    claim and pointer flip strands its claim and blocks later mergers
    *    (fail-stop, not data loss) until vacuum's age-gated reclaim — the
    *    same recovery contract as [[VersionedTable]].
    *
    * Readers racing the swap itself remain the documented Parquet-fallback
    * gap (VersionedTable closes it with versioned dirs); the stage zone's
    * idempotent re-run model accepts it. Bootstrap (no existing path)
    * commits `df.dropDuplicates(keys)` — the same first-commit dedup as
    * `VersionedTable.mergeCommit`. */
  def mergeInto(spark: SparkSession, df: DataFrame, path: String,
      keys: Seq[String], partitionBy: Seq[String] = Nil,
      maxRetries: Int = 20, backoffMs: Long = 150): Unit =
    casMerge(spark, path, partitionBy, maxRetries, backoffMs,
      Some(Targeted(df, Nil, keys,
        (touched, d) => merge(touched, d, keys)))) {
      case Some(old) => merge(old, df, keys)
      case None => df.dropDuplicates(keys)
    }

  /** CDC MERGE into a Parquet path through the same CAS protocol as
    * [[mergeInto]] (tombstone semantics of [[mergeCdc]]). A bootstrap
    * applies the delta to an empty table: upserts insert, deletes no-op. */
  def mergeCdcInto(spark: SparkSession, delta: DataFrame, path: String,
      keys: Seq[String], opCol: String = "op",
      partitionBy: Seq[String] = Nil, maxRetries: Int = 20,
      backoffMs: Long = 150): Unit =
    casMerge(spark, path, partitionBy, maxRetries, backoffMs,
      Some(Targeted(delta, Seq(opCol), keys,
        (touched, d) => mergeCdc(touched, d, keys, opCol)))) { old =>
      val base = old.getOrElse(
        delta.drop(opCol).limit(0)) // typed empty bootstrap
      mergeCdc(base, delta, keys, opCol)
    }

  /** File-targeted merge inputs: the raw delta (for key extraction and
    * schema-parity checks), columns to ignore on the delta side (the CDC op
    * column), the merge keys, and the merge applied to ONLY the touched
    * slice of the base. `localMerge` receives (touched base slice,
    * MATERIALIZED delta) — the commit evaluates the caller's delta frame
    * exactly once (see [[targetedCommit]]), so an expensive delta plan
    * (a window over the base, a mined pair frame) never runs twice. */
  private final case class Targeted(delta: DataFrame, dropCols: Seq[String],
      keys: Seq[String],
      localMerge: (DataFrame, DataFrame) => DataFrame)

  /** Can this merge rewrite only key-intersecting files? Requires a flat
    * (unpartitioned) existing table, a first merge key with a bounds
    * kind (integral or string — per-file min/max needs a total order
    * the oracle can replay; anything else falls back to the full
    * rewrite) on BOTH sides, and exact column-name→type parity
    * between base and effective delta — a schema-evolving delta falls
    * back to the full rewrite, which is the only way the untouched files
    * can stay byte-identical while the directory keeps one schema. */
  private def targetedEligible(base: DataFrame, t: Targeted): Boolean = {
    def m(s: StructType) = s.fields.map(f => f.name -> f.dataType).toMap
    val eff = t.delta.drop(t.dropCols: _*).schema
    t.keys.nonEmpty && m(eff) == m(base.schema) &&
      base.schema.fields.find(_.name == t.keys.head).exists(f =>
        Sidecars.kindOf(f.dataType).isDefined)
  }

  /** The optimistic claim → read → merge → swap → flip loop shared by the
    * path-based MERGE variants. `mergeFn` sees the CLAIMED snapshot (None
    * when the path doesn't exist yet); when `targeted` applies (existing
    * flat table, integral key, schema parity) the commit rewrites ONLY the
    * files whose key range intersects the delta — O(delta), not O(table). */
  private def casMerge(spark: SparkSession, path: String,
      partitionBy: Seq[String], maxRetries: Int, backoffMs: Long,
      targeted: Option[Targeted] = None)
      (mergeFn: Option[DataFrame] => DataFrame): Unit = {
    var attempt = 0
    var lastBase = -1L
    while (true) {
      val base = committedSeq(path)
      // head advanced since we last looked = a concurrent winner COMMITTED:
      // that's progress, so the retry budget resets — under N-writer
      // contention every writer eventually lands, and `maxRetries` only
      // bounds the NO-progress case (a stranded claim, or one live write
      // outlasting the whole budget — size backoff×retries above the
      // longest expected merge write)
      if (base != lastBase) { attempt = 0; lastBase = base }
      val next = base + 1
      Files.createDirectories(claimsDir(path))
      val claimed =
        try { Files.createFile(claimsDir(path).resolve(next.toString)); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      if (!claimed) {
        attempt += 1
        if (attempt > maxRetries)
          throw new ConcurrentMergeException(
            s"$path: merge sequence $next stayed claimed through " +
              s"$maxRetries retries with no committed progress — raise the " +
              "retry budget if a live merge can outlast it, or vacuum if " +
              "the claimant crashed")
        // the winner may still be mid-write: back off so the re-read sees
        // the flipped sequence instead of re-losing the claim
        Thread.sleep(backoffMs * math.min(attempt, 5))
      } else {
        // we HOLD claim `next`: no other merger can flip the sequence, so
        // the snapshot read below is stable. An observed in-process failure
        // releases the claim eagerly (a crash strands it for vacuum) —
        // safe even after a partial reveal, because the next claimant of
        // this same sequence rolls the attempt back below.
        try {
          // finish any COMMITTED-but-undropped predecessor first (the
          // post-flip crash window), then roll back THIS sequence's
          // crashed attempt — order matters: the replay acts on history,
          // the rollback on our own uncommitted generation
          replayPendingDrops(path)
          rollbackAttempt(path, next)
          val old =
            if (Files.exists(Paths.get(path))) Some(spark.read.parquet(path))
            else None
          val goTargeted = partitionBy.isEmpty && old.isDefined &&
            targeted.exists(t => targetedEligible(old.get, t))
          if (goTargeted) targetedCommit(spark, path, old.get,
            targeted.get, next)
          else {
            val merged = mergeFn(old).cache()
            try {
              // materialize before the swap: never read-while-overwrite
              val n = merged.count()
              // OPTIMIZE-on-write twin: a full-rewrite merge lands in
              // row-budgeted files instead of one near-empty file per
              // shuffle partition — the classic MERGE small-file leak the
              // reference cleans up with a separate OPTIMIZE pass
              // (light_transform.py:1394-1409). Partitioned layouts keep
              // their per-partition-dir parallelism.
              val out =
                if (partitionBy.isEmpty) merged.coalesce(fileBudget(spark, n))
                else merged
              // declare the key's bounds plane BEFORE the rewrite, whose
              // refresh then summarizes it with every other plane (from
              // the new footers — O(this write)), so the FIRST incremental
              // merge after a bootstrap or full rewrite is already
              // file-targeted
              targeted.filter(_ => partitionBy.isEmpty).map(_.keys.head)
                .filter(k => merged.schema.fields.exists(f =>
                  f.name == k && Sidecars.kindOf(f.dataType).isDefined))
                .foreach(Sidecars.declareBounds(spark, path, _))
              overwrite(out, path, partitionBy)
            } finally merged.unpersist()
          }
          val tmp = Paths.get(path + s".__seq__.tmp$next")
          Files.write(tmp,
            next.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          Files.move(tmp, seqFile(path), StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
          // THE commit point was the flip above; the touched files drop
          // only now, replayable from the marker if we die mid-way
          completeDrop(path, next)
          return
        } catch {
          case scala.util.control.NonFatal(e) =>
            scala.util.Try(
              Files.deleteIfExists(claimsDir(path).resolve(next.toString)))
            throw e
        }
      }
    }
  }

  /** Roll back a crashed prior attempt at sequence `next` before reading
    * the snapshot. The caller HOLDS the claim for `next`, so any data file
    * of generation `m$next-` — visible (partially revealed) or hidden
    * (staged, never revealed) — and any `.__mergetmp__$next` staging dir
    * can only be the leftover of an attempt whose pointer never flipped:
    * uncommitted rows no reader was ever promised. Deleting them first
    * restores the exact committed snapshot (the re-merge is exact, never
    * best-effort), revalidates the planes sidecar's file inventory so
    * recovery stays on the O(delta) targeted path, and makes repair
    * self-healing — no FileAlreadyExistsException on re-reveal, no
    * duplicate rows waiting on manual cleanup. The prefix includes the
    * trailing dash, so generation 2 never matches generation 23's files. */
  private def rollbackAttempt(path: String, next: Long): Unit = {
    val dir = Paths.get(path)
    if (Files.isDirectory(dir)) {
      val vis = s"m$next-"
      val hid = s".m$next-"
      val s = Files.list(dir)
      try s.toArray.map(_.asInstanceOf[Path]).foreach { p =>
        val n = p.getFileName.toString
        if ((n.startsWith(vis) || n.startsWith(hid)) && n.endsWith(".parquet"))
          Files.deleteIfExists(p)
      } finally s.close()
    }
    deleteRecursively(Paths.get(path + s".__mergetmp__$next"))
    // the crashed attempt's drop list is moot: its generation never
    // committed and its touched files were never deleted (deletion is
    // strictly post-flip), so the marker must not linger and replay
    Files.deleteIfExists(dropAfterFile(path, next)); ()
  }

  /** Row-budgeted output file count; Long math first — at 100 TB
    * (n / 50000 + 1) overflows Int and a naive .toInt would collapse the
    * write to ONE file. */
  private def fileBudget(spark: SparkSession, n: Long): Int =
    math.max(1L, math.min(spark.sparkContext.defaultParallelism.toLong,
      n / 50000L + 1L)).toInt

  /** Visible data files of a flat Parquet dir (skips `_SUCCESS`, hidden
    * in-progress merge files, sidecars). */
  private[graft] def listDataFiles(dir: Path): Seq[Path] = {
    if (!Files.isDirectory(dir)) return Nil
    val s = Files.list(dir)
    try s.toArray.map(_.asInstanceOf[Path]).filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && n.endsWith(".parquet") &&
        !n.startsWith(".") && !n.startsWith("_")
    }.sortBy(_.getFileName.toString).toSeq
    finally s.close()
  }

  /** Delta-proportional MERGE commit (Delta's file-targeted MERGE on the
    * Parquet fallback, light_transform.py:1382-1392): partition the base
    * files by "could this file contain a delta key" using the per-file
    * key-range manifest, run the merge over ONLY the touched files, land
    * the result as new files, and leave every untouched file byte-identical
    * in place. Cost is O(delta + touched), never O(table) — at 100 TB a
    * 1 GB delta rewrites gigabytes, not the table.
    *
    * Commit ordering inside the held claim (r13 — the drop-after-marker
    * protocol): new files are moved in HIDDEN (dot-prefixed — invisible
    * to Parquet readers); the touched-file list is persisted to a
    * `__dropafter__` marker; the new files are revealed by atomic
    * per-file rename; the sequence flips (THE commit point); and only
    * then are the touched files deleted and the marker removed. Every
    * crash window recovers exactly:
    *
    *  - before the flip (staged, marker written, or revealed): the next
    *    claimant of the same sequence rolls the attempt back
    *    ([[rollbackAttempt]]) — generation files + marker deleted,
    *    touched files ALL still present (deletion is strictly
    *    post-flip), so the committed snapshot is byte-identical;
    *  - after the flip, mid-deletion: the marker names exactly what
    *    remains to drop, and [[replayPendingDrops]] (run by every later
    *    claimant and by the vacuum sweep) finishes it idempotently.
    *
    * The PREVIOUS ordering (delete touched before the flip) could not
    * distinguish "partial reveal" from "complete reveal + partial
    * delete" and its rollback LOST the already-deleted files' rows —
    * MergeCrashSpec pins both windows now. Staged names carry a
    * per-attempt nonce so a retry's reveal never collides with a
    * crashed attempt's leftovers. Readers racing the post-flip deletion
    * see transient duplication; the documented Parquet-fallback reader
    * gap ([[VersionedTable]] closes it). */
  private def targetedCommit(spark: SparkSession, path: String,
      base: DataFrame, t: Targeted, next: Long): Unit = {
    val dir = Paths.get(path)
    val key1 = t.keys.head
    val dataFiles = listDataFiles(dir)
    // evaluate the caller's delta plan ONCE: it feeds BOTH the
    // touched-file probe and the merge itself, so an expensive delta
    // (q_sidecar_fresh's is a window over the whole base) used to run
    // fully twice. The checkpoint also pins the snapshot this commit
    // acts on — probe and merge can never see different delta rows. The
    // delta is O(batch) by the merge's own cost model, so materializing
    // it is bounded at any scale (opt guide §5).
    val delta = t.delta.localCheckpoint()
    // the key's per-file bounds from the bounds plane; a missing or
    // stale plane (first merge, foreign writer) declares the key's bounds
    // and rebuilds every declared plane against this inventory — and a
    // plane that still does not validate touches every file
    def keyBounds = Sidecars.load(path).flatMap(_.bounds(key1)).map(_._2)
    val kind = Sidecars.kindOf(base.schema(key1).dataType).get
    val bounds = keyBounds.orElse {
      Sidecars.declareBounds(spark, path, key1)
      Sidecars.refreshAfterWrite(spark, path)
      keyBounds
    }
    // touched = any delta key inside the file's [mn, mx]; the range table
    // is file-count rows (the Delta-log size class) and broadcasts, so
    // this is ONE pass over the delta keys — never a base scan
    val stats = bounds.getOrElse(Map.empty)
    val touched: Set[String] =
      if (bounds.isEmpty) dataFiles.map(_.getFileName.toString).toSet
      else if (!stats.values.exists(_.isDefined)) Set.empty
      else {
        import spark.implicits._
        val rangesDf =
          if (kind == "long")
            stats.toSeq.collect { case (f, Some((mn, mx))) =>
              (f, mn.toLong, mx.toLong) }.toDF("f", "mn", "mx")
          else
            stats.toSeq.collect { case (f, Some((mn, mx))) =>
              (f, mn, mx) }.toDF("f", "mn", "mx")
        val deltaKeys =
          if (kind == "long")
            delta.select(col(key1).cast("long").as("__k"))
          else delta.select(col(key1).cast("string").as("__k"))
        deltaKeys.na.drop().distinct()
          .join(broadcast(rangesDf),
            col("__k") >= col("mn") && col("__k") <= col("mx"))
          .select("f").distinct().collect().map(_.getString(0)).toSet
      }
    val touchedPaths = dataFiles.filter(p => touched(p.getFileName.toString))
    val touchedBase =
      if (touchedPaths.isEmpty) base.limit(0)
      else spark.read.schema(base.schema)
        .parquet(touchedPaths.map(_.toString): _*)
    // schema parity was pre-checked (targetedEligible), so the merged
    // output re-selects into the base column order and types
    val merged = t.localMerge(touchedBase, delta)
      .select(base.columns.map(col).toIndexedSeq: _*).cache()
    try {
      val n = merged.count()
      val tmpDir = path + s".__mergetmp__$next"
      merged.coalesce(fileBudget(spark, n))
        .write.mode(SaveMode.Overwrite).parquet(tmpDir)
      // write-time contracts (D197) on the targeted path too: the merged
      // slice is the only NEW data this commit can land, and the checks
      // run on its STAGED bytes (not the cached plan — caching is
      // best-effort, not a correctness fence); refusal deletes the
      // staging dir with the base files untouched
      try Checks.enforceStaged(spark, tmpDir, path, merged.schema)
      catch { case t: Throwable =>
        deleteRecursively(Paths.get(tmpDir)); throw t }
      val parts = listDataFiles(Paths.get(tmpDir))
      // hidden staging → atomic reveal → delete touched (see ordering doc).
      // The nonce uniquifies THIS attempt's names: a re-run after a crash
      // mid-reveal must never Files.move onto a previous attempt's
      // already-revealed file (ATOMIC_MOVE without REPLACE throws and the
      // repair path would deterministically fail).
      val nonce = java.util.UUID.randomUUID().toString.substring(0, 8)
      val staged = parts.zipWithIndex.map { case (p, i) =>
        val vis = dir.resolve(f"m$next-$nonce%s-p$i%05d.parquet")
        val hid = dir.resolve("." + vis.getFileName.toString)
        Files.move(p, hid, StandardCopyOption.ATOMIC_MOVE)
        (hid, vis, p.getFileName.toString)
      }
      // durable drop list BEFORE the reveal: deletion of the touched
      // files happens strictly AFTER the sequence flip (casMerge), and
      // this marker is what makes that deletion replayable across a
      // crash (see the commit-ordering scaladoc above)
      writeDropAfter(path, next, touchedPaths.map(_.getFileName.toString))
      staged.foreach { case (hid, vis, _) =>
        Files.move(hid, vis, StandardCopyOption.ATOMIC_MOVE) }
      deleteRecursively(Paths.get(tmpDir))
      // keep every declared plane (the key's bounds included) alive
      // across merges (D190): only the new files summarize — O(new files)
      Sidecars.afterTargetedRewrite(spark, path,
        dataFiles.map(_.getFileName.toString), touched,
        staged.map(_._2))
    } finally merged.unpersist()
  }

  /** Empty-table bootstrap: typed empty output, warn-not-fail
    * (light_transform.py:1444-1462, 1805-1813). */
  def writeEmpty(spark: SparkSession, schema: StructType, path: String): Unit = {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    overwrite(empty, path)
  }

  /** Raw-zone CSV fallback format (SURVEY A14; reference
    * extract_data.py:739-741 — pipe-delimited, every field quoted). Used
    * when the Parquet write path is exhausted; also a valid standalone
    * export format. */
  def writeCsvRaw(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("delimiter", "|")
      .option("quoteAll", "true")
      .option("header", "true")
      .csv(path)

  /** Retry-then-fallback write (SURVEY A14; extract_data.py:897-921 —
    * 10 Parquet attempts 2 s apart, then the CSV fallback, then fail). */
  def overwriteWithRetry(df: DataFrame, path: String, retries: Int = 10,
      delayMs: Long = 2000, csvFallbackPath: Option[String] = None): Unit = {
    require(retries >= 1, s"retries must be >= 1 (got $retries)")
    var attempt = 0
    var done = false
    var lastError: Throwable = null
    while (!done && attempt < retries) {
      try { overwrite(df, path); done = true }
      catch {
        case scala.util.control.NonFatal(e) =>
          lastError = e; attempt += 1
          if (attempt < retries) Thread.sleep(delayMs)
      }
    }
    if (!done) csvFallbackPath match {
      case Some(p) =>
        // a fallback failure must not MASK the original parquet failure:
        // attach it as suppressed so both stack traces surface
        try writeCsvRaw(df, p)
        catch {
          case scala.util.control.NonFatal(fb) =>
            fb.addSuppressed(lastError); throw fb
        }
        throw new RuntimeException(
          s"parquet write failed after $retries attempts; CSV fallback " +
            s"written to $p", lastError)
      case None => throw lastError
    }
  }

  /** Bucketed co-located write (SURVEY §2 "partitioning & shuffle"): hash-
    * partition the table into `numBuckets` files per partition ONCE at write
    * time so every later join or aggregation on the bucket key runs with
    * ZERO exchange — the pre-shuffle that pays for itself on the first
    * reuse. At 100 TB this is the difference between re-shuffling 100 TB
    * per join and never shuffling the fact table again. Buckets live in the
    * session catalog (`saveAsTable`) because Spark resolves bucket metadata
    * through the metastore, mirroring the reference's Glue-catalog
    * registration (crawler phase, SURVEY C10). */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      numBuckets: Int = 32, sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty, "bucketed write requires bucket columns")
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Partition-level retention / TTL (D177): drop WHOLE partition
    * directories whose numeric partition value is strictly below
    * `cutoff` — retention enforcement as an O(dropped partitions)
    * METADATA operation. At 100 TB, TTL by row filter is a full-table
    * rewrite per enforcement run; TTL by partition drop is a handful of
    * directory deletes, and every surviving partition stays
    * byte-identical (gate-asserted). Works on the hive `part=value`
    * layouts [[overwrite]]`(partitionBy)` / [[writeDerivedPartitioned]]
    * produce; unparsable partition values are SKIPPED (never guessed
    * into deletion). Returns the dropped partition values. */
  def expirePartitions(path: String, partCol: String,
      cutoff: Long): Seq[Long] = {
    val root = Paths.get(path)
    if (!Files.isDirectory(root)) return Seq.empty
    val prefix = s"$partCol="
    val s = Files.list(root)
    val dropped = try s.toArray.map(_.asInstanceOf[Path])
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith(prefix))
      .flatMap { p =>
        scala.util.Try(
          p.getFileName.toString.drop(prefix.length).toLong).toOption
          .filter(_ < cutoff)
          .map { v => deleteRecursively(p); v }
      }.toSeq
    finally s.close()
    dropped.sorted
  }

  /** Small-file compaction — the Parquet-fallback equivalent of Delta
    * OPTIMIZE (light_transform.py:1394-1409): coalesce to
    * ceil(bytes / targetFileBytes) files and swap. */
  def compact(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      clusterBy: Option[String] = None): Unit = {
    val df = spark.read.parquet(path)
    val bytes = dirSize(Paths.get(path))
    val files = math.max(1, (bytes + targetFileBytes - 1) / targetFileBytes)
    // clusterBy: coalesce() merges ARBITRARY partitions (locality-driven,
    // load-dependent), silently destroying the range-disjointness every
    // stats-pruning plane depends on — a point probe then straddles EVERY
    // merged file and skips nothing. When the table has a declared stats
    // column, compaction must pay the range shuffle to keep files
    // key-disjoint; that shuffle IS the product (clustering maintenance),
    // not overhead.
    val compacted = clusterBy match {
      case Some(c) => df.repartitionByRange(files.toInt, col(c))
        .sortWithinPartitions(c)
      case None => df.coalesce(files.toInt)
    }
    // no cache/count: overwrite's staged write is the ONLY consumer, and
    // it fully materializes into `path.__tmp__` BEFORE the swap touches
    // the source files — the old cache+count was a second full
    // materialization with no reuse (opt guide §5: cache only
    // reused-and-expensive intermediates)
    overwrite(compacted, path)
  }

  /** What one incremental compaction pass did. */
  final case class CompactReport(filesBefore: Int, filesAfter: Int,
      rewritten: Int, bytesRewritten: Long)

  /** INCREMENTAL small-file compaction (SURVEY §2D, D230) — Delta
    * OPTIMIZE's bin-packing shape: rewrite ONLY the files under
    * `minFileBytes`, bin-packed into `targetFileBytes` outputs, leaving
    * every right-sized file byte-identical in place. [[compact]] /
    * [[optimize]] rewrite the whole table — correct, but at 100 TB an
    * OPTIMIZE pass that rewrites 100 TB to fix a thousand stragglers
    * from the last micro-append is the wrong cost shape; this pass is
    * O(small tail), the cadence-maintenance twin of the targeted merge.
    *
    * Concurrency + crash safety: the same claim/sequence CAS and
    * drop-after-marker commit as [[mergeInto]] — compaction claims the
    * next sequence (mergers and compactors exclude each other), stages
    * hidden `m$seq-` generation files, persists the drop list, reveals,
    * flips the sequence (THE commit point), then drops the rewritten
    * small files replayably. Every declared plane stays fresh, O(new
    * files), through [[Sidecars.afterTargetedRewrite]].
    *
    * File-size selection is driver-side metadata (Files.size), never a
    * data scan; the only data read is the small tail itself. */
  def compactSmall(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      minFileBytes: Long = 0L,
      maxRetries: Int = 10, backoffMs: Long = 200): CompactReport = {
    val minBytes = if (minFileBytes > 0) minFileBytes
      else targetFileBytes / 2
    var attempt = 0
    var lastBase = -1L
    while (true) {
      val base = committedSeq(path)
      if (base != lastBase) { attempt = 0; lastBase = base }
      val next = base + 1
      Files.createDirectories(claimsDir(path))
      val claimed =
        try { Files.createFile(claimsDir(path).resolve(next.toString)); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      if (!claimed) {
        attempt += 1
        if (attempt > maxRetries)
          throw new ConcurrentMergeException(
            s"$path: compaction could not claim sequence $next through " +
              s"$maxRetries retries with no committed progress")
        Thread.sleep(backoffMs * math.min(attempt, 5))
      } else {
        try {
          replayPendingDrops(path)
          rollbackAttempt(path, next)
          val dir = Paths.get(path)
          val all = listDataFiles(dir)
          val small = all.filter(p => Files.size(p) < minBytes)
          if (small.size <= 1) {
            // nothing to pack: release the claim, change nothing
            Files.deleteIfExists(claimsDir(path).resolve(next.toString))
            return CompactReport(all.size, all.size, 0, 0L)
          }
          val smallBytes = small.map(Files.size(_)).sum
          val nOut = math.max(1L,
            (smallBytes + targetFileBytes - 1) / targetFileBytes).toInt
          val df = spark.read.parquet(small.map(_.toString): _*)
            .coalesce(nOut).cache()
          val tmpDir = path + s".__mergetmp__$next"
          try {
            df.count() // materialize before any file moves
            df.write.mode(SaveMode.Overwrite).parquet(tmpDir)
          } finally df.unpersist()
          val parts = listDataFiles(Paths.get(tmpDir))
          val nonce = java.util.UUID.randomUUID().toString.substring(0, 8)
          val staged = parts.zipWithIndex.map { case (p, i) =>
            val vis = dir.resolve(f"m$next-$nonce%s-p$i%05d.parquet")
            val hid = dir.resolve("." + vis.getFileName.toString)
            Files.move(p, hid, StandardCopyOption.ATOMIC_MOVE)
            (hid, vis, p.getFileName.toString)
          }
          val smallNames = small.map(_.getFileName.toString).toSet
          writeDropAfter(path, next, smallNames.toSeq)
          staged.foreach { case (hid, vis, _) =>
            Files.move(hid, vis, StandardCopyOption.ATOMIC_MOVE) }
          deleteRecursively(Paths.get(tmpDir))
          Sidecars.afterTargetedRewrite(spark, path,
            all.map(_.getFileName.toString), smallNames,
            staged.map(_._2))
          val tmp = Paths.get(path + s".__seq__.tmp$next")
          Files.write(tmp,
            next.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          Files.move(tmp, seqFile(path), StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
          completeDrop(path, next)
          return CompactReport(all.size,
            all.size - small.size + staged.size, small.size, smallBytes)
        } catch {
          case scala.util.control.NonFatal(e) =>
            scala.util.Try(
              Files.deleteIfExists(claimsDir(path).resolve(next.toString)))
            throw e
        }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** What one OPTIMIZE pass did. */
  final case class OptimizeReport(filesBefore: Int, filesAfter: Int,
      bytes: Long)

  /** The post-write maintenance pass the reference runs after EVERY write
    * (light_transform.py:1394-1409: OPTIMIZE → VACUUM → manifest), composed
    * from the parts this sink already owns:
    *
    *  1. rewrite into byte-budgeted files — plain coalesce ([[compact]]),
    *     or z-order-clustered on two keys when `zorderBy` is given (Delta
    *     `OPTIMIZE ZORDER BY`, [[Layout.zorderWrite]] through the same
    *     tmp-swap as [[overwrite]]);
    *  2. declare `statsColumn` in the table's bounds plane (unless it is
    *     there already), which the rewrite's refresh summarizes with every
    *     other declared plane — so the NEXT [[mergeInto]] starts
    *     file-targeted without a base rescan, and pruning sees fresh
    *     bounds;
    *  3. regenerate the symlink manifest ([[writeManifest]]);
    *  4. [[vacuum]] swap/claim leftovers past `retentionMs`.
    *
    * One table scan total (the rewrite) plus one key-column scan of the
    * new files — at 100 TB this runs on the maintenance cadence, never per
    * query. */
  def optimize(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      zorderBy: Option[(String, String)] = None,
      statsColumn: Option[String] = None,
      zorderBits: Int = 20,
      retentionMs: Long = 168L * 3600 * 1000): OptimizeReport = {
    val dir = Paths.get(path)
    val before = listDataFiles(dir).size
    val bytes = dirSize(dir)
    val files = math.max(1L,
      (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    statsColumn.foreach(Sidecars.declareBounds(spark, path, _))
    zorderBy match {
      case Some((x, y)) =>
        // size zorderBits to the key domain: bits the keys overflow wrap
        // the interleave and degrade clustering to hash-like (correctness
        // is unaffected — stats are computed post-hoc — but skipping
        // effectiveness dies; the 20× scale smoke exists to catch this)
        val df = spark.read.parquet(path).cache()
        try {
          df.count() // materialize before the swap: never read-while-swap
          Layout.zorderWrite(df, path + ".__tmp__", x, y, bits = zorderBits,
            numFiles = files)
          swapTmp(path)
        } finally df.unpersist()
      case None => compact(spark, path, targetFileBytes, statsColumn)
    }
    val after = listDataFiles(dir)
    // the zorder arm swaps directly (no overwrite hook) — declared
    // planes refresh here; the compact arm already refreshed via
    // overwrite, and refreshAfterWrite is a no-op without a sidecar
    if (zorderBy.isDefined) Sidecars.refreshAfterWrite(spark, path)
    writeManifest(path)
    vacuum(path, retentionMs)
    OptimizeReport(before, after.size, bytes)
  }

  /** Symlink-format manifest — the engine-neutral file inventory Delta
    * generates for Presto/Athena (light_transform.py:1394-1409 runs
    * manifest generation after every write): one line per data file under
    * `_symlink_format_manifest/manifest`. External engines (and humans)
    * can then read the table without listing the directory. */
  def writeManifest(path: String): Unit = {
    val dir = Paths.get(path)
    // listDataFiles, not a raw glob: hidden (unrevealed) merge files must
    // never leak into the manifest an external engine trusts
    val files = listDataFiles(dir).map(_.toString).sorted
    val mdir = dir.resolve("_symlink_format_manifest")
    Files.createDirectories(mdir)
    val tmp = Files.createTempFile(mdir, "manifest", ".tmp")
    Files.writeString(tmp, files.map(f => s"file://$f").mkString("", "\n", "\n"))
    Files.move(tmp, mdir.resolve("manifest"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** VACUUM for the Parquet fallback (Delta VACUUM(168h) twin,
    * light_transform.py:1394-1409): removes swap leftovers (`.__tmp__`,
    * `.__old__`) older than `retentionMs` — the directories a crash
    * between overwrite's write and move can strand. Current data is never
    * touched; the default retention mirrors Delta's 168 h. */
  def vacuum(path: String, retentionMs: Long = 168L * 3600 * 1000): Unit = {
    val cutoff = System.currentTimeMillis() - retentionMs
    Seq(path + ".__tmp__", path + ".__old__").foreach { p =>
      val d = Paths.get(p)
      if (Files.exists(d) &&
          Files.getLastModifiedTime(d).toMillis < cutoff)
        deleteRecursively(d)
    }
    // targeted-merge leftovers a crash can strand: the per-claim staging
    // dir and hidden (not-yet-revealed) data files. Both are invisible to
    // readers, so age-gated reclaim is safe — a live merger inside the
    // retention window is never touched.
    val parent = Paths.get(path).toAbsolutePath.getParent
    val baseName = Paths.get(path).getFileName.toString
    if (parent != null && Files.isDirectory(parent)) {
      val st = Files.list(parent)
      try {
        val it = st.iterator()
        while (it.hasNext) {
          val p = it.next()
          if (p.getFileName.toString.startsWith(baseName + ".__mergetmp__") &&
              Files.getLastModifiedTime(p).toMillis < cutoff)
            deleteRecursively(p)
        }
      } finally st.close()
    }
    val dataDir = Paths.get(path)
    if (Files.isDirectory(dataDir)) {
      val st = Files.list(dataDir)
      try {
        val it = st.iterator()
        while (it.hasNext) {
          val p = it.next()
          val n = p.getFileName.toString
          if (n.startsWith(".m") && n.endsWith(".parquet") &&
              Files.getLastModifiedTime(p).toMillis < cutoff)
            Files.deleteIfExists(p)
        }
      } finally st.close()
    }
    // drop-after markers: COMMITTED ones replay immediately (finishing
    // a crashed post-flip deletion is always safe and always owed);
    // markers AHEAD of the sequence belong to a crashed (or live)
    // attempt — reclaim them and their revealed generation files only
    // past the retention, the same live-writer guard as the claims
    replayPendingDrops(path)
    pendingDropSeqs(path).filter(_ > committedSeq(path)).foreach { sq =>
      val marker = dropAfterFile(path, sq)
      if (Files.getLastModifiedTime(marker).toMillis < cutoff) {
        if (Files.isDirectory(dataDir)) {
          val st = Files.list(dataDir)
          try {
            val it = st.iterator()
            while (it.hasNext) {
              val p = it.next()
              val n = p.getFileName.toString
              if (n.startsWith(s"m$sq-") && n.endsWith(".parquet"))
                Files.deleteIfExists(p)
            }
          } finally st.close()
        }
        Files.deleteIfExists(marker)
      }
    }
    // merge-claim sidecars: claims <= the committed sequence are history
    // (no merger ever re-attempts them — drop immediately); a claim AHEAD
    // of the sequence is either a live merger mid-write or a crashed one,
    // indistinguishable without heartbeats, so it is reclaimed only past
    // the retention — reclaiming a live claim would hand two mergers the
    // same sequence, exactly the lost update the CAS exists to prevent.
    // The retention MUST therefore exceed the longest possible merge write
    // (same contract as VersionedTable.vacuum's stranded retention).
    val cd = claimsDir(path)
    if (Files.isDirectory(cd)) {
      val seq = committedSeq(path)
      val st = Files.list(cd)
      try {
        val it = st.iterator()
        while (it.hasNext) {
          val c = it.next()
          val n = scala.util.Try(c.getFileName.toString.toLong).getOrElse(-1L)
          if (n <= seq ||
              Files.getLastModifiedTime(c).toMillis < cutoff)
            Files.deleteIfExists(c)
        }
      } finally st.close()
    }
  }

  private[graft] def dirSize(p: java.nio.file.Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => { Files.delete(f); () })
      finally s.close()
    }
}

package graft.sink

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Right-to-be-forgotten composition (SURVEY §2D, D186): the erasure
  * request a privacy program actually executes, assembled from parts
  * this sink already proves —
  *
  *  1. every row of the requested subjects is tombstoned via DELETION
  *     VECTORS (D162): a sidecar append, data files byte-identical, so
  *     at 100 TB an erasure costs KBs, not a table rewrite (the physical
  *     fold happens at the next compaction like any DV);
  *  2. an append-only ERASURE LEDGER records what was honored — but a
  *     ledger carrying the raw ids would itself retain the very identity
  *     it certifies deleting, so entries carry the KEYED PSEUDONYM
  *     (D153) of each subject: verifiable by the key holder ("was id X
  *     erased?" → hash and look up), meaningless to everyone else.
  *
  * DV-aware readers exclude the subjects immediately; plain readers see
  * them until the fold — the documented DV visibility contract. */
object Erasure {

  final case class Erased(subjects: Long, rows: Long)

  /** Ordered map over independent per-snapshot actions — the shared
    * bounded-pool overlap of [[Par.map]] (guide §2.6): results come back
    * in input order; the first failure cancels outstanding snapshots and
    * propagates the ORIGINAL exception, not the pool's wrapper. */
  private def parMap[A, B](spark: SparkSession, xs: Seq[A],
      maxThreads: Int = 4)(f: A => B): Seq[B] =
    Par.map(spark, xs, maxThreads)(f)

  /** Pseudonymized ledger append shared by both erasure surfaces: one
    * line per REQUESTED subject (no-row subjects ledger 0 — the
    * request was still honored), keyed tokens only. `perKey` must be
    * (`__erase_id`, rows_erased). */
  private def writeLedger(ids: DataFrame, perKey: DataFrame,
      ledgerPath: String, ledgerKey: String, erasedAtMs: Long): Unit = {
    Privacy.pseudonymizeFrame(
      ids.join(perKey, Seq("__erase_id"), "left")
        .select(col("__erase_id").as("subject"),
          coalesce(col("rows_erased"), lit(0L)).as("rows_erased")),
      Seq("subject"), ledgerKey)
      .select(col("subject"), lit(erasedAtMs).as("erased_at_ms"),
        col("rows_erased"))
      .write.mode(SaveMode.Append).parquet(ledgerPath)
  }

  /** Erase `subjects` (a one-column frame of ids matching `keyCol`'s
    * type) from the keyed table at `path`; ledger entries go to
    * `ledgerPath` under pseudonyms keyed by `ledgerKey`. Idempotent in
    * EFFECT: re-erasing an already-erased subject re-appends the same
    * row positions (DV delete scans the raw data; DV reads dedup
    * positions) and a fresh ledger line — visible state unchanged. */
  def eraseSubjects(spark: SparkSession, path: String, keyCol: String,
      subjects: DataFrame, ledgerPath: String, ledgerKey: String,
      erasedAtMs: Long = System.currentTimeMillis): Erased = {
    require(subjects.columns.length == 1,
      s"subjects must be a one-column id frame, got " +
        subjects.columns.mkString(","))
    val idCol = subjects.columns.head
    val ids = subjects.select(col(idCol).as("__erase_id"))
      .na.drop().distinct().cache()
    try {
      val nSubjects = ids.count()
      require(nSubjects > 0, "no subjects to erase")
      // the delete is a DISTRIBUTED key join inside the position-finding
      // scan (DeletionVectors.deleteKeys) — the subject frame never
      // touches the driver, so a quarterly backlog of 10⁷ subjects costs
      // the same single table scan a ten-subject request does
      val kd = DeletionVectors.deleteKeys(spark, path, ids, keyCol)
      val perKey = kd.perKey
        .select(col(keyCol).as("__erase_id"),
          col("rows_deleted").as("rows_erased"))
      writeLedger(ids, perKey, ledgerPath, ledgerKey, erasedAtMs)
      Erased(nSubjects, kd.rowsDeleted)
    } finally ids.unpersist()
  }

  /** Right-to-be-forgotten over a VERSIONED table (D186 composing with
    * D157 time travel and D169 shallow clones): erasure must reach
    * EVERY retained snapshot — `asOf` reads and clones pinned before
    * the request reference historical version dirs, so a head-only
    * erase would let either one resurrect the subject. For each
    * retained version's RESOLVED data dir (clone `_ref`s resolve to
    * the same bytes, so erasing here erases what every clone sees),
    * the subjects DV-delete and — with `fold` (the default) — the
    * vectors fold into the data immediately. Erasure is the one write
    * sanctioned to break snapshot-dir immutability: the alternative
    * (waiting for routine compaction) leaves the subject's bytes
    * readable through every pinned snapshot in the meantime, which is
    * exactly what a deletion request forbids. Versions already
    * reclaimed by vacuum hold no bytes to erase; a clone of a
    * reclaimed version fails eagerly at read (the vacuum contract).
    *
    * Ledger lines carry keyed pseudonyms exactly as [[eraseSubjects]];
    * per-subject counts SUM the tombstoned row-slots across retained
    * snapshots (a subject present in three snapshots ledgers all three
    * slots — what was physically held, not the logical row count). */
  def eraseVersioned(spark: SparkSession, table: String, keyCol: String,
      subjects: DataFrame, ledgerPath: String, ledgerKey: String,
      erasedAtMs: Long = System.currentTimeMillis,
      fold: Boolean = true): Erased = {
    require(subjects.columns.length == 1,
      s"subjects must be a one-column id frame, got " +
        subjects.columns.mkString(","))
    val idCol = subjects.columns.head
    val ids = subjects.select(col(idCol).as("__erase_id"))
      .na.drop().distinct().cache()
    try {
      val nSubjects = ids.count()
      require(nSubjects > 0, "no subjects to erase")
      // existence resolves through the Hadoop FileSystem of each dir —
      // the same abstraction the Spark reads below go through — so
      // hdfs://... and s3a://... snapshot dirs survive the filter
      // (java.nio would silently drop every non-local dir and the
      // nonEmpty require would abort a legitimate erasure)
      val hconf = spark.sparkContext.hadoopConfiguration
      val dirs = VersionedTable.versions(table)
        .map(v => VersionedTable.snapshotDataDir(table, v)).distinct
        .filter { d =>
          val p = new org.apache.hadoop.fs.Path(d)
          val fs = p.getFileSystem(hconf)
          fs.exists(p) && fs.getFileStatus(p).isDirectory
        }
      require(dirs.nonEmpty, s"$table holds no retained snapshot dirs")
      // per-dir deletes; perKey frames are checkpointed by deleteKeys,
      // so folding afterwards cannot invalidate them. Snapshot dirs are
      // INDEPENDENT (dirs is distinct on resolved paths), so the per-dir
      // delete scans — and below, the folds — overlap in a small driver
      // pool (opt guide §2.6: actions are only sequential because the
      // driver calls them sequentially); each dir's protocol is
      // unchanged, only the idle tail between dirs goes away.
      val deletes = parMap(spark, dirs)(d =>
        DeletionVectors.deleteKeys(spark, d, ids, keyCol))
      val perKey = deletes.map(_.perKey).reduce(_.unionByName(_))
        .groupBy(keyCol).agg(sum("rows_deleted").as("rows_erased"))
        .select(col(keyCol).as("__erase_id"), col("rows_erased"))
      writeLedger(ids, perKey, ledgerPath, ledgerKey, erasedAtMs)
      if (fold) {
        parMap(spark, dirs)(d => DeletionVectors.apply(spark, d)); ()
      }
      Erased(nSubjects, deletes.map(_.rowsDeleted).sum)
    } finally ids.unpersist()
  }

  // ---- D216: legal holds × erasure -------------------------------------

  private def holdsPath(table: String) = table + ".__legal_holds__"

  private def holdsExist(spark: SparkSession, table: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(holdsPath(table))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Place the one-column `subjects` frame under legal hold `holdId` on
    * `table` (SURVEY §2D, D216). Holds live in a sidecar next to the
    * data like every governance plane (`<table>.__legal_holds__`,
    * subjects stringified so any key type shares one registry); the
    * same subject may sit under several holds — it stays held until
    * EVERY hold naming it is released. */
  def declareHold(spark: SparkSession, table: String, holdId: String,
      subjects: DataFrame): Unit = {
    require(subjects.columns.length == 1,
      "hold subjects must be a one-column id frame")
    require(holdId.nonEmpty, "holdId must be non-empty")
    subjects.na.drop().distinct()
      .select(lit(holdId).as("hold_id"),
        col(subjects.columns.head).cast("string").as("subject"))
      .write.mode(SaveMode.Append).parquet(holdsPath(table))
  }

  /** Release hold `holdId`: its subjects become erasable again unless
    * another hold still names them. Rewrites the sidecar (checkpointed
    * read first — the overwrite must not consume its own input). */
  def releaseHold(spark: SparkSession, table: String,
      holdId: String): Unit = {
    if (!holdsExist(spark, table)) return
    val rest = spark.read.parquet(holdsPath(table))
      .filter(col("hold_id") =!= holdId)
      .localCheckpoint()
    rest.write.mode(SaveMode.Overwrite).parquet(holdsPath(table))
  }

  /** Distinct stringified subjects currently under ANY hold on `table`. */
  def heldSubjects(spark: SparkSession, table: String): DataFrame =
    if (!holdsExist(spark, table))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("subject",
            org.apache.spark.sql.types.StringType))))
    else spark.read.parquet(holdsPath(table)).select("subject").distinct()

  /** [[eraseVersioned]] under the legal-hold registry (SURVEY §2D,
    * D216): a deletion request arriving while some subjects sit under
    * litigation/audit hold is PARTIALLY honored — the erasable subset
    * erases (every retained snapshot, clones resolved, ledgered under
    * pseudonyms exactly as [[eraseVersioned]]), the held remainder is
    * counted and returned for the privacy program to re-drive after
    * release. Held subjects never reach the ledger: a ledger line
    * certifies an erasure that HAPPENED, and deferring silently would
    * certify a lie. A request of only-held subjects erases nothing and
    * writes no ledger (subjects = rows = 0). */
  def eraseVersionedWithHolds(spark: SparkSession, table: String,
      keyCol: String, subjects: DataFrame, ledgerPath: String,
      ledgerKey: String, erasedAtMs: Long = System.currentTimeMillis,
      fold: Boolean = true): (Erased, Long) = {
    require(subjects.columns.length == 1,
      "subjects must be a one-column id frame")
    val idCol = subjects.columns.head
    val sub = subjects.na.drop().distinct().localCheckpoint()
    val held = heldSubjects(spark, table)
    val erasable = sub.join(held,
      sub(idCol).cast("string") === held("subject"), "left_anti")
      .localCheckpoint()
    val nHeld = sub.count() - erasable.count()
    if (erasable.isEmpty) (Erased(0L, 0L), nHeld)
    else (eraseVersioned(spark, table, keyCol, erasable, ledgerPath,
      ledgerKey, erasedAtMs, fold), nHeld)
  }

  /** Has `id` been honored? The key holder's audit: pseudonymize the id
    * with the same key and look it up in the ledger. */
  def isErased(spark: SparkSession, ledgerPath: String, id: String,
      ledgerKey: String): Boolean = {
    import spark.implicits._
    if (!java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(ledgerPath))) return false
    val token = Privacy.pseudonymizeFrame(
      Seq(id).toDF("subject"), Seq("subject"), ledgerKey)
      .select("subject").as[String].head()
    spark.read.parquet(ledgerPath)
      .filter(col("subject") === token).limit(1).count() > 0
  }

  // Privacy.pseudonymize lives in graft.llm; a tiny local alias keeps
  // the sink layer's dependencies one-directional at the call site
  private object Privacy {
    def pseudonymizeFrame(df: DataFrame, cols: Seq[String],
        key: String): DataFrame =
      graft.llm.Privacy.pseudonymize(df, cols, key)
  }
}

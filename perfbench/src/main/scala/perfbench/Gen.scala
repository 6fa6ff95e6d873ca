package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.{ColumnMetadata, LoadType, TableConfig}

/** Seeded, BigMagic-shaped source generator.
  *
  * Every random choice is `xxhash64(seed, salt, key)`, so a row's content
  * depends only on the seed and its key, never on partitioning or task
  * order: the same seed gives byte-for-byte the same rows. Keys and
  * amounts come from the TPC-H-ish tables of the scale-factor directory;
  * everything the engine sees is the generated parquet below.
  *
  * Source columns mimic a JDBC extract of a FoxPro/SQL-Server ERP: a
  * magic day number plus an HHMMSS string for the modification time,
  * byte-coded flags, decimal amounts as text, padded codes. `chg_seq` is
  * the source's row version: unique per row version and increasing with
  * it, it is the incremental watermark column and the check's notion of
  * "newest version". Recency (`lastmodifydate`) is distinct for every
  * version of a key, so dedup-latest never ties.
  */
object Gen {

  /** 1992-01-01, 2001-01-01 and 2002-01-01 (epoch seconds, UTC): base
    * versions fall before the second, extra versions before the third,
    * incremental deltas after it. */
  val TBase = 694224000L
  val TUpdate = 978307200L
  val TDelta = 1009843200L
  /** chg_seq of extra versions starts here (above every key). */
  val UpdateSeq0 = 1000000000L
  /** chg_seq of incremental deltas starts here. */
  val DeltaSeq0 = 10000000000L
  /** One order in `OrderSample` (and its lines) is kept, chosen by
    * seed; a larger sample keeps fewer (the JVM warm-up's tiny inputs). */
  val OrderSample = 4

  /** The audit timestamp `fn_transform_Datetime()` writes. */
  val Now: Timestamp = Timestamp.valueOf("2024-06-25 07:00:00")

  def h(seed: Long, salt: String, cs: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cs): _*)

  /** Uniform integer in [0, n). */
  def pick(seed: Long, salt: String, n: Long, cs: Column*): Column =
    pmod(h(seed, salt, cs: _*), lit(n))

  /** Scalar twin of [[pick]] for choices made outside Spark. */
  def pickL(seed: Long, salt: String, n: Long, i: Long): Long = {
    val x = java.lang.Long.rotateLeft(seed * 0x9E3779B97F4A7C15L ^
      salt.hashCode.toLong * 0xC2B2AE3D27D4EB4FL ^ i * 0x165667B19E3779F9L, 31)
    val m = (x ^ (x >>> 29)) * 0xBF58476D1CE4E5B9L
    java.lang.Math.floorMod(m ^ (m >>> 32), n)
  }

  /** Magic day number and HHMMSS text of an epoch-second column. */
  private def magicDay(ts: Column): Column =
    floor(ts / 86400).cast("long") + lit(25567L + 693596L)
  private def hhmmss(ts: Column): Column = {
    val s = pmod(ts, lit(86400L))
    ((s / 3600).cast("long") * 10000 + (pmod(s, lit(3600L)) / 60)
      .cast("long") * 100 + pmod(s, lit(60L))).cast("string")
  }

  /** The recency string the stage's `lastmodifydate` holds for an
    * epoch-second column (the DSL lands DatetimeMagic as text). */
  def tsText(ts: Column): Column =
    date_format(timestamp_seconds(ts), "yyyy-MM-dd HH:mm:ss")

  /** Columns every source table shares. `key` is the row key, `ts` the
    * version's epoch second, `code` a small company code. */
  private def common(seed: Long, key: Column, ts: Column, code: Column,
      flag: Column, amount: Column, seq: Column): Seq[Column] = Seq(
    key.as("numdoc"),
    // a tenth of the codes arrive padded: ClearString trims them
    concat(when(pick(seed, "pad", 10, key, seq) === 0, lit(" "))
      .otherwise(lit("")), lpad(code.cast("string"), 3, "0")).as("compania"),
    magicDay(ts).as("fecmodi"),
    hhmmss(ts).as("horamodi"),
    flag.as("flgact"),
    format_string("%.2f", amount).as("monto"),
    seq.as("chg_seq"))

  /** FoxPro byte encodings of T/F (ByteMagic decodes all of them). */
  private def byteFlag(seed: Long, isTrue: Column, key: Column): Column = {
    val enc = pick(seed, "flagenc", 3, key)
    when(isTrue, when(enc === 0, "T").when(enc === 1, "84").otherwise("0x54"))
      .otherwise(when(enc === 0, "F").when(enc === 1, "70").otherwise("0x46"))
  }

  private def read(spark: SparkSession, sf: String, t: String): DataFrame =
    spark.read.parquet(s"$sf/$t.parquet")

  private def keep(seed: Long, sample: Int, key: Column): Column =
    pick(seed, "keep", sample, key) === 0

  /** Orders-shaped source: one version per order. */
  def orders(spark: SparkSession, sf: String, seed: Long,
      sample: Int = OrderSample): DataFrame = {
    val o = read(spark, sf, "orders")
      .where(keep(seed, sample, col("o_orderkey")))
    val key = col("o_orderkey")
    val ts = lit(TBase) + key * 400 + pick(seed, "ots", 300, key)
    o.select((common(seed, key, ts, pmod(col("o_custkey"), lit(5L)),
        byteFlag(seed, col("o_orderstatus") === "F", key),
        col("o_totalprice"), key) ++ Seq(
      col("o_custkey").as("cliente"),
      col("o_orderpriority").as("prioridad"),
      concat(col("o_orderstatus"), lit("  ")).as("estado"))): _*)
  }

  /** Lineitem-shaped source: one base version per line plus extra
    * versions for about a quarter of the lines (a fifth get one, a
    * twentieth two), each with a later recency and a larger chg_seq.
    * Lines are renumbered within their order over every column (the
    * test data repeats (orderkey, linenumber) pairs), so `lineid` is a
    * unique, deterministic key; line 0 never exists. */
  def lineitem(spark: SparkSession, sf: String, seed: Long,
      sample: Int = OrderSample): DataFrame = {
    val all = read(spark, sf, "lineitem")
    val byOrder = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey").orderBy(all.columns.map(col): _*)
    val l = all.where(keep(seed, sample, col("l_orderkey")))
      .withColumn("lineid", col("l_orderkey") * 64 + row_number().over(byOrder))
    val extra = pick(seed, "versions", 20, col("lineid"))
    val nVersions = when(extra === 0, 3).when(extra <= 4, 2).otherwise(1)
    val expanded = l.withColumn("v", explode(sequence(lit(0), nVersions - 1)))
    val key = col("lineid")
    val v = col("v")
    val seq = when(v === 0, key).otherwise(lit(UpdateSeq0) + key * 4 + v)
    val ts = when(v === 0,
        lit(TBase) + key * 6 + pick(seed, "lts", 5, key))
      .otherwise(lit(TUpdate) + key * 4 + v)
    // later versions re-price the line and may flip its flag
    val amount = col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
      (lit(1.0) + pick(seed, "reprice", 50, key, v) / 1000.0 * v)
    val flagT = when(v === 0, col("l_returnflag") === "R")
      .otherwise(pick(seed, "flip", 2, key, v) === 0)
    expanded.select((common(seed, key, ts, pmod(col("l_suppkey"), lit(5L)),
        byteFlag(seed, flagT, key), amount, seq) ++ Seq(
      col("l_orderkey").as("pedido"),
      col("l_linenumber").as("linea"),
      format_string("%.2f", col("l_quantity")).as("cantidad"),
      col("l_linestatus").as("estado"))): _*)
  }

  /** The three masters: one version per key. */
  def master(spark: SparkSession, sf: String, seed: Long, t: String,
      sample: Int = OrderSample): DataFrame = {
    val (df, key, extras) = t match {
      case "customer" => (read(spark, sf, "customer"), col("c_custkey"),
        Seq(concat(lit(" "), col("c_name")).as("nombre"),
          col("c_mktsegment").as("segmento"), col("c_acctbal").as("amt")))
      case "part" => (read(spark, sf, "part"), col("p_partkey"),
        Seq(col("p_name").as("nombre"), col("p_brand").as("segmento"),
          col("p_retailprice").as("amt")))
      case "supplier" => (read(spark, sf, "supplier"), col("s_suppkey"),
        Seq(col("s_name").as("nombre"), lit("NONE").as("segmento"),
          col("s_acctbal").as("amt")))
    }
    val ts = lit(TBase) + key * 9000 + pick(seed, s"${t}ts", 8000, key)
    df.where(keep(seed, sample / OrderSample, key))
      .select(extras ++ Seq(key.as("k"), ts.as("ts")): _*)
      .select((common(seed, col("k"), col("ts"), pmod(col("k"), lit(5L)),
        byteFlag(seed, pick(seed, s"${t}act", 10, col("k")) > 0, col("k")),
        col("amt"), col("k")) ++ Seq(col("nombre"), col("segmento"))): _*)
  }

  // ---- table configuration (tables.csv / columns.csv rows) ----

  def tableConfig(table: String, transactional: Boolean): TableConfig =
    TableConfig(columns = "*",
      loadType = if (transactional) LoadType.Incremental else LoadType.Full,
      partitionMode = "",
      partitionColumn = if (transactional) "chg_seq" else "",
      delayIncrementalIni = 0, delayIncrementalEnd = 0, filterColumn = "",
      filterDataType = "", filterExp = "", idColumn = "", joinExpr = "",
      processId = "P1", sourceSchema = "dbo", sourceTable = table,
      sourceTableType = if (transactional) "t" else "m",
      stageTableName = s"stage_$table", status = "a",
      jobExtractMaxCapacity = "2")

  private def cm(t: String, name: String, id: Int, ty: String, fn: String,
      isId: Boolean = false, isDate: Boolean = false,
      isOrder: Boolean = false): ColumnMetadata =
    ColumnMetadata(name, id, isDate, isId, isOrder, false, ty, t, fn)

  /** Column specs shared by every stage table: key, recency, DSL-decoded
    * flag/amount/company, the row version and the audit stamp. The id is
    * the output sort, so stage files come out key-clustered. */
  private def commonMeta(t: String): Seq[ColumnMetadata] = Seq(
    cm(t, "id", 1, "bigint", "numdoc", isId = true, isOrder = true),
    cm(t, "id_compania", 2, "string", "fn_transform_ClearString(compania)"),
    // zone maps have long and string dialects only, so recency lands as
    // sortable text; it is also the dedup-latest recency column
    cm(t, "lastmodifydate", 3, "string",
      "fn_transform_DatetimeMagic(fecmodi, horamodi, yyyyMMdd)",
      isDate = true),
    cm(t, "flg_activo", 4, "string", "fn_transform_ByteMagic(flgact, $F)"),
    cm(t, "monto", 5, "numeric(18,2)", "fn_transform_Numeric(monto)"),
    cm(t, "chg_seq", 6, "bigint", "chg_seq"),
    cm(t, "processdate", 7, "timestamp", "fn_transform_Datetime()"))

  def meta(t: String): Seq[ColumnMetadata] = commonMeta(t) ++ (t match {
    case "orders" => Seq(
      cm(t, "id_venta", 8, "string",
        "fn_transform_Concatenate(compania, numdoc)"),
      cm(t, "prioridad", 9, "string", "fn_transform_Case_with_default(" +
        "prioridad, 1-URGENT|2-HIGH->alta, 3-MEDIUM->media, $baja)"),
      cm(t, "estado", 10, "string", "fn_transform_ClearString(estado, $X)"),
      cm(t, "id_cliente", 11, "bigint", "cliente"))
    case "lineitem" => Seq(
      cm(t, "id_linea", 8, "string",
        "fn_transform_Concatenate(compania, pedido, linea)"),
      cm(t, "cantidad", 9, "numeric(12,2)", "fn_transform_Numeric(cantidad)"),
      cm(t, "estado", 10, "string", "fn_transform_Case_with_default(" +
        "estado, O->abierto, F->cerrado, $otro)"))
    case _ => Seq(
      cm(t, "nombre", 8, "string", "fn_transform_ClearString(nombre)"),
      cm(t, "segmento", 9, "string", "fn_transform_Case_with_default(" +
        "segmento, BUILDING|AUTOMOBILE->retail, MACHINERY->industrial, " +
        "$otros)"))
  })

  // ---- expectations, computed with plain Spark over the source ----

  /** Newest version per key: (id, chg_seq, lastmodifydate text,
    * company, amount). This is what a correct stage table holds. */
  def newest(src: DataFrame): DataFrame =
    src.groupBy(col("numdoc").as("id"))
      .agg(max(struct(col("chg_seq"), col("fecmodi"), col("horamodi"),
        col("compania"), col("monto"))).as("m"))
      .select(col("id"), col("m.chg_seq").as("chg_seq"),
        tsText((col("m.fecmodi") - lit(25567L + 693596L)) * 86400 +
          horaSeconds(col("m.horamodi"))).as("lastmodifydate"),
        trim(col("m.compania")).as("id_compania"),
        col("m.monto").cast("decimal(18,2)").as("monto"))

  private def horaSeconds(c: Column): Column = {
    val p = lpad(c, 6, "0")
    substring(p, 1, 2).cast("long") * 3600 +
      substring(p, 3, 2).cast("long") * 60 + substring(p, 5, 2).cast("long")
  }

  // ---- incremental deltas ----

  /** One incremental batch against an orders-shaped source whose
    * largest key is `maxKey` and whose largest chg_seq is `maxSeq`
    * (delta versions number from [[DeltaSeq0]] up):
    * `nNew` keys above `maxKey` and `nUpd` distinct keys drawn from the
    * most recent tenth of `[1, maxKey]`, each a new version with a
    * fresh chg_seq and a recency later than any earlier version.
    * Returns the batch, its keys, and the chg_seq of the first key (the
    * i-th key's version is `seq0 + i`). */
  def ordersDelta(spark: SparkSession, seed: Long, cycle: Int, maxKey: Long,
      maxSeq: Long, nNew: Int, nUpd: Int)
      : (DataFrame, IndexedSeq[Long], Long) = {
    val tenth = math.max(1L, maxKey / 10)
    val updKeys = {
      val seen = scala.collection.mutable.LinkedHashSet[Long]()
      var i = 0L
      while (seen.size < nUpd) {
        seen += maxKey - pickL(seed, s"upd$cycle", tenth, i); i += 1
      }
      seen.toSeq
    }
    val keys = ((1L to nNew.toLong).map(maxKey + _) ++ updKeys).toIndexedSeq
    val seq0 = math.max(maxSeq, DeltaSeq0) + 1
    import spark.implicits._
    val base = keys.zipWithIndex.map { case (k, i) => (k, seq0 + i) }
      .toDF("k", "seq")
    val key = col("k")
    val ts = lit(TDelta) + col("seq") - lit(DeltaSeq0)
    val df = base.select((common(seed, key, ts, pick(seed, "dcust", 5, key),
        byteFlag(seed, pick(seed, s"dact$cycle", 2, key) === 0, key),
        (pick(seed, s"damt$cycle", 5000000, key) / 100.0), col("seq")) ++
      Seq(pick(seed, "dcust", 15000, key).as("cliente"),
        element_at(array(lit("1-URGENT"), lit("2-HIGH"), lit("3-MEDIUM"),
          lit("4-NOT SPECIFIED"), lit("5-LOW")),
          (pick(seed, s"dprio$cycle", 5, key) + 1).cast("int"))
          .as("prioridad"),
        lit("O  ").as("estado"))): _*)
    (df, keys, seq0)
  }
}

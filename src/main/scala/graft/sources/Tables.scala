package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, timestamp_micros, unix_micros}
import org.apache.spark.sql.types.{DataType, LongType, StructType, TimestampNTZType, TimestampType}

/** Table loaders.
  *
  * Mirrors the reference's source layer: dbt `source()` tables read from
  * the warehouse (models/staging/schema.yml:1-24) and the
  * `taxi_zone_lookup` CSV seed with per-column type overrides
  * (dbt_project.yml:43-47). Here sources are parquet directories and
  * seeds are CSVs; both come back as DataFrames whose scans Catalyst can
  * prune and push filters into. Parquet tables are read through
  * [[Tables.parquet]], so a table's footer schema is inferred once per
  * file, not on every read.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame =
    Tables.parquet(spark, s"$dir/$name.parquet")

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")

  /** The events feed, with `ts` normalized to graft's internal event-time
    * representation: a raw NANOSECOND epoch long. The feed's physical
    * type has varied across data generations (int64 ns — readable only
    * under `spark.sql.legacy.parquet.nanosAsLong`, which
    * [[graft.core.Graft.tune]] still sets — and µs `timestamp`, which
    * Spark surfaces as TIMESTAMP_NTZ), so the loader adapts to whatever
    * the scan reports via [[Tables.normalizeEventTs]] rather than
    * hard-wiring one physical type. Downstream operators uniformly
    * derive µs/timestamps via [[graft.functions.Fns.nsToUs]].
    */
  def events: DataFrame = Tables.normalizeEventTs(t("events"))
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {

  /** Session confs that change what parquet schema inference returns. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  private final case class FileId(path: String, length: Long, modificationTime: Long)

  /** (qualified path, inference conf values) → (the files the schema was
    * inferred from, that schema). A rewritten path replaces its entry.
    */
  private val footerSchemas =
    new ConcurrentHashMap[(String, Seq[Option[String]]), (Seq[FileId], StructType)]()

  /** `spark.read.parquet(path)` without the footer schema-inference job on
    * every call: the schema inferred on the first read of `path` is
    * memoized and later reads pass it to `spark.read.schema`.
    *
    * The memo key is the session's values of [[inferenceConfs]] plus the
    * sorted `(path, length, modificationTime)` of every file under `path`,
    * partition directories included. Rewriting, adding or removing a
    * file, or changing one of those confs, invalidates the entry and the
    * next read infers again. The memo lives as long as the JVM and holds
    * one entry per path and conf set.
    *
    * The file identities come from `getFileStatus` and `listStatus`. Do
    * not switch to `listFiles`: on the local filesystem its
    * `LocatedFileStatus` forks a `stat` process per file to load
    * permissions, which adds process I/O to every read.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ids = files(fs, fs.getFileStatus(p)).sortBy(_.path)
    val key = (fs.makeQualified(p).toString, inferenceConfs.map(spark.conf.getOption))
    val schema = footerSchemas.get(key) match {
      case (`ids`, s) => s
      case _ =>
        val s = spark.read.parquet(path).schema
        footerSchemas.put(key, (ids, s))
        s
    }
    spark.read.schema(schema).parquet(path)
  }

  /** Every file under `st`, recursively (partition directories too). */
  private def files(fs: FileSystem, st: FileStatus): Seq[FileId] =
    if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(files(fs, _))
    else Seq(FileId(st.getPath.toString, st.getLen, st.getModificationTime))

  /** Normalize an events frame's `ts` column to a raw nanosecond epoch
    * long, whatever logical type the scan produced:
    *
    *  - `LongType` — already ns (the legacy int64-ns feed read under
    *    `nanosAsLong`): pass through untouched.
    *  - `TIMESTAMP_NTZ` (the current µs feed; parquet `timestamp[us]`
    *    with no tz) — the naive wall-clock is, by the feed's contract,
    *    a UTC instant; graft sessions pin `spark.sql.session.timeZone`
    *    to UTC ([[graft.core.Graft.tune]]), so the NTZ→LTZ cast is
    *    wall-clock-preserving and `unix_micros · 1000` recovers the
    *    exact ns value the old feed carried. This matches how the
    *    driver's DuckDB oracle reads the same file (`epoch_us(ts)` on
    *    a naive TIMESTAMP treats it as UTC).
    *  - `TimestampType` — already an instant; `unix_micros · 1000`.
    *
    * Works on batch AND streaming frames (it branches on the schema,
    * never the data), so every `readStream` intake applies the same
    * normalization. Column order is preserved (`withColumn` replaces
    * in place).
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df
      case TimestampNTZType =>
        // The NTZ→LTZ cast below is wall-clock-preserving ONLY under a
        // UTC session timezone; anything else would silently shift every
        // instant by the zone offset. Fail loudly instead (mirrors the
        // old feed's hard dependency on Graft.tune's nanosAsLong).
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        // accept any zone whose rules ARE UTC ("UTC", "Etc/UTC", "GMT",
        // "Z", "+00:00"): the cast is wall-clock-correct under all of
        // them, and a string-equality pin would hard-fail sessions whose
        // JVM default resolves to an alias
        val zoneIsUtc =
          try {
            val rules = java.time.ZoneId
              .of(tz, java.time.ZoneId.SHORT_IDS).getRules
            rules.isFixedOffset &&
              rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds == 0
          } catch { case _: java.time.DateTimeException => false }
        require(zoneIsUtc,
          s"events.ts is TIMESTAMP_NTZ and spark.sql.session.timeZone is '$tz'; " +
            "graft requires UTC (set via graft.core.Graft.tune) so the " +
            "NTZ->instant cast preserves the feed's UTC wall-clock")
        df.withColumn("ts",
          unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case TimestampType =>
        df.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case other =>
        throw new IllegalStateException(
          s"events.ts: unsupported physical type $other — expected " +
            "int64 ns, timestamp, or timestamp_ntz")
    }

  /** Inverse direction for writers that must emit a row matching the
    * feed's RAW schema (e.g. the streaming sentinel file): render a ns
    * epoch-long column as `dt`, the raw feed's `ts` type.
    */
  def tsLiteralAs(ns: Column, dt: DataType): Column = dt match {
    case LongType => ns
    case TimestampNTZType | TimestampType =>
      // Exact integer division (Fns.nsToUs): `/` on longs is DOUBLE
      // division in Spark, and at epoch-ns magnitude (~1.7e18 > 2^53)
      // the rounded quotient can come back 1µs low after the cast.
      timestamp_micros(graft.functions.Fns.nsToUs(ns)).cast(dt)
    case other =>
      throw new IllegalStateException(s"events.ts: unsupported type $other")
  }

  /** CSV seed loader — the analog of dbt's seed with
    * `+column_types: {locationid: numeric}` (dbt_project.yml:43-47):
    * header CSV, schema inferred, then explicit per-column type
    * overrides applied as casts so downstream joins see stable types.
    */
  def seedCsv(
      spark: SparkSession,
      path: String,
      columnTypes: Map[String, DataType] = Map.empty): DataFrame = {
    val raw = spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .csv(path)
    columnTypes.foldLeft(raw) { case (df, (col, dt)) =>
      df.withColumn(col, df(col).cast(dt))
    }
  }

  /** Schema-first CSV seed (no inference pass — preferred at scale:
    * inference reads the file twice).
    */
  def seedCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)
}

package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Scratch

/** Source/sink lifecycle: the reference's bcp CSV load, COPY INTO
  * (csv/parquet/orc), CSV export, and the archive/partial-date incremental
  * refresh (claims_db/db_loader/scripts_general/load_table.R,
  * copy_into.R:20-80, sqlexport_speed.R).
  *
  * Scale notes: loads read with DECLARED schemas (no inference pass over
  * 100 TB); the incremental refresh copies and rewrites only the
  * partitions intersecting the refresh window (dynamic partition
  * overwrite), never the historical tail.
  */
object LoadTable {

  /** bcp-style CSV bulk load (load_table.R:190-258): declared schema, no
    * inference; `|`-ish delimiters, headers, gz all flow through options. */
  def loadCsv(spark: SparkSession, path: String, cfg: TableConfig,
      sep: String = ",", header: Boolean = true): DataFrame =
    spark.read
      .schema(cfg.schema)
      .option("sep", sep)
      .option("header", header)
      .csv(path)

  /** COPY INTO from lake formats (copy_into.R:20-80). */
  def loadLake(spark: SparkSession, path: String, format: String,
      cfg: TableConfig): DataFrame = format match {
    case "parquet" => spark.read.schema(cfg.schema).parquet(path)
    case "orc" => spark.read.schema(cfg.schema).orc(path)
    case "csv" => loadCsv(spark, path, cfg)
    case other => throw new IllegalArgumentException(s"format: $other")
  }

  /** CDR raw-extract column-name sanitizer
    * (db_loader/cdr/00_raw_file_processing.R:45-58): lowercase, strip
    * parens, drop commas, then space/dash/slash -> underscore — the
    * exact replacement chain, applied in the reference's order. */
  def sanitizeColumn(name: String): String =
    name.toLowerCase
      .replaceAll("[()]", "")
      .replace(",", "")
      .replace(" ", "_")
      .replace("-", "_")
      .replace("/", "_")

  /** CDR-style multi-char-delimited raw ingestion
    * (db_loader/cdr/00_raw_file_processing.R:27-90): the extract ships
    * a HeaderOnly file naming the columns with a `|@|` field separator
    * and `~@~` line-noise markers; the loader strips the noise,
    * sanitizes each header into a column name, declares everything
    * VARCHAR (the reference types raw CDR as VARCHAR(255) across the
    * board), and reads the data file with the same multi-char
    * separator — no inference scan.
    *
    * Scale: the header file is one line read on the driver; the data
    * read is Spark's parallel CSV text source with the declared schema,
    * so the 100-TB path is a plain distributed scan. */
  def loadCdrRaw(spark: SparkSession, headerPath: String,
      dataPath: String, sep: String = "|@|",
      noise: String = "~@~"): DataFrame = {
    val headerLine = spark.read.text(headerPath)
      .head().getString(0).replace(noise, "")
    val cols = headerLine
      .split(java.util.regex.Pattern.quote(sep), -1)
      .map(sanitizeColumn)
    val schema = org.apache.spark.sql.types.StructType(cols.map(c =>
      org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.StringType)))
    spark.read.schema(schema).option("sep", sep).csv(dataPath)
  }

  /** CSV export for partners (sqlexport_speed.R). */
  def exportCsv(df: DataFrame, path: String, sep: String = ","): Unit =
    df.write.mode("overwrite").option("sep", sep).option("header", "true").csv(path)

  /** ORC sink (copy_into.R supports orc on the lake side). */
  def exportOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Initial full load of a partitioned lake table. */
  def fullLoad(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(path)

  /** The monthly incremental-refresh kernel (load_table.R:615-708,782-793):
    *
    *  1. copy the partitions intersecting the refresh window to `archive`
    *     (the reference's archive-schema swap),
    *  2. rebuild those partitions as
    *     `archive WHERE date < cut  UNION ALL  new WHERE date >= cut`
    *     (or UNION-distinct — the mcaid_claim variant at :770-780),
    *  3. dynamic-partition-overwrite them back — partitions outside the
    *     window are never read or rewritten.
    *
    * @param partitionOf derived partition value (e.g. year(dateCol))
    */
  def incrementalRefresh(
      spark: SparkSession,
      tablePath: String,
      archivePath: String,
      newData: DataFrame,
      dateCol: String,
      partitionCol: String,
      partitionOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      cutDate: String,
      distinctUnion: Boolean = false): Unit = {
    val cut = lit(cutDate)
    val cutPart = spark.range(1).select(partitionOf(to_date(cut))).head().get(0)

    // declared schema for every re-read: a zero-row partitioned write emits
    // no data files, so inference over table/archive paths would fail on
    // empty refresh windows (and a 100 TB load shouldn't pay an inference
    // listing anyway)
    val tableSchema = newData
      .withColumn(partitionCol, partitionOf(col(dateCol))).schema

    // 1. archive the refresh window's partitions (read table -> write copy)
    val affected = spark.read.schema(tableSchema).parquet(tablePath)
      .filter(col(partitionCol) >= lit(cutPart))
    affected.write.mode("overwrite").partitionBy(partitionCol).parquet(archivePath)

    // 2. rebuild: pre-cut archive rows + post-cut new rows
    val rebuilt0 = spark.read.schema(tableSchema).parquet(archivePath)
      .filter(col(dateCol) < cut)
      .unionByName(
        newData.filter(col(dateCol) >= cut)
          .withColumn(partitionCol, partitionOf(col(dateCol))))
    val rebuilt = if (distinctUnion) rebuilt0.distinct() else rebuilt0

    // 3. overwrite ONLY the partitions present in `rebuilt`
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    rebuilt.write.mode("overwrite").partitionBy(partitionCol).parquet(tablePath)
  }

  /** Small-file compaction: every incremental refresh and streaming sink
    * leaves per-task files; after months of heartbeats a partition is
    * thousands of KB-scale files and scan planning + open() overhead
    * dominates reads. Rewrite to ~`targetRowsPerFile` rows per file via a
    * staging directory swap (object stores rename by copy — the swap cost
    * is the data, paid once, vs open() overhead paid on every scan).
    *
    * Row-count-based sizing keeps the helper deterministic for tests;
    * a byte-based target would divide partition bytes the same way. */
  def compact(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType,
      targetRowsPerFile: Long): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val df = spark.read.schema(schema).parquet(path)
    val n = df.count()
    val nFiles = math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    val staging = path + "_compact_staging"
    df.repartition(nFiles).write.mode("overwrite").parquet(staging)
    val old = Paths.get(path)
    val tmp = Paths.get(path + "_compact_old")
    Files.move(old, tmp, StandardCopyOption.ATOMIC_MOVE)
    try Files.move(Paths.get(staging), old, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case e: Throwable =>
        // the swap is two renames, not one atomic op: if the staging move
        // fails, put the original tree back so `path` never dangles. A
        // failing rollback must not mask the root cause — suppress it, and
        // best-effort drop the staging tree either way.
        try Files.move(tmp, old, StandardCopyOption.ATOMIC_MOVE)
        catch { case rb: Throwable => e.addSuppressed(rb) }
        Scratch.delete(Paths.get(staging))
        throw e
    }
    // best-effort cleanup of the replaced tree
    Scratch.delete(tmp)
  }

  /** Expiring-DUA data-year delete
    * (db_loader/mcaid/mcaid_delete_data_year.R): each table whose date
    * column the script recognizes is rebuilt WITHOUT the expiring
    * year's rows (the reference renames the live table to
    * `_to_delete`, SELECT-INTOs the complement back, and restores the
    * index — here one filtered rewrite; Parquet has no index
    * bookkeeping). Dispatch is by COLUMN NAME, exactly the three the
    * script knows (:59-66): `CLNDR_YEAR_MNTH` (int yyyymm),
    * `FROM_SRVC_DATE` / `first_service_date` (DATE). Any other date
    * column is SKIPPED with a message, never deleted — callers get
    * None and keep the table untouched.
    *
    * The reference's condition is the string-prefix test
    * `{tolower(date_col)} LIKE '{year}%'`. For int yyyymm the rendered
    * prefix is the calendar year; for DATE columns we apply the same
    * prefix to the ISO `yyyy-MM-dd` rendering. (T-SQL's implicit
    * date→varchar conversion uses the `Mon dd yyyy` style, under which
    * the reference's LIKE matches NOTHING for DATE columns — the
    * evidently intended calendar-year semantics are pinned here and
    * the divergence documented rather than reproduced.)
    *
    * Scale: the condition is a row-local prefix test on the scan — a
    * year-partitioned table prunes to a metadata-only delete; an
    * unpartitioned one pays one linear rewrite, same as the
    * reference's SELECT-INTO. */
  val deletableDateCols: Set[String] =
    Set("CLNDR_YEAR_MNTH", "FROM_SRVC_DATE", "first_service_date")

  def deleteDataYear(df: DataFrame, dateCol: String,
      year: Int): Option[DataFrame] =
    if (!deletableDateCols.contains(dateCol)) None
    else Some(df.filter(
      !col(dateCol).cast("string").startsWith(year.toString)))
}

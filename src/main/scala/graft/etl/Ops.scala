package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One small pure function per reference operator (SURVEY.md §2.1).
  *
  * Each is a `DataFrame => DataFrame` / `Column` builder so it is
  * independently testable and independently exposable through
  * [[graft.SparkEntry.queries]]. All are built-in Catalyst expressions —
  * whole-stage-codegen'd, no UDFs (the reference's hottest op, the per-row
  * Python timestamp lambda at btc_etl.py:163, becomes `to_timestamp` over
  * string concat).
  */
object Ops {

  /** #3 filter_filename_valid (utils.py:5-15): anchored pattern + strict
    * date parse. `try_to_timestamp` returns null on impossible dates
    * (day 32 — utils_test.py:20) without flipping ANSI mode off. */
  def isValidBtcFilename(name: Column): Column =
    name.isNotNull &&
      length(name) === 21 &&
      name.rlike(Schemas.filenameRegex) &&
      try_to_timestamp(substring(name, 8, 10), lit("yyyy-MM-dd")).isNotNull

  /** #4 project_extract_date (utils.py:19-21): chars [7:17] of the name. */
  def dateFromFilename(name: Column): Column =
    to_date(substring(name, 8, 10), "yyyy-MM-dd")

  /** #6 filter_required_column (btc_etl.py:156-157): driver-side schema
    * assertion; fails the file (query) before any executor work. */
  def requireColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"missing required column(s): ${missing.mkString(", ")}")
    df
  }

  /** #7 filter_dropna_all (btc_etl.py:160, how='all'): drop rows where ALL
    * of `cols` are null; keep partially-null rows. */
  def dropAllNull(df: DataFrame, cols: Seq[String]): DataFrame =
    df.na.drop("all", cols)

  /** #8 project_make_timestamp (btc_etl.py:163): filename-date + HH:mm:ss
    * -> event timestamp. Pure Catalyst expressions, codegen'd.
    * `try_to_timestamp`, not `to_timestamp`: a null or malformed Time cell
    * must reject THAT ROW (null key, filtered by the NOT NULL PK stage in
    * BtcPipeline), not throw ANSI CANNOT_PARSE_TIMESTAMP and kill the whole
    * job — concat_ws skips a null Time, so under ANSI a single empty cell
    * in one file would otherwise abort a 1000-executor backfill. */
  def makeTimestamp(fileDate: Column, timeStr: Column): Column =
    try_to_timestamp(
      concat_ws(" ", date_format(fileDate, "yyyy-MM-dd"), timeStr),
      lit("yyyy-MM-dd HH:mm:ss"))

  /** #9/#10 project_rename + project_select (btc_etl.py:166-176). */
  def renameAndSelect(df: DataFrame): DataFrame =
    df.withColumnsRenamed(Schemas.renameMap).select(Schemas.sinkCols.map(col): _*)

  /** #11 antijoin_processed (utils.py:24-29): keep rows whose `keyCol` is
    * not in the ledger. The ledger (processed FILE paths, not rows) stays
    * small relative to the input even at 100 TB — broadcast it so the
    * anti-join is a map-side BroadcastHashJoin with no shuffle of the
    * (huge) fact side. If a deployment's ledger ever outgrows the
    * broadcast budget, drop the hint and let AQE pick shuffle vs
    * broadcast at runtime. Catalog key `antijoin_processed`;
    * `BtcPipeline.backfill` does not call it — it keeps a text ledger and
    * filters its listing against it on the driver. */
  def antiJoinLedger(df: DataFrame, ledger: DataFrame, keyCol: String): DataFrame =
    df.join(broadcast(ledger.select(keyCol).distinct()), Seq(keyCol), "left_anti")

  /** #12 ledger_append (utils.py:32-36): ledger ∪ newly-processed keys.
    * Catalog key `ledger_append`; `BtcPipeline.backfill` does not call it
    * — it writes its text ledger from the driver-side path set. */
  def ledgerAppend(ledger: DataFrame, processed: DataFrame): DataFrame =
    ledger.unionByName(processed).distinct()
}

package graft.etl

import org.apache.spark.sql.SparkSession

/** The reference's `create_hypertable(..., migrate_data => TRUE)` analog
  * (/root/reference/btc_etl.py:99-101): convert an EXISTING unpartitioned
  * sink table into the date-partitioned layout, preserving every row.
  *
  * The rows go through `BtcPipeline.appendBatch`, the same clustered write
  * as the backfill: one shuffle on the date, one file per date, on at most
  * `defaultParallelism` writers (the table's date count is not known
  * without a scan). At 100 TB this is a single linear pass; TimescaleDB's
  * migrate_data does the equivalent row movement inside Postgres. */
object ParquetMigrate {

  def toDatePartitioned(spark: SparkSession, srcPath: String, dstPath: String): Unit =
    BtcPipeline.appendBatch(spark.read.parquet(srcPath), ParquetSink(dstPath))
}

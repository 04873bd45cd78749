package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter
import java.nio.file.{Files, Path}

/** Helpers shared by the oracle-checked queries.
  *
  * Several reference operators are about *file* handling (CSV scan, glob
  * scan, permissive parse, streaming file source). The oracle can only see
  * the parquet testdata tables, so those queries stage a deterministic
  * derivation of a testdata table into a temp directory (CSV/parquet), run
  * the real file-handling machinery on it, and phrase the oracle over the
  * original table. Content is derived 1:1 from the table, so results are
  * comparable.
  */
object Staging {

  /** Load a testdata table, normalising `events.ts` to session-zoned
    * TimestampType whatever the generator wrote it as:
    *   - TIMESTAMP(NANOS): Spark 4 refuses it natively — read as long
    *     (`nanosAsLong`) and floor-divide to µs (`div`, integer division:
    *     ns values ~1.7e18 overflow double math). DuckDB's
    *     CAST(ts AS TIMESTAMP) truncates ns->µs the same way.
    *   - TIMESTAMP(MICROS) without tz: arrives as TIMESTAMP_NTZ — cast to
    *     TimestampType (session tz is pinned UTC, so values are identical).
    *   - already TimestampType: pass through. */
  def tbl(spark: SparkSession, dir: String, name: String): DataFrame = {
    graft.expressions.GraftFunctions.register(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types._
      df.schema("ts").dataType match {
        case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
        case _ => df
      }
    } else df
  }

  /** Fresh temp dir under java.io.tmpdir; contents are small derivations of
    * testdata. Spark's shutdown hook deletes it, contents and all, after
    * the context stops. */
  def tmpDir(tag: String): String = {
    val p: Path = Files.createTempDirectory(s"graft-$tag-")
    org.apache.spark.sql.GraftBridge.deleteAtShutdown(p.toFile)
    p.toString
  }

  /** Start `writer`'s query, process everything its sources hold, and stop
    * it — also when a batch fails, whose `StreamingQueryException`
    * propagates. The one run lifecycle of the catalog's drained streams. */
  private[graft] def drain(writer: DataStreamWriter[_]): Unit = {
    val q = writer.start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Run `body` with the session confs in `settings` set, then restore
    * each key's previous value, or unset a key that had none. */
  private[graft] def withConf[A](spark: SparkSession, settings: (String, String)*)(body: => A): A = {
    val prev = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      settings.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
import graft.queries.Staging._

/** Streaming last-touch attribution — the production monitor form of the
  * batch `funnel_attribution` window: per-user "latest click" rides a
  * `transformWithState` ValueState across micro-batches, purchases
  * attribute against it as they arrive, and the result equals the batch
  * query's running-window semantics EXACTLY (shared oracle) because
  *   - files are staged chronologically (pinned mtimes) and drained in
  *     order, so a user's later events never precede earlier ones across
  *     batches — the ordered-log assumption of a time-partitioned feed;
  *   - within a batch each user's rows are folded in (ts, event_id)
  *     order — the same total order the batch window sorts by;
  *   - purchase values travel as DECIMAL(18,2) end-to-end, so the final
  *     day rollup is the identical exact-decimal sum cast to double.
  * State is ONE long per user (last click µs) in the keyed store —
  * billions of users fit because state is per-key-scale, not
  * event-scale, and every batch touches only its own users. */
object AttributionStream {

  case class Ev(user_id: Long, ts_us: Long, event_id: Long,
                event_type: String, v: java.math.BigDecimal)
  case class Attr(user_id: Long, click_us: Long, v: java.math.BigDecimal)

  private val NoClick = Long.MinValue

  private class LastClick extends StatefulProcessor[Long, Ev, Attr] {
    @transient private var st: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      import implicits._
      st = getHandle.getValueState[Long]("lastclick", TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Ev],
                                 timers: TimerValues): Iterator[Attr] = {
      // per-key batch slice is bounded by the user's events per trigger;
      // sort restores the (ts, event_id) total order the batch window uses
      val sorted = rows.toArray.sortBy(e => (e.ts_us, e.event_id))
      var last = if (st.exists()) st.get() else NoClick
      val out = Seq.newBuilder[Attr]
      sorted.foreach { e =>
        if (e.event_type == "click") last = e.ts_us
        else if (e.event_type == "purchase") out += Attr(key, last, e.v)
      }
      if (last != NoClick) st.update(last)
      out.result().iterator
    }
  }

  def run(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val feed = tbl(spark, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"),
        col("value").cast("decimal(18,2)").as("v"))
    val glob = StreamQueries.stageChronological(
      spark, feed, chunks = 8, orderCols = Seq(col("ts_us"), col("event_id")),
      tag = "sattr")

    val out = tmpDir("sattrsink")
    withConf(spark, StreamQueries.RocksDbStateStore, StreamQueries.FewStatePartitions) {
      drain(spark.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", 2).option("pathGlobFilter", "*.parquet")
        .parquet(glob)
        .as[Ev]
        .groupByKey(_.user_id)
        .transformWithState(new LastClick, TimeMode.None(), OutputMode.Append())
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", tmpDir("sattrckpt"))
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[Attr], _: Long) =>
          batch.write.mode("append").parquet(out)
        })
    }

    spark.read.parquet(out)
      .select(
        when(col("click_us") === NoClick, lit(null))
          .otherwise(date_format(timestamp_micros(col("click_us")), "yyyy-MM-dd"))
          .as("click_day"),
        col("v"))
      .groupBy("click_day")
      .agg(count(lit(1)).as("n_purchases"), sum("v").cast("double").as("sum_value"))
      .orderBy("click_day")
  }
}

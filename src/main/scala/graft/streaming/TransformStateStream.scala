package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
import org.apache.spark.sql.types._
import graft.queries.Staging._

/** Arbitrary stateful streaming through Spark 4's `transformWithState`
  * operator-state API (the successor to flatMapGroupsWithState): a
  * per-user running-aggregate StatefulProcessor over a multi-batch file
  * stream, state in the RocksDB provider — the configuration that holds
  * billions of keys at 100 TB because state lives off-heap/on-disk per
  * task instead of in executor heap maps.
  *
  * State is one ValueState[(Long, Long)] per user (count, value cents —
  * integer cents keep the fold deterministic under any batch split);
  * each micro-batch emits the keys it touched with their NEW running
  * totals (update semantics), written via foreachBatch parquet appends.
  * The final frame keeps each user's last emission: totals are
  * monotone in n, so `max_by(struct(n, ...))` selects it without any
  * per-batch bookkeeping. Counts/sums are batch-split invariant, which
  * is exactly what the DuckDB oracle (a plain one-shot aggregation)
  * checks. */
object TransformStateStream {

  case class In(user_id: Long, cents: Long)
  case class Out(user_id: Long, n: Long, sum_cents: Long)

  private class RunningTotals extends StatefulProcessor[Long, In, Out] {
    @transient private var state: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      import implicits._
      state = getHandle.getValueState[(Long, Long)]("totals", TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[In],
                                 timers: TimerValues): Iterator[Out] = {
      val (n0, s0) = if (state.exists()) state.get() else (0L, 0L)
      var n = n0; var s = s0
      rows.foreach { r => n += 1; s += r.cents }
      state.update((n, s))
      Iterator.single(Out(key, n, s))
    }
  }

  /** Stage events as an 8-file CSV dir, drain with maxFilesPerTrigger=2
    * (4 micro-batches, so the value state genuinely carries across
    * batches), then reduce the per-batch emissions to each user's final
    * totals. */
  def run(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = tmpDir("twssrc")
    tbl(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        floor(col("value") * 100).cast("long").as("cents"))
      .repartition(8, col("event_id"))
      .write.mode("overwrite").option("header", "true").csv(src)

    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("cents", LongType)))

    // State-store parallelism follows shuffle partitions: at 32 partitions a
    // 4-batch drain opens 128 RocksDB instances for ~1k keys, so the state
    // partitioning is sized to the keyspace for the stream's lifetime.
    val out = tmpDir("twssink")
    withConf(spark, StreamQueries.RocksDbStateStore, StreamQueries.FewStatePartitions) {
      val updates = spark.readStream
        .option("header", "true").option("maxFilesPerTrigger", 2)
        .schema(schema).option("pathGlobFilter", "*.csv").csv(src)
        .select(col("user_id"), col("cents")).as[In]
        .groupByKey(_.user_id)
        .transformWithState(new RunningTotals, TimeMode.None(), OutputMode.Update())

      drain(updates.writeStream
        .outputMode("update")
        .option("checkpointLocation", tmpDir("twsckpt"))
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[Out], _: Long) =>
          batch.write.mode("append").parquet(out)
        })
    }
    spark.read.parquet(out)
      .groupBy("user_id")
      .agg(max(struct(col("n"), col("sum_cents"))).as("last"))
      .select(col("user_id"), col("last.n").as("n"), col("last.sum_cents").as("sum_cents"))
      .orderBy("user_id")
  }
}

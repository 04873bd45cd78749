package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event for the stateful EWMA (µs epoch orders within a batch). */
case class EwmaEv(user_id: Long, us: Long, event_id: Long, value: Double)

/** Per-user EWMA state / emitted snapshot: the running α=1/2 average and
  * how many events it has folded (monotone — the max-n row per user is the
  * final answer). */
case class EwmaSnap(user_id: Long, n_events: Long, ewma: Double)

/** Streaming exponentially-weighted moving average as a stateful operator
  * (`flatMapGroupsWithState`) — the incremental form of the batch
  * `window_ewma` fold: state is one (ewma, n) pair per user, each event
  * folds `e' = e/2 + x/2`, and every micro-batch appends the user's
  * post-batch snapshot. The running value never re-reads history, so state
  * is O(users) regardless of stream length — the posture an unbounded
  * 100 TB event log requires.
  *
  * Determinism contract matches [[SessionizeStream]]: per-user event-time
  * order must be non-decreasing across micro-batches (within a batch the
  * function sorts); the catalog query stages chronological chunks with
  * pinned modification times. Halving is an exponent shift, and the fold
  * order equals the batch oracle's list_reduce, so the final double is
  * bit-identical to DuckDB's.
  */
object EwmaStream {

  def fold(user: Long, evs: Iterator[EwmaEv], state: GroupState[EwmaSnap]): Iterator[EwmaSnap] = {
    var cur = state.getOption
    evs.toSeq.sortBy(e => (e.us, e.event_id)).foreach { e =>
      cur = cur match {
        case Some(s) => Some(EwmaSnap(user, s.n_events + 1, s.ewma / 2 + e.value / 2))
        case None    => Some(EwmaSnap(user, 1L, e.value))
      }
    }
    cur.foreach(state.update)
    cur.iterator
  }

  /** Catalog query body: stage events chronologically (2 chunks, pinned
    * mtimes -> pickup order = event-time order), drain the stateful
    * stream, return each user's FINAL snapshot (max-n row — n is monotone
    * per user, so the last batch's append wins). */
  def run(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.queries.Staging._

    val src = tmpDir("streamewma")
    val events = tbl(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"), col("value"))
    // chronological chunks via range partitioning (no single-partition
    // ntile window); persisted so sampled bounds are stable across writes
    val bucketed = events
      .repartitionByRange(2, col("us"), col("event_id"))
      .withColumn("b", spark_partition_id() + 1)
      .persist()
    for (i <- 1 to 2)
      bucketed.filter(col("b") === i).drop("b")
        .coalesce(1).write.mode("overwrite").parquet(s"$src/b$i")
    bucketed.unpersist()
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val t0 = System.currentTimeMillis() - 3600000L
    for (i <- 1 to 2) {
      val d = new org.apache.hadoop.fs.Path(s"$src/b$i")
      fs.listStatus(d).filter(_.getPath.getName.endsWith(".parquet"))
        .foreach(st => fs.setTimes(st.getPath, t0 + i * 60000L, -1))
    }

    val snaps = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", 1).option("pathGlobFilter", "*.parquet")
      .parquet(s"$src/*")
      .as[EwmaEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fold _)

    val out = tmpDir("streamewmasink")
    drain(snaps.toDF().writeStream
      .format("parquet").option("path", out).outputMode("append")
      .option("checkpointLocation", tmpDir("streamewmackpt")))

    val all = spark.read.parquet(out)
    // final snapshot per user = the max-n append
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_events").desc)
    all.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("user_id"), col("n_events"), col("ewma"))
      .orderBy("user_id")
  }
}

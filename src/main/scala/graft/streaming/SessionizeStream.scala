package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event for the stateful sessionizer (µs epoch carries event time). */
case class SessEv(user_id: Long, us: Long, event_id: Long)

/** Per-user session state / emitted closed session. session_id counts from
  * 1 per user, matching the batch sessionizer's running-sum numbering. */
case class Sess(user_id: Long, session_id: Long, start_us: Long, end_us: Long, n_events: Long)

/** Gap-based sessionization as a STREAMING stateful operator
  * (`flatMapGroupsWithState`) — the custom-state form of the batch
  * `window_sessionize` query: a >30-min inactivity gap closes a session;
  * closed sessions emit in append mode as soon as the next event proves
  * the gap; the user's open session rides the state store across
  * micro-batches (and restarts, via the checkpoint).
  *
  * Determinism contract: per-user event-time order must be non-decreasing
  * ACROSS micro-batches (within a batch the function sorts). The catalog
  * query stages the corpus range-partitioned by time so file pickup order
  * is chronological — the same assumption an event-time-ordered log (e.g.
  * a Kafka partition keyed by user) gives this operator in production. */
object SessionizeStream {

  val GapUs: Long = 1800L * 1000000L

  def sessionize(user: Long, evs: Iterator[SessEv], state: GroupState[Sess]): Iterator[Sess] = {
    var cur = state.getOption
    val out = scala.collection.mutable.ArrayBuffer[Sess]()
    evs.toSeq.sortBy(e => (e.us, e.event_id)).foreach { e =>
      cur match {
        case Some(s) if e.us - s.end_us <= GapUs =>
          cur = Some(s.copy(end_us = e.us, n_events = s.n_events + 1))
        case Some(s) =>
          out += s
          cur = Some(Sess(user, s.session_id + 1, e.us, e.us, 1))
        case None =>
          cur = Some(Sess(user, 1L, e.us, e.us, 1))
      }
    }
    cur.foreach(state.update)
    out.iterator
  }

  /** Catalog query body: stage events chronologically, drain the stateful
    * stream, return closed sessions (every session except each user's
    * last — the open one stays in state, as in any unbounded run). */
  def run(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.queries.Staging._

    val src = tmpDir("streamsess")
    val events = tbl(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
    // stage two chronological chunks (RANGE partitioning + partition id —
    // ordered disjoint chunks without a single-partition ntile window;
    // persisted so the partitioner's sampled bounds can't shift between
    // the chunk writes) and PIN ascending modification times: the file
    // source orders new files by (modTime, path), so pickup = event-time
    // order, which is the operator's ordered-log assumption
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

    val sessions = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", 1).option("pathGlobFilter", "*.parquet")
      .parquet(s"$src/*")
      .as[SessEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(sessionize _)

    val out = tmpDir("streamsesssink")
    drain(sessions.toDF().writeStream
      .format("parquet").option("path", out).outputMode("append")
      .option("checkpointLocation", tmpDir("streamsessckpt")))

    spark.read.parquet(out)
      .select(
        col("user_id"), col("session_id"), col("n_events"),
        date_format(timestamp_micros(col("start_us")), "yyyy-MM-dd HH:mm:ss").as("start_s"),
        date_format(timestamp_micros(col("end_us")), "yyyy-MM-dd HH:mm:ss").as("end_s"))
      .orderBy("user_id", "session_id")
  }
}

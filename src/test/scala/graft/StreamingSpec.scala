package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Paths}

// top-level so spark.implicits can derive Encoders (local case classes can't)
case class Ev(user: Long, sec: Long)
case class Sess(user: Long, start: Long, end: Long, n: Long)

/** Structured Streaming semantics the reference implements with
  * watchdog+Redis (btc_etl.py:185-228, utils.py:24-36), upgraded to the
  * file-source checkpoint: exactly-once file handling across restarts
  * (replaces the Redis tests utils_test.py:47-70), plus watermarked
  * event-time windows (absent from the reference, SURVEY §2.2). */
class StreamingSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", DoubleType)))

  private def writeFile(dir: String, name: String, rows: Seq[(Long, Double)]): Unit = {
    val body = "id,v\n" + rows.map { case (i, v) => s"$i,$v" }.mkString("\n")
    Files.writeString(Paths.get(dir, name), body)
  }

  test("checkpoint restart: files processed exactly once (FIXTURES A.5c)") {
    val src = Files.createTempDirectory("graft-stream-src-").toString
    val ckpt = Files.createTempDirectory("graft-stream-ckpt-").toString
    val out = Files.createTempDirectory("graft-stream-out-").toString

    writeFile(src, "a.csv", Seq((1L, 1.0), (2L, 2.0)))
    writeFile(src, "b.csv", Seq((3L, 3.0)))

    // parquet sink: supports checkpoint recovery (memory sink does not),
    // and mirrors the real pipeline's sink+ledger transactionality
    def run(): Unit = {
      val q = spark.readStream.schema(schema).option("header", "true").csv(src)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      q.processAllAvailable(); q.stop()
    }

    run()
    assert(spark.read.parquet(out).count() === 3)

    // restart with the same checkpoint after a new file lands: only the
    // new file is read (a.csv/b.csv are in the checkpoint's file log)
    writeFile(src, "c.csv", Seq((4L, 4.0), (5L, 5.0)))
    run()
    val ids = spark.read.parquet(out).select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === Seq(1L, 2L, 3L, 4L, 5L),
      "restart must process ONLY the new file, never re-ingest a/b")
  }

  test("watermarked tumbling window emits closed windows in append mode") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft-wm-src-").toString
    val ckpt = Files.createTempDirectory("graft-wm-ckpt-").toString
    val sch = StructType(Seq(StructField("ts", TimestampType), StructField("v", DoubleType)))

    def mkParquet(name: String, rows: Seq[(String, Double)]): Unit =
      rows.toDF("s", "v").select(to_timestamp(col("s")).as("ts"), col("v"))
        .coalesce(1).write.parquet(s"$src/$name")

    // batch 1: two events in hour 10; batch 2: an event far past the
    // watermark horizon closes hour 10
    mkParquet("p1", Seq(("2024-01-01 10:05:00", 1.0), ("2024-01-01 10:45:00", 2.0)))

    val agg = spark.readStream.schema(sch).option("pathGlobFilter", "*.parquet")
      .parquet(s"$src/*")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour")).agg(sum("v").as("sv"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w"), col("sv"))

    val q = agg.writeStream.format("memory").queryName("wm1")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    q.processAllAvailable()
    assert(spark.table("wm1").count() === 0, "open window must not emit in append mode")

    mkParquet("p2", Seq(("2024-01-01 13:00:00", 9.0)))
    q.processAllAvailable(); q.stop()

    val rows = spark.table("wm1").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(rows.toSeq === Seq(("2024-01-01 10:00:00", 3.0)),
      "hour-10 window closes once the watermark passes it")
  }

  test("streaming dropDuplicates: cross-batch row dedup (the reference's PK, btc_etl.py:74)") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft-dd-src-").toString
    val ckpt = Files.createTempDirectory("graft-dd-ckpt-").toString
    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType)))
    def put(name: String, rows: Seq[(String, Long)]): Unit =
      rows.toDF("s", "k").select(to_timestamp(col("s")).as("ts"), col("k"))
        .coalesce(1).write.parquet(s"$src/$name")

    put("b1", Seq(("2024-01-01 10:00:00", 1L), ("2024-01-01 10:00:30", 1L), ("2024-01-01 10:01:00", 2L)))
    val q = spark.readStream.schema(sch).option("pathGlobFilter", "*.parquet").parquet(s"$src/*")
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("k")
      .writeStream.format("memory").queryName("dd")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    q.processAllAvailable()
    // a later batch re-sends key 1 within the watermark -> suppressed
    put("b2", Seq(("2024-01-01 10:02:00", 1L), ("2024-01-01 10:02:00", 3L)))
    q.processAllAvailable(); q.stop()
    val ks = spark.table("dd").select("k").as[Long].collect().sorted
    assert(ks.toSeq === Seq(1L, 2L, 3L), s"key 1 must appear once, got ${ks.toSeq}")
  }

  test("stateful sessionization via flatMapGroupsWithState") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val src = Files.createTempDirectory("graft-fmgs-src-").toString
    val ckpt = Files.createTempDirectory("graft-fmgs-ckpt-").toString

    // gap > 100s closes a session; emit closed sessions as they close
    def fn(user: Long, evs: Iterator[Ev], state: GroupState[Sess]): Iterator[Sess] = {
      var cur = state.getOption
      val out = scala.collection.mutable.ArrayBuffer[Sess]()
      evs.toSeq.sortBy(_.sec).foreach { e =>
        cur match {
          case Some(s) if e.sec - s.end <= 100 =>
            cur = Some(s.copy(end = e.sec, n = s.n + 1))
          case Some(s) =>
            out += s; cur = Some(Sess(user, e.sec, e.sec, 1))
          case None =>
            cur = Some(Sess(user, e.sec, e.sec, 1))
        }
      }
      cur.foreach(state.update)
      out.iterator
    }

    Seq((1L, 10L), (1L, 50L), (2L, 10L)).toDF("user", "sec")
      .write.parquet(s"$src/b1")
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("sec", org.apache.spark.sql.types.LongType))))
      .option("pathGlobFilter", "*.parquet").parquet(s"$src/*")
      .as[Ev]
      .groupByKey(_.user)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn _)

    val q = stream.writeStream.format("memory").queryName("fmgs")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    q.processAllAvailable()
    assert(spark.table("fmgs").count() === 0, "no session closed yet")

    // user 1 returns after a >100s gap: the first session closes with both
    // events; user 2's session stays open (state carried across batches)
    Seq((1L, 300L)).toDF("user", "sec").write.parquet(s"$src/b2")
    q.processAllAvailable(); q.stop()
    val sessions = spark.table("fmgs").as[Sess].collect()
    assert(sessions.toSeq === Seq(Sess(1L, 10L, 50L, 2L)))
  }

  test("foreachBatch cluster-state merge: restart resumes mid-stream, equals batch dedup") {
    val docs = graft.queries.Staging.tbl(spark, sf, "documents")
    val src = Files.createTempDirectory("graft-sdc-src-").toString
    val ckpt = Files.createTempDirectory("graft-sdc-ckpt-").toString
    val state = Files.createTempDirectory("graft-sdc-state-").toString

    // phase 1: half the corpus arrives, query drains and is STOPPED
    docs.filter(col("doc_id") < 250).repartition(2)
      .write.mode("overwrite").parquet(s"$src/drop1")
    val q1 = graft.streaming.StreamQueries.dedupClusterWriter(
      spark, s"$src/*", docs.schema, ckpt, state).start()
    q1.processAllAvailable(); q1.stop()

    // phase 2: the rest lands while the query is down; restart from the
    // same checkpoint + state root
    docs.filter(col("doc_id") >= 250).repartition(2)
      .write.mode("overwrite").parquet(s"$src/drop2")
    val q2 = graft.streaming.StreamQueries.dedupClusterWriter(
      spark, s"$src/*", docs.schema, ckpt, state).start()
    q2.processAllAvailable(); q2.stop()

    val streamed = graft.streaming.ClusterStateSink.read(spark, state)
      .select("rep", "n_docs").orderBy("rep")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val batch = graft.operators.Dedup.minhashSigClusters(spark, docs)
      .orderBy("rep")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(streamed === batch,
      "state drained across a restart must equal the batch groupBy")
  }

  test("stream_window_append: each closed window emitted exactly once, sentinel stays open") {
    val out = graft.streaming.StreamQueries.streamWindowAppend(spark, sf)
    val rows = out.collect()
    assert(rows.nonEmpty)
    // append mode = one immutable row per (window, type); an upserting sink
    // would show duplicates here
    val keys = rows.map(r => (r.getString(0), r.getString(1)))
    assert(keys.length === keys.distinct.length, "window emitted more than once")
    assert(!rows.exists(_.getString(1) == "sentinel"),
      "the sentinel's own (never-closed) window must not be emitted")
    // the drained append stream equals the batch group-by over real events
    val batch = graft.queries.Staging.tbl(spark, sf, "events")
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(rows.map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap === batch)
  }

  test("stream_stream_join: drained stream equals the batch interval join") {
    val out = graft.streaming.StreamQueries.streamStreamJoin(spark, sf).collect()
    val ev = graft.queries.Staging.tbl(spark, sf, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("ts").as("click_ts"), col("user_id"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
        col("user_id").as("p_user_id"))
    val batch = c.join(p, col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select("user_id", "click_id", "purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val streamed = out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(streamed === batch, "watermarks must bound state, never drop matches")
  }

  test("maxFilesPerTrigger bounds each micro-batch") {
    val src = Files.createTempDirectory("graft-mft-src-").toString
    val ckpt = Files.createTempDirectory("graft-mft-ckpt-").toString
    (0 until 6).foreach(i => writeFile(src, s"f$i.csv", Seq((i.toLong, i.toDouble))))

    val q = spark.readStream.schema(schema).option("header", "true")
      .option("maxFilesPerTrigger", 2).csv(src)
      .writeStream.format("memory").queryName("mft")
      .option("checkpointLocation", ckpt).outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("mft").count() === 6)
    // 6 files / 2 per trigger = 3 committed batches in the checkpoint log
    val commits = new java.io.File(s"$ckpt/commits").list().count(!_.startsWith("."))
    assert(commits === 3, s"expected 3 micro-batches, got $commits")
  }

  test("a foreachBatch state that cannot be read fails the query instead of resetting") {
    val src = Files.createTempDirectory("graft-state-src-").toString
    val ckpt = Files.createTempDirectory("graft-state-ckpt-").toString
    val state = Files.createTempDirectory("graft-state-").toString
    writeFile(src, "a.csv", Seq((1L, 1.0)))
    val corrupt = Paths.get(state, "part-0.parquet")
    Files.writeString(corrupt, "not a parquet file")

    val q = spark.readStream.schema(schema).option("header", "true").csv(src)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val prev = graft.streaming.StreamQueries.priorState(b.sparkSession, state, schema)
          .getOrElse(b.limit(0))
        prev.unionByName(b).localCheckpoint().write.mode("overwrite").parquet(state)
      }
      .start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.processAllAvailable())
    q.stop()
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => String.valueOf(c.getMessage).contains("part-0.parquet")),
      causes.map(_.toString).mkString("\n"))
    assert(new java.io.File(state).list().toSeq === Seq("part-0.parquet"), "the state is kept")
    assert(Files.readString(corrupt) === "not a parquet file")
  }

  test("drain rethrows a failed batch's cause and leaves no query running") {
    val src = graft.queries.Staging.tmpDir("drain-src")
    val ckpt = graft.queries.Staging.tmpDir("drain-ckpt")
    writeFile(src, "a.csv", Seq((1L, 1.0)))

    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      graft.queries.Staging.drain(
        spark.readStream.schema(schema).option("header", "true").csv(src)
          .writeStream.option("checkpointLocation", ckpt)
          .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
            throw new IllegalStateException("batch failed on purpose")
          }))
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage == "batch failed on purpose"), causes.map(_.toString).mkString("\n"))
    assert(spark.streams.active.isEmpty)
  }

  test("withConf restores a set key and unsets an absent one when its body throws") {
    val present = "spark.sql.shuffle.partitions"
    val absent = "spark.graft.test.absent"
    val before = spark.conf.get(present)
    assert(spark.conf.getOption(absent).isEmpty)
    intercept[IllegalStateException](
      graft.queries.Staging.withConf(spark, present -> "3", absent -> "x") {
        assert(spark.conf.get(present) === "3")
        assert(spark.conf.get(absent) === "x")
        throw new IllegalStateException("body failed on purpose")
      })
    assert(spark.conf.get(present) === before)
    assert(spark.conf.getOption(absent).isEmpty)
  }

  test("stream_attribution equals the batch running-window attribution exactly") {
    def key(r: org.apache.spark.sql.Row) =
      Option(r.getAs[String]("click_day")).getOrElse("NULL")
    val streamed = graft.streaming.AttributionStream.run(spark, sf).collect()
      .map(r => key(r) -> ((r.getAs[Long]("n_purchases"), r.getAs[Double]("sum_value")))).toMap
    val batch = graft.queries.AnalyticsQueries.funnelAttribution(spark, sf).collect()
      .map(r => key(r) -> ((r.getAs[Long]("n_purchases"), r.getAs[Double]("sum_value")))).toMap
    assert(streamed === batch,
      "cross-batch last-click state must reproduce the batch window bit-for-bit")
  }
}

package graft.pipebench

import java.io.{BufferedReader, InputStreamReader}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.etl.{BtcPipeline, Ops, ParquetSink, Schemas}

/** Command server that times calls into the public pipeline API from
  * outside the program. `pipebench/run.py` drives it: one command per stdin
  * line (tab-separated), one `PB {json}` reply per command on stdout.
  * Every timing is taken here, around the call, so pipe latency is not
  * measured.
  *
  *   java ... graft.pipebench.PipeBench local[4]
  */
object PipeBench {

  private def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Spans of the traced run: one shared id per operation, kept in memory
    * and handed to the driver when the run ends. */
  final case class Span(op: String, name: String, parent: String, startNs: Long, endNs: Long)
  private val spans = ArrayBuffer.empty[Span]
  private var tracing = false

  private def span[T](op: String, name: String, parent: String = "")(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally if (tracing) spans += Span(op, name, parent, t0, System.nanoTime())
  }

  /** Task, stage and job totals between `trace 1` and `trace 0`. */
  final class Recorder extends SparkListener {
    val jobs = ArrayBuffer.empty[(Long, Long)]
    private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
    var stages, tasks = 0L
    var runNs, cpuNs, gcMs, inBytes, shWrite, shRead, fetchMs, spill, outBytes = 0L
    var stageMaxSum, stageMeanSum = 0.0
    private val stageTaskMs = scala.collection.mutable.Map.empty[(Int, Int), ArrayBuffer[Long]]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobStart(e.jobId) = e.time }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        runNs += m.executorRunTime * 1000000L
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        inBytes += m.inputMetrics.bytesRead
        shWrite += m.shuffleWriteMetrics.bytesWritten
        shRead += m.shuffleReadMetrics.totalBytesRead
        fetchMs += m.shuffleReadMetrics.fetchWaitTime
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        outBytes += m.outputMetrics.bytesWritten
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages += 1
      stageTaskMs.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber())).foreach { d =>
        stageMaxSum += d.max
        stageMeanSum += d.sum.toDouble / d.size
      }
    }

    /** Pipeline calls and the watch query's lifetime, as epoch-ms windows. */
    val windows = ArrayBuffer.empty[(Long, Long)]

    /** Time inside `windows` that no job covers: the driver's own work. */
    def driverGapS: Double = synchronized {
      val sorted = jobs.sortBy(_._1)
      windows.map { case (w0, w1) =>
        var covered = 0L
        var cur = w0
        for ((s, e) <- sorted) {
          val a = math.max(s, cur); val b = math.min(e, w1)
          if (b > a) { covered += b - a; cur = b }
        }
        w1 - w0 - covered
      }.sum / 1e3
    }
  }

  final class Progress extends StreamingQueryListener {
    val events = ArrayBuffer.empty[Map[String, Any]]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }.toMap
      events += Map("batch" -> p.batchId, "rows" -> p.numInputRows, "ts" -> p.timestamp,
        "duration" -> d)
    }
  }

  def main(args: Array[String]): Unit = {
    val master = args(0)
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", master.stripPrefix("local[").stripSuffix("]"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val progress = new Progress
    spark.streams.addListener(progress)
    var recorder: Option[Recorder] = None
    var watchStartMs = 0L
    var query: Option[StreamingQuery] = None
    val in = new BufferedReader(new InputStreamReader(System.in))
    def reply(m: Map[String, Any]): Unit = { println("PB " + json(m)); System.out.flush() }
    reply(Map("ready" -> true))

    var line = in.readLine()
    while (line != null && line != "quit") {
      val cmd = line.split("\t").toSeq
      val t0 = System.currentTimeMillis()
      try reply(cmd match {
        case Seq("backfill", op, src, sink, ledger) =>
          val t0 = System.nanoTime()
          span(op, "etl.backfill") { BtcPipeline.backfill(spark, src, sink, ledger) }
          Map("s" -> secs(t0))
        case Seq("layers", op, src, sink, ledger) =>
          val t0 = System.nanoTime()
          val counts = span(op, "etl.backfill") { layeredBackfill(spark, op, src, sink, ledger) }
          counts + ("s" -> secs(t0))
        case Seq("watch_start", src, sink, ckpt) =>
          progress.synchronized(progress.events.clear())
          query = Some(BtcPipeline.watch(spark, src, sink, ckpt))
          Map("ok" -> true)
        case Seq("watch_stop") =>
          // processAllAvailable returns after the last trigger has posted
          // its progress, so stopping then loses no trigger's progress
          query.foreach { q => q.processAllAvailable(); q.stop() }
          query = None
          ListenerBusDrain(spark.sparkContext)
          Map("progress" -> progress.synchronized(progress.events.toList))
        case Seq("trace", "1") =>
          tracing = true
          val r = new Recorder
          spark.sparkContext.addSparkListener(r)
          recorder = Some(r)
          Map("ok" -> true)
        case Seq("trace", "0") =>
          // stops tracing and returns the listener's totals since "trace 1"
          tracing = false
          ListenerBusDrain(spark.sparkContext)
          val r = recorder.get
          spark.sparkContext.removeSparkListener(r)
          recorder = None
          r.synchronized(Map(
            "jobs" -> r.jobs.size, "stages" -> r.stages, "tasks" -> r.tasks,
            "executor_run_s" -> r.runNs / 1e9, "executor_cpu_s" -> r.cpuNs / 1e9,
            "gc_s" -> r.gcMs / 1e3, "input_bytes" -> r.inBytes,
            "shuffle_write_bytes" -> r.shWrite, "shuffle_read_bytes" -> r.shRead,
            "fetch_wait_s" -> r.fetchMs / 1e3, "spill_bytes" -> r.spill,
            "output_bytes" -> r.outBytes,
            "task_skew" -> (if (r.stageMeanSum > 0) r.stageMaxSum / r.stageMeanSum else 1.0),
            "driver_gap_s" -> r.driverGapS))
        case Seq("catalog", dir, keys) =>
          // each key timed around the call and a count of its result, as
          // graft.Bench times the catalog
          Map("keys" -> keys.split(",").toSeq.map { k =>
            val t0 = System.nanoTime()
            val rows = SparkEntry.queries(k)(spark, dir).count()
            k -> Map("s" -> secs(t0), "rows" -> rows)
          }.toMap)
        case Seq("oracle_sql", keys) =>
          Map("sql" -> keys.split(",").toSeq.map(k => k -> SparkEntry.oracleSql(k)).toMap)
        case Seq("spans") =>
          Map("spans" -> spans.toList.map(s => Map("op" -> s.op, "name" -> s.name,
            "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
        case Seq("heap") =>
          val peak = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
            .filter(_.getType == java.lang.management.MemoryType.HEAP)
            .map(_.getPeakUsage.getUsed).sum
          Map("heap_peak_mb" -> peak / 1048576.0)
        case other => throw new IllegalArgumentException(s"unknown command: ${other.mkString(" ")}")
      }) catch {
        case e: Throwable =>
          e.printStackTrace()
          reply(Map("error" -> s"${e.getClass.getName}: ${e.getMessage}"))
      }
      recorder.foreach { r =>
        val t1 = System.currentTimeMillis()
        cmd.head match {
          case "backfill" | "layers" => r.synchronized(r.windows += ((t0, t1)))
          case "watch_start" => watchStartMs = t0
          case "watch_stop" => r.synchronized(r.windows += ((watchStartMs, t1)))
          case _ =>
        }
      }
      line = in.readLine()
    }
    query.foreach(_.stop())
    spark.stop()
  }

  /** `BtcPipeline.backfill`, step by step, with a span and a forced
    * materialisation per layer. The steps and their order are backfill's;
    * persisting between them splits the fused plan, so the layer times sum
    * to more than one backfill call. */
  private def layeredBackfill(
      spark: SparkSession, op: String, src: String, sink: String, ledgerPath: String): Map[String, Any] = {
    import spark.implicits._
    val hconf = spark.sessionState.newHadoopConf()
    def persisted(df: DataFrame): (DataFrame, Long) = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK); (p, p.count())
    }
    val ledgerP = new Path(ledgerPath)
    val ledgerFs = ledgerP.getFileSystem(hconf)
    val sinkP = new Path(sink)
    val sinkFs = sinkP.getFileSystem(hconf)
    def sinkRows(): Long = if (sinkFs.exists(sinkP)) spark.read.parquet(sink).count() else 0L

    val listed = span(op, "etl.list", "etl.backfill") {
      val srcP = new Path(src)
      srcP.getFileSystem(hconf).listStatus(srcP)
        .filter(st => st.isFile && st.getPath.getName.endsWith(".csv"))
        .map(_.getPath.toString).toSeq
    }
    val (ledger, fresh) = span(op, "etl.ledger_filter", "etl.backfill") {
      val l = if (ledgerFs.exists(ledgerP)) spark.read.parquet(ledgerPath) else Seq.empty[String].toDF("path")
      (l, Ops.antiJoinLedger(listed.toDF("path"), l, "path").as[String].collect().sorted.toSeq)
    }
    val fileDates = fresh.flatMap { p =>
      val name = p.substring(p.lastIndexOf('/') + 1)
      if (!name.matches(Schemas.filenameRegex)) None
      else scala.util.Try(java.sql.Date.valueOf(java.time.LocalDate.parse(name.substring(7, 17)))).toOption
        .map(p -> _)
    }
    val valid = fileDates.map(_._1)
    val base = Map[String, Any]("files_seen" -> listed.size, "files_invalid" -> (fresh.size - valid.size))
    if (fresh.isEmpty) return base ++ Map("rows_scanned" -> 0L, "rows_null_dropped" -> 0L,
      "rows_pk_deduped" -> 0L, "rows_replay_removed" -> 0L, "rows_appended" -> 0L)

    val scanned =
      if (valid.isEmpty) 0L
      else spark.read.option("header", "true").schema(Schemas.btcCsv).csv(valid: _*).count()
    val before = sinkRows()
    val (kept, nKept) = span(op, "etl.transform", "etl.backfill") { persisted(BtcPipeline.transformPaths(spark, fresh)) }
    val (deduped, nDeduped) = span(op, "etl.dedup", "etl.backfill") {
      persisted(BtcPipeline.dedupPk(kept).withColumn("date", to_date(col("date_time"))))
    }
    val dates = fileDates.map(_._2)
    // antiJoinSinkDates opens the sink when it builds its plan: the
    // parquet reader lists the sink's files eagerly
    val joined = span(op, "etl.sink_open", "etl.backfill") {
      BtcPipeline.antiJoinSinkDates(spark, deduped, sink, dates)
    }
    val (fresher, nFresher) = span(op, "etl.sink_antijoin", "etl.backfill") { persisted(joined) }
    span(op, "etl.append", "etl.backfill") { BtcPipeline.appendBatch(fresher.drop("date"), ParquetSink(sink)) }
    span(op, "etl.ledger_write", "etl.backfill") {
      val tmpP = new Path(ledgerPath + ".tmp")
      Ops.ledgerAppend(ledger, fresh.toDF("path")).write.mode("overwrite").parquet(tmpP.toString)
      if (ledgerFs.exists(ledgerP) && !ledgerFs.delete(ledgerP, true))
        throw new java.io.IOException(s"failed to delete old ledger at $ledgerP")
      if (!ledgerFs.rename(tmpP, ledgerP))
        throw new java.io.IOException(s"failed to move new ledger $tmpP -> $ledgerP")
    }
    Seq(kept, deduped, fresher).foreach(_.unpersist())
    base ++ Map("rows_scanned" -> scanned, "rows_null_dropped" -> (scanned - nKept),
      "rows_pk_deduped" -> (nKept - nDeduped), "rows_replay_removed" -> (nDeduped - nFresher),
      "rows_appended" -> (sinkRows() - before))
  }
}

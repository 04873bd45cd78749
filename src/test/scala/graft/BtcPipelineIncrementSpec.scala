package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

import graft.etl.{BtcPipeline, ParquetMigrate}

/** Incremental cost and exactly-once behaviour of the backfill and the
  * watch tail on tiny inline CSVs: the sink probe reads only the `date=`
  * directories a batch touches, the ledger is a text file read, filtered
  * and written on the driver, the driver's listings of the source and the
  * sink are handed to the reader (no Spark listing job), a batch's
  * dates are written by parallel writers, one file per date, over the
  * batch's one shuffle, and a watch trigger takes its dates from the
  * checkpoint's source log. */
class BtcPipelineIncrementSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val header =
    "Time,Open,High,Low,Close,Volume_(BTC),Volume_(Currency),Weighted_Price"

  /** Writes `btcusd-<day>.csv` with `minutes` traded minutes and one
    * all-null minute, which the pipeline drops. */
  private def writeDay(src: String, day: String, minutes: Int): Unit = {
    val rows = (0 until minutes).map(m => f"00:$m%02d:00,1,2,3,4,5,6,${m + 1}") :+
      f"00:$minutes%02d:00,,,,,,,"
    Files.writeString(Paths.get(s"$src/btcusd-$day.csv"), (header +: rows).mkString("", "\n", "\n"))
  }

  /** Runs `body` on (src, sink, ledger) paths in a temp directory that is
    * removed afterwards. */
  private def withScratch(tag: String)(body: (String, String, String) => Unit): Unit = {
    val tmp = Files.createTempDirectory(s"graft-incr-$tag-").toFile
    val src = s"$tmp/src"; new java.io.File(src).mkdirs()
    try body(src, s"$tmp/sink", s"$tmp/ledger")
    finally org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  private def sinkRows(sink: String, day: String): Long =
    spark.read.parquet(sink).filter(col("date") === lit(day)).count()

  /** The lines of the ledger's one file, in file order. */
  private def ledgerLines(ledger: String): Seq[String] =
    Files.readAllLines(Paths.get(ledger, "paths.txt")).asScala.toSeq

  private def ledgerPaths(ledger: String): Set[String] = ledgerLines(ledger).toSet

  /** The data files of a directory: hidden (`.crc`) and `_`-prefixed
    * (`_SUCCESS`) names aside. */
  private def dataFiles(dir: String): Seq[String] =
    new java.io.File(dir).list().toSeq.filterNot(n => n.startsWith(".") || n.startsWith("_"))

  private def qualified(path: String): String =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(new Path(path)).toString

  /** What the Spark jobs of one call did: their descriptions, the bytes
    * their tasks read and wrote to shuffle, and the ids of the cached RDDs
    * their stages computed. */
  private case class Observed(jobs: Seq[String], bytesRead: Long, shuffleWritten: Long, cached: Set[Int])

  /** Runs `body` and returns what its Spark jobs did. */
  private def observed(body: => Unit): Observed = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val cached = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val bytesRead, shuffleWritten = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.add(Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        s.stageInfo.rddInfos.filter(_.storageLevel != StorageLevel.NONE).foreach(r => cached.add(r.id))
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        Option(t.taskMetrics).foreach { m =>
          bytesRead.addAndGet(m.inputMetrics.bytesRead)
          shuffleWritten.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
    }
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try body
    finally { ListenerBusDrain(sc); sc.removeSparkListener(listener) }
    Observed(jobs.asScala.toSeq, bytesRead.get, shuffleWritten.get, cached.asScala.toSet)
  }

  /** Runs `body` and returns, for each query it ran, the number of shuffle
    * exchanges in its final adaptive plan. */
  private def exchanges(body: => Unit): Seq[Int] = {
    val counts = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        counts.add(collect(qe.executedPlan) { case e: ShuffleExchangeExec => e }.size)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try body
    finally { ListenerBusDrain(spark.sparkContext); spark.listenerManager.unregister(listener) }
    counts.asScala.toSeq
  }

  private def days(n: Int): Seq[String] =
    (0 until n).map(i => java.time.LocalDate.parse("2013-01-01").plusDays(i.toLong).toString)

  /** The parquet files of each `date=` directory of `sink`, by date. */
  private def sinkFiles(sink: String): Map[String, Seq[String]] =
    new java.io.File(sink).listFiles().filter(_.getName.startsWith("date=")).map { d =>
      d.getName.stripPrefix("date=") -> d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSeq
    }.toMap

  /** The writer partition id in a `part-NNNNN-...` file name. */
  private def partId(file: String): Int = file.substring(5, 10).toInt

  /** A sink-shaped batch with a `date` column, as backfill and watch pass it. */
  private def batchAt(stamps: String*) = {
    import spark.implicits._
    stamps.toDF("s").select(to_timestamp(col("s")).as("date_time"))
      .withColumn("open_price", lit(1.0))
      .withColumn("date", to_date(col("date_time")))
  }

  test("a new day backfilled into a populated sink appends exactly its rows") {
    withScratch("newday") { (src, sink, ledger) =>
      writeDay(src, "2013-01-01", 3)
      BtcPipeline.backfill(spark, src, sink, ledger)
      assert(spark.read.parquet(sink).count() === 3L)

      writeDay(src, "2013-01-02", 5)
      BtcPipeline.backfill(spark, src, sink, ledger)
      assert(sinkRows(sink, "2013-01-01") === 3L)
      assert(sinkRows(sink, "2013-01-02") === 5L)

      val batch = batchAt("2013-01-03 00:00:00")
      assert(BtcPipeline.antiJoinSinkDates(spark, batch, sink,
        Seq(java.sql.Date.valueOf("2013-01-03"))) eq batch,
        "a date absent from the sink must return the batch itself: no sink read, no join")
    }
  }

  test("the probe scans only the date= directory of a present date") {
    withScratch("probe") { (src, sink, ledger) =>
      writeDay(src, "2013-01-01", 3)
      writeDay(src, "2013-01-02", 2)
      BtcPipeline.backfill(spark, src, sink, ledger)

      val batch = batchAt("2013-01-01 00:01:00", "2013-01-01 00:10:00", "2013-01-04 00:00:00")
      val dates = Seq("2013-01-01", "2013-01-04").map(java.sql.Date.valueOf)
      val out = BtcPipeline.antiJoinSinkDates(spark, batch, sink, dates)
      val roots = out.queryExecution.sparkPlan.collect {
        case s: FileSourceScanExec => s.relation.location.rootPaths
      }.flatten
      val fs = new Path(sink).getFileSystem(spark.sessionState.newHadoopConf())
      assert(roots === Seq(fs.makeQualified(new Path(sink, "date=2013-01-01"))))
      import spark.implicits._
      assert(out.select(date_format(col("date_time"), "yyyy-MM-dd HH:mm:ss")).as[String]
        .collect().sorted.toSeq === Seq("2013-01-01 00:10:00", "2013-01-04 00:00:00"))
    }
  }

  test("ledger loss: replaying an old file with a new one appends only the new day") {
    withScratch("replay") { (src, sink, ledger) =>
      writeDay(src, "2013-01-01", 4)
      BtcPipeline.backfill(spark, src, sink, ledger)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ledger))
      writeDay(src, "2013-01-02", 6)
      BtcPipeline.backfill(spark, src, sink, ledger)
      assert(sinkRows(sink, "2013-01-01") === 4L)
      assert(sinkRows(sink, "2013-01-02") === 6L)
      assert(ledgerPaths(ledger).size === 2)
    }
  }

  test("a date= directory with no parquet file does not fail the probe") {
    withScratch("empty") { (_, sink, _) =>
      new java.io.File(s"$sink/date=2013-01-05/_temporary").mkdirs()
      val batch = batchAt("2013-01-05 00:00:00", "2013-01-05 00:01:00")
      val out = BtcPipeline.antiJoinSinkDates(spark, batch, sink,
        Seq(java.sql.Date.valueOf("2013-01-05")))
      assert(out eq batch, "a date= directory without data files counts as absent: no read, no join")
      assert(out.count() === 2L)
    }
  }

  test("a replay over 40 present dates opens the sink without a listing job") {
    withScratch("replay40") { (src, sink, ledger) =>
      days(40).foreach(writeDay(src, _, 2))
      BtcPipeline.backfill(spark, src, sink, ledger)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ledger))
      val jobs = observed(BtcPipeline.backfill(spark, src, sink, ledger)).jobs
      assert(!jobs.exists(_.startsWith("Listing leaf files")), jobs.mkString("\n"))
      assert(spark.read.parquet(sink).count() === 80L)
    }
  }

  test("a file in a subdirectory of the source is not read, even under a fresh day's name") {
    withScratch("subdir") { (src, sink, ledger) =>
      writeDay(src, "2013-01-01", 3)
      new java.io.File(s"$src/old").mkdirs()
      writeDay(s"$src/old", "2013-01-01", 7)
      BtcPipeline.backfill(spark, src, sink, ledger)
      assert(sinkRows(sink, "2013-01-01") === 3L)
      assert(ledgerLines(ledger) === Seq(qualified(s"$src/btcusd-2013-01-01.csv")))
    }
  }

  test("a session without a file status cache still reads only the fresh files") {
    withScratch("nocache") { (src, sink, ledger) =>
      val key = "spark.sql.hive.manageFilesourcePartitions"
      val prior = spark.conf.getOption(key)
      spark.conf.set(key, "false")
      try {
        writeDay(src, "2013-01-01", 3)
        BtcPipeline.backfill(spark, src, sink, ledger)
        writeDay(src, "2013-01-02", 4)
        BtcPipeline.backfill(spark, src, sink, ledger)
      } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      assert(sinkRows(sink, "2013-01-01") === 3L)
      assert(sinkRows(sink, "2013-01-02") === 4L)
    }
  }

  test("a second watch with a fresh checkpoint over the same files adds zero rows") {
    withScratch("watch") { (src, sink, _) =>
      val ckpt = new java.io.File(sink).getParent
      writeDay(src, "2013-01-01", 3)
      writeDay(src, "2013-01-02", 2)
      for (run <- Seq("ckpt1", "ckpt2")) {
        val q = BtcPipeline.watch(spark, src, sink, s"$ckpt/$run")
        try q.processAllAvailable() finally q.stop()
        assert(spark.read.parquet(sink).count() === 5L, s"after $run")
      }
    }
  }

  test("a no-op rerun leaves the ledger's path set unchanged") {
    withScratch("noop") { (src, sink, ledger) =>
      writeDay(src, "2013-01-01", 2)
      writeDay(src, "2013-01-02", 2)
      BtcPipeline.backfill(spark, src, sink, ledger)
      val before = ledgerPaths(ledger)
      assert(before.size === 2 && before.forall(_.endsWith(".csv")))
      assert(dataFiles(ledger) === Seq("paths.txt"), "the ledger is written as a single file")
      BtcPipeline.backfill(spark, src, sink, ledger)
      assert(ledgerPaths(ledger) === before)
      assert(spark.read.parquet(sink).count() === 4L)
    }
  }

  test("a no-op rerun starts no Spark job") {
    withScratch("nojob") { (src, sink, ledger) =>
      writeDay(src, "2013-01-01", 2)
      writeDay(src, "2013-01-02", 2)
      BtcPipeline.backfill(spark, src, sink, ledger)
      val jobs = observed(BtcPipeline.backfill(spark, src, sink, ledger)).jobs
      assert(jobs.isEmpty, jobs.mkString("\n"))
    }
  }

  test("the ledger is one sorted paths.txt of every listed .csv, the rejected name included") {
    withScratch("layout") { (src, sink, ledger) =>
      writeDay(src, "2013-01-02", 2)
      writeDay(src, "2013-01-01", 2)
      Files.writeString(Paths.get(s"$src/notes.csv"), s"$header\n")
      Files.writeString(Paths.get(s"$src/readme.txt"), "not a csv\n")
      BtcPipeline.backfill(spark, src, sink, ledger)
      assert(dataFiles(ledger) === Seq("paths.txt"))
      val expected = Seq("btcusd-2013-01-01.csv", "btcusd-2013-01-02.csv", "notes.csv")
        .map(n => qualified(s"$src/$n"))
      assert(Files.readString(Paths.get(ledger, "paths.txt")) === expected.mkString("", "\n", "\n"))
    }
  }

  test("a crash between the ledger's delete and rename: the next backfill replays to zero rows") {
    withScratch("swap") { (src, sink, ledger) =>
      writeDay(src, "2013-01-01", 3)
      writeDay(src, "2013-01-02", 4)
      BtcPipeline.backfill(spark, src, sink, ledger)
      // the state the swap leaves when it stops after the delete: the new
      // ledger complete under ledger.tmp, no ledger
      Files.move(Paths.get(ledger), Paths.get(s"$ledger.tmp"))
      writeDay(src, "2013-01-03", 5)
      BtcPipeline.backfill(spark, src, sink, ledger)
      assert(Seq("2013-01-01", "2013-01-02", "2013-01-03").map(sinkRows(sink, _)) === Seq(3L, 4L, 5L))
      val lines = ledgerLines(ledger)
      assert(lines.size === 3 && lines.distinct === lines, lines)
      assert(!Files.exists(Paths.get(s"$ledger.tmp")))
    }
  }

  test("a ledger directory in the old parquet format fails the backfill before any write") {
    withScratch("oldformat") { (src, sink, ledger) =>
      import spark.implicits._
      writeDay(src, "2013-01-01", 3)
      BtcPipeline.backfill(spark, src, sink, ledger)
      val old = ledgerLines(ledger)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ledger))
      old.toDF("path").coalesce(1).write.parquet(ledger)
      writeDay(src, "2013-01-02", 5)
      val e = intercept[java.io.FileNotFoundException](BtcPipeline.backfill(spark, src, sink, ledger))
      assert(e.getMessage.contains("paths.txt"), e.getMessage)
      assert(sinkFiles(sink).keySet === Set("2013-01-01"))
      assert(spark.read.parquet(sink).count() === 3L)
    }
  }

  test("a file name with a line break is not listed, so a rerun stays a no-op") {
    withScratch("linebreak") { (src, sink, ledger) =>
      writeDay(src, "2013-01-01", 2)
      Files.writeString(Paths.get(s"$src/btcusd-2013-01-0\n2.csv"), s"$header\n")
      BtcPipeline.backfill(spark, src, sink, ledger)
      val jobs = observed(BtcPipeline.backfill(spark, src, sink, ledger)).jobs
      assert(jobs.isEmpty, jobs.mkString("\n"))
      assert(ledgerLines(ledger) === Seq(qualified(s"$src/btcusd-2013-01-01.csv")))
      assert(spark.read.parquet(sink).count() === 2L)
    }
  }

  test("a cold backfill selects its files by name: no listing job, invalid names never opened") {
    withScratch("byname") { (src, sink, ledger) =>
      days(40).foreach(writeDay(src, _, 2))
      // a valid-looking name with an impossible date, far larger than the
      // 40 days together
      val bad = java.nio.file.Paths.get(s"$src/btcusd-2013-02-30.csv")
      Files.writeString(bad, (header +: Seq.fill(40000)("00:00:00,1,2,3,4,5,6,7")).mkString("\n"))
      val o = observed(BtcPipeline.backfill(spark, src, sink, ledger))
      assert(!o.jobs.exists(_.startsWith("Listing leaf files")), o.jobs.mkString("\n"))
      assert(o.bytesRead < Files.size(bad), s"read ${o.bytesRead} bytes")
      assert(spark.read.parquet(sink).count() === 80L)
      assert(ledgerPaths(ledger).size === 41, "the rejected file is ledgered too")
    }
  }

  test("a backfill writes one file per date on min(dates, defaultParallelism) writers, a one-day increment on one") {
    withScratch("writers") { (src, sink, ledger) =>
      days(41).init.foreach(writeDay(src, _, 2))
      BtcPipeline.backfill(spark, src, sink, ledger)
      val files = sinkFiles(sink)
      assert(files.size === 40 && files.values.forall(_.size == 1), files)
      val writers = files.values.flatten.map(partId).toSet
      assert(writers.size > 1 && writers.size <= math.min(40, spark.sparkContext.defaultParallelism),
        writers)

      // a one-day increment writes with one task
      writeDay(src, days(41).last, 3)
      BtcPipeline.backfill(spark, src, sink, ledger)
      val after = sinkFiles(sink)
      assert(after.removed(days(41).last) === files)
      assert(after(days(41).last).map(partId) === Seq(0))
      assert(sinkRows(sink, days(41).last) === 3L)
    }
  }

  test("a watch trigger of one new day runs at most two Spark jobs and caches nothing") {
    withScratch("trigger") { (src, sink, _) =>
      val root = new java.io.File(sink).getParent
      writeDay(src, "2013-01-01", 3)
      val persistent = spark.sparkContext.getPersistentRDDs.keySet
      val q = BtcPipeline.watch(spark, src, sink, s"$root/ckpt")
      val o =
        try {
          q.processAllAvailable()
          // written beside the source and moved in whole, so no trigger
          // sees a half-written file
          writeDay(root, "2013-01-02", 2)
          observed {
            Files.move(Paths.get(s"$root/btcusd-2013-01-02.csv"), Paths.get(s"$src/btcusd-2013-01-02.csv"),
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            q.processAllAvailable()
          }
        } finally q.stop()
      assert(o.jobs.size <= 2, o.jobs.mkString("\n"))
      assert(o.cached.isEmpty, o.cached)
      assert(spark.sparkContext.getPersistentRDDs.keySet === persistent)
      assert(sinkRows(sink, "2013-01-01") === 3L)
      assert(sinkRows(sink, "2013-01-02") === 2L)
    }
  }

  test("a cold backfill and a one-day increment each plan one shuffle exchange") {
    withScratch("oneshuffle") { (src, sink, ledger) =>
      days(41).init.foreach(writeDay(src, _, 2))
      assert(exchanges(BtcPipeline.backfill(spark, src, sink, ledger)).filter(_ > 0) === Seq(1))
      writeDay(src, days(41).last, 3)
      assert(exchanges(BtcPipeline.backfill(spark, src, sink, ledger)).filter(_ > 0) === Seq(1))
      assert(spark.read.parquet(sink).count() === 83L)
    }
  }

  test("a full replay after ledger loss shuffles nothing and adds nothing") {
    withScratch("replay0") { (src, sink, ledger) =>
      days(5).foreach(writeDay(src, _, 3))
      BtcPipeline.backfill(spark, src, sink, ledger)
      val before = sinkFiles(sink)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ledger))
      val o = observed(BtcPipeline.backfill(spark, src, sink, ledger))
      assert(o.shuffleWritten === 0L, o.jobs.mkString("\n"))
      assert(sinkFiles(sink) === before)
      assert(spark.read.parquet(sink).count() === 15L)
    }
  }

  test("a 13-trigger watch crosses the source log's compaction, and a restarted trigger adds nothing") {
    withScratch("compact") { (src, sink, _) =>
      val ckpt = new java.io.File(sink).getParent + "/ckpt"
      days(13).foreach(writeDay(src, _, 3))
      def run(): Unit = {
        val q = BtcPipeline.watch(spark, src, sink, ckpt, maxFilesPerTrigger = 1)
        try q.processAllAvailable() finally q.stop()
      }
      def keys(): (Long, Long) = {
        val all = spark.read.parquet(sink)
        (all.count(), all.select("date_time").distinct().count())
      }
      run()
      assert(Files.exists(Paths.get(s"$ckpt/sources/0/9.compact")))
      assert(days(13).map(sinkRows(sink, _)) === Seq.fill(13)(3L))
      // the last trigger's commit lost: the restart runs batch 12 again
      Files.delete(Paths.get(s"$ckpt/commits/12"))
      Files.delete(Paths.get(s"$ckpt/commits/.12.crc"))
      run()
      assert(Files.exists(Paths.get(s"$ckpt/commits/12")))
      assert(keys() === ((39L, 39L)))
    }
  }

  test("a duplicated minute keeps its min tuple unless the sink holds it") {
    withScratch("dupkey") { (src, sink, ledger) =>
      writeDay(src, "2013-01-01", 3)
      BtcPipeline.backfill(spark, src, sink, ledger)
      // after ledger loss the day comes back with 00:01 (held by the sink)
      // and 00:05 (not held) each twice
      Files.writeString(Paths.get(s"$src/btcusd-2013-01-01.csv"), Seq(header,
        "00:01:00,0,2,3,4,5,6,2", "00:01:00,9,2,3,4,5,6,2",
        "00:05:00,9,2,3,4,5,6,7", "00:05:00,1,2,3,4,5,6,8").mkString("", "\n", "\n"))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ledger))
      BtcPipeline.backfill(spark, src, sink, ledger)
      val rows = spark.read.parquet(sink)
        .select(date_format(col("date_time"), "HH:mm"), col("open_price"), col("weighted_price"))
        .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).sortBy(_._1).toSeq
      assert(rows === Seq("00:00" -> ((1.0, 1.0)), "00:01" -> ((1.0, 2.0)), "00:02" -> ((1.0, 3.0)),
        "00:05" -> ((1.0, 8.0))))
    }
  }

  test("ParquetMigrate keeps every row and writes one file per date") {
    withScratch("migrate") { (src, _, _) =>
      days(6).foreach(writeDay(src, _, 4))
      val dst = new java.io.File(src).getParent
      val flat = BtcPipeline.transform(spark, src).repartition(3)
      flat.write.parquet(s"$dst/flat")
      ParquetMigrate.toDatePartitioned(spark, s"$dst/flat", s"$dst/part")
      val files = sinkFiles(s"$dst/part")
      assert(files.size === 6 && files.values.forall(_.size == 1), files)
      val back = spark.read.parquet(s"$dst/part").drop("date")
      val orig = spark.read.parquet(s"$dst/flat")
      assert(back.count() === 24L)
      assert(back.exceptAll(orig).isEmpty && orig.exceptAll(back).isEmpty)
    }
  }
}

package graft.etl

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileFormat, FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.{Offset => SourceOffset}
import org.apache.spark.sql.execution.streaming.checkpointing.OffsetSeqLog
import org.apache.spark.sql.execution.streaming.runtime.{FileStreamSourceLog, FileStreamSourceOffset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Batch backfill pipeline over a directory of `btcusd-YYYY-MM-DD.csv`
  * minute-bar files — the reference's main path (btc_etl.py:104-147)
  * re-expressed as one declarative plan.
  *
  * Scale notes (the reference processes one pandas frame per file on a
  * thread pool; this runs one Spark task per file split):
  *   - the glob scan parallelises across the cluster; with 100 TB of daily
  *     files the unit of parallelism stays the file — no shuffle anywhere
  *     in the transform (scan -> filter -> project is narrow),
  *   - the file name comes from the `_metadata.file_name` constant
  *     column, so the name-validity filter is pruned in the file index on
  *     the driver: rejected files are never opened,
  *   - each directory is listed once, on the driver, and that listing is
  *     handed to the reader (`readListed`): the backfill reads exactly its
  *     fresh source files and the sink probe exactly the `date=`
  *     directories it found, and neither starts a Spark listing job however
  *     many files or partitions it covers,
  *   - the ledger (processed FILE paths) is one text file that the driver
  *     reads and writes through the Hadoop FileSystem API and filters the
  *     listing against; no Spark job touches it, so a no-op rerun runs
  *     none at all,
  *   - a batch shuffles once: the rows hash on their date, and the PK
  *     dedup and the partitioned write both run on that partitioning
  *     (a row's date is a function of its key), after the sink anti-join
  *     has dropped the keys the sink already holds,
  *   - a batch's dates come from file names on the driver, never from a
  *     job: the backfill's from its listing, a watch trigger's from the
  *     file source's own log in the checkpoint, so a trigger runs one
  *     shuffle stage and one write and caches nothing,
  *   - the sink partitions by date, so downstream reads prune by time like
  *     the reference's TimescaleDB hypertable (btc_etl.py:99-101).
  */
/** Where a batch of sink-shaped rows lands: the date-partitioned parquet
  * lake (oracle-verified default) or the reference's actual target, a JDBC
  * table (btc_etl.py:179-180) — selected per call, mirroring the
  * reference's DB_URI-driven configuration (EtlConfig.jdbcOptions builds
  * the JDBC form from the same env vars). */
sealed trait SinkTarget
final case class ParquetSink(path: String) extends SinkTarget
final case class JdbcTarget(options: graft.sources.JdbcSink.JdbcOptions) extends SinkTarget

object BtcPipeline {

  /** Sink dispatch for a transformed batch. Parquet: clustered
    * date-partitioned append — rows repartition on the partition column so
    * each date lands in exactly one writer task (one file per date instead
    * of tasks × dates small files), on `min(dates, defaultParallelism)`
    * writers. The count must be explicit: a batch's shuffle is small, so
    * AQE would coalesce a `repartition(date)` into one task that writes
    * every date in turn, while one writer per date would pay a task commit
    * per date. `dates` is the number of dates in the batch; left out, the
    * cluster's parallelism alone caps the writers. JDBC: batched inserts
    * through the pooled writer; PK enforcement is the database's
    * (btc_etl.py:74), so no anti-join is needed on that path. Backfill and
    * watch do not come through here: their `dedupPk` has already
    * partitioned the batch on `date`, and they write it with `writeByDate`
    * directly. */
  def appendBatch(df: DataFrame, target: SinkTarget, dates: Int = Int.MaxValue): Unit =
    target match {
      case ParquetSink(path) =>
        writeByDate(df.withColumn("date", to_date(col("date_time")))
          .repartition(writers(df.sparkSession, dates), col("date")), path)
      case JdbcTarget(o) =>
        graft.sources.JdbcSink.append(df, o)
    }

  /** The writer count for a batch of `dates` dates. */
  private def writers(spark: SparkSession, dates: Int): Int =
    math.max(1, math.min(dates, spark.sparkContext.defaultParallelism))

  /** The partitioned append of a frame that is already hash-partitioned on
    * its `date` column: each partition is one writer task, and no exchange
    * is added. A second `repartition(writers, date)` is not a safe no-op:
    * with one writer it plans a `SinglePartition` exchange, which Spark
    * does not collapse into the first. */
  private def writeByDate(df: DataFrame, path: String): Unit =
    df.select((Schemas.sinkCols :+ "date").map(col): _*)
      .write.mode("append").partitionBy("date").parquet(path)

  private val csvOptions = Map("header" -> "true", "pathGlobFilter" -> "*.csv")

  /** The one file of a backfill ledger directory. */
  private val ledgerFile = "paths.txt"

  /** A read of files the driver has already listed: `listed` pairs each
    * qualified root directory with its files, and the file index takes
    * them from a cache that holds exactly that listing, so Spark lists
    * nothing again (a path read lists its roots itself, with a Spark job
    * past `spark.sql.sources.parallelPartitionDiscovery.threshold` roots).
    * The cache is this read's own rather than the session's
    * `FileStatusCache`, which a session may disable or evict from: the
    * index would then list each root whole, and a backfill would read
    * files its ledger already holds. */
  private def readListed(
      spark: SparkSession,
      format: FileFormat,
      schema: StructType,
      options: Map[String, String],
      listed: Seq[(Path, Array[FileStatus])]): DataFrame = {
    val byRoot = listed.toMap
    val cache = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = byRoot.get(path)
      override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, listed.map(_._1), options, Some(schema), cache)
    spark.baseRelationToDataFrame(
      HadoopFsRelation(index, new StructType(), schema, None, format, options)(spark))
  }

  /** Validate + transform: the per-file ETL (btc_etl.py:150-176) over a raw
    * CSV frame, batch or streaming, read with `csvOptions` and
    * `Schemas.btcCsv`. Returns the sink-shaped frame (date_time + 7 renamed
    * metric columns). */
  private def shape(raw: DataFrame): DataFrame = {
    val valid = raw
      .withColumn("_file", col("_metadata.file_name"))
      .filter(Ops.isValidBtcFilename(col("_file")))
      .withColumn("file_date", Ops.dateFromFilename(col("_file")))

    val kept = Ops.dropAllNull(valid, Schemas.metricCols)

    val stamped = kept
      .withColumn("date_time", Ops.makeTimestamp(col("file_date"), col("Time")))

    // NOT NULL PK semantics (btc_etl.py:74): a null/unparseable Time yields
    // a null date_time, which the reference's PRIMARY KEY would reject
    // outright — and which would defeat the PK dedup + sink anti-join
    // downstream (null keys never match a left_anti join, so every replay
    // would append another null-PK row).
    Ops.renameAndSelect(stamped).filter(col("date_time").isNotNull)
  }

  /** Scan + validate + transform of a directory or an explicit file list. */
  def transform(spark: SparkSession, dir: String): DataFrame =
    transformPaths(spark, Seq(dir))

  def transformPaths(spark: SparkSession, paths: Seq[String]): DataFrame =
    shape(spark.read.options(csvOptions).schema(Schemas.btcCsv).csv(paths: _*))

  /** The unbounded "watch" phase (btc_etl.py:185-228): a Structured
    * Streaming query over the same directory. The file-source checkpoint
    * replaces watchdog + the Redis processed-set with exactly-once file
    * tracking; `foreachBatch` writes each micro-batch into the same
    * date-partitioned sink as the backfill. Returns the running query —
    * callers stop() it (prod would awaitTermination). On a first start with
    * a fresh checkpoint the source lists existing files too, so a single
    * streaming query covers backfill+watch (SURVEY §2.1 #19).
    *
    * Each trigger runs `ingest`, the backfill's plan, with its dates taken
    * from the checkpoint rather than from the data: `offsets/N` holds the
    * file source's end offset for trigger N, and the source's metadata log
    * (`sources/0`) names the files of the log entries in
    * `(end(N - 1), end(N)]`, the range `FileStreamSource.getBatch` reads
    * (its `get` finds entries folded into an `N.compact` file too). Both
    * logs are written before the trigger runs, so a trigger replayed after
    * a restart finds the same files. A trigger therefore starts no job to
    * learn its dates and caches nothing. */
  def watch(
      spark: SparkSession,
      srcDir: String,
      sinkPath: String,
      checkpoint: String,
      maxFilesPerTrigger: Int = 16): org.apache.spark.sql.streaming.StreamingQuery = {
    val shaped = shape(spark.readStream.options(csvOptions).schema(Schemas.btcCsv)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .csv(srcDir))

    // opened on the first trigger, after the query has created them
    lazy val offsetLog = new OffsetSeqLog(spark, s"$checkpoint/offsets")
    lazy val sourceLog =
      new FileStreamSourceLog(FileStreamSourceLog.VERSION, spark, s"$checkpoint/sources/0")
    def sourceEnd(batchId: Long): Long =
      if (batchId < 0) -1L
      else offsetLog.get(batchId).flatMap(_.offsets.head) match {
        case Some(o: SourceOffset) => FileStreamSourceOffset(o).logOffset
        case other => throw new IllegalStateException(
          s"no file source offset for batch $batchId in $checkpoint/offsets: $other")
      }

    shaped.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // within-batch deterministic PK dedup + cross-batch PK anti-join
        // against the sink: together these give the reference's global
        // `date_time PRIMARY KEY` semantics (btc_etl.py:74) — and make the
        // at-least-once foreachBatch replay after a crash effectively
        // exactly-once (replayed rows hit the anti-join and vanish)
        val names = sourceLog.get(Some(sourceEnd(batchId - 1) + 1), Some(sourceEnd(batchId)))
          .flatMap(_._2).map(_.sparkPath.toPath.getName).toSeq
        ingest(batch.sparkSession, batch, sinkPath, fileDates(names))
      }
      .start()
  }

  /** Deterministic PRIMARY-KEY dedup: one row per `date_time`, keeping the
    * lexicographically-smallest metric tuple (min over a struct of the sink
    * metric columns). Unlike dropDuplicates — whose survivor depends on
    * partitioning and task order — reruns produce identical sink contents,
    * matching the repo's cross-engine determinism stance.
    *
    * The rows hash on `date = to_date(date_time)` into the batch's
    * `writers(dates)` partitions and group by `(date, date_time)`. The date
    * is a function of the key, so the dedup is exact, and the date
    * partitioning already meets the aggregate's distribution: this is the
    * batch's one exchange, and the output (sink columns, then `date`)
    * is ready for `writeByDate`. `dates` is the number of dates in the
    * batch; left out, the cluster's parallelism sets the partition count. */
  private[graft] def dedupPk(df: DataFrame, dates: Int = Int.MaxValue): DataFrame = {
    val metrics = Schemas.sinkCols.filterNot(_ == "date_time")
    df.withColumn("date", to_date(col("date_time")))
      .repartition(writers(df.sparkSession, dates), col("date"))
      .groupBy("date", "date_time")
      .agg(min(struct(metrics.map(col): _*)).as("_m"))
      .select((col("date_time") +: metrics.map(m => col(s"_m.$m").as(m))) :+ col("date"): _*)
  }

  /** The data files of `dir`: regular files whose names start with neither
    * `_` nor `.`. A missing `dir` has none. */
  private[graft] def dataFiles(fs: FileSystem, dir: Path): Array[FileStatus] =
    try fs.listStatus(dir).filter { st =>
      val name = st.getPath.getName
      st.isFile && !name.startsWith("_") && !name.startsWith(".")
    }
    catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }

  /** Cross-batch PRIMARY KEY enforcement (btc_etl.py:74): drop incoming
    * rows whose `date_time` already exists in the sink. Lists
    * `sink/date=D` through the Hadoop FileSystem (one `listStatus` on the
    * driver) for each of the batch's dates and reads only the data files
    * found there (`dataFiles`), handed to the reader by `readListed`, so
    * the cost is bounded by the batch's date span, never by the sink's
    * partition count, and no Spark listing job runs however many dates are
    * present. A missing directory, or one without data files (a
    * `_temporary` left by a half-committed write), counts as absent. When
    * none of the batch's dates is in the sink (every new day) the batch
    * comes back unchanged: no sink read, no join.
    *
    * `ingest` runs this before the dedup's exchange: it removes whole
    * keys, so every surviving key keeps its rows and its survivor, and a
    * full replay shuffles nothing. The sink's keys are broadcast: at most
    * 1,440 a batch date (one a minute), so the broadcast grows with the
    * batch, never with the sink. */
  private[graft] def antiJoinSinkDates(
      spark: SparkSession,
      batch: DataFrame,
      sinkPath: String,
      dates: Seq[java.sql.Date]): DataFrame = {
    val fs = new Path(sinkPath).getFileSystem(spark.sessionState.newHadoopConf())
    val present = dates.distinct.flatMap { d =>
      val dir = fs.makeQualified(new Path(sinkPath, s"date=$d"))
      val files = dataFiles(fs, dir)
      Option.when(files.nonEmpty)(dir -> files)
    }
    if (present.isEmpty) batch
    else {
      val existing = readListed(spark, new ParquetFileFormat,
        StructType.fromDDL("date_time TIMESTAMP"), Map.empty, present)
      batch.join(broadcast(existing), Seq("date_time"), "left_anti")
    }
  }

  /** The one plan of a backfill batch and a watch trigger, over the shaped
    * rows of files whose names give `dates`: anti-join against the sink,
    * one date shuffle with the PK dedup on it, partitioned write. */
  private def ingest(
      spark: SparkSession,
      shaped: DataFrame,
      sinkPath: String,
      dates: Seq[java.sql.Date]): Unit =
    writeByDate(dedupPk(antiJoinSinkDates(spark, shaped, sinkPath, dates), dates.size), sinkPath)

  /** The dates named by the valid day files among `names`: metadata only,
    * no data scan. Every row `shape` keeps carries its file's date. */
  private def fileDates(names: Seq[String]): Seq[java.sql.Date] =
    names.filter(_.matches(Schemas.filenameRegex))
      .flatMap(n => scala.util.Try(java.sql.Date.valueOf(n.substring(7, 17))).toOption)
      .distinct

  /** Full backfill with FILE-level skip: the one `listStatus` of `srcDir`
    * is filtered against the ledger on the driver, before any data is read,
    * and `readListed` hands the fresh files of that listing to the reader —
    * the job scans only the not-yet-ingested delta, exactly like the
    * reference's is_processed check before pd.read_csv
    * (btc_etl.py:115,130,152), and Spark never lists `srcDir` itself (a
    * file in a subdirectory is not read). Then `ingest`, the plan a watch
    * trigger runs too: transform the delta, drop rows whose key already
    * exists in the sink (cross-batch PK, antiJoinSinkDates, probing the
    * dates the fresh file names give — a replayed file after ledger loss
    * adds zero rows), dedup the PK within the batch on one date shuffle
    * (btc_etl.py:74 — a duplicate `date_time` would abort the reference
    * file's insert; dedupPk keeps the lexicographically-smallest metric
    * row, so the survivor is partitioning-independent), append to the
    * date-partitioned sink on that partitioning, and rewrite the ledger
    * last (sink-then-ledger ordering: a crash between the two reprocesses
    * the file into an idempotent partitioned sink rather than losing it —
    * same at-least-once stance as btc_etl.py:144,180, upgraded by the
    * streaming checkpoint in the watch phase).
    *
    * The ledger is the directory `ledgerPath` holding one UTF-8 file,
    * `paths.txt`: the fully qualified path of every processed file, one a
    * line, sorted and newline-terminated. The driver reads and writes it
    * directly (the reference's Redis set, utils.py:24-36, costs one call
    * per file; this costs one open and one create per backfill). The new
    * ledger is written to `ledgerPath.tmp`, the old one deleted and the
    * `.tmp` renamed into place; a crash between the last two steps leaves
    * no ledger, so the next backfill replays into the sink's PK anti-join
    * and adds zero rows. A `ledgerPath` directory without `paths.txt` (a
    * parquet ledger of an older build) fails the backfill before anything
    * is written; deleting it costs one such replay. */
  def backfill(
      spark: SparkSession,
      srcDir: String,
      sinkPath: String,
      ledgerPath: String): Unit = {
    val hconf = spark.sessionState.newHadoopConf()

    // the ledger holds one line per processed FILE, so the driver reads it
    // whole as a set of fully qualified paths
    val ledgerP = new Path(ledgerPath)
    val ledgerFs = ledgerP.getFileSystem(hconf)
    val done: Set[String] =
      if (ledgerFs.exists(ledgerP)) {
        val in = ledgerFs.open(new Path(ledgerP, ledgerFile))
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toSet
        finally in.close()
      } else Set.empty

    // metadata-level listing through the Hadoop FileSystem API — the same
    // code path works on file://, hdfs:// and s3a:// (java.io.File would be
    // dead on a cluster store). Paths are kept fully qualified. A name with
    // a line break can never be a valid day and would split across two
    // ledger lines, so it is not listed at all.
    val srcP = new Path(srcDir)
    val srcFs = srcP.getFileSystem(hconf)
    val fresh = srcFs.listStatus(srcP).filter { st =>
      val name = st.getPath.getName
      st.isFile && name.endsWith(".csv") && !name.exists(c => c == '\n' || c == '\r') &&
        !done(st.getPath.toString)
    }
    if (fresh.isEmpty) return

    // the reader gets exactly the fresh files of this one listing, so only
    // they are opened and Spark lists srcDir no second time
    val raw = readListed(spark, new CSVFileFormat, Schemas.btcCsv, csvOptions,
      Seq(srcFs.makeQualified(srcP) -> fresh))
    ingest(spark, shape(raw), sinkPath, fileDates(fresh.map(_.getPath.getName).toSeq))

    // swap: the NEW ledger is fully written before the old one is touched,
    // and both steps throw on failure — a silently-lost ledger would make
    // the next backfill reprocess everything
    val tmpP = new Path(ledgerPath + ".tmp")
    val out = ledgerFs.create(new Path(tmpP, ledgerFile), true)
    try out.write((done.toSeq ++ fresh.map(_.getPath.toString)).sorted.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (ledgerFs.exists(ledgerP) && !ledgerFs.delete(ledgerP, true))
      throw new java.io.IOException(s"failed to delete old ledger at $ledgerP")
    if (!ledgerFs.rename(tmpP, ledgerP))
      throw new java.io.IOException(s"failed to move new ledger $tmpP -> $ledgerP")
  }
}

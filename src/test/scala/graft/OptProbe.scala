package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev measurement harness for the optimization rounds: times named
  * sub-stages of expensive catalog pipelines in isolation with the noop
  * sink (guide §1.4 — computes every column, discards the result), so
  * per-key wall time can be attributed to its stages.
  *
  * Usage: runMain graft.OptProbe <stage> [sfDir]
  * (mirrors the bench session conf: local[$SPARK_GRAFT_CPUS], shuffle
  * partitions = cpus, AQE on.)
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val stage = if (args.nonEmpty) args(0) else "sgns"
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm-up, as in Bench
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def t(name: String)(body: => Unit): Unit = {
      spark.sparkContext.setJobDescription(name)
      val runs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        body
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] $name%-40s ${runs.map(r => f"$r%8.3f").mkString(" ")}s")
      spark.sparkContext.setJobDescription(null)
    }

    val li = graft.queries.Staging.tbl(spark, sfDir, "lineitem")
    stage match {
      case "sgns" =>
        import graft.operators.Graph
        t("coPartEdgesMin(2)")(noop(Graph.coPartEdgesMin(li, 2L)))
        val edges = Graph.coPartEdgesMin(li, 2L)
        t("randomWalks(2,4)")(noop(Graph.randomWalks(edges, 2, 4)))
        t("walkSkipgramPairs(2,4,2)")(
          noop(Graph.walkSkipgramPairs(edges, 2, 4, 2)))
        val pairs = Graph.walkSkipgramPairs(edges, 2, 4, 2)
        t("sgnsEpoch(pairs)")(noop(Graph.sgnsEpoch(pairs)))
        t("sgnsKnn(pairs,5,100)")(noop(Graph.sgnsKnn(pairs, 5, 100L)))
        t("FULL graph_embedding_knn")(noop(
          graft.queries.ExtQueries.all("graph_embedding_knn")(spark, sfDir)))
      case "linkage" =>
        import graft.operators.Linkage
        val cust = graft.queries.Staging.tbl(spark, sfDir, "customer")
        t("boundedCandidates")(noop(Linkage.boundedCandidates(cust)))
        t("boundedPairs")(noop(Linkage.boundedPairs(cust, 2)))
        t("erClusters(bounded)")(noop(
          Linkage.erClusters(Linkage.boundedPairs(cust, 2))))
        t("goldenRecords(bounded)")(noop(
          Linkage.goldenRecords(cust, Linkage.boundedPairs(cust, 2))))
      case "tri" =>
        import graft.operators.Graph
        val e = Graph.coPartEdges(li)
        println(s"[probe] edges=${e.count()}")
        t("coPartEdges")(noop(Graph.coPartEdges(li)))
        t("triangleCount")(noop(Graph.triangleCount(Graph.coPartEdges(li))))
        t("kTruss(4)")(noop(Graph.kTruss(Graph.coPartEdges(li), 12)))
      case "edges" =>
        import graft.operators.Graph
        t("coPartEdgesMin default")(noop(Graph.coPartEdgesMin(li, 2L)))
        spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
        t("coPartEdgesMin fb=4096")(noop(Graph.coPartEdgesMin(li, 2L)))
        spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "128")
      case "tri2" =>
        import graft.operators.Graph
        spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
        t("triangleCount fb=4096")(noop(Graph.triangleCount(Graph.coPartEdges(li))))
        t("kTruss(12) fb=4096")(noop(Graph.kTruss(Graph.coPartEdges(li), 12)))
        t("walkPairs fb=4096")(noop(
          Graph.walkSkipgramPairs(Graph.coPartEdgesMin(li, 2L), 2, 4, 2)))
      case "stream" =>
        // per-trigger fixed-cost decomposition: a trivial availableNow
        // file stream, 1 file (1 trigger) vs 8 files (8 triggers)
        val dir = graft.queries.Staging.tmpDir("probe-stream")
        spark.range(8).coalesce(1).write.mode("overwrite").parquet(s"$dir/in1")
        spark.range(8).repartition(8).write.mode("overwrite").parquet(s"$dir/in8")
        def run(tag: String, in: String, mfpt: Int): Unit = t(s"stream $tag") {
          val ck = s"$dir/ck-$tag-${System.nanoTime()}"
          val out = s"$dir/out-$tag-${System.nanoTime()}"
          val q = spark.readStream.schema("id LONG")
            .option("maxFilesPerTrigger", mfpt).parquet(in)
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ck)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        run("warm", s"$dir/in1", 1)
        run("1file-1trig", s"$dir/in1", 1)
        run("8file-8trig", s"$dir/in8", 1)
        run("8file-1trig", s"$dir/in8", 8)
      case "ann" =>
        // A/B the sgnsAnnIndexBuild input forms: array-form epoch output
        // direct vs the explode→reassemble round trip it replaced
        import graft.operators.{Graph, Similarity}
        import org.apache.spark.sql.functions._
        val edges = Graph.coPartEdgesMin(li, 2L)
        val pairs = Graph.walkSkipgramPairs(edges, 2, 4, 2)
        t("sgnsEpochVecs noop")(noop(Graph.sgnsEpochVecs(pairs)))
        // fixed store paths (mode=overwrite in the build): reruns reuse
        // the same dirs instead of accumulating nanoTime-suffixed stores
        // across probe runs (r16 advisor finding)
        val dir = graft.queries.Staging.tmpDir("probe-ann")
        t("ivfBuildIndexQ over sgnsEpochVecs") {
          Similarity.ivfBuildIndexQ(
            Graph.sgnsEpochVecs(pairs)
              .select(col("node").as("vec_id"), col("vec").as("qv"),
                graft.functions.CrossFns.qdot(col("vec"), col("vec")).as("nrm")),
            8, 1, s"$dir/a")
        }
        t("ivfBuildIndexQ over assembleVecs(sgnsEpoch)") {
          Similarity.ivfBuildIndexQ(
            Graph.assembleVecs(Graph.sgnsEpoch(pairs))
              .select(col("node").as("vec_id"), col("v").as("qv"),
                graft.functions.CrossFns.qdot(col("v"), col("v")).as("nrm")),
            8, 1, s"$dir/b")
        }
      case "ann2" =>
        // r17 item-1 adjudication: FULL-key A/B across the two
        // sgnsAnnIndexBuild input forms x the pre-write REBALANCE —
        // build, on-disk store file count, then the serve / brute /
        // recall paths that READ the store (the side the r16 probe
        // never timed). Each variant re-derives its input from the walk
        // pipeline so it arrives with its natural partitioning (that
        // partitioning is the variable under test).
        import graft.operators.{Graph, Similarity}
        import org.apache.spark.sql.functions._
        val dir = graft.queries.Staging.tmpDir("probe-ann2")
        def storeFiles(idx: String): Long = {
          def walk(f: java.io.File): Long =
            if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
            else if (f.getName.startsWith("part-")) 1L else 0L
          walk(new java.io.File(s"$idx/vectors"))
        }
        def edges() = Graph.coPartEdgesMin(li, 2L)
        def arrInput() = Graph.sgnsEpochVecs(
            Graph.walkSkipgramPairs(edges(), 2, 4, 2))
          .select(col("node").as("vec_id"), col("vec").as("qv"),
            graft.functions.CrossFns.qdot(col("vec"), col("vec")).as("nrm"))
        def asmInput() = Graph.assembleVecs(Graph.sgnsEpoch(
            Graph.walkSkipgramPairs(edges(), 2, 4, 2)))
          .select(col("node").as("vec_id"), col("v").as("qv"),
            graft.functions.CrossFns.qdot(col("v"), col("v")).as("nrm"))
        def variant(tag: String, mkInput: () => DataFrame, reb: Boolean): Unit = {
          val idx = s"$dir/$tag"
          t(s"$tag build")(Similarity.ivfBuildIndexQImpl(
            mkInput(), 8, 1, idx, 1L, rebalance = reb))
          println(s"[probe] $tag store files: ${storeFiles(idx)}")
          t(s"$tag serve")(noop(Graph.sgnsAnnServe(spark, idx, 5, 2, 100L)))
          t(s"$tag brute")(noop(Graph.sgnsAnnStoreBrute(spark, idx, 5, 100L)))
          t(s"$tag recall")(noop(Graph.sgnsAnnRecall(spark, idx, 5, 2, 100L)))
        }
        variant("arr+reb", arrInput _, reb = true)    // shipped r16 form
        variant("arr-reb", arrInput _, reb = false)   // the 256-file regression
        variant("asm+reb", asmInput _, reb = true)
        variant("asm-reb", asmInput _, reb = false)   // pre-change-7 form
      case "key" =>
        // time any single catalog key with the noop sink: OptProbe key <sf> <name>
        val name = args(2)
        t(name)(noop(SparkEntry.queries(name)(spark, sfDir)))
      case "tasks" =>
        // per-stage task census for a catalog key — the 8→32-core
        // flatness adjudication's evidence: is wall time spread over
        // many tiny tasks (per-stage scheduling/barrier overhead) or
        // concentrated in one fat task per stage (skew / serial tail)?
        // Usage: OptProbe tasks <sfDir> <key>
        val name = args(2)
        class StageAgg {
          var tasks = 0; var maxMs = 0L; var sumMs = 0L
        }
        val stages = scala.collection.concurrent.TrieMap.empty[Int, StageAgg]
        val lst = new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            val s = stages.getOrElseUpdate(te.stageId, new StageAgg)
            s.synchronized {
              s.tasks += 1
              val ms = te.taskInfo.duration
              s.maxMs = math.max(s.maxMs, ms)
              s.sumMs += ms
            }
          }
        }
        // warm pass (JIT, codegen) without the listener, then measure
        t(s"$name (warm+census)") {
          noop(SparkEntry.queries(name)(spark, sfDir))
          spark.catalog.clearCache()
        }
        spark.sparkContext.addSparkListener(lst)
        val t0 = System.nanoTime()
        noop(SparkEntry.queries(name)(spark, sfDir))
        val wall = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.removeSparkListener(lst)
        val ss = stages.values.toSeq
        val nStages = ss.size
        val nTasks = ss.map(_.tasks).sum
        val sumMs = ss.map(_.sumMs).sum
        val tiny = ss.count(_.sumMs < 50)
        val fatShare = if (sumMs == 0) 0.0
          else ss.map(_.maxMs).sum.toDouble / sumMs
        println(f"[tasks] $name: wall ${wall}%.2fs, stages $nStages, tasks $nTasks, " +
          f"task-time ${sumMs / 1000.0}%.1fs, stages<50ms-total $tiny, " +
          f"sum(maxTask)/sum(taskTime) ${fatShare}%.2f")
        ss.sortBy(-_.sumMs).take(8).foreach { s =>
          println(f"[tasks]   stage: tasks ${s.tasks}%4d  total ${s.sumMs / 1000.0}%7.2fs" +
            f"  max ${s.maxMs / 1000.0}%6.2fs  mean ${s.sumMs / math.max(s.tasks, 1) / 1000.0}%6.3fs")
        }
      case other => sys.error(s"unknown stage $other")
    }
    spark.stop()
  }
}

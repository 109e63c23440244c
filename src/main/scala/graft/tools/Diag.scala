package graft.tools

import graft.{GraftSession, SparkEntry}

/** Per-query diagnostic: where does the wall time go? For each named
  * query, runs it twice (cold + warm) and reports, for the warm run,
  * the QueryPlanningTracker phase times (analysis / optimization /
  * planning), total wall, and executed-plan shape counts (exchanges,
  * parquet scans, sorts, codegen spans) — the evidence §1 of the
  * optimization guide asks for before touching an operator. After each
  * run it also prints the RDDs still pinned in the session (persisted
  * or `localCheckpoint`ed) and their storage bytes, so an iterative
  * operator that leaks its round state shows as a count that grows
  * from cold to warm.
  *
  * Run: `sbt "runMain graft.tools.Diag q_a q_b ..."`.
  */
object Diag {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else Seq("q_agg_group")
    // stage accounting: jobs/stages/tasks submitted and their wall spans
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val stageMs = new java.util.concurrent.atomic.AtomicLong
    val slow = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val stageDesc = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          val d = Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          j.stageIds.foreach(sid => stageDesc.put(sid, d))
        }
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          tasks.addAndGet(sc.stageInfo.numTasks)
          for (a <- sc.stageInfo.submissionTime; b <- sc.stageInfo.completionTime) {
            stageMs.addAndGet(b - a)
            val run = sc.stageInfo.taskMetrics.executorRunTime
            val cpu = sc.stageInfo.taskMetrics.executorCpuTime / 1000000
            val deser = sc.stageInfo.taskMetrics.executorDeserializeTime
            val site = stageDesc.getOrDefault(sc.stageInfo.stageId, "")
            slow.add((b - a,
              s"${sc.stageInfo.stageId}:${sc.stageInfo.name.takeWhile(_ != '(').trim} " +
                s"span=${b - a} run=$run cpu=$cpu deser=$deser " +
                s"tasks=${sc.stageInfo.numTasks} @ $site"))
          }
        }
      })
    // warm shared paths once
    try SparkEntry.queries("q_agg_group")(spark, sfDir).count()
    catch { case _: Throwable => () }
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      spark.sparkContext.setJobDescription(s"diag: $n")
      def one(tag: String): Unit = {
        jobs.set(0); stages.set(0); tasks.set(0); stageMs.set(0); slow.clear()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val tBuild = System.nanoTime()
        df.count()
        val tEnd = System.nanoTime()
        val ep = df.queryExecution.executedPlan.toString
        def c(p: String) = p.r.findAllIn(ep).length
        Thread.sleep(200) // let listener drain
        val stored = spark.sparkContext.getRDDStorageInfo
        println(f"DIAG $n%-24s $tag build=${(tBuild - t0) / 1e9}%.2fs " +
          f"exec=${(tEnd - tBuild) / 1e9}%.2fs total=${(tEnd - t0) / 1e9}%.2fs " +
          s"| jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get} " +
          s"stageMs=${stageMs.get} " +
          s"| exch=${c("Exchange")} scans=${c("Scan parquet")} " +
          s"sorts=${c("\\bSort\\b")} wsc=${c("WholeStageCodegen")} " +
          s"| pinned=${spark.sparkContext.getPersistentRDDs.size} " +
          s"pinnedBytes=${stored.map(i => i.memSize + i.diskSize).sum}")
        if (tag == "warm") {
          import scala.jdk.CollectionConverters._
          slow.asScala.toSeq.sortBy(-_._1).take(12).foreach { case (_, l) =>
            println(s"  SLOW $l")
          }
        }
      }
      try { one("cold"); one("warm") }
      catch { case e: Throwable => println(s"DIAG $n FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }
}

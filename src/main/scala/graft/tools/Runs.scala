package graft.tools

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, LocalFrames, SparkSession}

import graft.{GraftSession, SparkEntry}

/** The measuring core of every registry tool (Bench, Verify, Smoke,
  * tools.Explain, tools.Diag): one session factory, one query
  * selection, one timed run with one listener, and one JSON string
  * escaper, so a number means the same thing in every tool.
  */
private[graft] object Runs {
  /** The tool session: `local[SPARK_GRAFT_CPUS]`, or `defaultCpus`. */
  def session(defaultCpus: String): SparkSession =
    GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus))

  /** The registry names `names` picks, in order; the whole registry by
    * name when `names` is empty. Every unknown name is refused in one
    * message, before the caller builds a session.
    */
  def select(names: Seq[String]): Seq[String] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    if (names.isEmpty) SparkEntry.queries.keys.toSeq.sorted else names
  }

  /** One run: build and action wall time, the Spark work it caused, its
    * slowest stages, and the built frame or the error. A failed run
    * reads as -1 s, never as fast.
    */
  final case class Rep(buildNs: Long, execNs: Long, jobs: Int, stages: Int,
      tasks: Int, stageMs: Long, slow: Seq[String], frame: Option[DataFrame],
      error: Option[Throwable]) {
    def ok: Boolean = error.isEmpty
    def totalNs: Long = buildNs + execNs
    def secs: Double = if (ok) totalNs / 1e9 else -1.0
  }

  /** Registry query `name` over `dir`, run once with `act` (a count by
    * default) on its frame.
    */
  def rep(spark: SparkSession, name: String, dir: String,
      act: DataFrame => Unit = _.count()): Rep =
    run(spark, act)(SparkEntry.queries(name)(spark, dir))

  /** `build`'s frame run once with `act`; an exception from either is
    * recorded in the rep, never thrown.
    */
  def run(spark: SparkSession, act: DataFrame => Unit)(build: => DataFrame): Rep = {
    val sc = spark.sparkContext
    val work = listener(sc)
    LocalFrames.drainListeners(sc)
    work.reset()
    val t0 = System.nanoTime()
    var tBuild = t0
    val (frame, error) =
      try {
        val df = build
        tBuild = System.nanoTime()
        act(df)
        (Some(df), None)
      } catch { case e: Throwable =>
        if (tBuild == t0) tBuild = System.nanoTime()
        (None, Some(e))
      }
    val tEnd = System.nanoTime()
    LocalFrames.drainListeners(sc)
    Rep(tBuild - t0, tEnd - tBuild, work.jobs, work.stages, work.tasks,
      work.stageMs, work.slowest(12), frame, error)
  }

  /** Spark jobs, stages, tasks and stage wall time since the last reset,
    * with one line per completed stage for the slow list. Events arrive
    * on the one listener-bus thread; the run reads and resets between
    * drains.
    */
  private final class Work extends SparkListener {
    @volatile var jobs, stages, tasks = 0
    @volatile var stageMs = 0L
    @volatile private var slow = List.empty[(Long, String)]
    @volatile private var stageDesc = Map.empty[Int, String]

    def reset(): Unit = { jobs = 0; stages = 0; tasks = 0; stageMs = 0; slow = Nil; stageDesc = Map.empty }

    def slowest(n: Int): Seq[String] = slow.sortBy(-_._1).take(n).map(_._2)

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs += 1
      val d = Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      stageDesc ++= j.stageIds.map(_ -> d.getOrElse(""))
    }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val i = sc.stageInfo
      stages += 1
      tasks += i.numTasks
      for (a <- i.submissionTime; b <- i.completionTime) {
        stageMs += b - a
        val m = i.taskMetrics
        // a stage AQE submits from its pool is named after the pool's call
        // site, the same for every such stage: name it by its operators
        val name = if (i.name.contains("withThreadLocalCaptured")) LocalFrames.stageScopes(i).mkString(" > ")
          else i.name.takeWhile(_ != '(').trim
        slow ::= (b - a, s"${i.stageId}:$name " +
          s"span=${b - a} run=${m.executorRunTime} cpu=${m.executorCpuTime / 1000000} " +
          s"deser=${m.executorDeserializeTime} tasks=${i.numTasks} " +
          s"@ ${stageDesc.getOrElse(i.stageId, "")}")
      }
    }
  }

  // the listener of the current SparkContext, added on first use
  private var attached: Option[(SparkContext, Work)] = None

  private def listener(sc: SparkContext): Work = synchronized {
    attached.collect { case (c, w) if c eq sc => w }.getOrElse {
      val w = new Work
      sc.addSparkListener(w)
      attached = Some((sc, w))
      w
    }
  }

  /** JSON string content: backslash, quote and every control character
    * (< 0x20) escaped. A raw tab or CR in oracle SQL would otherwise make
    * a JSON reader reject the whole oracle_sql.json.
    */
  def jsonEscape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** `s` as a quoted JSON string. */
  def str(s: String): String = "\"" + jsonEscape(s) + "\""

  /** Writes the warm-run table (per query min and median seconds) to
    * `out` as one JSON object and returns its size and total of mins. A subset run (`subset`) merges into an
    * existing file and keeps the entries it did not re-measure; the
    * totals are always derived from the merged table.
    */
  def writeProfile(out: String, sfDir: String, reps: Int, subset: Boolean,
      loadBefore: Double, results: Seq[(String, (Double, Double))]): (Int, Double) = {
    val path = java.nio.file.Paths.get(out)
    val merged = scala.collection.mutable.Map.empty[String, (Double, Double)]
    if (subset && java.nio.file.Files.exists(path)) {
      val qs = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readAllBytes(path)).get("queries")
      qs.fieldNames().forEachRemaining { n =>
        merged(n) = (qs.get(n).get("min").asDouble(), qs.get(n).get("median").asDouble())
      }
    }
    merged ++= results
    val qjson = merged.toSeq.sortBy(_._1).map { case (n, (mn, md)) =>
      f"""${str(n)}:{"min":$mn%.3f,"median":$md%.3f}"""
    }.mkString(",")
    val total = merged.valuesIterator.map(_._1).sum
    val json = f"""{"sf_dir":${str(sfDir)},"reps":$reps,""" +
      f""""total_min_sec":$total%.3f,"n_queries":${merged.size},""" +
      f""""load_avg_before":$loadBefore%.2f,"load_avg_after":$loadAvg%.2f,""" +
      s""""queries":{$qjson}}"""
    java.nio.file.Files.write(path, json.getBytes("UTF-8"))
    (merged.size, total)
  }

  /** The host's 1-minute load average. */
  def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
}

package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.ingest.Gateway

/** In-memory record log. Every hook appends one flat JSON object; the log
  * is written out once, when the benchmark process ends, and all
  * aggregation (self time, per-request sums) happens in the Python side.
  * Times are epoch microseconds, so they line up with the Spark
  * listener's epoch-millisecond event times.
  */
final class Records {
  private val q = new ConcurrentLinkedQueue[String]()
  private val epoch0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()

  def nowUs: Long = epoch0 + (System.nanoTime() - nano0) / 1000L

  def add(kind: String, fields: (String, Any)*): Unit =
    q.add((("kind" -> kind) +: fields).map { case (k, v) => s"${Json.str(k)}:${Json.value(v)}" }
      .mkString("{", ",", "}"))

  def writeTo(path: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), q.asScala.toSeq.asJava)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case m: Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case other => str(other.toString)
  }
}

/** The request span: a [[Gateway]] whose `handle` records one span per
  * request and tags every Spark job the request starts with the request
  * id (the load generator's `rid` query parameter), through the job group
  * of the handler thread.
  */
final class TracingGateway(spark: SparkSession, warehouse: String, rec: Records)
    extends Gateway(spark, warehouse) {
  override def handle(req: Gateway.Request): Gateway.Response = {
    val rid = req.query.getOrElse("rid", "")
    val sc = spark.sparkContext
    sc.setJobGroup(rid, "perfbench request", interruptOnCancel = false)
    val start = rec.nowUs
    try {
      val resp = super.handle(req)
      rec.add("handle", "rid" -> rid, "start" -> start, "end" -> rec.nowUs,
        "method" -> req.method, "path" -> req.path, "status" -> resp.status)
      resp
    } finally sc.clearJobGroup()
  }
}

/** Spark-side hooks: SQL executions (start, end, request), jobs, stages
  * and tasks through a `SparkListener`; planning phases, plan class
  * (`from_json`, parquet write) and scan metrics through a
  * `QueryExecutionListener`, joined to their execution by the identity of
  * the `QueryExecution`.
  */
final class SparkHooks(rec: Records) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      rec.add("exec_start", "id" -> e.executionId, "root" -> e.rootExecutionId,
        "rid" -> e.jobGroupId, "time" -> e.time * 1000L)
    case e: SparkListenerSQLExecutionEnd =>
      rec.add("exec_end", "id" -> e.executionId, "time" -> e.time * 1000L,
        "qe" -> PerfbenchBridge.queryExecution(e).map(System.identityHashCode))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    rec.add("job", "id" -> e.jobId, "time" -> e.time * 1000L,
      "stages" -> e.stageIds,
      "exec" -> p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))),
      "rid" -> p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    rec.add("stage", "id" -> e.stageInfo.stageId,
      "submitted" -> e.stageInfo.submissionTime.map(_ * 1000L))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    rec.add("task", "stage" -> e.stageId, "launch" -> i.launchTime * 1000L,
      "finish" -> i.finishTime * 1000L,
      "shuffle_bytes" -> m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      "spill_bytes" -> m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) => k -> p.durationMs }
    val scans = collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
    def metric(name: String): Long =
      scans.flatMap(_.metrics.get(name)).map(_.value).sum
    val fromJson = qe.analyzed.exists(_.expressions.exists(_.exists(_.isInstanceOf[JsonToStructs])))
    rec.add("qe", "ref" -> System.identityHashCode(qe), "end" -> rec.nowUs,
      "duration_ns" -> durationNs, "from_json" -> fromJson,
      "write" -> qe.analyzed.exists(_.isInstanceOf[InsertIntoHadoopFsRelationCommand]),
      "phases" -> phases, "files_read" -> metric("numFiles"),
      "listing_ms" -> metric("metadataTime"), "rows_read" -> metric("numOutputRows"))
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    rec.add("qe_failed", "ref" -> System.identityHashCode(qe), "error" -> String.valueOf(e.getMessage))
}

/** JVM-level samples: heap in use after every collection (GC
  * notifications), and the collector-time, allocation and heap-in-use
  * figures read on demand.
  */
final class JvmProbe(rec: Records) {
  import com.sun.management.GarbageCollectionNotificationInfo
  import java.lang.management.ManagementFactory
  import javax.management.{NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  private val listener: NotificationListener = (n, _) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      rec.add("gc", "time" -> rec.nowUs, "used_after" -> used, "name" -> info.getGcName)
    }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def counters(): Map[String, Any] = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    val alloc = ManagementFactory.getThreadMXBean match {
      case t: com.sun.management.ThreadMXBean => t.getTotalThreadAllocatedBytes
      case _ => -1L
    }
    Map("time" -> rec.nowUs, "gc_ms" -> gcMs, "alloc_bytes" -> alloc)
  }

  def heapUsed: Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
}

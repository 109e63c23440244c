package graft

import graft.ingest.Gateway
import graft.ingest.Gateway.{Request, Response}
import graft.ops.IngestOps

/** The transport-free gateway must reproduce the reference's route
  * behavior end to end: statuses, validation messages, register
  * side-effects, the parquet layout, auth, and the native query route.
  */
class GatewaySpec extends SparkSpec {
  import spark.implicits._

  private def tmpWarehouse(): String =
    java.nio.file.Files.createTempDirectory("graft_gw").toString

  private def rm(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
  }

  test("the ingest cycle: registers start empty, fill monotonically, and match the ledger") {
    val wh = tmpWarehouse()
    try {
      val gw = new Gateway(spark, wh)
      assert(gw.handle(Request("GET", "/")) ===
        Response(200, """{"lastTimeGenerated":0,"maxTimestamp":0}"""))

      // happy-path envelope (fixture 1): 200 echoes id/timeGenerated/batch max
      val r1 = gw.handle(Request("POST", "/", body = IngestOps.fixtures(0)._2))
      assert(r1.status === 200)
      assert(r1.body ===
        """{"id":"batch-1","timeGenerated":1697049600000,"maxTimestamp":1697049601000}""")

      // rows landed in the mandated <source>/year/month/day/hour layout
      val written = spark.read.parquet(wh)
      assert(written.count() === 2L)
      val part = written.select("source", "year", "month", "day", "hour")
        .distinct().collect()
      assert(part.length === 1)
      assert(part(0).getString(0) === "factory-1")

      // registers after batch 1
      assert(gw.handle(Request("GET", "/")).body ===
        """{"lastTimeGenerated":1697049600000,"maxTimestamp":1697049601000}""")

      // batch 2 has HIGHER timestamps: both registers advance
      val r2 = gw.handle(Request("POST", "/", body = IngestOps.fixtures(1)._2))
      assert(r2.status === 200)
      assert(gw.handle(Request("GET", "/")).body ===
        """{"lastTimeGenerated":1697049700000,"maxTimestamp":1697049701000}""")

      // batch 2 lands in the SAME hour partition as batch 1 — appending
      // like the reference's one-blob-per-batch upload, so batch 1's
      // rows must survive (partition overwrite would erase them)
      assert(spark.read.parquet(wh).count() === 4L,
        "same-hour batches must accumulate, not overwrite")

      // an out-of-order LOWER batch: lastTimeGenerated follows the writer
      // (A9 last-writer-wins), maxTimestamp must NOT move back (A8)
      val low = """{"content":[{"timestamp":1697000000000,"value":1.0}],""" +
        """"id":"late","timeGenerated":1697000000000,""" +
        """"file":"factory-1/2023/10/11/08/z.parquet"}"""
      assert(gw.handle(Request("POST", "/", body = low)).status === 200)
      assert(gw.handle(Request("GET", "/")).body ===
        """{"lastTimeGenerated":1697000000000,"maxTimestamp":1697049701000}""")

      // the process-local registers agree with the durable ledger (A13):
      // re-deriving from the written parquet gives the same high-water mark
      val ledgerMax = spark.read.parquet(wh)
        .agg(org.apache.spark.sql.functions.max("timestamp"))
        .collect()(0).getLong(0)
      assert(ledgerMax === 1697049701000L)
    } finally rm(wh)
  }

  test("validation 400s mirror the reference's messages and leave no side effects") {
    val wh = tmpWarehouse()
    try {
      val gw = new Gateway(spark, wh)
      // fixture 3: missing file; 4: zero timeGenerated; 5: empty content
      assert(gw.handle(Request("POST", "/", body = IngestOps.fixtures(2)._2)) ===
        Response(400, """{"error":"Malformed request: file is required"}"""))
      assert(gw.handle(Request("POST", "/", body = IngestOps.fixtures(3)._2)) ===
        Response(400, """{"error":"Malformed request: timeGenerated is required"}"""))
      assert(gw.handle(Request("POST", "/", body = IngestOps.fixtures(4)._2)) ===
        Response(400, """{"error":"Malformed request: content must be non-empty"}"""))
      // nothing written, registers untouched
      assert(!new java.io.File(wh).listFiles().exists(_.getName.startsWith("factory")))
      assert(gw.handle(Request("GET", "/")).body ===
        """{"lastTimeGenerated":0,"maxTimestamp":0}""")
      // unknown route
      assert(gw.handle(Request("GET", "/nope")).status === 404)
    } finally rm(wh)
  }

  test("a POST parses its envelope once; the write reads the parsed row and keeps its explode") {
    import org.apache.spark.sql.catalyst.expressions.JsonToStructs
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
    import org.apache.spark.sql.execution.{GenerateExec, QueryExecution}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._

    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
    }
    def parses(p: LogicalPlan) = p.exists(_.expressions.exists(_.exists(_.isInstanceOf[JsonToStructs])))
    def writes(p: LogicalPlan) = p.exists(_.isInstanceOf[InsertIntoHadoopFsRelationCommand])
    // listener events arrive in order on the bus: once a marker action is
    // seen, every execution the POST started has been delivered
    var marks = 0
    def executionsOf(post: => Response): (Response, Seq[QueryExecution]) = {
      seen.clear()
      val resp = post
      marks += 1
      val marker = marks
      spark.range(marker).collect()
      def isMarker(qe: QueryExecution) = qe.analyzed.exists {
        case r: org.apache.spark.sql.catalyst.plans.logical.Range => r.end == marker
        case _ => false
      }
      eventually(timeout(30.seconds)) {
        assert(seen.toArray(Array.empty[QueryExecution]).exists(isMarker))
      }
      (resp, seen.toArray(Array.empty[QueryExecution]).toSeq.filterNot(isMarker))
    }
    val wh = tmpWarehouse()
    spark.listenerManager.register(listener)
    try {
      val gw = new Gateway(spark, wh)
      val (ok, okRuns) = executionsOf(gw.handle(Request("POST", "/", body = IngestOps.fixtures(0)._2)))
      assert(ok.status === 200, ok)
      assert(okRuns.count(qe => parses(qe.analyzed)) === 1, okRuns.map(_.analyzed).mkString("\n"))
      val write = okRuns.filter(qe => writes(qe.analyzed))
      assert(write.size === 1)
      assert(!parses(write.head.analyzed), "the write must not parse the envelope again")
      assert(write.head.analyzed.exists(_.isInstanceOf[LocalRelation]))
      // the explode is not folded onto the driver: it runs in the write task
      val helper = new AdaptiveSparkPlanHelper {}
      assert(helper.collect(write.head.executedPlan) { case g: GenerateExec => g }.nonEmpty,
        write.head.executedPlan.toString)

      val (bad, badRuns) = executionsOf(gw.handle(Request("POST", "/", body = IngestOps.fixtures(2)._2)))
      assert(bad === Response(400, """{"error":"Malformed request: file is required"}"""))
      assert(badRuns.count(qe => parses(qe.analyzed)) === 1)
      assert(!badRuns.exists(qe => writes(qe.analyzed)), "a rejected envelope writes nothing")
    } finally {
      spark.listenerManager.unregister(listener)
      rm(wh)
    }
  }

  test("Go zero values through the gateway: null elements and missing timestamps count as 0") {
    val wh = tmpWarehouse()
    try {
      val gw = new Gateway(spark, wh)
      // every row zero-timestamped: the batch max is 0 and the register stays 0
      val zero = """{"content":[null,{"value":1.0}],"id":"z-1",""" +
        """"timeGenerated":1697049600000,"file":"factory-z/2023/10/11/18/z.parquet"}"""
      assert(gw.handle(Request("POST", "/", body = zero)) === Response(200,
        """{"id":"z-1","timeGenerated":1697049600000,"maxTimestamp":0}"""))
      assert(gw.handle(Request("GET", "/")).body ===
        """{"lastTimeGenerated":1697049600000,"maxTimestamp":0}""")
      // a null element and a row without timestamp beside a real one
      val mixed = """{"content":[null,{"value":2.0},{"timestamp":1697049605000,"value":3.0}],""" +
        """"id":"z-2","timeGenerated":1697049700000,"file":"factory-z/2023/10/11/18/y.parquet"}"""
      assert(gw.handle(Request("POST", "/", body = mixed)) === Response(200,
        """{"id":"z-2","timeGenerated":1697049700000,"maxTimestamp":1697049605000}"""))
      assert(gw.handle(Request("GET", "/")).body ===
        """{"lastTimeGenerated":1697049700000,"maxTimestamp":1697049605000}""")
      // the stored rows carry Go's zero values: 0 / "" / 0.0
      val stored = spark.read.parquet(wh)
        .select("id", "timestamp", "timeOffsetHours", "pointId", "sequence",
          "project", "value", "res", "quality", "year", "hour")
        .orderBy("id", "value").collect().map(_.toSeq).toSeq
      assert(stored === Seq(
        Seq("z-1", 0L, 0L, "", 0L, "", 0.0, "", 0L, 1970, 0),
        Seq("z-1", 0L, 0L, "", 0L, "", 1.0, "", 0L, 1970, 0),
        Seq("z-2", 0L, 0L, "", 0L, "", 0.0, "", 0L, 1970, 0),
        Seq("z-2", 0L, 0L, "", 0L, "", 2.0, "", 0L, 1970, 0),
        Seq("z-2", 1697049605000L, 0L, "", 0L, "", 3.0, "", 0L, 2023, 18)))
    } finally rm(wh)
  }

  test("api key gate runs before every route (KeyRequired semantics)") {
    val wh = tmpWarehouse()
    try {
      val gw = new Gateway(spark, wh, apiKey = Some("s3cret"))
      assert(gw.handle(Request("GET", "/")).status === 401)
      assert(gw.handle(Request("POST", "/", body = IngestOps.fixtures(0)._2)).status === 401)
      assert(gw.handle(Request("GET", "/", query = Map("key" -> "wrong"))).status === 401)
      assert(gw.handle(Request("GET", "/", query = Map("key" -> "s3cret"))).status === 200)
    } finally rm(wh)
  }

  test("concurrent ingests serialize on the write and converge the registers") {
    val wh = tmpWarehouse()
    try {
      val gw = new Gateway(spark, wh)
      // 6 distinct envelopes posted from 6 threads: every batch's rows
      // must land (appends serialized, no clobbered task staging) and
      // the registers must end at the global maxima
      val bodies = (1 to 6).map { i =>
        val ts = 1697049600000L + i * 1000L
        s"""{"content":[{"timestamp":$ts,"value":$i.0}],"id":"c-$i",""" +
          s""""timeGenerated":$ts,"file":"factory-$i/2023/10/11/19/x.parquet"}"""
      }
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val results = Await.result(
        Future.sequence(bodies.map(b =>
          Future(gw.handle(Request("POST", "/", body = b))))), 3.minutes)
      assert(results.forall(_.status == 200), results.mkString("\n"))
      assert(spark.read.parquet(wh).count() === 6L,
        "every concurrent batch's rows must survive the append")
      assert(gw.handle(Request("GET", "/")).body.contains(
        s""""maxTimestamp":${1697049600000L + 6000L}"""),
        "the running-max register must converge to the global max")
    } finally rm(wh)
  }

  test("the query route runs SQL natively and surfaces engine errors as 400") {
    val wh = tmpWarehouse()
    try {
      val gw = new Gateway(spark, wh)
      Seq((1, "a"), (2, "b")).toDF("k", "v").createOrReplaceTempView("gw_t")
      val ok = gw.handle(Request("POST", "/query",
        body = "SELECT k, v FROM gw_t ORDER BY k"))
      assert(ok === Response(200, """[{"k":1,"v":"a"},{"k":2,"v":"b"}]"""))
      val bad = gw.handle(Request("POST", "/query", body = "SELECT * FROM no_such"))
      assert(bad.status === 400)
      assert(bad.body.contains("error"))
      // result truncation (the ADX-default behavior): past maxRows the
      // payload is cut and flagged, never an unbounded driver collect
      val small = new Gateway(spark, wh, maxRows = 3)
      val trunc = small.handle(Request("POST", "/query",
        body = "SELECT explode(sequence(1, 10)) AS n"))
      assert(trunc.status === 200)
      assert(trunc.body.startsWith("""{"truncated":true,"maxRows":3,"""))
      assert(trunc.body.count(_ == '{') === 4) // 3 row objects + the wrapper
    } finally rm(wh)
  }

  test("the query route rejects DDL/DML with 400 — /query matches the reference's read-only contract") {
    val wh = tmpWarehouse()
    try {
      val gw = new Gateway(spark, wh)
      Seq((1, "a")).toDF("k", "v").createOrReplaceTempView("gw_ro")
      for (stmt <- Seq(
          "DROP TABLE gw_ro",
          "DROP VIEW gw_ro",
          "CREATE TABLE gw_new AS SELECT 1 AS x",
          "INSERT INTO gw_ro VALUES (9, 'z')",
          "SET spark.sql.shuffle.partitions=1",
          "CACHE TABLE gw_ro")) {
        val r = gw.handle(Request("POST", "/query", body = stmt))
        assert(r.status === 400, s"$stmt must be rejected, got $r")
        assert(r.body.contains("read-only"), s"$stmt: $r")
      }
      // the catalog is untouched: the view still answers queries
      assert(gw.handle(Request("POST", "/query",
        body = "SELECT k FROM gw_ro")).status === 200)
      assert(!spark.catalog.tableExists("gw_new"))
    } finally rm(wh)
  }

  test("the ingest echo escapes the envelope id (a quote in id must not break the JSON body)") {
    val wh = tmpWarehouse()
    try {
      val gw = new Gateway(spark, wh)
      val id = """b\"atch\\1""" // raw: b"atch\1 — legal JSON string content
      val body = """{"content":[{"timestamp":1697049600000,"value":1.0}],""" +
        s""""id":"$id","timeGenerated":1697049600000,""" +
        """"file":"factory-1/2023/10/11/16/x.parquet"}"""
      val r = gw.handle(Request("POST", "/", body = body))
      assert(r.status === 200)
      // the response body must be valid JSON carrying the exact id back
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(r.body)
      assert(node.get("id").asText() === "b\"atch\\1")
    } finally rm(wh)
  }

  test("the query route replays the reference's own CSL envelopes verbatim") {
    val wh = tmpWarehouse()
    try {
      val gw = new Gateway(spark, wh)
      // the reference's two shipped queries target tables named OmyaData
      // and TelemetryData (tests/test.http:49,62); stand them up as views
      // orderBy+limit so the view's 42 rows are the SAME set on every
      // execution (a bare limit may pick different rows per run)
      Tables.events(spark, sfDir).orderBy("event_id").limit(42)
        .createOrReplaceTempView("OmyaData")
      Tables.events(spark, sfDir).createOrReplaceTempView("TelemetryData")
      // envelope bodies copied verbatim from tests/test.http
      val take = gw.handle(Request("POST", "/query", body =
        """{
          |    "db":"adxdbhisv2",
          |    "csl":"OmyaData | take 100",
          |    "properties": {
          |        "Options":{ "queryconsistency": "strongconsistency"}
          |    }
          |}""".stripMargin))
      assert(take.status === 200, take)
      val sqlTwin = gw.handle(Request("POST", "/query",
        body = "SELECT * FROM OmyaData LIMIT 100"))
      // 42 < 100 rows: take and LIMIT both return the whole view, so the
      // two dialects must produce the SAME row set
      def rowSet(body: String) =
        body.stripPrefix("[").stripSuffix("]").split("\\},\\{").toSet
      assert(rowSet(take.body) === rowSet(sqlTwin.body))
      assert(rowSet(take.body).size === 42)

      val cnt = gw.handle(Request("POST", "/query", body =
        """{
          |    "db":"adxdbbuzox",
          |    "csl":"TelemetryData | count",
          |    "properties": {
          |            "Options":{ "queryconsistency": "strongconsistency"}
          |    }
          |}""".stripMargin))
      assert(cnt.status === 200, cnt)
      val n = Tables.events(spark, sfDir).count()
      assert(cnt.body === s"""[{"Count":$n}]""")
    } finally rm(wh)
  }

  test("the query route speaks the full dialect tier: let/temporal/summarize/top-nested") {
    val wh = tmpWarehouse()
    try {
      val gw = new Gateway(spark, wh)
      Tables.events(spark, sfDir).createOrReplaceTempView("TelemetryData")
      // the canonical ADX telemetry shape through the envelope: datetime
      // range + summarize by bin — the query the reference's hour layout
      // exists to serve, now expressible end-to-end at the endpoint
      val binned = gw.handle(Request("POST", "/query", body =
        """{"db":"x","csl":"TelemetryData | where ts_ts >= datetime(2024-01-02) and ts_ts < datetime(2024-01-03) | summarize n = count() by bin(ts_ts, 6h) | sort by ts_ts asc"}"""))
      assert(binned.status === 200, binned)
      assert(binned.body.split("\\},\\{").length === 4, binned.body)
      // let statements + conditional aggregates through the same route
      val let = gw.handle(Request("POST", "/query", body =
        """{"db":"x","csl":"let hi = 400.0; TelemetryData | summarize n = countif(value >= hi)"}"""))
      assert(let.status === 200, let)
      val want = Tables.events(spark, sfDir)
        .filter(org.apache.spark.sql.functions.col("value") >= 400.0).count()
      assert(let.body === s"""[{"n":$want}]""")
      // top-nested drill-down stays read-only and runs at the endpoint
      val tn = gw.handle(Request("POST", "/query", body =
        """{"db":"x","csl":"TelemetryData | top-nested 1 of event_type by c = count() | project event_type"}"""))
      assert(tn.status === 200, tn)
      // a dashboard-saved query's trailing render is stripped at the
      // endpoint (round 11) — the data result comes back unchanged
      val rend = gw.handle(Request("POST", "/query", body =
        """{"db":"x","csl":"TelemetryData | count | render timechart"}"""))
      assert(rend.status === 200, rend)
      assert(rend.body.contains("\"Count\""), rend.body.take(200))
      // unsupported dialect still 400s with the parse error, never 500s
      val bad = gw.handle(Request("POST", "/query", body =
        """{"db":"x","csl":"TelemetryData | mv-apply x on (summarize count())"}"""))
      assert(bad.status === 400, bad)
    } finally rm(wh)
  }

  test("the query route speaks tier 7: pivot, top-hitters, partition by, getschema") {
    val wh = tmpWarehouse()
    try {
      val gw = new Gateway(spark, wh)
      Tables.events(spark, sfDir).createOrReplaceTempView("TelemetryData")
      val pv = gw.handle(Request("POST", "/query", body =
        """{"db":"x","csl":"TelemetryData | extend ub = user_id % 4 | evaluate pivot(event_type, count(), ub) | sort by ub asc"}"""))
      assert(pv.status === 200, pv)
      assert(pv.body.contains("\"purchase\""), pv.body.take(300))
      val th = gw.handle(Request("POST", "/query", body =
        """{"db":"x","csl":"TelemetryData | top-hitters 2 of event_type"}"""))
      assert(th.status === 200, th)
      assert(th.body.contains("approximate_count_event_type"), th.body.take(300))
      val pb = gw.handle(Request("POST", "/query", body =
        """{"db":"x","csl":"TelemetryData | partition by event_type (top 1 by value desc, event_id asc) | project event_type, event_id"}"""))
      assert(pb.status === 200, pb)
      val gs = gw.handle(Request("POST", "/query", body =
        """{"db":"x","csl":"TelemetryData | project event_id, value | getschema"}"""))
      assert(gs.status === 200, gs)
      assert(gs.body.contains("\"ColumnName\":\"event_id\""), gs.body.take(300))
      // an aggregating stage inside partition-by parens that the subset
      // does not admit still 400s cleanly
      val bad = gw.handle(Request("POST", "/query", body =
        """{"db":"x","csl":"TelemetryData | partition by event_type (sort by value desc)"}"""))
      assert(bad.status === 400, bad)
    } finally rm(wh)
  }
}

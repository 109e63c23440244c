package graft.ingest

import org.apache.spark.sql.{LocalFrames, SparkSession}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

import graft.tools.Runs

/** The reference's full HTTP surface (src/main.go:224-332) with the
  * transport stripped: every route, status code, validation message,
  * auth rule, and register side-effect is executable and testable
  * without a socket. A deployment wraps [[Gateway.handle]] in any HTTP
  * front end (the reference uses gin; SURVEY §2 A14 keeps transport out
  * of engine scope) — the engine-visible contract lives here.
  *
  * Routes (src/main.go):
  *   - `GET /` (:234-245) — the two registers as JSON.
  *   - `POST /` (:248-331) — one parse of the envelope, collected to the
  *     driver: validation (same messages, same order, HTTP 400) and the
  *     batch max read off the collected row, then the parquet write to
  *     `<warehouse>/<source>/YYYY/MM/DD/HH` (A4/A6) from that same row
  *     (no second parse), last-writer-wins `lastTimeGenerated` + monotone
  *     `maxTimestamp` register update (A8/A9), 200 echo of
  *     {id, timeGenerated, batch maxTimestamp}.
  *   - `POST /query` (:247) — the reference reverse-proxies to ADX; here
  *     the engine IS the backend: `spark.sql` over the session catalog,
  *     rows back as JSON (the executable form of q_sql_gateway).
  *   - anything else — 404.
  *   - `?key=` auth (KeyRequired, :77-86): 401 on mismatch when a key is
  *     configured, before any route logic.
  *
  * Registers are process-local like the reference's go-cache
  * (src/cache.go) — a restart forgets them; the durable truth is the
  * parquet ledger (q_state_registers re-derives the same values, which
  * IngestSpec asserts). Divergence from the reference: a malformed JSON
  * body 400s with the first field message instead of gin's bare 500, and
  * a failed write raises instead of `log.Fatal`-killing the process.
  */
class Gateway(spark: SparkSession, warehouse: String,
    apiKey: Option[String] = None, maxRows: Int = 10000) {
  import Gateway._

  // guarded by `this`: only the register read-modify-write is locked, so
  // a long-running /query job never blocks ingests or register reads
  // (route independence the reference's HTTP server has naturally)
  private var lastTimeGenerated: Long = 0L
  private var maxTimestamp: Long = 0L
  // serializes the parquet appends only: concurrent append jobs to one
  // path share the committer's _temporary staging dir and can clobber
  // each other's task attempts — the reference has no such hazard because
  // each batch uploads its own blob. The lock is JVM-wide PER WAREHOUSE
  // (companion registry), not per instance: the reference runs 1-10
  // replicas against one store (its infra scales the container out), and
  // the harness's co-located form of that is N Gateway instances in one
  // JVM sharing a ledger — their appends must serialize across instances
  // or the committer race corrupts the ledger. Separate-JVM replicas
  // need a commit protocol the committer lacks (a real table format);
  // the register SEMANTICS are already replica-safe because the durable
  // truth is the agg-over-ledger derivation (q_state_registers), not the
  // in-memory counters.
  private val writeLock = Gateway.writeLockFor(warehouse)

  def handle(req: Request): Response =
    if (apiKey.exists(k => !req.query.get("key").contains(k)))
      Response(401, """{"error":"unauthorized"}""")
    else (req.method, req.path) match {
      case ("GET", "/") =>
        val (lg, mx) = synchronized((lastTimeGenerated, maxTimestamp))
        Response(200, s"""{"lastTimeGenerated":$lg,"maxTimestamp":$mx}""")
      case ("POST", "/") => ingest(req.body)
      case ("POST", "/query") => query(req.body)
      case _ => Response(404, """{"error":"not found"}""")
    }

  private def ingest(body: String): Response = {
    import spark.implicits._
    // one parse per POST: the envelope is parsed by one collect, and the
    // write reads those collected rows through a LocalRelation, so no
    // from_json runs again inside the write's optimizer (under the lock)
    val (envRows, envDf) =
      LocalFrames.collectLocal(Ingest.parseEnvelopes(Seq(body).toDF("json")))
    val env = envRows(0)
    val field = envDf.schema.fieldIndex _
    if (!env.getBoolean(field("_valid")))
      return Response(400,
        s"""{"error":"Malformed request: ${env.getUTF8String(field("_reject_reason"))}"}""")
    val batchMax = contentMax(env.getArray(field("content")))
    val rows = Ingest.withPartitionColumns(
      Ingest.explodeContent(envDf),
      substring_index(col("file"), "/", 1),
      col("timestamp"))
    // APPEND, like the reference's one-blob-per-batch upload — dynamic
    // partition overwrite would erase every earlier batch in the same
    // hour partition and break A13 ledger re-derivation. The reference's
    // per-path overwrite idempotence maps to id-dedup at read
    // (q_dedup_ids) since the rows carry (id, file).
    writeLock.synchronized {
      Ingest.writeBatch(rows, warehouse, mode = "append")
    }
    val timeGenerated = env.getLong(field("timeGenerated"))
    synchronized {
      lastTimeGenerated = timeGenerated // A9: last writer wins
      if (batchMax > maxTimestamp) maxTimestamp = batchMax // A8: monotone
    }
    // the envelope schema puts no character restriction on id, so it must
    // be escaped on the way back out or a quote in it breaks the body
    Response(200, s"""{"id":"${Runs.jsonEscape(env.getUTF8String(field("id")).toString)}",""" +
      s""""timeGenerated":$timeGenerated,"maxTimestamp":$batchMax}""")
  }

  /** The query route, speaking BOTH of the reference's dialects:
    *
    *   - the body may be the reference's verbatim ADX envelope
    *     `{"db":..., "csl":"OmyaData | take 100", ...}`
    *     (tests/test.http:44-66) — the `csl` field is extracted and the
    *     rest ignored, exactly what the proxied backend does;
    *   - or the bare query text itself (this engine's native extension).
    *
    * The text then dispatches on shape: a CSL pipeline goes through
    * [[Kql.translate]] (read-only by construction), anything else is
    * Spark SQL — but parsed FIRST and rejected with 400 if the plan is a
    * command (DDL/DML/SET). The reference's `/query` proxies to an ADX
    * *query* endpoint, which cannot mutate; without this gate,
    * `spark.sql` would happily run `DROP TABLE` from an outward-facing
    * route and widen that contract.
    *
    * Result-size guard mirroring the reference backend's behavior: ADX
    * truncates query results by default rather than streaming unbounded
    * rows; here anything past `maxRows` is dropped and flagged, so a
    * SELECT over the 100 TB ledger can never buffer the corpus on the
    * gateway driver.
    */
  private def query(body: String): Response =
    try {
      val text = extractCsl(body).getOrElse(body)
      if (Kql.looksLikeCsl(text)) respond(Kql.translate(spark, text))
      else {
        import org.apache.spark.sql.catalyst.plans.logical.{Command, ParsedStatement}
        val plan = spark.sessionState.sqlParser.parsePlan(text)
        // tree-wide, not root-only: an INSERT parses to a statement node
        // that may sit under wrappers (CTE), and Command covers every
        // runnable DDL/DML/config plan the SparkSqlParser can produce
        val mutates = plan.exists {
          case _: Command | _: ParsedStatement => true
          case _ => false
        }
        if (mutates)
          Response(400,
            """{"error":"only read-only queries are accepted on /query"}""")
        else respond(spark.sql(text))
      }
    } catch {
      case e: Exception =>
        val msg = Runs.jsonEscape(Option(e.getMessage).getOrElse(e.getClass.getName)
          .takeWhile(_ != '\n'))
        Response(400, s"""{"error":"$msg"}""")
    }

  private def respond(df: org.apache.spark.sql.DataFrame): Response = {
    val rows = df.toJSON.take(maxRows + 1)
    val body = rows.take(maxRows).mkString("[", ",", "]")
    if (rows.length > maxRows)
      Response(200, s"""{"truncated":true,"maxRows":$maxRows,"rows":$body}""")
    else Response(200, body)
  }

  /** The reference's request body is the ADX REST envelope; pull out its
    * `csl` field when the body is such an object, else None (bare text).
    */
  private def extractCsl(body: String): Option[String] = {
    val t = body.trim
    if (!t.startsWith("{")) None
    else
      try {
        val node = jsonMapper.readTree(t)
        Option(node.get("csl")).filter(_.isTextual).map(_.asText)
      } catch { case _: Exception => None }
  }
}

object Gateway {
  case class Request(method: String, path: String,
      query: Map[String, String] = Map.empty, body: String = "")
  case class Response(status: Int, body: String)

  // readTree is thread-safe, so every /query shares one mapper
  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private val rowFields = Ingest.rowSchema.length
  private val timestampField = Ingest.rowSchema.fieldIndex("timestamp")

  /** The batch max over a parsed, non-empty `content` array. A null
    * ELEMENT passes validation (the array itself is non-empty) — Go's
    * unmarshal gives it zero values and explodeContent coalesces it to 0,
    * so a null element or a null timestamp counts as 0 here too.
    */
  private def contentMax(content: ArrayData): Long = {
    var hi = Long.MinValue
    var i = 0
    while (i < content.numElements()) {
      val ts =
        if (content.isNullAt(i)) 0L
        else {
          val r = content.getStruct(i, rowFields)
          if (r.isNullAt(timestampField)) 0L else r.getLong(timestampField)
        }
      if (ts > hi) hi = ts
      i += 1
    }
    hi
  }

  // one append lock per warehouse path, shared by every Gateway instance
  // in the JVM (see the writeLock note in the class)
  private val writeLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[ingest] def writeLockFor(warehouse: String): Object =
    writeLocks.computeIfAbsent(warehouse, _ => new Object)
}

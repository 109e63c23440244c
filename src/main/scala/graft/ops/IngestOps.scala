package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Publish, Tables}
import graft.ingest.Ingest

/** Reference Tier A ingest semantics as oracle-checked queries
  * (SURVEY.md §2/§3.1). The JSON envelope fixtures are defined ONCE below
  * and interpolated into both the Spark query and the DuckDB oracle, so
  * the two engines always parse the same bytes.
  */
object IngestOps {

  /** Envelope fixtures: (idx, raw JSON). Cover the reference's contract:
    * happy path, minimal-fields rows (zero-value semantics,
    * tests/test.http:76-85), missing file, zero timeGenerated, empty
    * content (the reference panics — we reject, SURVEY.md §7.4).
    */
  val fixtures: Seq[(Int, String)] = Seq(
    1 -> """{"content":[{"timestamp":1697049600000,"timeOffsetHours":2,"pointId":"p-1","sequence":7,"project":"proj-a","value":42.5,"res":"r-1","quality":3},{"timestamp":1697049601000,"timeOffsetHours":2,"pointId":"p-2","sequence":8,"project":"proj-a","value":17.25,"res":"r-1","quality":1}],"id":"batch-1","source":"factory-1","timeGenerated":1697049600000,"file":"factory-1/2023/10/11/19/a.parquet"}""",
    2 -> """{"content":[{"timestamp":1697049700000,"value":5.5},{"timestamp":1697049701000,"value":6.5}],"id":"batch-2","timeGenerated":1697049700000,"file":"factory-1/2023/10/11/19/b.parquet"}""",
    3 -> """{"content":[{"timestamp":1697049800000,"value":1.0}],"id":"batch-3","timeGenerated":1697049800000}""",
    4 -> """{"content":[{"timestamp":1697049900000,"value":2.0}],"id":"batch-4","timeGenerated":0,"file":"factory-1/2023/10/11/19/c.parquet"}""",
    5 -> """{"content":[],"id":"batch-5","timeGenerated":1697050000000,"file":"factory-1/2023/10/11/19/d.parquet"}"""
  )

  private def rawDf(s: SparkSession): DataFrame = {
    import s.implicits._
    fixtures.toDF("idx", "json")
  }

  /** Envelope-level validation (reference A2: file/timeGenerated/id
    * required, plus non-empty content).
    */
  private def ingestValidate(s: SparkSession, dir: String): DataFrame =
    Ingest.parseEnvelopes(rawDf(s))
      .select(
        col("idx"),
        coalesce(col("file"), lit("")).as("file"),
        col("_valid").as("valid"),
        coalesce(col("_reject_reason"), lit("")).as("reason"))
      .orderBy("idx")

  /** Row-level explode of valid envelopes with Go-zero-value coalesce for
    * missing JSON fields (reference §1.3).
    */
  private def ingestExplode(s: SparkSession, dir: String): DataFrame =
    Ingest.explodeContent(Ingest.parseEnvelopes(rawDf(s)))
      .select("id", "timestamp", "timeOffsetHours", "pointId", "sequence",
        "project", "value", "res", "quality")
      .orderBy("id", "timestamp")

  /** A4/A5/A6 sink semantics: synthetic batch → hour-partitioned snappy
    * parquet (dynamic overwrite) → re-read → aggregate. Written twice to
    * assert overwrite idempotence in the returned counts. Oracled: the
    * readback aggregate equals the synthetic generator's closed-form
    * arithmetic (timestamp = 1697049600000 + id·1000), so the DuckDB
    * twin replays that arithmetic over range(50000) — any doubled,
    * dropped, or corrupted row breaks the count/min/max/hour equality.
    */
  private def parquetRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Publish.scratch("graft_roundtrip") { out =>
      val batch = Ingest.withPartitionColumns(
        Ingest.syntheticBatch(s, 50000), lit("factory-1"), col("timestamp"))
      Ingest.writeBatch(batch, out)
      Ingest.writeBatch(batch, out) // same path ⇒ overwritten, not doubled
      // materialized eagerly so the temp dir can be deleted
      val row = s.read.parquet(out).agg(
        count(lit(1)).as("n"),
        min(col("timestamp")).as("min_ts"),
        max(col("timestamp")).as("max_ts"),
        countDistinct(col("hour")).as("n_hours"))
        .as[(Long, Long, Long, Long)].head()
      Seq(row).toDF("n", "min_ts", "max_ts", "n_hours")
    }
  }

  /** Source/sink format matrix (⊘ self-checked side-effect op): the
    * same 500-document slice round-trips through parquet, ORC, CSV, and
    * JSON — one row per format with the row count and a content
    * checksum that must agree across all four (the spec asserts it).
    * Parquet/ORC are the columnar pair (splittable, predicate-pushdown
    * capable — the only sane 100 TB formats); CSV/JSON are the
    * interchange pair every ingest edge still speaks. Text formats
    * round-trip via explicit casts so type fidelity is part of the
    * check, not luck.
    */
  private def formatMatrix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"), md5(col("text")).as("h"))
    Publish.scratch("graft_formats") { out =>
      def check(df: org.apache.spark.sql.DataFrame) = df.agg(
        count(lit(1)),
        sum(col("n_chars")),
        // order-insensitive content checksum: sum of per-row hashes
        sum(conv(substring(md5(concat_ws("|", col("doc_id"), col("lang"),
          col("n_chars"), col("h"))), 1, 12), 16, 10).cast("long")))
        .as[(Long, Long, Long)].head()
      base.write.mode("overwrite").parquet(s"$out/p")
      base.write.mode("overwrite").orc(s"$out/o")
      base.write.mode("overwrite").option("header", "true").csv(s"$out/c")
      base.write.mode("overwrite").json(s"$out/j")
      val textual = Seq(
        "parquet" -> check(s.read.parquet(s"$out/p")),
        "orc" -> check(s.read.orc(s"$out/o")),
        "csv" -> check(s.read.option("header", "true").csv(s"$out/c")
          .select(col("doc_id").cast("long"), col("lang"),
            col("n_chars").cast("long"), col("h"))),
        "json" -> check(s.read.json(s"$out/j")
          .select(col("doc_id").cast("long"), col("lang"),
            col("n_chars").cast("long"), col("h"))))
      textual.map { case (f, (n, chars, sum)) => (f, n, chars, sum) }
        .toDF("format", "n_rows", "sum_chars", "checksum")
        .orderBy("format")
    }
  }

  /** Compaction as an operator: write the events table 3× (appended —
    * the reference's one-file-per-POST shape) into the mandated
    * source/YYYY/MM/DD/HH layout, compact to one file per partition,
    * and report the invariants. Invariant oracle (round 12, upgraded
    * out of the ⊘ set): the fixture is the EVENTS table itself, so
    * every reported value is DuckDB-derivable — `files_after` equals
    * the distinct (year,month,day,hour) count (compactPartitions
    * clusters each partition's rows into one task and dynamic
    * partition-overwrite writes one file per directory),
    * `rows_compacted`/`rows_after` are 3 × the slice count, and
    * `compacted` holds because each of the 3 appends contributes ≥ 1
    * file per partition before compaction. The fixture is the FIRST TWO
    * DAYS of events (≤ 48 hour-partitions at any SF): the operator's
    * cost is filesystem metadata (dirs × files), so an unbounded slice
    * measures the local FS, not the engine — the WHERE is mirrored
    * verbatim in the oracle. File-count-vs-before value-equality
    * assertions live in IngestSpec.
    */
  private def compact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Publish.scratch("graft_compact_q") { out =>
      val src = Tables.events(s, dir)
        .filter(col("ts_ts") < lit("2024-01-03").cast("timestamp"))
        .select(
        col("event_id"), col("value"),
        lit("factory-1").as("source"),
        year(col("ts_ts")).as("year"), month(col("ts_ts")).as("month"),
        dayofmonth(col("ts_ts")).as("day"), hour(col("ts_ts")).as("hour"))
      (0 until 3).foreach { _ =>
        // pin the slice count: file counts must not depend on the
        // session's parallelism (local[4] Verify vs local[32] Bench)
        src.repartition(2)
          .write.mode("append")
          .partitionBy(Ingest.partitionColumns: _*)
          .parquet(out)
      }
      def nFiles = {
        def walk(d: java.io.File): Seq[java.io.File] =
          Option(d.listFiles).toSeq.flatten
            .flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
        walk(new java.io.File(out)).count(_.getName.endsWith(".parquet"))
      }
      val filesBefore = nFiles
      val rows = Ingest.compactPartitions(s, out, lit(true))
      // everything below is materialized eagerly so the temp dir can go
      val result = (rows, filesBefore > nFiles, nFiles.toLong,
        s.read.parquet(out).count())
      Seq(result)
        .toDF("rows_compacted", "compacted", "files_after", "rows_after")
    }
  }

  /** Reference state registers (A8 maxTimestamp high-water mark + A9
    * lastTimeGenerated last-writer-wins), computed over the events table
    * as the ingest ledger (arrival order = event_id).
    */
  private def stateRegisters(s: SparkSession, dir: String): DataFrame =
    Ingest.stateRegisters(
      Tables.events(s, dir).select(
        col("ts_us").as("timestamp"),
        col("ts_us").as("timeGenerated"),
        col("event_id").as("arrivalSeq")))

  /** A12 TTL-expiry registers (reference src/cache.go:75-92): same
    * ledger as q_state_registers, but rows whose ingest time is more
    * than 7 days behind the newest ingest have expired and are invisible
    * to the read — the events table spans ~30 days, so the TTL cut is
    * live (~77% of the ledger expired) rather than vacuous.
    */
  private val registerTtlUs = 7L * 24 * 3600 * 1000000L

  private def stateTtl(s: SparkSession, dir: String): DataFrame =
    Ingest.stateRegistersWithTtl(
      Tables.events(s, dir).select(
        col("ts_us").as("timestamp"),
        col("ts_us").as("timeGenerated"),
        col("event_id").as("arrivalSeq")), registerTtlUs)

  /** A6 partition-path derivation over real data: YYYY/MM/DD/HH columns
    * from event time, grouped — the layout the reference mandates for
    * "efficient lookups" (README.md:5), which in Spark is partition
    * pruning.
    */
  private def hourPartition(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(year(col("ts_ts")).as("y"), month(col("ts_ts")).as("m"),
        dayofmonth(col("ts_ts")).as("d"), hour(col("ts_ts")).as("h"))
      .groupBy("y", "m", "d", "h")
      .agg(Ox.cnt.as("n"))
      .orderBy("y", "m", "d", "h")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ingest_validate" -> (ingestValidate _),
    "q_ingest_explode" -> (ingestExplode _),
    "q_parquet_roundtrip" -> (parquetRoundtrip _),
    "q_format_matrix" -> (formatMatrix _),
    "q_compact_partitions" -> (compact _),
    "q_state_registers" -> (stateRegisters _),
    "q_state_ttl" -> (stateTtl _),
    "q_hour_partition" -> (hourPartition _)
  )

  private val valuesClause =
    fixtures.map { case (i, j) => s"($i, '$j')" }.mkString(", ")

  private val contentStructure =
    """[{"timestamp":"BIGINT","timeOffsetHours":"BIGINT","pointId":"VARCHAR","sequence":"BIGINT","project":"VARCHAR","value":"DOUBLE","res":"VARCHAR","quality":"BIGINT"}]"""

  val oracleSql: Map[String, String] = Map(
    // round-12 upgrade out of the ⊘ set: the oracle asserts the
    // ROUND-TRIP INVARIANT — per format, (count, Σ n_chars, content
    // checksum) read back from the written files must equal the same
    // three aggregates computed directly from `documents`. DuckDB
    // computes the direct side with the identical 48-bit md5-prefix
    // fold; any format leg that drops/corrupts/retypes a row makes the
    // Spark side diverge and the row hash-mismatches
    "q_format_matrix" ->
      ("WITH r AS (SELECT n_chars, CAST(list_reduce(list_transform(range(1, 13), c -> " +
        "CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || '|' || lang || '|' " +
        "|| CAST(n_chars AS VARCHAR) || '|' || md5(text)), CAST(c AS INT), 1)) - 1 AS BIGINT)), " +
        "(a, b) -> a * 16 + b) AS BIGINT) AS rh FROM documents), " +
        "c AS (SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS sum_chars, " +
        "CAST(sum(rh) AS BIGINT) AS checksum FROM r) " +
        "SELECT f.format AS format, n_rows, sum_chars, checksum " +
        "FROM c CROSS JOIN (VALUES ('csv'), ('json'), ('orc'), ('parquet')) f(format) " +
        "ORDER BY format"),
    "q_parquet_roundtrip" ->
      ("SELECT CAST(count(*) AS BIGINT) AS n, " +
        "min(1697049600000 + i * 1000) AS min_ts, " +
        "max(1697049600000 + i * 1000) AS max_ts, " +
        "CAST(count(DISTINCT extract(hour FROM make_timestamp((1697049600000 + i * 1000) * 1000))) AS BIGINT) AS n_hours " +
        "FROM range(50000) t(i)"),
    "q_ingest_validate" ->
      (s"WITH t(idx, json) AS (VALUES $valuesClause), " +
        "e AS (SELECT idx, json_extract_string(json, '$.file') AS file, " +
        "TRY_CAST(json_extract(json, '$.timeGenerated') AS BIGINT) AS tg, " +
        "json_extract_string(json, '$.id') AS id, " +
        "json_array_length(json, '$.content') AS n_content FROM t) " +
        "SELECT idx, COALESCE(file, '') AS file, " +
        "(CASE WHEN file IS NULL OR file = '' THEN 'file is required' " +
        "WHEN tg IS NULL OR tg = 0 THEN 'timeGenerated is required' " +
        "WHEN id IS NULL OR id = '' THEN 'id is required' " +
        "WHEN n_content IS NULL OR n_content = 0 THEN 'content must be non-empty' END) IS NULL AS valid, " +
        "COALESCE(CASE WHEN file IS NULL OR file = '' THEN 'file is required' " +
        "WHEN tg IS NULL OR tg = 0 THEN 'timeGenerated is required' " +
        "WHEN id IS NULL OR id = '' THEN 'id is required' " +
        "WHEN n_content IS NULL OR n_content = 0 THEN 'content must be non-empty' END, '') AS reason " +
        "FROM e ORDER BY idx"),
    "q_ingest_explode" ->
      (s"WITH t(idx, json) AS (VALUES $valuesClause), " +
        "v AS (SELECT json FROM t WHERE json_extract_string(json, '$.file') IS NOT NULL " +
        "AND json_extract_string(json, '$.file') != '' " +
        "AND COALESCE(TRY_CAST(json_extract(json, '$.timeGenerated') AS BIGINT), 0) != 0 " +
        "AND COALESCE(json_extract_string(json, '$.id'), '') != '' " +
        "AND COALESCE(json_array_length(json, '$.content'), 0) > 0), " +
        "x AS (SELECT json_extract_string(json, '$.id') AS id, " +
        s"unnest(json_transform(json_extract(json, '$$.content'), '$contentStructure')) AS r FROM v) " +
        "SELECT id, COALESCE(r.timestamp, 0) AS timestamp, " +
        "COALESCE(r.timeOffsetHours, 0) AS timeOffsetHours, " +
        "COALESCE(r.pointId, '') AS pointId, COALESCE(r.sequence, 0) AS sequence, " +
        "COALESCE(r.project, '') AS project, COALESCE(r.value, 0.0) AS value, " +
        "COALESCE(r.res, '') AS res, COALESCE(r.quality, 0) AS quality " +
        "FROM x ORDER BY id, timestamp"),
    "q_state_registers" ->
      ("SELECT CAST(max(epoch_us(ts)) AS BIGINT) AS maxTimestamp, " +
        "CAST(arg_max(epoch_us(ts), event_id) AS BIGINT) AS lastTimeGenerated FROM events"),
    "q_state_ttl" ->
      ("SELECT CAST(coalesce(max(epoch_us(ts)), 0) AS BIGINT) AS maxTimestamp, " +
        "CAST(coalesce(arg_max(epoch_us(ts), event_id), 0) AS BIGINT) AS lastTimeGenerated " +
        "FROM events WHERE epoch_us(ts) > (SELECT max(epoch_us(ts)) FROM events) - 604800000000"),
    "q_hour_partition" ->
      ("SELECT CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS m, " +
        "CAST(day(ts) AS INT) AS d, CAST(hour(ts) AS INT) AS h, " +
        "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY y, m, d, h ORDER BY y, m, d, h"),
    // invariant oracle: the compaction fixture is the events table
    // written 3×, so rows and the one-file-per-partition target count
    // are exact DuckDB aggregates (see compact's Scaladoc)
    "q_compact_partitions" ->
      ("SELECT CAST(3 * count(*) AS BIGINT) AS rows_compacted, TRUE AS compacted, " +
        "CAST(count(DISTINCT (year(ts), month(ts), day(ts), hour(ts))) AS BIGINT) AS files_after, " +
        "CAST(3 * count(*) AS BIGINT) AS rows_after FROM events " +
        "WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-03'")
  )
}

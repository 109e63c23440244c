package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's ingest pipeline (SURVEY.md §2 Tier A / §3.1), rebuilt
  * Spark-first: JSON envelope → validate → zero-value coalesce →
  * time-partitioned snappy parquet sink → state registers.
  *
  * Reference semantics reproduced (citations into /root/reference):
  *  - schema & JSON keys: src/main.go:58-75
  *  - validation (file/timeGenerated/id non-empty): src/main.go:256-269;
  *    empty `content` is a rejection here, not a panic (src/main.go:278
  *    panics — SURVEY.md §7.4 decides reject)
  *  - missing JSON fields → Go zero values, not NULL: tests/test.http:76-85
  *  - snappy + 128 MiB row groups: src/main.go:27,33-34
  *  - overwrite-by-path idempotence: README.md:88
  *  - <source>/YYYY/MM/DD/HH layout: README.md:5, tests/main.go:61-64
  */
object Ingest {

  /** One time-series row — wire types per the reference's parquet tags
    * (src/main.go:58-67: int32 fields are INT64 on the wire, so LongType).
    */
  case class TimeSeriesData(
      timestamp: Long, timeOffsetHours: Long, pointId: String,
      sequence: Long, project: String, value: Double, res: String,
      quality: Long)

  val rowSchema: StructType = StructType(Seq(
    StructField("timestamp", LongType),
    StructField("timeOffsetHours", LongType),
    StructField("pointId", StringType),
    StructField("sequence", LongType),
    StructField("project", StringType),
    StructField("value", DoubleType),
    StructField("res", StringType),
    StructField("quality", LongType)))

  /** `input_record` envelope (src/main.go:69-75). `source` is bound but
    * unused in the reference — kept for wire compatibility.
    */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("content", ArrayType(rowSchema)),
    StructField("id", StringType),
    StructField("source", StringType),
    StructField("timeGenerated", LongType),
    StructField("file", StringType)))

  /** Parse a DataFrame with a raw JSON string column `json` into envelope
    * columns + a `_valid` flag + `_reject_reason`. Invalid envelopes are
    * routed to a side output by the caller (`partition` on `_valid`), the
    * reference returns HTTP 400 for them.
    */
  def parseEnvelopes(raw: DataFrame): DataFrame = {
    val keep = raw.columns.filterNot(_ == "json").map(col).toSeq
    raw.withColumn("_e", from_json(col("json"), envelopeSchema))
      .select(keep ++ Seq(col("_e.content"), col("_e.id"), col("_e.source"),
        col("_e.timeGenerated"), col("_e.file")): _*)
      .withColumn("_reject_reason",
        when(col("file").isNull || col("file") === "", "file is required")
          .when(col("timeGenerated").isNull || col("timeGenerated") === 0,
            "timeGenerated is required")
          .when(col("id").isNull || col("id") === "", "id is required")
          .when(col("content").isNull || size(col("content")) === 0,
            "content must be non-empty"))
      .withColumn("_valid", col("_reject_reason").isNull)
  }

  /** Explode valid envelopes into rows with Go-zero-value semantics for
    * missing JSON fields (string→"", number→0; SURVEY.md §1.3).
    */
  def explodeContent(envelopes: DataFrame): DataFrame = {
    def z(c: Column, zero: Column): Column = coalesce(c, zero)
    envelopes
      .filter(col("_valid"))
      .select(col("id"), col("timeGenerated"), col("file"),
        explode(col("content")).as("r"))
      .select(
        col("id"), col("timeGenerated"), col("file"),
        z(col("r.timestamp"), lit(0L)).as("timestamp"),
        z(col("r.timeOffsetHours"), lit(0L)).as("timeOffsetHours"),
        z(col("r.pointId"), lit("")).as("pointId"),
        z(col("r.sequence"), lit(0L)).as("sequence"),
        z(col("r.project"), lit("")).as("project"),
        z(col("r.value"), lit(0.0)).as("value"),
        z(col("r.res"), lit("")).as("res"),
        z(col("r.quality"), lit(0L)).as("quality"))
  }

  /** The ledger's partition layout, outermost first (README.md:5
    * `<source>/YYYY/MM/DD/HH/...`): every writer of the ledger
    * partitions by exactly these columns.
    */
  val partitionColumns: Seq[String] = Seq("source", "year", "month", "day", "hour")

  /** Derive the reference's mandated partition columns from an epoch-ms
    * column (README.md:5 `<source>/YYYY/MM/DD/HH/...`). With
    * `partitionBy(source, year, month, day, hour)` Spark gets partition
    * pruning on time-range scans for free — the 100 TB reason the
    * reference mandates the layout.
    */
  def withPartitionColumns(df: DataFrame, source: Column, epochMs: Column): DataFrame = {
    val t = timestamp_millis(epochMs)
    df.withColumn("source", source)
      .withColumn("year", year(t))
      .withColumn("month", month(t))
      .withColumn("day", dayofmonth(t))
      .withColumn("hour", hour(t))
  }

  /** Reference A4/A5 sink: snappy, 128 MiB row groups, overwrite-by-path
    * idempotence. `dynamic` overwrite replaces only the partitions present
    * in this batch — re-ingesting a batch is idempotent without clobbering
    * sibling partitions (the correct version of the reference's
    * same-blob-path overwrite).
    *
    * Remote FS (reference A17, src/main.go:157-173,301-311 uploads to
    * Azure Blob): `basePath` is any Hadoop-FS URI — `file:///...` locally,
    * `abfss://container@account.dfs.core.windows.net/prefix`,
    * `s3a://bucket/prefix`, etc. — the sink itself is scheme-agnostic.
    * Credentials/tuning belong on the session (or per-write via `options`
    * here), e.g. for ADLS Gen2 with a shared key:
    * {{{
    * spark.conf.set("fs.azure.account.key.<account>.dfs.core.windows.net", key)
    * }}}
    * or `fs.azure.account.auth.type=OAuth` + the client-credential confs
    * for the reference's default-credential-chain equivalent. Unlike the
    * reference, an upload failure fails the Spark JOB (exception), never
    * the process (src/main.go:308-310 log.Fatal kills the service).
    */
  def writeBatch(df: DataFrame, basePath: String,
      options: Map[String, String] = Map.empty,
      mode: String = "overwrite"): Unit =
    df.write
      .mode(mode)
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", "snappy")
      .option("parquet.block.size", (128 * 1024 * 1024).toString)
      .options(options)
      .partitionBy(partitionColumns: _*)
      .parquet(basePath)

  /** Partition compaction for the ingest sink. The reference writes ONE
    * parquet file per HTTP batch (src/main.go:288-311) — at 100 TB that
    * is millions of small files per day, and scan cost becomes file-open
    * bound. Compaction rewrites each hour partition into `filesPerPart`
    * files (dynamic overwrite, so only listed partitions are touched and
    * a re-run is idempotent). Run it on closed (past-hour) partitions —
    * the same path new batches target stays consistent because dynamic
    * overwrite replaces the whole partition atomically at commit.
    *
    * Returns the number of rows compacted.
    */
  def compactPartitions(s: SparkSession, basePath: String,
      partitionPredicate: Column, filesPerPart: Int = 1): Long = {
    // localCheckpoint cuts the file-source lineage: Spark (correctly)
    // refuses to overwrite a path its plan still reads. Production-scale
    // variant: write to a temp prefix and swap — same shuffle shape.
    val df = s.read.parquet(basePath).filter(partitionPredicate)
      .localCheckpoint(true)
    val n = df.count()
    if (n > 0) {
      // hash-cluster by partition columns (+ a row-content salt for
      // >1 file/partition — deterministic, so task retries re-produce the
      // same assignment): every target file's rows land in exactly one
      // task, partitions compact in parallel, each dir gets filesPerPart
      // files
      val salt = pmod(xxhash64(df.columns.map(col): _*), lit(filesPerPart))
      writeBatch(df.repartition((partitionColumns.map(col) :+ salt): _*),
        basePath)
    }
    n
  }

  /** Reference state registers (A7-A9, A13) computed over an ingest
    * ledger (one row per accepted envelope-row, with an `arrivalSeq`):
    * `maxTimestamp` = running max over all rows (deterministic, replaces
    * the reference's racy read-compare-set, SURVEY.md §7.4);
    * `lastTimeGenerated` = last-writer-wins by arrival order.
    * Missing data reads as 0, matching GET / on an empty store.
    */
  def stateRegisters(ledger: DataFrame): DataFrame =
    ledger.agg(
      coalesce(max(col("timestamp")), lit(0L)).as("maxTimestamp"),
      coalesce(max_by(col("timeGenerated"), col("arrivalSeq")), lit(0L))
        .as("lastTimeGenerated"))

  /** A12 TTL-expiry variant (reference src/cache.go:75-92: every cache
    * entry carries a TTL and expired entries read as absent). Ledger
    * analog: registers see only rows whose ingest time (`timeGenerated`)
    * is within `ttlUs` of the NEWEST ingest — "entries written more than
    * TTL before the read have expired". An all-expired (or empty) ledger
    * reads as 0/0, exactly like `GET /` against an empty store. The
    * expiry edge is one broadcast scalar; the filter then runs pre-agg,
    * so at 100 TB expiry is a pushed-down predicate, not a state sweep.
    */
  def stateRegistersWithTtl(ledger: DataFrame, ttlUs: Long): DataFrame = {
    val edge = ledger.agg(max(col("timeGenerated")).as("_edge"))
    stateRegisters(
      ledger.crossJoin(broadcast(edge))
        .filter(col("timeGenerated") > col("_edge") - ttlUs)
        .drop("_edge"))
  }

  /** Deterministic synthetic batch generator (mirrors the reference load
    * generator tests/main.go:66-92, but seeded). Distributed: rows are
    * generated on executors from a range, not collected on the driver.
    */
  def syntheticBatch(s: SparkSession, rows: Int, seed: Long = 42L): DataFrame = {
    import s.implicits._
    s.range(rows).select(
      (lit(1697049600000L) + col("id") * 1000L).as("timestamp"),
      pmod(col("id"), lit(24L)).as("timeOffsetHours"),
      md5(concat(lit("point"), col("id"), lit(seed))).as("pointId"),
      pmod(col("id"), lit(100L)).as("sequence"),
      md5(concat(lit("project"), col("id") % 10, lit(seed))).as("project"),
      (pmod(xxhash64(col("id"), lit(seed)), lit(4300L)).cast("double") / 100.0).as("value"),
      md5(concat(lit("res"), col("id") % 7, lit(seed))).as("res"),
      pmod(col("id"), lit(100L)).cast("long").as("quality"))
  }
}

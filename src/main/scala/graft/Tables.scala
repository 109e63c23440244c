package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver test tables (`/root/testdata/sf*`, schemas in
  * FIXTURES.md §2). One parquet file per table; at 100 TB each would be a
  * partitioned directory — the loaders take a directory and a name so the
  * layout can change without touching operators.
  */
object Tables {
  private def p(dir: String, name: String) = s"$dir/$name.parquet"

  def region(s: SparkSession, dir: String): DataFrame   = s.read.parquet(p(dir, "region"))
  def nation(s: SparkSession, dir: String): DataFrame   = s.read.parquet(p(dir, "nation"))
  def customer(s: SparkSession, dir: String): DataFrame = s.read.parquet(p(dir, "customer"))
  def supplier(s: SparkSession, dir: String): DataFrame = s.read.parquet(p(dir, "supplier"))
  def part(s: SparkSession, dir: String): DataFrame     = s.read.parquet(p(dir, "part"))
  def orders(s: SparkSession, dir: String): DataFrame   = s.read.parquet(p(dir, "orders"))
  def lineitem(s: SparkSession, dir: String): DataFrame = s.read.parquet(p(dir, "lineitem"))
  def documents(s: SparkSession, dir: String): DataFrame = s.read.parquet(p(dir, "documents"))
  def embeddings(s: SparkSession, dir: String): DataFrame = s.read.parquet(p(dir, "embeddings"))

  /** Driver fixtures have shipped `events.ts` under two physical types:
    * parquet TIMESTAMP(NANOS) — which Spark 4.x reads as LongType epoch-ns
    * only under `spark.sql.legacy.parquet.nanosAsLong`, set once at
    * session build (GraftSession / SparkSpec; SURVEY.md §1.3) — and
    * parquet TIMESTAMP(MICROS) without UTC adjustment, which Spark reads
    * as TimestampNTZ.
    *
    * Deriving the canonical epoch-ns `ts` as an expression per query
    * defeats parquet predicate pushdown and row-group min/max pruning on
    * the fact table's time column — at 100 TB a selective time-range
    * query would read every row group. So the fixture is normalized ONCE
    * per (fixture file) into a canonical table whose columns are all
    * physical: `ts` epoch-ns long (exact integer arithmetic; session
    * timezone pinned UTC so the NTZ cast is lossless), `ts_us` epoch-µs
    * (what DuckDB's µs-precision oracle sees), `ts_ts` TimestampType for
    * window()/session_window(). This is the normalize-at-ingest shape a
    * production pipeline runs: pay one linear pass, then every
    * downstream query scans a long column with full stats. Queries on
    * any of the three views push filters into the scan (PlanSpec pins
    * this). The normalized copy is a [[Publish.derived]] layout: keyed by
    * the fixture file's identity, so a regenerated fixture gets a fresh
    * one, and rooted at `spark.graft.events.normRoot`, which on a
    * cluster must be shared storage every executor reads.
    */
  def events(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(Publish.derived(s, dir, "events.parquet", "events_norm") { out =>
      val raw = s.read.parquet(p(dir, "events"))
      val ns = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => raw // TIMESTAMP(NANOS) fixture
        case _ => // TIMESTAMP(MICROS) fixture: NTZ/LTZ → epoch-µs → epoch-ns
          raw.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * lit(1000L))
      }
      // integer division — double `/` loses ulps at epoch-ns magnitude
      ns.withColumn("ts_us", expr("ts div 1000"))
        .withColumn("ts_ts", timestamp_micros(expr("ts div 1000")))
        .write.option("compression", "snappy").parquet(out)
    })
}

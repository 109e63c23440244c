package graft

import org.apache.spark.sql.SparkSession

/** Single session factory for every driver-facing main (Bench, Verify,
  * Smoke, tools.Explain, tools.Diag, all through `tools.Runs.session`),
  * and for the perfbench harness: extensions + the configs the
  * engine contract requires, in ONE place so a config change (e.g. the
  * nanos-as-long flag events.parquet needs) cannot silently diverge
  * between the tools.
  */
object GraftSession {
  def local(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS) — Spark 4 reads it as
      // LongType epoch-ns only with this flag (SURVEY.md §1.3)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

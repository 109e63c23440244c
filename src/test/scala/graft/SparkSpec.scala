package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for all specs: one local session per suite,
  * sf0.001 data, UTC, nanos-as-long for events.parquet.
  */
trait SparkSpec extends AnyFunSuite {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def q(name: String) = SparkEntry.queries(name)(spark, sfDir)

  /** Runs `call` and asserts that every RDD it pinned (`localCheckpoint`
    * or persist) and did not release is still read by one of the frames
    * `returned` picks from its result: a round state an iterative loop
    * forgot to release fails here. Returns the result.
    */
  def assertNoLeakedPins[T](call: => T)(returned: T => Seq[DataFrame]): T = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = call
    val read = returned(out).flatMap(_.queryExecution.analyzed.collect {
      case lr: LogicalRDD => lr.rdd.id
    }).toSet
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before -- read
    assert(leaked.isEmpty, s"pinned RDDs no returned frame reads: $leaked")
    out
  }

  /** Runs `body` with the given session confs set, then restores them. */
  def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val prior = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, x) => spark.conf.set(k, x) }
    try body
    finally prior.foreach {
      case (k, Some(x)) => spark.conf.set(k, x)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

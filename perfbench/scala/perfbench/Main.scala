package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}
import graft.ingest.{Gateway, GatewaySocket, Kql}

/** The benchmark's JVM side. It hosts the program and nothing else: the
  * load, the timing of requests and every output check live in
  * `perfbench/run.py`, which drives this process over HTTP and stdin.
  *
  *   serve <cores> <warehouse> <trace 0|1> <outDir>
  *       binds the program's `GatewaySocket` over a `Gateway` (a
  *       [[TracingGateway]] when traced) and answers stdin commands:
  *       `view`, `mark <label>`, `kql <csl>`, `stop`.
  *   operators <cores> <dataDir> <seconds> <trace 0|1> <outDir> <query>...
  *       runs the named `SparkEntry.queries`: one untimed pass that writes
  *       each result for the oracle check (and warms the JVM), then
  *       timed passes materialized in full with the `noop` sink, as many
  *       whole passes as fit in `seconds`.
  *
  * The session runs on `local[<cores>]`.
  *
  * Protocol lines go to stdout prefixed with `PB `; the record log is
  * written to `<outDir>/records.jsonl` when the process ends.
  */
object Main {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val rec = new Records
    val jvm = new JvmProbe(rec)
    args(0) match {
      case "serve" => serve(args(1), args(2), args(3) == "1", args(4), rec, jvm)
      case "operators" =>
        operators(args(1), args(2), args(3).toDouble, args(4) == "1", args(5), args.drop(6).toSeq,
          rec, jvm)
      case other => sys.error(s"unknown mode $other")
    }
  }

  private def reply(s: String): Unit = { println(s"PB $s"); System.out.flush() }

  private def session(cores: String, outDir: String, trace: Boolean,
      rec: Records): SparkSession = {
    val spark = GraftSession.local(cores)
    spark.conf.set("spark.graft.events.normRoot", s"$outDir/tmp")
    if (trace) {
      val hooks = new SparkHooks(rec)
      spark.sparkContext.addSparkListener(hooks)
      spark.listenerManager.register(hooks)
    }
    spark
  }

  /** Ends the timed window: the counters as the window closes, then the
    * heap in use after a full collection, taken again once the context
    * cleaner has had a moment to drop blocks of unreachable RDDs, so it is
    * what the workload keeps live. */
  private def markEnd(rec: Records, jvm: JvmProbe): Unit = {
    val counters = jvm.counters()
    System.gc()
    Thread.sleep(500)
    System.gc()
    rec.add("mark", Seq("label" -> "end", "heap_used" -> jvm.heapUsed) ++ counters: _*)
  }

  private def finish(spark: SparkSession, outDir: String, rec: Records): Unit = {
    org.apache.spark.sql.PerfbenchBridge.drain(spark.sparkContext)
    rec.writeTo(s"$outDir/records.jsonl")
    spark.stop()
  }

  private def serve(cores: String, warehouse: String, trace: Boolean, outDir: String,
      rec: Records, jvm: JvmProbe): Unit = {
    val spark = session(cores, outDir, trace, rec)
    val gw = if (trace) new TracingGateway(spark, warehouse, rec) else new Gateway(spark, warehouse)
    val sock = GatewaySocket.start(gw, port = 0, threads = 4)
    reply(s"ready ${sock.port}")
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in, "UTF-8"))
    var line = in.readLine()
    while (line != null && line != "stop") {
      val (cmd, arg) = line.span(_ != ' ')
      cmd match {
        case "view" =>
          spark.sql("CREATE OR REPLACE TEMP VIEW OmyaData AS SELECT * FROM parquet.`" +
            warehouse + "`")
          reply("ok")
        case "mark" =>
          if (arg.trim == "end") markEnd(rec, jvm)
          else rec.add("mark", ("label" -> arg.trim) +: jvm.counters().toSeq: _*)
          reply("ok")
        case "kql" =>
          val t0 = System.nanoTime()
          Kql.translate(spark, arg.trim)
          reply(s"ok ${(System.nanoTime() - t0) / 1e6}")
        case _ => reply(s"error unknown command $cmd")
      }
      line = in.readLine()
    }
    sock.stop()
    finish(spark, outDir, rec)
    reply("stopped")
  }

  private def operators(cores: String, dataDir: String, seconds: Double, trace: Boolean,
      outDir: String, names: Seq[String], rec: Records, jvm: JvmProbe): Unit = {
    val spark = session(cores, outDir, trace, rec)
    reply("ready")
    val oracle = SparkEntry.oracleSql
    names.foreach { n =>
      SparkEntry.queries(n)(spark, dataDir).write.mode("overwrite").parquet(s"$outDir/results/$n")
    }
    Files.writeString(Paths.get(s"$outDir/results/oracle_sql.json"),
      Json.value(names.filter(oracle.contains).map(n => n -> oracle(n)).toMap))
    rec.add("mark", ("label" -> "start") +: jvm.counters().toSeq: _*)
    reply("timed")
    // whole passes only: another pass starts while the last one would
    // still fit in `seconds`; there is always at least one
    val t0 = System.nanoTime()
    var pass = 0
    var last = 0L
    while (pass == 0 || System.nanoTime() - t0 + last <= seconds * 1e9) {
      val p0 = System.nanoTime()
      names.foreach { n =>
        val start = rec.nowUs
        SparkEntry.queries(n)(spark, dataDir).write.format("noop").mode("overwrite").save()
        rec.add("query", "name" -> n, "pass" -> pass, "start" -> start, "end" -> rec.nowUs)
      }
      last = System.nanoTime() - p0
      pass += 1
    }
    reply("passes done")
    markEnd(rec, jvm)
    finish(spark, outDir, rec)
    reply("stopped")
  }
}

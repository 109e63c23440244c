package graft.tools


/** Plan-inspection tool: dumps the formatted physical plan of every
  * SparkEntry query to a file for scale review (pushdown, broadcast
  * choice, shuffle count, codegen spans).
  *
  * Run: `sbt "runMain graft.tools.Explain [sfDir] [outFile] [query ...]"` —
  * optional trailing query names restrict the dump (plan-diff iteration).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("/tmp/graft_plans.txt")
    val names = Runs.select(args.drop(2).toSeq).distinct.sorted
    val spark = Runs.session("4")
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    names.foreach { name =>
      sb.append(s"\n=============== $name ===============\n")
      // collect(), not count(): count() spawns its own QueryExecution and
      // would leave THIS plan un-finalized (isFinalPlan=false)
      Runs.rep(spark, name, sfDir, df => {
        df.collect()
        sb.append(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        // FormattedMode renders the pre-adaptive tree; the executed plan
        // carries the final AQE shape and *(n) whole-stage-codegen spans
        sb.append("\n---------- executed (final adaptive) plan ----------\n")
        sb.append(df.queryExecution.executedPlan.toString)
      }).error.foreach(e => sb.append(s"ERROR: ${e.getMessage}\n"))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"plans written to $out")
    spark.stop()
  }
}

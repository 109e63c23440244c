package graft
import java.nio.file.{Files, Paths}
import graft.tools.Runs
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names (local iteration only;
    // the driver always calls with two args = full dump)
    val names = Runs.select(args.drop(2).headOption.toSeq.flatMap(_.split(",")))
    val spark = Runs.session("4")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      Runs.rep(spark, name, sfDir,
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
        .error.foreach(e => System.err.println(s"[verify] $name failed: ${e.getMessage}"))
    }
    // every string escaped, control chars included: a tab or CR in an
    // oracle's SQL would otherwise make the JSON reader of the DuckDB
    // compare reject the whole file
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Runs.str(k)}: ${Runs.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

package graft.tools

/** Per-query diagnostic and warm repeated-measurement profiler: where
  * does the wall time go, and what does a query cost once warm? After a
  * q_agg_group warm-up, each named query (the whole registry when none
  * is named) runs once cold and `reps` times warm. Every run prints a
  * `DIAG` line: build and execute wall time, the Spark jobs, stages,
  * tasks and stage time it caused, the executed plan's shape (exchanges,
  * parquet scans, sorts, codegen spans), and the RDDs still pinned in
  * the session (persisted or `localCheckpoint`ed) with their storage
  * bytes, so an iterative operator that leaks its round state shows as a
  * count that grows from cold to warm. The last warm run's slowest
  * stages follow as `SLOW` lines, then a `PROF` line with the min and
  * median of the warm runs: the bench machine shows ±45% single-run
  * noise, so tune against the minimum of repeated warm runs, never one
  * cold reading.
  *
  * Run: `sbt "runMain graft.tools.Diag [reps] [query ...]"` — both
  * optional (reps defaults to 3); a non-numeric first arg is a query name.
  *
  * When `SPARK_GRAFT_PROFILE_OUT` is set, also writes the warm table as
  * one JSON file (per-query warm min + median, total of mins, host-load
  * averages before and after the run): the complete bench artifact each
  * round's BASELINE.md comparison cites. A run over named queries merges
  * into an existing file ([[Runs.writeProfile]]).
  */
object Diag {
  def main(args: Array[String]): Unit = {
    // the f-interpolator formats through the JVM default locale; under a
    // comma-decimal locale (de_DE, fr_FR) the emitted artifact would not
    // be valid JSON — pin ROOT before any formatting happens
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val (reps, nameArgs) = args.headOption.flatMap(_.toIntOption) match {
      case Some(r) => (math.max(1, r), args.drop(1).toSeq)
      case None => (3, args.toSeq)
    }
    val names = Runs.select(nameArgs)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Runs.session("32")
    spark.sparkContext.setLogLevel("ERROR")
    val loadBefore = Runs.loadAvg
    // warm shared paths once
    Runs.rep(spark, "q_agg_group", sfDir)
    val results = names.flatMap { n =>
      spark.sparkContext.setJobDescription(s"diag: $n")
      // a run's secs and slow list; its frame is dropped at once, so
      // the pins it reads can be cleaned before the next run
      def one(tag: String): Option[(Double, Seq[String])] = {
        val r = Runs.rep(spark, n, sfDir)
        r.error.foreach(e => println(s"DIAG $n FAILED: ${e.getMessage}"))
        r.frame.map { df =>
          val ep = df.queryExecution.executedPlan.toString
          def c(p: String) = p.r.findAllIn(ep).length
          val stored = spark.sparkContext.getRDDStorageInfo
          println(f"DIAG $n%-24s $tag build=${r.buildNs / 1e9}%.2fs " +
            f"exec=${r.execNs / 1e9}%.2fs total=${r.totalNs / 1e9}%.2fs " +
            s"| jobs=${r.jobs} stages=${r.stages} tasks=${r.tasks} " +
            s"stageMs=${r.stageMs} " +
            s"| exch=${c("Exchange")} scans=${c("Scan parquet")} " +
            s"sorts=${c("\\bSort\\b")} wsc=${c("WholeStageCodegen")} " +
            s"| pinned=${spark.sparkContext.getPersistentRDDs.size} " +
            s"pinnedBytes=${stored.map(i => i.memSize + i.diskSize).sum}")
          (r.secs, r.slow)
        }
      }
      // warm runs only after a good cold run, and only up to a failure
      val warm = one("cold").fold(Seq.empty[(Double, Seq[String])])(_ =>
        Iterator.fill(reps)(one("warm")).takeWhile(_.isDefined).flatten.toSeq)
      warm.lastOption.foreach(_._2.foreach(l => println(s"  SLOW $l")))
      Option.when(warm.size == reps) {
        val times = warm.map(_._1).sorted
        // even rep count: average the two central readings
        val median = (times((reps - 1) / 2) + times(reps / 2)) / 2
        println(f"PROF $n%-24s min=${times.head}%.2fs median=$median%.2fs reps=$reps")
        n -> (times.head, median)
      }
    }
    sys.env.get("SPARK_GRAFT_PROFILE_OUT").foreach { out =>
      val (n, total) = Runs.writeProfile(out, sfDir, reps, nameArgs.nonEmpty, loadBefore, results)
      println(s"PROF wrote $out ($n queries, total ${f"$total%.1f"}s)")
    }
    spark.stop()
  }
}

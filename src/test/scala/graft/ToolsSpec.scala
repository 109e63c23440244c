package graft

import graft.tools.Runs

/** The measuring core the registry tools share: one timed run with its
  * Spark work counts, failures recorded rather than thrown, one query
  * selection, and the warm-table artifact's subset merge. The mains
  * stop their session, so the spec drives `Runs` directly.
  */
class ToolsSpec extends SparkSpec {

  test("a rep times the build and the action and counts the Spark work they caused") {
    val r = Runs.rep(spark, "q_agg_group", sfDir)
    assert(r.ok && r.frame.isDefined, r.error)
    assert(r.jobs >= 1)
    assert(r.stages >= 1 && r.tasks >= r.stages)
    assert(r.buildNs > 0 && r.execNs > 0)
    assert(r.buildNs + r.execNs === r.totalNs)
    assert(r.secs === r.totalNs / 1e9)
    // the counters restart with every run: a run with no action counts nothing
    val idle = Runs.run(spark, _ => ())(spark.range(1).toDF())
    assert(idle.ok && idle.jobs === 0 && idle.stages === 0 && idle.tasks === 0)
    assert(idle.stageMs === 0 && idle.slow.isEmpty)
  }

  test("a query that throws comes back as a failed rep, never as a fast one") {
    val r = Runs.run(spark, _.count())(throw new IllegalStateException("boom"))
    assert(!r.ok && r.frame.isEmpty)
    assert(r.error.map(_.getMessage) === Some("boom"))
    assert(r.secs === -1.0)
    val failedAction = Runs.run(spark, _ => sys.error("late"))(spark.range(3).toDF())
    assert(failedAction.error.map(_.getMessage) === Some("late"))
    assert(failedAction.frame.isEmpty && failedAction.secs === -1.0)
  }

  test("a stage AQE submits from its pool is named by its operators in the slow list") {
    val r = Runs.rep(spark, "q_agg_group", sfDir)
    assert(r.ok && r.slow.nonEmpty, r.error)
    assert(!r.slow.exists(_.contains("withThreadLocalCaptured")), r.slow)
  }

  test("select refuses unknown names in one message and keeps the order given") {
    val e = intercept[IllegalArgumentException](
      Runs.select(Seq("q_agg_group", "q_nope", "q_nope2")))
    assert(e.getMessage.contains("q_nope, q_nope2"))
    assert(Runs.select(Seq("q_tpch_q18", "q_agg_group")) === Seq("q_tpch_q18", "q_agg_group"))
    assert(Runs.select(Nil) === SparkEntry.queries.keys.toSeq.sorted)
  }

  test("a subset profile write keeps the entries it did not re-measure") {
    val f = java.nio.file.Files.createTempFile("graft_profile", ".json")
    try {
      val out = f.toString
      Runs.writeProfile(out, sfDir, 3, subset = false, 0.5,
        Seq("q_a" -> (1.0, 2.0), "q_b" -> (3.0, 4.0)))
      val (n, total) = Runs.writeProfile(out, sfDir, 3, subset = true, 0.5,
        Seq("q_b" -> (5.0, 6.0), "q_c" -> (0.25, 0.5)))
      assert(n === 3 && total === 6.25)
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readAllBytes(f))
      val qs = root.get("queries")
      assert(qs.get("q_a").get("min").asDouble() === 1.0)
      assert(qs.get("q_b").get("median").asDouble() === 6.0)
      assert(qs.get("q_c").get("min").asDouble() === 0.25)
      assert(root.get("n_queries").asInt() === 3)
      assert(root.get("total_min_sec").asDouble() === 6.25)
      assert(root.get("sf_dir").asText() === sfDir)
      // a full run replaces the table
      Runs.writeProfile(out, sfDir, 3, subset = false, 0.5, Seq("q_d" -> (1.0, 1.0)))
      assert(new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readAllBytes(f)).get("n_queries").asInt() === 1)
    } finally java.nio.file.Files.deleteIfExists(f)
  }

  test("the JSON escaper round-trips quotes, backslashes and control characters") {
    val s = "a\"b\\c\nd\re\tf\u0001g"
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Runs.str(s))
    assert(node.asText() === s)
    assert(Runs.jsonEscape("\n\u0001") === "\\n\\u0001")
  }
}

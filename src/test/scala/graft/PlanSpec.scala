package graft

import org.apache.spark.sql.functions.col

/** Physical-plan regression guards: the plans that make these operators
  * scale must not silently degrade (lost pushdown, lost broadcast, a
  * shuffle sneaking under a bucketed join).
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df = q(name)
    df.collect() // materialize so AQE finalizes the adaptive plan
    df.queryExecution.executedPlan.toString
  }

  /** Final adaptive plan only — the toString of an executed
    * AdaptiveSparkPlan appends an "== Initial Plan ==" section, and a
    * feature present only there (lost during runtime re-planning) must
    * NOT satisfy a plan-shape guard.
    */
  private def finalPlan(name: String): String = {
    val full = plan(name)
    val initIdx = full.indexOf("== Initial Plan ==")
    if (initIdx >= 0) full.substring(0, initIdx) else full
  }

  test("filters push into the parquet scan") {
    val p = q("q_filter_pred").queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters"), p.take(400))
    assert(p.contains("GreaterThan(l_discount,0.05)"), p.take(800))
  }

  test("events time predicates push into the canonical parquet scan") {
    import org.apache.spark.sql.functions._
    // regression guard for the fixture-normalization layer: if ts / ts_us /
    // ts_ts ever become derived expressions again (round-6 regression),
    // these literals stop reaching PushedFilters and row-group min/max
    // pruning on the fact table's time column is silently lost
    val ev = Tables.events(spark, sfDir)
    val pNs = ev.filter(col("ts") >= 1600000000000000000L).select("event_id", "ts")
      .queryExecution.executedPlan.toString
    assert(pNs.contains("PushedFilters"), pNs.take(600))
    assert(pNs.contains("GreaterThanOrEqual(ts,1600000000000000000)"), pNs.take(900))
    val pUs = ev.filter(col("ts_us") >= 1600000000000000L).select("event_id")
      .queryExecution.executedPlan.toString
    assert(pUs.contains("GreaterThanOrEqual(ts_us,1600000000000000)"), pUs.take(900))
    // column pruning must hold through the normalization layer too
    assert(pNs.contains("ReadSchema: struct<event_id:bigint,ts:bigint>"), pNs.take(900))
  }

  test("events normalization root is configurable to shared storage") {
    import org.apache.spark.sql.functions._
    // on a cluster the normalized table must land somewhere every
    // executor reads (spark.graft.events.normRoot), not the driver's
    // tmpdir; point a fresh fixture copy at a custom root and check the
    // published table lands under it
    val root = java.nio.file.Files.createTempDirectory("graft_norm_root")
    val fixture = java.nio.file.Files.createTempDirectory("graft_norm_fix")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      fixture.resolve("events.parquet"))
    spark.conf.set("spark.graft.events.normRoot", root.toString)
    try {
      val df = Tables.events(spark, fixture.toString)
      assert(df.filter(col("ts_us") > 0).count() > 0)
      val published = root.toFile.listFiles()
      assert(published != null &&
        published.exists(_.getName.startsWith("graft_events_norm_")),
        s"normalized table not under the configured root: " +
          published.map(_.getName).mkString(","))
      // every derived layout follows the same root, the dpp layout too
      assert(SparkEntry.queries("q_join_dpp")(spark, fixture.toString).count() > 0)
      val derived = root.toFile.listFiles().map(_.getName)
      assert(derived.exists(_.startsWith("graft_join_dpp_")),
        s"dpp layout not under the configured root: ${derived.mkString(",")}")
    } finally spark.conf.unset("spark.graft.events.normRoot")
  }

  test("documents scan: predicate pushdown and column pruning") {
    import org.apache.spark.sql.functions._
    val p = Tables.documents(spark, sfDir)
      .filter(col("lang") === "en").select("doc_id", "lang")
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters"), p.take(600))
    assert(p.contains("EqualTo(lang,en)"), p.take(900))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string>"), p.take(900))
  }

  test("column pruning reaches the scan") {
    val p = q("q_scan_project").queryExecution.executedPlan.toString
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"))
  }

  test("dimension join broadcasts") {
    assert(plan("q_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("TPC-H pipelines: Q3 heaps its top-10, Q5 broadcasts every dim") {
    val p3 = finalPlan("q_tpch_q3")
    assert(p3.contains("TakeOrderedAndProject"), p3.take(600))
    assert(p3.contains("PushedFilters"), p3.take(600))
    val p5 = finalPlan("q_tpch_q5")
    // supplier and the region-filtered nation list ride broadcasts —
    // the fact legs never shuffle for a dimension
    assert(p5.contains("BroadcastHashJoin"), p5.take(800))
    assert(!p5.contains("CartesianProduct"))
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    assert(q("q_topk").queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"))
  }

  test("TPC-H Q17/Q21: decorrelated plans — no cartesian, broadcast + semi/anti joins") {
    // Q17: the correlated scalar subquery decorrelates to a broadcast
    // of the (candidate-part, threshold) table onto the fact scan
    val p17 = finalPlan("q_tpch_q17")
    assert(!p17.contains("CartesianProduct"), p17.take(800))
    assert(p17.contains("BroadcastHashJoin"), p17.take(800))
    // Q21: EXISTS → hash semi-join, NOT EXISTS → hash anti-join, both
    // keyed on the order key (the ≠-supplier correlation rides as the
    // join residual, never a nested-loop)
    val p21 = finalPlan("q_tpch_q21")
    assert(!p21.contains("CartesianProduct"), p21.take(800))
    assert(p21.contains("LeftSemi"), p21.take(1200))
    assert(p21.contains("LeftAnti"), p21.take(1200))
    assert(p21.contains("TakeOrderedAndProject"), p21.take(800))
    // Q2: the correlated-min class — per-part min broadcast back, dims
    // broadcast, the top-100 a heap, never a cartesian
    val p2 = finalPlan("q_tpch_q2")
    assert(!p2.contains("CartesianProduct"), p2.take(800))
    assert(p2.contains("BroadcastHashJoin"), p2.take(800))
    assert(p2.contains("TakeOrderedAndProject"), p2.take(800))
    // r14 advisory: the partsupp stand-in aggregate must be
    // semi-restricted to the broadcast candidate keys BEFORE the
    // (part, supp) groupBy — the restriction rides as broadcast
    // LeftSemi joins under the pair aggregate, so the query's dominant
    // shuffle carries candidate pairs only
    assert(p2.contains("LeftSemi"), p2.take(1600))
    // Q7: both nation-keyed dims ride broadcasts; the only fact⋈fact
    // shuffle is lineitem ⋈ orders
    val p7 = finalPlan("q_tpch_q7")
    assert(!p7.contains("CartesianProduct"), p7.take(800))
    assert(p7.contains("BroadcastHashJoin"), p7.take(800))
    // Q8/Q9: every dimension broadcast, no cartesian
    for (name <- Seq("q_tpch_q8", "q_tpch_q9")) {
      val p = finalPlan(name)
      assert(!p.contains("CartesianProduct"), s"$name: ${p.take(800)}")
      assert(p.contains("BroadcastHashJoin"), s"$name: ${p.take(800)}")
    }
    // Q6: the pure scan-side aggregate — filters reach the parquet scan
    val p6 = finalPlan("q_tpch_q6")
    assert(p6.contains("PushedFilters"), p6.take(800))
    // Q15/Q19/Q22: broadcast thresholds/dims, anti-join for Q22's
    // no-recent-orders test, never a cartesian fact product
    for (name <- Seq("q_tpch_q15", "q_tpch_q19")) {
      val p = finalPlan(name)
      assert(!p.contains("CartesianProduct"), s"$name: ${p.take(800)}")
      assert(p.contains("BroadcastHashJoin"), s"$name: ${p.take(800)}")
    }
    val p22 = finalPlan("q_tpch_q22")
    assert(p22.contains("LeftAnti"), p22.take(1200))
  }

  test("bucketed join runs without a shuffle on either input") {
    val p = finalPlan("q_bucketed_join")
    // SortMergeJoin over bucketed scans: exchanges may exist ABOVE the
    // join (final agg/sort) but none may feed the join inputs
    val joinIdx = p.indexOf("SortMergeJoin")
    assert(joinIdx >= 0, p.take(600))
    val below = p.substring(joinIdx)
    assert(!below.contains("Exchange hashpartitioning"),
      s"bucketed join inputs were shuffled:\n${below.take(800)}")
    // physical result matches the shuffled twin
    val a = q("q_bucketed_join").collect().map(_.toString).toSeq
    val b = q("q_join_smj").collect().map(_.toString).toSeq
    assert(a === b)
  }

  test("fuzzy dedup pair verify parallelizes on the band shuffle, not file splits") {
    // regression: the CPU-bound Levenshtein stage must sit on the explicit
    // numbered repartition (immune to AQE size coalescing), never directly
    // on the (single) parquet split
    val p = finalPlan("q_fuzzy_dedup")
    assert(p.contains("REPARTITION_BY_NUM"),
      s"explicit numbered repartition missing from the plan:\n${p.take(1000)}")
  }

  test("bloom join injects a runtime filter on the fact side") {
    val p = finalPlan("q_join_bloom")
    // creation side aggregates a bloom filter; application side probes it
    // before the fact shuffle
    assert(p.contains("might_contain"),
      s"no runtime bloom filter in the fact scan path:\n${p.take(1200)}")
    assert(p.contains("bloom_filter_agg") || p.contains("BloomFilter"),
      p.take(1200))
    // the merge hint must hold through AQE re-planning: a runtime
    // broadcast conversion would remove the fact-side shuffle the bloom
    // filter exists to prune
    assert(p.contains("SortMergeJoin"), p.take(1200))
  }

  test("dpp join prunes fact partitions at runtime") {
    val p = finalPlan("q_join_dpp")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning on the day-partitioned scan:\n${p.take(1200)}")
  }

  test("q_join_bloom leaves broadcast and bloom confs untouched") {
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val priors = keys.map(k => spark.conf.getOption(k))
    q("q_join_bloom").collect()
    assert(keys.map(k => spark.conf.getOption(k)) === priors)
  }

  test("q_bucketed_join leaves the session's autoBucketedScan conf untouched") {
    // regression: the conf was set false and never restored, silently
    // de-optimizing every query planned later in the shared session
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prior = spark.conf.get(key)
    q("q_bucketed_join").collect()
    assert(spark.conf.get(key) === prior,
      s"$key leaked from bucketedJoin (was $prior)")
  }

  test("zscore outlier screen broadcasts the stats side — fact never shuffles for the join") {
    val p = finalPlan("q_zscore_outliers")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("pack_sequences windows per bucket plus one 32-row offset window — offsets broadcast back") {
    val p = finalPlan("q_pack_sequences")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    // the corpus-wide window must be partitioned (by pid); the only
    // unpartitioned window runs over the per-bucket offset table
    val winSpecs = "Window \\[".r.findAllIn(p).size
    assert(winSpecs >= 2, s"expected both prefix-sum windows:\n${p.take(800)}")
  }

  test("passage dedup shuffles once on the passage hash — window and agg share it") {
    val p = finalPlan("q_passage_dedup")
    val n = "Exchange hashpartitioning\\(ph".r.findAllIn(p).size
    assert(n === 1, s"expected exactly one ph exchange, got $n:\n${p.take(1200)}")
  }

  test("AQE splits the skewed partition in the automatic skew join") {
    q("q_skew_aqe").collect()
    val p = graft.ops.Physical.lastSkewAqePlan
    assert(p.contains("skew=true"),
      s"AQE did not mark the hot partition as skewed:\n${p.take(1200)}")
    // confs were pinned only for the materialization window
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") !== "-1")
  }

  test("repetition signals are a pure projection — no exchange above the scan") {
    val p = finalPlan("q_repetition")
    // the only exchange allowed is the final presentation sort's range
    // partitioning; no hash shuffle (no explode/groupBy) feeds the signals
    assert(!p.contains("Exchange hashpartitioning"),
      s"repetition must not shuffle:\n${p.take(1200)}")
  }

  test("k-means reassignment aggregates the eagerly-checkpointed assignment") {
    // r15 shape: kmeansFit checkpoints the assignment (the reassignment's
    // centroid broadcast happens INSIDE the checkpoint job), so the final
    // plan must be an aggregate over the checkpoint — re-deriving the
    // corpus here (a parquet scan creeping back in) means the fit-boundary
    // checkpoint was lost and every consumer re-runs the Lloyd unroll
    val p = finalPlan("q_embed_kmeans")
    assert(p.contains("Scan ExistingRDD"),
      s"final plan must read the checkpointed assignment:\n${p.take(1200)}")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans === 0,
      s"corpus must not be rescanned past the checkpoint, got $scans:\n${p.take(1200)}")
  }

  test("group sample broadcasts the group-count table") {
    assert(finalPlan("q_group_sample").contains("BroadcastHashJoin"))
  }

  test("epoch order windows per bucket with the offset table broadcast back") {
    val p = finalPlan("q_epoch_order")
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    // within-bucket rank partitions by (epoch, bkt) — never epoch alone
    assert(p.contains("row_number"), p.take(1200))
  }

  test("tfidf's df branch reuses the tf exchange instead of re-exploding") {
    val p = finalPlan("q_tfidf")
    assert(p.contains("ReusedExchange"),
      s"df must reuse tf's (doc_id, word) exchange:\n${p.take(1200)}")
    val gens = "Generate explode".r.findAllIn(p).size
    assert(gens === 1, s"corpus must explode once, got $gens")
  }

  test("bm25's df branch reuses the postings exchange; the corpus explodes once") {
    val p = finalPlan("q_bm25")
    assert(p.contains("ReusedExchange"),
      s"df must reuse the (doc, dl, word) postings exchange:\n${p.take(1500)}")
    val gens = "Generate explode".r.findAllIn(p).size
    assert(gens === 1, s"corpus must explode once, got $gens:\n${p.take(1500)}")
  }

  test("kql scan: one hash exchange on the partition key feeds every step window") {
    val p = finalPlan("q_kql_scan")
    val hashEx = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(hashEx === 1,
      s"per-entity scan must shuffle on user_id exactly once, got $hashEx:\n${p.take(1500)}")
    assert(p.contains("row_number()"), p.take(1500))
    // three first-match steps = three conditional-min windows
    val mins = "min\\(_w".r.findAllIn(p).size
    assert(mins >= 3, s"expected the per-step conditional minima, got $mins")
  }

  test("collocations explode the corpus once — all counts branch off the pair exchange") {
    val p = finalPlan("q_collocations")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans === 1, s"expected one corpus scan, got $scans:\n${p.take(1500)}")
    assert(p.contains("ReusedExchange"),
      s"unigram/total branches must reuse the (a, b) pair exchange:\n${p.take(1500)}")
    val gens = "Generate explode".r.findAllIn(p).size
    assert(gens === 1, s"corpus must explode once, got $gens")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-30 cut must be a per-partition heap, not a global sort:\n${p.take(1500)}")
  }

  test("span dedup explodes the corpus once — both stats branches share the hash exchange") {
    val p = finalPlan("q_span_dedup")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans === 1, s"expected one corpus scan, got $scans:\n${p.take(1500)}")
    assert(p.contains("ReusedExchange"),
      s"per-doc and span branches must share the window-hash exchange:\n${p.take(1500)}")
  }

  test("embed pca: moments are checkpointed once — one full corpus pass remains") {
    // r15 shape: covMatRows computes the moment matrix in ONE typed
    // aggregate and checkpoints it (plus the derived direction), so the
    // final plan holds exactly 1 parquet scan (the full-corpus projection)
    // and reads the checkpointed artifacts as ExistingRDD — the pre-r15
    // shape re-read the sample 3x per unrolled power iteration (4+ scans)
    val p = finalPlan("q_embed_pca")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans === 1, s"expected exactly the corpus projection pass, got $scans:\n${p.take(1500)}")
    assert(p.contains("Scan ExistingRDD"),
      s"moment/direction artifacts must come from the checkpoint:\n${p.take(1500)}")
  }

  test("hard negatives: kmeans artifacts are checkpointed, probe joins broadcast") {
    // r15 shape: kmeansFit checkpoints its outputs, so the final plan
    // reads the trained quantizer as ExistingRDD instead of re-deriving
    // it per consumer (the pre-r15 guard asserted ReusedExchange; the
    // checkpoint removes the reuse edge along with the recomputation)
    val p = finalPlan("q_hard_negatives")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 2, s"scan count regressed past the pinned shape, got $scans:\n${p.take(1500)}")
    assert(p.contains("Scan ExistingRDD"),
      s"the trained-quantizer derivation must come from the checkpoint:\n${p.take(1500)}")
    assert(p.contains("BroadcastHashJoin"), "probe joins must broadcast at gate SFs")
  }

  test("bigram lm: one model-side scan (pair exchange shared) + one scoring scan") {
    val p = finalPlan("q_bigram_lm")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans === 2, s"expected model + scoring scans only, got $scans:\n${p.take(1500)}")
    assert("ReusedExchange".r.findAllIn(p).size >= 2,
      s"uc/nu/ll must all derive from ONE pair exchange:\n${p.take(1500)}")
  }

  test("bpe training: rounds run on checkpointed vocab state; argmax is a top-k, never a global sort") {
    // the final q_bpe_train plan unions the per-round materialized
    // candidate tables — NO corpus scan survives into it (the corpus
    // was read exactly once, in round 1's vocabulary build; every later
    // round ran on the vocabulary-bounded checkpoint)
    val p = finalPlan("q_bpe_train")
    assert(!p.contains("Scan parquet"),
      s"a corpus scan leaked into the round-union plan:\n${p.take(1500)}")
    // one round's plan shape: pair count + top-5 over the checkpointed
    // vocab is a per-partition heap (TakeOrderedAndProject), never a
    // global sort of the vocab²-sized pair table
    val vocab = graft.ops.Text.bpeInitVocab(spark, sfDir).localCheckpoint(true)
    val round = graft.ops.Text.bpePairCounts(vocab)
      .orderBy(col("c").desc, col("a"), col("b")).limit(5)
    val rp = round.queryExecution.executedPlan.toString
    assert(rp.contains("TakeOrderedAndProject"),
      s"pair argmax/top-5 must be per-partition heaps:\n${rp.take(1500)}")
  }

  test("phrase rewrite: mining side collapses to one scan; apply side is shuffle-free") {
    val p = finalPlan("q_phrase_rewrite")
    val scans = "Scan parquet".r.findAllIn(p).size
    // 1 mining scan (collocations, internally exchange-reused) + 1 apply scan
    assert(scans === 2, s"expected mining + apply scans only, got $scans:\n${p.take(1500)}")
    assert(p.contains("ReusedExchange"),
      s"mining side must keep its internal exchange reuse:\n${p.take(1500)}")
  }

  test("curation pipeline scans the corpus once, stats branch reuses the exchange") {
    val p = finalPlan("q_curation_pipeline")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans === 1, s"expected one corpus scan, got $scans:\n${p.take(1200)}")
    assert(p.contains("ReusedExchange"),
      "the stats pass must share the apply pass's hash-window exchange")
  }

  test("register pipeline computes every register off one scan and one hash exchange") {
    val p = finalPlan("q_register_pipeline")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans === 1, s"expected one events scan, got $scans:\n${p.take(1200)}")
    // count/max/min frames and the row_number ordering must share the
    // single (user_id, event_type) exchange; only the final orderBy may
    // add a range exchange on 600 rows
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx === 1,
      s"all registers must ride ONE hash exchange, got $hashEx:\n${p.take(1500)}")
    assert("Window".r.findAllIn(p).size >= 2, "both window operators must survive")
  }

  test("dedup→pack pipeline: one corpus text scan; offsets branch reuses the dedup chain") {
    val p = finalPlan("q_dedup_pack_pipeline")
    val scans = "Scan parquet".r.findAllIn(p).size
    // corpus text scan + the 1-row doc_id-pruned max_id frame — a naive
    // composition would re-scan the corpus once per stage
    assert(scans === 2, s"expected text scan + max_id scan, got $scans:\n${p.take(1500)}")
    assert(p.contains("ReusedExchange"),
      s"the shard-offset branch must reuse the survivor exchange:\n${p.take(1500)}")
  }

  test("passage rewrite's keep-first collapses map-side — no ranked window on the hash") {
    val p = finalPlan("q_passage_rewrite")
    // a viral passage must partial-aggregate per input partition; a
    // Window over the passage hash would sort every copy in one task
    assert(!p.contains("Window"),
      s"keep-first must be min_by, not a ranked window:\n${p.take(1200)}")
    assert(p.contains("partial_min_by") || p.contains("partial min_by") ||
      "HashAggregate".r.findAllIn(p).size >= 2,
      s"expected a partial+final aggregate pair:\n${p.take(1200)}")
  }

  test("embed pipeline joins the MSE back on vec_id without a cartesian") {
    val p = finalPlan("q_embed_pipeline")
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"),
      s"the vec_id err join must be an equi-join:\n${p.take(1200)}")
  }

  test("no registered query ever plans a CartesianProduct") {
    // registry-wide guard: every intended all-pairs pattern in this
    // codebase is a broadcast of a tiny side (BroadcastNestedLoopJoin
    // over centroids / 1-row aggregates), which Catalyst plans
    // distinctly from an unbounded CartesianProduct. Only queries whose
    // BUILDER performs the write are excluded (q_state_registers is a
    // pure aggregate and stays guarded).
    val sideEffect = Set("q_shard_write", "q_parquet_roundtrip",
      "q_compact_partitions", "q_format_matrix")
    SparkEntry.queries.keys.toSeq.sorted.filterNot(sideEffect).foreach { name =>
      val p = q(name).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"),
        s"$name plans a CartesianProduct:\n${p.take(800)}")
    }
  }

  test("z-order buckets bound both dimensions at once") {
    // fixing the top 5 morton bits pins u-bits 7..5 and v-bits 7..6:
    // every 2048-key bucket's bounding box fits in 32 × 64 — the
    // two-dimensional locality a single-column sort cannot give
    val rows = q("q_zorder").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (minU, maxU) = (r.getLong(2), r.getLong(3))
      val (minV, maxV) = (r.getLong(4), r.getLong(5))
      assert(maxU - minU < 32, s"bucket ${r.getLong(0)}: u-range ${maxU - minU}")
      assert(maxV - minV < 64, s"bucket ${r.getLong(0)}: v-range ${maxV - minV}")
    }
  }

  test("grouped top-k aggregates partially on the map side — no group co-location") {
    val p = finalPlan("q_grouped_topk")
    assert(p.contains("partial_topkaggregator"),
      s"TopKAggregator must run in partial mode before the shuffle:\n${p.take(1200)}")
    assert(!p.contains("row_number"), "must not fall back to a rank window")
  }

  test("chunking is a pure narrow pipeline — no exchange at all") {
    val p = finalPlan("q_chunk_docs")
    // the only allowed exchange is the final presentation sort's range
    // partitioning; the tokenize→generate→project body must stay narrow
    val body = p.substring(p.indexOf("Generate") max 0)
    assert(!body.contains("Exchange hashpartitioning"),
      s"chunking must not shuffle:\n${p.take(1200)}")
    assert(p.contains("Generate posexplode"), p.take(800))
  }

  test("vocab coverage: one combinable shuffle, then a top-k heap — never a full-vocab sort") {
    val p = finalPlan("q_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-100 cut must be a per-partition heap, not a global sort:\n${p.take(1200)}")
    assert(p.contains("partial_count"),
      s"word count must combine map-side:\n${p.take(1200)}")
    val firstHash = p.indexOf("Exchange hashpartitioning")
    assert(firstHash >= 0 && p.indexOf("Exchange hashpartitioning", firstHash + 1) < 0,
      s"exactly one hash shuffle (the word count) expected:\n${p.take(1500)}")
  }

  test("ngram novelty explodes the corpus once — the firsts side is a ReusedExchange") {
    val p = finalPlan("q_ngram_novelty")
    assert(p.contains("ReusedExchange"),
      s"min-doc aggregate must reuse the gram exchange:\n${p.take(1500)}")
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected a single corpus scan, got $scans:\n${p.take(1500)}")
  }

  test("make-series pushes its datetime range into the events scan") {
    val p = plan("q_kql_makeseries")
    // the range filter must be attribute-vs-timestamp-literal, never
    // unix_micros(col) >= c — the expression form silently loses
    // row-group pruning on the fact table's time column
    assert(p.contains("PushedFilters: [IsNotNull(ts_ts), GreaterThanOrEqual(ts_ts,"), p.take(1200))
    assert(p.contains("LessThan(ts_ts,"), p.take(1200))
  }

  test("top-nested: one corpus aggregate, level-1 cut is a top-k heap") {
    val p = finalPlan("q_kql_topnested")
    // the grouping-sets rollup is computed ONCE (eager checkpoint) and
    // every level cuts the materialized bounded table — the final plan
    // must not touch the corpus at all (without the checkpoint each
    // level's differently-pruned consumer re-scans parquet)
    assert(p.split("Scan parquet").length - 1 === 0, p.take(1200))
    assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"), p.take(1200))
    assert(p.contains("TakeOrderedAndProject"), p.take(1200))
  }

  test("lookup pins a broadcast on the dimension side") {
    val p = finalPlan("q_kql_lookup")
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
  }

  test("salted aggregation equals plain aggregation semantics") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val plain = q("q_skew_salted").as[(Long, Double, Long)].collect()
    assert(plain.nonEmpty)
    // hot key absorbed the synthetic 100k rows
    val n0 = q("q_skew_salted").filter(col("user_id") === 0)
      .select("n").as[Long].collect().head
    assert(n0 >= 100000L)
  }

  test("aggregate pushdown answers from parquet footer statistics") {
    // withConfs forced + cached the physical plan under the pushdown
    // confs, so the v2 scan node must advertise the whole aggregate
    val df = q("q_agg_pushdown")
    val p = df.queryExecution.executedPlan.toString
    // the scan's toString truncates the list, so pin the head of it and
    // the stats-typed output schema rather than the full function list
    assert(p.contains("PushedAggregation: [COUNT(l_orderkey), MIN(l_orderkey)"),
      p.take(1400))
    assert(p.contains("count(l_orderkey):bigint"), p.take(1400))
    // footer honesty: the stats-served row must equal the decoded-page path
    import org.apache.spark.sql.functions._
    val want = spark.read.parquet(s"$sfDir/lineitem.parquet").agg(
      count(col("l_orderkey")), min(col("l_orderkey")), max(col("l_orderkey")),
      min(col("l_linenumber")), max(col("l_linenumber")),
      min(col("l_quantity")), max(col("l_quantity"))).collect()(0)
    assert(df.collect()(0).toSeq === want.toSeq)
  }

  test("fork branches read the materialized input, never the upstream lineage") {
    // N differently-pruned branches over one input would re-derive the
    // whole upstream per branch (the recall-harness 311-scan lesson);
    // applyFork localCheckpoints before the fan-out, so the executed
    // plan reads the checkpointed RDD and contains NO parquet scans
    val p = finalPlan("q_kql_fork")
    assert(!p.contains("Scan parquet"),
      s"fork branches must read the checkpointed input:\n${p.take(800)}")
    assert(p.contains("ExistingRDD") || p.contains("LogicalRDD") ||
      p.contains("Scan ExistingRDD"), p.take(800))
  }

  test("media phash candidates come from the band equi-join, never a cartesian") {
    val p = finalPlan("q_media_phash")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"phash must band-join, not cross-join:\n${p.take(800)}")
    // the self-join keys on (band, v) — a hash-partitioned equi-join
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("kql sample compiles to TakeOrderedAndProject, not a global sort") {
    val p = finalPlan("q_kql_sample")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("classifier scoring reuses the fit's features and broadcasts weights") {
    val p = finalPlan("q_quality_classifier")
    // weights arrive broadcast (65 rows), never shuffled onto features
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    // the corpus is featurized ONCE (the checkpointed table feeds both
    // training and scoring): the final plan scans documents parquet only
    // for the lang/source report join, not a second featurize pass
    val docScans = "Scan parquet".r.findAllIn(p).length
    assert(docScans <= 1, s"expected <=1 parquet scan, got $docScans:\n${p.take(1200)}")
    assert(p.contains("Scan ExistingRDD") || p.contains("LogicalRDD") ||
      p.contains("ExistingRDD"), "scoring must read the checkpointed features")
  }
}

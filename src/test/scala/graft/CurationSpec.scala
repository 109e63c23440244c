package graft

import org.apache.spark.sql.functions._

/** Training-set assembly tier (ops/Curation.scala): packing invariants,
  * deterministic mixture sampling, PII scrubbing on planted strings,
  * passage dedup on a planted boilerplate passage, outlier screening on
  * a planted spike, changelog compaction semantics.
  */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("pack_sequences conserves tokens and cuts contiguous doc ranges") {
    val shards = q("q_pack_sequences").cache()
    val totalTok = shards.agg(sum("n_tokens")).collect()(0).getLong(0)
    val directTok = Tables.documents(spark, sfDir)
      .select(size(split($"text", " ")).cast("long").as("n"))
      .agg(sum("n")).collect()(0).getLong(0)
    assert(totalTok === directTok, "packing must conserve the corpus token count")

    // shards are contiguous, non-overlapping doc_id ranges in shard order
    val rows = shards.orderBy("shard_id")
      .select("shard_id", "first_doc", "last_doc", "n_tokens")
      .collect()
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getLong(1) <= a.getLong(2))
        assert(a.getLong(2) < b.getLong(1),
          s"shards ${a.getLong(0)} and ${b.getLong(0)} overlap")
      case _ =>
    }
    // every shard starts at a 2048-aligned global offset, so each
    // non-final shard holds ≥ 2048 tokens minus its first doc's overhang;
    // the weaker invariant that is exactly true: the running total up to
    // and including shard k is ≥ 2048 * k (shard k starts at offset
    // ≥ 2048k by construction).
    rows.zipWithIndex.foldLeft(0L) { case (acc, (r, i)) =>
      val cum = acc + r.getLong(3)
      assert(cum > 2048L * r.getLong(0),
        s"shard ${r.getLong(0)} ends before its own start offset")
      cum
    }
  }

  test("pack_sequences matches a single-window local computation") {
    val local = Tables.documents(spark, sfDir)
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n_tok"))
      .orderBy("doc_id").collect()
      .foldLeft((0L, Map.empty[Long, Long])) { case ((cum, m), r) =>
        val shard = cum / 2048
        (cum + r.getLong(1), m + (shard -> (m.getOrElse(shard, 0L) + r.getLong(1))))
      }._2
    val dist = q("q_pack_sequences").select("shard_id", "n_tokens")
      .as[(Long, Long)].collect().toMap
    assert(dist === local, "two-level prefix sum must equal the serial fold")
  }

  test("shard export roundtrips losslessly with one directory per packed shard") {
    val r = q("q_shard_write").collect()(0)
    assert(r.getLong(0) === r.getLong(3), "doc count must survive the roundtrip")
    assert(r.getLong(2) === r.getLong(4), "text bytes must survive the roundtrip")
    assert(r.getLong(1) === q("q_pack_sequences").count(),
      "one shard directory per q_pack_sequences shard")
  }

  test("file manifest: one file per shard, disjoint ordered key ranges, lossless") {
    val m = q("q_file_manifest").collect()
    assert(m.nonEmpty)
    // the write-layout contract: repartition(shard_id) co-locates each
    // shard into exactly one task, hence one data file
    m.foreach(r => assert(r.getLong(1) === 1L,
      s"shard ${r.getLong(0)} split across ${r.getLong(1)} files"))
    // the packer assigns docs in doc_id order, so manifest key ranges
    // must tile the id space disjointly in shard order — the property
    // that makes range pruning on the manifest sound
    val ranges = m.map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSeq
    ranges.foreach { case (_, lo, hi) => assert(lo <= hi) }
    ranges.sliding(2).foreach {
      case Seq((_, _, hi), (_, lo, _)) =>
        assert(hi < lo, "manifest key ranges must be disjoint and ordered")
      case _ => ()
    }
    assert(m.map(_.getLong(2)).sum === Tables.documents(spark, sfDir).count(),
      "manifest row counts must cover the corpus exactly")
  }

  test("mixture sampling is deterministic and tracks its weights") {
    val a = q("q_mixture_sample").collect()
    val b = q("q_mixture_sample").collect()
    assert(a.sameElements(b), "hash-threshold sampling must be run-deterministic")
    // src0-2 keep everything (w=1.0)
    a.filter(r => Set("src0", "src1", "src2")(r.getString(0))).foreach { r =>
      assert(r.getLong(1) === r.getLong(2), s"w=1.0 source ${r.getString(0)} must keep all docs")
    }
  }

  test("pii redaction scrubs planted emails and ids") {
    val df = Seq(
      (1L, "contact me at alice@example.com or 12345678901 today"),
      (2L, "no pii here at all"),
      (3L, "two mails a@b.io c@d.org and digits 99999999")
    ).toDF("doc_id", "text")
    df.createOrReplaceTempView("pii_docs")
    val out = spark.sql(
      """SELECT doc_id,
        |  regexp_count(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}') AS n_emails,
        |  regexp_count(text, '[0-9]{7,}') AS n_ids,
        |  regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>'),
        |    '[0-9]{7,}', '<ID>') AS red
        |FROM pii_docs ORDER BY doc_id""".stripMargin).collect()
    assert(out(0).getInt(1) === 1 && out(0).getInt(2) === 1)
    assert(out(0).getString(3) === "contact me at <EMAIL> or <ID> today")
    assert(out(1).getInt(1) === 0 && out(1).getInt(2) === 0)
    assert(out(2).getInt(1) === 2 && out(2).getInt(2) === 1)
    // the registered query runs clean over the corpus
    assert(q("q_pii_redact").count() === Tables.documents(spark, sfDir).count())
  }

  test("passage dedup flags a planted shared passage") {
    val passage = (1 to 20).map(i => s"tok$i").mkString(" ")
    val df = Seq(
      (1L, passage + " " + (1 to 20).map(i => s"aa$i").mkString(" ")),
      (2L, passage + " " + (1 to 20).map(i => s"bb$i").mkString(" ")),
      (3L, (1 to 40).map(i => s"cc$i").mkString(" "))
    ).toDF("doc_id", "text")
    val toks = split($"text", " ")
    val pass = df.select($"doc_id", toks.as("toks"))
      .select($"doc_id", explode(transform(
        sequence(lit(0), expr("size(toks) div 20") - 1),
        j => md5(concat_ws(" ", slice($"toks", j * 20 + 1, lit(20)))))).as("ph"))
    val occ = pass.groupBy("ph").agg(count(lit(1)).as("n"))
    val dups = occ.filter($"n" > 1).count()
    assert(dups === 1, "exactly the planted passage is shared")
    // registered query: per-doc passage counts cover all long-enough docs
    val out = q("q_passage_dedup")
    val eligible = Tables.documents(spark, sfDir)
      .filter(size(split($"text", " ")) >= 20).count()
    assert(out.count() === eligible)
  }

  test("zscore outlier screen flags a planted spike and nothing in-band") {
    val base = (1 to 200).map(i => ("a", 10.0 + (i % 7))) :+ (("a", 10000.0))
    val df = base.toDF("event_type", "value")
    val stats = df.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum($"value".cast("decimal(30,4)")).cast("double").as("sx"),
      sum(($"value" * $"value").cast("decimal(30,4)")).cast("double").as("sxx"))
      .select($"event_type", ($"sx" / $"n").as("mean"),
        sqrt(($"sxx" - $"sx" * $"sx" / $"n") / ($"n" - 1)).as("std"))
    val flagged = df.join(broadcast(stats), "event_type")
      .filter(abs($"value" - $"mean") > $"std" * 3)
      .select("value").as[Double].collect()
    assert(flagged.toSeq === Seq(10000.0), "only the planted spike is an outlier")
    // registered query shape: one row per event_type, outliers ≤ n
    val out = q("q_zscore_outliers").collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
  }

  test("value histogram buckets partition the events exactly once") {
    val h = q("q_value_histogram")
    val total = h.agg(sum("n")).collect()(0).getLong(0)
    assert(total === Tables.events(spark, sfDir).count())
    val bad = h.filter($"bucket" < 0 || $"bucket" > 19).count()
    assert(bad === 0)
  }

  test("changelog compaction keeps exactly the latest row per key") {
    val out = q("q_changelog_compact").cache()
    val keys = Tables.events(spark, sfDir)
      .select("user_id", "event_type").distinct().count()
    assert(out.count() === keys, "one surviving row per (user, type)")
    // the kept ts is the max ts for its key
    val maxTs = Tables.events(spark, sfDir)
      .groupBy("user_id", "event_type").agg(max("ts_us").as("m"))
    val mismatched = out.join(maxTs, Seq("user_id", "event_type"))
      .filter($"last_ts" =!= $"m").count()
    assert(mismatched === 0)
  }

  test("incremental state merge equals the direct aggregate over the full log") {
    val merged = q("q_incremental_agg")
      .as[(String, Long, Double, Long)].collect().map { case (t, n, s, m) => t -> ((n, s, m)) }.toMap
    val direct = Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,4)")).cast("double").as("s"),
        max($"ts_us").as("m"))
      .as[(String, Long, Double, Long)].collect().map { case (t, n, s, m) => t -> ((n, s, m)) }.toMap
    assert(merged === direct, "base ⊎ delta must reconstruct the full view exactly")
  }

  test("HLL sketch union is exactly the one-pass sketch, and near the truth") {
    val r = ops.Curation.sketchMergeRaw(spark, sfDir)
      .as[(String, Long, Double, Double)].collect()
    assert(r.nonEmpty)
    r.foreach { case (t, exact, direct, merged) =>
      // union-of-halves == one-pass EXACTLY only in the coupon
      // (list/set) region; in HLL-register mode the union gadget and
      // the direct build round differently (seen at ~sf1) — there the
      // bounded form below is the contract
      if (exact < 300)
        assert(merged === direct, s"$t: coupon-region merge must be exact")
      assert(math.abs(merged - direct) <= exact * 0.05 + 2.0,
        s"$t: merged $merged too far from direct $direct")
      assert(math.abs(direct - exact) <= math.max(2.0, exact * 0.05),
        s"$t: estimate $direct too far from exact $exact")
    }
    // and the graded invariant projection holds everywhere
    val g = q("q_sketch_merge").as[(String, Long, Boolean, Boolean)].collect()
    assert(g.forall(x => x._3 && x._4))
  }

  test("funnel gates are monotonically non-increasing") {
    val r = q("q_curation_funnel")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(r.nonEmpty)
    r.foreach { case (src, n, g1, g2, g3) =>
      assert(n >= g1 && g1 >= g2 && g2 >= g3, s"funnel order violated for $src")
    }
  }

  test("composed pipeline output respects its own gates") {
    val r = q("q_curation_pipeline").cache()
    val langs = r.select("lang").distinct().as[String].collect().toSet
    assert(langs.subsetOf(Set("en", "de", "fr")), "language gate must hold")
    val kept = r.agg(sum("n_docs")).collect()(0).getLong(0)
    assert(kept > 0 && kept <= Tables.documents(spark, sfDir).count())
    // deterministic end to end
    val again = q("q_curation_pipeline").collect().toSeq
    assert(r.collect().toSeq === again)
  }

  test("bounded-buffer top-k equals the rank window it replaces") {
    import org.apache.spark.sql.expressions.Window
    val got = q("q_grouped_topk")
      .select("event_type", "rank", "event_id").as[(String, Int, Long)].collect().toSet
    val w = Window.partitionBy("event_type").orderBy($"value".desc, $"event_id")
    val want = Tables.events(spark, sfDir)
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter($"rank" <= 3)
      .select("event_type", "rank", "event_id").as[(String, Int, Long)].collect().toSet
    assert(got === want)
  }

  test("temperature resampling keeps every doc of the rarest source") {
    val r = q("q_temperature_sample")
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(r.nonEmpty)
    val rarest = r.minBy(_._2)
    assert(rarest._4 === 1.0, "the rarest source normalizes to keep-prob 1")
    assert(rarest._3 === rarest._2, "keep-prob 1 must keep every doc")
    // keep fractions track keep probabilities loosely (hash uniformity)
    r.foreach { case (src, n, kept, w) =>
      assert(kept <= n)
      assert(w > 0 && w <= 1.0, s"$src weight out of range")
    }
    // bigger sources get smaller keep probabilities (monotone in n_s)
    val byN = r.sortBy(_._2).map(_._4)
    assert(byN === byN.sorted.reverse, "keep-prob must fall as source size grows")
  }

  test("scd2 intervals tile each key's history with one current row") {
    val r = q("q_scd2").cache()
    val ev = Tables.events(spark, sfDir)
    assert(r.count() === ev.count(), "every change event becomes a version row")
    // exactly one open (current) version per natural key
    val keys = ev.select("user_id", "event_type").distinct().count()
    assert(r.filter($"is_current").count() === keys)
    assert(r.filter($"is_current" && $"valid_to" =!= Long.MaxValue).count() === 0)
    // intervals chain: each row's valid_to equals the next row's valid_from
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id", "event_type").orderBy("valid_from", "event_id")
    val broken = r.withColumn("nxt", lead($"valid_from", 1).over(w))
      .filter($"nxt".isNotNull && $"valid_to" =!= $"nxt").count()
    assert(broken === 0, "validity intervals must tile without gaps or overlaps")
  }

  test("group sample's hash pre-filter loses nothing vs the direct window") {
    import org.apache.spark.sql.expressions.Window
    val got = q("q_group_sample")
      .select("lang", "rank", "doc_id").as[(String, Int, Long)].collect().toSet
    // unfiltered reference: rank EVERY doc per lang, keep top-3
    val u = conv(substring(md5(concat(lit("grp:"), $"doc_id".cast("string"))), 1, 6), 16, 10)
      .cast("long")
    val w = Window.partitionBy("lang").orderBy("u", "doc_id")
    val want = Tables.documents(spark, sfDir)
      .select($"lang", $"doc_id").withColumn("u", u)
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter($"rank" <= 3)
      .select("lang", "rank", "doc_id").as[(String, Int, Long)].collect().toSet
    assert(got === want, "threshold pre-filter must not drop a true top-3 doc")
    got.groupBy(_._1).foreach { case (lang, rows) =>
      assert(rows.map(_._2).toSeq.sorted === Seq(1, 2, 3), s"lang $lang")
    }
  }

  test("epoch order is a per-epoch permutation matching the direct window") {
    import org.apache.spark.sql.expressions.Window
    val n = Tables.documents(spark, sfDir).count()
    val got = q("q_epoch_order")
      .select("epoch", "rank", "doc_id").as[(Int, Long, Long)].collect().toSeq
    assert(got.length === 2 * n)
    // two-level prefix-sum rank ≡ the single global window it replaces
    val u = conv(substring(md5(concat(lit("ep"), $"epoch".cast("string"),
      lit(":"), $"doc_id".cast("string"))), 1, 6), 16, 10).cast("long")
    val want = Tables.documents(spark, sfDir)
      .select($"doc_id").withColumn("epoch", explode(array(lit(0), lit(1))))
      .withColumn("u", u)
      .withColumn("rank", row_number().over(
        Window.partitionBy("epoch").orderBy("u", "doc_id")).cast("long"))
      .select("epoch", "rank", "doc_id").as[(Int, Long, Long)].collect().toSeq
    assert(got.toSet === want.toSet)
    // each epoch ranks 1..n, and the two epochs order docs differently
    (0 to 1).foreach { e =>
      assert(got.filter(_._1 == e).map(_._2).sorted === (1L to n).toSeq)
    }
    val ord0 = got.filter(_._1 == 0).sortBy(_._2).map(_._3)
    val ord1 = got.filter(_._1 == 1).sortBy(_._2).map(_._3)
    assert(ord0 !== ord1, "epochs must reshuffle the order")
  }

  test("bootstrap: 32 replicas, Poisson(1) mass near n, means bracket the true mean") {
    val rows = q("q_bootstrap").collect()
    assert(rows.length == 32)
    val n = Tables.events(spark, sfDir).count()
    rows.foreach { r =>
      val nEff = r.getAs[Long]("n_eff")
      // Poisson(1) multiplicities sum to ~n (SD ≈ √n); 10% is ~30 SDs
      assert(math.abs(nEff - n) < n / 10, s"replica ${r.getAs[Long]("b")}: n_eff $nEff vs n $n")
    }
    val trueMean = Tables.events(spark, sfDir)
      .agg((ops.Ox.dsum(col("value")) / count(lit(1))).as("m")).head.getDouble(0)
    val bMeans = rows.map(r => r.getAs[Double]("bsum") / r.getAs[Long]("n_eff"))
    assert(math.abs(bMeans.sum / 32 - trueMean) < trueMean * 0.05,
      s"bootstrap grand mean ${bMeans.sum / 32} far from $trueMean")
    // the replica spread is the sampling noise the op exists to measure —
    // it must be nonzero (resamples differ) yet small relative to the mean
    assert(bMeans.distinct.length > 1)
  }

  test("winsorize clips at the rank thresholds: bounded clip counts, sum within band") {
    val rows = q("q_winsorize").collect()
    assert(rows.length == 5, "one row per event type")
    rows.foreach { r =>
      val n = r.getAs[Long]("n")
      val (lo, hi) = (r.getAs[Long]("n_clip_lo"), r.getAs[Long]("n_clip_hi"))
      // strictly-below-p05 rows are at most rank(p05)-1; strictly-above-p95
      // rows at most n - rank(p95)
      assert(lo <= math.ceil(n * 0.05).toLong - 1, s"${r.getString(0)}: lo=$lo of n=$n")
      assert(hi <= n - math.ceil(n * 0.95).toLong, s"${r.getString(0)}: hi=$hi of n=$n")
      assert(lo + hi > 0, "the band must actually clip something on this data")
    }
    // clipped sum is bounded by the unclipped extremes: wsum <= raw sum
    // only holds when clipping trims the high tail more than it raises
    // the low tail, so assert the band instead via the raw per-type stats
    val raw = Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(min("value").as("mn"), max("value").as("mx"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3))).toMap
    rows.foreach { r =>
      val (mn, mx, n) = raw(r.getString(0))
      val w = r.getAs[Double]("wsum")
      assert(w >= mn * n && w <= mx * n, s"${r.getString(0)}: wsum $w outside [$mn,$mx]*$n")
    }
  }

  test("token budget keeps the longest docs and lands within one doc of the budget") {
    val out = q("q_token_budget").cache()
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"n_chars",
        size(split($"text", " ")).cast("long").as("n_tok")).cache()
    val total = docs.agg(sum("n_tok")).collect()(0).getLong(0)
    val budget = total / 2
    val kept = out.agg(sum("tok_kept")).collect()(0).getLong(0)
    val maxDoc = docs.agg(max("n_tok")).collect()(0).getLong(0)
    // the doc straddling the budget is kept, so the total closes the
    // budget but overshoots by less than one document
    assert(kept >= budget && kept < budget + maxDoc,
      s"kept $kept outside [$budget, $budget+$maxDoc)")
    // exact driver-side replay of the selection rule: walk the corpus in
    // (n_chars desc, doc_id) order keeping docs whose start offset is
    // inside the budget, and require the SAME kept count and token total
    val ordered = docs.select($"doc_id", $"n_chars", $"n_tok").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy { case (id, ch, _) => (-ch, id) }
    var cum = 0L
    val expect = ordered.filter { case (_, _, t) =>
      val start = cum; cum += t; start < budget
    }
    val nKept = out.agg(sum("n_kept")).collect()(0).getLong(0)
    assert(nKept === expect.length.toLong,
      "kept-doc count must match the sequential quality-ordered replay")
    assert(kept === expect.map(_._3).sum,
      "kept-token total must match the sequential quality-ordered replay")
    docs.unpersist(); out.unpersist()
  }

  test("passage rewrite keeps exactly one copy of every distinct passage and is lossless on clean docs") {
    val out = q("q_passage_rewrite").cache()
    // corpus-wide: kept passages == distinct passage hashes
    val distinctPassages = Tables.documents(spark, sfDir)
      .select($"doc_id", split($"text", " ").as("toks"))
      .select(explode(expr(
        "transform(sequence(0, (size(toks) + 19) div 20 - 1), " +
          "j -> concat_ws(' ', slice(toks, j * 20 + 1, 20)))")).as("chunk"))
      .select(md5($"chunk")).distinct().count()
    assert(out.agg(sum("n_kept")).collect()(0).getLong(0) === distinctPassages,
      "every distinct passage survives exactly once corpus-wide")
    // reassembly is lossless where nothing was dropped
    val clean = out.filter($"n_kept" === $"n_chunks")
      .join(Tables.documents(spark, sfDir), "doc_id")
    assert(clean.count() > 0, "some docs must survive intact")
    assert(clean.filter($"text_re" =!= $"text").count() === 0L,
      "chunk-join reassembly must reproduce the original text exactly")
    out.unpersist()
  }

  test("corpus report metrics cross-check against the component operators") {
    val m = q("q_corpus_report").as[(String, Double)].collect().toMap
    assert(m.keySet.size === 8)
    val d = Tables.documents(spark, sfDir)
    assert(m("doc_count") === d.count().toDouble)
    // dup_rate from the exact-dedup operator's keep-one-per-hash table
    val uniq = q("q_dedup_exact").count().toDouble
    assert(math.abs(m("dup_rate") - (1.0 - uniq / d.count())) < 1e-4)
    // token_count from the token-count operator's whitespace column
    val toks = q("q_token_count").agg(sum($"ws_tokens")).as[Long].head()
    assert(m("token_count") === toks.toDouble)
    assert(m("short_rate") >= 0 && m("short_rate") <= 1)
    assert(m("p50_chars") > 0 && m("mean_chars") > 0)
  }

  test("weighted sample equals the local A-ES top-k") {
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect()
    def key(id: Long, w: Long): Double = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ws:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val u = (java.lang.Long.parseLong(h.take(6), 16).toDouble + 1.0) / 16777216.0
      math.log(u) / w
    }
    val expect = docs.filter(_._2 > 0)
      .map { case (id, w) => (id, w, key(id, w)) }
      .sortBy { case (id, _, k) => (-k, id) }.take(20)
    val got = q("q_weighted_sample").as[(Int, Long, Long, Double)].collect()
    assert(got.length === 20)
    got.zip(expect).foreach { case ((rnk, id, w, k), (eid, ew, ek)) =>
      assert(id === eid && w === ew, s"rank $rnk diverged from local A-ES")
      assert(math.abs(k - ek) < 1e-7)
    }
    // ranks follow descending keys (a wrong weight exponent or sign flip
    // would scramble this against the exact-match check above); output
    // keys are 8-dp-rounded while the rank used unrounded keys, so equal
    // rounded keys carry no id-order guarantee
    got.sliding(2).foreach {
      case Array((_, _, _, k1), (_, _, _, k2)) => assert(k1 >= k2)
      case _ =>
    }
  }

  test("span dedup matches a brute-force sliding-window recomputation") {
    val k = 16
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    // independent local reimplementation: window -> set of docs
    val owners = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[Long]]
    val wins = docs.map { case (id, text) =>
      val w = text.split(" ", -1)
      val hs = if (w.length >= k) (0 to w.length - k).map(i => w.slice(i, i + k).mkString(" "))
               else IndexedSeq.empty
      hs.foreach(h => owners.getOrElseUpdate(h, scala.collection.mutable.Set.empty) += id)
      id -> hs
    }.toMap
    val expected = wins.collect { case (id, hs) if hs.nonEmpty =>
      val dup = hs.map(h => owners(h).size > 1)
      var best = 0; var run = 0
      dup.foreach { d => if (d) { run += 1; best = math.max(best, run) } else run = 0 }
      id -> ((hs.size.toLong, dup.count(identity).toLong,
        if (best > 0) (best + k - 1).toLong else 0L))
    }
    val got = q("q_span_dedup")
      .as[(Long, Long, Long, Long)].collect()
      .map { case (id, nw, nd, ms) => id -> ((nw, nd, ms)) }.toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (id, e) =>
      assert(got(id) === e, s"doc $id: got ${got(id)}, brute-force $e")
    }
    assert(got.values.exists(_._2 > 0), "corpus should contain duplicated spans")
  }

  test("register pipeline aggregates exactly the validated events") {
    val out = q("q_register_pipeline").cache()
    val validated = Tables.events(spark, sfDir)
      .filter($"event_type" =!= "error" &&
        get_json_object($"props", "$.k").isNotNull)
    assert(out.agg(sum("n_events")).collect()(0).getLong(0) === validated.count(),
      "per-key counts must partition the validated stream")
    assert(out.filter($"event_type" === "error").count() === 0L,
      "the validation gate must drop error envelopes")
    assert(out.filter($"max_value" < $"last_value").count() === 0L,
      "the running-max register bounds the last-value register")
    assert(out.filter($"first_ts" > $"last_ts").count() === 0L)
    out.unpersist()
  }

  test("dedup→pack pipeline packs each surviving doc exactly once") {
    val docs = Tables.documents(spark, sfDir).select(
      $"doc_id", md5($"text").as("h"),
      md5(array_join(slice(split($"text", " "), 1, 8), " ")).as("fp"))
    // independent survivor derivation: keep-first by content hash, then
    // keep-first by leading-content fingerprint among those firsts
    val firstByH = docs.groupBy("h")
      .agg(min(struct($"doc_id", $"fp")).as("m"))
      .select($"m.doc_id".as("doc_id"), $"m.fp".as("fp"))
    val survivors = firstByH.groupBy("fp").agg(min("doc_id")).count()
    val out = q("q_dedup_pack_pipeline").cache()
    assert(out.agg(sum("n_docs")).collect()(0).getLong(0) === survivors,
      "every survivor lands in exactly one shard")
    assert(survivors < Tables.documents(spark, sfDir).count(),
      "dedup must actually collapse something on the planted corpus")
    out.unpersist()
  }

  test("KS drift equals the exact grid recompute; identical samples read 0") {
    val row = q("q_drift_ks").collect()(0)
    val ks = row.getAs[Double]("ks_stat")
    assert(ks >= 0.0 && ks <= 1.0)
    // local exact recompute on the same 5e-3 grid
    val samples = Tables.events(spark, sfDir)
      .filter($"event_type".isin("click", "purchase") && $"value".isNotNull)
      .select("event_type", "value").as[(String, Double)].collect()
    val a = samples.filter(_._1 == "click").map(t => math.floor(t._2 * 200).toLong)
    val b = samples.filter(_._1 == "purchase").map(t => math.floor(t._2 * 200).toLong)
    assert(row.getAs[Long]("n_a") === a.length.toLong)
    assert(row.getAs[Long]("n_b") === b.length.toLong)
    val grid = (a ++ b).distinct.sorted
    val ksNum = grid.map { g =>
      math.abs(a.count(_ <= g).toLong * b.length - b.count(_ <= g).toLong * a.length)
    }.max
    assert(ks === ksNum.toDouble / (a.length.toLong * b.length).toDouble)
    // the rejection column is consistent with its own critical value
    assert(row.getAs[Boolean]("reject_h0") ===
      (ks > row.getAs[Double]("crit_05")))
    // two identical samples: KS exactly 0 (same cumulative counts)
    val same = a
    val gridS = same.distinct.sorted
    val zero = gridS.map { g =>
      math.abs(same.count(_ <= g).toLong * same.length -
        same.count(_ <= g).toLong * same.length)
    }.max
    assert(zero === 0L)
  }

  test("PSI drift is non-negative and matches a local recompute") {
    val row = q("q_drift_psi").collect()(0)
    val psi = row.getAs[Double]("psi")
    // (p - q) and ln(p/q) always share sign, so every term >= 0
    assert(psi >= 0.0)
    assert(row.getAs[Boolean]("stable") === (psi < 0.1))
    assert(row.getAs[Boolean]("drifted") === (psi >= 0.25))
    // local recompute on the same unit-bucket grid
    val samples = Tables.events(spark, sfDir)
      .filter($"event_type".isin("click", "purchase") && $"value".isNotNull)
      .select("event_type", "value").as[(String, Double)].collect()
    val byBin = samples.groupBy(t => math.floor(t._2).toLong)
    val na = samples.count(_._1 == "click").toLong
    val nb = samples.count(_._1 == "purchase").toLong
    val nbins = byBin.size.toLong
    def r8(x: Double) = math.floor(x * 1e8 + 0.5) / 1e8
    val want = byBin.values.map { xs =>
      val p = (xs.count(_._1 == "click") + 1).toDouble / (na + nbins)
      val q0 = (xs.count(_._1 == "purchase") + 1).toDouble / (nb + nbins)
      BigDecimal(r8((p - q0) * math.log(p / q0))).setScale(8)
    }.sum
    assert(psi === (want.setScale(6, BigDecimal.RoundingMode.HALF_UP)).toDouble)
  }

  test("KL drift is non-negative per source and matches a local recompute") {
    val rows = q("q_drift_kl").collect()
    val srcCount = Tables.documents(spark, sfDir)
      .select("source").distinct().count()
    assert(rows.length === srcCount, "one row per source")
    // smoothed p and q are both proper distributions over the same
    // support, so KL >= 0 (Gibbs), up to the 8-dp per-term rounding
    rows.foreach(r =>
      assert(r.getAs[Double]("kl_nats") >= -1e-6, r.toString))
    // local recompute for one source pins the formula
    val counts = Tables.documents(spark, sfDir)
      .groupBy("source", "lang").count()
      .as[(String, String, Long)].collect()
    val langs = counts.map(_._2).distinct.sorted
    val nn = counts.map(_._3).sum
    val byLang = counts.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val src = rows.head.getAs[String]("source")
    val ns = counts.filter(_._1 == src).map(_._3).sum
    val want = langs.map { l =>
      val n = counts.find(c => c._1 == src && c._2 == l).map(_._3).getOrElse(0L)
      val p = (n + 1).toDouble / (ns + langs.length)
      val qd = (byLang(l) + 1).toDouble / (nn + langs.length)
      BigDecimal(p * math.log(p / qd)).setScale(8, BigDecimal.RoundingMode.HALF_UP)
    }.sum.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(rows.head.getAs[Double]("kl_nats") - want) < 2e-6)
  }

  // ---- quality classifier --------------------------------------------

  /** Local sequential GD replay mirroring the distributed loop's exact
    * arithmetic: double products, per-term HALF_UP cast to scale 8
    * (Spark's double→decimal path goes through BigDecimal.valueOf),
    * exact decimal sums, softsign link with an 8-dp round.
    */
  private def round8(x: Double): Double =
    BigDecimal.valueOf(x).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def dec8(x: Double): BigDecimal =
    BigDecimal.valueOf(x).setScale(8, BigDecimal.RoundingMode.HALF_UP)
  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def localFeats(docs: Array[(Long, String, String)]): Map[Long, Map[Long, Long]] =
    docs.map { case (id, text, _) =>
      val m = scala.collection.mutable.Map.empty[Long, Long]
      text.split(" ").foreach { w =>
        val h = java.lang.Long.parseLong(md5hex("fh:" + w).take(12), 16)
        val b = h % 64
        val sg = if ((h / 64) % 2 == 0) 1L else -1L
        m(b) = m.getOrElse(b, 0L) + sg
      }
      m(-1L) = 1L // intercept
      id -> m.toMap
    }.toMap

  private def localSquash(m: Double): Double =
    round8(0.5 + 0.5 * m / (1.0 + math.abs(m)))

  private def localMargin(fv: Map[Long, Long], w: Map[Long, Double]): Double =
    fv.toSeq.map { case (b, sv) => dec8(w(b) * sv) }.sum.toDouble

  private def localClassifierWeights(rounds: Int,
      trainOnly: Boolean = false): Map[Long, Double] = {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "source")
      .as[(Long, String, String)].collect()
      .filter(d => !trainOnly || !Set("d", "e", "f")(md5hex(d._2).take(1)))
    val feats = localFeats(docs)
    val y = docs.map { case (id, _, src) =>
      id -> (if (Set("src0", "src1")(src)) 1L else 0L)
    }.toMap
    val n = docs.length
    var w: Map[Long, Double] = (-1L until 64L).map(_ -> 0.0).toMap
    for (_ <- 1 to rounds) {
      val p = feats.map { case (id, fv) =>
        id -> localSquash(localMargin(fv, w))
      }
      val g = scala.collection.mutable.Map.empty[Long, BigDecimal]
      feats.foreach { case (id, fv) =>
        val r = p(id) - y(id)
        fv.foreach { case (b, sv) =>
          g(b) = g.getOrElse(b, BigDecimal(0)) + dec8(r * sv)
        }
      }
      w = w.map { case (b, wv) =>
        b -> round8(wv - 0.5 * g.getOrElse(b, BigDecimal(0)).toDouble / n)
      }
    }
    w
  }

  test("classifier GD loop equals the sequential recompute at depth 10") {
    // depth 10 — past the oracled tier, exercising the checkpointed
    // driver loop at a depth the CTE chain never sees
    val dist = ops.Curation.classifierWeights(spark, sfDir, 10)
      .as[(Long, Double)].collect().toMap
    val local = localClassifierWeights(10)
    assert(dist.keySet === local.keySet)
    dist.foreach { case (b, wv) =>
      assert(wv === local(b), s"bucket $b: dist $wv vs local ${local(b)}")
    }
    // training moved: at least one weight is nonzero after 10 rounds
    assert(dist.values.exists(_ != 0.0), "GD must update the weights")
  }

  test("classifier report keeps each language's top quarter") {
    val rows = q("q_quality_classifier").cache()
    val srcCount = Tables.documents(spark, sfDir)
      .select("source").distinct().count()
    assert(rows.count() === srcCount, "one row per source")
    val total = rows.agg(sum("n_docs")).collect()(0).getLong(0)
    val kept = rows.agg(sum("n_keep")).collect()(0).getLong(0)
    assert(total === Tables.documents(spark, sfDir).count())
    // ntile(4) = 1 keeps between 1/4 and (1/4 + one per language)
    val langCount = Tables.documents(spark, sfDir)
      .select("lang").distinct().count()
    assert(kept >= total / 4 && kept <= total / 4 + langCount,
      s"quantile budget: kept $kept of $total")
    rows.collect().foreach { r =>
      val p = r.getAs[Double]("mean_p")
      assert(p > 0.0 && p < 1.0, s"mean_p out of (0,1): $r")
    }
  }

  test("classifier eval: AUC and class means equal the local recompute") {
    val wTrain = localClassifierWeights(3, trainOnly = true)
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "source")
      .as[(Long, String, String)].collect()
    val valDocs = docs.filter(d => Set("d", "e", "f")(md5hex(d._2).take(1)))
    val feats = localFeats(valDocs)
    val scored = valDocs.map { d =>
      val p = localSquash(localMargin(feats(d._1), wTrain))
      (p, if (Set("src0", "src1")(d._3)) 1L else 0L)
    }
    // Mann-Whitney AUC with average tie ranks
    val byP = scored.sortBy(_._1)
    val avgRank = byP.zipWithIndex.groupBy(_._1._1).toSeq.flatMap { case (_, g) =>
      val ar = g.map(_._2 + 1).sum.toDouble / g.length
      g.map { case ((_, yy), _) => (yy, ar) }
    }
    val nPos = scored.count(_._2 == 1L)
    val nNeg = scored.length - nPos
    val sp = avgRank.filter(_._1 == 1L).map(_._2).sum
    val wantAuc = BigDecimal.valueOf(
      (sp - nPos.toDouble * (nPos + 1.0) / 2.0) / (nPos.toDouble * nNeg))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val r = q("q_classifier_eval").collect()(0)
    assert(r.getAs[Long]("n_val") === valDocs.length.toLong)
    assert(r.getAs[Long]("n_train") === (docs.length - valDocs.length).toLong)
    assert(r.getAs[Long]("n_pos") === nPos.toLong)
    assert(r.getAs[Double]("auc") === wantAuc)
    val auc = r.getAs[Double]("auc")
    assert(auc >= 0.0 && auc <= 1.0)
  }

  test("classifier eval separates the planted shift and not the noise") {
    // the two regimes certify the GD/AUC machinery end to end: the
    // i.i.d. word-soup fixture has no source-correlated vocabulary, so
    // its honest AUC sits near chance; the SAME harness over the
    // deterministically marker-shifted corpus separates cleanly
    val plain = q("q_classifier_eval").collect()(0).getAs[Double]("auc")
    assert(plain > 0.25 && plain < 0.75, s"unshifted AUC $plain ≈ chance")
    val shifted = q("q_classifier_eval_shifted").collect()(0)
      .getAs[Double]("auc")
    assert(shifted > 0.8, s"shifted AUC $shifted should separate")
    assert(shifted > plain + 0.2, s"shift must add signal: $plain -> $shifted")
  }

  test("domain reweighting: proper distribution, upweights lossy domains, matches local fold") {
    val got = q("q_domain_reweight")
      .select("source", "loss", "weight")
      .as[(String, Double, Double)].collect().sortBy(_._1)
    // weights form a distribution (8-dp rounding slack per source)
    val total = got.map(_._3).sum
    assert(math.abs(total - 1.0) < got.length * 1e-8 + 1e-9, s"sum $total")
    // multiplicative weights from a uniform start preserve the loss
    // order: the lossiest domain ends with the largest weight
    val byLoss = got.sortBy(_._2)
    assert(byLoss.last._3 >= byLoss.head._3,
      s"lossiest ${byLoss.last} must outweigh least-lossy ${byLoss.head}")
    assert(got.map(_._3).distinct.length > 1, "weights must move off uniform")
    // exact local replay of the 5 multiplicative-weight rounds
    def half8(x: Double): Double = math.floor(x * 1.0e8 + 0.5) / 1.0e8
    val loss = got.map(g => g._1 -> g._2).toMap
    var w: Map[String, Double] = loss.keys.map(_ -> half8(1.0 / loss.size)).toMap
    for (_ <- 1 to 5) {
      val wl = loss.keys.toSeq.sorted
        .map(s => (BigDecimal.valueOf(w(s)).setScale(8) *
          BigDecimal.valueOf(loss(s)).setScale(4)).setScale(12))
        .sum.toDouble
      val wf = loss.keys.map(s => s -> w(s) * (1.0 + 0.5 * (loss(s) - wl))).toMap
      val z = loss.keys.toSeq.sorted
        .map(s => BigDecimal.valueOf(wf(s))
          .setScale(8, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
      w = loss.keys.map(s => s -> half8(wf(s) / z)).toMap
    }
    got.foreach { case (s, _, weight) =>
      assert(weight === w(s), s"source $s: dist $weight vs local ${w(s)}")
    }
  }

  // ---- decontamination -----------------------------------------------

  test("decontaminate equals a direct 8-gram intersection recompute") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "source")
      .as[(Long, String, String)].collect()
    def isEval(id: Long): Boolean =
      java.lang.Long.parseLong(md5hex("ev:" + id).take(6), 16) % 20 == 0
    def grams(text: String): Set[String] = {
      val w = text.split(" ")
      if (w.length < 8) Set.empty
      else w.sliding(8).map(_.mkString(" ")).toSet
    }
    val evalGrams = docs.filter(d => isEval(d._1)).flatMap(d => grams(d._2)).toSet
    val wantBySource = docs.groupBy(_._3).view.mapValues { ds =>
      val train = ds.filterNot(d => isEval(d._1))
      val contam = train.count(d => grams(d._2).exists(evalGrams))
      (train.length.toLong, ds.length.toLong - train.length, contam.toLong)
    }.toMap
    val got = q("q_decontaminate")
      .select("source", "n_train", "n_eval", "n_contam")
      .as[(String, Long, Long, Long)].collect()
    assert(got.length === wantBySource.size)
    got.foreach { case (src, tr, ev, ct) =>
      assert((tr, ev, ct) === wantBySource(src), s"source $src")
    }
    // the split itself is non-degenerate at this SF
    assert(got.map(_._3).sum > 0, "the eval split must be non-empty")
  }

  test("expectations: one verdict row per constraint, metrics recomputed") {
    val rows = q("q_expectations")
      .select("constraint", "metric", "threshold", "direction", "passed")
      .collect()
      .map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getString(3), r.getBoolean(4))))
      .toMap
    assert(rows.size === 7, "the suite reports every constraint exactly once")
    // recompute two metrics independently
    val li = Tables.lineitem(spark, sfDir)
    val n = li.count().toDouble
    val nShip = li.filter($"l_shipdate".isNotNull).count().toDouble
    assert(rows("completeness_shipdate")._1 === nShip / n)
    val orphans = li.select("l_orderkey")
      .join(Tables.orders(spark, sfDir).select("o_orderkey"),
        $"l_orderkey" === $"o_orderkey", "left_anti").count().toDouble
    assert(rows("referential_orderkey")._1 === orphans / n)
    // every verdict is consistent with its metric/threshold/direction
    rows.foreach { case (name, (m, t, d, p)) =>
      val want = if (d == "min") m >= t else m <= t
      assert(p === want, s"$name verdict inconsistent")
    }
    // the fixture satisfies the structural constraints...
    for (c <- Seq("completeness_shipdate", "compliance_quantity",
        "set_returnflag", "positivity_price", "referential_orderkey"))
      assert(rows(c)._4, s"$c should hold on the fixture")
    // ...and the suite REPORTS the two that genuinely fail on it: the
    // synthetic lineitem reuses (orderkey, linenumber) pairs, and
    // discounts run up to 0.10 against the 0.08 policy cut — failing
    // constraints report rather than abort, by design
    assert(!rows("uniqueness_pk")._4)
    assert(rows("uniqueness_pk")._1 < 1.0)
    assert(!rows("compliance_discount")._4)
  }

  test("pagerank: probability mass, ordering, and degree dominance") {
    val top = q("q_pagerank")
      .select("rk", "node", "pr")
      .as[(Int, String, Double)].collect().toSeq
    assert(top.length === 20)
    assert(top.map(_._1) === (1 to 20), "ranks are 1..20 in order")
    // descending by score with the (pr, node) tie-break
    top.sliding(2).foreach { case Seq(a, b) =>
      assert(a._3 > b._3 || (a._3 == b._3 && a._2 < b._2))
    }
    // every node keeps at least the teleport floor and the quantized
    // ranks stay a (near-)probability distribution
    val pairs = Tables.lineitem(spark, sfDir)
      .select($"l_partkey", $"l_suppkey").distinct()
    val nNodes = (pairs.select("l_partkey").distinct().count() +
      pairs.select("l_suppkey").distinct().count()).toDouble
    assert(top.forall(_._3 >= 0.15 / nNodes))
    // suppliers are ~20x fewer than parts in TPC-H shapes, so they
    // concentrate rank: the #1 node must be a supplier
    assert(top.head._2.startsWith("s"), s"got ${top.head._2}")
    // convergence evidence (round 11): the per-iteration L1 residuals
    // decrease monotonically — damped iteration contracts by at most
    // d = 0.85 per round, and the residual columns measure it
    val res = q("q_pagerank")
      .select("res1", "res2", "res3", "res4", "res5")
      .as[(Double, Double, Double, Double, Double)].head()
    val rs = Seq(res._1, res._2, res._3, res._4, res._5)
    rs.sliding(2).foreach { case Seq(a, b) => assert(b < a, rs.toString) }
    rs.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a * 0.851, s"contraction bound violated: $rs")
    }
  }

  test("pagerank converged: the rank table is a fixpoint up to the documented tolerance") {
    val rows = assertNoLeakedPins(q("q_pagerank_converged"))(Seq(_))
      .select("rk", "node", "pr", "iters", "resid")
      .as[(Int, String, Double, Int, Double)].collect().toSeq
    assert(rows.length === 20 && rows.map(_._1) === (1 to 20))
    val (iters, resid) = (rows.head._4, rows.head._5)
    assert(iters <= graft.ops.Curation.PrCap)
    // the residual at the selected round is under the relative target:
    // res_1 <= 2 (two unit-mass distributions), so the absolute bound
    // 2·PrRelEps always certifies the relative rule fired (or the
    // contraction-backed cap landed us under it anyway)
    assert(resid < 2.0 * graft.ops.Curation.PrRelEps,
      s"iters=$iters resid=$resid")
    // a fixpoint refines, never contradicts, the 5-round snapshot: the
    // top node (the degree-dominant supplier) is stable
    val snap = q("q_pagerank").select("node").as[String].head()
    assert(rows.head._2 === snap, s"fixpoint top ${rows.head._2} vs snapshot $snap")
  }
}

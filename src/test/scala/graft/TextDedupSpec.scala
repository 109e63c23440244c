package graft

import org.apache.spark.sql.functions._

/** Dedup + text analysis: LSH recall against exact ground truth, dedup
  * idempotence, language-ID on real multilingual text (the corpus `lang`
  * column is synthetic metadata over a shared vocabulary, so language ID
  * is validated on constructed sentences).
  */
class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  test("quality filter keeps the at-or-above-p25 slice per language") {
    val out = q("q_quality_filter").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val n = r.getLong(1); val kept = r.getLong(2)
      assert(kept <= n)
      // by definition of the 25th percentile, at least ~75% of each
      // language's docs sit at or above it (±1 for interpolation)
      assert(kept >= (3 * n) / 4 - 1,
        s"lang ${r.getString(0)}: kept $kept of $n is below the p25 floor")
    }
  }

  test("exact dedup is idempotent and lossless on a duplicate-free corpus") {
    val d = q("q_dedup_exact").cache()
    val docs = Tables.documents(spark, sfDir)
    assert(d.agg(sum("n")).collect()(0).getLong(0) === docs.count())
    // corpus has no exact dups: every hash keeps exactly one doc
    assert(d.filter($"n" > 1).count() === 0)
    assert(d.count() === docs.count())
  }

  test("ngram novelty: novel counts partition the distinct-gram universe") {
    val rows = q("q_ngram_novelty").collect()
    assert(rows.nonEmpty)
    // every gram is novel in exactly one document (its min-doc), so the
    // novel counts must sum to the number of distinct grams in the corpus
    val distinctGrams = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(explode(transform(sequence(lit(0), size(col("toks")) - 3),
        i => concat_ws(" ", element_at(col("toks"), i + 1),
          element_at(col("toks"), i + 2), element_at(col("toks"), i + 3)))).as("g"))
      .distinct().count()
    assert(rows.map(_.getAs[Long]("n_novel")).sum == distinctGrams)
    // the earliest document can only contain first-seen grams
    val first = rows.minBy(_.getAs[Long]("doc_id"))
    assert(first.getAs[Long]("n_novel") == first.getAs[Long]("n_grams"))
    rows.foreach(r => assert(r.getAs[Long]("n_novel") <= r.getAs[Long]("n_grams")))
  }

  test("vocab coverage: counts non-increasing, cumulative exact against the corpus total") {
    val rows = q("q_vocab_coverage").collect()
    assert(rows.nonEmpty && rows.length <= 100)
    val ns = rows.map(_.getAs[Long]("n"))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b }, "counts must be non-increasing by rank")
    assert(rows.map(_.getAs[Long]("n")).sum == rows.last.getAs[Long]("cum_tok"))
    // this corpus's vocabulary fits inside the top-100 cut, so the last
    // cumulative count must equal the exact corpus token total
    val total = Tables.documents(spark, sfDir)
      .select(sum(size(split(col("text"), " ")).cast("long"))).head.getLong(0)
    assert(rows.last.getAs[Long]("cum_tok") == total)
  }

  test("chunking tiles every document: contiguous indices, exact coverage, overlap stride") {
    val docTok = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
    val perDoc = q("q_chunk_docs")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"), max("chunk_idx").as("max_idx"),
        max(col("chunk_idx") * 24 + col("n_tok")).as("covered"),
        min("n_tok").as("min_tok"), max("n_tok").as("max_tok"))
      .join(docTok, "doc_id").collect()
    assert(perDoc.length == docTok.count(), "every document must chunk")
    perDoc.foreach { r =>
      val (nChunks, maxIdx) = (r.getAs[Long]("n_chunks"), r.getAs[Long]("max_idx"))
      assert(maxIdx == nChunks - 1, s"doc ${r.getAs[Long]("doc_id")}: chunk_idx gap")
      // last window ends exactly at the token count — no token dropped or invented
      assert(r.getAs[Long]("covered") == r.getAs[Long]("n"))
      assert(r.getAs[Long]("max_tok") <= 32 && r.getAs[Long]("min_tok") >= 1)
    }
  }

  test("minhash LSH recovers every high-Jaccard pair found by exact n-gram") {
    val exact = q("q_dedup_ngram").filter($"jac" >= 0.5)
      .select("ai", "bi").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "corpus should contain planted near-duplicates")
    val cand = q("q_dedup_minhash")
      .select("ai", "bi").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(cand),
      s"missed pairs: ${exact.diff(cand)} (banding P(catch) at jac≥0.5 ≈ 1 for these)")
  }

  test("minhash Jaccard estimate tracks exact Jaccard on candidates") {
    val est = q("q_dedup_minhash").select("ai", "bi", "est_jac").as[(Long, Long, Double)]
      .collect().map { case (a, b, j) => (a, b) -> j }.toMap
    val exact = q("q_dedup_ngram").select("ai", "bi", "jac").as[(Long, Long, Double)]
      .collect().map { case (a, b, j) => (a, b) -> j }.toMap
    val common = est.keySet.intersect(exact.keySet)
    assert(common.nonEmpty)
    common.foreach { k =>
      assert(math.abs(est(k) - exact(k)) <= 0.35,
        s"pair $k: est ${est(k)} vs exact ${exact(k)} (32-hash estimator, ±3σ ≈ 0.27)")
    }
  }

  test("simhash: near-identical docs collide with tiny Hamming distance") {
    val nearDups = q("q_dedup_ngram").filter($"jac" >= 0.9)
      .select("ai", "bi").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nearDups.nonEmpty)
    val sim = q("q_dedup_simhash").select("ai", "bi").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    nearDups.foreach(p => assert(sim.contains(p), s"simhash missed near-dup $p"))
  }

  test("stop-gram cap drops hot-gram pairs, keeps normal-gram pairs") {
    // planted corpus: one ultra-hot gram shared by EVERY doc (the skew
    // killer — uncapped it alone pair-explodes O(n²)), plus one genuine
    // near-dup pair sharing a full sentence of normal grams
    val hot = "zzz yyy xxx"
    val sent = "alpha beta gamma delta epsilon zeta eta"
    val docs =
      (0L until 10L).map(i => (i, s"$hot unique$i tok$i word$i more$i")) ++
        Seq((100L, s"$hot $sent"), (101L, s"$hot $sent"))
    val dir = java.nio.file.Files.createTempDirectory("graft_cap").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("n_chars", length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // cap wide open: the hot gram pairs every doc with every other
    val uncapped = ops.Text.dedupNgramCapped(spark, dir, 1000)
      .select("ai", "bi").as[(Long, Long)].collect().toSet
    assert(uncapped.contains((0L, 1L)), s"hot gram should pair docs uncapped: $uncapped")
    assert(uncapped.size >= 60, s"expected the O(n²) explosion, got ${uncapped.size}")

    // cap = 5 < 12 docs: the hot gram is a stop-gram — pair output is
    // bounded to the one true near-dup, whose normal grams are unchanged
    val capped = ops.Text.dedupNgramCapped(spark, dir, 5)
      .select("ai", "bi", "jac").as[(Long, Long, Double)].collect()
    assert(capped.map(p => (p._1, p._2)).toSet === Set((100L, 101L)),
      s"capped pairs: ${capped.toSeq}")
    assert(capped.head._3 === 1.0) // identical doc bodies over kept grams
  }

  test("contamination cap ignores stop-gram-only overlap, keeps real overlap") {
    val hot = "zzz yyy xxx"
    val sent = "alpha beta gamma delta epsilon zeta eta"
    // eval 1 shares ONLY the hot gram with training docs; eval 2 shares a
    // real sentence with train doc 60; train 61..66 exist to push the hot
    // gram's document frequency over the cap
    val docs = Seq(
      (1L, s"$hot e1a e1b e1c e1d"),
      (2L, s"$hot $sent")) ++
      Seq((60L, s"$hot $sent")) ++
      (61L to 66L).map(i => (i, s"$hot t${i}a t${i}b t${i}c"))
    val dir = java.nio.file.Files.createTempDirectory("graft_cont").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("n_chars", length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val uncapped = ops.Text.contaminationCapped(spark, dir, 1000)
      .select("eval_id").as[Long].collect().toSet
    assert(uncapped === Set(1L, 2L), s"uncapped: hot gram contaminates both: $uncapped")

    val capped = ops.Text.contaminationCapped(spark, dir, 5)
      .as[(Long, Long, Long)].collect()
    assert(capped.map(_._1).toSet === Set(2L),
      s"only the real overlap survives the cap: ${capped.toSeq}")
    val (_, nTrain, nShared) = capped.head
    assert(nTrain === 1L) // train doc 60 only
    assert(nShared >= 5L) // the sentence grams (hot gram excluded)
  }

  test("tfidf ranks a document's unique term above corpus-wide terms") {
    val docs = Tables.documents(spark, sfDir)
    // every doc_id token below appears in exactly one synthetic sentence
    val top = q("q_tfidf").filter($"term_rank" === 1)
      .select("doc_id", "score").as[(Long, Double)].collect()
    assert(top.length === docs.count())
    // nearly every doc has some non-universal term (idf > 0) on top
    assert(top.count(_._2 > 0.0) > top.length * 0.9)
    // rank is dense 1..3 per doc with deterministic ordering
    val ranks = q("q_tfidf").groupBy("doc_id")
      .agg(sort_array(collect_list("term_rank")).as("rs"))
      .select("rs").as[Seq[Int]].collect()
    assert(ranks.forall(_ == Seq(1, 2, 3)))
  }

  test("bm25 top-10 matches a local recompute over the raw corpus") {
    val rows = q("q_bm25").as[(Long, Double)].collect().toSeq
    assert(rows.length === 10)
    assert(rows.map(-_._2) === rows.map(-_._2).sorted, "scores descend")
    // full local recompute, mirroring the engine's double->decimal path
    // (BigDecimal.valueOf = shortest repr, matching Decimal.set(double))
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val qts = Seq("scan", "merge", "window")
    val toks = docs.map { case (id, t) => (id, t.split(" ", -1).toSeq) }
    val n = toks.length.toDouble
    val avgdl = toks.map(_._2.length.toLong).sum.toDouble / n
    val dfm = qts.map(t => t -> toks.count(_._2.contains(t)).toDouble).toMap
    val want = toks.map { case (id, w) =>
      val dl = w.length.toDouble
      val s = qts.map { t =>
        val tf = w.count(_ == t).toDouble
        if (tf == 0) BigDecimal(0)
        else {
          val idf = math.log((n - dfm(t) + 0.5) / (dfm(t) + 0.5) + 1.0)
          val part = tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
          BigDecimal.valueOf(idf * part)
            .setScale(8, BigDecimal.RoundingMode.HALF_UP)
        }
      }.sum
      (id, BigDecimal.valueOf(s.toDouble)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (id, sc) => (-sc, id) }.take(10)
    assert(rows === want)
  }

  test("kneser-ney backoff scores a planted unseen bigram exactly") {
    // train split (ids % 4 != 0): pc = {(x,y):2, (y,x):1, (y,z):1, (w,y):1}
    // ctx: x cc=2 n1pa=1; y cc=2 n1pa=2; cb: y 2, x 1, z 1; T=4
    val planted = Seq(
      (1L, "x y x y"), (2L, "y z"), (3L, "w y"),
      (4L, "x z x"),   // eval: (x,z) unseen -> pure backoff; (z,x) OOV context -> dropped
      (8L, "x y z")    // eval: both bigrams seen
    ).toDF("doc_id", "text")
    val got = graft.ops.Text.kneserNeyOf(planted)
      .as[(Long, Long, Double)].collect().toSeq
    // (x,z): p = 0 + (0.75*1/2)*(1/4) = 0.09375 -> ln = -2.36712361
    // (x,y): p = (2-.75)/2 + (.75*1/2)*(2/4) = 0.8125 -> -0.20763936
    // (y,z): p = (1-.75)/2 + (.75*2/2)*(1/4) = 0.3125 -> -1.16315081
    assert(got === Seq((4L, 1L, -2.3671), (8L, 2L, -0.6854)))
  }

  test("text entropy hits the closed forms on constant and uniform docs") {
    val rows = q("q_text_entropy")
      .select("doc_id", "char_entropy", "token_entropy")
      .as[(Long, Double, Double)].collect()
    assert(rows.length === Tables.documents(spark, sfDir).count())
    // natural-prose corpus: every doc has positive entropy on both axes
    assert(rows.forall { case (_, hc, hw) => hc > 0.0 && hw > 0.0 })
    // closed forms via the same operator over planted docs
    import org.apache.spark.sql.functions.{col, split}
    val planted = Seq(
      (1L, "aaaaaaaa"),          // constant chars -> H = 0
      (2L, "abcdabcdabcdabcd"),  // uniform over 4 chars -> H = 2 bits
      (3L, "x y x y x y x y")    // uniform over 2 tokens -> H = 1 bit
    ).toDF("doc_id", "text")
    val h = graft.ops.Text.textEntropyOf(planted)
      .orderBy("doc_id")
      .select("char_entropy", "token_entropy")
      .as[(Double, Double)].collect().toSeq
    assert(h(0)._1 === 0.0)
    assert(h(1)._1 === 2.0)
    assert(h(2)._2 === 1.0)
  }

  test("fuzzy dedup pairs planted prefix twins, skips distinct docs") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy cat today"), // 1-word edit
      (3L, "completely different sentence with other words here entirely"))
      .map { case (id, t) => (id, t, "en", t.length) }
    val dir = java.nio.file.Files.createTempDirectory("graft_fuzzy").toString
    docs.toDF("doc_id", "text", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = SparkEntry.queries("q_fuzzy_dedup")(spark, dir)
      .select("ai", "bi", "dist").as[(Long, Long, Int)].collect()
    // docs 1/2 share the length band and differ by one short word
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((1L, 2L)))
    assert(pairs.head._3 <= 8)
  }

  test("stats profile matches Spark's built-in moments within fp tolerance") {
    val prof = q("q_stats_profile")
      .select("l_returnflag", "mean_qty", "std_qty", "corr_qty_price")
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val builtin = Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(avg($"l_quantity").as("m"), stddev_samp($"l_quantity").as("s"),
        corr($"l_quantity", $"l_extendedprice").as("c"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(prof.keySet === builtin.keySet)
    prof.foreach { case (k, (m, s, c)) =>
      val (bm, bs, bc) = builtin(k)
      assert(math.abs(m - bm) < 1e-3 && math.abs(s - bs) < 1e-3 && math.abs(c - bc) < 1e-3,
        s"flag $k: decimal-moment profile diverged from built-ins")
    }
  }

  test("lm score ranks common-vocabulary text above rare-token gibberish") {
    val docs = ((1L to 10L).map(i => (i, "the cat sat on the mat today")) :+
      (99L, "zxqv wkjh pqrs mnbv lkjq asdq gqwz"))
      .map { case (id, t) => (id, t, "en", t.length) }
    val dir = java.nio.file.Files.createTempDirectory("graft_lm").toString
    docs.toDF("doc_id", "text", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val scores = SparkEntry.queries("q_lm_score")(spark, dir)
      .select("doc_id", "mean_ll").as[(Long, Double)].collect().toMap
    val fluent = (1L to 10L).map(scores)
    assert(fluent.forall(_ > scores(99L)),
      s"gibberish must score below fluent text: ${scores(99L)} vs ${fluent.min}")
  }

  test("importance weights rank target-source lookalikes above the rest") {
    // target mix = src1/src2/src3 with a shared "wiki" vocabulary; the
    // outlier shares no bigrams with the target and must score lowest
    val docs = Seq(
      (1L, "the solar system has eight planets orbiting the sun", "src1"),
      (2L, "the solar system has many moons orbiting the planets", "src2"),
      (3L, "eight planets orbiting the sun form the solar system", "src3"),
      (4L, "the solar system has eight planets and the sun", "src9"),
      (9L, "buy cheap pills now click here win money fast", "src9"))
      .map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
    val dir = java.nio.file.Files.createTempDirectory("graft_iw").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val w = SparkEntry.queries("q_importance_weights")(spark, dir)
      .select("doc_id", "weight").as[(Long, Double)].collect().toMap
    assert(w.size === 5)
    // doc 4 is raw-corpus but written in the target distribution — DSIR
    // must pull it above the spam doc, which shares no target bigrams
    assert(w(4L) > w(9L), s"target-lookalike vs spam: ${w(4L)} vs ${w(9L)}")
    assert((1L to 3L).forall(id => w(id) > w(9L)), s"weights: $w")
  }

  test("fuzzy dedup candidates stay sub-quadratic on a same-length corpus") {
    // 60 docs, ALL in one 16-char length band but with distinct content:
    // band-only blocking would verify 60·59/2 = 1770 pairs; the two-probe
    // content signature must collapse that to (near) zero, while a planted
    // twin pair still collides on a shared token block
    val n = 60
    val base = (1 to n).map { i =>
      val t = f"t$i%03da t$i%03db t$i%03dc t$i%03dd t$i%03de t$i%03df"
      (i.toLong, t)
    }
    val twin = Seq(
      (900L, "same1 same2 same3 same4 xdiff same6"),
      (901L, "same1 same2 same3 same4 ydiff same6"))
    val docs = (base ++ twin).map { case (id, t) => (id, t, "en", t.length) }
    val dir = java.nio.file.Files.createTempDirectory("graft_fuzzy_block").toString
    docs.toDF("doc_id", "text", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cand = graft.ops.Text.fuzzyCandidates(spark, dir)
      .select("ai", "bi").as[(Long, Long)].collect().toSet
    assert(cand.contains((900L, 901L)), "planted twin must survive blocking")
    assert(cand.size <= n,
      s"candidate count ${cand.size} not ≪ ${n * (n - 1) / 2} — blocking regressed to band-only")
    // and the verified output still pairs exactly the twins
    val pairs = SparkEntry.queries("q_fuzzy_dedup")(spark, dir)
      .select("ai", "bi").as[(Long, Long)].collect().toSet
    assert(pairs === Set((900L, 901L)), s"got: $pairs")
  }

  test("fuzzy dedup measures BYTE-level distance on multi-byte scripts") {
    // one CJK char substitution = 3 UTF-8 bytes: doc 2 is 3 byte-edits
    // from doc 1 (pairs), doc 3 is 9 from both (exceeds the 8 cut) —
    // exactly what DuckDB's byte-based levenshtein computes, which is
    // the cross-engine contract the ISO-8859-1 byte→char decode buys
    val a = "的的的在我有他不 aaaa bbbb cccc dddd"
    val b = "是的的在我有他不 aaaa bbbb cccc dddd"
    val c = "了了了在我有他不 aaaa bbbb cccc dddd"
    val docs = Seq((1L, a), (2L, b), (3L, c))
      .map { case (id, t) => (id, t, "zh", t.length) }
    val dir = java.nio.file.Files.createTempDirectory("graft_fuzzy_mb").toString
    docs.toDF("doc_id", "text", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = SparkEntry.queries("q_fuzzy_dedup")(spark, dir)
      .select("ai", "bi", "dist").as[(Long, Long, Int)].collect()
    assert(pairs.toSeq === Seq((1L, 2L, 3)), s"got: ${pairs.toSeq}")
  }

  test("dup clusters are transitive: A~B, B~C, A≁C land in one component") {
    // prefixes: A-B dist 5, B-C dist 5, A-C dist 10 (> the 8 cut) — only
    // label propagation to a fixpoint puts all three in one cluster
    val a = "aaaaa bbbbb ccccc ddddd eeeee ff tail text here"
    val b = "aaaaa xxxxx ccccc ddddd eeeee ff tail text here"
    val c = "aaaaa xxxxx ccccc yyyyy eeeee ff tail text here"
    val far = "zzzzz qqqqq wwwww rrrrr ttttt uu tail text here"
    val docs = Seq((10L, a), (11L, b), (12L, c), (99L, far))
      .map { case (id, t) => (id, t, "en", t.length) }
    val dir = java.nio.file.Files.createTempDirectory("graft_cc").toString
    docs.toDF("doc_id", "text", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = assertNoLeakedPins(SparkEntry.queries("q_dup_clusters")(spark, dir))(Seq(_))
      .as[(Long, Long)].collect().toMap
    assert(got === Map(10L -> 10L, 11L -> 10L, 12L -> 10L),
      s"clusters: $got") // 99 has no near pair and stays out

    // the corpus rewrite keeps exactly one doc per cluster plus the
    // unclustered doc: keeper 10 (min-id of the A-B-C chain) and 99
    val kept = SparkEntry.queries("q_dup_rewrite")(spark, dir)
      .as[(String, Long, Long)].collect()
    assert(kept.toSeq === Seq(("en", 2L, (a.length + far.length).toLong)),
      s"rewrite: ${kept.toSeq}")
  }

  test("bpe encode: piece counts bounded by chars and words, merges actually fire") {
    val r = q("q_bpe_encode").as[(Long, Long, Long, Long)].collect()
    assert(r.length === Tables.documents(spark, sfDir).count(),
      "every document must be priced")
    r.foreach { case (id, nWords, nChars, nBpe) =>
      assert(nBpe >= nWords, s"doc $id: every word is at least one piece")
      assert(nBpe <= nChars, s"doc $id: pieces cannot exceed char symbols")
    }
    // two merges were trained on this corpus; each merge's argmax pair
    // occurs by construction, so the encoded corpus is strictly shorter
    // than its char-symbol form
    assert(r.map(_._4).sum < r.map(_._3).sum,
      "the trained merges must fire at least once corpus-wide")
    // deterministic: re-running the whole train+encode pipeline agrees
    assert(q("q_bpe_encode").as[(Long, Long, Long, Long)].collect().toSeq
      === r.toSeq)
  }

  test("unigram tokenizer: Viterbi optimality, coverage, EM pruning, family fertility") {
    // the trained model: single-char coverage (every corpus char is a
    // piece, count floor >= 1), multi-char pieces survive EM with real
    // support, and the cost table is the half-bit quantization of the
    // count mass — cost(p) = f(T) - f(c) >= 0, monotone in c
    // the model is the only checkpoint the output keeps pinned
    val model = assertNoLeakedPins(q("q_unigram_train"))(Seq(_))
      .as[(String, Long, Long)].collect().toSeq
    assert(model.nonEmpty)
    val corpusChars = Tables.documents(spark, sfDir)
      .select(explode(split($"text", " ")).as("w"))
      .filter(length($"w") >= 1)
      .select(explode(expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")).as("ch"))
      .distinct().as[String].collect().toSet
    val pieceSet = model.map(_._1).toSet
    assert(corpusChars.subsetOf(pieceSet),
      "every corpus character must stay in the vocab (coverage)")
    assert(model.forall(_._2 >= 1), "EM counts carry the coverage floor")
    assert(model.forall(_._3 >= 0), "cost = f(T) - f(c) is non-negative")
    // higher count => cost no larger (the half-bit quantizer is monotone)
    val byCount = model.sortBy(-_._2)
    byCount.sliding(2).foreach { case Seq(a, b) =>
      assert(a._3 <= b._3, s"cost must be monotone: $a vs $b")
    }
    assert(model.exists(m => m._1.length >= 2),
      "multi-char pieces must survive EM on this corpus")
    // Viterbi optimality against a brute-force DP recompute on a
    // sample of distinct words (same packed cost+count objective)
    val costs = model.map(m => m._1 -> m._3).toMap
    def bruteBest(w: String): Long = {
      val n = w.length
      val dp = Array.fill(n + 1)(Long.MaxValue / 2)
      dp(0) = 0L
      for (p <- 1 to n; l <- 1 to math.min(4, p)) {
        val sub = w.substring(p - l, p)
        costs.get(sub).foreach { c =>
          dp(p) = math.min(dp(p), dp(p - l) + c * 1048576L + 1L)
        }
      }
      dp(n)
    }
    val enc = q("q_unigram_encode").as[(Long, Long, Long, Long)].collect()
    enc.foreach { case (id, nWords, nChars, nUni) =>
      assert(nUni >= 0 && nUni <= nChars, s"doc $id piece count bounds")
    }
    // per-word check on the 200 most frequent words: the engine's
    // Viterbi piece count equals the brute DP's packed-optimal count
    val words = Tables.documents(spark, sfDir)
      .select(explode(split($"text", " ")).as("w"))
      .filter(length($"w") >= 1)
      .groupBy("w").count().orderBy($"count".desc, $"w").limit(200)
      .select("w").as[String].collect()
    val wl = graft.ops.Text.unigramWordPieces(spark, sfDir)
      .as[(String, Int)].collect().toMap
    words.foreach { w =>
      val best = bruteBest(w)
      assert(best < Long.MaxValue / 4, s"'$w' must be segmentable")
      assert(wl(w).toLong === best % 1048576L,
        s"'$w': engine pieces ${wl(w)} != optimal ${best % 1048576L}")
    }
    // the family audit: both families present for every language, and
    // the unigram rows are internally consistent (fertility >= 1)
    val fert = q("q_tokenizer_fertility")
      .as[(String, String, Long, Long, Double, Double)].collect().toSeq
    val fams = fert.groupBy(_._2).view.mapValues(_.map(_._1).toSet)
    fams.foreach { case (lang, fs) =>
      assert(fs === Set("bpe", "unigram"), s"$lang families $fs")
    }
    assert(fert.forall(r => r._5 >= 1.0),
      "every word is at least one token under either family")
  }

  test("bpe persist: the parquet round-trip re-encodes token-for-token") {
    // the build/serve split (VERDICT r13 #2): training writes the merge
    // table, a fresh lineage loads it and re-encodes — the persisted
    // tokenizer must price every document EXACTLY like the one-shot
    // train+encode pipeline (same contract as q_ann_persist vs the
    // in-memory funnel)
    val oneShot = q("q_bpe_encode").as[(Long, Long, Long, Long)].collect().toSeq
    val persisted = q("q_bpe_persist").as[(Long, Long, Long, Long)].collect().toSeq
    assert(persisted === oneShot,
      "loaded-tokenizer encoding must equal the one-shot encode row-for-row")
  }

  test("leakage-safe split: no near-dup pair straddles train/val; per-doc hashing would") {
    // the whole point of cluster-keyed splitting: every near-dup pair
    // shares its cluster's split, structurally
    val perDoc = graft.ops.Text.docsWithClusterSplit(spark, sfDir)
      .select($"doc_id", $"cluster_id", $"split")
    val pairs = SparkEntry.queries("q_fuzzy_dedup")(spark, sfDir)
      .select($"ai", $"bi")
    val straddling = pairs
      .join(perDoc.select($"doc_id".as("ai"), $"split".as("sa")), "ai")
      .join(perDoc.select($"doc_id".as("bi"), $"split".as("sb")), "bi")
      .filter($"sa" =!= $"sb").count()
    assert(straddling === 0, "a near-dup pair crossed the split boundary")
    // the split partitions the corpus exactly, and a cluster is never
    // counted in both splits
    val agg = SparkEntry.queries("q_leakage_safe_split")(spark, sfDir)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(agg.map(_._2).sum === Tables.documents(spark, sfDir).count())
    val clustersBoth = perDoc.select($"cluster_id", $"split").distinct()
      .groupBy("cluster_id").count().filter($"count" > 1).count()
    assert(clustersBoth === 0, "a cluster appears in both splits")
    // determinism: two runs agree row-for-row
    assert(agg === SparkEntry.queries("q_leakage_safe_split")(spark, sfDir)
      .as[(String, Long, Long, Long)].collect().toSeq)
  }

  test("language ID predicts constructed sentences correctly") {
    val samples = Seq(
      (1L, "the cat is in the house and it is warm"),
      (2L, "der hund ist nicht in das haus und die katze"),
      (3L, "le chat est dans la maison et les oiseaux"),
      (4L, "el perro es un animal y los gatos que viven"),
      (5L, "我 是 他 的 不 在 有 了"))
    // langId reads Tables.documents; validate the same scoring logic inline
    val toks = split(col("text"), " ")
    val profiles = Seq(
      "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it"),
      "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
      "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans"),
      "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "que"),
      "zh" -> Seq("的", "是", "了", "在", "我", "有", "他", "不"))
    val scored = profiles.map { case (lang, words) =>
      struct(size(filter(toks, w => w.isin(words: _*))).as("score"), lit(lang).as("lang"))
    }
    val got = samples.toDF("doc_id", "text")
      .withColumn("best", array_max(array(scored: _*)))
      .select($"doc_id", $"best.lang").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es", 5L -> "zh"))
  }

  test("q_lang_id runs over the corpus and scores are sane") {
    val r = q("q_lang_id")
    assert(r.count() === Tables.documents(spark, sfDir).count())
    assert(r.filter($"score" < 0).count() === 0)
  }

  test("winnowing fingerprints: near-identical docs share most fingerprints") {
    // the 0.98-Jaccard planted pair must agree on fp_min with high odds;
    // weaker, deterministic check: fingerprint sets are nonempty and
    // bounded by the gram count
    val fp = q("q_doc_fingerprint")
    // the filter is pushed below the projections with the hash array
    // inlined into it; no lambda may then nest the md5 hashing lambda,
    // or every window re-hashes the whole document
    import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, Md5}
    val rehash = fp.filter($"n_fp" <= 0).queryExecution.optimizedPlan
      .flatMap(_.expressions)
      .flatMap(_.collect { case lf: LambdaFunction => lf })
      .filter(_.function.find {
        case inner: LambdaFunction => inner.find(_.isInstanceOf[Md5]).isDefined
        case _ => false
      }.isDefined)
    assert(rehash.isEmpty, s"a lambda re-hashes per element: ${rehash.take(1)}")
    assert(fp.filter($"n_fp" <= 0).count() === 0)
    val docs = Tables.documents(spark, sfDir).select("doc_id", "n_chars")
    val joined = fp.join(docs, "doc_id")
    assert(joined.filter($"n_fp" > $"n_chars").count() === 0)
  }

  test("approx_percentile sketch tracks the exact percentiles within its accuracy bound") {
    import org.apache.spark.sql.functions._
    val both = Tables.documents(spark, sfDir)
      .groupBy("lang")
      .agg(
        percentile(col("n_chars"), lit(0.5)).as("exact50"),
        approx_percentile(col("n_chars"), lit(0.5), lit(10000)).as("approx50"))
      .select("exact50", "approx50")
      .as[(Double, Double)].collect()
    assert(both.nonEmpty)
    both.foreach { case (exact, approx) =>
      assert(math.abs(approx - exact) / exact < 0.05,
        s"approx p50 $approx drifted from exact $exact")
    }
  }

  test("stratified sample respects per-stratum fractions and is seed-stable") {
    import org.apache.spark.sql.functions._
    val fractions = Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25,
      "es" -> 0.1, "zh" -> 0.1)
    val totals = Tables.documents(spark, sfDir)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    val sampled = q("q_stratified_sample")
      .as[(String, Long)].collect().toMap
    fractions.foreach { case (lang, f) =>
      val total = totals(lang)
      val got = sampled.getOrElse(lang, 0L).toDouble
      // Bernoulli tolerance: 4 sigma on sqrt(n p (1-p))
      val sigma = math.sqrt(total * f * (1 - f))
      assert(math.abs(got - total * f) <= 4 * sigma + 1,
        s"$lang: sampled $got of $total at fraction $f")
    }
    // seed-determinism: re-running yields the identical sample
    val again = q("q_stratified_sample").as[(String, Long)].collect().toMap
    assert(again === sampled)
  }

  test("collocations rank by PMI with min-count cut; scores recompute from raw counts") {
    import org.apache.spark.sql.functions._
    val rows = q("q_collocations")
      .as[(String, String, Long, Double)].collect().toSeq
    assert(rows.size === 30)
    assert(rows.forall(_._3 >= 5), "min-count threshold violated")
    // ordering: rounded PMI descending with (a, b) tie-break
    rows.sliding(2).foreach {
      case Seq((a1, b1, _, p1), (a2, b2, _, p2)) =>
        assert(p1 > p2 || (p1 == p2 && (a1 < a2 || (a1 == a2 && b1 <= b2))))
      case _ =>
    }
    // independent recomputation of the top pair's PMI from raw counts
    val (ta, tb, tc, tp) = rows.head
    val toks = Tables.documents(spark, sfDir)
      .select(split($"text", " ").as("w")).cache()
    try {
      val nu = toks.select(explode($"w").as("t")).count()
      val ca = toks.select(explode($"w").as("t")).filter($"t" === ta).count()
      val cb = toks.select(explode($"w").as("t")).filter($"t" === tb).count()
      val nb = toks.select((size($"w") - 1).as("m")).filter($"m" > 0)
        .agg(sum($"m")).as[Long].head()
      val pmi = math.log((tc.toDouble / nb) / ((ca.toDouble / nu) * (cb.toDouble / nu))) / math.log(2)
      assert(math.abs(pmi - tp) < 1e-3, s"PMI $tp != recomputed $pmi")
    } finally toks.unpersist()
  }

  test("phrase rewrite matches a local greedy-merge recomputation on every doc") {
    val phrases = q("q_collocations")
      .as[(String, String, Long, Double)].collect()
      .map(r => r._1 + " " + r._2).toSet
    assert(phrases.size === 30)
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val got = q("q_phrase_rewrite")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.size === docs.length)
    var merged = 0
    docs.foreach { case (id, text) =>
      val w = text.split(" ", -1)
      val pieces = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < w.length) {
        if (i < w.length - 1 && phrases(w(i) + " " + w(i + 1))) {
          pieces += w(i) + "_" + w(i + 1); i += 2
        } else { pieces += w(i); i += 1 }
      }
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(pieces.mkString(" ").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(got(id) === ((w.length.toLong, pieces.size.toLong, md5)),
        s"doc $id diverged from local greedy merge")
      if (pieces.size < w.length) merged += 1
    }
    assert(merged > 0, "corpus should contain mergeable phrase pairs")
  }

  test("bpe word lengths at depth 64 match a local sequential recompute") {
    // the realistic-depth tier: 64 driver-loop rounds, checked against
    // a plain sequential Scala BPE over the same word-frequency table
    val freq = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    Tables.documents(spark, sfDir).select($"text").as[String].collect()
      .foreach(_.split(" ", -1).foreach(w => freq(w) += 1L))
    var syms: Map[String, (IndexedSeq[String], Long)] =
      freq.toMap.map { case (w, f) => w -> ((w.map(_.toString), f)) }
    (1 to 64).foreach { _ =>
      val pc = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      syms.values.foreach { case (ss, f) =>
        (0 until ss.length - 1).foreach(i => pc((ss(i), ss(i + 1))) += f)
      }
      if (pc.nonEmpty) {
        val ((ta, tb), _) = pc.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        syms = syms.map { case (w, (ss, f)) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < ss.length) {
            if (i < ss.length - 1 && ss(i) == ta && ss(i + 1) == tb) {
              out += ta + tb; i += 2
            } else { out += ss(i); i += 1 }
          }
          w -> ((out.toIndexedSeq, f))
        }
      }
    }
    val got = graft.ops.Text.bpeWordLengthsAt(spark, sfDir, 64)
      .as[(String, Int)].collect().toMap
    assert(got.size === syms.size)
    syms.foreach { case (w, (ss, _)) =>
      assert(got(w) === ss.length, s"word '$w' diverged at depth 64")
    }
    // depth actually matters: 64 rounds compress beyond the oracled tier
    val shallow = graft.ops.Text.bpeWordLengthsAt(spark, sfDir,
      graft.ops.Text.BpeMerges)
      .agg(sum($"n_bpe")).as[Long].head()
    val deep = got.values.map(_.toLong).sum
    assert(deep < shallow, s"64-merge total $deep !< ${graft.ops.Text.BpeMerges}-merge total $shallow")
  }

  test("bpe training matches a local N-merge recomputation") {
    val freq = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    Tables.documents(spark, sfDir).select($"text").as[String].collect()
      .foreach(_.split(" ", -1).foreach(w => freq(w) += 1L))
    var syms: Map[String, (IndexedSeq[String], Long)] =
      freq.toMap.map { case (w, f) => w -> ((w.map(_.toString), f)) }
    def pairCounts: Map[(String, String), Long] = {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      syms.values.foreach { case (ss, f) =>
        (0 until ss.length - 1).foreach(i => pc((ss(i), ss(i + 1))) += f)
      }
      pc.toMap
    }
    def top(pc: Map[(String, String), Long], k: Int) =
      pc.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }.take(k)
    val got = q("q_bpe_train").as[(Int, Int, String, String, Long)].collect()
      .groupBy(_._1).map { case (st, rs) => st -> rs.sortBy(_._2).toSeq }
    assert(got.keySet === (1 to graft.ops.Text.BpeMerges).toSet,
      s"one step table per merge round, got ${got.keySet}")
    (1 to graft.ops.Text.BpeMerges).foreach { step =>
      val pc = pairCounts
      val expect = top(pc, 5)
      assert(got(step).length === expect.length,
        s"step $step returned ${got(step).length} of ${expect.length} rows")
      expect.zip(got(step)).foreach { case (((a, b), c), (_, _, ga, gb, gc)) =>
        assert((a, b, c) === ((ga, gb, gc)), s"step $step diverged")
      }
      val (ta, tb) = expect.head._1
      syms = syms.map { case (w, (ss, f)) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < ss.length) {
          if (i < ss.length - 1 && ss(i) == ta && ss(i + 1) == tb) {
            out += ta + tb; i += 2
          } else { out += ss(i); i += 1 }
        }
        w -> ((out.toIndexedSeq, f))
      }
    }
  }

  test("bigram lm matches a local interpolated recomputation") {
    val texts = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val uni = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val ctx = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val bi = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    var nu = 0L
    texts.foreach { case (_, t) =>
      val w = t.split(" ", -1)
      w.foreach { x => uni(x) += 1; nu += 1 }
      (0 until w.length - 1).foreach { i =>
        ctx(w(i)) += 1; bi((w(i), w(i + 1))) += 1
      }
    }
    def ll(a: String, b: String): Double = {
      val v = math.log(0.7 * (bi((a, b)).toDouble / ctx(a)) +
        0.3 * (uni(b).toDouble / nu))
      math.rint(v * 1e8) / 1e8
    }
    val got = q("q_bigram_lm").as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val scored = texts.filter(_._2.split(" ", -1).length >= 2)
    assert(got.size === scored.length)
    scored.foreach { case (id, t) =>
      val w = t.split(" ", -1)
      val lls = (0 until w.length - 1).map(i => ll(w(i), w(i + 1)))
      val mean = lls.sum / lls.size
      val (nb, gmean) = got(id)
      assert(nb === w.length - 1L)
      assert(math.abs(gmean - mean) < 1e-3, s"doc $id: got $gmean, local $mean")
      assert(gmean <= 0.0, "log-probabilities must be non-positive")
    }
  }

  test("hash embed matches a local hashing-trick recomputation") {
    val texts = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    def fh(tok: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"fh:$tok".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.take(12), 16)
    }
    val got = q("q_hash_embed").as[(Long, Int, Double, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.size === texts.length)
    texts.foreach { case (id, t) =>
      val v = Array.fill(64)(0L)
      t.split(" ", -1).foreach { tok =>
        val h = fh(tok)
        v((h % 64).toInt) += (if ((h / 64) % 2 == 0) 1L else -1L)
      }
      val nnz = v.count(_ != 0)
      val l2 = math.rint(math.sqrt(v.map(x => (x * x).toDouble).sum) * 1e4) / 1e4
      val vhash = java.security.MessageDigest.getInstance("MD5")
        .digest(v.mkString(",").getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(got(id) === ((nnz, l2, vhash)), s"doc $id diverged")
    }
  }

  test("text quality signals are consistent") {
    val r = q("q_text_quality")
    assert(r.filter($"stop_ratio" < 0 || $"stop_ratio" > 1).count() === 0)
    assert(r.filter($"avg_tok_len" <= 0).count() === 0)
    // n_tokens * avg_tok_len == total chars of tokens ≤ n_chars of text
    val docs = Tables.documents(spark, sfDir)
    val j = r.join(docs, "doc_id")
      .filter(round($"n_tokens" * $"avg_tok_len").cast("long") > $"n_chars")
    assert(j.count() === 0)
  }

  test("bucket-pruned heavy hitters equal the direct HAVING aggregate") {
    val got = q("q_heavy_hitters").as[(String, Long)].collect().toMap
    val want = Tables.documents(spark, sfDir)
      .select(explode(split($"text", " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .filter($"n" >= 200)
      .as[(String, Long)].collect().toMap
    assert(got === want, "the bucket prune must be lossless")
    assert(got.nonEmpty, "corpus has heavy tokens at every SF")
  }

  test("bloom screen flags every true duplicate; false positives stay rare") {
    // doc 4 (eval: id % 4 == 0) duplicates train doc 1's text exactly
    val planted = Seq(
      (1L, "the shared contaminated passage"),
      (2L, "an unrelated training doc"),
      (3L, "another training doc entirely"),
      (4L, "the shared contaminated passage"),
      (8L, "a clean evaluation doc")
    ).toDF("doc_id", "text")
    val flagged = graft.ops.Text.bloomScreen(planted)
      .as[(Long, Boolean)].collect().toMap
    assert(flagged(4L), "a true duplicate must never be missed")
    // corpus-wide: flags on the real (all-unique) eval docs are false
    // positives and must stay under a loose 5% of the eval split
    val r = q("q_bloom_contamination").as[(Long, Boolean)].collect()
    assert(r.count(_._2) <= math.max(1, r.length / 20),
      s"${r.count(_._2)} of ${r.length} flagged — bloom too dense")
  }

  test("repetition signals match an explode-based relational twin") {
    val r = q("q_repetition").cache()
    // bounds: each fraction in [0,1]; mode covers at least 1/n of tokens
    // (frac is rounded to 4 dp, so allow ±0.00005·n of rounding slack)
    assert(r.filter($"dup_tok_frac" < 0 || $"dup_tok_frac" > 1).count() === 0)
    assert(r.filter($"top_tok_frac" * $"n_tok" < lit(1) - lit(0.00005) * $"n_tok").count() === 0)
    // the HOF mode count ≡ explode → groupBy(doc, token) → max(count)
    val twin = Tables.documents(spark, sfDir)
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max($"c").as("mode"), sum($"c").as("n"))
      .select($"doc_id", round($"mode".cast("double") / $"n", 4).as("want"))
    val bad = r.join(twin, "doc_id").filter($"top_tok_frac" =!= $"want").count()
    assert(bad === 0, "HOF top-token fraction must equal the relational mode")
  }

  test("fuzzy blocking keeps one-edit recall for 3-4-token docs without fusing short docs") {
    // planted corpus: two 4-token near-dups differing in ONE token (must
    // still be candidates via the surviving half probe), plus unrelated
    // same-band short docs (must NOT all fuse into one md5-of-empty block)
    val docs = Seq(
      (1L, "alpha beta gamma delta"), // pair with 2: edit in second half
      (2L, "alpha beta gamma DELTA"),
      (3L, "one two three four"),     // unrelated, same length band
      (4L, "red green blue cyan"),    // unrelated, same length band
      (5L, "aa bb")                   // ≤2 tokens: single whole-text probe
    ).map { case (id, t) => (id, t, t.length.toLong) }
    val dir = java.nio.file.Files.createTempDirectory("graft_fuzzy_short").toString
    import spark.implicits._
    docs.toDF("doc_id", "text", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cand = graft.ops.Text.fuzzyCandidates(spark, dir)
      .select("ai", "bi").as[(Long, Long)].collect().toSet
    assert(cand.contains((1L, 2L)),
      "a one-token edit in one half must leave the other half's probe intact")
    // unrelated docs share a band but no probe: the degenerate md5("")
    // fusion would have produced ALL within-band pairs here
    assert(!cand.contains((3L, 4L)) && !cand.contains((1L, 3L)) &&
      !cand.contains((1L, 4L)),
      s"unrelated short docs must not become candidates: $cand")
  }

  test("perplexity buckets split each language into ordered thirds") {
    val rows = q("q_perplexity_buckets").collect()
    val byLang = rows.groupBy(_.getAs[String]("lang"))
    val langDocs = Tables.documents(spark, sfDir)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    byLang.foreach { case (lang, g) =>
      assert(g.map(_.getAs[Int]("bucket")).sorted.toSeq === Seq(1, 2, 3))
      val sizes = g.sortBy(_.getAs[Int]("bucket")).map(_.getAs[Long]("n_docs"))
      // ntile thirds: sizes differ by at most 1 and partition the language
      assert(sizes.max - sizes.min <= 1, s"$lang sizes: ${sizes.toSeq}")
      assert(sizes.sum === langDocs(lang))
      // head is the most fluent third: avg scores are non-increasing and
      // the buckets' score envelopes do not interleave
      val sorted = g.sortBy(_.getAs[Int]("bucket"))
      val avgs = sorted.map(_.getAs[Double]("avg_ll"))
      assert(avgs.zip(avgs.tail).forall { case (a, b) => a >= b }, s"$lang: ${avgs.toSeq}")
      sorted.sliding(2).foreach {
        case Array(hi, lo) =>
          assert(hi.getAs[Double]("worst_ll") >= lo.getAs[Double]("best_ll") - 1e-9)
        case _ => ()
      }
    }
  }

  test("tokenizer fertility: per-language ratios are consistent with the encode pass") {
    val rows = q("q_tokenizer_fertility").collect()
    val langs = Tables.documents(spark, sfDir)
      .select("lang").distinct().as[String].collect().toSet
    // both families audit every language, and nothing else
    val byFamily = rows.groupBy(_.getAs[String]("family"))
    assert(byFamily.keySet === Set("bpe", "unigram"))
    byFamily.values.foreach { g =>
      assert(g.map(_.getAs[String]("lang")).toSet === langs)
    }
    rows.foreach { r =>
      val w = r.getAs[Long]("n_words"); val t = r.getAs[Long]("n_tokens")
      // every word is >= 1 piece, every piece >= 1 char
      assert(t >= w, r.toString)
      assert(r.getAs[Double]("fertility") >= 1.0)
      assert(r.getAs[Double]("chars_per_token") >= 1.0)
    }
    // each family's language totals tile ITS corpus-wide encode totals
    // exactly (the family dimension must not cross-contaminate)
    val bpeTotal = q("q_bpe_encode").agg(sum("n_bpe")).as[Long].head()
    assert(byFamily("bpe").map(_.getAs[Long]("n_tokens")).sum === bpeTotal)
    val uniTotal = q("q_unigram_encode").agg(sum("n_uni")).as[Long].head()
    assert(byFamily("unigram").map(_.getAs[Long]("n_tokens")).sum === uniTotal)
  }

  test("dedup recall harness cross-checks against the standalone pair queries") {
    val r = q("q_dedup_recall").collect().head
    val exact = q("q_dedup_ngram").filter($"jac" >= 0.5)
      .select("ai", "bi").as[(Long, Long)].collect().toSet
    val cand = q("q_dedup_minhash").filter($"est_jac" >= 0.5)
      .select("ai", "bi").as[(Long, Long)].collect().toSet
    assert(r.getAs[Long]("n_exact") === exact.size.toLong)
    assert(r.getAs[Long]("n_cand") === cand.size.toLong)
    assert(r.getAs[Long]("hits") === exact.intersect(cand).size.toLong)
    // the planted duplicates guarantee a non-trivial evaluation set, and
    // banded MinHash must find every identical-text pair (identical
    // signatures collide in every band)
    assert(r.getAs[Long]("n_exact") > 0)
    assert(r.getAs[Double]("recall") > 0.9)
  }

  test("quality-aware dedup keeps the longest member of every fingerprint group") {
    import org.apache.spark.sql.expressions.Window
    val out = q("q_dedup_best").cache()
    val docs = Tables.documents(spark, sfDir).select(
      $"doc_id", $"n_chars",
      md5(array_join(slice(split($"text", " "), 1, 8), " ")).as("fp"))
    // independent window twin: rank inside each group by (len desc, id)
    val twin = docs
      .withColumn("rn", row_number().over(
        Window.partitionBy("fp").orderBy($"n_chars".desc, $"doc_id")))
      .filter($"rn" === 1)
    assert(out.count() === twin.count())
    assert(out.join(twin.select($"doc_id"), "doc_id").count() === out.count(),
      "max_by keep-best must pick the window twin's rows exactly")
    // the kept doc is never shorter than any member of its group
    val shorterKept = out.join(docs.select($"doc_id", $"fp"), "doc_id")
      .join(docs.groupBy("fp").agg(max("n_chars").as("mx")), "fp")
      .filter($"n_chars" < $"mx").count()
    assert(shorterKept === 0L)
    // groups are a partition of the corpus
    assert(out.agg(sum("n_group")).collect()(0).getLong(0) ===
      Tables.documents(spark, sfDir).count())
    out.unpersist()
  }

  test("containment flags a quoted subset the symmetric Jaccard cut misses") {
    val docs = Seq(
      // doc 1's 3-gram set is a strict subset of doc 2's (full quote
      // inside a longer wrapper) — containment 1.0, Jaccard diluted
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "intro words first alpha beta gamma delta epsilon then closing remarks trailing onwards afterwards"),
      (3L, "totally different text about other things entirely here"))
      .map { case (id, t) => (id, t, "en", t.length) }
    val dir = java.nio.file.Files.createTempDirectory("graft_containment").toString
    docs.toDF("doc_id", "text", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q_containment")(spark, dir)
      .select("ai", "bi", "side", "cont", "jac")
      .as[(Long, Long, String, Double, Double)].collect().toSeq
    assert(got.map(r => (r._1, r._2)) === Seq((1L, 2L)))
    val (_, _, side, cont, jac) = got.head
    assert(side === "a_in_b" && cont === 1.0)
    assert(jac < 0.5, "the union dilution keeps Jaccard below the containment cut")
    // and the symmetric verifier at its own threshold would NOT pair them
    // as near-dups worth dropping: containment is the extra signal
    assert(jac < cont)
  }

  test("rrf fusion: scores recompute from ranks, ordered, both sides fused") {
    val got = SparkEntry.queries("q_rrf_fusion")(spark, sfDir).collect().toSeq
    assert(got.size === 10)
    def term(r: Any): Double = r match {
      case null => 0.0
      case i: Int => 1.0 / (60.0 + i.toDouble)
    }
    got.foreach { row =>
      val want = term(row.get(2)) + term(row.get(3))
      assert(row.getDouble(1) === want, s"rrf must equal its rank formula: $row")
      assert(!(row.isNullAt(2) && row.isNullAt(3)))
    }
    // descending, ties broken by doc_id
    val scores = got.map(r => (-r.getDouble(1), r.getLong(0)))
    assert(scores === scores.sorted)
    // a doc ranked on BOTH sides must outscore any single-list doc at
    // equal-or-worse ranks; at minimum the fused list is not single-sided
    assert(got.exists(!_.isNullAt(2)) && got.exists(!_.isNullAt(3)))
  }
  test("dedup_soft: cluster mass sums to one, singletons keep weight 1.0") {
    val got = q("q_dedup_soft")
      .select("doc_id", "cluster_id", "csize", "weight").collect()
    // one row per document
    assert(got.length === Tables.documents(spark, sfDir).count())
    got.foreach { r =>
      assert(r.getDouble(3) === 1.0 / r.getLong(2), s"weight != 1/csize: $r")
    }
    // every cluster's weights sum to exactly one document's mass
    got.groupBy(_.getLong(1)).foreach { case (c, rows) =>
      assert(rows.length === rows.head.getLong(2).toInt,
        s"csize disagrees with the cluster's row count for $c")
      assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-9,
        s"cluster $c mass != 1.0")
    }
    // singleton docs keep full weight
    assert(got.filter(_.getLong(2) == 1L).forall(_.getDouble(3) == 1.0))
  }

  test("url_canonical: crawl variants collapse 4 to 2 per document") {
    val got = q("q_url_canonical")
      .select("source", "n_urls", "n_raw", "n_canon")
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (n, raw, canon) = (r.getLong(1), r.getLong(2), r.getLong(3))
      // all four planted variants are distinct as raw strings...
      assert(raw === n, s"raw variants must not collide: $r")
      // ...and canonicalization collapses exactly 4 -> 2 per doc:
      // case/port/fragment noise folds into the bare URL, tracking
      // params drop and the param-order shuffle folds into one
      assert(canon * 2 === n, s"4 variants must canonicalize to 2: $r")
    }
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Publish, Tables}
import graft.functions.VectorFunctions
import Ox._

/** Text-analysis + deduplication operators over `documents` — the
  * LLM-training-data-pipeline tier (SURVEY.md §2 north-star).
  *
  * Scale design: everything is tokenize → explode → hash-aggregate or
  * LSH-bucket-join. The only quadratic-looking step (candidate-pair
  * verification) is always preceded by a bucketing stage (exact gram
  * equality, MinHash bands, SimHash blocks) so the self-join key is the
  * bucket, never the full corpus: at 100 TB the join fan-in per bucket is
  * bounded by collision rate, not corpus size. No driver-side loops; all
  * hashes are xxhash64 (codegen'd, deterministic across runs/executors).
  */
object Text {

  private def tokens: Column = split(col("text"), " ")

  /** 64-bit-hashed word-3-shingles per document, one row per gram
    * occurrence. The token array is materialized in its own projection
    * FIRST: `element_at(split(text), i)` inside the transform lambda
    * would otherwise re-run the regex split per element access —
    * O(tokens²) splits per document (measured 8× the whole operator's
    * runtime). CollapseProject keeps the materialization because split
    * is not a "cheap" expression.
    */
  private def hashedGrams(s: SparkSession, dir: String): DataFrame = {
    val toks = col("toks")
    Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(toks) >= 3)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(toks) - 3),
        i => xxhash64(concat_ws(" ",
          element_at(toks, i + 1),
          element_at(toks, i + 2),
          element_at(toks, i + 3))))).as("gram"))
  }

  /** N-gram novelty (the curriculum/novelty-ordering signal): for each
    * document, how many of its distinct 3-grams appear for the FIRST
    * time in the corpus in this document (first = min doc_id over the
    * gram's posting). A doc full of already-seen grams is boilerplate;
    * a high-novelty doc carries new content. Same inverted-index shape
    * as q_tfidf: one shuffle on the gram key (the 16-byte two-lane
    * xxhash64 pair — hash equality IS gram equality at that width, the
    * q_contamination argument), a co-located join back (the gram
    * exchange is reused), one shuffle on doc_id. The DuckDB twin
    * compares the gram STRINGS, keeping the hashed path
    * exactness-checked.
    */
  private def ngramNovelty(s: SparkSession, dir: String): DataFrame = {
    val toks = col("toks")
    val grams = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(toks) >= 3)
      .select(col("doc_id"), explode(array_distinct(transform(
        sequence(lit(0), size(toks) - 3),
        i => concat_ws(" ",
          element_at(toks, i + 1),
          element_at(toks, i + 2),
          element_at(toks, i + 3))))).as("gram"))
      .select(col("doc_id"),
        xxhash64(col("gram")).as("h1"), xxhash64(lit(1), col("gram")).as("h2"))
      // pre-partition on the gram key so the min-doc aggregate and the
      // join back both sit on ONE exchange of the gram stream
      .repartition(col("h1"), col("h2"))
    val firsts = grams.groupBy("h1", "h2").agg(min(col("doc_id")).as("first_doc"))
    grams.join(firsts, Seq("h1", "h2"))
      .groupBy("doc_id")
      .agg(cnt.as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------ exact dedup

  /** Exact dedup via content hash: one hash-aggregate, the keeper is the
    * min doc_id per hash (deterministic). This is the 100 TB workhorse —
    * a single shuffle on md5(text).
    */
  private def dedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), cnt.as("n"))
      .orderBy("h")

  /** Quality-aware canonical selection: collapse near-dup groups (the
    * leading-content fingerprint blocks q_dedup_pack_pipeline uses) but
    * keep the BEST member — longest doc, doc_id tie-break — instead of
    * the first. The curation policy real pipelines run (keep the
    * highest-quality copy of boilerplate-sharing pages, drop the rest).
    * One `max_by` hash aggregate: combinable map-side, so a viral
    * template shared by 10⁶ pages ships one candidate per input
    * partition — same scale shape as q_passage_rewrite's keep-first.
    */
  private def dedupBest(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
        md5(array_join(slice(split(col("text"), " "), 1, 8), " ")).as("fp"))
      .groupBy("fp")
      .agg(max_by(struct(col("doc_id"), col("n_chars")),
        struct(col("n_chars"), -col("doc_id"))).as("m"), cnt.as("n_group"))
      .select(col("m.doc_id").as("doc_id"), col("m.n_chars").as("n_chars"),
        col("n_group"))
      .orderBy("doc_id")

  // ------------------------------------------------------------ text stats

  /** Corpus word frequency: tokenize → explode → count. The classic
    * map-side-combinable aggregation.
    */
  private def textStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(tokens).as("word"))
      .groupBy("word")
      .agg(cnt.as("n"))
      .orderBy(col("n").desc, col("word"))

  /** Per-document quality signals: token count, mean token length,
    * stopword ratio — all computed with higher-order array functions
    * inside one projection (no explode, no shuffle).
    */
  private def textQuality(s: SparkSession, dir: String): DataFrame = {
    val nTok = size(tokens)
    val charSum = aggregate(tokens, lit(0), (a, w) => a + length(w))
    val stopCnt = size(filter(tokens, w => w.isin("the", "a")))
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        nTok.as("n_tokens"),
        round(charSum.cast("double") / nTok, 4).as("avg_tok_len"),
        round(stopCnt.cast("double") / nTok, 4).as("stop_ratio"))
      .orderBy("doc_id")
  }

  /** Token counting two ways: whitespace split and a BPE-ish regex
    * (bounded-length lowercase runs — a stand-in for subword units).
    */
  private def tokenCount(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        size(tokens).as("ws_tokens"),
        regexp_count(col("text"), lit("[a-z]+")).as("word_tokens"),
        regexp_count(col("text"), lit("[a-z]{1,4}")).as("subword_tokens"))
      .orderBy("doc_id")

  /** Gopher-style repetition signals per document — the quality gate
    * that catches degenerate/boilerplate text before training: duplicate
    * -token fraction, most-frequent-token coverage, and most-frequent-
    * bigram coverage. Pure codegen'd projection (no explode, no shuffle —
    * embarrassingly parallel at 100 TB); the token array is materialized
    * in its OWN projection first so the nested per-distinct-token counts
    * index an attribute, not a re-evaluated `split` (the O(tokens²)
    * regex trap documented in SURVEY §8). Per-row cost is O(n·distinct)
    * integer/string compares, bounded by document length.
    */
  private def repetition(s: SparkSession, dir: String): DataFrame = {
    val toks = col("toks")
    val n = size(toks)
    // mode count via nested HOFs: for each distinct token, count its
    // occurrences; take the max (outer lambda var feeds the inner filter)
    def modeCount(arr: Column) = array_max(transform(array_distinct(arr),
      t => size(filter(arr, x => x === t))))
    val grams = col("grams")
    Tables.documents(s, dir)
      .select(col("doc_id"), tokens.as("toks"))
      .select(col("doc_id"), toks, when(n >= 2,
        transform(sequence(lit(1), n - 1),
          i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
        .otherwise(array().cast("array<string>")).as("grams"))
      .select(col("doc_id"),
        n.cast("long").as("n_tok"),
        round((n - size(array_distinct(toks))).cast("double") / n, 4)
          .as("dup_tok_frac"),
        round(modeCount(toks).cast("double") / n, 4).as("top_tok_frac"),
        round(when(size(grams) > 0,
          modeCount(grams).cast("double") / size(grams)).otherwise(lit(0.0)), 4)
          .as("top_bigram_frac"))
      .orderBy("doc_id")
  }

  /** Sketch-guided exact heavy hitters: find every token occurring ≥ 200
    * times without a full-vocabulary aggregate. Stage 1 hash-buckets
    * tokens into 1024 counters (fixed memory, map-side combined);
    * stage 2 re-aggregates EXACTLY only the tokens whose bucket total
    * clears the threshold — sound because a token's bucket count is an
    * upper bound on its own count (zero false negatives; false-positive
    * buckets only cost extra work, never wrong output). At 100 TB this
    * is how you take heavy hitters over an unbounded key space (URLs,
    * n-grams) where the exact groupBy's hash table would not fit; the
    * oracle is the direct HAVING query, so a pass proves the two-stage
    * prune changes nothing.
    */
  private def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    val thresh = 200L
    val words = Tables.documents(s, dir)
      .select(explode(tokens).as("word"))
      .withColumn("bkt", pmod(xxhash64(col("word")), lit(1024)))
    val heavyBuckets = words.groupBy("bkt").agg(cnt.as("bn"))
      .filter(col("bn") >= thresh)
      .select("bkt")
    words.join(broadcast(heavyBuckets), "bkt")
      .groupBy("word")
      .agg(cnt.as("n"))
      .filter(col("n") >= thresh)
      .orderBy(col("n").desc, col("word"))
  }

  /** Bloom-filter contamination screen: the train split folds into one
    * fixed-size bitset (functions/BloomAggregator.scala — mergeable, so
    * partial aggregation ships a few KB per map task, never the keys)
    * and every eval document probes the broadcast sketch. This is the
    * 100 TB shape when the train side is too large for the exact
    * anti-join of q_contamination: cost = one agg pass over train + a
    * projection over eval, with a bounded false-positive rate and zero
    * false negatives (the spec plants a true duplicate and asserts it
    * always flags). Oracled by SEMANTIC equivalence: DuckDB rebuilds
    * the same probe-position set relationally and re-derives every
    * verdict — bitset mechanics included, since positions are plain
    * shift/mod arithmetic on the same 48-bit md5 key.
    */
  private def bloomContamination(s: SparkSession, dir: String): DataFrame =
    bloomScreen(Tables.documents(s, dir))

  /** The screen itself over any (doc_id, text) frame — split out so the
    * spec can plant a true duplicate and assert zero false negatives.
    */
  private[graft] def bloomScreen(input: DataFrame): DataFrame = {
    import org.apache.spark.sql.Encoders
    val m = 4096
    val u = conv(substring(md5(concat(lit("bloom:"), col("text"))), 1, 12), 16, 10)
      .cast("long")
    val docs = input.select(col("doc_id"), u.as("u"))
    val train = docs.filter(col("doc_id") % 4 =!= 0)
    val evalDocs = docs.filter(col("doc_id") % 4 === 0)
    val bloomAgg = udaf(new graft.functions.BloomAggregator(m, 3), Encoders.scalaLong)
    val bloom = train.agg(bloomAgg(col("u")).as("bits"))
    val hit = (0 until 3).map { i =>
      val p = shiftright(col("u"), 12 * i) % m
      // shift amount is a column here, so route through the SQL function
      (call_function("shiftright",
        element_at(col("bits"), expr(s"cast(pmod(shiftright(u, ${12 * i}), $m) div 64 as int) + 1")),
        (p % 64).cast("int")).bitwiseAND(lit(1L))) === 1L
    }.reduce(_ && _)
    evalDocs.crossJoin(broadcast(bloom))
      .select(col("doc_id"), hit.as("might_contain"))
      .orderBy("doc_id")
  }

  /** TF-IDF top terms per document — the classic relevance/keyword
    * extraction pass of a curation pipeline. Two hash-aggregates (tf per
    * (doc, word); df per word) and one broadcast of the scalar corpus
    * size; the per-doc top-3 cut is a windowed rank with a deterministic
    * (score DESC, word ASC) tie-break. `ln` is IEEE-identical on
    * identical doubles in practice, and the spec-visible score is rounded
    * to 4 dp, so the query is fully oracled. Both aggregations are
    * map-side combinable; nothing touches the driver.
    */
  private def tfidf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val words = docs.select(col("doc_id"), explode(tokens).as("word"))
    val tf = words.groupBy("doc_id", "word").agg(cnt.as("tf"))
    // df derives FROM tf (one row per distinct (doc, word) already), not
    // from `words`: branching before the first shuffle would scan and
    // explode the corpus twice — tf's exchange is the reuse point.
    // The tf >= 1 filter is always true but the optimizer can't prove
    // it, so it CANNOT prune the count from this branch's partial
    // aggregate — without it the df branch plans a distinct-shaped
    // exchange (functions=[]) that no longer matches tf's and the scan
    // re-runs (observed: 3 corpus scans instead of 2)
    val df_ = tf.filter(col("tf") >= 1).groupBy("word").agg(cnt.as("df"))
    val n = docs.agg(cnt.as("n_docs"))
    val scored = tf.join(df_, "word")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")))
    scored
      .withColumn("term_rank", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("word"))))
      .filter(col("term_rank") <= 3)
      .select(col("doc_id"), col("term_rank"), col("word"),
        round(col("tfidf"), 4).as("score"))
      .orderBy("doc_id", "term_rank")
  }

  /** BM25 top-10 retrieval for a fixed query — the sparse-retrieval
    * baseline (Robertson/Okapi, the Lucene `+1` IDF variant) that a
    * training-data pipeline runs for retrieval-based decontamination
    * and DSIR-style relevance selection; q_tfidf ranks terms WITHIN a
    * document, this ranks documents FOR a query, with tf saturation
    * (k1 = 1.2) and length normalization (b = 0.75).
    *
    * Scale shape is the inverted-index probe: the query-term filter
    * sits UNDER the (doc, word, dl) aggregate, so the only corpus-sized
    * shuffle carries the query terms' postings — at 100 TB that is
    * O(posting lists), not O(corpus), exactly what serving from a real
    * inverted index costs (the fixture's word-soup vocabulary makes
    * postings dense here; Zipf makes them sparse in real corpora). The
    * df table is |Q|-bounded and the (n_docs, total_tokens) stats are
    * one scalar row — both broadcast. Per-term contributions sum in
    * DECIMAL(18,8) (order-independent, engine-exact; generic doubles
    * never sit on the cast tie) and the top-10 is a
    * TakeOrderedAndProject over (rounded score DESC, doc_id) — both
    * engines rank the same rounded value, so a sub-4dp score tie cannot
    * flip the cut.
    */
  private def bm25(s: SparkSession, dir: String): DataFrame =
    bm25Scores(s, dir).orderBy(col("bm25").desc, col("doc_id")).limit(10)

  /** The full (doc_id, bm25) score table for the fixed query — split
    * out so the RRF fusion can rank the same scores without re-stating
    * the pipeline; q_bm25 is this plus the top-10 cut.
    */
  private def bm25Scores(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val qTerms = Seq("scan", "merge", "window")
    val base = Tables.documents(s, dir).select(col("doc_id"), tokens.as("w"))
    // one scalar row: corpus size + total token count -> avgdl
    val stats = base.agg(cnt.as("n_docs"),
      sum(size(col("w")).cast("long")).as("tot"))
    // postings of the query terms only: dl rides the explode so no
    // second corpus scan / doc-length join is needed; dl is functionally
    // dependent on doc_id so adding it to the grouping key is free
    val cand = base
      .select(col("doc_id"), size(col("w")).as("dl"), explode(col("w")).as("word"))
      .filter(col("word").isin(qTerms: _*))
      .groupBy("doc_id", "dl", "word").agg(cnt.as("tf"))
    // df per query term derives from the aggregated postings (branch
    // after the shuffle, never re-scan), |Q| rows. The always-true
    // tf >= 1 filter is the q_tfidf exchange-reuse pin: without it this
    // branch prunes tf away, its partial aggregate stops canonicalizing
    // equal to cand's, and the corpus scans twice (plan-verified).
    val dfq = cand.filter(col("tf") >= 1).groupBy("word").agg(cnt.as("df"))
    val avgdl = col("tot").cast(DoubleType) / col("n_docs").cast(DoubleType)
    val idf = log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    val tfd = col("tf").cast(DoubleType)
    val part = (tfd * lit(2.2)) /
      (tfd + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast(DoubleType) / avgdl))
    cand.join(broadcast(dfq), "word")
      .crossJoin(broadcast(stats))
      .groupBy("doc_id")
      .agg(sum((idf * part).cast(DecimalType(18, 8))).as("sdec"))
      .select(col("doc_id"), round(col("sdec").cast(DoubleType), 4).as("bm25"))
  }

  /** Hybrid retrieval — reciprocal-rank fusion of the BM25 sparse list
    * and the dense cosine list (k = 60, the Cormack/Clarke constant):
    * rrf = Σ 1/(60 + rank) over the lists that retrieved the doc.
    * This is the standard two-tower serving fusion (lexical recall +
    * semantic recall, neither score calibrated against the other — RRF
    * needs only RANKS, which is why it survives at scale unchanged).
    * Each side cuts to its top-20 with TakeOrderedAndProject (a
    * distributed heap — the global row_number runs AFTER the cut, over
    * 20 rows), the fusion is a full outer join of two 20-row sides, and
    * ranks are integers so every 1/(60+r) term and their sum is the
    * same IEEE double in both engines. Docs without an embedding row
    * simply never appear on the dense side — the realistic partial-
    * coverage case the outer join exists for.
    */
  private def rrfFusion(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 20
    val sparse = bm25Scores(s, dir)
      .orderBy(col("bm25").desc, col("doc_id")).limit(k)
      .withColumn("rank_s",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))))
      .select("doc_id", "rank_s")
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val dense = e.crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        round(VectorFunctions.cosine_sim(s, col("embedding"), col("qv")), 4).as("cosv"))
      .filter(col("doc_id") =!= 0)
      .orderBy(col("cosv").desc, col("doc_id")).limit(k)
      .withColumn("rank_d",
        row_number().over(Window.orderBy(col("cosv").desc, col("doc_id"))))
      .select("doc_id", "rank_d")
    sparse.join(dense, Seq("doc_id"), "full")
      .select(col("doc_id"),
        (coalesce(lit(1.0) / (lit(60.0) + col("rank_s").cast("double")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("rank_d").cast("double")), lit(0.0))).as("rrf"),
        col("rank_s"), col("rank_d"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(10)
  }

  /** Per-document Shannon entropy of the character and token
    * distributions — the standard low-entropy screen (boilerplate, key
    * spam, repeated padding score low; natural prose sits near the
    * language's per-char entropy). Everything is per-row array
    * arithmetic: histogram = counts over the SORTED distinct symbol
    * list (sorted so both engines fold the sum in the identical order
    * — plain double adds are then bit-identical, the dcos/list_sum
    * pattern), H folds once per distinct symbol, and NOTHING shuffles —
    * at 100 TB this is a narrow map over the corpus, unlike the
    * explode-and-groupBy formulation whose shuffle carries every
    * character. The nats→bits conversion divides by an explicit ln 2
    * literal so no engine's libm constant enters the value.
    */
  /** The operator over any (doc_id, text) frame — split out so the spec
    * can assert the closed forms (constant doc → 0, uniform over k
    * symbols → log2 k) on planted rows.
    */
  private[graft] def textEntropyOf(input: DataFrame): DataFrame = {
    val ln2 = 0.6931471805599453
    def entropy(arr: Column): Column = {
      val n = size(arr).cast("double")
      val h = aggregate(array_sort(array_distinct(arr)), lit(0.0), (acc, c) => {
        val p = size(filter(arr, x => x === c)).cast("double") / n
        acc - p * log(p)
      })
      round(h / lit(ln2), 4)
    }
    input
      // materialize the symbol arrays FIRST (the split-in-lambda trap)
      .select(col("doc_id"), split(col("text"), "").as("ch"), tokens.as("w"))
      .select(col("doc_id"), size(col("ch")).as("n_chars"),
        entropy(col("ch")).as("char_entropy"),
        entropy(col("w")).as("token_entropy"))
      .orderBy("doc_id")
  }

  private def textEntropy(s: SparkSession, dir: String): DataFrame =
    textEntropyOf(Tables.documents(s, dir))

  /** PMI collocation mining — the phrase-detection pass (Mikolov-style
    * word2phrase) that decides which adjacent token pairs are real
    * multiword units worth keeping intact through tokenization. One
    * corpus scan explodes every position into (token, next-token-or-null)
    * and ONE (a, b) hash aggregate is the sole corpus-sized shuffle:
    * unigram counts derive from it by summing over b (every token
    * occupies exactly one position), bigram counts by filtering b, and
    * both scalar totals by one agg over the same tiny table — the tfidf
    * rule (branch after the first shuffle, never re-scan the corpus).
    * The pair-count table is vocabulary²-bounded in theory but Zipf-
    * sparse in practice; joins back to unigram counts key on single
    * tokens (AQE broadcasts them at this SF, plain shuffle-hash at
    * 100 TB). PMI = log2(P(ab) / (P(a)·P(b))), identical double op
    * sequence in both engines, rounded to 4 dp; the top-30 cut is a
    * TakeOrderedAndProject with (pmi DESC, a, b) tie-break, never a
    * global sort.
    */
  /** The corpus's (token, successor-or-null) pair aggregate — every
    * position contributes one row (doc-final tokens with b = null), so
    * unigram counts, context counts, bigram counts, and both scalar
    * totals all derive from this ONE table (shared by q_collocations and
    * q_bigram_lm). The explicit a-IsNotNull filter is provably true
    * (element_at of a split array) but the optimizer can't prove it: it
    * pins ONE canonical null filter into the shared subtree so the
    * join-key IsNotNull constraints the consumer branches infer below
    * are already implied — without it each branch pushes a DIFFERENT
    * filter under the (a, b) exchange, the subtrees stop canonicalizing
    * equal, and the corpus scans once per consumer (the tfidf trap, in
    * constraint-propagation form). Do not change one consumer's shape
    * without re-running the PlanSpec scan-count guards.
    */
  private def pairAggregate(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(tokens.as("w"))
      .select(explode(expr(
        "transform(sequence(1, size(w)), i -> named_struct(" +
          "'a', element_at(w, i), " +
          "'b', CASE WHEN i < size(w) THEN element_at(w, i + 1) END))"))
        .as("g"))
      .select(col("g.a").as("a"), col("g.b").as("b"))
      .filter(col("a").isNotNull)
      .groupBy("a", "b").agg(cnt.as("c"))

  private def collocations(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pc = pairAggregate(s, dir)
    val tot = pc.agg(sum(col("c")).as("nu"),
      sum(when(col("b").isNotNull, col("c"))).as("nb"))
    // unigram counts: c_a is a window over the pair table (every token
    // occupies exactly one position as `a`, so Σ_y pc[a, y] = count(a));
    // the b-side lookup needs the token-keyed table, i.e. one join. The
    // bc-side IsNotNull(b) the join infers is blocked at Window(a) — b is
    // not its partition key — so it cannot poison the shared exchange.
    val uc = pc.groupBy("a").agg(sum(col("c")).as("c_b"))
    pc.withColumn("c_a", sum(col("c")).over(Window.partitionBy("a")))
      .filter(col("c") >= 5)
      .withColumnRenamed("c", "c_ab")
      .join(uc.select(col("a").as("b"), col("c_b")), "b") // inner drops null b
      .crossJoin(broadcast(tot))
      .withColumn("pmi", round(log2(
        (col("c_ab").cast("double") / col("nb")) /
          ((col("c_a").cast("double") / col("nu")) *
            (col("c_b").cast("double") / col("nu")))), 4))
      .select(col("a"), col("b"), col("c_ab"), col("pmi"))
      .orderBy(col("pmi").desc, col("a"), col("b"))
      .limit(30)
  }

  /** Phrase rewrite — the word2phrase APPLICATION pass composed with the
    * mining pass (q_collocations): the mined top-30 collocations merge
    * back into the corpus as single `a_b` tokens. Greedy left-to-right
    * with consumption (merging pair i consumes token i+1, blocking pair
    * i+1 — "new york city" with both pairs mined becomes "new_york
    * city", never a cascade), implemented as a SEQUENTIAL `aggregate`
    * HOF fold with a (pieces, skip) struct accumulator — so the rewrite
    * side is ONE corpus scan with ZERO corpus shuffles: the phrase table
    * broadcasts as a 1-row array and every doc rewrites inside
    * whole-stage codegen. This is the 100 TB shape for any
    * apply-a-small-model-to-every-row pass. The DuckDB twin computes the
    * same semantics through the independent gaps-and-islands + run-parity
    * formulation (within a maximal run of mergeable positions, greedy
    * merges exactly the even offsets), so the oracle cross-checks two
    * different algorithms for the same spec.
    */
  private def phraseRewrite(s: SparkSession, dir: String): DataFrame = {
    val ph = collocations(s, dir)
      .agg(collect_list(concat_ws(" ", col("a"), col("b"))).as("ph"))
    Tables.documents(s, dir)
      .select(col("doc_id"), tokens.as("syms"))
      .crossJoin(broadcast(ph))
      .withColumn("pieces", expr(Text.greedyFoldExpr(
        "array_contains(ph, concat(element_at(syms, i), ' ', element_at(syms, i + 1)))",
        "concat(element_at(syms, i), '_', element_at(syms, i + 1))")))
      .select(col("doc_id"), size(col("syms")).cast("long").as("n_tok"),
        size(col("pieces")).cast("long").as("new_n_tok"),
        md5(array_join(col("pieces"), " ")).as("new_md5"))
      .orderBy("doc_id")
  }

  /** Interpolated bigram language-model score — q_lm_score with context:
    * mean ln(λ·P(b|a) + (1−λ)·P(b)) per document (λ = 0.7), the
    * KenLM-shaped fluency signal that catches wrong-order-but-common-
    * vocabulary gibberish the unigram score can't. Every distribution
    * derives from ONE (a, b∨null) pair aggregate (the q_collocations
    * table): bigram counts from the b≠null rows, context totals
    * c(a·) = Σ_b c(a,b), unigram counts and the token total from the
    * full table — so the model side is vocabulary²-bounded and the
    * per-pair log-likelihood is pre-rounded to the 8-dp decimal grid
    * (the q_lm_score trick) before joining onto the positional pair
    * stream (AQE broadcasts the model at gate SFs; size-based planning
    * picks shuffle-hash on the pair keys at 100 TB); the per-doc mean is
    * then decimal-exact and partition-order-invariant. Two corpus
    * explodes (model + scoring, the q_tfidf-accepted shape), one
    * doc-key aggregate.
    */
  private def bigramLm(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val pc = pairAggregate(s, dir)
    val uc = pc.groupBy("a").agg(sum(col("c")).as("cu"))
    val nu = pc.agg(sum(col("c")).as("nu"))
    // context totals c(a·) as a conditional WINDOW over the pair table,
    // not a filtered pre-aggregate: a filter on group key b would push
    // below pc's exchange and fork the model-side corpus scan (the same
    // reason collocations windows its c_a); the explicit b-filter here
    // stays blocked at Window(a) since b is not its partition key
    val ll = pc
      .withColumn("cc", sum(when(col("b").isNotNull, col("c")))
        .over(Window.partitionBy("a")))
      .filter(col("b").isNotNull)
      .join(uc.select(col("a").as("b"), col("cu")), "b")
      .crossJoin(broadcast(nu))
      .select(col("a"), col("b"), round(log(
        lit(0.7) * (col("c").cast("double") / col("cc")) +
          lit(0.3) * (col("cu").cast("double") / col("nu"))), 8).as("ll"))
    val stream = Tables.documents(s, dir)
      .select(col("doc_id"), tokens.as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 1), i -> named_struct(" +
          "'a', element_at(w, i), 'b', element_at(w, i + 1)))")).as("g"))
      .select(col("doc_id"), col("g.a").as("a"), col("g.b").as("b"))
    // no broadcast() hint: the ll table is vocabulary²-bounded, which
    // AQE happily broadcasts at gate SFs but which cannot be FORCED to
    // the driver at 100 TB — size-based planning picks shuffle-hash on
    // the (a, b) keys there, exactly the fallback a hint would disable
    stream.join(ll, Seq("a", "b"))
      .groupBy("doc_id")
      .agg(cnt.as("n_bigrams"),
        (sum(col("ll").cast(DecimalType(18, 8))).cast("double") /
          cnt.cast("double")).as("mean_ll"))
      .select(col("doc_id"), col("n_bigrams"), round(col("mean_ll"), 4).as("mean_ll"))
      .orderBy("doc_id")
  }

  /** Kneser-Ney smoothed bigram scoring (Kneser & Ney 1995; the
    * standard n-gram smoothing) with a REAL train/eval split so the
    * smoothing path is exercised: the model trains on doc_id % 4 != 0
    * and scores the held-out quarter, so eval bigrams unseen in
    * training get their probability from the backoff —
    * P(b|a) = max(c(a,b) − D, 0)/c(a·) + D·N1+(a·)/c(a·) · N1+(·b)/T
    * with D = 0.75 (the textbook absolute discount), N1+ the
    * continuation type counts, T the bigram type total. Upgrades
    * q_bigram_lm's fixed-λ interpolation: the backoff weight adapts to
    * each context's diversity, and the continuation probability scores
    * how many contexts a word FOLLOWS rather than how often it occurs —
    * exactly the property that makes KN the default LM smoothing.
    *
    * Scale shape: one (a, b) hash aggregate over the train bigrams is
    * the only corpus-sized shuffle; the pair table is vocabulary²-
    * bounded and localCheckpoint'd because FOUR consumers derive from
    * it (context totals, context types, continuation types, type total
    * — without the cut each bounded derivation re-scans the corpus).
    * Eval bigrams join the bounded model tables; bigrams whose context
    * or continuation never appears in training drop (the documented
    * OOV boundary of a bigram-only model). All counts are exact
    * integers; the probability is one fixed double op sequence rounded
    * to the 8-dp grid, so the per-doc decimal mean is engine-exact.
    */
  private[graft] def kneserNeyOf(input: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val docs = input.select(col("doc_id"), tokens.as("w"))
      .filter(size(col("w")) >= 2)
    def bigrams(d: DataFrame): DataFrame = d
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 1), i -> named_struct(" +
          "'a', element_at(w, i), 'b', element_at(w, i + 1)))")).as("g"))
      .select(col("doc_id"), col("g.a").as("a"), col("g.b").as("b"))
    val pc = bigrams(docs.filter(col("doc_id") % 4 =!= 0))
      .groupBy("a", "b").agg(cnt.as("c"))
      .localCheckpoint(true)
    val ctx = pc.groupBy("a")
      .agg(sum(col("c")).as("cc"), cnt.as("n1pa"))
    val contb = pc.groupBy("b").agg(cnt.as("n1pb"))
    val tot = pc.agg(cnt.as("t"))
    val ev = bigrams(docs.filter(col("doc_id") % 4 === 0))
    val p =
      greatest(coalesce(col("c"), lit(0L)).cast("double") - lit(0.75), lit(0.0)) /
        col("cc").cast("double") +
        (lit(0.75) * col("n1pa").cast("double") / col("cc").cast("double")) *
          (col("n1pb").cast("double") / col("t").cast("double"))
    ev.join(ctx, "a")
      .join(contb, "b")
      .join(pc, Seq("a", "b"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), round(log(p), 8).as("ll"))
      .groupBy("doc_id")
      .agg(cnt.as("n_bigrams"),
        (sum(col("ll").cast(DecimalType(18, 8))).cast("double") /
          cnt.cast("double")).as("mean_ll"))
      .select(col("doc_id"), col("n_bigrams"), round(col("mean_ll"), 4).as("mean_ll"))
      .orderBy("doc_id")
  }

  private def kneserNey(s: SparkSession, dir: String): DataFrame =
    kneserNeyOf(Tables.documents(s, dir))

  /** Feature-hashing vectorizer (the Weinberger et al. hashing trick) —
    * the no-vocabulary text featurizer that turns every document into a
    * fixed 64-dim signed-count vector in one pass: each token hashes to
    * a bucket (md5-derived, 12 hex chars) and a ± sign, signs summed per
    * (doc, bucket) — INTEGER arithmetic end to end, so the oracle is
    * exact with no decimal routing at all. The dense vector assembles
    * per doc from a map lookup over sequence(0, 63) (absent buckets are
    * true zeros, not nulls). Scale: one token explode, one map-side-
    * combined (doc, bucket) aggregate (≤64 rows per doc reach the
    * shuffle), one doc-key gather — linear at any corpus size, and the
    * output embeds directly into the Vectors tier (ANN, k-means, PCA)
    * without any trained vocabulary object.
    */
  private def hashEmbed(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens).as("word"))
      .withColumn("h", conv(substring(md5(concat(lit("fh:"), col("word"))),
        1, 12), 16, 10).cast("long"))
      .select(col("doc_id"), (col("h") % 64).as("bucket"),
        when(expr("(h div 64) % 2") === 0, 1L).otherwise(-1L).as("sg"))
      .groupBy("doc_id", "bucket").agg(sum(col("sg")).as("sv"))
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("sv")))).as("m"))
      .select(col("doc_id"), expr(
        "transform(sequence(0, 63), j -> coalesce(element_at(m, CAST(j AS BIGINT)), 0L))").as("v"))
      .select(col("doc_id"),
        expr("size(filter(v, x -> x != 0))").as("nnz"),
        round(sqrt(expr("aggregate(v, 0D, (a, x) -> a + CAST(x * x AS DOUBLE))")), 4).as("l2"),
        md5(expr("array_join(transform(v, x -> CAST(x AS STRING)), ',')")).as("vhash"))
      .orderBy("doc_id")
  }

  /** BPE tokenizer training at [[BpeMerges]] merge depth — the
    * Sennrich-style trainer in its scale-correct distributed shape: ONE
    * corpus pass builds the word-frequency table, and every round
    * after that runs on the VOCABULARY-bounded table (~10⁷ rows at
    * 100 TB, vs 10¹² corpus tokens) — pair counting is a per-word
    * explode weighted by word frequency (map-side-combined hash agg on
    * symbol pairs), the argmax pair is a TakeOrderedAndProject
    * broadcast as one row, and the merge application is the same
    * sequential greedy `aggregate` fold q_phrase_rewrite proved — at
    * symbol level, with consumption, no cascades. Rounds chain through
    * the [[bpeLoop]] checkpointed driver loop (the q_dup_clusters
    * fixpoint pattern), so the same code runs at any depth — depth 64
    * is spec-checked against a local recompute. Deterministic
    * (count DESC, pair ASC tie-break), so every round is fully oracled —
    * the DuckDB twin replays each merge through the independent
    * gaps-and-islands + run-parity formulation. Output: the top-5
    * candidate pairs per round (rank 1 of step k = the merge applied
    * before step k+1).
    */
  /** Oracled merge depth of the distributed BPE trainer: the driver
    * loop runs this many rounds, replayed 1:1 by the DuckDB oracle's
    * composed CTE chain; the depth-64 tier ([[bpeWordLengthsAt]]) is
    * spec-checked against a local sequential recompute. One constant so
    * the Spark loop, the oracle chain, and q_bpe_train's step count can
    * never skew.
    */
  private[graft] val BpeMerges = 8

  /** `ta IS NULL` guard: when the corpus yields no pairs at all (only
    * 1-char words) the argmax table is EMPTY; the merge is applied via a
    * left join on true, so absent merge rows arrive as nulls and the
    * round degrades to a no-op — matching the oracle's LEFT JOIN
    * formulation instead of emptying the vocab through a crossJoin.
    */
  private val bpeMergeApply: String =
    "CASE WHEN ta IS NULL OR size(syms) < 2 THEN syms ELSE " + Text.greedyFoldExpr(
      "element_at(syms, i) = ta AND element_at(syms, i + 1) = tb",
      "concat(element_at(syms, i), element_at(syms, i + 1))") + " END"

  /** Weighted symbol-pair counts of a (w, f, syms) vocab state — a
    * per-word explode weighted by word frequency, map-side combinable.
    */
  private[graft] def bpePairCounts(t: DataFrame): DataFrame = t
    .filter(size(col("syms")) >= 2)
    .select(col("f"), explode(expr(
      "transform(sequence(1, size(syms) - 1), i -> named_struct('a', element_at(syms, i), 'b', element_at(syms, i + 1)))"))
      .as("g"))
    .select(col("g.a").as("a"), col("g.b").as("b"), col("f"))
    .groupBy("a", "b").agg(sum(col("f")).as("c"))

  /** The ONE corpus pass of BPE training: word frequencies, symbolized.
    * Every round after this runs on the vocabulary-bounded table.
    */
  private[graft] def bpeInitVocab(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(tokens).as("w"))
      .groupBy("w").agg(cnt.as("f"))
      .withColumn("syms", expr(
        "CASE WHEN length(w) < 1 THEN CAST(array() AS ARRAY<STRING>) " +
          "ELSE transform(sequence(1, length(w)), i -> substring(w, i, 1)) END"))

  /** Round `k`'s 5-row TakeOrdered candidate table over a vocab state,
    * checkpointed: it is both the q_bpe_train output and the source of
    * the round's merge row, so pair counting runs once per round.
    */
  private def bpeTop(cur: DataFrame, k: Int): DataFrame =
    bpePairCounts(cur)
      .orderBy(col("c").desc, col("a"), col("b")).limit(5)
      .withColumn("step", lit(k))
      .localCheckpoint(true)

  /** The rank-1 (a, b) row of a top-5 table — the round's merge. */
  private def bpeRank1(top: DataFrame): DataFrame =
    top.orderBy(col("c").desc, col("a"), col("b")).limit(1)

  /** One merge round over a (w, f, syms) vocab state: the 1-row (a, b)
    * merge table broadcast onto the vocab and one greedy fold.
    */
  private def bpeMerge(cur: DataFrame, ab: DataFrame): DataFrame =
    cur.join(broadcast(ab.select(col("a").as("ta"), col("b").as("tb"))),
        lit(true), "left")
      .withColumn("syms", expr(bpeMergeApply)).drop("ta", "tb")

  /** N-round BPE merge driver loop ([[Rounds]]) over the
    * vocabulary-bounded state (an unrolled 64-merge plan would be
    * thousands of nodes). Per round: one map-side-combined pair count,
    * the top-5 table, one greedy fold over the vocab. Returns the state
    * after `n` merges (after n−1 when `needFinal` is false — the trainer
    * output needs candidates, not the final fold) plus each round's
    * checkpointed top-5 table.
    */
  private def bpeLoop(s: SparkSession, dir: String, n: Int,
      needFinal: Boolean = true): (DataFrame, Seq[DataFrame]) = {
    val tops = Seq.newBuilder[DataFrame]
    val fin = Rounds.fixed(bpeInitVocab(s, dir).localCheckpoint(true),
        if (needFinal) n else n - 1) { (cur, r) =>
      val top = bpeTop(cur, r.k)
      tops += top
      bpeMerge(cur, bpeRank1(top))
    }
    if (!needFinal) tops += bpeTop(fin, n)
    (fin, tops.result())
  }

  private def bpeTrain(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (fin, tops) = bpeLoop(s, dir, BpeMerges, needFinal = false)
    Rounds.release(fin)
    // rank window runs on each round's 5 surviving rows, never on the
    // vocab²-sized pair table
    tops.map(_.withColumn("rnk", row_number().over(
        Window.orderBy(col("c").desc, col("a"), col("b")))))
      .reduce(_.unionByName(_))
      .select(col("step"), col("rnk"), col("a"), col("b"), col("c"))
      .orderBy("step", "rnk")
  }

  /** BPE ENCODING — the step after q_bpe_train: apply the two trained
    * merges to the whole corpus and count tokens per document under the
    * TRAINED tokenizer (vs q_token_count's whitespace count — the
    * number that actually prices a document against a training budget).
    * The scale shape is the important part: merges are applied on the
    * VOCABULARY (a word's encoding depends only on its string, so the
    * merge fold runs once per distinct word, never per occurrence), and
    * the per-word piece count joins back onto the word stream — at
    * 100 TB that is a bounded vocab-table derivation plus one
    * broadcast/co-keyed join on the corpus scan. Fully oracled: DuckDB
    * replays the training argmaxes and both greedy merge rounds via the
    * islands+parity formulation q_bpe_train proved, then the same
    * vocab join.
    */
  private def bpeEncode(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens).as("w"))
      .join(bpeWordLengths(s, dir), "w")
      .groupBy("doc_id")
      .agg(cnt.as("n_words"),
        sum(length(col("w"))).as("n_chars_sym"),
        sum(col("n_bpe")).as("n_bpe"))
      .orderBy("doc_id")

  /** The trained tokenizer's per-VOCABULARY-WORD piece counts
    * (w, n_bpe) at arbitrary merge depth: `n` [[bpeLoop]] rounds applied
    * to every distinct word — the bounded table q_bpe_encode and
    * q_tokenizer_fertility both join back onto their word streams.
    * Depth [[BpeMerges]] is the oracled tier; depth 64 (the
    * realistic-vocab shape — real tokenizers run 10⁴–10⁵ of these
    * rounds with exactly this per-round cost profile) is spec-checked
    * against a local sequential recompute.
    */
  private[graft] def bpeWordLengthsAt(s: SparkSession, dir: String,
      n: Int): DataFrame = {
    val (fin, tops) = bpeLoop(s, dir, n)
    tops.foreach(Rounds.release)
    fin.select(col("w"), size(col("syms")).as("n_bpe"))
  }

  private def bpeWordLengths(s: SparkSession, dir: String): DataFrame =
    bpeWordLengthsAt(s, dir, BpeMerges)

  /** Tokenizer persistence round-trip (round 14, VERDICT r13 #2) — the
    * build/serve split for the TEXT tier, mirroring q_ann_persist's
    * index lifecycle: at 100 TB the tokenizer trains ONCE and ships to
    * every later job, so the trained state must survive a process
    * restart (the reference's whole premise — state that outlives the
    * process, src/cache.go:46-92). BUILD: the depth-[[BpeMerges]]
    * trainer's rank-1 merge per round (the same loop as q_bpe_train),
    * WRITTEN as a parquet merge table (step, a, b) — the only state a
    * serving tokenizer holds. SERVE: a FRESH lineage reads the table
    * back and re-encodes the corpus by folding the LOADED merges in
    * step order over the rebuilt vocabulary — note the serve side runs
    * NO pair counting (training cost never recurs; that asymmetry is
    * the point of persisting). Oracled against the SAME DuckDB twin as
    * q_bpe_encode, so the parquet round-trip must reproduce the
    * one-shot encode token-for-token; the spec additionally pins
    * row-level equality between the two queries. The result is
    * checkpointed before the temp index dir is deleted.
    */
  private def bpePersist(s: SparkSession, dir: String): DataFrame = {
    val (fin, tops) = bpeLoop(s, dir, BpeMerges, needFinal = false)
    Rounds.release(fin)
    val merges = tops.map(bpeRank1(_).select(col("step"), col("a"), col("b")))
      .reduce(_.unionByName(_))
    Publish.scratch("graft_bpe_tok") { tok =>
      merges.coalesce(1).write.mode("overwrite").parquet(s"$tok/merges")
      tops.foreach(Rounds.release)
      val loaded = s.read.parquet(s"$tok/merges")
      // the trainer's merge round, driven by the LOADED table, not a fresh fit
      val cur = Rounds.fixed(bpeInitVocab(s, dir).localCheckpoint(true),
        BpeMerges)((v, r) => bpeMerge(v, loaded.filter(col("step") === r.k)))
      val wordLen = cur.select(col("w"), size(col("syms")).as("n_bpe"))
      val out = Tables.documents(s, dir)
        .select(col("doc_id"), explode(tokens).as("w"))
        .join(wordLen, "w")
        .groupBy("doc_id")
        .agg(cnt.as("n_words"),
          sum(length(col("w"))).as("n_chars_sym"),
          sum(col("n_bpe")).as("n_bpe"))
        .orderBy("doc_id")
        .localCheckpoint(true)
      Rounds.release(cur)
      out
    }
  }

  // ------------------------------------------------------- unigram LM
  // The SECOND tokenizer family (round 15, VERDICT r14 #6): a
  // SentencePiece-style unigram-LM tokenizer — bounded candidate
  // vocabulary, hard-EM (Viterbi E-step, count-renormalizing M-step
  // with zero-count pruning), and min-cost Viterbi encoding — so
  // q_tokenizer_fertility can run the standard tokenizer-SELECTION
  // audit (compare families, not just languages under one family).
  //
  // DETERMINISM: piece costs are −log₂(c/T) QUANTIZED TO HALF BITS in
  // exact integer arithmetic — f(x) = 2·(bitlen(x)−1) + [x ≥
  // round(2^(e−1)·√2)], thresholds baked as exact integers
  // ([[Sqrt2Thr]], BigInt isqrt — no libm call in either engine) —
  // and the Viterbi DP runs over PACKED longs (cost·2²⁰ + pieceCount,
  // so min() breaks cost ties toward fewer pieces), with path
  // reconstruction preferring the LONGEST piece at each cut. Spark runs
  // the Viterbi in one native kernel (TokenizerKernels.unigramPieces);
  // the DuckDB twin spells the same integer arithmetic as list folds
  // (single-expression list accumulators — the r14 list_reduce
  // struct-field law).

  /** Multi-char piece budget of the unigram trainer (single chars are
    * always kept for coverage — every word stays segmentable).
    */
  private[graft] val UnigramPieces = 48

  /** Hard-EM rounds (Viterbi E-step + renormalizing M-step). */
  private[graft] val UnigramRounds = 2

  /** round(2^(e−1)·√2) for bit lengths e = 1..62 — the half-bit
    * mantissa thresholds of [[fHalfBits]], exact via BigInt integer
    * sqrt of 2^(2e−1) (round-to-nearest: s+1 when s²+s < n).
    */
  private[graft] val Sqrt2Thr: IndexedSeq[Long] = (1 to 62).map { e =>
    val n = BigInt(1) << (2 * e - 1)
    // monotone-descent integer Newton from an upper bound: terminates
    // at floor(√n) (the x != prev form two-cycles on n = x²+x inputs)
    var x = BigInt(1) << e
    var y = (x + n / x) >> 1
    while (y < x) { x = y; y = (x + n / x) >> 1 }
    (if (x * x + x < n) x + 1 else x).toLong
  }

  /** f(x) = half-bit-quantized 2·log₂(x) as a Spark SQL fragment. */
  private def fHalfBits(x: String): String =
    s"(2 * (length(bin($x)) - 1) + (CASE WHEN $x >= element_at(" +
      s"array(${Sqrt2Thr.mkString("L, ")}L), length(bin($x))) THEN 1 ELSE 0 END))"

  /** Distinct corpus words (len ≥ 1) with frequencies — the bounded
    * table every unigram stage runs on (the bpeInitVocab rule).
    */
  private def uniWords(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(explode(tokens).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(cnt.as("f"))

  /** Candidate pieces: every substring of length 1..4 of every
    * distinct word, weighted by word frequency — ONE corpus-vocab
    * pass, map-side combinable.
    */
  private def uniCandidates(words: DataFrame): DataFrame =
    words.select(col("f"), explode(expr(
      "filter(flatten(transform(sequence(1, length(w)), i -> " +
        "transform(sequence(1, 4), l -> CASE WHEN i + l - 1 <= length(w) " +
        "THEN substring(w, i, l) END))), x -> x IS NOT NULL)")).as("p"))
      .groupBy("p").agg(sum(col("f")).as("c"))

  /** Piece costs from a count table: cost = f(T) − f(c) half-bits,
    * T = Σc as a broadcast 1-row scalar.
    */
  private def uniCosts(vocab: DataFrame): DataFrame =
    vocab.crossJoin(broadcast(vocab.agg(sum(col("c")).as("tc"))))
      .select(col("p"), col("c"),
        (expr(fHalfBits("tc")) - expr(fHalfBits("c"))).cast("long").as("cost"))

  /** Viterbi-segment every distinct word under a cost table: the
    * table (≤ alphabet + [[UnigramPieces]] rows) is packed into one
    * broadcast cost-map row, and the native `unigram_pieces` kernel
    * ([[graft.functions.TokenizerKernels.unigramPieces]]) emits each
    * word's (w, f, pieces), last piece first. Everything is
    * vocabulary-bounded; the corpus is never rescanned.
    */
  private def uniSegment(words: DataFrame, costs: DataFrame): DataFrame = {
    val table = costs.agg(VectorFunctions.unigram_cost_map(col("p"), col("cost")).as("costs"))
    words.crossJoin(broadcast(table)).select(col("w"), col("f"),
      VectorFunctions.unigram_pieces(words.sparkSession, col("w"), col("costs")).as("pieces"))
  }

  /** One hard-EM round: Viterbi counts weighted by word frequency;
    * multi-char pieces with zero support are PRUNED (the unigram
    * algorithm's prune step), single chars keep a coverage floor of 1.
    *
    * The floor is load-bearing beyond coverage: with every single char
    * in the table, each word has a finite single-char path (≤ len·130
    * half-bits), which is what keeps the DuckDB twin's 2^62 `least()`
    * sentinel in [[uniSegCtesDk]] from ever winning. Dropping or
    * weakening it must revisit that sentinel.
    */
  private def uniEmRound(words: DataFrame, costs: DataFrame,
      chars: DataFrame): DataFrame = {
    val used = uniSegment(words, costs)
      .select(col("f"), explode(col("pieces")).as("p"))
      .groupBy("p").agg(sum(col("f")).as("c"))
    used.filter(length(col("p")) >= 2)
      .unionByName(chars.join(used, Seq("p"), "left")
        .select(col("p"),
          greatest(coalesce(col("c"), lit(0L)), lit(1L)).as("c")))
  }

  /** Train the unigram model: candidate harvest → top-K multi-char +
    * all single chars → [[UnigramRounds]] hard-EM rounds ([[Rounds]]).
    * Returns the final (p, c, cost) model and the checkpointed word
    * table; every other checkpoint is released.
    */
  private def uniModel(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val words = uniWords(s, dir).localCheckpoint(true)
    val cand = uniCandidates(words).localCheckpoint(true)
    val chars = cand.filter(length(col("p")) === 1).select("p")
      .localCheckpoint(true)
    val multi0 = cand.filter(length(col("p")) >= 2)
      .orderBy(col("c").desc, col("p")).limit(UnigramPieces)
    val vocab0 = cand.filter(length(col("p")) === 1)
      .unionByName(multi0).localCheckpoint(true)
    Rounds.release(cand)
    val vocab = Rounds.fixed(vocab0, UnigramRounds)(
      (v, _) => uniEmRound(words, uniCosts(v), chars))
    val model = uniCosts(vocab).localCheckpoint(true)
    Seq(chars, vocab).foreach(Rounds.release)
    (model, words)
  }

  /** (w, n) piece counts of every distinct word under the trained
    * model — exposed for the spec's Viterbi-optimality recompute.
    */
  private[graft] def unigramWordPieces(s: SparkSession, dir: String): DataFrame = {
    val (model, words) = uniModel(s, dir)
    uniSegment(words, model).select(col("w"), size(col("pieces")).as("n"))
  }

  /** q_unigram_train: the trained unigram piece table — every kept
    * piece with its final EM count and half-bit cost.
    */
  private def unigramTrain(s: SparkSession, dir: String): DataFrame = {
    val (model, words) = uniModel(s, dir)
    Rounds.release(words) // the output reads only the model
    model.select(col("p").as("piece"), col("c").as("n"), col("cost"))
      .orderBy("piece")
  }

  /** q_unigram_encode: per-document piece counts under the trained
    * unigram model — the q_bpe_encode contract for the second family
    * (empty words carry 0 pieces, the bpe empty-syms rule).
    */
  private def unigramEncode(s: SparkSession, dir: String): DataFrame = {
    val (model, words) = uniModel(s, dir)
    val wl = uniSegment(words, model)
      .select(col("w"), size(col("pieces")).as("n_uni"))
    Tables.documents(s, dir).select(col("doc_id"), explode(tokens).as("w"))
      .join(wl, Seq("w"), "left")
      .groupBy("doc_id")
      .agg(cnt.as("n_words"),
        sum(length(col("w"))).as("n_chars_sym"),
        sum(coalesce(col("n_uni"), lit(0))).cast("long").as("n_uni"))
      .orderBy("doc_id")
  }

  /** Tokenizer fertility per (FAMILY, language) — tokens per
    * whitespace word and characters per token under BOTH trained
    * tokenizers (BPE and unigram-LM): the numbers that decide whether
    * a tokenizer is fair to a language AND which family to ship — the
    * standard tokenizer-selection audit (round 15 adds the family
    * dimension, VERDICT r14 #6). Same scale shape as q_bpe_encode:
    * each family folds once per distinct vocabulary word, the bounded
    * (w, n_tok) tables join back onto the word stream, and the
    * per-language aggregate is map-side combinable. Ratios divide
    * exact longs once at the end — deterministic in both engines.
    */
  private def tokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    def arm(wl: DataFrame, family: String): DataFrame =
      Tables.documents(s, dir)
        .select(col("lang"), explode(tokens).as("w"))
        .join(wl, Seq("w"), "left")
        .groupBy("lang")
        .agg(cnt.as("n_words"),
          sum(coalesce(col("n_tok"), lit(0))).cast("long").as("n_tokens"),
          sum(length(col("w"))).as("n_chars"))
        .select(lit(family).as("family"), col("lang"), col("n_words"),
          col("n_tokens"),
          round(col("n_tokens").cast("double") / col("n_words").cast("double"), 4)
            .as("fertility"),
          round(col("n_chars").cast("double") / col("n_tokens").cast("double"), 4)
            .as("chars_per_token"))
    val bpeWl = bpeWordLengths(s, dir)
      .select(col("w"), col("n_bpe").cast("long").as("n_tok"))
    val (model, words) = uniModel(s, dir)
    val uniWl = uniSegment(words, model)
      .select(col("w"), size(col("pieces")).cast("long").as("n_tok"))
    arm(bpeWl, "bpe").unionByName(arm(uniWl, "unigram"))
      .orderBy("family", "lang")
  }

  /** Unigram language-model quality score (perplexity proxy) — the
    * CCNet/KenLM-style curation signal: a document's mean token
    * log-likelihood under the corpus's own unigram distribution. Rare-
    * token gibberish scores low, fluent common-vocabulary text scores
    * high. One corpus-frequency aggregate (map-side combinable) broadcast
    * onto the token stream, one per-doc aggregate — two shuffles total,
    * the frequency table bounded by vocabulary, not corpus size. Decimal
    * routing on the log-likelihood sum keeps the per-doc mean
    * partition-order-invariant, so the score is hash-checked.
    */
  private def lmScore(s: SparkSession, dir: String): DataFrame =
    docLmScores(s, dir).orderBy("doc_id")

  /** Per-doc (doc_id, n_tokens, mean_ll-rounded-4dp) — lm_score's body,
    * shared with q_perplexity_buckets.
    */
  private def docLmScores(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val words = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens).as("word"))
    val freqRaw = words.groupBy("word").agg(cnt.as("wc"))
    // total token count derives from the frequency table (Σ wc), not from
    // a second pass over `words` — same tfidf rule: branch after the
    // first shuffle, the corpus is scanned once per consumer at most
    val freq = freqRaw
      .crossJoin(broadcast(freqRaw.agg(sum(col("wc")).as("t"))))
      .select(col("word"),
        // per-token log-likelihood, pre-rounded to a fixed decimal grid so
        // the per-doc SUM is decimal-exact in both engines; ln itself is
        // IEEE-identical on identical doubles (cf. tfidf)
        round(log(col("wc").cast("double") / col("t").cast("double")), 8)
          .as("ll"))
    words.join(broadcast(freq), "word")
      .groupBy("doc_id")
      .agg(cnt.as("n_tokens"),
        (sum(col("ll").cast(DecimalType(18, 8))).cast("double") /
          cnt.cast("double")).as("mean_ll"))
      .select(col("doc_id"), col("n_tokens"), round(col("mean_ll"), 4).as("mean_ll"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl Data"
    * — public): per language, split the corpus into head/middle/tail
    * thirds by LM score (head = most fluent) and report each bucket's
    * size and score envelope — the table that decides which third of a
    * crawl a training mix keeps. Bucketing is `ntile(3)` over
    * (mean_ll desc, doc_id): a RANK cut, not an interpolated-threshold
    * comparison, so no boundary can flip on a floating-point ulp (the
    * q_winsorize rule) and the tie-break makes it deterministic in both
    * engines. Cost on top of the lm_score aggregate: one per-language
    * window over the per-DOC score table (corpus-row-count rows, not
    * token rows) and a 3·|langs| aggregate.
    */
  private def perplexityBuckets(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy("lang").orderBy(col("mean_ll").desc, col("doc_id"))
    docLmScores(s, dir)
      .join(Tables.documents(s, dir).select(col("doc_id"), col("lang")), "doc_id")
      .withColumn("bucket", ntile(3).over(w))
      .groupBy("lang", "bucket")
      .agg(cnt.as("n_docs"),
        round(sum(col("mean_ll").cast(DecimalType(18, 4))).cast("double") /
          cnt.cast("double"), 4).as("avg_ll"),
        min(col("mean_ll")).as("worst_ll"),
        max(col("mean_ll")).as("best_ll"))
      .orderBy("lang", "bucket")
  }

  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling" — public): score
    * every document by how much its hashed-bigram distribution looks
    * like a TARGET source mix versus the raw corpus. Features are word
    * bigrams hashed into 8192 buckets (md5-derived, so the oracle
    * replays them exactly); per-bucket log-likelihood ratio
    * ln(p_target(b)) − ln(p_raw(b)) with add-one smoothing; a doc's
    * weight is the sum of its bigram occurrences' ratios. Both bucket
    * distributions come out of ONE conditional aggregate over the same
    * bigram stream (never two corpus passes for the counts), the ratio
    * table is bounded by the 8192 buckets and broadcast back onto the
    * stream, and the per-doc sum is a map-side-combinable decimal
    * aggregate — at 100 TB: two corpus scans (count pass + score pass),
    * two bounded shuffles, no joins wider than 8192 rows. Per-term
    * ratios are pre-rounded to a fixed decimal grid so the per-doc sum
    * is order-invariant and engine-exact (the lm_score idiom).
    */
  private def importanceWeights(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val buckets = 8192
    val targetSrcs = Seq("src1", "src2", "src3")
    val toks = col("toks")
    val n = size(toks)
    val grams = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), tokens.as("toks"))
      .filter(n >= 2)
      .select(col("doc_id"), col("source"),
        explode(transform(sequence(lit(1), n - 1),
          i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
          .as("gram"))
      .select(col("doc_id"), col("source"),
        (conv(substring(md5(col("gram")), 1, 12), 16, 10).cast("long") % buckets)
          .as("b"))
    val counts = grams.groupBy("b").agg(
      cnt.as("cr"),
      sum(when(col("source").isin(targetSrcs: _*), 1L).otherwise(0L)).as("ct"))
    // corpus-wide totals derive from the bucket table (≤8192 rows), not a
    // second pass over the gram stream
    val totals = broadcast(counts.agg(
      sum(col("cr")).as("nr"), sum(col("ct")).as("nt")))
    val lr = counts.crossJoin(totals)
      .select(col("b"),
        round(
          log((col("ct") + 1).cast("double") / (col("nt") + buckets).cast("double")) -
            log((col("cr") + 1).cast("double") / (col("nr") + buckets).cast("double")),
          8).as("lr"))
    grams.join(broadcast(lr), "b")
      .groupBy("doc_id")
      .agg(cnt.as("n_grams"),
        round(sum(col("lr").cast(DecimalType(18, 8))).cast("double"), 4)
          .as("weight"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------- edit-distance dedup

  /** Edit-distance fuzzy dedup: Levenshtein over 32-char prefixes,
    * candidates bucketed by a 16-char length band — the O(len²) DP runs
    * only within a band, never corpus×corpus (production would also probe
    * adjacent bands for boundary straddlers; the oracle mirrors this
    * band-exact form). The distance is BYTE-level edit distance over the
    * prefix's UTF-8 encoding, for every script: Spark's `levenshtein` is
    * character-based, so the prefix is decoded byte→char through
    * ISO-8859-1 (a bijection byte ↔ char), making Spark's char-DP
    * compute exactly the byte-DP that DuckDB's `levenshtein` natively
    * runs on UTF-8 — identical on ALL inputs, no domain restriction.
    * For ASCII, byte distance IS character distance; for multi-byte
    * scripts one character edit costs its encoded width (documented
    * unit, and the standard speed-for-precision trade in byte-level
    * fuzzy dedup).
    *
    * 100 TB blocking: the band alone is a low-cardinality join key (≈ max
    * doc length / 16 distinct values), so on a real corpus where lengths
    * concentrate it degenerates to O(m²) pairs inside the dominant band.
    * The block key therefore composes band × a CONTENT signature, with
    * two probes per document (md5 of tokens 1-4 and of tokens 5-8 — the
    * LSH multi-probe shape): a pair is a candidate iff it shares the
    * band AND at least one token-block. A single localized edit breaks
    * at most one probe, so prefix near-dups still collide, while
    * same-length-different-content corpora fan out across the md5 key
    * space and never go quadratic. Recall is defined BY the blocking
    * (pairs edited in both token blocks are out of scope, the standard
    * LSH trade) and the oracle mirrors the same two-probe rule, so
    * parity is structural, not data-dependent.
    */
  private def fuzzyDedup(s: SparkSession, dir: String): DataFrame =
    verifyPairs(fuzzyCandidates(s, dir))

  /** Candidate stage, exposed for the spec that bounds candidate count. */
  private[graft] def fuzzyCandidates(s: SparkSession, dir: String): DataFrame = {
    // explicit NUMBERED repartition by the block key: the pair
    // verification is CPU-bound (a 32×32 DP per pair), so its parallelism
    // must come from the bucket key, not the input's byte-based file
    // splits — a 584 KB corpus file is one split, and AQE's size-based
    // coalescing would (correctly by bytes, wrongly by cost) fold a keyed
    // shuffle back to one task. The explicit partition count opts out of
    // coalescing; measured 8 s → well under 1 s at sf0.1.
    val toks = split(col("text"), " ")
    val d = Tables.documents(s, dir)
      .select(col("doc_id"),
        // byte→char bijection: char-Levenshtein over this IS byte-Levenshtein
        decode(encode(substring(col("text"), 1, 32), "UTF-8"), "ISO-8859-1")
          .as("prefix"),
        (col("n_chars") / 16).cast("int").as("band"),
        // md5 fixes the shuffle key at 16 bytes regardless of token width.
        // Probes are length-classed: ≥5 tokens → (1-4, 5-8) as designed;
        // 3-4 tokens → the HALVES (1-2, 3-4), preserving one-substitution
        // tolerance (an edit localized to one half breaks at most one
        // probe) without the md5("")-of-an-empty-slice degeneracy that
        // would fuse every short doc in a band into one block (the
        // band-only quadratic); ≤2 tokens → a single whole-text probe
        // (exact-prefix recall only — at that length a one-token edit IS
        // a rewrite, and no exact-signature scheme can block it)
        explode(when(size(toks) >= 3, array(
            struct(lit(1).as("probe"),
              when(size(toks) >= 5, md5(array_join(slice(toks, 1, 4), " ")))
                .otherwise(md5(array_join(slice(toks, 1, 2), " "))).as("sig")),
            struct(lit(2).as("probe"),
              when(size(toks) >= 5, md5(array_join(slice(toks, 5, 4), " ")))
                .otherwise(md5(array_join(slice(toks, 3, 2), " "))).as("sig"))))
          .otherwise(array(
            struct(lit(1).as("probe"), md5(array_join(slice(toks, 1, 2), " ")).as("sig")))))
          .as("p"))
      .select(col("doc_id"), col("prefix"), col("band"),
        col("p.probe").as("probe"), col("p.sig").as("sig"))
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
        col("band"), col("sig"))
    d.as("a").join(d.as("b"),
        col("a.band") === col("b.band") && col("a.probe") === col("b.probe") &&
          col("a.sig") === col("b.sig") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ai"), col("b.doc_id").as("bi"),
        col("a.prefix").as("pa"), col("b.prefix").as("pb"))
      // a pair colliding on both probes must be verified once, not twice
      .dropDuplicates("ai", "bi")
  }

  private def verifyPairs(cand: DataFrame): DataFrame =
    cand
      .select(col("ai"), col("bi"),
        // thresholded DP: O(len·k) band instead of O(len²) per pair, and
        // most pairs exit as soon as the band exceeds 8 (returned as -1).
        // For pairs within the threshold the distance is exact, so the
        // kept rows are identical to the unthresholded form the DuckDB
        // oracle computes.
        levenshtein(col("pa"), col("pb"), 8).as("dist"))
      .filter(col("dist") >= 0)
      .orderBy("ai", "bi")

  /** Near-dup cluster assignment — the post-processing step every dedup
    * pipeline ends with: connected components over the candidate-pair
    * graph, each doc labeled with its component's min doc_id (the keeper).
    * Computed by iterative min-label propagation to a fixpoint — each
    * round is one shuffle join + one map-side-combinable min-aggregate,
    * and the round count is bounded by the cluster diameter (near-dup
    * clusters are shallow: pairs/triples), not the corpus size. This is
    * the Pregel shape; the driver only coordinates rounds and checks
    * convergence (a count, never data). `localCheckpoint` truncates the
    * per-iteration lineage — without it the plan doubles every round.
    * Oracled against DuckDB's recursive-CTE transitive closure, which is
    * exactly the min-reachable-label fixpoint.
    */
  private def dupClusters(s: SparkSession, dir: String): DataFrame = {
    // materialize the pair list ONCE before the union: Spark has no
    // common-subplan elimination across Union branches, so an
    // unmaterialized `pairs` would run the banded Levenshtein self-join
    // twice (once per direction)
    val pairs = fuzzyDedup(s, dir).select(col("ai"), col("bi"))
      .localCheckpoint(true)
    val edges = pairs
      .union(pairs.select(col("bi").as("ai"), col("ai").as("bi")))
    val labels0 = edges.select(col("ai").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .localCheckpoint(true)
    val (labels, converged) = Rounds.run(labels0, 64) { (labels, _) =>
      edges
        .join(labels, edges("ai") === labels("node"))
        .select(col("bi").as("node"), col("label"))
        .union(labels)
        .groupBy("node").agg(min(col("label")).as("label"))
    }((prop, labels) => prop
        .join(labels.withColumnRenamed("label", "old"), "node")
        .filter(col("label") =!= col("old"))
        .isEmpty)(_.last)
    // a near-dup graph with diameter beyond the cap is pathological
    // input, and a truncated fixpoint would be silently WRONG labels
    require(converged.last,
      s"label propagation did not converge in ${converged.length} rounds")
    Rounds.release(pairs)
    labels
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** Near-dup corpus rewrite off the REAL duplicate graph: q_dup_clusters
    * assigns every clustered doc its component's min-id keeper; this op
    * finishes the job — drop every non-keeper member, keep keepers and
    * unclustered docs, and report the surviving corpus per language.
    * The drop list is the (tiny) cluster table minus its keepers, so the
    * corpus-side cost is one left-anti hash join against a table bounded
    * by the number of DUPLICATED docs — at 100 TB a broadcast or
    * co-keyed anti-join, never a corpus self-join (the propagation
    * already paid that, banded).
    */
  private def dupRewrite(s: SparkSession, dir: String): DataFrame = {
    val drop = dupClusters(s, dir)
      .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
    Tables.documents(s, dir)
      .join(drop, Seq("doc_id"), "left_anti")
      .groupBy("lang")
      .agg(cnt.as("n_kept"), sum(col("n_chars")).as("chars_kept"))
      .orderBy("lang")
  }

  // ------------------------------------------------------- n-gram Jaccard

  /** Exact 3-gram Jaccard near-dup pairs (threshold 0.05). Candidate
    * generation is the gram-equality self-join (bucket = gram); at
    * 100 TB you'd run q_dedup_minhash first and only verify its
    * candidates — this operator IS that verifier, so the pair is the
    * scale path. Jaccard is exact-integer-derived, so the threshold and
    * rounding are bit-stable across engines.
    */
  /** Stop-gram posting-list cap shared by the n-gram operators: a gram
    * appearing in more documents than this is a stop-gram — it carries no
    * near-dup signal and its posting list would otherwise pair-explode
    * O(|posting|²) inside ONE task (the classic hot-key skew killer at
    * corpus scale). 64 ≫ the observed max document frequency of the test
    * corpora (7 at sf0.01, 25 at sf0.1), so results are unchanged there;
    * the DuckDB oracles mirror the cap exactly so the semantics stay
    * oracle-checked whatever the data. Specs exercise the cap itself with
    * planted hot grams at a tiny K.
    */
  private[graft] val defaultMaxPostingDocs = 64

  private def dedupNgram(s: SparkSession, dir: String): DataFrame =
    dedupNgramCapped(s, dir, defaultMaxPostingDocs)

  /** Shared (ai, bi, ni, na, nb) pair-count table for the n-gram family
    * — the inverted-index candidate generator both the symmetric
    * Jaccard verifier and the asymmetric containment screen consume.
    */
  private def ngramPairCounts(
      s: SparkSession, dir: String, maxPostingDocs: Int): DataFrame = {
    // Single-pass inverted-index form: one shuffle by gram builds the
    // posting lists (collect_set also dedups within-doc repeats), pairs
    // explode from each list, and per-doc gram counts derive from the
    // same lists — the second consumer reuses the shuffle output
    // (ReusedExchange), so the gram build runs once. Grams are reduced
    // to 64-bit xxhash64 BEFORE the shuffle — equality on the hash is
    // equality on the gram (collision odds ~1e-7 at 1M distinct grams;
    // at 100 TB swap in a 128-bit hash), and the shuffle carries 8-byte
    // keys instead of ~20-byte strings. Stop-grams (posting list longer
    // than the cap) are dropped BEFORE the pair explosion — and before
    // the per-doc counts, so Jaccard is consistently defined over the
    // capped gram universe in both engines.
    val g2 = hashedGrams(s, dir)
      .groupBy("gram")
      .agg(sort_array(collect_set(col("doc_id"))).as("docs"))
      .filter(size(col("docs")) <= maxPostingDocs)
    val cnts = g2
      .select(explode(col("docs")).as("doc_id"))
      .groupBy("doc_id").agg(cnt.as("n"))
    val n = size(col("docs"))
    val inter = g2.filter(n >= 2)
      .select(explode(flatten(transform(sequence(lit(0), n - 2), i =>
        transform(sequence(i + 1, n - 1), j =>
          struct(element_at(col("docs"), i + 1).as("ai"),
            element_at(col("docs"), j + 1).as("bi")))))).as("p"))
      .groupBy(col("p.ai").as("ai"), col("p.bi").as("bi"))
      .agg(cnt.as("ni"))
    inter
      // no broadcast hint: cnts is one row per DOCUMENT, which at corpus
      // scale must not be forced through the driver — AQE broadcasts it
      // when it is actually small
      .join(cnts.select(col("doc_id"), col("n").as("na")), col("ai") === col("doc_id")).drop("doc_id")
      .join(cnts.select(col("doc_id"), col("n").as("nb")), col("bi") === col("doc_id")).drop("doc_id")
  }

  private[graft] def dedupNgramCapped(
      s: SparkSession, dir: String, maxPostingDocs: Int): DataFrame =
    ngramPairCounts(s, dir, maxPostingDocs)
      .withColumn("jac", col("ni") * lit(1.0) / (col("na") + col("nb") - col("ni")))
      .filter(col("jac") >= 0.05)
      .select(col("ai"), col("bi"), round(col("jac"), 4).as("jac"))
      .orderBy("ai", "bi")

  /** n-gram CONTAINMENT screen — the ASYMMETRIC near-dup signal
    * C(A,B) = |S(A)∩S(B)| / min(|S(A)|,|S(B)|): a short document quoted
    * wholesale inside a longer one scores C ≈ 1 while symmetric Jaccard
    * stays low (the intersection is diluted by the union) — exactly the
    * subset-duplication class (quoted articles, boilerplate-wrapped
    * reposts) that a Jaccard-thresholded dedup ships to training.
    * Reuses the capped inverted-index pair table, so the marginal cost
    * over q_dedup_ngram is one projection; every term is
    * integer-derived, so the ratio and the 0.5 cut are bit-stable.
    */
  private def dedupContainment(s: SparkSession, dir: String): DataFrame =
    ngramPairCounts(s, dir, defaultMaxPostingDocs)
      .withColumn("cont", col("ni") * lit(1.0) / least(col("na"), col("nb")))
      .withColumn("jac", col("ni") * lit(1.0) / (col("na") + col("nb") - col("ni")))
      .filter(col("cont") >= 0.5)
      .select(col("ai"), col("bi"),
        when(col("na") <= col("nb"), lit("a_in_b")).otherwise(lit("b_in_a")).as("side"),
        round(col("cont"), 4).as("cont"), round(col("jac"), 4).as("jac"))
      .orderBy("ai", "bi")

  // ------------------------------------------------------------- MinHash

  /** MinHash + LSH banding (32 hashes, 8 bands × 4 rows). Per doc:
    * 32 lane minima over its shingles → band buckets → candidate pairs =
    * docs sharing any band bucket → estimated Jaccard = fraction of
    * matching minhashes.
    *
    * Fully oracled (round 4): the gram's base hash is the first 48 bits
    * of its md5 reduced mod p = 2³¹−1, and the 32 lanes are Carter-Wegman
    * universal re-hashes `(aᵢ·h + bᵢ) mod p` whose constants are
    * themselves md5-derived Scala literals inlined into BOTH the Spark
    * plan and the DuckDB twin — every intermediate stays < 2⁵⁹, inside
    * exact BIGINT range in either engine, so the signatures (and thus the
    * banded candidate set and the n/32 estimate, an exact dyadic double)
    * replay bit-identically. The previous xxhash64 lanes were ⊘ rows-only
    * purely because DuckDB lacks xxhash64.
    *
    * Scale: the band self-join keys on (band, md5-of-4-lanes) — bucket
    * sizes stay tiny under uniform hashing, so this is the sub-quadratic
    * path that replaces all-pairs Jaccard at 100 TB. 32 min-aggregates
    * fold in ONE pass over the gram stream (no ×32 explode, no distinct —
    * min is duplicate-insensitive), and the shuffle carries one 32-long
    * signature per doc.
    */
  /** Signature width shared by [[minhashBandTable]] (lane count) and
    * [[estJaccard]] (agreement divisor) — one constant so the two can
    * never skew: a wider signature automatically re-scales the estimate.
    */
  private[graft] val MinhashLanes = 32

  /** (doc_id, sig, band, bucket) MinHash band table for any
    * (doc_id, text) frame — the signature/banding stage of
    * [[dedupMinhash]], also the index/probe builder for the streaming
    * near-dup gate (StreamOps.minhashIndex / nearDupFilterBatch /
    * nearDupSink: incremental dedup of a stream against a corpus).
    * Docs under 3 tokens have no 3-gram and drop out, matching the
    * batch operator's filter.
    */
  private[graft] def minhashBandTable(docs: DataFrame): DataFrame = {
    val numHashes = MinhashLanes
    val bandRows = 4
    val p = 2147483647L // 2^31 - 1 (Mersenne); lane products stay < 2^59
    val toks = col("toks")
    val grams = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(toks) >= 3)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(toks) - 3),
        i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2),
          element_at(toks, i + 3)))).as("gram"))
      .select(col("doc_id"),
        (conv(substring(md5(col("gram")), 1, 12), 16, 10).cast("long") % p).as("h"))
    val sigs = grams
      .groupBy("doc_id")
      .agg(array((0 until numHashes).map(i =>
        min((lit(minhashA(i)) * col("h") + lit(minhashB(i))) % p)): _*).as("sig"))
    // band buckets: md5 over the comma-joined 4-lane slice (16-byte
    // shuffle key; the same string both engines can compute)
    sigs.select(col("doc_id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(numHashes / bandRows - 1)),
        b => md5(concat_ws(",",
          transform(slice(col("sig"), b * bandRows + 1, lit(bandRows)),
            x => x.cast("string")))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /** Exact per-lane agreement fraction of two [[MinhashLanes]]-lane
    * signatures — n/32 is a dyadic rational, exact in IEEE double.
    */
  private[graft] def estJaccard(a: Column, b: Column): Column =
    aggregate(zip_with(a, b,
      (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v)
      .cast("double") / MinhashLanes

  /** Dedup-family evaluation harness — banded MinHash graded against the
    * exact n-gram Jaccard pair set at the 0.5 near-dup threshold, in one
    * query: recall (what fraction of true near-dup pairs the banded
    * search surfaces) and precision (what fraction of its candidates are
    * real) — the q_ann_recall idea applied to the text-dedup tier, the
    * numbers that justify trusting banded LSH as the 100 TB substitute
    * for all-pairs Jaccard. Both sides are deterministic, so the tiny
    * summary row is fully oracled (DuckDB recomposes the two pair-set
    * replays). The exact side is defined over dedupNgram's capped gram
    * universe (stop-grams dropped) — the same universe its own oracle
    * grades.
    */
  private def dedupRecall(s: SparkSession, dir: String): DataFrame = {
    val ex = dedupNgram(s, dir).filter(col("jac") >= 0.5)
      .select(col("ai"), col("bi"), lit(1L).as("e"))
    val ca = dedupMinhash(s, dir).filter(col("est_jac") >= 0.5)
      .select(col("ai"), col("bi"), lit(1L).as("c"))
    ex.join(ca, Seq("ai", "bi"), "full")
      .agg(coalesce(sum(col("e")), lit(0L)).as("n_exact"),
        coalesce(sum(col("c")), lit(0L)).as("n_cand"),
        coalesce(sum(when(col("e").isNotNull && col("c").isNotNull, 1L)),
          lit(0L)).as("hits"))
      .select(col("n_exact"), col("n_cand"), col("hits"),
        when(col("n_exact") > 0,
          round(col("hits").cast("double") / col("n_exact"), 4)).as("recall"),
        when(col("n_cand") > 0,
          round(col("hits").cast("double") / col("n_cand"), 4)).as("precision"))
  }

  private def dedupMinhash(s: SparkSession, dir: String): DataFrame = {
    val bands = minhashBandTable(
      Tables.documents(s, dir).select(col("doc_id"), col("text")))
    val cands = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ai"), col("b.doc_id").as("bi"),
        col("a.sig").as("siga"), col("b.sig").as("sigb"))
      .distinct()
    cands
      // n/32 is a dyadic rational — EXACT in ieee double, no rounding step
      .withColumn("est_jac", estJaccard(col("siga"), col("sigb")))
      .select("ai", "bi", "est_jac")
      .orderBy("ai", "bi")
  }

  /** Carter-Wegman lane constants, md5-derived so they are reproducible
    * from the lane index alone (and can be inlined into the DuckDB twin):
    * aᵢ = first 28 bits of md5("a"+i) + 1 (nonzero), bᵢ likewise from
    * "b"+i. 28-bit a × 31-bit h < 2⁵⁹: exact in BIGINT everywhere.
    */
  private def md5hex(x: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
  private[graft] val minhashA: IndexedSeq[Long] =
    (0 until 32).map(i => java.lang.Long.parseLong(md5hex("a" + i).substring(0, 7), 16) + 1)
  private[graft] val minhashB: IndexedSeq[Long] =
    (0 until 32).map(i => java.lang.Long.parseLong(md5hex("b" + i).substring(0, 7), 16))

  // ------------------------------------------------------------- SimHash

  /** Tf-weighted SimHash (Charikar) per doc + near-dup pairs via
    * 7-bit block LSH (9 blocks over the 63-bit signature). Bit j of the
    * signature is the sign of Σ_tokens tf·(±1 by token-hash bit j). Pairs
    * sharing any block are verified by Hamming distance ≤ 8 — by
    * pigeonhole (9 blocks, ≤8 flips) every such pair shares a clean
    * block, so candidate recall is exact at the threshold. The ≤8 cut is
    * sized to the corpus's ~30-token docs: with N tokens the per-bit
    * balance is a ±1 walk of length N, so near-dup flips concentrate
    * under √N-ish Hamming — ≤8 of 63 bits recovers every planted
    * jac≥0.9 pair at the spec gate (spec-asserted).
    *
    * Fully oracled (round 4): the token hash is 63 bits assembled from
    * two md5 hex slices — `(hi₃₁ << 32) | lo₃₂` stays within signed
    * BIGINT in both engines (max is exactly Long.Max), and DuckDB replays
    * the bit-balance fold with a 63-row bit cross join. Bit 63 is
    * structurally 0 (every token contributes −1), which costs one bit of
    * discrimination and keeps every intermediate overflow-free; the
    * balance>0 tie rule matches SimHashAggregator.finish exactly.
    */
  private def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    // tf-weighted (classic Charikar simhash): near-identical docs have
    // near-identical term frequencies, so bit balances barely move — an
    // unweighted token-SET simhash is far noisier on a small vocabulary.
    // No explicit tf stage: summing each OCCURRENCE's ±1 contribution is
    // tf-weighting, so the token stream aggregates by doc_id directly —
    // one shuffle (map-side combined to 64 longs/doc), not a string-keyed
    // (doc, word) shuffle followed by a second one. All 64 bit-balances
    // fold in ONE custom aggregate (graft.functions.SimHashAggregator):
    // the equivalent 64-sum expression form costs ~0.75 s/run in Catalyst
    // analysis alone at this width.
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens).as("w"))
      .withColumn("m", md5(col("w")))
      .withColumn("h",
        (conv(substring(col("m"), 1, 8), 16, 10).cast("long")
          .bitwiseAND(lit(0x7FFFFFFFL)) * lit(4294967296L)) +
          conv(substring(col("m"), 9, 8), 16, 10).cast("long"))
    val simAgg = udaf(graft.functions.SimHashAggregator, org.apache.spark.sql.Encoders.scalaLong)
    val sim = tok
      .groupBy("doc_id")
      .agg(simAgg(col("h")).as("simhash"))
    // 9 blocks × 7 bits over the 63-bit signature: by pigeonhole, any
    // pair within Hamming ≤ 8 shares at least one clean block ⇒ candidate
    // generation has perfect recall for the ≤8 threshold
    val blocks = sim.select(col("doc_id"), col("simhash"),
      explode(sequence(lit(0), lit(8))).as("blk"))
      .withColumn("key", expr("shiftright(simhash, blk * 7) & 127"))
    blocks.as("a").join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ai"), col("b.doc_id").as("bi"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      // filter BEFORE the dedup shuffle: a pair sharing k blocks is
      // emitted k times, so distinct is needed, but failed candidates
      // need not be shuffled at all
      .filter(col("hamming") <= 8)
      .distinct()
      .orderBy("ai", "bi")
  }

  /** Canonical text normalization — the first pass of every curation
    * pipeline: lowercase, strip non-alphanumeric/space characters,
    * collapse whitespace runs, trim. Emitted as per-document before/after
    * length + normalized-content hash (md5 is identical in both engines,
    * so the transform itself is oracle-exact without shipping full text
    * through the compare). One projection, no shuffle.
    */
  private def textNormalize(s: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        length(col("text")).as("n_raw"),
        length(norm).as("n_norm"),
        md5(norm).as("norm_md5"))
      .orderBy("doc_id")
  }

  /** Vocabulary coverage (the pass run before tokenizer training): rank
    * words by corpus frequency and emit the top 100 with their running
    * cumulative token count. Scale shape: the only corpus-sized step is
    * the word count (one map-side-combinable shuffle); the top-k cut is
    * a per-partition heap (TakeOrderedAndProject), and the running sum
    * windows over the 100 SURVIVING rows only — the same tiny-table
    * single-task window as the pack-sequences bucket offsets, never the
    * full vocabulary. Cumulative coverage is emitted as an exact integer
    * token count (ratio left to the caller) — no FP rounding in the
    * compare.
    */
  private def vocabCoverage(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = Tables.documents(s, dir)
      .select(explode(tokens).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word")).limit(100)
    val w = Window.orderBy(col("n").desc, col("word"))
    top.select(
        row_number().over(w).as("rank"), col("word"), col("n"),
        sum("n").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("cum_tok"))
      .orderBy("rank")
  }

  /** Overlapping fixed-size token chunking (the pretraining/RAG
    * chunker): each document is cut into 32-token windows on a 24-token
    * stride (8-token overlap), the last window truncated at the
    * document edge — per-DOCUMENT chunking with context overlap, the
    * complement of q_pack_sequences' concatenate-and-cut. Emitted as
    * (doc_id, chunk_idx, n_tok, md5-of-chunk) so the transform is
    * oracle-exact without shipping chunk text through the compare.
    * Scale shape: tokenize → generator explode → projection — narrow,
    * no shuffle, no state; the token array materializes once per row
    * (same CollapseProject note as the shingle path above).
    */
  private def chunkDocs(s: SparkSession, dir: String): DataFrame = {
    val chunk = 32
    val stride = 24
    val toks = col("toks")
    Tables.documents(s, dir)
      .select(col("doc_id"), tokens.as("toks"))
      .withColumn("n", size(toks).cast("long"))
      // one k per window start (k*stride < n); n >= 1 always holds for
      // non-empty text but the guard keeps sequence() from descending
      // on a pathological empty doc (step defaults to -1 when end < start)
      .filter(col("n") >= 1)
      .select(col("doc_id"), toks, col("n"),
        posexplode(sequence(lit(0L), floor((col("n") - 1) / stride).cast("long")))
          .as(Seq("chunk_idx", "k")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        least(lit(chunk.toLong), col("n") - col("k") * stride).as("n_tok"),
        md5(concat_ws(" ", slice(toks, (col("k") * stride + 1).cast("int"), lit(chunk))))
          .as("h"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Benchmark decontamination: for every document of the held-out set
    * (here: doc_id < 50 plays the benchmark), count training documents
    * sharing at least one 3-gram and the total shared-gram volume — the
    * screen run before an eval set is trusted. Same inverted-index shape
    * as q_dedup_ngram: one shuffle on the gram key, candidate pairs only
    * from shared postings, never an all-pairs scan.
    *
    * The shuffle key is a 128-bit hash of the gram — two independent
    * xxhash64 lanes, so equality on the pair IS gram equality (collision
    * odds ~1e-20 at 1e9 distinct grams) while the shuffle carries 16
    * fixed bytes instead of arbitrary-length strings; the DuckDB oracle
    * compares the STRINGS, keeping the hashed path exactness-checked.
    * Stop-grams (over [[defaultMaxPostingDocs]] documents) are dropped
    * inside the same aggregate, before the eval×train pair explosion.
    */
  private def contamination(s: SparkSession, dir: String): DataFrame =
    contaminationCapped(s, dir, defaultMaxPostingDocs)

  private[graft] def contaminationCapped(
      s: SparkSession, dir: String, maxPostingDocs: Int): DataFrame = {
    val toks = col("toks")
    val grams = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(toks) >= 3)
      .select(col("doc_id"), explode(array_distinct(transform(
        sequence(lit(0), size(toks) - 3),
        i => concat_ws(" ",
          element_at(toks, i + 1),
          element_at(toks, i + 2),
          element_at(toks, i + 3))))).as("gram"))
      .select(col("doc_id"),
        xxhash64(col("gram")).as("h1"), xxhash64(lit(1), col("gram")).as("h2"))
    // one shuffle on the hashed gram builds both posting sides at once;
    // collect_set drops the nulls of the other side's `when`
    val posts = grams
      .groupBy("h1", "h2")
      .agg(
        collect_set(when(col("doc_id") < 50, col("doc_id"))).as("eval_ids"),
        collect_set(when(col("doc_id") >= 50, col("doc_id"))).as("train_ids"))
      .filter(size(col("eval_ids")) + size(col("train_ids")) <= maxPostingDocs)
      .filter(size(col("eval_ids")) >= 1 && size(col("train_ids")) >= 1)
    posts
      .select(explode(col("eval_ids")).as("eval_id"), col("train_ids"))
      .select(col("eval_id"), explode(col("train_ids")).as("train_id"))
      .groupBy("eval_id")
      .agg(countDistinct(col("train_id")).as("n_train_docs"),
        cnt.as("n_shared_grams"))
      .orderBy("eval_id")
  }

  // ------------------------------------------------- splits & sampling

  /** Deterministic hash-based train/validation split — how production
    * corpora are split (content-hash bucketing survives re-runs,
    * re-shards, and late-arriving data, unlike random sampling). Bucket =
    * first hex nibble of md5(text): 0-c → train (~81%), d-f → val. md5 is
    * identical in Spark and DuckDB, so the split is oracle-exact. One
    * projection + aggregate; no shuffle beyond the count.
    */
  private def trainSplit(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("split",
        when(substring(md5(col("text")), 1, 1).isin(
          "d", "e", "f"), "val").otherwise("train"))
      .groupBy("split")
      .agg(cnt.as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .orderBy("split")

  /** Leakage-safe train/val split: q_train_split's hash split applied at
    * near-dup-CLUSTER granularity instead of per-doc, so two near-
    * duplicate documents can never straddle the split boundary. Per-doc
    * hashing leaks train content into val through a document's near-dup
    * twin — the contamination mode q_contamination screens for AFTER the
    * fact; keying the split on q_dup_clusters' component label prevents
    * it BY CONSTRUCTION (the split is a pure function of the cluster
    * id, so a cluster is train or val wholesale — the Dolma/RefinedWeb
    * split discipline). Unclustered docs are their own singleton
    * cluster. Cost at 100 TB: the cluster table is bounded by the
    * number of DUPLICATED docs (broadcast or co-keyed left join onto
    * the corpus); everything else is a projection + a 2-key aggregate.
    * Fully oracled — DuckDB replays the recursive-CTE closure and the
    * identical md5 split rule.
    */
  private def leakageSafeSplit(s: SparkSession, dir: String): DataFrame =
    docsWithClusterSplit(s, dir)
      .groupBy("split")
      .agg(cnt.as("n_docs"),
        count_distinct(col("cluster_id")).as("n_clusters"),
        sum(col("n_chars")).as("n_chars"))
      .orderBy("split")

  /** Per-doc (cluster_id, split) assignment — shared by the registry
    * aggregate and the spec that asserts no near-dup pair straddles.
    */
  private[graft] def docsWithClusterSplit(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .join(dupClusters(s, dir), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("split",
        when(substring(md5(concat(lit("lsplit:"),
          col("cluster_id").cast("string"))), 1, 1)
          .isin("c", "d", "e", "f"), "val").otherwise("train"))

  /** SOFT dedup — duplicate downweighting instead of removal (the
    * SlimPajama-DC / "documents are worth keeping once" discipline):
    * every document gets sampling weight 1/|its near-dup cluster|, so
    * a cluster of k near-copies contributes exactly one document's
    * worth of expected training mass wherever hard dedup would have
    * had to pick an arbitrary survivor. Unclustered docs are singleton
    * clusters (weight 1.0). Reuses q_dup_clusters' component labels;
    * the size is ONE window count over the cluster key — a single
    * cluster_id shuffle beyond the clustering itself, no second
    * aggregate+join pass. The weight is an exact IEEE division of two
    * small integers, identical on both engines; fully oracled.
    */
  private def dedupSoft(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cl = Tables.documents(s, dir).select(col("doc_id"))
      .join(dupClusters(s, dir), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    cl.withColumn("csize",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
      .select(col("doc_id"), col("cluster_id"), col("csize"),
        (lit(1.0) / col("csize").cast("double")).as("weight"))
      .orderBy("doc_id")
  }

  /** Stratified sampling by language (per-stratum Bernoulli): the
    * curation primitive for rebalancing a corpus. The draw is an
    * md5-derived uniform on doc_id (the mixtureSample trick) rather than
    * `sampleBy`'s seeded RNG: identical semantics (independent Bernoulli
    * per row, per-stratum fraction), but the decision is a pure function
    * of the row — reproducible across engines, cluster sizes, and
    * partitionings, which is what a 100 TB rerun actually needs (a
    * seed+partition-order sample silently changes when the file layout
    * does). Fully oracled as of round 4 (was ⊘ rows-only under sampleBy).
    * One projection + one tiny-key hash agg; no shuffle beyond it.
    */
  private def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val fractions = Seq("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25,
      "es" -> 0.1, "zh" -> 0.1)
    val frac = fractions.foldLeft(lit(0.0)) { case (acc, (l, f)) =>
      when(col("lang") === l, lit(f)).otherwise(acc)
    }
    val u = mdUniform("strat:", col("doc_id"))
    Tables.documents(s, dir)
      .filter(u.cast("double") < frac * 16777216.0)
      .groupBy("lang")
      .agg(cnt.as("n_sampled"))
      .orderBy("lang")
  }

  // ----------------------------------------------------------- quantiles

  /** Distribution stats for corpus curation: exact doc-length percentiles
    * per language (`percentile` — same linear interpolation as DuckDB's
    * `quantile_cont`, so decimal-exact cross-engine) plus the
    * approx_percentile sketch twin whose error the spec bounds. The exact
    * form sorts within groups; the sketch is the 100 TB path — one
    * mergeable KLL-style buffer per group, map-side combined.
    */
  private def textQuantiles(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy("lang")
      .agg(
        percentile(col("n_chars"), lit(0.5)).as("p50"),
        percentile(col("n_chars"), lit(0.95)).as("p95"),
        cnt.as("n"))
      .orderBy("lang")

  /** Quality-floor filter: keep documents at or above their language's
    * exact 25th-percentile length — the order-statistic complement to the
    * moment-based z-score screen (ops/Curation.scala). The per-language
    * percentile table is tiny (one row per language) and broadcasts back
    * onto the scan; at 100 TB the exact percentile swaps for the
    * approx_percentile sketch already bounded in the quantiles spec.
    */
  private def qualityFilter(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.documents(s, dir)
      .groupBy("lang")
      .agg(percentile(col("n_chars"), lit(0.25)).as("p25"))
    Tables.documents(s, dir)
      .join(broadcast(p), "lang")
      .groupBy("lang")
      .agg(cnt.as("n_docs"),
        sum(when(col("n_chars") >= col("p25"), 1L).otherwise(0L)).as("n_kept"),
        round(first(col("p25")), 4).as("p25"))
      .orderBy("lang")
  }

  // ------------------------------------------------------------- lang id

  /** Stopword-profile language ID (n-gram heuristic): score each document
    * against small public stopword profiles, predict the argmax with a
    * deterministic tie-break on language code. Oracled: the scoring is
    * plain token-set counting DuckDB replays verbatim, and the (score,
    * lang) argmax maps to `row_number() OVER (ORDER BY score DESC, lang
    * DESC)`. Spec additionally checks synthetic sentences per language.
    * One projection, no shuffle — trivially scalable.
    */
  private val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "que"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "他", "不"))

  private def langId(s: SparkSession, dir: String): DataFrame = {
    val scored = profiles.map { case (lang, words) =>
      struct(
        size(filter(tokens, w => w.isin(words: _*))).as("score"),
        lit(lang).as("lang"))
    }
    // array_max on (score, lang) structs: max score, then max lang code —
    // deterministic tie-break (ties on 0 predict "zh"← last lexicographic).
    Tables.documents(s, dir)
      .withColumn("best", array_max(array(scored: _*)))
      .select(col("doc_id"), col("best.lang").as("pred_lang"),
        col("best.score").as("score"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------- fingerprinting

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD'03 — the
    * public MOSS algorithm): rolling 5-char-gram hashes, then the min hash
    * of every 4-gram window, deduplicated. Emits per-doc fingerprint-set
    * stats. Oracled: the gram hash is the first 48 bits of md5 (md5 and
    * hex→int being the only hash primitives both engines share), so
    * DuckDB replays the full winnow with list math; spec additionally
    * asserts shared-prefix docs share fingerprints. All array ops in one
    * projection — no shuffle.
    *
    * No lambda body may reference the hash array `hs`. A predicate on
    * the output (`n_fp`, or the `isnotnull` constraint inference adds
    * under a join) is pushed below the projections with `hs` inlined
    * into it; a window lambda over `hs` then re-hashes the whole
    * document once per window — quadratic in the text length. The
    * window minima are therefore the element-wise `least` of the `w`
    * shifted slices of `hs`, whose lambdas see only their elements.
    */
  private def docFingerprint(s: SparkSession, dir: String): DataFrame = {
    val k = 5
    val w = 4
    val hashes = transform(
      sequence(lit(1), length(col("text")) - (k - 1)),
      i => conv(substring(md5(col("text").substr(i, lit(k)).cast("binary")), 1, 12), 16, 10)
        .cast("long"))
    val windows = size(col("hs")) - (w - 1)
    val minima = (1 until w).foldLeft(slice(col("hs"), lit(1), windows)) {
      (acc, o) => zip_with(acc, slice(col("hs"), lit(o + 1), windows), least(_, _))
    }
    Tables.documents(s, dir)
      .filter(length(col("text")) >= k + w)
      .withColumn("hs", hashes)
      .withColumn("fps", array_distinct(minima))
      .select(col("doc_id"), size(col("fps")).as("n_fp"),
        array_min(col("fps")).as("fp_min"), array_max(col("fps")).as("fp_max"))
      .orderBy("doc_id")
  }

  /** URL CANONICALIZATION dedup — the Common-Crawl-pipeline stage that
    * collapses crawl-variant URLs before content dedup ever runs:
    * lowercase scheme/host, strip default ports (:80/:443) and
    * fragments, drop tracking parameters (utm_*, ref=), and sort the
    * surviving query parameters so parameter order stops mattering.
    * The whole canonicalization is a codegen'd projection (regex
    * extracts + a small array filter/sort per row — no shuffle), and
    * the dedup is one hash aggregate on the canonical key: the exact
    * shape this runs at crawl scale. The fixture carries no URL
    * column, so each document emits four planted crawl variants (case/
    * port/fragment noise; tracking params; parameter-order shuffle)
    * that canonicalize 4 → 2 — the compare the oracle grades per
    * source.
    */
  private def urlCanonical(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val base = concat(lit("https://"), col("source"), lit(".example.com/"),
      col("lang"), lit("/"), col("doc_id").cast("string"))
    val variants = array(
      base,
      concat(base, lit("?utm_source=feed&b=2&a=1")),
      concat(lit("HTTPS://"), upper(col("source")), lit(".EXAMPLE.COM:443/"),
        col("lang"), lit("/"), col("doc_id").cast("string"), lit("#sec2")),
      concat(base, lit("?a=1&b=2&utm_campaign=x")))
    val urls = d.select(col("source"), explode(variants).as("url"))
    val scheme = lower(regexp_extract(col("url"), "^([A-Za-z]+)://", 1))
    val host = lower(regexp_replace(
      regexp_extract(col("url"), "^[A-Za-z]+://([^/?#]+)", 1),
      ":(80|443)$", ""))
    val path = regexp_extract(col("url"), "^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    val kept = array_sort(filter(
      split(regexp_extract(col("url"), "\\?([^#]*)", 1), "&"),
      x => x =!= "" && !x.startsWith("utm_") && !x.startsWith("ref=")))
    val canon = concat(scheme, lit("://"), host, path,
      when(size(kept) > 0, concat(lit("?"), array_join(kept, "&")))
        .otherwise(lit("")))
    urls.withColumn("canon", canon)
      .groupBy("source")
      .agg(cnt.as("n_urls"),
        countDistinct(col("url")).as("n_raw"),
        countDistinct(col("canon")).as("n_canon"))
      .orderBy("source")
  }

  // ------------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_url_canonical" -> (urlCanonical _),
    "q_dedup_exact" -> (dedupExact _),
    "q_dedup_best" -> (dedupBest _),
    "q_text_quantiles" -> (textQuantiles _),
    "q_quality_filter" -> (qualityFilter _),
    "q_train_split" -> (trainSplit _),
    "q_leakage_safe_split" -> (leakageSafeSplit _),
    "q_dedup_soft" -> (dedupSoft _),
    "q_contamination" -> (contamination _),
    "q_bloom_contamination" -> (bloomContamination _),
    "q_heavy_hitters" -> (heavyHitters _),
    "q_text_normalize" -> (textNormalize _),
    "q_chunk_docs" -> (chunkDocs _),
    "q_vocab_coverage" -> (vocabCoverage _),
    "q_ngram_novelty" -> (ngramNovelty _),
    "q_stratified_sample" -> (stratifiedSample _),
    "q_text_stats" -> (textStats _),
    "q_text_quality" -> (textQuality _),
    "q_token_count" -> (tokenCount _),
    "q_dedup_ngram" -> (dedupNgram _),
    "q_containment" -> (dedupContainment _),
    "q_dedup_recall" -> (dedupRecall _),
    "q_dedup_minhash" -> (dedupMinhash _),
    "q_dedup_simhash" -> (dedupSimhash _),
    "q_lang_id" -> (langId _),
    "q_doc_fingerprint" -> (docFingerprint _),
    "q_repetition" -> (repetition _),
    "q_tfidf" -> (tfidf _),
    "q_bm25" -> (bm25 _),
    "q_rrf_fusion" -> (rrfFusion _),
    "q_text_entropy" -> (textEntropy _),
    "q_collocations" -> (collocations _),
    "q_phrase_rewrite" -> (phraseRewrite _),
    "q_bpe_train" -> (bpeTrain _),
    "q_unigram_train" -> (unigramTrain _),
    "q_unigram_encode" -> (unigramEncode _),
    "q_bpe_encode" -> (bpeEncode _),
    "q_bpe_persist" -> (bpePersist _),
    "q_bigram_lm" -> (bigramLm _),
    "q_kneser_ney" -> (kneserNey _),
    "q_hash_embed" -> (hashEmbed _),
    "q_lm_score" -> (lmScore _),
    "q_perplexity_buckets" -> (perplexityBuckets _),
    "q_tokenizer_fertility" -> (tokenizerFertility _),
    "q_fuzzy_dedup" -> (fuzzyDedup _),
    "q_dup_clusters" -> (dupClusters _),
    "q_dup_rewrite" -> (dupRewrite _),
    "q_importance_weights" -> (importanceWeights _)
  )

  /** DuckDB-side hex→BIGINT of `len` hex chars of `inner` starting at
    * 1-based `start` (DuckDB has no conv(); the fingerprint oracle's
    * established fold idiom).
    */
  private[graft] def hexSql(inner: String, start: Int, len: Int): String =
    s"list_reduce(list_transform(range(1, ${len + 1}), c -> " +
      s"CAST(strpos('0123456789abcdef', substr($inner, CAST(c + ${start - 1} AS INT), 1)) - 1 AS BIGINT)), " +
      "(a, b) -> a * 16 + b)"

  /** One greedy BPE merge round as DuckDB CTEs (the islands+parity
    * replay q_bpe_train proved): applies the 1-row merge table `$tsel`
    * (columns ta, tb) to the symbolized vocab `$src` (w, f, syms),
    * emitting `$out` with the merged syms. `$tag` uniquifies the
    * intermediate CTE names so two rounds can chain in one WITH.
    */
  /** The [[BpeMerges]]-round training chain as CTEs: round k computes
    * pair counts `p{k}`, the argmax merge `t{k}`, and the merged vocab
    * `ch{k+1}` (from `ch` for k=1). Unreferenced tail CTEs cost nothing
    * (DuckDB only evaluates what the final SELECT reaches), so
    * q_bpe_train (needs p1..pN) and the wlen consumers (need ch{N+1})
    * share this one builder.
    */
  private def bpeChainCtes: String = {
    val rounds = (1 to BpeMerges).map { k =>
      val src = if (k == 1) "ch" else s"ch$k"
      s"pr$k AS (SELECT f, unnest(list_transform(range(1, len(syms)), i -> struct_pack(a := syms[CAST(i AS INT)], b := syms[CAST(i + 1 AS INT)]))) AS g FROM $src WHERE len(syms) >= 2), " +
        s"p$k AS (SELECT g.a AS a, g.b AS b, CAST(sum(f) AS BIGINT) AS c FROM pr$k GROUP BY 1, 2), " +
        s"t$k AS (SELECT a AS ta, b AS tb FROM p$k ORDER BY c DESC, a, b LIMIT 1), " +
        bpeMergeCtes(src, s"t$k", s"ch${k + 1}", s"m$k")
    }.mkString(", ")
    "wds AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY w), " +
      "ch AS MATERIALIZED (SELECT w, f, list_transform(range(1, len(w) + 1), i -> w[CAST(i AS INT)]) AS syms FROM wds), " +
      rounds
  }

  /** The trained tokenizer's (w, n_bpe) vocabulary table as CTEs — the
    * full bpeTrain replay ([[BpeMerges]] argmaxes + greedy merge rounds)
    * up to `wlen`; q_bpe_encode and q_tokenizer_fertility close over it.
    */
  private def bpeWlenCtes: String =
    bpeChainCtes +
      s", wlen AS (SELECT w, CAST(len(syms) AS INT) AS n_bpe FROM ch${BpeMerges + 1})"

  // --------------------------------------------- unigram oracle twins

  /** DuckDB f(x) — the half-bit-quantized 2·log₂ with the SAME baked
    * √2 thresholds [[Sqrt2Thr]] the Spark side interpolates.
    *
    * Spelled as a breakpoint-ladder count, NOT via bin()-length array
    * indexing: f(x) = |{b ∈ L : b ≤ x}| where L interleaves thr_e and
    * 2^e for e = 1..62. Proof of equality with 2·(bitlen−1) + [x ≥
    * thr_bitlen] for 2^(b−1) ≤ x < 2^b: every e < b contributes both
    * thr_e < 2^e ≤ x and 2^e ≤ x (2(b−1) total); e = b contributes
    * exactly [x ≥ thr_b] (2^b > x); every e > b contributes nothing
    * (thr_e > 2^b > x). The ladder form uses only constructs every
    * other (driver-green) twin already exercises — list_filter/len/
    * lambda capture — where bin() + out-of-band list indexing were
    * UNIQUE to this twin and are the prime suspects for the r15
    * driver-side q_unigram_train hash divergence that never reproduced
    * locally (hash-only failure, all shared-chain consumers green).
    */
  private val HalfBitLadder: IndexedSeq[Long] =
    (1 to 62).flatMap(e => Seq(Sqrt2Thr(e - 1), 1L << e))

  private def fHalfBitsDk(x: String): String =
    s"len(list_filter([${HalfBitLadder.mkString(", ")}], b -> b <= $x))"

  private def uniCostCteDk(name: String, vsrc: String): String =
    s"$name AS MATERIALIZED (SELECT p, c, " +
      s"CAST(${fHalfBitsDk("t.tc")} - ${fHalfBitsDk("c")} AS BIGINT) AS cost " +
      s"FROM $vsrc CROSS JOIN (SELECT CAST(sum(c) AS BIGINT) AS tc FROM $vsrc) t)"

  private def uniLstarDk(cp: String): String =
    "CASE " + (4 to 2 by -1).map { l =>
      s"WHEN $cp >= $l AND dp[$cp - $l + 1] + pl[($cp - $l) * 4 + $l] = dp[$cp + 1] THEN $l "
    }.mkString + "ELSE 1 END"

  /** One Viterbi segmentation pass over the distinct-word table `wf`
    * under cost table `costSrc` — the EXACT integer twin of the
    * `unigram_pieces` kernel behind [[uniSegment]]: flat slot list
    * (packed cost·2²⁰+1, missing 10⁹ half-bits), the DP fold (min over
    * ≤4 predecessors; the kernel skips the p<l slots, the twin carries a
    * dominated sentinel instead so NULL semantics never enter), the
    * longest-piece-last reconstruction fold, and the piece slices. Both
    * folds carry a single-expression LIST accumulator (the r14
    * list_reduce law).
    */
  private def uniSegCtesDk(sfx: String, costSrc: String): String = {
    // every least() option is TOTAL (p < l slots carry a 2^62 sentinel
    // instead of NULL): the l = 1 option is valid at every position, and
    // real packed options stay < 2^51 (len·130 half-bits of single-char
    // chain + one 10^9-half-bit missing-piece slot), so the sentinel never
    // wins — least()'s cross-version NULL semantics drop out entirely.
    // The < 2^51 bound holds only while every single char stays in the
    // cost table: [[uniEmRound]]'s coverage floor of 1 guarantees it
    val opts = (1 to 4).map(l =>
      s"CASE WHEN el[1] >= $l THEN acc[el[1] - $l + 1] + pl[(el[1] - $l) * 4 + $l] " +
        "ELSE 4611686018427387904 END")
      .mkString(", ")
    s"sl$sfx AS (SELECT w, f, unnest(range(1, 4 * len(w) + 1)) AS idx FROM wf), " +
      s"sb$sfx AS (SELECT w, f, idx, CASE WHEN ((idx + 3) // 4) + ((idx - 1) % 4 + 1) - 1 <= len(w) " +
      s"THEN substr(w, CAST((idx + 3) // 4 AS INT), CAST((idx - 1) % 4 + 1 AS INT)) END AS sub FROM sl$sfx), " +
      s"pl$sfx AS MATERIALIZED (SELECT s.w AS w, s.f AS f, " +
      s"list(COALESCE(c.cost, 1000000000) * 1048576 + 1 ORDER BY s.idx) AS pl " +
      s"FROM sb$sfx s LEFT JOIN $costSrc c ON c.p = s.sub GROUP BY s.w, s.f), " +
      s"dp$sfx AS MATERIALIZED (SELECT w, f, pl, " +
      s"list_reduce(list_prepend([CAST(0 AS BIGINT)], list_transform(range(1, len(w) + 1), p -> [p])), " +
      s"(acc, el) -> list_append(acc, least($opts))) AS dp FROM pl$sfx), " +
      // the reconstruction fold APPENDS ON EVERY ITERATION (a scalar CASE
      // inside one list_append, re-appending 0 once the walk terminates)
      // instead of early-exiting via `CASE WHEN ... THEN acc` — a
      // list-typed CASE branch that REUSES the accumulator is the same
      // evaluator seam as the r14 struct-field list_reduce bug (Multimodal
      // adpcmFoldLambda) and was observed (r16) mis-evaluating the fold's
      // INITIAL element context-dependently: identical dp/pl inputs gave
      // cuts [5,1,0] under q_tokenizer_fertility's wider WITH clause vs
      // the correct [8,5,4,2,1,0] standalone. Terminated-walk padding
      // yields zero-width '' slices, filtered out of `pieces` below —
      // provably never a real piece (real widths are >= 1).
      s"rc$sfx AS MATERIALIZED (SELECT w, f, " +
      s"list_reduce(list_prepend([CAST(len(w) AS BIGINT)], list_transform(range(1, len(w) + 1), x -> [x])), " +
      s"(acc, el) -> list_append(acc, CASE WHEN acc[len(acc)] <= 0 THEN acc[len(acc)] " +
      s"ELSE acc[len(acc)] - (${uniLstarDk("acc[len(acc)]")}) END)) AS cuts FROM dp$sfx), " +
      s"pc$sfx AS MATERIALIZED (SELECT w, f, list_filter(list_transform(range(1, len(cuts)), " +
      s"k -> substr(w, CAST(cuts[k + 1] + 1 AS INT), CAST(cuts[k] - cuts[k + 1] AS INT))), " +
      s"p -> p <> '') AS pieces FROM rc$sfx)"
  }

  /** One hard-EM M-step: Viterbi counts, zero-count multi-char prune,
    * single-char coverage floor 1, re-costed.
    */
  private def uniEmCtesDk(r: Int): String =
    s"u$r AS MATERIALIZED (SELECT p, CAST(sum(f) AS BIGINT) AS c FROM " +
      s"(SELECT f, unnest(pieces) AS p FROM pc$r) GROUP BY p), " +
      s"v$r AS MATERIALIZED (SELECT p, c FROM u$r WHERE length(p) >= 2 " +
      s"UNION ALL SELECT ch.p AS p, greatest(COALESCE(u.c, 0), 1) AS c " +
      s"FROM chars0 ch LEFT JOIN u$r u ON u.p = ch.p), " +
      uniCostCteDk(s"cost$r", s"v$r")

  /** The full unigram chain: word frequencies, candidate harvest,
    * top-K vocab, [[UnigramRounds]] EM rounds; `withEncodePass` adds
    * the final segmentation under the trained model (pc3).
    */
  private def uniChainCtes(withEncodePass: Boolean): String = {
    val base =
      "wf AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS f FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS w FROM documents) WHERE len(w) >= 1 GROUP BY w), " +
        "cand AS MATERIALIZED (SELECT p, CAST(sum(f) AS BIGINT) AS c FROM " +
        "(SELECT f, unnest(list_filter(flatten(list_transform(range(1, len(w) + 1), i -> " +
        "list_transform(range(1, 5), l -> CASE WHEN i + l - 1 <= len(w) " +
        "THEN substr(w, CAST(i AS INT), CAST(l AS INT)) END))), x -> x IS NOT NULL)) AS p " +
        "FROM wf) GROUP BY p), " +
        "chars0 AS MATERIALIZED (SELECT p, c FROM cand WHERE length(p) = 1), " +
        s"multi0 AS (SELECT p, c FROM (SELECT p, c, row_number() OVER (ORDER BY c DESC, p) AS rn " +
        s"FROM cand WHERE length(p) >= 2) WHERE rn <= $UnigramPieces), " +
        "v0 AS MATERIALIZED (SELECT p, c FROM chars0 UNION ALL SELECT p, c FROM multi0), " +
        uniCostCteDk("cost0", "v0") + ", " +
        uniSegCtesDk("1", "cost0") + ", " + uniEmCtesDk(1) + ", " +
        uniSegCtesDk("2", "cost1") + ", " + uniEmCtesDk(2)
    if (withEncodePass) base + ", " + uniSegCtesDk("3", "cost2") else base
  }

  private def bpeMergeCtes(src: String, tsel: String, out: String, tag: String): String =
    s"mflag$tag AS (SELECT w, unnest(list_transform(range(1, len(syms)), i -> struct_pack(i := i, inp := syms[CAST(i AS INT)] = ta AND syms[CAST(i + 1 AS INT)] = tb))) AS g FROM $src CROSS JOIN $tsel), " +
      s"mf$tag AS (SELECT w, g.i AS i FROM mflag$tag WHERE g.inp), " +
      s"runs$tag AS (SELECT w, i, i - row_number() OVER (PARTITION BY w ORDER BY i) AS grp FROM mf$tag), " +
      s"mg$tag AS (SELECT w, i FROM (SELECT w, i, min(i) OVER (PARTITION BY w, grp) AS rs FROM runs$tag) WHERE (i - rs) % 2 = 0), " +
      s"ap$tag AS (SELECT w, f, g.i AS i, g.s AS s, g.nxt AS nxt FROM (SELECT w, f, unnest(list_transform(range(1, len(syms) + 1), i -> struct_pack(i := i, s := syms[CAST(i AS INT)], nxt := CASE WHEN i < len(syms) THEN syms[CAST(i + 1 AS INT)] END))) AS g FROM $src)), " +
      s"pieces$tag AS (SELECT ap$tag.w AS w, ap$tag.f AS f, ap$tag.i AS i, CASE WHEN mg$tag.i IS NOT NULL THEN ap$tag.s || ap$tag.nxt ELSE ap$tag.s END AS piece " +
      s"FROM ap$tag LEFT JOIN mg$tag ON ap$tag.w = mg$tag.w AND ap$tag.i = mg$tag.i " +
      s"WHERE NOT EXISTS (SELECT 1 FROM mg$tag c WHERE c.w = ap$tag.w AND c.i = ap$tag.i - 1)), " +
      // MATERIALIZED: each round references its source vocab 4 ways
      // (pair scan, merge flags, symbol positions, empty-word
      // passthrough) — inlining would expand the chain 4^N-fold and is
      // exactly what "Too many open files" at depth 8 looks like
      s"$out AS MATERIALIZED (SELECT w, min(f) AS f, list(piece ORDER BY i) AS syms FROM pieces$tag GROUP BY w " +
      // zero-length words have no ap rows (range over len(syms)=0 is
      // empty) and would vanish from the round; pass them through so the
      // downstream vocab join keeps their occurrences with n_bpe=0,
      // matching the Spark side's empty-syms guard
      s"UNION ALL SELECT w, f, syms FROM $src WHERE len(syms) = 0)"

  /** q_dedup_minhash twin: replays the md5-mod-p base hash, the 32
    * Carter-Wegman lanes (constants interpolated from the same Scala
    * values the Spark plan inlines), the md5 band buckets, and the exact
    * dyadic n/32 estimate.
    */
  private def minhashOracle: String = {
    val p = 2147483647L
    val n = MinhashLanes
    val bands = n / 4
    val lanes = (0 until n).map(i =>
      s"min((${minhashA(i)} * h + ${minhashB(i)}) % $p) AS m$i").mkString(", ")
    val buckets = (0 until bands).map(j =>
      s"md5(${(0 until 4).map(r => s"m${j * 4 + r}").mkString(" || ',' || ")}) AS k$j").mkString(", ")
    val bucketOr = (0 until bands).map(j => s"a.k$j = b.k$j").mkString(" OR ")
    val matches = (0 until n).map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
    s"WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 3), " +
      "g AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram FROM toks), " +
      s"h AS (SELECT doc_id, ${hexSql("md5(gram)", 1, 12)} % $p AS h FROM g), " +
      s"s AS (SELECT doc_id, $lanes FROM h GROUP BY doc_id), " +
      s"sb AS (SELECT *, $buckets FROM s) " +
      s"SELECT a.doc_id AS ai, b.doc_id AS bi, CAST($matches AS DOUBLE) / $n AS est_jac " +
      s"FROM sb a JOIN sb b ON a.doc_id < b.doc_id AND ($bucketOr) ORDER BY ai, bi"
  }

  /** q_dedup_simhash twin: 63-bit md5 token hash, bit-balance fold over a
    * 63-row bit cross join with the aggregator's balance>0 tie rule, then
    * the all-pairs Hamming≤8 join — equivalent to the Spark block-LSH
    * candidates by pigeonhole (≤8 bit flips over 9 blocks always leave a
    * clean block), so the blocking needs no replay.
    */
  private def simhashOracle: String =
    "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents), " +
      "th AS (SELECT doc_id, md5(w) AS m FROM tok), " +
      s"h AS (SELECT doc_id, ((${hexSql("m", 1, 8)}) % 2147483648) * 4294967296 + (${hexSql("m", 9, 8)}) AS h FROM th), " +
      "bal AS (SELECT doc_id, j, sum(CASE WHEN (h >> CAST(j AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS bal " +
      "FROM h CROSS JOIN range(0, 63) t(j) GROUP BY doc_id, j), " +
      "sig AS (SELECT doc_id, sum(CASE WHEN bal > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS simhash FROM bal GROUP BY doc_id) " +
      "SELECT a.doc_id AS ai, b.doc_id AS bi, CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming " +
      "FROM sig a JOIN sig b ON a.doc_id < b.doc_id " +
      "WHERE bit_count(xor(a.simhash, b.simhash)) <= 8 ORDER BY ai, bi"

  /** Greedy left-to-right merge fold over a `syms` array column: at each
    * position i, if `pred` holds (and the previous position didn't merge
    * — consumption, no cascades) emit `mergedPiece` and skip i+1, else
    * emit the symbol. This SEQUENTIAL `aggregate` HOF is the shared
    * engine of q_phrase_rewrite (phrase application) and q_bpe_train
    * (symbol-pair merge); its equivalence to the oracle twins'
    * gaps-and-islands + run-parity formulation is property-tested
    * (PropertySpec) against a local reference on random inputs. `pred`
    * and `mergedPiece` may reference `syms` and the loop index `i`;
    * i+1 accesses are guarded by the short-circuit `i < size(syms)`.
    * The empty-array guard is load-bearing: Spark's sequence(1, 0) is
    * the DESCENDING [1, 0], not empty, so an unguarded fold over an
    * empty syms would index past the array (found by PropertySpec).
    */
  private[graft] def greedyFoldExpr(pred: String, mergedPiece: String): String =
    "CASE WHEN size(syms) < 1 THEN CAST(array() AS ARRAY<STRING>) ELSE " +
      "aggregate(sequence(1, size(syms)), " +
      "named_struct('pieces', CAST(array() AS ARRAY<STRING>), 'skip', false), " +
      "(acc, i) -> CASE " +
      "WHEN acc.skip THEN named_struct('pieces', acc.pieces, 'skip', false) " +
      s"WHEN i < size(syms) AND ($pred) " +
      s"THEN named_struct('pieces', concat(acc.pieces, array($mergedPiece)), 'skip', true) " +
      "ELSE named_struct('pieces', concat(acc.pieces, array(element_at(syms, i))), 'skip', false) END" +
      ").pieces END"

  /** Collocation-mining CTE chain + final select, shared by the
    * q_collocations oracle and the q_phrase_rewrite oracle (which embeds
    * the same mining stage before applying the phrases).
    */
  /** Shared BM25 oracle chain ending in `sc(doc_id, bm25)` — q_bm25 is
    * the top-10 cut over it, q_rrf_fusion ranks it as the sparse side.
    * No trailing comma: consumers append `, more AS (...)` as needed.
    */
  private val bm25OracleCtes =
    "t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
      "st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(len(w)) AS BIGINT) AS tot FROM t), " +
      "cand AS (SELECT doc_id, dl, word, CAST(count(*) AS BIGINT) AS tf " +
      "FROM (SELECT doc_id, CAST(len(w) AS INT) AS dl, unnest(w) AS word FROM t) " +
      "WHERE word IN ('scan', 'merge', 'window') GROUP BY doc_id, dl, word), " +
      "dfq AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM cand GROUP BY word), " +
      "sc AS (SELECT doc_id, round(CAST(sum(CAST(" +
      "ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * " +
      "((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(tot AS DOUBLE) / CAST(n_docs AS DOUBLE))))) " +
      "AS DECIMAL(18,8))) AS DOUBLE), 4) AS bm25 " +
      "FROM cand JOIN dfq USING (word) CROSS JOIN st GROUP BY doc_id)"

  private val collocCtes =
    "ctoks AS (SELECT string_split(text, ' ') AS w FROM documents), " +
      "cp AS (SELECT unnest(list_transform(range(1, len(w) + 1), i -> " +
      "struct_pack(a := w[CAST(i AS INT)], b := CASE WHEN i < len(w) THEN w[CAST(i + 1 AS INT)] END))) AS g FROM ctoks), " +
      "pc AS (SELECT g.a AS a, g.b AS b, count(*) AS c FROM cp GROUP BY 1, 2), " +
      "uc AS (SELECT a, sum(c) AS c_a FROM pc GROUP BY a), " +
      "tot AS (SELECT sum(c) AS nu, sum(CASE WHEN b IS NOT NULL THEN c END) AS nb FROM pc), " +
      "bc AS (SELECT a, b, CAST(c AS BIGINT) AS c_ab FROM pc WHERE b IS NOT NULL AND c >= 5)"

  private val collocSelect =
    "SELECT bc.a AS a, bc.b AS b, c_ab, " +
      "round(log2((CAST(c_ab AS DOUBLE) / nb) / ((CAST(ua.c_a AS DOUBLE) / nu) * (CAST(ub.c_a AS DOUBLE) / nu))), 4) AS pmi " +
      "FROM bc JOIN uc ua ON bc.a = ua.a JOIN uc ub ON bc.b = ub.a CROSS JOIN tot " +
      "ORDER BY pmi DESC, bc.a, bc.b LIMIT 30"

  private val oracleBase: Map[String, String] = Map(
    "q_dedup_minhash" -> minhashOracle,
    "q_dedup_simhash" -> simhashOracle,
    "q_text_quantiles" ->
      ("SELECT lang, quantile_cont(n_chars, 0.5) AS p50, quantile_cont(n_chars, 0.95) AS p95, " +
        "CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang ORDER BY lang"),
    "q_quality_filter" ->
      ("WITH p AS (SELECT lang, quantile_cont(n_chars, 0.25) AS p25 FROM documents GROUP BY lang) " +
        "SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(CASE WHEN d.n_chars >= p.p25 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
        "round(any_value(p.p25), 4) AS p25 " +
        "FROM documents d JOIN p ON d.lang = p.lang GROUP BY d.lang ORDER BY d.lang"),
    "q_text_normalize" ->
      ("SELECT doc_id, CAST(length(text) AS INT) AS n_raw, " +
        "CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS INT) AS n_norm, " +
        "md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_md5 " +
        "FROM documents ORDER BY doc_id"),
    "q_vocab_coverage" ->
      ("WITH wc AS (SELECT word, CAST(count(*) AS BIGINT) AS n FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS word FROM documents) GROUP BY word), " +
        "top AS (SELECT word, n FROM wc ORDER BY n DESC, word LIMIT 100) " +
        "SELECT CAST(row_number() OVER (ORDER BY n DESC, word) AS INT) AS rank, word, n, " +
        "CAST(sum(n) OVER (ORDER BY n DESC, word ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok " +
        "FROM top ORDER BY rank"),
    "q_chunk_docs" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents), " +
        "s AS (SELECT doc_id, toks, n, unnest(range(0, (n - 1) // 24 + 1)) AS k FROM t WHERE n >= 1) " +
        "SELECT doc_id, CAST(k AS BIGINT) AS chunk_idx, " +
        "CAST(least(32, n - k * 24) AS BIGINT) AS n_tok, " +
        "md5(array_to_string(toks[k * 24 + 1 : least(k * 24 + 32, n)], ' ')) AS h " +
        "FROM s ORDER BY doc_id, chunk_idx"),
    "q_heavy_hitters" ->
      // direct form: a pass proves the bucket prune is lossless
      ("SELECT word, CAST(count(*) AS BIGINT) AS n " +
        "FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) " +
        "GROUP BY word HAVING count(*) >= 200 ORDER BY n DESC, word"),
    "q_bloom_contamination" ->
      ("WITH d AS (SELECT doc_id, CAST(list_reduce(list_transform(range(1, 13), c -> " +
        "CAST(strpos('0123456789abcdef', substr(md5('bloom:' || text), CAST(c AS INT), 1)) - 1 AS BIGINT)), " +
        "(a, b) -> a * 16 + b) AS BIGINT) AS u FROM documents), " +
        "t AS (SELECT DISTINCT ((u >> (12 * CAST(i AS INT))) % 4096) AS p FROM d CROSS JOIN range(0, 3) r(i) WHERE doc_id % 4 <> 0), " +
        "e AS (SELECT doc_id, u FROM d WHERE doc_id % 4 = 0), " +
        "probe AS (SELECT e.doc_id, count(*) AS hits FROM e CROSS JOIN range(0, 3) r(i) " +
        "JOIN t ON ((e.u >> (12 * CAST(i AS INT))) % 4096) = t.p GROUP BY e.doc_id) " +
        "SELECT e.doc_id, coalesce(probe.hits, 0) = 3 AS might_contain " +
        "FROM e LEFT JOIN probe USING (doc_id) ORDER BY doc_id"),
    "q_contamination" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 3), " +
        "g AS (SELECT DISTINCT doc_id, gram FROM (SELECT doc_id, " +
        "unnest(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram FROM toks)), " +
        "gk AS (SELECT doc_id, gram FROM (SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS df FROM g) " +
        s"WHERE df <= $defaultMaxPostingDocs) " +
        "SELECT e.doc_id AS eval_id, CAST(count(DISTINCT tr.doc_id) AS BIGINT) AS n_train_docs, " +
        "CAST(count(*) AS BIGINT) AS n_shared_grams " +
        "FROM gk e JOIN gk tr ON e.gram = tr.gram AND e.doc_id < 50 AND tr.doc_id >= 50 " +
        "GROUP BY eval_id ORDER BY eval_id"),
    "q_ngram_novelty" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 3), " +
        "g AS (SELECT DISTINCT doc_id, gram FROM (SELECT doc_id, " +
        "unnest(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram FROM toks)), " +
        "f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram) " +
        "SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams, " +
        "CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel " +
        "FROM g JOIN f USING (gram) GROUP BY g.doc_id ORDER BY g.doc_id"),
    "q_train_split" ->
      ("SELECT CASE WHEN substr(md5(text), 1, 1) IN ('d', 'e', 'f') THEN 'val' ELSE 'train' END AS split, " +
        "CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars " +
        "FROM documents GROUP BY split ORDER BY split"),
    "q_leakage_safe_split" ->
      ("WITH RECURSIVE d AS (SELECT doc_id, substr(text, 1, 32) AS prefix, CAST(n_chars // 16 AS INT) AS band, " +
        "CASE WHEN len(string_split(text, ' ')) >= 5 THEN md5(array_to_string(string_split(text, ' ')[1:4], ' ')) ELSE md5(array_to_string(string_split(text, ' ')[1:2], ' ')) END AS s1, " +
        "CASE WHEN len(string_split(text, ' ')) >= 5 THEN md5(array_to_string(string_split(text, ' ')[5:8], ' ')) WHEN len(string_split(text, ' ')) >= 3 THEN md5(array_to_string(string_split(text, ' ')[3:4], ' ')) END AS s2 FROM documents), " +
        "p AS (SELECT a.doc_id AS ai, b.doc_id AS bi FROM d a JOIN d b ON a.band = b.band AND a.doc_id < b.doc_id " +
        "AND (a.s1 = b.s1 OR a.s2 = b.s2) WHERE levenshtein(a.prefix, b.prefix) <= 8), " +
        "e AS (SELECT ai AS src, bi AS dst FROM p UNION ALL SELECT bi, ai FROM p), " +
        "reach(node, m) AS (" +
        "SELECT src AS node, dst AS m FROM e UNION SELECT src, src FROM e " +
        "UNION SELECT r.node, e2.dst FROM reach r JOIN e e2 ON r.m = e2.src), " +
        "cl AS (SELECT node AS doc_id, min(m) AS cluster_id FROM reach GROUP BY node), " +
        "j AS (SELECT doc_id, n_chars, COALESCE(cl.cluster_id, documents.doc_id) AS cluster_id " +
        "FROM documents LEFT JOIN cl USING (doc_id)), " +
        "sp AS (SELECT cluster_id, n_chars, CASE WHEN substr(md5('lsplit:' || CAST(cluster_id AS VARCHAR)), 1, 1) " +
        "IN ('c', 'd', 'e', 'f') THEN 'val' ELSE 'train' END AS split FROM j) " +
        "SELECT split, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters, " +
        "CAST(sum(n_chars) AS BIGINT) AS n_chars " +
        "FROM sp GROUP BY split ORDER BY split"),
    "q_stratified_sample" ->
      ("WITH k AS (SELECT lang, CAST(list_reduce(list_transform(range(1, 7), c -> " +
        "CAST(strpos('0123456789abcdef', substr(md5('strat:' || CAST(doc_id AS VARCHAR)), CAST(c AS INT), 1)) - 1 AS BIGINT)), " +
        "(a, b) -> a * 16 + b) AS DOUBLE) AS u, " +
        "CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 WHEN 'fr' THEN 0.25 " +
        "WHEN 'es' THEN 0.1 WHEN 'zh' THEN 0.1 ELSE 0.0 END AS fr FROM documents) " +
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled FROM k " +
        "WHERE u < fr * 16777216.0 GROUP BY lang ORDER BY lang"),
    "q_dedup_exact" ->
      "SELECT md5(text) AS h, CAST(min(doc_id) AS BIGINT) AS keep_id, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY h ORDER BY h",
    "q_dedup_best" ->
      ("SELECT doc_id, n_chars, n_group FROM (" +
        "SELECT doc_id, n_chars, CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) AS n_group, " +
        "row_number() OVER (PARTITION BY fp ORDER BY n_chars DESC, doc_id) AS rn " +
        "FROM (SELECT doc_id, n_chars, md5(array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ')) AS fp FROM documents)) " +
        "WHERE rn = 1 ORDER BY doc_id"),
    "q_text_stats" ->
      "SELECT w AS word, CAST(count(*) AS BIGINT) AS n FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY word ORDER BY n DESC, word",
    "q_text_quality" ->
      ("SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens, " +
        "round(CAST(list_sum(list_transform(string_split(text, ' '), w -> length(w))) AS DOUBLE) / len(string_split(text, ' ')), 4) AS avg_tok_len, " +
        "round(CAST(list_sum(list_transform(string_split(text, ' '), w -> CASE WHEN w IN ('the', 'a') THEN 1 ELSE 0 END)) AS DOUBLE) / len(string_split(text, ' ')), 4) AS stop_ratio " +
        "FROM documents ORDER BY doc_id"),
    "q_token_count" ->
      ("SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens, " +
        "CAST(len(regexp_extract_all(text, '[a-z]+')) AS INT) AS word_tokens, " +
        "CAST(len(regexp_extract_all(text, '[a-z]{1,4}')) AS INT) AS subword_tokens " +
        "FROM documents ORDER BY doc_id"),
    "q_dedup_ngram" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 3), " +
        "g AS (SELECT DISTINCT doc_id, gram FROM (SELECT doc_id, " +
        "unnest(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram FROM toks)), " +
        "gk AS (SELECT doc_id, gram FROM (SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS df FROM g) " +
        s"WHERE df <= $defaultMaxPostingDocs), " +
        "cnts AS (SELECT doc_id, count(*) AS n FROM gk GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS ai, b.doc_id AS bi, count(*) AS ni FROM gk a JOIN gk b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY ai, bi) " +
        "SELECT ai, bi, round(jac, 4) AS jac FROM (SELECT ai, bi, ni * 1.0 / (ca.n + cb.n - ni) AS jac " +
        "FROM inter JOIN cnts ca ON ai = ca.doc_id JOIN cnts cb ON bi = cb.doc_id) WHERE jac >= 0.05 ORDER BY ai, bi"),
    "q_containment" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 3), " +
        "g AS (SELECT DISTINCT doc_id, gram FROM (SELECT doc_id, " +
        "unnest(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram FROM toks)), " +
        "gk AS (SELECT doc_id, gram FROM (SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS df FROM g) " +
        s"WHERE df <= $defaultMaxPostingDocs), " +
        "cnts AS (SELECT doc_id, count(*) AS n FROM gk GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS ai, b.doc_id AS bi, count(*) AS ni FROM gk a JOIN gk b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY ai, bi) " +
        "SELECT ai, bi, CASE WHEN na <= nb THEN 'a_in_b' ELSE 'b_in_a' END AS side, " +
        "round(cont, 4) AS cont, round(jac, 4) AS jac FROM " +
        "(SELECT ai, bi, ca.n AS na, cb.n AS nb, ni * 1.0 / least(ca.n, cb.n) AS cont, " +
        "ni * 1.0 / (ca.n + cb.n - ni) AS jac " +
        "FROM inter JOIN cnts ca ON ai = ca.doc_id JOIN cnts cb ON bi = cb.doc_id) " +
        "WHERE cont >= 0.5 ORDER BY ai, bi"),
    "q_lang_id" ->
      ("WITH p(lang, words) AS (VALUES " +
        "('en', ['the','and','of','to','in','is','that','it']), " +
        "('de', ['der','die','das','und','ist','nicht','ein','zu']), " +
        "('fr', ['le','la','les','et','est','un','une','dans']), " +
        "('es', ['el','la','los','y','es','un','una','que']), " +
        "('zh', ['的','是','了','在','我','有','他','不'])), " +
        "s AS (SELECT d.doc_id, p.lang, len(list_filter(string_split(d.text, ' '), w -> list_contains(p.words, w))) AS score " +
        "FROM documents d CROSS JOIN p) " +
        "SELECT doc_id, lang AS pred_lang, CAST(score AS INT) AS score " +
        "FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn FROM s) " +
        "WHERE rn = 1 ORDER BY doc_id"),
    "q_url_canonical" ->
      ("WITH d AS (SELECT source, 'https://' || source || '.example.com/' || lang || '/' || CAST(doc_id AS VARCHAR) AS base, " +
        "lang, doc_id FROM documents), " +
        "u AS (SELECT source, unnest([base, " +
        "base || '?utm_source=feed&b=2&a=1', " +
        "'HTTPS://' || upper(source) || '.EXAMPLE.COM:443/' || lang || '/' || CAST(doc_id AS VARCHAR) || '#sec2', " +
        "base || '?a=1&b=2&utm_campaign=x']) AS url FROM d), " +
        "c AS (SELECT source, url, " +
        "lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) || '://' || " +
        "lower(regexp_replace(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1), ':(80|443)$', '')) || " +
        "regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) || " +
        "CASE WHEN len(list_filter(string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'), " +
        "x -> x <> '' AND NOT x LIKE 'utm_%' AND NOT x LIKE 'ref=%')) > 0 " +
        "THEN '?' || array_to_string(list_sort(list_filter(string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'), " +
        "x -> x <> '' AND NOT x LIKE 'utm_%' AND NOT x LIKE 'ref=%')), '&') ELSE '' END AS canon FROM u) " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_urls, " +
        "CAST(count(DISTINCT url) AS BIGINT) AS n_raw, " +
        "CAST(count(DISTINCT canon) AS BIGINT) AS n_canon " +
        "FROM c GROUP BY source ORDER BY source"),
    "q_doc_fingerprint" ->
      ("WITH h AS (SELECT doc_id, list_transform(range(1, CAST(length(text) - 3 AS BIGINT)), " +
        "i -> list_reduce(list_transform(range(1, 13), c -> " +
        "CAST(strpos('0123456789abcdef', substr(md5(substr(text, CAST(i AS INT), 5)), CAST(c AS INT), 1)) - 1 AS BIGINT)), " +
        "(a, b) -> a * 16 + b)) AS hs " +
        "FROM documents WHERE length(text) >= 9), " +
        "f AS (SELECT doc_id, list_distinct(list_transform(range(0, CAST(len(hs) - 3 AS BIGINT)), " +
        "j -> list_min(hs[CAST(j + 1 AS BIGINT):CAST(j + 4 AS BIGINT)]))) AS fps FROM h) " +
        "SELECT doc_id, CAST(len(fps) AS INT) AS n_fp, list_min(fps) AS fp_min, list_max(fps) AS fp_max " +
        "FROM f ORDER BY doc_id"),
    "q_repetition" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "g AS (SELECT doc_id, w, CASE WHEN len(w) >= 2 THEN list_transform(range(1, len(w)), i -> " +
        "w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1]) ELSE [] END AS grams FROM t) " +
        "SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok, " +
        "round(CAST(len(w) - len(list_distinct(w)) AS DOUBLE) / len(w), 4) AS dup_tok_frac, " +
        "round(CAST(list_max(list_transform(list_distinct(w), t2 -> len(list_filter(w, x -> x = t2)))) AS DOUBLE) / len(w), 4) AS top_tok_frac, " +
        "round(CASE WHEN len(grams) > 0 THEN CAST(list_max(list_transform(list_distinct(grams), t2 -> len(list_filter(grams, x -> x = t2)))) AS DOUBLE) / len(grams) ELSE 0.0 END, 4) AS top_bigram_frac " +
        "FROM g ORDER BY doc_id"),
    "q_tfidf" ->
      ("WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), " +
        "tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM words GROUP BY doc_id, word), " +
        "df AS (SELECT word, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM words GROUP BY word), " +
        "n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents), " +
        "scored AS (SELECT doc_id, word, CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS tfidf " +
        "FROM tf JOIN df USING (word) CROSS JOIN n) " +
        "SELECT doc_id, CAST(term_rank AS INT) AS term_rank, word, round(tfidf, 4) AS score " +
        "FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS term_rank FROM scored) " +
        "WHERE term_rank <= 3 ORDER BY doc_id, term_rank"),
    "q_bm25" ->
      (s"WITH $bm25OracleCtes SELECT doc_id, bm25 FROM sc " +
        "ORDER BY bm25 DESC, doc_id LIMIT 10"),
    "q_rrf_fusion" ->
      (s"WITH $bm25OracleCtes, " +
        "sp AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rank_s " +
        "FROM (SELECT doc_id, bm25 FROM sc ORDER BY bm25 DESC, doc_id LIMIT 20)), " +
        "q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0), " +
        "dn0 AS (SELECT vec_id AS doc_id, " +
        "round(list_sum(list_transform(list_zip(embedding, qv), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / " +
        "(sqrt(list_sum(list_transform(embedding, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE)))) * " +
        "sqrt(list_sum(list_transform(qv, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE))))), 4) AS cosv " +
        "FROM embeddings, q WHERE vec_id <> 0 ORDER BY cosv DESC, doc_id LIMIT 20), " +
        "dn AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY cosv DESC, doc_id) AS INT) AS rank_d FROM dn0), " +
        "f AS (SELECT COALESCE(sp.doc_id, dn.doc_id) AS doc_id, sp.rank_s, dn.rank_d " +
        "FROM sp FULL JOIN dn ON sp.doc_id = dn.doc_id) " +
        "SELECT doc_id, COALESCE(1.0 / (60.0 + CAST(rank_s AS DOUBLE)), 0.0) + " +
        "COALESCE(1.0 / (60.0 + CAST(rank_d AS DOUBLE)), 0.0) AS rrf, rank_s, rank_d " +
        "FROM f ORDER BY rrf DESC, doc_id LIMIT 10"),
    "q_text_entropy" -> {
      // H over the sorted distinct symbols of array column `a`, folded
      // in the same order and op sequence as the Spark side
      def hSql(a: String): String =
        s"round(list_sum(list_transform(list_sort(list_distinct($a)), c -> " +
          s"-(CAST(len(list_filter($a, x -> x = c)) AS DOUBLE) / len($a)) * " +
          s"ln(CAST(len(list_filter($a, x -> x = c)) AS DOUBLE) / len($a)))) " +
          "/ 0.6931471805599453, 4)"
      "WITH t AS (SELECT doc_id, " +
        "list_transform(range(1, length(text) + 1), i -> substr(text, CAST(i AS INT), 1)) AS ch, " +
        "string_split(text, ' ') AS w FROM documents) " +
        s"SELECT doc_id, CAST(len(ch) AS INT) AS n_chars, ${hSql("ch")} AS char_entropy, " +
        s"${hSql("w")} AS token_entropy FROM t ORDER BY doc_id"
    },
    "q_collocations" -> s"WITH $collocCtes $collocSelect",
    "q_hash_embed" ->
      ("WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), " +
        s"hh AS (SELECT doc_id, CAST(${hexSql("md5('fh:' || word)", 1, 12)} AS BIGINT) AS h FROM tk), " +
        "sb AS (SELECT doc_id, h % 64 AS bucket, CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END AS sg FROM hh), " +
        "pb AS (SELECT doc_id, bucket, CAST(sum(sg) AS BIGINT) AS sv FROM sb GROUP BY doc_id, bucket), " +
        "dv AS (SELECT d.doc_id AS doc_id, j.j AS j, coalesce(pb.sv, 0) AS x " +
        "FROM (SELECT DISTINCT doc_id FROM tk) d CROSS JOIN range(0, 64) j(j) " +
        "LEFT JOIN pb ON pb.doc_id = d.doc_id AND pb.bucket = j.j), " +
        "vv AS (SELECT doc_id, list(x ORDER BY j) AS v FROM dv GROUP BY doc_id) " +
        "SELECT doc_id, CAST(len(list_filter(v, x -> x != 0)) AS INT) AS nnz, " +
        "round(sqrt(list_sum(list_transform(v, x -> CAST(x * x AS DOUBLE)))), 4) AS l2, " +
        "md5(array_to_string(list_transform(v, x -> CAST(x AS VARCHAR)), ',')) AS vhash " +
        "FROM vv ORDER BY doc_id"),
    "q_bigram_lm" ->
      (s"WITH $collocCtes, " +
        "ctx AS (SELECT a, sum(c) AS cc FROM pc WHERE b IS NOT NULL GROUP BY a), " +
        "ll AS (SELECT pc.a AS a, pc.b AS b, round(ln(0.7 * (CAST(pc.c AS DOUBLE) / cc) + 0.3 * (CAST(ub.c_a AS DOUBLE) / nu)), 8) AS ll " +
        "FROM pc JOIN ctx ON pc.a = ctx.a JOIN uc ub ON pc.b = ub.a CROSS JOIN tot WHERE pc.b IS NOT NULL), " +
        "st AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> struct_pack(a := w[CAST(i AS INT)], b := w[CAST(i + 1 AS INT)]))) AS g " +
        "FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 2)), " +
        "sc AS (SELECT doc_id, ll.ll AS ll FROM st JOIN ll ON st.g.a = ll.a AND st.g.b = ll.b) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, " +
        "round(CAST(sum(CAST(ll AS DECIMAL(18,8))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS mean_ll " +
        "FROM sc GROUP BY doc_id ORDER BY doc_id"),
    "q_kneser_ney" ->
      ("WITH tr AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents " +
        "WHERE doc_id % 4 <> 0 AND len(string_split(text, ' ')) >= 2), " +
        "tst AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> " +
        "struct_pack(a := w[CAST(i AS INT)], b := w[CAST(i + 1 AS INT)]))) AS g FROM tr), " +
        "pc AS (SELECT g.a AS a, g.b AS b, CAST(count(*) AS BIGINT) AS c FROM tst GROUP BY 1, 2), " +
        "ctx AS (SELECT a, CAST(sum(c) AS BIGINT) AS cc, CAST(count(*) AS BIGINT) AS n1pa FROM pc GROUP BY a), " +
        "cb AS (SELECT b, CAST(count(*) AS BIGINT) AS n1pb FROM pc GROUP BY b), " +
        "tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM pc), " +
        "evd AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents " +
        "WHERE doc_id % 4 = 0 AND len(string_split(text, ' ')) >= 2), " +
        "ev AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> " +
        "struct_pack(a := w[CAST(i AS INT)], b := w[CAST(i + 1 AS INT)]))) AS g FROM evd), " +
        "sc AS (SELECT ev.doc_id AS doc_id, round(ln(" +
        "greatest(CAST(COALESCE(p.c, 0) AS DOUBLE) - 0.75, 0.0) / CAST(ctx.cc AS DOUBLE) + " +
        "(0.75 * CAST(ctx.n1pa AS DOUBLE) / CAST(ctx.cc AS DOUBLE)) * " +
        "(CAST(cb.n1pb AS DOUBLE) / CAST(tt.t AS DOUBLE))), 8) AS ll " +
        "FROM ev JOIN ctx ON ev.g.a = ctx.a JOIN cb ON ev.g.b = cb.b " +
        "LEFT JOIN pc p ON ev.g.a = p.a AND ev.g.b = p.b CROSS JOIN tt) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, " +
        "round(CAST(sum(CAST(ll AS DECIMAL(18,8))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS mean_ll " +
        "FROM sc GROUP BY doc_id ORDER BY doc_id"),
    "q_bpe_train" -> {
      val steps = (1 to BpeMerges).map(k =>
        s"SELECT * FROM (SELECT $k AS step, CAST(row_number() OVER (ORDER BY c DESC, a, b) AS INT) AS rnk, a, b, c FROM p$k) WHERE rnk <= 5")
        .mkString(" UNION ALL ")
      s"WITH $bpeChainCtes " +
        s"SELECT CAST(step AS INT) AS step, rnk, a, b, c FROM ($steps) ORDER BY step, rnk"
    },
    "q_unigram_train" ->
      (s"WITH ${uniChainCtes(withEncodePass = false)} " +
        "SELECT p AS piece, c AS n, cost FROM cost2 ORDER BY piece"),
    "q_unigram_encode" ->
      (s"WITH ${uniChainCtes(withEncodePass = true)}, " +
        "uwlen AS MATERIALIZED (SELECT w, CAST(len(pieces) AS BIGINT) AS n_uni FROM pc3), " +
        "dwu AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, " +
        "CAST(sum(len(w)) AS BIGINT) AS n_chars_sym, " +
        "CAST(sum(COALESCE(n_uni, 0)) AS BIGINT) AS n_uni " +
        "FROM dwu LEFT JOIN uwlen USING (w) GROUP BY doc_id ORDER BY doc_id"),
    "q_bpe_encode" ->
      (s"WITH $bpeWlenCtes, " +
        "dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, " +
        "CAST(sum(len(w)) AS BIGINT) AS n_chars_sym, " +
        "CAST(sum(n_bpe) AS BIGINT) AS n_bpe " +
        "FROM dw JOIN wlen USING (w) GROUP BY doc_id ORDER BY doc_id"),
    // the persistence round-trip must reproduce the one-shot encode
    // token-for-token — SAME twin as q_bpe_encode by design
    "q_bpe_persist" ->
      (s"WITH $bpeWlenCtes, " +
        "dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, " +
        "CAST(sum(len(w)) AS BIGINT) AS n_chars_sym, " +
        "CAST(sum(n_bpe) AS BIGINT) AS n_bpe " +
        "FROM dw JOIN wlen USING (w) GROUP BY doc_id ORDER BY doc_id"),
    // round 15: the family dimension — BOTH trained tokenizers audited
    // per language in one table (the tokenizer-SELECTION workflow)
    "q_tokenizer_fertility" ->
      (s"WITH $bpeWlenCtes, " +
        s"${uniChainCtes(withEncodePass = true)}, " +
        "uwlen AS MATERIALIZED (SELECT w, CAST(len(pieces) AS BIGINT) AS n_tok FROM pc3), " +
        "dw AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents), " +
        "g AS (SELECT 'bpe' AS family, lang, CAST(count(*) AS BIGINT) AS n_words, " +
        "CAST(sum(COALESCE(n_bpe, 0)) AS BIGINT) AS n_tokens, CAST(sum(len(w)) AS BIGINT) AS n_chars " +
        "FROM dw LEFT JOIN wlen USING (w) GROUP BY lang " +
        "UNION ALL SELECT 'unigram' AS family, lang, CAST(count(*) AS BIGINT) AS n_words, " +
        "CAST(sum(COALESCE(n_tok, 0)) AS BIGINT) AS n_tokens, CAST(sum(len(w)) AS BIGINT) AS n_chars " +
        "FROM dw LEFT JOIN uwlen USING (w) GROUP BY lang) " +
        "SELECT family, lang, n_words, n_tokens, " +
        "round(CAST(n_tokens AS DOUBLE) / CAST(n_words AS DOUBLE), 4) AS fertility, " +
        "round(CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4) AS chars_per_token " +
        "FROM g ORDER BY family, lang"),
    "q_phrase_rewrite" ->
      (s"WITH $collocCtes, sel AS ($collocSelect), " +
        "top30 AS (SELECT a || ' ' || b AS phrase FROM sel), " +
        "t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "pos AS (SELECT doc_id, unnest(list_transform(range(1, len(w) + 1), i -> struct_pack(" +
        "i := i, tok := w[CAST(i AS INT)], " +
        "pair := CASE WHEN i < len(w) THEN w[CAST(i AS INT)] || ' ' || w[CAST(i + 1 AS INT)] END))) AS g FROM t), " +
        "f AS (SELECT doc_id, g.i AS i, g.tok AS tok, g.pair AS pair, " +
        "(g.pair IS NOT NULL AND g.pair IN (SELECT phrase FROM top30)) AS inp FROM pos), " +
        "runs AS (SELECT doc_id, i, i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp FROM f WHERE inp), " +
        "merges AS (SELECT doc_id, i FROM (SELECT doc_id, i, min(i) OVER (PARTITION BY doc_id, grp) AS rs FROM runs) " +
        "WHERE (i - rs) % 2 = 0), " +
        "pieces AS (SELECT f.doc_id, f.i, " +
        "CASE WHEN m.i IS NOT NULL THEN replace(f.pair, ' ', '_') ELSE f.tok END AS piece " +
        "FROM f LEFT JOIN merges m ON f.doc_id = m.doc_id AND f.i = m.i " +
        "WHERE NOT EXISTS (SELECT 1 FROM merges c WHERE c.doc_id = f.doc_id AND c.i = f.i - 1)), " +
        "res AS (SELECT doc_id, string_agg(piece, ' ' ORDER BY i) AS txt, CAST(count(*) AS BIGINT) AS n_out FROM pieces GROUP BY doc_id) " +
        "SELECT t.doc_id AS doc_id, CAST(len(w) AS BIGINT) AS n_tok, n_out AS new_n_tok, md5(txt) AS new_md5 " +
        "FROM t JOIN res USING (doc_id) ORDER BY doc_id"),
    "q_lm_score" ->
      ("WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), " +
        "t AS (SELECT CAST(count(*) AS BIGINT) AS t FROM words), " +
        "freq AS (SELECT word, round(ln(CAST(count(*) AS DOUBLE) / CAST(t AS DOUBLE)), 8) AS ll " +
        "FROM words CROSS JOIN t GROUP BY word, t) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, " +
        "round(CAST(sum(CAST(ll AS DECIMAL(18,8))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS mean_ll " +
        "FROM words JOIN freq USING (word) GROUP BY doc_id ORDER BY doc_id"),
    "q_perplexity_buckets" ->
      ("WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), " +
        "t AS (SELECT CAST(count(*) AS BIGINT) AS t FROM words), " +
        "freq AS (SELECT word, round(ln(CAST(count(*) AS DOUBLE) / CAST(t AS DOUBLE)), 8) AS ll " +
        "FROM words CROSS JOIN t GROUP BY word, t), " +
        "scored AS (SELECT doc_id, round(CAST(sum(CAST(ll AS DECIMAL(18,8))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS mean_ll " +
        "FROM words JOIN freq USING (word) GROUP BY doc_id), " +
        "b AS (SELECT d.lang AS lang, s.mean_ll AS mean_ll, " +
        "CAST(ntile(3) OVER (PARTITION BY d.lang ORDER BY s.mean_ll DESC, s.doc_id) AS INT) AS bucket " +
        "FROM scored s JOIN documents d USING (doc_id)) " +
        "SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs, " +
        "round(CAST(sum(CAST(mean_ll AS DECIMAL(18,4))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS avg_ll, " +
        "min(mean_ll) AS worst_ll, max(mean_ll) AS best_ll " +
        "FROM b GROUP BY lang, bucket ORDER BY lang, bucket"),
    "q_fuzzy_dedup" ->
      ("WITH d AS (SELECT doc_id, substr(text, 1, 32) AS prefix, CAST(n_chars // 16 AS INT) AS band, " +
        "CASE WHEN len(string_split(text, ' ')) >= 5 THEN md5(array_to_string(string_split(text, ' ')[1:4], ' ')) ELSE md5(array_to_string(string_split(text, ' ')[1:2], ' ')) END AS s1, " +
        "CASE WHEN len(string_split(text, ' ')) >= 5 THEN md5(array_to_string(string_split(text, ' ')[5:8], ' ')) WHEN len(string_split(text, ' ')) >= 3 THEN md5(array_to_string(string_split(text, ' ')[3:4], ' ')) END AS s2 FROM documents) " +
        "SELECT a.doc_id AS ai, b.doc_id AS bi, CAST(levenshtein(a.prefix, b.prefix) AS INT) AS dist " +
        "FROM d a JOIN d b ON a.band = b.band AND a.doc_id < b.doc_id AND (a.s1 = b.s1 OR a.s2 = b.s2) " +
        "WHERE levenshtein(a.prefix, b.prefix) <= 8 ORDER BY ai, bi"),
    "q_dup_clusters" ->
      ("WITH RECURSIVE d AS (SELECT doc_id, substr(text, 1, 32) AS prefix, CAST(n_chars // 16 AS INT) AS band, " +
        "CASE WHEN len(string_split(text, ' ')) >= 5 THEN md5(array_to_string(string_split(text, ' ')[1:4], ' ')) ELSE md5(array_to_string(string_split(text, ' ')[1:2], ' ')) END AS s1, " +
        "CASE WHEN len(string_split(text, ' ')) >= 5 THEN md5(array_to_string(string_split(text, ' ')[5:8], ' ')) WHEN len(string_split(text, ' ')) >= 3 THEN md5(array_to_string(string_split(text, ' ')[3:4], ' ')) END AS s2 FROM documents), " +
        "p AS (SELECT a.doc_id AS ai, b.doc_id AS bi FROM d a JOIN d b ON a.band = b.band AND a.doc_id < b.doc_id " +
        "AND (a.s1 = b.s1 OR a.s2 = b.s2) WHERE levenshtein(a.prefix, b.prefix) <= 8), " +
        "e AS (SELECT ai AS src, bi AS dst FROM p UNION ALL SELECT bi, ai FROM p), " +
        "reach(node, m) AS (" +
        "SELECT src AS node, dst AS m FROM e UNION SELECT src, src FROM e " +
        "UNION SELECT r.node, e2.dst FROM reach r JOIN e e2 ON r.m = e2.src) " +
        "SELECT node AS doc_id, min(m) AS cluster_id FROM reach GROUP BY node ORDER BY doc_id"),
    "q_dedup_soft" ->
      ("WITH RECURSIVE d AS (SELECT doc_id, substr(text, 1, 32) AS prefix, CAST(n_chars // 16 AS INT) AS band, " +
        "CASE WHEN len(string_split(text, ' ')) >= 5 THEN md5(array_to_string(string_split(text, ' ')[1:4], ' ')) ELSE md5(array_to_string(string_split(text, ' ')[1:2], ' ')) END AS s1, " +
        "CASE WHEN len(string_split(text, ' ')) >= 5 THEN md5(array_to_string(string_split(text, ' ')[5:8], ' ')) WHEN len(string_split(text, ' ')) >= 3 THEN md5(array_to_string(string_split(text, ' ')[3:4], ' ')) END AS s2 FROM documents), " +
        "p AS (SELECT a.doc_id AS ai, b.doc_id AS bi FROM d a JOIN d b ON a.band = b.band AND a.doc_id < b.doc_id " +
        "AND (a.s1 = b.s1 OR a.s2 = b.s2) WHERE levenshtein(a.prefix, b.prefix) <= 8), " +
        "e AS (SELECT ai AS src, bi AS dst FROM p UNION ALL SELECT bi, ai FROM p), " +
        "reach(node, m) AS (" +
        "SELECT src AS node, dst AS m FROM e UNION SELECT src, src FROM e " +
        "UNION SELECT r.node, e2.dst FROM reach r JOIN e e2 ON r.m = e2.src), " +
        "cl AS (SELECT node AS doc_id, min(m) AS cluster_id FROM reach GROUP BY node), " +
        "j AS (SELECT documents.doc_id AS doc_id, COALESCE(cl.cluster_id, documents.doc_id) AS cluster_id " +
        "FROM documents LEFT JOIN cl USING (doc_id)) " +
        "SELECT doc_id, cluster_id, " +
        "CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS csize, " +
        "CAST(1.0 AS DOUBLE) / CAST(count(*) OVER (PARTITION BY cluster_id) AS DOUBLE) AS weight " +
        "FROM j ORDER BY doc_id"),
    "q_dup_rewrite" ->
      ("WITH RECURSIVE d AS (SELECT doc_id, substr(text, 1, 32) AS prefix, CAST(n_chars // 16 AS INT) AS band, " +
        "CASE WHEN len(string_split(text, ' ')) >= 5 THEN md5(array_to_string(string_split(text, ' ')[1:4], ' ')) ELSE md5(array_to_string(string_split(text, ' ')[1:2], ' ')) END AS s1, " +
        "CASE WHEN len(string_split(text, ' ')) >= 5 THEN md5(array_to_string(string_split(text, ' ')[5:8], ' ')) WHEN len(string_split(text, ' ')) >= 3 THEN md5(array_to_string(string_split(text, ' ')[3:4], ' ')) END AS s2 FROM documents), " +
        "p AS (SELECT a.doc_id AS ai, b.doc_id AS bi FROM d a JOIN d b ON a.band = b.band AND a.doc_id < b.doc_id " +
        "AND (a.s1 = b.s1 OR a.s2 = b.s2) WHERE levenshtein(a.prefix, b.prefix) <= 8), " +
        "e AS (SELECT ai AS src, bi AS dst FROM p UNION ALL SELECT bi, ai FROM p), " +
        "reach(node, m) AS (" +
        "SELECT src AS node, dst AS m FROM e UNION SELECT src, src FROM e " +
        "UNION SELECT r.node, e2.dst FROM reach r JOIN e e2 ON r.m = e2.src), " +
        "cl AS (SELECT node AS doc_id, min(m) AS cluster_id FROM reach GROUP BY node), " +
        "dr AS (SELECT doc_id FROM cl WHERE doc_id <> cluster_id) " +
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS chars_kept " +
        "FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM dr) GROUP BY lang ORDER BY lang"),
    "q_importance_weights" ->
      ("WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents), " +
        "g AS (SELECT doc_id, source, " +
        hexSql("md5(gram)", 1, 12) + " % 8192 AS b FROM (" +
        "SELECT doc_id, source, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS gram " +
        "FROM toks WHERE len(w) >= 2)), " +
        "c AS (SELECT b, CAST(count(*) AS BIGINT) AS cr, " +
        "CAST(sum(CASE WHEN source IN ('src1', 'src2', 'src3') THEN 1 ELSE 0 END) AS BIGINT) AS ct FROM g GROUP BY b), " +
        "t AS (SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt FROM c), " +
        "lr AS (SELECT b, round(ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + 8192 AS DOUBLE)) - " +
        "ln(CAST(cr + 1 AS DOUBLE) / CAST(nr + 8192 AS DOUBLE)), 8) AS lr FROM c CROSS JOIN t) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams, " +
        // + 0.0 scrubs IEEE negative zero (cf. q_sim_scores)
        "round(CAST(sum(CAST(lr AS DECIMAL(18,8))) AS DOUBLE), 4) + 0.0 AS weight " +
        "FROM g JOIN lr USING (b) GROUP BY doc_id ORDER BY doc_id")
  )

  /** q_dedup_recall's oracle recomposes the exact n-gram Jaccard replay
    * and the banded MinHash replay verbatim as subqueries, grading the
    * same pair sets the per-operator oracles grade.
    */
  val oracleSql: Map[String, String] = oracleBase +
    ("q_dedup_recall" ->
      (s"WITH ex AS (SELECT ai, bi FROM (${oracleBase("q_dedup_ngram")}) WHERE jac >= 0.5), " +
        s"ca AS (SELECT ai, bi FROM (${oracleBase("q_dedup_minhash")}) WHERE est_jac >= 0.5), " +
        "st AS (SELECT CAST((SELECT count(*) FROM ex) AS BIGINT) AS n_exact, " +
        "CAST((SELECT count(*) FROM ca) AS BIGINT) AS n_cand, " +
        "CAST((SELECT count(*) FROM ex JOIN ca USING (ai, bi)) AS BIGINT) AS hits) " +
        "SELECT n_exact, n_cand, hits, " +
        "round(CAST(hits AS DOUBLE) / NULLIF(n_exact, 0), 4) AS recall, " +
        "round(CAST(hits AS DOUBLE) / NULLIF(n_cand, 0), 4) AS precision " +
        "FROM st"))
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.{Publish, Tables}
import Ox._

/** Training-set assembly operators — the stage AFTER dedup/quality
  * scoring (ops/Text.scala) where the curated corpus becomes trainable
  * shards: contiguous token packing, weighted source mixing, PII
  * scrubbing, passage-level exact-substring dedup, outlier screening,
  * distribution profiling, and changelog compaction.
  *
  * Scale design notes:
  *   - packSequences is the only operator here that needs a GLOBAL
  *     prefix sum; it uses the two-level formulation (range partition →
  *     within-partition window + a #partitions-row offset table) so no
  *     single task ever windows the whole corpus.
  *   - Everything else is a projection, one hash-aggregate, or a
  *     broadcast of a tiny aggregate back onto the fact scan.
  *   - All sampling/splitting randomness is md5-derived (deterministic
  *     across runs, executors, and engines — same trick as
  *     Text.trainSplit), never `rand()`.
  */
object Curation {

  /** Decimal(30,4) exact sum: power sums of squared values overflow the
    * default 18-digit Ox.dsum at large SF (value² ≈ 2.4e5 per row).
    */
  private def dsum30(c: org.apache.spark.sql.Column) =
    sum(c.cast(DecimalType(30, 4))).cast(DoubleType)

  // ---------------------------------------------------------- packing

  /** Contiguous token packing: assign each document to the training
    * shard its starting token offset falls in (2048-token shards) — the
    * distributed form of "concatenate the corpus and cut every N
    * tokens" used to build fixed-length LM training sequences.
    *
    * The global running token count is a two-level prefix sum: bucket
    * by a DETERMINISTIC doc_id range split (not spark_partition_id —
    * the plan branches below, and RangePartitioner's sampled boundaries
    * could differ per recomputed branch, silently corrupting the sum),
    * compute each bucket's token subtotal (one row per bucket), turn
    * the subtotals into bucket offsets with a window over that TINY
    * table (the only single-task window here), broadcast the offsets
    * back, and add the within-bucket running sum. At 100 TB this is one
    * bucket-hash shuffle per branch (the exchange is identical on both
    * — ReusedExchange — and correct even if recomputed); no task ever
    * windows more than its own bucket. Bucket count scales with
    * cluster size; a skewed doc_id space would swap this split for
    * range statistics.
    */
  /** Doc-level shard assignment (the prefix-sum core shared by
    * q_pack_sequences, q_shard_write, and q_dedup_pack_pipeline):
    * (doc_id, n_tok) in, (doc_id, n_tok, shard_id) out. `maxId` is a
    * 1-row (max_id) frame taken from the RAW table so the bucket split
    * never re-derives the (possibly expensive) upstream of `docs`.
    */
  private[graft] def packShards(docs: DataFrame, maxId: DataFrame): DataFrame = {
    val bucketed = docs.crossJoin(broadcast(maxId))
      .withColumn("pid", expr("(doc_id * 32) div (max_id + 1)"))
      .select("doc_id", "n_tok", "pid")
    val offs = bucketed.groupBy("pid").agg(sum("n_tok").as("p_tok"))
      .withColumn("offset",
        coalesce(sum("p_tok").over(Window.orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("pid", "offset")
    val wIn = Window.partitionBy("pid").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed.join(broadcast(offs), "pid")
      .withColumn("cum", col("offset") + sum("n_tok").over(wIn))
      .select(col("doc_id"), col("n_tok"),
        expr("(cum - n_tok) div 2048").as("shard_id"))
  }

  private def packedDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    packShards(docs, docs.agg(max("doc_id").as("max_id")))
  }

  private def packSequences(s: SparkSession, dir: String): DataFrame =
    packedDocs(s, dir)
      .groupBy("shard_id")
      .agg(cnt.as("n_docs"), sum("n_tok").as("n_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("shard_id")

  /** Token-budget selection: keep the highest-quality documents (longest
    * first, doc_id tie-break) until HALF the corpus's tokens are spent —
    * the "fill the training budget with the best data" primitive. The
    * global prefix sum over the quality ordering reuses the two-level
    * packShards formulation, with the bucket id derived from a 32-band
    * quantization of the score (monotone in the ordering, so bucket-
    * ascending + within-bucket (score desc, doc_id) IS the global
    * order): no single task ever windows the corpus, and the budget and
    * score bands come from one broadcast 1-row aggregate. A doc is kept
    * when its STARTING offset is inside the budget (the cut doc stays).
    */
  private def tokenBudget(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    val stats = docs.agg(min("n_chars").as("lo"), max("n_chars").as("hi"),
      expr("sum(n_tok) div 2").as("budget"))
    val bucketed = docs.crossJoin(broadcast(stats))
      .withColumn("pid", expr("((hi - n_chars) * 32) div (hi - lo + 1)"))
    val offs = bucketed.groupBy("pid").agg(sum("n_tok").as("p_tok"))
      .withColumn("offset",
        coalesce(sum("p_tok").over(Window.orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("pid", "offset")
    val wIn = Window.partitionBy("pid")
      .orderBy(col("n_chars").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed.join(broadcast(offs), "pid")
      .withColumn("cum", col("offset") + sum("n_tok").over(wIn))
      .filter(col("cum") - col("n_tok") < col("budget"))
      .groupBy("lang")
      .agg(cnt.as("n_kept"), sum("n_tok").as("tok_kept"),
        min("n_chars").as("min_len"))
      .orderBy("lang")
  }

  /** Training-shard export (side-effect op, oracled on the summary):
    * write the packed corpus as a shard_id-partitioned parquet layout with each
    * shard's rows sorted by doc_id — the layout a sequential trainer
    * consumes shard-by-shard, and at 100 TB the write pattern that keeps
    * one task per shard (repartition on the partition column so the
    * writer never fans one shard across tasks or one task across many
    * shard directories). Returns roundtrip vs source counts; CurationSpec
    * asserts equality and cross-checks the shard count with
    * q_pack_sequences. The DuckDB twin derives every column from the
    * source table (the shard count via the same prefix-sum formula the
    * q_pack_sequences oracle proves), so a lossy or duplicating export
    * breaks the hash.
    */
  private def shardWrite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Publish.scratch("graft_shards") { out =>
      Tables.documents(s, dir)
        .join(packedDocs(s, dir).select("doc_id", "shard_id"), "doc_id")
        .repartition(col("shard_id"))
        .sortWithinPartitions("shard_id", "doc_id")
        .write.mode("overwrite").partitionBy("shard_id").parquet(out)
      val row = s.read.parquet(out).agg(
          cnt.as("n_docs"),
          countDistinct(col("shard_id")).as("n_shards"),
          sum(length(col("text"))).as("chars"))
        .as[(Long, Long, Long)].head()
      val orig = Tables.documents(s, dir)
        .agg(cnt.as("n"), sum(length(col("text"))).as("chars"))
        .as[(Long, Long)].head()
      Seq((row._1, row._2, row._3, orig._1, orig._2))
        .toDF("n_docs", "n_shards", "chars", "orig_docs", "orig_chars")
    }
  }

  /** Write-time stats manifest: shard the corpus (the q_shard_write
    * layout), then build the per-file manifest a lakehouse table format
    * keeps — for each data file its row count and the min/max of the
    * clustering key — by grouping the read-back over
    * `input_file_name()`. This is the metadata that makes 100 TB reads
    * prune by key range WITHOUT opening files (parquet footers answer
    * per-file, the manifest answers per-TABLE; q_agg_pushdown is the
    * footer half of the same story). `n_files` is asserted per shard:
    * `repartition(shard_id)` hash-co-locates each shard into exactly one
    * task, so the layout contract is one file per shard — the manifest
    * proves the writer kept it. The manifest is O(shards) by
    * construction (32 here, bounded by the packer), so the local
    * materialization before the temp dir is deleted is a metadata-sized
    * collect, same as shardWrite's.
    */
  private def fileManifest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Publish.scratch("graft_manifest") { out =>
      Tables.documents(s, dir)
        .join(packedDocs(s, dir).select("doc_id", "shard_id"), "doc_id")
        .repartition(col("shard_id"))
        .sortWithinPartitions("shard_id", "doc_id")
        .write.mode("overwrite").partitionBy("shard_id").parquet(out)
      val manifest = s.read.parquet(out)
        .select(col("shard_id").cast("long").as("shard_id"), col("doc_id"),
          input_file_name().as("f"))
        .groupBy("shard_id")
        .agg(countDistinct(col("f")).as("n_files"), cnt.as("n_docs"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
      manifest.toDF("shard_id", "n_files", "n_docs", "min_doc", "max_doc")
        .orderBy("shard_id")
    }
  }

  // ---------------------------------------------------------- mixing

  /** Weighted source mixing: keep each document with per-source
    * probability via an md5-derived uniform — the deterministic
    * hash-threshold form of mixture sampling (every run, every engine,
    * every executor draws the same "random" number for a given doc).
    * Pure projection + one hash-aggregate; nothing global.
    */
  private def mixtureSample(s: SparkSession, dir: String): DataFrame = {
    val u = mdUniform("mix:", col("doc_id"))
    val w = when(col("source").isin("src0", "src1", "src2"), 1.0)
      .when(col("source").isin("src3", "src4"), 0.5)
      .otherwise(0.25)
    Tables.documents(s, dir)
      .withColumn("keep", u.cast("double") / lit(16777216.0) < w)
      .groupBy("source")
      .agg(cnt.as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
      .withColumn("frac",
        round(col("n_kept").cast("double") / col("n_docs"), 4))
      .orderBy("source")
  }

  /** Deterministic per-group sample: the 3 documents per language with
    * the smallest md5-derived uniforms — the "pull K examples per slice"
    * primitive behind eval sets and debugging samples. Scale-safe
    * two-stage: a per-group hash threshold (τ_g sized so ~50 survivors
    * per group regardless of group size — P(losing a true top-3 doc) ≈
    * Poisson(50 ≤ 2) ≈ 1e-18) prunes the corpus BEFORE the exact
    * per-group rank, so the rank window only ever sees ~50 rows per
    * group — never a whole group on one task, no matter how skewed.
    * The group-count table is one tiny broadcast.
    */
  private def groupSample(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"))
      .withColumn("u", mdUniform("grp:", col("doc_id")))
    val counts = base.groupBy("lang").agg(cnt.as("n_g"))
    val w = Window.partitionBy("lang").orderBy("u", "doc_id")
    base.join(broadcast(counts), "lang")
      // integer FLOOR division, matching the oracle's `//` exactly — true
      // division admitted a boundary u where the two engines disagreed
      .filter(col("u") < least(lit(16777216L), expr("(16777216 * 50) div n_g")))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= 3)
      .select(col("lang"), col("rank"), col("doc_id"), col("u"))
      .orderBy("lang", "rank")
  }

  /** Exact per-group top-K through the custom bounded-buffer Aggregator
    * (functions/TopKAggregator.scala) instead of a rank window: partial
    * aggregation ships ≤ K rows per group per map task, so a skewed
    * group costs the same as a uniform one — the algebraic complement
    * to groupSample's probabilistic threshold. Oracled against the
    * window formulation it replaces (identical deterministic ordering).
    */
  private def groupedTopk(s: SparkSession, dir: String): DataFrame = {
    val topk = udaf(new graft.functions.TopKAggregator(3),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaLong))
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(topk(col("value"), col("event_id")).as("top"))
      .select(col("event_type"), posexplode(col("top")))
      .select(col("event_type"), (col("pos") + 1).cast("int").as("rank"),
        col("col._2").as("event_id"), col("col._1").as("value"))
      .orderBy("event_type", "rank")
  }

  /** Epoch-wise corpus reshuffle: a deterministic global training order
    * per epoch (rank = position of the doc's md5 draw within its epoch)
    * WITHOUT a single-task window. The rank is a two-level prefix sum
    * over the uniform hash domain — the same shape as packSequences but
    * bucketed on the draw's top bits (32 buckets; uniform by
    * construction, so no skew): per-(epoch, bucket) counts → offsets
    * from a window over the tiny 32-row-per-epoch table → broadcast
    * back → within-bucket row_number. At 100 TB each rank task sees
    * corpus/32/shuffle-partitions rows; bucket count scales with the
    * cluster. The global sort this replaces is exactly what "shuffle
    * the dataset each epoch" costs in a naive trainer feed.
    */
  private def epochOrder(s: SparkSession, dir: String): DataFrame = {
    val b = Tables.documents(s, dir)
      .select(col("doc_id"))
      .withColumn("epoch", explode(array(lit(0), lit(1))))
      .withColumn("u", mdUniform("ep", concat(col("epoch").cast("string"),
        lit(":"), col("doc_id").cast("string"))))
      .withColumn("bkt", expr("u div 524288")) // 16^6 / 2^19 = 32 buckets
    val offs = b.groupBy("epoch", "bkt").agg(cnt.as("n"))
      .withColumn("off",
        coalesce(sum("n").over(Window.partitionBy("epoch").orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("epoch", "bkt", "off")
    val wIn = Window.partitionBy("epoch", "bkt").orderBy("u", "doc_id")
    b.join(broadcast(offs), Seq("epoch", "bkt"))
      .withColumn("rank", col("off") + row_number().over(wIn))
      .select(col("epoch"), col("rank"), col("doc_id"))
      .orderBy("epoch", "rank")
  }

  /** k-anonymity audit (Sweeney 2002) — the OTHER half of the privacy
    * story next to piiRedact's content scrub: rows whose
    * quasi-identifier combination (event_type, value band, calendar
    * day) is shared by fewer than k = 5 rows are re-identifiable by
    * linkage even with all direct identifiers removed. Output is every
    * risky equivalence class with its size — the table a release
    * review suppresses or generalizes before data leaves the
    * boundary. ONE hash aggregate over the corpus (map-side combined);
    * the k filter runs on the bounded class table. Day comes from
    * exact epoch-µs integer division so both engines bin identically.
    */
  private def kAnonymity(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"),
        floor(col("value") / 50).cast("long").as("vband"),
        expr("ts_us div 86400000000").as("day"))
      .groupBy("event_type", "vband", "day")
      .agg(cnt.as("n"))
      .filter(col("n") < 5)
      .orderBy("event_type", "vband", "day")

  // ------------------------------------------------------- PII scrub

  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val idRe = "[0-9]{7,}"

  /** PII redaction: replace email addresses and long digit runs with
    * typed placeholders, count the hits. Patterns are deliberately in
    * the RE2 ∩ java.util.regex common subset so the DuckDB oracle runs
    * the LITERAL same regexes. Codegen'd projection — no shuffle at all.
    */
  private def piiRedact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        regexp_count(col("text"), lit(emailRe)).as("n_emails"),
        regexp_count(col("text"), lit(idRe)).as("n_ids"),
        md5(regexp_replace(regexp_replace(col("text"), emailRe, "<EMAIL>"),
          idRe, "<ID>")).as("redacted_md5"))
      .orderBy("doc_id")

  /** (n_s per source) → (source, keep-prob): the temperature-weight
    * table, computed ENTIRELY on the tiny counts aggregate — the corpus
    * total and the max raw weight are global windows over the ≤#sources
    * rows (a deliberate single-task window on a bounded-size table), so
    * deriving the weights never touches the corpus again. One corpus
    * stats pass feeds this; separate total/max corpus aggregates would
    * each re-scan (per-branch pruning defeats exchange reuse).
    */
  private def sourceWeights(counts: DataFrame): DataFrame = {
    val all = Window.partitionBy(lit(1))
    counts
      .withColumn("n", sum("n_s").over(all))
      .withColumn("wr", pow(col("n_s").cast("double") / col("n"), lit(-0.3)))
      .withColumn("mw", max("wr").over(all))
      .select(col("source"), (col("wr") / col("mw")).as("w"))
  }

  /** Temperature-based source resampling (α = 0.7): per-source keep
    * probabilities ∝ (n_s/N)^(α−1), normalized so the rarest source
    * keeps everything — the multilingual-LM mixing rule that upweights
    * low-resource slices. All weights derive FROM the data (one tiny
    * per-source count aggregate, broadcast back with the corpus total
    * and the max raw weight), and the draw is the same md5 uniform as
    * mixtureSample — deterministic everywhere. The only cross-engine
    * soft spot is `pow`, whose ≤1-ulp wobble is far below both the
    * 6-dp-rounded output and any integer-draw threshold boundary.
    */
  private def temperatureSample(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val w = sourceWeights(docs.groupBy("source").agg(cnt.as("n_s")))
    docs.select(col("source"), mdUniform("tmp:", col("doc_id")).as("u"))
      .join(broadcast(w), "source")
      .groupBy("source")
      .agg(cnt.as("n_docs"),
        sum(when(col("u").cast("double") < col("w") * 16777216.0, 1L)
          .otherwise(0L)).as("n_kept"),
        round(first(col("w")), 6).as("keep_prob"))
      .orderBy("source")
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES):
    * k docs drawn with probability proportional to length, as one
    * top-k — each doc gets the key ln(u)/w (u an md5-derived uniform in
    * (0, 1], w = n_chars) and the k largest keys ARE the weighted
    * sample. The classic distributed form: no rejection loop, no
    * sequential reservoir, just a TakeOrderedAndProject over a pure
    * projection — one pass, no shuffle, any scale. Deterministic u ⇒
    * fully oracled (ln on identical doubles, rank tie-break doc_id).
    */
  private def weightedSample(s: SparkSession, dir: String): DataFrame = {
    val u = (mdUniform("ws:", col("doc_id")).cast("double") + 1.0) / 16777216.0
    Tables.documents(s, dir)
      .filter(col("n_chars") > 0)
      .withColumn("k", log(u) / col("n_chars"))
      .orderBy(col("k").desc, col("doc_id"))
      .limit(20)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("k").desc, col("doc_id"))))
      .select(col("rnk"), col("doc_id"), col("n_chars"),
        round(col("k"), 8).as("key"))
      .orderBy("rnk")
  }

  // ------------------------------------------ passage-level dedup

  /** Exact-substring dedup at passage granularity (the tractable
    * distributed form of Lee et al.'s suffix-array dedup): cut each
    * document into non-overlapping 20-token passages, hash them, and
    * count corpus-wide occurrences of each passage in ONE window over
    * the passage-hash shuffle. Per-doc output = how much of the doc is
    * boilerplate shared with the rest of the corpus. The shuffle key is
    * the passage hash — fan-in per key is the passage's true duplicate
    * count, never corpus size.
    */
  private def passageDedup(s: SparkSession, dir: String): DataFrame = {
    val toks = col("toks")
    val pass = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(toks) >= 20)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), expr("size(toks) div 20") - 1),
        j => md5(concat_ws(" ", slice(toks, j * 20 + 1, lit(20)))))).as("ph"))
    pass
      .withColumn("n_occ", count(lit(1)).over(Window.partitionBy("ph")))
      .groupBy("doc_id")
      .agg(cnt.as("n_passages"),
        sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("n_dup_passages"))
      .orderBy("doc_id")
  }

  /** Passage-level dedup WITH corpus rewrite (the RefinedWeb/CCNet
    * "remove duplicated spans, keep the rest of the page" op —
    * q_passage_dedup only reports boilerplate shares, this one emits the
    * cleaned corpus): cut each doc into consecutive 20-token passages
    * (tail kept as a short final passage), keep the FIRST occurrence of
    * each passage corpus-wide (by (doc_id, pos) — deterministic), and
    * reassemble every doc from its surviving passages in order. Docs
    * that were pure boilerplate vanish. Cost at 100 TB: one explode, one
    * passage-hash shuffle, one doc_id shuffle for reassembly — never an
    * all-pairs comparison and never a global sort of the corpus.
    * Keep-first is a `min_by` HASH AGGREGATE, not a ranked window: a
    * viral boilerplate passage duplicated 10⁶× collapses map-side to one
    * candidate per input partition before the shuffle, where a window
    * would funnel all 10⁶ copies into one task's sort.
    */
  private def passageRewrite(s: SparkSession, dir: String): DataFrame = {
    val chunks = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n_chunks", expr("(size(toks) + 19) div 20").cast("long"))
      .select(col("doc_id"), col("n_chunks"),
        posexplode(transform(sequence(lit(0), col("n_chunks").cast("int") - 1),
          j => concat_ws(" ", slice(col("toks"), j * 20 + 1, lit(20))))))
      .withColumnRenamed("col", "chunk")
    chunks
      .groupBy(md5(col("chunk")).as("ph"))
      .agg(min_by(
        struct(col("doc_id"), col("n_chunks"), col("pos"), col("chunk")),
        struct(col("doc_id"), col("pos"))).as("m"))
      .select(col("m.doc_id").as("doc_id"), col("m.n_chunks").as("n_chunks"),
        col("m.pos").as("pos"), col("m.chunk").as("chunk"))
      .groupBy("doc_id")
      .agg(min("n_chunks").as("n_chunks"), cnt.as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("chunk")))),
          x => x.getField("chunk")), " ").as("text_re"))
      .orderBy("doc_id")
  }

  /** Offset-invariant duplicated-span detection — the sliding-window
    * form of Lee et al.'s exact-substring dedup that q_passage_dedup's
    * fixed 20-token chunks cannot express: a span shared between two
    * docs at DIFFERENT token offsets never aligns to the same chunk
    * boundary, but every k-token sliding window inside it collides.
    * Each doc explodes into its n−k+1 window hashes (the honest k×
    * linear cost of substring-level dedup); a window is duplicated when
    * its hash occurs in more than one document, detected as
    * min(doc) ≠ max(doc) over the hash partition — Spark has no
    * count-distinct-over-window, and min/max are the cheapest
    * >1-distinct-docs witness (fan-in per hash key = the span's true
    * duplicate count, as in q_passage_dedup). Consecutive duplicated
    * positions then collapse to maximal runs via gaps-and-islands
    * (pos − row_number), giving the longest duplicated token span per
    * doc = k − 1 + longest run. One window-hash shuffle + two doc-key
    * shuffles, all linear; never an all-pairs comparison.
    */
  private def spanDedup(s: SparkSession, dir: String): DataFrame = {
    val k = 16
    val win = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(toks) - ${k - 1}), " +
          s"i -> md5(concat_ws(' ', slice(toks, i, $k))))")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("h"))
    val hw = Window.partitionBy("h")
    // pos >= 1 is always true (posexplode + 1) but unprovable: it pins
    // `pos` into BOTH consumer branches' lineage so column pruning can't
    // specialize the subtree below the hash exchange per branch — without
    // it the perDoc branch prunes pos, the subtrees stop canonicalizing
    // equal, and the corpus explodes twice (the tfidf trap, column-
    // pruning form)
    val flagged = win.withColumn("dup",
      min(col("doc_id")).over(hw) =!= max(col("doc_id")).over(hw))
      .filter(col("pos") >= 1L)
    val perDoc = flagged.groupBy("doc_id")
      .agg(cnt.as("n_windows"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_windows"))
    val spans = flagged.filter(col("dup"))
      .withColumn("grp", col("pos") - row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")))
      .groupBy(col("doc_id"), col("grp")).agg(cnt.as("run"))
      .groupBy("doc_id").agg(max(col("run")).as("max_run"))
    perDoc.join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        coalesce(col("max_run") + (k - 1), lit(0L)).as("max_dup_span"))
      .orderBy("doc_id")
  }

  /** Corpus datasheet — the dataset-card summary block (doc/token/lang/
    * source counts, exact-dup rate, length stats, short-doc rate) in ONE
    * corpus scan: a single multi-aggregate (Spark expands the three
    * DISTINCTs into one Expand pass — still one scan, map-side partials
    * throughout) unpivoted to (metric, value) rows via `stack`. The
    * exact count(DISTINCT md5) is the oracle-able form; at 100 TB the
    * same line swaps to approx_count_distinct (the HLL path
    * q_agg_approx_distinct demonstrates) and everything else is already
    * sketch- or sum-shaped. Exact mean via decimal routing; p50 via
    * `percentile` ≡ DuckDB quantile_cont (the q_text_quantiles-proven
    * pair).
    */
  /** Mixture-drift monitor: per-source KL divergence of the source's
    * language distribution from the corpus-wide one — the dashboard
    * number that catches a crawl source silently changing composition
    * between snapshots (a jump in KL(source ‖ corpus) = investigate).
    * Add-one smoothing over the full source × lang grid keeps every
    * term finite; ONE corpus-sized (source, lang) aggregate feeds
    * everything (per-source totals, per-lang totals, the grand total
    * all derive from it — the tfidf branch-after-shuffle rule), and the
    * grid is |sources|×|langs| rows, never corpus-sized. Per-term
    * contributions are pre-rounded to the 8-dp decimal grid so the
    * per-source sum is order-invariant and engine-exact (the lm_score
    * idiom; all inputs are integer-derived doubles, so ln() is
    * IEEE-identical in both engines).
    */
  private def driftKl(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val c = Tables.documents(s, dir).groupBy("source", "lang").agg(cnt.as("n"))
    val bySrc = c.groupBy("source").agg(sum(col("n")).as("ns"))
    val byLang = c.groupBy("lang").agg(sum(col("n")).as("nl"))
    val tot = byLang.agg(sum(col("nl")).as("nn"), cnt.as("nlangs"))
    val grid = bySrc.crossJoin(byLang)
      .join(c, Seq("source", "lang"), "left")
      .na.fill(0L, Seq("n"))
      .crossJoin(broadcast(tot))
    val p = (col("n") + lit(1)).cast("double") /
      (col("ns") + col("nlangs")).cast("double")
    val q = (col("nl") + lit(1)).cast("double") /
      (col("nn") + col("nlangs")).cast("double")
    grid.select(col("source"), col("ns"),
        round(p * log(p / q), 8).as("term"))
      .groupBy("source")
      .agg(max(col("ns")).as("n_docs"),
        round(sum(col("term").cast(DecimalType(18, 8))).cast("double"), 6)
          .as("kl_nats"))
      .orderBy("source")
  }

  /** Two-sample Kolmogorov–Smirnov drift test (round 13) — the
    * distribution-free sibling of [[driftKl]]: KS = max |F_A − F_B|
    * between the click and purchase value distributions. The 100 TB
    * form runs on a FIXED VALUE GRID (5e-3 buckets over the value
    * domain — ≤10⁴ rows whatever the corpus): per-bucket conditional
    * counts in ONE map-side-combinable aggregate, cumulative sums over
    * the bounded grid only (the single-partition window is 10⁴ rows,
    * never the corpus), and the statistic in EXACT INTEGER arithmetic
    * — max |cumA·n_B − cumB·n_A| over the grid, ONE double division at
    * the end (grid-KS ≤ true KS ≤ grid-KS + max-bucket-mass; the
    * bucket width bounds the gap). The α=0.05 rejection compares
    * against c(α)·√((n_A+n_B)/(n_A·n_B)) — sqrt is IEEE
    * correctly-rounded, so both engines derive the identical double.
    */
  private def driftKs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase") &&
        col("value").isNotNull)
      .select(col("event_type").as("side"),
        floor(col("value") * lit(200)).cast("long").as("b"))
      .groupBy("b")
      .agg(sum(when(col("side") === "click", 1L).otherwise(0L)).as("ca"),
        sum(when(col("side") === "purchase", 1L).otherwise(0L)).as("cb"))
    val tot = counts.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    val w = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts
      .withColumn("cuma", sum(col("ca")).over(w))
      .withColumn("cumb", sum(col("cb")).over(w))
      .crossJoin(broadcast(tot))
      .groupBy(col("na"), col("nb"))
      .agg(max(abs(col("cuma") * col("nb") - col("cumb") * col("na")))
        .as("ks_num"))
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        (col("ks_num").cast("double") /
          (col("na") * col("nb")).cast("double")).as("ks_stat"),
        (lit(1.3581) * sqrt((col("na") + col("nb")).cast("double") /
          (col("na") * col("nb")).cast("double"))).as("crit_05"))
      .withColumn("reject_h0", col("ks_stat") > col("crit_05"))
  }

  /** Population Stability Index (round 13) — the MLOps-standard drift
    * score between the click and purchase value distributions, on a
    * COARSE decile-style grid (unit buckets over the value domain —
    * PSI is a binned statistic by definition; fine grids starve the
    * bins). PSI = Σ (p_b − q_b)·ln(p_b / q_b) with add-one smoothing
    * on counts (zero-bin-safe, the driftKl rule). Determinism: p and q
    * are single divisions of exact integers, ln() of integer-derived
    * doubles is IEEE-identical cross-engine (the q_drift_kl
    * precedent), each term pre-rounds to the 8-dp grid so the bounded
    * sum is order-invariant, and the total runs in DECIMAL. Same
    * bounded shape as [[driftKs]]: one combinable aggregate over the
    * corpus, everything after on ≤|value domain| rows.
    */
  private def driftPsi(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val counts = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase") &&
        col("value").isNotNull)
      .select(col("event_type").as("side"),
        floor(col("value")).cast("long").as("b"))
      .groupBy("b")
      .agg(sum(when(col("side") === "click", 1L).otherwise(0L)).as("ca"),
        sum(when(col("side") === "purchase", 1L).otherwise(0L)).as("cb"))
    val tot = counts.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
      cnt.as("nbins"))
    val withTot = counts.crossJoin(broadcast(tot))
    val p = (col("ca") + lit(1)).cast("double") /
      (col("na") + col("nbins")).cast("double")
    val q = (col("cb") + lit(1)).cast("double") /
      (col("nb") + col("nbins")).cast("double")
    withTot
      .select(col("na"), col("nb"),
        round((p - q) * log(p / q), 8).as("term"))
      .groupBy(col("na").as("n_a"), col("nb").as("n_b"))
      .agg(round(sum(col("term").cast(DecimalType(18, 8))).cast("double"), 6)
        .as("psi"))
      .withColumn("stable", col("psi") < 0.1)
      .withColumn("drifted", col("psi") >= 0.25)
  }

  private def corpusReport(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .agg(
        cnt.as("n_docs"),
        sum(size(split(col("text"), " "))).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(md5(col("text"))).as("n_uniq"),
        dsum(col("n_chars")).as("sum_chars"),
        expr("percentile(n_chars, 0.5D)").as("p50_chars"),
        sum(when(col("n_chars") < 100, 1L).otherwise(0L)).as("n_short"))
      .select(expr(
        "stack(8, " +
          "'doc_count', CAST(n_docs AS DOUBLE), " +
          "'dup_rate', round(1.0D - CAST(n_uniq AS DOUBLE) / n_docs, 4), " +
          "'lang_count', CAST(n_langs AS DOUBLE), " +
          "'mean_chars', round(sum_chars / n_docs, 4), " +
          "'p50_chars', CAST(p50_chars AS DOUBLE), " +
          "'short_rate', round(CAST(n_short AS DOUBLE) / n_docs, 4), " +
          "'source_count', CAST(n_sources AS DOUBLE), " +
          "'token_count', CAST(n_tokens AS DOUBLE)) AS (metric, value)"))
      .orderBy("metric")
  }

  /** Declarative data-quality EXPECTATION suite (the Deequ/dbt-test
    * shape): every scalar constraint — completeness, key uniqueness,
    * range/set compliance, positivity — computes in ONE aggregate pass
    * over the fact table (the only affordable validation shape at
    * 100 TB: adding a constraint adds a conditional count to the same
    * scan, never a scan), plus one anti-join for the referential
    * constraint. The 1-row metric frames cross-join (both broadcast,
    * bounded) and unpivot to one verdict row per constraint:
    * (constraint, metric, threshold, direction, passed). Metrics are
    * single-division ratios of exact counts — bit-stable cross-engine.
    * Failing constraints REPORT (passed = false) rather than abort:
    * the gate's consumer decides, the suite just measures.
    */
  private def expectations(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    // (l_linenumber < 8 in TPC-H shapes, so *8+ is an exact pair encode
    // — the same distinct both engines count with no struct hashing)
    val base = li.agg(
      cnt.as("n"),
      count(col("l_shipdate")).as("n_ship"),
      countDistinct(col("l_orderkey") * 8 + col("l_linenumber")).as("n_pk"),
      sum(when(col("l_quantity") >= 1 && col("l_quantity") <= 50, 1L)
        .otherwise(0L)).as("n_qty"),
      sum(when(col("l_discount") >= 0 && col("l_discount") <= 0.08, 1L)
        .otherwise(0L)).as("n_disc"),
      sum(when(col("l_returnflag").isin("A", "N", "R"), 1L)
        .otherwise(0L)).as("n_rf"),
      sum(when(col("l_extendedprice") > 0, 1L).otherwise(0L)).as("n_price"))
    val orphans = li.select(col("l_orderkey"))
      .join(Tables.orders(s, dir).select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n_orphan"))
    base.crossJoin(broadcast(orphans))
      .select(expr(
        "stack(7, " +
          "'completeness_shipdate', CAST(n_ship AS DOUBLE) / n, 1.0D, 'min', " +
          "'compliance_discount', CAST(n_disc AS DOUBLE) / n, 1.0D, 'min', " +
          "'compliance_quantity', CAST(n_qty AS DOUBLE) / n, 1.0D, 'min', " +
          "'positivity_price', CAST(n_price AS DOUBLE) / n, 1.0D, 'min', " +
          "'referential_orderkey', CAST(n_orphan AS DOUBLE) / n, 0.0D, 'max', " +
          "'set_returnflag', CAST(n_rf AS DOUBLE) / n, 1.0D, 'min', " +
          "'uniqueness_pk', CAST(n_pk AS DOUBLE) / n, 1.0D, 'min') " +
          "AS (constraint, metric, threshold, direction)"))
      .withColumn("passed",
        when(col("direction") === "min", col("metric") >= col("threshold"))
          .otherwise(col("metric") <= col("threshold")))
      .orderBy("constraint")
  }

  /** Fixed-point PAGERANK over the part↔supplier bipartite graph
    * (distinct lineitem (partkey, suppkey) pairs, both directions) —
    * the iterative-graph-algorithm shape (label propagation's sibling;
    * q_dup_clusters is the other) expressed as the standard Spark
    * driver loop: per iteration ONE co-keyed join of the bounded rank
    * table onto the degree-annotated edge list + one hash aggregate,
    * with `localCheckpoint` pinning plan depth constant at any
    * iteration count. Edge list and degrees materialize ONCE.
    *
    * Determinism across engines is the q_interpolate rule applied to an
    * ITERATED computation: every rank and every edge contribution is
    * quantized to the 1e-8 grid with the explicit half-up
    * `floor(x*1e8 + 0.5)/1e8` (engine-uniform IEEE, no cast/round tie
    * path), and grid-exact contributions sum in DECIMAL(18,8) — exact,
    * order-free — so five iterations stay bit-identical in both
    * engines. Damping 0.85; no dangling mass (every node has out-edges
    * by construction). Top 20 via TakeOrderedAndProject (distributed
    * heap), row numbers assigned after the cut over 20 rows.
    */
  /** The part↔supplier PageRank graph, materialized ONCE: (edges with
    * out-degrees, degree table, node count) — read by every round of
    * [[prRanks]].
    */
  private def prGraph(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, Double) = {
    val pairs = Tables.lineitem(s, dir)
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .distinct()
    val edges0 = pairs
      .select(concat(lit("p"), col("pk")).as("src"),
        concat(lit("s"), col("sk")).as("dst"))
      .union(pairs.select(concat(lit("s"), col("sk")).as("src"),
        concat(lit("p"), col("pk")).as("dst")))
    // r15 optimization: pin the STATIC graph tables hash-partitioned by
    // src at the session's shuffle-partition count (explicit repartition
    // so AQE cannot coalesce the two sides to DIFFERENT counts) and
    // sorted by src inside each partition. localCheckpoint preserves
    // both partitioning and ordering, so every round's edges⋈ranks
    // sort-merge join runs with ZERO exchange and ZERO sort on the
    // 2|E|-row edge table (the rank table re-enters each round already
    // hash(node)-partitioned and node-sorted by construction — see
    // [[prStep]]). Before: each of up to PrCap rounds re-shuffled and
    // re-sorted the edge list (~12 AQE jobs/round measured at sf0.1);
    // after: the only per-round exchange is the transpose groupBy(dst),
    // which is PageRank's one fundamental shuffle.
    val nPart = s.sessionState.conf.numShufflePartitions
    val deg = edges0.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .repartition(nPart, col("src")).sortWithinPartitions("src")
      .localCheckpoint(true)
    val edges = edges0.join(deg, "src")
      .repartition(nPart, col("src")).sortWithinPartitions("src")
      .localCheckpoint(true)
    // node count: a bounded-dimension driver action (the toscalar class)
    (edges, deg, deg.count().toDouble)
  }

  /** The engine-uniform 1e-8 grid quantization (the q_interpolate
    * rule) every rank and contribution passes through.
    */
  private def q8(c: Column): Column = floor(c * lit(1e8) + lit(0.5)) / lit(1e8)

  /** One PageRank round: co-keyed join of the rank table onto the
    * degree-annotated edges + one hash aggregate, grid-quantized.
    *
    * r15 optimization — the round is the engine's hottest iterated
    * plan (up to [[PrCap]] executions per query), so its shape is
    * pinned exchange-minimal:
    *  - edges and the incoming rank table are both hash(key, nPart)
    *    partitioned and key-sorted checkpoints, so the contribution
    *    join is a sort-merge with ZERO exchange and ZERO sort on the
    *    2|E|-row side (before: the edge list re-shuffled+re-sorted
    *    every round);
    *  - the transpose aggregate stays a partial/final hash aggregate
    *    whose exchange AQE coalesces (map-side combine bounds the
    *    shuffle at |maps|·|nodes| partial rows); the small re-exchange
    *    of the per-dst sums onto the rank side's pinned layout is the
    *    round's only other shuffle, and it carries ≤ |nodes| rows;
    *  - the NEW rank table is produced from the OLD one (same node
    *    set by construction — every node has out-edges), carrying the
    *    previous rank as `ppr`, which fuses the per-round residual
    *    into the same action: the L1 convergence read becomes one
    *    bounded aggregate over the fresh checkpoint instead of a
    *    separate join-the-two-tables job per round.
    * Values are untouched: same q8 grid arithmetic, same decimal sums.
    */
  private def prStep(edges: DataFrame, nNodes: Double,
      ranks: DataFrame): DataFrame = {
    val sums = edges.join(ranks, col("src") === col("node"))
      .select(col("dst"),
        q8(col("pr") / col("outdeg").cast("double")).as("c"))
      .groupBy("dst")
      .agg(sum(col("c").cast(DecimalType(18, 8))).as("sc"))
    ranks.select(col("node"), col("pr").as("ppr"))
      .join(sums, col("node") === col("dst"), "left")
      .select(col("node"), q8(lit(0.15) / lit(nNodes) +
        lit(0.85) * coalesce(col("sc").cast(DoubleType), lit(0.0))).as("pr"),
        col("ppr"))
  }

  /** The L1 residual Σ|pr_k − pr_{k−1}| between two grid-quantized
    * rank tables — exact in decimal, one bounded 1-row aggregate
    * (since r15 the previous rank rides the fresh checkpoint as
    * `ppr`, so this reads ONE table).
    */
  private def prResidual: Column =
    sum(abs(col("pr").cast(DecimalType(18, 8)) -
      col("ppr").cast(DecimalType(18, 8)))).cast(DoubleType)

  /** The PageRank driver loop ([[Rounds]]): at most `cap` rounds from
    * the uniform start, stopping once `done` holds over the per-round L1
    * residuals Σ|pr_k − pr_{k−1}| (the convergence evidence, round 11).
    * Every pr is 1e-8-grid quantized, so the residual runs EXACTLY in
    * decimal — both engines recover the grid point from the double and
    * subtract exactly — as one bounded 1-row aggregate over the fresh
    * checkpoint, read eagerly (the toscalar class). Returns the final
    * rank table and the residuals.
    */
  private def prRanks(s: SparkSession, dir: String, cap: Int)(
      done: Seq[Double] => Boolean): (DataFrame, Seq[Double]) = {
    val (edges, deg, nNodes) = prGraph(s, dir)
    val uniform = deg.select(col("src").as("node"),
      q8(lit(1.0) / lit(nNodes)).as("pr")).localCheckpoint(true)
    val out = Rounds.run(uniform, cap)((ranks, _) => prStep(edges, nNodes, ranks))(
      (ranks, _) => ranks.agg(prResidual.as("res")).head().getDouble(0))(done)
    Rounds.release(edges)
    Rounds.release(deg)
    out
  }

  /** The top 20 (rk, node, pr) of a rank table. */
  private def prTop20(ranks: DataFrame): DataFrame =
    ranks.orderBy(col("pr").desc, col("node")).limit(20)
      .withColumn("rk",
        row_number().over(Window.orderBy(col("pr").desc, col("node"))))
      .select(col("rk"), col("node"), col("pr"))

  private def pagerank(s: SparkSession, dir: String): DataFrame = {
    val (ranks, residuals) = prRanks(s, dir, 5)(_ => false)
    residuals.zipWithIndex.foldLeft(prTop20(ranks)) { case (d, (r, i)) =>
        d.withColumn(s"res${i + 1}", lit(r)) }
      .orderBy("rk")
  }

  /** Iteration cap for [[pagerankConverged]]: the d = 0.85 contraction
    * guarantees res_k ≤ 0.85^(k−1)·res_1, so the 2%-of-first-step
    * target is REACHED by k = 26 (0.85²⁵ ≈ 0.0172 < 0.02) — the cap
    * is a guarantee-backed bound, not a tuning knob, and it is
    * data-independent: the contraction rate is the damping factor,
    * whatever the graph.
    */
  private[graft] val PrCap = 26

  /** Relative convergence target: stop when the L1 step falls under
    * 2% of the first step. Relative, so the iteration count stays
    * ~constant at every corpus size (an absolute ε would demand more
    * rounds as mass spreads thinner over more nodes).
    */
  private[graft] val PrRelEps = 0.02

  /** PageRank ITERATED TO THRESHOLD (q_pagerank_converged, round 12):
    * the fixed-5 snapshot above is contraction-rate-limited ~0.8 L1
    * from the fixpoint; this variant iterates until the L1 step falls
    * under [[PrRelEps]]·res_1 (cap [[PrCap]], guarantee-backed), so
    * the emitted rank table IS a fixpoint up to the documented
    * tolerance. Same loop as [[pagerank]] ([[prRanks]]); the stopping
    * decision reads the SAME decimal-exact residual the oracle replays,
    * so both engines select the identical iteration count. Output
    * carries (iters, resid) beside the top-20 ranks. Scale: per-round
    * cost is edge-linear; the round COUNT is data-independent (the
    * contraction rate is d, whatever the data), so the 100 TB cost is
    * cap·(one co-partitioned join pass).
    */
  private def pagerankConverged(s: SparkSession, dir: String): DataFrame = {
    val (ranks, residuals) =
      prRanks(s, dir, PrCap)(rs => rs.last < PrRelEps * rs.head)
    prTop20(ranks)
      .withColumn("iters", lit(residuals.length))
      .withColumn("resid", lit(residuals.last))
      .orderBy("rk")
  }

  // ------------------------------------------------ outlier screen

  /** Z-score outlier screen on event values per type: exact decimal
    * power sums → mean/std (identical doubles in both engines), tiny
    * stats table broadcast back onto the fact scan, flag |z| > 3. The
    * data-cleaning primitive for numeric columns: two passes over the
    * fact, zero fact-side shuffles (agg is map-side combined; the join
    * is broadcast).
    */
  private def zscoreOutliers(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val stats = ev.groupBy("event_type").agg(
        cnt.as("n"),
        dsum30(col("value")).as("sx"),
        dsum30(col("value") * col("value")).as("sxx"))
      .select(col("event_type"), col("n"),
        (col("sx") / col("n")).as("mean"),
        sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1))
          .as("std"))
    ev.join(broadcast(stats), "event_type")
      .withColumn("is_out", abs(col("value") - col("mean")) > col("std") * 3)
      .groupBy("event_type")
      .agg(cnt.as("n_events"),
        sum(when(col("is_out"), 1L).otherwise(0L)).as("n_outliers"),
        round(first(col("mean")), 4).as("mean"),
        round(first(col("std")), 4).as("std"))
      .orderBy("event_type")
  }

  /** Winsorized (quantile-clipped) robust aggregation per event type:
    * clip `value` to its type's [p05, p95] band, then aggregate the
    * clipped values — the outlier-robust complement of the z-score
    * screen above. Thresholds are pure ORDER STATISTICS (the value at
    * rank ceil(p·n), ties broken by event_id), never interpolated: an
    * interpolated percentile is FP arithmetic whose last ulp could
    * differ cross-engine and flip a clip comparison, while a selected
    * element is a value both engines read identically from parquet.
    * One hash exchange on event_type feeds the rank window, the
    * threshold window (same partitioning — no second shuffle), and the
    * final aggregate. At 100 TB the per-type sort is the price of
    * EXACT quantiles; the one-line swap to `approx_percentile`
    * thresholds keeps the whole clip-aggregate shape and drops the
    * sort (same trade documented at q_text_quantiles).
    */
  private def winsorize(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type"), col("event_id"), col("value"))
    val byType = Window.partitionBy("event_type")
    val ranked = ev
      .withColumn("rn", row_number().over(byType.orderBy(col("value"), col("event_id"))))
      .withColumn("n", count(lit(1)).over(byType))
    ranked
      .withColumn("lo", max(when(
        col("rn") === greatest(lit(1L), ceil(col("n") * 0.05)), col("value"))).over(byType))
      .withColumn("hi", max(when(
        col("rn") === ceil(col("n") * 0.95), col("value"))).over(byType))
      .groupBy("event_type")
      .agg(cnt.as("n"),
        sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"),
        dsum(least(greatest(col("value"), col("lo")), col("hi"))).as("wsum"))
      .orderBy("event_type")
  }

  /** Deterministic Poisson(1) bootstrap of the event value mean: 32
    * resamples in ONE pass. Each (event, replica) draws its resample
    * multiplicity from the md5-uniform (the engine's deterministic RNG —
    * every run, engine, and executor agrees) thresholded at the
    * Poisson(1) CDF (P(0)=e⁻¹, capped at 3); per-replica totals are
    * decimal-exact. This is the scalable bootstrap: no resample is ever
    * materialized — the ×32 explode combines map-side to 32 partial rows
    * per task before the only shuffle, so confidence intervals over
    * 100 TB cost one pass and a 32-row aggregate. Emits exact n_eff and
    * decimal bsum per replica; the caller derives means/SE (division
    * left out of the compare).
    */
  private def bootstrap(s: SparkSession, dir: String): DataFrame = {
    val u = conv(substring(md5(concat(lit("bs:"), col("b").cast("string"),
      lit(":"), col("event_id").cast("string"))), 1, 6), 16, 10)
      .cast("long").cast("double") / lit(16777216.0)
    Tables.events(s, dir)
      .select(col("event_id"), col("value"))
      .withColumn("b", explode(sequence(lit(0), lit(31))))
      .withColumn("wt",
        when(u < 0.36787944117144233, 0L)
          .when(u < 0.7357588823428847, 1L)
          .when(u < 0.919698602928606, 2L)
          .otherwise(3L))
      .groupBy(col("b").cast("long").as("b"))
      .agg(sum("wt").as("n_eff"), dsum(col("value") * col("wt")).as("bsum"))
      .orderBy("b")
  }

  // --------------------------------------------------- histogram

  /** Fixed-width value histogram per event type (25-wide buckets,
    * clamped at 19) — the profiling pass that sizes the outlier screen
    * and the quantile sketches. One map-side-combined hash-aggregate.
    */
  private def valueHistogram(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("bucket", least(floor(col("value") / 25), lit(19L)))
      .groupBy("event_type", "bucket")
      .agg(cnt.as("n"))
      .orderBy("event_type", "bucket")

  /** The end-to-end curation pipeline as ONE composed plan — exact
    * dedup → repetition/length gate → language allowlist → temperature
    * resample → final per-(source, lang) corpus stats. What composition
    * costs at 100 TB, visible in this single plan: ONE scan of the
    * corpus (gates fused into it), ONE content-hash shuffle for the
    * dedup window (per-hash partitions, a few rows each) whose exchange
    * the stats branch REUSES — possible because the weight table's
    * total/max are windows over the tiny counts aggregate
    * (sourceWeights), so both corpus branches prune to identical
    * subtrees. PlanSpec pins the single-scan + ReusedExchange shape;
    * separate total/max corpus aggregates would have re-scanned per
    * branch.
    */
  private def curationPipeline(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val base = Tables.documents(s, dir)
      .withColumn("h", md5(col("text")))
      .withColumn("n_tok", size(toks).cast("long"))
      .withColumn("dup_frac",
        (size(toks) - size(array_distinct(toks))).cast("double") / size(toks))
    val deduped = base
      .withColumn("rn", row_number().over(Window.partitionBy("h").orderBy("doc_id")))
      .filter(col("rn") === 1)
    val gated = deduped.filter(col("n_tok") >= 20 && col("dup_frac") <= 0.75 &&
      col("lang").isin("en", "de", "fr"))
    val w = sourceWeights(gated.groupBy("source").agg(cnt.as("n_s")))
    gated.withColumn("u", mdUniform("pipe:", col("doc_id")))
      .join(broadcast(w), "source")
      .filter(col("u").cast("double") < col("w") * 16777216.0)
      .groupBy("source", "lang")
      .agg(cnt.as("n_docs"), sum("n_tok").as("n_tokens"))
      .orderBy("source", "lang")
  }

  /** Composed dedup→pack pipeline (VERDICT r3 item 8): exact dedup
    * (md5(text), keep-first) → near-dup collapse (first-8-token md5
    * fingerprint, keep-first — the cheap leading-content signature that
    * catches boilerplate-prefix near-dups exact dedup misses) → pack
    * survivors into 2048-token shards (packShards two-level prefix sum)
    * → per-shard report. ONE corpus text scan feeds the whole dedup
    * chain (both windows run over the same scan, back to back: the fp
    * window consumes the h window's survivors without re-reading);
    * the only other scan is packShards' 1-row max_id frame, pruned to
    * doc_id. This is where composition regressions hide at 100 TB — a
    * naive re-derivation would scan the corpus once per stage (4×).
    */
  private def dedupPackPipeline(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val base = Tables.documents(s, dir).select(
      col("doc_id"),
      md5(col("text")).as("h"),
      md5(array_join(slice(toks, 1, 8), " ")).as("fp"),
      size(toks).cast("long").as("n_tok"))
    val exact = base
      .withColumn("rn", row_number().over(Window.partitionBy("h").orderBy("doc_id")))
      .filter(col("rn") === 1)
    val survivors = exact
      .withColumn("rn2", row_number().over(Window.partitionBy("fp").orderBy("doc_id")))
      .filter(col("rn2") === 1)
      .select("doc_id", "n_tok")
    val maxId = Tables.documents(s, dir).agg(max("doc_id").as("max_id"))
    packShards(survivors, maxId)
      .groupBy("shard_id")
      .agg(cnt.as("n_docs"), sum("n_tok").as("n_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("shard_id")
  }

  /** Composed ingest→state pipeline: the reference's whole batch cycle
    * (validate → per-key registers) as ONE plan over ONE shuffle.
    * Validation gate = reject `error` envelopes + require a parseable
    * props payload (the A2 analog for events); then every register the
    * reference keeps per key — count (A10), running max (A8), last
    * value (A9), watermark bounds (B7) — comes out of a single
    * (user_id, event_type) window: the ordered row_number and the
    * unbounded count/max/min frames share the one hash exchange, so at
    * 100 TB this costs exactly one shuffle of the validated stream and
    * no per-register re-scan. Ordering uses the raw nanosecond `ts`
    * (exact; µs truncation only on the emitted watermark columns).
    */
  private def registerPipeline(s: SparkSession, dir: String): DataFrame = {
    val part = Window.partitionBy("user_id", "event_type")
    val ord = part.orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, dir)
      .filter(col("event_type") =!= "error" &&
        get_json_object(col("props"), "$.k").isNotNull)
      .withColumn("rn", row_number().over(ord))
      .withColumn("n_events", cnt.over(part))
      .withColumn("max_value", max(col("value")).over(part))
      .withColumn("first_ts", min(col("ts_us")).over(part))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("n_events"),
        col("max_value"), col("value").as("last_value"),
        col("ts_us").as("last_ts"), col("first_ts"))
      .orderBy("user_id", "event_type")
  }

  /** Sketch-tier incremental maintenance: q_incremental_agg's base ⊎
    * delta property extended to DISTINCT counts via DataSketches HLL
    * (`hll_sketch_agg` / `hll_union` / `hll_sketch_estimate`). In the
    * sketch's exact (coupon list/set) region, union-of-half-sketches
    * reproduces the one-pass sketch EXACTLY; once the halves promote
    * to HLL-register mode, the union-gadget path and the direct build
    * can round differently and the estimates diverge within error
    * bounds — measured at ~sf1 (15 000 distinct per group), caught by
    * the standing scale gate, so the graded invariant is the BOUNDED
    * form. Invariant oracle (round 12, upgraded out of the ⊘ set):
    * DuckDB's HLL is a different implementation, so the GRADED
    * projection is (group, exact distinct, `merge_consistent`,
    * `within_tol`) — merge_consistent bounds |merged − direct| at 5%
    * of truth + 2 (both estimates target ~2.4% rsd; deterministic
    * because sketch build AND union are order-independent on a fixed
    * dataset), within_tol bounds the direct estimate at 10% of truth.
    * The raw estimates stay on [[sketchMergeRaw]] for the spec, which
    * additionally pins EXACT merge equality in the coupon region.
    * This is how a 100 TB view maintains distinct users per type at
    * delta cost, where exact distinct would re-shuffle all history.
    */
  private def sketchMerge(s: SparkSession, dir: String): DataFrame =
    sketchMergeRaw(s, dir)
      .select(col("event_type"), col("n_exact"),
        (abs(col("est_merged") - col("est_direct")) <=
          col("n_exact") * lit(0.05) + lit(2.0)).as("merge_consistent"),
        (abs(col("est_direct") - col("n_exact")) / col("n_exact") <= lit(0.10))
          .as("within_tol"))
      .orderBy("event_type")

  /** Ungraded frame with the raw HLL estimates behind [[sketchMerge]]. */
  def sketchMergeRaw(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    def sk(pred: org.apache.spark.sql.Column) =
      ev.filter(pred).groupBy("event_type")
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val merged = sk(col("event_id") % 2 === 0)
      .unionByName(sk(col("event_id") % 2 === 1))
      .groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_merged"))
    val direct = ev.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est_direct"),
        countDistinct(col("user_id")).as("n_exact"))
    direct.join(merged, "event_type")
      .select(col("event_type"), col("n_exact"), col("est_direct"), col("est_merged"))
      .orderBy("event_type")
  }

  // ------------------------------------------- changelog compaction

  /** Changelog compaction (the MERGE/upsert primitive): latest event
    * per (user, type) by (ts, event_id) — one ranked window over the
    * natural key shuffle, the same shape a lakehouse CDC compaction
    * job runs. At 100 TB the window partition is one user's one type —
    * thousands of tiny partitions per task, never a global sort.
    */
  private def changelogCompact(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts_us").desc, col("event_id").desc)
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts_us").as("last_ts"), col("value").as("last_value"))
      .orderBy("user_id", "event_type")
  }

  /** Changelog compaction WITH tombstones — the other half of the
    * lakehouse MERGE contract next to [[changelogCompact]]: the
    * changelog carries an op column (op='D' = CDC delete; here derived
    * deterministically from the row so the fixture exercises both
    * paths), and a key whose LATEST row is a tombstone leaves the
    * compacted table entirely — MERGE ... WHEN MATCHED AND op='D' THEN
    * DELETE. Same single ranked-window shuffle as the plain
    * compaction; the delete is one more filter on the rank-1 row, so
    * tombstones cost nothing extra at any scale. The streaming twin is
    * upsertSink's op-aware fold (StreamingSpec: tombstoned keys vanish
    * from state, later inserts resurrect them).
    */
  private def changelogDelete(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts_us").desc, col("event_id").desc)
    Tables.events(s, dir)
      .withColumn("op", when(col("value") < 10.0, lit("D")).otherwise(lit("U")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .filter(col("op") =!= "D")
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts_us").as("last_ts"), col("value").as("last_value"))
      .orderBy("user_id", "event_type")
  }

  /** SCD type-2 history build — the other half of the CDC story next to
    * changelogCompact: turn the event changelog into validity intervals
    * [valid_from, valid_to) per natural key, latest row flagged current.
    * One `lead` window over the same natural-key shuffle the compaction
    * uses (thousands of tiny per-key partitions per task — never a
    * global sort); rows order by the raw nanosecond timestamp (exact,
    * matches DuckDB's ns ordering) while the emitted bounds are the
    * µs-truncated oracle-visible values.
    */
  private def scd2(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .withColumn("next_us", lead(col("ts_us"), 1).over(w))
      .select(col("user_id"), col("event_type"), col("event_id"), col("value"),
        col("ts_us").as("valid_from"),
        coalesce(col("next_us"), lit(Long.MaxValue)).as("valid_to"),
        col("next_us").isNull.as("is_current"))
      .orderBy("user_id", "event_type", "valid_from", "event_id")
  }

  /** Curation funnel report: per source, how many documents survive each
    * successive gate (length floor → repetition ceiling → language
    * allowlist) — the daily ops view of a filtering pipeline. One
    * codegen'd projection + one map-side-combinable hash aggregate;
    * the gates are conditional sums, so the whole funnel costs a single
    * pass regardless of gate count.
    */
  private def curationFunnel(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val nTok = size(toks)
    val dupFrac = (nTok - size(array_distinct(toks))).cast("double") / nTok
    val g1 = nTok >= 20
    val g2 = g1 && dupFrac <= 0.75
    val g3 = g2 && col("lang").isin("en", "de", "fr")
    Tables.documents(s, dir)
      .select(col("source"), g1.as("g1"), g2.as("g2"), g3.as("g3"))
      .groupBy("source")
      .agg(cnt.as("n_docs"),
        sum(when(col("g1"), 1L).otherwise(0L)).as("pass_len"),
        sum(when(col("g2"), 1L).otherwise(0L)).as("pass_rep"),
        sum(when(col("g3"), 1L).otherwise(0L)).as("pass_lang"))
      .orderBy("source")
  }

  /** Incremental aggregate maintenance: the partial-state form of a
    * materialized view. The event log splits into a BASE half and a
    * DELTA half (by event_id parity here; in production by ingest
    * batch); each half reduces to mergeable per-key state (count +
    * decimal sum + max), and the refresh is a merge of states — never a
    * re-scan of base. The spec-level claim, asserted by the oracle: the
    * merged state is IDENTICAL to aggregating the full log directly,
    * which is exactly the property that lets a 100 TB view refresh at
    * delta cost. (Count/sum/max are the mergeable trio; the sketch
    * aggregates q_agg_approx_distinct / q_text_quantiles extend the
    * same property to distincts and quantiles.)
    */
  private def incrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    def part(pred: org.apache.spark.sql.Column) =
      ev.filter(pred).groupBy("event_type")
        .agg(cnt.as("n"),
          sum(col("value").cast(DecimalType(18, 4))).as("sv"),
          max(col("ts_us")).as("mx"))
    val base = part(col("event_id") % 2 === 0)
    val delta = part(col("event_id") % 2 === 1)
    base.unionByName(delta)
      .groupBy("event_type") // merge step: states, not rows
      .agg(sum(col("n")).as("n_events"),
        sum(col("sv")).cast(DoubleType).as("sum_value"),
        max(col("mx")).as("max_ts"))
      .orderBy("event_type")
  }

  // --------------------------------------- quality classifier (GD loop)

  /** Oracled gradient-descent depth of the quality classifier: the
    * driver loop runs this many full-batch rounds, replayed 1:1 by the
    * DuckDB oracle's composed CTE chain; deeper tiers (CurationSpec
    * checks depth 10) run the same loop against a local sequential
    * recompute. One constant so the Spark loop and the oracle chain can
    * never skew.
    */
  private[graft] val ClassifierRounds = 3

  /** The "curated" label sources — the classifier's positive class (the
    * GPT-3 setup: a linear model trained to tell curated seed data from
    * the raw crawl, whose score then gates the crawl).
    */
  private[graft] val CuratedSources = Seq("src0", "src1")

  /** Hashed bag-of-words features + intercept for the classifier:
    * q_hash_embed's 64-bucket signed-count hashing trick (same 'fh:'
    * hash, so the featurizer IS the one the embedding tier ships) plus
    * a constant bucket −1 as the bias term. Integer-valued, so every
    * weight·feature product is an exact 8-dp decimal.
    */
  private def classifierFeatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .withColumn("h", conv(substring(md5(concat(lit("fh:"), col("word"))),
        1, 12), 16, 10).cast("long"))
      .select(col("doc_id"), (col("h") % 64).as("bucket"),
        when(expr("(h div 64) % 2") === 0, 1L).otherwise(-1L).as("sg"))
      .groupBy("doc_id", "bucket").agg(sum(col("sg")).as("sv"))
      .unionByName(docs.select(col("doc_id"), lit(-1L).as("bucket"),
        lit(1L).as("sv")))

  /** Margin → probability squashing, shared by every round and the
    * final scoring pass. Softsign-logistic p = 0.5 + 0.5·m/(1+|m|)
    * instead of 1/(1+e^−m): same monotone S-shape, same 0.5 decision
    * boundary at m = 0, but PURE IEEE arithmetic (add/abs/divide) — a
    * transcendental exp() is only library-accurate, so two engines can
    * disagree by an ulp and flip an 8-dp rounding; softsign cannot.
    * The margin itself arrives as an exact decimal sum cast to double,
    * identical in both engines by construction.
    */
  private def squash(m: org.apache.spark.sql.Column) =
    round(lit(0.5) + lit(0.5) * m / (lit(1.0) + abs(m)), 8)

  /** Distributed full-batch GD: one weight-update round. Weights are a
    * 65-row (bucket, w) frame broadcast onto the checkpointed feature
    * table; the per-doc margin is an exact decimal sum (w is 8-dp
    * rounded, sv integer ⇒ every product is exactly representable at
    * scale 8), the gradient Σ(p−y)·sv map-side-combines down to 65 rows
    * before its only shuffle, and the update divides by n once at the
    * end — the LMS/perceptron pseudo-gradient for a monotone link.
    */
  private def classifierRound(feats: DataFrame, labels: DataFrame,
      n: DataFrame, w: DataFrame): DataFrame = {
    val margins = feats.join(broadcast(w), "bucket")
      .groupBy("doc_id")
      .agg(sum((col("w") * col("sv")).cast(DecimalType(18, 8))).as("m"))
      .select(col("doc_id"), squash(col("m").cast(DoubleType)).as("p"))
    val grad = feats
      .join(margins.join(labels.select("doc_id", "y"), "doc_id"), "doc_id")
      .groupBy("bucket")
      .agg(sum(((col("p") - col("y")) * col("sv"))
        .cast(DecimalType(18, 8))).as("g"))
    w.join(grad, Seq("bucket"), "left").crossJoin(broadcast(n))
      .select(col("bucket"),
        round(col("w") - lit(0.5) * coalesce(col("g").cast(DoubleType), lit(0.0))
          / col("n").cast(DoubleType), 8).as("w"))
  }

  /** The trained weight table after `rounds` full-batch GD rounds — the
    * [[Rounds]] driver loop over the 65-row weight state, so plan depth
    * stays constant at any training depth. The feature table is
    * checkpointed ONCE and every round re-reads the materialized blocks
    * — the corpus is scanned exactly once no matter how many rounds run
    * (at 100 TB the featurize pass dominates; each round after it costs
    * two map-side-combined aggregates over the bounded feature table).
    */
  private[graft] def classifierWeights(s: SparkSession, dir: String,
      rounds: Int, trainOnly: Boolean = false,
      docsOverride: Option[DataFrame] = None): DataFrame = {
    val (w, feats, labels) =
      classifierFit(s, dir, rounds, trainOnly, docsOverride)
    Rounds.release(feats)
    Rounds.release(labels)
    w
  }

  /** The GD fit, returning the trained weights PLUS the checkpointed
    * feature/label tables so a scoring consumer can reuse them instead
    * of re-featurizing the corpus (one saved corpus pass — the caller
    * owns the release).
    */
  private def classifierFit(s: SparkSession, dir: String, rounds: Int,
      trainOnly: Boolean,
      docsOverride: Option[DataFrame] = None): (DataFrame, DataFrame, DataFrame) = {
    val all = docsOverride.getOrElse(Tables.documents(s, dir))
    // q_train_split's content-hash rule: first md5 nibble d-f is the
    // held-out val set (~19%); training never sees those rows
    val docs = if (trainOnly) all.filter(!valPred) else all
    val feats = classifierFeatures(docs).localCheckpoint(true)
    val labels = docs.select(col("doc_id"),
      when(col("source").isin(CuratedSources: _*), 1L).otherwise(0L).as("y"))
      .localCheckpoint(true)
    val n = labels.agg(cnt.as("n"))
    val w0 = s.range(-1, 64)
      .select(col("id").as("bucket"), lit(0.0).as("w"))
      .localCheckpoint(true)
    (Rounds.fixed(w0, rounds)((w, _) => classifierRound(feats, labels, n, w)),
      feats, labels)
  }

  /** The held-out split predicate shared by training and evaluation —
    * q_train_split's deterministic content-hash rule, so the split
    * survives re-runs, re-shards, and engine changes.
    */
  private def valPred: org.apache.spark.sql.Column =
    substring(md5(col("text")), 1, 1).isin("d", "e", "f")

  /** Classifier evaluation harness — the q_ann_recall/q_dedup_recall
    * idea applied to the quality model: train on the content-hash TRAIN
    * split only, score the held-out val split, and report the exact
    * rank-based AUC (Mann-Whitney: average tie ranks, so the statistic
    * is the textbook one and every quantity stays exact integer/half-
    * integer arithmetic until one final division — no threshold, no
    * transcendental, fully oracled) plus the mean score of each class,
    * the separation the number summarizes. The AUC window runs over the
    * VAL split only — bounded the way every eval harness is (at 100 TB
    * an audit scores a held-out sample, not the corpus). Guarded NULL
    * if the val split degenerates to one class.
    */
  private def classifierEval(s: SparkSession, dir: String): DataFrame =
    classifierEvalOn(s, dir, Tables.documents(s, dir))

  /** The i.i.d. fixture's word soup carries no source-correlated
    * vocabulary, so q_classifier_eval's honest AUC sits near 0.5 —
    * which means the GD/AUC machinery is never seen SEPARATING
    * anything. This variant plants the signal deterministically: the
    * curated sources' documents carry the [[ShiftMarker]] suffix —
    * eight distinct marker tokens, each repeated four times — appended
    * to their text (a vocabulary shift — exactly what a real curated
    * domain looks like to a hashed bag-of-words model), and the SAME
    * train/eval harness then demonstrates AUC ≫ 0.5 end-to-end, fully
    * oracled (the DuckDB twin derives the same shifted corpus). The
    * two regimes together certify the harness: ≈0.5 on noise,
    * high on signal.
    */
  private def classifierEvalShifted(s: SparkSession, dir: String): DataFrame =
    classifierEvalOn(s, dir, Tables.documents(s, dir)
      .withColumn("text",
        when(col("source").isin(CuratedSources: _*),
          concat(col("text"), lit(ShiftMarker))).otherwise(col("text"))))

  /** The marker vocabulary the shifted-fixture eval appends to
    * curated-source documents — shared with the oracle twin. Eight
    * DISTINCT tokens (so the signal lands in several hash buckets — a
    * single token's one bucket drowns in the 64-bucket projection noise
    * of ~100-word documents: measured AUC 0.45), four repetitions each
    * (±4 signed mass per marker bucket; ×2 measured 0.53 at the
    * standing 3 GD rounds, ×4 measures 0.95 — the shift is strong
    * enough that the UNCHANGED harness separates it).
    */
  private[graft] val ShiftMarker: String = {
    val toks = (0 until 8).map(i => s"qz$i").mkString(" ")
    (1 to 4).map(_ => s" $toks").mkString
  }

  private def classifierEvalOn(s: SparkSession, dir: String,
      docs: DataFrame): DataFrame = {
    val w = classifierWeights(s, dir, ClassifierRounds, trainOnly = true,
      docsOverride = Some(docs))
    val valDocs = docs.filter(valPred)
    val scores = classifierFeatures(valDocs).join(broadcast(w), "bucket")
      .groupBy("doc_id")
      .agg(sum((col("w") * col("sv")).cast(DecimalType(18, 8))).as("m"))
      .select(col("doc_id"), squash(col("m").cast(DoubleType)).as("p"))
      .join(valDocs.select(col("doc_id"),
        when(col("source").isin(CuratedSources: _*), 1L).otherwise(0L).as("y")),
        "doc_id")
    // average rank of each tied score group: min-rank + (ties-1)/2
    val byP = Window.orderBy("p")
    val ar = rank().over(byP).cast(DoubleType) +
      (cnt.over(Window.partitionBy("p")).cast(DoubleType) - 1.0) / 2.0
    val nTrain = broadcast(docs.filter(!valPred).agg(cnt.as("n_train")))
    scores.withColumn("ar", ar)
      .agg(cnt.as("n_val"), sum(col("y")).as("n_pos"),
        sum(when(col("y") === 1, col("ar"))).as("sp"),
        sum(when(col("y") === 1, col("p").cast(DecimalType(18, 8)))).as("spp"),
        sum(when(col("y") === 0, col("p").cast(DecimalType(18, 8)))).as("spn"))
      .crossJoin(nTrain)
      .select(col("n_train"), col("n_val"), col("n_pos"),
        when(col("n_pos") > 0 && col("n_pos") < col("n_val"),
          round((col("sp") - col("n_pos").cast(DoubleType) *
            (col("n_pos").cast(DoubleType) + 1.0) / 2.0) /
            (col("n_pos").cast(DoubleType) *
              (col("n_val") - col("n_pos")).cast(DoubleType)), 4))
          .as("auc"),
        round(col("spp").cast(DoubleType) / col("n_pos").cast(DoubleType), 4)
          .as("mean_p_pos"),
        round(col("spn").cast(DoubleType) /
          (col("n_val") - col("n_pos")).cast(DoubleType), 4).as("mean_p_neg"))
  }

  /** fastText/GPT-3-style quality classifier, trained AND applied in one
    * query (public method: Brown et al. 2020 App. A — a linear
    * classifier over hashed text features separates curated seed
    * sources from the rest of the crawl, and its score decides what the
    * training mix keeps). [[ClassifierRounds]] full-batch GD rounds via
    * the checkpointed driver loop, then one scoring pass with the final
    * broadcast weights and a per-source report: docs, kept count/rate,
    * mean score — the table that shows which crawl sources the
    * classifier would admit. The keep rule is the production one: not
    * an absolute probability cut (a barely-informative classifier
    * scores everything near the base rate and a fixed 0.5 keeps
    * nothing) but a SCORE-QUANTILE budget — each language's top
    * quarter by classifier score survives, `ntile(4)` over
    * (p desc, doc_id): a rank cut on a per-language partitioned window
    * (the q_perplexity_buckets shape — CCNet's own bucketing), so no
    * boundary can flip on an ulp and the window scales by language.
    * Fully oracled: margins are exact decimal sums, the softsign link
    * is pure IEEE arithmetic (see [[squash]]), so every round replays
    * bit-identically in DuckDB.
    */
  private def qualityClassifier(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // scoring reuses the fit's checkpointed feature table — the corpus
    // is featurized exactly once across training AND application
    val (w, feats, labels) = classifierFit(s, dir, ClassifierRounds,
      trainOnly = false)
    Rounds.release(labels)
    val scores = feats.join(broadcast(w), "bucket")
      .groupBy("doc_id")
      .agg(sum((col("w") * col("sv")).cast(DecimalType(18, 8))).as("m"))
      .select(col("doc_id"), squash(col("m").cast(DoubleType)).as("p"))
    val keepW = Window.partitionBy("lang")
      .orderBy(col("p").desc, col("doc_id"))
    scores
      .join(docs.select(col("doc_id"), col("lang"), col("source"),
        when(col("source").isin(CuratedSources: _*), 1L).otherwise(0L).as("y")),
        "doc_id")
      .withColumn("keep", when(ntile(4).over(keepW) === 1, 1L).otherwise(0L))
      .groupBy("source")
      .agg(max(col("y")).as("curated"), cnt.as("n_docs"),
        sum(col("keep")).as("n_keep"),
        sum(col("p").cast(DecimalType(18, 8))).as("sp"))
      .select(col("source"), col("curated"), col("n_docs"), col("n_keep"),
        round(col("n_keep").cast(DoubleType) / col("n_docs").cast(DoubleType), 4)
          .as("keep_rate"),
        round(col("sp").cast(DoubleType) / col("n_docs").cast(DoubleType), 4)
          .as("mean_p"))
      .orderBy("source")
  }

  // ---------------------------------------- domain mixture optimization

  /** Multiplicative-weights rounds of the domain reweighter — one
    * constant shared by the Spark loop and the oracle CTE chain.
    */
  private[graft] val DomainRounds = 5

  /** DoReMi-style domain reweighting (Xie et al. 2023 — public): learn
    * the training-mixture weights from a quality signal instead of
    * fixing them by hand (q_temperature_sample's rule) — domains with
    * above-average loss get UPWEIGHTED so the mix spends budget where
    * the model is worst. Signal: per-source unigram-LM loss (−mean
    * log-likelihood, the q_lm_score body — DoReMi's proxy-model excess
    * loss swaps in unchanged at 100 TB). Optimizer: mirror-descent
    * multiplicative weights with the RATIONAL update
    * w ← w·(1 + η·(loss − ⟨w, loss⟩)) / Z — the exp-free variant of
    * exponentiated gradient (same ascent direction, first-order
    * identical for small η), chosen because it is pure IEEE arithmetic:
    * every round replays bit-identically in DuckDB where exp() could
    * drift an ulp. Scale shape: ONE corpus pass builds the per-source
    * loss table; every round after that is arithmetic on the
    * |sources|-row table ([[Rounds]], so round r+1 does not
    * re-derive the corpus scan through round r's lineage) with two
    * broadcast 1-row reductions. Weights sum to 1 by construction.
    */
  private def domainReweight(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
    val freqRaw = words.groupBy("word").agg(cnt.as("wc"))
    val freq = freqRaw
      .crossJoin(broadcast(freqRaw.agg(sum(col("wc")).as("t"))))
      .select(col("word"),
        round(log(col("wc").cast(DoubleType) / col("t").cast(DoubleType)), 8)
          .as("ll"))
    val srcLoss = words.join(broadcast(freq), "word")
      .groupBy("source")
      .agg(cnt.as("n_tokens"),
        (sum(col("ll").cast(DecimalType(18, 8))).cast(DoubleType) /
          cnt.cast(DoubleType)).as("mll"))
      .select(col("source"), col("n_tokens"), round(-col("mll"), 4).as("loss"))
      .localCheckpoint(true)
    // weight rounding is the EXPLICIT half-up floor(x·1e8 + 0.5)/1e8
    // (the q_interpolate rule): the weight dynamics systematically land
    // near the 8-dp grid (uniform 1/k start, 4-dp losses), and the
    // engines' round() tie paths diverge exactly there — floor over
    // identical doubles cannot
    def r8(c: org.apache.spark.sql.Column) =
      floor(c * lit(1.0e8) + lit(0.5)) / lit(1.0e8)
    val t0 = srcLoss
      .crossJoin(broadcast(srcLoss.agg(cnt.as("k"))))
      .select(col("source"), col("n_tokens"), col("loss"),
        r8(lit(1.0) / col("k").cast(DoubleType)).as("w"))
      .localCheckpoint(true)
    Rounds.release(srcLoss)
    val t = Rounds.fixed(t0, DomainRounds) { (t, _) =>
      // ⟨w, loss⟩ multiplies in DECIMAL: w (8-dp grid) × loss (4-dp
      // grid) is exactly a 12-dp value, so decimal×decimal is EXACT —
      // a double product cast to scale 8 would round, and grid×grid
      // products sit on the cast's tie systematically (the engines'
      // double→decimal tie paths diverge; found by the sf0.01 gate)
      val wl = t.agg(sum(col("w").cast(DecimalType(10, 8)) *
          col("loss").cast(DecimalType(8, 4)))
        .cast(DoubleType).as("wl"))
      val f = t.crossJoin(broadcast(wl))
        .select(col("source"), col("n_tokens"), col("loss"),
          (col("w") * (lit(1.0) + lit(0.5) * (col("loss") - col("wl")))).as("wf"))
      val z = f.agg(sum(col("wf").cast(DecimalType(18, 8)))
        .cast(DoubleType).as("z"))
      f.crossJoin(broadcast(z))
        .select(col("source"), col("n_tokens"), col("loss"),
          r8(col("wf") / col("z")).as("w"))
    }
    t.select(col("source"), col("n_tokens"), col("loss"), col("w").as("weight"))
      .orderBy("source")
  }

  // -------------------------------------------- eval-set decontamination

  /** Benchmark decontamination (Brown et al. 2020 App. C — public): a
    * training document is CONTAMINATED if it shares any 8-token n-gram
    * with the held-out evaluation set, and the per-source contamination
    * table is what decides whether a source ships. The eval split is a
    * deterministic md5 draw (~5% here; in production the actual
    * benchmark suite), gram identity is an 8-byte hashed fingerprint —
    * only 8-byte longs ever reach the shuffle, never gram text. Scale
    * shape: eval-side grams are bounded by the EVAL corpus (tiny at
    * 100 TB — benchmarks are megabytes against terabytes, so AQE
    * broadcasts the distinct-gram set), the train side streams through
    * one explode + left-semi probe, and the per-source rollup is
    * map-side combinable. Docs under 8 tokens carry no gram and cannot
    * be flagged — the documented n-gram-decontamination blind spot.
    */
  private def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("is_eval", mdUniform("ev:", col("doc_id")) % 20 === 0)
    def grams(side: DataFrame) = side
      .withColumn("w", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(
        "CASE WHEN size(w) >= 8 THEN transform(sequence(1, size(w) - 7), " +
          "i -> array_join(slice(w, i, 8), ' ')) " +
          "ELSE CAST(array() AS ARRAY<STRING>) END")).as("g8"))
      .select(col("doc_id"), conv(substring(md5(concat(lit("dg:"), col("g8"))),
        1, 12), 16, 10).cast("long").as("gh"))
    val evalGrams = grams(docs.filter(col("is_eval"))).select("gh").distinct()
    val contaminated = grams(docs.filter(!col("is_eval")))
      .join(evalGrams, Seq("gh"), "left_semi")
      .select("doc_id").distinct()
    docs.join(contaminated.withColumn("hit", lit(1L)), Seq("doc_id"), "left")
      .groupBy("source")
      .agg(sum(when(!col("is_eval"), 1L).otherwise(0L)).as("n_train"),
        sum(when(col("is_eval"), 1L).otherwise(0L)).as("n_eval"),
        sum(when(!col("is_eval") && col("hit").isNotNull, 1L).otherwise(0L))
          .as("n_contam"))
      .select(col("source"), col("n_train"), col("n_eval"), col("n_contam"),
        when(col("n_train") > 0,
          round(col("n_contam").cast(DoubleType) / col("n_train").cast(DoubleType), 4))
          .otherwise(lit(0.0)).as("contam_rate"))
      .orderBy("source")
  }

  // ------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pack_sequences" -> (packSequences _),
    "q_token_budget" -> (tokenBudget _),
    "q_shard_write" -> (shardWrite _),
    "q_file_manifest" -> (fileManifest _),
    "q_mixture_sample" -> (mixtureSample _),
    "q_group_sample" -> (groupSample _),
    "q_temperature_sample" -> (temperatureSample _),
    "q_grouped_topk" -> (groupedTopk _),
    "q_curation_pipeline" -> (curationPipeline _),
    "q_dedup_pack_pipeline" -> (dedupPackPipeline _),
    "q_register_pipeline" -> (registerPipeline _),
    "q_epoch_order" -> (epochOrder _),
    "q_pii_redact" -> (piiRedact _),
    "q_k_anonymity" -> (kAnonymity _),
    "q_passage_dedup" -> (passageDedup _),
    "q_span_dedup" -> (spanDedup _),
    "q_weighted_sample" -> (weightedSample _),
    "q_corpus_report" -> (corpusReport _),
    "q_expectations" -> (expectations _),
    "q_pagerank" -> (pagerank _),
    "q_pagerank_converged" -> (pagerankConverged _),
    "q_drift_kl" -> (driftKl _),
    "q_drift_ks" -> (driftKs _),
    "q_drift_psi" -> (driftPsi _),
    "q_passage_rewrite" -> (passageRewrite _),
    "q_zscore_outliers" -> (zscoreOutliers _),
    "q_winsorize" -> (winsorize _),
    "q_bootstrap" -> (bootstrap _),
    "q_value_histogram" -> (valueHistogram _),
    "q_changelog_compact" -> (changelogCompact _),
    "q_changelog_delete" -> (changelogDelete _),
    "q_scd2" -> (scd2 _),
    "q_curation_funnel" -> (curationFunnel _),
    "q_incremental_agg" -> (incrementalAgg _),
    "q_sketch_merge" -> (sketchMerge _),
    "q_quality_classifier" -> (qualityClassifier _),
    "q_classifier_eval" -> (classifierEval _),
    "q_classifier_eval_shifted" -> (classifierEvalShifted _),
    "q_decontaminate" -> (decontaminate _),
    "q_domain_reweight" -> (domainReweight _)
  )

  /** DuckDB val-split predicate — q_train_split's content-hash rule. */
  private val valPredSql = "substr(md5(text), 1, 1) IN ('d', 'e', 'f')"

  /** The hashing-trick feature chain as DuckDB CTEs (tk/hh/fx/fb with a
    * name suffix so train and val chains can coexist in one WITH),
    * restricted to documents matching `pred`.
    */
  private def classifierFeatureCtes(sfx: String, pred: String,
      tbl: String): String =
    s"tk$sfx AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM $tbl WHERE $pred), " +
      s"hh$sfx AS (SELECT doc_id, CAST(${Text.hexSql("md5('fh:' || word)", 1, 12)} AS BIGINT) AS h FROM tk$sfx), " +
      s"fx$sfx AS (SELECT doc_id, h % 64 AS bucket, CAST(sum(CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS sv FROM hh$sfx GROUP BY doc_id, bucket), " +
      s"fb$sfx AS MATERIALIZED (SELECT doc_id, bucket, sv FROM fx$sfx " +
      s"UNION ALL SELECT doc_id, CAST(-1 AS BIGINT), CAST(1 AS BIGINT) FROM $tbl WHERE $pred)"

  /** The classifier GD chain as DuckDB CTEs over documents matching
    * `pred`: features fb, labels lab, corpus size nn, zero weights w0,
    * then per round k the margin table mm{k} → squashed m{k} → gradient
    * g{k} → weights w{k} (MATERIALIZED — inlining would recompute the
    * whole prefix chain once per downstream reference). Mirrors
    * [[classifierRound]] 1:1.
    */
  private def classifierCtes(pred: String = "TRUE",
      tbl: String = "documents"): String = {
    val base =
      classifierFeatureCtes("", pred, tbl) + ", " +
        s"lab AS (SELECT doc_id, source, CASE WHEN source IN ('src0', 'src1') THEN 1 ELSE 0 END AS y FROM $tbl WHERE $pred), " +
        s"nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM $tbl WHERE $pred), " +
        "w0 AS (SELECT CAST(j AS BIGINT) AS bucket, CAST(0 AS DOUBLE) AS w FROM range(-1, 64) t(j))"
    val rounds = (1 to ClassifierRounds).map { k =>
      s"mm$k AS (SELECT f.doc_id AS doc_id, CAST(sum(CAST(w.w * f.sv AS DECIMAL(18,8))) AS DOUBLE) AS m " +
        s"FROM fb f JOIN w${k - 1} w USING (bucket) GROUP BY f.doc_id), " +
        s"m$k AS (SELECT doc_id, round(0.5 + 0.5 * m / (1.0 + abs(m)), 8) AS p FROM mm$k), " +
        s"g$k AS (SELECT f.bucket AS bucket, CAST(sum(CAST((m.p - l.y) * f.sv AS DECIMAL(18,8))) AS DOUBLE) AS g " +
        s"FROM fb f JOIN m$k m USING (doc_id) JOIN lab l USING (doc_id) GROUP BY f.bucket), " +
        s"w$k AS MATERIALIZED (SELECT w.bucket AS bucket, round(w.w - 0.5 * coalesce(g.g, 0.0) / nn.n, 8) AS w " +
        s"FROM w${k - 1} w LEFT JOIN g$k g USING (bucket) CROSS JOIN nn)"
    }.mkString(", ")
    s"$base, $rounds"
  }

  /** The full train-on-split → score-val → Mann-Whitney-AUC oracle
    * chain over `tbl` (WITHOUT the leading WITH, so a caller can
    * prepend a derived-corpus CTE). Shared verbatim by
    * q_classifier_eval (tbl = documents) and q_classifier_eval_shifted
    * (tbl = the marker-shifted corpus).
    */
  private def classifierEvalOracleBody(tbl: String): String =
    s"${classifierCtes(s"NOT ($valPredSql)", tbl)}, " +
      s"${classifierFeatureCtes("v", valPredSql, tbl)}, " +
      s"labv AS (SELECT doc_id, CASE WHEN source IN ('src0', 'src1') THEN 1 ELSE 0 END AS y FROM $tbl WHERE $valPredSql), " +
      s"scv AS (SELECT doc_id, round(0.5 + 0.5 * m / (1.0 + abs(m)), 8) AS p " +
      s"FROM (SELECT f.doc_id AS doc_id, CAST(sum(CAST(w.w * f.sv AS DECIMAL(18,8))) AS DOUBLE) AS m " +
      s"FROM fbv f JOIN w$ClassifierRounds w USING (bucket) GROUP BY f.doc_id)), " +
      "rk AS (SELECT l.y AS y, s.p AS p, " +
      "CAST(rank() OVER (ORDER BY s.p) AS DOUBLE) + (CAST(count(*) OVER (PARTITION BY s.p) AS DOUBLE) - 1.0) / 2.0 AS ar " +
      "FROM scv s JOIN labv l USING (doc_id)), " +
      "ag AS (SELECT CAST(count(*) AS BIGINT) AS n_val, CAST(sum(y) AS BIGINT) AS n_pos, " +
      "sum(CASE WHEN y = 1 THEN ar END) AS sp, " +
      "sum(CASE WHEN y = 1 THEN CAST(p AS DECIMAL(18,8)) END) AS spp, " +
      "sum(CASE WHEN y = 0 THEN CAST(p AS DECIMAL(18,8)) END) AS spn FROM rk) " +
      "SELECT nn.n AS n_train, ag.n_val AS n_val, ag.n_pos AS n_pos, " +
      "CASE WHEN ag.n_pos > 0 AND ag.n_pos < ag.n_val THEN " +
      "round((ag.sp - CAST(ag.n_pos AS DOUBLE) * (CAST(ag.n_pos AS DOUBLE) + 1.0) / 2.0) / " +
      "(CAST(ag.n_pos AS DOUBLE) * CAST(ag.n_val - ag.n_pos AS DOUBLE)), 4) END AS auc, " +
      "round(CAST(ag.spp AS DOUBLE) / CAST(ag.n_pos AS DOUBLE), 4) AS mean_p_pos, " +
      "round(CAST(ag.spn AS DOUBLE) / CAST(ag.n_val - ag.n_pos AS DOUBLE), 4) AS mean_p_neg " +
      "FROM ag CROSS JOIN nn"

  private def classifierEvalOracle(): String =
    s"WITH ${classifierEvalOracleBody("documents")}"

  val oracleSql: Map[String, String] = Map(
    // invariant oracle: exact distinct from DuckDB + the booleans the
    // sketch contract guarantees (register-max merge identity; 10%
    // tolerance at ~2.4% rsd) — see sketchMerge's Scaladoc
    "q_sketch_merge" ->
      ("SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact, " +
        "TRUE AS merge_consistent, TRUE AS within_tol " +
        "FROM events GROUP BY event_type ORDER BY event_type"),
    "q_domain_reweight" -> {
      val rounds = (1 to DomainRounds).map { i =>
        val prev = s"d${i - 1}"
        s"wl$i AS (SELECT CAST(sum(CAST(w AS DECIMAL(10,8)) * CAST(loss AS DECIMAL(8,4))) AS DOUBLE) AS wl FROM $prev), " +
          s"f$i AS (SELECT source, n_tokens, loss, w * (1.0 + 0.5 * (loss - wl)) AS wf FROM $prev CROSS JOIN wl$i), " +
          s"z$i AS (SELECT CAST(sum(CAST(wf AS DECIMAL(18,8))) AS DOUBLE) AS z FROM f$i), " +
          s"d$i AS MATERIALIZED (SELECT source, n_tokens, loss, floor(wf / z * 1e8 + 0.5) / 1e8 AS w FROM f$i CROSS JOIN z$i)"
      }.mkString(", ")
      "WITH words AS (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents), " +
        "tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM words), " +
        "freq AS (SELECT word, round(ln(CAST(count(*) AS DOUBLE) / CAST(t AS DOUBLE)), 8) AS ll " +
        "FROM words CROSS JOIN tt GROUP BY word, t), " +
        "sl AS MATERIALIZED (SELECT source, CAST(count(*) AS BIGINT) AS n_tokens, " +
        "round(-(CAST(sum(CAST(ll AS DECIMAL(18,8))) AS DOUBLE) / CAST(count(*) AS DOUBLE)), 4) AS loss " +
        "FROM words JOIN freq USING (word) GROUP BY source), " +
        "kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM sl), " +
        "d0 AS (SELECT source, n_tokens, loss, floor(1.0 / CAST(k AS DOUBLE) * 1e8 + 0.5) / 1e8 AS w FROM sl CROSS JOIN kk), " +
        s"$rounds " +
        s"SELECT source, n_tokens, loss, w AS weight FROM d$DomainRounds ORDER BY source"
    },
    "q_classifier_eval" -> classifierEvalOracle(),
    "q_classifier_eval_shifted" ->
      // the same eval chain over the deterministically-shifted corpus:
      // curated sources carry the ShiftMarker vocabulary
      ("WITH sdocs AS MATERIALIZED (SELECT doc_id, source, lang, " +
        s"CASE WHEN source IN ('src0', 'src1') THEN text || '$ShiftMarker' " +
        "ELSE text END AS text FROM documents), " +
        classifierEvalOracleBody("sdocs")),
    "q_quality_classifier" ->
      (s"WITH ${classifierCtes()}, " +
        s"sc AS (SELECT doc_id, round(0.5 + 0.5 * m / (1.0 + abs(m)), 8) AS p " +
        s"FROM (SELECT f.doc_id AS doc_id, CAST(sum(CAST(w.w * f.sv AS DECIMAL(18,8))) AS DOUBLE) AS m " +
        s"FROM fb f JOIN w$ClassifierRounds w USING (bucket) GROUP BY f.doc_id)) " +
        "SELECT source, CAST(max(y) AS BIGINT) AS curated, " +
        "CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(keep) AS BIGINT) AS n_keep, " +
        "round(CAST(sum(keep) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS keep_rate, " +
        "round(CAST(sum(CAST(p AS DECIMAL(18,8))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS mean_p " +
        "FROM (SELECT l.source AS source, l.y AS y, sc.p AS p, " +
        "CASE WHEN ntile(4) OVER (PARTITION BY d.lang ORDER BY sc.p DESC, sc.doc_id) = 1 THEN 1 ELSE 0 END AS keep " +
        "FROM sc JOIN lab l USING (doc_id) JOIN documents d USING (doc_id)) " +
        "GROUP BY source ORDER BY source"),
    "q_decontaminate" ->
      ("WITH d AS (SELECT doc_id, source, text, " +
        "CAST(list_reduce(list_transform(range(1, 7), c -> " +
        "CAST(strpos('0123456789abcdef', substr(md5('ev:' || CAST(doc_id AS VARCHAR)), CAST(c AS INT), 1)) - 1 AS BIGINT)), " +
        "(a, b) -> a * 16 + b) AS BIGINT) % 20 = 0 AS is_eval FROM documents), " +
        "gr AS (SELECT doc_id, is_eval, " +
        "unnest(CASE WHEN len(w) >= 8 THEN list_transform(range(1, len(w) - 6), " +
        "i -> array_to_string(w[CAST(i AS INT):CAST(i + 7 AS INT)], ' ')) " +
        "ELSE CAST([] AS VARCHAR[]) END) AS g8 " +
        "FROM (SELECT doc_id, is_eval, string_split(text, ' ') AS w FROM d)), " +
        s"gh AS (SELECT doc_id, is_eval, CAST(${Text.hexSql("md5('dg:' || g8)", 1, 12)} AS BIGINT) AS gh FROM gr), " +
        "ev AS (SELECT DISTINCT gh FROM gh WHERE is_eval), " +
        "ct AS (SELECT DISTINCT t.doc_id AS doc_id FROM gh t JOIN ev USING (gh) WHERE NOT t.is_eval) " +
        "SELECT d.source AS source, " +
        "CAST(sum(CASE WHEN NOT d.is_eval THEN 1 ELSE 0 END) AS BIGINT) AS n_train, " +
        "CAST(sum(CASE WHEN d.is_eval THEN 1 ELSE 0 END) AS BIGINT) AS n_eval, " +
        "CAST(sum(CASE WHEN NOT d.is_eval AND ct.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contam, " +
        "CASE WHEN sum(CASE WHEN NOT d.is_eval THEN 1 ELSE 0 END) > 0 THEN " +
        "round(CAST(sum(CASE WHEN NOT d.is_eval AND ct.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / " +
        "CAST(sum(CASE WHEN NOT d.is_eval THEN 1 ELSE 0 END) AS DOUBLE), 4) ELSE 0.0 END AS contam_rate " +
        "FROM d LEFT JOIN ct ON d.doc_id = ct.doc_id " +
        "GROUP BY d.source ORDER BY source"),
    "q_dedup_pack_pipeline" ->
      ("WITH t AS (SELECT doc_id, md5(text) AS h, " +
        "md5(array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ')) AS fp, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents), " +
        "d1 AS (SELECT doc_id, fp, n_tok FROM (SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn FROM t) WHERE rn = 1), " +
        "d2 AS (SELECT doc_id, n_tok FROM (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn2 FROM d1) WHERE rn2 = 1), " +
        "c AS (SELECT doc_id, n_tok, sum(n_tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d2) " +
        "SELECT CAST((cum - n_tok) // 2048 AS BIGINT) AS shard_id, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(n_tok) AS BIGINT) AS n_tokens, CAST(min(doc_id) AS BIGINT) AS first_doc, CAST(max(doc_id) AS BIGINT) AS last_doc " +
        "FROM c GROUP BY shard_id ORDER BY shard_id"),
    "q_token_budget" ->
      ("WITH t AS (SELECT doc_id, lang, n_chars, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents), " +
        "b AS (SELECT CAST(sum(n_tok) // 2 AS BIGINT) AS budget FROM t), " +
        "c AS (SELECT doc_id, lang, n_chars, n_tok, sum(n_tok) OVER (ORDER BY n_chars DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t) " +
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_kept, CAST(sum(n_tok) AS BIGINT) AS tok_kept, " +
        "CAST(min(n_chars) AS BIGINT) AS min_len " +
        "FROM c, b WHERE cum - n_tok < budget GROUP BY lang ORDER BY lang"),
    "q_passage_rewrite" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "n AS (SELECT doc_id, toks, CAST((len(toks) + 19) // 20 AS BIGINT) AS n_chunks FROM t), " +
        "c AS (SELECT doc_id, n_chunks, unnest(range(0, n_chunks)) AS pos, " +
        "unnest(list_transform(range(0, n_chunks), j -> " +
        "array_to_string(list_slice(toks, CAST(j * 20 + 1 AS INT), CAST(j * 20 + 20 AS INT)), ' '))) AS chunk FROM n), " +
        "d AS (SELECT doc_id, n_chunks, pos, chunk FROM (" +
        "SELECT *, row_number() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, pos) AS rn FROM c) WHERE rn = 1) " +
        "SELECT doc_id, CAST(min(n_chunks) AS BIGINT) AS n_chunks, CAST(count(*) AS BIGINT) AS n_kept, " +
        "string_agg(chunk, ' ' ORDER BY pos) AS text_re " +
        "FROM d GROUP BY doc_id ORDER BY doc_id"),
    "q_register_pipeline" ->
      ("SELECT user_id, event_type, n_events, max_value, last_value, last_ts, first_ts FROM (" +
        "SELECT user_id, event_type, value AS last_value, CAST(epoch_us(ts) AS BIGINT) AS last_ts, " +
        "row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn, " +
        "CAST(count(*) OVER (PARTITION BY user_id, event_type) AS BIGINT) AS n_events, " +
        "max(value) OVER (PARTITION BY user_id, event_type) AS max_value, " +
        "min(CAST(epoch_us(ts) AS BIGINT)) OVER (PARTITION BY user_id, event_type) AS first_ts " +
        "FROM events WHERE event_type <> 'error' AND json_extract_string(props, '$.k') IS NOT NULL) " +
        "WHERE rn = 1 ORDER BY user_id, event_type"),
    "q_shard_write" ->
      ("WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok, length(text) AS ch FROM documents), " +
        "c AS (SELECT doc_id, n_tok, ch, sum(n_tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(count(DISTINCT (cum - n_tok) // 2048) AS BIGINT) AS n_shards, " +
        "CAST(sum(ch) AS BIGINT) AS chars, " +
        "CAST(count(*) AS BIGINT) AS orig_docs, " +
        "CAST(sum(ch) AS BIGINT) AS orig_chars FROM c"),
    "q_file_manifest" ->
      ("WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents), " +
        "c AS (SELECT doc_id, n_tok, sum(n_tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t) " +
        "SELECT CAST((cum - n_tok) // 2048 AS BIGINT) AS shard_id, CAST(1 AS BIGINT) AS n_files, " +
        "CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS min_doc, max(doc_id) AS max_doc " +
        "FROM c GROUP BY shard_id ORDER BY shard_id"),
    "q_pack_sequences" ->
      ("WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents), " +
        "c AS (SELECT doc_id, n_tok, sum(n_tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t) " +
        "SELECT CAST((cum - n_tok) // 2048 AS BIGINT) AS shard_id, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(n_tok) AS BIGINT) AS n_tokens, CAST(min(doc_id) AS BIGINT) AS first_doc, CAST(max(doc_id) AS BIGINT) AS last_doc " +
        "FROM c GROUP BY shard_id ORDER BY shard_id"),
    "q_mixture_sample" ->
      ("WITH k AS (SELECT source, " +
        "CAST(list_reduce(list_transform(range(1, 7), c -> " +
        "CAST(strpos('0123456789abcdef', substr(md5('mix:' || CAST(doc_id AS VARCHAR)), CAST(c AS INT), 1)) - 1 AS BIGINT)), " +
        "(a, b) -> a * 16 + b) AS DOUBLE) / 16777216.0 < " +
        "CASE WHEN source IN ('src0', 'src1', 'src2') THEN 1.0 WHEN source IN ('src3', 'src4') THEN 0.5 ELSE 0.25 END AS keep " +
        "FROM documents) " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
        "round(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS frac " +
        "FROM k GROUP BY source ORDER BY source"),
    "q_group_sample" ->
      ("WITH b AS (SELECT lang, doc_id, " +
        "CAST(list_reduce(list_transform(range(1, 7), c -> " +
        "CAST(strpos('0123456789abcdef', substr(md5('grp:' || CAST(doc_id AS VARCHAR)), CAST(c AS INT), 1)) - 1 AS BIGINT)), " +
        "(a, b) -> a * 16 + b) AS BIGINT) AS u FROM documents), " +
        "c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_g FROM b GROUP BY lang), " +
        "s AS (SELECT b.lang, b.doc_id, b.u FROM b JOIN c USING (lang) WHERE b.u < least(16777216, 16777216 * 50 // n_g)), " +
        "r AS (SELECT lang, doc_id, u, row_number() OVER (PARTITION BY lang ORDER BY u, doc_id) AS rank FROM s) " +
        "SELECT lang, CAST(rank AS INT) AS rank, doc_id, u FROM r WHERE rank <= 3 ORDER BY lang, rank"),
    "q_curation_pipeline" ->
      ("WITH b AS (SELECT doc_id, source, lang, md5(text) AS h, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok, " +
        "CAST(len(string_split(text, ' ')) - len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')) AS dup_frac " +
        "FROM documents), " +
        "d AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn FROM b) WHERE rn = 1), " +
        "g AS (SELECT * FROM d WHERE n_tok >= 20 AND dup_frac <= 0.75 AND lang IN ('en', 'de', 'fr')), " +
        "c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM g GROUP BY source), " +
        "n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM g), " +
        "w0 AS (SELECT source, pow(CAST(n_s AS DOUBLE) / n, -0.3) AS wr FROM c CROSS JOIN n), " +
        "m AS (SELECT max(wr) AS mw FROM w0), " +
        "w AS (SELECT source, wr / mw AS w FROM w0 CROSS JOIN m), " +
        "k AS (SELECT g.source, g.lang, g.n_tok FROM g JOIN w USING (source) WHERE " +
        "CAST(CAST(list_reduce(list_transform(range(1, 7), c2 -> " +
        "CAST(strpos('0123456789abcdef', substr(md5('pipe:' || CAST(doc_id AS VARCHAR)), CAST(c2 AS INT), 1)) - 1 AS BIGINT)), " +
        "(a, b) -> a * 16 + b) AS BIGINT) AS DOUBLE) < w * 16777216.0) " +
        "SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens " +
        "FROM k GROUP BY source, lang ORDER BY source, lang"),
    "q_grouped_topk" ->
      ("SELECT event_type, CAST(rank AS INT) AS rank, event_id, value FROM (" +
        "SELECT event_type, event_id, value, row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rank FROM events) " +
        "WHERE rank <= 3 ORDER BY event_type, rank"),
    "q_k_anonymity" ->
      ("SELECT event_type, CAST(floor(value / 50) AS BIGINT) AS vband, " +
        "epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day, " +
        "CAST(count(*) AS BIGINT) AS n FROM events " +
        "GROUP BY 1, 2, 3 HAVING count(*) < 5 ORDER BY event_type, vband, day"),
    "q_temperature_sample" ->
      ("WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM documents GROUP BY source), " +
        "n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents), " +
        "w0 AS (SELECT source, n_s, pow(CAST(n_s AS DOUBLE) / n, -0.3) AS wr FROM c CROSS JOIN n), " +
        "m AS (SELECT max(wr) AS mw FROM w0), " +
        "w AS (SELECT source, wr / mw AS w FROM w0 CROSS JOIN m), " +
        "d AS (SELECT source, " +
        "CAST(list_reduce(list_transform(range(1, 7), c2 -> " +
        "CAST(strpos('0123456789abcdef', substr(md5('tmp:' || CAST(doc_id AS VARCHAR)), CAST(c2 AS INT), 1)) - 1 AS BIGINT)), " +
        "(a, b) -> a * 16 + b) AS BIGINT) AS u FROM documents) " +
        "SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(CASE WHEN CAST(u AS DOUBLE) < w * 16777216.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
        "round(any_value(w), 6) AS keep_prob " +
        "FROM d JOIN w USING (source) GROUP BY d.source ORDER BY d.source"),
    "q_epoch_order" ->
      ("WITH b AS (SELECT doc_id, epoch, " +
        "CAST(list_reduce(list_transform(range(1, 7), c -> " +
        "CAST(strpos('0123456789abcdef', substr(md5('ep' || CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), CAST(c AS INT), 1)) - 1 AS BIGINT)), " +
        "(a, b) -> a * 16 + b) AS BIGINT) AS u " +
        "FROM documents CROSS JOIN (VALUES (0), (1)) e(epoch)) " +
        "SELECT epoch, CAST(row_number() OVER (PARTITION BY epoch ORDER BY u, doc_id) AS BIGINT) AS rank, doc_id " +
        "FROM b ORDER BY epoch, rank"),
    "q_pii_redact" ->
      ("SELECT doc_id, CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_emails, " +
        "CAST(len(regexp_extract_all(text, '[0-9]{7,}')) AS INT) AS n_ids, " +
        "md5(regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '[0-9]{7,}', '<ID>', 'g')) AS redacted_md5 " +
        "FROM documents ORDER BY doc_id"),
    "q_passage_dedup" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 20), " +
        "p AS (SELECT doc_id, md5(array_to_string(w[(j * 20 + 1):(j * 20 + 20)], ' ')) AS ph " +
        "FROM toks CROSS JOIN range(0, 100000) t(j) WHERE (j + 1) * 20 <= len(w)), " +
        "o AS (SELECT doc_id, count(*) OVER (PARTITION BY ph) AS n_occ FROM p) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_passages, " +
        "CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_passages " +
        "FROM o GROUP BY doc_id ORDER BY doc_id"),
    "q_drift_ks" ->
      ("WITH c AS (SELECT CAST(floor(value * 200) AS BIGINT) AS b, " +
        "CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS ca, " +
        "CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS cb " +
        "FROM events WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb FROM c), " +
        "cum AS (SELECT b, CAST(sum(ca) OVER (ORDER BY b) AS BIGINT) AS cuma, " +
        "CAST(sum(cb) OVER (ORDER BY b) AS BIGINT) AS cumb FROM c), " +
        "ks AS (SELECT CAST(max(abs(cuma * nb - cumb * na)) AS BIGINT) AS ks_num, na, nb " +
        "FROM cum CROSS JOIN tot GROUP BY na, nb) " +
        "SELECT na AS n_a, nb AS n_b, CAST(ks_num AS DOUBLE) / CAST(na * nb AS DOUBLE) AS ks_stat, " +
        "1.3581 * sqrt(CAST(na + nb AS DOUBLE) / CAST(na * nb AS DOUBLE)) AS crit_05, " +
        "CAST(ks_num AS DOUBLE) / CAST(na * nb AS DOUBLE) > 1.3581 * sqrt(CAST(na + nb AS DOUBLE) / CAST(na * nb AS DOUBLE)) AS reject_h0 " +
        "FROM ks"),
    "q_drift_psi" ->
      ("WITH c AS (SELECT CAST(floor(value) AS BIGINT) AS b, " +
        "CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS ca, " +
        "CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS cb " +
        "FROM events WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb, CAST(count(*) AS BIGINT) AS nbins FROM c), " +
        "terms AS (SELECT na, nb, round(" +
        "((CAST(ca + 1 AS DOUBLE) / CAST(na + nbins AS DOUBLE)) - (CAST(cb + 1 AS DOUBLE) / CAST(nb + nbins AS DOUBLE))) * " +
        "ln((CAST(ca + 1 AS DOUBLE) / CAST(na + nbins AS DOUBLE)) / (CAST(cb + 1 AS DOUBLE) / CAST(nb + nbins AS DOUBLE))), 8) AS term " +
        "FROM c CROSS JOIN tot), " +
        "agg AS (SELECT na AS n_a, nb AS n_b, round(CAST(sum(CAST(term AS DECIMAL(18,8))) AS DOUBLE), 6) AS psi " +
        "FROM terms GROUP BY 1, 2) " +
        "SELECT n_a, n_b, psi, psi < 0.1 AS stable, psi >= 0.25 AS drifted FROM agg"),
    "q_drift_kl" ->
      ("WITH c AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1, 2), " +
        "bs AS (SELECT source, CAST(sum(n) AS BIGINT) AS ns FROM c GROUP BY 1), " +
        "bl AS (SELECT lang, CAST(sum(n) AS BIGINT) AS nl FROM c GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(nl) AS BIGINT) AS nn, CAST(count(*) AS BIGINT) AS nlangs FROM bl), " +
        "grid AS (SELECT bs.source, bl.lang, bs.ns, bl.nl, COALESCE(c.n, 0) AS n, tot.nn, tot.nlangs " +
        "FROM bs CROSS JOIN bl CROSS JOIN tot LEFT JOIN c ON c.source = bs.source AND c.lang = bl.lang), " +
        "terms AS (SELECT source, ns, round(" +
        "(CAST(n + 1 AS DOUBLE) / CAST(ns + nlangs AS DOUBLE)) * " +
        "ln((CAST(n + 1 AS DOUBLE) / CAST(ns + nlangs AS DOUBLE)) / " +
        "(CAST(nl + 1 AS DOUBLE) / CAST(nn + nlangs AS DOUBLE))), 8) AS term FROM grid) " +
        "SELECT source, CAST(max(ns) AS BIGINT) AS n_docs, " +
        "round(CAST(sum(CAST(term AS DECIMAL(18,8))) AS DOUBLE), 6) AS kl_nats " +
        "FROM terms GROUP BY source ORDER BY source"),
    "q_corpus_report" ->
      ("WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens, " +
        "CAST(count(DISTINCT lang) AS BIGINT) AS n_langs, " +
        "CAST(count(DISTINCT source) AS BIGINT) AS n_sources, " +
        "CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_uniq, " +
        "CAST(sum(CAST(n_chars AS DECIMAL(18,4))) AS DOUBLE) AS sum_chars, " +
        "quantile_cont(n_chars, 0.5) AS p50, " +
        "CAST(sum(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_short FROM documents) " +
        "SELECT metric, value FROM (" +
        "SELECT 'doc_count' AS metric, CAST(n_docs AS DOUBLE) AS value FROM a UNION ALL " +
        "SELECT 'dup_rate', round(1.0 - CAST(n_uniq AS DOUBLE) / n_docs, 4) FROM a UNION ALL " +
        "SELECT 'lang_count', CAST(n_langs AS DOUBLE) FROM a UNION ALL " +
        "SELECT 'mean_chars', round(sum_chars / n_docs, 4) FROM a UNION ALL " +
        "SELECT 'p50_chars', CAST(p50 AS DOUBLE) FROM a UNION ALL " +
        "SELECT 'short_rate', round(CAST(n_short AS DOUBLE) / n_docs, 4) FROM a UNION ALL " +
        "SELECT 'source_count', CAST(n_sources AS DOUBLE) FROM a UNION ALL " +
        "SELECT 'token_count', CAST(n_tokens AS DOUBLE) FROM a) ORDER BY metric"),
    "q_expectations" ->
      ("WITH b AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(count(l_shipdate) AS BIGINT) AS n_ship, " +
        "CAST(count(DISTINCT l_orderkey * 8 + l_linenumber) AS BIGINT) AS n_pk, " +
        "CAST(sum(CASE WHEN l_quantity >= 1 AND l_quantity <= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_qty, " +
        "CAST(sum(CASE WHEN l_discount >= 0 AND l_discount <= 0.08 THEN 1 ELSE 0 END) AS BIGINT) AS n_disc, " +
        "CAST(sum(CASE WHEN l_returnflag IN ('A', 'N', 'R') THEN 1 ELSE 0 END) AS BIGINT) AS n_rf, " +
        "CAST(sum(CASE WHEN l_extendedprice > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_price " +
        "FROM lineitem), " +
        "o AS (SELECT CAST(count(*) AS BIGINT) AS n_orphan FROM lineitem " +
        "WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) " +
        "SELECT \"constraint\", metric, threshold, direction, " +
        "CASE WHEN direction = 'min' THEN metric >= threshold " +
        "ELSE metric <= threshold END AS passed FROM (" +
        "SELECT 'completeness_shipdate' AS \"constraint\", CAST(n_ship AS DOUBLE) / n AS metric, 1.0 AS threshold, 'min' AS direction FROM b UNION ALL " +
        "SELECT 'compliance_discount', CAST(n_disc AS DOUBLE) / n, 1.0, 'min' FROM b UNION ALL " +
        "SELECT 'compliance_quantity', CAST(n_qty AS DOUBLE) / n, 1.0, 'min' FROM b UNION ALL " +
        "SELECT 'positivity_price', CAST(n_price AS DOUBLE) / n, 1.0, 'min' FROM b UNION ALL " +
        "SELECT 'referential_orderkey', CAST(n_orphan AS DOUBLE) / n, 0.0, 'max' FROM b, o UNION ALL " +
        "SELECT 'set_returnflag', CAST(n_rf AS DOUBLE) / n, 1.0, 'min' FROM b UNION ALL " +
        "SELECT 'uniqueness_pk', CAST(n_pk AS DOUBLE) / n, 1.0, 'min' FROM b" +
        ") ORDER BY \"constraint\""),
    "q_pagerank" -> {
      // 5 unrolled fixed-point iterations; every CTE MATERIALIZED (the
      // standing DAG-not-tree rule) and every quantization the same
      // engine-uniform floor(x*1e8 + 0.5)/1e8 the Spark side uses
      def iter(k: Int): String = {
        val prev = if (k == 1) "r0" else s"r${k - 1}"
        s"s$k AS MATERIALIZED (SELECT e.dst, " +
          "CAST(sum(CAST(floor((r.pr / e.outdeg) * 1e8 + 0.5) / 1e8 " +
          "AS DECIMAL(18,8))) AS DOUBLE) AS sc " +
          s"FROM edges e JOIN $prev r ON e.src = r.node GROUP BY e.dst), " +
          s"r$k AS MATERIALIZED (SELECT d.src AS node, " +
          "floor((0.15 / nn.n + 0.85 * COALESCE(s.sc, 0.0)) * 1e8 + 0.5) / 1e8 AS pr " +
          s"FROM deg d CROSS JOIN nn LEFT JOIN s$k s ON d.src = s.dst), " +
          // the L1 residual vs the previous round — grid-exact decimal
          s"d$k AS (SELECT CAST(sum(abs(CAST(a.pr AS DECIMAL(18,8)) - " +
          s"CAST(b.pr AS DECIMAL(18,8)))) AS DOUBLE) AS res$k " +
          s"FROM r$k a JOIN $prev b ON a.node = b.node), "
      }
      "WITH pairs AS MATERIALIZED (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem), " +
        "edges0 AS MATERIALIZED (SELECT 'p' || CAST(pk AS VARCHAR) AS src, 's' || CAST(sk AS VARCHAR) AS dst FROM pairs " +
        "UNION ALL SELECT 's' || CAST(sk AS VARCHAR), 'p' || CAST(pk AS VARCHAR) FROM pairs), " +
        "deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges0 GROUP BY src), " +
        "edges AS MATERIALIZED (SELECT e.src, e.dst, g.outdeg FROM edges0 e JOIN deg g ON e.src = g.src), " +
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg), " +
        "r0 AS MATERIALIZED (SELECT src AS node, floor((1.0 / nn.n) * 1e8 + 0.5) / 1e8 AS pr FROM deg CROSS JOIN nn), " +
        (1 to 5).map(iter).mkString +
        "fin AS (SELECT node, pr, row_number() OVER (ORDER BY pr DESC, node) AS rn FROM r5) " +
        "SELECT CAST(rn AS INT) AS rk, node, pr, res1, res2, res3, res4, res5 " +
        "FROM fin CROSS JOIN d1 CROSS JOIN d2 CROSS JOIN d3 CROSS JOIN d4 CROSS JOIN d5 " +
        "WHERE rn <= 20 ORDER BY rk"
    },
    "q_pagerank_converged" -> {
      // the same unrolled machinery, cap PrCap rounds; k* = the FIRST
      // round whose L1 step is under PrRelEps·res_1 — both engines
      // compute the identical decimal-exact residual ladder, so they
      // select the identical round
      def iter(k: Int): String = {
        val prev = if (k == 1) "r0" else s"r${k - 1}"
        s"s$k AS MATERIALIZED (SELECT e.dst, " +
          "CAST(sum(CAST(floor((r.pr / e.outdeg) * 1e8 + 0.5) / 1e8 " +
          "AS DECIMAL(18,8))) AS DOUBLE) AS sc " +
          s"FROM edges e JOIN $prev r ON e.src = r.node GROUP BY e.dst), " +
          s"r$k AS MATERIALIZED (SELECT d.src AS node, " +
          "floor((0.15 / nn.n + 0.85 * COALESCE(s.sc, 0.0)) * 1e8 + 0.5) / 1e8 AS pr " +
          s"FROM deg d CROSS JOIN nn LEFT JOIN s$k s ON d.src = s.dst), " +
          s"d$k AS (SELECT $k AS k, CAST(sum(abs(CAST(a.pr AS DECIMAL(18,8)) - " +
          "CAST(b.pr AS DECIMAL(18,8)))) AS DOUBLE) AS res " +
          s"FROM r$k a JOIN $prev b ON a.node = b.node), "
      }
      "WITH pairs AS MATERIALIZED (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem), " +
        "edges0 AS MATERIALIZED (SELECT 'p' || CAST(pk AS VARCHAR) AS src, 's' || CAST(sk AS VARCHAR) AS dst FROM pairs " +
        "UNION ALL SELECT 's' || CAST(sk AS VARCHAR), 'p' || CAST(pk AS VARCHAR) FROM pairs), " +
        "deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges0 GROUP BY src), " +
        "edges AS MATERIALIZED (SELECT e.src, e.dst, g.outdeg FROM edges0 e JOIN deg g ON e.src = g.src), " +
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg), " +
        "r0 AS MATERIALIZED (SELECT src AS node, floor((1.0 / nn.n) * 1e8 + 0.5) / 1e8 AS pr FROM deg CROSS JOIN nn), " +
        (1 to PrCap).map(iter).mkString +
        "dall AS MATERIALIZED (" +
        (1 to PrCap).map(k => s"SELECT k, res FROM d$k").mkString(" UNION ALL ") +
        "), " +
        "r1v AS (SELECT res AS res1 FROM dall WHERE k = 1), " +
        s"kstar AS (SELECT COALESCE(MIN(k), $PrCap) AS ks " +
        s"FROM dall CROSS JOIN r1v WHERE res < $PrRelEps * res1), " +
        "rall AS (" +
        (1 to PrCap).map(k => s"SELECT $k AS k, node, pr FROM r$k").mkString(" UNION ALL ") +
        "), " +
        "fin AS (SELECT node, pr, row_number() OVER (ORDER BY pr DESC, node) AS rn " +
        "FROM rall JOIN kstar ON rall.k = kstar.ks) " +
        "SELECT CAST(rn AS INT) AS rk, node, pr, " +
        "CAST(kstar.ks AS INT) AS iters, dall.res AS resid " +
        "FROM fin CROSS JOIN kstar JOIN dall ON dall.k = kstar.ks " +
        "WHERE rn <= 20 ORDER BY rk"
    },
    "q_weighted_sample" ->
      ("WITH k AS (SELECT doc_id, n_chars, " +
        "ln((CAST(list_reduce(list_transform(range(1, 7), c -> " +
        "CAST(strpos('0123456789abcdef', substr(md5('ws:' || CAST(doc_id AS VARCHAR)), CAST(c AS INT), 1)) - 1 AS BIGINT)), " +
        "(a, b) -> a * 16 + b) AS DOUBLE) + 1) / 16777216.0) / n_chars AS k " +
        "FROM documents WHERE n_chars > 0), " +
        "r AS (SELECT doc_id, n_chars, k, row_number() OVER (ORDER BY k DESC, doc_id) AS rnk FROM k) " +
        "SELECT CAST(rnk AS INT) AS rnk, doc_id, n_chars, round(k, 8) AS key " +
        "FROM r WHERE rnk <= 20 ORDER BY rnk"),
    "q_span_dedup" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 16), " +
        "win AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 14), i -> " +
        "struct_pack(pos := i, h := md5(array_to_string(list_slice(w, CAST(i AS INT), CAST(i + 15 AS INT)), ' '))))) AS g FROM t), " +
        "w2 AS (SELECT doc_id, CAST(g.pos AS BIGINT) AS pos, g.h AS h FROM win), " +
        "f AS (SELECT doc_id, pos, (min(doc_id) OVER (PARTITION BY h) <> max(doc_id) OVER (PARTITION BY h)) AS dup FROM w2), " +
        "d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows, " +
        "CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows FROM f GROUP BY doc_id), " +
        "sp AS (SELECT doc_id, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM f WHERE dup), " +
        "r AS (SELECT doc_id, max(c) AS mr FROM (SELECT doc_id, grp, count(*) AS c FROM sp GROUP BY doc_id, grp) GROUP BY doc_id) " +
        "SELECT d.doc_id, n_windows, n_dup_windows, CAST(coalesce(mr + 15, 0) AS BIGINT) AS max_dup_span " +
        "FROM d LEFT JOIN r ON d.doc_id = r.doc_id ORDER BY d.doc_id"),
    "q_zscore_outliers" ->
      ("WITH s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS sx, " +
        "CAST(sum(CAST(value * value AS DECIMAL(30,4))) AS DOUBLE) AS sxx " +
        "FROM events GROUP BY event_type), " +
        "st AS (SELECT event_type, n, sx / n AS mean, sqrt((sxx - sx * sx / n) / (n - 1)) AS std FROM s) " +
        "SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_events, " +
        "CAST(sum(CASE WHEN abs(e.value - st.mean) > st.std * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers, " +
        "round(any_value(st.mean), 4) AS mean, round(any_value(st.std), 4) AS std " +
        "FROM events e JOIN st ON e.event_type = st.event_type " +
        "GROUP BY e.event_type ORDER BY e.event_type"),
    "q_bootstrap" ->
      ("WITH u AS (SELECT event_id, value, b, " +
        "CAST(list_reduce(list_transform(range(1, 7), c -> " +
        "CAST(strpos('0123456789abcdef', substr(md5('bs:' || CAST(b AS VARCHAR) || ':' || CAST(event_id AS VARCHAR)), CAST(c AS INT), 1)) - 1 AS BIGINT)), " +
        "(a, x) -> a * 16 + x) AS DOUBLE) / 16777216.0 AS r " +
        "FROM events CROSS JOIN range(0, 32) t(b)), " +
        "w AS (SELECT b, value, " +
        "CASE WHEN r < 0.36787944117144233 THEN 0 WHEN r < 0.7357588823428847 THEN 1 " +
        "WHEN r < 0.919698602928606 THEN 2 ELSE 3 END AS wt FROM u) " +
        "SELECT CAST(b AS BIGINT) AS b, CAST(sum(wt) AS BIGINT) AS n_eff, " +
        "CAST(sum(CAST(value * wt AS DECIMAL(18,4))) AS DOUBLE) AS bsum " +
        "FROM w GROUP BY b ORDER BY b"),
    "q_winsorize" ->
      ("WITH r AS (SELECT event_type, event_id, value, " +
        "row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn, " +
        "count(*) OVER (PARTITION BY event_type) AS n FROM events), " +
        "t AS (SELECT *, " +
        "max(CASE WHEN rn = greatest(1, ceil(n * 0.05)) THEN value END) OVER (PARTITION BY event_type) AS lo, " +
        "max(CASE WHEN rn = ceil(n * 0.95) THEN value END) OVER (PARTITION BY event_type) AS hi FROM r) " +
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo, " +
        "CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi, " +
        "CAST(sum(CAST(least(greatest(value, lo), hi) AS DECIMAL(18,4))) AS DOUBLE) AS wsum " +
        "FROM t GROUP BY event_type ORDER BY event_type"),
    "q_value_histogram" ->
      ("SELECT event_type, least(CAST(floor(value / 25) AS BIGINT), 19) AS bucket, CAST(count(*) AS BIGINT) AS n " +
        "FROM events GROUP BY event_type, bucket ORDER BY event_type, bucket"),
    "q_changelog_compact" ->
      ("SELECT user_id, event_type, event_id, CAST(epoch_us(ts) AS BIGINT) AS last_ts, value AS last_value " +
        "FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn FROM events) " +
        "WHERE rn = 1 ORDER BY user_id, event_type"),
    "q_changelog_delete" ->
      ("SELECT user_id, event_type, event_id, CAST(epoch_us(ts) AS BIGINT) AS last_ts, value AS last_value " +
        "FROM (SELECT *, CASE WHEN value < 10.0 THEN 'D' ELSE 'U' END AS op, " +
        "row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn FROM events) " +
        "WHERE rn = 1 AND op <> 'D' ORDER BY user_id, event_type"),
    "q_curation_funnel" ->
      ("WITH t AS (SELECT source, lang, string_split(text, ' ') AS w FROM documents), " +
        "g AS (SELECT source, len(w) >= 20 AS g1, " +
        "len(w) >= 20 AND CAST(len(w) - len(list_distinct(w)) AS DOUBLE) / len(w) <= 0.75 AS g2, " +
        "len(w) >= 20 AND CAST(len(w) - len(list_distinct(w)) AS DOUBLE) / len(w) <= 0.75 AND lang IN ('en', 'de', 'fr') AS g3 FROM t) " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS pass_len, " +
        "CAST(sum(CASE WHEN g2 THEN 1 ELSE 0 END) AS BIGINT) AS pass_rep, " +
        "CAST(sum(CASE WHEN g3 THEN 1 ELSE 0 END) AS BIGINT) AS pass_lang " +
        "FROM g GROUP BY source ORDER BY source"),
    "q_incremental_agg" ->
      // the oracle aggregates the FULL log directly — passing proves the
      // base ⊎ delta state merge is exactly the view over all rows
      ("SELECT event_type, CAST(count(*) AS BIGINT) AS n_events, " +
        "CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value, " +
        "CAST(max(epoch_us(ts)) AS BIGINT) AS max_ts " +
        "FROM events GROUP BY event_type ORDER BY event_type"),
    "q_scd2" ->
      ("SELECT user_id, event_type, event_id, value, " +
        "CAST(epoch_us(ts) AS BIGINT) AS valid_from, " +
        "CAST(coalesce(lead(epoch_us(ts)) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id), 9223372036854775807) AS BIGINT) AS valid_to, " +
        "CASE WHEN lead(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) IS NULL THEN true ELSE false END AS is_current " +
        "FROM events ORDER BY user_id, event_type, valid_from, event_id")
  )
}

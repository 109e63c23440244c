package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Publish, Tables}
import Ox._

/** Similarity search + embedding operators over `embeddings`
  * (`Array[Float]`, dim 64) — SURVEY.md §2 north-star tier.
  *
  * Scale design: the brute-force cosine scan is the correctness baseline
  * (one pass, no shuffle, codegen'd higher-order functions); the LSH
  * variants are the 100 TB path — signature computation is a projection,
  * candidate generation is a bucket equi-join, and only candidates pay
  * the exact-distance cost. No vector ever reaches the driver.
  */
object Vectors {

  /** dot(a, b) with double accumulation (left fold, codegen'd). */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  /** Native codegen'd cosine (graft.functions.CosineSimilarity): one loop,
    * no intermediate arrays — bit-identical to the HOF form (same fold
    * order), so oracle parity is preserved.
    */
  private def cos(s: SparkSession, a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosine_sim(s, a, b)

  /** The (vec_id, embedding) corpus projection every index reads. */
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))

  /** The query frame (qid, qv) of the single-query entries: the one row
    * vec_id 0, i.e. the recall panel's qid 0 ([[panelQ]]). Every ANN
    * stage below is keyed on a query frame, so a single-query entry and
    * its panel branch run the same stages; only the final cut differs
    * (a TakeOrderedAndProject here, [[topPerQ]] on the panel).
    */
  private def queryZero(e: DataFrame): DataFrame =
    e.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))

  /** Exact-score stage: the 4-dp-rounded cosine of every candidate row
    * (vec_id, embedding) against its query's qv, the query vector itself
    * excluded. Un-cut: (qid, vec_id, keep…, cos). Rounding BEFORE any
    * sort with vec_id breaking ties is what makes every top-k cut on it
    * deterministic, so both engines cut identically.
    */
  private def exactScore(s: SparkSession, cands: DataFrame,
      keep: String*): DataFrame =
    cands.filter(col("vec_id") =!= col("qid"))
      .select((Seq(col("qid"), col("vec_id")) ++ keep.map(col) :+
        round(cos(s, col("embedding"), col("qv")), 4).as("cos")): _*)

  /** Brute-force candidates: the whole of `e` exact-scored against each
    * query of the broadcast query frame.
    */
  private def bruteCands(s: SparkSession, e: DataFrame,
      qf: DataFrame): DataFrame =
    exactScore(s, e.crossJoin(broadcast(qf)))

  private val byCos = Seq(col("cos").desc, col("vec_id"))
  private val byAdc = Seq(col("adc").asc, col("vec_id"))

  /** Cosine of every vector against the query vector (vec_id 0),
    * emitted for ALL rows ordered by id — the oracle-stable formulation
    * (no top-k cut whose membership could flip on an ulp). The query
    * vector is a 1-row broadcast; the scan never shuffles.
    */
  private def simScores(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    e.crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(cos(s, col("embedding"), col("qv")), 4).as("cos"))
      .orderBy("vec_id")
  }

  /** Brute-force cosine top-k (k=10) vs the query vector — compiles to
    * TakeOrderedAndProject over the scored scan (per-partition heap, no
    * global sort). Oracled: the score is rounded to 4 dp BEFORE the sort
    * and ties break on vec_id, so the top-k cut is deterministic — both
    * engines order by the identical rounded double (q_sim_scores proves
    * the per-row values hash-match).
    */
  private def simTopk(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    bruteCands(s, e, queryZero(e)).orderBy(byCos: _*).limit(10)
      .select("vec_id", "cos")
  }

  /** Deterministic random hyperplanes for LSH: 16 planes × 64 dims from a
    * fixed-seed PRNG, shipped as a literal array (1 KB — a closure
    * constant on every executor, no broadcast needed).
    */
  private val numPlanes = 16
  private val dim = 64
  private val planes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(7)
    Array.fill(numPlanes, dim)(rnd.nextDouble() * 2 - 1)
  }

  /** n-bit signature: bit p = (v · plane_p) >= 0. The dot is the native
    * codegen'd expression — the HOF form allocates a zipped array per
    * plane per row, ×16 planes; the native loop allocates nothing.
    * Plane literals must be float arrays (dot_product is typed
    * array<float>); constant folding turns them into literal ArrayData.
    */
  private def lshSig(s: SparkSession, v: Column, n: Int = numPlanes): Column =
    (0 until n).map { p =>
      val planeLit = array(planes(p).map(x => lit(x.toFloat)): _*)
      when(graft.functions.VectorFunctions.dot_product(s, v, planeLit) >= 0,
        lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** LSH-bucketed approximate nearest neighbours: probe only the query
    * vector's signature bucket, exact cosine within it. Approximate by
    * construction vs the brute-force top-k (the spec measures recall),
    * but DETERMINISTIC given the fixed planes — the oracle inlines the
    * same plane constants as float literals and replays the probe
    * exactly. At 100 TB the bucket join replaces the full scan;
    * multi-probe here is the Hamming≤1 bucket set.
    */
  private def annLsh(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    lshCands(s, e, queryZero(e)).orderBy(byCos: _*).limit(10)
      .select("vec_id", "cos")
  }

  /** LSH candidates per query: 6-bit signature (64 coarse buckets) +
    * Hamming≤1 multi-probe — the probe set is 7 of 64 buckets, so ~11%
    * of the corpus is exact-scored. Un-cut.
    */
  private def lshCands(s: SparkSession, e: DataFrame,
      qf: DataFrame): DataFrame =
    exactScore(s, e.withColumn("sig", lshSig(s, col("embedding"), 6))
      .join(broadcast(qf.withColumn("qsig", lshSig(s, col("qv"), 6))),
        bit_count(col("sig").bitwiseXOR(col("qsig"))) <= 1))

  /** Base corpus plus planted near-dups: vec_id < 5 re-enter scaled
    * ×1.01 (same direction ⇒ same signs/signatures, cosine ≈ 1) as
    * vec_id + 100000. Same direction also means identical cosine to
    * every centroid, so after the first Lloyd reassignment both members
    * of a planted pair land in the same cluster regardless of init.
    */
  private def withPlanted(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    // scale in double, round once to float: bit-identical in any engine
    e.union(e.filter(col("vec_id") < 5)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"),
          x => (x.cast("double") * lit(1.01d)).cast("float")).as("embedding")))
  }

  /** Candidate cells, exposed for the spec that bounds candidate mass:
    * k-means cluster × 16-bit hyperplane signature. The signature alone
    * admits ≈ N²/2^16 candidate pairs even on RANDOM vectors (at 10⁹
    * embeddings that is ~10¹³ pairs); scoping to a cluster first makes
    * the self-join cost track cell collision rates, not corpus size —
    * same shape as semDedup, with PRNG planes instead of axis signs.
    * A scaled duplicate keeps its direction ⇒ same plane signs AND same
    * argmax cluster, so recall on true near-dups stays structural.
    */
  private[graft] def dedupEmbedCells(s: SparkSession, dir: String): DataFrame =
    kmeansFit(withPlanted(s, dir))._1
      .select(col("vec_id"), col("embedding"), col("c"))
      .withColumn("sig", lshSig(s, col("embedding")))

  /** Embedding near-dup pairs via k-means-cluster × LSH-signature cells
    * + exact cosine ≥ 0.95 within a cell.
    * The corpus has no natural near-dups (max pairwise cosine ≈ 0.48),
    * so the operator demonstrates itself on planted duplicates: vec_id
    * < 5 re-enter scaled ×1.01 as vec_id+100000 (same direction ⇒ same
    * signature ⇒ guaranteed bucket collision, cosine ≈ 1). Oracled via
    * the exact all-pairs formulation: LSH is approximate by
    * construction, but at the gate SFs the ≥0.95 pair set IS exactly
    * the planted pairs (spec-pinned) and every planted pair collides in
    * signature, so the exact DuckDB twin produces the identical rows;
    * the double-scale-then-round-to-float planting is IEEE-identical in
    * both engines.
    */
  private def dedupEmbed(s: SparkSession, dir: String): DataFrame = {
    // repartition on the cell key so the self-join's two sides share
    // one exchange (k-means + signature derivation runs once — the
    // ReusedExchange pattern semDedup pioneered)
    val all = dedupEmbedCells(s, dir).repartition(col("c"), col("sig"))
    all.as("a").join(all.as("b"),
        col("a.c") === col("b.c") &&
          col("a.sig") === col("b.sig") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("ai"), col("b.vec_id").as("bi"),
        cos(s, col("a.embedding"), col("b.embedding")).as("cos"))
      .filter(col("cos") >= 0.95)
      .select(col("ai"), col("bi"), round(col("cos"), 3).as("cos"))
      .orderBy("ai", "bi")
  }


  /** IVF-style ANN: the label column plays the coarse quantizer's
    * inverted lists (pre-existing lists; q_ann_ivf_trained is the
    * variant that trains its own). Probe = rank lists by query→centroid
    * cosine, exact-search only the top-2 lists (~20% of the corpus).
    * The centroid pass is the same map-side-combinable DECIMAL-EXACT
    * reduction as q_embed_centroid — a plain double mean would be
    * partition-order-dependent, i.e. the probed list could flip between
    * runs; exactness makes the whole probe deterministic and therefore
    * fully oracled. The probe is a partition-pruned scan shape when the
    * table is written partitioned by list id.
    */
  private def annIvf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val e = Tables.embeddings(s, dir)
    val q = queryZero(e)
    val centroids = e
      .select(col("label"), posexplode(col("embedding")))
      .groupBy("label", "pos")
      .agg((sum(col("col").cast(DoubleType).cast(DecimalType(18, 8))).cast(DoubleType) /
        count(lit(1))).as("m"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("centroid"))
    // rank lists by query-centroid similarity, keep top 2
    val probed = centroids.crossJoin(broadcast(q.select(col("qv"))))
      .select(col("label"),
        cos(s, col("centroid"), col("qv")).as("list_sim"))
      .orderBy(col("list_sim").desc, col("label")) // label breaks cosine ties
      .limit(2)
    // exact search inside the probed lists only
    exactScore(s, e.join(broadcast(probed), Seq("label"))
        .crossJoin(broadcast(q)), "label")
      .orderBy(byCos: _*).limit(10)
      .select("vec_id", "label", "cos")
  }

  /** Per-label centroid, dimension-wise: posexplode → (label, pos) mean.
    * Decimal-exact mean (sum DECIMAL(18,8) / count) so both engines agree
    * bit-for-bit. Linear fan-out ×dim, fully map-side-combinable — the
    * scalable layout for dense-vector reduction (vs collect-and-average).
    */
  private def embedCentroid(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), (col("pos") + 1).cast("int").as("pos"))
      .agg((sum(col("col").cast(DoubleType).cast(DecimalType(18, 8))).cast(DoubleType) /
        count(lit(1))).as("avg_val"))
      .orderBy("label", "pos")
  }

  // per-cluster dimension-wise mean, assembled into an ordered array
  private def kmCentroids(assigned: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    assigned.select(col("c"), posexplode(col("embedding")))
      .groupBy("c", "pos")
      .agg((sum(col("col").cast(DoubleType).cast(DecimalType(18, 8))).cast(DoubleType) /
        count(lit(1))).as("m"))
      .groupBy("c")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("centroid"))
  }

  // nearest-centroid assignment: the WHOLE centroid table packs into
  // ONE c-sorted array row (a few KB) broadcast onto the corpus, and
  // the argmax runs as a single codegen'd projection loop per vector
  // (graft.functions.ArgmaxCosine — identical cosine accumulation and
  // lowest-c tie-break, so the crossJoin-replaying oracles hold). The
  // crossJoin + max_by twin materializes N × nlist joined rows per
  // pass — with nlist = √N that is N^1.5 rows of join traffic at
  // scale; this form has no row explosion and nothing to re-aggregate
  private def kmAssign(e: DataFrame, cents: DataFrame): DataFrame = {
    val packed = cents.agg(
      sort_array(collect_list(struct(col("c"), col("centroid")))).as("cents"))
    e.crossJoin(broadcast(packed))
      .withColumn("best", graft.functions.VectorFunctions.argmax_cosine(
        e.sparkSession, col("embedding"), col("cents")))
      .select(col("vec_id"), col("embedding"),
        col("best.c").as("c"), col("best.cos").as("cos"))
  }

  /** Distributed Lloyd's k-means over the embedding corpus (nlist =
    * ceil(√N) derived from the corpus count, two unrolled iterations,
    * deterministic init c₀ = vec_id mod nlist) — the
    * clustering pass that would train q_ann_ivf's coarse quantizer and
    * the first stage of SemDeDup-style semantic dedup (cluster, then
    * near-dup only within clusters). Per iteration: ONE map-side-
    * combinable decimal-exact centroid reduction (posexplode →
    * (cluster, dim) mean — q_embed_centroid's layout) and ONE broadcast
    * reassignment (the k×dim ≈ 4 KB centroid table ships to every
    * executor; argmax-cosine via a hash-aggregated `max_by`, ties to
    * the lower cluster id). Nothing collects to the driver; each pass
    * is linear in corpus size — the MLlib KMeans shape re-expressed as
    * declarative DataFrame ops, so Catalyst still prunes/pushes the
    * scan. Fully oracled: DuckDB runs the identical unrolled iterations
    * (decimal-exact centroid means ⇒ bit-identical doubles ⇒ identical
    * assignments in both engines).
    *
    * Two unrolled Lloyd iterations over `e` (vec_id, embedding), init
    * c₀ = vec_id mod k; returns the final assignment (vec_id, embedding,
    * c, cos — each vector's cosine to its own centroid) AND the trained
    * centroid table (c, centroid). Shared by q_embed_kmeans (cluster
    * profile), q_semdedup (cluster-scoped near-dup), and
    * q_ann_ivf_trained (coarse quantizer).
    *
    * Each Lloyd pass re-reads the (2-column-pruned) source through its
    * lineage rather than caching between iterations — correct for the
    * oracle path and cheap at 2 unrolled iterations; a long-running
    * production training loop would persist the assignment per round
    * (a [[Rounds]] loop).
    */
  private def kmeansFit(e: DataFrame): (DataFrame, DataFrame) = {
    // nlist ≈ √N, derived from the corpus itself as a broadcast 1-row
    // scalar (never a driver-side collect): each inverted list stays
    // ≈ √N members as the corpus grows, so a probe's exact-search cost
    // is √N-bounded — a fixed test knob (the old k = 8) makes per-list
    // scans grow LINEARLY with corpus size instead
    val nlist = e.agg(ceil(sqrt(count(lit(1)))).as("nlist"))
    val a0 = e.crossJoin(broadcast(nlist))
      .withColumn("c", (col("vec_id") % col("nlist")).cast("int"))
      .drop("nlist")
    // materialize the fit boundary (r15 optimization): the centroid
    // table and the assignment fan out to several differently-pruned
    // consumers in every index query (residual encode, list assignment,
    // probe ranking, serving joins), and exchange reuse does NOT span
    // them — measured on q_ann_ivfpq: 179 parquet scans / 607 Exchange
    // nodes in the executed plan, each consumer re-deriving the whole
    // two-round Lloyd unroll. Pinning the two bounded tables (nlist
    // rows; N rows — the index-build artifact a production system
    // materializes anyway) collapses every downstream read to a
    // checkpoint scan. Values are unchanged — localCheckpoint is purely
    // physical.
    val c2 = kmCentroids(kmAssign(e, kmCentroids(a0))).localCheckpoint(true)
    (kmAssign(e, c2).localCheckpoint(true), c2)
  }

  /** Continue Lloyd from an existing assignment for `rounds` more
    * (centroids ∘ assign) passes — Lloyd is Markovian, so 2 continued
    * rounds over [[kmeansFit]]'s output ARE the 4-round fit from the
    * same init, and the recall panel's improved-coarse branches reuse
    * the already-materialized 2-round state instead of refitting from
    * scratch. Returns (final assignment, final centroid table).
    *
    * The loop state ([[Rounds]]) is the centroid table (≤ nlist rows):
    * the next round's assignment and BOTH returned frames consume it
    * through different prunings, and without the pin the caller's two
    * checkpoint jobs re-derived the whole continue chain twice.
    */
  private[graft] def kmeansContinue(e: DataFrame, a: DataFrame,
      rounds: Int): (DataFrame, DataFrame) = {
    require(rounds > 0, "kmeansContinue needs at least one round")
    val cents = Rounds.fixed(kmCentroids(a).localCheckpoint(true), rounds - 1)(
      (c, _) => kmCentroids(kmAssign(e, c)))
    (kmAssign(e, cents), cents)
  }

  // candidate table (cid, cand) as a centroid table for kmAssign:
  // ordinal int ids in cid order (vec_ids can exceed Int at corpus
  // scale; the ordinal is what the tie-break and the weight regroup key
  // on, and the DuckDB twin derives the identical ordinal with
  // row_number)
  private def kmppCents(cands: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    cands.select(
      (row_number().over(Window.orderBy("cid")) - 1).cast("int").as("c"),
      transform(col("cand"), v => v.cast("double")).as("centroid"))
  }

  /** k-means|| (scalable k-means++) seeding for the coarse quantizer —
    * the recall panel's init-quality lever (`ivf_pp`). Bahmani et
    * al.'s oversampled D²-seeding with the engine's determinism
    * discipline: the seed is the minimum-vec_id vector; each of the 2
    * sampling rounds scores the corpus against the packed candidate
    * table (ONE codegen'd argmax_cosine projection pass — no row
    * explosion), sums the seeding potential d(x) = 1 − max-cos
    * decimal-exact, and admits x iff u(x) < k·d(x)/Σd with u an
    * md5-derived uniform ([[Ox.mdUniform]]) — every engine, run, and
    * file layout agrees on the draw (ℓ = k per round, E|C| ≈ 2k + 1).
    * Candidates then weight by corpus attraction (one more argmax
    * pass) and the k heaviest (weight desc, cid) become the init; the
    * Lloyd budget after init is the SAME 2 (centroid ∘ assign) rounds
    * as [[kmeansFit]], so the panel's ivf_pp-vs-ivf delta is
    * attributable to the seeding alone.
    *
    * 100 TB shape: 3 extra linear corpus passes, each against a
    * broadcast candidate table (≈ 2√N rows — ~60 k rows / 30 MB at
    * N = 10⁹, still a model-table broadcast); the only windows rank
    * the BOUNDED candidate set. A degenerate draw (fewer than k
    * admitted candidates) just yields a smaller init — nprobe and
    * shortlist derive from the actual centroid table downstream, so
    * the plan stays well-defined. Fully oracled: the DuckDB twin
    * replays the draws (md5 hex fold), the decimal potential sums,
    * and the argmax tie-breaks CTE for CTE.
    */
  private[graft] def kmppFit(e: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val kDf = e.agg(ceil(sqrt(count(lit(1)))).cast("double").as("k"))
    val seed = e.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("cid"), col("embedding").as("cand"))
      .localCheckpoint(true)
    val cands = Rounds.fixed(seed, 2) { (cands, r) =>
      // pin the round's potential pass: `scored` feeds both the Σd
      // reduction and the draw filter, and without the pin the one
      // corpus argmax pass ran twice per sampling round
      val scored = r.pin(kmAssign(e, kmppCents(cands))
        .select(col("vec_id"), col("embedding"), (lit(1.0) - col("cos")).as("d")))
      val tot = scored.agg(
        sum(col("d").cast(DecimalType(30, 12))).cast(DoubleType).as("td"))
      // anti-join keeps a candidate from entering twice (a re-draw has
      // d ≈ 0 and essentially never fires, but a duplicate cid would
      // make the ordinal assignment order-ambiguous in both engines)
      val drawn = scored.crossJoin(broadcast(tot)).crossJoin(broadcast(kDf))
        .filter(Ox.mdUniform(s"kmpp:${r.k}:", col("vec_id")).cast("double") /
          lit(16777216.0) < col("k") * col("d") / col("td"))
        .select(col("vec_id").as("cid"), col("embedding").as("cand"))
        .join(broadcast(cands.select("cid")), Seq("cid"), "left_anti")
      cands.unionByName(drawn)
    }
    val w = kmAssign(e, kmppCents(cands))
      .groupBy(col("c").as("ordc"))
      .agg(count(lit(1)).as("w"))
    val init = cands.withColumn("ordc",
        (row_number().over(Window.orderBy("cid")) - 1).cast("int"))
      .join(w, "ordc")
      .withColumn("rn", row_number().over(
        Window.orderBy(col("w").desc, col("cid"))))
      .crossJoin(broadcast(kDf))
      .filter(col("rn") <= col("k"))
      .select((col("rn") - 1).cast("int").as("c"),
        transform(col("cand"), v => v.cast("double")).as("centroid"))
    // the continue's first centroid table is the last read of `cands`
    val fit = kmeansContinue(e, kmAssign(e, init), 2)
    Rounds.release(cands)
    fit
  }

  private def embedKmeans(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val (a2, _) = kmeansFit(emb(s, dir))
    a2.groupBy(col("c").as("cluster"))
      .agg(cnt.as("n_vecs"),
        round(sum(col("cos").cast(DecimalType(30, 12))).cast(DoubleType) /
          count(lit(1)), 4).as("mean_cos"))
      .orderBy("cluster")
  }

  /** SemDeDup-style semantic dedup: k-means the (planted-dup-polluted)
    * corpus, then find near-dup pairs ONLY inside (cluster, sign-bucket)
    * cells — never across the whole corpus. The sub-bucket key is the
    * 16-bit sign signature of the first 16 embedding dims (axis-aligned
    * hyperplanes — deterministic and engine-portable, unlike the PRNG
    * planes of lshSig); a scaled duplicate keeps every sign and lands in
    * the same k-means cluster (same direction ⇒ same cosines ⇒ same
    * argmax), so recall on true near-dups is structural. At 100 TB the
    * exact-cosine cost is bounded by cell collision rates (k × 2^16
    * cells), not corpus size — clustering first is what keeps the
    * sign-bucket join from comparing semantically unrelated collisions.
    * Fully oracled: DuckDB re-runs the unrolled k-means on the same
    * polluted corpus and the identical pair join.
    */
  private def semDedup(s: SparkSession, dir: String): DataFrame = {
    val sig16 = (0 until 16).map { i =>
      when(element_at(col("embedding"), i + 1) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    // repartition on the join key BEFORE self-joining: both sides then
    // carry the identical exchange subtree, so the whole k-means
    // derivation runs ONCE and the second side is a ReusedExchange —
    // without this the self-join recomputes every upstream pass twice
    val a = kmeansFit(withPlanted(s, dir))._1
      .select(col("vec_id"), col("embedding"), col("c"))
      .withColumn("sig", sig16)
      .repartition(col("c"), col("sig"))
    a.as("a").join(a.as("b"),
        col("a.c") === col("b.c") && col("a.sig") === col("b.sig") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("ai"), col("b.vec_id").as("bi"),
        col("a.c").as("cluster"),
        cos(s, col("a.embedding"), col("b.embedding")).as("cos"))
      .filter(col("cos") >= 0.95)
      .select(col("ai"), col("bi"), col("cluster"), round(col("cos"), 3).as("cos"))
      .orderBy("ai", "bi")
  }

  /** IVF ANN over the TRAINED coarse quantizer — the 100 TB path that
    * q_ann_ivf's doc promises ("you'd k-means the corpus into nlist
    * centroids"): q_embed_kmeans supplies both the inverted lists (the
    * final assignment) and the list centroids; the probe ranks lists by
    * query→centroid cosine, exact-searches only the top-nprobe lists
    * ([[probe]]; nlist = ceil(√N) is data-derived, so each list — and
    * the probe's exact-search cost — stays ≈ √N-bounded at any corpus
    * size), and
    * cuts top-10 on the 4-dp-rounded cosine with vec_id tie-break —
    * deterministic, so unlike label-list IVF this variant is fully
    * oracled (DuckDB replays the k-means unroll and the same probe).
    * Both joins broadcast (centroid table: k rows; probe table: nprobe
    * rows).
    */
  private def annIvfTrained(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val (a2, c2) = kmeansFit(e)
    ivfCands(s, a2, c2, queryZero(e)).orderBy(byCos: _*).limit(10)
      .select(col("vec_id"), col("c").as("cluster"), col("cos"))
  }

  /** Probe stage: each query's coarse lists ranked by query→centroid
    * cosine (lower c on ties) and cut at `mult` × the derived nprobe =
    * ⌈√nlist⌉ (≈ N^(1/4)), counted FROM the centroid table itself as a
    * broadcast 1-row frame — no driver collect, no hand-tuned constant
    * that silently under-probes when the corpus grows. The rank window
    * partitions on qid and orders only nlist ≈ √N rows per query.
    * Returns (c, centroid, qid, qv, rn) per probed list.
    */
  private def probe(s: SparkSession, c2: DataFrame, qf: DataFrame,
      mult: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val np = c2.agg((ceil(sqrt(count(lit(1)))) * mult).cast("int").as("np"))
    c2.crossJoin(broadcast(qf))
      .withColumn("ls", cos(s, col("centroid"), col("qv")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("ls").desc, col("c"))))
      .crossJoin(broadcast(np))
      .filter(col("rn") <= col("np"))
      .drop("ls", "np")
  }

  /** Trained-IVF candidates: every vector of the assignment `a`
    * (vec_id, embedding, c) in each query's probed lists, exact-scored
    * — (qid, vec_id, c, cos), un-cut.
    */
  private def ivfCands(s: SparkSession, a: DataFrame, c2: DataFrame,
      qf: DataFrame, mult: Int = 1): DataFrame =
    exactScore(s, a.select(col("vec_id"), col("embedding"), col("c"))
      .join(broadcast(probe(s, c2, qf, mult)), Seq("c")), "c")

  /** FILTERED ANN — metadata-constrained top-k (`lang = 'fr'`), the
    * serving problem plain indexes don't solve: a selective predicate
    * empties probed lists, so filtered search must decide where the
    * filter applies. This query runs BOTH strategies and emits them
    * side by side: `ivf_prefilter` pushes the allow-list INTO the
    * candidate stream (semi-join on vec_id before any exact scoring —
    * at 100 TB the allow-list join is the cheap side and no excluded
    * vector is ever scored), and `exact` is the brute-force-over-
    * filtered-set baseline whose overlap with the prefilter branch IS
    * the filtered recall, graded by the oracle row-for-row. The probe
    * stays at the derived nprobe, so the recall gap the output shows is
    * the real cost of fixed probes under selective filters (the
    * documented knob: selective filters need more probes or a
    * metadata-partitioned index).
    */
  private def annFiltered(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = queryZero(e)
    val (a2, c2) = kmeansFit(e)
    val allow = frAllow(s, dir)
    def top10(cands: DataFrame, method: String): DataFrame =
      cands.orderBy(byCos: _*).limit(10)
        .select(lit(method).as("method"), col("vec_id"), col("cos"))
    top10(ivfCands(s, a2.join(allow, "vec_id"), c2, q), "ivf_prefilter")
      .unionByName(top10(bruteCands(s, e.join(allow, "vec_id"), q), "exact"))
      .orderBy(col("method"), col("cos").desc, col("vec_id"))
  }

  /** The filtered-ANN allow-list: ids of the `lang = 'fr'` documents. */
  private def frAllow(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(col("lang") === "fr")
      .select(col("doc_id").as("vec_id"))

  /** BINARY QUANTIZATION ANN — the 1-bit serving technique (sign-bit
    * codes + Hamming shortlist + exact re-rank): each 64-dim vector
    * compresses to TWO 32-bit sign words (8 bytes/vector; two words
    * rather than one packed 64 because a 64-bit MSB-first fold would
    * overflow signed BIGINT on the top bit — which DuckDB raises on
    * where the JVM wraps, so the split is also what keeps the oracle
    * bit-identical). Candidate scoring is `bit_count(b ^ qb)` — pure
    * register arithmetic, no float math, no vector access: the scan
    * cost that makes BQ the memory-bound regime's first stage at
    * 100 TB. Top-50 Hamming shortlist via TakeOrderedAndProject, then
    * exact cosine re-rank to top-10, emitted beside the brute-force
    * top-10 (`exact`) so the overlap IS the measured BQ recall, graded
    * row-for-row by the oracle.
    */
  private def annBq(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = queryZero(e)
    bqCands(s, e, q, topOne).orderBy(byCos: _*).limit(10)
      .select(lit("bq_rerank").as("method"), col("vec_id"), col("ham"),
        col("cos"))
      .unionByName(bruteCands(s, e, q).orderBy(byCos: _*).limit(10)
        .select(lit("exact").as("method"), col("vec_id"),
          lit(null).cast("int").as("ham"), col("cos")))
      .orderBy(col("method"), col("cos").desc, col("vec_id"))
  }

  /** BQ funnel per query: Hamming-distance shortlist of 50 (cut by
    * `cut`), exact-scored — (qid, vec_id, ham, cos), un-cut.
    */
  private def bqCands(s: SparkSession, e: DataFrame, qf: DataFrame,
      cut: Cut): DataFrame = {
    def packWord(v: Column, off: Int): Column =
      aggregate(slice(v, off, 32), lit(0L),
        (a, x) => a * 2 + when(x > lit(0.0f), 1L).otherwise(0L))
    val p = e.withColumn("b1", packWord(col("embedding"), 1))
      .withColumn("b2", packWord(col("embedding"), 33))
    val q = qf.withColumn("qb1", packWord(col("qv"), 1))
      .withColumn("qb2", packWord(col("qv"), 33))
    exactScore(s, cut(p.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("ham",
          (expr("bit_count(b1 ^ qb1)") + expr("bit_count(b2 ^ qb2)")).cast("int")),
      Seq(col("ham").asc, col("vec_id")), 50), "ham")
  }

  /** TRUNCATED-DIMENSION ANN — the Matryoshka serving trick (Kusupati
    * et al., MRL): score the corpus on the FIRST 16 of 64 dims (¼ the
    * bytes read and FLOPs per candidate — with MRL-trained embeddings
    * the prefix is a usable coarse embedding by construction), cut a
    * top-50 shortlist on the rounded prefix cosine, then exact-rerank
    * only the shortlist at full width to top-10. Same funnel shape as
    * q_ann_bq (cheap scan metric → bounded exact tier) but the cheap
    * metric is a prefix of the SAME float vector — no codebook, no
    * training, just column pruning: at 100 TB the prefix scan reads a
    * quarter of the vector bytes (with the embedding stored as 4
    * fixed-width column groups, the scan prunes to the first group).
    * The exact branch is emitted beside it so the overlap IS the
    * measured truncation recall, graded row-for-row by the oracle.
    * Deterministic: both cuts rank 4-dp-rounded cosines with vec_id
    * tie-breaks.
    */
  private def annTruncdim(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = queryZero(e)
    truncCands(s, e, q, topOne).orderBy(byCos: _*).limit(10)
      .select(lit("trunc16_rerank").as("method"), col("vec_id"),
        col("pcos"), col("cos"))
      .unionByName(bruteCands(s, e, q).orderBy(byCos: _*).limit(10)
        .select(lit("exact").as("method"), col("vec_id"),
          lit(null).cast("double").as("pcos"), col("cos")))
      .orderBy(col("method"), col("cos").desc, col("vec_id"))
  }

  /** Truncated-dimension funnel per query: 16-dim prefix-cosine
    * shortlist of 50 (cut by `cut`), exact-scored at full width —
    * (qid, vec_id, pcos, cos), un-cut.
    */
  private def truncCands(s: SparkSession, e: DataFrame, qf: DataFrame,
      cut: Cut): DataFrame =
    exactScore(s, cut(e.crossJoin(broadcast(qf))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("pcos", round(cos(s, slice(col("embedding"), 1, 16),
          slice(col("qv"), 1, 16)), 4)),
      Seq(col("pcos").desc, col("vec_id")), 50), "pcos")

  /** Hard-negative mining for contrastive training: for every anchor
    * (vec_id ≡ 0 mod 100 — a deterministic anchor sample), the top-3
    * highest-cosine neighbours that are NOT positives (cos < 0.95, the
    * near-dup threshold — a near-dup is a label-noise positive, not a
    * negative). Search is IVF-scoped, never brute-force: the trained
    * k-means quantizer ranks lists per anchor and only the top-2 lists
    * are exact-searched, exactly the q_ann_ivf_trained probe generalized
    * from one query to an anchor SET. The probe table (anchors × 2 rows,
    * with anchor vectors) broadcasts onto the assigned corpus at gate
    * SFs — but it is O(anchors), so at 100 TB the broadcast stops
    * fitting and the probe join flips to a shuffle-hash join
    * co-partitioned on the list id `c` (both sides already carry it;
    * Catalyst makes the same flip once the size estimate crosses the
    * broadcast threshold), with the anchor set itself τ-sampled the way
    * q_embed_pca bounds its covariance sample. The per-anchor top-3
    * window partitions on the anchor id over candidates bounded by two
    * inverted lists (~2·N/nlist rows; nlist ≈ √N at scale keeps every
    * partition √N-bounded). Deterministic — rank cut on the 4-dp-rounded cosine
    * with vec_id tie-break — so fully oracled (DuckDB replays the
    * k-means unroll and the per-anchor probe).
    */
  private def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = emb(s, dir)
    val (a2raw, c2) = kmeansFit(e)
    val a2 = a2raw.select(col("vec_id"), col("embedding"), col("c"))
    val anchors = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val rankW = Window.partitionBy("qid")
      .orderBy(col("list_sim").desc, col("c"))
    val lists = anchors.crossJoin(broadcast(c2))
      .withColumn("list_sim", cos(s, col("centroid"), col("qv")))
      .withColumn("rn", row_number().over(rankW))
      .filter(col("rn") <= 2)
      .select(col("qid"), col("qv"), col("c"))
    exactScore(s, a2.join(broadcast(lists), Seq("c")))
      .filter(col("cos") < 0.95)
      .withColumn("rnk",
        row_number().over(Window.partitionBy("qid").orderBy(byCos: _*)))
      .filter(col("rnk") <= 3)
      .select(col("qid").as("a_id"), col("rnk"), col("vec_id"), col("cos"))
      .orderBy("a_id", "rnk")
  }

  /** The PC1 direction as a 1-row frame (column `v`, unit double
    * array) — embedPca's covariance-sample + 3-step power iteration,
    * factored out so the OPQ rotation (round 14) reuses the identical
    * unroll the oracle replays.
    */
  private def pcaDirection(s: SparkSession, dir: String): DataFrame =
    powerSteps(s, covMatRows(emb(s, dir)).localCheckpoint(true))

  /** The md5-sampled covariance-proxy matrix M = n·Sxx − Sx·Sxᵀ as
    * 64 index-ordered rows (i, marr) — embedPca's front half, factored
    * so the OPQ isotropy trigger (round 14) can read λ̂ and trace(M)
    * from the same frame.
    */
  private def covMatRows(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val samp = e.filter(mdUniform("pca:", col("vec_id")) < 8388608L)
    // r15 optimization: ONE Generate (sample × d rows, each carrying the
    // vector) and a typed object-buffer moment aggregator per row-index
    // replace the old second posexplode — which materialized sample × d²
    // rows through an interpreted transform and paid a BigDecimal
    // UnsafeRow rewrite per (i, j) update (the single hottest stage of
    // the OPQ decision: ~8 s at sf0.1). Values are identical: the same
    // IEEE product per (i, j), the same CAST to DECIMAL(30,14), the same
    // order-free exact sum (see [[graft.functions.CovMomentAggregator]]);
    // marr's j order is the array position order the old collect_list
    // sort gave.
    val mom = udaf(graft.functions.CovMomentAggregator(dim),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Array[Double])]())
    val rows = samp
      .select(col("embedding").as("e"))
      .select(expr("transform(e, v -> CAST(v AS DOUBLE))").as("ed"),
        posexplode(col("e")).as(Seq("i", "xi")))
    val sxx = rows.groupBy("i")
      .agg(mom(col("xi").cast("double"), col("ed")).as("sxxArr"))
    val sx = samp
      .select(posexplode(col("embedding")).as(Seq("i", "xi")))
      .groupBy("i")
      .agg(sum(col("xi").cast(DecimalType(30, 14))).cast("double").as("sx"))
    val sxArr = sx.agg(expr(
      "transform(array_sort(collect_list(struct(i, sx))), x -> x.sx)")
      .as("sxArr"))
    val n = samp.agg(cnt.as("n"))
    sxx
      .join(broadcast(sx.select(col("i"), col("sx").as("sx_i"))), "i")
      .crossJoin(broadcast(sxArr))
      .crossJoin(broadcast(n))
      .select(col("i"), zip_with(col("sxxArr"), col("sxArr"),
        (sxxj, sxj) =>
          col("n").cast("double") * sxxj - col("sx_i") * sxj).as("marr"))
  }

  /** Three unrolled power-iteration steps over the [[covMatRows]]
    * frame — embedPca's back half. Returns the 1-row unit direction
    * (column v).
    */
  private def powerSteps(s: SparkSession, mrows: DataFrame): DataFrame = {
    def step(v: DataFrame): DataFrame =
      mrows.crossJoin(broadcast(v))
        .select(col("i"), expr(
          "aggregate(zip_with(marr, v, (a, b) -> a * b), 0D, (acc, x) -> acc + x)")
          .as("y"))
        .agg(expr("transform(array_sort(collect_list(struct(i, y))), x -> x.y)")
          .as("yv"))
        .select(expr(
          "transform(yv, x -> x / sqrt(aggregate(transform(yv, t -> t * t), 0D, (a, b) -> a + b)))")
          .as("v"))
    val v0 = s.range(1)
      .select(expr(s"transform(sequence(1, $dim), x -> 1.0D)").as("v"))
    step(step(step(v0)))
  }

  /** Distributed PCA, top principal component — the embedding
    * preprocessing pass (whitening/decorrelation before quantization or
    * ANN indexing). Three stages, each scale-bounded:
    * (1) covariance inputs from a DETERMINISTIC md5-threshold sample —
    * a 64×64 covariance needs ~10⁶ vectors, never the corpus, so at
    * 100 TB τ = target/N bounds this stage regardless of corpus size
    * (fixed τ = 1/2 at gate SFs for test mass); second moments Σxxᵀ and
    * sums Σx accumulate decimal-exact (the kmeans pattern) through a
    * 4096-key map-side-combined hash agg — shuffle carries 4096 cells
    * per partition, never rows. (2) the scatter matrix M = n·Σxxᵀ −
    * (Σx)(Σx)ᵀ (mean-centering without a division, so no cross-engine
    * decimal-division semantics) feeds THREE unrolled power-iteration
    * steps from the all-ones start — matvec + renormalize as 64-row
    * broadcast joins and index-ordered HOF folds, the same
    * deterministic-unroll trick q_embed_kmeans proved oracle-able.
    * (3) every corpus vector projects onto the resulting direction —
    * one codegen'd projection, no shuffle. Fully oracled: DuckDB
    * replays the sample, the decimal sums, and all three iterations.
    *
    * Plan shape (verified): the FULL corpus is scanned exactly once (the
    * projection); the three other scans all read the τ-bounded sample
    * (moments, sums, count), and the three unrolled iterations collapse
    * to one moment computation via ReusedExchange — cost at 100 TB is
    * one corpus pass plus O(sample·d²) bounded work.
    */
  private def embedPca(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    e.crossJoin(broadcast(pcaDirection(s, dir)))
      .select(col("vec_id"), round(dot(col("embedding"), col("v")), 4).as("pc1"))
      .orderBy("vec_id")
  }

  /** OPQ-lite rotation (round 14, VERDICT r13 #5 — Ge et al. 2013,
    * "Optimized Product Quantization", and FAISS's OPQ/PCAR
    * preprocessors, both public): a HOUSEHOLDER reflection
    * H = I − 2uuᵀ mapping the corpus's top principal direction onto
    * the balanced all-ones direction (1/√d)·1 — so the dominant
    * variance, instead of loading a few coordinates (and therefore a
    * few PQ subspaces), spreads evenly across all of them, which is
    * the imbalance OPQ exists to fix. Orthogonal by construction
    * (distances/cosines are preserved — only the SUBSPACE SPLIT
    * changes) and deterministic (the [[powerSteps]] unroll is already
    * oracle-exact; 1/√64 = 0.125 is an exact double).
    *
    * LEARNED, not forced: full OPQ minimizes quantization error over
    * all rotations, and on an ISOTROPIC corpus that optimum is the
    * identity — a forced reflection only shuffles noise (measured on
    * this fixture: 0.334 → 0.320 recall, inside codebook-init noise,
    * with subspace variance already balanced to 5%). So the
    * preprocessor includes the isotropy DECISION: the Householder
    * engages only when the top-eigenvalue estimate λ̂ = v₃ᵀMv₃
    * carries more than 3× the mean eigenvalue (trace/d) — above the
    * Marchenko–Pastur sampling-noise edge (1+√(d/n))² ≈ 2.3 at this
    * d/n, so sampling fluctuation cannot trip it — otherwise u = 0
    * ⇒ H = I and the rotated branch is bit-identical to the plain
    * one. λ̂ and trace fold in fixed index order, so the boolean is
    * engine-identical. Returns a 1-row frame (column `u`); rotating a
    * vector costs one dot product and one axpy — codegen'd, no
    * shuffle.
    */
  private[graft] def opqHouseholderOf(e: DataFrame): DataFrame = {
    val s = e.sparkSession
    // pin the 64-row moment frame (r15): the power-iteration unroll and
    // the λ̂/trace reads reference it FIVE times through lineage, and
    // without the pin the one action re-ran the O(sample·d²) exploded
    // covariance pass per reference (~10 s of the recall harness's
    // build at sf0.1, measured as one single-task stage)
    val mrows = covMatRows(e).localCheckpoint(true)
    val v3 = powerSteps(s, mrows)
    // y4 = M·v3 gathered in index order; λ̂ = v3ᵀ·y4
    val y4 = mrows.crossJoin(broadcast(v3))
      .select(col("i"), expr(
        "aggregate(zip_with(marr, v, (a, b) -> a * b), 0D, (acc, x) -> acc + x)")
        .as("y"))
      .agg(expr("transform(array_sort(collect_list(struct(i, y))), x -> x.y)")
        .as("yv"))
    // trace(M) = Σᵢ M_ii, folded in index order (bit-stable)
    val tr = mrows
      .select(col("i"), expr("element_at(marr, CAST(i + 1 AS INT))").as("mii"))
      .agg(expr("aggregate(transform(array_sort(collect_list(struct(i, mii))), " +
        "x -> x.mii), 0D, (a, b) -> a + b)").as("tr"))
    v3.crossJoin(broadcast(y4)).crossJoin(broadcast(tr))
      .select(col("v"), col("tr"), expr(
        "aggregate(zip_with(v, yv, (a, b) -> a * b), 0D, (acc, x) -> acc + x)")
        .as("lam"))
      .select(expr("transform(v, x -> x - 0.125D)").as("dv"),
        (col("lam") * lit(dim.toDouble) > lit(3.0) * col("tr")).as("aniso"))
      .select(col("dv"), col("aniso"), expr(
        "aggregate(transform(dv, t -> t * t), 0D, (a, b) -> a + b)").as("n2"))
      .select(expr(
        "transform(dv, x -> CASE WHEN aniso AND n2 > 0D THEN x / sqrt(n2) ELSE 0D END)")
        .as("u"))
  }

  private def opqHouseholder(s: SparkSession, dir: String): DataFrame =
    opqHouseholderOf(emb(s, dir))

  /** H·x over an array column: x − 2(uᵀx)u, with the dot product and
    * the per-element update in the SAME fold order as the DuckDB twin.
    */
  private[graft] def rotate(d: DataFrame, arr: String, uDf: DataFrame): DataFrame = {
    val keep = d.columns.filter(_ != arr)
    d.crossJoin(broadcast(uDf))
      .withColumn("__dp", aggregate(zip_with(col(arr), col("u"),
        (a, b) => a * b), lit(0.0), (x, y) => x + y))
      .select((keep.map(col) :+
        zip_with(col(arr), col("u"),
          (a, b) => a - lit(2.0) * col("__dp") * b).as(arr)): _*)
  }

  /** Cluster profiling — the composed cross-TABLE pipeline: the trained
    * k-means assignment (embeddings tier) joined back onto document
    * metadata (relational tier) for per-cluster language mix and size
    * stats, i.e. "what is each topic cluster made of" — the first
    * question anyone asks of a clustered corpus. One equi-join on the
    * shared id (broadcast at gate SFs, co-partitioned shuffle-hash at
    * 100 TB — both sides key on it anyway) and one bounded
    * (cluster × lang) hash aggregate; the mean is decimal-routed
    * (Ox.davg) so the profile hash-matches the DuckDB replay of the
    * full k-means unroll.
    */
  private def clusterProfile(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val (a2, _) = kmeansFit(e)
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    // mean emitted UNROUNDED (the davg precedent): IEEE division of the
    // decimal-exact sum by the count is engine-identical, while a 2-dp
    // round hits structural half-way ties (group mean granularity is
    // 1/n) that Spark and DuckDB break differently — found by the sf0.1
    // oracle run, which sf0.001/sf0.01 masked
    a2.select(col("vec_id"), col("c").as("cluster"))
      .join(d, col("vec_id") === col("doc_id"))
      .groupBy("cluster", "lang")
      .agg(cnt.as("n_docs"), davg(col("n_chars")).as("mean_chars"))
      .orderBy("cluster", "lang")
  }

  /** Multimodal carry-through: documents ⋈ embeddings with the array
    * column surviving the join and feeding per-row vector math. Broadcast
    * the smaller side at this SF; key-shuffle co-location at 100 TB.
    */
  private def multimodalJoin(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .join(Tables.embeddings(s, dir), col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        size(col("embedding")).as("dim"),
        round(norm(col("embedding")), 4).as("l2"))
      .orderBy("doc_id")

  /** Scalar int8 quantization of each embedding — the ANN compression
    * step (4 B float → 1 B code: 4× less memory/scan bandwidth for the
    * exact-rerank tier): per-vector absmax scale, codes =
    * floor(v·scale + 0.5) (explicit half-up — `round`'s tie rule is not
    * pinned down identically across engines), plus the reconstruction
    * MSE. Pure codegen'd projection, no shuffle; every float routes
    * through double with the same fold order in both engines.
    */
  private def embedQuantize(s: SparkSession, dir: String): DataFrame = {
    val quantized = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
        array_max(transform(col("embedding"), v => abs(v.cast("double")))).as("ma"))
      .withColumn("sc", when(col("ma") > 0, lit(127.0) / col("ma")).otherwise(lit(0.0)))
      .withColumn("codes", transform(col("embedding"),
        v => floor(v.cast("double") * col("sc") + lit(0.5)).cast("long")))
    quantized.select(
        col("vec_id"),
        size(col("codes")).as("n_dims"),
        round(col("sc"), 6).as("scale"),
        aggregate(col("codes"), lit(0L), (a, c) => a + c).as("sum_codes"),
        round(
          when(col("ma") > 0,
            aggregate(zip_with(col("embedding"), col("codes"), (v, c) =>
              (v.cast("double") - c.cast("double") / col("sc")) *
                (v.cast("double") - c.cast("double") / col("sc"))),
              lit(0.0), (a, x) => a + x) / size(col("codes")))
            .otherwise(lit(0.0)), 6).as("mse"))
      .orderBy("vec_id")
  }

  /** Codewords per PQ subspace — k = 256 (8-bit codes), the FAISS
    * default. The harness itself priced the smaller sizes: round 8's
    * k = 4 (2-bit) measured ADC recall 0.0 at 20 k vectors (256
    * distinct code combinations cannot rank 20 k candidates), round
    * 9's k = 16 (4-bit) still measured rerank recall 0.1 at ~sf1.
    * One constant, shared by the Spark fit and every oracle replay;
    * the codebook table stays bounded at M·k = 1024 rows (~130 KB
    * packed — still a broadcast), and the per-row assign loop is the
    * native codegen'd [[graft.functions.ArgminL2]], which is what
    * makes k × subDim = 4096 fused multiply-adds per (vector,
    * subspace) row a projection rather than an interpreted fold.
    */
  private[graft] val PqCodewords = 256

  /** Slice (id, arr) rows into one row per (vector, subspace):
    * (vec_id, m, sv) with sv = arr[m·subDim+1 .. (m+1)·subDim]. Extra
    * input columns are preserved.
    */
  private def subspaces(e: DataFrame, arr: String, m: Int): DataFrame = {
    val subDim = dim / m
    e.withColumn("g", explode(expr(
      s"transform(sequence(0, ${m - 1}), mm -> " +
        s"struct(mm AS m, slice($arr, mm * $subDim + 1, $subDim) AS sv))")))
      .select((e.columns.filter(_ != arr).map(col) :+
        col("g.m").as("m") :+ col("g.sv").as("sv")): _*)
  }

  /** Two unrolled Lloyd iterations per subspace over `sub`
    * (vec_id, m, sv): init c₀ = vec_id mod k, per-(subspace, code)
    * decimal-exact dimension means, L2² argmin assignment. Returns the
    * final assignment (vec_id, m, sv, c, d2) AND the trained codebooks
    * (m, c, centroid). Shared by q_pq_encode (encode the corpus) and
    * q_ann_ivfpq (encode coarse residuals + ADC lookup tables).
    *
    * The trained codebooks always materialize eagerly (r15: the old
    * `checkpointFit = false` default relied on exchange reuse across
    * the fit's consumers, but reuse only matches IDENTICAL canonical
    * subtrees — column pruning diverges them, and the executed plans
    * showed every consumer re-deriving the full two-round unroll:
    * q_ann_ivfpq carried 179 parquet scans before the pin).
    */
  private def pqFit(sub: DataFrame, k: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}

    // per-(subspace, code) dimension-wise decimal-exact mean
    def centroids(assigned: DataFrame): DataFrame =
      assigned.select(col("m"), col("c"), posexplode(col("sv")))
        .groupBy("m", "c", "pos")
        .agg((sum(col("col").cast(DecimalType(18, 8))).cast(DoubleType) /
          count(lit(1))).as("mu"))
        .groupBy("m", "c")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mu")))),
          x => x.getField("mu")).as("centroid"))

    val a0 = sub.select(col("vec_id"), col("m"), col("sv"))
      .withColumn("c", (col("vec_id") % k).cast("int"))
    // the trained codebooks are ≤ m·k rows and fan out to the ADC
    // table, the final assignment, and (in the serving queries) the
    // persisted index — always materialize them (r15: the old
    // checkpointFit=false default relied on exchange reuse, which the
    // executed plans show does not span differently-pruned consumers)
    val cb2 = centroids(pqAssign(sub, centroids(a0))).localCheckpoint(true)
    (pqAssign(sub, cb2), cb2)
  }

  /** PQ-encode stage: each (vec_id, m, sv) row's nearest codeword of
    * codebook m — L2² argmin over the packed per-subspace codebook via
    * the native codegen'd ArgminL2 (index-ascending double
    * accumulation, strict-less update over the c-sorted pack ⇒ min d2
    * with the lower code on ties — exactly the old
    * array_min-over-(d2, c)-structs HOF twin and the oracle's ORDER BY
    * d2, c). The HOF form is CodegenFallback: interpreted it priced
    * fine at k = 16 but is the hot loop at k = 256 (N × M rows × k ×
    * subDim multiply-adds per pass). Returns (vec_id, m, sv, c, d2).
    */
  private def pqAssign(sub: DataFrame, cb: DataFrame): DataFrame = {
    val packed = cb.groupBy("m")
      .agg(sort_array(collect_list(struct(col("c"), col("centroid"))))
        .as("codebook"))
    sub.join(broadcast(packed), "m")
      .withColumn("best", graft.functions.VectorFunctions.argmin_l2(
        sub.sparkSession, col("sv"), col("codebook")))
      .select(col("vec_id"), col("m"), col("sv"),
        col("best.c").as("c"), col("best.d2").as("d2"))
  }

  /** Product quantization (Jégou et al. 2011, "Product Quantization for
    * Nearest Neighbor Search" — public; the FAISS `PQ` index): split the
    * 64-dim vector into M=4 subspaces of 16 dims, train a
    * k=[[PqCodewords]] codebook per subspace with the same 2-pass
    * unrolled Lloyd shape as [[kmeansFit]] (L2 argmin instead of cosine
    * — PQ quantizes POSITIONS), and encode every vector as 4 sub-codes
    * (4 bits each — 2 B/vector packed, vs int8's 64 B). Output carries
    * the reconstruction MSE next to q_embed_quantize's int8 baseline —
    * the compression-vs-fidelity trade a 100 TB embedding store is
    * priced on.
    *
    * Scale shape: codebooks are (M × k) rows → packed per subspace and
    * BROADCAST; encoding is a per-row fold over k candidates (no join
    * explosion); the only shuffles are the bounded centroid aggregates
    * (decimal-exact dimension means, the kmeansFit idiom) and the final
    * per-vector regroup, both map-side combinable. Fully oracled: DuckDB
    * replays both Lloyd rounds per subspace and the same L2 argmin with
    * the (d2, c) tie order.
    */
  private def pqEncode(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val m = 4
    val e = Tables.embeddings(s, dir).select(col("vec_id"),
      expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("emb"))
    // one row per (vector, subspace): slice is a narrow array op
    val sv = subspaces(e, "emb", m)
    val (a2, _) = pqFit(sv, PqCodewords)
    val codes = a2.groupBy("vec_id")
      .agg(
        max(when(col("m") === 0, col("c"))).as("c0"),
        max(when(col("m") === 1, col("c"))).as("c1"),
        max(when(col("m") === 2, col("c"))).as("c2"),
        max(when(col("m") === 3, col("c"))).as("c3"),
        // decimal routing: the 4 subspace errors sum in arbitrary order
        (sum(col("d2").cast(DecimalType(30, 12))).cast(DoubleType) /
          lit(dim)).as("mse_pq"))
    // the int8 baseline (q_embed_quantize's exact formula), co-keyed on
    // vec_id — broadcast at gate SFs, co-partitioned at scale
    val int8 = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
        array_max(transform(col("embedding"), v => abs(v.cast("double")))).as("ma"))
      .withColumn("sc", when(col("ma") > 0, lit(127.0) / col("ma")).otherwise(lit(0.0)))
      .withColumn("codes", transform(col("embedding"),
        v => floor(v.cast("double") * col("sc") + lit(0.5)).cast("long")))
      .select(col("vec_id"),
        round(
          when(col("ma") > 0,
            aggregate(zip_with(col("embedding"), col("codes"), (v, c) =>
              (v.cast("double") - c.cast("double") / col("sc")) *
                (v.cast("double") - c.cast("double") / col("sc"))),
              lit(0.0), (a, x) => a + x) / size(col("codes")))
            .otherwise(lit(0.0)), 6).as("mse_int8"))
    codes.join(int8, "vec_id")
      .select(col("vec_id"), col("c0"), col("c1"), col("c2"), col("c3"),
        round(col("mse_pq"), 6).as("mse_pq"), col("mse_int8"))
      .orderBy("vec_id")
  }

  /** IVF-PQ with asymmetric distance computation (ADC) — the composed
    * index FAISS ships as `IVFPQ` (Jégou et al. 2011 §IV): the coarse
    * k-means quantizer ([[kmeansFit]], nlist ≈ √N) routes each vector to
    * an inverted list, PQ ([[pqFit]], M=4 × k=[[PqCodewords]]) encodes
    * each vector's RESIDUAL from its list centroid, and a query scans
    * only its probed lists scoring candidates from their 2-byte codes —
    * never touching the original vectors. ADC: per probed list, the
    * query's residual is sliced into subspaces and a (list × M × k)
    * distance table is precomputed; a candidate's estimated distance is
    * the sum of its 4 table entries.
    *
    * Scale shape: the distance table is O(probes·M·k) — kilobytes,
    * always broadcast; candidates join it on (list, m, code) with no
    * vector arithmetic in the scan loop, which is the property that
    * makes IVF-PQ the 100 TB serving standard (scan cost is a table
    * lookup per code, memory is bytes/vector). Residual sums are
    * decimal-routed so the 4 subspace distances add identically in both
    * engines; the cut is on the 4-dp-rounded ADC with vec_id tie-break,
    * so the query is fully oracled — DuckDB replays the coarse unroll,
    * the residual PQ unroll, and the same table-lookup scoring.
    */
  private def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val (c2, pcb2, codes, asgn) = ivfPqIndex(e)
    adcServe(s, c2, pcb2, codes, asgn, queryZero(e))
      .orderBy(byAdc: _*).limit(10)
      .select(col("vec_id"), col("cluster"), col("adc"))
  }

  /** The IVF-PQ index of `e`: coarse fit ([[kmeansFit]]) plus its PQ
    * half ([[ivfPqIndexTables]]) — (c2, pcb2, codes, asgn).
    */
  private def ivfPqIndex(e: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (a2, c2) = kmeansFit(e)
    val (pcb2, codes, asgn) = ivfPqIndexTables(a2, c2)
    (c2, pcb2, codes, asgn)
  }

  /** Residual stage: an array minus its list's `centroid`, float
    * elements widened to double first — the corpus side of the index
    * and the query side of ADC use the one expression.
    */
  private def residual(v: Column): Column =
    zip_with(v, col("centroid"), (a, b) => a.cast("double") - b)

  /** Corpus residuals of an assignment (vec_id, embedding, c) from its
    * list centroid: (vec_id, cl, remb).
    */
  private def residuals(a: DataFrame, c2: DataFrame): DataFrame =
    a.join(broadcast(c2), "c")
      .select(col("vec_id"), col("c").as("cl"),
        residual(col("embedding")).as("remb"))

  /** The PQ half of the IVF-PQ index, built from a fitted coarse
    * quantizer: residuals from the assigned list centroid are PQ-encoded
    * ([[pqFit]]) — in the Householder-rotated space when `rot` is given
    * (the OPQ branch). Returns the three tables that, with the coarse
    * centroids themselves, ARE the index: codebooks (m, c, centroid),
    * codes (vec_id, m, code), list assignments (vec_id, cl).
    */
  private def ivfPqIndexTables(a2: DataFrame, c2: DataFrame, m: Int = 4,
      rot: Option[DataFrame] = None): (DataFrame, DataFrame, DataFrame) = {
    val res = residuals(a2, c2)
    // rotated residuals materialize eagerly: codes and codebooks are
    // consumed by SEPARATE actions, and exchange reuse does not span
    // actions — without the pin the rotate re-derived per consumer
    val fitOn = rot.fold(res)(u => rotate(res, "remb", u).localCheckpoint(true))
    val (pa2, pcb2) = pqFit(subspaces(fitOn, "remb", m), PqCodewords)
    (pcb2, pa2.select(col("vec_id"), col("m"), col("c").as("code")),
      res.select(col("vec_id"), col("cl")))
  }

  /** ADC-score stage over the four index tables ALONE — coarse
    * centroids (c, centroid), PQ codebooks (m, c, centroid), codes
    * (vec_id, m, code), list assignments (vec_id, cl) — plus a query
    * frame. This is the serving contract: no corpus vector is ever read,
    * which is why the same pass serves the in-memory fit, a
    * parquet-persisted index (q_ann_persist), one query or the panel.
    * [[probe]] picks each query's lists at `mult` × the derived nprobe;
    * per probed list the query's [[residual]] — Householder-rotated by
    * `rot` when given, the OPQ branch's only difference — is sliced
    * into m subspaces and scored against every codeword with the native
    * codegen'd l2_sq (same fold order as the HOF twin, oracle-identical).
    * That ADC table is O(queries · nprobe · m · k) rows — broadcast
    * here; at 100 TB it flips to a co-partitioned join on
    * (cl, m, code). The inner join against it both restricts the codes
    * to the probed lists and scores each code in one lookup. Returns the
    * un-cut (qid, vec_id, cluster, lrank, adc): lrank is the probe rank
    * of the candidate's list, so an nprobe = 1 cut is a filter on the
    * same scored frame.
    */
  private[graft] def adcServe(s: SparkSession, c2: DataFrame,
      pcb2: DataFrame, codes: DataFrame, asgn: DataFrame, qf: DataFrame,
      mult: Int = 1, m: Int = 4, rot: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val qr = probe(s, c2, qf, mult)
      .select(col("qid"), col("c").as("cl"), col("rn").as("lrank"),
        residual(col("qv")).as("qres"))
    val adcT = subspaces(rot.fold(qr)(rotate(qr, "qres", _)), "qres", m)
      .join(broadcast(pcb2), "m")
      .select(col("qid"), col("cl"), col("lrank"), col("m"),
        col("c").as("code"), graft.functions.VectorFunctions.l2_sq(
          s, col("sv"), col("centroid")).as("d2"))
    codes
      .join(asgn, "vec_id")
      .join(broadcast(adcT), Seq("cl", "m", "code"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy("qid", "vec_id", "cl", "lrank")
      .agg(sum(col("d2").cast(DecimalType(30, 12))).cast(DoubleType).as("adc0"))
      .select(col("qid"), col("vec_id"), col("cl").as("cluster"),
        col("lrank"), round(col("adc0"), 4).as("adc"))
  }

  /** Index persistence round-trip — the production index lifecycle
    * that q_ann_ivfpq's one-shot fit elides: BUILD the IVF-PQ index
    * tables once, WRITE them as parquet (coarse centroids, PQ
    * codebooks, codes, list assignments — bytes per vector, the only
    * state a serving tier holds), READ them back, and SERVE the query
    * from the loaded tables through the full [[serveFunnel]]: the
    * [[adcServe]] pass plus the exact re-rank tier at the DERIVED
    * shortlist width ([[shortlistWidth]]) — the operating point the
    * round-10 ~sf1 panel measured, now what the persisted stack
    * actually serves. At 100 TB build and serve are different clusters
    * on different days; this query proves the hand-off loses nothing —
    * it is oracled against the SAME DuckDB twin as q_ann_rerank, so the
    * parquet round-trip must reproduce the in-memory funnel
    * bit-for-bit. The result is checkpointed before the temp index dir
    * is deleted.
    */
  private def annPersist(s: SparkSession, dir: String): DataFrame = {
    val (c2, pcb2, codes, asgn) = ivfPqIndex(emb(s, dir))
    Publish.scratch("graft_ivfpq_idx") { idx =>
      def load(t: String): DataFrame = s.read.parquet(s"$idx/$t")
      Seq("coarse" -> c2, "codebooks" -> pcb2, "codes" -> codes,
        "assign" -> asgn).foreach { case (t, df) =>
        df.write.mode("overwrite").parquet(s"$idx/$t")
      }
      serveFunnel(s, dir, load("coarse"), load("codebooks"), load("codes"),
        load("assign")).localCheckpoint(true)
    }
  }

  /** Encode vectors ONTO a frozen index — the add-with-assign half of
    * incremental maintenance: route each vector to its nearest FROZEN
    * coarse centroid ([[kmAssign]], lowest-c ties), PQ-encode its
    * residual against the FROZEN codebooks ([[pqAssign]], lowest-code
    * ties). No Lloyd pass runs; both argmins are deterministic
    * functions of fixed centroid tables, which is what makes the whole
    * upsert fully oracle-able. Returns (assignments (vec_id, cl), codes
    * (vec_id, m, code)) — the rows a production writer APPENDS to the
    * persisted q_ann_persist tables.
    */
  private[graft] def encodeOnto(c2: DataFrame, pcb2: DataFrame,
      vecs: DataFrame): (DataFrame, DataFrame) = {
    val resN = residuals(kmAssign(vecs, c2), c2)
    (resN.select(col("vec_id"), col("cl")),
      pqAssign(subspaces(resN, "remb", 4), pcb2)
        .select(col("vec_id"), col("m"), col("c").as("code")))
  }

  /** The full serving funnel over explicit index tables for the query
    * vec_id 0 — [[adcServe]] at the derived probes, the ADC shortlist
    * cut at the derived width ([[shortlistWidth]]; one metadata-cheap
    * corpus count keeps that cut a distributed TakeOrderedAndProject —
    * a global rank window would single-partition the pool), then the
    * exact [[rerank]] to the final top-10. Serves q_ann_rerank,
    * q_ann_persist and q_ann_upsert, and is the seam for the STREAMING
    * upsert sink's spec ([[graft.streaming.StreamOps
    * .vectorUpsertSink]]): a served read over (frozen tables ∪
    * streamed generations) must equal the batch upsert bit-for-bit.
    */
  private[graft] def serveFunnel(s: SparkSession, dir: String,
      c2: DataFrame, pcb2: DataFrame, codes: DataFrame,
      asgn: DataFrame): DataFrame = {
    val e = emb(s, dir)
    val q = queryZero(e)
    rerank(s, adcServe(s, c2, pcb2, codes, asgn, q)
        .orderBy(byAdc: _*).limit(shortlistWidth(e.count())), e, q)
      .orderBy(byCos: _*).limit(10)
      .select(col("vec_id"), col("cluster"), col("adc"), col("cos"))
  }

  /** The frozen-index fixture: base-generation fit + its index tables,
    * materialized — (c2, pcb2, codesB, asgnB, base). Seam shared by
    * [[annUpsert]] and the spec that proves encode idempotence
    * (re-encoding the base through [[encodeOnto]] reproduces the fit's
    * own tables bit-for-bit).
    */
  private[graft] def upsertParts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val base = emb(s, dir).filter(col("vec_id") % 5 =!= 4)
    val (c2, pcb2, codesB, asgnB) = ivfPqIndex(base)
    (c2, pcb2, codesB, asgnB, base)
  }

  /** Incremental ANN index maintenance (q_ann_upsert) — the missing
    * piece of the q_ann_persist lifecycle: production FAISS serves
    * `add`s onto a FROZEN quantizer between refits, and the reference's
    * whole loop is continuous ingest (src/main.go:248-329 — every batch
    * lands in the same corpus the next query reads). Here the base
    * generation (vec_id % 5 ≠ 4) trains the coarse quantizer and PQ
    * codebooks; the incoming generation (vec_id % 5 = 4) is
    * [[encodeOnto]]-assigned WITHOUT refitting; the merged tables —
    * exactly a row-append to the four persisted index tables, the
    * parquet analogue of the streaming near-dup index's `bid=`
    * generations — serve the standard funnel (ADC at derived probes +
    * exact re-rank at the derived shortlist). Output is the served
    * top-10 with an `is_new` flag: an upserted vector is immediately
    * searchable and competes on equal terms.
    *
    * Refit trigger (documented contract, asserted in spec): track
    * (a) cell-size skew max/mean of the merged assignment — upserts
    * concentrate in cells the frozen centroids fit worst — and (b) the
    * upserted fraction; refit when skew drifts past the fit-time value
    * or new/total exceeds ~20%. Encoding is idempotent (a re-sent
    * vector re-derives identical rows), so replayed appends are
    * dedup-safe on vec_id.
    */
  private def annUpsert(s: SparkSession, dir: String): DataFrame = {
    val (c2, pcb2, codesB, asgnB, _) = upsertParts(s, dir)
    val (asgnN, codesN) = encodeOnto(c2, pcb2,
      emb(s, dir).filter(col("vec_id") % 5 === 4))
    serveFunnel(s, dir, c2, pcb2, codesB.unionByName(codesN),
      asgnB.unionByName(asgnN))
      .withColumn("is_new", (col("vec_id") % 5 === 4).cast("int"))
  }

  /** The REFIT TRIGGER as a first-class report (q_ann_drift) — at
    * 100 TB the "when do we refit the quantizer" decision is a daily
    * dashboard row, not a test assertion. Two scenarios over the same
    * frozen fit: the natural held-out batch (uniform — the trigger
    * must stay quiet) and a planted batch cloning the fit-time max
    * cell's members (skewed — the trigger must fire). Emits, per
    * scenario, the documented drift inputs — fit-time cell-size skew
    * (max/mean over the coarse assignment), merged skew after the
    * upsert, upserted fraction — and the refit boolean:
    * merged_skew > 1.5·fit_skew OR frac > 0.2. Every input is an
    * exact integer count; each output is ONE IEEE division/compare,
    * so the DuckDB twin replays it bit-for-bit. Scale shape: one
    * bounded-key hash agg per scenario over √N cells + the same
    * broadcast-argmax assign the serving path uses — no new shuffle
    * class.
    */
  private def annDrift(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val base = e.filter(col("vec_id") % 5 =!= 4)
    val (a2r, c2) = kmeansFit(base)
    val a2 = a2r.select(col("vec_id"), col("embedding"), col("c"))
    // route a batch onto the FROZEN centroids — the coarse half of
    // encodeOnto (same kmAssign argmax, same ties)
    def assignOnto(vecs: DataFrame): DataFrame = kmAssign(vecs, c2).select("c")
    val uni = e.filter(col("vec_id") % 5 === 4)
    val cnts = a2.groupBy("c").count()
    val maxCl = cnts.orderBy(col("count").desc, col("c")).limit(1).select("c")
    val skewed = a2.join(broadcast(maxCl), "c")
      .select((col("vec_id") + lit(10000000L)).as("vec_id"), col("embedding"))
    def stats(asg: DataFrame, p: String): DataFrame =
      asg.groupBy("c").count().agg(
        max("count").as(p + "mx"), count(lit(1)).as(p + "cells"),
        sum("count").as(p + "tot"))
    val fit = stats(a2.select(col("c")), "f")
    def row(scn: String, newAsg: DataFrame): DataFrame = {
      val m = stats(a2.select(col("c")).unionByName(newAsg), "m")
      val nn = newAsg.agg(count(lit(1)).as("nn"))
      fit.crossJoin(m).crossJoin(nn).select(
        lit(scn).as("scenario"),
        col("ftot").as("n_base"), col("nn").as("n_new"),
        col("mcells").as("merged_cells"),
        ((col("fmx") * col("fcells")).cast("double") / col("ftot"))
          .as("fit_skew"),
        ((col("mmx") * col("mcells")).cast("double") / col("mtot"))
          .as("merged_skew"),
        (col("nn").cast("double") / (col("ftot") + col("nn")))
          .as("upserted_frac"))
        .withColumn("refit",
          (col("merged_skew") > col("fit_skew") * 1.5 ||
            col("upserted_frac") > 0.2).cast("int"))
    }
    row("uniform", assignOnto(uni))
      .unionByName(row("planted_skew", assignOnto(skewed)))
      .orderBy("scenario")
  }

  /** The served re-rank SHORTLIST WIDTH, derived from index geometry
    * the way every other budget in this family is (nlist = ⌈√N⌉,
    * nprobe = ⌈√nlist⌉): the exact tier re-ranks k·⌈√pool⌉ of the
    * ADC-scored candidate pool, where pool = nprobe·N/nlist is the
    * number of candidates the probe stage admits — the square-root
    * budget rule applied a third time, so no hand-tuned constant
    * silently under-serves when the corpus grows. The round-10 ~sf1
    * panel proved the shortlist — not the probe count — binds served
    * recall on near-orthogonal geometry (0.240 at the old fixed 50 vs
    * 0.366 at 200, exact ceiling 0.436); this derivation yields 420 at
    * that corpus (N = 20 000) — a superset of the measured 200-row
    * operating point on the same ADC order, so served recall ≥ 0.366
    * there by construction — and ~80 at the sf0.01 gate (N = 200).
    * Shared, via the same arithmetic, with every oracle replay
    * ([[derivedShortlistCut]]) — pure ceil/sqrt/divide on exact
    * integer-valued doubles, bit-identical across engines.
    */
  private[graft] def shortlistWidth(n: Long, k: Int = 10): Int = {
    val nlist = math.ceil(math.sqrt(n.toDouble))
    val nprobe = math.ceil(math.sqrt(nlist))
    (k * math.ceil(math.sqrt(nprobe * n.toDouble / nlist))).toInt
  }

  /** [[shortlistWidth]] as a broadcast 1-row frame (column `sl`) — the
    * form [[probe]] uses for nprobe, for the panel harness, where the
    * cut is a filter on a per-qid rank window and a driver-side count
    * would be a needless job on the already-loaded corpus.
    */
  private[graft] def shortlistDf(e: DataFrame): DataFrame =
    e.agg(count(lit(1)).cast("double").as("n"))
      .select((lit(10) * ceil(sqrt(
        ceil(sqrt(ceil(sqrt(col("n"))).cast("double"))).cast("double") *
          col("n") / ceil(sqrt(col("n"))).cast("double"))))
        .cast("int").as("sl"))

  /** Exact re-rank stage over an ADC shortlist (qid, vec_id, cluster,
    * adc, …): fetch ONLY those vectors (a primary-key join against the
    * vector store — the one place full vectors are read at all) and
    * exact-score them against their query — (qid, vec_id, cluster, adc,
    * cos), un-cut. This is what recovers the recall the lossy codes give
    * up: an answer mis-ranked below k by quantization error is
    * re-admitted by the exact pass, while the scan still never touches
    * more than shortlist + probed-codes rows.
    */
  private def rerank(s: SparkSession, short: DataFrame, e: DataFrame,
      qf: DataFrame): DataFrame =
    exactScore(s, short.join(e, "vec_id").join(broadcast(qf), "qid"),
      "cluster", "adc")

  /** IVF-PQ with an EXACT re-rank tier — the production FAISS serving
    * pipeline (Jégou et al. 2011 §V.B): the 4-byte ADC codes cut a
    * cheap shortlist at the DERIVED width ([[shortlistWidth]] —
    * k·⌈√pool⌉, the measured ~sf1 operating point with no hand-tuned
    * constant), then ONLY those vectors are fetched and scored with
    * the exact cosine against the query, and the final top-10 cut is
    * on the exact score ([[serveFunnel]]).
    */
  private def annRerank(s: SparkSession, dir: String): DataFrame = {
    val (c2, pcb2, codes, asgn) = ivfPqIndex(emb(s, dir))
    serveFunnel(s, dir, c2, pcb2, codes, asgn)
  }

  /** Size of the deterministic evaluation panel: the PanelSize lowest
    * vec_ids are the query set. Recall@10 with n = 1 has 0.1 resolution
    * and enormous variance — every serving decision graded on one query
    * vector is statistically unusable (the round-9 lesson); a 50-query
    * panel reports a MEAN recall per branch. One constant, shared by
    * the Spark harness and every oracle replay.
    */
  private[graft] val PanelSize = 50

  /** The query panel: (qid, qv) — a bounded broadcast frame. */
  private def panelQ(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < PanelSize)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))

  /** Per-query top-k cut: rank inside each panel query. The window
    * partitions on qid, so no single-partition sort ever forms — each
    * partition ranks one query's bounded candidate set.
    */
  private def topPerQ(df: DataFrame, ord: Seq[Column], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("rn",
        row_number().over(Window.partitionBy("qid").orderBy(ord: _*)))
      .filter(col("rn") <= k).drop("rn")
  }

  /** A panel branch's answer: its top-10 (qid, vec_id) per query. */
  private def panelTop10(df: DataFrame, ord: Seq[Column]): DataFrame =
    topPerQ(df, ord, 10).select("qid", "vec_id")

  /** The top-k of a single-query frame: one TakeOrderedAndProject. */
  private def topOne(df: DataFrame, ord: Seq[Column], k: Int): DataFrame =
    df.orderBy(ord: _*).limit(k)

  /** A shortlist cut inside a funnel: [[topPerQ]] on the panel,
    * [[topOne]] for a single query.
    */
  private type Cut = (DataFrame, Seq[Column], Int) => DataFrame

  /** [[topPerQ]] with the cut supplied as a broadcast 1-row frame
    * (column `sl`) — the data-derived-budget form.
    */
  private def topPerQCut(df: DataFrame, ord: Seq[Column],
      cut: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("rn",
        row_number().over(Window.partitionBy("qid").orderBy(ord: _*)))
      .crossJoin(broadcast(cut))
      .filter(col("rn") <= col("sl")).drop("rn", "sl")
  }

  /** Per-(method, qid) candidate sets of all fifteen index branches —
    * the harness core, exposed for the spec that asserts the
    * structural law recall(rerank) ≥ recall(ivfpq) PER QUERY. Every
    * branch is a single-query entry's stages run on the panel frame.
    * The tagged union is bounded (methods × panel × 10 rows), so it is
    * collected into a local frame and every fit, code table and score
    * frame the panel pinned is released ([[Rounds.collected]]).
    */
  private[graft] def recallPanelCands(s: SparkSession, dir: String): DataFrame =
    Rounds.collected(s)(panelCands(s, dir))

  private def panelCands(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val qp = panelQ(e)
    // ONE coarse fit and ONE PQ fit feed every index branch — and the
    // shared artifacts MATERIALIZE (localCheckpoint) before fanning
    // out: the branches consume them through differently-pruned
    // lineages, and exchange reuse alone left the executed plan
    // re-deriving the Lloyd passes per branch (311 parquet scans
    // measured; with the fit pinned the branches read bounded
    // materialized state instead). The ADC frame is scored once per
    // probe budget; the np1 and shortlist branches are filters on it.
    s.sparkContext.setJobDescription("recall: coarse fit + pq m4")
    val (a2, c2) = kmeansFit(e)
    val (pcb2, codesr, asgnr) = ivfPqIndexTables(a2, c2)
    val codes = codesr.localCheckpoint(true)
    val asgn = asgnr.localCheckpoint(true)
    s.sparkContext.setJobDescription("recall: adc serve m4")
    val scores = adcServe(s, c2, pcb2, codes, asgn, qp).localCheckpoint(true)
    val ivfpq = panelTop10(scores, byAdc)
    // the SERVED rerank branch cuts the shortlist at the DERIVED width
    // ([[shortlistWidth]] as a broadcast frame) — the round-10 panel
    // proved the shortlist, not the probe count, binds served recall
    // (0.240 at the old fixed 50 vs 0.366 at 200, ceiling 0.436), so
    // the serving default is the measured operating point with no
    // hand-tuned constant. The fixed-50 row prices what the derivation
    // buys. Structural: derived-sl ⊇ 50 on the same ADC order wherever
    // sl ≥ 50, so per-query hits can only grow.
    s.sparkContext.setJobDescription("recall: shortlist width")
    val slDf = shortlistDf(e).localCheckpoint(true)
    def served(sc: DataFrame): DataFrame =
      panelTop10(rerank(s, topPerQCut(sc, byAdc, slDf), e, qp), byCos)
    // the probe-budget ladder: the same index at TRIPLE the derived
    // nprobe (still data-derived — 3·⌈√nlist⌉, no magic constant).
    // The ~sf1 panel showed recall on this geometry is PROBE-bound
    // (exact-distance ivf 0.436 at the derived probes is the ceiling
    // every code-based branch lives under); these two rows price the
    // knob that actually moves it: the exact-distance ceiling and the
    // served rerank stack at 3× probes.
    s.sparkContext.setJobDescription("recall: adc serve np3x")
    val scores3 = adcServe(s, c2, pcb2, codes, asgn, qp, mult = 3)
      .localCheckpoint(true)
    // the OPQ-rotated PQ branch (round 14): SAME coarse lists, SAME
    // derived probes — only the residual space rotates (Householder,
    // distance-preserving) before the subspace split, so any recall
    // delta against 'ivfpq' is attributable to the split alone. One
    // extra PQ fit + ADC pass; codes/codebooks are rotated-space.
    s.sparkContext.setJobDescription("recall: opq decision")
    val uDf = opqHouseholder(s, dir).localCheckpoint(true)
    // when the learned rotation is the IDENTITY (u = 0 — the isotropy
    // trigger's verdict on this corpus), H·x = x and the rotated index
    // is bit-identical to the base one BY CONSTRUCTION: skip the
    // second fit and serve the branch from the already-scored frame (a
    // bounded 1-row driver read steers the plan — the toscalar class).
    // The r14 gates verified the equality the hard way first: both
    // branches computed independently hash-matched at sf0.01, ~sf1
    // adversarial, AND ~sf1 clustered before this fast path landed;
    // the DuckDB twin still replays the full rotated chain. On an
    // anisotropic corpus the second fit runs — the cost buys recall
    // only when the rotation is engaged.
    val rotationIsIdentity = uDf
      .select(expr("aggregate(u, 0D, (a, b) -> a + abs(b))").as("s"))
      .head().getDouble(0) == 0.0
    val ivfpqOpq = if (rotationIsIdentity) ivfpq else {
      val (pcbR, codesR, _) = ivfPqIndexTables(a2, c2, rot = Some(uDf))
      panelTop10(adcServe(s, c2, pcbR, codesR.localCheckpoint(true), asgn, qp,
        rot = Some(uDf)), byAdc)
    }
    // the two quantizer levers (round 15), priced separately and then
    // composed — the ~sf1 panel showed recall is PROBE-bound under the
    // M=4 codes, and the numpy-free in-engine pricing follows the same
    // discipline as the OPQ branch: measure, don't assert.
    // (a) ivfpq_m8 — M = d/8 = 8 PQ subspaces on the SAME base coarse
    //     lists at the SAME derived probes (8 B/vector vs 4): any
    //     recall delta against 'ivfpq' is attributable to the finer
    //     subspace split alone. One extra PQ fit + ADC pass.
    s.sparkContext.setJobDescription("recall: pq fit m8")
    val (pcb8, codes8r, _) = ivfPqIndexTables(a2, c2, m = 8)
    val codes8 = codes8r.localCheckpoint(true)
    s.sparkContext.setJobDescription("recall: adc serve m8")
    val scores8 = adcServe(s, c2, pcb8, codes8, asgn, qp, m = 8)
      .localCheckpoint(true)
    // (b) ivf_l4 — the coarse quantizer at DOUBLE the Lloyd budget
    //     (2 continued rounds over the materialized 2-round state =
    //     the 4-round fit), exact distances at the derived probes:
    //     the new probe-bound CEILING row. List quality, not code
    //     quality, is what this prices.
    s.sparkContext.setJobDescription("recall: lloyd continue l4")
    val (a4r, c4r) = kmeansContinue(e, a2, 2)
    val a4 = a4r.localCheckpoint(true)
    val c4 = c4r.localCheckpoint(true)
    // (c) ivf_pp — k-means|| seeding at the SAME 2-round Lloyd budget
    //     as the base fit, exact distances at the derived probes: the
    //     init-quality lever, priced against 'ivf' (same budget,
    //     different start) and 'ivf_l4' (double budget, same start)
    s.sparkContext.setJobDescription("recall: kmpp fit")
    val (appR, cppR) = kmppFit(e)
    val app = appR.localCheckpoint(true)
    val cpp = cppR.localCheckpoint(true)
    // (a)+(b) rerank_l4m8 — the composed serving point: M=8 codes on
    //     the 4-round coarse residuals, derived probes, derived
    //     shortlist, exact re-rank. This is the operating point the
    //     panel prices against 'rerank' (the current serving default).
    s.sparkContext.setJobDescription("recall: pq fit l4m8")
    val (pcbL8, codesL8r, asgnL8r) = ivfPqIndexTables(a4, c4, m = 8)
    val codesL8 = codesL8r.localCheckpoint(true)
    val asgnL8 = asgnL8r.localCheckpoint(true)
    s.sparkContext.setJobDescription("recall: adc serve l4m8")
    val scoresL8 = adcServe(s, c4, pcbL8, codesL8, asgnL8, qp, m = 8)
      .localCheckpoint(true)
    Seq(
      "lsh" -> panelTop10(lshCands(s, e, qp), byCos),
      "ivf" -> panelTop10(ivfCands(s, a2, c2, qp), byCos),
      "ivf_l4" -> panelTop10(ivfCands(s, a4, c4, qp), byCos),
      "ivf_pp" -> panelTop10(ivfCands(s, app, cpp, qp), byCos),
      "ivfpq_m8" -> panelTop10(scores8, byAdc),
      "rerank_l4m8" -> served(scoresL8),
      "ivfpq" -> ivfpq,
      "ivfpq_opq" -> ivfpqOpq,
      "ivfpq_np1" -> panelTop10(scores.filter(col("lrank") === 1), byAdc),
      "rerank" -> served(scores),
      "ivf_np3x" -> panelTop10(ivfCands(s, a2, c2, qp, mult = 3), byCos),
      "rerank_np3x" -> served(scores3),
      "rerank_sl50" ->
        panelTop10(rerank(s, topPerQ(scores, byAdc, 50), e, qp), byCos),
      "bq" -> panelTop10(bqCands(s, e, qp, topPerQ), byCos),
      "trunc16" -> panelTop10(truncCands(s, e, qp, topPerQ), byCos)
    ).map { case (m, df) =>
      df.select(lit(m).as("method"), col("qid"), col("vec_id"))
    }.reduce(_ unionByName _)
  }

  /** Mean recall@10 per method of tagged candidates (method, qid,
    * vec_id) against the per-query ground truth (qid, vec_id) over the
    * panel `qp`. The truth is a (panel × 10)-row frame broadcast onto
    * the candidate union.
    */
  private def meanRecall(cands: DataFrame, truth: DataFrame,
      qp: DataFrame): DataFrame = {
    val nq = qp.agg(count(lit(1)).as("nq"))
    cands
      .join(broadcast(truth.withColumn("hit", lit(1))), Seq("qid", "vec_id"),
        "left")
      .groupBy("method")
      .agg(count(lit(1)).as("n_candidates"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("hits"))
      .crossJoin(broadcast(nq))
      .select(col("method"), col("nq").as("n_queries"),
        col("n_candidates"), col("hits"),
        round(col("hits").cast("double") /
          (lit(10.0) * col("nq").cast("double")), 4).as("mean_recall_at_10"))
      .orderBy("method")
  }

  /** FILTERED-ANN panel recall — the q_ann_filtered strategy graded
    * the way q_ann_recall grades the unfiltered indexes: per panel
    * query, the prefilter branch (allow-list semi-joined INTO the
    * probed candidate stream before any exact scoring) against the
    * brute-force-over-the-allowed-set ground truth. The mean recall IS
    * the measured cost of fixed probes under a selective predicate —
    * the number the single-query harness could only resolve to 0.1.
    */
  private def annFilteredRecall(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val qp = panelQ(e)
    val (a2, c2) = kmeansFit(e)
    val allow = frAllow(s, dir)
    meanRecall(
      panelTop10(ivfCands(s, a2.join(allow, "vec_id"), c2, qp), byCos)
        .select(lit("ivf_prefilter").as("method"), col("qid"), col("vec_id")),
      panelTop10(bruteCands(s, e.join(allow, "vec_id"), qp), byCos), qp)
  }

  /** ANN evaluation harness — MEAN recall@10 of every index family
    * (LSH multi-probe, trained IVF, IVF-PQ/ADC at the derived and the
    * minimum probe count, ADC→exact re-rank, binary quantization,
    * truncated dimensions) against the exact per-query brute-force
    * top-10, over a deterministic [[PanelSize]]-query panel: the
    * acceptance gate a production vector-store rollout runs before
    * switching index types. One coarse fit, one PQ fit, one ADC pass
    * serve all three IVF-PQ branches; the brute ground truth is a
    * (panel × 10)-row frame broadcast onto the tagged candidate union.
    * Every branch is deterministic, so the recall table itself is
    * fully oracled — the DuckDB twin replays the same shared chain.
    */
  private def annRecall(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val qp = panelQ(e)
    meanRecall(recallPanelCands(s, dir),
      panelTop10(bruteCands(s, e, qp), byCos), qp)
  }

  /** Composed quantize→cluster pipeline (VERDICT r3 item 8): int8
    * symmetric quantization (the storage format a 100 TB embedding
    * corpus actually ships) → dequantize → 2-pass Lloyd k-means over
    * the RECONSTRUCTED vectors → per-cluster report carrying both the
    * clustering quality (mean cos to centroid) and the quantization
    * cost (mean reconstruction MSE). The per-vector MSE rides a
    * vec_id equi-join back onto the final assignment — co-keyed on the
    * primary key, so at scale it is one co-partitioned join, never a
    * broadcast of the corpus. Dequantized values are exact doubles
    * (floor(v*sc+0.5)/sc) in both engines, so the whole unrolled
    * k-means stays oracle-exact on top of the quantized corpus.
    */
  private def embedPipeline(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    // materialize the dequantized corpus ONCE (r15 optimization): the
    // k-means passes and the error branch each re-derive `deq` through
    // lineage, and column pruning makes Catalyst inline the `sc` alias
    // INTO the per-element lambda — the executed plan showed
    // `array_max(transform(embedding, …))` recomputed per element
    // (O(d²) interpreted work per row, ~2.5 s CPU per pass at sf0.1).
    // One checkpoint evaluates ma/sc/deq once per row; every pass then
    // reads plain attributes. (At 100 TB this is the standard
    // materialize-the-reconstructed-corpus step before an iterated fit.)
    val q = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
        array_max(transform(col("embedding"), v => abs(v.cast("double")))).as("ma"))
      .withColumn("sc", when(col("ma") > 0, lit(127.0) / col("ma")).otherwise(lit(0.0)))
      .withColumn("deq",
        when(col("ma") > 0, transform(col("embedding"),
          v => floor(v.cast("double") * col("sc") + lit(0.5)) / col("sc")))
        .otherwise(transform(col("embedding"), v => v.cast("double"))))
      .localCheckpoint(true)
    val errs = q.select(col("vec_id"),
      round(aggregate(zip_with(col("embedding"), col("deq"),
          (v, d) => (v.cast("double") - d) * (v.cast("double") - d)),
        lit(0.0), (a, x) => a + x) / size(col("embedding")), 10).as("mse"))
    val (a2, _) = kmeansFit(q.select(col("vec_id"), col("deq").as("embedding")))
    a2.join(errs, "vec_id")
      .groupBy(col("c").as("cluster"))
      .agg(cnt.as("n_vecs"),
        round(sum(col("cos").cast(DecimalType(30, 12))).cast(DoubleType) /
          count(lit(1)), 4).as("mean_cos"),
        round(sum(col("mse").cast(DecimalType(30, 14))).cast(DoubleType) /
          count(lit(1)), 10).as("mean_mse"))
      .orderBy("cluster")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_embed_pipeline" -> (embedPipeline _),
    "q_embed_quantize" -> (embedQuantize _),
    "q_sim_scores" -> (simScores _),
    "q_sim_topk" -> (simTopk _),
    "q_ann_lsh" -> (annLsh _),
    "q_ann_ivf" -> (annIvf _),
    "q_dedup_embed" -> (dedupEmbed _),
    "q_pq_encode" -> (pqEncode _),
    "q_ann_ivfpq" -> (annIvfPq _),
    "q_ann_persist" -> (annPersist _),
    "q_ann_upsert" -> (annUpsert _),
    "q_ann_drift" -> (annDrift _),
    "q_ann_rerank" -> (annRerank _),
    "q_ann_recall" -> (annRecall _),
    "q_embed_centroid" -> (embedCentroid _),
    "q_embed_kmeans" -> (embedKmeans _),
    "q_semdedup" -> (semDedup _),
    "q_ann_ivf_trained" -> (annIvfTrained _),
    "q_ann_filtered" -> (annFiltered _),
    "q_ann_filtered_recall" -> (annFilteredRecall _),
    "q_ann_bq" -> (annBq _),
    "q_ann_truncdim" -> (annTruncdim _),
    "q_hard_negatives" -> (hardNegatives _),
    "q_embed_pca" -> (embedPca _),
    "q_cluster_profile" -> (clusterProfile _),
    "q_multimodal_join" -> (multimodalJoin _)
  )

  /** DuckDB double cosine over list columns (≡ the Spark dot/norm HOF
    * fold order — proven bit-identical across the vector oracles).
    */
  private def dcos(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), x -> x[1] * x[2])) / " +
      s"(sqrt(list_sum(list_transform($a, v -> v * v))) * sqrt(list_sum(list_transform($b, v -> v * v))))"

  /** Float-list dot/norm (elements cast per term — the raw `embedding`
    * column) and the 6-bit LSH signature over it. The oracle's
    * hyperplanes are generated FROM the same `planes` constants the
    * Spark operator uses (first 6, float-rounded) — shortest-round-trip
    * float literals parse back to the identical float32 in DuckDB, and
    * the double-accumulated dot matches the native dot_product fold, so
    * both engines compute the same sign bits and the same probe sets.
    */
  private def fdot(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
  private def fnorm(a: String): String =
    s"sqrt(list_sum(list_transform($a, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE))))"
  private def planeSql(p: Int): String =
    "[" + planes(p).map(x => s"CAST(${x.toFloat} AS FLOAT)").mkString(",") + "]"
  private def lshSigSql: String = (0 until 6).map { p =>
    s"(CASE WHEN ${fdot("embedding", planeSql(p))} >= 0 THEN ${1L << p} ELSE 0 END)"
  }.mkString(" + ")

  /** Decimal-exact per-cluster centroids of `src` (the kmeansFit twin). */
  private def cent(src: String): String =
    s"(SELECT c, list(m ORDER BY pos) AS centroid FROM (" +
      s"SELECT c, pos, CAST(sum(CAST(emb[CAST(pos AS INT)] AS DECIMAL(18,8))) AS DOUBLE) / count(*) AS m " +
      s"FROM $src CROSS JOIN range(1, ${dim + 1}) t(pos) GROUP BY c, pos) GROUP BY c)"

  /** The two unrolled Lloyd iterations exactly as kmeansFit runs them:
    * e → a0 (deterministic init) → c1 → a1 → c2 → a2 (final assignment),
    * shared by every oracle that replays the trained quantizer
    * (q_hard_negatives, q_cluster_profile).
    */
  // every CTE is MATERIALIZED: the unroll is a deep reference DAG and
  // DuckDB's inlining heuristic can re-expand it as a tree — at ~sf1 the
  // q_ann_recall composition (5 replays) ran the buffer pool out of
  // memory before these hints (the bpeMergeCtes lesson, same cause)
  private val kmeansUnrollCtes: String = kmeansUnrollCtesOn("embeddings")

  /** The same unroll over a restricted source relation — the
    * q_ann_upsert oracle fits the frozen quantizer on the BASE
    * generation only.
    */
  private def kmeansUnrollCtesOn(src: String): String =
    s"e AS MATERIALIZED (SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM $src), " +
      "a0 AS MATERIALIZED (SELECT vec_id, emb, CAST(vec_id % (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM e) AS INT) AS c FROM e), " +
      s"c1 AS MATERIALIZED ${cent("a0")}, " +
      s"s1 AS MATERIALIZED (SELECT vec_id, emb, c, ${dcos("emb", "centroid")} AS cos FROM e CROSS JOIN c1), " +
      "a1 AS MATERIALIZED (SELECT vec_id, emb, c FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c) AS rn FROM s1) WHERE rn = 1), " +
      s"c2 AS MATERIALIZED ${cent("a1")}, " +
      s"s2 AS MATERIALIZED (SELECT vec_id, emb, c, ${dcos("emb", "centroid")} AS cos FROM e CROSS JOIN c2), " +
      "a2 AS MATERIALIZED (SELECT vec_id, emb, c FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c) AS rn FROM s2) WHERE rn = 1)"

  /** The derived probe count, computed from the trained centroid table
    * exactly as the Spark side's [[probe]]: nprobe = ⌈√nlist⌉.
    */
  private val derivedProbeCut: String =
    "(SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM c2)"

  /** The probe-ladder cut: 3 × the derived nprobe (still data-derived —
    * the recall harness's probe-budget rows).
    */
  private val tripleProbeCut: String =
    "(SELECT CAST(3 * ceil(sqrt(count(*))) AS BIGINT) FROM c2)"

  /** The served shortlist width, re-derived exactly as the Spark
    * side's [[shortlistWidth]]: k·⌈√(nprobe·N/nlist)⌉ with
    * nlist = ⌈√N⌉ and nprobe = ⌈√nlist⌉ — the same ceil/sqrt/divide
    * chain on the corpus count, so both engines compute the identical
    * exact-integer-valued double at every SF.
    */
  private val derivedShortlistCut: String = derivedShortlistCutOn("e")

  private def derivedShortlistCutOn(src: String): String =
    "(SELECT CAST(10 * ceil(sqrt(ceil(sqrt(ceil(sqrt(count(*))))) * " +
      s"count(*) / ceil(sqrt(count(*))))) AS BIGINT) FROM $src)"

  /** The q_ann_upsert twin: frozen fit on the base generation
    * (vec_id % 5 ≠ 4), add-with-assign encode of the incoming
    * generation against the frozen c2/pcb2 tables, UNION ALL append,
    * and the standard serve funnel over the merged index — every stage
    * a deterministic argmin over fixed centroids.
    */
  private def annUpsertOracle: String =
    s"WITH ${kmeansUnrollCtesOn("(SELECT * FROM embeddings WHERE vec_id % 5 <> 4)")}, " +
      s"$pqFitCtes, " +
      "fe AS MATERIALIZED (SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings), " +
      "nv AS MATERIALIZED (SELECT vec_id, emb FROM fe WHERE vec_id % 5 = 4), " +
      // frozen coarse assignment of the incoming generation
      s"ns AS (SELECT nv.vec_id AS vec_id, nv.emb AS emb, c2.c AS c, ${dcos("emb", "centroid")} AS cos FROM nv CROSS JOIN c2), " +
      "na AS MATERIALIZED (SELECT vec_id, emb, c FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c) AS rn FROM ns) WHERE rn = 1), " +
      "nres AS MATERIALIZED (SELECT na.vec_id AS vec_id, na.c AS cl, list_transform(list_zip(na.emb, c2.centroid), x -> x[1] - x[2]) AS remb FROM na JOIN c2 USING (c)), " +
      // frozen PQ encode of the incoming residuals
      "nrsub AS (SELECT vec_id, cl, CAST(mm.m AS INT) AS m, remb[CAST(mm.m * 16 + 1 AS INT):CAST(mm.m * 16 + 16 AS INT)] AS sv FROM nres CROSS JOIN range(0, 4) mm(m)), " +
      s"npd AS (SELECT s.vec_id AS vec_id, s.m AS m, b.c AS c, ${dl2("s.sv", "b.centroid")} AS d2 FROM nrsub s JOIN pcb2 b USING (m)), " +
      "npa AS MATERIALIZED (SELECT vec_id, m, c FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, c) AS rn FROM npd) WHERE rn = 1), " +
      // merged index tables: a pure row-append
      "mres AS MATERIALIZED (SELECT vec_id, cl FROM res UNION ALL SELECT vec_id, cl FROM nres), " +
      "mcodes AS MATERIALIZED (SELECT vec_id, m, c FROM pa2 UNION ALL SELECT vec_id, m, c FROM npa), " +
      // standard serve funnel over the merged tables
      "q AS MATERIALIZED (SELECT emb AS qv FROM fe WHERE vec_id = 0), " +
      s"pbl AS (SELECT c2.c AS cl, c2.centroid AS centroid, ${dcos("centroid", "qv")} AS ls FROM c2 CROSS JOIN q), " +
      "pbr AS (SELECT cl, centroid, row_number() OVER (ORDER BY ls DESC, cl) AS rn FROM pbl), " +
      s"pb AS MATERIALIZED (SELECT cl, centroid FROM pbr WHERE rn <= $derivedProbeCut), " +
      "qr AS (SELECT cl, list_transform(list_zip(qv, centroid), x -> x[1] - x[2]) AS qres FROM pb CROSS JOIN q), " +
      "qrs AS (SELECT cl, CAST(mm.m AS INT) AS m, qres[CAST(mm.m * 16 + 1 AS INT):CAST(mm.m * 16 + 16 AS INT)] AS qsv FROM qr CROSS JOIN range(0, 4) mm(m)), " +
      s"adc AS MATERIALIZED (SELECT qrs.cl AS cl, qrs.m AS m, b.c AS code, ${dl2("qrs.qsv", "b.centroid")} AS d2 FROM qrs JOIN pcb2 b ON qrs.m = b.m), " +
      "cand AS (SELECT mcodes.vec_id AS vec_id, mres.cl AS cl, mcodes.m AS m, mcodes.c AS code FROM mcodes JOIN mres USING (vec_id) WHERE mcodes.vec_id <> 0), " +
      "scored AS MATERIALIZED (SELECT cand.vec_id AS vec_id, cand.cl AS cluster, " +
      "round(CAST(sum(CAST(adc.d2 AS DECIMAL(30,12))) AS DOUBLE), 4) AS adc " +
      "FROM cand JOIN adc ON cand.cl = adc.cl AND cand.m = adc.m AND cand.code = adc.code " +
      "GROUP BY cand.vec_id, cand.cl), " +
      "short AS (SELECT vec_id, cluster, adc FROM (SELECT *, " +
      "row_number() OVER (ORDER BY adc, vec_id) AS rn FROM scored) " +
      s"WHERE rn <= ${derivedShortlistCutOn("fe")}) " +
      "SELECT sh.vec_id AS vec_id, sh.cluster AS cluster, sh.adc AS adc, " +
      s"round(${dcos("fe.emb", "qv")}, 4) AS cos, " +
      "CAST(sh.vec_id % 5 = 4 AS INT) AS is_new " +
      "FROM short sh JOIN fe ON sh.vec_id = fe.vec_id CROSS JOIN q " +
      "ORDER BY cos DESC, vec_id LIMIT 10"

  /** The q_ann_drift twin: the same frozen base fit, both incoming
    * batches coarse-routed by the crossJoin+row_number argmax replay,
    * cell counts as exact BIGINTs, one IEEE division per skew/frac and
    * one compare for the trigger — no PQ stage is involved, so the
    * chain stops at the coarse assignment.
    */
  private def annDriftOracle: String =
    s"WITH ${kmeansUnrollCtesOn("(SELECT * FROM embeddings WHERE vec_id % 5 <> 4)")}, " +
      "cnt AS MATERIALIZED (SELECT c, CAST(count(*) AS BIGINT) AS n FROM a2 GROUP BY c), " +
      "fstat AS (SELECT max(n) AS fmx, CAST(count(*) AS BIGINT) AS fcells, CAST(sum(n) AS BIGINT) AS ftot FROM cnt), " +
      "maxcl AS (SELECT c FROM (SELECT c, row_number() OVER (ORDER BY n DESC, c) AS rn FROM cnt) WHERE rn = 1), " +
      "fe AS MATERIALIZED (SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings), " +
      "uni AS (SELECT vec_id, emb FROM fe WHERE vec_id % 5 = 4), " +
      "skw AS (SELECT a2.vec_id + 10000000 AS vec_id, a2.emb AS emb FROM a2 JOIN maxcl USING (c)), " +
      s"us AS (SELECT uni.vec_id AS vec_id, c2.c AS c, ${dcos("emb", "centroid")} AS cos FROM uni CROSS JOIN c2), " +
      "ua AS MATERIALIZED (SELECT c FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c) AS rn FROM us) WHERE rn = 1), " +
      s"ss AS (SELECT skw.vec_id AS vec_id, c2.c AS c, ${dcos("emb", "centroid")} AS cos FROM skw CROSS JOIN c2), " +
      "sa AS MATERIALIZED (SELECT c FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c) AS rn FROM ss) WHERE rn = 1), " +
      "mu AS (SELECT max(n) AS mmx, CAST(count(*) AS BIGINT) AS mcells, CAST(sum(n) AS BIGINT) AS mtot FROM " +
      "(SELECT c, CAST(count(*) AS BIGINT) AS n FROM (SELECT c FROM a2 UNION ALL SELECT c FROM ua) GROUP BY c)), " +
      "ms AS (SELECT max(n) AS mmx, CAST(count(*) AS BIGINT) AS mcells, CAST(sum(n) AS BIGINT) AS mtot FROM " +
      "(SELECT c, CAST(count(*) AS BIGINT) AS n FROM (SELECT c FROM a2 UNION ALL SELECT c FROM sa) GROUP BY c)), " +
      "un AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM ua), " +
      "sn AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM sa), " +
      "allr AS (" +
      "SELECT 'uniform' AS scenario, ftot AS n_base, nn AS n_new, mcells AS merged_cells, " +
      "CAST(fmx * fcells AS DOUBLE) / ftot AS fit_skew, " +
      "CAST(mmx * mcells AS DOUBLE) / mtot AS merged_skew, " +
      "CAST(nn AS DOUBLE) / (ftot + nn) AS upserted_frac " +
      "FROM fstat CROSS JOIN mu CROSS JOIN un " +
      "UNION ALL " +
      "SELECT 'planted_skew' AS scenario, ftot AS n_base, nn AS n_new, mcells AS merged_cells, " +
      "CAST(fmx * fcells AS DOUBLE) / ftot AS fit_skew, " +
      "CAST(mmx * mcells AS DOUBLE) / mtot AS merged_skew, " +
      "CAST(nn AS DOUBLE) / (ftot + nn) AS upserted_frac " +
      "FROM fstat CROSS JOIN ms CROSS JOIN sn) " +
      "SELECT scenario, n_base, n_new, merged_cells, fit_skew, merged_skew, upserted_frac, " +
      "CAST(merged_skew > fit_skew * 1.5 OR upserted_frac > 0.2 AS INT) AS refit " +
      "FROM allr ORDER BY scenario"

  /** The full serving-funnel oracle — ADC at the derived probes, exact
    * re-rank over the derived-width shortlist — shared verbatim by
    * q_ann_rerank (in-memory fit) and q_ann_persist (parquet
    * round-trip): the persisted index must serve the identical answer.
    */
  private def rerankOracle: String =
    s"WITH ${ivfPqOracleCtes(derivedProbeCut)}, " +
      "short AS (SELECT vec_id, cluster, adc FROM (SELECT *, " +
      "row_number() OVER (ORDER BY adc, vec_id) AS rn FROM scored) " +
      s"WHERE rn <= $derivedShortlistCut) " +
      "SELECT sh.vec_id AS vec_id, sh.cluster AS cluster, sh.adc AS adc, " +
      s"round(${dcos("e.emb", "qv")}, 4) AS cos " +
      "FROM short sh JOIN e ON sh.vec_id = e.vec_id CROSS JOIN q " +
      "ORDER BY cos DESC, vec_id LIMIT 10"

  /** L2² over aligned DuckDB lists (the Spark zip_with/aggregate fold). */
  private def dl2(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), x -> (x[1] - x[2]) * (x[1] - x[2])))"

  /** The PQ half of the index as oracle CTEs: residuals from the coarse
    * assignment, two unrolled Lloyd rounds per subspace, final codes —
    * query-independent, shared by the single-query IVF-PQ oracles and
    * the panel recall harness (ONE replay per statement).
    */
  private def pqFitCtes: String =
    // residual from the assigned coarse centroid
    "res AS MATERIALIZED (SELECT a2.vec_id AS vec_id, a2.c AS cl, list_transform(list_zip(a2.emb, c2.centroid), x -> x[1] - x[2]) AS remb FROM a2 JOIN c2 USING (c)), " +
      pqFitCtesOn("res", "")

  /** The two unrolled Lloyd rounds per subspace over `src`
    * (vec_id, cl, remb), every CTE suffixed `x` — so the recall
    * panel's OPQ branch replays the identical fit over the ROTATED
    * residual table, and the M=8 branches (round 15) replay it at the
    * finer subspace split, all without name collisions. `m` is the
    * subspace count (subDim = 64/m).
    */
  private def pqFitCtesOn(src: String, x: String, m: Int = 4): String = {
    val subDim = dim / m
    s"rsub$x AS MATERIALIZED (SELECT vec_id, cl, CAST(mm.m AS INT) AS m, remb[CAST(mm.m * $subDim + 1 AS INT):CAST(mm.m * $subDim + $subDim AS INT)] AS sv FROM $src CROSS JOIN range(0, $m) mm(m)), " +
      s"p0$x AS MATERIALIZED (SELECT vec_id, m, sv, CAST(vec_id % $PqCodewords AS INT) AS c FROM rsub$x), " +
      s"pce1$x AS MATERIALIZED (SELECT m, c, t.pos AS pos, CAST(sum(CAST(sv[CAST(t.pos AS INT)] AS DECIMAL(18,8))) AS DOUBLE) / count(*) AS mu FROM p0$x CROSS JOIN range(1, ${subDim + 1}) t(pos) GROUP BY 1, 2, 3), " +
      s"pcb1$x AS MATERIALIZED (SELECT m, c, list(mu ORDER BY pos) AS centroid FROM pce1$x GROUP BY m, c), " +
      s"pd1$x AS MATERIALIZED (SELECT s.vec_id AS vec_id, s.m AS m, s.sv AS sv, b.c AS c, ${dl2("s.sv", "b.centroid")} AS d2 FROM rsub$x s JOIN pcb1$x b USING (m)), " +
      s"pa1$x AS MATERIALIZED (SELECT vec_id, m, sv, c FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, c) AS rn FROM pd1$x) WHERE rn = 1), " +
      s"pce2$x AS MATERIALIZED (SELECT m, c, t.pos AS pos, CAST(sum(CAST(sv[CAST(t.pos AS INT)] AS DECIMAL(18,8))) AS DOUBLE) / count(*) AS mu FROM pa1$x CROSS JOIN range(1, ${subDim + 1}) t(pos) GROUP BY 1, 2, 3), " +
      s"pcb2$x AS MATERIALIZED (SELECT m, c, list(mu ORDER BY pos) AS centroid FROM pce2$x GROUP BY m, c), " +
      s"pd2$x AS MATERIALIZED (SELECT s.vec_id AS vec_id, s.m AS m, b.c AS c, ${dl2("s.sv", "b.centroid")} AS d2 FROM rsub$x s JOIN pcb2$x b USING (m)), " +
      s"pa2$x AS MATERIALIZED (SELECT vec_id, m, c FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, c) AS rn FROM pd2$x) WHERE rn = 1)"
  }

  /** The PCA power-iteration chain over the existing `e` CTE, every
    * name prefixed pc_ (the recall oracle also defines s1/s2 —
    * kmeans unroll names) — shared by the q_embed_pca oracle and the
    * recall panel's OPQ rotation. Ends at pc_v3 (column v) and the
    * Householder vector opq_u (column u).
    */
  private def pcaDirCtes: String = {
    val mdU = "CAST(list_reduce(list_transform(range(1, 7), c -> " +
      "CAST(strpos('0123456789abcdef', substr(md5('pca:' || CAST(vec_id AS VARCHAR)), CAST(c AS INT), 1)) - 1 AS BIGINT)), " +
      "(a, b) -> a * 16 + b) AS BIGINT)"
    val steps = (1 to 3).map { k =>
      val prev = if (k == 1) "pc_v0" else s"pc_v${k - 1}"
      s"pc_s$k AS (SELECT mr.i AS i, list_sum(list_transform(list_zip(marr, v), x -> x[1] * x[2])) AS y FROM pc_mr mr CROSS JOIN $prev), " +
        s"pc_y$k AS (SELECT list(y ORDER BY i) AS yv FROM pc_s$k), " +
        s"pc_v$k AS MATERIALIZED (SELECT list_transform(yv, x -> x / sqrt(list_sum(list_transform(yv, t -> t * t)))) AS v FROM pc_y$k)"
    }.mkString(", ")
    s"pc_samp AS MATERIALIZED (SELECT vec_id, emb FROM e WHERE $mdU < 8388608), " +
      "pc_cells AS (SELECT ii.i AS i, jj.j AS j, emb[CAST(ii.i AS INT)] * emb[CAST(jj.j AS INT)] AS p " +
      s"FROM pc_samp CROSS JOIN range(1, ${dim + 1}) ii(i) CROSS JOIN range(1, ${dim + 1}) jj(j)), " +
      "pc_sxx AS MATERIALIZED (SELECT i, j, CAST(sum(CAST(p AS DECIMAL(30,14))) AS DOUBLE) AS sv FROM pc_cells GROUP BY i, j), " +
      "pc_sx AS MATERIALIZED (SELECT ii.i AS i, CAST(sum(CAST(emb[CAST(ii.i AS INT)] AS DECIMAL(30,14))) AS DOUBLE) AS sx " +
      s"FROM pc_samp CROSS JOIN range(1, ${dim + 1}) ii(i) GROUP BY 1), " +
      "pc_nn AS (SELECT count(*) AS n FROM pc_samp), " +
      "pc_m AS (SELECT pc_sxx.i AS i, pc_sxx.j AS j, CAST(n AS DOUBLE) * pc_sxx.sv - sa.sx * sb.sx AS m " +
      "FROM pc_sxx JOIN pc_sx sa ON pc_sxx.i = sa.i JOIN pc_sx sb ON pc_sxx.j = sb.i CROSS JOIN pc_nn), " +
      "pc_mr AS MATERIALIZED (SELECT i, list(m ORDER BY j) AS marr FROM pc_m GROUP BY i), " +
      s"pc_v0 AS (SELECT list_transform(range(1, ${dim + 1}), x -> 1.0) AS v), " +
      steps + ", " +
      // the isotropy trigger (λ̂·d > 3·trace) and the Householder
      // u = normalize(v − (1/√64)·1); an isotropic corpus (or a
      // degenerate v ≈ t) collapses to u = 0 (H = I) — the exact twin
      // of opqHouseholderOf, every fold in fixed index order
      "opq_y4 AS (SELECT list(y ORDER BY i) AS yv FROM (SELECT mr.i AS i, " +
      "list_sum(list_transform(list_zip(marr, v), x -> x[1] * x[2])) AS y FROM pc_mr mr CROSS JOIN pc_v3) t4), " +
      "opq_tr AS (SELECT list_sum(list(m ORDER BY i)) AS tr FROM pc_m WHERE i = j), " +
      "opq_lam AS (SELECT list_sum(list_transform(list_zip(v, yv), x -> x[1] * x[2])) AS lam FROM pc_v3 CROSS JOIN opq_y4), " +
      s"opq_d AS (SELECT list_transform(v, x -> x - 0.125) AS dv, (lam * $dim.0 > 3.0 * tr) AS aniso " +
      "FROM pc_v3 CROSS JOIN opq_lam CROSS JOIN opq_tr), " +
      "opq_n AS (SELECT dv, aniso, list_sum(list_transform(dv, t -> t * t)) AS n2 FROM opq_d), " +
      "opq_u AS MATERIALIZED (SELECT list_transform(dv, x -> CASE WHEN aniso AND n2 > 0 THEN x / sqrt(n2) ELSE 0.0 END) AS u FROM opq_n)"
  }

  /** H·x in SQL: the dot product and the per-element axpy in the SAME
    * fold order as the Spark [[rotate]] helper.
    */
  private def rotateSql(src: String, cols: String, arr: String): String =
    s"(SELECT $cols, list_transform(list_zip($arr, u), x -> x[1] - 2 * dp * x[2]) AS $arr " +
      s"FROM (SELECT $src.*, opq_u.u AS u, " +
      s"list_sum(list_transform(list_zip($src.$arr, opq_u.u), x -> x[1] * x[2])) AS dp " +
      s"FROM $src CROSS JOIN opq_u) t)"

  /** Shared IVF-PQ/ADC oracle chain through `scored` (the un-cut
    * candidate table), parameterized by the probe-stage rank cut so
    * q_ann_ivfpq, q_ann_rerank and the recall harness's nprobe-trade
    * row all replay the identical quantizer/encode/ADC stages.
    */
  private def ivfPqOracleCtes(probeCut: String): String = {
    def l2(a: String, b: String): String = dl2(a, b)
    s"$kmeansUnrollCtes, " +
      s"$pqFitCtes, " +
      // probe: top-nprobe coarse lists by query->centroid cosine
      "q AS MATERIALIZED (SELECT emb AS qv FROM e WHERE vec_id = 0), " +
      s"pbl AS MATERIALIZED (SELECT c2.c AS cl, c2.centroid AS centroid, ${dcos("centroid", "qv")} AS ls FROM c2 CROSS JOIN q), " +
      "pbr AS MATERIALIZED (SELECT cl, centroid, row_number() OVER (ORDER BY ls DESC, cl) AS rn FROM pbl), " +
      s"pb AS MATERIALIZED (SELECT cl, centroid FROM pbr WHERE rn <= $probeCut), " +
      // per-list query residual -> (list, m, code) ADC table
      "qr AS MATERIALIZED (SELECT cl, list_transform(list_zip(qv, centroid), x -> x[1] - x[2]) AS qres FROM pb CROSS JOIN q), " +
      "qrs AS MATERIALIZED (SELECT cl, CAST(mm.m AS INT) AS m, qres[CAST(mm.m * 16 + 1 AS INT):CAST(mm.m * 16 + 16 AS INT)] AS qsv FROM qr CROSS JOIN range(0, 4) mm(m)), " +
      s"adc AS MATERIALIZED (SELECT qrs.cl AS cl, qrs.m AS m, b.c AS code, ${l2("qrs.qsv", "b.centroid")} AS d2 FROM qrs JOIN pcb2 b ON qrs.m = b.m), " +
      "cand AS MATERIALIZED (SELECT pa2.vec_id AS vec_id, res.cl AS cl, pa2.m AS m, pa2.c AS code FROM pa2 JOIN res USING (vec_id) WHERE pa2.vec_id <> 0), " +
      "scored AS MATERIALIZED (SELECT cand.vec_id AS vec_id, cand.cl AS cluster, " +
      "round(CAST(sum(CAST(adc.d2 AS DECIMAL(30,12))) AS DOUBLE), 4) AS adc " +
      "FROM cand JOIN adc ON cand.cl = adc.cl AND cand.m = adc.m AND cand.code = adc.code " +
      "GROUP BY cand.vec_id, cand.cl)"
  }

  private val oracleBase: Map[String, String] = Map(
    "q_embed_pipeline" -> {
      val cent = (src: String) =>
        s"(SELECT c, list(m ORDER BY pos) AS centroid FROM (" +
          s"SELECT c, pos, CAST(sum(CAST(emb[CAST(pos AS INT)] AS DECIMAL(18,8))) AS DOUBLE) / count(*) AS m " +
          s"FROM $src CROSS JOIN range(1, 65) t(pos) GROUP BY c, pos) GROUP BY c)"
      val dcos = (a: String, b: String) =>
        s"list_sum(list_transform(list_zip($a, $b), x -> x[1] * x[2])) / " +
          s"(sqrt(list_sum(list_transform($a, v -> v * v))) * sqrt(list_sum(list_transform($b, v -> v * v))))"
      "WITH m AS (SELECT vec_id, embedding, list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) AS ma FROM embeddings), " +
        "qq AS (SELECT vec_id, embedding, ma, CASE WHEN ma > 0 THEN 127.0 / ma ELSE 0.0 END AS sc FROM m), " +
        "d AS (SELECT vec_id, embedding, ma, sc, CASE WHEN ma > 0 THEN list_transform(embedding, v -> floor(CAST(v AS DOUBLE) * sc + 0.5) / sc) " +
        "ELSE list_transform(embedding, v -> CAST(v AS DOUBLE)) END AS emb FROM qq), " +
        "err AS (SELECT vec_id, round(list_sum(list_transform(range(1, CAST(len(embedding) + 1 AS BIGINT)), i -> " +
        "(CAST(embedding[CAST(i AS INT)] AS DOUBLE) - emb[CAST(i AS INT)]) * " +
        "(CAST(embedding[CAST(i AS INT)] AS DOUBLE) - emb[CAST(i AS INT)]))) / len(embedding), 10) AS mse FROM d), " +
        "e AS (SELECT vec_id, emb FROM d), " +
        "a0 AS (SELECT vec_id, emb, CAST(vec_id % (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM e) AS INT) AS c FROM e), " +
        s"c1 AS ${cent("a0")}, " +
        s"s1 AS (SELECT vec_id, emb, c, ${dcos("emb", "centroid")} AS cos FROM e CROSS JOIN c1), " +
        "a1 AS (SELECT vec_id, emb, c FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c) AS rn FROM s1) WHERE rn = 1), " +
        s"c2 AS ${cent("a1")}, " +
        s"s2 AS (SELECT vec_id, emb, c, ${dcos("emb", "centroid")} AS cos FROM e CROSS JOIN c2), " +
        "a2 AS (SELECT vec_id, c, cos FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c) AS rn FROM s2) WHERE rn = 1) " +
        "SELECT c AS cluster, CAST(count(*) AS BIGINT) AS n_vecs, " +
        "round(CAST(sum(CAST(cos AS DECIMAL(30,12))) AS DOUBLE) / count(*), 4) AS mean_cos, " +
        "round(CAST(sum(CAST(mse AS DECIMAL(30,14))) AS DOUBLE) / count(*), 10) AS mean_mse " +
        "FROM a2 JOIN err USING (vec_id) GROUP BY c ORDER BY c"
    },
    "q_pq_encode" ->
      ("WITH e AS (SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings), " +
        "sub AS (SELECT vec_id, CAST(mm.m AS INT) AS m, emb[CAST(mm.m * 16 + 1 AS INT):CAST(mm.m * 16 + 16 AS INT)] AS sv FROM e CROSS JOIN range(0, 4) mm(m)), " +
        s"a0 AS (SELECT vec_id, m, sv, CAST(vec_id % $PqCodewords AS INT) AS c FROM sub), " +
        // round 1: decimal-exact per-(subspace, code) means, L2 argmin
        // with the (d2, c) tie order — kmeansFit's unroll, per subspace
        "ce1 AS (SELECT m, c, t.pos AS pos, CAST(sum(CAST(sv[CAST(t.pos AS INT)] AS DECIMAL(18,8))) AS DOUBLE) / count(*) AS mu FROM a0 CROSS JOIN range(1, 17) t(pos) GROUP BY 1, 2, 3), " +
        "cb1 AS (SELECT m, c, list(mu ORDER BY pos) AS centroid FROM ce1 GROUP BY m, c), " +
        "d1 AS (SELECT s.vec_id AS vec_id, s.m AS m, s.sv AS sv, b.c AS c, list_sum(list_transform(list_zip(s.sv, b.centroid), x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d2 FROM sub s JOIN cb1 b USING (m)), " +
        "a1 AS (SELECT vec_id, m, sv, c, d2 FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, c) AS rn FROM d1) WHERE rn = 1), " +
        "ce2 AS (SELECT m, c, t.pos AS pos, CAST(sum(CAST(sv[CAST(t.pos AS INT)] AS DECIMAL(18,8))) AS DOUBLE) / count(*) AS mu FROM a1 CROSS JOIN range(1, 17) t(pos) GROUP BY 1, 2, 3), " +
        "cb2 AS (SELECT m, c, list(mu ORDER BY pos) AS centroid FROM ce2 GROUP BY m, c), " +
        "d2r AS (SELECT s.vec_id AS vec_id, s.m AS m, b.c AS c, list_sum(list_transform(list_zip(s.sv, b.centroid), x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d2 FROM sub s JOIN cb2 b USING (m)), " +
        "a2 AS (SELECT vec_id, m, c, d2 FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, c) AS rn FROM d2r) WHERE rn = 1), " +
        "codes AS (SELECT vec_id, CAST(max(CASE WHEN m = 0 THEN c END) AS INT) AS c0, CAST(max(CASE WHEN m = 1 THEN c END) AS INT) AS c1, CAST(max(CASE WHEN m = 2 THEN c END) AS INT) AS c2, CAST(max(CASE WHEN m = 3 THEN c END) AS INT) AS c3, CAST(sum(CAST(d2 AS DECIMAL(30,12))) AS DOUBLE) / 64 AS mser FROM a2 GROUP BY vec_id), " +
        // the int8 baseline replay (q_embed_quantize's exact formula)
        "mm8 AS (SELECT vec_id, embedding, list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) AS ma FROM embeddings), " +
        "s8 AS (SELECT vec_id, embedding, ma, CASE WHEN ma > 0 THEN 127.0 / ma ELSE 0.0 END AS sc FROM mm8), " +
        "c8 AS (SELECT vec_id, embedding, ma, sc, list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * sc + 0.5) AS BIGINT)) AS codes FROM s8), " +
        "q8 AS (SELECT vec_id, round(CASE WHEN ma > 0 THEN list_sum(list_transform(range(1, CAST(len(codes) + 1 AS BIGINT)), i -> (CAST(embedding[CAST(i AS INT)] AS DOUBLE) - codes[CAST(i AS INT)] / sc) * (CAST(embedding[CAST(i AS INT)] AS DOUBLE) - codes[CAST(i AS INT)] / sc))) / len(codes) ELSE 0.0 END, 6) AS mse_int8 FROM c8) " +
        "SELECT codes.vec_id AS vec_id, c0, c1, c2, c3, round(mser, 6) AS mse_pq, mse_int8 FROM codes JOIN q8 USING (vec_id) ORDER BY vec_id"),
    "q_embed_quantize" ->
      ("WITH m AS (SELECT vec_id, embedding, list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) AS ma FROM embeddings), " +
        "s AS (SELECT vec_id, embedding, ma, CASE WHEN ma > 0 THEN 127.0 / ma ELSE 0.0 END AS sc FROM m), " +
        "c AS (SELECT vec_id, embedding, ma, sc, list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * sc + 0.5) AS BIGINT)) AS codes FROM s) " +
        "SELECT vec_id, CAST(len(codes) AS INT) AS n_dims, round(sc, 6) AS scale, " +
        "CAST(list_sum(codes) AS BIGINT) AS sum_codes, " +
        "round(CASE WHEN ma > 0 THEN list_sum(list_transform(range(1, CAST(len(codes) + 1 AS BIGINT)), i -> " +
        "(CAST(embedding[CAST(i AS INT)] AS DOUBLE) - codes[CAST(i AS INT)] / sc) * " +
        "(CAST(embedding[CAST(i AS INT)] AS DOUBLE) - codes[CAST(i AS INT)] / sc))) / len(codes) ELSE 0.0 END, 6) AS mse " +
        "FROM c ORDER BY vec_id"),
    "q_dedup_embed" ->
      ("WITH base AS (SELECT vec_id, embedding FROM embeddings), " +
        "all_v AS (SELECT vec_id, embedding FROM base " +
        "UNION ALL SELECT vec_id + 100000 AS vec_id, " +
        "list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) * 1.01 AS FLOAT)) AS embedding " +
        "FROM base WHERE vec_id < 5), " +
        "pairs AS (SELECT a.vec_id AS ai, b.vec_id AS bi, " +
        "list_sum(list_transform(list_zip(a.embedding, b.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / " +
        "(sqrt(list_sum(list_transform(a.embedding, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE)))) * " +
        "sqrt(list_sum(list_transform(b.embedding, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE))))) AS c " +
        "FROM all_v a JOIN all_v b ON a.vec_id < b.vec_id) " +
        "SELECT ai, bi, round(c, 3) AS cos FROM pairs WHERE c >= 0.95 ORDER BY ai, bi"),
    "q_sim_scores" ->
      ("WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) " +
        "SELECT vec_id, round(list_sum(list_transform(list_zip(embedding, qv), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / " +
        "(sqrt(list_sum(list_transform(embedding, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE)))) * " +
        // + 0.0 scrubs IEEE negative zero: Spark's round() drops the
        // sign, DuckDB's keeps it — normalize where the value is produced
        "sqrt(list_sum(list_transform(qv, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE))))), 4) + 0.0 AS cos " +
        "FROM embeddings, q ORDER BY vec_id"),
    "q_sim_topk" ->
      ("WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) " +
        "SELECT vec_id, round(list_sum(list_transform(list_zip(embedding, qv), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / " +
        "(sqrt(list_sum(list_transform(embedding, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE)))) * " +
        "sqrt(list_sum(list_transform(qv, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE))))), 4) AS cos " +
        "FROM embeddings, q WHERE vec_id <> 0 ORDER BY cos DESC, vec_id LIMIT 10"),
    "q_embed_centroid" ->
      ("SELECT label, CAST(i AS INT) AS pos, " +
        "CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,8))) AS DOUBLE) / count(*) AS avg_val " +
        "FROM embeddings CROSS JOIN range(1, 65) t(i) GROUP BY label, pos ORDER BY label, pos"),
    "q_embed_kmeans" ->
      ("WITH e AS (SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings), " +
        "a0 AS (SELECT vec_id, emb, CAST(vec_id % (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM e) AS INT) AS c FROM e), " +
        "c1 AS (SELECT c, list(m ORDER BY pos) AS centroid FROM (" +
        "SELECT c, pos, CAST(sum(CAST(emb[CAST(pos AS INT)] AS DECIMAL(18,8))) AS DOUBLE) / count(*) AS m " +
        "FROM a0 CROSS JOIN range(1, 65) t(pos) GROUP BY c, pos) GROUP BY c), " +
        "s1 AS (SELECT vec_id, emb, c, " +
        "list_sum(list_transform(list_zip(emb, centroid), x -> x[1] * x[2])) / " +
        "(sqrt(list_sum(list_transform(emb, v -> v * v))) * sqrt(list_sum(list_transform(centroid, v -> v * v)))) AS cos " +
        "FROM e CROSS JOIN c1), " +
        "a1 AS (SELECT vec_id, emb, c FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c) AS rn FROM s1) WHERE rn = 1), " +
        "c2 AS (SELECT c, list(m ORDER BY pos) AS centroid FROM (" +
        "SELECT c, pos, CAST(sum(CAST(emb[CAST(pos AS INT)] AS DECIMAL(18,8))) AS DOUBLE) / count(*) AS m " +
        "FROM a1 CROSS JOIN range(1, 65) t(pos) GROUP BY c, pos) GROUP BY c), " +
        "s2 AS (SELECT vec_id, emb, c, " +
        "list_sum(list_transform(list_zip(emb, centroid), x -> x[1] * x[2])) / " +
        "(sqrt(list_sum(list_transform(emb, v -> v * v))) * sqrt(list_sum(list_transform(centroid, v -> v * v)))) AS cos " +
        "FROM e CROSS JOIN c2), " +
        "a2 AS (SELECT vec_id, c, cos FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c) AS rn FROM s2) WHERE rn = 1) " +
        "SELECT c AS cluster, CAST(count(*) AS BIGINT) AS n_vecs, " +
        "round(CAST(sum(CAST(cos AS DECIMAL(30,12))) AS DOUBLE) / count(*), 4) AS mean_cos " +
        "FROM a2 GROUP BY c ORDER BY c"),
    "q_semdedup" -> {
      val cent = (src: String) =>
        s"(SELECT c, list(m ORDER BY pos) AS centroid FROM (" +
          s"SELECT c, pos, CAST(sum(CAST(emb[CAST(pos AS INT)] AS DECIMAL(18,8))) AS DOUBLE) / count(*) AS m " +
          s"FROM $src CROSS JOIN range(1, 65) t(pos) GROUP BY c, pos) GROUP BY c)"
      val dcos = (a: String, b: String) =>
        s"list_sum(list_transform(list_zip($a, $b), x -> x[1] * x[2])) / " +
          s"(sqrt(list_sum(list_transform($a, v -> v * v))) * sqrt(list_sum(list_transform($b, v -> v * v))))"
      "WITH p AS (SELECT vec_id + 100000 AS vec_id, list_transform(embedding, v -> CAST(CAST(v AS DOUBLE) * 1.01 AS FLOAT)) AS fe FROM embeddings WHERE vec_id < 5), " +
        "eb AS (SELECT vec_id, embedding AS fe FROM embeddings UNION ALL SELECT vec_id, fe FROM p), " +
        "e AS (SELECT vec_id, list_transform(fe, v -> CAST(v AS DOUBLE)) AS emb FROM eb), " +
        "a0 AS (SELECT vec_id, emb, CAST(vec_id % (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM e) AS INT) AS c FROM e), " +
        s"c1 AS ${cent("a0")}, " +
        s"s1 AS (SELECT vec_id, emb, c, ${dcos("emb", "centroid")} AS cos FROM e CROSS JOIN c1), " +
        "a1 AS (SELECT vec_id, emb, c FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c) AS rn FROM s1) WHERE rn = 1), " +
        s"c2 AS ${cent("a1")}, " +
        s"s2 AS (SELECT vec_id, emb, c, ${dcos("emb", "centroid")} AS cos FROM e CROSS JOIN c2), " +
        "a2 AS (SELECT vec_id, emb, c FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c) AS rn FROM s2) WHERE rn = 1), " +
        "sg AS (SELECT vec_id, emb, c, CAST(list_sum(list_transform(range(1, 17), i -> CASE WHEN emb[CAST(i AS INT)] >= 0 THEN (CAST(1 AS BIGINT) << CAST(i - 1 AS INT)) ELSE 0 END)) AS BIGINT) AS sig FROM a2), " +
        s"pr AS (SELECT a.vec_id AS ai, b.vec_id AS bi, a.c AS cluster, ${dcos("a.emb", "b.emb")} AS cos " +
        "FROM sg a JOIN sg b ON a.c = b.c AND a.sig = b.sig AND a.vec_id < b.vec_id) " +
        "SELECT ai, bi, cluster, round(cos, 3) AS cos FROM pr WHERE cos >= 0.95 ORDER BY ai, bi"
    },
    "q_ann_lsh" ->
      (s"WITH e AS (SELECT vec_id, embedding, ($lshSigSql) AS sig FROM embeddings), " +
        "qv AS (SELECT sig AS qsig, embedding AS qe FROM e WHERE vec_id = 0) " +
        s"SELECT vec_id, round(${fdot("embedding", "qe")} / (${fnorm("embedding")} * ${fnorm("qe")}), 4) AS cos " +
        "FROM e, qv WHERE bit_count(xor(CAST(sig AS BIGINT), CAST(qsig AS BIGINT))) <= 1 AND vec_id <> 0 " +
        "ORDER BY cos DESC, vec_id LIMIT 10"),
    "q_ann_ivf" -> {
      val dcos = (a: String, b: String) =>
        s"list_sum(list_transform(list_zip($a, $b), x -> x[1] * x[2])) / " +
          s"(sqrt(list_sum(list_transform($a, v -> v * v))) * sqrt(list_sum(list_transform($b, v -> v * v))))"
      "WITH e AS (SELECT vec_id, label, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings), " +
        "q AS (SELECT emb AS qv FROM e WHERE vec_id = 0), " +
        "ct AS (SELECT label, list(m ORDER BY pos) AS centroid FROM (" +
        "SELECT label, pos, CAST(sum(CAST(emb[CAST(pos AS INT)] AS DECIMAL(18,8))) AS DOUBLE) / count(*) AS m " +
        "FROM e CROSS JOIN range(1, 65) t(pos) GROUP BY label, pos) GROUP BY label), " +
        s"pb AS (SELECT label FROM (SELECT ct.label, ${dcos("centroid", "qv")} AS ls FROM ct CROSS JOIN q ORDER BY ls DESC, label LIMIT 2)) " +
        s"SELECT e.vec_id, e.label, round(${dcos("e.emb", "qv")}, 4) AS cos " +
        "FROM e JOIN pb USING (label) CROSS JOIN q WHERE e.vec_id <> 0 " +
        "ORDER BY cos DESC, e.vec_id LIMIT 10"
    },
    "q_ann_ivf_trained" -> {
      val cent = (src: String) =>
        s"(SELECT c, list(m ORDER BY pos) AS centroid FROM (" +
          s"SELECT c, pos, CAST(sum(CAST(emb[CAST(pos AS INT)] AS DECIMAL(18,8))) AS DOUBLE) / count(*) AS m " +
          s"FROM $src CROSS JOIN range(1, 65) t(pos) GROUP BY c, pos) GROUP BY c)"
      val dcos = (a: String, b: String) =>
        s"list_sum(list_transform(list_zip($a, $b), x -> x[1] * x[2])) / " +
          s"(sqrt(list_sum(list_transform($a, v -> v * v))) * sqrt(list_sum(list_transform($b, v -> v * v))))"
      "WITH e AS (SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings), " +
        "a0 AS (SELECT vec_id, emb, CAST(vec_id % (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM e) AS INT) AS c FROM e), " +
        s"c1 AS ${cent("a0")}, " +
        s"s1 AS (SELECT vec_id, emb, c, ${dcos("emb", "centroid")} AS cos FROM e CROSS JOIN c1), " +
        "a1 AS (SELECT vec_id, emb, c FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c) AS rn FROM s1) WHERE rn = 1), " +
        s"c2 AS ${cent("a1")}, " +
        s"s2 AS (SELECT vec_id, emb, c, ${dcos("emb", "centroid")} AS cos FROM e CROSS JOIN c2), " +
        "a2 AS (SELECT vec_id, emb, c FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c) AS rn FROM s2) WHERE rn = 1), " +
        "q AS (SELECT emb AS qv FROM e WHERE vec_id = 0), " +
        s"pbl AS (SELECT c2.c AS c, ${dcos("centroid", "qv")} AS ls FROM c2 CROSS JOIN q), " +
        "pbr AS (SELECT c, row_number() OVER (ORDER BY ls DESC, c) AS rn FROM pbl), " +
        s"pb AS (SELECT c FROM pbr WHERE rn <= $derivedProbeCut) " +
        s"SELECT a2.vec_id, a2.c AS cluster, round(${dcos("a2.emb", "qv")}, 4) AS cos " +
        "FROM a2 JOIN pb ON a2.c = pb.c CROSS JOIN q WHERE a2.vec_id <> 0 " +
        "ORDER BY cos DESC, a2.vec_id LIMIT 10"
    },
    "q_ann_filtered" ->
      (s"WITH $kmeansUnrollCtes, " +
        "q AS MATERIALIZED (SELECT emb AS qv FROM e WHERE vec_id = 0), " +
        s"pbl AS (SELECT c2.c AS c, ${dcos("centroid", "qv")} AS ls FROM c2 CROSS JOIN q), " +
        "pbr AS (SELECT c, row_number() OVER (ORDER BY ls DESC, c) AS rn FROM pbl), " +
        s"pb AS (SELECT c FROM pbr WHERE rn <= $derivedProbeCut), " +
        "allow AS (SELECT doc_id AS vec_id FROM documents WHERE lang = 'fr'), " +
        "pre AS (SELECT 'ivf_prefilter' AS method, vec_id, cos FROM (" +
        s"SELECT a2.vec_id AS vec_id, round(${dcos("a2.emb", "qv")}, 4) AS cos " +
        "FROM a2 JOIN pb ON a2.c = pb.c JOIN allow USING (vec_id) CROSS JOIN q " +
        "WHERE a2.vec_id <> 0 ORDER BY cos DESC, vec_id LIMIT 10)), " +
        "ex AS (SELECT 'exact' AS method, vec_id, cos FROM (" +
        s"SELECT e.vec_id AS vec_id, round(${dcos("e.emb", "qv")}, 4) AS cos " +
        "FROM e JOIN allow USING (vec_id) CROSS JOIN q " +
        "WHERE e.vec_id <> 0 ORDER BY cos DESC, vec_id LIMIT 10)) " +
        "SELECT method, vec_id, cos FROM (SELECT * FROM pre UNION ALL SELECT * FROM ex) " +
        "ORDER BY method, cos DESC, vec_id"),
    "q_ann_bq" -> {
      def pack(lo: Int, hi: Int): String =
        s"list_reduce(list_transform(emb[$lo:$hi], " +
          "x -> CASE WHEN x > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END), " +
          "(a, b) -> a * 2 + b)"
      "WITH e AS MATERIALIZED (SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings), " +
        s"p AS MATERIALIZED (SELECT vec_id, emb, ${pack(1, 32)} AS b1, ${pack(33, 64)} AS b2 FROM e), " +
        "q AS (SELECT emb AS qv, b1 AS qb1, b2 AS qb2 FROM p WHERE vec_id = 0), " +
        "sh AS (SELECT p.vec_id, p.emb, q.qv, " +
        "CAST(bit_count(xor(p.b1, q.qb1)) + bit_count(xor(p.b2, q.qb2)) AS INT) AS ham " +
        "FROM p CROSS JOIN q WHERE p.vec_id <> 0 ORDER BY ham, p.vec_id LIMIT 50), " +
        s"rer AS (SELECT 'bq_rerank' AS method, vec_id, ham, round(${dcos("emb", "qv")}, 4) AS cos " +
        "FROM sh ORDER BY cos DESC, vec_id LIMIT 10), " +
        s"ex AS (SELECT 'exact' AS method, e.vec_id AS vec_id, CAST(NULL AS INT) AS ham, round(${dcos("e.emb", "qv")}, 4) AS cos " +
        "FROM e CROSS JOIN q WHERE e.vec_id <> 0 ORDER BY cos DESC, vec_id LIMIT 10) " +
        "SELECT method, vec_id, ham, cos FROM (SELECT * FROM rer UNION ALL SELECT * FROM ex) " +
        "ORDER BY method, cos DESC, vec_id"
    },
    "q_ann_truncdim" ->
      ("WITH e AS MATERIALIZED (SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings), " +
        "p AS MATERIALIZED (SELECT vec_id, emb, emb[1:16] AS pre FROM e), " +
        "q AS (SELECT emb AS qv, pre AS qp FROM p WHERE vec_id = 0), " +
        s"sh AS (SELECT p.vec_id, p.emb, q.qv, round(${dcos("p.pre", "q.qp")}, 4) AS pcos " +
        "FROM p CROSS JOIN q WHERE p.vec_id <> 0 ORDER BY pcos DESC, p.vec_id LIMIT 50), " +
        s"rer AS (SELECT 'trunc16_rerank' AS method, vec_id, pcos, round(${dcos("emb", "qv")}, 4) AS cos " +
        "FROM sh ORDER BY cos DESC, vec_id LIMIT 10), " +
        s"ex AS (SELECT 'exact' AS method, e.vec_id AS vec_id, CAST(NULL AS DOUBLE) AS pcos, round(${dcos("e.emb", "qv")}, 4) AS cos " +
        "FROM e CROSS JOIN q WHERE e.vec_id <> 0 ORDER BY cos DESC, vec_id LIMIT 10) " +
        "SELECT method, vec_id, pcos, cos FROM (SELECT * FROM rer UNION ALL SELECT * FROM ex) " +
        "ORDER BY method, cos DESC, vec_id"),
    "q_ann_ivfpq" ->
      (s"WITH ${ivfPqOracleCtes(derivedProbeCut)} " +
        "SELECT vec_id, cluster, adc FROM scored ORDER BY adc, vec_id LIMIT 10"),
    // the persisted-index serve must reproduce the in-memory serving
    // FUNNEL exactly — same oracle as q_ann_rerank by construction
    "q_ann_persist" -> rerankOracle,
    "q_ann_rerank" -> rerankOracle,
    "q_ann_upsert" -> annUpsertOracle,
    "q_ann_drift" -> annDriftOracle,
    "q_multimodal_join" ->
      ("SELECT doc_id, lang, n_chars, CAST(len(embedding) AS INT) AS dim, " +
        "round(sqrt(list_sum(list_transform(embedding, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE)))), 4) AS l2 " +
        "FROM documents JOIN embeddings ON doc_id = vec_id ORDER BY doc_id"),
    "q_cluster_profile" ->
      (s"WITH $kmeansUnrollCtes " +
        "SELECT a2.c AS cluster, d.lang AS lang, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(CAST(d.n_chars AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS mean_chars " +
        "FROM a2 JOIN documents d ON a2.vec_id = d.doc_id " +
        "GROUP BY a2.c, d.lang ORDER BY cluster, lang"),
    "q_hard_negatives" -> {
      s"WITH $kmeansUnrollCtes, " +
        "anch AS (SELECT vec_id AS a_id, emb AS av FROM e WHERE vec_id % 100 = 0), " +
        s"pl AS (SELECT a_id, av, c, ${dcos("centroid", "av")} AS ls FROM c2 CROSS JOIN anch), " +
        "pr AS (SELECT a_id, av, c FROM (SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY ls DESC, c) AS rn FROM pl) WHERE rn <= 2), " +
        s"cand AS (SELECT pr.a_id, a2.vec_id, round(${dcos("a2.emb", "pr.av")}, 4) AS cos " +
        "FROM a2 JOIN pr ON a2.c = pr.c WHERE a2.vec_id <> pr.a_id), " +
        "sel AS (SELECT a_id, vec_id, cos, row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, vec_id) AS rnk FROM cand WHERE cos < 0.95) " +
        "SELECT a_id, CAST(rnk AS INT) AS rnk, vec_id, cos FROM sel WHERE rnk <= 3 ORDER BY a_id, rnk"
    },
    "q_embed_pca" ->
      // the shared pc_-prefixed chain (see pcaDirCtes) mirrors step()
      // exactly; + 0.0 scrubs IEEE negative zero (cf. q_sim_scores)
      ("WITH e AS (SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings), " +
        s"$pcaDirCtes " +
        "SELECT vec_id, round(list_sum(list_transform(list_zip(emb, v), x -> x[1] * x[2])), 4) + 0.0 AS pc1 " +
        "FROM e CROSS JOIN pc_v3 ORDER BY vec_id")
  )

  /** Per-qid top-k cut in SQL: rank inside each panel query. */
  private def sqlTopPerQ(src: String, ord: String, k: Int): String =
    s"(SELECT qid, vec_id FROM (SELECT qid, vec_id, " +
      s"row_number() OVER (PARTITION BY qid ORDER BY $ord, vec_id) AS rn " +
      s"FROM $src) WHERE rn <= $k)"

  /** One k-means|| sampling round as oracle CTEs: potential against
    * `prev` (ordinal argmax replay, ORDER BY cs DESC, ord — the
    * argmax_cosine tie-break), decimal-exact Σd, md5-uniform admit at
    * ℓ = k, NOT-IN dedupe — emitting `out` = prev ∪ admitted. The
    * md5 fold is [[Text.hexSql]], the same twin every sampler uses.
    */
  private def kmppRoundCtes(r: Int, prev: String, out: String): String = {
    val u = Text.hexSql(s"md5('kmpp:$r:' || CAST(vec_id AS VARCHAR))", 1, 6)
    s"kpc$r AS (SELECT cid, cand, CAST(row_number() OVER (ORDER BY cid) - 1 AS INT) AS ord FROM $prev), " +
      s"kps$r AS (SELECT e.vec_id AS vec_id, e.emb AS emb, ${dcos("e.emb", s"kpc$r.cand")} AS cs, kpc$r.ord AS ord FROM e CROSS JOIN kpc$r), " +
      s"kpd$r AS MATERIALIZED (SELECT vec_id, emb, 1.0 - cs AS d FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, ord) AS rn FROM kps$r) WHERE rn = 1), " +
      s"kpt$r AS (SELECT CAST(sum(CAST(d AS DECIMAL(30,12))) AS DOUBLE) AS td FROM kpd$r), " +
      s"$out AS MATERIALIZED (SELECT cid, cand FROM $prev UNION ALL " +
      s"SELECT vec_id AS cid, emb AS cand FROM kpd$r CROSS JOIN kpt$r CROSS JOIN kpp " +
      s"WHERE CAST($u AS DOUBLE) / 16777216.0 < k * d / td " +
      s"AND vec_id NOT IN (SELECT cid FROM $prev)), "
  }

  /** q_ann_recall's panel oracle: ONE statement sharing the kmeans
    * unroll, the PQ fit, the panel, and the ADC scores across all
    * seven branches (every CTE MATERIALIZED — the replay-as-subqueries
    * form re-ran the whole chain per branch and OOM'd DuckDB at ~sf1;
    * this is a DAG). The nprobe=1 branch filters the SAME scored frame
    * on the rank-1 probe, exactly like the Spark side.
    */
  private def annRecallPanelOracle: String = {
    def pack(lo: Int, hi: Int): String =
      s"list_reduce(list_transform(emb[$lo:$hi], " +
        "x -> CASE WHEN x > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END), " +
        "(a, b) -> a * 2 + b)"
    s"WITH $kmeansUnrollCtes, " +
      s"$pqFitCtes, " +
      s"$pcaDirCtes, " +
      // the OPQ-rotated residual table + its own PQ fit (suffix r)
      s"resr AS MATERIALIZED ${rotateSql("res", "vec_id, cl", "remb")}, " +
      s"${pqFitCtesOn("resr", "r")}, " +
      s"qp AS MATERIALIZED (SELECT vec_id AS qid, emb AS qv FROM e WHERE vec_id < $PanelSize), " +
      // exact per-query ground truth
      s"bq0 AS MATERIALIZED (SELECT qp.qid AS qid, e.vec_id AS vec_id, round(${dcos("e.emb", "qp.qv")}, 4) AS cos " +
      "FROM e CROSS JOIN qp WHERE e.vec_id <> qp.qid), " +
      s"brute AS MATERIALIZED ${sqlTopPerQ("bq0", "cos DESC", 10)}, " +
      // LSH branch: 6-bit signatures over the raw float embeddings
      s"esig AS MATERIALIZED (SELECT vec_id, embedding, ($lshSigSql) AS sig FROM embeddings), " +
      s"lshc AS (SELECT q.vec_id AS qid, x.vec_id AS vec_id, " +
      s"round(${fdot("x.embedding", "q.embedding")} / (${fnorm("x.embedding")} * ${fnorm("q.embedding")}), 4) AS cos " +
      s"FROM esig x JOIN esig q ON q.vec_id < $PanelSize AND x.vec_id <> q.vec_id " +
      "AND bit_count(xor(CAST(x.sig AS BIGINT), CAST(q.sig AS BIGINT))) <= 1), " +
      s"lsht AS MATERIALIZED ${sqlTopPerQ("lshc", "cos DESC", 10)}, " +
      // trained-IVF branch: per-qid probe at the derived nprobe (the
      // rank table materializes ONCE; the derived and the 3× cuts are
      // filters on it)
      s"ipl AS (SELECT qp.qid AS qid, c2.c AS c, ${dcos("centroid", "qv")} AS ls FROM c2 CROSS JOIN qp), " +
      "iprk AS MATERIALIZED (SELECT qid, c, row_number() OVER " +
      "(PARTITION BY qid ORDER BY ls DESC, c) AS rn FROM ipl), " +
      s"ipr AS (SELECT qid, c FROM iprk WHERE rn <= $derivedProbeCut), " +
      s"ivfc AS (SELECT pr.qid AS qid, a2.vec_id AS vec_id, round(${dcos("a2.emb", "qp.qv")}, 4) AS cos " +
      "FROM a2 JOIN ipr pr ON a2.c = pr.c JOIN qp ON qp.qid = pr.qid WHERE a2.vec_id <> pr.qid), " +
      s"ivft AS MATERIALIZED ${sqlTopPerQ("ivfc", "cos DESC", 10)}, " +
      s"ipr3 AS (SELECT qid, c FROM iprk WHERE rn <= $tripleProbeCut), " +
      s"ivfc3 AS (SELECT pr.qid AS qid, a2.vec_id AS vec_id, round(${dcos("a2.emb", "qp.qv")}, 4) AS cos " +
      "FROM a2 JOIN ipr3 pr ON a2.c = pr.c JOIN qp ON qp.qid = pr.qid WHERE a2.vec_id <> pr.qid), " +
      s"ivft3 AS MATERIALIZED ${sqlTopPerQ("ivfc3", "cos DESC", 10)}, " +
      // the shared ADC pass: per-qid probe, per-(qid, list) residual
      // table, one scored frame for ivfpq + np1 + rerank
      s"pbl AS (SELECT qp.qid AS qid, qp.qv AS qv, c2.c AS cl, c2.centroid AS centroid, ${dcos("centroid", "qv")} AS ls FROM c2 CROSS JOIN qp), " +
      "pbr AS MATERIALIZED (SELECT qid, qv, cl, centroid, row_number() OVER (PARTITION BY qid ORDER BY ls DESC, cl) AS rn FROM pbl), " +
      s"pb AS (SELECT qid, qv, cl, centroid FROM pbr WHERE rn <= $derivedProbeCut), " +
      "qr AS (SELECT qid, cl, list_transform(list_zip(qv, centroid), x -> x[1] - x[2]) AS qres FROM pb), " +
      "qrs AS (SELECT qid, cl, CAST(mm.m AS INT) AS m, qres[CAST(mm.m * 16 + 1 AS INT):CAST(mm.m * 16 + 16 AS INT)] AS qsv FROM qr CROSS JOIN range(0, 4) mm(m)), " +
      s"adc AS MATERIALIZED (SELECT qrs.qid AS qid, qrs.cl AS cl, qrs.m AS m, b.c AS code, ${dl2("qrs.qsv", "b.centroid")} AS d2 FROM qrs JOIN pcb2 b ON qrs.m = b.m), " +
      "cand AS (SELECT pa2.vec_id AS vec_id, res.cl AS cl, pa2.m AS m, pa2.c AS code FROM pa2 JOIN res USING (vec_id)), " +
      "scored AS MATERIALIZED (SELECT adc.qid AS qid, cand.vec_id AS vec_id, cand.cl AS cluster, " +
      "round(CAST(sum(CAST(adc.d2 AS DECIMAL(30,12))) AS DOUBLE), 4) AS adc " +
      "FROM cand JOIN adc ON cand.cl = adc.cl AND cand.m = adc.m AND cand.code = adc.code " +
      "WHERE cand.vec_id <> adc.qid GROUP BY 1, 2, 3), " +
      s"ivfpqt AS MATERIALIZED ${sqlTopPerQ("scored", "adc", 10)}, " +
      // the OPQ branch: the SAME derived probes (qr), query residuals
      // rotated into the same space as resr, ADC against the rotated
      // codebooks/codes
      s"qrr AS MATERIALIZED ${rotateSql("qr", "qid, cl", "qres")}, " +
      "qrsr AS (SELECT qid, cl, CAST(mm.m AS INT) AS m, qres[CAST(mm.m * 16 + 1 AS INT):CAST(mm.m * 16 + 16 AS INT)] AS qsv FROM qrr CROSS JOIN range(0, 4) mm(m)), " +
      s"adcr AS MATERIALIZED (SELECT qrsr.qid AS qid, qrsr.cl AS cl, qrsr.m AS m, b.c AS code, ${dl2("qrsr.qsv", "b.centroid")} AS d2 FROM qrsr JOIN pcb2r b ON qrsr.m = b.m), " +
      "candr AS (SELECT pa2r.vec_id AS vec_id, res.cl AS cl, pa2r.m AS m, pa2r.c AS code FROM pa2r JOIN res USING (vec_id)), " +
      "scoredr AS MATERIALIZED (SELECT adcr.qid AS qid, candr.vec_id AS vec_id, " +
      "round(CAST(sum(CAST(adcr.d2 AS DECIMAL(30,12))) AS DOUBLE), 4) AS adc " +
      "FROM candr JOIN adcr ON candr.cl = adcr.cl AND candr.m = adcr.m AND candr.code = adcr.code " +
      "WHERE candr.vec_id <> adcr.qid GROUP BY 1, 2), " +
      s"opqt AS MATERIALIZED ${sqlTopPerQ("scoredr", "adc", 10)}, " +
      "np1s AS (SELECT s.qid AS qid, s.vec_id AS vec_id, s.adc AS adc FROM scored s " +
      "JOIN pbr ON pbr.qid = s.qid AND pbr.cl = s.cluster AND pbr.rn = 1), " +
      s"np1t AS MATERIALIZED ${sqlTopPerQ("np1s", "adc", 10)}, " +
      "shortt AS MATERIALIZED (SELECT qid, vec_id FROM (SELECT qid, vec_id, " +
      s"row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rn FROM scored) WHERE rn <= $derivedShortlistCut), " +
      s"rerc AS (SELECT sh.qid AS qid, sh.vec_id AS vec_id, round(${dcos("e.emb", "qp.qv")}, 4) AS cos " +
      "FROM shortt sh JOIN e ON e.vec_id = sh.vec_id JOIN qp ON qp.qid = sh.qid), " +
      s"rert AS MATERIALIZED ${sqlTopPerQ("rerc", "cos DESC", 10)}, " +
      // the 3×-probe ADC chain: same pbr rank table, same PQ codes —
      // only the probe cut (and therefore the ADC table span) widens
      s"pb3 AS (SELECT qid, qv, cl, centroid FROM pbr WHERE rn <= $tripleProbeCut), " +
      "qr3 AS (SELECT qid, cl, list_transform(list_zip(qv, centroid), x -> x[1] - x[2]) AS qres FROM pb3), " +
      "qrs3 AS (SELECT qid, cl, CAST(mm.m AS INT) AS m, qres[CAST(mm.m * 16 + 1 AS INT):CAST(mm.m * 16 + 16 AS INT)] AS qsv FROM qr3 CROSS JOIN range(0, 4) mm(m)), " +
      s"adc3 AS MATERIALIZED (SELECT qrs3.qid AS qid, qrs3.cl AS cl, qrs3.m AS m, b.c AS code, ${dl2("qrs3.qsv", "b.centroid")} AS d2 FROM qrs3 JOIN pcb2 b ON qrs3.m = b.m), " +
      "scored3 AS MATERIALIZED (SELECT adc3.qid AS qid, cand.vec_id AS vec_id, cand.cl AS cluster, " +
      "round(CAST(sum(CAST(adc3.d2 AS DECIMAL(30,12))) AS DOUBLE), 4) AS adc " +
      "FROM cand JOIN adc3 ON cand.cl = adc3.cl AND cand.m = adc3.m AND cand.code = adc3.code " +
      "WHERE cand.vec_id <> adc3.qid GROUP BY 1, 2, 3), " +
      "short3t AS (SELECT qid, vec_id FROM (SELECT qid, vec_id, " +
      s"row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rn FROM scored3) WHERE rn <= $derivedShortlistCut), " +
      s"rerc3 AS (SELECT sh.qid AS qid, sh.vec_id AS vec_id, round(${dcos("e.emb", "qp.qv")}, 4) AS cos " +
      "FROM short3t sh JOIN e ON e.vec_id = sh.vec_id JOIN qp ON qp.qid = sh.qid), " +
      s"rert3 AS MATERIALIZED ${sqlTopPerQ("rerc3", "cos DESC", 10)}, " +
      // the legacy fixed-50 shortlist row — prices what the derived
      // width buys on the same derived-probe scored frame
      "short4t AS (SELECT qid, vec_id FROM (SELECT qid, vec_id, " +
      "row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rn FROM scored) WHERE rn <= 50), " +
      s"rerc4 AS (SELECT sh.qid AS qid, sh.vec_id AS vec_id, round(${dcos("e.emb", "qp.qv")}, 4) AS cos " +
      "FROM short4t sh JOIN e ON e.vec_id = sh.vec_id JOIN qp ON qp.qid = sh.qid), " +
      s"rert4 AS MATERIALIZED ${sqlTopPerQ("rerc4", "cos DESC", 10)}, " +
      // binary-quantization branch: Hamming shortlist 50 -> exact 10
      s"bqp AS MATERIALIZED (SELECT vec_id, emb, ${pack(1, 32)} AS b1, ${pack(33, 64)} AS b2 FROM e), " +
      s"bqq AS (SELECT vec_id AS qid, emb AS qv, b1 AS qb1, b2 AS qb2 FROM bqp WHERE vec_id < $PanelSize), " +
      "bqc AS (SELECT q.qid AS qid, p.vec_id AS vec_id, p.emb AS emb, q.qv AS qv, " +
      "CAST(bit_count(xor(p.b1, q.qb1)) + bit_count(xor(p.b2, q.qb2)) AS INT) AS ham " +
      "FROM bqp p CROSS JOIN bqq q WHERE p.vec_id <> q.qid), " +
      "bqsh AS (SELECT qid, vec_id, emb, qv FROM (SELECT *, row_number() OVER " +
      "(PARTITION BY qid ORDER BY ham, vec_id) AS rn FROM bqc) WHERE rn <= 50), " +
      s"bqr AS (SELECT qid, vec_id, round(${dcos("emb", "qv")}, 4) AS cos FROM bqsh), " +
      s"bqt AS MATERIALIZED ${sqlTopPerQ("bqr", "cos DESC", 10)}, " +
      // truncated-dimension branch: 16-dim prefix shortlist 50 -> exact 10
      "tdp AS MATERIALIZED (SELECT vec_id, emb, emb[1:16] AS pre FROM e), " +
      s"tdq AS (SELECT vec_id AS qid, emb AS qv, pre AS qpre FROM tdp WHERE vec_id < $PanelSize), " +
      s"tdc AS (SELECT q.qid AS qid, p.vec_id AS vec_id, p.emb AS emb, q.qv AS qv, " +
      s"round(${dcos("p.pre", "q.qpre")}, 4) AS pcos FROM tdp p CROSS JOIN tdq q WHERE p.vec_id <> q.qid), " +
      "tdsh AS (SELECT qid, vec_id, emb, qv FROM (SELECT *, row_number() OVER " +
      "(PARTITION BY qid ORDER BY pcos DESC, vec_id) AS rn FROM tdc) WHERE rn <= 50), " +
      s"tdr AS (SELECT qid, vec_id, round(${dcos("emb", "qv")}, 4) AS cos FROM tdsh), " +
      s"tdt AS MATERIALIZED ${sqlTopPerQ("tdr", "cos DESC", 10)}, " +
      // ---- round-15 branches: the two quantizer levers, priced
      // separately (ivfpq_m8, ivf_l4) and composed (rerank_l4m8) ----
      // (a) the M=8 PQ fit on the SAME base residuals + ADC on the
      // SAME derived-probe residual frame (qr)
      s"${pqFitCtesOn("res", "m8", 8)}, " +
      "qrs8 AS (SELECT qid, cl, CAST(mm.m AS INT) AS m, qres[CAST(mm.m * 8 + 1 AS INT):CAST(mm.m * 8 + 8 AS INT)] AS qsv FROM qr CROSS JOIN range(0, 8) mm(m)), " +
      s"adc8 AS MATERIALIZED (SELECT qrs8.qid AS qid, qrs8.cl AS cl, qrs8.m AS m, b.c AS code, ${dl2("qrs8.qsv", "b.centroid")} AS d2 FROM qrs8 JOIN pcb2m8 b ON qrs8.m = b.m), " +
      "cand8 AS (SELECT pa2m8.vec_id AS vec_id, res.cl AS cl, pa2m8.m AS m, pa2m8.c AS code FROM pa2m8 JOIN res USING (vec_id)), " +
      "scored8 AS MATERIALIZED (SELECT adc8.qid AS qid, cand8.vec_id AS vec_id, " +
      "round(CAST(sum(CAST(adc8.d2 AS DECIMAL(30,12))) AS DOUBLE), 4) AS adc " +
      "FROM cand8 JOIN adc8 ON cand8.cl = adc8.cl AND cand8.m = adc8.m AND cand8.code = adc8.code " +
      "WHERE cand8.vec_id <> adc8.qid GROUP BY 1, 2), " +
      s"m8t AS MATERIALIZED ${sqlTopPerQ("scored8", "adc", 10)}, " +
      // (b) Lloyd rounds 3-4 continued from a2 (= the 4-round fit)
      s"c3 AS MATERIALIZED ${cent("a2")}, " +
      s"s3 AS MATERIALIZED (SELECT vec_id, emb, c, ${dcos("emb", "centroid")} AS cos FROM e CROSS JOIN c3), " +
      "a3 AS MATERIALIZED (SELECT vec_id, emb, c FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c) AS rn FROM s3) WHERE rn = 1), " +
      s"c4 AS MATERIALIZED ${cent("a3")}, " +
      s"s4 AS MATERIALIZED (SELECT vec_id, emb, c, ${dcos("emb", "centroid")} AS cos FROM e CROSS JOIN c4), " +
      "a4 AS MATERIALIZED (SELECT vec_id, emb, c FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c) AS rn FROM s4) WHERE rn = 1), " +
      // ivf_l4: exact cosines inside the 4-round lists at the probe
      // count derived FROM THE 4-ROUND centroid table
      s"ipl4 AS (SELECT qp.qid AS qid, c4.c AS c, ${dcos("centroid", "qv")} AS ls FROM c4 CROSS JOIN qp), " +
      "iprk4 AS MATERIALIZED (SELECT qid, c, row_number() OVER (PARTITION BY qid ORDER BY ls DESC, c) AS rn FROM ipl4), " +
      "ipr4 AS (SELECT qid, c FROM iprk4 WHERE rn <= (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM c4)), " +
      s"ivfc4 AS (SELECT pr.qid AS qid, a4.vec_id AS vec_id, round(${dcos("a4.emb", "qp.qv")}, 4) AS cos " +
      "FROM a4 JOIN ipr4 pr ON a4.c = pr.c JOIN qp ON qp.qid = pr.qid WHERE a4.vec_id <> pr.qid), " +
      s"ivfl4t AS MATERIALIZED ${sqlTopPerQ("ivfc4", "cos DESC", 10)}, " +
      // composed serving point: M=8 codes over the 4-round residuals,
      // derived probes, derived shortlist, exact re-rank
      "resl AS MATERIALIZED (SELECT a4.vec_id AS vec_id, a4.c AS cl, list_transform(list_zip(a4.emb, c4.centroid), x -> x[1] - x[2]) AS remb FROM a4 JOIN c4 USING (c)), " +
      s"${pqFitCtesOn("resl", "l8", 8)}, " +
      s"pbl4 AS (SELECT qp.qid AS qid, qp.qv AS qv, c4.c AS cl, c4.centroid AS centroid, ${dcos("centroid", "qv")} AS ls FROM c4 CROSS JOIN qp), " +
      "pbr4 AS MATERIALIZED (SELECT qid, qv, cl, centroid, row_number() OVER (PARTITION BY qid ORDER BY ls DESC, cl) AS rn FROM pbl4), " +
      "pb4 AS (SELECT qid, qv, cl, centroid FROM pbr4 WHERE rn <= (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM c4)), " +
      "qr4 AS (SELECT qid, cl, list_transform(list_zip(qv, centroid), x -> x[1] - x[2]) AS qres FROM pb4), " +
      "qrs48 AS (SELECT qid, cl, CAST(mm.m AS INT) AS m, qres[CAST(mm.m * 8 + 1 AS INT):CAST(mm.m * 8 + 8 AS INT)] AS qsv FROM qr4 CROSS JOIN range(0, 8) mm(m)), " +
      s"adc48 AS MATERIALIZED (SELECT qrs48.qid AS qid, qrs48.cl AS cl, qrs48.m AS m, b.c AS code, ${dl2("qrs48.qsv", "b.centroid")} AS d2 FROM qrs48 JOIN pcb2l8 b ON qrs48.m = b.m), " +
      "cand48 AS (SELECT pa2l8.vec_id AS vec_id, resl.cl AS cl, pa2l8.m AS m, pa2l8.c AS code FROM pa2l8 JOIN resl USING (vec_id)), " +
      "scored48 AS MATERIALIZED (SELECT adc48.qid AS qid, cand48.vec_id AS vec_id, " +
      "round(CAST(sum(CAST(adc48.d2 AS DECIMAL(30,12))) AS DOUBLE), 4) AS adc " +
      "FROM cand48 JOIN adc48 ON cand48.cl = adc48.cl AND cand48.m = adc48.m AND cand48.code = adc48.code " +
      "WHERE cand48.vec_id <> adc48.qid GROUP BY 1, 2), " +
      "shortl8 AS (SELECT qid, vec_id FROM (SELECT qid, vec_id, " +
      s"row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rn FROM scored48) WHERE rn <= $derivedShortlistCut), " +
      s"rercl8 AS (SELECT sh.qid AS qid, sh.vec_id AS vec_id, round(${dcos("e.emb", "qp.qv")}, 4) AS cos " +
      "FROM shortl8 sh JOIN e ON e.vec_id = sh.vec_id JOIN qp ON qp.qid = sh.qid), " +
      s"rl8t AS MATERIALIZED ${sqlTopPerQ("rercl8", "cos DESC", 10)}, " +
      // (c) ivf_pp — the k-means|| seeded fit: 2 md5-deterministic
      // D²-sampling rounds (potential d = 1 − max-cos, decimal-exact
      // Σd, admit iff u < k·d/Σd), attraction-weighted top-k init,
      // then the SAME 2-round Lloyd budget as the base fit and exact
      // serve at the probes derived from ITS centroid table
      "kpp AS (SELECT CAST(ceil(sqrt(count(*))) AS DOUBLE) AS k FROM e), " +
      "cd0 AS MATERIALIZED (SELECT vec_id AS cid, emb AS cand FROM e ORDER BY vec_id LIMIT 1), " +
      kmppRoundCtes(1, "cd0", "cd1") +
      kmppRoundCtes(2, "cd1", "cd2") +
      "pw0 AS (SELECT cid, cand, CAST(row_number() OVER (ORDER BY cid) - 1 AS INT) AS ord FROM cd2), " +
      s"pws AS (SELECT e.vec_id AS vec_id, pw0.ord AS ord, ${dcos("e.emb", "pw0.cand")} AS cs FROM e CROSS JOIN pw0), " +
      "pwa AS (SELECT vec_id, ord FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, ord) AS rn FROM pws) WHERE rn = 1), " +
      "pww AS MATERIALIZED (SELECT ord, count(*) AS w FROM pwa GROUP BY ord), " +
      "ipp AS MATERIALIZED (SELECT CAST(rn - 1 AS INT) AS c, cand AS centroid FROM (SELECT cand, row_number() OVER (ORDER BY w DESC, cid) AS rn FROM pw0 JOIN pww USING (ord)) CROSS JOIN kpp WHERE rn <= k), " +
      s"s0pp AS (SELECT vec_id, emb, c, ${dcos("emb", "centroid")} AS cos FROM e CROSS JOIN ipp), " +
      "a0pp AS MATERIALIZED (SELECT vec_id, emb, c FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c) AS rn FROM s0pp) WHERE rn = 1), " +
      s"c1pp AS MATERIALIZED ${cent("a0pp")}, " +
      s"s1pp AS (SELECT vec_id, emb, c, ${dcos("emb", "centroid")} AS cos FROM e CROSS JOIN c1pp), " +
      "a1pp AS MATERIALIZED (SELECT vec_id, emb, c FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c) AS rn FROM s1pp) WHERE rn = 1), " +
      s"c2pp AS MATERIALIZED ${cent("a1pp")}, " +
      s"s2pp AS (SELECT vec_id, emb, c, ${dcos("emb", "centroid")} AS cos FROM e CROSS JOIN c2pp), " +
      "a2pp AS MATERIALIZED (SELECT vec_id, emb, c FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c) AS rn FROM s2pp) WHERE rn = 1), " +
      s"iplpp AS (SELECT qp.qid AS qid, c2pp.c AS c, ${dcos("centroid", "qv")} AS ls FROM c2pp CROSS JOIN qp), " +
      "iprkpp AS MATERIALIZED (SELECT qid, c, row_number() OVER (PARTITION BY qid ORDER BY ls DESC, c) AS rn FROM iplpp), " +
      "iprpp AS (SELECT qid, c FROM iprkpp WHERE rn <= (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM c2pp)), " +
      s"ivfcpp AS (SELECT pr.qid AS qid, a2pp.vec_id AS vec_id, round(${dcos("a2pp.emb", "qp.qv")}, 4) AS cos " +
      "FROM a2pp JOIN iprpp pr ON a2pp.c = pr.c JOIN qp ON qp.qid = pr.qid WHERE a2pp.vec_id <> pr.qid), " +
      s"ivfppt AS MATERIALIZED ${sqlTopPerQ("ivfcpp", "cos DESC", 10)}, " +
      "cands AS (SELECT 'lsh' AS method, qid, vec_id FROM lsht " +
      "UNION ALL SELECT 'ivf' AS method, qid, vec_id FROM ivft " +
      "UNION ALL SELECT 'ivfpq' AS method, qid, vec_id FROM ivfpqt " +
      "UNION ALL SELECT 'ivfpq_opq' AS method, qid, vec_id FROM opqt " +
      "UNION ALL SELECT 'ivfpq_np1' AS method, qid, vec_id FROM np1t " +
      "UNION ALL SELECT 'rerank' AS method, qid, vec_id FROM rert " +
      "UNION ALL SELECT 'ivf_np3x' AS method, qid, vec_id FROM ivft3 " +
      "UNION ALL SELECT 'rerank_np3x' AS method, qid, vec_id FROM rert3 " +
      "UNION ALL SELECT 'rerank_sl50' AS method, qid, vec_id FROM rert4 " +
      "UNION ALL SELECT 'bq' AS method, qid, vec_id FROM bqt " +
      "UNION ALL SELECT 'trunc16' AS method, qid, vec_id FROM tdt " +
      "UNION ALL SELECT 'ivfpq_m8' AS method, qid, vec_id FROM m8t " +
      "UNION ALL SELECT 'ivf_l4' AS method, qid, vec_id FROM ivfl4t " +
      "UNION ALL SELECT 'ivf_pp' AS method, qid, vec_id FROM ivfppt " +
      "UNION ALL SELECT 'rerank_l4m8' AS method, qid, vec_id FROM rl8t), " +
      "nq AS (SELECT count(*) AS nq FROM qp) " +
      "SELECT method, CAST(nq AS BIGINT) AS n_queries, " +
      "CAST(count(*) AS BIGINT) AS n_candidates, " +
      "CAST(count(b.vec_id) AS BIGINT) AS hits, " +
      "round(CAST(count(b.vec_id) AS DOUBLE) / (10.0 * nq), 4) AS mean_recall_at_10 " +
      "FROM cands c LEFT JOIN brute b ON c.qid = b.qid AND c.vec_id = b.vec_id " +
      "CROSS JOIN nq GROUP BY method, nq ORDER BY method"
  }

  private def annFilteredRecallOracle: String =
    s"WITH $kmeansUnrollCtes, " +
      s"qp AS MATERIALIZED (SELECT vec_id AS qid, emb AS qv FROM e WHERE vec_id < $PanelSize), " +
      "allow AS MATERIALIZED (SELECT doc_id AS vec_id FROM documents WHERE lang = 'fr'), " +
      s"fb0 AS (SELECT qp.qid AS qid, e.vec_id AS vec_id, round(${dcos("e.emb", "qp.qv")}, 4) AS cos " +
      "FROM e JOIN allow USING (vec_id) CROSS JOIN qp WHERE e.vec_id <> qp.qid), " +
      s"fbrute AS MATERIALIZED ${sqlTopPerQ("fb0", "cos DESC", 10)}, " +
      s"ipl AS (SELECT qp.qid AS qid, c2.c AS c, ${dcos("centroid", "qv")} AS ls FROM c2 CROSS JOIN qp), " +
      "ipr AS MATERIALIZED (SELECT qid, c FROM (SELECT qid, c, row_number() OVER " +
      s"(PARTITION BY qid ORDER BY ls DESC, c) AS rn FROM ipl) WHERE rn <= $derivedProbeCut), " +
      s"prc AS (SELECT pr.qid AS qid, a2.vec_id AS vec_id, round(${dcos("a2.emb", "qp.qv")}, 4) AS cos " +
      "FROM a2 JOIN ipr pr ON a2.c = pr.c JOIN allow ON allow.vec_id = a2.vec_id " +
      "JOIN qp ON qp.qid = pr.qid WHERE a2.vec_id <> pr.qid), " +
      s"prt AS MATERIALIZED ${sqlTopPerQ("prc", "cos DESC", 10)}, " +
      "nq AS (SELECT count(*) AS nq FROM qp) " +
      "SELECT 'ivf_prefilter' AS method, CAST(nq AS BIGINT) AS n_queries, " +
      "CAST(count(*) AS BIGINT) AS n_candidates, " +
      "CAST(count(b.vec_id) AS BIGINT) AS hits, " +
      "round(CAST(count(b.vec_id) AS DOUBLE) / (10.0 * nq), 4) AS mean_recall_at_10 " +
      "FROM prt c LEFT JOIN fbrute b ON c.qid = b.qid AND c.vec_id = b.vec_id " +
      "CROSS JOIN nq GROUP BY nq"

  val oracleSql: Map[String, String] = oracleBase +
    ("q_ann_recall" -> annRecallPanelOracle) +
    ("q_ann_filtered_recall" -> annFilteredRecallOracle)
}

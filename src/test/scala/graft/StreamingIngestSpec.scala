package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.streaming.StreamOps
import graft.ops.IngestOps

/** End-to-end streaming ingest: the reference's POST / loop (JSON
  * envelopes → validate → explode → hour-partitioned parquet) run as a
  * Structured Streaming job over a file source, including the reject
  * side-output, incremental micro-batches, and restart idempotence via
  * the checkpoint + sink commit log.
  */
class StreamingIngestSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("streaming ingest: envelopes flow to the partitioned sink, rejects to the side-output") {
    val in = tmp("graft_sin"); val out = tmp("graft_sout")
    val rej = tmp("graft_srej"); val cp = tmp("graft_scp")

    // batch 1: the shared envelope fixtures (2 valid envelopes → 4 rows,
    // 3 invalid)
    Files.write(Paths.get(in, "b1.json"),
      IngestOps.fixtures.map(_._2).mkString("\n").getBytes)
    val q1 = StreamOps.ingestStream(spark, in, out, s"$cp/main")
    val q2 = StreamOps.ingestRejects(spark, in, rej, s"$cp/rej")
    q1.processAllAvailable(); q2.processAllAvailable()

    val written = spark.read.parquet(out)
    assert(written.count() === 4)
    // caller path prefix became the source partition; hour derives from
    // timeGenerated (1697049600000 ms = 2023-10-11T18:40 UTC)
    assert(written.select("source").distinct().as[String].collect().toSeq === Seq("factory-1"))
    assert(Files.exists(Paths.get(out, "source=factory-1/year=2023/month=10/day=11/hour=18")))
    // zero-value semantics survive the stream (fixture 2 has minimal fields)
    val minimal = written.filter($"id" === "batch-2")
    assert(minimal.count() === 2)
    assert(minimal.select("pointId").distinct().as[String].collect().toSeq === Seq(""))
    assert(minimal.select("quality").distinct().as[Long].collect().toSeq === Seq(0L))

    val rejects = spark.read.parquet(rej)
    assert(rejects.count() === 3)
    assert(rejects.select("reject_reason").as[String].collect().toSet ===
      Set("file is required", "timeGenerated is required", "content must be non-empty"))

    // observe() metrics rode along with batch 1's own action — no
    // second scan: 4 rows, event-time bounds, zero null timestamps
    val quality = q1.recentProgress
      .flatMap(p => Option(p.observedMetrics.get("ingest_quality")))
    assert(quality.nonEmpty, "ingest_quality must be observed on data batches")
    val qrow = quality.filter(_.getAs[Long]("rows") > 0).last
    assert(qrow.getAs[Long]("rows") === 4L)
    assert(qrow.getAs[Long]("null_ts") === 0L)
    assert(qrow.getAs[Long]("max_ts") >= qrow.getAs[Long]("min_ts"))

    // batch 2: a new file arrives; only it is processed (no re-ingest of b1)
    Files.write(Paths.get(in, "b2.json"),
      """{"content":[{"timestamp":1697139000000,"value":9.9}],"id":"batch-6","timeGenerated":1697139000000,"file":"factory-2/2023/10/12/17/e.parquet"}""".getBytes)
    q1.processAllAvailable(); q2.processAllAvailable()

    // batch 2's metrics: the single factory-2 row with its event time
    val q2row = q1.recentProgress
      .flatMap(p => Option(p.observedMetrics.get("ingest_quality")))
      .filter(_.getAs[Long]("rows") > 0).last
    assert(q2row.getAs[Long]("rows") === 1L)
    assert(q2row.getAs[Long]("max_ts") === 1697139000000L)
    q1.stop(); q2.stop()

    val after = spark.read.parquet(out)
    assert(after.count() === 5)
    assert(after.filter($"source" === "factory-2").count() === 1)
    assert(spark.read.parquet(rej).count() === 3)

    // restart from the same checkpoint with no new data: the commit log
    // makes replay a no-op — row count is unchanged (A5 idempotence)
    val q3 = StreamOps.ingestStream(spark, in, out, s"$cp/main")
    q3.processAllAvailable(); q3.stop()
    assert(spark.read.parquet(out).count() === 5)

    // state registers over the sink ledger match the ingested envelopes
    val regs = graft.ingest.Ingest.stateRegisters(
      spark.read.parquet(out)
        .withColumn("arrivalSeq", col("timestamp")))
      .collect().head
    assert(regs.getLong(0) === 1697139000000L) // maxTimestamp high-water mark
    assert(regs.getLong(1) === 1697139000000L) // lastTimeGenerated
  }

  test("streaming near-dup gate drops corpus look-alikes, passes fresh docs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    // reference corpus: two documents with distinctive token streams
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val idx = StreamOps.minhashIndex(corpus)

    val in = MemoryStream[(Long, String)]
    val out = tmp("graft_nds"); val cp = tmp("graft_ndcp")
    val q = StreamOps.nearDupSink(
      in.toDF().toDF("doc_id", "text"), idx, out, cp, minJac = 0.5)

    // batch 1: an exact copy (dropped), a near copy with one token
    // changed (dropped), a fresh doc (kept)
    in.addData(
      (101L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (102L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (103L, "red orange yellow green blue indigo violet pink brown black"))
    q.processAllAvailable()
    // batch 2: a near copy of corpus doc 2 (dropped) and a short doc
    // below the 3-gram floor (passes through — no fingerprint to judge)
    in.addData(
      (201L, "one two three four five six seven eight nine eleven"),
      (202L, "tiny doc"))
    q.processAllAvailable()
    q.stop()

    val survivors = spark.read.parquet(out).select("doc_id")
      .as[Long].collect().toSet
    assert(survivors === Set(103L, 202L), survivors.toString)

    // batch-parity: the per-micro-batch gate equals one batch pass
    val all = Seq(
      (101L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (102L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (103L, "red orange yellow green blue indigo violet pink brown black"),
      (201L, "one two three four five six seven eight nine eleven"),
      (202L, "tiny doc")).toDF("doc_id", "text")
    val batchSurvivors = StreamOps.nearDupFilterBatch(all, idx, 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(batchSurvivors === survivors)
  }

  test("self-updating near-dup gate: stream dedups against itself across and within batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val idx = StreamOps.minhashIndex(corpus)

    val in = MemoryStream[(Long, String)]
    val out = tmp("graft_sds"); val idxDir = tmp("graft_sdsidx")
    val cp = tmp("graft_sdscp")
    val q = StreamOps.nearDupSelfSink(
      in.toDF().toDF("doc_id", "text"), idx, out, idxDir, cp, minJac = 0.5)

    // batch 1: a corpus copy (dropped) and a FRESH doc (admitted — and
    // from now on part of the index)
    in.addData(
      (101L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (103L, "red orange yellow green blue indigo violet pink brown black"))
    q.processAllAvailable()
    // batch 2: nothing similar — admitted
    in.addData(
      (301L, "mercury venus earth mars jupiter saturn uranus neptune pluto ceres"))
    q.processAllAvailable()
    // batch 3: a near-copy of batch-1 survivor 103 (MUST drop — the
    // static gate would admit it), plus an intra-batch near-dup pair
    // (lower id 402 is the canonical survivor, 403 drops)
    in.addData(
      (401L, "red orange yellow green blue indigo violet pink brown white"),
      (402L, "cat dog bird fish horse cow sheep goat pig duck"),
      (403L, "cat dog bird fish horse cow sheep goat pig swan"))
    q.processAllAvailable()
    q.stop()

    val survivors = spark.read.parquet(out).select("doc_id")
      .as[Long].collect().toSet
    assert(survivors === Set(103L, 301L, 402L), survivors.toString)

    // the accumulated index holds band rows for every admitted doc
    val idxBids = spark.read.parquet(idxDir).select("bid")
      .as[Int].distinct().collect().toSet
    assert(idxBids === Set(0, 1, 2), idxBids.toString)

    // batch-parity: the incremental gate equals ONE self-dedup batch
    // pass over the full stream against the seed index
    val all = Seq(
      (101L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (103L, "red orange yellow green blue indigo violet pink brown black"),
      (301L, "mercury venus earth mars jupiter saturn uranus neptune pluto ceres"),
      (401L, "red orange yellow green blue indigo violet pink brown white"),
      (402L, "cat dog bird fish horse cow sheep goat pig duck"),
      (403L, "cat dog bird fish horse cow sheep goat pig swan"))
      .toDF("doc_id", "text")
    val onePass = StreamOps.nearDupFilterSelf(all, idx, 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(onePass === survivors)

    // replay idempotence: re-running a batch's merge overwrites its own
    // bid partition — row count is unchanged (the ADVICE crash window)
    val b3 = Seq(
      (401L, "red orange yellow green blue indigo violet pink brown white"),
      (402L, "cat dog bird fish horse cow sheep goat pig duck"),
      (403L, "cat dog bird fish horse cow sheep goat pig swan"))
      .toDF("doc_id", "text")
    val priorIdx = spark.read.parquet(idxDir).filter($"bid" < 2)
      .select("band", "bucket", "corpus_sig")
    StreamOps.nearDupFilterSelf(b3, idx.unionByName(priorIdx), 0.5)
      .write.mode("overwrite").parquet(s"$out/bid=2")
    assert(spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
      === survivors)
  }

  test("streaming vector upsert: adds become searchable; serve equals the batch upsert") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    // build the frozen index on the base generation (the q_ann_upsert
    // fixture), persist its four tables
    val (c2, pcb2, codesB, asgnB, _) =
      graft.ops.Vectors.upsertParts(spark, sfDir)
    val idxDir = tmp("graft_vidx"); val cp = tmp("graft_vidxcp")
    c2.write.mode("overwrite").parquet(s"$idxDir/coarse")
    pcb2.write.mode("overwrite").parquet(s"$idxDir/codebooks")
    codesB.write.mode("overwrite").parquet(s"$idxDir/codes")
    asgnB.write.mode("overwrite").parquet(s"$idxDir/assign")

    // stream the incoming generation in THREE micro-batches with
    // compaction every 2 — batch 2 folds generations 0..1 into bid=-2
    val incoming = Tables.embeddings(spark, sfDir)
      .filter($"vec_id" % 5 === 4)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().toSeq
    val third = incoming.length / 3
    val (b1, rest) = incoming.splitAt(third)
    val (b2, b3) = rest.splitAt(third)
    val in = MemoryStream[(Long, Array[Float])]
    val q = StreamOps.vectorUpsertSink(
      in.toDF().toDF("vec_id", "embedding"), idxDir, cp, compactEvery = 2)
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    in.addData(b3: _*); q.processAllAvailable()
    q.stop()

    // compacted layout: generations 0..1 folded into bid=-2, batch 2
    // intact, published by the marker
    val bids = spark.read.parquet(s"$idxDir/codes_inc").select("bid")
      .as[Int].distinct().collect().toSet
    assert(bids === Set(-2, 2), bids.toString)
    val gfs = new org.apache.hadoop.fs.Path(idxDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(gfs.exists(
      new org.apache.hadoop.fs.Path(s"$idxDir/codes_inc/_compacted_2")))

    // two generations landed beside the frozen tables
    val (lc2, lpcb2, lcodes, lasgn) = StreamOps.loadVectorIndex(spark, idxDir)
    val nAsgn = lasgn.count()
    val nCodes = lcodes.count()
    assert(nAsgn === asgnB.count() + incoming.length)
    assert(nCodes === codesB.count() + 4L * incoming.length)

    // the served funnel over frozen ∪ streamed generations equals the
    // BATCH upsert bit-for-bit (same frozen fit, same deterministic
    // encode, same derived knobs)
    val served = graft.ops.Vectors
      .serveFunnel(spark, sfDir, lc2, lpcb2, lcodes, lasgn)
      .collect().toSeq
    val batchUpsert = graft.SparkEntry.queries("q_ann_upsert")(spark, sfDir)
      .drop("is_new").collect().toSeq
    assert(served === batchUpsert)
    // replay idempotence: re-encoding the LAST batch overwrites its own
    // generation — counts and the served answer are unchanged
    val s3 = spark.createDataset(b3).toDF("vec_id", "embedding")
    val (ra, rc) = graft.ops.Vectors.encodeOnto(lc2, lpcb2, s3)
    rc.write.mode("overwrite").parquet(s"$idxDir/codes_inc/bid=2")
    ra.write.mode("overwrite").parquet(s"$idxDir/assign_inc/bid=2")
    val (_, _, lcodes2, lasgn2) = StreamOps.loadVectorIndex(spark, idxDir)
    assert(lasgn2.count() === nAsgn)
    assert(lcodes2.count() === nCodes)
    assert(graft.ops.Vectors
      .serveFunnel(spark, sfDir, lc2, lpcb2, lcodes2, lasgn2)
      .collect().toSeq === served)
    // crash-window consistency: a superseded generation the compaction
    // has not deleted yet (simulated bid=0 leftover) must be INVISIBLE
    // to the reader — ADC sums would double-count duplicated code rows
    val s1 = spark.createDataset(b1).toDF("vec_id", "embedding")
    val (la, lc) = graft.ops.Vectors.encodeOnto(lc2, lpcb2, s1)
    lc.write.mode("overwrite").parquet(s"$idxDir/codes_inc/bid=0")
    la.write.mode("overwrite").parquet(s"$idxDir/assign_inc/bid=0")
    val (_, _, lcodes3, lasgn3) = StreamOps.loadVectorIndex(spark, idxDir)
    assert(lcodes3.count() === nCodes, "leftover generation must be filtered")
    assert(lasgn3.count() === nAsgn)
    assert(graft.ops.Vectors
      .serveFunnel(spark, sfDir, lc2, lpcb2, lcodes3, lasgn3)
      .collect().toSeq === served)
  }

  test("self-updating gate compacts its index; replay across the boundary holds") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val idx = StreamOps.minhashIndex(corpus)

    val in = MemoryStream[(Long, String)]
    val out = tmp("graft_cds"); val idxDir = tmp("graft_cdsidx")
    val cp = tmp("graft_cdscp")
    // compactEvery = 2: batch 2 folds generations 0..1 into the FRESH
    // generation bid=-2, published by the _compacted_2 marker
    val q = StreamOps.nearDupSelfSink(
      in.toDF().toDF("doc_id", "text"), idx, out, idxDir, cp,
      minJac = 0.5, compactEvery = 2)

    in.addData(
      (101L, "red orange yellow green blue indigo violet pink brown black"))
    q.processAllAvailable() // batch 0
    in.addData(
      (201L, "one two three four five six seven eight nine ten"))
    q.processAllAvailable() // batch 1
    in.addData(
      (301L, "mercury venus earth mars jupiter saturn uranus neptune pluto ceres"))
    q.processAllAvailable() // batch 2 → compaction folds bid 0..1 → bid=-2
    // a near-copy of the batch-0 survivor MUST still drop: the
    // compacted generation carries its band rows
    in.addData(
      (401L, "red orange yellow green blue indigo violet pink brown white"))
    q.processAllAvailable() // batch 3
    q.stop()

    assert(spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
      === Set(101L, 201L, 301L))
    // the layout is compacted: generations 0 and 1 folded into the
    // fresh generation bid=-2, the originals deleted AFTER the marker
    // (batch 3 admitted nothing, so its generation holds no rows)
    val bids = spark.read.parquet(idxDir).select("bid")
      .as[Int].distinct().collect().toSet
    assert(bids === Set(-2, 2), bids.toString)
    // the atomic publish marker survives (replays of batch 2 would see
    // it and skip the fold — never overwriting the sole committed copy)
    val fs = new org.apache.hadoop.fs.Path(idxDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(idxDir, "_compacted_2")))

    // the folded generation is the exact distinct union the uncompacted
    // layout would hold: probe parity for the batch-3 replay
    val priorAt3 = spark.read.parquet(idxDir).filter($"bid" < 3)
      .select("band", "bucket", "corpus_sig")
    val b3 = Seq(
      (401L, "red orange yellow green blue indigo violet pink brown white"))
      .toDF("doc_id", "text")
    // crash-replay of batch 3 across the compaction boundary: the
    // recomputed survivor set is empty (401 drops), and overwriting its
    // own partition changes nothing
    StreamOps.nearDupFilterSelf(b3, idx.unionByName(priorAt3), 0.5)
      .write.mode("overwrite").parquet(s"$out/bid=3")
    assert(spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
      === Set(101L, 201L, 301L))

    // crash-replay of batch 2 ITSELF (the compacting batch, crashed
    // after its writes but before the checkpoint commit): visibility
    // bid < 2 still sees every pre-batch-2 band row via the folded
    // bid=-2 generation, so the survivor set recomputes identically —
    // and the marker makes the fold a no-op on replay (the refold below
    // shows it WOULD re-derive the same distinct set anyway)
    val priorAt2 = spark.read.parquet(idxDir).filter($"bid" < 2)
      .select("band", "bucket", "corpus_sig")
    val b2 = Seq(
      (301L, "mercury venus earth mars jupiter saturn uranus neptune pluto ceres"))
      .toDF("doc_id", "text")
    val replay2 = StreamOps.nearDupFilterSelf(b2, idx.unionByName(priorAt2), 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(replay2 === Set(301L))
    val refold = spark.read.parquet(idxDir).filter($"bid" < 2)
      .select("band", "bucket", "corpus_sig").distinct()
    assert(refold.count() === priorAt2.distinct().count())
  }
}

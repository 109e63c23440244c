package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic corpus tiler for scale validation (VERDICT r3 item 1):
  * writes `tiles` id-shifted, structure-preserving copies of every
  * driver table from `inDir` into `outDir`, so the heavy operator
  * families can be measured at ~N× the largest read-only SF. Tile 0 is
  * the identity, so the source corpus is a subset of the output.
  *
  * Structure preservation per table (what keeps the workload shape
  * honest rather than just inflating row counts):
  *  - documents: every token of tile t>0 gets a `~t` suffix — per-tile
  *    vocabularies are disjoint, so the planted near-dup clusters (and
  *    gram df distributions, posting-cap behavior, band occupancies)
  *    replicate per tile instead of collapsing into one giant cross-tile
  *    dup cluster; corpus-wide frequency tables grow 10× wide, as a real
  *    10× corpus would.
  *  - embeddings: tile t applies a deterministic per-dimension ±1 sign
  *    pattern — an orthogonal transform, so every within-tile pairwise
  *    cosine (the planted structure, the k-means geometry) is EXACTLY
  *    preserved while cross-tile cosines scatter like fresh random
  *    vectors. vec_id shifts by t·10⁷ (planted-dup ids shift with it).
  *    This is the ADVERSARIAL geometry (near-worst case for any
  *    quantizer); the optional 4th argument `clustered` swaps the
  *    embedding VALUES for a deterministic 8-component Gaussian
  *    mixture on the same id layout — the realistic-corpus geometry
  *    the recall ladder is also graded on (round 11).
  *  - events: user_id shifts per tile (10× users with the same per-user
  *    session/window shape — how event corpora actually grow); event_id
  *    disambiguates; ts stays a raw epoch-ns long (plain INT64 on
  *    rewrite — Tables.events reads it identically).
  *  - TPC-H tables: all foreign keys shift together (customer/orders/
  *    lineitem/part/supplier stay referentially intact per tile);
  *    region/nation stay fixed, so low-cardinality dimension groups
  *    deepen 10× — the skew a real scale-up produces.
  *
  * Run: `sbt "runMain graft.tools.ScaleGen <inDir> <outDir> <tiles>"`.
  */
object ScaleGen {
  private val Off = 10000000L

  /** splitmix64 — the deterministic hash behind the clustered-corpus
    * mixture draw (no Math.random anywhere: a rerun writes identical
    * bytes).
    */
  private def mix(a: Long, b: Long): Long = {
    var x = a * 0x9E3779B97F4A7C15L + b
    x ^= (x >>> 31); x *= 0xBF58476D1CE4E5B9L; x ^= (x >>> 27)
    x
  }

  /** Uniform in [0, 1) from the hash. */
  private def unif(a: Long, b: Long): Double =
    (mix(a, b) >>> 11).toDouble / (1L << 53).toDouble

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: ScaleGen <inDir> <outDir> <tiles> [adversarial|clustered]")
    val (inDir, outDir, tiles) = (args(0), args(1), args(2).toInt)
    val mode = if (args.length >= 4) args(3) else "adversarial"
    require(mode == "adversarial" || mode == "clustered",
      s"unknown embedding mode '$mode'")
    val spark = Runs.session("32")
    import spark.implicits._

    def read(name: String) = spark.read.parquet(s"$inDir/$name.parquet")
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    def tiled(name: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = read(name)
      write((0 until tiles).map(t => f(base, t)).reduce(_ unionByName _), name)
    }

    // dimensions: fixed — groups get deeper, not wider
    write(read("region"), "region")
    write(read("nation"), "nation")

    tiled("customer")((d, t) => d.withColumn("c_custkey", col("c_custkey") + t * Off))
    tiled("supplier")((d, t) => d.withColumn("s_suppkey", col("s_suppkey") + t * Off))
    tiled("part")((d, t) => d.withColumn("p_partkey", col("p_partkey") + t * Off))
    tiled("orders")((d, t) => d
      .withColumn("o_orderkey", col("o_orderkey") + t * Off)
      .withColumn("o_custkey", col("o_custkey") + t * Off))
    tiled("lineitem")((d, t) => d
      .withColumn("l_orderkey", col("l_orderkey") + t * Off)
      .withColumn("l_partkey", col("l_partkey") + t * Off)
      .withColumn("l_suppkey", col("l_suppkey") + t * Off))
    tiled("events")((d, t) => d
      .withColumn("event_id", col("event_id") + t * Off)
      .withColumn("user_id", col("user_id") + t * Off))

    tiled("documents") { (d, t) =>
      val txt =
        if (t == 0) col("text")
        else array_join(transform(split(col("text"), " "),
          w => concat(w, lit(s"~$t"))), " ")
      d.withColumn("doc_id", col("doc_id") + t * Off)
        .withColumn("text", txt)
        .withColumn("n_chars", length(txt))
    }

    // per-tile ±1 sign pattern: a fixed LCG on (tile, dim) — tile 0 all +1
    val dim = read("embeddings").select(size(col("embedding"))).as[Int].head()
    if (mode == "adversarial") {
      tiled("embeddings") { (d, t) =>
        val signs = (0 until dim).map { j =>
          if (t == 0 || (((t * 2654435761L + j * 40503L) >>> 7) & 1L) == 0L) 1.0f else -1.0f
        }
        val signLit = array(signs.map(lit): _*)
        d.withColumn("vec_id", col("vec_id") + t * Off)
          .withColumn("embedding", zip_with(col("embedding"), signLit, (x, sg) => x * sg))
      }
    } else {
      // CLUSTERED mode (round 11 — VERDICT r10 item 2): the sign-flip
      // tiles are the documented near-WORST case for any quantizer
      // (cross-tile vectors are fresh random directions, so every ~sf1
      // serving number understates real corpora). This mode keeps the
      // exact id/tile layout (every oracle filter — the vec_id < 50
      // panel, the % 5 upsert split, the % 100 anchors — lands on the
      // same rows) but draws the VALUES from a deterministic
      // 8-component Gaussian mixture: center[c][j] ~ U(-1,1) hashed
      // from (c, j), vector = center + 1.2·g with g an Irwin-Hall(4)
      // normal approximant hashed from (vec_id, j) — intra-cluster
      // cosines ≈ 0.4, cross ≈ 0: a clear mixture, but with the ≥0.95
      // near-dup band EMPTY of organic pairs (at 0.6 noise the tail
      // produced 265k organic ≥0.95 pairs at ~sf1, drowning the
      // planted-dup recall gates). label = the true component (the
      // IVF/centroid queries then group by real structure). Every
      // value is half-up-quantized to the 1e-4 decimal grid BEFORE the
      // float cast: a scale-8 decimal-cast tie needs a dyadic with
      // k = 9 exactly (j odd/512), and no float of a 1e-4-grid value
      // is one — raw hashed floats DID land on ties (the
      // q_embed_centroid mismatch this mode's first cut produced).
      import spark.implicits._
      val k = 8
      val noise = 1.2
      val idsBase = read("embeddings").select(col("vec_id")).as[Long]
      val allIds = (0 until tiles).map(t => idsBase.map(_ + t * Off))
        .reduce(_ union _)
      write(allIds.map { id =>
        val comp = ((mix(id, -1L) % k) + k) % k
        val emb = Array.tabulate(dim) { j =>
          val c = unif(1000L + comp, j) * 2.0 - 1.0
          val g = unif(id, 4L * j) + unif(id, 4L * j + 1) +
            unif(id, 4L * j + 2) + unif(id, 4L * j + 3) - 2.0
          (math.floor((c + noise * g) * 1e4 + 0.5) / 1e4).toFloat
        }
        (id, emb, comp.toInt)
      }.toDF("vec_id", "embedding", "label"), "embeddings")
    }

    println(s"SCALEGEN wrote ${tiles}x of $inDir to $outDir (embeddings: $mode)")
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** The native codegen'd cosine must be bit-identical to the
  * higher-order-function formulation (same fold order), and handle the
  * null/shape edge cases.
  */
class CosineSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def hofCos(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
    def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  test("bit-identical to the HOF formulation on real embeddings") {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val both = e.crossJoin(broadcast(q))
      .select(
        VectorFunctions.cosine_sim(spark, $"embedding", $"qv").as("native"),
        hofCos($"embedding", $"qv").as("hof"))
    assert(both.filter($"native" =!= $"hof").count() === 0)
    assert(both.filter($"native".isNull).count() === 0)
  }

  test("native dot_product is bit-identical to the HOF fold") {
    def hofDot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val both = e.crossJoin(broadcast(q))
      .select(
        VectorFunctions.dot_product(spark, $"embedding", $"qv").as("native"),
        hofDot($"embedding", $"qv").as("hof"))
      .as[(Double, Double)].collect()
    assert(both.nonEmpty)
    both.foreach { case (n, h) =>
      assert(java.lang.Double.doubleToLongBits(n) ===
        java.lang.Double.doubleToLongBits(h))
    }
  }

  test("multiple codegen'd instances coexist in one generated function") {
    // several instances of every kernel in one generated function;
    // fallback=false turns a compile failure of the generated code into
    // a test failure instead of a silent interpreted fallback. The same
    // select then runs interpreted (NO_CODEGEN, whole-stage codegen off)
    // and every column must be bit-equal to the compiled run.
    // non-nullable AND non-foldable inputs (constant folding would
    // otherwise evaluate the expression interpreted at optimize time)
    val v = array(($"id".cast("float") + lit(1f)), lit(2f))
    val w = array(lit(3f), lit(4f))
    val vd = array(($"id".cast("double") + lit(0.5)), lit(-1.0))
    val cands = expr("array(" +
      "named_struct('c', 0, 'centroid', array(CAST(id AS DOUBLE), 1.0D)), " +
      "named_struct('c', 1, 'centroid', array(2.0D, CAST(id AS DOUBLE))), " +
      "named_struct('c', 2, 'centroid', array(1.0D, 2.0D)))")
    def select() = spark.range(3).select($"id",
        VectorFunctions.dot_product(spark, v, w).as("d1"),
        VectorFunctions.dot_product(spark, w, v).as("d2"),
        VectorFunctions.cosine_sim(spark, v, w).as("c1"),
        VectorFunctions.cosine_sim(spark, w, v).as("c2"),
        VectorFunctions.l2_sq(spark, v, vd).as("l1"),
        VectorFunctions.l2_sq(spark, vd, w).as("l2"),
        VectorFunctions.argmax_cosine(spark, v, cands).as("a1"),
        VectorFunctions.argmax_cosine(spark, vd, cands).as("a2"),
        VectorFunctions.argmin_l2(spark, v, cands).as("m1"),
        VectorFunctions.argmin_l2(spark, vd, cands).as("m2"))
      .collect().sortBy(_.getLong(0))
    val compiled = withConfs("spark.sql.codegen.fallback" -> "false")(select())
    assert(compiled.nonEmpty)
    compiled.foreach { r =>
      val id = r.getLong(0)
      val expect = (id + 1).toDouble * 3.0 + 2.0 * 4.0
      assert(r.getDouble(1) === expect && r.getDouble(2) === expect, s"id=$id dot")
      val (c1, c2) = (r.getDouble(3), r.getDouble(4))
      assert(c1 === c2 && c1 > 0.0 && c1 <= 1.0, s"id=$id cos")
      (5 to 10).foreach(i => assert(!r.isNullAt(i), s"id=$id col $i"))
    }
    // every double as its bit pattern, structs field by field
    def bits(x: Any): Any = x match {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case r: org.apache.spark.sql.Row => r.toSeq.map(bits)
      case o => o
    }
    val interpreted = withConfs(
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
        "spark.sql.codegen.wholeStage" -> "false")(select())
    assert(interpreted.map(bits).toSeq === compiled.map(bits).toSeq)
  }

  test("null and shape edge cases") {
    val df = Seq(
      (1L, Some(Array(1f, 0f)), Some(Array(1f, 0f))),   // identical → 1.0
      (2L, Some(Array(1f, 0f)), Some(Array(0f, 1f))),   // orthogonal → 0.0
      (3L, Some(Array(1f, 0f)), Some(Array(1f, 0f, 1f))), // shape mismatch → null
      (4L, None, Some(Array(1f, 0f))),                  // null input → null
      (5L, Some(Array(0f, 0f)), Some(Array(1f, 0f)))    // zero norm → null
    ).toDF("id", "a", "b")
    val got = df.select($"id",
        VectorFunctions.cosine_sim(spark, $"a", $"b").as("c"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got(1L) === Some(1.0))
    assert(got(2L) === Some(0.0))
    assert(got(3L) === None)
    assert(got(4L) === None)
    assert(got(5L) === None)
  }

  test("argmax_cosine equals the crossJoin + max_by twin exactly") {
    // the k-means assignment path: pack synthetic double-array centroids,
    // compare the single-projection argmax against the row-exploding
    // formulation it replaces — winner AND cosine must agree bitwise,
    // including the lowest-c tie-break
    val e = Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding")
    val cents = e.filter($"vec_id" < 7)
      .select(($"vec_id" % 7).cast("int").as("c"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("centroid"))
    val packed = cents.agg(
      sort_array(collect_list(struct($"c", $"centroid"))).as("cents"))
    val native = e.crossJoin(broadcast(packed))
      .select($"vec_id",
        VectorFunctions.argmax_cosine(spark, $"embedding", $"cents").as("best"))
      .select($"vec_id", $"best.c".as("c"), $"best.cos".as("cos"))
      .as[(Long, Int, Double)].collect().sortBy(_._1)
    val twin = e.crossJoin(broadcast(cents))
      .withColumn("cos", VectorFunctions.cosine_sim(spark, $"embedding", $"centroid"))
      .groupBy("vec_id")
      .agg(max_by(struct($"c", $"cos"), struct($"cos", -$"c")).as("b"))
      .select($"vec_id", $"b.c".as("c"), $"b.cos".as("cos"))
      .as[(Long, Int, Double)].collect().sortBy(_._1)
    assert(native.length === twin.length && native.nonEmpty)
    native.zip(twin).foreach { case ((vi, ci, si), (vj, cj, sj)) =>
      assert(vi === vj && ci === cj, s"vec $vi: cluster $ci vs $cj")
      assert(java.lang.Double.doubleToLongBits(si) ===
        java.lang.Double.doubleToLongBits(sj), s"vec $vi cos")
    }
    // a literal tie: two identical centroids must pick the LOWER c
    val tie = Seq((Array(1f, 0f), 0)).toDF("v", "ignore")
      .select(VectorFunctions.argmax_cosine(spark, $"v",
        expr("array(named_struct('c', 3, 'centroid', array(1.0D, 0.0D)), " +
          "named_struct('c', 5, 'centroid', array(1.0D, 0.0D)))")).as("best"))
      .select($"best.c").as[Int].head()
    assert(tie === 3, "exact ties must keep the lowest cluster id")
    // zero-norm vector and empty candidate set → NULL
    val edge = Seq((Array(0f, 0f), 0)).toDF("v", "ignore")
      .select(VectorFunctions.argmax_cosine(spark, $"v",
        expr("array(named_struct('c', 1, 'centroid', array(1.0D, 0.0D)))")).as("b"))
    assert(edge.filter($"b".isNull).count() === 1)
  }

  test("argmin_l2 equals the array_min(transform(...)) twin exactly") {
    // the PQ-encode path: real sf0.001 16-dim subvectors against a
    // packed c-sorted double codebook per subspace; winner AND d2 must
    // agree bitwise with the HOF twin (min d2, lowest c on ties)
    val subDim = 16
    val sub = Tables.embeddings(spark, sfDir)
      .select($"vec_id", posexplode(expr(s"transform(sequence(0, 3), " +
        s"m -> slice(embedding, m * $subDim + 1, $subDim))")).as(Seq("m", "sv")))
    val codebook = sub.filter($"vec_id" < 16)
      .select($"m", struct($"vec_id".cast("int").as("c"),
        expr("transform(sv, x -> CAST(x AS DOUBLE))").as("centroid")).as("cw"))
      .groupBy("m").agg(sort_array(collect_list($"cw")).as("codebook"))
    val hofTwin = expr("array_min(transform(codebook, x -> struct(" +
      "aggregate(zip_with(sv, x.centroid, (a, b) -> (a - b) * (a - b)), " +
      "0D, (acc, y) -> acc + y) AS d2, x.c AS c)))")
    val rows = sub.join(broadcast(codebook), "m")
      .select($"vec_id", $"m",
        VectorFunctions.argmin_l2(spark, $"sv", $"codebook").as("nat"),
        hofTwin.as("hof"))
      .select($"vec_id", $"m", $"nat.c".as("nc"), $"nat.d2".as("nd"),
        $"hof.c".as("hc"), $"hof.d2".as("hd"))
      .as[(Long, Int, Int, Double, Int, Double)].collect()
    assert(rows.nonEmpty && rows.map(_._1).distinct.length > 16)
    rows.foreach { case (id, m, nc, nd, hc, hd) =>
      assert(nc === hc, s"vec $id m $m: code $nc vs $hc")
      assert(java.lang.Double.doubleToLongBits(nd) ===
        java.lang.Double.doubleToLongBits(hd), s"vec $id m $m d2")
    }
    def argmin(cb: String) = Seq(Tuple1(Array(1f, 0f))).toDF("v")
      .select(VectorFunctions.argmin_l2(spark, $"v", expr(cb)).as("b"))
      .head().getStruct(0)
    // an exact tie (d2 = 1 both) keeps the LOWER c
    val tie = argmin("array(named_struct('c', 3, 'centroid', array(0.0D, 0.0D)), " +
      "named_struct('c', 5, 'centroid', array(2.0D, 0.0D)))")
    assert(tie.getInt(0) === 3 && tie.getDouble(1) === 1.0)
    // a length-mismatched candidate is skipped — the one divergence from
    // the twin, whose NULL d2 sorts first and would win
    val ragged = "array(named_struct('c', 1, 'centroid', array(1.0D)), " +
      "named_struct('c', 2, 'centroid', array(5.0D, 5.0D)))"
    val skip = argmin(ragged)
    assert(skip.getInt(0) === 2 && skip.getDouble(1) === 41.0)
    val twinPick = Seq(Tuple1(Array(1f, 0f))).toDF("v")
      .select(expr(s"array_min(transform($ragged, x -> struct(" +
        "aggregate(zip_with(v, x.centroid, (a, b) -> (a - b) * (a - b)), " +
        "0D, (acc, y) -> acc + y) AS d2, x.c AS c)))").as("b"))
      .head().getStruct(0)
    assert(twinPick.isNullAt(0) && twinPick.getInt(1) === 1)
    // no valid candidate → NULL
    assert(argmin("array(named_struct('c', 1, 'centroid', array(1.0D)))") === null)
  }

  test("works through SQL registration") {
    VectorFunctions.register(spark)
    Tables.embeddings(spark, sfDir).createOrReplaceTempView("emb_cos_spec")
    val r = spark.sql(
      "SELECT cosine_sim(embedding, embedding) AS c FROM emb_cos_spec LIMIT 5")
      .collect()
    r.foreach(row => assert(math.abs(row.getDouble(0) - 1.0) < 1e-12))
    // the shared type checks name the function and the expected types
    val notNumeric = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT l2_sq(array('a'), array(1.0D))").collect())
    assert(notNumeric.getMessage.contains(
      "l2_sq expects (array<float|double>, array<float|double>)"))
    val notPacked = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT argmin_l2(array(1.0D), array(1.0D))").collect())
    assert(notPacked.getMessage.contains(
      "argmin_l2 expects (array<float|double>, array<struct<int, array<double>>>)"))
  }

  test("l2_sq is bit-identical to the zip_with/aggregate fold (r15 ADC hot loop)") {
    // the HOF twin l2_sq replaces in the ADC distance-table build —
    // (a−b) evaluated twice per element, left fold from 0.0
    def hofL2(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, v) => acc + v)
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter($"vec_id" === 0)
      .select(expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("qv"))
    val both = e.crossJoin(broadcast(q))
      .select(expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("ev"), $"qv")
      .select(
        VectorFunctions.l2_sq(spark, $"ev", $"qv").as("native"),
        hofL2($"ev", $"qv").as("hof"))
      .as[(Double, Double)].collect()
    assert(both.nonEmpty)
    both.foreach { case (n, h) =>
      assert(java.lang.Double.doubleToLongBits(n) ===
        java.lang.Double.doubleToLongBits(h))
    }
    // float left arm is accepted and cast per element like the twin
    val f = e.crossJoin(broadcast(q))
      .select(VectorFunctions.l2_sq(spark, $"embedding", $"qv").as("native"),
        hofL2(expr("transform(embedding, v -> CAST(v AS DOUBLE))"), $"qv").as("hof"))
      .as[(Double, Double)].head()
    assert(java.lang.Double.doubleToLongBits(f._1) ===
      java.lang.Double.doubleToLongBits(f._2))
    // mismatched lengths → NULL (the twin's zip_with pads with NULL and
    // nulls the fold)
    val mm = spark.sql(
      "SELECT l2_sq(array(1.0D, 2.0D), array(1.0D)) AS d").collect()
    assert(mm.head.isNullAt(0))
  }

  test("CovMomentAggregator matches the decimal(30,14) column sums bit-for-bit") {
    import org.apache.spark.sql.types.DecimalType
    val d = 8
    val rows = Tables.embeddings(spark, sfDir)
      .filter($"vec_id" < 50)
      .select(slice($"embedding", 1, d).as("e"))
      .select($"e", posexplode($"e").as(Seq("i", "xi")))
    val mom = udaf(graft.functions.CovMomentAggregator(d),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Array[Double])]())
    val fast = rows.groupBy("i")
      .agg(mom($"xi".cast("double"),
        expr("transform(e, v -> CAST(v AS DOUBLE))")).as("arr"))
    val sums = (0 until d).map(j =>
      sum(($"xi".cast("double") * element_at($"e", j + 1).cast("double"))
        .cast(DecimalType(30, 14))).cast("double").as(s"s$j"))
    val slow = rows.groupBy("i")
      .agg(sums.head, sums.tail: _*)
      .select($"i", array((0 until d).map(j => col(s"s$j")): _*).as("arr"))
    val joined = fast.withColumnRenamed("arr", "fastArr")
      .join(slow, "i")
      .as[(Int, Array[Double], Array[Double])].collect()
    assert(joined.length === d)
    joined.foreach { case (_, fa, sl) =>
      fa.zip(sl).foreach { case (a, b) =>
        assert(java.lang.Double.doubleToLongBits(a) ===
          java.lang.Double.doubleToLongBits(b))
      }
    }
  }
}

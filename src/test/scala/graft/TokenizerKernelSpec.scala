package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** The native unigram Viterbi (`unigram_pieces`) against the
  * higher-order-function formulation it replaced in `Text.uniSegment`,
  * kept here as the reference: a per-word flat slot list regrouped
  * through explode + broadcast join + `collect_list`, the packed-long DP
  * fold, the longest-piece-last walk-back and the piece slices.
  */
class TokenizerKernelSpec extends SparkSpec {
  import spark.implicits._

  /** Piece cost of DP slot (p−l, l) from the packed slot list `pl`. */
  private def hofOpt(p: String, l: Int): String =
    s"IF($p >= $l, element_at(acc, $p - $l + 1) + " +
      s"element_at(pl, ($p - $l) * 4 + $l), NULL)"

  /** Longest piece length closing the min-cost path at position `cp`. */
  private def hofLstar(cp: String): String =
    "CASE " + (4 to 2 by -1).map { l =>
      s"WHEN $cp >= $l AND element_at(dp, $cp - $l + 1) + " +
        s"element_at(pl, ($cp - $l) * 4 + $l) = element_at(dp, $cp + 1) THEN $l "
    }.mkString + "ELSE 1 END"

  /** Both segmentations run over many cost tables at once: `words`
    * and `costs` carry a table id `t`.
    */
  private def hofSegment(words: DataFrame, costs: DataFrame): DataFrame = {
    val slots = words.select(col("t"), col("w"), col("f"),
      explode(expr("sequence(1, 4 * length(w))")).as("idx"))
      .select(col("t"), col("w"), col("f"), col("idx"), expr(
        "CASE WHEN ((idx + 3) div 4) + ((idx - 1) % 4 + 1) - 1 <= length(w) " +
          "THEN substring(w, (idx + 3) div 4, (idx - 1) % 4 + 1) END").as("sub"))
    val pl = slots
      .join(broadcast(costs.select(col("t"), col("p").as("sub"), col("cost"))),
        Seq("t", "sub"), "left")
      .groupBy("t", "w", "f")
      .agg(expr("transform(array_sort(collect_list(struct(idx, " +
        "coalesce(cost, 1000000000L) * 1048576 + 1 AS pk))), g -> g.pk)").as("pl"))
    val dpE = "aggregate(sequence(1, length(w)), array(0L), " +
      "(acc, p) -> array_append(acc, least(" +
      (1 to 4).map(l => hofOpt("p", l)).mkString(", ") + ")))"
    val reconE = "aggregate(sequence(1, length(w)), array(length(w)), " +
      "(acc, x) -> IF(element_at(acc, -1) <= 0, acc, " +
      s"array_append(acc, element_at(acc, -1) - (${hofLstar("element_at(acc, -1)")}))))"
    pl.withColumn("dp", expr(dpE))
      .withColumn("cuts", expr(reconE))
      .select(col("t"), col("w"), expr(
        "transform(sequence(1, size(cuts) - 1), k -> substring(w, " +
          "element_at(cuts, k + 1) + 1, " +
          "element_at(cuts, k) - element_at(cuts, k + 1)))").as("pieces"))
  }

  private def kernelSegment(words: DataFrame, costs: DataFrame): DataFrame =
    words.join(broadcast(costs.groupBy("t").agg(
        VectorFunctions.unigram_cost_map(col("p"), col("cost")).as("costs"))), "t")
      .select(col("t"), col("w"),
        VectorFunctions.unigram_pieces(spark, col("w"), col("costs")).as("pieces"))

  private def pieces(rows: Array[org.apache.spark.sql.Row]): Map[(String, String), Seq[String]] =
    rows.map(r => (r.getString(0), r.getString(1)) -> r.getSeq[String](2)).toMap

  // code points, two of them outside the BMP (4 UTF-8 bytes, 2 UTF-16 units)
  private val alphabet = Seq("a", "b", "c", "d", "é", "𝔸", "😀")

  test("unigram_pieces equals the HOF Viterbi on generated words and cost tables") {
    val rnd = new scala.util.Random(11)
    def word(n: Int): String = Seq.fill(n)(alphabet(rnd.nextInt(alphabet.size))).mkString
    val ws = (alphabet ++ Seq.fill(60)(word(2 + rnd.nextInt(9))) ++
      Seq(word(40), "abcd", "a𝔸", "ab" * 20)).distinct
    def cps(w: String): Seq[String] =
      w.codePoints().toArray.toSeq.map(c => new String(Character.toChars(c)))
    val subs = ws.flatMap { w =>
      val c = cps(w)
      for (i <- c.indices; l <- 2 to 4 if i + l <= c.size) yield c.slice(i, i + l).mkString
    }.distinct.sorted
    // costs drawn from a small range, so equal-cost splits are common
    val singles = alphabet.map(p => p -> rnd.nextInt(3).toLong)
    val tables = Seq(
      "singles only" -> singles,
      "singles + multi" ->
        (singles ++ rnd.shuffle(subs).take(40).map(p => p -> rnd.nextInt(5).toLong)),
      "one char missing" ->
        (singles.tail ++ rnd.shuffle(subs).take(25).map(p => p -> rnd.nextInt(4).toLong)),
      // abcd: ab+cd and abc+d tie (2 pieces, cost 2); the walk-back
      // takes the longest LAST piece, cd
      "ties" -> Seq("a" -> 1L, "b" -> 1L, "c" -> 1L, "d" -> 1L,
        "ab" -> 1L, "cd" -> 1L, "abc" -> 1L, "bcd" -> 2L))
    // repartitioned, so projections run in tasks (whole-stage codegen on
    // the first pass), not folded over a LocalRelation on the driver
    val words = (for ((t, _) <- tables; w <- ws) yield (t, w, 1L)).toDF("t", "w", "f")
      .repartition(2)
    val costs = (for ((t, tbl) <- tables; (p, c) <- tbl) yield (t, p, c)).toDF("t", "p", "cost")
    val expected = pieces(hofSegment(words, costs).collect())
    assert(expected(("ties", "abcd")) === Seq("cd", "ab"))
    assert(expected(("singles only", "a𝔸")) === Seq("𝔸", "a"))
    Seq(
      "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true"),
      "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    ).foreach { case (mode, confs) =>
      withConfs(confs: _*) {
        val df = kernelSegment(words, costs)
        val got = pieces(df.collect())
        // the final plan's kernel projection sits in a `*(n)` codegen span or not
        val plan = df.queryExecution.executedPlan.toString
        val line = plan.linesIterator.find(_.contains("unigramPieces")).get
        assert(line.contains("*(") === (mode == "codegen"), s"$mode:\n$plan")
        assert(got.keySet === expected.keySet, mode)
        expected.foreach { case (k @ (t, w), exp) =>
          assert(got(k) === exp, s"$mode/$t: '$w'")
          assert(exp.reverse.mkString === w, s"$t: '$w' pieces must spell the word")
        }
      }
    }
  }

  test("unigram_pieces: NULL word, empty word, wrong input types") {
    val costs = Seq(("a", 0L), ("ab", 0L)).toDF("p", "cost")
      .agg(VectorFunctions.unigram_cost_map(col("p"), col("cost")).as("costs"))
    val got = Seq(Some("ab"), Some(""), None).toDF("w").crossJoin(costs)
      .select(col("w"), VectorFunctions.unigram_pieces(spark, col("w"), col("costs")).as("pieces"))
      .collect().map(r => Option(r.getString(0)) -> Option(r.getSeq[String](1))).toMap
    assert(got(Some("ab")) === Some(Seq("ab")))
    assert(got(Some("")) === Some(Seq.empty))
    assert(got(None) === None)
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.range(1).select(VectorFunctions.unigram_pieces(spark, col("id"), map(lit("a"), lit(1L))))
        .collect()
    }
    assert(err.getMessage.contains("unigram_pieces expects (string, map<string, bigint>)"))
  }
}

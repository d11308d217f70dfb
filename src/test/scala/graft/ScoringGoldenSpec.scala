package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.score.Scoring
import ScoringGoldenSpec.Side

/** Golden values for `Scoring.scoreDefault` on four fixed pairs: every
  * Bayes-factor column, match_weight and match_probability are pinned to
  * the bit, so a refactor of the score model (constants inlined, levels
  * reordered, expressions rewritten) cannot shift a single double
  * unnoticed. The expected literals are `Double.toString` renderings, which
  * parse back to the identical double.
  */
class ScoringGoldenSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val hist = MapType(StringType,
    StructType(Seq(StructField("cnt", IntegerType), StructField("rel_freq", DoubleType))))
  private val strs = ArrayType(StringType)

  /** The columns the default model reads, per side. */
  private val sideFields = Seq(
    "conv_id" -> StringType, "sig_text" -> StringType, "turn_texts" -> strs,
    "role_seq" -> StringType, "salient_token_1" -> StringType,
    "salient_token_2" -> StringType, "salient_token_3" -> StringType,
    "token_freq_hist" -> hist, "very_unusual_tokens" -> strs,
    "extremely_unusual_tokens" -> strs, "n_turns" -> IntegerType,
    "numeric_token_1" -> StringType, "numeric_token_2" -> StringType)

  private val schema = StructType(for {
    s <- Seq("_l", "_r"); (n, t) <- sideFields
  } yield StructField(n + s, t))

  private val turnsA = Seq("HELLO I NEED HELP WITH ORDER 4471", "SURE WHAT IS THE ISSUE",
    "IT ARRIVED DAMAGED")
  private val fullA = Side("a1", turnsA.mkString(" "), turnsA, "UAU",
    ("4471", "DAMAGED", "ARRIVED"),
    Map("4471" -> ((2, 2.0e-6)), "DAMAGED" -> ((1, 3.0e-5)), "ARRIVED" -> ((1, 8.0e-5)),
      "ORDER" -> ((1, 4.0e-3)), "HELP" -> ((1, 6.0e-3))),
    Seq("DAMAGED"), Seq("4471"), 3, ("4471", null))
  private val nullSide = Side("n1", null, null, null, (null, null, null), null,
    null, null, null, (null, null))

  private val pairs: Seq[(String, (Side, Side))] = Seq(
    // no TF hist on either side: the TF-product level is neutral (BF 1)
    "both_hists_null" -> (
      Side("b1", "GOOD MORNING", Seq("GOOD MORNING"), "U", ("MORNING", "GOOD", null),
        null, Nil, Nil, 1, (null, null)),
      Side("b2", "GOOD EVENING", Seq("GOOD EVENING"), "U", ("EVENING", "GOOD", null),
        null, Nil, Nil, 1, (null, null))),
    // every feature of the right record is null
    "one_side_null" -> (fullA, nullSide),
    // shared rare token (cnt 2 on both sides: the pow branch of the TF
    // product), shared numeric token, role sequence one edit apart
    "shared_rare_and_numeric" -> (fullA,
      Side("a2", "HELLO I NEED HELP WITH ORDER 4471 IT ARRIVED DAMAGED 4471",
        Seq("HELLO I NEED HELP WITH ORDER 4471", "IT ARRIVED DAMAGED 4471"), "UU",
        ("4471", "DAMAGED", "ARRIVED"),
        Map("4471" -> ((2, 2.0e-6)), "DAMAGED" -> ((1, 3.0e-5)),
          "ARRIVED" -> ((1, 8.0e-5)), "ORDER" -> ((1, 4.0e-3))),
        Seq("DAMAGED"), Seq("4471"), 2, ("4471", null))),
    // the right record has one extra leading turn; salient and numeric
    // tokens match inverted. turn_jw lands in its else level: the shifted
    // alignments in Scoring.meanTurnJw read slice(r, 2, Int.MaxValue),
    // whose start + length overflows to an empty array, so only the
    // unshifted zip counts. Pinned here as the current behaviour.
    "turns_shifted_by_one" -> (fullA,
      Side("a3", "HI THERE " + turnsA.mkString(" "), "HI THERE" +: turnsA, "AUAU",
        ("DAMAGED", "4471", "ARRIVED"),
        Map("4471" -> ((1, 2.0e-6)), "DAMAGED" -> ((1, 3.0e-5)),
          "ARRIVED" -> ((1, 8.0e-5)), "THERE" -> ((1, 2.0e-3))),
        Nil, Seq("4471"), 4, ("77", "4471"))))

  private val bfCols = Seq("sig_text", "salient_token_1", "salient_token_3",
    "numeric_token_1", "numeric_token_2", "role_seq", "turn_jw", "rare_token_overlap",
    "n_turns", "token_tf_product").map("bf_" + _)
  private val outCols = bfCols ++ Seq("match_weight", "match_probability")

  private val golden: Map[String, Seq[Double]] = Map(
    "both_hists_null" -> Seq(1.0, 0.015625, 1.0, 1.0, 1.0, 16.0, 32.0, 0.25, 2.0, 1.0,
      -17.931567126628412, 3.999988000035999E-6),
    "one_side_null" -> Seq(1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0,
      -19.931567126628412, 1.0E-6),
    "shared_rare_and_numeric" -> Seq(1.0, 88.30269833351775, 8.0, 88.30269833351775, 1.0,
      8.0, 2.0, 128.0, 1.0, 2048.0, 17.997204111326536, 0.999996177917435),
    "turns_shifted_by_one" -> Seq(1.0, 4.0, 8.0, 4.0, 1.0, 8.0, 0.03125, 128.0, 1.0, 128.0,
      -0.931567126628412, 0.343956223467103))

  test("scoreDefault reproduces the golden Bayes factors, weights and probabilities bit for bit") {
    val rows = pairs.map { case (_, (l, r)) => Row.fromSeq(l.values ++ r.values) }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val scored = Scoring.scoreDefault(df, 1e-6)
    assert(scored.columns.filter(_.startsWith("bf_")).toSet === bfCols.toSet)
    val got = scored.select(("conv_id_r" +: outCols).map(scored.col): _*).collect()
      .map(r => r.getString(0) -> outCols.indices.map(i => r.getDouble(i + 1))).toMap
    val byName = pairs.map { case (name, (_, r)) => name -> got(r.id) }
    val mismatches = for {
      (name, vals) <- byName
      (c, g, w) <- outCols.lazyZip(vals).lazyZip(golden(name)).toSeq
      if java.lang.Double.doubleToRawLongBits(g) != java.lang.Double.doubleToRawLongBits(w)
    } yield s"$name.$c: got $g want $w"
    assert(byName.forall { case (n, _) => golden(n).length == outCols.length },
      "golden table incomplete")
    assert(mismatches.isEmpty, mismatches.mkString("; "))
  }
}

object ScoringGoldenSpec {
  /** One side of a pair, in `sideFields` order. */
  final case class Side(
      id: String, sigText: String, turns: Seq[String], roleSeq: String,
      salient: (String, String, String), hist: Map[String, (Int, Double)],
      very: Seq[String], extremely: Seq[String], nTurns: Integer,
      numeric: (String, String)) {
    def values: Seq[Any] = Seq(id, sigText, turns, roleSeq, salient._1, salient._2,
      salient._3, Option(hist).map(_.map { case (k, (c, f)) => k -> Row(c, f) }).orNull,
      very, extremely, nTurns, numeric._1, numeric._2)
  }
}

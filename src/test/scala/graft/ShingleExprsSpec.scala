package graft

import graft.functions.TextFns
import graft.operators.Dedup
import graft.plans.{Hash60MapExpr, WordShinglesExpr}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Equivalence pins for the round-15 native shingle kernels against the
  * exact HOF spellings they replaced. */
class ShingleExprsSpec extends SparkSpec {
  import spark.implicits._

  /** The pre-round-15 wordShingles spelling, verbatim. */
  private def hofShingles(c: org.apache.spark.sql.Column, n: Int) =
    coalesce(
      TextFns.bindOnce(TextFns.tokens(c)) { toks =>
        val nsh = size(toks) - (n - 1)
        val grams = transform(
          sequence(lit(0), greatest(nsh - 1, lit(0))),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))
        when(size(toks) <= n, array(concat_ws(" ", toks))).otherwise(array_distinct(grams))
      },
      array(lit("")))

  private def texts(n: Int): Seq[Option[String]] = {
    val ch: Gen[String] = Gen.frequency(
      7 -> Gen.alphaNumChar.map(_.toString),
      3 -> Gen.oneOf(" ", "  ", "\t", "\n"),
      1 -> Gen.oneOf("é", "文", "😀", ".", "UPPER"))
    val doc = Gen.chooseNum(0, 200).flatMap(k => Gen.listOfN(k, ch)).map(_.mkString)
    (0 until n).flatMap(i => doc(Gen.Parameters.default, Seed(3L + i))).map(Option(_)) ++
      Seq(None, Some(""), Some(" "), Some("one"), Some("one two"),
        Some("one two three"), Some("a b c d e f a b c d e f"),
        Some("Mixed CASE text\nwith\tweird   spacing"))
  }

  test("wordShingles (native) = the old HOF spelling, elementwise") {
    for (n <- Seq(1, 2, 3, 5)) {
      val df = texts(250).toDF("text").repartition(3)
      val mism = df.select(
          hofShingles(col("text"), n).as("ref"),
          TextFns.wordShingles(col("text"), n).as("native"))
        .filter(col("native") =!= col("ref") ||
          col("native").isNull =!= col("ref").isNull)
      assert(mism.count() == 0, s"mismatch at n=$n")
    }
  }

  test("Hash60MapExpr = transform(portableHash [% p])") {
    val df = texts(200).toDF("text").repartition(3)
      .select(TextFns.wordShingles(col("text"), 3).as("sh"))
    // a generated class that fails to compile would otherwise fall back
    // to `eval` silently, and be compiled again on every run
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val mism = df.select(
          transform(col("sh"), x => TextFns.portableHash(x) % Dedup.MinhashP).as("refMod"),
          Hash60MapExpr(col("sh"), Dedup.MinhashP).as("natMod"),
          transform(col("sh"), x => TextFns.portableHash(x)).as("refRaw"),
          Hash60MapExpr(col("sh"), 0L).as("natRaw"))
        .filter(col("natMod") =!= col("refMod") || col("natRaw") =!= col("refRaw"))
      assert(mism.count() == 0)
    } finally {
      spark.conf.unset("spark.sql.codegen.fallback")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("minhash signatures unchanged by the native kernels") {
    val df = texts(150).toDF("text").repartition(3)
    // the full signature path vs a from-scratch HOF re-derivation
    val ref = graft.plans.MinhashSigExpr(
      transform(hofShingles(col("text"), 3), x => TextFns.portableHash(x) % Dedup.MinhashP), 32)
    val mism = df.select(ref.as("ref"),
        Dedup.minhashSignature(col("text"), 32, 3).as("native"))
      .filter(col("native") =!= col("ref") || col("native").isNull =!= col("ref").isNull)
    assert(mism.count() == 0)
  }
}

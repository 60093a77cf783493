package graft

import org.apache.spark.sql.{AnalysisException, Row, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Arbitrary, Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextFunctions

/** [[graft.functions.LowerUtf8]] must return Spark's `lower` byte for
  * byte: a ScalaCheck property over arbitrary Unicode strings (including
  * lone surrogates and the full code-point range), random bytes cast to
  * string (invalid UTF-8), null and empty, in whole-stage codegen, in
  * interpreted evaluation and with ICU case mappings off; plus fixed
  * special-casing inputs and the analysis-time refusal of a collated
  * string.
  */
class LowerUtf8Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("id", IntegerType), StructField("s", StringType),
    StructField("b", BinaryType)))

  private def session(confs: (String, String)*): SparkSession = {
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  private val codegen = Seq(
    "spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
  private val interpreted = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** Rows whose kernel output differs from Spark `lower`, compared as raw
    * bytes. The input is an RDD-backed relation, not a local one, so the
    * projection runs in the session's evaluation mode instead of being
    * folded at planning time.
    */
  private def mismatches(s: SparkSession, strs: Seq[String],
                         bytes: Seq[Array[Byte]]): Seq[String] = {
    val rows = strs.zipWithIndex.map { case (v, i) => Row(i, v, null) } ++
      bytes.zipWithIndex.map { case (v, i) => Row(strs.size + i, null, v) }
    val df = s.createDataFrame(s.sparkContext.parallelize(rows, 2), schema)
      .select(col("id"), coalesce(col("s"), col("b").cast("string")).as("s"))
      .select(col("id"), lower(col("s")).cast("binary").as("spark"),
        TextFunctions.lowerUtf8(col("s")).cast("binary").as("kernel"))
    val wholeStage = df.queryExecution.executedPlan
      .find(_.isInstanceOf[WholeStageCodegenExec]).isDefined
    assert(wholeStage == s.conf.get("spark.sql.codegen.wholeStage").toBoolean)
    df.collect().toSeq.collect {
      case r if !java.util.Arrays.equals(
          r.getAs[Array[Byte]]("spark"), r.getAs[Array[Byte]]("kernel")) =>
        val i = r.getInt(0)
        if (i < strs.size) s"string ${strs(i).map(_.toInt.toHexString)}"
        else s"bytes ${bytes(i - strs.size).mkString(",")}"
    }
  }

  private val codePoint: Gen[Int] =
    Gen.choose(0, Character.MAX_CODE_POINT)
      .filter(cp => cp < Character.MIN_SURROGATE || cp > Character.MAX_SURROGATE)

  private val special: Gen[Char] = Gen.oneOf(
    "İIıiΣσςßẞǅǄǆΐΰﬀĲİ̇ÀÉÑΩΆὈᾈ̇ͅ".toSeq)

  private val unicode: Gen[String] = Gen.frequency(
    3 -> Gen.asciiStr,
    3 -> Arbitrary.arbitrary[String],
    2 -> Gen.listOf(codePoint).map(cps => new String(cps.toArray, 0, cps.size)),
    2 -> Gen.listOf(Gen.oneOf(special, Gen.alphaChar)).map(_.mkString))

  private val rawBytes: Gen[Array[Byte]] =
    Gen.listOf(Arbitrary.arbitrary[Byte]).map(_.toArray)

  private def checkProperty(s: SparkSession, seed: Long): Unit = {
    val prop = Prop.forAll(Gen.listOfN(64, unicode), Gen.listOfN(16, rawBytes)) {
      (strs, bytes) =>
        val bad = mismatches(s, strs ++ Seq(null, ""), bytes)
        Prop(bad.isEmpty) :| bad.take(5).mkString("; ")
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(8).withInitialSeed(Seed(seed)), prop)
    assert(res.passed, Pretty.pretty(res))
  }

  test("kernel equals Spark lower on arbitrary input: whole-stage codegen") {
    checkProperty(session(codegen: _*), 811L)
  }

  test("kernel equals Spark lower on arbitrary input: interpreted") {
    checkProperty(session(interpreted: _*), 812L)
  }

  test("kernel equals Spark lower with ICU case mappings off") {
    val off = "spark.sql.icu.caseMappings.enabled" -> "false"
    checkProperty(session(off +: codegen: _*), 813L)
    checkProperty(session(off +: interpreted: _*), 814L)
  }

  test("fixed special-casing inputs: dotted I, final sigma, sharp s, " +
    "surrogate pair") {
    val cases = Seq(
      "İ" -> "i̇", // U+0130 lowercases to i + combining dot above
      "ΣΑΣ" -> "σας", // final sigma
      "ß" -> "ß",
      "𐐀" -> "𐐨", // U+10400 → U+10428
      "MiXeD ascii" -> "mixed ascii")
    for (mode <- Seq(codegen, interpreted)) {
      val s = session(mode: _*)
      assert(mismatches(s, cases.map(_._1), Nil).isEmpty)
      val rows = s.createDataFrame(s.sparkContext.parallelize(
        cases.map { case (in, _) => Row(0, in, null) }, 1), schema)
        .select(TextFunctions.lowerUtf8(col("s"))).collect().map(_.getString(0))
      assert(rows.toSeq == cases.map(_._2))
    }
  }

  test("a collated or non-string input is refused at analysis") {
    val df = spark.range(1).select(lit("ABC").as("s"), lit(1).as("n"))
    val collated = intercept[AnalysisException](
      df.select(TextFunctions.lowerUtf8(collate(col("s"), "UTF8_LCASE"))).schema)
    assert(collated.getMessage.contains("lower_utf8 expects a UTF8_BINARY string"),
      collated.getMessage)
    val numeric = intercept[AnalysisException](
      df.select(TextFunctions.lowerUtf8(col("n"))).schema)
    assert(numeric.getMessage.contains("lower_utf8 expects a UTF8_BINARY string"),
      numeric.getMessage)
  }
}

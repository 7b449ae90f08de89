package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.functions.Natives

/** How each native Column factory is wired into Catalyst, checked on a small
  * DataFrame with a null row: whole-stage codegen and interpreted evaluation
  * agree, null in gives null out, the generated code calls the `*Ops` method
  * directly, and the plan text carries no identity hash. The values
  * themselves are pinned by NativeOpsProps and the query tests. */
class NativeWiringSpec extends SparkSpec {

  private val ql = (0 until 64).map(i => (i - 32).toLong * 123457L)

  private lazy val input: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(
      Row("Hi @user http://x.co COVID-19 ok😀 done 42",
        Seq("the", "cat", "sat", "on", "the", "mat"),
        Seq("a", "b", "c"), Seq(0.5f, -1.25f), Seq(0.5, -1.25), ql),
      Row("", Seq.empty[String], Seq.empty[String], Seq.empty[Float], Seq.empty[Double],
        Seq(1L, 2L)),
      Row(null, null, null, null, null, null)), 2),
    StructType(Seq(
      StructField("text", StringType),
      StructField("w", ArrayType(StringType, containsNull = false)),
      StructField("sh", ArrayType(StringType, containsNull = false)),
      StructField("ef", ArrayType(FloatType, containsNull = false)),
      StructField("ed", ArrayType(DoubleType, containsNull = false)),
      StructField("ql", ArrayType(LongType, containsNull = false)))))

  /** (factory, the Ops call it must compile to). */
  private val natives: Seq[(String, Column, String)] = Seq(
    ("emojiStripTokens", Natives.emojiStripTokens(col("text")), "EmojiOps.strip"),
    ("urlUserCovidStrip", Natives.urlUserCovidStrip(col("text")), "NoiseOps.strip"),
    ("alphaSpaceLower", Natives.alphaSpaceLower(col("text")), "AlphaOps.fold"),
    ("qdot", Natives.qdot(col("ql"), col("ql")), "EmbedOps.qdot"),
    ("quantize", Natives.quantize(col("ef")), "EmbedOps.quantizeF"),
    ("quantize double", Natives.quantize(col("ed"), fromDouble = true), "EmbedOps.quantizeD"),
    ("lshBucket", Natives.lshBucket(col("ql")), "EmbedOps.lshBucket"),
    ("shingleSet", Natives.shingleSet(col("w")), "ShingleOps.shingles"),
    ("sortedIntersectSize", Natives.sortedIntersectSize(col("sh"), col("sh")),
      "ShingleOps.sortedIntersectSize"),
    ("minHashSig", Natives.minHashSig(col("sh")), "MinHashOps.sig"),
    ("simHash16", Natives.simHash16(col("w")), "RowStatOps.simhash16"),
    ("lenHist", Natives.lenHist(col("w")), "RowStatOps.lenHist"),
    ("tokenStats", Natives.tokenStats(col("w"), Seq("the", "on")), "RowStatOps.tokenStats"),
    ("frameSample", Natives.frameSample(col("text")), "RowStatOps.frameSample"),
    ("wordTfPairs", Natives.wordTfPairs(col("w")), "RowStatOps.wordTfPairs"),
    ("tokenCounts", Natives.tokenCounts(col("text")), "RowStatOps.tokenCounts"),
    ("vocabPositions", Natives.vocabPositions(col("w"), Seq("cat" -> 0L, "the" -> 1L)),
      "RowStatOps.vocabPositions"))

  private def interpreted[A](body: => A): A = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    spark.conf.set(keys(0), "false")
    spark.conf.set(keys(1), "NO_CODEGEN")
    try body finally keys.foreach(spark.conf.unset)
  }

  test("a join on a native does not re-evaluate the natives below it") {
    // qdot in the join condition must not make the optimizer infer
    // isnotnull(q) and push a second quantizeF under each side's projection.
    val e = input.select(col("text"), Natives.quantize(col("ef")).as("q"))
    val plan = e.as("a").join(e.as("b"), Natives.qdot(col("a.q"), col("b.q")) > 0)
      .queryExecution.optimizedPlan.toString
    assert("EmbedOps\\.quantizeF\\(".r.findAllIn(plan).size == 2, plan)
  }

  natives.foreach { case (name, native, call) =>
    test(s"$name: codegen equals interpreted, null propagates, direct $call call") {
      def df = input.select(col("text").isNull.as("null_in"), native.as("out"))
      val compiled = df.collect().toSeq
      assert(compiled == interpreted(df.collect().toSeq))
      assert(compiled.size == 3)
      compiled.foreach(r => assert(r.isNullAt(1) == r.getBoolean(0), s"$name on $r"))

      val code = codegenString(df.queryExecution.executedPlan)
      assert(code.contains(s"graft.functions.$call("), s"$name codegen:\n$code")
      val plan = df.queryExecution.toString
      assert("@[0-9a-f]{6,}".r.findFirstIn(plan).isEmpty, s"$name plan:\n$plan")
    }
  }
}

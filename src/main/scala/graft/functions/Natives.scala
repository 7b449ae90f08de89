package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, TaggingExpression}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.immutable.ArraySeq

/** The engine's native per-row functions as Columns (README design rule 2).
  *
  * Each is Spark's own `StaticInvoke` of one method of a `*Ops` object
  * (scalac emits static forwarders, so `graft.functions.EmojiOps.strip(...)`
  * is valid Java). Whole-stage codegen compiles it to that direct call;
  * interpreted mode calls the same method by reflection; a null argument
  * gives a null result without calling the method. Semantics, equivalence
  * proofs and the reason each one is native live on the `*Ops` methods.
  *
  * Reference arguments (stop words, vocab map) are plan literals whose
  * values compare and print by content, so plans stay deterministic and
  * equal calls stay equal (subexpression elimination, exchange reuse). */
object Natives {

  /** The one Catalyst node the natives add: it passes its StaticInvoke
    * through unchanged (codegen, eval, type, nullability) but is not
    * null-intolerant. StaticInvoke is (nullIntolerant = propagateNull), so
    * constraint inference would derive `isnotnull(x)` for a native's input
    * column and push it below the projection that computes `x`, evaluating
    * the native behind `x` once more per row: sim_pairs_threshold and
    * sim_ann_lsh gained one quantizeF per row on each join side. */
  case class NativeCall(child: Expression) extends TaggingExpression {
    override protected def withNewChildInternal(newChild: Expression): NativeCall =
      copy(child = newChild)
  }

  private def native(ops: AnyRef, dataType: DataType, method: String,
      args: Column*): Column =
    GraftColumnBridge.column(NativeCall(StaticInvoke(ops.getClass, dataType,
      method, args.map(GraftColumnBridge.expression), returnNullable = false)))

  private def reference(value: AnyRef): Column =
    GraftColumnBridge.column(Literal.fromObject(value))

  private val LongArray = ArrayType(LongType, containsNull = false)

  /** F1: drop every whitespace token containing an emoji codepoint. */
  def emojiStripTokens(c: Column): Column = native(EmojiOps, StringType, "strip", c)

  /** F2→F4: remove http\S+ runs, @usernames and whole-word covid variants. */
  def urlUserCovidStrip(c: Column): Column = native(NoiseOps, StringType, "strip", c)

  /** F5→F7: keep ASCII letters and spaces, collapse and trim, lowercase. */
  def alphaSpaceLower(c: Column): Column = native(AlphaOps, StringType, "fold", c)

  /** Exact integer dot product of two ARRAY<BIGINT> columns. */
  def qdot(a: Column, b: Column): Column = native(EmbedOps, LongType, "qdot", a, b)

  /** floor(x·10⁶) of an ARRAY<FLOAT> column, or of an ARRAY<DOUBLE> one when
    * `fromDouble`, as ARRAY<BIGINT>. The caller knows its input type. */
  def quantize(c: Column, fromDouble: Boolean = false): Column =
    native(EmbedOps, LongArray, if (fromDouble) "quantizeD" else "quantizeF", c)

  /** 8-bit sign-LSH bucket of a 64-dim quantized vector. */
  def lshBucket(c: Column): Column = native(EmbedOps, LongType, "lshBucket", c)

  /** Distinct word-n-gram shingles of a token array. */
  def shingleSet(c: Column, n: Int = 3): Column =
    native(ShingleOps, ArrayType(StringType, containsNull = false), "shingles", c, lit(n))

  /** |a ∩ b| of two sorted, distinct ARRAY<STRING> columns. */
  def sortedIntersectSize(a: Column, b: Column): Column =
    native(ShingleOps, LongType, "sortedIntersectSize", a, b)

  /** 16-permutation MinHash signature of a shingle set. */
  def minHashSig(c: Column): Column = native(MinHashOps, LongArray, "sig", c)

  /** SimHash-16 fingerprint of a word array. */
  def simHash16(c: Column): Column = native(RowStatOps, LongType, "simhash16", c)

  /** Counts of words with 1..10 characters. */
  def lenHist(c: Column): Column = native(RowStatOps, LongArray, "lenHist", c)

  /** [n_tokens, n_stop, tot_len] of a split array against `stopWords`. */
  def tokenStats(c: Column, stopWords: Seq[String]): Column =
    native(RowStatOps, LongArray, "tokenStats", c,
      reference(new ArraySeq.ofRef(stopWords.map(UTF8String.fromString).toArray)))

  /** Code points at every 16th character of a string. */
  def frameSample(c: Column): Column =
    native(RowStatOps, ArrayType(IntegerType, containsNull = false), "frameSample", c)

  /** (word, cnt) pairs, one per distinct word of a token array. */
  def wordTfPairs(c: Column): Column =
    native(RowStatOps, ArrayType(StructType(Seq(
      StructField("word", StringType, nullable = false),
      StructField("cnt", LongType, nullable = false))), containsNull = false),
      "wordTfPairs", c)

  /** [n_ws_tokens, n_bpe_tokens] of a raw text string. */
  def tokenCounts(c: Column): Column = native(RowStatOps, LongArray, "tokenCounts", c)

  /** Sorted positions of a token array's in-vocabulary words. */
  def vocabPositions(c: Column, vocab: Seq[(String, Long)]): Column = {
    val m = new java.util.HashMap[UTF8String, java.lang.Long](vocab.length * 2)
    vocab.foreach { case (w, p) => m.put(UTF8String.fromString(w), p) }
    native(RowStatOps, LongArray, "vocabPositions", c, reference(m))
  }
}

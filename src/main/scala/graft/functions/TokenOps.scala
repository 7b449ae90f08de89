package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** The engine's deterministic 31-bit string hash, used inside the MinHash
  * and SimHash natives: sum_k (k · codepoint_k) · 2654435761 mod (2³¹−1),
  * 1-based k. Bit-identical to the SQL formulation used by the DuckDB
  * oracles (`Dedup.wordHashExpr` / `wordHashSql`). */
object TokenOps {
  /** Matches ascii(substring(s, k, 1)) semantics: k-th codepoint, 1-based. */
  def strHash31(in: UTF8String): Long = {
    val s = in.toString
    var sum = 0L
    var k = 1L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      sum += k * cp
      k += 1
      i += Character.charCount(cp)
    }
    (sum * 2654435761L) % 2147483647L
  }
}

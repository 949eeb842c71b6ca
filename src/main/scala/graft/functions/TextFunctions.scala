package graft.functions

import org.apache.spark.sql.Column

/** Text cleaning / tokenization, Spark-native.
  *
  * Replicates the reference tokenizer (maco/util.py:11 `get_cleaned_text`)
  * as a pure `org.apache.spark.sql.functions` chain so it stays inside
  * whole-stage codegen (no UDF). The same chain can be emitted as DuckDB
  * SQL (for the correctness oracle) via [[cleanedTextSql]] — both engines
  * use non-overlapping left-to-right regex replacement, so the sequential
  * stopword-removal semantics match exactly.
  */
object TextFunctions {

  /** Stopword list from maco/util.py:14. Order matters: removal is a
    * sequential fold and ` x ` replacement is non-overlapping.
    */
  val Stopwords: Seq[String] = Seq(
    "a", "the", "of", "on", "in", "an", "and", "is", "at", "are", "as",
    "be", "but", "by", "for", "it", "no", "not", "or", "such", "that",
    "their", "there", "these", "to", "was", "with", "they", "will",
    "v", "ve", "d")

  /** maco/util.py:11 — ASCII-fold, non-alnum runs → single space, lower,
    * trim, then sequential stopword strip. Null-safe: null → null.
    *
    * Implemented as one compiled function, not a 99-deep regexp_replace
    * chain: the chain blows past Janino's method-size limit (killing
    * whole-stage codegen for every plan it appears in) and costs 99
    * regex passes per cell — untenable in the index-build hot path.
    */
  def cleanedText(c: Column): Column = XashKernel.cleanTextCol(c.cast("string"))

  /** Row-level form (same semantics as the SQL twin below: Java
    * String.replace is left-to-right non-overlapping like Python's).
    */
  def cleanedTextLocal(text: String): String = {
    if (text == null) return null
    // single pass: ASCII-fold + non-alnum runs → single space + lower
    val sb = new java.lang.StringBuilder(text.length)
    var pendingSpace = false
    var i = 0
    while (i < text.length) {
      val ch = text.charAt(i)
      if (ch < 128) {
        val isAl = (ch >= 'a' && ch <= 'z') || (ch >= 'A' && ch <= 'Z') || (ch >= '0' && ch <= '9')
        if (isAl) {
          if (pendingSpace && sb.length > 0) sb.append(' ')
          pendingSpace = false
          sb.append(if (ch >= 'A' && ch <= 'Z') (ch + 32).toChar else ch)
        } else pendingSpace = true
      }
      i += 1
    }
    var s = sb.toString
    var w = 0
    while (w < Stopwords.length) {
      val sw = Stopwords(w)
      s = s.replace(" " + sw + " ", " ")
      if (s.startsWith(sw + " ")) s = s.substring(sw.length + 1)
      if (s.endsWith(" " + sw)) s = s.substring(0, s.length - sw.length - 1)
      w += 1
    }
    s
  }

  /** DuckDB SQL equivalent of [[cleanedText]] applied to SQL expression
    * `expr`. DuckDB regexp_replace needs the 'g' flag to match Spark's
    * replace-all default.
    */
  def cleanedTextSql(expr: String): String = {
    val ascii = s"regexp_replace(CAST($expr AS VARCHAR), '[^\\x00-\\x7F]', '', 'g')"
    val words = s"lower(regexp_replace($ascii, '[^a-zA-Z0-9]+', ' ', 'g'))"
    val base  = s"trim($words)"
    Stopwords.foldLeft(base) { (acc, w) =>
      val mid = s"regexp_replace($acc, ' $w ', ' ', 'g')"
      val hd  = s"regexp_replace($mid, '^$w ', '', 'g')"
      s"regexp_replace($hd, ' $w$$', '', 'g')"
    }
  }
}

package graft.functions

import org.apache.spark.sql.functions.udf

/** SimHash over character 3-grams (reference: maco/util.py:250
  * generate_Simhash).
  *
  * Two modes:
  * - [[simhash64]] (default): 64-bit with an FNV-1a feature hash — a
  *   64-bit fingerprint packs into one long column (native comparisons,
  *   hamming distance via `bit_count(a ^ b)`) which is what a 100 TB
  *   near-dup pass needs. Pinned by unit vectors, checked rows-only by
  *   the driver.
  * - [[simhash128]] (reference-exact): the full 128-bit md5-based
  *   fingerprint of maco/util.py:250 + the public `simhash` library's
  *   build_by_features — feature = char 3-gram of the lowercased,
  *   non-word-stripped token (whole remainder when shorter), weighted
  *   by occurrence, hashed with md5; bit i set when the weighted
  *   feature-bit sum is strictly positive. A fingerprint computed by the
  *   reference is bit-identical here, so MATE/dedup results over
  *   reference-written simhashes are reproducible.
  */
object SimHash {
  val Width = 3

  def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** maco/util.py:270 feature extraction: lowercase, strip non-word,
    * then all 3-grams (the whole string if shorter).
    */
  def features(text: String): Seq[String] = {
    val t = text.toLowerCase.replaceAll("[^\\w]+", "")
    if (t.length <= Width) Seq(t)
    else (0 to t.length - Width).map(i => t.substring(i, i + Width))
  }

  def simhash64(text: String): Long = {
    if (text == null) return 0L
    val v = new Array[Long](64)
    features(text).foreach { f =>
      val h = fnv1a64(f)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) v(b) += 1 else v(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (v(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Reference-exact 128-bit SimHash as (hi, lo) signed longs — bit i of
    * the 128-bit integer is bit (i mod 64) of lo for i < 64, of hi
    * otherwise (matching `int(md5(f).hexdigest(), 16)` big-endian
    * semantics: bit 0 = lowest bit of the digest's LAST byte).
    */
  def simhash128(token: String): (Long, Long) = {
    if (token == null) return (0L, 0L)
    val t = token.toLowerCase.replaceAll("[^\\w]+", "")
    // range(max(len-width+1, 1)): always ≥1 feature — the whole (possibly
    // empty) remainder when shorter than the 3-gram width
    val feats =
      if (t.length <= Width) Seq(t)
      else (0 to t.length - Width).map(i => t.substring(i, i + Width))
    val v = new Array[Int](128)
    val md = java.security.MessageDigest.getInstance("MD5")
    feats.foreach { f =>
      val d = md.digest(f.getBytes("UTF-8"))
      var i = 0
      while (i < 128) {
        if (((d(15 - (i >> 3)) >> (i & 7)) & 1) == 1) v(i) += 1 else v(i) -= 1
        i += 1
      }
    }
    var hi = 0L
    var lo = 0L
    var i = 0
    while (i < 64) { if (v(i) > 0) lo |= (1L << i); i += 1 }
    while (i < 128) { if (v(i) > 0) hi |= (1L << (i - 64)); i += 1 }
    (hi, lo)
  }

  /** (sh_hi, sh_lo) struct column of the reference-exact 128-bit mode. */
  val simhash128Udf = udf { (s: String) =>
    val (hi, lo) = simhash128(s); (hi, lo)
  }
}

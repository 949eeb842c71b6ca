package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.bitwise_not

/** XASH — 128-bit token hash used for MATE super keys.
  *
  * Bit-exact re-implementation of maco/util.py:141 `generate_XASH`
  * (hash_size=128, number_of_ones=5, rotation=true): the 5 least
  * frequent characters of the token each set one bit in a 111-bit hash
  * segment (position = charIndex*3 + tercile of the char's mean
  * position), the segment is bit-rotated by a length-dependent amount,
  * and bit `111 + len(token) % 17` encodes the token length.
  *
  * The 128-bit value is carried as two longs `(hi, lo)` — bitwise
  * containment checks (MATE's pre-filter) then stay native long ops
  * inside codegen instead of string/bitset work.
  */
object Xash {
  /** `' 0'..'9','a'..'z'` — 37-char alphabet, maco/util.py:171. */
  private val Alphabet = " 0123456789abcdefghijklmnopqrstuvwxyz"
  private val SegmentSize = 3          // 128-bit → 3 bits per char
  private val LengthBitStart = 111     // 37 * 3
  private val LengthMod = 128 - LengthBitStart // 17

  /** hash_size → per-char segment width (maco/util.py:173
    * segment_size_dict). 128 is the published default and the two-long
    * fast path ([[xash128]]); the other sizes are supported through the
    * generic [[xashBig]] for reference parity.
    */
  val SegmentSizes: Map[Int, Int] = Map(64 -> 1, 128 -> 3, 256 -> 6, 512 -> 13)

  /** XASH of a cleaned token at any reference hash size (64/128/256/512),
    * bit-exact to maco/util.py:141 generate_XASH.
    */
  def xashBig(token: String, hashSize: Int = 128): BigInt = {
    val segmentSize = SegmentSizes.getOrElse(hashSize,
      throw new IllegalArgumentException(
        s"XASH hash_size must be one of ${SegmentSizes.keys.toSeq.sorted}, got $hashSize"))
    val lengthBitStart = 37 * segmentSize
    val lengthMod = hashSize - lengthBitStart
    if (token == null || token == "" || token == "None" || token == " " || token == "''")
      return BigInt(0)

    // 5 least frequent chars, ties broken by codepoint (ascending).
    val counts = token.groupBy(identity).map { case (c, s) => (c, s.length) }
    val selected = counts.toSeq.sortBy { case (c, n) => (n, c) }.take(5).map(_._1)

    var result = BigInt(0)
    val tokenSize = token.length
    for (c <- selected) {
      val ci = Alphabet.indexOf(c)
      if (ci >= 0) {
        var sum = 0; var n = 0; var i = 0
        while (i < tokenSize) {
          if (token.charAt(i) == c) { sum += i; n += 1 }
          i += 1
        }
        val meanIndex = sum.toDouble / n
        var location = -1
        var s = 0
        while (s < segmentSize && location < 0) {
          if (meanIndex <= ((s + 1) * tokenSize).toDouble / segmentSize)
            location = ci * segmentSize + s
          s += 1
        }
        result = result | (BigInt(1) << location)
      }
    }

    // Rotation normalized by the length-bit position (maco/util.py:195).
    val d = (lengthBitStart * (tokenSize % lengthMod)) / lengthMod
    val x = result << d
    val y = result >> (lengthBitStart - d)
    result = (x | y) & ((BigInt(1) << lengthBitStart) - 1)

    result | (BigInt(1) << (lengthBitStart + tokenSize % lengthMod))
  }

  /** Generic-size XASH as little-endian 64-bit words
    * (hashSize/64 longs) — the storable form for the non-default sizes;
    * row super keys OR these word-wise and containment is word-wise
    * `q & ~row == 0`, exactly like the two-long 128 fast path.
    */
  def xashWords(token: String, hashSize: Int): Array[Long] = {
    val v = xashBig(token, hashSize)
    Array.tabulate(hashSize / 64)(i =>
      ((v >> (i * 64)) & ((BigInt(1) << 64) - 1)).toLong)
  }

  /** Word-wise row super key over any hash size. */
  def superKeyWords(tokens: Seq[String], hashSize: Int): Array[Long] = {
    val acc = new Array[Long](hashSize / 64)
    tokens.foreach { t =>
      val w = xashWords(t, hashSize)
      var i = 0
      while (i < acc.length) { acc(i) |= w(i); i += 1 }
    }
    acc
  }

  /** Word-wise containment: every query bit present in the row key. */
  def containsWords(row: Array[Long], q: Array[Long]): Boolean = {
    var i = 0
    while (i < q.length) {
      if ((q(i) & ~row(i)) != 0L) return false
      i += 1
    }
    true
  }

  /** (hi, lo) long pair of the 128-bit hash — allocation-free fast path
    * (the index build hashes every cell of the lake; BigInt here costs
    * several allocations per token). Cross-checked against [[xashBig]]
    * in XashSpec.
    */
  def xash128(token: String): (Long, Long) = {
    if (token == null || token == "" || token == "None" || token == " " || token == "''")
      return (0L, 0L)

    val tokenSize = token.length

    // top-5 least frequent chars: counts over the token's own chars
    val counts = new java.util.HashMap[Character, Integer]()
    var i = 0
    while (i < tokenSize) {
      counts.merge(token.charAt(i), 1, (a, b) => a + b)
      i += 1
    }
    // selection sort of up to 5 smallest (count, char) entries
    val entries = new java.util.ArrayList[java.util.Map.Entry[Character, Integer]](counts.entrySet())
    entries.sort { (a, b) =>
      val c = Integer.compare(a.getValue, b.getValue)
      if (c != 0) c else Character.compare(a.getKey, b.getKey)
    }

    var hi = 0L; var lo = 0L
    var s = 0
    val nSel = math.min(5, entries.size)
    while (s < nSel) {
      val c = entries.get(s).getKey.charValue()
      val ci = Alphabet.indexOf(c)
      if (ci >= 0) {
        var sum = 0; var n = 0; var j = 0
        while (j < tokenSize) {
          if (token.charAt(j) == c) { sum += j; n += 1 }
          j += 1
        }
        val meanIndex = sum.toDouble / n
        var location = -1
        var seg = 0
        while (seg < SegmentSize && location < 0) {
          if (meanIndex <= ((seg + 1) * tokenSize).toDouble / SegmentSize)
            location = ci * SegmentSize + seg
          seg += 1
        }
        if (location < 64) lo |= 1L << location else hi |= 1L << (location - 64)
      }
      s += 1
    }

    // rotate the 111-bit hash segment by d (maco/util.py:195)
    val d = (LengthBitStart * (tokenSize % LengthMod)) / LengthMod
    if (d > 0) {
      // (v << d) keeping only bits < 111 ...
      var shHi = if (d < 64) (hi << d) | (lo >>> (64 - d)) else lo << (d - 64)
      val shLo = if (d < 64) lo << d else 0L
      shHi &= (1L << (LengthBitStart - 64)) - 1
      // ... | (v >>> (111 - d))
      val r = LengthBitStart - d
      val rtLo = if (r < 64) (lo >>> r) | (hi << (64 - r)) else hi >>> (r - 64)
      val rtHi = if (r < 64) hi >>> r else 0L
      hi = shHi | rtHi
      lo = shLo | rtLo
    }

    // length bit at 111 + len % 17 (always in the hi word)
    hi |= 1L << (LengthBitStart + tokenSize % LengthMod - 64)
    (hi, lo)
  }

  /** Row super key: bitwise OR of the XASH of every cell in the row
    * (maco/data_handler.py:281).
    */
  def superKey(tokens: Seq[String]): (Long, Long) = {
    var hi = 0L; var lo = 0L
    tokens.foreach { t =>
      val (h, l) = xash128(t)
      hi |= h; lo |= l
    }
    (hi, lo)
  }

  /** MATE pre-filter: query super key bits ⊆ row super key bits.
    * Pure long ops — stays in codegen.
    */
  def contains(rowHi: Column, rowLo: Column, qHi: Column, qLo: Column): Column =
    (qHi.bitwiseAND(bitwise_not(rowHi)) === 0L) && (qLo.bitwiseAND(bitwise_not(rowLo)) === 0L)
}

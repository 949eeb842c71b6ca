package graft.functions

/** 128-bit Bloom-filter row hash (reference: maco/bloom_filter.py,
  * used as the alternative MATE super key in maco/mate.py:66).
  *
  * k=5 hash functions over a 128-bit array, carried as (hi, lo) longs
  * like XASH. Deviation (SURVEY.md §3): seeded FNV-1a instead of mmh3 —
  * same structure, deterministic, dependency-free.
  */
object BloomHash {
  val Size = 128
  val NumHashes = 5

  def add(hi0: Long, lo0: Long, token: String): (Long, Long) = {
    var hi = hi0; var lo = lo0
    // one FNV pass per token + k splitmix64-derived hashes (classic
    // double-hashing bloom construction, no per-seed string rebuild)
    val base = SimHash.fnv1a64(token)
    var i = 0
    while (i < NumHashes) {
      var h = base + i * 0x9E3779B97F4A7C15L
      h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
      h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
      h ^= h >>> 31
      val bit = java.lang.Math.floorMod(h, Size.toLong).toInt
      if (bit < 64) lo |= (1L << bit) else hi |= (1L << (bit - 64))
      i += 1
    }
    (hi, lo)
  }

  /** Bloom row hash of all cell tokens (maco/mate.py:82). */
  def rowHash(tokens: Seq[String]): (Long, Long) = {
    var hi = 0L; var lo = 0L
    tokens.foreach { t =>
      val (h, l) = add(hi, lo, if (t == null) "" else t)
      hi = h; lo = l
    }
    (hi, lo)
  }

  /** Column form yielding array<long> [hi, lo] (LakeIndexer contract) —
    * delegates to the codegen'd [[XashKernel.bloomRowHashCol]] kernel;
    * `rowHash` stays as the Scala reference the specs check it against.
    */
  def rowHashCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    XashKernel.bloomRowHashCol(c)
}

package graft.functions

/** MinHash over character n-grams (reference: cc_corpus/deduplication.py
  * :169–184 — 256 permutations, char 5-grams; scripts/minhash.py:42–44).
  *
  * The permutation family is our own (the reference rides on datasketch's
  * SHA1-based family; hash-function identity is not part of the query
  * semantics — parity is defined against our reference interpreter using
  * the same family): h_i(s) = (a_i * poly131(s) + b_i) mod (2^31-1), with
  * (a_i, b_i) drawn from a fixed splitmix64 stream (seed 42). The
  * per-shingle hash is a base-131 polynomial of the shingle's code
  * points (< 2^53) and the permutation prime is Mersenne-31, so every
  * intermediate of the signature/band chain fits in plain int64
  * arithmetic — the whole chain is exactly reproducible in DuckDB BIGINT
  * SQL, which is what gives the LSH band and candidate-pair tables an
  * independent oracle (the earlier FNV-1a/2^61 family bought nothing
  * semantically and cost both the oracle and a 128-bit mulmod per
  * permutation). A 31-bit min-hash value space is the standard datasketch
  * trade-off: per-permutation collision odds for distinct shingles are
  * 2^-31, immaterial next to the 1/256 signature sampling error. Empty
  * texts (< n code points) yield the all-MaxValue signature, so empty
  * docs collide with each other — same behavior as an un-updated
  * datasketch MinHash.
  *
  * Band structure for LSH: b bands of r rows (b*r = numPerm), chosen to
  * minimize |(1/b)^(1/r) - threshold| — the standard S-curve midpoint
  * criterion (Mining of Massive Datasets ch. 3).
  */
object MinHashF {

  val NumPerm  = 256
  val ShingleN = 5
  private val Prime = (1L << 31) - 1

  /** Fixed permutation parameters, derived from splitmix64(seed=42). */
  private val (as, bs): (Array[Long], Array[Long]) = {
    val a = new Array[Long](NumPerm)
    val b = new Array[Long](NumPerm)
    var i = 0
    while (i < NumPerm) {
      // a_i must be in [1, p); b_i in [0, p)
      a(i) = java.lang.Long.remainderUnsigned(
        graft.fixtures.CrawlFixtures.mix(1000L + 2L * i), Prime - 1) + 1
      b(i) = java.lang.Long.remainderUnsigned(
        graft.fixtures.CrawlFixtures.mix(2000L + 2L * i + 1), Prime)
      i += 1
    }
    (a, b)
  }

  /** FNV-1a 64-bit over UTF-8 bytes — stable across JVMs. */
  def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** x mod 2^31-1 for 0 <= x < 2^62 by Mersenne folding (two
    * shift-add folds + one conditional subtract) — bit-identical to
    * `x % Prime` but with no hardware division, which dominated the
    * 256-permutation inner loop (two idivs per permutation before).
    * Fold bound: x>>>31 <= 2^31-1 and x&Prime <= 2^31-1, so fold one
    * yields < 2^32; fold two yields <= 2^31; the subtract maps
    * Prime -> 0 and 2^31 -> 1, exactly x mod Prime.
    */
  @inline private[graft] def modP(x0: Long): Long = {
    var x = (x0 >>> 31) + (x0 & Prime)
    x = (x >>> 31) + (x & Prime)
    if (x >= Prime) x - Prime else x
  }

  /** (a*hp + b) mod 2^31-1 with hp already reduced (hp < p): a*hp + b
    * < 2^62, so the fold is exact — the same VALUE DuckDB's BIGINT
    * `(a*(h0%p)+b)%p` evaluates.
    */
  private def permute(a: Long, b: Long, hp: Long): Long =
    modP(a * hp + b)

  /** Base-131 polynomial over a window of `n` chars of an ASCII string
    * (chars == code points): h = ((c0*131 + c1)*131 + ...) — value
    * < 131^4 * 128 * 1.01 < 2^45, exactly representable in any engine's
    * int64. Mirrors the DuckDB oracle's
    * `unicode(text[i])*131 + unicode(text[i+1]) ...` shingle formula.
    */
  private def poly131AsciiWindow(s: String, from: Int, n: Int): Long = {
    var h = s.charAt(from).toLong
    var i = from + 1
    val end = from + n
    while (i < end) {
      h = h * 131L + s.charAt(i)
      i += 1
    }
    h
  }

  /** Same polynomial over a window of a code-point array (non-ASCII path;
    * DuckDB indexes strings by code point, so shingles are code-point
    * windows, not UTF-16 char windows). Max value 131^4 * 0x10FFFF < 2^53.
    */
  private def poly131CpWindow(cps: Array[Int], from: Int, n: Int): Long = {
    var h = cps(from).toLong
    var i = from + 1
    val end = from + n
    while (i < end) {
      h = h * 131L + cps(i)
      i += 1
    }
    h
  }

  private def isAscii(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) >= 0x80) return false
      i += 1
    }
    true
  }

  /** Minimal open-addressed long set (power-of-2 capacity, linear probe).
    * 0 is reserved as the empty marker; the caller remaps it.
    */
  private final class LongSet(expected: Int) {
    private var cap  = Integer.highestOneBit(math.max(expected * 2, 16) - 1) << 1
    private var tab  = new Array[Long](cap)
    private var size = 0
    def add(k0: Long): Boolean = {
      val k = if (k0 == 0L) 0x9e3779b97f4a7c15L else k0 // remap reserved 0
      var i = (java.lang.Long.hashCode(k) * 0x9e3779b9) & (cap - 1)
      while (true) {
        val cur = tab(i)
        if (cur == 0L) {
          tab(i) = k; size += 1
          if (size * 4 > cap * 3) grow()
          return true
        }
        if (cur == k) return false
        i = (i + 1) & (cap - 1)
      }
      false
    }
    private def grow(): Unit = {
      val old = tab
      cap *= 2
      tab = new Array[Long](cap)
      size = 0
      var i = 0
      while (i < old.length) {
        val k = old(i)
        if (k != 0L) {
          var j = (java.lang.Long.hashCode(k) * 0x9e3779b9) & (cap - 1)
          while (tab(j) != 0L) j = (j + 1) & (cap - 1)
          tab(j) = k; size += 1
        }
        i += 1
      }
    }
  }

  /** MinHash signature of `text`: min over all code-point-n-gram
    * shingles. Hot-path form: ASCII texts hash windows without
    * allocating, and each distinct shingle hash runs the 256 permutations
    * once (a repeated shingle cannot lower any minimum) — identical
    * output to the naive loop.
    */
  def signature(text: String): Array[Long] = {
    val sig = Array.fill(NumPerm)(Long.MaxValue)
    if (text == null) return sig
    val ascii = isAscii(text)
    val cps: Array[Int] = if (ascii) null else text.codePoints().toArray
    val nCp = if (ascii) text.length else cps.length
    if (nCp >= ShingleN) {
      val end  = nCp - ShingleN
      val seen = new LongSet(math.min(end + 1, 1 << 16))
      var i = 0
      while (i <= end) {
        val h0 =
          if (ascii) poly131AsciiWindow(text, i, ShingleN)
          else poly131CpWindow(cps, i, ShingleN)
        if (seen.add(h0)) {
          // reduce the shingle hash ONCE — the previous form re-divided
          // h0 % Prime inside every one of the 256 permutations
          val hp = modP(h0)
          var j = 0
          while (j < NumPerm) {
            val v = permute(as(j), bs(j), hp)
            if (v < sig(j)) sig(j) = v
            j += 1
          }
        }
        i += 1
      }
    }
    sig
  }

  /** Hash each of the `b` r-long slices of the signature. */
  def bandHashes(sig: Array[Long], b: Int): Array[Long] = {
    val r   = NumPerm / b
    val out = new Array[Long](b)
    var i = 0
    while (i < b) {
      var h = 0xcbf29ce484222325L
      var j = i * r
      val end = j + r
      while (j < end) {
        h ^= sig(j)
        h *= 0x100000001b3L
        j += 1
      }
      out(i) = h
      i += 1
    }
    out
  }

  /** Number of bands whose S-curve midpoint (1/b)^(1/r) is closest to the
    * threshold, over divisors of numPerm.
    */
  def optimalBands(threshold: Double, numPerm: Int = NumPerm): Int = {
    val candidates = (1 to numPerm).filter(numPerm % _ == 0)
    candidates.minBy { b =>
      val r = numPerm / b
      math.abs(math.pow(1.0 / b, 1.0 / r) - threshold)
    }
  }

  /** Estimated Jaccard from two signatures (fraction of equal mins). */
  def estJaccard(a: Array[Long], b: Array[Long]): Double = {
    var eq = 0
    var i = 0
    while (i < NumPerm) {
      if (a(i) == b(i)) eq += 1
      i += 1
    }
    eq.toDouble / NumPerm
  }

  /** The fixed permutation parameters as DuckDB VALUES literals
    * `(j, a_j, b_j)` — all < 2^61, so BIGINT-exact. The oracle replays
    * the full signature/band computation in SQL from these.
    */
  def permValuesSql: String =
    (0 until NumPerm).map(j => s"(${j},${as(j)},${bs(j)})").mkString(",")
}

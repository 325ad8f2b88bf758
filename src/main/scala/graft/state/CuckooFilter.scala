package graft.state

/** Bucketized cuckoo filter with partial-key cuckoo hashing (Fan et al.,
  * "Cuckoo Filter: Practically Better Than Bloom", CoNEXT'14): 4-slot
  * buckets, 16-bit fingerprints, delete support. One chain of these
  * (CuckooChain) per partition makes the URL-seen state (UrlSeenState,
  * SURVEY.md §7.1 item 2); deletes are what would let the frontier
  * retire a URL, which a bloom filter cannot do.
  *
  * Deterministic: no randomness; eviction choice derives from an
  * instance counter, so identical insert sequences produce identical
  * serialized state (required for snapshot reproducibility).
  */
final class CuckooFilter private (
    val numBuckets: Int,
    val slotsPerBucket: Int,
    private val table: Array[Short],
    private var count: Long,
    private var kickSeed: Long,
    // one-slot victim stash: a failed insert's kick loop has already
    // displaced resident fingerprints; the final orphan lands here so a
    // full filter never loses a previously-inserted key (false negative).
    // A filter with an occupied stash is "closed": inserts return false
    // immediately without churning the table.
    private var stash: Short
) extends Serializable {

  import CuckooFilter._

  def this(numBuckets: Int, slotsPerBucket: Int = 4) =
    this(CuckooFilter.nextPow2(numBuckets), slotsPerBucket,
         new Array[Short](CuckooFilter.nextPow2(numBuckets) * slotsPerBucket),
         0L, 0L, 0)

  private def mask: Int = numBuckets - 1

  private def fingerprint(h: Long): Short = {
    val f = ((h >>> 45) & 0xffff).toInt
    (if (f == 0) 1 else f).toShort
  }

  private def bucket1(h: Long): Int = (h & mask).toInt

  private def altBucket(b: Int, f: Short): Int =
    (b ^ (mix(f & 0xffffL) & mask)).toInt

  private def slotBase(b: Int): Int = b * slotsPerBucket

  private def tryInsertAt(b: Int, f: Short): Boolean = {
    val base = slotBase(b)
    var s = 0
    while (s < slotsPerBucket) {
      if (table(base + s) == 0) { table(base + s) = f; return true }
      s += 1
    }
    false
  }

  private def bucketContains(b: Int, f: Short): Boolean = {
    val base = slotBase(b)
    var s = 0
    while (s < slotsPerBucket) {
      if (table(base + s) == f) return true
      s += 1
    }
    false
  }

  /** Insert a pre-hashed key. Returns false only when the filter is
    * closed (stash occupied). Kick exhaustion itself is treated as a
    * *successful* insert that closes the filter: by that point the new
    * key's fingerprint has already been swapped into the table and the
    * orphaned resident lands in the stash, so every key — including the
    * new one — is retained. Returning false there would make a chained
    * caller re-insert the same key into a fresh segment, creating a
    * duplicate whose later delete() removes only one copy (permanent
    * phantom membership) and drifts the count.
    */
  def insert(h: Long): Boolean = {
    if (stash != 0) return false // closed: see stash doc above
    var f  = fingerprint(h)
    val b1 = bucket1(h)
    val b2 = altBucket(b1, f)
    if (tryInsertAt(b1, f) || tryInsertAt(b2, f)) { count += 1; return true }
    // evict: start from b1/b2 alternating deterministically
    var b = if ((kickSeed & 1L) == 0L) b1 else b2
    var kicks = 0
    while (kicks < MaxKicks) {
      kickSeed += 1
      val slot = (mix(kickSeed) & (slotsPerBucket - 1)).toInt
      val idx  = slotBase(b) + slot
      val victim = table(idx)
      table(idx) = f
      f = victim
      b = altBucket(b, f)
      if (tryInsertAt(b, f)) { count += 1; return true }
      kicks += 1
    }
    stash = f // orphaned resident fingerprint: retained, filter closed
    count += 1 // the new key IS in the table (swapped in during kicks)
    true
  }

  /** Exact-membership check (no false negatives; false positives at the
    * fingerprint-collision rate ~ 2*slots/2^16).
    */
  def contains(h: Long): Boolean = {
    val f  = fingerprint(h)
    val b1 = bucket1(h)
    f == stash || bucketContains(b1, f) ||
      bucketContains(altBucket(b1, f), f)
  }

  /** Delete one copy of the key's fingerprint. Returns whether a slot was
    * cleared (frontier retirement).
    */
  def delete(h: Long): Boolean = {
    val f  = fingerprint(h)
    if (f == stash) { stash = 0; count -= 1; return true }
    val b1 = bucket1(h)
    val b2 = altBucket(b1, f)
    var b  = b1
    var round = 0
    while (round < 2) {
      val base = slotBase(b)
      var s = 0
      while (s < slotsPerBucket) {
        if (table(base + s) == f) {
          table(base + s) = 0
          count -= 1
          return true
        }
        s += 1
      }
      b = b2
      round += 1
    }
    false
  }

  def size: Long = count
  def loadFactor: Double = count.toDouble / (numBuckets.toLong * slotsPerBucket)

  /** Deterministic serialization: header + table. */
  def toBytes: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(32 + table.length * 2)
    bb.putInt(Magic).putInt(numBuckets).putInt(slotsPerBucket)
    bb.putLong(count).putLong(kickSeed).putInt(stash & 0xffff)
    table.foreach(bb.putShort)
    bb.array()
  }
}

/** Growable chain of cuckoo filters (the "scalable filter" pattern):
  * when the active segment rejects an insert (kick exhaustion at high
  * load), a new segment with twice the previous capacity is appended, so
  * a partition's capacity is never a hard ceiling — URLs can't silently
  * fail to enter the live-session filter. Lookups OR across segments
  * (false-positive rate grows linearly with the segment count, which is
  * logarithmic in total inserts); deletes try segments newest-first.
  */
final class CuckooChain private (
    private var segments: Vector[CuckooFilter]) extends Serializable {

  def insert(h: Long): Boolean = {
    if (segments.last.insert(h)) true
    else {
      val grown = CuckooFilter.forCapacity(
        segments.last.numBuckets.toLong * segments.last.slotsPerBucket * 2)
      segments = segments :+ grown
      grown.insert(h)
    }
  }

  def contains(h: Long): Boolean = segments.exists(_.contains(h))

  def delete(h: Long): Boolean =
    segments.reverseIterator.exists(_.delete(h))

  def size: Long = segments.map(_.size).sum
  def numSegments: Int = segments.length

  def toBytes: Array[Byte] = {
    val blobs = segments.map(_.toBytes)
    val bb = java.nio.ByteBuffer.allocate(
      12 + blobs.map(_.length + 4).sum)
    bb.putInt(CuckooChain.Magic).putInt(blobs.length).putInt(0)
    blobs.foreach { b => bb.putInt(b.length); bb.put(b) }
    bb.array()
  }
}

object CuckooChain {
  private val Magic = 0x43554b43 // "CUKC"

  def forCapacity(n: Long): CuckooChain =
    new CuckooChain(Vector(CuckooFilter.forCapacity(n)))

  def fromBytes(bytes: Array[Byte]): CuckooChain = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val magic = bb.getInt()
    // Legacy compat: snapshots written before the chain existed hold a
    // bare CuckooFilter blob (CUKF magic) — wrap it as a one-segment
    // chain so pre-chain frontier tables still resume.
    if (magic == CuckooFilter.LegacyMagic)
      return new CuckooChain(Vector(CuckooFilter.fromBytes(bytes)))
    require(magic == Magic, "not a cuckoo chain blob")
    val n = bb.getInt(); bb.getInt()
    val segs = Vector.fill(n) {
      val len  = bb.getInt()
      val blob = new Array[Byte](len)
      bb.get(blob)
      CuckooFilter.fromBytes(blob)
    }
    new CuckooChain(segs)
  }
}

object CuckooFilter {
  private val Magic    = 0x43554b46 // "CUKF"
  private[state] val LegacyMagic = Magic
  private val MaxKicks = 500

  /** splitmix64 finalizer: the bucket, kick and partition mixer. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e9b5L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  def nextPow2(n: Int): Int = {
    var p = 1
    while (p < n) p <<= 1
    math.max(p, 4)
  }

  /** Size for `n` expected keys at ~85% max load. */
  def forCapacity(n: Long, slotsPerBucket: Int = 4): CuckooFilter = {
    val buckets = nextPow2(math.max(4, (n / (slotsPerBucket * 0.85)).toInt + 1))
    new CuckooFilter(buckets, slotsPerBucket)
  }

  def fromBytes(bytes: Array[Byte]): CuckooFilter = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    require(bb.getInt() == Magic, "not a cuckoo filter blob")
    val nb    = bb.getInt()
    val spb   = bb.getInt()
    val count = bb.getLong()
    val seed  = bb.getLong()
    val stash = (bb.getInt() & 0xffff).toShort
    val table = new Array[Short](nb * spb)
    var i = 0
    while (i < table.length) { table(i) = bb.getShort(); i += 1 }
    new CuckooFilter(nb, spb, table, count, seed, stash)
  }
}

package graft.frontier

import graft.ops.TextOps.mix64

/** Partitioned cuckoo-filter seen-set (north rule): 4-way buckets of
  * 16-bit fingerprints, partial-key cuckoo hashing (Fan et al., CoNEXT'14
  * — public algorithm). Properties the frontier depends on:
  *
  *   - **no false negatives**: a key inserted is always found — the seen
  *     set may only over-filter (skip a re-crawl), never under-filter in a
  *     way that loses dedup;
  *   - **O(1)/entry memory**: ~2.4 bytes/key at 95% load (16-bit fp,
  *     4-way). 10^10 frontier entries ≈ 24 GB *total*, i.e. ~24 MB per
  *     partition at 1024 frontier partitions — broadcastable per-partition
  *     state, which is why this scales where a `Set[String]` (≈60 B/key →
  *     600 GB) cannot;
  *   - **snapshot/merge**: `serialize`/`deserialize` round-trip bit-exact
  *     for checkpoint refs, in bytes that follow the occupied slots rather
  *     than the capacity; `merge` unions two filters (used when the
  *     frontier is repartitioned).
  *
  * Keys are xxHash64/splitmix64 values of canonicalized punycode domains —
  * hashing happens upstream in Catalyst (`xxhash64` built-in).
  */
final class CuckooFilter private (
    val numBuckets: Int,
    val buckets: Array[Short], // numBuckets * 4 slots
    private var count: Long,
    // overflow stash: fingerprints that lost an eviction war live here so
    // the no-false-negative invariant holds unconditionally (standard
    // cuckoo-filter stash; bounded by StashWarn under correct sizing).
    // Entries are (canonicalHomeBucket << 16 | fp) so a stashed fp only
    // aliases keys sharing BOTH the fingerprint and the bucket pair —
    // without the affinity, ~128 stash entries would false-positive ~0.2%
    // of ALL future keys (vs ~1/(2^16·numBuckets) per entry with it).
    private val stash: scala.collection.mutable.ArrayBuffer[Long] =
      scala.collection.mutable.ArrayBuffer.empty[Long]) extends Serializable {

  import CuckooFilter._

  def size: Long = count

  /** The stash's `(home bucket << 16 | fp)` entries, in insertion order. */
  private[frontier] def stashEntries: Seq[Long] = stash.toSeq

  /** Canonical stash key: the smaller of the fp's two buckets (bucket2 is
    * a xor involution on the power-of-two bucket space, so both buckets
    * derive the same key) packed with the fingerprint.
    */
  private def stashKey(b: Int, fp: Short): Long = {
    val b2 = bucket2(b, fp)
    (math.min(b, b2).toLong << 16) | (fp.toLong & 0xffffL)
  }

  private def stashContains(b: Int, fp: Short): Boolean =
    stash.contains(stashKey(b, fp))

  private def fingerprint(key: Long): Short = {
    val f = (mix64(key) & 0xffffL).toShort
    if (f == 0) 1.toShort else f // 0 = empty slot sentinel
  }

  private def bucket1(key: Long): Int =
    (mix64(key ^ 0x5bd1e995L) & 0x7fffffffL).toInt % numBuckets

  private def bucket2(b1: Int, fp: Short): Int = {
    // partial-key displacement: i2 = i1 xor hash(fp)
    val h = (mix64(fp.toLong & 0xffffL) & 0x7fffffffL).toInt % numBuckets
    val b2 = b1 ^ h
    if (b2 >= numBuckets || b2 < 0) Math.floorMod(b2, numBuckets) else b2
  }

  private def slotInsert(b: Int, fp: Short): Boolean = {
    var i = 0
    while (i < SlotsPerBucket) {
      if (buckets(b * SlotsPerBucket + i) == 0) {
        buckets(b * SlotsPerBucket + i) = fp
        return true
      }
      i += 1
    }
    false
  }

  private def slotContains(b: Int, fp: Short): Boolean = {
    var i = 0
    while (i < SlotsPerBucket) {
      if (buckets(b * SlotsPerBucket + i) == fp) return true
      i += 1
    }
    false
  }

  def contains(key: Long): Boolean = holds(bucket1(key), fingerprint(key))

  private def holds(b1: Int, fp: Short): Boolean =
    slotContains(b1, fp) || slotContains(bucket2(b1, fp), fp) || stashContains(b1, fp)

  /** Insert. Membership is ALWAYS recorded (evicted victims land in the
    * stash, never dropped). Returns false only when the stash has grown
    * past StashWarn — the "resize me" signal; even then no key is lost.
    */
  def insert(key: Long): Boolean = {
    val fp = fingerprint(key)
    val b1 = bucket1(key)
    holds(b1, fp) || place(key, b1, fp) // idempotent
  }

  /** Seen-set admission of one key, the one probe/insert step of every
    * admission path (batch and stream): false when the filter already
    * holds the key (or a fingerprint twin of it), else the key is inserted
    * and admitted. An insert past the stash bound fails the task: dedup
    * must never degrade silently. `partition` names the filter.
    */
  def admit(key: Long, partition: Int): Boolean = {
    val fp = fingerprint(key)
    val b1 = bucket1(key)
    if (holds(b1, fp)) false
    else if (place(key, b1, fp)) true
    else throw new IllegalStateException(
      s"seen-filter $partition saturated — raise the filter capacity or the partition count")
  }

  /** Records an absent key; false when the stash has grown past StashWarn. */
  private def place(key: Long, b1: Int, fp: Short): Boolean = {
    count += 1
    if (slotInsert(b1, fp)) return true
    val b2 = bucket2(b1, fp)
    if (slotInsert(b2, fp)) return true
    // evict loop — deterministic victim choice (slot index from key mix)
    var curFp = fp
    var b = if ((mix64(key ^ 0xc0ffee) & 1L) == 0L) b1 else b2
    var kicks = 0
    while (kicks < MaxKicks) {
      val slot = (mix64(b.toLong ^ curFp.toLong ^ kicks.toLong) & 0x7fffffffL).toInt % SlotsPerBucket
      val idx = b * SlotsPerBucket + slot
      val victim = buckets(idx)
      buckets(idx) = curFp
      curFp = victim
      b = bucket2(b, curFp)
      if (slotInsert(b, curFp)) return true
      kicks += 1
    }
    // displaced victim retained with its bucket affinity: no false
    // negatives, ever (b is one of curFp's two valid buckets here)
    stash += stashKey(b, curFp)
    stash.size <= StashWarn
  }

  /** Bit-exact snapshot whose size follows the occupied slots, not the
    * capacity:
    *
    *   `[magic:int][numBuckets:int][count:long][stashLen:int][stash:long*][body]`
    *
    * The body is whichever of two forms is smaller, named by the magic:
    * sparse — `(slot:int, fp:short)` per occupied slot, in slot order — or
    * dense — every slot as a `short`. Every insert lands in exactly one
    * slot or the stash, so the occupied-slot count is `count − stashLen`
    * and the choice is O(1): sparse costs 6 B per occupied slot against
    * dense's 2 B per slot, so it wins below 1/3 slot load.
    */
  def serialize(): Array[Byte] = {
    val occupied = count - stash.length
    val sparse = 3 * occupied < buckets.length
    val body = if (sparse) 6 * occupied else 2L * buckets.length
    val bb = java.nio.ByteBuffer.allocate(
      Math.toIntExact(HeaderBytes + stash.length * 8L + body))
    bb.putInt(if (sparse) SparseMagic else DenseMagic)
      .putInt(numBuckets).putLong(count).putInt(stash.length)
    stash.foreach(bb.putLong)
    if (sparse) {
      var i = 0
      while (i < buckets.length) {
        val fp = buckets(i)
        if (fp != 0) bb.putInt(i).putShort(fp)
        i += 1
      }
      if (bb.hasRemaining)
        throw new IllegalStateException(
          s"cuckoo snapshot: ${bb.remaining / 6} fewer occupied slots than count − stash")
    } else bb.asShortBuffer().put(buckets)
    bb.array()
  }

  /** Union with another filter of identical geometry (repartition merge).
    * Re-inserts by fingerprint slots; both filters' keys remain found.
    */
  def merge(other: CuckooFilter): CuckooFilter = {
    require(other.numBuckets == numBuckets, "cuckoo merge: geometry mismatch")
    val out = new CuckooFilter(numBuckets, buckets.clone(), count,
      scala.collection.mutable.ArrayBuffer.from(stash))
    def place(fp: Short, home: Int): Unit = {
      if (!out.slotContains(home, fp) && !out.slotContains(out.bucket2(home, fp), fp)
          && !out.stashContains(home, fp)) {
        out.count += 1
        if (!out.slotInsert(home, fp) && !out.slotInsert(out.bucket2(home, fp), fp))
          out.stash += out.stashKey(home, fp) // stash, never an unreachable bucket
      }
    }
    var b = 0
    while (b < numBuckets) {
      var i = 0
      while (i < SlotsPerBucket) {
        val fp = other.buckets(b * SlotsPerBucket + i)
        if (fp != 0) place(fp, b)
        i += 1
      }
      b += 1
    }
    // other's stash entries carry their home bucket — re-place them like
    // slot entries (they may fit in out's buckets), skipping the count
    // increment when the (bucket, fp) membership is already represented
    other.stash.foreach { sk =>
      val home = (sk >>> 16).toInt
      val fp = (sk & 0xffffL).toShort
      place(fp, home)
    }
    out
  }
}

object CuckooFilter {
  val SlotsPerBucket = 4
  val MaxKicks = 500
  val StashWarn = 128

  /** Snapshot magics: negative, so never a legacy snapshot's leading
    * `numBuckets` (a positive power of two).
    */
  private val SparseMagic = 0xc0cf0001
  private val DenseMagic = 0xc0cf0002
  /** magic + numBuckets + count + stashLen */
  private val HeaderBytes = 4 + 4 + 8 + 4

  /** Per-partition capacity ceiling: the Int-indexed bucket array bounds
    * one filter at 2^30 slots (~10^9 keys). At larger capacities shard
    * across more frontier partitions (the engine already partitions by
    * pmod(key, P) — 10^10 keys is P≥16 partitions, normally 1024).
    */
  val MaxCapacityPerFilter: Long = 1L << 30

  /** Filter sized for `capacity` keys at ≤95% load. */
  def create(capacity: Long): CuckooFilter = {
    require(capacity > 0 && capacity <= MaxCapacityPerFilter,
      s"cuckoo capacity $capacity out of range (0, $MaxCapacityPerFilter]; shard across partitions")
    val slots = Math.max(8L, Math.ceil(capacity / 0.95).toLong)
    val wantBuckets = Math.max(2L, slots / SlotsPerBucket)
    var nb = java.lang.Long.highestOneBit(wantBuckets)
    if (nb * SlotsPerBucket < slots) nb <<= 1 // power of two buckets
    nb = Math.min(nb, 1L << 28) // 2^28 buckets × 4 slots = 2^30 < Int range
    new CuckooFilter(nb.toInt, new Array[Short]((nb * SlotsPerBucket).toInt), 0L)
  }

  /** Reads both [[CuckooFilter.serialize]] forms and the legacy
    * headerless dense layout
    * `[numBuckets:int][count:long][stashLen:int][stash:long*][slots:short*]`.
    */
  def deserialize(bytes: Array[Byte]): CuckooFilter = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val lead = bb.getInt
    val sparse = lead == SparseMagic
    if (lead < 0 && !sparse && lead != DenseMagic)
      throw new IllegalArgumentException(f"cuckoo snapshot: unknown magic 0x$lead%08x")
    val nb = if (lead < 0) bb.getInt else lead
    val cnt = bb.getLong
    val stashLen = bb.getInt
    val stash = scala.collection.mutable.ArrayBuffer.empty[Long]
    var j = 0
    while (j < stashLen) { stash += bb.getLong; j += 1 }
    val arr = new Array[Short](nb * SlotsPerBucket)
    if (sparse) {
      var k = cnt - stashLen
      while (k > 0) { arr(bb.getInt) = bb.getShort; k -= 1 }
    } else bb.asShortBuffer().get(arr)
    new CuckooFilter(nb, arr, cnt, stash)
  }
}

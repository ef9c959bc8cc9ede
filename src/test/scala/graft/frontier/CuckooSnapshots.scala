package graft.frontier

/** Test access to a filter's stash, and snapshots in the legacy headerless
  * dense layout that [[CuckooFilter.deserialize]] still reads.
  */
object CuckooSnapshots {
  def stash(f: CuckooFilter): Seq[Long] = f.stashEntries

  /** `[numBuckets:int][count:long][stashLen:int][stash:long*][slots:short*]` */
  def legacyBytes(f: CuckooFilter): Array[Byte] = {
    val st = f.stashEntries
    val bb = java.nio.ByteBuffer.allocate(4 + 8 + 4 + st.length * 8 + f.buckets.length * 2)
    bb.putInt(f.numBuckets).putLong(f.size).putInt(st.length)
    st.foreach(bb.putLong)
    f.buckets.foreach(bb.putShort)
    bb.array()
  }
}

package graft.frontier

import scala.collection.mutable

import graft.model.Model.FrontierEntry

/** Reference model of the frontier's per-round politeness pop: a binary
  * min-heap keyed `(nsBucket, priority, seq, canonical)` — the engine's
  * total pop order (`Engine.selectRound`). Ties in (bucket, priority,
  * seq) break on the canonical domain, which is unique in a frontier.
  */
final class FrontierHeap {
  private val ord: Ordering[FrontierEntry] =
    Ordering.by(e => (e.nsBucket, e.priority, e.seq, e.canonical))
  // mutable.PriorityQueue is a max-heap; reverse for min-heap semantics
  private val pq = mutable.PriorityQueue.empty[FrontierEntry](ord.reverse)

  def push(e: FrontierEntry): Unit = pq.enqueue(e)
  def pushAll(es: IterableOnce[FrontierEntry]): Unit = es.iterator.foreach(pq.enqueue(_))
  def pop(): FrontierEntry = pq.dequeue()
  def size: Int = pq.size

  /** Pop up to `budget(bucket)` entries per nameserver bucket this round,
    * in pop order. Entries over budget stay queued.
    */
  def popRound(budget: Int => Int): Vector[FrontierEntry] = {
    val taken = mutable.Map.empty[Int, Int].withDefaultValue(0)
    val kept = mutable.ArrayBuffer.empty[FrontierEntry]
    val out = Vector.newBuilder[FrontierEntry]
    while (pq.nonEmpty) {
      val e = pq.dequeue()
      if (taken(e.nsBucket) < budget(e.nsBucket)) {
        taken(e.nsBucket) += 1
        out += e
      } else kept += e
    }
    kept.foreach(pq.enqueue(_))
    out.result()
  }

  /** The queued entries, in no particular order. */
  def queued: Vector[FrontierEntry] = pq.toVector
}

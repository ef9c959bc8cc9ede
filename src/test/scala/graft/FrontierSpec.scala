package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.frontier.FrontierHeap
import graft.model.Model.FrontierEntry

class FrontierSpec extends AnyFunSuite {

  private def e(d: String, bucket: Int, prio: Int, seq: Long) =
    FrontierEntry(d, d, d.hashCode.toLong, bucket, prio, seq)

  test("heap pops in (bucket, priority, seq) order with stable ties") {
    val h = new FrontierHeap
    h.push(e("c", 1, 10, 3))
    h.push(e("a", 0, 99, 9))
    h.push(e("b", 1, 10, 1))
    h.push(e("d", 1, 5, 7))
    assert(h.pop().domain == "a") // bucket 0 first
    assert(h.pop().domain == "d") // bucket 1, lowest priority value
    assert(h.pop().domain == "b") // tie on (1,10) → lower seq
    assert(h.pop().domain == "c")
  }

  test("popRound honors per-bucket budget and keeps the rest queued") {
    val h = new FrontierHeap
    (1 to 10).foreach(i => h.push(e(s"x$i", 0, 1, i.toLong)))
    (1 to 4).foreach(i => h.push(e(s"y$i", 1, 1, i.toLong)))
    val popped = h.popRound(b => if (b == 0) 3 else 10)
    assert(popped.count(_.nsBucket == 0) == 3)
    assert(popped.count(_.nsBucket == 1) == 4)
    assert(h.size == 7) // 7 bucket-0 entries deferred
    // deferred entries come out first next round, same order
    val next = h.popRound(_ => 2)
    assert(next.map(_.domain) == Vector("x4", "x5"))
  }
}

package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

import graft.frontier.{CuckooFilter, CuckooSnapshots}

class CuckooFilterSpec extends AnyFunSuite {

  test("no false negatives at 50k keys") {
    val f = CuckooFilter.create(100000)
    val keys = (0 until 50000).map(i => graft.ops.TextOps.mix64(i.toLong * 31 + 7))
    keys.foreach(k => assert(f.insert(k)))
    keys.foreach(k => assert(f.contains(k), s"lost key $k"))
    assert(f.size == keys.distinct.size)
  }

  test("false positive rate stays small (16-bit fingerprints)") {
    val f = CuckooFilter.create(100000)
    (0 until 50000).foreach(i => f.insert(graft.ops.TextOps.mix64(i.toLong)))
    val fps = (1000000 until 1100000).count(i => f.contains(graft.ops.TextOps.mix64(i.toLong)))
    assert(fps < 2000, s"fpp too high: $fps/100000") // expect ~2*4/2^16 ≈ 0.012%
  }

  test("serialize/deserialize is bit-exact and preserves membership") {
    val f = CuckooFilter.create(10000)
    val keys = (0 until 5000).map(i => graft.ops.TextOps.mix64(i.toLong ^ 0xabcdef))
    keys.foreach(f.insert)
    val bytes = f.serialize()
    val g = CuckooFilter.deserialize(bytes)
    assert(g.size == f.size)
    keys.foreach(k => assert(g.contains(k)))
    assert(java.util.Arrays.equals(g.serialize(), bytes)) // round-trip stable
  }

  /** A filter of `capacity` with `keys` inserted. */
  private def filled(capacity: Int, keys: Seq[Long]): CuckooFilter = {
    val f = CuckooFilter.create(capacity)
    keys.foreach(f.insert)
    f
  }

  private def sameFilter(a: CuckooFilter, b: CuckooFilter): Boolean =
    a.numBuckets == b.numBuckets && a.size == b.size &&
      java.util.Arrays.equals(a.buckets, b.buckets) &&
      CuckooSnapshots.stash(a) == CuckooSnapshots.stash(b)

  test("property: snapshots round-trip and are sized by occupancy (load 0 to overfull)") {
    // key counts as fractions of the slot count: empty, low load, around
    // the 1/3 sparse/dense crossover, and past full (stash entries)
    val gen = for {
      capacity <- Gen.oneOf(50, 200, 1000)
      slots = CuckooFilter.create(capacity).buckets.length
      n <- Gen.oneOf(Gen.const(0), Gen.choose(1, slots / 10),
        Gen.choose(slots / 3 - 8, slots / 3 + 8), Gen.choose(slots, 2 * slots))
      keys <- Gen.listOfN(n, Gen.long)
    } yield (capacity, keys)
    val prop = Prop.forAll(gen) { case (capacity, keys) =>
      val f = filled(capacity, keys)
      val bytes = f.serialize()
      val g = CuckooFilter.deserialize(bytes)
      val stashLen = CuckooSnapshots.stash(f).length
      val occupied = f.buckets.count(_ != 0)
      val legacy = CuckooSnapshots.legacyBytes(f).length
      val expected = 20 + 8 * stashLen + math.min(6 * occupied, 2 * f.buckets.length)
      Prop.all(
        "round trip" |: sameFilter(f, g),
        "stable" |: java.util.Arrays.equals(g.serialize(), bytes),
        "occupied = count - stash" |: f.size - stashLen == occupied,
        s"size ${bytes.length} is the smaller form $expected" |: bytes.length == expected,
        s"size ${bytes.length} <= legacy $legacy + magic" |: bytes.length <= legacy + 4)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(res.passed, res.status.toString)
  }

  test("legacy headerless snapshots read back to the same filter") {
    val low = filled(1000, (0 until 100).map(i => graft.ops.TextOps.mix64(i.toLong)))
    val overfull = filled(100, (0 until 400).map(i => graft.ops.TextOps.mix64(i.toLong * 13 + 1)))
    assert(CuckooSnapshots.stash(overfull).nonEmpty)
    Seq(low, overfull).foreach { f =>
      val g = CuckooFilter.deserialize(CuckooSnapshots.legacyBytes(f))
      assert(sameFilter(f, g))
      assert(java.util.Arrays.equals(g.serialize(), f.serialize()))
    }
    // a negative lead that is neither snapshot magic is rejected
    val bad = java.nio.ByteBuffer.allocate(32).putInt(-7).array()
    intercept[IllegalArgumentException](CuckooFilter.deserialize(bad))
  }

  test("merge unions membership (repartition merge)") {
    val a = CuckooFilter.create(10000)
    val b = CuckooFilter.create(10000)
    val ka = (0 until 2000).map(i => graft.ops.TextOps.mix64(i.toLong))
    val kb = (5000 until 7000).map(i => graft.ops.TextOps.mix64(i.toLong))
    ka.foreach(a.insert); kb.foreach(b.insert)
    val m = a.merge(b)
    (ka ++ kb).foreach(k => assert(m.contains(k)))
  }

  test("property: inserted keys are always found (scalacheck)") {
    val prop = Prop.forAll(Gen.listOfN(500, Gen.long)) { keys =>
      val f = CuckooFilter.create(2000)
      keys.foreach(f.insert)
      keys.forall(f.contains)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(50), prop)
    assert(res.passed, res.status.toString)
  }

  test("no false negatives even under deliberate overfill (stash semantics)") {
    val f = CuckooFilter.create(100) // tiny: forces eviction wars
    val keys = (0 until 400).map(i => graft.ops.TextOps.mix64(i.toLong * 13 + 1))
    keys.foreach(f.insert) // some inserts may return false (resize signal)
    keys.foreach(k => assert(f.contains(k), s"lost $k under overfill"))
    // snapshot keeps the stash too
    val g = CuckooFilter.deserialize(f.serialize())
    keys.foreach(k => assert(g.contains(k)))
  }

  test("merge of overfull filters keeps both sides' membership") {
    val a = CuckooFilter.create(100)
    val b = CuckooFilter.create(100)
    val ka = (0 until 300).map(i => graft.ops.TextOps.mix64(i.toLong))
    val kb = (1000 until 1300).map(i => graft.ops.TextOps.mix64(i.toLong))
    ka.foreach(a.insert); kb.foreach(b.insert)
    val m = a.merge(b)
    (ka ++ kb).foreach(k => assert(m.contains(k), s"merge lost $k"))
  }

  test("create rejects capacities beyond the per-filter ceiling") {
    intercept[IllegalArgumentException] { CuckooFilter.create(0) }
    intercept[IllegalArgumentException] {
      CuckooFilter.create(CuckooFilter.MaxCapacityPerFilter + 1)
    }
    // design-scale sharding: 10^10 keys / 1024 partitions fits comfortably
    assert(10000000000L / 1024 < CuckooFilter.MaxCapacityPerFilter)
  }

  test("idempotent insert does not grow count") {
    val f = CuckooFilter.create(1000)
    assert(f.insert(42L)); assert(f.insert(42L))
    assert(f.size == 1)
  }

  test("stash bucket affinity: a stashed fp does not alias the whole partition") {
    // Overfill a tiny filter so the stash is populated, then measure the
    // false-positive rate over fresh keys. Without bucket affinity ~128
    // stash fps would alias ~0.2% of ALL future keys (2^-16 each); with
    // (bucket, fp) entries the stash adds ~1/(2^16·buckets) per entry.
    val f = CuckooFilter.create(100)
    (0 until 500).foreach(i => f.insert(graft.ops.TextOps.mix64(i.toLong * 17 + 3)))
    val fps = (2000000 until 2100000)
      .count(i => f.contains(graft.ops.TextOps.mix64(i.toLong)))
    // the table itself is tiny+saturated so table FPs dominate; the check
    // is that the rate stays near the saturated-table expectation instead
    // of jumping by stash_size/2^16 ≈ 0.5% (≈500+ extra hits per 100k)
    assert(fps < 1000, s"stash aliasing suspected: $fps/100000")
  }

  test("merge does not double-count fps already present (count stays = union size)") {
    val a = CuckooFilter.create(100)
    val b = CuckooFilter.create(100)
    val shared = (0 until 250).map(i => graft.ops.TextOps.mix64(i.toLong * 7))
    val onlyB = (9000 until 9100).map(i => graft.ops.TextOps.mix64(i.toLong))
    shared.foreach(a.insert); shared.foreach(b.insert) // b's copies include stashed ones
    onlyB.foreach(b.insert)
    val m = a.merge(b)
    (shared ++ onlyB).foreach(k => assert(m.contains(k)))
    // count can over-estimate only by genuine fp collisions, never by
    // re-adding b's stash entries that a already holds
    assert(m.size <= a.size + onlyB.size + 10,
      s"merge double-count: ${m.size} vs ${a.size} + ${onlyB.size}")
  }
}

package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

import java.util.SplittableRandom

class GenSpec extends AnyFunSuite {
  private def pointOps(seed: Long, n: Int): Seq[Gen.PointQuery] = {
    val qs = new Gen.PointQueries(seed, copies = 5, tMin = Gen.T0, tMax = Gen.T0 + Gen.Span)
    Seq.fill(n)(qs.next())
  }

  test("the same seed gives the same events, ops, batches, documents and vectors") {
    val (a, b) = (Gen.events(7), Gen.events(7))
    assert(a.stream.sameElements(b.stream) && a.ts.sameElements(b.ts) && a.value.sameElements(b.value))
    assert(pointOps(7, 200) == pointOps(7, 200))
    def batches(seed: Long) = {
      val r = new SplittableRandom(seed)
      Seq.fill(5)(Gen.batch(r, () => r.nextInt(1000).toLong, _ => Gen.T0)).map(x => (x.stream.toSeq, x.ts.toSeq, x.value.toSeq))
    }
    assert(batches(7) == batches(7))
    assert(Gen.documents(7).toSeq == Gen.documents(7).toSeq)
    assert(Gen.vectors(7).map(_.embedding.toSeq).toSeq == Gen.vectors(7).map(_.embedding.toSeq).toSeq)
  }

  test("another seed gives other inputs") {
    assert(!Gen.events(7).ts.sameElements(Gen.events(8).ts))
    assert(pointOps(7, 50) != pointOps(8, 50))
  }

  test("events keep the sf0.1 shape: arrival order is timestamp order, streams and range bounded") {
    val e = Gen.events(3)
    assert(e.size == Gen.BaseEvents)
    assert(e.ts.sliding(2).forall(p => p(0) <= p(1)))
    assert(e.stream.forall(s => s >= 0 && s < Gen.BaseStreams))
    assert(e.ts.head >= Gen.T0 && e.ts.last < Gen.T0 + Gen.Span)
    assert(e.value.forall(_ >= 0.0))
  }

  test("point queries stay inside history, on fleet streams, with the declared ops and widths") {
    val (lo, hi) = (Gen.T0, Gen.T0 + Gen.Span)
    val qs = pointOps(11, 2000)
    val history = hi - lo
    assert(qs.forall(q => q.t0 >= lo && q.t1 <= hi && q.t0 < q.t1))
    assert(qs.map(q => q.t1 - q.t0).toSet.subsetOf((0 to 5).map(k => history >> k).toSet))
    assert(qs.map(_.op).toSet == Set("count", "sum", "max"))
    assert(qs.forall(q => q.streamId % Gen.CopyStride < Gen.BaseStreams && q.streamId / Gen.CopyStride < 5))
    // Zipf: the hottest stream is drawn far more often than a uniform draw would
    val top = qs.groupBy(_.streamId).values.map(_.size).max
    assert(top > 20 * qs.size / (5 * Gen.BaseStreams))
  }

  test("the expected window count is the pinned base-2 decay sequence") {
    val pinned = Seq(1, 2, 2, 3, 3, 4, 3, 4, 4, 5, 4, 5, 5, 6, 4, 5, 5, 6, 5, 6, 6, 7, 5, 6, 6, 7, 6, 7, 7, 8, 5, 6)
    assert((1 to 32).map(n => Workloads.decayWindows(n.toLong)) == pinned)
    assert(Seq(63L, 64L, 255L, 256L).map(Workloads.decayWindows) == Seq(6L, 7L, 8L, 9L))
  }

  test("seed 0's events expect 12,148 windows per copy") {
    val e = Gen.events(0)
    assert(e.stream.groupBy(identity).values.map(s => Workloads.decayWindows(s.length.toLong)).sum == 12148L)
  }

  test("an append batch covers the requested streams, with about a tenth of rows out of order") {
    val r = new SplittableRandom(5)
    val frontier = 1000000000L
    val bs = Seq.fill(50)(Gen.batch(r, () => r.nextInt(100000).toLong, _ => frontier))
    assert(bs.forall(b => b.stream.length == 100 && b.stream.distinct.length == 10))
    val late = bs.map(_.ts.count(_ < frontier)).sum.toDouble / (50 * 100)
    assert(late > 0.05 && late < 0.15, late)
  }
}

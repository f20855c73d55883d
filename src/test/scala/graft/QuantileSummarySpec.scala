package graft

import graft.core._
import graft.functions.{QSketch, QuantileSketch}
import graft.windowing.ExponentialWindowing
import org.apache.spark.sql.functions._

import scala.util.Random

class QuantileSummarySpec extends SparkSpec {
  import spark.implicits._

  private val exp2 = ExponentialWindowing(2.0)

  private def stream(values: Seq[Double], sid: Long = 7L) =
    spark.createDataset(values.zipWithIndex.map { case (v, i) =>
      Event(sid, i.toLong, i.toLong * 10, v)
    })

  // ---- QSketch unit behavior (driver-side, no Spark) ----

  test("sketch under capacity is exact with zero certified error") {
    val s = new QSketch(64)
    val vals = Seq(5.0, 1.0, 9.0, 3.0, 7.0)
    vals.foreach(s.add)
    assert(s.err == 0L && s.n == 5L)
    assert(s.quantile(0.0) == 1.0)
    assert(s.quantile(0.5) == 5.0)
    assert(s.quantile(1.0) == 9.0)
  }

  test("certified bound holds through heavy compaction and merging") {
    val rnd = new Random(42)
    val n = 20000
    val vals = Array.fill(n)(rnd.nextDouble() * 1000.0)
    // Build via an unbalanced merge tree to stress bound additivity.
    val parts = vals.grouped(700).map { chunk =>
      val s = new QSketch(32)
      chunk.foreach(s.add)
      s
    }.toSeq
    val merged = parts.reduce { (a, b) => a.merge(b); a }
    assert(merged.n == n.toLong)
    assert(merged.err > 0, "k=32 over 20k values must have compacted")
    val sorted = vals.sorted
    for (p <- Seq(0.01, 0.25, 0.5, 0.75, 0.99)) {
      val e = merged.quantile(p)
      val target = math.min(n.toLong, math.max(1L, math.ceil(p * n).toLong))
      val rankLe = sorted.count(_ <= e).toLong
      val rankLt = sorted.count(_ < e).toLong
      assert(rankLe >= target - merged.err,
        s"p=$p est=$e rank_le=$rankLe target=$target err=${merged.err}")
      assert(rankLt <= target - 1 + merged.err,
        s"p=$p est=$e rank_lt=$rankLt target=$target err=${merged.err}")
      assert(vals.contains(e), "estimates must be original data values")
    }
    // The certified bound should also be nontrivially tight: well under
    // worst-case-useless (n) and in the (n/k)·log ballpark.
    assert(merged.err < n / 4, s"bound too loose to be useful: ${merged.err}")
  }

  test("serialization round-trips sketch state exactly") {
    val s = new QSketch(16)
    (1 to 500).foreach(i => s.add((i * 37 % 100).toDouble))
    val r = QuantileSketch.fromBytes(QuantileSketch.toBytes(s))
    assert(r.k == s.k && r.n == s.n && r.err == s.err)
    assert(r.weighted.toSeq == s.weighted.toSeq)
    for (p <- Seq(0.1, 0.5, 0.9)) assert(r.quantile(p) == s.quantile(p))
  }

  test("an over-full weight-1 level loads and keeps accepting adds") {
    // QSK1 bytes no writer produces (10 weight-1 values at k = 8) but
    // the reader accepts: the next add must compact, not overrun.
    val buf = java.nio.ByteBuffer.allocate(4 + 4 + 8 + 8 + 4 + (8 + 1 + 4) + 10 * 8)
    buf.putInt(0x51534b31).putInt(8).putLong(10L).putLong(0L).putInt(1)
    buf.putLong(1L).put(0.toByte).putInt(10)
    (1 to 10).foreach(i => buf.putDouble(i.toDouble))
    val s = QuantileSketch.fromBytes(buf.array())
    s.add(11.0)
    assert(s.n == 11L)
    assert(s.weighted.map(_._2).sum == 11L)
    assert(s.quantile(1.0) == 11.0)
  }

  // ---- Windowed summaries on Spark ----

  test("windows follow the canonical partition; union answers exact quantiles at tiny n") {
    val values = Seq(9.0, 2.0, 7.0, 1.0, 8.0, 3.0, 6.0, 4.0, 5.0, 10.0, 11.0, 0.0)
    val qt = QuantileSummary.summarize(stream(values), exp2).persist()
    val expectedWindows =
      graft.windowing.DecayModel.windowStarts(exp2, values.size.toLong).length
    assert(qt.count() == expectedWindows)
    val got = QuantileSummary.rangeQuantiles(qt, Seq(0.25, 0.5, 1.0)).collect()
      .map(r => r.getAs[Double]("p") ->
        (r.getAs[Double]("est"), r.getAs[Long]("rank_err"), r.getAs[Long]("n"))).toMap
    val sorted = values.sorted
    // 512-capacity windows over 12 values: everything exact, err 0.
    got.foreach { case (_, (_, e, n)) => assert(e == 0L && n == values.size.toLong) }
    assert(got(0.25)._1 == sorted(math.ceil(0.25 * values.size).toInt - 1))
    assert(got(0.5)._1 == sorted(math.ceil(0.5 * values.size).toInt - 1))
    assert(got(1.0)._1 == sorted.last)
    qt.unpersist()
  }

  test("re-coarsening merges windows without breaking the contract") {
    val rnd = new Random(7)
    val values = Seq.fill(3000)(rnd.nextDouble() * 100.0)
    val ev = stream(values)
    val contract = QuantileSummary
      .quantileContract(ev, exp2, Seq(0.5, 0.9, 0.99), k = 32)
      .collect()
    assert(contract.length == 3)
    contract.foreach(r =>
      assert(r.getAs[Boolean]("within_bound"), s"contract violated: $r"))
  }

  test("range filter prunes to overlapping windows only") {
    val values = (0 until 64).map(_.toDouble)
    val qt = QuantileSummary.summarize(stream(values), exp2).persist()
    // Query a tail range: [t0, inf) with t0 past most windows' te.
    val tail = QuantileSummary.rangeQuantiles(qt, Seq(1.0), t0 = 600L).collect()
    assert(tail.length == 1)
    // Whole-stream max must be 63; the tail union still contains it.
    assert(tail.head.getAs[Double]("est") == 63.0)
    // n over the tail only covers the overlapping windows' weight.
    assert(tail.head.getAs[Long]("n") < values.size.toLong)
    qt.unpersist()
  }

  test("multi-stream: per-stream sketches stay independent") {
    val a = stream(Seq.fill(200)(1.0), sid = 1L)
    val b = stream((1 to 200).map(_.toDouble), sid = 2L)
    val ev = a.union(b)
    val e2 = exp2 // local copy: the specOf lambda must not capture the spec
    val qt = QuantileSummary.summarizePerStream(ev, _ => e2)
    val got = QuantileSummary.rangeQuantiles(qt, Seq(0.5)).collect()
      .map(r => r.getAs[Long]("stream_id") -> r.getAs[Double]("est")).toMap
    assert(got(1L) == 1.0)
    assert(got(2L) == 100.0) // k=512 over 200 values: exact (err=0)
  }
}

package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import org.apache.spark.util.sketch.{BloomFilter, CountMinSketch}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

/** The sketch operators the reference declares but never implements —
  * `OpType` lists bloom/cms/freq (`/root/reference/protos/summarydb.capnp:6-13`,
  * `README.md:27-28`) with no code behind them. Implemented here as
  * typed Aggregators over Spark's public sketch library
  * (`org.apache.spark.util.sketch`), so they run with partial+final
  * aggregation like every other op, and their states merge as monoids
  * (mergeInPlace) exactly like DataTable columns.
  *
  * Buffers hold the live sketch object (Kryo-encoded): `reduce` mutates
  * in place, serialization happens only at shuffle/spill boundaries —
  * not per row.
  */
object Sketches {

  private def bloomToBytes(bf: BloomFilter): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }
  private def bloomFromBytes(b: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(b))

  private def cmsToBytes(s: CountMinSketch): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    s.writeTo(out)
    out.toByteArray
  }
  private def cmsFromBytes(b: Array[Byte]): CountMinSketch =
    CountMinSketch.readFrom(new ByteArrayInputStream(b))

  /** Bloom-filter membership aggregate over a string column. Output =
    * the filter's stable wire format; probe with [[mightContain]].
    */
  class BloomAggregator(expectedItems: Long = 10000L, fpp: Double = 0.01)
      extends Aggregator[String, BloomFilter, Array[Byte]] {
    def zero: BloomFilter = BloomFilter.create(expectedItems, fpp)
    def reduce(bf: BloomFilter, a: String): BloomFilter = {
      if (a != null) bf.putString(a)
      bf
    }
    def merge(a: BloomFilter, b: BloomFilter): BloomFilter = {
      a.mergeInPlace(b); a
    }
    def finish(r: BloomFilter): Array[Byte] = bloomToBytes(r)
    def bufferEncoder: Encoder[BloomFilter] = Encoders.kryo[BloomFilter]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Count-min-sketch aggregate over a string column. Output = the
    * sketch's stable wire format; probe with [[cmsEstimate]].
    */
  class CmsAggregator(eps: Double = 0.001, confidence: Double = 0.99, seed: Int = 42)
      extends Aggregator[String, CountMinSketch, Array[Byte]] {
    def zero: CountMinSketch = CountMinSketch.create(eps, confidence, seed)
    def reduce(s: CountMinSketch, a: String): CountMinSketch = {
      if (a != null) s.addString(a)
      s
    }
    def merge(a: CountMinSketch, b: CountMinSketch): CountMinSketch = {
      a.mergeInPlace(b); a
    }
    def finish(r: CountMinSketch): Array[Byte] = cmsToBytes(r)
    def bufferEncoder: Encoder[CountMinSketch] = Encoders.kryo[CountMinSketch]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Union of already-serialized Bloom filters (binary column) — the
    * merge half of the aggregate split out on its own, for re-coarsening
    * stored per-window sketches without touching raw values
    * (Compactor.recoarsen). Buffer is the live filter with a lazy
    * null zero: `mergeInPlace` requires identical bit-array sizing, so
    * a parameterless zero cannot pre-allocate — all inputs must come
    * from one build configuration (enforced by FreqSummary's
    * table-level constants).
    */
  class BloomUnionAggregator extends Aggregator[Array[Byte], BloomFilter, Array[Byte]] {
    def zero: BloomFilter = null
    def reduce(b: BloomFilter, a: Array[Byte]): BloomFilter =
      if (a == null) b
      else if (b == null) bloomFromBytes(a)
      else { b.mergeInPlace(bloomFromBytes(a)); b }
    def merge(a: BloomFilter, b: BloomFilter): BloomFilter =
      if (a == null) b else if (b == null) a else { a.mergeInPlace(b); a }
    def finish(r: BloomFilter): Array[Byte] = if (r == null) null else bloomToBytes(r)
    def bufferEncoder: Encoder[BloomFilter] = Encoders.kryo[BloomFilter]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Union of serialized count-min sketches — CMS counters add
    * cell-wise under `mergeInPlace`, so the union of window sketches
    * equals the sketch of the concatenated windows (same monoid shape
    * as the scalar ops). Same lazy-null zero/compatibility contract as
    * [[BloomUnionAggregator]].
    */
  class CmsUnionAggregator extends Aggregator[Array[Byte], CountMinSketch, Array[Byte]] {
    def zero: CountMinSketch = null
    def reduce(b: CountMinSketch, a: Array[Byte]): CountMinSketch =
      if (a == null) b
      else if (b == null) cmsFromBytes(a)
      else { b.mergeInPlace(cmsFromBytes(a)); b }
    def merge(a: CountMinSketch, b: CountMinSketch): CountMinSketch =
      if (a == null) b else if (b == null) a else { a.mergeInPlace(b); a }
    def finish(r: CountMinSketch): Array[Byte] = if (r == null) null else cmsToBytes(r)
    def bufferEncoder: Encoder[CountMinSketch] = Encoders.kryo[CountMinSketch]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Misra-Gries heavy-hitter summary over a string column: at most
    * `capacity` counters; any key with true count > N/(capacity+1)
    * survives with `count - eps*N <= counter <= count`. The candidate
    * half of the windowed `freq` op — estimates come from the CMS,
    * which is deterministic; the MG counter CONTENTS legitimately vary
    * with processing order, so consumers must rely only on the
    * guarantee (heavy keys present, counters lower-bounded), never on
    * map equality.
    */
  class MgAggregator(capacity: Int)
      extends Aggregator[String, collection.mutable.Map[String, Long], Map[String, Long]] {
    def zero: collection.mutable.Map[String, Long] = collection.mutable.Map.empty
    def reduce(m: collection.mutable.Map[String, Long], a: String): collection.mutable.Map[String, Long] = {
      if (a != null) {
        m.get(a) match {
          case Some(c) => m(a) = c + 1
          case None if m.size < capacity => m(a) = 1L
          case None => // decrement-all eviction
            val dead = collection.mutable.ArrayBuffer.empty[String]
            m.foreach { case (k, c) => if (c == 1L) dead += k else m(k) = c - 1 }
            dead.foreach(m.remove)
        }
      }
      m
    }
    def merge(
        a: collection.mutable.Map[String, Long],
        b: collection.mutable.Map[String, Long]): collection.mutable.Map[String, Long] =
      Sketches.mgMerge(a, b, capacity)
    def finish(r: collection.mutable.Map[String, Long]): Map[String, Long] = r.toMap
    def bufferEncoder: Encoder[collection.mutable.Map[String, Long]] =
      Encoders.kryo[collection.mutable.Map[String, Long]]
    def outputEncoder: Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
  }

  /** Merge two MG summaries at `capacity` (Agarwal et al., "Mergeable
    * Summaries", PODS 2012): sum counters, then subtract the
    * (capacity+1)-th largest combined value from all and drop
    * non-positives — the error bounds add, the guarantee is preserved.
    */
  private[graft] def mgMerge(
      a: collection.mutable.Map[String, Long],
      b: collection.mutable.Map[String, Long],
      capacity: Int): collection.mutable.Map[String, Long] = {
    b.foreach { case (k, c) => a(k) = a.getOrElse(k, 0L) + c }
    if (a.size > capacity) {
      val vals = a.values.toArray
      java.util.Arrays.sort(vals)
      val cut = vals(vals.length - capacity - 1) // (capacity+1)-th largest
      val dead = collection.mutable.ArrayBuffer.empty[String]
      a.foreach { case (k, c) => if (c - cut <= 0L) dead += k else a(k) = c - cut }
      dead.foreach(a.remove)
    }
    a
  }

  /** Union of MG candidate maps (map<string,long> column). */
  class MgUnionAggregator(capacity: Int)
      extends Aggregator[Map[String, Long], collection.mutable.Map[String, Long], Map[String, Long]] {
    def zero: collection.mutable.Map[String, Long] = collection.mutable.Map.empty
    def reduce(m: collection.mutable.Map[String, Long], a: Map[String, Long]): collection.mutable.Map[String, Long] =
      if (a == null) m else Sketches.mgMerge(m, collection.mutable.Map(a.toSeq: _*), capacity)
    def merge(
        a: collection.mutable.Map[String, Long],
        b: collection.mutable.Map[String, Long]): collection.mutable.Map[String, Long] =
      Sketches.mgMerge(a, b, capacity)
    def finish(r: collection.mutable.Map[String, Long]): Map[String, Long] = r.toMap
    def bufferEncoder: Encoder[collection.mutable.Map[String, Long]] =
      Encoders.kryo[collection.mutable.Map[String, Long]]
    def outputEncoder: Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
  }

  /** `bloom_agg(col)` column for use inside `agg(...)`. */
  def bloomAgg(c: Column, expectedItems: Long = 10000L, fpp: Double = 0.01): Column =
    udaf(new BloomAggregator(expectedItems, fpp)).apply(c)

  /** `bloom_union_agg(col)` over serialized filters. */
  def bloomUnionAgg(c: Column): Column = udaf(new BloomUnionAggregator).apply(c)

  /** `mg_agg(col)` — bounded Misra-Gries candidate map. */
  def mgAgg(c: Column, capacity: Int): Column = udaf(new MgAggregator(capacity)).apply(c)

  /** `mg_union_agg(col)` over candidate maps. */
  def mgUnionAgg(c: Column, capacity: Int): Column = udaf(new MgUnionAggregator(capacity)).apply(c)

  /** `cms_union_agg(col)` over serialized sketches. */
  def cmsUnionAgg(c: Column): Column = udaf(new CmsUnionAggregator).apply(c)

  /** `cms_agg(col)` column for use inside `agg(...)`. */
  def cmsAgg(c: Column, eps: Double = 0.001, confidence: Double = 0.99): Column =
    udaf(new CmsAggregator(eps, confidence)).apply(c)

  /** Driver/executor-side probes over serialized sketches. */
  def mightContain(bloomBytes: Array[Byte], item: String): Boolean =
    bloomFromBytes(bloomBytes).mightContainString(item)

  def cmsEstimate(cmsBytes: Array[Byte], item: String): Long =
    cmsFromBytes(cmsBytes).estimateCount(item)

  /** Probe many keys against one serialized sketch, deserializing the
    * sketch ONCE — `readFrom` copies the full ~eps-sized table, so a
    * per-key probe loop must not pay it per key.
    */
  def cmsEstimateAll(cmsBytes: Array[Byte], items: Seq[String]): Seq[(String, Long)] = {
    val s = cmsFromBytes(cmsBytes)
    items.map(k => (k, s.estimateCount(k)))
  }

  def mightContainAll(bloomBytes: Array[Byte], items: Seq[String]): Seq[(String, Boolean)] = {
    val bf = bloomFromBytes(bloomBytes)
    items.map(k => (k, bf.mightContainString(k)))
  }
}

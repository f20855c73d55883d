package graft.functions

import java.nio.ByteBuffer

import com.esotericsoftware.kryo.{Kryo, KryoSerializable}
import com.esotericsoftware.kryo.io.{Input, Output}
import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

import scala.collection.mutable

/** Deterministic mergeable quantile sketch: KLL-style level compaction
  * (Karnin/Lang/Liberty, FOCS 2016) with the randomness removed — the
  * kept-offset alternates per level instead of being coin-flipped (the
  * Manku/Rajagopalan/Lindsay SIGMOD 1998 collapse discipline) — and a
  * SELF-CERTIFIED worst-case rank-error counter: every compaction of a
  * level of weight `w` perturbs the rank of any query point by at most
  * `w` (a point falls inside at most one dropped pair's value
  * interval), so `err += w` per compaction is a hard bound carried in
  * the sketch itself. Merging concatenates levels, ADDS the certified
  * bounds, then re-compacts — the bound survives arbitrary merge trees,
  * which makes the sketch a monoid like count/sum/max and lets decay
  * re-coarsening and query-time range union reuse the scalar shapes
  * (Agarwal et al., "Mergeable Summaries", PODS 2012).
  *
  * Properties the contracts lean on:
  *   - every retained item is an ORIGINAL input value (compaction keeps
  *     subsets; nothing is interpolated), so a reported quantile always
  *     exists in the data;
  *   - a sketch holding <= k items at weight 1 is EXACT (err = 0) —
  *     small decay windows pay nothing for the approximation;
  *   - `err` is certified for any reduce/merge ORDER, so distributed
  *     aggregation (whose partition order varies run to run) cannot
  *     invalidate a bound-based oracle even though the retained item
  *     set itself may differ.
  *
  * Space: O(k · #levels) = O(k · log(n / k)) values per sketch.
  *
  * Hot-path layout: the weight-1 level — the one every single ingested
  * value passes through — lives in a primitive `Array[Double]` ring
  * (`l1`/`l1n`), NOT in the level map: the previous
  * `HashMap[Long, ArrayBuffer[Double]]` path boxed every value and paid
  * two boxed-key map lookups per event, which dominated the per-event
  * cost of the windowed quantile aggregation (this sketch is the only
  * CPU-bound aggregation in the engine — it scales with cores where the
  * index paths are job-bound). Weights >= 2 keep the map (they are
  * touched once per k ingested values, not once per value). Compaction
  * triggering, pairing order and the kept-offset alternation are
  * UNCHANGED — for any input sequence the retained multiset, `n`, `err`
  * and the [[QuantileSketch.toBytes]] wire bytes are identical to the
  * map-backed implementation.
  *
  * Shuffle encoding: the aggregation buffer implements
  * [[KryoSerializable]] and rides the compact QSK1 wire format
  * (primitive doubles, one byte array) instead of Kryo's reflective
  * field walk over nested boxed collections — smaller shuffle/spill
  * bytes and no exposure to field-serializer quirks on map internals.
  */
final class QSketch(k0: Int) extends Serializable with KryoSerializable {
  require(k0 >= 8, s"capacity too small to compact meaningfully: $k0")

  private var _k: Int = k0

  /** Capacity (items per level). */
  def k: Int = _k

  /** weight (>= 2) -> retained values (unsorted between compactions).
    * Weight 1 lives in [[l1]]. Plain HashMap, NOT LongMap: see the
    * KryoSerializable note above — the custom wire format avoids the
    * field serializer entirely, but merge() still concatenates these
    * buffers directly.
    */
  private var levels: mutable.HashMap[Long, mutable.ArrayBuffer[Double]] =
    mutable.HashMap.empty
  /** weight -> next kept-pair offset (deterministic alternation). */
  private var flips: mutable.HashMap[Long, Boolean] = mutable.HashMap.empty
  /** Weight-1 values, insertion-ordered; null until the first add. */
  private var l1: Array[Double] = null
  private var l1n: Int = 0
  /** Total weight (= number of ingested raw values). */
  var n: Long = 0L
  /** Certified worst-case absolute rank error of any rank estimate. */
  var err: Long = 0L

  def add(v: Double): Unit = {
    var a = l1
    if (a == null) { a = new Array[Double](_k + 1); l1 = a }
    a(l1n) = v
    l1n += 1
    n += 1L
    if (l1n > _k) compressL1()
  }

  /** Fold `other` into this sketch (both sides' guarantees add). */
  def merge(other: QSketch): Unit = {
    require(other._k == _k, s"sketch capacity mismatch: ${_k} vs ${other._k}")
    // Concatenate FIRST, compact after — compacting mid-concatenation
    // would change which values pair up and diverge from the certified
    // deterministic discipline.
    if (other.l1 != null) {
      val need = l1n + other.l1n
      if (l1 == null) l1 = new Array[Double](math.max(need, _k + 1))
      else if (l1.length < need) l1 = java.util.Arrays.copyOf(l1, need)
      System.arraycopy(other.l1, 0, l1, l1n, other.l1n)
      l1n = need
    }
    other.levels.foreach { case (w, buf) =>
      levels.getOrElseUpdate(w, mutable.ArrayBuffer.empty) ++= buf
    }
    n += other.n
    err += other.err
    if (l1n > _k) compressL1()
    levels.keys.toArray.sorted.foreach(compressFrom)
  }

  /** Compact the weight-1 array if oversized; cascades upward through
    * the map levels. Same pairing as [[compressFrom]] at w = 1.
    */
  private def compressL1(): Unit = {
    java.util.Arrays.sort(l1, 0, l1n)
    val keepSecond = flips.getOrElse(1L, false)
    flips(1L) = !keepSecond
    val off = if (keepSecond) 1 else 0
    val odd = l1n % 2 == 1
    val up = levels.getOrElseUpdate(2L, mutable.ArrayBuffer.empty)
    var i = 0
    val pairs = l1n / 2
    while (i < pairs) {
      up += l1(2 * i + off)
      i += 1
    }
    val straggler = l1(l1n - 1)
    l1n = 0
    if (odd) { l1(0) = straggler; l1n = 1 }
    err += 1L // hard bound: one dropped pair interval per query point
    compressFrom(2L)
  }

  /** Compact the level at weight `w` (>= 2) if oversized; cascades
    * upward (2w, 4w, ...) because each compaction feeds the next level.
    */
  private def compressFrom(w0: Long): Unit = {
    var w = w0
    while (levels.get(w).exists(_.length > _k)) {
      val buf = levels(w)
      val arr = buf.toArray
      java.util.Arrays.sort(arr)
      val keepSecond = flips.getOrElse(w, false)
      flips(w) = !keepSecond
      val off = if (keepSecond) 1 else 0
      val odd = arr.length % 2 == 1
      val up = levels.getOrElseUpdate(2L * w, mutable.ArrayBuffer.empty)
      // Pair value-adjacent items; keep one per pair at doubled weight.
      // An odd straggler (the LAST after sorting) stays at this level.
      var i = 0
      val pairs = arr.length / 2
      while (i < pairs) {
        up += arr(2 * i + off)
        i += 1
      }
      buf.clear()
      if (odd) buf += arr(arr.length - 1)
      err += w // hard bound: one dropped pair interval per query point
      w = 2L * w
    }
  }

  /** Estimated number of ingested values <= v (within `err` of exact). */
  def rankLe(v: Double): Long = {
    var r = 0L
    var i = 0
    while (i < l1n) {
      if (l1(i) <= v) r += 1L
      i += 1
    }
    levels.foreach { case (w, buf) =>
      var j = 0
      while (j < buf.length) {
        if (buf(j) <= v) r += w
        j += 1
      }
    }
    r
  }

  /** The retained (value, weight) pairs, sorted by value. */
  def weighted: Array[(Double, Long)] = {
    val out = mutable.ArrayBuffer.empty[(Double, Long)]
    var i = 0
    while (i < l1n) { out += ((l1(i), 1L)); i += 1 }
    levels.foreach { case (w, buf) => buf.foreach(v => out += ((v, w))) }
    out.sortBy(_._1).toArray
  }

  /** Smallest retained value whose estimated rank reaches ceil(p*n)
    * (1-based, clamped to [1, n]); the exact rank of the returned value
    * is within `err` of the target — see the contract derivation in
    * [[graft.core.QuantileSummary.quantileContract]].
    */
  def quantile(p: Double): Double = {
    require(n > 0, "empty sketch")
    val target = math.min(n, math.max(1L, math.ceil(p * n).toLong))
    val items = weighted
    var cum = 0L
    var i = 0
    while (i < items.length) {
      cum += items(i)._2
      if (cum >= target) return items(i)._1
      i += 1
    }
    items(items.length - 1)._1
  }

  /** (weight, flip, values) per level in ascending weight — the wire
    * layout [[QuantileSketch.toBytes]] writes, including the weight-1
    * entry exactly when the array is allocated (mirrors the map entry
    * the previous implementation created on first touch, so the wire
    * bytes are unchanged).
    */
  private[functions] def wireLevels: Array[(Long, Boolean, IndexedSeq[Double])] = {
    val out = mutable.ArrayBuffer.empty[(Long, Boolean, IndexedSeq[Double])]
    if (l1 != null)
      out += ((1L, flips.getOrElse(1L, false), l1.view.slice(0, l1n).toIndexedSeq))
    levels.toArray.sortBy(_._1).foreach { case (w, vs) =>
      out += ((w, flips.getOrElse(w, false), vs.toIndexedSeq))
    }
    out.toArray
  }

  /** Install one deserialized level (companion use). */
  private[functions] def loadLevel(w: Long, flip: Boolean, vs: Array[Double], cnt: Int): Unit = {
    if (w == 1L) {
      if (cnt > 0) {
        l1 = java.util.Arrays.copyOf(vs, math.max(cnt, _k) + 1) // a spare slot for the next add
        l1n = cnt
      }
      // empty stored weight-1 entries are dropped on read, matching the
      // previous map-backed fromBytes (`if (vs.nonEmpty)`)
    } else if (cnt > 0) {
      val buf = mutable.ArrayBuffer.empty[Double]
      var i = 0
      while (i < cnt) { buf += vs(i); i += 1 }
      levels(w) = buf
    }
    flips(w) = flip
  }

  private[functions] def resetFor(newK: Int): Unit = {
    _k = newK
    levels = mutable.HashMap.empty
    flips = mutable.HashMap.empty
    l1 = null
    l1n = 0
    n = 0L
    err = 0L
  }

  // Shuffle/spill encoding: one compact byte array (the stable QSK1
  // format) instead of Kryo's reflective field walk over two boxed
  // HashMaps of boxed buffers.
  override def write(kryo: Kryo, output: Output): Unit = {
    val bytes = QuantileSketch.toBytes(this)
    output.writeVarInt(bytes.length, true)
    output.writeBytes(bytes)
  }

  override def read(kryo: Kryo, input: Input): Unit = {
    val len = input.readVarInt(true)
    QuantileSketch.readInto(input.readBytes(len), this)
  }
}

object QuantileSketch {

  private val Magic = 0x51534b31 // "QSK1"

  def toBytes(s: QSketch): Array[Byte] = {
    val lvls = s.wireLevels
    val nVals = lvls.iterator.map(_._3.length).sum
    val buf = ByteBuffer.allocate(4 + 4 + 8 + 8 + 4 + lvls.length * (8 + 1 + 4) + nVals * 8)
    buf.putInt(Magic).putInt(s.k).putLong(s.n).putLong(s.err).putInt(lvls.length)
    lvls.foreach { case (w, flip, vs) =>
      buf.putLong(w)
      buf.put(if (flip) 1.toByte else 0.toByte)
      buf.putInt(vs.length)
      vs.foreach(buf.putDouble)
    }
    buf.array()
  }

  /** Parse QSK1 bytes into `target` (replacing its state). */
  private[functions] def readInto(b: Array[Byte], target: QSketch): Unit = {
    val buf = ByteBuffer.wrap(b)
    require(buf.getInt() == Magic, "not a QSK1 sketch")
    target.resetFor(buf.getInt())
    target.n = buf.getLong()
    target.err = buf.getLong()
    val nl = buf.getInt()
    var i = 0
    while (i < nl) {
      val w = buf.getLong()
      val flip = buf.get() == 1.toByte
      val cnt = buf.getInt()
      val vs = new Array[Double](cnt)
      var j = 0
      while (j < cnt) { vs(j) = buf.getDouble(); j += 1 }
      target.loadLevel(w, flip, vs, cnt)
      i += 1
    }
  }

  def fromBytes(b: Array[Byte]): QSketch = {
    val s = new QSketch(8)
    readInto(b, s)
    s
  }

  /** Build a sketch from raw double values. */
  class QsAggregator(k: Int) extends Aggregator[Double, QSketch, Array[Byte]] {
    def zero: QSketch = new QSketch(k)
    def reduce(s: QSketch, v: Double): QSketch = { s.add(v); s }
    def merge(a: QSketch, b: QSketch): QSketch = { a.merge(b); a }
    def finish(r: QSketch): Array[Byte] = toBytes(r)
    def bufferEncoder: Encoder[QSketch] = Encoders.kryo[QSketch]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Union serialized sketches (range queries, re-coarsening). */
  class QsUnionAggregator extends Aggregator[Array[Byte], QSketch, Array[Byte]] {
    def zero: QSketch = null
    def reduce(s: QSketch, b: Array[Byte]): QSketch =
      if (b == null) s
      else if (s == null) fromBytes(b)
      else { s.merge(fromBytes(b)); s }
    def merge(a: QSketch, b: QSketch): QSketch =
      if (a == null) b else if (b == null) a else { a.merge(b); a }
    def finish(r: QSketch): Array[Byte] = if (r == null) null else toBytes(r)
    def bufferEncoder: Encoder[QSketch] = Encoders.kryo[QSketch]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** `qs_agg(col)` for use inside `agg(...)` over a double column. */
  def qsAgg(c: Column, k: Int): Column = udaf(new QsAggregator(k)).apply(c)

  /** `qs_union_agg(col)` over serialized sketches. */
  def qsUnionAgg(c: Column): Column = udaf(new QsUnionAggregator).apply(c)

  /** Probe many probabilities against one serialized sketch,
    * deserializing ONCE: (p, estimate, certified_err, n).
    */
  def quantilesAll(bytes: Array[Byte], probs: Seq[Double]): Seq[(Double, Double, Long, Long)] = {
    val s = fromBytes(bytes)
    probs.map(p => (p, s.quantile(p), s.err, s.n))
  }
}

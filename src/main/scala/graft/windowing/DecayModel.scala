package graft.windowing

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

/** Computes the decayed-window decomposition of a stream of N elements.
  *
  * The reference maintains this incrementally with a merge heap + RB-tree
  * index (`/root/reference/core/merger.go:241-260`,
  * `/root/reference/core/merger_index.go`). The key observation (SURVEY
  * §7.0) is that the resulting partition of [0, N) into count ranges is a
  * deterministic function of (windowing policy, sequence of merge-event
  * sizes) — independent of values, timestamps, and `windowsPerBatch`
  * (which only batches persistence, not index state). So on Spark we
  * compute the partition once per distinct N on the driver, broadcast the
  * O(#windows) boundary array, and assign elements to windows by rank —
  * no distributed mutable state at all.
  *
  * Event-size sequences:
  *  - unbuffered mode: N events of size 1
  *    (`/root/reference/core/pipeline.go:109-117`);
  *  - buffered mode with buffer capacity B = sum(windowsCoveringUpto(b)):
  *    each full buffer is cut into those lengths largest-first
  *    (`/root/reference/core/summarizer.go:83-107`), and the tail
  *    (flush) is appended as size-1 events
  *    (`/root/reference/core/pipeline.go:119-140`).
  *
  * Scale note: two closed forms cover the hot specs entirely —
  * integral-base exponential windowing (self-similar recurrence,
  * O(log N)) and q=1/s=1 power windowing for ANY R (count-boundary
  * band form, O(#windows) = O(N^(1/(p+1))) — see
  * [[powerSizesClosedForm]]). Everything else (non-integral exponential
  * bases, exotic power specs, buffered-ingest decompositions) runs the
  * merge-heap simulation through a geometric checkpoint store
  * ([[simulateCheckpointed]]): no length cap, O(events since the
  * nearest snapshot) per query, amortized O(n_final) total over a
  * growing stream. Buffered event counts are n/capacity * |cut|, so a
  * 10^10-element buffered session with a 2^20 buffer is ~2*10^5 heap
  * events — interactive even cold.
  */
object DecayModel {

  /** One merge event: a freshly summarized window of `size` elements.
    * Supports O(W) state snapshots ([[copy]]) so the geometric
    * checkpoint store can resume mid-stream instead of replaying from
    * element zero. The `windowing` marker table is append-only,
    * synchronized, and deterministic per spec, so clones SHARE it.
    */
  private final class Simulator private (
      windowing: GenericWindowing,
      index: java.util.TreeMap[java.lang.Long, Long],
      heap: mutable.PriorityQueue[(Long, Long, Long)],
      gen: java.util.HashMap[java.lang.Long, Long],
      private var numElements: Long,
      private var nextId: Long) {

    def this(windowing: GenericWindowing) = this(
      windowing,
      new java.util.TreeMap[java.lang.Long, Long](),
      mutable.PriorityQueue.empty[(Long, Long, Long)](
        Ordering.by[(Long, Long, Long), (Long, Long)](e => (e._1, e._2)).reverse),
      new java.util.HashMap[java.lang.Long, Long](),
      0L, 0L)

    def elements: Long = numElements

    def copy(): Simulator = new Simulator(
      windowing,
      index.clone().asInstanceOf[java.util.TreeMap[java.lang.Long, Long]],
      heap.clone(),
      gen.clone().asInstanceOf[java.util.HashMap[java.lang.Long, Long]],
      numElements, nextId)

    private def cStart(id: java.lang.Long): Long = {
      val lower = index.lowerEntry(id)
      if (lower == null) 0L else lower.getValue + 1L
    }

    private def bumpGen(id: java.lang.Long): Long =
      gen.merge(id, 1L, (a, b) => a + b)

    /** (Re)schedule the merge of `id` with its successor over the combined
      * count span [c0, c1]; mirrors `updateMergeCountFor`
      * (`/root/reference/core/merger.go:116-138`).
      */
    private def updateMergeCount(id: java.lang.Long, c0: Long, c1: Long): Unit = {
      val g = bumpGen(id) // invalidates any previous entry
      windowing.firstContainingTime(c0, c1, numElements) match {
        case Some(t) => heap.enqueue((t, id, g))
        case None    => ()
      }
    }

    def process(size: Long): Unit = {
      numElements += size
      if (!index.isEmpty) {
        val last = index.lastKey()
        updateMergeCount(last, cStart(last), numElements - 1)
      }
      val id = nextId
      nextId += 1
      index.put(id, numElements - 1)

      // Pop due merges; mirrors `updatePendingMerges`
      // (/root/reference/core/merger.go:209-239).
      var continue = true
      while (continue && heap.nonEmpty) {
        val (t, _, _) = heap.head
        if (t > numElements) continue = false
        else {
          val (_, w1raw, g) = heap.dequeue()
          val w1: java.lang.Long = w1raw
          if (gen.get(w1) == g && index.containsKey(w1)) {
            bumpGen(w1) // popped == unscheduled
            val w2 = index.higherKey(w1)
            if (w2 != null) {
              val w0 = index.lowerKey(w1)
              val w3 = index.higherKey(w2)
              val w1NewStart = cStart(w1)
              val w1NewEnd = index.get(w2)
              bumpGen(w2) // drop w2's scheduled entry with it
              index.remove(w2)
              index.put(w1, w1NewEnd)
              if (w0 != null) updateMergeCount(w0, cStart(w0), w1NewEnd)
              if (w3 != null) updateMergeCount(w1, w1NewStart, index.get(w3))
            }
          }
        }
      }
    }

    /** Count spans oldest -> newest as (cStart, cEnd) inclusive. */
    def result(): Array[(Long, Long)] = {
      val out = Array.newBuilder[(Long, Long)]
      var prevEnd = -1L
      val it = index.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        out += ((prevEnd + 1, e.getValue))
        prevEnd = e.getValue
      }
      out.result()
    }
  }

  /** Decomposition after an explicit merge-event size sequence (e.g. to
    * model multiple ingest sessions separated by flushes).
    */
  def decomposeEvents(spec: WindowingSpec, sizes: Iterator[Long]): Array[(Long, Long)] =
    simulate(spec, sizes)

  /** The flush-time merge-event sizes for one ingest session of n
    * elements through a buffer (0 = unbuffered). Unbounded: callers
    * consume lazily; cost is O(#events) = O(n) unbuffered,
    * O((n / capacity) * |cut|) buffered.
    */
  def sessionSizes(spec: WindowingSpec, n: Long, bufferSize: Long = 0L): Iterator[Long] =
    if (bufferSize <= 0) unbufferedSizes(n) else bufferedSizes(spec, bufferSize, n)

  private def simulate(spec: WindowingSpec, sizes: Iterator[Long]): Array[(Long, Long)] = {
    val sim = new Simulator(spec.newWindowing())
    sizes.foreach(sim.process)
    sim.result()
  }

  /** Merge-event sizes for N appends in unbuffered mode. Long-counted:
    * Iterator.fill(n.toInt) would silently truncate for n > Int.MaxValue.
    */
  private def unbufferedSizes(n: Long): Iterator[Long] =
    Iterator.range(0L, n).map(_ => 1L)

  /** Merge-event sizes for N appends through a buffer of nominal size
    * `bufferSize`, then a flush. Full buffers are cut largest-first into
    * `windowsCoveringUpto(bufferSize)`. At flush, the partial active
    * buffer also goes through the summarizer — cut into the longest
    * descending suffix of the lengths that fits
    * (`/root/reference/core/summarizer.go:37-52,83-107`) — and only the
    * leftover is appended unbuffered as size-1 events
    * (`/root/reference/core/pipeline.go:119-140,185-196`).
    */
  private def bufferedSizes(spec: WindowingSpec, bufferSize: Long, n: Long): Iterator[Long] = {
    val lengths = spec.newWindowing().windowsCoveringUpto(bufferSize)
    val capacity = lengths.sum
    if (capacity <= 0) unbufferedSizes(n)
    else {
      val cut = lengths.reverse // largest first
      val fullBuffers = n / capacity
      val tail = n - fullBuffers * capacity
      // getNumWindowsCovering: #prefix lengths with cumulative sum <= tail.
      var acc = 0L
      val prefix = lengths.takeWhile { len => acc += len; acc <= tail }
      val tailCut = prefix.reverse
      val leftover = tail - prefix.sum
      Iterator.range(0L, fullBuffers).flatMap(_ => cut.iterator) ++
        tailCut.iterator ++ Iterator.range(0L, leftover).map(_ => 1L)
    }
  }

  /** Closed-form decomposition for exponential windowing with an
    * integral base b and unbuffered ingest, via the self-similarity
    *
    *   D(b*m + s) = b * D(m) ++ D(s)   for 1 <= s <= b, m >= 1,
    *
    * (sizes oldest -> newest; b*D scales every window size). The state
    * after n appends is a scaled copy of the state after floor((n-s)/b)
    * appends plus a fresh tail — O(log_b n) recursion instead of the
    * O(n) heap simulation. Verified against the simulator for all
    * n <= 4096 and sampled n <= 10^5 (DecayModelScaleSuite); the base
    * cases n <= b^2 come from the simulator itself.
    */
  private def sizesClosedForm(base: Long, n: Long): Array[Long] = {
    require(n >= 1)
    if (n <= base * base)
      simulate(ExponentialWindowing(base.toDouble), unbufferedSizes(n))
        .map { case (s, e) => e - s + 1 }
    else {
      val s = (n - 1) % base + 1
      val m = (n - s) / base
      val head = sizesClosedForm(base, m)
      val tail = sizesClosedForm(base, s)
      val out = new Array[Long](head.length + tail.length)
      var i = 0
      while (i < head.length) { out(i) = head(i) * base; i += 1 }
      System.arraycopy(tail, 0, out, head.length, tail.length)
      out
    }
  }

  private def integralBase(spec: WindowingSpec): Option[Long] = spec match {
    case ExponentialWindowing(b) if b >= 2.0 && b == math.rint(b) && b <= 1e6 =>
      Some(b.toLong)
    case _ => None
  }

  // ------------------------------------------- power closed form

  /** Exact Sum_{k=1}^K k^p via the binomial recursion
    * (p+1)·S_p = (K+1)^(p+1) - 1 - Sum_{i<p} C(p+1,i)·S_i, in BigInt so
    * band boundaries near 2^63 stay exact.
    */
  private def sumPow(k: Long, p: Long): BigInt = {
    if (k <= 0) return BigInt(0)
    if (p == 0) BigInt(k)
    else {
      var acc = (BigInt(k) + 1).pow(p.toInt + 1) - 1
      var i = 0L
      while (i < p) { acc -= binom(p + 1, i) * sumPow(k, i); i += 1 }
      acc / (p + 1)
    }
  }

  private def binom(n: Long, r: Long): BigInt = {
    var b = BigInt(1)
    var i = 0L
    while (i < r) { b = b * (n - i) / (i + 1); i += 1 }
    b
  }

  /** Closed-form decomposition for power windowing with q == 1, s == 1
    * (decay lengths 1,2,3,... with R·k^(p-1) windows of length k) — ANY
    * R >= 1, odd or even. Derived from the simulator's steady state and
    * verified against it exhaustively (DecayModelScaleSuite; plus an
    * offline sweep over R in 1..12 × p in 1..3, ~60k stream lengths):
    *
    * Summary windows only ever pair-merge, so their sizes are powers of
    * two; size-2^j windows tile the age band where the decay length is
    * in [2^j, 2^(j+1)), whose start marker is B_j = R·Sum_(k<2^j) k^p.
    * The COUNT-AXIS boundary below the size-2^j class (elements held in
    * windows strictly larger than 2^j) is the band position snapped DOWN
    * to the class alignment:
    *
    *   J    = max { j : B_j + 2^j <= n }            (largest class present)
    *   E_j  = 2^(j+1) * floor((n - B_(j+1)) / 2^(j+1))   for j < J
    *   E_J  = 0,  E_(-1) = n
    *   c_j  = (E_(j-1) - E_j) / 2^j                 (count of 2^j windows)
    *
    * For even R every B_j is 2^j-aligned and this reduces to the
    * binary-digit form (c_j = (B_(j+1)-B_j)/2^j + bit_j(n)); for odd R
    * the floor carries the phase offset that the digit form could not
    * express. Totals telescope: Sum c_j 2^j = E_(-1) - E_J = n, always.
    * Sizes are emitted largest (oldest) first, matching the simulator.
    *
    * O(#windows) time and space — #windows is Theta(n^(1/(p+1)))
    * (the whole point of power decay: polynomially many windows), so a
    * 10^10-element stream decomposes in ~10^5 array slots instead of an
    * impossible 10^10-step heap simulation.
    */
  private def powerSizesClosedForm(pw: PowerWindowing, n: Long): Option[Array[Long]] = {
    if (pw.q != 1L || pw.s != 1L || pw.r < 1 || pw.p < 1 || n < 1) return None
    def band(j: Int): BigInt = BigInt(pw.r) * sumPow((1L << j) - 1, pw.p)
    var jMax = 0
    while (band(jMax + 1) + (BigInt(1) << (jMax + 1)) <= n) jMax += 1
    // E(j): count-axis boundary below class j; all values in [0, n] so
    // they fit Long (bands are BigInt only because B_(J+1) may overflow).
    val e = new Array[Long](jMax + 1)
    var j = 0
    while (j < jMax) {
      val step = BigInt(1) << (j + 1)
      e(j) = (((BigInt(n) - band(j + 1)) / step) * step).toLong // positive: B_(j+1)+2^(j+1) <= n
      j += 1
    }
    e(jMax) = 0L
    val counts = new Array[Long](jMax + 1)
    var total = 0L
    j = 0
    while (j <= jMax) {
      val upper = if (j == 0) n else e(j - 1)
      val diff = upper - e(j)
      if (diff < 0 || (diff & ((1L << j) - 1)) != 0) return None // defensive: misaligned
      counts(j) = diff >> j
      total += counts(j)
      j += 1
    }
    // JVM array bound on #windows, not a stream-length cap: at p=1/R=1
    // it binds only past n ~ 10^18, where the starts array itself could
    // not exist in memory anyway.
    require(total <= Int.MaxValue.toLong, s"power decomposition of n=$n has $total windows")
    val out = new Array[Long](total.toInt)
    var idx = 0
    j = jMax
    while (j >= 0) {
      var c = counts(j)
      while (c > 0) { out(idx) = 1L << j; idx += 1; c -= 1 }
      j -= 1
    }
    if (out.sum == n) Some(out) else None // defensive: never emit a bad partition
  }

  // --------------------------------------- checkpointed simulation

  /** Geometric checkpoint store for specs with no closed form
    * (non-integral exponential bases, exotic power specs, buffered
    * decompositions): per (spec, bufferSize), simulator snapshots at
    * roughly doubling element counts. A request for n resumes from the
    * largest snapshot <= n instead of replaying from element zero, so a
    * sequence of queries over a growing stream costs O(n_final) total
    * simulation work (amortized O(polylog) per query), not
    * O(Sum n_i). Snapshots are O(#windows) each and only ~log2(n) per
    * key are retained. Buffered streams snapshot only at full-buffer
    * element counts (mid-tail states are not prefixes of longer
    * sessions — the flush tail depends on n).
    */
  private val simSnapshots =
    new ConcurrentHashMap[(WindowingSpec, Long), java.util.TreeMap[Long, Simulator]]()

  /** Shared marker tables (append-only, synchronized, deterministic per
    * spec) — one per spec so snapshot clones don't regrow them.
    */
  private val windowings = new ConcurrentHashMap[WindowingSpec, GenericWindowing]()
  private def windowingFor(spec: WindowingSpec): GenericWindowing =
    windowings.computeIfAbsent(spec, s => s.newWindowing())

  /** Keep ~geometrically spaced snapshots plus the largest. */
  private def prune(tree: java.util.TreeMap[Long, Simulator]): Unit = {
    if (tree.size() <= 72) return
    val keys = new java.util.ArrayList[Long](tree.keySet())
    var kept = 0L
    val it = keys.iterator()
    while (it.hasNext) {
      val k = it.next()
      if (k != tree.lastKey() && k < kept * 2) tree.remove(k)
      else kept = k
    }
  }

  /** Simulate the decomposition of `n` elements via the checkpoint
    * store. Cost: O(events between the floor snapshot and n).
    */
  private def simulateCheckpointed(
      spec: WindowingSpec, bufferSize: Long, n: Long): Array[(Long, Long)] = {
    val tree = simSnapshots
      .computeIfAbsent((spec, bufferSize), _ => new java.util.TreeMap[Long, Simulator]())
    tree.synchronized {
      if (bufferSize <= 0) {
        val floor = Option(tree.floorEntry(n)).map(_.getValue)
        val sim = floor.map(_.copy()).getOrElse(new Simulator(windowingFor(spec)))
        var lastSnap = math.max(sim.elements, 1L)
        while (sim.elements < n) {
          sim.process(1L)
          if (sim.elements >= 2 * lastSnap && sim.elements < n) {
            tree.put(sim.elements, sim.copy()); lastSnap = sim.elements
          }
        }
        tree.put(n, sim.copy())
        prune(tree)
        sim.result()
      } else {
        val lengths = windowingFor(spec).windowsCoveringUpto(bufferSize)
        val capacity = lengths.sum
        if (capacity <= 0) return simulateCheckpointed(spec, 0L, n)
        val cut = lengths.reverse // largest first, as the Summarizer cuts
        val fullElems = (n / capacity) * capacity
        val floor = Option(tree.floorEntry(fullElems)).map(_.getValue)
        val sim = floor.map(_.copy()).getOrElse(new Simulator(windowingFor(spec)))
        var lastSnap = math.max(sim.elements, 1L)
        while (sim.elements < fullElems) {
          cut.foreach(sim.process)
          if (sim.elements >= 2 * lastSnap && sim.elements < fullElems) {
            tree.put(sim.elements, sim.copy()); lastSnap = sim.elements
          }
        }
        if (sim.elements == fullElems && fullElems > 0) tree.put(fullElems, sim.copy())
        prune(tree)
        // Flush tail (partial buffer cut + leftover singles) is not a
        // resumable prefix — feed it on the live sim, snapshot nothing.
        val t = n - fullElems
        var acc = 0L
        val prefix = lengths.takeWhile { len => acc += len; acc <= t }
        prefix.reverse.foreach(sim.process)
        var left = t - prefix.sum
        while (left > 0) { sim.process(1L); left -= 1 }
        sim.result()
      }
    }
  }

  // Memo for windowStarts. Evaluated PER ROW inside executor UDFs
  // (Summarizer/Compactor), so it must be bounded by memory, not entry
  // count: a power decomposition at n=10^10 is ~450k longs, while an
  // exp-2 one is ~34 — bounding entries alone either thrashes small
  // arrays or OOMs on big ones. Budget ~16M longs (~128 MB); coarse
  // clear-all on overflow, after which hot keys repopulate.
  private val cache = new ConcurrentHashMap[(WindowingSpec, Long, Long), Array[Long]]()
  private val cachedSlots = new java.util.concurrent.atomic.AtomicLong(0L)
  private val MaxCachedSlots = 16L * 1024 * 1024

  /** Window start ranks (cStart of each window, ascending; first is 0)
    * for a stream of `n` elements. `bufferSize <= 0` = unbuffered.
    * Element with 0-based rank `s` belongs to the window
    * `upperBound(starts, s) - 1`. Memoized per (spec, bufferSize, n).
    */
  private def toStarts(sizes: Array[Long]): Array[Long] = {
    val starts = new Array[Long](sizes.length)
    var acc = 0L
    var i = 0
    while (i < sizes.length) { starts(i) = acc; acc += sizes(i); i += 1 }
    starts
  }

  def windowStarts(spec: WindowingSpec, n: Long, bufferSize: Long = 0L): Array[Long] = {
    if (cachedSlots.get() > MaxCachedSlots) {
      cache.clear()
      cachedSlots.set(0L)
    }
    // Lock-free hit path FIRST: ConcurrentHashMap.computeIfAbsent on a
    // PRESENT key still takes the bin lock unless the key is the bin's
    // first node (JDK-8161372 fixed only that case) — and this method
    // runs once per ROW in the summarize UDF, on every executor thread
    // at once. With a few hundred cached stream lengths, a hot key
    // landing second in its bin serialized all 32 threads on one
    // monitor: the 10^9-row bench point ran 10x slower AFTER a fleet
    // run had populated the cache (found by stack-sampling, BENCH_NOTES
    // §6). get() never locks.
    val key = (spec, bufferSize, n)
    val hit = cache.get(key)
    if (hit != null) return hit
    cache.computeIfAbsent(key, { _ =>
      // (insertion races may overshoot the budget slightly; the next
      // call's clear-all corrects it — bound, not invariant)
      val fastExp = integralBase(spec).filter(_ => bufferSize <= 0)
      val fastPower = spec match {
        case pw: PowerWindowing if bufferSize <= 0 => powerSizesClosedForm(pw, n)
        case _                                     => None
      }
      val starts = (fastExp, fastPower) match {
        case (Some(b), _)     => toStarts(sizesClosedForm(b, n))
        case (_, Some(sizes)) => toStarts(sizes)
        case _                => simulateCheckpointed(spec, bufferSize, n).map(_._1)
      }
      cachedSlots.addAndGet(starts.length.toLong)
      starts
    })
  }

  /** Full (cStart, cEnd) spans, for tests and compaction planning. */
  def decompose(spec: WindowingSpec, n: Long, bufferSize: Long = 0L): Array[(Long, Long)] = {
    val starts = windowStarts(spec, n, bufferSize)
    starts.zipWithIndex.map { case (s, i) =>
      val end = if (i == starts.length - 1) n - 1 else starts(i + 1) - 1
      (s, end)
    }
  }

  // Per-thread last-hit memo over windowStarts: the summarize kernel
  // resolves the starts array once per ROW, and rows of one stream
  // arrive contiguously after the count join — so the common case
  // must be two long compares and a spec equality, never a map probe
  // (even the lock-free get() pays tuple alloc + hash per row).
  private final class LastStarts {
    var spec: WindowingSpec = _
    var bs: Long = Long.MinValue
    var n: Long = Long.MinValue
    var starts: Array[Long] = _
  }
  private val lastStarts =
    ThreadLocal.withInitial[LastStarts](() => new LastStarts)

  /** Primitive-argument entry point for the codegen'd
    * [[graft.functions.WindowId]] kernel: resolve the stream's spec,
    * fetch its starts through the per-thread memo, binary-search the
    * rank. Bit-identical to `windowIdOf(windowStarts(...), s)`.
    */
  def windowIdJ(specOf: Long => WindowingSpec, bs: Long, sid: Long, n: Long, s: Long): Int = {
    val spec = specOf(sid)
    val lh = lastStarts.get()
    if (lh.n != n || lh.bs != bs || !((spec eq lh.spec) || spec == lh.spec)) {
      lh.starts = windowStarts(spec, n, bs)
      lh.spec = spec
      lh.n = n
      lh.bs = bs
    }
    windowIdOf(lh.starts, s)
  }

  /** Window index (0-based, oldest window = 0) of element rank `s`. */
  def windowIdOf(starts: Array[Long], s: Long): Int = {
    var lo = 0
    var hi = starts.length - 1
    while (lo < hi) {
      val mid = (lo + hi + 1) >>> 1
      if (starts(mid) <= s) lo = mid else hi = mid - 1
    }
    lo
  }
}

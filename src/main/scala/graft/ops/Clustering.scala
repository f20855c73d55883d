package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic k-means over an embedding column, and the IVF
  * (inverted-file) similarity-search path built on it.
  *
  * Determinism by construction, not by seed luck: initial centers are
  * the embeddings of the k ids that sort first under the portable
  * [[Sampling.hashKey]] order (a reproducible pseudo-random draw), and
  * Lloyd iterations run at most `iters` rounds with a convergence
  * early-exit — the round stops when no center moved more than
  * `convergeEps` (L-inf over the collected centers, a pure function of
  * the data, so the stopping round is itself deterministic). Identical
  * clusters on every run, partitioning, and cluster size, which is
  * what makes IVF recall testable as a hard contract.
  *
  * Scale shape per iteration: centers broadcast (k * dim doubles),
  * assignment is one map over the corpus, recomputation is one
  * groupBy(cluster, dim) shuffle of per-dimension partial sums — no
  * all-pairs anything, no driver loop over rows. Empty clusters keep
  * their previous center (standard Lloyd fallback).
  */
object Clustering {

  /** (vec_id, cluster) assignment plus the final centers.
    * `embs`: (idCol, vecCol array<float>).
    */
  def kmeans(
      embs: DataFrame,
      k: Int,
      iters: Int = 5,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      convergeEps: Double = 1e-7): (DataFrame, Array[Array[Double]]) = {
    require(k >= 1 && iters >= 0, s"k >= 1, iters >= 0: $k, $iters")
    val spark = embs.sparkSession
    import spark.implicits._

    val corpus = embs.select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("v"))
      .persist() // read once across iters+1 passes; released before return

    // Deterministic init: first k ids in portable hash order.
    var centers: Array[Array[Double]] = corpus
      .orderBy(Sampling.hashKey("vec_id"), col("vec_id"))
      .limit(k)
      .select($"v").as[Seq[Float]]
      .collect()
      .map(Similarity.unit)

    // Native codegen'd assignment kernel (see [[graft.functions
    // .NearestCentroid]]): same scoring as the original UDF bit for
    // bit, minus the per-row Seq[Float] conversion the UDF paid on the
    // corpus-sized hot pass.
    def assignRef(cs: Array[Array[Double]]): (DataFrame, graft.functions.RefTable[Array[Array[Double]]]) = {
      // broadcast above the inline cap: a 10^5-cell center table
      // must not ride every stage's serialized plan
      val ref = graft.functions.RefTable.auto(spark, cs,
        graft.functions.RefTable.bytes2(cs, 8))
      (corpus.withColumn("cluster", graft.functions.ColumnBridge.toColumn(
        graft.functions.NearestCentroid(
          graft.functions.ColumnBridge.toExpression($"v"), ref))), ref)
    }
    def assign(cs: Array[Array[Double]]): DataFrame = assignRef(cs)._1

    var it = 0
    while (it < iters) {
      // The iteration's center table dies with the iteration: its
      // only consumer is the collect below, so the broadcast (if the
      // table crossed the inline cap) is destroyed in the finally —
      // a long session running many builds must not accumulate one
      // dead k * dim broadcast per Lloyd round.
      val (assigned, centersRef) = assignRef(centers)
      try {
      // Per-dimension means via a typed array Aggregator — ONE
      // groupByKey(cluster) whose partials are k fixed-point sum/count
      // arrays per partition, so the agg input is N vector rows (one
      // array-add each), not the N*dim exploded rows the previous
      // posexplode shape pushed through the hash aggregate; at corpus
      // scale that is a dim-fold CPU cut on the hot pass. Sums are
      // FIXED-POINT (per-element scale to 2^24, truncate to long, long
      // addition): integer addition is exact and associative, so the
      // mean is independent of partitioning and shuffle-combine order
      // (double sums are not, and a low-bit difference can flip a
      // near-tied assignment, breaking the determinism contract). The
      // 2^-24 per-element rounding is itself deterministic; per-dim
      // counts keep ragged inputs exact. Headroom guard rides the same
      // pass: |sum| <= max|x| * Scale * count; anything past 2^62
      // risks silent long wraparound, so fail loudly — the documented
      // |x| <~ 1 input bound is a runtime contract, not a comment.
      val rows = centroidRows(
        assigned.select($"cluster", $"v").as[(Int, Seq[Float])],
        CentroidAgg, k.toLong,
        centers.headOption.map(_.length).getOrElse(0).toLong)
        .map { case (c, acc) =>
          val means = Array.tabulate(acc.sums.length) { i =>
            if (acc.counts(i) == 0L) 0.0
            else acc.sums(i).toDouble / (acc.counts(i).toDouble * CentroidAgg.Scale)
          }
          // exact per-dim bound: the worst |sum(i)| is max|x_i|*Scale*count_i
          var hr = 0.0
          var d = 0
          while (d < acc.maxAbs.length) {
            val b = acc.maxAbs(d) * CentroidAgg.Scale * acc.counts(d).toDouble
            if (b > hr) hr = b
            d += 1
          }
          (c, means.toSeq, hr)
        }
      val worst = rows.iterator.map(_._3).maxOption.getOrElse(0.0)
      if (worst >= math.pow(2.0, 62))
        throw new IllegalStateException(
          f"kmeans fixed-point accumulator headroom exceeded ($worst%.3g >= 2^62): " +
            "embedding magnitudes or per-cluster element counts are outside the " +
            "|x| <~ 1, n <~ 2^38 design envelope — normalize inputs or raise k")
      val means = rows.iterator.map { case (c, m, _) => c -> m }.toMap
      val next = centers.zipWithIndex.map { case (old, c) =>
        means.get(c).map(m => Similarity.unit(m.map(_.toFloat))).getOrElse(old)
      }
      // Convergence early-exit on the centers already in hand (no extra
      // action): max L-inf movement below eps means the next assignment
      // pass would reproduce this one, so remaining rounds are pure
      // cost. At 100 TB each saved round is a full corpus pass.
      val moved = centers.iterator.zip(next.iterator).map { case (a, b) =>
        var m = 0.0; var i = 0
        val n = math.min(a.length, b.length)
        while (i < n) { m = math.max(m, math.abs(a(i) - b(i))); i += 1 }
        m
      }.maxOption.getOrElse(0.0)
      centers = next
      it = if (moved <= convergeEps) iters else it + 1
      } finally graft.functions.RefTable.release(centersRef)
    }
    // The FINAL assignment's ref is NOT released: the returned frame is
    // lazy and evaluates through it at the caller's convenience; the
    // ContextCleaner reclaims it with the plan.
    val result = assign(centers).select($"vec_id", $"cluster")
    // Safe to release: everything downstream is deterministic, so a
    // post-eviction recompute reproduces identical assignments.
    corpus.unpersist(blocking = false)
    (result, centers)
  }

  /** Fixed-point centroid accumulator: per-dimension scaled-long sums
    * and counts (ragged-exact) plus PER-DIMENSION max |x| for the
    * overflow guard — per-dim so the guard bound is the actual
    * worst-case |sum| of each dimension (max|x_i| * Scale * count_i),
    * not a cross-dim product that can reject inputs whose true sums
    * are fine (one large-magnitude dim combined with another dim's
    * large count).
    */
  final case class CentroidAcc(sums: Array[Long], counts: Array[Long], maxAbs: Array[Double])

  /** One-pass per-cluster centroid aggregator — the typed-Aggregator
    * form of the fixed-point mean (see the kmeans iteration comment
    * for the exactness argument: scaled-long truncation + long sums,
    * bit-identical to the previous posexplode shape on any layout).
    */
  object CentroidAgg
      extends org.apache.spark.sql.expressions.Aggregator[(Int, Seq[Float]), CentroidAcc, CentroidAcc] {
    val Scale: Double = (1L << 24).toDouble
    def zero: CentroidAcc = CentroidAcc(Array.emptyLongArray, Array.emptyLongArray, Array.emptyDoubleArray)
    private def grown(a: Array[Long], n: Int): Array[Long] =
      if (a.length >= n) a else java.util.Arrays.copyOf(a, n)
    private def grownD(a: Array[Double], n: Int): Array[Double] =
      if (a.length >= n) a else java.util.Arrays.copyOf(a, n)
    def reduce(b: CentroidAcc, in: (Int, Seq[Float])): CentroidAcc = {
      val v = in._2
      val sums = grown(b.sums, v.length)
      val counts = grown(b.counts, v.length)
      val mx = grownD(b.maxAbs, v.length)
      var i = 0
      while (i < v.length) {
        val x = v(i).toDouble
        sums(i) += (x * Scale).toLong
        counts(i) += 1L
        val ax = math.abs(x); if (ax > mx(i)) mx(i) = ax
        i += 1
      }
      CentroidAcc(sums, counts, mx)
    }
    def merge(a: CentroidAcc, b: CentroidAcc): CentroidAcc = {
      val n = math.max(a.sums.length, b.sums.length)
      val sums = grown(a.sums, n); val counts = grown(a.counts, n)
      val mx = grownD(a.maxAbs, n)
      var i = 0
      while (i < b.sums.length) { sums(i) += b.sums(i); counts(i) += b.counts(i); i += 1 }
      i = 0
      while (i < b.maxAbs.length) { if (b.maxAbs(i) > mx(i)) mx(i) = b.maxAbs(i); i += 1 }
      CentroidAcc(sums, counts, mx)
    }
    def finish(r: CentroidAcc): CentroidAcc = r
    def bufferEncoder: org.apache.spark.sql.Encoder[CentroidAcc] =
      org.apache.spark.sql.Encoders.product[CentroidAcc]
    def outputEncoder: org.apache.spark.sql.Encoder[CentroidAcc] =
      org.apache.spark.sql.Encoders.product[CentroidAcc]
  }

  /** [[CentroidAgg]] over double vectors — the PQ sub-codebook trainer's
    * input shape ([[ProductQuantization.trainCodebooks]] accumulates
    * per-(sub, code) sums of the already-double subvectors). Same
    * fixed-point discipline, same accumulator.
    */
  object CentroidAggD
      extends org.apache.spark.sql.expressions.Aggregator[(Int, Seq[Double]), CentroidAcc, CentroidAcc] {
    def zero: CentroidAcc = CentroidAgg.zero
    def reduce(b: CentroidAcc, in: (Int, Seq[Double])): CentroidAcc = {
      val v = in._2
      val sums = if (b.sums.length >= v.length) b.sums else java.util.Arrays.copyOf(b.sums, v.length)
      val counts = if (b.counts.length >= v.length) b.counts else java.util.Arrays.copyOf(b.counts, v.length)
      val mx = if (b.maxAbs.length >= v.length) b.maxAbs else java.util.Arrays.copyOf(b.maxAbs, v.length)
      var i = 0
      while (i < v.length) {
        val x = v(i)
        sums(i) += (x * CentroidAgg.Scale).toLong
        counts(i) += 1L
        val ax = math.abs(x); if (ax > mx(i)) mx(i) = ax
        i += 1
      }
      CentroidAcc(sums, counts, mx)
    }
    def merge(a: CentroidAcc, b: CentroidAcc): CentroidAcc = CentroidAgg.merge(a, b)
    def finish(r: CentroidAcc): CentroidAcc = r
    def bufferEncoder: org.apache.spark.sql.Encoder[CentroidAcc] =
      org.apache.spark.sql.Encoders.product[CentroidAcc]
    def outputEncoder: org.apache.spark.sql.Encoder[CentroidAcc] =
      org.apache.spark.sql.Encoders.product[CentroidAcc]
  }

  /** Driver-combine budget for [[centroidRows]]: past it the fixed-point
    * partials go through the shuffle path. A var only so specs can force
    * the shuffle side; production never writes it.
    */
  private[graft] var DriverCombineMaxBytes: Long = 256L << 20

  /** The per-key fixed-point accumulators of a (key, vector) stream —
    * the one collect every Lloyd round runs on. Two physical shapes,
    * identical results (long sums are exact and associative, so ANY
    * combine order yields the same accumulator):
    *
    *   - driver-combine (small key spaces): per-partition partials via
    *     mapPartitions, merged on the driver — ONE job, ZERO shuffles.
    *     The old groupByKey shape paid a shuffle stage plus a result
    *     stage per round (2 jobs under AQE), pure fixed overhead at
    *     2-3 jobs per Lloyd iteration.
    *   - shuffle (the at-scale fallback): the typed-Aggregator groupByKey
    *     collect, whose driver traffic is k rows, not partitions * k —
    *     taken when `partitions * keys * dim` partial bytes could not sit
    *     on the driver. Every partition emits its own partials, and a
    *     frame out of a shuffle has `spark.sql.shuffle.partitions` of
    *     them, however few the cores: the estimate counts the larger of
    *     that and `defaultParallelism`.
    */
  private[graft] def centroidRows[V](
      pairs: org.apache.spark.sql.Dataset[(Int, V)],
      agg: org.apache.spark.sql.expressions.Aggregator[(Int, V), CentroidAcc, CentroidAcc],
      keys: Long,
      dim: Long): Array[(Int, CentroidAcc)] = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val partitions = math.max(spark.sparkContext.defaultParallelism,
      spark.conf.get("spark.sql.shuffle.partitions", "200").toInt)
    val partialBytes = partitions.toLong * keys * (dim * 24L + 64L)
    if (partialBytes <= DriverCombineMaxBytes) {
      val parts = pairs.mapPartitions { it =>
        val accs = new java.util.HashMap[Integer, CentroidAcc]()
        it.foreach { in =>
          val cur = accs.get(Integer.valueOf(in._1))
          accs.put(Integer.valueOf(in._1),
            agg.reduce(if (cur == null) agg.zero else cur, in))
        }
        val out = collection.mutable.ArrayBuffer.empty[(Int, CentroidAcc)]
        accs.forEach((kk, vv) => out += ((kk.intValue, vv)))
        out.iterator
      }.collect()
      parts.groupBy(_._1).iterator.map { case (c, as) =>
        c -> as.iterator.map(_._2).reduceLeft(agg.merge)
      }.toArray
    } else
      pairs.groupByKey(_._1).agg(agg.toColumn).collect()
  }

  /** IVF top-k: assign the corpus to k-means cells once, then each
    * query probes only its `nProbe` nearest cells — the classic coarse
    * quantizer. Candidate work is O(Q * nProbe * cellSize) instead of
    * O(Q * N); recall comes from probing multiple cells. Output:
    * (query_id, neighbor_id, rank, score), self-matches excluded.
    */
  def ivfTopK(
      embs: DataFrame,
      queries: DataFrame,
      k: Int,
      nClusters: Int = 0,
      nProbe: Int = 4,
      iters: Int = 5,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      nTotal: Long = 0L): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._

    // nClusters <= 0 = auto: ~sqrt(N) cells (the standard IVF balance —
    // cell count == expected cell size), floored at 16. A static
    // default would leave cells with N/16 vectors at corpus scale,
    // making every probe a near-full scan. Callers that already know
    // the corpus size pass `nTotal` and skip the count() action.
    val kCells =
      if (nClusters > 0) nClusters
      else {
        val n = if (nTotal > 0L) nTotal else embs.count()
        math.max(16L, math.ceil(math.sqrt(n.toDouble)).toLong).min(1 << 20).toInt
      }
    val (assigned, centers) = kmeans(embs, kCells, iters, idCol, vecCol)
    val corpus = embs
      .select(col(idCol).cast("long").as("neighbor_id"), col(vecCol).as("nv"))
      .join(assigned.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")

    // Each query probes its nProbe nearest cells — the native codegen'd
    // probe kernel (see [[graft.functions.TopCentroids]]): same scores
    // and (score desc, cell asc) selection as the Scala probe it
    // replaces, minus the per-row boxed conversion + k-tuple sort (a
    // query batch can be millions of rows).
    val fCenters = centers.map(_.map(_.toFloat))
    val q = queries
      .select(col(idCol).cast("long").as("query_id"), col(vecCol).as("qv"))
      .withColumn("cluster", explode(graft.functions.ColumnBridge.toColumn(
        graft.functions.TopCentroids(
          graft.functions.ColumnBridge.toExpression(col("qv")),
          graft.functions.RefTable.auto(embs.sparkSession, fCenters,
            graft.functions.RefTable.bytes2(fCenters, 4)), nProbe))))

    // Score is rounded BEFORE ranking (ties at 4 decimals break by id),
    // exactly as the original window re-rank did; the bounded-heap
    // reduction only changes the shuffle size, not the rows.
    val cands = q.join(corpus, "cluster")
      .filter($"query_id" =!= $"neighbor_id")
      .withColumn("score", round(Similarity.cosineCol(spark, $"qv", $"nv"), 4))
      .select($"query_id", $"neighbor_id", $"score")
    Similarity.rankTopK(cands, k)
      .select($"query_id", $"neighbor_id", $"rank".cast("long").as("rank"), $"score")
  }
}

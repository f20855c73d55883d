package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF index — build once, query many times.
  *
  * [[Clustering.ivfTopK]] re-trains the coarse quantizer on every
  * call, which is the right shape for one-shot jobs and the wrong one
  * for the serving pattern real pipelines run (nightly build, repeated
  * query batches). This operator persists the index as plain tables,
  * grouped into two consistency trees so every rebuild swaps in with
  * ONE atomic rename (probes read the old complete generation or the
  * new complete one, never new vectors under old centers):
  *
  * {{{
  *   dir/ivf/centers/            (cell, center array<double>)      k rows
  *   dir/ivf/vectors/cell=<c>/   (vec_id, v array<float>, meta...) corpus
  *   dir/pq/codebooks/           (sub, code, word)           [buildPq]
  *   dir/pq/pqcodes/cell=<c>/    (vec_id, meta..., pq_codes) [buildPq]
  * }}}
  *
  * `meta...` are the caller-declared filterable attributes
  * ([[build]]'s `metaCols` — language, licence, source, label): both
  * probe APIs accept a predicate over them ("top-k among vectors WHERE
  * lang = 'en'") that pushes into the partition-pruned scan, the
  * filtered-search layout trade (attributes stored beside vectors AND
  * codes, zero probe-path joins).
  *
  * The Spark-native part is the layout: `vectors` is written
  * `partitionBy("cell")`, so a query batch that probes `nProbe` cells
  * reads ONLY those directories — Hive-style partition pruning IS the
  * inverted file, no custom index structure needed. With the probe
  * frame broadcast, the cell equi-join prunes statically (the probed
  * cell set reaches the scan as a partition filter); candidate work is
  * O(Q · nProbe · cellSize), identical to the in-memory IVF, but the
  * build cost amortizes across query batches.
  *
  * Determinism matches `ivfTopK` row for row when built with the same
  * parameters: same kmeans (hash-order init, fixed-point sums), same
  * probe order (score desc, cell asc), same round-before-rank scoring
  * contract.
  */
object AnnIndex {

  /** The two consistency trees: everything [[topK]] reads lives under
    * `ivf/`, everything [[topKPq]] additionally reads under `pq/` —
    * so a rebuild's reader-visible effect is one delete + one rename,
    * each atomic, each intermediate state VALID (old generation →
    * old generation without a PQ sidecar, loud for topKPq → new
    * generation).
    */
  private[graft] def vectorsPath(dir: String): String = s"$dir/ivf/vectors"
  private[graft] def centersPath(dir: String): String = s"$dir/ivf/centers"
  private[graft] def pqcodesPath(dir: String): String = s"$dir/pq/pqcodes"
  private[graft] def codebooksPath(dir: String): String = s"$dir/pq/codebooks"
  private[graft] def buildinfoPath(dir: String): String = s"$dir/ivf/buildinfo"

  /** An index written by the pre-grouped flat layout (`vectors/` at
    * the root) is not readable by this version — fail with a migration
    * hint instead of a bare missing-path error. [[build]] migrates: it
    * writes the grouped layout and removes the flat directories.
    */
  private def checkLayout(
      fs: org.apache.hadoop.fs.FileSystem, dir: String): Unit =
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/ivf")) &&
        fs.exists(new org.apache.hadoop.fs.Path(s"$dir/vectors")))
      throw new IllegalStateException(
        s"$dir holds a flat-layout index from an older version (vectors/ at the root); " +
          "re-run AnnIndex.build (and buildPq) on it to migrate to the grouped ivf/ + pq/ layout")

  private def fsFor(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Operational snapshot of a persisted index — the counters an
    * operator reads before deciding to [[compact]] (file counts grow
    * with ingested batches), re-[[build]] (live vs corpus drift), or
    * after a takedown wave (tombstones pending physical retirement).
    * Row count comes from parquet metadata (footer-only job), the
    * rest from listings — no data scan.
    */
  final case class IndexStats(
      cells: Int,
      rows: Long,
      dataFiles: Long,
      pqFiles: Long,
      tombstones: Long,
      hasPqSidecar: Boolean,
      builtRows: Long,
      appendedFraction: Double)

  def stats(spark: SparkSession, dir: String): IndexStats = {
    val fs = fsFor(spark, dir)
    checkLayout(fs, dir)
    def cellFiles(rootStr: String): Seq[Long] = {
      val root = new org.apache.hadoop.fs.Path(rootStr)
      if (!fs.exists(root)) Nil
      else fs.listStatus(root)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
        .map(cd => fs.listStatus(cd.getPath).count { st =>
          st.isFile && !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith(".")
        }.toLong).toSeq
    }
    val vec = cellFiles(vectorsPath(dir))
    val pq = cellFiles(pqcodesPath(dir))
    val rows = spark.read.parquet(vectorsPath(dir)).count()
    // builtRows from the tiny buildinfo table; a pre-buildinfo layout
    // degrades to "everything counts as build-time" (fraction 0 — the
    // read-only snapshot must not fail where only a rebuild can fix)
    val builtRows = readBuildinfo(spark, dir).map(_._1).getOrElse(rows)
    IndexStats(
      cells = vec.length,
      rows = rows,
      dataFiles = vec.sum,
      pqFiles = pq.sum,
      tombstones = tombstones(spark, dir).count(),
      hasPqSidecar = fs.exists(new org.apache.hadoop.fs.Path(codebooksPath(dir))),
      builtRows = builtRows,
      appendedFraction =
        if (rows <= 0L) 0.0
        else math.max(0L, rows - builtRows).toDouble / rows.toDouble)
  }

  /** (built_rows, mean_center_sim) recorded at the last [[build]], if
    * this generation has one (pre-buildinfo layouts don't).
    */
  private def readBuildinfo(spark: SparkSession, dir: String): Option[(Long, Double)] = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(buildinfoPath(dir))
    if (!fsFor(spark, dir).exists(p)) None
    else Some(spark.read.parquet(p.toString)
      .select($"built_rows", $"mean_center_sim").as[(Long, Double)].head())
  }

  /** Center-drift snapshot — the rebuild-decision surface [[append]]'s
    * frozen-center trade needs. [[stats]] is metadata-only; this one
    * deliberately pays ONE columnar pass over `vectors/` (join against
    * the broadcast k-row center table, no shuffle of index-sized data)
    * to compare the corpus's CURRENT mean vector-to-assigned-center
    * cosine against the value recorded at build time:
    *
    *   - `appendedFraction` — rows assigned to frozen centers they
    *     were never trained on, the drift driver;
    *   - `simRatio` = currentMeanSim / buildMeanSim — how much worse
    *     the quantizer now fits its corpus (1.0 = no drift; the ratio
    *     cancels the corpus's intrinsic clusterability, so it is
    *     comparable across indexes).
    *
    * Rebuild guidance (measured, `BENCH_NOTES` §18 — recall@10 vs
    * appended fraction on the benchmark corpus): recall at nProbe=8/16
    * cells degrades roughly linearly with `appendedFraction` and stays
    * within a few points of the fresh-build recall below ~0.3;
    * schedule a [[build]] when `appendedFraction` exceeds ~0.5 or
    * `simRatio` drops below ~0.98, whichever first. Returns None on a
    * pre-buildinfo generation (no baseline to compare against —
    * rebuild once to start the series).
    */
  final case class DriftStats(
      rows: Long,
      builtRows: Long,
      appendedFraction: Double,
      buildMeanCenterSim: Double,
      currentMeanCenterSim: Double,
      simRatio: Double)

  def driftStats(spark: SparkSession, dir: String): Option[DriftStats] = {
    import spark.implicits._
    checkLayout(fsFor(spark, dir), dir)
    readBuildinfo(spark, dir).map { case (builtRows, builtSim) =>
      val centersF = spark.read.parquet(centersPath(dir))
        .select($"cell", $"center".cast("array<float>").as("__center"))
      val (rows, curSim) = spark.read.parquet(vectorsPath(dir))
        .join(broadcast(centersF), "cell")
        .agg(count(lit(1)),
          coalesce(avg(graft.functions.ColumnBridge.toColumn(
            graft.functions.CosineSimilarity(
              graft.functions.ColumnBridge.toExpression(col("v")),
              graft.functions.ColumnBridge.toExpression(col("__center"))))), lit(0.0)))
        .as[(Long, Double)].head()
      DriftStats(
        rows = rows,
        builtRows = builtRows,
        appendedFraction =
          if (rows <= 0L) 0.0
          else math.max(0L, rows - builtRows).toDouble / rows.toDouble,
        buildMeanCenterSim = builtSim,
        currentMeanCenterSim = curSim,
        simRatio = if (builtSim == 0.0) 1.0 else curSim / builtSim)
    }
  }

  /** Single-writer lock (see [[graft.sources.WriterLock]]) on
    * `<dir>/_writer.lock`: compact racing an append would silently
    * drop files installed into a cell between compact's read and its
    * directory swap; build/buildPq racing anything tears the
    * centers/vectors (or codebooks/pqcodes) consistency. Probes never
    * lock — each mutation is reader-atomic on its own.
    */
  private[graft] def withWriterLock[T](spark: SparkSession, dir: String)(body: => T): T = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sources.WriterLock.withLock(
      fs, graft.sources.WriterLock.lockPath(dir), s"AnnIndex $dir")(body)
  }

  /** Train + assign + write the index under `dir`. Returns the cell
    * count. `nClusters <= 0` = auto ~sqrt(N) (pass `nTotal` to skip
    * the sizing count()).
    */
  def build(
      embs: DataFrame,
      dir: String,
      nClusters: Int = 0,
      iters: Int = 5,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      nTotal: Long = 0L,
      metaCols: Seq[String] = Nil): Int = {
    val spark = embs.sparkSession
    withWriterLock(spark, dir) {
    import spark.implicits._
    val reserved = Set("vec_id", "v", "cell")
    require(metaCols.forall(c => !reserved(c) && c != idCol && c != vecCol),
      s"metaCols collide with index columns: ${metaCols.mkString(", ")}")
    val kCells =
      if (nClusters > 0) nClusters
      else {
        val n = if (nTotal > 0L) nTotal else embs.count()
        math.max(16L, math.ceil(math.sqrt(n.toDouble)).toLong).min(1 << 16).toInt
      }
    val (_, centers) = Clustering.kmeans(embs, kCells, iters, idCol, vecCol)
    // kmeans's returned assignment IS nearest-centroid under the
    // returned centers, so assign directly with the same kernel
    // instead of joining the corpus back to the assignment frame on
    // vec_id: bit-identical cells, and the one shuffle the build pays
    // is the repartition below rather than a vec_id join. Clustering
    // on (cell, small salt) bounds the layout: a raw partitionBy write
    // emits one file per (task x touched cell) — at corpus scale tens
    // of thousands of tasks each touching thousands of cells is a
    // small-file explosion — while the salted clustering caps it at
    // <= 8 files per cell and still writes a hot (skewed) cell with
    // 8-way parallelism.
    //
    // The new generation is STAGED under `_build_tmp` — probes keep
    // serving the old complete index for the whole (long) write — and
    // swapped in below by one rename.
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(s"$dir/_build_tmp")
    fs.delete(staging, true)
    // Drift baseline for [[stats]]/[[driftStats]] — the TRAIN-time row
    // count and mean vector-to-assigned-center cosine — is OBSERVED on
    // the vectors write itself (a broadcast of the tiny center table
    // attaches each row's center for the cosine; the written columns
    // are unchanged): the only signal that can say when the frozen
    // centers have drifted enough for a rebuild to pay, now at zero
    // extra passes where it used to re-read the staged tree. Staged
    // with the tree and swapped atomically — generation state like
    // everything else under ivf/.
    val centersF = centers.zipWithIndex
      .map { case (c, i) => (i, c.map(_.toFloat).toSeq) }.toSeq
      .toDF("cell", "__center")
    val buildObs = org.apache.spark.sql.Observation()
    val assigned = assignWithCenters(spark, embs, idCol, vecCol, centers, metaCols)
    assigned
      .join(broadcast(centersF), "cell")
      .observe(buildObs,
        count(lit(1)).as("n"),
        coalesce(avg(graft.functions.ColumnBridge.toColumn(
          graft.functions.CosineSimilarity(
            graft.functions.ColumnBridge.toExpression(col("v")),
            graft.functions.ColumnBridge.toExpression(col("__center"))))), lit(0.0))
          .as("sim"))
      .select(assigned.columns.map(col).toIndexedSeq: _*)
      .repartition(col("cell"), pmod(hash(col("vec_id")), lit(8)))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/_build_tmp/ivf/vectors")
    centers.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "center")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$dir/_build_tmp/ivf/centers")
    val (builtRows, builtSim) =
      (buildObs.get("n").asInstanceOf[Long], buildObs.get("sim").asInstanceOf[Double])
    // one row, driver-side — the Spark write paid a full job per build
    graft.sources.TinyParquet.writeFlatRow(
      spark, s"$dir/_build_tmp/ivf/buildinfo",
      overwrite = true,
      longs = Seq("built_rows" -> builtRows),
      doubles = Seq("mean_center_sim" -> builtSim))
    graft.sources.SwapHooks.preSwap(dir)
    // Swap, loud-before-silent:
    // 1. Retire the PQ sidecar FIRST (one atomic delete). Its codes
    //    are laid out by the OLD centers' cell ids and encode the OLD
    //    corpus — from here until the next [[buildPq]], topKPq fails
    //    loudly ("no PQ sidecar") instead of silently scanning garbage.
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/pq"), true)
    // 2. ONE rename flips the serving tree — vectors and centers move
    //    together, so a probe reads the old complete generation or the
    //    new complete one, never new vectors under old centers. The
    //    only intermediate state is a missing `ivf/` for the instant
    //    between swapDir's two renames: a loud, retryable read error.
    graft.sources.BucketedLayout.swapDir(fs,
      new org.apache.hadoop.fs.Path(s"$dir/_build_tmp/ivf"),
      new org.apache.hadoop.fs.Path(s"$dir/ivf"),
      new org.apache.hadoop.fs.Path(s"$dir/_build_old"))
    // 3. Generation state, cleared conservative-late: a rebuild starts
    //    with every given vector live, so the previous generation's
    //    tombstones must not hide rows of this one — between steps 2
    //    and 3 a probe can transiently HIDE a new row whose id matches
    //    an old tombstone, never resurrect a takedown. Stream markers
    //    are generation state too: a fresh stream restarts batchIds at
    //    0, and a stale marker would silently skip its first batches.
    tombstones(spark, dir).clear()
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_stream_commits"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_stream_staging"), true)
    fs.delete(staging, true)
    // Migration sweep: an index from the flat pre-ivf/pq layout leaves
    // its old root-level directories behind — orphaned storage readers
    // no longer see. A rebuild IS the migration; remove them.
    Seq("vectors", "centers", "pqcodes", "codebooks").foreach(n =>
      fs.delete(new org.apache.hadoop.fs.Path(dir, n), true))
    kCells
    }
  }

  /** Append new vectors to an existing index WITHOUT re-training: they
    * are assigned to the current centers (the native codegen'd
    * [[graft.functions.NearestCentroid]] kernel — one shuffle-free
    * pass) and appended to their cell directories. The standard
    * serving trade-off rides with it: centers drift as the corpus
    * grows, so recall on appended data degrades gracefully until the
    * next [[build]]; queries see appended vectors immediately.
    */
  def append(
      spark: SparkSession,
      dir: String,
      embs: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = withWriterLock(spark, dir) {
    import spark.implicits._
    checkLayout(fsFor(spark, dir), dir)
    val books = readCodebooks(spark, dir)
    val assigned0 = assignCells(spark, dir, embs, idCol, vecCol)
    // With a PQ sidecar present the batch feeds TWO appends — pin one
    // evaluation so both tables see identical rows.
    val assigned = if (books.isDefined) assigned0.localCheckpoint() else assigned0
    assigned.write.mode("append").partitionBy("cell").parquet(vectorsPath(dir))
    // Frozen-codebook encode, the PQ twin of the frozen-center cell
    // assignment: appended vectors are immediately visible to
    // [[topKPq]] too, with quantization drift (like center drift)
    // accruing until the next [[buildPq]]. The streaming ingest's
    // staged-rename path performs the same encode inside its guarded
    // per-batch commit, so both probe APIs see both ingest paths.
    books.foreach { bk =>
      assigned
        .select((Seq($"vec_id", $"cell") ++ indexMetaCols(spark, dir).map(col) ++ Seq(
          graft.functions.ColumnBridge.toColumn(graft.functions.PqEncode(
            graft.functions.ColumnBridge.toExpression($"v"),
            graft.functions.RefTable.auto(spark, bk,
              graft.functions.RefTable.bytes3(bk, 8)))).as("pq_codes"))): _*)
        .write.mode("append").partitionBy("cell").parquet(pqcodesPath(dir))
    }
  }

  /** The persisted codebooks, if [[buildPq]] has run on this index. */
  /** Merge another ANN index INTO this one — shard consolidation for
    * the vector tier (per-crawl indexes folded into the serving one).
    * The other index's LIVE vectors (minus its tombstones) enter
    * through the [[append]] path: assigned to THIS index's frozen
    * centers by the shuffle-free kernel, appended to their cells, and
    * encoded into the PQ sidecar when one exists — immediately
    * searchable through both probe APIs. The usual append trade rides
    * along (centers were not trained on the merged rows, so recall on
    * them drifts until the next [[build]]); at full probe depth the
    * merged index answers EXACTLY like one holding the union corpus,
    * since [[topK]] scores raw vectors. Metadata columns must be
    * compatible: the other index must carry every `metaCols` column
    * this one stores (loud otherwise). `other` is read-only; this
    * index's own tombstones are untouched (merged-in ids are expected
    * to be fresh — reusing a tombstoned id hides the row until the
    * next compact, [[delete]]'s documented semantics). Returns the
    * number of vectors merged in.
    */
  def merge(spark: SparkSession, dir: String, otherDir: String): Long =
    withWriterLock(spark, dir) {
      checkLayout(fsFor(spark, otherDir), otherDir)
      val other = tombstones(spark, otherDir).minus(spark.read.parquet(vectorsPath(otherDir)))
        .drop("cell")
        .withColumnRenamed("v", "embedding")
        .localCheckpoint() // one evaluation feeds the count and the append
      append(spark, dir, other)
      other.count()
    }

  private[graft] def readCodebooks(
      spark: SparkSession, dir: String): Option[ProductQuantization.Codebooks] = {
    val p = new org.apache.hadoop.fs.Path(codebooksPath(dir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    // m * codes rows — driver-side read, no Spark job on the probe path
    else Some(graft.sources.TinyParquet
      .rows(spark.sparkContext.hadoopConfiguration, p.toString)
      .map(g => (g.getInteger("sub", 0), g.getInteger("code", 0),
        graft.sources.TinyParquet.doubleArray(g, "word")))
      .groupBy(_._1).toArray.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toArray))
  }

  /** Tombstone indexed vectors by id — the takedown path. A tombstoned
    * vector is never returned by [[topK]] or [[topKPq]]; its rows in
    * `vectors/` (and `pqcodes/`, if present) are physically removed at
    * the next [[compact]], which also clears the tombstone set. Returns
    * the count of distinct ids NEWLY tombstoned — ids not present in
    * the index are ignored ([[DedupIndex.delete]]'s semantics: the
    * count is meaningful, and tombstoning an absent id would silently
    * hide a future [[append]] that reuses it until the next compact),
    * and ids already tombstoned are too, so a redelivered takedown
    * batch is a counted-once no-op instead of growing the set.
    */
  def delete(
      spark: SparkSession,
      dir: String,
      ids: DataFrame,
      idCol: String = "vec_id"): Long = withWriterLock(spark, dir) {
    checkLayout(fsFor(spark, dir), dir)
    // one semi scan of the index's id column — no shuffle of
    // index-sized data
    tombstones(spark, dir).add(spark.read.parquet(vectorsPath(dir)).select("vec_id")
      .join(Tombstones.requested(ids, idCol, "vec_id"), Seq("vec_id"), "left_semi")
      .distinct())
  }

  private def tombstones(spark: SparkSession, dir: String): Tombstones =
    new Tombstones(spark, s"$dir/tombstones", Tombstones.longKey("vec_id"))

  /** The frozen center table, cell-ascending — a k-row driver-side
    * parquet read ([[graft.sources.TinyParquet]]): every probe and
    * every append used to pay a full Spark collect job for it.
    */
  private def readCenters(spark: SparkSession, dir: String): Array[Array[Double]] =
    graft.sources.TinyParquet
      .rows(spark.sparkContext.hadoopConfiguration, centersPath(dir))
      .map(g => (g.getInteger("cell", 0),
        graft.sources.TinyParquet.doubleArray(g, "center")))
      .sortBy(_._1).map(_._2).toArray

  /** The filterable metadata columns this index stores beside the
    * vectors — everything in `vectors/` that is not the id, the vector
    * or the partition column (footer-only schema read, no data scan).
    */
  private[graft] def indexMetaCols(spark: SparkSession, dir: String): Seq[String] = {
    val core = Set("vec_id", "v", "cell")
    spark.read.parquet(vectorsPath(dir)).schema.fieldNames.toSeq.filterNot(core)
  }

  /** (vec_id, v, meta..., cell) of `embs` against the index's frozen
    * centers — the assignment kernel [[append]] and the streaming
    * ingest share (the latter stages the result and renames into place
    * instead of appending blind — its exactly-once story). Metadata
    * columns follow the INDEX's schema: a batch entering an index built
    * with `metaCols` must carry them.
    */
  private[graft] def assignCells(
      spark: SparkSession,
      dir: String,
      embs: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import spark.implicits._
    val centers = readCenters(spark, dir)
    val meta = indexMetaCols(spark, dir)
    val missing = meta.filterNot(embs.columns.toSet)
    require(missing.isEmpty,
      s"batch is missing the index's metadata column(s) ${missing.mkString(", ")} " +
        s"(the index at $dir stores them beside every vector)")
    assignWithCenters(spark, embs, idCol, vecCol, centers, meta)
  }

  /** (vec_id, v, meta..., cell) of `embs` under an in-hand center
    * table — the shared shuffle-free assignment pass of [[build]],
    * [[append]] and the streaming ingest.
    */
  private def assignWithCenters(
      spark: SparkSession,
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      centers: Array[Array[Double]],
      metaCols: Seq[String] = Nil): DataFrame =
    embs
      .select((Seq(col(idCol).cast("long").as("vec_id"), col(vecCol).as("v")) ++
        metaCols.map(col)): _*)
      .withColumn("cell", graft.functions.ColumnBridge.toColumn(
        graft.functions.NearestCentroid(
          graft.functions.ColumnBridge.toExpression(col("v")),
          graft.functions.RefTable.auto(spark, centers,
            graft.functions.RefTable.bytes2(centers, 8)))))

  /** Small-file compaction for the cell directories: every [[append]] /
    * streaming micro-batch adds one-or-more parquet files per touched
    * cell, and after thousands of batches a probe reads thousands of
    * tiny files. Each tree (`vectors`, and `pqcodes` when present) is
    * rewritten by ONE Spark job — so compact cost is independent of
    * the cell count (the auto-sized index has ~√N cells; a per-cell
    * loop would run √N sequential driver jobs). With live tombstones
    * the whole tree rewrites (`partitionBy(cell)`, size-derived salt,
    * ≤ 8 files per cell — the [[build]] layout) and swaps atomically
    * at the tree root; without them only the cells holding `minFiles`+
    * data files are read (partition-pruned) and swapped per cell, so
    * the write and the lock window scale with fragmentation, not
    * corpus size. Concurrent probes see the old complete state or the
    * new one. Skipped entirely when there is nothing to do.
    * Stream-commit markers live OUTSIDE the trees and survive, so a
    * redelivered committed batch stays a no-op after compaction.
    * Returns the total data-file count after.
    */
  def compact(
      spark: SparkSession,
      dir: String,
      targetBytes: Long = 128L << 20,
      minFiles: Int = 2): Long = withWriterLock(spark, dir) {
    require(targetBytes > 0 && minFiles >= 2, s"bad compact params: $targetBytes, $minFiles")
    checkLayout(fsFor(spark, dir), dir)
    val vectors = new org.apache.hadoop.fs.Path(vectorsPath(dir))
    val pqcodes = new org.apache.hadoop.fs.Path(pqcodesPath(dir))
    val fs = vectors.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // With live tombstones both trees are always rewritten (the
    // minFiles shortcut is disabled): a tombstoned row may sit in ANY
    // cell, and physical retirement is the point of this compact.
    val tombs = tombstones(spark, dir)
    val retiring = tombs.live.isDefined
    def dataFiles(p: org.apache.hadoop.fs.Path) =
      fs.listStatus(p).filter { st =>
        st.isFile && !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith(".")
      }
    def cellDirs(root: org.apache.hadoop.fs.Path) =
      fs.listStatus(root)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
    // Refuse to compact over an UNCOMMITTED streamed batch (a
    // `b<id>.parquet` whose commit marker is absent — a crashed
    // attempt pending redelivery): compacting would merge its rows
    // into the coalesced files AND destroy the deterministic name the
    // retry replaces, so the redelivery would install a second copy.
    // The writer lock already excludes an IN-FLIGHT install; this
    // guards the crashed-and-not-yet-retried window. Loud + retryable:
    // let the stream recover the batch, then compact.
    val batchFile = "b(\\d+)(?:-\\d+)?\\.parquet".r
    def uncommitted(root: org.apache.hadoop.fs.Path): Seq[String] =
      if (!fs.exists(root)) Nil
      else cellDirs(root)
        .flatMap(cd => dataFiles(cd.getPath))
        .flatMap(st => batchFile.findFirstMatchIn(st.getPath.getName).map(_.group(1)))
        .distinct.toSeq
        .filterNot(id => fs.exists(
          new org.apache.hadoop.fs.Path(s"$dir/_stream_commits/$id")))
    val pending = (uncommitted(vectors) ++ uncommitted(pqcodes)).distinct
    if (pending.nonEmpty)
      throw new IllegalStateException(
        s"compact: uncommitted streamed batch(es) ${pending.mkString(", ")} present " +
          "— a crashed ingest attempt is pending redelivery; let the stream recover, then compact")
    val trees = Seq(vectors) ++ (if (fs.exists(pqcodes)) Seq(pqcodes) else Nil)
    def countTree(root: org.apache.hadoop.fs.Path): Long =
      cellDirs(root).map(cd => dataFiles(cd.getPath).length.toLong).sum
    def fragmentedCells(root: org.apache.hadoop.fs.Path): Array[Int] =
      cellDirs(root)
        .filter(cd => dataFiles(cd.getPath).length >= minFiles)
        .map(cd => cd.getPath.getName.stripPrefix("cell=").toInt)
        .sorted
    if (!retiring && trees.forall(fragmentedCells(_).isEmpty)) trees.map(countTree).sum
    else {
      // One Spark job per tree, however many cells: read, retire
      // tombstones, rewrite, swap. With live tombstones the WHOLE tree
      // rewrites and the swap is the tree root (a tombstoned row may
      // sit in any cell — physical retirement is the point); without
      // them the job reads ONLY the fragmented cells (partition-pruned
      // `isin`) and the swaps are per-cell renames — driver-side
      // renames are cheap at any cell count, it was the per-cell Spark
      // JOBS of the old loop that weren't, and the lock window now
      // scales with fragmentation, not corpus size. The salt keeps
      // per-cell files at ~targetBytes (capped at build's 8-way write
      // parallelism for hot cells).
      def rewriteTree(root: org.apache.hadoop.fs.Path): Long = {
        val cds = cellDirs(root)
        // None = whole-tree rewrite + root swap: required for tombstone
        // retirement, and cheaper than per-cell swaps when every cell
        // is fragmented anyway (fresh-build salt, heavy streaming).
        val frag = if (retiring) Array.empty[Int] else fragmentedCells(root)
        // Full-tree rewrite + root swap when: retiring tombstones (a
        // doomed row may sit anywhere), every cell is fragmented (one
        // rename beats per-cell swaps), or the fragmented set is too
        // large to push as an `isin` partition filter (a 32k-literal
        // list bloats the plan past what it saves).
        val only =
          if (retiring ||
              (cds.nonEmpty && frag.length == cds.length) ||
              frag.length > 4096) None
          else Some(frag)
        val bytes = cds.flatMap(cd => dataFiles(cd.getPath)).map(_.getLen).sum
        val avgCell = bytes.toDouble / math.max(1, cds.length)
        val nSalt = math.min(8L, math.max(1L, math.ceil(avgCell / targetBytes).toLong)).toInt
        val tmp = new org.apache.hadoop.fs.Path(s"$dir/_compact_tmp/${root.getName}")
        fs.delete(tmp, true)
        if (only.exists(_.isEmpty)) countTree(root) // this tree is already compact
        else {
          val all = spark.read.parquet(root.toString)
          val src = only.fold(all)(cs =>
            all.filter(col("cell").isin(cs.map(Integer.valueOf).toIndexedSeq: _*)))
          val live = tombs.minus(src)
          live.repartition(col("cell"), pmod(hash(col("vec_id")), lit(nSalt)))
            .write.mode("overwrite").partitionBy("cell").parquet(tmp.toString)
          graft.sources.SwapHooks.preSwap(root.toString)
          only match {
            case None =>
              graft.sources.BucketedLayout.swapDir(fs, tmp, root,
                new org.apache.hadoop.fs.Path(s"$dir/_compact_old/${root.getName}"))
            case Some(cs) =>
              cs.foreach { c =>
                val staged = new org.apache.hadoop.fs.Path(tmp, s"cell=$c")
                // a fragmented cell holding only 0-row files stages no
                // output dir; leave it (nothing to collapse into)
                if (fs.exists(staged))
                  graft.sources.BucketedLayout.swapDir(fs, staged,
                    new org.apache.hadoop.fs.Path(root, s"cell=$c"),
                    new org.apache.hadoop.fs.Path(s"$dir/_compact_old/${root.getName}/cell=$c"))
              }
              fs.delete(tmp, true)
          }
          countTree(root)
        }
      }
      val total = trees.map(rewriteTree).sum
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_compact_tmp"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_compact_old"), true)
      // Tombstones now physically retired from both trees — clear them.
      if (retiring) tombs.clear()
      total
    }
  }

  /** Top-k neighbors for each query against the persisted index:
    * (query_id, neighbor_id, rank, score). The same rank/tie contract
    * as [[Clustering.ivfTopK]].
    *
    * `excludeSelf` (default true): drop candidates whose `vec_id`
    * EQUALS the query's id — the right default when queries ARE corpus
    * members (dedup, related-items, recall curves), where the trivial
    * self-match at cosine 1.0 is noise. Pass false for index probes
    * whose queries are NOT corpus members: the ids live in different
    * key spaces, so an accidental numeric collision (query 42 vs
    * indexed doc 42 — common for small integer ids) would otherwise
    * silently drop a legitimate neighbor from that one query's
    * ranking.
    *
    * `filter`: optional predicate over the index's metadata columns
    * (stored via [[build]]'s `metaCols`) — "top-k among vectors WHERE
    * ..." (per-language search, licence-restricted retrieval, source
    * scoping). Applied to the vectors scan itself, so Catalyst pushes
    * it into the partition-pruned parquet read (`PushedFilters`) and
    * excluded rows never reach the scoring kernel. A selective filter
    * thins each probed cell's candidates, so deep filters want a
    * higher `nProbe` for the same recall; at `nProbe` >= the cell
    * count the result is EXACT filtered top-k.
    */
  def topK(
      spark: SparkSession,
      dir: String,
      queries: DataFrame,
      k: Int,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      filter: Option[org.apache.spark.sql.Column] = None,
      excludeSelf: Boolean = true): DataFrame = {
    import spark.implicits._
    require(k >= 1 && nProbe >= 1, s"k >= 1, nProbe >= 1: $k, $nProbe")
    checkLayout(fsFor(spark, dir), dir)
    // Centers are k * dim doubles — driver-side read (no Spark job on
    // the probe path); the probes run through the native codegen'd
    // kernel ([[graft.functions.TopCentroids]]), identical selection to
    // ivfTopK's.
    val centers = readCenters(spark, dir).map(_.map(_.toFloat))
    val q = queries
      .select(col(idCol).cast("long").as("query_id"), col(vecCol).as("qv"))
      .withColumn("cell", explode(graft.functions.ColumnBridge.toColumn(
        graft.functions.TopCentroids(
          graft.functions.ColumnBridge.toExpression(col("qv")),
          graft.functions.RefTable.auto(spark, centers,
            graft.functions.RefTable.bytes2(centers, 4)), nProbe))))
      .localCheckpoint() // probe once: feeds the cell collect AND the join
    // The union of probed cells is bounded by the CELL COUNT (ints, at
    // most k of them), so collecting it is free — and pushing it as a
    // static `isin` on the partition column guarantees the scan reads
    // only probed cell directories (visible as PartitionFilters in the
    // plan), instead of depending on dynamic-pruning heuristics. The
    // same one job's per-cell counts sum to the probe-frame row count
    // the broadcast guard needs — no second count action.
    val cellCounts = q.groupBy($"cell").agg(count(lit(1)).as("n"))
      .as[(Int, Long)].collect()
    val probedCells = cellCounts.map(_._1).sorted
    val probeRows = cellCounts.map(_._2).sum
    val scan0 = spark.read.parquet(vectorsPath(dir))
      .filter($"cell".isin(probedCells.map(Integer.valueOf).toIndexedSeq: _*))
    val vectors = tombstones(spark, dir).minus(
      filter.fold(scan0)(scan0.filter)
        .select($"vec_id".as("neighbor_id"), $"v".as("nv"), $"cell"),
      "neighbor_id")
    // The broadcast hint bypasses Spark's size threshold, so guard it:
    // the exploded probe frame is Q * nProbe rows EACH carrying the
    // full query vector — a large query batch would OOM executors as a
    // build side. Past the guard, fall back to a shuffle join on cell
    // (AQE skew-splits hot cells); the static `isin` partition pruning
    // above is independent of the join strategy.
    val dim = if (centers.isEmpty) 0 else centers(0).length
    val qSide = Similarity.guardedVecBroadcast(q, probeRows, dim)
    val joined = vectors.join(qSide, "cell")
    val cands = (if (excludeSelf) joined.filter($"query_id" =!= $"neighbor_id") else joined)
      .withColumn("score", round(Similarity.cosineCol(spark, $"qv", $"nv"), 4))
      .select($"query_id", $"neighbor_id", $"score")
    Similarity.rankTopK(cands, k)
      .select($"query_id", $"neighbor_id", $"rank".cast("long").as("rank"), $"score")
  }

  /** Train PQ codebooks over the indexed corpus and persist the
    * compressed sidecar — the 100-TB serving path for the vectors
    * themselves: raw 768-dim floats are ~3 KB/vector, `m` one-byte
    * codes are `m` bytes, so the ADC scan reads a corpus ~200x smaller
    * than [[topK]]'s while partition pruning still restricts it to the
    * probed cells.
    *
    * {{{
    *   dir/pq/codebooks/          (sub, code, word array<double>)  m*codes rows
    *   dir/pq/pqcodes/cell=<c>/   (vec_id, pq_codes array<int>)    corpus
    * }}}
    *
    * Codes are trained and encoded from the index's own `vectors`
    * table (same trainer as [[ProductQuantization.ivfPqTopK]] — raw
    * vectors, not residuals, so one LUT per query serves every probed
    * cell) and laid out cell-identically to it, salted to <= 8 files
    * per cell like [[build]].
    *
    * The whole sidecar (codebooks AND codes — they are only meaningful
    * together) is staged under `_buildpq_tmp` and swapped in with ONE
    * rename: a [[topKPq]] during the (long) train+encode serves the
    * previous sidecar, and never sees new codes under old codebooks.
    */
  def buildPq(
      spark: SparkSession,
      dir: String,
      m: Int = 16,
      codes: Int = 32,
      iters: Int = 5): Unit = withWriterLock(spark, dir) {
    import spark.implicits._
    val fs = fsFor(spark, dir)
    checkLayout(fs, dir)
    val staging = new org.apache.hadoop.fs.Path(s"$dir/_buildpq_tmp")
    fs.delete(staging, true)
    val vectors = spark.read.parquet(vectorsPath(dir))
    val books = ProductQuantization.trainCodebooks(vectors, m, codes, iters, "vec_id", "v")
    books.zipWithIndex.flatMap { case (cb, s) =>
      cb.zipWithIndex.map { case (w, c) => (s, c, w.toSeq) }
    }.toSeq
      .toDF("sub", "code", "word")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/_buildpq_tmp/pq/codebooks")
    // Metadata columns ride into the sidecar too: a [[topKPq]] filter
    // must apply DURING the ADC scan (post-refine filtering would let
    // excluded rows consume the refine budget), so the attributes live
    // beside the codes — the standard filtered-IVF-PQ layout trade
    // (meta bytes duplicated, zero extra joins on the probe path).
    vectors
      .select((Seq($"vec_id", $"cell") ++ indexMetaCols(spark, dir).map(col) ++ Seq(
        graft.functions.ColumnBridge.toColumn(graft.functions.PqEncode(
          graft.functions.ColumnBridge.toExpression($"v"),
          graft.functions.RefTable.auto(spark, books,
            graft.functions.RefTable.bytes3(books, 8)))).as("pq_codes"))): _*)
      .repartition(col("cell"), pmod(hash(col("vec_id")), lit(8)))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/_buildpq_tmp/pq/pqcodes")
    graft.sources.SwapHooks.preSwap(dir)
    graft.sources.BucketedLayout.swapDir(fs,
      new org.apache.hadoop.fs.Path(s"$dir/_buildpq_tmp/pq"),
      new org.apache.hadoop.fs.Path(s"$dir/pq"),
      new org.apache.hadoop.fs.Path(s"$dir/_buildpq_old"))
    fs.delete(staging, true)
  }

  /** IVF-PQ top-k through the persisted index: probe `nProbe` cells,
    * ADC-score ONLY the probed cells' pqcodes partitions (the
    * [[graft.functions.AdcScore]] codegen kernel over a per-query LUT),
    * keep the best `refine` (default 4k) per query, then re-rank just
    * those against the raw vectors with exact cosine. Same output
    * contract as [[ProductQuantization.ivfPqTopK]] — and row-identical
    * to it when the index was built with the same parameters
    * (deterministic kmeans + codebook training on the same rows).
    *
    * Nothing about the query batch funnels through the driver: probe
    * cells come from the native [[graft.functions.TopCentroids]] kernel
    * and the per-query ADC LUT from [[graft.functions.PqLut]], both
    * projections over the query frame — only the probed CELL ID set
    * (bounded by the cell count) is collected, to reach the scan as a
    * static partition filter.
    *
    * `filter`: optional metadata predicate, [[topK]]'s contract —
    * applied to the ADC scan itself (the sidecar stores the metadata
    * columns beside the codes), so excluded rows never consume the
    * refine budget. `excludeSelf`: [[topK]]'s contract — pass false
    * when queries are not corpus members, so an id collision between
    * the two key spaces cannot silently drop a neighbor.
    */
  def topKPq(
      spark: SparkSession,
      dir: String,
      queries: DataFrame,
      k: Int,
      nProbe: Int = 8,
      refine: Int = 0,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      filter: Option[org.apache.spark.sql.Column] = None,
      excludeSelf: Boolean = true): DataFrame = {
    import spark.implicits._
    require(k >= 1 && nProbe >= 1, s"k >= 1, nProbe >= 1: $k, $nProbe")
    checkLayout(fsFor(spark, dir), dir)
    val r = if (refine > 0) refine else 4 * k
    val centers = readCenters(spark, dir).map(_.map(_.toFloat))
    val books: ProductQuantization.Codebooks = readCodebooks(spark, dir)
      .getOrElse(throw new IllegalStateException(
        s"no PQ sidecar at ${codebooksPath(dir)} — run buildPq first"))
    val codes = books(0).length

    // Query frame with executor-side LUT + probe cells; checkpointed so
    // the one pass feeds the bounded cell collect AND the join. A null
    // query embedding raises — the kernels' null propagation would
    // otherwise silently DROP the row at the explode, and that query
    // id would just never appear in the output.
    val booksRef = graft.functions.RefTable.auto(spark, books,
      graft.functions.RefTable.bytes3(books, 8))
    val qvChecked = when(col(vecCol).isNull,
      raise_error(concat(lit("topKPq: null query embedding for id "),
        col(idCol).cast("string")))).otherwise(col(vecCol))
    val q = queries
      .select(col(idCol).cast("long").as("query_id"), qvChecked.as("qv"))
      .withColumn("lut", graft.functions.ColumnBridge.toColumn(graft.functions.PqLut(
        graft.functions.ColumnBridge.toExpression(col("qv")), booksRef)))
      .withColumn("cell", explode(graft.functions.ColumnBridge.toColumn(
        graft.functions.TopCentroids(
          graft.functions.ColumnBridge.toExpression(col("qv")),
          graft.functions.RefTable.auto(spark, centers,
            graft.functions.RefTable.bytes2(centers, 4)), nProbe))))
      .drop("qv")
      .localCheckpoint()
    // One job answers both the probed-cell set (static partition
    // filter) and the probe-frame row count (broadcast guard).
    val cellCounts = q.groupBy($"cell").agg(count(lit(1)).as("n"))
      .as[(Int, Long)].collect()
    val probedCells = cellCounts.map(_._1).sorted
    val probeRows = cellCounts.map(_._2).sum
    // The metadata filter applies to the ADC scan itself (pqcodes
    // carries the index's metadata columns for exactly this): rows the
    // predicate excludes never consume the refine budget, and the
    // filter pushes into the partition-pruned parquet read.
    val codesScan0 = spark.read.parquet(pqcodesPath(dir))
      .filter($"cell".isin(probedCells.map(Integer.valueOf).toIndexedSeq: _*))
    val codesDf = tombstones(spark, dir).minus(filter.fold(codesScan0)(codesScan0.filter))
    // Broadcast guard, as in [[topK]]: the probe frame is Q * nProbe
    // rows each carrying an m * codes float LUT.
    val m = books.length
    val probeBytes = probeRows * (4L * m * codes + 64L)
    val qSide =
      if (probeBytes <= Similarity.BroadcastGuardBytes) broadcast(q) else q
    val joinedPq = codesDf.join(qSide, "cell")
    val cands = (if (excludeSelf) joinedPq.filter($"query_id" =!= $"vec_id") else joinedPq)
      .select($"query_id", $"vec_id".as("neighbor_id"),
        graft.functions.ColumnBridge.toColumn(graft.functions.AdcScore(
          graft.functions.ColumnBridge.toExpression($"lut"),
          graft.functions.ColumnBridge.toExpression($"pq_codes"), codes)).as("score"))
    val survivors = Similarity.rankTopK(cands, r).select($"query_id", $"neighbor_id")

    // Exact refine: survivors are Q * refine rows; the raw-vector side
    // reads only the probed cell partitions. Raw query vectors — cosine
    // is scale-invariant, and the emitted score is exactly the
    // raw-vs-raw cosine a verifier recomputes. The broadcast is guarded
    // like the probe side's (probeRows over-counts Q by up to nProbe —
    // the conservative direction: it falls back to a shuffle join
    // early, never broadcasts a too-big batch).
    val dim = if (centers.isEmpty) 0 else centers(0).length
    val qVecs = Similarity.guardedVecBroadcast(
      queries.select(col(idCol).cast("long").as("query_id"), col(vecCol).as("qv")),
      probeRows, dim)
    val nVecs = spark.read.parquet(vectorsPath(dir))
      .filter($"cell".isin(probedCells.map(Integer.valueOf).toIndexedSeq: _*))
      .select($"vec_id".as("neighbor_id"), $"v".as("nv"))
    val exact = survivors
      .join(qVecs, "query_id")
      .join(nVecs, "neighbor_id")
      .withColumn("score", Similarity.cosineCol(spark, $"qv", $"nv"))
    Similarity.rankTopK(exact.select($"query_id", $"neighbor_id", $"score"), k)
      .select($"query_id", $"neighbor_id", $"rank".cast("long").as("rank"),
        round($"score", 4).as("score"))
  }
}

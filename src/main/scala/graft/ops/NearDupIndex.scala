package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.BucketedLayout

/** Persisted MinHash-LSH near-duplicate index — cross-run FUZZY
  * deduplication, completing the serving-index family: [[DedupIndex]]
  * answers "is this exact content already kept?", [[AnnIndex]] answers
  * it in embedding space, and this answers it in n-gram space ("did
  * any previous crawl keep a page ~90% like this one?") without
  * rescanning history.
  *
  * Two bucketed tables under `dir/` (catalog names `<prefix>_buckets`
  * and `<prefix>_shingles`):
  *
  * {{{
  *   buckets  (bb, doc_id)    bucketed by bb   — the banded LSH
  *            postings: bb = xxhash64(band, band-signature-hash), the
  *            same 16x8 banding as [[Dedup.lshCandidatePairs]]
  *   shingles (doc_id, shh)   bucketed by doc_id — sorted 64-bit
  *            shingle fingerprints for exact-Jaccard verification
  * }}}
  *
  * A probe batch computes its own signatures in flight and joins the
  * postings on `bb` — the index side scans bucketed, so neither the
  * candidate join nor the verification join ever exchanges index-sized
  * data; only the batch shuffles. Candidate volume is bounded the same
  * way the one-shot operator bounds it: postings lists longer than
  * `maxBucket` are dropped at build/compact time (a boilerplate bucket
  * would otherwise fan every probe row out by its length), so per-probe
  * work is O(bands * maxBucket) verifications worst-case.
  *
  * Recall contract (same as `q_neardup_text`): for thresholds above
  * the 16x8 banding knee (~0.71) the LSH candidates are a superset of
  * the true pair set with overwhelming probability, and every
  * candidate is verified with exact fingerprint-set Jaccard — so
  * output rows are exactly the cross-corpus pairs with J >= threshold.
  */
object NearDupIndex {

  def bucketsTable(prefix: String): String = s"${prefix}_buckets"
  def shinglesTable(prefix: String): String = s"${prefix}_shingles"
  def tombstonesTable(prefix: String): String = s"${prefix}_tombstones"
  def droppedTable(prefix: String): String = s"${prefix}_dropped"

  /** Operational snapshot: indexed docs and postings (parquet
    * metadata counts), data files across both tables (the [[compact]]
    * trigger), dropped posting buckets (the LSH coverage metric —
    * see [[droppedBucketProbes]]), and tombstones pending retirement.
    */
  final case class IndexStats(
      docs: Long,
      postings: Long,
      dataFiles: Long,
      droppedBuckets: Long,
      tombstones: Long)

  def stats(spark: SparkSession, prefix: String): IndexStats = {
    val root = indexRoot(spark, prefix)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(sub: String): Long = {
      val p = new org.apache.hadoop.fs.Path(root, sub)
      if (!fs.exists(p)) 0L
      else fs.listStatus(p).count { st =>
        st.isFile && !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith(".")
      }.toLong
    }
    IndexStats(
      docs = spark.table(shinglesTable(prefix)).select("doc_id").distinct().count(),
      postings = spark.table(bucketsTable(prefix)).count(),
      dataFiles = files("buckets") + files("shingles"),
      droppedBuckets =
        if (spark.catalog.tableExists(droppedTable(prefix)))
          spark.table(droppedTable(prefix)).count()
        else 0L,
      tombstones = tombstones(spark, prefix).count())
  }

  /** Single-writer lock (see [[graft.sources.WriterLock]]) on
    * `<dir>/_writer.lock`: compact racing an ingest/append would
    * silently drop the postings appended between its snapshot and the
    * directory swap; the two tables' appends must also land as one
    * logical mutation. Mutators that only know the prefix recover the
    * index root from the buckets table's catalog entry.
    */
  private[graft] def withWriterLock[T](spark: SparkSession, dirStr: String, prefix: String)(body: => T): T = {
    // Mutators resolve FRESH (never the probe-path cache — stale after
    // an out-of-band re-registration would lock the wrong root) and
    // refresh the cache; see [[DedupIndex.withWriterLock]].
    val root =
      if (dirStr != null) new org.apache.hadoop.fs.Path(dirStr)
      else freshRoot(spark, prefix)
    rootCache.put(prefix, root)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sources.WriterLock.withLock(
      fs, graft.sources.WriterLock.lockPath(root.toString), s"NearDupIndex $prefix")(body)
  }

  /** Root lookups run on the probe path (tombstone check) — cached per
    * prefix for probes, refreshed by every mutator, as in
    * [[DedupIndex]].
    */
  private val rootCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.hadoop.fs.Path]()

  private def freshRoot(spark: SparkSession, prefix: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(bucketsTable(prefix))).location).getParent

  /** The index root — the parent of the buckets table's directory. */
  private def indexRoot(spark: SparkSession, prefix: String): org.apache.hadoop.fs.Path = {
    val hit = rootCache.get(prefix) // get-first: computeIfAbsent locks the bin even on hits
    if (hit != null) hit
    else rootCache.computeIfAbsent(prefix, _ => freshRoot(spark, prefix))
  }

  /** The doc_id takedown set under `<dir>/tombstones` (`dir` null: the
    * catalog-derived root), registered as [[tombstonesTable]].
    */
  private def tombstones(spark: SparkSession, prefix: String, dir: String = null): Tombstones = {
    val root = if (dir != null) new org.apache.hadoop.fs.Path(dir) else indexRoot(spark, prefix)
    new Tombstones(spark, new org.apache.hadoop.fs.Path(root, "tombstones").toString,
      Tombstones.longKey("doc_id"), Some(tombstonesTable(prefix)))
  }

  /** Tombstone indexed documents by id — the takedown path. A
    * tombstoned doc is never returned by [[probePairs]] (so
    * [[filterNovel]]/[[ingest]] treat a re-crawl of its content as
    * novel), and its postings/shingles are physically removed at the
    * next [[compact]]. Returns the count of distinct ids tombstoned
    * (ids not indexed or already tombstoned do not count); the semi
    * runs against the doc_id-bucketed shingles table — no index-sized
    * shuffle.
    */
  def delete(
      spark: SparkSession,
      tablePrefix: String,
      ids: DataFrame,
      idCol: String = "doc_id"): Long = withWriterLock(spark, null, tablePrefix) {
    tombstones(spark, tablePrefix).add(spark.table(shinglesTable(tablePrefix)).select("doc_id")
      .join(Tombstones.requested(ids, idCol, "doc_id"), Seq("doc_id"), "left_semi")
      .distinct())
  }

  /** (doc_id, bb) postings of `docs` under the shared banding. */
  private def postings(docs: DataFrame, textCol: String, idCol: String, k: Int): DataFrame =
    Dedup.bandBuckets(Dedup.minhashSignatures(docs, textCol, idCol, k))
      .select(col("doc_id"), xxhash64(col("band"), col("bucket")).as("bb"))

  /** The shingle frame (pinned) and the (doc_id, bb) postings DERIVED
    * from it — every entry point that needs both tables (build, append,
    * probe) pays the shingle extraction UDF once; the signatures are
    * bit-identical to [[postings]]'s ([[Dedup.minhashFromShingles]]).
    */
  private def shAndPostings(
      docs: DataFrame, textCol: String, idCol: String, k: Int): (DataFrame, DataFrame) = {
    val sh = Dedup.shingles(docs, textCol, idCol, k).localCheckpoint()
    (sh, Dedup.bandBuckets(Dedup.minhashFromShingles(sh))
      .select(col("doc_id"), xxhash64(col("band"), col("bucket")).as("bb")))
  }

  /** Build the index from a seed corpus. Oversized postings lists
    * (> `maxBucket` docs in one (band, bucket)) are dropped — the
    * [[Dedup.lshCandidatePairs]] cap, applied at write time so probes
    * never pay for boilerplate buckets. The expensive signature pass
    * is checkpointed so the cap's count+join-back reads it once (and
    * never through a hot-key window — the r10 skew discipline).
    */
  def build(
      docs: DataFrame,
      dir: String,
      tablePrefix: String,
      nBuckets: Int = 64,
      maxBucket: Int = 64,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 3): Unit = withWriterLock(docs.sparkSession, dir, tablePrefix) {
    val spark = docs.sparkSession
    val (sh, post0) = shAndPostings(docs, textCol, idCol, k)
    val post = post0.localCheckpoint()
    val sizes = post.groupBy("bb").agg(count(lit(1)).as("n_docs")).localCheckpoint()
    val kept = post.join(
      sizes.filter(col("n_docs") <= maxBucket).select("bb"), "bb")
    // All three tables STAGE first (the expensive writes — probes keep
    // serving the old complete generation throughout), then swap
    // back-to-back: cross-table skew is bounded by three renames, not
    // by write time. The dropped sidecar exists so a probe landing
    // only in capped buckets is observable, not silently novel.
    val staged = Seq(
      BucketedLayout.stageBucketed(spark,
        kept.select("bb", "doc_id"), bucketsTable(tablePrefix), s"$dir/buckets", "bb", nBuckets),
      BucketedLayout.stageBucketed(spark,
        sh.select("doc_id", "shh"),
        shinglesTable(tablePrefix), s"$dir/shingles", "doc_id", nBuckets),
      BucketedLayout.stageBucketed(spark,
        sizes.filter(col("n_docs") > maxBucket),
        droppedTable(tablePrefix), s"$dir/dropped", "bb", nBuckets))
    graft.sources.SwapHooks.preSwap(dir)
    staged.foreach(BucketedLayout.swapInStaged(spark, _))
    // Prior takedowns don't carry into the fresh generation; cleared
    // AFTER the swaps — between swap and clear a probe can transiently
    // miss a pair against a re-indexed deleted doc (conservative), but
    // never resurrect a takedown against the OLD generation.
    tombstones(spark, tablePrefix, dir).clear()
  }

  /** Append a batch's postings and shingles to the index (no cap
    * recheck — a bucket that grows past `maxBucket` through appends is
    * retired at the next [[compact]]). New docs are probe-visible
    * immediately.
    */
  def append(
      spark: SparkSession,
      tablePrefix: String,
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 3): Unit = withWriterLock(spark, null, tablePrefix) {
    val (sh, post) = shAndPostings(docs, textCol, idCol, k)
    post
      .select("bb", "doc_id")
      .write.mode(SaveMode.Append).format("parquet").insertInto(bucketsTable(tablePrefix))
    sh.select("doc_id", "shh")
      .write.mode(SaveMode.Append).format("parquet").insertInto(shinglesTable(tablePrefix))
  }

  /** Verified near-duplicate pairs between the index and a probe
    * batch: (doc_a = indexed id, doc_b = probe id, n_inter, n_union)
    * with exact fingerprint-Jaccard >= threshold — integer evidence,
    * the [[Dedup.nearDuplicatePairCounts]] contract, cross-corpus.
    */
  def probePairs(
      spark: SparkSession,
      tablePrefix: String,
      batch: DataFrame,
      threshold: Double = 0.9,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 3): DataFrame = {
    import spark.implicits._
    // Tombstoned docs drop out at candidate time — before the shingle
    // joins, so a takedown also stops paying verification cost.
    val (sh, post) = shAndPostings(batch, textCol, idCol, k)
    val cands = tombstones(spark, tablePrefix).minus(
      post
        .select(col("doc_id").as("doc_b"), col("bb"))
        .join(spark.table(bucketsTable(tablePrefix)), "bb")
        .select(col("doc_id").as("doc_a"), col("doc_b"))
        .distinct(),
      "doc_a")
    cands
      .join(spark.table(shinglesTable(tablePrefix))
        .select(col("doc_id").as("doc_a"), col("shh").as("ha")), "doc_a")
      .join(sh
        .select(col("doc_id").as("doc_b"), col("shh").as("hb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("ha"), col("hb"))
      .as[(Long, Long, Array[Long], Array[Long])]
      .mapPartitions { it =>
        it.flatMap { case (a, b, ha, hb) =>
          val (inter, union) = Dedup.interUnionLong(ha, hb)
          if (inter.toDouble >= union * threshold) Some(PairCount(a, b, inter, union))
          else None
        }
      }
      .toDF("doc_a", "doc_b", "n_inter", "n_union")
  }

  /** Probe-side observability for the `maxBucket` cap:
    * (doc_id, n_dropped) for every batch row at least one of whose LSH
    * bands lands in a DROPPED posting bucket. Such a row's
    * [[probePairs]]/[[filterNovel]] answer may under-report (dropped
    * buckets contribute no candidates) — downstream can route flagged
    * rows to an exact fallback or count them as a coverage metric.
    * Rows with full coverage do not appear. Pair results are untouched.
    */
  def droppedBucketProbes(
      spark: SparkSession,
      tablePrefix: String,
      batch: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 3): DataFrame =
    postings(batch, textCol, idCol, k)
      .join(spark.table(droppedTable(tablePrefix)).select("bb"), "bb")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dropped"))

  /** Rows of `batch` with NO near-duplicate in the index — the
    * keep/drop form of [[probePairs]], one row per surviving batch row
    * (batch-internal near-dups are NOT collapsed here; chain with the
    * one-shot [[Dedup]] operators for that).
    */
  def filterNovel(
      spark: SparkSession,
      tablePrefix: String,
      batch: DataFrame,
      threshold: Double = 0.9,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 3): DataFrame =
    batch.join(
      probePairs(spark, tablePrefix, batch, threshold, textCol, idCol, k)
        .select(col("doc_b").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** Ingest a batch: append everything NOVEL (no near-dup in the index
    * AND not near-duplicating an earlier row of this same batch — the
    * batch-internal pass reuses the one-shot keep-min operator), return
    * the survivors. Unlike [[DedupIndex.ingest]], redelivery is NOT a
    * no-op by construction (a survivor's own postings make its
    * re-probe a self-match at J = 1.0 >= threshold, so redelivered
    * rows filter out — same observable, different mechanism).
    */
  def ingest(
      spark: SparkSession,
      tablePrefix: String,
      batch: DataFrame,
      threshold: Double = 0.9,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 3): DataFrame = withWriterLock(spark, null, tablePrefix) {
    val novel = filterNovel(spark, tablePrefix, batch, threshold, textCol, idCol, k)
    val pairs = Dedup.nearDuplicatePairCounts(novel, threshold, textCol, idCol, k)
      .filter(col("n_inter") >= col("n_union") * threshold)
    val losers = pairs.select(greatest(col("doc_a"), col("doc_b")).as(idCol)).distinct()
    val kept = novel.join(losers, Seq(idCol), "left_anti").localCheckpoint()
    append(spark, tablePrefix, kept, textCol, idCol, k)
    kept
  }

  /** Merge another near-dup index INTO this one — shard consolidation
    * for the fuzzy frontier (per-crawl LSH indexes folded into the
    * main one). Both sides' LIVE postings and fingerprints union
    * (minus each side's tombstones), zombies collapse, and the
    * `maxBucket` cap re-applies on the UNION sizes — a bucket under
    * the cap in each shard can exceed it combined, exactly as a
    * from-scratch build over the union corpus would drop it. Buckets
    * already dropped by EITHER shard stay dropped and observable
    * (their postings are gone — serving the surviving side's rows as
    * a complete bucket would silently under-candidate); they re-enter
    * only through a full [[build]]. Staged + swapped like
    * [[build]]/[[compact]]: probes of this index read the old
    * complete generation throughout; `other` is read-only.
    *
    * Postings are deterministic functions of doc content (shared
    * hash/banding), so away from cap effects the merged index answers
    * exactly like one built over the union corpus. Returns the merged
    * data-file count.
    */
  def merge(
      spark: SparkSession,
      tablePrefix: String,
      dir: String,
      otherPrefix: String,
      maxBucket: Int = 64): Long = withWriterLock(spark, dir, tablePrefix) {
    val (mine, theirs) = (tombstones(spark, tablePrefix), tombstones(spark, otherPrefix))
    val post = mine.minus(spark.table(bucketsTable(tablePrefix)))
      .unionByName(theirs.minus(spark.table(bucketsTable(otherPrefix))))
      .distinct().localCheckpoint()
    def droppedOf(p: String): Option[DataFrame] =
      if (spark.catalog.tableExists(droppedTable(p))) Some(spark.table(droppedTable(p)))
      else None
    val carried = (droppedOf(tablePrefix).toSeq ++ droppedOf(otherPrefix).toSeq)
      .reduceOption(_.unionByName(_))
      .map(_.groupBy("bb").agg(max(col("n_docs")).as("n_docs")).localCheckpoint())
    val postLive = carried.fold(post)(c =>
      post.join(c.select("bb"), Seq("bb"), "left_anti"))
    val sizes = postLive.groupBy("bb").agg(count(lit(1)).as("n_docs")).localCheckpoint()
    val kept = postLive.join(
      sizes.filter(col("n_docs") <= maxBucket).select("bb"), "bb")
      .select("bb", "doc_id")
    val freshDropped = sizes.filter(col("n_docs") > maxBucket)
    val droppedDf = carried.fold(freshDropped)(c =>
      c.unionByName(freshDropped).groupBy("bb").agg(max(col("n_docs")).as("n_docs")))
    val shingles = mine.minus(spark.table(shinglesTable(tablePrefix)))
      .unionByName(theirs.minus(spark.table(shinglesTable(otherPrefix))))
      .groupBy("doc_id").agg(min(col("shh")).as("shh"))
    val nb = tableBuckets(spark, bucketsTable(tablePrefix))
    val staged = Seq(
      BucketedLayout.stageBucketed(spark, kept,
        bucketsTable(tablePrefix), s"$dir/buckets", "bb", nb),
      BucketedLayout.stageBucketed(spark, shingles,
        shinglesTable(tablePrefix), s"$dir/shingles", "doc_id", nb),
      BucketedLayout.stageBucketed(spark, droppedDf,
        droppedTable(tablePrefix), s"$dir/dropped", "bb", nb))
    graft.sources.SwapHooks.preSwap(dir)
    val total = staged.map(BucketedLayout.swapInStaged(spark, _)).sum
    // This side's tombstones are physically retired by the rewrite;
    // the other shard's belong to it and are untouched.
    tombstones(spark, tablePrefix, dir).clear()
    total
  }

  /** Rewrite both tables as one fresh bucketed generation — collapses
    * append-accumulated small files, re-applies the `maxBucket` cap to
    * postings lists that grew past it, and retires duplicate rows from
    * redelivered appends. Atomic per table (live -> `.__old`, tmp ->
    * live, the [[DedupIndex.compact]] pattern). Returns the total
    * data-file count after compaction.
    */
  def compact(
      spark: SparkSession,
      tablePrefix: String,
      dir: String,
      maxBucket: Int = 64): Long = withWriterLock(spark, dir, tablePrefix) {
    // Tombstoned docs are dropped from BOTH tables before the rewrite
    // — physical retirement of takedowns rides the same pass as the
    // small-file collapse.
    val tombs = tombstones(spark, tablePrefix)
    val post = tombs.minus(spark.table(bucketsTable(tablePrefix)).distinct())
      .localCheckpoint()
    val sizes = post.groupBy("bb").agg(count(lit(1)).as("n_docs")).localCheckpoint()
    val kept = post.join(
      sizes.filter(col("n_docs") <= maxBucket).select("bb"),
      "bb").select("bb", "doc_id")
    // Refresh the dropped-key sidecar: buckets that grew past the cap
    // through appends retire HERE and join the observable set. The
    // previous generation's dropped keys are CARRIED (their postings
    // are already gone, so this pass cannot re-derive them) — a
    // dropped bucket stays observable until the next full [[build]].
    // Pre-sidecar indexes (no dropped table yet) get one created, with
    // the INDEX's bucket count so both creation paths agree.
    val nb = tableBuckets(spark, bucketsTable(tablePrefix))
    val freshDropped = sizes.filter(col("n_docs") > maxBucket)
    val droppedDf =
      if (spark.catalog.tableExists(droppedTable(tablePrefix)))
        spark.table(droppedTable(tablePrefix)).unionByName(freshDropped)
          .groupBy("bb").agg(max(col("n_docs")).as("n_docs"))
      else freshDropped
    // Stage every table, then swap back-to-back (the [[build]]
    // discipline): probes read the old complete generation for the
    // whole rewrite; cross-table skew is bounded by renames.
    val staged = Seq(
      BucketedLayout.stageBucketed(spark, kept,
        bucketsTable(tablePrefix), s"$dir/buckets", "bb", nb),
      BucketedLayout.stageBucketed(spark,
        tombs.minus(spark.table(shinglesTable(tablePrefix)))
          .groupBy("doc_id").agg(min(col("shh")).as("shh")),
        shinglesTable(tablePrefix), s"$dir/shingles", "doc_id", nb),
      BucketedLayout.stageBucketed(spark, droppedDf,
        droppedTable(tablePrefix), s"$dir/dropped", "bb", nb))
    graft.sources.SwapHooks.preSwap(dir)
    val total = staged.map(BucketedLayout.swapInStaged(spark, _)).sum
    // Retired physically — clear, so the ids can be reused as new docs.
    tombstones(spark, tablePrefix, dir).clear()
    total
  }

  private def tableBuckets(spark: SparkSession, table: String): Int =
    spark.table(table).queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.catalyst.catalog.HiveTableRelation =>
        r.tableMeta.bucketSpec.map(_.numBuckets)
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.catalogTable.flatMap(_.bucketSpec).map(_.numBuckets)
    }.flatten.getOrElse(64)
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.sources.BucketedLayout

/** Persisted exact-dedup index — cross-run incremental deduplication.
  *
  * [[Dedup.dropExactDuplicates]] dedups ONE corpus in one job; real
  * curation pipelines ingest forever ("is this page new, or did any
  * previous crawl already keep it?"). Re-reading the full historical
  * corpus per batch is a 100-TB scan for a 1-TB question, so this
  * operator persists only the content-hash frontier and answers each
  * batch against it (the serving twin of [[AnnIndex]]: build once,
  * probe many, append survivors):
  *
  * {{{
  *   table @ dir/hashes   (text_hash, n_dups, keep_id)
  *                        bucketed + sorted by text_hash
  * }}}
  *
  * The Spark-native part is the LAYOUT, not an index structure: the
  * hash table is written through [[BucketedLayout.writeBucketed]], so
  * its scan reports `HashPartitioning(text_hash)` and the per-batch
  * anti-join never exchanges the index side — only the (small) batch
  * shuffles, into the index's bucketing. The follow-on keep-one
  * aggregation groups by the SAME already-computed hash column, which
  * reuses that partitioning: one batch-sized shuffle total per ingest,
  * zero index-sized ones, and no rank window anywhere (the r10 hot-key
  * discipline — a mega-duplicated page collapses map-side).
  *
  * Hash = md5 of [[Dedup.normalizeText]], the exact-dedup family's
  * shared fingerprint, so the index interoperates with the one-shot
  * operators and the DuckDB oracle alike.
  */
object DedupIndex {

  private def hashOf(textCol: String): Column =
    md5(Dedup.normalizeText(col(textCol)))

  /** Single-writer lock (see [[graft.sources.WriterLock]]): every
    * mutator holds `<dir>/_writer.lock` for the call — a compact racing
    * an ingest would otherwise silently drop the rows appended between
    * compact's snapshot and its directory swap (un-seeing their hashes
    * forever). The index root is recovered from the catalog entry, so
    * mutators that only know the table name lock the same file the
    * dir-carrying ones do.
    */
  private[graft] def withWriterLock[T](spark: SparkSession, dirStr: String, table: String)(body: => T): T = {
    // Mutators must never lock the wrong root: resolve FRESH (given
    // dir, or from the catalog — never the probe-path cache, which can
    // be stale if the table was re-registered elsewhere), then refresh
    // the cache for the probe path.
    val root =
      if (dirStr != null) new org.apache.hadoop.fs.Path(dirStr)
      else freshRoot(spark, table)
    rootCache.put(table, root)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sources.WriterLock.withLock(
      fs, graft.sources.WriterLock.lockPath(root.toString), s"DedupIndex $table")(body)
  }

  /** Catalog-root lookups run on the PROBE path too (the per-call
    * tombstone check), and `getTableMetadata` is a driver round-trip —
    * cache the root per table name for probes. Every mutator refreshes
    * the entry from the catalog, and a registered tombstone table is
    * read from its own catalog location ([[Tombstones]]), so an
    * out-of-band re-registration never serves the previous location's
    * takedowns.
    */
  private val rootCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.hadoop.fs.Path]()

  private def freshRoot(spark: SparkSession, table: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table)).location).getParent

  /** Catalog name of the tombstone table (exists only after the first
    * [[delete]]).
    */
  def tombstonesTable(table: String): String = s"${table}_tombstones"

  /** Operational snapshot: distinct-hash count (parquet metadata —
    * footer-only), data-file count (the [[compact]] trigger: each
    * ingested batch appends up-to-nBuckets files), and tombstones
    * pending physical retirement.
    */
  final case class IndexStats(hashes: Long, dataFiles: Long, tombstones: Long)

  def stats(spark: SparkSession, table: String): IndexStats = {
    val path = new org.apache.hadoop.fs.Path(indexRoot(spark, table), "hashes")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(path).count { st =>
      st.isFile && !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith(".")
    }
    IndexStats(
      hashes = spark.table(table).count(),
      dataFiles = files.toLong,
      tombstones = tombstones(spark, table).count())
  }

  /** The index root — the parent of the bucketed table's directory,
    * recovered from the catalog for mutators that only know the name.
    */
  private def indexRoot(spark: SparkSession, table: String): org.apache.hadoop.fs.Path = {
    val hit = rootCache.get(table) // get-first: computeIfAbsent locks the bin even on hits
    if (hit != null) hit
    else rootCache.computeIfAbsent(table, _ => freshRoot(spark, table))
  }

  /** The (text_hash, keep_id) takedown set under `<dir>/tombstones`
    * (`dir` null: the catalog-derived root), registered as
    * [[tombstonesTable]]. Subtracting it keeps the index side's
    * bucketed partitioning (broadcast anti-join, no new exchange).
    */
  private def tombstones(spark: SparkSession, table: String, dir: String = null): Tombstones = {
    val root = if (dir != null) new org.apache.hadoop.fs.Path(dir) else indexRoot(spark, table)
    new Tombstones(spark, new org.apache.hadoop.fs.Path(root, "tombstones").toString,
      new StructType().add("text_hash", StringType, nullable = false)
        .add("keep_id", LongType, nullable = false),
      Some(tombstonesTable(table)), perRowBytes = 64L)
  }

  /** Tombstone every index row whose `keep_id` is in `ids` — the
    * takedown path (copyright, PII, robots retroactivity). Effects:
    * the content hash stops being "seen", so [[filterNew]]/[[ingest]]
    * treat a future re-ingest of that content as NEW (the contract a
    * curation pipeline needs after a removal-then-reappearance), and
    * the row is physically retired at the next [[compact]]. Returns
    * the number of rows tombstoned. Ids not present as keepers are
    * ignored (deleting a non-keeper duplicate is meaningless — the
    * index never stored it).
    */
  def delete(
      spark: SparkSession,
      table: String,
      ids: DataFrame,
      idCol: String = "doc_id"): Long = withWriterLock(spark, null, table) {
    tombstones(spark, table).add(spark.table(table)
      .join(Tombstones.requested(ids, idCol, "keep_id"), "keep_id")
      .select(col("text_hash"), col("keep_id"))
      .distinct())
  }

  /** Build the index from a seed corpus: one row per distinct
    * normalized text with its duplicate count and surviving (minimum)
    * id, bucketed by hash at `dir/hashes` and registered in the
    * session catalog as `table` (on a cluster: the shared metastore).
    */
  def build(
      docs: DataFrame,
      dir: String,
      table: String,
      nBuckets: Int = 64,
      textCol: String = "text",
      idCol: String = "doc_id"): Unit =
    withWriterLock(docs.sparkSession, dir, table) {
      val spark = docs.sparkSession
      // Fresh generation, staged beside the live table and swapped in
      // with one rename (BucketedLayout.writeBucketedSwap): a probe
      // during the (long) rebuild write reads the OLD complete index.
      BucketedLayout.writeBucketedSwap(
        spark, Dedup.exactDedup(docs, textCol, idCol),
        table, s"$dir/hashes", "text_hash", nBuckets)
      // A rebuild is a fresh generation — prior takedowns don't carry
      // over. Cleared AFTER the swap (conservative: between swap and
      // clear a probe can transiently treat re-ingested deleted content
      // as new; it never resurrects a takedown against the old
      // generation, which clearing FIRST would).
      tombstones(spark, table, dir).clear()
    }

  /** Rows of `batch` whose content is NOT in the index, one survivor
    * (minimum id) per distinct new hash, with the batch-local
    * duplicate count attached as `n_dups`. Output columns: the batch's
    * own, plus `text_hash` and `n_dups`.
    *
    * Plan shape (asserted in the spec): batch exchanges ONCE into the
    * index's bucketing for the anti-join; the keep-one aggregation
    * reuses that partitioning (no second exchange); the bucketed index
    * scan never exchanges at all.
    */
  def filterNew(
      spark: SparkSession,
      table: String,
      batch: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val cols = batch.columns
    val seen = tombstones(spark, table)
      .minus(BucketedLayout.readBucketed(spark, table).select("text_hash", "keep_id"))
      .select("text_hash")
    batch
      .withColumn("text_hash", hashOf(textCol))
      .join(seen, Seq("text_hash"), "left_anti")
      .groupBy("text_hash")
      .agg(
        count(lit(1)).as("n_dups"),
        min_by(struct(cols.map(col).toIndexedSeq: _*), col(idCol)).as("__di_row"))
      .select((Seq(col("__di_row.*")) ++ Seq(col("text_hash"), col("n_dups"))): _*)
  }

  /** Ingest a batch: filter it against the index, append the new
    * hashes (with their batch-local counts and keep ids), and return
    * the surviving rows. Re-delivering the same batch is a no-op that
    * returns empty — the anti-join sees the hashes the first delivery
    * appended. The survivors are eagerly checkpointed so the append
    * and the returned frame share one evaluation (and so the returned
    * frame does not observe its own append through the catalog table).
    */
  def ingest(
      spark: SparkSession,
      table: String,
      batch: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = withWriterLock(spark, null, table) {
    val fresh = filterNew(spark, table, batch, textCol, idCol).localCheckpoint()
    fresh
      .select(col("text_hash"), col("n_dups"), col(idCol).cast("long").as("keep_id"))
      .write.mode(SaveMode.Append).format("parquet")
      .insertInto(table)
    fresh.drop("text_hash", "n_dups")
  }

  /** Merge another dedup index INTO this one — the shard-consolidation
    * path (per-crawl or per-tenant indexes built independently, then
    * folded into the main frontier once vetted). The union of both
    * LIVE row sets (each minus its own tombstones — a takedown honored
    * by either side stays honored) re-aggregates per hash exactly like
    * a from-scratch build over the union corpus would: `keep_id` = min
    * across both (the dedup family's survivor rule), `n_dups` = sum
    * (the corpora are distinct ingest histories, so duplicate counts
    * add). Written as ONE fresh staged generation of `table` and
    * swapped in by rename — probes of `table` read the old complete
    * index for the whole merge, the [[build]]/[[compact]] atomicity
    * contract. `other` is read-only throughout (drop it separately
    * once the merge is verified).
    *
    * Scale shape: both sides scan bucketed with no exchange; the
    * re-aggregation shuffles hash-frontier rows (one row per distinct
    * content, never corpus-sized) into the fresh generation's
    * bucketing. Returns the merged index's data-file count.
    */
  def merge(spark: SparkSession, table: String, dir: String, other: String): Long =
    withWriterLock(spark, dir, table) {
      val nBuckets = spark.table(table).queryExecution.analyzed.collectFirst {
        case r: org.apache.spark.sql.catalyst.catalog.HiveTableRelation =>
          r.tableMeta.bucketSpec.map(_.numBuckets)
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.catalogTable.flatMap(_.bucketSpec).map(_.numBuckets)
      }.flatten.getOrElse(64)
      // Collapse each side's zombie double-append rows FIRST (max/min,
      // the [[compact]] rule — a zombie is a re-written copy of the
      // same ingest, not new duplicates), so the cross-side sum counts
      // every ingest history exactly once. The per-side groupBy reuses
      // the bucketed partitioning — no exchange.
      def liveCollapsed(t: String): DataFrame =
        tombstones(spark, t).minus(spark.table(t))
          .groupBy("text_hash")
          .agg(max("n_dups").as("n_dups"), min("keep_id").as("keep_id"))
      val total = BucketedLayout.writeBucketedSwap(
        spark,
        liveCollapsed(table).unionByName(liveCollapsed(other))
          .groupBy("text_hash")
          .agg(sum("n_dups").cast("long").as("n_dups"), min("keep_id").as("keep_id")),
        table, s"$dir/hashes", "text_hash", nBuckets)
      // This side's tombstones are physically retired by the rewrite
      // (cleared after the swap, the compact contract); the other
      // index's tombstones were honored by reading only its live rows
      // and belong to IT — untouched.
      tombstones(spark, table, dir).clear()
      total
    }

  /** Small-file compaction: every [[ingest]] / streaming batch appends
    * up-to-`nBuckets` files, so a long-lived index accumulates
    * `batches x buckets` tiny files and probe scans pay a task + a
    * footer read per file. Rewrites the table as ONE fresh bucketed
    * generation — re-aggregated by hash, which also retires any
    * duplicate rows a zombie double-append left behind (keep = min id,
    * count = max, matching what a rebuild from scratch would keep) —
    * and swaps the directory in atomically (live -> `.__old`, tmp ->
    * live, the [[AnnIndex.compact]] / [[graft.core.SummaryDB]] writer
    * pattern), so a concurrent probe reads the old complete generation
    * or the new one, never a mix. The catalog entry (schema, bucket
    * spec, path) is untouched; only files move. Returns the data-file
    * count after compaction.
    */
  def compact(spark: SparkSession, table: String, dir: String): Long =
    withWriterLock(spark, dir, table) {
    val nBuckets = spark.table(table).queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.catalyst.catalog.HiveTableRelation =>
        r.tableMeta.bucketSpec.map(_.numBuckets)
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.catalogTable.flatMap(_.bucketSpec).map(_.numBuckets)
    }.flatten.getOrElse(64)
    // One fresh generation: same layout contract as build's, written
    // through the same staged entry point (probes read the live table
    // untouched until the one-rename swap). Tombstoned rows are dropped
    // BEFORE the re-aggregation — physical retirement, and the
    // anti-join must precede the keep-id min or a deleted keeper would
    // resurrect through a later re-ingest row of the same hash.
    val total = BucketedLayout.writeBucketedSwap(
      spark,
      tombstones(spark, table).minus(spark.table(table))
        .groupBy("text_hash")
        .agg(max("n_dups").as("n_dups"), min("keep_id").as("keep_id")),
      table, s"$dir/hashes", "text_hash", nBuckets)
    // Tombstones are now physically retired — clear them so a LATER
    // re-ingest of a deleted keeper id is not retroactively hidden.
    tombstones(spark, table, dir).clear()
    total
    }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted BM25 lexical index — the retrieval twin of [[AnnIndex]],
  * completing the serving tier's symmetry: vector search probes a
  * persisted IVF tree, lexical search probes a persisted inverted
  * layout, and [[Bm25.rrf]] fuses the two without recomputing either
  * corpus pass.
  *
  * [[Bm25.topDocs]] re-tokenizes and re-aggregates the WHOLE corpus on
  * every call — the right shape for one-shot jobs, a 100-TB scan per
  * query batch in serving. This operator persists the corpus-pass
  * outputs once and answers each batch against them:
  *
  * {{{
  *   dir/lex/meta/               (n_tb)                          1 row
  *   dir/lex/postings/tb=<b>/    (term, doc_id, tf, dl, meta...) corpus
  *   dir/lex/dfd/tb=<b>/         (term, df, max_tf, min_dl)      df deltas
  *   dir/lex/stats/              (n_docs, sum_dl, n_terms)       stat deltas
  *   dir/tombstones/             (doc_id)                        takedowns
  * }}}
  *
  * `max_tf`/`min_dl` are the dfd's per-term IMPACT BOUNDS (summed-df
  * deltas combine by max/min, so they stay exact through append and
  * merge): the BM25 contribution is increasing in tf and decreasing in
  * dl for any valid (k1, b), so `contrib(max_tf, min_dl)` upper-bounds
  * every posting of the term at ANY probe-time parameters — the
  * MaxScore bound [[topDocs]]'s dynamic pruning uses to skip common
  * terms' postings without moving a single rank (Turtle & Flood 1995).
  *
  * Postings are TERM-SORTED within every data file (build, append,
  * compact, streaming all sort before writing) — the Spark-native form
  * of impact-ordered posting lists: row groups carry tight term
  * min/max stats and dictionary pages, so the probe's pushed
  * `term IN (...)` filter skips every row group holding no query term
  * and scan IO tracks the query terms' posting runs, not the bucket.
  * (Set `spark.sql.parquet.pushdown.inFilterThreshold` at or above the
  * probe's distinct-term count — else parquet degrades the In to a
  * min/max range and keeps only the weaker skip.)
  *
  * `meta...` are [[build]]'s caller-declared filterable attributes
  * (language, licence, source): [[topDocs]] accepts a predicate over
  * them that pushes into the pruned scan — filtered lexical search
  * with zero probe-path joins, the [[AnnIndex]] layout trade.
  *
  * The Spark-native part is the LAYOUT: postings are partitioned by a
  * term hash bucket (`tb = pmod(hash(term), n_tb)`), so a probe batch
  * collects its query terms' bucket ids (bounded by the query term
  * count) and pushes them as a static partition filter — the scan reads
  * only the directories that can contain a query term, the inverted-
  * file trade [[AnnIndex.topK]] makes with its `cell=` pruning. Doc
  * length is DENORMALIZED into the postings rows (Lucene's norms-with-
  * postings trade: 8 bytes/posting buys zero probe-path joins against a
  * corpus-sized doc-length table), so a probe is: pruned postings scan
  * ⨝ broadcast(query terms) ⨝ broadcast(query-term idf) → one
  * candidate-sized aggregation. Nothing index-sized ever shuffles.
  *
  * Unlike the ANN tier (frozen centers ⇒ recall drift until rebuild),
  * EVERY stored quantity here is an additive aggregate — tf and dl are
  * per-doc, df and (n_docs, sum_dl) are sums — so [[append]] is EXACT:
  * an index built on A then appended with B answers bit-identically to
  * one built on A ∪ B, and both replay [[Bm25.topDocs]] on the union
  * corpus (the shared [[Bm25.idfMicro]]/[[Bm25.contribMicro]] integer
  * micro-point expression trees make that a hash-equality, not a
  * tolerance). k1/b are PROBE-time parameters — the index stores raw
  * tf/dl/df, so retuning costs nothing.
  *
  * [[delete]] follows the serving tier's takedown contract: tombstoned
  * docs drop out of every probe immediately (candidate-bounded
  * anti-join); their contribution to df/avgdl/N persists until
  * [[compact]] physically retires them and recomputes the aggregates —
  * exactly a web index's behavior between takedown and segment merge.
  *
  * Mutators hold the single-writer lock; probes never lock — rebuilds
  * stage under `_build_tmp` and swap in with one atomic rename
  * ([[AnnIndex.build]]'s generation contract).
  */
object Bm25Index {

  private[graft] def lexPath(dir: String): String = s"$dir/lex"
  private[graft] def postingsPath(dir: String): String = s"$dir/lex/postings"
  private[graft] def dfdPath(dir: String): String = s"$dir/lex/dfd"
  private[graft] def statsPath(dir: String): String = s"$dir/lex/stats"
  private[graft] def metaPath(dir: String): String = s"$dir/lex/meta"
  private[graft] def blockmaxPath(dir: String): String = s"$dir/lex/blockmax"
  private[graft] def generationMarkerPath(dir: String): String = s"$dir/lex/_generation"

  /** Doc-block count for the Block-Max sidecar. At most 64 so a
    * per-(query, term) essential-block set is ONE long bitmask — the
    * probe ships it as a column on the pair frame it already
    * broadcasts, zero extra join. Frozen in `meta/` (`n_dblk`) at
    * build/compact like `n_tb`; pre-sidecar indexes simply lack the
    * column and probe at term granularity (one virtual block).
    */
  private[graft] val NDblk = 64

  /** The doc-block key: computable from doc_id alone (never stored on
    * postings — the probe derives it in the scan and the planner
    * derives it per survivor), so the sidecar upgrade changes no
    * postings bytes.
    */
  private[graft] def dblkOf(docId: Column, n: Int): Column = pmod(hash(docId), lit(n))

  private def fsFor(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def checkIndex(spark: SparkSession, dir: String): Unit =
    if (!fsFor(spark, dir).exists(new org.apache.hadoop.fs.Path(lexPath(dir))))
      throw new IllegalStateException(
        s"no BM25 index at $dir (missing lex/) — run Bm25Index.build first")

  private[graft] def withWriterLock[T](spark: SparkSession, dir: String)(body: => T): T = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sources.WriterLock.withLock(
      fs, graft.sources.WriterLock.lockPath(dir), s"Bm25Index $dir")(body)
  }

  /** Driver-side rows of a TINY metadata parquet table (`meta/`,
    * `stats/`: one row per build or mutation, single-digit KB) — a
    * direct parquet-hadoop read of each data file, NO Spark job. Every
    * probe-miss and every mutator used to pay a full job (plan +
    * schedule + task round trip) per 1-row read; at serving scale that
    * was the probe path's fixed latency floor, and the read is pure
    * driver work at any corpus size.
    */
  private def readTinyParquetRows(
      spark: SparkSession, dirStr: String): Seq[org.apache.parquet.example.data.Group] =
    graft.sources.TinyParquet.rows(spark.sparkContext.hadoopConfiguration, dirStr)

  /** Whether the dfd carries the (max_tf, min_dl) impact-bound columns
    * — ONE data-file footer read, driver-side (all dfd files written by
    * one generation share its schema; pre-bounds layouts simply lack
    * the fields). The probed footer is the LEXICOGRAPHICALLY FIRST
    * data file, not whatever the filesystem lists first: a pre-bounds
    * index that later receives bounds-writing appends holds mixed
    * schemas under dfd/, and an order-dependent pick would make the
    * pruned-vs-exhaustive routing nondeterministic across filesystems
    * (answers are identical either way — only the plan choice moves).
    */
  private def dfdHasBounds(spark: SparkSession, dir: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dfdPath(dir))
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return false
    val it = fs.listFiles(root, true)
    var file: org.apache.hadoop.fs.Path = null
    while (it.hasNext) {
      val st = it.next()
      val n = st.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".") &&
        (file == null || n.compareTo(file.getName) < 0)) file = st.getPath
    }
    if (file == null) false
    else {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        schema.containsField("max_tf") && schema.containsField("min_dl")
      } finally reader.close()
    }
  }

  private def readMeta(spark: SparkSession, dir: String): (Int, Option[Int]) = {
    val rows = readTinyParquetRows(spark, metaPath(dir))
    require(rows.nonEmpty, s"empty BM25 meta table at ${metaPath(dir)}")
    val g = rows.head
    val nTb = g.getInteger("n_tb", 0)
    val nDblk =
      if (g.getType.containsField("n_dblk") && g.getFieldRepetitionCount("n_dblk") > 0)
        Some(g.getInteger("n_dblk", 0))
      else None
    (nTb, nDblk)
  }

  private[graft] def readNTb(spark: SparkSession, dir: String): Int =
    readMeta(spark, dir)._1

  /** The frozen doc-block count, or None on a sidecar-less index (meta
    * lacks `n_dblk` — either a pre-sidecar layout or a `blockMax =
    * false` build) — mutators then skip the sidecar (a PARTIAL sidecar
    * would under-bound the uncovered postings and break rank-safety;
    * all-or-nothing is the invariant) and probes fall back to
    * term-granularity pruning. [[compact]]`(blockMax = Some(true))`
    * backfills the sidecar in place.
    */
  private[graft] def readNDblk(spark: SparkSession, dir: String): Option[Int] =
    readMeta(spark, dir)._2

  /** Driver-side delta sums over the tiny `stats/` table: (n_docs,
    * sum_dl, n_terms or -1 on a pre-vocab-delta layout, delta row
    * count) — one [[readTinyParquetRows]] pass, no Spark job. A MIXED
    * stats layout (some delta files carrying n_terms, some not — an
    * invariant violation only a mixed-version deployment can produce)
    * deterministically degrades to the pre-vocab path: ANY file without
    * the field flags the whole index (strictest-file-wins), where the
    * old one-footer schema sample answered by footer lottery.
    */
  private[graft] def statsSums(spark: SparkSession, dir: String): (Long, Long, Long, Long) = {
    val rows = readTinyParquetRows(spark, statsPath(dir))
    var nDocs = 0L; var sumDl = 0L; var nTerms = 0L; var hasTerms = true
    rows.foreach { g =>
      nDocs += g.getLong("n_docs", 0)
      sumDl += g.getLong("sum_dl", 0)
      if (g.getType.containsField("n_terms")) nTerms += g.getLong("n_terms", 0)
      else hasTerms = false
    }
    (nDocs, sumDl, if (hasTerms) nTerms else -1L, rows.length.toLong)
  }

  /** Per-(term, doc-block) df + impact-bound delta rows from a postings
    * frame — the Block-Max WAND sidecar (Ding & Suel 2011's per-block
    * maxima, kept as (max_tf, min_dl) so bounds stay probe-parameter-
    * free like the dfd's global pair). Deltas combine by sum/max/min
    * exactly like the dfd, so the sidecar stays EXACT through append,
    * merge and streaming; compact recomputes it from survivors. Rows
    * per mutation <= batch vocab x n_dblk — dfd-delta-shaped, never
    * corpus-shaped.
    */
  private[graft] def blockmaxOf(posts: DataFrame, nTb: Int, nDblk: Int): DataFrame =
    posts.groupBy(col("term"), dblkOf(col("doc_id"), nDblk).as("dblk"))
      .agg(count(lit(1)).as("df"), max("tf").as("max_tf"), min("dl").as("min_dl"))
      .withColumn("tb", tbOf(col("term"), nTb))

  /** The dfd delta and (when the index carries a sidecar) the blockmax
    * delta for a postings frame, in ONE corpus-sized aggregation: the
    * per-term dfd rows RE-AGGREGATE the per-(term, block) rows (counts
    * sum, max/min compose exactly — same values as aggregating the
    * postings directly), so the sidecar costs a vocab-x-blocks rollup
    * instead of a second pass over the postings. The blockmax frame is
    * pinned (localCheckpoint) because both the sidecar write and the
    * dfd derivation consume it.
    */
  private[graft] def dfDeltaFrames(
      posts: DataFrame, nTb: Int, nDblk: Option[Int]): (DataFrame, Option[DataFrame]) =
    nDblk match {
      case Some(n) =>
        val bm = blockmaxOf(posts, nTb, n).localCheckpoint()
        val dfd = bm.groupBy("term").agg(sum("df").as("df"),
            max("max_tf").as("max_tf"), min("min_dl").as("min_dl"))
          .withColumn("tb", tbOf(col("term"), nTb))
        (dfd, Some(bm))
      case None =>
        (posts.groupBy("term").agg(count(lit(1)).as("df"),
            max("tf").as("max_tf"), min("dl").as("min_dl"))
          .withColumn("tb", tbOf(col("term"), nTb)), None)
    }

  /** The term-bucket partition key — MUST be identical at build,
    * append and probe time (`n_tb` is frozen in `meta/` at build).
    */
  private[graft] def tbOf(term: Column, nTb: Int): Column = pmod(hash(term), lit(nTb))

  /** The `meta/` row for a (re)built generation: `n_dblk` present iff
    * the generation carries the Block-Max sidecar — its ABSENCE is the
    * layout signal every mutator and probe keys the all-or-nothing
    * invariant on.
    */
  private def writeMeta(
      spark: SparkSession, path: String, nTb: Int, blockMax: Boolean): Unit =
    // one row, driver-side ([[graft.sources.TinyParquet.writeFlatRow]])
    // — the Spark write paid a full job per build/compact
    graft.sources.TinyParquet.writeFlatRow(
      spark, path, overwrite = true,
      ints = Seq("n_tb" -> nTb) ++ (if (blockMax) Seq("n_dblk" -> NDblk) else Nil))

  /** Refresh the generation marker (`lex/_generation`) — ONE tiny file
    * whose content changes with every mutation, so [[generationStamp]]
    * is a single small read instead of four recursive directory
    * listings (an O(files) LIST per probe batch on an object store).
    * Called by every mutator under the writer lock, AFTER its data
    * writes land (a probe reading the old marker against new data just
    * rebuilds one generation late — the documented non-transactional
    * window); build/compact stage it inside the new `lex/` tree so the
    * atomic swap carries it. [[delete]] deliberately does NOT touch it:
    * probes re-read tombstones every call.
    */
  private[graft] def writeGenerationMarker(
      fs: org.apache.hadoop.fs.FileSystem, markerPath: String): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(markerPath), true)
    try out.write(java.util.UUID.randomUUID().toString.getBytes("UTF-8"))
    finally out.close()
  }

  /** (term, doc_id, tf, dl, meta...) of a document batch — the shared
    * tokenize + aggregate pass of [[build]] and [[append]], dl (and the
    * caller-declared filterable metadata columns) DENORMALIZED onto
    * every posting: the filtered-search layout trade [[AnnIndex]] makes
    * — attribute bytes duplicated per posting buy a [[topDocs]] filter
    * that applies during the pruned scan with zero probe-path joins.
    * One corpus-sized shuffle (the map-side-combined groupBy),
    * identical tokenization to [[Bm25.scores]].
    */
  private[graft] def postingsOf(
      docs: DataFrame, textCol: String, idCol: String,
      metaCols: Seq[String] = Nil): DataFrame = {
    // dl = size(tokens), stamped in the SAME pass that explodes them
    // (sum-of-tf per doc IS the token count — value-identical, and
    // batch-local dl equals union-corpus dl, the root of [[append]]'s
    // exactness). dl and the metadata columns ride the tf groupBy as
    // doc-functional keys, so the whole postings frame is ONE
    // tokenize pass + ONE map-side-combined shuffle — no per-doc
    // aggregation and no posting-sized join (the previous shape paid
    // both a dl groupBy and a tf-x-docSide join here).
    val toks = docs.select(
      Seq(col(idCol).cast("long").as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("__toks")) ++ metaCols.map(col): _*)
      .select(Seq(col("doc_id"), size(col("__toks")).cast("long").as("dl"),
        explode(col("__toks")).as("term")) ++ metaCols.map(col): _*)
    toks.groupBy(Seq(col("doc_id"), col("dl"), col("term")) ++ metaCols.map(col): _*)
      .agg(count(lit(1)).as("tf"))
      .select(Seq(col("term"), col("doc_id"), col("tf"), col("dl")) ++
        metaCols.map(col): _*)
  }

  /** The filterable metadata columns this index stores beside the
    * postings — everything in `postings/` that is not the term, the
    * ids/counters or the partition column (footer-only schema read).
    */
  private[graft] def indexMetaCols(spark: SparkSession, dir: String): Seq[String] = {
    val core = Set("term", "doc_id", "tf", "dl", "tb")
    spark.read.parquet(postingsPath(dir)).schema.fieldNames.toSeq.filterNot(core)
  }

  private[graft] def requireMeta(batch: DataFrame, meta: Seq[String], dir: String): Unit = {
    val missing = meta.filterNot(batch.columns.toSet)
    require(missing.isEmpty,
      s"batch is missing the index's metadata column(s) ${missing.mkString(", ")} " +
        s"(the BM25 index at $dir stores them beside every posting)")
  }

  /** Build the index at `dir` over `docs`, replacing any previous
    * generation with one atomic swap (probes mid-rebuild serve the old
    * complete index). Tombstones are generation state and clear with
    * the rebuild. Returns the indexed doc count.
    *
    * `blockMax` (default OFF): write the Block-Max `blockmax/` sidecar
    * (per-(term, doc-block) impact bounds — see [[topDocs]] step 2).
    * The sidecar roughly doubles every mutation's aggregation+write
    * cost, and its probe win only materializes on SKEWED corpora large
    * enough to clear the pruned pipeline's fixed costs (measured
    * break-even ~10⁶ docs on moderately skewed text; a small or
    * uniform-vocab corpus pays the write forever while the adaptive
    * gate correctly never uses the blocks) — so it is an explicit
    * opt-in, not a default tax. Flag-off indexes still carry the dfd's
    * GLOBAL per-term bounds and prune at term granularity; flipping
    * the flag later costs one [[compact]]`(blockMax = Some(true))`
    * backfill, no rebuild.
    *
    * Refuses an EMPTY corpus (zero docs — under the shared tokenizer
    * every doc yields at least one token, so zero postings means zero
    * docs): `partitionBy` over an empty frame writes zero part
    * files, so the postings table would have no parquet footer and
    * every later probe/append would die on schema inference — loud
    * here beats cryptic there. Refuses too to REBUILD a live index
    * with a different `nTb`: probes read `n_tb` from `meta/` and scan
    * `postings/` as separate non-atomic reads, so a probe racing a
    * bucket-function change would compute bucket ids with the old
    * `n_tb` over the new layout and silently return incomplete
    * candidates. Resizing requires retiring the index (delete the
    * directory) first — that makes the race loud (missing `lex/`)
    * instead of silent.
    */
  def build(
      docs: DataFrame,
      dir: String,
      nTb: Int = 64,
      textCol: String = "text",
      idCol: String = "doc_id",
      metaCols: Seq[String] = Nil,
      blockMax: Boolean = false): Long = {
    val spark = docs.sparkSession
    require(nTb > 0, s"nTb > 0: $nTb")
    val reserved = Set("term", "doc_id", "tf", "dl", "tb")
    require(metaCols.forall(c => !reserved(c) && c != idCol && c != textCol),
      s"metaCols collide with index columns: ${metaCols.mkString(", ")}")
    withWriterLock(spark, dir) {
      import spark.implicits._
      val fs = fsFor(spark, dir)
      if (fs.exists(new org.apache.hadoop.fs.Path(metaPath(dir)))) {
        val existing = readNTb(spark, dir)
        require(existing == nTb,
          s"rebuilding the live BM25 index at $dir with nTb=$nTb != its nTb=$existing " +
            "would change the bucket function under concurrent probes (a probe that read " +
            "the old n_tb would scan the new layout's wrong buckets and silently miss " +
            "candidates); delete the index directory first to resize")
      }
      val staging = new org.apache.hadoop.fs.Path(s"$dir/_build_tmp")
      fs.delete(staging, true)
      // postings feed three writes (postings, dfd, stats) — pin one
      // evaluation or the corpus tokenize+shuffle replays per branch.
      val posts = postingsOf(docs, textCol, idCol, metaCols)
        .withColumn("tb", tbOf(col("term"), nTb))
        .localCheckpoint()
      // Stats aggregation FIRST: its n_docs doubles as the emptiness
      // check (one job instead of a separate isEmpty round trip) —
      // the (n_docs, sum_dl) pair is needed below regardless.
      val (nDocs, sumDl) = statsAggOf(spark, posts)
      require(nDocs > 0,
        s"refusing to build an empty BM25 index at $dir (no docs, or no doc tokenizes " +
          "to any term): an empty partitioned postings table has no parquet footer and " +
          "every later probe/append would fail on schema inference")
      // Salt caps the layout at <= 8 files per term bucket while still
      // writing a hot bucket with 8-way parallelism (the AnnIndex.build
      // discipline). Term-sorted within each file (the Spark-native
      // impact ordering): parquet row groups get tight term min/max
      // stats and dictionary pages, so the probe's pushed `term IN`
      // filter skips every row group holding no query term — IO
      // bounded by the query terms' postings, not the bucket.
      posts
        .repartition(col("tb"), pmod(hash(col("doc_id")), lit(8)))
        .sortWithinPartitions("tb", "term")
        .write.mode("overwrite").partitionBy("tb")
        .parquet(s"$dir/_build_tmp/lex/postings")
      val (dfdDelta, bmDelta) = dfDeltaFrames(posts, nTb,
        if (blockMax) Some(NDblk) else None)
      // vocabulary = the dfd's row count (one row per term), observed
      // ON the dfd write itself — no read-back job at all
      val vocabObs = org.apache.spark.sql.Observation()
      dfdDelta
        .observe(vocabObs, count(lit(1)).as("n"))
        .repartition(col("tb"))
        .write.mode("overwrite").partitionBy("tb")
        .parquet(s"$dir/_build_tmp/lex/dfd")
      bmDelta.foreach(
        _.repartition(col("tb")).sortWithinPartitions("tb", "term")
          .write.mode("overwrite").partitionBy("tb")
          .parquet(s"$dir/_build_tmp/lex/blockmax"))
      val vocab = vocabObs.get("n").asInstanceOf[Long]
      writeStatsRow(spark, s"$dir/_build_tmp/lex/stats", "overwrite",
        nDocs, sumDl, nTerms = vocab)
      writeMeta(spark, s"$dir/_build_tmp/lex/meta", nTb, blockMax)
      writeGenerationMarker(fs, s"$dir/_build_tmp/lex/_generation")
      graft.sources.SwapHooks.preSwap(dir)
      graft.sources.BucketedLayout.swapDir(fs,
        new org.apache.hadoop.fs.Path(s"$dir/_build_tmp/lex"),
        new org.apache.hadoop.fs.Path(lexPath(dir)),
        new org.apache.hadoop.fs.Path(s"$dir/_build_old"))
      // Generation state: a rebuild starts with every given doc live,
      // and a fresh stream restarts batchIds at 0 — stale markers would
      // silently skip its first batches.
      tombstones(spark, dir).clear()
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_stream_commits"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_stream_staging"), true)
      fs.delete(staging, true)
      invalidateProbeCache(dir)
      nDocs
    }
  }

  /** One (n_docs, sum_dl, n_terms) stats delta from a postings frame.
    * Returns the doc count. `sum_dl` sums each doc's length ONCE (dl
    * rides on every posting row, so the per-doc row set is distinct'd
    * first — (doc_id, dl) is functionally dependent, the distinct is
    * exact). `nTerms` is the caller's NEW-to-the-index term count —
    * whole vocab at build/compact, the anti-joined novelty count at
    * append/merge/stream — so the vocabulary, though not itself
    * additive (batches share terms), stays EXACTLY recoverable as a
    * delta sum and [[stats]] never scans a data table for it.
    */
  private[graft] def writeStatsDelta(
      spark: SparkSession, posts: DataFrame, path: String, mode: String,
      nTerms: Long): Long = {
    val (nDocs, sumDl) = statsAggOf(spark, posts)
    writeStatsRow(spark, path, mode, nDocs, sumDl, nTerms)
    nDocs
  }

  /** The (n_docs, sum_dl) pair of a postings frame — one aggregation
    * over the distinct per-doc rows ((doc_id, dl) is functionally
    * dependent, so the distinct is exact). coalesce: sum over an EMPTY
    * frame is null (an empty streaming micro-batch must record a
    * (0, 0) delta, not NPE).
    */
  private[graft] def statsAggOf(spark: SparkSession, posts: DataFrame): (Long, Long) = {
    import spark.implicits._
    posts.select($"doc_id", $"dl").distinct()
      .agg(count(lit(1)).as("n_docs"), coalesce(sum($"dl"), lit(0L)).as("sum_dl"))
      .as[(Long, Long)].head()
  }

  private[graft] def writeStatsRow(
      spark: SparkSession, path: String, mode: String,
      nDocs: Long, sumDl: Long, nTerms: Long): Unit =
    // one row, driver-side ([[graft.sources.TinyParquet.writeFlatRow]])
    // — the Spark write paid a full job per build/append/merge/compact
    graft.sources.TinyParquet.writeFlatRow(
      spark, path, overwrite = mode == "overwrite",
      longs = Seq("n_docs" -> nDocs, "sum_dl" -> sumDl, "n_terms" -> nTerms))

  /** Count of `batchTerms` (a distinct single-column `term` frame) NOT
    * already present in the index's dfd — the vocabulary-novelty delta
    * [[writeStatsDelta]] records for append/merge/stream. The dfd scan
    * prunes to the batch terms' buckets (bounded by nTb) and the
    * anti-join output is batch-vocab-sized; nothing corpus-shaped
    * moves. MUST run BEFORE the batch's own dfd rows land (the anti
    * would otherwise see the batch itself and count zero) — except for
    * a REDELIVERED streamed batch, whose earlier attempt may already
    * have installed its dfd file under the deterministic
    * `b<batchId>.parquet` name: `excludeBatch` masks exactly that file
    * out of the read, so the recount matches what the crashed attempt
    * computed and the deterministic-name stats replace stays exact.
    */
  private[graft] def newTermCount(
      spark: SparkSession, dir: String, batchTerms: DataFrame, nTb: Int,
      excludeBatch: Option[Long] = None): Long = {
    import spark.implicits._
    val tbs = batchTerms.select(tbOf(col("term"), nTb).as("tb"))
      .distinct().as[Int].collect().sorted
    val scan = spark.read.parquet(dfdPath(dir))
      .filter(col("tb").isin(tbs.map(Integer.valueOf).toIndexedSeq: _*))
    val existing = excludeBatch
      .fold(scan)(id => scan.filter(!input_file_name().endsWith(s"b$id.parquet")))
      .select("term")
    batchTerms.join(existing, Seq("term"), "left_anti").count()
  }

  /** Loud shape check for mutators appending stats deltas: an index
    * whose stats table predates the vocab-delta column must be rebuilt
    * (compact would also rewrite it) — silently appending 3-column
    * deltas beside 2-column ones corrupts every later stats read.
    */
  private[graft] def requireStatsHasTerms(spark: SparkSession, dir: String): Unit =
    require(statsSums(spark, dir)._3 >= 0L,
      s"the BM25 index at $dir was built before vocabulary deltas were tracked " +
        "(stats/ lacks n_terms) — rebuild or compact it before appending")

  /** Append a document batch — EXACT, not drift-accruing: every stored
    * quantity is additive (per-doc tf/dl rows, per-term df counts, the
    * (n_docs, sum_dl) pair), so after this call the index answers
    * bit-identically to one built from scratch on the union corpus.
    * Doc ids must be new to the index ([[AnnIndex.append]]'s contract;
    * re-appending an id would double-count its df). Each table's append
    * is job-atomic but the three-table composite is not — a crash
    * between them leaves the batch partially weighted until re-run
    * (the [[AnnIndex.append]] batch semantics; drivers that need a
    * crash-exact install use [[graft.streaming.StreamingBm25Ingest]],
    * whose staged deterministic-name protocol replaces rather than
    * duplicates). Returns the batch doc count.
    */
  def append(
      spark: SparkSession,
      dir: String,
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): Long = withWriterLock(spark, dir) {
    checkIndex(spark, dir)
    requireStatsHasTerms(spark, dir)
    val nTb = readNTb(spark, dir)
    val meta = indexMetaCols(spark, dir)
    requireMeta(docs, meta, dir)
    val posts = postingsOf(docs, textCol, idCol, meta)
      .withColumn("tb", tbOf(col("term"), nTb))
      .localCheckpoint() // the staged writes share one evaluation
    // vocabulary novelty BEFORE the batch's dfd rows land
    val newTerms = newTermCount(spark, dir, posts.select("term").distinct(), nTb)
    // The Block-Max sidecar lands BEFORE the postings: a crash between
    // the two leaves orphan sidecar rows, which only OVER-bound (less
    // pruning, same answers) — postings visible without their sidecar
    // coverage would under-bound and silently drop true top-k docs.
    val (dfdDelta, bmDelta) = dfDeltaFrames(posts, nTb, readNDblk(spark, dir))
    bmDelta.foreach(
      _.repartition(col("tb")).sortWithinPartitions("tb", "term")
        .write.mode("append").partitionBy("tb").parquet(blockmaxPath(dir)))
    posts.repartition(col("tb")).sortWithinPartitions("tb", "term")
      .write.mode("append").partitionBy("tb").parquet(postingsPath(dir))
    dfdDelta
      .repartition(col("tb"))
      .write.mode("append").partitionBy("tb").parquet(dfdPath(dir))
    val n = writeStatsDelta(spark, posts, statsPath(dir), "append", nTerms = newTerms)
    writeGenerationMarker(fsFor(spark, dir), generationMarkerPath(dir))
    invalidateProbeCache(dir)
    n
  }

  /** Tombstone indexed docs — the takedown path. A tombstoned doc is
    * never returned by [[topDocs]] from the moment this returns; its
    * postings (and its weight in df/avgdl/N — scores of OTHER docs
    * drift by that much) are physically retired at the next [[compact]].
    * Ids not present in the index are ignored and ids already
    * tombstoned count once ([[AnnIndex.delete]]'s semantics). Returns
    * the count of distinct ids newly tombstoned.
    */
  def delete(
      spark: SparkSession,
      dir: String,
      ids: DataFrame,
      idCol: String = "doc_id"): Long = withWriterLock(spark, dir) {
    checkIndex(spark, dir)
    // One column-pruned semi scan of the postings' doc_id column; the
    // distinct is takedown-bounded (post-semi).
    tombstones(spark, dir).add(spark.read.parquet(postingsPath(dir)).select("doc_id")
      .join(Tombstones.requested(ids, idCol, "doc_id"), Seq("doc_id"), "left_semi")
      .distinct())
  }

  private def tombstones(spark: SparkSession, dir: String): Tombstones =
    new Tombstones(spark, s"$dir/tombstones", Tombstones.longKey("doc_id"))

  /** Physically retire tombstoned docs and re-collapse the delta
    * tables: ONE job per table (postings minus tombstones, df and
    * stats recomputed exactly from the surviving postings), each staged
    * and swapped under the `lex/` root in one atomic rename — after
    * this, scores equal a fresh [[build]] on the surviving corpus.
    * Also the small-file play: thousands of appended batches collapse
    * back to <= 8 files per term bucket. Refuses to compact an index
    * down to ZERO live docs (every doc tombstoned) — the rewrite would
    * install a postings table with no parquet footer and every later
    * read would die on schema inference; retire the index (delete the
    * directory) instead. Returns the surviving doc count.
    *
    * `blockMax`: `None` (default) preserves the index's current
    * sidecar state; `Some(true)` BACKFILLS the Block-Max sidecar over
    * the surviving postings (the lazy upgrade path for a
    * [[build]]`(blockMax = false)` index — one flag flip at the
    * compaction the index was due for anyway, no rebuild);
    * `Some(false)` drops it (the swap installs a `lex/` without
    * `blockmax/`, and later mutators follow the meta). Either way the
    * all-or-nothing invariant holds: the sidecar after compact covers
    * exactly the surviving postings or does not exist.
    */
  def compact(
      spark: SparkSession,
      dir: String,
      blockMax: Option[Boolean] = None): Long = withWriterLock(spark, dir) {
    checkIndex(spark, dir)
    val fs = fsFor(spark, dir)
    val nTb = readNTb(spark, dir)
    import spark.implicits._
    // Refuse to compact over an UNCOMMITTED streamed batch (a
    // `b<id>.parquet` whose marker is absent — a crashed attempt
    // pending redelivery): the rewrite would merge its rows into the
    // fresh generation AND destroy the deterministic name the retry
    // replaces, so the redelivery would install a second copy. Loud +
    // retryable, the [[AnnIndex.compact]] contract.
    val batchFile = "b(\\d+)\\.parquet".r
    val tableFiles: Seq[org.apache.hadoop.fs.FileStatus] =
      Seq(postingsPath(dir), dfdPath(dir), blockmaxPath(dir))
        .map(new org.apache.hadoop.fs.Path(_))
        .filter(fs.exists) // pre-sidecar indexes have no blockmax/
        .flatMap(root => fs.listStatus(root).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("tb="))
          .flatMap(td => fs.listStatus(td.getPath).toSeq)) ++
        fs.listStatus(new org.apache.hadoop.fs.Path(statsPath(dir))).toSeq
    val pending = tableFiles
      .flatMap(st => batchFile.findFirstMatchIn(st.getPath.getName).map(_.group(1)))
      .distinct
      .filterNot(id => fs.exists(
        new org.apache.hadoop.fs.Path(s"$dir/_stream_commits/$id")))
    if (pending.nonEmpty)
      throw new IllegalStateException(
        s"compact: uncommitted streamed batch(es) ${pending.mkString(", ")} present " +
          "— a crashed ingest attempt is pending redelivery; let the stream recover, then compact")
    val staging = new org.apache.hadoop.fs.Path(s"$dir/_compact_tmp")
    fs.delete(staging, true)
    val tombs = tombstones(spark, dir)
    val live = tombs.minus(spark.read.parquet(postingsPath(dir))).localCheckpoint()
    // Stats aggregation FIRST: its n_docs doubles as the zero-live
    // check (one job instead of a separate isEmpty round trip).
    val (nDocs, sumDl) = statsAggOf(spark, live)
    if (nDocs == 0)
      throw new IllegalStateException(
        s"refusing to compact the BM25 index at $dir down to zero live docs (every doc " +
          "is tombstoned): the rewrite would install a postings table with no parquet " +
          "footer; delete the index directory instead")
    live.repartition(col("tb"), pmod(hash(col("doc_id")), lit(8)))
      .sortWithinPartitions("tb", "term")
      .write.mode("overwrite").partitionBy("tb")
      .parquet(s"$dir/_compact_tmp/lex/postings")
    // Sidecar from survivors (the dfd re-aggregates its rollup) — this
    // is where a Some(true) compact UPGRADES a sidecar-less index
    // (fresh meta below declares n_dblk) and where a tombstoned
    // outlier posting stops inflating its block's bound. None keeps
    // whatever the index had.
    val wantBlocks = blockMax.getOrElse(readNDblk(spark, dir).isDefined)
    val (dfdDelta, bmDelta) = dfDeltaFrames(live, nTb,
      if (wantBlocks) Some(NDblk) else None)
    // fresh-generation vocabulary (one row per surviving term — this
    // is also where a tombstoned-out term leaves the count), observed
    // ON the dfd write itself — no read-back job
    val vocabObs = org.apache.spark.sql.Observation()
    dfdDelta
      .observe(vocabObs, count(lit(1)).as("n"))
      .repartition(col("tb"))
      .write.mode("overwrite").partitionBy("tb")
      .parquet(s"$dir/_compact_tmp/lex/dfd")
    bmDelta.foreach(
      _.repartition(col("tb")).sortWithinPartitions("tb", "term")
        .write.mode("overwrite").partitionBy("tb")
        .parquet(s"$dir/_compact_tmp/lex/blockmax"))
    val vocab = vocabObs.get("n").asInstanceOf[Long]
    writeStatsRow(spark, s"$dir/_compact_tmp/lex/stats", "overwrite",
      nDocs, sumDl, nTerms = vocab)
    writeMeta(spark, s"$dir/_compact_tmp/lex/meta", nTb, wantBlocks)
    writeGenerationMarker(fs, s"$dir/_compact_tmp/lex/_generation")
    graft.sources.SwapHooks.preSwap(dir)
    graft.sources.BucketedLayout.swapDir(fs,
      new org.apache.hadoop.fs.Path(s"$dir/_compact_tmp/lex"),
      new org.apache.hadoop.fs.Path(lexPath(dir)),
      new org.apache.hadoop.fs.Path(s"$dir/_compact_old"))
    tombs.clear()
    fs.delete(staging, true)
    invalidateProbeCache(dir)
    nDocs
  }

  /** Merge another BM25 index INTO this one — shard consolidation
    * (per-crawl lexical indexes folded into the serving one). Because
    * everything is additive, the merge is EXACT like [[append]]: the
    * other index's live postings enter as one batch, df and stats
    * deltas recomputed from those surviving rows (the other's own
    * tombstones are honored; its pending stat drift does NOT transfer).
    * Doc ids must be disjoint from this index's. `other` is read-only.
    * Returns the number of docs merged in.
    */
  def merge(spark: SparkSession, dir: String, otherDir: String): Long =
    withWriterLock(spark, dir) {
      checkIndex(spark, dir)
      checkIndex(spark, otherDir)
      requireStatsHasTerms(spark, dir)
      val nTb = readNTb(spark, dir)
      val meta = indexMetaCols(spark, dir)
      val otherPosts = spark.read.parquet(postingsPath(otherDir))
      requireMeta(otherPosts, meta, dir)
      val live = tombstones(spark, otherDir).minus(otherPosts)
        .select(Seq(col("term"), col("doc_id"), col("tf"), col("dl")) ++
          meta.map(col): _*)
        .withColumn("tb", tbOf(col("term"), nTb)) // THIS index's bucketing
        .localCheckpoint()
      // vocabulary novelty (the other's LIVE terms not already here)
      // BEFORE its dfd rows land
      val newTerms = newTermCount(spark, dir, live.select("term").distinct(), nTb)
      // Sidecar recomputed from the other's LIVE rows under THIS
      // index's block function (doc-hash — index-independent, so the
      // other index's own sidecar state is irrelevant); before the
      // postings, the [[append]] crash-ordering argument. The dfd
      // delta re-aggregates the sidecar rollup — one corpus-sized
      // aggregation, not two.
      val (dfdDelta, bmDelta) = dfDeltaFrames(live, nTb, readNDblk(spark, dir))
      bmDelta.foreach(
        _.repartition(col("tb")).sortWithinPartitions("tb", "term")
          .write.mode("append").partitionBy("tb").parquet(blockmaxPath(dir)))
      live.repartition(col("tb")).sortWithinPartitions("tb", "term")
        .write.mode("append").partitionBy("tb").parquet(postingsPath(dir))
      dfdDelta
        .repartition(col("tb"))
        .write.mode("append").partitionBy("tb").parquet(dfdPath(dir))
      val n = writeStatsDelta(spark, live, statsPath(dir), "append", nTerms = newTerms)
      writeGenerationMarker(fsFor(spark, dir), generationMarkerPath(dir))
      invalidateProbeCache(dir)
      n
    }

  /** Operational snapshot: live docs, distinct terms (vocabulary),
    * postings data files (the [[compact]] trigger — each appended
    * batch adds up to n_tb files), stat deltas pending collapse, and
    * tombstones pending physical retirement.
    *
    * METADATA-ONLY by construction: docs and terms are delta sums from
    * the tiny `stats/` table ([[writeStatsDelta]] records each
    * mutation's vocabulary NOVELTY, so the non-additive "distinct
    * terms" is still an exact additive sum), file counts are listings,
    * tombstones a takedown-sized count — no postings or dfd data scan
    * at any corpus size. Like `docs` vs pending takedowns' df drift,
    * `terms` counts a term whose docs are all tombstoned until
    * [[compact]] physically retires it.
    */
  final case class IndexStats(
      docs: Long,
      terms: Long,
      dataFiles: Long,
      statDeltas: Long,
      tombstones: Long)

  def stats(spark: SparkSession, dir: String): IndexStats = {
    checkIndex(spark, dir)
    val fs = fsFor(spark, dir)
    val root = new org.apache.hadoop.fs.Path(postingsPath(dir))
    val files = fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("tb="))
      .map(td => fs.listStatus(td.getPath).count { st =>
        st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith(".")
      }.toLong).sum
    import spark.implicits._
    // Delta sums come from the driver-side tiny-table read (no Spark
    // job). Pre-vocab-delta layouts (2-column stats/, n_terms = -1)
    // degrade gracefully like [[topDocs]] does on pre-bounds dfd
    // layouts — a read-only snapshot must not fail where only MUTATORS
    // (requireStatsHasTerms) must: the vocabulary falls back to one
    // distinct-term pass over the dfd.
    val (nDocs, _, nTermsSum, statDeltas) = statsSums(spark, dir)
    val nTerms =
      if (nTermsSum >= 0L) nTermsSum
      else spark.read.parquet(dfdPath(dir))
        .agg(count_distinct($"term")).as[Long].head()
    val tombCount = tombstones(spark, dir).count()
    IndexStats(
      docs = nDocs - tombCount,
      terms = nTerms,
      dataFiles = files,
      statDeltas = statDeltas,
      tombstones = tombCount)
  }

  /** The `k` best docs per query against the persisted index:
    * (query_id, doc_id, rank, score_micro) — bit-identical to
    * [[Bm25.topDocs]] over the indexed corpus (same tokenization, same
    * shared integer micro-point expression trees, same bounded-heap
    * ranking). k1/b are free probe-time knobs: the index stores raw
    * tf/dl/df.
    *
    * Probe shape: the query terms' bucket ids (bounded by the distinct
    * query-term count) collect to a static partition filter, so the
    * postings and dfd scans read ONLY buckets that can hold a query
    * term; the query-term frame and the query-term-sized idf table
    * broadcast (guarded — past the guard the join falls back to a
    * shuffle of the pruned candidate stream); the one aggregation is
    * candidate-sized. Nothing corpus-sized shuffles, and probe cost is
    * bounded by the batch's term selectivity, not the corpus.
    *
    * `filter`: optional predicate over the index's metadata columns
    * (stored via [[build]]'s `metaCols` beside every posting — the
    * [[AnnIndex.topK]] filtered-search contract): "top-k among docs
    * WHERE lang = 'en'". Applied to the postings scan itself, so
    * Catalyst pushes it into the partition-pruned parquet read and
    * excluded docs never become candidates. Corpus statistics (df,
    * avgdl, N) stay GLOBAL — surviving docs keep their unfiltered
    * scores, so the result is exactly the unfiltered ranking with
    * non-matching docs removed (replayable by post-filtering a global
    * score table).
    *
    * `maxDfFrac` (< 1.0 to enable): drop query terms whose corpus df
    * exceeds this fraction of N before candidate generation — the
    * stopword cap. A term in most documents fans every probe out by
    * ~the corpus while its idf (and thus its score contribution) is
    * near zero micro-points; capping bounds candidate work at
    * O(queries · maxDfFrac · N) worst-case. Scores then differ from
    * the uncapped ranking by exactly the dropped terms' (tiny)
    * contributions — an explicit, opt-in trade.
    *
    * `prune` (default on): MaxScore-style RANK-SAFE dynamic pruning
    * (Turtle & Flood 1995), the serving-grade answer to the one probe
    * cost that is otherwise corpus-shaped — without it every posting
    * of every query term is scored, so a common term means an
    * O(df) ≈ O(corpus) aggregation per batch. With it:
    *
    *   1. SEED a per-query threshold θ: exactly score only the 2
    *      highest-impact terms per query (impact bound = contrib at
    *      the dfd's (max_tf, min_dl) — ≥ every real posting of the
    *      term since the contribution is increasing in tf, decreasing
    *      in dl); θ = the k-th best seed score. Any doc's true score
    *      only exceeds its partial, so ≥ k docs truly score ≥ θ.
    *   2. SPLIT terms per query AND per doc-block (Block-Max WAND,
    *      Ding & Suel 2011, over the `blockmax/` sidecar's per-(term,
    *      block) bounds): for each of the [[NDblk]] doc-hash blocks,
    *      the maximal ascending-block-impact prefix whose bound-sum
    *      stays BELOW θ is non-essential THERE — a doc in block β
    *      matching only β-non-essential terms scores ≤ that prefix
    *      sum < θ and cannot reach the top k. Candidate generation
    *      scans only essential (term, block) postings — each pair row
    *      carries its essential blocks as ONE 64-bit mask, tested
    *      in-scan against `pmod(hash(doc_id), n_dblk)`. The global
    *      per-term bound is outlier-fragile (one spammy tf-50 posting
    *      keeps its term essential corpus-wide); block bounds confine
    *      the outlier to its block, so a common term's postings drop
    *      out everywhere the block maxima are typical.
    *   3. TIGHTEN θ to the k-th essential partial, drop candidates
    *      whose partial + Σ of their OWN block's non-essential bounds
    *      < θ (the block-refined slack — tighter than the global
    *      tail), and complete ONLY the survivors' scores against the
    *      non-essential (term, block) postings (semi-joined during
    *      the scan — candidate-bounded aggregation,
    *      columnar-scan-speed IO).
    *
    * Every survivor's final score is the exact full sum, the true
    * top-k provably survives every cut, and ties rank identically —
    * so the output is BIT-IDENTICAL to the exhaustive probe (the
    * parity spec randomizes corpora over both paths; the oracle
    * queries run with pruning on). Probes with fewer than
    * [[PruneMinPostings]] total query-term postings (the seed round
    * trips would cost more than they save), or more than
    * [[PruneMaxQueryPairs]] (query, term) pairs (the planner's driver
    * state must stay batch-bounded; the exhaustive path's is
    * O(distinct terms)), or against a pre-bounds index layout, take
    * the exhaustive path — same answer every way. Pre-sidecar indexes
    * (no `blockmax/`) and batches past [[BlockSplitMaxPairs]] pairs
    * split at term granularity (one virtual block) — the r13
    * behavior, same answer again.
    */
  def topDocs(
      spark: SparkSession,
      dir: String,
      queries: DataFrame,
      k: Int,
      k1: Double = 1.5,
      b: Double = 0.75,
      queryTextCol: String = "text",
      queryIdCol: String = "query_id",
      filter: Option[Column] = None,
      maxDfFrac: Double = 1.0,
      prune: Boolean = true): DataFrame =
    topDocsWithReport(spark, dir, queries, k, k1, b, queryTextCol, queryIdCol,
      filter, maxDfFrac, prune)._1

  /** [[topDocs]] plus this call's [[ProbeReport]] — the observability
    * surface a serving deployment reads (the `lastProbe*` globals are
    * deprecated racy mirrors of the same fields).
    */
  def topDocsWithReport(
      spark: SparkSession,
      dir: String,
      queries: DataFrame,
      k: Int,
      k1: Double = 1.5,
      b: Double = 0.75,
      queryTextCol: String = "text",
      queryIdCol: String = "query_id",
      filter: Option[Column] = None,
      maxDfFrac: Double = 1.0,
      prune: Boolean = true): (DataFrame, ProbeReport) = {
    require(k >= 1, s"k must be >= 1: $k")
    require(k1 > 0 && b >= 0 && b <= 1, s"bad BM25 params: k1=$k1, b=$b")
    require(maxDfFrac > 0 && maxDfFrac <= 1.0, s"maxDfFrac must be in (0, 1]: $maxDfFrac")
    checkIndex(spark, dir)
    val rep = new ReportState
    // One stamped cache entry answers what used to be four small reads
    // per probe (meta, stats sums, dfd schema, and — on the pruned
    // path — the per-term dfd/blockmax collects).
    val entry = probeEntry(spark, dir, rep)
    val nTb = entry.nTb
    // LAZY (not checkpointed here): the pruned path consumes it as ONE
    // bounded collect, the exhaustive path pins it itself — pinning
    // here paid a materialization job even on the path that never
    // re-evaluates it.
    val qt = queries.select(
      col(queryIdCol).cast("long").as("query_id"),
      explode(TextAnalysis.tokens(col(queryTextCol))).as("term"))
      .distinct()
    // Corpus stats: deltas sum exactly and collect driver-side (ONE
    // row, inlined as literals — a 1-row crossJoin would plan the
    // BroadcastNestedLoopJoin the plan audit bans); avgdl's division
    // is the same IEEE op as the one-shot's.
    val nDocs = entry.nDocs
    val avgdl = if (nDocs == 0) 1.0 else entry.sumDl.toDouble / nDocs.toDouble
    // Pre-bounds index layouts (no max_tf/min_dl in dfd) can't bound
    // impacts — exhaustive, as before the sidecar existed.
    val out =
      if (!prune || !entry.hasBounds)
        topDocsExhaustive(spark, dir, k, k1, b, filter, maxDfFrac, nTb, qt, nDocs,
          avgdl, rep)
      else
        topDocsPruned(spark, dir, k, k1, b, filter, maxDfFrac, nTb, qt, nDocs, avgdl,
          entry, rep)
    val report = rep.report
    // deprecated global mirrors, written once per call
    lastProbePath = report.path
    lastProbeStampHit = report.stampHit
    lastProbeTermsScanned = report.termsScanned
    lastProbeDemotedPairs = report.demotedPairs
    lastProbePartialMaskPairs = report.partialMaskPairs
    (out, report)
  }

  /** Below this many total query-term postings the exhaustive probe is
    * taken even with `prune` on — the pruned path's extra driver round
    * trips (seed + threshold collects) cost more than scoring every
    * posting of a small candidate set. A VAR only so the parity spec
    * can force pruning on spec-sized corpora; production never writes
    * it. The gate reads only deterministic index state (df sums), so
    * either way the answer is identical. 10k ≈ the point where one
    * aggregation task's worth of postings outweighs two driver round
    * trips — low enough that the sf0.01 DuckDB correctness gate runs
    * the PRUNED path (rank-safety held to the hash gate, not just the
    * parity spec).
    */
  private[graft] var PruneMinPostings: Long = 10000L

  /** The pruned pipeline's FIXED wall-clock cost — seed + threshold
    * driver round trips, 2-3 localCheckpoints, a ~12-stage plan —
    * expressed in SKIPPABLE POSTING ROWS at the exhaustive
    * aggregation's measured throughput: unless the batch's estimated
    * skippable postings exceed this floor, the exhaustive path's
    * variable cost is lower than the pruned pipeline's fixed cost
    * even at a high skip FRACTION (the relative criterion alone
    * routes mid-size skewed corpora pruned and loses wall-clock to a
    * sub-second exhaustive aggregation). Calibrated from the
    * `graft.tools.Profile bm25` sweep (BENCH_NOTES §19): on this
    * class of box the pruned pipeline floors at ~2-4 s while the
    * exhaustive path aggregates roughly 1-2 M postings/s through the
    * same scan+join kernel, so the crossover sits at ~2-5 M skippable
    * rows across both measured skew shapes. A VAR only so specs and
    * the sweep tool can force the route; production never writes it.
    */
  private[graft] var PruneFixedCostRows: Long = 2000000L

  /** Above this many (query, term) pairs the pruned path routes
    * exhaustive BEFORE collecting anything pair-shaped: its planner
    * holds the pair list plus per-query splits on the driver
    * (batch-bounded by design, but a RetrievalEval-scale million-query
    * batch x 10 terms is ~10^7 driver tuples), while the exhaustive
    * path's driver state is O(distinct terms). The gate reads only a
    * count, so either route returns identical rows. A VAR only so the
    * spec can force the route on spec-sized batches.
    */
  private[graft] var PruneMaxQueryPairs: Long = 2000000L

  /** Above this many (query, term) pairs the per-(query, block) split
    * collapses to term granularity (one virtual block): the split
    * sorts each query's terms once per doc-block, so its driver cost
    * is pairs x [[NDblk]] x log(terms) — bounded here to keep planning
    * in the low milliseconds. Identical rows either way (block bounds
    * only shrink the scanned posting set, never the answer).
    */
  private[graft] var BlockSplitMaxPairs: Long = 65536L

  /** Per-call probe diagnostics, returned by [[topDocsWithReport]]:
    * the route the planner took ("pruned" / "exhaustive"), whether the
    * generation stamp hit the probe cache, how many query terms (and
    * block-bound terms) the call still had to fetch from the dfd /
    * blockmax (0 = the serving steady state), how many (query, term)
    * pairs had doc-blocks demoted and how many masks were PARTIAL (the
    * signature of block-granularity pruning), and how many terms fell
    * back to the global bound because their sidecar coverage
    * cross-check failed (nonzero = a mixed-version mutator wrote
    * postings without sidecar rows — rank-safety held, pruning lost).
    * A value, not shared state — safe under concurrent probes, unlike
    * the deprecated `lastProbe*` globals it replaces.
    */
  final case class ProbeReport(
      path: String,
      stampHit: Boolean,
      termsScanned: Long,
      blockTermsScanned: Long,
      demotedPairs: Long,
      partialMaskPairs: Long,
      coverageFallbackTerms: Long)

  /** Mutable accumulator one [[topDocsWithReport]] call threads through
    * its private phases; never shared across calls.
    */
  private final class ReportState {
    var path: String = ""
    var stampHit: Boolean = false
    var termsScanned: Long = -1L
    var blockTermsScanned: Long = 0L
    var demotedPairs: Long = -1L
    var partialMaskPairs: Long = -1L
    var coverageFallbackTerms: Long = 0L
    def report: ProbeReport = ProbeReport(path, stampHit, termsScanned,
      blockTermsScanned, demotedPairs, partialMaskPairs, coverageFallbackTerms)
  }

  /** Deprecated process-global mirror of the LAST probe's report —
    * racy under concurrent probes by construction; kept only so older
    * callers keep compiling. Read [[topDocsWithReport]]'s return value
    * instead. Never read by product logic.
    */
  @volatile private[graft] var lastProbePath: String = ""

  // ------------------------------------------------- probe-stats cache

  /** Per-index probe cache, generation-stamped: repeated probes against
    * an unchanged index skip the meta/stats/dfd-schema reads and the
    * per-term dfd/blockmax collects — the standing latency floor of a
    * serving loop (every [[topDocs]] call used to pay ~4 small Spark
    * jobs before touching a posting). The generation stamp is the
    * `lex/_generation` marker's content — every mutator rewrites it
    * under the writer lock, so the check is ONE small read per probe
    * (see [[generationStamp]] for the marker-less listing fallback).
    * [[delete]] touches only `tombstones/`, which probes correctly
    * re-read every call (takedown immediacy), so it does not — and
    * must not — refresh the marker or invalidate. In-JVM mutators
    * also invalidate eagerly ([[invalidateProbeCache]]) so a
    * same-process probe never even pays a stamp mismatch;
    * cross-process mutations are caught by the stamp, with one
    * accepted single-probe mixed-generation window
    * ([[revalidateAfterScan]]). Entries accumulate only PROBED terms
    * (query-vocabulary-sized, never the corpus vocabulary), capped by
    * [[ProbeCacheMaxTerms]]/[[ProbeCacheMaxBlockTerms]]; absent terms
    * cache as None so unknown-term queries don't rescan either.
    */
  private final class ProbeCacheEntry(
      val stamp: String,
      val nTb: Int,
      val nDblk: Option[Int],
      val hasBounds: Boolean,
      val nDocs: Long,
      val sumDl: Long) {
    /** term -> Some((df, max_tf, min_dl, tb, idf_micro)) or None =
      * known absent from the index. idf_micro is the shared
      * [[Bm25.idfMicro]] expression's output for THIS generation's
      * nDocs (entries never outlive their stamp, so it can't go
      * stale).
      */
    val terms = new scala.collection.concurrent.TrieMap[
      String, Option[(Long, Long, Long, Int, Long)]]()
    /** term -> its (dblk, df, max_tf, min_dl) sidecar rows; empty =
      * scanned and found none (the probe then falls back to the
      * GLOBAL bound for every block — always valid).
      */
    val blocks = new scala.collection.concurrent.TrieMap[
      String, Array[(Int, Long, Long, Long)]]()
    /** Bound both maps BEFORE an insert round would push them past
      * their cap: a long-lived serving JVM probing an unbounded (and
      * adversarial — absent-term None entries are attacker-controlled
      * typo space) query vocabulary must hold O(cap) driver memory,
      * not O(distinct terms ever probed). A full clear, not LRU: the
      * maps are lock-free TrieMaps shared by concurrent probes, cap
      * overflow is a rare regime (a query vocabulary wider than the
      * cap), and a flush only costs the next probes one re-scan.
      */
    def admit(nTerms: Int, nBlockTerms: Int): Unit = {
      if (nTerms > 0 && terms.size + nTerms > ProbeCacheMaxTerms) terms.clear()
      if (nBlockTerms > 0 && blocks.size + nBlockTerms > ProbeCacheMaxBlockTerms)
        blocks.clear()
    }
  }

  /** Caps on a cache entry's per-term maps (vars only for the bound
    * spec). Terms entries are ~100 B; block entries carry up to
    * [[NDblk]] tuples (~2 KB worst case) — the defaults bound a
    * serving JVM at low tens of MB per index.
    */
  private[graft] var ProbeCacheMaxTerms: Int = 1 << 17
  private[graft] var ProbeCacheMaxBlockTerms: Int = 1 << 14

  private val probeCache =
    new java.util.concurrent.ConcurrentHashMap[String, ProbeCacheEntry]()

  private[graft] def invalidateProbeCache(dir: String): Unit = probeCache.remove(dir)

  /** Test hook: the cached entry's (terms, blocks) map sizes, if an
    * entry exists for `dir` — the cap spec's observability.
    */
  private[graft] def probeCacheSizes(dir: String): Option[(Int, Int)] =
    Option(probeCache.get(dir)).map(e => (e.terms.size, e.blocks.size))

  /** Deprecated mirrors of the last report — see [[lastProbePath]]. */
  @volatile private[graft] var lastProbeStampHit: Boolean = false
  @volatile private[graft] var lastProbeTermsScanned: Long = -1L

  /** The current generation's identity. Marker-first: every mutator
    * rewrites `lex/_generation` with a fresh UUID under the writer
    * lock ([[writeGenerationMarker]]), so the steady-state stamp is
    * ONE small-file read — not an O(files) recursive LIST per probe
    * batch, which on an object store was the probe cache's standing
    * serving cost. A marker-less index (written by a pre-marker
    * binary, or mid-upgrade) falls back to the full listing walk of
    * the four cached tables — slower, equally correct, and any
    * CURRENT-version mutation installs the marker.
    */
  private def generationStamp(spark: SparkSession, dir: String): String = {
    val fs = fsFor(spark, dir)
    val marker = new org.apache.hadoop.fs.Path(generationMarkerPath(dir))
    val markerStamp: Option[String] =
      try {
        if (!fs.exists(marker)) None
        else {
          val in = fs.open(marker)
          try {
            val buf = new Array[Byte](64)
            val n = math.max(0, in.read(buf))
            // a concurrent overwrite can yield a short/empty read —
            // treat it as "no marker" so the listing walk decides
            if (n >= 8) Some("g:" + new String(buf, 0, n, "UTF-8")) else None
          } finally in.close()
        }
      } catch { case _: java.io.IOException => None }
    markerStamp.getOrElse {
      val md = java.security.MessageDigest.getInstance("MD5")
      Seq(metaPath(dir), statsPath(dir), dfdPath(dir), blockmaxPath(dir)).foreach { p =>
        val path = new org.apache.hadoop.fs.Path(p)
        if (fs.exists(path)) {
          val it = fs.listFiles(path, true)
          val entries = scala.collection.mutable.ArrayBuffer.empty[String]
          while (it.hasNext) {
            val st = it.next()
            entries += s"${st.getPath}|${st.getLen}|${st.getModificationTime}"
          }
          entries.sorted.foreach(e => md.update((e + "\n").getBytes("UTF-8")))
        }
      }
      md.digest().map("%02x".format(_)).mkString
    }
  }

  /** Re-check the generation after a cache MISS-scan stored rows into
    * `entry`: a cross-process mutation landing mid-probe can have let
    * the scan read NEXT-generation dfd/blockmax files whose rows were
    * then cached under the CURRENT generation's stamp (idf computed
    * from old nDocs against new df). The conditional remove kills
    * exactly that polluted entry — the rows still serve THIS probe
    * (the accepted single-probe mixed-generation window, same caveat
    * as the non-transactional meta/stats/postings reads), but the next
    * probe rebuilds fresh instead of inheriting them. One marker read
    * in the steady state — only paid on miss-scans.
    */
  private def revalidateAfterScan(
      spark: SparkSession, dir: String, entry: ProbeCacheEntry): Unit =
    if (generationStamp(spark, dir) != entry.stamp)
      probeCache.remove(dir, entry)

  /** The current generation's cache entry — reused when the stamp
    * matches, else rebuilt from the small reads (meta, stats sums, dfd
    * schema). Two racing probes may both rebuild; last-put wins and
    * both are correct for the generation they stamped.
    */
  private def probeEntry(
      spark: SparkSession, dir: String, rep: ReportState): ProbeCacheEntry = {
    val stamp = generationStamp(spark, dir)
    val cur = probeCache.get(dir)
    if (cur != null && cur.stamp == stamp) { rep.stampHit = true; cur }
    else {
      rep.stampHit = false
      // Rebuild from DRIVER-SIDE reads only (meta row, stats delta
      // sums, one dfd footer schema): a cache miss costs small-file
      // IO, zero Spark jobs — the old shape paid four job round trips
      // here, the probe path's fixed latency floor.
      val (nDocs, sumDl, _, _) = statsSums(spark, dir)
      val (nTb, nDblk) = readMeta(spark, dir)
      val e = new ProbeCacheEntry(stamp, nTb,
        nDblk.filter(n => n >= 1 && n <= 64),
        dfdHasBounds(spark, dir), nDocs, sumDl)
      probeCache.put(dir, e)
      e
    }
  }

  /** Deprecated mirrors of the last report — see [[lastProbePath]]. */
  @volatile private[graft] var lastProbeDemotedPairs: Long = -1L
  @volatile private[graft] var lastProbePartialMaskPairs: Long = -1L

  /** The shared final ranking: (query_id, doc_id, rank, score_micro)
    * by (score desc, doc_id asc) through the bounded-heap top-k.
    */
  private def rankTail(scores: DataFrame, k: Int): DataFrame =
    Similarity.rankTopK(
      scores.select(col("query_id"), col("doc_id").as("neighbor_id"),
        col("score_micro").cast("double").as("score")), k)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").cast("long").as("rank"), col("score").cast("long").as("score_micro"))

  /** Above this many distinct probe terms the pushed `term IN` scan
    * filter is skipped (an In literal list has planning cost, and
    * parquet or-pushdown degrades to a range past the reader's
    * threshold anyway) — the join still restricts rows, only the
    * row-group-skip IO win is forgone. Identical answer either way.
    */
  private val MaxTermPushdown = 2048

  /** The exhaustive probe: every posting of every (kept) query term is
    * scored. Bucket-pruned and candidate-bounded in SHUFFLE terms, but
    * the aggregation WORK is O(sum of query-term df) — corpus-shaped
    * for common terms, which is why [[topDocsPruned]] exists.
    */
  private def topDocsExhaustive(
      spark: SparkSession, dir: String, k: Int, k1: Double, b: Double,
      filter: Option[Column], maxDfFrac: Double, nTb: Int,
      qt: DataFrame, nDocs: Long, avgdl: Double, rep: ReportState,
      preTermStats: Option[Array[(String, Long, Long, Long, Int, Long)]] = None,
      qtPairs: Option[Array[(Long, String)]] = None): DataFrame = {
    import spark.implicits._
    rep.path = "exhaustive"
    // When the MaxScore gate routed here it already collected the pair
    // list — rebuild qt as a LocalRelation from it (no materialization
    // job, no count job, broadcasts build driver-side); a direct route
    // pins the frame once (it feeds the bucket collect and two joins).
    val qtF = qtPairs match {
      case Some(ps) => spark.createDataset(ps.toSeq).toDF("query_id", "term")
      case None => qt.localCheckpoint()
    }
    // One broadcast guard for every query-shaped frame in this probe
    // (qt is Q x terms rows; every hinted side is at most that): past
    // it, joins fall back to shuffles of the pruned candidate stream.
    val qtRows = qtPairs.map(_.length.toLong).getOrElse(qtF.count())
    val hintable = qtRows * 96L <= Similarity.BroadcastGuardBytes
    def hinted(frame: DataFrame): DataFrame = if (hintable) broadcast(frame) else frame
    // Static partition pruning, the AnnIndex probed-cell discipline:
    // the distinct (term, bucket) set is bounded by the term count
    // (and by n_tb), so ONE collect feeds both the partition filter
    // and the pushed term filter — postings are term-SORTED within
    // each file, so the In predicate's row-group stats/dictionary
    // skipping reads only the query terms' posting runs. When the
    // MaxScore gate routed here, its collected per-term stats are
    // handed over (`preTermStats`) so the probe never aggregates the
    // dfd twice.
    val termTb: Array[(String, Int)] = preTermStats match {
      case Some(ts) => ts.map(t => (t._1, t._5))
      case None => qtF.select($"term", tbOf($"term", nTb).as("tb"))
        .distinct().as[(String, Int)].collect()
    }
    val tbs = termTb.map(_._2).distinct.sorted
    val tbFilter = col("tb").isin(tbs.map(Integer.valueOf).toIndexedSeq: _*)
    val termList = termTb.map(_._1).distinct.sorted
    val termFilter: Option[Column] =
      if (termList.length <= MaxTermPushdown) Some(col("term").isin(termList.toIndexedSeq: _*))
      else None
    def pushTerms(df: DataFrame): DataFrame = termFilter.fold(df)(df.filter)
    // Query-term df: the gate's collected sums when routed from there
    // (a LocalRelation — same Spark-aggregated values, zero extra
    // scan), else a pruned dfd scan, semi against the terms, deltas
    // summed — query-term-sized either way. The idf is computed by the
    // SAME shared column expression in both cases.
    val df = preTermStats match {
      case Some(ts) => ts.toSeq.map(t => (t._1, t._2)).toDF("term", "df")
      case None =>
        val terms = qtF.select($"term").distinct()
        pushTerms(spark.read.parquet(dfdPath(dir)).filter(tbFilter))
          .join(hinted(terms), Seq("term"), "left_semi")
          .groupBy("term").agg(sum("df").as("df"))
    }
    // Stopword cap: drop ubiquitous query terms BEFORE candidate
    // generation (see the maxDfFrac scaladoc). The kept-term set is
    // query-term-sized; pruning qt with it keeps the dropped terms'
    // postings from ever fanning out.
    val dfKept =
      if (maxDfFrac >= 1.0) df
      else df.filter(col("df").cast("double") <= lit(maxDfFrac) * lit(nDocs.toDouble))
    val qtK =
      if (maxDfFrac >= 1.0) qtF
      else qtF.join(hinted(dfKept.select($"term")), Seq("term"), "left_semi")
        .localCheckpoint()
    val idf = dfKept
      .select($"term", Bm25.idfMicro(lit(nDocs), $"df").as("idf_micro"))
    // The broadcast hints bypass Spark's size threshold, so all of
    // them ride the shared guard above (the serving-tier discipline);
    // the static partition pruning is independent of join strategy.
    val qtSide = hinted(qtK)
    val idfSide = hinted(idf)
    val scan0 = pushTerms(spark.read.parquet(postingsPath(dir)).filter(tbFilter))
    // The metadata predicate applies to the scan itself (postings carry
    // the index's metadata columns for exactly this): excluded docs
    // never become candidates, and the filter pushes into the pruned
    // parquet read.
    val cands0 = filter.fold(scan0)(scan0.filter)
      .join(qtSide, "term")
    // Takedowns vanish immediately: candidate-bounded anti-join against
    // the (guarded-broadcast, takedown-sized) tombstone set.
    val cands = tombstones(spark, dir).minus(cands0)
    // Fused sum+rank ([[Similarity.sumRankTopKMicro]]): the exhaustive
    // candidate stream's (query, doc) keys are near-unique (each doc
    // matches most queries on one term), so the old
    // groupBy(query_id, doc_id).sum + rankTail shape paid a no-op
    // partial hash aggregation over the full candidate stream PLUS a
    // second exchange for the ranking window. One exchange by query_id,
    // spillable doc_id sort, streaming exact long sums into the
    // k-bounded heap — bit-identical rows (integer sums are order-free,
    // same tie contract), O(k) memory per query.
    Similarity.sumRankTopKMicro(
      cands
        .join(idfSide, "term")
        .select($"query_id", $"doc_id",
          Bm25.contribMicro($"tf", $"dl", lit(avgdl), $"idf_micro", k1, b).as("c_micro")),
      k)
  }

  /** The MaxScore + Block-Max probe (see the [[topDocs]] scaladoc for
    * the three-phase contract and the safety argument). Driver state
    * is BATCH-bounded and gated: the collected (term, df, bounds,
    * idf) table, the (query, term) pair list (capped by
    * [[PruneMaxQueryPairs]] — past it the probe routes exhaustive
    * before collecting anything pair-shaped), and the per-(query,
    * block) splits (block granularity capped by
    * [[BlockSplitMaxPairs]]) — never anything corpus-sized.
    *
    * No pruning DECISION depends on a driver-side `log`: the idf
    * micro-nats come back from the collect queries, produced by the
    * shared [[Bm25.idfMicro]] expression; the driver only runs the
    * tf-saturation arithmetic (+,-,*,/ and floor — strict IEEE on
    * every JVM) to turn collected (max_tf, min_dl) into impact
    * bounds. Every EMITTED score is computed distributed, through the
    * shared expression trees.
    */
  private def topDocsPruned(
      spark: SparkSession, dir: String, k: Int, k1: Double, b: Double,
      filter: Option[Column], maxDfFrac: Double, nTb: Int,
      qt: DataFrame, nDocs: Long, avgdl: Double,
      entry: ProbeCacheEntry, rep: ReportState): DataFrame = {
    val nDblkOpt = entry.nDblk
    import spark.implicits._
    // Driver mirror of the SHARED contribution expression's
    // tf-saturation (same IEEE ops in the same order — JVM doubles are
    // strict, so this equals the codegen'd value bit-for-bit given the
    // same idf micro-nats). Decisions only; never an emitted score.
    def contribMicroD(tf: Long, dl: Long, idfM: Long): Long = {
      val tfpart = (tf.toDouble * (k1 + 1.0)) /
        (tf.toDouble + k1 * ((1.0 - b) + b * (dl.toDouble / avgdl)))
      math.floor(idfM.toDouble * tfpart + 0.5).toLong
    }
    // Driver-state gate and pair collect FUSED into one bounded
    // action: collect at most PruneMaxQueryPairs + 1 pairs — one more
    // than the cap proves the batch is over it (route exhaustive with
    // nothing pair-shaped retained), one job instead of the old
    // count-then-collect round trips, and driver state stays capped
    // either way.
    val qtPairsAll = qt
      .limit(math.min(PruneMaxQueryPairs + 1L, Int.MaxValue.toLong).toInt)
      .as[(Long, String)].collect()
    val qtRows = qtPairsAll.length.toLong
    if (qtRows > PruneMaxQueryPairs)
      return topDocsExhaustive(spark, dir, k, k1, b, filter, maxDfFrac, nTb, qt,
        nDocs, avgdl, rep)
    // One broadcast guard for every query-shaped frame in this probe
    // (the pair frames and term frames are all <= qtRows rows).
    val hintable = qtRows * 96L <= Similarity.BroadcastGuardBytes
    def hinted(frame: DataFrame): DataFrame = if (hintable) broadcast(frame) else frame
    val allTerms = qtPairsAll.map(_._2).distinct.sorted
    // Pushed term filter for every scan of this probe: postings files
    // are term-sorted, so In(term, ...) skips row groups holding no
    // query term (see MaxTermPushdown).
    def pushTerms(frame: DataFrame, ts: Seq[String]): DataFrame =
      if (ts.length <= MaxTermPushdown) frame.filter(col("term").isin(ts: _*)) else frame
    // Per-term df + impact bounds + bucket + the idf the shared
    // expression computes from the summed df — query-term-sized. The
    // generation-stamped cache answers previously-probed terms; only
    // the MISSES scan the dfd (pruned to their buckets), and a term
    // the scan doesn't return is cached as absent so it never
    // rescans. A fully-cached vocabulary pays NO dfd-side job at all.
    val missingTerms = allTerms.filterNot(entry.terms.contains)
    rep.termsScanned = missingTerms.length.toLong
    // Term -> bucket for the misses: one LocalRelation projection (no
    // IO) — the bucket function must stay Spark's hash, never a
    // driver reimplementation.
    val missingTb: Map[String, Int] =
      if (missingTerms.isEmpty) Map.empty
      else missingTerms.toSeq.toDF("term")
        .select($"term", tbOf($"term", nTb).as("tb"))
        .as[(String, Int)].collect().toMap
    if (missingTerms.nonEmpty) {
      val missTbs = missingTerms.map(missingTb).distinct.sorted
      val scanned = pushTerms(
          spark.read.parquet(dfdPath(dir))
            .filter(col("tb").isin(missTbs.map(Integer.valueOf).toIndexedSeq: _*)),
          missingTerms.toIndexedSeq)
        .join(hinted(missingTerms.toSeq.toDF("term")), Seq("term"), "left_semi")
        .groupBy("term").agg(sum("df").as("df"),
          max("max_tf").as("max_tf"), min("min_dl").as("min_dl"),
          first("tb").as("tb"))
        .select($"term", $"df", $"max_tf", $"min_dl", $"tb",
          Bm25.idfMicro(lit(nDocs), $"df").as("idf_micro"))
        .as[(String, Long, Long, Long, Int, Long)].collect()
      entry.admit(missingTerms.length, 0)
      scanned.foreach(t => entry.terms.put(t._1, Some((t._2, t._3, t._4, t._5, t._6))))
      val found = scanned.map(_._1).toSet
      missingTerms.filterNot(found).foreach(t => entry.terms.put(t, None))
      revalidateAfterScan(spark, dir, entry)
    }
    val termStats: Array[(String, Long, Long, Long, Int, Long)] =
      allTerms.flatMap(t => entry.terms.get(t).flatten
        .map { case (df, mtf, mdl, tb, idfM) => (t, df, mtf, mdl, tb, idfM) })
    // present terms carry their bucket in the cache
    val tbOfTerm: Map[String, Int] = termStats.map(t => t._1 -> t._5).toMap
    val kept = termStats.filter { case (_, df, _, _, _, _) =>
      maxDfFrac >= 1.0 || df.toDouble <= maxDfFrac * nDocs.toDouble
    }
    // term -> (idf micro-nats, GLOBAL impact upper bound, bucket)
    val info: Map[String, (Long, Long, Int)] = kept.map {
      case (t, _, mtf, mdl, tb, idfM) =>
        t -> (idfM, contribMicroD(mtf, mdl, idfM), tb)
    }.toMap
    val dfOf: Map[String, Long] = kept.map(t => t._1 -> t._2).toMap
    val ubOf = (t: String) => info(t)._2
    // Cost gate 1: tiny probes skip the seed round trips (identical
    // answer; see PruneMinPostings). Term stats hand over so the
    // exhaustive probe never aggregates the dfd twice.
    val keptTermDfTotal = kept.map(_._2).sum
    if (keptTermDfTotal <= PruneMinPostings)
      return topDocsExhaustive(spark, dir, k, k1, b, filter, maxDfFrac, nTb, qt,
        nDocs, avgdl, rep, preTermStats = Some(termStats),
        qtPairs = Some(qtPairsAll))
    val qtPairs = qtPairsAll.filter(p => info.contains(p._2))
    val byQuery: Map[Long, Array[String]] =
      qtPairs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    // ------------------------------------------------ block bounds
    // Per-(term, doc-block) bounds from the blockmax sidecar — the
    // Block-Max refinement. Collected only past gate 1 (one extra
    // pruned scan, kept-term x n_dblk rows) and only within the split
    // budget; otherwise ONE virtual block reproduces term-granularity
    // MaxScore exactly.
    val useBlocks = nDblkOpt.isDefined && qtPairs.length <= BlockSplitMaxPairs
    val nB = if (useBlocks) nDblkOpt.get else 1
    val fullMask = if (nB >= 64) -1L else (1L << nB) - 1L
    val (ubB, dfB): (Map[String, Array[Long]], Map[String, Array[Long]]) =
      if (!useBlocks)
        (kept.map(t => t._1 -> Array(ubOf(t._1))).toMap,
          kept.map(t => t._1 -> Array(t._2)).toMap)
      else {
        // cache misses only, same discipline as the term stats
        val keptTerms = kept.map(_._1)
        val missB = keptTerms.filterNot(entry.blocks.contains)
        rep.blockTermsScanned = missB.length.toLong
        if (missB.nonEmpty) {
          val missTbs = missB.map(tbOfTerm).distinct.sorted
          val rows = pushTerms(
              spark.read.parquet(blockmaxPath(dir))
                .filter(col("tb").isin(missTbs.map(Integer.valueOf).toIndexedSeq: _*)),
              missB.toIndexedSeq)
            .join(hinted(missB.toSeq.toDF("term")), Seq("term"), "left_semi")
            .groupBy("term", "dblk").agg(sum("df").as("df"),
              max("max_tf").as("max_tf"), min("min_dl").as("min_dl"))
            .as[(String, Int, Long, Long, Long)].collect()
          val byTerm = rows.groupBy(_._1)
          entry.admit(0, missB.length)
          missB.foreach { t =>
            entry.blocks.put(t,
              byTerm.getOrElse(t, Array.empty)
                .map { case (_, blk, df, mtf, mdl) => (blk, df, mtf, mdl) })
          }
          revalidateAfterScan(spark, dir, entry)
        }
        val ub = kept.map(t => t._1 -> new Array[Long](nB)).toMap
        val dfb = kept.map(t => t._1 -> new Array[Long](nB)).toMap
        kept.foreach { case (t, df, mtf, mdl, _, idfM) =>
          val rows = entry.blocks.getOrElse(t, Array.empty)
          // COVERAGE CROSS-CHECK (the all-or-nothing invariant,
          // enforced rather than assumed): the sidecar's per-block df
          // must sum to the dfd's df for the term — both are written
          // by the same mutations from the same rollup, and
          // tombstones touch neither. A mismatch means some mutator
          // wrote postings without sidecar rows (a pre-sidecar binary
          // appending into an upgraded index — the mixed-version
          // deployment); trusting the partial rows would read the
          // uncovered postings' blocks as "term absent" and silently
          // drop true top-k docs. Fall back to the always-valid
          // GLOBAL bound for exactly that term: rank-safe, just less
          // pruning, and surfaced in the report.
          if (rows.isEmpty || rows.iterator.map(_._2).sum != df) {
            rep.coverageFallbackTerms += 1
            var blk = 0
            while (blk < nB) {
              ub(t)(blk) = contribMicroD(mtf, mdl, idfM)
              dfb(t)(blk) = df
              blk += 1
            }
          } else
            rows.foreach { case (blk, bdf, bmtf, bmdl) =>
              if (blk >= 0 && blk < nB) {
                ub(t)(blk) = contribMicroD(bmtf, bmdl, idfM)
                dfb(t)(blk) = bdf
              }
            }
        }
        (ub, dfb)
      }
    // Cost gate 2 — the adaptive MaxScore decision, from stats already
    // in hand. The gate predicts the seed threshold with a REALISTIC
    // per-term contribution, tf = 1 at dl = avgdl (what a typical
    // matching doc scores), NOT the impact bound: bounds use per-term
    // extremes (max_tf, min_dl), so a θ̂ built from them overestimates
    // the achievable threshold and calls near-uniform batches prunable
    // when the real θ will keep every term essential — measured as a
    // 2-4x probe REGRESSION on the benchmark corpus (every query term
    // ~78% df, all alike: nothing is skippable, but θ̂ said 53% was).
    // θ̃ = Σ of the two best typical contributions; a (term, block)
    // whose ascending-bound prefix stays under θ̃ is LIKELY
    // non-essential under the real θ. Below half the exhaustive
    // aggregation's rows (Σ per-pair df) likely-skippable, MaxScore
    // cannot recoup its seed/completion passes and checkpoints: take
    // the exhaustive path. (The gate only picks the PLAN — either path
    // returns bit-identical rows; the real split still uses the real
    // θ.) Impact-uniform workloads (small shared vocabularies, every
    // term genuinely competing) go exhaustive; Zipf text (common terms
    // own most postings at near-zero idf) goes pruned; moderately
    // skewed text — where one outlier posting used to keep a term
    // GLOBALLY essential — goes pruned exactly when enough of its
    // blocks are outlier-free. tf = 1 at dl = avgdl saturates to
    // tfpart = (k1+1)/(1+k1·((1−b)+b)) = 1 for EVERY (k1, b) — the
    // typical contribution is exactly the term's idf in micro-nats.
    // Large batches estimate from a deterministic 512-query sample
    // (the decision is a plan choice; the REAL split below is exact).
    val typOf: Map[String, Long] = info.map { case (t, (idfM, _, _)) => t -> idfM }
    // fixed-point index spreads the sample across the WHOLE id range
    // (an integer stride floors to 1 for 513..1023 queries and would
    // sample only the lowest 512 ids — a skewed route estimate on
    // batches ordered by id; plan-choice only, answers identical)
    val gateQs: Seq[Array[String]] =
      if (byQuery.size <= 512) byQuery.values.toSeq
      else {
        val ks = byQuery.keys.toArray.sorted
        (0 until 512).map(i => byQuery(ks((i.toLong * ks.length / 512).toInt)))
      }
    var sampleSkip = 0L
    var samplePairDf = 0L
    gateQs.foreach { ts =>
      samplePairDf += ts.map(dfOf).sum
      if (ts.length >= 2) {
        val thetaTilde = ts.map(typOf).sorted(Ordering[Long].reverse).take(2).sum
        var blk = 0
        while (blk < nB) {
          val asc = ts.sortBy(t => (ubB(t)(blk), t))
          var cum = 0L
          var i = 0
          var stop = false
          while (i < asc.length && !stop) {
            cum += ubB(asc(i))(blk)
            if (cum < thetaTilde) sampleSkip += dfB(asc(i))(blk) else stop = true
            i += 1
          }
          blk += 1
        }
      }
    }
    // Two criteria, both required: RELATIVE (less than half the
    // aggregation rows skippable -> MaxScore can't recoup its extra
    // passes) and ABSOLUTE (the estimated skippable rows, scaled from
    // the sample to the whole batch, must clear the pruned pipeline's
    // fixed wall-clock floor expressed in rows — see
    // PruneFixedCostRows; a mid-size corpus can be 80% skippable and
    // still lose to a sub-second exhaustive aggregation).
    val sampleScale = byQuery.size.toDouble / math.max(1, gateQs.size).toDouble
    if (sampleSkip * 2L < samplePairDf ||
        sampleSkip * sampleScale < PruneFixedCostRows.toDouble)
      return topDocsExhaustive(spark, dir, k, k1, b, filter, maxDfFrac, nTb, qt,
        nDocs, avgdl, rep, preTermStats = Some(termStats),
        qtPairs = Some(qtPairsAll))
    rep.path = "pruned"
    val tombs = tombstones(spark, dir)
    // Exact scores of a (query, term, block-mask) pair list against
    // the postings: bucket-pruned scan, pushed term filter, metadata
    // filter pushed, the mask tested in-scan against the posting's
    // doc-block, candidate-sized aggregation — the one scoring kernel
    // all three phases share. idf_micro is built by the shared
    // [[Bm25.idfMicro]] expression from the collected df (never the
    // driver mirror). With `surv` set (completion), the survivor-doc
    // semi applies DURING the scan and the (query, doc) semi right
    // after the pair join — tombstones and the metadata filter are
    // then already enforced through the survivor set itself.
    def scoreSubset(
        pairs: Seq[(Long, String, Long)],
        surv: Option[(DataFrame, DataFrame)]): DataFrame = {
      val pdf = pairs.map { case (q, t, m) => (q, t, dfOf(t), m) }
        .toDF("query_id", "term", "df", "__mask")
        .withColumn("idf_micro", Bm25.idfMicro(lit(nDocs), col("df")))
        .drop("df")
      val pSide = hinted(pdf)
      val pTerms = pairs.map(_._2).distinct.sorted
      val ptbs = pairs.map(p => info(p._2)._3).distinct.sorted
      val scan0 = pushTerms(
        spark.read.parquet(postingsPath(dir))
          .filter(col("tb").isin(ptbs.map(Integer.valueOf).toIndexedSeq: _*)),
        pTerms)
      val scanF = filter.fold(scan0)(scan0.filter)
      val scanS = surv.fold(scanF)(s => scanF.join(s._1, Seq("doc_id"), "left_semi"))
      // Pre-join block filter: a posting row in a block NO query needs
      // (the OR of the term's pair masks) is dropped BEFORE the pair
      // join fans it out per query — without this, the per-pair mask
      // only prunes the aggregation, and the join work stays
      // exhaustive-shaped. The side is term-count-sized.
      val unionMask: Map[String, Long] = pairs.groupBy(_._2).view
        .mapValues(_.map(_._3).reduce(_ | _)).toMap
      val scanB =
        if (unionMask.valuesIterator.forall(_ == fullMask)) scanS
        else scanS
          .join(hinted(unionMask.toSeq.toDF("term", "__umask")), "term")
          .filter(expr(s"(shiftright(__umask, pmod(hash(doc_id), $nB)) & 1) = 1"))
          .drop("__umask")
      val joined = scanB.join(pSide, "term")
      // per-pair refinement — plain integer ops, whole-stage codegen
      val masked =
        if (pairs.forall(_._3 == fullMask)) joined
        else joined.filter(
          expr(s"(shiftright(__mask, pmod(hash(doc_id), $nB)) & 1) = 1"))
      val paired = surv.fold(masked)(s =>
        masked.join(s._2, Seq("query_id", "doc_id"), "left_semi"))
      val cands =
        if (surv.isDefined) paired
        else tombs.minus(paired)
      cands.select($"query_id", $"doc_id",
          Bm25.contribMicro($"tf", $"dl", lit(avgdl), $"idf_micro", k1, b).as("c_micro"))
        .groupBy("query_id", "doc_id")
        .agg(sum("c_micro").as("score_micro"))
    }
    // k-th best score per query of a scored frame (absent = fewer than
    // k candidates = no pruning threshold for that query).
    def kthScore(scores: DataFrame): Map[Long, Long] =
      Similarity.rankTopK(
        scores.select($"query_id", $"doc_id".as("neighbor_id"),
          $"score_micro".cast("double").as("score")), k)
        .filter(col("rank") === k)
        .select($"query_id", $"score".cast("long")).as[(Long, Long)].collect().toMap

    // Phase 1 — seed θ. The TOP-1 (highest-GLOBAL-impact) list is
    // scored fully per query; the TOP-2 list is scored RESTRICTED to
    // the top-1 docs (a semi-join — its rows are top-1-candidate-
    // sized, never top-2-list-sized). The restricted scores are still
    // achieved partial scores of real docs, so their k-th best is a
    // valid θ — and the expensive case this dodges is exactly the
    // moderate-skew one, where the top-2 term is a mid-df list whose
    // full scan used to cost as much as the whole pruning saved.
    // Queries that cannot fill k from top-1-matching docs fall back
    // to the full top-2 list (the r13 seed — heavy-Zipf queries whose
    // rare term matches < k docs take this path, keeping that
    // anchor's θ intact).
    val top2Of: Map[Long, Seq[String]] = byQuery.map { case (q, ts) =>
      q -> ts.sortBy(t => (-ubOf(t), t)).take(2).toSeq
    }
    val seed1Pairs = top2Of.toSeq.map { case (q, ts) => (q, ts.head) }
    val seed2Pairs = top2Of.toSeq.collect { case (q, ts) if ts.length > 1 => (q, ts(1)) }
    val seedA = scoreSubset(seed1Pairs.map(p => (p._1, p._2, fullMask)), None)
      .localCheckpoint()
    val thetaProbe =
      if (seed2Pairs.isEmpty) seedA
      else {
        val seedB = scoreSubset(seed2Pairs.map(p => (p._1, p._2, fullMask)),
          Some((Similarity.guardedRowBroadcast(seedA.select("doc_id").distinct()),
            Similarity.guardedRowBroadcast(
              seedA.select("query_id", "doc_id"), perRowBytes = 64L))))
        seedA.unionByName(seedB)
          .groupBy("query_id", "doc_id").agg(sum("score_micro").as("score_micro"))
      }
    val theta1a = kthScore(thetaProbe)
    // fallback: fewer than k docs matched the top-1 list — take the
    // full top-2 list for THOSE queries only; its scores then also
    // serve as that pair's essential installment (the pair is pinned)
    val fbQueries: Set[Long] =
      seed2Pairs.map(_._1).toSet.filterNot(theta1a.contains)
    val fbPairs = seed2Pairs.filter(p => fbQueries(p._1))
    val (fbScores, theta1) =
      if (fbPairs.isEmpty) (None: Option[DataFrame], theta1a)
      else {
        val fb = scoreSubset(fbPairs.map(p => (p._1, p._2, fullMask)), None)
          .localCheckpoint()
        val fbAll = seedA
          .join(hinted(fbQueries.toSeq.toDF("query_id")), Seq("query_id"), "left_semi")
          .unionByName(fb)
          .groupBy("query_id", "doc_id").agg(sum("score_micro").as("score_micro"))
        (Some(fb), theta1a ++ kthScore(fbAll))
      }
    // the pinned-essential pairs: top-1 everywhere; top-2 where the
    // fallback scored it fully (a restricted top-2 score can never
    // enter the partial — docs matching top-2 but not top-1 would be
    // missing its contribution with no slack to cover it)
    val seedPairs = seed1Pairs ++ fbPairs

    // Phase 2 — the essential split, per query AND per doc-block: in
    // each block the ascending-block-impact prefix with bound-sum < θ
    // is non-essential there (a doc in that block matching only those
    // terms scores strictly below θ — it cannot enter the top k even
    // on the doc_id tie-break). A term's essential blocks become one
    // 64-bit mask; the demoted bounds accumulate into the block's
    // slack (the completion threshold's tail). θ ≤ 0 (fewer than k
    // seed candidates) keeps everything essential — pruning may only
    // ever shrink. With one virtual block this IS the r13 term-level
    // split.
    //
    // SEED terms are pinned essential in EVERY block: any superset of
    // the required essential set is rank-safe (docs matching only
    // demoted terms still bound < θ), and the seeds' exact scores are
    // already paid for — pinning makes the seed pass reusable AS the
    // first installment of the partial unconditionally, where a
    // partially-demoted seed would otherwise force re-scoring the
    // whole essential set from scratch and waste the seed
    // materialization (measured as the pruned path LOSING to
    // exhaustive on spam-block corpora).
    val seedTermsOf: Map[Long, Set[String]] =
      seedPairs.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    final case class QSplit(masks: Map[String, Long], slack: Array[Long])
    val splits: Map[Long, QSplit] = byQuery.map { case (q, ts) =>
      val theta = theta1.getOrElse(q, 0L)
      if (theta <= 0L)
        q -> QSplit(ts.map(t => t -> fullMask).toMap, new Array[Long](nB))
      else {
        val seedTs = seedTermsOf.getOrElse(q, Set.empty)
        val masks = collection.mutable.HashMap.empty[String, Long]
        ts.foreach(t => masks(t) = if (seedTs(t)) fullMask else 0L)
        val nonSeed = ts.filterNot(seedTs)
        val slack = new Array[Long](nB)
        var blk = 0
        while (blk < nB) {
          val asc = nonSeed.sortBy(t => (ubB(t)(blk), t))
          var cum = 0L
          var i = 0
          var cut = asc.length
          while (i < asc.length && cut == asc.length) {
            cum += ubB(asc(i))(blk)
            if (cum >= theta) cut = i else i += 1
          }
          var j = 0
          while (j < cut) { slack(blk) += ubB(asc(j))(blk); j += 1 }
          j = cut
          while (j < asc.length) { masks(asc(j)) |= (1L << blk); j += 1 }
          blk += 1
        }
        q -> QSplit(masks.toMap, slack)
      }
    }
    val essPairs: Seq[(Long, String, Long)] = splits.toSeq.flatMap { case (q, s) =>
      s.masks.collect { case (t, m) if m != 0L => (q, t, m) }
    }
    val demPairs: Seq[(Long, String, Long)] = splits.toSeq.flatMap { case (q, s) =>
      s.masks.collect { case (t, m) if (~m & fullMask) != 0L => (q, t, ~m & fullMask) }
    }
    rep.demotedPairs = demPairs.length.toLong
    rep.partialMaskPairs = essPairs.count(p => p._3 != fullMask).toLong
    // Seed reuse — unconditional now that the pinned pairs are exactly
    // the fully-scored ones: the essential partial is the top-1
    // scores + the fallback top-2 scores + the not-yet-scored
    // essential pairs, re-aggregated over the union (candidate-sized).
    val seedSet = seedPairs.toSet
    val extra = essPairs.filterNot(p => seedSet((p._1, p._2)))
    val seedParts: Seq[DataFrame] = Seq(Some(seedA), fbScores,
      if (extra.isEmpty) None else Some(scoreSubset(extra, None))).flatten
    val partial =
      if (seedParts.length == 1) seedParts.head
      else seedParts.reduce(_.unionByName(_))
        .groupBy("query_id", "doc_id").agg(sum("score_micro").as("score_micro"))
        .localCheckpoint()
    if (demPairs.isEmpty)
      return rankTail(partial, k) // everything essential: partial IS exact

    // Phase 3 — tighten θ with the k-th essential partial, keep only
    // candidates whose certain-part + their OWN block's demoted slack
    // can still reach it (>= : a tie at θ may enter the top k on the
    // doc_id tie-break), then complete ONLY the survivors against the
    // demoted (term, block) postings.
    val theta2 = kthScore(partial)
    val metaRows = splits.toSeq.flatMap { case (q, s) =>
      val th = math.max(theta1.getOrElse(q, 0L), theta2.getOrElse(q, 0L))
      (0 until nB).map(blk => (q, blk, s.slack(blk), th))
    }
    val metaDF0 = metaRows.toDF("query_id", "__dblk", "__slack", "__theta")
    val metaDF =
      if (metaRows.length.toLong * 48L <= Similarity.BroadcastGuardBytes)
        broadcast(metaDF0)
      else metaDF0
    val survivors = partial
      .withColumn("__dblk", dblkOf(col("doc_id"), nB))
      .join(metaDF, Seq("query_id", "__dblk"))
      .filter(col("score_micro") + col("__slack") >= col("__theta"))
      .select($"query_id", $"doc_id", $"score_micro")
      .localCheckpoint()
    // Completion join order routes on the survivor-pair size. SMALL
    // survivor sets broadcast into the term-major kernel (semi during
    // the scan, then per-pair). A LARGE survivor set would force that
    // kernel to fan every demoted posting out per query BEFORE the
    // (query, doc) semi can cut it — the near-exhaustive shuffle the
    // pruning was supposed to avoid — so it goes DOC-major instead:
    // postings ⋈ survivors on doc_id first (fan = survivors x the
    // doc's matching demoted terms, survivor-bounded), then the
    // demoted-pair frame (inner, broadcastable) picks the (query,
    // term) combinations and the block mask refines.
    val survRows = survivors.count()
    val addC = (
      if (survRows * 64L <= Similarity.BroadcastGuardBytes) {
        val survDocs =
          Similarity.guardedRowBroadcast(survivors.select("doc_id").distinct())
        val survPairs =
          Similarity.guardedRowBroadcast(
            survivors.select("query_id", "doc_id"), perRowBytes = 64L)
        scoreSubset(demPairs, Some((survDocs, survPairs)))
      } else {
        val pdf = demPairs.map { case (q, t, m) => (q, t, dfOf(t), m) }
          .toDF("query_id", "term", "df", "__mask")
          .withColumn("idf_micro", Bm25.idfMicro(lit(nDocs), col("df")))
          .drop("df")
        val demTerms = demPairs.map(_._2).distinct.sorted
        val demTbs = demPairs.map(p => info(p._2)._3).distinct.sorted
        val scan0 = pushTerms(
          spark.read.parquet(postingsPath(dir))
            .filter(col("tb").isin(demTbs.map(Integer.valueOf).toIndexedSeq: _*)),
          demTerms)
        val scanF = filter.fold(scan0)(scan0.filter)
        val unionMask = demPairs.groupBy(_._2).view
          .mapValues(_.map(_._3).reduce(_ | _)).toMap
        val scanB =
          if (unionMask.valuesIterator.forall(_ == fullMask)) scanF
          else scanF
            .join(hinted(unionMask.toSeq.toDF("term", "__umask")), "term")
            .filter(expr(s"(shiftright(__umask, pmod(hash(doc_id), $nB)) & 1) = 1"))
            .drop("__umask")
        scanB
          .join(survivors.select($"query_id", $"doc_id"), "doc_id")
          .join(hinted(pdf), Seq("query_id", "term"))
          .filter(expr(s"(shiftright(__mask, pmod(hash(doc_id), $nB)) & 1) = 1"))
          .select($"query_id", $"doc_id",
            Bm25.contribMicro($"tf", $"dl", lit(avgdl), $"idf_micro", k1, b)
              .as("c_micro"))
          .groupBy("query_id", "doc_id")
          .agg(sum("c_micro").as("score_micro"))
      })
      .withColumnRenamed("score_micro", "add_micro")
    val scores = survivors.join(addC, Seq("query_id", "doc_id"), "left_outer")
      .select($"query_id", $"doc_id",
        ($"score_micro" + coalesce($"add_micro", lit(0L))).as("score_micro"))
    rankTail(scores, k)
  }
}

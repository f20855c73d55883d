package graft

import graft.core._
import graft.windowing.ExponentialWindowing
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are served from the materialized `summary_windows` /
  * `landmarks` tables (the engine's whole design: queries never touch
  * raw events — SURVEY §4 "Pre-aggregation"). The pipelines are memoized
  * per scale-factor directory so a verify/bench run summarizes once and
  * every registered query hits the cached tables.
  */
object SparkEntry {

  /** Decay policy used for the driver-registered queries. */
  private val Spec = ExponentialWindowing(2.0)

  // Epoch-microsecond constants (UTC) for the registered time ranges.
  private val Jan10 = 1704844800000000L
  private val Jan20 = 1705708800000000L
  // Landmark interval [Jan 5, Jan 8): exact storage for that span.
  private val LandmarkLo = 1704412800000000L
  private val LandmarkHi = 1704672000000000L - 1L
  // Query range strictly inside the landmark interval -> exact answers.
  private val LQ0 = 1704499200000000L
  private val LQ1 = 1704585600000000L

  private final case class Tables(
      summary: Dataset[SummaryWindow],
      lmSummary: Dataset[SummaryWindow],
      lmSpans: Dataset[LandmarkSpan],
      lmElems: Dataset[LandmarkElem])

  /** One value per (session, sfDir), built on first use. Keyed weakly
    * by the owning SparkSession: cached Datasets are bound to the
    * session that built them (a later session reusing them would hit
    * "SparkContext has been shut down"), and entries die with their
    * session instead of leaking persisted Datasets for the JVM lifetime.
    */
  private final class Memo[T] {
    private val bySession =
      new java.util.WeakHashMap[SparkSession, java.util.concurrent.ConcurrentHashMap[String, T]]()

    def apply(s: SparkSession, dir: String)(build: => T): T =
      bySession.synchronized {
        bySession.computeIfAbsent(s, _ => new java.util.concurrent.ConcurrentHashMap[String, T]())
      }.computeIfAbsent(dir, _ => build)
  }

  private val cache = new Memo[Tables]

  private def tables(spark: SparkSession, sfDir: String): Tables =
    cache(spark, sfDir) {
      // The ranked event stream feeds both pipelines — rank once.
      val events = Ingest.fromEventsTable(spark, sfDir).persist()
      val summary = Summarizer.summarize(events, Spec).persist()
      val (lmSummary, spans, elems) = Summarizer.summarizeWithLandmarkRowsPerStream(
        events, _ => Spec, Seq((LandmarkLo, LandmarkHi)))
      Tables(summary, lmSummary.persist(), spans.persist(), elems.persist())
    }

  /** Intermediates shared by the dedup query family: the per-doc shingle
    * arrays and the two verified pair sets that four registered queries
    * consume (`q_neardup_text` + `q_dedup_components` read the J >= 0.9
    * set; `q_simhash` + `q_neardup_exact` read the J >= 0.5 set and the
    * shingles). Materialized once per (session, sfDir) via eager
    * localCheckpoint, so a verify/bench run pays the shingling + LSH +
    * prefix-filter pipelines once instead of once per query — identical
    * rows, a quarter of the work.
    */
  private final case class DedupShared(
      shingles: DataFrame, pairs09: DataFrame, exact05: DataFrame)

  private val dedupCache = new Memo[DedupShared]

  private def dedupShared(s: SparkSession, dir: String): DedupShared =
    dedupCache(s, dir) {
      import s.implicits._
      val d = docs(s, dir)
      val sh = ops.Dedup.shingles(d).localCheckpoint()
      val pairs09 = ops.Dedup.verifyWithShingles(
          ops.Dedup.lshCandidatePairs(ops.Dedup.minhashSignatures(d)), sh, threshold = 0.9)
        .select($"doc_a", $"doc_b", $"n_inter", $"n_union")
        .localCheckpoint()
      val exact05 = ops.Dedup.exactNearDuplicatePairsFromShingles(sh, threshold = 0.5)
        .select($"doc_a", $"doc_b", $"n_inter", $"n_union")
        .localCheckpoint()
      DedupShared(sh, pairs09, exact05)
    }

  /** The through-merge freq sketch table shared by the three windowed
    * sketch contracts (`q_window_bloom`/`_cms`/`_freq`) — same
    * (session, sfDir)-memoized pattern as [[dedupShared]]: one
    * materialization, three consumers, identical rows.
    */
  private val freqCache = new Memo[DataFrame]

  /** Spread a small derived frame across the session's cores before
    * pinning it: a tiny corpus plans as ONE scan split (parquet can't
    * split inside a row group), so every downstream CPU-heavy pass
    * over the pinned frame — payload decode/hash, sketch probes,
    * fingerprint joins — would otherwise run as a single serialized
    * task while the other cores idle. A frame over the (capped) size
    * guard (the at-scale case) is left untouched, so the layout is
    * scale-adaptive, never a local[32] constant.
    */
  private def spread(df: DataFrame): DataFrame =
    graft.core.Spread.ifNarrow(df)

  private def freqShared(s: SparkSession, dir: String): DataFrame =
    freqCache(s, dir) {
      FreqSummary.Kind.throughMerge(Ingest.fromEventsTable(s, dir), Spec).localCheckpoint()
    }

  /** The flagged duplicated-window frame shared by the two substring
    * queries (`q_substring_spans` reads all rows, `q_substring_clean`
    * the `!kept` slice) — one fingerprint+count+keeper pipeline
    * instead of two.
    */
  private val substrCache = new Memo[DataFrame]

  private def substrShared(s: SparkSession, dir: String): DataFrame =
    substrCache(s, dir) {
      ops.SubstringDedup.rankedDuplicatedWindows(docs(s, dir), minTokens = 8)
        .localCheckpoint()
    }

  /** The synthetic media table shared by the five media queries
    * (features/meta/audio/video/dedup): payload generation is the
    * family's dominant cost and each query previously regenerated its
    * modality — one materialized table halves total generation work.
    * Queries filter their modality from it; with a REAL media table
    * the same pruning comes from partitioning by media_type.
    */
  private val mediaCache = new Memo[DataFrame]

  private def mediaShared(s: SparkSession, dir: String): DataFrame =
    mediaCache(s, dir) {
      // spread the INPUT ids, not the generated output: the payload
      // UDF runs in the scan stage, so spreading afterwards would
      // leave generation serialized AND shuffle the payload bytes.
      // Only the id PROJECTION spreads — the generator consumes
      // doc_id alone, so shuffling the text column too would move
      // corpus bytes for nothing.
      ops.Multimodal.syntheticMedia(spread(docs(s, dir).select("doc_id")))
        .localCheckpoint()
    }

  /** The exploded line frame of the boilerplate-injected corpus,
    * shared by the two line-dedup queries (flags and rebuild) — one
    * explode instead of three, the substrShared discipline.
    */
  private val lineCache = new Memo[DataFrame]

  private def lineShared(s: SparkSession, dir: String): DataFrame =
    lineCache(s, dir) {
      ops.LineDedup.lines(lineInjected(docs(s, dir))).localCheckpoint()
    }

  /** Flagship: summarize the sf0.001 events stream into decay windows. */
  def entry(spark: SparkSession): DataFrame =
    tables(spark, "/root/testdata/sf0.001").summary.toDF()

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- Count/Sum/Max/Min ops: full-range queries answered purely from
    //    the summary table by monoid re-merge (exact over full coverage).
    "q_count" -> ((s, dir) => {
      import s.implicits._
      tables(s, dir).summary
        .groupBy($"streamId".as("stream_id"))
        .agg(sum($"count").cast("long").as("cnt"))
    }),
    "q_sum" -> ((s, dir) => {
      import s.implicits._
      tables(s, dir).summary
        .groupBy($"streamId".as("stream_id"))
        .agg(round(sum($"sum"), 2).as("sum_value"))
    }),
    "q_max" -> ((s, dir) => {
      import s.implicits._
      tables(s, dir).summary
        .groupBy($"streamId".as("stream_id"))
        .agg(max($"max").as("max_value"))
    }),
    "q_min" -> ((s, dir) => {
      import s.implicits._
      tables(s, dir).summary
        .groupBy($"streamId".as("stream_id"))
        .agg(min($"min").as("min_value"))
    }),
    // -- Alternate decay paths, same exact full-range answer: buffered
    //    ingest cut (summarizer buffer semantics) and power-law policy.
    "q_count_buffered" -> ((s, dir) => {
      import s.implicits._
      Summarizer.summarize(Ingest.fromEventsTable(s, dir), Spec, bufferSize = 32L)
        .groupBy($"streamId".as("stream_id"))
        .agg(sum($"count").cast("long").as("cnt"))
    }),
    "q_count_power" -> ((s, dir) => {
      import s.implicits._
      Summarizer.summarize(
        Ingest.fromEventsTable(s, dir), graft.windowing.PowerWindowing(1, 1, 10, 1))
        .groupBy($"streamId".as("stream_id"))
        .agg(sum($"count").cast("long").as("cnt"))
    }),
    // -- Summary compression: N raw elements -> O(log N) windows.
    "q_window_stats" -> ((s, dir) =>
      Summarizer.compressionStats(tables(s, dir).summary)),
    // -- Estimator path: unaligned range -> hard answer bounds per
    //    stream. The estimate itself is not SQL-expressible, but the
    //    CONTRACT is: the exact answer (DuckDB recomputes it from raw
    //    events) must lie within [bound_lo, bound_hi] — emitted as a
    //    containment boolean the oracle asserts all-true, plus the
    //    exact value itself so the raw-side recomputation is also
    //    hash-checked (reference contract `core/sum_estimator.go:34-118`).
    "q_range_count" -> ((s, dir) => {
      import s.implicits._
      val b = QueryEngine.rangeBoundsAll(tables(s, dir).summary,
        s.emptyDataset[LandmarkSpan], s.emptyDataset[LandmarkElem], "count", Jan10, Jan20)
      val exact = Ingest.fromEventsTable(s, dir)
        .filter($"ts" >= Jan10 && $"ts" <= Jan20)
        .groupBy($"streamId".as("stream_id"))
        .agg(count(lit(1)).as("exact_cnt"))
      b.join(exact, "stream_id")
        .select($"stream_id", $"exact_cnt",
          ($"bound_lo" <= $"exact_cnt" && $"exact_cnt" <= $"bound_hi").as("within_bounds"))
    }),
    "q_range_sum" -> ((s, dir) => {
      import s.implicits._
      val b = QueryEngine.rangeBoundsAll(tables(s, dir).summary,
        s.emptyDataset[LandmarkSpan], s.emptyDataset[LandmarkElem], "sum", Jan10, Jan20)
      val exact = Ingest.fromEventsTable(s, dir)
        .filter($"ts" >= Jan10 && $"ts" <= Jan20)
        .groupBy($"streamId".as("stream_id"))
        .agg(sum($"value").as("raw_sum"))
      // 1e-6 absolute tolerance: when a stream is FULLY covered the
      // bounds collapse to the window-ordered sum-of-sums, which may
      // differ from the raw-order FP sum by a few ULP.
      b.join(exact, "stream_id")
        .select($"stream_id", round($"raw_sum", 2).as("exact_sum"),
          ($"bound_lo" - 1e-6 <= $"raw_sum" && $"raw_sum" <= $"bound_hi" + 1e-6).as("within_bounds"))
    }),
    // -- Landmark path: query range inside the exact interval; the
    //    estimator must return error 0 and the exact answer. Runs over
    //    the ROW layout (spans + element rows -> distributed digests).
    "q_landmark_count" -> ((s, dir) => {
      import s.implicits._
      val t = tables(s, dir)
      QueryEngine.rangeQueryAll(
          t.lmSummary, t.lmSpans, t.lmElems, "count", LQ0, LQ1, QueryParams())
        .filter($"estimate" > 0 && $"ci_width" === 0.0)
        .select($"stream_id", $"estimate".cast("long").as("cnt"))
    }),
    "q_landmark_sum" -> ((s, dir) => {
      import s.implicits._
      val t = tables(s, dir)
      QueryEngine.rangeQueryAll(
          t.lmSummary, t.lmSpans, t.lmElems, "sum", LQ0, LQ1, QueryParams())
        .filter($"estimate" > 0 && $"ci_width" === 0.0)
        .select($"stream_id", round($"estimate", 2).as("sum_value"))
    }),
    // -- Boundary-aligned ranges: the estimator over the oldest 1 / 2
    //    windows must be EXACT (error 0), and the covered element prefix
    //    must match a raw-data prefix cut at the decomposition boundary —
    //    the only oracle that can see a shifted window boundary.
    "q_aligned_range" -> ((s, dir) =>
      QueryEngine.alignedPrefixAll(tables(s, dir).summary, numWindows = 1)),
    "q_aligned_range2" -> ((s, dir) =>
      QueryEngine.alignedPrefixAll(tables(s, dir).summary, numWindows = 2)),
    // -- Dedup family over documents.
    "q_dedup_exact" -> ((s, dir) =>
      ops.Dedup.exactDedup(docs(s, dir))),
    // Cross-run incremental dedup: build the persisted hash index on
    // the head 60% of the corpus, probe the tail 40% against it — the
    // survivors are tail docs whose content no head doc (and no
    // earlier tail doc) already carries, one min-id keeper per hash
    // with the batch-local duplicate count.
    "q_dedup_index" -> ((s, dir) => {
      import s.implicits._
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_dedupidx_" +
        java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val tbl = "graft_q_dedup_index_" +
        java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val d = docs(s, dir)
      ops.DedupIndex.build(d.filter($"doc_id" % 10 < 6), out, tbl, nBuckets = 8)
      ops.DedupIndex.filterNew(s, tbl, d.filter($"doc_id" % 10 >= 6))
        .select($"doc_id", $"text_hash", $"n_dups")
    }),
    // Takedown contract on the persisted dedup index: build on the head
    // 60%, tombstone every keeper whose doc_id is divisible by 7, probe
    // the tail 40% — deleted content counts as UNSEEN (a re-crawl of
    // removed content must behave as new), surviving content still
    // filters. The oracle recomputes "seen" as head hashes whose
    // min-id keeper survives the takedown.
    "q_index_delete" -> ((s, dir) => {
      import s.implicits._
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_idxdel_" +
        java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val tbl = "graft_q_index_delete_" +
        java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val d = docs(s, dir)
      ops.DedupIndex.build(d.filter($"doc_id" % 10 < 6), out, tbl, nBuckets = 8)
      ops.DedupIndex.delete(s, tbl,
        d.filter($"doc_id" % 10 < 6 && $"doc_id" % 7 === 0).select($"doc_id"))
      ops.DedupIndex.filterNew(s, tbl, d.filter($"doc_id" % 10 >= 6))
        .select($"doc_id", $"text_hash", $"n_dups")
    }),
    // Shard consolidation: two dedup indexes built INDEPENDENTLY on
    // disjoint corpus slices (per-crawl shards), merged into one — the
    // merged frontier must equal what a from-scratch build over the
    // union corpus would hold, hash for hash: summed duplicate counts
    // (each side collapsed first), min keeper across both.
    "q_index_merge" -> ((s, dir) => {
      import s.implicits._
      val sfx = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val outA = s"${System.getProperty("java.io.tmpdir")}/graft_mrga_$sfx"
      val outB = s"${System.getProperty("java.io.tmpdir")}/graft_mrgb_$sfx"
      val d = docs(s, dir)
      ops.DedupIndex.build(d.filter($"doc_id" % 10 < 4), outA, s"graft_q_index_merge_a_$sfx", nBuckets = 8)
      ops.DedupIndex.build(d.filter($"doc_id" % 10 >= 4 && $"doc_id" % 10 < 6), outB,
        s"graft_q_index_merge_b_$sfx", nBuckets = 8)
      ops.DedupIndex.merge(s, s"graft_q_index_merge_a_$sfx", outA, s"graft_q_index_merge_b_$sfx")
      s.table(s"graft_q_index_merge_a_$sfx").select($"text_hash", $"n_dups", $"keep_id")
    }),
    // Shard consolidation for the FUZZY frontier: two LSH indexes
    // built independently on disjoint slices, merged — postings and
    // fingerprints are deterministic functions of doc content, so the
    // merged index must answer a probe exactly like one built over the
    // union corpus (the q_neardup_index oracle, unchanged).
    "q_neardup_merge" -> ((s, dir) => {
      import s.implicits._
      val sfx = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val outA = s"${System.getProperty("java.io.tmpdir")}/graft_ndmrga_$sfx"
      val outB = s"${System.getProperty("java.io.tmpdir")}/graft_ndmrgb_$sfx"
      val d = docs(s, dir)
      ops.NearDupIndex.build(d.filter($"doc_id" % 10 < 4), outA,
        s"graft_q_neardup_merge_a_$sfx", nBuckets = 8)
      ops.NearDupIndex.build(d.filter($"doc_id" % 10 >= 4 && $"doc_id" % 10 < 6), outB,
        s"graft_q_neardup_merge_b_$sfx", nBuckets = 8)
      ops.NearDupIndex.merge(s, s"graft_q_neardup_merge_a_$sfx", outA,
        s"graft_q_neardup_merge_b_$sfx")
      ops.NearDupIndex.probePairs(s, s"graft_q_neardup_merge_a_$sfx",
        d.filter($"doc_id" % 10 >= 6), threshold = 0.9)
        .select($"doc_a", $"doc_b", $"n_inter", $"n_union")
    }),
    // Cross-run FUZZY dedup: persisted MinHash-LSH index on the head
    // 60%, tail 40% probed against it — verified cross pairs with
    // exact integer (intersection, union) evidence at J >= 0.9 (above
    // the banding knee, so LSH candidates cover the true pair set and
    // the oracle can recompute it exactly).
    "q_neardup_index" -> ((s, dir) => {
      import s.implicits._
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_ndidx_" +
        java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val pfx = "graft_q_neardup_index_" +
        java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val d = docs(s, dir)
      ops.NearDupIndex.build(d.filter($"doc_id" % 10 < 6), out, pfx, nBuckets = 8)
      ops.NearDupIndex.probePairs(s, pfx, d.filter($"doc_id" % 10 >= 6), threshold = 0.9)
        .select($"doc_a", $"doc_b", $"n_inter", $"n_union")
    }),
    // Takedown contract on the near-dup index: build on the head 60%,
    // tombstone every indexed doc whose id is divisible by 7, probe the
    // tail — pairs against deleted docs vanish, pairs against survivors
    // stay. The oracle recomputes the surviving cross-pair set exactly.
    "q_neardup_delete" -> ((s, dir) => {
      import s.implicits._
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_nddel_" +
        java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val pfx = "graft_q_neardup_delete_" +
        java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val d = docs(s, dir)
      ops.NearDupIndex.build(d.filter($"doc_id" % 10 < 6), out, pfx, nBuckets = 8)
      ops.NearDupIndex.delete(s, pfx,
        d.filter($"doc_id" % 10 < 6 && $"doc_id" % 7 === 0).select($"doc_id"))
      ops.NearDupIndex.probePairs(s, pfx, d.filter($"doc_id" % 10 >= 6), threshold = 0.9)
        .select($"doc_a", $"doc_b", $"n_inter", $"n_union")
    }),
    // Near-dup pairs with integer (intersection, union) evidence. The
    // oracle recomputes the full exact Jaccard >= 0.9 pair set —
    // threshold chosen ABOVE the 16x8 banding knee (~0.71), where
    // per-pair detection probability is >= 0.9999, so the equality
    // oracle does not encode an unchecked corpus property (a regenerated
    // corpus with a mid-band pair would not spuriously fail). The
    // J >= 0.5 operating point stays covered by q_neardup_exact.
    "q_neardup_text" -> ((s, dir) =>
      dedupShared(s, dir).pairs09),
    // Duplicate-cluster representative selection: connected components
    // over the J >= 0.9 pair graph (min reachable id per node). The
    // oracle recomputes the transitive closure with a recursive CTE.
    "q_dedup_components" -> ((s, dir) =>
      ops.Dedup.connectedComponents(dedupShared(s, dir).pairs09)),
    // -- Leakage-free split: near-dup clusters (the verified J>=0.9
    //    pair graph, shared with q_dedup_components) land in ONE split
    //    atomically — a test doc can never have a near-duplicate in
    //    train. The oracle recomputes the closure AND the portable
    //    split hash of each cluster representative.
    "q_leakfree_split" -> ((s, dir) => {
      import s.implicits._
      ops.Sampling.leakageFreeSplit(
        docs(s, dir).select($"doc_id"),
        dedupShared(s, dir).pairs09.select($"doc_a", $"doc_b"),
        "doc_id", Seq("train" -> 0.75, "test" -> 0.25))
    }),
    // -- Weighted sample (Efraimidis–Spirakis): 3 docs per source with
    //    token-count weights; u from the portable hash, the key in
    //    integer micro-nats (the q_perplexity libm-portability trick),
    //    so DuckDB replays the race bit-for-bit.
    "q_weighted_sample" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir).select($"doc_id", $"source",
        ops.TextAnalysis.tokenCount($"text").cast("long").as("w"))
      ops.Sampling.weightedSamplePerGroup(d, "source", "doc_id", "w", 3)
    }),
    // -- Token-budget mixture: fill each source's token budget in
    //    portable-hash order — budget-shaped (not rate-shaped)
    //    mixture specification; integer token weights make the SQL
    //    replay exact.
    "q_token_budget" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir).select($"doc_id", $"source",
        ops.TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"))
      ops.Sampling.tokenBudgetSample(d, "source", "doc_id", "n_tokens",
        Map("src0" -> 400L, "src1" -> 137L), defaultBudget = 65L)
    }),
    // SimHash containment contract (hard oracle, q_ann_recall pattern
    // inverted): Hamming <= 3 is the standard SimHash operating point
    // (Manku et al. 2007) and its pair set is a legitimate SUBSET of
    // the exact J >= 0.5 set — never equal to it — so the row KEYS come
    // from the oracle-enumerable exact set, and the SimHash path folds
    // into two Spark-checked booleans that must be constant:
    //   simhash_consistent — every simhash-detected pair reports the
    //     same (n_inter, n_union) the exact path computes;
    //   n_stray = 0 — no simhash-verified pair falls outside the exact
    //     J >= 0.5 set (subset-ness; a broken verify kernel or a
    //     fingerprint emitting false pairs flips this).
    "q_simhash" -> ((s, dir) => {
      import s.implicits._
      // Shingles and the exact J >= 0.5 pair set come from the shared
      // family cache (q_neardup_exact reads the same set); only the
      // simhash verify leg is this query's own work.
      val shared = dedupShared(s, dir)
      val sim = ops.Dedup.verifyWithShingles(
          ops.Dedup.simhashNearDuplicates(docs(s, dir)).select($"doc_a", $"doc_b"),
          shared.shingles, threshold = 0.5)
        .select($"doc_a", $"doc_b", $"n_inter".as("si"), $"n_union".as("su"))
        .localCheckpoint()
      val exact = shared.exact05
      val stray = sim.join(exact, Seq("doc_a", "doc_b"), "left_anti").count()
      exact.join(sim, Seq("doc_a", "doc_b"), "left")
        .select($"doc_a", $"doc_b", $"n_inter", $"n_union",
          ($"si".isNull || ($"si" === $"n_inter" && $"su" === $"n_union"))
            .as("simhash_consistent"),
          lit(stray).as("n_stray"))
    }),
    // Exact near-dup join (prefix-filtered inverted index): provably
    // 100% recall, so its output EQUALS the oracle's all-pairs Jaccard
    // set by construction, with no probabilistic caveat.
    "q_neardup_exact" -> ((s, dir) =>
      dedupShared(s, dir).exact05),
    // -- Int8 embedding quantization: 4x storage compression for the
    //    vector corpus, one codegen'd projection (no UDF, no shuffle).
    //    floor(x*127/scale + 0.5) arithmetic is bit-reproducible IEEE
    //    double math, so the oracle recomputes the exact int8 L1/sum.
    "q_quantize" -> ((s, dir) =>
      ops.Quantization.quantizeStats(
        s.read.parquet(s"$dir/embeddings.parquet"), "embedding", "vec_id")),
    // -- Deterministic sampling: selection is a pure arithmetic
    //    function of doc_id (Knuth multiplicative hash), so the oracle
    //    recomputes the EXACT row set — reproducible subsets are a
    //    first-class training-pipeline operation, not an RNG side
    //    effect. Dyadic split fractions keep the cut points FP-exact in
    //    both engines.
    "q_sample_stratified" -> ((s, dir) => {
      import s.implicits._
      ops.Sampling.stratifiedTopK(docs(s, dir), "lang", "doc_id", k = 20)
        .select($"lang", $"doc_id")
    }),
    "q_sample_split" -> ((s, dir) => {
      import s.implicits._
      ops.Sampling.split(docs(s, dir), "doc_id",
        Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
        .select($"doc_id", $"split")
    }),
    // Domain re-weighting: keep all of src0, half of src1, a quarter of
    // src2, 10% of src3, 5% of everything else — deterministic portable
    // membership the oracle recomputes row by row.
    "q_mixture" -> ((s, dir) => {
      import s.implicits._
      ops.Sampling.mixtureSample(docs(s, dir), "source", "doc_id",
        Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1),
        defaultRate = 0.05)
        .select($"source", $"doc_id")
    }),
    // -- PII scan over documents with deterministic injection: both
    //    engines append the same synthetic email/URL markers to a
    //    doc_id-derived subset, so the regex machinery is checked on
    //    guaranteed-nonzero matches (the raw corpus may contain none).
    "q_pii" -> ((s, dir) => {
      import s.implicits._
      val injected = docs(s, dir).withColumn("text", concat($"text",
        when($"doc_id" % 5 === 0,
          concat(lit(" contact user"), $"doc_id", lit("@example.com now"))).otherwise(lit("")),
        when($"doc_id" % 7 === 0,
          concat(lit(" see https://ex.org/d/"), $"doc_id", lit(" ok"))).otherwise(lit(""))))
      ops.TextAnalysis.piiScan(injected)
    }),
    // Per-epoch deterministic shuffle keys (training order): exact
    // integer arithmetic, so the oracle replays both epochs' keys.
    "q_epoch_order" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      d.select($"doc_id", lit(0L).as("epoch"),
          ops.Sampling.epochOrderKey("doc_id", 0).as("order_key"))
        .unionByName(d.select($"doc_id", lit(1L).as("epoch"),
          ops.Sampling.epochOrderKey("doc_id", 1).as("order_key")))
    }),
    // Oversampling mixture (rate > 1 = repeat the domain): dyadic
    // rates keep every hash threshold integer-exact, so the oracle
    // replays the full copy/fraction expansion.
    "q_mixture_epochs" -> ((s, dir) => {
      import s.implicits._
      ops.Sampling.mixtureSampleRepeats(docs(s, dir), "source", "doc_id",
        Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.25))
        .select($"source", $"doc_id", $"copy")
    }),
    // -- Semi-structured metadata promotion: infer the props JSON
    //    schema from a bounded deterministic bottom-k sample, promote
    //    to typed columns (from_json — codegen, no UDF), aggregate the
    //    promoted field. The oracle re-extracts with DuckDB's JSON
    //    functions; n_corrupt pins the corrupt-flag plumbing to 0 on
    //    this well-formed corpus.
    "q_props_agg" -> ((s, dir) => {
      import s.implicits._
      val ev = s.read.parquet(s"$dir/events.parquet")
      val schema = ops.SemiStructured.inferSchema(ev, "props", "event_id")
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      ops.SemiStructured.promote(ev, "props", schema)
        .groupBy($"event_type")
        .agg(count($"k").as("n_k"), sum($"k").cast("long").as("sum_k"),
          max($"k").cast("long").as("max_k"),
          sum(when($"_corrupt", 1L).otherwise(0L)).as("n_corrupt"))
    }),
    // -- Text analysis over documents.
    "q_text_stats" -> ((s, dir) =>
      ops.TextAnalysis.analyze(docs(s, dir))),
    "q_quality" -> ((s, dir) =>
      ops.TextAnalysis.qualityScore(docs(s, dir)).select("doc_id", "quality")),
    // -- Unicode NFC normalization (native codegen Expression): the
    //    doc_id%4 subset gets decomposed sequences appended (e +
    //    U+0301, i + U+0308); both engines implement UAX #15, so the
    //    normalized text and the changed flag match byte-for-byte.
    "q_nfc" -> ((s, dir) => {
      import s.implicits._
      val injected = docs(s, dir).select($"doc_id",
        when($"doc_id" % 4 === 0,
          concat($"text", lit(" cafe\u0301 nai\u0308ve"))).otherwise($"text")
          .as("text"))
      injected.select($"doc_id",
        ops.TextAnalysis.nfcCol(s, $"text").as("norm_text"),
        (ops.TextAnalysis.nfcCol(s, $"text") =!= $"text").as("changed"))
    }),
    // -- HTML boilerplate extraction: every document is wrapped in a
    //    deterministic crawl-page shell (comments, script/style
    //    payloads, nav list, entities); the extractor must drop the
    //    markup and the under-2-word boilerplate lines and keep the
    //    prose. The oracle replays the exact regex passes in DuckDB —
    //    the patterns are RE2-compatible by design (no backrefs).
    "q_html_extract" -> ((s, dir) => {
      import s.implicits._
      val html = docs(s, dir).select($"doc_id",
        concat(
          lit("<html><!-- crawl id="), $"doc_id", lit(" -->"),
          lit("<head><title>Doc "), $"doc_id", lit("</title>"),
          lit("<script type=\"text/javascript\">var id = "), $"doc_id",
          lit(";</script><style>p { margin: 0 }</style></head>"),
          lit("<body><div class=\"nav\"><ul><li>Home</li><li>About</li></ul></div>"),
          lit("<h1>Document &amp; Title</h1><p>"), $"text",
          lit("</p><div class=\"footer\">Copyright&nbsp;2026</div></body></html>"))
          .as("html"))
      ops.HtmlExtract.extract(html, htmlCol = "html", outCol = "txt", minWordsPerLine = 2)
        .select($"doc_id", $"txt",
          when($"txt" === "", 0).otherwise(size(split($"txt", "\n"))).as("n_lines"))
    }),
    // -- Funnel: view → click → purchase within 6h of the FIRST view,
    //    greedy-earliest anchored-window semantics — the oracle
    //    replays the step chain as correlated min-joins in SQL.
    "q_funnel" -> ((s, dir) => {
      import s.implicits._
      ops.Funnel.funnel(
          Ingest.eventsTableRaw(s, dir),
          Seq("view", "click", "purchase"), 6L * 3600 * 1000000)
        .select($"user_id", $"depth", $"t1")
    }),
    // -- Fuzzy (edit-distance) join: every part name gets a
    //    deterministic one-character deletion (position = partkey mod
    //    length); the deletion-neighborhood join must recover every
    //    (probe, name) pair within distance 1 — the oracle recomputes
    //    the full pair set with DuckDB's native levenshtein over the
    //    (small) distinct cross product.
    "q_fuzzy_join" -> ((s, dir) => {
      import s.implicits._
      val part = s.read.parquet(s"$dir/part.parquet")
      val pos = pmod($"p_partkey", length($"p_name")).cast("int")
      val probes = part.select(
        concat($"p_name".substr(lit(1), pos),
          $"p_name".substr(pos + lit(2), lit(1000))).as("probe")).distinct()
      val names = part.select($"p_name").distinct()
      val r = ops.FuzzyJoin.editDistanceJoin(probes, names, "probe", "p_name", maxDist = 1)
      r.pairs.select($"left_key".as("probe"), $"right_key".as("name"), $"dist")
    }),
    // -- JSONL round trip: documents → gzip JSONL export → permissive
    //    corrupt-flagging reader. Field values with quotes/newlines
    //    don't exist in the synthetic corpus, so the oracle is a
    //    direct projection — the round trip must be lossless and
    //    corruption-free or the hash breaks.
    "q_jsonl" -> ((s, dir) => {
      import s.implicits._
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_jsonl_" +
        java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      sources.CorpusIO.writeJsonl(
        docs(s, dir).select($"doc_id", $"text", $"lang", $"source"), out)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType)))
      sources.CorpusIO.readJsonl(s, out, schema, idField = Some("doc_id"))
        .filter(!$"_corrupt")
        .select($"doc_id", $"text", $"lang", $"source")
    }),
    // -- URL canonicalization: every document gets a deterministic
    //    messy crawl URL (three grammars by doc_id%3: uppercase host +
    //    default port + tracking params + fragment + trailing slash;
    //    ccTLD second-level domain with a dropped-to-empty query;
    //    already-canonical). The oracle constructs the EXPECTED
    //    canonical form directly from the grammar — an independent
    //    statement of the contract, not a replay of the normalizer.
    "q_url_normalize" -> ((s, dir) => {
      import s.implicits._
      val url = when($"doc_id" % 3 === 0,
          concat(lit("HTTP://WWW.Site"), $"doc_id" % 17, lit(".Example.COM:80/Path/"),
            $"doc_id" % 5, lit("/?utm_source=feed&b="), $"doc_id" % 7, lit("&a=1#frag")))
        .when($"doc_id" % 3 === 1,
          concat(lit("https://sub.site"), $"doc_id" % 17, lit(".example.co.uk:443/p?gclid=x")))
        .otherwise(
          concat(lit("http://site"), $"doc_id" % 17, lit(".example.com/p/"), $"doc_id" % 5))
      ops.UrlCuration.parse(docs(s, dir).select($"doc_id", url.as("url")))
        .select($"doc_id", $"norm_url", $"domain")
    }),
    // -- Per-domain cap: at most 2 docs per registered domain, chosen
    //    by the portable Knuth id hash — the oracle replays domain
    //    construction and the (hash, id) window rank in SQL.
    "q_domain_cap" -> ((s, dir) => {
      import s.implicits._
      val url = concat(lit("http://sub"), $"doc_id" % 11, lit(".dom"), $"doc_id" % 7,
        lit(".example"), $"doc_id" % 3, lit(".org/p"))
      ops.UrlCuration.capPerDomain(
          docs(s, dir).select($"doc_id", url.as("url")), k = 2)
        .select($"doc_id")
    }),
    // -- WARC round trip: documents → per-record-gzip WARC files (the
    //    crawl-archive layout) → streaming record parse → HTTP body →
    //    HTML extraction. The sink/reader pair must be lossless and
    //    the extraction deterministic, so the oracle is a direct
    //    replay on the documents table — any corruption in the binary
    //    record framing, gzip members, or HTTP header parse breaks the
    //    hash.
    "q_warc" -> ((s, dir) => {
      import s.implicits._
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_warc_" +
        java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val d0 = new java.io.File(out)
      if (d0.exists()) d0.listFiles().foreach(f =>
        if (f.getName.startsWith("part-")) f.delete())
      val pages = docs(s, dir).select(
        concat(lit("http://corpus.test/"), $"doc_id").as("url"),
        concat(lit("<html><body><h1>Doc "), $"doc_id", lit("</h1><p>"),
          $"text", lit("</p></body></html>")).as("html"))
      sources.WarcIO.writeResponses(pages.repartition(4, $"url"), out)
      sources.WarcIO.toDocuments(s, out).select($"url", $"text".as("txt"))
    }),
    // -- Auto-tuned quality cutoff: keep the corpus's upper half by
    //    quality score — the percentile threshold replaces a guessed
    //    absolute cutoff. Exact percentile here so DuckDB's
    //    quantile_cont recomputes the identical threshold double.
    "q_quality_cut" -> ((s, dir) =>
      ops.Curation.filterByQuantile(
        ops.TextAnalysis.qualityScore(docs(s, dir)).select("doc_id", "quality"),
        "quality", 0.5, exact = true)),
    // -- Corpus snapshot diff: next = prev with doc_id%13 removed,
    //    doc_id%7 texts edited, and doc_id%19 re-added under id+1e6 —
    //    the oracle enumerates the expected delta classes directly.
    "q_corpus_diff" -> ((s, dir) => {
      import s.implicits._
      val prev = docs(s, dir)
      val next = prev.filter($"doc_id" % 13 =!= 0)
        .select($"doc_id", when($"doc_id" % 7 === 0, concat($"text", lit(" v2")))
          .otherwise($"text").as("text"))
        .union(prev.filter($"doc_id" % 19 === 0)
          .select(($"doc_id" + 1000000L).as("doc_id"), $"text"))
      ops.CorpusDiff.diff(prev, next)
    }),
    "q_repetition" -> ((s, dir) =>
      ops.TextAnalysis.repetitionSignals(docs(s, dir))),
    // fastText-style linear classifier (Joulin EACL'17), the quality/
    // domain-filter primitive: planted per-class markers (the corpus
    // text itself carries no label signal), deterministic 3/4-1/4 hash
    // split, fixed-point bit-deterministic training — so the oracle
    // pins EXACT per-document predictions on the held-out quarter, not
    // an accuracy band.
    "q_classifier" -> ((s, dir) => {
      import s.implicits._
      val planted = docs(s, dir).select($"doc_id", $"text")
        .withColumn("label", concat(lit("class"), $"doc_id" % 3))
        .withColumn("text", concat($"text",
          when($"doc_id" % 3 === 0, lit(" qqzero qqnull qqzero qqnull qqzero qqnull"))
            .when($"doc_id" % 3 === 1, lit(" qqone qqunit qqone qqunit qqone qqunit"))
            .otherwise(lit(" qqtwo qqpair qqtwo qqpair qqtwo qqpair"))))
      val isTrain = ops.Sampling.hashKey("doc_id") < 3221225472L // 0.75 * 2^32, dyadic-exact
      val model = ops.TextClassifier.train(planted.filter(isTrain), "label")
      ops.TextClassifier.predict(planted.filter(!isTrain), model)
        .join(planted.select($"doc_id", $"label".as("actual")), "doc_id")
        .select($"doc_id", $"predicted", $"actual",
          ($"predicted" === $"actual").as("correct"))
    }),
    // Per-(source, lang) data card: every number is exact-integer or
    // fixed-rounded (integer ten-thousandth quality sums, type-1
    // quantiles), so the whole release datasheet is a HARD oracle.
    "q_datacard" -> ((s, dir) => ops.DataCard.card(docs(s, dir))),
    // BPE tokenizer (Sennrich ACL'16): vocab trained on the corpus's
    // capped word-frequency table, greedy ranked-merge encoding. The
    // merge loop is data-dependent, so the oracle can't replay it in
    // SQL; the contract is the all-true boolean grid — exact round trip
    // through encode/decode per document, and token count bounded by
    // the character count (real compression is spec-asserted).
    "q_bpe" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      val model = ops.Bpe.train(d, vocabSize = 300, maxWords = 5000)
      val dec = udf((toks: Seq[String]) => ops.Bpe.decode(toks))
      ops.Bpe.encode(d, model)
        .join(d.select($"doc_id", ops.Dedup.normalizeText($"text").as("norm")), "doc_id")
        .select($"doc_id",
          (dec($"tokens") === $"norm").as("round_trip_ok"),
          ($"n_tokens" <= length($"norm")).as("tokens_le_chars"))
    }),
    // Corpus-LM perplexity scoring (CCNet-style quality signal). The
    // portable surface is integer micro-nats: per-token round(ln p *
    // 1e6) summed as longs, so the score is independent of summation
    // order and the oracle recomputes it bit-for-bit (a rounded SUM of
    // doubles would not be — the FP trap the verify notes document).
    "q_perplexity" -> ((s, dir) => {
      import s.implicits._
      ops.LanguageModel.perplexityScores(docs(s, dir), minCount = 2)
        .filter($"n_tokens" > 0)
        .select($"doc_id", $"n_tokens", $"n_oov", $"lp_micro")
    }),
    // Sliding 40-token chunks every 20 (50% overlap).
    "q_chunks" -> ((s, dir) =>
      ops.TextAnalysis.chunk(docs(s, dir), width = 40, stride = 20)),
    // Exact substring dedup (Lee et al. ACL'22): maximal token spans
    // every 8-window of which repeats corpus-wide; the oracle regroups
    // on raw window CONTENT while the operator groups on xxhash64 —
    // agreement doubles as a hash-collision check.
    "q_substring_spans" -> ((s, dir) =>
      ops.SubstringDedup.spansFromWindows(substrShared(s, dir), minTokens = 8)),
    // Keep-one removal: canonical (smallest doc_id, start) occurrence
    // survives; every other covered token is cut. Shares the ranked
    // window frame with q_substring_spans.
    "q_substring_clean" -> ((s, dir) => {
      import s.implicits._
      ops.SubstringDedup.removeCovered(
        docs(s, dir),
        substrShared(s, dir).filter(!$"kept").select($"doc_id", $"start"),
        minTokens = 8)
    }),
    // -- Line-level dedup (C4/RefinedWeb boilerplate removal): the
    //    corpus text is single-line, so the query injects deterministic
    //    boilerplate (a footer on every doc, a newsletter line on
    //    doc_id%3, a DOUBLED click-bait line on doc_id%11 — within-doc
    //    repeats included); the oracle replays the identical
    //    construction and recomputes flags grouping on raw CONTENT
    //    where the plan groups on xxhash64, so agreement doubles as a
    //    collision check (the q_substring_spans discipline).
    "q_line_spans" -> ((s, dir) =>
      ops.LineDedup.duplicatedLinesFrom(lineShared(s, dir))),
    "q_line_clean" -> ((s, dir) => {
      import s.implicits._
      ops.LineDedup.removeDuplicatedLinesFrom(
        lineShared(s, dir), docs(s, dir).select($"doc_id"))
    }),
    // Decontamination: the "benchmark" is the deterministic doc_id%17
    // subset of the corpus itself, so benchmark members are fully
    // contaminated by construction and the oracle re-derives the same
    // 5-gram overlap in SQL.
    "q_contamination" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      ops.Contamination.flagContamination(d, d.filter($"doc_id" % 17 === 0))
    }),
    // Span-level decontamination over the same benchmark: maximal
    // 5-gram-overlap spans, and the scrub-not-drop text rewrite
    // (benchmark members come out fully scrubbed by construction).
    "q_contam_spans" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      ops.Contamination.contaminatedSpans(d, d.filter($"doc_id" % 17 === 0), k = 5)
    }),
    "q_contam_scrub" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      ops.Contamination.scrubContamination(d, d.filter($"doc_id" % 17 === 0), k = 5)
    }),
    // Sequence packing: 512-token packs over 8 hash shards — the
    // oracle replays the identical shard/order/running-sum arithmetic.
    "q_packing" -> ((s, dir) => {
      import s.implicits._
      val withTokens = docs(s, dir)
        .select($"doc_id", ops.TextAnalysis.tokenCount($"text").cast("long").as("n_toks"))
      ops.Packing.packSequences(withTokens, "n_toks", budget = 512L, nShards = 8)
    }),
    // Distinctive terms: top-3 per doc by tf/df with term tie-break.
    "q_tfidf" -> ((s, dir) => {
      import s.implicits._
      ops.TfIdf.topTerms(docs(s, dir), k = 3)
        .withColumn("rank", $"rank".cast("long"))
    }),
    // BM25 lexical retrieval: 20 deterministic queries (the first 4
    // tokens of every 25th doc) ranked against the corpus. Scores are
    // integer micro-points end to end — the one libm factor (ln) is
    // snapped to micro-nats per TERM before anything multiplies it,
    // per-term contributions snap once, and the per-doc sum is an
    // integer sum — so DuckDB replays the full formula bit-for-bit.
    "q_bm25" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      ops.Bm25.topDocs(d, bm25Queries(d), k = 10)
    }),
    // Hybrid retrieval: reciprocal-rank fusion of the BM25 top-20 and
    // the exact-cosine top-20 (both independently hash-verified paths),
    // fused by integer micro-point RRF — the standard no-calibration
    // lexical + vector combiner. The oracle recomputes both rankings
    // AND the fusion exactly.
    "q_hybrid" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      val e = embs(s, dir)
      val lex = ops.Bm25.topDocs(d, bm25Queries(d), k = 20)
        .select($"query_id", $"doc_id", $"rank")
      val vec = ops.Similarity.topK(e, e.filter($"vec_id" % 25 === 0 && $"vec_id" < 5000), k = 20)
        .select($"query_id", $"neighbor_id".as("doc_id"), $"rank")
      ops.Bm25.fuseTopK(Seq(lex, vec), k = 10)
    }),
    // Hybrid retrieval served ENTIRELY from persisted indexes — the
    // serving tier's composition story: the BM25 index answers the
    // lexical top-20 (bit-identical to one-shot BM25 by the additive
    // contract), the ANN index at FULL probe depth answers the vector
    // top-20 exactly (nProbe = cell count scans every cell — ranked on
    // the rounded score, replayed in the oracle), and RRF fuses them.
    // No corpus pass happens at query time; the oracle recomputes both
    // rankings and the fusion from raw data.
    "q_hybrid_index" -> ((s, dir) => {
      import s.implicits._
      val sfx = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val bmOut = s"${System.getProperty("java.io.tmpdir")}/graft_hybbm_$sfx"
      val annOut = s"${System.getProperty("java.io.tmpdir")}/graft_hybann_$sfx"
      val d = docs(s, dir)
      val e = embs(s, dir)
      ops.Bm25Index.build(d, bmOut, nTb = 16)
      val kCells = ops.AnnIndex.build(e, annOut, nClusters = 16, iters = 5)
      // Both modalities under one query id: the lexical text from the
      // doc, the embedding from the aligned vector table.
      val hq = bm25Queries(d)
        .join(e.select($"vec_id".as("query_id"), $"embedding"), "query_id")
      ops.Retrieval.hybridTopK(s, bmOut, annOut, hq,
        k = 10, depth = 20, nProbe = kCells)
    }),
    // Persisted BM25 serving index, probed through the EXACT-append
    // contract: build on the head 60%, append the tail 40%, probe —
    // because every stored quantity is additive (tf/dl per doc, df and
    // corpus stats as summed deltas), the result must be bit-identical
    // to one-shot BM25 over the full corpus (the q_bm25 oracle,
    // unchanged). The ANN tier can't make this promise (frozen centers
    // drift); the lexical tier can, and this query holds it to that.
    "q_bm25_index" -> ((s, dir) => {
      import s.implicits._
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_bm25idx_" +
        java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val d = docs(s, dir)
      ops.Bm25Index.build(d.filter($"doc_id" % 10 < 6), out, nTb = 16)
      ops.Bm25Index.append(s, out, d.filter($"doc_id" % 10 >= 6))
      ops.Bm25Index.topDocs(s, out, bm25Queries(d), k = 10)
    }),
    // Filtered lexical search: the index stores `source` beside every
    // posting (build metaCols), the probe filters at the scan — docs
    // outside the predicate never become candidates, while df/avgdl/N
    // stay GLOBAL, so the result is exactly the unfiltered ranking
    // minus non-matching docs (the oracle post-filters a global score
    // table and re-ranks).
    "q_bm25_filtered" -> ((s, dir) => {
      import s.implicits._
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_bm25fil_" +
        java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val d = docs(s, dir)
      ops.Bm25Index.build(d, out, nTb = 16, metaCols = Seq("source"))
      ops.Bm25Index.topDocs(s, out, bm25Queries(d), k = 10,
        filter = Some($"source".isin("src1", "src3", "src5", "src7", "src9")))
    }),
    // Takedown contract on the BM25 index: tombstone every 21st doc,
    // probe — deleted docs vanish from results IMMEDIATELY while the
    // surviving docs' scores keep the FULL corpus df/avgdl/N until the
    // next compact (a web index's behavior between takedown and segment
    // merge). The oracle recomputes full-stats scores and re-ranks the
    // survivors. This build opts into the Block-Max sidecar (the one
    // oracle query that does), so the sidecar write + the per-block
    // probe machinery stay on the DuckDB hash gate — the other BM25
    // queries run the default flag-off layout both layouts must match.
    "q_bm25_delete" -> ((s, dir) => {
      import s.implicits._
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_bm25del_" +
        java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val d = docs(s, dir)
      ops.Bm25Index.build(d, out, nTb = 16, blockMax = true)
      ops.Bm25Index.delete(s, out, d.filter($"doc_id" % 21 === 0).select($"doc_id"))
      ops.Bm25Index.topDocs(s, out, bm25Queries(d), k = 10)
    }),
    // Retrieval-quality metrics: score the BM25 top-10 run against the
    // exact-cosine top-5 as the relevance set ("how well does lexical
    // retrieval recover semantic neighbors") — recall@10, reciprocal
    // rank, binary-gain nDCG@10, with the per-position 1/log2(r+1)
    // discount snapped to integer micro-points so the oracle replays
    // DCG and ideal DCG as integer sums.
    "q_retrieval_eval" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      val e = embs(s, dir)
      val run = ops.Bm25.topDocs(d, bm25Queries(d), k = 10)
        .select($"query_id", $"doc_id", $"rank")
      val qrels = ops.Similarity.topK(e, e.filter($"vec_id" % 25 === 0 && $"vec_id" < 5000), k = 5)
        .select($"query_id", $"neighbor_id".as("doc_id"))
      ops.RetrievalEval.evaluate(run, qrels, k = 10)
    }),
    // GRADED retrieval metrics + MAP: the same run scored against
    // graded qrels (cosine rank 1 = grade 3, ranks 2-3 = grade 2,
    // ranks 4-5 = grade 1 — a deterministic trec-style judgment set).
    // Gain = the grade itself in integer micro-points (dcg = sum of
    // grade * snapped discount; ideal re-sorts the grades best-first),
    // and average precision's per-hit precision terms are each one
    // exact IEEE division snapped to micro-points — so DuckDB replays
    // graded DCG, ideal DCG and AP as integer sums, hash-exact.
    "q_retrieval_graded" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      val e = embs(s, dir)
      val run = ops.Bm25.topDocs(d, bm25Queries(d), k = 10)
        .select($"query_id", $"doc_id", $"rank")
      val qrels = ops.Similarity.topK(e, e.filter($"vec_id" % 25 === 0 && $"vec_id" < 5000), k = 5)
        .select($"query_id", $"neighbor_id".as("doc_id"),
          when($"rank" === 1, 3L).when($"rank" <= 3, 2L).otherwise(1L).as("grade"))
      ops.RetrievalEval.evaluateGraded(run, qrels, k = 10)
    }),
    // Best-5 docs per source by quality score (bounded-heap reduction,
    // not a full window sort; ties broken by doc_id so the oracle's
    // row_number() reproduces ranks exactly).
    "q_topk_source" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      val q = ops.TextAnalysis.qualityScore(d).select($"doc_id", $"quality")
        .join(d.select($"doc_id", $"source"), Seq("doc_id"))
      ops.TopK.topKPerGroup(q, "source", "doc_id", "quality", 5)
        .select($"group".as("source"), $"id".as("doc_id"),
          $"rank".cast("long").as("rank"), $"value".as("quality"))
    }),
    // Language ID with deterministic injection (the q_pii trick): the
    // corpus text is synthetic ASCII, so per-language stopword suffixes
    // are appended to doc_id-derived subsets to force non-trivial
    // predictions; the oracle then recomputes the FULL detector —
    // tokenize, score each stopword profile, argmax with alphabetical
    // ties, 'en' zero-hit fallback — in SQL on the same injected text,
    // so it does not assume which language wins any given doc.
    "q_langid" -> ((s, dir) => {
      import s.implicits._
      val injected = docs(s, dir).withColumn("text", concat($"text",
        when($"doc_id" % 4 === 1, lit(" der die das und ist nicht ein eine mit von"))
          .when($"doc_id" % 4 === 2, lit(" le la les et est une dans que pour pas"))
          .when($"doc_id" % 4 === 3, lit(" el la los las y es una en que por"))
          .otherwise(lit(""))))
      ops.TextAnalysis.languageId(injected)
    }),
    // Fingerprint equality structure: docs sharing a fingerprint share a
    // representative (min doc_id). The fp values themselves are not
    // SQL-portable (murmur), but the induced partition is: it must equal
    // grouping by whitespace-normalized text. An order-insensitive or
    // collision-happy fingerprint changes the partition and fails.
    "q_fingerprint_groups" -> ((s, dir) => {
      import s.implicits._
      val fp = ops.TextAnalysis.fingerprints(docs(s, dir))
      fp.withColumn("rep_id", min($"doc_id").over(
          org.apache.spark.sql.expressions.Window.partitionBy($"fp")))
        .select($"doc_id", $"rep_id")
    }),
    // Embedding-cosine near-dup with deterministic injection: the
    // corpus has no natural near-duplicate embeddings (max pairwise
    // cosine ~0.51), so a perturbed copy of every 20th vector — last
    // component zeroed, an FP-exact operation both engines reproduce
    // bit-identically — is unioned in under id+1,000,000. Resulting
    // injected-pair cosines (~0.99) sit far above the 0.9 threshold and
    // natural pairs far below (<= 0.52), so LSH recall is certain
    // (miss probability ~1e-9 at 16x8) and no compared decision is
    // near an FP boundary. Emitting only the (id_a, id_b) pair set —
    // no float columns — makes the oracle's exact all-pairs recompute
    // an equality contract.
    "q_embed_neardup" -> ((s, dir) => {
      import s.implicits._
      val e = embs(s, dir).select($"vec_id", $"embedding")
      val injected = e.filter($"vec_id" % 20 === 0)
        .select(($"vec_id" + 1000000L).as("vec_id"),
          expr("transform(embedding, (x, i) -> CASE WHEN i = size(embedding) - 1 " +
            "THEN cast(0.0 as float) ELSE x END)").as("embedding"))
      ops.Similarity.embeddingNearDuplicates(e.unionByName(injected), threshold = 0.9)
        .select($"id_a", $"id_b")
    }),
    // Semantic decontamination: the training corpus matched against a
    // BENCHMARK embedding set (the q_embed_neardup injection, standing
    // in for paraphrased eval questions) — cross-corpus LSH buckets,
    // A x B candidates only, exact-cosine verification. The oracle
    // recomputes the exact all-pairs corpus x benchmark cosine >= 0.9
    // pair set; emitting only ids makes it an equality contract.
    "q_sem_contam" -> ((s, dir) => {
      import s.implicits._
      val e = embs(s, dir).select($"vec_id", $"embedding")
      val benchmark = e.filter($"vec_id" % 20 === 0)
        .select(($"vec_id" + 1000000L).as("vec_id"),
          expr("transform(embedding, (x, i) -> CASE WHEN i = size(embedding) - 1 " +
            "THEN cast(0.0 as float) ELSE x END)").as("embedding"))
      ops.Similarity.crossNearDuplicates(e, benchmark, threshold = 0.9)
        .select($"id_a", $"id_b")
    }),
    // SemDeDup (arXiv:2303.09540): k-means cells as the candidate
    // generator, true-cosine verification, keep-one-per-group removal.
    // Contract oracle over the same injected twins as q_embed_neardup:
    // every twin pair must be caught (deterministic clustering puts the
    // near-identical pair in one cell) and dedup must remove exactly
    // one member. Emitted pairs are filtered on the true cosine, so
    // subset-of-exact holds by construction, not by assertion.
    "q_semdedup" -> ((s, dir) => {
      import s.implicits._
      val e = embs(s, dir).select($"vec_id".cast("long").as("vec_id"), $"embedding")
      val injected = e.filter($"vec_id" % 20 === 0)
        .select(($"vec_id" + 1000000L).as("vec_id"),
          expr("transform(embedding, (x, i) -> CASE WHEN i = size(embedding) - 1 " +
            "THEN cast(0.0 as float) ELSE x END)").as("embedding"))
      val (pairs, survivors) = ops.SemDeDup.run(e.unionByName(injected), threshold = 0.9)
      val twinCaught = pairs
        .filter($"id_b" === $"id_a" + 1000000L)
        .select($"id_a".as("vec_id"), lit(true).as("tc"))
      val sv = survivors.select($"vec_id".cast("long").as("sid")).localCheckpoint()
      e.filter($"vec_id" % 20 === 0).select($"vec_id")
        .join(twinCaught, Seq("vec_id"), "left")
        .join(sv.select($"sid".as("vec_id"), lit(true).as("base_in")), Seq("vec_id"), "left")
        .join(sv.select(($"sid" - 1000000L).as("vec_id"), lit(true).as("twin_in")),
          Seq("vec_id"), "left")
        .select($"vec_id",
          coalesce($"tc", lit(false)).as("pair_caught"),
          (coalesce($"base_in", lit(false)) =!= coalesce($"twin_in", lit(false)))
            .as("removed_one"))
    }),
    // -- Similarity search over embeddings.
    "q_knn" -> ((s, dir) => {
      import s.implicits._
      val e = embs(s, dir)
      ops.Similarity.topK(e, e.filter($"vec_id" < 50), k = 10)
        .withColumn("rank", org.apache.spark.sql.functions.col("rank").cast("long"))
    }),
    // ANN output contract (upgrades the old rows-only check): the
    // neighbor SET is seed-dependent, but three things are not — every
    // query returns a full k (the (query_id, rank) grid IS the oracle's
    // row set), every reported score equals the exact cosine of its
    // pair recomputed from the vectors, and displayed scores are
    // non-increasing by rank. A broken kernel, heap, or ranking flips
    // `ok` or changes the grid; both hash-mismatch.
    "q_ann_knn" -> ((s, dir) => {
      import s.implicits._
      val e = embs(s, dir)
      val ann = ops.Similarity.annTopK(e, e.filter($"vec_id" < 50), k = 10, tables = 32, bits = 4)
      val qv = e.select($"vec_id".as("query_id"), $"embedding".as("qvec"))
      val nv = e.select($"vec_id".as("neighbor_id"), $"embedding".as("nvec"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy($"query_id").orderBy($"rank")
      ann.join(broadcast(qv), "query_id").join(nv, "neighbor_id")
        .withColumn("exact", round(ops.Similarity.cosineCol(s, $"qvec", $"nvec"), 4))
        .withColumn("prev", lag($"score", 1).over(w))
        .select($"query_id", $"rank".cast("long").as("rank"),
          ($"score" === $"exact" && ($"prev".isNull || $"prev" >= $"score")).as("ok"))
    }),
    // ANN recall contract (the q_approx_distinct pattern): per query,
    // the seeded-LSH top-10 must recover >= 6 of the exact top-10.
    // Deterministic (fixed hyperplane seed), so the oracle asserts
    // recall_ok all-true over the exact query-id set; a query losing
    // rows entirely surfaces as a row-count mismatch.
    "q_ann_recall" -> ((s, dir) => {
      import s.implicits._
      val e = embs(s, dir)
      val q = e.filter($"vec_id" < 50)
      val ann = ops.Similarity.annTopK(e, q, k = 10, tables = 32, bits = 4)
        .select($"query_id", $"neighbor_id")
      val exact = ops.Similarity.topK(e, q, k = 10).select($"query_id", $"neighbor_id")
      ann.join(exact, Seq("query_id", "neighbor_id"))
        .groupBy($"query_id")
        .agg((count(lit(1)) >= 6L).as("recall_ok"))
    }),
    // IVF recall contract: the k-means coarse-quantizer path probing
    // HALF the cells must recover >= 4 of the exact top-10 per query —
    // deterministic because kmeans init/iterations are deterministic.
    // (This corpus's neighbors sit at cosine 0.3-0.5 — far — which is
    // IVF's hard regime; the floor reflects that honestly.)
    "q_ivf_recall" -> ((s, dir) => {
      import s.implicits._
      val e = embs(s, dir)
      val q = e.filter($"vec_id" < 50)
      val ivf = ops.Clustering.ivfTopK(e, q, k = 10, nClusters = 16, nProbe = 8)
        .select($"query_id", $"neighbor_id")
      val exact = ops.Similarity.topK(e, q, k = 10).select($"query_id", $"neighbor_id")
      ivf.join(exact, Seq("query_id", "neighbor_id"))
        .groupBy($"query_id")
        .agg((count(lit(1)) >= 4L).as("recall_ok"))
    }),
    // -- Persisted IVF index: build-once/query-many round trip through
    //    the cell-partitioned on-disk layout (partition pruning as the
    //    inverted file); same recall contract as q_ivf_recall, but the
    //    neighbors come back through the stored index.
    "q_ann_index" -> ((s, dir) => {
      import s.implicits._
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_annidx_" +
        java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val e = embs(s, dir)
      ops.AnnIndex.build(e, out, nClusters = 16, iters = 5)
      val q = e.filter($"vec_id" < 50)
      val idx = ops.AnnIndex.topK(s, out, q, k = 10, nProbe = 8)
        .select($"query_id", $"neighbor_id")
      val exact = ops.Similarity.topK(e, q, k = 10).select($"query_id", $"neighbor_id")
      idx.join(exact, Seq("query_id", "neighbor_id"))
        .groupBy($"query_id")
        .agg((count(lit(1)) >= 4L).as("recall_ok"))
    }),
    // Takedown contract on the ANN index, planted-twin form: index the
    // corpus PLUS an identical twin (id + 1e6) of every query vector —
    // pre-delete the twin is the guaranteed rank-1 hit at cosine 1.0 —
    // then tombstone all twins. The probe must return k full rows per
    // query with NO twin among them (a broken delete puts the twin at
    // rank 1, flipping twin_absent for every query).
    "q_ann_delete" -> ((s, dir) => {
      import s.implicits._
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_anndel_" +
        java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val e = embs(s, dir).select($"vec_id", $"embedding")
      val q = e.filter($"vec_id" < 50)
      val twins = q.select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
      ops.AnnIndex.build(e.unionByName(twins), out, nClusters = 16, iters = 5)
      ops.AnnIndex.delete(s, out, twins.select($"vec_id"))
      ops.AnnIndex.topK(s, out, q, k = 10, nProbe = 16)
        .groupBy($"query_id")
        .agg(
          (sum(when($"neighbor_id" >= 1000000L, 1L).otherwise(0L)) === 0L).as("twin_absent"),
          (count(lit(1)) === 10L).as("k_full"))
    }),
    // Shard consolidation for the vector tier: two ANN indexes built
    // independently on the even/odd halves, the odd shard merged into
    // the even one through the frozen-center append path. topK scores
    // raw vectors, so at full probe depth the merged index answers
    // EXACTLY like brute force over the union corpus — a hard
    // row-for-row replay, not a recall contract.
    "q_ann_merge" -> ((s, dir) => {
      import s.implicits._
      val sfx = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val outA = s"${System.getProperty("java.io.tmpdir")}/graft_amrga_$sfx"
      val outB = s"${System.getProperty("java.io.tmpdir")}/graft_amrgb_$sfx"
      val e = embs(s, dir).select($"vec_id", $"embedding")
      ops.AnnIndex.build(e.filter($"vec_id" % 2 === 0), outA, nClusters = 16, iters = 5)
      ops.AnnIndex.build(e.filter($"vec_id" % 2 === 1), outB, nClusters = 8, iters = 3)
      ops.AnnIndex.merge(s, outA, outB)
      val q = e.filter($"vec_id" < 50)
      ops.AnnIndex.topK(s, outA, q, k = 10, nProbe = 16)
        .select($"query_id", $"neighbor_id", $"rank", $"score")
    }),
    // Filtered ANN search, exact form: the index stores `label` as a
    // filterable metadata column beside each vector, and the probe
    // carries a metadata predicate ("top-k among label % 3 = 0") that
    // pushes into the partition-pruned scan. At nProbe = the cell
    // count every cell is scanned, so the result is EXACTLY brute-force
    // filtered top-k — replayed row-for-row by DuckDB (ranked on the
    // rounded score, AnnIndex.topK's contract, ties by neighbor_id).
    "q_ann_filtered" -> ((s, dir) => {
      import s.implicits._
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_annflt_" +
        java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val e = embs(s, dir)
      ops.AnnIndex.build(e, out, nClusters = 16, iters = 5, metaCols = Seq("label"))
      val q = e.filter($"vec_id" < 50)
      ops.AnnIndex.topK(s, out, q, k = 10, nProbe = 16,
        filter = Some($"label" % 3 === 0))
        .select($"query_id", $"neighbor_id", $"rank", $"score")
    }),
    // The same filtered-search contract through the compressed sidecar:
    // pqcodes stores the metadata beside the codes, the predicate
    // applies DURING the ADC scan (excluded rows never consume the
    // refine budget), and with nProbe = all cells + a refine budget
    // past the filtered corpus size the ADC cut keeps every candidate
    // — so the exact-cosine re-rank IS brute-force filtered top-k
    // (ranked unrounded, topKPq's contract).
    "q_ann_filtered_pq" -> ((s, dir) => {
      import s.implicits._
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_annfpq_" +
        java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val e = embs(s, dir)
      ops.AnnIndex.build(e, out, nClusters = 16, iters = 5, metaCols = Seq("label"))
      ops.AnnIndex.buildPq(s, out, m = 16, codes = 32, iters = 5)
      val q = e.filter($"vec_id" < 50)
      ops.AnnIndex.topKPq(s, out, q, k = 10, nProbe = 16, refine = 500,
        filter = Some($"label" % 3 === 0))
        .select($"query_id", $"neighbor_id", $"rank", $"score")
    }),
    // Persisted IVF-PQ: the 100-TB serving path for the vectors
    // themselves (m one-byte codes instead of ~3 KB of floats per
    // vector). ADC candidate scan over the probed cells' pqcodes
    // partitions, exact-cosine refine — recall floor through the full
    // build -> encode -> persist -> probe round trip.
    "q_ann_pq" -> ((s, dir) => {
      import s.implicits._
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_annpq_" +
        java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val e = embs(s, dir)
      ops.AnnIndex.build(e, out, nClusters = 16, iters = 5)
      ops.AnnIndex.buildPq(s, out, m = 16, codes = 32, iters = 5)
      val q = e.filter($"vec_id" < 50)
      val idx = ops.AnnIndex.topKPq(s, out, q, k = 10, nProbe = 8)
        .select($"query_id", $"neighbor_id")
      val exact = ops.Similarity.topK(e, q, k = 10).select($"query_id", $"neighbor_id")
      idx.join(exact, Seq("query_id", "neighbor_id"))
        .groupBy($"query_id")
        .agg((count(lit(1)) >= 4L).as("recall_ok"))
    }),
    // PCA spectrum contract: for each of the top-16 axes, the empirical
    // population variance of the corpus's projections must equal the
    // model's eigenvalue (within fixed-point tolerance) and the
    // spectrum must be non-increasing — the defining property of PCA,
    // checkable without the oracle re-deriving an eigendecomposition.
    "q_pca" -> ((s, dir) => {
      import s.implicits._
      val e = embs(s, dir)
      val m = ops.Pca.fit(e, k = 16)
      val ev = m.eigenvalues
      val evDf = s.createDataset(ev.toSeq.zipWithIndex.map { case (v, i) =>
        (i.toLong, v, i == 0 || ev(i) <= ev(i - 1) + 1e-12)
      }).toDF("coord", "ev", "desc_ok")
      ops.Pca.transform(e, m)
        .select(posexplode($"pca").as(Seq("coord", "x")))
        .groupBy($"coord".cast("long").as("coord"))
        .agg(var_pop($"x").as("v"))
        .join(broadcast(evDf), "coord")
        .select($"coord",
          (abs($"v" - $"ev") / greatest($"ev", lit(1e-12)) < 0.05).as("spectrum_ok"),
          $"desc_ok")
    }),
    // PQ-ADC recall contract: 16 sub-codebooks x 32 codes compress each
    // 256 B vector to 16 codes; the ADC scan + exact refine of the top
    // 80 candidates must recover >= 5 of the exact top-10 per query
    // (measured floor 8/10 at both verify and bench scales; the whole
    // pipeline — hash-order init, fixed Lloyd rounds, fixed-point sums —
    // is deterministic, so this is a hard contract, not a flaky one).
    "q_pq_recall" -> ((s, dir) => {
      import s.implicits._
      val e = embs(s, dir)
      val q = e.filter($"vec_id" < 50)
      val pq = ops.ProductQuantization
        .pqTopK(e, q, k = 10, m = 16, codes = 32, iters = 3, refine = 80)
        .select($"query_id", $"neighbor_id")
      val exact = ops.Similarity.topK(e, q, k = 10).select($"query_id", $"neighbor_id")
      pq.join(exact, Seq("query_id", "neighbor_id"))
        .groupBy($"query_id")
        .agg((count(lit(1)) >= 5L).as("recall_ok"))
    }),
    // -- Classic relational aggregation (driver's canonical example).
    "q1_agg" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy($"l_returnflag")
        .agg(
          round(sum($"l_quantity"), 2).as("sum_qty"),
          round(sum($"l_extendedprice"), 2).as("sum_price"),
          count(lit(1)).as("n_rows"))
    }),
    // -- Relational surface: broadcast-joined star query (small dims are
    //    broadcast explicitly; no shuffle join for dimension tables).
    "q_join" -> ((s, dir) => {
      import s.implicits._
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      val n = s.read.parquet(s"$dir/nation.parquet")
      o.join(broadcast(c), $"o_custkey" === $"c_custkey")
        .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(
          count(lit(1)).as("n_orders"),
          round(sum($"o_totalprice"), 2).as("revenue"))
        .withColumnRenamed("n_name", "nation")
    }),
    // -- Bloom-pruned fact⋈dim join: lineitem is pruned by a bloom of
    //    the ~1% filtered orders' keys BEFORE its shuffle; the result
    //    is row-identical to the plain join (no false negatives), so
    //    the oracle is the plain SQL join — the pruning is invisible
    //    in the rows, which is exactly the contract. Quantities are
    //    integer-valued doubles, so the long-cast sum is FP-exact.
    "q_bloom_join" -> ((s, dir) => {
      import s.implicits._
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val dim = s.read.parquet(s"$dir/orders.parquet")
        .where($"o_orderkey" % 97 === 0)
      ops.BloomJoin.prunedJoin(li, dim, "l_orderkey", "o_orderkey")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          sum($"l_quantity").cast("long").as("qty"))
    }),
    // -- Sketch ops (declared-but-absent in the reference: bloom/cms/freq).
    "q_distinct_exact" -> ((s, dir) => {
      import s.implicits._
      ops.Frequency.distinctExact(rawEvents(s, dir), "user_id", "event_type")
        .withColumnRenamed("group_id", "stream_id")
    }),
    // Approx distinct: HLL++ values won't hash-match another engine's
    // sketch, but the error contract is checkable — emit whether the
    // estimate is within rsd + 1 of exact; the oracle asserts all-true.
    "q_approx_distinct" -> ((s, dir) => {
      import s.implicits._
      rawEvents(s, dir)
        .groupBy($"user_id".as("stream_id"))
        .agg(
          countDistinct($"event_type").as("exact"),
          approx_count_distinct($"event_type", 0.05).as("approx"))
        .select($"stream_id",
          (abs($"approx" - $"exact") <= $"exact" * 0.05 + lit(1.0)).as("within_bound"))
    }),
    "q_top_type" -> ((s, dir) =>
      ops.Frequency.topKeyExact(rawEvents(s, dir), "user_id", "event_type")
        .withColumnRenamed("group_id", "stream_id")),
    // Sketch sizes matched to per-stream cardinality (~100 elements):
    // an eps=0.001 CMS is 112 KB/stream and would dominate the shuffle.
    // Contract oracle (q_approx_distinct pattern): every EXACT-heavy key
    // (> 10% of its stream, far above the Misra-Gries no-loss floor of
    // N/(4*topK+1)) must surface with a CMS estimate within
    // [exact, exact + ceil(eps*N)] — DuckDB recomputes the exact-heavy
    // set and asserts within_bounds all-true.
    "q_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      val raw = rawEvents(s, dir)
      val est = ops.Frequency.heavyHittersCms(raw, "user_id", "event_type", eps = 0.01)
      val exact = raw.groupBy($"user_id".as("group_id"), $"event_type".as("key"))
        .agg(count(lit(1)).as("exact_cnt"))
      val tot = raw.groupBy($"user_id".as("group_id")).agg(count(lit(1)).as("n"))
      exact.join(tot, "group_id")
        .filter($"exact_cnt" > $"n" * 0.1)
        .join(est, Seq("group_id", "key"), "left")
        .select($"group_id".as("stream_id"), $"key", $"exact_cnt",
          ($"est_cnt".isNotNull && $"est_cnt" >= $"exact_cnt" &&
            $"est_cnt" <= $"exact_cnt" + ceil($"n" * 0.01)).as("within_bounds"))
    }),
    // Contract oracle: a Bloom filter has NO false negatives — every
    // (stream, key) pair actually present must probe true. (Absent-key
    // probes stay exercised in SketchesSpec; their false-positive rate
    // is not a deterministic contract.)
    "q_bloom" -> ((s, dir) => {
      import s.implicits._
      val raw = rawEvents(s, dir)
      val m = ops.Frequency.bloomMembership(
        raw, "user_id", "event_type",
        Seq("click", "view", "purchase", "signup", "error", "zz_absent_type"),
        expectedItems = 2048L)
      val present = raw
        .select($"user_id".as("group_id"), $"event_type".as("key")).distinct()
      m.join(present, Seq("group_id", "key"))
        .select($"group_id".as("stream_id"), $"key", $"might_contain")
    }),
    // -- Multimodal decode: real PNG payloads -> ImageIO decode ->
    //    integer pixel stats. The oracle recomputes width/height/px_sum
    //    from the gradient generation rules, so a broken encoder OR
    //    decoder flips the hard signal. Single-modality queries filter
    //    docs BELOW the generator (media_type is doc_id % 3): never
    //    encode/decode payloads the query then throws away — the same
    //    pushdown a real binary-column scan gets from partitioning the
    //    media table by modality.
    "q_media_features" -> ((s, dir) => {
      import s.implicits._
      ops.Multimodal.imagePixelStats(
        mediaShared(s, dir).filter($"media_type" === "image"))
    }),
    // -- Media metadata surface: types/dims/durations (and the audio
    //    WAV size, 44 + 2*n_samples) follow SQL-expressible rules, so
    //    this one is fully oracle-checkable; image/video n_bytes (real
    //    PNG/GIF sizes) project NULL.
    "q_media_meta" -> ((s, dir) =>
      ops.Multimodal.mediaSummary(mediaShared(s, dir))),
    // -- Audio decode: real WAV payloads -> javax.sound.sampled decode
    //    -> integer sample stats. The oracle recomputes rate/count/sum
    //    from the PCM generation rule, so a broken encoder OR decoder
    //    flips the hard signal (audio analogue of q_media_features).
    "q_audio_stats" -> ((s, dir) => {
      import s.implicits._
      ops.Multimodal.audioSampleStats(
        mediaShared(s, dir).filter($"media_type" === "audio"))
    }),
    // -- Video frame decode: real animated-GIF payloads -> ImageIO
    //    frame reads -> per-frame integer pixel sums, one row per frame.
    "q_video_frames" -> ((s, dir) => {
      import s.implicits._
      ops.Multimodal.videoFrameStats(
        mediaShared(s, dir).filter($"media_type" === "video"))
    }),
    // -- Media dedup by DECODED pixels: the doc_id%21 image subset is
    //    re-encoded as BMP (bytes change, raster doesn't) and unioned
    //    back under id+1e6; byte-level dedup misses every such pair,
    //    pixel-signature dedup catches exactly them PLUS the natural
    //    twins — image ids congruent mod 256 share (dims, gradient
    //    phase) by the generator rules, so the oracle enumerates the
    //    full expected pair set in SQL at ANY scale factor.
    //    Audio/video join the contract through container-level twins:
    //    %21==1 audio gets a LIST chunk inserted (bytes change, PCM
    //    doesn't), %21==2 video gets junk after the GIF trailer —
    //    mod-21 residues align with the mod-3 modality rule, so each
    //    twin class stays within its modality.
    "q_media_dedup" -> ((s, dir) => {
      import s.implicits._
      val media = mediaShared(s, dir).select($"doc_id", $"media_type", $"payload")
      val imgCopies = ops.MediaDedup
        .transcodeImages(media.filter($"media_type" === "image" && $"doc_id" % 21 === 0), "bmp")
      val padWav = udf((p: Array[Byte]) => ops.MediaDedup.padWavChunk(p))
      val audCopies = media.filter($"media_type" === "audio" && $"doc_id" % 21 === 1)
        .withColumn("payload", padWav($"payload"))
      val vidCopies = media.filter($"media_type" === "video" && $"doc_id" % 21 === 2)
        .withColumn("payload", concat($"payload", lit(Array[Byte](9, 9, 9, 9))))
      val copies = imgCopies.union(audCopies).union(vidCopies)
        .select(($"doc_id" + 1000000L).as("doc_id"), $"media_type", $"payload")
      ops.MediaDedup.exactContentDuplicatePairs(media.union(copies))
    }),
    // -- Stream statistics (Welford aggregator, distributed merge).
    // Oracle-compare note: means/variances are rounded via decimally-
    // exact derived quantities (mean*n = the 2-decimal input sum) —
    // rounding a mean directly can land exactly on a rounding boundary
    // (e.g. sum/80 terminating in ...5) where two correct FP paths split.
    "q_stats" -> ((s, dir) => {
      import s.implicits._
      StreamStats.perStream(Ingest.fromEventsTable(s, dir))
        .select(
          $"stream_id", $"n",
          round($"value_mean" * $"n", 2).as("value_sum"),
          round($"value_svar", 2).as("value_svar"))
    }),
    "q_interval_stats" -> ((s, dir) => {
      import s.implicits._
      StreamStats.perStream(Ingest.fromEventsTable(s, dir))
        .filter($"n" > 1) // single-element streams have no intervals
        .select(
          $"stream_id",
          ($"n" - 1).as("n_intervals"),
          // Telescoped interval sum — integer-exact, unlike mean*(n-1).
          ($"last_ts" - $"first_ts").as("interval_total_us"))
    }),
    // -- Approximate per-stream quantiles (built-in Greenwald-Khanna
    //    sketch, mergeable/one-pass): self-checking rank-error contract
    //    — within_bound must be uniformly true, recomputed as `true`
    //    from exact data by the oracle (the q_approx_distinct pattern).
    "q_quantiles" -> ((s, dir) =>
      StreamStats.quantileContract(
        Ingest.fromEventsTable(s, dir), Seq(0.5, 0.9, 0.99))),
    // -- Windowed distinct-count summaries: per-window HLL sketches
    //    merged across the whole stream must land within 5% of exact —
    //    proving the partial/final decomposition through real windows.
    "q_distinct_sketch" -> ((s, dir) =>
      DistinctSummary.distinctContract(Ingest.fromEventsTable(s, dir), Spec)),
    // -- Windowed Bloom membership (the reference's declared-but-absent
    //    per-window bloom op): per-ELEMENT fine filters re-coarsened to
    //    the canonical decay partition — every window a real multi-way
    //    sketch merge — then probed per stream for every value actually
    //    present. Blooms have NO false negatives and unions only set
    //    more bits, so n_missed must be 0; n_present pins the probe
    //    plumbing to the oracle's exact count-distinct.
    "q_window_bloom" -> ((s, dir) =>
      FreqSummary.bloomContractFrom(freqShared(s, dir), Ingest.fromEventsTable(s, dir))),
    // -- Windowed count-min frequency (declared-but-absent cms op):
    //    same re-coarsening path; every value's estimate from the
    //    merged window sketches must sit in [exact, exact + ceil(eps*N)]
    //    (one-sided CMS error through cell-wise counter adds).
    "q_window_cms" -> ((s, dir) =>
      FreqSummary.cmsContractFrom(freqShared(s, dir), Ingest.fromEventsTable(s, dir))),
    // -- Windowed heavy hitters (declared-but-absent freq op): merged
    //    Misra-Gries candidate maps must hold every exact-heavy key
    //    (pigeonhole + mergeable-summaries bound), scored in-bounds by
    //    the merged CMS — all through the same re-coarsening path.
    "q_window_freq" -> ((s, dir) =>
      FreqSummary.freqContractFrom(freqShared(s, dir), Ingest.fromEventsTable(s, dir))),
    // -- Windowed quantile summaries: per-window KLL-style sketches
    //    through the same re-coarsening path, held to the sketch's OWN
    //    certified rank-error bound (which ADDS across merges, so any
    //    distributed aggregation order preserves it). k=32 forces real
    //    compactions (err > 0) even at sf0.01 stream sizes.
    "q_window_quantile" -> ((s, dir) =>
      QuantileSummary.quantileContract(
        Ingest.fromEventsTable(s, dir), Spec, Seq(0.5, 0.9, 0.99), k = 32)),
    // -- Windowed bottom-k sample summaries ("show me k events from the
    //    range"): per-window samples keyed by the portable Knuth hash of
    //    seq, routed THROUGH a real decay merge, then full-range-
    //    unioned. Bottom-k by a fixed hash is an EXACT monoid (bottom-k
    //    of a union == bottom-k of the members' bottom-ks), so unlike
    //    the sketch contracts this is a HARD value-level oracle: DuckDB
    //    recomputes the identical k rows per stream from raw events.
    "q_window_sample" -> ((s, dir) => {
      import s.implicits._
      SampleSummary.rangeSample(
        SampleSummary.throughMerge(Ingest.fromEventsTable(s, dir), Spec, k = 16), k = 16)
        .select($"stream_id", $"rank", $"seq", $"value", $"hk")
    }),
    // -- Tumbling-bucket anomaly scores: per-day bucket means scored
    //    against each stream's robust median/MAD baseline (outliers
    //    cannot drag the baseline they should be flagged against). The
    //    oracle recomputes buckets, exact interpolated medians, MAD,
    //    and the 1.4826-normalized z. Rounding is floor(x*k + 0.5)/k on
    //    BOTH sides — pure IEEE double ops, so identical inputs round
    //    identically (Spark's round() rounds the shortest DECIMAL
    //    string while DuckDB's rounds the binary value: a mean of
    //    exactly 8.0125 rounds to 8.013 vs 8.012).
    "q_anomaly" -> ((s, dir) => {
      import s.implicits._
      def r(c: org.apache.spark.sql.Column, k: Int) = floor(c * k + 0.5) / k
      StreamStats.anomalyScores(Ingest.fromEventsTable(s, dir), 86400000000L)
        .select($"stream_id", $"bucket", $"n", r($"mean", 1000).as("mean"),
          r($"med", 1000).as("med"), r($"mad", 1000).as("mad"),
          r($"z", 100).as("z"))
    }),
    // -- Rolling window (last 5 events per stream): exact running
    //    sum/min/max over a row-bounded frame — one shuffle, O(width)
    //    state. DuckDB recomputes the identical frames.
    "q_rolling" -> ((s, dir) => {
      import s.implicits._
      StreamStats.rolling(Ingest.fromEventsTable(s, dir), width = 5)
        .select($"stream_id", ($"seq" + 1L).as("rn"), $"roll_n",
          round($"roll_sum", 2).as("roll_sum"), $"roll_min", $"roll_max")
    }),
    // -- Sessionization (6h inactivity gap): gaps-and-islands session
    //    index -> per-session rollup, two window passes on one shuffle.
    //    The oracle rebuilds the same islands with lag + running sum.
    "q_sessions" -> ((s, dir) => {
      import s.implicits._
      ops.Sessionize.sessionize(Ingest.fromEventsTable(s, dir), 6L * 3600 * 1000000)
        .select($"stream_id", $"session_idx", $"n", $"ts_start", $"ts_end",
          round($"sum_value", 2).as("sum_value"))
    }),
    // Bucketized interval join: every event joined to its containing
    // session interval through the bin-and-filter equi-join (a plain
    // hash join — NEVER the BroadcastNestedLoopJoin a bare non-equi
    // range predicate plans). Oracle recomputes via SQL BETWEEN join.
    "q_interval_join" -> ((s, dir) => {
      import s.implicits._
      val ev = Ingest.fromEventsTable(s, dir).toDF().select($"streamId".as("stream_id"), $"ts")
      val sess = ops.Sessionize
        .sessionize(Ingest.fromEventsTable(s, dir), 6L * 3600 * 1000000)
        .select($"stream_id", $"session_idx", $"ts_start", $"ts_end")
      ops.IntervalJoin.join(ev, sess, "ts", "ts_start", "ts_end", keys = Seq("stream_id"))
        .select($"stream_id", $"ts", $"session_idx")
    }),
    // -- As-of join: every event looks up the latest "mark" (every 10th
    //    event per stream) at-or-before its timestamp — one
    //    co-partitioned pass, no range-join blowup. DuckDB's native
    //    ASOF LEFT JOIN recomputes the exact matches.
    "q_asof" -> ((s, dir) => {
      import s.implicits._
      val ev = Ingest.fromEventsTable(s, dir).toDF()
      val marks = ev.filter($"seq" % 10 === 0).select($"streamId", $"ts", $"value")
      ops.AsofJoin
        .asofJoin(ev.select($"streamId", $"ts", $"seq"), marks, "streamId", "ts", Seq("value"))
        .select($"streamId".as("stream_id"), ($"seq" + 1L).as("rn"),
          $"asof_ts".as("mark_ts"), round($"asof_value", 2).as("mark_value"))
    }),
  )

  /** Materialize the summary pipeline; returns (raw events, summary
    * windows) row counts. Used by Bench for ingest-throughput and
    * compression metrics.
    */
  def materialize(s: SparkSession, dir: String): (Long, Long) = {
    val t = tables(s, dir)
    val windows = t.summary.count()
    t.lmSpans.count(); t.lmElems.count(); t.lmSummary.count()
    val raw = Ingest.fromEventsTable(s, dir).count()
    (raw, windows)
  }

  /** One full pipeline materialization that BYPASSES the per-sfDir
    * cache: rank, summarize, landmark-split, count — and release. The
    * repeatable unit the bench times (>= 3 samples) for its headline
    * ingest metric; [[materialize]] remains the cached query-phase
    * setup.
    */
  def materializeUncached(s: SparkSession, dir: String): (Long, Long) = {
    val events = Ingest.fromEventsTable(s, dir).persist()
    try {
      val raw = events.count()
      val windows = Summarizer.summarize(events, Spec).count()
      val (lmSummary, spans, elems) = Summarizer.summarizeWithLandmarkRowsPerStream(
        events, _ => Spec, Seq((LandmarkLo, LandmarkHi)))
      spans.count(); elems.count(); lmSummary.count()
      (raw, windows)
    } finally events.unpersist(blocking = false)
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Deterministic boilerplate injection for the line-dedup queries —
    * mirrored verbatim by the DuckDB oracle. */
  private def lineInjected(d: DataFrame): DataFrame =
    d.select(col("doc_id"), concat_ws("\n",
      when(col("doc_id") % 11 === 0, lit("click here to continue reading")),
      when(col("doc_id") % 3 === 0, lit("subscribe to our newsletter today")),
      col("text"),
      when(col("doc_id") % 11 === 0, lit("click here to continue reading")),
      lit("all rights reserved")).as("text"))

  private def rawEvents(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.read.parquet(s"$dir/events.parquet")
  }

  private def embs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Deterministic lexical queries: the first 4 whitespace tokens of
    * every 25th document with doc_id < 5000 (the oracle rebuilds the
    * identical term sets with `list_slice`, so the concat/re-split
    * round trip is a no-op by construction — tokens carry no
    * whitespace). The id cap FIXES the batch size across scale points
    * (a no-op at sf <= 0.1): serving batches do not grow with the
    * corpus, so the 10x sweep measures corpus scaling at constant
    * query load instead of a quadratic queries-times-corpus blowup.
    * The embedding-side query sets (`vec_id % 25 = 0 AND < 5000`)
    * carry the same cap for the same reason.
    */
  private def bm25Queries(d: DataFrame): DataFrame =
    d.filter(col("doc_id") % 25 === 0 && col("doc_id") < 5000)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 1, 4)).as("text"))

  /** The BM25 pipeline as DuckDB CTEs, replaying [[graft.ops.Bm25]]'s
    * expression trees verbatim (k1 = 1.5 and b = 0.75 are dyadic; the
    * ln snaps to integer micro-nats per term; contributions snap once
    * and sum as integers — bit-identical across engines). Ends with
    * `brank` = (query_id, doc_id, score_micro, rank).
    */
  private def bm25OracleCte: String =
    """toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
      |dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
      |bstats AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
      |df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
      |idf AS (SELECT term,
      |  floor(ln(1.0 + ((n_docs - df)::DOUBLE + 0.5) / (df::DOUBLE + 0.5)) * 1000000.0 + 0.5)::BIGINT AS idf_micro
      |  FROM df, bstats),
      |qt AS (SELECT DISTINCT doc_id AS query_id,
      |  unnest(list_slice(regexp_split_to_array(trim(text), '\s+'), 1, 4)) AS term
      |  FROM documents WHERE doc_id % 25 = 0 AND doc_id < 5000),
      |contrib AS (
      |  SELECT qt.query_id, tf.doc_id,
      |    floor(idf.idf_micro::DOUBLE *
      |      ((tf.tf::DOUBLE * 2.5) /
      |       (tf.tf::DOUBLE + 1.5 * (0.25 + 0.75 * (dl.dl::DOUBLE / bstats.avgdl)))) + 0.5)::BIGINT AS c_micro
      |  FROM tf JOIN qt USING (term) JOIN idf USING (term) JOIN dl USING (doc_id), bstats),
      |bscore AS (SELECT query_id, doc_id, sum(c_micro)::BIGINT AS score_micro
      |  FROM contrib GROUP BY 1, 2),
      |brank AS (SELECT query_id, doc_id, score_micro,
      |  row_number() OVER (PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS rank
      |  FROM bscore)""".stripMargin

  /** All pairs with exact word-3-shingle Jaccard >= 0.5, as integer
    * (n_inter, n_union) — the independent recomputation both near-dup
    * paths must match. All-pairs is fine for the oracle's sf0.01 (500
    * docs); the Spark sides stay candidate-bounded.
    */
  private def neardupOracleSql(threshold: Double): String =
    s"""WITH t AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |    ELSE list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh
      |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x != '') AS toks
      |        FROM documents)),
      |p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    len(list_intersect(a.sh, b.sh))::BIGINT AS n_inter,
      |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::BIGINT AS n_union
      |  FROM t a, t b WHERE a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, n_inter, n_union FROM p WHERE n_inter::DOUBLE >= n_union * $threshold""".stripMargin

  /** DuckDB-equivalent SQL per query (same parquet tables). Omitted for
    * ops whose output is not SQL-expressible (CI estimates, window
    * decompositions) — those get the driver's rows-only check.
    */
  def oracleSql: Map[String, String] = Map(
    "q_count" ->
      "SELECT user_id AS stream_id, count(*) AS cnt FROM events GROUP BY user_id",
    "q_count_buffered" ->
      "SELECT user_id AS stream_id, count(*) AS cnt FROM events GROUP BY user_id",
    "q_count_power" ->
      "SELECT user_id AS stream_id, count(*) AS cnt FROM events GROUP BY user_id",
    "q_sum" ->
      "SELECT user_id AS stream_id, round(sum(value), 2) AS sum_value FROM events GROUP BY user_id",
    "q_max" ->
      "SELECT user_id AS stream_id, max(value) AS max_value FROM events GROUP BY user_id",
    "q_min" ->
      "SELECT user_id AS stream_id, min(value) AS min_value FROM events GROUP BY user_id",
    "q_landmark_count" ->
      s"SELECT user_id AS stream_id, count(*) AS cnt FROM events WHERE epoch_us(ts) BETWEEN $LQ0 AND $LQ1 GROUP BY user_id",
    "q_landmark_sum" ->
      s"SELECT user_id AS stream_id, round(sum(value), 2) AS sum_value FROM events WHERE epoch_us(ts) BETWEEN $LQ0 AND $LQ1 GROUP BY user_id",
    "q_dedup_exact" ->
      """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS text_hash,
        |count(*) AS n_dups, min(doc_id) AS keep_id FROM documents GROUP BY 1""".stripMargin,
    "q_dedup_index" ->
      """WITH n AS (SELECT doc_id,
        |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS text_hash
        |  FROM documents),
        |head AS (SELECT DISTINCT text_hash FROM n WHERE doc_id % 10 < 6),
        |tail AS (SELECT * FROM n WHERE doc_id % 10 >= 6)
        |SELECT min(doc_id) AS doc_id, text_hash, count(*) AS n_dups
        |FROM tail WHERE text_hash NOT IN (SELECT text_hash FROM head)
        |GROUP BY text_hash""".stripMargin,
    "q_index_delete" ->
      """WITH n AS (SELECT doc_id,
        |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS text_hash
        |  FROM documents),
        |head AS (SELECT text_hash, min(doc_id) AS keep_id
        |  FROM n WHERE doc_id % 10 < 6 GROUP BY 1),
        |live AS (SELECT text_hash FROM head WHERE keep_id % 7 <> 0),
        |tail AS (SELECT * FROM n WHERE doc_id % 10 >= 6)
        |SELECT min(doc_id) AS doc_id, text_hash, count(*) AS n_dups
        |FROM tail WHERE text_hash NOT IN (SELECT text_hash FROM live)
        |GROUP BY text_hash""".stripMargin,
    // Merge contract: the merged frontier equals a from-scratch build
    // over the UNION of the two shards' corpora — count and min-keeper
    // per hash, recomputed directly from the documents.
    "q_index_merge" ->
      """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS text_hash,
        |count(*) AS n_dups, min(doc_id) AS keep_id
        |FROM documents WHERE doc_id % 10 < 6 GROUP BY 1""".stripMargin,
    "q_text_stats" ->
      """SELECT doc_id,
        |length(text) AS n_chars,
        |len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_pieces,
        |length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
        |round(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |  x -> list_contains(['the','a','an','of','to','in','and','or','is','are','was','for','on','with','as','at','by','it','this','that'], x)))::DOUBLE
        |  / len(regexp_split_to_array(trim(text), '\s+')), 4) AS stopword_ratio,
        |round(list_sum(list_transform(regexp_split_to_array(trim(text), '\s+'), x -> length(x)))::DOUBLE
        |  / len(regexp_split_to_array(trim(text), '\s+')), 4) AS mean_token_len
        |FROM documents""".stripMargin,
    // HTML extraction: the identical wrap + regex passes, RE2 side.
    // Entity decode order matters (&amp; last) and len(ls) counts the
    // KEPT lines (0 when all are boilerplate, matching the Spark
    // empty-string guard).
    "q_html_extract" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><!-- crawl id=' || doc_id || ' --><head><title>Doc ' || doc_id ||
        |    '</title><script type="text/javascript">var id = ' || doc_id ||
        |    ';</script><style>p { margin: 0 }</style></head>' ||
        |    '<body><div class="nav"><ul><li>Home</li><li>About</li></ul></div>' ||
        |    '<h1>Document &amp; Title</h1><p>' || text ||
        |    '</p><div class="footer">Copyright&nbsp;2026</div></body></html>' AS html
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      html,
        |      '(?s)<!--.*?-->', '', 'g'),
        |      '(?is)<script\b[^>]*>.*?</script\s*>', '', 'g'),
        |      '(?is)<style\b[^>]*>.*?</style\s*>', '', 'g'),
        |      '(?is)<noscript\b[^>]*>.*?</noscript\s*>', '', 'g'),
        |      '(?is)</?(?:p|div|br|li|ul|ol|h[1-6]|tr|td|th|table|thead|tbody|blockquote|pre|section|article|aside|nav|header|footer|title|form|hr)\b[^>]*>', chr(10), 'g'),
        |      '(?s)<[^>]*>', ' ', 'g') AS t1
        |  FROM h),
        |e AS (
        |  SELECT doc_id, replace(replace(replace(replace(replace(replace(
        |    t1, '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |    '&#39;', chr(39)), '&amp;', '&') AS t2
        |  FROM s),
        |l AS (
        |  SELECT doc_id,
        |    list_filter(
        |      list_transform(string_split(t2, chr(10)),
        |        x -> trim(regexp_replace(x, '[ \t\r]+', ' ', 'g'))),
        |      x -> x <> '' AND len(string_split(x, ' ')) >= 2) AS ls
        |  FROM e)
        |SELECT doc_id, array_to_string(ls, chr(10)) AS txt, len(ls)::INT AS n_lines
        |FROM l""".stripMargin,
    // Funnel: the anchored-window step chain as correlated min-joins.
    "q_funnel" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events),
        |s1 AS (SELECT user_id, min(t) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT s1.user_id, s1.t1, min(e.t) AS t2 FROM s1 JOIN e
        |       ON e.user_id = s1.user_id AND e.event_type = 'click'
        |       AND e.t > s1.t1 AND e.t <= s1.t1 + 21600000000 GROUP BY 1, 2),
        |s3 AS (SELECT s2.user_id, min(e.t) AS t3 FROM s2 JOIN e
        |       ON e.user_id = s2.user_id AND e.event_type = 'purchase'
        |       AND e.t > s2.t2 AND e.t <= s2.t1 + 21600000000 GROUP BY 1)
        |SELECT s1.user_id, s1.t1,
        |  CASE WHEN s3.user_id IS NOT NULL THEN 3
        |       WHEN s2.user_id IS NOT NULL THEN 2 ELSE 1 END AS depth
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin,
    // Fuzzy join: the same deterministic probes, then the exact pair
    // set by brute-force levenshtein over the small distinct sets.
    "q_fuzzy_join" ->
      """WITH probes AS (
        |  SELECT DISTINCT
        |    substr(p_name, 1, (p_partkey % length(p_name))::INT) ||
        |    substr(p_name, (p_partkey % length(p_name))::INT + 2) AS probe
        |  FROM part),
        |names AS (SELECT DISTINCT p_name FROM part)
        |SELECT p.probe, n.p_name AS name, levenshtein(p.probe, n.p_name)::INT AS dist
        |FROM probes p, names n
        |WHERE levenshtein(p.probe, n.p_name) <= 1""".stripMargin,
    // JSONL round trip: lossless by contract — plain projection.
    "q_jsonl" ->
      "SELECT doc_id, text, lang, source FROM documents",
    // URL canonicalization: the expected canonical form constructed
    // directly from the known URL grammar (ports/tracking/fragment/
    // trailing slash resolved by hand), independent of the normalizer.
    "q_url_normalize" ->
      """SELECT doc_id,
        |  CASE doc_id % 3
        |    WHEN 0 THEN 'http://www.site' || (doc_id % 17) || '.example.com/Path/' ||
        |      (doc_id % 5) || '?a=1&b=' || (doc_id % 7)
        |    WHEN 1 THEN 'https://sub.site' || (doc_id % 17) || '.example.co.uk/p'
        |    ELSE 'http://site' || (doc_id % 17) || '.example.com/p/' || (doc_id % 5)
        |  END AS norm_url,
        |  CASE doc_id % 3 WHEN 1 THEN 'example.co.uk' ELSE 'example.com' END AS domain
        |FROM documents""".stripMargin,
    // Per-domain cap: registered domain from the grammar + the Knuth
    // hash rank replayed (the q_weighted_sample formula).
    "q_domain_cap" ->
      """WITH u AS (
        |  SELECT doc_id, 'example' || (doc_id % 3) || '.org' AS domain,
        |    (doc_id * 2654435761) % 4294967296 AS hk
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, row_number() OVER (PARTITION BY domain ORDER BY hk, doc_id) AS rk
        |  FROM u)
        |SELECT doc_id FROM r WHERE rk <= 2""".stripMargin,
    // WARC round trip: the wrap is <h1>Doc N</h1><p>text</p>, both
    // block tags, so extraction is exactly two lines.
    "q_warc" ->
      """SELECT 'http://corpus.test/' || doc_id AS url,
        |'Doc ' || doc_id || chr(10) || text AS txt
        |FROM documents""".stripMargin,
    // Semi-structured promotion: DuckDB's JSON extraction must agree
    // with the Spark-side inferred-schema from_json promotion.
    "q_props_agg" ->
      """SELECT event_type, count(*)::BIGINT AS n_k,
        |  sum(CAST(json_extract_string(props, 'k') AS BIGINT))::BIGINT AS sum_k,
        |  max(CAST(json_extract_string(props, 'k') AS BIGINT))::BIGINT AS max_k,
        |  0::BIGINT AS n_corrupt
        |FROM events GROUP BY event_type""".stripMargin,
    "q_knn" ->
      """WITH r AS (
        |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC, n.vec_id) AS rank,
        |    round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]), 4) AS score
        |  FROM embeddings q, embeddings n
        |  WHERE q.vec_id < 50 AND n.vec_id != q.vec_id)
        |SELECT query_id, neighbor_id, rank, score FROM r WHERE rank <= 10""".stripMargin,
    "q_stats" ->
      """SELECT user_id AS stream_id, count(*) AS n,
        |round(sum(value), 2) AS value_sum,
        |round(var_samp(value), 2) AS value_svar
        |FROM events GROUP BY user_id""".stripMargin,
    "q_interval_stats" ->
      """WITH i AS (
        |  SELECT user_id,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS iv
        |  FROM events)
        |SELECT user_id AS stream_id, count(iv) AS n_intervals,
        |sum(iv)::BIGINT AS interval_total_us
        |FROM i WHERE iv IS NOT NULL GROUP BY user_id""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
        |round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_join" ->
      """SELECT n_name AS nation, count(*) AS n_orders,
        |round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    // Bloom-pruned join: plain SQL join — bloom pruning must be
    // invisible in the result set.
    "q_bloom_join" ->
      """SELECT o_orderpriority, count(*) AS n_rows,
        |sum(l_quantity)::BIGINT AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderkey % 97 = 0
        |GROUP BY o_orderpriority""".stripMargin,
    // Boundary oracles: DuckDB independently recomputes the base-2 decay
    // decomposition's first-window size via the self-similar recurrence
    // D(n) = 2*D(floor((n-1)/2)) ++ D(s) — the chain cur -> (cur-1)//2
    // bottoms out at cur <= 4 with first-window size {1,1,2,2} and
    // two-window prefix {_,2,3,3}, each scaled by 2^depth — then cuts the
    // raw per-stream element prefix at that rank and aggregates it.
    "q_aligned_range" ->
      """WITH RECURSIVE
        |ranked AS (
        |  SELECT user_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM events),
        |chain(user_id, cur, d) AS (
        |  SELECT DISTINCT user_id, n, 0 FROM ranked
        |  UNION ALL
        |  SELECT user_id, (cur - 1) // 2, d + 1 FROM chain WHERE cur > 4),
        |k AS (
        |  SELECT user_id, ((CASE WHEN cur <= 2 THEN 1 ELSE 2 END)::BIGINT << d) AS kk
        |  FROM chain WHERE cur <= 4)
        |SELECT r.user_id AS stream_id, count(*) AS cnt, round(sum(r.value), 2) AS sum_value
        |FROM ranked r JOIN k ON r.user_id = k.user_id
        |WHERE r.rn <= k.kk
        |GROUP BY r.user_id""".stripMargin,
    "q_aligned_range2" ->
      """WITH RECURSIVE
        |ranked AS (
        |  SELECT user_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM events),
        |chain(user_id, cur, d) AS (
        |  SELECT DISTINCT user_id, n, 0 FROM ranked WHERE n >= 2
        |  UNION ALL
        |  SELECT user_id, (cur - 1) // 2, d + 1 FROM chain WHERE cur > 4),
        |k AS (
        |  SELECT user_id, ((CASE WHEN cur = 2 THEN 2 ELSE 3 END)::BIGINT << d) AS kk
        |  FROM chain WHERE cur <= 4)
        |SELECT r.user_id AS stream_id, count(*) AS cnt, round(sum(r.value), 2) AS sum_value
        |FROM ranked r JOIN k ON r.user_id = k.user_id
        |WHERE r.rn <= k.kk
        |GROUP BY r.user_id""".stripMargin,
    // Media-dedup oracle: pixel identity of the generated gradient
    // images is EXACTLY doc_id congruence mod 256 (pixel value =
    // (y + id) % 256; dims = id*7 % 128 / id*13 % 128, both implied by
    // the mod-256 class), and a lossless BMP re-encode keeps its
    // original's class. Group by the class, emit (min, other) pairs —
    // the same rule exactPixelDuplicatePairs applies to real rasters.
    // Audio/video content identity is per-id (the generator rules
    // admit no natural twins below id ~8*10^5), so their group key is
    // the id itself; images keep the mod-256 class.
    "q_media_dedup" ->
      """WITH grp AS (
        |  SELECT doc_id, 'image' AS media_type, doc_id % 256 AS g
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id, 'audio', doc_id FROM documents WHERE doc_id % 3 = 1
        |  UNION ALL
        |  SELECT doc_id, 'video', doc_id FROM documents WHERE doc_id % 3 = 2
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'image', doc_id % 256
        |  FROM documents WHERE doc_id % 21 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'audio', doc_id FROM documents WHERE doc_id % 21 = 1
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'video', doc_id FROM documents WHERE doc_id % 21 = 2),
        |m AS (SELECT media_type, g, min(doc_id) AS a, count(*) AS n
        |      FROM grp GROUP BY media_type, g)
        |SELECT grp.media_type, m.a, grp.doc_id AS b
        |FROM grp JOIN m USING (media_type, g)
        |WHERE m.n >= 2 AND grp.doc_id <> m.a""".stripMargin,
    "q_media_meta" ->
      """SELECT doc_id,
        |CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |CASE doc_id % 3 WHEN 0 THEN 64 + (doc_id * 7) % 128 WHEN 2 THEN 32 + (doc_id * 5) % 64 END AS width,
        |CASE doc_id % 3 WHEN 0 THEN 64 + (doc_id * 13) % 128 WHEN 2 THEN 24 + (doc_id * 11) % 40 END AS height,
        |CASE doc_id % 3 WHEN 1 THEN (400 + (doc_id * 31) % 1200) * 1000 // 16000
        |                WHEN 2 THEN (4 + doc_id % 5) * 100 END AS duration_ms,
        |CASE WHEN doc_id % 3 = 1 THEN 44 + 2 * (400 + (doc_id * 31) % 1200) END AS n_bytes
        |FROM documents""".stripMargin,
    // Decoded-pixel oracle: DuckDB re-derives the gradient PNG's pixel
    // sums from the generation rules; the Spark side must produce the
    // same integers from ImageIO.read of the actual encoded bytes.
    "q_media_features" ->
      """WITH i AS (
        |  SELECT doc_id, 64 + (doc_id * 7) % 128 AS w, 64 + (doc_id * 13) % 128 AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |y AS (SELECT doc_id, w, h, unnest(range(0, h)) AS y FROM i)
        |SELECT doc_id, w AS width_px, h AS height_px,
        |       (w * sum((y + doc_id) % 256))::BIGINT AS px_sum
        |FROM y GROUP BY doc_id, w, h""".stripMargin,
    // Quantization oracle: DuckDB recomputes the int8 vectors from the
    // same floor(x*127/scale + 0.5) double arithmetic (floor, unlike
    // round(), is identical across engines) — L1/sum are exact ints.
    "q_quantize" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS q_scale,
        |    embedding::DOUBLE[] AS v
        |  FROM embeddings)
        |SELECT vec_id, q_scale,
        |  list_sum(list_transform(v, x ->
        |    CASE WHEN q_scale = 0 THEN 0 ELSE abs(floor(x * 127.0 / q_scale + 0.5)) END))::BIGINT AS q_l1,
        |  list_sum(list_transform(v, x ->
        |    CASE WHEN q_scale = 0 THEN 0 ELSE floor(x * 127.0 / q_scale + 0.5) END))::BIGINT AS q_sum
        |FROM q""".stripMargin,
    // Decoded-sample oracle: DuckDB re-derives the WAV's sample sum
    // from the PCM generation rule; the Spark side must produce the
    // same integers from AudioSystem parsing of the actual RIFF bytes.
    "q_audio_stats" ->
      """WITH a AS (
        |  SELECT doc_id, 400 + (doc_id * 31) % 1200 AS n
        |  FROM documents WHERE doc_id % 3 = 1),
        |i AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM a)
        |SELECT doc_id, 16000::BIGINT AS sample_rate, n AS n_samples,
        |       sum((doc_id * 7 + i * 13) % 2001 - 1000)::BIGINT AS sample_sum
        |FROM i GROUP BY doc_id, n""".stripMargin,
    // Per-frame decoded-pixel oracle: DuckDB re-derives each GIF
    // frame's pixel sum from the gradient rules; the Spark side must
    // produce the same integers from ImageIO frame reads of the actual
    // encoded bytes.
    "q_video_frames" ->
      """WITH v AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS nf,
        |         32 + (doc_id * 5) % 64 AS w, 24 + (doc_id * 11) % 40 AS h
        |  FROM documents WHERE doc_id % 3 = 2),
        |f AS (SELECT doc_id, w, h, unnest(range(0, nf)) AS frame_idx FROM v),
        |y AS (SELECT doc_id, w, h, frame_idx, unnest(range(0, h)) AS y FROM f)
        |SELECT doc_id, frame_idx, w AS width_px, h AS height_px,
        |       (w * sum((y + doc_id + 7 * frame_idx) % 256))::BIGINT AS px_sum
        |FROM y GROUP BY doc_id, frame_idx, w, h""".stripMargin,
    "q_distinct_exact" ->
      "SELECT user_id AS stream_id, count(DISTINCT event_type) AS n_distinct FROM events GROUP BY user_id",
    "q_approx_distinct" ->
      "SELECT user_id AS stream_id, true AS within_bound FROM events GROUP BY user_id",
    "q_distinct_sketch" ->
      "SELECT user_id AS stream_id, true AS within_bound FROM events GROUP BY user_id",
    // Bloom no-false-negative contract: the exact engine recomputes the
    // per-stream distinct-value count; zero misses is the hard bound.
    "q_window_bloom" ->
      """SELECT user_id AS stream_id, count(DISTINCT value) AS n_present,
        |       0::BIGINT AS n_missed
        |FROM events GROUP BY user_id""".stripMargin,
    // CMS one-sided-error contract: every estimate in-bounds.
    "q_window_cms" ->
      """SELECT user_id AS stream_id, count(DISTINCT value) AS n_keys,
        |       count(*) AS n_events, 0::BIGINT AS n_out_of_bounds
        |FROM events GROUP BY user_id""".stripMargin,
    // Windowed-freq contract: per stream, the number of exact-heavy
    // keys (> 2% of the stream — above the MG floor of ~1.54%), with
    // zero candidate misses and zero
    // out-of-bounds estimates. Only streams WITH a heavy key appear
    // (inner join semantics on the Spark side).
    "q_window_freq" ->
      """WITH c AS (
        |  SELECT user_id, value, count(*) AS cnt,
        |         sum(count(*)) OVER (PARTITION BY user_id) AS n
        |  FROM events GROUP BY user_id, value)
        |SELECT user_id AS stream_id, count(*) AS n_heavy,
        |       0::BIGINT AS n_missing_candidates, 0::BIGINT AS n_out_of_bounds
        |FROM c WHERE cnt > n * 0.02 GROUP BY user_id""".stripMargin,
    // Windowed-quantile contract: every (stream, probability) row's
    // estimate sits within the merged sketch's certified rank bound on
    // the exact data (see QuantileSummary.quantileContract).
    "q_window_quantile" ->
      """SELECT user_id AS stream_id, p, true AS within_bound
        |FROM events, (VALUES (0.5::DOUBLE), (0.9::DOUBLE), (0.99::DOUBLE)) AS probs(p)
        |GROUP BY user_id, p""".stripMargin,
    // Windowed bottom-k sample: the exact engine recomputes seq (dense
    // 0-based per stream by (ts, event_id) — the ingest order), the
    // portable Knuth hash, and the per-stream bottom-16 — value-level
    // equality because bottom-k survives any merge tree exactly.
    "q_window_sample" ->
      """WITH s AS (
        |  SELECT user_id, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS seq
        |  FROM events),
        |h AS (
        |  SELECT user_id, seq, value, (seq * 2654435761) % 4294967296 AS hk FROM s),
        |r AS (
        |  SELECT user_id, seq, value, hk,
        |         row_number() OVER (PARTITION BY user_id ORDER BY hk, seq) AS rank
        |  FROM h)
        |SELECT user_id AS stream_id, rank, seq, value, hk FROM r
        |WHERE rank <= 16""".stripMargin,
    // GK-sketch rank-error contract: the exact engine confirms every
    // (stream, probability) row is in-bound (see quantileContract).
    "q_quantiles" ->
      """SELECT user_id AS stream_id, p, true AS within_bound
        |FROM events, (VALUES (0.5::DOUBLE), (0.9::DOUBLE), (0.99::DOUBLE)) AS probs(p)
        |GROUP BY user_id, p""".stripMargin,
    // Anomaly oracle: identical buckets, exact interpolated medians
    // (DuckDB median == quantile_cont == Spark's exact percentile),
    // MAD, and the normalized z — null where MAD is 0. floor(x*k+0.5)/k
    // rounding mirrors the Spark side bit-for-bit (see the query note).
    "q_anomaly" ->
      """WITH b AS (
        |  SELECT user_id AS stream_id, (epoch_us(ts) // 86400000000) AS bucket,
        |         count(*)::BIGINT AS n, sum(value) / count(*) AS mean
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT stream_id, median(mean) AS med FROM b GROUP BY 1),
        |d AS (SELECT b.stream_id, b.bucket, b.n, b.mean, m.med,
        |             abs(b.mean - m.med) AS dev
        |      FROM b JOIN m USING (stream_id)),
        |a AS (SELECT stream_id, median(dev) AS mad FROM d GROUP BY 1)
        |SELECT d.stream_id, d.bucket, d.n,
        |       floor(d.mean * 1000 + 0.5) / 1000 AS mean,
        |       floor(d.med * 1000 + 0.5) / 1000 AS med,
        |       floor(a.mad * 1000 + 0.5) / 1000 AS mad,
        |       CASE WHEN a.mad > 0
        |            THEN floor(abs(d.mean - d.med) / (1.4826 * a.mad) * 100 + 0.5) / 100
        |       END AS z
        |FROM d JOIN a USING (stream_id)""".stripMargin,
    // Rolling-window oracle: identical ROWS 4 PRECEDING frames.
    "q_rolling" ->
      """WITH r AS (
        |  SELECT user_id, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
        |  FROM events)
        |SELECT user_id AS stream_id, rn,
        |  count(*) OVER w AS roll_n,
        |  round(sum(value) OVER w, 2) AS roll_sum,
        |  min(value) OVER w AS roll_min,
        |  max(value) OVER w AS roll_max
        |FROM r
        |WINDOW w AS (PARTITION BY user_id ORDER BY rn
        |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin,
    // Sessionization oracle: identical gaps-and-islands in DuckDB
    // (break when gap >= 6h, matching session_window's half-open end).
    "q_sessions" ->
      """WITH o AS (
        |  SELECT user_id, epoch_us(ts) AS tsu, value,
        |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
        |              >= 21600000000 THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (
        |  SELECT user_id, tsu, value,
        |    (sum(brk) OVER (PARTITION BY user_id ORDER BY tsu
        |                    ROWS UNBOUNDED PRECEDING))::BIGINT AS session_idx
        |  FROM o)
        |SELECT user_id AS stream_id, session_idx, count(*) AS n,
        |       min(tsu) AS ts_start, max(tsu) AS ts_end,
        |       round(sum(value), 2) AS sum_value
        |FROM s GROUP BY user_id, session_idx""".stripMargin,
    // Interval-join oracle: the same session derivation, then a plain
    // SQL BETWEEN join — the Spark side must produce the identical row
    // set through its bucketized equi-join.
    "q_interval_join" ->
      """WITH o AS (
        |  SELECT user_id, epoch_us(ts) AS tsu,
        |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
        |              >= 21600000000 THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (
        |  SELECT user_id, tsu,
        |    (sum(brk) OVER (PARTITION BY user_id ORDER BY tsu
        |                    ROWS UNBOUNDED PRECEDING))::BIGINT AS session_idx
        |  FROM o),
        |sess AS (
        |  SELECT user_id, session_idx, min(tsu) AS ts_start, max(tsu) AS ts_end
        |  FROM s GROUP BY 1, 2)
        |SELECT e.user_id AS stream_id, e.tsu AS ts, x.session_idx
        |FROM (SELECT user_id, epoch_us(ts) AS tsu FROM events) e
        |JOIN sess x ON e.user_id = x.user_id AND e.tsu BETWEEN x.ts_start AND x.ts_end""".stripMargin,
    // As-of oracle: DuckDB's native ASOF LEFT JOIN against the same
    // every-10th-event mark table (rn is 1-based where seq is 0-based).
    "q_asof" ->
      """WITH ranked AS (
        |  SELECT user_id, epoch_us(ts) AS tsu, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
        |  FROM events),
        |marks AS (SELECT user_id, tsu, value FROM ranked WHERE rn % 10 = 1)
        |SELECT r.user_id AS stream_id, r.rn, m.tsu AS mark_ts,
        |       round(m.value, 2) AS mark_value
        |FROM ranked r ASOF LEFT JOIN marks m
        |  ON r.user_id = m.user_id AND r.tsu >= m.tsu""".stripMargin,
    // Quality score: every component is 2-decimal (n_tokens/50 capped,
    // 0.5/1.0 rule scores), so sum/4 terminates within 4 decimals and
    // round(,4) is FP-safe on both engines.
    "q_quality" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |    length(text) AS n_chars,
        |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
        |    round(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      x -> list_contains(['the','a','an','of','to','in','and','or','is','are','was','for','on','with','as','at','by','it','this','that'], x)))::DOUBLE
        |      / len(regexp_split_to_array(trim(text), '\s+')), 4) AS stopword_ratio,
        |    round(list_sum(list_transform(regexp_split_to_array(trim(text), '\s+'), x -> length(x)))::DOUBLE
        |      / len(regexp_split_to_array(trim(text), '\s+')), 4) AS mean_token_len
        |  FROM documents)
        |SELECT doc_id,
        |  round((least(n_tokens::DOUBLE / 50.0, 1.0)
        |    + CASE WHEN mean_token_len BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END
        |    + CASE WHEN stopword_ratio BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END
        |    + CASE WHEN n_punct * 10 <= n_chars THEN 1.0 ELSE 0.5 END) / 4.0, 4) AS quality
        |FROM t""".stripMargin,
    // NFC oracle: DuckDB's nfc_normalize implements the same UAX #15
    // canonical composition as java.text.Normalizer — replay the
    // decomposed-sequence injection and compare bytes.
    "q_nfc" ->
      """WITH d2 AS (
        |  SELECT doc_id, CASE WHEN doc_id % 4 = 0
        |    THEN text || ' cafe' || chr(769) || ' nai' || chr(776) || 've'
        |    ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id, nfc_normalize(text) AS norm_text,
        |       nfc_normalize(text) <> text AS changed
        |FROM d2""".stripMargin,
    // Quantile-cut oracle: identical quality CTE, quantile_cont
    // threshold (== Spark's exact interpolated percentile on identical
    // doubles), ties kept by >=.
    "q_quality_cut" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |    length(text) AS n_chars,
        |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
        |    round(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      x -> list_contains(['the','a','an','of','to','in','and','or','is','are','was','for','on','with','as','at','by','it','this','that'], x)))::DOUBLE
        |      / len(regexp_split_to_array(trim(text), '\s+')), 4) AS stopword_ratio,
        |    round(list_sum(list_transform(regexp_split_to_array(trim(text), '\s+'), x -> length(x)))::DOUBLE
        |      / len(regexp_split_to_array(trim(text), '\s+')), 4) AS mean_token_len
        |  FROM documents),
        |q AS (
        |  SELECT doc_id,
        |    round((least(n_tokens::DOUBLE / 50.0, 1.0)
        |      + CASE WHEN mean_token_len BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END
        |      + CASE WHEN stopword_ratio BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END
        |      + CASE WHEN n_punct * 10 <= n_chars THEN 1.0 ELSE 0.5 END) / 4.0, 4) AS quality
        |  FROM t),
        |th AS (SELECT quantile_cont(quality, 0.5) AS th FROM q)
        |SELECT doc_id, quality FROM q, th WHERE quality >= th.th""".stripMargin,
    // Snapshot-diff oracle: enumerate the delta classes from the
    // deterministic next-version construction.
    "q_corpus_diff" ->
      """SELECT doc_id AS id, 'removed' AS change FROM documents WHERE doc_id % 13 = 0
        |UNION ALL
        |SELECT doc_id, 'changed' FROM documents WHERE doc_id % 7 = 0 AND doc_id % 13 <> 0
        |UNION ALL
        |SELECT doc_id + 1000000, 'added' FROM documents WHERE doc_id % 19 = 0""".stripMargin,
    // Gopher repetition signals. list_slice mirrors Spark's slice()
    // exactly (1-based, begin>end -> empty), so short docs (< k tokens)
    // yield empty k-gram lists and a 0 fraction on both sides.
    "q_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |g AS (
        |  SELECT doc_id, t,
        |    list_transform(list_zip(list_slice(t, 1, len(t) - 1), list_slice(t, 2, len(t))),
        |      p -> p[1] || ' ' || p[2]) AS b,
        |    list_transform(list_zip(list_slice(t, 1, len(t) - 2), list_slice(t, 2, len(t) - 1),
        |        list_slice(t, 3, len(t))),
        |      p -> p[1] || ' ' || p[2] || ' ' || p[3]) AS tri
        |  FROM t)
        |SELECT doc_id,
        |  len(t)::BIGINT AS n_tokens,
        |  round((len(t) - len(list_distinct(t)))::DOUBLE / greatest(len(t), 1), 4) AS dup_token_frac,
        |  round((len(b) - len(list_distinct(b)))::DOUBLE / greatest(len(b), 1), 4) AS dup_bigram_frac,
        |  round((len(tri) - len(list_distinct(tri)))::DOUBLE / greatest(len(tri), 1), 4) AS dup_trigram_frac
        |FROM g""".stripMargin,
    "q_bpe" ->
      """SELECT doc_id, true AS round_trip_ok, true AS tokens_le_chars
        |FROM documents""".stripMargin,
    // Exact predictions on the held-out quarter: training is
    // bit-deterministic and the planted markers are unambiguous, so
    // predicted == actual on every test doc (verified at both scales).
    "q_classifier" ->
      """SELECT doc_id,
        |  'class' || (doc_id % 3) AS predicted,
        |  'class' || (doc_id % 3) AS actual,
        |  true AS correct
        |FROM documents
        |WHERE (doc_id * 2654435761) % 4294967296 >= 3221225472""".stripMargin,
    // Full data-card recompute: normalized counts, corpus-wide dup
    // mass, integer-exact quality means, type-1 quantiles via window
    // rank (tie order irrelevant — only the VALUE at the rank is read).
    "q_datacard" ->
      """WITH norm AS (
        |  SELECT doc_id, source, lang, text,
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS nt
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, source, lang,
        |    (CASE WHEN nt = '' THEN 0 ELSE len(string_split(nt, ' ')) END)::BIGINT AS n_toks,
        |    length(nt)::BIGINT AS n_chars,
        |    md5(nt) AS h
        |  FROM norm),
        |dups AS (SELECT h FROM base GROUP BY h HAVING count(*) > 1),
        |qt AS (
        |  SELECT doc_id,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |    length(text) AS n_chars,
        |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
        |    round(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      x -> list_contains(['the','a','an','of','to','in','and','or','is','are','was','for','on','with','as','at','by','it','this','that'], x)))::DOUBLE
        |      / len(regexp_split_to_array(trim(text), '\s+')), 4) AS stopword_ratio,
        |    round(list_sum(list_transform(regexp_split_to_array(trim(text), '\s+'), x -> length(x)))::DOUBLE
        |      / len(regexp_split_to_array(trim(text), '\s+')), 4) AS mean_token_len
        |  FROM documents),
        |qual AS (
        |  SELECT doc_id,
        |    round((least(n_tokens::DOUBLE / 50.0, 1.0)
        |      + CASE WHEN mean_token_len BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END
        |      + CASE WHEN stopword_ratio BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END
        |      + CASE WHEN n_punct * 10 <= n_chars THEN 1.0 ELSE 0.5 END) / 4.0, 4) AS quality
        |  FROM qt),
        |perdoc AS (
        |  SELECT b.source, b.lang, b.n_toks, b.n_chars,
        |    (b.h IN (SELECT h FROM dups)) AS is_dup, q.quality
        |  FROM base b JOIN qual q USING (doc_id)),
        |agg1 AS (
        |  SELECT source, lang, count(*)::BIGINT AS n_docs,
        |    sum(n_toks)::BIGINT AS n_tokens, sum(n_chars)::BIGINT AS n_chars,
        |    sum(CASE WHEN is_dup THEN 1 ELSE 0 END)::BIGINT AS n_dup_docs,
        |    round(sum(floor(quality * 10000 + 0.5)::BIGINT) / count(*) / 10000.0, 4) AS mean_quality
        |  FROM perdoc GROUP BY 1, 2),
        |ranked AS (
        |  SELECT source, lang, n_toks,
        |    row_number() OVER (PARTITION BY source, lang ORDER BY n_toks) AS rn
        |  FROM perdoc),
        |quant AS (
        |  SELECT r.source, r.lang,
        |    min(CASE WHEN rn = ceil(n_docs * 0.5) THEN n_toks END)::BIGINT AS p50_tokens,
        |    min(CASE WHEN rn = ceil(n_docs * 0.9) THEN n_toks END)::BIGINT AS p90_tokens
        |  FROM ranked r JOIN agg1 USING (source, lang)
        |  GROUP BY 1, 2)
        |SELECT a.source, a.lang, a.n_docs, a.n_tokens, a.n_chars,
        |  round(a.n_docs / (SELECT sum(n_docs) FROM agg1), 6) AS doc_share,
        |  round(a.n_tokens / (SELECT sum(n_tokens) FROM agg1), 6) AS token_share,
        |  q.p50_tokens, coalesce(q.p90_tokens, q.p50_tokens) AS p90_tokens,
        |  a.n_dup_docs, a.mean_quality
        |FROM agg1 a JOIN quant q USING (source, lang)""".stripMargin,
    // Laplace unigram LM (vocab = tokens with count >= 2): the oracle
    // recomputes the integer micro-nat score exactly — floor(x + 0.5)
    // is rule-identical to Java Math.round, and integer sums are
    // order-independent, so this hash-matches bit-for-bit.
    "q_perplexity" ->
      """WITH toks AS (
        |  SELECT doc_id, t.tok
        |  FROM documents,
        |    unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS t(tok)
        |  WHERE len(t.tok) > 0),
        |vocab AS (
        |  SELECT tok, count(*)::BIGINT AS cnt FROM toks GROUP BY tok HAVING count(*) >= 2),
        |tot AS (SELECT sum(cnt)::BIGINT AS total, count(*)::BIGINT AS v FROM vocab)
        |SELECT toks.doc_id,
        |  count(*)::BIGINT AS n_tokens,
        |  sum(CASE WHEN vocab.cnt IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
        |  sum(floor(ln((coalesce(vocab.cnt, 0) + 1)::DOUBLE / (tot.total + tot.v + 1)::DOUBLE) * 1e6 + 0.5)::BIGINT)::BIGINT AS lp_micro
        |FROM toks LEFT JOIN vocab ON toks.tok = vocab.tok CROSS JOIN tot
        |GROUP BY toks.doc_id""".stripMargin,
    // range() not generate_series: DuckDB's generate_series rejects
    // lateral column arguments.
    "q_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |c AS (
        |  SELECT doc_id, t,
        |    CASE WHEN len(t) <= 40 THEN 1
        |         ELSE ((len(t) - 40 + 20 - 1) // 20) + 1 END AS n_chunks
        |  FROM t)
        |SELECT doc_id, i AS chunk_id,
        |  array_to_string(list_slice(t, i * 20 + 1, i * 20 + 40), ' ') AS chunk_text,
        |  len(list_slice(t, i * 20 + 1, i * 20 + 40))::BIGINT AS n_chunk_tokens
        |FROM c, unnest(range(0, n_chunks)) AS u(i)""".stripMargin,
    // Line-dedup oracles: replay the injected boilerplate construction,
    // explode lines, and recompute flags/rebuild grouping on raw
    // CONTENT (the Spark plan groups on xxhash64 — agreement is the
    // collision check).
    "q_line_spans" ->
      """WITH d2 AS (
        |  SELECT doc_id, concat_ws(chr(10),
        |    CASE WHEN doc_id % 11 = 0 THEN 'click here to continue reading' END,
        |    CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter today' END,
        |    text,
        |    CASE WHEN doc_id % 11 = 0 THEN 'click here to continue reading' END,
        |    'all rights reserved') AS text
        |  FROM documents),
        |p AS (SELECT doc_id, string_split(text, chr(10)) AS parts FROM d2),
        |l AS (SELECT doc_id, i AS line_idx, trim(parts[i + 1]) AS norm
        |      FROM p, unnest(range(0, len(parts))) AS u(i)),
        |f AS (SELECT doc_id, line_idx,
        |             count(*) OVER (PARTITION BY norm) AS cnt,
        |             row_number() OVER (PARTITION BY norm ORDER BY doc_id, line_idx) AS rn
        |      FROM l WHERE norm <> '')
        |SELECT doc_id, line_idx::INT AS line_idx, cnt::BIGINT AS cnt, (rn = 1) AS kept
        |FROM f WHERE cnt >= 2""".stripMargin,
    "q_line_clean" ->
      """WITH d2 AS (
        |  SELECT doc_id, concat_ws(chr(10),
        |    CASE WHEN doc_id % 11 = 0 THEN 'click here to continue reading' END,
        |    CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter today' END,
        |    text,
        |    CASE WHEN doc_id % 11 = 0 THEN 'click here to continue reading' END,
        |    'all rights reserved') AS text
        |  FROM documents),
        |p AS (SELECT doc_id, string_split(text, chr(10)) AS parts FROM d2),
        |l AS (SELECT doc_id, i AS line_idx, parts[i + 1] AS raw, trim(parts[i + 1]) AS norm
        |      FROM p, unnest(range(0, len(parts))) AS u(i)),
        |dup AS (SELECT doc_id, line_idx,
        |               count(*) OVER (PARTITION BY norm) AS cnt,
        |               row_number() OVER (PARTITION BY norm ORDER BY doc_id, line_idx) AS rn
        |        FROM l WHERE norm <> ''),
        |drops AS (SELECT doc_id, line_idx FROM dup WHERE cnt >= 2 AND rn > 1)
        |SELECT d2.doc_id,
        |       coalesce(k.clean_text, '') AS clean_text
        |FROM d2 LEFT JOIN (
        |  SELECT doc_id, string_agg(raw, chr(10) ORDER BY line_idx) AS clean_text
        |  FROM l
        |  WHERE NOT EXISTS (SELECT 1 FROM drops d
        |                    WHERE d.doc_id = l.doc_id AND d.line_idx = l.line_idx)
        |  GROUP BY doc_id) k USING (doc_id)""".stripMargin,
    // Groups on raw window content where the Spark plan groups on
    // xxhash64 of it — hash-collision-free agreement is part of the
    // contract being checked.
    "q_substring_spans" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |w AS (
        |  SELECT doc_id, i AS s, array_to_string(list_slice(t, i + 1, i + 8), ' ') AS key
        |  FROM t, unnest(range(0, greatest(len(t) - 7, 0))) AS u(i)),
        |d AS (SELECT key FROM w GROUP BY key HAVING count(*) >= 2),
        |dw AS (SELECT w.doc_id, w.s FROM w JOIN d USING (key)),
        |fl AS (
        |  SELECT doc_id, s,
        |    CASE WHEN lag(s) OVER win IS NULL OR s > lag(s) OVER win + 8 THEN 1 ELSE 0 END AS f
        |  FROM dw WINDOW win AS (PARTITION BY doc_id ORDER BY s)),
        |isl AS (
        |  SELECT doc_id, s, sum(f) OVER (PARTITION BY doc_id ORDER BY s) AS island FROM fl)
        |SELECT doc_id, min(s)::BIGINT AS span_start, (max(s) + 8)::BIGINT AS span_end,
        |  count(*)::BIGINT AS n_dup_windows
        |FROM isl GROUP BY doc_id, island""".stripMargin,
    "q_substring_clean" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |w AS (
        |  SELECT doc_id, i AS s, array_to_string(list_slice(t, i + 1, i + 8), ' ') AS key
        |  FROM t, unnest(range(0, greatest(len(t) - 7, 0))) AS u(i)),
        |d AS (SELECT key FROM w GROUP BY key HAVING count(*) >= 2),
        |nc AS (
        |  SELECT doc_id, s FROM (
        |    SELECT w.doc_id, w.s,
        |      row_number() OVER (PARTITION BY key ORDER BY w.doc_id, w.s) AS rk
        |    FROM w JOIN d USING (key))
        |  WHERE rk > 1),
        |cov AS (
        |  SELECT DISTINCT doc_id, s + j AS i FROM nc, unnest(range(0, 8)) AS u(j)),
        |toks AS (
        |  SELECT doc_id, i, t[i + 1] AS tok
        |  FROM t, unnest(range(0, len(t))) AS u(i)),
        |kept AS (
        |  SELECT toks.doc_id, toks.i, toks.tok
        |  FROM toks LEFT JOIN cov ON toks.doc_id = cov.doc_id AND toks.i = cov.i
        |  WHERE cov.doc_id IS NULL),
        |agg AS (
        |  SELECT doc_id, array_to_string(array_agg(tok ORDER BY i), ' ') AS clean_text
        |  FROM kept GROUP BY doc_id),
        |rem AS (SELECT doc_id, count(*)::BIGINT AS n_removed FROM cov GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(agg.clean_text, '') AS clean_text,
        |  coalesce(rem.n_removed, 0)::BIGINT AS n_removed_tokens
        |FROM t LEFT JOIN agg USING (doc_id) LEFT JOIN rem USING (doc_id)""".stripMargin,
    "q_contam_spans" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |w AS (
        |  SELECT doc_id, i AS s, array_to_string(list_slice(t, i + 1, i + 5), ' ') AS key
        |  FROM t, unnest(range(0, greatest(len(t) - 4, 0))) AS u(i)),
        |b AS (SELECT DISTINCT key FROM w WHERE doc_id % 17 = 0),
        |dw AS (SELECT w.doc_id, w.s FROM w JOIN b USING (key)),
        |fl AS (
        |  SELECT doc_id, s,
        |    CASE WHEN lag(s) OVER win IS NULL OR s > lag(s) OVER win + 5 THEN 1 ELSE 0 END AS f
        |  FROM dw WINDOW win AS (PARTITION BY doc_id ORDER BY s)),
        |isl AS (
        |  SELECT doc_id, s, sum(f) OVER (PARTITION BY doc_id ORDER BY s) AS island FROM fl)
        |SELECT doc_id, min(s)::BIGINT AS span_start, (max(s) + 5)::BIGINT AS span_end,
        |  count(*)::BIGINT AS n_dup_windows
        |FROM isl GROUP BY doc_id, island""".stripMargin,
    "q_contam_scrub" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |w AS (
        |  SELECT doc_id, i AS s, array_to_string(list_slice(t, i + 1, i + 5), ' ') AS key
        |  FROM t, unnest(range(0, greatest(len(t) - 4, 0))) AS u(i)),
        |b AS (SELECT DISTINCT key FROM w WHERE doc_id % 17 = 0),
        |dw AS (SELECT w.doc_id, w.s FROM w JOIN b USING (key)),
        |cov AS (SELECT DISTINCT doc_id, s + j AS i FROM dw, unnest(range(0, 5)) AS u(j)),
        |toks AS (SELECT doc_id, i, t[i + 1] AS tok FROM t, unnest(range(0, len(t))) AS u(i)),
        |kept AS (
        |  SELECT toks.doc_id, toks.i, toks.tok
        |  FROM toks LEFT JOIN cov ON toks.doc_id = cov.doc_id AND toks.i = cov.i
        |  WHERE cov.doc_id IS NULL),
        |agg AS (
        |  SELECT doc_id, array_to_string(array_agg(tok ORDER BY i), ' ') AS clean_text
        |  FROM kept GROUP BY doc_id),
        |rem AS (SELECT doc_id, count(*)::BIGINT AS n_removed FROM cov GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(agg.clean_text, '') AS clean_text,
        |  coalesce(rem.n_removed, 0)::BIGINT AS n_removed_tokens
        |FROM t LEFT JOIN agg USING (doc_id) LEFT JOIN rem USING (doc_id)""".stripMargin,
    "q_contamination" ->
      """WITH d AS (
        |  SELECT doc_id, list_distinct(list_transform(list_zip(
        |      list_slice(t, 1, len(t) - 4), list_slice(t, 2, len(t) - 3),
        |      list_slice(t, 3, len(t) - 2), list_slice(t, 4, len(t) - 1),
        |      list_slice(t, 5, len(t))),
        |    p -> p[1] || ' ' || p[2] || ' ' || p[3] || ' ' || p[4] || ' ' || p[5])) AS g
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents)),
        |b AS (SELECT DISTINCT unnest(g) AS gram FROM d WHERE doc_id % 17 = 0),
        |cg AS (SELECT doc_id, unnest(g) AS gram FROM d),
        |ov AS (SELECT doc_id, count(*) AS n FROM cg WHERE gram IN (SELECT gram FROM b) GROUP BY doc_id)
        |SELECT d.doc_id, len(g)::BIGINT AS n_grams,
        |  coalesce(ov.n, 0)::BIGINT AS n_overlap_grams,
        |  coalesce(ov.n, 0) > 0 AS contaminated
        |FROM d LEFT JOIN ov USING (doc_id)""".stripMargin,
    "q_packing" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_tokens,
        |    ((doc_id * 2654435761) % 4294967296) % 8 AS shard
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, shard, n_tokens,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
        |  FROM t)
        |SELECT doc_id, shard::BIGINT AS shard, n_tokens,
        |  (prev // 512)::BIGINT AS pack_id,
        |  (prev % 512)::BIGINT AS pack_offset
        |FROM s""".stripMargin,
    "q_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |r AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    round(tf.tf::DOUBLE / df.df, 6) AS score,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf::DOUBLE / df.df DESC, tf.term) AS rank
        |  FROM tf JOIN df USING (term))
        |SELECT doc_id, term, tf::BIGINT AS tf, df::BIGINT AS df, score, rank
        |FROM r WHERE rank <= 3""".stripMargin,
    "q_bm25" ->
      s"""WITH $bm25OracleCte
        |SELECT query_id, doc_id, rank, score_micro FROM brank WHERE rank <= 10""".stripMargin,
    // Serving-tier hybrid: brank from the (exact) BM25 index, vec from
    // the full-probe ANN index — which ranks on the ROUNDED cosine
    // (ties by doc id), replayed here; fusion identical to q_hybrid's.
    "q_hybrid_index" ->
      s"""WITH $bm25OracleCte,
        |vec AS (
        |  SELECT q.vec_id AS query_id, n.vec_id AS doc_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]), 4) DESC, n.vec_id) AS rank
        |  FROM embeddings q, embeddings n
        |  WHERE q.vec_id % 25 = 0 AND q.vec_id < 5000 AND n.vec_id != q.vec_id),
        |u AS (
        |  SELECT query_id, doc_id,
        |    floor(1000000.0 / (60.0 + rank::DOUBLE) + 0.5)::BIGINT AS c
        |  FROM brank WHERE rank <= 20
        |  UNION ALL
        |  SELECT query_id, doc_id,
        |    floor(1000000.0 / (60.0 + rank::DOUBLE) + 0.5)::BIGINT AS c
        |  FROM vec WHERE rank <= 20),
        |f AS (SELECT query_id, doc_id, count(*)::BIGINT AS n_lists, sum(c)::BIGINT AS rrf_micro
        |  FROM u GROUP BY 1, 2),
        |fr AS (SELECT query_id, doc_id, n_lists, rrf_micro,
        |  row_number() OVER (PARTITION BY query_id ORDER BY rrf_micro DESC, doc_id) AS rank FROM f)
        |SELECT query_id, doc_id, rank, n_lists, rrf_micro FROM fr WHERE rank <= 10""".stripMargin,
    // Exact-append contract: the persisted index built 60/40 must equal
    // one-shot BM25 over the full corpus — the oracle IS q_bm25's.
    "q_bm25_index" ->
      s"""WITH $bm25OracleCte
        |SELECT query_id, doc_id, rank, score_micro FROM brank WHERE rank <= 10""".stripMargin,
    // Filtered search: global stats (bscore unchanged), non-matching
    // docs excluded, survivors re-ranked.
    "q_bm25_filtered" ->
      s"""WITH $bm25OracleCte,
        |bfil AS (SELECT b.query_id, b.doc_id, b.score_micro,
        |  row_number() OVER (PARTITION BY b.query_id ORDER BY b.score_micro DESC, b.doc_id) AS rank
        |  FROM bscore b JOIN documents dd ON b.doc_id = dd.doc_id
        |  WHERE dd.source IN ('src1', 'src3', 'src5', 'src7', 'src9'))
        |SELECT query_id, doc_id, rank, score_micro FROM bfil WHERE rank <= 10""".stripMargin,
    // Takedown: full-corpus stats (bscore unchanged), deleted docs
    // excluded, survivors re-ranked.
    "q_bm25_delete" ->
      s"""WITH $bm25OracleCte,
        |bdel AS (SELECT query_id, doc_id, score_micro,
        |  row_number() OVER (PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS rank
        |  FROM bscore WHERE doc_id % 21 != 0)
        |SELECT query_id, doc_id, rank, score_micro FROM bdel WHERE rank <= 10""".stripMargin,
    // Metric replay: BM25 top-10 run vs exact-cosine top-5 qrels; DCG
    // and ideal DCG as integer sums of the micro-snapped per-position
    // discount floor(1e6/log2(r+1) + 0.5).
    "q_retrieval_eval" ->
      s"""WITH $bm25OracleCte,
        |vec AS (
        |  SELECT q.vec_id AS query_id, n.vec_id AS doc_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC, n.vec_id) AS rank
        |  FROM embeddings q, embeddings n
        |  WHERE q.vec_id % 25 = 0 AND q.vec_id < 5000 AND n.vec_id != q.vec_id),
        |qr AS (SELECT query_id, doc_id FROM vec WHERE rank <= 5),
        |runq AS (SELECT query_id, doc_id, rank FROM brank WHERE rank <= 10),
        |nrel AS (SELECT query_id, count(*)::BIGINT AS n_rel FROM qr GROUP BY 1),
        |hits AS (SELECT r.query_id, count(*)::BIGINT AS n_hit, min(r.rank) AS fr,
        |  sum(floor(1000000.0 / log2(r.rank + 1.0) + 0.5)::BIGINT)::BIGINT AS dcg
        |  FROM runq r JOIN qr USING (query_id, doc_id) GROUP BY 1),
        |pos AS (SELECT unnest(generate_series(1, 10)) AS i),
        |idcg AS (SELECT n.query_id,
        |  sum(floor(1000000.0 / log2(pos.i + 1.0) + 0.5)::BIGINT)::BIGINT AS idcg
        |  FROM nrel n JOIN pos ON pos.i <= least(n.n_rel, 10) GROUP BY 1)
        |SELECT n.query_id, n.n_rel,
        |  coalesce(h.n_hit, 0)::BIGINT AS n_hit,
        |  round(coalesce(h.n_hit, 0)::DOUBLE / n.n_rel, 6) AS recall,
        |  coalesce(floor(1000000.0 / h.fr + 0.5)::BIGINT, 0)::BIGINT AS rr_micro,
        |  coalesce(h.dcg, 0)::BIGINT AS dcg_micro,
        |  i.idcg AS idcg_micro,
        |  round(coalesce(h.dcg, 0)::DOUBLE / i.idcg, 6) AS ndcg
        |FROM nrel n LEFT JOIN hits h USING (query_id) JOIN idcg i ON i.query_id = n.query_id""".stripMargin,
    // Graded replay: gain = grade (integer x snapped discount), ideal
    // DCG re-sorts the judged grades best-first (grade desc, doc_id),
    // AP's per-hit precision snapped per term then integer-summed.
    "q_retrieval_graded" ->
      s"""WITH $bm25OracleCte,
        |vec AS (
        |  SELECT q.vec_id AS query_id, n.vec_id AS doc_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC, n.vec_id) AS rank
        |  FROM embeddings q, embeddings n
        |  WHERE q.vec_id % 25 = 0 AND q.vec_id < 5000 AND n.vec_id != q.vec_id),
        |qr AS (SELECT query_id, doc_id,
        |  (CASE WHEN rank = 1 THEN 3 WHEN rank <= 3 THEN 2 ELSE 1 END)::BIGINT AS grade
        |  FROM vec WHERE rank <= 5),
        |runq AS (SELECT query_id, doc_id, rank FROM brank WHERE rank <= 10),
        |h AS (SELECT r.query_id, r.rank, q.grade,
        |  row_number() OVER (PARTITION BY r.query_id ORDER BY r.rank)::BIGINT AS cum
        |  FROM runq r JOIN qr q USING (query_id, doc_id)),
        |nrel AS (SELECT query_id, count(*)::BIGINT AS n_rel FROM qr GROUP BY 1),
        |hits AS (SELECT query_id, count(*)::BIGINT AS n_hit, min(rank) AS fr,
        |  sum(grade * floor(1000000.0 / log2(rank + 1.0) + 0.5)::BIGINT)::BIGINT AS dcg,
        |  sum(floor(1000000.0 * cum::DOUBLE / rank::DOUBLE + 0.5)::BIGINT)::BIGINT AS ap_sum
        |  FROM h GROUP BY 1),
        |ideal AS (SELECT query_id, grade,
        |  row_number() OVER (PARTITION BY query_id ORDER BY grade DESC, doc_id)::BIGINT AS pos
        |  FROM qr),
        |idcg AS (SELECT query_id,
        |  sum(grade * floor(1000000.0 / log2(pos + 1.0) + 0.5)::BIGINT)::BIGINT AS idcg
        |  FROM ideal WHERE pos <= 10 GROUP BY 1)
        |SELECT n.query_id, n.n_rel,
        |  coalesce(h.n_hit, 0)::BIGINT AS n_hit,
        |  round(coalesce(h.n_hit, 0)::DOUBLE / n.n_rel, 6) AS recall,
        |  coalesce(floor(1000000.0 / h.fr + 0.5)::BIGINT, 0)::BIGINT AS rr_micro,
        |  coalesce(h.dcg, 0)::BIGINT AS dcg_micro,
        |  i.idcg AS idcg_micro,
        |  round(coalesce(h.dcg, 0)::DOUBLE / i.idcg, 6) AS ndcg,
        |  coalesce(h.ap_sum, 0)::BIGINT AS ap_sum_micro,
        |  round(coalesce(h.ap_sum, 0)::DOUBLE / 1000000.0 / n.n_rel, 6) AS ap
        |FROM nrel n LEFT JOIN hits h USING (query_id) JOIN idcg i ON i.query_id = n.query_id""".stripMargin,
    // Fusion replay: BM25 top-20 + exact-cosine top-20, RRF'd with
    // integer micro-point contributions (floor(1e6/(60+rank)+0.5)),
    // re-ranked by the exact integer sum.
    "q_hybrid" ->
      s"""WITH $bm25OracleCte,
        |vec AS (
        |  SELECT q.vec_id AS query_id, n.vec_id AS doc_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC, n.vec_id) AS rank
        |  FROM embeddings q, embeddings n
        |  WHERE q.vec_id % 25 = 0 AND q.vec_id < 5000 AND n.vec_id != q.vec_id),
        |u AS (
        |  SELECT query_id, doc_id,
        |    floor(1000000.0 / (60.0 + rank::DOUBLE) + 0.5)::BIGINT AS c
        |  FROM brank WHERE rank <= 20
        |  UNION ALL
        |  SELECT query_id, doc_id,
        |    floor(1000000.0 / (60.0 + rank::DOUBLE) + 0.5)::BIGINT AS c
        |  FROM vec WHERE rank <= 20),
        |f AS (SELECT query_id, doc_id, count(*)::BIGINT AS n_lists, sum(c)::BIGINT AS rrf_micro
        |  FROM u GROUP BY 1, 2),
        |fr AS (SELECT query_id, doc_id, n_lists, rrf_micro,
        |  row_number() OVER (PARTITION BY query_id ORDER BY rrf_micro DESC, doc_id) AS rank FROM f)
        |SELECT query_id, doc_id, rank, n_lists, rrf_micro FROM fr WHERE rank <= 10""".stripMargin,
    "q_topk_source" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |    length(text) AS n_chars,
        |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
        |    round(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      x -> list_contains(['the','a','an','of','to','in','and','or','is','are','was','for','on','with','as','at','by','it','this','that'], x)))::DOUBLE
        |      / len(regexp_split_to_array(trim(text), '\s+')), 4) AS stopword_ratio,
        |    round(list_sum(list_transform(regexp_split_to_array(trim(text), '\s+'), x -> length(x)))::DOUBLE
        |      / len(regexp_split_to_array(trim(text), '\s+')), 4) AS mean_token_len
        |  FROM documents),
        |q AS (
        |  SELECT doc_id,
        |    round((least(n_tokens::DOUBLE / 50.0, 1.0)
        |      + CASE WHEN mean_token_len BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END
        |      + CASE WHEN stopword_ratio BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END
        |      + CASE WHEN n_punct * 10 <= n_chars THEN 1.0 ELSE 0.5 END) / 4.0, 4) AS quality
        |  FROM t),
        |r AS (
        |  SELECT d.source, q.doc_id, q.quality,
        |    row_number() OVER (PARTITION BY d.source ORDER BY q.quality DESC, q.doc_id) AS rank
        |  FROM q JOIN documents d USING (doc_id))
        |SELECT source, doc_id, rank, quality FROM r WHERE rank <= 5""".stripMargin,
    "q_fingerprint_groups" ->
      """SELECT doc_id,
        |min(doc_id) OVER (PARTITION BY concat_ws(' ', regexp_split_to_array(trim(text), '\s+'))) AS rep_id
        |FROM documents""".stripMargin,
    // Estimator-contract oracles: DuckDB recomputes the exact range
    // answer; within_bounds must be uniformly true (hard bounds
    // deterministically contain the exact answer for count, and for sum
    // over this table's non-negative values).
    "q_range_count" ->
      s"""SELECT user_id AS stream_id, count(*) AS exact_cnt, true AS within_bounds
         |FROM events WHERE epoch_us(ts) BETWEEN $Jan10 AND $Jan20 GROUP BY user_id""".stripMargin,
    "q_range_sum" ->
      s"""SELECT user_id AS stream_id, round(sum(value), 2) AS exact_sum, true AS within_bounds
         |FROM events WHERE epoch_us(ts) BETWEEN $Jan10 AND $Jan20 GROUP BY user_id""".stripMargin,
    // Window-count oracle: DuckDB recomputes the exp-2 decomposition
    // LENGTH by the same self-similar recurrence the aligned-range
    // oracles use — L(n) = L((n-1)//2) + L(s), s = 2 if n even else 1,
    // with L(1)=1, L(2)=2 — so the N -> O(log N) compression claim is
    // hard-signal, not just a ratio printed in the bench.
    "q_window_stats" ->
      """WITH RECURSIVE
        |n_per AS (SELECT user_id, count(*)::BIGINT AS n FROM events GROUP BY user_id),
        |chain(user_id, cur, acc) AS (
        |  SELECT user_id, n, 0::BIGINT FROM n_per
        |  UNION ALL
        |  SELECT user_id, (cur - 1) // 2, acc + CASE WHEN cur % 2 = 0 THEN 2 ELSE 1 END
        |  FROM chain WHERE cur > 2)
        |SELECT c.user_id AS stream_id, (c.acc + c.cur) AS n_windows, n.n AS n_elements
        |FROM chain c JOIN n_per n USING (user_id)
        |WHERE c.cur <= 2""".stripMargin,
    // Near-dup oracles: the full exact shingle-Jaccard >= 0.5 pair set,
    // with integer intersection/union sizes (no FP division in the
    // compared cells). Both the MinHash-LSH and SimHash paths must
    // reproduce it exactly — possible because candidate recall on this
    // corpus is deterministic and the verify filter removes false
    // positives.
    "q_neardup_text" -> neardupOracleSql(0.9),
    // Cross-corpus (head x tail) exact-Jaccard pair set at the same
    // threshold/shingling as the one-shot oracle.
    "q_neardup_index" ->
      """WITH t AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |    ELSE list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh
        |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x != '') AS toks
        |        FROM documents)),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    len(list_intersect(a.sh, b.sh))::BIGINT AS n_inter,
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::BIGINT AS n_union
        |  FROM t a, t b WHERE a.doc_id % 10 < 6 AND b.doc_id % 10 >= 6)
        |SELECT doc_a, doc_b, n_inter, n_union FROM p WHERE n_inter::DOUBLE >= n_union * 0.9""".stripMargin,
    // Merge == build-over-union for the probe: the q_neardup_index
    // pair set, unchanged — the merged shards must cover it exactly.
    "q_neardup_merge" ->
      """WITH t AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |    ELSE list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh
        |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x != '') AS toks
        |        FROM documents)),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    len(list_intersect(a.sh, b.sh))::BIGINT AS n_inter,
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::BIGINT AS n_union
        |  FROM t a, t b WHERE a.doc_id % 10 < 6 AND b.doc_id % 10 >= 6)
        |SELECT doc_a, doc_b, n_inter, n_union FROM p WHERE n_inter::DOUBLE >= n_union * 0.9""".stripMargin,
    // Same cross-corpus pair set AFTER the takedown of every indexed
    // doc with id % 7 = 0: pairs whose indexed side was tombstoned
    // vanish; everything else is unchanged — recomputed exactly.
    "q_neardup_delete" ->
      """WITH t AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |    ELSE list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh
        |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x != '') AS toks
        |        FROM documents)),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    len(list_intersect(a.sh, b.sh))::BIGINT AS n_inter,
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::BIGINT AS n_union
        |  FROM t a, t b
        |  WHERE a.doc_id % 10 < 6 AND a.doc_id % 7 <> 0 AND b.doc_id % 10 >= 6)
        |SELECT doc_a, doc_b, n_inter, n_union FROM p WHERE n_inter::DOUBLE >= n_union * 0.9""".stripMargin,
    "q_neardup_exact" -> neardupOracleSql(0.5),
    // SimHash containment: keys = the exact J >= 0.5 set; the SimHash
    // consistency/subset checks are Spark-computed booleans that must
    // be uniformly (true, 0).
    "q_simhash" ->
      s"""SELECT doc_a, doc_b, n_inter, n_union,
         |  true AS simhash_consistent, 0::BIGINT AS n_stray
         |FROM (${neardupOracleSql(0.5)})""".stripMargin,
    // Full SQL port of the language detector over the same injected
    // text: tokenize on non-letters, count stopword-profile hits per
    // language, argmax with alphabetical tie-break, 'en' when nothing
    // hits, 'und' when no tokens. (The CJK branch cannot fire on this
    // ASCII corpus; it is covered by TextAnalysisSpec unit vectors.)
    "q_langid" ->
      """WITH base AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 4 = 1 THEN ' der die das und ist nicht ein eine mit von'
        |         WHEN doc_id % 4 = 2 THEN ' le la les et est une dans que pour pas'
        |         WHEN doc_id % 4 = 3 THEN ' el la los las y es una en que por'
        |         ELSE '' END AS t2
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(t2), '[^\p{L}]+'), x -> x <> '') AS toks
        |  FROM base),
        |sc AS (
        |  SELECT doc_id, len(toks) AS n,
        |    len(list_filter(toks, x -> list_contains(['the','of','and','to','in','is','that','it','was','for','with','are','this'], x))) AS s_en,
        |    len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','ein','eine','mit','von','für','auf','ich'], x))) AS s_de,
        |    len(list_filter(toks, x -> list_contains(['le','la','les','et','est','une','dans','que','pour','pas','des','je','avec'], x))) AS s_fr,
        |    len(list_filter(toks, x -> list_contains(['el','la','los','las','y','es','una','en','que','por','para','con','no'], x))) AS s_es
        |  FROM tok)
        |SELECT doc_id, CASE
        |  WHEN n = 0 THEN 'und'
        |  WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'en'
        |  WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
        |  WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
        |  WHEN s_es >= s_fr THEN 'es'
        |  ELSE 'fr' END AS pred_lang
        |FROM sc""".stripMargin,
    "q_dedup_components" ->
      s"""WITH RECURSIVE pp AS (${neardupOracleSql(0.9)}),
         |e AS (SELECT doc_a AS a, doc_b AS b FROM pp
         |      UNION ALL SELECT doc_b, doc_a FROM pp),
         |walk(a, b) AS (
         |  SELECT DISTINCT a, a FROM e
         |  UNION
         |  SELECT w.a, e.b FROM walk w JOIN e ON w.b = e.a)
         |SELECT a AS doc_id, min(b) AS rep_id FROM walk GROUP BY a""".stripMargin,
    // Leakage-free split oracle: the same pair closure, then the plain
    // Knuth split hash of each doc's cluster representative (self for
    // singletons).
    "q_leakfree_split" ->
      s"""WITH RECURSIVE pp AS (${neardupOracleSql(0.9)}),
         |e AS (SELECT doc_a AS a, doc_b AS b FROM pp
         |      UNION ALL SELECT doc_b, doc_a FROM pp),
         |walk(a, b) AS (
         |  SELECT DISTINCT a, a FROM e
         |  UNION
         |  SELECT w.a, e.b FROM walk w JOIN e ON w.b = e.a),
         |reps AS (SELECT a AS doc_id, min(b) AS rep_id FROM walk GROUP BY a)
         |SELECT d.doc_id, coalesce(r.rep_id, d.doc_id) AS rep_id,
         |  CASE WHEN (coalesce(r.rep_id, d.doc_id) * 2654435761) % 4294967296 < 3221225472
         |       THEN 'train' ELSE 'test' END AS split
         |FROM documents d LEFT JOIN reps r USING (doc_id)""".stripMargin,
    // Weighted-sample oracle: identical u, identical micro-nat key,
    // identical (score desc, id) rank.
    "q_weighted_sample" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS w,
        |    (doc_id * 2654435761) % 4294967296 AS hk
        |  FROM documents),
        |s AS (
        |  SELECT source, doc_id,
        |    floor(ln((hk + 1) / 4294967297.0) / w * 1000000 + 0.5) AS score
        |  FROM t WHERE w > 0),
        |r AS (
        |  SELECT source, doc_id, score,
        |    row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rank
        |  FROM s)
        |SELECT source, doc_id, rank::INT AS rank, score FROM r WHERE rank <= 3""".stripMargin,
    // Token-budget oracle: identical integer token counts, identical
    // (hash, id) fill order, identical budget CASE — the running-sum
    // window replays the member set exactly.
    "q_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_tokens,
        |    (doc_id * 2654435761) % 4294967296 AS hk
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source ORDER BY hk, doc_id) AS cum_after,
        |    CASE source WHEN 'src0' THEN 400 WHEN 'src1' THEN 137 ELSE 65 END AS budget
        |  FROM t)
        |SELECT doc_id, source, n_tokens FROM c
        |WHERE cum_after - n_tokens < budget""".stripMargin,
    "q_ann_recall" ->
      "SELECT vec_id AS query_id, true AS recall_ok FROM embeddings WHERE vec_id < 50",
    // ANN score/shape contract: Spark self-checks its output (scores
    // equal exact pair cosines, non-increasing by rank); the oracle
    // pins the all-true grid of (query, rank 1..10).
    "q_ann_knn" ->
      """SELECT vec_id AS query_id, r AS rank, true AS ok
        |FROM embeddings, unnest(range(1, 11)) AS u(r)
        |WHERE vec_id < 50""".stripMargin,
    // Same injection as the Spark side (DuckDB list_transform indices
    // are 1-based, Spark's 0-based — both address the LAST component),
    // then the exact all-pairs cosine >= 0.9 pair set over the union.
    "q_embed_neardup" ->
      """WITH inj AS (
        |  SELECT vec_id + 1000000 AS vec_id,
        |         list_transform(embedding, (x, i) ->
        |           CASE WHEN i = len(embedding) THEN 0.0::FLOAT ELSE x END) AS embedding
        |  FROM embeddings WHERE vec_id % 20 = 0),
        |u AS (SELECT vec_id, embedding FROM embeddings UNION ALL SELECT vec_id, embedding FROM inj)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM u a, u b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.9""".stripMargin,
    // Contract: every injected twin pair is caught by the cell-
    // restricted search AND exactly one member survives dedup. Both
    // booleans are deterministic (kmeans is deterministic by
    // construction) and verified true on this data.
    "q_semdedup" ->
      """SELECT vec_id, true AS pair_caught, true AS removed_one
        |FROM embeddings WHERE vec_id % 20 = 0""".stripMargin,
    // Exact corpus x benchmark cosine pair set (same injection as
    // q_embed_neardup, but cross-corpus: originals vs perturbed set).
    "q_sem_contam" ->
      """WITH bench AS (
        |  SELECT vec_id + 1000000 AS vec_id,
        |         list_transform(embedding, (x, i) ->
        |           CASE WHEN i = len(embedding) THEN 0.0::FLOAT ELSE x END) AS embedding
        |  FROM embeddings WHERE vec_id % 20 = 0)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM embeddings a, bench b
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.9""".stripMargin,
    "q_ivf_recall" ->
      "SELECT vec_id AS query_id, true AS recall_ok FROM embeddings WHERE vec_id < 50",
    "q_ann_index" ->
      "SELECT vec_id AS query_id, true AS recall_ok FROM embeddings WHERE vec_id < 50",
    "q_ann_pq" ->
      "SELECT vec_id AS query_id, true AS recall_ok FROM embeddings WHERE vec_id < 50",
    // Takedown contract: every query must report its deleted identical
    // twin absent AND a full k of surviving neighbors — uniformly true.
    "q_ann_delete" ->
      "SELECT vec_id AS query_id, true AS twin_absent, true AS k_full FROM embeddings WHERE vec_id < 50",
    // ANN merge, EXACT replay: full probe depth + raw-vector scoring
    // means the merged (even-shard + odd-shard) index must return the
    // brute-force top-10 over the whole corpus, rounded-rank contract.
    "q_ann_merge" ->
      """WITH r AS (
        |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]), 4) DESC, n.vec_id) AS rank,
        |    round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]), 4) AS score
        |  FROM embeddings q, embeddings n
        |  WHERE q.vec_id < 50 AND n.vec_id != q.vec_id)
        |SELECT query_id, neighbor_id, rank, score FROM r WHERE rank <= 10""".stripMargin,
    // Filtered search, EXACT replay (not a recall contract): at
    // nProbe = cell count the probe scans every cell, so the filtered
    // top-10 must equal brute force over the predicate's rows. topK
    // ranks on the ROUNDED score (ties by neighbor_id) — replayed.
    "q_ann_filtered" ->
      """WITH r AS (
        |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]), 4) DESC, n.vec_id) AS rank,
        |    round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]), 4) AS score
        |  FROM embeddings q, embeddings n
        |  WHERE q.vec_id < 50 AND n.vec_id != q.vec_id AND n.label % 3 = 0)
        |SELECT query_id, neighbor_id, rank, score FROM r WHERE rank <= 10""".stripMargin,
    // Same exact contract through the PQ sidecar: all cells probed and
    // the refine budget exceeds the filtered corpus, so the ADC cut
    // keeps every candidate and the exact-cosine re-rank IS brute
    // force. topKPq ranks UNROUNDED and rounds for display — replayed.
    "q_ann_filtered_pq" ->
      """WITH r AS (
        |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC, n.vec_id) AS rank,
        |    round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]), 4) AS score
        |  FROM embeddings q, embeddings n
        |  WHERE q.vec_id < 50 AND n.vec_id != q.vec_id AND n.label % 3 = 0)
        |SELECT query_id, neighbor_id, rank, score FROM r WHERE rank <= 10""".stripMargin,
    "q_pq_recall" ->
      "SELECT vec_id AS query_id, true AS recall_ok FROM embeddings WHERE vec_id < 50",
    "q_pca" ->
      """SELECT r AS coord, true AS spectrum_ok, true AS desc_ok
        |FROM unnest(range(0, 16)) AS u(r)""".stripMargin,
    "q_pii" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
        |  len(regexp_extract_all(t2, 'https?://[^\s]+'))::BIGINT AS n_urls
        |FROM (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 5 = 0 THEN ' contact user' || doc_id || '@example.com now' ELSE '' END ||
        |  CASE WHEN doc_id % 7 = 0 THEN ' see https://ex.org/d/' || doc_id || ' ok' ELSE '' END AS t2
        |  FROM documents)""".stripMargin,
    "q_sample_stratified" ->
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rk
        |  FROM documents) WHERE rk <= 20""".stripMargin,
    "q_sample_split" ->
      """SELECT doc_id, CASE
        |  WHEN (doc_id * 2654435761) % 4294967296 < 3221225472 THEN 'train'
        |  WHEN (doc_id * 2654435761) % 4294967296 < 3758096384 THEN 'val'
        |  ELSE 'test' END AS split
        |FROM documents""".stripMargin,
    "q_epoch_order" ->
      """SELECT doc_id, e AS epoch,
        |  ((doc_id % 4294967296) * 31 + e) * 2654435761 % 4294967296 AS order_key
        |FROM documents, unnest(range(0, 2)) AS u(e)""".stripMargin,
    "q_mixture_epochs" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 1.0
        |                WHEN 'src2' THEN 0.25 ELSE 0.0 END AS rate
        |  FROM documents)
        |SELECT source, doc_id, c AS copy
        |FROM r, unnest(range(0, greatest(ceil(rate)::BIGINT, 1))) AS u(c)
        |WHERE c < floor(rate)
        |   OR (c = floor(rate) AND (doc_id * 2654435761) % 4294967296
        |       < (rate * 4294967296)::BIGINT - (floor(rate) * 4294967296)::BIGINT)""".stripMargin,
    // Thresholds are floor(rate * 2^32), matching Scala's .toLong.
    "q_mixture" ->
      """SELECT source, doc_id FROM documents
        |WHERE (doc_id * 2654435761) % 4294967296 < CASE source
        |  WHEN 'src0' THEN 4294967296
        |  WHEN 'src1' THEN 2147483648
        |  WHEN 'src2' THEN 1073741824
        |  WHEN 'src3' THEN 429496729
        |  ELSE 214748364 END""".stripMargin,
    "q_heavy_hitters" ->
      """WITH c AS (
        |  SELECT user_id, event_type, count(*)::BIGINT AS cnt FROM events GROUP BY 1, 2),
        |n AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1)
        |SELECT c.user_id AS stream_id, c.event_type AS key, c.cnt AS exact_cnt,
        |       true AS within_bounds
        |FROM c JOIN n USING (user_id) WHERE c.cnt > n.n * 0.1""".stripMargin,
    "q_bloom" ->
      """SELECT DISTINCT user_id AS stream_id, event_type AS key, true AS might_contain
        |FROM events
        |WHERE event_type IN ('click','view','purchase','signup','error')""".stripMargin,
    "q_top_type" ->
      """WITH c AS (
        |  SELECT user_id, event_type, count(*) AS cnt FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT user_id, event_type, cnt,
        |    row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, event_type) AS rk
        |  FROM c)
        |SELECT user_id AS stream_id, event_type AS top_key, cnt AS top_cnt
        |FROM r WHERE rk = 1""".stripMargin,
  )
}

package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: one JSON line with per-query latencies plus the
  * engine's two headline metrics — ingest→summarize throughput and the
  * summary compression ratio (the reference's N → O(log N) effect,
  * `/root/reference/core/db_test.go:330-334`). Failures are reported as
  * explicit error entries, never as fake timings.
  */
object Bench {
  /** JSON string literal of `s`. */
  private[graft] def jq(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  /** The run's FINAL line: a <= 1900-char JSON digest. The harness that
    * captures the output keeps only its LAST 2000 characters and parses
    * a JSON line out of that tail; the full line (~4 KB: 115 queries +
    * spread map, the unchanged measurement contract) prints before it
    * and lands in bench_full_c<cpus>.json, so the tail always holds this one
    * complete, parseable object — totals, the 12 slowest queries (the
    * only ones above the run-to-run noise floor), the index/scale/skew
    * blocks and the determinism anchors.
    *
    * `head` holds the always-kept `"key":value` members. Errors enter
    * as their count plus the FIRST error only (each message is up to
    * 200 chars, so the whole map could overflow the tail exactly when
    * it matters; every error stays in the full line). `optional`
    * members are kept in order while they fit.
    */
  private[graft] def digest(
      head: String,
      errors: collection.Map[String, String],
      optional: Seq[String],
      sfDir: String): String = {
    val es = errors.headOption
      .map { case (k, v) => s"${jq(k)}:${jq(v.take(200))}" }.mkString("{", "", "}")
    val required = s"""{$head,"n_errors":${errors.size},"errors":$es"""
    val tail = s""""sf":${jq(sfDir)}}"""
    // keep the digest under the 2000-char tail with ~100 chars of slack
    // for the runner's own trailing output
    val budget = 1900 - required.length - tail.length - 2
    val kept = optional.foldLeft(List.empty[String]) { (acc, p) =>
      if ((acc.map(_.length + 1).sum + p.length) <= budget) acc :+ p else acc
    }
    (required +: kept :+ tail).mkString(",")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Session.local(cpus)
    // one full line per core count: a 4-core and a 32-core run keep both
    val fullFile = s"bench_full_c$cpus.json"

    val timings = collection.mutable.LinkedHashMap.empty[String, Double]
    val errors = collection.mutable.LinkedHashMap.empty[String, String]

    // Steady-state warm-up for the ingest line — the same protocol the
    // per-query timings already use (one untimed execution first). A
    // tiny synthetic stream compiles the rank/summarize/landmark
    // codegen and warms the JIT; the timed materialization below still
    // pays the full real-data IO and shuffle. Without this the ingest
    // figure is dominated by one-time JVM+codegen cost (~18s of a ~21s
    // reading at sf0.1, vs ~2s steady-state).
    try {
      import spark.implicits._
      val warm = graft.core.Ingest.prepare(
        spark.range(10000L).select(($"id" % 5L).as("streamId"), $"id".as("ts"),
          ($"id" % 7L).cast("double").as("value"), $"id".as("arrival")))
      graft.core.Summarizer
        .summarize(warm, graft.windowing.ExponentialWindowing(2.0)).count()
      val (wl, wsp, wel) = graft.core.Summarizer.summarizeWithLandmarkRowsPerStream(
        warm, _ => graft.windowing.ExponentialWindowing(2.0), Seq((100L, 200L)))
      wl.count(); wsp.count(); wel.count()
    } catch { case _: Throwable => () } // warm-up must never fail the bench

    // The scale check runs FIRST, on a clean heap: measured after the
    // query phase it inherits ~90 persisted tables' memory pressure and
    // the 100M-row point read 40x slower than in a clean session.
    // Scale check (the "second scale point"): the same summarize path
    // measured as ROWS/SEC at two sizes a decade apart, both large
    // enough that fixed overhead (job scheduling, codegen lookup, JIT
    // tiering — ~0.2 s on this box) is noise: a synthetic single
    // stream at 10M vs 100M elements, and a real-events fleet at 5 vs
    // 50 stream-shifted copies of the sfDir events. rate_ratio =
    // rate_hi / rate_lo: ~1 means per-row cost holds across the
    // decade (linear scaling); well below 1 is superlinearity the
    // single-sf headline would mask. Time-ratio framing at small
    // sizes was tried and discarded — a 1x point dominated by fixed
    // overhead makes any ratio meaningless.
    val scaleCheck: Option[String] = try {
      import spark.implicits._
      import org.apache.spark.sql.functions.{explode, lit, sequence}
      // noop write, not count(): count() over an Aggregate lets the
      // optimizer drop the aggregate VALUE expressions (only groups
      // are needed), and the measurement stops covering the real work.
      def force(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.mode("overwrite").format("noop").save()
      // Both shapes warm up untimed (different sizes can compile
      // different adaptive plans); timed figure = min of 2 samples,
      // interleaved so machine noise can't land on one size only.
      def pairTimed(runLo: () => Unit, runHi: () => Unit): (Double, Double) = {
        runLo(); runHi()
        def one(r: () => Unit): Double = {
          val t0 = System.nanoTime(); r(); (System.nanoTime() - t0) / 1e9
        }
        val a = one(runLo); val b = one(runHi)
        val c = one(runLo); val d = one(runHi)
        (math.min(a, c), math.min(b, d))
      }
      def bigRun(n: Long): () => Unit = {
        val events = spark.range(n)
          .select($"id".as("seq"), $"id".as("ts"), ($"id" % 97).cast("double").as("value"))
          .withColumn("streamId", lit(998L))
          .as[graft.core.Event]
        () => force(graft.core.Summarizer
          .summarize(events, graft.windowing.ExponentialWindowing(2.0)).toDF())
      }
      val (bigN1, bigN2) = (10000000L, 100000000L)
      val (bigLo, bigHi) = pairTimed(bigRun(bigN1), bigRun(bigN2))
      val base = graft.core.Ingest.fromEventsTable(spark, sfDir).persist()
      val baseRows = base.count()
      // Replicate with a generator (crossJoin against a copy-index
      // range), NOT an N-way unionByName: every task of a union stage
      // deserializes the ENTIRE union lineage's closures, so a 500-way
      // union spent its wall-clock in LambdaDeserializer/
      // ClassLoader.loadClass under classloader-lock contention that
      // GREW with thread count (3x slower at 32 threads than 4 —
      // stack-sampled, BENCH_NOTES §7). The
      // crossJoin shape ships one closure set per task at any copy
      // count AND keeps size stats honest (estimate = |base| x copies
      // — an explode-based replica was estimated at |base| and made
      // the planner try to broadcast the 50M-row side of summarize's
      // internal join). Row set is identical to the union's.
      def fleetRun(copies: Int): () => Unit = {
        val ev = base
          .crossJoin(spark.range(copies).select($"id".as("__copy")))
          .withColumn("streamId", $"streamId" + $"__copy" * lit(10000000L))
          .drop("__copy")
          .as[graft.core.Event]
        () => force(graft.core.Summarizer
          .summarize(ev, graft.windowing.ExponentialWindowing(2.0)).toDF())
      }
      val (fleetC1, fleetC2) = (5, 50)
      val (fleetLo, fleetHi) = pairTimed(fleetRun(fleetC1), fleetRun(fleetC2))
      val bigRateLo = bigN1 / bigLo; val bigRateHi = bigN2 / bigHi
      val fleetRateLo = baseRows * fleetC1 / fleetLo
      val fleetRateHi = baseRows * fleetC2 / fleetHi
      // Deep-scale anchors (opt-in: minutes of extra runtime): one more
      // decade on each axis — a 10^9-row big stream and a 500x fleet.
      // Single timed sample each (warmed by the points above).
      val deep =
        if (!sys.env.get("SPARK_GRAFT_DEEP_SCALE").contains("1")) ""
        else {
          def one(r: () => Unit): Double = {
            val t0 = System.nanoTime(); r(); (System.nanoTime() - t0) / 1e9
          }
          val bigN3 = 1000000000L
          val bigXl = one(bigRun(bigN3))
          val fleetC3 = 500
          val fleetXl = one(fleetRun(fleetC3))
          s""""big_rows_per_sec_1g":${(bigN3 / bigXl).toLong},""" +
          s""""big_rate_ratio_1g":${f"${(bigN3 / bigXl) / bigRateLo}%.2f"},""" +
          s""""fleet_rows_per_sec_500x":${(baseRows * fleetC3 / fleetXl).toLong},""" +
          s""""fleet_rate_ratio_500x":${f"${(baseRows * fleetC3 / fleetXl) / fleetRateLo}%.2f"},"""
        }
      base.unpersist()
      Some(
        s"""{"big_rows_per_sec_10m":${bigRateLo.toLong},""" +
        s""""big_rows_per_sec_100m":${bigRateHi.toLong},""" +
        s""""big_rate_ratio":${f"${bigRateHi / bigRateLo}%.2f"},""" +
        deep +
        s""""fleet_rows_per_sec_5x":${fleetRateLo.toLong},""" +
        s""""fleet_rows_per_sec_50x":${fleetRateHi.toLong},""" +
        s""""fleet_rate_ratio":${f"${fleetRateHi / fleetRateLo}%.2f"}}""")
    } catch {
      case e: Throwable =>
        errors("__scale_check") = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
        None
    }

    // Skew check (r10): the dedup family on the corpus it actually
    // exists for — 90% of rows sharing ONE hot key (a mega-duplicated
    // page / URL, a boilerplate line in every document). The r9 shapes
    // ranked the hot key inside a single WindowExec task; the r10
    // shapes are map-side-combined aggregations (keep-one) or
    // AQE-splittable join-backs (per-occurrence). `exact_window_sec`
    // times the replaced window shape inline for contrast, so the win
    // — and any future skew regression — stays measurable in one
    // artifact.
    val skewCheck: Option[String] = try {
      import spark.implicits._
      import org.apache.spark.sql.functions._
      def force(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.mode("overwrite").format("noop").save()
      def one(r: () => Unit): Double = {
        r() // warm-up, untimed
        val a = { val t = System.nanoTime(); r(); (System.nanoTime() - t) / 1e9 }
        val b = { val t = System.nanoTime(); r(); (System.nanoTime() - t) / 1e9 }
        math.min(a, b)
      }
      // 10M rows, 90% on ONE hot key: at 1M the old window shape was
      // within noise of the map-side shape (r10 verdict) — at 10M the
      // single WindowExec task visibly stalls, so a skew regression
      // shows in NUMBERS, not only in the plan asserts (DedupSkewSpec).
      val n = 10000000L
      val hotDocs = spark.range(n).select(
        $"id".as("doc_id"),
        when($"id" % 10 < 9, lit("the corpus-dominating duplicated page body"))
          .otherwise(concat(lit("unique page "), $"id")).as("text"))
      val exactSec = one(() => force(graft.ops.Dedup.dropExactDuplicates(hotDocs)))
      // the window CONTROL gets one timed sample (no warm-up repeats):
      // its cost is the 9M-row single-task sort, not JIT, and three
      // multi-minute control runs would dominate the whole bench
      val exactWindowSec = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(md5(graft.ops.Dedup.normalizeText($"text"))).orderBy($"doc_id")
        val t0 = System.nanoTime()
        force(hotDocs.withColumn("__rk", row_number().over(w))
          .filter($"__rk" === 1).drop("__rk"))
        (System.nanoTime() - t0) / 1e9
      }
      val lineDocs = spark.range(300000L).select(
        $"id".as("doc_id"),
        concat(lit("body "), $"id", lit("\nshared cookie banner\ntail "), $"id").as("text"))
      val lineSec = one(() => force(graft.ops.LineDedup.duplicatedLines(lineDocs)))
      val hotUrls = spark.range(n).select(
        $"id".as("doc_id"),
        when($"id" % 10 < 9, lit("https://hot.example.com/page?utm_source=x"))
          .otherwise(concat(lit("https://ok.example.org/p/"), $"id")).as("url"))
      val urlSec = one(() => force(graft.ops.UrlCuration.dedupByUrl(hotUrls)))
      Some(
        s"""{"rows":$n,"hot_share":0.9,""" +
        s""""exact_sec":${f"$exactSec%.3f"},""" +
        s""""exact_window_sec":${f"$exactWindowSec%.3f"},""" +
        s""""line_sec":${f"$lineSec%.3f"},""" +
        s""""url_sec":${f"$urlSec%.3f"}}""")
    } catch {
      case e: Throwable =>
        errors("__skew_check") = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
        None
    }

    // Index check: the serving-index queries (q_ann_pq, q_dedup_index,
    // q_neardup_index) time a BUILD+PROBE round trip, which buries the
    // number a serving deployment actually cares about — probe latency
    // against an already-built index. This block builds each index once
    // (timed) and then times the probe alone (min of 2 warm samples,
    // the steady-state figure).
    val indexCheck: Option[String] = try {
      import spark.implicits._
      def force(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.mode("overwrite").format("noop").save()
      def timed(r: () => Unit): Double = {
        val t0 = System.nanoTime(); r(); (System.nanoTime() - t0) / 1e9
      }
      def probeTimed(r: () => Unit): Double = {
        r() // warm-up
        math.min(timed(r), timed(r))
      }
      val tmp = System.getProperty("java.io.tmpdir")
      val tag = java.lang.Long.toHexString(sfDir.hashCode.toLong & 0xffffffffL)
      // ANN: full-corpus IVF+PQ build, 50-query topKPq probe
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val annDir = s"$tmp/graft_bench_ann_$tag"
      val annBuild = timed { () =>
        graft.ops.AnnIndex.build(e, annDir, nClusters = 16, iters = 5)
        graft.ops.AnnIndex.buildPq(spark, annDir, m = 16, codes = 32, iters = 5)
      }
      val q = e.filter($"vec_id" < 50)
      val annProbe = probeTimed(() =>
        force(graft.ops.AnnIndex.topKPq(spark, annDir, q, k = 10, nProbe = 8)))
      // Exact-dedup index: head 60% build, tail 40% probe
      val d = spark.read.parquet(s"$sfDir/documents.parquet")
      val dedupDir = s"$tmp/graft_bench_didx_$tag"
      val dedupTbl = s"graft_bench_didx_$tag"
      val dedupBuild = timed(() =>
        graft.ops.DedupIndex.build(d.filter($"doc_id" % 10 < 6), dedupDir, dedupTbl, nBuckets = 8))
      val dedupProbe = probeTimed(() =>
        force(graft.ops.DedupIndex.filterNew(spark, dedupTbl, d.filter($"doc_id" % 10 >= 6))))
      // BM25 lexical index: full-corpus build, 20-query top-10 probe
      // (the one-shot pays the corpus tokenize+aggregate per batch —
      // bm25_probe_sec vs q_bm25's time is the serving-tier payoff)
      val bmDir = s"$tmp/graft_bench_bmidx_$tag"
      val bmBuild = timed(() => graft.ops.Bm25Index.build(d, bmDir, nTb = 64))
      val bmQueries = {
        import org.apache.spark.sql.functions.{concat_ws, slice, split, trim}
        // FIXED batch size across scale points (doc_id < 5000 = the
        // sf0.1 shape): serving batches do not grow with the corpus,
        // so the 10x sweep measures corpus scaling at constant load.
        d.filter($"doc_id" % 25 === 0 && $"doc_id" < 5000)
          .select($"doc_id".as("query_id"),
            concat_ws(" ", slice(split(trim($"text"), "\\s+"), 1, 4)).as("text"))
          .localCheckpoint()
      }
      val bmProbe = probeTimed(() =>
        force(graft.ops.Bm25Index.topDocs(spark, bmDir, bmQueries, k = 10)))
      // Near-dup LSH index: same split, verified-pair probe
      val ndDir = s"$tmp/graft_bench_ndidx_$tag"
      val ndPfx = s"graft_bench_ndidx_$tag"
      val ndBuild = timed(() =>
        graft.ops.NearDupIndex.build(d.filter($"doc_id" % 10 < 6), ndDir, ndPfx, nBuckets = 8))
      val ndProbe = probeTimed(() =>
        force(graft.ops.NearDupIndex.probePairs(spark, ndPfx, d.filter($"doc_id" % 10 >= 6))))
      // Deep ANN serving anchor (opt-in): a 500k x 64-dim synthetic
      // index — 25x the sf0.1 corpus — probed by the same 50-query
      // batch size. The claim under test: probe cost is bounded by the
      // QUERY batch and the probed cells, not the corpus, so
      // deep_ann_probe_sec should sit near ann_probe_sec while
      // deep_ann_build_sec grows with the corpus. Training parameters
      // are the light tier (k=128/1 Lloyd round, m=8/16 codes/1 round):
      // a one-off 1M/k=256/m=16 run measured build at 1698 s — PQ
      // TRAINING is the corpus-pass-per-round cost (BENCH_NOTES §13) —
      // and probe at 2.69 s, the same flatness at 4x the anchor cost.
      val deepAnn =
        if (!sys.env.get("SPARK_GRAFT_DEEP_SCALE").contains("1")) ""
        else {
          import org.apache.spark.sql.functions.{array, hash, lit, pmod}
          val n = 500000L
          val dim = 64
          val comps = (0 until dim).map(dd =>
            ((pmod(hash($"id", lit(dd)), lit(2000)) - lit(1000)).cast("double") / 1000.0)
              .cast("float"))
          // MATERIALIZED before the build, like any real corpus (which
          // is parquet): fusing the 64-expression generator into the
          // per-row kernels' stage drops the whole stage out of
          // codegen and runs ~70x slower (BENCH_NOTES §13's cliff —
          // 430 s for an assignment pass that takes seconds from
          // materialized input).
          val deepVecs = spark.range(n)
            .select($"id".as("vec_id"), array(comps: _*).as("embedding"))
            .localCheckpoint()
          val deepDir = s"$tmp/graft_bench_ann_deep_$tag"
          val deepBuild = timed { () =>
            graft.ops.AnnIndex.build(deepVecs, deepDir, nClusters = 128, iters = 1, nTotal = n)
            graft.ops.AnnIndex.buildPq(spark, deepDir, m = 8, codes = 16, iters = 1)
          }
          val dq = deepVecs.filter($"vec_id" < 50)
          val deepProbe = probeTimed(() =>
            force(graft.ops.AnnIndex.topKPq(spark, deepDir, dq, k = 10, nProbe = 8)))
          // Compact-at-cell-count anchor: a 1024-cell index over the
          // same corpus, every cell fragmented by the build's 8-way
          // salt. The retired per-cell compact ran one Spark job per
          // cell (1024 sequential driver jobs here); the single-job
          // rewrite's cost must track the DATA, not the cell count —
          // compare deep_compact_sec against deep_ann_build_sec, not
          // against the cell count.
          val cmpDir = s"$tmp/graft_bench_ann_cmp_$tag"
          graft.ops.AnnIndex.build(deepVecs, cmpDir, nClusters = 1024, iters = 1, nTotal = n)
          val deepCompact = timed(() => graft.ops.AnnIndex.compact(spark, cmpDir))
          // Deep BM25 serving anchor: the corpus grows 10x (crossJoin
          // replication, BENCH_NOTES §7 discipline), the query batch
          // stays FIXED — the standing series for the MaxScore claim
          // that probe cost tracks the batch, not the corpus. The
          // exhaustive control (prune = false) prices what the probe
          // would cost without dynamic pruning, in the same artifact.
          val deepDocs = d
            .select($"doc_id", $"text")
            .crossJoin(spark.range(10).select($"id".as("__c")))
            .select(($"doc_id" + $"__c" * 10000000L).as("doc_id"), $"text")
            .localCheckpoint()
          val deepDocCount = deepDocs.count()
          val bmDeepDir = s"$tmp/graft_bench_bm_deep_$tag"
          val deepBmBuild = timed(() =>
            graft.ops.Bm25Index.build(deepDocs, bmDeepDir, nTb = 64))
          val deepBmProbe = probeTimed(() =>
            force(graft.ops.Bm25Index.topDocs(spark, bmDeepDir, bmQueries, k = 10)))
          val deepBmExhaustive = probeTimed(() =>
            force(graft.ops.Bm25Index.topDocs(spark, bmDeepDir, bmQueries, k = 10,
              prune = false)))
          // Zipf BM25 anchor: the testdata corpus has a ~30-term
          // near-uniform vocabulary, so EVERY query term genuinely
          // competes and MaxScore's adaptive gate (correctly) picks the
          // exhaustive path above — term-level pruning has nothing to
          // skip there. Real text is Zipf: common terms own most of the
          // postings at near-zero idf. This anchor builds that shape
          // (500k docs; 3 ubiquitous terms + 2 mid of 50 + 2 rare of
          // 100k per doc) and probes a fixed 200-query common+mid+rare
          // batch — the workload class dynamic pruning exists for. The
          // exhaustive control (single timed sample — it is the
          // expensive side being priced) shows what the same batch
          // costs scoring every posting of the common terms.
          val zn = 500000L
          val zipfDocs = Bm25Corpora.zipfDocs(spark, zn)
          val zipfQueries = Bm25Corpora.zipfQueries(spark)
          val zipfDir = s"$tmp/graft_bench_bm_zipf_$tag"
          val zipfBuild = timed(() =>
            graft.ops.Bm25Index.build(zipfDocs, zipfDir, nTb = 64, blockMax = true))
          val zipfProbe = probeTimed(() =>
            force(graft.ops.Bm25Index.topDocs(spark, zipfDir, zipfQueries, k = 10)))
          val zipfExhaustive = timed(() =>
            force(graft.ops.Bm25Index.topDocs(spark, zipfDir, zipfQueries, k = 10,
              prune = false)))
          // Zipf SCALING pair: the same shape at 10x the docs, pruned
          // path only (the exhaustive side is priced at 500k above —
          // at 5M it would be ~2000 s of pure control). The standing
          // series for the 100x question: zipf10x/zipf ratio must sit
          // far below the 10x corpus growth, because the pruned
          // probe's work tracks the ESSENTIAL (rare-term) postings,
          // not the corpus.
          val zn2 = 5000000L
          val zipfDocs2 = Bm25Corpora.zipfDocs(spark, zn2)
          val zipfDir2 = s"$tmp/graft_bench_bm_zipf10_$tag"
          val zipfBuild2 = timed(() =>
            graft.ops.Bm25Index.build(zipfDocs2, zipfDir2, nTb = 64, blockMax = true))
          val zipfProbe2 = probeTimed(() =>
            force(graft.ops.Bm25Index.topDocs(spark, zipfDir2, zipfQueries, k = 10)))
          // Moderate-skew anchor (the Block-Max workload): mid-df terms
          // whose GLOBAL bound one spam outlier inflates ~2.2x, queries
          // of 7 mids + 1 rare. Term-level MaxScore demotes only ~3/7
          // mids (the r13 gate correctly routed these exhaustive);
          // per-block bounds demote all 7 in every spam-free block.
          // Three timings: the block-pruned path, the term-level path
          // (split budget forced to one virtual block), and the
          // exhaustive control (single sample — it is the expensive
          // side being priced).
          val mn = 1000000L
          val modDocs = Bm25Corpora.modskewDocs(spark, mn, mn / 70L)
          val modQueries = Bm25Corpora.modskewQueries(spark)
          val modDir = s"$tmp/graft_bench_bm_mod_$tag"
          val modBuild = timed(() =>
            graft.ops.Bm25Index.build(modDocs, modDir, nTb = 64, blockMax = true))
          val modProbe = probeTimed(() =>
            force(graft.ops.Bm25Index.topDocs(spark, modDir, modQueries, k = 10)))
          // single sample: the term-level probe routes exhaustive here
          // (that IS the r13 claim being priced) — three multi-minute
          // control runs would dominate the whole deep section
          val modTermLevel = {
            val old = graft.ops.Bm25Index.BlockSplitMaxPairs
            graft.ops.Bm25Index.BlockSplitMaxPairs = 0L
            try timed(() =>
              force(graft.ops.Bm25Index.topDocs(spark, modDir, modQueries, k = 10)))
            finally graft.ops.Bm25Index.BlockSplitMaxPairs = old
          }
          val modExhaustive = timed(() =>
            force(graft.ops.Bm25Index.topDocs(spark, modDir, modQueries, k = 10,
              prune = false)))
          // Moderate-skew SCALING pair (1M -> 10M docs), the zipf10x
          // mirror for the block-level win: same shape and the same
          // FIXED query batch, pruned path only (the exhaustive
          // control is priced at 1M above — at 10M it would be
          // ~2000 s of pure control). The spam cadence scales with
          // the corpus (one spam doc per ~14k clean docs either way);
          // the rare vocabulary stays fixed, so the essential (rare +
          // per-block-surviving) postings grow linearly and the
          // honest question is how far below 10x the probe stays.
          val mn2 = 10000000L
          val modDocs2 = Bm25Corpora.modskewDocs(spark, mn2, mn2 / 700L)
          val modDir2 = s"$tmp/graft_bench_bm_mod10_$tag"
          val modBuild2 = timed(() =>
            graft.ops.Bm25Index.build(modDocs2, modDir2, nTb = 64, blockMax = true))
          val modProbe2 = probeTimed(() =>
            force(graft.ops.Bm25Index.topDocs(spark, modDir2, modQueries, k = 10)))
          s""""deep_ann_rows":$n,"deep_ann_build_sec":${f"$deepBuild%.3f"},""" +
          s""""deep_ann_probe_sec":${f"$deepProbe%.3f"},""" +
          s""""deep_compact_cells":1024,"deep_compact_sec":${f"$deepCompact%.3f"},""" +
          s""""deep_bm25_docs":$deepDocCount,""" +
          s""""deep_bm25_build_sec":${f"$deepBmBuild%.3f"},""" +
          s""""deep_bm25_probe_sec":${f"$deepBmProbe%.3f"},""" +
          s""""deep_bm25_probe_exhaustive_sec":${f"$deepBmExhaustive%.3f"},""" +
          s""""zipf_bm25_docs":$zn,""" +
          s""""zipf_bm25_build_sec":${f"$zipfBuild%.3f"},""" +
          s""""zipf_bm25_probe_pruned_sec":${f"$zipfProbe%.3f"},""" +
          s""""zipf_bm25_probe_exhaustive_sec":${f"$zipfExhaustive%.3f"},""" +
          s""""zipf10x_bm25_docs":$zn2,""" +
          s""""zipf10x_bm25_build_sec":${f"$zipfBuild2%.3f"},""" +
          s""""zipf10x_bm25_probe_pruned_sec":${f"$zipfProbe2%.3f"},""" +
          s""""zipf_probe_scaling_ratio":${f"${zipfProbe2 / zipfProbe}%.2f"},""" +
          s""""modskew_bm25_docs":$mn,""" +
          s""""modskew_bm25_build_sec":${f"$modBuild%.3f"},""" +
          s""""modskew_probe_pruned_sec":${f"$modProbe%.3f"},""" +
          s""""modskew_probe_term_level_sec":${f"$modTermLevel%.3f"},""" +
          s""""modskew_probe_exhaustive_sec":${f"$modExhaustive%.3f"},""" +
          s""""modskew10x_bm25_docs":$mn2,""" +
          s""""modskew10x_bm25_build_sec":${f"$modBuild2%.3f"},""" +
          s""""modskew10x_probe_pruned_sec":${f"$modProbe2%.3f"},""" +
          s""""modskew_probe_scaling_ratio":${f"${modProbe2 / modProbe}%.2f"},"""
        }
      Some(
        s"""{"ann_build_sec":${f"$annBuild%.3f"},"ann_probe_sec":${f"$annProbe%.3f"},""" +
        deepAnn +
        s""""dedup_build_sec":${f"$dedupBuild%.3f"},"dedup_probe_sec":${f"$dedupProbe%.3f"},""" +
        s""""bm25_build_sec":${f"$bmBuild%.3f"},"bm25_probe_sec":${f"$bmProbe%.3f"},""" +
        s""""neardup_build_sec":${f"$ndBuild%.3f"},"neardup_probe_sec":${f"$ndProbe%.3f"}}""")
    } catch {
      case e: Throwable =>
        errors("__index_check") = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
        None
    }

    // Pipeline materialization: events -> summary/landmark tables.
    // The headline ingest figure gets the SAME multi-sample treatment
    // as the per-query timings (r6's single sample read 95.6 s on a
    // loaded sandbox vs 19.6 s in r5 — indistinguishable from a real
    // regression): three cache-BYPASSING materializations, report the
    // median plus relative spread. The cached query-phase tables are
    // built once afterwards, untimed. A failure must still produce the
    // JSON line (with an error entry), never a bare crash.
    var rawRows = 0L
    var windowRows = 0L
    val ingestSamples = collection.mutable.ArrayBuffer.empty[Double]
    try {
      // One untimed REAL-DATA pass first: the synthetic warm-up above
      // compiles the codegen but the first pass over the actual parquet
      // still pays footer reads + OS page-cache fill, which showed up
      // as a ~2x spread on the first timed sample. All three timed
      // samples below are steady-state.
      SparkEntry.materializeUncached(spark, sfDir)
      // Seven timed samples, trimmed mean (drop min and max): at the
      // steady-state ~1 s/sample this costs seconds, and two
      // consecutive no-change bench runs now agree well within 25% —
      // a median of 3 still jittered ~40% at this timescale.
      var i = 0
      while (i < 7) {
        val t0 = System.nanoTime()
        val (r, w) = SparkEntry.materializeUncached(spark, sfDir)
        ingestSamples += (System.nanoTime() - t0) / 1e9
        rawRows = r; windowRows = w
        i += 1
      }
      SparkEntry.materialize(spark, sfDir)
    } catch {
      case e: Throwable =>
        errors("__materialize") = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
    }
    val ingestSorted = ingestSamples.toArray.sorted
    val ingestKept =
      if (ingestSorted.length >= 5) ingestSorted.slice(1, ingestSorted.length - 1)
      else ingestSorted
    val ingestSec =
      if (ingestKept.nonEmpty) ingestKept.sum / ingestKept.length
      else 0.0
    val ingestSpread =
      if (ingestKept.nonEmpty && ingestSec > 0) (ingestKept.last - ingestKept.head) / ingestSec
      else 0.0
    val rowsPerSec = if (ingestSec > 0) rawRows / ingestSec else 0.0
    val compression = if (windowRows > 0) rawRows.toDouble / windowRows else 0.0
    // Stable timing protocol v2: deterministic (sorted) query order; one
    // untimed warm-up execution (first-touch parquet footers, codegen
    // compilation, persisted-table materialization); then INTERLEAVED
    // timed rounds — round r times every query that still needs samples,
    // so a machine-wide noise burst (shared sandbox) lands on at most
    // one sample per query instead of on all of a query's back-to-back
    // runs (which is how r5 saw 7x swings on identical code). Sub-second
    // queries take 7 samples, heavier ones 3; reported figure is the
    // trimmed mean (drop min and max at >= 5 samples, else the median),
    // and per-query relative spread of the kept samples goes out in
    // "spread" so a regression alarm can be noise-adjusted.
    val spreads = collection.mutable.LinkedHashMap.empty[String, Double]
    val samples = collection.mutable.LinkedHashMap.empty[String, collection.mutable.ArrayBuffer[Double]]
    val repsWanted = collection.mutable.HashMap.empty[String, Int]
    def timeOne(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
    val ok = sorted.filter { case (name, fn) =>
      try { fn(spark, sfDir).count(); true } // warm-up, untimed
      catch {
        case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          false
      }
    }
    ok.foreach { case (name, fn) =>
      val t = timeOne(fn)
      samples(name) = collection.mutable.ArrayBuffer(t)
      repsWanted(name) = if (t < 1.0) 7 else 3
    }
    for (round <- 2 to 7; (name, fn) <- ok if repsWanted.getOrElse(name, 0) >= round)
      try samples(name) += timeOne(fn)
      catch {
        case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          repsWanted(name) = 0
      }
    ok.foreach { case (name, _) =>
      val s = samples(name).toArray.sorted
      if (s.nonEmpty && !errors.contains(name)) {
        val kept = if (s.length >= 5) s.slice(1, s.length - 1) else s
        val v = if (s.length >= 5) kept.sum / kept.length else s(s.length / 2)
        timings(name) = v
        spreads(name) = if (v > 0) (kept.last - kept.head) / v else 0.0
      }
    }

    // Big-stream anchor: one synthetic 1M-element stream summarizes at
    // full pipeline throughput (no per-stream overhead), shows the
    // N -> O(log N) compression the engine exists for.
    val (bigRowsPerSec, bigWindows, bigSpread) = {
      import spark.implicits._
      import org.apache.spark.sql.functions.lit
      val n = 1000000L
      val events = spark.range(n)
        .select($"id".as("seq"), $"id".as("ts"), ($"id" % 97).cast("double").as("value"))
        .withColumn("streamId", lit(999L))
        .as[graft.core.Event]
      def run(): (Double, Long) = {
        val t0 = System.nanoTime()
        val w = graft.core.Summarizer
          .summarize(events, graft.windowing.ExponentialWindowing(2.0)).count()
        ((System.nanoTime() - t0) / 1e9, w)
      }
      run() // warm-up, untimed
      val runs = Array.fill(3)(run())
      val secs = runs.map(_._1).sorted
      val sec = secs(1)
      (n / sec, runs.head._2, if (sec > 0) (secs(2) - secs(0)) / sec else 0.0)
    }

    val qs = timings.map { case (k, v) => s"${jq(k)}:$v" }.mkString("{", ",", "}")
    val sp = spreads.map { case (k, v) => s"${jq(k)}:${f"$v%.4f"}" }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s"${jq(k)}:${jq(v)}" }.mkString("{", ",", "}")
    // The harness that captures this line keeps only its LAST ~2000
    // characters, which used to leave nothing but the spread map
    // visible — per-query SPREADS were then read as per-query TIMES
    // (a 0.03 "time" for a 10 s k-means query). Two defenses: the
    // full JSON also goes to bench_full_c<cpus>.json next to the run, and the
    // tail end of the line carries a queries_slowest map with the
    // real timings that matter for regression reading.
    val slowest = timings.toSeq.sortBy(-_._2).take(12)
      .map { case (k, v) => s"${jq(k)}:${f"$v%.3f"}" }.mkString("{", ",", "}")
    val total = ingestSec + timings.values.sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$sp,""" +
      s""""queries_slowest":$slowest,""" +
      s""""errors":$es,"ingest_sec":$ingestSec,"ingest_spread":${f"$ingestSpread%.4f"},""" +
      s""""ingest_rows_per_sec":$rowsPerSec,""" +
      s""""raw_rows":$rawRows,"summary_windows":$windowRows,"compression_ratio":$compression,""" +
      s""""big_stream_rows_per_sec":$bigRowsPerSec,"big_stream_windows":$bigWindows,""" +
      s""""big_stream_spread":${f"$bigSpread%.4f"},""" +
      scaleCheck.map(sc => s""""scale_check":$sc,""").getOrElse("") +
      skewCheck.map(sc => s""""skew_check":$sc,""").getOrElse("") +
      indexCheck.map(ic => s""""index_check":$ic,""").getOrElse("") +
      s""""sf":${jq(sfDir)}}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(fullFile),
      line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Throwable => () } // reporting must never fail the bench
    println(line)
    println(digest(
      s""""metric":"total","value":$total,"unit":"sec","queries":$slowest,""" +
      s""""queries_all_in":${jq(fullFile)},"n_queries":${timings.size},""" +
      s""""ingest_sec":${f"$ingestSec%.4f"},""" +
      s""""ingest_rows_per_sec":${rowsPerSec.toLong},""" +
      s""""raw_rows":$rawRows,"summary_windows":$windowRows,""" +
      s""""compression_ratio":${f"$compression%.6f"},""" +
      s""""big_stream_rows_per_sec":${bigRowsPerSec.toLong},""" +
      s""""big_stream_windows":$bigWindows""",
      errors,
      List(
        skewCheck.map(sc => s""""skew_check":$sc"""),
        scaleCheck.map(sc => s""""scale_check":$sc"""),
        // index_check can carry the (opt-in) deep-scale fields: too long
        // for the digest, so cap it rather than drop the whole block
        indexCheck.filter(_.length <= 400).map(ic => s""""index_check":$ic""")).flatten,
      sfDir))
    spark.stop()
  }
}

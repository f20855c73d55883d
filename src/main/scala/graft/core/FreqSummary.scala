package graft.core

import graft.functions.Sketches
import graft.windowing.WindowingSpec
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Windowed membership/frequency summaries: each decay window carries a
  * Bloom filter and a count-min sketch over its values — the bloom/cms
  * per-window operators the reference DECLARES but never implements
  * (`/root/reference/protos/summarydb.capnp:6-13`, `README.md:27-28`),
  * completing the [[DistinctSummary]] pattern. Both sketches are
  * mergeable monoids (bit-OR / cell-wise add), so decay re-coarsening
  * ([[Compactor.recoarsen]]) and query-time range union follow the
  * same shapes as count/sum/max:
  *
  *   - "did key X appear in [t0, t1]?"  → union the overlapping
  *     windows' blooms, probe once — O(log N) rows read, no false
  *     negatives ever (the bloom guarantee survives merges because the
  *     union's bit set is a superset of every member's).
  *   - "how often did X appear in [t0, t1]?" → union the CMS sketches,
  *     estimate — one-sided error, `exact <= est <= exact + eps·N` at
  *     the configured confidence (counter arrays add cell-wise, so the
  *     merged sketch IS the sketch of the concatenated windows).
  *
  * Sketch sizing is a TABLE-LEVEL constant: `mergeInPlace` (both kinds)
  * requires identical geometry, so every window of a table — across
  * builds, appends, and re-coarsenings — is created with the same
  * ([[ExpectedItems]], [[Fpp]]) / ([[Eps]], [[Confidence]]) constants,
  * which size a window for ~4k distinct members at 1% error.
  */
object FreqSummary {

  /** Default per-window Bloom capacity (items) and false-positive rate. */
  val ExpectedItems = 4096L
  val Fpp = 0.01

  /** Default CMS relative error and confidence (width 2/eps, depth
    * log2(1/(1-conf)) — ~200x7 longs at these values).
    */
  val Eps = 0.01
  val Confidence = 0.99

  /** Default Misra-Gries candidate capacity: any key with range
    * frequency > N/(capacity+1) is guaranteed a candidate slot in at
    * least one overlapping window (pigeonhole over the window
    * partition), and MG merges preserve the bound (Agarwal et al.,
    * PODS 2012).
    */
  val MgCapacity = 64

  /** The bloom + CMS + Misra-Gries window kind. Values enter via
    * [[DistinctSummary.canonicalValue]] so -0.0/0.0 stay one key and
    * probes use the same canonical form. Bloom/CMS have no sparse mode,
    * so an append aggregates at the post-append canonical partition —
    * per-element windows would write one ~16 KB sketch pair per element.
    */
  val Kind: SummaryKind = {
    val v = DistinctSummary.canonicalValue(col("value"))
    SummaryKind("freq_sketches",
      elementAggs = Seq(
        Sketches.bloomAgg(v, ExpectedItems, Fpp).as("bloom"),
        Sketches.cmsAgg(v, Eps, Confidence).as("cms"),
        Sketches.mgAgg(v, MgCapacity).as("cand")),
      mergeAggs = Seq(
        Sketches.bloomUnionAgg(col("bloom")).as("bloom"),
        Sketches.cmsUnionAgg(col("cms")).as("cms"),
        Sketches.mgUnionAgg(col("cand"), MgCapacity).as("cand")),
      delta = SummaryKind.AtCount,
      rewrite = Some(graft.plans.SummaryRewrite.Pairing.Freq))
  }

  /** Sketch table (streamId, ts, te, cs, ce, bloom, cms, cand) over one
    * decay policy.
    */
  def summarize(
      events: Dataset[Event],
      spec: WindowingSpec,
      bufferSize: Long = 0L): DataFrame =
    Kind.summarize(events, _ => spec, bufferSize)

  /** Per-stream union of the window blooms overlapping [t0, t1],
    * probed for `keys` (canonical string form): (stream_id, key,
    * might_contain). The overlap predicate pushes down to the sketch
    * scan like every range query; each merged filter deserializes ONCE
    * for all keys.
    */
  def rangeMightContain(
      sketches: DataFrame,
      keys: Seq[String],
      t0: Long = Long.MinValue,
      t1: Long = Long.MaxValue): DataFrame = {
    val spark = sketches.sparkSession
    import spark.implicits._
    val ks = keys
    val probe = udf((b: Array[Byte]) =>
      if (b == null) ks.map((_, false)) else Sketches.mightContainAll(b, ks))
    sketches
      .filter($"te" >= t0 && $"ts" <= t1)
      .groupBy($"streamId")
      .agg(Sketches.bloomUnionAgg($"bloom").as("bf"))
      .select($"streamId".as("stream_id"), explode(probe($"bf")).as("kv"))
      .select($"stream_id", $"kv._1".as("key"), $"kv._2".as("might_contain"))
  }

  /** Per-stream union of the window CMS sketches overlapping [t0, t1],
    * estimated for `keys`: (stream_id, key, est_cnt). Over a range that
    * partially overlaps edge windows the estimate covers the whole edge
    * windows (windows are the storage resolution — the sum estimator's
    * proration semantics); over the whole stream it bounds the exact
    * count from above by eps·N.
    */
  def rangeFreqEstimate(
      sketches: DataFrame,
      keys: Seq[String],
      t0: Long = Long.MinValue,
      t1: Long = Long.MaxValue): DataFrame = {
    val spark = sketches.sparkSession
    import spark.implicits._
    val ks = keys
    val probe = udf((b: Array[Byte]) =>
      if (b == null) ks.map((_, 0L)) else Sketches.cmsEstimateAll(b, ks))
    sketches
      .filter($"te" >= t0 && $"ts" <= t1)
      .groupBy($"streamId")
      .agg(Sketches.cmsUnionAgg($"cms").as("s"))
      .select($"streamId".as("stream_id"), explode(probe($"s")).as("kv"))
      .select($"stream_id", $"kv._1".as("key"), $"kv._2".as("est_cnt"))
  }

  /** Approximate heavy hitters over [t0, t1] — the windowed face of the
    * reference's declared `freq` op: union the overlapping windows'
    * Misra-Gries candidate maps (any key with range frequency
    * > N/(MgCapacity+1) is guaranteed present — pigeonhole over windows
    * plus the mergeable-summaries bound), then score each candidate
    * against the merged CMS (deterministic, one-sided error) and keep
    * the top `k`: (stream_id, key, est_cnt, rank). O(log N) sketch rows
    * read; candidate cardinality is bounded by MgCapacity regardless of
    * the key domain.
    */
  def rangeHeavyHitters(
      sketches: DataFrame,
      k: Int,
      t0: Long = Long.MinValue,
      t1: Long = Long.MaxValue): DataFrame = {
    val spark = sketches.sparkSession
    import spark.implicits._
    val probe = udf((s: Array[Byte], cand: Map[String, Long]) =>
      if (s == null || cand == null || cand.isEmpty) Seq.empty[(String, Long)]
      else Sketches.cmsEstimateAll(s, cand.keys.toSeq))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"stream_id").orderBy($"est_cnt".desc, $"key")
    sketches
      .filter($"te" >= t0 && $"ts" <= t1)
      .groupBy($"streamId")
      .agg(
        Sketches.mgUnionAgg($"cand", MgCapacity).as("cand"),
        Sketches.cmsUnionAgg($"cms").as("s"))
      .select($"streamId".as("stream_id"), explode(probe($"s", $"cand")).as("kv"))
      .select($"stream_id", $"kv._1".as("key"), $"kv._2".as("est_cnt"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
  }

  /** Self-checking freq contract through the decay-merge path: every
    * EXACT-heavy key (> [[HeavyFrac]] of its stream — above the MG floor
    * 1/(MgCapacity+1) = ~1.54%) must surface in the merged candidate map
    * with a CMS estimate in [exact, exact + ceil(Eps·N)]. Output
    * (stream_id, n_heavy, n_missing_candidates, n_out_of_bounds); the
    * oracle recomputes n_heavy from exact data and asserts the zeros.
    */
  def freqContract(events: Dataset[Event], spec: WindowingSpec): DataFrame =
    freqContractFrom(Kind.throughMerge(events, spec), events)

  /** Heaviness cut of [[freqContract]]: above the Misra-Gries floor. */
  private val HeavyFrac = 0.02

  /** [[freqContract]] over a prebuilt sketch table. */
  def freqContractFrom(table: DataFrame, events: Dataset[Event]): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val merged = table
      .groupBy($"streamId")
      .agg(
        Sketches.mgUnionAgg($"cand", MgCapacity).as("cand"),
        Sketches.cmsUnionAgg($"cms").as("s"))
    val heavy = events
      .groupBy($"streamId", DistinctSummary.canonicalValue($"value").as("key"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("n", sum($"cnt").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"streamId")))
      .filter($"cnt" > $"n" * HeavyFrac)
      .groupBy($"streamId")
      .agg(
        map_from_entries(collect_list(struct($"key", $"cnt"))).as("exact"),
        first($"n").as("n"))
    val audit = udf((cand: Map[String, Long], s: Array[Byte], exact: Map[String, Long], n: Long) => {
      val bound = math.ceil(Eps * n).toLong
      val missing = exact.keys.count(k => cand == null || !cand.contains(k)).toLong
      val oob =
        if (s == null) exact.size.toLong
        else Sketches.cmsEstimateAll(s, exact.keys.toSeq).count { case (k, est) =>
          est < exact(k) || est > exact(k) + bound
        }.toLong
      (missing, oob)
    })
    merged.join(heavy, "streamId")
      .select($"streamId".as("stream_id"), size($"exact").cast("long").as("n_heavy"),
        audit($"cand", $"s", $"exact", $"n").as("a"))
      .select($"stream_id", $"n_heavy",
        $"a._1".as("n_missing_candidates"), $"a._2".as("n_out_of_bounds"))
  }

  /** Self-checking bloom contract (the `q_approx_distinct` pattern),
    * routed THROUGH a decay merge ([[SummaryKind.throughMerge]] — every
    * moved boundary is a real merge of sketches), the per-stream union
    * is probed for every value the
    * stream actually contains, and the output counts misses:
    * (stream_id, n_present, n_missed). A bloom filter has NO false
    * negatives, and unions only set more bits — n_missed must be 0 for
    * every stream, and n_present must equal the oracle's exact
    * count-distinct (pinning the probe plumbing, not just the
    * guarantee).
    */
  def bloomContract(events: Dataset[Event], spec: WindowingSpec): DataFrame =
    bloomContractFrom(Kind.throughMerge(events, spec), events)

  /** Probe-set chunking for the audit contracts: distinct keys are
    * grouped into `pmod(xxhash64(key), ContractChunks)` buckets before
    * any `collect_list`, so no single row ever holds a stream's whole
    * key set — at C chunks a stream of D distinct keys costs C rows of
    * ~D/C keys each (bounded for any realistic D), instead of one
    * unbounded map/array row that OOMs on a high-cardinality stream.
    * Per-chunk sketch deserialization also drops from per-key to
    * per-chunk.
    */
  private val ContractChunks = 1024

  /** [[bloomContract]] over a prebuilt (typically cached) sketch table
    * — several contracts share one [[SummaryKind.throughMerge]]
    * materialization.
    */
  def bloomContractFrom(table: DataFrame, events: Dataset[Event]): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val merged = table
      .groupBy($"streamId")
      .agg(Sketches.bloomUnionAgg($"bloom").as("bf"))
    val missed = udf((b: Array[Byte], ks: Seq[String]) =>
      if (b == null) ks.size.toLong
      else Sketches.mightContainAll(b, ks).count(!_._2).toLong)
    val present = events
      .select($"streamId", DistinctSummary.canonicalValue($"value").as("key"))
      .distinct()
      .groupBy($"streamId", pmod(xxhash64($"key"), lit(ContractChunks)).as("chunk"))
      .agg(collect_set($"key").as("keys"))
    merged.join(present, "streamId")
      .select($"streamId", size($"keys").cast("long").as("np"), missed($"bf", $"keys").as("nm"))
      .groupBy($"streamId".as("stream_id"))
      .agg(sum($"np").as("n_present"), sum($"nm").as("n_missed"))
  }

  /** Self-checking CMS contract through the same decay-merge path:
    * every value's estimate from the per-stream union of RE-COARSENED
    * window sketches must sit in [exact, exact + ceil(Eps·N)] —
    * (stream_id, n_keys, n_events, n_out_of_bounds). One-sided error
    * makes the lower bound deterministic; the upper bound holds at the
    * configured confidence with a fixed seed, so the output is
    * reproducible for the oracle (n_out_of_bounds must read 0).
    */
  def cmsContract(events: Dataset[Event], spec: WindowingSpec): DataFrame =
    cmsContractFrom(Kind.throughMerge(events, spec), events)

  /** [[cmsContract]] over a prebuilt sketch table. Every key is still
    * audited; the exact counts reach the probe as [[ContractChunks]]
    * bounded chunk rows, never one per-stream map (a map of ALL
    * distinct keys is the OOM shape `freqContract`'s [[HeavyFrac]] cut
    * avoids — this contract can't cut, so it chunks).
    */
  def cmsContractFrom(table: DataFrame, events: Dataset[Event]): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val merged = table
      .groupBy($"streamId")
      .agg(Sketches.cmsUnionAgg($"cms").as("s"))
    val keyCounts = events
      .groupBy($"streamId", DistinctSummary.canonicalValue($"value").as("key"))
      .agg(count(lit(1)).as("cnt"))
    val totals = keyCounts.groupBy($"streamId").agg(sum($"cnt").as("n"))
    // Parallel key/cnt arrays from ONE collect_list of structs (field
    // extraction preserves the element order, unlike two independent
    // collect_list aggregates, whose order Spark does not contract).
    val chunked = keyCounts
      .groupBy($"streamId", pmod(xxhash64($"key"), lit(ContractChunks)).as("chunk"))
      .agg(collect_list(struct($"key", $"cnt")).as("kc"))
      .select($"streamId", $"kc.key".as("keys"), $"kc.cnt".as("cnts"))
    val oob = udf((s: Array[Byte], keys: Seq[String], cnts: Seq[Long], n: Long) =>
      if (s == null) keys.size.toLong
      else {
        val bound = math.ceil(Eps * n).toLong
        val est = Sketches.cmsEstimateAll(s, keys).iterator.map(_._2)
        cnts.iterator.zip(est).count { case (ex, es) => es < ex || es > ex + bound }.toLong
      })
    merged.join(chunked, "streamId").join(totals, "streamId")
      .select($"streamId", size($"keys").cast("long").as("nk"), $"n",
        oob($"s", $"keys", $"cnts", $"n").as("noob"))
      .groupBy($"streamId".as("stream_id"))
      .agg(sum($"nk").as("n_keys"), first($"n").as("n_events"), sum($"noob").as("n_out_of_bounds"))
  }
}

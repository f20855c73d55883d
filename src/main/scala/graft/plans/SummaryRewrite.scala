package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{element_at, lit, round, when}
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.SparkSessionExtensions

/** Transparent materialized-summary rewrite — the Catalyst analogue of
  * the reference's core promise (query the O(log N) summary instead of
  * the N raw elements), expressed as an optimizer `Rule[LogicalPlan]`.
  *
  * A registered raw-events parquet location is paired with its decayed
  * `summary_windows` parquet. Full-stream aggregates over the raw
  * relation —
  *
  *   events.groupBy("streamId").agg(count/sum/min/max/avg of value)
  *   events.agg(count/sum/min/max/avg of value)       // global, no grouping
  *
  * optionally under a streamId-only filter — are EXACT on the summary
  * table (every element is in exactly one window; count/sum/max/min are
  * monoid-merged per window), so the rule rewrites the scan to the
  * summary relation and remaps the aggregates:
  *
  *   count(*)    -> cast(sum(count) as long)
  *   sum(value)  -> sum(sum)
  *   max(value)  -> max(max)        min(value) -> min(min)
  *   avg(value)  -> sum(sum) / sum(count)
  *
  * Anything else — time-range predicates (approximate on summaries, so
  * never silently substituted), other grouping keys, other aggregate
  * functions — is left untouched. Output names, exprIds and order are
  * preserved, so parent operators resolve unchanged.
  *
  * Register via `spark.sql.extensions=graft.plans.GraftExtensions` (new
  * sessions) or [[SummaryRewrite.install]] (an existing session, through
  * `spark.experimental.extraOptimizations`); pair tables with
  * [[SummaryRewrite.register]].
  */
object SummaryRewrite {

  /** Which summary table a raw-events relation is paired with; each
    * pairing is answered by its own rewrite below.
    */
  sealed trait Pairing
  object Pairing {
    /** `summary_windows` (count/sum/min/max/avg, exact). */
    case object Summary extends Pairing
    /** [[graft.core.DistinctSummary]] HLL sketches (approximate mode). */
    case object Distinct extends Pairing
    /** [[graft.core.FreqSummary]] CMS count rewrite (approximate mode). */
    case object Freq extends Pairing
    /** [[graft.core.QuantileSummary]] percentiles (approximate mode). */
    case object Quantile extends Pairing
  }

  // (pairing, normalized events root-path SET) -> table files. Keyed by
  // the full set (not a prefix): a relation is rewritten only when it
  // scans EXACTLY the registered batch directories — a query over a
  // subset of batches is not a full-stream aggregate and must never
  // silently become one. One map for every pairing, so [[clear]] cannot
  // miss one. JVM-wide: rules constructed by different sessions see the
  // same pairings.
  private val registry = new ConcurrentHashMap[(Pairing, Set[String]), Seq[String]]()

  private def norm(p: String): String = new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** Pair a MULTI-DIRECTORY events relation (e.g. a store's committed
    * batch dirs) with its `pairing` table, read from `tablePaths` (a
    * directory, or a table version's files); replaces any previous
    * registration with the same key returned, so a store can re-register
    * after each append.
    */
  def registerSet(
      eventsPaths: Seq[String],
      tablePaths: Seq[String],
      pairing: Pairing = Pairing.Summary): Set[String] = {
    val key = eventsPaths.map(norm).toSet
    registry.put((pairing, key), tablePaths.map(norm))
    dfCache.clear() // pairings changed — cached summary plans may be stale
    key
  }

  def unregisterSet(key: Set[String], pairing: Pairing = Pairing.Summary): Unit = {
    registry.remove((pairing, key))
    dfCache.clear()
  }

  def clear(): Unit = { registry.clear(); dfCache.clear() }

  /** Pair a raw-events parquet location with its summary parquet. */
  def register(eventsPath: String, summaryPath: String): Unit = {
    registerSet(Seq(eventsPath), Seq(summaryPath)); ()
  }

  def unregister(eventsPath: String): Unit = unregisterSet(Set(norm(eventsPath)))

  /** Pair a raw-events location with its [[graft.core.DistinctSummary]]
    * sketch parquet, enabling the distinct-count rewrite.
    */
  def registerDistinct(eventsPath: String, sketchPath: String): Unit = {
    registerSet(Seq(eventsPath), Seq(sketchPath), Pairing.Distinct); ()
  }

  def unregisterDistinct(eventsPath: String): Unit =
    unregisterSet(Set(norm(eventsPath)), Pairing.Distinct)

  def registerFreqSet(eventsPaths: Seq[String], freqPath: String): Set[String] =
    registerSet(eventsPaths, Seq(freqPath), Pairing.Freq)

  def unregisterFreqSet(key: Set[String]): Unit = unregisterSet(key, Pairing.Freq)

  def registerQuantileSet(eventsPaths: Seq[String], qskPath: String): Set[String] =
    registerSet(eventsPaths, Seq(qskPath), Pairing.Quantile)

  def unregisterQuantileSet(key: Set[String]): Unit = unregisterSet(key, Pairing.Quantile)

  /** The table `relation` is paired with under `pairing`, if any. */
  private[plans] def tableFor(pairing: Pairing, relation: LogicalRelation): Option[Seq[String]] =
    relation.relation match {
      case fs: HadoopFsRelation =>
        Option(registry.get((pairing, fs.location.rootPaths.map(p => norm(p.toString)).toSet)))
      case _ => None
    }

  // Resolved summary relation per (session, normalized paths). The
  // loader (file listing + schema read + analysis) would otherwise run
  // inside apply() for EVERY optimization of every eligible aggregate.
  // Invalidated whenever a pairing changes (stores re-register after
  // each append, which is exactly when the summary parquet content
  // moves). `loads` counts real loader runs for the memoization spec.
  private val dfCache =
    new ConcurrentHashMap[(SparkSession, Seq[String]), org.apache.spark.sql.DataFrame]()
  private val loadCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] def parquetLoads: Long = loadCounter.get()

  private[plans] def summaryDf(spark: SparkSession, paths: Seq[String]): org.apache.spark.sql.DataFrame =
    dfCache.computeIfAbsent((spark, paths), { _ =>
      loadCounter.incrementAndGet()
      spark.read.parquet(paths: _*)
    })

  /** The cached relation with FRESH output exprIds: plan nodes are
    * reused across queries, so handing out the same attribute ids
    * twice could collide in multi-branch plans; `newInstance()` keeps
    * the (expensive) file index and schema, renews only the ids.
    */
  private[plans] def summaryRelation(spark: SparkSession, paths: Seq[String]): Option[LogicalPlan] =
    summaryDf(spark, paths).queryExecution.analyzed match {
      case lr: LogicalRelation => Some(lr.newInstance())
      case _                   => None
    }

  /** Install the rule into an already-running session. Idempotent, and
    * aware of a GraftExtensions-injected copy: if the optimizer already
    * carries the rule (extensions path), no extraOptimizations entry is
    * added — otherwise every query would be rewritten-checked twice.
    */
  def install(spark: SparkSession): Unit = {
    val injected = spark.sessionState.optimizer.batches
      .exists(_.rules.exists(_.isInstanceOf[SummaryRewriteRule]))
    val existing = spark.experimental.extraOptimizations
    if (!injected && !existing.exists(_.isInstanceOf[SummaryRewriteRule]))
      spark.experimental.extraOptimizations = existing :+ SummaryRewriteRule(spark)
  }
}

final case class SummaryRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {

  /** Opt-in approximate mode: when true, time-RANGE aggregates are also
    * rewritten — answered by the summary-table ESTIMATOR instead of the
    * raw scan. Estimates carry the engine's CI contract, not exactness,
    * so this is never on by default; it is the "1000x less IO for
    * bounded error" switch. Caveat beyond value error: the GROUP set is
    * "streams with summary windows overlapping the range". Streams that
    * PROVABLY have no in-range element (hard count upper bound < 1) are
    * pruned, so a window that merely straddles the boundary with all
    * its mass outside cannot ghost a row; a straddling window whose
    * bound admits >= 1 element can still contribute a row the exact
    * query would omit — that residue is inherent to answering from
    * summaries.
    */
  val ApproximateConf = "spark.graft.rewrite.approximate"

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(groupExprs, aggExprs, child, _) =>
      unwrap(child) match {
        case Some((rel, filterCond)) =>
          SummaryRewrite.tableFor(SummaryRewrite.Pairing.Summary, rel)
            .flatMap { summaryPath =>
              rewrite(agg, groupExprs, aggExprs, rel, filterCond, summaryPath)
                .orElse(rewriteApprox(groupExprs, aggExprs, rel, filterCond, summaryPath))
            }
            .orElse(SummaryRewrite.tableFor(SummaryRewrite.Pairing.Distinct, rel).flatMap { sketchPath =>
              rewriteDistinct(groupExprs, aggExprs, rel, filterCond, sketchPath)
            })
            .orElse(SummaryRewrite.tableFor(SummaryRewrite.Pairing.Freq, rel).flatMap { freqPath =>
              rewriteFreqCount(groupExprs, aggExprs, rel, filterCond, freqPath)
            })
            .orElse(SummaryRewrite.tableFor(SummaryRewrite.Pairing.Quantile, rel).flatMap { qskPath =>
              rewriteQuantile(groupExprs, aggExprs, rel, filterCond, qskPath)
            })
            .getOrElse(agg)
        case None => agg
      }
  }

  /** Accept relation, Filter(relation), and pass-through Projects in
    * between (the optimizer's column pruning inserts them).
    */
  private def unwrap(plan: LogicalPlan): Option[(LogicalRelation, Option[Expression])] =
    plan match {
      case rel: LogicalRelation => Some((rel, None))
      case Project(projList, child) if projList.forall(_.isInstanceOf[AttributeReference]) =>
        unwrap(child)
      case Filter(cond, child) =>
        unwrap(child).flatMap {
          case (rel, None) => Some((rel, Some(cond)))
          case _           => None // two filters: bail (conservative)
        }
      case _ => None
    }

  private def rewrite(
      agg: Aggregate,
      groupExprs: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      rel: LogicalRelation,
      filterCond: Option[Expression],
      summaryPath: Seq[String]): Option[LogicalPlan] = {

    // Eligibility: grouped by exactly the raw streamId column, or a
    // GLOBAL aggregate (no grouping at all — count/sum/max/min over the
    // whole table are equally exact on the summary windows).
    val evStreamOpt = groupExprs match {
      case Seq(a: AttributeReference) if a.name == "streamId" => Some(a)
      case Seq()                                              => None
      case _                                                  => return None
    }
    // The raw relation's streamId column (filter predicates may
    // reference it even when the aggregate is global).
    val rawStream = evStreamOpt.orElse(
      rel.output.collectFirst { case a: AttributeReference if a.name == "streamId" => a })
      .getOrElse(return None)
    // streamId-only DETERMINISTIC predicates transplant exactly;
    // anything else — ts ranges, rand()-style conditions (which would
    // sample whole windows instead of raw rows) — bails.
    if (filterCond.exists(c =>
        !c.references.subsetOf(AttributeSet(Seq(rawStream))) || !c.deterministic))
      return None

    val sumPlan = SummaryRewrite.summaryRelation(spark, summaryPath) match {
      case Some(p) => p
      case None    => return None
    }
    def sumAttr(name: String): Option[AttributeReference] =
      sumPlan.output.collectFirst {
        case a: AttributeReference if a.name == name => a
      }
    val attrs = Seq("streamId", "count", "sum", "max", "min").flatMap(sumAttr)
    if (attrs.length != 5) return None
    val Seq(sStream, sCount, sSum, sMax, sMin) = attrs

    def merged(af: AggregateFunction): Expression =
      AggregateExpression(af, Complete, isDistinct = false)

    // Remap each output column, preserving name + exprId so parents
    // resolve against the rewritten Aggregate unchanged.
    val newAggs: Seq[NamedExpression] = aggExprs.map {
      case a: AttributeReference if evStreamOpt.exists(a.semanticEquals) =>
        Alias(sStream, a.name)(exprId = a.exprId)
      case al @ Alias(AggregateExpression(af, Complete, false, None, _), name) =>
        val rewritten: Expression = af match {
          case Count(Seq(Literal(v, _))) if v != null =>
            val s = Cast(merged(Sum(sCount)), LongType)
            // A GLOBAL count over zero matching windows must be 0, not
            // null (sum of an empty input is null; grouped aggregates
            // simply emit no row, so they need no coalesce).
            if (evStreamOpt.isEmpty) Coalesce(Seq(s, Literal(0L))) else s
          case Sum(v: AttributeReference, _) if v.name == "value" => merged(Sum(sSum))
          case Max(v: AttributeReference) if v.name == "value" => merged(Max(sMax))
          case Min(v: AttributeReference) if v.name == "value" => merged(Min(sMin))
          case Average(v: AttributeReference, _) if v.name == "value" =>
            Divide(merged(Sum(sSum)), merged(Sum(sCount)))
          case _ => return None
        }
        Alias(rewritten, name)(exprId = al.exprId)
      case _ => return None
    }

    val newChild = filterCond match {
      case Some(c) =>
        Filter(c.transform { case a: AttributeReference if a.semanticEquals(rawStream) => sStream },
          sumPlan)
      case None => sumPlan
    }
    Some(Aggregate(evStreamOpt.map(_ => sStream).toSeq, newAggs, newChild, None))
  }

  /** Approximate path (only under [[ApproximateConf]]): a ts-range
    * aggregate `events.filter(ts in [t0,t1]).groupBy(streamId)
    * .agg(count/sum/avg)` is re-planned as the summary-table ESTIMATOR —
    * `QueryEngine.rangeQueryMultiAll` over every requested op —
    * reading O(log N) window rows instead of the raw range. Count
    * estimates are rounded to long. Supported filter: a conjunction of
    * ts-vs-literal comparisons only (any other predicate bails, so
    * semantics never silently change beyond the documented
    * estimate-for-exact trade the flag opts into).
    */
  private def rewriteApprox(
      groupExprs: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      rel: LogicalRelation,
      filterCond: Option[Expression],
      summaryPath: Seq[String]): Option[LogicalPlan] = {
    if (spark.conf.get(ApproximateConf, "false") != "true") return None
    // Grouped by streamId, or a GLOBAL ts-range aggregate (no grouping):
    // per-stream estimates merge losslessly across streams (count/sum
    // add, max/min nest, avg = total sum / total count).
    val evStreamOpt = groupExprs match {
      case Seq(a: AttributeReference) if a.name == "streamId" => Some(a)
      case Seq()                                              => None
      case _                                                  => return None
    }
    val rawStream = evStreamOpt.orElse(
      rel.output.collectFirst { case a: AttributeReference if a.name == "streamId" => a })
      .getOrElse(return None)
    // Parse the ts range: conjunction of ts-vs-literal comparisons.
    def longLit(e: Expression): Option[Long] = e match {
      case Literal(v: Long, _) => Some(v)
      case Literal(v: Int, _)  => Some(v.toLong)
      case _                   => None
    }
    var t0 = Long.MinValue
    var t1 = Long.MaxValue
    // streamId-only DETERMINISTIC conjuncts transplant onto the
    // estimator output (the exact-rewrite path does the same); they are
    // collected here and re-applied over the estimator frame below.
    val sidConjuncts = Seq.newBuilder[Expression]
    def eat(c: Expression): Boolean = c match {
      case And(l, r) => eat(l) && eat(r)
      // The optimizer infers IsNotNull from the comparisons; the summary
      // path never carries null ts/streamId, so it is vacuous here.
      case IsNotNull(a: AttributeReference) if a.name == "ts" || a.name == "streamId" => true
      case GreaterThanOrEqual(a: AttributeReference, l) if a.name == "ts" =>
        longLit(l).exists { v => t0 = math.max(t0, v); true }
      case GreaterThan(a: AttributeReference, l) if a.name == "ts" =>
        // +-1 strict->inclusive must not wrap at the Long extremes (a
        // wrapped bound turns a provably-empty range into full-range).
        longLit(l).exists { v => v != Long.MaxValue && { t0 = math.max(t0, v + 1); true } }
      case LessThanOrEqual(a: AttributeReference, l) if a.name == "ts" =>
        longLit(l).exists { v => t1 = math.min(t1, v); true }
      case LessThan(a: AttributeReference, l) if a.name == "ts" =>
        longLit(l).exists { v => v != Long.MinValue && { t1 = math.min(t1, v - 1); true } }
      case other
          if other.references.subsetOf(AttributeSet(Seq(rawStream))) && other.deterministic =>
        sidConjuncts += other; true
      case _ => false
    }
    filterCond match {
      case Some(c) if eat(c) && t0 <= t1 => ()
      case _                             => return None
    }

    // Which estimator ops the output needs, in output order. avg has no
    // estimator op of its own: it projects as sum_est / count_est from
    // the same single pass.
    val plans = aggExprs.map {
      case a: AttributeReference if evStreamOpt.exists(a.semanticEquals) => ("sid", a)
      case al @ Alias(AggregateExpression(af, Complete, false, None, _), _) =>
        af match {
          case Count(Seq(Literal(v, _))) if v != null => ("count", al)
          case Sum(v: AttributeReference, _) if v.name == "value" => ("sum", al)
          case Average(v: AttributeReference, _) if v.name == "value" => ("avg", al)
          // Range max/min are the engine's documented biased estimates:
          // windows straddling the range boundary contribute elements
          // just outside it, so max is upper-biased and min lower-biased
          // — the reference MaxOp's own range semantics.
          case Max(v: AttributeReference) if v.name == "value" => ("max", al)
          case Min(v: AttributeReference) if v.name == "value" => ("min", al)
          case _ => return None
        }
      case _ => return None
    }

    import spark.implicits._
    val sumDs = SummaryRewrite.summaryDf(spark, summaryPath).as[graft.core.SummaryWindow]
    // One cogroup pass computes every requested op (count+sum in one
    // shuffle — no per-column re-read of the summary table).
    val estOps = plans.collect {
      case ("count", _) => Seq("count")
      case ("sum", _)   => Seq("sum")
      case ("avg", _)   => Seq("sum", "count")
      case ("max", _)   => Seq("max")
      case ("min", _)   => Seq("min")
    }.flatten.distinct
    if (estOps.isEmpty) return None // aggregate with no estimator column
    val multi = graft.core.QueryEngine
      .rangeQueryMultiAll(sumDs, spark.emptyDataset[graft.core.LandmarkSpan],
        spark.emptyDataset[graft.core.LandmarkElem], estOps, t0, t1)
      // Boundary-straddle pruning: a stream whose summary windows merely
      // overlap [t0,t1] gets an estimator row, but when its HARD count
      // upper bound is < 1 the exact query provably emits no group for
      // it — drop those instead of surfacing near-zero ghost rows. Rows
      // with count_hi >= 1 remain the documented approximate trade.
      .filter(org.apache.spark.sql.functions.col("count_hi") >= 1.0)
    def est(op: String) = element_at($"estimates", estOps.indexOf(op) + 1)
    val isGlobal = evStreamOpt.isEmpty
    // Per-stream estimate columns. Grouped: final per-row shaping (count
    // rounding, avg ratio) happens here. Global: RAW estimates project
    // through — the cross-stream merge below does the shaping once.
    val cols = org.apache.spark.sql.functions.col("stream_id").as("__sid") +:
      plans.zipWithIndex.flatMap {
        case (("sid", _), _) => Nil
        case ((op, _), i) if isGlobal =>
          op match {
            case "avg" => Seq(est("sum").as(s"__s$i"), est("count").as(s"__n$i"))
            case o     => Seq(est(o).as(s"__c$i"))
          }
        case ((op, _), i) =>
          op match {
            case "count" => Seq(round(est("count")).cast("long").as(s"__c$i"))
            case "avg" => // null rather than NaN when the count estimate is 0
              Seq(when(est("count") === 0.0, lit(null).cast("double"))
                .otherwise(est("sum") / est("count")).as(s"__c$i"))
            case o => Seq(est(o).as(s"__c$i")) // sum / max / min pass through
          }
      }
    val df = multi.select(cols: _*)
    val out = df.queryExecution.analyzed
    def attr(name: String): AttributeReference =
      out.output.collectFirst { case a: AttributeReference if a.name == name => a }.get
    // Transplanted streamId-only conjuncts filter the estimator frame.
    val filtered = sidConjuncts.result() match {
      case Nil => out
      case cs =>
        val cond = cs.map(_.transform {
          case a: AttributeReference if a.semanticEquals(rawStream) => attr("__sid")
        }).reduce(And)
        Filter(cond, out)
    }
    if (!isGlobal) {
      val projected = plans.zipWithIndex.map {
        case (("sid", a), _) => Alias(attr("__sid"), a.name)(exprId = a.exprId)
        case ((_, al), i)    => Alias(attr(s"__c$i"), al.name)(exprId = al.exprId)
      }
      Some(Project(projected, filtered))
    } else {
      // Merge per-stream estimates into ONE row: count/sum estimates
      // are additive across disjoint streams, max/min nest, avg is
      // total-sum / total-count. Empty match set: count coalesces to 0
      // (raw count(*) over zero rows is 0); sum/max/min/avg stay null,
      // matching raw SQL aggregates over an empty input.
      def merged(af: AggregateFunction): Expression =
        AggregateExpression(af, Complete, isDistinct = false)
      val newAggs: Seq[NamedExpression] = plans.zipWithIndex.map {
        case (("sid", _), _) => return None // unreachable: no grouping, no bare attrs
        case ((op, al), i) =>
          val e: Expression = op match {
            case "count" =>
              Coalesce(Seq(
                Cast(Round(merged(Sum(attr(s"__c$i"))), Literal(0)), LongType), Literal(0L)))
            case "sum" => merged(Sum(attr(s"__c$i")))
            case "max" => merged(Max(attr(s"__c$i")))
            case "min" => merged(Min(attr(s"__c$i")))
            case "avg" =>
              val cnt = merged(Sum(attr(s"__n$i")))
              val sm = merged(Sum(attr(s"__s$i")))
              If(Or(IsNull(cnt), EqualTo(cnt, Literal(0.0))),
                Literal.create(null, org.apache.spark.sql.types.DoubleType),
                Divide(sm, cnt))
          }
          Alias(e, al.name)(exprId = al.exprId)
      }
      Some(Aggregate(Nil, newAggs, filtered, None))
    }
  }

  /** Distinct-count rewrite (only under [[ApproximateConf]], and only
    * for relations paired via `registerDistinct`):
    *
    *   events.groupBy("streamId").agg(approx_count_distinct("value"))
    *   events.agg(countDistinct("value"))          // global forms too
    *
    * optionally under a streamId-only filter, are re-planned onto the
    * windowed [[graft.core.DistinctSummary]] sketch table: per stream,
    * `hll_union_agg` merges the O(log N) window sketches and
    * `hll_sketch_estimate` answers — O(log N) window rows read instead
    * of every raw element. The answer is a Datasketches-HLL estimate
    * where the raw plan computed HLL++ (approx) or an exact distinct —
    * the flag's documented estimate-for-exact trade. ts-range
    * predicates bail (windows are the storage resolution).
    */
  // Standard error of the stored sketches: SummaryDB/DistinctSummary
  // register lgK=12 Datasketches HLL, RSE = 1.04 / sqrt(2^lgK).
  private val SketchRelativeSD: Double = 1.04 / math.sqrt((1 << 12).toDouble)

  /** CMS count rewrite (approximate mode only): a COUNT over raw
    * events filtered by a VALUE-EQUALITY literal —
    *
    *   SELECT [streamId,] count(*) FROM raw
    *   WHERE value = <lit> [AND <streamId-only predicates>]
    *   [GROUP BY streamId]
    *
    * — is answered by probing the per-stream union of the registered
    * [[graft.core.FreqSummary]] table's CMS sketches for the literal's
    * canonical key: O(log N) sketch rows instead of the raw scan, with
    * the CMS one-sided bound (exact <= est <= exact + eps*N at the
    * configured confidence). Grouped output keeps only streams whose
    * estimate is positive — a stream with no occurrence usually
    * estimates 0 and is pruned, but a hash collision can ghost a row
    * the exact query would omit (the same group-set residue as the
    * approximate range rewrite).
    */
  private def rewriteFreqCount(
      groupExprs: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      rel: LogicalRelation,
      filterCond: Option[Expression],
      freqPath: Seq[String]): Option[LogicalPlan] = {
    if (spark.conf.get(ApproximateConf, "false") != "true") return None
    val evStreamOpt = groupExprs match {
      case Seq(a: AttributeReference) if a.name == "streamId" => Some(a)
      case Seq()                                              => None
      case _                                                  => return None
    }
    val rawStream = evStreamOpt.orElse(
      rel.output.collectFirst { case a: AttributeReference if a.name == "streamId" => a })
      .getOrElse(return None)

    // Split the filter; exactly one conjunct must be `value = literal`
    // (either side), the rest must be deterministic streamId-only.
    def conjuncts(c: Expression): Seq[Expression] = c match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case o         => Seq(o)
    }
    val parts = filterCond.map(conjuncts).getOrElse(return None)
    def asValueEq(e: Expression): Option[Literal] = e match {
      case EqualTo(v: AttributeReference, l: Literal) if v.name == "value" => Some(l)
      case EqualTo(l: Literal, v: AttributeReference) if v.name == "value" => Some(l)
      case _ => None
    }
    val (eqs, restAll) = parts.partition(asValueEq(_).isDefined)
    val keyLit = eqs match {
      case Seq(one) => asValueEq(one).get
      case _        => return None
    }
    // The optimizer adds `isnotnull(value)` next to the equality; it is
    // implied by `value = literal` and carries no extra constraint.
    val rest = restAll.filterNot {
      case IsNotNull(v: AttributeReference) if v.name == "value" => true
      case _                                                     => false
    }
    if (rest.exists(c =>
        !c.references.subsetOf(AttributeSet(Seq(rawStream))) || !c.deterministic))
      return None

    // Canonical probe key via Spark's OWN double->string cast on the
    // -0.0-normalized literal — byte parity with the sketch build
    // (DistinctSummary.canonicalValue).
    val keyValue: Any = keyLit.value match {
      case d: java.lang.Double if d.doubleValue() == 0.0 => java.lang.Double.valueOf(0.0)
      case other                                         => other
    }
    val key = Cast(Literal.create(keyValue, keyLit.dataType),
        org.apache.spark.sql.types.StringType)
      .eval(null) match {
      case null => return None
      case s    => s.toString
    }

    // Output shape: bare streamId and/or count(*)/count(1) aliases.
    val wants: Seq[(String, NamedExpression)] = aggExprs.map {
      case a: AttributeReference if evStreamOpt.exists(a.semanticEquals) => ("sid", a)
      case al @ Alias(AggregateExpression(Count(Seq(Literal(_, _))), Complete, false, None, _), _) =>
        ("cnt", al)
      case _ => return None
    }
    if (!wants.exists(_._1 == "cnt")) return None

    import org.apache.spark.sql.functions.{col, udf}
    val fqDf = SummaryRewrite.summaryDf(spark, freqPath)
    if (!fqDf.columns.contains("cms") || !fqDf.columns.contains("streamId")) return None
    val k = key
    val probe = udf((b: Array[Byte]) =>
      if (b == null) 0L else graft.functions.Sketches.cmsEstimate(b, k))
    val probed = fqDf.groupBy(col("streamId").as("__sid"))
      .agg(graft.functions.Sketches.cmsUnionAgg(col("cms")).as("__cms"))
      .select(col("__sid"), probe(col("__cms")).as("__est"))
    val out = probed.queryExecution.analyzed
    def attr(n: String): AttributeReference =
      out.output.collectFirst { case a: AttributeReference if a.name == n => a }.get
    val streamFiltered = rest.reduceOption(And.apply) match {
      case Some(c) =>
        Filter(
          c.transform { case a: AttributeReference if a.semanticEquals(rawStream) => attr("__sid") },
          out)
      case None => out
    }
    if (evStreamOpt.isEmpty) {
      // Global count: sum the per-stream estimates (empty -> 0).
      val total = AggregateExpression(Sum(attr("__est")), Complete, isDistinct = false)
      val cExpr = Coalesce(Seq(Cast(total, LongType), Literal(0L)))
      val newAggs = wants.map { case (_, al) => Alias(cExpr, al.name)(exprId = al.exprId) }
      Some(Aggregate(Nil, newAggs, streamFiltered, None))
    } else {
      // Grouped: one row per stream with a positive estimate.
      val positive = Filter(GreaterThan(attr("__est"), Literal(0L)), streamFiltered)
      val projected = wants.map {
        case ("sid", a) => Alias(attr("__sid"), a.name)(exprId = a.exprId)
        case (_, al)    => Alias(attr("__est"), al.name)(exprId = al.exprId)
      }
      Some(Project(projected, positive))
    }
  }

  /** Rewrite `percentile_approx(value, p)` aggregates (grouped by
    * streamId, or global with an optional streamId-only filter) onto a
    * registered [[graft.core.QuantileSummary]] sketch table: union the
    * per-stream KLL sketches, probe at p — O(log N) sketch rows instead
    * of a raw scan. Approximate-for-approximate: the caller already
    * asked for an estimate; under the approximate flag it is answered
    * from the mergeable sketches, whose certified rank-error bound is
    * itself queryable via [[graft.core.QuantileSummary.rangeQuantiles]].
    * The returned estimate is always an actual data value (the sketch
    * retains original inputs; nothing is interpolated).
    */
  private def rewriteQuantile(
      groupExprs: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      rel: LogicalRelation,
      filterCond: Option[Expression],
      qskPath: Seq[String]): Option[LogicalPlan] = {
    if (spark.conf.get(ApproximateConf, "false") != "true") return None
    val evStreamOpt = groupExprs match {
      case Seq(a: AttributeReference) if a.name == "streamId" => Some(a)
      case Seq()                                              => None
      case _                                                  => return None
    }
    val rawStream = evStreamOpt.orElse(
      rel.output.collectFirst { case a: AttributeReference if a.name == "streamId" => a })
      .getOrElse(return None)
    if (filterCond.exists(c =>
        !c.references.subsetOf(AttributeSet(Seq(rawStream))) || !c.deterministic))
      return None

    // Output shape: bare streamId and/or scalar percentile_approx
    // over `value` (array-of-percentages and DISTINCT forms bail).
    val wants: Seq[(Option[Double], NamedExpression)] = aggExprs.map {
      case a: AttributeReference if evStreamOpt.exists(a.semanticEquals) => (None, a)
      case al @ Alias(AggregateExpression(ap: ApproximatePercentile, Complete, false, None, _), _) =>
        ap.child match {
          case v: AttributeReference if v.name == "value" =>
            if (!ap.percentageExpression.foldable) return None
            ap.percentageExpression.eval(null) match {
              case d: java.lang.Double => (Some(d.doubleValue()), al)
              case _                   => return None // array form
            }
          case _ => return None
        }
      case _ => return None
    }
    val pcts = wants.collect { case (Some(p), al) => (p, al) }
    if (pcts.isEmpty) return None

    import org.apache.spark.sql.functions.{col, lit, udf}
    val qDf = SummaryRewrite.summaryDf(spark, qskPath)
    if (!qDf.columns.contains("qsk") || !qDf.columns.contains("streamId")) return None
    val probe = udf((b: Array[Byte], p: Double) =>
      if (b == null) null
      else java.lang.Double.valueOf(graft.functions.QuantileSketch.fromBytes(b).quantile(p)))

    if (evStreamOpt.isEmpty) {
      // Global: quantiles are not mergeable ACROSS the probe, so any
      // streamId filter must subset the sketch rows BEFORE the union.
      // The condition references only streamId; re-parse its SQL form
      // against the sketch table by name (bail on anything that does
      // not round-trip).
      val base = filterCond match {
        case Some(c) =>
          scala.util.Try {
            val filtered = qDf.where(org.apache.spark.sql.functions.expr(c.sql))
            filtered.queryExecution.assertAnalyzed(); filtered
          }.getOrElse(return None)
        case None => qDf
      }
      val probed = base
        .agg(graft.functions.QuantileSketch.qsUnionAgg(col("qsk")).as("__sk"))
        .select(pcts.zipWithIndex.map { case ((p, _), i) =>
          probe(col("__sk"), lit(p)).as(s"__q$i") }: _*)
      val out = probed.queryExecution.analyzed
      def attr(n: String): AttributeReference =
        out.output.collectFirst { case a: AttributeReference if a.name == n => a }.get
      val byAlias = pcts.zipWithIndex.map { case ((_, al), i) => al -> attr(s"__q$i") }.toMap
      val projected = wants.map {
        case (Some(_), al) => Alias(byAlias(al), al.name)(exprId = al.exprId)
        case (None, _)     => return None // unreachable: no groupBy -> no bare streamId
      }
      Some(Project(projected, out))
    } else {
      val probed = qDf.groupBy(col("streamId").as("__sid"))
        .agg(graft.functions.QuantileSketch.qsUnionAgg(col("qsk")).as("__sk"))
        .select(col("__sid") +: pcts.zipWithIndex.map { case ((p, _), i) =>
          probe(col("__sk"), lit(p)).as(s"__q$i") }: _*)
      val out = probed.queryExecution.analyzed
      def attr(n: String): AttributeReference =
        out.output.collectFirst { case a: AttributeReference if a.name == n => a }.get
      val filtered = filterCond match {
        case Some(c) =>
          Filter(
            c.transform { case a: AttributeReference if a.semanticEquals(rawStream) => attr("__sid") },
            out)
        case None => out
      }
      val byAlias = pcts.zipWithIndex.map { case ((_, al), i) => al -> attr(s"__q$i") }.toMap
      val projected = wants.map {
        case (None, a)     => Alias(attr("__sid"), a.name)(exprId = a.exprId)
        case (Some(_), al) => Alias(byAlias(al), al.name)(exprId = al.exprId)
      }
      Some(Project(projected, filtered))
    }
  }

  private def rewriteDistinct(
      groupExprs: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      rel: LogicalRelation,
      filterCond: Option[Expression],
      sketchPath: Seq[String]): Option[LogicalPlan] = {
    if (spark.conf.get(ApproximateConf, "false") != "true") return None
    val evStreamOpt = groupExprs match {
      case Seq(a: AttributeReference) if a.name == "streamId" => Some(a)
      case Seq()                                              => None
      case _                                                  => return None
    }
    val rawStream = evStreamOpt.orElse(
      rel.output.collectFirst { case a: AttributeReference if a.name == "streamId" => a })
      .getOrElse(return None)
    if (filterCond.exists(c =>
        !c.references.subsetOf(AttributeSet(Seq(rawStream))) || !c.deterministic))
      return None

    // Output shape: bare streamId and/or distinct-counts of `value`
    // (both count(DISTINCT value) and approx_count_distinct(value)).
    val wants: Seq[(String, NamedExpression)] = aggExprs.map {
      case a: AttributeReference if evStreamOpt.exists(a.semanticEquals) => ("sid", a)
      case al @ Alias(AggregateExpression(af, Complete, isDistinct, None, _), _) =>
        af match {
          case h: HyperLogLogPlusPlus if !isDistinct =>
            // A query requesting rsd TIGHTER than the registered lgK=12
            // Datasketches sketch's standard error (1.04/sqrt(2^12) ~
            // 1.6%) cannot be answered at its asked precision from the
            // stored sketches — bail to the raw plan instead of
            // silently degrading it.
            if (h.relativeSD < SketchRelativeSD) return None
            h.child match {
              case v: AttributeReference if v.name == "value" => ("dist", al)
              case _                                          => return None
            }
          case Count(Seq(v: AttributeReference)) if isDistinct && v.name == "value" =>
            ("dist", al)
          case _ => return None
        }
      case _ => return None
    }
    if (!wants.exists(_._1 == "dist")) return None

    import org.apache.spark.sql.functions.{col, hll_union_agg}
    val skDf = SummaryRewrite.summaryDf(spark, sketchPath)
    if (!skDf.columns.contains("sketch") || !skDf.columns.contains("streamId")) return None
    // Per-stream sketch partials are the shared base for both shapes:
    // HLL union is associative, so a streamId filter always lands on
    // __sid BELOW the final merge (a global aggregate with a streamId
    // filter must subset streams before unioning, not after).
    val perStream = skDf.groupBy(col("streamId").as("__sid"))
      .agg(hll_union_agg(col("sketch"), lit(false)).as("__sk"))
    val out = perStream.queryExecution.analyzed
    def attr(n: String): AttributeReference =
      out.output.collectFirst { case a: AttributeReference if a.name == n => a }.get
    val filtered = filterCond match {
      case Some(c) =>
        Filter(
          c.transform { case a: AttributeReference if a.semanticEquals(rawStream) => attr("__sid") },
          out)
      case None => out
    }
    if (evStreamOpt.isEmpty) {
      // Global: merge the (filtered) per-stream partials into one
      // estimate; empty input coalesces to 0 like raw SQL distinct.
      val union = AggregateExpression(
        HllUnionAgg(attr("__sk"), Literal(false), 0, 0), Complete, isDistinct = false)
      val dExpr =
        Coalesce(Seq(Cast(HllSketchEstimate(union), LongType), Literal(0L)))
      val newAggs = wants.map { case (_, al) => Alias(dExpr, al.name)(exprId = al.exprId) }
      Some(Aggregate(Nil, newAggs, filtered, None))
    } else {
      val est = Cast(HllSketchEstimate(attr("__sk")), LongType)
      val projected = wants.map {
        case ("sid", a) => Alias(attr("__sid"), a.name)(exprId = a.exprId)
        case (_, al)    => Alias(est, al.name)(exprId = al.exprId)
      }
      Some(Project(projected, filtered))
    }
  }
}

/** `spark.sql.extensions` entry point. */
final class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectOptimizerRule(s => SummaryRewriteRule(s))
}

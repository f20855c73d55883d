package graft.tools

import graft.{Bm25Corpora, Session, SparkCounts, SparkEntry}
import graft.core.{Ingest, Summarizer}
import graft.ops.{AnnIndex, Bm25, Bm25Index, Dedup, NearDupIndex, Similarity, TextAnalysis}
import graft.windowing.ExponentialWindowing
import java.nio.file.Files
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** One profiler: every mode times its phases with [[graft.SparkCounts]]
  * and prints, per phase, wall seconds, Spark jobs, stages, tasks and
  * task seconds.
  *
  *  - `ingest`: the ingest pipeline (rank, summarize, landmarks) and the
  *    exact near-dup pipeline stage by stage, two rounds each.
  *  - `queries [name ...]`: registered queries, each timed on a warm run
  *    after an untimed warm-up (the bench's protocol); no names = the
  *    bench's historically slowest. A query whose time is mostly fixed
  *    overhead shows many jobs with tiny task totals.
  *  - `index [bm25|ann|neardup ...]`: build / append / delete / merge /
  *    probe phases of the index families with per-job lines, two rounds
  *    (round 2 is the warm, bench-comparable one).
  *  - `bm25 [sizes,csv] [spamEvery] [vocab]`: over a size sweep of the
  *    moderate-skew and Zipf corpora, the three probe routes — pruned
  *    with the gate floors forced to 0, term-level with
  *    `BlockSplitMaxPairs = 0`, exhaustive — each with its `ProbeReport`
  *    and per-job lines, beside the total df of the kept query terms.
  *    The pruned-vs-exhaustive crossover is what
  *    `Bm25Index.PruneFixedCostRows` encodes. Throws when a pruned top-k
  *    differs from the exhaustive one.
  *
  * Run: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=8 \
  *   sbt "runMain graft.tools.Profile <mode> [args ...]"
  * `GRAFT_PROFILE_CONF="k=v;k=v"` sets session confs before the mode runs.
  */
object Profile {

  private val modes: ListMap[String, (SparkSession, String, Seq[String]) => Unit] = ListMap(
    "ingest" -> ingest, "queries" -> queries, "index" -> index, "bm25" -> bm25)

  /** Run `mode` with its args against the testdata in `sfDir`. */
  def run(spark: SparkSession, sfDir: String, mode: String, args: Seq[String]): Unit =
    modes.getOrElse(mode, throw new IllegalArgumentException(
      s"unknown mode '$mode'; modes: ${modes.keys.mkString(", ")}"))(spark, sfDir, args)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    sys.env.get("GRAFT_PROFILE_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v) })
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, sfDir, args.headOption.getOrElse(""), args.toSeq.drop(1))
    finally spark.stop()
  }

  /** Prints one line per phase and, with `jobLines`, one per job. */
  private final class Phases(spark: SparkSession, jobLines: Boolean) {
    def apply[T](label: String)(body: => T): T = {
      val (out, c) = SparkCounts.of(spark)(body)
      println(f"[phase] $label%-34s ${c.wallSec}%8.3f s  jobs=${c.jobs}%3d " +
        f"stages=${c.stages}%3d tasks=${c.tasks}%5d taskSec=${c.taskMs / 1e3}%8.2f")
      if (jobLines) c.jobLines.foreach(j => println(f"    [job ${j.id}%4d] ${j.sec}%7.3f s  ${j.callSite}"))
      out
    }
  }

  private def force(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  private def ingest(spark: SparkSession, sfDir: String, args: Seq[String]): Unit = {
    require(args.isEmpty, s"ingest takes no args: ${args.mkString(" ")}")
    val phase = new Phases(spark, jobLines = false)
    for (round <- 1 to 2) {
      val events = phase(s"ingest[$round]: rank events") {
        val e = Ingest.fromEventsTable(spark, sfDir).persist(); e.count(); e
      }
      phase(s"ingest[$round]: summarize") {
        Summarizer.summarize(events, ExponentialWindowing(2.0)).count()
      }
      phase(s"ingest[$round]: with landmarks") {
        val spec = ExponentialWindowing(2.0)
        val (lm, spans, elems) = Summarizer.summarizeWithLandmarkRowsPerStream(
          events, _ => spec, Seq((1704412800000000L, 1704671999999999L)))
        lm.count(); spans.count(); elems.count()
      }
      events.unpersist()
    }

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    println(s"[profile] docs = ${docs.count()}")
    for (round <- 1 to 2) {
      val sh = phase(s"dedup[$round]: shingles (materialize)") {
        val s = Dedup.shingles(docs).persist(); s.count(); s
      }
      val pairs = phase(s"dedup[$round]: exactNearDuplicatePairs") {
        Dedup.exactNearDuplicatePairsFromShingles(sh, 0.5).count()
      }
      println(s"[profile] verified pairs = $pairs")
      sh.unpersist()
      phase(s"dedup[$round]: end-to-end (as benched)") {
        Dedup.exactNearDuplicatePairs(docs, 0.5).count()
      }
    }

    // Inline stage breakdown (mirrors exactNearDuplicatePairsFromShingles).
    val threshold = 0.5
    val shArr = Dedup.shingles(docs).persist()
    shArr.count()
    val sh = shArr
      .select(col("doc_id"), size(col("sh")).cast("long").as("n"), explode(col("sh")).as("shingle"))
    println(s"[stage] exploded shingle rows = ${sh.count()}")
    val dfq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    println(s"[stage] distinct shingles = ${dfq.count()}")
    println("[stage] df percentiles: " + dfq.selectExpr(
      "percentile_approx(df, array(0.5, 0.9, 0.99, 1.0))").collect().head)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("shingle"))
    val prefix = sh.join(dfq, "shingle")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("n") - ceil(col("n") * threshold) + 1)
      .select(col("shingle"), col("doc_id"), col("n"))
      .persist()
    println(s"[stage] prefix rows = ${prefix.count()}")
    val candidates = prefix.as("a").join(prefix.as("b"), "shingle")
      .filter(col("a.doc_id") < col("b.doc_id") &&
        col("a.n") >= col("b.n") * threshold && col("b.n") >= col("a.n") * threshold)
    val raw = phase("stage: raw prefix self-join")(candidates.count())
    println(s"[stage] raw candidate rows = $raw")
    val cands = phase("stage: distinct candidates") {
      candidates.select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct().persist()
    }
    println(s"[stage] distinct candidate pairs = ${cands.count()}")
    phase("stage: verify kernel")(Dedup.verifyWithShingles(cands, shArr, threshold).count())
    val vplan = Dedup.verifyWithShingles(cands, shArr, threshold)
      .queryExecution.executedPlan.toString
    println("[stage] verify join types: " +
      Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
        .map(j => s"$j=${j.r.findAllIn(vplan).size}").mkString(" "))
    Seq(shArr, prefix, cands).foreach(_.unpersist())
  }

  private val slowestQueries = Seq(
    "q_bm25_index", "q_hybrid_index", "q_bm25_delete", "q_bm25_filtered",
    "q_ann_pq", "q_ann_filtered_pq", "q_ann_merge", "q_hybrid",
    "q_neardup_merge", "q_ann_delete", "q_neardup_delete", "q_bm25",
    "q_media_dedup", "q_classifier", "q_semdedup", "q_pq_recall",
    "q_ann_index", "q_ann_filtered", "q_window_quantile", "q_neardup_index")

  private def queries(spark: SparkSession, sfDir: String, args: Seq[String]): Unit = {
    val names = if (args.nonEmpty) args else slowestQueries
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val phase = new Phases(spark, jobLines = false)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).count() // warm-up, untimed
      phase(name)(fn(spark, sfDir).count())
    }
  }

  private val families = Seq("bm25", "ann", "neardup")

  private def index(spark: SparkSession, sfDir: String, args: Seq[String]): Unit = {
    import spark.implicits._
    val want = if (args.nonEmpty) args.toSet else families.toSet
    require(want.subsetOf(families.toSet),
      s"unknown index families: ${(want -- families).mkString(", ")}; families: ${families.mkString(", ")}")
    val phase = new Phases(spark, jobLines = true)
    val tmp = Files.createTempDirectory("graft_profile_index").toString
    def fresh(name: String): String = {
      val out = s"$tmp/$name"
      FileUtils.deleteQuietly(new java.io.File(out))
      out
    }
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val bmQueries = d.filter($"doc_id" % 25 === 0 && $"doc_id" < 5000)
      .select($"doc_id".as("query_id"),
        concat_ws(" ", slice(split(trim($"text"), "\\s+"), 1, 4)).as("text"))

    for (round <- 1 to 2) {
      println(s"=== round $round (round 2 = warm, bench-comparable) ===")
      if (want("bm25")) {
        val out = fresh("bm25")
        phase("bm25.build(head60)")(Bm25Index.build(d.filter($"doc_id" % 10 < 6), out, nTb = 16))
        phase("bm25.append(tail40)")(Bm25Index.append(spark, out, d.filter($"doc_id" % 10 >= 6)))
        phase("bm25.topDocs")(force(Bm25Index.topDocs(spark, out, bmQueries, k = 10)))
        phase("bm25.topDocs(again)")(force(Bm25Index.topDocs(spark, out, bmQueries, k = 10)))
        val outD = fresh("bm25d")
        phase("bm25.build(full,blockMax)")(Bm25Index.build(d, outD, nTb = 16, blockMax = true))
        phase("bm25.delete(every21st)") {
          Bm25Index.delete(spark, outD, d.filter($"doc_id" % 21 === 0).select($"doc_id"))
        }
        phase("bm25.topDocs(post-delete)")(force(Bm25Index.topDocs(spark, outD, bmQueries, k = 10)))
        phase("bm25.oneshot(q_bm25)")(force(Bm25.topDocs(d, bmQueries, k = 10)))
      }
      if (want("ann")) {
        val out = fresh("ann")
        phase("ann.build(16c,5it)")(AnnIndex.build(e, out, nClusters = 16, iters = 5))
        phase("ann.buildPq(16m,32c,5it)")(AnnIndex.buildPq(spark, out, m = 16, codes = 32, iters = 5))
        val q = e.filter($"vec_id" < 50)
        phase("ann.topKPq")(force(AnnIndex.topKPq(spark, out, q, k = 10, nProbe = 8)))
        phase("ann.exact.topK")(force(Similarity.topK(e, q, k = 10)))
      }
      if (want("neardup")) {
        val out = fresh("neardup")
        val pfx = "graft_phase_nd"
        phase("neardup.build(head60)") {
          NearDupIndex.build(d.filter($"doc_id" % 10 < 6), out, pfx, nBuckets = 8)
        }
        phase("neardup.probePairs(tail40)") {
          force(NearDupIndex.probePairs(spark, pfx, d.filter($"doc_id" % 10 >= 6)))
        }
      }
    }
  }

  private def bm25(spark: SparkSession, sfDir: String, args: Seq[String]): Unit = {
    import spark.implicits._
    val sizes = args.headOption.map(_.split(",").map(_.trim.toLong).toSeq)
      .getOrElse(Seq(10000L, 30000L, 100000L, 300000L, 1000000L))
    val spamEvery = args.lift(1).map(_.toLong)
    val vocab = args.lift(2).map(_.toInt).getOrElse(10)
    val phase = new Phases(spark, jobLines = true)
    val corpora = Seq[(String, Long => DataFrame, DataFrame)](
      ("modskew", n => Bm25Corpora.modskewDocs(spark, n, spamEvery.getOrElse(math.max(1L, n / 70L)), vocab),
        Bm25Corpora.modskewQueries(spark, vocab)),
      ("zipf", n => Bm25Corpora.zipfDocs(spark, n), Bm25Corpora.zipfQueries(spark)))

    for ((corpus, docs, queries) <- corpora; n <- sizes) {
      val dir = Files.createTempDirectory(s"graft_profile_${corpus}_$n").toString
      phase(s"$corpus n=$n build")(Bm25Index.build(docs(n), dir, nTb = 64, blockMax = true))
      // the gate's first quantity: total df of the kept query terms,
      // the postings the exhaustive path scores
      val terms = queries.select(explode(TextAnalysis.tokens($"text")).as("term")).distinct()
      val keptDf = spark.read.parquet(Bm25Index.dfdPath(dir))
        .join(terms, Seq("term"), "left_semi")
        .agg(coalesce(sum($"df"), lit(0L))).as[Long].head()
      println(s"[bm25] $corpus n=$n keptDf=$keptDf")
      Bm25Index.topDocs(spark, dir, queries, k = 10).collect() // warm-up, untimed
      def route(name: String, prune: Boolean): Set[Row] = {
        val (rows, rep) = phase(s"$corpus n=$n $name") {
          val (df, rep) = Bm25Index.topDocsWithReport(spark, dir, queries, k = 10, prune = prune)
          (df.collect().toSet, rep)
        }
        println(s"    $rep")
        rows
      }
      val (minPostings, fixedCost) = (Bm25Index.PruneMinPostings, Bm25Index.PruneFixedCostRows)
      val pruned =
        try {
          Bm25Index.PruneMinPostings = 0L
          Bm25Index.PruneFixedCostRows = 0L
          route("pruned(floors=0)", prune = true)
        } finally {
          Bm25Index.PruneMinPostings = minPostings
          Bm25Index.PruneFixedCostRows = fixedCost
        }
      val splitMax = Bm25Index.BlockSplitMaxPairs
      val termLevel =
        try { Bm25Index.BlockSplitMaxPairs = 0L; route("term-level", prune = true) }
        finally Bm25Index.BlockSplitMaxPairs = splitMax
      val exhaustive = route("exhaustive", prune = false)
      Seq("pruned" -> pruned, "term-level" -> termLevel).foreach { case (name, rows) =>
        if (rows != exhaustive) throw new IllegalStateException(
          s"$corpus n=$n: the $name top-k differs from the exhaustive one in " +
            s"${(rows diff exhaustive).size} of ${exhaustive.size} rows")
      }
    }
  }
}

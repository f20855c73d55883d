package graft.tools

import graft.Session
import org.apache.spark.sql.functions._

/** Measures the pruned-vs-exhaustive BREAK-EVEN curve the MaxScore
  * gate's fixed-cost floor is calibrated from ([[graft.ops.Bm25Index]]
  * `PruneMinPostings` / `PruneFixedCostRows`): for a corpus-size sweep
  * over the two skew shapes pruning exists for (Zipf text and
  * moderately-skewed-with-spam), time the pruned path (gate floors
  * forced to 0 so it actually runs) against the exhaustive control at
  * each size, and print the per-size posting totals beside both
  * wall-clocks. The crossover — below which the pruned pipeline's
  * fixed stage/checkpoint floor exceeds everything it can skip — is
  * what the production floor encodes; the skippable-rows criterion
  * alone models aggregation work but not that floor.
  *
  * Usage: runMain graft.tools.PruneBreakEven [sizes,csv]
  */
object PruneBreakEven {
  def main(args: Array[String]): Unit = {
    val sizes = args.headOption
      .map(_.split(",").map(_.trim.toLong).toSeq)
      .getOrElse(Seq(10000L, 30000L, 100000L, 300000L, 1000000L))
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    import spark.implicits._

    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    def min2(r: => Unit): Double = {
      r // warm
      val a = { val t = System.nanoTime(); r; (System.nanoTime() - t) / 1e9 }
      val b = { val t = System.nanoTime(); r; (System.nanoTime() - t) / 1e9 }
      math.min(a, b)
    }

    // the Bench modskew shape (spam outliers inflate mid-term global
    // bounds; per-block bounds recover them), scaled by n
    def modskewDocs(n: Long) = {
      val mh = pmod(hash($"id", lit(1)), lit(10))
      def midAt(off: Int) = concat(lit("mid"), pmod(mh + lit(off), lit(10)))
      spark.range(n).select($"id".as("doc_id"),
        when(pmod($"id", lit(math.max(1L, n / 70L))) === 0,
          concat_ws(" ", array_repeat(midAt(0), 6)))
          .otherwise(concat_ws(" ",
            midAt(0), midAt(1), midAt(2), midAt(3), midAt(4),
            concat(lit("rare"), pmod(hash($"id", lit(2)), lit(66))),
            lit("pada padb padc padd pade padf")))
          .as("text")).localCheckpoint()
    }
    val mg = pmod(hash($"id", lit(21)), lit(10))
    def qmidAt(off: Int) = concat(lit("mid"), pmod(mg + lit(off), lit(10)))
    val modQueries = spark.range(100).select($"id".as("query_id"),
      concat_ws(" ", qmidAt(0), qmidAt(1), qmidAt(2), qmidAt(3), qmidAt(4),
        qmidAt(5), qmidAt(6),
        concat(lit("rare"), pmod(hash($"id", lit(22)), lit(66)))
      ).as("text")).localCheckpoint()

    // the Bench zipf shape (3 ubiquitous + mid-50 + rare-100k)
    def zipfDocs(n: Long) = {
      val filler = when(pmod(hash($"id", lit(6)), lit(4)) === 0, lit(""))
        .when(pmod(hash($"id", lit(6)), lit(4)) === 1, lit("and"))
        .when(pmod(hash($"id", lit(6)), lit(4)) === 2, lit("and and"))
        .otherwise(lit("and and and"))
      spark.range(n).select($"id".as("doc_id"),
        concat_ws(" ",
          lit("the"), lit("of"), lit("and"), filler,
          concat(lit("mid"), pmod(hash($"id", lit(1)), lit(50))),
          concat(lit("mid"), pmod(hash($"id", lit(2)), lit(50))),
          concat(lit("rare"), pmod(hash($"id", lit(4)), lit(100000))),
          concat(lit("rare"), pmod(hash($"id", lit(5)), lit(100000)))
        ).as("text")).localCheckpoint()
    }
    val zipfQueries = spark.range(200).select($"id".as("query_id"),
      concat_ws(" ", lit("the"), lit("of"),
        concat(lit("mid"), pmod(hash($"id", lit(9)), lit(50))),
        concat(lit("rare"), pmod(hash($"id", lit(10)), lit(100000)))
      ).as("text")).localCheckpoint()

    def sweep(label: String, mk: Long => org.apache.spark.sql.DataFrame,
        queries: org.apache.spark.sql.DataFrame): Unit =
      sizes.foreach { n =>
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft_be_${label}_$n").toString
        graft.ops.Bm25Index.build(mk(n), dir, nTb = 64, blockMax = true)
        val oldMin = graft.ops.Bm25Index.PruneMinPostings
        val oldFloor = graft.ops.Bm25Index.PruneFixedCostRows
        val (pruned, path) =
          try {
            graft.ops.Bm25Index.PruneMinPostings = 0L
            graft.ops.Bm25Index.PruneFixedCostRows = 0L
            var p = ""
            val t = min2 {
              val (df, rep) = graft.ops.Bm25Index.topDocsWithReport(
                spark, dir, queries, k = 10)
              force(df); p = rep.path
            }
            (t, p)
          } finally {
            graft.ops.Bm25Index.PruneMinPostings = oldMin
            graft.ops.Bm25Index.PruneFixedCostRows = oldFloor
          }
        val exhaustive = min2(force(graft.ops.Bm25Index.topDocs(
          spark, dir, queries, k = 10, prune = false)))
        // the gate-1 quantity at this point: total df of the kept
        // query terms (postings the exhaustive path would score)
        val qt = queries.select(explode(
          graft.ops.TextAnalysis.tokens($"text")).as("term")).distinct()
        val pairDf = spark.read.parquet(graft.ops.Bm25Index.dfdPath(dir))
          .join(qt, Seq("term"), "left_semi")
          .agg(coalesce(sum($"df"), lit(0L))).as[Long].head()
        println(f"$label%-8s n=$n%-9d keptDf=$pairDf%-10d " +
          f"pruned=$pruned%8.3f s ($path) exhaustive=$exhaustive%8.3f s " +
          f"ratio=${exhaustive / pruned}%6.2f")
      }

    sweep("modskew", modskewDocs, modQueries)
    sweep("zipf", zipfDocs, zipfQueries)
    spark.stop()
  }
}

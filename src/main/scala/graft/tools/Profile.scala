package graft.tools

import graft.ops.Dedup
import graft.Session
import org.apache.spark.sql.functions._

/** Stage-level timing for the exact near-dup pipeline (the bench's most
  * expensive query): shingling, candidate generation, verification.
  * Run: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.Profile"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[profile] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    // Ingest pipeline breakdown (the bench's single biggest line).
    {
      import graft.core._
      import graft.windowing.ExponentialWindowing
      for (round <- 1 to 2) {
        val events = time(s"ingest[$round]: rank events") {
          val e = Ingest.fromEventsTable(spark, sfDir).persist(); e.count(); e
        }
        time(s"ingest[$round]: summarize") {
          Summarizer.summarize(events, ExponentialWindowing(2.0)).count()
        }
        time(s"ingest[$round]: with landmarks") {
          val spec = ExponentialWindowing(2.0)
          val (lm, spans, elems) = Summarizer.summarizeWithLandmarkRowsPerStream(
            events, _ => spec, Seq((1704412800000000L, 1704671999999999L)))
          lm.count(); spans.count(); elems.count()
        }
        events.unpersist()
      }
    }

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    println(s"[profile] docs = ${docs.count()}")

    for (round <- 1 to 2) {
      println(s"--- round $round ---")
      val sh = time("shingles (materialize)") {
        val s = Dedup.shingles(docs).persist(); s.count(); s
      }
      val pairs = time("exactNearDuplicatePairs") {
        Dedup.exactNearDuplicatePairsFromShingles(sh, 0.5).count()
      }
      println(s"[profile] verified pairs = $pairs")
      sh.unpersist()
      // End-to-end form the bench actually times (internal shingling):
      time("end-to-end (as benched)") {
        Dedup.exactNearDuplicatePairs(docs, 0.5).count()
      }
    }

    // Inline stage breakdown (mirrors exactNearDuplicatePairsFromShingles).
    {
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
      def t[T](label: String)(f: => T): T = {
        val t0 = System.nanoTime(); val r = f
        println(f"[stage] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s"); r
      }
      val raw = t("raw prefix self-join") {
        prefix.as("a").join(prefix.as("b"), "shingle")
          .filter(col("a.doc_id") < col("b.doc_id") &&
            col("a.n") >= col("b.n") * threshold && col("b.n") >= col("a.n") * threshold)
          .count()
      }
      println(s"[stage] raw candidate rows = $raw")
      val cands = t("distinct candidates") {
        prefix.as("a").join(prefix.as("b"), "shingle")
          .filter(col("a.doc_id") < col("b.doc_id") &&
            col("a.n") >= col("b.n") * threshold && col("b.n") >= col("a.n") * threshold)
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct().persist()
      }
      println(s"[stage] distinct candidate pairs = ${cands.count()}")
      t("verify kernel") {
        Dedup.verifyWithShingles(cands, shArr, threshold).count()
      }
      val vplan = Dedup.verifyWithShingles(cands, shArr, threshold)
        .queryExecution.executedPlan.toString
      println("[stage] verify join types: " +
        Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
          .map(j => s"$j=${j.r.findAllIn(vplan).size}").mkString(" "))
    }
    spark.stop()
  }
}

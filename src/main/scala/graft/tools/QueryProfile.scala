package graft.tools

import graft.SparkEntry
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import graft.Session

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Per-query cost-structure profile: wall time plus Spark job / stage /
  * task counts for registered queries (warm run, after one untimed
  * warm-up — the bench's own protocol). At bench scale the corpus is
  * small, so a query whose time is mostly FIXED overhead shows up here
  * as a high job count with tiny task totals; a query that is actually
  * data-bound shows few jobs with large task time. Run:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.tools.QueryProfile q_bm25_index q_ann_pq"
  * No args = the bench's historically slowest queries.
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMillis = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) taskMillis.addAndGet(t.taskInfo.duration)
      }
    })

    val defaults = Seq(
      "q_bm25_index", "q_hybrid_index", "q_bm25_delete", "q_bm25_filtered",
      "q_ann_pq", "q_ann_filtered_pq", "q_ann_merge", "q_hybrid",
      "q_neardup_merge", "q_ann_delete", "q_neardup_delete", "q_bm25",
      "q_media_dedup", "q_classifier", "q_semdedup", "q_pq_recall",
      "q_ann_index", "q_ann_filtered", "q_window_quantile", "q_neardup_index")
    val names = if (args.nonEmpty) args.toSeq else defaults

    println(f"${"query"}%-24s ${"sec"}%8s ${"jobs"}%6s ${"stages"}%7s ${"tasks"}%6s ${"taskSec"}%8s")
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"[profile] unknown query: $name")
        case Some(fn) =>
          fn(spark, sfDir).count() // warm-up, untimed
          // settle listener events from the warm-up before zeroing
          Thread.sleep(200)
          jobs.set(0); stages.set(0); tasks.set(0); taskMillis.set(0L)
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          val sec = (System.nanoTime() - t0) / 1e9
          Thread.sleep(200) // let straggler listener events land
          println(f"$name%-24s $sec%8.3f ${jobs.get}%6d ${stages.get}%7d ${tasks.get}%6d ${taskMillis.get / 1000.0}%8.2f")
      }
    }
    spark.stop()
  }
}

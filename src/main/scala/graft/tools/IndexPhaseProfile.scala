package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.Session
import org.apache.spark.sql.functions._

import java.util.concurrent.atomic.AtomicInteger

/** Phase-level cost structure of the bench's index-family queries:
  * build / append / delete / merge / probe timed separately with Spark
  * job counts per phase (warm second round is the bench-comparable
  * figure). Run:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.tools.IndexPhaseProfile [bm25|ann|neardup ...]"
  */
object IndexPhaseProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // config experiments: GRAFT_PROFILE_CONF="k=v;k=v" overrides
    sys.env.get("GRAFT_PROFILE_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v) })
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val jobs = new AtomicInteger(0)
    val perJob = sys.env.contains("GRAFT_PROFILE_JOBS")
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (perJob) jobStart.put(j.jobId, (System.nanoTime(),
          Option(j.properties).map(p =>
            Option(p.getProperty("callSite.short")).getOrElse("")).getOrElse("")))
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (perJob) Option(jobStart.remove(j.jobId)).foreach { case (t0, cs) =>
          println(f"    [job ${j.jobId}%4d] ${(System.nanoTime() - t0) / 1e9}%7.3f s  $cs")
        }
    })
    def phase[T](label: String)(f: => T): T = {
      Thread.sleep(100)
      jobs.set(0)
      val t0 = System.nanoTime()
      val r = f
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(100)
      println(f"[phase] $label%-34s $sec%8.3f s  jobs=${jobs.get}%3d")
      r
    }

    val want = if (args.nonEmpty) args.toSet else Set("bm25", "ann", "neardup")
    val tmp = System.getProperty("java.io.tmpdir")
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val bmQueries = d.filter($"doc_id" % 25 === 0 && $"doc_id" < 5000)
      .select($"doc_id".as("query_id"),
        concat_ws(" ", slice(split(trim($"text"), "\\s+"), 1, 4)).as("text"))
    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    for (round <- 1 to 2) {
      println(s"=== round $round (round 2 = warm, bench-comparable) ===")
      if (want("bm25")) {
        val out = s"$tmp/graft_phase_bm25"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
        phase("bm25.build(head60)") {
          graft.ops.Bm25Index.build(d.filter($"doc_id" % 10 < 6), out, nTb = 16)
        }
        phase("bm25.append(tail40)") {
          graft.ops.Bm25Index.append(spark, out, d.filter($"doc_id" % 10 >= 6))
        }
        phase("bm25.topDocs") {
          force(graft.ops.Bm25Index.topDocs(spark, out, bmQueries, k = 10))
        }
        phase("bm25.topDocs(again)") {
          force(graft.ops.Bm25Index.topDocs(spark, out, bmQueries, k = 10))
        }
        val outD = s"$tmp/graft_phase_bm25d"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outD))
        phase("bm25.build(full,blockMax)") {
          graft.ops.Bm25Index.build(d, outD, nTb = 16, blockMax = true)
        }
        phase("bm25.delete(every21st)") {
          graft.ops.Bm25Index.delete(spark, outD, d.filter($"doc_id" % 21 === 0).select($"doc_id"))
        }
        phase("bm25.topDocs(post-delete)") {
          force(graft.ops.Bm25Index.topDocs(spark, outD, bmQueries, k = 10))
        }
        phase("bm25.oneshot(q_bm25)") {
          force(graft.ops.Bm25.topDocs(d, bmQueries, k = 10))
        }
      }
      if (want("ann")) {
        val out = s"$tmp/graft_phase_ann"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
        phase("ann.build(16c,5it)") {
          graft.ops.AnnIndex.build(e, out, nClusters = 16, iters = 5)
        }
        phase("ann.buildPq(16m,32c,5it)") {
          graft.ops.AnnIndex.buildPq(spark, out, m = 16, codes = 32, iters = 5)
        }
        val q = e.filter($"vec_id" < 50)
        phase("ann.topKPq") {
          force(graft.ops.AnnIndex.topKPq(spark, out, q, k = 10, nProbe = 8))
        }
        phase("ann.exact.topK") {
          force(graft.ops.Similarity.topK(e, q, k = 10))
        }
      }
      if (want("neardup")) {
        val out = s"$tmp/graft_phase_nd"
        val pfx = "graft_phase_nd"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
        phase("neardup.build(head60)") {
          graft.ops.NearDupIndex.build(d.filter($"doc_id" % 10 < 6), out, pfx, nBuckets = 8)
        }
        phase("neardup.probePairs(tail40)") {
          force(graft.ops.NearDupIndex.probePairs(spark, pfx, d.filter($"doc_id" % 10 >= 6)))
        }
      }
    }
    spark.stop()
  }
}

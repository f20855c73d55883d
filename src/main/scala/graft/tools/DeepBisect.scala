package graft.tools

import graft.Session

/** Bisect harness for the deep-scale cliff: replays the bench's exact
  * pre-deep sequence (warm-up, big pairTimed, base persist, fleet
  * pairTimed) with stages toggled by args, then times the 1G big
  * stream once, exactly like the bench's deep sample. Not part of the
  * driver contract.
  *
  * Usage: runMain graft.tools.DeepBisect [warm] [big] [fleet] [deep1g]
  */
object DeepBisect {
  def main(args: Array[String]): Unit = {
    val stages = if (args.nonEmpty) args.toSet else Set("warm", "big", "fleet", "deep1g")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    import spark.implicits._
    import org.apache.spark.sql.functions._

    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    def t(label: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime(); body
      println(f"[bisect] $label%-18s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    }

    if (stages("warm")) t("warmup") {
      val warm = graft.core.Ingest.prepare(
        spark.range(10000L).select(($"id" % 5L).as("streamId"), $"id".as("ts"),
          ($"id" % 7L).cast("double").as("value"), $"id".as("arrival")))
      graft.core.Summarizer
        .summarize(warm, graft.windowing.ExponentialWindowing(2.0)).count()
      val (wl, wsp, wel) = graft.core.Summarizer.summarizeWithLandmarkRowsPerStream(
        warm, _ => graft.windowing.ExponentialWindowing(2.0), Seq((100L, 200L)))
      wl.count(); wsp.count(); wel.count()
    }

    def bigRun(n: Long): () => Unit = {
      val events = spark.range(n)
        .select($"id".as("seq"), $"id".as("ts"), ($"id" % 97).cast("double").as("value"))
        .withColumn("streamId", lit(998L))
        .as[graft.core.Event]
      () => force(graft.core.Summarizer
        .summarize(events, graft.windowing.ExponentialWindowing(2.0)).toDF())
    }
    def pairTimed(runLo: () => Unit, runHi: () => Unit): Unit = {
      runLo(); runHi()
      runLo(); runHi(); runLo(); runHi()
    }

    if (stages("big")) t("big pair 10M/100M") {
      pairTimed(bigRun(10000000L), bigRun(100000000L))
    }

    val base =
      if (!stages("fleet") && !stages("fleet5") && !stages("fleet500") &&
        !stages("fleet500x") && !stages("persistonly") && !stages("unpersist")) null
      else {
        val b = graft.core.Ingest.fromEventsTable(spark, sfDir).persist()
        b.count()
        b
      }
    if (stages("fleet")) t("fleet pair 5/50") {
      def fleetRun(copies: Int): () => Unit = {
        val ev = (0 until copies).map(i =>
            base.withColumn("streamId", $"streamId" + lit(10000000L * i)).as[graft.core.Event])
          .reduce(_ unionByName _)
        () => force(graft.core.Summarizer
          .summarize(ev, graft.windowing.ExponentialWindowing(2.0)).toDF())
      }
      pairTimed(fleetRun(5), fleetRun(50))
    }

    // Two fleet-replication shapes: "fleet500" = the N-way unionByName
    // (every task deserializes the whole union lineage's closures —
    // the BENCH_NOTES §7 anti-pattern, kept for contrast);
    // "fleet500x" = generator replication via explode (one closure set
    // per task at any copy count — the shape the bench now uses).
    if (stages("fleet500") || stages("fleet500x")) {
      def fleetUnion(copies: Int): () => Unit = {
        val ev = (0 until copies).map(i =>
            base.withColumn("streamId", $"streamId" + lit(10000000L * i)).as[graft.core.Event])
          .reduce(_ unionByName _)
        () => force(graft.core.Summarizer
          .summarize(ev, graft.windowing.ExponentialWindowing(2.0)).toDF())
      }
      def fleetExplode(copies: Int): () => Unit = {
        val ev = base
          .crossJoin(spark.range(copies).select($"id".as("__copy")))
          .withColumn("streamId", $"streamId" + $"__copy" * lit(10000000L))
          .drop("__copy")
          .as[graft.core.Event]
        () => force(graft.core.Summarizer
          .summarize(ev, graft.windowing.ExponentialWindowing(2.0)).toDF())
      }
      val r = if (stages("fleet500")) fleetUnion(500) else fleetExplode(500)
      t("fleet500 cold")(r())
      sampled { t("fleet500 warm")(r()) }
    }
    if (stages("fleet5")) t("fleet 5 only") {
      val ev = (0 until 5).map(i =>
          base.withColumn("streamId", $"streamId" + lit(10000000L * i)).as[graft.core.Event])
        .reduce(_ unionByName _)
      force(graft.core.Summarizer
        .summarize(ev, graft.windowing.ExponentialWindowing(2.0)).toDF())
    }
    if (stages("unpersist") && base != null) base.unpersist(blocking = true)
    def sampled(body: => Unit): Unit = {
      val counts = collection.mutable.Map.empty[String, Int].withDefaultValue(0)
      val sampler = new Thread(() => {
        try {
          while (!Thread.interrupted()) {
            Thread.sleep(3000)
            import scala.jdk.CollectionConverters._
            Thread.getAllStackTraces.asScala.foreach { case (th, frames) =>
              if (th.getName.startsWith("Executor task launch")) {
                frames.take(8).foreach(f => counts(f.toString) += 1)
              }
            }
          }
        } catch { case _: InterruptedException => () }
      })
      sampler.setDaemon(true)
      sampler.start()
      body
      sampler.interrupt()
      Thread.sleep(300)
      counts.toSeq.sortBy(-_._2).take(25).foreach { case (f, c) =>
        println(f"[sampler] $c%5d  $f")
      }
    }

    if (stages("deep1g")) {
      val sampler = new Thread(() => {
        val counts = collection.mutable.Map.empty[String, Int].withDefaultValue(0)
        try {
          while (!Thread.interrupted()) {
            Thread.sleep(3000)
            import scala.jdk.CollectionConverters._
            Thread.getAllStackTraces.asScala.foreach { case (th, frames) =>
              if (th.getName.startsWith("Executor task launch")) {
                frames.take(6).foreach(f => counts(f.toString) += 1)
              }
            }
          }
        } catch { case _: InterruptedException => () }
        counts.toSeq.sortBy(-_._2).take(25).foreach { case (f, c) =>
          println(f"[sampler] $c%5d  $f")
        }
      })
      sampler.setDaemon(true)
      sampler.start()
      t("DEEP 1G") { bigRun(1000000000L)() }
      sampler.interrupt()
      Thread.sleep(500)
    }
    if (base != null && !stages("unpersist")) base.unpersist()
    spark.stop()
  }
}

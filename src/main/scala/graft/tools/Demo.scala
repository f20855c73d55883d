package graft.tools

import graft.core._
import graft.Session

/** Library usage sample: the SummaryDB public API end-to-end.
  * Run: sbt "runMain graft.tools.Demo"
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val dir = java.nio.file.Files.createTempDirectory("graft_demo").toString
    println(s"DB dir: $dir")
    val db = SummaryDB.open(spark, dir)
    db.newStream(StreamMeta.exponential(1L, 2.0))
    db.newStream(StreamMeta.power(2L, 1, 1, 10, 1))
    db.append(
      (0 until 100).map(i => Event(1L, i, i, i.toDouble)).toDS() union
      (0 until 100).map(i => Event(2L, i, i, i.toDouble)).toDS())
    println("windows per stream: " +
      db.summaryWindows.groupBy("streamId").count().collect().mkString(", "))
    println("count s1 [0,99]: " + db.query(1L, "count", 0, 99))
    println("sum   s1 [0,99]: " + db.query(1L, "sum", 0, 99))
    println("count s2 [0,99]: " + db.query(2L, "count", 0, 99))
    println("range s1 [10,50] count: " + db.query(1L, "count", 10, 50))

    val db2 = SummaryDB.open(spark, dir) // "second session"
    println("reopen streams: " + db2.streams.keys.toSeq.sorted)
    db2.append((100 until 130).map(i => Event(1L, i, i, i.toDouble)).toDS())
    println("after append count s1 [0,129]: " + db2.query(1L, "count", 0, 129))
    println("after append count s2 [0,99]:  " + db2.query(2L, "count", 0, 99))
    println("unknown stream query: " + db2.query(99L, "count", 0, 10))
    println("empty range query: " + db2.query(1L, "count", 5000, 6000))
    try { db2.query(1L, "median", 0, 9); () }
    catch { case e: IllegalArgumentException => println("unknown op -> " + e.getMessage) }
    // Out-of-order batch: ts 50..59 arrive after frontier 129 -> clamped
    // to the frontier (reference monotonic repair); totals stay exact.
    db2.append((0 until 10).map(i => Event(1L, i.toLong, 50L + i, 1000.0 + i)).toDS())
    println("after ooo append count s1 full: " + db2.query(1L, "count", 0, Long.MaxValue / 2))
    println("after ooo append max  s1 full: " + db2.query(1L, "max", 0, Long.MaxValue / 2))
    println("on-disk layout: " +
      new java.io.File(dir).listFiles().map(_.getName).sorted.mkString(", "))

    // Per-stream landmark: mark [10,39] exact on stream 1 only.
    db2.newLandmark(1L, 10L, 39L)
    println("landmark s1 sum[15,30]: " + db2.query(1L, "sum", 15, 30) + " (exact)")
    println("no landmark s2 sum[15,30]: " + db2.query(2L, "sum", 15, 30) + " (approx)")

    // Distinct-count summaries: the store keeps windowed HLL sketches
    // and (under the approximate flag) answers distinct aggregates over
    // raw events from O(log N) sketch rows.
    db2.enableDistinctSummaries()
    spark.conf.set("spark.graft.rewrite.approximate", "true")
    val d1 = db2.rawEvents.filter($"streamId" === 1L)
      .agg(org.apache.spark.sql.functions.approx_count_distinct($"value").as("d"))
      .head().getLong(0)
    println(s"distinct s1 via window sketches: $d1")
    spark.conf.unset("spark.graft.rewrite.approximate")

    // One-call corpus curation over a documents table.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val curated = graft.ops.Curation.curate(docs,
      graft.ops.Curation.Config(
        langs = Set("en", "de", "fr", "es", "zh"),
        minQuality = 0.3, nearDupThreshold = 0.9,
        mixtureRates = Map("src0" -> 1.0), defaultRate = 0.5,
        packBudget = 256L, packShards = 4),
      benchmark = Some(docs.filter($"doc_id" % 17 === 0)))
    println("curation report: " + curated.report.map { case (s, n) => s"$s=$n" }.mkString(" -> "))

    // Round-7 operators: tokenizer, LM quality, classifier persistence,
    // compressed ANN, data card.
    val bpe = graft.ops.Bpe.train(docs, vocabSize = 300, maxWords = 5000)
    val encoded = graft.ops.Bpe.encode(docs, bpe)
    println("bpe: vocab=" + bpe.vocab.size + " merges=" + bpe.merges.size +
      " tokens=" + encoded.agg(org.apache.spark.sql.functions.sum($"n_tokens")).head().getLong(0))
    val ppl = graft.ops.LanguageModel.perplexityScores(docs)
    println("perplexity p50: " + ppl.stat.approxQuantile("perplexity", Array(0.5), 0.01).head)
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pq = graft.ops.ProductQuantization
      .pqTopK(embs, embs.filter($"vec_id" < 3), k = 5, m = 16, codes = 32, iters = 3)
    println("pq top-5 of query 0: " + pq.filter($"query_id" === 0)
      .orderBy($"rank").collect().map(r => r.getLong(1)).mkString(","))
    val card = graft.ops.DataCard.card(docs)
    println("data card slices: " + card.count() + " (one shown) " +
      card.orderBy($"n_docs".desc).head())

    // Round-7 additions: line dedup, bloom-pruned join, snapshot diff,
    // NFC normalization, anomaly triage over the summary store.
    val boiler = docs.select($"doc_id",
      org.apache.spark.sql.functions.concat($"text",
        org.apache.spark.sql.functions.lit("\nall rights reserved")).as("text"))
    val lineClean = graft.ops.LineDedup.removeDuplicatedLines(boiler)
    println("line dedup: footer copies surviving = " +
      lineClean.filter($"clean_text".contains("all rights reserved")).count())

    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val dim = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .filter($"o_orderkey" % 97 === 0)
    val (bin, bpruned, bmatch) =
      graft.ops.BloomJoin.pruneStats(li, dim, "l_orderkey", "o_orderkey")
    println(s"bloom join: fact rows $bin -> pruned $bpruned (matching $bmatch)")

    val next = docs.filter($"doc_id" % 13 =!= 0)
    println("snapshot diff: " + graft.ops.CorpusDiff.diffSummary(docs, next)
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" "))

    println("nfc: " + spark.range(1)
      .select(graft.ops.TextAnalysis
        .nfcCol(spark, org.apache.spark.sql.functions.lit("cafe\u0301")))
      .head().getString(0))

    val anomalies = StreamStats.anomalousWindows(db2.summaryWindows)
    println("anomaly triage rows (from summary store alone): " + anomalies.count())

    // SQL surface tour.
    graft.functions.GraftFunctions.register(spark)
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .createOrReplaceTempView("documents")
    spark.sql(
      """SELECT graft_lang_id(text) AS lang, count(*) AS n,
        |  round(avg(graft_jaccard(text, text)), 1) AS self_jaccard
        |FROM documents GROUP BY 1 ORDER BY n DESC LIMIT 3""".stripMargin)
      .collect().foreach(r => println(s"sql: lang=${r.getString(0)} n=${r.getLong(1)} selfJ=${r.getDouble(2)}"))
    spark.stop()
  }
}

package graft.tools

import graft.Session
import org.apache.spark.sql.functions._

/** Bench-side experiment for the Block-Max anchor: a MODERATELY skewed
  * corpus — mid-df terms whose global (max_tf, min_dl) bound is
  * inflated by a sprinkle of spam docs (one term repeated in a short
  * doc) — where term-level MaxScore has too little to skip (the r13
  * gate routes exhaustive) but per-block bounds demote the mid terms
  * everywhere outlier-free. Prints the three probe timings (block
  * pruned / term-level / exhaustive) plus the route diagnostics, so
  * the corpus parameters can be tuned before the recipe lands in
  * [[graft.Bench]].
  *
  * Usage: runMain graft.tools.ModSkewProbe [nDocs] [spamEvery] [vocab]
  */
object ModSkewProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(100000L)
    val spamEvery = args.lift(1).map(_.toLong).getOrElse(911L)
    val vocab = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    import spark.implicits._

    // Docs: 5 DISTINCT mids (consecutive window of a 10-term vocab,
    // tf exactly 1 each, df 50%) + 1 rare (df ~1.5%, the high-idf
    // anchor that sets θ) + 6 pads -> dl exactly 12 for every clean
    // doc. Spam: one mid repeated 6x in a 6-token doc — the outlier
    // that lifts its term's GLOBAL bound ~2.2x while every
    // spam-free doc-block keeps the typical bound.
    val h = pmod(hash($"id", lit(1)), lit(vocab))
    def midAt(off: Int) = concat(lit("mid"), pmod(h + lit(off), lit(vocab)))
    val rareOf = concat(lit("rare"), pmod(hash($"id", lit(2)), lit(66)))
    val docs = spark.range(n).select($"id".as("doc_id"),
      when(pmod($"id", lit(spamEvery)) === 0,
        concat_ws(" ", array_repeat(midAt(0), 6)))
        .otherwise(concat_ws(" ",
          midAt(0), midAt(1), midAt(2), midAt(3), midAt(4), rareOf,
          lit("pada padb padc padd pade padf")))
        .as("text")).localCheckpoint()
    // Queries: 7 consecutive mids + 1 rare. θ lands at ~idf_rare +
    // idf_mid (the seed pair), the 7 clean-block mid bounds sum just
    // under it (all demoted per block), while term-level bounds
    // (spam-inflated) demote only ~3 of 7 — the regime where the r13
    // gate correctly routed exhaustive and Block-Max flips it.
    val g = pmod(hash($"id", lit(21)), lit(vocab))
    def qmid(off: Int) = concat(lit("mid"), pmod(g + lit(off), lit(vocab)))
    val queries = spark.range(100).select($"id".as("query_id"),
      concat_ws(" ", qmid(0), qmid(1), qmid(2), qmid(3), qmid(4), qmid(5), qmid(6),
        concat(lit("rare"), pmod(hash($"id", lit(22)), lit(66)))
      ).as("text")).localCheckpoint()

    val dir = java.nio.file.Files.createTempDirectory("graft_modskew").toString
    val t0 = System.nanoTime()
    graft.ops.Bm25Index.build(docs, dir, nTb = 64, blockMax = true)
    println(f"build_sec=${(System.nanoTime() - t0) / 1e9}%.2f n=$n")

    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    def timed(label: String, once: Boolean = false)(
        r: => graft.ops.Bm25Index.ProbeReport): Double = {
      if (!once) r // warm (expensive controls run once, unwarmed)
      var rep: graft.ops.Bm25Index.ProbeReport = null
      val a = { val t = System.nanoTime(); rep = r; (System.nanoTime() - t) / 1e9 }
      val b = if (once) a
        else { val t = System.nanoTime(); rep = r; (System.nanoTime() - t) / 1e9 }
      val best = math.min(a, b)
      println(f"$label%-28s ${best}%.3f s  path=${rep.path} " +
        f"demoted=${rep.demotedPairs} partial=${rep.partialMaskPairs}")
      best
    }
    def probe(prune: Boolean): graft.ops.Bm25Index.ProbeReport = {
      val (df, rep) = graft.ops.Bm25Index.topDocsWithReport(
        spark, dir, queries, k = 10, prune = prune)
      force(df); rep
    }
    timed("pruned(blocks)")(probe(prune = true))
    val oldB = graft.ops.Bm25Index.BlockSplitMaxPairs
    graft.ops.Bm25Index.BlockSplitMaxPairs = 0L
    try timed("pruned(term-level)", once = true)(probe(prune = true))
    finally graft.ops.Bm25Index.BlockSplitMaxPairs = oldB
    timed("exhaustive", once = true)(probe(prune = false))
    // parity of the three routes on this corpus
    val p = graft.ops.Bm25Index.topDocs(spark, dir, queries, k = 10)
      .orderBy("query_id", "rank").collect().toSeq
    val e = graft.ops.Bm25Index.topDocs(spark, dir, queries, k = 10, prune = false)
      .orderBy("query_id", "rank").collect().toSeq
    println(s"parity=${p == e}")
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The two synthetic BM25 corpora that pruning exists for, each with
  * its fixed query batch, shared by [[Bench]]'s deep anchors and
  * `tools.Profile bm25`. Rows are a pure function of the arguments
  * (fixed hash seeds), and every frame is local-checkpointed once.
  */
private[graft] object Bm25Corpora {

  /** Moderate skew (the Block-Max workload): 5 DISTINCT mids (a
    * consecutive window of a `vocab`-term vocabulary, tf exactly 1
    * each) + 1 rare (the high-idf anchor that sets θ) + 6 pads, so dl
    * is exactly 12 for every clean doc. Every `spamEvery`-th doc is
    * one mid repeated 6x in a 6-token doc: the outlier that lifts its
    * term's GLOBAL bound ~2.2x while every spam-free doc-block keeps
    * the typical bound.
    */
  def modskewDocs(spark: SparkSession, n: Long, spamEvery: Long, vocab: Int = 10): DataFrame = {
    import spark.implicits._
    val h = pmod(hash($"id", lit(1)), lit(vocab))
    def midAt(off: Int) = concat(lit("mid"), pmod(h + lit(off), lit(vocab)))
    spark.range(n).select($"id".as("doc_id"),
      when(pmod($"id", lit(spamEvery)) === 0,
        concat_ws(" ", array_repeat(midAt(0), 6)))
        .otherwise(concat_ws(" ",
          midAt(0), midAt(1), midAt(2), midAt(3), midAt(4),
          concat(lit("rare"), pmod(hash($"id", lit(2)), lit(66))),
          lit("pada padb padc padd pade padf")))
        .as("text")).localCheckpoint()
  }

  /** 100 queries of 7 consecutive mids + 1 rare: θ lands at ~idf_rare
    * + idf_mid, the 7 clean-block mid bounds sum just under it (all
    * demoted per block), while term-level bounds (spam-inflated) demote
    * only ~3 of 7.
    */
  def modskewQueries(spark: SparkSession, vocab: Int = 10): DataFrame = {
    import spark.implicits._
    val g = pmod(hash($"id", lit(21)), lit(vocab))
    def qmidAt(off: Int) = concat(lit("mid"), pmod(g + lit(off), lit(vocab)))
    spark.range(100).select($"id".as("query_id"),
      concat_ws(" ", qmidAt(0), qmidAt(1), qmidAt(2), qmidAt(3), qmidAt(4),
        qmidAt(5), qmidAt(6),
        concat(lit("rare"), pmod(hash($"id", lit(22)), lit(66)))
      ).as("text")).localCheckpoint()
  }

  /** Zipf text: 3 ubiquitous terms + 2 mid of 50 + 2 rare of 100k per
    * doc. The filler varies dl 7..10 so tf-saturation differs per doc;
    * without it every tf=1 match scores identically and the top-k
    * boundary becomes a corpus-wide tie plateau.
    */
  def zipfDocs(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
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

  /** 200 common + mid + rare queries. */
  def zipfQueries(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.range(200).select($"id".as("query_id"),
      concat_ws(" ", lit("the"), lit("of"),
        concat(lit("mid"), pmod(hash($"id", lit(9)), lit(50))),
        concat(lit("rare"), pmod(hash($"id", lit(10)), lit(100000)))
      ).as("text")).localCheckpoint()
  }
}

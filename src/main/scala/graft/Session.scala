package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession every main and tool runs on — one recipe, so
  * the correctness dump, the bench and the profilers all measure the
  * same configuration.
  */
object Session {
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      // BM25 probes push `term IN (...)` into term-sorted postings;
      // above this threshold parquet degrades the In to a min/max
      // range and the row-group skip is lost (values only change scan
      // IO, never results)
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "2048")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

package graft.tools

import graft.Session
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Replicate a testdata scale-factor directory N-fold into a new
  * directory — the "second scale point" for the full query sweep
  * (BENCH at sf0.1 AND at 10x) without touching the read-only driver
  * testdata.
  *
  * Scaling discipline (what makes the result a fair 10x, not ten
  * stacked copies of the same keys):
  *   - every synthetic entity key is offset per replica by a constant
  *     stride, so fact/dim joins fan out like a larger generated SF
  *     (10x customers each with their original orders, 10x documents,
  *     10x users in the event stream — the fleet grows, matching how
  *     the range-parallel ingest scales);
  *   - `nation`/`region` stay fixed (they are constant-size dims at
  *     every TPC-H SF);
  *   - document text gets a per-replica marker token so the corpus
  *     does not become 90% exact duplicates (which would let hash
  *     dedup collapse the sweep's work); within-replica duplicates
  *     survive untouched;
  *   - embeddings get a per-replica 1e-6 nudge so vector ops see
  *     distinct points rather than 10-way score ties.
  *
  * Usage: runMain graft.tools.ScaleData <srcDir> <outDir> <factor>
  */
object ScaleData {

  /** Key stride between replicas — far above any sf0.1 key. */
  val Stride = 10_000_000L

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleData <srcDir> <outDir> <factor>")
    val Array(src, out, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1, s"factor must be >= 1: $factor")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    scale(spark, src, out, factor)
    spark.stop()
  }

  def scale(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    // Parquet nanos timestamps only load under this flag (as longs);
    // value-preserving on the round trip either way.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(t: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")

    /** Union `factor` copies of `df`, shifting each `keys` column by
      * replica * Stride and applying `tweak(replica)` to each copy.
      */
    def replicate(df: DataFrame, keys: Seq[String])(
        tweak: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until factor).map { r =>
        val shifted = keys.foldLeft(df)((d, k) =>
          d.withColumn(k, col(k) + lit(r * Stride)))
        tweak(shifted, r)
      }.reduce(_ unionByName _)

    write("region", read("region"))
    write("nation", read("nation"))
    write("customer", replicate(read("customer"), Seq("c_custkey"))())
    write("supplier", replicate(read("supplier"), Seq("s_suppkey"))())
    write("part", replicate(read("part"), Seq("p_partkey"))())
    write("orders", replicate(read("orders"), Seq("o_orderkey", "o_custkey"))())
    write("lineitem", replicate(
      read("lineitem"), Seq("l_orderkey", "l_partkey", "l_suppkey"))())
    write("events", replicate(read("events"), Seq("event_id", "user_id"))())
    write("documents", replicate(read("documents"), Seq("doc_id")) { (d, r) =>
      if (r == 0) d
      else d.withColumn("text", concat(col("text"), lit(s" r$r")))
        .withColumn("n_chars", col("n_chars") + lit(3 + (if (r >= 10) 1 else 0)))
    })
    write("embeddings", replicate(read("embeddings"), Seq("vec_id")) { (d, r) =>
      if (r == 0) d
      else d.withColumn("embedding",
        transform(col("embedding"), x => x + lit(r * 1e-6f)))
    })
  }
}

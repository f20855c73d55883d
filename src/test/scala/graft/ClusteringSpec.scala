package graft

import graft.ops.{Clustering, Similarity}
import org.apache.spark.sql.functions._

class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  private lazy val embs = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("kmeans: deterministic, covers all points, k cells") {
    val (a1, c1) = Clustering.kmeans(embs, k = 8, iters = 3)
    val (a2, c2) = Clustering.kmeans(embs.repartition(7), k = 8, iters = 3)
    assert(a1.count() == embs.count())
    assert(c1.length == 8 && c1.zip(c2).forall { case (x, y) => x.sameElements(y) })
    val m1 = a1.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val m2 = a2.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(m1 == m2, "clustering depends on partitioning")
    assert(a1.select($"cluster").distinct().count() >= 2, "degenerate clustering")
  }

  test("ivf top-k: recall floor vs exact, never all-pairs") {
    val queries = embs.filter($"vec_id" < 20)
    val exact = Similarity.topK(embs, queries, k = 10)
      .select($"query_id", $"neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Clustering.ivfTopK(embs, queries, k = 10, nClusters = 8, nProbe = 4)
      .select($"query_id", $"neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVF recall too low: $recall")
    // Probing 4 of 8 cells: candidate work is about half the corpus per
    // query, strictly less than brute force.
    assert(ivf.size <= exact.size)
  }

  test("centroidRows budget counts shuffle partitions, not only cores") {
    // 64 partitions on 4 cores: every partition emits its own partials,
    // so 16x the bytes a cores-only estimate expects reach the driver.
    val keys = 4L; val dim = 8L
    val pairs = spark.range(0L, 640L, 1L, 64)
      .map(i => ((i % keys).toInt, Seq.fill(dim.toInt)(i.toDouble)))
    val perPartition = keys * (dim * 24L + 64L)
    def run() = SparkCounts.of(spark)(
      Clustering.centroidRows(pairs, Clustering.CentroidAggD, keys, dim)
        .sortBy(_._1).map { case (k, a) => (k, a.sums.toSeq, a.counts.toSeq) })
    val (combined, direct) = run() // default budget: driver combine
    assert(direct.shuffleBytes == 0L)
    val budget = Clustering.DriverCombineMaxBytes
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    Clustering.DriverCombineMaxBytes = spark.sparkContext.defaultParallelism * perPartition
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    try {
      val (shuffled, counts) = run()
      assert(counts.shuffleBytes > 0L, "64 partitions of partials passed a budget sized for the cores")
      assert(shuffled.toSeq == combined.toSeq)
    } finally {
      Clustering.DriverCombineMaxBytes = budget
      spark.conf.set("spark.sql.shuffle.partitions", partitions)
    }
  }
}

package graft

import graft.ops.{AnnIndex, DedupIndex, NearDupIndex}
import graft.sources.SwapHooks
import org.apache.spark.sql.functions._

/** Zero-downtime rebuild contract for the three persisted serving
  * indexes: a probe that runs AFTER the new generation is fully staged
  * but BEFORE its swap must read the OLD complete index (never a torn
  * or half-written state), and a probe after the rebuild returns must
  * see the new generation. The [[SwapHooks.preSwap]] seam fires exactly
  * at that boundary; probes never take the writer lock, so hooked
  * probes exercise the real concurrent-reader path.
  */
class GenerationSwapSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir() =
    java.nio.file.Files.createTempDirectory("graft_genswap").toString

  private def vecs(ids: Range, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    ids.map(i => (i.toLong, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
  }

  private def withHook[T](hook: => Unit)(body: => T): T = {
    SwapHooks.preSwap = _ => hook
    try body finally SwapHooks.preSwap = _ => ()
  }

  test("AnnIndex.build: probe between staging write and swap serves the OLD generation") {
    val dir = tmpDir()
    val genA = vecs(0 until 120, seed = 1)
    val genB = vecs(5000 until 5100, seed = 2)
    AnnIndex.build(genA, dir, nClusters = 4, iters = 2)
    val q = vecs(9000 until 9005, seed = 3)
    def probe() = AnnIndex.topK(spark, dir, q, k = 3, nProbe = 4)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val before = probe()
    assert(before.forall(_._2 < 120L))
    var hooked = Option.empty[Set[(Long, Long)]]
    withHook { hooked = Some(probe()) } {
      AnnIndex.build(genB, dir, nClusters = 4, iters = 2)
    }
    assert(hooked.contains(before),
      s"mid-rebuild probe must serve the old complete generation: $hooked vs $before")
    val after = probe()
    assert(after.forall(_._2 >= 5000L), s"post-swap probe must serve the new generation: $after")
  }

  test("AnnIndex.buildPq: topKPq mid-rebuild serves the OLD sidecar, consistently") {
    val dir = tmpDir()
    AnnIndex.build(vecs(0 until 150, seed = 7), dir, nClusters = 4, iters = 2)
    AnnIndex.buildPq(spark, dir, m = 4, codes = 8, iters = 2)
    val q = vecs(9000 until 9004, seed = 8)
    def probe() = AnnIndex.topKPq(spark, dir, q, k = 3, nProbe = 4)
      .select($"query_id", $"neighbor_id", $"score").collect().map(_.toSeq).toSet
    val before = probe()
    var hooked = Option.empty[Set[Seq[Any]]]
    // re-tune the sidecar: different m/codes — a torn read (new codes
    // under old codebooks or vice versa) could not reproduce `before`
    withHook { hooked = Some(probe()) } {
      AnnIndex.buildPq(spark, dir, m = 8, codes = 16, iters = 2)
    }
    assert(hooked.contains(before), "mid-rebuild topKPq must serve the old sidecar")
    probe() // new sidecar serves
  }

  test("AnnIndex.compact: probe between tree rewrite and swap serves the OLD tree") {
    val dir = tmpDir()
    AnnIndex.build(vecs(0 until 100, seed = 11), dir, nClusters = 4, iters = 2)
    (0 until 3).foreach(b =>
      AnnIndex.append(spark, dir, vecs(1000 + b * 10 until 1010 + b * 10, seed = 12 + b)))
    val q = vecs(9000 until 9003, seed = 20)
    def probe() = AnnIndex.topK(spark, dir, q, k = 3, nProbe = 4)
      .collect().map(_.toSeq).toSet
    val before = probe()
    var hooked = Option.empty[Set[Seq[Any]]]
    withHook { hooked = Some(probe()) } { AnnIndex.compact(spark, dir) }
    assert(hooked.contains(before), "mid-compact probe must serve the old tree")
    assert(probe() == before, "compaction must not change probe results")
  }

  test("DedupIndex.build: filterNew mid-rebuild answers from the OLD generation") {
    val dir = tmpDir()
    val tbl = "graft_genswap_dedup"
    val genA = Seq((1L, "alpha page"), (2L, "beta page")).toDF("doc_id", "text")
    val genB = Seq((3L, "gamma page"), (4L, "delta page")).toDF("doc_id", "text")
    val batch = Seq((100L, "alpha page"), (101L, "gamma page")).toDF("doc_id", "text")
    DedupIndex.build(genA, dir, tbl, nBuckets = 2)
    def probe() = DedupIndex.filterNew(spark, tbl, batch)
      .select($"doc_id").as[Long].collect().toSet
    assert(probe() == Set(101L)) // alpha seen, gamma new
    var hooked = Option.empty[Set[Long]]
    withHook { hooked = Some(probe()) } { DedupIndex.build(genB, dir, tbl, nBuckets = 2) }
    assert(hooked.contains(Set(101L)), s"mid-rebuild probe must see gen A: $hooked")
    assert(probe() == Set(100L), "post-swap probe must see gen B (gamma seen, alpha new)")
  }

  test("NearDupIndex.build: probePairs mid-rebuild answers from the OLD generation") {
    val dir = tmpDir()
    val pfx = "graft_genswap_nd"
    val t1 = "the quick brown fox jumps over the lazy dog tonight"
    val t2 = "a completely different sentence about spark query engines"
    val genA = Seq((1L, t1)).toDF("doc_id", "text")
    val genB = Seq((2L, t2)).toDF("doc_id", "text")
    val batch = Seq((100L, t1), (101L, t2)).toDF("doc_id", "text")
    NearDupIndex.build(genA, dir, pfx, nBuckets = 2)
    def probe() = NearDupIndex.probePairs(spark, pfx, batch, threshold = 0.9)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(probe() == Set((1L, 100L)))
    var hooked = Option.empty[Set[(Long, Long)]]
    withHook { hooked = Some(probe()) } { NearDupIndex.build(genB, dir, pfx, nBuckets = 2) }
    assert(hooked.contains(Set((1L, 100L))), s"mid-rebuild probe must see gen A: $hooked")
    assert(probe() == Set((2L, 101L)), "post-swap probe must see gen B")
  }

  test("AnnIndex.compact runs a bounded number of jobs however many cells (single-job contract)") {
    val dir = tmpDir()
    // 16 cells; the old per-cell loop would run >= 16 write jobs here
    AnnIndex.build(vecs(0 until 400, seed = 41), dir, nClusters = 16, iters = 1)
    AnnIndex.append(spark, dir, vecs(2000 until 2080, seed = 42))
    val (_, counts) = SparkCounts.of(spark)(AnnIndex.compact(spark, dir))
    assert(counts.jobs <= 8,
      s"compact must be O(1) Spark jobs regardless of the 16 cells, ran ${counts.jobs}")
  }
}

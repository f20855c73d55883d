package graft

import graft.ops.{DedupIndex, Tombstones}
import graft.sources.TinyParquet
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** The serving indexes' shared takedown store: the driver-side and the
  * Spark read of a set give identical rows, and a registered tombstone
  * table is read from its own catalog location.
  */
class TombstonesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_tomb").toString + "/tombstones"

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("driver-side (LocalRelation) and Spark reads give the same rows") {
    val pairs = tmp()
    // two files, one duplicated row: the read is the DISTINCT set
    Seq(("h1", 1L), ("h2", 2L)).toDF("text_hash", "keep_id").write.parquet(pairs)
    Seq(("h2", 2L), ("h3", 7L)).toDF("text_hash", "keep_id").write.mode("append").parquet(pairs)
    val ids = tmp()
    Seq(5L, 3L, 5L, 9L).toDF("doc_id").write.parquet(ids)
    val sets = Seq(
      new Tombstones(spark, pairs,
        new StructType().add("text_hash", StringType, nullable = false)
          .add("keep_id", LongType, nullable = false), perRowBytes = 64L),
      new Tombstones(spark, ids, Tombstones.longKey("doc_id")))
    sets.foreach { t =>
      val tiny = t.read().get
      val big = TinyParquet.forcingSpark(t.read()).get
      assert(tiny.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
      assert(!big.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
      assert(rowsOf(tiny) == rowsOf(big))
    }
    assert(rowsOf(sets(0).read().get) == Seq("[h1,1]", "[h2,2]", "[h3,7]"))
    assert(rowsOf(sets(1).read().get) == Seq("[3]", "[5]", "[9]"))
    assert(new Tombstones(spark, tmp(), Tombstones.longKey("doc_id")).read().isEmpty)
  }

  test("a re-registered Dedup index honors its catalog's tombstones, not the cached root's") {
    def mk(rows: (Long, String)*): DataFrame = rows.toDF("doc_id", "text")
    val dirA = java.nio.file.Files.createTempDirectory("graft_tomb_a").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft_tomb_b").toString
    val (a, b) = ("graft_test_tomb_a", "graft_test_tomb_b")
    val corpus = mk(1L -> "alpha page", 2L -> "beta page")
    DedupIndex.build(corpus, dirA, a, nBuckets = 4)
    DedupIndex.build(corpus, dirB, b, nBuckets = 4)
    assert(DedupIndex.delete(spark, a, Seq(1L).toDF("doc_id")) == 1L) // X: alpha
    assert(DedupIndex.delete(spark, b, Seq(2L).toDF("doc_id")) == 1L) // Y: beta
    // Out-of-band re-registration of A's names over B's files, through
    // the catalog alone: no DedupIndex mutator runs, so A's cached root
    // still points at dirA.
    spark.sql(s"DROP TABLE $a")
    spark.sql(s"DROP TABLE ${DedupIndex.tombstonesTable(a)}")
    spark.catalog.createTable(a, s"$dirB/hashes", "parquet")
    spark.catalog.createTable(DedupIndex.tombstonesTable(a), s"$dirB/tombstones", "parquet")
    // B's live set: alpha seen (kept by 1), beta taken down — so only
    // the beta row is new. Honoring A's stale X would flip both.
    val fresh = DedupIndex.filterNew(spark, a, mk(10L -> "alpha page", 11L -> "beta page"))
      .select($"doc_id").as[Long].collect().toSet
    assert(fresh == Set(11L))
  }
}

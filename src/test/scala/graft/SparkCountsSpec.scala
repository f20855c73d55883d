package graft

/** The library's job counter: counts are read after the listener bus
  * drains, so they are exact, not a race against a sleep.
  */
class SparkCountsSpec extends SparkSpec {
  import spark.implicits._

  test("a collect over a LocalRelation runs no job") {
    val local = Seq(1L, 2L, 3L).toDF("x")
    val (rows, counts) = SparkCounts.of(spark)(local.collect())
    assert(rows.length == 3)
    assert(counts.jobs == 0L && counts.shuffleBytes == 0L && counts.jobLines.isEmpty, counts)
  }

  test("a repartition and collect counts its jobs, one line each, and its shuffle bytes") {
    val (rows, counts) = SparkCounts.of(spark)(spark.range(0L, 1000L, 1L, 4).repartition(3).collect())
    assert(rows.length == 1000)
    assert(counts.jobs >= 1L && counts.stages >= 2L && counts.tasks >= 4L, counts)
    assert(counts.shuffleBytes > 0L, counts)
    assert(counts.jobLines.size.toLong == counts.jobs, counts)
    assert(counts.jobLines.forall(_.callSite.contains("SparkCountsSpec.scala")), counts.jobLines)
    assert(counts.jobLines.map(_.id) == counts.jobLines.map(_.id).sorted)
  }

  test("repeats of one body count the same jobs") {
    def once() = SparkCounts.of(spark) {
      spark.range(0L, 500L, 1L, 4).groupBy(($"id" % 7L).as("k")).count().collect()
    }._2
    val runs = Seq.fill(3)(once())
    assert(runs.map(_.jobs).distinct.size == 1, runs.map(_.jobs))
    assert(runs.map(_.jobLines.size).distinct.size == 1, runs.map(_.jobLines.size))
  }
}

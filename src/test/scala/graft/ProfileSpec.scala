package graft

import graft.tools.Profile

/** Every mode of `tools.Profile` runs on the test session over the
  * sf0.001 testdata with small sizes, and prints one line per phase.
  */
class ProfileSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  private def printed(mode: String, args: String*): Seq[String] = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Profile.run(spark, sfDir, mode, args))
    out.toString.linesIterator.toSeq
  }

  private def phases(lines: Seq[String]): Seq[String] = lines.filter(_.startsWith("[phase]"))

  test("ingest: the ingest and near-dup phases, two rounds") {
    val lines = printed("ingest")
    Seq("ingest[2]: with landmarks", "dedup[2]: end-to-end (as benched)", "stage: verify kernel")
      .foreach(l => assert(phases(lines).exists(_.contains(l)), l))
    assert(lines.exists(_.startsWith("[stage] verify join types:")))
  }

  test("queries: one phase per named query; an unknown name fails") {
    val lines = phases(printed("queries", "q_bm25", "q_range_count"))
    assert(lines.size == 2 && lines.head.contains("q_bm25") && lines(1).contains("q_range_count"), lines)
    assert(lines.forall(_.contains("jobs=")), lines)
    intercept[IllegalArgumentException](printed("queries", "q_nope"))
  }

  test("index: every family's phases with per-job lines, two rounds") {
    val lines = printed("index")
    val ph = phases(lines)
    Seq("bm25.build(head60)", "bm25.topDocs(post-delete)", "ann.topKPq", "neardup.probePairs(tail40)")
      .foreach(l => assert(ph.count(_.contains(l)) == 2, l))
    assert(lines.exists(_.trim.startsWith("[job")), "no per-job lines")
    intercept[IllegalArgumentException](printed("index", "btree"))
  }

  test("bm25: three routes per corpus, each with its report, and top-k parity") {
    val lines = printed("bm25", "3000")
    for (corpus <- Seq("modskew", "zipf"); route <- Seq("pruned(floors=0)", "term-level", "exhaustive"))
      assert(phases(lines).exists(_.contains(s"$corpus n=3000 $route")), s"$corpus $route")
    // in route order: pruned, term-level, exhaustive; modskew, then zipf
    val reports = lines.map(_.trim).filter(_.startsWith("ProbeReport("))
    assert(reports.size == 6, lines.mkString("\n"))
    Seq(0, 3).foreach(i => assert(reports(i).startsWith("ProbeReport(pruned,"), reports(i)))
    Seq(2, 5).foreach(i => assert(reports(i).startsWith("ProbeReport(exhaustive,"), reports(i)))
    assert(lines.exists(_.trim.startsWith("[job")), "no per-job lines")
  }

  test("an unknown mode fails and names the modes") {
    val e = intercept[IllegalArgumentException](Profile.run(spark, sfDir, "nope", Nil))
    Seq("ingest", "queries", "index", "bm25").foreach(m => assert(e.getMessage.contains(m), e.getMessage))
  }
}

package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The bench's final digest line stays inside the harness's 2000-char
  * tail and parses as JSON however many queries fail.
  */
class BenchDigestSpec extends AnyFunSuite {

  private val head =
    """"metric":"total","value":123.456789,"unit":"sec",""" +
    (1 to 12).map(i => s""""q_some_query_name_$i":${i * 1.5}""").mkString(""""queries":{""", ",", "},") +
    """"queries_all_in":"bench_full.json","n_queries":0,"ingest_sec":1.2345,""" +
    """"ingest_rows_per_sec":1000000,"raw_rows":100000,"summary_windows":12079,""" +
    """"compression_ratio":8.278831,"big_stream_rows_per_sec":2000000,"big_stream_windows":40"""

  test("115 errors of 200 chars: digest <= 1900 chars, valid JSON, count plus first error") {
    val errors = collection.mutable.LinkedHashMap.empty[String, String]
    (1 to 115).foreach { i =>
      errors(f"q_query_$i%03d") = (f"""failure "$i%03d" at\tstage\n""" + "x" * 200).take(200)
    }
    val optional = Seq(
      """"skew_check":{"ratio":1.5}""", """"scale_check":{"ratio":2.0}""", """"index_check":{"ok":true}""")
    val line = Bench.digest(head, errors, optional, "/data/sf0.1")
    assert(line.length <= 1900, s"digest is ${line.length} chars")
    val json = new ObjectMapper().readTree(line)
    assert(json.get("n_errors").asInt() == 115)
    assert(json.get("errors").size() == 1)
    assert(json.get("errors").get("q_query_001").asText() == errors("q_query_001"))
    assert(json.get("sf").asText() == "/data/sf0.1")
    assert(json.get("skew_check").get("ratio").asDouble() == 1.5)
  }

  test("no errors: empty errors map, every optional block that fits is kept") {
    val big = """"index_check":{"pad":"""" + "p" * 1500 + "\"}"
    val line = Bench.digest(head, Map.empty, Seq(""""skew_check":{}""", big, """"scale_check":{}"""), "sf")
    val json = new ObjectMapper().readTree(line)
    assert(json.get("n_errors").asInt() == 0 && json.get("errors").size() == 0)
    assert(json.has("skew_check") && json.has("scale_check") && !json.has("index_check"))
    assert(line.length <= 1900)
  }
}

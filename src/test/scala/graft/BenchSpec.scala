package graft

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("compact line stays within a 2 KB tail capture and parses, even " +
      "when every query retried and every retry was a suspect") {
    val sfDir = "/data/sf0.1"
    val names = (0 until 249).map(i => f"q_query_with_a_long_name_$i%03d")
    val retries = names.map(_ -> ((12.345, true)))
    // the staging keys of a full run
    val staging = Seq("ann:assigned2", "ann:assigned", "ann:centconf",
      "ann:kmeans2", "ann:mmr5", "ann:proj5", "ann:truth5", "bpe:merges",
      "dedup:cc05", "dedup:pairs05", "dedup:ranked3", "dedup:shingles3",
      "download:edges", "download:media", "download:records", "graph:tri97",
      "kn3:counts", "kn3:joined", "kn:counts", "kn:joined",
      "linkage:bounds:revname16x32", "linkage:pairs", "pipeline:qdocs",
      "pipeline:sigs", "sketch:shingles", "snm:bounds:text16x32",
      "store:data", "store:sib", "store:uuids", "store:vlog",
      "winnow:dfstats", "winnow:fps").map(k => s"$k:$sfDir" -> 123.456)
    val summary = """"metric":"total","value":99999.999,""" +
      """"value_adjudicated":99999.999,"unit":"sec",""" +
      """"enrich_rec_s_core":999999,"enrich_rec_s_core_cold":999999,""" +
      """"enrich_cores":32,"canary_ms_start":99999,"canary_ms_end":99999,""" +
      """"par_canary_ms_start":99999,"par_canary_ms_mid":99999,""" +
      """"par_canary_ms_retry":99999,"par_canary_ms_end":99999,""" +
      """"contended":true,"retry_skipped_contended":249,""" +
      """"retry_skipped_budget":249"""
    val line = Bench.compactLine(summary, retries, names, staging, sfDir)
    assert(line.getBytes("UTF-8").length <= 2048, line)
    implicit val fmts: Formats = DefaultFormats
    val json = JsonMethods.parse(line)
    assert((json \ "retry_count").extract[Int] === 249)
    assert((json \ "suspect_count").extract[Int] === 249)
    assert((json \ "value").extract[Double] === 99999.999)
    assert((json \ "staging" \ "ann:kmeans2").extract[Double] === 123.456)
  }
}

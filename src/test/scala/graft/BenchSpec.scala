package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench main's last stdout line must stay parseable from a short
  * tail capture: machine-readable keys only, inside 2 KB at the full
  * query count.
  */
class BenchSpec extends AnyFunSuite {

  private val loops = Seq("ann07_pq_stream", "ann24_graph_stream",
    "dd13_stream_increments", "mm10_ahash_stream")

  test("trailer: 179 queries at the widest value formatting stay under 2,000 bytes") {
    // widest plausible figures: every query at 9999.999 s (three
    // decimals after rounding), five-digit totals, two-digit ratios
    val line = Bench.trailer(99999.999, 99999.999, Seq.fill(179)(9999.999),
      Nil, loops.map(_ -> 99.999), "testdata/sf0.1")
    val bytes = line.getBytes("UTF-8").length
    assert(bytes < 2000, s"trailer is $bytes bytes: $line")
    assert(!line.contains("\"protocol\"") && !line.contains("\"full\""), line)
  }

  test("trailer: per-query array keeps order, rounding and the error census") {
    val line = Bench.trailer(3.14159, 2.5, Seq(1.23456, -1.0, 0.5),
      Seq("q\"2"), Seq("dd13_stream_increments" -> 1.23456), "sf0.01")
    assert(line.startsWith("""{"metric":"total","value":3.142,"unit":"sec","""), line)
    assert(line.contains(""""n_queries":3,"n_errors":1,"error_queries":["q\"2"],"""), line)
    assert(line.contains(""""per_increment_max_over_median":{"dd13_stream_increments":1.235}"""), line)
    assert(line.contains(""""per_query_sec_sorted":[1.235,-1.0,0.5]"""), line)
    assert(line.endsWith(""""sf":"sf0.01"}"""), line)
  }
}

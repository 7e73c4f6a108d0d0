package graftbench

import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {

  private def samples(n: Int) = (1 to n).map(_.toDouble).reverse

  test("p90 needs at least 10 samples beyond it") {
    assert(Metrics.percentile(samples(99), 90).isEmpty) // rank 90, 9 beyond
    assert(Metrics.percentile(samples(100), 90).contains(90.0)) // rank 90, 10 beyond
    assert(Metrics.percentile(samples(250), 90).contains(225.0))
    assert(Metrics.percentile(Nil, 90).isEmpty)
  }

  test("median of odd and even counts") {
    assert(Metrics.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Metrics.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("job intervals: overlaps and nesting count once, clipped to the window") {
    val jobs = Seq((0L, 10L), (5L, 15L), (6L, 7L), (20L, 30L), (40L, 50L))
    assert(Metrics.coveredLength(jobs, 0, 100) == 15 + 10 + 10)
    assert(Metrics.coveredLength(jobs, 8, 45) == 7 + 10 + 5)
    assert(Metrics.coveredLength(Nil, 0, 100) == 0)
    assert(Metrics.coveredLength(Seq((0L, 5L), (5L, 9L)), 0, 100) == 9)
    // the driver-side time of an op is its length minus the covered part
    assert(100 - Metrics.coveredLength(jobs, 0, 100) == 65)
  }

  test("ingest actions are attributed by the path they wrote") {
    assert(Metrics.ingestPhase(None) == "validate")
    assert(Metrics.ingestPhase(Some("file:/w/db-0/_staging/ids")) == "stage")
    assert(Metrics.ingestPhase(Some("file:/w/db-0/variant_info")) == "write_info")
    assert(Metrics.ingestPhase(Some("file:/w/db-0/variant_impact/")) == "write_impact")
    assert(Metrics.ingestPhase(Some("/w/db-0/variant_geno")) == "write_geno")
    assert(Metrics.ingestPhase(Some("/w/db-0/gene_map")) == "write_other")
    assert(Metrics.ingestPhase(Some("/w/db-0/meta_info")) == "write_other")
    assert(Metrics.ingestPhase(Some("/w/variant_info/db-0/samples")) == "write_other")
  }
}

package perfbench

import org.scalatest.funsuite.AnyFunSuite

class PlansSpec extends AnyFunSuite {

  private val names = (1 to 40).map(i => f"q$i%03d")

  test("percentile interpolates between the nearest ranks") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5) == 5.5)
    assert(math.abs(Stats.percentile(xs, 0.9) - 9.1) < 1e-12)
    assert(Stats.percentile(xs, 0.0) == 1.0)
    assert(Stats.percentile(xs, 1.0) == 10.0)
    assert(Stats.percentile(Seq(7.0), 0.9) == 7.0)
    assert(Stats.percentile(xs.reverse, 0.5) == 5.5, "input order must not matter")
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 0.5))
  }

  test("the same seed gives the same catalogue order; another seed permutes it") {
    val a = Plans.catalogueOrder(names, 7L)
    assert(a == Plans.catalogueOrder(names.reverse, 7L), "independent of input order")
    val b = Plans.catalogueOrder(names, 8L)
    assert(a != b)
    assert(a.sorted == names && b.sorted == names, "every seed runs the whole sample")
  }

  test("the catalogue sample names each query once and covers every query family") {
    val queries = Catalogue.sample.map(_._2)
    assert(queries.distinct == queries)
    assert(queries.forall(graft.SparkEntry.queries.contains))
    assert(Catalogue.sample.map(_._1).distinct.length == 14)
    assert(queries.exists(_.startsWith("s")), "a streaming query")
  }

  test("the round count follows --seconds, never a measured speed") {
    def ctx(seconds: Int) = Ctx(null, "", "", 1L, seconds, new Tracer(false))
    assert(ctx(0).rounds(8) == 1, "at least one round")
    assert(ctx(8).rounds(8) == 1)
    assert(ctx(16).rounds(8) == 2)
    assert(ctx(17).rounds(8) == 3)
    assert(ctx(16).rounds(20) == 1)
  }

  test("write bodies are seeded, fresh per cycle and after the stored data") {
    val a = Plans.writeCycle(5L, 2, 500, 4)
    assert(a == Plans.writeCycle(5L, 2, 500, 4))
    assert(a != Plans.writeCycle(6L, 2, 500, 4))
    assert(a.series.length == 500 && a.series.forall(_.samples.length == 4))
    assert(a.metric == "ingest_c2" && a.newest.size == 500)
    assert(a.series.flatMap(_.samples).forall(_.timestamp >= Plans.ingestBaseMs))
    val reads = Plans.storedReads(5L, 8)
    assert(reads == Plans.storedReads(5L, 8))
    assert(reads != Plans.storedReads(6L, 8))
    assert(reads.map(_._1).sorted == Plans.instantQueries.sorted, "every seed reads the same queries")
  }

  test("response values compare as multisets with a relative tolerance") {
    val body = """{"status":"success","data":{"resultType":"vector","result":[""" +
      """{"metric":{"a":"1"},"value":[1704153600,"2.5"]},{"metric":{"a":"2"},"value":[1704153600,"NaN"]}]}}"""
    assert(Http.values(body).length == 2)
    assert(Http.sameValues(Http.values(body), Seq(Double.NaN, 2.5 + 1e-12)))
    assert(!Http.sameValues(Http.values(body), Seq(2.5)))
    assert(!Http.sameValues(Seq(1.0, 2.0), Seq(1.0, 2.1)))
  }
}

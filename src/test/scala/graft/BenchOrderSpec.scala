package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench execution order IS part of the official record's quality
  * (round-11 forensics: ascending-qNN order placed the ~45 s heavy tail
  * exactly where this VM's external load ramps land, drifting the
  * judged total 1.15× → 1.40× while the code got faster), so the
  * ordering contract is pinned here instead of living only in main().
  */
class BenchOrderSpec extends AnyFunSuite {

  test("full-run order is heaviest-reference-first and total-covering") {
    val order = Bench.fullRunOrder(Bench.headline)
    assert(order.sorted == Bench.headline.sorted, "ordering must not drop or add entries")
    // main()'s sync require guarantees every headline entry has a
    // reference (introductions enter with a high provisional one that
    // fronts them — fullRunOrder's doc), so the order is simply
    // descending references
    assert(Bench.headline.forall(Bench.reference.contains),
      "headline/reference out of sync — main() would refuse to run")
    val refs = order.map(Bench.reference)
    assert(refs == refs.sortBy(-_), s"not descending: ${refs.take(10)}")
  }

  test("ordering is deterministic") {
    assert(Bench.fullRunOrder(Bench.headline) == Bench.fullRunOrder(Bench.headline))
  }

  test("every headline entry resolves in the registry and has a unique qNNN prefix") {
    // (the compact result line keys on the numeric prefix; uniqueness is
    // what makes that lossless)
    val prefixes = Bench.headline.map(_.takeWhile(_ != '_'))
    assert(prefixes.distinct.size == prefixes.size)
    Bench.headline.foreach(n => assert(SparkEntry.queries.contains(n), s"$n not registered"))
  }
}

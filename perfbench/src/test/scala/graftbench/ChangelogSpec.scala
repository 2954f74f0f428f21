package graftbench

import org.scalatest.funsuite.AnyFunSuite

class ChangelogSpec extends AnyFunSuite {

  test("the same seed gives the same landing schedule, file for file") {
    def files(seed: Long) =
      Changelog.stream(seed, "open", 12, 30, 250L, 40, 0.2, 0L).map(f => (f.name, f.dueMs, f.envelopes.map(_.json)))
    assert(files(3) == files(3))
    assert(files(3) != files(4))
  }

  test("late envelopes land one file after their creation, behind newer seqs") {
    val files = Changelog.stream(5, "open", 20, 40, 100L, 30, 0.25, 0L)
    val late = files.flatMap(f => f.envelopes.filter(_.createdMs < f.dueMs).map(e => (f, e)))
    assert(late.nonEmpty)
    late.foreach { case (f, e) => assert(f.dueMs - e.createdMs == 100L) }
    // Every envelope lands exactly once.
    val seqs = files.flatMap(_.envelopes.map(_.seq))
    assert(seqs.distinct.size == seqs.size && seqs.size == 20 * 40)
  }
}

package graftbench

import org.scalatest.funsuite.AnyFunSuite

class ExpectedSpec extends AnyFunSuite {
  private def up(key: String, seq: Long, v: String, op: String = "u") =
    Envelope("t", key, seq, op, None, Some(Seq("id" -> key, "v" -> v)), 0L)
  private def del(key: String, seq: Long) = Envelope("t", key, seq, "d", Some(Seq("id" -> key)), None, 0L)
  private def state(envs: Envelope*) = Expected.state(envs).getOrElse("t", Expected.TableState(0, 0))
  private def docs(kv: (String, String)*) = Expected.of(kv.map { case (k, v) => k -> Seq("id" -> k, "v" -> v) })

  test("out-of-order arrival: the highest seq wins whatever arrives last") {
    assert(state(up("a", 5, "new"), up("a", 3, "old")) == docs("a" -> "new"))
    assert(state(del("a", 2), up("a", 4, "x")) == docs("a" -> "x"))
    assert(state(up("a", 4, "x"), del("a", 6), up("a", 5, "stale")) == docs())
  }

  test("delete then recreate leaves the recreated document") {
    assert(state(up("a", 1, "v1", "c"), del("a", 2), up("a", 3, "v3", "c")) == docs("a" -> "v3"))
  }

  test("snapshot then update: the update replaces the snapshot image") {
    assert(state(up("a", 1, "snap", "r"), up("b", 2, "snap", "r"), up("a", 3, "upd")) == docs("a" -> "upd", "b" -> "snap"))
  }

  test("the digest depends on the images, not on field or document order") {
    val d1 = Expected.of(Seq("a" -> Seq("x" -> "1", "y" -> "2"), "b" -> Seq("x" -> "3")))
    val d2 = Expected.of(Seq("b" -> Seq("x" -> "3"), "a" -> Seq("y" -> "2", "x" -> "1")))
    assert(d1 == d2)
    assert(Expected.of(Seq("a" -> Seq("x" -> "1"))) != Expected.of(Seq("a" -> Seq("x" -> "2"))))
  }
}

package graft

/** The one query timer's loop, called over name → builder pairs. */
class SmokeSpec extends SparkSpec {

  test("a failing query records rc 1 and the next query still runs") {
    val rs = Smoke.time(Seq(
      "fails" -> (() => throw new RuntimeException("no such table")),
      "runs" -> (() => spark.range(3).toDF())), repeats = 2)
    assert(rs.map(r => (r.q, r.rc)) == Seq("fails" -> 1, "runs" -> 0))
    assert(rs.head.error == "no such table" && rs.head.repeats.isEmpty)
    assert(rs(1).rows == 3 && rs(1).repeats.size == 2, rs(1))
  }

  test("a fatal error propagates instead of being timed over") {
    intercept[LinkageError](Smoke.time(Seq(
      "fatal" -> (() => throw new LinkageError("bad class")),
      "never" -> (() => fail("the loop must stop at a fatal error"))), repeats = 0))
  }
}

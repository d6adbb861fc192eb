package graft

/** The bench's timing and query selection: a harness must never turn a
  * failure into a number. */
class BenchSpec extends SparkSpec {

  test("timeQuery: a query that throws gets no time, a working one does") {
    val dir = sf
    val ok: Bench.Query = (s, _) => s.range(10).toDF()
    val timed = Bench.timeQuery(spark, ok, dir, reps = 2, warmDirs = Seq(dir))
    assert(timed.exists(ts => ts.size >= 2 && ts.forall(_ >= 0.0)))

    val boom: Bench.Query = (_, _) => throw new IllegalStateException("boom")
    val failed = Bench.timeQuery(spark, boom, dir, reps = 2, warmDirs = Nil)
    assert(failed.left.exists(_.getMessage == "boom"))

    // a query that survives its warmup but throws on the clock
    var calls = 0
    val flaky: Bench.Query = (s, _) => {
      calls += 1
      if (calls > 1) throw new IllegalStateException("rep")
      s.range(1).toDF()
    }
    assert(Bench.timeQuery(spark, flaky, dir, reps = 2, warmDirs = Seq(dir)).isLeft)
  }

  test("jsonStr: quote, backslash and control chars are escaped") {
    assert(Bench.jsonStr("a\"b\\c\nd\re\tf\u0001g") ==
      "\"a\\\"b\\\\c\\nd\\re\\tf\\u0001g\"")
    assert(Bench.jsonStr("") == "\"\"")
  }

  test("selected: blank means every query, an unknown name fails loudly") {
    val all = SparkEntry.queries.keySet
    assert(SparkEntry.selected(None).map(_._1).toSet == all)
    assert(SparkEntry.selected(Some(" ")).map(_._1).toSet == all)
    val two = SparkEntry.selected(Some("q42_stream_tumbling, q03_star_join_agg"))
    assert(two.map(_._1) == Seq("q03_star_join_agg", "q42_stream_tumbling"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.selected(Some("q03_star_join_agg,q99_nope")))
    assert(e.getMessage.contains("q99_nope"))
  }
}

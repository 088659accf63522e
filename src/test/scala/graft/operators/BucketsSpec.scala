package graft.operators

import graft.SparkSpec

class BucketsSpec extends SparkSpec {
  import spark.implicits._

  // cap 3: bucket a holds exactly cap ids, b one past it, c three
  // distinct ids each repeated, d three ids plus nulls, e one id
  private def rows = Seq[(String, Option[Long])](
    ("a", Some(1L)), ("a", Some(2L)), ("a", Some(3L)),
    ("b", Some(1L)), ("b", Some(2L)), ("b", Some(3L)), ("b", Some(4L)),
    ("c", Some(5L)), ("c", Some(5L)), ("c", Some(6L)), ("c", Some(6L)), ("c", Some(7L)),
    ("d", None), ("d", Some(8L)), ("d", None), ("d", Some(9L)), ("d", Some(10L)),
    ("e", Some(11L))
  ).toDF("bucket", "id")

  test("members: exactly cap kept, cap + 1 dropped, repeats count once, nulls ignored, singletons kept") {
    val got = Buckets.members(rows, Seq("bucket"), "id", 3)
      .select("bucket", "members").as[(String, Seq[Long])].collect().toMap
    assert(got == Map(
      "a" -> Seq(1L, 2L, 3L),
      "c" -> Seq(5L, 6L, 7L),
      "d" -> Seq(8L, 9L, 10L),
      "e" -> Seq(11L)))
  }

  test("pairs: a < b within kept buckets only, distinct across buckets; a singleton yields none") {
    val dupBucket = Seq[(String, Option[Long])](("f", Some(1L)), ("f", Some(2L))).toDF("bucket", "id")
    val got = Buckets.pairs(rows.union(dupBucket), Seq("bucket"), "id", 3, "x", "y")
      .as[(Long, Long)].collect()
    // (1, 2) comes from both a and f, and is emitted once
    assert(got.sorted.toSeq == Seq((1L, 2L), (1L, 3L), (2L, 3L), (5L, 6L), (5L, 7L),
      (6L, 7L), (8L, 9L), (8L, 10L), (9L, 10L)))
  }

  test("members: a 5,000-id hot bucket feeds the set aggregate at most cap + 1 ids") {
    val cap = 10L
    val hot = (0L until 5000L).map(i => ("hot", i))
    val small = Seq(("s1", 1L), ("s1", 2L), ("s2", 3L))
    val df = (hot ++ small).toDF("bucket", "id")
    val (out, fed) = SetAggregateInput.run(spark, Buckets.members(df, Seq("bucket"), "id", cap))
    assert(out.map(_.getString(0)).sorted.toSeq == Seq("s1", "s2"))
    val bound = SetAggregateInput.cappedBound(Seq(5000L, 2L, 1L), cap)
    assert(fed <= bound, s"$fed rows reached the set aggregate, bound $bound")
    info(s"$fed rows reached the set aggregate, bound $bound")
  }

  test("members: a cap outside the window's int rank range is refused") {
    intercept[IllegalArgumentException](Buckets.members(rows, Seq("bucket"), "id", Long.MaxValue))
    intercept[IllegalArgumentException](Buckets.members(rows, Seq("bucket"), "id", -1))
  }
}

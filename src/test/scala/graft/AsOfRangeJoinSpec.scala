package graft

import graft.operators.Relational

/** AS-OF and binned range joins — the two composed operators Spark lacks
  * as primitives. */
class AsOfRangeJoinSpec extends SparkTestBase {
  import spark.implicits._

  test("asOfJoin picks the latest right row at-or-before each left ts") {
    val left = Seq((1L, 5L), (1L, 10L), (1L, 2L), (2L, 100L))
      .toDF("key", "ts")
    val right = Seq((1L, 5L, "a"), (1L, 9L, "b"), (3L, 1L, "z"))
      .toDF("key", "ts", "v")
    val out = Relational.asOfJoin(left, right, "key", "ts", Seq("v"))
      .select($"key", $"ts", $"v").orderBy($"key", $"ts")
      .as[(Long, Long, Option[String])].collect()
    assert(out.toSeq === Seq(
      (1L, 2L, None),        // before any right row -> null payload
      (1L, 5L, Some("a")),   // equal ts is INCLUSIVE
      (1L, 10L, Some("b")),  // latest of the two priors wins
      (2L, 100L, None)))     // key with no right rows at all
  }

  test("asOfJoin carries a right row whose payload FIELD is null (not the prior row)") {
    val left = Seq((1L, 10L)).toDF("key", "ts")
    val right = Seq((1L, 1L, Some("old")), (1L, 5L, None: Option[String]))
      .toDF("key", "ts", "v")
    val out = Relational.asOfJoin(left, right, "key", "ts", Seq("v"))
      .select($"v").as[Option[String]].head()
    assert(out === None) // the ts=5 row (v=null) is the as-of match, not ts=1
  }

  test("asOfJoin is deterministic on duplicate right (key, ts): greatest payload wins") {
    val left = Seq((1L, 10L)).toDF("key", "ts")
    val right = Seq((1L, 5L, "a"), (1L, 5L, "c"), (1L, 5L, "b"))
      .toDF("key", "ts", "v")
    // repeated runs over shuffled input must always pick the same row
    val picks = (1 to 3).map { i =>
      Relational.asOfJoin(left, right.repartition(i + 1), "key", "ts", Seq("v"))
        .select($"v").as[String].head()
    }
    assert(picks.toSet === Set("c"))
  }

  test("rangeJoinBinned matches boundary-inclusive and spans bins without dupes") {
    val pts = Seq(0L, 8L, 9L, 16L, 40L).toDF("p")
    // [0,8] sits in bins 0-2 with width 3; [10,16] spans bins 3-5
    val iv = Seq((100L, 0L, 8L), (200L, 10L, 16L)).toDF("ik", "lo", "hi")
    val out = Relational.rangeJoinBinned(pts, iv, "p", "lo", "hi", 3L)
      .select($"p", $"ik").orderBy($"p", $"ik").as[(Long, Long)].collect()
    assert(out.toSeq === Seq((0L, 100L), (8L, 100L), (16L, 200L)))
  }

  test("rangeJoinBinned emits one row per overlapping interval") {
    val pts = Seq(5L).toDF("p")
    val iv = Seq((1L, 0L, 10L), (2L, 5L, 6L), (3L, 6L, 9L)).toDF("ik", "lo", "hi")
    val out = Relational.rangeJoinBinned(pts, iv, "p", "lo", "hi", 4L)
      .select($"ik").as[Long].collect().sorted
    assert(out.toSeq === Seq(1L, 2L))
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.operators.Sketches

/** Mergeable sketches: HLL distinct registers + histogram quantiles. */
class SketchesSpec extends SparkTestBase {
  import spark.implicits._

  private def mkDocs(n: Int) =
    (0 until n).map(i => (i.toLong, s"v${i % 97}")).toDF("id", "v")

  test("hllDistinct is partitioning- and order-independent (it's a sketch)") {
    val df = mkDocs(5000)
    val a = Sketches.hllDistinct(df, Seq(lit(1).as("g")), $"v").collect()
    val b = Sketches.hllDistinct(
      df.repartition(13, $"id").sortWithinPartitions($"v"),
      Seq(lit(1).as("g")), $"v").collect()
    assert(a.toSeq === b.toSeq)
  }

  test("hll sketch of a union == merge of the slices' sketches") {
    val df = mkDocs(4000)
    val (h1, h2) = (df.where($"id" % 2 === 0), df.where($"id" % 2 =!= 0))
    val whole = Sketches.hllSketch(df, Seq(lit(1).as("g")), $"v")
    val merged = Sketches.hllSketch(h1, Seq(lit(1).as("g")), $"v").as("s1")
      .join(Sketches.hllSketch(h2, Seq(lit(1).as("g")), $"v").as("s2"), "g")
      .select($"g", Sketches.hllMerge($"s1.regs", $"s2.regs").as("regs"))
    val wr = whole.select($"regs").as[Seq[Int]].head()
    val mr = merged.select($"regs").as[Seq[Int]].head()
    assert(wr === mr)
  }

  test("hll estimate lands within the m=64 error envelope") {
    // 97 distinct values -> linear-counting branch; 3500 distinct -> raw.
    for (distinct <- Seq(97, 3500)) {
      val df = (0 until 7000).map(i => (i.toLong, s"k${i % distinct}")).toDF("id", "v")
      val est = Sketches.hllDistinct(df, Seq(lit(1).as("g")), $"v")
        .select($"est_distinct").as[Double].head()
      // 1.04/sqrt(64) ~ 13% standard error; allow 3 sigma.
      assert(math.abs(est - distinct) / distinct < 0.39,
        s"est $est for true $distinct")
    }
  }

  test("hll registers never regress when more data arrives (monotone max)") {
    val small = Sketches.hllSketch(mkDocs(500), Seq(lit(1).as("g")), $"v")
      .select($"regs").as[Seq[Int]].head()
    val big = Sketches.hllSketch(mkDocs(5000), Seq(lit(1).as("g")), $"v")
      .select($"regs").as[Seq[Int]].head()
    assert(small.zip(big).forall { case (s, b) => b >= s })
  }

  test("histogramQuantiles tracks exact percentiles within one bin width") {
    val df = (1 to 10000).map(i => ("g", i.toDouble)).toDF("grp", "x")
    val bins = 128
    val approx = Sketches.histogramQuantiles(
      df, $"grp", "grp", $"x", bins, Seq(0.5, 0.9, 0.99)).head()
    val exact = df.agg(
      expr("percentile(x, 0.5)"), expr("percentile(x, 0.9)"),
      expr("percentile(x, 0.99)")).head()
    val width = (10000.0 - 1.0) / bins
    for (i <- 1 to 3)
      assert(math.abs(approx.getDouble(i) - exact.getDouble(i - 1)) <= width,
        s"q$i: ${approx.getDouble(i)} vs ${exact.getDouble(i - 1)}")
  }

  test("histogram bin counts are mergeable: split halves sum to the whole") {
    // The scale contract: histograms from disjoint slices ADD. Verified
    // through the public API by checking the estimate is slice-invariant.
    val df = (1 to 8000).map(i => ("g", (i % 631).toDouble)).toDF("grp", "x")
    val a = Sketches.histogramQuantiles(df, $"grp", "grp", $"x", 64, Seq(0.5)).collect()
    val b = Sketches.histogramQuantiles(df.repartition(17), $"grp", "grp", $"x", 64, Seq(0.5)).collect()
    assert(a.toSeq === b.toSeq)
  }

  test("histogramQuantiles: constant input yields the constant, empty input is refused") {
    val const = Seq(("g", 7.5), ("g", 7.5), ("h", 7.5)).toDF("grp", "x")
    val out = Sketches.histogramQuantiles(const, $"grp", "grp", $"x", 16, Seq(0.5, 0.9))
      .orderBy($"grp").collect()
    assert(out.map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq ===
      Seq(("g", 7.5, 7.5), ("h", 7.5, 7.5)))
    val empty = const.where($"x" > 100)
    intercept[IllegalArgumentException] {
      Sketches.histogramQuantiles(empty, $"grp", "grp", $"x", 16, Seq(0.5))
    }
  }

  test("streaming HLL registers across micro-batches equal the batch sketch") {
    val df = mkDocs(3000).select(
      when($"id" % 2 === 0, "even").otherwise("odd").as("g"), $"v")
    val (bucket, rho) = Sketches.hllObs($"v")
    val obs = df.select($"g", bucket.as("bucket"), rho.as("rho"))
      .as[graft.streaming.SketchStream.HllRow].collect().toSeq
    // both groups appear in every batch -> real cross-batch state merge
    val batches = obs.grouped(obs.size / 3 + 1).toSeq
    val snaps = graft.streaming.StreamHarness.run(spark, batches)(ds =>
      graft.streaming.SketchStream.hllSketchStream(ds).toDF())
    val latest = snaps.groupBy($"_1".as("g"))
      .agg(max_by($"_3", $"_2").as("regs"))
      .select($"g", $"regs".cast("array<int>").as("regs"))
    val batch = Sketches.hllSketch(df, Seq($"g"), $"v")
    assert(latest.orderBy($"g").as[(String, Seq[Int])].collect().toSeq ===
      batch.orderBy($"g").as[(String, Seq[Int])].collect().toSeq)
  }

  test("hllDistinct plan: registers partial-aggregate before the exchange") {
    val df = mkDocs(2000)
    val plan = Sketches.hllDistinct(df, Seq(lit(1).as("g")), $"v")
      .queryExecution.executedPlan.toString
    // ObjectHashAggregate runs twice (partial, then final after the
    // shuffle) — the map-side combine is what bounds shuffle bytes to one
    // 64-int array per (partition, group) at 100 TB.
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("driftPsi: identical slices score zero, a shifted slice scores positive") {
    // group "flat": both slices uniform over the same values → every
    // (p_i − q_i) is 0 → psi exactly 0. group "shift": slice B moves all
    // mass to the top of the range → psi > 0.
    val rows =
      (1 to 100).map(i => ("flat", true, (i % 10).toDouble)) ++
      (1 to 100).map(i => ("flat", false, (i % 10).toDouble)) ++
      (1 to 100).map(i => ("shift", true, (i % 10).toDouble)) ++
      (1 to 100).map(i => ("shift", false, 90.0 + (i % 10)))
    val df = rows.toDF("g", "a", "v")
    val out = Sketches.driftPsi(df, $"g", "g", $"v", $"a")
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out("flat")._4 === 0.0)
    assert(out("shift")._4 > 0.25, s"shifted slice must flag: ${out("shift")}")
    assert(out("flat")._2 === 100L && out("flat")._3 === 100L)
  }

  test("driftPsi(bounds): mass drifting BELOW the frozen lo is detected, not dropped") {
    // frozen reference grid over [0, 10); the monitored slice drifts LOW
    // (all values negative). Unclamped binning would map those rows to
    // negative bin ids that never join the grid — psi would read ~0 while
    // the distribution completely shifted.
    val rows =
      (1 to 100).map(i => ("g", true, (i % 10).toDouble)) ++
      (1 to 100).map(i => ("g", false, -5.0 - (i % 10)))
    val out = Sketches.driftPsi(rows.toDF("g", "a", "v"),
        $"g", "g", $"v", $"a", bins = 10, bounds = Some((0.0, 10.0)))
      .as[(String, Long, Long, Double)].head()
    assert(out._4 > 0.25, s"downward drift must flag: $out")
    assert(out._2 === 100L && out._3 === 100L)
  }

  test("driftPsi: empty/all-null input degrades to an empty audit frame; constant input scores 0") {
    val empty = Seq.empty[(String, Boolean, Double)].toDF("g", "a", "v")
    assert(Sketches.driftPsi(empty, $"g", "g", $"v", $"a").count() === 0L)
    val allNull = Seq(("g", true), ("g", false)).toDF("g", "a")
      .withColumn("v", lit(null).cast("double"))
    assert(Sketches.driftPsi(allNull, $"g", "g", $"v", $"a").count() === 0L)
    val const = Seq(("g", true, 7.5), ("g", false, 7.5)).toDF("g", "a", "v")
    val out = Sketches.driftPsi(const, $"g", "g", $"v", $"a")
      .as[(String, Long, Long, Double)].head()
    assert(out._4 === 0.0, s"identical constants must not drift: $out")
  }

  test("count-min: never underestimates, exact at collision-free width, cells merge") {
    val items = (1 to 500).map(i => Tuple1(s"k${i % 7}")).toDF("k")
    val exact = items.groupBy($"k").count().as[(String, Long)].collect().toMap
    // wide sketch: 7 keys in 4x256 cells → collisions vanishingly unlikely
    val est = Sketches.cmsEstimate(
        Sketches.cmsTable(items, $"k"), items.select($"k").distinct(), $"k")
      .as[(String, Long)].collect().toMap
    exact.foreach { case (k, c) => assert(est(k) === c, s"key $k") }
    // narrow sketch: collisions forced, estimate must still dominate exact
    val narrow = Sketches.cmsEstimate(
        Sketches.cmsTable(items, $"k", depth = 2, width = 2),
        items.select($"k").distinct(), $"k", depth = 2, width = 2)
      .as[(String, Long)].collect().toMap
    exact.foreach { case (k, c) => assert(narrow(k) >= c, s"key $k") }
    // mergeability: sketch(a ∪ b) == cell-wise sum of the part sketches
    val (a, b) = (items.limit(200), items.exceptAll(items.limit(200)))
    val merged = Sketches.cmsTable(a, $"k")
      .unionByName(Sketches.cmsTable(b, $"k"))
      .groupBy($"j", $"b").agg(sum($"c").as("c"))
      .as[(Int, Long, Long)].collect().toSet
    val whole = Sketches.cmsTable(items, $"k")
      .as[(Int, Long, Long)].collect().toSet
    assert(merged === whole)
  }
}

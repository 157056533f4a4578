package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import graft.entry.DagGates

/** The pure parts of graft.Bench: the leg plan, the reserve fold, the
  * per-leg JSON fields and the stdout line. No leg runs here. */
class BenchSpec extends AnyFunSuite {
  private val fallback: (String, Double) => Double = (_, f) => f
  private lazy val gates = SparkEntry.queriesFor(oracleRun = false).keySet

  private def tree(names: String*): Path = {
    val root = Files.createTempDirectory("bench_plan_")
    names.foreach(n => Files.createDirectories(root.resolve(n)))
    root
  }
  private val root = tree("sf0.1", "sf0.01", "sf0.001")
  private val mainDir = root.resolve("sf0.1").toString
  private def legsAt(env: Map[String, String], sfDir: String = mainDir,
      est: (String, Double) => Double = fallback): Map[String, Bench.Leg] =
    Bench.plan(env, sfDir, est).map(l => l.tag -> l).toMap

  test("every gate name the plan mentions is a bench query") {
    val legs = Bench.plan(Map.empty, mainDir, fallback)
    val named = Bench.twins.flatMap { case (a, b) => Seq(a, b) } ++
      legs.flatMap(l => l.subset ++ l.excluded) ++ DagGates.readers
    val unknown = named.distinct.filterNot(gates)
    assert(unknown.isEmpty, s"not a key of SparkEntry.queriesFor: $unknown")
  }

  test("the DAG-reader set is a subset of DagGates' gates, without q164") {
    assert(DagGates.readers.subsetOf(DagGates.queries.keySet))
    assert(DagGates.readers.size == 11)
    assert(!DagGates.readers.contains("q164_ttl_pay_success"))
  }

  test("legs run in plan order; excluded gates stay out of their leg") {
    val legs = Bench.plan(Map.empty, mainDir, fallback)
    assert(legs.map(_.tag) == Seq("sf2", "up", "up100"))
    legs.foreach(l => assert(l.excluded.forall(g => !l.subset.contains(g)), l.tag))
    assert(legs(1).subset == Bench.DownSubset.filterNot(Bench.UpExcluded.contains))
    // up100 reads no DAG gate, so it has no settle to reserve
    assert(!legs(2).subset.exists(DagGates.readers) && legs(2).dagEst == 0.0)
  }

  test("each leg checks the twin pairs whose two gates it runs: 6, 6 and 0") {
    val legs = Bench.plan(Map.empty, mainDir, fallback)
    assert(legs.map(l => Bench.twins.count { case (a, b) =>
      l.subset.contains(a) && l.subset.contains(b) }) == Seq(6, 6, 0))
    assert(Bench.twins.size == 27)
  }

  test("resolver: defaults, SF2=off, an UP_DIR override, no smaller sibling") {
    val d = legsAt(Map.empty).map { case (t, l) => t -> l.dir }
    assert(d("sf2").contains(root.resolve("sf0.01").toAbsolutePath.toString))
    assert(d("up").contains(new java.io.File("updata/sf1").getAbsolutePath))
    assert(d("up100").contains(new java.io.File("updata/sf10docs").getAbsolutePath))
    assert(legsAt(Map("SPARK_GRAFT_SF2" -> "off"))("sf2").dir.isEmpty)
    assert(legsAt(Map("SPARK_GRAFT_UP100" -> "off"))("up100").dir.isEmpty)
    // an explicit dir wins, and the up legs need not exist yet
    assert(legsAt(Map("SPARK_GRAFT_UP_DIR" -> "/nowhere/up"))("up").dir.contains("/nowhere/up"))
    val sib = root.resolve("sf0.001").toString
    assert(legsAt(Map("SPARK_GRAFT_SF2_DIR" -> sib))("sf2").dir.contains(sib))
    // the down leg's dir must exist
    assert(legsAt(Map("SPARK_GRAFT_SF2_DIR" -> "/nowhere/sf0.01"))("sf2").dir.isEmpty)
    val lone = tree("sf0.1").resolve("sf0.1").toString
    assert(legsAt(Map.empty, lone)("sf2").dir.isEmpty)
  }

  test("growth factor is sf_leg / sf_main, and the exponent matches the down-leg form") {
    val legs = legsAt(Map.empty)
    assert(math.abs(legs("sf2").factor - 0.1) < 1e-12)
    assert(legs("up").factor == 10.0 && legs("up100").factor == 100.0)
    val sib = root.resolve("sf0.001").toString
    assert(math.abs(legsAt(Map("SPARK_GRAFT_SF2_DIR" -> sib))("sf2").factor - 0.01) < 1e-12)
    // log(t_leg/mainT)/log(factor) == log(mainT/t_leg)/log(sf_main/sf_leg)
    val (mainT, tLeg, f) = (12.5, 3.1, legs("sf2").factor)
    assert(math.abs(math.log(tLeg / mainT) / math.log(f) -
      math.log(mainT / tLeg) / math.log(1 / f)) < 1e-9)
  }

  test("gate and reserve estimates: only the down leg's gate covers its settle") {
    val known = Map("sf2_base" -> 1.0, "sf2_dag" -> 2.0, "diag_sf2" -> 4.0,
      "up_base" -> 10.0, "up_dag" -> 20.0, "diag_up" -> 40.0,
      "up100_base" -> 100.0, "diag_up100" -> 400.0)
    val legs = legsAt(Map.empty, est = (k, _) => known(k))
    assert(legs("sf2").gateEst == 3.0 && legs("sf2").reserveEst == 7.0)
    assert(legs("up").gateEst == 10.0 && legs("up").reserveEst == 70.0)
    assert(legs("up100").gateEst == 100.0 && legs("up100").reserveEst == 500.0)
    val fb = legsAt(Map.empty)
    assert(fb("sf2").gateEst == 270.0 && fb("up").dagEst == 660.0 && fb("up100").baseEst == 800.0)
  }

  test("the reserve fold charges only the legs that fit, in plan order") {
    val (r, out) = Bench.fitReserve(100.0,
      Seq("diag_main" -> 30.0, "sf2" -> 80.0, "up" -> 50.0, "up100" -> 30.0))
    assert(r == 80.0)
    assert(out == Seq("sf2" -> 80.0, "up100" -> 30.0))
    // order decides: the same costs with the big one first
    assert(Bench.fitReserve(100.0, Seq("sf2" -> 80.0, "diag_main" -> 30.0)) ==
      (80.0, Seq("diag_main" -> 30.0)))
    assert(Bench.fitReserve(0.0, Seq("a" -> 1.0))._1 == 0.0)
    assert(Bench.fitReserve(Double.MaxValue, Seq("a" -> 1.0, "b" -> 2.0)) == (3.0, Nil))
  }

  private def runOf(l: Bench.Leg, errs: Seq[String] = Nil, dag: Option[Double] = Some(654.32)) =
    Bench.LegRun(l, Bench.legFields(l, s"/some/scratch/dir/${l.tag}", 123.45, 67.89, dag,
      l.subset.map(_ -> 123.45).toMap,
      (l.subset :+ "dag_charge").map(_ -> -1.23).toMap, errs), errs)

  test("leg fields keep every emitted key, in order, irregular ones included") {
    val legs = legsAt(Map.empty)
    assert(runOf(legs("sf2")).fields.map(_._1) == Seq("sf2", "sf2_warmup_sec",
      "sf2_dag_charge_sec", "queries_sf2", "growth_exponents", "sf2_errors"))
    assert(runOf(legs("up")).fields.map(_._1) == Seq("up", "up_factor", "up_gen_sec",
      "up_warmup_sec", "up_dag_charge_sec", "queries_up", "up_growth_exponents",
      "up_errors", "up_excluded"))
    assert(runOf(legs("up100"), dag = None).fields.map(_._1) == Seq("up100",
      "up100_factor", "up100_gen_sec", "up100_warmup_sec", "queries_up100",
      "up100_growth_exponents", "up100_errors", "up100_excluded"))
    assert(runOf(legs("sf2")).line.startsWith(""","sf2":"/some/scratch/dir/sf2","growth_exponents":{"""))
    assert(runOf(legs("up")).line.startsWith(""","up_factor":10,"up_growth_exponents":{"""))
    assert(runOf(legs("up100")).line.startsWith(""","up100_growth_exponents":{"""))
    assert(runOf(legs("up")).fields.toMap.apply("up_excluded") ==
      """["q23_embed_neardup","q24_ann_topk"]""")
  }

  private val common =
    """"metric":"total","value":12345.67,"unit":"sec","warmup_sec":123.45,""" +
      """"dag_charge_sec":1234.56,"queries_only_sec":12222.22,"best_of_2_sec":12000.01,""" +
      """"n_queries":203,"budget_sec":3000.0,"sf_twin_rowcheck":"pass(27 twin pairs)""""

  test("the stdout line fits the cap for 0, 5, 500 and overlong leg errors") {
    val results = gates.toSeq.map(_ -> 1234.56).toMap
    assert(results.size >= 203)
    val legs = Bench.plan(Map.empty, mainDir, fallback)
    Seq(0, 5, 500).foreach { n =>
      val errs = (1 to n).map(i => s"q${i}_some_scale_gate: skipped (budget: settle reserve 1234 s)")
      val lines = legs.map(l => runOf(l, errs).line)
      val (shape, line) = Bench.stdoutLine(common, results, lines, errs, "/data/sf0.1")
      assert(line.length <= Bench.LineCap, s"$n errors: ${line.length} bytes at $shape")
      assert(line.startsWith("""{"metric":"total"""") && line.endsWith(""","sf":"/data/sf0.1"}"""))
      if (n > 0) assert(line.contains(s""""n_leg_errors":$n""") || line.contains("\"leg_errors\":"))
    }
    // a retry-skip disclosure lists every skipped name, so even the first
    // two errors can outgrow the cap: only the count survives then
    val longErrs = Seq.fill(3)("retries: 60 skipped (budget: downstream reserve 2400 s) " +
      gates.toSeq.sorted.take(60).mkString("[", ",", "]"))
    val (shape, line) = Bench.stdoutLine(common, results, legs.map(runOf(_).line), longErrs, "/d")
    assert(line.length <= Bench.LineCap && shape._3 == 2 && line.contains("\"n_leg_errors\":3"))
  }

  test("the stdout line degrades by dropping the plan's first legs, then slowest-N") {
    val results = (1 to 20).map(i => f"q$i%02d" -> i.toDouble).toMap
    val lines = Seq(",\"sf2\":\"" + "x" * 1500 + "\"", ",\"up_factor\":10", ",\"up100_growth_exponents\":{}")
    val (shape, line) = Bench.stdoutLine(common, results, lines, Nil, "/d")
    assert(shape == ((10, 2, 0)))
    assert(!line.contains("\"sf2\"") && line.contains("\"up_factor\":10,\"up100_growth_exponents\":{}"))
    assert(Bench.stdoutLine(common, results, Seq("", "", ""), Nil, "/d")._1 == Bench.Shapes.head)
  }
}

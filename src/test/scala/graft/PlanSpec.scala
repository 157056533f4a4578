package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, GreaterThanOrEqual, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{EventTimeWatermark, Join, LogicalPlan}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DayTimeIntervalType
import graft.apps.GmallPipelines
import graft.core.{Envelopes, Tables, TopicDb}
import graft.operators.{Cap, Relational, Similarity}

/** Physical-plan shape assertions for the scale-critical properties the
  * round reviews grade on: pushdown reaching the scan, broadcast joins on
  * dim sides, and no unbounded window over the ANN pair stream. These are
  * cheap regression tripwires — `.explain` checked in CI instead of by
  * hand. */
class PlanSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  /** The executed plan WITHOUT the session-cached tables' embedded build
    * plans: `InMemoryRelation` prints its one-time materialization subtree
    * (which legitimately carries the r18 guard-widen repartition and the
    * original FileScan) nested below it, and the tripwires here assert the
    * QUERY's shape — per-query work — not the once-per-session cache
    * build. Lines deeper-indented than an `InMemoryRelation` line are its
    * build subtree and are dropped; sibling branches resume at shallower
    * indentation and are kept. */
  private def plan(df: DataFrame): String = {
    def indent(l: String): Int = {
      val i = l.indexWhere(c => !" :+-*(".contains(c))
      if (i < 0) l.length else i
    }
    var skip = -1
    df.queryExecution.executedPlan.toString.linesIterator.filter { l =>
      if (skip >= 0 && indent(l) > skip) false
      else {
        skip = if (l.contains("InMemoryRelation")) indent(l) else -1
        true
      }
    }.mkString("\n")
  }

  test("ANN top-k ranks via bounded aggregation, no window over the pair stream") {
    val emb = Tables.embeddings(spark, sf)
    val p = plan(Similarity.bruteForceTopK(emb, emb.where(col("vec_id") % 50 === 0), 10))
    assert(!p.contains("Window"), "window over |Q|x|C| pairs is the 100TB bottleneck")
    assert(p.contains("Aggregate"), "expected partial/final aggregate pair")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "query side must broadcast")
  }

  test("topN-per-window ranks via bounded aggregation, no window-function sort") {
    val p = plan(graft.operators.EventOps.topNPerWindow(
      Tables.events(spark, sf).where(col("event_type") === "view"),
      "1 hour", col("user_id"), 3))
    assert(!p.contains("Window"),
      "a row_number window puts every key of a time window into ONE task:\n" + p)
    assert(p.contains("Aggregate"), "expected partial/final heap aggregate pair")
  }

  test("PQ ANN broadcasts codebook+LUT, no cartesian product, no ranking window") {
    val emb = Tables.embeddings(spark, sf)
    val p = plan(Similarity.pqTopK(emb, emb.where(col("vec_id") % 50 === 0), 10, 64))
    assert(!p.contains("CartesianProduct"), "ADC scoring must ride equi-joins:\n" + p)
    assert(p.contains("BroadcastHashJoin"), "codebook/LUT sides must broadcast")
    assert(!p.contains("Window"), "ranking must use the bounded heap, not row_number")
  }

  test("temperatureSample broadcasts the per-stratum threshold table onto the scan") {
    val p = plan(graft.operators.Corpus.temperatureSample(
      Tables.documents(spark, sf), col("lang"), col("doc_id")))
    assert(p.contains("BroadcastHashJoin"),
      "the tiny ppm table must broadcast — a shuffle here scans the corpus twice:\n" + p)
    assert(!p.contains("SortMergeJoin"), "no sort-merge against the corpus side")
  }

  test("capPerGroup keeps per-group selection in a bounded aggregate, no sort window") {
    val p = plan(graft.operators.Corpus.capPerGroup(
      Tables.documents(spark, sf), "source", "doc_id", 10))
    assert(!p.contains("Window"),
      "a row_number per group sorts EVERY group member through one task:\n" + p)
    assert(p.contains("Aggregate"), "expected the bounded-heap aggregate pair")
  }

  test("trade order pre-process broadcasts dic and the small join sides") {
    val p = plan(GmallPipelines.tradeOrderPreProcess(
      TopicDb(spark, sf), TopicDb.baseDic(spark)))
    assert(p.contains("BroadcastHashJoin"), "dic lookup must be broadcast")
  }

  test("trade pipelines bound every stream-stream join by event time; a batch frame gets no bound") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ttl = 777L
    val dic = TopicDb.baseDic(spark)
    def pipelines(db: DataFrame): Seq[(String, DataFrame)] = Seq(
      "pre" -> GmallPipelines.tradeOrderPreProcess(db, dic, ttl),
      "pay" -> GmallPipelines.tradePaySuccess(db, dic, ttl),
      "refund" -> GmallPipelines.tradeOrderRefund(db, dic, ttlSec = ttl),
      "refund_pay" -> GmallPipelines.tradeRefundPaySuccess(db, dic, ttl))
    // the ±ttl bound: both a `>=` and a `<=` comparison, and the ttl as an
    // interval literal (DayTimeIntervalType counts microseconds)
    def bounded(c: Expression): Boolean =
      c.find(_.isInstanceOf[GreaterThanOrEqual]).isDefined &&
        c.find(_.isInstanceOf[LessThanOrEqual]).isDefined &&
        c.collect { case Literal(v: Long, _: DayTimeIntervalType) => v }
          .count(_ == ttl * 1000000L) >= 2
    def watermarks(p: LogicalPlan): Int = p.collect { case w: EventTimeWatermark => w }.size
    val stream = Envelopes.cleanDirty(Envelopes.parseMaxwell(
      MemoryStream[String].toDS().toDF()))._1
    for ((name, df) <- pipelines(stream)) {
      val p = df.queryExecution.analyzed
      val joins = p.collect { case j: Join if j.left.isStreaming && j.right.isStreaming => j }
      assert(joins.nonEmpty, s"$name: no stream-stream join")
      joins.foreach { j =>
        assert(j.condition.exists(bounded), s"$name: join without the ±ttl bound:\n$j")
        assert(watermarks(j.right) === 1, s"$name: joined side without its watermark:\n$j")
      }
      // n chained joins have n + 1 sides, each watermarked once
      assert(watermarks(p) === joins.size + 1, s"$name: unwatermarked side:\n$p")
    }
    // the optimizer drops a batch frame's watermarks anyway, so the
    // analyzed plan is where an added one would show
    for ((name, df) <- pipelines(TopicDb(spark, sf))) {
      val p = df.queryExecution.analyzed
      assert(watermarks(p) === 0, s"$name: watermark on a batch frame:\n$p")
      assert(p.collect { case j: Join => j }.forall(!_.condition.exists(bounded)),
        s"$name: event-time bound on a batch join:\n$p")
    }
  }

  test("filter and projection push down to the parquet scan") {
    val p = plan(Relational.pricingSummary(Tables.lineitem(spark, sf)))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      p.linesIterator.filter(_.contains("Pushed")).mkString("\n"))
    // column pruning: the scan must read only the 7 referenced columns
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag") && !readSchema.contains("l_orderkey"),
      readSchema)
  }

  test("salted aggregation keeps two aggregate stages and no single-partition exchange") {
    val p = plan(graft.operators.Skew.saltedSumCount(
      Tables.events(spark, sf), Seq(col("user_id")), Relational.money(col("value"))))
    assert(!p.contains("SinglePartition"), "salted agg must never funnel to one partition")
  }

  test("PII profile is a pure projection: no exchange, stays in one codegen stage") {
    val df = graft.operators.TextProfile.piiProfile(Tables.documents(spark, sf))
    val p = plan(df)
    assert(!p.contains("Exchange"), "per-row redaction must not shuffle")
    // codegen markers ("*(n)") only print on the EXECUTED AQE plan — run
    // the query, then re-render (pre-r18 this matched the cached build
    // subtree's codegen, not the query's)
    df.collect() // executes THIS QueryExecution, so AQE finalizes it
    assert(plan(df).contains("*(1)"),
      "regex projection should be codegen'd:\n" + plan(df))
  }

  test("token chunking and holdout split are zero-shuffle projections") {
    val docs = Tables.documents(spark, sf)
    val pc = plan(graft.operators.Corpus.chunkByTokens(docs))
    assert(!pc.contains("Exchange"), "doc-local explode must not shuffle:\n" + pc)
    val split = graft.operators.Corpus.holdoutSplit(docs)
    val ps = plan(split)
    assert(!ps.contains("Exchange"), "content-hash split must not shuffle:\n" + ps)
    split.collect() // executes THIS QueryExecution, so AQE finalizes it
    assert(plan(split).contains("*(1)"),
      "split should be one codegen stage:\n" + plan(split))
  }

  test("CART scoring is a zero-shuffle projection — the distilled tree rides as literals") {
    val lf = graft.operators.Classifier.labeledFeatures(Tables.documents(spark, sf))
    val tree = graft.operators.Classifier.trainTree(lf)
    val p = plan(graft.operators.Classifier.scoreTree(lf, tree))
    assert(!p.contains("Exchange"),
      "frozen-tree scoring must not shuffle — that is the distillation's point:\n" + p)
    assert(!p.contains("Join"), "the tree must fold into CASE literals, not a model join:\n" + p)
  }

  test("driftPsi and cmsTable read the corpus exactly once") {
    val ev = Tables.events(spark, sf)
    val psi = plan(graft.operators.Sketches.driftPsi(
      ev, col("event_type"), "event_type", col("value"),
      col("event_id") % 2 === 0))
    assert("Scan parquet|FileScan|InMemoryTableScan".r.findAllIn(psi).size <= 1,
      "PSI branches must read the materialized cells, not re-scan:\n" + psi)
    val cms = plan(graft.operators.Sketches.cmsTable(
      Tables.documents(spark, sf), col("text")))
    assert("Scan parquet|FileScan|InMemoryTableScan".r.findAllIn(cms).size == 1,
      "d row hashes must ride one posexplode pass, not d unions:\n" + cms)
  }

  test("expectations: all scalar checks ride one aggregate pass over one scan") {
    import graft.operators.Expectations._
    val p = plan(check(Tables.lineitem(spark, sf), Seq(
      NotNull("l_orderkey"),
      UniqueKey(Seq("l_orderkey", "l_linenumber")),
      InRange("l_quantity", 1, 50),
      InSet("l_returnflag", Seq("A", "N", "R")))))
    assert("Scan parquet|FileScan".r.findAllIn(p).size <= 1,
      "scalar expectations must fold into one pass, not one scan each:\n" + p)
  }

  test("split contamination joins at gram grain — never doc×doc") {
    val docs = Tables.documents(spark, sf)
    val p = plan(graft.operators.Corpus.splitContamination(
      docs, graft.operators.Corpus.holdoutSplit(docs)))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "gram semi-join must stay an equi-join:\n" + p)
  }

  test("bloom-screened contamination keeps gram-grain equi-joins with the probe filter ahead of the rescue join") {
    val docs = Tables.documents(spark, sf)
    val p = plan(graft.operators.Corpus.splitContamination(
      docs, graft.operators.Corpus.holdoutSplit(docs),
      bloom = Some(graft.operators.Dedup.Bloom(1000L))))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "bloom variant must stay an equi-join:\n" + p)
    // the broadcast-bloom probe must sit in the plan as a filter feeding
    // the semi-join — its absence means every gram pays the shuffle again
    assert(p.contains("UDF"), "bloom membership screen missing from the plan:\n" + p)
  }

  test("capped jaccard verifies from slim count rows, never shingle arrays") {
    val p = plan(graft.operators.Dedup.ngramJaccardPairs(
      Tables.documents(spark, sf), cap = Cap.Fixed(100)))
    assert(!p.contains("array_intersect"),
      "exact |A∩B| must come from cold+hot counts, not array joins")
  }

  test("auto-capped LSH screens hot buckets via a broadcast anti-join, pairs via equi-join") {
    val p = plan(graft.operators.Dedup.lshCandidates(
      graft.operators.Dedup.minhashSignatures(Tables.documents(spark, sf)),
      cap = Cap.Derived(2, 2)))
    // the hot-bucket screen: tiny by construction → broadcast LeftAnti
    assert(p.contains("LeftAnti"), "hot screen must be an anti-join:\n" + p)
    assert("BroadcastHashJoin.*LeftAnti".r.findFirstIn(p).isDefined
        || "LeftAnti, BuildRight".r.findFirstIn(p).isDefined,
      "the hot list must broadcast, never shuffle:\n" + p)
    // candidate generation stays an equi-join on (band, bandkey)
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[band".r
        .findFirstIn(p).isDefined,
      "pair join must equi-join on the banded key:\n" + p)
  }

  test("auto-capped jaccard keeps the slim-count contract of the constant-cap form") {
    val p = plan(graft.operators.Dedup.ngramJaccardPairs(
      Tables.documents(spark, sf), cap = Cap.Derived(6, 2)))
    assert(!p.contains("array_intersect"),
      "exact |A∩B| must come from cold+hot counts, not array joins")
    assert(p.contains("LeftAnti"), "derived stop list must anti-join the index:\n" + p)
  }

  test("BPE token accounting encodes via a word equi-join, never per-doc merge replay") {
    val p = plan(graft.operators.Bpe.bpeTokenCounts(
      Tables.documents(spark, sf), nMerges = 4))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "vocab encode must be an equi-join on word:\n" + p)
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[word".r
        .findFirstIn(p).isDefined,
      "the encode join must key on word:\n" + p)
  }

  test("tf-idf broadcasts the corpus-size scalar and ranks per-doc only") {
    val p = plan(graft.operators.TextProfile.tfIdfTopK(Tables.documents(spark, sf), 3))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "N must be a broadcast scalar, not a shuffled join side")
    // the ranking window partitions by doc_id — never a global sort
    // (windowspecdefinition prints its partition keys first)
    assert(p.contains("windowspecdefinition(doc_id"),
      "ranking window must be doc-partitioned:\n" +
        p.linesIterator.filter(_.contains("windowspecdefinition")).mkString("\n"))
  }

  test("binned range join plans as an equi-join, never a nested loop") {
    val pts = Tables.lineitem(spark, sf).where(col("l_linenumber") === 1)
      .select(col("l_orderkey").as("p"))
    val iv = Tables.orders(spark, sf).where(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey").as("ik"),
        (col("o_orderkey") - 8).as("lo"), (col("o_orderkey") + 8).as("hi"))
    val p = plan(Relational.rangeJoinBinned(pts, iv, "p", "lo", "hi", 16L))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "range predicate must ride an equi-join on the bin key:\n" + p)
  }

  test("shuffle lookup join never broadcasts the dim, even under the default threshold") {
    // the dic side is tiny at test SF — exactly when the size-based planner
    // WOULD broadcast — so a broadcast-free plan here proves the hint pins
    // the strategy, not the data size
    val p = plan(GmallPipelines.tradeOrderRefund(
      TopicDb(spark, sf), TopicDb.baseDic(spark), GmallPipelines.shuffleDim))
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      "dic lookups must hash-partition both sides:\n" + p)
    val dicJoinLines = p.linesIterator.filter(l =>
      l.contains("ShuffledHashJoin") || l.contains("SortMergeJoin")).toSeq
    assert(dicJoinLines.size >= 2, "both dic joins must take the shuffle path:\n" + p)
    // the minimal single-lookup plan must carry NO broadcast at all
    val single = plan(Relational.lookupJoin(
      Tables.orders(spark, sf), Tables.nation(spark, sf),
      col("o_custkey") % 25 === col("n_nationkey"), "left"))
    assert(!single.contains("BroadcastExchange"),
      "lookupJoin must stay broadcast-free past the threshold:\n" + single)
    assert(single.contains("ShuffledHashJoin"),
      "hint must pin the shuffled hash strategy:\n" + single)
  }

  test("as-of join is one keyed window over a union — no join operator at all") {
    val o = Tables.orders(spark, sf)
    val left = o.select(col("o_orderkey").as("k"), col("o_custkey").as("cust"))
      .withColumn("ts", col("k"))
    val right = o.where(col("o_orderkey") % 3 === 0)
      .select(col("o_custkey").as("cust"), col("o_orderkey").as("ts"),
        col("o_orderkey").as("ref_k"))
    val p = plan(Relational.asOfJoin(left, right, "cust", "ts", Seq("ref_k")))
    assert(p.contains("windowspecdefinition(cust"), "carry-forward must be cust-keyed")
    assert(!p.contains("Join"), "piecewise merge needs no join operator:\n" + p)
  }

  test("bucketed co-located join plans with no Exchange on either side") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bucket_spec_").toString
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val o = Relational.bucketize(
        Tables.orders(spark, sf).select(col("o_orderkey"), col("o_orderstatus")),
        "graft_spec_b_orders", "o_orderkey", 4, s"$dir/orders")
      val l = Relational.bucketize(
        Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_extendedprice")),
        "graft_spec_b_lineitem", "l_orderkey", 4, s"$dir/lineitem")
      assert(o.table.startsWith("graft_spec_b_orders_n"),
        "bucketize must nonce-suffix the base name: " + o.table)
      val p = plan(o.df.join(l.df, col("o_orderkey") === col("l_orderkey")))
      assert(p.contains("SortMergeJoin"), "expected a sort-merge bucket join:\n" + p)
      assert(!p.contains("Exchange"),
        "bucketed sides must co-locate without a shuffle:\n" + p)
      spark.sql(s"DROP TABLE IF EXISTS `${o.table}`")
      spark.sql(s"DROP TABLE IF EXISTS `${l.table}`")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dir))
    }
  }

  test("date-partitioned layout prunes at the scan: the day filter is a PartitionFilter") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part_spec_").toString + "/ev"
    try {
      val parted = Relational.partitionByKey(
        Tables.events(spark, sf).withColumn("dt", to_date(col("ts")).cast("string")),
        Seq("dt"), dir)
      val p = plan(parted.where(col("dt") === "1995-01-01"))
      assert("PartitionFilters: \\[[^\\]]*dt".r.findFirstIn(p).isDefined,
        "day filter must prune directories at plan time, not scan rows:\n" + p)
    } finally {
      org.apache.hadoop.fs.FileUtil.fullyDelete(
        new java.io.File(dir).getParentFile)
      ()
    }
  }

  test("fuzzy paragraph dedup candidates ride the (band, bandkey) equi-join — never para×para") {
    // the q109 pair-generation chain up to (but not through) the eager
    // connected-components loop: distinct-text pids → MinHash sigs → LSH
    // band candidates → exact-Jaccard verify. The pair space must hash-
    // join on the band key; the verify joins are id equi-joins.
    import graft.operators.Dedup
    val paras = Dedup.explodeParagraphs(Tables.documents(spark, sf), 10)
    val firsts = paras.groupBy(col("para"))
      .agg(min(Dedup.encodePos(col("doc_id"), col("pos"))).as("pid"))
    val pairs = Dedup.jaccardVerify(firsts,
      Dedup.lshCandidates(Dedup.minhashSignatures(firsts, "pid", "para"), "pid"),
      "pid", "para", 3, 0.4)
    val p = plan(pairs)
    assert(!p.contains("CartesianProduct"), "no unbounded product:\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin"), "no nested-loop pair space:\n" + p)
    assert("(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) \\[band".r
        .findFirstIn(p).isDefined,
      "candidate generation must equi-join on the band key:\n" + p)
  }

  test("semDedup generates pairs through a cell equi-join — no cross-cell pair space") {
    val emb = Tables.embeddings(spark, sf)
    val cents = Similarity.kmeansCentroids(emb, 16, 0)
    val p = plan(Similarity.cellNearDupPairs(emb, cents, 0.35))
    assert(!p.contains("CartesianProduct"), "no unbounded product:\n" + p)
    // the only nested-loop allowed is the bounded n×nCells centroid
    // broadcast inside assignCells (runs once per side of the self-join);
    // the PAIR space itself must ride a hash/merge equi-join keyed on cell
    assert("(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) \\[cell".r
        .findFirstIn(p).isDefined,
      "pair generation must equi-join on the cell key:\n" + p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2,
      "only the two bounded centroid-assignment broadcasts may nested-loop:\n" + p)
  }

  test("capped embed near-dup: pop filter under the pair join, all joins equi on bucket") {
    val emb = Tables.embeddings(spark, sf)
    val df = Similarity.nearDupPairs(emb, 0.35, 64, nPlanes = 4,
      cap = Cap.Fixed(64))
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), "no unbounded product:\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin"), "no nested-loop pair space:\n" + p)
    assert("(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) \\[bucket".r
        .findFirstIn(p).isDefined,
      "the pair space must ride a bucket equi-join:\n" + p)
    // the cap-or-pivot predicate must apply UNDER the pair join (on its
    // left input — as a Filter node or folded into the stats join's
    // condition): a plan that filtered pairs only after joining would
    // materialize the over-full buckets' pop² rows it exists to prevent
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Join => LJoin}
    val outerJoin = df.queryExecution.optimizedPlan.collectFirst { case j: LJoin => j }
    assert(outerJoin.exists(_.left.collectFirst[Any] {
      case f: LFilter if f.condition.toString.contains("pop") => f
      case j: LJoin if j.condition.exists(_.toString.contains("pop")) => j
    }.isDefined),
      "the population cap must apply on the pair join's left INPUT:\n" +
        df.queryExecution.optimizedPlan.toString)
  }

  test("capped cell near-dup: pop filter under the pair join, pair space equi on cell") {
    val emb = Tables.embeddings(spark, sf)
    val cents = Similarity.kmeansCentroids(emb, 16, 0)
    val df = Similarity.cellNearDupPairs(emb, cents, 0.35, cap = Cap.Fixed(24))
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), "no unbounded product:\n" + p)
    assert("(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) \\[cell".r
        .findFirstIn(p).isDefined,
      "the pair space must ride a cell equi-join:\n" + p)
    // the assignment is checkpointed ONCE — no per-consumer re-run of the
    // n×nCells centroid broadcast survives in the pair plan
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the checkpointed assignment must not re-run the centroid broadcast:\n" + p)
    // the cap-or-pivot predicate must apply UNDER the pair join (same
    // contract as the capped nearDupPairs): an over-cap cell's left side
    // is one pivot row, so the pop² output never materializes
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Join => LJoin}
    val outerJoin = df.queryExecution.optimizedPlan.collectFirst { case j: LJoin => j }
    assert(outerJoin.exists(_.left.collectFirst[Any] {
      case f: LFilter if f.condition.toString.contains("pop") => f
      case j: LJoin if j.condition.exists(_.toString.contains("pop")) => j
    }.isDefined),
      "the population cap must apply on the pair join's left INPUT:\n" +
        df.queryExecution.optimizedPlan.toString)
  }

  test("uncapped pair generators plan no stats join, anti-join or window") {
    // Cap.Off is the plain keyed self-join: the population profile, the
    // hot-key anti-join and the pivot-rank window exist only under a cap
    import graft.operators.Dedup
    val emb = Tables.embeddings(spark, sf)
    val docs = Tables.documents(spark, sf)
    for (df <- Seq(
        Dedup.lshCandidates(Dedup.minhashSignatures(docs), cap = Cap.Off),
        Dedup.ngramJaccardPairs(docs, cap = Cap.Off),
        Similarity.cellNearDupPairs(emb, Similarity.kmeansCentroids(emb, 16, 0), 0.35,
          cap = Cap.Off))) {
      val p = plan(df)
      assert(!p.contains("LeftAnti"), "no hot-key anti-join:\n" + p)
      assert(!p.contains("Window"), "no pivot-rank window:\n" + p)
      val cols = df.queryExecution.optimizedPlan.collect { case n => n.output.map(_.name) }
        .flatten.toSet
      assert(!cols.contains("pop") && !cols.contains("cap"),
        "no population-stats join:\n" + df.queryExecution.optimizedPlan)
    }
  }

  test("substring profile screens duplicated windows via a win equi-join, islands partition by doc") {
    import graft.operators.Dedup
    val p = plan(Dedup.substringDupProfile(Tables.documents(spark, sf), 40, 10))
    assert(!p.contains("CartesianProduct"), "no unbounded product:\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin"), "no nested-loop window screen:\n" + p)
    assert("(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) \\[win".r
        .findFirstIn(p).isDefined,
      "the df screen must equi-join on the window text:\n" + p)
    // the island pass must be doc-grain (a global sort would serialize it)
    assert("partitionBy=\\[doc_id".r.findFirstIn(p).isDefined
        || p.contains("hashpartitioning(doc_id"),
      "the span merge must window PARTITION BY doc_id:\n" + p)
  }

  test("KN scoring joins the stream to the model on (u, w) — equi, no window, no product") {
    val p = plan(graft.operators.NgramLm.knScore(Tables.documents(spark, sf)))
    assert(!p.contains("CartesianProduct"),
      "scoring must never cross the stream with the model:\n" + p)
    assert(!p.contains("Window"),
      "no window over the corpus bigram stream:\n" + p)
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[u".r
        .findFirstIn(p).isDefined,
      "the scoring join must key on the bigram:\n" + p)
  }

  test("grouped budget cut runs windowless — the prefix scan is the two-pass partition scheme") {
    import spark.implicits._
    val rows = (1 to 50).map(i => (s"g${i % 3}", i.toLong, 1L))
      .toDF("grp", "id", "t")
    val p = plan(graft.operators.Corpus.selectByBudgetPerGroup(
      rows, "grp", "id", "t", Map("g0" -> 5L, "g1" -> 5L, "g2" -> 5L)))
    assert(!p.contains("Window"),
      "a per-group running-sum window would single-task each source:\n" + p)
  }
}

package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic UP-SCALE corpus synthesis (round-9 verdict ask #1): the
  * driver's testdata tops out at sf0.1, so the growth-exponent leg could
  * only measure DOWN-scale, where fixed per-gate overhead flattens every
  * exponent. This tool unions `factor` key-offset replicas of a source sf
  * dir into an sf(factor×)-equivalent corpus so Bench can measure the
  * scale-sensitive gates going UP.
  *
  * Replica semantics — "the same corpus at factor× scale", not "factor
  * copies of one corpus":
  *  - Every key domain is offset by `stride = max(key)+1` per replica, so
  *    joins (orders↔lineitem, customer) stay intact and key spaces grow
  *    linearly. Strides in the driver's data are round numbers (150000,
  *    20000, …), so modular derivations (the ANN gates' `vec_id % 50`
  *    query subset, TopicDb's `k % 5` status mix) keep their proportions.
  *  - `documents.text` gets a per-replica suffix on EVERY token
  *    (replica 0 keeps the original text verbatim), so replicas are
  *    textually DISJOINT: a real 10× crawl has ~10× near-dup clusters of
  *    the same size distribution, not 10×-bigger clusters — suffixing
  *    only some tokens would leave most shingles shared across replicas
  *    and inflate the pair space ~factor² by construction, unfairly
  *    charging super-linear growth to the operators under test.
  *  - `embeddings.embedding` is cyclically shifted by 7·replica positions
  *    (replica 0 unshifted): same marginal distribution and cluster
  *    geometry, decorrelated across replicas — the corpus grows denser
  *    the way a bigger crawl of the same embedding space does.
  *  - Timestamps are unchanged: factor× rows in the same time range is
  *    higher traffic, which is what scaling a stream means. TopicDb's
  *    ts(=orderkey) span grows to ~1.5e6 s at 10×, still far below the
  *    DAG replay's 10⁷ s joinTtl.
  *
  * Everything is a deterministic Column program over the driver's parquet
  * (no RNG, no driver-side rows); re-running overwrites to an identical
  * corpus. A `_genscale.json` manifest records (source, factor) so Bench
  * can derive the exponent ratio without trusting the dir name.
  *
  * Usage: runMain graft.tools.GenScale <srcSfDir> <outDir> [factor] */
object GenScale {

  /** 0..factor-1 replica index crossed under every source row (broadcast —
    * the replica table is `factor` rows). */
  private def reps(spark: SparkSession, factor: Int): DataFrame =
    broadcast(spark.range(factor.toLong).toDF("_r"))

  private def off(c: String, stride: Long): Column =
    (col(c) + col("_r") * stride).as(c)

  private def maxOf(df: DataFrame, c: String): Long =
    df.agg(max(col(c))).head().getLong(0)

  def generate(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    require(factor >= 2, s"factor must be >= 2, got $factor")
    val r = reps(spark, factor)
    def tbl(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def write(name: String, df: DataFrame, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")

    val ordStride = maxOf(tbl("orders"), "o_orderkey") + 1
    val custStride = maxOf(tbl("customer"), "c_custkey") + 1
    val partStride = maxOf(tbl("part"), "p_partkey") + 1
    val suppStride = maxOf(tbl("supplier"), "s_suppkey") + 1

    // small dims copy verbatim (a 10× warehouse has the same 25 nations)
    write("region", tbl("region"), 1)
    write("nation", tbl("nation"), 1)

    val ord = tbl("orders")
    write("orders", ord.crossJoin(r).select(
      off("o_orderkey", ordStride), off("o_custkey", custStride),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")), 8)

    val li = tbl("lineitem")
    write("lineitem", li.crossJoin(r).select(
      off("l_orderkey", ordStride), off("l_partkey", partStride),
      off("l_suppkey", suppStride), col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"), col("l_tax"),
      col("l_returnflag"), col("l_linestatus"), col("l_shipdate")), 16)

    write("customer", tbl("customer").crossJoin(r).select(
      off("c_custkey", custStride), col("c_name"), col("c_nationkey"),
      col("c_acctbal"), col("c_mktsegment")), 4)

    write("supplier", tbl("supplier").crossJoin(r).select(
      off("s_suppkey", suppStride), col("s_name"), col("s_nationkey"),
      col("s_acctbal")), 1)

    write("part", tbl("part").crossJoin(r).select(
      off("p_partkey", partStride), col("p_name"), col("p_brand"),
      col("p_type"), col("p_size"), col("p_retailprice")), 2)

    val ev = tbl("events")
    val evStride = maxOf(ev, "event_id") + 1
    val userStride = maxOf(ev, "user_id") + 1
    write("events", ev.crossJoin(r).select(
      off("event_id", evStride), col("ts"), off("user_id", userStride),
      col("event_type"), col("value"), col("props")), 8)

    val docs = tbl("documents")
    val docStride = maxOf(docs, "doc_id") + 1
    // token-suffix every replica>0 token: `$1` is the whole-token group,
    // `~r<N>` glues to it without introducing whitespace, so paragraph
    // (\n\n) and token boundaries are preserved while every shingle
    // becomes replica-unique
    val text = when(col("_r") === 0, col("text")).otherwise(
      regexp_replace(col("text"), lit("(\\S+)"), concat(lit("$1~r"), col("_r"))))
    write("documents", docs.crossJoin(r).select(
      off("doc_id", docStride), text.as("text"), col("lang"), col("source"),
      length(text).cast("long").as("n_chars")), 8)

    val emb = tbl("embeddings")
    val vecStride = maxOf(emb, "vec_id") + 1
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val shifted = transform(sequence(lit(0), lit(dim - 1)),
      i => element_at(col("embedding"),
        (pmod(i + col("_r") * 7, lit(dim)) + 1).cast("int")))
    write("embeddings", emb.crossJoin(r).select(
      off("vec_id", vecStride),
      shifted.cast("array<float>").as("embedding"), col("label")), 4)

    writeManifest(spark, out, src, factor)
  }

  /** DOCUMENT-FAMILY-ONLY up-scale (round-10 ask #6): documents +
    * embeddings at `factor`× — the ×100-equivalent leg for the dedup/ANN/
    * contamination family, where generating the full warehouse would cost
    * ~10× the disk for tables that leg never reads. Same replica
    * construction as [[generate]] (key offsets, per-replica token
    * suffixing keeps shingle spaces replica-disjoint), except embeddings:
    * the rotation group has only `dim` elements, so at factor > dim the
    * pure rotate would emit element-wise IDENTICAL vectors across
    * replicas; replicas r ≥ dim therefore use the REVERSED rotation
    * (2·dim distinct transforms — covers factor ≤ 128 at dim 64), keeping
    * every replica's vector set geometrically distinct so the near-dup
    * pair space stays linear by construction. */
  def generateDocs(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    require(factor >= 2, s"factor must be >= 2, got $factor")
    val r = reps(spark, factor)
    def tbl(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def write(name: String, df: DataFrame, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")

    val docs = tbl("documents")
    val docStride = maxOf(docs, "doc_id") + 1
    val text = when(col("_r") === 0, col("text")).otherwise(
      regexp_replace(col("text"), lit("(\\S+)"), concat(lit("$1~r"), col("_r"))))
    write("documents", docs.crossJoin(r).select(
      off("doc_id", docStride), text.as("text"), col("lang"), col("source"),
      length(text).cast("long").as("n_chars")), 16)

    val emb = tbl("embeddings")
    val vecStride = maxOf(emb, "vec_id") + 1
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    require(factor <= 2 * dim,
      s"generateDocs covers factor <= 2*dim distinct transforms (dim=$dim, factor=$factor)")
    val shifted = transform(sequence(lit(0), lit(dim - 1)), i => element_at(
      col("embedding"),
      // floor, not `/`: Spark's `/` is FLOAT division, so `(_r/dim) % 2`
      // is nonzero for every _r in 1..dim-1 and the forward branch would
      // only ever see _r = 0 (making replicas r and r+dim identical)
      (when(floor(col("_r") / dim) % 2 === 0, pmod(i + col("_r") * 7, lit(dim)))
        .otherwise(pmod(col("_r") * 7 - i, lit(dim))) + 1).cast("int")))
    write("embeddings", emb.crossJoin(r).select(
      off("vec_id", vecStride),
      shifted.cast("array<float>").as("embedding"), col("label")), 8)

    writeManifest(spark, out, src, factor)
  }

  private def writeManifest(spark: SparkSession, out: String, src: String,
      factor: Int): Unit = {
    // manifest LAST: its presence marks a complete corpus (a generator
    // killed mid-write leaves no manifest and Bench regenerates)
    // record the NORMALIZED source path so a later freshness check can't
    // be defeated by relative-vs-absolute spellings of the same dir
    val srcNorm =
      java.nio.file.Paths.get(src).toAbsolutePath.normalize.toString
    val manifest =
      s"""{"source":"$srcNorm","factor":$factor}"""
    val p = new org.apache.hadoop.fs.Path(s"$out/_genscale.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(p, true)
    try os.write((manifest + "\n").getBytes("UTF-8")) finally os.close()
  }

  /** (source, factor) from a generated dir's manifest — `None` when the
    * manifest is absent (incomplete or never generated), so callers can
    * regenerate; a manifest whose SOURCE differs from the intended one
    * must also be treated as stale. */
  def manifestInfo(spark: SparkSession, dir: String): Option[(String, Int)] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_genscale.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      for {
        src <- "\"source\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(s).map(_.group(1))
        f <- "\"factor\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(s).map(_.group(1).toInt)
      } yield (src, f)
    }
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/root/repo/updata/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.core.Engine.configure(SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    if (args.contains("docs")) generateDocs(spark, src, out, factor)
    else generate(spark, src, out, factor)
    println(f"[genscale] $src ×$factor → $out in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Tables
import graft.operators.Relational

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is one operator family from SURVEY.md §2 (or a
  * training-data-pipeline extension) run over the driver's parquet tables;
  * [[oracleSql]] carries the DuckDB-equivalent SQL for the hash-compare gate.
  *
  * Determinism contract with the oracle (see graft.operators.Relational):
  * money doubles in the test data are exact 2-decimal values → decimal casts
  * are lossless and decimal sums bit-exact in both engines; derived per-row
  * doubles are identical IEEE ops in both engines, rounded before exact
  * decimal summation; timestamps are emitted as formatted strings.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    Relational.customerByRegion(
      Tables.customer(spark, d), Tables.nation(spark, d), Tables.region(spark, d))
  }

  private def families(oracleRun: Boolean) = Seq(graft.entry.RelationalGates.queries, graft.entry.StreamCoreGates.queries, graft.entry.PipelineGates.queries, graft.entry.DagGates.queries, graft.entry.DedupGates.queries, graft.entry.SimilarityGates.queries(oracleRun), graft.entry.TextGates.queries, graft.entry.CorpusGates.queries, graft.entry.SketchGates.queries, graft.entry.MiscGates.queries)
  private val oracleFamilies = Seq(graft.entry.RelationalGates.oracleSql, graft.entry.StreamCoreGates.oracleSql, graft.entry.PipelineGates.oracleSql, graft.entry.DagGates.oracleSql, graft.entry.DedupGates.oracleSql, graft.entry.SimilarityGates.oracleSql, graft.entry.TextGates.oracleSql, graft.entry.CorpusGates.oracleSql, graft.entry.SketchGates.oracleSql, graft.entry.MiscGates.oracleSql)

  /** All gate families, concatenated, with band guards ACTIVE — the
    * fail-closed default every runner gets unless it declares itself
    * out-of-band via [[queriesFor]]. The require catches a key landing in
    * two families (++ would silently keep the last one and the driver would
    * gate one query fewer than declared). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    queriesFor(oracleRun = true)

  /** @param oracleRun false ONLY for runners that legitimately execute
    * gates outside their oracle SF band with no oracle in sight (Bench
    * scale legs, tools.Profile). The flag is threaded explicitly — there
    * is no mutable global a future entry point could forget to set
    * (ADVICE r15); forgetting the parameter yields the fail-closed
    * default above. */
  def queriesFor(oracleRun: Boolean): Map[String, (SparkSession, String) => DataFrame] = {
    val fams = families(oracleRun)
    val all = fams.reduce(_ ++ _)
    require(all.size == fams.map(_.size).sum,
      s"duplicate gate key across families: ${fams.flatMap(_.keys).groupBy(identity).collect { case (k, v) if v.size > 1 => k }}")
    all
  }

  def oracleSql: Map[String, String] = {
    val all = oracleFamilies.reduce(_ ++ _)
    require(all.size == oracleFamilies.map(_.size).sum,
      s"duplicate oracle key across families: ${oracleFamilies.flatMap(_.keys).groupBy(identity).collect { case (k, v) if v.size > 1 => k }}")
    require(all.keySet == queries.keySet,
      "queries/oracleSql key sets diverge: " + (all.keySet diff queries.keySet) + " / " + (queries.keySet diff all.keySet))
    all
  }
}

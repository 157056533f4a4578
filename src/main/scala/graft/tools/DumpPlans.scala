package graft.tools

import java.io.{File, PrintWriter}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: dump `.explain("formatted")` for the INTERNAL operator plans
  * the optimization rounds touch (the gate-level Profile explain only shows
  * the post-localCheckpoint stub for cached/materialized operators).
  * `runMain graft.tools.DumpPlans <outDir> [sfDir]` writes one
  * `<name>.txt` per plan. */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    new File(outDir).mkdirs()
    val spark = graft.core.Engine.configure(SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def dump(name: String, df: => DataFrame): Unit = {
      val pw = new PrintWriter(s"$outDir/$name.txt")
      try pw.println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => pw.println(s"FAILED: $e") }
      finally pw.close()
      System.err.println(s"[plans] $name")
    }

    import graft.operators.NgramLm
    val docs = graft.core.Tables.documents(spark, sfDir)
    val vocab = NgramLm.trainVocab(docs)
    val bigrams = NgramLm.streamWith(docs, vocab, NgramLm.Bigram)
    dump("kn_bigram_stream", bigrams)
    dump("kn3_trigram_stream", NgramLm.streamWith(docs, vocab, NgramLm.Trigram))
    val bg = bigrams.groupBy(col("u"), col("w")).agg(count(lit(1)).as("c"))
    dump("kn_score_against", NgramLm.knScoreAgainst(bigrams, bg))
    dump("bpe_train_vocab", graft.operators.Bpe.wordCountsPlan(docs)
      .orderBy(col("cnt").desc, col("word")).limit(1 << 20))
    spark.stop()
  }
}

package graft

import graft.operators.NgramLm
import graft.streaming.KnIngest

/** Frozen-model KN scoring on ingest: batch equivalence, the REAL
  * unseen-pair backoff path, replay idempotence, and the loud
  * missing-symbol guard. */
class KnIngestSpec extends SparkTestBase {
  import spark.implicits._

  // hapax 'z' gives the frozen model its <unk> state
  private def corpus = Seq(
    (1L, "a b"), (2L, "a b"), (3L, "a b"), (4L, "b a"), (5L, "a z b"))
    .toDF("doc_id", "text")

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_kn_spec_").toString

  test("two-batch ingest over the training corpus equals batch knScore") {
    val root = tmp()
    KnIngest.freezeModel(corpus, root)
    KnIngest.processBatch(corpus.where($"doc_id" <= 2), root, 0L)
    KnIngest.processBatch(corpus.where($"doc_id" > 2), root, 1L)
    val got = KnIngest.readScores(spark, root)
      .orderBy($"doc_id").as[(Long, Long, Long)].collect().toSeq
    val want = NgramLm.knScore(corpus)
      .orderBy($"doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(got === want)
  }

  test("unseen pair scores the pure backoff mass λ(u)·p_cont(w)") {
    val root = tmp()
    KnIngest.freezeModel(corpus, root)
    // "b b": pair (b,b) never trained. Hand KN over the frozen counts
    // (B=8; cu(b)=5, n1f(b)=2; n1p(b)=3; and the seen frame pairs):
    //   p(b|b)    = 0 + (0.75·2/5)·(3/8)            = 0.1125
    //   p(b|<s>)  = (1−0.75)/5 + (0.75·2/5)·(3/8)   = 0.1625
    //   p(</s>|b) = (4−0.75)/5 + (0.75·2/5)·(2/8)   = 0.725
    KnIngest.processBatch(Seq((9L, "b b")).toDF("doc_id", "text"), root, 0L)
    val got = KnIngest.readScores(spark, root)
      .as[(Long, Long, Long)].collect().head
    def u(p: Double): Long = (BigDecimal(-math.log(p)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP) * 1000000).toLong
    val expected = (u(0.1625) + u(0.1125) + u(0.725)) / 3
    assert(got === ((9L, 3L, expected)))
  }

  test("unknown words pool to <unk> under the FROZEN vocab") {
    val root = tmp()
    KnIngest.freezeModel(corpus, root)
    // 'q' was never seen; 'z' was a training hapax — both land on <unk>,
    // so the two docs must score identically
    KnIngest.processBatch(
      Seq((10L, "a q b"), (11L, "a z b")).toDF("doc_id", "text"), root, 0L)
    val got = KnIngest.readScores(spark, root)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(got(10L) === got(11L))
  }

  test("epoch replay overwrites its own directory — no double rows") {
    val root = tmp()
    KnIngest.freezeModel(corpus, root)
    KnIngest.processBatch(corpus.where($"doc_id" <= 2), root, 0L)
    KnIngest.processBatch(corpus.where($"doc_id" <= 2), root, 0L) // replay
    assert(KnIngest.readScores(spark, root).count() === 2L)
  }

  test("a context symbol missing from the model fails loudly") {
    val root = tmp()
    // every word ≥ 2 occurrences: the frozen model has NO <unk> state
    KnIngest.freezeModel(
      Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text"), root)
    val ex = intercept[Exception] {
      KnIngest.processBatch(Seq((9L, "a c b")).toDF("doc_id", "text"), root, 0L)
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(chain(ex).exists(_.contains("missing from the frozen model")),
      s"unexpected failure: $ex")
  }
}

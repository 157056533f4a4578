package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{TokenizeGenerator, VectorExpressions}

/** SQL surface of the library's native expressions, as a standard
  * `SparkSessionExtensions` entry point:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   SELECT word, count(*) FROM docs LATERAL VIEW graft_tokenize(text) t AS word ...
  *   SELECT graft_cosine(a.embedding, b.embedding) ...
  * }}}
  *
  * This is the deployment path the reference exposes through
  * `createTemporarySystemFunction` (its SplitFunction registration,
  * app/dws/DwsTrafficSourceKeywordPageViewWindow.java:134) — in Spark
  * the extension injects the functions into every session built with the
  * conf, making them usable from pure SQL without any Scala import.
  * Every graft entry point builds its session through
  * [[graft.core.Engine.configure]], which sets this conf, and a harness
  * clone (`newSession`) inherits it — so this injection is the one
  * registration path, in production, the gates and the specs alike.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // optimizer guard: global row_number()-top-k filters feed the window
    // a distributed Sort+Limit (TakeOrderedAndProject) instead of a
    // single-task full sort — see graft.plans.GlobalWindowTopK
    ext.injectOptimizerRule(_ => graft.plans.GlobalWindowTopK)
  }
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  private def arity(name: String, n: Int)(args: Seq[Expression]): Seq[Expression] = {
    require(args.length == n, s"$name expects $n arguments, got ${args.length}")
    args
  }

  /** (name, info, builder) for every SQL-exposed native expression. */
  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_dot", info("graft_dot", "graft_dot(a, b) - double dot product of two float vectors"),
      (a: Seq[Expression]) => { val x = arity("graft_dot", 2)(a)
        VectorExpressions.DotProductF(x(0), x(1)) }),
    ("graft_l2norm", info("graft_l2norm", "graft_l2norm(a) - L2 norm of a float vector"),
      (a: Seq[Expression]) => { val x = arity("graft_l2norm", 1)(a)
        VectorExpressions.L2NormF(x(0)) }),
    ("graft_bucket64", info("graft_bucket64",
      "graft_bucket64(v, nPlanes) - hyperplane LSH bucket of a 64-dim float vector"),
      (a: Seq[Expression]) => { val x = arity("graft_bucket64", 2)(a)
        val n = x(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_bucket64 nPlanes must be an int literal, got $other")
        }
        VectorExpressions.HyperplaneBucketF(x(0), 64, n) }),
    ("graft_tokenize", info("graft_tokenize",
      "graft_tokenize(text) - table function: one row per token (whitespace + CJK bigrams)"),
      (a: Seq[Expression]) => { val x = arity("graft_tokenize", 1)(a)
        TokenizeGenerator(x(0)) }),
    ("graft_minhash", info("graft_minhash",
      "graft_minhash(tokens, numPerms) - single-pass MinHash signature of a string array"),
      (a: Seq[Expression]) => { val x = arity("graft_minhash", 2)(a)
        graft.functions.HashExpressions.MinHashSig(x(0), intLit("graft_minhash", x(1))) }),
    ("graft_simhash", info("graft_simhash",
      "graft_simhash(tokens, bits) - single-pass SimHash signature of a string array"),
      (a: Seq[Expression]) => { val x = arity("graft_simhash", 2)(a)
        graft.functions.HashExpressions.SimHashSig(x(0), intLit("graft_simhash", x(1))) }),
    ("graft_redact_pii", info("graft_redact_pii",
      "graft_redact_pii(text) - emails then IPv4 literals replaced by <EMAIL>/<IP>"),
      (a: Seq[Expression]) => { val x = arity("graft_redact_pii", 1)(a)
        import org.apache.spark.sql.catalyst.expressions.{Literal, RegExpReplace}
        import graft.operators.TextProfile
        RegExpReplace(
          RegExpReplace(x(0), Literal(TextProfile.EmailRe), Literal("<EMAIL>")),
          Literal(TextProfile.Ipv4Re), Literal("<IP>")) }),
    // the HLL sketch primitives from pure SQL: bucket/rho per value →
    // group into registers with max(rho) per bucket, union slices with
    // graft_hll_merge — the mergeable-digest contract of
    // Sketches.hllSketch without Scala. Built as direct catalyst trees
    // (a Column built inside a function builder stays an unevaluable
    // ColumnNodeExpression); ExtensionsSpec pins them register-for-
    // register against Sketches.hllObs/hllSketch.
    ("graft_hll_bucket", info("graft_hll_bucket",
      "graft_hll_bucket(value) - HLL register index (0-63) of a string value"),
      (a: Seq[Expression]) => { val x = arity("graft_hll_bucket", 1)(a)
        import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, ShiftRight}
        import org.apache.spark.sql.types.IntegerType
        Cast(ShiftRight(hllHash(x(0)), Literal(60 - graft.operators.Sketches.HllP)),
          IntegerType) }),
    ("graft_hll_rho", info("graft_hll_rho",
      "graft_hll_rho(value) - HLL rank (leading-zero count + 1) of a string value"),
      (a: Seq[Expression]) => { val x = arity("graft_hll_rho", 1)(a)
        import org.apache.spark.sql.catalyst.expressions.{Bin, BitwiseAnd, Cast,
          EqualTo, If, Length, Literal, Subtract}
        import org.apache.spark.sql.types.IntegerType
        val lowBits = 60 - graft.operators.Sketches.HllP
        val rhoMax = lowBits + 1
        val low = BitwiseAnd(hllHash(x(0)), Literal((1L << lowBits) - 1))
        Cast(If(EqualTo(low, Literal(0L)),
          Literal(rhoMax), Subtract(Literal(rhoMax), Length(Bin(low)))),
          IntegerType) }),
    ("graft_hll_merge", info("graft_hll_merge",
      "graft_hll_merge(a, b) - element-wise max of two HLL register arrays"),
      (a: Seq[Expression]) => { val x = arity("graft_hll_merge", 2)(a)
        import org.apache.spark.sql.catalyst.expressions.{Greatest, LambdaFunction,
          UnresolvedNamedLambdaVariable, ZipWith}
        val l = UnresolvedNamedLambdaVariable(Seq("l"))
        val r = UnresolvedNamedLambdaVariable(Seq("r"))
        ZipWith(x(0), x(1), LambdaFunction(Greatest(Seq(l, r)), Seq(l, r))) }),
  )

  /** 60-bit md5-prefix hash as a catalyst tree — the expression twin of
    * [[graft.operators.Dedup.md5Long]] (conv(substr(md5(v),1,15),16,10)),
    * spec-pinned against it. */
  private def hllHash(v: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Conv, Literal, Md5, Substring}
    import org.apache.spark.sql.types.{LongType, StringType}
    Cast(Conv(Substring(Md5(Cast(v, StringType)), Literal(1), Literal(15)),
      Literal(16), Literal(10)), LongType)
  }

  private def intLit(fn: String, e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects an int literal, got $other")
  }
}

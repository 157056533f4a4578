package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Shared MinHash arithmetic: 60-bit md5 prefix hashes permuted by affine
  * maps mod the Mersenne prime 2^61−1 (Broder 1997 construction). The same
  * (a, b) coefficients and modular math are injected verbatim into the
  * DuckDB oracle SQL, so every result here is exact-compare checkable.
  */
object MinHashUtil {
  val MersennePrime: Long = 2305843009213693951L // 2^61 - 1

  /** Deterministic per-perm affine coefficients (split-mix style). */
  def permCoeff(i: Int): (Long, Long) = {
    def mix(x0: Long): Long = {
      var x = x0 * 0x9e3779b97f4a7c15L
      x ^= (x >>> 30); x *= 0xbf58476d1ce4e5b9L
      x ^= (x >>> 27); x *= 0x94d049bb133111ebL
      x ^ (x >>> 31)
    }
    ((mix(2L * i + 1).abs % (MersennePrime - 1)) + 1,
      mix(2L * i + 2).abs % MersennePrime)
  }

  /** (a·h + b) mod 2^61−1 for h < 2^61, using 128-bit product reduction
    * (2^64 ≡ 8 mod p, so x = hi·2^64 + lo ≡ 8·hi + lo). */
  def affineMod(h: Long, a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, h) // both operands non-negative
    val lo = a * h
    var r = (lo & MersennePrime) + ((hi << 3) | (lo >>> 61))
    r = (r & MersennePrime) + (r >>> 61)
    if (r >= MersennePrime) r -= MersennePrime
    r += b
    if (r >= MersennePrime) r -= MersennePrime
    r
  }

  /** First 60 bits of md5(utf8 bytes) — identical to
    * `conv(substr(md5(s),1,15),16,10)` / the DuckDB hex-fold oracle. */
  def md5Long60(bytes: Array[Byte]): Long = {
    val d = MessageDigest.getInstance("MD5").digest(bytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4 // 64 big-endian bits → top 15 hex chars
  }
}

object HashExpressions {

  /** MinHash signature of a shingle array in ONE pass: md5 each shingle,
    * track the minimum of every affine permutation. Replaces the
    * explode → 32-chained-min-aggregates formulation, which needed a
    * shuffle and overflowed whole-stage codegen (the 32 aggregate update
    * expressions compile to a huge method). Per-row imperative loop =
    * narrow, shuffle-free, embarrassingly parallel.
    *
    * CodegenFallback is fine here: the per-row work (≈ shingles × perms)
    * dwarfs the fallback dispatch overhead.
    */
  case class MinHashSig(child: Expression, numPerms: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "minhash_sig"

    @transient private lazy val coeffs: Array[(Long, Long)] =
      Array.tabulate(numPerms)(MinHashUtil.permCoeff)

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val mins = Array.fill(numPerms)(Long.MaxValue)
      var i = 0
      while (i < n) {
        val s = arr.getUTF8String(i)
        if (s != null) {
          val h = MinHashUtil.md5Long60(s.getBytes)
          var p = 0
          while (p < numPerms) {
            val (a, b) = coeffs(p)
            val v = MinHashUtil.affineMod(h, a, b)
            if (v < mins(p)) mins(p) = v
            p += 1
          }
        }
        i += 1
      }
      new GenericArrayData(mins)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** 60-bit SimHash of a token array in one pass: per distinct-input token,
    * md5 → ±1 votes on every bit; sign of the vote sum sets the bit. Same
    * single-pass rationale as [[MinHashSig]]. */
  case class SimHashSig(child: Expression, bits: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def prettyName: String = "simhash_sig"

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val votes = new Array[Int](bits)
      var i = 0
      while (i < n) {
        val s = arr.getUTF8String(i)
        if (s != null) {
          val h = MinHashUtil.md5Long60(s.getBytes)
          var b = 0
          while (b < bits) {
            if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
        }
        i += 1
      }
      var sig = 0L
      var b = 0
      while (b < bits) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
      sig
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }
}

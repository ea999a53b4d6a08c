package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Compiled kernels for the TextHash spec (see [[TextHash]] for the
  * spec itself and its DuckDB twin).
  *
  * The spec is expressible with Spark's higher-order functions
  * (`transform`/`aggregate`), and the first implementation did so —
  * but HOFs evaluate their lambda per array element through the
  * interpreter (one boxed function call per element), which made
  * MinHash over ~10⁵ shingle values per partition the bench
  * bottleneck (78 s at sf0.1). These expressions compute the same
  * values in tight JVM loops and stay inside whole-stage codegen via
  * `doGenCode` delegating to the static [[TextHashKernels]] methods —
  * one call per row, zero per-element dispatch.
  *
  * Each expression is pinned to the HOF formulation by
  * TextHashSpec's cross-engine test values.
  */
object TextHashKernels {

  import TextHash.{P, SimMult, SimMult2, Mod32, SimBits, PermA, PermB,
    NumPerms, Bands, RowsPerBand, EmbedPlanes, embedPlaneA, embedPlaneB}

  /** Polynomial char hash per token: fold (h·31 + codepoint) mod P. */
  def tokenHashes(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = charFold(tokens.getUTF8String(i).toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The codepoint fold of [[tokenHashes]] and [[stringHash]]. */
  private def charFold(s: String): Long = {
    var h = 0L
    var j = 0
    while (j < s.length) {
      val cp = s.codePointAt(j)
      h = (h * 31 + cp) % P
      j += Character.charCount(cp)
    }
    h
  }

  /** Distinct 3-gram shingle hashes (first-occurrence order). Its own
    * fold, not [[gramFold]] at n = 3: the two differ when the first
    * hash lies outside [0, P), which TextHashKernelSpec pins.
    */
  def shingleSet(th: ArrayData): ArrayData = {
    val n = th.numElements()
    if (n < 3) return new GenericArrayData(Array.emptyLongArray)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i <= n - 3) {
      val s = (((th.getLong(i) * 31 + th.getLong(i + 1)) % P) * 31 +
        th.getLong(i + 2)) % P
      seen.add(s)
      i += 1
    }
    longs(seen)
  }

  /** A distinct-hash set as a bigint array, in its iteration order. */
  private def longs(seen: java.util.Set[java.lang.Long]): ArrayData = {
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  private val permA: Array[Long] = PermA.toArray
  private val permB: Array[Long] = PermB.toArray

  /** 16-permutation MinHash signature over a shingle array. The
    * signature of an EMPTY shingle set is the empty array (callers
    * filter < 3-token docs out before this point; the HOF spec
    * yields nulls there and the oracle drops the doc entirely).
    */
  def minHashSig(sh: ArrayData): ArrayData = {
    val n = sh.numElements()
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](NumPerms)
    var j = 0
    while (j < NumPerms) {
      val a = permA(j); val b = permB(j)
      var m = Long.MaxValue
      var i = 0
      while (i < n) {
        val v = (a * sh.getLong(i) + b) % P
        if (v < m) m = v
        i += 1
      }
      out(j) = m
      j += 1
    }
    new GenericArrayData(out)
  }

  /** 4 LSH band signatures from a MinHash signature. */
  def bandSigs(mh: ArrayData): ArrayData = {
    val out = new Array[Long](Bands)
    var b = 0
    while (b < Bands) {
      val o = b * RowsPerBand
      out(b) = ((((mh.getLong(o) * 31 + mh.getLong(o + 1)) % P) * 31 +
        mh.getLong(o + 2)) * 31 + mh.getLong(o + 3)) % P
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct n-gram hashes over a token-hash array (first-occurrence
    * order): gram i = fold (h·31 + th[i+j]) mod P over j < n — the
    * 3-gram [[shingleSet]] generalized to any width (decontamination
    * probes use 8). Fewer than n tokens ⇒ empty array.
    */
  def ngramHashes(th: ArrayData, n: Int): ArrayData = {
    val m = th.numElements()
    if (m < n) return new GenericArrayData(Array.emptyLongArray)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i <= m - n) {
      seen.add(gramFold(th, i, n))
      i += 1
    }
    longs(seen)
  }

  /** POSITIONAL n-gram hashes: one entry per gram start (no dedup),
    * index i holding the hash of tokens [i, i+n). Same fold as
    * [[ngramHashes]]; the positional variant exists for span-level
    * analysis (duplicated-span dedup needs to know WHERE a gram sits,
    * not just that it occurs). Fewer than n tokens ⇒ empty array.
    */
  def ngramHashesPos(th: ArrayData, n: Int): ArrayData = {
    val m = th.numElements()
    if (m < n) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](m - n + 1)
    var i = 0
    while (i <= m - n) {
      out(i) = gramFold(th, i, n)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The gram fold of both n-gram kernels: (h·31 + th[i+j]) mod P over
    * j < n.
    */
  private def gramFold(th: ArrayData, i: Int, n: Int): Long = {
    var h = 0L
    var j = 0
    while (j < n) {
      h = (h * 31 + th.getLong(i + j)) % P
      j += 1
    }
    h
  }

  /** 64-bit SimHash over token hashes (multiplicity-weighted): bits
    * 0-31 vote on (t·SimMult) mod 2³², bits 32-63 on (t·SimMult2)
    * mod 2³² — both products exact in signed 64-bit.
    */
  def simHash(th: ArrayData): Long = {
    val votes = new Array[Long](SimBits)
    val n = th.numElements()
    var i = 0
    while (i < n) {
      val h = th.getLong(i)
      val m1 = (h * SimMult) % Mod32
      val m2 = (h * SimMult2) % Mod32
      var b = 0
      while (b < 32) {
        if (((m1 >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        if (((m2 >> b) & 1L) == 1L) votes(b + 32) += 1 else votes(b + 32) -= 1
        b += 1
      }
      i += 1
    }
    var f = 0L
    var b = 0
    while (b < SimBits) {
      if (votes(b) > 0) f |= 1L << b
      b += 1
    }
    f
  }

  /** 64-bit sign-of-dot signature of an embedding over deterministic
    * ±1 hyperplanes (random-hyperplane LSH for cosine): bit p is set
    * iff Σ_d sign(p,d)·emb[d] ≥ 0, with
    * sign(p,d) = +1 iff ((embedPlaneA(p)·(d+1) + embedPlaneB(p)) mod P)
    * even. Accumulation is left-to-right double — bit-identical to
    * the DuckDB twin (TextHash.duckEmbedSimHash).
    */
  def embedSimHash(emb: ArrayData): Long = embedSimHashWord(emb, 0)

  /** Second 64-plane signature word (planes 64-127, same derivation
    * law — the block-offset construction extends past plane 63
    * unchanged): the scale step for corpora past
    * [[TextHash.EmbedBandWiden2N]], where even 16-bit slices of one
    * word stop pruning and the band layout moves to 4×32 bits across
    * the 128-bit two-word signature.
    */
  def embedSimHash2(emb: ArrayData): Long = embedSimHashWord(emb, 1)

  private def embedSimHashWord(emb: ArrayData, word: Int): Long = {
    val n = emb.numElements()
    val off = word * EmbedPlanes
    var sig = 0L
    var j = 0
    while (j < EmbedPlanes) {
      val a = embedPlaneA(off + j)
      val b = embedPlaneB(off + j)
      var dot = 0.0
      var d = 0
      while (d < n) {
        val s = if (((a * (d + 1) + b) % P) % 2 == 0L) 1.0 else -1.0
        dot += s * emb.getDouble(d)
        d += 1
      }
      if (dot >= 0) sig |= 1L << j
      j += 1
    }
    sig
  }

  /** Whole-string polynomial hash (the document fingerprint). */
  def stringHash(s: UTF8String): Long = charFold(s.toString)
}

/** Base for the unary kernel expressions: the child type check, and
  * a codegen'd call of the static `TextHashKernels.<kernelName>` on
  * the child plus the integer `args` (the n-gram width) — one call
  * per row, zero per-element dispatch. `inputType` ignores array
  * element nullability. Serializable itself, so that tasks can
  * deserialize the concrete case classes through its parameters.
  */
abstract class KernelExpression(kernelName: String, inputType: DataType,
    override val dataType: DataType, args: Int*)
    extends UnaryExpression with Serializable {
  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, inputType) match {
      case (ArrayType(t, _), ArrayType(u, _)) if t == u =>
        TypeCheckResult.TypeCheckSuccess
      case (t, u) if t == u => TypeCheckResult.TypeCheckSuccess
      case (other, _) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects ${inputType.simpleString}, got ${other.catalogString}")
    }

  override protected def nullSafeEval(a: Any): Any = kernel(a)

  protected def kernel(a: Any): Any

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashKernels.$kernelName(" +
      (c +: args.map(_.toString)).mkString(", ") + ")")
}

/** Base for unary array→array kernel expressions. */
abstract class KernelArrayExpression(kernelName: String, inputElem: DataType,
    args: Int*) extends KernelExpression(kernelName, ArrayType(inputElem),
  ArrayType(LongType, containsNull = false), args: _*)

case class TokenHashesExpr(child: Expression)
    extends KernelArrayExpression("tokenHashes", StringType) {
  override protected def kernel(a: Any): Any =
    TextHashKernels.tokenHashes(a.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

case class ShingleSetExpr(child: Expression)
    extends KernelArrayExpression("shingleSet", LongType) {
  override protected def kernel(a: Any): Any =
    TextHashKernels.shingleSet(a.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

case class NGramHashesExpr(child: Expression, n: Int)
    extends KernelArrayExpression("ngramHashes", LongType, n) {
  override protected def kernel(a: Any): Any =
    TextHashKernels.ngramHashes(a.asInstanceOf[ArrayData], n)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

case class NGramHashesPosExpr(child: Expression, n: Int)
    extends KernelArrayExpression("ngramHashesPos", LongType, n) {
  override protected def kernel(a: Any): Any =
    TextHashKernels.ngramHashesPos(a.asInstanceOf[ArrayData], n)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

case class MinHashSigExpr(child: Expression)
    extends KernelArrayExpression("minHashSig", LongType) {
  override protected def kernel(a: Any): Any =
    TextHashKernels.minHashSig(a.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

case class BandSigsExpr(child: Expression)
    extends KernelArrayExpression("bandSigs", LongType) {
  override protected def kernel(a: Any): Any =
    TextHashKernels.bandSigs(a.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

case class SimHashExpr(child: Expression)
    extends KernelExpression("simHash", ArrayType(LongType), LongType) {
  override protected def kernel(a: Any): Any =
    TextHashKernels.simHash(a.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

case class EmbedSimHashExpr(child: Expression)
    extends KernelExpression("embedSimHash", ArrayType(DoubleType), LongType) {
  override protected def kernel(a: Any): Any =
    TextHashKernels.embedSimHash(a.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

case class EmbedSimHash2Expr(child: Expression)
    extends KernelExpression("embedSimHash2", ArrayType(DoubleType), LongType) {
  override protected def kernel(a: Any): Any =
    TextHashKernels.embedSimHash2(a.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

case class StringHashExpr(child: Expression)
    extends KernelExpression("stringHash", StringType, LongType) {
  override protected def kernel(a: Any): Any =
    TextHashKernels.stringHash(a.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Column API for the kernels. */
object TextHashExprs {
  private def c(e: Expression): Column = ColumnBridge.column(e)
  private def e(col: Column): Expression = ColumnBridge.expression(col)

  def token_hashes(col: Column): Column = c(TokenHashesExpr(e(col)))
  def shingle_set(col: Column): Column = c(ShingleSetExpr(e(col)))
  def ngram_hashes(col: Column, n: Int): Column = c(NGramHashesExpr(e(col), n))
  def ngram_hashes_pos(col: Column, n: Int): Column =
    c(NGramHashesPosExpr(e(col), n))
  def minhash_sig(col: Column): Column = c(MinHashSigExpr(e(col)))
  def band_sigs(col: Column): Column = c(BandSigsExpr(e(col)))
  def simhash(col: Column): Column = c(SimHashExpr(e(col)))
  def embed_simhash(col: Column): Column = c(EmbedSimHashExpr(e(col)))
  def embed_simhash2(col: Column): Column = c(EmbedSimHash2Expr(e(col)))
  def string_poly_hash(col: Column): Column = c(StringHashExpr(e(col)))
}

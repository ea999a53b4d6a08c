package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Compiled greedy RobustPrune (the Vamana α-prune) — the nav-build
  * family's per-node kernel, replacing the interpreted higher-order
  * `aggregate(cands, …, (acc, c) -> if(… not exists(acc, b -> …)))`
  * expression that was the single largest stage increment of the
  * e28 build in OPTIMIZATION_r16.md's stage profile (~2× the
  * scored-candidate stage): per
  * node the HOF dispatched maxCandidates × |kept| interpreted lambda
  * steps, each running a 64-step interpreted `zip_with`+`aggregate`
  * dot product — ~10× interpreter overhead per arithmetic op (the
  * 0.41 vs 0.045 µs per row·cell recorded in SURVEY.md, which
  * motivated [[NearestCentroidCell]]).
  *
  * Semantics are EXACTLY the HOF chain it replaces (the DuckDB
  * oracle's unrolled prune steps pin them):
  *   - candidates are walked in (se DESC, nbr ASC) order — the
  *     kernel sorts internally, subsuming the `array_sort` over the
  *     (ns = -se, nbr, …) struct the previous plan shuffled and
  *     sorted per node (nbr is unique per node, so the two-key order
  *     is total exactly like the old full-struct comparison);
  *   - candidate c is kept iff fewer than `maxDegree` are kept so
  *     far AND no kept b α-dominates it:
  *     `alpha100 · (1e6 − floor(dot(b,c)/(b.nrm·c.nrm)·1e6 + 0.5))
  *      ≤ 100 · (1e6 − c.se)` — the dot accumulates left-to-right
  *     exactly like the `zip_with`+`aggregate` fold, the fixed-point
  *     floor matches SQL `FLOOR(double)→BIGINT` (Math.floor then a
  *     Java long cast), and the integer comparison is exact;
  *   - output structs are (nbr, se) in kept order — the only fields
  *     the downstream posexplode reads.
  */
case class AlphaPruneKept(
    child: Expression,
    alpha100: Long,
    maxDegree: Int) extends UnaryExpression {

  require(alpha100 >= 100,
    s"alpha_prune: alpha100 is a x100 fixed-point alpha >= 1, got $alpha100")
  require(maxDegree >= 1, s"alpha_prune: maxDegree must be >= 1, got $maxDegree")

  override def dataType: DataType = AlphaPruneKept.resultType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: StructType, _) if s.length == 4 &&
        s(0).dataType == LongType && s(1).dataType == LongType &&
        s(2).dataType == DoubleType &&
        s(3).dataType.isInstanceOf[ArrayType] &&
        s(3).dataType.asInstanceOf[ArrayType].elementType == DoubleType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      "alpha_prune expects array<struct<nbr:bigint,se:bigint," +
        s"nrm:double,e:array<double>>>, got ${other.catalogString}")
  }

  override def nullSafeEval(a: Any): Any =
    AlphaPruneKernels.prune(
      a.asInstanceOf[ArrayData], alpha100, maxDegree)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.AlphaPruneKernels.prune(" +
        s"$a, ${alpha100}L, $maxDegree);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object AlphaPruneKernels {

  /** Greedy RobustPrune over one node's candidate structs
    * (nbr: long, se: long, nrm: double, e: array<double>), any input
    * order; walks (se DESC, nbr ASC).
    */
  def prune(cands: ArrayData, alpha100: Long, maxDegree: Int): ArrayData = {
    val n = cands.numElements()
    val nbr = new Array[Long](n)
    val se = new Array[Long](n)
    val nrm = new Array[Double](n)
    val vecs = new Array[Array[Double]](n)
    var i = 0
    while (i < n) {
      val r = cands.getStruct(i, 4)
      nbr(i) = r.getLong(0)
      se(i) = r.getLong(1)
      nrm(i) = r.getDouble(2)
      vecs(i) = r.getArray(3).toDoubleArray()
      i += 1
    }
    // (se DESC, nbr ASC): nbr is unique per node, so this order is
    // total — identical to the array_sort over (-se, nbr, …) structs
    // this kernel subsumes.
    val idx = Array.range(0, n)
    idxSort(idx, se, nbr)
    val kept = new Array[Int](math.min(maxDegree, n))
    var nKept = 0
    var p = 0
    while (p < n && nKept < maxDegree) {
      val c = idx(p)
      val ce = vecs(c)
      val cn = nrm(c)
      val bound = 100L * (1000000L - se(c))
      var dominated = false
      var b = 0
      while (b < nKept && !dominated) {
        val be = vecs(kept(b))
        // Mixed-dimension inputs are out of contract: the HOF this
        // kernel replaced null-padded via zip_with (a NULL domination
        // predicate), a truncated dot would decide DIFFERENTLY — fail
        // loudly like SegEnum's length bound instead of diverging
        // silently (round-16 advice).
        if (be.length != ce.length) throw new IllegalArgumentException(
          s"alpha_prune: mixed embedding dims ${be.length} vs " +
            s"${ce.length} (candidates of one node must share a dim)")
        val d = be.length
        var dot = 0.0
        var j = 0
        while (j < d) { dot += be(j) * ce(j); j += 1 }
        // SQL FLOOR(double)->BIGINT: Math.floor then a Java long cast
        // (NaN casts to 0, exactly like Spark's Floor+cast).
        val fl = Math.floor(dot / (nrm(kept(b)) * cn) * 1000000.0 + 0.5).toLong
        dominated = alpha100 * (1000000L - fl) <= bound
        b += 1
      }
      if (!dominated) { kept(nKept) = c; nKept += 1 }
      p += 1
    }
    val out = new Array[Any](nKept)
    var q = 0
    while (q < nKept) {
      out(q) = InternalRow(nbr(kept(q)), se(kept(q)))
      q += 1
    }
    new GenericArrayData(out)
  }

  /** Insertion sort of `idx` by (se DESC, nbr ASC) — n <= the
    * heap-truncation bound (32 in every caller), where insertion
    * sort beats a comparator-boxing sort.
    */
  private def idxSort(idx: Array[Int], se: Array[Long],
      nbr: Array[Long]): Unit = {
    var i = 1
    while (i < idx.length) {
      val v = idx(i)
      var j = i - 1
      while (j >= 0 && (se(idx(j)) < se(v) ||
          (se(idx(j)) == se(v) && nbr(idx(j)) > nbr(v)))) {
        idx(j + 1) = idx(j)
        j -= 1
      }
      idx(j + 1) = v
      i += 1
    }
  }
}

object AlphaPruneKept {

  val resultType: ArrayType = ArrayType(StructType(Seq(
    StructField("nbr", LongType, nullable = false),
    StructField("se", LongType, nullable = false))),
    containsNull = false)

  /** Column API: `alpha_prune($"cands", alpha100, maxDegree)` over
    * array<struct<nbr,se,nrm,e>> (any order) — the kept (nbr, se)
    * structs in greedy (se DESC, nbr ASC) keep order.
    */
  def alpha_prune(cands: Column, alpha100: Long, maxDegree: Int): Column =
    ColumnBridge.column(AlphaPruneKept(ColumnBridge.expression(cands),
      alpha100, maxDegree))
}

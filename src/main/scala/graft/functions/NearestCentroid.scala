package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Compiled nearest-centroid assignment: the k-means / IVF hot step
  * (`argmax_cell cosine(row, centroid_cell)`) as ONE native Catalyst
  * expression over the row's embedding, with the bounded k×dims
  * centroid matrix baked in as a codegen reference object (it is
  * driver-known and tiny — the same table the previous formulation
  * shipped as a one-row broadcast array).
  *
  * Why a kernel (the TextHashExprs treatment, measured before
  * building): the previous `aggregate()` fold dispatched k
  * interpreted lambda steps per row — profiled at ~0.41 µs per
  * row·cell at k=256 on sf0.1×20 (KMeansProfile), ~10× the cost of
  * the cosine arithmetic itself, i.e. HOF dispatch dominated. The
  * kernel reads the embedding ONCE into a primitive array, reuses
  * the row norm across all k cells (the fold recomputed it k times),
  * and runs k tight primitive dot loops inside whole-stage codegen.
  *
  * Result parity is bit-exact with the fold it replaces: the dot and
  * both squared norms accumulate left-to-right exactly as
  * [[CosineSimilarity]] does (same IEEE op sequence; interleaving
  * independent accumulators does not change each one's order), the
  * score is `dot / (sqrt(nx) * sqrt(ny))` with the same
  * multiply-then-divide shape, centroid norms are precomputed (same
  * value, computed once), and the strictly-greater argmax over cells
  * in ascending cell order keeps the earliest cell on ties — the
  * (cos DESC, cell ASC) row_number order the oracle states. The
  * comparison uses Spark SQL's double semantics (NaN greatest,
  * -0.0 == 0.0), not raw Java `>`.
  */
case class NearestCentroidCell(
    child: Expression,
    cells: Array[Long],
    cvecs: Array[Array[Double]]) extends UnaryExpression {

  require(cells.length == cvecs.length && cells.nonEmpty,
    "nearest_centroid needs a non-empty (cell, cvec) table")

  override protected def stringArgs: Iterator[Any] =
    productIterator.map(NearestCentroidKernels.shown)

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid expects array<float|double>, got ${other.catalogString}")
  }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** sqrt of each centroid's squared norm, accumulated left-to-right
    * — the exact value CosineSimilarity's per-pair loop produces.
    */
  @transient private lazy val sqrtNorms: Array[Double] =
    cvecs.map { v =>
      var ny = 0.0; var i = 0
      while (i < v.length) { ny += v(i) * v(i); i += 1 }
      math.sqrt(ny)
    }

  override def nullSafeEval(a: Any): Any =
    NearestCentroidKernels.nearest(
      a.asInstanceOf[ArrayData], isFloat, cells, cvecs, sqrtNorms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cellsRef = ctx.addReferenceObj("cells", cells, "long[]")
    val mRef = ctx.addReferenceObj("cvecs", cvecs, "double[][]")
    val nRef = ctx.addReferenceObj("sqrtNorms", sqrtNorms, "double[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.NearestCentroidKernels.nearest(" +
        s"$a, $isFloat, $cellsRef, $mRef, $nRef);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Compiled top-`nprobe` cell routing — the multi-probe counterpart
  * of [[NearestCentroidCell]] and the scale fix for the walk-family
  * build substrate's routing stage: `knnGraphProbed` previously
  * scored every vector against ALL nlist centroids through an
  * interpreted `transform` lambda and a full `array_sort` over nlist
  * structs — with nlist ∝ n (the trainedCells rule) that stage was
  * the measured super-linear term of the whole nav-build family
  * (e28/e41/e46/e49 at 15–25× per 10× data at sf1→sf10; the lambda
  * dispatch + per-row struct-array allocation carry a ~10× constant
  * over the cosine arithmetic, per KMeansProfile). This kernel reads
  * the embedding ONCE, reuses the row norm across all cells, keeps a
  * bounded nprobe-slot insertion list instead of sorting nlist
  * structs, and runs entirely inside whole-stage codegen.
  *
  * Semantics: the top-`nprobe` cells by (cosine DESC, cell ASC) — the
  * probe order `ivfProbeTopK`'s row_number and the DuckDB oracle's
  * `ORDER BY cosine DESC, cell` state. Comparison is Spark SQL double
  * semantics via the same `gtSparkSql` as [[NearestCentroidCell]]
  * (NaN greatest, NaN==NaN, -0.0==0.0) — note this matches the
  * oracle MORE faithfully than the `array_sort` formulation it
  * replaces (a struct sort ranks a NaN cosine last instead of
  * first; zero-norm vectors are the only way to hit that corner).
  * Fewer cells than `nprobe` returns them all, exactly like
  * `slice(array_sort(..), 1, nprobe)` did.
  */
case class NearestCellsProbed(
    child: Expression,
    cells: Array[Long],
    cvecs: Array[Array[Double]],
    nprobe: Int) extends UnaryExpression {

  require(cells.length == cvecs.length && cells.nonEmpty,
    "nearest_cells needs a non-empty (cell, cvec) table")
  require(nprobe >= 1, s"nearest_cells needs nprobe >= 1, got $nprobe")

  override protected def stringArgs: Iterator[Any] =
    productIterator.map(NearestCentroidKernels.shown)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_cells expects array<float|double>, got ${other.catalogString}")
  }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  @transient private lazy val sqrtNorms: Array[Double] =
    cvecs.map { v =>
      var ny = 0.0; var i = 0
      while (i < v.length) { ny += v(i) * v(i); i += 1 }
      math.sqrt(ny)
    }

  override def nullSafeEval(a: Any): Any =
    NearestCentroidKernels.nearestK(
      a.asInstanceOf[ArrayData], isFloat, cells, cvecs, sqrtNorms, nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cellsRef = ctx.addReferenceObj("cells", cells, "long[]")
    val mRef = ctx.addReferenceObj("cvecs", cvecs, "double[][]")
    val nRef = ctx.addReferenceObj("sqrtNorms", sqrtNorms, "double[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.NearestCentroidKernels.nearestK(" +
        s"$a, $isFloat, $cellsRef, $mRef, $nRef, $nprobe);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Compiled TWO-LEVEL cell routing — the sf100+ scale path for the
  * walk-family substrate: even compiled, flat routing is
  * O(n·nlist·dims) with nlist ∝ n (quadratic in principle; deferred
  * but not removed by [[NearestCellsProbed]]). This kernel scores
  * ~√nlist COARSE centroids first (a k-means over the fine-centroid
  * table), then only the fine cells inside the top-`cprobe` coarse
  * groups — O(n·(√nlist + cprobe·nlist/√nlist)·dims) ≈ O(n·√nlist·dims)
  * per corpus pass. The price is the standard hierarchical-routing
  * approximation: a fine cell in a non-selected coarse group cannot
  * be probed (its own recall gate measures the cost).
  *
  * Semantics (the oracle states them): top-`cprobe` coarse by
  * (cos DESC, coarse cell ASC); among the UNION of those groups'
  * fine cells, top-`nprobe` by (cos DESC, fine cell ASC) — the
  * global fine tie-break, which is why the fine pass iterates the
  * globally cell-ascending fine table under a selected-group mask
  * (the mask test is branch-cheap; only selected entries pay the
  * dot product). All comparisons are the same `gtSparkSql` as the
  * flat kernels.
  *
  * `fineCoarseIdx(i)` is the coarse POSITION (index into
  * `coarseCells`) owning fine entry i; fine arrays are sorted by
  * fine cell ascending, coarse arrays by coarse cell ascending.
  */
case class NearestCellsRouted(
    child: Expression,
    coarseCells: Array[Long],
    coarseVecs: Array[Array[Double]],
    fineCells: Array[Long],
    fineVecs: Array[Array[Double]],
    fineCoarseIdx: Array[Int],
    cprobe: Int,
    nprobe: Int) extends UnaryExpression {

  require(coarseCells.length == coarseVecs.length && coarseCells.nonEmpty,
    "nearest_cells_routed needs a non-empty coarse table")
  require(fineCells.length == fineVecs.length &&
    fineCells.length == fineCoarseIdx.length && fineCells.nonEmpty,
    "nearest_cells_routed needs a non-empty, aligned fine table")
  require(fineCoarseIdx.forall(i => i >= 0 && i < coarseCells.length),
    "fineCoarseIdx out of range")
  require(cprobe >= 1 && nprobe >= 1,
    s"nearest_cells_routed needs cprobe/nprobe >= 1, got $cprobe/$nprobe")

  override protected def stringArgs: Iterator[Any] =
    productIterator.map(NearestCentroidKernels.shown)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_cells_routed expects array<float|double>, got ${other.catalogString}")
  }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  private def norms(m: Array[Array[Double]]): Array[Double] =
    m.map { v =>
      var ny = 0.0; var i = 0
      while (i < v.length) { ny += v(i) * v(i); i += 1 }
      math.sqrt(ny)
    }

  @transient private lazy val coarseNorms: Array[Double] = norms(coarseVecs)
  @transient private lazy val fineNorms: Array[Double] = norms(fineVecs)

  override def nullSafeEval(a: Any): Any =
    NearestCentroidKernels.routed(a.asInstanceOf[ArrayData], isFloat,
      coarseVecs, coarseNorms, fineCells, fineVecs, fineNorms,
      fineCoarseIdx, cprobe, nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cvRef = ctx.addReferenceObj("coarseVecs", coarseVecs, "double[][]")
    val cnRef = ctx.addReferenceObj("coarseNorms", coarseNorms, "double[]")
    val fcRef = ctx.addReferenceObj("fineCells", fineCells, "long[]")
    val fvRef = ctx.addReferenceObj("fineVecs", fineVecs, "double[][]")
    val fnRef = ctx.addReferenceObj("fineNorms", fineNorms, "double[]")
    val fiRef = ctx.addReferenceObj("fineCoarseIdx", fineCoarseIdx, "int[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.NearestCentroidKernels.routed(" +
        s"$a, $isFloat, $cvRef, $cnRef, $fcRef, $fvRef, $fnRef, $fiRef, " +
        s"$cprobe, $nprobe);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object NearestCentroidKernels {

  /** A plan-string form of a kernel argument: a codebook table prints
    * as its shape and a content digest (`long[16]#3f2a01bc`), since an
    * array's own `toString` is a per-JVM identity hash; anything else
    * prints as itself.
    */
  private[functions] def shown(arg: Any): Any = arg match {
    case a: Array[Long] =>
      f"long[${a.length}]#${java.util.Arrays.hashCode(a)}%08x"
    case a: Array[Int] =>
      f"int[${a.length}]#${java.util.Arrays.hashCode(a)}%08x"
    case m: Array[Array[Double]] =>
      val dims = m.headOption.fold(0)(_.length)
      val h = java.util.Arrays.deepHashCode(m.asInstanceOf[Array[AnyRef]])
      f"double[${m.length}][$dims]#$h%08x"
    case other => other
  }

  /** Spark SQL's double comparison: NaN greater than everything,
    * NaN == NaN, and -0.0 == 0.0 (`==` fires before the NaN checks)
    * — mirrors Utils.nanSafeCompareDoubles so the argmax can't
    * diverge from the Catalyst GreaterThan it replaces.
    */
  private def gtSparkSql(x: Double, y: Double): Boolean =
    if (java.lang.Double.isNaN(x) && java.lang.Double.isNaN(y)) false
    else if (x == y) false
    else if (java.lang.Double.isNaN(x)) true
    else if (java.lang.Double.isNaN(y)) false
    else x > y

  /** Argmax cell by cosine, ties to the earliest (lowest) cell —
    * cells MUST arrive sorted ascending.
    */
  def nearest(emb: ArrayData, floatElems: Boolean, cells: Array[Long],
      cvecs: Array[Array[Double]], sqrtNorms: Array[Double]): Long = {
    val n = emb.numElements()
    val x = new Array[Double](n)
    var nx = 0.0
    var i = 0
    while (i < n) {
      val v = if (floatElems) emb.getFloat(i).toDouble else emb.getDouble(i)
      x(i) = v; nx += v * v
      i += 1
    }
    val sx = math.sqrt(nx)
    var best = -2.0 // cosine >= -1 > -2: the fold's seed, always replaced
    var bestCell = -1L
    var c = 0
    while (c < cvecs.length) {
      val cv = cvecs(c)
      val d = math.min(n, cv.length)
      var dot = 0.0
      var j = 0
      while (j < d) { dot += x(j) * cv(j); j += 1 }
      val cs = dot / (sx * sqrtNorms(c))
      if (gtSparkSql(cs, best)) { best = cs; bestCell = cells(c) }
      c += 1
    }
    bestCell
  }

  /** Top-`nprobe` cells by (cosine DESC, cell ASC) as a bounded
    * insertion list — cells MUST arrive sorted ascending, so an
    * equal-score candidate never displaces an earlier (lower) cell.
    * Returns min(nprobe, #cells) entries in probe order.
    */
  def nearestK(emb: ArrayData, floatElems: Boolean, cells: Array[Long],
      cvecs: Array[Array[Double]], sqrtNorms: Array[Double],
      nprobe: Int): ArrayData = {
    val n = emb.numElements()
    val x = new Array[Double](n)
    var nx = 0.0
    var i = 0
    while (i < n) {
      val v = if (floatElems) emb.getFloat(i).toDouble else emb.getDouble(i)
      x(i) = v; nx += v * v
      i += 1
    }
    val sx = math.sqrt(nx)
    val m = math.min(nprobe, cvecs.length)
    val ks = new Array[Double](m)
    val kc = new Array[Long](m)
    var filled = 0
    var c = 0
    while (c < cvecs.length) {
      val cv = cvecs(c)
      val d = math.min(n, cv.length)
      var dot = 0.0
      var j = 0
      while (j < d) { dot += x(j) * cv(j); j += 1 }
      val cs = dot / (sx * sqrtNorms(c))
      // Insertion point: strictly-greater only, so ties land AFTER
      // the earlier (lower) cell — the (cos DESC, cell ASC) order.
      var p = 0
      while (p < filled && !gtSparkSql(cs, ks(p))) p += 1
      if (p < m) {
        var t = math.min(filled, m - 1)
        while (t > p) { ks(t) = ks(t - 1); kc(t) = kc(t - 1); t -= 1 }
        ks(p) = cs; kc(p) = cells(c)
        if (filled < m) filled += 1
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(kc, filled))
  }

  /** Two-level routing (see [[NearestCellsRouted]]): coarse
    * top-`cprobe` insertion pass, then a masked fine pass in global
    * fine-cell-ascending order — both with the (cos DESC, id ASC)
    * tie rule `gtSparkSql` encodes by strict-greater insertion over
    * an ascending iteration.
    */
  def routed(emb: ArrayData, floatElems: Boolean,
      coarseVecs: Array[Array[Double]], coarseNorms: Array[Double],
      fineCells: Array[Long], fineVecs: Array[Array[Double]],
      fineNorms: Array[Double], fineCoarseIdx: Array[Int],
      cprobe: Int, nprobe: Int): ArrayData = {
    val n = emb.numElements()
    val x = new Array[Double](n)
    var nx = 0.0
    var i = 0
    while (i < n) {
      val v = if (floatElems) emb.getFloat(i).toDouble else emb.getDouble(i)
      x(i) = v; nx += v * v
      i += 1
    }
    val sx = math.sqrt(nx)
    def cos(cv: Array[Double], sn: Double): Double = {
      val d = math.min(n, cv.length)
      var dot = 0.0
      var j = 0
      while (j < d) { dot += x(j) * cv(j); j += 1 }
      dot / (sx * sn)
    }
    // Coarse pass: top-cprobe coarse POSITIONS.
    val mc = math.min(cprobe, coarseVecs.length)
    val cs = new Array[Double](mc)
    val ci = new Array[Int](mc)
    var cFilled = 0
    var c = 0
    while (c < coarseVecs.length) {
      val s = cos(coarseVecs(c), coarseNorms(c))
      var p = 0
      while (p < cFilled && !gtSparkSql(s, cs(p))) p += 1
      if (p < mc) {
        var t = math.min(cFilled, mc - 1)
        while (t > p) { cs(t) = cs(t - 1); ci(t) = ci(t - 1); t -= 1 }
        cs(p) = s; ci(p) = c
        if (cFilled < mc) cFilled += 1
      }
      c += 1
    }
    val selected = new Array[Boolean](coarseVecs.length)
    var q = 0
    while (q < cFilled) { selected(ci(q)) = true; q += 1 }
    // Fine pass: globally cell-ascending, masked to selected groups.
    val mf = math.min(nprobe, fineCells.length)
    val fs = new Array[Double](mf)
    val fc = new Array[Long](mf)
    var fFilled = 0
    var f = 0
    while (f < fineCells.length) {
      if (selected(fineCoarseIdx(f))) {
        val s = cos(fineVecs(f), fineNorms(f))
        var p = 0
        while (p < fFilled && !gtSparkSql(s, fs(p))) p += 1
        if (p < mf) {
          var t = math.min(fFilled, mf - 1)
          while (t > p) { fs(t) = fs(t - 1); fc(t) = fc(t - 1); t -= 1 }
          fs(p) = s; fc(p) = fineCells(f)
          if (fFilled < mf) fFilled += 1
        }
      }
      f += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(fc, fFilled))
  }
}

object NearestCentroidCell {
  /** Column API: `nearest_centroid($"embedding", sortedCentTable)`.
    * @param cents (cell, centroid vector) pairs, ANY order — sorted
    *   ascending by cell here so ties resolve to the lowest cell.
    */
  def nearest_centroid(emb: Column,
      cents: Seq[(Long, Array[Double])]): Column = {
    val sorted = cents.sortBy(_._1)
    ColumnBridge.column(NearestCentroidCell(ColumnBridge.expression(emb),
      sorted.map(_._1).toArray, sorted.map(_._2).toArray))
  }

  /** Column API: `nearest_cells($"embedding", centTable, nprobe)` —
    * array<bigint> of the top-nprobe cells in probe order
    * (cos DESC, cell ASC). Input pairs in ANY order.
    */
  def nearest_cells(emb: Column, cents: Seq[(Long, Array[Double])],
      nprobe: Int): Column = {
    val sorted = cents.sortBy(_._1)
    ColumnBridge.column(NearestCellsProbed(ColumnBridge.expression(emb),
      sorted.map(_._1).toArray, sorted.map(_._2).toArray, nprobe))
  }

  /** Column API for the two-level router:
    * `nearest_cells_routed($"embedding", coarse, fine, fineOwner,
    * cprobe, nprobe)` — array<bigint> of the top-nprobe fine cells.
    * @param coarse    (coarse cell, centroid) pairs, any order
    * @param fine      (fine cell, centroid) pairs, any order
    * @param fineOwner fine cell → owning coarse cell (total map)
    */
  def nearest_cells_routed(emb: Column, coarse: Seq[(Long, Array[Double])],
      fine: Seq[(Long, Array[Double])], fineOwner: Map[Long, Long],
      cprobe: Int, nprobe: Int): Column = {
    val cSorted = coarse.sortBy(_._1)
    val cPos = cSorted.map(_._1).zipWithIndex.toMap
    val fSorted = fine.sortBy(_._1)
    val idx = fSorted.map { case (fcell, _) =>
      val owner = fineOwner.getOrElse(fcell, throw new IllegalArgumentException(
        s"nearest_cells_routed: fine cell $fcell has no coarse owner"))
      cPos.getOrElse(owner, throw new IllegalArgumentException(
        s"nearest_cells_routed: owner $owner of fine cell $fcell is " +
          "not a coarse cell"))
    }
    ColumnBridge.column(NearestCellsRouted(ColumnBridge.expression(emb),
      cSorted.map(_._1).toArray, cSorted.map(_._2).toArray,
      fSorted.map(_._1).toArray, fSorted.map(_._2).toArray,
      idx.toArray, cprobe, nprobe))
  }
}

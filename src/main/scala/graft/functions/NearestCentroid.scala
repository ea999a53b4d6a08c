package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** The scaffolding the three nearest-centroid kernels share: each
  * takes one `array<float|double>` embedding, bakes its bounded
  * codebook tables into codegen as reference objects, prints them as
  * shape plus digest, and calls one static method of
  * [[NearestCentroidKernels]] with `(embedding, isFloat, args…)`.
  *
  * THE routing rule of the ANN family lives in these kernels: a
  * vector probes its top cells by (cosine DESC, cell ASC), compared
  * with Spark SQL's double semantics (NaN greatest, -0.0 == 0.0) —
  * the order the DuckDB oracle's `ORDER BY cosine DESC, cell`
  * states. The cosine is bit-identical to [[CosineSimilarity]] for
  * equal-length vectors: the dot and both squared norms accumulate
  * left-to-right exactly as it does, and the score is
  * `dot / (sqrt(nx) * sqrt(ny))`.
  */
private[functions] sealed trait CentroidKernel extends UnaryExpression {

  /** The SQL-facing name, for type-check messages. */
  protected def fnName: String

  /** The static kernel method in [[NearestCentroidKernels]]. */
  protected def method: String

  /** The kernel's arguments after `(embedding, isFloat)`: tables ride
    * as reference objects, scalars as literals.
    */
  protected def kernelArgs: Seq[Any]

  protected def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def stringArgs: Iterator[Any] =
    productIterator.map(NearestCentroidKernels.shown)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$fnName expects array<float|double>, got ${other.catalogString}")
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val args = kernelArgs.map {
      case a: Array[Long] => ctx.addReferenceObj("cells", a, "long[]")
      case a: Array[Int] => ctx.addReferenceObj("idx", a, "int[]")
      case a: Array[Double] => ctx.addReferenceObj("norms", a, "double[]")
      case a: Array[Array[Double]] => ctx.addReferenceObj("vecs", a, "double[][]")
      case scalar => scalar.toString
    }
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.NearestCentroidKernels.$method(" +
        (Seq(a, isFloat.toString) ++ args).mkString(", ") + ");")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    makeCopy(Array[AnyRef](c) ++ productIterator.drop(1).map(_.asInstanceOf[AnyRef]))
}

/** Compiled nearest-centroid assignment: the k-means / IVF hot step
  * (`argmax_cell cosine(row, centroid_cell)`) as ONE native Catalyst
  * expression over the row's embedding, with the bounded k×dims
  * centroid matrix baked in as a codegen reference object (it is
  * driver-known and tiny — the same table the previous formulation
  * shipped as a one-row broadcast array).
  *
  * Why a kernel (the TextHashExprs treatment, measured before
  * building): the previous `aggregate()` fold dispatched k
  * interpreted lambda steps per row — 0.41 µs per row·cell at k=256
  * on sf0.1×20 against 0.045 µs for this kernel (SURVEY.md), ~10× the
  * cost of the cosine arithmetic itself, i.e. HOF dispatch dominated.
  * The kernel reads the embedding ONCE into a primitive array, reuses
  * the row norm across all k cells (the fold recomputed it k times),
  * and runs k tight primitive dot loops inside whole-stage codegen.
  * It returns a plain `Long`, so k-means assignment allocates no
  * result array per row.
  *
  * The strictly-greater argmax over cells in ascending cell order
  * keeps the earliest cell on ties — the routing rule's first cell
  * (see [[CentroidKernel]]), for the sites that ASSIGN each vector one
  * cell (k-means, PQ codes, index build and append) rather than probe.
  */
case class NearestCentroidCell(
    child: Expression,
    cells: Array[Long],
    cvecs: Array[Array[Double]]) extends CentroidKernel {

  require(cells.length == cvecs.length && cells.nonEmpty,
    "nearest_centroid needs a non-empty (cell, cvec) table")

  protected def fnName: String = "nearest_centroid"
  protected def method: String = "nearest"
  override def dataType: DataType = LongType

  @transient private lazy val sqrtNorms = NearestCentroidKernels.sqrtNorms(cvecs)
  protected def kernelArgs: Seq[Any] = Seq(cells, cvecs, sqrtNorms)

  override def nullSafeEval(a: Any): Any =
    NearestCentroidKernels.nearest(
      a.asInstanceOf[ArrayData], isFloat, cells, cvecs, sqrtNorms)
}

/** Compiled top-`nprobe` cell routing — the multi-probe counterpart
  * of [[NearestCentroidCell]], and the one routing path of every ANN
  * probe site, one-probe sites included (IVF probes, probed kNN
  * graphs, nav-graph attach, the on-disk index search). It replaced an interpreted
  * `transform` lambda plus a full `array_sort` over nlist structs per
  * row: with nlist ∝ n (the trainedCells rule) that stage was the
  * measured super-linear term of the whole nav-build family (e28/e41/
  * e46/e49 at 15–25× per 10× data at sf1→sf10; the lambda dispatch
  * and per-row struct-array allocation carry the ~10× constant over
  * the cosine arithmetic recorded in SURVEY.md). This kernel reads
  * the embedding ONCE, reuses the row norm across all cells, keeps a
  * bounded nprobe-slot insertion list instead of sorting nlist
  * structs, and runs entirely inside whole-stage codegen.
  *
  * Semantics: the top-`nprobe` cells by (cosine DESC, cell ASC) (see
  * [[CentroidKernel]]). A struct sort would rank a NaN cosine last
  * instead of first; zero-norm vectors are the only way to hit that
  * corner. Fewer cells than `nprobe` returns them all.
  */
case class NearestCellsProbed(
    child: Expression,
    cells: Array[Long],
    cvecs: Array[Array[Double]],
    nprobe: Int) extends CentroidKernel {

  require(cells.length == cvecs.length && cells.nonEmpty,
    "nearest_cells needs a non-empty (cell, cvec) table")
  require(nprobe >= 1, s"nearest_cells needs nprobe >= 1, got $nprobe")

  protected def fnName: String = "nearest_cells"
  protected def method: String = "nearestK"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val sqrtNorms = NearestCentroidKernels.sqrtNorms(cvecs)
  protected def kernelArgs: Seq[Any] = Seq(cells, cvecs, sqrtNorms, nprobe)

  override def nullSafeEval(a: Any): Any =
    NearestCentroidKernels.nearestK(
      a.asInstanceOf[ArrayData], isFloat, cells, cvecs, sqrtNorms, nprobe)
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
  * dot product). Both passes are the flat kernels' insertion pass.
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
    nprobe: Int) extends CentroidKernel {

  require(coarseCells.length == coarseVecs.length && coarseCells.nonEmpty,
    "nearest_cells_routed needs a non-empty coarse table")
  require(fineCells.length == fineVecs.length &&
    fineCells.length == fineCoarseIdx.length && fineCells.nonEmpty,
    "nearest_cells_routed needs a non-empty, aligned fine table")
  require(fineCoarseIdx.forall(i => i >= 0 && i < coarseCells.length),
    "fineCoarseIdx out of range")
  require(cprobe >= 1 && nprobe >= 1,
    s"nearest_cells_routed needs cprobe/nprobe >= 1, got $cprobe/$nprobe")

  protected def fnName: String = "nearest_cells_routed"
  protected def method: String = "routed"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val coarseNorms =
    NearestCentroidKernels.sqrtNorms(coarseVecs)
  @transient private lazy val fineNorms =
    NearestCentroidKernels.sqrtNorms(fineVecs)
  protected def kernelArgs: Seq[Any] = Seq(coarseVecs, coarseNorms,
    fineCells, fineVecs, fineNorms, fineCoarseIdx, cprobe, nprobe)

  override def nullSafeEval(a: Any): Any =
    NearestCentroidKernels.routed(a.asInstanceOf[ArrayData], isFloat,
      coarseVecs, coarseNorms, fineCells, fineVecs, fineNorms,
      fineCoarseIdx, cprobe, nprobe)
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

  /** sqrt of each centroid's squared norm, accumulated left-to-right
    * — the exact value CosineSimilarity's per-pair loop produces.
    */
  private[functions] def sqrtNorms(m: Array[Array[Double]]): Array[Double] =
    m.map(v => math.sqrt(sumSq(v)))

  private def sumSq(x: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < x.length) { s += x(i) * x(i); i += 1 }
    s
  }

  /** The row's embedding as a primitive double array, read once. */
  private def read(emb: ArrayData, floatElems: Boolean): Array[Double] = {
    val x = new Array[Double](emb.numElements())
    var i = 0
    while (i < x.length) {
      x(i) = if (floatElems) emb.getFloat(i).toDouble else emb.getDouble(i)
      i += 1
    }
    x
  }

  /** CosineSimilarity's value for the row `x` (norm `sx`) against a
    * centroid `cv` (norm `sn`).
    */
  private def cos(x: Array[Double], sx: Double, cv: Array[Double],
      sn: Double): Double = {
    val d = math.min(x.length, cv.length)
    var dot = 0.0
    var j = 0
    while (j < d) { dot += x(j) * cv(j); j += 1 }
    dot / (sx * sn)
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

  /** The bounded insertion pass: fills (`ks`, `ki`) with the top
    * `ks.length` positions of `vecs` by (cosine DESC, position ASC),
    * skipping position i when `selected` is given and
    * `selected(owner(i))` is false. Insertion is strictly-greater
    * only over an ascending walk, so an equal score never displaces
    * an earlier position. Returns how many slots were filled.
    */
  private def topPositions(x: Array[Double], sx: Double,
      vecs: Array[Array[Double]], norms: Array[Double],
      ks: Array[Double], ki: Array[Int],
      selected: Array[Boolean], owner: Array[Int]): Int = {
    val m = ks.length
    var filled = 0
    var c = 0
    while (c < vecs.length) {
      if (selected == null || selected(owner(c))) {
        val s = cos(x, sx, vecs(c), norms(c))
        var p = 0
        while (p < filled && !gtSparkSql(s, ks(p))) p += 1
        if (p < m) {
          var t = math.min(filled, m - 1)
          while (t > p) { ks(t) = ks(t - 1); ki(t) = ki(t - 1); t -= 1 }
          ks(p) = s; ki(p) = c
          if (filled < m) filled += 1
        }
      }
      c += 1
    }
    filled
  }

  /** The cells at the first `n` kept positions, as the result array. */
  private def cellsAt(cells: Array[Long], ki: Array[Int], n: Int): ArrayData = {
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = cells(ki(i)); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Argmax cell by cosine, ties to the earliest (lowest) cell —
    * cells MUST arrive sorted ascending.
    */
  def nearest(emb: ArrayData, floatElems: Boolean, cells: Array[Long],
      cvecs: Array[Array[Double]], sqrtNorms: Array[Double]): Long = {
    val x = read(emb, floatElems)
    val sx = math.sqrt(sumSq(x))
    var best = -2.0 // cosine >= -1 > -2: the fold's seed, always replaced
    var bestCell = -1L
    var c = 0
    while (c < cvecs.length) {
      val cs = cos(x, sx, cvecs(c), sqrtNorms(c))
      if (gtSparkSql(cs, best)) { best = cs; bestCell = cells(c) }
      c += 1
    }
    bestCell
  }

  /** Top-`nprobe` cells by (cosine DESC, cell ASC) — cells MUST arrive
    * sorted ascending. Returns min(nprobe, #cells) entries in probe
    * order.
    */
  def nearestK(emb: ArrayData, floatElems: Boolean, cells: Array[Long],
      cvecs: Array[Array[Double]], sqrtNorms: Array[Double],
      nprobe: Int): ArrayData = {
    val x = read(emb, floatElems)
    val m = math.min(nprobe, cvecs.length)
    val ks = new Array[Double](m)
    val ki = new Array[Int](m)
    val n = topPositions(x, math.sqrt(sumSq(x)), cvecs, sqrtNorms, ks, ki,
      null, null)
    cellsAt(cells, ki, n)
  }

  /** Two-level routing (see [[NearestCellsRouted]]): a coarse
    * top-`cprobe` insertion pass, then the same pass over the fine
    * table in global fine-cell-ascending order, masked to the
    * selected coarse groups.
    */
  def routed(emb: ArrayData, floatElems: Boolean,
      coarseVecs: Array[Array[Double]], coarseNorms: Array[Double],
      fineCells: Array[Long], fineVecs: Array[Array[Double]],
      fineNorms: Array[Double], fineCoarseIdx: Array[Int],
      cprobe: Int, nprobe: Int): ArrayData = {
    val x = read(emb, floatElems)
    val sx = math.sqrt(sumSq(x))
    val mc = math.min(cprobe, coarseVecs.length)
    val cs = new Array[Double](mc)
    val ci = new Array[Int](mc)
    val cFilled = topPositions(x, sx, coarseVecs, coarseNorms, cs, ci,
      null, null)
    val selected = new Array[Boolean](coarseVecs.length)
    var q = 0
    while (q < cFilled) { selected(ci(q)) = true; q += 1 }
    val mf = math.min(nprobe, fineCells.length)
    val fs = new Array[Double](mf)
    val fi = new Array[Int](mf)
    val fFilled = topPositions(x, sx, fineVecs, fineNorms, fs, fi,
      selected, fineCoarseIdx)
    cellsAt(fineCells, fi, fFilled)
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

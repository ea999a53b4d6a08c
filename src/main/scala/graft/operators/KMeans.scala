package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.NearestCentroidCell.nearest_centroid
import graft.operators.Checkpointing.CutOps

/** Spherical k-means (Lloyd's algorithm, cosine assignment) over a
  * (vec_id, embedding array<double>) DataFrame — the IVF TRAINER: the
  * missing half that lets the e-series ANN family (nearest-centroid
  * probe, cell-blocked search, kNN graphs) run on an UNLABELED corpus
  * instead of ground-truth cluster labels.
  *
  * Composition of two operators that already existed: assignment is
  * the ANN family's one routing rule with a single probe (the
  * nearest centroid by (cosine DESC, cell ASC), computed by the
  * argmax twin of the compiled kernel every IVF probe routes through
  * in [[Similarity.probeRows]]), the update
  * is [[Similarity.centroidVectors]]'s per-cell mean, and each
  * round's centroids reach the kernel through the family's one
  * driver-side handoff, [[Similarity.codebook]]. Seeds
  * are [[Sampling]]'s deterministic hash picks, so training is
  * reproducible across runs, engines, and partitionings, and the
  * whole loop is oracle-checkable with fixed iteration counts.
  *
  * Scale shape (per iteration):
  *   - Assignment: the bounded k×dims centroid table bakes into the
  *     compiled [[graft.functions.NearestCentroidCell]] kernel — one
  *     native expression computing the argmax cell per row inside
  *     whole-stage codegen. ZERO shuffle: the corpus never moves.
  *     (Profiling at k=256 showed the previous higher-order-function
  *     fold spent ~10× the cosine arithmetic on per-cell interpreter
  *     dispatch — the kernel removes it and reuses the row norm
  *     across all k cells.)
  *   - Update: posexplode to (cell, dim, v) and partial-aggregated
  *     groupBy — the one exchange, carrying ≤ partitions × k × dims
  *     partials, never corpus rows.
  *   - Centroids are rounded to 6 decimals each iteration, which
  *     collapses engine-specific float summation order and makes the
  *     feedback loop bit-reproducible (SURVEY.md §5).
  *   - Lineage stays LINEAR in iterations: each round's centroids are
  *     referenced once by the next, so no checkpoint is needed for
  *     bounded iteration counts.
  * At 100 TB, train on a [[Sampling.stratifiedSample]]-style hash
  * subset (k-means needs a representative sample, not the corpus) and
  * run [[assign]]/[[withCells]] once over the full corpus — exercised
  * end-to-end and oracle-checked by the `e10_sampled_ivf` query (25%
  * subset training, full-corpus assignment, learned-cell probe).
  */
object KMeans {

  /** Deterministic seeds: the k vectors with the smallest
    * (samplingHash(vec_id), vec_id) — a TakeOrderedAndProject, never
    * a full sort — numbered cell 0..k-1 in that order (the window
    * runs over the k seed rows only).
    */
  def seeds(emb: DataFrame, k: Int): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
        Sampling.hashBucket(col("vec_id")).as("_b"))
      .orderBy(col("_b"), col("vec_id"))
      .limit(k)
      .withColumn("cell",
        // Single partition BY CONSTRUCTION: input is the k-row seed
        // limit. The non-foldable constant key (pmod of a column, so
        // EliminateWindowPartitions keeps it) declares that
        // deliberately — WindowExec's unpartitioned warning should
        // only flag genuinely unbounded windows.
        (row_number().over(Window
          .partitionBy(pmod(col("_b"), lit(1)))
          .orderBy(col("_b"), col("vec_id"))) - 1)
          .cast("long"))
      .select(col("cell"), col("embedding").as("cvec"))

  /** The k-row centroid table collapses to a DRIVER-side matrix baked
    * into the compiled [[NearestCentroidCell]] kernel — an O(k×dims)
    * scalar handoff (the same bounded data the previous formulation
    * shipped as a one-row broadcast array; the reference's phase-1→2
    * conf-handoff pattern), NEVER a corpus-sized collect. Assignment
    * is then pure map-side generated code: zero shuffle, zero
    * per-cell interpreter dispatch (see NearestCentroid.scala for the
    * measured 10×-overhead fold this replaced).
    */
  private def assignedWithEmb(corpus: DataFrame,
      centroids: DataFrame): DataFrame = {
    corpus.withColumn("cell", nearest_centroid(col("embedding"),
      Similarity.codebook(centroids.select("cell", "cvec"))))
  }

  /** (vec_id, cell): each vector's nearest centroid by cosine. */
  def assign(corpus: DataFrame, centroids: DataFrame): DataFrame =
    assignedWithEmb(corpus, centroids).select("vec_id", "cell")

  /** The corpus with its `cell` column attached in place — what a
    * search stack should use instead of `corpus ⋈ assign(corpus, c)`:
    * the cell is one generated column off the kernel, so re-joining
    * it back by vec_id would re-scan and hash-join the corpus for
    * data it already has on every row.
    */
  def withCells(corpus: DataFrame, centroids: DataFrame): DataFrame =
    assignedWithEmb(corpus, centroids)

  /** Residual-driven training (the [[graft.graph.PageRank]]
    * `runUntilConverged` counterpart): Lloyd rounds until no centroid
    * coordinate moves more than `tol`, or `maxIters`. The residual is
    * computed on the k×dims centroid matrix the kernel needs COLLECTED
    * anyway — an O(k·dims) driver scalar per round, never corpus data;
    * a cell dropping or appearing counts as full movement, so the
    * loop cannot stop across a cell-set change. Fixed-round [[train]]
    * remains the oracle-checkable form (an unrolled SQL mirror needs
    * a static round count); this is the form a pipeline runs when it
    * wants "train to stability" semantics.
    *
    * @return (cell, cvec array<double>) converged centroids
    */
  def trainUntilConverged(emb: DataFrame, k: Int, tol: Double = 1e-6,
      maxIters: Int = 25): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val corpus = emb.select("vec_id", "embedding")
      .persist(StorageLevel.MEMORY_AND_DISK)
    def collectCents(df: DataFrame): Seq[(Long, Array[Double])] =
      Similarity.codebook(df.select("cell", "cvec")).sortBy(_._1)
    var cents = collectCents(seeds(corpus, k))
    var moved = Double.MaxValue
    var it = 0
    while (moved > tol && it < maxIters) {
      val assigned = corpus.withColumn("cell",
        nearest_centroid(col("embedding"), cents))
      val next = collectCents(Similarity.centroidVectors(
          assigned.select(col("cell").as("label"), col("embedding")),
          "label")
        .select(col("label").as("cell"), col("cvec")))
      val prev = cents.toMap
      moved =
        if (next.map(_._1).toSet != prev.keySet) Double.MaxValue
        else next.iterator.map { case (c, v) =>
          v.zip(prev(c)).map { case (a, b) => math.abs(a - b) }.max
        }.max
      cents = next
      it += 1
    }
    corpus.unpersist()
    cents.toSeq.map { case (c, v) => (c, v.toSeq) }.toDF("cell", "cvec")
  }

  /** Run `iters` Lloyd iterations from the deterministic seeds.
    * @return (cell, cvec array<double>) learned centroids — cells
    *   that lose all members along the way drop out (both engines
    *   mirror this; with hash-spread seeds it is rare in practice).
    */
  def train(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    val corpus = emb.select("vec_id", "embedding")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val out = trainCached(corpus, k, iters)
    corpus.unpersist()
    out
  }

  /** [[train]] over a corpus the CALLER has already persisted (and
    * will release) — lets [[Similarity.trainedCells]] reuse the one
    * cache its sizing count() materialized instead of paying a second
    * full input scan to fill train's own (round-16 optimization:
    * one corpus pass, not two, per trained build).
    */
  private[graft] def trainCached(corpus: DataFrame, k: Int,
      iters: Int): DataFrame = {
    // Training is inherently an action-driven loop, so run it HERE:
    // the eager localCheckpoint materializes the k-row centroid table
    // once (every later action reads k stored rows instead of
    // re-running `iters` Lloyd rounds) and lets the corpus cache be
    // released now instead of leaking into the caller's session.
    Rounds.fixed(seeds(corpus, k), iters, iters) { (cent, _) =>
      Similarity.centroidVectors(assignedWithEmb(corpus, cent)
          .select(col("cell").as("label"), col("embedding")), "label")
        .select(col("label").as("cell"), col("cvec"))
    }.lineageCut
  }

  /** k-means++-style FARTHEST-POINT seeding — the init-quality half
    * [[seeds]]' hash picks trade away (hash seeds can land in one
    * dense region; farthest-point spreads them, the spread Arthur &
    * Vassilvitskii's k-means++ samples toward): seed 1 is the
    * smallest vec_id (the deterministic anchor — classic k-means++
    * draws it uniformly), each later seed maximizes the e6-floored
    * cosine distance to its NEAREST already-chosen seed, ties to the
    * smallest vec_id. The e6 grid makes the argmax engine-stable, so
    * the greedy sequence oracle-checks exactly.
    *
    * Scale shape: the corpus persists once; each step is one
    * map-side `greatest(running max-sim, cosine to the newest seed)`
    * update (the newest seed rides as a literal — no join) plus a
    * TakeOrderedAndProject argmax; k bounded driver handoffs of one
    * (vec_id, vector) row each — the [[train]] collect class. The
    * running frame is lineage-cut per step.
    *
    * @return (step 1..k, vec_id, dist_e6 — 0 for step 1 by
    *   convention, cvec) — feed `cvec` to [[assign]] or
    *   [[Similarity.ivfProbeTopK]] as the initial centroid table
    */
  def seedsPlusPlus(emb: DataFrame, k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    import graft.functions.CosineSimilarity.cosine_sim
    require(k >= 1, s"k must be >= 1, got $k")
    val corpus = emb.select("vec_id", "embedding")
      .persist(StorageLevel.MEMORY_AND_DISK)
    def vecOf(r: org.apache.spark.sql.Row): Array[Double] =
      r.getSeq[Double](1).toArray
    val firstRows = corpus.orderBy("vec_id").limit(1).collect()
    if (firstRows.isEmpty) {
      corpus.unpersist()
      throw new IllegalArgumentException(
        "seedsPlusPlus: empty corpus — nothing to seed from")
    }
    val first = firstRows(0)
    var chosen = Vector((1, first.getLong(0), 0L, vecOf(first).toSeq))
    var ms = corpus.withColumn("ms",
      cosine_sim(col("embedding"), typedlit(vecOf(first).toSeq)))
      .lineageCut
    for (step <- 2 to k) {
      val ids = chosen.map(_._2)
      val nextRows = ms.filter(!col("vec_id").isin(ids: _*))
        .select(col("vec_id"), col("embedding"),
          floor((lit(1.0) - col("ms")) * 1000000 + 0.5).cast("long")
            .as("d_e6"))
        .orderBy(col("d_e6").desc, col("vec_id")).limit(1).collect()
      if (nextRows.isEmpty) {
        corpus.unpersist()
        throw new IllegalArgumentException(
          s"seedsPlusPlus: k=$k exceeds the ${chosen.size} distinct " +
            "vectors in the corpus")
      }
      val next = nextRows(0)
      val v = vecOf(next)
      chosen :+= ((step, next.getLong(0), next.getLong(2), v.toSeq))
      if (step < k)
        ms = ms.withColumn("ms",
          greatest(col("ms"), cosine_sim(col("embedding"), typedlit(v.toSeq))))
          .lineageCut
    }
    corpus.unpersist()
    chosen.toDF("step", "vec_id", "dist_e6", "cvec")
  }
}

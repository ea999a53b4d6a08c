package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Checkpointing, Rounds}

/** k-truss decomposition over the undirected view of an edge list —
  * the EDGE-centric density primitive completing k-core's node
  * peeling: the k-truss keeps only edges supported by at least k−2
  * triangles WITHIN the surviving subgraph, peeled synchronously
  * until stable. Trusses are strictly nested inside cores and are
  * the standard community-core / spam-ring detector at one notch
  * finer granularity than k-core (an edge between two high-degree
  * nodes with no shared neighborhood — a pure bridge — dies in the
  * 3-truss no matter how high its endpoints' cores are).
  *
  * Two forms, the g7 house pattern: [[survivors]] runs a FIXED
  * number of synchronous peel waves (the oracle-checkable form —
  * waves are idempotent at the fixpoint, so an unrolled SQL mirror
  * with enough rounds states the same result), [[untilStable]] peels
  * until a wave removes no edge (read off each wave's cut count) and
  * throws rather than returning an unconverged truss.
  *
  * Scale shape: each wave re-derives the symmetric adjacency of the
  * SURVIVING edge set and counts each edge's common neighbors with
  * two co-partitioned equi-joins + one partial agg (the
  * triangle-wedge shape); per-wave lineage cuts keep the plan linear
  * in waves. Unlike k-core the edge table itself shrinks
  * monotonically, so later waves get cheaper.
  */
object Truss {

  /** One synchronous wave: per-edge support within `t`, keep
    * support ≥ k−2. Edges with NO common neighbor vanish from the
    * inner wedge join — i.e. support 0 — and drop for any k ≥ 3.
    */
  private def wave(t: DataFrame, k: Int): DataFrame = {
    val s = t.select(col("a").as("u"), col("b").as("v"))
      .union(t.select(col("b").as("u"), col("a").as("v")))
    t.join(s.select(col("u").as("a"), col("v").as("c")), "a")
      .join(s.select(col("u").as("b"), col("v").as("c")), Seq("b", "c"))
      .groupBy("a", "b").agg(count(lit(1)).as("support"))
      .filter(col("support") >= k - 2)
  }

  /** Up to `maxWaves` synchronous peel waves at level `k` — the ONE
    * peel loop every public form shares.
    *
    * Early-stop on a stable wave (round-17, guide §2.4 — remove
    * redundant passes): a wave's survivors are a SUBSET of its input,
    * so an unchanged count means an unchanged set, and every further
    * wave of the level is the identity — [[Rounds.Unchanged]] stops
    * there, result-identical to the bounded contract while saving
    * whole peel passes (each wave is two joins + an aggregate over the
    * survivor subgraph). The count is the wave's cut's own, so the
    * check costs no job.
    *
    * @param rows `t`'s count when known (then `t` is a cut)
    */
  private def peel(t: DataFrame, k: Int, maxWaves: Int,
      rows: Long = -1L): Rounds.Run =
    Rounds.until(t, maxWaves, Rounds.Unchanged, rows)(
      (x, _) => wave(x, k).select("a", "b"))

  /** `waves` synchronous peel waves, then the surviving edges with
    * their support within the survivor set.
    *
    * @return (a, b, support) for edges alive after `waves` waves
    */
  def survivors(edges: DataFrame, k: Int, waves: Int): DataFrame = {
    require(k >= 3, "k-truss needs k >= 3")
    require(waves >= 1, "at least one wave")
    // Final support within the stable survivor set.
    wave(peel(Edges.undirected(edges), k, waves).frame, k)
      .select(col("a"), col("b"), col("support"))
  }

  /** Convergence twin: peel until a wave removes no edge; throws
    * rather than returning an unconverged truss.
    */
  def untilStable(edges: DataFrame, k: Int, maxWaves: Int = 100)
      : DataFrame = {
    require(k >= 3, "k-truss needs k >= 3")
    val run = peel(Edges.undirected(edges), k, maxWaves)
    require(run.converged, s"k-truss did not stabilize in $maxWaves waves")
    wave(run.frame, k).select(col("a"), col("b"), col("support"))
  }

  /** Truss numbers by progressive peeling: level k [[peel]]s level
    * k−1's survivors with up to `maxWaves` waves; levels stop at
    * `maxK` or once a level empties (survivors only shrink, so every
    * later level is empty too). `exact` requires every level to
    * stabilize.
    */
  private def levels(edges: DataFrame, maxK: Int, maxWaves: Int,
      exact: Boolean): DataFrame = {
    var (t, n) = Checkpointing.cutCounted(Edges.undirected(edges))
    var out = t.withColumn("truss", lit(2L))
    var k = 3
    while (k <= maxK && n > 0) {
      val run = peel(t, k, maxWaves, n)
      require(!exact || run.converged,
        s"truss level $k did not stabilize in $maxWaves waves")
      t = run.frame
      n = run.rows
      if (n > 0) out = out.union(t.withColumn("truss", lit(k.toLong)))
      k += 1
    }
    out.groupBy("a", "b").agg(max("truss").as("truss"))
  }

  /** FULL truss decomposition — per-edge MAX k such that the edge
    * survives the k-truss (the edge-centric twin of
    * [[KCore.decompose]], same progressive contract): trusses are
    * nested, so level k peels the (k−1)-level's survivors with
    * `waves` synchronous waves; truss numbers are capped at `maxK`
    * and each level's peel is wave-bounded — both bounds are the
    * DEFINED semantics (the unrolled SQL mirror needs static
    * counts); [[decomposeUntilStable]] is the exact convergence
    * twin. Every edge is in the 2-truss by definition.
    *
    * Scale shape: each wave is the triangle-wedge shape over the
    * CURRENT survivor set (two co-partitioned equi-joins + one
    * partial agg), the survivor set shrinks monotonically across
    * waves AND levels, and per-wave lineage cuts keep the plan
    * linear — never nested across levels.
    *
    * @return (a, b, truss) for every undirected edge; truss ∈ [2, maxK]
    */
  def decompose(edges: DataFrame, maxK: Int, waves: Int): DataFrame = {
    require(maxK >= 2, "maxK must be >= 2")
    require(waves >= 1, "at least one wave")
    levels(edges, maxK, waves, exact = false)
  }

  /** Convergence twin of [[decompose]]: each level peels until a
    * wave removes nothing, the level loop stops once a truss
    * empties — truss numbers EXACT up to `maxK`.
    */
  def decomposeUntilStable(edges: DataFrame, maxK: Int,
      maxWaves: Int = 100): DataFrame = {
    require(maxK >= 2, "maxK must be >= 2")
    levels(edges, maxK, maxWaves, exact = true)
  }
}

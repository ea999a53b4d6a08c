package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Checkpointing, Rounds}
import graft.operators.Checkpointing.CutOps

/** k-core decomposition over the undirected view of an edge list —
  * the dense-subgraph primitive completing the graph family's
  * structure axis (triangles = local density, clustering coeff =
  * normalized, k-core = global peeling): the k-core is what remains
  * after repeatedly deleting nodes with fewer than k surviving
  * neighbors. Spam rings and boilerplate template clusters sit in
  * high cores; tendrils and one-off pages peel away.
  *
  * Two forms, the g4/g3 house pattern:
  *   - [[survivors]] — a FIXED number of synchronous peeling waves
  *     (the oracle-checkable form: an unrolled SQL mirror needs a
  *     static wave count);
  *   - [[untilStable]] — the convergence twin, peeling until no node
  *     is removed (spec-checked to agree with [[survivors]] once the
  *     bounded form has converged).
  *
  * Scale shape: the symmetric neighbor list is hash-partitioned by
  * `u` ONCE and cut; each wave joins it with the O(|V|) alive list on
  * both endpoints and re-counts degrees with a partial aggregate — the
  * 100 TB edge set never re-shuffles. Every form peels through one
  * level loop, [[peel]], which cuts every wave and stops early once a
  * wave removes nothing.
  */
object KCore {

  /** Symmetric distinct-neighbor pairs (u, v), self-loops dropped,
    * u-partitioned and cut. The canonical list is cut before the
    * two-direction union: nothing dedupes the doubled subtree, and for
    * the word-graph queries it is the whole tokenize+pair+distinct
    * chain (round-16 optimization — one execution, not two).
    */
  private def sym(edges: DataFrame): DataFrame = {
    val und = Edges.undirected(edges).lineageCut
    val shufflePartitions =
      edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    und.select(col("a").as("u"), col("b").as("v"))
      .union(und.select(col("b").as("u"), col("a").as("v")))
      .repartition(shufflePartitions, col("u"))
      .lineageCut
  }

  /** (u, d): each alive node's count of alive neighbors. */
  private def degrees(symE: DataFrame, alive: DataFrame): DataFrame =
    symE
      .join(alive.withColumnRenamed("node", "u"), "u")
      .join(alive.withColumnRenamed("node", "v"), "v")
      .groupBy("u").agg(count(lit(1)).as("d"))

  /** The level-`k` peel from `alive`: up to `maxWaves` synchronous
    * waves of "keep nodes with ≥ k alive neighbors". A wave's
    * survivors are a SUBSET of the alive set it read, so an unchanged
    * count is an unchanged set and every further wave is the identity:
    * [[Rounds.Unchanged]] stops there, result-identical to running
    * every wave. The count is the wave's cut's own, so the check costs
    * no job.
    *
    * @param rows `alive`'s count when known (then `alive` is a cut)
    */
  private def peel(symE: DataFrame, alive: DataFrame, k: Int,
      maxWaves: Int, rows: Long = -1L): Rounds.Run =
    Rounds.until(alive, maxWaves, Rounds.Unchanged, rows) { (a, _) =>
      degrees(symE, a).filter(col("d") >= k).select(col("u").as("node"))
    }

  /** The k-core after at most `waves` waves, the degree filter being
    * the first, with each survivor's degree WITHIN the survivor set;
    * `exact` requires the peel to have stabilized.
    */
  private def core(edges: DataFrame, k: Int, waves: Int,
      exact: Boolean): DataFrame = {
    val symE = sym(edges)
    val alive = symE.groupBy("u").agg(count(lit(1)).as("d"))
      .filter(col("d") >= k)
      .select(col("u").as("node"))
    val run = peel(symE, alive, k, waves - 1)
    require(!exact || run.converged,
      s"k-core did not stabilize in $waves waves")
    degrees(symE, run.frame)
      .select(col("u").as("node"), col("d").as("core_degree"))
      .lineageCut
  }

  /** `waves` synchronous peeling waves (the degree filter is the
    * first), then the surviving nodes with their degree WITHIN the
    * survivor set.
    *
    * @return (node, core_degree) for nodes alive after `waves` waves
    */
  def survivors(edges: DataFrame, k: Int, waves: Int): DataFrame = {
    require(waves >= 1, "at least one wave")
    core(edges, k, waves, exact = false)
  }

  /** Convergence twin: peel until a wave removes nothing (read off
    * each wave's cut count); throws rather than returning an
    * unconverged core.
    */
  def untilStable(edges: DataFrame, k: Int, maxWaves: Int = 100)
      : DataFrame =
    core(edges, k, maxWaves, exact = true)

  /** Core numbers by PROGRESSIVE peeling: level k starts from level
    * k−1's survivors (cores are nested) and [[peel]]s them with up to
    * `maxWaves` waves; levels stop at `maxK` or once a level empties
    * (every later one is empty too). `exact` requires every level to
    * stabilize.
    */
  private def levels(edges: DataFrame, maxK: Int, maxWaves: Int,
      exact: Boolean): DataFrame = {
    val symE = sym(edges)
    // Level 1: every node on an edge (degree ≥ 1 by construction).
    var (alive, n) =
      Checkpointing.cutCounted(symE.select(col("u").as("node")).distinct())
    var out = alive.withColumn("core", lit(1L))
    var k = 2
    while (k <= maxK && n > 0) {
      val run = peel(symE, alive, k, maxWaves, n)
      require(!exact || run.converged,
        s"core level $k did not stabilize in $maxWaves waves")
      alive = run.frame
      n = run.rows
      if (n > 0) out = out.union(alive.withColumn("core", lit(k.toLong)))
      k += 1
    }
    out.groupBy("node").agg(max("core").as("core"))
  }

  /** FULL core decomposition (bounded form): every node's core
    * number — the largest k at which it survives peeling — computed
    * PROGRESSIVELY: the k-level starts from the (k−1)-level's
    * survivors (cores are nested) and runs `waves` synchronous peel
    * waves of "keep nodes with ≥ k alive neighbors". Core numbers
    * are capped at `maxK` (the k-tail of a graph card, like g12's
    * degree tail) and each level's peel is bounded at `waves` —
    * BOTH bounds are the DEFINED semantics (the g7/g4 pattern: an
    * unrolled SQL mirror needs static counts); the convergence twin
    * [[decomposeUntilStable]] is spec-checked to agree once bounded
    * peeling has stabilized inside the caps.
    *
    * Scale shape: the symmetric edge set shuffles ONCE; each wave is
    * the same two alive-joins + partial-agg recount as [[survivors]],
    * and each level's survivor set only shrinks, so total work is
    * bounded by maxK × waves × (join over the current survivor
    * subgraph). Every wave is cut — the plan never nests across
    * waves or levels.
    *
    * @return (node, core) for every node appearing in an edge;
    *   core ∈ [1, maxK]
    */
  def decompose(edges: DataFrame, maxK: Int, waves: Int): DataFrame = {
    require(maxK >= 1, "maxK must be >= 1")
    require(waves >= 1, "at least one wave")
    levels(edges, maxK, waves, exact = false)
  }

  /** Convergence twin of [[decompose]]: each level peels until a
    * wave removes nothing, and the level loop stops early once a core
    * empties — so the returned core numbers are EXACT (not
    * wave-bounded) up to `maxK`. Throws if a level fails to stabilize
    * within `maxWaves`.
    */
  def decomposeUntilStable(edges: DataFrame, maxK: Int,
      maxWaves: Int = 100): DataFrame = {
    require(maxK >= 1, "maxK must be >= 1")
    levels(edges, maxK, maxWaves, exact = true)
  }
}

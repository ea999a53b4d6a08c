package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Checkpointing, Rounds}
import graft.operators.Checkpointing.CutOps

/** Connected components over an undirected pair list by iterative
  * min-label propagation — the dedup-pipeline consolidation step that
  * collapses near-dup PAIRS ((a,b),(b,c)) into GROUPS ({a,b,c}) with
  * one survivor each.
  *
  * Per round every vertex takes the minimum label among itself and
  * its neighbors; after `iters ≥ diameter` rounds each component
  * carries its minimum member id as the group label. Near-dup
  * components are shallow (copies of a common source), so a small
  * fixed round count converges; a fixed count is also what keeps the
  * operator bit-reproducible against an unrolled SQL oracle. For
  * adversarially deep graphs (long chains), switch to the
  * small-star/large-star contraction algorithm — min propagation is
  * O(diameter) rounds, star contraction O(log n).
  *
  * Scale shape (mirrors graft.graph.PageRank): symmetric edges are
  * hash-partitioned by `src` ONCE and cut; every round's join reuses
  * that partitioning, so only the O(|V|) label table moves.
  * The min-label groupBy is a partial aggregate — per-partition mins
  * combine before the exchange.
  */
object ConnectedComponents {

  /** @param pairs undirected edges as (a, b) — both long ids
    * @return (id, label): every vertex appearing in `pairs`, labeled
    *   with its component's minimum vertex id (given enough rounds)
    */
  def minLabel(pairs: DataFrame, iters: Int): DataFrame =
    propagate(pairs, iters).select("id", "label")

  /** [[minLabel]]'s cut label table, plus each vertex's label before
    * the last hop as `_prev` (absent when `iters` is 0).
    */
  private def propagate(pairs: DataFrame, iters: Int): DataFrame = {
    // Symmetric edges plus a self-loop per vertex, cut once: each
    // round is ONE join + partial-min groupBy that reads the label
    // table once, so the unrolled plan stays linear in `iters`. The
    // join's streamed side is the cut src partitioning; only the
    // O(|V|) labels shuffle to it.
    val edges = Edges.selfLooped(
      pairs.select(col("a").as("src"), col("b").as("dst"))
        .union(pairs.select(col("b").as("src"), col("a").as("dst"))),
      "src")
    val init = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    // The final cut materializes the O(|V|) label table ONCE, so
    // every downstream action (dupGroups' convergence check and its
    // output) reads stored blocks instead of re-running the rounds.
    Rounds.fixed(init, iters, iters) { (labels, _) =>
      Edges.minLabelHop(edges, labels)
    }.lineageCut
  }

  /** Dedup consolidation: (doc_id, group_id, keep) for every doc in
    * the pair graph, keeping the minimum doc id of each group.
    *
    * `iters` rounds of min-label propagation converge only when every
    * component's min-eccentricity is below `iters` — true for real
    * LSH dup graphs (star-shaped copies of a common source) but
    * silently wrong for adversarially deep graphs (a chain of hops
    * longer than `iters`). So the result is CHECKED: propagation is
    * monotone, so a last hop that moved no label means a fixpoint
    * (one O(|V|) scalar over the cut label table). Otherwise fall
    * through to [[starContract]], whose round count is O(log n)
    * regardless of diameter — callers always get fully-consolidated
    * groups. A fixpoint that lands exactly on hop `iters` also falls
    * through, to the same groups.
    */
  def dupGroups(pairs: DataFrame, iters: Int = 8): DataFrame = {
    // The pair list is typically the OUTPUT of an expensive candidate
    // pipeline (LSH bucket join + exact verify); it is read twice
    // here (edge build, fallback), so it is cut once. Everything
    // downstream materializes eagerly (labels via propagate's cut,
    // star rounds via theirs), so the returned plan reads only
    // checkpointed blocks.
    val p = Checkpointing.cutOnce(pairs)
    val labels = propagate(p, iters)
    val converged =
      iters > 0 && labels.agg(Edges.moved).head().getLong(0) == 0
    val resolved = if (converged) labels else starContract(p)
    resolved
      .select(col("id").as("doc_id"), col("label").as("group_id"),
        (col("id") === col("label")).as("keep"))
  }

  /** Alternating large-star / small-star contraction — the O(log n)
    * connected-components algorithm (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014) for graphs whose
    * DIAMETER is not small: [[minLabel]] needs one round per hop, so
    * a million-link chain (adversarial near-dup transitivity) needs a
    * million rounds; star contraction collapses any component in
    * O(log n) rounds regardless of depth.
    *
    * Per round, large-star points every strictly-larger neighbor of
    * each node at the node's minimum neighborhood member, then
    * small-star re-points each node's smaller neighbors (and the node
    * itself) at their minimum — both pure join + partial-agg steps on
    * the edge list. The loop stops when the edge set reaches a
    * fixpoint (every component a star centered on its minimum): a
    * round whose cut holds exactly the previous round's edges
    * ([[Rounds.SameRows]]). Each round's edge set is cut, so lineage
    * stays one round deep.
    *
    * @param pairs undirected edges as (a, b) — both long ids
    * @return (id, label) — component minimum per vertex, identical to
    *   a converged [[minLabel]] on any graph of real pairs (a vertex
    *   appearing ONLY in self-loops has nothing to consolidate and is
    *   dropped here, where minLabel would emit it self-labeled)
    */
  def starContract(pairs: DataFrame, maxRounds: Int = 50): DataFrame = {
    // Every round's edge set is distinct, so [[Rounds.SameRows]] (equal
    // count, empty `except`) detects the fixpoint exactly. Each round
    // is cut: it reads the previous edge set many times (sym, both
    // join sides), so an uncut plan would grow ~8× per round.
    val run = Rounds.until(
      pairs.select(col("a").cast("long").as("u"),
          col("b").cast("long").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct(),
      maxRounds, Rounds.SameRows) { (edges, _) =>
      // Large-star: m(u) = min(Γ(u) ∪ {u}); emit (v, m(u)) for every
      // neighbor v > u. Output edges are (node, smaller-target), so
      // they arrive pre-oriented for the small-star step.
      val sym = edges.select("u", "v")
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val mLarge = sym.groupBy("u").agg(min("v").as("_mv"))
        .select(col("u"), least(col("_mv"), col("u")).as("m"))
      val large = sym.filter(col("v") > col("u"))
        .join(mLarge, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // Small-star over the (hi, lo) edges: m(hi) = min of its
      // smaller neighbors; re-point every lo neighbor and hi itself
      // at m. Self-edges (the m member) drop out.
      val mSmall = large.groupBy("u").agg(min("v").as("m"))
      large.join(mSmall, "u")
        .select(col("v").as("n"), col("m"))
        .union(mSmall.select(col("u").as("n"), col("m")))
        .filter(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v"))
        .distinct()
    }
    // A partially-contracted edge set would hand back SPLIT labels
    // with no signal — fail loudly instead. The default cap of 50
    // O(log n) rounds covers any graph that fits on hardware (2^50
    // nodes); hitting it means the input, not the cap, is the bug.
    if (!run.converged) throw new IllegalStateException(
      s"starContract: no edge fixpoint after $maxRounds rounds — " +
        "components would be silently split; raise maxRounds")
    // Fixpoint: every edge is (member, componentMin).
    val edges = run.frame
    edges.select(col("u").as("id"), col("v").as("label"))
      .union(edges.select(col("v").as("id"), col("v").as("label")))
      .groupBy("id").agg(min("label").as("label"))
  }
}

package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Rounds
import graft.operators.Checkpointing.CutOps

/** Community detection by bounded, deterministic Louvain — the
  * modularity-OPTIMIZING member of the community family: g4's label
  * propagation assigns labels and g19's card measures their
  * modularity; this operator actually improves it (greedy local
  * moves + graph contraction, Blondel et al. 2008), in a form an
  * unrolled SQL oracle can mirror bit-for-bit.
  *
  * Determinism (the LPA/g21 discipline — classic Louvain is
  * sequential and order-dependent):
  *   - fixed `levels` contraction levels × `moveRounds` synchronous
  *     local-move rounds per level (bounded = the DEFINED semantics);
  *   - per round only nodes in ONE parity class (`id % 2 == round % 2`)
  *     may move, so each round is a block-sequential step against a
  *     frozen complement — the adjacent-swap oscillation of fully
  *     synchronous moves cannot ping-pong inside a round;
  *   - gains compare in EXACT integer arithmetic: moving node i (degree
  *     k_i) into community c changes modularity by
  *     ΔQ ∝ S(c) = 2m·w(i,c) − k_i·d'_c, where w(i,c) is i's edge
  *     weight into c, d'_c is c's degree mass excluding i, and m the
  *     total edge weight — all BIGINTs, so the argmax (ties → smallest
  *     community id) never touches a float;
  *   - a node moves only on STRICT gain (S(best) > S(stay)).
  *
  * Scale shape (the PageRank skeleton): the weighted undirected graph
  * is built and dense-id-mapped once per level and lineage-cut; per
  * round only the O(|V|) label table and two partial aggregates move
  * (node→community weights, community degree mass). The argmax stays
  * in HashAggregate via the LPA long-packing trick — S is offset to
  * non-negative and packed as (S + 4m²)·K + (K − comm), K = |V|+1 —
  * exact while 6m²·(|V|+1) < 2⁶³ (checked; beyond that the packing
  * would need the struct-max fallback). Contraction is one
  * sum-aggregate over relabeled endpoints; total weight m is invariant
  * under it, so m and K are the only driver scalars (both O(1) rows).
  */
object Louvain {

  /** @param edges directed (src, dst) name pairs; canonicalized to the
    *   loop-free undirected distinct edge set (the g19 convention)
    * @param levels contraction levels (≥ 1)
    * @param moveRounds parity-gated local-move rounds per level
    * @return (node, comm): every vertex with its community's label
    *   name (the name of the vertex whose id the community carries)
    */
  def communities(edges: DataFrame, levels: Int, moveRounds: Int)
      : DataFrame =
    run(Edges.undirected(edges).withColumn("w", lit(1L)), levels, moveRounds)

  /** WEIGHTED Louvain: same bounded deterministic algorithm over a
    * (src, dst, weight) multigraph — parallel/reverse edges merge by
    * weight SUM into the canonical undirected form, and every score
    * (2m·w(i,c) − k_i·d'_c) runs on the summed weights, still exact
    * BIGINTs. The natural fit for the word-FOLLOW graph, whose
    * co-occurrence multiplicity the unweighted form discards (g26
    * asks "which words connect"; this asks "which words connect
    * OFTEN").
    */
  def communitiesWeighted(edges: DataFrame, levels: Int,
      moveRounds: Int): DataFrame =
    run(edges.filter(col("src") =!= col("dst"))
      .groupBy(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .agg(sum("weight").as("w")), levels, moveRounds)

  /** Leiden-style connectivity REPAIR (Traag, Waltman & van Eck
    * 2019, "From Louvain to Leiden"): Louvain's known defect is that
    * a community can end up INTERNALLY DISCONNECTED — a cut vertex
    * moves out (or a synchronous round swaps a pair) and the members
    * it connected stay behind under one label. This variant runs the
    * same bounded deterministic Louvain, then splits every community
    * into the connected components of its induced subgraph (exact
    * star-contraction CC — diameter-independent), relabeling each
    * component by its minimum member. Splitting a disconnected
    * community never decreases modularity (no internal edge is lost;
    * the squared degree-mass term strictly shrinks), so
    * Q(refined) ≥ Q(louvain) always — GraphSpec pins both the
    * inequality's strict case on a planted swap fixture and
    * partition-equality when every community was already connected.
    *
    * Scale shape: one extra co-partitioned id-join of the level-1
    * edge list against the final assignment (intra-community edge
    * filter) + the O(log n)-round star contraction — both bounded by
    * the existing level-1 machinery; no new corpus-sized state.
    *
    * @return (node, comm): community = the connected component's
    *   minimum member's name
    */
  def communitiesRefined(edges: DataFrame, levels: Int,
      moveRounds: Int): DataFrame =
    run(Edges.undirected(edges).withColumn("w", lit(1L)), levels,
      moveRounds, refine = true)

  /** [[communitiesRefined]] over a weighted multigraph — the
    * [[communitiesWeighted]] twin.
    */
  def communitiesWeightedRefined(edges: DataFrame, levels: Int,
      moveRounds: Int): DataFrame =
    run(edges.filter(col("src") =!= col("dst"))
      .groupBy(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .agg(sum("weight").as("w")), levels, moveRounds, refine = true)

  /** @param undw canonical undirected loop-free weighted edges
    *   (a ≤ b, w ≥ 1 summed)
    */
  private def run(undw: DataFrame, levels: Int, moveRounds: Int,
      refine: Boolean = false): DataFrame = {
    require(levels >= 1, "at least one level")
    require(moveRounds >= 1, "at least one move round")
    val spark = undw.sparkSession
    val shufflePartitions =
      spark.conf.get("spark.sql.shuffle.partitions").toInt

    // Cut the canonical weighted edge input once: it feeds the
    // dense-id union TWICE and the level-1 graph build once, and
    // nothing dedupes the repeated subtree — for the word-graph
    // queries that subtree is the whole tokenize+pair+sum chain,
    // previously executed three times (round-16 optimization).
    val und = undw.lineageCut
    // Dense ids by sorted name — the distributed two-pass scheme
    // (per-partition offsets, no single-task sort; see DenseIds).
    val ids = DenseIds.byKey(
      und.select(col("a").as("node"))
        .union(und.select(col("b").as("node"))).distinct(), "node")
      .lineageCut
    // Level-1 weighted graph: (a, b, w) with a ≤ b; self-loops only
    // appear after contraction.
    var g = und
      .join(ids.select(col("node").as("a"), col("id").as("ia")), "a")
      .join(ids.select(col("node").as("b"), col("id").as("ib")), "b")
      .select(least(col("ia"), col("ib")).as("a"),
        greatest(col("ia"), col("ib")).as("b"), col("w"))
      .repartition(shufflePartitions, col("a"))
      .lineageCut
    // The level-1 id graph survives the contraction loop (g is
    // reassigned per level) — the refinement pass reads it.
    val g1 = g

    // The two O(1) driver scalars: total weight m (invariant under
    // contraction) and the packing modulus K = |V|+1.
    val m = g.agg(coalesce(sum("w"), lit(0L))).head.getLong(0)
    val k = ids.count() + 1
    require(m > 0, "graph has no loop-free edge")
    // Packing exactness bound, checked EXACTLY: the max packed value
    // is 6m²·K + (K−1), and a double compare at the 2^63 boundary is
    // ~2^11 ulps loose — both would let a just-inside input wrap the
    // long argmax silently instead of failing loudly here.
    require(BigInt(6) * m * m * k + (k - 1) <= BigInt(Long.MaxValue),
      s"integer argmax packing needs 6m²(|V|+1)+|V| < 2^63 (m=$m, K=$k)")
    val off = 4L * m * m

    // assign: original dense id → current community id.
    var assign: DataFrame = null
    for (level <- 1 to levels) {
      // Static per level: weighted degree (self-loops count twice).
      val deg = g.select(col("a").as("n"),
          when(col("a") === col("b"), lit(2) * col("w"))
            .otherwise(col("w")).as("w"))
        .union(g.filter(col("a") =!= col("b"))
          .select(col("b").as("n"), col("w")))
        .groupBy("n").agg(sum("w").as("k"))
        .lineageCut
      // Every move round reads the labels several times, so each is
      // cut (the last one below).
      val labels = Rounds.fixed(
          deg.select(col("n").as("id"), col("n").as("comm")), moveRounds,
          cutEvery = 1) { (labels, r) =>
        // Node→community incident weights under the current labels
        // (self-loops excluded: they follow the node and cancel in
        // the argmax).
        val ns = g.filter(col("a") =!= col("b"))
        val wic = ns.join(labels.select(col("id").as("b"),
              col("comm").as("c")), "b")
            .select(col("a").as("n"), col("c"), col("w"))
          .union(ns.join(labels.select(col("id").as("a"),
              col("comm").as("c")), "a")
            .select(col("b").as("n"), col("c"), col("w")))
          .groupBy("n", "c").agg(sum("w").as("w"))
        // Community degree mass under the current labels.
        val dc = labels.join(deg, labels("id") === deg("n"))
          .groupBy("comm").agg(sum("k").as("d"))
          .select(col("comm").as("c"), col("d"))
        // Candidates = neighbor communities ∪ the stay option (w=0
        // when the node has no internal edge); max(w) collapses the
        // duplicate stay row.
        val cand = wic
          .union(labels.select(col("id").as("n"), col("comm").as("c"),
            lit(0L).as("w")))
          .groupBy("n", "c").agg(max("w").as("w"))
        // Exact integer score; d'_c excludes the node's own k when
        // scoring its current community. Consumed ONCE: the stay
        // score rides the SAME aggregation as the argmax (each n has
        // exactly one c = cur row after the (n, c) max(w) collapse,
        // so max(when(c = cur, s)) IS that row's score) — previously
        // a second consumer (a filter + an extra join) forced a
        // per-round lineage cut of this whole scoring subtree
        // (round-16 optimization: one aggregation pass and one fewer
        // eager job per move round, same integers).
        val sc = cand
          .join(deg, "n")
          .join(labels.select(col("id").as("n"), col("comm").as("cur")), "n")
          .join(dc, "c")
          .select(col("n"), col("c"), col("cur"),
            (lit(2L * m) * col("w") - col("k") *
              (col("d") - when(col("c") === col("cur"), col("k"))
                .otherwise(lit(0L)))).as("s"))
        // HashAggregate argmax: pack (S + 4m²)·K + (K − c).
        val best = sc
          .groupBy("n")
          .agg(max((col("s") + lit(off)) * lit(k) + (lit(k) - col("c")))
            .as("p"),
            max(when(col("c") === col("cur"), col("s"))).as("ss"))
          // Exact decode (p ≥ 0, remainder k−c ∈ [1, k−1]): integer
          // `div`, never `/` — long/long division is DOUBLE in Spark
          // and would lose exactness past 2^53.
          .select(col("n"),
            (lit(k) - pmod(col("p"), lit(k))).as("bc"),
            (expr(s"(p - (p % ${k}L)) div ${k}L") - lit(off)).as("bs"),
            col("ss"))
        labels
          .join(best, labels("id") === best("n"))
          .select(col("id"),
            when(pmod(col("id"), lit(2L)) === lit((r % 2).toLong) &&
                col("bs") > col("ss"), col("bc"))
              .otherwise(col("comm")).as("comm"))
      }.lineageCut
      assign =
        if (level == 1) labels
        else assign.join(labels.select(col("id").as("comm"),
            col("comm").as("_c2")), "comm")
          .select(col("id"), col("_c2").as("comm"))
          .lineageCut
      if (level < levels)
        g = g
          .join(labels.select(col("id").as("a"), col("comm").as("ca")), "a")
          .join(labels.select(col("id").as("b"), col("comm").as("cb")), "b")
          .groupBy(least(col("ca"), col("cb")).as("a"),
            greatest(col("ca"), col("cb")).as("b"))
          .agg(sum("w").as("w"))
          .repartition(shufflePartitions, col("a"))
          .lineageCut
    }
    val fin =
      if (!refine) assign
      else {
        // Leiden repair: split each community into the connected
        // components of its induced level-1 subgraph. starContract
        // is exact at any diameter; nodes with no intra-community
        // edge (their community left without them) become their own
        // singleton component via the coalesce.
        val intra = g1
          .join(assign.select(col("id").as("a"), col("comm").as("ca")),
            "a")
          .join(assign.select(col("id").as("b"), col("comm").as("cb")),
            "b")
          .filter(col("ca") === col("cb") && col("a") =!= col("b"))
          .select(col("a"), col("b"))
        val cc = ConnectedComponents.starContract(intra)
        assign.select(col("id"))
          .join(cc, Seq("id"), "left")
          .select(col("id"), coalesce(col("label"), col("id")).as("comm"))
      }
    fin
      .join(ids.select(col("id"), col("node").as("node_name")), "id")
      .join(ids.select(col("id").as("comm"), col("node").as("comm_name")),
        "comm")
      .select(col("node_name").as("node"), col("comm_name").as("comm"))
  }
}

package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Checkpointing.CutOps

/** Landmark STRESS centrality — the Brandes dependency accumulation
  * (Brandes 2001) restricted to a landmark source set and a bounded
  * hop radius, in the division-free form: for each landmark s and
  * node v, the number of s-shortest paths THROUGH v is
  * σ(s,v) · paths(v), where σ is the shortest-path count from the
  * level-synchronized BFS and paths(v) counts the shortest-path DAG
  * continuations from v (paths(v) = Σ_{w ∈ DAG-succ(v)}
  * (1 + paths(w)) — one backward sweep per hop level, the Brandes
  * accumulation order). Summing over landmarks gives hop-bounded,
  * landmark-restricted stress centrality (Shimbel 1953) — the same
  * "how much shortest-path traffic crosses v" axis as betweenness.
  *
  * Division-free by DESIGN, not convenience: classic betweenness
  * normalizes each term by σ(s,w), making every score a sum of
  * rationals whose float summation order differs between engines —
  * un-oracle-able at exact-hash strictness (δ values with
  * denominators divisible by 128 land exactly on the e6 grid's
  * rounding boundary, where one ulp flips the floor). Every quantity
  * here is an exact BIGINT: σ sums, DAG path counts, products — so
  * the unrolled SQL mirror matches bit-for-bit (the g21/g26
  * defined-semantics discipline).
  *
  * Scale shape (the Harmonic.landmarkDistances skeleton): one
  * symmetric-edge shuffle, cut once for the sweep; forward = one
  * frontier join + (lm, node) partial aggregate per hop, carry
  * O(|L|·V) cut per round; DAG edges = two co-partitioned id joins;
  * backward = one join + partial aggregate per hop level. Nothing corpus-wide, no window over nodes.
  */
object Betweenness {

  /** @param edges directed (src, dst); symmetrized+deduped like the
    *   rest of the landmark family
    * @param landmarks (node) source set
    * @param maxHops BFS radius (bounded = the defined semantics)
    * @return (node, stress) for every node within radius of a
    *   landmark, landmarks excluded as through-nodes of their own
    *   trees; stress = Σ_s σ(s,v)·paths_DAG(v), 0 for leaves
    */
  def landmarkStress(edges: DataFrame, landmarks: DataFrame,
      maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val und = Edges.undirected(edges)
    val e = und.select(col("a").as("u"), col("b").as("v"))
      .union(und.select(col("b").as("u"), col("a").as("v")))
      .repartition(col("u"))
      .lineageCut
    // Forward: level-synchronized BFS with shortest-path counts —
    // σ(v at hop h) = Σ over dist-(h−1) predecessors' σ.
    var known = landmarks.select(col("node").as("lm")).distinct()
      .select(col("lm"), col("lm").as("node"), lit(0L).as("dist"),
        lit(1L).as("sigma"))
      .lineageCut
    var frontier = known
    for (h <- 1 to maxHops) {
      val reached = frontier
        .join(e, frontier("node") === e("u"))
        .groupBy(col("lm"), col("v").as("node"))
        .agg(sum("sigma").as("sigma"))
      val newf = reached
        .join(known.select("lm", "node"), Seq("lm", "node"),
          "left_anti")
        .select(col("lm"), col("node"), lit(h.toLong).as("dist"),
          col("sigma"))
        .lineageCut
      known = known.unionByName(newf).lineageCut
      frontier = newf
    }
    // Shortest-path DAG edges per landmark tree.
    val dag = known.select(col("lm"), col("node").as("du"),
        col("dist").as("ddu"))
      .join(e, col("du") === e("u"))
      .join(known.select(col("lm"), col("node").as("dv"),
        col("dist").as("ddv")), Seq("lm"))
      .filter(col("dv") === col("v") && col("ddv") === col("ddu") + 1)
      .select(col("lm"), col("du"), col("dv"))
      .lineageCut
    // Backward Brandes sweep, division-free: paths(v) =
    // Σ_{succ w} (1 + paths(w)), level by level.
    var p = known.filter(col("dist") === maxHops)
      .select(col("lm"), col("node"), lit(0L).as("p"))
      .lineageCut
    var acc = p
    for (h <- (maxHops - 1) to 0 by -1) {
      val dagP = dag
        .join(p.select(col("lm"), col("node").as("dv"),
          col("p")), Seq("lm", "dv"))
        .select(col("lm"), col("du"), col("p"))
      val level = known.filter(col("dist") === h)
        .join(dagP.withColumnRenamed("du", "node"),
          Seq("lm", "node"), "left")
        .groupBy("lm", "node")
        .agg(coalesce(sum(lit(1L) + col("p")), lit(0L)).as("p"))
        .lineageCut
      acc = acc.unionByName(level)
      p = level
    }
    known.filter(col("dist") > 0)
      .join(acc, Seq("lm", "node"))
      .select(col("node"), (col("sigma") * col("p")).as("t"))
      .groupBy("node").agg(sum("t").as("stress"))
  }
}

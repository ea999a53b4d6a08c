package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Checkpointing.CutOps

/** Triangle counting over an undirected graph by degree-ordered
  * orientation (the "compact-forward" scheme): orient every edge
  * from its lower-(degree, id) endpoint to the higher, build wedges
  * at each vertex from ordered pairs of its out-neighbors, and close
  * them against the oriented edge list.
  *
  * Why this shape scales: after orientation, every vertex's
  * out-degree is O(√m) on ANY graph (a vertex keeps an out-edge only
  * toward higher-degree endpoints, and there can't be more than √m
  * vertices of degree ≥ √m) — so the wedge self-join's per-key
  * fan-out is bounded even on power-law graphs where a naive
  * adjacency self-join explodes at the hubs. Each triangle is
  * counted exactly once, at its minimum-(degree, id) corner. Both
  * joins are plain equi-joins on vertex keys — co-partitioned
  * shuffles, AQE-splittable.
  *
  * Cache lifetime: the oriented edge table is eagerly lineage-cut
  * (localCheckpoint) because the returned plan reads it three times
  * (two wedge legs + the closing semi-join); its blocks self-release
  * with the RDD, so no cache entry outlives the evaluation
  * (CacheHygieneSpec).
  */
object Triangles {

  /** (closed wedges (u, v1, v2) — one row per triangle — and the
    * undirected degree table (n, d)).
    */
  private def closedWedges(edges: DataFrame): (DataFrame, DataFrame) = {
    val und = Edges.undirected(edges)
    // Undirected degrees.
    val deg = und.select(col("a").as("n")).union(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // Orient a→b iff (deg(a), a) < (deg(b), b); carry the head's
    // (degree, id) so wedge legs can be ordered without re-joining.
    val withDeg = und
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
    val oriented = withDeg.select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("u"), col("b").as("v"),
            col("db").as("dv")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"),
            col("da").as("dv"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv"))
      // Read three times below (both wedge legs + the closing side):
      // eager localCheckpoint materializes it once and self-releases
      // with the RDD — persist here leaked one cache entry per
      // evaluation (CacheHygieneSpec).
      .lineageCut
    // Wedges at u: ordered out-neighbor pairs; the closing edge is
    // oriented exactly (lower leg → higher leg), so one equi-join
    // finds each triangle once.
    val e1 = oriented.select(col("u"), col("v").as("v1"), col("dv").as("d1"))
    val e2 = oriented.select(col("u"), col("v").as("v2"), col("dv").as("d2"))
    val wedges = e1.join(e2, Seq("u"))
      .filter(struct(col("d1"), col("v1")) < struct(col("d2"), col("v2")))
    val closing = oriented.select(col("u").as("cu"), col("v").as("cv"))
    val closed = wedges.join(closing,
        col("v1") === col("cu") && col("v2") === col("cv"), "left_semi")
      .select("u", "v1", "v2")
    (closed, deg)
  }

  /** Global triangle count.
    * @param edges directed or undirected (src, dst) pairs; direction
    *   and duplicates are normalized away, self-loops dropped.
    * @return one row: (n_triangles)
    */
  def globalCount(edges: DataFrame): DataFrame =
    closedWedges(edges)._1.agg(count(lit(1)).as("n_triangles"))

  /** Directed 3-node MOTIF census over the distinct loop-free edge
    * set: counts CYCLIC triangles (a→b→c→a; each counted once at its
    * smallest corner) and TRANSITIVE instances (a→b, b→c, a→c; each
    * edge-labeled pattern has a unique source/sink so instances are
    * counted directly) — the feed-forward-vs-feedback signature that
    * separates hierarchy from circularity (link farms and citation
    * rings are cycle-heavy; clean topical link structure is
    * feed-forward). Reciprocal edge pairs simply contribute to every
    * pattern they close, as in the standard triad census.
    *
    * Scale shape: one wedge equi-join (bounded by Σ din·dout — the
    * inherent motif cost) and ONE closing equi-join against a
    * union of both closing orientations tagged by motif type, so
    * wedges are enumerated once, not once per motif; counts are
    * partial-aggregated conditional sums.
    *
    * @return one row: (n_cyclic, n_transitive)
    */
  def directedMotifs(edges: DataFrame): DataFrame = {
    val e = edges.select("src", "dst")
      .filter(col("src") =!= col("dst"))
      .distinct()
    val ab = e.select(col("src").as("a"), col("dst").as("b"))
    val bc = e.select(col("src").as("b"), col("dst").as("c"))
    val wedges = ab.join(bc, Seq("b"))
      .filter(col("a") =!= col("c"))
    // closing edge c→a completes the cycle; a→c completes the
    // transitive triangle — one union-tagged join covers both
    val closing = e.select(col("dst").as("a"), col("src").as("c"),
        lit(true).as("is_cyc"))
      .union(e.select(col("src").as("a"), col("dst").as("c"),
        lit(false).as("is_cyc")))
    wedges.join(closing, Seq("a", "c"))
      .agg(
        coalesce(sum(when(col("is_cyc") && col("a") < col("b") &&
          col("a") < col("c"), 1L).otherwise(0L)), lit(0L))
          .as("n_cyclic"),
        coalesce(sum(when(!col("is_cyc"), 1L).otherwise(0L)), lit(0L))
          .as("n_transitive"))
  }

  /** Per-node triangle counts and local clustering coefficient
    * (2·t / (d·(d−1)), e4-scaled; 0 for degree < 2): each found
    * triangle fans out to its three corners — one extra exchange on
    * the node key — then joins the degree table. Every graph node
    * appears, zero-triangle nodes included.
    */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    val (closed, deg) = closedWedges(edges)
    val corners = closed.select(col("u").as("node"))
      .union(closed.select(col("v1").as("node")))
      .union(closed.select(col("v2").as("node")))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    deg.select(col("n").as("node"), col("d"))
      .join(corners, Seq("node"), "left")
      .select(col("node"), col("d").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("d") >= 2,
          floor(lit(2.0) * coalesce(col("n_triangles"), lit(0L)) /
            (col("d") * (col("d") - 1)) * 10000 + 0.5).cast("long"))
          .otherwise(0L).as("coeff_e4"))
  }
}

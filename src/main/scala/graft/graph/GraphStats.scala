package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Checkpointing.CutOps

/** Whole-graph structural summary statistics: degree assortativity
  * and edge reciprocity. These are the one-row "is this graph
  * hub-attracts-hub or hub-attracts-leaf, and how symmetric is it"
  * cards a link-analysis pipeline checks before trusting a
  * PageRank-style propagation (disassortative + low-reciprocity
  * graphs converge differently from social-style graphs).
  *
  * Scale shape: everything here is two hash-aggregations (the degree
  * tables, O(V)) plus equi-joins of the edge list against them —
  * co-partitioned shuffles with map-side partial aggregation, no
  * windows, no driver-side state. The final reduction is a single
  * global agg row.
  *
  * Float discipline (SURVEY §5): the correlation is computed from
  * exact BIGINT sufficient statistics via the covariance/variance
  * MEAN form (divide-before-multiply) so no intermediate exceeds
  * int64 even on hub-heavy graphs (n·Σxy overflows at ~1e20 on the
  * sf0.1 word graph; Σxy itself does not), then fixed-pointed with
  * the shared floor(x·10⁴ + 0.5) convention.
  */
object GraphStats {

  /** Normalized directed edge set: loop-free, distinct. */
  private def clean(edges: DataFrame): DataFrame =
    edges.filter(col("src") =!= col("dst")).select("src", "dst").distinct()

  /** Directed degree assortativity: Pearson correlation between
    * out-degree(src) and in-degree(dst) across distinct edges.
    * Returns one row: (n_edges, sx, sy, sxy, sxx, syy, assort_fp)
    * where assort_fp = floor(r·10⁴ + 0.5) and the sums are the exact
    * integer sufficient statistics (the auditable part of the card).
    */
  def assortativity(edges: DataFrame): DataFrame = {
    val e = clean(edges)
    val outd = e.groupBy("src").agg(count(lit(1)).as("x"))
    val ind = e.groupBy("dst").agg(count(lit(1)).as("y"))
    val stats = e.join(outd, "src").join(ind, "dst")
      .agg(
        count(lit(1)).as("n_edges"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    // Mean-form moments: each division happens BEFORE any cross
    // product, keeping everything in double range and bit-identical
    // to the oracle's textually-equal expression.
    val n = col("n_edges")
    val mx = col("sx").cast("double") / n
    val my = col("sy").cast("double") / n
    val cov = col("sxy").cast("double") / n - mx * my
    val vx = col("sxx").cast("double") / n - mx * mx
    val vy = col("syy").cast("double") / n - my * my
    stats.select(
      n.as("n_edges"), col("sx"), col("sy"), col("sxy"), col("sxx"),
      col("syy"),
      when(vx > 0 && vy > 0,
        floor(cov / (sqrt(vx) * sqrt(vy)) * 10000 + 0.5).cast("long"))
        .as("assort_fp"))
  }

  /** Newman modularity of a community assignment, per community:
    * contrib_c = e_c/m − (d_c/2m)² over the canonical undirected
    * loop-free edge set (e_c = internal edges, d_c = degree mass,
    * m = total edges); global Q is the sum of contribs. The quality
    * gate for g4's label propagation — near-zero contribs mean the
    * labels are no better than random cuts. Scale shape: the
    * undirected edge set is materialized once (read three times:
    * total, degrees, internal-edge count), everything downstream is
    * equi-joins on node/community keys plus one broadcast one-row
    * total. Isolated or loop-only labeled nodes carry no degree row
    * and drop from the card (inner join) — consistent on both
    * engines.
    *
    * @param labels (node, comm) assignment, e.g.
    *   [[LabelPropagation.communities]]
    * @return (comm, n_nodes, e_in, d_sum, contrib_fp) — contrib
    *   fixed-pointed at 10⁸
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val und = Edges.undirected(edges).lineageCut
    val deg = und.select(col("a").as("n"))
      .union(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val m1 = und.agg(count(lit(1)).as("m"))
    val ein = und
      .join(labels.select(col("node").as("a"), col("comm").as("ca")), "a")
      .join(labels.select(col("node").as("b"), col("comm").as("cb")), "b")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("comm")).agg(count(lit(1)).as("e_in"))
    val ds = labels.join(deg, col("node") === col("n"))
      .groupBy("comm")
      .agg(count(lit(1)).as("n_nodes"), sum("deg").as("d_sum"))
    val half = col("d_sum").cast("double") / (lit(2) * col("m"))
    ds.join(ein, Seq("comm"), "left")
      .crossJoin(broadcast(m1))
      .select(col("comm"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("d_sum"),
        floor((coalesce(col("e_in"), lit(0L)).cast("double") / col("m")
          - half * half) * 100000000 + 0.5).cast("long")
          .as("contrib_fp"))
      .orderBy("comm")
  }

  /** Edge reciprocity: the fraction of directed edges whose reverse
    * edge also exists. One row: (n_edges, n_mutual, recip_fp).
    * The mutual count is a single (src,dst)↔(dst,src) left-semi
    * self-join — both sides shuffle on the composite key once.
    */
  def reciprocity(edges: DataFrame): DataFrame = {
    val e = clean(edges)
    val rev = e.select(col("dst").as("src"), col("src").as("dst"))
    val mutual = e.join(rev, Seq("src", "dst"), "left_semi")
      .agg(count(lit(1)).as("n_mutual"))
    val total = e.agg(count(lit(1)).as("n_edges"))
    total.crossJoin(mutual).select(
      col("n_edges"), col("n_mutual"),
      floor(col("n_mutual").cast("double") / col("n_edges") * 10000 + 0.5)
        .cast("long").as("recip_fp"))
  }
}

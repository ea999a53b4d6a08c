package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Rounds
import graft.operators.Checkpointing.CutOps

/** Community detection by synchronous label propagation (LPA) — the
  * COMMUNITY primitive completing the graph family: centrality
  * (PageRank), grouping (components), clustering (triangles),
  * distance (BFS), communities (this).
  *
  * Per round every vertex adopts the label most frequent among its
  * neighbors, ties to the SMALLEST label — the deterministic
  * synchronous variant (classic async LPA is order-dependent; the
  * sync + min-tie rule makes rounds bit-reproducible against an
  * unrolled SQL oracle, the same determinism trade the d9 components
  * make). A fixed round count keeps the plan linear and the oracle
  * unrollable; real deployments run few rounds anyway (LPA's useful
  * structure appears in 3-5 and oscillation begins after).
  *
  * Scale shape (the PageRank skeleton): symmetric deduped edges are
  * hash-partitioned by `src` ONCE and materialized (eager lineage
  * cut; blocks self-release with the RDD) — only the O(|V|)
  * label table moves per round. The neighbor vote is two partial
  * aggregates per round: count per (node, label), then the argmax as
  * a `max` over the PACKED long `count·2³¹ + (2³¹ − label)` — max
  * picks the highest count, ties the smallest label, and a plain
  * long max keeps BOTH stages in HashAggregate (a struct-max buffer
  * falls back to SortAggregate, adding a per-round sort). The
  * packing is exact because both factors are below 2³¹ by
  * construction: labels are `row_number` ints and a neighbor count
  * is bounded by |V|. No window, no collect.
  *
  * Node names map to dense numeric ids first (a one-time sort of the
  * VOCABULARY — bounded, ≪ corpus — with the id table reused on both
  * edge endpoints and for the final label→name join); numeric labels
  * are what make the argmax a single struct-max instead of a
  * twice-referenced per-round subplan (the 2^iters blowup the d9
  * scaladoc documents).
  */
object LabelPropagation {

  /** The loop statics: `ids` = (node, id) dense ids by sorted name, and
    * `es` = the symmetric deduped edges as (src, dst) ids,
    * src-partitioned; both cut.
    */
  private final class Statics(val ids: DataFrame, val es: DataFrame) {
    def initial: DataFrame = ids.select(col("id"), col("id").as("label"))

    /** (node, comm) for an (id, label) frame. */
    def named(labels: DataFrame): DataFrame =
      labels
        .join(ids.withColumnRenamed("node", "node_name"), "id")
        .join(ids.select(col("id").as("label"),
          col("node").as("comm")), "label")
        .select(col("node_name").as("node"), col("comm"))
  }

  private def statics(edges: DataFrame): Statics = {
    val shufflePartitions =
      edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    // Dense ids by sorted name — the distributed two-pass scheme
    // (per-partition offsets, no single-task sort; see DenseIds).
    val ids = DenseIds.byKey(
        sym.select(col("src").as("node")).distinct(), "node")
      .lineageCut
    val es = sym
      .join(ids.withColumnRenamed("node", "src")
        .withColumnRenamed("id", "sid"), "src")
      .join(ids.withColumnRenamed("node", "dst")
        .withColumnRenamed("id", "did"), "dst")
      .select(col("sid").as("src"), col("did").as("dst"))
      .repartition(shufflePartitions, col("src"))
      .lineageCut
    new Statics(ids, es)
  }

  private val Pack = 2147483648L // 2^31: > any row_number label or count

  /** One synchronous round: every vertex takes its neighbors' most
    * frequent label, ties to the smallest.
    */
  private def vote(es: DataFrame, labels: DataFrame): DataFrame =
    es.join(labels, es("src") === labels("id"))
      .groupBy(es("dst").as("id"), col("label"))
      .agg(count(lit(1)).as("c"))
      .groupBy("id")
      .agg(max(col("c") * Pack + (lit(Pack) - col("label"))).as("m"))
      .select(col("id"), (lit(Pack) - pmod(col("m"), lit(Pack)))
        .as("label"))

  /** @param edges directed (src, dst) name pairs; symmetrized and
    *   deduped internally (votes count each neighbor once)
    * @param iters fixed synchronous rounds
    * @return (node, comm): every vertex with its community's label
    *   name (the name of the vertex whose id the community carries)
    */
  def communities(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val s = statics(edges)
    s.named(Rounds.fixed(s.initial, iters, iters)((l, _) => vote(s.es, l)))
  }

  /** Run synchronous LPA until NO label changes (or `maxIters`) —
    * the convergence twin of [[communities]] (the d9/PageRank
    * pattern: fixed rounds for oracle parity, convergence for real
    * use). Termination is decided by one O(1) driver scalar per
    * round — the count of vertices whose label moved, read off the
    * round's carried `_prev` label. Note plain LPA can OSCILLATE on
    * bipartite-ish structure (2-cycles of label swaps); `maxIters` is
    * the guard, and the returned round count hitting it tells the
    * caller convergence was not reached.
    *
    * Every round is cut, NOT persisted: persist leaves the LOGICAL
    * plan nesting one round deeper each round — on an oscillating
    * graph the maxIters-deep plan OOMs just rendering the SQL-event
    * string. The cut truncates the plan to one round AND self-releases.
    *
    * @return (communities as in [[communities]], rounds run)
    */
  def communitiesUntilStable(edges: DataFrame, maxIters: Int = 50)
      : (DataFrame, Int) = {
    val s = statics(edges)
    val run = Rounds.until(s.initial, maxIters,
        Rounds.Residual(count_if(col("label") =!= col("_prev")), 0)) {
      (l, _) =>
        vote(s.es, l).join(l.select(col("id"), col("label").as("_prev")),
          "id")
    }
    (s.named(run.frame.drop("_prev")), run.rounds)
  }
}

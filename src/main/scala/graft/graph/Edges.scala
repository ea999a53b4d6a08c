package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Checkpointing.CutOps

/** The edge fragments the graph family shares: the canonical
  * undirected edge set, the self-looped edge table a propagation hop
  * joins against, and the min-label hop itself.
  */
private[graph] object Edges {

  /** Canonical loop-free undirected edges (a, b), a < b, distinct,
    * from directed (src, dst).
    */
  def undirected(edges: DataFrame): DataFrame =
    edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  /** `edges` (src, dst) plus one self edge (n, n) per endpoint,
    * hash-partitioned on `key`, the column the hop joins on, and cut.
    * The self edge carries each node's own value into its hop, so
    * "min over self and neighbors" is one join and one aggregate that
    * read the carried table once (the plan stays linear in hops).
    */
  def selfLooped(edges: DataFrame, key: String): DataFrame = {
    val shufflePartitions =
      edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    edges
      .union(edges.select(col("src").as("n"))
        .union(edges.select(col("dst").as("n"))).distinct()
        .select(col("n").as("src"), col("n").as("dst")))
      .repartition(shufflePartitions, col(key))
      .lineageCut
  }

  /** One min-label hop over a [[selfLooped]] table keyed on `src`:
    * label'(v) = min label(u) over u → v. `_prev` is v's pre-hop label,
    * read off its self edge, so [[moved]] needs no join.
    *
    * @param labels (id, label)
    * @return (id, label, _prev)
    */
  def minLabelHop(looped: DataFrame, labels: DataFrame): DataFrame =
    looped.join(labels.select("id", "label"), col("src") === col("id"))
      .groupBy(col("dst").as("id"))
      .agg(min("label").as("label"),
        max(when(col("src") === col("dst"), col("label"))).as("_prev"))

  /** Labels the last [[minLabelHop]] moved. Min-label propagation is
    * monotone, so 0 means a fixpoint; a null `_prev` (no hop ran)
    * counts as moved.
    */
  val moved: Column = count_if(!(col("label") <=> col("_prev")))
}

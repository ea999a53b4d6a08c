package org.apache.spark.sql.graftbridge

import scala.annotation.tailrec

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Partitioning-preserving eager checkpoint — the fix for a stock
  * `Dataset.localCheckpoint`/`checkpoint` behavior under AQE:
  * `LogicalRDD.fromDataset` reads `executedPlan.outputPartitioning`,
  * but with adaptive execution the executed plan is
  * `AdaptiveSparkPlanExec`, which never overrides `SparkPlan`'s
  * default `UnknownPartitioning(0)`. Every checkpointed frame
  * therefore forgets its physical layout, and every downstream
  * join/aggregate keyed the same way pays a fresh Exchange — for the
  * iterative operators (PageRank, k-core, Louvain, truss, the nav
  * builds) that is one redundant shuffle of the loop-invariant side
  * PER ROUND (e.g. 10 edge-set shuffles in a 10-iteration PageRank
  * whose edges were partitioned once by design).
  *
  * This mirrors the stock eager checkpoint exactly — same RDD
  * materialization, same localCheckpoint/reliable-checkpoint split,
  * same rewritten statistics/constraints — but takes partitioning and
  * ordering from the FINAL adaptive plan (available post-execution)
  * and rewrites their attribute references onto the logical output,
  * falling back to stock behavior when the outputs cannot be
  * associated. Results are bit-identical: the declared partitioning
  * is precisely how the executed plan physically placed the rows; only
  * downstream Exchange planning changes.
  *
  * Lives in the `org.apache.spark.sql` tree for the same reason as
  * [[ColumnBridge]]: the pieces (`LogicalRDD`, `Dataset.ofRows`,
  * `AdaptiveSparkPlanExec.finalPhysicalPlan`) are `private[sql]` —
  * the standard extension-library shim pattern.
  */
object CheckpointBridge {

  /** Cuts that could not associate the final plan's output with the
    * logical output and so declared `UnknownPartitioning`, like a stock
    * checkpoint. Each one costs the frame's readers a re-shuffle (about
    * 2x on the wiki pass), so specs pin it at zero for the PageRank
    * paths: a Spark upgrade that changes the association shows there.
    */
  private[graftbridge] val fallbacks =
    new java.util.concurrent.atomic.AtomicLong

  /** True when `df`'s optimized plan is a single scan of an already
    * checkpointed RDD, i.e. `df` is a cut (under at most a no-op
    * projection) and re-cutting it would only copy its blocks.
    */
  def isCheckpointScan(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan match {
      case r: LogicalRDD => r.rdd.isCheckpointed
      case _ => false
    }

  /** The eager cut of `df` with the row count its materializing job
    * already computed.
    */
  def cutPreserving(df: org.apache.spark.sql.DataFrame,
      reliable: Boolean): (org.apache.spark.sql.DataFrame, Long) = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val spark = ds.sparkSession
    val qe = ds.queryExecution
    val physical = qe.executedPlan
    // Stock checkpoint body: execute, defensive-copy the unsafe rows,
    // mark the RDD checkpointed, materialize eagerly.
    val internalRdd = physical.execute().map(_.copy())
    if (reliable) internalRdd.checkpoint() else internalRdd.localCheckpoint()
    val rows = internalRdd.count()

    // Post-execution the adaptive plan is final — THIS is the
    // partitioning the rows physically landed in.
    val finalPlan = physical match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p => p
    }
    @tailrec
    def firstLeaf(p: Partitioning): Partitioning = p match {
      case pc: PartitioningCollection => firstLeaf(pc.partitionings.head)
      case other => other
    }
    val logical = ds.logicalPlan
    val (stats, constraints) =
      LogicalRDD.rewriteStatsAndConstraints(logical, qe.optimizedPlan)
    // Rewrite the final plan's partitioning/ordering expressions onto
    // the logical output attributes the LogicalRDD will expose (AQE
    // stage reuse can swap expression ids mid-plan).
    val (partitioning, ordering) =
      LogicalRDD.buildOutputAssocForRewrite(finalPlan.output,
          logical.output) match {
        case Some(assoc) =>
          val amap = AttributeMap(assoc.toSeq)
          def rewrite(e: Expression): Expression =
            e.transform { case a: Attribute => amap.getOrElse(a, a) }
          val p = firstLeaf(finalPlan.outputPartitioning) match {
            case e: Expression with Partitioning =>
              rewrite(e).asInstanceOf[Partitioning]
            case other => other
          }
          val o = finalPlan.outputOrdering
            .map(so => rewrite(so).asInstanceOf[SortOrder])
          (p, o)
        case None =>
          fallbacks.incrementAndGet()
          (UnknownPartitioning(internalRdd.getNumPartitions),
            Seq.empty[SortOrder])
      }
    (Dataset.ofRows(spark,
      LogicalRDD(logical.output, internalRdd, partitioning, ordering,
        isStreaming = false)(spark, stats, constraints)), rows)
  }
}

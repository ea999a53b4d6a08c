package graft.operators

import org.apache.spark.sql.DataFrame

/** Lineage cuts for the iterative operators (PageRank, connected
  * components, BFS, k-means, the curation funnel): every cut site
  * routes through [[cut]], which picks the materialization mode from
  * one session-level switch.
  *
  *   - Default (`graft.checkpoint.reliable` unset/false):
  *     `localCheckpoint(eager = true)` — blocks live in executor
  *     block managers, zero filesystem traffic. The right call on
  *     local[32] and on clusters where a lost executor is acceptable
  *     grounds to re-run the job: losing an executor loses its
  *     blocks, and the TRUNCATED lineage cannot recompute them.
  *   - Reliable (`spark.conf.set("graft.checkpoint.reliable", true)`
  *     plus `sparkContext.setCheckpointDir(dir)` — HDFS/object-store
  *     in production): `checkpoint(eager = true)` writes each cut to
  *     the checkpoint directory, so executor loss is recoverable at
  *     the cost of a write+read round trip per cut. Measured locally
  *     (sf0.001, tmpfs-backed dir): ~1.4× the localCheckpoint wall
  *     time for the 10-iteration PageRank chain — the price is the
  *     serialize-to-file, and it buys cluster fault tolerance.
  *
  * One knob rather than per-operator parameters so a deployment
  * flips EVERY iterative path at once — a cluster job that needs
  * fault-tolerant PageRank needs the same for the funnel gates
  * feeding it. Results are bit-identical either way (spec-checked in
  * CheckpointingSpec): the mode changes where blocks live, never the
  * plan.
  */
object Checkpointing {

  val ReliableKey = "graft.checkpoint.reliable"

  /** Test-only plan capture: with `graft.debug.capturePlans` set
    * true on the session, every frame passed through [[cut]] records
    * its OPTIMIZED logical plan here before materializing. Eager
    * per-round cuts make iterative operators' round plans invisible
    * to the returned frame's `.explain` (it reads a checkpoint
    * scan); this hook is how PlanShapeSpec pins invariants INSIDE
    * the rounds — e.g. that a filtered walk's predicate sits below
    * the per-round ranking window. Off (the default) it costs one
    * conf lookup per cut.
    */
  val CaptureKey = "graft.debug.capturePlans"
  val capturedPlans =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Chained form: `df.lineageCut` ≡ `Checkpointing.cut(df)`. */
  implicit class CutOps(private val df: DataFrame) extends AnyVal {
    def lineageCut: DataFrame = Checkpointing.cut(df)
  }

  /** [[cut]], unless `df` already reads a cut's blocks: then `df`
    * itself, with no job. For builders handed a frame their caller may
    * have cut already (the wiki pipeline cuts its extracted links once
    * and derives the page set from that cut).
    */
  private[graft] def cutOnce(df: DataFrame): DataFrame =
    if (org.apache.spark.sql.graftbridge.CheckpointBridge
        .isCheckpointScan(df)) df
    else cut(df)

  /** Materialize `df` eagerly and truncate its lineage, in the
    * session-selected mode.
    */
  def cut(df: DataFrame): DataFrame = cutCounted(df)._1

  /** [[cut]] plus the cut's row count, which the materializing job
    * computes anyway: a loop that stops on a row count reads it here
    * instead of running a `count()` job over the cut.
    */
  private[graft] def cutCounted(df: DataFrame): (DataFrame, Long) = {
    val spark = df.sparkSession
    // Bounded at 256: a capture flag left on across a long session
    // must not grow a JVM-global queue without limit (tests clear()
    // before use, so the bound never bites a real pin).
    if (spark.conf.getOption(CaptureKey).exists(_.toBoolean) &&
        capturedPlans.size < 256)
      capturedPlans.add(df.queryExecution.optimizedPlan.toString)
    val reliable =
      spark.conf.getOption(ReliableKey).exists(_.toBoolean)
    // Partitioning-preserving cut (round-17, guide §2.4 — remove
    // shuffles outright): stock Dataset checkpoint under AQE stores
    // UnknownPartitioning into the LogicalRDD (the adaptive root never
    // overrides SparkPlan's default), so every frame cut inside an
    // iterative loop forgot its layout and every round re-shuffled the
    // loop-invariant side. The bridge mirrors stock checkpoint but
    // records the FINAL adaptive plan's partitioning/ordering —
    // results bit-identical, downstream Exchanges on the same key
    // disappear (pr_ranks: 62 → one edge shuffle total).
    if (reliable)
      require(spark.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableKey=true requires sparkContext.setCheckpointDir " +
          "(an HDFS/object-store path on a cluster)")
    org.apache.spark.sql.graftbridge.CheckpointBridge
      .cutPreserving(df, reliable)
  }
}

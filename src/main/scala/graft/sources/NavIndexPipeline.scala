package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** The NAVIGABLE-GRAPH index as FILES — the FreshDiskANN maintenance
  * story end-to-end (build → attach → health → compact → delete →
  * search) against stored parquet artifacts: the [[IndexPipeline]]
  * discipline applied to the e28/e32/e51/e52/e53 operator family, so
  * the graph-ANN path no longer stops at in-memory operators
  * (round-15 verdict item 3).
  *
  * Layout under `<index>/`:
  *
  *   `emb/cell=K/`  — (vec_id, embedding double[]) Hive-partitioned
  *     by trained cell: attach's probed candidate gather and any
  *     cell-scoped maintenance read only their cells' directories
  *     (partition pruning — the IndexPipeline "inverted list IS
  *     directory layout" point), while whole-corpus passes (search's
  *     gather join) scan it like a plain table.
  *   `centroids/`   — (cell, cvec) the trained member-cell centroids.
  *   `graph/`       — (vec_id, rank, nbr_id, sim_e6) the α-pruned
  *     adjacency (e28's shape).
  *   `attach/`      — (vec_id, kind 'fwd'|'back', rank, nbr_id,
  *     sim_e6) the APPEND-ONLY attach history (e32's shape); folded
  *     into `graph/` by [[compact]], which truncates it.
  *   `entries/`     — (cand_id) per-cell medoid walk entries.
  *
  * Maintenance discipline (the FreshDiskANN loop): [[attach]] appends
  * delta lists + backlink debt without touching base lists;
  * [[healthCard]] (e51's card over the stored artifacts) reports the
  * debt/overflow that triggers [[compact]] (e52's overflow-scoped
  * re-prune, which REWRITES `graph/` and empties `attach/`);
  * [[delete]] (e53's consolidate) folds any pending attach history
  * first, then reconnects through tombstones and rewrites every
  * artifact without the deleted nodes. [[search]] (e25's beam walk)
  * reads graph ∪ attach edges, so it serves correctly at ANY point
  * in the loop. Rewrites go through a write-next-then-rename swap —
  * never read-and-overwrite the same directory in one job.
  *
  * SourcesSpec pins each stored step bit-for-bit against its
  * in-memory operator twin and the final chain's search against the
  * same walk over the in-memory graph.
  */
object NavIndexPipeline {

  private val GraphCols = Seq("vec_id", "rank", "nbr_id", "sim_e6")
  private val AttachCols = Seq("vec_id", "kind", "rank", "nbr_id", "sim_e6")

  private def toDouble(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      expr("transform(embedding, v -> cast(v as double))").as("embedding"))

  private def readEmb(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(s"$indexDir/emb")
      .select(col("vec_id"), col("embedding"),
        col("cell").cast("long").as("cell"))

  private def readGraph(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(s"$indexDir/graph").select(GraphCols.map(col): _*)

  private def readAttach(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(s"$indexDir/attach").select(AttachCols.map(col): _*)

  /** Writes (vec_id, embedding, cell) rows into `dir`'s cell
    * directories.
    */
  private def writeEmb(df: DataFrame, dir: String, mode: SaveMode): Unit =
    df.select(col("vec_id"), col("embedding"), col("cell"))
      .repartition(col("cell"))
      .sortWithinPartitions(col("cell"), col("vec_id"))
      .write.mode(mode).partitionBy("cell").parquet(dir)

  /** Swap-in rewrite: `write` to `<dir>.next`, then atomically (at the
    * filesystem's rename granularity) replace `<dir>` — the only safe
    * way to rewrite an artifact a job also READS (Spark cannot
    * overwrite a directory mid-scan), and a failed job never
    * half-deletes the store.
    */
  private def swap(spark: SparkSession, dir: String)(
      write: String => Unit): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    val next = new Path(dir + ".next")
    write(next.toString)
    fs.delete(new Path(dir), true)
    require(fs.rename(next, new Path(dir)),
      s"NavIndexPipeline: rename ${next} -> $dir failed")
  }

  private def swapWrite(spark: SparkSession, df: DataFrame,
      dir: String): Unit =
    swap(spark, dir)(df.write.mode(SaveMode.Overwrite).parquet(_))

  /** Train cells, build the α-pruned navigable graph (e28's exact
    * composition: trainedCells → probed kNN → symmetrize →
    * RobustPrune), write every artifact. Returns the node count.
    */
  def build(spark: SparkSession, embeddings: DataFrame, indexDir: String,
      alpha100: Long = 120, maxDegree: Int = 16, maxCandidates: Int = 32,
      perCell: Int = 250, iters: Int = 3): Long = {
    val tc = Similarity.trainedCells(toDouble(embeddings), perCell, iters)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = tc.count()
    writeEmb(tc, s"$indexDir/emb", SaveMode.Overwrite)
    // One centroid collect (bounded k×dims driver handoff) feeds the
    // stored centroid table, the medoid entries AND the probed-kNN
    // routing kernel — previously three identical per-cell mean
    // aggregation passes over the corpus (round-16 optimization).
    val cents = Similarity.centroidRows(tc, "cell")
    import spark.implicits._
    cents.map { case (c, v) => (c, v.toSeq) }.toDF("cell", "cvec")
      .write.mode(SaveMode.Overwrite).parquet(s"$indexDir/centroids")
    Similarity.cellMedoids(tc, "cell", Some(cents))
      .write.mode(SaveMode.Overwrite).parquet(s"$indexDir/entries")
    Similarity.navigableGraph(tc.select("vec_id", "embedding"),
        Similarity.knnGraphProbed(tc, "cell", k = maxDegree, nprobe = 2,
            sharedCents = Some(cents))
          .select(col("vec_id"), col("nbr_id")),
        alpha100, maxDegree, maxCandidates)
      .write.mode(SaveMode.Overwrite).parquet(s"$indexDir/graph")
    // Empty attach history with the full schema, so readers never
    // special-case a fresh index.
    readGraph(spark, indexDir).limit(0)
      .select(col("vec_id"), lit("fwd").as("kind"), col("rank"),
        col("nbr_id"), col("sim_e6"))
      .write.mode(SaveMode.Overwrite).parquet(s"$indexDir/attach")
    tc.unpersist()
    n
  }

  /** FreshDiskANN INSERT (e32): attach a delta batch against the
    * stored base — delta lists α-pruned, backlink debt appended, base
    * lists untouched (deferred compaction). Delta vectors join
    * `emb/` under their nearest base cell so every later stage
    * covers them. Returns the delta row count.
    */
  def attach(spark: SparkSession, indexDir: String,
      delta: DataFrame, alpha100: Long = 120, maxDegree: Int = 16,
      maxCandidates: Int = 32, nprobe: Int = 2): Long = {
    import graft.functions.NearestCentroidCell.nearest_centroid
    val d = toDouble(delta)
    Similarity.navigableAttach(readEmb(spark, indexDir), d, "cell", alpha100,
        maxDegree, maxCandidates, nprobe)
      .write.mode(SaveMode.Append).parquet(s"$indexDir/attach")
    val dc = d.withColumn("cell", nearest_centroid(col("embedding"),
      Similarity.codebook(
        spark.read.parquet(s"$indexDir/centroids").select("cell", "cvec"))))
    val n = dc.count()
    writeEmb(dc, s"$indexDir/emb", SaveMode.Append)
    n
  }

  /** e51's maintenance card over the STORED artifacts: base node /
    * built edge counts, attach debt, per-node degree overflow vs the
    * cap — the [[compact]] trigger. Base nodes are `emb/` minus the
    * attach history's delta ('fwd') nodes, so the card needs no
    * separate base marker.
    */
  def healthCard(spark: SparkSession, indexDir: String,
      maxDegree: Int = 16): DataFrame = {
    val att = readAttach(spark, indexDir)
    val base = readEmb(spark, indexDir)
      .join(att.filter(col("kind") === "fwd").select("vec_id").distinct(),
        Seq("vec_id"), "left_anti")
    Similarity.navAttachHealth(base, readGraph(spark, indexDir), att,
      maxDegree)
  }

  /** e52's deferred compaction: fold the attach history into the
    * graph (overflow-scoped re-prune; within-cap lists re-ranked,
    * untouched lists byte-identical), rewrite `graph/`, truncate
    * `attach/`. Returns the consolidated edge count.
    */
  def compact(spark: SparkSession, indexDir: String,
      alpha100: Long = 120, maxDegree: Int = 16,
      maxCandidates: Int = 32): Long = {
    val att = readAttach(spark, indexDir)
    val consolidated = Similarity.navCompact(
      readEmb(spark, indexDir).select("vec_id", "embedding"),
      readGraph(spark, indexDir), att, alpha100, maxDegree, maxCandidates)
    swapWrite(spark, consolidated.select(GraphCols.map(col): _*),
      s"$indexDir/graph")
    swapWrite(spark, att.limit(0), s"$indexDir/attach")
    spark.read.parquet(s"$indexDir/graph").count()
  }

  /** e53's DELETE + consolidate: tombstone a node set, reconnect the
    * survivors through each tombstone's out-list, rewrite every
    * artifact without the deleted nodes. Pending attach history is
    * folded first ([[compact]]) — the FreshDiskANN order: delete
    * consolidates, it never coexists with unpaid append debt.
    * Entry medoids that die lose their cell's entry (documented:
    * the next [[build]] re-seeds them). Returns the surviving node
    * count.
    */
  def delete(spark: SparkSession, indexDir: String, tombstones: DataFrame,
      alpha100: Long = 120, maxDegree: Int = 16,
      maxCandidates: Int = 32): Long = {
    if (readAttach(spark, indexDir).limit(1).count() > 0)
      compact(spark, indexDir, alpha100, maxDegree, maxCandidates)
    val del = tombstones.select(col("vec_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    del.count()
    val emb = readEmb(spark, indexDir)
    val after = Similarity.navDelete(emb.select("vec_id", "embedding"),
      readGraph(spark, indexDir), del, alpha100, maxDegree, maxCandidates)
    swapWrite(spark, after.select(GraphCols.map(col): _*),
      s"$indexDir/graph")
    val kept = emb.join(del, Seq("vec_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = kept.count()
    // emb/ is partitioned (dynamic-overwrite semantics differ by
    // config) — swap the whole tree: read is already materialized by
    // the persist + count above, but the swap still writes to .next
    // first.
    swap(spark, s"$indexDir/emb")(writeEmb(kept, _, SaveMode.Overwrite))
    kept.unpersist()
    swapWrite(spark,
      spark.read.parquet(s"$indexDir/entries")
        .join(del.select(col("vec_id").as("cand_id")), Seq("cand_id"),
          "left_anti"),
      s"$indexDir/entries")
    del.unpersist()
    n
  }

  /** e25's beam walk served from the files: graph ∪ pending attach
    * edges (so a not-yet-compacted index searches correctly), medoid
    * entries, the stored embeddings. Output is
    * [[Similarity.graphBeamSearch]]'s (query_id, rank, cand_id, sim).
    */
  def search(spark: SparkSession, indexDir: String, queries: DataFrame,
      beamWidth: Int = 16, rounds: Int = 4): DataFrame = {
    val att = readAttach(spark, indexDir)
    val edges = readGraph(spark, indexDir).select("vec_id", "nbr_id")
      .union(att.select("vec_id", "nbr_id"))
      .distinct()
    Similarity.graphBeamSearch(
      readEmb(spark, indexDir).select("vec_id", "embedding"),
      toDouble(queries), edges,
      spark.read.parquet(s"$indexDir/entries"),
      beamWidth, rounds)
  }
}

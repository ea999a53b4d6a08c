package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.NearestCentroidCell.nearest_centroid
import graft.functions.TopKByScore.top_k_by_score
import graft.operators.{KMeans, Similarity}

/** The ANN index as FILES — build and serve the e17 layout
  * (IVF routing + SQ8 codes) against an on-disk index, the way a
  * production vector store actually deploys it:
  *
  *   `<index>/centroids/` — the k learned float centroids;
  *   `<index>/codes/cell=K/` — each cell's vectors as SQ8 rows
  *     (int8 codes + integer norm, 65 bytes per 64-dim vector),
  *     Hive-partitioned BY CELL.
  *
  * The cell partitioning is the point: an inverted list on disk IS
  * directory layout, so a probe reads only its assigned cells'
  * directories — [[search]] pins this as partition pruning
  * (`PartitionFilters` on `cell`), the file-level analog of "the
  * corpus never shuffles". Build is one training run + one map-side
  * encode pass; search is centroid routing + a pruned scan + the
  * bounded-heap top-k.
  *
  * Every step routes by the ANN family's one rule: the stored
  * centroids come back through [[Similarity.codebook]] (the bounded
  * driver handoff, the e7 class), build and append assign each vector
  * its nearest cell with the compiled nearest-centroid kernel, and
  * search sends each query to its top-`nprobe` cells by
  * (cosine DESC, cell ASC) through [[Similarity.probeRows]].
  */
object IndexPipeline {

  /** Train + encode + write. Returns the learned cell count. */
  def build(spark: SparkSession, embeddings: DataFrame, indexDir: String,
      k: Int = 8, iters: Int = 3): Int = {
    val embD = doubles(embeddings)
    val cent = KMeans.train(embD, k, iters)
    cent.write.mode(SaveMode.Overwrite).parquet(s"$indexDir/centroids")
    val cents = collectCentroids(spark, indexDir)
    writeCodes(codes(embD, cents), indexDir, SaveMode.Overwrite)
    cents.length
  }

  /** (vec_id, embedding as double[]) — KMeans' centroid handoff
    * requires double vectors; parquet embeddings arrive as float (the
    * e7 cast precedent).
    */
  private def doubles(vectors: DataFrame): DataFrame =
    vectors.select(col("vec_id"),
      expr("transform(embedding, v -> cast(v as double))").as("embedding"))

  /** Each vector's SQ8 code row under its nearest stored cell; zero
    * vectors drop.
    */
  private def codes(embD: DataFrame,
      cents: Seq[(Long, Array[Double])]): DataFrame =
    Similarity.sq8Quantize(embD.withColumn("cell",
        nearest_centroid(col("embedding"), cents)))
      .filter(col("sq") > 0)

  private def writeCodes(codes: DataFrame, indexDir: String,
      mode: SaveMode): Unit =
    codes.repartition(col("cell"))
      .sortWithinPartitions(col("cell"), col("vec_id"))
      .write.mode(mode).partitionBy("cell").parquet(s"$indexDir/codes")

  /** Incremental MAINTENANCE: encode new vectors against the
    * EXISTING centroids (no retrain — the standard IVF maintenance
    * story: cells drift only when the corpus distribution does, at
    * which point [[build]] re-trains) and append them to their cell
    * directories. Dynamic partition overwrite is NOT used — appends
    * accumulate; readers see whole cells either way. Returns the
    * appended row count.
    */
  def append(spark: SparkSession, indexDir: String,
      vectors: DataFrame): Long = {
    val rows = codes(doubles(vectors), collectCentroids(spark, indexDir))
    val n = rows.count()
    writeCodes(rows, indexDir, SaveMode.Append)
    n
  }

  /** Health card of the ON-DISK index ([[Similarity.ivfHealthCard]]
    * over the stored layout): per-cell list length, fill factor and
    * centroid drift — the retrain trigger [[append]]'s no-retrain
    * contract requires monitoring. The stored rows are int8 codes
    * (the raw floats are gone by design); cosine is scale-invariant
    * per vector, so the q-code direction stands in for the embedding
    * and the drift of the code-mean off the stored centroid tracks
    * the true drift (SourcesSpec pins that appends from a
    * shifted distribution push it up monotonically). One pruned scan
    * of `codes/` + one cell-key aggregation.
    */
  def healthCard(spark: SparkSession, indexDir: String): DataFrame = {
    val cent = spark.read.parquet(s"$indexDir/centroids")
      .select(col("cell").cast("long").as("cell"), col("cvec"))
    val rows = spark.read.parquet(s"$indexDir/codes")
      .select(col("cell").cast("long").as("cell"),
        expr("transform(q, x -> cast(x as double))").as("embedding"))
    Similarity.ivfHealthCard(rows, cent)
  }

  /** k-row centroid handoff (bounded, the e7/KMeans class). */
  private def collectCentroids(spark: SparkSession,
      indexDir: String): Seq[(Long, Array[Double])] =
    Similarity.codebook(
      spark.read.parquet(s"$indexDir/centroids").select("cell", "cvec"))

  /** Serve a query batch against the built index: route each query
    * to its `nprobe` nearest centroids MAP-SIDE through the compiled
    * nearest-cells kernel (the knnGraphProbed routing; bounded by k,
    * never corpus rows, no exchange) —
    * scan ONLY the assigned cells' code directories (static partition
    * pruning from the bounded probe-cell set), score int8, rank via
    * the bounded heap. nprobe > 1 closes the cell-boundary recall
    * loss exactly as e5/e9 do in memory — same knob, now against
    * files.
    *
    * EVERY input query gets at least one output row: results are
    * left-joined back onto the query set, so a query with no
    * surviving candidates (all-zero quantization, or all probed
    * cells empty) surfaces as an explicit (query_id, null, null,
    * null, null) row — the e13/e18 evaluation contract — instead of
    * silently vanishing.
    *
    * @return (query_id, cell, rank, cand_id, sim_e6); `cell` is the
    *   probed cell the winning candidate lives in; all four
    *   result columns are null for a query with no neighbors
    */
  def search(spark: SparkSession, indexDir: String, queries: DataFrame,
      topK: Int, nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val assigned = Similarity.probeRows(
      doubles(queries).withColumnRenamed("vec_id", "query_id"), "embedding",
      collectCentroids(spark, indexDir), nprobe, LongType, "cell")
    val probes = Similarity.sq8Quantize(assigned)
      .filter(col("sq") > 0)
      .select(col("query_id"), col("cell"), col("q").as("qq"),
        col("sq").as("qsq"))
    val cells = probes.select("cell").distinct()
      .collect().map(_.getLong(0)).toSeq // bounded by the probe batch
    val codes = spark.read.parquet(s"$indexDir/codes")
      .filter(col("cell").isin(cells: _*))
    val ranked = codes.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("cell").cast("long").as("tag"),
        col("vec_id").as("cand_id"),
        (expr("aggregate(zip_with(q, qq, (x, y) -> x * y), " +
          "CAST(0 AS BIGINT), (a, x) -> a + x)").cast("double")
          / (sqrt(col("sq").cast("double"))
            * sqrt(col("qsq").cast("double")))).as("sim"))
      .groupBy("query_id")
      .agg(top_k_by_score(col("sim"), col("cand_id"), col("tag"), topK)
        .as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "s")))
      .select(col("query_id"), col("s.tag").cast("long").as("cell"),
        (col("pos") + 1).cast("long").as("rank"),
        col("s.cand_id").as("cand_id"),
        floor(col("s.sim") * 1000000 + 0.5).cast("long").as("sim_e6"))
    queries.select(col("vec_id").as("query_id"))
      .join(ranked, Seq("query_id"), "left")
  }
}

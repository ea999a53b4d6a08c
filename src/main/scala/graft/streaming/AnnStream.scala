package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.NearestCentroidCell.nearest_centroid
import graft.functions.CosineSimilarity.cosine_sim
import graft.functions.TopKByScore.top_k_by_score
import graft.operators.Similarity

/** Streaming ANN: top-k cosine search for embedding vectors AS THEY
  * ARRIVE, against a static IVF-indexed corpus — the online
  * counterpart of the e4/e8 batch probe (ingest-time near-dup
  * lookup, retrieval against a fixed index).
  *
  * Why this shape streams well:
  *   - Cell assignment is the compiled [[nearest_centroid]] kernel
  *     with the bounded centroid matrix baked in — pure map-side
  *     generated code, so the stream side needs NO state and no
  *     shuffle to find its probe cell.
  *   - Candidate generation is a stream-static equi-join on the cell
  *     key (stateless; the corpus cell table is the maintained index
  *     a real pipeline keeps bucketed on disk).
  *   - Ranking is the bounded-heap [[top_k_by_score]] aggregate over
  *     (query, arrival window): per-key state is the k-sized heap,
  *     grouped on the watermarked window so state is reclaimed once
  *     the watermark passes — O(active queries × k), not O(stream).
  *
  * @param queries streaming (vec_id, ingest_ts, embedding)
  * @param corpusWithCells static (vec_id, embedding, cell) — e.g.
  *   `KMeans.withCells(corpus, centroids)`, the persisted index
  * @param centroids static (cell, cvec) — the trained cells
  * @param k neighbors per query
  * @param watermark how late a query batch may straggle before its
  *   window's heap state is finalized and reclaimed
  * @return streaming (query_id, rank, cand_id, sim) in append mode
  *   once each window closes
  */
object AnnStream {

  /** Ingest-time product-quantization encode — e11's storage step as
    * a stream: arriving vectors become M subspace codes via the
    * compiled nearest-centroid kernel per subspace with the bounded
    * codebooks baked in. Pure map-side generated code — stateless,
    * no shuffle, no watermark; the output (4 longs per vector
    * instead of the raw embedding) is what a streaming pipeline
    * appends to the compressed index the e11 ADC search reads. The
    * BATCH fold (operators.Similarity.pqQuantize) runs unchanged.
    *
    * @param vectors streaming (vec_id, embedding) — double array
    * @param books per-subspace (cell, centroid) codebooks, subspace
    *   order; subspace m covers dims [m·subDims, (m+1)·subDims)
    */
  def pqEncode(vectors: DataFrame,
      books: Seq[Seq[(Long, Array[Double])]], subDims: Int): DataFrame =
    Similarity.pqQuantize(vectors.select(col("vec_id"), col("embedding")),
      "embedding", books, subDims).drop("embedding")

  /** Ingest-time SQ8 scalar quantization — e16's int8 storage layout
    * produced as vectors ARRIVE: per-vector codes + exact integer
    * code norm, the raw embedding dropped at the edge (65 bytes
    * stored per 64-dim vector instead of 512 — what keeps a
    * continuously-ingested corpus index in memory). Stateless
    * map-side pass, so the BATCH definition
    * (operators.Similarity.sq8Quantize) runs unchanged in
    * append-mode streams — parity asserted in AnnStreamSpec.
    */
  def sq8Encode(vectors: DataFrame): DataFrame =
    Similarity.sq8Quantize(vectors)

  /** Ingest-time BINARY quantization — e37's sign-code layout
    * produced as vectors ARRIVE: two 32-bit sign words per vector,
    * the raw embedding dropped at the edge (8 bytes stored per
    * 64-dim vector — the Hamming-scan tier of a continuously
    * ingested index). Stateless map-side pass, so the BATCH
    * definition (operators.Similarity.bqQuantize) runs unchanged in
    * append-mode streams — parity asserted in AnnStreamSpec.
    */
  def bqEncode(vectors: DataFrame): DataFrame =
    Similarity.bqQuantize(vectors)

  def probeTopK(queries: DataFrame, corpusWithCells: DataFrame,
      centroids: DataFrame, k: Int, watermark: String = "1 hour",
      windowLen: String = "1 hour"): DataFrame = {
    val cents = Similarity.codebook(centroids.select("cell", "cvec"))
    val assigned = queries.select(col("vec_id").as("query_id"),
      col("ingest_ts"), col("embedding").as("query_emb"),
      nearest_centroid(col("embedding"), cents).as("cell"))
    val cand = corpusWithCells.select(col("cell"),
      col("vec_id").as("cand_id"), col("embedding").as("cand_emb"))
    assigned
      .withWatermark("ingest_ts", watermark)
      .join(cand, Seq("cell"))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("sim", cosine_sim(col("query_emb"), col("cand_emb")))
      .groupBy(window(col("ingest_ts"), windowLen), col("query_id"))
      .agg(top_k_by_score(col("sim"), col("cand_id"), lit(0L), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "s")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("s.cand_id").as("cand_id"), round(col("s.sim"), 6).as("sim"))
  }
}

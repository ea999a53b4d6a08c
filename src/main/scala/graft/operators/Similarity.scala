package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

import graft.functions.CosineSimilarity.cosine_sim
import graft.functions.NearestCentroidCell.{nearest_cells, nearest_cells_routed, nearest_centroid}
import graft.functions.TextHashExprs.{embed_simhash, embed_simhash2}
import graft.functions.TopKByScore.top_k_by_score

/** Similarity search over an embedding column (array<float>).
  *
  * Two paths, mirroring IVF practice:
  *   - [[bruteForceTopK]]: the correctness baseline — broadcast the
  *     (small) query set against every candidate row; the cosine is
  *     the native codegen'd CosineSimilarity expression, so the
  *     N×Q scoring loop never leaves generated code. Linear in the
  *     corpus, no shuffle except the final per-query top-k.
  *   - [[clusterBlockedPairs]]: the scale path — restrict pair
  *     search to rows sharing a cluster key (IVF cell). The
  *     self-join is a co-partitioned equi-join on the cluster key,
  *     pruning the O(n²) cross-cluster space entirely.
  *   - [[centroids]]: the IVF training step — per-cluster mean
  *     vector via posexplode + (label, dim) aggregation, shuffling
  *     one (row, dim) pair per element with map-side partial sums.
  *
  * One routing rule: every site that sends a vector to cells (IVF
  * probes, the probed and routed kNN graphs, nav-graph attach, the
  * on-disk index) collects its bounded (cell, centroid) table once
  * through [[codebook]] and routes through the compiled
  * nearest-cells kernels ([[probeRows]]): the top-`nprobe` cells by
  * (cosine DESC, cell ASC), the oracle's order. The kNN graphs share
  * one body ([[knnOver]]) and differ only in which cells a vector
  * probes; the nav-graph paths share the candidate bound
  * ([[topCandidates]]), the α-prune and the fwd/back link rows.
  */
object Similarity {

  /** Top-k cosine neighbors for each query row.
    * @param emb (id, embedding) corpus
    * @param queries (id, embedding) query rows — must be small
    *   enough to broadcast (the 10-query driver case; at scale,
    *   batches of queries stream through this same plan).
    */
  def bruteForceTopK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = emb.select(col("vec_id").as("cand_id"),
      col("embedding").as("cand_emb"))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("query_emb"))
    val scored = c.join(broadcast(q), col("cand_id") =!= col("query_id"))
      .withColumn("sim", cosine_sim(col("query_emb"), col("cand_emb")))
    // Per-partition bounded-heap top-k (map-side partial agg) instead
    // of a row_number window: a window would shuffle all N×Q scored
    // rows into Q partitions and sort the full corpus per query. The
    // aggregate ships ≤ partitions×k candidates per query; the merge
    // is k-sized. Same (sim DESC, cand_id ASC) order.
    scored.groupBy("query_id")
      .agg(top_k_by_score(col("sim"), col("cand_id"), lit(0L), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "s")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("s.cand_id").as("cand_id"), round(col("s.sim"), 6).as("sim"))
  }

  /** Embedding-cosine near-dup pairs via random-hyperplane LSH: the
    * label-free dedup path (e2 needs given cluster labels; this
    * derives its own buckets from the vectors). Each row gets a
    * 64-bit sign-of-dot signature over deterministic ±1 hyperplanes
    * (compiled kernel, codegen'd); the signature splits into bands
    * and candidates come from the co-partitioned band bucket join:
    * near-parallel vectors agree on (almost) all sign bits, so they
    * collide in some band, while the O(n²) cross space never
    * materializes. Candidates are then verified with exact codegen'd
    * cosine ≥ `minCos`.
    *
    * The band width is SCALE-ADAPTIVE (the standard LSH tuning; the
    * round-12 sf1.0 record measured the fixed 8-bit layout at 15.7×
    * wall-time on 10× data — expected collision pairs grow
    * ~bands·n²/2^width, so a fixed width is quadratic in the corpus):
    * below [[graft.functions.TextHash.EmbedBandWidenN]] rows the
    * signature splits 8×8 bits (256 bucket values per band — enough
    * selectivity for small corpora, and maximal recall); at or above
    * it, 4×16 bits (65,536 values per band, collision mass /256 per
    * band at half the bands); at or above
    * [[graft.functions.TextHash.EmbedBandWiden2N]] the signature
    * grows a SECOND 64-plane word (planes 64-127) and bands become
    * 4×32 bits across the 128-bit signature — collision mass /2^16
    * again, because past ~10⁶ rows wider slices of ONE word run out
    * (16-bit buckets hold ~n/65536 rows each and the band self-join
    * re-quadratizes; the fix is more hyperplanes, not wider slices).
    * The decision rides IN-PLAN as a one-row broadcast aggregate over
    * the signature table — no driver action — and the SQL oracle
    * mirrors the same CASE over count(*). The second word's kernel
    * cost is paid only on the wide tier: it sits under a lazy
    * CaseWhen branch, so smaller corpora never evaluate it. Recall
    * note: a near-dup pair at cosine ≥ 0.99 differs in ~0-4 sign
    * bits of 128; the 4×32 layout GUARANTEES a clean band up to 3
    * flips (pigeonhole) and loses one only when 4+ flips land in 4
    * distinct bands — a probabilistic tail the narrow tiers don't
    * have, the standard price of every LSH width step.
    *
    * The signature table is persisted because the returned plan reads
    * it three times (banding + both verify sides); the caller owns the
    * cache lifetime after materializing (see [[Dedup]]'s cache note).
    *
    * @param emb (vec_id, embedding array<double>)
    */
  def embedNearDupPairs(emb: DataFrame, minCos: Double): DataFrame =
    embedNearDupPairs(emb, minCos,
      widenAt = graft.functions.TextHash.EmbedBandWidenN,
      widen2At = graft.functions.TextHash.EmbedBandWiden2N)

  /** Threshold-parameterized variant: specs force each band tier on
    * small fixtures; production callers take the published defaults.
    */
  def embedNearDupPairs(emb: DataFrame, minCos: Double,
      widenAt: Long, widen2At: Long): DataFrame = {
    val sig = emb.select(col("vec_id"), col("embedding"),
      embed_simhash(col("embedding")).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val params = sig.agg(count(lit(1)).as("n"))
      .select(when(col("n") >= widen2At, lit(32))
        .when(col("n") >= widenAt, lit(16))
        .otherwise(lit(8)).as("w"))
    val banded = sig.crossJoin(broadcast(params))
      // The second signature word evaluates ONLY on the 32-bit tier
      // (CaseWhen branches are lazy in codegen), so the narrow tiers
      // keep the one-kernel cost and the one-word signature
      // bit-for-bit.
      .select(col("vec_id"), col("sig"), col("w"),
        when(col("w") === 32, embed_simhash2(col("embedding")))
          .otherwise(lit(0L)).as("sig2"))
      .select(col("vec_id"),
        posexplode(expr(
          "CASE WHEN w <= 16 THEN " +
            "transform(sequence(0, (64 div w) - 1), " +
            "b -> shiftright(sig, b * w) & " +
            "(shiftleft(CAST(1 AS BIGINT), w) - 1)) " +
            "ELSE transform(sequence(0, 3), " +
            "b -> shiftright(element_at(array(sig, sig2), " +
            "CAST((b div 2) + 1 AS INT)), " +
            "CAST((b % 2) * 32 AS INT)) & 4294967295) END"))
          .as(Seq("band", "bits")))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bits") === col("b.bits") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
      .distinct()
    cand
      .join(sig.select(col("vec_id").as("va"), col("embedding").as("ea")), "va")
      .join(sig.select(col("vec_id").as("vb"), col("embedding").as("eb")), "vb")
      .withColumn("cos", cosine_sim(col("ea"), col("eb")))
      .filter(col("cos") >= minCos)
      // e6-scaled integer output per the §5 parity protocol.
      .select(col("va"), col("vb"),
        floor(col("cos") * 1000000 + 0.5).cast("long").as("cos_e6"))
  }

  /** All same-cluster pairs with cosine ≥ `minSim`. The equi-join on
    * `labelCol` co-partitions both sides; AQE splits skewed cells.
    */
  def clusterBlockedPairs(emb: DataFrame, labelCol: String,
      minSim: Double): DataFrame = {
    val a = emb.select(col(labelCol).as("label"), col("vec_id").as("va"),
      col("embedding").as("ea"))
    val b = emb.select(col(labelCol).as("label"), col("vec_id").as("vb"),
      col("embedding").as("eb"))
    a.join(b, Seq("label"))
      .filter(col("va") < col("vb"))
      .withColumn("sim", cosine_sim(col("ea"), col("eb")))
      .filter(col("sim") >= minSim)
      .select(col("label"), col("va"), col("vb"),
        round(col("sim"), 6).as("sim"))
  }

  /** ε-neighborhood (range) search: per-query COUNT of candidates
    * within cosine `minSim`, plus the best match — the radius twin
    * of [[bruteForceTopK]] (top-k fixes the result size and lets the
    * radius float; range search fixes the radius and lets the size
    * float — the primitive behind density estimation and
    * duplicate-rate audits). Queries with an EMPTY neighborhood
    * surface as explicit zero rows via the left join back onto the
    * query set — the e13/e18 evaluation contract, so callers can
    * distinguish "no neighbors" from "query dropped".
    *
    * Scale shape: broadcast query batch against the corpus scan with
    * the codegen'd cosine in the join condition's filter — candidates
    * never shuffle; the per-query (count, max) partial-aggregates
    * map-side, so the exchange carries Q rows per partition at most.
    */
  def rangeSearch(emb: DataFrame, queries: DataFrame,
      minSim: Double): DataFrame = {
    val c = emb.select(col("vec_id").as("cand_id"),
      col("embedding").as("cand_emb"))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("query_emb"))
    val hits = c.join(broadcast(q), col("cand_id") =!= col("query_id"))
      .withColumn("sim", cosine_sim(col("query_emb"), col("cand_emb")))
      .filter(col("sim") >= minSim)
      .groupBy("query_id")
      .agg(count(lit(1)).as("n"), max("sim").as("ms"))
    q.select("query_id").join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n"), lit(0L)).as("n_in_range"),
        round(col("ms"), 6).as("max_sim"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023): within each
    * cluster, a vector is REMOVED when the cluster holds a
    * smaller-id vector with cosine ≥ `minSim`; `dup_of` is the
    * smallest such id (the kept representative it collapses into).
    * Clustering confines the O(n²) pair scan to cluster-sized blocks
    * — the same equi-join co-partitioning as `clusterBlockedPairs`,
    * so at corpus scale no all-pairs work exists and AQE splits any
    * skewed cell. The min-id survivor rule mirrors the text-side
    * dedup family (d1/d23): deterministic, order-independent.
    *
    * @return (label, vec_id, dup_of) — the removal list; survivors
    *   are the complement (an anti-join callers compose when they
    *   want the kept set, exactly like d23 over d3).
    */
  def semDedup(emb: DataFrame, labelCol: String,
      minSim: Double): DataFrame =
    clusterBlockedPairs(emb, labelCol, minSim)
      .groupBy(col("label"), col("vb").as("vec_id"))
      .agg(min("va").as("dup_of"))

  /** Per-cluster centroid: mean of each dimension, rounded to 6
    * decimals. (The rounding is also what makes downstream
    * centroid-based scoring bit-reproducible: engines disagree about
    * float summation order at ~1e-16, the round collapses it.)
    */
  def centroids(emb: DataFrame, labelCol: String): DataFrame =
    emb
      .select(col(labelCol).as("label"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(round(avg(col("v").cast("double")), 6).as("centroid"))

  /** Centroids as ordered vectors: (label, cvec array<double>). */
  def centroidVectors(emb: DataFrame, labelCol: String): DataFrame =
    centroids(emb, labelCol)
      .groupBy("label")
      .agg(expr(
        "transform(array_sort(collect_list(struct(dim, centroid)))," +
          " s -> s.centroid)").as("cvec"))

  /** [[centroidVectors]] collected to the driver — the bounded
    * k×dims scalar handoff (the [[KMeans.train]] collect class,
    * never corpus data). Queries composing [[knnGraphProbed]] with
    * [[cellMedoids]] over the SAME cells should collect this ONCE
    * and pass it to both: each otherwise recomputes the identical
    * per-cell mean aggregation — a full corpus pass apiece.
    */
  def centroidRows(emb: DataFrame,
      labelCol: String): Seq[(Long, Array[Double])] =
    codebook(centroidVectors(emb, labelCol)
      .select(col("label").as(labelCol), col("cvec")))

  /** The family's one driver-side codebook handoff: a bounded
    * two-column (id, vector) table collected as (id as long,
    * vector as doubles) pairs — centroid tables, PQ books and query
    * rows alike. A null id fails naming its column (a kernel cell
    * must be a number).
    */
  private[graft] def codebook(table: DataFrame): Seq[(Long, Array[Double])] = {
    val Array(id, vec) = table.columns
    table.select(col(id).cast("long"), col(vec).cast("array<double>"))
      .collect().map { r =>
        require(!r.isNullAt(0), s"codebook: null `$id` in the (id, vector) table")
        (r.getLong(0), r.getSeq[Double](1).toArray)
      }.toSeq
  }

  /** The ANN family's one cell-routing rule: `frame` with one row per
    * cell its `emb` vector probes — the top `nprobe` by
    * (cosine DESC, cell ASC) from the compiled
    * [[graft.functions.NearestCellsProbed]] kernel — in column `as`,
    * cast back to the label type. A null vector probes no cell. An
    * empty codebook probes nothing: the result is `frame`'s shape
    * with no rows.
    */
  private[graft] def probeRows(frame: DataFrame, emb: String,
      cents: Seq[(Long, Array[Double])], nprobe: Int, labelType: DataType,
      as: String = "label"): DataFrame =
    if (cents.isEmpty) frame.withColumn(as, lit(null).cast(labelType)).limit(0)
    else routeRows(frame, nearest_cells(col(emb), cents, nprobe), labelType, as)

  /** `frame` once per cell of the kernel array `cells`, the cell cast
    * back to `labelType` in column `as`.
    */
  private def routeRows(frame: DataFrame, cells: Column, labelType: DataType,
      as: String = "label"): DataFrame =
    frame.withColumn("_pc", explode(cells))
      .select(frame.columns.map(col) :+ col("_pc").cast(labelType).as(as): _*)

  /** Bulk kNN-graph construction: top-k cosine neighbors for EVERY
    * vector, restricted to its own cluster (IVF cell) — the operator
    * behind dedup graphs and semantic clustering at corpus scale.
    * Unlike [[bruteForceTopK]] (small broadcast query set) this is
    * all-vs-all within cells: a co-partitioned self-equi-join on the
    * cluster key (no O(n²) cross-cell space, AQE splits skewed
    * cells), then the bounded-heap [[top_k_by_score]] partial
    * aggregate per source vector — never a corpus-wide window sort.
    */
  def knnGraph(emb: DataFrame, labelCol: String, k: Int): DataFrame =
    knnOver(emb.select(col(labelCol).as("label"), col("vec_id"),
      col("embedding").as("ea")), emb, labelCol, k)

  /** The one kNN-graph body: `probes` (vec_id, ea, label) — each
    * vector once per cell it searches — equi-joined on the cell with
    * the corpus, self pairs dropped, scored by the codegen'd cosine
    * and ranked by the bounded-heap [[top_k_by_score]].
    */
  private def knnOver(probes: DataFrame, emb: DataFrame, labelCol: String,
      k: Int): DataFrame =
    probes.join(emb.select(col(labelCol).as("label"),
        col("vec_id").as("nbr_id"), col("embedding").as("eb")), Seq("label"))
      .filter(col("vec_id") =!= col("nbr_id"))
      .withColumn("sim", cosine_sim(col("ea"), col("eb")))
      .groupBy("vec_id")
      .agg(top_k_by_score(col("sim"), col("nbr_id"), lit(0L), k).as("tk"))
      .select(col("vec_id"), posexplode(col("tk")).as(Seq("pos", "s")))
      .select(col("vec_id"), (col("pos") + 1).as("rank"),
        col("s.cand_id").as("nbr_id"), round(col("s.sim"), 6).as("sim"))

  /** [[knnOver]] with each vector probing the cells the kernel column
    * `cells(embedding)` lists. An empty codebook `cents` (an empty
    * corpus) short-outs to the empty (vec_id, rank, nbr_id, sim)
    * frame instead of building a kernel.
    */
  private def knnRouted(emb: DataFrame, labelCol: String, k: Int,
      cents: Seq[(Long, Array[Double])])(cells: Column => Column): DataFrame =
    if (cents.isEmpty)
      emb.select(col("vec_id"), lit(1).as("rank"),
        col("vec_id").as("nbr_id"), lit(0.0).as("sim")).limit(0)
    else knnOver(routeRows(emb.select(col("vec_id"), col("embedding").as("ea")),
      cells(col("ea")), emb.schema(labelCol).dataType), emb, labelCol, k)

  /** Multi-probe bulk kNN graph: like [[knnGraph]], but each vector
    * searches its `nprobe` nearest CELLS (by centroid cosine) instead
    * of only the cell it lives in — the fix for IVF's standard
    * cell-boundary recall loss, where a vector sitting near a cell
    * edge silently gets neighbors from the wrong side of the
    * boundary. This is the bulk counterpart of [[ivfProbeTopK]]'s
    * `nprobe` knob (there the query set is small; here every corpus
    * vector is a query).
    *
    * Scale shape: the bounded k×dims centroid table collapses to a
    * DRIVER-side matrix baked into the compiled
    * [[graft.functions.NearestCellsProbed]] kernel (the
    * [[KMeans.assign]] handoff class — O(nlist×dims) scalars, never
    * corpus data): each vector picks its top-`nprobe` cells map-side
    * inside whole-stage codegen, so routing costs ZERO shuffle (never
    * a corpus×nlist exchange) and ZERO per-cell interpreter dispatch.
    * The previous formulation (one broadcast centroid-array row + an
    * interpreted `transform` lambda + a full `array_sort` over nlist
    * structs per row) was the nav-build family's measured super-linear
    * term at sf1→sf10 — nlist ∝ n under [[trainedCells]] makes routing
    * O(n·nlist·dims), and the lambda/struct-sort constant (~10× the
    * cosine arithmetic, recorded in SURVEY.md) turned that into 15–25× per
    * decade; the kernel removes the constant and the per-row sort
    * allocation (bounded nprobe-slot insertion instead).
    * The candidate join then shuffles nprobe probe rows per vector
    * against the corpus keyed on the cell — work is
    * Σ_cell |cell|·(probes landing there) ≈ nprobe·Σ_cell |cell|² —
    * and ranking is the bounded-heap [[top_k_by_score]] partial
    * aggregate. Probed cells are distinct per vector and each
    * candidate lives in exactly one cell, so no pair is scored twice.
    */
  def knnGraphProbed(emb: DataFrame, labelCol: String, k: Int,
      nprobe: Int = 2,
      sharedCents: Option[Seq[(Long, Array[Double])]] = None): DataFrame = {
    val cents = sharedCents.getOrElse(centroidRows(emb, labelCol))
    knnRouted(emb, labelCol, k, cents)(nearest_cells(_, cents, nprobe))
  }

  /** TRAINED-cell substrate for the bulk kNN / graph-ANN build
    * family — the scale fix the fixed-label blocking could not give:
    * blocking [[knnGraphProbed]] on a corpus's FIXED label set makes
    * the in-cell pair space Σ|cell|² grow quadratically (measured
    * 10.6–14.3× per 10× rows on the walk family at sf1), because
    * |cell| = n/nlist grows linearly when nlist is constant. Training
    * k-means cells with nlist ∝ n (k = max(8, ⌈n/perCell⌉), the e6
    * rule — measured sub-linear at two scale steps) holds |cell| ≈
    * `perCell` REGARDLESS of corpus size, so pair work is ~n·perCell
    * — linear. Every walk-family build (e9/e25-e32/e41-e50) routes
    * through this one builder.
    *
    * Returns the input with its trained `cell` column attached
    * (embeddings widened to double — exact float→double widening, so
    * cosine arithmetic is unchanged); all other columns survive, so
    * filtered-search predicates (e.g. e41's label parity) still see
    * their columns. The count and the k×dims centroid handoff are the
    * [[KMeans]] bounded driver scalars; assignment is the compiled
    * map-side kernel — zero shuffle. At 100 TB, train on a hash
    * sample ([[Sampling]]) exactly as e10 exercises, and assign the
    * full corpus map-side.
    */
  def trainedCells(emb: DataFrame, perCell: Int = 250,
      iters: Int = 3): DataFrame = {
    require(perCell >= 1, s"perCell must be >= 1, got $perCell")
    val e2 = emb.withColumn("embedding",
      expr("transform(embedding, v -> cast(v as double))"))
    // One corpus pass, not two: the sizing count() runs on the SAME
    // persisted frame train iterates over (previously count scanned
    // the input, then train filled its own cache with a second full
    // scan). Release-on-return: the returned frame references only
    // e2's lineage and the localCheckpointed k-row centroid table.
    val corpus = e2.select("vec_id", "embedding")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // toIntExact: at 100 TB-corpus counts beyond ~2^31·perCell the
      // Long→Int narrowing would otherwise wrap NEGATIVE and feed a
      // nonsense k into KMeans.train — fail loudly and point the
      // caller at the documented hash-sample training path instead.
      val k = Math.toIntExact(
        math.max(8L, (corpus.count() + perCell - 1) / perCell))
      KMeans.withCells(e2, KMeans.trainCached(corpus, k, iters))
    } finally corpus.unpersist()
  }

  /** TWO-LEVEL ROUTED bulk kNN graph — the sf100+ routing path
    * (e54): [[knnGraphProbed]]'s compiled flat routing is
    * O(n·nlist·dims) with nlist ∝ n under [[trainedCells]] —
    * quadratic in principle, compiled-constant small at sf10 but the
    * dominant term again a decade or two up. This variant k-means
    * the FINE CENTROID TABLE itself into ~√(2·nlist) coarse groups
    * (both driver-side bounded — nlist rows, the [[KMeans.train]]
    * handoff class) and routes each corpus vector through the
    * compiled [[graft.functions.NearestCellsRouted]] kernel: score
    * the coarse centroids, take the top `cprobe` groups, then score
    * only THOSE groups' fine cells for the top `nprobe` —
    * O(n·√nlist·dims) routing, zero shuffle, map-side codegen.
    *
    * The approximation this buys (the standard IVF-HNSW hierarchy
    * trade): a fine cell whose coarse group is not selected cannot
    * be probed even when it is the true 2nd-nearest — e55 carries
    * the oracle-checked recall gate against [[knnGraphProbed]]'s
    * exact routing, per the engine's every-approximate-axis rule.
    * Candidate scoring, heap ranking and output shape are identical
    * to [[knnGraphProbed]].
    *
    * Tie rules (the oracle states them): coarse top-`cprobe` by
    * (cos DESC, coarse cell ASC); fine top-`nprobe` by
    * (cos DESC, fine cell ASC) across the selected groups' union.
    */
  def knnGraphRouted(emb: DataFrame, labelCol: String, k: Int,
      cprobe: Int = 2, nprobe: Int = 2, coarseIters: Int = 2): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val fine = centroidRows(emb, labelCol)
    knnRouted(emb, labelCol, k, fine) { ea =>
      // Coarse k-means over the fine-centroid table (vec_id = fine
      // cell): deterministic hash seeds + fixed rounds, so the oracle
      // replays it with the shared kmeansCtes mirror.
      val ncoarse = math.max(1,
        math.ceil(math.sqrt(2.0 * fine.length)).toInt)
      val mcDF = fine.map { case (c, v) => (c, v.toSeq) }
        .toDF("vec_id", "embedding")
      val coarseDF = KMeans.train(mcDF, ncoarse, coarseIters)
      val owner = KMeans.assign(mcDF, coarseDF)
        .select(col("vec_id"), col("cell").cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      nearest_cells_routed(ea, codebook(coarseDF), fine, owner, cprobe,
        nprobe)
    }
  }

  /** IVF query path: assign each query to its `nprobe` nearest
    * centroids, then brute-force top-k over the UNION of those cells
    * only. The bounded centroid table is collected once
    * ([[centroidRows]]) and each query routes map-side through the
    * nearest-cells kernel ([[probeRows]]); the routed queries
    * broadcast — the corpus never shuffles, and scoring touches the
    * probed cells' partition slices per query instead of the full
    * corpus.
    *
    * The candidate ranking is the bounded-heap [[top_k_by_score]]
    * partial aggregate, not a corpus-wide window sort. Each corpus
    * vector lives in exactly one cell, so probed candidate sets are
    * disjoint and rank spans cells without dedup.
    *
    * `candidatePred` is the FILTERED-search composition (predicate +
    * ANN in one query, the production retrieval shape): the metadata
    * predicate applies to candidates INSIDE the routed cell scan —
    * below the cell join, before the scoring kernel — so excluded
    * rows never reach the cosine and the heap still returns exactly
    * k eligible results per query. Routing stays on the FULL
    * corpus's centroids (the index is built once; filters vary per
    * query). Post-filtering an unfiltered top-k would silently
    * under-return — the classic filtered-ANN bug e23 pins on the
    * brute-force path.
    */
  def ivfProbeTopK(emb: DataFrame, queries: DataFrame, labelCol: String,
      k: Int, nprobe: Int = 1,
      candidatePred: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    val assigned = probeRows(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("query_emb")), "query_emb",
      centroidRows(emb, labelCol), nprobe, emb.schema(labelCol).dataType)
    val cand = candidatePred.foldLeft(emb)(_ filter _)
      .select(col(labelCol).as("label"),
        col("vec_id").as("cand_id"), col("embedding").as("cand_emb"))
    cand.join(broadcast(assigned),
        cand("label") === assigned("label") &&
          col("cand_id") =!= col("query_id"))
      .withColumn("sim", cosine_sim(col("query_emb"), col("cand_emb")))
      .select(col("query_id"), col("sim"), col("cand_id"),
        cand("label").cast("long").as("tag"))
      .groupBy("query_id")
      .agg(top_k_by_score(col("sim"), col("cand_id"), col("tag"), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "s")))
      .select(col("query_id"), col("s.tag").cast("int").as("label"),
        (col("pos") + 1).as("rank"), col("s.cand_id").as("cand_id"),
        round(col("s.sim"), 6).as("sim"))
  }

  /** One representative per cell: the vector most cosine-similar to
    * its own cell centroid (ties to the smallest vec_id) — the
    * [[graphBeamSearch]] entry list. The per-cell argmax is a window
    * over each cell's rows against the one broadcast centroid table;
    * output is O(nlist).
    */
  def cellMedoids(emb: DataFrame, labelCol: String,
      sharedCents: Option[Seq[(Long, Array[Double])]] = None): DataFrame = {
    // With shared rows the broadcast side is a k-row local relation
    // (the same rounded per-cell means [[centroidRows]] collected) —
    // the whole per-cell mean aggregation subtree disappears from
    // the plan, saving the second corpus pass a walk query otherwise
    // pays on top of [[knnGraphProbed]]'s identical collect.
    val cent = sharedCents match {
      case Some(cs) =>
        val spark = emb.sparkSession
        import spark.implicits._
        cs.map { case (l, v) => (l, v.toSeq) }.toDF("_clabel", "cvec")
      case None => centroidVectors(emb, labelCol)
        .select(col("label").as("_clabel"), col("cvec"))
    }
    // Per-cell argmax via the bounded-heap aggregate (k=1), NOT a
    // row_number window: a window would sort the full corpus per
    // cell; the heap partial-aggregates map-side with O(1) state and
    // the same (sim DESC, vec_id ASC) tie-break.
    emb.select(col(labelCol).as("_elabel"), col("vec_id"),
        col("embedding"))
      .join(broadcast(cent), col("_elabel") === col("_clabel"))
      .withColumn("_msim", cosine_sim(col("embedding"), col("cvec")))
      .groupBy("_clabel")
      .agg(top_k_by_score(col("_msim"), col("vec_id"), lit(0L), 1)
        .as("_tk"))
      .select(element_at(col("_tk"), 1)("cand_id").as("cand_id"))
  }

  /** Graph-walk ANN — beam search over a precomputed kNN graph (the
    * HNSW/DiskANN family's search step, batch-shaped): start every
    * query at the caller's entry points, then for `rounds` rounds expand
    * the beam's out-neighbors, score them against the query, and
    * keep the best `beamWidth` — candidates wander toward the
    * query's neighborhood along graph edges instead of scanning
    * cells. Complements the IVF path: IVF prunes by partition,
    * graph search prunes by connectivity (better recall at equal
    * probes on clustered data; needs the graph built once up front).
    *
    * Scale shape (100 TB corpus / bounded beams):
    *   - The graph is hash-partitioned by `vec_id` once and
    *     persisted; each round's expansion joins the O(queries ×
    *     beam) BROADCAST beam against it — the graph never shuffles.
    *   - Scoring gathers candidate vectors by id: the tiny candidate
    *     list broadcasts against the corpus, the cosine runs in the
    *     codegen'd kernel, and the per-query top-beam windows rank
    *     only O(beam × (1 + degree)) rows per query — bounded, never
    *     corpus-wide.
    *   - Beam state across rounds is O(queries × beam) — the walk
    *     frontier, not the corpus.
    * Determinism: every selection orders by (sim DESC, cand_id), so
    * results are exactly reproducible and SQL-oracle-checkable.
    *
    * @param graph (vec_id, nbr_id) out-edges of the navigable graph
    *   (e.g. [[knnGraphProbed]])
    * @param entries (cand_id) walk entry points — [[cellMedoids]] is
    *   the production choice (one well-connected representative per
    *   cell puts a foothold in every region; fixed global entries
    *   strand the walk far from most queries). Must be small — it
    *   broadcasts.
    * @return (query_id, rank, cand_id, sim) — final beam, ranked
    *
    * Plan depth: the beam is referenced TWICE per round (carried into
    * the union AND joined against the graph), so a lazy plan would
    * double every round (~2^rounds copies of the entry subplan — the
    * exact failure mode PageRank's dangling branch documents). Each
    * round's beam is therefore eagerly `lineageCut` — the per-round
    * materialization is O(queries × beamWidth), the walk frontier,
    * never the corpus — so plan depth stays ONE round regardless of
    * `rounds` (PlanShapeSpec pins this).
    *
    * Cache note: the partitioned graph is persisted for the walk and
    * RELEASED before returning (the final beam is already cut, so the
    * returned ranking never re-reads the cache) — the
    * `runUntilConverged` self-release convention; repeated calls
    * cannot accumulate persisted graphs.
    */
  def graphBeamSearch(emb: DataFrame, queries: DataFrame,
      graph: DataFrame, entries: DataFrame, beamWidth: Int,
      rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    beamWalk(emb, queries, graph, entries, beamWidth,
      maxRounds = rounds, untilStable = false)
  }

  /** FILTERED graph-walk ANN — the production filtered-HNSW shape
    * completing the predicate-before-scoring family (e23 proved it
    * on the brute-force scan, e24 on the IVF probe; this is the
    * graph walk): `candidatePred` applies to the CANDIDATE
    * embedding rows BELOW the gather join, so excluded vectors are
    * never scored, never enter a beam, and the walk never routes
    * THROUGH an excluded node — each round's beam is exactly the
    * top `beamWidth` ELIGIBLE candidates. Queries and graph edges
    * are unfiltered (the index is built once, filters vary per
    * query; an eligible beam member may expand along edges that
    * point at ineligible neighbors — those drop at the scoring
    * join). Entry points that fail the predicate drop the same way,
    * so seed entries from cells the predicate can reach.
    *
    * PlanShapeSpec pins the filter position (below the per-round
    * ranking window AND the gather join) via the Checkpointing
    * capture hook; e42 carries the recall gate vs filtered brute
    * force.
    */
  def graphBeamSearchFiltered(emb: DataFrame, queries: DataFrame,
      graph: DataFrame, entries: DataFrame, beamWidth: Int,
      rounds: Int, candidatePred: Column): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    beamWalk(emb, queries, graph, entries, beamWidth,
      maxRounds = rounds, untilStable = false,
      pred = Some(candidatePred))
  }

  /** Convergence twin of [[graphBeamSearch]] — the open-ended form
    * every other iterative operator has (PageRank/HITS/k-means/BFS/
    * LPA/k-core): walk until the kept beam SET stops changing instead
    * of a hardwired round count. Each new beam is the top-`beamWidth`
    * of a candidate pool that includes the previous beam, so the
    * per-query kept set improves monotonically in the (sim DESC,
    * cand_id) order and a fixed point always exists; stability is a
    * round whose cut beam holds exactly the previous beam's rows
    * ([[Rounds.SameRows]]: equal counts, then one O(queries ×
    * beamWidth) `except`). Throws
    * if `maxRounds` passes without stabilizing — callers never get a
    * silently-truncated walk.
    */
  def graphBeamSearchUntilStable(emb: DataFrame, queries: DataFrame,
      graph: DataFrame, entries: DataFrame, beamWidth: Int,
      maxRounds: Int = 64): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    beamWalk(emb, queries, graph, entries, beamWidth,
      maxRounds = maxRounds, untilStable = true)
  }

  private def beamWalk(emb: DataFrame, queries: DataFrame,
      graph: DataFrame, entries: DataFrame, beamWidth: Int,
      maxRounds: Int, untilStable: Boolean,
      pred: Option[Column] = None,
      entriesPerQuery: Boolean = false): DataFrame = {
    import graft.operators.Checkpointing.CutOps
    // Predicate BEFORE scoring (the e23/e24 discipline): the filter
    // sits below the gather join, so ineligible candidates never
    // reach the cosine kernel or the per-query ranking window.
    // Share across rounds via an EVICTABLE persist, not a lineage
    // cut: every round's gather join re-executed this subtree (a
    // full corpus scan+filter per round — rounds+1 passes per walk),
    // but with pred = None this projection is the ENTIRE corpus, and
    // a localCheckpoint would pin O(corpus) blocks non-evictably
    // until the ContextCleaner notices (round-16 advice). persist
    // keeps the 100 TB shape — spillable, evictable (eviction just
    // recomputes a scan+filter), and released in the finally below.
    val e = pred.fold(emb)(emb.filter)
      .select(col("vec_id"), col("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val g = graph.select(col("vec_id"), col("nbr_id"))
      .repartition(col("vec_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Same cut for the (bounded) query projection: it broadcasts
      // into every round's scoring join and would otherwise re-run
      // its corpus scan+filter subtree per round.
      val q = queries.select(col("vec_id").as("query_id"),
        col("embedding").as("qe")).lineageCut
      val w = Window.partitionBy("query_id")
        .orderBy(col("sim").desc, col("cand_id"))
      // gather-by-id + score + keep best `beamWidth` per query
      def score(cands: DataFrame): DataFrame =
        broadcast(cands)
          .join(e.withColumnRenamed("vec_id", "cand_id"), "cand_id")
          .join(broadcast(q), "query_id")
          .withColumn("sim", cosine_sim(col("qe"), col("embedding")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= beamWidth)
          .select(col("query_id"), col("cand_id"), col("sim"))
      // Seed: shared entry set crossed with every query, or (the
      // hierarchical-descent case) a per-query (query_id, cand_id)
      // seed — the previous level's beam — used as-is.
      val seed =
        if (entriesPerQuery) entries.select("query_id", "cand_id")
        else q.select(col("query_id"))
          .crossJoin(entries.select(col("cand_id")))
      val seedBeam = score(seed.filter(col("cand_id") =!= col("query_id")))
      // One round: the beam plus its out-neighbors, rescored, best
      // `beamWidth` kept. It reads the beam twice, so every round is
      // cut.
      def hop(beam: DataFrame, r: Int): DataFrame =
        score(beam.select("query_id", "cand_id")
          .union(broadcast(beam).join(g, beam("cand_id") === g("vec_id"))
            .select(col("query_id"), col("nbr_id").as("cand_id")))
          .filter(col("cand_id") =!= col("query_id"))
          .distinct())
      // Each new beam is the top `beamWidth` of a pool holding the old
      // one, so it never shrinks: the walk is stable once a round
      // returns exactly the previous round's rows.
      val beam =
        if (untilStable) {
          val run = Rounds.until(seedBeam, maxRounds, Rounds.SameRows)(hop)
          require(run.converged,
            s"beam walk did not stabilize in $maxRounds rounds")
          run.frame
        } else Checkpointing.cutOnce(
          Rounds.fixed(seedBeam.lineageCut, maxRounds, cutEvery = 1)(hop))
      // The final ranking stays lazy OVER THE CUT BEAM: its plan is
      // one window on a checkpoint scan (bounded depth however many
      // rounds ran — PlanShapeSpec pins this), and it never re-reads
      // the graph, so releasing the graph cache here is safe.
      beam
        .withColumn("rank", row_number().over(w))
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("cand_id"), round(col("sim"), 6).as("sim"))
    } finally {
      g.unpersist()
      // Safe for the same reason the graph release is: the returned
      // ranking reads only the (cut) beam, never e.
      e.unpersist()
    }
  }

  /** Navigable-graph BUILD — the construction half of the graph-ANN
    * story ([[graphBeamSearch]] is the search half; until now it
    * walked the raw kNN graph). The Vamana/NSW recipe, batch-shaped:
    *
    *   1. SYMMETRIZE: add every kNN edge's reverse (the insertion
    *      backlink of the HNSW/DiskANN builds). A kNN graph only
    *      points AT popular vectors; the reverse edges are what let
    *      the walk leave them again — this is where the measured
    *      recall gain comes from (e30: 0.95/0.875/0.775 vs the raw
    *      graph's 0.90/0.85/0.60 recall@4 across the three test SFs,
    *      at EQUAL max out-degree).
    *   2. α-PRUNE greedily in similarity order (Vamana's
    *      RobustPrune): candidate c is dropped when an already-KEPT
    *      neighbor b is α-times closer to c than the node a itself
    *      is — distance form on the e6 integer grid,
    *      `alpha100·(1e6 − cos_e6(b,c)) ≤ 100·(1e6 − cos_e6(a,c))` —
    *      a kept direction "covers" c, so the edge is redundant. On
    *      clustered corpora this drops same-direction duplicates; on
    *      diffuse corpora it rarely fires and the cap binds instead.
    *   3. CAP out-degree at `maxDegree` (greedy order means this
    *      equals keeping the first `maxDegree` α-survivors).
    *
    * Scale shape: symmetrization is one distinct exchange over
    * O(n·k) edges; edge scoring is two co-partitioned id joins with
    * the codegen'd cosine; the per-node candidate list is truncated
    * to `maxCandidates` by the bounded-heap [[top_k_by_score]]
    * partial aggregate FIRST (map-side O(maxCandidates) state — a
    * hub's unbounded reverse in-degree never becomes aggregation
    * state), and only then do the ≤ maxCandidates embedding rows
    * regroup for the prune, which is ONE higher-order `aggregate`
    * per node (state ≤ maxDegree × dims). Fully deterministic:
    * candidate order is (sim_e6 DESC, nbr_id), every prune
    * comparison is exact integer arithmetic — hence
    * SQL-oracle-checkable (e28).
    *
    * @param knn (vec_id, nbr_id) directed kNN edges (e.g.
    *   [[knnGraphProbed]])
    * @return (vec_id, rank, nbr_id, sim_e6) kept directed edges,
    *   ranked per node in (sim_e6 DESC, nbr_id) order
    */
  def navigableGraph(emb: DataFrame, knn: DataFrame,
      alpha100: Long = 120, maxDegree: Int = 16,
      maxCandidates: Int = 32): DataFrame = {
    requirePrune(alpha100, maxDegree, maxCandidates)
    import graft.operators.Checkpointing.CutOps
    // Two independent eager cuts, run concurrently (Par, guide §2.6):
    // - the symmetrize union references `knn` TWICE and nothing
    //   dedupes the duplicated subtree (measured on e28: zero
    //   ReusedExchange — the whole probed-kNN build executed twice,
    //   14 corpus scans in one action); cut the O(n·k) edge list
    //   once and both union branches read the checkpoint.
    // - `en` has three consumers (both edge-scoring sides + the
    //   prune's candidate-embedding join) — cut once: ONE corpus
    //   transform+norm pass instead of three full re-scans.
    val Seq(edges, en) = Par.inParallel(Seq(
      () => knn.select(col("vec_id"), col("nbr_id")).lineageCut,
      () => withNorms(emb).lineageCut))
    val sym = edges
      .union(edges.select(col("nbr_id").as("vec_id"),
        col("vec_id").as("nbr_id")))
      .distinct()
    val sel = sym
      .join(en.select(col("vec_id"), col("e").as("ea")), "vec_id")
      .join(en.select(col("vec_id").as("nbr_id"), col("e").as("eb")),
        "nbr_id")
      .withColumn("se", cosE6(col("ea"), col("eb")).cast("long"))
    alphaPrune(candRows(topCandidates(sel, col("se"), maxCandidates)), en,
      alpha100, maxDegree)
  }

  /** The α/degree bounds every prune path checks. */
  private def requirePrune(alpha100: Long, maxDegree: Int,
      maxCandidates: Int): Unit = {
    require(alpha100 >= 100,
      s"alpha100 is a ×100 fixed-point α ≥ 1, got $alpha100")
    require(maxDegree >= 1 && maxCandidates >= maxDegree,
      s"need 1 <= maxDegree <= maxCandidates, " +
        s"got $maxDegree/$maxCandidates")
  }

  /** A cosine on the e6 integer grid, floor(cos·10⁶ + 0.5) (uncast). */
  private def cosE6(a: Column, b: Column): Column =
    floor(cosine_sim(a, b) * 1000000 + 0.5)

  /** The nav-graph candidate bound: per vec_id, the top `maxCand`
    * (nbr_id, se) of `scored` by (`se` DESC, nbr_id) — the
    * bounded-heap truncation the build, attach, compaction and
    * delete paths all run before [[alphaPrune]], so a hub's unbounded
    * in-degree never becomes aggregation state.
    * @return (vec_id, tk): the kept (cand_id, sim) structs in
    *   (se DESC, nbr_id) order, `sim` the score as a double
    */
  private def topCandidates(scored: DataFrame, se: Column,
      maxCand: Int): DataFrame =
    scored.groupBy("vec_id").agg(top_k_by_score(se.cast("double"),
      col("nbr_id"), lit(0L), maxCand).as("tk"))

  /** A [[topCandidates]] heap as one (vec_id, nbr_id, se) row per
    * kept candidate — the [[alphaPrune]] input.
    */
  private def candRows(tk: DataFrame): DataFrame =
    tk.select(col("vec_id"), explode(col("tk")).as("t"))
      .select(col("vec_id"), col("t.cand_id").as("nbr_id"),
        col("t.sim").cast("long").as("se"))

  /** Double vectors + precomputed norms — the in-lambda prune cosine
    * is dot/(nrm_b·nrm_c) with the same left-to-right folds as the
    * codegen'd kernel, so both engines see identical doubles. Shared
    * by [[navigableGraph]] and [[navigableAttach]].
    */
  private def withNorms(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
        expr("transform(embedding, v -> cast(v as double))").as("e"))
      .withColumn("nrm", expr(
        "sqrt(aggregate(zip_with(e, e, (x, y) -> x * y), " +
          "cast(0 as double), (s, v) -> s + v))"))

  /** The greedy RobustPrune core shared by the build and attach
    * paths: per node, walk its scored candidates in (sim_e6 DESC,
    * nbr_id) order, keeping c unless an already-kept b is α-times
    * closer to c, capped at `maxDegree`. `cand` (vec_id, nbr_id, se)
    * MUST already be bounded per node (heap-truncated) — the collect
    * here is what turns it into the per-node prune array, so its
    * size is the caller's state bound. `en` supplies candidate
    * embeddings+norms ([[withNorms]] of the candidate corpus).
    */
  private def alphaPrune(cand: DataFrame, en: DataFrame,
      alpha100: Long, maxDegree: Int): DataFrame = {
    import graft.functions.AlphaPruneKept.alpha_prune
    // The greedy walk runs in the compiled [[AlphaPruneKept]] kernel
    // (sort + prune in one tight primitive loop): the previous
    // interpreted `array_sort` + `aggregate`/`exists`/`zip_with` HOF
    // chain dispatched maxCandidates × |kept| × dims interpreted
    // lambda steps per node — the largest single stage increment of
    // the e28 build in OPTIMIZATION_r16.md's profile. Same results on the
    // same e6 integer grid (the kernel doc pins the op-order parity);
    // the collect_list struct also drops the `ns` sort key the kernel
    // no longer needs — fewer bytes through the per-node exchange.
    val kept = cand
      .join(en.select(col("vec_id").as("nbr_id"), col("e"), col("nrm")),
        "nbr_id")
      .groupBy("vec_id")
      .agg(collect_list(struct(col("nbr_id").as("nbr"), col("se"),
        col("nrm"), col("e"))).as("cands"))
      .select(col("vec_id"),
        alpha_prune(col("cands"), alpha100, maxDegree).as("kept"))
    kept
      .select(col("vec_id"), posexplode(col("kept")).as(Seq("pos", "s")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("rank"),
        col("s.nbr").as("nbr_id"), col("s.se").as("sim_e6"))
  }

  /** Incremental navigable-graph MAINTENANCE (the FreshDiskANN
    * insert shape; d21/IndexPipeline.append's discipline for the
    * graph index): attach a DELTA batch of new vectors to an
    * existing built graph WITHOUT rebuilding it. Per new vector:
    * route to its `nprobe` nearest base cells map-side (the e9
    * broadcast-centroid-array trick — zero corpus shuffle), gather
    * its in-cell base candidates, heap-truncate to `maxCandidates`
    * on the e6 grid, α-prune with the SAME RobustPrune core as
    * [[navigableGraph]] → the new node's out-edges ('fwd' rows).
    * Every kept edge also emits its REVERSE ('back' rows, rank null)
    * — the backlink that keeps the new node reachable. Backlinks
    * APPEND to the base lists without re-pruning them (deferred
    * compaction: the periodic [[navigableGraph]] rebuild is the
    * compaction step, exactly as IndexPipeline.append defers
    * retraining) — so attach cost scales with the DELTA, never the
    * corpus: the base graph is never read, only base embeddings in
    * the probed cells.
    *
    * @return (vec_id, kind, rank, nbr_id, sim_e6) — kind 'fwd':
    *   new-node adjacency, ranked; kind 'back': base-node backlink
    *   appends, rank null
    */
  def navigableAttach(embBase: DataFrame, embDelta: DataFrame,
      labelCol: String, alpha100: Long = 120, maxDegree: Int = 16,
      maxCandidates: Int = 32, nprobe: Int = 2): DataFrame =
    linkRows(alphaPrune(probedSel(embBase, embDelta, labelCol,
        maxCandidates, nprobe).select("vec_id", "nbr_id", "se"),
      withNorms(embBase), alpha100, maxDegree))

  /** An attach's kept edges (vec_id, rank, nbr_id, sim_e6) as 'fwd'
    * rows, plus each edge's reverse as a 'back' row (rank null) — the
    * backlink that keeps the new node reachable. Both rows come from
    * one pass over `fwd`: a union of two projections of it would plan
    * the attach twice, and AQE reuses only the exchanges inside, so
    * the reduce sides after them (the top-k merge, the α-prune) would
    * run once per branch.
    */
  private def linkRows(fwd: DataFrame): DataFrame =
    fwd.select(explode(array(
        struct(col("vec_id"), lit("fwd").as("kind"), col("rank"),
          col("nbr_id"), col("sim_e6")),
        struct(col("nbr_id").as("vec_id"), lit("back").as("kind"),
          lit(null).cast("long").as("rank"), col("vec_id").as("nbr_id"),
          col("sim_e6")))).as("l"))
      .select("l.*")

  /** The delta→base probed-candidate step shared by the flat and
    * hierarchical attach paths: route each delta vector to its
    * `nprobe` nearest base cells ([[probeRows]] — zero corpus
    * shuffle), score in-cell base candidates on the e6 grid,
    * heap-truncate to `maxCand` per delta vector.
    * @return (vec_id, pos 0-based in (se DESC, nbr_id) order,
    *   nbr_id, se)
    */
  private def probedSel(embBase: DataFrame, embDelta: DataFrame,
      labelCol: String, maxCand: Int, nprobe: Int): DataFrame = {
    val probes = probeRows(
      embDelta.select(col("vec_id"), col("embedding").as("ea")), "ea",
      centroidRows(embBase, labelCol), nprobe,
      embBase.schema(labelCol).dataType)
    val cand = embBase.select(col(labelCol).as("label"),
      col("vec_id").as("nbr_id"), col("embedding").as("eb"))
    topCandidates(probes.join(cand, Seq("label"))
        .withColumn("se", cosE6(col("ea"), col("eb")).cast("long")),
      col("se"), maxCand)
      .select(col("vec_id"), posexplode(col("tk")).as(Seq("pos", "t")))
      .select(col("vec_id"), col("pos"),
        col("t.cand_id").as("nbr_id"), col("t.sim").cast("long").as("se"))
  }

  /** Nav-graph MAINTENANCE health card (e51 — the e29 discipline for
    * the e28/e32 index): [[navigableAttach]] defers compaction by
    * design (backlinks append, base lists are never re-pruned), so
    * maintenance debt accumulates invisibly; this card is the number
    * that decides the periodic [[navigableGraph]] rebuild. Over a
    * `built` base graph and an `att` attach history it binds:
    * backlink DEBT (appended un-pruned edges), degree-cap OVERFLOW
    * (base nodes whose built degree + appended backlinks exceed
    * `maxDegree`, plus the excess sum — the compaction workload),
    * and RECIPROCITY before/after the appends (e31's structural
    * number — drift from the built invariant). One row; every value
    * a count or e6 fixed-point integer.
    *
    * Scale shape: two partial-agg degree passes, two co-partitioned
    * reciprocity self-joins over O(n·k) edge lists, one-row
    * broadcast combines — the g12/e31 card idiom.
    *
    * @param base  the base corpus (node universe)
    * @param built (vec_id, nbr_id) built edges ([[navigableGraph]])
    * @param att   [[navigableAttach]] output (vec_id, kind, …)
    */
  def navAttachHealth(base: DataFrame, built: DataFrame,
      att: DataFrame, maxDegree: Int = 16): DataFrame = {
    import graft.operators.Checkpointing.CutOps
    val b = built.select(col("vec_id"), col("nbr_id")).lineageCut
    val a = att.lineageCut
    val nb = base.agg(count(lit(1)).as("n_base_nodes"))
    val ne = b.agg(count(lit(1)).as("n_built_edges"))
    // count(when(...)), not sum(when(...)): an EMPTY attach history
    // (the "no deltas yet" baseline read) must report 0 debt, not
    // NULL — a null would silently disarm a `debt > threshold`
    // rebuild trigger.
    val na = a.groupBy().agg(
      count(when(col("kind") === "fwd", 1)).as("n_attach_fwd"),
      count(when(col("kind") === "back", 1)).as("n_backlink_debt"))
    // Post-attach degree of each BASE node: built out-degree +
    // appended backlinks ('fwd' rows live on delta nodes and are
    // α-prune-capped at maxDegree by construction — never overflow).
    val bdeg = b.groupBy("vec_id").agg(count(lit(1)).as("bd"))
    val adeg = a.filter(col("kind") === "back")
      .groupBy("vec_id").agg(count(lit(1)).as("ad"))
    val over = bdeg.join(adeg, Seq("vec_id"), "full")
      .select((coalesce(col("bd"), lit(0L))
        + coalesce(col("ad"), lit(0L))).as("deg"))
      .agg(
        sum(when(col("deg") > maxDegree, 1L).otherwise(0L))
          .as("overflow_nodes"),
        sum(when(col("deg") > maxDegree, col("deg") - maxDegree)
          .otherwise(0L)).as("overflow_excess"))
    def recip(g: DataFrame, as: String): DataFrame = {
      val m = g.as("x").join(g.as("y"),
          col("x.vec_id") === col("y.nbr_id") &&
            col("x.nbr_id") === col("y.vec_id"))
        .agg(count(lit(1)).as("m"))
      // Guard the empty graph: `div 0` throws under ANSI mode;
      // reciprocity of an edgeless graph reads as 0 by convention.
      g.agg(count(lit(1)).as("ne")).crossJoin(broadcast(m))
        .select(expr("CAST(CASE WHEN ne = 0 THEN 0 " +
          "ELSE m * 1000000 div ne END AS BIGINT)").as(as))
    }
    val ug = b.union(a.select(col("vec_id"), col("nbr_id"))).lineageCut
    nb.crossJoin(broadcast(ne)).crossJoin(broadcast(na))
      .crossJoin(broadcast(over))
      .crossJoin(broadcast(recip(b, "reciprocity_built_e6")))
      .crossJoin(broadcast(recip(ug, "reciprocity_after_e6")))
  }

  /** SELECTIVE nav-graph COMPACTION (e52 — the FreshDiskANN
    * delete/consolidate step, and the missing payoff of
    * [[navAttachHealth]]'s card): fold an attach history into the
    * built graph by re-pruning ONLY the base nodes whose built
    * degree + appended backlinks exceed `maxDegree` — everyone else
    * keeps their lists untouched — so maintenance debt is paid at a
    * cost ∝ the overflow set, never the corpus (the full
    * [[navigableGraph]] rebuild was previously the only remedy).
    *
    * Per base node with appends, the MERGED list = built out-edges ∪
    * backlink appends ('back' rows). Three disjoint classes:
    *   - merged degree > `maxDegree` (e51's overflow set): heap-
    *     truncate the merged list to `maxCandidates` on the e6 grid
    *     and re-run the SAME RobustPrune core ([[alphaPrune]]) the
    *     build used — the consolidated list obeys every built
    *     invariant (α-domination, degree ≤ cap);
    *   - appends but within cap: the merged list survives verbatim,
    *     ranks refreshed by (sim_e6 DESC, nbr_id) — a per-node
    *     window whose state is the node's own ≤ cap edges, shuffled
    *     only over the appended-node slice (∝ attach history);
    *   - no appends: built rows pass through bit-for-bit (no
    *     shuffle, no recompute).
    * Delta nodes' 'fwd' lists are already α-pruned at attach time
    * and pass through unchanged, so the result is ONE consolidated
    * graph over base ∪ delta on which [[navAttachHealth]] (with an
    * empty attach history) reads zero debt and zero overflow —
    * OperatorsSpec pins that closure, the degree cap, and
    * walk-reachability of attached nodes on planted fixtures.
    *
    * Caveat (FreshDiskANN semantics): the re-prune may drop a
    * backlink entirely (an α-dominated delta neighbor), trading a
    * reachability path for the degree bound exactly as the build
    * does; entry-point routing (cell medoids) is unchanged.
    *
    * @param emb   embeddings covering EVERY node id in built ∪ att
    *   (base and delta) — the prune recomputes candidate-candidate
    *   cosines from these
    * @param built (vec_id, rank, nbr_id, sim_e6) from
    *   [[navigableGraph]]
    * @param att   [[navigableAttach]] output
    * @return (vec_id, rank, nbr_id, sim_e6) — the consolidated graph
    */
  def navCompact(emb: DataFrame, built: DataFrame, att: DataFrame,
      alpha100: Long = 120, maxDegree: Int = 16,
      maxCandidates: Int = 32): DataFrame = {
    requirePrune(alpha100, maxDegree, maxCandidates)
    import graft.operators.Checkpointing.CutOps
    // Both inputs are consumed by several branches below — cut once
    // so the (already-executed-shaped) build/attach plans don't
    // re-plan per branch (the navAttachHealth discipline). The two
    // cuts are independent materializations — run them concurrently
    // (Par, guide §2.6).
    val Seq(b, a) = Par.inParallel(Seq(
      () => built.select(col("vec_id"), col("rank"), col("nbr_id"),
        col("sim_e6")).lineageCut,
      () => att.lineageCut))
    val backs = a.filter(col("kind") === "back")
      .select(col("vec_id"), col("nbr_id"), col("sim_e6"))
    val fwd = a.filter(col("kind") === "fwd")
      .select(col("vec_id"), col("rank"), col("nbr_id"), col("sim_e6"))
    // Appended-node slice (∝ attach history, never the corpus): only
    // these nodes' lists can have changed since the build.
    val appended = backs.select("vec_id").distinct()
    val merged = b.select(col("vec_id"), col("nbr_id"), col("sim_e6"))
      .join(appended, Seq("vec_id"), "left_semi")
      .union(backs)
      .lineageCut
    val overNodes = merged.groupBy("vec_id")
      .agg(count(lit(1)).as("deg"))
      .filter(col("deg") > maxDegree)
      .select("vec_id")
    // Overflow class: bounded heap to maxCandidates (the build's
    // candidate bound), then the shared RobustPrune core.
    val overCand = candRows(topCandidates(
      merged.join(overNodes, Seq("vec_id"), "left_semi"), col("sim_e6"),
      maxCandidates))
    val repruned = alphaPrune(overCand, withNorms(emb), alpha100,
      maxDegree)
    // Within-cap appended class: same edges, refreshed ranks.
    val wN = Window.partitionBy("vec_id")
      .orderBy(col("sim_e6").desc, col("nbr_id"))
    val reranked = merged.join(overNodes, Seq("vec_id"), "left_anti")
      .withColumn("rank", row_number().over(wN).cast("long"))
      .select("vec_id", "rank", "nbr_id", "sim_e6")
    val untouched = b.join(appended, Seq("vec_id"), "left_anti")
    untouched
      .union(reranked)
      .union(repruned.select(col("vec_id"), col("rank"), col("nbr_id"),
        col("sim_e6")))
      .union(fwd)
  }

  /** Nav-graph DELETE + consolidate (e53 — the FreshDiskANN delete
    * step, completing the maintenance triple: attach e32 inserts,
    * [[navCompact]] pays append debt, this removes): drop a
    * tombstoned node set D from the built graph WITHOUT a rebuild,
    * reconnecting the graph THROUGH the deleted nodes — for every
    * surviving node p with an out-edge into D, the new candidate
    * list is (N(p) \ D) ∪ (∪_{d∈N(p)∩D} N(d) \ D \ {p}) (each
    * deleted neighbor is replaced by its own out-neighborhood — the
    * FreshDiskANN consolidate rule that preserves the walk paths
    * that used to route through d), rescored on the e6 grid,
    * heap-truncated to `maxCandidates` and re-pruned with the SAME
    * RobustPrune core as the build. Nodes with no deleted neighbor
    * pass through bit-for-bit; rows of D (both directions) vanish.
    *
    * Cost ∝ the affected set (|D| × in-degree), never the corpus:
    * the affected/candidate gathers are co-partitioned equi-joins
    * on node keys, per-node candidate volume is bounded by
    * maxDegree + maxDegree² before the heap, and the untouched
    * slice is an anti-join pass-through. OperatorsSpec pins deleted
    * absence (both directions), the degree cap, survivor
    * walk-reachability on the maintenance fixture, and untouched
    * pass-through.
    *
    * @param emb     embeddings covering every surviving node
    * @param built   (vec_id, rank, nbr_id, sim_e6) built graph
    * @param deleted one-column (vec_id) tombstone set
    */
  def navDelete(emb: DataFrame, built: DataFrame, deleted: DataFrame,
      alpha100: Long = 120, maxDegree: Int = 16,
      maxCandidates: Int = 32): DataFrame = {
    requirePrune(alpha100, maxDegree, maxCandidates)
    import graft.operators.Checkpointing.CutOps
    // Three independent eager cuts (built graph, tombstones, corpus
    // norms) — run concurrently (Par, guide §2.6) instead of
    // serializing three driver-blocking materializations.
    val Seq(b, del, en) = Par.inParallel(Seq(
      () => built.select(col("vec_id"), col("rank"), col("nbr_id"),
        col("sim_e6")).lineageCut,
      () => deleted.select(col("vec_id")).lineageCut,
      () => withNorms(emb).lineageCut))
    val alive = b.join(del, Seq("vec_id"), "left_anti")
    // Affected slice: survivors that lose at least one out-edge.
    val aff = alive
      .join(del.select(col("vec_id").as("nbr_id")), Seq("nbr_id"),
        "left_semi")
      .select("vec_id").distinct()
    val affEdges = alive.join(aff, Seq("vec_id"), "left_semi")
    val keep = affEdges
      .join(del.select(col("vec_id").as("nbr_id")), Seq("nbr_id"),
        "left_anti")
      .select(col("vec_id"), col("nbr_id"))
    // Bridge through each deleted neighbor's own out-list.
    val bridge = affEdges
      .select(col("vec_id"), col("nbr_id").as("mid"))
      .join(del.select(col("vec_id").as("mid")), Seq("mid"), "left_semi")
      .join(b.select(col("vec_id").as("mid"), col("nbr_id")), "mid")
      .join(del.select(col("vec_id").as("nbr_id")), Seq("nbr_id"),
        "left_anti")
      .filter(col("nbr_id") =!= col("vec_id"))
      .select(col("vec_id"), col("nbr_id"))
    // `en` (cut above, one corpus transform+norm pass for its three
    // consumers — the navigableGraph discipline).
    // Coverage contract, enforced loudly (round-15 advice): every
    // surviving/bridged node must appear in `emb` — an inner join
    // would silently DROP edges for a missing node (and a node whose
    // whole candidate list dropped would vanish from the output with
    // no signal). Left-join and raise inside the scoring expression
    // instead: the guard is load-bearing (it feeds `se`), so column
    // pruning cannot remove it, and incomplete emb input fails with
    // a clear message in one pass — no extra counting action.
    val scored = keep.union(bridge).distinct()
      .join(en.select(col("vec_id"), col("e").as("ea")),
        Seq("vec_id"), "left")
      .join(en.select(col("vec_id").as("nbr_id"), col("e").as("eb")),
        Seq("nbr_id"), "left")
      .withColumn("se",
        when(col("ea").isNull || col("eb").isNull,
          raise_error(concat(
            lit("navDelete: graph node missing from emb (vec_id="),
            col("vec_id"), lit(", nbr_id="), col("nbr_id"),
            lit(") - the embedding input must cover every "),
            lit("surviving graph node"))))
          .otherwise(cosE6(col("ea"), col("eb")))
          .cast("long"))
    val repruned = alphaPrune(candRows(topCandidates(scored, col("se"),
      maxCandidates)), en, alpha100, maxDegree)
    alive.join(aff, Seq("vec_id"), "left_anti")
      .union(repruned.select(col("vec_id"), col("rank"), col("nbr_id"),
        col("sim_e6")))
  }

  /** HIERARCHICAL incremental attach (e48) — [[navigableAttach]]'s
    * FreshDiskANN insert discipline applied to the
    * [[hierarchicalNavGraph]] layers, so the newest index shape no
    * longer forces full rebuilds (the d21/e32 incremental family's
    * hole the round-12 verdict named): each delta vector draws its
    * deterministic level ([[hierLevel]] — the same hash rule the
    * build uses, so attach and rebuild agree on membership), then
    *
    *   - level 0: the flat [[navigableAttach]] against the full base
    *     (route → heap-truncate → α-prune → 'fwd' edges + 'back'
    *     backlink appends, base lists not re-pruned — deferred
    *     compaction, the periodic rebuild is the compaction);
    *   - each level l ≥ 1: delta members of level ≥ l attach against
    *     BASE members of level ≥ l only — probed top-`kUpper` on the
    *     e6 grid, mirroring the build's un-pruned upper layers, plus
    *     the same 'back' reverses.
    *
    * Attach cost scales with the DELTA at every level (the upper
    * levels geometrically so — a 4^-l delta sample against a 4^-l
    * base sample); the base graph is never read, only base
    * embeddings in the probed cells. Stale-upper-layer caveat as
    * [[navigableAttach]]: routing uses the CURRENT base members'
    * centroids, so a drifted base eventually wants the rebuild —
    * e29's health card is the trigger.
    *
    * @return (level, vec_id, kind 'fwd'|'back', rank — null for
    *   'back', nbr_id, sim_e6)
    */
  def hierarchicalAttach(embBase: DataFrame, embDelta: DataFrame,
      labelCol: String, maxLevel: Int, alpha100: Long = 120,
      maxDegree: Int = 16, maxCandidates: Int = 32, nprobe: Int = 2,
      kUpper: Int = 8): DataFrame =
    hierAttach(embBase, embDelta, maxLevel, alpha100, maxDegree,
      maxCandidates, nprobe, kUpper, labelCol)(identity)

  /** The per-level body of both hierarchical attaches: level 0 is the
    * flat [[navigableAttach]] against the whole base, level l ≥ 1 the
    * probed top-`kUpper` of the level's delta members against its base
    * members as link rows. `cells` gives the base members their
    * `labelCol` cells; the levels run concurrently
    * ([[Par.inParallel]], guide §2.6 — each may train cells) and union
    * in level order. maxConcurrent = 3: each in-flight level's
    * trainedCells holds its own corpus-sized cache.
    */
  private def hierAttach(embBase: DataFrame, embDelta: DataFrame,
      maxLevel: Int, alpha100: Long, maxDegree: Int, maxCandidates: Int,
      nprobe: Int, kUpper: Int, labelCol: String)(
      cells: DataFrame => DataFrame): DataFrame = {
    require(maxLevel >= 1, s"maxLevel must be >= 1, got $maxLevel")
    val lvl = hierLevel(maxLevel)
    def leveled(l: Int, rows: DataFrame) =
      rows.select(lit(l.toLong).as("level") +: rows.columns.map(col): _*)
    val builds: Seq[() => DataFrame] =
      (() => leveled(0, navigableAttach(cells(embBase), embDelta, labelCol,
        alpha100, maxDegree, maxCandidates, nprobe))) +:
      (1 to maxLevel).map(l => () => leveled(l, linkRows(
        probedSel(cells(embBase.filter(lvl >= l)), embDelta.filter(lvl >= l),
            labelCol, kUpper, nprobe)
          .select(col("vec_id"), (col("pos") + 1).cast("long").as("rank"),
            col("nbr_id"), col("se").as("sim_e6")))))
    Par.inParallel(builds, maxConcurrent = 3).reduce(_.unionByName(_))
  }

  /** Deterministic geometric LEVEL assignment for the hierarchical
    * navigable graph (the HNSW layer rule, hash-derandomized): a
    * vector belongs to every level `l` with
    * `((vec_id · Mixer) mod 2³²) mod 4^l == 0`, so level-`l`
    * membership is a deterministic ~4^-l sample and each level is a
    * subset of the one below — pure integer arithmetic, identical in
    * SQL (the Sampling.Mixer idiom), no RNG state anywhere.
    */
  def hierLevel(maxLevel: Int): Column = {
    import graft.operators.Sampling.{Mixer, MixMod}
    require(maxLevel >= 1 && maxLevel <= 15,
      s"maxLevel must be in [1, 15], got $maxLevel")
    val h = col("vec_id") * Mixer % MixMod
    (1 to maxLevel).foldLeft(lit(0L)) { (acc, l) =>
      when(h % (1L << (2 * l)) === 0, lit(l.toLong)).otherwise(acc)
    }
  }

  /** HIERARCHICAL navigable-graph BUILD (the HNSW shape, batch-
    * first): level 0 is the full [[navigableGraph]] (symmetrize +
    * α-prune over the probed kNN graph — the e28 build, unchanged);
    * each upper level `l ≥ 1` is the probed kNN graph over that
    * level's deterministic 4^-l member sample ([[hierLevel]]).
    * Sparse upper levels force LONG-RANGE edges (a member's kUpper
    * nearest fellow members span clusters once the sample is thin) —
    * exactly the coarse routing layer the flat walk lacks, and why
    * the descent escapes a bad entry region that traps a flat walk
    * (OperatorsSpec pins this on a planted separated-cluster
    * fixture; on near-uniform corpora the descent is break-even —
    * e47 measures both).
    *
    * Scale shape: every level build is the cluster-blocked probed
    * kNN (one co-partitioned equi-join per level, bounded-heap
    * truncation; level l costs ~(n/4^l)²/cells, a geometric series
    * dominated by level 0's own build) plus level 0's α-prune; the
    * union is O(n·k) edges total.
    *
    * @return (level, vec_id, nbr_id) directed edges for all levels
    */
  def hierarchicalNavGraph(emb: DataFrame, labelCol: String,
      maxLevel: Int, k0: Int = 16, kUpper: Int = 8,
      nprobe: Int = 2): DataFrame =
    hierBuild(emb, maxLevel, k0, kUpper, nprobe, labelCol)(identity)

  /** The per-level body of both hierarchical builds: level 0 is
    * [[navigableGraph]] over the probed kNN graph of the whole corpus,
    * level l ≥ 1 the probed kNN graph of the level's members. `cells`
    * gives a member set its `labelCol` cells. Levels are independent
    * builds whose construction may be ACTION-driven (trainedCells runs
    * count + Lloyd collects), so they run concurrently
    * ([[Par.inParallel]], guide §2.6 job overlap) and union in level
    * order; maxConcurrent = 3 bounds the in-flight levels' caches.
    */
  private def hierBuild(emb: DataFrame, maxLevel: Int, k0: Int, kUpper: Int,
      nprobe: Int, labelCol: String)(cells: DataFrame => DataFrame)
      : DataFrame = {
    val lvl = hierLevel(maxLevel)
    def knn(members: DataFrame, k: Int) =
      knnGraphProbed(cells(members), labelCol, k, nprobe)
    val builds: Seq[() => DataFrame] =
      (() => navigableGraph(emb,
          knn(emb, k0).select(col("vec_id"), col("nbr_id")))
        .select(lit(0L).as("level"), col("vec_id"), col("nbr_id"))) +:
      (1 to maxLevel).map(l => () =>
        knn(emb.filter(lvl >= l), kUpper)
          .select(lit(l.toLong).as("level"), col("vec_id"),
            col("nbr_id")))
    Par.inParallel(builds, maxConcurrent = 3).reduce(_.unionByName(_))
  }

  /** [[hierarchicalNavGraph]] on the TRAINED-cell substrate — the
    * production form (the labelCol overload remains for externally
    * blocked corpora and fixtures): each level trains its OWN cells
    * on that level's member sample with nlist ∝ member count
    * ([[trainedCells]]'s rule), so |cell| ≈ `perCell` at EVERY level
    * — level l's build costs ~(n/4^l)·perCell, a geometric series
    * dominated by level 0, with no level ever quadratic in its
    * member count. Per-level training (rather than reusing the
    * corpus cells) also preserves the long-range upper edges the
    * descent needs: a thin sample re-clustered at ~perCell members
    * per cell spans clusters, where corpus-trained fine cells would
    * leave upper members nearly alone in theirs.
    */
  def hierarchicalNavGraphTrained(emb: DataFrame, maxLevel: Int,
      k0: Int = 16, kUpper: Int = 8, nprobe: Int = 2,
      perCell: Int = 250, iters: Int = 3): DataFrame =
    hierBuild(emb, maxLevel, k0, kUpper, nprobe, "cell")(
      trainedCells(_, perCell, iters))

  /** [[hierarchicalAttach]] on the TRAINED-cell substrate (the e48
    * production form): the flat level-0 attach routes over cells
    * trained on the FULL base (nlist ∝ base count), and each upper
    * level trains its own cells on the level's base members — the
    * same per-level rule as [[hierarchicalNavGraphTrained]], so
    * routing cost per delta vector stays ~nprobe·perCell candidates
    * at every level regardless of corpus size.
    */
  def hierarchicalAttachTrained(embBase: DataFrame,
      embDelta: DataFrame, maxLevel: Int, alpha100: Long = 120,
      maxDegree: Int = 16, maxCandidates: Int = 32, nprobe: Int = 2,
      kUpper: Int = 8, perCell: Int = 250, iters: Int = 3)
      : DataFrame =
    hierAttach(embBase, embDelta, maxLevel, alpha100, maxDegree,
      maxCandidates, nprobe, kUpper, "cell")(trainedCells(_, perCell, iters))

  /** HIERARCHICAL beam search — the descent half of the HNSW story:
    * walk the TOP level from the caller's entry points with a small
    * beam, hand each level's kept beam down as the NEXT level's
    * per-query entry points, finish with the full-width walk on the
    * level-0 navigable graph. Total expansion budget =
    * maxLevel · upperRounds · upperWidth + rounds · beamWidth —
    * e47 holds it equal to the flat walk's when comparing.
    *
    * Scale shape: each level runs [[graphBeamSearch]]'s machinery
    * unchanged (per-round lineage cut, graph persisted-partitioned
    * once per level and self-released, beam state O(queries × width)
    * broadcast); the upper levels' graphs are 4^-l -sized so the
    * descent prepends a geometrically-cheap prefix to the level-0
    * walk.
    *
    * @param levelGraphs [[hierarchicalNavGraph]] output
    * @param entries     entry ids for the TOP level walk (cand_id)
    */
  def hierarchicalBeamSearch(emb: DataFrame, queries: DataFrame,
      levelGraphs: DataFrame, entries: DataFrame, maxLevel: Int,
      upperWidth: Int, upperRounds: Int, beamWidth: Int,
      rounds: Int): DataFrame = {
    require(maxLevel >= 1, s"maxLevel must be >= 1, got $maxLevel")
    var seed = beamWalk(emb, queries,
      levelGraphs.filter(col("level") === maxLevel), entries,
      upperWidth, maxRounds = upperRounds, untilStable = false)
      .select("query_id", "cand_id")
    for (l <- (maxLevel - 1) to 1 by -1)
      seed = beamWalk(emb, queries,
        levelGraphs.filter(col("level") === l), seed,
        upperWidth, maxRounds = upperRounds, untilStable = false,
        entriesPerQuery = true)
        .select("query_id", "cand_id")
    beamWalk(emb, queries, levelGraphs.filter(col("level") === 0),
      seed, beamWidth, maxRounds = rounds, untilStable = false,
      entriesPerQuery = true)
  }

  /** Exhaustive SQ8 scan top-k — [[bruteForceTopK]] run over the
    * int8 code rows instead of float embeddings: both sides quantize
    * with [[sq8Quantize]] and candidates score by the integer code
    * dot over the integer code norms (exact arithmetic up to two
    * IEEE roundings). `sim` is the raw approximate cosine — callers
    * scale/round for output. Zero vectors drop on both sides.
    */
  def sq8TopK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val cand = sq8Quantize(emb.select(col("vec_id"), col("embedding")))
      .filter(col("sq") > 0)
    val probes = sq8Quantize(
        queries.select(col("vec_id"), col("embedding")))
      .filter(col("sq") > 0)
      .select(col("vec_id").as("query_id"), col("q").as("qq"),
        col("sq").as("qsq"))
    cand.join(broadcast(probes), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        (expr("aggregate(zip_with(q, qq, (x, y) -> x * y), " +
          "CAST(0 AS BIGINT), (a, x) -> a + x)").cast("double")
          / (sqrt(col("sq").cast("double"))
            * sqrt(col("qsq").cast("double")))).as("sim"))
      .groupBy("query_id")
      .agg(top_k_by_score(col("sim"), col("cand_id"), lit(0L), k)
        .as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "s")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("s.cand_id").as("cand_id"), col("s.sim").as("sim"))
  }

  /** IVF + SQ8 search — the two verified halves COMPOSED into the
    * production index layout (a FAISS `IVF…,SQ8` index): the FLOAT
    * coarse quantizer routes each query to its nearest cell
    * (centroid table broadcast — the corpus never shuffles), and the
    * in-cell scan scores INT8 codes ([[sq8Quantize]]'s 65-byte rows,
    * the reason the whole corpus index fits in memory) with e16's
    * integer-exact rule. Each query routes through the
    * nearest-cells kernel ([[probeRows]] with one probe) in the
    * same map-side pass that quantizes it, and ranking is the
    * bounded-heap aggregate — never a window.
    *
    * @return (query_id, label, rank, cand_id, sim_e6)
    */
  def ivfSq8TopK(emb: DataFrame, queries: DataFrame, labelCol: String,
      k: Int): DataFrame = {
    val assigned = sq8Quantize(probeRows(
        queries.select(col("vec_id"), col("embedding")), "embedding",
        centroidRows(emb, labelCol), 1, emb.schema(labelCol).dataType))
      .filter(col("sq") > 0)
      .select(col("vec_id").as("query_id"), col("label"), col("q").as("qq"),
        col("sq").as("qsq"))
    val cand = sq8Quantize(emb.select(col("vec_id"),
        col(labelCol).as("label"), col("embedding")))
      .filter(col("sq") > 0)
    cand.join(broadcast(assigned),
        cand("label") === assigned("label") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"),
        (expr("aggregate(zip_with(q, qq, (x, y) -> x * y), " +
          "CAST(0 AS BIGINT), (a, x) -> a + x)").cast("double")
          / (sqrt(col("sq").cast("double"))
            * sqrt(col("qsq").cast("double")))).as("sim"),
        col("vec_id").as("cand_id"),
        cand("label").cast("long").as("tag"))
      .groupBy("query_id")
      .agg(top_k_by_score(col("sim"), col("cand_id"), col("tag"), k)
        .as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "s")))
      .select(col("query_id"), col("s.tag").cast("long").as("label"),
        (col("pos") + 1).cast("long").as("rank"),
        col("s.cand_id").as("cand_id"),
        floor(col("s.sim") * 1000000 + 0.5).cast("long").as("sim_e6"))
  }

  /** Brute-force MAXIMUM-INNER-PRODUCT top-k — the recommender
    * serving score (user·item, where item norms CARRY signal, unlike
    * cosine which normalizes it away). The dot is an index-order
    * fold over exact per-element double products, so both engines
    * produce bit-identical scores. Same skeleton as
    * [[bruteForceTopK]]: broadcast probes × corpus scan, bounded
    * heap, no window.
    */
  def dotTopK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = emb.select(col("vec_id").as("cand_id"),
      col("embedding").as("cand_emb"))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("query_emb"))
    c.join(broadcast(q), col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        expr("aggregate(zip_with(cand_emb, query_emb, (x, y) -> " +
          "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE)," +
          " (a, v) -> a + v)").as("ip"))
      .groupBy("query_id")
      .agg(top_k_by_score(col("ip"), col("cand_id"), lit(0L), k)
        .as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "s")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("s.cand_id").as("cand_id"), col("s.sim").as("ip"))
  }

  /** MIPS by the norm-augmentation reduction (Bachrach et al. 2014,
    * "Speeding up the Xbox recommender…"): append
    * sqrt(M² − |x|²) to every candidate (M = the corpus max norm)
    * and 0 to every query — then augmented COSINE order equals
    * inner-product order, so any cosine index (IVF, SQ8, LSH) serves
    * MIPS unchanged. This is the operator a 100 TB serving stack
    * indexes with; [[dotTopK]] is its brute-force ground truth, and
    * OperatorsSpec pins ranking equality. M rides a broadcast
    * one-row aggregate — no collect.
    */
  def mipsViaAugmentation(emb: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    val norms = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("e"))
      .withColumn("n2",
        expr("aggregate(e, CAST(0.0 AS DOUBLE), (a, v) -> a + v * v)"))
    val m2 = norms.agg(max("n2").as("m2"))
    val cand = norms.crossJoin(broadcast(m2))
      .select(col("vec_id"),
        expr("concat(e, array(sqrt(greatest(m2 - n2, 0.0))))")
          .as("embedding"))
    val probes = queries.select(col("vec_id"),
      expr("concat(CAST(embedding AS ARRAY<DOUBLE>), array(0.0D))")
        .as("embedding"))
    bruteForceTopK(cand, probes, k)
  }

  /** IVF index-health card — the one table that decides WHEN to
    * retrain (e29; [[graft.sources.IndexPipeline.append]] encodes
    * against stale centroids by design, so health must be measured,
    * not assumed). Per trained cell:
    *
    *   - `n_vecs` — inverted-list length;
    *   - `fill_e6` — n·nlist/total ×1e6 (1e6 = perfectly balanced;
    *     the max/min spread is the probe-cost imbalance a skewed
    *     index pays on every query);
    *   - `drift_e6` — (1 − cos(assigned-mass mean, stored
    *     centroid)) ×1e6: how far the cell's actual population has
    *     moved off the centroid that routes queries to it. Appends
    *     from a shifted distribution push this up monotonically
    *     (SourcesSpec); a retrain resets it to ~0.
    *
    * Cells with no assigned vectors surface explicitly (n_vecs 0,
    * fill 0, drift null) — the e13 evaluation contract. One
    * partial-aggregated pass over the assignment (count + per-dim
    * mean share the cell-key exchange); totals ride as broadcast
    * one-row aggregates; integer arithmetic end-to-end (the mean is
    * e6-rounded per [[centroids]], so the cosine is
    * oracle-bit-identical).
    *
    * @param assigned (cell, embedding, …) the corpus with its cell
    *   column ([[graft.operators.KMeans.withCells]], or decoded index
    *   rows)
    * @param centroids (cell, cvec) the stored routing centroids
    * @return (cell, n_vecs, fill_e6, drift_e6) ordered by cell
    */
  def ivfHealthCard(assigned: DataFrame, centroids: DataFrame): DataFrame = {
    val a = assigned.select(col("cell"), col("embedding"))
    val counts = a.groupBy("cell").agg(count(lit(1)).as("n"))
    val means = centroidVectors(
        a.select(col("cell").as("label"), col("embedding")), "label")
      .select(col("label").as("cell"), col("cvec").as("mvec"))
    val tot = counts.agg(coalesce(sum("n"), lit(0L)).as("t"))
    val nlist = centroids.agg(count(lit(1)).as("nl"))
    centroids.select(col("cell"), col("cvec"))
      .join(counts, Seq("cell"), "left")
      .join(means, Seq("cell"), "left")
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(nlist))
      .select(col("cell").cast("long").as("cell"),
        coalesce(col("n"), lit(0L)).as("n_vecs"),
        // greatest(t, 1): an empty assignment reads fill 0 for every
        // cell instead of a divide-by-zero (DuckDB errors, Spark
        // nulls — neither is the honest answer).
        expr("CAST(coalesce(n, 0) * nl * 1000000 div greatest(t, 1)" +
          " AS BIGINT)").as("fill_e6"),
        (lit(1000000L) -
          floor(cosine_sim(col("mvec"), col("cvec")) * 1000000 + 0.5)
            .cast("long")).as("drift_e6"))
      .orderBy("cell")
  }

  /** SQ8 scalar quantization — the int8 storage layout of
    * e16_sq8_topk: appends `q` (per-vector symmetric int8 codes,
    * q_i = round_half_up(v_i · 127 / max|v|)) and `sq` (the exact
    * integer code norm Σ q_i²) and drops the raw embedding. One
    * map-side HOF pass over the row — STATELESS, so this single
    * definition serves the batch query and append-mode streams
    * (graft.streaming.AnnStream.sq8Encode) unchanged; any other
    * columns (e.g. an ingest timestamp) pass through. A zero vector
    * quantizes to all-zero codes with sq = 0 — consumers filter
    * `sq > 0` before cosine scoring.
    */
  def sq8Quantize(vectors: DataFrame): DataFrame =
    vectors
      .withColumn("q",
        expr("""transform(embedding, x -> CAST(floor(
               |  CAST(x AS DOUBLE) * CAST(127 AS DOUBLE)
               |  / array_max(transform(embedding,
               |      y -> abs(CAST(y AS DOUBLE)))) + 0.5)
               |  AS BIGINT))""".stripMargin.replaceAll("\n", " ")))
      .withColumn("sq",
        expr("aggregate(q, CAST(0 AS BIGINT), (a, x) -> a + x * x)"))
      .drop("embedding")

  /** BINARY (sign) quantization — the 1-bit-per-dimension end of the
    * compression family (e11 PQ: sub-vector codes; e16 SQ8: 8-bit
    * scalars; this: the sign bit): bit i is set iff v_i > 0, packed
    * MSB-first into TWO 32-bit words `hi` (dims 1-32) and `lo`
    * (dims 33-64) — the d4 SimHash two-half convention, so no shift
    * ever touches the sign bit and both engines' 64-bit arithmetic
    * stays exact. 8 bytes per vector vs 512: the layout that holds
    * tens of billions of codes in cluster memory, scanned with one
    * XOR + popcount per word. One map-side HOF pass, STATELESS —
    * serves batch and append-mode streams unchanged; extra columns
    * pass through.
    */
  def bqQuantize(vectors: DataFrame): DataFrame = {
    def half(off: Int): String =
      s"aggregate(slice(embedding, $off, 32), CAST(0 AS BIGINT), " +
        "(a, x) -> a * 2 + IF(CAST(x AS DOUBLE) > CAST(0 AS DOUBLE), " +
        "CAST(1 AS BIGINT), CAST(0 AS BIGINT)))"
    vectors
      .withColumn("hi", expr(half(1)))
      .withColumn("lo", expr(half(33)))
      .drop("embedding")
  }

  /** PRODUCT-quantization codebooks over the `vec` column of
    * (vec_id, vec, …): subspace m covers dims [m·subDims,
    * (m+1)·subDims) and gets its own 8-cell [[KMeans.train]] book
    * (2 Lloyd iterations). The M trains are independent action-driven
    * loops, so they run concurrently ([[Par.inParallel]], guide §2.6);
    * each is deterministic, so the books equal the sequential form's.
    */
  private[graft] def pqBooks(vectors: DataFrame, vec: String, m: Int,
      subDims: Int): IndexedSeq[Seq[(Long, Array[Double])]] =
    Par.inParallel((0 until m).map(i => () => codebook(KMeans.train(
      vectors.select(col("vec_id"), pqSub(vec, i, subDims).as("embedding")),
      k = 8, iters = 2)))).toIndexedSeq

  /** PQ encode: `vectors` plus one `code_m` per book — the nearest
    * cell of subspace m through the compiled nearest-centroid kernel,
    * map-side and stateless, so batch and append-mode streams share it
    * (graft.streaming.AnnStream.pqEncode); other columns pass through.
    */
  private[graft] def pqQuantize(vectors: DataFrame, vec: String,
      books: Seq[Seq[(Long, Array[Double])]], subDims: Int): DataFrame =
    books.zipWithIndex.foldLeft(vectors) { case (df, (book, m)) =>
      df.withColumn(s"code_$m", nearest_centroid(pqSub(vec, m, subDims), book))
    }

  private def pqSub(vec: String, m: Int, subDims: Int): Column =
    expr(s"slice($vec, ${m * subDims + 1}, $subDims)")

  /** Exhaustive HAMMING search over the packed sign codes — the
    * candidate-generation pass a binary-quantized index serves:
    * agreement = 64 − popcount(hi⊕qhi) − popcount(lo⊕qlo), ranked
    * (agreement DESC, cand_id ASC). Integer arithmetic end-to-end —
    * no float leaves either engine. Scale shape: the probe batch is
    * the broadcast side riding the one corpus scan of 8-byte codes;
    * ranking is the bounded-heap aggregate (≤ partitions·k candidates
    * ship per query, never a corpus-wide window sort).
    *
    * @return (query_id, rank, cand_id, agree)
    */
  def bqTopK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val cand = bqQuantize(emb.select(col("vec_id"), col("embedding")))
    val probes = bqQuantize(queries.select(col("vec_id"), col("embedding")))
      .select(col("vec_id").as("query_id"),
        col("hi").as("qhi"), col("lo").as("qlo"))
    cand.join(broadcast(probes), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        (lit(64L) - expr("CAST(bit_count(hi ^ qhi) AS BIGINT)")
          - expr("CAST(bit_count(lo ^ qlo) AS BIGINT)")).as("agree"))
      .groupBy("query_id")
      .agg(top_k_by_score(col("agree").cast("double"), col("cand_id"),
        lit(0L), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "s")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("s.cand_id").as("cand_id"),
        col("s.sim").cast("long").as("agree"))
  }

  /** MMR (maximal-marginal-relevance) DIVERSITY re-ranking — the
    * retrieval step after top-k when near-duplicate hits waste the
    * result page (RAG context windows, dedup-aware search):
    * greedily select k of the `poolK` retrieved candidates, each
    * pick maximizing lambda·relevance − (1−lambda)·max-similarity-
    * to-already-picked (Carbonell & Goldstein 1998). Arithmetic is
    * on the e6 integer grid with lambda scaled ×10 (score =
    * lambda10·rel_e6 − (10−lambda10)·maxdiv_e6), ties to the
    * smaller cand_id — fully deterministic, so the greedy SEQUENCE
    * oracle-checks exactly. Scale shape: stage 1 is the pinned
    * bounded-heap retrieval; the greedy runs as ONE higher-order
    * aggregate per query over its own ≤ poolK gathered candidates
    * (state ≤ poolK×dims — the e28 RobustPrune discipline; pairwise
    * similarities never materialize as rows, and nothing regroups
    * the corpus).
    *
    * @return (query_id, rank, cand_id, score) — score the greedy
    *   objective at selection time on the ×10 e6 grid
    */
  def mmrRerank(emb: DataFrame, queries: DataFrame, k: Int,
      poolK: Int, lambda10: Int = 7): DataFrame = {
    require(lambda10 >= 0 && lambda10 <= 10,
      s"lambda10 must be in [0, 10], got $lambda10")
    require(poolK >= k, s"pool ($poolK) must cover k ($k)")
    val mu = 10 - lambda10
    val cands = bruteForceTopK(emb, queries, poolK)
      .select(col("query_id"), col("cand_id"),
        floor(col("sim") * 1000000 + 0.5).cast("long").as("re6"))
    val en = withNorms(emb)
      .select(col("vec_id").as("cand_id"), col("e"), col("nrm"))
    val st = "struct<sc:bigint,nbr:bigint,re6:bigint," +
      "nrm:double,e:array<double>>"
    // The in-lambda e6 cosine (precomputed nrm, double-cast arrays)
    // is bit-identical to the codegen kernel — the e28 parity rule.
    val score = s"($lambda10 * c.re6 - $mu * coalesce(" +
      "aggregate(acc, cast(null as bigint), (m, s) -> greatest(" +
      "coalesce(m, -2000000), " +
      "cast(floor(aggregate(zip_with(s.e, c.e, (x, y) -> x * y), " +
      "cast(0 as double), (a, v) -> a + v) / (s.nrm * c.nrm) " +
      "* 1000000.0d + 0.5d) as bigint))), cast(0 as bigint)))"
    cands.join(en, "cand_id")
      .groupBy("query_id")
      .agg(array_sort(collect_list(struct(col("cand_id").as("nbr"),
        col("re6"), col("nrm"), col("e")))).as("cands"))
      .select(col("query_id"), expr(
        s"""aggregate(sequence(1, $k),
           |  cast(array() as array<$st>),
           |  (acc, step) -> array_append(acc,
           |    aggregate(cands, cast(null as $st),
           |      (bst, c) -> if(exists(acc, s -> s.nbr = c.nbr), bst,
           |        if(bst.sc is null or $score > bst.sc,
           |          named_struct('sc', $score, 'nbr', c.nbr,
           |            're6', c.re6, 'nrm', c.nrm, 'e', c.e),
           |          bst)))))""".stripMargin
          .replaceAll("\n\\s*", " ")).as("sel"))
      .select(col("query_id"), posexplode(col("sel")).as(Seq("pos", "s")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("s.nbr").as("cand_id"), col("s.sc").as("score"))
  }
}

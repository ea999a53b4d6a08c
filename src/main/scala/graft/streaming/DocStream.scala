package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextHash
import graft.functions.TextHashExprs.token_hashes
import graft.operators.{Dedup, PiiScrub, Sampling, TextAnalysis}

/** Structured Streaming twins of the document-pipeline surface
  * (SURVEY.md §2 block D): the curation steps a training corpus runs
  * continuously as new documents arrive.
  *
  * The stateless steps (PII scrub, quality gating) are literally the
  * batch definitions — a map-side column plan is source-agnostic, so
  * ONE definition serves both engines. The stateful step (exact
  * dedup) uses `dropDuplicatesWithinWatermark`, which keeps a key in
  * state only until the watermark passes it — bounded state on an
  * unbounded stream, unlike plain streaming `dropDuplicates` whose
  * key set grows forever.
  */
object DocStream {

  /** PII scrub over an arriving document stream — the batch
    * [[PiiScrub.scrub]] plan applied unchanged (stateless, append
    * mode, no watermark needed).
    */
  def scrubbed(docs: DataFrame): DataFrame =
    PiiScrub.scrub(docs)
      .select(col("doc_id"), col("n_emails"), col("n_phones"),
        col("scrubbed"))

  /** The d13 corpus-curation gate over an arriving stream — the batch
    * quality/language/length filters applied unchanged (stateless
    * map-side column math, append mode, no watermark needed). One
    * definition, two engines.
    */
  def qualityGated(docs: DataFrame, minScore: Double = 0.63,
      minTokens: Long = 20L, maxTokens: Long = 10000L): DataFrame =
    qualityGatedFull(docs, minScore, minTokens, maxTokens)
      .select(col("doc_id"),
        floor(col("quality_score") * 10000 + 0.5).cast("long")
          .as("quality_score_e4"))

  /** [[qualityGated]] keeping the FULL document row — the
    * composition form downstream stages (PII scrub, chunking, the
    * file job) consume; `qualityGated` is its narrow projection.
    */
  def qualityGatedFull(docs: DataFrame, minScore: Double = 0.63,
      minTokens: Long = 20L, maxTokens: Long = 10000L): DataFrame =
    TextAnalysis.quality(docs)
      .filter(col("predicted") === "en" &&
        col("quality_score") >= minScore &&
        col("n_tokens").between(minTokens, maxTokens))

  /** Context-window chunking over an arriving stream — the batch
    * [[TextAnalysis.chunk]] plan applied unchanged (a stateless
    * map-side explode is source-agnostic; one definition, both
    * engines): long documents split into training-window chunks as
    * they arrive, ahead of the downstream packing/dedup steps.
    */
  def chunked(docs: DataFrame, chunkTokens: Int = 32,
      stride: Int = 24): DataFrame =
    TextAnalysis.chunk(docs, chunkTokens, stride)

  /** Live per-stratum quantile estimates over the arriving corpus —
    * the batch d38 [[Sampling.hashSampleQuantiles]] plan UNCHANGED in
    * complete output mode: the bottom-k-by-hash sample is a mergeable
    * aggregate (the bottom-k of a union is the bottom-k of the
    * per-side bottom-ks), so each microbatch's partial heaps fold
    * into the state-store buffer exactly like map-side partials fold
    * in batch. State is strata × O(k) BY CONSTRUCTION — no watermark
    * needed, the aggregate itself is the bound.
    */
  def sampleQuantiles(docs: DataFrame, k: Int = 256): DataFrame =
    Sampling.hashSampleQuantiles(
      docs.select(col("lang"), col("doc_id"), col("n_chars")),
      "lang", "doc_id", "n_chars", k, outSuffix = "chars")

  /** Per-language HLL registers over an arriving stream — the d60
    * aggregate applied unchanged: `hll_sketch`'s 2^p register-byte
    * buffer IS the streaming state (merged micro-batch by
    * micro-batch under complete/update mode), so a continuously
    * ingesting corpus keeps LIVE per-language distinct-shingle
    * cardinalities in O(2^p) state per group — no growing key set
    * anywhere. Registers are a pure function of the arrived SET, so
    * after any prefix the stream's answer equals the batch answer on
    * that prefix exactly (spec-pinned). One definition, two engines.
    */
  def hllPerLang(docs: DataFrame, p: Int = 6): DataFrame = {
    import graft.functions.HllSketch.hll_sketch
    Dedup.shingleRows(docs, col("lang"))
      .select(col("lang"), explode(col("sh")).as("s0"))
      .select(col("lang"),
        (col("s0") * Sampling.Mixer % Sampling.MixMod).as("h"))
      .groupBy("lang")
      .agg(hll_sketch(col("h"), p).as("regs"))
  }

  /** Streaming exact dedup: first arrival of each normalized-text key
    * survives; later copies arriving within `watermark` of event time
    * are dropped, and the key's state is reclaimed once the watermark
    * passes — the dedup window a continuously-ingesting corpus
    * actually wants (an exact forever-dedup belongs in the batch
    * compaction pass, d1).
    */
  def dedup(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .select(col("doc_id"), col("ingest_ts"),
        lower(trim(col("text"))).as("text_key"))
      .withWatermark("ingest_ts", watermark)
      .dropDuplicatesWithinWatermark("text_key")

  /** Streaming incremental near-dup detection — the d21 batch
    * operator ([[Dedup.minhashLshAgainst]]) in its natural streaming
    * form: arriving documents are MinHash-banded map-side (the same
    * compiled kernels as batch) and checked against the STATIC corpus
    * band table via a stream-static equi-join on (band, sig) —
    * stateless, so the corpus side is exactly the precomputed table a
    * real pipeline maintains. A pair colliding in several bands would
    * verify repeatedly, so candidates pass through
    * `dropDuplicatesWithinWatermark` on (da, db) first — state
    * bounded by the watermark, not the stream — and exact Jaccard
    * verification then runs once per surviving pair against the
    * static shingle sets.
    *
    * @param delta streaming (doc_id, ingest_ts, text)
    * @param corpusDocs static (doc_id, text) — the already-kept corpus
    * @return streaming (da = delta doc, db = corpus doc, jaccard_e6)
    *   with Jaccard ≥ `minJaccard`, matching the batch operator
    */
  def incrementalDedup(delta: DataFrame, corpusDocs: DataFrame,
      minJaccard: Double, watermark: String = "1 hour"): DataFrame =
    incrementalDedupAgainstSets(delta, Dedup.shingleSets(corpusDocs),
      minJaccard, watermark)

  /** [[incrementalDedup]] against a PRECOMPUTED corpus shingle-set
    * table (doc_id, sh) — the form a production pipeline runs: the
    * static side of a stream-static join re-executes every
    * micro-batch, so at scale it must be a maintained parquet table
    * (bucketed by doc_id; its derived band table by (band, sig)),
    * not a re-derivation from raw text. The docs-input overload
    * exists for parity tests and ad-hoc runs.
    */
  def incrementalDedupAgainstSets(delta: DataFrame, corpusSets: DataFrame,
      minJaccard: Double, watermark: String = "1 hour"): DataFrame = {
    // Stream side: per-doc shingle sets + band rows through the batch
    // builders, all pure map-side kernel expressions (ingest_ts rides
    // along for the watermark, the set through the candidate join).
    val dSets = Dedup.shingleRows(delta, col("doc_id").as("da"),
      col("ingest_ts"))
    verifyAgainstSets(Dedup.bandRows(dSets, "da", "ingest_ts", "sh")
      .withWatermark("ingest_ts", watermark)
      .join(Dedup.bandTable(corpusSets).withColumnRenamed("doc_id", "db"),
        Seq("band", "sig")), corpusSets, minJaccard)
  }

  /** The candidate tail shared by both streaming incremental twins
    * (MinHash bands and winnowing fingerprints): multi-key collisions
    * dedup within the watermark, then the batch operators' exact
    * Jaccard verify ([[Dedup.verifyJaccard]]) runs on the set each
    * arriving doc carried through its candidate join. Input must
    * carry (da, ingest_ts, sh, db).
    */
  private def verifyAgainstSets(cands: DataFrame, corpusSets: DataFrame,
      minJaccard: Double): DataFrame =
    Dedup.verifyJaccard(cands
      .select(col("da"), col("ingest_ts"), col("sh").as("sha"), col("db"))
      .dropDuplicatesWithinWatermark("da", "db"), corpusSets, minJaccard)

  /** Streaming incremental WINNOWING near-dup detection —
    * [[Dedup.winnowingAgainst]] (the d82 candidate path) in its
    * streaming form, the ~2.5×-cheaper candidate stream next to
    * [[incrementalDedup]]'s MinHash bands, WITH the shared-run
    * guarantee (any ≥ 6-token run shared with a corpus doc yields a
    * shared fingerprint, subject to the corpus-side df cap):
    * arriving documents are winnowing-fingerprinted map-side (the
    * SAME selection kernel as batch — one definition), candidates
    * come from a stream-static equi-join on the fingerprint hash
    * against the maintained corpus table, multi-fingerprint
    * collisions dedup through `dropDuplicatesWithinWatermark`
    * (state bounded by the watermark), and exact Jaccard verifies
    * once per surviving pair against the static shingle sets.
    */
  def incrementalWinnowDedup(delta: DataFrame, corpusDocs: DataFrame,
      minJaccard: Double, watermark: String = "1 hour",
      k: Int = 3, w: Int = 4,
      maxFpDf: Int = Dedup.DefaultMaxFpDf): DataFrame =
    incrementalWinnowDedupAgainst(delta,
      Dedup.winnowFingerprintTable(corpusDocs, k, w, maxFpDf),
      Dedup.shingleSets(corpusDocs), minJaccard, watermark, k, w)

  /** [[incrementalWinnowDedup]] against PRECOMPUTED corpus tables —
    * the production form ([[incrementalDedupAgainstSets]]'
    * discipline): `corpusFps` = [[Dedup.winnowFingerprintTable]]
    * maintained bucketed by hash, `corpusSets` = the shingle-set
    * table bucketed by doc_id.
    */
  def incrementalWinnowDedupAgainst(delta: DataFrame,
      corpusFps: DataFrame, corpusSets: DataFrame, minJaccard: Double,
      watermark: String = "1 hour", k: Int = 3, w: Int = 4): DataFrame = {
    // Stream side: shingle set + fingerprint hashes in ONE map-side
    // pass (the set rides through the candidate join so the verify
    // needs no second stream-side tokenize).
    val dRows = Dedup.shingleRows(delta, col("doc_id").as("da"),
      col("ingest_ts"), col("text"))
    verifyAgainstSets(TextAnalysis.winnowingFingerprintHashes(dRows, k, w)
      .withWatermark("ingest_ts", watermark)
      .join(corpusFps.select(col("doc_id").as("db"), col("hash")),
        Seq("hash")), corpusSets, minJaccard)
  }

  /** Ingestion-time NOVELTY scoring — d55's audit in its incremental
    * form: each arriving document is scored by how much of it the
    * CORPUS already contains (fraction of its 8-grams present in the
    * maintained corpus gram table), the gate an ingestion pipeline
    * applies before paying to keep a document. Stream side is one
    * map-side kernel pass (gram hashes from the doc's own tokens);
    * the corpus side is a static distinct-gram table joined
    * stream-static on the gram hash — at scale a maintained bucketed
    * parquet table, exactly like [[incrementalDedupAgainstSets]]'s
    * band table; the per-doc rollup groups on (doc_id, ingest_ts) so
    * the aggregation is watermark-bounded in append mode. Docs under
    * 8 tokens carry no gram and emit no row — matching d55.
    *
    * @param delta streaming (doc_id, ingest_ts, text)
    * @param corpusGrams static distinct gram hashes, one column `g`
    * @return (doc_id, n_grams, n_seen, novelty_e4)
    */
  def noveltyAgainst(delta: DataFrame, corpusGrams: DataFrame,
      watermark: String = "1 hour"): DataFrame = {
    import graft.functions.TextHashExprs.ngram_hashes
    val grams = delta.select(col("doc_id"), col("ingest_ts"),
      explode(ngram_hashes(
        token_hashes(expr(TextHash.sparkTokens("text"))), 8)).as("g"))
    grams
      .withWatermark("ingest_ts", watermark)
      .join(corpusGrams.select(col("g"), lit(1).as("known")),
        Seq("g"), "left_outer")
      .groupBy(col("doc_id"), col("ingest_ts"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("known"), lit(0))).cast("long").as("n_seen"))
      .select(col("doc_id"), col("n_grams"), col("n_seen"),
        floor((lit(1.0) - col("n_seen").cast("double")
          / col("n_grams")) * 10000 + 0.5).cast("long")
          .as("novelty_e4"))
  }

  /** The corpus side of [[noveltyAgainst]] derived from raw docs —
    * the parity/ad-hoc overload; production maintains the distinct
    * gram table as a bucketed parquet table instead.
    */
  def corpusGramTable(corpusDocs: DataFrame): DataFrame = {
    import graft.functions.TextHashExprs.ngram_hashes
    Dedup.tokenHashes(corpusDocs)
      .select(explode(ngram_hashes(col("th"), 8)).as("g"))
      .distinct()
  }
}

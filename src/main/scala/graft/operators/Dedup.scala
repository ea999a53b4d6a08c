package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextHash
import graft.functions.TextHashExprs._

/** Deduplication operators for the training-data pipeline: exact,
  * n-gram Jaccard, MinHash+LSH, SimHash. All signatures are the
  * shared deterministic TextHash spec, so results are reproducible
  * across engines and runs.
  *
  * Scale notes (100 TB corpus):
  *   - Exact dedup is a single hash-partitioned groupBy on the
  *     normalized-text key: map-side partial agg collapses
  *     within-partition copies before the exchange.
  *   - The Jaccard prefix-index join and both LSH bucket joins
  *     shuffle on (signature) keys — candidate generation never
  *     compares all O(n²) pairs, only bucket-colliding ones (and
  *     since round 14 only prefix-shingle collisions passing the
  *     ppjoin positional bound).
  *   - Per-document signatures (token hashes, shingles, MinHash,
  *     SimHash) are pure map-side higher-order functions inside
  *     whole-stage codegen — zero shuffles, no UDFs.
  *
  * Every pair operator runs one candidate → verify chain, each step
  * written once below: token hashes → shingle sets
  * ([[shingleRows]]) → MinHash band rows ([[bandRows]]) or a
  * df-capped rare-key index ([[rareKeyed]]) → bucket self-join
  * ([[bucketPairs]]) → exact Jaccard verify ([[verifyJaccard]]). The
  * streaming twins (graft.streaming.DocStream) call the same steps.
  *
  * Cache lifetime: the pair operators persist their signature/set
  * tables (MEMORY_AND_DISK), all through the one helper [[cached]],
  * because the RETURNED plan reads them twice — candidate generation
  * and exact verification — so the blocks must outlive this call and
  * cannot be unpersisted here. The caller owns the lifetime:
  * `df.sparkSession.catalog.clearCache()` (or unpersisting via the
  * plan's cached leaves) after materializing the result;
  * unreferenced blocks otherwise age out via LRU, which is safe
  * (MEMORY_AND_DISK recomputes) but not free.
  */
object Dedup {

  /** Default document-frequency cap for candidate-generating shingles
    * (see [[ngramJaccardPairs]]). At the driver's 500-doc correctness
    * scale this is 20% of the corpus; at web scale the cap is what
    * keeps any single inverted-index bucket's self-join bounded.
    */
  val DefaultMaxShingleDf = 100

  /** Fingerprint-df cap for [[winnowingPairs]] — deliberately tighter
    * than the shingle cap: winnowing selection is deterministic, so a
    * globally-small gram hash is selected in EVERY doc containing it
    * and fingerprint df approaches gram df exactly on the boilerplate
    * vocabulary the cap exists to exclude (MOSS §5 drops very common
    * fingerprints for the same reason). Candidate volume is bounded
    * by cap × |fingerprint rows| — linear in the corpus — and at the
    * three correctness SFs outputs are bit-identical to cap 100 and
    * to d2's pair set; under sf1 saturation the tighter cap trades
    * df-starved pairs (51 vs d2's 77) for a ~5× smaller verify, the
    * documented df-cutoff behavior.
    */
  val DefaultMaxFpDf = 20

  /** Exact dedup on normalized text. Returns one row per duplicate
    * group: the kept (minimum) doc id and the copy count.
    *
    * The groupBy key is the 128-bit md5 of the normalized text, not
    * the text itself: the exchange then carries 16-byte digests
    * instead of the corpus's full distinct text (the [[lineDedup]]
    * idiom). At 128 bits, collisions are cryptographically
    * negligible even at trillions of distinct documents, so the
    * digest groups are exactly the normalized-text groups and the
    * output is unchanged.
    */
  def exactDupGroups(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(lower(trim(col("text")))).as("norm_digest"))
      .agg(min("doc_id").as("kept_doc_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .select("kept_doc_id", "n_copies")

  /** (doc_id, th: array<bigint>) token hashes, multiplicity kept.
    * Compiled kernel expression (TextHashKernels) — same values as
    * the TextHash HOF formulation, ~40x faster.
    */
  def tokenHashes(docs: DataFrame): DataFrame = hashRows(docs, col("doc_id"))

  private def hashRows(docs: DataFrame, keep: Column*): DataFrame =
    docs.select(keep :+
      token_hashes(expr(TextHash.sparkTokens("text"))).as("th"): _*)

  /** (doc_id, sh: array<bigint>) distinct 3-gram shingle hashes for
    * docs with ≥ 3 tokens.
    */
  def shingleSets(docs: DataFrame): DataFrame = shingleRows(docs, col("doc_id"))

  /** `keep` plus `sh`, the distinct 3-gram shingle hashes of `text`,
    * for docs with ≥ 3 tokens — the one shingle builder of the batch
    * operators and their streaming twins. Lazy: nothing is
    * persisted, so streaming frames pass through it.
    */
  private[graft] def shingleRows(docs: DataFrame, keep: Column*): DataFrame =
    hashRows(docs, keep: _*)
      .filter(size(col("th")) >= 3)
      .withColumn("sh", shingle_set(col("th"))).drop("th")

  /** Caches `df` for a returned plan that reads it more than once —
    * the file's one persist; the caller releases it (header note).
    */
  private def cached(df: DataFrame): DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  private def persistedSets(docs: DataFrame): DataFrame =
    cached(shingleSets(docs))

  /** (doc_id, s) — one row per (doc, shingle). */
  private def inverted(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), explode(col("sh")).as("s"))

  /** The rows of `rows` whose `key` occurs in at most `cap` rows (its
    * document frequency, rows being distinct per (doc, key)): the
    * df-capped rare-key index the candidate self-joins bucket on.
    */
  private def rareKeyed(rows: DataFrame, key: String, cap: Int): DataFrame =
    rows.join(rows.groupBy(key).agg(count(lit(1)).as("df"))
      .filter(col("df") <= cap).select(key), key)

  /** Distinct doc pairs (da < db) sharing a bucket: the self-join of
    * (doc_id, keys…) rows on equal `keys`.
    */
  private def bucketPairs(rows: DataFrame, keys: String*): DataFrame =
    rows.as("a").join(rows.as("b"),
        keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()

  /** All-pairs n-gram Jaccard ≥ `minJaccard` via PREFIX-FILTERED
    * candidates (round 14 — see [[ngramJaccardFromSets]] for the
    * principle and the equivalence argument): only each doc's
    * (1−t)-fraction rarest-shingle prefix is indexed and self-joined,
    * then exact Jaccard verifies on the full shingle sets. The
    * shuffle key is the shingle hash, no pair without a shared
    * prefix shingle is ever materialized, and — unlike the round-2
    * full inverted index — a SATURATED vocabulary no longer turns
    * candidate generation quadratic (prefix buckets are rare by
    * construction).
    *
    * `maxShingleDf` is the frequent-shingle candidate LAW (kept
    * bit-identical across the round-14 rewrite, now enforced as a
    * post-verify filter on the few surviving pairs): a pair whose
    * every shared shingle has document frequency above the cap is
    * not emitted — verification still scores the full sets. The
    * TRADEOFF this buys: a duplicate
    * CLUSTER larger than the cap makes its own shingles frequent, so
    * pairs whose every shared shingle sits in such a cluster are not
    * generated — the standard df-cutoff behavior, and why this
    * operator is the exact-Jaccard refinement path, not the primary
    * dedup: [[minhashLshPairs]] buckets on doc-level band signatures
    * (df-independent — a million-copy cluster is one bucket, not a
    * quadratic shingle join) and loses nothing to this cap. Size the
    * cap to the corpus (the default suits the 500-doc correctness
    * scale); the oracle mirrors whatever cap is used.
    */
  def ngramJaccardPairs(docs: DataFrame, minJaccard: Double,
      maxShingleDf: Int = DefaultMaxShingleDf): DataFrame =
    ngramJaccardFromSets(persistedSets(docs), minJaccard, maxShingleDf)

  /** PREFIX-FILTERED candidate path over PRE-persisted shingle sets
    * (the shared entry for the direct operator and
    * [[nearDupPairsAuto]], whose routing scalar already materialized
    * the sets — reusing them saves the second corpus tokenize pass).
    *
    * Candidate generation is the prefix-filtering principle
    * (Chaudhuri et al. ICDE'06; Bayardo et al. WWW'07 All-Pairs;
    * Xiao et al. WWW'08 ppjoin): J(A,B) ≥ t forces
    * |A∩B| ≥ ⌈t·|X|⌉ for BOTH sets, so under any shared global
    * element order the two (|X| − ⌈t·|X|⌉ + 1)-prefixes must
    * intersect — only PREFIX shingles need indexing. With the global
    * order (df ASC, hash ASC), prefixes hold each doc's RAREST
    * shingles, which is what makes the round-12 saturation cliff go
    * away: the old full inverted self-join was O(Σ df²) and a
    * saturated vocabulary (every df near the cap) made it quadratic
    * — the measured 374 s cold / 79 GB oracle spill at sf1. Prefix
    * buckets are rare by construction, and the index is ~(1−t) of
    * the full one (t=0.8 ⇒ 5× smaller).
    *
    * The threshold enters the prefix length as the EXACT integer
    * ⌈n·⌊t·10⁶⌋/10⁶⌉ (floor-scaled t is ≤ t ⇒ the bound stays
    * sound; no float boundary can diverge between engines).
    *
    * Known cost edge: a giant EXACT-duplicate cluster gives every
    * member an identical prefix, so its bucket self-joins O(c²)
    * pairs that the df-cap law then discards (the old path generated
    * none of them — but was quadratic on saturated corpora instead).
    * Exact copies are d1's job: run [[exactDupGroups]] upstream, as
    * the d54 funnel does, and cluster-heavy corpora belong on the
    * df-independent [[minhashLshPairs]] route ([[nearDupPairsAuto]]
    * picks it automatically).
    *
    * Output is UNCHANGED from the round-2 inverted-index form: the
    * documented df-cap candidate law ("pairs whose every shared
    * shingle is frequent are not generated") is preserved by an
    * equivalent post-verify filter — a surviving pair must still
    * share ≥ 1 shingle with df ≤ `maxShingleDf` — applied to the
    * handful of verified pairs instead of the whole candidate space.
    * OperatorsSpec pins the path against brute-force
    * all-pairs ∩ share-rare on randomized fixtures.
    */
  private def ngramJaccardFromSets(sets: DataFrame, minJaccard: Double,
      maxShingleDf: Int): DataFrame = {
    val inv = inverted(sets)
    // df per shingle is a partial-agg count on the same key the
    // candidate self-join shuffles on, so every join below is
    // co-partitioned.
    val dfS = inv.groupBy("s").agg(count(lit(1)).as("df"))
    val tE6 = math.floor(minJaccard * 1e6).toLong
    val wDoc = Window.partitionBy("doc_id").orderBy("df", "s")
    val pref = inv.join(dfS, "s")
      .join(sets.select(col("doc_id"), size(col("sh")).as("n")),
        "doc_id")
      .withColumn("rk", row_number().over(wDoc))
      // Integral `div`, not `/` (Column./ is double division and a
      // float boundary could disagree with the oracle's `//`), and
      // BIGINT arithmetic throughout: size() is INT, so `n * 800000`
      // overflows 32 bits at n ≥ 2685 distinct shingles — ANSI mode
      // (Spark 4's default) would throw on a ~2700-token document.
      // The oracle's n is count(*) OVER — already BIGINT.
      .filter(col("rk") <=
        expr(s"n - (CAST(n AS BIGINT) * $tE6 + 999999) div 1000000 + 1"))
      .select("doc_id", "s", "rk", "n")
    // ppjoin's POSITIONAL filter (Xiao et al. WWW'08 §3.2), applied
    // per shared prefix element before the distinct: overlap can use
    // only elements at rank ≥ the witness's on each side, so
    // 1 + min(n_a − rk_a, n_b − rk_b) upper-bounds it; a J ≥ t pair
    // needs overlap ≥ α = ⌈t·(n_a+n_b)/(1+t)⌉ and its FIRST common
    // element always passes the test, so no true pair is lost. On
    // the saturated sf1 corpus this prunes the candidate space a
    // further ~8× (17.6M → 2.25M pairs) — the margin that keeps the
    // DuckDB oracle replay inside the sweep budget.
    val alpha =
      expr(s"($tE6 * (CAST(a.n AS BIGINT) + b.n) " +
        s"+ ${1000000L + tE6} - 1) div ${1000000L + tE6}")
    val candidates = pref.as("a").join(pref.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .filter(lit(1) +
        least(col("a.n") - col("a.rk"), col("b.n") - col("b.rk"))
        >= alpha)
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    // Eagerly cut: the verified pair list feeds BOTH the rare-share
    // probe and the final semi-join — without the cut the whole
    // prefix-join + verify subtree plans twice per action (the
    // graphBeamSearch double-reference pattern); the cut is
    // near-dup-pair-sized, never corpus-sized.
    import graft.operators.Checkpointing.CutOps
    val verified = verifyPairs(candidates, sets, sets, minJaccard)
      .lineageCut
    // The df-cap candidate law, post-verify: the old path only ever
    // GENERATED pairs sharing a rare shingle; equivalently, drop the
    // (few) verified pairs that share none. The check joins the
    // verified pair list (near-dup-sized, never corpus-sized)
    // against the rare slice of the inverted index.
    val invRare = rareKeyed(inv, "s", maxShingleDf)
    val sharesRare = verified.select("da", "db")
      .join(invRare.select(col("doc_id").as("da"), col("s")), "da")
      .join(invRare.select(col("doc_id").as("db"), col("s")),
        Seq("db", "s"))
      .select("da", "db").distinct()
    verified.join(sharesRare, Seq("da", "db"), "left_semi")
  }

  /** Near-dup pairs with a vocabulary-SATURATION guard (the round-12
    * d54 fix): route between the exact-candidate inverted-index path
    * and the MinHash-LSH path by the corpus's measured mean shingle
    * document frequency. [[ngramJaccardPairs]]' df-cap prunes only
    * while most shingles are RARE; on a saturated vocabulary (mean
    * df approaching the cap — the sf1.0 synthetic corpus, or any
    * adversarially templated real input) the cap stops pruning and
    * the candidate join silently goes quadratic (measured 374 s cold
    * of d54's 414-575 s at sf1.0). [[minhashLshPairs]] buckets on
    * doc-level band signatures — df-independent — so it is the
    * correct gate there (d3 measured 2.2× on the same 10× step).
    *
    * The routing scalar is ONE bounded aggregate over the exploded
    * shingle sets (occurrences + distinct count — a linear
    * partial-agg scan, never pair work): saturated ⇔
    * mean df ≥ maxShingleDf/4, compared in exact integers
    * (occ ≥ (cap/4)·uniq). Measured means on the synthetic corpus:
    * 1.6 / 9.6 / 88.7 at sf0.01/0.1/1.0 — the correctness SFs sit
    * 2.6×+ under the threshold (routed = direct path bit-for-bit,
    * which is what the d54 oracle mirrors) and sf1.0 sits 1.8×+
    * above it. Both branches verify exact Jaccard ≥ `minJaccard`;
    * they differ only in candidate GENERATION, so routing trades
    * recall of df-starved pairs exactly as the two operators'
    * Scaladocs document.
    */
  def nearDupPairsAuto(docs: DataFrame, minJaccard: Double,
      maxShingleDf: Int = DefaultMaxShingleDf): DataFrame =
    nearDupPairsAutoRouted(docs, minJaccard, maxShingleDf).drop("route")

  /** [[nearDupPairsAuto]] with the routing decision EMITTED: every
    * pair carries a constant `route` column ('direct' | 'lsh') — the
    * round-15 advice: the two routes have different RECALL regimes
    * (the LSH branch's per-pair bucket probability is
    * 1−(1−j⁴)⁴ ≈ 23% at j=0.5), so an audit artifact drawn from the
    * pairs (d68's threshold curve) must say which regime drew it
    * rather than relying on recall happening to be 100%. The route
    * is a deterministic function of the corpus (the saturation
    * scalar below), so oracle mirrors compute it too and the column
    * hash-checks like any other.
    */
  def nearDupPairsAutoRouted(docs: DataFrame, minJaccard: Double,
      maxShingleDf: Int = DefaultMaxShingleDf): DataFrame = {
    require(maxShingleDf >= 1,
      s"maxShingleDf must be >= 1, got $maxShingleDf")
    val sets = persistedSets(docs)
    // The routing head() materializes the persisted sets, so the
    // chosen path reuses the SAME cache — one corpus tokenize pass
    // total, not one for the scalar plus one for the gate.
    val st = sets.select(explode(col("sh")).as("s"))
      .agg(count(lit(1)).as("occ"),
        countDistinct("s").as("uniq"))
      .head()
    val (occ, uniq) = (st.getLong(0), st.getLong(1))
    // Exact rational compare (occ/uniq >= cap/4 as cross-products):
    // integer-dividing the cap first would floor cap/4 to <= 1 for
    // caps under 8 and silently route every diverse corpus to LSH.
    val saturated = uniq > 0 && 4L * occ >= maxShingleDf.toLong * uniq
    val pairs =
      if (saturated) minhashLshFromSets(sets, minJaccard)
      else ngramJaccardFromSets(sets, minJaccard, maxShingleDf)
    pairs.withColumn("route", lit(if (saturated) "lsh" else "direct"))
  }

  /** Asymmetric CONTAINMENT near-dup pairs: C(A⊆B) = |A∩B| / |A| on
    * the shingle sets — catches what symmetric Jaccard structurally
    * can't: a short document contained in a much longer one (quote
    * expansion, snippet-vs-article, boilerplate wrapping) has high
    * containment but Jaccard ≈ |A|/|B| → 0 as B grows. Candidates
    * come from the SAME df-capped inverted index as
    * [[ngramJaccardPairs]] (shuffle key = shingle hash, no pair
    * scan); both directions are verified exactly and a pair survives
    * if EITHER direction clears `minContainment`.
    */
  def containmentPairs(docs: DataFrame, minContainment: Double,
      maxShingleDf: Int = DefaultMaxShingleDf): DataFrame = {
    val sets = persistedSets(docs)
    val candidates =
      bucketPairs(rareKeyed(inverted(sets), "s", maxShingleDf), "s")
    intersected(withSetA(candidates, sets), sets)
      .withColumn("ca", col("inter").cast("double") / size(col("sha")))
      .withColumn("cb", col("inter").cast("double") / size(col("shb")))
      .filter(greatest(col("ca"), col("cb")) >= minContainment)
      .select(col("da"), col("db"),
        floor(col("ca") * 1000000 + 0.5).cast("long").as("cont_a_in_b_e6"),
        floor(col("cb") * 1000000 + 0.5).cast("long").as("cont_b_in_a_e6"))
  }

  /** WINNOWING-fingerprint near-dup pairs (Schleimer et al. 2003 §4
    * — the detection step their fingerprints exist for; d81 computes
    * the fingerprints, this joins them): candidates are doc pairs
    * sharing a winnowing fingerprint HASH, verified by exact n-gram
    * Jaccard ≥ `minJaccard` on the full shingle sets — the same
    * verify stage as [[ngramJaccardPairs]], so the two operators
    * differ only in candidate generation.
    *
    * Why it's the cheaper candidate path: winnowing selects ~2/(w+1)
    * of a document's gram hashes (window-minimum sampling), so the
    * inverted index this self-joins is ~2.5× smaller than d2's full
    * shingle index at w=4 — with a GUARANTEE the random sampling
    * d2's df-cap amounts to can't give: any shared token run of
    * length ≥ w + k − 1 (6 tokens at the defaults) selects at least
    * one shared fingerprint, so no long-overlap pair is ever missed
    * at candidate time. Pairs whose overlap is only scattered short
    * runs can be missed — those rarely clear a high Jaccard bar, and
    * the tradeoff is exactly the published algorithm's.
    *
    * Scale shape: same as [[ngramJaccardPairs]] — shuffle key is the
    * fingerprint hash, `maxFpDf` caps the per-hash bucket (a
    * boilerplate fingerprint shared by half the corpus would make
    * its bucket quadratic), verification touches only surviving
    * candidates. The df-cap tradeoff note on [[ngramJaccardPairs]]
    * applies unchanged; [[minhashLshPairs]] remains the
    * df-independent gate for saturated corpora.
    *
    * @return (da, db, jaccard_e6) — d2's exact schema
    */
  def winnowingPairs(docs: DataFrame, minJaccard: Double, k: Int = 3,
      w: Int = 4, maxFpDf: Int = DefaultMaxFpDf): DataFrame = {
    // The df-capped fingerprint table is ONE definition shared with
    // the maintained-artifact/streaming path ([[winnowFingerprintTable]]
    // persists the raw fingerprints under the header's caller-release
    // convention — they feed the df count AND both self-join sides).
    val candidates =
      bucketPairs(winnowFingerprintTable(docs, k, w, maxFpDf), "hash")
    val sets = persistedSets(docs)
    verifyPairs(candidates, sets, sets, minJaccard)
  }

  /** The df-capped winnowing fingerprint table (doc_id, hash) — the
    * artifact a 100 TB pipeline PERSISTS bucketed by hash (the
    * [[bandTable]] discipline for the d82 candidate path) so every
    * incremental probe reads it exchange-free. Distinct per
    * (doc, hash); hashes with document frequency over `maxFpDf`
    * dropped (the MOSS §5 boilerplate cut — see [[DefaultMaxFpDf]]).
    */
  def winnowFingerprintTable(docs: DataFrame, k: Int = 3, w: Int = 4,
      maxFpDf: Int = DefaultMaxFpDf): DataFrame =
    rareKeyed(cached(TextAnalysis.winnowingFingerprints(docs, k, w)
      .select(col("doc_id"), col("hash")).distinct()), "hash", maxFpDf)

  /** Incremental winnowing near-dup detection: a DELTA batch checked
    * against an existing CORPUS — d82's candidate path in
    * [[minhashLshAgainst]]'s delta-vs-corpus shape, and the ~2.5×
    * cheaper candidate stream with the shared-run GUARANTEE (any
    * ≥ k+w−1 = 6-token run shared with a corpus doc yields a shared
    * fingerprint, subject to the corpus-side df cap): delta
    * fingerprints are pure map-side kernels, candidates come from
    * one equi-join on the fingerprint hash against the (maintained,
    * bucketed) corpus table, exact Jaccard verifies each surviving
    * pair once. Work scales with the delta; the corpus is never
    * re-fingerprinted.
    *
    * @return (da = delta doc, db = corpus doc, jaccard_e6) pairs
    *   with Jaccard ≥ `minJaccard`
    */
  def winnowingAgainst(delta: DataFrame, corpus: DataFrame,
      minJaccard: Double, k: Int = 3, w: Int = 4,
      maxFpDf: Int = DefaultMaxFpDf): DataFrame = {
    val (dSets, cSets) = (persistedSets(delta), persistedSets(corpus))
    val dFp = TextAnalysis.winnowingFingerprints(delta, k, w)
      .select(col("doc_id").as("da"), col("hash")).distinct()
    val candidates = dFp
      .join(winnowFingerprintTable(corpus, k, w, maxFpDf)
        .select(col("doc_id").as("db"), col("hash")), "hash")
      .select("da", "db").distinct()
    verifyPairs(candidates, dSets, cSets, minJaccard)
  }

  /** Exact-Jaccard verification of candidate pairs (da, db) against
    * the full shingle sets; shared by every pair operator.
    * `setsA`/`setsB` are the da/db sides — the same table for
    * self-joins, distinct tables for the delta-vs-corpus paths.
    */
  private def verifyPairs(candidates: DataFrame, setsA: DataFrame,
      setsB: DataFrame, minJaccard: Double): DataFrame =
    verifyJaccard(withSetA(candidates, setsA), setsB, minJaccard)

  /** `pairs` with the da side's shingle set as `sha`. */
  private def withSetA(pairs: DataFrame, setsA: DataFrame): DataFrame =
    pairs.join(setsA.select(col("doc_id").as("da"), col("sh").as("sha")), "da")

  /** Rows carrying (da, sha, db) with the db side's set as `shb` and
    * the intersection size `inter` — the set joins and intersection
    * of both the Jaccard verify and [[containmentPairs]].
    */
  private def intersected(rows: DataFrame, setsB: DataFrame): DataFrame =
    rows.join(setsB.select(col("doc_id").as("db"), col("sh").as("shb")), "db")
      .withColumn("inter",
        size(array_intersect(col("sha"), col("shb"))).cast("long"))

  /** The exact-Jaccard verify: rows carrying (da, sha, db) — batch
    * candidates after [[withSetA]], or a stream that carried its own
    * set through the candidate join — scored against `setsB`.
    * @return (da, db, jaccard_e6) with Jaccard ≥ `minJaccard`
    */
  private[graft] def verifyJaccard(rows: DataFrame, setsB: DataFrame,
      minJaccard: Double): DataFrame =
    intersected(rows, setsB)
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      // Scaled-integer output: small-rational Jaccards can sit exactly
      // on a decimal rounding boundary where engines' half-up vs
      // half-even rules diverge; floor(j*1e6 + 0.5) is rule-free.
      .select(col("da"), col("db"),
        floor(col("jaccard") * 1000000 + 0.5).cast("long").as("jaccard_e6"))

  /** MinHash(16) + LSH(4 bands × 4 rows) near-dup detection, verified
    * by true Jaccard ≥ `minJaccard`. Candidate generation is the
    * band-bucket join on (band, band_signature) — the composite key
    * both sides shuffle on — so the self-join is co-partitioned and
    * the O(n²) space is pruned to bucket collisions before any exact
    * verification work happens.
    */
  def minhashLshPairs(docs: DataFrame, minJaccard: Double): DataFrame =
    minhashLshFromSets(persistedSets(docs), minJaccard)

  // Exact verification only on candidates: array_intersect on the
  // (already distinct) shingle sets.
  private def minhashLshFromSets(sets: DataFrame,
      minJaccard: Double): DataFrame =
    verifyPairs(bucketPairs(bandTable(sets), "band", "sig"), sets, sets,
      minJaccard)

  /** Incremental near-dup detection: a DELTA batch checked against an
    * existing CORPUS — the continuous-ingestion path (d3's self-join
    * dedups a corpus against itself; daily ingest only needs new docs
    * vs everything already kept). Same MinHash band machinery, but
    * the bucket join is delta-bands ⋈ corpus-bands: work scales with
    * the DELTA, and at 100 TB the corpus-side bands are the
    * precomputed table a real pipeline maintains incrementally
    * (bucketed by (band, sig), so this join needs no corpus shuffle).
    *
    * @return (da = delta doc, db = corpus doc, jaccard_e6) pairs with
    *   Jaccard ≥ `minJaccard`
    */
  def minhashLshAgainst(delta: DataFrame, corpus: DataFrame,
      minJaccard: Double): DataFrame = {
    val (dSets, cSets) = (persistedSets(delta), persistedSets(corpus))
    val candidates = lshCandidates(bandTable(dSets), bandTable(cSets))
    verifyPairs(candidates, dSets, cSets, minJaccard)
  }

  /** (doc_id, band, sig) LSH band table from shingle sets — the
    * artifact a 100 TB pipeline PERSISTS bucketed by (band, sig)
    * (sources.Bucketed) so every incremental [[lshCandidates]] probe
    * reads it exchange-free; BucketedSpec pins that composition.
    */
  def bandTable(sets: DataFrame): DataFrame = bandRows(sets, "doc_id")

  /** `keep` plus one (band, sig) row per LSH band of the MinHash
    * signature of `sh` — the one band layout of the batch operators
    * and their streaming twins.
    */
  private[graft] def bandRows(sets: DataFrame, keep: String*): DataFrame = {
    val kc = keep.map(col)
    sets.select(kc :+ minhash_sig(col("sh")).as("mh"): _*)
      .select(kc :+ posexplode(band_sigs(col("mh"))).as(Seq("band", "sig")): _*)
  }

  /** Delta-vs-corpus candidate generation: the (band, sig) composite
    * equi-join between a delta band table and the (ideally bucketed)
    * corpus band table. Only the delta side needs a shuffle when the
    * corpus table is bucketed on (band, sig).
    */
  def lshCandidates(deltaBands: DataFrame,
      corpusBands: DataFrame): DataFrame =
    deltaBands.as("a").join(corpusBands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()

  /** Line-level corpus dedup (the C4/boilerplate-removal step): drop
    * every line whose normalized form appears in MORE than
    * `maxLineDocFreq` distinct documents (navigation chrome, cookie
    * banners, license footers), keep the rest, and reassemble each
    * document in original line order. Documents whose every line is
    * boilerplate disappear entirely.
    *
    * Scale shape: the line-frequency table is one partial-aggregated
    * exchange keyed on `md5(normalized line)` — a 128-bit digest, so
    * the shuffle and aggregation state carry 16 bytes per distinct
    * line instead of the line text, and (unlike a 64-bit hash, which
    * would birthday-collide at billions of distinct lines and
    * silently drop rare lines) collisions are cryptographically
    * negligible. The frequent set (real boilerplate is a tiny
    * fraction of distinct lines) feeds a left_anti join on the same
    * digest — AQE broadcasts it; reassembly is one exchange on
    * doc_id with per-group state bounded by the document's own line
    * count.
    *
    * @param docs (doc_id, text) with '\n'-separated lines
    * @return (doc_id, n_lines, n_kept, kept_md5) — md5 of the
    *   reassembled kept text (cross-engine comparable)
    */
  def lineDedup(docs: DataFrame, maxLineDocFreq: Int): DataFrame = {
    val lines = docs.select(col("doc_id"),
      size(split(col("text"), "\n")).cast("long").as("n_lines"),
      posexplode(split(col("text"), "\n")).as(Seq("line_no", "line")))
    val frequent = lines
      .groupBy(md5(lower(trim(col("line")))).as("norm_digest"))
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df") > maxLineDocFreq)
      .select("norm_digest")
    val kept = lines.join(frequent,
      md5(lower(trim(lines("line")))) === frequent("norm_digest"),
      "left_anti")
    kept.groupBy("doc_id", "n_lines")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("line_no"), col("line")))),
          s => s.getField("line")), "\n").as("kept_text"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        md5(col("kept_text")).as("kept_md5"))
  }

  /** Duplicated-SPAN detection (the suffix-array dedup shape of Lee
    * et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", re-expressed relationally): find the maximal token
    * spans of each document that are covered by n-grams occurring ≥
    * `minOccurrences` times corpus-wide. Whole-doc dedup (d1/d3)
    * misses the dominant real-world case — documents that are mostly
    * unique but share boilerplate paragraphs, quoted passages, or
    * templated sections; span dedup localizes the repeated region so
    * a pipeline can CUT it instead of dropping the document.
    *
    * Relational formulation of the suffix-array pass: a duplicated
    * substring of length ≥ n is exactly a run of duplicated n-grams,
    * so (1) every document emits its positional n-gram hashes
    * (compiled kernel, map-side), (2) one partial-aggregated exchange
    * on the gram hash counts occurrences, (3) duplicated occurrences
    * join back co-partitioned on the same key, and (4) each doc's hit
    * positions — collected under ONE doc_id exchange with state
    * bounded by the doc's own token count — fold into merged maximal
    * spans (intervals [p, p+n−1], merged while overlapping or
    * adjacent). No suffix array, no global sort: shuffle keys are the
    * gram hash and doc_id, both fine-grained at any corpus size.
    *
    * @return (doc_id, span_start, span_end, span_tokens), token
    *   positions 0-based, end inclusive, ordered per doc
    */
  def dupSpans(docs: DataFrame, n: Int,
      minOccurrences: Int = 2): DataFrame = {
    val grams = tokenHashes(docs)
      .select(col("doc_id"),
        posexplode(ngram_hashes_pos(col("th"), n)).as(Seq("pos", "g")))
    val dup = grams.groupBy("g").agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= minOccurrences)
      .select("g")
    val hits = grams.join(dup, "g").select("doc_id", "pos")
    hits.groupBy("doc_id")
      .agg(array_sort(collect_list(col("pos"))).as("ps"))
      .select(col("doc_id"), explode(expr(mergeSpansFold(n))).as("sp"))
      .select(col("doc_id"),
        col("sp.s").cast("long").as("span_start"),
        col("sp.e").cast("long").as("span_end"),
        (col("sp.e") - col("sp.s") + 1).cast("long").as("span_tokens"))
  }

  /** SQL fold merging a SORTED int array `ps` of n-gram start
    * positions into maximal `[s, e]` token intervals (intervals
    * `[p, p+n−1]`, merged while overlapping or adjacent). Shared by
    * [[dupSpans]] and [[exciseSpans]].
    */
  private def mergeSpansFold(n: Int): String =
    s"""aggregate(ps, CAST(array() AS ARRAY<STRUCT<s: INT, e: INT>>),
       |  (acc, p) -> CASE
       |    WHEN size(acc) > 0 AND p <= element_at(acc, -1).e + 1
       |    THEN concat(slice(acc, 1, size(acc) - 1),
       |      array(named_struct('s', element_at(acc, -1).s,
       |                         'e', p + ${n - 1})))
       |    ELSE concat(acc, array(named_struct('s', p,
       |                                        'e', p + ${n - 1})))
       |  END)""".stripMargin.replaceAll("\n", " ")

  /** Cross-document exact-substring EXCISION — the destructive half
    * of the Lee et al. 2022 suffix-array dedup that [[dupSpans]]
    * only detects: every duplicated n-gram keeps exactly its
    * globally FIRST occurrence (minimum `(doc_id, pos)`) and every
    * other occurrence is cut from its document, so shared
    * boilerplate survives once in the corpus instead of once per
    * page. The keep-first rule is a pure aggregate — `min` over the
    * packed key `doc_id·2³² + pos` — so no occurrence ordering is
    * ever materialized; non-kept hit positions fold into maximal
    * spans per doc (same merge as [[dupSpans]]) and the kept text is
    * rebuilt map-side by an indexed filter over the token array.
    *
    * Scale shape: two fine-grained exchanges (gram hash; doc_id) +
    * one equi-join back on the gram hash — identical skeleton to
    * [[dupSpans]], still no suffix array and no global sort. The
    * rebuild never shuffles: spans arrive co-keyed with the doc row
    * and the filter is per-row HOF math bounded by the doc's own
    * length. A kept occurrence's tokens can still be excised when a
    * DIFFERENT duplicated gram's non-kept span covers them — the
    * union-of-spans rule is deterministic and documented, matching
    * the paper's "remove all but one copy of each duplicated
    * substring" contract up to overlap resolution.
    *
    * @return (doc_id, n_tokens, n_removed, n_spans, kept_md5) for
    *   docs with ≥ 1 excised span; `kept_md5` is the md5 of the
    *   space-joined surviving tokens (md5('') when everything went).
    */
  def exciseSpans(docs: DataFrame, n: Int): DataFrame = {
    val base = docs.select(col("doc_id"),
      expr(TextHash.sparkTokens("text")).as("tk"))
    def packed(d: Column, p: Column): Column = d * lit(4294967296L) + p
    val grams = base.select(col("doc_id"),
      posexplode(ngram_hashes_pos(token_hashes(col("tk")), n))
        .as(Seq("pos", "g")))
    val keep = grams.groupBy("g")
      .agg(count(lit(1)).as("occ"),
        min(packed(col("doc_id"), col("pos"))).as("keep_k"))
      .filter(col("occ") >= 2)
      .select("g", "keep_k")
    val hits = grams.join(keep, "g")
      .filter(packed(col("doc_id"), col("pos")) =!= col("keep_k"))
      .select("doc_id", "pos")
    val spans = hits.groupBy("doc_id")
      .agg(array_sort(collect_list(col("pos"))).as("ps"))
      .select(col("doc_id"), expr(mergeSpansFold(n)).as("sp"))
    base.join(spans, "doc_id")
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        expr("aggregate(sp, CAST(0 AS BIGINT), " +
          "(a, x) -> a + x.e - x.s + 1)").as("n_removed"),
        size(col("sp")).cast("long").as("n_spans"),
        md5(expr("array_join(filter(tk, (t, i) -> " +
          "NOT exists(sp, x -> i >= x.s AND i <= x.e)), ' ')"))
          .as("kept_md5"))
  }

  /** (doc_id, f) 64-bit SimHash fingerprints. */
  def simhashFingerprints(docs: DataFrame): DataFrame =
    tokenHashes(docs).select(col("doc_id"), simhash(col("th")).as("f"))

  /** Near-dup pairs with SimHash Hamming distance ≤ `maxHamming`.
    *
    * Pair generation uses the pigeonhole band join, not a cross
    * join: the 64 bits split into 4 bands of 16 (65,536 bucket values
    * per band, so buckets keep pruning at corpus scale); any pair
    * within Hamming ≤ 3 must agree exactly on ≥ 1 band, so candidates
    * come from a co-partitioned equi-join on (band, band_bits) and
    * the full fingerprint comparison runs only on those. Identical
    * result to the brute-force O(n²) scan, but shuffle-joinable at
    * corpus scale. Requires maxHamming < SimBands (= 4).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming < TextHash.SimBands,
      s"pigeonhole banding needs maxHamming < ${TextHash.SimBands}")
    val fps = cached(simhashFingerprints(docs))
    val w = TextHash.SimBandBits
    val mask = (1L << w) - 1
    val banded = fps.select(col("doc_id"), col("f"),
      posexplode(expr(
        s"transform(sequence(0, ${TextHash.SimBands - 1}), " +
          s"b -> shiftright(f, b * $w) & $mask)")).as(Seq("band", "bits")))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bits") === col("b.bits") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        bit_count(col("a.f").bitwiseXOR(col("b.f"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}

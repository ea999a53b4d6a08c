package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextHashExprs.{ngram_hashes, token_hashes}

/** Benchmark decontamination at corpus scale: find every document
  * whose canonical-whitespace text contains any eval-set probe as a
  * run of whole tokens.
  *
  * The naive encoding — broadcast the probe strings and scan each
  * document with `instr` — is a broadcast NESTED-LOOP join:
  * O(docs × probes) character work. Fine for a handful of probes;
  * real eval suites bring 10⁵-10⁶ probe n-grams, and the scan
  * becomes the pipeline's bottleneck long before 100 TB.
  *
  * This operator is the scale-safe shape (the same inverted-index
  * move n-gram Jaccard dedup uses): each document explodes to its
  * DISTINCT token n-gram hashes (compiled kernel, map-side), each
  * probe reduces to its single n-gram hash, and candidates come from
  * the hash EQUI-join — shuffle keyed on the gram hash, never a
  * pair scan. Candidates (collisions included) are then verified
  * exactly with one aligned-substring check against the document.
  *
  * A probe aligned in a document always produces that gram hash, so
  * the equi-join loses nothing; verification discards hash
  * collisions. Net semantics on any engine: token-aligned
  * containment, independent of the hash.
  */
object Decontaminate {

  /** Documents containing any probe's token sequence.
    *
    * @param corpus (doc_id, norm) — text already lower-cased,
    *   trimmed, single-spaced (canonical whitespace)
    * @param probes (probe_src, probe) — probe is exactly `n`
    *   canonical tokens; probe_src its origin doc (never matched
    *   against itself)
    * @param n probe width in tokens
    * @return (doc_id, probe_src) contaminated pairs
    */
  def matches(corpus: DataFrame, probes: DataFrame, n: Int = 8): DataFrame =
    matchesPruned(corpus, probes, n)((grams, _) => grams)

  /** [[matches]] with a runtime BLOOM PRUNE on the exploded gram
    * stream (operators.BloomPrune): the probe grams build a bloom
    * that reaches the corpus-gram side as a scalar subquery, and the
    * codegen'd might_contain drops ~(1-fpp) of the grams BEFORE the
    * equi-join's exchange. At 100 TB this is the difference between
    * shuffling every document's every n-gram and shuffling only the
    * grams that might match an eval probe — the candidate join,
    * collision discard and substring verification are unchanged, so
    * the result is IDENTICAL to [[matches]] for any fpp.
    */
  def matchesBloomPruned(corpus: DataFrame, probes: DataFrame,
      n: Int = 8, fpp: Double = 0.01): DataFrame =
    matchesPruned(corpus, probes, n)((grams, p) =>
      BloomPrune.pruneMightContain(grams, col("g"),
        p.filter(col("g").isNotNull), col("g"),
        expectedItems = 100000L, fpp = fpp))

  /** The one body of both matchers: gram explode, probe gram,
    * candidate join and aligned verify; `prune` may drop corpus grams
    * (doc_id, g) that no probe gram (probe_src, probe, g) can equal
    * before the candidate join.
    */
  private def matchesPruned(corpus: DataFrame, probes: DataFrame, n: Int)(
      prune: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val grams = corpus.select(col("doc_id"),
      explode(ngram_hashes(token_hashes(split(col("norm"), " ")), n)).as("g"))
    // get() (0-based, null on out-of-range), not element_at: under
    // ANSI mode element_at THROWS on a malformed probe with fewer
    // than n tokens (empty gram array); a null gram hash instead
    // equi-joins nothing, so short probes simply match no documents.
    val p = probes.select(col("probe_src"), col("probe"),
      get(ngram_hashes(token_hashes(split(col("probe"), " ")), n), lit(0))
        .as("g"))
    val cand = prune(grams, p).join(broadcast(p), Seq("g"))
      .filter(col("doc_id") =!= col("probe_src"))
      .select("doc_id", "probe_src", "probe")
      .distinct()
    // Exact verification on collisions only: the space padding makes
    // the substring check token-aligned at both ends.
    cand.join(corpus, Seq("doc_id"))
      .filter(instr(concat(lit(" "), col("norm"), lit(" ")),
        concat(lit(" "), col("probe"), lit(" "))) > 0)
      .select("doc_id", "probe_src")
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.functions.{Bpe, TextHash}
import graft.functions.TextHashExprs.token_hashes
import graft.graph.ConnectedComponents
import graft.multimodal.Multimodal
import graft.operators.Checkpointing.CutOps
import graft.operators.{BpeTrain, CurationFunnel, Decontaminate, Dedup, HtmlExtract, KMeans, LogReg, Par, PiiScrub, Sampling, Similarity, TextAnalysis, UnigramLm}

/** Training-data pipeline surface (SURVEY.md §2 block D): dedup
  * family, text analysis, similarity search, multimodal plumbing.
  *
  * Every oracle below is generated from the same TextHash constants
  * as the Spark plans, so signatures match bit-for-bit across
  * engines. Thresholds (Jaccard 0.8, Hamming ≤ 2, cosine 0.25) were
  * chosen empirically at sf0.01 to produce non-trivial result sets:
  * the generator plants real near-duplicates (25 pairs ≥ 0.8 at
  * sf0.01) and the embedding clusters overlap at cosine ≈ 0.25.
  */
object PipelineQueries {

  private val P = TextHash.P

  /** d44's planted 12-token boilerplate tail (appended to every 5th
    * doc in BOTH engines — the duplicated span the query localizes).
    */
  private val SpanBoilerplate =
    "subscribe to our newsletter for the latest updates and exclusive offers today"

  /** Dedup corpus: documents plus a deterministically re-keyed copy
    * of every 10th doc, so exact dedup has true duplicate groups to
    * find (the raw table is generated duplicate-free).
    */
  private val dupCorpusSql =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text
      |  FROM documents WHERE doc_id % 10 = 0
      |)""".stripMargin

  /** Jaccard values are ratios of small integers, which can land
    * exactly on a rounding boundary (e.g. 103/128 at the 7th
    * decimal) where Spark (half-up) and DuckDB (half-even) disagree
    * — so the output is a scaled integer via floor(j·10⁶ + 0.5),
    * bit-identical on both engines.
    */
  /** The `sz`/`jac` CTE core of exact Jaccard verification — ONE
    * statement of the near-dup pair definition, shared by d3's final
    * SELECT ([[jaccardTailSql]]) and d75's pairs CTE, so a threshold
    * or formula change can never diverge the leakage audit from the
    * dedup it audits.
    */
  /** Adjacent-bigram rows (doc_id, prev, w) built MAP-SIDE from the
    * token array — the shared front end of every bigram-LM card
    * (d37 Jelinek-Mercer, d77/d78 Kneser-Ney): transform over
    * sequence, no lag window, no pre-shuffle; docs with < 2 tokens
    * drop in both engines.
    */
  private def bigramPairs(docs: DataFrame): DataFrame =
    docs
      .withColumn("_t", expr(TextHash.sparkTokens("text")))
      .filter(size(col("_t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(_t) - 1), i -> named_struct(" +
          "'prev', element_at(_t, i), 'w', element_at(_t, i + 1)))"))
        .as("p"))
      .select(col("doc_id"), col("p.prev").as("prev"),
        col("p.w").as("w"))

  /** Oracle twin of [[bigramPairs]]: the `p` CTE body. */
  private val bigramPairsCte: String =
    s"""p AS (
       |  SELECT doc_id,
       |    unnest(tks[1:len(tks) - 1]) AS prev,
       |    unnest(tks[2:len(tks)]) AS w
       |  FROM (SELECT doc_id, ${TextHash.duckTokens("text")}
       |          AS tks
       |        FROM documents)
       |  WHERE len(tks) >= 2
       |)""".stripMargin

  /** Oracle twin of TextAnalysis.kneserNeyBigramLm at D = 0.75
    * (requires [[bigramPairsCte]] upstream): count statistics + the
    * interpolated-KN ln() on the exact Spark association, ending in
    * `lm (prev, w, lp)` — shared by d77's scorer and d78's buckets
    * so the two oracles cannot diverge from one model.
    */
  private val knLmCtes: String =
    s"""c2 AS (SELECT prev, w, count(*) AS c2 FROM p GROUP BY 1, 2),
       |byprev AS (
       |  SELECT prev, CAST(sum(c2) AS BIGINT) AS c1,
       |    count(*) AS nf
       |  FROM c2 GROUP BY 1
       |),
       |byw AS (SELECT w, count(*) AS nb FROM c2 GROUP BY 1),
       |lm AS (
       |  SELECT c2.prev, c2.w,
       |    ln((CAST(c2 AS DOUBLE) - CAST(0.75 AS DOUBLE))
       |        / CAST(c1 AS DOUBLE)
       |      + ((CAST(0.75 AS DOUBLE) * CAST(nf AS DOUBLE))
       |        / CAST(c1 AS DOUBLE))
       |        * (CAST(nb AS DOUBLE)
       |          / (SELECT CAST(count(*) AS DOUBLE) FROM c2)))
       |      AS lp
       |  FROM c2
       |  JOIN byprev USING (prev)
       |  JOIN byw ON byw.w = c2.w
       |)""".stripMargin

  /** Shared Spark chain for d77/d78: bigram pairs → KN model →
    * per-doc mean log-prob through the lmScore contract.
    */
  private def knScored(s: SparkSession, d: String): DataFrame = {
    val pairs = bigramPairs(Tables.documents(s, d))
    val lm = TextAnalysis.kneserNeyBigramLm(
      pairs.select("prev", "w"), discount = 0.75)
    TextAnalysis.lmScore(
      pairs.select(col("doc_id"),
        concat(col("prev"), lit(" "), col("w")).as("token")), lm)
  }

  /** PREFIX-FILTERED candidate CTEs (the oracle twin of
    * Dedup.ngramJaccardFromSets' round-14 candidate stage — the
    * Chaudhuri/Bayardo/ppjoin prefix principle): global order
    * (df ASC, s ASC), per-doc prefix length n − ⌈n·t⌉ + 1 with t as
    * the exact integer ⌊t·10⁶⌋, prefix-only self-join. Emits
    * `dfs$sfx`/`pref$sfx`/`cand$sfx` over the shingle table `sh`.
    */
  private def prefixCandSql(tE6: Long, sfx: String = ""): String =
    s"""dfs$sfx AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
       |pref$sfx AS (
       |  SELECT doc_id, s, rk, n FROM (
       |    SELECT h.doc_id, h.s,
       |      row_number() OVER (PARTITION BY h.doc_id
       |        ORDER BY d.df, h.s) AS rk,
       |      count(*) OVER (PARTITION BY h.doc_id) AS n
       |    FROM sh h JOIN dfs$sfx d USING (s)
       |  ) WHERE rk <= n - (n * $tE6 + 999999) // 1000000 + 1
       |),
       |cand$sfx AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM pref$sfx a JOIN pref$sfx b
       |    ON a.s = b.s AND a.doc_id < b.doc_id
       |  WHERE 1 + least(a.n - a.rk, b.n - b.rk)
       |    >= ($tE6 * (a.n + b.n) + ${1000000L + tE6} - 1)
       |       // ${1000000L + tE6}
       |)""".stripMargin

  /** The df-cap candidate law as a post-verify predicate (the oracle
    * twin of the engine's rare-share semi-join): the surviving pair
    * must still share ≥ 1 shingle with df ≤ the cap. `da`/`db` are
    * the pair columns in the enclosing scope; requires a `rare` CTE.
    */
  /** One unigram-LM E-step as DuckDB CTEs (mirrors
    * `UnigramLm.scoredSegs`/`bestSegs`/`usage` — same mask
    * enumeration, same BIGINT score sum, same (score DESC, np ASC,
    * segstr ASC) tie rule): `{pfx}seg` (cut masks → piece lists),
    * `{pfx}sc` (vocabulary-scored segmentations), `{pfx}best`
    * (per-word winner), `{pfx}use` (piece usage weighted by the
    * word counts in `wordsCte`, which must expose (w, n)).
    */
  private def unigramEStepSql(pfx: String, wordsCte: String,
      piecesCte: String, minPieces: Int = 1): String =
    s"""${pfx}seg AS (
       |  SELECT w, mask, CAST(len(cuts) - 1 AS BIGINT) AS np,
       |    list_transform(range(1, len(cuts)), i ->
       |      substr(w, cuts[i] + 1, cuts[i + 1] - cuts[i])) AS ps
       |  FROM (
       |    SELECT w, mask,
       |      list_concat(list_concat([0],
       |        list_filter(range(1, length(w)),
       |          t -> (mask // (1 << (t - 1))) % 2 = 1)),
       |        [length(w)]) AS cuts
       |    FROM $wordsCte,
       |      unnest(range(0, 1 << (length(w) - 1))) AS tm(mask)
       |  )
       |),
       |${pfx}sc AS MATERIALIZED (
       |  SELECT w, mask, np, array_to_string(ps, ' ') AS segstr,
       |    count(*) AS nf, CAST(sum(lp.logp_e6) AS BIGINT) AS score
       |  FROM (SELECT w, mask, np, ps, unnest(ps) AS piece
       |        FROM ${pfx}seg WHERE np >= $minPieces) s
       |  JOIN $piecesCte lp USING (piece)
       |  GROUP BY w, mask, np, segstr
       |  HAVING count(*) = np
       |),
       |${pfx}best AS (
       |  SELECT w, segstr, score FROM (
       |    SELECT w, segstr, score, row_number() OVER (PARTITION BY w
       |      ORDER BY score DESC, np, segstr) AS rn
       |    FROM ${pfx}sc
       |  ) WHERE rn = 1
       |),
       |${pfx}use AS MATERIALIZED (
       |  SELECT piece, CAST(sum(n) AS BIGINT) AS c
       |  FROM (SELECT unnest(string_split(b.segstr, ' ')) AS piece,
       |          wd.n
       |        FROM ${pfx}best b JOIN $wordsCte wd USING (w))
       |  GROUP BY 1
       |)""".stripMargin

  /** The unigram M-step count table as a CTE (mirrors
    * `UnigramLm.mStepCounts`): single chars floored at 1, zero-usage
    * multi-char pieces dropped.
    */
  private def unigramMStepSql(name: String, useCte: String): String =
    s"""$name AS (
       |  SELECT ch.piece,
       |    CAST(greatest(coalesce(u.c, 0), 1) AS BIGINT) AS c
       |  FROM (SELECT piece FROM useed WHERE length(piece) = 1) ch
       |  LEFT JOIN $useCte u USING (piece)
       |  UNION ALL
       |  SELECT piece, c FROM $useCte WHERE length(piece) > 1
       |)""".stripMargin

  /** e6-floored ln(c/Σc) normalization as a CTE (mirrors
    * `UnigramLm.logpTable`).
    */
  private def unigramLogpSql(name: String, countsCte: String): String =
    s"""$name AS MATERIALIZED (
       |  SELECT piece,
       |    CAST(floor(ln(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE))
       |      * CAST(1000000 AS DOUBLE)) AS BIGINT) AS logp_e6
       |  FROM $countsCte,
       |    (SELECT CAST(sum(c) AS BIGINT) AS tot FROM $countsCte) t
       |)""".stripMargin

  /** The COMPLETE d83 training chain as one generated CTE block —
    * uwords (length-capped distinct words) through ulp4 (the final
    * normalized vocabulary) and ufuse (the final usage counts).
    * Shared verbatim by d83 and d84 so the evaluation can never
    * desynchronize from the trainer it evaluates.
    */
  private def unigramTrainSql: String =
    s"""uwords AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS n FROM (
       |    SELECT unnest(${TextHash.duckTokens("text")}) AS w
       |    FROM documents
       |  ) WHERE length(w) <= 12 GROUP BY 1
       |),
       |useed AS MATERIALIZED (
       |  SELECT piece, CAST(sum(n) AS BIGINT) AS c FROM (
       |    SELECT substr(w, st, l) AS piece, n
       |    FROM uwords,
       |      unnest(range(1, length(w) + 1)) AS t1(st),
       |      unnest(range(1, least(4, length(w) - st + 1) + 1))
       |        AS t2(l)
       |  ) GROUP BY 1
       |),
       |${unigramLogpSql("ulp0", "useed")},
       |${unigramEStepSql("u1", "uwords", "ulp0")},
       |${unigramMStepSql("uc1", "u1use")},
       |${unigramLogpSql("ulp1", "uc1")},
       |${unigramEStepSql("u2", "uwords", "ulp1")},
       |${unigramMStepSql("uc2", "u2use")},
       |${unigramLogpSql("ulp2", "uc2")},
       |umulti AS (
       |  SELECT piece, logp_e6 FROM ulp2 WHERE length(piece) > 1
       |),
       |umw AS (
       |  SELECT piece AS w, CAST(1 AS BIGINT) AS n FROM umulti
       |),
       |${unigramEStepSql("ua", "umw", "ulp2", minPieces = 2)},
       |uloss AS (
       |  SELECT m.piece,
       |    CAST(c2.c * (m.logp_e6 - ab.score) AS BIGINT) AS loss
       |  FROM umulti m JOIN uc2 c2 USING (piece)
       |  JOIN uabest ab ON ab.w = m.piece
       |),
       |ukeepk AS (SELECT (count(*) + 1) // 2 AS k FROM umulti),
       |ukept AS (
       |  SELECT piece FROM (
       |    SELECT piece, row_number() OVER (
       |      ORDER BY loss DESC, piece) AS rn
       |    FROM uloss
       |  ) WHERE rn <= (SELECT k FROM ukeepk)
       |),
       |uc3 AS (
       |  SELECT c2.piece, c2.c FROM uc2 c2
       |  WHERE length(c2.piece) = 1
       |     OR EXISTS (SELECT 1 FROM ukept k
       |          WHERE k.piece = c2.piece)
       |),
       |${unigramLogpSql("ulp3", "uc3")},
       |${unigramEStepSql("uf", "uwords", "ulp3")},
       |${unigramMStepSql("uc4", "ufuse")},
       |${unigramLogpSql("ulp4", "uc4")}""".stripMargin

  private def shareRareSql(da: String, db: String): String =
    s"""EXISTS (SELECT 1 FROM sh x3
       |    JOIN rare r3 ON r3.s = x3.s
       |    JOIN sh y3 ON y3.s = x3.s AND y3.doc_id = $db
       |    WHERE x3.doc_id = $da)""".stripMargin

  private def jaccardCoreSql(candSrc: String): String =
    s"""sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |jac AS (
       |  SELECT ix.da, ix.db,
       |    CAST(ix.inter AS DOUBLE) / (x.n + y.n - ix.inter) AS j
       |  FROM ($candSrc) ix
       |  JOIN sz x ON x.doc_id = ix.da
       |  JOIN sz y ON y.doc_id = ix.db
       |)""".stripMargin

  private def jaccardTailSql(candSrc: String): String =
    s"""${jaccardCoreSql(candSrc)}
       |SELECT da, db,
       |  CAST(floor(j * 1000000 + 0.5) AS BIGINT) AS jaccard_e6
       |FROM jac
       |WHERE j >= 0.8 ORDER BY da, db""".stripMargin

  /** Shared Spark chain for d46/d66 (the twin of [[lrScoredCtes]] on
    * the oracle side): quality features → e6 standardization → 8
    * integer-exact LogReg rounds → scored frame with (doc_id, y,
    * p_e6, pred). Factored so the calibration audit provably bins
    * the IDENTICAL scored stream the d46 gate verifies row-by-row.
    */
  private def lrScored(s: SparkSession, d: String): DataFrame = {
    val raw = TextAnalysis.quality(Tables.documents(s, d))
      .select(col("doc_id"),
        when(col("quality_score") >= 0.63, 1.0).otherwise(0.0).as("y"),
        col("ttr").as("x1"), col("len_sat").as("x2"),
        col("stop_ratio").as("x3"))
    val f = LogReg.standardizeE6(raw, Seq("x1", "x2", "x3"))
      .withColumn("x0", lit(1.0))
    val cols = Seq("x0", "x1_std", "x2_std", "x3_std")
    val w = LogReg.train(f, cols, "y", rounds = 8, lrNum = 32L)
    LogReg.score(f, cols, w)
  }

  /** Shared CTE chain for the d46/d66 oracles: the full LogReg
    * training replication (8 integer-exact gradient rounds over the
    * standardized quality features) ending in a `scored` table of
    * (doc_id, label, p_e6). Factored so the calibration audit binning
    * is guaranteed to run over the IDENTICAL scored stream d46
    * verifies row-by-row.
    */
  private def lrScoredCtes: String = {
    def meanSql(j: Int) = s"CAST(s$j AS DOUBLE) / n0"
    def pSql(w: String) =
      s"1.0 / (1.0 + exp(-(($w.a0 * x0 + $w.a1 * x1 + $w.a2 * x2" +
        s" + $w.a3 * x3) / 1000000.0)))"
    def roundSql(r: Int) =
      s"""g$r AS (
         |  SELECT count(*) AS n,
         |${(0 to 3).map(j => s"    CAST(sum(CAST(floor((y - p) * x$j" +
           s" * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS g$j")
           .mkString(",\n")}
         |  FROM (SELECT f.*, ${pSql("w")} AS p FROM f, w${r - 1} w)
         |),
         |w$r AS (
         |  SELECT ${(0 to 3).map(j => s"w.a$j + CAST(floor(" +
           s"CAST(32 * g.g$j AS DOUBLE) / g.n + 0.5) AS BIGINT) AS a$j")
           .mkString(", ")}
         |  FROM w${r - 1} w, g$r g
         |)""".stripMargin
    s"""t AS (
       |  SELECT doc_id, ${TextHash.duckTokens("text")} AS tk
       |  FROM documents
       |),
       |rawf AS (
       |  SELECT doc_id,
       |    CASE WHEN (0.4 * ttr + 0.3 * len_sat
       |               + 0.3 * (1.0 - stop_ratio)) >= 0.63
       |         THEN 1.0 ELSE 0.0 END AS y,
       |    ttr AS x1, len_sat AS x2, stop_ratio AS x3
       |  FROM (
       |    SELECT doc_id,
       |      CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS ttr,
       |      least(CAST(len(tk) AS DOUBLE) / 100.0, 1.0) AS len_sat,
       |      CAST(len(list_filter(tk, t -> t = 'the' OR t = 'a'))
       |           AS DOUBLE) / len(tk) AS stop_ratio
       |    FROM t)
       |),
       |q AS (
       |  SELECT doc_id, y,
       |${(1 to 3).map(j => s"    CAST(floor(x$j * 1000000 + 0.5)" +
         s" AS BIGINT) AS q$j").mkString(",\n")}
       |  FROM rawf
       |),
       |st AS (
       |  SELECT count(*) AS n0,
       |${(1 to 3).map(j => s"    sum(q$j) AS s$j, sum(q$j * q$j)" +
         s" AS s2$j").mkString(",\n")}
       |  FROM q
       |),
       |f AS MATERIALIZED (
       |  SELECT doc_id, y, 1.0 AS x0,
       |${(1 to 3).map(j => s"    (q$j - ${meanSql(j)}) / sqrt(" +
         s"CAST(s2$j AS DOUBLE) / n0 - ${meanSql(j)} * ${meanSql(j)})" +
         s" AS x$j").mkString(",\n")}
       |  FROM q, st
       |),
       |w0 AS (SELECT ${(0 to 3)
         .map(j => s"CAST(0 AS BIGINT) AS a$j").mkString(", ")}),
       |${(1 to 8).map(roundSql).mkString(",\n")},
       |scored AS (
       |  SELECT doc_id, CAST(y AS INT) AS label,
       |    CAST(floor(${pSql("w")} * 1000000 + 0.5) AS BIGINT) AS p_e6
       |  FROM f, w8 w
       |)""".stripMargin
  }

  /** Unrolled min-label propagation rounds for the d9 oracle: each
    * round every vertex takes the min label among itself and its
    * in-neighbors — the SQL mirror of ConnectedComponents.minLabel.
    * MATERIALIZED is load-bearing: each round references the previous
    * one twice, so inlined CTEs re-evaluate the whole upstream
    * MinHash pipeline 2^n times.
    */
  private def labelCtes(n: Int): String =
    (1 to n).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT id, min(label) AS label FROM (
         |    SELECT id, label FROM l${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS id, l.label
         |    FROM edges e JOIN l${i - 1} l ON l.id = e.src
         |  ) GROUP BY id)""".stripMargin
    }.mkString(",\n")

  /** DuckDB CTEs recomputing the COMPOSITED canvas of the planted
    * animated GIFs (Multimodal.gifAnimTable's formulas) after every
    * frame, without a decoder — the m2/m19 oracle. Works in palette
    * INDEX space per (doc_id, y, x) until the final expansion
    * (indices are channel-independent): o0 is frame 0's full-canvas
    * paint; o_k composites frame k's 4×4 rect over the carried
    * canvas where the index isn't the frame's transparent one; odd
    * frames then restore their rect to background index 0
    * (disposal 2) for the next frame's base, even frames leave the
    * canvas (disposal 1). `fstats` holds one digest row per
    * (doc_id, frame_idx < nf), matching GifFrameStats.
    */
  private def gifAnimFrameCtes(idExpr: String = "doc_id"): String =
    s"""dims AS (
      |  SELECT doc_id, ($idExpr) AS sv,
      |    8 + ($idExpr) % 5 AS w,
      |    8 + (($idExpr) * 3) % 5 AS h,
      |    2 + ($idExpr) % 3 AS nf
      |  FROM documents
      |),
      |pix AS (
      |  SELECT d.doc_id, d.sv, d.w, d.h, d.nf, gy.y, gx.x,
      |    (d.sv * 19 + gy.y * 11 + gx.x * 7) % 16 AS j0,
      |    (d.sv + 3) % (d.w - 3) AS l1,
      |    (d.sv * 5 + 7) % (d.h - 3) AS t1,
      |    (d.sv + 5) % 16 AS tr1,
      |    (d.sv + 6) % (d.w - 3) AS l2,
      |    (d.sv * 5 + 14) % (d.h - 3) AS t2,
      |    (d.sv + 10) % 16 AS tr2,
      |    (d.sv + 9) % (d.w - 3) AS l3,
      |    (d.sv * 5 + 21) % (d.h - 3) AS t3,
      |    (d.sv + 15) % 16 AS tr3
      |  FROM dims d,
      |    (SELECT unnest(range(0, 12)) AS y) gy,
      |    (SELECT unnest(range(0, 12)) AS x) gx
      |  WHERE gy.y < d.h AND gx.x < d.w
      |),
      |lay AS (
      |  SELECT *,
      |    CASE WHEN y >= t1 AND y < t1 + 4 AND x >= l1 AND x < l1 + 4
      |         THEN (sv * 3 + 23 + (y - t1) * 5 + (x - l1) * 9) % 16
      |         ELSE -1 END AS i1,
      |    CASE WHEN y >= t2 AND y < t2 + 4 AND x >= l2 AND x < l2 + 4
      |         THEN (sv * 3 + 46 + (y - t2) * 5 + (x - l2) * 9) % 16
      |         ELSE -1 END AS i2,
      |    CASE WHEN y >= t3 AND y < t3 + 4 AND x >= l3 AND x < l3 + 4
      |         THEN (sv * 3 + 69 + (y - t3) * 5 + (x - l3) * 9) % 16
      |         ELSE -1 END AS i3
      |  FROM pix
      |),
      |st AS (
      |  SELECT *,
      |    CASE WHEN i1 >= 0 AND i1 <> tr1 THEN i1 ELSE j0 END AS o1,
      |    CASE WHEN i1 >= 0 THEN 0 ELSE j0 END AS c1
      |  FROM lay
      |),
      |st2 AS (
      |  SELECT *,
      |    CASE WHEN i2 >= 0 AND i2 <> tr2 THEN i2 ELSE c1 END AS o2
      |  FROM st
      |),
      |st3 AS (
      |  SELECT *,
      |    CASE WHEN i3 >= 0 AND i3 <> tr3 THEN i3 ELSE o2 END AS o3
      |  FROM st2
      |),
      |fr AS (
      |  SELECT doc_id, sv, w, h, nf, y, x, gf.f AS frame_idx,
      |    CASE gf.f WHEN 0 THEN j0 WHEN 1 THEN o1
      |         WHEN 2 THEN o2 ELSE o3 END AS j
      |  FROM st3, (SELECT unnest(range(0, 4)) AS f) gf
      |  WHERE gf.f < nf
      |),
      |apx AS (
      |  SELECT doc_id, w, h, frame_idx, y, x, gc.c AS c,
      |    (sv * 47 + j * 29 + gc.c * 13) % 256 AS b
      |  FROM fr, (SELECT unnest(range(0, 3)) AS c) gc
      |),
      |fstats AS (
      |  SELECT doc_id, frame_idx, CAST(w AS BIGINT) AS width,
      |    CAST(h AS BIGINT) AS height,
      |    CAST(SUM(b) AS BIGINT) AS sum_rgb,
      |    md5(lower(string_agg(lpad(to_hex(b), 2, '0'), ''
      |      ORDER BY y, x, c))) AS pixels_md5
      |  FROM apx GROUP BY doc_id, frame_idx, w, h
      |)""".stripMargin

  /** The shared Sampling hash-bucket expression in DuckDB form —
    * used for k-means seeding AND for e10's training-subset
    * predicate, so both mirror graft.operators.Sampling bit-for-bit.
    */
  private val duckVecBucket =
    s"${TextHash.duckDocFingerprint("CAST(vec_id AS VARCHAR)")} " +
      s"* ${Sampling.Mixer} % ${Sampling.MixMod} % ${Sampling.Buckets}"

  /** `e` (vec_id, label, emb): the embeddings as DOUBLE[]; `q`
    * (query_id, qe): the ten probe queries vec_id < 10 — the upstream
    * CTEs of the vector oracles.
    */
  private val probeCtes: String =
    """e AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
      |  FROM embeddings
      |),
      |q AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < 10)"""
      .stripMargin

  /** SQ8 codes over `e`, the oracle of Similarity.sq8TopK's
    * quantizer: `qz` (vec_id, label, q, sq) holds each nonzero
    * vector's int8 codes floor(x·127 / max|x| + 0.5) and their squared
    * norm, `pr` (query_id, qq, qsq) the probe queries' codes.
    */
  private val sq8Ctes: String =
    """qz AS (
      |  SELECT vec_id, label, q,
      |    CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS sq
      |  FROM (
      |    SELECT vec_id, label,
      |      list_transform(emb, x -> CAST(floor(
      |        x * CAST(127 AS DOUBLE)
      |        / list_max(list_transform(emb, y -> abs(y)))
      |        + 0.5) AS BIGINT)) AS q
      |    FROM e
      |  )
      |  WHERE list_sum(list_transform(q, x -> x * x)) > 0
      |),
      |pr AS (SELECT vec_id AS query_id, q AS qq, sq AS qsq
      |       FROM qz WHERE vec_id < 10)""".stripMargin

  /** The SQ8 code cosine of candidate `c` (a `qz` row) and probe `p`
    * (a `pr` row): integer dot over integer norms.
    */
  private def sq8Cosine(c: String, p: String): String =
    s"""CAST(list_sum(list_transform(range(1, 65),
       |      i -> $c.q[i] * $p.qq[i])) AS DOUBLE)
       |      / (sqrt(CAST($c.sq AS DOUBLE))
       |        * sqrt(CAST($p.qsq AS DOUBLE)))""".stripMargin

  /** Binary codes over `e`, the oracle of Similarity.bqTopK: `bq`
    * (vec_id, hi, lo) packs the sign bits of dims 1-32 and 33-64, `pr`
    * (query_id, qhi, qlo) holds the probe queries' words.
    */
  private val bqCtes: String =
    """bq AS (
      |  SELECT vec_id,
      |    CAST(list_sum(list_transform(range(1, 33),
      |      i -> CASE WHEN emb[i] > 0
      |           THEN (CAST(1 AS BIGINT) << (32 - i))
      |           ELSE 0 END)) AS BIGINT) AS hi,
      |    CAST(list_sum(list_transform(range(33, 65),
      |      i -> CASE WHEN emb[i] > 0
      |           THEN (CAST(1 AS BIGINT) << (64 - i))
      |           ELSE 0 END)) AS BIGINT) AS lo
      |  FROM e
      |),
      |pr AS (SELECT vec_id AS query_id, hi AS qhi, lo AS qlo
      |       FROM bq WHERE vec_id < 10)""".stripMargin

  /** Per-label mean vectors, the oracle of Similarity.centroids and
    * centroidVectors: `c0` (label, dim, c) rounds each dimension's
    * mean to 6 places, `cent` (label, cvec) lists them.
    */
  private val labelCentroidCtes: String =
    """c0 AS (
      |  SELECT label, i - 1 AS dim, round(avg(v), 6) AS c
      |  FROM (
      |    SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
      |      generate_subscripts(embedding, 1) AS i
      |    FROM embeddings
      |  ) GROUP BY label, dim
      |),
      |cent AS (
      |  SELECT label, list(c ORDER BY dim) AS cvec FROM c0 GROUP BY label
      |)""".stripMargin

  /** [[labelCentroidCtes]] plus `ass` (query_id, qe, label, cvec, rn):
    * each `q` query's `nprobe` nearest label centroids, ranked `rn` by
    * (cosine DESC, label) — the routing step of
    * Similarity.ivfProbeTopK.
    */
  private def labelRouteCtes(nprobe: Int): String =
    s"""$labelCentroidCtes,
       |ass AS (
       |  SELECT * FROM (
       |    SELECT q.query_id, q.qe, cent.label, cent.cvec,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${TextHash.duckCosine("q.qe", "cent.cvec", 64)}
       |          DESC, cent.label) AS rn
       |    FROM q, cent
       |  ) WHERE rn <= $nprobe
       |)""".stripMargin

  /** The whole oracle of a label-routed IVF probe (e4/e5/e24): top-5
    * by cosine among the `nprobe` routed cells' members, with
    * `candPred` (over the candidate row `e`) applied before ranking.
    */
  private def ivfProbeSql(nprobe: Int,
      candPred: Option[String] = None): String =
    s"""WITH $probeCtes,
       |${labelRouteCtes(nprobe)},
       |probe AS (
       |  SELECT a.query_id, a.label, e.vec_id AS cand_id,
       |    ${TextHash.duckCosine("a.qe", "e.emb", 64)} AS sim
       |  FROM ass a JOIN e ON e.label = a.label AND e.vec_id <> a.query_id
       |  ${candPred.fold("")(p => s"WHERE $p")}
       |),
       |r AS (
       |  SELECT *, row_number() OVER (
       |      PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
       |  FROM probe
       |)
       |SELECT query_id, label, rank, cand_id, round(sim, 6) AS sim
       |FROM r WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** Exact top-`k` ground truth, the oracle of
    * Similarity.bruteForceTopK: `name` (query_id, cand_id) holds each
    * `queries` row's (query_id, qe) best `k` rows `c` of `e`
    * (vec_id, emb) by (cosine over the first `dims` entries DESC,
    * vec_id), among candidates passing `candPred`; `${name}0` holds
    * the full ranking.
    */
  private def exactKnnCtes(k: Int, queries: String = "q",
      candPred: Option[String] = None, dims: Int = 64,
      name: String = "exact"): String =
    s"""${name}0 AS (
       |  SELECT q.query_id, c.vec_id AS cand_id,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY ${TextHash.duckCosine("q.qe", "c.emb", dims)}
       |        DESC, c.vec_id) AS rank
       |  FROM $queries q JOIN e c ON c.vec_id <> q.query_id
       |    ${candPred.fold("")(p => s"AND $p")}
       |),
       |$name AS (SELECT query_id, cand_id FROM ${name}0 WHERE rank <= $k)"""
      .stripMargin

  /** The recall card's oracle tail (the twin of [[recallCard]]):
    * `hits` counts, per probe query `q`, the `exact` pairs `approx`
    * (query_id, cand_id) also holds; the final SELECT reads `n_hits`
    * (0 when none) and `recall_e$digits` = n_hits · ⌊10^digits / k⌋.
    */
  private def recallTailSql(approx: String, k: Int,
      digits: Int = 4): String =
    s"""hits AS (
       |  SELECT query_id, count(*) AS h
       |  FROM exact JOIN $approx USING (query_id, cand_id)
       |  GROUP BY query_id
       |)
       |SELECT q.query_id,
       |  coalesce(h, 0) AS n_hits,
       |  (coalesce(h, 0) * 1${"0" * digits}) // $k AS recall_e$digits
       |FROM q LEFT JOIN hits ON hits.query_id = q.query_id
       |ORDER BY q.query_id""".stripMargin

  /** The recall card: per probe query (`qs`' vec_id), how many of its
    * exact top-`k` neighbors in `pool` the approximate result `approx`
    * (query_id, cand_id) also returned, as `n_hits` and as
    * `recall_e$digits` = ⌊n_hits · 10^digits / k⌋, so full recall reads
    * exactly 10^digits. A probe with no hit reads 0, not a missing row.
    */
  private def recallCard(pool: DataFrame, qs: DataFrame, k: Int,
      approx: DataFrame, digits: Int = 4): DataFrame = {
    val exact = Similarity.bruteForceTopK(pool, qs, k = k)
      .select(col("query_id"), col("cand_id"))
    val hits = exact.join(approx, Seq("query_id", "cand_id"))
      .groupBy("query_id").agg(count(lit(1)).as("h"))
    val h = "coalesce(h, 0L)"
    qs.select(col("vec_id").as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), expr(h).as("n_hits"),
        expr(s"$h * 1${"0" * digits} div $k").as(s"recall_e$digits"))
      .orderBy("query_id")
  }

  /** `dims` (doc_id, w, h, `extra`…): the planted-image size rule most
    * codec corpora share, w = 4 + id % 5 and h = 4 + (id·`hMul`) % 5.
    */
  private def imageDimsCte(hMul: Int, extra: String*): String =
    s"""dims AS (
       |  SELECT doc_id, 4 + doc_id % 5 AS w,
       |    4 + (doc_id * $hMul) % 5 AS h${extra.map(", " + _).mkString}
       |  FROM documents
       |)""".stripMargin

  /** The palette size the m15/m17 corpora plant, by id % 4. */
  private val PaletteSizeCol =
    "CASE doc_id % 4 WHEN 0 THEN 16 WHEN 1 THEN 16 " +
      "WHEN 2 THEN 4 ELSE 2 END AS psize"

  /** `dims` and `px` (…, y, x, c, v) of the truecolor PNG corpus m7
    * and m28 decode.
    */
  private lazy val pngPixelCtes: String =
    s"""${imageDimsCte(3)},
       |px AS (
       |  SELECT *, (doc_id * 31 + gy.y * 7 + gx.x * 3 + gc.c) % 256 AS v
       |  ${pixelGridSql()}
       |)""".stripMargin

  /** The FROM and WHERE of a planted-image sample grid: `from`'s rows
    * crossed with (y, x, c) for every y < h, x < w (`from`'s columns)
    * and c < `chans`, on a `side`×`side`×3 grid.
    */
  private def pixelGridSql(from: String = "dims", chans: String = "3",
      side: Int = 8): String =
    s"""FROM $from,
       |    (SELECT unnest(range(0, $side)) AS y) gy,
       |    (SELECT unnest(range(0, $side)) AS x) gx,
       |    (SELECT unnest(range(0, 3)) AS c) gc
       |  WHERE gy.y < h AND gx.x < w AND gc.c < $chans""".stripMargin

  /** The decoded-image card over `src`'s samples `v`, one row per doc:
    * width, height, the `extra` columns, the sample sum `sumName` and
    * `pixels_md5`, the md5 of the samples as `hex`-digit hex in
    * (y, x, c) order.
    */
  private def pixelCardSql(extra: Seq[String] = Nil,
      sumName: String = "sum_rgb", hex: Int = 2,
      src: String = "px"): String = {
    val cols = extra.map(c => s"\n  $c,").mkString
    s"""SELECT doc_id, CAST(w AS BIGINT) AS width,
       |  CAST(h AS BIGINT) AS height,$cols
       |  CAST(sum(v) AS BIGINT) AS $sumName,
       |  md5(lower(string_agg(lpad(to_hex(v), $hex, '0'), ''
       |    ORDER BY y, x, c))) AS pixels_md5
       |FROM $src GROUP BY ALL
       |ORDER BY doc_id""".stripMargin
  }

  /** DuckDB CTEs mirroring graft.operators.KMeans: deterministic
    * hash-picked seeds (cell 0..k-1 in (samplingHash, vec_id) order),
    * then `iters` unrolled Lloyd rounds — assignment by
    * (cosine DESC, cell ASC) row_number, update by per-(cell, dim)
    * round(avg, 6). Produces `e` (the FULL corpus), `et` (the
    * training set: `e` filtered by `trainPred` — TRUE for e7/e8's
    * full-corpus training, the sampling-bucket predicate for e10's
    * sampled training), `cent0..cent$iters` (vector form) and `c{i}d`
    * (per-dim form). MATERIALIZED is load-bearing: each round reads
    * the previous twice.
    */
  /** `prefix`/`embExpr`/`dims` generalize the mirror for SUBSPACE
    * instances (e11 runs four over 16-dim slices); the defaults are
    * the original full-vector form used by e7/e8/e10.
    */
  /** `k` is a SQL expression (literal "8", or a scalar subquery for
    * the scale-adaptive e6 path where nlist ∝ corpus count).
    */
  private def kmeansCtes(k: String, iters: Int,
      trainPred: String = "TRUE",
      embExpr: String = "CAST(embedding AS DOUBLE[])",
      prefix: String = "", dims: Int = 64,
      src: String = "embeddings"): String = {
    val p = prefix
    val steps = (1 to iters).map { i =>
      s"""${p}a$i AS MATERIALIZED (
         |  SELECT vec_id, emb, cell FROM (
         |    SELECT v.vec_id, v.emb, c.cell,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${TextHash.duckCosine("v.emb", "c.cvec", dims)} DESC,
         |                 c.cell) AS rn
         |    FROM ${p}et v, ${p}cent${i - 1} c
         |  ) WHERE rn = 1
         |),
         |${p}c${i}d AS MATERIALIZED (
         |  SELECT cell, i - 1 AS dim, round(avg(v), 6) AS centroid
         |  FROM (SELECT cell, unnest(emb) AS v,
         |          generate_subscripts(emb, 1) AS i FROM ${p}a$i)
         |  GROUP BY cell, dim
         |),
         |${p}cent$i AS MATERIALIZED (
         |  SELECT cell, list(centroid ORDER BY dim) AS cvec
         |  FROM ${p}c${i}d GROUP BY cell
         |)""".stripMargin
    }.mkString(",\n")
    s"""${p}e AS MATERIALIZED (
       |  SELECT vec_id, $embExpr AS emb FROM $src
       |),
       |${p}et AS MATERIALIZED (
       |  SELECT vec_id, emb FROM ${p}e WHERE $trainPred
       |),
       |${p}s0 AS MATERIALIZED (
       |  SELECT vec_id, emb, $duckVecBucket AS b FROM ${p}et
       |  ORDER BY b, vec_id LIMIT $k
       |),
       |${p}cent0 AS MATERIALIZED (
       |  SELECT row_number() OVER (ORDER BY b, vec_id) - 1 AS cell,
       |    emb AS cvec
       |  FROM ${p}s0
       |),
       |$steps""".stripMargin
  }

  /** The learned-cell IVF search tail shared by e8 and e10: assign
    * the FULL corpus (`e`) to the trained `cent3` cells, rebuild the
    * per-cell centroids from that final assignment (the one extra
    * Lloyd update ivfProbeTopK computes from any cell column), then
    * probe top-5 for the 10 query vectors — mirroring
    * KMeans.assign + Similarity.ivfProbeTopK.
    */
  private def learnedIvfTailSql: String =
    s"""a4 AS MATERIALIZED (
       |  SELECT vec_id, emb, cell FROM (
       |    SELECT v.vec_id, v.emb, c.cell,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${TextHash.duckCosine("v.emb", "c.cvec", 64)} DESC,
       |                 c.cell) AS rn
       |    FROM e v, cent3 c
       |  ) WHERE rn = 1
       |),
       |cent4 AS MATERIALIZED (
       |  SELECT cell, list(centroid ORDER BY dim) AS cvec FROM (
       |    SELECT cell, i - 1 AS dim, round(avg(v), 6) AS centroid
       |    FROM (SELECT cell, unnest(emb) AS v,
       |            generate_subscripts(emb, 1) AS i FROM a4)
       |    GROUP BY cell, dim
       |  ) GROUP BY cell
       |),
       |q AS (SELECT vec_id AS query_id, emb AS qe FROM e
       |      WHERE vec_id < 10),
       |ass AS (
       |  SELECT query_id, qe, cell FROM (
       |    SELECT q.query_id, q.qe, c.cell,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${TextHash.duckCosine("q.qe", "c.cvec", 64)} DESC,
       |                 c.cell) AS rn
       |    FROM q, cent4 c
       |  ) WHERE rn = 1
       |),
       |probe AS (
       |  SELECT a.query_id, a.cell, v.vec_id AS cand_id,
       |    ${TextHash.duckCosine("a.qe", "v.emb", 64)} AS sim
       |  FROM ass a JOIN a4 v
       |    ON v.cell = a.cell AND v.vec_id <> a.query_id
       |),
       |r AS (
       |  SELECT query_id, cell, cand_id, sim,
       |    row_number() OVER (
       |      PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
       |  FROM probe
       |)
       |SELECT query_id, cell, rank, cand_id, round(sim, 6) AS sim
       |FROM r WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** DuckDB CTEs for the TRAINED-cell probed kNN substrate (mirrors
    * Similarity.trainedCells → knnGraphProbed(…, "cell", k, 2) →
    * cellMedoids — the one builder behind the whole walk family):
    * nlist = max(8, ⌈members/250⌉) spherical k-means over the member
    * set (`iters` unrolled Lloyd rounds, e6's scale-adaptive rule —
    * |cell| ≈ 250 regardless of n, so the in-cell pair space stays
    * linear), final member assignment `a4$sfx`, member-cell
    * centroids `mc$sfx` (the one extra Lloyd update knnGraphProbed's
    * probe routing computes), per-cell medoids `med$sfx` (walk
    * entries), 2-nearest-cell probe assignment `ass$sfx`, in-cell
    * pair scoring `p$sfx`, ranked edges `r$sfx`. `src` supplies
    * member rows (vec_id, …, emb); `memberPred` filters it (level
    * samples, attach bases).
    */
  private def trainedCellCtes(sfx: String = "", src: String = "e",
      memberPred: String = "TRUE", iters: Int = 3): String = {
    // The Lloyd mirror is kmeansCtes — the SAME helper e6/e7/e8/e10
    // and the PQ books use (one k-means oracle to keep in sync with
    // the engine's trainer, per the round-14 review): it emits
    // k${sfx}et (the member set) and k${sfx}cent$iters (trained
    // centroids); this builder adds the probed-kNN tail.
    val p = s"k$sfx"
    s"""kp$sfx AS (
       |  SELECT greatest(8, (count(*) + 249) // 250) AS k
       |  FROM $src WHERE $memberPred
       |),
       |${kmeansCtes(s"(SELECT k FROM kp$sfx)", iters,
            trainPred = memberPred, embExpr = "emb", prefix = p,
            src = src)},
       |a4$sfx AS MATERIALIZED (
       |  SELECT vec_id, emb, cell FROM (
       |    SELECT v.vec_id, v.emb, c.cell,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${TextHash.duckCosine("v.emb", "c.cvec", 64)}
       |          DESC, c.cell) AS rn
       |    FROM ${p}et v, ${p}cent$iters c
       |  ) WHERE rn = 1
       |),
       |mc$sfx AS MATERIALIZED (
       |  SELECT cell, list(c ORDER BY dim) AS cvec FROM (
       |    SELECT cell, i - 1 AS dim, round(avg(v), 6) AS c
       |    FROM (SELECT cell, unnest(emb) AS v,
       |            generate_subscripts(emb, 1) AS i FROM a4$sfx)
       |    GROUP BY cell, dim
       |  ) GROUP BY cell
       |),
       |med$sfx AS (
       |  SELECT vec_id AS cand_id FROM (
       |    SELECT v.vec_id, row_number() OVER (PARTITION BY v.cell
       |      ORDER BY ${TextHash.duckCosine("v.emb", "c.cvec", 64)}
       |        DESC, v.vec_id) AS rn
       |    FROM a4$sfx v JOIN mc$sfx c ON c.cell = v.cell
       |  ) WHERE rn = 1
       |),
       |ass$sfx AS MATERIALIZED (
       |  SELECT vec_id, emb, cell FROM (
       |    SELECT v.vec_id, v.emb, c.cell,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${TextHash.duckCosine("v.emb", "c.cvec", 64)}
       |          DESC, c.cell) AS rn
       |    FROM k${sfx}et v, mc$sfx c
       |  ) WHERE rn <= 2
       |),
       |p$sfx AS (
       |  SELECT a.vec_id, b.vec_id AS nbr_id,
       |    ${TextHash.duckCosine("a.emb", "b.emb", 64)} AS sim
       |  FROM ass$sfx a JOIN a4$sfx b
       |    ON b.cell = a.cell AND b.vec_id <> a.vec_id
       |),
       |r$sfx AS (
       |  SELECT vec_id, nbr_id, sim,
       |    row_number() OVER (
       |      PARTITION BY vec_id ORDER BY sim DESC, nbr_id) AS rank
       |  FROM p$sfx
       |)""".stripMargin
  }

  /** The base trained-cell block over the full embeddings corpus —
    * emits `e` (vec_id, label, emb) plus [[trainedCellCtes]]'s
    * unsuffixed names (`r`, `med`, `a4`, `mc`, …). The drop-in
    * upstream for every walk-family oracle.
    */
  private lazy val trainedKnnCtes: String =
    s"""e AS MATERIALIZED (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
       |  FROM embeddings
       |),
       |${trainedCellCtes()}""".stripMargin

  /** DuckDB CTEs for the beam walk over the probed kNN graph
    * (mirrors Similarity.graphBeamSearch with cellMedoids entries):
    * `g` (graph edges), `q` (probe queries), `ent` (per-cell
    * medoids), `b0` (entry beam) and `b1..bR` (one expand-score-trim
    * round each). Requires [[trainedKnnCtes]] upstream. Shared by the
    * e25 search and the e26 recall gate.
    */
  private def beamWalkCtes(graphK: Int, rounds: Int,
      beamWidth: Int, probePred: String = "vec_id < 10",
      graphSql: Option[String] = None,
      candPred: Option[String] = None,
      sfx: String = "",
      entSql: Option[String] = None,
      entPerQuery: Boolean = false,
      candTable: String = "e"): String = {
    // Candidate eligibility (e41): the predicate applies on the
    // candidate embedding row `v` INSIDE each round's scoring — the
    // SQL mirror of the Spark side's filter below the gather join.
    val b0Pred = candPred.fold("")(p => s" AND ($p)")
    val biPred = candPred.fold("")(p => s" WHERE ($p)")
    val walk = (1 to rounds).map { i =>
      s"""c$sfx$i AS (
         |  SELECT DISTINCT query_id, cand_id FROM (
         |    SELECT query_id, cand_id FROM b$sfx${i - 1}
         |    UNION ALL
         |    SELECT b.query_id, g.nbr_id AS cand_id
         |    FROM b$sfx${i - 1} b JOIN g$sfx g ON g.vec_id = b.cand_id
         |  ) WHERE cand_id <> query_id
         |),
         |b$sfx$i AS MATERIALIZED (
         |  SELECT query_id, cand_id, sim FROM (
         |    SELECT s.*, row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, cand_id) AS rn
         |    FROM (
         |      SELECT c.query_id, c.cand_id,
         |        ${TextHash.duckCosine("q.qe", "v.emb", 64)} AS sim
         |      FROM c$sfx$i c JOIN q$sfx q ON q.query_id = c.query_id
         |      JOIN $candTable v ON v.vec_id = c.cand_id$biPred
         |    ) s
         |  ) WHERE rn <= $beamWidth
         |)""".stripMargin
    }.mkString(",\n")
    // Per-query entries (hierarchical descent): ent$sfx carries
    // (query_id, cand_id) — the previous level's beam — and b0
    // seeds each query from ITS rows instead of the shared set.
    // Default entries: the trained-cell medoids ([[trainedCellCtes]]
    // emits `med` upstream — cellMedoids' mirror).
    val entCte = entSql.getOrElse("SELECT cand_id FROM med")
    val b0From =
      if (entPerQuery)
        s"""FROM ent$sfx en
           |      JOIN q$sfx q ON q.query_id = en.query_id
           |      JOIN $candTable v ON v.vec_id = en.cand_id""".stripMargin
      else
        s"FROM q$sfx q, ent$sfx en " +
          s"JOIN $candTable v ON v.vec_id = en.cand_id"
    s"""g$sfx AS MATERIALIZED (
       |  ${graphSql.getOrElse(
              s"SELECT vec_id, nbr_id FROM r WHERE rank <= $graphK")}
       |),
       |q$sfx AS (SELECT vec_id AS query_id, emb AS qe FROM e
       |      WHERE $probePred),
       |ent$sfx AS (
       |  $entCte
       |),
       |b${sfx}0 AS MATERIALIZED (
       |  SELECT query_id, cand_id, sim FROM (
       |    SELECT s.*, row_number() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, cand_id) AS rn
       |    FROM (
       |      SELECT q.query_id, en.cand_id,
       |        ${TextHash.duckCosine("q.qe", "v.emb", 64)} AS sim
       |      $b0From
       |      WHERE en.cand_id <> q.query_id$b0Pred
       |    ) s
       |  ) WHERE rn <= $beamWidth
       |),
       |$walk,
       |bfinal$sfx AS (SELECT * FROM b$sfx$rounds)""".stripMargin
  }

  /** `w4$sfx` (query_id, cand_id): the four best of the final beam
    * `bfinal$sfx` by (sim DESC, cand_id) — the walk's recall@4 side.
    */
  private def walkTop4Cte(sfx: String = ""): String =
    s"""w4$sfx AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT query_id, cand_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rn
       |    FROM bfinal$sfx
       |  ) WHERE rn <= 4
       |)""".stripMargin

  /** Trained-cell probed-kNN CTEs over ONE hierarchy level's member
    * sample (mirrors Similarity.hierarchicalNavGraphTrained's
    * upper-level build: trainedCells(members) → knnGraphProbed —
    * cells RE-TRAINED per level with nlist ∝ member count, so
    * |cell| ≈ 250 at every level): members by the deterministic
    * Mixer hash, then the full [[trainedCellCtes]] chain. Emits
    * `e$sfx` (members) and `r$sfx` (vec_id, nbr_id, sim, rank).
    * Requires the base block's `e` upstream.
    */
  private def leveledKnnCtes(sfx: String, lvl: Int): String = {
    val mod = 1L << (2 * lvl)
    s"""e$sfx AS (
       |  SELECT vec_id, label, emb FROM e
       |  WHERE vec_id * ${Sampling.Mixer} % ${Sampling.MixMod}
       |        % $mod = 0
       |),
       |${trainedCellCtes(sfx, src = s"e$sfx")}""".stripMargin
  }

  /** DuckDB CTEs for the e28 navigable-graph build (mirrors
    * Similarity.navigableGraph over the k=`graphK` probed kNN
    * graph): symmetrize (`symg`), score + rank candidates on the e6
    * grid truncated at `maxCand` (`nc`), then the greedy α-prune
    * UNROLLED one candidate-rank per step (`k1..k$maxCand` — greedy
    * is sequential through the kept set, so each step admits rank-i
    * candidates checked against the survivors so far; MATERIALIZED,
    * or DuckDB would inline the triple self-reference
    * exponentially). Requires [[trainedKnnCtes]] upstream (`e`, `r`).
    * Produces `nav` (vec_id, rank, nbr_id, se) — shared by the e28
    * build output and e30's walk-over-the-built-graph recall gate.
    */
  /** The greedy-α-prune CTE steps alone (`k0..k$maxCand` + `nav`),
    * parameterized over the candidate CTE (`ncCte`: vec_id, nbr_id,
    * se, crank) and the embedding CTE supplying candidate vectors
    * (`embCte`: vec_id, emb) — shared by [[navGraphCtes]] (build,
    * candidates from the symmetrized graph over `e`) and the e32
    * attach oracle (candidates from the delta probe over the base
    * subset).
    */
  /** `pfx` namespaces the unrolled step CTEs (`pw`, `k0..`, `nav`)
    * so two prune instances (e.g. e51's base build + delta attach)
    * can share one oracle. */
  private def alphaPruneStepsSql(alpha100: Int, maxDeg: Int,
      maxCand: Int, embCte: String = "e",
      ncCte: String = "nc", pfx: String = ""): String = {
    val cosBC = TextHash.duckCosine("be.emb", "ce.emb", 64)
    // Every candidate-pair cosine the greedy can ever consult,
    // computed ONCE (the identical left-to-right fold — bit parity
    // unchanged) and keyed (vec, earlier-rank b, later-rank c): a
    // kept blocker always carries a lower crank than the candidate
    // it tests, so (b.crank < c.crank) covers exactly the consulted
    // pairs. Without this hoist each of the `maxCand` unrolled steps
    // re-ran the 64-element fold inside a correlated NOT EXISTS —
    // ~hours at n=2000 in the oracle engine; hoisted, the steps are
    // integer hash joins.
    val pw =
      s"""${pfx}pw AS MATERIALIZED (
         |  SELECT b0.vec_id, b0.nbr_id AS b, c0.nbr_id AS c,
         |    CAST(floor($cosBC * 1000000 + 0.5) AS BIGINT) AS pe6
         |  FROM $ncCte b0
         |  JOIN $ncCte c0 ON c0.vec_id = b0.vec_id
         |    AND c0.crank > b0.crank
         |  JOIN $embCte be ON be.vec_id = b0.nbr_id
         |  JOIN $embCte ce ON ce.vec_id = c0.nbr_id
         |)""".stripMargin
    val steps = (1 to maxCand).map { i =>
      s"""${pfx}k$i AS MATERIALIZED (
         |  SELECT * FROM ${pfx}k${i - 1}
         |  UNION ALL
         |  SELECT c.vec_id, c.nbr_id, c.se
         |  FROM $ncCte c
         |  WHERE c.crank = $i
         |    AND (SELECT count(*) FROM ${pfx}k${i - 1} p
         |         WHERE p.vec_id = c.vec_id) < $maxDeg
         |    AND NOT EXISTS (
         |      SELECT 1 FROM ${pfx}k${i - 1} p
         |      JOIN ${pfx}pw w ON w.vec_id = c.vec_id AND w.b = p.nbr_id
         |        AND w.c = c.nbr_id
         |      WHERE p.vec_id = c.vec_id
         |        AND $alpha100 * (1000000 - w.pe6)
         |            <= 100 * (1000000 - c.se))
         |)""".stripMargin
    }.mkString(",\n")
    s"""$pw,
       |${pfx}k0 AS (SELECT vec_id, nbr_id, se FROM $ncCte WHERE 1 = 0),
       |$steps,
       |${pfx}nav AS MATERIALIZED (
       |  SELECT vec_id, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY se DESC, nbr_id) AS rank, nbr_id, se
       |  FROM ${pfx}k$maxCand
       |)""".stripMargin
  }

  private def navGraphCtes(graphK: Int, alpha100: Int, maxDeg: Int,
      maxCand: Int): String = {
    s"""gk AS (SELECT vec_id, nbr_id FROM r WHERE rank <= $graphK),
       |symg AS (
       |  SELECT DISTINCT vec_id, nbr_id FROM (
       |    SELECT vec_id, nbr_id FROM gk
       |    UNION ALL
       |    SELECT nbr_id AS vec_id, vec_id AS nbr_id FROM gk
       |  )
       |),
       |nc AS MATERIALIZED (
       |  SELECT vec_id, nbr_id, se, crank FROM (
       |    SELECT vec_id, nbr_id, se, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY se DESC, nbr_id) AS crank
       |    FROM (
       |      SELECT s.vec_id, s.nbr_id,
       |        CAST(floor(${TextHash.duckCosine("a.emb", "b.emb", 64)}
       |          * 1000000 + 0.5) AS BIGINT) AS se
       |      FROM symg s
       |      JOIN e a ON a.vec_id = s.vec_id
       |      JOIN e b ON b.vec_id = s.nbr_id
       |    )
       |  ) WHERE crank <= $maxCand
       |),
       |${alphaPruneStepsSql(alpha100, maxDeg, maxCand)}""".stripMargin
  }

  /** Broadcast-side ADC lookup table shared by [[pqAdcScores]] and
    * e21: one row per probe query, a map of per-(subspace, code)
    * partial dot products keyed `m·stride + code`. The stride is
    * DERIVED from the largest codebook (not hardcoded to k) so a
    * retrained k can never silently collide keys across subspaces.
    * Returns the frame and the stride for the matching lookup
    * expression. Data, never a plan literal — plan size must not
    * grow with the probe batch.
    */
  private def adcQueryLut(s: SparkSession,
      qRows: Seq[(Long, Array[Double])],
      books: IndexedSeq[Seq[(Long, Array[Double])]],
      subDims: Int): (DataFrame, Long) = {
    import s.implicits._
    require(books.nonEmpty && books.forall(_.nonEmpty),
      "adcQueryLut: every PQ subspace needs a non-empty codebook " +
        "(a degenerate/tiny training set produced an empty k-means " +
        "cell set for some subspace)")
    val stride = books.map(b => b.map(_._1).max + 1).max
    def dot(a: Array[Double], off: Int, b: Array[Double]): Double = {
      var s0 = 0.0
      var i = 0
      while (i < b.length) { s0 += a(off + i) * b(i); i += 1 }
      s0
    }
    val df = qRows.toSeq.map { case (qid, qe) =>
      (qid, (for (m <- books.indices; (cell, cv) <- books(m)) yield
        (m * stride + cell) -> dot(qe, m * subDims, cv)).toMap)
    }.toDF("query_id", "lut")
    (df, stride)
  }

  /** Shared PQ-ADC machinery (e11 search, e22 recall gate): 4×16-dim
    * subspace codebooks (Lloyd via the SAME KMeans trainer), map-side
    * nearest-centroid coding, per-query driver-built ADC lookup table
    * (queries × M × k scalars — the e7 bounded-handoff class).
    * Returns the scored candidate frame (query_id, vec_id, adc)
    * BEFORE ranking, so searchers rank it with the bounded heap and
    * evaluators take rank ≤ k slices.
    */
  private val PqM = 4
  private val PqSubDims = 16

  /** PQ training + coding shared by the ADC scorers and the
    * reconstruction path: per-subspace Lloyd codebooks (the shared
    * KMeans trainer) and the map-side-coded corpus
    * (vec_id, e, code_0..code_3).
    */
  private def pqCoded(s: SparkSession, d: String)
      : (DataFrame, IndexedSeq[Seq[(Long, Array[Double])]]) = {
    val emb = Tables.embeddings(s, d).select(col("vec_id"),
      expr("transform(embedding, v -> cast(v as double))").as("e"))
    val books = Similarity.pqBooks(emb, "e", PqM, PqSubDims)
    (Similarity.pqQuantize(emb, "e", books, PqSubDims), books)
  }

  private def pqAdcScores(s: SparkSession, d: String): DataFrame = {
    val (coded, books) = pqCoded(s, d)
    // ADC lookup table, driver-built over the 10 probe queries with
    // the engine's left-to-right fold (bounded: queries × M × k
    // scalars — the centroid-handoff class, never corpus).
    val (qlut, stride) = adcQueryLut(s, Similarity.codebook(
      coded.filter(col("vec_id") < 10).select("vec_id", "e")), books, PqSubDims)
    def l(m: Int) = element_at(col("lut"),
      lit(m * stride) + col(s"code_$m"))
    coded.join(broadcast(qlut), col("vec_id") =!= col("query_id"))
      .withColumn("adc", l(0) + l(1) + l(2) + l(3))
      .drop("lut")
  }

  /** PQ-RECONSTRUCTED corpus (vec_id, embedding): each vector
    * replaced by the concatenation of its four codebook centroids —
    * the decompressed view a PQ-guided searcher scores against
    * (cosine of query vs reconstruction ≡ ADC with the cosine
    * metric). Four broadcast joins against the 8-row books; data,
    * never plan literals.
    */
  private def pqReconstructed(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (coded, books) = pqCoded(s, d)
    (0 until PqM).foldLeft(coded) { (df, m) =>
      df.join(broadcast(books(m).toDF("cell", s"cv_$m")
          .select(col("cell").as(s"code_$m"), col(s"cv_$m"))),
        Seq(s"code_$m"))
    }.select(col("vec_id"),
      concat(col("cv_0"), col("cv_1"), col("cv_2"), col("cv_3"))
        .as("embedding"))
  }

  /** Shared e49/e50 body — the DiskANN deployment shape: the beam
    * walk over the probed kNN graph scores candidates against their
    * PQ RECONSTRUCTIONS (cosine vs reconstruction ≡ ADC with the
    * cosine metric — the compressed codes are all the walk touches),
    * then ONLY the final 16-beam gathers float vectors for the exact
    * top-4 rerank. Full precision is paid on 16 rows per query,
    * never during navigation.
    */
  private def pqNavTop4(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.CosineSimilarity.cosine_sim
    val emb = Tables.embeddings(s, d)
    val embD = emb.select(col("vec_id"),
      expr("transform(embedding, v -> cast(v as double))")
        .as("embedding"))
    val qsD = embD.filter(col("vec_id") < 10)
    // One centroid collect feeds both the probed routing kernel and
    // the medoid entries (round-16: two identical corpus aggregation
    // passes collapsed into one); the cell-training chain and the
    // four-subspace PQ codebook chain are independent action-driven
    // builds — overlapped (Par, guide §2.6).
    val parts = Par.inParallel(Seq[() => Any](
      () => {
        val tc = Similarity.trainedCells(emb)
        (tc, Similarity.centroidRows(tc, "cell"))
      },
      () => pqReconstructed(s, d)))
    val (tc, cents) = parts(0)
      .asInstanceOf[(DataFrame, Seq[(Long, Array[Double])])]
    val rc = parts(1).asInstanceOf[DataFrame]
    val walked = Similarity.graphBeamSearch(rc, qsD,
      Similarity.knnGraphProbed(tc, "cell", k = 16, nprobe = 2,
          sharedCents = Some(cents))
        .select(col("vec_id"), col("nbr_id")),
      Similarity.cellMedoids(tc, "cell", Some(cents)),
      beamWidth = 16, rounds = 4)
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("cand_id"))
    walked.select("query_id", "cand_id")
      .join(embD.select(col("vec_id").as("cand_id"),
        col("embedding").as("ce")), "cand_id")
      .join(broadcast(qsD.select(col("vec_id").as("query_id"),
        col("embedding").as("qe"))), "query_id")
      .withColumn("sim", cosine_sim(col("qe"), col("ce")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 4)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("cand_id"), round(col("sim"), 6).as("sim"))
  }

  /** e49/e50's reconstructed-corpus CTE (the oracle twin of
    * [[pqReconstructed]]): concat of the four codebook centroids per
    * coded vector. Requires [[pqScoreCtes]] upstream.
    */
  private lazy val pqReconCte: String =
    s"""rc AS MATERIALIZED (
       |  SELECT v.vec_id,
       |    c0.cvec || c1.cvec || c2.cvec || c3.cvec AS emb
       |  FROM enc v
       |  JOIN p0cent2 c0 ON c0.cell = v.code_0
       |  JOIN p1cent2 c1 ON c1.cell = v.code_1
       |  JOIN p2cent2 c2 ON c2.cell = v.code_2
       |  JOIN p3cent2 c3 ON c3.cell = v.code_3
       |)""".stripMargin


  /** PQ coding CTEs (the oracle of [[pqCoded]] and of
    * [[adcQueryLut]]'s tables): four 8-code k-means books over the
    * 16-dim sub-vectors `slice(m)` of `src` (`p{m}…`, from
    * [[kmeansCtes]]), each vector's nearest code per book (`enc`:
    * vec_id, code_0..3), and the dot tables `lut{m}` (qid, cell, d)
    * of the query sub-vectors `lutQueries(m)` (qid, emb) against each
    * book.
    */
  private def pqCodeCtes(
      slice: Int => String = m =>
        s"(CAST(embedding AS DOUBLE[]))[${m * 16 + 1}:${m * 16 + 16}]",
      src: String = "embeddings",
      lutQueries: Int => String = m =>
        s"(SELECT vec_id AS qid, emb FROM p${m}e WHERE vec_id < 10)")
      : String = {
    val books = (0 until 4)
      .map(m => kmeansCtes("8", 2, "TRUE", slice(m), s"p$m", 16, src))
      .mkString(",\n")
    val encs = (0 until 4).map { m =>
      s"""enc$m AS MATERIALIZED (
         |  SELECT vec_id, cell AS code_$m FROM (
         |    SELECT v.vec_id, c.cell, row_number() OVER (
         |      PARTITION BY v.vec_id
         |      ORDER BY ${TextHash.duckCosine("v.emb", "c.cvec", 16)}
         |        DESC, c.cell) AS rn
         |    FROM p${m}e v, p${m}cent2 c) WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    val luts = (0 until 4).map { m =>
      s"""lut$m AS MATERIALIZED (
         |  SELECT q.qid, c.cell,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, 17), i -> q.emb[i] * c.cvec[i])),
         |      (acc, x) -> acc + x) AS d
         |  FROM ${lutQueries(m)} q, p${m}cent2 c
         |)""".stripMargin
    }.mkString(",\n")
    s"""$books,
       |$encs,
       |$luts,
       |enc AS (
       |  SELECT e0.vec_id, e0.code_0, e1.code_1, e2.code_2,
       |    e3.code_3
       |  FROM enc0 e0 JOIN enc1 e1 USING (vec_id)
       |       JOIN enc2 e2 USING (vec_id)
       |       JOIN enc3 e3 USING (vec_id)
       |)""".stripMargin
  }

  /** Shared PQ-ADC oracle CTEs (mirrors [[pqAdcScores]] exactly):
    * [[pqCodeCtes]] and `sc` (query_id, cand_id, adc) — the scored
    * candidates both the e11 ranking and the e22 recall gate consume.
    */
  private lazy val pqScoreCtes: String =
    s"""${pqCodeCtes()},
       |sc AS (
       |  SELECT l0.qid AS query_id, v.vec_id AS cand_id,
       |    l0.d + l1.d + l2.d + l3.d AS adc
       |  FROM enc v
       |  JOIN lut0 l0 ON l0.cell = v.code_0
       |  JOIN lut1 l1 ON l1.cell = v.code_1 AND l1.qid = l0.qid
       |  JOIN lut2 l2 ON l2.cell = v.code_2 AND l2.qid = l0.qid
       |  JOIN lut3 l3 ON l3.cell = v.code_3 AND l3.qid = l0.qid
       |  WHERE v.vec_id <> l0.qid
       |)""".stripMargin

  /** The ADC search tail of the label-routed IVF-PQ oracles (e21,
    * e34): candidates of each query's routed cell (`ass`, from
    * [[labelRouteCtes]]) scored by the summed `lut{m}` entries of
    * their `enc` codes, top-5 by (adc DESC, cand_id).
    */
  private val ivfAdcTailSql: String =
    """sc AS (
      |  SELECT a.query_id, a.label, c2.vec_id AS cand_id,
      |    l0.d + l1.d + l2.d + l3.d AS adc
      |  FROM ass a
      |  JOIN e c2 ON c2.label = a.label AND c2.vec_id <> a.query_id
      |  JOIN enc v ON v.vec_id = c2.vec_id
      |  JOIN lut0 l0 ON l0.cell = v.code_0 AND l0.qid = a.query_id
      |  JOIN lut1 l1 ON l1.cell = v.code_1 AND l1.qid = a.query_id
      |  JOIN lut2 l2 ON l2.cell = v.code_2 AND l2.qid = a.query_id
      |  JOIN lut3 l3 ON l3.cell = v.code_3 AND l3.qid = a.query_id
      |),
      |r AS (
      |  SELECT query_id, label, cand_id, adc, row_number() OVER (
      |    PARTITION BY query_id ORDER BY adc DESC, cand_id) AS rank
      |  FROM sc
      |)
      |SELECT query_id, CAST(label AS BIGINT) AS label,
      |  CAST(rank AS BIGINT) AS rank, cand_id,
      |  round(adc, 6) AS adc
      |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** The packing queries' prelude (d25, d72, d73): token counts
    * lineage-cut ONCE, so the shard scalar and every packer run share
    * one corpus scan (the round-11 double-scan fix; PlanShapeSpec pins
    * it), and the corpus-sized shard count — a bounded driver scalar
    * the oracles recompute as the same ceil of the same sum.
    */
  private def countedShards(s: SparkSession, d: String): (DataFrame, Int) = {
    val counted = TextAnalysis
      .countedTokens(Tables.documents(s, d)).lineageCut
    val total = counted
      .select(coalesce(sum("n_tokens"), lit(0L))).head.getLong(0)
    (counted, TextAnalysis.shardsFor(total, seqTokens = 64,
      targetSeqsPerShard = 200))
  }

  /** d55's per-document 8-gram novelty (doc_id, n_grams, n_dup,
    * novelty_e4), also d58's novelty signal: the share of a doc's
    * 8-grams that occur only once corpus-wide, e4-scaled.
    */
  private def gramNovelty(docs: DataFrame): DataFrame = {
    import graft.functions.TextHashExprs.ngram_hashes
    val grams = Dedup.tokenHashes(docs)
      .select(col("doc_id"), explode(ngram_hashes(col("th"), 8)).as("g"))
    val occ = grams.groupBy("g").agg(count(lit(1)).as("occ"))
    grams.join(occ, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("occ") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_grams"), col("n_dup"),
        floor((lit(1.0) - col("n_dup").cast("double")
          / col("n_grams")) * 10000 + 0.5).cast("long")
          .as("novelty_e4"))
  }

  def all: Seq[Q] = Seq(

    // Exact dedup: hash-partitioned groupBy on the normalized text,
    // map-side partial agg; one row per duplicate group.
    Q("d1_dedup_exact",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val rekeyed = docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        Dedup.exactDupGroups(docs.union(rekeyed)).orderBy("kept_doc_id")
      },
      Some(s"""WITH $dupCorpusSql
              |SELECT min(doc_id) AS kept_doc_id, count(*) AS n_copies
              |FROM corpus GROUP BY lower(trim(text))
              |HAVING count(*) > 1
              |ORDER BY kept_doc_id""".stripMargin)),

    // Full n-gram Jaccard near-dup pairs via the inverted-index
    // self-join (shuffle key = shingle hash, no O(n²) pair space).
    // Candidate generation skips shingles with document frequency
    // above the cap — the guard that keeps any one bucket's self-join
    // bounded on a web-scale corpus — and the oracle mirrors the cap.
    Q("d2_ngram_jaccard",
      (s, d) => Dedup
        .ngramJaccardPairs(Tables.documents(s, d), minJaccard = 0.8)
        .orderBy("da", "db"),
      Some(s"""WITH ${TextHash.duckToksCte},
              |${TextHash.duckShinglesCte},
              |${prefixCandSql(800000)},
              |rare AS (
              |  SELECT s FROM dfs WHERE df <= ${Dedup.DefaultMaxShingleDf}
              |),
              |${jaccardCoreSql(
                 """SELECT c.da, c.db, count(*) AS inter
                   |   FROM cand c
                   |   JOIN sh x ON x.doc_id = c.da
                   |   JOIN sh y ON y.doc_id = c.db AND y.s = x.s
                   |   GROUP BY c.da, c.db""".stripMargin)}
              |SELECT da, db,
              |  CAST(floor(j * 1000000 + 0.5) AS BIGINT) AS jaccard_e6
              |FROM jac
              |WHERE j >= 0.8 AND ${shareRareSql("jac.da", "jac.db")}
              |ORDER BY da, db""".stripMargin)),

    // MinHash(16)+LSH(4×4): band-bucket join generates candidates,
    // exact Jaccard verifies. Same final pair set as d2 — the LSH
    // recall at these parameters is total on the planted dups.
    Q("d3_minhash_lsh",
      (s, d) => Dedup
        .minhashLshPairs(Tables.documents(s, d), minJaccard = 0.8)
        .orderBy("da", "db"),
      Some(s"""WITH ${TextHash.duckToksCte},
              |${TextHash.duckShinglesCte},
              |${TextHash.duckMinHashCte},
              |${TextHash.duckBandsCte},
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
              |  FROM bands a JOIN bands b
              |    ON a.band = b.band AND a.sig = b.sig
              |   AND a.doc_id < b.doc_id
              |),
              |${jaccardTailSql(
                 """SELECT c.da, c.db, count(*) AS inter
                   |   FROM cand c
                   |   JOIN sh x ON x.doc_id = c.da
                   |   JOIN sh y ON y.doc_id = c.db AND y.s = x.s
                   |   GROUP BY c.da, c.db""".stripMargin)}""".stripMargin)),

    // Content-defined chunking + chunk-level dedup (the CDC recipe
    // of storage dedup, applied to text): a position is a chunk
    // boundary iff the hash of the 8-char window ENDING there ≡ 0
    // (mod 64) — boundaries move with content, not offsets, so an
    // insertion reshuffles only the chunks it touches (fixed-size
    // d22 windows would shift EVERY downstream chunk). The boundary
    // predicate is position-INDEPENDENT (a pure function of the
    // window), so both engines compute it without sequential state;
    // expected chunk ≈ 64 chars. Per doc: chunk count and how many
    // of its chunks also appear in another doc — the sub-document
    // duplication signal d44's planted-span query measures from the
    // other direction. Spark side is fully map-side to the digest
    // (boundaries, slicing and hashing in one codegen'd projection);
    // the only exchanges are the digest-sharing rollup and the
    // per-doc aggregate.
    Q("d63_cdc_chunk_dedup",
      (s, d) => {
        // window hash inlined with builtins (the duckCharHash fold),
        // so the plan needs no SQL-registered kernel — Verify's bare
        // session must resolve it too
        val winHash = "aggregate(split(substring(text, i - 7, 8), ''), " +
          s"CAST(0 AS BIGINT), (h, c2) -> (h * 31 + ascii(c2)) % $P)"
        val boundaryExpr =
          "filter(transform(" +
            "IF(char_length(text) >= 8, " +
            "   sequence(8, char_length(text)), array()), " +
            s"i -> CASE WHEN $winHash" +
            s" * ${Sampling.Mixer} % ${Sampling.MixMod} % 64 = 0" +
            " THEN i END), x -> x IS NOT NULL)"
        val dg = Tables.documents(s, d)
          .filter(char_length(col("text")) > 0)
          .withColumn("b", expr(boundaryExpr))
          .withColumn("starts",
            expr("concat(array(1), transform(b, x -> x + 1))"))
          .withColumn("ends",
            expr("concat(b, array(char_length(text)))"))
          .select(col("doc_id"), explode(expr(
            "filter(transform(arrays_zip(starts, ends), " +
              "p -> IF(p.starts <= p.ends, " +
              "substring(text, p.starts, p.ends - p.starts + 1), NULL))," +
              " x -> x IS NOT NULL)")).as("chunk"))
          .select(col("doc_id"), md5(col("chunk")).as("g"))
        val sharing = dg.groupBy("g")
          .agg(countDistinct("doc_id").as("nd"))
        dg.join(sharing, "g")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_shared"))
          .orderBy("doc_id")
      },
      Some(s"""WITH pos AS (
              |  SELECT doc_id, text,
              |    unnest(range(8, length(text) + 1)) AS i
              |  FROM documents WHERE length(text) > 0
              |),
              |bnd AS (
              |  SELECT doc_id, i FROM pos
              |  WHERE ${TextHash.duckStringHash("substr(text, i - 7, 8)")}
              |    * ${Sampling.Mixer} % ${Sampling.MixMod} % 64 = 0
              |),
              |ch AS (
              |  SELECT doc_id,
              |    coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i),
              |             0) + 1 AS s,
              |    i AS e
              |  FROM bnd
              |  UNION ALL
              |  SELECT d.doc_id, coalesce(mx.mi, 0) + 1, length(d.text)
              |  FROM documents d
              |  LEFT JOIN (SELECT doc_id, max(i) AS mi FROM bnd
              |             GROUP BY doc_id) mx USING (doc_id)
              |  WHERE length(d.text) > coalesce(mx.mi, 0)
              |),
              |dg AS (
              |  SELECT c.doc_id,
              |    md5(substr(d.text, CAST(c.s AS INT),
              |        CAST(c.e - c.s + 1 AS INT))) AS g
              |  FROM ch c JOIN documents d USING (doc_id)
              |),
              |sh AS (
              |  SELECT g, count(DISTINCT doc_id) AS nd FROM dg GROUP BY g
              |)
              |SELECT dg.doc_id,
              |  CAST(count(*) AS BIGINT) AS n_chunks,
              |  CAST(sum(CASE WHEN sh.nd > 1 THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_shared
              |FROM dg JOIN sh USING (g)
              |GROUP BY dg.doc_id
              |ORDER BY doc_id""".stripMargin)),

    // Cross-source duplication matrix: d3's verified near-dup pairs
    // rolled up by (source, source) — the contamination audit run
    // before mixing crawl dumps (how much of dump A is already in
    // dump B decides dedup order and mixture weights; d57 estimates
    // SHINGLE overlap from sketches, this counts verified DOCUMENT
    // pairs). Two broadcast-able dimension joins on the pair ids,
    // then one partial-aggregated rollup on the unordered source
    // pair — nothing beyond d3's bucketed machinery touches the
    // corpus.
    Q("d62_cross_source_dups",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val src = docs.select(col("doc_id"), col("source"))
        Dedup.minhashLshPairs(docs, minJaccard = 0.8)
          .join(src.select(col("doc_id").as("da"),
            col("source").as("sa")), "da")
          .join(src.select(col("doc_id").as("db"),
            col("source").as("sb")), "db")
          .select(least(col("sa"), col("sb")).as("source_a"),
            greatest(col("sa"), col("sb")).as("source_b"))
          .groupBy("source_a", "source_b")
          .agg(count(lit(1)).as("n_dup_pairs"))
          .orderBy("source_a", "source_b")
      },
      Some(s"""WITH ${TextHash.duckToksCte},
              |${TextHash.duckShinglesCte},
              |${TextHash.duckMinHashCte},
              |${TextHash.duckBandsCte},
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
              |  FROM bands a JOIN bands b
              |    ON a.band = b.band AND a.sig = b.sig
              |   AND a.doc_id < b.doc_id
              |),
              |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |jac AS (
              |  SELECT ix.da, ix.db,
              |    CAST(ix.inter AS DOUBLE) / (x.n + y.n - ix.inter) AS j
              |  FROM (SELECT c.da, c.db, count(*) AS inter
              |        FROM cand c
              |        JOIN sh x ON x.doc_id = c.da
              |        JOIN sh y ON y.doc_id = c.db AND y.s = x.s
              |        GROUP BY c.da, c.db) ix
              |  JOIN sz x ON x.doc_id = ix.da
              |  JOIN sz y ON y.doc_id = ix.db
              |),
              |pairs AS (SELECT da, db FROM jac WHERE j >= 0.8),
              |lab AS (
              |  SELECT least(a.source, b.source) AS source_a,
              |         greatest(a.source, b.source) AS source_b
              |  FROM pairs p
              |  JOIN documents a ON a.doc_id = p.da
              |  JOIN documents b ON b.doc_id = p.db
              |)
              |SELECT source_a, source_b,
              |  CAST(count(*) AS BIGINT) AS n_dup_pairs
              |FROM lab GROUP BY source_a, source_b
              |ORDER BY source_a, source_b""".stripMargin)),

    // Incremental dedup: a DELTA batch (every 10th doc, re-keyed —
    // the day's ingest, full of docs the corpus already has) checked
    // against the existing corpus. The band join is delta × corpus,
    // not a self-join: work scales with the delta, and the corpus
    // bands are the precomputed table a real pipeline maintains.
    Q("d21_incremental_dedup",
      (s, d) => {
        val corpus = Tables.documents(s, d).select("doc_id", "text")
        val delta = corpus.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        Dedup.minhashLshAgainst(delta, corpus, minJaccard = 0.8)
          .orderBy("da", "db")
      },
      Some(s"""WITH ${TextHash.duckToksCte},
              |${TextHash.duckShinglesCte},
              |${TextHash.duckMinHashCte},
              |${TextHash.duckBandsCte},
              |${TextHash.duckToksCte(
                 "(SELECT doc_id + 1000000 AS doc_id, text FROM documents " +
                   "WHERE doc_id % 10 = 0)", "D")},
              |${TextHash.duckShinglesCte("D")},
              |${TextHash.duckMinHashCte("D")},
              |${TextHash.duckBandsCte("D")},
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
              |  FROM bandsD a JOIN bands b
              |    ON a.band = b.band AND a.sig = b.sig
              |),
              |szA AS (SELECT doc_id, count(*) AS n FROM shD GROUP BY doc_id),
              |szB AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |ix AS (
              |  SELECT c.da, c.db, count(*) AS inter
              |  FROM cand c
              |  JOIN shD x ON x.doc_id = c.da
              |  JOIN sh y ON y.doc_id = c.db AND y.s = x.s
              |  GROUP BY c.da, c.db
              |),
              |jac AS (
              |  SELECT ix.da, ix.db,
              |    CAST(ix.inter AS DOUBLE) / (a.n + b.n - ix.inter) AS j
              |  FROM ix JOIN szA a ON a.doc_id = ix.da
              |  JOIN szB b ON b.doc_id = ix.db
              |)
              |SELECT da, db,
              |  CAST(floor(j * 1000000 + 0.5) AS BIGINT) AS jaccard_e6
              |FROM jac WHERE j >= 0.8 ORDER BY da, db""".stripMargin)),

    // SimHash fingerprints + Hamming-near pairs. Spark generates
    // pairs via the pigeonhole band join (scalable); the oracle
    // brute-forces all pairs — identical result by construction.
    Q("d4_simhash",
      (s, d) => Dedup.simhashPairs(Tables.documents(s, d), maxHamming = 2)
        .orderBy("da", "db"),
      Some(s"""WITH ${TextHash.duckToksCte},
              |${TextHash.duckSimHashCte}
              |SELECT a.doc_id AS da, b.doc_id AS db,
              |  CAST(bit_count(xor(a.f, b.f)) AS BIGINT) AS hamming
              |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
              |WHERE bit_count(xor(a.f, b.f)) <= 2
              |ORDER BY da, db""".stripMargin)),

    // Dup-group consolidation: connected components over the
    // MinHash+LSH pair graph — (a,b),(b,c) collapse to one group
    // with the min doc id as survivor. 8 propagation rounds on both
    // sides (near-dup components are shallow; the oracle unrolls the
    // same count).
    Q("d9_dup_groups",
      (s, d) => ConnectedComponents.dupGroups(
          Dedup.minhashLshPairs(Tables.documents(s, d), minJaccard = 0.8)
            .select(col("da").as("a"), col("db").as("b")),
          iters = 8)
        .orderBy("doc_id"),
      Some(s"""WITH ${TextHash.duckToksCte},
              |${TextHash.duckShinglesCte},
              |${TextHash.duckMinHashCte},
              |${TextHash.duckBandsCte},
              |cand AS MATERIALIZED (
              |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
              |  FROM bands a JOIN bands b
              |    ON a.band = b.band AND a.sig = b.sig
              |   AND a.doc_id < b.doc_id
              |),
              |sz AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |ix AS MATERIALIZED (
              |  SELECT c.da, c.db, count(*) AS inter
              |  FROM cand c
              |  JOIN sh x ON x.doc_id = c.da
              |  JOIN sh y ON y.doc_id = c.db AND y.s = x.s
              |  GROUP BY c.da, c.db
              |),
              |pairs AS MATERIALIZED (
              |  SELECT ix.da, ix.db
              |  FROM ix JOIN sz x ON x.doc_id = ix.da
              |  JOIN sz y ON y.doc_id = ix.db
              |  WHERE CAST(ix.inter AS DOUBLE) / (x.n + y.n - ix.inter) >= 0.8
              |),
              |edges AS MATERIALIZED (
              |  SELECT da AS src, db AS dst FROM pairs
              |  UNION ALL
              |  SELECT db AS src, da AS dst FROM pairs
              |),
              |l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS label FROM edges),
              |${labelCtes(8)}
              |SELECT id AS doc_id, label AS group_id, id = label AS keep
              |FROM l8 ORDER BY doc_id""".stripMargin)),

    // Quality-based survivor selection — the step AFTER d9 in a real
    // dedup pipeline: min-id is an arbitrary survivor; production
    // curation keeps the BEST member of each near-dup group (highest
    // composite quality, d6's metric), so boilerplate-padded or
    // truncated variants lose to the cleanest copy. One aggregation
    // over the (group, member) table: argmax via max(struct(q, -id))
    // — (quality DESC, doc_id ASC), deterministic on ties — with the
    // e4-scaled score so both engines rank identical integers.
    Q("d23_survivor_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val groups = ConnectedComponents.dupGroups(
          Dedup.minhashLshPairs(docs, minJaccard = 0.8)
            .select(col("da").as("a"), col("db").as("b")))
        val quality = TextAnalysis.quality(docs)
          .select(col("doc_id"),
            floor(col("quality_score") * 10000 + 0.5).cast("long")
              .as("q_e4"))
        groups.join(quality, "doc_id")
          .groupBy("group_id")
          .agg(count(lit(1)).as("n_members"),
            max(struct(col("q_e4"), (-col("doc_id")).as("neg")))
              .as("best"))
          .select(col("group_id"), (-col("best.neg")).as("survivor_id"),
            col("n_members"), col("best.q_e4").as("q_e4"))
          .orderBy("group_id")
      },
      Some(s"""WITH ${TextHash.duckToksCte},
              |${TextHash.duckShinglesCte},
              |${TextHash.duckMinHashCte},
              |${TextHash.duckBandsCte},
              |cand AS MATERIALIZED (
              |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
              |  FROM bands a JOIN bands b
              |    ON a.band = b.band AND a.sig = b.sig
              |   AND a.doc_id < b.doc_id
              |),
              |sz AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |ix AS MATERIALIZED (
              |  SELECT c.da, c.db, count(*) AS inter
              |  FROM cand c
              |  JOIN sh x ON x.doc_id = c.da
              |  JOIN sh y ON y.doc_id = c.db AND y.s = x.s
              |  GROUP BY c.da, c.db
              |),
              |pairs AS MATERIALIZED (
              |  SELECT ix.da, ix.db
              |  FROM ix JOIN sz x ON x.doc_id = ix.da
              |  JOIN sz y ON y.doc_id = ix.db
              |  WHERE CAST(ix.inter AS DOUBLE) / (x.n + y.n - ix.inter) >= 0.8
              |),
              |edges AS MATERIALIZED (
              |  SELECT da AS src, db AS dst FROM pairs
              |  UNION ALL
              |  SELECT db AS src, da AS dst FROM pairs
              |),
              |l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS label FROM edges),
              |${labelCtes(8)},
              |qt AS (
              |  SELECT doc_id, ${TextHash.duckTokens("text")} AS tk
              |  FROM documents
              |),
              |q AS (
              |  SELECT doc_id, CAST(floor(
              |    (0.4 * (CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk))
              |     + 0.3 * least(CAST(len(tk) AS DOUBLE) / 100.0, 1.0)
              |     + 0.3 * (1.0 - CAST(len(list_filter(tk,
              |         t -> t = 'the' OR t = 'a')) AS DOUBLE) / len(tk)))
              |    * 10000 + 0.5) AS BIGINT) AS q_e4
              |  FROM qt
              |),
              |scored AS (
              |  SELECT l.label AS group_id, l.id AS doc_id, q.q_e4,
              |    count(*) OVER (PARTITION BY l.label) AS n_members,
              |    row_number() OVER (PARTITION BY l.label
              |      ORDER BY q.q_e4 DESC, l.id) AS rn
              |  FROM l8 l JOIN q ON q.doc_id = l.id
              |)
              |SELECT group_id, doc_id AS survivor_id,
              |  CAST(n_members AS BIGINT) AS n_members, q_e4
              |FROM scored WHERE rn = 1
              |ORDER BY group_id""".stripMargin)),

    // Embedding-cosine near-dup: random-hyperplane LSH buckets (no
    // given labels), exact-cosine verification at 0.99. The corpus
    // plants near-dups deterministically — a per-dim (1 + i·1e-4)
    // perturbed copy of every 10th vector — because the generated
    // embeddings top out at cosine ≈ 0.51 (an unplanted run would be
    // vacuous). The oracle mirrors signature, banding, and the
    // perturbation bit-for-bit.
    Q("d10_embed_dedup",
      (s, d) => {
        val base = Tables.embeddings(s, d).select(col("vec_id"),
          expr("transform(embedding, v -> cast(v as double))")
            .as("embedding"))
        val pert = base.filter(col("vec_id") % 10 === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            expr("transform(embedding, (v, i) -> v * (1.0D + i * 0.0001D))")
              .as("embedding"))
        Similarity.embedNearDupPairs(base.union(pert), minCos = 0.99)
          .orderBy("va", "vb")
      },
      Some(s"""WITH base AS (
              |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
              |  FROM embeddings
              |),
              |corpus AS (
              |  SELECT vec_id, emb FROM base
              |  UNION ALL
              |  SELECT vec_id + 1000000 AS vec_id,
              |    list_transform(range(1, 65), i -> emb[i] *
              |      (CAST(1.0 AS DOUBLE) + (i - 1) * CAST(0.0001 AS DOUBLE)))
              |      AS emb
              |  FROM base WHERE vec_id % 10 = 0
              |),
              |sigs AS MATERIALIZED (
              |  SELECT vec_id, emb,
              |    ${TextHash.duckEmbedSimHash("emb", 64)} AS sig
              |  FROM corpus
              |),
              |params AS (
              |  SELECT CASE WHEN count(*) >= ${TextHash.EmbedBandWiden2N}
              |    THEN 32 WHEN count(*) >= ${TextHash.EmbedBandWidenN}
              |    THEN 16 ELSE 8 END AS w
              |  FROM sigs
              |),
              |sigs2 AS MATERIALIZED (
              |  -- Second word only on the 32-bit tier (lazy CASE —
              |  -- the Spark side's CaseWhen discipline mirrored).
              |  SELECT s.vec_id, s.sig,
              |    CASE WHEN p.w = 32
              |      THEN ${TextHash.duckEmbedSimHash("s.emb", 64, 1)}
              |      ELSE CAST(0 AS BIGINT) END AS sig2
              |  FROM sigs s, params p
              |),
              |pre AS (
              |  SELECT vec_id, sig, sig2, w,
              |    unnest(range(0, CASE WHEN w <= 16 THEN 64 // w
              |      ELSE 4 END)) AS band
              |  FROM sigs2, params
              |),
              |banded AS MATERIALIZED (
              |  SELECT vec_id, band,
              |    CASE WHEN w <= 16
              |      THEN (sig >> (band * w)) & ((CAST(1 AS BIGINT) << w) - 1)
              |      ELSE ((CASE WHEN band < 2 THEN sig ELSE sig2 END)
              |        >> ((band % 2) * 32)) & 4294967295 END AS bits
              |  FROM pre
              |),
              |cand AS MATERIALIZED (
              |  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
              |  FROM banded a JOIN banded b
              |    ON a.band = b.band AND a.bits = b.bits
              |   AND a.vec_id < b.vec_id
              |)
              |SELECT c.va, c.vb,
              |  CAST(floor(${TextHash.duckCosine("x.emb", "y.emb", 64)}
              |    * 1000000 + 0.5) AS BIGINT) AS cos_e6
              |FROM cand c
              |JOIN sigs x ON x.vec_id = c.va
              |JOIN sigs y ON y.vec_id = c.vb
              |WHERE ${TextHash.duckCosine("x.emb", "y.emb", 64)} >= 0.99
              |ORDER BY va, vb""".stripMargin)),

    // Line-level corpus dedup (C4-style boilerplate removal): lines
    // appearing in > 2 distinct docs are dropped, docs reassembled in
    // line order. The generator's docs are single-line word soup, so
    // both sides plant structure deterministically: a newsletter
    // banner on every 3rd doc, a rights footer on every 7th, and body
    // text split into lines at each ' table ' occurrence (so body
    // lines can ALSO collide across docs — and when one passes the
    // frequency gate, both engines drop it identically).
    Q("d16_line_dedup",
      (s, d) => {
        val planted = Tables.documents(s, d).select(col("doc_id"),
          concat(
            when(col("doc_id") % 3 === 0,
              lit("Subscribe to our newsletter today\n")).otherwise(lit("")),
            regexp_replace(col("text"), lit(" table "), lit("\ntable ")),
            when(col("doc_id") % 7 === 0,
              lit("\nall rights reserved")).otherwise(lit("")))
            .as("text"))
        Dedup.lineDedup(planted, maxLineDocFreq = 2).orderBy("doc_id")
      },
      Some("""WITH planted AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 3 = 0
             |      THEN 'Subscribe to our newsletter today' || chr(10)
             |      ELSE '' END ||
             |    regexp_replace(text, ' table ', chr(10) || 'table ', 'g') ||
             |    CASE WHEN doc_id % 7 = 0
             |      THEN chr(10) || 'all rights reserved' ELSE '' END AS text
             |  FROM documents
             |),
             |lines AS (
             |  SELECT doc_id,
             |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
             |    generate_subscripts(string_split(text, chr(10)), 1) - 1
             |      AS line_no,
             |    unnest(string_split(text, chr(10))) AS line
             |  FROM planted
             |),
             |freq AS (
             |  SELECT md5(lower(trim(line))) AS norm_digest FROM lines
             |  GROUP BY 1 HAVING count(DISTINCT doc_id) > 2
             |),
             |kept AS (
             |  SELECT * FROM lines
             |  WHERE md5(lower(trim(line)))
             |    NOT IN (SELECT norm_digest FROM freq)
             |)
             |SELECT doc_id, n_lines, CAST(count(*) AS BIGINT) AS n_kept,
             |  md5(string_agg(line, chr(10) ORDER BY line_no)) AS kept_md5
             |FROM kept GROUP BY doc_id, n_lines
             |ORDER BY doc_id""".stripMargin)),

    // Per-doc TF-IDF top-3 terms (keyword extraction): tf from one
    // (doc, token) aggregation, df derived from the tf table itself
    // (vocabulary-sized, broadcast into the join), per-doc top-k via
    // a bounded per-group collect — no corpus-wide window. Ranking is
    // on the e6-SCALED score so both engines order identical integers.
    Q("d17_tfidf",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val n = docs.count()
        TextAnalysis.tfidfTopTerms(docs, n, k = 3)
          .orderBy("doc_id", "rank")
      },
      Some(s"""WITH tk AS (
              |  SELECT doc_id, unnest(${TextHash.duckTokens("text")}) AS token
              |  FROM documents
              |),
              |tf AS (
              |  SELECT doc_id, token, count(*) AS tf FROM tk GROUP BY 1, 2
              |),
              |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
              |s AS (
              |  SELECT tf.doc_id, tf.token,
              |    CAST(floor(tf.tf * ln(CAST((SELECT count(*) FROM documents)
              |          AS DOUBLE) / df.df) * 1000000 + 0.5) AS BIGINT)
              |      AS score_e6
              |  FROM tf JOIN df USING (token)
              |),
              |r AS (
              |  SELECT doc_id, token, score_e6,
              |    row_number() OVER (
              |      PARTITION BY doc_id ORDER BY score_e6 DESC, token) AS rank
              |  FROM s
              |)
              |SELECT doc_id, rank, token, score_e6 FROM r WHERE rank <= 3
              |ORDER BY doc_id, rank""".stripMargin)),

    // Context-window chunking: 32-token windows every 24 tokens
    // (8-token overlap) — the split-long-documents step of training
    // prep, with per-chunk fingerprints for chunk-level dedup. Pure
    // map-side explode; the only exchange is the output ORDER BY.
    Q("d22_chunking",
      (s, d) => TextAnalysis.chunk(Tables.documents(s, d),
          chunkTokens = 32, stride = 24)
        .orderBy("doc_id", "chunk_idx"),
      Some(s"""WITH t AS (
              |  SELECT doc_id, ${TextHash.duckTokens("text")} AS tk
              |  FROM documents
              |),
              |c AS (
              |  SELECT doc_id, i AS chunk_idx,
              |    array_to_string(list_slice(tk, i * 24 + 1, i * 24 + 32),
              |      ' ') AS chunk
              |  FROM t, unnest(range(0, (len(tk) - 1) // 24 + 1)) AS u(i)
              |)
              |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
              |  CAST(len(string_split(chunk, ' ')) AS BIGINT)
              |    AS n_chunk_tokens,
              |  ${TextHash.duckDocFingerprint("chunk")} AS chunk_fp
              |FROM c ORDER BY doc_id, chunk_idx""".stripMargin)),

    // Sequence packing — the concat-and-split training-prep step
    // complementary to d22: short documents concatenate into fixed
    // 64-token training sequences (docs may straddle boundaries),
    // sharded 4 ways by the deterministic Sampling hash so no single
    // task owns the corpus-wide concatenation order. Each doc's
    // placement (sequence id + token offset, shard-local) is pure
    // integer arithmetic off a per-shard running token sum — one
    // exchange on the shard key, identical on both engines.
    Q("d25_pack_sequences",
      (s, d) => {
        // Shards sized to the corpus (never a constant).
        val (counted, shards) = countedShards(s, d)
        TextAnalysis.packSequencesCounted(counted, seqTokens = 64,
            shards = shards)
          .orderBy("doc_id")
      },
      Some(s"""WITH tok AS (
              |  SELECT doc_id,
              |    ${TextHash.duckDocFingerprint("CAST(doc_id AS VARCHAR)")}
              |      * ${Sampling.Mixer} % ${Sampling.MixMod}
              |      % ${Sampling.Buckets} AS bucket,
              |    CAST(len(${TextHash.duckTokens("text")}) AS BIGINT)
              |      AS n_tokens
              |  FROM documents
              |),
              |shc AS (
              |  SELECT GREATEST(1, CAST(CEIL(
              |    CAST(SUM(n_tokens) AS DOUBLE) / (64.0 * 200)) AS BIGINT))
              |    AS s
              |  FROM tok
              |),
              |t AS (
              |  SELECT doc_id, bucket % (SELECT s FROM shc) AS shard,
              |    n_tokens
              |  FROM tok
              |),
              |p AS (
              |  SELECT doc_id, shard, n_tokens,
              |    COALESCE(SUM(n_tokens) OVER (
              |      PARTITION BY shard ORDER BY doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              |      0) AS st
              |  FROM t
              |)
              |SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens,
              |  CAST(st // 64 AS BIGINT) AS seq_id,
              |  CAST(st % 64 AS BIGINT) AS offset
              |FROM p ORDER BY doc_id""".stripMargin)),

    // First-fit-decreasing packing (TextAnalysis.packSequencesFfd) —
    // the padding-minimizing twin of d25: docs placed WHOLE (capped
    // at the 64-token sequence length) into the first open sequence
    // with room, longest first. d25 streams tokens contiguously
    // (zero padding, docs straddle boundaries); d56 measures what
    // per-doc cap-bucketing wastes; this is the non-straddling
    // packer that minimizes that waste — OperatorsSpec pins
    // utilization(FFD) ≥ utilization(first-fit in hash order) on a
    // planted corpus. Same corpus-sized shard count as d25 (the
    // bounded driver-scalar handoff); the per-shard fold is one HOF
    // aggregate with open-fill state, mirrored exactly by the
    // oracle's one-doc-per-step recursive CTE (first-fit = min
    // eligible index on both engines).
    Q("d72_ffd_pack",
      (s, d) => {
        val (counted, shards) = countedShards(s, d)
        TextAnalysis.packSequencesFfdCounted(counted, seqTokens = 64,
            shards = shards)
          .orderBy("doc_id")
      },
      Some(s"""WITH tok AS (
              |  SELECT doc_id,
              |    ${TextHash.duckDocFingerprint("CAST(doc_id AS VARCHAR)")}
              |      * ${Sampling.Mixer} % ${Sampling.MixMod}
              |      % ${Sampling.Buckets} AS bucket,
              |    CAST(len(${TextHash.duckTokens("text")}) AS BIGINT)
              |      AS n_tokens
              |  FROM documents
              |),
              |shc AS (
              |  SELECT GREATEST(1, CAST(CEIL(
              |    CAST(SUM(n_tokens) AS DOUBLE) / (64.0 * 200)) AS BIGINT))
              |    AS s
              |  FROM tok
              |),
              |sharded AS (
              |  SELECT doc_id, bucket % (SELECT s FROM shc) AS shard,
              |    n_tokens, LEAST(n_tokens, 64) AS l
              |  FROM tok
              |),
              |rk AS (
              |  SELECT doc_id, shard, n_tokens, l,
              |    row_number() OVER (PARTITION BY shard
              |      ORDER BY l DESC, doc_id) AS rank
              |  FROM sharded
              |),
              |sh AS (SELECT DISTINCT shard FROM rk)
              |SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens,
              |  seq_id, off AS offset
              |FROM (
              |  WITH RECURSIVE r(shard, step, used, doc_id, n_tokens,
              |                   seq_id, off) AS (
              |    SELECT shard, 0, CAST([] AS BIGINT[]),
              |      CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
              |      CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
              |    FROM sh
              |    UNION ALL
              |    SELECT rk.shard, r.step + 1,
              |      CASE WHEN fi IS NULL THEN list_append(r.used, rk.l)
              |           ELSE list_transform(r.used, (u, i) ->
              |             CASE WHEN i = fi THEN u + rk.l ELSE u END) END,
              |      rk.doc_id, rk.n_tokens,
              |      CAST(coalesce(fi - 1, len(r.used)) AS BIGINT),
              |      CAST(coalesce(r.used[fi], 0) AS BIGINT)
              |    FROM r
              |    JOIN rk ON rk.shard = r.shard AND rk.rank = r.step + 1,
              |    LATERAL (SELECT list_aggregate(list_transform(r.used,
              |      (u, i) -> CASE WHEN u + rk.l <= 64 THEN i END), 'min')
              |      AS fi) f
              |  )
              |  SELECT * FROM r WHERE doc_id IS NOT NULL
              |)
              |ORDER BY doc_id""".stripMargin)),

    // Packing-efficiency CURVE: d72's FFD packer swept over the
    // sequence lengths a trainer actually chooses between (64/128/
    // 256/512 tokens), at the d25 shard assignment — the d68-style
    // tuning table ("which seq length wastes least padding on THIS
    // corpus") closing the loop d56 opened by measuring waste.
    // util_e4 = packed tokens / (sequences × cap). Scale shape: one
    // shard-key exchange per cap over the same HOF fold as d72, then
    // a bounded per-shard aggregate and a 4-row union; the oracle
    // runs the identical fold as ONE recursive CTE keyed on
    // (cap, shard).
    Q("d73_pack_curve",
      (s, d) => {
        // One tokenization for the scalar AND all four cap runs —
        // before the counted refactor each cap re-scanned and
        // re-tokenized the corpus (5 scans per evaluation).
        val (counted, shards) = countedShards(s, d)
        Seq(64, 128, 256, 512).map { cap =>
          TextAnalysis.packSequencesFfdCounted(counted, seqTokens = cap,
              shards = shards)
            .groupBy("shard")
            .agg(count(lit(1)).as("nd"),
              (max("seq_id") + 1).as("ns"),
              sum(least(col("n_tokens"), lit(cap.toLong))).as("used"))
            .agg(sum("nd").as("n_docs"), sum("ns").as("n_seqs"),
              sum("used").as("packed_tokens"))
            .select(lit(cap.toLong).as("cap"), col("n_docs"),
              col("n_seqs"), col("packed_tokens"),
              floor(col("packed_tokens").cast("double")
                / (col("n_seqs") * cap) * 10000 + 0.5).cast("long")
                .as("util_e4"))
        }.reduce(_ union _).orderBy("cap")
      },
      Some(s"""WITH tok AS (
              |  SELECT doc_id,
              |    ${TextHash.duckDocFingerprint("CAST(doc_id AS VARCHAR)")}
              |      * ${Sampling.Mixer} % ${Sampling.MixMod}
              |      % ${Sampling.Buckets} AS bucket,
              |    CAST(len(${TextHash.duckTokens("text")}) AS BIGINT)
              |      AS n_tokens
              |  FROM documents
              |),
              |shc AS (
              |  SELECT GREATEST(1, CAST(CEIL(
              |    CAST(SUM(n_tokens) AS DOUBLE) / (64.0 * 200)) AS BIGINT))
              |    AS s
              |  FROM tok
              |),
              |sharded AS (
              |  SELECT c.cap, doc_id, bucket % (SELECT s FROM shc) AS shard,
              |    LEAST(n_tokens, c.cap) AS l
              |  FROM tok, (SELECT unnest([64, 128, 256, 512]) AS cap) c
              |),
              |rk AS (
              |  SELECT cap, doc_id, shard, l,
              |    row_number() OVER (PARTITION BY cap, shard
              |      ORDER BY l DESC, doc_id) AS rank
              |  FROM sharded
              |),
              |sh AS (SELECT DISTINCT cap, shard FROM rk)
              |SELECT CAST(cap AS BIGINT) AS cap,
              |  CAST(sum(nd) AS BIGINT) AS n_docs,
              |  CAST(sum(ns) AS BIGINT) AS n_seqs,
              |  CAST(sum(used) AS BIGINT) AS packed_tokens,
              |  CAST(floor(CAST(sum(used) AS DOUBLE)
              |    / (sum(ns) * cap) * 10000 + 0.5) AS BIGINT) AS util_e4
              |FROM (
              |  WITH RECURSIVE r(cap, shard, step, used, doc_id, l) AS (
              |    SELECT cap, shard, 0, CAST([] AS BIGINT[]),
              |      CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
              |    FROM sh
              |    UNION ALL
              |    SELECT rk.cap, rk.shard, r.step + 1,
              |      CASE WHEN fi IS NULL THEN list_append(r.used, rk.l)
              |           ELSE list_transform(r.used, (u, i) ->
              |             CASE WHEN i = fi THEN u + rk.l ELSE u END) END,
              |      rk.doc_id, rk.l
              |    FROM r
              |    JOIN rk ON rk.cap = r.cap AND rk.shard = r.shard
              |      AND rk.rank = r.step + 1,
              |    LATERAL (SELECT list_aggregate(list_transform(r.used,
              |      (u, i) -> CASE WHEN u + rk.l <= rk.cap THEN i END),
              |      'min') AS fi) f
              |  ),
              |  fin AS (
              |    SELECT cap, shard, max(step) AS last_step,
              |      count(doc_id) AS nd, sum(l) AS used
              |    FROM r WHERE doc_id IS NOT NULL GROUP BY cap, shard
              |  ),
              |  seqs AS (
              |    SELECT r.cap, r.shard, len(r.used) AS ns
              |    FROM r JOIN fin ON fin.cap = r.cap AND fin.shard = r.shard
              |      AND r.step = fin.last_step
              |  )
              |  SELECT fin.cap, fin.shard, fin.nd AS nd, seqs.ns AS ns,
              |    fin.used AS used
              |  FROM fin JOIN seqs ON seqs.cap = fin.cap
              |    AND seqs.shard = fin.shard
              |)
              |GROUP BY cap
              |ORDER BY cap""".stripMargin)),

    // Held-out n-gram COVERAGE — the inverse of decontamination
    // (d15 asks "is eval data leaking INTO the corpus?"; this asks
    // "how much of a held-out set does the corpus already cover?" —
    // the memorization/novelty audit run before trusting held-out
    // perplexity): per held-out doc (every 97th), the fraction of
    // its distinct token 5-grams present anywhere in the REST of the
    // corpus. Scale shape: one distinct exchange builds the corpus
    // gram set (the d2 inverted-index class — gram-keyed,
    // partial-agg'd), the probe side left-joins on the gram key
    // (co-partitioned; ≤1 match per gram BY distinctness), coverage
    // is exact integer division per doc. No pair scan anywhere.
    Q("d74_gram_coverage",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .filter(length(trim(col("text"))) > 0)
          .withColumn("_toks", expr(TextHash.sparkTokens("text")))
          .filter(size(col("_toks")) >= 5)
        def grams(c: DataFrame) = c.select(col("doc_id"),
          explode(array_distinct(expr(
            "transform(sequence(1, size(_toks) - 4), " +
              "i -> array_join(slice(_toks, i, 5), ' '))"))).as("gram"))
        val held = grams(docs.filter(col("doc_id") % 97 === 0))
        val corpusGrams = grams(docs.filter(col("doc_id") % 97 =!= 0))
          .select("gram").distinct().withColumn("_hit", lit(1L))
        held.join(corpusGrams, Seq("gram"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum(coalesce(col("_hit"), lit(0L))).as("n_covered"))
          .select(col("doc_id"), col("n_grams"), col("n_covered"),
            expr("CAST(n_covered * 10000 div n_grams AS BIGINT)")
              .as("cov_e4"))
          .orderBy("doc_id")
      },
      Some(s"""WITH dt AS (
              |  SELECT doc_id, ${TextHash.duckTokens("text")} AS toks
              |  FROM documents WHERE length(trim(text)) > 0
              |),
              |g AS (
              |  SELECT doc_id, unnest(list_distinct(list_transform(
              |    range(1, len(toks) - 3),
              |    i -> array_to_string(list_slice(toks, i, i + 4), ' '))))
              |    AS gram
              |  FROM dt WHERE len(toks) >= 5
              |),
              |held AS (SELECT * FROM g WHERE doc_id % 97 = 0),
              |cg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 <> 0)
              |SELECT h.doc_id,
              |  count(*) AS n_grams,
              |  CAST(sum(CASE WHEN cg.gram IS NOT NULL THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_covered,
              |  CAST(sum(CASE WHEN cg.gram IS NOT NULL THEN 1 ELSE 0 END)
              |    * 10000 // count(*) AS BIGINT) AS cov_e4
              |FROM held h LEFT JOIN cg USING (gram)
              |GROUP BY h.doc_id
              |ORDER BY h.doc_id""".stripMargin)),

    // Train/val/test SPLIT-LEAKAGE audit: deterministic 80/10/10
    // hash split (the d14 Sampling bucket — reshuffle-stable), then
    // count d3's verified near-dup pairs per (split_a, split_b) cell
    // — off-diagonal cells are evaluation leakage (a val doc whose
    // near-duplicate sits in train scores as memorization, not
    // generalization). The audit every split ships with: splitting
    // BEFORE deduping is the classic silent benchmark-inflation bug.
    // Scale shape: the pair list is d3's banded candidate join
    // (never all-pairs); the split table joins it twice on the doc
    // key; the output is the bounded 3x3 grid.
    Q("d75_split_leakage",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val bucket = Sampling.hashBucket(col("doc_id")) % 10
        val split = docs.select(col("doc_id"),
          when(bucket < 8, "train")
            .when(bucket === 8, "val")
            .otherwise("test").as("split"))
        Dedup.minhashLshPairs(docs, minJaccard = 0.8)
          .select("da", "db")
          .join(split.select(col("doc_id").as("da"),
            col("split").as("split_a")), "da")
          .join(split.select(col("doc_id").as("db"),
            col("split").as("split_b")), "db")
          .groupBy("split_a", "split_b")
          .agg(count(lit(1)).as("n_pairs"))
          .select(col("split_a"), col("split_b"), col("n_pairs"),
            (col("split_a") =!= col("split_b")).as("is_leak"))
          .orderBy("split_a", "split_b")
      },
      Some(s"""WITH ${TextHash.duckToksCte},
              |${TextHash.duckShinglesCte},
              |${TextHash.duckMinHashCte},
              |${TextHash.duckBandsCte},
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
              |  FROM bands a JOIN bands b
              |    ON a.band = b.band AND a.sig = b.sig
              |   AND a.doc_id < b.doc_id
              |),
              |${jaccardCoreSql(
                 """SELECT c.da, c.db, count(*) AS inter
                   |   FROM cand c
                   |   JOIN sh x ON x.doc_id = c.da
                   |   JOIN sh y ON y.doc_id = c.db AND y.s = x.s
                   |   GROUP BY c.da, c.db""".stripMargin)},
              |pairs AS (SELECT da, db FROM jac WHERE j >= 0.8),
              |split AS (
              |  SELECT doc_id,
              |    CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
              |      ELSE 'test' END AS split
              |  FROM (
              |    SELECT doc_id,
              |      ${TextHash.duckDocFingerprint("CAST(doc_id AS VARCHAR)")}
              |        * ${Sampling.Mixer} % ${Sampling.MixMod}
              |        % ${Sampling.Buckets} % 10 AS b
              |    FROM documents
              |  )
              |)
              |SELECT sa.split AS split_a, sb.split AS split_b,
              |  count(*) AS n_pairs,
              |  sa.split <> sb.split AS is_leak
              |FROM pairs p
              |JOIN split sa ON sa.doc_id = p.da
              |JOIN split sb ON sb.doc_id = p.db
              |GROUP BY 1, 2
              |ORDER BY split_a, split_b""".stripMargin)),

    // KMV (k-minimum-values) distinct-count sketch — the cardinality
    // estimator alongside the frequency (d18) and similarity (d3/d4)
    // sketches: corpus-distinct 3-gram SHINGLE count (the size of the
    // d2/d3 inverted index — the cardinality a dedup planner actually
    // wants; the generator's token vocabulary is only ~31 words, far
    // under k) from the k smallest distinct shingle hashes,
    // est = (k−1)·P / kth_smallest for hashes uniform on [0, P).
    // Built on the shared poly-hash spec (Knuth-mixed to [0, 2³²) —
    // the raw polynomial clusters at the low end and measured 25%
    // high; mixed, 1.5% on this corpus), so BOTH engines compute the
    // IDENTICAL estimate — the property HLL can't give
    // (engine-specific registers); std err ≈ 1/√k ≈ 6% at k=256.
    // Scale shape: one shingle-keyed distinct exchange (as d2's
    // inverted index), then TakeOrderedAndProject (per-partition
    // bottom-k, k-row driver merge — never a global sort). The exact
    // count rides along as the verification column.
    Q("d27_kmv_distinct",
      (s, d) => {
        val k = 256
        val h = Dedup.shingleSets(
            Tables.documents(s, d).select("doc_id", "text"))
          .select(explode(col("sh")).as("s0"))
          .select((col("s0") * Sampling.Mixer % Sampling.MixMod)
            .as("h"))
          .distinct()
        val kmv = h.orderBy("h").limit(k)
          .agg(count(lit(1)).as("n_kmv"), max("h").as("kth"))
        val exact = h.agg(count(lit(1)).as("exact_distinct"))
        kmv.crossJoin(exact)
          .select(col("n_kmv"), col("kth"),
            when(col("n_kmv") < k, col("n_kmv"))
              .otherwise(floor(lit((k - 1).toDouble) * Sampling.MixMod /
                col("kth") + 0.5))
              .cast("long").as("est_distinct"),
            col("exact_distinct"))
      },
      Some(s"""WITH ${TextHash.duckToksCte},
              |${TextHash.duckShinglesCte},
              |h AS (
              |  SELECT DISTINCT s * ${Sampling.Mixer} % ${Sampling.MixMod}
              |    AS h
              |  FROM sh
              |),
              |kmv AS (SELECT h FROM h ORDER BY h LIMIT 256),
              |sk AS (SELECT count(*) AS n_kmv, max(h) AS kth FROM kmv),
              |x AS (SELECT count(*) AS exact_distinct FROM h)
              |SELECT n_kmv, kth,
              |  CAST(CASE WHEN n_kmv < 256 THEN n_kmv
              |       ELSE floor(255.0 * ${Sampling.MixMod} / kth + 0.5)
              |       END AS BIGINT) AS est_distinct,
              |  exact_distinct
              |FROM sk, x""".stripMargin)),

    // Per-GROUP cardinality via the mergeable KMV aggregate: d27
    // estimates one corpus-wide count (TakeOrdered suffices there);
    // per-language counts with that approach would pay a distinct
    // exchange per group, so `kmv_sketch` keeps k=256 smallest
    // distinct hashes as bounded O(k) state under ObjectHashAggregate
    // — per-group cardinality sketching in ONE aggregation pass, the
    // same sketch-state shape as d18's Misra-Gries. The estimate is
    // order/merge-independent (k smallest distinct values are a
    // function of the SET), so it oracle-checks exactly; the exact
    // per-group count rides along for verification.
    Q("d28_kmv_per_lang",
      (s, d) => {
        import graft.functions.KmvSketch.kmv_sketch
        val k = 256
        val docs = Tables.documents(s, d)
        val h = Dedup.shingleSets(docs.select("doc_id", "text"))
          .join(docs.select("doc_id", "lang"), "doc_id")
          .select(col("lang"), explode(col("sh")).as("s0"))
          .select(col("lang"),
            (col("s0") * Sampling.Mixer % Sampling.MixMod).as("h"))
        h.groupBy("lang")
          .agg(kmv_sketch(col("h"), k).as("kmv"),
            countDistinct(col("h")).as("exact_distinct"))
          .select(col("lang"),
            size(col("kmv")).cast("long").as("n_kmv"),
            element_at(col("kmv"), -1).as("kth"),
            when(size(col("kmv")) < k, size(col("kmv")).cast("long"))
              .otherwise(floor(lit((k - 1).toDouble) * Sampling.MixMod /
                element_at(col("kmv"), -1) + 0.5).cast("long"))
              .as("est_distinct"),
            col("exact_distinct"))
          .orderBy("lang")
      },
      Some(s"""WITH ${TextHash.duckToksCte},
              |${TextHash.duckShinglesCte},
              |hl AS (
              |  SELECT DISTINCT d.lang,
              |    s.s * ${Sampling.Mixer} % ${Sampling.MixMod} AS h
              |  FROM sh s JOIN documents d USING (doc_id)
              |),
              |r AS (
              |  SELECT lang, h,
              |    row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
              |  FROM hl
              |),
              |kmv AS (
              |  SELECT lang, count(*) AS n_kmv, max(h) AS kth
              |  FROM r WHERE rn <= 256 GROUP BY lang
              |),
              |x AS (SELECT lang, count(*) AS exact_distinct FROM hl
              |      GROUP BY lang)
              |SELECT lang, CAST(n_kmv AS BIGINT) AS n_kmv, kth,
              |  CAST(CASE WHEN n_kmv < 256 THEN n_kmv
              |       ELSE floor(255.0 * ${Sampling.MixMod} / kth + 0.5)
              |       END AS BIGINT) AS est_distinct,
              |  CAST(exact_distinct AS BIGINT) AS exact_distinct
              |FROM kmv JOIN x USING (lang)
              |ORDER BY lang""".stripMargin)),

    // HyperLogLog distinct count (Flajolet et al. 2007), column-level
    // form: 64 max-rho registers over the mixed 32-bit shingle hash.
    // Where d27's KMV pays a corpus-wide DISTINCT exchange before its
    // bottom-k, the HLL registers come straight off the raw
    // (duplicate-laden) stream — max() is duplicate-insensitive — so
    // the only exchange is a 64-group partial-aggregated max: the
    // cheapest possible cardinality pass at 100 TB. Registers are a
    // pure function of the input SET, so the whole estimate chain
    // (scaled-integer harmonic sum, linear-counting correction)
    // mirrors exactly in SQL; the exact count rides along as the
    // verification column (oracle side only pays it at test SF).
    // std err ≈ 1.04/√64 ≈ 13% at m=64.
    Q("d59_hll_distinct",
      (s, d) => {
        // register math contract: see functions.HllSketch scaladoc
        val h = Dedup.shingleSets(
            Tables.documents(s, d).select("doc_id", "text"))
          .select(explode(col("sh")).as("s0"))
          .select((col("s0") * Sampling.Mixer % Sampling.MixMod).as("h"))
        val mx = h.select(
            shiftright(col("h"), 26).as("reg"),
            col("h").bitwiseAND(lit(67108863L)).as("w"))
          .select(col("reg"),
            when(col("w") === 0, lit(27))
              .otherwise(lit(27) - length(bin(col("w")))).as("rho"))
          .groupBy("reg").agg(max("rho").as("m"))
        val regs = s.range(64).select(col("id").as("reg"))
          .join(mx, Seq("reg"), "left")
          .select(coalesce(col("m"), lit(0)).as("m"))
        val sk = regs.agg(
          sum(expr("shiftleft(1L, CAST(27 - m AS INT))")).as("s_scaled"),
          sum(when(col("m") === 0, 1L).otherwise(0L)).as("n_zero"))
        val exact = h.distinct().agg(count(lit(1)).as("exact_distinct"))
        sk.crossJoin(exact)
          .withColumn("raw",
            lit(0.709) * lit(4096.0) * lit(134217728.0) / col("s_scaled"))
          .select(col("s_scaled"), col("n_zero"),
            when(col("raw") <= lit(160.0) && col("n_zero") > 0,
              floor(lit(64.0) * log(lit(64.0) / col("n_zero")) + 0.5))
              .otherwise(floor(col("raw") + 0.5))
              .cast("long").as("est_distinct"),
            col("exact_distinct"))
      },
      Some(s"""WITH ${TextHash.duckToksCte},
              |${TextHash.duckShinglesCte},
              |h AS (
              |  SELECT s * ${Sampling.Mixer} % ${Sampling.MixMod} AS h
              |  FROM sh
              |),
              |rr AS (
              |  SELECT h >> 26 AS reg,
              |    CASE WHEN (h & 67108863) = 0 THEN 27
              |         ELSE 27 - length(bin(h & 67108863)) END AS rho
              |  FROM h
              |),
              |mx AS (SELECT reg, max(rho) AS m FROM rr GROUP BY reg),
              |grid AS (SELECT unnest(range(0, 64)) AS reg),
              |regs AS (
              |  SELECT coalesce(mx.m, 0) AS m
              |  FROM grid LEFT JOIN mx ON mx.reg = grid.reg
              |),
              |sk AS (
              |  SELECT CAST(sum(1::BIGINT << (27 - m)) AS BIGINT)
              |           AS s_scaled,
              |         CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END)
              |           AS BIGINT) AS n_zero
              |  FROM regs
              |),
              |x AS (SELECT count(DISTINCT h) AS exact_distinct FROM h),
              |est AS (
              |  SELECT s_scaled, n_zero,
              |    CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE) *
              |      CAST(134217728 AS DOUBLE) / s_scaled AS raw
              |  FROM sk
              |)
              |SELECT s_scaled, n_zero,
              |  CAST(CASE WHEN raw <= CAST(160 AS DOUBLE) AND n_zero > 0
              |       THEN floor(CAST(64 AS DOUBLE) *
              |              ln(CAST(64 AS DOUBLE) / n_zero) + 0.5)
              |       ELSE floor(raw + 0.5) END AS BIGINT) AS est_distinct,
              |  CAST(exact_distinct AS BIGINT) AS exact_distinct
              |FROM est, x""".stripMargin)),

    // Per-GROUP HLL via the mergeable register aggregate — the d28
    // pattern (bounded sketch state under ObjectHashAggregate) with
    // HLL's O(2^p)-bytes-per-group state instead of KMV's k values:
    // ONE aggregation pass over the raw stream gives every group's
    // registers (merge = element-wise max, order-independent), and
    // the estimate chain is derived with codegen'd array functions —
    // no per-group distinct exchange anywhere. Registers being a
    // function of the set, the estimates oracle-check exactly
    // (same register math, same scaled-integer harmonic sum).
    Q("d60_hll_per_lang",
      (s, d) => {
        import graft.functions.HllSketch.hll_sketch
        val docs = Tables.documents(s, d)
        val h = Dedup.shingleSets(docs.select("doc_id", "text"))
          .join(docs.select("doc_id", "lang"), "doc_id")
          .select(col("lang"), explode(col("sh")).as("s0"))
          .select(col("lang"),
            (col("s0") * Sampling.Mixer % Sampling.MixMod).as("h"))
        h.groupBy("lang")
          .agg(hll_sketch(col("h"), 6).as("regs"),
            countDistinct(col("h")).as("exact_distinct"))
          .withColumn("s_scaled", expr(
            "aggregate(regs, 0L, (acc, r) -> acc + shiftleft(1L, 27 - r))"))
          .withColumn("n_zero",
            expr("CAST(size(filter(regs, r -> r = 0)) AS BIGINT)"))
          .withColumn("raw",
            lit(0.709) * lit(4096.0) * lit(134217728.0) / col("s_scaled"))
          .select(col("lang"), col("s_scaled"), col("n_zero"),
            when(col("raw") <= lit(160.0) && col("n_zero") > 0,
              floor(lit(64.0) * log(lit(64.0) / col("n_zero")) + 0.5))
              .otherwise(floor(col("raw") + 0.5))
              .cast("long").as("est_distinct"),
            col("exact_distinct"))
          .orderBy("lang")
      },
      Some(s"""WITH ${TextHash.duckToksCte},
              |${TextHash.duckShinglesCte},
              |hl AS (
              |  SELECT d.lang, s.s * ${Sampling.Mixer} % ${Sampling.MixMod}
              |    AS h
              |  FROM sh s JOIN documents d USING (doc_id)
              |),
              |rr AS (
              |  SELECT lang, h >> 26 AS reg,
              |    CASE WHEN (h & 67108863) = 0 THEN 27
              |         ELSE 27 - length(bin(h & 67108863)) END AS rho
              |  FROM hl
              |),
              |mx AS (SELECT lang, reg, max(rho) AS m
              |       FROM rr GROUP BY lang, reg),
              |grid AS (
              |  SELECT l.lang, g.reg
              |  FROM (SELECT DISTINCT lang FROM hl) l,
              |       (SELECT unnest(range(0, 64)) AS reg) g
              |),
              |regs AS (
              |  SELECT grid.lang, coalesce(mx.m, 0) AS m
              |  FROM grid LEFT JOIN mx
              |    ON mx.lang = grid.lang AND mx.reg = grid.reg
              |),
              |sk AS (
              |  SELECT lang,
              |    CAST(sum(1::BIGINT << (27 - m)) AS BIGINT) AS s_scaled,
              |    CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT)
              |      AS n_zero
              |  FROM regs GROUP BY lang
              |),
              |x AS (SELECT lang, CAST(count(DISTINCT h) AS BIGINT)
              |        AS exact_distinct
              |      FROM hl GROUP BY lang),
              |est AS (
              |  SELECT lang, s_scaled, n_zero,
              |    CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE) *
              |      CAST(134217728 AS DOUBLE) / s_scaled AS raw
              |  FROM sk
              |)
              |SELECT e.lang, s_scaled, n_zero,
              |  CAST(CASE WHEN raw <= CAST(160 AS DOUBLE) AND n_zero > 0
              |       THEN floor(CAST(64 AS DOUBLE) *
              |              ln(CAST(64 AS DOUBLE) / n_zero) + 0.5)
              |       ELSE floor(raw + 0.5) END AS BIGINT) AS est_distinct,
              |  exact_distinct
              |FROM est e JOIN x USING (lang)
              |ORDER BY lang""".stripMargin)),

    // Deterministic weighted sampling without replacement (A-ES,
    // Efraimidis-Spirakis): the k=100 best draws of a hash-seeded
    // exponential race with weight = n_chars — the quality-weighted
    // corpus downsampling step of a training recipe, reproducible
    // across runs/partitionings/engines because the race key is a
    // pure function of (doc_id, weight). Selection is a TakeOrdered,
    // never a global sort; both engines compute the identical
    // ln(u)/w key and the output carries only integer columns.
    Q("d61_weighted_sample",
      (s, d) => Sampling.weightedSample(
          Tables.documents(s, d).select("doc_id", "lang", "n_chars"),
          "doc_id", "n_chars", k = 100)
        .orderBy("doc_id"),
      Some(s"""WITH pr AS (
              |  SELECT doc_id, lang, n_chars,
              |    ln(CAST(${TextHash.duckDocFingerprint(
                     "CAST(doc_id AS VARCHAR)")}
              |          * ${Sampling.Mixer} % ${Sampling.MixMod}
              |          + 1 AS DOUBLE)
              |       / CAST(${Sampling.MixMod} AS DOUBLE)) / n_chars AS k
              |  FROM documents WHERE n_chars > 0
              |),
              |sel AS (
              |  SELECT doc_id, lang, n_chars FROM pr
              |  ORDER BY k DESC, doc_id LIMIT 100
              |)
              |SELECT doc_id, lang, n_chars FROM sel
              |ORDER BY doc_id""".stripMargin)),

    // Deterministic global training-order shuffle — the last step
    // before shard export: a trainer must not read the corpus in
    // crawl order (adjacent docs correlate: same site, same day,
    // same template), and rand() orders are partition-, retry- and
    // engine-unstable. Order = the full 32-bit Knuth-mixed id hash,
    // tie-broken by id — a pure function of the row set, so the
    // "random" permutation is reproducible anywhere and the oracle
    // simply ORDER BYs the same expression. Range-partitioned
    // distributed sort (the pr_rank_sort class — no single-task
    // sort); composes into ParquetSink.writeTokenShards(shuffled =
    // true) for within-shard order (SourcesSpec pins file order).
    Q("d65_train_shuffle",
      (s, d) => Sampling.shuffleOrder(
        Tables.documents(s, d).select("doc_id", "lang", "n_chars"),
        "doc_id"),
      Some(s"""SELECT doc_id, lang, n_chars,
              |  ${TextHash.duckDocFingerprint("CAST(doc_id AS VARCHAR)")}
              |    * ${Sampling.Mixer} % ${Sampling.MixMod} AS shuffle_key
              |FROM documents
              |ORDER BY shuffle_key, doc_id""".stripMargin)),

    // Shard-balance card: the QA gate after writeTokenShards — per
    // shard (same mixed-hash % n assignment as the sink, ONE shared
    // definition so the card audits exactly what the sink wrote) the
    // doc count, char mass, language diversity, and fixed-point doc
    // share. A trainer reads this before a run: a shard whose share
    // drifts far from 1/n or that lost a language signals a skewed
    // or corrupted export. One partial-agg exchange on the shard key
    // + a broadcast one-row total.
    Q("d70_shard_card",
      (s, d) => {
        val per = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .withColumn("shard", Sampling.mixedKey(col("doc_id")) % 32)
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("sum_chars"),
            countDistinct("lang").as("n_langs"))
        val tot = per.agg(sum("n_docs").as("total"))
        per.crossJoin(broadcast(tot))
          .select(col("shard"), col("n_docs"), col("sum_chars"),
            col("n_langs"),
            floor(col("n_docs").cast("double") / col("total") * 10000
              + 0.5).cast("long").as("share_fp"))
          .orderBy("shard")
      },
      Some(s"""WITH sh AS (
              |  SELECT doc_id, lang, n_chars,
              |    ${TextHash.duckDocFingerprint("CAST(doc_id AS VARCHAR)")}
              |      * ${Sampling.Mixer} % ${Sampling.MixMod} % 32 AS shard
              |  FROM documents
              |),
              |per AS (
              |  SELECT shard, count(*) AS n_docs,
              |    CAST(sum(n_chars) AS BIGINT) AS sum_chars,
              |    count(DISTINCT lang) AS n_langs
              |  FROM sh GROUP BY 1
              |)
              |SELECT CAST(shard AS BIGINT) AS shard, n_docs, sum_chars,
              |  n_langs,
              |  CAST(floor(CAST(n_docs AS DOUBLE)
              |    / (SELECT CAST(sum(n_docs) AS DOUBLE) FROM per)
              |    * 10000 + 0.5) AS BIGINT) AS share_fp
              |FROM per ORDER BY shard""".stripMargin)),

    // Corpus heavy hitters (frequent-token mining): one pass builds a
    // Misra-Gries sketch (capacity 64 ⇒ every token with true count
    // > N/65 is guaranteed in it, whatever the partitioning), then an
    // exact count pass confined to the candidate set verifies the
    // threshold — the shuffle carries candidate tokens only, never
    // the full (token) group space. The composed result is exact and
    // deterministic even though sketch internals are order-dependent.
    Q("d18_heavy_hitters",
      (s, d) => {
        import graft.functions.HeavyHittersSketch.heavy_hitters
        val tk = Tables.documents(s, d)
          .select(explode(expr(TextHash.sparkTokens("text"))).as("token"))
        val total = tk.count()
        // The sketch only guarantees recall of tokens with true count
        // > total/65 (capacity 64), while the exact pass keeps count
        // >= total/40 (integer floor) — sound only while the floored
        // threshold exceeds the guarantee bound. This is exactly
        // `total/40 * 65 > total`; it holds for any real corpus
        // (fails only for total < 40 or total in [65, 79]), and the
        // require turns the silent-miss window into a loud error.
        require(total / 40 * 65 > total,
          s"d18: capacity-64 sketch cannot guarantee recall at " +
            s"threshold total/40 for a $total-token corpus")
        val cand = tk.agg(heavy_hitters(col("token"), 64).as("hh"))
          .select(explode(col("hh")).as("h"))
          .select(col("h.item").as("token"))
        tk.join(broadcast(cand), "token")
          .groupBy("token").agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= total / 40)
          .orderBy(col("cnt").desc, col("token"))
      },
      Some(s"""WITH tk AS (
              |  SELECT unnest(${TextHash.duckTokens("text")}) AS token
              |  FROM documents
              |)
              |SELECT token, count(*) AS cnt FROM tk
              |GROUP BY token
              |HAVING count(*) >= (SELECT count(*) // 40 FROM tk)
              |ORDER BY cnt DESC, token""".stripMargin)),

    // Blocked fuzzy matching (entity-resolution dedup for short
    // strings — titles, names, product labels): DISTINCT titles plus
    // deterministic typo variants (5th char deleted — the block key
    // is the first 4 chars, so the variant stays in its base's
    // block; an edit INSIDE the key would escape the block, which is
    // standard blocking's recall caveat), self-joined per block,
    // verified by levenshtein <= 2. Scale shape: the O(n^2) pair
    // space collapses to sum-of-block^2 via the equi-join on the
    // block key — never a cross join; the verify predicate runs only
    // on block-local candidates.
    Q("d35_fuzzy_match",
      (s, d) => {
        val titles = Tables.documents(s, d)
          .select(concat_ws(" ", slice(split(col("text"), " "), 1, 4))
            .as("title")).distinct()
        val variants = titles
          .filter(length(col("title")) >= 6)
          .filter(expr(TextHash.sparkDocFingerprint("title")) % 3 === 0)
          .select(concat(substring(col("title"), 1, 4),
            substring(col("title"), 6, 1000000)).as("title"))
        val all = titles.union(variants).distinct()
          .withColumn("blk", substring(col("title"), 1, 4))
        all.as("a").join(all.as("b"), Seq("blk"))
          .filter(col("a.title") < col("b.title"))
          .filter(levenshtein(col("a.title"), col("b.title")) <= 2)
          .select(col("a.title").as("t1"), col("b.title").as("t2"),
            levenshtein(col("a.title"), col("b.title")).cast("long")
              .as("dist"))
          .orderBy("t1", "t2")
      },
      Some(s"""WITH t AS (
              |  SELECT DISTINCT array_to_string(
              |    (string_split(text, ' '))[1:4], ' ') AS title
              |  FROM documents
              |),
              |v AS (
              |  SELECT substr(title, 1, 4) || substr(title, 6) AS title
              |  FROM t
              |  WHERE length(title) >= 6
              |    AND ${TextHash.duckDocFingerprint("title")} % 3 = 0
              |),
              |al AS (
              |  SELECT DISTINCT title, substr(title, 1, 4) AS blk
              |  FROM (SELECT title FROM t UNION ALL SELECT title FROM v)
              |)
              |SELECT a.title AS t1, b.title AS t2,
              |  CAST(levenshtein(a.title, b.title) AS BIGINT) AS dist
              |FROM al a JOIN al b ON a.blk = b.blk
              |  AND a.title < b.title
              |  AND levenshtein(a.title, b.title) <= 2
              |ORDER BY t1, t2""".stripMargin)),

    // Incremental corpus refresh (the snapshot-diff primitive a
    // continuously-maintained training corpus runs between crawl
    // versions): two simulated corpus versions (removals, additions,
    // in-place edits), compared by doc FINGERPRINT so the full-outer
    // join ships (id, 8-byte hash) — never text. At 100 TB the diff
    // is one co-partitioned SMJ on doc_id over two fingerprint scans;
    // the downstream delta (only 'added'/'changed' docs) is what
    // feeds d21's incremental dedup.
    Q("d34_snapshot_diff",
      (s, d) => {
        val base = Tables.documents(s, d)
        val fpOld = base.filter(col("doc_id") % 10 =!= 7)
          .select(col("doc_id"),
            expr(TextHash.sparkDocFingerprint("text")).as("fp_old"))
        val fpNew = base.filter(col("doc_id") % 10 =!= 4)
          .select(col("doc_id"),
            when(col("doc_id") % 10 === 3,
              concat(col("text"), lit(" refreshed")))
              .otherwise(col("text")).as("text"))
          .select(col("doc_id"),
            expr(TextHash.sparkDocFingerprint("text")).as("fp_new"))
        fpOld.join(fpNew, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            when(col("fp_old").isNull, "added")
              .when(col("fp_new").isNull, "removed")
              .when(col("fp_old") =!= col("fp_new"), "changed")
              .otherwise("unchanged").as("status"))
          .orderBy("doc_id")
      },
      Some(s"""WITH oldv AS (
              |  SELECT doc_id, ${TextHash.duckDocFingerprint("text")}
              |    AS fp
              |  FROM documents WHERE doc_id % 10 != 7
              |),
              |newv AS (
              |  SELECT doc_id, ${TextHash.duckDocFingerprint("text")}
              |    AS fp
              |  FROM (SELECT doc_id,
              |          CASE WHEN doc_id % 10 = 3
              |            THEN text || ' refreshed' ELSE text END
              |            AS text
              |        FROM documents WHERE doc_id % 10 != 4)
              |)
              |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
              |  CASE WHEN o.doc_id IS NULL THEN 'added'
              |       WHEN n.doc_id IS NULL THEN 'removed'
              |       WHEN o.fp != n.fp THEN 'changed'
              |       ELSE 'unchanged' END AS status
              |FROM oldv o FULL OUTER JOIN newv n
              |  ON o.doc_id = n.doc_id
              |ORDER BY doc_id""".stripMargin)),

    // URL/domain filtering (the crawl-frontier curation gate): hosts
    // planted per doc, host extracted from the URL by regex,
    // REGISTRABLE domain derived with a public-suffix-style rule
    // (multi-label suffixes like co.uk take three labels, everything
    // else two — the real PSL is a data file; the algorithm is this),
    // then a broadcast ANTI-join against the blocklist of registrable
    // domains. Subdomain evasion (a.b.tracker.net, img.ads.co.uk)
    // is caught because the join key is the registrable domain, not
    // the host. Scale shape: map-side extract + broadcast anti-join,
    // one exchange for the deterministic sort.
    Q("d33_url_filter",
      (s, d) => {
        import s.implicits._
        val hosts = Seq("docs.example.com", "a.b.tracker.net",
          "blog.example.org", "x.spam.biz", "news.site.co.uk",
          "img.ads.co.uk", "cdn.example.com")
        val blocklist = Seq("tracker.net", "spam.biz", "ads.co.uk")
          .toDF("blocked")
        val urls = Tables.documents(s, d).select(col("doc_id"),
          concat(lit("https://"),
            element_at(array(hosts.map(lit): _*),
              (col("doc_id") % hosts.size).cast("int") + 1),
            lit("/p/"), col("doc_id").cast("string")).as("url"))
        val withHost = urls.withColumn("host",
          regexp_extract(col("url"), "^https?://([^/]+)/", 1))
        val labels = split(col("host"), "\\.")
        val n = size(labels)
        val suffix2 = concat_ws(".",
          element_at(labels, n - 1), element_at(labels, n))
        val reg = when(suffix2.isin("co.uk"),
            concat_ws(".", element_at(labels, n - 2), suffix2))
          .otherwise(suffix2)
        withHost.withColumn("reg_domain", reg)
          .join(broadcast(blocklist),
            col("reg_domain") === col("blocked"), "left_anti")
          .select(col("doc_id"), col("host"), col("reg_domain"))
          .orderBy("doc_id")
      },
      Some("""WITH u AS (
             |  SELECT doc_id,
             |    'https://' || (['docs.example.com', 'a.b.tracker.net',
             |      'blog.example.org', 'x.spam.biz', 'news.site.co.uk',
             |      'img.ads.co.uk', 'cdn.example.com'])
             |      [CAST(doc_id % 7 AS INT) + 1]
             |      || '/p/' || doc_id AS url
             |  FROM documents
             |),
             |h AS (
             |  SELECT doc_id,
             |    regexp_extract(url, '^https?://([^/]+)/', 1) AS host
             |  FROM u
             |),
             |r AS (
             |  SELECT doc_id, host,
             |    CASE WHEN sp[-2] || '.' || sp[-1] IN ('co.uk')
             |      THEN sp[-3] || '.' || sp[-2] || '.' || sp[-1]
             |      ELSE sp[-2] || '.' || sp[-1] END AS reg_domain
             |  FROM (SELECT doc_id, host, string_split(host, '.') AS sp
             |        FROM h)
             |)
             |SELECT doc_id, host, reg_domain FROM r
             |WHERE reg_domain NOT IN
             |  ('tracker.net', 'spam.biz', 'ads.co.uk')
             |ORDER BY doc_id""".stripMargin)),

    // Count-Min sketch, Spark-first: the classic d x w frequency
    // sketch IS a hashed-cell aggregation, so instead of a custom
    // buffer it's declared as inline-explode over d=4 salted
    // universal hashes + groupBy(r, j) — partial aggregation gives
    // the map-side combine, total state is the 4x1024 counter grid
    // regardless of corpus size, and merging IS the shuffle's sum.
    // Probes (top-30 exact tokens) read min over the 4 cells;
    // CMS >= exact always, equality when no cell collides. At 100 TB
    // the counter grid is the only reduced state — this is the
    // bounded-sketch alternative when d18's Misra-Gries top-k isn't
    // enough and per-ANY-token estimates are needed.
    Q("d32_countmin",
      (s, d) => {
        val P = TextHash.P
        val W = 1024
        val salts = Seq((0, 131L, 17L), (1, 137L, 29L),
          (2, 139L, 41L), (3, 149L, 53L))
        def j(a: Long, b: Long) =
          ((lit(a) * col("th") + lit(b)) % P) % W
        val toks = Tables.documents(s, d)
          .select(explode(expr(TextHash.sparkTokenHashes("text")))
            .as("th"))
        val counters = toks
          .select(inline(array(salts.map { case (r, a, b) =>
            struct(lit(r).as("r"), j(a, b).as("j"))
          }: _*)))
          .groupBy("r", "j").agg(count(lit(1)).as("c"))
        val probes = toks.groupBy("th").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("th")).limit(30)
        val probeCells = probes
          .select(col("th"), col("cnt"), inline(array(salts.map {
            case (r, a, b) =>
              struct(lit(r).as("r"), j(a, b).as("j"))
          }: _*)))
        probeCells.join(broadcast(counters), Seq("r", "j"))
          .groupBy("th", "cnt").agg(min(col("c")).as("cms_est"))
          .select(col("th"), col("cnt").as("exact_cnt"),
            col("cms_est"))
          .orderBy(col("exact_cnt").desc, col("th"))
      },
      Some {
        def j(r: Int): String = {
          val (a, b) = Seq((131, 17), (137, 29), (139, 41),
            (149, 53))(r)
          s"(($a * th + $b) % ${TextHash.P}) % 1024"
        }
        val cellCase = s"""CASE rr.r WHEN 0 THEN ${j(0)}
                          | WHEN 1 THEN ${j(1)}
                          | WHEN 2 THEN ${j(2)}
                          | ELSE ${j(3)} END""".stripMargin
        s"""WITH ${TextHash.duckToksCte},
           |tk AS (SELECT unnest(th) AS th FROM toks),
           |cells AS (
           |  SELECT rr.r AS r, $cellCase AS j
           |  FROM tk, (SELECT unnest(range(0, 4)) AS r) rr
           |),
           |counters AS (
           |  SELECT r, j, count(*) AS c FROM cells GROUP BY 1, 2
           |),
           |probes AS (
           |  SELECT th, count(*) AS cnt FROM tk GROUP BY th
           |  ORDER BY cnt DESC, th LIMIT 30
           |),
           |pc AS (
           |  SELECT p.th, p.cnt, rr.r AS r, $cellCase AS j
           |  FROM probes p, (SELECT unnest(range(0, 4)) AS r) rr
           |)
           |SELECT pc.th, CAST(pc.cnt AS BIGINT) AS exact_cnt,
           |  CAST(MIN(c.c) AS BIGINT) AS cms_est
           |FROM pc JOIN counters c ON c.r = pc.r AND c.j = pc.j
           |GROUP BY pc.th, pc.cnt
           |ORDER BY exact_cnt DESC, th""".stripMargin
      }),

    // LM fluency scoring (the CCNet perplexity-filter shape, with a
    // corpus unigram model standing in for KenLM — no external model
    // files in this container): build the LM as one (token, count)
    // aggregation over the corpus, broadcast it (vocabulary-sized),
    // and score every document map-side as the mean token log
    // probability. Low scores = token-salad documents a perplexity
    // gate would drop. The two-pass build-then-score plumbing is
    // exactly where a real external LM plugs in.
    Q("d19_lm_score",
      (s, d) => {
        val tk = Tables.documents(s, d).select(col("doc_id"),
          explode(expr(TextHash.sparkTokens("text"))).as("token"))
        val n = tk.count() // corpus token count (driver scalar handoff)
        // The unigram stand-in LM, built as an explicit (token,
        // logprob) table — the exact shape a real KenLM/BPE scorer
        // drops in for (TextAnalysis.lmScore is the plug point; its
        // contract test feeds a hand-written table).
        val lm = tk.groupBy("token")
          .agg(log(count(lit(1)).cast("double") / n).as("logprob"))
        TextAnalysis.lmScore(tk, lm).orderBy("doc_id")
      },
      Some(s"""WITH tk AS (
              |  SELECT doc_id, unnest(${TextHash.duckTokens("text")}) AS token
              |  FROM documents
              |),
              |lm AS (SELECT token, count(*) AS cnt FROM tk GROUP BY 1)
              |SELECT t.doc_id, count(*) AS n_tokens,
              |  CAST(floor(avg(ln(CAST(lm.cnt AS DOUBLE)
              |      / (SELECT count(*) FROM tk))) * 1000000 + 0.5) AS BIGINT)
              |    AS logprob_e6
              |FROM tk t JOIN lm USING (token)
              |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin)),

    // BPE-unit tokenization: the d7 "BPE-ish regex" gap closed with a
    // REAL byte-pair-merge tokenizer — a fixed rank-ordered merge
    // table applied with the classic greedy encode, as a compiled
    // kernel expression (BpeUnitsExpr, codegen'd like token_hashes).
    // The md5 over the space-joined unit sequence forces the oracle
    // to reproduce the EXACT units in the EXACT order, not just
    // counts. Scale shape: map-side per-row kernel + the
    // deterministic sort — no shuffle.
    Q("d29_bpe_tokenize",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          Bpe.bpe_units(expr(TextHash.sparkTokens("text"))).as("units"))
        .select(col("doc_id"),
          size(col("units")).cast("long").as("n_units"),
          md5(array_join(col("units"), " ")).as("units_md5"))
        .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE ${Bpe.duckBpeCtes("documents")},
              |j AS (
              |  SELECT w.doc_id, w.widx, u.s
              |  FROM wtoks w JOIN wunits u USING (tok)
              |)
              |SELECT doc_id,
              |  CAST(SUM(len(string_split(s, ' '))) AS BIGINT) AS n_units,
              |  md5(string_agg(s, ' ' ORDER BY widx)) AS units_md5
              |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // d19's (token, logprob) contract fed with BPE units: the
    // unigram LM is built over SUBWORD units instead of whitespace
    // words — the scoring numbers a curation gate would actually see
    // from a subword-tokenized model. Same two-pass
    // build-then-score plumbing as d19 (TextAnalysis.lmScore is the
    // shared plug point).
    Q("d30_bpe_lm_score",
      (s, d) => {
        // BPE encoding is the dominant cost and tk feeds THREE
        // consumers (the count action, the LM build, the score
        // join) — persist so the merge loop runs once per doc
        val tk = Tables.documents(s, d).select(col("doc_id"),
          explode(Bpe.bpe_units(expr(TextHash.sparkTokens("text"))))
            .as("token")).persist()
        val n = tk.count() // corpus unit count (driver scalar handoff)
        val lm = tk.groupBy("token")
          .agg(log(count(lit(1)).cast("double") / n).as("logprob"))
        TextAnalysis.lmScore(tk, lm).orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE ${Bpe.duckBpeCtes("documents")},
              |units AS (
              |  SELECT w.doc_id, unnest(string_split(u.s, ' ')) AS token
              |  FROM wtoks w JOIN wunits u USING (tok)
              |),
              |lm AS (SELECT token, count(*) AS cnt FROM units GROUP BY 1)
              |SELECT t.doc_id, count(*) AS n_tokens,
              |  CAST(floor(avg(ln(CAST(lm.cnt AS DOUBLE)
              |      / (SELECT count(*) FROM units))) * 1000000 + 0.5)
              |    AS BIGINT) AS logprob_e6
              |FROM units t JOIN lm USING (token)
              |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin)),

    // HTML -> text extraction (the WET step of a web-crawl pipeline,
    // run before every quality/dedup stage): planted pages wrap each
    // doc's text in real chrome — script with angle-bracket code,
    // style, comments, entity-encoded headline/link text, attribute
    // query strings — and the extractor removes script/style
    // subtrees, comments, and tags, decodes the core entity set
    // (AFTER tag strip: "&lt;finest&gt;" is content, not markup;
    // &amp; last), and collapses whitespace. All codegen'd
    // regexp_replace/replace — no UDF. Scale shape: pure map-side
    // narrow projection, zero shuffle beyond the deterministic sort.
    Q("d31_html_extract",
      (s, d) => HtmlExtract.htmlTable(Tables.documents(s, d))
        .select(col("doc_id"),
          HtmlExtract.extract(col("html")).as("body_text"))
        .select(col("doc_id"), length(col("body_text")).cast("long")
          .as("n_chars"), col("body_text"))
        .orderBy("doc_id"),
      Some(s"""WITH h AS (
              |  SELECT doc_id, ${HtmlExtract.oracleHtml} AS html
              |  FROM documents
              |)
              |SELECT doc_id,
              |  CAST(length(${HtmlExtract.oracleExtract("html")})
              |    AS BIGINT) AS n_chars,
              |  ${HtmlExtract.oracleExtract("html")} AS body_text
              |FROM h ORDER BY doc_id""".stripMargin)),

    // Per-stratum RELATIVE quality gate (the CCNet-style bucket cut):
    // d13 filters on an absolute score, but curation pipelines also
    // cut the bottom decile WITHIN each language so low-resource
    // strata aren't wiped out by an absolute threshold tuned on the
    // dominant one. Scale shape: the per-stratum thresholds come
    // from ExactPercentile — count-per-(lang, q_e4) partial agg +
    // cumulative pick over the distinct-score table (q_e4 has at
    // most 10^4+1 values, so per-stratum state is domain-bounded, NOT
    // O(stratum) like the built-in `percentile` buffer) — broadcast
    // back; the gate itself is a map-side filter. Never a corpus-wide
    // per-stratum window sort. The comparison is integer-vs-
    // interpolated-threshold: adjacent data values bound every
    // interpolation, so an engine ulp can't flip membership.
    Q("d24_quality_percentile",
      (s, d) => {
        val q = TextAnalysis.quality(Tables.documents(s, d))
          .select(col("doc_id"), col("lang"),
            floor(col("quality_score") * 10000 + 0.5).cast("long")
              .as("q_e4"))
        val thr = graft.operators.ExactPercentile
          .grouped(q, Seq("lang"), "q_e4", Seq("p10" -> 0.1))
          .select(col("lang"), col("p10"))
        q.join(broadcast(thr), "lang")
          .filter(col("q_e4") >= col("p10"))
          .select(col("doc_id"), col("lang"), col("q_e4"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, lang, ${TextHash.duckTokens("text")} AS tk
              |  FROM documents
              |),
              |q AS (
              |  SELECT doc_id, lang, CAST(floor(
              |    (0.4 * (CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk))
              |     + 0.3 * least(CAST(len(tk) AS DOUBLE) / 100.0, 1.0)
              |     + 0.3 * (1.0 - CAST(len(list_filter(tk,
              |         t -> t = 'the' OR t = 'a')) AS DOUBLE) / len(tk)))
              |    * 10000 + 0.5) AS BIGINT) AS q_e4
              |  FROM t
              |),
              |thr AS (
              |  SELECT lang, quantile_cont(q_e4, 0.1) AS p10
              |  FROM q GROUP BY lang
              |)
              |SELECT q.doc_id, q.lang, q.q_e4
              |FROM q JOIN thr USING (lang)
              |WHERE q.q_e4 >= thr.p10
              |ORDER BY q.doc_id""".stripMargin)),

    // Corpus statistics ("data card" reporting): doc/token volumes
    // and mean quality per (lang, source), per lang, and overall —
    // one GROUPING SETS pass (Expand + partial agg, single
    // exchange), the summary table a curation run publishes next to
    // its output. Mean quality is stated as floor(sum/count + 0.5)
    // on an EXACT integer sum — avg() would sum doubles in
    // partition order and can land a half-ulp either side of a .5
    // boundary; an integer sum divided once is bit-stable on both
    // engines. Keys coalesce to 'ALL' post-grouping (q10 convention)
    // so the stated order is engine-consistent.
    // Vocabulary data card (g12's graph card for TEXT): vocab size,
    // token mass, hapax count (singleton tokens — the noise /
    // misspelling / OCR-damage signal), and the Zipf tail exponent
    // (Hill/MLE at fmin=2 over the frequency spectrum) — the one
    // row that decides tokenizer vocab sizing and frequency-floor
    // cuts. One token-keyed partial-agg exchange, then a one-row
    // aggregate; every ln term e6-floored before the integer sum.
    Q("d64_zipf_card",
      (s, d) => {
        val tf = Tables.documents(s, d)
          .select(explode(expr(TextHash.sparkTokens("text"))).as("token"))
          .groupBy("token").agg(count(lit(1)).as("f"))
        tf.agg(
            count(lit(1)).as("vocab_size"),
            sum("f").as("total_tokens"),
            max("f").as("top_count"),
            sum(when(col("f") === 1, 1L).otherwise(0L)).as("n_hapax"),
            sum(when(col("f") >= 2, 1L).otherwise(0L)).as("n_tail"),
            sum(when(col("f") >= 2,
              floor(log(col("f").cast("double") / lit(2.0))
                * 1000000 + 0.5).cast("long"))
              .otherwise(0L)).as("s_ln"))
          .select(col("vocab_size"), col("total_tokens"),
            col("top_count"), col("n_hapax"),
            when(col("s_ln") > 0,
              floor(lit(1000000.0) + lit(1000000000000.0)
                * col("n_tail") / col("s_ln") + 0.5).cast("long"))
              .otherwise(lit(null).cast("long")).as("zipf_alpha_e6"))
      },
      Some(s"""WITH tk AS (
              |  SELECT unnest(${TextHash.duckTokens("text")}) AS token
              |  FROM documents
              |),
              |tf AS (SELECT token, count(*) AS f FROM tk GROUP BY token),
              |a AS (
              |  SELECT CAST(count(*) AS BIGINT) AS vocab_size,
              |    CAST(sum(f) AS BIGINT) AS total_tokens,
              |    CAST(max(f) AS BIGINT) AS top_count,
              |    CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT)
              |      AS n_hapax,
              |    CAST(sum(CASE WHEN f >= 2 THEN 1 ELSE 0 END) AS BIGINT)
              |      AS n_tail,
              |    CAST(sum(CASE WHEN f >= 2 THEN
              |      CAST(floor(ln(CAST(f AS DOUBLE) / CAST(2 AS DOUBLE))
              |        * 1000000 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT)
              |      AS s_ln
              |  FROM tf
              |)
              |SELECT vocab_size, total_tokens, top_count, n_hapax,
              |  CASE WHEN s_ln > 0 THEN
              |    CAST(floor(CAST(1000000 AS DOUBLE)
              |      + CAST(1000000000000 AS DOUBLE) * n_tail / s_ln + 0.5)
              |      AS BIGINT)
              |  ELSE NULL END AS zipf_alpha_e6
              |FROM a""".stripMargin)),

    Q("d26_corpus_stats",
      (s, d) => {
        TextAnalysis.quality(Tables.documents(s, d))
          .select(col("lang"), col("source"), col("n_tokens"),
            floor(col("quality_score") * 10000 + 0.5).cast("long")
              .as("q_e4"))
          .createOrReplaceTempView("qstats")
        s.sql("""SELECT coalesce(lang, 'ALL') AS lang,
                |  coalesce(source, 'ALL') AS source,
                |  count(*) AS n_docs, sum(n_tokens) AS total_tokens,
                |  CAST(floor(CAST(sum(q_e4) AS DOUBLE) / count(*) + 0.5)
                |    AS BIGINT) AS avg_q_e4,
                |  min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
                |FROM qstats
                |GROUP BY GROUPING SETS ((lang, source), (lang), ())
                |ORDER BY lang, source""".stripMargin)
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, lang, source,
              |    ${TextHash.duckTokens("text")} AS tk
              |  FROM documents
              |),
              |q AS (
              |  SELECT lang, source,
              |    CAST(len(tk) AS BIGINT) AS n_tokens,
              |    CAST(floor(
              |    (0.4 * (CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk))
              |     + 0.3 * least(CAST(len(tk) AS DOUBLE) / 100.0, 1.0)
              |     + 0.3 * (1.0 - CAST(len(list_filter(tk,
              |         t -> t = 'the' OR t = 'a')) AS DOUBLE) / len(tk)))
              |    * 10000 + 0.5) AS BIGINT) AS q_e4
              |  FROM t
              |)
              |SELECT coalesce(lang, 'ALL') AS lang,
              |  coalesce(source, 'ALL') AS source,
              |  count(*) AS n_docs,
              |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
              |  CAST(floor(CAST(sum(q_e4) AS DOUBLE) / count(*) + 0.5)
              |    AS BIGINT) AS avg_q_e4,
              |  min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
              |FROM q
              |GROUP BY GROUPING SETS ((lang, source), (lang), ())
              |ORDER BY lang, source""".stripMargin)),

    // Stopword-ratio language-ID heuristic vs the labeled lang.
    Q("d5_lang_id",
      (s, d) => TextAnalysis.langId(Tables.documents(s, d))
        .groupBy("lang", "predicted")
        .agg(count(lit(1)).as("n_docs"),
          floor(avg("stop_ratio") * 10000 + 0.5).cast("long")
            .as("avg_stop_ratio_e4"))
        .orderBy("lang", "predicted"),
      Some(s"""WITH t AS (
              |  SELECT lang,
              |    CAST(len(list_filter(${TextHash.duckTokens("text")},
              |           t -> t = 'the' OR t = 'a')) AS DOUBLE)
              |      / len(${TextHash.duckTokens("text")}) AS r
              |  FROM documents
              |)
              |SELECT lang,
              |  CASE WHEN r >= 0.02 THEN 'en' ELSE 'und' END AS predicted,
              |  count(*) AS n_docs,
              |  CAST(floor(avg(r) * 10000 + 0.5) AS BIGINT)
              |    AS avg_stop_ratio_e4
              |FROM t GROUP BY lang, predicted
              |ORDER BY lang, predicted""".stripMargin)),

    // Per-doc quality metrics + composite score.
    Q("d6_text_quality",
      (s, d) => {
        // Scaled-integer outputs: these ratios are small rationals
        // (k/n_tokens) that can land exactly on decimal rounding
        // boundaries where half-up (Spark) and half-even (DuckDB)
        // disagree — e.g. 0.72925. floor(x·10⁴ + 0.5) is rule-free.
        def e4(c: String) = floor(col(c) * 10000 + 0.5).cast("long")
        TextAnalysis.quality(Tables.documents(s, d))
          .select(col("doc_id"), col("n_tokens"),
            e4("ttr").as("ttr_e4"),
            e4("len_sat").as("len_sat_e4"),
            e4("stop_ratio").as("stop_ratio_e4"),
            e4("quality_score").as("quality_score_e4"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, ${TextHash.duckTokens("text")} AS tk
              |  FROM documents
              |),
              |m AS (
              |  SELECT doc_id,
              |    CAST(len(tk) AS BIGINT) AS n_tokens,
              |    CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS ttr,
              |    least(CAST(len(tk) AS DOUBLE) / 100.0, 1.0) AS len_sat,
              |    CAST(len(list_filter(tk, t -> t = 'the' OR t = 'a'))
              |         AS DOUBLE) / len(tk) AS stop_ratio
              |  FROM t
              |)
              |SELECT doc_id, n_tokens,
              |  CAST(floor(ttr * 10000 + 0.5) AS BIGINT) AS ttr_e4,
              |  CAST(floor(len_sat * 10000 + 0.5) AS BIGINT) AS len_sat_e4,
              |  CAST(floor(stop_ratio * 10000 + 0.5) AS BIGINT)
              |    AS stop_ratio_e4,
              |  CAST(floor((0.4 * ttr + 0.3 * len_sat
              |              + 0.3 * (1.0 - stop_ratio)) * 10000 + 0.5)
              |       AS BIGINT) AS quality_score_e4
              |FROM m ORDER BY doc_id""".stripMargin)),

    // Whitespace + BPE-ish regex token counts.
    Q("d7_token_count",
      (s, d) => TextAnalysis.tokenCounts(Tables.documents(s, d))
        .orderBy("doc_id"),
      Some(raw"""SELECT doc_id,
              |  CAST(len(${TextHash.duckTokens("text")}) AS BIGINT)
              |    AS ws_tokens,
              |  CAST(len(regexp_extract_all(lower(text),
              |    '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpe_tokens
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // Whole-document polynomial rolling-hash fingerprint.
    Q("d8_fingerprint",
      (s, d) => TextAnalysis.fingerprints(Tables.documents(s, d))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, ${TextHash.duckDocFingerprint("text")}
              |  AS fingerprint
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // PII scrub: detect + mask emails/phones before text enters a
    // training corpus. The generator's word-soup has no natural PII,
    // so both engines plant it deterministically (every 7th doc an
    // email, every 5th a 555-phone; multiples of 35 get both), then
    // scrub and fingerprint the masked text. Map-side regex math
    // only — no shuffle.
    Q("d11_pii_scrub",
      (s, d) => {
        val planted = Tables.documents(s, d).select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 7 === 0,
              concat(lit(" reach me at user"),
                col("doc_id").cast("string"),
                lit("@mail.example.com"))).otherwise(lit("")),
            when(col("doc_id") % 5 === 0,
              concat(lit(" call 555-"),
                (lit(1000L) + col("doc_id") % 9000L).cast("string")))
              .otherwise(lit(""))).as("text"))
        PiiScrub.scrub(planted)
          .filter(col("n_emails") + col("n_phones") > 0)
          .select(col("doc_id"), col("n_emails"), col("n_phones"),
            md5(col("scrubbed")).as("scrub_md5"))
          .orderBy("doc_id")
      },
      Some(s"""WITH planted AS (
              |  SELECT doc_id, text ||
              |    CASE WHEN doc_id % 7 = 0
              |      THEN ' reach me at user' || CAST(doc_id AS VARCHAR)
              |        || '@mail.example.com' ELSE '' END ||
              |    CASE WHEN doc_id % 5 = 0
              |      THEN ' call 555-' ||
              |        CAST(1000 + doc_id % 9000 AS VARCHAR) ELSE '' END
              |    AS text
              |  FROM documents
              |),
              |scr AS (
              |  SELECT doc_id,
              |    CAST(len(regexp_extract_all(text,
              |      '${PiiScrub.EmailPattern}')) AS BIGINT) AS n_emails,
              |    CAST(len(regexp_extract_all(text,
              |      '${PiiScrub.PhonePattern}')) AS BIGINT) AS n_phones,
              |    md5(regexp_replace(regexp_replace(text,
              |      '${PiiScrub.EmailPattern}', '${PiiScrub.EmailMask}', 'g'),
              |      '${PiiScrub.PhonePattern}', '${PiiScrub.PhoneMask}', 'g'))
              |      AS scrub_md5
              |  FROM planted
              |)
              |SELECT doc_id, n_emails, n_phones, scrub_md5 FROM scr
              |WHERE n_emails + n_phones > 0
              |ORDER BY doc_id""".stripMargin)),

    // Intra-document repetition (Gopher-style duplicated-8-gram
    // fraction): rolling 8-token windows, duplicated vs distinct.
    // Every 4th doc is self-concatenated on both sides so the metric
    // has real signal (the generator's docs barely self-repeat).
    Q("d12_repetition",
      (s, d) => {
        val planted = Tables.documents(s, d).select(col("doc_id"),
          when(col("doc_id") % 4 === 0,
            concat(col("text"), lit(" "), col("text")))
            .otherwise(col("text")).as("text"))
        TextAnalysis.repetition(planted, n = 8).orderBy("doc_id")
      },
      Some(raw"""WITH planted AS (
              |  SELECT doc_id,
              |    CASE WHEN doc_id % 4 = 0 THEN text || ' ' || text
              |         ELSE text END AS text
              |  FROM documents
              |),
              |t AS (
              |  SELECT doc_id,
              |    regexp_split_to_array(lower(trim(text)), '\s+') AS tk
              |  FROM planted
              |),
              |w AS (
              |  SELECT doc_id,
              |    list_transform(range(1, greatest(len(tk) - 7, 1) + 1),
              |      i -> array_to_string(list_slice(tk, i, i + 7), ' '))
              |      AS wins
              |  FROM t
              |)
              |SELECT doc_id,
              |  CAST(len(wins) AS BIGINT) AS n_windows,
              |  CAST(len(wins) - len(list_distinct(wins)) AS BIGINT)
              |    AS n_dup_windows,
              |  CAST(floor(CAST(len(wins) - len(list_distinct(wins))
              |      AS DOUBLE) / len(wins) * 10000 + 0.5) AS BIGINT)
              |    AS rep_ratio_e4
              |FROM w ORDER BY doc_id""".stripMargin)),

    // Quality-filter composition — the actual corpus-curation step:
    // keep docs that pass language ID, composite quality, and length
    // gates together. One scan, map-side filters only; the thresholds
    // are mid-distribution at sf0.01 so the gate really cuts.
    Q("d13_quality_filter",
      (s, d) => TextAnalysis.quality(Tables.documents(s, d))
        .filter(col("predicted") === "en" &&
          col("quality_score") >= 0.63 &&
          col("n_tokens").between(20L, 10000L))
        .select(col("doc_id"),
          floor(col("quality_score") * 10000 + 0.5).cast("long")
            .as("quality_score_e4"))
        .orderBy("doc_id"),
      Some(s"""WITH t AS (
              |  SELECT doc_id, ${TextHash.duckTokens("text")} AS tk
              |  FROM documents
              |),
              |m AS (
              |  SELECT doc_id,
              |    CAST(len(tk) AS BIGINT) AS n_tokens,
              |    CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS ttr,
              |    least(CAST(len(tk) AS DOUBLE) / 100.0, 1.0) AS len_sat,
              |    CAST(len(list_filter(tk, t -> t = 'the' OR t = 'a'))
              |         AS DOUBLE) / len(tk) AS stop_ratio
              |  FROM t
              |)
              |SELECT doc_id,
              |  CAST(floor((0.4 * ttr + 0.3 * len_sat
              |              + 0.3 * (1.0 - stop_ratio)) * 10000 + 0.5)
              |       AS BIGINT) AS quality_score_e4
              |FROM m
              |WHERE stop_ratio >= 0.02
              |  AND (0.4 * ttr + 0.3 * len_sat
              |       + 0.3 * (1.0 - stop_ratio)) >= 0.63
              |  AND n_tokens BETWEEN 20 AND 10000
              |ORDER BY doc_id""".stripMargin)),

    // Brute-force cosine top-5 for the first 10 vectors — the ANN
    // correctness baseline (broadcast queries, codegen'd cosine).
    Q("e1_ann_topk",
      (s, d) => Similarity.bruteForceTopK(
          Tables.embeddings(s, d),
          Tables.embeddings(s, d).filter(col("vec_id") < 10), k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("cand_id"), col("sim"))
        .orderBy("query_id", "rank"),
      Some(s"""WITH e AS (
              |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
              |  FROM embeddings
              |),
              |q AS (SELECT * FROM e WHERE vec_id < 10),
              |scored AS (
              |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              |    ${TextHash.duckCosine("q.emb", "c.emb", 64)} AS sim
              |  FROM q JOIN e c ON c.vec_id <> q.vec_id
              |),
              |r AS (
              |  SELECT query_id, cand_id, sim,
              |    row_number() OVER (
              |      PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
              |  FROM scored
              |)
              |SELECT query_id, rank, cand_id, round(sim, 6) AS sim
              |FROM r WHERE rank <= 5
              |ORDER BY query_id, rank""".stripMargin)),

    // ε-neighborhood (range) search: fixed radius, floating result
    // size — the density-audit twin of e1's top-k. Empty
    // neighborhoods surface as explicit zero rows (left join back
    // onto the query set); broadcast queries ride the corpus scan,
    // per-query (count, max) partial-aggregates map-side.
    Q("e20_range_search",
      (s, d) => Similarity.rangeSearch(
          Tables.embeddings(s, d),
          Tables.embeddings(s, d).filter(col("vec_id") < 25),
          minSim = 0.3)
        .orderBy("query_id"),
      Some(s"""WITH e AS (
              |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
              |  FROM embeddings
              |),
              |q AS (SELECT * FROM e WHERE vec_id < 25),
              |sc AS (
              |  SELECT q.vec_id AS query_id,
              |    ${TextHash.duckCosine("q.emb", "c.emb", 64)} AS sim
              |  FROM q JOIN e c ON c.vec_id <> q.vec_id
              |),
              |h AS (
              |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_in_range,
              |    max(sim) AS ms
              |  FROM sc WHERE sim >= CAST(0.3 AS DOUBLE)
              |  GROUP BY query_id
              |)
              |SELECT q.vec_id AS query_id,
              |  coalesce(h.n_in_range, 0) AS n_in_range,
              |  round(h.ms, 6) AS max_sim
              |FROM q LEFT JOIN h ON h.query_id = q.vec_id
              |ORDER BY query_id""".stripMargin)),

    // IVF-style blocked search: only same-cluster (label) pairs are
    // scored — the co-partitioned equi-join that makes ANN tractable
    // at corpus scale.
    Q("e2_ann_ivf",
      (s, d) => Similarity.clusterBlockedPairs(
          Tables.embeddings(s, d), "label", minSim = 0.25)
        .orderBy("label", "va", "vb"),
      Some(s"""WITH e AS (
              |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
              |  FROM embeddings
              |)
              |SELECT a.label, a.vec_id AS va, b.vec_id AS vb,
              |  round(${TextHash.duckCosine("a.emb", "b.emb", 64)}, 6) AS sim
              |FROM e a JOIN e b
              |  ON a.label = b.label AND a.vec_id < b.vec_id
              |WHERE ${TextHash.duckCosine("a.emb", "b.emb", 64)} >= 0.25
              |ORDER BY 1, 2, 3""".stripMargin)),

    // IVF training step: per-cluster centroids.
    Q("e3_centroids",
      (s, d) => Similarity.centroids(Tables.embeddings(s, d), "label")
        .select(col("label"), col("dim").cast("long").as("dim"),
          col("centroid"))
        .orderBy("label", "dim"),
      Some(s"""WITH $labelCentroidCtes
              |SELECT label, dim, c AS centroid FROM c0
              |ORDER BY label, dim""".stripMargin)),

    // IVF query path: nearest-centroid assignment (nprobe=1) then
    // top-5 within the assigned cluster only — the search shape that
    // scales (centroid table broadcast, corpus never shuffled).
    Q("e4_ann_ivf_probe",
      (s, d) => Similarity.ivfProbeTopK(
          Tables.embeddings(s, d),
          Tables.embeddings(s, d).filter(col("vec_id") < 10),
          "label", k = 5)
        .select(col("query_id"), col("label"),
          col("rank").cast("long").as("rank"), col("cand_id"), col("sim"))
        .orderBy("query_id", "rank"),
      Some(ivfProbeSql(nprobe = 1))),

    // IVF with nprobe=2: each query probes its TWO nearest cells and
    // ranks top-5 across their union — the recall knob real IVF
    // search turns. Candidate sets of distinct cells are disjoint
    // (each vector lives in one cell), so no dedup is needed.
    Q("e5_ann_nprobe",
      (s, d) => Similarity.ivfProbeTopK(
          Tables.embeddings(s, d),
          Tables.embeddings(s, d).filter(col("vec_id") < 10),
          "label", k = 5, nprobe = 2)
        .select(col("query_id"), col("label"),
          col("rank").cast("long").as("rank"), col("cand_id"), col("sim"))
        .orderBy("query_id", "rank"),
      Some(ivfProbeSql(nprobe = 2))),

    // Recall-vs-nprobe TUNING CURVE from ONE search (the d68 idea
    // applied to the IVF knob): score candidates in the 4
    // nearest-centroid cells once, then every candidate row fans out
    // to the nprobe values that would have seen it (its cell's rank
    // .. 4 — a candidate's cell has exactly one rank per query, so
    // nothing is scored twice) and ONE (query, nprobe) bounded-heap
    // ranking yields recall@5 for all four settings — where a naive
    // sweep runs four separate probe searches. The fan-out is ≤4×
    // candidate rows into the same aggregate exchange; no window
    // over candidates, no second scan.
    Q("e36_nprobe_curve",
      (s, d) => {
        import graft.functions.CosineSimilarity.cosine_sim
        import graft.functions.NearestCentroidCell.nearest_cells
        import graft.functions.TopKByScore.top_k_by_score
        val emb = Tables.embeddings(s, d)
        val qs = emb.filter(col("vec_id") < 10)
        val exact = Similarity.bruteForceTopK(emb, qs, k = 5)
          .select(col("query_id"), col("cand_id"))
        // Each query's 4 nearest cells in probe order: the kernel's
        // array position is the cell's rank.
        val assigned = qs
          .select(col("vec_id").as("query_id"),
            col("embedding").as("query_emb"),
            posexplode(nearest_cells(col("embedding"),
              Similarity.centroidRows(emb, "label"), 4)).as(Seq("pos", "pc")))
          .select(col("query_id"), col("query_emb"),
            col("pc").cast(emb.schema("label").dataType).as("label"),
            (col("pos") + 1).as("cell_rank"))
        val cand = emb.select(col("label"), col("vec_id").as("cand_id"),
          col("embedding").as("cand_emb"))
        val top = cand.join(broadcast(assigned),
            cand("label") === assigned("label") &&
              col("cand_id") =!= col("query_id"))
          .withColumn("sim", cosine_sim(col("query_emb"), col("cand_emb")))
          .select(col("query_id"), col("cand_id"), col("sim"),
            explode(sequence(col("cell_rank"), lit(4))).as("np0"))
          .withColumn("nprobe", col("np0").cast("long"))
          .groupBy("query_id", "nprobe")
          .agg(top_k_by_score(col("sim"), col("cand_id"), lit(0L), 5)
            .as("tk"))
          .select(col("query_id"), col("nprobe"),
            explode(col("tk")).as("t"))
          .select(col("query_id"), col("nprobe"),
            col("t.cand_id").as("cand_id"))
        val hits = exact.join(top, Seq("query_id", "cand_id"))
          .groupBy("query_id", "nprobe").agg(count(lit(1)).as("h"))
        qs.select(col("vec_id").as("query_id"))
          .crossJoin(s.range(1, 5).select(col("id").as("nprobe")))
          .join(hits, Seq("query_id", "nprobe"), "left")
          .select(col("query_id"), col("nprobe"),
            coalesce(col("h"), lit(0L)).as("n_hits"),
            (coalesce(col("h"), lit(0L)) * 2000).as("recall_e4"))
          .orderBy("query_id", "nprobe")
      },
      Some(s"""WITH $probeCtes,
              |${exactKnnCtes(5)},
              |${labelRouteCtes(4)},
              |sc AS (
              |  SELECT a.query_id, e.vec_id AS cand_id,
              |    ${TextHash.duckCosine("a.qe", "e.emb", 64)} AS sim,
              |    a.rn AS cell_rank
              |  FROM ass a JOIN e ON e.label = a.label
              |    AND e.vec_id <> a.query_id
              |),
              |pn AS (
              |  SELECT query_id, cand_id, sim, gn.n AS nprobe
              |  FROM sc, (SELECT unnest(range(1, 5)) AS n) gn
              |  WHERE sc.cell_rank <= gn.n
              |),
              |top AS (
              |  SELECT query_id, nprobe, cand_id FROM (
              |    SELECT query_id, nprobe, cand_id, row_number() OVER (
              |      PARTITION BY query_id, nprobe
              |      ORDER BY sim DESC, cand_id) AS rk
              |    FROM pn
              |  ) WHERE rk <= 5
              |),
              |h AS (
              |  SELECT t.query_id, t.nprobe, count(*) AS nh
              |  FROM top t JOIN exact x ON x.query_id = t.query_id
              |    AND x.cand_id = t.cand_id
              |  GROUP BY 1, 2
              |),
              |grid AS (
              |  SELECT q.query_id, gn.n AS nprobe
              |  FROM q, (SELECT unnest(range(1, 5)) AS n) gn
              |)
              |SELECT g.query_id, CAST(g.nprobe AS BIGINT) AS nprobe,
              |  CAST(coalesce(h.nh, 0) AS BIGINT) AS n_hits,
              |  CAST(coalesce(h.nh, 0) * 2000 AS BIGINT) AS recall_e4
              |FROM grid g LEFT JOIN h ON h.query_id = g.query_id
              |  AND h.nprobe = g.nprobe
              |ORDER BY 1, 2""".stripMargin)),

    // Benchmark decontamination: find every corpus document containing
    // any probe n-gram (8 canonical-whitespace tokens drawn from
    // benchmark docs — here every 50th doc stands in for "the eval
    // set") as a run of whole tokens. graft.operators.Decontaminate:
    // documents explode to distinct token-8-gram HASHES, probes reduce
    // to one hash each, candidates come from the hash EQUI-join
    // (shuffle keyed on the gram hash — never the O(docs × probes)
    // broadcast nested-loop substring scan), and one aligned-substring
    // check verifies collisions exactly. The oracle states the
    // SEMANTICS directly (token-aligned containment via space-padded
    // strpos): a probe aligned in a doc always collides on its gram
    // hash, so the Spark candidate pruning is invisible to results.
    // The re-keyed duplicate corpus (as in d1) provides true
    // contaminated docs.
    Q("d15_decontaminate",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val rekeyed = docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        val corpus = docs.union(rekeyed)
          .select(col("doc_id"),
            regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("norm"))
        val probes = corpus
          .filter(col("doc_id") % 50 === 0 && col("doc_id") < 1000000L &&
            size(split(col("norm"), " ")) >= 10)
          .select(col("doc_id").as("probe_src"),
            expr("array_join(slice(split(norm, ' '), 3, 8), ' ')")
              .as("probe"))
        Decontaminate.matches(corpus, probes, n = 8)
          .orderBy("doc_id", "probe_src")
      },
      Some(raw"""WITH corpus0 AS (
              |  SELECT doc_id, text FROM documents
              |  UNION ALL
              |  SELECT doc_id + 1000000 AS doc_id, text
              |  FROM documents WHERE doc_id % 10 = 0
              |),
              |corpus AS (
              |  SELECT doc_id,
              |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
              |  FROM corpus0
              |),
              |probes AS (
              |  SELECT doc_id AS probe_src,
              |    array_to_string(list_slice(string_split(norm, ' '), 3, 10),
              |      ' ') AS probe
              |  FROM corpus
              |  WHERE doc_id % 50 = 0 AND doc_id < 1000000
              |    AND len(string_split(norm, ' ')) >= 10
              |)
              |SELECT c.doc_id, p.probe_src
              |FROM corpus c JOIN probes p
              |  ON strpos(' ' || c.norm || ' ', ' ' || p.probe || ' ') > 0
              | AND c.doc_id <> p.probe_src
              |ORDER BY 1, 2""".stripMargin)),

    // Asymmetric containment dedup (Dedup.containmentPairs): a short
    // document contained in a longer one (snippet-vs-article, quote
    // expansion) has high containment C(A⊆B) = |A∩B|/|A| but Jaccard
    // ≈ |A|/|B| → 0 — the case the symmetric d2/d3 family misses by
    // construction. Planted snippets: the first 12 tokens of every
    // 9th long doc re-keyed (+2e6) as standalone docs; their shingle
    // sets are subsets of their sources, so cont_b_in_a = 1.0 there.
    // Candidates ride the same df-capped inverted index as d2.
    Q("d43_containment",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val toks = split(trim(col("text")), "\\s+")
        val snippets = docs
          .filter(col("doc_id") % 9 === 0 && size(toks) >= 24)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            array_join(slice(toks, 1, 12), " ").as("text"))
        Dedup.containmentPairs(docs.union(snippets),
            minContainment = 0.9)
          .orderBy("da", "db")
      },
      Some(raw"""WITH ${TextHash.duckToksCte(
             """(SELECT doc_id, text FROM documents
               |   UNION ALL
               |   SELECT doc_id + 2000000 AS doc_id,
               |     array_to_string(list_slice(
               |       regexp_split_to_array(trim(text), '\s+'), 1, 12),
               |       ' ') AS text
               |   FROM documents
               |   WHERE doc_id % 9 = 0
               |     AND len(regexp_split_to_array(trim(text), '\s+'))
               |         >= 24)""".stripMargin, "")},
              |${TextHash.duckShinglesCte},
              |rare AS (
              |  SELECT s FROM sh GROUP BY s
              |  HAVING count(*) <= ${Dedup.DefaultMaxShingleDf}
              |),
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
              |  FROM sh a JOIN rare r ON a.s = r.s
              |  JOIN sh b ON b.s = a.s AND a.doc_id < b.doc_id
              |),
              |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |iv AS (
              |  SELECT c.da, c.db, count(*) AS inter
              |  FROM cand c
              |  JOIN sh x ON x.doc_id = c.da
              |  JOIN sh y ON y.doc_id = c.db AND y.s = x.s
              |  GROUP BY c.da, c.db
              |)
              |SELECT iv.da, iv.db,
              |  CAST(floor((CAST(inter AS DOUBLE) / za.n) * 1000000 + 0.5)
              |    AS BIGINT) AS cont_a_in_b_e6,
              |  CAST(floor((CAST(inter AS DOUBLE) / zb.n) * 1000000 + 0.5)
              |    AS BIGINT) AS cont_b_in_a_e6
              |FROM iv
              |JOIN sz za ON za.doc_id = iv.da
              |JOIN sz zb ON zb.doc_id = iv.db
              |WHERE greatest(CAST(inter AS DOUBLE) / za.n,
              |               CAST(inter AS DOUBLE) / zb.n) >= 0.9
              |ORDER BY da, db""".stripMargin)),

    // Duplicated-SPAN detection (Dedup.dupSpans — the suffix-array
    // dedup shape of Lee et al. 2022 re-expressed relationally):
    // maximal token spans covered by 8-grams occurring ≥ 2 times
    // corpus-wide. Whole-doc dedup misses documents that are mostly
    // unique but share boilerplate paragraphs; span dedup localizes
    // the repeated region so a pipeline can CUT it. Planted signal:
    // every 5th doc gets a fixed 12-token boilerplate tail — those
    // docs report a merged span of exactly their last 12 tokens
    // (plus whatever naturally repeats). Scale shape: positional
    // grams map-side (compiled kernel), occurrence counts one
    // partial-agg exchange on the gram hash, hits join back
    // co-partitioned, span merge under ONE doc_id exchange with
    // per-group state bounded by the doc's own length — no suffix
    // array, no global sort.
    Q("d44_span_dedup",
      (s, d) => {
        val corpus = Tables.documents(s, d).select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" " + SpanBoilerplate)))
            .otherwise(col("text")).as("text"))
        Dedup.dupSpans(corpus, n = 8, minOccurrences = 2)
          .orderBy("doc_id", "span_start")
      },
      Some {
        val gramFold = (0 until 8).foldLeft("CAST(0 AS BIGINT)")(
          (a, j) => s"(($a * 31 + th[i+$j]) % ${TextHash.P})")
        raw"""WITH corpus AS (
             |  SELECT doc_id, CASE WHEN doc_id % 5 = 0
             |    THEN text || ' $SpanBoilerplate' ELSE text END AS text
             |  FROM documents
             |),
             |${TextHash.duckToksCte("corpus", "")},
             |grams AS (
             |  SELECT doc_id, i - 1 AS pos, $gramFold AS g
             |  FROM toks, unnest(range(1, len(th) - 6)) AS u(i)
             |  WHERE len(th) >= 8
             |),
             |dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
             |hits AS (SELECT g2.doc_id, g2.pos FROM grams g2
             |         JOIN dup USING (g)),
             |brk AS (
             |  SELECT doc_id, pos,
             |    CASE WHEN lag(pos) OVER w IS NULL
             |           OR pos - lag(pos) OVER w > 8 THEN 1 ELSE 0 END AS b
             |  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
             |),
             |sp AS (
             |  SELECT doc_id, pos,
             |    sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS sid
             |  FROM brk
             |)
             |SELECT doc_id,
             |  CAST(min(pos) AS BIGINT) AS span_start,
             |  CAST(max(pos) + 7 AS BIGINT) AS span_end,
             |  CAST(max(pos) - min(pos) + 8 AS BIGINT) AS span_tokens
             |FROM sp GROUP BY doc_id, sid
             |ORDER BY doc_id, span_start""".stripMargin
      }),

    // Importance-weighted data selection (the DSIR shape, Xie et al.
    // 2023): score every corpus doc by how target-domain-like its
    // hashed-unigram distribution is — per-bucket weight =
    // ln(P_target(b) / P_raw(b)) over 256 hash buckets with add-one
    // smoothing, doc score = mean weight of its tokens. The target
    // domain here is the English stratum; a real pipeline plugs any
    // curated corpus in as `tgt`. Parity: each bucket weight is
    // e6-floored BEFORE the per-doc sum, so the aggregation is exact
    // integer arithmetic (the d19 ln-precedent applied once per
    // BUCKET, never per row). Scale shape: token buckets map-side
    // (compiled kernel + pmod), the two count tables are 256-row
    // partial aggregations, the weight table broadcasts back, and the
    // doc score is one partial-agg exchange on doc_id; totals ride as
    // broadcast one-row aggregates — no collect, no window.
    Q("d45_dsir_weights",
      (s, d) => {
        val tb = Tables.documents(s, d).select(col("doc_id"), col("lang"),
            explode(token_hashes(expr(TextHash.sparkTokens("text"))))
              .as("th"))
          .select(col("doc_id"), col("lang"), (col("th") % 256).as("b"))
        val cr = tb.groupBy("b").agg(count(lit(1)).as("cr"))
        val ct = tb.filter(col("lang") === "en")
          .groupBy("b").agg(count(lit(1)).as("ct"))
        val tot = tb.agg(count(lit(1)).as("nr"),
          count(when(col("lang") === "en", 1)).as("nt"))
        val w = cr.join(ct, Seq("b"), "left").na.fill(0L, Seq("ct"))
          .crossJoin(broadcast(tot))
          .select(col("b"),
            floor(log(
              ((col("ct") + 1).cast("double") /
                (col("nt") + 256).cast("double")) /
              ((col("cr") + 1).cast("double") /
                (col("nr") + 256).cast("double"))) * 1000000 + 0.5)
              .cast("long").as("w_e6"))
        tb.join(broadcast(w), "b")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"), sum("w_e6").as("sw"))
          .select(col("doc_id"), col("n_tokens"),
            floor(col("sw").cast("double") / col("n_tokens") + 0.5)
              .cast("long").as("imp_w_e6"))
          .orderBy("doc_id")
      },
      Some(raw"""WITH tk AS (
             |  SELECT doc_id, lang,
             |    unnest(${TextHash.duckTokenHashes("text")}) AS th
             |  FROM documents
             |),
             |tb AS (SELECT doc_id, lang, th % 256 AS b FROM tk),
             |cr AS (SELECT b, count(*) AS cr FROM tb GROUP BY 1),
             |ct AS (SELECT b, count(*) AS ct FROM tb
             |       WHERE lang = 'en' GROUP BY 1),
             |tot AS (SELECT count(*) AS nr,
             |         count(*) FILTER (lang = 'en') AS nt FROM tb),
             |w AS (
             |  SELECT cr.b,
             |    CAST(floor(ln(
             |      (CAST(COALESCE(ct.ct, 0) + 1 AS DOUBLE)
             |        / CAST(nt + 256 AS DOUBLE))
             |      / (CAST(cr.cr + 1 AS DOUBLE)
             |        / CAST(nr + 256 AS DOUBLE))) * 1000000 + 0.5)
             |      AS BIGINT) AS w_e6
             |  FROM cr LEFT JOIN ct USING (b), tot
             |)
             |SELECT doc_id, count(*) AS n_tokens,
             |  CAST(floor(CAST(CAST(sum(w_e6) AS BIGINT) AS DOUBLE)
             |    / count(*) + 0.5) AS BIGINT) AS imp_w_e6
             |FROM tb JOIN w USING (b)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Trainable quality classifier (operators.LogReg): full-batch
    // gradient-ascent logistic regression distilling the d13 quality
    // gate (label = composite quality ≥ 0.63) back out of its raw
    // features — the fastText-gate shape of a curation pipeline,
    // with any labeled corpus pluggable. Determinism: weights are
    // e6 integers between rounds and per-row gradient contributions
    // e6-floor before the sum (exact long aggregation, partition-
    // order-free; the only float work is one exp per row·round,
    // immediately quantized — the d19 ln precedent). Scale: one
    // partial-agg exchange per round producing ONE row of dims+1
    // longs; O(dims) driver handoff (the e7 centroid class); scoring
    // is map-side column math. Oracle: 3 unrolled gradient rounds as
    // scalar CTEs over the shared d6 feature SQL.
    Q("d46_lr_quality",
      (s, d) => lrScored(s, d)
        .select(col("doc_id"), col("y").cast("int").as("label"),
          col("p_e6"), col("pred"))
        .orderBy("doc_id"),
      Some(s"""WITH ${lrScoredCtes}
              |SELECT doc_id, label, p_e6,
              |  CASE WHEN p_e6 >= 500000 THEN 1 ELSE 0 END AS pred
              |FROM scored ORDER BY doc_id""".stripMargin)),

    // Calibration audit of the d46 quality gate — the ML-ops check a
    // trainable filter needs before its scores steer a corpus mix:
    // bucket the model's p into deciles and compare claimed
    // confidence (mean p per bin) against observed accuracy (label
    // rate per bin); |conf − acc| per bin is the reliability diagram
    // and its n-weighted sum the ECE. Everything downstream of the
    // shared scored table is ONE partial-aggregated groupBy on a
    // derived 10-value key — no new exchange shape at any corpus
    // size; both engines bin the SAME integer p_e6 so no boundary
    // can disagree. Bins with no docs simply don't appear (exact on
    // both sides).
    Q("d66_calibration",
      (s, d) => {
        lrScored(s, d)
          .select(col("y").cast("long").as("label"), col("p_e6"))
          .groupBy(least(floor(col("p_e6") / 100000), lit(9L))
            .cast("long").as("bin"))
          .agg(count(lit(1)).as("n"),
            sum("label").as("n_pos"),
            sum("p_e6").as("sp"))
          .select(col("bin"), col("n"), col("n_pos"),
            floor(col("sp").cast("double") / col("n") + 0.5)
              .cast("long").as("conf_e6"),
            floor(col("n_pos") * lit(1000000L).cast("double") / col("n")
              + 0.5).cast("long").as("acc_e6"))
          .withColumn("gap_e6", abs(col("conf_e6") - col("acc_e6")))
          .orderBy("bin")
      },
      Some(s"""WITH ${lrScoredCtes},
              |b AS (
              |  SELECT least(p_e6 // 100000, 9) AS bin,
              |    count(*) AS n,
              |    CAST(sum(label) AS BIGINT) AS n_pos,
              |    CAST(sum(p_e6) AS BIGINT) AS sp
              |  FROM scored GROUP BY 1
              |)
              |SELECT CAST(bin AS BIGINT) AS bin, n, n_pos,
              |  CAST(floor(CAST(sp AS DOUBLE) / n + 0.5) AS BIGINT)
              |    AS conf_e6,
              |  CAST(floor(CAST(n_pos * 1000000 AS DOUBLE) / n + 0.5)
              |    AS BIGINT) AS acc_e6,
              |  CAST(abs(
              |    floor(CAST(sp AS DOUBLE) / n + 0.5) -
              |    floor(CAST(n_pos * 1000000 AS DOUBLE) / n + 0.5))
              |    AS BIGINT) AS gap_e6
              |FROM b ORDER BY bin""".stripMargin)),

    // Corpus DRIFT card between ingest snapshots (even vs odd
    // doc_ids standing in for yesterday/today) — the data-ops
    // monitor that pages before a mix shift poisons training: per
    // dimension value (lang:* and source:*) both snapshots' counts,
    // corpus-share gap (the per-dim term of total-variation
    // distance) and mean-quality shift on the d6 e4 grid. ONE
    // dimension-key partial aggregation over the doubled (lang ∪
    // source) projection + a broadcast one-row totals join — no
    // extra exchange shape at any corpus size; integer outputs so
    // no boundary disagrees. Complements d34 (per-DOC content diff)
    // and d57 (cross-source content overlap) with the
    // DISTRIBUTION-level view.
    Q("d67_drift_card",
      (s, d) => {
        val q = TextAnalysis.quality(Tables.documents(s, d))
          .select(col("doc_id"), col("lang"), col("source"),
            floor(col("quality_score") * 10000 + 0.5).cast("long")
              .as("qe4"),
            when(col("doc_id") % 2 === 0, 1L).otherwise(0L).as("a"))
        // Single corpus scan: each doc explodes to its two dimension
        // rows (a union of two projections of `q` would re-run the
        // regex-heavy quality chain per branch), the totals derive
        // from the grouped lang rows (every doc has exactly one
        // lang) instead of a third scan, and the ~25-row aggregate is
        // lineage-cut so its two readers (totals + final join) share
        // ONE corpus pass — the pushed-down lang filter makes the
        // branches' exchanges differ, so plain exchange reuse can't
        // dedupe them.
        def share(n: org.apache.spark.sql.Column,
            t: org.apache.spark.sql.Column) =
          floor(n * 1000000L.toDouble / t + 0.5).cast("long")
        def meanQ(sq: org.apache.spark.sql.Column,
            n: org.apache.spark.sql.Column) =
          when(n > 0, floor(sq.cast("double") / n + 0.5)).otherwise(0L)
            .cast("long")
        val g = q.select(explode(array(
            concat(lit("lang:"), col("lang")),
            concat(lit("source:"), col("source")))).as("dim"),
            col("qe4"), col("a"))
          .groupBy("dim")
          .agg(sum(col("a")).as("n_a"),
            sum(lit(1L) - col("a")).as("n_b"),
            sum(col("qe4") * col("a")).as("sqa"),
            sum(col("qe4") * (lit(1L) - col("a"))).as("sqb"))
          .lineageCut
        val tot = g.filter(col("dim").startsWith("lang:"))
          .agg(sum("n_a").as("tot_a"), sum("n_b").as("tot_b"))
        g.crossJoin(broadcast(tot))
          .select(col("dim"), col("n_a"), col("n_b"),
            share(col("n_a"), col("tot_a")).as("share_a_e6"),
            share(col("n_b"), col("tot_b")).as("share_b_e6"),
            abs(share(col("n_a"), col("tot_a")) -
              share(col("n_b"), col("tot_b"))).as("gap_e6"),
            meanQ(col("sqa"), col("n_a")).as("q_a_e4"),
            meanQ(col("sqb"), col("n_b")).as("q_b_e4"),
            abs(meanQ(col("sqa"), col("n_a")) -
              meanQ(col("sqb"), col("n_b"))).as("dq_e4"))
          .orderBy("dim")
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, lang, source,
              |    ${TextHash.duckTokens("text")} AS tk
              |  FROM documents
              |),
              |m AS (
              |  SELECT doc_id, lang, source,
              |    CAST(floor((0.4 * ttr + 0.3 * len_sat
              |                + 0.3 * (1.0 - stop_ratio)) * 10000 + 0.5)
              |         AS BIGINT) AS qe4,
              |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS a
              |  FROM (
              |    SELECT doc_id, lang, source,
              |      CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)
              |        AS ttr,
              |      least(CAST(len(tk) AS DOUBLE) / 100.0, 1.0)
              |        AS len_sat,
              |      CAST(len(list_filter(tk, t -> t = 'the' OR t = 'a'))
              |           AS DOUBLE) / len(tk) AS stop_ratio
              |    FROM t)
              |),
              |dims AS (
              |  SELECT 'lang:' || lang AS dim, qe4, a FROM m
              |  UNION ALL
              |  SELECT 'source:' || source AS dim, qe4, a FROM m
              |),
              |tot AS (
              |  SELECT CAST(sum(a) AS BIGINT) AS tot_a,
              |    CAST(sum(1 - a) AS BIGINT) AS tot_b
              |  FROM m
              |),
              |g AS (
              |  SELECT dim,
              |    CAST(sum(a) AS BIGINT) AS n_a,
              |    CAST(sum(1 - a) AS BIGINT) AS n_b,
              |    CAST(sum(qe4 * a) AS BIGINT) AS sqa,
              |    CAST(sum(qe4 * (1 - a)) AS BIGINT) AS sqb
              |  FROM dims GROUP BY dim
              |),
              |x AS (
              |  SELECT dim, n_a, n_b,
              |    CAST(floor(n_a * CAST(1000000 AS DOUBLE) / tot_a + 0.5)
              |      AS BIGINT) AS share_a_e6,
              |    CAST(floor(n_b * CAST(1000000 AS DOUBLE) / tot_b + 0.5)
              |      AS BIGINT) AS share_b_e6,
              |    CAST(CASE WHEN n_a > 0
              |      THEN floor(CAST(sqa AS DOUBLE) / n_a + 0.5)
              |      ELSE 0 END AS BIGINT) AS q_a_e4,
              |    CAST(CASE WHEN n_b > 0
              |      THEN floor(CAST(sqb AS DOUBLE) / n_b + 0.5)
              |      ELSE 0 END AS BIGINT) AS q_b_e4
              |  FROM g, tot
              |)
              |SELECT dim, n_a, n_b, share_a_e6, share_b_e6,
              |  abs(share_a_e6 - share_b_e6) AS gap_e6,
              |  q_a_e4, q_b_e4, abs(q_a_e4 - q_b_e4) AS dq_e4
              |FROM x ORDER BY dim""".stripMargin)),

    // Dedup THRESHOLD-TUNING curve — what every team asks before
    // picking d2/d3's 0.8: how many pairs does each Jaccard cutoff
    // accept? One run of the d2 chain at the loose 0.5 floor, then
    // pairs bucket by floor(j·10) (bucket 10 = exact dups) with the
    // cumulative accepted-at-or-above count per bucket — the curve a
    // threshold sweep would need |thresholds| full runs to draw.
    // Past the pair verification this is one 6-row aggregate and a
    // 6-row running sum. Pair source is the SATURATION-ROUTED
    // nearDupPairsAuto (the d54 pattern — round-14's last weak mark):
    // the 0.5-floor prefix bound indexes HALF of every doc's shingles
    // (α weakened to (na+nb)/3), so on a saturated vocabulary even
    // the prefix path grew candidates super-linearly (measured 18.8×
    // per 10× data at sf1). Below saturation the router picks the
    // direct path — bit-identical to the old form; at saturation it
    // switches to df-independent MinHash-LSH candidates, whose t=0.5
    // recall caveat (bucket probability 1−(1−j⁴)⁴ ≈ 23% at j=0.5) is
    // the documented audit trade — measured against the exact curve
    // in BASELINE.md's sf1 record. The chosen route ships IN the
    // output (round-15 advice): the `route` column says which recall
    // regime drew the curve, and the oracle mirrors the whole router
    // — the saturation scalar gates each branch's shingle feed (the
    // exact-prefix feed empties at saturation, so its quadratic
    // candidate join never materializes there; the band feed empties
    // below it), so the selfcheck compares like-for-like on EVERY
    // corpus instead of relying on LSH recall happening to be 100%.
    Q("d68_dedup_curve",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val pairs = Dedup
          .nearDupPairsAutoRouted(Tables.documents(s, d), minJaccard = 0.5)
        val w = Window.orderBy(col("bucket").desc)
          .rowsBetween(Window.unboundedPreceding, 0)
        pairs
          .groupBy(floor(col("jaccard_e6") / 100000).cast("long")
            .as("bucket"))
          .agg(count(lit(1)).as("n_pairs"), max("route").as("route"))
          .withColumn("n_cum", sum("n_pairs").over(w))
          .orderBy("bucket")
      },
      Some(s"""WITH ${TextHash.duckToksCte("documents", "0")},
              |${TextHash.duckShinglesCte("0")},
              |satr AS (
              |  SELECT count(*) > 0 AND 4 * count(*)
              |    >= ${Dedup.DefaultMaxShingleDf} * count(DISTINCT s)
              |    AS sat
              |  FROM sh0
              |),
              |sh AS (SELECT * FROM sh0 WHERE NOT (SELECT sat FROM satr)),
              |${prefixCandSql(500000)},
              |rare AS (
              |  SELECT s FROM dfs WHERE df <= ${Dedup.DefaultMaxShingleDf}
              |),
              |shl AS (SELECT * FROM sh0 WHERE (SELECT sat FROM satr)),
              |${TextHash.duckMinHashCte("l")},
              |${TextHash.duckBandsCte("l")},
              |candl AS (
              |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
              |  FROM bandsl a JOIN bandsl b
              |    ON a.band = b.band AND a.sig = b.sig
              |   AND a.doc_id < b.doc_id
              |),
              |call AS (
              |  SELECT da, db FROM cand
              |  UNION ALL SELECT da, db FROM candl
              |),
              |ix AS (
              |  SELECT c.da, c.db, count(*) AS inter
              |  FROM call c
              |  JOIN sh0 x ON x.doc_id = c.da
              |  JOIN sh0 y ON y.doc_id = c.db AND y.s = x.s
              |  GROUP BY c.da, c.db
              |),
              |sz AS (SELECT doc_id, count(*) AS n FROM sh0 GROUP BY doc_id),
              |jac AS (
              |  SELECT ix.da, ix.db,
              |    CAST(ix.inter AS DOUBLE) / (x.n + y.n - ix.inter)
              |    AS j
              |  FROM ix
              |  JOIN sz x ON x.doc_id = ix.da
              |  JOIN sz y ON y.doc_id = ix.db
              |),
              |f AS (
              |  SELECT CAST(floor(j * 1000000 + 0.5) AS BIGINT) AS je6
              |  FROM jac WHERE j >= 0.5
              |    AND ((SELECT sat FROM satr)
              |         OR ${shareRareSql("jac.da", "jac.db")})
              |),
              |b AS (
              |  SELECT je6 // 100000 AS bucket, count(*) AS n_pairs
              |  FROM f GROUP BY 1
              |)
              |SELECT CAST(bucket AS BIGINT) AS bucket, n_pairs,
              |  CAST(sum(n_pairs) OVER (ORDER BY bucket DESC
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |    AS BIGINT) AS n_cum,
              |  (SELECT CASE WHEN sat THEN 'lsh' ELSE 'direct' END
              |   FROM satr) AS route
              |FROM b ORDER BY bucket""".stripMargin)),

    // BPE merge-table TRAINING (operators.BpeTrain, Sennrich et al.
    // 2016) — the learning half of the tokenizer story: d29 APPLIES
    // a fixed merge table; this derives one from the corpus. Six
    // rounds of "fuse the most frequent adjacent symbol pair"
    // (ties to the smallest pair string — deterministic), each round
    // one partial-agg exchange over pair keys + a one-row argmax
    // driver handoff; the fuse is a map-side leftmost string replace
    // over the Zipf-bounded distinct-word vocabulary. Oracle: the
    // same six rounds as unrolled CTEs with scalar-subquery merges.
    Q("d47_bpe_train",
      (s, d) => {
        import s.implicits._
        val vocab = Tables.documents(s, d)
          .select(explode(expr(TextHash.sparkTokens("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("n"))
        BpeTrain.learnMerges(vocab, rounds = 6).toDF()
          .select(col("mergeRank").as("merge_rank"), col("lhs"),
            col("rhs"), col("merged"), col("nOcc").as("n_occ"))
          .orderBy("merge_rank")
      },
      Some {
        def roundSql(r: Int) =
          s"""p$r AS (
             |  SELECT s[i] || ' ' || s[i+1] AS pair,
             |    CAST(sum(n) AS BIGINT) AS c
             |  FROM (SELECT string_split(w, ' ') AS s, n FROM v${r - 1}),
             |    unnest(range(1, len(s))) AS u(i)
             |  GROUP BY 1
             |),
             |m$r AS MATERIALIZED (
             |  SELECT pair, c FROM p$r ORDER BY c DESC, pair LIMIT 1
             |),
             |v$r AS MATERIALIZED (
             |  SELECT trim(replace(' ' || w || ' ',
             |    (SELECT ' ' || pair || ' ' FROM m$r),
             |    (SELECT ' ' || replace(pair, ' ', '') || ' ' FROM m$r)))
             |    AS w, n
             |  FROM v${r - 1}
             |)""".stripMargin
        s"""WITH vocab AS (
           |  SELECT tok, count(*) AS n
           |  FROM (SELECT unnest(${TextHash.duckTokens("text")}) AS tok
           |        FROM documents)
           |  GROUP BY 1
           |),
           |v0 AS MATERIALIZED (
           |  SELECT array_to_string(string_split(tok, ''), ' ') AS w, n
           |  FROM vocab
           |),
           |${(1 to 6).map(roundSql).mkString(",\n")}
           |SELECT * FROM (
           |${(1 to 6).map(r =>
             s"  SELECT $r AS merge_rank, string_split(pair, ' ')[1]" +
               s" AS lhs, string_split(pair, ' ')[2] AS rhs," +
               s" replace(pair, ' ', '') AS merged, c AS n_occ FROM m$r")
             .mkString("\n  UNION ALL\n")}
           |) ORDER BY merge_rank""".stripMargin
      }),

    // Unigram-LM tokenizer TRAINING (operators.UnigramLm, Kudo 2018
    // — the SentencePiece vocabulary): the tokenizer family's other
    // trainer next to BPE d47 — BPE composes bottom-up by fusing
    // frequent pairs, unigram-LM PRUNES an over-complete substring
    // seed top-down by likelihood loss under the corpus's own
    // maximum-likelihood segmentations. Deterministic bounded form:
    // e6-floored ln log-probs, exhaustive cut-mask Viterbi (words
    // capped at 12 chars ⇒ ≤ 2048 masks) with the (score DESC,
    // piece count ASC, segstr ASC) tie rule, two EM rounds with
    // zero-usage drops (chars floored at 1), one ⌈n/2⌉ prune by
    // loss = usage·(logp − best-alternative-segmentation score),
    // and a final normalize-and-count E-step. Everything runs over
    // the Zipf-bounded distinct-word table (the d47 discipline);
    // piece scoring is an equi-join on the piece key, the argmax
    // one partial aggregate per word. Oracle: the identical rounds
    // as generated CTE blocks (unigramEStepSql / unigramMStepSql /
    // unigramLogpSql).
    Q("d83_unigram_lm",
      (s, d) => {
        val words = Tables.documents(s, d)
          .select(explode(expr(TextHash.sparkTokens("text"))).as("w"))
          .groupBy("w").agg(count(lit(1)).as("n"))
        UnigramLm.train(words).orderBy("piece")
      },
      Some(s"""WITH $unigramTrainSql
              |SELECT l.piece, CAST(coalesce(u.c, 0) AS BIGINT)
              |    AS n_used, l.logp_e6
              |FROM ulp4 l LEFT JOIN ufuse u USING (piece)
              |ORDER BY piece""".stripMargin)),

    // d83's vocabulary fed through d53's tokenizer EVALUATION — the
    // number that decides BETWEEN the two trainers: per-language
    // fertility (units/word), compression (chars/unit) and
    // whole-word rate under the trained unigram-LM segmentations
    // (d53 reports the same numbers for the fixed BPE table, so the
    // two rows compare directly). One more E-step over the
    // distinct-word table against the final vocabulary, then the
    // d53 rollup over corpus word instances; words over the
    // trainer's 12-char cap carry no segmentation and drop from the
    // rollup in both engines (the documented cap).
    Q("d84_unigram_stats",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // Query-local persist (the d30 roster convention — Verify's
        // per-query clearCache releases it): the capped word table
        // feeds the trainer AND the segmentation E-step; without it
        // the corpus tokenizes twice.
        val words = docs
          .select(explode(expr(TextHash.sparkTokens("text"))).as("w"))
          .groupBy("w").agg(count(lit(1)).as("n"))
          .filter(length(col("w")) <= 12)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val vocab = UnigramLm.trainOnPrepared(words)
          .select(col("piece"), col("logp_e6"))
        val units = UnigramLm.bestSegs(words, vocab)
          .select(col("w"),
            size(split(col("segstr"), " ")).cast("long").as("nu"))
        docs
          .select(col("lang"),
            explode(expr(TextHash.sparkTokens("text"))).as("w"))
          .join(units, "w")
          .select(col("lang"), length(col("w")).cast("long").as("chars"),
            col("nu"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_words"),
            sum("nu").as("n_units"),
            sum("chars").as("n_chars"),
            sum(when(col("nu") === 1, 1L).otherwise(0L))
              .as("n_one_unit"))
          .select(col("lang"), col("n_words"), col("n_units"),
            floor(col("n_units").cast("double") / col("n_words")
              * 10000 + 0.5).cast("long").as("fertility_e4"),
            floor(col("n_chars").cast("double") / col("n_units")
              * 10000 + 0.5).cast("long").as("chars_per_unit_e4"),
            floor(col("n_one_unit").cast("double") / col("n_words")
              * 10000 + 0.5).cast("long").as("one_unit_rate_e4"))
          .orderBy("lang")
      },
      Some(s"""WITH $unigramTrainSql,
              |${unigramEStepSql("ue", "uwords", "ulp4")},
              |units AS (
              |  SELECT w, CAST(len(string_split(segstr, ' ')) AS BIGINT)
              |    AS nu
              |  FROM uebest
              |),
              |wi AS (
              |  SELECT lang, w FROM (
              |    SELECT lang, unnest(${TextHash.duckTokens("text")}) AS w
              |    FROM documents
              |  )
              |),
              |w2 AS (
              |  SELECT wi.lang, length(wi.w) AS chars, u.nu
              |  FROM wi JOIN units u ON u.w = wi.w
              |)
              |SELECT lang,
              |  CAST(count(*) AS BIGINT) AS n_words,
              |  CAST(sum(nu) AS BIGINT) AS n_units,
              |  CAST(floor(CAST(sum(nu) AS DOUBLE) / count(*)
              |    * 10000 + 0.5) AS BIGINT) AS fertility_e4,
              |  CAST(floor(CAST(sum(chars) AS DOUBLE) / sum(nu)
              |    * 10000 + 0.5) AS BIGINT) AS chars_per_unit_e4,
              |  CAST(floor(CAST(sum(CASE WHEN nu = 1 THEN 1 ELSE 0 END)
              |      AS DOUBLE) / count(*)
              |    * 10000 + 0.5) AS BIGINT) AS one_unit_rate_e4
              |FROM w2 GROUP BY lang
              |ORDER BY lang""".stripMargin)),

    // d15's decontamination with the q43 runtime bloom composed in
    // (Decontaminate.matchesBloomPruned): the probe grams build a
    // bloom reaching the corpus-gram stream as a scalar subquery;
    // might_contain drops ~(1-fpp) of the exploded grams BEFORE the
    // candidate join's exchange. At 100 TB: shuffle only grams that
    // might match an eval probe, not every document's every n-gram.
    // Result identical to d15 for any fpp (the equi-join + substring
    // verify are unchanged) — the oracle IS d15's, and the plan pin
    // asserts the prune sits in the gram stream.
    Q("d42_decontaminate_bloom",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val rekeyed = docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        val corpus = docs.union(rekeyed)
          .select(col("doc_id"),
            regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("norm"))
        val probes = corpus
          .filter(col("doc_id") % 50 === 0 && col("doc_id") < 1000000L &&
            size(split(col("norm"), " ")) >= 10)
          .select(col("doc_id").as("probe_src"),
            expr("array_join(slice(split(norm, ' '), 3, 8), ' ')")
              .as("probe"))
        Decontaminate.matchesBloomPruned(corpus, probes, n = 8)
          .orderBy("doc_id", "probe_src")
      },
      Some(raw"""WITH corpus0 AS (
              |  SELECT doc_id, text FROM documents
              |  UNION ALL
              |  SELECT doc_id + 1000000 AS doc_id, text
              |  FROM documents WHERE doc_id % 10 = 0
              |),
              |corpus AS (
              |  SELECT doc_id,
              |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
              |  FROM corpus0
              |),
              |probes AS (
              |  SELECT doc_id AS probe_src,
              |    array_to_string(list_slice(string_split(norm, ' '), 3, 10),
              |      ' ') AS probe
              |  FROM corpus
              |  WHERE doc_id % 50 = 0 AND doc_id < 1000000
              |    AND len(string_split(norm, ' ')) >= 10
              |)
              |SELECT c.doc_id, p.probe_src
              |FROM corpus c JOIN probes p
              |  ON strpos(' ' || c.norm || ' ', ' ' || p.probe || ' ') > 0
              | AND c.doc_id <> p.probe_src
              |ORDER BY 1, 2""".stripMargin)),

    // Deterministic stratified sampling — downsample over-represented
    // languages at per-stratum rates. The keep/drop decision is a
    // pure hash of the doc id (shared poly-hash spec), so the sample
    // is reproducible across runs, engines, and partitionings; the
    // plan is a map-side filter, no shuffle, no RNG state.
    Q("d14_stratified_sample",
      (s, d) => Sampling.stratifiedSample(
          Tables.documents(s, d).select("doc_id", "lang"),
          keyCol = "doc_id", strataCol = "lang",
          rates = Map("en" -> 0.2, "fr" -> 0.5), defaultRate = 1.0)
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, lang FROM documents
              |WHERE ${TextHash.duckDocFingerprint(
                 "CAST(doc_id AS VARCHAR)")} * ${Sampling.Mixer}
              |    % ${Sampling.MixMod} % ${Sampling.Buckets} <
              |  CASE lang WHEN 'en' THEN 2000 WHEN 'fr' THEN 5000
              |    ELSE 10000 END
              |ORDER BY doc_id""".stripMargin)),

    // Training-mix construction: source src0 at 2.5 epochs, src1 at
    // 0.5, everything else at 1.0 — deterministic fractional
    // replication (Sampling.mixtureRepeat), the upsampling
    // counterpart of d14's downsampling. Weights decompose to integer
    // (whole, fraction-buckets) literals in Scala, so both engines
    // compute identical copy counts from the shared key hash.
    Q("d20_mixture",
      (s, d) => Sampling.mixtureRepeat(
          Tables.documents(s, d).select("doc_id", "source"),
          keyCol = "doc_id", strataCol = "source",
          weights = Map("src0" -> 2.5, "src1" -> 0.5),
          defaultWeight = 1.0)
        .orderBy("doc_id", "copy"),
      Some(s"""WITH b AS (
              |  SELECT doc_id, source,
              |    ${TextHash.duckDocFingerprint("CAST(doc_id AS VARCHAR)")}
              |      * ${Sampling.Mixer} % ${Sampling.MixMod}
              |      % ${Sampling.Buckets} AS bucket
              |  FROM documents
              |),
              |n AS (
              |  SELECT doc_id, source,
              |    (CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0
              |      ELSE 1 END)
              |    + (CASE WHEN bucket <
              |        (CASE source WHEN 'src0' THEN 5000
              |          WHEN 'src1' THEN 5000 ELSE 0 END)
              |       THEN 1 ELSE 0 END) AS n
              |  FROM b
              |)
              |SELECT doc_id, source, CAST(copy AS BIGINT) AS copy
              |FROM n, unnest(range(0, n)) AS t(copy)
              |ORDER BY doc_id, copy""".stripMargin)),

    // Bulk kNN graph: top-3 in-cell neighbors for EVERY vector
    // (dedup-graph / clustering substrate) — blocked on TRAINED
    // k-means cells with nlist ∝ corpus count (k = max(8, ⌈n/250⌉)),
    // the round-12 sf1.0 scale fix: blocking on the corpus's FIXED
    // 10 labels made in-cell all-pairs cost Σ|cell|² grow 100× per
    // 10× rows (measured 33×); trained cells hold |cell| ≈ 250
    // regardless of n, so the pair space is ~n·250 — linear. The
    // oracle computes the same k from count(*) and unrolls the same
    // 3 Lloyd rounds (e7's mirror with a dynamic LIMIT). Search is
    // still the co-partitioned cell equi-join plus the bounded-heap
    // top-k aggregate; neither the cross-cell pair space nor a
    // corpus-wide sort ever exists.
    Q("e6_knn_graph",
      (s, d) => {
        val emb = Tables.embeddings(s, d).select(col("vec_id"),
          expr("transform(embedding, v -> cast(v as double))")
            .as("embedding"))
        // Bounded driver scalar (the KMeans centroid-handoff class):
        // nlist must be an Int for the trainer's compiled kernel.
        val k = math.max(8L, (emb.count() + 249) / 250).toInt
        val cent = KMeans.train(emb, k, iters = 3)
        Similarity.knnGraph(KMeans.withCells(emb, cent), "cell", k = 3)
          .select(col("vec_id"), col("rank").cast("long").as("rank"),
            col("nbr_id"), col("sim"))
          .orderBy("vec_id", "rank")
      },
      Some(s"""WITH kparam AS (
              |  SELECT greatest(8, (count(*) + 249) // 250) AS k
              |  FROM embeddings
              |),
              |${kmeansCtes("(SELECT k FROM kparam)", 3)},
              |a4 AS MATERIALIZED (
              |  SELECT vec_id, emb, cell FROM (
              |    SELECT v.vec_id, v.emb, c.cell,
              |      row_number() OVER (PARTITION BY v.vec_id
              |        ORDER BY ${TextHash.duckCosine("v.emb", "c.cvec", 64)}
              |          DESC, c.cell) AS rn
              |    FROM e v, cent3 c
              |  ) WHERE rn = 1
              |),
              |p AS (
              |  SELECT a.vec_id, b.vec_id AS nbr_id,
              |    ${TextHash.duckCosine("a.emb", "b.emb", 64)} AS sim
              |  FROM a4 a JOIN a4 b
              |    ON b.cell = a.cell AND b.vec_id <> a.vec_id
              |),
              |r AS (
              |  SELECT vec_id, nbr_id, sim,
              |    row_number() OVER (
              |      PARTITION BY vec_id ORDER BY sim DESC, nbr_id) AS rank
              |  FROM p
              |)
              |SELECT vec_id, rank, nbr_id, round(sim, 6) AS sim
              |FROM r WHERE rank <= 3
              |ORDER BY vec_id, rank""".stripMargin)),

    // Multi-probe bulk kNN graph: e6 confines each vector's
    // neighbors to its OWN cell, so a vector near a cell boundary
    // silently gets wrong neighbors (standard IVF recall loss). Here
    // every vector searches its TWO nearest cells by centroid cosine
    // — the bulk counterpart of e5's nprobe knob — over TRAINED
    // cells (Similarity.trainedCells, nlist ∝ n: the substrate the
    // whole walk family builds on; blocking on the corpus's fixed
    // labels made the pair space quadratic — measured 10.6–14.3×
    // per 10× rows at sf1). Assignment is a map-side array_sort
    // over the one-row broadcast member-centroid array (zero
    // shuffle); candidates come from the co-partitioned cell join;
    // ranking is the bounded-heap aggregate. Recall vs the e1 brute
    // force is measured in OperatorsSpec on learned (e7) cells.
    Q("e9_knn_graph_probed",
      (s, d) => Similarity.knnGraphProbed(
          Similarity.trainedCells(Tables.embeddings(s, d)), "cell",
          k = 3, nprobe = 2)
        .select(col("vec_id"), col("rank").cast("long").as("rank"),
          col("nbr_id"), col("sim"))
        .orderBy("vec_id", "rank"),
      Some(s"""WITH $trainedKnnCtes
              |SELECT vec_id, rank, nbr_id, round(sim, 6) AS sim
              |FROM r WHERE rank <= 3
              |ORDER BY vec_id, rank""".stripMargin)),

    // TWO-LEVEL ROUTED bulk kNN (the sf100+ routing path, round 16):
    // e9's flat routing — even compiled — scores every vector
    // against ALL nlist centroids, O(n·nlist·dims) with nlist ∝ n
    // under the trainedCells rule: quadratic in principle, small at
    // sf10 after the round-16 kernel, the dominant term again a
    // decade or two up. This operator k-means the FINE CENTROID
    // TABLE itself into ⌈√(2·nlist)⌉ coarse groups (both tables
    // driver-bounded) and routes through the compiled two-level
    // kernel: top-2 coarse groups, then top-2 fine cells among only
    // those groups' centroids — O(n·√nlist·dims) routing. The trade
    // is hierarchical-routing recall (a fine cell outside the
    // selected coarse groups can't be probed); e55 carries the gate.
    // Oracle: the SAME kmeansCtes Lloyd mirror run over mc (fine
    // centroids as the training rows), fine→coarse assignment and
    // both probe ranks as windows over bounded centroid tables.
    Q("e54_routed_knn",
      (s, d) => Similarity.knnGraphRouted(
          Similarity.trainedCells(Tables.embeddings(s, d)), "cell",
          k = 3, cprobe = 2, nprobe = 2, coarseIters = 2)
        .select(col("vec_id"), col("rank").cast("long").as("rank"),
          col("nbr_id"), col("sim"))
        .orderBy("vec_id", "rank"),
      Some(s"""WITH $trainedKnnCtes,
              |ncr AS (
              |  SELECT greatest(1, CAST(ceil(sqrt(2.0 * count(*)))
              |    AS BIGINT)) AS nc
              |  FROM mc
              |),
              |${kmeansCtes("(SELECT nc FROM ncr)", 2,
                 embExpr = "cvec", prefix = "co",
                 src = "(SELECT cell AS vec_id, cvec FROM mc)")},
              |fo AS (
              |  SELECT vec_id AS fcell, cell AS ccell FROM (
              |    SELECT v.vec_id, c.cell,
              |      row_number() OVER (PARTITION BY v.vec_id
              |        ORDER BY ${TextHash.duckCosine("v.emb", "c.cvec", 64)}
              |          DESC, c.cell) AS rn
              |    FROM coet v, cocent2 c
              |  ) WHERE rn = 1
              |),
              |vco AS (
              |  SELECT vec_id, emb, ccell FROM (
              |    SELECT v.vec_id, v.emb, c.cell AS ccell,
              |      row_number() OVER (PARTITION BY v.vec_id
              |        ORDER BY ${TextHash.duckCosine("v.emb", "c.cvec", 64)}
              |          DESC, c.cell) AS rn
              |    FROM e v, cocent2 c
              |  ) WHERE rn <= 2
              |),
              |vfi AS (
              |  SELECT vec_id, emb, fcell FROM (
              |    SELECT v.vec_id, v.emb, m.cell AS fcell,
              |      row_number() OVER (PARTITION BY v.vec_id
              |        ORDER BY ${TextHash.duckCosine("v.emb", "m.cvec", 64)}
              |          DESC, m.cell) AS rn
              |    FROM vco v
              |    JOIN fo ON fo.ccell = v.ccell
              |    JOIN mc m ON m.cell = fo.fcell
              |  ) WHERE rn <= 2
              |),
              |p2 AS (
              |  SELECT a.vec_id, b.vec_id AS nbr_id,
              |    ${TextHash.duckCosine("a.emb", "b.emb", 64)} AS sim
              |  FROM vfi a JOIN a4 b
              |    ON b.cell = a.fcell AND b.vec_id <> a.vec_id
              |),
              |r2 AS (
              |  SELECT vec_id, nbr_id, sim,
              |    row_number() OVER (
              |      PARTITION BY vec_id ORDER BY sim DESC, nbr_id) AS rank
              |  FROM p2
              |)
              |SELECT vec_id, rank, nbr_id, round(sim, 6) AS sim
              |FROM r2 WHERE rank <= 3
              |ORDER BY vec_id, rank""".stripMargin)),

    // Recall gate for the two-level route (the engine's
    // every-approximate-axis rule — e13/e18/e26/e30's pattern):
    // recall@3 of e54's routed neighbor lists against float
    // brute-force ground truth on the probe queries. The gap to
    // e9's flat-routing recall is exactly the hierarchy's price —
    // a reader gets both numbers from the oracle artifacts.
    Q("e55_routed_recall",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val qs = emb.filter(col("vec_id") < 10)
        val routed = Similarity.knnGraphRouted(
            Similarity.trainedCells(emb), "cell",
            k = 3, cprobe = 2, nprobe = 2, coarseIters = 2)
          .filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"),
            col("nbr_id").as("cand_id"))
        recallCard(emb, qs, k = 3, routed, digits = 6)
      },
      Some(s"""WITH $trainedKnnCtes,
              |ncr AS (
              |  SELECT greatest(1, CAST(ceil(sqrt(2.0 * count(*)))
              |    AS BIGINT)) AS nc
              |  FROM mc
              |),
              |${kmeansCtes("(SELECT nc FROM ncr)", 2,
                 embExpr = "cvec", prefix = "co",
                 src = "(SELECT cell AS vec_id, cvec FROM mc)")},
              |fo AS (
              |  SELECT vec_id AS fcell, cell AS ccell FROM (
              |    SELECT v.vec_id, c.cell,
              |      row_number() OVER (PARTITION BY v.vec_id
              |        ORDER BY ${TextHash.duckCosine("v.emb", "c.cvec", 64)}
              |          DESC, c.cell) AS rn
              |    FROM coet v, cocent2 c
              |  ) WHERE rn = 1
              |),
              |q AS (SELECT vec_id AS query_id, emb AS qe FROM e
              |      WHERE vec_id < 10),
              |vco AS (
              |  SELECT vec_id, emb, ccell FROM (
              |    SELECT v.vec_id, v.emb, c.cell AS ccell,
              |      row_number() OVER (PARTITION BY v.vec_id
              |        ORDER BY ${TextHash.duckCosine("v.emb", "c.cvec", 64)}
              |          DESC, c.cell) AS rn
              |    FROM (SELECT vec_id, emb FROM e WHERE vec_id < 10) v,
              |      cocent2 c
              |  ) WHERE rn <= 2
              |),
              |vfi AS (
              |  SELECT vec_id, emb, fcell FROM (
              |    SELECT v.vec_id, v.emb, m.cell AS fcell,
              |      row_number() OVER (PARTITION BY v.vec_id
              |        ORDER BY ${TextHash.duckCosine("v.emb", "m.cvec", 64)}
              |          DESC, m.cell) AS rn
              |    FROM vco v
              |    JOIN fo ON fo.ccell = v.ccell
              |    JOIN mc m ON m.cell = fo.fcell
              |  ) WHERE rn <= 2
              |),
              |p2 AS (
              |  SELECT a.vec_id, b.vec_id AS nbr_id,
              |    ${TextHash.duckCosine("a.emb", "b.emb", 64)} AS sim
              |  FROM vfi a JOIN a4 b
              |    ON b.cell = a.fcell AND b.vec_id <> a.vec_id
              |),
              |w3 AS (
              |  SELECT vec_id AS query_id, nbr_id AS cand_id FROM (
              |    SELECT vec_id, nbr_id, row_number() OVER (
              |      PARTITION BY vec_id ORDER BY sim DESC, nbr_id) AS rank
              |    FROM p2
              |  ) WHERE rank <= 3
              |),
              |${exactKnnCtes(3)},
              |${recallTailSql("w3", k = 3, digits = 6)}""".stripMargin)),

    // Graph-walk ANN — beam search over the degree-16 probed kNN
    // graph (the HNSW/DiskANN family's search step, batch-shaped):
    // every query starts at the per-cell MEDOIDS (fixed global
    // entries strand the walk at 12.5% recall; medoids reach 90% —
    // e26 records it), then 4 rounds of expand-neighbors → score →
    // keep best 16 walk the beam toward the query's neighborhood
    // along graph edges. Complements IVF: that prunes by partition,
    // this by connectivity. Scale shape: graph partitioned once and
    // never shuffled (the O(queries×beam) beam BROADCASTS against it
    // per round); scoring gathers candidates by id against the
    // corpus; every window ranks only the bounded beam-expansion
    // rows per query (plan-pinned: all windows key on query_id).
    // Fully deterministic ((sim DESC, cand_id) everywhere) — hence
    // SQL-oracle-checkable.
    Q("e25_graph_ann",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val tc = Similarity.trainedCells(emb)
        val cents = Similarity.centroidRows(tc, "cell")
        Similarity.graphBeamSearch(emb,
          emb.filter(col("vec_id") < 10),
          Similarity.knnGraphProbed(tc, "cell", k = 16, nprobe = 2,
              sharedCents = Some(cents))
            .select(col("vec_id"), col("nbr_id")),
          Similarity.cellMedoids(tc, "cell", Some(cents)),
          beamWidth = 16, rounds = 4)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH $trainedKnnCtes,
              |${beamWalkCtes(graphK = 16, rounds = 4, beamWidth = 16)}
              |SELECT query_id, rn AS rank, cand_id,
              |  round(sim, 6) AS sim
              |FROM (
              |  SELECT bfinal.*, row_number() OVER (
              |    PARTITION BY query_id
              |    ORDER BY sim DESC, cand_id) AS rn
              |  FROM bfinal
              |)
              |ORDER BY query_id, rank""".stripMargin)),

    // FILTERED graph-walk ANN (Similarity.graphBeamSearchFiltered) —
    // the production filtered-HNSW shape closing the predicate-
    // before-scoring family: e23 proved it on the brute-force scan,
    // e24 on the IVF probe, this on the graph walk. The predicate
    // (label % 2 = 0 — "even shards only") applies to candidate
    // rows BELOW the gather join: excluded vectors are never scored,
    // never enter a beam, and the walk never routes through them —
    // every beam is the top-16 ELIGIBLE candidates. Graph and
    // entries stay unfiltered (index built once, filters vary per
    // query; ineligible medoid entries just drop at round 0's
    // scoring). PlanShapeSpec pins the filter position inside the
    // rounds via the Checkpointing capture hook; e42 is the recall
    // gate vs filtered brute force.
    Q("e41_filtered_graph_ann",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val tc = Similarity.trainedCells(emb)
        val cents = Similarity.centroidRows(tc, "cell")
        Similarity.graphBeamSearchFiltered(emb,
          emb.filter(col("vec_id") < 10),
          Similarity.knnGraphProbed(tc, "cell", k = 16, nprobe = 2,
              sharedCents = Some(cents))
            .select(col("vec_id"), col("nbr_id")),
          Similarity.cellMedoids(tc, "cell", Some(cents)),
          beamWidth = 16, rounds = 4,
          candidatePred = col("label") % 2 === 0)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH $trainedKnnCtes,
              |${beamWalkCtes(graphK = 16, rounds = 4, beamWidth = 16,
                              candPred = Some("v.label % 2 = 0"))}
              |SELECT query_id, rn AS rank, cand_id,
              |  round(sim, 6) AS sim
              |FROM (
              |  SELECT bfinal.*, row_number() OVER (
              |    PARTITION BY query_id
              |    ORDER BY sim DESC, cand_id) AS rn
              |  FROM bfinal
              |)
              |ORDER BY query_id, rank""".stripMargin)),

    // Recall gate for the FILTERED walk (the e13/e18/e22/e26/e30
    // pattern — every approximate axis carries an oracle-checked
    // recall measurement): recall@4 of e41's filtered beam walk
    // against FILTERED brute-force ground truth (e23's chain — the
    // same predicate on the exact scan). What it guards: a filtered
    // walk can silently strand when the eligible subgraph
    // disconnects (excluded nodes were the only bridges); this row
    // makes that recall loss a visible, oracle-pinned number per
    // query instead of a production surprise.
    Q("e42_filtered_recall",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val pred = col("label") % 2 === 0
        val qs = emb.filter(col("vec_id") < 10)
        val tc = Similarity.trainedCells(emb)
        val cents = Similarity.centroidRows(tc, "cell")
        val walk = Similarity.graphBeamSearchFiltered(emb, qs,
            Similarity.knnGraphProbed(tc, "cell", k = 16, nprobe = 2,
                sharedCents = Some(cents))
              .select(col("vec_id"), col("nbr_id")),
            Similarity.cellMedoids(tc, "cell", Some(cents)),
            beamWidth = 16, rounds = 4, candidatePred = pred)
          .filter(col("rank") <= 4)
          .select(col("query_id"), col("cand_id"))
        recallCard(emb.filter(pred), qs, k = 4, walk)
      },
      Some(s"""WITH $trainedKnnCtes,
              |${beamWalkCtes(graphK = 16, rounds = 4, beamWidth = 16,
                              candPred = Some("v.label % 2 = 0"))},
              |${exactKnnCtes(4, candPred = Some("c.label % 2 = 0"))},
              |${walkTop4Cte()},
              |${recallTailSql("w4", k = 4)}""".stripMargin)),

    // Filtered walk over the NAVIGABLE graph — the production
    // pairing (e41 walks the raw probed-kNN graph; e42 shows what
    // that costs under a 50% predicate). The filtered twin of
    // e30-vs-e26: same predicate, same filtered-brute-force ground
    // truth, the e28 graph in place of the raw one. On the round-14
    // trained substrate, measured recall@4 across the three test
    // SFs: 0.85/0.80/0.475 vs the raw graph's 0.875/0.925/0.55 —
    // under a 50% predicate the raw probed graph's denser edge set
    // (nprobe=2 over ~250-member cells) now leaves MORE eligible
    // alternatives than the α-pruned build at every test SF: the
    // prune keeps one edge per covered direction, and the filter
    // deletes exactly such single representatives. Filtered ANN
    // tuning needs BOTH rows visible, which is exactly what these
    // gates are for.
    Q("e43_filtered_nav_recall",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val pred = col("label") % 2 === 0
        val qs = emb.filter(col("vec_id") < 10)
        val tc = Similarity.trainedCells(emb)
        val cents = Similarity.centroidRows(tc, "cell")
        val nav = Similarity.navigableGraph(emb,
            Similarity.knnGraphProbed(tc, "cell", k = 16, nprobe = 2,
                sharedCents = Some(cents))
              .select(col("vec_id"), col("nbr_id")))
          .select(col("vec_id"), col("nbr_id"))
        val walk = Similarity.graphBeamSearchFiltered(emb, qs, nav,
            Similarity.cellMedoids(tc, "cell", Some(cents)),
            beamWidth = 16, rounds = 4, candidatePred = pred)
          .filter(col("rank") <= 4)
          .select(col("query_id"), col("cand_id"))
        recallCard(emb.filter(pred), qs, k = 4, walk)
      },
      Some {
        s"""WITH $trainedKnnCtes,
           |${navGraphCtes(graphK = 16, alpha100 = 120,
                           maxDeg = 16, maxCand = 32)},
           |${beamWalkCtes(graphK = 16, rounds = 4, beamWidth = 16,
                           graphSql =
                             Some("SELECT vec_id, nbr_id FROM nav"),
                           candPred = Some("v.label % 2 = 0"))},
           |${walkTop4Cte()},
           |${exactKnnCtes(4, candPred = Some("c.label % 2 = 0"))},
           |${recallTailSql("w4", k = 4)}""".stripMargin
      }),

    // Navigable-graph BUILD (Vamana/NSW construction — the missing
    // twin of e25's search): symmetrize the degree-16 probed kNN
    // graph (reverse edges are the HNSW/DiskANN insertion backlinks
    // — what lets a walk LEAVE a popular vector, and where the
    // measured recall gain lives), then greedily α-prune each node's
    // candidate list on the e6 integer grid (drop c when a kept b is
    // α-times closer to c than the node is) and cap out-degree at 16.
    // e30 measures the payoff: the same walk over this graph beats
    // the raw-kNN walk at every test SF at EQUAL max degree. Greedy
    // is sequential through the kept set, so the oracle unrolls one
    // candidate rank per CTE step.
    Q("e28_nav_graph",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.navigableGraph(emb,
          Similarity.knnGraphProbed(Similarity.trainedCells(emb),
              "cell", k = 16, nprobe = 2)
            .select(col("vec_id"), col("nbr_id")))
          .orderBy("vec_id", "rank")
      },
      Some(s"""WITH $trainedKnnCtes,
              |${navGraphCtes(graphK = 16, alpha100 = 120,
                              maxDeg = 16, maxCand = 32)}
              |SELECT vec_id, rank, nbr_id, se AS sim_e6
              |FROM nav ORDER BY vec_id, rank""".stripMargin)),

    // Recall gate for the BUILT graph (the e13/e18/e22/e26 pattern —
    // every approximate-search axis carries an oracle-checked recall
    // measurement): recall@4 of the e25 beam walk run over e28's
    // navigable graph, against float brute-force ground truth. On
    // the round-14 trained substrate this reads 0.90/0.90/0.725
    // across the three test SFs vs the raw-kNN walk's
    // 0.95/0.825/0.675 — the reverse-edge + α-prune build wins at
    // equal degree once the corpus outgrows its cells (sf0.01/0.1;
    // OperatorsSpec pins the ≥ at sf0.01), and costs 0.05 at
    // sf0.001 where 8 trained cells over 500 vectors make the raw
    // probed graph near-complete and pruning can only lose edges.
    Q("e30_nav_recall",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val qs = emb.filter(col("vec_id") < 10)
        val tc = Similarity.trainedCells(emb)
        val cents = Similarity.centroidRows(tc, "cell")
        val nav = Similarity.navigableGraph(emb,
            Similarity.knnGraphProbed(tc, "cell", k = 16, nprobe = 2,
                sharedCents = Some(cents))
              .select(col("vec_id"), col("nbr_id")))
          .select(col("vec_id"), col("nbr_id"))
        val walk = Similarity.graphBeamSearch(emb, qs, nav,
            Similarity.cellMedoids(tc, "cell", Some(cents)),
            beamWidth = 16, rounds = 4)
          .filter(col("rank") <= 4)
          .select(col("query_id"), col("cand_id"))
        recallCard(emb, qs, k = 4, walk)
      },
      Some {
        s"""WITH $trainedKnnCtes,
           |${navGraphCtes(graphK = 16, alpha100 = 120,
                           maxDeg = 16, maxCand = 32)},
           |${beamWalkCtes(graphK = 16, rounds = 4, beamWidth = 16,
                           graphSql =
                             Some("SELECT vec_id, nbr_id FROM nav"))},
           |${walkTop4Cte()},
           |${exactKnnCtes(4)},
           |${recallTailSql("w4", k = 4)}""".stripMargin
      }),

    // Navigable-graph structure card — the card family's member for
    // the built ANN graph (g12 graph / d26 corpus / d64 vocab / e29
    // index): node/edge counts, max + mean out-degree, and
    // RECIPROCITY (fraction of kept edges whose reverse is also
    // kept — the symmetrization survival rate after the α-prune; a
    // low value means the walk can enter regions it cannot leave,
    // the one structural failure mode of a pruned graph). Degrees
    // from one partial-agg exchange; reciprocity from one
    // co-partitioned self-join over the O(n·k) edge list; scalars
    // combine as broadcast one-row aggregates.
    Q("e31_nav_card",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val nav = Similarity.navigableGraph(emb,
            Similarity.knnGraphProbed(Similarity.trainedCells(emb),
                "cell", k = 16, nprobe = 2)
              .select(col("vec_id"), col("nbr_id")))
          .select(col("vec_id"), col("nbr_id"))
        val degs = nav.groupBy("vec_id").agg(count(lit(1)).as("deg"))
        val ag = degs.agg(count(lit(1)).as("n_nodes"),
          sum("deg").as("n_edges"), max("deg").as("max_out_degree"))
        val mu = nav.as("x").join(nav.as("y"),
            col("x.vec_id") === col("y.nbr_id") &&
              col("x.nbr_id") === col("y.vec_id"))
          .agg(count(lit(1)).as("m"))
        ag.crossJoin(broadcast(mu))
          .select(col("n_nodes"), col("n_edges"), col("max_out_degree"),
            expr("CAST(n_edges * 1000000 div n_nodes AS BIGINT)")
              .as("mean_out_e6"),
            expr("CAST(m * 1000000 div n_edges AS BIGINT)")
              .as("reciprocity_e6"))
      },
      Some(s"""WITH $trainedKnnCtes,
              |${navGraphCtes(graphK = 16, alpha100 = 120,
                              maxDeg = 16, maxCand = 32)},
              |degs AS (
              |  SELECT vec_id, count(*) AS deg FROM nav GROUP BY vec_id
              |),
              |ag AS (
              |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
              |    CAST(sum(deg) AS BIGINT) AS n_edges,
              |    CAST(max(deg) AS BIGINT) AS max_out_degree
              |  FROM degs
              |),
              |mu AS (
              |  SELECT CAST(count(*) AS BIGINT) AS m
              |  FROM nav x JOIN nav y
              |    ON y.vec_id = x.nbr_id AND y.nbr_id = x.vec_id
              |)
              |SELECT n_nodes, n_edges, max_out_degree,
              |  CAST(n_edges * 1000000 // n_nodes AS BIGINT)
              |    AS mean_out_e6,
              |  CAST(m * 1000000 // n_edges AS BIGINT)
              |    AS reciprocity_e6
              |FROM ag, mu""".stripMargin)),

    // Incremental navigable-graph MAINTENANCE (the FreshDiskANN
    // insert shape — d21/IndexPipeline.append's discipline applied
    // to the graph index): attach the odd-id DELTA batch to the
    // graph built over the even-id base WITHOUT rebuilding. Per new
    // vector: route to its 2 nearest base cells map-side (broadcast
    // centroid array — zero corpus shuffle), heap-truncate the
    // in-cell base candidates to 32 on the e6 grid, α-prune with
    // the e28 RobustPrune core → 'fwd' out-edges; every kept edge
    // emits its reverse as a 'back' backlink append (rank null) —
    // base lists are NOT re-pruned (deferred compaction: the
    // periodic e28 rebuild is the compaction, exactly as
    // IndexPipeline.append defers retraining), so attach cost
    // scales with the delta, never the corpus.
    Q("e32_nav_attach",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.navigableAttach(
            Similarity.trainedCells(emb.filter(col("vec_id") % 2 === 0)),
            emb.filter(col("vec_id") % 2 === 1), "cell")
          .orderBy("vec_id", "kind", "nbr_id")
      },
      Some(s"""WITH eb AS MATERIALIZED (
              |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
              |  FROM embeddings WHERE vec_id % 2 = 0
              |),
              |edel AS (
              |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
              |  FROM embeddings WHERE vec_id % 2 = 1
              |),
              |${trainedCellCtes("b", src = "eb")},
              |assd AS MATERIALIZED (
              |  SELECT vec_id, emb, cell FROM (
              |    SELECT d.vec_id, d.emb, c.cell,
              |      row_number() OVER (PARTITION BY d.vec_id
              |        ORDER BY ${TextHash.duckCosine("d.emb", "c.cvec", 64)}
              |          DESC, c.cell) AS rn
              |    FROM edel d, mcb c
              |  ) WHERE rn <= 2
              |),
              |nc AS MATERIALIZED (
              |  SELECT vec_id, nbr_id, se, crank FROM (
              |    SELECT vec_id, nbr_id, se, row_number() OVER (
              |      PARTITION BY vec_id ORDER BY se DESC, nbr_id) AS crank
              |    FROM (
              |      SELECT a.vec_id, b.vec_id AS nbr_id,
              |        CAST(floor(${TextHash.duckCosine("a.emb", "b.emb", 64)}
              |          * 1000000 + 0.5) AS BIGINT) AS se
              |      FROM assd a JOIN a4b b ON b.cell = a.cell
              |    )
              |  ) WHERE crank <= 32
              |),
              |${alphaPruneStepsSql(alpha100 = 120, maxDeg = 16,
                                    maxCand = 32, embCte = "eb")}
              |SELECT * FROM (
              |  SELECT vec_id, 'fwd' AS kind, rank, nbr_id,
              |    se AS sim_e6 FROM nav
              |  UNION ALL
              |  SELECT nbr_id AS vec_id, 'back' AS kind,
              |    NULL AS rank, vec_id AS nbr_id, se AS sim_e6 FROM nav
              |)
              |ORDER BY vec_id, kind, nbr_id""".stripMargin)),

    // The IVF TRAINER: spherical k-means over the raw vectors —
    // deterministic hash seeds, 3 Lloyd rounds (assignment =
    // broadcast-centroid argmax, zero corpus shuffle; update =
    // one partial-aggregated exchange). This is what lets the whole
    // e-series run label-free: e2-e6 consumed the generator's
    // ground-truth labels; e7 learns cells any real corpus can have.
    Q("e7_kmeans_train",
      (s, d) => {
        val emb = Tables.embeddings(s, d).select(col("vec_id"),
          expr("transform(embedding, v -> cast(v as double))")
            .as("embedding"))
        KMeans.train(emb, k = 8, iters = 3)
          .select(col("cell"),
            posexplode(col("cvec")).as(Seq("dim", "centroid")))
          .select(col("cell"), col("dim").cast("long").as("dim"),
            col("centroid"))
          .orderBy("cell", "dim")
      },
      Some(s"""WITH ${kmeansCtes("8", 3)}
              |SELECT cell, CAST(dim AS BIGINT) AS dim, centroid
              |FROM c3d ORDER BY cell, dim""".stripMargin)),

    // k-means++ FARTHEST-POINT seeding (KMeans.seedsPlusPlus) — the
    // init-quality half e7's hash seeds trade away: 6 seeds chosen
    // greedily, each maximizing its e6-floored cosine distance to
    // the nearest already-chosen seed (ties to the smallest vec_id),
    // then the whole corpus assigned to its nearest seed — the
    // per-seed population showing the spread. The greedy sequence is
    // engine-exact on the e6 grid, so the oracle unrolls it as one
    // argmax CTE per step (MATERIALIZED — each step re-reads its
    // predecessor; round-10 rule) and the assignment mirrors the
    // nearest-centroid kernel's (cos DESC, cell ASC) tie rule.
    Q("e35_kmeanspp",
      (s, d) => {
        import graft.functions.NearestCentroidCell.nearest_centroid
        val emb = Tables.embeddings(s, d).select(col("vec_id"),
          expr("transform(embedding, v -> cast(v as double))")
            .as("embedding"))
        val seeds = KMeans.seedsPlusPlus(emb, k = 6)
        val books = Similarity.codebook(seeds
          .select((col("step") - 1).as("cell"), col("cvec")))
        val counts = emb.withColumn("cell",
            nearest_centroid(col("embedding"), books))
          .groupBy("cell").agg(count(lit(1)).as("n_assigned"))
        seeds.select(col("step").cast("long").as("step"), col("vec_id"),
            col("dist_e6"), (col("step") - 1).cast("long").as("cell"))
          .join(counts, Seq("cell"), "left")
          .select(col("step"), col("vec_id"), col("dist_e6"),
            coalesce(col("n_assigned"), lit(0L)).as("n_assigned"))
          .orderBy("step")
      },
      Some {
        def dist = "CAST(floor((1 - ms) * 1000000 + 0.5) AS BIGINT)"
        val steps = (2 to 6).map { i =>
          val excl = (1 until i)
            .map(j => s"SELECT vec_id FROM pk$j").mkString(" UNION ALL ")
          s"""pk$i AS MATERIALIZED (
             |  SELECT vec_id, emb, d_e6 FROM (
             |    SELECT vec_id, emb, $dist AS d_e6,
             |      row_number() OVER (ORDER BY $dist DESC, vec_id) AS rn
             |    FROM ms${i - 1}
             |    WHERE vec_id NOT IN ($excl)
             |  ) WHERE rn = 1
             |)""".stripMargin +
            (if (i < 6)
              s""",
                 |ms$i AS MATERIALIZED (
                 |  SELECT m.vec_id, m.emb,
                 |    greatest(m.ms, ${TextHash.duckCosine("m.emb",
                      "p.emb", 64)}) AS ms
                 |  FROM ms${i - 1} m, pk$i p
                 |)""".stripMargin
            else "")
        }.mkString(",\n")
        s"""WITH e AS MATERIALIZED (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           |  FROM embeddings
           |),
           |pk1 AS MATERIALIZED (
           |  SELECT vec_id, emb, CAST(0 AS BIGINT) AS d_e6
           |  FROM e ORDER BY vec_id LIMIT 1
           |),
           |ms1 AS MATERIALIZED (
           |  SELECT v.vec_id, v.emb,
           |    ${TextHash.duckCosine("v.emb", "p.emb", 64)} AS ms
           |  FROM e v, pk1 p
           |),
           |$steps,
           |picks AS (
           |${(1 to 6).map(i =>
               s"  SELECT $i AS step, vec_id, d_e6, emb FROM pk$i")
               .mkString(" UNION ALL\n")}
           |),
           |asn AS (
           |  SELECT vec_id, step FROM (
           |    SELECT v.vec_id, s.step, row_number() OVER (
           |      PARTITION BY v.vec_id
           |      ORDER BY ${TextHash.duckCosine("v.emb", "s.emb", 64)}
           |        DESC, s.step) AS rn
           |    FROM e v, picks s
           |  ) WHERE rn = 1
           |),
           |counts AS (SELECT step, count(*) AS n FROM asn GROUP BY 1)
           |SELECT CAST(p.step AS BIGINT) AS step, p.vec_id,
           |  p.d_e6 AS dist_e6,
           |  CAST(coalesce(c.n, 0) AS BIGINT) AS n_assigned
           |FROM picks p LEFT JOIN counts c ON c.step = p.step
           |ORDER BY step""".stripMargin
      }),

    // LEARNED cells end-to-end: assign every vector to its trained
    // k-means cell, then run the e4 probe path (nearest-centroid
    // assignment, top-5 inside that cell only) over those learned
    // cells — the full label-free IVF search stack. The probe's
    // centroid table is the per-cell mean of the FINAL assignment
    // (one more Lloyd update — what ivfProbeTopK computes from any
    // cell column), mirrored as a4/cent4 in the oracle.
    Q("e8_ann_learned",
      (s, d) => {
        val emb = Tables.embeddings(s, d).select(col("vec_id"),
          expr("transform(embedding, v -> cast(v as double))")
            .as("embedding"))
        val cent = KMeans.train(emb, k = 8, iters = 3)
        val withCell = KMeans.withCells(emb, cent)
        Similarity.ivfProbeTopK(withCell,
            emb.filter(col("vec_id") < 10), "cell", k = 5)
          .select(col("query_id"), col("label").cast("long").as("cell"),
            col("rank").cast("long").as("rank"), col("cand_id"), col("sim"))
          .orderBy("query_id", "rank")
      },
      Some(s"WITH ${kmeansCtes("8", 3)},\n$learnedIvfTailSql")),

    // Sampled-training k-means — the 100 TB recipe exercised end to
    // end (SURVEY §4 documents it; this key proves it): train the
    // cells on a deterministic 25% hash subset of the corpus
    // (Sampling.hashBucket < 2500 — k-means needs a representative
    // sample, not every row), then ASSIGN the full corpus once and
    // probe over the learned cells. Same search tail as e8; only the
    // training set differs — the oracle mirrors the subset predicate
    // inside the kmeans CTEs via the shared bucket expression.
    Q("e10_sampled_ivf",
      (s, d) => {
        val emb = Tables.embeddings(s, d).select(col("vec_id"),
          expr("transform(embedding, v -> cast(v as double))")
            .as("embedding"))
        val trainSet = emb.filter(
          Sampling.hashBucket(col("vec_id")) < 2500)
        val cent = KMeans.train(trainSet, k = 8, iters = 3)
        val withCell = KMeans.withCells(emb, cent)
        Similarity.ivfProbeTopK(withCell,
            emb.filter(col("vec_id") < 10), "cell", k = 5)
          .select(col("query_id"), col("label").cast("long").as("cell"),
            col("rank").cast("long").as("rank"), col("cand_id"), col("sim"))
          .orderBy("query_id", "rank")
      },
      Some(s"WITH ${kmeansCtes("8", 3, s"$duckVecBucket < 2500")}," +
        s"\n$learnedIvfTailSql")),

    // IVF index-health card — the retrain trigger (IndexPipeline's
    // append encodes against STALE centroids by design, so health is
    // measured, not assumed): train cells on the even-id half of the
    // corpus (the "index as built"), assign EVERYTHING to those
    // stale centroids (odd ids are the no-retrain appends), then per
    // cell report list length, fill factor ×1e6 (1e6 = balanced) and
    // centroid drift ×1e6 (1 − cos(assigned-mass mean, stored
    // centroid)). One cell-key aggregation pass; totals ride as
    // broadcast one-row aggregates; empty cells surface explicitly.
    Q("e29_ivf_health",
      (s, d) => {
        val emb = Tables.embeddings(s, d).select(col("vec_id"),
          expr("transform(embedding, v -> cast(v as double))")
            .as("embedding"))
        val base = emb.filter(col("vec_id") % 2 === 0)
        val cent = KMeans.train(base, k = 8, iters = 3)
        Similarity.ivfHealthCard(KMeans.withCells(emb, cent), cent)
      },
      Some(s"""WITH ${kmeansCtes("8", 3, "vec_id % 2 = 0")},
              |ha AS MATERIALIZED (
              |  SELECT vec_id, emb, cell FROM (
              |    SELECT v.vec_id, v.emb, c.cell,
              |      row_number() OVER (PARTITION BY v.vec_id
              |        ORDER BY ${TextHash.duckCosine("v.emb", "c.cvec", 64)}
              |          DESC, c.cell) AS rn
              |    FROM e v, cent3 c
              |  ) WHERE rn = 1
              |),
              |hm AS (
              |  SELECT cell, list(m ORDER BY dim) AS mvec FROM (
              |    SELECT cell, i - 1 AS dim, round(avg(v), 6) AS m
              |    FROM (SELECT cell, unnest(emb) AS v,
              |            generate_subscripts(emb, 1) AS i FROM ha)
              |    GROUP BY cell, dim
              |  ) GROUP BY cell
              |),
              |hc AS (SELECT cell, count(*) AS n FROM ha GROUP BY cell),
              |tot AS (SELECT count(*) AS t,
              |        (SELECT count(*) FROM cent3) AS nl FROM ha)
              |SELECT c.cell, coalesce(n, 0) AS n_vecs,
              |  coalesce(n, 0) * nl * 1000000 // greatest(t, 1) AS fill_e6,
              |  1000000 - CAST(floor(
              |    ${TextHash.duckCosine("m.mvec", "c.cvec", 64)}
              |    * 1000000 + 0.5) AS BIGINT) AS drift_e6
              |FROM cent3 c
              |LEFT JOIN hc ON hc.cell = c.cell
              |LEFT JOIN hm m ON m.cell = c.cell, tot
              |ORDER BY c.cell""".stripMargin)),

    // Multimodal plumbing: binary payload + typed metadata through
    // per-partition batch feature extraction (decode deterministically
    // stubbed — no media codecs in this container). The feature vector
    // is EXPLODED to scalar (doc_id, bin, value_e6) rows: the driver's
    // canonicalizer hashes cell values and cannot sort/hash a raw
    // array column. e6-scaled ints per the §5 protocol.
    //
    // Oracle trick: bin = byte/16 = the byte's high hex nibble, so
    // DuckDB can histogram payload bytes via hex(encode(text)) —
    // strpos over '123456789ABCDEF' maps nibble char → bin (0 for
    // '0' since strpos misses = 0).
    Q("m1_multimodal_stub",
      (s, d) => {
        val media = Multimodal.mediaTable(Tables.documents(s, d))
        Multimodal.extractFeatures(media).toDF()
          .select(col("doc_id"), col("format"), col("n_bytes"),
            posexplode(col("feature")).as(Seq("bin", "value")))
          .select(col("doc_id"), col("format"), col("n_bytes"),
            col("bin").cast("long").as("bin"),
            floor(col("value") * 1000000 + 0.5).cast("long").as("value_e6"))
          .orderBy("doc_id", "bin")
      },
      Some("""WITH h AS (
             |  SELECT doc_id, 'fake/raw' AS format,
             |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |    hex(encode(text)) AS hx
             |  FROM documents
             |),
             |nib AS (
             |  SELECT doc_id,
             |    strpos('123456789ABCDEF', substr(hx, 2 * i + 1, 1)) AS bin
             |  FROM h, unnest(range(0, n_bytes)) AS t(i)
             |),
             |cnt AS (SELECT doc_id, bin, count(*) AS c FROM nib
             |        GROUP BY doc_id, bin),
             |grid AS (
             |  SELECT h.doc_id, h.format, h.n_bytes, b.bin
             |  FROM h, (SELECT unnest(range(0, 16)) AS bin) b
             |)
             |SELECT g.doc_id, g.format, g.n_bytes,
             |  CAST(g.bin AS BIGINT) AS bin,
             |  CAST(floor(CAST(COALESCE(c.c, 0) AS DOUBLE)
             |       / greatest(g.n_bytes, 1) * 1000000 + 0.5) AS BIGINT)
             |    AS value_e6
             |FROM grid g LEFT JOIN cnt c
             |  ON c.doc_id = g.doc_id AND c.bin = g.bin
             |ORDER BY g.doc_id, g.bin""".stripMargin)),

    // Perceptual-hash media dedup: quantize each payload's 16-bin
    // byte-histogram feature to e6 ints, key on the concatenated
    // vector, and group — identical-content media (the re-keyed
    // corpus plants true copies) collapse to one group per perceptual
    // key. Map-side feature + key, ONE partial-aggregated exchange:
    // the multimodal analog of d1's exact dedup, and the join point
    // between the media plumbing and the dedup family.
    Q("m4_media_phash",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val rekeyed = docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        val media = Multimodal.mediaTable(docs.union(rekeyed))
        Multimodal.extractFeatures(media).toDF()
          .select(col("doc_id"), concat_ws(",", expr(
            "transform(feature, v -> cast(cast(floor(v * 1000000 + 0.5)" +
              " as bigint) as string))")).as("phash"))
          .groupBy("phash")
          .agg(min("doc_id").as("kept_doc_id"),
            count(lit(1)).as("n_copies"))
          .filter(col("n_copies") > 1)
          .select("kept_doc_id", "n_copies")
          .orderBy("kept_doc_id")
      },
      Some("""WITH corpus AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 1000000 AS doc_id, text
             |  FROM documents WHERE doc_id % 10 = 0
             |),
             |h AS (
             |  SELECT doc_id,
             |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |    hex(encode(text)) AS hx
             |  FROM corpus
             |),
             |nib AS (
             |  SELECT doc_id,
             |    strpos('123456789ABCDEF', substr(hx, 2 * i + 1, 1)) AS bin
             |  FROM h, unnest(range(0, n_bytes)) AS t(i)
             |),
             |cnt AS (SELECT doc_id, bin, count(*) AS c FROM nib
             |        GROUP BY doc_id, bin),
             |grid AS (
             |  SELECT h.doc_id, h.n_bytes, b.bin
             |  FROM h, (SELECT unnest(range(0, 16)) AS bin) b
             |),
             |vec AS (
             |  SELECT g.doc_id,
             |    string_agg(CAST(CAST(floor(CAST(COALESCE(c.c, 0) AS DOUBLE)
             |        / greatest(g.n_bytes, 1) * 1000000 + 0.5) AS BIGINT)
             |        AS VARCHAR), ',' ORDER BY g.bin) AS phash
             |  FROM grid g LEFT JOIN cnt c
             |    ON c.doc_id = g.doc_id AND c.bin = g.bin
             |  GROUP BY g.doc_id
             |)
             |SELECT min(doc_id) AS kept_doc_id, count(*) AS n_copies
             |FROM vec GROUP BY phash HAVING count(*) > 1
             |ORDER BY kept_doc_id""".stripMargin)),

    // Reverse media search: top-5 most similar media per query item
    // by cosine over the 16-bin byte-histogram feature — the
    // multimodal analog of e1, joining the media plumbing to the ANN
    // family (m4 did the same for exact dedup). Features are exact
    // rationals (count/n) computed identically in both engines, so
    // raw-cosine ranking cannot diverge; the OUTPUT similarity is
    // e6-floored (round() on small rationals can straddle the
    // half-even boundary). Same codegen'd cosine + bounded-heap
    // shape as e1 — no window sort.
    Q("m5_media_sim",
      (s, d) => {
        val media = Multimodal.mediaTable(Tables.documents(s, d))
        val feats = Multimodal.extractFeatures(media).toDF()
          .select(col("doc_id").as("cand_id"),
            col("feature").as("cand_emb"))
        val q = feats.filter(col("cand_id") < 10)
          .select(col("cand_id").as("query_id"),
            col("cand_emb").as("query_emb"))
        import graft.functions.CosineSimilarity.cosine_sim
        import graft.functions.TopKByScore.top_k_by_score
        feats.join(broadcast(q), col("cand_id") =!= col("query_id"))
          .withColumn("sim", cosine_sim(col("query_emb"), col("cand_emb")))
          .groupBy("query_id")
          .agg(top_k_by_score(col("sim"), col("cand_id"), lit(0L), 5)
            .as("tk"))
          .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "s")))
          .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
            col("s.cand_id").as("cand_id"),
            floor(col("s.sim") * 1000000 + 0.5).cast("long").as("sim_e6"))
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH h AS (
              |  SELECT doc_id,
              |    CAST(octet_length(encode(text)) AS BIGINT) AS n,
              |    hex(encode(text)) AS hx
              |  FROM documents
              |),
              |nib AS (
              |  SELECT doc_id,
              |    strpos('123456789ABCDEF', substr(hx, 2 * i + 1, 1)) AS bin
              |  FROM h, unnest(range(0, n)) AS t(i)
              |),
              |cnt AS (SELECT doc_id, bin, count(*) AS c FROM nib
              |        GROUP BY doc_id, bin),
              |grid AS (
              |  SELECT h.doc_id, h.n, b.bin
              |  FROM h, (SELECT unnest(range(0, 16)) AS bin) b
              |),
              |vec AS (
              |  SELECT g.doc_id,
              |    list(CAST(COALESCE(c.c, 0) AS DOUBLE) / greatest(g.n, 1)
              |      ORDER BY g.bin) AS emb
              |  FROM grid g LEFT JOIN cnt c
              |    ON c.doc_id = g.doc_id AND c.bin = g.bin
              |  GROUP BY g.doc_id, g.n
              |),
              |q AS (SELECT doc_id AS query_id, emb AS qe FROM vec
              |      WHERE doc_id < 10),
              |scored AS (
              |  SELECT q.query_id, v.doc_id AS cand_id,
              |    ${TextHash.duckCosine("q.qe", "v.emb", 16)} AS sim
              |  FROM q JOIN vec v ON v.doc_id <> q.query_id
              |),
              |r AS (
              |  SELECT query_id, cand_id, sim,
              |    row_number() OVER (
              |      PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
              |  FROM scored
              |)
              |SELECT query_id, rank, cand_id,
              |  CAST(floor(sim * 1000000 + 0.5) AS BIGINT) AS sim_e6
              |FROM r WHERE rank <= 5
              |ORDER BY query_id, rank""".stripMargin)),

    // REAL frame sampling: a planted ANIMATED GIF per doc (2-4
    // frames, canvas-offset sub-rects, transparency, rotating GCE
    // disposal), decoded through the composited frame walk
    // (Gif.decodeFrames) and sampled on the video sampler's even
    // time grid (sample i → frame ⌊i·nf/4⌋; short animations repeat
    // frames). The oracle recomputes the composited canvas after
    // every frame WITHOUT a decoder — frame 0 paints the full
    // canvas, frame k overlays its rect where the index isn't the
    // transparent one, odd frames then restore their rect to
    // background (disposal 2) for the NEXT frame's base — and joins
    // the sample grid onto those per-frame digests. Scale shape:
    // map-side decode, no shuffle but the deterministic sort.
    Q("m2_frame_sample",
      (s, d) => {
        val media = Multimodal.gifAnimTable(Tables.documents(s, d))
        Multimodal.sampleGifFrames(media, nSamples = 4).toDF()
          .orderBy("doc_id", "sample_idx")
      },
      Some(s"""WITH ${gifAnimFrameCtes()}
              |SELECT d.doc_id, s.s AS sample_idx,
              |  (s.s * d.nf) // 4 AS frame_idx, f.sum_rgb, f.pixels_md5
              |FROM dims d, (SELECT unnest(range(0, 4)) AS s) s
              |JOIN fstats f ON f.doc_id = d.doc_id
              |  AND f.frame_idx = (s.s * d.nf) // 4
              |ORDER BY d.doc_id, sample_idx""".stripMargin)),

    // Animation metadata WITHOUT pixel decode — the ffprobe-style
    // header walk (LZW sub-blocks skipped, never inflated): at
    // corpus scale, cataloguing frame counts/durations must not pay
    // the decode. The oracle recomputes dims, frame count, the
    // planted per-frame GCE delays (2 + (id+3k) % 7 centiseconds),
    // and the NETSCAPE loop flag from the planting formulas.
    Q("m20_anim_meta",
      (s, d) => Multimodal.gifAnimMeta(
          Multimodal.gifAnimTable(Tables.documents(s, d)))
        .toDF().orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id,
             |    8 + doc_id % 5 AS w,
             |    8 + (doc_id * 3) % 5 AS h,
             |    2 + doc_id % 3 AS nf
             |  FROM documents
             |),
             |fd AS (
             |  SELECT d.doc_id, d.w, d.h, d.nf,
             |    2 + (d.doc_id + 3 * gk.k) % 7 AS delay_cs
             |  FROM dims d, (SELECT unnest(range(0, 4)) AS k) gk
             |  WHERE gk.k < d.nf
             |)
             |SELECT doc_id, CAST(w AS BIGINT) AS width,
             |  CAST(h AS BIGINT) AS height,
             |  CAST(nf AS BIGINT) AS n_frames,
             |  CAST(SUM(delay_cs) AS BIGINT) AS total_delay_cs,
             |  TRUE AS looped
             |FROM fd GROUP BY doc_id, w, h, nf
             |ORDER BY doc_id""".stripMargin)),

    // Perceptual ANIMATION dedup — the video twin of m10/m18's image
    // dHash: a seeded animated corpus (seed = doc_id % 53, so ~9 docs
    // share each animation) decodes through the composited frame
    // walk, every frame is dHashed, and the signature is the md5 of
    // the concatenated per-frame hashes IN ORDER — re-encodes of the
    // same animation collapse, reordered or re-timed cuts do not.
    // The oracle recomputes composited palette indices per frame,
    // grayscale + 9×8 resample + gradient bits per the m18 mirror,
    // then the ordered per-frame concatenation. Scale shape:
    // map-side decode+hash, one partial-agg exchange on the
    // signature, broadcast count-back (the m10 shape).
    Q("m22_anim_dedup",
      (s, d) => {
        val sigs = Multimodal.animDHash(
          Multimodal.gifAnimTable(Tables.documents(s, d), _ % 53))
          .toDF()
        val counts = sigs.groupBy("anim_sig")
          .agg(count(lit(1)).as("n_same"))
        sigs.join(broadcast(counts), "anim_sig")
          .select(col("doc_id"), col("n_frames"), col("anim_sig"),
            col("n_same"))
          .orderBy("doc_id")
      },
      Some(s"""WITH ${gifAnimFrameCtes("doc_id % 53")},
              |agr AS (
              |  SELECT doc_id, frame_idx, w, h, y, x,
              |    ((sv * 47 + j * 29) % 256
              |     + (sv * 47 + j * 29 + 13) % 256
              |     + (sv * 47 + j * 29 + 26) % 256) // 3 AS gray
              |  FROM fr
              |),
              |pos AS (
              |  SELECT a.doc_id, a.frame_idx, gy.y8, gx.x9,
              |    (gy.y8 * a.h) // 8 AS yy,
              |    (gx.x9 * a.w) // 9 AS xl,
              |    ((gx.x9 + 1) * a.w) // 9 AS xr
              |  FROM (SELECT DISTINCT doc_id, frame_idx, w, h FROM fr) a,
              |    (SELECT unnest(range(0, 8)) AS y8) gy,
              |    (SELECT unnest(range(0, 8)) AS x9) gx
              |),
              |bits AS (
              |  SELECT p.doc_id, p.frame_idx, p.y8, p.x9,
              |    CASE WHEN gr.gray > gl.gray THEN 1 ELSE 0 END AS bit
              |  FROM pos p
              |  JOIN agr gl ON gl.doc_id = p.doc_id
              |    AND gl.frame_idx = p.frame_idx
              |    AND gl.y = p.yy AND gl.x = p.xl
              |  JOIN agr gr ON gr.doc_id = p.doc_id
              |    AND gr.frame_idx = p.frame_idx
              |    AND gr.y = p.yy AND gr.x = p.xr
              |),
              |rws AS (
              |  SELECT doc_id, frame_idx, y8,
              |    CAST(SUM(bit * (1 << x9)) AS BIGINT) AS row_byte
              |  FROM bits GROUP BY doc_id, frame_idx, y8
              |),
              |fhash AS (
              |  SELECT doc_id, frame_idx,
              |    string_agg(lower(lpad(to_hex(row_byte), 2, '0')), ''
              |      ORDER BY y8) AS dhash_hex
              |  FROM rws GROUP BY doc_id, frame_idx
              |),
              |sig AS (
              |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
              |    md5(string_agg(dhash_hex, '' ORDER BY frame_idx))
              |      AS anim_sig
              |  FROM fhash GROUP BY doc_id
              |),
              |cnt AS (SELECT anim_sig, count(*) AS c FROM sig GROUP BY 1)
              |SELECT s.doc_id, s.n_frames, s.anim_sig,
              |  CAST(cnt.c AS BIGINT) AS n_same
              |FROM sig s JOIN cnt USING (anim_sig)
              |ORDER BY s.doc_id""".stripMargin)),

    // SHOT-BOUNDARY detection over the composited frame walk — the
    // video-curation primitive after frame decode (m19) and beside
    // animation dedup (m22): per consecutive frame pair the exact
    // integer pixel delta (Σ|Δbyte|, changed-pixel count) and a cut
    // flag at the 20%-of-canvas-changed threshold, cross-multiplied
    // so the rule is pure integer comparison. Disposal-2 background
    // restores double a frame's changed area vs a plain overlay, so
    // the planted corpus genuinely mixes cuts (~40%) and non-cuts at
    // every SF. Map-side decode + one linear canvas pass per pair;
    // the only exchange is the ORDER BY. Oracle: the shared
    // composited-pixel CTEs self-joined one frame back.
    Q("m26_shot_cuts",
      (s, d) => Multimodal.shotCuts(
          Multimodal.gifAnimTable(Tables.documents(s, d)))
        .toDF()
        .orderBy("doc_id", "frame_idx"),
      Some(s"""WITH ${gifAnimFrameCtes()},
              |diffs AS (
              |  SELECT a.doc_id, a.frame_idx, a.w, a.h,
              |    CAST(SUM(abs(a.b - p.b)) AS BIGINT) AS diff_total,
              |    CAST(COUNT(DISTINCT CASE WHEN a.b <> p.b
              |      THEN a.y * 16 + a.x END) AS BIGINT) AS changed_px
              |  FROM apx a JOIN apx p ON p.doc_id = a.doc_id
              |    AND p.y = a.y AND p.x = a.x AND p.c = a.c
              |    AND p.frame_idx = a.frame_idx - 1
              |  GROUP BY 1, 2, 3, 4
              |)
              |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
              |  diff_total, changed_px,
              |  changed_px * 1000 >= 200 * (w * h) AS is_cut
              |FROM diffs
              |ORDER BY doc_id, frame_idx""".stripMargin)),

    // The composited frame walk itself: EVERY frame of the planted
    // animations as a full-canvas snapshot — offsets, transparency
    // show-through, and disposal-2 background restore are each
    // visible in the digests (a decoder that skips compositing or
    // disposal diverges on frames ≥ 1). Same map-side scale shape.
    Q("m19_gif_frames",
      (s, d) => Multimodal.decodeGifFrameStats(
          Multimodal.gifAnimTable(Tables.documents(s, d)))
        .toDF().orderBy("doc_id", "frame_idx"),
      Some(s"""WITH ${gifAnimFrameCtes()}
              |SELECT doc_id, frame_idx, width, height, sum_rgb,
              |  pixels_md5
              |FROM fstats ORDER BY doc_id, frame_idx""".stripMargin)),

    // Resize through the same plumbing: nearest-neighbor downsample
    // of every payload to a fixed 8-byte thumbnail
    // (out[i] = payload[⌊i·n/8⌋]). The oracle reads each selected
    // byte's two hex nibbles off hex(payload), so the stride
    // arithmetic is checked exactly.
    Q("m3_resize",
      (s, d) => {
        val media = Multimodal.mediaTable(Tables.documents(s, d))
        Multimodal.resize(media, width = 8).toDF()
          .select(col("doc_id"), col("idx").cast("long").as("idx"),
            col("byte_val").cast("long").as("byte_val"))
          .orderBy("doc_id", "idx")
      },
      Some("""WITH h AS (
             |  SELECT doc_id,
             |    CAST(octet_length(encode(text)) AS BIGINT) AS n,
             |    hex(encode(text)) AS hx
             |  FROM documents
             |),
             |g AS (
             |  SELECT doc_id, n, hx, i.idx, (i.idx * n) // 8 AS p
             |  FROM h, (SELECT unnest(range(0, 8)) AS idx) i
             |  WHERE n > 0
             |)
             |SELECT doc_id, CAST(idx AS BIGINT) AS idx,
             |  CAST(strpos('123456789ABCDEF', substr(hx, 2 * p + 1, 1)) * 16
             |     + strpos('123456789ABCDEF', substr(hx, 2 * p + 2, 1))
             |     AS BIGINT) AS byte_val
             |FROM g ORDER BY doc_id, idx""".stripMargin)),

    // REAL PNG decode: planted images go through the real zlib
    // Deflater at write time and the full Png.decode at read time —
    // chunk walk with CRC32 verification, two-chunk IDAT reassembly,
    // Inflater, and scanline reconstruction for ALL FIVE filter
    // types (each image rotates None/Sub/Up/Average/Paeth by row).
    // Every pixel byte is a formula in doc_id, so the oracle pins
    // the decoded bytes md5-exactly WITHOUT a decoder: if inflation
    // or any unfilter is wrong, the hash diverges. Scale shape:
    // map-side decode, no shuffle but the deterministic sort.
    Q("m7_png_decode",
      (s, d) => Multimodal.decodePngStats(
          Multimodal.pngTable(Tables.documents(s, d)))
        .toDF().orderBy("doc_id"),
      Some(s"""WITH $pngPixelCtes
              |${pixelCardSql()}""".stripMargin)),

    // REAL BMP decode (multimodal.Bmp): even ids are 24-bit BI_RGB
    // planted in BOTH row orders (ids % 4 == 0 top-down via negative
    // biHeight, the rest bottom-up — the decoder normalizes), odd
    // ids are BI_RLE8 palette images whose 3-pixel runs walk the RLE
    // escape machine (encoded runs on even storage rows, absolute
    // mode with word padding on odd ones, EOL/EOD codes). Storage
    // order and compression never change the decoded pixels, so the
    // oracle pins every byte from the planting formulas with no
    // decoder — exactly the m7/m17 contract. Scale: map-side decode,
    // no shuffle beyond the deterministic sort.
    // REAL ICO container walk (multimodal.Ico): 1 + id%3 icons per
    // doc — PNG entries (re-entering the real Png decoder) alternate
    // with 24-bit DIB icons whose doubled-biHeight XOR block and
    // MSB-first AND mask the parser must stride correctly; directory
    // offsets/sizes are bounds-checked. Every planted byte is a
    // formula, so the oracle pins dims, entry form, pixel sums and
    // mask-bit counts per icon with NO decoder (the m7/m24 contract).
    // Scale: map-side container walk, no shuffle but the sort.
    Q("m33_ico_meta",
      (s, d) => Multimodal.decodeIcoStats(
          Multimodal.icoTable(Tables.documents(s, d)))
        .toDF().orderBy("doc_id", "icon_idx"),
      Some(s"""WITH icons AS (
              |  SELECT doc_id, j,
              |    4 + (doc_id + j) % 5 AS w,
              |    4 + (doc_id * 3 + j) % 5 AS h,
              |    CASE WHEN (doc_id + j) % 2 = 0 THEN 1 ELSE 0 END
              |      AS png
              |  FROM documents, unnest(range(0, 3)) AS u(j)
              |  WHERE j < 1 + doc_id % 3
              |),
              |px AS (
              |  SELECT i.doc_id, i.j,
              |    CASE WHEN i.png = 1
              |      THEN (i.doc_id * 31 + i.j * 17 + gy.y * 7
              |            + gx.x * 3 + gc.c) % 256
              |      ELSE (i.doc_id * 37 + i.j * 19 + gy.y * 5
              |            + gx.x * 11 + gc.c * 7) % 256
              |    END AS b
              |  ${pixelGridSql("icons i")}
              |),
              |sums AS (
              |  SELECT doc_id, j, CAST(sum(b) AS BIGINT) AS sum_rgb
              |  FROM px GROUP BY 1, 2
              |),
              |mask AS (
              |  SELECT i.doc_id, i.j, CAST(count(*) FILTER (
              |      (i.doc_id + i.j * 5 + gy.y * 7 + gx.x * 3) % 3 = 0)
              |    AS BIGINT) AS mask_bits
              |  ${pixelGridSql("icons i", chans = "1")} AND i.png = 0
              |  GROUP BY 1, 2
              |)
              |SELECT i.doc_id, CAST(i.j AS BIGINT) AS icon_idx,
              |  CAST(i.w AS BIGINT) AS width,
              |  CAST(i.h AS BIGINT) AS height,
              |  CAST(i.png AS BIGINT) AS is_png,
              |  CAST(CASE WHEN i.png = 1 THEN 0 ELSE 24 END AS BIGINT)
              |    AS bit_count,
              |  s.sum_rgb,
              |  CAST(coalesce(m.mask_bits, 0) AS BIGINT) AS mask_bits
              |FROM icons i
              |JOIN sums s ON s.doc_id = i.doc_id AND s.j = i.j
              |LEFT JOIN mask m ON m.doc_id = i.doc_id AND m.j = i.j
              |ORDER BY i.doc_id, icon_idx""".stripMargin)),

    Q("m24_bmp_decode",
      (s, d) => Multimodal.decodeBmpStats(
          Multimodal.bmpTable(Tables.documents(s, d)))
        .toDF().orderBy("doc_id"),
      Some(s"""WITH ${imageDimsCte(3)},
              |px AS (
              |  SELECT *,
              |    CASE WHEN doc_id % 2 = 0
              |      THEN (doc_id * 37 + gy.y * 5 + gx.x * 11 + gc.c * 7)
              |             % 256
              |      ELSE (doc_id * 29
              |            + ((doc_id * 17 + gy.y * 13 + (gx.x // 3) * 9)
              |               % 16) * 23
              |            + gc.c * 13) % 256
              |    END AS v
              |  ${pixelGridSql()}
              |)
              |${pixelCardSql(
                  Seq("CAST(doc_id % 2 AS BIGINT) AS compression"))}"""
        .stripMargin)),

    // Tile-grid spatial signature over REAL PNG decode: per-quadrant
    // sample count + RGB sum — the layout-aware near-dup feature
    // complementing the global dHash (m10); quadrant-swapped images
    // collide on global stats but not on tile rows. The oracle
    // recomputes the planted pixels and the same (y·2)/h integer
    // bucketing (nonneg operands, so DuckDB // truncation == floor).
    Q("m28_image_tiles",
      (s, d) => Multimodal.tileSignature(
          Multimodal.pngTable(Tables.documents(s, d)), grid = 2)
        .toDF().orderBy("doc_id", "tile_y", "tile_x"),
      Some(s"""WITH $pngPixelCtes
              |SELECT doc_id,
              |  CAST(y * 2 // h AS BIGINT) AS tile_y,
              |  CAST(x * 2 // w AS BIGINT) AS tile_x,
              |  count(*) AS n_samples,
              |  CAST(sum(v) AS BIGINT) AS sum_rgb
              |FROM px GROUP BY 1, 2, 3
              |ORDER BY doc_id, tile_y, tile_x""".stripMargin)),

    // REAL netpbm decode (P5/P6): the HEADER-parsing codec — ASCII
    // dims with comment lines at arbitrary token boundaries, the
    // exactly-one-whitespace raster start, and 2-byte big-endian
    // samples when maxval > 255 (planted on id % 4 == 1). The
    // formula oracle restates the generator because the raster is
    // uncompressed: every decoded sample equals the planted value.
    // Same map-side decode-and-fold shape as m24.
    Q("m27_netpbm_decode",
      (s, d) => Multimodal.decodeNetpbmStats(
          Multimodal.netpbmTable(Tables.documents(s, d)))
        .toDF().orderBy("doc_id"),
      Some(s"""WITH ${imageDimsCte(7,
                  "CASE WHEN doc_id % 2 = 0 THEN 6 ELSE 5 END AS fmt",
                  "CASE WHEN doc_id % 2 = 1 AND doc_id % 4 = 1 " +
                    "THEN 1000 ELSE 255 END AS mv",
                  "CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS ch")},
              |px AS (
              |  SELECT *,
              |    (doc_id * 41 + gy.y * 19 + gx.x * 7 + gc.c * 5)
              |      % (mv + 1) AS v
              |  ${pixelGridSql(chans = "ch")}
              |)
              |${pixelCardSql(Seq("CAST(fmt AS BIGINT) AS fmt",
                  "CAST(mv AS BIGINT) AS maxval",
                  "CAST(ch AS BIGINT) AS channels"),
                sumName = "sum_px", hex = 4)}""".stripMargin)),

    // Integer-exact coarse spectrum over REAL WAV decode: the DFT
    // bins whose twiddles are all in {0, ±1} (DC, fs/4, fs/2) —
    // low/mid/high band energy with zero floating point, so the
    // formula oracle pins every value (the m13 rationale: a general
    // DFT bin's trig rounds differently per libm; these bins have
    // none). Same map-side decode-and-fold as m11/m13.
    Q("m25_audio_bands",
      (s, d) => Multimodal.audioBands(
          Multimodal.wavTable(Tables.documents(s, d)))
        .toDF().orderBy("doc_id", "channel"),
      Some("""WITH dims AS (
             |  SELECT doc_id, 1 + doc_id % 2 AS ch,
             |    32 + (doc_id * 7) % 33 AS nf
             |  FROM documents
             |),
             |sm AS (
             |  SELECT d.doc_id, gc.c AS channel, gi.i,
             |    ((d.doc_id * 131 + gi.i * 37 + gc.c * 17 + 13) % 65536)
             |      - 32768 AS v
             |  FROM dims d,
             |    (SELECT unnest(range(0, 65)) AS i) gi,
             |    (SELECT unnest(range(0, 2)) AS c) gc
             |  WHERE gi.i < d.nf AND gc.c < d.ch
             |),
             |a AS (
             |  SELECT doc_id, channel,
             |    CAST(sum(v) AS BIGINT) AS dc,
             |    CAST(sum(CASE WHEN i % 4 = 0 THEN v
             |                  WHEN i % 4 = 2 THEN -v ELSE 0 END)
             |      AS BIGINT) AS re4,
             |    CAST(sum(CASE WHEN i % 4 = 1 THEN v
             |                  WHEN i % 4 = 3 THEN -v ELSE 0 END)
             |      AS BIGINT) AS im4,
             |    CAST(sum(CASE WHEN i % 2 = 0 THEN v ELSE -v END)
             |      AS BIGINT) AS alt,
             |    CAST(sum(v * v) AS BIGINT) AS energy
             |  FROM sm GROUP BY 1, 2
             |)
             |SELECT doc_id, CAST(channel AS BIGINT) AS channel, dc,
             |  re4 * re4 + im4 * im4 AS p_fs4,
             |  alt * alt AS p_fs2, energy
             |FROM a ORDER BY doc_id, channel""".stripMargin)),

    // Onset detection over REAL WAV decode: 16-sample frame energies
    // per channel with an integer rising-edge flag (energy·2 >
    // prev·3 ⇔ energy > 1.5×prev, exact) — where m23's VAD finds
    // quiet stretches, this finds where new energy ARRIVES. The
    // oracle restates the m25 sample formula, frames it with the
    // same integer division, and lags the energy per (doc, channel).
    Q("m29_audio_onsets",
      (s, d) => Multimodal.audioOnsets(
          Multimodal.wavTable(Tables.documents(s, d)))
        .toDF().orderBy("doc_id", "channel", "frame_idx"),
      Some("""WITH dims AS (
             |  SELECT doc_id, 1 + doc_id % 2 AS ch,
             |    32 + (doc_id * 7) % 33 AS nf
             |  FROM documents
             |),
             |sm AS (
             |  SELECT d.doc_id, gc.c AS channel, gi.i,
             |    ((d.doc_id * 131 + gi.i * 37 + gc.c * 17 + 13) % 65536)
             |      - 32768 AS v
             |  FROM dims d,
             |    (SELECT unnest(range(0, 65)) AS i) gi,
             |    (SELECT unnest(range(0, 2)) AS c) gc
             |  WHERE gi.i < d.nf AND gc.c < d.ch
             |),
             |fr AS (
             |  SELECT doc_id, channel, i // 16 AS frame_idx,
             |    CAST(sum(v * v) AS BIGINT) AS energy
             |  FROM sm GROUP BY 1, 2, 3
             |),
             |lg AS (
             |  SELECT *, lag(energy) OVER (
             |    PARTITION BY doc_id, channel ORDER BY frame_idx) AS prev
             |  FROM fr
             |)
             |SELECT doc_id, CAST(channel AS BIGINT) AS channel,
             |  CAST(frame_idx AS BIGINT) AS frame_idx, energy,
             |  coalesce(energy * 2 > prev * 3, FALSE) AS is_onset
             |FROM lg ORDER BY doc_id, channel, frame_idx""".stripMargin)),

    // REAL EXIF parse: JPEG marker walk → APP1 → endian-aware TIFF
    // IFD machine (II and MM both planted, inline vs offset ASCII
    // storage both exercised via the Make length flip) — the
    // metadata a vision-curation pipeline dedups and filters on
    // (orientation to normalize before hashing, timestamps for
    // temporal dedup) without decoding a single pixel. The payloads
    // are real Jpeg.encode streams with the APP1 spliced after SOI,
    // so the walker must skip genuine segments. Formula oracle.
    Q("m30_exif",
      (s, d) => Multimodal.parseExifMeta(
          Multimodal.exifTable(Tables.documents(s, d)))
        .toDF().orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END
             |    AS byte_order,
             |  CAST(1 + doc_id % 8 AS BIGINT) AS orientation,
             |  CAST(100 + doc_id % 50 AS BIGINT) AS width,
             |  CAST(50 + doc_id % 30 AS BIGINT) AS height,
             |  lpad(CAST(2000 + doc_id % 20 AS VARCHAR), 4, '0') || ':' ||
             |  lpad(CAST(1 + doc_id % 12 AS VARCHAR), 2, '0') || ':' ||
             |  lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') || ' ' ||
             |  lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') || ':' ||
             |  lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') || ':' ||
             |  lpad(CAST(doc_id * 7 % 60 AS VARCHAR), 2, '0')
             |    AS datetime,
             |  CASE WHEN doc_id % 5 = 0
             |    THEN 'c' || CAST(doc_id % 10 AS VARCHAR)
             |    ELSE 'cam' || CAST(doc_id % 100 AS VARCHAR) END AS make
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // MP3/ID3 metadata walk (Mp3.parse over Multimodal.mp3Table) —
    // the audio sibling of m30's EXIF: ID3v2.3 tag walk (synchsafe
    // tag size, plain-int v2.3 frame sizes, encoding-byte text
    // frames) + MPEG-1 Layer III frame-header chain parse (bitrate/
    // samplerate table lookup, 144000·kbps/hz + padding frame
    // lengths — counting frames WITHOUT decoding audio). The
    // catalogue pass for an audio crawl: map-side, rides the payload
    // scan, corrupt objects drop row-local. The oracle restates the
    // planted id formulas.
    Q("m31_mp3_meta",
      (s, d) => Multimodal.parseMp3Meta(
          Multimodal.mp3Table(Tables.documents(s, d)))
        .toDF().orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  't' || CAST(doc_id % 100 AS VARCHAR) AS title,
             |  CASE WHEN doc_id % 3 = 0 THEN 'va'
             |    ELSE 'a' || CAST(doc_id % 50 AS VARCHAR) END AS artist,
             |  CAST(1000 * (30 + doc_id % 300) AS BIGINT) AS tlen_ms,
             |  CAST(CASE doc_id % 4 WHEN 0 THEN 128 WHEN 1 THEN 192
             |    WHEN 2 THEN 256 ELSE 320 END AS BIGINT) AS bitrate_kbps,
             |  CAST(CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
             |    ELSE 32000 END AS BIGINT) AS sample_rate,
             |  CAST(3 + doc_id % 5 AS BIGINT) AS n_frames
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // REAL TIFF decode (Tiff.parse over Multimodal.tiffTable): the
    // sixth codec — endian-aware IFD walk with ARRAY-valued entries
    // (StripOffsets/ByteCounts sweep both inline and
    // offset-indirected storage via rowsPerStrip 1-3), strip
    // reassembly incl. a short final strip, gray-8 and RGB-8,
    // photometric reported not applied so the md5 binds the file's
    // raw samples. Map-side decode; corrupt payloads drop row-local.
    Q("m32_tiff_decode",
      (s, d) => Multimodal.decodeTiffStats(
          Multimodal.tiffTable(Tables.documents(s, d)))
        .toDF().orderBy("doc_id"),
      Some(s"""WITH ${imageDimsCte(3,
                  "CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS spp",
                  "1 + doc_id % 3 AS rps")},
              |px AS (
              |  SELECT *,
              |    (doc_id * 41 + gy.y * 7 + gx.x * 3 + gc.c * 11) % 256 AS v
              |  ${pixelGridSql(chans = "spp")}
              |)
              |${pixelCardSql(Seq("CAST(spp AS BIGINT) AS samples_per_pixel",
                  "CAST(CASE WHEN spp = 3 THEN 2 WHEN doc_id % 4 = 1 " +
                    "THEN 0 ELSE 1 END AS BIGINT) AS photometric",
                  "CAST((h + rps - 1) // rps AS BIGINT) AS n_strips"),
                sumName = "sum_px")}""".stripMargin)),

    // REAL baseline JPEG decode: planted images go through the FULL
    // lossy codec — forward DCT + Annex K quantization + canonical
    // Huffman entropy coding at write time; marker walk, huffman
    // table reconstruction (mincode/maxcode/valptr), stuffed-bit
    // entropy decode, DC-difference EXTEND, AC run-length/EOB,
    // dequant through the zigzag, and floating IDCT at read time.
    // The planted corpus is constant-per-8x8-block with EVEN values:
    // its DCT is DC-only and q(0,0)=16 divides 8*(v-128) exactly, so
    // the lossy path is bit-exact on these inputs and the oracle
    // pins every decoded pixel by md5 WITHOUT a decoder. Scale
    // shape: map-side decode, no shuffle but the deterministic sort.
    Q("m9_jpeg_decode",
      (s, d) => Multimodal.decodeJpegStats(
          Multimodal.jpegTable(Tables.documents(s, d)))
        .toDF().orderBy("doc_id"),
      Some(s"""WITH dims AS (
              |  SELECT doc_id,
              |    8 * (2 + doc_id % 3) AS w,
              |    8 * (2 + (doc_id * 5) % 3) AS h
              |  FROM documents
              |),
              |px AS (
              |  SELECT *,
              |    2 * ((doc_id * 29 + (gy.y // 8) * 13
              |          + (gx.x // 8) * 7) % 128) AS v
              |  ${pixelGridSql(chans = "1", side = 32)}
              |)
              |${pixelCardSql(sumName = "sum_gray")}""".stripMargin)),

    // REAL PALETTE + Adam7-INTERLACED PNG decode: bit depths 8/4/2/1
    // (sub-byte MSB-first unpacking), PLTE expansion, and the
    // seven-pass interlace scatter on odd doc_ids — the remaining
    // color-type spread of a real crawl beyond m7's truecolor.
    // Interlacing permutes the coded stream but not the final image,
    // so the oracle pins the decoded bytes md5-exactly from the
    // planting formulas WITHOUT a decoder: if any pass geometry,
    // unfilter, or palette lookup is wrong, the hash diverges.
    // Scale shape: map-side decode, no shuffle but the sort.
    Q("m15_png_palette",
      (s, d) => Multimodal.decodePngStats(
          Multimodal.pngPalTable(Tables.documents(s, d)))
        .toDF().orderBy("doc_id"),
      Some(s"""WITH ${imageDimsCte(3, PaletteSizeCol)},
              |px AS (
              |  SELECT *,
              |    (doc_id * 41
              |     + ((doc_id * 13 + gy.y * 5 + gx.x * 3) % psize) * 37
              |     + gc.c * 11) % 256 AS v
              |  ${pixelGridSql()}
              |)
              |${pixelCardSql()}""".stripMargin)),

    // REAL GIF decode: planted images go through the full GIF89a
    // codec — variable-width LZW compression at write time; header
    // walk, color table read, sub-block reassembly, LZW decode
    // (clear/EOI, K-K-K, the width-change offset), palette
    // expansion, and 4-pass de-interlace (odd ids) at read time.
    // Interlacing permutes the CODED stream, not the pixels, so the
    // oracle pins the decoded bytes md5-exactly WITHOUT a decoder.
    // Scale shape: map-side decode, no shuffle but the sort.
    Q("m17_gif_decode",
      (s, d) => Multimodal.decodeGifStats(
          Multimodal.gifTable(Tables.documents(s, d)))
        .toDF().orderBy("doc_id"),
      Some(s"""WITH ${imageDimsCte(3, PaletteSizeCol)},
              |px AS (
              |  SELECT *,
              |    (doc_id * 43
              |     + ((doc_id * 19 + gy.y * 11 + gx.x * 7) % psize) * 31
              |     + gc.c * 17) % 256 AS v
              |  ${pixelGridSql()}
              |)
              |${pixelCardSql()}""".stripMargin)),

    // REAL 16-BIT PNG decode: big-endian 16-bit samples filtered at
    // the 6-byte-per-pixel stride, downsampled to 8-bit RGB by the
    // high byte. The planted low bytes are deterministic NOISE the
    // downsample must discard — a decoder that filtered at the wrong
    // stride or took the wrong byte diverges from the oracle, which
    // recomputes only the high-byte formula. Scale shape: map-side
    // decode, no shuffle but the deterministic sort.
    Q("m16_png16",
      (s, d) => Multimodal.decodePngStats(
          Multimodal.png16Table(Tables.documents(s, d)))
        .toDF().orderBy("doc_id"),
      Some(s"""WITH ${imageDimsCte(3)},
              |px AS (
              |  SELECT *,
              |    (doc_id * 23 + gy.y * 9 + gx.x * 5 + gc.c * 3) % 256 AS v
              |  ${pixelGridSql()}
              |)
              |${pixelCardSql()}""".stripMargin)),

    // REAL baseline COLOR JPEG decode: 3-component YCbCr through the
    // FULL path — interleaved MCU entropy decode (chroma layout
    // rotating 4:2:0/4:4:4/4:2:2 by id; RSTn restart-marker resync
    // on every third),
    // per-component Annex K dequant + IDCT, nearest-neighbor chroma
    // upsampling, JFIF YCbCr→RGB with round+clamp. The planted
    // corpus is constant per 16×16 MCU region with even luma
    // (q_luma(0,0)=16 divides 8·(v−128)) and chroma ≡ 128 (mod 17)
    // (q_chroma(0,0)=17 divides 8·17k), so the lossy codec is
    // bit-exact and the oracle recomputes every decoded RGB byte
    // WITHOUT a decoder — same double-precision conversion formula,
    // same floor(x+0.5) rounding, same clamp. Scale shape: map-side
    // decode, no shuffle but the deterministic sort.
    Q("m14_jpeg_color",
      (s, d) => Multimodal.decodeJpegRgbStats(
          Multimodal.jpegColorTable(Tables.documents(s, d)))
        .toDF().orderBy("doc_id"),
      Some(s"""WITH dims AS (
              |  SELECT doc_id,
              |    16 * (1 + doc_id % 3) AS w,
              |    16 * (1 + (doc_id * 5) % 3) AS h
              |  FROM documents
              |),
              |px AS (
              |  SELECT *,
              |    2 * ((doc_id * 29 + (gy.y // 16) * 13
              |          + (gx.x // 16) * 7) % 128) AS yv,
              |    17 * (((doc_id * 11 + (gy.y // 16) * 5
              |          + (gx.x // 16) * 3) % 15) - 7) AS cb,
              |    17 * (((doc_id * 19 + (gy.y // 16) * 7
              |          + (gx.x // 16) * 5) % 15) - 7) AS cr
              |  ${pixelGridSql(chans = "1", side = 48)}
              |),
              |rgb AS (
              |  SELECT doc_id, w, h, y, x, gc.c AS c,
              |    GREATEST(0, LEAST(255, CAST(floor(
              |      CASE gc.c
              |        WHEN 0 THEN yv + 1.402 * cr
              |        WHEN 1 THEN yv - 0.344136 * cb - 0.714136 * cr
              |        ELSE yv + 1.772 * cb
              |      END + 0.5) AS BIGINT))) AS v
              |  FROM px, (SELECT unnest(range(0, 3)) AS c) gc
              |)
              |${pixelCardSql(src = "rgb")}""".stripMargin)),

    // REAL WAV decode: planted clips are full RIFF containers (odd-
    // length LIST chunk exercising the skip-and-pad path, interleaved
    // 16-bit PCM) and Wav.decode walks chunks with CRC-less RIFF
    // rules: magic check, fmt field validation (PCM tag, blockAlign,
    // byteRate), word-aligned skip of ancillary chunks, LE sample
    // extraction. Every sample is a formula in doc_id, so the oracle
    // pins the decoded stream md5-exactly WITHOUT a decoder. Scale
    // shape: map-side decode, no shuffle but the deterministic sort.
    Q("m8_wav_decode",
      (s, d) => Multimodal.decodeWavStats(
          Multimodal.wavTable(Tables.documents(s, d)))
        .toDF().orderBy("doc_id"),
      Some("""WITH p AS (
             |  SELECT doc_id,
             |    8000 + (doc_id % 4) * 4000 AS sr,
             |    1 + doc_id % 2 AS ch,
             |    32 + (doc_id * 7) % 33 AS nf
             |  FROM documents
             |),
             |s AS (
             |  SELECT doc_id, sr, ch, gi.i AS i, gc.c AS c,
             |    ((doc_id * 131 + gi.i * 37 + gc.c * 17 + 13) % 65536)
             |      - 32768 AS v
             |  FROM p,
             |    (SELECT unnest(range(0, 65)) AS i) gi,
             |    (SELECT unnest(range(0, 2)) AS c) gc
             |  WHERE gi.i < nf AND gc.c < ch
             |)
             |SELECT doc_id, CAST(sr AS BIGINT) AS sample_rate,
             |  CAST(ch AS BIGINT) AS channels,
             |  CAST(COUNT(*) AS BIGINT) AS n_samples,
             |  CAST(SUM(v) AS BIGINT) AS sum_val,
             |  CAST(MAX(ABS(v)) AS BIGINT) AS peak,
             |  md5(string_agg(CAST(v AS VARCHAR), ',' ORDER BY i, c))
             |    AS samples_md5
             |FROM s GROUP BY doc_id, sr, ch
             |ORDER BY doc_id""".stripMargin)),

    // Audio RESAMPLING to one model rate (the normalization step
    // between decode and features — mixed 8/12/16/20 kHz clips all
    // land on 16 kHz): real decode, floor-div mono mix, linear
    // interpolation on the exact rational time grid, values carried
    // at the ×16000 integer scale so every output sample is
    // integer-exact and md5-bound. The oracle recomputes the mix and
    // interpolation joins from the planting formulas without a
    // decoder. Map-side only; no shuffle but the deterministic sort.
    Q("m21_audio_resample",
      (s, d) => Multimodal.resampleWav(
          Multimodal.wavTable(Tables.documents(s, d)))
        .toDF().orderBy("doc_id"),
      Some("""WITH p AS (
             |  SELECT doc_id,
             |    8000 + (doc_id % 4) * 4000 AS sr,
             |    1 + doc_id % 2 AS ch,
             |    32 + (doc_id * 7) % 33 AS nf
             |  FROM documents
             |),
             |mono AS (
             |  SELECT doc_id, sr, nf, gi.i AS i,
             |    CASE WHEN ch = 1 THEN
             |      ((doc_id * 131 + gi.i * 37 + 13) % 65536) - 32768
             |    ELSE (
             |      (((doc_id * 131 + gi.i * 37 + 13) % 65536) - 32768)
             |      + (((doc_id * 131 + gi.i * 37 + 17 + 13) % 65536)
             |         - 32768)
             |    ) // 2 END AS v
             |  FROM p, (SELECT unnest(range(0, 65)) AS i) gi
             |  WHERE gi.i < nf
             |),
             |grid AS (
             |  SELECT p.doc_id, p.sr, p.nf, gj.j,
             |    (gj.j * p.sr) // 16000 AS pos,
             |    (gj.j * p.sr) % 16000 AS rem
             |  FROM p, (SELECT unnest(range(0, 130)) AS j) gj
             |  WHERE gj.j < (p.nf * 16000) // p.sr
             |),
             |o AS (
             |  SELECT g.doc_id, g.sr, g.nf, g.j,
             |    a.v * (16000 - g.rem) + b.v * g.rem AS y
             |  FROM grid g
             |  JOIN mono a ON a.doc_id = g.doc_id AND a.i = g.pos
             |  JOIN mono b ON b.doc_id = g.doc_id
             |    AND b.i = least(g.pos + 1, g.nf - 1)
             |)
             |SELECT doc_id, CAST(sr AS BIGINT) AS sr_in,
             |  CAST(nf AS BIGINT) AS n_in,
             |  CAST(COUNT(*) AS BIGINT) AS n_out,
             |  CAST(SUM(y) AS BIGINT) AS sum_scaled,
             |  md5(string_agg(CAST(y AS VARCHAR), ',' ORDER BY j))
             |    AS vals_md5
             |FROM o GROUP BY doc_id, sr, nf
             |ORDER BY doc_id""".stripMargin)),

    // VAD-style silence segmentation (the speech-curation gate
    // between decode and transcription — which clips carry signal,
    // and where): over m21's resampled mono stream (×16000 integer
    // grid), a sample is ACTIVE when |y| ≥ 8192·16000 (8192 of
    // 16-bit full scale), consecutive active samples form runs, runs
    // shorter than 4 samples drop as clicks; per kept run the sample
    // span, length and exact integer |y| mass. All-integer, so the
    // oracle states the rule directly on the planting formulas via
    // gaps-and-islands — no decoder. Map-side decode + linear scan
    // (state = one open run per doc); no shuffle but the sort.
    Q("m23_vad_segments",
      (s, d) => Multimodal.vadSegments(
          Multimodal.wavTable(Tables.documents(s, d)))
        .toDF().orderBy("doc_id", "seg"),
      Some("""WITH p AS (
             |  SELECT doc_id,
             |    8000 + (doc_id % 4) * 4000 AS sr,
             |    1 + doc_id % 2 AS ch,
             |    32 + (doc_id * 7) % 33 AS nf
             |  FROM documents
             |),
             |mono AS (
             |  SELECT doc_id, sr, nf, gi.i AS i,
             |    CASE WHEN ch = 1 THEN
             |      ((doc_id * 131 + gi.i * 37 + 13) % 65536) - 32768
             |    ELSE (
             |      (((doc_id * 131 + gi.i * 37 + 13) % 65536) - 32768)
             |      + (((doc_id * 131 + gi.i * 37 + 17 + 13) % 65536)
             |         - 32768)
             |    ) // 2 END AS v
             |  FROM p, (SELECT unnest(range(0, 65)) AS i) gi
             |  WHERE gi.i < nf
             |),
             |grid AS (
             |  SELECT p.doc_id, p.sr, p.nf, gj.j,
             |    (gj.j * p.sr) // 16000 AS pos,
             |    (gj.j * p.sr) % 16000 AS rem
             |  FROM p, (SELECT unnest(range(0, 130)) AS j) gj
             |  WHERE gj.j < (p.nf * 16000) // p.sr
             |),
             |o AS (
             |  SELECT g.doc_id, g.j,
             |    a.v * (16000 - g.rem) + b.v * g.rem AS y
             |  FROM grid g
             |  JOIN mono a ON a.doc_id = g.doc_id AND a.i = g.pos
             |  JOIN mono b ON b.doc_id = g.doc_id
             |    AND b.i = least(g.pos + 1, g.nf - 1)
             |),
             |active AS (
             |  SELECT doc_id, j, abs(y) AS a FROM o
             |  WHERE abs(y) >= 8192 * 16000
             |),
             |isl AS (
             |  SELECT doc_id, j, a,
             |    j - row_number() OVER (PARTITION BY doc_id ORDER BY j)
             |      AS grp
             |  FROM active
             |),
             |runs AS (
             |  SELECT doc_id, min(j) AS start_j, max(j) AS end_j,
             |    CAST(count(*) AS BIGINT) AS n_samples,
             |    CAST(sum(a) AS BIGINT) AS sum_abs
             |  FROM isl GROUP BY doc_id, grp
             |  HAVING count(*) >= 4
             |)
             |SELECT doc_id,
             |  row_number() OVER (PARTITION BY doc_id
             |    ORDER BY start_j) AS seg,
             |  CAST(start_j AS BIGINT) AS start_j,
             |  CAST(end_j AS BIGINT) AS end_j, n_samples, sum_abs
             |FROM runs ORDER BY doc_id, seg""".stripMargin)),

    // Perceptual hash over REAL decoded pixels: the image-dedup pass
    // on actual reconstructed RGB, not payload bytes. A seeded PNG
    // corpus (seed = doc_id % 97, so ~5 docs share each image)
    // decodes through the full zlib+unfilter path, then dHash:
    // integer grayscale, nearest-neighbor 9x8 sample grid (exact
    // stride arithmetic the oracle mirrors), 64 left-vs-right bits
    // as 16 hex chars. Identical images collapse to identical
    // hashes; n_same counts the group. Scale shape: map-side decode
    // + hash, one partial-agg exchange on the hash key, AQE
    // broadcasts the group-count side back.
    Q("m10_image_dhash",
      (s, d) => {
        val hashes = Multimodal.pngDHash(
          Multimodal.pngTable(Tables.documents(s, d), _ % 97)).toDF()
        val counts = hashes.groupBy("dhash_hex")
          .agg(count(lit(1)).as("n_same"))
        hashes.join(broadcast(counts), "dhash_hex")
          .select(col("doc_id"), col("dhash_hex"), col("n_same"))
          .orderBy("doc_id")
      },
      Some {
        def g(sx: String): String = {
          val k = s"(sv*31 + ((y8*h)//8)*7 + ($sx)*3)"
          s"((($k) % 256 + ($k + 1) % 256 + ($k + 2) % 256) // 3)"
        }
        s"""WITH d AS (
           |  SELECT doc_id, doc_id % 97 AS sv,
           |    4 + (doc_id % 97) % 5 AS w,
           |    4 + ((doc_id % 97) * 3) % 5 AS h
           |  FROM documents
           |),
           |bits AS (
           |  SELECT doc_id, gy.y8 AS y8, gx.x9 AS x9,
           |    CASE WHEN ${g("((x9+1)*w)//9")} > ${g("(x9*w)//9")}
           |      THEN 1 ELSE 0 END AS bit
           |  FROM d,
           |    (SELECT unnest(range(0, 8)) AS y8) gy,
           |    (SELECT unnest(range(0, 8)) AS x9) gx
           |),
           |rws AS (
           |  SELECT doc_id, y8,
           |    CAST(SUM(bit * (1 << x9)) AS BIGINT) AS row_byte
           |  FROM bits GROUP BY doc_id, y8
           |),
           |hashes AS (
           |  SELECT doc_id, string_agg(lower(lpad(to_hex(row_byte),
           |    2, '0')), '' ORDER BY y8) AS dhash_hex
           |  FROM rws GROUP BY doc_id
           |),
           |cnt AS (SELECT dhash_hex, count(*) AS c
           |        FROM hashes GROUP BY 1)
           |SELECT h.doc_id, h.dhash_hex, CAST(cnt.c AS BIGINT) AS n_same
           |FROM hashes h JOIN cnt USING (dhash_hex)
           |ORDER BY h.doc_id""".stripMargin
      }),

    // dHash perceptual dedup over REAL GIF decode — m10's gradient
    // hash with the m17 codec in front (LZW, palette expansion and
    // de-interlace feed the shared dhashHex core), seeds collapsed
    // mod 97 so planted duplicates exist to group. Decode + hash are
    // map-side; the only exchanges are the hash-count rollup (then
    // broadcast back) and the sort.
    Q("m18_gif_dhash",
      (s, d) => {
        val hashes = Multimodal.gifDHash(
          Multimodal.gifTable(Tables.documents(s, d), _ % 97)).toDF()
        val counts = hashes.groupBy("dhash_hex")
          .agg(count(lit(1)).as("n_same"))
        hashes.join(broadcast(counts), "dhash_hex")
          .select(col("doc_id"), col("dhash_hex"), col("n_same"))
          .orderBy("doc_id")
      },
      Some {
        def g(sx: String): String = {
          val idx = s"((sv*19 + ((y8*h)//8)*11 + ($sx)*7) % ps)"
          val k = s"(sv*43 + $idx*31)"
          s"((($k) % 256 + ($k + 17) % 256 + ($k + 34) % 256) // 3)"
        }
        s"""WITH d AS (
           |  SELECT doc_id, doc_id % 97 AS sv,
           |    4 + (doc_id % 97) % 5 AS w,
           |    4 + ((doc_id % 97) * 3) % 5 AS h,
           |    CASE (doc_id % 97) % 4 WHEN 0 THEN 16 WHEN 1 THEN 16
           |         WHEN 2 THEN 4 ELSE 2 END AS ps
           |  FROM documents
           |),
           |bits AS (
           |  SELECT doc_id, gy.y8 AS y8, gx.x9 AS x9,
           |    CASE WHEN ${g("((x9+1)*w)//9")} > ${g("(x9*w)//9")}
           |      THEN 1 ELSE 0 END AS bit
           |  FROM d,
           |    (SELECT unnest(range(0, 8)) AS y8) gy,
           |    (SELECT unnest(range(0, 8)) AS x9) gx
           |),
           |rws AS (
           |  SELECT doc_id, y8,
           |    CAST(SUM(bit * (1 << x9)) AS BIGINT) AS row_byte
           |  FROM bits GROUP BY doc_id, y8
           |),
           |hashes AS (
           |  SELECT doc_id, string_agg(lower(lpad(to_hex(row_byte),
           |    2, '0')), '' ORDER BY y8) AS dhash_hex
           |  FROM rws GROUP BY doc_id
           |),
           |cnt AS (SELECT dhash_hex, count(*) AS c
           |        FROM hashes GROUP BY 1)
           |SELECT h.doc_id, h.dhash_hex, CAST(cnt.c AS BIGINT) AS n_same
           |FROM hashes h JOIN cnt USING (dhash_hex)
           |ORDER BY h.doc_id""".stripMargin
      }),

    // REAL 2-D thumbnail over decoded pixels: m3's 1-D stride
    // stand-in upgraded to actual image geometry — decode the PNG
    // corpus, nearest-neighbor resample to a fixed 4x4 RGB
    // thumbnail with exact integer strides the oracle mirrors.
    // Scale shape: map-side decode+resample, fixed 16-row output
    // per image, no shuffle but the deterministic sort.
    Q("m12_thumbnail",
      (s, d) => Multimodal.pngThumbnail(
          Multimodal.pngTable(Tables.documents(s, d)), 4)
        .toDF().orderBy("doc_id", "idx"),
      Some("""WITH dims AS (
             |  SELECT doc_id, 4 + doc_id % 5 AS w,
             |    4 + (doc_id * 3) % 5 AS h
             |  FROM documents
             |),
             |px AS (
             |  SELECT doc_id, g.idx AS idx,
             |    ((g.idx // 4) * h) // 4 AS sy,
             |    ((g.idx % 4) * w) // 4 AS sx
             |  FROM dims, (SELECT unnest(range(0, 16)) AS idx) g
             |)
             |SELECT doc_id, CAST(idx AS BIGINT) AS idx,
             |  CAST((doc_id * 31 + sy * 7 + sx * 3) % 256 AS BIGINT) AS r,
             |  CAST((doc_id * 31 + sy * 7 + sx * 3 + 1) % 256 AS BIGINT) AS g,
             |  CAST((doc_id * 31 + sy * 7 + sx * 3 + 2) % 256 AS BIGINT) AS b
             |FROM px ORDER BY doc_id, idx""".stripMargin)),

    // Audio features over REAL decoded PCM: the m8 corpus decoded
    // again, then energy / per-channel zero crossings / DC offset —
    // the signal stats an audio curation gate (silence, clipping,
    // mono-vs-stereo sanity) filters on. Zero crossings step through
    // the interleaving per channel: a crossing is a sign change
    // between consecutive frames of the SAME channel. All exact
    // integers. Scale shape: map-side decode+fold, no shuffle but
    // the deterministic sort.
    Q("m11_audio_features",
      (s, d) => Multimodal.audioFeatures(
          Multimodal.wavTable(Tables.documents(s, d)))
        .toDF().orderBy("doc_id"),
      Some("""WITH p AS (
             |  SELECT doc_id,
             |    1 + doc_id % 2 AS ch,
             |    32 + (doc_id * 7) % 33 AS nf
             |  FROM documents
             |),
             |s AS (
             |  SELECT doc_id, ch, nf, gi.i AS i, gc.c AS c,
             |    ((doc_id * 131 + gi.i * 37 + gc.c * 17 + 13) % 65536)
             |      - 32768 AS v
             |  FROM p,
             |    (SELECT unnest(range(0, 65)) AS i) gi,
             |    (SELECT unnest(range(0, 2)) AS c) gc
             |  WHERE gi.i < nf AND gc.c < ch
             |),
             |x AS (
             |  SELECT doc_id, i, c, v,
             |    lag(v) OVER (PARTITION BY doc_id, c ORDER BY i) AS pv
             |  FROM s
             |)
             |SELECT doc_id,
             |  CAST(COUNT(*) AS BIGINT) AS n_samples,
             |  CAST(SUM(v * v) AS BIGINT) AS sum_sq,
             |  CAST(SUM(CASE WHEN pv IS NOT NULL
             |    AND (v >= 0) != (pv >= 0) THEN 1 ELSE 0 END) AS BIGINT)
             |    AS zero_cross,
             |  CAST(SUM(v) AS BIGINT) AS dc_sum
             |FROM x GROUP BY doc_id
             |ORDER BY doc_id""".stripMargin)),

    // Image header sniff — real PNG/JPEG STRUCTURE (not stand-in
    // bytes): both engines plant bit-identical valid headers from
    // doc_id (PNG signature + IHDR for even ids; JFIF APP0 +
    // optional variable-length COM + SOF0 for odd), then parse
    // width/height/bit-depth/components back OUT OF THE BYTES — the
    // Spark side with a marker-walking byte parser in the multimodal
    // mapPartitions contract, the oracle over hex(payload). Scale
    // shape: map-side only (parse is per-row byte arithmetic, no
    // shuffle but the deterministic sort).
    Q("m6_image_headers",
      (s, d) => Multimodal.parseImageHeaders(
          Multimodal.imageTable(Tables.documents(s, d)))
        .toDF().orderBy("doc_id"),
      Some("""WITH img AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 2 = 0 THEN
             |      unhex('89504E470D0A1A0A0000000D49484452')
             |      || unhex(lpad(to_hex(16 + doc_id % 1024), 8, '0'))
             |      || unhex(lpad(to_hex(16 + (doc_id * 7) % 1024), 8, '0'))
             |      || unhex(lpad(to_hex(8 + 8 * ((doc_id // 2) % 2)), 2, '0'))
             |      || unhex(lpad(to_hex(CASE (doc_id // 2) % 3
             |           WHEN 0 THEN 0 WHEN 1 THEN 2 ELSE 6 END), 2, '0'))
             |      || unhex('00000000000000')
             |      || encode(text)
             |    ELSE
             |      unhex('FFD8FFE000104A46494600010100000100010000')
             |      || CASE WHEN doc_id % 3 = 0 THEN
             |           unhex('FFFE')
             |           || unhex(lpad(to_hex(octet_length(
             |                encode('doc' || CAST(doc_id AS VARCHAR))) + 2),
             |                4, '0'))
             |           || encode('doc' || CAST(doc_id AS VARCHAR))
             |         ELSE ''::BLOB END
             |      || unhex('FFC0001108')
             |      || unhex(lpad(to_hex(16 + (doc_id * 7) % 1024), 4, '0'))
             |      || unhex(lpad(to_hex(16 + doc_id % 1024), 4, '0'))
             |      || unhex('03012200021101031101')
             |      || encode(text)
             |    END AS payload
             |  FROM documents
             |),
             |hx AS (SELECT doc_id, hex(payload) AS h FROM img),
             |png AS (
             |  SELECT doc_id, 'png' AS format,
             |    CAST(concat('0x', substring(h, 33, 8)) AS BIGINT) AS width,
             |    CAST(concat('0x', substring(h, 41, 8)) AS BIGINT) AS height,
             |    CAST(concat('0x', substring(h, 49, 2)) AS BIGINT)
             |      AS bit_depth,
             |    CAST(CASE CAST(concat('0x', substring(h, 51, 2)) AS BIGINT)
             |      WHEN 0 THEN 1 WHEN 2 THEN 3 WHEN 3 THEN 1 WHEN 4 THEN 2
             |      ELSE 4 END AS BIGINT) AS n_components
             |  FROM hx WHERE substring(h, 1, 16) = '89504E470D0A1A0A'
             |),
             |jseg AS (
             |  -- after SOI(2): an APP0 whose length is READ FROM THE
             |  -- BYTES, then optionally one COM, then SOF0.
             |  SELECT doc_id, h,
             |    4 + CAST(concat('0x', substring(h, 9, 4)) AS BIGINT) AS o2
             |  FROM hx WHERE substring(h, 1, 4) = 'FFD8'
             |),
             |jsof AS (
             |  SELECT doc_id, h,
             |    CASE WHEN substring(h, 2 * o2 + 1, 4) = 'FFFE'
             |      THEN o2 + 2
             |        + CAST(concat('0x', substring(h, 2 * o2 + 5, 4))
             |            AS BIGINT)
             |      ELSE o2 END AS o3
             |  FROM jseg
             |),
             |jpg AS (
             |  SELECT doc_id, 'jpeg' AS format,
             |    CAST(concat('0x', substring(h, 2 * o3 + 15, 4)) AS BIGINT)
             |      AS width,
             |    CAST(concat('0x', substring(h, 2 * o3 + 11, 4)) AS BIGINT)
             |      AS height,
             |    CAST(concat('0x', substring(h, 2 * o3 + 9, 2)) AS BIGINT)
             |      AS bit_depth,
             |    CAST(concat('0x', substring(h, 2 * o3 + 19, 2)) AS BIGINT)
             |      AS n_components
             |  FROM jsof WHERE substring(h, 2 * o3 + 1, 4) = 'FFC0'
             |)
             |SELECT * FROM png UNION ALL SELECT * FROM jpg
             |ORDER BY doc_id""".stripMargin)),

    // BM25 ranked retrieval (the data-selection / retrieval-based
    // decontamination primitive): every 100th doc's tokens 3-6 form a
    // probe query; top-5 corpus docs per query by BM25 (k1=1.2,
    // b=0.75, Lucene idf). Each term's contribution is e6-scaled to
    // an integer BEFORE the per-(query, doc) sum, so the score is
    // order-independent (a double sum over terms could straddle a
    // rounding boundary between engines). Scale shape: probe terms
    // broadcast into the postings (tf) join — only query-term
    // postings flow; per-query ranking is the bounded-heap
    // top_k_by_score aggregate, never a corpus-wide window sort.
    Q("d36_bm25",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val stats = docs.agg(count(lit(1)).cast("long").as("n"),
          sum(size(expr(TextHash.sparkTokens("text")))).cast("long")
            .as("tot")).head()
        val n = stats.getLong(0)
        val avgdl = stats.getLong(1).toDouble / n
        val qterms = docs.filter(col("doc_id") % 100 === 7)
          .select(col("doc_id").as("query_id"),
            explode(expr(s"slice(${TextHash.sparkTokens("text")}, 3, 4)"))
              .as("token"))
          .distinct()
        TextAnalysis.bm25TopK(docs, qterms, n, avgdl, k = 5)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH tk AS (
              |  SELECT doc_id, unnest(${TextHash.duckTokens("text")})
              |    AS token
              |  FROM documents
              |),
              |tf AS (
              |  SELECT doc_id, token, count(*) AS tf FROM tk GROUP BY 1, 2
              |),
              |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
              |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
              |q AS (
              |  SELECT DISTINCT doc_id AS query_id,
              |    unnest((${TextHash.duckTokens("text")})[3:6]) AS token
              |  FROM documents WHERE doc_id % 100 = 7
              |),
              |c AS (
              |  SELECT q.query_id, tf.doc_id,
              |    CAST(floor(
              |      ln((CAST((SELECT count(*) FROM documents) - df
              |            AS DOUBLE) + 0.5)
              |         / (CAST(df AS DOUBLE) + 0.5) + 1)
              |      * (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1)
              |         / (CAST(tf AS DOUBLE) + 1.2 * (0.25
              |            + 0.75 * CAST(dl AS DOUBLE)
              |              / (SELECT CAST(count(*) AS DOUBLE)
              |                   / (SELECT count(*) FROM documents)
              |                 FROM tk))))
              |      * 1000000 + 0.5) AS BIGINT) AS c
              |  FROM tf
              |  JOIN q USING (token)
              |  JOIN df USING (token)
              |  JOIN dl ON tf.doc_id = dl.doc_id
              |),
              |sc AS (
              |  SELECT query_id, doc_id, CAST(sum(c) AS BIGINT)
              |    AS score_e6
              |  FROM c GROUP BY 1, 2
              |),
              |r AS (
              |  SELECT query_id, doc_id, score_e6,
              |    row_number() OVER (PARTITION BY query_id
              |      ORDER BY score_e6 DESC, doc_id) AS rank
              |  FROM sc
              |)
              |SELECT query_id, rank, doc_id, score_e6
              |FROM r WHERE rank <= 5
              |ORDER BY query_id, rank""".stripMargin)),

    // Context-dependent LM scoring: a Jelinek-Mercer interpolated
    // BIGRAM model (0.5·P(w|prev) + 0.5·P(w), corpus MLE) fed through
    // the SAME TextAnalysis.lmScore (token, logprob) contract — the
    // context unit is the "prev w" pair string, so the d19/d30 plug
    // point again takes a richer model with zero operator changes.
    // This is the curation scorer shape between unigram stand-ins
    // and a real KenLM: fluency now penalizes improbable TRANSITIONS
    // (a shuffled doc scores below its original order under bigrams but
    // identically under unigrams). Adjacent pairs are built MAP-SIDE
    // from the token array (transform over sequence — no lag window,
    // no pre-shuffle); docs with < 2 tokens drop in both engines.
    // Scale note: a corpus-derived bigram table is O(observed pairs)
    // — broadcast here via the contract; at real corpus scale the
    // same plan shuffle-hash-joins on the pair key (AQE decides).
    Q("d37_bigram_lm",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val tk = docs.select(col("doc_id"),
          explode(expr(TextHash.sparkTokens("text"))).as("token"))
        val n = tk.count() // corpus token count (driver scalar handoff)
        val uni = tk.groupBy("token").agg(count(lit(1)).as("cw"))
        val pairs = bigramPairs(docs)
        val c2 = pairs.groupBy("prev", "w").agg(count(lit(1)).as("c2"))
        val c1 = c2.groupBy("prev").agg(sum("c2").as("c1"))
        val lm = c2.join(c1, "prev")
          .join(uni.withColumnRenamed("token", "w"), "w")
          .select(concat(col("prev"), lit(" "), col("w")).as("token"),
            log(lit(0.5) * (col("c2").cast("double") / col("c1")
                .cast("double"))
              + lit(0.5) * (col("cw").cast("double") / lit(n.toDouble)))
              .as("logprob"))
        TextAnalysis.lmScore(
          pairs.select(col("doc_id"),
            concat(col("prev"), lit(" "), col("w")).as("token")), lm)
          .orderBy("doc_id")
      },
      Some(s"""WITH tk AS (
              |  SELECT doc_id, unnest(${TextHash.duckTokens("text")})
              |    AS token
              |  FROM documents
              |),
              |p AS (
              |  SELECT doc_id,
              |    unnest(tks[1:len(tks) - 1]) AS prev,
              |    unnest(tks[2:len(tks)]) AS w
              |  FROM (SELECT doc_id, ${TextHash.duckTokens("text")}
              |          AS tks
              |        FROM documents)
              |  WHERE len(tks) >= 2
              |),
              |c2 AS (SELECT prev, w, count(*) AS c2 FROM p GROUP BY 1, 2),
              |c1 AS (SELECT prev, count(*) AS c1 FROM p GROUP BY 1),
              |uni AS (SELECT token, count(*) AS cw FROM tk GROUP BY 1),
              |lm AS (
              |  SELECT c2.prev, c2.w,
              |    ln(0.5 * (CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE))
              |      + 0.5 * (CAST(cw AS DOUBLE)
              |          / (SELECT CAST(count(*) AS DOUBLE) FROM tk)))
              |      AS lp
              |  FROM c2
              |  JOIN c1 USING (prev)
              |  JOIN uni ON uni.token = c2.w
              |)
              |SELECT p.doc_id, count(*) AS n_tokens,
              |  CAST(floor(avg(lp) * 1000000 + 0.5) AS BIGINT)
              |    AS logprob_e6
              |FROM p JOIN lm ON p.prev = lm.prev AND p.w = lm.w
              |GROUP BY p.doc_id
              |ORDER BY doc_id""".stripMargin)),

    // Interpolated Kneser-Ney bigram scoring — the smoothing step up
    // from d37's Jelinek-Mercer mix: discounted bigram mass is
    // redistributed by CONTINUATION probability (distinct contexts a
    // word follows / total bigram types) instead of raw unigram
    // frequency, so bursty words stop inflating unseen-transition
    // scores. Same TextAnalysis.lmScore (token, logprob) contract —
    // a fourth model through the d19/d30/d37 plug point with zero
    // operator changes. All four count statistics (c2, c1, N1+(v.),
    // N1+(.w)) are integer-exact in both engines; the single ln()
    // rides the identical association (see TextAnalysis
    // .kneserNeyBigramLm), and comparison is on the e6 grid. The
    // pair construction, KN CTE chain and Spark scoring chain are
    // SHARED with d78 (bigramPairs/knLmCtes/knScored) so the two
    // cards cannot diverge from one model.
    Q("d77_kneser_ney",
      (s, d) => knScored(s, d).orderBy("doc_id"),
      Some(s"""WITH $bigramPairsCte,
              |$knLmCtes
              |SELECT p.doc_id, count(*) AS n_tokens,
              |  CAST(floor(avg(lp) * 1000000 + 0.5) AS BIGINT)
              |    AS logprob_e6
              |FROM p JOIN lm ON p.prev = lm.prev AND p.w = lm.w
              |GROUP BY p.doc_id
              |ORDER BY doc_id""".stripMargin)),

    // CCNet-style perplexity bucketing (Wenzek et al. 2020): per
    // LANGUAGE, docs split into head/middle/tail terciles by LM
    // score — the curation split that trains on "head", holds
    // "middle", drops "tail". Scoring is the d77 Kneser-Ney model
    // (CCNet uses KenLM; the plug point is identical); the cut is
    // ntile(3) over (logprob DESC, doc_id) — deterministic,
    // SQL-standard remainder semantics, mirrored exactly. Scale
    // note: the per-lang rank window is the EXACT form (CCNet itself
    // sorts per-language score shards); at 100 TB the same split
    // takes d76's mergeable KLL cuts (approximate tercile boundaries,
    // one aggregation pass) and buckets map-side by comparison —
    // the operator contract (doc, lang, score → bucket) is unchanged.
    Q("d78_ccnet_buckets",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val wN = Window.partitionBy("lang")
          .orderBy(col("logprob_e6").desc, col("doc_id"))
        knScored(s, d)
          .join(Tables.documents(s, d).select("doc_id", "lang"),
            "doc_id")
          .withColumn("bucket",
            element_at(array(lit("head"), lit("middle"), lit("tail")),
              ntile(3).over(wN)))
          .select(col("doc_id"), col("lang"), col("logprob_e6"),
            col("bucket"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $bigramPairsCte,
              |$knLmCtes,
              |scored AS (
              |  SELECT p.doc_id,
              |    CAST(floor(avg(lp) * 1000000 + 0.5) AS BIGINT)
              |      AS logprob_e6
              |  FROM p JOIN lm ON p.prev = lm.prev AND p.w = lm.w
              |  GROUP BY p.doc_id
              |)
              |SELECT s.doc_id, d.lang, s.logprob_e6,
              |  (['head', 'middle', 'tail'])[ntile(3) OVER (
              |    PARTITION BY d.lang
              |    ORDER BY s.logprob_e6 DESC, s.doc_id)] AS bucket
              |FROM scored s JOIN documents d ON d.doc_id = s.doc_id
              |ORDER BY s.doc_id""".stripMargin)),

    // Deterministic fixed-k PER-GROUP sample — the eval-slice cut
    // ("5 docs from every source for human review") complementing
    // d14 (stratified FRACTION), d61 (weighted), d65 (global order):
    // rank = the KMV bottom-k rule on the Knuth-mixed id hash, a
    // pure function of the row set, so the slice reproduces across
    // engines, retries and partitionings. The bounded-heap aggregate
    // keeps per-group state at k — a 10⁹-doc source never sorts
    // (the d76/TopKByScore discipline), unlike a row_number window.
    Q("d79_group_sample",
      (s, d) => {
        import graft.functions.TopKByScore.top_k_by_score
        Tables.documents(s, d)
          .select(col("source"), col("doc_id"),
            (col("doc_id") * Sampling.Mixer % Sampling.MixMod).as("h"))
          .groupBy("source")
          .agg(top_k_by_score((-col("h")).cast("double"), col("doc_id"),
            lit(0L), 5).as("tk"))
          .select(col("source"), posexplode(col("tk")).as(Seq("pos", "t")))
          .select(col("source"), (col("pos") + 1).cast("long").as("rank"),
            col("t.cand_id").as("doc_id"))
          .orderBy("source", "rank")
      },
      Some(s"""WITH h AS (
              |  SELECT source, doc_id,
              |    doc_id * ${Sampling.Mixer} % ${Sampling.MixMod} AS h
              |  FROM documents
              |),
              |r AS (
              |  SELECT source, doc_id, row_number() OVER (
              |    PARTITION BY source ORDER BY h, doc_id) AS rank
              |  FROM h
              |)
              |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id
              |FROM r WHERE rank <= 5
              |ORDER BY source, rank""".stripMargin)),

    // CONTRASTIVE training-pair construction — the step that turns a
    // dedup signal into embedding-model training data (SimCSE/E5-
    // style): each verified near-dup pair (d3's MinHash-LSH at
    // Jaccard ≥ 0.8) becomes (anchor, positive); the NEGATIVE is a
    // deterministic draw from the corpus — the Knuth-mixed pair key
    // mod n over the dense doc-id space, skipping forward past the
    // pair itself (≤ 2 skips; 3 consecutive ids can't all collide
    // with a 2-element set) — then anti-joined against the verified
    // near-dup set in both orientations for the ANCHOR and for the
    // POSITIVE, so a drawn negative that is a known duplicate of
    // EITHER side of the pair drops (the false-negative guard;
    // unverified semantic overlap stays, as in any hash-negative
    // pipeline). A pure function of the row set: the
    // same triples reproduce across engines, retries, partitionings.
    Q("d80_contrastive_pairs",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val n = docs.count() // corpus-size scalar (the d37 handoff class)
        // The pair list is read three times (output + both anti-join
        // probes): cut it once, eagerly.
        val pos = Dedup.minhashLshPairs(docs, minJaccard = 0.8)
          .lineageCut
        val withNeg = pos
          .withColumn("n0",
            (col("da") * Sampling.Mixer + col("db"))
              % Sampling.MixMod % n)
          .withColumn("neg_id",
            when(col("n0") =!= col("da") && col("n0") =!= col("db"),
              col("n0"))
              .when((col("n0") + 1) % n =!= col("da")
                && (col("n0") + 1) % n =!= col("db"), (col("n0") + 1) % n)
              .otherwise((col("n0") + 2) % n))
          .select(col("da").as("anchor_id"), col("db").as("pos_id"),
            col("neg_id"), col("jaccard_e6"))
        withNeg
          .join(pos.select(col("da").as("anchor_id"),
            col("db").as("neg_id")), Seq("anchor_id", "neg_id"),
            "left_anti")
          .join(pos.select(col("db").as("anchor_id"),
            col("da").as("neg_id")), Seq("anchor_id", "neg_id"),
            "left_anti")
          .join(pos.select(col("da").as("pos_id"),
            col("db").as("neg_id")), Seq("pos_id", "neg_id"),
            "left_anti")
          .join(pos.select(col("db").as("pos_id"),
            col("da").as("neg_id")), Seq("pos_id", "neg_id"),
            "left_anti")
          .select(col("anchor_id"), col("pos_id"), col("neg_id"),
            col("jaccard_e6"))
          .orderBy("anchor_id", "pos_id")
      },
      Some(s"""WITH ${TextHash.duckToksCte},
              |${TextHash.duckShinglesCte},
              |${TextHash.duckMinHashCte},
              |${TextHash.duckBandsCte},
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
              |  FROM bands a JOIN bands b
              |    ON a.band = b.band AND a.sig = b.sig
              |   AND a.doc_id < b.doc_id
              |),
              |${jaccardCoreSql(
                 """SELECT c.da, c.db, count(*) AS inter
                   |   FROM cand c
                   |   JOIN sh x ON x.doc_id = c.da
                   |   JOIN sh y ON y.doc_id = c.db AND y.s = x.s
                   |   GROUP BY c.da, c.db""".stripMargin)},
              |pos AS (
              |  SELECT da, db,
              |    CAST(floor(j * 1000000 + 0.5) AS BIGINT) AS jaccard_e6
              |  FROM jac WHERE j >= 0.8
              |),
              |nn AS (SELECT count(*) AS n FROM documents),
              |c1 AS (
              |  SELECT da AS anchor_id, db AS pos_id, jaccard_e6,
              |    CASE WHEN n0 <> da AND n0 <> db THEN n0
              |      WHEN (n0 + 1) % n <> da AND (n0 + 1) % n <> db
              |        THEN (n0 + 1) % n
              |      ELSE (n0 + 2) % n END AS neg_id
              |  FROM (
              |    SELECT da, db, jaccard_e6, n,
              |      (da * ${Sampling.Mixer} + db)
              |        % ${Sampling.MixMod} % n AS n0
              |    FROM pos, nn
              |  )
              |)
              |SELECT anchor_id, pos_id, neg_id, jaccard_e6
              |FROM c1 c
              |WHERE NOT EXISTS (
              |  SELECT 1 FROM pos p
              |  WHERE (p.da = c.anchor_id AND p.db = c.neg_id)
              |     OR (p.da = c.neg_id AND p.db = c.anchor_id)
              |     OR (p.da = c.pos_id AND p.db = c.neg_id)
              |     OR (p.da = c.neg_id AND p.db = c.pos_id))
              |ORDER BY anchor_id, pos_id""".stripMargin)),

    // WINNOWING fingerprint card (the MOSS algorithm, Schleimer et
    // al. 2003 — TextAnalysis.winnowing): per sliding window of 4
    // positional 3-gram hashes, select the rightmost minimal hash;
    // the distinct (position, hash) selections are the document's
    // fingerprints — any shared ≥ 6-token run between two docs
    // yields a shared fingerprint hash while an edit perturbs only
    // its own ≤ 4 windows (the local-robustness guarantee d8's
    // whole-doc hash lacks). The card binds gram count, fingerprint
    // count and a mod-P checksum of the fingerprint SET per doc; the
    // oracle recomputes the identical packed-min selection with
    // 1-based list arithmetic. All integer-exact.
    Q("d81_winnowing",
      (s, d) => TextAnalysis
        .winnowing(Tables.documents(s, d), k = 3, w = 4)
        .orderBy("doc_id"),
      Some(s"""WITH ${TextHash.duckToksCte},
              |gh AS (
              |  SELECT doc_id,
              |    CASE WHEN len(th) >= 3 THEN
              |      list_transform(range(1, len(th) - 1), j ->
              |        (((th[j] * 31 + th[j+1]) % $P) * 31 + th[j+2])
              |          % $P)
              |    ELSE [] END AS gh
              |  FROM toks
              |),
              |packs AS (
              |  SELECT doc_id, len(gh) AS ng,
              |    CASE WHEN len(gh) >= 4 THEN
              |      list_transform(range(0, len(gh) - 3), i ->
              |        list_min(list_transform(range(0, 4), o ->
              |          gh[i + o + 1] * 4 + (3 - o))))
              |    ELSE [] END AS packs
              |  FROM gh
              |),
              |fps AS (
              |  SELECT doc_id, ng,
              |    list_distinct(list_transform(packs, (p, ii) ->
              |      ((ii - 1) + 3 - p % 4) * $P + p // 4)) AS fps
              |  FROM packs
              |)
              |SELECT doc_id, CAST(ng AS BIGINT) AS n_grams,
              |  CAST(len(fps) AS BIGINT) AS n_fp,
              |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), fps),
              |    (a, x) -> (a + x) % $P) AS BIGINT) AS fp_sum
              |FROM fps
              |ORDER BY doc_id""".stripMargin)),

    // Winnowing-based near-dup PAIR detection (Schleimer et al. §4 —
    // the join d81's fingerprints exist for): candidates share a
    // fingerprint hash (df-capped inverted index, ~2.5× smaller than
    // d2's full shingle index at w=4, with the winnowing guarantee
    // that any shared ≥ 6-token run yields a shared fingerprint),
    // then the SAME exact-Jaccard verify as d2 — d2's schema, d2's
    // threshold, a cheaper candidate stage. OperatorsSpec pins
    // recall ≥ d2 on pairs with a ≥ 6-token shared run.
    Q("d82_winnowing_pairs",
      (s, d) => Dedup
        .winnowingPairs(Tables.documents(s, d), minJaccard = 0.8)
        .orderBy("da", "db"),
      Some(s"""WITH ${TextHash.duckToksCte},
              |${TextHash.duckShinglesCte},
              |gh AS (
              |  SELECT doc_id,
              |    CASE WHEN len(th) >= 3 THEN
              |      list_transform(range(1, len(th) - 1), j ->
              |        (((th[j] * 31 + th[j+1]) % $P) * 31 + th[j+2])
              |          % $P)
              |    ELSE [] END AS gh
              |  FROM toks
              |),
              |packs AS (
              |  SELECT doc_id,
              |    CASE WHEN len(gh) >= 4 THEN
              |      list_transform(range(0, len(gh) - 3), i ->
              |        list_min(list_transform(range(0, 4), o ->
              |          gh[i + o + 1] * 4 + (3 - o))))
              |    ELSE [] END AS packs
              |  FROM gh
              |),
              |wfp AS (
              |  SELECT DISTINCT doc_id, f % $P AS h FROM (
              |    SELECT doc_id, unnest(list_distinct(
              |      list_transform(packs, (p, ii) ->
              |        ((ii - 1) + 3 - p % 4) * $P + p // 4))) AS f
              |    FROM packs
              |  )
              |),
              |rare AS (
              |  SELECT h FROM wfp GROUP BY h
              |  HAVING count(*) <= ${Dedup.DefaultMaxFpDf}
              |),
              |wr AS (SELECT w.doc_id, w.h FROM wfp w JOIN rare USING (h)),
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
              |  FROM wr a JOIN wr b
              |    ON a.h = b.h AND a.doc_id < b.doc_id
              |),
              |${jaccardTailSql(
                 """SELECT c.da, c.db, count(*) AS inter
                   |   FROM cand c
                   |   JOIN sh x ON x.doc_id = c.da
                   |   JOIN sh y ON y.doc_id = c.db AND y.s = x.s
                   |   GROUP BY c.da, c.db""".stripMargin)}""".stripMargin)),

    // Per-source boilerplate vocabulary: tokens whose DOCUMENT
    // frequency within a source crosses 50% — template/navigation
    // vocabulary that inflates every quality signal computed over
    // that source (a crawl's "home | login | search" chrome). The
    // cutoff is the integer cross-product df·2 ≥ n_docs (no float
    // boundary); the fixed-point ratio ships as the audit value.
    // One distinct-token explode + two partial-agg exchanges.
    Q("d71_boiler_vocab",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .filter(length(trim(col("text"))) > 0)
        val dt = docs.select(col("source"), col("doc_id"),
          explode(array_distinct(expr(TextHash.sparkTokens("text"))))
            .as("token"))
        val dfT = dt.groupBy("source", "token")
          .agg(count(lit(1)).as("df"))
        val nd = docs.groupBy("source")
          .agg(count(lit(1)).as("n_docs"))
        dfT.join(nd, "source")
          .filter(col("df") * 2 >= col("n_docs"))
          .select(col("source"), col("token"), col("df"), col("n_docs"),
            floor(col("df").cast("double") / col("n_docs") * 10000
              + 0.5).cast("long").as("ratio_fp"))
          .orderBy("source", "token")
      },
      Some(s"""WITH dt AS (
              |  SELECT source, doc_id,
              |    unnest(list_distinct(${TextHash.duckTokens("text")}))
              |      AS token
              |  FROM documents WHERE length(trim(text)) > 0
              |),
              |dft AS (
              |  SELECT source, token, count(*) AS df FROM dt GROUP BY 1, 2
              |),
              |nd AS (
              |  SELECT source, count(*) AS n_docs FROM documents
              |  WHERE length(trim(text)) > 0 GROUP BY 1
              |)
              |SELECT source, token, df, n_docs,
              |  CAST(floor(CAST(df AS DOUBLE) / n_docs * 10000 + 0.5)
              |    AS BIGINT) AS ratio_fp
              |FROM dft JOIN nd USING (source)
              |WHERE df * 2 >= n_docs
              |ORDER BY source, token""".stripMargin)),

    // Collocation mining: top bigrams by LIFT — P(xy)/(P(x)·P(y)),
    // the phrase detector feeding tokenizer vocab decisions ("new
    // york" should be one token) and boilerplate spotting. Counts
    // are the same distributed partial-aggs as d37's bigram LM; the
    // two corpus totals are one-row driver scalars (the documented
    // bounded handoff — same as d37's n). The top-20 cutoff orders
    // on exact integers (count desc, then the pair) so the boundary
    // never depends on float ties; lift ships as the audit value,
    // fixed-pointed with divide-before-multiply parity (each count
    // normalized by its own total BEFORE the cross ratio).
    Q("d69_collocations",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val tk = docs.select(
          explode(expr(TextHash.sparkTokens("text"))).as("token"))
        val u = tk.count() // corpus unigram total (driver scalar)
        val pairs = docs
          .withColumn("_t", expr(TextHash.sparkTokens("text")))
          .filter(size(col("_t")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, size(_t) - 1), i -> named_struct(" +
              "'prev', element_at(_t, i), 'w', element_at(_t, i + 1)))"))
            .as("p"))
          .select(col("p.prev").as("prev"), col("p.w").as("w"))
        val t = pairs.count() // corpus bigram total (driver scalar)
        val uni = tk.groupBy("token").agg(count(lit(1)).as("cw"))
        val c2 = pairs.groupBy("prev", "w").agg(count(lit(1)).as("n_pair"))
          .filter(col("n_pair") >= 5)
        val lift = (col("n_pair").cast("double") / lit(t.toDouble)) /
          ((col("cp").cast("double") / lit(u.toDouble)) *
            (col("cw").cast("double") / lit(u.toDouble)))
        c2.join(uni.select(col("token").as("prev"), col("cw").as("cp")),
            "prev")
          .join(uni.select(col("token").as("w"), col("cw")), "w")
          .select(col("prev"), col("w"), col("n_pair"),
            floor(lift * 10000 + 0.5).cast("long").as("lift_fp"))
          .orderBy(col("n_pair").desc, col("prev"), col("w"))
          .limit(20)
      },
      Some(s"""WITH tk AS (
              |  SELECT unnest(${TextHash.duckTokens("text")}) AS token
              |  FROM documents
              |),
              |p AS (
              |  SELECT unnest(tks[1:len(tks) - 1]) AS prev,
              |    unnest(tks[2:len(tks)]) AS w
              |  FROM (SELECT ${TextHash.duckTokens("text")} AS tks
              |        FROM documents)
              |  WHERE len(tks) >= 2
              |),
              |uni AS (SELECT token, count(*) AS cw FROM tk GROUP BY 1),
              |c2 AS (
              |  SELECT prev, w, count(*) AS n_pair FROM p GROUP BY 1, 2
              |  HAVING count(*) >= 5
              |)
              |SELECT c2.prev, c2.w, n_pair,
              |  CAST(floor(
              |    (CAST(n_pair AS DOUBLE)
              |       / (SELECT CAST(count(*) AS DOUBLE) FROM p))
              |    / ((CAST(up.cw AS DOUBLE)
              |          / (SELECT CAST(count(*) AS DOUBLE) FROM tk))
              |       * (CAST(uw.cw AS DOUBLE)
              |          / (SELECT CAST(count(*) AS DOUBLE) FROM tk)))
              |    * 10000 + 0.5) AS BIGINT) AS lift_fp
              |FROM c2
              |JOIN uni up ON up.token = c2.prev
              |JOIN uni uw ON uw.token = c2.w
              |ORDER BY n_pair DESC, c2.prev, c2.w
              |LIMIT 20""".stripMargin)),

    // Deterministic hash-sample quantiles — the QUANTILE estimator
    // completing the sketch family (d27 KMV = cardinality, d18
    // Misra-Gries = frequency, d32 CMS = point counts, q43 Bloom =
    // membership): per-stratum p10/p50/p90 of a value column from
    // the k docs with the SMALLEST mixed hash — a uniform random
    // sample that is order-independent, mergeable, and bit-identical
    // in any engine (the property t-digest/GK can't give: their
    // state depends on merge order). Sampling error ~1/√k on the
    // rank; the sample is the d27 KMV bottom-k, reused for ranks.
    // Scale shape: the bottom-k rides the bounded-heap
    // `top_k_by_score` partial aggregate (score = −hash) — ONE
    // exchange on the stratum key shipping ≤ partitions×k rows, and
    // the percentile pick is a positional index into the ≤k-value
    // sorted sample — O(k) state per group by construction, never
    // the row-linear percentile buffer d24/q15 banned.
    Q("d38_sample_quantiles",
      (s, d) => Sampling.hashSampleQuantiles(
          Tables.documents(s, d).select("lang", "doc_id", "n_chars"),
          "lang", "doc_id", "n_chars", k = 256, outSuffix = "chars")
        .orderBy("lang"),
      Some(s"""WITH r AS (
              |  SELECT lang, n_chars,
              |    row_number() OVER (PARTITION BY lang
              |      ORDER BY doc_id * ${Sampling.Mixer}
              |        % ${Sampling.MixMod}, doc_id) AS rn
              |  FROM documents
              |),
              |g AS (SELECT lang, count(*) AS n_docs
              |      FROM documents GROUP BY lang),
              |o AS (
              |  SELECT lang, list_sort(list(n_chars)) AS v
              |  FROM r WHERE rn <= 256 GROUP BY lang
              |)
              |SELECT o.lang, g.n_docs,
              |  CAST(len(v) AS BIGINT) AS n_sample,
              |  v[CAST(ceil(0.1 * len(v)) AS BIGINT)] AS p10_chars,
              |  v[CAST(ceil(0.5 * len(v)) AS BIGINT)] AS p50_chars,
              |  v[CAST(ceil(0.9 * len(v)) AS BIGINT)] AS p90_chars
              |FROM o JOIN g ON g.lang = o.lang
              |ORDER BY o.lang""".stripMargin)),

    // Unicode canonicalization (functions.TextCanon): NFC compose +
    // nbsp-map + zero-width strip + lowercase + whitespace collapse
    // as ONE codegen'd kernel pass — the normalization boilerplate
    // at the head of every curation pipeline (Spark has no built-in
    // NFC at all; the usual 5-deep regexp_replace chain interprets
    // per call). The corpus is pure ASCII, so the dirt is PLANTED
    // identically in both engines (the m-family's planted-bytes
    // pattern): an NBSP prefix, every E carrying a combining acute
    // (U+0301 — NFC must compose it to É, lowercased é), space runs
    // with tabs, a zero-width-space + trailing-blank suffix. Oracle
    // = DuckDB's nfc_normalize + lower + replace/regexp chain; the
    // md5 pins every byte of the canon output.
    Q("d39_text_canon",
      (s, d) => {
        import graft.functions.TextCanon.text_canon
        // Dirt chars via escapes: \u00A0 nbsp, \u0301 combining
        // acute (DECOMPOSED on purpose - NFC must do the composing),
        // \u200B zero-width space.
        val dirty = expr("concat('\u00A0', replace(replace(upper(text)," +
          " 'E', 'E\u0301'), ' ', ' \t '), '\u200B', '  ')")
        Tables.documents(s, d)
          .select(col("doc_id"), dirty.as("dirty"))
          .select(col("doc_id"),
            length(col("dirty")).cast("long").as("n_dirty"),
            text_canon(col("dirty")).as("canon"))
          .select(col("doc_id"), col("n_dirty"),
            length(col("canon")).cast("long").as("n_canon"),
            md5(col("canon")).as("canon_md5"),
            substring(col("canon"), 1, 32).as("canon_head"))
          .orderBy("doc_id")
      },
      Some("""WITH dd AS (
             |  SELECT doc_id,
             |    chr(160) ||
             |    replace(replace(upper(text), 'E', 'E' || chr(769)),
             |            ' ', ' ' || chr(9) || ' ') ||
             |    chr(8203) || '  ' AS dirty
             |  FROM documents
             |),
             |c AS (
             |  SELECT doc_id, dirty,
             |    trim(regexp_replace(
             |      replace(replace(lower(nfc_normalize(dirty)),
             |                      chr(160), ' '),
             |              chr(8203), ''),
             |      '\s+', ' ', 'g')) AS canon
             |  FROM dd
             |)
             |SELECT doc_id,
             |  CAST(len(dirty) AS BIGINT) AS n_dirty,
             |  CAST(len(canon) AS BIGINT) AS n_canon,
             |  md5(canon) AS canon_md5,
             |  substr(canon, 1, 32) AS canon_head
             |FROM c ORDER BY doc_id""".stripMargin)),

    // URL canonicalization + URL-keyed dedup — the crawl-dedup
    // pre-pass that runs BEFORE any text dedup (same page fetched as
    // HTTPS://Host:443/p/x/?b=2&a=1#frag and https://host/p/x?a=1&b=2
    // must collapse): lowercase scheme+host, strip default port,
    // strip trailing path slashes, sort query params, drop the
    // fragment. Deliberately DECLARATIVE — regexp_extract + lower +
    // array_sort + concat compose the whole rule and stay inside
    // whole-stage codegen, so no custom kernel is warranted (the
    // functions-not-UDFs preference cuts both ways; contrast d39,
    // where missing built-in NFC earns one). Messy variants are
    // planted per doc_id arithmetic identically in both engines;
    // 500 raw URLs collapse to 350 canonical groups. Map-side until
    // the canonical-key exchange — the d1 exact-dedup shape.
    Q("d40_url_canon",
      (s, d) => {
        val hosts = array(lit("Docs.Example.COM"), lit("blog.example.org"),
          lit("CDN.Example.com"), lit("news.site.co.uk"),
          lit("a.b.Tracker.NET"), lit("x.spam.biz"), lit("img.ads.co.uk"))
        val url = concat(
          when(col("doc_id") % 2 === 0, lit("HTTPS://"))
            .otherwise(lit("https://")),
          element_at(hosts, (col("doc_id") % 7).cast("int") + 1),
          when(col("doc_id") % 3 === 0, lit(":443")).otherwise(lit("")),
          lit("/p/"), (col("doc_id") % 50).cast("string"),
          when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
          when(col("doc_id") % 2 === 0, lit("?b=2&a=1"))
            .otherwise(lit("?a=1&b=2")),
          when(col("doc_id") % 4 === 0, lit("#frag")).otherwise(lit("")))
        val scheme = lower(regexp_extract(col("url"), "^([A-Za-z]+)://", 1))
        val host =
          lower(regexp_extract(col("url"), "^[A-Za-z]+://([^/:?#]+)", 1))
        val port =
          regexp_extract(col("url"), "^[A-Za-z]+://[^/:?#]+(:[0-9]+)", 1)
        val path =
          regexp_extract(col("url"), "^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
        val query = regexp_extract(col("url"), "\\?([^#]*)", 1)
        val portKept = when(
          (scheme === "https" && port === ":443") ||
            (scheme === "http" && port === ":80"), lit(""))
          .otherwise(port)
        val pathStripped = regexp_replace(path, "/+$", "")
        val pathKept =
          when(pathStripped === "", lit("/")).otherwise(pathStripped)
        val queryKept = when(query === "", lit("")).otherwise(
          concat(lit("?"), array_join(array_sort(split(query, "&")), "&")))
        Tables.documents(s, d)
          .select(col("doc_id"), url.as("url"))
          .select(col("doc_id"),
            concat(scheme, lit("://"), host, portKept, pathKept, queryKept)
              .as("url_canon"))
          .groupBy("url_canon")
          .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc_id"))
          .orderBy("url_canon")
      },
      Some("""WITH u AS (
             |  SELECT doc_id,
             |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://'
             |          ELSE 'https://' END) ||
             |    (['Docs.Example.COM', 'blog.example.org',
             |      'CDN.Example.com', 'news.site.co.uk',
             |      'a.b.Tracker.NET', 'x.spam.biz', 'img.ads.co.uk'])
             |      [CAST(doc_id % 7 AS INT) + 1] ||
             |    (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END) ||
             |    '/p/' || (doc_id % 50) ||
             |    (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
             |    (CASE WHEN doc_id % 2 = 0 THEN '?b=2&a=1'
             |          ELSE '?a=1&b=2' END) ||
             |    (CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END)
             |      AS url
             |  FROM documents
             |),
             |c AS (
             |  SELECT doc_id,
             |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
             |    lower(regexp_extract(url, '^[A-Za-z]+://([^/:?#]+)', 1))
             |      AS host,
             |    regexp_extract(url, '^[A-Za-z]+://[^/:?#]+(:[0-9]+)', 1)
             |      AS port,
             |    regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1)
             |      AS path,
             |    regexp_extract(url, '\?([^#]*)', 1) AS query
             |  FROM u
             |),
             |k AS (
             |  SELECT doc_id,
             |    scheme || '://' || host ||
             |    (CASE WHEN (scheme = 'https' AND port = ':443')
             |            OR (scheme = 'http' AND port = ':80')
             |          THEN '' ELSE port END) ||
             |    (CASE WHEN regexp_replace(path, '/+$', '') = ''
             |          THEN '/' ELSE regexp_replace(path, '/+$', '') END) ||
             |    (CASE WHEN query = '' THEN ''
             |          ELSE '?' || list_aggregate(
             |            list_sort(string_split(query, '&')),
             |            'string_agg', '&') END) AS url_canon
             |  FROM c
             |)
             |SELECT url_canon, count(*) AS n_docs,
             |  min(doc_id) AS min_doc_id
             |FROM k GROUP BY url_canon
             |ORDER BY url_canon""".stripMargin)),

    // KMV sketch ALGEBRA for join planning: estimate the distinct-key
    // overlap |A ∩ B| between a 100 TB fact table and a filtered dim
    // WITHOUT running the join — the cardinality a planner needs to
    // choose broadcast vs shuffle vs bloom-prune (q43). Each side
    // reduces to its bottom-k mixed-hash sketch; the UNION sketch is
    // computed FROM THE TWO SKETCHES (bottom-k(bottom-k(A) ∪
    // bottom-k(B)) = bottom-k(A ∪ B) — the merge property that makes
    // KMV composable without re-reading either side), and
    // inclusion-exclusion gives the intersection: est(A) + est(B) −
    // est(A ∪ B). Deterministic (a set function of the keys), so
    // both engines produce the IDENTICAL estimate — the composable
    // planning statistic HLL can't give. The exact overlap rides
    // along as the verification column. Scale shape: one distinct
    // exchange + TakeOrderedAndProject per side; the merge touches
    // 2k rows.
    Q("d41_kmv_join_est",
      (s, d) => {
        val k = 256
        def sketch(df: org.apache.spark.sql.DataFrame, keyCol: String) =
          df.select((col(keyCol) * Sampling.Mixer % Sampling.MixMod)
              .as("h"))
            .distinct().orderBy("h").limit(k)
        val a = sketch(Tables.lineitem(s, d), "l_orderkey")
        val b = sketch(Tables.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT"), "o_orderkey")
        val u = a.union(b).distinct().orderBy("h").limit(k)
        def scal(df: org.apache.spark.sql.DataFrame, p: String) =
          df.agg(count(lit(1)).as("n" + p), max("h").as("kth" + p))
        def est(p: String) =
          when(col("n" + p) < k, col("n" + p))
            .otherwise(floor(lit((k - 1).toDouble) * Sampling.MixMod /
              col("kth" + p) + 0.5))
            .cast("long")
        val exact = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("jk")).distinct()
          .join(Tables.orders(s, d)
            .filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_orderkey").as("jk")).distinct(), "jk")
          .agg(count(lit(1)).as("exact_inter"))
        scal(a, "_a").crossJoin(scal(b, "_b")).crossJoin(scal(u, "_u"))
          .crossJoin(exact)
          .select(est("_a").as("est_a"), est("_b").as("est_b"),
            est("_u").as("est_union"),
            greatest(lit(0L), est("_a") + est("_b") - est("_u"))
              .as("est_inter"),
            col("exact_inter"))
      },
      Some(s"""WITH ha AS (
              |  SELECT DISTINCT l_orderkey * ${Sampling.Mixer}
              |    % ${Sampling.MixMod} AS h FROM lineitem
              |),
              |hb AS (
              |  SELECT DISTINCT o_orderkey * ${Sampling.Mixer}
              |    % ${Sampling.MixMod} AS h FROM orders
              |  WHERE o_orderpriority = '1-URGENT'
              |),
              |ka AS (SELECT h FROM ha ORDER BY h LIMIT 256),
              |kb AS (SELECT h FROM hb ORDER BY h LIMIT 256),
              |ku AS (SELECT DISTINCT h FROM
              |       (SELECT h FROM ka UNION ALL SELECT h FROM kb)
              |       ORDER BY h LIMIT 256),
              |es AS (
              |  SELECT
              |    (SELECT CAST(CASE WHEN count(*) < 256 THEN count(*)
              |      ELSE floor(255.0 * ${Sampling.MixMod} / max(h) + 0.5)
              |      END AS BIGINT) FROM ka) AS est_a,
              |    (SELECT CAST(CASE WHEN count(*) < 256 THEN count(*)
              |      ELSE floor(255.0 * ${Sampling.MixMod} / max(h) + 0.5)
              |      END AS BIGINT) FROM kb) AS est_b,
              |    (SELECT CAST(CASE WHEN count(*) < 256 THEN count(*)
              |      ELSE floor(255.0 * ${Sampling.MixMod} / max(h) + 0.5)
              |      END AS BIGINT) FROM ku) AS est_union
              |),
              |x AS (
              |  SELECT count(*) AS exact_inter FROM
              |    (SELECT DISTINCT l_orderkey AS jk FROM lineitem) a
              |    JOIN (SELECT DISTINCT o_orderkey AS jk FROM orders
              |          WHERE o_orderpriority = '1-URGENT') b
              |    USING (jk)
              |)
              |SELECT est_a, est_b, est_union,
              |  greatest(0, est_a + est_b - est_union) AS est_inter,
              |  exact_inter
              |FROM es, x""".stripMargin)),

    // Product-quantization ANN (ADC): the memory/compute-compression
    // axis of the ANN scale story, complementing IVF's partition
    // pruning — 4 subspace codebooks (16 dims × 8 codes, Lloyd via
    // the SAME KMeans trainer) encode every vector as 4 small codes;
    // query scoring is ASYMMETRIC DISTANCE: dot(q_m, codebook_m[c])
    // precomputed ONCE per (query, subspace, code) into a lookup
    // table — queries×4×8 scalars, the e7 bounded-handoff class —
    // so the per-candidate score is 4 MAP LOOKUPS + 3 adds, never a
    // 64-dim product, and the stored corpus is 4 longs per vector
    // instead of 64 doubles (the compression that puts a billion
    // vectors in cluster memory). Encoding is the compiled
    // nearest-centroid kernel per subspace (map-side, zero shuffle);
    // ranking rides the bounded heap. Approximate by construction;
    // the oracle mirrors codebooks, codes, LUT and ranking exactly.
    Q("e11_pq_topk",
      (s, d) => {
        import graft.functions.TopKByScore.top_k_by_score
        pqAdcScores(s, d)
          .groupBy("query_id")
          .agg(top_k_by_score(col("adc"), col("vec_id"), lit(0L), 5)
            .as("tk"))
          .select(col("query_id"),
            posexplode(col("tk")).as(Seq("pos", "t")))
          .select(col("query_id"),
            (col("pos") + 1).cast("long").as("rank"),
            col("t.cand_id").as("cand_id"),
            round(col("t.sim"), 6).as("adc"))
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH $pqScoreCtes,
              |r AS (
              |  SELECT query_id, cand_id, adc, row_number() OVER (
              |    PARTITION BY query_id ORDER BY adc DESC, cand_id)
              |    AS rank
              |  FROM sc
              |)
              |SELECT query_id, CAST(rank AS BIGINT) AS rank, cand_id,
              |  round(adc, 6) AS adc
              |FROM r WHERE rank <= 5
              |ORDER BY query_id, rank""".stripMargin)),

    // TWO-STAGE retrieve-then-rerank — the most common production
    // retrieval composition and the reason PQ compression is safe to
    // deploy: stage 1 retrieves a WIDE candidate set (top-20) by
    // cheap ADC score over the compressed codes, stage 2 gathers
    // ONLY those candidates' float vectors by id and reranks with
    // exact cosine to the final top-5 — full precision paid on 20
    // rows per query, never the corpus. Scale shape: both stages
    // rank through the bounded heap; the rerank gather joins a
    // broadcast O(queries×20) id list against the corpus; the exact
    // kernel runs on gathered rows only.
    Q("e27_pq_rerank",
      (s, d) => {
        import graft.functions.CosineSimilarity.cosine_sim
        import graft.functions.TopKByScore.top_k_by_score
        val cands = pqAdcScores(s, d)
          .groupBy("query_id")
          .agg(top_k_by_score(col("adc"), col("vec_id"), lit(0L), 20)
            .as("tk"))
          .select(col("query_id"), explode(col("tk")).as("t"))
          .select(col("query_id"), col("t.cand_id").as("cand_id"))
        val emb = Tables.embeddings(s, d).select(col("vec_id"),
          expr("transform(embedding, v -> cast(v as double))").as("e"))
        val q = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("e").as("qe"))
        broadcast(cands)
          .join(emb.withColumnRenamed("vec_id", "cand_id"), "cand_id")
          .join(broadcast(q), "query_id")
          .withColumn("sim", cosine_sim(col("qe"), col("e")))
          .groupBy("query_id")
          .agg(top_k_by_score(col("sim"), col("cand_id"), lit(0L), 5)
            .as("tk"))
          .select(col("query_id"),
            posexplode(col("tk")).as(Seq("pos", "t")))
          .select(col("query_id"),
            (col("pos") + 1).cast("long").as("rank"),
            col("t.cand_id").as("cand_id"),
            round(col("t.sim"), 6).as("sim"))
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH $pqScoreCtes,
              |cand AS (
              |  SELECT query_id, cand_id FROM (
              |    SELECT query_id, cand_id, row_number() OVER (
              |      PARTITION BY query_id ORDER BY adc DESC, cand_id)
              |      AS rank
              |    FROM sc
              |  ) WHERE rank <= 20
              |),
              |ed AS (
              |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
              |  FROM embeddings
              |),
              |qx AS (SELECT vec_id AS query_id, emb AS qe FROM ed
              |       WHERE vec_id < 10),
              |rr AS (
              |  SELECT c.query_id, c.cand_id,
              |    ${TextHash.duckCosine("q.qe", "v.emb", 64)} AS sim
              |  FROM cand c
              |  JOIN qx q ON q.query_id = c.query_id
              |  JOIN ed v ON v.vec_id = c.cand_id
              |),
              |r AS (
              |  SELECT query_id, cand_id, sim, row_number() OVER (
              |    PARTITION BY query_id ORDER BY sim DESC, cand_id)
              |    AS rank
              |  FROM rr
              |)
              |SELECT query_id, CAST(rank AS BIGINT) AS rank, cand_id,
              |  round(sim, 6) AS sim
              |FROM r WHERE rank <= 5
              |ORDER BY query_id, rank""".stripMargin)),

    // PQ-GUIDED graph walk + exact rerank (e49 = the walk, e50 = its
    // recall gate): the production DiskANN composition — e25 walks
    // the graph with FLOAT vectors, e27 reranks a FLAT ADC scan;
    // this walks the graph touching ONLY compressed codes (each
    // candidate scored as cosine vs its PQ reconstruction — exactly
    // ADC under the cosine metric) and pays full precision on the
    // final 16-beam alone. At 100 TB the float corpus lives on disk:
    // navigation cost is what decides feasibility, and it drops to
    // the 32-byte code per visited node. Deterministic everywhere
    // ((sim DESC, cand_id) at every rank), so the whole composition
    // is SQL-oracle-checked, not just sampled.
    Q("e49_pq_nav",
      (s, d) => pqNavTop4(s, d).orderBy("query_id", "rank"),
      Some(s"""WITH $trainedKnnCtes,
              |$pqScoreCtes,
              |$pqReconCte,
              |${beamWalkCtes(graphK = 16, rounds = 4, beamWidth = 16,
                 candTable = "rc")},
              |rr AS (
              |  SELECT b.query_id, b.cand_id,
              |    ${TextHash.duckCosine("q.qe", "v.emb", 64)} AS sim
              |  FROM bfinal b
              |  JOIN q ON q.query_id = b.query_id
              |  JOIN e v ON v.vec_id = b.cand_id
              |)
              |SELECT query_id, CAST(rn AS BIGINT) AS rank, cand_id,
              |  round(sim, 6) AS sim
              |FROM (
              |  SELECT rr.*, row_number() OVER (PARTITION BY query_id
              |    ORDER BY sim DESC, cand_id) AS rn
              |  FROM rr
              |)
              |WHERE rn <= 4
              |ORDER BY query_id, rank""".stripMargin)),

    // Recall gate for the PQ-guided walk (the e13/e18/e22/e26
    // discipline: every approximate path measures itself against the
    // float brute force): recall@4 of e49's reranked output. The
    // number that decides whether navigating on 32-byte codes is
    // safe for this corpus.
    Q("e50_pq_nav_recall",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val qs = emb.filter(col("vec_id") < 10)
        val pq = pqNavTop4(s, d).select("query_id", "cand_id")
        recallCard(emb, qs, k = 4, pq)
      },
      Some(s"""WITH $trainedKnnCtes,
              |$pqScoreCtes,
              |$pqReconCte,
              |${beamWalkCtes(graphK = 16, rounds = 4, beamWidth = 16,
                 candTable = "rc")},
              |w4 AS (
              |  SELECT query_id, cand_id FROM (
              |    SELECT b.query_id, b.cand_id, row_number() OVER (
              |      PARTITION BY b.query_id ORDER BY
              |        ${TextHash.duckCosine("q.qe", "v.emb", 64)} DESC,
              |        b.cand_id) AS rn
              |    FROM bfinal b
              |    JOIN q ON q.query_id = b.query_id
              |    JOIN e v ON v.vec_id = b.cand_id
              |  ) WHERE rn <= 4
              |),
              |${exactKnnCtes(4)},
              |${recallTailSql("w4", k = 4)}""".stripMargin)),

    // Rerank-DEPTH tuning curve for the e27 two-stage retriever:
    // recall@4 as a function of how many ADC candidates the exact
    // stage rescores (R ∈ {5,10,20,40}). Because the rerank orders
    // by TRUE cosine, a ground-truth neighbor lands in the final
    // top-4 iff it survives the ADC cut — so the curve is the
    // membership count |exact-top4 ∩ ADC-top-R|, computed from ONE
    // ADC ranking pass (bounded heap, rank ≤ 40) and ONE exact
    // ground-truth pass, no per-depth rescan. The e36 nprobe curve's
    // axis for the OTHER knob a deployed index tunes.
    Q("e40_rerank_curve",
      (s, d) => {
        import graft.functions.TopKByScore.top_k_by_score
        val emb = Tables.embeddings(s, d)
        val qs = emb.filter(col("vec_id") < 10)
        val exact4 = Similarity.bruteForceTopK(emb, qs, k = 4)
          .select(col("query_id"), col("cand_id"))
        val adc = pqAdcScores(s, d)
          .groupBy("query_id")
          .agg(top_k_by_score(col("adc"), col("vec_id"), lit(0L), 40)
            .as("tk"))
          .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "t")))
          .select(col("query_id"), col("t.cand_id").as("cand_id"),
            (col("pos") + 1).cast("long").as("adc_rank"))
        exact4.join(adc, Seq("query_id", "cand_id"), "left")
          .select(explode(expr("array(5L, 10L, 20L, 40L)")).as("depth"),
            col("adc_rank"))
          .groupBy("depth")
          .agg(sum(when(col("adc_rank") <= col("depth"), 1L)
            .otherwise(0L)).as("n_hits"))
          .select(col("depth"), col("n_hits"),
            (col("n_hits") * 250).as("recall_e4"))
          .orderBy("depth")
      },
      Some(s"""WITH $pqScoreCtes,
              |$probeCtes,
              |${exactKnnCtes(4, name = "exact4")},
              |ar AS (
              |  SELECT query_id, cand_id, row_number() OVER (
              |    PARTITION BY query_id ORDER BY adc DESC, cand_id)
              |    AS adc_rank
              |  FROM sc
              |),
              |j AS (
              |  SELECT e.query_id, e.cand_id, ar.adc_rank
              |  FROM exact4 e LEFT JOIN ar USING (query_id, cand_id)
              |)
              |SELECT CAST(dp.depth AS BIGINT) AS depth,
              |  CAST(sum(CASE WHEN adc_rank <= dp.depth
              |    THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
              |  CAST(sum(CASE WHEN adc_rank <= dp.depth
              |    THEN 1 ELSE 0 END) * 250 AS BIGINT) AS recall_e4
              |FROM (SELECT unnest([5, 10, 20, 40]) AS depth) dp, j
              |GROUP BY dp.depth ORDER BY depth""".stripMargin)),

    // FILTERED vector search — the production retrieval shape
    // (metadata predicate + ANN in one query): top-5 neighbors among
    // candidates with an EVEN label only. The predicate applies
    // BEFORE scoring — pre-filtering keeps the result exactly k
    // (post-filtering an unfiltered top-k silently returns fewer —
    // the classic filtered-ANN recall bug); on the scan side the
    // filter pushes into the parquet read, so excluded rows never
    // reach the cosine kernel.
    Q("e23_filtered_ann",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.bruteForceTopK(
            emb.filter(col("label") % 2 === 0),
            emb.filter(col("vec_id") < 10), k = 5)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("cand_id"), col("sim"))
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH e AS (
              |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
              |  FROM embeddings
              |),
              |q AS (SELECT * FROM e WHERE vec_id < 10),
              |scored AS (
              |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              |    ${TextHash.duckCosine("q.emb", "c.emb", 64)} AS sim
              |  FROM q JOIN e c ON c.vec_id <> q.vec_id
              |  WHERE c.label % 2 = 0
              |),
              |r AS (
              |  SELECT query_id, cand_id, sim,
              |    row_number() OVER (
              |      PARTITION BY query_id ORDER BY sim DESC, cand_id)
              |      AS rank
              |  FROM scored
              |)
              |SELECT query_id, rank, cand_id, round(sim, 6) AS sim
              |FROM r WHERE rank <= 5
              |ORDER BY query_id, rank""".stripMargin)),

    // FILTERED search composed with the IVF probe path — production
    // filtered retrieval (e23 proves the semantics on the brute-force
    // scan; this is the shape a real index serves): routing uses the
    // FULL corpus's centroids (the index is built once, filters vary
    // per query), the metadata predicate (vec_id % 3 = 0 — "only
    // shard-0 sources") applies INSIDE the routed cell scan — below
    // the cell join, before the cosine kernel — and the bounded heap
    // still returns exactly k eligible candidates per query. Scale
    // shape: centroid + query broadcasts, corpus never shuffles,
    // excluded rows never reach the scoring kernel (plan-pinned:
    // filter below the join, no window over candidates).
    Q("e24_filtered_ivf",
      (s, d) => Similarity.ivfProbeTopK(
          Tables.embeddings(s, d),
          Tables.embeddings(s, d).filter(col("vec_id") < 10),
          "label", k = 5, nprobe = 2,
          candidatePred = Some(col("vec_id") % 3 === 0))
        .select(col("query_id"), col("label"),
          col("rank").cast("long").as("rank"), col("cand_id"), col("sim"))
        .orderBy("query_id", "rank"),
      Some(ivfProbeSql(nprobe = 2, candPred = Some("e.vec_id % 3 = 0")))),

    // PQ-recall EVALUATION (e13/e18's measurement for the PQ axis):
    // per probe, recall@5 of ADC-ranked product-quantization search
    // (e11) against the float brute-force ground truth (e1) — the
    // number that decides whether 4-code compression is safe for a
    // corpus. Probe universe left-joined so a zero-hit query
    // surfaces as 0, not a missing row.
    // Recall gate for the GRAPH-WALK axis (the e13/e18/e22 pattern:
    // every approximate search path gets an oracle-checked recall
    // measurement): recall@4 of e25's final beam against the float
    // brute-force ground truth, per probe query. Probe universe
    // left-joined so a zero-hit query surfaces as 0, not a missing
    // row.
    Q("e26_graph_recall",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val qs = emb.filter(col("vec_id") < 10)
        val tc = Similarity.trainedCells(emb)
        val cents = Similarity.centroidRows(tc, "cell")
        val walk = Similarity.graphBeamSearch(emb, qs,
            Similarity.knnGraphProbed(tc, "cell", k = 16, nprobe = 2,
                sharedCents = Some(cents))
              .select(col("vec_id"), col("nbr_id")),
            Similarity.cellMedoids(tc, "cell", Some(cents)),
            beamWidth = 16, rounds = 4)
          .filter(col("rank") <= 4)
          .select(col("query_id"), col("cand_id"))
        recallCard(emb, qs, k = 4, walk)
      },
      Some {
        s"""WITH $trainedKnnCtes,
           |${beamWalkCtes(graphK = 16, rounds = 4, beamWidth = 16)},
           |${walkTop4Cte()},
           |${exactKnnCtes(4)},
           |${recallTailSql("w4", k = 4)}""".stripMargin
      }),

    Q("e22_pq_recall",
      (s, d) => {
        import graft.functions.TopKByScore.top_k_by_score
        val emb = Tables.embeddings(s, d)
        val qs = emb.filter(col("vec_id") < 10)
        val pq = pqAdcScores(s, d)
          .groupBy("query_id")
          .agg(top_k_by_score(col("adc"), col("vec_id"), lit(0L), 5)
            .as("tk"))
          .select(col("query_id"), explode(col("tk")).as("t"))
          .select(col("query_id"), col("t.cand_id").as("cand_id"))
        recallCard(emb, qs, k = 5, pq)
      },
      Some(s"""WITH $pqScoreCtes,
              |$probeCtes,
              |${exactKnnCtes(5)},
              |pq0 AS (
              |  SELECT query_id, cand_id, row_number() OVER (
              |    PARTITION BY query_id ORDER BY adc DESC, cand_id)
              |    AS rank
              |  FROM sc
              |),
              |pq5 AS (SELECT query_id, cand_id FROM pq0 WHERE rank <= 5),
              |${recallTailSql("pq5", k = 5)}""".stripMargin)),

    // IVF + PQ — THE production ANN combination (the composition the
    // e-family builds toward: e4 routes, e11 codes; this does both):
    // a coarse quantizer routes each query to its nearest cell
    // (nprobe=1, bounded row_number over the broadcast label-centroid
    // table — the e17 routing), then candidates are scored by PQ
    // asymmetric distance (4×16-dim subspace codebooks, per-query
    // driver-built LUT — the e11 machinery) WITHIN the routed cell
    // only. The corpus is PQ-coded once map-side by the compiled
    // nearest-centroid kernel and never shuffled; memory per vector
    // is M bytes of codes, and scan cost is cell-local.
    Q("e21_ivf_pq",
      (s, d) => {
        import graft.functions.TopKByScore.top_k_by_score
        val embRaw = Tables.embeddings(s, d)
        val emb = embRaw.select(col("vec_id"), col("label"),
          expr("transform(embedding, v -> cast(v as double))").as("e"))
        val books = Similarity.pqBooks(emb, "e", PqM, PqSubDims)
        val qs = emb.filter(col("vec_id") < 10)
        // LUT as broadcast-side DATA, not a plan literal (the
        // adcQueryLut rationale), joined onto the routed query rows.
        val (qlut, stride) = adcQueryLut(s,
          Similarity.codebook(qs.select("vec_id", "e")), books, PqSubDims)
        val coded = Similarity.pqQuantize(emb, "e", books, PqSubDims)
        // coarse routing: nearest label centroid, nprobe = 1
        val assigned = Similarity.probeRows(
            qs.select(col("vec_id").as("query_id"), col("e")), "e",
            Similarity.centroidRows(embRaw, "label"), 1,
            embRaw.schema("label").dataType)
          .select("query_id", "label")
          .join(qlut, "query_id")
        def l(m: Int) = element_at(col("lut"),
          lit(m * stride) + col(s"code_$m"))
        coded.as("c").join(broadcast(assigned).as("a"),
            col("c.label") === col("a.label") &&
              col("vec_id") =!= col("query_id"))
          .withColumn("adc", l(0) + l(1) + l(2) + l(3))
          .groupBy("query_id")
          .agg(top_k_by_score(col("adc"), col("vec_id"),
            col("c.label").cast("long"), 5).as("tk"))
          .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "t")))
          .select(col("query_id"), col("t.tag").cast("long").as("label"),
            (col("pos") + 1).cast("long").as("rank"),
            col("t.cand_id").as("cand_id"),
            round(col("t.sim"), 6).as("adc"))
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH ${pqCodeCtes()},
              |$probeCtes,
              |${labelRouteCtes(1)},
              |$ivfAdcTailSql""".stripMargin)),

    // RESIDUAL IVF-PQ — the FAISS-standard refinement e21 omits:
    // quantize v − c(cell(v)) (the residual after the coarse
    // assignment) instead of the raw vector, so the M codebooks spend
    // their 8 codes on the WITHIN-cell spread rather than re-encoding
    // the cell centroid every vector in the cell shares. Queries
    // route to their nearest coarse centroid and build the ADC LUT
    // from the QUERY residual vs that routed centroid — within a
    // probed cell, ADC(q_res, v_res) ranks by dot(q − c, v − c),
    // which is the residual-space inner product the raw-vector LUT
    // can't see. Same scale shape as e21 (bounded codebook/LUT
    // driver handoffs, broadcast query side, bounded-heap ranking);
    // the one extra step is a broadcast centroid join computing the
    // residual map-side.
    Q("e34_residual_pq",
      (s, d) => {
        import graft.functions.TopKByScore.top_k_by_score
        import s.implicits._
        val embRaw = Tables.embeddings(s, d)
        val labelType = embRaw.schema("label").dataType
        val emb = embRaw.select(col("vec_id"), col("label"),
          expr("transform(embedding, v -> cast(v as double))").as("e"))
        // The label centroids once, as the driver-side codebook the
        // query routing needs; residuals and routed queries join it
        // back as a small local table.
        val cents = Similarity.centroidRows(embRaw, "label")
        val cent = cents.map { case (l, v) => (l, v.toSeq) }
          .toDF("label", "cvec")
          .select(col("label").cast(labelType).as("label"), col("cvec"))
        val resid = emb.join(broadcast(cent), emb("label") === cent("label"))
          .select(col("vec_id"), emb("label"),
            expr("zip_with(e, cvec, (a, b) -> a - b)").as("r"))
        val books = Similarity.pqBooks(resid, "r", PqM, PqSubDims)
        val coded = Similarity.pqQuantize(resid, "r", books, PqSubDims)
        // Route each query to its nearest coarse centroid, then take
        // the residual vs the ROUTED centroid (not the query's own
        // label) — the cell whose residual space the search runs in.
        val qAssigned = Similarity.probeRows(emb.filter(col("vec_id") < 10)
            .select(col("vec_id").as("query_id"), col("e").as("qe")), "qe",
            cents, 1, labelType)
          .join(broadcast(cent), "label")
          .select(col("query_id"), col("label"),
            expr("zip_with(qe, cvec, (a, b) -> a - b)").as("qr"))
        val (qlut, stride) = adcQueryLut(s,
          Similarity.codebook(qAssigned.select("query_id", "qr")), books,
          PqSubDims)
        val assigned = qAssigned.select("query_id", "label")
          .join(qlut, "query_id")
        def l(m: Int) = element_at(col("lut"),
          lit(m * stride) + col(s"code_$m"))
        coded.as("c").join(broadcast(assigned).as("a"),
            col("c.label") === col("a.label") &&
              col("vec_id") =!= col("query_id"))
          .withColumn("adc", l(0) + l(1) + l(2) + l(3))
          .groupBy("query_id")
          .agg(top_k_by_score(col("adc"), col("vec_id"),
            col("c.label").cast("long"), 5).as("tk"))
          .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "t")))
          .select(col("query_id"), col("t.tag").cast("long").as("label"),
            (col("pos") + 1).cast("long").as("rank"),
            col("t.cand_id").as("cand_id"),
            round(col("t.sim"), 6).as("adc"))
          .orderBy("query_id", "rank")
      },
      Some {
        def rslice(m: Int) = s"embedding[${m * 16 + 1}:${m * 16 + 16}]"
        def qslice(m: Int) = "(SELECT query_id AS qid, " +
          s"emb[${m * 16 + 1}:${m * 16 + 16}] AS emb FROM qres)"
        s"""WITH $probeCtes,
           |${labelRouteCtes(1)},
           |resid AS MATERIALIZED (
           |  SELECT e0.vec_id, e0.label,
           |    list_transform(range(1, 65),
           |      i -> e0.emb[i] - c.cvec[i]) AS embedding
           |  FROM e e0 JOIN cent c ON c.label = e0.label
           |),
           |qres AS MATERIALIZED (
           |  SELECT query_id, label,
           |    list_transform(range(1, 65), i -> qe[i] - cvec[i]) AS emb
           |  FROM ass
           |),
           |${pqCodeCtes(rslice, "resid", qslice)},
           |$ivfAdcTailSql""".stripMargin
      }),

    // Gopher-style composite heuristic rule filter: one bit per rule
    // plus the conjunction — the per-rule audit a curation pipeline
    // reads per source. Pure map over the corpus scan (no shuffle
    // beyond the deterministic output sort).
    Q("d48_gopher_rules",
      (s, d) => TextAnalysis.gopherRules(Tables.documents(s, d))
        .select(col("doc_id"), col("n_tokens"),
          floor(col("mwl") * 10000 + 0.5).cast("long").as("mwl_e4"),
          col("r_wc"), col("r_mwl"), col("r_stop"), col("r_ttr"),
          col("pass"))
        .orderBy("doc_id"),
      Some(s"""WITH t AS (
              |  SELECT doc_id, ${TextHash.duckTokens("text")} AS tk
              |  FROM documents
              |),
              |m AS (
              |  SELECT doc_id,
              |    CAST(len(tk) AS BIGINT) AS n_tokens,
              |    CAST(list_sum(list_transform(tk, t -> len(t)))
              |         AS DOUBLE) / len(tk) AS mwl,
              |    len(list_filter(tk, t -> t = 'the' OR t = 'a'))
              |      AS stop_hits,
              |    CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS ttr
              |  FROM t
              |)
              |SELECT doc_id, n_tokens,
              |  CAST(floor(mwl * 10000 + 0.5) AS BIGINT) AS mwl_e4,
              |  CAST(n_tokens BETWEEN 50 AND 100000 AS BIGINT) AS r_wc,
              |  CAST(mwl >= 3.0 AND mwl <= 10.0 AS BIGINT) AS r_mwl,
              |  CAST(stop_hits >= 2 AS BIGINT) AS r_stop,
              |  CAST(ttr >= 0.2 AS BIGINT) AS r_ttr,
              |  CAST(n_tokens BETWEEN 50 AND 100000
              |       AND mwl >= 3.0 AND mwl <= 10.0
              |       AND stop_hits >= 2 AND ttr >= 0.2 AS BIGINT) AS pass
              |FROM m ORDER BY doc_id""".stripMargin)),

    // SemDeDup: within-cluster semantic near-dup removal — the
    // embedding-space dedup recipe that scales because clustering
    // confines the pair scan to cluster blocks (co-partitioned
    // equi-join, never all-pairs). Output is the removal list with
    // each vector's kept representative (min-id survivor rule).
    Q("e12_semdedup",
      (s, d) => Similarity.semDedup(
          Tables.embeddings(s, d), "label", minSim = 0.25)
        .orderBy("label", "vec_id"),
      Some(s"""WITH e AS (
              |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
              |  FROM embeddings
              |),
              |p AS (
              |  SELECT a.label, a.vec_id AS va, b.vec_id AS vb
              |  FROM e a JOIN e b
              |    ON a.label = b.label AND a.vec_id < b.vec_id
              |  WHERE ${TextHash.duckCosine("a.emb", "b.emb", 64)} >= 0.25
              |)
              |SELECT label, vb AS vec_id, min(va) AS dup_of
              |FROM p GROUP BY label, vb
              |ORDER BY label, vec_id""".stripMargin)),

    // SemDeDup threshold-sensitivity curve — the d68 tuning-table
    // shape for EMBEDDING dedup (d68 tunes the text-LSH threshold;
    // this tunes e12's cosine bar): per candidate threshold, how
    // many docs the semantic dedup would remove and the removal rate
    // — what an operator reads before committing a bar to a corpus
    // (too low silently halves the corpus, too high keeps paraphrase
    // clusters). Scale shape: the in-cluster pair space materializes
    // ONCE per threshold through the same co-partitioned cell join
    // as e12 (never cross-cluster), each threshold reduces to one
    // row, and the corpus count is a broadcast one-row scalar; the
    // oracle computes each pair's cosine once and sweeps thresholds
    // over it.
    Q("e44_semdedup_curve",
      (s, d) => {
        import graft.functions.CosineSimilarity.cosine_sim
        val emb = Tables.embeddings(s, d)
        val nRow = emb.agg(count(lit(1)).as("n"))
        // ONE in-cluster pair scan at the loosest threshold (the
        // oracle's single MATERIALIZED pc CTE; calling semDedup per
        // threshold would re-run the dominant join 4x), on the RAW
        // kernel cosine — thresholds must compare against the same
        // unrounded doubles semDedup filters on.
        val a = emb.select(col("label"), col("vec_id").as("va"),
          col("embedding").as("ea"))
        val b = emb.select(col("label"), col("vec_id").as("vb"),
          col("embedding").as("eb"))
        val pairs = a.join(b, Seq("label"))
          .filter(col("va") < col("vb"))
          .withColumn("sim", cosine_sim(col("ea"), col("eb")))
          .filter(col("sim") >= 0.20)
          .select(col("vb"), col("sim"))
          .lineageCut
        Seq(20, 25, 30, 35).map { t =>
          pairs
            .agg(countDistinct(when(col("sim") >= t / 100.0, col("vb")))
              .as("n_removed"))
            .select(lit(t.toLong).as("min_sim_e2"), col("n_removed"))
        }.reduce(_ union _)
          .crossJoin(broadcast(nRow))
          .select(col("min_sim_e2"), col("n"), col("n_removed"),
            expr("CAST(n_removed * 10000 div n AS BIGINT)")
              .as("removed_e4"))
          .orderBy("min_sim_e2")
      },
      Some(s"""WITH e AS (
              |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
              |  FROM embeddings
              |),
              |pc AS MATERIALIZED (
              |  SELECT a.vec_id AS va, b.vec_id AS vb,
              |    ${TextHash.duckCosine("a.emb", "b.emb", 64)} AS c
              |  FROM e a JOIN e b
              |    ON a.label = b.label AND a.vec_id < b.vec_id
              |),
              |nn AS (SELECT count(*) AS n FROM e),
              |t AS (SELECT unnest([20, 25, 30, 35]) AS thr)
              |SELECT CAST(t.thr AS BIGINT) AS min_sim_e2,
              |  CAST(nn.n AS BIGINT) AS n,
              |  CAST(count(DISTINCT pc.vb) AS BIGINT) AS n_removed,
              |  CAST(count(DISTINCT pc.vb) * 10000 // nn.n AS BIGINT)
              |    AS removed_e4
              |FROM t CROSS JOIN nn
              |LEFT JOIN pc
              |  ON pc.c >= CAST(t.thr AS DOUBLE) / CAST(100 AS DOUBLE)
              |GROUP BY t.thr, nn.n
              |ORDER BY min_sim_e2""".stripMargin)),

    // Beam-WIDTH tuning curve for the graph walk — the knob the
    // e36/e40 curves don't cover (nprobe tunes IVF, rerank depth the
    // two-stage pipeline; beam width IS the graph-ANN quality/cost
    // dial): aggregate recall@4 of the e25 walk at widths 4/8/16
    // against brute-force ground truth, one row per width. Scale
    // shape: each width's walk is the e25 plan (per-round cuts,
    // bounded windows); ground truth computes once; the oracle
    // instantiates the walk CTEs three times under width suffixes.
    Q("e45_beam_curve",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val qs = emb.filter(col("vec_id") < 10)
        val exact = Similarity.bruteForceTopK(emb, qs, k = 4)
          .select("query_id", "cand_id")
        val tc = Similarity.trainedCells(emb)
        val cents = Similarity.centroidRows(tc, "cell")
        val g = Similarity.knnGraphProbed(tc, "cell", k = 16,
            nprobe = 2, sharedCents = Some(cents))
          .select(col("vec_id"), col("nbr_id"))
        val med = Similarity.cellMedoids(tc, "cell", Some(cents))
        Seq(4, 8, 16).map { bw =>
          val walk = Similarity.graphBeamSearch(emb, qs, g, med,
              beamWidth = bw, rounds = 4)
            .filter(col("rank") <= 4)
            .select("query_id", "cand_id")
          exact.join(walk, Seq("query_id", "cand_id"))
            .agg(count(lit(1)).as("n_hits"))
            .select(lit(bw.toLong).as("beam_width"), col("n_hits"),
              expr("CAST(n_hits * 10000 div 40 AS BIGINT)")
                .as("recall_e4"))
        }.reduce(_ union _).orderBy("beam_width")
      },
      Some {
        val walks = Seq(4, 8, 16).map { bw =>
          beamWalkCtes(graphK = 16, rounds = 4, beamWidth = bw,
            sfx = s"w$bw") + ",\n" + walkTop4Cte(s"w$bw")
        }.mkString(",\n")
        val rows = Seq(4, 8, 16).map { bw =>
          s"""SELECT CAST($bw AS BIGINT) AS beam_width,
             |  CAST(count(*) AS BIGINT) AS n_hits,
             |  CAST(count(*) * 10000 // 40 AS BIGINT) AS recall_e4
             |FROM exact JOIN w4w$bw USING (query_id, cand_id)"""
            .stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH $trainedKnnCtes,
           |$walks,
           |${exactKnnCtes(4, queries = "qw4")}
           |$rows
           |ORDER BY beam_width""".stripMargin
      }),

    // ANN quality EVALUATION as a first-class query: recall@5 of the
    // nprobe=1 IVF probe against the brute-force ground truth, per
    // probe query — the measurement a pipeline runs before trusting
    // an index (e9's test-side recall claim, promoted to an operator
    // with an oracle). Cost is bounded by |queries|·k on the
    // comparison side; the ground-truth scan is the e1 plan.
    Q("e13_ann_recall",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val qs = emb.filter(col("vec_id") < 10)
        val ivf = Similarity.ivfProbeTopK(emb, qs, "label", k = 5)
          .select(col("query_id"), col("cand_id"))
        recallCard(emb, qs, k = 5, ivf)
      },
      Some(s"""WITH $probeCtes,
              |${exactKnnCtes(5)},
              |${labelRouteCtes(1)},
              |${exactKnnCtes(5, queries = "ass",
                  candPred = Some("c.label = q.label"), name = "ivf")},
              |${recallTailSql("ivf", k = 5)}""".stripMargin)),

    // Temperature-sampled mixture weights (the multilingual /
    // multi-source rebalancing rule: w_i ∝ p_i^α with α = 0.3 —
    // upweights tail sources without drowning the head). Two
    // language-cardinality aggregates with broadcast scalar totals;
    // the p^α terms are e6-scaled to integers BEFORE the
    // normalization sum, so the denominator is order-independent.
    Q("d50_temp_mixture",
      (s, d) => {
        val counts = Tables.documents(s, d)
          .groupBy("lang").agg(count(lit(1)).as("n_docs"))
        val tot = counts.agg(sum("n_docs").as("total"))
        val t = counts.crossJoin(broadcast(tot))
          .withColumn("share",
            col("n_docs").cast("double") / col("total"))
          .withColumn("tv",
            floor(pow(col("share"), lit(0.3)) * 1000000 + 0.5)
              .cast("long"))
        val tsum = t.agg(sum("tv").as("tsum"))
        t.crossJoin(broadcast(tsum))
          .select(col("lang"), col("n_docs"),
            floor(col("share") * 1000000 + 0.5).cast("long")
              .as("share_e6"),
            floor(col("tv").cast("double") / col("tsum") * 1000000
              + 0.5).cast("long").as("w_e6"),
            floor(col("tv").cast("double") / col("tsum") / col("share")
              * 10000 + 0.5).cast("long").as("boost_e4"))
          .orderBy("lang")
      },
      Some("""WITH c AS (
             |  SELECT lang, count(*) AS n_docs FROM documents
             |  GROUP BY lang
             |),
             |tot AS (SELECT sum(n_docs) AS total FROM c),
             |t AS (
             |  SELECT lang, n_docs,
             |    CAST(n_docs AS DOUBLE) / total AS share,
             |    CAST(floor(pow(CAST(n_docs AS DOUBLE) / total, 0.3)
             |      * 1000000 + 0.5) AS BIGINT) AS tv
             |  FROM c, tot
             |),
             |ts AS (SELECT sum(tv) AS tsum FROM t)
             |SELECT lang, n_docs,
             |  CAST(floor(share * 1000000 + 0.5) AS BIGINT) AS share_e6,
             |  CAST(floor(CAST(tv AS DOUBLE) / tsum * 1000000 + 0.5)
             |    AS BIGINT) AS w_e6,
             |  CAST(floor(CAST(tv AS DOUBLE) / tsum / share * 10000
             |    + 0.5) AS BIGINT) AS boost_e4
             |FROM t, ts ORDER BY lang""".stripMargin)),

    // Dedup quality EVALUATION (the e13 idea for the text side): how
    // good are the MinHash-LSH bucket candidates before verification?
    // precision = verified share of candidates; recall = verified
    // pairs' coverage of the exact inverted-index truth set (d2).
    // One summary row — every input is a pair-set aggregate, so the
    // whole thing is bounded scalar math after the same candidate /
    // verify plans d2/d3 already run.
    Q("d51_lsh_eval",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val bands = Dedup.bandTable(Dedup.shingleSets(docs))
        val cand = Dedup.lshCandidates(bands, bands)
          .filter(col("da") < col("db"))
        val ver = Dedup.minhashLshPairs(docs, minJaccard = 0.8)
          .select("da", "db")
        val tru = Dedup.ngramJaccardPairs(docs, minJaccard = 0.8)
          .select("da", "db")
        val nc = cand.agg(count(lit(1)).as("n_candidates"))
        val nv = ver.agg(count(lit(1)).as("n_verified"))
        val nt = tru.agg(count(lit(1)).as("n_true"))
        val nh = ver.join(tru, Seq("da", "db"))
          .agg(count(lit(1)).as("n_hit"))
        nc.crossJoin(nv).crossJoin(nt).crossJoin(nh)
          .select(col("n_candidates"), col("n_verified"), col("n_true"),
            col("n_hit"),
            floor(col("n_verified").cast("double") / col("n_candidates")
              * 10000 + 0.5).cast("long").as("precision_e4"),
            floor(col("n_hit").cast("double") / col("n_true")
              * 10000 + 0.5).cast("long").as("recall_e4"))
      },
      Some(s"""WITH ${TextHash.duckToksCte},
              |${TextHash.duckShinglesCte},
              |${TextHash.duckMinHashCte},
              |${TextHash.duckBandsCte},
              |cand AS MATERIALIZED (
              |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
              |  FROM bands a JOIN bands b
              |    ON a.band = b.band AND a.sig = b.sig
              |   AND a.doc_id < b.doc_id
              |),
              |sz AS MATERIALIZED (
              |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
              |),
              |cj AS (
              |  SELECT c.da, c.db, count(*) AS inter
              |  FROM cand c
              |  JOIN sh x ON x.doc_id = c.da
              |  JOIN sh y ON y.doc_id = c.db AND y.s = x.s
              |  GROUP BY c.da, c.db
              |),
              |ver AS MATERIALIZED (
              |  SELECT cj.da, cj.db FROM cj
              |  JOIN sz x ON x.doc_id = cj.da
              |  JOIN sz y ON y.doc_id = cj.db
              |  WHERE CAST(cj.inter AS DOUBLE)
              |    / (x.n + y.n - cj.inter) >= 0.8
              |),
              |${prefixCandSql(800000, "t")},
              |rare AS (
              |  SELECT s FROM dfst WHERE df <= ${Dedup.DefaultMaxShingleDf}
              |),
              |tj AS (
              |  SELECT c.da, c.db, count(*) AS inter
              |  FROM candt c
              |  JOIN sh x ON x.doc_id = c.da
              |  JOIN sh y ON y.doc_id = c.db AND y.s = x.s
              |  GROUP BY c.da, c.db
              |),
              |truth AS MATERIALIZED (
              |  SELECT tj.da, tj.db FROM tj
              |  JOIN sz x ON x.doc_id = tj.da
              |  JOIN sz y ON y.doc_id = tj.db
              |  WHERE CAST(tj.inter AS DOUBLE)
              |    / (x.n + y.n - tj.inter) >= 0.8
              |    AND ${shareRareSql("tj.da", "tj.db")}
              |),
              |hit AS (
              |  SELECT * FROM ver INTERSECT SELECT * FROM truth
              |)
              |SELECT
              |  CAST((SELECT count(*) FROM cand) AS BIGINT)
              |    AS n_candidates,
              |  CAST((SELECT count(*) FROM ver) AS BIGINT) AS n_verified,
              |  CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
              |  CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit,
              |  CAST(floor(CAST((SELECT count(*) FROM ver) AS DOUBLE)
              |    / (SELECT count(*) FROM cand) * 10000 + 0.5) AS BIGINT)
              |    AS precision_e4,
              |  CAST(floor(CAST((SELECT count(*) FROM hit) AS DOUBLE)
              |    / (SELECT count(*) FROM truth) * 10000 + 0.5) AS BIGINT)
              |    AS recall_e4""".stripMargin)),

    // Cross-document exact-substring EXCISION (the destructive half
    // of Lee et al. 2022 that d44 only detects): every duplicated
    // 8-gram keeps its globally FIRST occurrence — min over the
    // packed key doc_id·2³² + pos, a pure aggregate, no occurrence
    // ordering materialized — and all other occurrences fold into
    // maximal spans that are cut from their documents; the surviving
    // text is rebuilt map-side (indexed HOF filter over the token
    // array) and shipped as an md5 so the row stays narrow. Same
    // planted boilerplate corpus as d44: doc 0 keeps the shared
    // 12-token tail, every other doc_id % 5 = 0 page loses it.
    // Scale shape: gram-hash partial agg + co-partitioned join back
    // + one doc_id exchange — identical skeleton to d44, no suffix
    // array, no global sort, rebuild never shuffles.
    Q("d49_span_excise",
      (s, d) => {
        val corpus = Tables.documents(s, d).select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" " + SpanBoilerplate)))
            .otherwise(col("text")).as("text"))
        Dedup.exciseSpans(corpus, n = 8).orderBy("doc_id")
      },
      Some {
        val gramFold = (0 until 8).foldLeft("CAST(0 AS BIGINT)")(
          (a, j) => s"(($a * 31 + th[i+$j]) % ${TextHash.P})")
        raw"""WITH corpus AS (
             |  SELECT doc_id, CASE WHEN doc_id % 5 = 0
             |    THEN text || ' $SpanBoilerplate' ELSE text END AS text
             |  FROM documents
             |),
             |${TextHash.duckToksCte("corpus", "")},
             |t0 AS (
             |  SELECT doc_id, ${TextHash.duckTokens("text")} AS tk
             |  FROM corpus
             |),
             |grams AS (
             |  SELECT doc_id, i - 1 AS pos, $gramFold AS g
             |  FROM toks, unnest(range(1, len(th) - 6)) AS u(i)
             |  WHERE len(th) >= 8
             |),
             |st AS (
             |  SELECT g, min(doc_id * 4294967296 + pos) AS keep_k
             |  FROM grams GROUP BY g HAVING count(*) >= 2
             |),
             |hits AS (
             |  SELECT g2.doc_id, g2.pos FROM grams g2 JOIN st USING (g)
             |  WHERE g2.doc_id * 4294967296 + g2.pos <> st.keep_k
             |),
             |brk AS (
             |  SELECT doc_id, pos,
             |    CASE WHEN lag(pos) OVER w IS NULL
             |           OR pos - lag(pos) OVER w > 8 THEN 1 ELSE 0 END AS b
             |  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
             |),
             |sp AS (
             |  SELECT doc_id, pos,
             |    sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS sid
             |  FROM brk
             |),
             |spans AS (
             |  SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
             |  FROM sp GROUP BY doc_id, sid
             |),
             |px AS (
             |  SELECT doc_id, i - 1 AS idx, tk[i] AS tok
             |  FROM t0, unnest(range(1, len(tk) + 1)) AS u(i)
             |),
             |kept AS (
             |  SELECT p.doc_id, string_agg(p.tok, ' ' ORDER BY p.idx)
             |    AS kt
             |  FROM px p
             |  WHERE NOT EXISTS (SELECT 1 FROM spans s2
             |    WHERE s2.doc_id = p.doc_id
             |      AND p.idx BETWEEN s2.s AND s2.e)
             |  GROUP BY p.doc_id
             |),
             |sm AS (
             |  SELECT doc_id,
             |    CAST(sum(e - s + 1) AS BIGINT) AS n_removed,
             |    CAST(count(*) AS BIGINT) AS n_spans
             |  FROM spans GROUP BY doc_id
             |)
             |SELECT sm.doc_id,
             |  CAST(len(t0.tk) AS BIGINT) AS n_tokens,
             |  sm.n_removed, sm.n_spans,
             |  md5(coalesce(kept.kt, '')) AS kept_md5
             |FROM sm JOIN t0 USING (doc_id) LEFT JOIN kept USING (doc_id)
             |ORDER BY sm.doc_id""".stripMargin
      }),

    // TRIGRAM Stupid Backoff LM scoring (Brants et al. 2007, "Large
    // Language Models in Machine Translation" — the smoothing DESIGNED
    // for MapReduce-scale counts: no discounting state, just raw
    // count ratios with a fixed 0.4 backoff multiplier, so every
    // model table is a partial-aggregated count). Counts train on the
    // EVEN-doc half and score the whole corpus, so held-out docs
    // genuinely exercise all three backoff tiers:
    //   S(c|a,b) = c3(abc)/c2(ab)            when the trigram was seen
    //            = 0.4 · c2(bc)/c1(b)        else if the bigram was
    //            = 0.4 · 0.4 · max(c1(c),1)/N   else (unseen-unigram
    //              floor keeps ln finite — the OOV convention).
    // Parity: each position's ln is e6-floored BEFORE the per-doc sum
    // (integer arithmetic thereafter — the d19 ln-precedent), and
    // 0.4 enters as a DOUBLE product in the same association order in
    // both engines. Scale shape: three count tables are map-side
    // partial aggregations; scoring is five equi-joins on token-tuple
    // keys (fine-grained at any corpus size, AQE picks broadcast vs
    // shuffle); N rides as a broadcast one-row aggregate — no collect.
    Q("d52_stupid_backoff",
      (s, d) => {
        val toks = Tables.documents(s, d).select(col("doc_id"),
          expr(TextHash.sparkTokens("text")).as("tk"))
        val train = toks.filter(col("doc_id") % 2 === 0)
        val tuni = train.select(explode(col("tk")).as("w"))
        val uni = tuni.groupBy("w").agg(count(lit(1)).as("c1"))
        val nTot = tuni.agg(count(lit(1)).as("n_total"))
        val bi = train.filter(size(col("tk")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, size(tk) - 1), i -> named_struct(" +
              "'p', element_at(tk, i), 'w', element_at(tk, i + 1)))"))
            .as("bg"))
          .groupBy(col("bg.p").as("p"), col("bg.w").as("w"))
          .agg(count(lit(1)).as("c2"))
        val tri = train.filter(size(col("tk")) >= 3)
          .select(explode(expr(
            "transform(sequence(1, size(tk) - 2), i -> named_struct(" +
              "'a', element_at(tk, i), 'b', element_at(tk, i + 1), " +
              "'c', element_at(tk, i + 2)))")).as("tg"))
          .groupBy(col("tg.a").as("a"), col("tg.b").as("b"),
            col("tg.c").as("c"))
          .agg(count(lit(1)).as("c3"))
        val pos = toks.filter(size(col("tk")) >= 3)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(1, size(tk) - 2), i -> named_struct(" +
              "'a', element_at(tk, i), 'b', element_at(tk, i + 1), " +
              "'c', element_at(tk, i + 2)))")).as("tg"))
          .select(col("doc_id"), col("tg.a").as("a"),
            col("tg.b").as("b"), col("tg.c").as("c"))
        val score = when(col("c3").isNotNull,
            col("c3").cast("double") / col("c2p").cast("double"))
          .when(col("c2w").isNotNull,
            lit(0.4) * col("c2w").cast("double")
              / col("c1p").cast("double"))
          .otherwise(lit(0.4) * lit(0.4)
            * greatest(coalesce(col("c1w"), lit(0L)), lit(1L))
              .cast("double")
            / col("n_total").cast("double"))
        pos
          .join(tri, Seq("a", "b", "c"), "left")
          .join(bi.withColumnRenamed("p", "a").withColumnRenamed("w", "b")
            .withColumnRenamed("c2", "c2p"), Seq("a", "b"), "left")
          .join(bi.withColumnRenamed("p", "b").withColumnRenamed("w", "c")
            .withColumnRenamed("c2", "c2w"), Seq("b", "c"), "left")
          .join(uni.withColumnRenamed("w", "b")
            .withColumnRenamed("c1", "c1p"), Seq("b"), "left")
          .join(uni.withColumnRenamed("w", "c")
            .withColumnRenamed("c1", "c1w"), Seq("c"), "left")
          .crossJoin(broadcast(nTot))
          .select(col("doc_id"),
            floor(log(score) * 1000000 + 0.5).cast("long").as("lp_e6"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_scored"), sum("lp_e6").as("s"))
          .select(col("doc_id"), col("n_scored"),
            floor(col("s").cast("double") / col("n_scored") + 0.5)
              .cast("long").as("logprob_e6"))
          .orderBy("doc_id")
      },
      Some(s"""WITH tk AS (
              |  SELECT doc_id, ${TextHash.duckTokens("text")} AS tk
              |  FROM documents
              |),
              |tr AS (SELECT doc_id, tk FROM tk WHERE doc_id % 2 = 0),
              |u0 AS (SELECT unnest(tk) AS w FROM tr),
              |uni AS MATERIALIZED (
              |  SELECT w, count(*) AS c1 FROM u0 GROUP BY w
              |),
              |nt AS (SELECT count(*) AS n_total FROM u0),
              |bi AS MATERIALIZED (
              |  SELECT p, w, count(*) AS c2 FROM (
              |    SELECT unnest(tk[1:len(tk) - 1]) AS p,
              |           unnest(tk[2:len(tk)]) AS w
              |    FROM tr WHERE len(tk) >= 2)
              |  GROUP BY p, w
              |),
              |tri AS (
              |  SELECT a, b, c, count(*) AS c3 FROM (
              |    SELECT unnest(tk[1:len(tk) - 2]) AS a,
              |           unnest(tk[2:len(tk) - 1]) AS b,
              |           unnest(tk[3:len(tk)]) AS c
              |    FROM tr WHERE len(tk) >= 3)
              |  GROUP BY a, b, c
              |),
              |pos AS (
              |  SELECT doc_id, unnest(tk[1:len(tk) - 2]) AS a,
              |         unnest(tk[2:len(tk) - 1]) AS b,
              |         unnest(tk[3:len(tk)]) AS c
              |  FROM tk WHERE len(tk) >= 3
              |),
              |sc AS (
              |  SELECT p.doc_id,
              |    CAST(floor(ln(CASE
              |      WHEN t.c3 IS NOT NULL
              |        THEN CAST(t.c3 AS DOUBLE) / CAST(b2p.c2 AS DOUBLE)
              |      WHEN b2w.c2 IS NOT NULL
              |        THEN CAST(0.4 AS DOUBLE) * CAST(b2w.c2 AS DOUBLE)
              |          / CAST(u1p.c1 AS DOUBLE)
              |      ELSE CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE)
              |        * CAST(greatest(coalesce(u1w.c1, 0), 1) AS DOUBLE)
              |        / CAST(nt.n_total AS DOUBLE)
              |    END) * 1000000 + 0.5) AS BIGINT) AS lp_e6
              |  FROM pos p
              |  LEFT JOIN tri t
              |    ON t.a = p.a AND t.b = p.b AND t.c = p.c
              |  LEFT JOIN bi b2p ON b2p.p = p.a AND b2p.w = p.b
              |  LEFT JOIN bi b2w ON b2w.p = p.b AND b2w.w = p.c
              |  LEFT JOIN uni u1p ON u1p.w = p.b
              |  LEFT JOIN uni u1w ON u1w.w = p.c
              |  CROSS JOIN nt
              |)
              |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
              |  CAST(floor(CAST(sum(lp_e6) AS DOUBLE) / count(*) + 0.5)
              |    AS BIGINT) AS logprob_e6
              |FROM sc GROUP BY doc_id
              |ORDER BY doc_id""".stripMargin)),

    // Tokenizer EVALUATION over the trained-shape BPE (the numbers a
    // team compares tokenizers by before committing a vocabulary):
    // per language stratum, fertility (BPE units per whitespace
    // word — multilingual fairness metric: a tokenizer that's fair
    // to a language keeps its fertility near the corpus mean),
    // compression (chars per unit), and the single-unit hit rate
    // (words the merge hierarchy fully fuses — the vocabulary-
    // coverage proxy). Scale shape: tokenize + greedy encode are one
    // map-side compiled-kernel pass over the corpus scan; the only
    // exchange is the partial-agg on the bounded lang key. The
    // oracle replays the identical merge table through the d29
    // vocabulary-cached recursive CTE.
    Q("d53_tokenizer_stats",
      (s, d) => {
        val words = Tables.documents(s, d)
          .select(col("lang"),
            explode(expr(TextHash.sparkTokens("text"))).as("tok"))
        words
          .select(col("lang"), length(col("tok")).as("chars"),
            size(Bpe.bpe_units(array(col("tok")))).as("nu"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_words"),
            sum(col("nu").cast("long")).as("n_units"),
            sum(col("chars").cast("long")).as("n_chars"),
            sum(when(col("nu") === 1, 1L).otherwise(0L))
              .as("n_one_unit"))
          .select(col("lang"), col("n_words"), col("n_units"),
            floor(col("n_units").cast("double") / col("n_words")
              * 10000 + 0.5).cast("long").as("fertility_e4"),
            floor(col("n_chars").cast("double") / col("n_units")
              * 10000 + 0.5).cast("long").as("chars_per_unit_e4"),
            floor(col("n_one_unit").cast("double") / col("n_words")
              * 10000 + 0.5).cast("long").as("one_unit_rate_e4"))
          .orderBy("lang")
      },
      Some(s"""WITH RECURSIVE ${Bpe.duckBpeCtes("documents")},
              |w2 AS (
              |  SELECT d2.lang, len(w.tok) AS chars,
              |    len(string_split(u.s, ' ')) AS nu
              |  FROM wtoks w
              |  JOIN documents d2 USING (doc_id)
              |  JOIN wunits u USING (tok)
              |)
              |SELECT lang,
              |  CAST(count(*) AS BIGINT) AS n_words,
              |  CAST(sum(nu) AS BIGINT) AS n_units,
              |  CAST(floor(CAST(sum(nu) AS DOUBLE) / count(*)
              |    * 10000 + 0.5) AS BIGINT) AS fertility_e4,
              |  CAST(floor(CAST(sum(chars) AS DOUBLE) / sum(nu)
              |    * 10000 + 0.5) AS BIGINT) AS chars_per_unit_e4,
              |  CAST(floor(CAST(sum(CASE WHEN nu = 1 THEN 1 ELSE 0 END)
              |      AS DOUBLE) / count(*)
              |    * 10000 + 0.5) AS BIGINT) AS one_unit_rate_e4
              |FROM w2 GROUP BY lang
              |ORDER BY lang""".stripMargin)),

    // Embedding-space corpus CLUSTERING via connected components of
    // the MUTUAL-kNN graph — the graph-clustering step semantic-dedup
    // pipelines run between per-vector similarity (e6) and
    // group-level curation (keep one per cluster, d23's shape):
    // an edge exists when BOTH vectors rank each other in their
    // top-3 (mutuality prunes the hub vectors that would chain
    // unrelated neighborhoods together), and clusters are the
    // components, labeled by min vec_id — d9's machinery on the
    // embedding side. Scale shape: the mutual filter is ONE
    // self-equi-join on the (a, b)=(b, a) key pair over the bounded
    // k·|V| edge list; components run the same convergence-checked
    // min-label loop as d9 (O(|E|) per round) — and unlike d9's
    // star-shaped dup groups, mutual-kNN clusters are CHAINS (203
    // vertices at sf0.1), so the bounded rounds genuinely don't
    // converge and the O(log n) star-contract fallback is exercised,
    // not just guarded. The oracle therefore computes components
    // EXACTLY (recursive-CTE reachability closure, diameter-
    // independent) instead of mirroring a round count. Isolated
    // vectors (no mutual edge) are not cluster members and emit no
    // row — in either engine.
    Q("e14_knn_components",
      (s, d) => {
        // Eager checkpoint: the k·|V| edge list is narrow bounded
        // state, and the mutuality self-join would otherwise run the
        // whole kNN pipeline twice (once per side).
        val knn = Similarity.knnGraph(Tables.embeddings(s, d),
            "label", k = 3)
          .select(col("vec_id").as("a"), col("nbr_id").as("b"))
          .lineageCut
        val mutual = knn.as("x").join(knn.as("y"),
            col("x.a") === col("y.b") && col("x.b") === col("y.a"))
          .filter(col("x.a") < col("x.b"))
          .select(col("x.a").as("a"), col("x.b").as("b"))
        ConnectedComponents.dupGroups(mutual, iters = 8)
          .select(col("doc_id").as("vec_id"), col("group_id"),
            col("keep"))
          .orderBy("vec_id")
      },
      Some(s"""WITH RECURSIVE e AS (
              |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
              |  FROM embeddings
              |),
              |p AS (
              |  SELECT a.vec_id, b.vec_id AS nbr_id,
              |    ${TextHash.duckCosine("a.emb", "b.emb", 64)} AS sim
              |  FROM e a JOIN e b
              |    ON a.label = b.label AND a.vec_id <> b.vec_id
              |),
              |r AS (
              |  SELECT vec_id, nbr_id,
              |    row_number() OVER (
              |      PARTITION BY vec_id ORDER BY sim DESC, nbr_id) AS rank
              |  FROM p
              |),
              |k3 AS MATERIALIZED (
              |  SELECT vec_id AS a, nbr_id AS b FROM r WHERE rank <= 3
              |),
              |mu AS (
              |  SELECT x.a, x.b FROM k3 x
              |  JOIN k3 y ON x.a = y.b AND x.b = y.a
              |  WHERE x.a < x.b
              |),
              |edges AS MATERIALIZED (
              |  SELECT a AS src, b AS dst FROM mu
              |  UNION ALL
              |  SELECT b AS src, a AS dst FROM mu
              |),
              |walk AS (
              |  SELECT src AS id, src AS lab FROM edges
              |  UNION
              |  SELECT e2.dst AS id, w.lab
              |  FROM walk w JOIN edges e2 ON e2.src = w.id
              |)
              |SELECT id AS vec_id, min(lab) AS group_id,
              |  id = min(lab) AS keep
              |FROM walk GROUP BY id ORDER BY vec_id""".stripMargin)),

    // HYBRID retrieval — reciprocal-rank fusion (Cormack et al. 2009)
    // of the lexical and vector rankings the engine already produces:
    // per probe, BM25 top-5 (d36's plan) and embedding-cosine top-5
    // (e1's plan over the shared id domain) fuse by
    // rrf(doc) = Σ 1/(60 + rank), each term e6-floored to an INTEGER
    // before the sum so fusion is exact arithmetic in both engines.
    // The text side may retrieve the probe's own source doc (its
    // terms came from it); the vector side excludes self — RRF sees
    // both lists as rank evidence, which is the point: docs surfacing
    // in EITHER modality rank, docs surfacing in BOTH rank first.
    // Scale shape: both rankings already end in bounded-heap top-k
    // partial aggregates (no corpus-wide window — pinned for d36/e1);
    // fusion adds one |probes|·10-row union, a partial-agg sum, and a
    // second bounded heap. Nothing new touches the corpus.
    Q("e15_hybrid_rrf",
      (s, d) => {
        import graft.functions.TopKByScore.top_k_by_score
        val docs = Tables.documents(s, d)
        val stats = docs.agg(count(lit(1)).cast("long").as("n"),
          sum(size(expr(TextHash.sparkTokens("text")))).cast("long")
            .as("tot")).head()
        val n = stats.getLong(0)
        val avgdl = stats.getLong(1).toDouble / n
        val qterms = docs.filter(col("doc_id") % 100 === 7)
          .select(col("doc_id").as("query_id"),
            explode(expr(s"slice(${TextHash.sparkTokens("text")}, 3, 4)"))
              .as("token"))
          .distinct()
        val text = TextAnalysis.bm25TopK(docs, qterms, n, avgdl, k = 5)
          .select(col("query_id"), col("doc_id"),
            col("rank").cast("long").as("rank"))
        val emb = Tables.embeddings(s, d)
        val vec = Similarity.bruteForceTopK(emb,
            emb.filter(col("vec_id") % 100 === 7), k = 5)
          .select(col("query_id"), col("cand_id").as("doc_id"),
            col("rank").cast("long").as("rank"))
        def pts = floor(lit(1000000.0) / (col("rank") + 60) + 0.5)
          .cast("long").as("pts")
        val fused = text.select(col("query_id"), col("doc_id"), pts)
          .unionByName(vec.select(col("query_id"), col("doc_id"), pts))
          .groupBy("query_id", "doc_id")
          .agg(sum("pts").as("rrf_e6"))
        fused.groupBy("query_id")
          .agg(top_k_by_score(col("rrf_e6").cast("double"),
            col("doc_id"), lit(0L), 5).as("top"))
          .select(col("query_id"),
            posexplode(col("top")).as(Seq("pos", "t")))
          .select(col("query_id"),
            (col("pos") + 1).cast("long").as("rank"),
            col("t.cand_id").as("doc_id"),
            col("t.sim").cast("long").as("rrf_e6"))
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH tk AS (
              |  SELECT doc_id, unnest(${TextHash.duckTokens("text")})
              |    AS token
              |  FROM documents
              |),
              |tf AS (
              |  SELECT doc_id, token, count(*) AS tf FROM tk GROUP BY 1, 2
              |),
              |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
              |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
              |q AS (
              |  SELECT DISTINCT doc_id AS query_id,
              |    unnest((${TextHash.duckTokens("text")})[3:6]) AS token
              |  FROM documents WHERE doc_id % 100 = 7
              |),
              |c AS (
              |  SELECT q.query_id, tf.doc_id,
              |    CAST(floor(
              |      ln((CAST((SELECT count(*) FROM documents) - df
              |            AS DOUBLE) + 0.5)
              |         / (CAST(df AS DOUBLE) + 0.5) + 1)
              |      * (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1)
              |         / (CAST(tf AS DOUBLE) + 1.2 * (0.25
              |            + 0.75 * CAST(dl AS DOUBLE)
              |              / (SELECT CAST(count(*) AS DOUBLE)
              |                   / (SELECT count(*) FROM documents)
              |                 FROM tk))))
              |      * 1000000 + 0.5) AS BIGINT) AS c
              |  FROM tf
              |  JOIN q USING (token)
              |  JOIN df USING (token)
              |  JOIN dl ON tf.doc_id = dl.doc_id
              |),
              |sc AS (
              |  SELECT query_id, doc_id, CAST(sum(c) AS BIGINT)
              |    AS score_e6
              |  FROM c GROUP BY 1, 2
              |),
              |ttop AS (
              |  SELECT query_id, doc_id,
              |    row_number() OVER (PARTITION BY query_id
              |      ORDER BY score_e6 DESC, doc_id) AS rank
              |  FROM sc
              |),
              |e AS (
              |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
              |  FROM embeddings
              |),
              |vq AS (SELECT * FROM e WHERE vec_id % 100 = 7),
              |vscored AS (
              |  SELECT vq.vec_id AS query_id, ce.vec_id AS doc_id,
              |    ${TextHash.duckCosine("vq.emb", "ce.emb", 64)} AS sim
              |  FROM vq JOIN e ce ON ce.vec_id <> vq.vec_id
              |),
              |vtop AS (
              |  SELECT query_id, doc_id,
              |    row_number() OVER (
              |      PARTITION BY query_id ORDER BY sim DESC, doc_id)
              |      AS rank
              |  FROM vscored
              |),
              |fuse AS (
              |  SELECT query_id, doc_id,
              |    CAST(floor(CAST(1000000 AS DOUBLE) / (60 + rank)
              |      + 0.5) AS BIGINT) AS pts
              |  FROM ttop WHERE rank <= 5
              |  UNION ALL
              |  SELECT query_id, doc_id,
              |    CAST(floor(CAST(1000000 AS DOUBLE) / (60 + rank)
              |      + 0.5) AS BIGINT) AS pts
              |  FROM vtop WHERE rank <= 5
              |),
              |rrf AS (
              |  SELECT query_id, doc_id, CAST(sum(pts) AS BIGINT)
              |    AS rrf_e6
              |  FROM fuse GROUP BY 1, 2
              |),
              |ranked AS (
              |  SELECT query_id, doc_id, rrf_e6,
              |    row_number() OVER (PARTITION BY query_id
              |      ORDER BY rrf_e6 DESC, doc_id) AS rank
              |  FROM rrf
              |)
              |SELECT query_id, rank, doc_id, rrf_e6
              |FROM ranked WHERE rank <= 5
              |ORDER BY query_id, rank""".stripMargin)),

    // Scalar-quantization (SQ8) ANN — the OTHER production
    // compression axis next to e11's product quantization: each
    // vector stores 64 int8 codes + one scale (65 bytes vs 512 — the
    // symmetric-int8 layout vector stores deploy), quantized
    // per-vector as q_i = round_half_up(v_i · 127 / max|v|).
    // Candidate scoring is the INTEGER dot product of the codes
    // normalized by the integer code norms — exact arithmetic up to
    // two IEEE sqrt/div roundings, so cross-engine parity needs no
    // epsilon. Same probe set and output shape as e1, so recall loss
    // of 8-bit codes is a direct diff against the float baseline.
    // Scale shape: quantization is one map-side HOF pass; scoring is
    // the e1 skeleton (probes broadcast × corpus scan, bounded-heap
    // top-k partial aggregate — no corpus window); zero vectors drop
    // deterministically in both engines (their cosine is undefined).
    Q("e16_sq8_topk",
      (s, d) => Similarity.sq8TopK(
          Tables.embeddings(s, d),
          Tables.embeddings(s, d).filter(col("vec_id") < 10), k = 5)
        .select(col("query_id"), col("rank"), col("cand_id"),
          floor(col("sim") * 1000000 + 0.5).cast("long").as("sim_e6"))
        .orderBy("query_id", "rank"),
      Some(s"""WITH $probeCtes,
              |$sq8Ctes,
              |scored AS (
              |  SELECT pr.query_id, c.vec_id AS cand_id,
              |    ${sq8Cosine("c", "pr")} AS sim
              |  FROM pr JOIN qz c ON c.vec_id <> pr.query_id
              |),
              |r AS (
              |  SELECT query_id, cand_id, sim,
              |    row_number() OVER (
              |      PARTITION BY query_id ORDER BY sim DESC, cand_id)
              |      AS rank
              |  FROM scored
              |)
              |SELECT query_id, rank, cand_id,
              |  CAST(floor(sim * 1000000 + 0.5) AS BIGINT) AS sim_e6
              |FROM r WHERE rank <= 5
              |ORDER BY query_id, rank""".stripMargin)),

    // The CURATION FUNNEL — the engine's individually-verified
    // curation stages COMPOSED as one pipeline, reporting the
    // doc/token survival after each gate (the per-stage audit table
    // every real curation run publishes): raw → Gopher rule filter
    // (d48) → exact dedup keep-min (d1's rule) → near-dup drop of
    // the larger id of every verified Jaccard ≥ 0.8 pair (d2's
    // inverted-index path, computed ON SURVIVORS — dedup after
    // filtering, the standard order) → decontamination against the
    // d15 probe set (probes from the RAW corpus: the benchmark is
    // external to the pipeline). Each stage consumes the previous
    // stage's survivor set, so the oracle replays the same chain.
    // Scale shape: nothing new — every stage keeps its pinned
    // standalone plan (map-side rules, partial-agg keep-min,
    // saturation-guarded candidate join, broadcast probe join); the
    // funnel adds only doc_id semi/anti joins between stages and
    // five one-row aggregates.
    // ORACLE SCOPE (round-13 router): the SQL below mirrors the
    // near-dup gate's DIRECT (inverted-index) path — the route
    // nearDupPairsAuto takes whenever mean shingle df < cap/4,
    // which holds at every correctness SF (measured 1.6/9.6 vs
    // threshold 25). On a SATURATED corpus the Spark side routes to
    // MinHash-LSH and this oracle does not apply (and its own
    // candidate CTE is the quadratic join that motivated the
    // router — at sf1.0 it spilled past 79 GB); the routed regime
    // is covered by OperatorsSpec's route-equality pins and the
    // BASELINE sf1.0 record instead. A mid-regime corpus where the
    // oracle finishes but routing diverges would read as an honest
    // FAIL, not a silent pass.
    Q("d54_curation_funnel",
      (s, d) => CurationFunnel.audit(Tables.documents(s, d))
        .orderBy("stage_id"),
      Some(raw"""WITH t0 AS (
             |  SELECT doc_id,
             |    CAST(len(${TextHash.duckTokens("text")}) AS BIGINT) AS nt
             |  FROM documents
             |),
             |m AS (
             |  SELECT doc_id,
             |    CAST(len(tk) AS BIGINT) AS n_tokens,
             |    CAST(list_sum(list_transform(tk, t -> len(t)))
             |         AS DOUBLE) / len(tk) AS mwl,
             |    len(list_filter(tk, t -> t = 'the' OR t = 'a'))
             |      AS stop_hits,
             |    CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS ttr
             |  FROM (SELECT doc_id, ${TextHash.duckTokens("text")} AS tk
             |        FROM documents)
             |),
             |s1 AS (
             |  SELECT doc_id FROM m
             |  WHERE n_tokens BETWEEN 50 AND 100000
             |    AND mwl >= 3.0 AND mwl <= 10.0
             |    AND stop_hits >= 2 AND ttr >= 0.2
             |),
             |n1 AS (
             |  SELECT d2.doc_id, lower(trim(d2.text)) AS ntext
             |  FROM documents d2 JOIN s1 USING (doc_id)
             |),
             |s2 AS (SELECT min(doc_id) AS doc_id FROM n1 GROUP BY ntext),
             |sub AS (
             |  SELECT d3.doc_id, d3.text
             |  FROM documents d3 JOIN s2 USING (doc_id)
             |),
             |${TextHash.duckToksCte("sub", "")},
             |${TextHash.duckShinglesCte("")},
             |${prefixCandSql(800000)},
             |rare AS (
             |  SELECT s FROM dfs WHERE df <= ${Dedup.DefaultMaxShingleDf}
             |),
             |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
             |ix AS (
             |  SELECT c.da, c.db, count(*) AS inter
             |  FROM cand c
             |  JOIN sh x ON x.doc_id = c.da
             |  JOIN sh y ON y.doc_id = c.db AND y.s = x.s
             |  GROUP BY c.da, c.db
             |),
             |drop3 AS (
             |  SELECT DISTINCT ix.db AS doc_id
             |  FROM ix JOIN sz x ON x.doc_id = ix.da
             |  JOIN sz y ON y.doc_id = ix.db
             |  WHERE CAST(ix.inter AS DOUBLE)
             |    / (x.n + y.n - ix.inter) >= 0.8
             |    AND ${shareRareSql("ix.da", "ix.db")}
             |),
             |s3 AS (
             |  SELECT doc_id FROM s2
             |  WHERE NOT EXISTS (SELECT 1 FROM drop3 dd
             |    WHERE dd.doc_id = s2.doc_id)
             |),
             |probes AS (
             |  SELECT doc_id AS probe_src,
             |    array_to_string(list_slice(string_split(norm, ' '),
             |      3, 10), ' ') AS probe
             |  FROM (SELECT doc_id,
             |          regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
             |            AS norm
             |        FROM documents)
             |  WHERE doc_id % 50 = 0
             |    AND len(string_split(norm, ' ')) >= 10
             |),
             |c3 AS (
             |  SELECT s3.doc_id,
             |    regexp_replace(lower(trim(d4.text)), '\s+', ' ', 'g')
             |      AS norm
             |  FROM documents d4 JOIN s3 ON d4.doc_id = s3.doc_id
             |),
             |hit4 AS (
             |  SELECT DISTINCT c.doc_id
             |  FROM c3 c JOIN probes p
             |    ON strpos(' ' || c.norm || ' ', ' ' || p.probe || ' ') > 0
             |   AND c.doc_id <> p.probe_src
             |),
             |s4 AS (
             |  SELECT doc_id FROM s3
             |  WHERE NOT EXISTS (SELECT 1 FROM hit4 h
             |    WHERE h.doc_id = s3.doc_id)
             |)
             |SELECT * FROM (
             |  SELECT CAST(0 AS BIGINT) AS stage_id, 'raw' AS stage,
             |    CAST(count(*) AS BIGINT) AS n_docs,
             |    CAST(sum(nt) AS BIGINT) AS n_tokens
             |  FROM t0
             |  UNION ALL
             |  SELECT 1, 'rules', count(*), CAST(sum(nt) AS BIGINT)
             |  FROM t0 JOIN s1 USING (doc_id)
             |  UNION ALL
             |  SELECT 2, 'exact_dedup', count(*), CAST(sum(nt) AS BIGINT)
             |  FROM t0 JOIN s2 USING (doc_id)
             |  UNION ALL
             |  SELECT 3, 'near_dedup', count(*), CAST(sum(nt) AS BIGINT)
             |  FROM t0 JOIN s3 USING (doc_id)
             |  UNION ALL
             |  SELECT 4, 'decontam', count(*), CAST(sum(nt) AS BIGINT)
             |  FROM t0 JOIN s4 USING (doc_id)
             |) ORDER BY stage_id""".stripMargin)),

    // Per-document NOVELTY audit (the memorization-risk signal):
    // fraction of a doc's 8-grams whose value occurs ≥ 2 times
    // corpus-wide — d44 localizes duplicated spans, this SCORES every
    // doc by how much of it is corpus-repeated text, the number a
    // data card reports and an epoch-weighting policy consumes (low
    // novelty ⇒ the model sees that text many times anyway). Docs
    // under 8 tokens carry no gram and emit no row, both engines.
    // Scale shape: gram kernel map-side, occurrence counts one
    // partial-agg exchange on the gram hash, join back co-partitioned
    // on the same key, one doc_id partial agg — the d44 skeleton
    // minus the interval fold.
    Q("d55_novelty",
      (s, d) => gramNovelty(Tables.documents(s, d)).orderBy("doc_id"),
      Some {
        val gramFold = (0 until 8).foldLeft("CAST(0 AS BIGINT)")(
          (a, j) => s"(($a * 31 + th[i+$j]) % ${TextHash.P})")
        s"""WITH ${TextHash.duckToksCte},
           |grams AS (
           |  SELECT doc_id, $gramFold AS g
           |  FROM toks, unnest(range(1, len(th) - 6)) AS u(i)
           |  WHERE len(th) >= 8
           |),
           |occ AS (SELECT g, count(*) AS occ FROM grams GROUP BY g)
           |SELECT doc_id,
           |  CAST(count(*) AS BIGINT) AS n_grams,
           |  CAST(sum(CASE WHEN occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_dup,
           |  CAST(floor((CAST(1 AS DOUBLE)
           |    - CAST(sum(CASE WHEN occ >= 2 THEN 1 ELSE 0 END)
           |        AS DOUBLE) / count(*)) * 10000 + 0.5) AS BIGINT)
           |    AS novelty_e4
           |FROM grams JOIN occ USING (g)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }),

    // IVF + SQ8 — the e4 coarse quantizer and the e16 int8 scan
    // COMPOSED into the production index layout (what a FAISS
    // "IVF,SQ8" index is): float centroids route the query, int8
    // codes score the cell. Same probe set as e4/e16, so both the
    // cell-routing loss (vs e16's exhaustive int8 scan) and the
    // quantization loss (vs e4's float in-cell scan) are direct
    // diffs. Scale: centroid table broadcast, corpus scanned once
    // as 65-byte code rows, bounded-heap ranking — no corpus window,
    // no corpus shuffle.
    Q("e17_ivf_sq8",
      (s, d) => Similarity.ivfSq8TopK(
          Tables.embeddings(s, d),
          Tables.embeddings(s, d).filter(col("vec_id") < 10),
          "label", k = 5)
        .orderBy("query_id", "rank"),
      Some(s"""WITH $probeCtes,
              |$sq8Ctes,
              |${labelRouteCtes(1)},
              |probe AS (
              |  SELECT a.query_id, a.label, c.vec_id AS cand_id,
              |    ${sq8Cosine("c", "p2")} AS sim
              |  FROM ass a
              |  JOIN pr p2 ON p2.query_id = a.query_id
              |  JOIN qz c ON c.label = a.label
              |   AND c.vec_id <> a.query_id
              |),
              |r AS (
              |  SELECT query_id, label, cand_id, sim,
              |    row_number() OVER (
              |      PARTITION BY query_id ORDER BY sim DESC, cand_id)
              |      AS rank
              |  FROM probe
              |)
              |SELECT query_id, CAST(label AS BIGINT) AS label,
              |  rank, cand_id,
              |  CAST(floor(sim * 1000000 + 0.5) AS BIGINT) AS sim_e6
              |FROM r WHERE rank <= 5
              |ORDER BY query_id, rank""".stripMargin)),

    // Quantization-recall EVALUATION (e13's measurement for the SQ8
    // axis): per probe, recall@5 of the exhaustive int8 scan (e16)
    // against the float brute-force ground truth (e1) — the number
    // that decides whether 8-bit codes are safe for a corpus before
    // the index is deployed. Probe universe left-joined so a
    // zero-hit query surfaces as 0, not a missing row.
    Q("e18_sq8_recall",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val qs = emb.filter(col("vec_id") < 10)
        val sq = Similarity.sq8TopK(emb, qs, k = 5)
          .select(col("query_id"), col("cand_id"))
        recallCard(emb, qs, k = 5, sq)
      },
      Some(s"""WITH $probeCtes,
              |${exactKnnCtes(5)},
              |$sq8Ctes,
              |sc0 AS (
              |  SELECT pr.query_id, c.vec_id AS cand_id,
              |    row_number() OVER (PARTITION BY pr.query_id ORDER BY
              |      ${sq8Cosine("c", "pr")} DESC,
              |      c.vec_id) AS rank
              |  FROM pr JOIN qz c ON c.vec_id <> pr.query_id
              |),
              |sq8 AS (SELECT query_id, cand_id FROM sc0 WHERE rank <= 5),
              |${recallTailSql("sq8", k = 5)}""".stripMargin)),

    // BINARY-QUANTIZATION ANN — the 1-bit compression axis closing
    // the family (e11 PQ sub-vector codes, e16 SQ8 8-bit scalars,
    // this the sign bit): vectors pack to TWO 32-bit sign words
    // (the d4 two-half convention — nothing touches the sign bit),
    // candidates rank by bit agreement = 64 − Hamming, ties to
    // cand_id. 8 bytes per vector vs 512 — the code layout that
    // keeps ten billion vectors scannable in cluster memory with an
    // XOR + popcount per word. Integer end-to-end, so parity is
    // arithmetic. Scale shape: probe batch broadcast over the one
    // corpus code scan, bounded-heap ranking — no window, no corpus
    // shuffle.
    Q("e37_bq_topk",
      (s, d) => Similarity.bqTopK(
          Tables.embeddings(s, d),
          Tables.embeddings(s, d).filter(col("vec_id") < 10), k = 5)
        .orderBy("query_id", "rank"),
      Some(s"""WITH $probeCtes,
              |$bqCtes,
              |scored AS (
              |  SELECT pr.query_id, c.vec_id AS cand_id,
              |    64 - bit_count(xor(c.hi, pr.qhi))
              |       - bit_count(xor(c.lo, pr.qlo)) AS agree
              |  FROM pr JOIN bq c ON c.vec_id <> pr.query_id
              |),
              |r AS (
              |  SELECT query_id, cand_id, agree,
              |    row_number() OVER (
              |      PARTITION BY query_id ORDER BY agree DESC, cand_id)
              |      AS rank
              |  FROM scored
              |)
              |SELECT query_id, rank, cand_id, CAST(agree AS BIGINT) AS agree
              |FROM r WHERE rank <= 5
              |ORDER BY query_id, rank""".stripMargin)),

    // Recall gate for the binary-quantization axis (the e13/e18/e22/
    // e26 pattern — every approximate path ships with its
    // oracle-checked measurement): recall@5 of the Hamming ranking
    // vs float brute-force truth. 1-bit codes are the lossiest
    // member of the family, so this is the gate that decides whether
    // BQ serves as a first-stage filter (with exact rerank — the e27
    // shape) or not at all; zero-hit queries surface as explicit 0s.
    Q("e38_bq_recall",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val qs = emb.filter(col("vec_id") < 10)
        val bq = Similarity.bqTopK(emb, qs, k = 5)
          .select(col("query_id"), col("cand_id"))
        recallCard(emb, qs, k = 5, bq)
      },
      Some(s"""WITH $probeCtes,
              |${exactKnnCtes(5)},
              |$bqCtes,
              |bq0 AS (
              |  SELECT pr.query_id, c.vec_id AS cand_id,
              |    row_number() OVER (PARTITION BY pr.query_id
              |      ORDER BY 64 - bit_count(xor(c.hi, pr.qhi))
              |                  - bit_count(xor(c.lo, pr.qlo)) DESC,
              |        c.vec_id) AS rank
              |  FROM pr JOIN bq c ON c.vec_id <> pr.query_id
              |),
              |bqk AS (SELECT query_id, cand_id FROM bq0 WHERE rank <= 5),
              |${recallTailSql("bqk", k = 5)}""".stripMargin)),

    // MMR DIVERSITY re-ranking (Carbonell & Goldstein 1998) — the
    // retrieval step after top-k when near-duplicate hits waste the
    // result page (RAG context selection, dedup-aware search): from
    // the top-20 pool, greedily pick 5, each pick maximizing
    // 7·rel_e6 − 3·maxdiv_e6 (λ=0.7 on the ×10 integer grid, div =
    // max e6-cosine to the already-picked set), ties to the smaller
    // cand_id — deterministic, so the greedy SEQUENCE oracle-checks
    // exactly (the e35/e28 unrolled-greedy pattern). Scale shape:
    // stage 1 is the pinned bounded-heap retrieval; the greedy is
    // ONE higher-order aggregate per query over its own ≤20 gathered
    // candidates (state ≤ pool×dims — pairwise similarities never
    // materialize as rows, nothing regroups the corpus).
    Q("e39_mmr_rerank",
      (s, d) => Similarity.mmrRerank(
          Tables.embeddings(s, d),
          Tables.embeddings(s, d).filter(col("vec_id") < 10),
          k = 5, poolK = 20)
        .orderBy("query_id", "rank"),
      Some {
        val steps = (2 to 5).map { k =>
          val sel = s"sel${k - 1} AS (SELECT query_id, cand_id FROM p1" +
            (2 until k).map(j =>
              s" UNION ALL SELECT query_id, cand_id FROM p$j").mkString +
            ")"
          s"""$sel,
             |p$k AS MATERIALIZED (
             |  SELECT query_id, cand_id, re6, sc, $k AS rank FROM (
             |    SELECT s.*, row_number() OVER (PARTITION BY s.query_id
             |      ORDER BY s.sc DESC, s.cand_id) AS rn2
             |    FROM (
             |      SELECT c.query_id, c.cand_id, c.re6,
             |        7 * c.re6 - 3 * max(d.de6) AS sc
             |      FROM cand c
             |      JOIN sel${k - 1} s2 ON s2.query_id = c.query_id
             |      JOIN dv d ON d.query_id = c.query_id
             |        AND d.ca = c.cand_id AND d.cb = s2.cand_id
             |      WHERE NOT EXISTS (SELECT 1 FROM sel${k - 1} z
             |        WHERE z.query_id = c.query_id
             |          AND z.cand_id = c.cand_id)
             |      GROUP BY 1, 2, 3
             |    ) s
             |  ) WHERE rn2 = 1
             |)""".stripMargin
        }.mkString(",\n")
        val cos = TextHash.duckCosine("q.emb", "c.emb", 64)
        s"""WITH e AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           |  FROM embeddings
           |),
           |q AS (SELECT vec_id, emb FROM e WHERE vec_id < 10),
           |c0 AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           |    CAST(floor($cos * 1000000 + 0.5) AS BIGINT) AS re6,
           |    row_number() OVER (PARTITION BY q.vec_id
           |      ORDER BY $cos DESC, c.vec_id) AS rn
           |  FROM q JOIN e c ON c.vec_id <> q.vec_id
           |),
           |cand AS MATERIALIZED (
           |  SELECT query_id, cand_id, re6 FROM c0 WHERE rn <= 20),
           |dv AS MATERIALIZED (
           |  SELECT a.query_id, a.cand_id AS ca, b.cand_id AS cb,
           |    CAST(floor(${TextHash.duckCosine("x.emb", "y.emb", 64)}
           |      * 1000000 + 0.5) AS BIGINT) AS de6
           |  FROM cand a JOIN cand b ON b.query_id = a.query_id
           |    AND b.cand_id <> a.cand_id
           |  JOIN e x ON x.vec_id = a.cand_id
           |  JOIN e y ON y.vec_id = b.cand_id
           |),
           |p1 AS MATERIALIZED (
           |  SELECT query_id, cand_id, re6,
           |    CAST(7 * re6 AS BIGINT) AS sc, 1 AS rank
           |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
           |    ORDER BY re6 DESC, cand_id) AS rn2 FROM cand)
           |  WHERE rn2 = 1
           |),
           |$steps
           |SELECT query_id, CAST(rank AS BIGINT) AS rank, cand_id,
           |  sc AS score
           |FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2
           |      UNION ALL SELECT * FROM p3 UNION ALL SELECT * FROM p4
           |      UNION ALL SELECT * FROM p5)
           |ORDER BY query_id, rank""".stripMargin
      }),

    // Matryoshka-style PREFIX-DIMENSION retrieval + recall gate: score
    // candidates on only the first 32 of 64 dims (the cheap pass an
    // MRL-trained embedding enables — half the bytes read, half the
    // multiplies, same index layout) and measure recall@5 against the
    // full-dim exact top-k. This is the dimension-truncation axis of
    // the approximate-search family (e13 = IVF routing, e18 = SQ8
    // quantization, e22 = PQ, e26/e30 = graph walk); at 100 TB the
    // prefix scan is the first-stage filter with full-dim rerank only
    // on survivors (the e27 two-stage shape applied to dims instead
    // of codes). Both passes are the same broadcast-queries
    // bounded-heap kernel — no window, no extra exchange; the prefix
    // side just slices the stored array before the dot product.
    Q("e33_prefix_recall",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val qs = emb.filter(col("vec_id") < 10)
        val half = emb.select(col("vec_id"),
          expr("slice(embedding, 1, 32)").as("embedding"))
        val approx = Similarity
          .bruteForceTopK(half, half.filter(col("vec_id") < 10), k = 5)
          .select(col("query_id"), col("cand_id"))
        recallCard(emb, qs, k = 5, approx)
      },
      Some(s"""WITH $probeCtes,
              |${exactKnnCtes(5)},
              |${exactKnnCtes(5, dims = 32, name = "approx")},
              |${recallTailSql("approx", k = 5)}""".stripMargin)),

    // Per-channel PCM autocorrelation at lags 1/2/4 over REAL WAV
    // decode — the pitch/periodicity feature family (m11 gave
    // energy/DC/zero-cross; this adds the lag structure a real audio
    // featurizer computes) done WITHOUT floating point: every term is
    // exact int64, so a formula oracle matches bit-for-bit — the trig
    // of a DFT would round differently per libm, which is why the
    // spectral stand-in is autocorrelation and not band energy.
    // Scale: same map-side decode-and-fold as m11, one ORDER BY
    // exchange.
    Q("m13_audio_autocorr",
      (s, d) => Multimodal.audioAutocorr(
          Multimodal.wavTable(Tables.documents(s, d)),
          lags = Seq(1, 2, 4))
        .toDF().orderBy("doc_id", "channel", "lag"),
      Some("""WITH p AS (
             |  SELECT doc_id,
             |    1 + doc_id % 2 AS ch,
             |    32 + (doc_id * 7) % 33 AS nf
             |  FROM documents
             |),
             |s AS (
             |  SELECT doc_id, ch, nf, gi.i AS i, gc.c AS c,
             |    ((doc_id * 131 + gi.i * 37 + gc.c * 17 + 13) % 65536)
             |      - 32768 AS v
             |  FROM p,
             |    (SELECT unnest(range(0, 65)) AS i) gi,
             |    (SELECT unnest(range(0, 2)) AS c) gc
             |  WHERE gi.i < nf AND gc.c < ch
             |),
             |ss AS (
             |  SELECT doc_id, c, CAST(sum(v * v) AS BIGINT) AS sum_sq
             |  FROM s GROUP BY 1, 2
             |),
             |lg AS (SELECT unnest([1, 2, 4]) AS lag),
             |ac AS (
             |  SELECT a.doc_id, a.c, lg.lag,
             |    CAST(sum(a.v * b.v) AS BIGINT) AS ac
             |  FROM s a
             |  JOIN lg ON true
             |  JOIN s b ON b.doc_id = a.doc_id AND b.c = a.c
             |   AND b.i = a.i + lg.lag
             |  GROUP BY 1, 2, 3
             |)
             |SELECT doc_id, CAST(c AS BIGINT) AS channel,
             |  CAST(lag AS BIGINT) AS lag, ac.ac, ss.sum_sq
             |FROM ac JOIN ss USING (doc_id, c)
             |ORDER BY doc_id, channel, lag""".stripMargin)),

    // Sequence-length BUCKETING audit — the batching-efficiency
    // number behind bucketed batching (pad-to-boundary batching
    // wastes capacity on every short doc): docs bucket to fixed
    // boundaries {64, 128, 256, 512, 1024} (cap 0 = overflow docs
    // that get split, no padding), and each bucket reports docs,
    // real tokens, padding waste, and utilization — what decides
    // whether the bucket boundaries (or d25's packing) pay for
    // themselves. Pure CASE arithmetic map-side + one partial agg on
    // the 6-value bucket key.
    Q("d56_length_buckets",
      (s, d) => {
        val nt = size(expr(TextHash.sparkTokens("text"))).cast("long")
        val cap = when(nt <= 64, 64L).when(nt <= 128, 128L)
          .when(nt <= 256, 256L).when(nt <= 512, 512L)
          .when(nt <= 1024, 1024L).otherwise(0L)
        Tables.documents(s, d)
          .select(cap.as("cap"), nt.as("nt"))
          .withColumn("waste",
            when(col("cap") === 0L, 0L).otherwise(col("cap") - col("nt")))
          .groupBy("cap")
          .agg(count(lit(1)).as("n_docs"),
            sum("nt").as("sum_tokens"),
            sum("waste").as("sum_waste"))
          .select(col("cap"), col("n_docs"), col("sum_tokens"),
            col("sum_waste"),
            floor(col("sum_tokens").cast("double")
              / (col("sum_tokens") + col("sum_waste")) * 10000 + 0.5)
              .cast("long").as("util_e4"))
          .orderBy("cap")
      },
      Some(s"""WITH t AS (
              |  SELECT CAST(len(${TextHash.duckTokens("text")}) AS BIGINT)
              |    AS nt
              |  FROM documents
              |),
              |b AS (
              |  SELECT nt,
              |    CASE WHEN nt <= 64 THEN 64 WHEN nt <= 128 THEN 128
              |         WHEN nt <= 256 THEN 256 WHEN nt <= 512 THEN 512
              |         WHEN nt <= 1024 THEN 1024 ELSE 0 END AS cap
              |  FROM t
              |)
              |SELECT CAST(cap AS BIGINT) AS cap,
              |  CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(nt) AS BIGINT) AS sum_tokens,
              |  CAST(sum(CASE WHEN cap = 0 THEN 0 ELSE cap - nt END)
              |    AS BIGINT) AS sum_waste,
              |  CAST(floor(CAST(sum(nt) AS DOUBLE)
              |    / (sum(nt) + sum(CASE WHEN cap = 0 THEN 0
              |        ELSE cap - nt END)) * 10000 + 0.5) AS BIGINT)
              |    AS util_e4
              |FROM b GROUP BY cap
              |ORDER BY cap""".stripMargin)),

    // Pairwise SOURCE-overlap matrix — the data-governance table
    // ("how much of source B is already in source A?") computed
    // without ever joining content across sources: one KMV sketch of
    // the distinct shingle hashes per source (d27's mergeable
    // aggregate), then every pair's union sketch from the two
    // bottom-k arrays ALONE (bottom-k(bottom-k(A) ∪ bottom-k(B)) =
    // bottom-k(A ∪ B)) and inclusion-exclusion for the intersection;
    // containment = inter / min(est) flags the engulfed side.
    // Deterministic set functions of the keys — identical numbers in
    // both engines, the composability HLL can't give. Scale shape:
    // one distinct + partial-agg sketch exchange; the pair join
    // touches |sources|² sketch rows (bounded), each pair's math a
    // map-side HOF over ≤ 2k-element arrays.
    Q("d57_source_overlap",
      (s, d) => {
        import graft.functions.KmvSketch.kmv_sketch
        val k = 256
        val docs = Tables.documents(s, d)
        val h = Dedup.shingleSets(docs.select("doc_id", "text"))
          .join(docs.select("doc_id", "source"), "doc_id")
          .select(col("source"), explode(col("sh")).as("s0"))
          .select(col("source"),
            (col("s0") * Sampling.Mixer % Sampling.MixMod).as("h"))
        // Eager checkpoint: |sources| sketch rows, and the pair
        // self-join would otherwise run the shingle pipeline twice.
        val sk = h.groupBy("source").agg(kmv_sketch(col("h"), k).as("kmv"))
          .lineageCut
        def est(c: String) =
          when(size(col(c)) < k, size(col(c)).cast("long"))
            .otherwise(floor(lit((k - 1).toDouble) * Sampling.MixMod /
              element_at(col(c), -1) + 0.5).cast("long"))
        sk.as("a").join(sk.as("b"), col("a.source") < col("b.source"))
          .select(col("a.source").as("source_a"),
            col("b.source").as("source_b"),
            col("a.kmv").as("ka"), col("b.kmv").as("kb"))
          .withColumn("ku", expr(
            s"slice(array_sort(array_distinct(concat(ka, kb))), 1, $k)"))
          .select(col("source_a"), col("source_b"),
            est("ka").as("est_a"), est("kb").as("est_b"),
            est("ku").as("est_union"))
          .withColumn("est_inter", greatest(lit(0L),
            col("est_a") + col("est_b") - col("est_union")))
          .withColumn("containment_e4",
            floor(col("est_inter").cast("double")
              / least(col("est_a"), col("est_b")) * 10000 + 0.5)
              .cast("long"))
          .orderBy("source_a", "source_b")
      },
      Some {
        def duckEst(c: String) =
          s"CAST(CASE WHEN len($c) < 256 THEN len($c) " +
            s"ELSE floor(255.0 * ${Sampling.MixMod} / $c[-1] + 0.5) " +
            s"END AS BIGINT)"
        s"""WITH ${TextHash.duckToksCte},
           |${TextHash.duckShinglesCte},
           |hs AS (
           |  SELECT DISTINCT d2.source,
           |    s.s * ${Sampling.Mixer} % ${Sampling.MixMod} AS h
           |  FROM sh s JOIN documents d2 USING (doc_id)
           |),
           |sk AS (
           |  SELECT source, list(h ORDER BY h) AS kl
           |  FROM (SELECT source, h, row_number() OVER (
           |          PARTITION BY source ORDER BY h) AS rn
           |        FROM hs)
           |  WHERE rn <= 256 GROUP BY source
           |),
           |pr AS (
           |  SELECT a.source AS source_a, b.source AS source_b,
           |    a.kl AS ka, b.kl AS kb,
           |    list_slice(list_sort(list_distinct(
           |      list_concat(a.kl, b.kl))), 1, 256) AS ku
           |  FROM sk a JOIN sk b ON a.source < b.source
           |),
           |es AS (
           |  SELECT source_a, source_b,
           |    ${duckEst("ka")} AS est_a,
           |    ${duckEst("kb")} AS est_b,
           |    ${duckEst("ku")} AS est_union
           |  FROM pr
           |)
           |SELECT source_a, source_b, est_a, est_b, est_union,
           |  greatest(0, est_a + est_b - est_union) AS est_inter,
           |  CAST(floor(CAST(greatest(0, est_a + est_b - est_union)
           |      AS DOUBLE) / least(est_a, est_b) * 10000 + 0.5)
           |    AS BIGINT) AS containment_e4
           |FROM es ORDER BY source_a, source_b""".stripMargin
      }),

    // DISTRIBUTION-ADAPTIVE quality ensemble (the QuRating/DataComp
    // combination shape): each signal — length, mean word length,
    // novelty (d55's metric, gramless short docs = fully novel) —
    // buckets against the CORPUS'S OWN p10/p50/p90, estimated from
    // the d38 hash sample, and the ensemble is the bucket-score sum.
    // Fixed thresholds break when the corpus shifts; a corpus-wide
    // rank needs a global sort. Sample quantiles give adaptivity
    // with O(k) state and a 3-number broadcast per signal. Bucket
    // directionality is caller policy (here ascending per signal);
    // the contract is the adaptive bucketing, not the weights.
    Q("d58_quality_ensemble",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val nov = gramNovelty(docs)
          .select(col("doc_id"), col("novelty_e4").as("nov"))
        val base = docs
          .withColumn("tk", expr(TextHash.sparkTokens("text")))
          .select(col("doc_id"), size(col("tk")).cast("long").as("len"),
            floor(expr("aggregate(tk, CAST(0 AS BIGINT), " +
              "(a, t) -> a + length(t))").cast("double")
              / size(col("tk")) * 10000 + 0.5).cast("long").as("mwl"))
        // Eager checkpoint: the signal table is consumed four times
        // (three threshold samples + the bucketize); at ~32 bytes a
        // row it is a small fraction of corpus bytes, far cheaper
        // than re-running tokenization + the gram join per consumer.
        val sig = base.join(nov, Seq("doc_id"), "left")
          .select(col("doc_id"), col("len"), col("mwl"),
            coalesce(col("nov"), lit(10000L)).as("nov"))
          .withColumn("stratum", lit("all"))
          .lineageCut
        def th(c: String) = broadcast(Sampling.hashSampleQuantiles(
          sig.select("stratum", "doc_id", c), "stratum", "doc_id",
          c, k = 256, outSuffix = c)
          .select(col("p10_" + c), col("p50_" + c), col("p90_" + c)))
        def bucket(c: String) =
          when(col(c) <= col("p10_" + c), 0L)
            .when(col(c) <= col("p50_" + c), 1L)
            .when(col(c) <= col("p90_" + c), 2L)
            .otherwise(3L)
        sig.crossJoin(th("len")).crossJoin(th("mwl")).crossJoin(th("nov"))
          .select(col("doc_id"), col("len"), col("mwl"), col("nov"),
            bucket("len").as("s_len"), bucket("mwl").as("s_mwl"),
            bucket("nov").as("s_nov"))
          .withColumn("ensemble",
            col("s_len") + col("s_mwl") + col("s_nov"))
          .orderBy("doc_id")
      },
      Some {
        val gramFold = (0 until 8).foldLeft("CAST(0 AS BIGINT)")(
          (a, j) => s"(($a * 31 + th[i+$j]) % ${TextHash.P})")
        s"""WITH ${TextHash.duckToksCte},
           |grams AS (
           |  SELECT doc_id, $gramFold AS g
           |  FROM toks, unnest(range(1, len(th) - 6)) AS u(i)
           |  WHERE len(th) >= 8
           |),
           |occ AS (SELECT g, count(*) AS occ FROM grams GROUP BY g),
           |nv AS (
           |  SELECT doc_id,
           |    CAST(floor((CAST(1 AS DOUBLE)
           |      - CAST(sum(CASE WHEN occ >= 2 THEN 1 ELSE 0 END)
           |          AS DOUBLE) / count(*)) * 10000 + 0.5) AS BIGINT)
           |      AS nov
           |  FROM grams JOIN occ USING (g) GROUP BY doc_id
           |),
           |t2 AS (
           |  SELECT doc_id, ${TextHash.duckTokens("text")} AS tk
           |  FROM documents
           |),
           |sig AS (
           |  SELECT t2.doc_id,
           |    CAST(len(tk) AS BIGINT) AS len,
           |    CAST(floor(CAST(list_sum(list_transform(tk,
           |        x -> len(x))) AS DOUBLE) / len(tk) * 10000 + 0.5)
           |      AS BIGINT) AS mwl,
           |    coalesce(nv.nov, 10000) AS nov
           |  FROM t2 LEFT JOIN nv USING (doc_id)
           |),
           |smp AS (
           |  SELECT *, row_number() OVER (
           |    ORDER BY doc_id * ${Sampling.Mixer} % ${Sampling.MixMod},
           |      doc_id) AS rn
           |  FROM sig
           |),
           |thr AS (
           |  SELECT
           |    (SELECT list_sort(list(len)) FROM smp WHERE rn <= 256)
           |      AS vl,
           |    (SELECT list_sort(list(mwl)) FROM smp WHERE rn <= 256)
           |      AS vm,
           |    (SELECT list_sort(list(nov)) FROM smp WHERE rn <= 256)
           |      AS vn
           |),
           |cut AS (
           |  SELECT
           |    vl[CAST(ceil(0.1 * len(vl)) AS BIGINT)] AS p10l,
           |    vl[CAST(ceil(0.5 * len(vl)) AS BIGINT)] AS p50l,
           |    vl[CAST(ceil(0.9 * len(vl)) AS BIGINT)] AS p90l,
           |    vm[CAST(ceil(0.1 * len(vm)) AS BIGINT)] AS p10m,
           |    vm[CAST(ceil(0.5 * len(vm)) AS BIGINT)] AS p50m,
           |    vm[CAST(ceil(0.9 * len(vm)) AS BIGINT)] AS p90m,
           |    vn[CAST(ceil(0.1 * len(vn)) AS BIGINT)] AS p10n,
           |    vn[CAST(ceil(0.5 * len(vn)) AS BIGINT)] AS p50n,
           |    vn[CAST(ceil(0.9 * len(vn)) AS BIGINT)] AS p90n
           |  FROM thr
           |),
           |b AS (
           |  SELECT sig.doc_id, sig.len, sig.mwl, sig.nov,
           |    CASE WHEN len <= p10l THEN 0 WHEN len <= p50l THEN 1
           |         WHEN len <= p90l THEN 2 ELSE 3 END AS s_len,
           |    CASE WHEN mwl <= p10m THEN 0 WHEN mwl <= p50m THEN 1
           |         WHEN mwl <= p90m THEN 2 ELSE 3 END AS s_mwl,
           |    CASE WHEN nov <= p10n THEN 0 WHEN nov <= p50n THEN 1
           |         WHEN nov <= p90n THEN 2 ELSE 3 END AS s_nov
           |  FROM sig, cut
           |)
           |SELECT doc_id, len, mwl, nov,
           |  CAST(s_len AS BIGINT) AS s_len,
           |  CAST(s_mwl AS BIGINT) AS s_mwl,
           |  CAST(s_nov AS BIGINT) AS s_nov,
           |  CAST(s_len + s_mwl + s_nov AS BIGINT) AS ensemble
           |FROM b ORDER BY doc_id""".stripMargin
      }),

    // MAXIMUM-inner-product top-k (the recommender serving score:
    // user·item, where item norms carry popularity signal that
    // cosine normalizes away). The headline result is the exact
    // brute-force ranking — the dot is an index-order fold of exact
    // per-element double products, bit-identical across engines; the
    // SCALE path is Similarity.mipsViaAugmentation (append
    // sqrt(M²−|x|²) to candidates, 0 to queries, then any cosine
    // index serves MIPS unchanged — Bachrach et al. 2014), with
    // ranking equality pinned in OperatorsSpec rather than risking
    // near-tie float swaps against the oracle hash.
    Q("e19_mips_topk",
      (s, d) => Similarity.dotTopK(
          Tables.embeddings(s, d),
          Tables.embeddings(s, d).filter(col("vec_id") < 10), k = 5)
        .select(col("query_id"), col("rank"), col("cand_id"),
          floor(col("ip") * 1000000 + 0.5).cast("long").as("ip_e6"))
        .orderBy("query_id", "rank"),
      Some("""WITH e AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
             |  FROM embeddings
             |),
             |q AS (SELECT vec_id, emb FROM e WHERE vec_id < 10),
             |scored AS (
             |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             |    list_sum(list_transform(range(1, 65),
             |      i -> c.emb[i] * q.emb[i])) AS ip
             |  FROM q JOIN e c ON c.vec_id <> q.vec_id
             |),
             |r AS (
             |  SELECT query_id, cand_id, ip,
             |    row_number() OVER (
             |      PARTITION BY query_id ORDER BY ip DESC, cand_id)
             |      AS rank
             |  FROM scored
             |)
             |SELECT query_id, rank, cand_id,
             |  CAST(floor(ip * 1000000 + 0.5) AS BIGINT) AS ip_e6
             |FROM r WHERE rank <= 5
             |ORDER BY query_id, rank""".stripMargin)),

    // Per-GROUP quantiles via the mergeable KLL/MRL-style sketch —
    // the quantile member of the sketch family (KMV/HLL count
    // distinct, CMS/Misra-Gries count frequency, this summarizes
    // RANK): per-language n_chars percentiles from ONE aggregation
    // pass with bounded O(cap·log n) per-group state, where d38's
    // sample percentiles and d24's exact ones both need the group's
    // full row set in one place. `n` comes from the sketch's summed
    // weights — exactly the group count, pinning the sketch's exact
    // mass conservation in production. cap = 32768 keeps every group
    // lossless at all tested SFs (largest group: en at sf1.0 ≈
    // 20.5k docs), so rank-selection over the sketch IS the exact
    // order statistic and the oracle mirrors it; the compaction
    // regime's rank-error grid is pinned in FunctionsSpec at cap
    // 32/64/128. Quantile rule: smallest v with cumweight·den ≥
    // n·num — integer arithmetic, no float rank anywhere.
    Q("d76_kll_quantiles",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import graft.functions.KllSketch.kll_sketch
        val sk = Tables.documents(s, d)
          .groupBy("lang")
          .agg(kll_sketch(col("n_chars"), 32768).as("sk"))
          .select(col("lang"), col("sk"),
            aggregate(col("sk"), lit(0L),
              (a, x) => a + x.getField("w")).as("n"))
        val cum = sk
          .select(col("lang"), col("n"), explode(col("sk")).as("t"))
          .groupBy(col("lang"), col("n"), col("t.v").as("v"))
          .agg(sum(col("t.w")).as("w"))
          .withColumn("cw",
            sum("w").over(Window.partitionBy("lang").orderBy("v")))
        def qv(name: String, num: Int, den: Int) =
          min(when(col("cw") * den >= col("n") * num, col("v")))
            .as(name)
        cum.groupBy("lang", "n")
          .agg(qv("p25", 1, 4), qv("p50", 1, 2), qv("p75", 3, 4),
            qv("p90", 9, 10))
          .orderBy("lang")
      },
      Some("""WITH g AS (
             |  SELECT lang, n_chars AS v, count(*) AS w
             |  FROM documents GROUP BY 1, 2
             |),
             |nn AS (SELECT lang, CAST(sum(w) AS BIGINT) AS n
             |       FROM g GROUP BY 1),
             |c AS (
             |  SELECT lang, v, CAST(sum(w) OVER (
             |    PARTITION BY lang ORDER BY v) AS BIGINT) AS cw
             |  FROM g
             |)
             |SELECT c.lang AS lang, n,
             |  min(CASE WHEN cw * 4 >= n * 1 THEN v END) AS p25,
             |  min(CASE WHEN cw * 2 >= n * 1 THEN v END) AS p50,
             |  min(CASE WHEN cw * 4 >= n * 3 THEN v END) AS p75,
             |  min(CASE WHEN cw * 10 >= n * 9 THEN v END) AS p90
             |FROM c JOIN nn ON nn.lang = c.lang
             |GROUP BY c.lang, n
             |ORDER BY 1""".stripMargin)),

    // HIERARCHICAL navigable-graph build card (the HNSW layer
    // structure): per level — deterministic 4^-l member sample by
    // the Mixer hash, level 0 the full e28 α-pruned navigable
    // graph, upper levels the probed kNN over the sample — node
    // count, edge count, max out-degree. Sparse upper levels force
    // LONG-RANGE edges (a member's 8 nearest FELLOW MEMBERS span
    // clusters once the sample is thin): the coarse routing layer
    // the flat walk lacks. Scale: each level is one cluster-blocked
    // equi-join + bounded-heap truncation, geometric series
    // dominated by level 0's own build.
    Q("e46_hier_graph",
      (s, d) => Similarity.hierarchicalNavGraphTrained(
          Tables.embeddings(s, d), maxLevel = 4)
        .groupBy("level", "vec_id").agg(count(lit(1)).as("deg"))
        .groupBy("level")
        .agg(count(lit(1)).as("n_nodes"), sum("deg").as("n_edges"),
          max("deg").as("max_deg"))
        .orderBy("level"),
      Some(s"""WITH $trainedKnnCtes,
              |${navGraphCtes(graphK = 16, alpha100 = 120,
                              maxDeg = 16, maxCand = 32)},
              |${(1 to 4).map(l => leveledKnnCtes(s"l$l", l))
                  .mkString(",\n")},
              |alledges AS (
              |  SELECT CAST(0 AS BIGINT) AS level, vec_id, nbr_id
              |  FROM nav
              |${(1 to 4).map(l =>
                  s"  UNION ALL SELECT $l, vec_id, nbr_id " +
                    s"FROM rl$l WHERE rank <= 8").mkString("\n")}
              |),
              |dg AS (
              |  SELECT level, vec_id, count(*) AS deg
              |  FROM alledges GROUP BY 1, 2
              |)
              |SELECT level, CAST(count(*) AS BIGINT) AS n_nodes,
              |  CAST(sum(deg) AS BIGINT) AS n_edges,
              |  CAST(max(deg) AS BIGINT) AS max_deg
              |FROM dg GROUP BY level
              |ORDER BY level""".stripMargin)),

    // Descent-vs-flat recall CURVE at EQUAL expansion budget (the
    // e44/e45 measurement discipline): from ONE shared single entry
    // point (the top level's min id — deliberately label-free: no
    // medoid/centroid knowledge at query time, the regime HNSW is
    // for), recall@4 of the flat level-0 walk vs the full descent,
    // at budgets 24 (flat 3×8 vs descent 4·(1×2)+2×8) and 64 (flat
    // 4×16 vs descent 4·(1×4)+3×16). On this near-uniform synthetic
    // corpus the descent is break-even (the numpy sim and these
    // oracle rows agree); on clustered geometry it strictly wins —
    // OperatorsSpec pins the planted-cluster case where the flat
    // walk NEVER escapes the entry cluster (recall 0) and the
    // descent routes across the sparse upper layer.
    Q("e47_hier_recall",
      (s, d) => {
        import graft.operators.Checkpointing.CutOps
        val emb = Tables.embeddings(s, d)
        val qs = emb.filter(col("vec_id") < 10)
        val lg = Similarity.hierarchicalNavGraphTrained(emb,
          maxLevel = 4).lineageCut
        val g0 = lg.filter(col("level") === 0)
          .select("vec_id", "nbr_id")
        val ent = emb.filter(Similarity.hierLevel(4) >= 4)
          .agg(min("vec_id").as("cand_id"))
        val exact = Similarity.bruteForceTopK(emb, qs, k = 4)
          .select(col("query_id"), col("cand_id"))
        def hits(walk: DataFrame, as: String): DataFrame =
          walk.filter(col("rank") <= 4)
            .select("query_id", "cand_id")
            .join(exact, Seq("query_id", "cand_id"))
            .agg(count(lit(1)).as(as))
        def row(budget: Long, fw: Int, fr: Int, uw: Int, bw: Int,
            r0: Int): DataFrame = {
          val flat = Similarity.graphBeamSearch(emb, qs, g0, ent,
            beamWidth = fw, rounds = fr)
          val hier = Similarity.hierarchicalBeamSearch(emb, qs, lg,
            ent, maxLevel = 4, upperWidth = uw, upperRounds = 1,
            beamWidth = bw, rounds = r0)
          hits(flat, "hf").crossJoin(hits(hier, "hh"))
            .select(lit(budget).as("budget"),
              col("hf").as("n_hits_flat"), col("hh").as("n_hits_hier"),
              (col("hf") * 250).as("recall_flat_e4"),
              (col("hh") * 250).as("recall_hier_e4"))
        }
        row(24L, fw = 8, fr = 3, uw = 2, bw = 8, r0 = 2)
          .unionByName(row(64L, fw = 16, fr = 4, uw = 4, bw = 16,
            r0 = 3))
          .orderBy("budget")
      },
      Some {
        val ent1 = "SELECT min(vec_id) AS cand_id FROM el4"
        def chain(tag: String, uw: Int, bw: Int, r0: Int): String = {
          val top = beamWalkCtes(graphK = 0, rounds = 1,
            beamWidth = uw,
            graphSql = Some("SELECT vec_id, nbr_id FROM rl4 WHERE rank <= 8"),
            sfx = s"${tag}4", entSql = Some(ent1))
          val mids = (3 to 1 by -1).map { l =>
            beamWalkCtes(graphK = 0, rounds = 1, beamWidth = uw,
              graphSql =
                Some(s"SELECT vec_id, nbr_id FROM rl$l WHERE rank <= 8"),
              sfx = s"$tag$l",
              entSql = Some(
                s"SELECT query_id, cand_id FROM bfinal$tag${l + 1}"),
              entPerQuery = true)
          }.mkString(",\n")
          val bottom = beamWalkCtes(graphK = 0, rounds = r0,
            beamWidth = bw,
            graphSql = Some("SELECT vec_id, nbr_id FROM nav"),
            sfx = s"${tag}0",
            entSql = Some(
              s"SELECT query_id, cand_id FROM bfinal${tag}1"),
            entPerQuery = true)
          s"$top,\n$mids,\n$bottom"
        }
        def top4hits(sfx: String, as: String): String =
          s"""${walkTop4Cte(sfx)},
             |$as AS (
             |  SELECT count(*) AS h
             |  FROM w4$sfx JOIN exact USING (query_id, cand_id)
             |)""".stripMargin
        s"""WITH $trainedKnnCtes,
           |${navGraphCtes(graphK = 16, alpha100 = 120,
                           maxDeg = 16, maxCand = 32)},
           |${(1 to 4).map(l => leveledKnnCtes(s"l$l", l))
               .mkString(",\n")},
           |${beamWalkCtes(graphK = 0, rounds = 3, beamWidth = 8,
               graphSql = Some("SELECT vec_id, nbr_id FROM nav"),
               sfx = "fa", entSql = Some(ent1))},
           |${beamWalkCtes(graphK = 0, rounds = 4, beamWidth = 16,
               graphSql = Some("SELECT vec_id, nbr_id FROM nav"),
               sfx = "fb", entSql = Some(ent1))},
           |${chain("ha", uw = 2, bw = 8, r0 = 2)},
           |${chain("hb", uw = 4, bw = 16, r0 = 3)},
           |${exactKnnCtes(4, queries = "qfa")},
           |${top4hits("fa", "hfa")},
           |${top4hits("fb", "hfb")},
           |${top4hits("ha0", "hha")},
           |${top4hits("hb0", "hhb")}
           |SELECT * FROM (
           |  SELECT CAST(24 AS BIGINT) AS budget,
           |    CAST((SELECT h FROM hfa) AS BIGINT) AS n_hits_flat,
           |    CAST((SELECT h FROM hha) AS BIGINT) AS n_hits_hier,
           |    CAST((SELECT h FROM hfa) * 250 AS BIGINT)
           |      AS recall_flat_e4,
           |    CAST((SELECT h FROM hha) * 250 AS BIGINT)
           |      AS recall_hier_e4
           |  UNION ALL
           |  SELECT CAST(64 AS BIGINT),
           |    CAST((SELECT h FROM hfb) AS BIGINT),
           |    CAST((SELECT h FROM hhb) AS BIGINT),
           |    CAST((SELECT h FROM hfb) * 250 AS BIGINT),
           |    CAST((SELECT h FROM hhb) * 250 AS BIGINT)
           |)
           |ORDER BY budget""".stripMargin
      }),

    // HIERARCHICAL incremental attach (Similarity.hierarchicalAttach)
    // — the FreshDiskANN insert discipline (e32) applied to e46's
    // layered build, closing the incremental family's hole at its
    // newest member: the odd-id delta draws its deterministic
    // hierLevel, attaches flat at level 0 (route → heap-truncate →
    // α-prune → fwd + back-link appends, base lists not re-pruned —
    // deferred compaction), and at each upper level l probes only
    // the level-≥l BASE members for its top-8 on the e6 grid —
    // mirroring the build's un-pruned upper layers. Attach cost
    // scales with the delta at every level (geometrically above
    // level 0); the base graph is never read. OperatorsSpec pins
    // attach-then-search recall vs a full rebuild on a planted
    // delta.
    Q("e48_hier_attach",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.hierarchicalAttachTrained(
            emb.filter(col("vec_id") % 5 =!= 2),
            emb.filter(col("vec_id") % 5 === 2), maxLevel = 2)
          .orderBy("level", "vec_id", "kind", "nbr_id")
      },
      Some {
        def upper(l: Int): String = {
          val mod = 1L << (2 * l)
          val member =
            s"vec_id * ${Sampling.Mixer} % ${Sampling.MixMod} % $mod = 0"
          s"""edu$l AS (SELECT vec_id, emb FROM edel WHERE $member),
             |${trainedCellCtes(s"u$l", src = "eb",
                  memberPred = member)},
             |assdu$l AS MATERIALIZED (
             |  SELECT vec_id, emb, cell FROM (
             |    SELECT d.vec_id, d.emb, c.cell,
             |      row_number() OVER (PARTITION BY d.vec_id
             |        ORDER BY ${TextHash.duckCosine("d.emb", "c.cvec",
                        64)} DESC, c.cell) AS rn
             |    FROM edu$l d, mcu$l c
             |  ) WHERE rn <= 2
             |),
             |rtu$l AS MATERIALIZED (
             |  SELECT vec_id, nbr_id, se, row_number() OVER (
             |      PARTITION BY vec_id ORDER BY se DESC, nbr_id)
             |      AS rank
             |  FROM (
             |    SELECT a.vec_id, b.vec_id AS nbr_id,
             |      CAST(floor(${TextHash.duckCosine("a.emb", "b.emb",
                      64)} * 1000000 + 0.5) AS BIGINT) AS se
             |    FROM assdu$l a JOIN a4u$l b ON b.cell = a.cell
             |  )
             |)""".stripMargin
        }
        def upperRows(l: Int): String =
          s"""  UNION ALL
             |  SELECT CAST($l AS BIGINT), vec_id, 'fwd',
             |    CAST(rank AS BIGINT), nbr_id, se
             |  FROM rtu$l WHERE rank <= 8
             |  UNION ALL
             |  SELECT CAST($l AS BIGINT), nbr_id, 'back',
             |    CAST(NULL AS BIGINT), vec_id, se
             |  FROM rtu$l WHERE rank <= 8""".stripMargin
        s"""WITH eb AS MATERIALIZED (
           |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
           |  FROM embeddings WHERE vec_id % 5 <> 2
           |),
           |edel AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           |  FROM embeddings WHERE vec_id % 5 = 2
           |),
           |${trainedCellCtes("b", src = "eb")},
           |assd AS MATERIALIZED (
           |  SELECT vec_id, emb, cell FROM (
           |    SELECT d.vec_id, d.emb, c.cell,
           |      row_number() OVER (PARTITION BY d.vec_id
           |        ORDER BY ${TextHash.duckCosine("d.emb", "c.cvec", 64)}
           |          DESC, c.cell) AS rn
           |    FROM edel d, mcb c
           |  ) WHERE rn <= 2
           |),
           |nc AS MATERIALIZED (
           |  SELECT vec_id, nbr_id, se, crank FROM (
           |    SELECT vec_id, nbr_id, se, row_number() OVER (
           |      PARTITION BY vec_id ORDER BY se DESC, nbr_id) AS crank
           |    FROM (
           |      SELECT a.vec_id, b.vec_id AS nbr_id,
           |        CAST(floor(${TextHash.duckCosine("a.emb", "b.emb", 64)}
           |          * 1000000 + 0.5) AS BIGINT) AS se
           |      FROM assd a JOIN a4b b ON b.cell = a.cell
           |    )
           |  ) WHERE crank <= 32
           |),
           |${alphaPruneStepsSql(alpha100 = 120, maxDeg = 16,
                                 maxCand = 32, embCte = "eb")},
           |${upper(1)},
           |${upper(2)}
           |SELECT * FROM (
           |  SELECT CAST(0 AS BIGINT) AS level, vec_id, 'fwd' AS kind,
           |    CAST(rank AS BIGINT) AS rank, nbr_id, se AS sim_e6
           |  FROM nav
           |  UNION ALL
           |  SELECT CAST(0 AS BIGINT), nbr_id, 'back',
           |    CAST(NULL AS BIGINT), vec_id, se FROM nav
           |${upperRows(1)}
           |${upperRows(2)}
           |)
           |ORDER BY level, vec_id, kind, nbr_id""".stripMargin
      }),

    // Nav-graph MAINTENANCE health card (the e29 discipline for the
    // e28/e32 index — the number that decides the periodic rebuild):
    // e32's deferred-compaction attach appends backlinks to base
    // adjacency lists WITHOUT re-pruning them, so maintenance debt
    // accumulates invisibly until walk quality degrades. The card
    // binds, over a base build (even ids, trained cells) + one
    // attach batch (odd ids): backlink DEBT (appended un-pruned
    // edges), degree-cap OVERFLOW (base nodes whose built degree +
    // appended backlinks exceed the cap, and the excess sum — the
    // compaction workload), and RECIPROCITY before/after (the e31
    // structural number; drift measures how far the graph is from
    // its built invariants). All counts/integer fixed-point — oracle
    // exact. Scale shape: the build and attach are the e28/e32
    // plans; the card itself is two partial-agg degree passes + two
    // co-partitioned reciprocity self-joins + one-row broadcast
    // combines. OperatorsSpec pins that heavier attach histories
    // degrade debt/overflow monotonically.
    Q("e51_nav_health",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val base = emb.filter(col("vec_id") % 2 === 0)
        val delta = emb.filter(col("vec_id") % 2 === 1)
        val tcb = Similarity.trainedCells(base)
        val built = Similarity.navigableGraph(base,
            Similarity.knnGraphProbed(tcb, "cell", k = 16, nprobe = 2)
              .select(col("vec_id"), col("nbr_id")))
        val att = Similarity.navigableAttach(tcb, delta, "cell")
        Similarity.navAttachHealth(base, built, att)
      },
      Some(s"""WITH e AS MATERIALIZED (
              |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
              |  FROM embeddings WHERE vec_id % 2 = 0
              |),
              |${trainedCellCtes()},
              |${navGraphCtes(graphK = 16, alpha100 = 120,
                              maxDeg = 16, maxCand = 32)},
              |edel AS (
              |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
              |  FROM embeddings WHERE vec_id % 2 = 1
              |),
              |assd AS MATERIALIZED (
              |  SELECT vec_id, emb, cell FROM (
              |    SELECT d.vec_id, d.emb, c.cell,
              |      row_number() OVER (PARTITION BY d.vec_id
              |        ORDER BY ${TextHash.duckCosine("d.emb", "c.cvec", 64)}
              |          DESC, c.cell) AS rn
              |    FROM edel d, mc c
              |  ) WHERE rn <= 2
              |),
              |dnc AS MATERIALIZED (
              |  SELECT vec_id, nbr_id, se, crank FROM (
              |    SELECT vec_id, nbr_id, se, row_number() OVER (
              |      PARTITION BY vec_id ORDER BY se DESC, nbr_id) AS crank
              |    FROM (
              |      SELECT a.vec_id, b.vec_id AS nbr_id,
              |        CAST(floor(${TextHash.duckCosine("a.emb", "b.emb", 64)}
              |          * 1000000 + 0.5) AS BIGINT) AS se
              |      FROM assd a JOIN a4 b ON b.cell = a.cell
              |    )
              |  ) WHERE crank <= 32
              |),
              |${alphaPruneStepsSql(alpha100 = 120, maxDeg = 16,
                                    maxCand = 32, ncCte = "dnc",
                                    pfx = "d")},
              |built AS (SELECT vec_id, nbr_id FROM nav),
              |attg AS (
              |  SELECT vec_id, nbr_id FROM dnav
              |  UNION ALL
              |  SELECT nbr_id AS vec_id, vec_id AS nbr_id FROM dnav
              |),
              |ug AS (SELECT * FROM built UNION ALL SELECT * FROM attg),
              |counts AS (
              |  SELECT
              |    (SELECT count(*) FROM e) AS n_base_nodes,
              |    (SELECT count(*) FROM built) AS n_built_edges,
              |    (SELECT count(*) FROM dnav) AS n_attach_fwd,
              |    (SELECT count(*) FROM dnav) AS n_backlink_debt
              |),
              |degs AS (
              |  SELECT vec_id, count(*) AS deg FROM (
              |    SELECT vec_id FROM built
              |    UNION ALL
              |    SELECT nbr_id AS vec_id FROM dnav
              |  ) GROUP BY vec_id
              |),
              |over AS (
              |  SELECT
              |    coalesce(sum(CASE WHEN deg > 16 THEN 1 END), 0)
              |      AS overflow_nodes,
              |    coalesce(sum(CASE WHEN deg > 16 THEN deg - 16 END), 0)
              |      AS overflow_excess
              |  FROM degs
              |),
              |rb AS (
              |  SELECT CAST(CASE
              |    WHEN (SELECT count(*) FROM built) = 0 THEN 0
              |    ELSE (SELECT count(*) FROM built x JOIN built y
              |        ON y.vec_id = x.nbr_id AND y.nbr_id = x.vec_id)
              |      * 1000000 // (SELECT count(*) FROM built)
              |    END AS BIGINT) AS reciprocity_built_e6
              |),
              |ra AS (
              |  SELECT CAST(CASE
              |    WHEN (SELECT count(*) FROM ug) = 0 THEN 0
              |    ELSE (SELECT count(*) FROM ug x JOIN ug y
              |        ON y.vec_id = x.nbr_id AND y.nbr_id = x.vec_id)
              |      * 1000000 // (SELECT count(*) FROM ug)
              |    END AS BIGINT) AS reciprocity_after_e6
              |)
              |SELECT CAST(n_base_nodes AS BIGINT) AS n_base_nodes,
              |  CAST(n_built_edges AS BIGINT) AS n_built_edges,
              |  CAST(n_attach_fwd AS BIGINT) AS n_attach_fwd,
              |  CAST(n_backlink_debt AS BIGINT) AS n_backlink_debt,
              |  CAST(overflow_nodes AS BIGINT) AS overflow_nodes,
              |  CAST(overflow_excess AS BIGINT) AS overflow_excess,
              |  reciprocity_built_e6, reciprocity_after_e6
              |FROM counts, over, rb, ra""".stripMargin)),

    // SELECTIVE nav-graph COMPACTION (the FreshDiskANN consolidate
    // step — the payoff of e51's card, which measures maintenance
    // debt this operator PAYS): fold the e32 attach history into the
    // e28 built graph by re-pruning ONLY base nodes whose built
    // degree + backlink appends exceed the cap (heap-truncate the
    // merged list to 32, then the SAME RobustPrune core the build
    // used), rank-refreshing appended-but-within-cap lists, and
    // passing every untouched list through bit-for-bit — cost ∝ the
    // overflow/appended sets, never the corpus (the full e28 rebuild
    // was previously the only remedy). Output is ONE consolidated
    // graph over base ∪ delta on which e51 (empty attach) reads zero
    // debt/overflow — OperatorsSpec pins that closure, the degree
    // cap, and attached-node walk-reachability. Oracle: the e51
    // fixture chain (build + attach), then the merged-list classes
    // and one more alphaPrune unroll over the overflow candidates.
    Q("e52_nav_compact",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val base = emb.filter(col("vec_id") % 2 === 0)
        val delta = emb.filter(col("vec_id") % 2 === 1)
        val tcb = Similarity.trainedCells(base)
        val built = Similarity.navigableGraph(base,
            Similarity.knnGraphProbed(tcb, "cell", k = 16, nprobe = 2)
              .select(col("vec_id"), col("nbr_id")))
        val att = Similarity.navigableAttach(tcb, delta, "cell")
        Similarity.navCompact(emb, built, att)
          .orderBy("vec_id", "rank")
      },
      Some(s"""WITH e AS MATERIALIZED (
              |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
              |  FROM embeddings WHERE vec_id % 2 = 0
              |),
              |${trainedCellCtes()},
              |${navGraphCtes(graphK = 16, alpha100 = 120,
                              maxDeg = 16, maxCand = 32)},
              |edel AS (
              |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
              |  FROM embeddings WHERE vec_id % 2 = 1
              |),
              |assd AS MATERIALIZED (
              |  SELECT vec_id, emb, cell FROM (
              |    SELECT d.vec_id, d.emb, c.cell,
              |      row_number() OVER (PARTITION BY d.vec_id
              |        ORDER BY ${TextHash.duckCosine("d.emb", "c.cvec", 64)}
              |          DESC, c.cell) AS rn
              |    FROM edel d, mc c
              |  ) WHERE rn <= 2
              |),
              |dnc AS MATERIALIZED (
              |  SELECT vec_id, nbr_id, se, crank FROM (
              |    SELECT vec_id, nbr_id, se, row_number() OVER (
              |      PARTITION BY vec_id ORDER BY se DESC, nbr_id) AS crank
              |    FROM (
              |      SELECT a.vec_id, b.vec_id AS nbr_id,
              |        CAST(floor(${TextHash.duckCosine("a.emb", "b.emb", 64)}
              |          * 1000000 + 0.5) AS BIGINT) AS se
              |      FROM assd a JOIN a4 b ON b.cell = a.cell
              |    )
              |  ) WHERE crank <= 32
              |),
              |${alphaPruneStepsSql(alpha100 = 120, maxDeg = 16,
                                    maxCand = 32, ncCte = "dnc",
                                    pfx = "d")},
              |eall AS MATERIALIZED (
              |  SELECT vec_id, emb FROM e
              |  UNION ALL
              |  SELECT vec_id, emb FROM edel
              |),
              |backs AS (
              |  SELECT nbr_id AS vec_id, vec_id AS nbr_id, se
              |  FROM dnav
              |),
              |appn AS MATERIALIZED (SELECT DISTINCT vec_id FROM backs),
              |merged AS MATERIALIZED (
              |  SELECT n.vec_id, n.nbr_id, n.se
              |  FROM nav n JOIN appn USING (vec_id)
              |  UNION ALL
              |  SELECT vec_id, nbr_id, se FROM backs
              |),
              |overn AS MATERIALIZED (
              |  SELECT vec_id FROM merged GROUP BY vec_id
              |  HAVING count(*) > 16
              |),
              |cnc AS MATERIALIZED (
              |  SELECT vec_id, nbr_id, se, crank FROM (
              |    SELECT m.vec_id, m.nbr_id, m.se, row_number() OVER (
              |      PARTITION BY m.vec_id ORDER BY m.se DESC, m.nbr_id)
              |      AS crank
              |    FROM merged m JOIN overn USING (vec_id)
              |  ) WHERE crank <= 32
              |),
              |${alphaPruneStepsSql(alpha100 = 120, maxDeg = 16,
                                    maxCand = 32, embCte = "eall",
                                    ncCte = "cnc", pfx = "c")}
              |SELECT * FROM (
              |  SELECT n.vec_id, n.rank, n.nbr_id, n.se AS sim_e6
              |  FROM nav n
              |  WHERE NOT EXISTS (SELECT 1 FROM appn p
              |    WHERE p.vec_id = n.vec_id)
              |  UNION ALL
              |  SELECT m.vec_id, row_number() OVER (
              |      PARTITION BY m.vec_id ORDER BY m.se DESC, m.nbr_id)
              |      AS rank, m.nbr_id, m.se AS sim_e6
              |  FROM merged m
              |  WHERE NOT EXISTS (SELECT 1 FROM overn o
              |    WHERE o.vec_id = m.vec_id)
              |  UNION ALL
              |  SELECT vec_id, rank, nbr_id, se AS sim_e6 FROM cnav
              |  UNION ALL
              |  SELECT vec_id, rank, nbr_id, se AS sim_e6 FROM dnav
              |) ORDER BY vec_id, rank""".stripMargin)),

    // Nav-graph DELETE + consolidate (the FreshDiskANN delete step —
    // completes the index-maintenance triple: e32 inserts, e52 pays
    // append debt, this REMOVES): tombstone every 10th vector and
    // reconnect the e28 graph through the deleted nodes — each
    // survivor that lost an out-edge gets its deleted neighbors
    // replaced by their own out-neighborhoods, rescored on the e6
    // grid, heap-truncated to 32 and re-pruned with the build's
    // RobustPrune core; survivors with no deleted neighbor pass
    // through bit-for-bit, deleted rows vanish in both directions.
    // Cost ∝ the affected slice, never the corpus. Oracle: the e28
    // chain + affected/bridge CTEs + one more α-prune unroll.
    Q("e53_nav_delete",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val built = Similarity.navigableGraph(emb,
          Similarity.knnGraphProbed(Similarity.trainedCells(emb),
              "cell", k = 16, nprobe = 2)
            .select(col("vec_id"), col("nbr_id")))
        Similarity.navDelete(emb, built,
            emb.filter(col("vec_id") % 10 === 0).select("vec_id"))
          .orderBy("vec_id", "rank")
      },
      Some(s"""WITH $trainedKnnCtes,
              |${navGraphCtes(graphK = 16, alpha100 = 120,
                              maxDeg = 16, maxCand = 32)},
              |del AS (SELECT vec_id FROM e WHERE vec_id % 10 = 0),
              |alive AS (
              |  SELECT n.* FROM nav n
              |  WHERE NOT EXISTS (SELECT 1 FROM del d
              |    WHERE d.vec_id = n.vec_id)
              |),
              |aff AS MATERIALIZED (
              |  SELECT DISTINCT a.vec_id
              |  FROM alive a JOIN del d ON d.vec_id = a.nbr_id
              |),
              |keepe AS (
              |  SELECT a.vec_id, a.nbr_id
              |  FROM alive a JOIN aff USING (vec_id)
              |  WHERE NOT EXISTS (SELECT 1 FROM del d
              |    WHERE d.vec_id = a.nbr_id)
              |),
              |bridge AS (
              |  SELECT a.vec_id, m.nbr_id
              |  FROM alive a JOIN aff USING (vec_id)
              |  JOIN del d ON d.vec_id = a.nbr_id
              |  JOIN nav m ON m.vec_id = a.nbr_id
              |  WHERE NOT EXISTS (SELECT 1 FROM del dd
              |    WHERE dd.vec_id = m.nbr_id)
              |    AND m.nbr_id <> a.vec_id
              |),
              |cand0 AS (
              |  SELECT DISTINCT vec_id, nbr_id FROM (
              |    SELECT * FROM keepe UNION ALL SELECT * FROM bridge
              |  )
              |),
              |xnc AS MATERIALIZED (
              |  SELECT vec_id, nbr_id, se, crank FROM (
              |    SELECT vec_id, nbr_id, se, row_number() OVER (
              |      PARTITION BY vec_id ORDER BY se DESC, nbr_id)
              |      AS crank
              |    FROM (
              |      SELECT c.vec_id, c.nbr_id,
              |        CAST(floor(${TextHash.duckCosine("a.emb", "b.emb", 64)}
              |          * 1000000 + 0.5) AS BIGINT) AS se
              |      FROM cand0 c
              |      JOIN e a ON a.vec_id = c.vec_id
              |      JOIN e b ON b.vec_id = c.nbr_id
              |    )
              |  ) WHERE crank <= 32
              |),
              |${alphaPruneStepsSql(alpha100 = 120, maxDeg = 16,
                                    maxCand = 32, ncCte = "xnc",
                                    pfx = "x")}
              |SELECT * FROM (
              |  SELECT a.vec_id, a.rank, a.nbr_id, a.se AS sim_e6
              |  FROM alive a
              |  WHERE NOT EXISTS (SELECT 1 FROM aff f
              |    WHERE f.vec_id = a.vec_id)
              |  UNION ALL
              |  SELECT vec_id, rank, nbr_id, se AS sim_e6 FROM xnav
              |) ORDER BY vec_id, rank""".stripMargin))
  )
}

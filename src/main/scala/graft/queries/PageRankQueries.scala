package graft.queries

import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.functions.TextHash
import graft.graph.{LinkGraph, PageRank}
import graft.operators.Sampling
import graft.sources.WikiPageRankPipeline

/** The reference surface (SURVEY.md §2 block A): page count, link
  * graph extraction, 10-iteration damped PageRank, descending rank
  * sort — re-expressed as declarative Spark plans over the
  * `documents` table's word-follow graph.
  */
object PageRankQueries {

  /** Shared DuckDB CTEs: tokenized docs → distinct word-follow edges. */
  private val edgeCtes: String =
    """w AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
      |  FROM documents WHERE length(trim(text)) > 0
      |),
      |e AS (
      |  SELECT DISTINCT p.s AS src, p.d AS dst
      |  FROM (SELECT unnest(list_transform(range(1, len(w)),
      |                      i -> {'s': w[i], 'd': w[i+1]})) AS p
      |        FROM w WHERE len(w) >= 2)
      |)""".stripMargin

  /** Landmark set for the g10/g23 distance cards — ONE recipe so the
    * eccentricity card provably measures the same landmarks as the
    * harmonic card it pairs with: the first 5 nodes (by name) of the
    * symmetrized LOOP-FREE node set (a self-loop-only node has no
    * BFS reach and its selection would diverge from the oracle's
    * sym-derived set).
    */
  private def graphLandmarks(e: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val nd = e.filter(col("src") =!= col("dst"))
    nd.select(col("src").as("node"))
      .union(nd.select(col("dst").as("node"))).distinct()
      .orderBy("node").limit(5)
  }

  /** `und` (a, b): each loop-free word-follow edge once, a < b. */
  private val undCte: String =
    """und AS (
      |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |  FROM e WHERE src <> dst
      |)""".stripMargin

  /** [[undCte]] plus `sym` (u, v): each undirected edge in both
    * directions.
    */
  private def symCtes(materialized: Boolean = false): String = {
    val as = if (materialized) "AS MATERIALIZED" else "AS"
    s"""$undCte,
       |sym $as (
       |  SELECT a AS u, b AS v FROM und
       |  UNION ALL
       |  SELECT b AS u, a AS v FROM und
       |)""".stripMargin
  }

  /** DuckDB CTEs for the full PageRank iteration chain: nodes, degrees
    * and r0..r{iters} (unrolled — recursive CTEs can't aggregate).
    * Mirrors graft.graph.PageRank.run's semantics exactly.
    */
  private def rankCtes(iters: Int): String =
    s"""$edgeCtes,
       |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       |ed AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |r0 AS (
       |  SELECT node,
       |         CAST(1.0 AS DOUBLE) / (SELECT count(*) FROM nodes) AS rank
       |  FROM nodes
       |),
       |${rankSteps("r", "ed", "nodes", iters)}""".stripMargin

  /** One unrolled reference-formula iteration block, parameterized on
    * CTE names — shared by [[rankCtes]], [[hubRankCtes]] (whose
    * steps are MATERIALIZED), [[warmRankCtes]] and [[deltaRankCtes]].
    */
  private def rankSteps(prefix: String, edTable: String,
      nodeTable: String, iters: Int, materialized: Boolean = false)
      : String =
    (1 to iters).map { i =>
      val as = if (materialized) "AS MATERIALIZED" else "AS"
      s"""$prefix$i $as (
         |  SELECT n.node,
         |         CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE) *
         |           coalesce(sum(p.rank / ed.outdeg), CAST(0 AS DOUBLE)) AS rank
         |  FROM $nodeTable n
         |  LEFT JOIN $edTable ed ON ed.dst = n.node
         |  LEFT JOIN $prefix${i - 1} p ON p.node = ed.src
         |  GROUP BY n.node
         |)""".stripMargin
    }.mkString(",\n")

  /** Word-graph CTEs over a doc_id-predicated SNAPSHOT of the corpus,
    * suffix-parameterized so several snapshots coexist in one oracle
    * (w/e/deg/ed/nodes + the uniform-init `{sfx}0` rank table) —
    * shared by [[warmRankCtes]] (yesterday ⊂ today) and
    * [[deltaRankCtes]] (overlapping snapshots, so departed nodes
    * exist and 'gone' is exercised).
    */
  private def snapshotGraphCtes(sfx: String, pred: String): String =
    s"""w$sfx AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
       |  FROM documents
       |  WHERE length(trim(text)) > 0 AND ($pred)
       |),
       |e$sfx AS (
       |  SELECT DISTINCT p.s AS src, p.d AS dst
       |  FROM (SELECT unnest(list_transform(range(1, len(w)),
       |                      i -> {'s': w[i], 'd': w[i+1]})) AS p
       |        FROM w$sfx WHERE len(w) >= 2)
       |),
       |deg$sfx AS (SELECT src, count(*) AS outdeg FROM e$sfx GROUP BY src),
       |ed$sfx AS (SELECT e$sfx.src, e$sfx.dst, deg$sfx.outdeg
       |        FROM e$sfx JOIN deg$sfx USING (src)),
       |nodes$sfx AS (
       |  SELECT src AS node FROM e$sfx UNION SELECT dst FROM e$sfx),
       |${sfx}0 AS (
       |  SELECT node,
       |         CAST(1.0 AS DOUBLE) / (SELECT count(*) FROM nodes$sfx)
       |           AS rank
       |  FROM nodes$sfx
       |)""".stripMargin

  /** DuckDB CTEs for the INCREMENTAL warm-start chain (pr_warm_start):
    * `baseIters` rounds over YESTERDAY's graph ([[baseGraphCtes]]),
    * then `warmIters` rounds over TODAY's full graph seeded from the
    * base result, with 1/N for nodes new since the seed — mirroring
    * PageRank.run(seedRanks = …) exactly (same left-join coalesce
    * init, same per-round formula as [[rankCtes]]).
    */
  private def warmRankCtes(baseIters: Int, warmIters: Int): String =
    s"""${snapshotGraphCtes("b", "doc_id % 2 = 0")},
       |${rankSteps("b", "edb", "nodesb", baseIters)},
       |$edgeCtes,
       |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       |ed AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |s0 AS (
       |  SELECT n.node,
       |         coalesce(b.rank,
       |           CAST(1.0 AS DOUBLE) / (SELECT count(*) FROM nodes)) AS rank
       |  FROM nodes n LEFT JOIN b$baseIters b ON b.node = n.node
       |),
       |${rankSteps("s", "ed", "nodes", warmIters)}""".stripMargin

  /** DuckDB CTEs for the snapshot rank DELTA (g13_rank_delta): two
    * INDEPENDENT `iters`-round chains over OVERLAPPING snapshots —
    * yesterday = doc_id%3 ∈ {0,1} (b-chain), today = doc_id%3 ∈
    * {1,2} (f-chain) — both from uniform init, for the movers join.
    * Overlap (not nesting) is load-bearing: words exclusive to the
    * departed doc_id%3=0 docs exist only in yesterday's graph, so
    * the 'gone' status is live data, not a dead branch.
    */
  private def deltaRankCtes(iters: Int): String =
    s"""${snapshotGraphCtes("b", "doc_id % 3 < 2")},
       |${rankSteps("b", "edb", "nodesb", iters)},
       |${snapshotGraphCtes("f", "doc_id % 3 > 0")},
       |${rankSteps("f", "edf", "nodesf", iters)}""".stripMargin

  /** DuckDB CTEs for the iteration chain over the word graph plus a
    * planted pathological hub (every src word also links to '#hub',
    * so the hub's incoming contribution list is the whole src set —
    * the skewed-aggregation-key shape). Semantics identical to
    * [[rankCtes]] on the widened edge set; the SPARK side differs
    * only in layout (two-stage salted sum), which must not change
    * results.
    */
  private def hubRankCtes(iters: Int): String =
    s"""$edgeCtes,
       |e2 AS MATERIALIZED (
       |  SELECT src, dst FROM e
       |  UNION ALL
       |  SELECT DISTINCT src, '#hub' AS dst FROM e
       |),
       |deg AS (SELECT src, count(*) AS outdeg FROM e2 GROUP BY src),
       |ed AS MATERIALIZED (
       |  SELECT e2.src, e2.dst, deg.outdeg FROM e2 JOIN deg USING (src)
       |),
       |nodes AS MATERIALIZED (
       |  SELECT src AS node FROM e2 UNION SELECT dst FROM e2
       |),
       |r0 AS (
       |  SELECT node,
       |         CAST(1.0 AS DOUBLE) / (SELECT count(*) FROM nodes) AS rank
       |  FROM nodes
       |),
       |${rankSteps("r", "ed", "nodes", iters, materialized = true)}"""
      .stripMargin

  /** DuckDB CTEs for the WEIGHTED iteration chain (mirrors
    * graft.graph.PageRank.runWeighted: contribution =
    * rank / out-weight · edge-weight, same operation order).
    */
  private def weightedRankCtes(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT n.node,
         |         CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE) *
         |           coalesce(sum(p.rank / ed.outw * ed.weight),
         |                    CAST(0 AS DOUBLE)) AS rank
         |  FROM nodes n
         |  LEFT JOIN ed ON ed.dst = n.node
         |  LEFT JOIN r${i - 1} p ON p.node = ed.src
         |  GROUP BY n.node
         |)""".stripMargin
    }.mkString(",\n")
    """w AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
      |  FROM documents WHERE length(trim(text)) > 0
      |),
      |we AS MATERIALIZED (
      |  SELECT p.s AS src, p.d AS dst, count(*) AS weight
      |  FROM (SELECT unnest(list_transform(range(1, len(w)),
      |                      i -> {'s': w[i], 'd': w[i+1]})) AS p
      |        FROM w WHERE len(w) >= 2)
      |  GROUP BY 1, 2
      |),
      |wdeg AS (SELECT src, CAST(sum(weight) AS BIGINT) AS outw
      |         FROM we GROUP BY src),
      |ed AS MATERIALIZED (
      |  SELECT we.src, we.dst, we.weight, wdeg.outw
      |  FROM we JOIN wdeg USING (src)
      |),
      |nodes AS MATERIALIZED (
      |  SELECT src AS node FROM we UNION SELECT dst FROM we
      |),
      |r0 AS (
      |  SELECT node,
      |         CAST(1.0 AS DOUBLE) / (SELECT count(*) FROM nodes) AS rank
      |  FROM nodes
      |),
      |""".stripMargin + steps
  }

  /** DuckDB CTEs for the mass-CONSERVING chain over the word graph
    * plus planted dangling sinks (every src word of length % 3 == 0
    * links to a '#sink' node with no outlinks). Mirrors
    * graft.graph.PageRank.run(redistributeDangling = true):
    * PR' = (1-d)/N + d·(Σ pr/outdeg + DM/N), DM = Σ dangling ranks.
    */
  private def conservingRankCtes(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""d$i AS (
         |  SELECT coalesce(sum(r.rank), CAST(0 AS DOUBLE)) AS dm
         |  FROM r${i - 1} r WHERE r.node NOT IN (SELECT src FROM e2)
         |),
         |r$i AS MATERIALIZED (
         |  SELECT n.node,
         |    CAST(0.15 AS DOUBLE) / (SELECT count(*) FROM nodes) +
         |    CAST(0.85 AS DOUBLE) *
         |      (coalesce(sum(p.rank / ed.outdeg), CAST(0 AS DOUBLE))
         |       + (SELECT dm FROM d$i) / (SELECT count(*) FROM nodes))
         |      AS rank
         |  FROM nodes n
         |  LEFT JOIN ed ON ed.dst = n.node
         |  LEFT JOIN r${i - 1} p ON p.node = ed.src
         |  GROUP BY n.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""$edgeCtes,
       |e2 AS MATERIALIZED (
       |  SELECT src, dst FROM e
       |  UNION ALL
       |  SELECT DISTINCT src, src || '#sink' AS dst FROM e
       |  WHERE length(src) % 3 = 0
       |),
       |deg AS (SELECT src, count(*) AS outdeg FROM e2 GROUP BY src),
       |ed AS MATERIALIZED (
       |  SELECT e2.src, e2.dst, deg.outdeg FROM e2 JOIN deg USING (src)
       |),
       |nodes AS MATERIALIZED (
       |  SELECT src AS node FROM e2 UNION SELECT dst FROM e2
       |),
       |r0 AS (
       |  SELECT node,
       |         CAST(1.0 AS DOUBLE) / (SELECT count(*) FROM nodes) AS rank
       |  FROM nodes
       |),
       |$steps""".stripMargin
  }

  /** DuckDB CTEs for the PERSONALIZED chain: teleport mass lands on
    * `srcList` (SQL IN-list) instead of uniformly. Mirrors
    * graft.graph.PageRank.runPersonalized.
    */
  private def personalizedRankCtes(iters: Int, srcList: String,
      nSrc: Int): String = {
    def tele(node: String) =
      s"CASE WHEN $node IN ($srcList) THEN CAST(1.0 AS DOUBLE) / $nSrc " +
        "ELSE CAST(0 AS DOUBLE) END"
    val steps = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT n.node,
         |         CAST(0.15 AS DOUBLE) * ${tele("n.node")} +
         |         CAST(0.85 AS DOUBLE) *
         |           coalesce(sum(p.rank / ed.outdeg), CAST(0 AS DOUBLE))
         |           AS rank
         |  FROM nodes n
         |  LEFT JOIN ed ON ed.dst = n.node
         |  LEFT JOIN r${i - 1} p ON p.node = ed.src
         |  GROUP BY n.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""$edgeCtes,
       |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       |ed AS MATERIALIZED (
       |  SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)
       |),
       |nodes AS MATERIALIZED (
       |  SELECT src AS node FROM e UNION SELECT dst FROM e
       |),
       |r0 AS (SELECT node, ${tele("node")} AS rank FROM nodes),
       |$steps""".stripMargin
  }

  /** DuckDB CTEs for the unrolled k-core peeling waves: `sym` is the
    * symmetric distinct-neighbor list; a1..a{waves} the alive sets
    * (a1 = degree ≥ k over all; each next wave re-counts among the
    * previous survivors). Mirrors graft.graph.KCore.survivors.
    */
  private def kcoreCtes(k: Int, waves: Int): String = {
    val steps = (2 to waves).map { i =>
      s"""a$i AS MATERIALIZED (
         |  SELECT s.u AS node FROM sym s
         |  JOIN a${i - 1} x ON s.u = x.node
         |  JOIN a${i - 1} y ON s.v = y.node
         |  GROUP BY s.u HAVING count(*) >= $k
         |)""".stripMargin
    }.mkString(",\n")
    s"""${symCtes(materialized = true)},
       |a1 AS MATERIALIZED (
       |  SELECT u AS node FROM sym GROUP BY u HAVING count(*) >= $k
       |),
       |$steps""".stripMargin
  }

  /** DuckDB CTEs for the HITS iteration chain — mirrors
    * graft.graph.Hits.run's half-step order and operation association
    * exactly: raw auth pull (sum of hubs over in-edges), L1-normalize
    * against the raw sum, hub pull-back of the NORMALIZED auths,
    * L1-normalize. Missing contributions coalesce to 0 BEFORE the
    * division on both sides.
    */
  private def hitsCtes(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""ar$i AS MATERIALIZED (
         |  SELECT e.dst AS node, sum(s.hub) AS a_raw
         |  FROM e JOIN s${i - 1} s ON s.node = e.src GROUP BY e.dst
         |),
         |a$i AS MATERIALIZED (
         |  SELECT n.node,
         |    coalesce(ar.a_raw, CAST(0 AS DOUBLE)) /
         |      (SELECT sum(a_raw) FROM ar$i) AS auth
         |  FROM nodes n LEFT JOIN ar$i ar ON ar.node = n.node
         |),
         |hr$i AS MATERIALIZED (
         |  SELECT e.src AS node, sum(a.auth) AS h_raw
         |  FROM e JOIN a$i a ON a.node = e.dst GROUP BY e.src
         |),
         |s$i AS MATERIALIZED (
         |  SELECT n.node, a.auth,
         |    coalesce(hr.h_raw, CAST(0 AS DOUBLE)) /
         |      (SELECT sum(h_raw) FROM hr$i) AS hub
         |  FROM nodes n
         |  JOIN a$i a ON a.node = n.node
         |  LEFT JOIN hr$i hr ON hr.node = n.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""$edgeCtes,
       |nodes AS MATERIALIZED (
       |  SELECT src AS node FROM e UNION SELECT dst FROM e
       |),
       |s0 AS (
       |  SELECT node, CAST(1.0 AS DOUBLE) AS auth,
       |         CAST(1.0 AS DOUBLE) AS hub
       |  FROM nodes
       |),
       |$steps""".stripMargin
  }

  def all: Seq[Q] = Seq(

    // Phase 1 of the reference: count non-empty pages.
    Q("pr_page_count",
      (s, d) => Tables.documents(s, d)
        .filter(length(trim(col("text"))) > 0)
        .agg(count(lit(1)).as("n_pages")),
      Some("""SELECT count(*) AS n_pages
             |FROM documents WHERE length(trim(text)) > 0""".stripMargin)),

    // Phase 2 of the reference, literal wiki-markup shape: fabricate a
    // deterministic wiki page per document, then regex-extract
    // title + [[outlinks]] exactly as the reference's linkGraphJob.
    Q("pr_wiki_extract",
      (s, d) => {
        val w = Tables.documents(s, d)
          .filter(length(trim(col("text"))) > 0)
          .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
          .filter(size(col("w")) >= 2)
        val pages = w.select(concat(
          lit("<title>doc_"), col("doc_id"), lit("</title> "),
          lit("<text xml:space=\"preserve\"> see [["), expr("w[0]"),
          lit("]] and [["), expr("w[1]"), lit("]]</text>")).as("page"))
        LinkGraph.parseWikiPages(pages, "page").orderBy("title", "outlink")
      },
      Some(raw"""WITH $edgeCtes,
              |p AS (
              |  SELECT '<title>doc_' || doc_id || '</title> ' ||
              |         '<text xml:space="preserve"> see [[' || w[1] ||
              |         ']] and [[' || w[2] || ']]</text>' AS page
              |  FROM w WHERE len(w) >= 2
              |),
              |t AS (
              |  SELECT regexp_extract(page, '<title>(.*?)</title>', 1) AS title,
              |         regexp_extract(page, '<text(.*?)</text>', 1) AS body
              |  FROM p
              |),
              |x AS (
              |  SELECT title,
              |         unnest(regexp_extract_all(body, '\[\[(.*?)\]\]', 1)) AS outlink
              |  FROM t WHERE title <> ''
              |)
              |SELECT title, outlink FROM x ORDER BY title, outlink""".stripMargin)),

    // Anchor/in-link aggregation over the extracted link graph — the
    // web-corpus companion of phase 2 (per TARGET page: how many
    // links point at it, from how many distinct sources). The
    // in-link count is PageRank's raw material and the classic
    // anchor-text signal for retrieval corpora; the whole query is
    // one partial-aggregated groupBy on the target key.
    Q("pr_anchor_stats",
      (s, d) => {
        val w = Tables.documents(s, d)
          .filter(length(trim(col("text"))) > 0)
          .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
          .filter(size(col("w")) >= 2)
        val pages = w.select(concat(
          lit("<title>doc_"), col("doc_id"), lit("</title> "),
          lit("<text xml:space=\"preserve\"> see [["), expr("w[0]"),
          lit("]] and [["), expr("w[1]"), lit("]]</text>")).as("page"))
        LinkGraph.parseWikiPages(pages, "page")
          .groupBy(col("outlink").as("target"))
          .agg(count(lit(1)).as("n_links"),
            countDistinct("title").as("n_sources"))
          .orderBy("target")
      },
      Some(raw"""WITH $edgeCtes,
              |p AS (
              |  SELECT '<title>doc_' || doc_id || '</title> ' ||
              |         '<text xml:space="preserve"> see [[' || w[1] ||
              |         ']] and [[' || w[2] || ']]</text>' AS page
              |  FROM w WHERE len(w) >= 2
              |),
              |t AS (
              |  SELECT regexp_extract(page, '<title>(.*?)</title>', 1)
              |    AS title,
              |         regexp_extract(page, '<text(.*?)</text>', 1) AS body
              |  FROM p
              |),
              |x AS (
              |  SELECT title,
              |    unnest(regexp_extract_all(body, '\[\[(.*?)\]\]', 1))
              |      AS outlink
              |  FROM t WHERE title <> ''
              |)
              |SELECT outlink AS target,
              |  CAST(count(*) AS BIGINT) AS n_links,
              |  CAST(count(DISTINCT title) AS BIGINT) AS n_sources
              |FROM x GROUP BY outlink
              |ORDER BY target""".stripMargin)),

    // Phase 2, engine-general form: word-follow edge list + out-degree.
    Q("pr_link_graph",
      (s, d) => {
        val e = LinkGraph.wordFollowEdges(Tables.documents(s, d), "text")
        e.join(LinkGraph.outDegrees(e), "src")
          .select(col("src"), col("dst"), col("outdeg"))
          .orderBy("src", "dst")
      },
      Some(s"""WITH $edgeCtes,
              |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src)
              |SELECT e.src, e.dst, deg.outdeg
              |FROM e JOIN deg USING (src) ORDER BY src, dst""".stripMargin)),

    // Phase 3: 10 damped iterations (reference formula/semantics).
    Q("pr_ranks",
      (s, d) => {
        val e = LinkGraph.wordFollowEdges(Tables.documents(s, d), "text")
        PageRank.run(e, iterations = 10, damping = 0.85)
          .select(col("node"), round(col("rank"), 6).as("rank"))
          .orderBy("node")
      },
      Some(s"""WITH ${rankCtes(10)}
              |SELECT node, round(rank, 6) AS rank FROM r10 ORDER BY node""".stripMargin)),

    // Phase 3 under a PLANTED POWER-LAW HUB, aggregated through the
    // two-stage salted sum: every src word also links to '#hub', so
    // one node receives a contribution from the entire src set each
    // iteration — the skewed-aggregation-key shape AQE cannot split
    // (it splits skewed JOIN partitions, not agg keys). saltHotKeys=8
    // routes the per-iteration groupBy(dst) through SkewTools'
    // salted sum: the hub's incoming mass spreads over 8 reducers in
    // stage one, stage two combines 8 partials. Results must be
    // identical to the plain formula — the oracle computes the
    // UNSALTED chain on the same widened edge set, so the layout
    // change is verified to be semantics-free (the q44 contract, at
    // PageRank scale). Plan pinned in PlanShapeSpec: the iteration's
    // contribution exchange keys on (node, _salt).
    Q("pr_ranks_salted",
      (s, d) => {
        val base = LinkGraph.wordFollowEdges(Tables.documents(s, d), "text")
        val hub = base.select(col("src")).distinct()
          .select(col("src"), lit("#hub").as("dst"))
        PageRank.run(base.union(hub), iterations = 10, damping = 0.85,
            saltHotKeys = 8)
          .select(col("node"), round(col("rank"), 6).as("rank"))
          .orderBy("node")
      },
      Some(s"""WITH ${hubRankCtes(10)}
              |SELECT node, round(rank, 6) AS rank FROM r10
              |ORDER BY node""".stripMargin)),

    // Weighted generalization of phase 3: rank flows in proportion to
    // word-follow co-occurrence counts (the multiplicity the distinct
    // edge list discards). Uniform weights reduce to pr_ranks exactly.
    Q("pr_weighted_ranks",
      (s, d) => {
        val e = LinkGraph.wordFollowWeighted(Tables.documents(s, d), "text")
        PageRank.runWeighted(e, iterations = 10, damping = 0.85)
          .select(col("node"), round(col("rank"), 6).as("rank"))
          .orderBy("node")
      },
      Some(s"""WITH ${weightedRankCtes(10)}
              |SELECT node, round(rank, 6) AS rank FROM r10
              |ORDER BY node""".stripMargin)),

    // Mass-conserving variant of phase 3: the textbook PageRank most
    // users mean — normalized teleport, dangling rank redistributed
    // uniformly instead of leaking (the reference's drop semantics
    // stay the default). The word graph has no natural dangling
    // nodes, so deterministic '#sink' targets are planted on both
    // sides to give the redistribution real mass to move.
    Q("pr_ranks_conserving",
      (s, d) => {
        val base = LinkGraph.wordFollowEdges(Tables.documents(s, d), "text")
        val sinks = base.select(col("src")).distinct()
          .filter(length(col("src")) % 3 === 0)
          .select(col("src"), concat(col("src"), lit("#sink")).as("dst"))
        PageRank.run(base.union(sinks), iterations = 10, damping = 0.85,
            redistributeDangling = true)
          .select(col("node"), floor(col("rank") * 1000000 + 0.5)
            .cast("long").as("rank_e6"))
          .orderBy("node")
      },
      Some(s"""WITH ${conservingRankCtes(10)}
              |SELECT node,
              |  CAST(floor(rank * 1000000 + 0.5) AS BIGINT) AS rank_e6
              |FROM r10 ORDER BY node""".stripMargin)),

    // Snapshot rank DELTA — the d34-for-ranks audit completing the
    // incremental family (pr_warm_start recomputes cheaply; this
    // reports WHAT moved): rank both snapshots, full-outer join on
    // node, top-20 movers by |Δrank| with new/gone/moved status — the
    // snapshots OVERLAP (docs leave and arrive) so all three statuses
    // are live data. Selection is TakeOrderedAndProject on the
    // e6-floored delta (deterministic integer tie-break by node) — no
    // corpus-wide window. At 100 TB the two rank tables are O(|V|)
    // and the join is one exchange.
    Q("g13_rank_delta",
      (s, d) => {
        // OVERLAPPING snapshots (docs leave AND arrive) so every
        // status is live: yesterday = doc_id%3 ∈ {0,1}, today ∈ {1,2}
        val docs = Tables.documents(s, d)
        graft.graph.RankDelta.movers(
          PageRank.run(LinkGraph.wordFollowEdges(
            docs.filter(col("doc_id") % 3 < 2), "text"), iterations = 10),
          PageRank.run(LinkGraph.wordFollowEdges(
            docs.filter(col("doc_id") % 3 > 0), "text"), iterations = 10),
          k = 20)
      },
      Some(s"""WITH ${deltaRankCtes(10)},
              |j AS (
              |  SELECT coalesce(f.node, b.node) AS node,
              |    CASE WHEN f.node IS NULL THEN 'gone'
              |         WHEN b.node IS NULL THEN 'new'
              |         ELSE 'moved' END AS status,
              |    CAST(floor((coalesce(f.rank, CAST(0 AS DOUBLE)) -
              |                coalesce(b.rank, CAST(0 AS DOUBLE)))
              |        * 1000000 + 0.5) AS BIGINT) AS delta_e6
              |  FROM f10 f FULL OUTER JOIN b10 b ON b.node = f.node
              |)
              |SELECT node, status, delta_e6 FROM j
              |ORDER BY abs(delta_e6) DESC, node LIMIT 20""".stripMargin)),

    // INCREMENTAL rank recomputation, oracle-checked in the bounded
    // form (the runUntilConverged warm start is the open-ended twin,
    // unit-tested): yesterday's graph (even doc_ids) ranks 5 rounds,
    // today's full graph then runs only 3 rounds seeded from those
    // ranks — new nodes start at 1/N via the left-join coalesce. At
    // 100 TB this is the daily-crawl shape: the delta re-rank touches
    // the same partitioned-once edge layout but pays 3 iterations,
    // not 10. Scale shape identical to pr_ranks (seed join is one
    // O(|V|) hash join before the loop).
    Q("pr_warm_start",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val baseE = LinkGraph.wordFollowEdges(
          docs.filter(col("doc_id") % 2 === 0), "text")
        val seed = PageRank.run(baseE, iterations = 5, damping = 0.85)
        val fullE = LinkGraph.wordFollowEdges(docs, "text")
        PageRank.run(fullE, iterations = 3, damping = 0.85,
            seedRanks = Some(seed))
          .select(col("node"), round(col("rank"), 6).as("rank"))
          .orderBy("node")
      },
      Some(s"""WITH ${warmRankCtes(5, 3)}
              |SELECT node, round(rank, 6) AS rank
              |FROM s3 ORDER BY node""".stripMargin)),

    // Personalized generalization of phase 3: teleport mass lands on
    // a two-word source set, ranking every word by proximity to it —
    // the related-entity query shape. Sources broadcast; edge side
    // identical to pr_ranks.
    Q("pr_personalized",
      (s, d) => {
        import s.implicits._
        val e = LinkGraph.wordFollowEdges(Tables.documents(s, d), "text")
        val sources = Seq("spark", "data").toDF("node")
        PageRank.runPersonalized(e, sources, iterations = 10, damping = 0.85)
          .select(col("node"), floor(col("rank") * 1000000 + 0.5)
            .cast("long").as("rank_e6"))
          .orderBy("node")
      },
      Some(s"""WITH ${personalizedRankCtes(10, "'spark', 'data'", 2)}
              |SELECT node,
              |  CAST(floor(rank * 1000000 + 0.5) AS BIGINT) AS rank_e6
              |FROM r10 ORDER BY node""".stripMargin)),

    // Phase 4: descending total order by rank, top 20. Spark plans
    // orderBy+limit as TakeOrderedAndProject — no global sort stage,
    // unlike the reference's single-reducer total sort.
    Q("pr_top20",
      (s, d) => {
        val e = LinkGraph.wordFollowEdges(Tables.documents(s, d), "text")
        PageRank.run(e, iterations = 10, damping = 0.85)
          .select(col("node"), round(col("rank"), 6).as("rank"))
          .orderBy(col("rank").desc, col("node"))
          .limit(20)
      },
      Some(s"""WITH ${rankCtes(10)}
              |SELECT node, round(rank, 6) AS rank FROM r10
              |ORDER BY rank DESC, node LIMIT 20""".stripMargin)),

    // Phase 4 proper: the FULL descending total order (not top-k).
    // Spark plans orderBy as a range-partitioned distributed sort —
    // every partition sorted, partitions themselves ordered — vs the
    // reference's single-reducer bottleneck.
    Q("pr_rank_sort",
      (s, d) => {
        val e = LinkGraph.wordFollowEdges(Tables.documents(s, d), "text")
        PageRank.run(e, iterations = 10, damping = 0.85)
          .select(col("node"), round(col("rank"), 6).as("rank"))
          .orderBy(col("rank").desc, col("node"))
      },
      Some(s"""WITH ${rankCtes(10)}
              |SELECT node, round(rank, 6) AS rank FROM r10
              |ORDER BY rank DESC, node""".stripMargin)),

    // Triangle count over the undirected word-follow graph — the
    // clustering-structure primitive alongside PageRank (centrality)
    // and connected components (grouping). Degree-ordered orientation
    // caps every vertex's out-degree at O(√m), so the wedge self-join
    // survives power-law hubs; each triangle counts once at its
    // minimum-(degree, id) corner.
    Q("g1_triangle_count",
      (s, d) => {
        val e = LinkGraph.wordFollowEdges(Tables.documents(s, d), "text")
        graft.graph.Triangles.globalCount(e)
      },
      Some(s"""WITH $edgeCtes,
              |$undCte,
              |deg AS (
              |  SELECT n, count(*) AS d FROM (
              |    SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und
              |  ) GROUP BY n
              |),
              |o AS (
              |  SELECT CASE WHEN (da.d, u2.a) < (db.d, u2.b)
              |           THEN u2.a ELSE u2.b END AS u,
              |         CASE WHEN (da.d, u2.a) < (db.d, u2.b)
              |           THEN u2.b ELSE u2.a END AS v,
              |         CASE WHEN (da.d, u2.a) < (db.d, u2.b)
              |           THEN db.d ELSE da.d END AS dv
              |  FROM und u2
              |  JOIN deg da ON da.n = u2.a
              |  JOIN deg db ON db.n = u2.b
              |)
              |SELECT count(*) AS n_triangles
              |FROM o e1
              |JOIN o e2 ON e1.u = e2.u AND (e1.dv, e1.v) < (e2.dv, e2.v)
              |JOIN o e3 ON e3.u = e1.v AND e3.v = e2.v""".stripMargin)),

    // Per-node triangle counts + local clustering coefficient over
    // the word graph: the found triangles fan out to their three
    // corners (one exchange on the node key), then join the degree
    // table — 2·t/(d·(d−1)), e4-scaled, zero-triangle nodes included.
    Q("g2_clustering_coeff",
      (s, d) => {
        val e = LinkGraph.wordFollowEdges(Tables.documents(s, d), "text")
        graft.graph.Triangles.clusteringCoefficients(e).orderBy("node")
      },
      Some(s"""WITH $edgeCtes,
              |$undCte,
              |deg AS (
              |  SELECT n, count(*) AS d FROM (
              |    SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und
              |  ) GROUP BY n
              |),
              |o AS (
              |  SELECT CASE WHEN (da.d, u2.a) < (db.d, u2.b)
              |           THEN u2.a ELSE u2.b END AS u,
              |         CASE WHEN (da.d, u2.a) < (db.d, u2.b)
              |           THEN u2.b ELSE u2.a END AS v,
              |         CASE WHEN (da.d, u2.a) < (db.d, u2.b)
              |           THEN db.d ELSE da.d END AS dv
              |  FROM und u2
              |  JOIN deg da ON da.n = u2.a
              |  JOIN deg db ON db.n = u2.b
              |),
              |t AS (
              |  SELECT e1.u, e1.v AS v1, e2.v AS v2
              |  FROM o e1
              |  JOIN o e2 ON e1.u = e2.u AND (e1.dv, e1.v) < (e2.dv, e2.v)
              |  JOIN o e3 ON e3.u = e1.v AND e3.v = e2.v
              |),
              |corners AS (
              |  SELECT u AS node FROM t
              |  UNION ALL SELECT v1 FROM t
              |  UNION ALL SELECT v2 FROM t
              |),
              |tc AS (SELECT node, count(*) AS n_triangles FROM corners
              |       GROUP BY node)
              |SELECT d.n AS node, d.d AS degree,
              |  CAST(COALESCE(tc.n_triangles, 0) AS BIGINT) AS n_triangles,
              |  CASE WHEN d.d >= 2
              |    THEN CAST(floor(CAST(2.0 AS DOUBLE)
              |      * COALESCE(tc.n_triangles, 0) / (d.d * (d.d - 1))
              |      * 10000 + 0.5) AS BIGINT)
              |    ELSE 0 END AS coeff_e4
              |FROM deg d LEFT JOIN tc ON tc.node = d.n
              |ORDER BY node""".stripMargin)),

    // Multi-source BFS hop distance (graph.Bfs) — the DISTANCE
    // primitive completing the graph family: fewest hops from the
    // seed set (the 3 lexicographically smallest nodes — a
    // deterministic stand-in for "these landing pages" / "these hub
    // entities") to every node within 6 hops, over the directed
    // word-follow graph. Scale shape: edges partitioned by src once
    // and persisted; each round joins only the frontier; min-dist is
    // a partial aggregate. Oracle = 6 unrolled frontier-expansion
    // CTEs with the same min consolidation.
    Q("g3_bfs_hops",
      (s, d) => {
        val e = LinkGraph.wordFollowEdges(Tables.documents(s, d), "text")
        val nodes = e.select(col("src").as("node"))
          .union(e.select(col("dst").as("node"))).distinct()
        val seeds = nodes.orderBy("node").limit(3)
        graft.graph.Bfs.hopDistance(e, seeds, maxHops = 6)
          .orderBy("node")
      },
      Some {
        val rounds = (1 to 6).map { h =>
          s"""b$h AS (
             |  SELECT node, min(dist) AS dist FROM (
             |    SELECT node, dist FROM b${h - 1}
             |    UNION ALL
             |    SELECT e.dst AS node, f.dist + 1 AS dist
             |    FROM b${h - 1} f JOIN e ON e.src = f.node
             |    WHERE f.dist = ${h - 1}
             |  ) GROUP BY node
             |)""".stripMargin
        }.mkString(",\n")
        s"""WITH $edgeCtes,
           |nd AS (
           |  SELECT src AS node FROM e UNION SELECT dst FROM e
           |),
           |b0 AS (
           |  SELECT node, CAST(0 AS BIGINT) AS dist
           |  FROM (SELECT node FROM nd ORDER BY node LIMIT 3)
           |),
           |$rounds
           |SELECT node, dist FROM b6 ORDER BY node""".stripMargin
      }),

    // Community detection by synchronous label propagation
    // (graph.LabelPropagation) — the COMMUNITY primitive completing
    // the graph family: each vertex adopts its neighbors' most
    // frequent label, ties to the smallest, 4 deterministic rounds
    // over the undirected word graph. Scale shape: edges partitioned
    // once and persisted; per round only the label table moves, and
    // the vote is two partial aggregates (count, then struct-argmax)
    // — no window, no collect. Oracle = 4 unrolled count+argmax CTE
    // rounds over the same dense-id mapping.
    Q("g4_label_prop",
      (s, d) => {
        val e = LinkGraph.wordFollowEdges(Tables.documents(s, d), "text")
        graft.graph.LabelPropagation.communities(e, iters = 4)
          .orderBy("node")
      },
      Some(s"""WITH ${lpaCtes(4)}
           |SELECT node, comm FROM labels ORDER BY node""".stripMargin)),

    // Link prediction: top-20 non-adjacent word pairs by Adamic-Adar
    // score (shared neighbors, rare ones weighted up). Wedge
    // enumeration + integer-scaled contributions — never an
    // adjacency-intersection per candidate pair, never a double sum.
    // STRONGLY connected components over the DIRECTED word graph —
    // the directed twin of the dedup family's weakly-connected
    // consolidation (d9/e14): mutual-reachability groups are the
    // link-farm / citation-ring / redirect-cycle primitive. Spark
    // side is the FW-BW min-reach peeling loop (trim tendrils,
    // forward/backward min-label fixpoints, F=B finalizes whole
    // SCCs) — convergence-CHECKED at every level, throws rather than
    // returning split components. The oracle is diameter-independent
    // exact: a recursive reachability closure, scc(u) = min of the
    // mutually-reachable set.
    Q("g6_scc",
      (s, d) => {
        val e = LinkGraph.wordFollowEdges(Tables.documents(s, d), "text")
        graft.graph.Scc.run(e)
          .select(col("node"), col("scc"))
          .orderBy("node")
      },
      Some(s"""WITH RECURSIVE $edgeCtes,
              |reach(a, b) AS (
              |  SELECT src, dst FROM e
              |  UNION
              |  SELECT r.a, e2.dst FROM reach r JOIN e e2 ON e2.src = r.b
              |),
              |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
              |mutual AS (
              |  SELECT r1.a AS u, r1.b AS v
              |  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
              |)
              |SELECT n.node,
              |  least(n.node, coalesce(min(m.v), n.node)) AS scc
              |FROM nodes n LEFT JOIN mutual m ON m.u = n.node
              |GROUP BY n.node
              |ORDER BY node""".stripMargin)),

    // SCC CONDENSATION card (composes g6): collapse every strongly
    // connected component to one node and report the DAG that
    // remains — component count, size tail, singleton share, and
    // the distinct component-to-component edge count. The
    // "how cyclic is this graph really" card: a link graph whose
    // condensation is nearly the whole graph is feed-forward; a few
    // giant components mean link farms / citation rings (g11's motif
    // census measures the same axis locally, this globally). Scale
    // shape: component ids from g6's converged Scc.run; sizes are
    // one partial-agg exchange; the DAG edge set is the edge list
    // joined twice on the node key then a bounded distinct; scalars
    // combine as broadcast one-row aggregates.
    Q("g25_scc_condensation",
      (s, d) => {
        val e = LinkGraph.wordFollowEdges(Tables.documents(s, d), "text")
        val comp = graft.graph.Scc.run(e).select(col("node"), col("scc"))
        val sizes = comp.groupBy("scc").agg(count(lit(1)).as("sz"))
        val card = sizes.agg(count(lit(1)).as("n_comps"),
          sum("sz").as("n_nodes"),
          max("sz").as("max_comp_size"),
          sum(when(col("sz") === 1, 1L).otherwise(0L))
            .as("n_singletons"))
        val dag = e
          .join(comp.select(col("node").as("src"), col("scc").as("ca")),
            "src")
          .join(comp.select(col("node").as("dst"), col("scc").as("cb")),
            "dst")
          .filter(col("ca") =!= col("cb"))
          .select("ca", "cb").distinct()
          .agg(count(lit(1)).as("n_dag_edges"))
        card.crossJoin(broadcast(dag))
      },
      Some(s"""WITH RECURSIVE $edgeCtes,
              |reach(a, b) AS (
              |  SELECT src, dst FROM e
              |  UNION
              |  SELECT r.a, e2.dst FROM reach r JOIN e e2 ON e2.src = r.b
              |),
              |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
              |mutual AS (
              |  SELECT r1.a AS u, r1.b AS v
              |  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
              |),
              |comp AS (
              |  SELECT n.node,
              |    least(n.node, coalesce(min(m.v), n.node)) AS scc
              |  FROM nodes n LEFT JOIN mutual m ON m.u = n.node
              |  GROUP BY n.node
              |),
              |sizes AS (SELECT scc, count(*) AS sz FROM comp GROUP BY scc),
              |card AS (
              |  SELECT CAST(count(*) AS BIGINT) AS n_comps,
              |    CAST(sum(sz) AS BIGINT) AS n_nodes,
              |    CAST(max(sz) AS BIGINT) AS max_comp_size,
              |    CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT)
              |      AS n_singletons
              |  FROM sizes
              |),
              |dag AS (
              |  SELECT CAST(count(*) AS BIGINT) AS n_dag_edges FROM (
              |    SELECT DISTINCT a.scc AS ca, b.scc AS cb
              |    FROM e
              |    JOIN comp a ON a.node = e.src
              |    JOIN comp b ON b.node = e.dst
              |    WHERE a.scc <> b.scc
              |  )
              |)
              |SELECT n_comps, n_nodes, max_comp_size, n_singletons,
              |  n_dag_edges
              |FROM card, dag""".stripMargin)),

    // k-CORE survivors (k=3, 6 synchronous peeling waves) over the
    // undirected word graph — the dense-subgraph primitive: nodes
    // keeping ≥3 surviving neighbors through every wave, with their
    // final within-core degree. Bounded waves are the DEFINED
    // semantics (the g4 pattern: an unrolled SQL mirror needs a
    // static count); the convergence twin KCore.untilStable is
    // spec-checked to agree once bounded peeling has stabilized.
    Q("g7_kcore",
      (s, d) => {
        val e = LinkGraph.wordFollowEdges(Tables.documents(s, d), "text")
        graft.graph.KCore.survivors(e, k = 3, waves = 6)
          .select(col("node"), col("core_degree").cast("long")
            .as("core_degree"))
          .orderBy("node")
      },
      Some(s"""WITH $edgeCtes,
              |${kcoreCtes(3, 6)}
              |SELECT s.u AS node, CAST(count(*) AS BIGINT) AS core_degree
              |FROM sym s
              |JOIN a6 x ON s.u = x.node JOIN a6 y ON s.v = y.node
              |GROUP BY s.u ORDER BY node""".stripMargin)),

    // Neighborhood function via KMV-sketch propagation (the HyperANF
    // idea with KMV in place of HLL): deterministic |ball(u, t)|
    // estimates for every node at hops 0-3 over the directed word
    // graph, k=16. The k smallest distinct hashes of a set are a
    // function of the SET — merge-order- and partitioning-
    // independent — so the estimate oracle-checks exactly against a
    // closure-computed mirror: exact bounded-hop reachability, k-th
    // smallest of the SAME hash, the SAME d27 estimator. At scale
    // only O(V·k) sketch state moves per round; the exact closure
    // exists only on the oracle side.
    Q("g8_neighborhood",
      (s, d) => {
        val e = LinkGraph.wordFollowEdges(Tables.documents(s, d), "text")
        graft.graph.Neighborhood.kmvBalls(e, hops = 3, k = 16)
          .orderBy("node", "hop")
      },
      Some(s"""WITH RECURSIVE $edgeCtes,
              |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
              |ball(a, b, hop) AS (
              |  SELECT node, node, 0 FROM nodes
              |  UNION
              |  SELECT ball.a, e2.dst, ball.hop + 1
              |  FROM ball JOIN e e2 ON e2.src = ball.b
              |  WHERE ball.hop < 3
              |),
              |r AS (SELECT a, b, min(hop) AS mh FROM ball GROUP BY a, b),
              |hv AS (
              |  SELECT a, mh,
              |    ${graft.functions.TextHash.duckStringHash("b")}
              |      * ${Sampling.Mixer} % ${Sampling.MixMod} AS hv
              |  FROM r
              |),
              |grid AS (
              |  SELECT n.node, t.t FROM nodes n,
              |    (SELECT unnest(range(0, 4)) AS t) t
              |),
              |cand AS (
              |  SELECT g.node, g.t, v.hv
              |  FROM grid g JOIN hv v ON v.a = g.node AND v.mh <= g.t
              |  GROUP BY g.node, g.t, v.hv
              |),
              |ranked AS (
              |  SELECT node, t, hv,
              |    row_number() OVER (PARTITION BY node, t ORDER BY hv)
              |      AS rn
              |  FROM cand
              |),
              |sk AS (
              |  SELECT node, t, count(*) AS nk, max(hv) AS kth
              |  FROM ranked WHERE rn <= 16 GROUP BY node, t
              |)
              |SELECT node, CAST(t AS BIGINT) AS hop,
              |  CAST(CASE WHEN nk < 16 THEN nk
              |       ELSE floor(15.0 * ${Sampling.MixMod} / kth + 0.5)
              |       END AS BIGINT) AS est_ball
              |FROM sk ORDER BY node, hop""".stripMargin)),

    // HITS hubs & authorities (graph.Hits): Kleinberg's two-score
    // mutual recursion over the directed word graph — the
    // query-dependent ranking sibling of pr_ranks (authorities =
    // landing words many well-connected words precede; on link
    // corpora, the link-spam / topic-distillation primitive). 8
    // L1-normalized iterations, edges persisted once per join key,
    // each half-step shuffling only the O(|V|) score table; scores
    // reported on the e9 integer grid (the pr_weighted_ranks
    // convention) so both engines round the same doubles.
    Q("g9_hits",
      (s, d) => {
        val e = LinkGraph.wordFollowEdges(Tables.documents(s, d), "text")
        graft.graph.Hits.run(e, iterations = 8)
          .select(col("node"),
            floor(col("auth") * 1000000000L + 0.5).cast("long")
              .as("auth_e9"),
            floor(col("hub") * 1000000000L + 0.5).cast("long")
              .as("hub_e9"))
          .orderBy("node")
      },
      Some(s"""WITH ${hitsCtes(8)}
              |SELECT node,
              |  CAST(floor(auth * 1000000000 + 0.5) AS BIGINT) AS auth_e9,
              |  CAST(floor(hub * 1000000000 + 0.5) AS BIGINT) AS hub_e9
              |FROM s8 ORDER BY node""".stripMargin)),

    // Landmark harmonic centrality (Eppstein-Wang): Σ_L floor(1e6 /
    // d(L,v)) over the 5 lexicographically-smallest words as
    // landmarks, distances within 6 hops of the undirected word
    // graph. Exact all-pairs closeness is O(V·E); the landmark
    // estimate is one |L|-source keyed BFS. Per-term integer scaling
    // (the g5 convention) makes the sum an exact BIGINT — no float
    // summation order anywhere.
    Q("g10_harmonic",
      (s, d) => {
        val e = LinkGraph.wordFollowEdges(Tables.documents(s, d), "text")
        graft.graph.Harmonic.fromLandmarks(e, graphLandmarks(e),
          maxHops = 6)
          .orderBy("node")
      },
      Some(s"""WITH RECURSIVE $edgeCtes,
              |${symCtes()},
              |lms AS (
              |  SELECT u AS lm FROM sym GROUP BY u ORDER BY u LIMIT 5
              |),
              |walk(lm, node, dist) AS (
              |  SELECT lm, lm, 0 FROM lms
              |  UNION
              |  SELECT w.lm, s.v, w.dist + 1
              |  FROM walk w JOIN sym s ON s.u = w.node
              |  WHERE w.dist < 6
              |),
              |md AS (
              |  SELECT lm, node, min(dist) AS dist
              |  FROM walk GROUP BY lm, node
              |)
              |SELECT node,
              |  CAST(sum(CAST(floor(CAST(1000000 AS DOUBLE) / dist)
              |    AS BIGINT)) AS BIGINT) AS harm_e6
              |FROM md WHERE dist > 0
              |GROUP BY node ORDER BY node""".stripMargin)),

    // Landmark eccentricity card (Harmonic.landmarkDistances → max
    // reduction): per landmark, how many nodes it reaches within 6
    // hops and the FARTHEST one's distance — the bounded-hop
    // eccentricity estimate whose max over landmarks lower-bounds
    // the graph diameter (the Eppstein-Wang trade g10 already makes
    // for closeness, reduced by max instead of Σ1/d). Same
    // multi-source BFS: one symmetric-edge shuffle, per-round
    // frontier joins keyed by landmark, O(|L|·V) state.
    Q("g23_eccentricity",
      (s, d) => {
        val e = LinkGraph.wordFollowEdges(Tables.documents(s, d), "text")
        graft.graph.Harmonic.landmarkDistances(e, graphLandmarks(e),
          maxHops = 6)
          .groupBy(col("lm").as("landmark"))
          .agg((count(lit(1)) - 1).as("n_reached"),
            max("dist").as("ecc"))
          .orderBy("landmark")
      },
      Some(s"""WITH RECURSIVE $edgeCtes,
              |${symCtes()},
              |lms AS (
              |  SELECT u AS lm FROM sym GROUP BY u ORDER BY u LIMIT 5
              |),
              |walk(lm, node, dist) AS (
              |  SELECT lm, lm, 0 FROM lms
              |  UNION
              |  SELECT w.lm, s.v, w.dist + 1
              |  FROM walk w JOIN sym s ON s.u = w.node
              |  WHERE w.dist < 6
              |),
              |md AS (
              |  SELECT lm, node, min(dist) AS dist
              |  FROM walk GROUP BY lm, node
              |)
              |SELECT lm AS landmark,
              |  CAST(count(*) - 1 AS BIGINT) AS n_reached,
              |  CAST(max(dist) AS BIGINT) AS ecc
              |FROM md GROUP BY lm ORDER BY landmark""".stripMargin)),

    // PageRank convergence CURVE (PageRank.residualCurve): max-|Δ|
    // residual after each of 10 fixed iterations, e9-scaled — the
    // iteration-budget tuning card (what does iteration k buy?),
    // the d68/e36 curve shape for the graph family. Float parity:
    // the oracle's teleport term is written `1.0 - 0.85` (NOT the
    // literal 0.15) so both engines compute the identical IEEE
    // double; residuals compare on the e9 grid (the g9 HITS
    // convention — summation-order effects sit ~7 orders below it).
    Q("g24_pr_residuals",
      (s, d) => {
        val e = LinkGraph.wordFollowEdges(Tables.documents(s, d), "text")
        PageRank.residualCurve(e, iterations = 10).orderBy("iter")
      },
      Some {
        val steps = (1 to 10).map { i =>
          s"""r$i AS MATERIALIZED (
             |  SELECT n.node,
             |    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
             |      + CAST(0.85 AS DOUBLE) *
             |        coalesce(sum(p.rank / ed.outdeg), CAST(0 AS DOUBLE))
             |      AS rank
             |  FROM nodes n
             |  LEFT JOIN ed ON ed.dst = n.node
             |  LEFT JOIN r${i - 1} p ON p.node = ed.src
             |  GROUP BY n.node
             |)""".stripMargin
        }.mkString(",\n")
        val residuals = (1 to 10).map { i =>
          s"""SELECT CAST($i AS BIGINT) AS iter,
             |  CAST(floor(max(abs(a.rank - b.rank)) * 1000000000
             |    + 0.5) AS BIGINT) AS residual_e9
             |FROM r$i a JOIN r${i - 1} b USING (node)""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH $edgeCtes,
           |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
           |ed AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)),
           |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
           |r0 AS (
           |  SELECT node,
           |    CAST(1.0 AS DOUBLE) / (SELECT count(*) FROM nodes) AS rank
           |  FROM nodes
           |),
           |$steps
           |$residuals
           |ORDER BY iter""".stripMargin
      }),

    // Directed 3-node motif census: cyclic (a→b→c→a, counted once at
    // the smallest corner) vs transitive (a→b, b→c, a→c — unique
    // source/sink, counted directly) triangles over the word graph —
    // the feed-forward-vs-feedback signature (link farms and
    // citation rings are cycle-heavy). Wedges are enumerated ONCE
    // and closed against a union of both closing orientations tagged
    // by motif type; counts are partial-aggregated conditional sums.
    Q("g11_motifs",
      (s, d) => {
        val e = LinkGraph.wordFollowEdges(Tables.documents(s, d), "text")
        graft.graph.Triangles.directedMotifs(e)
      },
      Some(s"""WITH $edgeCtes,
              |ee AS (SELECT src, dst FROM e WHERE src <> dst),
              |p2 AS (
              |  SELECT x.src AS a, x.dst AS b, y.dst AS c
              |  FROM ee x JOIN ee y ON y.src = x.dst
              |  WHERE x.src <> y.dst
              |),
              |cyc AS (
              |  SELECT count(*) AS n_cyclic
              |  FROM p2 JOIN ee z ON z.src = p2.c AND z.dst = p2.a
              |  WHERE p2.a < p2.b AND p2.a < p2.c
              |),
              |tr AS (
              |  SELECT count(*) AS n_transitive
              |  FROM p2 JOIN ee z ON z.src = p2.a AND z.dst = p2.c
              |)
              |SELECT CAST(n_cyclic AS BIGINT) AS n_cyclic,
              |  CAST(n_transitive AS BIGINT) AS n_transitive
              |FROM cyc, tr""".stripMargin)),

    // Graph data card (the d26 corpus-stats discipline for graphs):
    // one row of the numbers a 100 TB graph job is sized by — node /
    // edge counts, max and mean degree, and the power-law tail
    // exponent (Hill/MLE at dmin=2, Clauset-Shalizi-Newman) that
    // decides whether hub salting and skew handling are needed.
    // Each ln term is e6-floored BEFORE the sum (the g5 convention)
    // so the estimate is integer-exact; degrees come from ONE
    // partial-aggregated exchange over the symmetric neighbor list.
    Q("g12_graph_card",
      (s, d) => {
        val e = LinkGraph.wordFollowEdges(Tables.documents(s, d), "text")
        val und = e.filter(col("src") =!= col("dst"))
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .distinct()
        val deg = und.select(col("a").as("n"))
          .union(und.select(col("b").as("n")))
          .groupBy("n").agg(count(lit(1)).as("deg"))
        // n_edges = sum(deg)/2 — each undirected edge contributes to
        // exactly two degree rows, so the edge count falls out of the
        // degree table itself: ONE exchange over the edge list instead
        // of a second distinct + crossJoin pass (at 100 TB that second
        // pass is a full extra scan+shuffle of the edge set).
        deg.agg(
            count(lit(1)).as("n_nodes"),
            expr("sum(deg) DIV 2").as("n_edges"),
            max("deg").as("max_degree"),
            sum(when(col("deg") >= 2, 1L).otherwise(0L)).as("n_tail"),
            sum(when(col("deg") >= 2,
              floor(log(col("deg").cast("double") / lit(2.0))
                * 1000000 + 0.5).cast("long"))
              .otherwise(0L)).as("s_ln"))
          .select(col("n_nodes"), col("n_edges"), col("max_degree"),
            expr("CAST(2 * n_edges * 1000000 DIV n_nodes AS BIGINT)")
              .as("mean_degree_e6"),
            when(col("s_ln") > 0,
              floor(lit(1000000.0) + lit(1000000000000.0)
                * col("n_tail") / col("s_ln") + 0.5).cast("long"))
              .otherwise(lit(null).cast("long")).as("alpha_e6"))
      },
      Some(s"""WITH $edgeCtes,
              |$undCte,
              |deg AS (
              |  SELECT n, count(*) AS deg FROM (
              |    SELECT a AS n FROM und UNION ALL SELECT b FROM und
              |  ) GROUP BY n
              |),
              |agg AS (
              |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
              |    CAST(max(deg) AS BIGINT) AS max_degree,
              |    CAST(sum(CASE WHEN deg >= 2 THEN 1 ELSE 0 END)
              |      AS BIGINT) AS n_tail,
              |    CAST(sum(CASE WHEN deg >= 2 THEN
              |      CAST(floor(ln(CAST(deg AS DOUBLE) / CAST(2 AS DOUBLE))
              |        * 1000000 + 0.5) AS BIGINT) ELSE 0 END)
              |      AS BIGINT) AS s_ln
              |  FROM deg
              |),
              |ec AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM und)
              |SELECT n_nodes, n_edges, max_degree,
              |  CAST(2 * n_edges * 1000000 // n_nodes AS BIGINT)
              |    AS mean_degree_e6,
              |  CASE WHEN s_ln > 0 THEN
              |    CAST(floor(CAST(1000000 AS DOUBLE)
              |      + CAST(1000000000000 AS DOUBLE) * n_tail / s_ln + 0.5)
              |      AS BIGINT)
              |  ELSE NULL END AS alpha_e6
              |FROM agg, ec""".stripMargin)),

    Q("g5_adamic_adar",
      (s, d) => {
        val e = LinkGraph.wordFollowEdges(Tables.documents(s, d), "text")
        graft.graph.LinkPredict.adamicAdarTopK(e, k = 20)
      },
      Some(s"""WITH $edgeCtes,
              |$undCte,
              |adj AS (
              |  SELECT a AS w, b AS m FROM und
              |  UNION ALL SELECT b, a FROM und
              |),
              |deg AS (SELECT w, count(*) AS d FROM adj GROUP BY w),
              |wed AS (
              |  SELECT x.m AS u, y.m AS v,
              |    CAST(floor(1000000.0 / ln(deg.d) + 0.5) AS BIGINT) AS c
              |  FROM adj x
              |  JOIN adj y ON x.w = y.w AND x.m < y.m
              |  JOIN deg ON deg.w = x.w
              |),
              |aa AS (
              |  SELECT u, v, CAST(sum(c) AS BIGINT) AS aa_e6
              |  FROM wed GROUP BY u, v
              |),
              |pred AS (
              |  SELECT aa.u, aa.v, aa.aa_e6 FROM aa
              |  LEFT JOIN und ON und.a = aa.u AND und.b = aa.v
              |  WHERE und.a IS NULL
              |)
              |SELECT u, v, aa_e6 FROM pred
              |ORDER BY aa_e6 DESC, u, v LIMIT 20""".stripMargin)),

    // Jaccard link prediction (LinkPredict.jaccardTopK) — the
    // degree-normalized sibling of g5: |N∩|/|N∪| favors pairs whose
    // neighborhoods overlap PROPORTIONALLY where Adamic-Adar favors
    // pairs near rare hubs; running both is how link-prediction
    // baselines are actually reported. Same wedge-enumeration scale
    // shape (never per-pair adjacency intersection); the score is
    // an exact integer division — no float anywhere on either
    // engine. At sf0.1 the synthetic word graph SATURATES (complete
    // on its 31-word vocabulary), so the non-adjacent candidate set
    // — and therefore this row and g5 — is correctly empty there;
    // both engines agree on the empty prediction set.
    Q("g22_jaccard_links",
      (s, d) => {
        val e = LinkGraph.wordFollowEdges(Tables.documents(s, d), "text")
        graft.graph.LinkPredict.jaccardTopK(e, k = 20)
      },
      Some(s"""WITH $edgeCtes,
              |$undCte,
              |adj AS (
              |  SELECT a AS w, b AS m FROM und
              |  UNION ALL SELECT b, a FROM und
              |),
              |deg AS (SELECT w, count(*) AS d FROM adj GROUP BY w),
              |com AS (
              |  SELECT x.m AS u, y.m AS v,
              |    CAST(count(*) AS BIGINT) AS n_common
              |  FROM adj x JOIN adj y ON x.w = y.w AND x.m < y.m
              |  GROUP BY x.m, y.m
              |),
              |pred AS (
              |  SELECT c.u, c.v, c.n_common,
              |    CAST(c.n_common * 1000000
              |      // (du.d + dv.d - c.n_common) AS BIGINT) AS jac_e6
              |  FROM com c
              |  JOIN deg du ON du.w = c.u
              |  JOIN deg dv ON dv.w = c.v
              |  LEFT JOIN und ON und.a = c.u AND und.b = c.v
              |  WHERE und.a IS NULL
              |)
              |SELECT u, v, n_common, jac_e6 FROM pred
              |ORDER BY jac_e6 DESC, u, v LIMIT 20""".stripMargin)),

    // The complete reference pipeline with its EXACT page semantics
    // (PageRank.runOnPages): fabricated wiki pages whose outlinks
    // point at other titles (plus a deterministic share of dangling
    // targets whose contributions must drop), regex link extraction,
    // duplicate-counting out-degrees, 1/N init from the phase-1
    // count, 10 iterations, top-20 by rank.
    Q("pr_wiki_ranks",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val n = docs.count()
        val pages = docs.select(concat(
          lit("<title>doc_"), col("doc_id"),
          lit("</title> <text xml:space=\"preserve\"> see [[doc_"),
          (col("doc_id") * 7 + 13) % n,
          lit("]] and [[doc_"),
          when(col("doc_id") % 7 === 0, col("doc_id") + 1000000)
            .otherwise((col("doc_id") * 31 + 101) % n),
          lit("]]</text>")).as("page"))
        val (_, ranks) = WikiPageRankPipeline.run(s, pages, "page")
        ranks.select(col("node"), round(col("rank"), 6).as("rank"))
          .orderBy(col("rank").desc, col("node"))
          .limit(20)
      },
      Some(s"""WITH nn AS (SELECT count(*) AS n FROM documents),
              |p AS (
              |  SELECT '<title>doc_' || doc_id ||
              |    '</title> <text xml:space="preserve"> see [[doc_' ||
              |    ((doc_id * 7 + 13) % nn.n) || ']] and [[doc_' ||
              |    (CASE WHEN doc_id % 7 = 0 THEN doc_id + 1000000
              |          ELSE (doc_id * 31 + 101) % nn.n END) ||
              |    ']]</text>' AS page
              |  FROM documents, nn
              |),
              |t AS (
              |  SELECT regexp_extract(page, '<title>(.*?)</title>', 1) AS title,
              |         regexp_extract(page, '<text(.*?)</text>', 1) AS body
              |  FROM p
              |),
              |l AS (
              |  SELECT title AS src,
              |         unnest(regexp_extract_all(body, '\\[\\[(.*?)\\]\\]', 1)) AS dst
              |  FROM t WHERE title <> ''
              |),
              |deg AS (SELECT src, count(*) AS outdeg FROM l GROUP BY src),
              |pg AS (SELECT DISTINCT src AS node FROM l),
              |r0 AS (
              |  SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank
              |  FROM pg
              |),
              |${(1 to 10).map { i =>
                  s"""r$i AS (
                     |  SELECT pg.node,
                     |    CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE) *
                     |      coalesce(sum(r.rank / deg.outdeg), CAST(0 AS DOUBLE)) AS rank
                     |  FROM pg
                     |  LEFT JOIN l ON l.dst = pg.node
                     |  LEFT JOIN r${i - 1} r ON r.node = l.src
                     |  LEFT JOIN deg ON deg.src = l.src
                     |  GROUP BY pg.node
                     |)""".stripMargin
                }.mkString(",\n")}
              |SELECT node, round(rank, 6) AS rank FROM r10
              |ORDER BY rank DESC, node LIMIT 20""".stripMargin)),

    // Weighted shortest paths (graph.Sssp, bounded Bellman-Ford) —
    // the weighted twin of g3's BFS and the last distance primitive:
    // edge cost falls with co-occurrence frequency (1000000 div
    // weight + 1 — popular word-follow transitions are cheap,
    // integer-exact on both engines), seeds are the 3 smallest
    // nodes, 6 relaxation rounds so every node holds the exact
    // cheapest ≤6-edge path cost. Scale shape: edges partitioned by
    // src once and persisted; per round only the distance table
    // moves and the consolidation is a partial-aggregated min; the
    // carried/relaxed double-reference is lineage-cut per round
    // (the PageRank fix), so plan depth stays constant. Oracle: 6
    // unrolled full-relaxation CTE rounds (MATERIALIZED — each
    // references its predecessor twice).
    Q("g14_sssp",
      (s, d) => {
        val we = LinkGraph
          .wordFollowWeighted(Tables.documents(s, d), "text")
          .select(col("src"), col("dst"),
            (expr("1000000 div weight") + 1).as("cost"))
        val nodes = we.select(col("src").as("node"))
          .union(we.select(col("dst").as("node"))).distinct()
        val seeds = nodes.orderBy("node").limit(3)
        graft.graph.Sssp.run(we, seeds, rounds = 6)
          .orderBy("node")
      },
      Some {
        val rounds = (1 to 6).map { h =>
          s"""s$h AS MATERIALIZED (
             |  SELECT node, min(dist) AS dist FROM (
             |    SELECT node, dist FROM s${h - 1}
             |    UNION ALL
             |    SELECT e.dst AS node, f.dist + e.cost AS dist
             |    FROM s${h - 1} f JOIN e ON e.src = f.node
             |  ) GROUP BY node
             |)""".stripMargin
        }.mkString(",\n")
        s"""WITH w AS (
           |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
           |  FROM documents WHERE length(trim(text)) > 0
           |),
           |e AS MATERIALIZED (
           |  SELECT src, dst, 1000000 // weight + 1 AS cost FROM (
           |    SELECT p.s AS src, p.d AS dst, count(*) AS weight
           |    FROM (SELECT unnest(list_transform(range(1, len(w)),
           |                        i -> {'s': w[i], 'd': w[i+1]})) AS p
           |          FROM w WHERE len(w) >= 2)
           |    GROUP BY 1, 2)
           |),
           |nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
           |s0 AS (
           |  SELECT node, CAST(0 AS BIGINT) AS dist
           |  FROM (SELECT node FROM nd ORDER BY node LIMIT 3)
           |),
           |$rounds
           |SELECT node, CAST(dist AS BIGINT) AS dist FROM s6
           |ORDER BY node""".stripMargin
      }),

    // Deterministic graph WALKS (graph.Walks) — the sampling
    // primitive under node2vec/DeepWalk representation learning: 5
    // seed walks of 4 hops over the word-follow graph, hop t leaving
    // node u through out-edge index (polyhash(u)·31 + t) mod
    // outdeg(u) — a pure function of (node, step), so the walk
    // corpus reproduces across runs, partitionings, and engines
    // where a rand() walk would not. Scale shape: indexed adjacency
    // + degrees build once partitioned by src; each hop joins only
    // the O(|walks|) frontier on that same key. Oracle: the same 4
    // hops unrolled, picking by the shared poly-hash formula over
    // the row_number adjacency.
    Q("g15_random_walks",
      (s, d) => {
        val e = LinkGraph.wordFollowEdges(Tables.documents(s, d), "text")
        val nodes = e.select(col("src").as("node"))
          .union(e.select(col("dst").as("node"))).distinct()
        val seeds = nodes.orderBy("node").limit(5)
        graft.graph.Walks.run(e, seeds, steps = 4)
          .orderBy("walk_id", "step")
      },
      Some(s"""WITH ${walkCtes(seeds = 5, steps = 4)}
           |SELECT walk_id, CAST(step AS BIGINT) AS step, node
           |FROM walks ORDER BY walk_id, step""".stripMargin)),

    // Skip-gram PAIR extraction over the walk corpus — the step that
    // turns g15's walks into representation-learning training data
    // (DeepWalk/node2vec feed word2vec exactly these (center,
    // context) pairs): every ordered within-2-steps co-occurrence on
    // the same walk, counted. Scale shape: the pair join is
    // co-partitioned on walk_id (each walk's pairs form locally,
    // state ≤ walk length × window), counts partial-agg on the pair
    // key. Oracle: the shared walk CTEs self-joined on walk_id.
    Q("g16_walk_pairs",
      (s, d) => {
        val e = LinkGraph.wordFollowEdges(Tables.documents(s, d), "text")
        val nodes = e.select(col("src").as("node"))
          .union(e.select(col("dst").as("node"))).distinct()
        val seeds = nodes.orderBy("node").limit(5)
        val walks = graft.graph.Walks.run(e, seeds, steps = 4)
        graft.graph.Walks.skipGramPairs(walks, window = 2)
          .orderBy("center", "context")
      },
      Some(s"""WITH ${walkCtes(seeds = 5, steps = 4)},
           |p AS (
           |  SELECT a.node AS center, b.node AS context,
           |    count(*) AS n_pairs
           |  FROM walks a JOIN walks b ON b.walk_id = a.walk_id
           |    AND b.step <> a.step AND abs(b.step - a.step) <= 2
           |  GROUP BY 1, 2
           |)
           |SELECT center, context, CAST(n_pairs AS BIGINT) AS n_pairs
           |FROM p ORDER BY center, context""".stripMargin)),

    // Degree assortativity card: Pearson corr of (out-degree(src),
    // in-degree(dst)) across distinct edges, from exact BIGINT
    // sufficient statistics (graft.graph.GraphStats Scaladoc covers
    // the divide-before-multiply overflow discipline). Two O(V)
    // degree aggs + two co-partitioned equi-joins + one global agg —
    // no windows, no driver state.
    Q("g17_assortativity",
      (s, d) => graft.graph.GraphStats.assortativity(
        LinkGraph.wordFollowEdges(Tables.documents(s, d), "text")),
      Some(s"""WITH $edgeCtes,
           |el AS (SELECT src, dst FROM e WHERE src <> dst),
           |outd AS (SELECT src, count(*) AS x FROM el GROUP BY src),
           |ind AS (SELECT dst, count(*) AS y FROM el GROUP BY dst),
           |st AS (
           |  SELECT count(*) AS n_edges,
           |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           |    CAST(sum(x * y) AS BIGINT) AS sxy,
           |    CAST(sum(x * x) AS BIGINT) AS sxx,
           |    CAST(sum(y * y) AS BIGINT) AS syy
           |  FROM el JOIN outd USING (src) JOIN ind USING (dst)
           |)
           |SELECT n_edges, sx, sy, sxy, sxx, syy,
           |  CASE WHEN (CAST(sxx AS DOUBLE) / n_edges
           |             - (CAST(sx AS DOUBLE) / n_edges)
           |               * (CAST(sx AS DOUBLE) / n_edges)) > 0
           |        AND (CAST(syy AS DOUBLE) / n_edges
           |             - (CAST(sy AS DOUBLE) / n_edges)
           |               * (CAST(sy AS DOUBLE) / n_edges)) > 0
           |    THEN CAST(floor((CAST(sxy AS DOUBLE) / n_edges
           |             - (CAST(sx AS DOUBLE) / n_edges)
           |               * (CAST(sy AS DOUBLE) / n_edges))
           |      / (sqrt(CAST(sxx AS DOUBLE) / n_edges
           |              - (CAST(sx AS DOUBLE) / n_edges)
           |                * (CAST(sx AS DOUBLE) / n_edges))
           |         * sqrt(CAST(syy AS DOUBLE) / n_edges
           |                - (CAST(sy AS DOUBLE) / n_edges)
           |                  * (CAST(sy AS DOUBLE) / n_edges)))
           |      * 10000 + 0.5) AS BIGINT)
           |    ELSE NULL END AS assort_fp
           |FROM st""".stripMargin)),

    // Edge reciprocity: fraction of directed edges with a reverse
    // edge — one composite-key left-semi self-join, one row out.
    Q("g18_reciprocity",
      (s, d) => graft.graph.GraphStats.reciprocity(
        LinkGraph.wordFollowEdges(Tables.documents(s, d), "text")),
      Some(s"""WITH $edgeCtes,
           |el AS (SELECT src, dst FROM e WHERE src <> dst),
           |m AS (
           |  SELECT count(*) AS n_mutual FROM el a
           |  WHERE EXISTS (SELECT 1 FROM el b
           |                WHERE b.src = a.dst AND b.dst = a.src)
           |),
           |t AS (SELECT count(*) AS n_edges FROM el)
           |SELECT n_edges, n_mutual,
           |  CAST(floor(CAST(n_mutual AS DOUBLE) / n_edges * 10000 + 0.5)
           |    AS BIGINT) AS recip_fp
           |FROM t, m""".stripMargin)),

    // Modularity of the g4 label-propagation assignment: per
    // community e_c/m − (d_c/2m)² over the canonical undirected
    // graph — the quality gate that tells whether the propagated
    // labels beat random cuts (GraphStats.modularity Scaladoc). The
    // oracle reuses the SHARED lpaCtes so g4 and g19 state one
    // definition of the propagation.
    Q("g19_modularity",
      (s, d) => {
        val e = LinkGraph.wordFollowEdges(Tables.documents(s, d), "text")
        graft.graph.GraphStats.modularity(e,
          graft.graph.LabelPropagation.communities(e, iters = 4))
      },
      Some(s"""WITH ${lpaCtes(4)},
           |$undCte,
           |dg AS (
           |  SELECT n, count(*) AS deg FROM (
           |    SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und
           |  ) GROUP BY n
           |),
           |mm AS (SELECT count(*) AS m FROM und),
           |ein AS (
           |  SELECT la.comm, count(*) AS e_in
           |  FROM und JOIN labels la ON la.node = und.a
           |           JOIN labels lb ON lb.node = und.b
           |  WHERE la.comm = lb.comm GROUP BY 1
           |),
           |ds AS (
           |  SELECT l.comm, count(*) AS n_nodes,
           |    CAST(sum(deg) AS BIGINT) AS d_sum
           |  FROM labels l JOIN dg ON dg.n = l.node GROUP BY 1
           |)
           |SELECT ds.comm AS comm, ds.n_nodes AS n_nodes,
           |  CAST(coalesce(ein.e_in, 0) AS BIGINT) AS e_in, ds.d_sum,
           |  CAST(floor((CAST(coalesce(ein.e_in, 0) AS DOUBLE)
           |      / (SELECT m FROM mm)
           |    - (CAST(ds.d_sum AS DOUBLE) / (2 * (SELECT m FROM mm)))
           |      * (CAST(ds.d_sum AS DOUBLE) / (2 * (SELECT m FROM mm))))
           |    * 100000000 + 0.5) AS BIGINT) AS contrib_fp
           |FROM ds LEFT JOIN ein ON ein.comm = ds.comm
           |ORDER BY ds.comm""".stripMargin)),

    // 4-truss of the word graph: edges supported by ≥2 triangles
    // within the surviving subgraph, peeled synchronously (bounded
    // form, 6 waves — idempotent once stable, which the word graph
    // reaches well inside 6; Truss.untilStable is the convergence
    // twin, spec-checked equal). The edge-centric density axis next
    // to g7's node peeling: pure bridges die here however high
    // their endpoints' cores are.
    Q("g20_ktruss",
      (s, d) => graft.graph.Truss.survivors(
          LinkGraph.wordFollowEdges(Tables.documents(s, d), "text"),
          k = 4, waves = 6)
        .orderBy("a", "b"),
      Some {
        val rounds = (0 to 5).map { i =>
          s"""s$i AS MATERIALIZED (
             |  SELECT a AS u, b AS v FROM t$i
             |  UNION ALL SELECT b, a FROM t$i
             |),
             |sup$i AS MATERIALIZED (
             |  SELECT t.a, t.b, count(*) AS sup
             |  FROM t$i t
             |  JOIN s$i x ON x.u = t.a
             |  JOIN s$i y ON y.u = t.b AND y.v = x.v
             |  GROUP BY t.a, t.b
             |),
             |t${i + 1} AS MATERIALIZED (
             |  SELECT a, b FROM sup$i WHERE sup >= 2
             |)""".stripMargin
        }.mkString(",\n")
        s"""WITH $edgeCtes,
           |t0 AS (
           |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           |  FROM e WHERE src <> dst
           |),
           |$rounds,
           |s6 AS (
           |  SELECT a AS u, b AS v FROM t6
           |  UNION ALL SELECT b, a FROM t6
           |),
           |sup6 AS (
           |  SELECT t.a, t.b, count(*) AS sup
           |  FROM t6 t
           |  JOIN s6 x ON x.u = t.a
           |  JOIN s6 y ON y.u = t.b AND y.v = x.v
           |  GROUP BY t.a, t.b
           |)
           |SELECT a, b, CAST(sup AS BIGINT) AS support
           |FROM sup6 WHERE sup >= 2
           |ORDER BY a, b""".stripMargin
      }),

    // FULL core decomposition (KCore.decompose): every word's core
    // number over the undirected word graph — the k-tail structure
    // card generalizing g7 ("who survives k=3") to "the largest k
    // each node survives", capped at maxK=5 with 4 peel waves per
    // level; BOTH caps are the defined semantics (bounded peels are
    // what an unrolled SQL mirror can state) and the convergence
    // twin KCore.decomposeUntilStable is spec-checked to agree once
    // bounded peeling stabilizes inside the caps. Levels seed from
    // the previous core's survivors (cores nest), so each level
    // peels a shrinking subgraph — one symmetric-edge shuffle total.
    Q("g21_core_decomp",
      (s, d) => graft.graph.KCore.decompose(
          LinkGraph.wordFollowEdges(Tables.documents(s, d), "text"),
          maxK = 5, waves = 4)
        .orderBy("node"),
      Some {
        val levels = (2 to 5).map { k =>
          val prev = if (k == 2) "c1" else s"c${k - 1}w4"
          val waves = (1 to 4).map { w =>
            val from = if (w == 1) prev else s"c${k}w${w - 1}"
            s"""c${k}w$w AS MATERIALIZED (
               |  SELECT s.u AS node FROM sym s
               |  JOIN $from x ON s.u = x.node
               |  JOIN $from y ON s.v = y.node
               |  GROUP BY s.u HAVING count(*) >= $k
               |)""".stripMargin
          }.mkString(",\n")
          waves
        }.mkString(",\n")
        s"""WITH $edgeCtes,
           |${symCtes(materialized = true)},
           |c1 AS MATERIALIZED (SELECT DISTINCT u AS node FROM sym),
           |$levels,
           |cores AS (
           |  SELECT node, 1 AS core FROM c1
           |  UNION ALL SELECT node, 2 FROM c2w4
           |  UNION ALL SELECT node, 3 FROM c3w4
           |  UNION ALL SELECT node, 4 FROM c4w4
           |  UNION ALL SELECT node, 5 FROM c5w4
           |)
           |SELECT node, CAST(max(core) AS BIGINT) AS core
           |FROM cores GROUP BY node
           |ORDER BY node""".stripMargin
      }),

    // Bounded deterministic Louvain (graph.Louvain): the
    // modularity-OPTIMIZING community operator — g4 propagates
    // labels, g19 measures their modularity, this one improves it:
    // 2 contraction levels × 2 parity-gated synchronous local-move
    // rounds, gains compared in EXACT integer arithmetic
    // (S = 2m·w(i,c) − k_i·d'_c), moves on strict gain only, ties to
    // the smallest community id. GraphSpec pins modularity(g26) ≥
    // modularity(g4) on a planted two-cluster fixture. Oracle =
    // fully unrolled move/contract CTEs over the same dense ids.
    Q("g26_louvain",
      (s, d) => graft.graph.Louvain.communities(
          LinkGraph.wordFollowEdges(Tables.documents(s, d), "text"),
          levels = 2, moveRounds = 2)
        .orderBy("node"),
      Some(s"""WITH ${louvainCtes(2, 2)}
           |SELECT i.node AS node, j.node AS comm
           |FROM fin JOIN ids i ON i.id = fin.id
           |         JOIN ids j ON j.id = fin.comm
           |ORDER BY node""".stripMargin)),

    // Landmark STRESS centrality (graph.Betweenness.landmarkStress):
    // the Brandes dependency accumulation restricted to g23's
    // 5-landmark set and a 4-hop radius, in the DIVISION-FREE form —
    // σ(s,v)·DAG-path-count(v) summed over landmarks — so every
    // quantity is an exact BIGINT and the unrolled mirror matches
    // bit-for-bit (normalized betweenness's σ-ratio sums land on the
    // float grid's rounding boundary; see the operator Scaladoc).
    // The "how much shortest-path traffic crosses v" card the
    // centrality family lacked (g10/g23 measure distance, pr_* rank
    // by link mass, this ranks by PATH LOAD).
    Q("g27_stress",
      (s, d) => {
        val e = LinkGraph.wordFollowEdges(Tables.documents(s, d), "text")
        graft.graph.Betweenness.landmarkStress(e, graphLandmarks(e),
            maxHops = 4)
          .orderBy("node")
      },
      Some {
        val fwd = (1 to 4).map { h =>
          s"""f$h AS (
             |  SELECT k.lm, s.v AS node,
             |    CAST(sum(k.sigma) AS BIGINT) AS sigma
             |  FROM k${h - 1} k JOIN sym s ON s.u = k.node
             |  WHERE k.dist = ${h - 1} GROUP BY 1, 2
             |),
             |k$h AS MATERIALIZED (
             |  SELECT * FROM k${h - 1}
             |  UNION ALL
             |  SELECT f.lm, f.node, $h AS dist, f.sigma FROM f$h f
             |  WHERE NOT EXISTS (SELECT 1 FROM k${h - 1} p
             |                    WHERE p.lm = f.lm AND p.node = f.node)
             |)""".stripMargin
        }.mkString(",\n")
        val back = (3 to 0 by -1).map { h =>
          s"""p$h AS MATERIALIZED (
             |  SELECT k.lm, k.node,
             |    CAST(coalesce(sum(1 + pw.p), 0) AS BIGINT) AS p
             |  FROM k4 k
             |  LEFT JOIN dag d ON d.lm = k.lm AND d.du = k.node
             |  LEFT JOIN p${h + 1} pw
             |    ON pw.lm = d.lm AND pw.node = d.dv
             |  WHERE k.dist = $h GROUP BY 1, 2
             |)""".stripMargin
        }.mkString(",\n")
        s"""WITH $edgeCtes,
           |${symCtes()},
           |lms AS (
           |  SELECT u AS lm FROM sym GROUP BY u ORDER BY u LIMIT 5
           |),
           |k0 AS (SELECT lm, lm AS node, 0 AS dist,
           |       CAST(1 AS BIGINT) AS sigma FROM lms),
           |$fwd,
           |dag AS MATERIALIZED (
           |  SELECT a.lm, a.node AS du, b.node AS dv
           |  FROM k4 a JOIN sym s ON s.u = a.node
           |  JOIN k4 b ON b.lm = a.lm AND b.node = s.v
           |    AND b.dist = a.dist + 1
           |),
           |p4 AS (SELECT lm, node, CAST(0 AS BIGINT) AS p
           |       FROM k4 WHERE dist = 4),
           |$back,
           |pp AS (
           |  SELECT * FROM p4 UNION ALL SELECT * FROM p3
           |  UNION ALL SELECT * FROM p2 UNION ALL SELECT * FROM p1
           |  UNION ALL SELECT * FROM p0
           |)
           |SELECT k.node AS node,
           |  CAST(sum(k.sigma * pp.p) AS BIGINT) AS stress
           |FROM k4 k JOIN pp ON pp.lm = k.lm AND pp.node = k.node
           |WHERE k.dist > 0
           |GROUP BY 1 ORDER BY node""".stripMargin
      }),

    // TWO-SWEEP diameter estimate (the classic double-BFS lower
    // bound: BFS from a fixed start, re-BFS from the farthest node
    // found — on trees exact, in general a high-quality lower bound
    // whose endpoints are a certified distant pair): completes the
    // distance family's ladder (g10 harmonic centrality → g23
    // per-landmark eccentricity → this, the global diameter card).
    // Both sweeps are Harmonic.landmarkDistances (frontier joins,
    // per-hop cuts); the farthest pick is a TakeOrdered over the
    // (dist DESC, node) order — one bounded row, never a collect;
    // sweep 2's landmark set IS that 1-row frame (no driver
    // round-trip between the sweeps).
    Q("g29_diameter",
      (s, d) => {
        val e = LinkGraph.wordFollowEdges(Tables.documents(s, d), "text")
        val start = graphLandmarks(e).orderBy("node").limit(1)
        val d1 = graft.graph.Harmonic.landmarkDistances(e, start,
          maxHops = 6)
        val far = d1.orderBy(col("dist").desc, col("node")).limit(1)
        val d2 = graft.graph.Harmonic.landmarkDistances(e,
          far.select(col("node")), maxHops = 6)
        start.select(col("node").as("start"))
          .crossJoin(far.select(col("node").as("far_node"),
            col("dist").as("ecc_start")))
          .crossJoin(d2.agg(max("dist").as("diameter_lb"),
            (count(lit(1)) - 1).as("n_reached_far")))
      },
      Some(s"""WITH RECURSIVE $edgeCtes,
              |${symCtes()},
              |st AS (SELECT u AS lm FROM sym GROUP BY u
              |       ORDER BY u LIMIT 1),
              |w1(node, dist) AS (
              |  SELECT lm, 0 FROM st
              |  UNION
              |  SELECT s.v, w.dist + 1
              |  FROM w1 w JOIN sym s ON s.u = w.node
              |  WHERE w.dist < 6
              |),
              |m1 AS (SELECT node, min(dist) AS dist FROM w1
              |       GROUP BY node),
              |far AS (
              |  SELECT node, dist FROM m1
              |  ORDER BY dist DESC, node LIMIT 1
              |),
              |w2(node, dist) AS (
              |  SELECT node, 0 FROM far
              |  UNION
              |  SELECT s.v, w.dist + 1
              |  FROM w2 w JOIN sym s ON s.u = w.node
              |  WHERE w.dist < 6
              |),
              |m2 AS (SELECT node, min(dist) AS dist FROM w2
              |       GROUP BY node)
              |SELECT (SELECT lm FROM st) AS start,
              |  (SELECT node FROM far) AS far_node,
              |  (SELECT CAST(dist AS BIGINT) FROM far) AS ecc_start,
              |  CAST(max(dist) AS BIGINT) AS diameter_lb,
              |  CAST(count(*) - 1 AS BIGINT) AS n_reached_far
              |FROM m2""".stripMargin)),

    // WEIGHTED Louvain (Louvain.communitiesWeighted) over the
    // word-FOLLOW multigraph: g26 runs on the distinct edge set
    // ("which words connect"); this runs on follow FREQUENCIES
    // ("which words connect often") — at sf0.1 the distinct graph
    // saturates (complete on 31 words, memory note) so the weighted
    // form is where community structure actually survives scale.
    // Same exact-integer argmax, weights just seed the level-1 w.
    Q("g28_louvain_weighted",
      (s, d) => graft.graph.Louvain.communitiesWeighted(
          LinkGraph.wordFollowWeighted(Tables.documents(s, d), "text"),
          levels = 2, moveRounds = 2)
        .orderBy("node"),
      Some(s"""WITH ${louvainCtes(2, 2, weighted = true)}
           |SELECT i.node AS node, j.node AS comm
           |FROM fin JOIN ids i ON i.id = fin.id
           |         JOIN ids j ON j.id = fin.comm
           |ORDER BY node""".stripMargin)),

    // Leiden-style connectivity repair (Traag et al. 2019) over g26's
    // run: Louvain's known defect is an INTERNALLY DISCONNECTED
    // community (a cut vertex moves out, or a synchronous round swaps
    // a pair, leaving strangers under one label); the repair splits
    // every community into the connected components of its induced
    // level-1 subgraph (exact star-contraction CC), relabeled by
    // minimum member. Splitting never loses an internal edge and
    // strictly shrinks the squared degree-mass term, so
    // Q(g30) ≥ Q(g26) always — GraphSpec pins the strict case on a
    // planted synchronous-swap fixture. The oracle mirrors the
    // repair as a recursive reachability closure (diameter-
    // independent, the g6 discipline) over the same intra-community
    // edge set.
    Q("g30_leiden_repair",
      (s, d) => graft.graph.Louvain.communitiesRefined(
          LinkGraph.wordFollowEdges(Tables.documents(s, d), "text"),
          levels = 2, moveRounds = 2)
        .orderBy("node"),
      Some(s"""WITH RECURSIVE ${louvainCtes(2, 2)},
           |intra AS (
           |  SELECT g.a, g.b FROM g1 g
           |  JOIN fin fa ON fa.id = g.a
           |  JOIN fin fb ON fb.id = g.b
           |  WHERE fa.comm = fb.comm AND g.a <> g.b
           |),
           |symi AS (
           |  SELECT a AS u, b AS v FROM intra
           |  UNION ALL SELECT b, a FROM intra
           |),
           |reach(u, v) AS (
           |  SELECT id, id FROM fin
           |  UNION
           |  SELECT r.u, s.v FROM reach r JOIN symi s ON s.u = r.v
           |),
           |cc AS (SELECT u AS id, min(v) AS comp FROM reach GROUP BY u)
           |SELECT i.node AS node, j.node AS comm
           |FROM cc JOIN ids i ON i.id = cc.id
           |        JOIN ids j ON j.id = cc.comp
           |ORDER BY node""".stripMargin)),

    // Global 4-cycle count (graph.Squares): priority-anchored wedge
    // counting — each square claimed once at its unique max-(deg,id)
    // corner, per-center wedge fan-out bounded by the O(√m)
    // higher-rank out-degree (the Triangles orientation law), so hub
    // centers never emit their d² wedge cross. The quadrangle is the
    // smallest motif triangles miss: bipartite-ish link structure
    // (co-citation, template pages) is square-heavy while
    // triangle-free. Oracle = a DIFFERENT exact algorithm (the
    // unrestricted codegree identity sum C(codeg,2) = 2·#C4), so the
    // anchoring logic is independently checked, not mirrored.
    Q("g31_squares",
      (s, d) => graft.graph.Squares.globalCount(
        LinkGraph.wordFollowEdges(Tables.documents(s, d), "text")),
      Some(s"""WITH $edgeCtes,
              |$undCte,
              |adj AS (
              |  SELECT a AS x, b AS u FROM und
              |  UNION ALL
              |  SELECT b, a FROM und
              |),
              |cod AS (
              |  SELECT p1.u AS u, p2.u AS w, count(*) AS c
              |  FROM adj p1 JOIN adj p2
              |    ON p1.x = p2.x AND p1.u < p2.u
              |  GROUP BY 1, 2
              |)
              |SELECT CAST(coalesce(sum((c * (c - 1)) // 2), 0) // 2
              |  AS BIGINT) AS n_squares
              |FROM cod""".stripMargin)),

    // Item-item co-visitation graph (graph.BipartiteProject): fold
    // the (user, page) event log onto weighted page-page edges —
    // "users who viewed both" — the recommender backbone projection.
    // The page key is the props.k JSON field (the q17 extraction,
    // codegen'd); view+click events only. The per-user top-8 cap is
    // the operator's heavy-user guard: explicit, parameterized, and
    // ORACLE-CHECKED (the row_number mirror applies the identical
    // (count DESC, page ASC) cap), never a silent truncation.
    Q("g32_covisit",
      (s, d) => {
        val visits = Tables.events(s, d)
          .filter(col("event_type").isin("view", "click"))
          .select(col("user_id"),
            get_json_object(col("props"), "$.k").cast("long").as("page"))
          .filter(col("page").isNotNull)
        graft.graph.BipartiteProject.covisit(visits, "user_id", "page",
            maxItemsPerUser = 8, minSupport = 2)
          .orderBy("item_a", "item_b")
      },
      Some("""WITH v AS (
             |  SELECT user_id,
             |    CAST(props->>'$.k' AS BIGINT) AS page
             |  FROM events
             |  WHERE event_type IN ('view', 'click')
             |    AND (props->>'$.k') IS NOT NULL
             |),
             |c AS (
             |  SELECT user_id, page, count(*) AS vc
             |  FROM v GROUP BY 1, 2
             |),
             |r AS (
             |  SELECT user_id, page, row_number() OVER (
             |    PARTITION BY user_id ORDER BY vc DESC, page) AS rn
             |  FROM c
             |),
             |capped AS (SELECT user_id, page FROM r WHERE rn <= 8)
             |SELECT x.page AS item_a, y.page AS item_b,
             |  count(*) AS n_users
             |FROM capped x
             |JOIN capped y
             |  ON x.user_id = y.user_id AND x.page < y.page
             |GROUP BY 1, 2
             |HAVING count(*) >= 2
             |ORDER BY item_a, item_b""".stripMargin)),

    // FULL truss decomposition (graph.Truss.decompose): per-edge max
    // k surviving the k-truss — the edge-centric completion of the
    // density family (g20 answers "which edges survive THIS k", g21
    // decomposes nodes by core; this decomposes EDGES by truss,
    // the standard community-core strength label). Progressive
    // nested peeling, truss ≤ 5, 4 waves per level — the g21
    // bounded contract, convergence twin spec-pinned. Oracle =
    // fully unrolled per-level × per-wave support recounts.
    Q("g33_truss_decomp",
      (s, d) => graft.graph.Truss.decompose(
          LinkGraph.wordFollowEdges(Tables.documents(s, d), "text"),
          maxK = 5, waves = 4)
        .orderBy("a", "b"),
      Some {
        val levels = (3 to 5).map { k =>
          (1 to 4).map { w =>
            val from = if (w == 1) { if (k == 3) "t2" else s"t${k - 1}w4" }
              else s"t${k}w${w - 1}"
            s"""s${k}w$w AS (
               |  SELECT a AS u, b AS v FROM $from
               |  UNION ALL SELECT b, a FROM $from
               |),
               |t${k}w$w AS MATERIALIZED (
               |  SELECT t.a, t.b FROM $from t
               |  JOIN s${k}w$w x ON x.u = t.a
               |  JOIN s${k}w$w y ON y.u = t.b AND y.v = x.v
               |  GROUP BY t.a, t.b
               |  HAVING count(*) >= $k - 2
               |)""".stripMargin
          }.mkString(",\n")
        }.mkString(",\n")
        s"""WITH $edgeCtes,
           |t2 AS MATERIALIZED (
           |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           |  FROM e WHERE src <> dst
           |),
           |$levels,
           |lv AS (
           |  SELECT a, b, 2 AS truss FROM t2
           |  UNION ALL SELECT a, b, 3 FROM t3w4
           |  UNION ALL SELECT a, b, 4 FROM t4w4
           |  UNION ALL SELECT a, b, 5 FROM t5w4
           |)
           |SELECT a, b, CAST(max(truss) AS BIGINT) AS truss
           |FROM lv GROUP BY a, b
           |ORDER BY a, b""".stripMargin
      })
  )

  /** DuckDB CTEs mirroring graft.graph.Louvain.communities over the
    * word-follow graph: weighted undirected graph with dense ids,
    * per level `moveRounds` unrolled parity-gated local-move rounds
    * (exact-integer scores, row_number argmax — result-identical to
    * the Spark side's long-packing argmax), then contraction —
    * ending in `fin` (id, comm) plus `ids` for the name mapping.
    */
  private def louvainCtes(levels: Int, moveRounds: Int,
      weighted: Boolean = false): String = {
    def roundCtes(lv: Int, r: Int): String = {
      val prev = if (r == 1) s"l${lv}r0" else s"l${lv}r${r - 1}"
      val par = r % 2
      s"""wic_${lv}_$r AS (
         |  SELECT n, c, CAST(sum(w) AS BIGINT) AS w FROM (
         |    SELECT g.a AS n, lb.comm AS c, g.w FROM g$lv g
         |    JOIN $prev lb ON lb.id = g.b WHERE g.a <> g.b
         |    UNION ALL
         |    SELECT g.b, la.comm, g.w FROM g$lv g
         |    JOIN $prev la ON la.id = g.a WHERE g.a <> g.b
         |  ) GROUP BY 1, 2
         |),
         |dc_${lv}_$r AS (
         |  SELECT p.comm AS c, CAST(sum(d.k) AS BIGINT) AS d
         |  FROM $prev p JOIN deg$lv d ON d.n = p.id GROUP BY 1
         |),
         |cand_${lv}_$r AS (
         |  SELECT n, c, max(w) AS w FROM (
         |    SELECT n, c, w FROM wic_${lv}_$r
         |    UNION ALL SELECT id, comm, CAST(0 AS BIGINT) FROM $prev
         |  ) GROUP BY 1, 2
         |),
         |sc_${lv}_$r AS (
         |  SELECT cd.n, cd.c, p.comm AS cur,
         |    2 * (SELECT m FROM mm) * cd.w
         |      - d.k * (dc.d - CASE WHEN cd.c = p.comm THEN d.k
         |                           ELSE 0 END) AS s
         |  FROM cand_${lv}_$r cd
         |  JOIN deg$lv d ON d.n = cd.n
         |  JOIN $prev p ON p.id = cd.n
         |  JOIN dc_${lv}_$r dc ON dc.c = cd.c
         |),
         |l${lv}r$r AS MATERIALIZED (
         |  SELECT p.id,
         |    CASE WHEN p.id % 2 = $par AND b.s > st.s THEN b.c
         |         ELSE p.comm END AS comm
         |  FROM $prev p
         |  JOIN (SELECT n, c, s FROM (
         |          SELECT n, c, s, row_number() OVER (
         |            PARTITION BY n ORDER BY s DESC, c) AS rn
         |          FROM sc_${lv}_$r) WHERE rn = 1) b ON b.n = p.id
         |  JOIN sc_${lv}_$r st ON st.n = p.id AND st.c = p.comm
         |)""".stripMargin
    }
    def levelCtes(lv: Int): String = {
      val w1 = if (weighted) "und.uw" else "CAST(1 AS BIGINT)"
      val graph =
        if (lv == 1)
          s"""g1 AS MATERIALIZED (
             |  SELECT least(ia.id, ib.id) AS a, greatest(ia.id, ib.id) AS b,
             |    $w1 AS w
             |  FROM und JOIN ids ia ON ia.node = und.a
             |           JOIN ids ib ON ib.node = und.b
             |),
             |mm AS (SELECT CAST(sum(w) AS BIGINT) AS m FROM g1)"""
            .stripMargin
        else {
          val lp = s"l${lv - 1}r$moveRounds"
          s"""g$lv AS MATERIALIZED (
             |  SELECT least(la.comm, lb.comm) AS a,
             |    greatest(la.comm, lb.comm) AS b, CAST(sum(w) AS BIGINT) AS w
             |  FROM g${lv - 1} g JOIN $lp la ON la.id = g.a
             |                    JOIN $lp lb ON lb.id = g.b
             |  GROUP BY 1, 2
             |)""".stripMargin
        }
      val rounds = (1 to moveRounds).map(roundCtes(lv, _)).mkString(",\n")
      s"""$graph,
         |deg$lv AS MATERIALIZED (
         |  SELECT n, CAST(sum(w) AS BIGINT) AS k FROM (
         |    SELECT a AS n, CASE WHEN a = b THEN 2 * w ELSE w END AS w
         |    FROM g$lv
         |    UNION ALL
         |    SELECT b, w FROM g$lv WHERE a <> b
         |  ) GROUP BY n
         |),
         |l${lv}r0 AS (SELECT n AS id, n AS comm FROM deg$lv),
         |$rounds""".stripMargin
    }
    val allLevels = (1 to levels).map(levelCtes).mkString(",\n")
    val fin = (2 to levels).foldLeft(
      s"SELECT id, comm FROM l1r$moveRounds") { (acc, lv) =>
      s"""SELECT p.id, l.comm FROM ($acc) p
         |JOIN l${lv}r$moveRounds l ON l.id = p.comm""".stripMargin
    }
    val und =
      if (weighted)
        s"""we AS (
           |  SELECT p.s AS src, p.d AS dst,
           |    CAST(count(*) AS BIGINT) AS weight
           |  FROM (SELECT unnest(list_transform(range(1, len(w)),
           |                      i -> {'s': w[i], 'd': w[i+1]})) AS p
           |        FROM w WHERE len(w) >= 2)
           |  GROUP BY 1, 2
           |),
           |und AS (
           |  SELECT least(src, dst) AS a, greatest(src, dst) AS b,
           |    CAST(sum(weight) AS BIGINT) AS uw
           |  FROM we WHERE src <> dst GROUP BY 1, 2
           |)""".stripMargin
      else undCte
    s"""$edgeCtes,
       |$und,
       |ids AS MATERIALIZED (
       |  SELECT node,
       |    CAST(row_number() OVER (ORDER BY node) AS BIGINT) AS id
       |  FROM (SELECT a AS node FROM und UNION SELECT b FROM und)
       |),
       |$allLevels,
       |fin AS ($fin)""".stripMargin
  }

  /** DuckDB CTEs mirroring graft.graph.LabelPropagation.communities
    * over the word-follow graph — symmetrized distinct edges, dense
    * ids, unrolled majority-vote rounds — ending in `labels`
    * (node, comm). Shared by g4 (the assignment itself) and g19
    * (modularity of that assignment) so both mirrors state ONE
    * definition of the propagation.
    */
  private def lpaCtes(iters: Int): String = {
    val rounds = (1 to iters).map { h =>
      s"""c$h AS (
         |  SELECT es.dst AS id, r${h - 1}.label, count(*) AS c
         |  FROM es JOIN r${h - 1} ON es.src = r${h - 1}.id
         |  GROUP BY 1, 2
         |),
         |r$h AS (
         |  SELECT id, label FROM (
         |    SELECT id, label, row_number() OVER (
         |      PARTITION BY id ORDER BY c DESC, label) AS rn
         |    FROM c$h) WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""$edgeCtes,
       |sym AS (
       |  SELECT DISTINCT src, dst FROM
       |  (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e)
       |),
       |ids AS MATERIALIZED (
       |  SELECT node,
       |    CAST(row_number() OVER (ORDER BY node) AS BIGINT) AS id
       |  FROM (SELECT DISTINCT src AS node FROM sym)
       |),
       |es AS MATERIALIZED (
       |  SELECT a.id AS src, b.id AS dst
       |  FROM sym JOIN ids a ON a.node = sym.src
       |           JOIN ids b ON b.node = sym.dst
       |),
       |r0 AS (SELECT id, id AS label FROM ids),
       |$rounds,
       |labels AS MATERIALIZED (
       |  SELECT i.node AS node, j.node AS comm
       |  FROM r$iters JOIN ids i ON i.id = r$iters.id
       |          JOIN ids j ON j.id = r$iters.label
       |)""".stripMargin
  }

  /** DuckDB CTEs mirroring graft.graph.Walks.run over the word-follow
    * graph — row_number adjacency, degrees, and the shared poly-hash
    * hop pick — ending in `walks` (walk_id, step, node). Shared by
    * g15 (the walk corpus itself) and g16 (skip-gram pairs) so both
    * mirrors state one definition of the walk.
    */
  private def walkCtes(seeds: Int, steps: Int): String = {
    val hops = (1 to steps).map { t =>
      s"""f$t AS MATERIALIZED (
         |  SELECT s.walk_id, $t AS step, a.dst AS node
         |  FROM f${t - 1} s
         |  JOIN deg dg ON dg.src = s.node
         |  JOIN adj a ON a.src = s.node
         |    AND a.idx = (${TextHash.duckStringHash("s.node")} * 31
         |                 + $t) % dg.outdeg
         |)""".stripMargin
    }.mkString(",\n")
    val union = (0 to steps).map(t => s"SELECT * FROM f$t")
      .mkString("\n  UNION ALL ")
    s"""$edgeCtes,
       |adj AS MATERIALIZED (
       |  SELECT src, dst, row_number() OVER (
       |    PARTITION BY src ORDER BY dst) - 1 AS idx
       |  FROM e
       |),
       |deg AS (SELECT src, count(*) AS outdeg FROM adj GROUP BY src),
       |nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |f0 AS (
       |  SELECT node AS walk_id, 0 AS step, node
       |  FROM (SELECT node FROM nd ORDER BY node LIMIT $seeds)
       |),
       |$hops,
       |walks AS (
       |  $union
       |)""".stripMargin
  }
}

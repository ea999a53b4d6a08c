package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.{LinkGraph, PageRank}
import graft.operators.Checkpointing.CutOps

/** The reference-compatible end-to-end pipeline: text file in → ranked
  * text file out, mirroring `hadoop jar PageRank.jar <in> <out>`
  * (/root/reference/PageRank.java:246-337, main + 4 chained jobs).
  *
  * Phases map 1:1 with no intermediate text-file materialization (the
  * reference writes and re-reads the full graph as text between every
  * job). On a 2,000-page dump one pass runs 14 Spark jobs, 36 before
  * each PageRank round became a single gather (every round's page
  * join had been a broadcast job of its own):
  *   1. page count   → pushed filter + count on the text source
  *   2. link graph   → regexp extraction (LinkGraph.parseWikiPages),
  *                     cut once; the page set and PageRank's statics
  *                     both read that cut, so the text is scanned and
  *                     matched once a pass
  *   3. 10×PageRank  → PageRank.runOnPages (exact reference
  *                     semantics: 1/N init, duplicate outlinks
  *                     counted, non-page targets dropped). A round is
  *                     one join of the cut edge table (each page's own
  *                     record rides it as a zero-weight self edge)
  *                     with the ranks and one aggregate per target;
  *                     on one partition the 10 rounds fuse into one
  *                     stage, run by the write's job
  *   4. sort + write → descending orderBy, tab-separated text, the
  *                     reference's single-reducer total order. For
  *                     cluster-scale output drop the coalesce(1):
  *                     orderBy alone gives range-partitioned files
  *                     that concatenate to the total order.
  */
object WikiPageRankPipeline {

  /** Runs the 4-phase pipeline; returns (pageCount, ranks DF). */
  def run(spark: SparkSession, pages: DataFrame, pageCol: String,
      iterations: Int = 10, damping: Double = 0.85): (Long, DataFrame) = {
    val nonEmpty = pages.filter(length(trim(col(pageCol))) > 0)
    val nPages = nonEmpty.count() // phase 1 (job-conf scalar handoff)
    // Cut once: the page set and the PageRank statics both read this
    // cut, so the text scan and both regexes run once a pass.
    val links = LinkGraph.parseWikiPages(nonEmpty, pageCol)
      .select(col("title").as("src"), col("outlink").as("dst"))
      .lineageCut
    val titles = links.select(col("src").as("node")).distinct()
    val ranks = PageRank.runOnPages(titles, links, nPages,
      iterations, damping)
    (nPages, ranks)
  }

  /** text file in → ranked text file out. Returns the page count. */
  def execute(spark: SparkSession, in: String, out: String,
      iterations: Int = 10): Long = {
    val (n, ranks) = run(spark, spark.read.text(in), "value", iterations)
    ranks
      .orderBy(col("rank").desc, col("node"))
      .select(concat_ws("\t", col("node"),
        format_number(col("rank"), 10)).as("value"))
      .coalesce(1) // reference: single-reducer total order
      .write.mode(SaveMode.Overwrite).text(out)
    n
  }

  /** File-to-file entry point (the reference's main signature). */
  def main(args: Array[String]): Unit = {
    val Array(in, out) = args.take(2)
    val iterations = if (args.length > 2) args(2).toInt else 10
    val spark = graft.GraftSession.local()
    try {
      val n = execute(spark, in, out, iterations)
      System.err.println(s"[wiki-pagerank] pages=$n")
    } finally spark.stop()
  }
}

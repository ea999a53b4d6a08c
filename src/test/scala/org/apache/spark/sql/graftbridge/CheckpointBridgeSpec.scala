package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.graph.PageRank
import graft.operators.Checkpointing
import graft.sources.WikiPageRankPipeline

/** The bridge's stock-cut fallback: a cut whose final plan cannot be
  * associated with its logical output declares `UnknownPartitioning`,
  * and every reader of it re-shuffles. PageRank's speed rests on its
  * statics keeping their layout, so its paths must never fall back.
  */
class CheckpointBridgeSpec extends SparkSpec {

  /** Builds and collects `ranks`; returns the fallbacks and the cuts
    * taken meanwhile, and the result's partition count.
    */
  private def fallbacksDuring(ranks: => DataFrame): (Long, Int, Int) = {
    Checkpointing.capturedPlans.clear()
    spark.conf.set(Checkpointing.CaptureKey, "true")
    val before = CheckpointBridge.fallbacks.get
    val parts =
      try { val r = ranks; r.collect(); r.rdd.getNumPartitions }
      finally spark.conf.unset(Checkpointing.CaptureKey)
    val cuts = Checkpointing.capturedPlans.size
    Checkpointing.capturedPlans.clear()
    (CheckpointBridge.fallbacks.get - before, cuts, parts)
  }

  test("runOnPages and the wiki pipeline never fall back, at 1 and 8 partitions") {
    import spark.implicits._
    val n = 300
    def targets(i: Int) = Seq(s"p${(i * 7 + 1) % n}", s"p${(i * 13 + 5) % n}",
      "ghost")
    val links = (0 until n).flatMap(i => targets(i).map(s"p$i" -> _))
      .toDF("src", "dst")
    val text = (0 until n).map(i => s"<title>p$i</title> <text>" +
      targets(i).map(t => s"[[$t]]").mkString(" ") + "</text>").toDF("value")
    // AQE coalescing off at 8 partitions, so the statics keep more
    // than one partition and each round plans its own exchange.
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(key)
    for ((parts, layout) <- Seq[(Int, DataFrame => DataFrame)](
        1 -> (_.coalesce(1)), 8 -> (_.repartition(8)))) {
      spark.conf.set(key, if (parts > 1) "false" else prev)
      try {
        val edges = layout(links)
        for (((fallbacks, cuts, resultParts), what) <- Seq(
            fallbacksDuring(PageRank.runOnPages(
              edges.select(col("src").as("node")).distinct(), edges, n)) ->
              "runOnPages",
            fallbacksDuring(WikiPageRankPipeline.run(spark, layout(text),
              "value")._2) -> "wiki pipeline")) {
          assert(cuts >= 3, s"$what at $parts partitions: $cuts cuts")
          assert(fallbacks == 0,
            s"$what at $parts partitions: $fallbacks of $cuts cuts fell back")
          if (parts > 1)
            assert(resultParts > 1, s"$what: $resultParts partitions")
        }
      } finally spark.conf.set(key, prev)
    }
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.graph.{ConnectedComponents, PageRank}
import graft.operators.{Checkpointing, CurationFunnel}

/** The reliable-checkpoint switch (`graft.checkpoint.reliable`):
  * every iterative operator's lineage cut must produce BIT-IDENTICAL
  * results in both modes — the switch changes where materialized
  * blocks live (executor block manager vs the checkpoint directory),
  * never the plan — and the reliable mode must actually write to the
  * configured directory (that's what a cluster's fault tolerance is
  * buying).
  */
class CheckpointingSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def withReliable[A](body: => A): A = {
    val dir = Files.createTempDirectory("graft_ckpt").toFile
      .getAbsolutePath
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(Checkpointing.ReliableKey, "true")
    try body
    finally {
      spark.conf.unset(Checkpointing.ReliableKey)
      val d = new java.io.File(dir)
      assert(d.listFiles().exists(_.listFiles().nonEmpty),
        "reliable mode wrote nothing to the checkpoint directory")
    }
  }

  test("reliable checkpointing requires a checkpoint dir") {
    // Guard against the silent-failure mode: reliable=true without a
    // directory must fail AT THE CUT, not at job end. (Conditional:
    // the checkpoint dir lives on the shared SparkContext, so this
    // can only be exercised before any suite sets one.)
    assume(spark.sparkContext.getCheckpointDir.isEmpty)
    val fresh = spark.newSession()
    fresh.conf.set(Checkpointing.ReliableKey, "true")
    val df = fresh.range(3).toDF("id")
    intercept[IllegalArgumentException] { Checkpointing.cut(df) }
  }

  test("PageRank, components, and the funnel are identical in both modes") {
    val edges = spark.read.parquet(s"$sf/events.parquet")
      .filter(col("user_id") =!= col("value"))
      .select(col("user_id").as("src"),
        (col("value") % 50).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .limit(400)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val pairs = spark.range(0, 40).toDF("a")
      .select(col("a"), (col("a") + 1).as("b"))
      .filter(col("a") % 7 =!= 0) // chains broken into components

    // 25 rounds cross two of PageRank.run's fused-round cuts.
    def snapshot(): (Seq[String], Seq[String], Seq[String]) = (
      PageRank.run(edges, iterations = 25)
        .select(col("node"), round(col("rank"), 9).as("r"))
        .orderBy("node").collect().map(_.toString).toSeq,
      ConnectedComponents.dupGroups(pairs, iters = 2)
        .orderBy("doc_id").collect().map(_.toString).toSeq,
      CurationFunnel.audit(docs).orderBy("stage_id")
        .collect().map(_.toString).toSeq)

    // The counted cut's count is its rows' count, in either mode.
    def counted(): Unit = {
      val (cutEdges, n) = Checkpointing.cutCounted(edges)
      assert(n == edges.count() && n == cutEdges.count())
    }
    counted()
    withReliable { counted() }

    val local = snapshot()
    val reliable = withReliable { snapshot() }
    assert(local._1 == reliable._1, "PageRank diverged across modes")
    assert(local._2 == reliable._2, "components diverged across modes")
    assert(local._3 == reliable._3, "funnel audit diverged across modes")
  }

  test("Rounds.SameRows keeps going while a step moves rows at a constant count") {
    import spark.implicits._
    import graft.operators.Rounds
    val init = spark.range(5).toDF("x")
    // Rounds 1-3 shift every row by one: the count stays 5 but the
    // rows change. From round 4 on the step returns its input.
    def step(df: org.apache.spark.sql.DataFrame, r: Int) =
      df.select((col("x") + lit(if (r <= 3) 1L else 0L)).as("x"))
    val run = Rounds.until(init, 10, Rounds.SameRows)(step)
    assert(run.converged && run.rounds == 4 && run.rows == 5,
      s"stopped after ${run.rounds} rounds, converged = ${run.converged}")
    assert(run.frame.as[Long].collect().sorted.toSeq == (3L to 7L))
    // The count-only stop ends after round 1, with the rows still moving.
    assert(Rounds.until(init, 10, Rounds.Unchanged)(step).rounds == 1)
    // Capped before the repeat: no convergence claimed.
    val capped = Rounds.until(init, 3, Rounds.SameRows)(step)
    assert(!capped.converged && capped.rounds == 3)
  }

  test("cache lifecycle: self-releasing loops leave the registry empty; lazy results release after clearCache") {
    val sess = spark.newSession()
    val cm = sess.sharedState.cacheManager
    // cacheManager is SHARED across sessions of one SparkContext —
    // other suites may have left entries; measure deltas instead.
    def assertReleasesOwnCaches[A](label: String)(body: => A): A = {
      sess.catalog.clearCache()
      val r = body
      assert(cm.isEmpty,
        s"$label left persisted frames in the cache registry")
      r
    }
    import sess.implicits._
    val edges = (0 until 30).map(i => (s"w$i", s"w${(i * 7) % 30}"))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    // Convergence twins cut their results eagerly, so they must
    // release their own loop caches before returning (the Scaladoc
    // contract); results must survive the release.
    val pr = assertReleasesOwnCaches("PageRank.runUntilConverged") {
      PageRank.runUntilConverged(edges, tol = 1e-3,
        maxIterations = 50)._1.collect()
    }
    assert(pr.nonEmpty)
    val hits = assertReleasesOwnCaches("Hits.runUntilConverged") {
      graft.graph.Hits.runUntilConverged(edges, tol = 1e-6,
        maxIterations = 100)._1.collect()
    }
    assert(hits.nonEmpty)
    // Fixed-iteration entry points return LAZY plans over eagerly
    // lineage-cut statics (round-11 contract): the iteration chain
    // stays visible to plan pins/explain audits, but the statics are
    // localCheckpoint blocks that self-release with the RDD — the
    // cache REGISTRY never sees them, at construction or after
    // materializing (CacheHygieneSpec pins this per operator).
    sess.catalog.clearCache()
    val lazyRanks = PageRank.run(edges, iterations = 4)
    assert(cm.isEmpty, "run() registered caches at construction")
    assert(lazyRanks.collect().nonEmpty)
    assert(cm.isEmpty, "run() registered caches at materialization")
  }
}

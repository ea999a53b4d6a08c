package graft

import graft.graph.{LinkGraph, PageRank}

/** Semantics tests for the graph layer against hand-computed values
  * (reference formula: PR' = 0.15 + 0.85·Σ pr/outdeg, see
  * /root/reference/PageRank.java:523).
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("wordFollowEdges extracts distinct adjacent pairs") {
    val docs = Seq((1L, "a b c b c"), (2L, " "), (3L, "solo")).toDF("doc_id", "text")
    val edges = LinkGraph.wordFollowEdges(docs, "text")
      .as[(String, String)].collect().toSet
    assert(edges == Set(("a", "b"), ("b", "c"), ("c", "b")))
  }

  test("parseWikiPages extracts title and outlinks like the reference") {
    val pages = Seq(
      "<title>Page One</title> <text>see [[A]] and [[B]]</text>",
      "no title here [[C]]").toDF("page")
    val got = LinkGraph.parseWikiPages(pages, "page")
      .as[(String, String)].collect().toSet
    assert(got == Set(("Page One", "A"), ("Page One", "B")))
  }

  test("two-node cycle converges toward rank 1.0 under the reference formula") {
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val ranks = PageRank.run(edges, iterations = 10)
      .as[(String, Double)].collect().toMap
    // Fixed point of r = 0.15 + 0.85 r is r = 1; from 0.5 after 10
    // damped iterations the residual is 0.5·0.85^10 ≈ 0.0984.
    assert(math.abs(ranks("a") - ranks("b")) < 1e-12)
    assert(math.abs(ranks("a") - (1.0 - 0.5 * math.pow(0.85, 10))) < 1e-9)
  }

  test("weighted PageRank: uniform weights reduce to run(); skew shifts rank") {
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "a"), ("c", "a"))
      .toDF("src", "dst")
    val uniform = edges.withColumn("weight",
      org.apache.spark.sql.functions.lit(1L))
    val plain = PageRank.run(edges, iterations = 6)
      .as[(String, Double)].collect().toMap
    val viaW = PageRank.runWeighted(uniform, iterations = 6)
      .as[(String, Double)].collect().toMap
    for (k <- plain.keys) assert(math.abs(plain(k) - viaW(k)) < 1e-14)

    // 9:1 weight on a->b must rank b above c (equal under run()).
    val skewed = Seq(("a", "b", 9L), ("a", "c", 1L), ("b", "a", 1L),
      ("c", "a", 1L)).toDF("src", "dst", "weight")
    val got = PageRank.runWeighted(skewed, iterations = 6)
      .as[(String, Double)].collect().toMap
    assert(math.abs(plain("b") - plain("c")) < 1e-14)
    assert(got("b") > got("c") + 0.1)
  }

  test("personalized PageRank: teleport lands on sources, recurrence exact") {
    val edges = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"))
      .toDF("src", "dst")
    val sources = Seq("a").toDF("node")
    val got = PageRank.runPersonalized(edges, sources, iterations = 8)
      .as[(String, Double)].collect().toMap
    // Hand-iterate the same recurrence: tele = (1,0,0); out-degrees
    // a=1, b=2, c=1.
    var (ra, rb, rc) = (1.0, 0.0, 0.0)
    for (_ <- 1 to 8) {
      val (na, nb, nc) =
        (0.15 * 1.0 + 0.85 * (rb / 2), 0.85 * (ra / 1 + rc / 1),
          0.85 * (rb / 2))
      ra = na; rb = nb; rc = nc
    }
    assert(math.abs(got("a") - ra) < 1e-12)
    assert(math.abs(got("b") - rb) < 1e-12)
    assert(math.abs(got("c") - rc) < 1e-12)
    // Proximity ordering: the source outranks its neighborhood.
    assert(got("a") > got("b") && got("b") > got("c"))
  }

  test("convergence-driven run stops early and matches the fixed point") {
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val (ranksDf, iters) = PageRank.runUntilConverged(edges, tol = 1e-2,
      maxIterations = 100, checkpointEvery = 5)
    val ranks = ranksDf.as[(String, Double)].collect().toMap
    // Per-iteration delta is 0.075·0.85^(k-1): < 1e-2 first at k = 14
    // — far below maxIterations, so the loop genuinely stopped on the
    // residual, and the rank matches the closed form 1 − 0.5·0.85^k.
    assert(iters == 14, s"iters = $iters")
    assert(math.abs(ranks("a") - ranks("b")) < 1e-12)
    assert(math.abs(ranks("a") -
      (1.0 - 0.5 * math.pow(0.85, iters))) < 1e-9)
  }

  test("incremental warm start: same fixpoint, fewer iterations on a delta") {
    // A ring with a chord gives slow-ish uniform-seed convergence;
    // yesterday's ranks seed today's delta-edged graph.
    // tol/checkpointEvery sized for a unit test: ~40 iterations cold
    // with 5-deep lazy plans between cuts (a 1e-9 run here built
    // 20-iteration plan strings × 3 runs and OOM'd the driver).
    val base = (0 until 12).map(i => (s"n$i", s"n${(i + 1) % 12}")) :+
      (("n0", "n6"))
    val (prev, _) = PageRank.runUntilConverged(base.toDF("src", "dst"),
      tol = 1e-5, maxIterations = 100, checkpointEvery = 5)
    // delta: one new edge, one new node hanging off the ring
    val delta = base ++ Seq(("n3", "n9"), ("n5", "nNEW"))
    val edges = delta.toDF("src", "dst")
    val (cold, itCold) = PageRank.runUntilConverged(edges,
      tol = 1e-5, maxIterations = 100, checkpointEvery = 5)
    val (warm, itWarm) = PageRank.runUntilConverged(edges,
      tol = 1e-5, maxIterations = 100, checkpointEvery = 5,
      seedRanks = Some(prev))
    assert(itWarm < itCold,
      s"warm start should converge faster: warm=$itWarm cold=$itCold")
    val c = cold.as[(String, Double)].collect().toMap
    val w = warm.as[(String, Double)].collect().toMap
    assert(c.keySet == w.keySet)
    // both stopped at max|Δ| < tol of the SAME damping-contraction,
    // so each is within tol/(1-d) ≈ 6.7e-5 of the true fixpoint
    for ((k, v) <- c)
      assert(math.abs(v - w(k)) < 2e-4, s"node $k: cold=$v warm=${w(k)}")
    // the new node exists in the warm result despite missing from the seed
    assert(w.contains("nNEW"))
  }

  test("rank delta movers: new/gone/moved statuses and deterministic ties") {
    // constructed snapshots so every status is exercised (the corpus
    // query's shared vocabulary rarely produces 'gone' organically)
    val prev = Seq(("a", 0.5), ("b", 0.3), ("c", 0.2)).toDF("node", "rank")
    val cur = Seq(("a", 0.8), ("b", 0.3), ("d", 0.4)).toDF("node", "rank")
    val got = graft.graph.RankDelta.movers(prev, cur, k = 10)
      .as[(String, String, Long)].collect().toList
    assert(got == List(
      ("d", "new", 400000L),   // |0.4|
      ("a", "moved", 300000L), // |0.3|
      ("c", "gone", -200000L), // |−0.2|
      ("b", "moved", 0L)))
    // tie on |delta| breaks by node ascending, and k truncates
    val p2 = Seq(("x", 0.1), ("y", 0.3)).toDF("node", "rank")
    val c2 = Seq(("x", 0.3), ("y", 0.1)).toDF("node", "rank")
    val top1 = graft.graph.RankDelta.movers(p2, c2, k = 1)
      .as[(String, String, Long)].collect().toList
    assert(top1 == List(("x", "moved", 200000L)))
  }

  test("saltHotKeys: salted contribution aggregation matches unsalted") {
    // 50:1 in-degree hub — the aggregation-skew shape saltHotKeys
    // exists for. Salting only changes float summation order, so the
    // two runs agree to ~1 ulp per iteration.
    val edges = ((1 to 50).map(i => (s"n$i", "hub")) ++
      (1 to 50).map(i => ("hub", s"n$i"))).toDF("src", "dst")
    val plain = PageRank.run(edges, iterations = 5)
      .as[(String, Double)].collect().toMap
    val salted = PageRank.run(edges, iterations = 5, saltHotKeys = 8)
      .as[(String, Double)].collect().toMap
    assert(plain.keySet == salted.keySet)
    for (k <- plain.keys)
      assert(math.abs(plain(k) - salted(k)) < 1e-12, s"node $k")
  }

  test("saltHotKeys on the weighted and page variants matches unsalted") {
    val edges = ((1 to 40).map(i => (s"n$i", "hub", (i % 3 + 1).toLong)) ++
      (1 to 40).map(i => ("hub", s"n$i", 1L))).toDF("src", "dst", "weight")
    val plain = PageRank.runWeighted(edges, iterations = 4)
      .as[(String, Double)].collect().toMap
    val salted = PageRank.runWeighted(edges, iterations = 4, saltHotKeys = 8)
      .as[(String, Double)].collect().toMap
    for (k <- plain.keys)
      assert(math.abs(plain(k) - salted(k)) < 1e-12, s"weighted $k")

    // "ghost" is a link target with no page: its contributions must
    // drop under salting too.
    val links = ((1 to 40).map(i => (s"n$i", "hub")) ++
      (1 to 40).map(i => ("hub", s"n$i")) ++
      Seq(("hub", "ghost"))).toDF("src", "dst")
    val pages = links.select(org.apache.spark.sql.functions.col("src")
      .as("node")).distinct()
    val p1 = PageRank.runOnPages(pages, links, nPages = 41, iterations = 4)
      .as[(String, Double)].collect().toMap
    val p2 = PageRank.runOnPages(pages, links, nPages = 41, iterations = 4,
      saltHotKeys = 8).as[(String, Double)].collect().toMap
    for (k <- p1.keys)
      assert(math.abs(p1(k) - p2(k)) < 1e-12, s"pages $k")
    assert(p1.keySet == p2.keySet && !p2.contains("ghost"))
  }

  /** Pages `p0..p(n-1)`, each with two outlinks to pages (one of them
    * duplicated on every third page) and one to the non-page "ghost".
    */
  private def pageLinks(n: Int): Seq[(String, String)] =
    (0 until n).flatMap { i =>
      val a = s"p${(i * 7 + 1) % n}"
      Seq((s"p$i", a), (s"p$i", s"p${(i * 13 + 5) % n}"), (s"p$i", "ghost")) ++
        (if (i % 3 == 0) Seq((s"p$i", a)) else Nil)
    }

  /** `k` reference rounds (PageRank.java:523, non-page targets dropped)
    * from `seed`, computed on the driver.
    */
  private def pageRounds(links: Seq[(String, String)],
      seed: Map[String, Double], k: Int): Map[String, Double] = {
    val outDeg = links.groupBy(_._1).map { case (s, ls) => s -> ls.size }
    (1 to k).foldLeft(seed) { (r, _) =>
      val in = links.filter(l => r.contains(l._2))
        .groupMapReduce(_._2)(l => r(l._1) / outDeg(l._1))(_ + _)
      r.map { case (p, _) => p -> (0.15 + 0.85 * in.getOrElse(p, 0.0)) }
    }
  }

  /** Runs `body` and returns its value with the largest per-task peak
    * execution memory among the tasks it ran. A marker job closes the
    * window: listener events arrive in order, so once the marker's
    * end is seen every task of `body` has been counted.
    */
  private def withPeakTaskMem[T](body: => T): (T, Long) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val key = "graft.test.peakMemMarker"
    val peak = new java.util.concurrent.atomic.AtomicLong
    val markerJob = new java.util.concurrent.atomic.AtomicInteger(-1)
    val seen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          peak.accumulateAndGet(te.taskMetrics.peakExecutionMemory, math.max)
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty(key) != null)
          markerJob.set(js.jobId)
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (je.jobId == markerJob.get) seen.countDown()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty(key, "end")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(key, null)
      assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (out, peak.get)
    } finally sc.removeSparkListener(listener)
  }

  test("runOnPages: 30 rounds equal 3 × 10 hand-seeded rounds, memory bounded") {
    // One partition: the gathers need no exchange, so the rounds fuse
    // into one stage between cuts and the fusion bound is what keeps
    // the 30-round task's memory at the 10-round task's.
    val links = pageLinks(300)
    val df = links.toDF("src", "dst").coalesce(1)
    val pages = df.select(org.apache.spark.sql.functions.col("src")
      .as("node")).distinct()
    val (r10, peak10) = withPeakTaskMem(
      PageRank.runOnPages(pages, df, nPages = 300, iterations = 10)
        .as[(String, Double)].collect().toMap)
    val (r30, peak30) = withPeakTaskMem(
      PageRank.runOnPages(pages, df, nPages = 300, iterations = 30)
        .as[(String, Double)].collect().toMap)

    val seed = links.map(_._1).distinct.map(_ -> 1.0 / 300).toMap
    val h10 = pageRounds(links, seed, 10)
    val h30 = pageRounds(links, pageRounds(links, h10, 10), 10)
    assert(r10.keySet == h10.keySet && r30.keySet == h30.keySet)
    for (k <- h30.keys) {
      assert(math.abs(r10(k) - h10(k)) < 1e-12, s"10 rounds $k")
      assert(math.abs(r30(k) - h30(k)) < 1e-12, s"30 rounds $k")
    }
    // Each fused round holds two aggregation maps (~peak10 / 10), so
    // without the bound the 30-round task peaks near 3 × peak10. A
    // segment that starts from a checkpointed rank table allocates a
    // few KB more than the first one, hence the margin below one round.
    assert(peak10 > 0)
    assert(peak30 < peak10 + peak10 / 10,
      s"30-round peak $peak30 B vs 10-round $peak10 B")
  }

  test("runOnPages at 8 partitions matches the 1-partition run") {
    val links = pageLinks(300).toDF("src", "dst").coalesce(1)
    val pages = links.select(org.apache.spark.sql.functions.col("src")
      .as("node")).distinct()
    val one = PageRank.runOnPages(pages, links, nPages = 300)
      .as[(String, Double)].collect().toMap
    // AQE coalescing off, so the size-derived partition count stays
    // above 1 and the unfused plan (one exchange per round) runs.
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    val (many, parts) = try {
      val r = PageRank.runOnPages(pages.repartition(8), links.repartition(8),
        nPages = 300)
      (r.as[(String, Double)].collect().toMap, r.rdd.getNumPartitions)
    } finally spark.conf.set(key, prev)
    assert(parts > 1)
    assert(many.keySet == one.keySet)
    for (k <- one.keys)
      assert(math.abs(many(k) - one(k)) < 1e-12, s"node $k")
  }

  test("redistributeDangling: conserving recurrence exact, mass sums to 1") {
    // a -> b with b dangling: under reference semantics b's outflow
    // leaks; conserving redistributes it uniformly and normalizes the
    // teleport, so total mass stays exactly 1 every iteration.
    val edges = Seq(("a", "b")).toDF("src", "dst")
    val ranks = PageRank.run(edges, iterations = 10,
      redistributeDangling = true).as[(String, Double)].collect().toMap
    var (ra, rb) = (0.5, 0.5)
    for (_ <- 1 to 10) {
      val dm = rb // b is the dangling node
      val t = (1.0 - 0.85) / 2
      val na = t + 0.85 * (0.0 + dm / 2)
      val nb = t + 0.85 * (ra / 1 + dm / 2)
      ra = na; rb = nb
    }
    assert(math.abs(ranks("a") - ra) < 1e-12)
    assert(math.abs(ranks("b") - rb) < 1e-12)
    assert(math.abs(ranks("a") + ranks("b") - 1.0) < 1e-12)
  }

  test("triangle count: complete graph, path, hub+rim; input direction-free") {
    import graft.graph.Triangles
    def tri(pairs: Seq[(String, String)]): Long =
      Triangles.globalCount(pairs.toDF("src", "dst")).as[Long].head()
    // K4: C(4,3) = 4 triangles.
    val k4 = for {
      a <- Seq("a", "b", "c", "d"); b <- Seq("a", "b", "c", "d")
      if a < b
    } yield (a, b)
    assert(tri(k4) == 4L)
    // Path: none.
    assert(tri(Seq(("a", "b"), ("b", "c"), ("c", "d"))) == 0L)
    // Hub star + one rim edge closes exactly one triangle; duplicate
    // and reversed edges must not change the count.
    val star = (1 to 10).map(i => ("hub", s"n$i")) ++
      Seq(("n1", "n2"), ("n2", "n1"), ("hub", "n1"))
    assert(tri(star) == 1L)

    // Clustering coefficients on the hub graph: hub has d=10, t=1
    // (coeff 2/90 -> 222 e4); n1/n2 have d=2, t=1 (coeff 1.0); the
    // other rim nodes d=1, t=0, coeff 0.
    val cc = Triangles.clusteringCoefficients(star.toDF("src", "dst"))
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(cc("hub") == ((10L, 1L, 222L)))
    assert(cc("n1") == ((2L, 1L, 10000L)))
    assert(cc("n2") == ((2L, 1L, 10000L)))
    assert(cc("n3") == ((1L, 0L, 0L)))
    // K4: every node d=3, t=3, coeff exactly 1.
    val cck4 = Triangles.clusteringCoefficients(k4.toDF("src", "dst"))
      .as[(String, Long, Long, Long)].collect()
    assert(cck4.forall(r => r._2 == 3L && r._3 == 3L && r._4 == 10000L))
  }

  test("square count: planted cycles, K4, random graphs vs brute force") {
    import graft.graph.Squares
    def sq(pairs: Seq[(String, String)]): Long =
      Squares.globalCount(pairs.toDF("src", "dst")).as[Long].head()
    // One plain 4-cycle; duplicates and reversals must not change it.
    assert(sq(Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"),
      ("b", "a"), ("a", "b"))) == 1L)
    // K4: 3 squares (each of the 3 perfect matchings of diagonals).
    val k4 = for {
      a <- Seq("a", "b", "c", "d"); b <- Seq("a", "b", "c", "d")
      if a < b
    } yield (a, b)
    assert(sq(k4) == 3L)
    // Triangle and path: none.
    assert(sq(Seq(("a", "b"), ("b", "c"), ("c", "a"))) == 0L)
    assert(sq(Seq(("a", "b"), ("b", "c"), ("c", "d"))) == 0L)
    // Complete bipartite K(2,3): C(2,2)·C(3,2) = 3 squares and zero
    // triangles — the motif the triangle census misses.
    val k23 = for (a <- Seq("l1", "l2"); b <- Seq("r1", "r2", "r3"))
      yield (a, b)
    assert(sq(k23) == 3L)
    // Random graphs vs an O(n^4) brute-force corner enumeration.
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 7841)
      val n = 9
      val edges = (for {
        a <- 0 until n; b <- (a + 1) until n
        if rnd.nextDouble() < 0.4
      } yield (s"v$a", s"v$b")).toSeq
      val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      def linked(a: String, b: String) = adj.getOrElse(a, Set()).contains(b)
      val nodes = adj.keys.toSeq.sorted
      // Count each cycle once: corners (a, x, c, y) with a the
      // lexicographic minimum and x < y its two neighbors.
      val brute = (for {
        a <- nodes; x <- nodes if a < x && linked(a, x)
        y <- nodes if x < y && linked(a, y)
        c <- nodes if c != a && c > a && linked(x, c) && linked(y, c)
      } yield 1).size.toLong
      assert(sq(edges) == brute, s"seed $seed")
    }
  }

  test("truss decomposition: bowtie, K4+tail, K5; twin agrees") {
    import graft.graph.Truss
    def decomp(pairs: Seq[(String, String)]): Map[(String, String), Long] =
      Truss.decompose(pairs.toDF("src", "dst"), maxK = 5, waves = 4)
        .as[(String, String, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
    // Bowtie (two triangles sharing a vertex... use shared EDGE):
    // triangles a-b-c and a-b-d share edge (a,b). Its 2 triangles
    // don't make a 4-truss: the OTHER edges have support 1, so the
    // k=4 peel cascades and every edge lands at truss 3.
    val bowtie = Seq(("a", "b"), ("a", "c"), ("b", "c"),
      ("a", "d"), ("b", "d"))
    assert(decomp(bowtie).values.toSet == Set(3L))
    // K4 + pendant tail: K4 edges are a 4-truss (each edge in 2
    // triangles that survive together); the tail edge has no
    // triangle -> truss 2.
    val k4 = for {
      x <- Seq("a", "b", "c", "d"); y <- Seq("a", "b", "c", "d")
      if x < y
    } yield (x, y)
    val withTail = k4 ++ Seq(("d", "t"))
    val dt = decomp(withTail)
    assert(k4.forall(e => dt(e) == 4L))
    assert(dt(("d", "t")) == 2L)
    // K5: every edge sits in 3 triangles -> the whole clique is a
    // 5-truss.
    val k5 = for {
      x <- Seq("a", "b", "c", "d", "e")
      y <- Seq("a", "b", "c", "d", "e") if x < y
    } yield (x, y)
    assert(decomp(k5).values.toSet == Set(5L))
    // Convergence twin agreement on the mixed fixture.
    val exact = Truss
      .decomposeUntilStable(withTail.toDF("src", "dst"), maxK = 5)
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(exact == dt)
  }

  test("covisit projection: pair weights exact, heavy-user cap binds") {
    import graft.graph.BipartiteProject
    // Users 1..3 share items; user 9 is the heavy user touching
    // items 100..109 once each — with cap 4 the (count DESC, item
    // ASC) rule keeps exactly items 100..103.
    val visits = Seq(
      (1L, 10L), (1L, 11L), (1L, 10L), // repeat visit: count 2 on 10
      (2L, 10L), (2L, 11L), (2L, 12L),
      (3L, 11L), (3L, 12L)) ++
      (100L to 109L).map(i => (9L, i))
    val df = visits.toDF("user_id", "item")
    val got = BipartiteProject
      .covisit(df, "user_id", "item", maxItemsPerUser = 4, minSupport = 2)
      .as[(Long, Long, Long)].collect().toSet
    // (10,11): users 1,2; (11,12): users 2,3; (10,12): only user 2.
    assert(got == Set((10L, 11L, 2L), (11L, 12L, 2L)))
    // With minSupport 1 the heavy user's pairs appear, but ONLY
    // among its 4 kept items: C(4,2) = 6 pairs, none touching 104+.
    val all = BipartiteProject
      .covisit(df, "user_id", "item", maxItemsPerUser = 4, minSupport = 1)
      .as[(Long, Long, Long)].collect()
    val heavy = all.filter(p => p._1 >= 100L)
    assert(heavy.length == 6)
    assert(heavy.forall(p => p._1 <= 103L && p._2 <= 103L))
    // Brute-force parity on the capped universe.
    val byUser = visits.groupBy(_._1).map { case (u, vs) =>
      u -> vs.groupBy(_._2).map { case (i, n) => i -> n.size }
        .toSeq.sortBy { case (i, n) => (-n, i) }.take(4).map(_._1).toSet
    }
    val want = byUser.values.flatMap(items =>
      items.toSeq.sorted.combinations(2).map(p => (p(0), p(1))))
      .groupBy(identity).map { case (k, v) => (k._1, k._2, v.size.toLong) }
      .toSet
    assert(all.toSet == want)
  }

  test("BFS hop distance: multi-source min, hop bound, unreachable absent") {
    import graft.graph.Bfs
    // chain a->b->c->d->e plus seed z->c (shortcut): c is 1 from z,
    // not 2 from a; f is disconnected; e is 4 hops from a but outside
    // maxHops = 3.
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
      ("z", "c"), ("f", "f")).toDF("src", "dst")
    val seeds = Seq("a", "z").toDF("node")
    val got = Bfs.hopDistance(edges, seeds, maxHops = 3)
      .as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 0L, "z" -> 0L, "b" -> 1L, "c" -> 1L,
      "d" -> 2L, "e" -> 3L))
    val bounded = Bfs.hopDistance(edges, Seq("a").toDF("node"), maxHops = 3)
      .as[(String, Long)].collect().toMap
    assert(bounded == Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L))
  }

  test("label propagation: cliques split at the bridge, ties to min") {
    import graft.graph.LabelPropagation
    // Two triangles joined by one bridge c-x. Hand-unrolled sync LPA
    // (ids by sorted name: a=1..z=6) stabilizes in round 3: the left
    // clique keeps label 1 ("a"), the right converges on label 3
    // ("c" — LPA labels are identifiers, not members; x,y,z share
    // c's id because it crossed the bridge in round 1).
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"),
      ("x", "y"), ("x", "z"), ("y", "z"), ("c", "x")).toDF("src", "dst")
    val got = LabelPropagation.communities(edges, iters = 4)
      .as[(String, String)].collect().toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "c", "y" -> "c", "z" -> "c"))
  }

  test("BFS to exhaustion: stops past the eccentricity, agrees with bounded") {
    import graft.graph.Bfs
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
      ("z", "c"), ("f", "f")).toDF("src", "dst")
    val seeds = Seq("a", "z").toDF("node")
    val (dist, rounds) = Bfs.hopDistanceUntilDone(edges, seeds)
    assert(dist.as[(String, Long)].collect().toMap ==
      Bfs.hopDistance(edges, seeds, maxHops = 10)
        .as[(String, Long)].collect().toMap)
    // e sits 3 hops out; round 4 proves exhaustion.
    assert(rounds == 4)
  }

  test("LPA until stable: converges on the two-clique fixture") {
    import graft.graph.LabelPropagation
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"),
      ("x", "y"), ("x", "z"), ("y", "z"), ("c", "x")).toDF("src", "dst")
    val (comm, rounds) = LabelPropagation.communitiesUntilStable(edges)
    assert(comm.as[(String, String)].collect().toMap ==
      Map("a" -> "a", "b" -> "a", "c" -> "a",
        "x" -> "c", "y" -> "c", "z" -> "c"))
    // Hand-unrolled: labels stabilize after round 3; round 4 detects
    // zero movement.
    assert(rounds == 4)
  }

  test("dangling node receives rank but leaks its own (reference semantics)") {
    // a -> b, b has no outlinks: b's rank grows from a only; a gets
    // only the teleport term.
    val edges = Seq(("a", "b")).toDF("src", "dst")
    val ranks = PageRank.run(edges, iterations = 10)
      .as[(String, Double)].collect().toMap
    assert(math.abs(ranks("a") - 0.15) < 1e-12)
    assert(math.abs(ranks("b") - (0.15 + 0.85 * 0.15)) < 1e-12)
  }

  test("Adamic-Adar: wedge scores, adjacency excluded, middle-degree cap") {
    // Path a-b-c plus hub h adjacent to a, c, d. Non-adjacent pairs
    // with shared neighbors: (a,c) via b (deg 2) AND via h (deg 3);
    // (a,d)/(c,d) via h; (b,h) via a and c (deg 2 each).
    val edges = Seq(("a", "b"), ("b", "c"), ("h", "a"), ("h", "c"),
      ("h", "d"), ("c", "b")).toDF("src", "dst") // (c,b) dup reversed
    val e6ln2 = math.floor(1e6 / math.log(2) + 0.5).toLong
    val e6ln3 = math.floor(1e6 / math.log(3) + 0.5).toLong
    val got = graft.graph.LinkPredict.adamicAdarTopK(edges, k = 10)
      .as[(String, String, Long)].collect()
    val byPair = got.map(r => (r._1, r._2) -> r._3).toMap
    assert(byPair(("a", "c")) == e6ln2 + e6ln3)
    assert(byPair(("a", "d")) == e6ln3)
    assert(byPair(("c", "d")) == e6ln3)
    assert(byPair(("b", "h")) == 2 * e6ln2)
    assert(!byPair.contains(("a", "b")), "adjacent pair must be excluded")
    // Strongest first, total order.
    assert(got.head._3 == got.map(_._3).max)
    // Capping the middle degree at 2 removes every wedge through h.
    val capped = graft.graph.LinkPredict
      .adamicAdarTopK(edges, k = 10, maxMiddleDegree = Some(2L))
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(capped == Map(("a", "c") -> e6ln2, ("b", "h") -> 2 * e6ln2))
  }

  /** Brute-force SCC reference: transitive closure over a small edge
    * list, scc(u) = min over the mutually-reachable set (incl. u).
    */
  private def sccRef(edges: Seq[(String, String)])
      : Map[String, String] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    var reach = edges.toSet
    var grew = true
    while (grew) {
      val next = reach ++ (for ((a, b) <- reach; (c, d) <- reach
        if b == c) yield (a, d))
      grew = next.size > reach.size
      reach = next
    }
    nodes.map { u =>
      val mutual = nodes.filter(v =>
        v == u || (reach((u, v)) && reach((v, u))))
      u -> mutual.min
    }.toMap
  }

  private def sccOf(edges: Seq[(String, String)]): Map[String, String] =
    graft.graph.Scc.run(edges.toDF("src", "dst"))
      .as[(String, String)].collect().toMap

  test("SCC: cycles, bridges, tendrils, nested structure — exact") {
    // two 3-cycles joined by a ONE-WAY bridge (must not merge), a
    // tendril chain hanging off, an isolated 2-cycle, a self-loop
    // node, and a DAG diamond (all singletons)
    val edges = Seq(
      "a" -> "b", "b" -> "c", "c" -> "a", // cycle 1
      "c" -> "p", // one-way bridge
      "p" -> "q", "q" -> "r", "r" -> "p", // cycle 2
      "r" -> "t1", "t1" -> "t2", "t2" -> "t3", // tendril chain
      "x" -> "y", "y" -> "x", // isolated 2-cycle
      "z" -> "z", // self-loop only
      "d1" -> "d2", "d1" -> "d3", "d2" -> "d4", "d3" -> "d4") // diamond
    assert(sccOf(edges) == sccRef(edges))
  }

  test("k-core: clique survives, tendrils peel, twin agrees") {
    import graft.graph.KCore
    // K4 clique (3-core) + a chain hanging off one corner (peels
    // wave by wave) + a triangle (2-core, dies at k=3)
    val edges = Seq(
      "a" -> "b", "a" -> "c", "a" -> "d", "b" -> "c", "b" -> "d",
      "c" -> "d", // K4
      "d" -> "e", "e" -> "f", "f" -> "g", // chain off d
      "t1" -> "t2", "t2" -> "t3", "t3" -> "t1") // triangle
      .toDF("src", "dst")
    val got = KCore.survivors(edges, k = 3, waves = 6)
      .as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L),
      "only the K4 survives at k=3, each with 3 in-core neighbors")
    val stable = KCore.untilStable(edges, k = 3)
      .as[(String, Long)].collect().toMap
    assert(stable == got, "bounded waves converged -> twin agrees")
    // k=2: K4 + triangle survive, chain still peels
    val k2 = KCore.untilStable(edges, k = 2)
      .as[(String, Long)].collect().toMap
    assert(k2.keySet == Set("a", "b", "c", "d", "t1", "t2", "t3"))
    assert(k2("t1") == 2L && k2("a") == 3L)
    // degenerate: k larger than any degree -> empty, twin agrees
    assert(KCore.survivors(edges, k = 9, waves = 3).isEmpty)
    assert(KCore.untilStable(edges, k = 9).isEmpty)
  }

  test("core decomposition: core != degree on bridges, twin agrees, cap binds") {
    import graft.graph.KCore
    // K4 (core 3) + chain off d (core 1) + triangle (core 2) + a
    // BRIDGE node x adjacent to two K4 members: degree 2 but core 2
    // (not 3 — it can't keep 3 in-core neighbors), the core≠degree
    // case a degree table alone can't produce.
    val edges = Seq(
      "a" -> "b", "a" -> "c", "a" -> "d", "b" -> "c", "b" -> "d",
      "c" -> "d",
      "d" -> "e", "e" -> "f", "f" -> "g",
      "t1" -> "t2", "t2" -> "t3", "t3" -> "t1",
      "x" -> "a", "x" -> "b")
      .toDF("src", "dst")
    val got = KCore.decompose(edges, maxK = 5, waves = 6)
      .as[(String, Long)].collect().toMap
    val want = Map(
      "a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L,
      "e" -> 1L, "f" -> 1L, "g" -> 1L,
      "t1" -> 2L, "t2" -> 2L, "t3" -> 2L,
      "x" -> 2L)
    assert(got == want)
    assert(got("x") == 2L && got.keySet.count(_ == "x") == 1)
    // Convergence twin agrees once the bounded peels have stabilized.
    val conv = KCore.decomposeUntilStable(edges, maxK = 5)
      .as[(String, Long)].collect().toMap
    assert(conv == want)
    // The maxK CAP binds: capping below the true core truncates to it.
    val capped = KCore.decompose(edges, maxK = 2, waves = 6)
      .as[(String, Long)].collect().toMap
    assert(capped == want.view.mapValues(v => math.min(v, 2L)).toMap)
  }

  test("HITS: star center dominates authority, agrees with plain-Scala ref") {
    import graft.graph.Hits
    // three hubs into one authority `a`, which passes on to `z`; h1
    // also points at a second target so hub roles are not all equal
    val adj = Seq("h1" -> "a", "h2" -> "a", "h3" -> "a", "a" -> "z",
      "h1" -> "b")
    val got = Hits.run(adj.toDF("src", "dst"), iterations = 8)
      .as[(String, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

    // in-test reference: the same half-step order in plain Scala
    val nodes = (adj.map(_._1) ++ adj.map(_._2)).distinct
    var auth = nodes.map(_ -> 1.0).toMap
    var hub = nodes.map(_ -> 1.0).toMap
    for (_ <- 1 to 8) {
      val ar = adj.groupBy(_._2).map { case (v, es) =>
        v -> es.map(e => hub(e._1)).sum }
      val na = ar.values.sum
      auth = nodes.map(n => n -> ar.getOrElse(n, 0.0) / na).toMap
      val hr = adj.groupBy(_._1).map { case (u, es) =>
        u -> es.map(e => auth(e._2)).sum }
      val nh = hr.values.sum
      hub = nodes.map(n => n -> hr.getOrElse(n, 0.0) / nh).toMap
    }
    nodes.foreach { n =>
      assert(math.abs(got(n)._1 - auth(n)) < 1e-12, s"auth($n)")
      assert(math.abs(got(n)._2 - hub(n)) < 1e-12, s"hub($n)")
    }
    assert(got("h2") == got("h3"), "identical-role hubs score identically")
    assert(nodes.filter(_ != "a").forall(n => got("a")._1 > got(n)._1),
      "the star center out-scores every other node on authority")
    assert(math.abs(got.values.map(_._1).sum - 1.0) < 1e-12, "L1 norm")
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-12, "L1 norm")
  }

  test("HITS convergence twin: stabilized scores satisfy the fixpoint") {
    import graft.graph.Hits
    val adj = Seq("h1" -> "a", "h2" -> "a", "h3" -> "a", "a" -> "z",
      "h1" -> "b")
    val (scores, iters) = Hits.runUntilConverged(
      adj.toDF("src", "dst"), tol = 1e-10)
    assert(iters >= 2)
    val got = scores.as[(String, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // fixpoint check: one more half-step pair in plain Scala must
    // move auth by less than the tolerance the twin promised
    val nodes = (adj.map(_._1) ++ adj.map(_._2)).distinct
    val hub = got.view.mapValues(_._2).toMap
    val ar = adj.groupBy(_._2).map { case (v, es) =>
      v -> es.map(e => hub(e._1)).sum }
    val na = ar.values.sum
    val nextAuth = nodes.map(n => n -> ar.getOrElse(n, 0.0) / na).toMap
    val drift = nodes.map(n => math.abs(nextAuth(n) - got(n)._1)).sum
    assert(drift < 1e-9, s"auth drifted $drift after an extra step")
  }

  test("directed motifs: cyclic vs transitive triangles, hand-counted") {
    import graft.graph.Triangles
    // one 3-cycle (a,b,c), one transitive triangle (p→q, q→r, p→r),
    // a reciprocal pair (x<->y, closes nothing), and a self-loop
    val edges = Seq(
      "a" -> "b", "b" -> "c", "c" -> "a",
      "p" -> "q", "q" -> "r", "p" -> "r",
      "x" -> "y", "y" -> "x", "z" -> "z").toDF("src", "dst")
    val got = Triangles.directedMotifs(edges)
      .as[(Long, Long)].collect().head
    assert(got == ((1L, 1L)))
    // a fully-reciprocal triangle holds 2 cyclic orientations and 6
    // transitive instances (each of the 6 wedge orderings closes)
    val full = Seq("a" -> "b", "b" -> "a", "b" -> "c", "c" -> "b",
      "a" -> "c", "c" -> "a").toDF("src", "dst")
    val g2 = Triangles.directedMotifs(full)
      .as[(Long, Long)].collect().head
    assert(g2 == ((2L, 6L)))
    // no triangles at all -> explicit zeros, not nulls
    val none = Seq("a" -> "b", "b" -> "c").toDF("src", "dst")
    assert(Triangles.directedMotifs(none)
      .as[(Long, Long)].collect().head == ((0L, 0L)))
  }

  test("harmonic centrality: hand-computed landmark distances, hop bound") {
    import graft.graph.Harmonic
    // path a-b-c-d-e (undirected by the operator) + isolated pair x-y
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e",
      "x" -> "y").toDF("src", "dst")
    val got = Harmonic.fromLandmarks(edges,
        Seq("a", "x").toDF("node"), maxHops = 3)
      .as[(String, Long)].collect().toMap
    // from a: b=1, c=2, d=3, e=4 (beyond the bound); from x: y=1;
    // a and x are each other's unreachable, own dist-0 terms drop
    assert(got == Map(
      "b" -> 1000000L, "c" -> 500000L, "d" -> 333333L, "y" -> 1000000L))
    // second landmark adds its term: harm(c) from {a, e} = 1/2 + 1/2
    val two = Harmonic.fromLandmarks(edges,
        Seq("a", "e").toDF("node"), maxHops = 3)
      .as[(String, Long)].collect().toMap
    assert(two("c") == 1000000L)
    assert(two("b") == 1000000L + 333333L)
  }

  test("neighborhood function: exact when k exceeds every ball") {
    import graft.graph.Neighborhood
    // directed: a→b→c→d chain plus d→b back-edge (cycle b,c,d) and an
    // isolated edge x→y; with k=32 > any ball, est = EXACT |ball|
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "b",
      "x" -> "y").toDF("src", "dst")
    val got = Neighborhood.kmvBalls(edges, hops = 3, k = 32)
      .as[(String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    def ball(u: String, t: Long): Long = {
      val adj = Map("a" -> Set("b"), "b" -> Set("c"), "c" -> Set("d"),
        "d" -> Set("b"), "x" -> Set("y"), "y" -> Set.empty[String])
      var s = Set(u)
      for (_ <- 1L to t) s = s ++ s.flatMap(adj)
      s.size.toLong
    }
    for (u <- Seq("a", "b", "c", "d", "x", "y"); t <- 0L to 3L)
      assert(got((u, t)) == ball(u, t), s"ball($u, $t)")
    // small k engages the estimator: still deterministic (the k
    // smallest distinct hashes are a function of the set), so two
    // runs agree bit-for-bit
    val e2 = Neighborhood.kmvBalls(edges, hops = 2, k = 2)
      .as[(String, Long, Long)].collect().toSet
    val e2b = Neighborhood.kmvBalls(edges, hops = 2, k = 2)
      .as[(String, Long, Long)].collect().toSet
    assert(e2 == e2b && e2.nonEmpty)
  }

  test("SCC: adversarial id order and descending chains converge") {
    // descending-id chain (worst case for min-reach peeling: F spreads
    // the global min everywhere) feeding a cycle whose min is NOT the
    // graph min, plus a cycle that reaches a smaller external id —
    // F < B on every member until the smaller SCC peels first
    val edges = Seq(
      "9" -> "8", "8" -> "7", "7" -> "6", "6" -> "5", // chain
      "5" -> "m1", "m1" -> "m2", "m2" -> "m0", "m0" -> "m1", // cycle A
      "m2" -> "0") // cycle A reaches the global min singleton
    assert(sccOf(edges) == sccRef(edges))
    // random graphs: parity against the brute-force closure
    val rnd = new scala.util.Random(0x5CC)
    for (trial <- 1 to 5) {
      val n = 8 + rnd.nextInt(6)
      val es = (1 to n * 2).map(_ =>
        s"n${rnd.nextInt(n)}" -> s"n${rnd.nextInt(n)}")
        .filter(e => e._1 != e._2).distinct
      if (es.nonEmpty)
        assert(sccOf(es) == sccRef(es), s"trial $trial: $es")
    }
  }

  test("SSSP: cheap 2-hop beats direct edge; bounded-round semantics") {
    import graft.graph.Sssp
    val wedges = Seq(
      ("a", "b", 10L), ("a", "b", 7L), // parallel edges keep the min
      ("b", "c", 10L), ("a", "c", 100L),
      ("c", "d", 1L), ("x", "a", 1L) // x unreachable FROM a
    ).toDF("src", "dst", "cost")
    val seeds = Seq("a").toDF("node")
    // After 1 round only direct edges: c costs 100.
    val r1 = Sssp.run(wedges, seeds, rounds = 1)
      .as[(String, Long)].collect().toMap
    assert(r1 == Map("a" -> 0L, "b" -> 7L, "c" -> 100L))
    // After 3 rounds the 2-hop path wins and d is reached; x absent.
    val r3 = Sssp.run(wedges, seeds, rounds = 3)
      .as[(String, Long)].collect().toMap
    assert(r3 == Map("a" -> 0L, "b" -> 7L, "c" -> 17L, "d" -> 18L))
  }

  test("walks: hash-pick formula hand-checked; dead ends stop walks") {
    import graft.graph.Walks
    val edges = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("d", "e"))
      .toDF("src", "dst")
    val seeds = Seq("a", "e").toDF("node")
    val got = Walks.run(edges, seeds, steps = 4)
      .as[(String, Long, String)].collect().toSet
    // polyhash("a") = 97: hop 1 picks idx (97·31 + 1) % 3 = 2 → "d"
    // (neighbors sorted b, c, d); polyhash("d") = 100: hop 2 picks
    // idx (100·31 + 2) % 1 = 0 → "e"; "e" has no out-edges, so the
    // walk ends at step 2. Seed "e" is a dead end immediately.
    assert(got == Set(
      ("a", 0L, "a"), ("a", 1L, "d"), ("a", 2L, "e"),
      ("e", 0L, "e")))
    // Determinism across partitionings.
    val again = Walks.run(edges.repartition(5), seeds, steps = 4)
      .as[(String, Long, String)].collect().toSet
    assert(again == got)
    // Per-hop lineage cut: the output unions one cut scan per step,
    // so the logical plan grows by a CONSTANT per added step — an
    // uncut chain would embed hop t's whole join prefix in every
    // later branch (steps·(steps+1)/2 join nodes, the quadratic
    // failure the PageRank/Sssp per-round cuts exist for).
    def nodes(steps: Int): Int = Walks.run(edges, seeds, steps)
      .queryExecution.analyzed.collect { case n => n }.size
    val (n2, n4, n6) = (nodes(2), nodes(4), nodes(6))
    assert(n4 - n2 == n6 - n4,
      s"walk plan growth is not linear in steps: $n2, $n4, $n6")
  }

  test("SSSP until stable: fixpoint equals a deep bounded run") {
    import graft.graph.Sssp
    val wedges = Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "d", 1L),
      ("a", "d", 10L)).toDF("src", "dst", "cost")
    val seeds = Seq("a").toDF("node")
    val (dist, rounds) = Sssp.runUntilStable(wedges, seeds)
    assert(dist.as[(String, Long)].collect().toMap ==
      Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L))
    assert(dist.as[(String, Long)].collect().toMap ==
      Sssp.run(wedges, seeds, rounds = 10)
        .as[(String, Long)].collect().toMap)
    // d improves twice (10 then 3); round 4 proves the fixpoint.
    assert(rounds == 4)
  }

  test("assortativity: perfect correlation on a uniform chain, stats exact") {
    import graft.graph.GraphStats
    // Directed 3-cycle: every src outdeg = 1, every dst indeg = 1 →
    // zero variance on both axes → assort_fp NULL; sums exact.
    val cyc = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("src", "dst")
    val r = GraphStats.assortativity(cyc).collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 3L && r.getLong(3) == 3L)
    assert(r.isNullAt(6))

    // Star out of a hub plus a 2-cycle: degrees vary; verify against
    // the hand-computed Pearson r over edge endpoint degrees.
    // Edges: h->x1 h->x2 h->x3 (out 3, in-deg of xi = 1), x1->h (out 1,
    // indeg(h) = 1). Pairs (x=outdeg(src), y=indeg(dst)):
    // (3,1)x3, (1,1)x1 → n=4 sx=10 sy=4 sxy=10 sxx=28 syy=4.
    // vy = 0 → NULL again; use a graph with variance on both sides:
    // add x2->x3. Pairs: (3,1),(3,1),(3,2),(1,1),(1,2) with
    // outdeg(h)=3, outdeg(x1)=1, outdeg(x2)=1, indeg(x3)=2.
    val g = Seq(("h", "x1"), ("h", "x2"), ("h", "x3"), ("x1", "h"),
      ("x2", "x3")).toDF("src", "dst")
    val s = GraphStats.assortativity(g).collect().head
    val (n, sx, sy, sxy, sxx, syy) = (5.0, 11.0, 7.0, 15.0, 29.0, 11.0)
    val cov = sxy / n - (sx / n) * (sy / n)
    val r2 = cov / (math.sqrt(sxx / n - (sx / n) * (sx / n)) *
      math.sqrt(syy / n - (sy / n) * (sy / n)))
    assert(s.getLong(0) == 5L && s.getLong(1) == 11L && s.getLong(2) == 7L)
    assert(s.getLong(6) == math.floor(r2 * 10000 + 0.5).toLong)
  }

  test("modularity: two bridged triangles split cleanly, one blob scores ~0") {
    import graft.graph.GraphStats
    // Two triangles joined by one bridge; labels = the two triangles.
    // m=7; e_A=e_B=3; d_A=d_B=7 → contrib = 3/7 − (7/14)² each.
    val g = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("d", "e"),
      ("d", "f"), ("e", "f"), ("c", "d")).toDF("src", "dst")
    val lab = Seq(("a", "A"), ("b", "A"), ("c", "A"), ("d", "B"),
      ("e", "B"), ("f", "B")).toDF("node", "comm")
    val rows = GraphStats.modularity(g, lab).collect()
    assert(rows.length == 2)
    val want = math.floor(
      (3.0 / 7 - (7.0 / 14) * (7.0 / 14)) * 100000000 + 0.5).toLong
    for (r <- rows) {
      assert(r.getLong(1) == 3L && r.getLong(2) == 3L && r.getLong(3) == 7L)
      assert(r.getLong(4) == want)
    }
    // Everything in ONE community: Q = m/m − (2m/2m)² = 0 exactly.
    val one = Seq(("a", "X"), ("b", "X"), ("c", "X"), ("d", "X"),
      ("e", "X"), ("f", "X")).toDF("node", "comm")
    val blob = GraphStats.modularity(g, one).collect()
    assert(blob.length == 1 && blob.head.getLong(4) == 0L)
  }

  test("louvain: splits bridged triangles exactly, dominates LPA modularity") {
    import graft.graph.{GraphStats, LabelPropagation, Louvain}
    // Two triangles joined by one bridge. Hand-unrolled (ids by
    // sorted name a=1..f=6, exact-integer scores): level-1 rounds
    // merge {a,b}, {d,e,f}; level 2 folds c into {a,b}. Final
    // communities are exactly the two triangles (labels = id-2 "b"
    // and id-6 "f").
    val g = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("d", "e"),
      ("d", "f"), ("e", "f"), ("c", "d")).toDF("src", "dst")
    val got = Louvain.communities(g, levels = 2, moveRounds = 2)
      .as[(String, String)].collect().toMap
    assert(got == Map("a" -> "b", "b" -> "b", "c" -> "b",
      "d" -> "f", "e" -> "f", "f" -> "f"))
    // Deterministic: a second run is bit-identical.
    assert(Louvain.communities(g, levels = 2, moveRounds = 2)
      .as[(String, String)].collect().toMap == got)
    // The dominance gate: global modularity of the Louvain
    // assignment ≥ that of g4's label propagation (both summed from
    // the g19 card's fixed-point contribs).
    def q(labels: org.apache.spark.sql.DataFrame): Long =
      GraphStats.modularity(g, labels)
        .agg(org.apache.spark.sql.functions.sum("contrib_fp"))
        .head.getLong(0)
    val lpa = LabelPropagation.communities(g, iters = 4)
    assert(q(Louvain.communities(g, levels = 2, moveRounds = 2)) >=
      q(lpa))
  }

  test("louvain: strict improvement where synchronous LPA oscillates") {
    import graft.graph.{GraphStats, LabelPropagation, Louvain}
    // A 6-cycle (bipartite): sync LPA oscillates and lands on the
    // alternating 2-coloring — zero internal edges, Q = −0.5.
    // Louvain's parity gating + strict-gain rule finds the two
    // path-halves {a,b,c}/{d,e,f} (hand-unrolled), Q = 1/6.
    val g = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
      ("e", "f"), ("f", "a")).toDF("src", "dst")
    def q(labels: org.apache.spark.sql.DataFrame): Long =
      GraphStats.modularity(g, labels)
        .agg(org.apache.spark.sql.functions.sum("contrib_fp"))
        .head.getLong(0)
    val louvain = q(Louvain.communities(g, levels = 2, moveRounds = 2))
    assert(louvain >= q(LabelPropagation.communities(g, iters = 4)))
    // And strictly positive in absolute terms: the pairing beats one
    // blob (Q=0).
    assert(louvain > 0)
  }

  test("louvain weighted: unit weights reduce to the unweighted form") {
    import graft.graph.Louvain
    // Same bridged-triangles fixture as the unweighted test; with
    // every weight 1 (and a duplicate reverse edge that must MERGE
    // by sum, not double) the weighted path must agree with
    // communities() exactly.
    val g = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("d", "e"),
      ("d", "f"), ("e", "f"), ("c", "d")).toDF("src", "dst")
    import org.apache.spark.sql.functions.{col, lit}
    val gw = g.withColumn("weight", lit(1L))
    val unw = Louvain.communities(g, levels = 2, moveRounds = 2)
      .as[(String, String)].collect().toMap
    assert(Louvain.communitiesWeighted(gw, levels = 2, moveRounds = 2)
      .as[(String, String)].collect().toMap == unw)
    // Reverse duplicates sum: (a,b,1)+(b,a,1) ≡ (a,b,2) — the
    // canonicalization contract.
    val dup = gw.unionByName(
      gw.select(col("dst").as("src"), col("src").as("dst"),
        col("weight")))
    val two = gw.withColumn("weight", lit(2L))
    assert(Louvain.communitiesWeighted(dup, 2, 2)
      .as[(String, String)].collect().toMap ==
      Louvain.communitiesWeighted(two, 2, 2)
        .as[(String, String)].collect().toMap)
  }

  test("landmark stress: path and diamond fixtures, hand-computed") {
    import graft.graph.Betweenness
    // Path a-b-c-d from landmark a: σ=1 everywhere, DAG paths
    // b→{c, cd}=2, c→{d}=1, d leaf — stress b=2, c=1, d=0 (b is
    // strictly intermediate on a..c and a..d).
    val path = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val lmA = Seq("a").toDF("node")
    val got = Betweenness.landmarkStress(path, lmA, maxHops = 3)
      .as[(String, Long)].collect().toMap
    assert(got == Map("b" -> 2L, "c" -> 1L, "d" -> 0L))
    // Diamond a-b-d, a-c-d with landmarks {a, d}: from a, d has σ=2
    // (two shortest paths) and b/c each carry one continuation;
    // symmetric from d — stress b = c = 2, endpoints 0.
    val diamond = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"))
      .toDF("src", "dst")
    val lmAD = Seq("a", "d").toDF("node")
    val got2 = Betweenness.landmarkStress(diamond, lmAD, maxHops = 2)
      .as[(String, Long)].collect().toMap
    assert(got2 == Map("a" -> 0L, "b" -> 2L, "c" -> 2L, "d" -> 0L))
  }

  test("k-truss: K4 survives at k=4, bridges and lone triangles peel away") {
    import graft.graph.Truss
    // K4 on {a,b,c,d} (each edge in 2 triangles), a bridge d-e, and a
    // lone triangle {e,f,g} (each edge in 1 triangle).
    val g = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
      ("b", "d"), ("c", "d"), ("d", "e"), ("e", "f"), ("e", "g"),
      ("f", "g")).toDF("src", "dst")
    val got = Truss.survivors(g, k = 4, waves = 4)
      .as[(String, String, Long)].collect().toSet
    val k4 = Set(("a", "b", 2L), ("a", "c", 2L), ("a", "d", 2L),
      ("b", "c", 2L), ("b", "d", 2L), ("c", "d", 2L))
    assert(got == k4)
    // The lone triangle IS a 3-truss; the bridge never is.
    val t3 = Truss.survivors(g, k = 3, waves = 4)
      .as[(String, String, Long)].collect().toSet
    assert(t3.map(e => (e._1, e._2)) ==
      k4.map(e => (e._1, e._2)) + (("e", "f")) + (("e", "g")) +
        (("f", "g")))
    // Convergence twin agrees with the bounded form once stable.
    val conv = Truss.untilStable(g, k = 4)
      .as[(String, String, Long)].collect().toSet
    assert(conv == k4)
  }

  test("reciprocity: mutual fraction exact, loops and dups normalized") {
    import graft.graph.GraphStats
    val g = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("a", "a"),
      ("a", "b")).toDF("src", "dst")
    val r = GraphStats.reciprocity(g).collect().head
    // Distinct loop-free: a->b, b->a, a->c → 2 mutual of 3.
    assert(r.getLong(0) == 3L && r.getLong(1) == 2L)
    assert(r.getLong(2) == math.floor(2.0 / 3.0 * 10000 + 0.5).toLong)
  }

  test("Leiden repair splits the synchronous-swap disconnected community") {
    import graft.graph.Louvain
    // Planted pathology (hand-traced; dense ids a=1,b=2,c=3,d=4,e=5,
    // m=11, 2m=22): round 1 (odd ids move) pulls a and c into b's
    // community and e into d's; round 2 (even ids move, scored
    // against round-1 labels) SWAPS b and d — b joins {d,e}
    // (S=132−96=36 > stay 28) while d simultaneously joins {a,b,c}
    // (S=132−90=42 > stay 39). Both final communities are internally
    // EDGE-FREE: {a,c,d} (label b) and {b,e} (label d) —
    // Q = −0.5. The repair must split them into the five singleton
    // components (Q = −156/484 ≈ −0.322 > −0.5: modularity strictly
    // improves, communities trivially connected).
    val edges = Seq(("a", "b", 1L), ("b", "c", 1L), ("b", "d", 6L),
      ("d", "e", 3L)).toDF("src", "dst", "weight")
    val raw = Louvain.communitiesWeighted(edges, levels = 1,
      moveRounds = 2).as[(String, String)].collect().toMap
    assert(raw == Map("a" -> "b", "c" -> "b", "d" -> "b",
      "b" -> "d", "e" -> "d"))
    val fixed = Louvain.communitiesWeightedRefined(edges, levels = 1,
      moveRounds = 2).as[(String, String)].collect().toMap
    assert(fixed == Map("a" -> "a", "b" -> "b", "c" -> "c",
      "d" -> "d", "e" -> "e"))
  }

  test("Leiden repair is partition-neutral on connected communities") {
    import graft.graph.Louvain
    // Two disjoint triangles: Louvain finds each (connected), so the
    // repair must return the SAME partition — only labels may move
    // to the minimum member.
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"),
      ("x", "y"), ("y", "z"), ("z", "x")).toDF("src", "dst")
    def partitionOf(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, String)].collect().groupBy(_._2)
        .values.map(_.map(_._1).toSet).toSet
    val raw = Louvain.communities(edges, levels = 2, moveRounds = 2)
    val fixed = Louvain.communitiesRefined(edges, levels = 2,
      moveRounds = 2)
    assert(partitionOf(raw) == partitionOf(fixed))
    assert(partitionOf(fixed) == Set(Set("a", "b", "c"),
      Set("x", "y", "z")))
    // Refined labels are each component's minimum member.
    val m = fixed.as[(String, String)].collect().toMap
    assert(m("a") == "a" && m("b") == "a" && m("x") == "x")
  }

  test("DenseIds: distributed ids equal the global rank by key") {
    import graft.graph.DenseIds
    // > shuffle-partitions keys in scrambled input order, so the
    // range partitioner genuinely spreads them over many partitions
    // and the per-partition offsets are exercised (not the 1-chunk
    // degenerate case).
    val keys = (1 to 997).map(i => f"w${(i * 271) % 997}%04d")
    val got = DenseIds.byKey(keys.toDF("node"), "node")
      .as[(String, Long)].collect().toMap
    val want = keys.sorted.zipWithIndex
      .map { case (k, i) => k -> (i + 1).toLong }.toMap
    assert(got == want)
    // Dense: exactly 1..V, each once.
    assert(got.values.toSeq.sorted == (1L to 997L))
  }
}

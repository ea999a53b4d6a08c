package graft

/** Plan-shape regression tests: the scale-critical properties the
  * SURVEY claims are pinned here against the ACTUAL physical plans,
  * so a refactor that silently reintroduces a corpus-wide window
  * sort, an extra shuffle, or an unpushed filter fails the suite —
  * not a 100 TB run.
  */
class PlanShapeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("ANN top-k queries use the bounded-heap aggregate, not a window") {
    for (q <- Seq("e1_ann_topk", "e4_ann_ivf_probe", "e6_knn_graph",
        "e8_ann_learned", "m5_media_sim", "e11_pq_topk", "e16_sq8_topk",
        "e17_ivf_sq8", "e19_mips_topk", "q50_topk_pergroup",
        "e21_ivf_pq", "e23_filtered_ann", "e24_filtered_ivf",
        "e27_pq_rerank", "e37_bq_topk")) {
      val p = plan(q)
      assert(p.contains("ObjectHashAggregate"),
        s"$q lost the top_k_by_score partial aggregate")
      // No window at all: candidates rank through the aggregate, and
      // the IVF queries (e4/e8/e17/e21/e24) route to their cells
      // through the nearest-cells kernel, not a window over query ×
      // centroid rows.
      assert(!p.contains("RunningWindowFunction") && !p.contains("Window"),
        s"$q ranks candidates or cells through a window sort")
    }
  }

  test("round-13 session shapes: skyline pre-prune, heap-capped projections") {
    // q62: the exact range windows must sort only the PRE-PRUNED
    // candidates — the plan carries exactly two Window nodes (the
    // bounded month-grid running max and the merged m1/m2 exact
    // pass; Spark fuses same-spec frames), and the grid rides a
    // broadcast join back onto the rows.
    val sky = plan("q62_skyline")
    assert("Window".r.findAllIn(sky).size == 2,
      "q62 gained/lost a window stage")
    assert(sky.contains("BroadcastHashJoin"),
      "q62's coarse grid stopped broadcasting")
    // g32/d79: per-group capping IS the bounded heap — a Window in
    // either plan means a per-group sort of unbounded group contents.
    // g32's heap runs EAGERLY behind the lineage cut (the capped list
    // is read by both pair-join legs), so its final plan reads the
    // checkpoint (ExistingRDD — the d72/d73 pin pattern); d79's heap
    // is visible directly.
    val cov = plan("g32_covisit")
    assert(cov.contains("ExistingRDD"),
      "g32 lost the capped-list lineage cut")
    assert(!cov.contains("RunningWindowFunction") && !cov.contains("Window"),
      "g32 caps through a window sort")
    val gs = plan("d79_group_sample")
    assert(gs.contains("ObjectHashAggregate"),
      "d79 lost the top_k_by_score partial aggregate")
    assert(!gs.contains("RunningWindowFunction") && !gs.contains("Window"),
      "d79 caps through a window sort")
    // g31: the anchored-wedge count partial-aggregates map-side — two
    // HashAggregate pairs (per-pair count, global sum), no window.
    val sq = plan("g31_squares")
    assert(!sq.contains("Window"), "g31 gained a window")
    assert(sq.contains("HashAggregate"), "g31 lost its partial aggregate")
  }

  test("graph-walk ANN: bounded plan depth, query_id windows, heap medoids") {
    // e25's contract since the round-10 lineage cut: every walk round
    // eagerly cuts the beam (it is referenced twice per round — union
    // + graph join — so a lazy plan would double each round,
    // ~2^rounds), leaving the RETURNED plan one query_id window over
    // a checkpoint scan REGARDLESS of round count. Pin both halves:
    // the final window keys on query_id only, and the executed plan's
    // node count does not grow between a 1-round and a 6-round walk.
    val p = plan("e25_graph_ann")
    val parts = "windowspecdefinition\\((\\w+)#".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(parts == Set("query_id"),
      s"e25's final ranking window must key on query_id: $parts\n${p.take(4000)}")
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf)
    val g = graft.operators.Similarity
      .knnGraphProbed(emb, "label", k = 4, nprobe = 2)
      .select(col("vec_id"), col("nbr_id"))
    val med = graft.operators.Similarity.cellMedoids(emb, "label")
    // Count LOGICAL plan nodes: the physical root under AQE is a
    // leaf-like AdaptiveSparkPlanExec that collect never descends
    // into, so a physical count would read equal with or without the
    // per-round cut (vacuous). The logical tree is what the cut
    // truncates: without it the 6-round plan holds ~2^6 copies of
    // the entry subplan and this count explodes.
    def depth(rounds: Int): Int =
      graft.operators.Similarity
        .graphBeamSearch(emb, emb.filter(col("vec_id") < 3), g, med,
          beamWidth = 4, rounds = rounds)
        .queryExecution.analyzed.collect { case n => n }.size
    val (d1, d6) = (depth(1), depth(6))
    assert(d1 == d6,
      s"beam-walk plan depth grows with rounds ($d1 nodes at 1 round, " +
        s"$d6 at 6) — the per-round lineage cut regressed")
    // The per-cell medoid argmax must be the bounded-heap aggregate
    // keyed on the cell, not a window (a cellMedoids regression to
    // row_number once passed a blanket-exempt version of this suite).
    // The walk consumes medoids inside its cut rounds, so pin the
    // operator's own plan directly.
    val mp = med.queryExecution.executedPlan.toString
    assert("ObjectHashAggregate\\(keys=\\[_clabel".r.findFirstIn(mp).isDefined,
      s"cellMedoids' argmax is no longer the per-cell heap aggregate\n$mp")
  }

  test("filtered IVF applies the predicate inside the routed cell scan") {
    // e24's contract: the metadata predicate filters the CANDIDATE
    // side below the cell join — excluded rows never reach the join
    // or the cosine kernel — and ranking is the bounded heap, not a
    // window over scored candidates (the only window ranks the
    // bounded query×nlist centroid assignment). Textually: the tree
    // prints parents first, so the join must appear BEFORE the
    // candidate filter it sits above.
    // Structural, not string offsets: traverse the executed tree so
    // a Spark formatting change (or a second `% 3` appearing
    // elsewhere) can't flip the assertion without a real regression.
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    // AQE wraps the tree in a leaf-like AdaptiveSparkPlanExec whose
    // inputPlan `collect` does not descend into — recurse manually.
    def nodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
        case other                    => other.children
      }
      p +: kids.flatMap(nodes)
    }
    def hasCandFilter(p: SparkPlan): Boolean = nodes(p).exists {
      case f: FilterExec => f.condition.toString.contains("% 3)")
      case _             => false
    }
    val root = SparkEntry.queries("e24_filtered_ivf")(spark, sf)
      .queryExecution.executedPlan
    assert(hasCandFilter(root), "e24 lost the candidate predicate")
    // The predicate must sit INSIDE a cell join's child subtree —
    // excluded rows never reach the join or the cosine kernel.
    assert(nodes(root).exists {
      case j: BroadcastHashJoinExec => j.children.exists(hasCandFilter)
      case _                        => false
    }, s"e24's predicate is not below the cell join\n$root")
    // And the heap aggregate must sit ABOVE the filtered join —
    // post-filtering an unfiltered top-k would under-return.
    assert(nodes(root).exists {
      case a: ObjectHashAggregateExec => hasCandFilter(a)
      case _                          => false
    }, s"e24 filters ABOVE the heap (post-filtering under-returns)\n$root")
  }

  test("PQ ADC lookup table rides the broadcast side, not the plan") {
    // e11/e21/e22's contract: the per-query ADC table is a DATA
    // column on the broadcast query side. A typedlit Map would embed
    // queries×M×k doubles in the plan text (rendered as a
    // `keys: [...]` literal), and plan/codegen size would then grow
    // with the probe batch.
    for (q <- Seq("e11_pq_topk", "e21_ivf_pq", "e22_pq_recall")) {
      val p = plan(q)
      assert(!p.contains("keys: ["),
        s"$q carries a literal map in the plan\n${p.take(4000)}")
      assert(p.contains("BroadcastExchange") ||
          p.contains("BroadcastNestedLoopJoin"),
        s"$q lost the broadcast query/LUT side")
    }
  }

  test("range search broadcasts the query batch; sketch aggs stay bounded") {
    // e20: queries ride the corpus scan via a broadcast join and the
    // per-query (count, max) partial-aggregates map-side — no window,
    // no shuffled candidate set.
    val e20 = plan("e20_range_search")
    assert(e20.contains("BroadcastNestedLoopJoin"),
      "e20 lost the broadcast query batch")
    assert(!e20.contains("Window"), "e20 ranks through a window sort")
    // d60: per-group HLL registers via the bounded-state
    // ObjectHashAggregate — the group's distinct value space must
    // never be the aggregation state.
    assert(plan("d60_hll_per_lang").contains("ObjectHashAggregate"),
      "d60 lost the mergeable hll_sketch aggregate")
  }

  test("map-side pipeline ops shuffle only for their deterministic sort") {
    for (q <- Seq("d11_pii_scrub", "d12_repetition", "d13_quality_filter",
        "d14_stratified_sample", "d6_text_quality", "d7_token_count",
        "d8_fingerprint", "d39_text_canon")) {
      val p = plan(q)
      val exchanges = "Exchange (?:range|hash|Single)".r.findAllIn(p).size
      assert(exchanges == 1,
        s"$q: expected exactly the ORDER BY exchange, got $exchanges\n$p")
    }
  }

  test("media decode family and HTML extraction stay map-side") {
    // Real decode (m7 PNG, m8 WAV, m9 JPEG, and every other query
    // that plants a corpus, decodes it per payload and sorts; m14-m16
    // and m23-m26 are pinned in "decode queries stay map-side") and
    // the d31 strip chain are embarrassingly parallel scans: exactly
    // one exchange (the deterministic ORDER BY), never a decode-side
    // shuffle.
    for (q <- Seq("m7_png_decode", "m8_wav_decode", "m9_jpeg_decode",
        "m11_audio_features", "m2_frame_sample", "m12_thumbnail",
        "m13_audio_autocorr", "m17_gif_decode", "m19_gif_frames",
        "m20_anim_meta", "m21_audio_resample", "m27_netpbm_decode",
        "m28_image_tiles", "m29_audio_onsets", "m30_exif",
        "m31_mp3_meta", "m32_tiff_decode", "m33_ico_meta",
        "d31_html_extract")) {
      val p = plan(q)
      val exchanges = "Exchange (?:range|hash|Single)".r.findAllIn(p).size
      assert(exchanges == 1,
        s"$q: expected exactly the ORDER BY exchange, got $exchanges\n$p")
    }
  }

  test("curation joins keep their scale shapes: broadcast anti, blocked equi, SMJ diff") {
    // d33: the blocklist is tiny — the anti join must broadcast it,
    // never shuffle the corpus side against it
    val d33 = plan("d33_url_filter")
    assert(d33.contains("BroadcastHashJoin") && d33.contains("LeftAnti"),
      s"d33 lost the broadcast anti join\n$d33")
    // d35: fuzzy matching lives or dies on the block equi-join — a
    // cross join or nested-loop fallback is the O(n^2) failure mode
    val d35 = plan("d35_fuzzy_match")
    assert(!d35.contains("CartesianProduct") &&
      !d35.contains("BroadcastNestedLoopJoin"),
      s"d35 degenerated to an all-pairs join\n$d35")
    // d34: the snapshot diff is ONE full-outer sort-merge join over
    // the two fingerprint scans
    val d34 = plan("d34_snapshot_diff")
    assert(d34.contains("SortMergeJoin") && d34.contains("FullOuter"),
      s"d34 lost the co-partitioned full-outer SMJ\n$d34")
  }

  test("BM25 broadcasts the probe terms and ranks via the bounded heap") {
    // d36: the probe-term join must broadcast the (tiny) query side
    // so only query-term postings flow, and per-query ranking must be
    // the top_k_by_score partial aggregate — a window sort here would
    // carry every candidate doc of every query through one task.
    val p = plan("d36_bm25")
    assert(p.contains("BroadcastHashJoin"),
      s"d36 lost the broadcast probe-term join\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"d36 lost the top_k_by_score partial aggregate\n$p")
    assert(!p.contains("RunningWindowFunction") && !p.contains("Window"),
      s"d36 ranks candidates through a window sort\n$p")
  }

  test("exact percentiles carry domain-bounded state, not row-linear buffers") {
    // The built-in `percentile` ObjectHashAggregate buffers every
    // group value — a 100x scale-killer on large strata. Both
    // percentile queries must run through ExactPercentile's
    // count-per-(group, value) + cumulative-pick plan instead.
    for (q <- Seq("q15_percentiles", "d24_quality_percentile")) {
      val p = plan(q)
      assert(!p.toLowerCase.contains("percentile("),
        s"$q reintroduced the row-linear percentile aggregate\n$p")
    }
  }

  test("sequence packing shuffles once on the shard key") {
    // Packing must be one hash exchange (the per-shard window) plus
    // the deterministic ORDER BY range exchange — a second hash
    // exchange would mean the running-sum window stopped being
    // co-partitioned with the shard assignment.
    val p = plan("d25_pack_sequences")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    val rangeEx = "Exchange rangepartitioning".r.findAllIn(p).size
    assert(hashEx == 1 && rangeEx == 1,
      s"d25: expected 1 hash + 1 range exchange, got $hashEx/$rangeEx\n$p")
  }

  test("exact dedup keys its group exchange on the 128-bit digest") {
    // The d1 groupBy key must be the 16-byte md5 digest of the
    // normalized text, never the normalized text itself — at corpus
    // scale the full-text key ships the corpus's distinct text
    // through the exchange.
    val p = plan("d1_dedup_exact")
    assert(p.contains("md5("),
      "d1 lost the digest key on its dedup-group exchange\n" + p)
    assert(!"hashpartitioning\\(lower\\(trim\\(".r.findFirstIn(p).isDefined,
      "d1 partitions its exchange on the raw normalized text\n" + p)
  }

  test("line dedup keys its frequency exchange on the 128-bit digest") {
    // At billions of distinct lines the frequency shuffle must carry
    // a 16-byte digest, not the raw line string (and never a
    // birthday-collidable 64-bit hash).
    val p = plan("d16_line_dedup")
    assert(p.contains("md5("),
      "d16 lost the digest key on its line-frequency exchange\n" + p)
  }

  test("selective scan pushes filters and prunes columns") {
    val p = plan("q2_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)"),
      "q2 lost parquet filter pushdown")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_quantity:double"),
      "q2 reads more columns than the projection needs")
  }

  test("as-of join never materializes pairs: union+window, no join op") {
    // The range-join encoding (r.ts <= l.ts + window over pairs) would
    // reintroduce a Join operator carrying every (left, earlier-right)
    // pair; the sort-merge union+window shape has NO join at all —
    // pinned across all four as-of variants (backward, forward,
    // tolerance-bounded, nearest).
    for (q <- Seq("q21_asof_join", "q33_asof_forward", "q38_asof_window",
        "q40_asof_nearest")) {
      val p = plan(q)
      assert(!p.contains("Join"),
        s"$q regressed from the union+window as-of encoding to a pair join\n$p")
      assert(p.contains("Window"), s"$q lost the as-of pick window")
    }
  }

  test("range join stays a hash equi-join on the bin key") {
    val p = plan("q24_range_join")
    assert(p.contains("HashJoin"),
      s"q24's interval join must equi-join on (key, bin)\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"q24 regressed to a nested-loop interval scan\n$p")
  }

  test("decontamination is a hash equi-join, not a nested-loop scan") {
    val p = plan("d15_decontaminate")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"d15 regressed to an O(docs × probes) pair scan\n$p")
  }

  test("top-k ordering never global-sorts: TakeOrderedAndProject") {
    val p = plan("pr_top20")
    assert(p.contains("TakeOrderedAndProject"),
      "pr_top20 must use TakeOrderedAndProject, not a total sort + limit")
  }

  test("tf-idf per-doc top-k never window-sorts the corpus") {
    val p = plan("d17_tfidf")
    assert(!p.contains("RunningWindowFunction") && !p.contains("Window"),
      s"d17 ranks per-doc terms through a window sort\n$p")
  }

  test("heavy hitters: sketch is a partial aggregate, no full group space") {
    val p = plan("d18_heavy_hitters")
    assert(p.contains("ObjectHashAggregate"),
      s"d18 lost the sketch partial aggregate\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"d18 candidate verification regressed to a pair scan\n$p")
  }

  test("line dedup: anti-join on the frequent set, no pair scan") {
    val p = plan("d16_line_dedup")
    assert(p.contains("LeftAnti"),
      s"d16 lost the frequent-line anti join\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"d16 regressed to a nested-loop line scan\n$p")
  }

  test("percentile gate: broadcast thresholds, never a per-stratum window") {
    // d24's relative cut must stay [domain-bounded threshold pick →
    // broadcast join → map filter]; percent_rank/ntile would drag the
    // whole corpus through one sort per stratum. ExactPercentile's
    // cumulative-count window is allowed ONLY because it reads the
    // (lang, q_e4) distinct-value AGGREGATE — every logical Window
    // must sit above an Aggregate, never on raw corpus rows.
    val df = SparkEntry.queries("d24_quality_percentile")(spark, sf)
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    for (w <- wins)
      assert(w.child.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.isDefined,
        s"d24 window reads non-aggregated corpus rows\n$w")
    val p = plan("d24_quality_percentile")
    assert(!p.contains("RunningWindowFunction"),
      s"d24 regressed to a per-stratum running window\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"d24's threshold join must broadcast the stratum table\n$p")
  }

  test("multi-probe knn graph: no window over candidates, heap aggregate") {
    // e9's cell assignment is a map-side array_sort over the one-row
    // broadcast centroid array and its ranking the bounded-heap
    // aggregate — a Window in this plan would mean either a
    // corpus×nlist assignment exchange or a corpus-wide candidate
    // sort snuck back in.
    val p = plan("e9_knn_graph_probed")
    assert(p.contains("ObjectHashAggregate"),
      s"e9 lost the top_k_by_score partial aggregate\n$p")
    assert(!p.contains("RunningWindowFunction") && !p.contains("Window"),
      s"e9 ranks through a window sort\n$p")
    assert(!p.contains("CartesianProduct"),
      s"e9 regressed to an all-pairs scan\n$p")
  }

  test("k-means seeding is TakeOrderedAndProject, not a corpus sort") {
    // train() localCheckpoints its k-row result (cache hygiene), so
    // e7's FINAL plan is a checkpoint scan — pin the property on the
    // seeds plan itself, which is what runs inside the checkpoint.
    import org.apache.spark.sql.functions.{col, expr}
    val emb = graft.Tables.embeddings(spark, sf).select(col("vec_id"),
      expr("transform(embedding, v -> cast(v as double))").as("embedding"))
    val p = graft.operators.KMeans.seeds(emb, 8)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"e7's deterministic seed pick must be a bounded top-k\n$p")
  }

  test("sample quantiles: bounded-heap sample, no row-linear percentile") {
    // d38's contract: the per-stratum sample rides the top_k_by_score
    // partial aggregate (O(k) state), the percentile pick is a
    // positional index — never Spark's exact `percentile` whose
    // buffer grows with the stratum, and never a corpus-wide window.
    val p = plan("d38_sample_quantiles")
    assert(p.contains("ObjectHashAggregate"),
      s"d38 lost the bounded-heap sample aggregate\n$p")
    assert(!p.contains("percentile"),
      s"d38 regressed to a row-linear percentile buffer\n$p")
    assert(!p.contains("Window"),
      s"d38 samples through a window sort\n$p")
    val exchanges = "Exchange (?:range|hash|Single)".r.findAllIn(p).size
    assert(exchanges == 2,
      s"d38: expected the stratum exchange + ORDER BY, got $exchanges\n$p")
  }

  test("url canonicalization dedups on one canonical-key exchange") {
    // d40 is the d1 exact-dedup shape: canonicalize map-side (all
    // regexp/lower/sort work inside the scan's codegen stage),
    // partial-agg, ONE canonical-key exchange + the ORDER BY.
    val p = plan("d40_url_canon")
    val exchanges = "Exchange (?:range|hash|Single)".r.findAllIn(p).size
    assert(exchanges == 2,
      s"d40: expected canonical-key + ORDER BY exchanges, got $exchanges\n$p")
    assert(!p.contains("Window"), s"d40 canonicalizes through a window\n$p")
  }

  test("skewed aggregation runs the two-stage salted layout") {
    // q44's contract: first exchange keys on (returnflag, _salt) so
    // each hot key spreads over `salts` reducers; the second combines
    // the keys × salts partials. A refactor collapsing this to one
    // key-only exchange silently reintroduces the hot-reducer
    // straggler at scale while staying correctness-green.
    val p = plan("q44_skew_agg")
    assert("hashpartitioning\\([^)]*_salt".r.findFirstIn(p).isDefined,
      s"q44 lost the salted first-stage exchange\n$p")
    val exchanges = "Exchange (?:range|hash|Single)".r.findAllIn(p).size
    assert(exchanges == 3,
      s"q44: expected salt + key + ORDER BY exchanges, got $exchanges\n$p")
  }

  test("decode queries stay map-side: only the ORDER BY exchange") {
    // The codec work rides the scan; the single range exchange is
    // the deterministic output sort. A second exchange would mean
    // decode results started shuffling (m23/m25 = audio decode+DSP,
    // m24 = BMP incl. RLE8, m26 = frame-pair shot cuts — all pure
    // per-payload passes).
    for (q <- Seq("m14_jpeg_color", "m15_png_palette", "m16_png16",
        "m23_vad_segments", "m24_bmp_decode", "m25_audio_bands",
        "m26_shot_cuts")) {
      val p = plan(q)
      val x = "Exchange (?:range|hash|Single)".r.findAllIn(p).size
      assert(x == 1, s"$q: expected only the ORDER BY exchange, got $x\n$p")
    }
  }

  test("k-core and neighborhood keep aggregate/equi-join shapes") {
    // g7: peeling waves are equi joins + partial-agg counts — no
    // window over vertices, no all-pairs fallback.
    val g7 = plan("g7_kcore")
    assert(!g7.contains("Window") && !g7.contains("CartesianProduct") &&
      !g7.contains("BroadcastNestedLoop"),
      s"g7 lost its aggregate-only shape\n$g7")
    // g8: per-hop sketches are checkpointed, so the FINAL plan is a
    // union of stored sketch tables — the kmv_sketch aggregate runs
    // at materialization time and is invisible here. What must hold
    // in the visible plan: no window, no pair join, and the per-hop
    // pieces read checkpointed blocks (ExistingRDD), not a re-run of
    // the propagation chain.
    val g8 = plan("g8_neighborhood")
    assert(g8.contains("ExistingRDD"),
      s"g8 re-runs propagation instead of reading checkpoints\n$g8")
    assert(!g8.contains("Window") && !g8.contains("CartesianProduct"),
      s"g8 shape regressed\n$g8")
  }

  test("salted PageRank keys its contribution exchange on (node, _salt)") {
    // pr_ranks_salted's contract: with saltHotKeys on, every
    // iteration's contribution aggregation goes through the
    // two-stage layout — first exchange keyed on (node, _salt) so
    // the planted '#hub' spreads over the salt space, second
    // combines the per-salt partials. If the salt exchange vanishes
    // the query stays green (results are layout-independent) while
    // the hub quietly re-becomes a one-reducer straggler at scale.
    val p = plan("pr_ranks_salted")
    assert("hashpartitioning\\([^)]*_salt".r.findFirstIn(p).isDefined,
      s"pr_ranks_salted lost the salted first-stage exchange\n$p")
  }

  test("PageRank rounds: one join and one two-phase aggregate each, no union") {
    // pr_ranks keeps its 10 rounds in one lazy plan (the statics are
    // cuts). A round is `linked ⋈ ranks` and one groupBy(dst), split
    // into a partial and a final HashAggregate; each node's own record
    // rides its self edge in `linked`. A per-round union with node
    // rows, or a per-round join with the node set, fails here.
    import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val p = SparkEntry.queries("pr_ranks")(spark, sf).queryExecution
      .executedPlan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case other => other
      }
    def count(f: PartialFunction[SparkPlan, Unit]): Int = p.collect(f).size
    assert(count { case _: UnionExec => } == 0, s"pr_ranks plans a union\n$p")
    assert(count { case _: HashAggregateExec => } == 2 * 10,
      s"pr_ranks is not two HashAggregates a round\n$p")
    assert(count { case _: BaseJoinExec => } == 10,
      s"pr_ranks is not one join a round\n$p")
  }

  test("round-11 relational/pipeline shapes: broadcasts, window keys, no pair scans") {
    // q59 (TPC-H Q9 shape): every dimension side broadcasts; the
    // fact table must never shuffle through a sort-merge join before
    // the bounded (nation, year) aggregate.
    val q59 = plan("q59_profit")
    assert("BroadcastHashJoin".r.findAllIn(q59).length >= 4,
      s"q59 lost its all-broadcast dimension joins\n$q59")
    assert(!q59.contains("SortMergeJoin") &&
      !q59.contains("CartesianProduct"),
      s"q59 shuffles the fact table through a dimension join\n$q59")
    // q56/q57: windows keyed on the high-cardinality customer/user
    // key — never a corpus-wide window (q58 aggregates without one).
    for ((q, key) <- Seq(("q57_scd2", "user_id"),
        ("q56_drawdown", "o_custkey"))) {
      val p = plan(q)
      val parts = "windowspecdefinition\\((\\w+)#".r
        .findAllMatchIn(p).map(_.group(1)).toSet
      assert(parts == Set(key),
        s"$q windows must key on $key only: $parts")
    }
    // d72/d73: the FFD fold is an object aggregate over the shard
    // key — no window over doc rows, no pair join anywhere.
    for (q <- Seq("d72_ffd_pack", "d73_pack_curve")) {
      val p = plan(q)
      assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
        s"$q lost the per-shard fold aggregate\n$p")
      assert(!p.contains("Window") && !p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoop"),
        s"$q regressed to a window/pair scan\n$p")
    }
    // d74: gram coverage is equi-join only — a NLJ here would be the
    // all-pairs doc scan the operator exists to avoid.
    val d74 = plan("d74_gram_coverage")
    assert(!d74.contains("CartesianProduct") &&
      !d74.contains("BroadcastNestedLoop"),
      s"d74 regressed to a pair scan\n$d74")
    // g24: eager per-iteration cuts leave the returned plan a union
    // of one-row aggregates over checkpoint scans — re-running the
    // iteration chain here would mean the cuts regressed.
    val g24 = plan("g24_pr_residuals")
    assert(g24.contains("ExistingRDD"),
      s"g24 re-runs the rank chain instead of reading checkpoints\n$g24")
  }

  test("filtered beam walk: predicate below the per-round ranking and gather join") {
    // e41's contract: the eligibility predicate applies to candidate
    // rows BEFORE scoring — below the per-query ranking window and
    // below the gather join — so ineligible vectors never reach the
    // cosine kernel and a beam slot is never spent on one. The
    // rounds cut eagerly (the returned plan is a window over a
    // checkpoint scan), so the pin reads the round plans through the
    // Checkpointing capture hook.
    import org.apache.spark.sql.functions.col
    import graft.operators.{Checkpointing, Similarity}
    val emb = Tables.embeddings(spark, sf)
    val g = Similarity.knnGraphProbed(emb, "label", k = 4, nprobe = 2)
      .select(col("vec_id"), col("nbr_id"))
    val med = Similarity.cellMedoids(emb, "label")
    Checkpointing.capturedPlans.clear()
    spark.conf.set(Checkpointing.CaptureKey, "true")
    try {
      Similarity.graphBeamSearchFiltered(emb,
        emb.filter(col("vec_id") < 3), g, med,
        beamWidth = 4, rounds = 1,
        candidatePred = col("label") % 2 === 0)
    } finally {
      spark.conf.unset(Checkpointing.CaptureKey)
    }
    val plans = {
      import scala.jdk.CollectionConverters._
      Checkpointing.capturedPlans.asScala.toList
    }
    Checkpointing.capturedPlans.clear()
    // Round-17 shape (the round-16 advice item): the walk shares the
    // ELIGIBLE corpus projection across rounds via an EVICTABLE
    // persist instead of a localCheckpoint (a cut pinned O(corpus)
    // blocks non-evictably; the cache spills/evicts and releases in
    // the walk's finally). The contract is unchanged and strictly
    // stronger than filter-below-window: the predicate lives INSIDE
    // the cached relation every round gathers from — wherever the
    // predicate text appears in a captured round plan it is the
    // InMemoryRelation's stored build plan, so ineligible vectors
    // never materialize into the gathered relation at all. The loop
    // over the round plans below also pins WHERE it sits: below the
    // ranking window and the gather join, never above them.
    val eligible = plans.filter(p => p.contains("% 2) = 0"))
    assert(eligible.nonEmpty,
      s"no captured plan carries the eligibility predicate; " +
        s"captured ${plans.size} plans")
    for (p <- eligible)
      assert(p.contains("InMemoryRelation"),
        s"the eligibility predicate no longer rides the shared " +
          s"eligible-corpus cache (filter re-planned per round?)\n$p")
    val rounds = plans.filter(p => p.contains("windowspecdefinition"))
    assert(rounds.nonEmpty,
      s"no captured round plan carries the ranking window; " +
        s"captured ${plans.size} plans")
    for (p <- rounds) {
      val wIdx = p.indexOf("Window")
      val jIdx = p.indexOf("Join", wIdx)
      assert(wIdx >= 0 && jIdx > wIdx,
        s"round plan lost the gather join below the ranking window " +
          s"(window@$wIdx join@$jIdx)\n$p")
      // The predicate sits only BELOW the ranking window and the
      // gather join: a tree string prints a node before its children,
      // so its first occurrence must follow both. A predicate applied
      // to the ranked beam instead prints above the window.
      val pIdx = p.indexOf("% 2) = 0")
      assert(pIdx > jIdx,
        s"eligibility predicate not below the ranking window and " +
          s"gather join (pred@$pIdx window@$wIdx join@$jIdx)\n$p")
      assert(p.contains("InMemoryRelation"),
        s"round plan no longer gathers from the shared eligible-" +
          s"corpus cache\n$p")
    }
  }

  test("bloom-pruned decontamination filters the gram stream") {
    // d42's contract: the probe-gram bloom prunes the exploded
    // corpus grams BEFORE the candidate equi-join, via a scalar
    // subquery — and the exact path (hash equi-join, no NLJ on the
    // candidate step) stays intact. The verify step's instr()
    // rightly joins candidates back by doc_id.
    val p = plan("d42_decontaminate_bloom")
    assert(p.contains("might_contain"),
      s"d42 lost the gram bloom prune\n$p")
    assert(!p.contains("CartesianProduct"),
      s"d42 regressed to a pair scan\n$p")
  }

  test("bloom semi join: runtime might_contain prunes the fact scan") {
    // q43's contract: the bloom reaches the fact side as a scalar
    // subquery folded at runtime, the prune is a codegen'd filter
    // BELOW the exact semi join, and the bloom cell itself is never
    // a joined column (no cross join, no extra exchange carrying it).
    val p = plan("q43_bloom_semi")
    assert(p.contains("might_contain"),
      s"q43 lost the bloom prune filter\n$p")
    assert(p.contains("LeftSemi"),
      s"q43 lost the exact-verify semi join\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"q43's bloom must ride a scalar subquery, not a join\n$p")
    // Prune below the join: the might_contain Filter must appear
    // AFTER (deeper than) the semi join node in the plan string.
    assert(p.indexOf("might_contain") > p.indexOf("LeftSemi"),
      s"q43's bloom prune sits above the semi join — dead filter\n$p")
  }

  test("span excision and backoff LM keep their aggregate-only shapes") {
    // d49: keep-first is a min AGGREGATE over the packed key and the
    // interval merge is a per-row fold — a window over the gram
    // occurrence table (the tempting formulation) would funnel every
    // duplicated gram's occurrences through rank machinery; and
    // nothing may degenerate to an all-pairs join.
    val d49 = plan("d49_span_excise")
    assert(!d49.contains("Window"),
      s"d49 ranks occurrences through a window\n$d49")
    assert(!d49.contains("CartesianProduct") &&
      !d49.contains("BroadcastNestedLoop"),
      s"d49 degenerated to an all-pairs join\n$d49")
    // d52: five model joins must stay equi-joins; the only permitted
    // non-equi join is the single-row corpus-total broadcast.
    val d52 = plan("d52_stupid_backoff")
    assert(!d52.contains("CartesianProduct"),
      s"d52 has a cartesian product\n$d52")
    assert("BroadcastNestedLoop".r.findAllIn(d52).size <= 1,
      s"d52: only the 1-row total may ride a non-equi broadcast\n$d52")
    assert(!d52.contains("Window"), s"d52 scores through a window\n$d52")
    // d53: tokenize+encode are map-side; the lang partial agg and the
    // deterministic ORDER BY are the only exchanges.
    val d53 = plan("d53_tokenizer_stats")
    val exchanges = "Exchange (?:range|hash|Single)".r.findAllIn(d53).size
    assert(exchanges == 2,
      s"d53: expected lang agg + ORDER BY exchanges, got $exchanges\n$d53")
  }

  test("funnel, fusion and audit queries keep aggregate-only shapes") {
    // d54: five chained gates — every inter-stage join is an
    // equi-(semi/anti) join; an all-pairs fallback in any stage
    // would be the 100 TB failure mode.
    val d54 = plan("d54_curation_funnel")
    assert(!d54.contains("CartesianProduct") &&
      !d54.contains("BroadcastNestedLoop"),
      s"d54 degenerated to an all-pairs join\n$d54")
    // e15: both input rankings AND the fusion rank ride the bounded
    // heap — no window anywhere despite three top-k stages.
    val e15 = plan("e15_hybrid_rrf")
    assert(!e15.contains("Window"),
      s"e15 ranks through a window\n$e15")
    assert(e15.contains("ObjectHashAggregate"),
      s"e15 lost the bounded-heap aggregates\n$e15")
    // d55: occurrence join stays equi, no per-doc window.
    val d55 = plan("d55_novelty")
    assert(!d55.contains("Window") && !d55.contains("CartesianProduct"),
      s"d55 lost its aggregate-only shape\n$d55")
    // d56: pure map-side bucket math — bucket agg + ORDER BY only.
    val d56 = plan("d56_length_buckets")
    val x56 = "Exchange (?:range|hash|Single)".r.findAllIn(d56).size
    assert(x56 == 2, s"d56: expected 2 exchanges, got $x56\n$d56")
    // m13: map-side decode-and-fold — only the ORDER BY exchange.
    val m13 = plan("m13_audio_autocorr")
    val x13 = "Exchange (?:range|hash|Single)".r.findAllIn(m13).size
    assert(x13 == 1, s"m13: expected 1 exchange, got $x13\n$m13")
    // d57: the ONE permitted cartesian is the |sources|² sketch-pair
    // join, and its inputs must be the CHECKPOINTED sketch rows —
    // the corpus-reading sketch build runs once at checkpoint time,
    // so the pair plan must contain no parquet scan at all.
    val d57 = plan("d57_source_overlap")
    assert("CartesianProduct".r.findAllIn(d57).size == 1,
      s"d57: expected exactly the bounded sketch-pair cartesian\n$d57")
    assert(!d57.contains("Scan parquet"),
      s"d57: pair join re-reads the corpus instead of the sketches\n$d57")
    // d58: three 1-row threshold broadcasts, no window, no cartesian
    // (the broadcasts ride BroadcastNestedLoopJoin, which is fine for
    // 1-row sides — what must never appear is a window rank).
    val d58 = plan("d58_quality_ensemble")
    assert(!d58.contains("Window") && !d58.contains("CartesianProduct"),
      s"d58 lost its aggregate-only shape\n$d58")
  }

  test("round-10 additions keep their scale shapes") {
    // q52: BOTH attribution models come from ONE per-user window pass
    // (rows frame + range frame) over the events scan — exactly two
    // windows, and never a join (an event-table self-join is the
    // naive multi-touch formulation this query exists to avoid).
    val q52 = plan("q52_attribution")
    assert("Window".r.findAllIn(q52).size == 2,
      s"q52: expected the rows-frame + range-frame window pair\n$q52")
    assert(!q52.contains("Join"),
      s"q52 regressed to an event self-join\n$q52")
    // q53: Z-order assignment is map-side bit math plus the one-row
    // min/max broadcast — no window rank, no global sort of orders.
    val q53 = plan("q53_zorder")
    assert(!q53.contains("Window") && !q53.contains("CartesianProduct"),
      s"q53 lost its map-side shape\n$q53")
    assert("BroadcastNestedLoop".r.findAllIn(q53).size <= 1,
      s"q53: only the 1-row min/max aggregate may broadcast\n$q53")
    // d65: the deterministic shuffle must be a RANGE-partitioned
    // distributed sort (sampled split points) — a SinglePartition
    // exchange feeding the sort would be the single-task collapse.
    val d65 = plan("d65_train_shuffle")
    assert(d65.contains("rangepartitioning"),
      s"d65 lost the range-partitioned sort\n$d65")
    assert(!d65.contains("Exchange SinglePartition"),
      s"d65 sorts through a single task\n$d65")
    // d66/d67: audit cards are one partial-agg pass plus bounded
    // one-row broadcasts — no window, no cartesian; d67's doubled
    // (yesterday|today) projection must come off a SINGLE corpus
    // read (the persisted projection), not two parquet scans.
    for (q <- Seq("d66_calibration", "d67_drift_card")) {
      val p = plan(q)
      assert(!p.contains("Window") && !p.contains("CartesianProduct"),
        s"$q lost its aggregate-only shape\n$p")
    }
    val d67 = plan("d67_drift_card")
    assert("Scan parquet .*documents".r.findAllIn(d67).size <= 1,
      s"d67 re-reads the corpus per snapshot side\n$d67")
    // e33/e36: every ranking (prefix pass, full pass, per-nprobe
    // fan-out) rides the bounded heap; e36's one permitted window
    // ranks the BOUNDED centroid table (cell routing), never
    // candidates — pin via the window partition keys.
    val e33 = plan("e33_prefix_recall")
    assert(!e33.contains("Window") && e33.contains("ObjectHashAggregate"),
      s"e33 lost its bounded-heap shape\n$e33")
    val e36 = plan("e36_nprobe_curve")
    assert(e36.contains("ObjectHashAggregate"),
      s"e36 lost the bounded-heap rankings\n$e36")
    val e36parts = "windowspecdefinition\\((\\w+)#".r
      .findAllMatchIn(e36).map(_.group(1)).toSet
    assert(e36parts.subsetOf(Set("query_id")),
      s"e36 windows over more than the bounded routing: $e36parts\n$e36")
    // e34: residual PQ keeps e21's contract — LUT/codebooks ride
    // broadcast DATA, candidates rank via the heap, no cartesian.
    val e34 = plan("e34_residual_pq")
    assert(e34.contains("ObjectHashAggregate") &&
      !e34.contains("CartesianProduct"),
      s"e34 lost the PQ scale shape\n$e34")
    // g16: skip-gram pairs — the pair join must stay an equi-join on
    // walk_id (never a cross of walk rows) and the count a hash agg.
    val g16 = plan("g16_walk_pairs")
    assert(!g16.contains("CartesianProduct"),
      s"g16 crosses walk rows\n$g16")
    // e39: stage 1 rides the bounded heap and the greedy MMR runs
    // inside ONE per-query aggregate — pairwise candidate sims must
    // never materialize as a window or a candidate×candidate join.
    val e39 = plan("e39_mmr_rerank")
    assert(e39.contains("ObjectHashAggregate") && !e39.contains("Window"),
      s"e39 lost its bounded-heap + in-aggregate greedy shape\n$e39")
  }

  test("graph family: no single-partition dense-id window remains") {
    // Round-12 verdict item 4: dense-id assignment used a
    // constant-key row_number window (one partition = the single
    // O(V log V) straggler task in otherwise partition-once graph
    // plans). DenseIds.byKey replaced it everywhere in the graph
    // family; this grep pin keeps the idiom from creeping back — a
    // new constant-partition window in graph/ must either use
    // DenseIds or amend this roster with its boundedness argument.
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft/graph")
    val walk = java.nio.file.Files.walk(root)
    val offenders =
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => new String(java.nio.file.Files.readAllBytes(p))
          .contains("partitionBy(pmod(length"))
        .map(_.getFileName.toString).toSet
      finally walk.close()
    assert(offenders.isEmpty,
      s"single-partition dense-id windows in: ${offenders.mkString(", ")}")
    // And the replacement's own plan: the only window DenseIds emits
    // keys on the partition id (P-way parallel), never a constant.
    val ids = graft.graph.DenseIds.byKey(
      spark.range(100).selectExpr("concat('n', id) AS node"), "node")
    val w = ids.queryExecution.executedPlan.toString()
    assert(w.contains("Window") && w.contains("_pid"),
      s"DenseIds lost its partition-id-keyed window\n$w")
  }

  test("nav attaches plan each level's probe and prune once") {
    // fwd and back link rows must come from one pass over the attach:
    // two projections of it plan each level's top-k merge and α-prune
    // twice (AQE reuses only the exchanges under them). Count the
    // logical nodes holding either.
    import org.apache.spark.sql.catalyst.expressions.Expression
    import graft.functions.{AlphaPruneKept, TopKByScore}
    def holding(q: String)(is: Expression => Boolean): Int =
      SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan
        .collect { case n if n.expressions.exists(_.exists(is)) => n }.size
    // e32: one flat level; e48: levels 0-2, only level 0 α-prunes.
    for ((q, levels) <- Seq("e32_nav_attach" -> 1, "e48_hier_attach" -> 3)) {
      assert(holding(q)(_.isInstanceOf[AlphaPruneKept]) == 1,
        s"$q α-prunes more than once")
      assert(holding(q)(_.isInstanceOf[TopKByScore]) == levels,
        s"$q merges its probe top-k more than once per level")
    }
  }

  test("packing family scans documents once: scalar and packer share the cut") {
    // Round-11 verdict "what's wrong #1": d72's shard-count scalar
    // re-scanned + re-tokenized the corpus before the packing plan
    // ran (and d73 once per cap — 5 scans per evaluation). Fixed by
    // lineage-cutting countedTokens once; the RETURNED plan must
    // read the checkpoint (ExistingRDD) and never the parquet
    // table — the one corpus scan happened at the cut.
    for (q <- Seq("d72_ffd_pack", "d73_pack_curve",
        "d25_pack_sequences")) {
      val p = plan(q)
      assert(p.contains("ExistingRDD"),
        s"$q no longer reads the shared counted-tokens checkpoint\n$p")
      assert(!p.contains("Scan parquet"),
        s"$q re-scans the corpus after the cut\n$p")
    }
  }
}

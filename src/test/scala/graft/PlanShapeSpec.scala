package graft

import graft.operators._
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Regression guards for the physical-plan properties the 100 TB
  * posture depends on (SURVEY §5). These assert the plan SHAPE — a
  * change that silently drops a pushed filter, broadcasts a fact
  * table, or adds a shuffle fails here before it costs anything at
  * scale. */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.test
  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def count(plan: String, token: String): Int =
    token.r.findAllIn(plan).length

  test("q1 pushes the shipdate filter into the parquet scan") {
    val p = plan(Relational.q1Agg(spark, dir))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      "filter must reach the scan")
  }

  test("q1 prunes to only the columns it reads") {
    val p = plan(Relational.q1Agg(spark, dir))
    assert(!p.contains("l_orderkey"), "unused columns must be pruned from the scan")
  }

  test("q4 star join broadcasts its dimensions") {
    val p = plan(Relational.q4BroadcastJoin(spark, dir))
    assert(count(p, "BroadcastExchange") >= 3,
      "nation/region/dims must broadcast")
  }

  test("windows and sessionization shuffle exactly once") {
    for ((name, df) <- Seq(
      "q8" -> Relational.q8WindowRunning(spark, dir),
      "q16_asof" -> Relational.q16AsofJoin(spark, dir),
      "ev_sessionize" -> Events.evSessionize(spark, dir))) {
      val n = count(plan(df), "Exchange hashpartitioning")
      assert(n == 1, s"$name: expected exactly 1 hash exchange, got $n")
    }
  }

  test("dedup candidate generation is equijoin, never cartesian") {
    for ((name, df) <- Seq(
      "minhash" -> Dedup.dedupMinhashLsh(spark, dir),
      "simhash" -> Dedup.dedupSimhash(spark, dir),
      "ngram" -> Dedup.dedupNgramJaccard(spark, dir),
      "embedding" -> Dedup.dedupEmbedding(spark, dir),
      "ann_lsh" -> Similarity.annLsh(spark, dir))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"),
        s"$name must not build a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$name must not nested-loop over the corpus")
    }
  }

  test("ann_lsh and dedup_embedding broadcast only bounded frames") {
    // Every EXPLICIT broadcast hint must sit above a Filter — hinting
    // an unfiltered corpus scan is the 100 TB driver-OOM shape. (AQE
    // may still broadcast small shuffle sides at test SF; that's a
    // size-based runtime call, not a plan bug, so we check the
    // analyzed plan's hints, not the executed plan.)
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, ResolvedHint}
    for ((name, df) <- Seq(
      "ann_lsh" -> Similarity.annLsh(spark, dir),
      "dedup_embedding" -> Dedup.dedupEmbedding(spark, dir))) {
      val hinted = df.queryExecution.analyzed.collect {
        case h: ResolvedHint => h.child
      }
      hinted.foreach { c =>
        assert(c.collectFirst { case f: Filter => f }.isDefined,
          s"$name: broadcast hint over an unfiltered subtree")
      }
    }
  }

  test("text ops stay narrow: no required hash exchange before the final sort") {
    val p = plan(TextAnalysis.textTokens(spark, dir))
    // The explicit REPARTITION_BY_NUM (scan parallelism) and the range
    // partition for orderBy are expected; an ENSURE_REQUIREMENTS hash
    // exchange would mean an aggregation/join shuffle crept in.
    val required = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("ENSURE_REQUIREMENTS"))
    assert(required == 0, "per-row text analysis must not aggregate-shuffle")
  }

  test("round-4 candidate generation stays equijoin: fuzzy, incremental, cluster") {
    for ((name, df) <- Seq(
      "fuzzy_join" -> Fuzzy.fuzzyJoin(spark, dir),
      "dedup_incremental" -> Dedup.dedupIncremental(spark, dir))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name must block into equijoins")
    }
  }

  test("layout_zorder is one projection + one range sort, no mid-plan shuffle") {
    val p = plan(ScaleOps.layoutZorder(spark, dir))
    assert(count(p, "Exchange hashpartitioning") == 0,
      "z-value computation is per-row; only the final range sort may shuffle")
    assert(count(p, "Exchange rangepartitioning") == 1, "the clustering sort")
  }

  test("q26_unpivot adds no shuffle beyond its pivot input") {
    // The unpivot itself is a per-row Expand and must not introduce
    // any hash exchange beyond what q17's pivot already needs (the
    // two-phase pivot aggregation).
    def hashEx(df: DataFrame): Int = plan(df).linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("ENSURE_REQUIREMENTS"))
    val base = hashEx(RelationalExt.q17Pivot(spark, dir))
    val up = hashEx(RelationalExt.q26Unpivot(spark, dir))
    assert(up == base, s"unpivot must stay map-side: $base -> $up hash exchanges")
  }

  test("ts_fill never shuffles the grid: broadcast-joined dimensions") {
    val p = plan(Events.tsFill(spark, dir))
    assert(!p.contains("CartesianProduct"),
      "grid x types must be a broadcast nested loop over two tiny frames, not a cartesian over data")
  }

  test("round-8 candidate generation stays equijoin: containment, near-dup, jaccard, pq") {
    for ((name, df) <- Seq(
      "dedup_containment" -> Dedup.dedupContainment(spark, dir),
      "mm_near_dup" -> Multimodal.mmNearDup(spark, dir),
      "graph_jaccard" -> Graph.graphJaccard(spark, dir),
      "ann_pq" -> Similarity.annPq(spark, dir),
      "text_tfidf" -> TextAnalysis.textTfidf(spark, dir))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"),
        s"$name must not build a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$name must not nested-loop over the corpus")
    }
  }

  test("hard_neg_mine candidates come from cell equijoins, never a corpus scan") {
    // The IVF-composed miner's whole point is that query x corpus work
    // never appears: probes meet the inverted file on the cell key
    // (label mismatch is a post-join filter on that equijoin). The only
    // nested-loop allowed is the bounded centroid-assignment broadcast
    // (corpus x |centroids|, BuildRight) — same contract as knn_join.
    val p = plan(Similarity.hardNegMine(spark, dir))
    assert(!p.contains("CartesianProduct"),
      "hard_neg_mine must not build a cartesian product")
    assert("Join \\[?cell".r.findFirstIn(p).isDefined,
      s"candidate join must key on cell:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin BuildLeft"),
      "only BuildRight broadcast of the tiny centroid frame is allowed")
  }

  test("ann_ivf assignment is a nearest-cells projection, not an n·k join+window") {
    // The round-17 contract: cell assignment runs inside a generated
    // graft_nearest_cells projection over the plan-literal model (the
    // driver-collected ⌈√n/2⌉ md5 sample) — the old broadcast
    // cross-join + per-vector row_number window materialized n·k rows
    // through a sort shuffle (n^1.5 end to end, ×12–24 at the sf10
    // decade) and must not come back. The ONLY window allowed is the
    // per-query top-k rank; no centroid join exists at all.
    val p = plan(Similarity.annIvf(spark, dir))
    assert(p.contains("graft_nearest_cells"),
      s"assignment must be the graft_nearest_cells projection:\n$p")
    val windows = p.linesIterator.count(_.trim.startsWith("Window"))
    assert(windows <= 1,
      s"only the per-query top-k window is allowed, found $windows:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the centroid cross-join must not come back")
    assert(!p.contains("CartesianProduct"), "no corpus×corpus pair join")
  }

  test("ev_concurrency's global prefix sum is two-level, not one global window") {
    // The only unpartitioned window may run over the days-sized carry
    // frame; the boundary-level cumsum must be partitioned by day.
    val p = plan(Events.evConcurrency(spark, dir))
    val globalWindows = p.linesIterator.count(l =>
      l.trim.startsWith("Window") && !l.contains("windowspecdefinition(day"))
    assert(p.contains("windowspecdefinition(day"),
      "within-day cumsum must be partitioned by day")
    assert(globalWindows <= 1,
      s"only the tiny day-carry window may be unpartitioned:\n$p")
  }

  test("ev_attribution is one window pass, no self-join") {
    val p = plan(Events.evAttribution(spark, dir))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin")
      && !p.contains("BroadcastHashJoin"),
      "the as-of attribution must collapse into a window, not a join")
  }

  test("ann_nndescent: candidates come from edge equijoins, never a corpus pair scan") {
    // Seed knn + bridge are cell equijoins; the descent hop is an
    // equijoin on the edge set; the re-score joins candidates back to
    // vectors on id. The only nested loop allowed anywhere is the
    // bounded centroid-assignment broadcast (BuildRight).
    val p = plan(Similarity.annNndescent(spark, dir))
    assert(!p.contains("CartesianProduct"),
      "ann_nndescent must not build a cartesian product")
    assert(!p.contains("BroadcastNestedLoopJoin BuildLeft"),
      "only BuildRight broadcast of the tiny centroid frame is allowed")
  }

  test("knn_join blocks on cells: equijoin pair join, centroids broadcast") {
    // Audit the fixture's BUILDER plan: the registered query reads the
    // checkpointed knn_seed fixture (a LogicalRDD scan), so the join
    // shape lives in knnSeedPlans, not in the query's own plan.
    val p = plan(Similarity.knnSeedPlans(spark, dir)._1)
    assert(!p.contains("CartesianProduct"),
      "the pair join must be a cell equijoin, never corpus×corpus")
    // The ONLY nested-loop allowed is the bounded centroid-assignment
    // broadcast (corpus × |centroids|); the corpus-pair join itself
    // must key on cell.
    assert(p.contains("Join [cell#") || p.contains("Join cell#") ||
      "Join \\[cell".r.findFirstIn(p).isDefined,
      s"pair join must key on cell:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin BuildLeft"),
      "only BuildRight broadcast of the tiny centroid frame is allowed")
  }

  test("text_zipf's top-k is TakeOrdered, not a global rank window") {
    val p = plan(TextAnalysis.textZipf(spark, dir))
    assert(p.contains("TakeOrdered"),
      "top-20 over the vocabulary must be a distributed partial top-k")
  }

  test("ev_topk_day ranks the rollup, not the raw event log") {
    // The Window must sit ABOVE the aggregate: physical order in the
    // plan string is Window first (output side), HashAggregate below.
    val p = plan(Events.evTopkDay(spark, dir))
    val w = p.indexOf("Window")
    val agg = p.indexOf("HashAggregate")
    assert(w >= 0 && agg >= 0 && w < agg,
      "rank window must consume the (day × type) aggregate")
  }

  test("ev_wau shrinks to distinct pairs BEFORE the ×7 expand") {
    // Generate (the explode) must consume the distinct aggregate:
    // aggregate appears below (after, in print order) the Generate.
    val p = plan(Events.evWau(spark, dir))
    val gen = p.indexOf("Generate explode")
    assert(gen >= 0, "expected an explode of the contribution window")
    val aggBelow = p.indexOf("HashAggregate", gen)
    assert(aggBelow >= 0,
      "the distinct (user, day) shrink must run before the expand")
  }

  test("mix_apportion aggregates the corpus before any window") {
    // All windows must run over the |sources|-sized aggregate.
    val p = plan(Pipeline.mixApportion(spark, dir))
    val w = p.indexOf("Window")
    val agg = p.lastIndexOf("HashAggregate")
    assert(w >= 0 && agg > w,
      "windows may only see the per-source aggregate, not documents")
  }

  test("round-9 query-side scans stay bounded-broadcast, corpus never nested-loops") {
    for ((name, df) <- Seq(
      "hard_negatives" -> Similarity.sampleHardNegatives(spark, dir),
      "ann_diverse" -> Similarity.annDiverse(spark, dir),
      "ann_hybrid_rrf" -> Similarity.annHybridRrf(spark, dir))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), s"$name: no cartesian product")
      // the bounded query set (vec_id < nQueries) must be what broadcasts:
      // every BroadcastExchange subtree carries the pushed vec_id filter
      // or a bounded aggregate, never the raw corpus scan
      assert(p.contains("BroadcastExchange"), s"$name: query side broadcasts")
    }
  }

  test("round-9 pair-graph rollups join on keys, never nested-loop") {
    for ((name, df) <- Seq(
      "mix_source_overlap" -> Pipeline.mixSourceOverlap(spark, dir),
      "graph_2hop" -> Graph.graph2hop(spark, dir),
      "graph_assortativity" -> Graph.graphAssortativity(spark, dir))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), s"$name: no cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name: no BNLJ")
    }
  }

  test("ts_changepoint windows share one exchange over the grid") {
    // Two event_type exchanges are legitimate: one under the tiny
    // per-type totals rollup (broadcast branch), one feeding BOTH
    // window passes (the second window reuses the partitioning and
    // only re-sorts). A third would mean the windows stopped
    // sharing.
    val p = plan(Events.tsChangepoint(spark, dir))
    val n = count(p, "Exchange hashpartitioning\\(event_type")
    assert(n <= 2, s"expected ≤2 event_type exchanges (rollup + shared windows), got $n")
    // two real window passes; WindowGroupLimit (the rn=1 rank-limit
    // pushdown Spark inserts) also matches the token and is welcome
    assert(count(p, "Window \\[") == 2, "exactly two window passes")
  }

  test("sketch_cms: counter grid broadcasts, never the event scan") {
    val p = plan(ScaleOps.sketchCms(spark, dir))
    assert(p.contains("BroadcastExchange"), "counter grid must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  // A window function whose spec has NO partition columns prints its
  // spec starting with an ORDERED column — `windowspecdefinition(x ASC
  // …` — while a partitioned spec starts with bare partition columns.
  private val unpartitionedRankFn =
    """(ntile\(\d+\)|row_number\(\)|rank\(\)|percent_rank\(\)|cume_dist\(\)) windowspecdefinition\([^,()]*(ASC|DESC)""".r

  test("no registered query ranks the data through an unpartitioned window") {
    // The top defect class: ntile/row_number over an
    // empty partition spec = ALL rows through one task. Ranking ops
    // must decompose via Ranks.groupedRank (bucket ledger); the only
    // unpartitioned windows allowed anywhere are non-ranking carries
    // (sum/count) over bounded aggregate frames (day carries, bucket
    // ledgers, decile frames), which this regex does not match.
    // Audited exceptions — the ranked input is an aggregate bounded by
    // KEY CARDINALITY, not data volume, so one task is the right plan:
    //  - mix_apportion: Hamilton remainders over the |sources| frame;
    //  - mix_waterfill: the water-fill level search over the |langs|
    //    frame (the corpus rollup above it is a hash aggregate);
    //  - text_zipf: ranks the 20-row TakeOrdered output (the top-k
    //    itself is distributed — guarded by its own test above);
    //  - sample_priority: same shape — ranks the (k+1)-row TakeOrdered
    //    priority sample, never the corpus;
    //  - sample_strat_neyman: Hamilton remainder rank over the |langs|
    //    frame (the mix_apportion shape).
    //  - mix_token_budget: Hamilton split rank over the |sources|
    //    frame (the mix_apportion shape).
    //  - sample_allocated: inherits sample_strat_neyman's |langs|-frame
    //    Hamilton rank by composition; its own document ranking rides
    //    the groupedRank bucket ledger (spec-pinned via the id-sum
    //    checksum).
    val boundedFrameRanks = Set("mix_apportion", "mix_waterfill",
      "text_zipf", "sample_priority", "sample_strat_neyman",
      "mix_token_budget", "sample_allocated")
    for ((name, fn) <- graft.SparkEntry.queries if !boundedFrameRanks(name)) {
      val p = plan(fn(spark, dir))
      assert(unpartitionedRankFn.findFirstIn(p).isEmpty,
        s"$name: unpartitioned ranking window (single-partition sort of the data):\n" +
          unpartitionedRankFn.findFirstIn(p).getOrElse(""))
      // Round-15 guard: the sort-based built-in `percentile()` is an
      // ObjectHashAggregate buffering a value→count map of every group
      // value in one executor's heap — a straight OOM at 100 TB with
      // few groups. Exact order statistics ride the bucket ledger
      // (Ranks.groupedRank) or the distribution aggregate (q15);
      // `percentile_approx(` does not match this token.
      assert(!p.contains("percentile("),
        s"$name: sort-based percentile() aggregate in a registered plan")
    }
  }

  test("quantile assignment rides the bucket ledger, not a global ntile") {
    // sample_curriculum / ev_rfm / q36_decile_lift / q34_percent_rank:
    // no ntile anywhere in the physical plan (stage/score/decile come
    // from Ranks.ntileFromRank over the exact ledger rank), and every
    // data-ranking row_number window is partitioned by the __rk bucket
    // key, so per-task input is bounded by bucket width.
    for ((name, df) <- Seq(
      "sample_curriculum" -> Pipeline.sampleCurriculum(spark, dir),
      "ev_rfm" -> Events.evRfm(spark, dir),
      "q36_decile_lift" -> RelationalExt.q36DecileLift(spark, dir),
      "q34_percent_rank" -> RelationalExt.q34PercentRank(spark, dir),
      // round 12: the audit-side order statistic must ride the bucket
      // ledger too, never a per-type full-sort window.
      "sketch_quantile" -> ScaleOps.sketchQuantile(spark, dir))) {
      val p = plan(df)
      assert(!p.contains("ntile("), s"$name: ntile window survived the rewrite")
      p.linesIterator.filter(_.contains("row_number() windowspecdefinition"))
        .foreach { l =>
          assert(l.contains("__rk_b0"),
            s"$name: data-ranking window not bucket-partitioned: $l")
        }
    }
  }

  test("ann_range_search blocks on LSH buckets, never a corpus pair scan") {
    val p = plan(Similarity.annRangeSearch(spark, dir))
    assert(!p.contains("CartesianProduct"),
      "range search must not build a cartesian product")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "range search must not nested-loop over the corpus")
    assert(p.contains("BroadcastExchange"),
      "the bounded query side must broadcast")
  }

  test("layout_advisor touches the orders corpus exactly once") {
    val p = plan(ScaleOps.layoutAdvisor(spark, dir))
    val scans = count(p, "Scan parquet[^\\n]*orders")
    assert(scans == 1,
      s"the ×3 layout fan-out must ride ONE scan, got $scans")
  }

  test("round-13 profiling ops scan each corpus table exactly once") {
    // k-column profiling must not cost k corpus scans: the profiled
    // columns ride ONE exploded projection per table, and everything
    // downstream is value-ledger metadata.
    for ((name, df, table, cap) <- Seq(
      ("profile_outliers", ScaleOps.profileOutliers(spark, dir), "lineitem", 1),
      ("profile_outliers", ScaleOps.profileOutliers(spark, dir), "events", 1),
      ("profile_entropy", ScaleOps.profileEntropy(spark, dir), "orders", 1),
      ("profile_entropy", ScaleOps.profileEntropy(spark, dir), "documents", 1),
      ("ts_hampel", Events.tsHampel(spark, dir), "events", 1))) {
      val n = count(plan(df), s"Scan parquet[^\\n]*$table")
      assert(n == cap, s"$name: expected $cap $table scan(s), got $n")
    }
  }

  test("ev_markov_stationary's 8-round loop rides ONE events scan") {
    // The transition frame is localCheckpoint'ed before the power
    // iteration: without it the corpus-scale lag-window derivation is
    // replicated 8× in the plan and survives only while ReuseExchange
    // recognizes the copies (the round-13 weak finding).
    val p = plan(Events.evMarkovStationary(spark, dir))
    val n = count(p, "Scan parquet[^\\n]*events")
    assert(n == 0,
      s"after checkpointing the transition frame the loop plan must be " +
        s"metadata-only (LogicalRDD leaves), got $n events scans")
    assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"),
      "the loop must stand on the checkpointed transition frame")
  }

  test("graph_squares wedges are equijoins on the pair graph, never cartesian") {
    val p = plan(Graph.graphSquares(spark, dir))
    assert(!p.contains("CartesianProduct"), "no cartesian wedge product")
    // The only nested-loop joins allowed are the single-row summary
    // crossJoin; the wedge pairing itself must be a hash equijoin.
    assert(p.contains("Exchange hashpartitioning") ||
      p.contains("BroadcastHashJoin"), "wedge join must be an equijoin")
  }

  test("q39_qualify and ev_bot_score shuffle on their high-cardinality keys only") {
    for ((name, df, cap) <- Seq(
      ("q39_qualify", RelationalExt.q39Qualify(spark, dir), 1),
      ("ev_bot_score", Events.evBotScore(spark, dir), 2))) {
      val p = plan(df)
      val n = count(p, "Exchange hashpartitioning")
      assert(n <= cap, s"$name: expected <= $cap hash exchanges, got $n")
      assert(!p.contains("CartesianProduct"), s"$name: no cartesian")
    }
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Semantic invariants of the round-12 additions — properties the
  * row-hash oracle can't state: dedup_substring's span accounting and
  * its agreement with exact document dedup, mix_novelty's telescoping
  * KMV prefix curve and its consistency with sketch_kmv, plus the
  * plan shapes (equijoin candidate generation, broadcast bounded
  * frames).
  */
class Round12OpsSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.test
  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  // ─── dedup_substring ───

  test("dedup_substring: one row per doc, counts internally consistent") {
    val rows = Dedup.dedupSubstring(spark, dir).collect()
    val nDocs = Tables(spark, dir).documents.count()
    assert(rows.length.toLong == nDocs, "exactly one row per document")
    rows.foreach { r =>
      val (nSpans, nDup, maxRun, dupBp) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nSpans >= 0 && nDup >= 0 && nDup <= nSpans,
        "duplicated spans bounded by span count")
      assert(maxRun <= nDup, "longest run bounded by duplicated count")
      assert((nDup == 0) == (maxRun == 0), "run exists iff dups exist")
      assert(dupBp >= 0 && dupBp <= 10000)
      if (nSpans > 0) assert(dupBp == nDup * 10000 / nSpans)
      else assert(dupBp == 0 && nDup == 0)
    }
  }

  test("dedup_substring: known copies/passages score exactly on a crafted corpus") {
    // The testdata generator produces only NEAR-dups (no byte-identical
    // docs at any SF), so the exact semantics are pinned on a crafted
    // documents table with known ground truth: a byte-identical pair,
    // a pair sharing one embedded passage, and a unique doc.
    import spark.implicits._
    val pad = (i: Int) => (1 to 10).map(j => s"u${i}w$j").mkString(" ")
    val passage = "the shared passage tokens run exactly nine long"  // 8 tokens
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "en", "s0"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta", "en", "s0"),
      (3L, s"${pad(3)} $passage ${pad(33)}", "en", "s1"),
      (4L, s"${pad(4)} $passage ${pad(44)}", "en", "s1"),
      (5L, pad(5), "en", "s2"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-sub").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")

    val out = Dedup.dedupSubstring(spark, tmp).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // byte-identical pair: every span duplicated, one unbroken run
    for (id <- Seq(1L, 2L)) {
      val (nSpans, nDup, maxRun, bp) = out(id)
      assert(nSpans == 4 && nDup == 4 && maxRun == 4 && bp == 10000,
        s"doc $id: exact copy must be 100% span-duplicated in one run")
    }
    // shared 8-token passage inside unique padding: exactly the 4
    // all-inside-passage spans (8 − 5 + 1) duplicate, as ONE run —
    // boundary spans mix unique padding so they must NOT mark
    for (id <- Seq(3L, 4L)) {
      val (nSpans, nDup, maxRun, bp) = out(id)
      assert(nSpans == 24, s"doc $id: 28 tokens -> 24 spans")
      assert(nDup == 4 && maxRun == 4,
        s"doc $id: the embedded passage marks exactly its interior spans")
      assert(bp == 4 * 10000 / 24)
    }
    // unique doc: clean
    assert(out(5L) == ((6L, 0L, 0L, 0L)), "unique doc has zero dup spans")
  }

  test("dedup_substring: candidate generation is hash equijoin, no cartesian") {
    val p = plan(Dedup.dedupSubstring(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "span dup detection must never build a cross product")
    // the islands window ranks per doc, never unpartitioned
    assert(!p.contains("windowspecdefinition(specifiedwindowframe")
      || p.contains("windowspecdefinition(doc_id"), "islands window is per-doc")
  }

  // ─── mix_novelty ───

  test("mix_novelty: one row per source, ranks contiguous, curve telescopes") {
    val rows = Pipeline.mixNovelty(spark, dir).orderBy(col("rnk")).collect()
    val nSrc = Tables(spark, dir).documents
      .select(col("source")).distinct().count()
    assert(rows.length.toLong == nSrc, "one row per source")
    assert(rows.map(_.getLong(1)).toSeq == (1L to nSrc).toSeq,
      "ranks are 1..S in source order")
    assert(rows.map(_.getString(0)).toSeq ==
      rows.map(_.getString(0)).sorted.toSeq,
      "anchor order is source-name order")
    // telescoping: est_new sums to the final cumulative estimate, and
    // the first novelty IS the first source's estimate
    assert(rows.map(_.getLong(3)).sum == rows.last.getLong(2))
    assert(rows.head.getLong(3) == rows.head.getLong(2))
    // KMV unions only grow: cumulative estimate is monotone, so every
    // marginal contribution is non-negative
    assert(rows.map(_.getLong(2)).toSeq ==
      rows.map(_.getLong(2)).sorted.toSeq)
    rows.foreach(r => assert(r.getLong(3) >= 0))
  }

  test("mix_novelty: first prefix agrees with sketch_kmv's per-source estimate") {
    // Same hash ('kmv:'), same k — the rank-1 prefix is exactly that
    // source's sketch_kmv estimate, tying the two dashboards together.
    val first = Pipeline.mixNovelty(spark, dir)
      .filter(col("rnk") === 1).collect().head
    val kmvEst = ScaleOps.sketchKmv(spark, dir)
      .select(col("src_a"), col("est_a"))
      .union(ScaleOps.sketchKmv(spark, dir).select(col("src_b"), col("est_b")))
      .filter(col("src_a") === first.getString(0))
      .collect()
    assume(kmvEst.nonEmpty, "first source appears in the kmv pair frame")
    assert(kmvEst.head.getLong(1) == first.getLong(2),
      "prefix-1 estimate == sketch_kmv per-source estimate")
  }

  test("mix_novelty: prefix frames broadcast, corpus never nested-loops") {
    val p = plan(Pipeline.mixNovelty(spark, dir))
    assert(!p.contains("CartesianProduct"),
      "prefix expansion must never cross-join the corpus")
    assert(p.contains("BroadcastExchange"),
      "the ≤ S·k prefix/sketch frames ride broadcast joins")
  }

  // ─── ann_ivf_pq ───

  test("ann_ivf_pq: composed recall beats both single tiers (sf0.01)") {
    val dir01 = "/root/testdata/sf0.01"
    val rows = Similarity.annIvfPq(spark, dir01).collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(1)).sorted.toSeq == (1L to rs.length).toSeq,
        "ranks are 1..k per query")
      assert(rs.length <= 3)
    }
    val exact = Similarity.annBruteforce(spark, dir01).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      df.collect().map(r => (r.getLong(0), r.getLong(2)))
        .count(exact.contains).toDouble / exact.size
    val composed = rows.map(r => (r.getLong(0), r.getLong(2)))
      .count(exact.contains).toDouble / exact.size
    // wider probe + deeper rescore must lift the composition ABOVE
    // either lossy tier alone — the point of composing them
    assert(composed >= 0.45, f"IVF+PQ recall $composed%.2f collapsed")
    assert(composed >= recallOf(Similarity.annIvf(spark, dir01)),
      "composition at least matches plain IVF")
    assert(composed >= recallOf(Similarity.annPq(spark, dir01)),
      "composition at least matches plain PQ")
  }

  test("ann_ivf_pq: ADC scan is cell-restricted, tables broadcast") {
    val p = plan(Similarity.annIvfPq(spark, dir))
    // the only nested-loop is the bounded-broadcast centroid cross
    // (the annIvf shape); candidates themselves ride cell equijoins
    assert(!p.contains("CartesianProduct"),
      "no unbounded cross product anywhere")
    assert(p.contains("BroadcastExchange"),
      "centroids/ADC tables ride broadcasts")
  }

  // ─── graph_modularity ───

  test("graph_modularity: accounting identities + partition quality") {
    val rows = Graph.graphModularity(spark, dir).collect()
    val nDocs = Tables(spark, dir).documents.count()
    assert(rows.map(_.getLong(1)).sum == nDocs,
      "communities partition the doc set")
    // recover m from any intra-edge-bearing row: q_num = 4m·e_c − d_c²
    val r0 = rows.find(_.getLong(2) > 0).get
    val m = (r0.getLong(4) + r0.getLong(3) * r0.getLong(3)) / (4 * r0.getLong(2))
    assert(rows.map(_.getLong(2)).sum <= m,
      "intra-community edges bounded by total edges")
    assert(rows.map(_.getLong(3)).sum == 2 * m,
      "degrees sum to 2m (handshake)")
    rows.foreach { r =>
      assert(r.getLong(4) == 4 * m * r.getLong(2) - r.getLong(3) * r.getLong(3),
        "q_num is the exact integer identity")
    }
    // label-prop communities over a near-dup graph must beat chance
    val qTotalBp = rows.map(_.getLong(5)).sum
    assert(qTotalBp > 0, s"modularity ${qTotalBp}bp not above chance")
    assert(qTotalBp <= 10000, "Q cannot exceed 1")
  }

  // ─── ts_lttb ───

  test("ts_lttb: one point per non-empty bucket, endpoints exact") {
    import org.apache.spark.sql.functions.{col => c}
    val rows = Events.tsLttb(spark, dir).collect()
    val ev = Tables(spark, dir).events
      .select(c("event_type"), c("ts"), c("event_id")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2)))
    val bucketsPerType = ev.groupBy(_._1).map { case (t, es) =>
      t -> es.map(e => e._2.getTime / 1000 / (6 * 3600)).distinct.size
    }
    // exactly one selected point per non-empty (type, bucket)
    val perType = rows.groupBy(_.getString(0))
    perType.foreach { case (t, rs) =>
      assert(rs.length == bucketsPerType(t),
        s"$t: one row per non-empty bucket")
      assert(rs.map(_.getLong(1)).distinct.length == rs.length,
        s"$t: bucket keys unique")
      // endpooints: globally earliest event is the 'first' pick,
      // globally latest the 'last' pick
      val es = ev.filter(_._1 == t)
      val firstEv = es.minBy(e => (e._2.getTime, e._3))._3
      val lastEv = es.maxBy(e => (e._2.getTime, e._3))._3
      assert(rs.find(_.getString(2) == "first").get.getLong(3) == firstEv)
      assert(rs.find(_.getString(2) == "last").get.getLong(3) == lastEv)
      val kinds = rs.map(_.getString(2))
      assert(kinds.count(_ == "first") == 1 && kinds.count(_ == "last") == 1
        && kinds.count(_ == "lttb") == rs.length - 2)
    }
    // every selected point is a real event
    val ids = ev.map(_._3).toSet
    rows.foreach(r => assert(ids.contains(r.getLong(3))))
  }

  test("ts_lttb: summary frame broadcasts; rank windows bucket-partitioned") {
    val p = plan(Events.tsLttb(spark, dir))
    assert(p.contains("BroadcastExchange"),
      "the bounded (type, bucket) anchor frame broadcasts onto events")
    assert(!p.contains("CartesianProduct"))
  }

  // ─── ev_cuped ───

  test("ev_cuped: same split as ev_ab_test, sane variance accounting") {
    val r = Events.evCuped(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    val ab = Events.evAbTest(spark, dir).collect().head
    // identical md5-parity assignment => identical group sizes
    assert(row.getLong(0) == ab.getLong(0) && row.getLong(1) == ab.getLong(2),
      "CUPED reads the same experiment as the z-test")
    val nUsers = Tables(spark, dir).events
      .select(col("user_id")).distinct().count()
    assert(row.getLong(0) + row.getLong(1) == nUsers,
      "groups partition the users")
    val varRed = row.getLong(5)
    assert(varRed >= 0 && varRed <= 10000, "rho^2 is a proportion")
    val theta = row.getLong(4)
    // theta = 0 must imply cuped == raw (and nonzero theta some shift)
    if (theta == 0) assert(row.getLong(2) == row.getLong(3))
  }

  // ─── graph_louvain ───

  test("graph_louvain: identities hold and the round improves modularity") {
    val after = Graph.graphLouvain(spark, dir).collect()
    val before = Graph.graphModularity(spark, dir).collect()
    val nDocs = Tables(spark, dir).documents.count()
    assert(after.map(_.getLong(1)).sum == nDocs,
      "post-round communities partition the doc set")
    // recover m from any intra-bearing row and check the handshake
    val r0 = after.find(_.getLong(3) > 0).get
    val m = (r0.getLong(5) + r0.getLong(4) * r0.getLong(4)) / (4 * r0.getLong(3))
    assert(after.map(_.getLong(4)).sum == 2 * m, "degrees sum to 2m")
    assert(after.map(_.getLong(3)).sum <= m,
      "intra edges bounded by total edges")
    assert(after.map(_.getLong(2)).sum ==
      after.map(_.getLong(2)).sum.max(0L), "move-in counts non-negative")
    // movers only move on strictly positive local gain (stay wins
    // ties), and the md5-parity damping keeps the synchronous round
    // from oscillating — on the near-dup graph the round must not
    // LOSE modularity, and it finds real structure at every test SF
    val qBefore = before.map(_.getLong(5)).sum
    val qAfter = after.map(_.getLong(6)).sum
    assert(qAfter >= qBefore,
      s"refinement regressed modularity: ${qBefore}bp -> ${qAfter}bp")
  }

  test("graph_louvain: bounded frames broadcast, argmax is per-node") {
    val p = plan(Graph.graphLouvain(spark, dir))
    assert(!p.contains("CartesianProduct"),
      "gain evaluation joins on keys, never a cross product")
    assert(p.contains("BroadcastExchange"),
      "community-degree totals and m ride broadcasts")
  }

  // ─── text_lm_score ───

  test("text_lm_score: one row per multi-token doc, quantized surprisal sane") {
    val rows = TextAnalysis.textLmScore(spark, dir).collect()
    val multi = Tables(spark, dir).documents
      .filter(size(split(col("text"), " ")) >= 2).count()
    assert(rows.length.toLong == multi,
      "every doc with at least one bigram is scored")
    rows.foreach { r =>
      val (n, sum, avg) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(n >= 1 && sum >= 0, "bigram count and surprisal non-negative")
      assert(avg == sum * 100 / n, "average is the exact integer formula")
    }
    // a corpus model scoring its own corpus has finite surprisal
    // everywhere (add-one smoothing + every bigram observed)
    assert(rows.map(_.getLong(3)).max < 10000,
      "self-scored docs stay well under 100 bits/bigram")
  }

  test("text_lm_score: repeated text scores lower than shuffled-vocab text") {
    // The LM must prefer text whose bigrams it has seen often: a
    // corpus of many identical docs + one doc of the same words in a
    // rare order scores the common doc lower (= more fluent).
    import spark.implicits._
    val common = (1 to 9).map(i => (i.toLong, "a b c d e f", "en", "s0"))
    val rare = Seq((10L, "f e d c b a", "en", "s0"))
    val docs = (common ++ rare).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-lm").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextAnalysis.textLmScore(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out(1L) < out(10L),
      s"frequent word order must score lower: ${out(1L)} vs ${out(10L)}")
  }

  // ─── mix_tv_distance ───

  test("mix_tv_distance: all source pairs, bounds, self-consistency") {
    val rows = Pipeline.mixTvDistance(spark, dir).collect()
    val nSrc = Tables(spark, dir).documents
      .select(col("source")).distinct().count()
    // test corpora share common words across every source pair, so
    // the word-keyed join covers all C(S,2) pairs
    assert(rows.length.toLong == nSrc * (nSrc - 1) / 2,
      "one row per unordered source pair")
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1), "pairs are ordered src_a < src_b")
      assert(r.getLong(2) >= 1, "common vocab non-empty")
      val tv = r.getLong(3)
      val jc = r.getLong(4)
      assert(tv >= 0 && tv <= 10000, s"tv_bp in [0,10000]: $tv")
      assert(jc >= 0 && jc <= 10000, s"vocab_jacc_bp in [0,10000]: $jc")
    }
  }

  test("mix_tv_distance: identical sources at distance 0, disjoint near 1") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x y z x y", "en", "sA"), (2L, "x y z x y", "en", "sB"),
      (3L, "p q r shared", "en", "sC"), (4L, "shared u v w", "en", "sD"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-tv").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Pipeline.mixTvDistance(spark, tmp).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    assert(out(("sA", "sB")) == 0, "identical distributions at TV 0")
    // sC/sD share one of four tokens each: TV = 1 - 1/4 = 7500bp
    assert(out(("sC", "sD")) == 7500,
      s"one shared quarter-mass token -> 7500bp, got ${out(("sC", "sD"))}")
  }

  // ─── ev_survival ───

  test("ev_survival: monotone at-risk curve, exact accounting") {
    val rows = Events.evSurvival(spark, dir).orderBy(col("day")).collect()
    assert(rows.nonEmpty)
    val nUsers = Tables(spark, dir).events
      .select(col("user_id")).distinct().count()
    assert(rows.head.getLong(0) == 0L && rows.head.getLong(1) == nUsers,
      "day 0 has the whole population at risk")
    assert(rows.map(_.getLong(2)).sum == nUsers,
      "every user churns exactly once (uncensored window)")
    val atRisk = rows.map(_.getLong(1))
    assert(atRisk.zip(atRisk.tail).forall { case (a, b) => b <= a },
      "at-risk counts are non-increasing")
    rows.zip(rows.tail).foreach { case (cur, nxt) =>
      assert(nxt.getLong(1) == cur.getLong(1) - cur.getLong(2),
        "at-risk tomorrow = at-risk today - churned today")
    }
    rows.foreach { r =>
      assert(r.getLong(3) >= 0 && r.getLong(3) <= 10000)
      assert(r.getLong(4) >= 0 && r.getLong(4) <= 10000)
    }
  }

  // ─── ev_funnel_time ───

  test("ev_funnel_time: lag histogram partitions the ev_funnel converters") {
    val rows = Events.evFunnelTime(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getLong(0) >= 0, "conversion lag is non-negative")
      assert(r.getLong(1) >= 1)
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 10000)
    }
    // total converters here = ev_funnel's converted-user count (same
    // signup-then-purchase semantics, different readout)
    val nConv = rows.map(_.getLong(1)).sum
    val funnelConv = Events.evFunnel(spark, dir)
      .filter(col("converted") === 1).count()
    assert(nConv == funnelConv,
      s"histogram covers exactly the converters: $nConv vs $funnelConv")
  }

  // ─── graph_scc ───

  test("graph_scc: exact SCCs of a crafted directed graph") {
    // Two 2-cycles bridged one-way plus a sink: {a,b} -> {c,d} -> e.
    // The naive (min-ancestor, min-descendant) pair labeling would
    // merge wrong nodes here; the closure must not.
    import spark.implicits._
    val now = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(s: Int) = new java.sql.Timestamp(now.getTime + s * 1000L)
    // one user walks a->b->a->c->d->c->e; edges are adjacent pairs
    val walk = Seq("a", "b", "a", "c", "d", "c", "e")
    val ev = walk.zipWithIndex.map { case (t, i) =>
      (i.toLong, at(i), 1L, t, 0.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = java.nio.file.Files.createTempDirectory("graft-scc").toString
    ev.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = Graph.graphScc(spark, tmp).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out("a") == (("a", 2L)) && out("b") == (("a", 2L)),
      "first cycle is one SCC of size 2")
    assert(out("c") == (("c", 2L)) && out("d") == (("c", 2L)),
      "second cycle is one SCC of size 2")
    assert(out("e") == (("e", 1L)), "sink is its own SCC")
  }

  // ─── cdc_bitemporal ───

  test("cdc_bitemporal: the (100,100) cell is cdc_latest; cells nest") {
    val rows = Cdc.cdcBitemporal(spark, dir).collect()
    val cell = (tx: Long, v: Long) => rows
      .filter(r => r.getLong(0) == tx && r.getLong(1) == v)
      .map(r => r.getLong(2) -> (r.getString(3), r.getLong(4), r.getLong(5)))
      .toMap
    val full = cell(100L, 100L)
    val latest = Cdc.cdcLatest(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(full == latest,
      "full-knowledge full-validity state equals the compacted changelog")
    // monotone knowledge: every user visible at (50, v) is visible at
    // (100, v) — later tx cuts only ADD information
    for (v <- Seq(50L, 100L)) {
      val half = cell(50L, v)
      assert(half.keySet.subsetOf(cell(100L, v).keySet),
        s"valid=$v: users cannot disappear as tx knowledge grows")
    }
    // valid-time discipline: a valid_pct=50 cell never reports state
    // from after the valid cut
    val Array(mnE, mxE) = Tables(spark, dir).events
      .agg(min(unix_timestamp(col("ts"))), max(unix_timestamp(col("ts"))))
      .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
    val validCut = mnE + (mxE - mnE) / 2
    rows.filter(_.getLong(1) == 50L).foreach { r =>
      assert(r.getLong(4) <= validCut,
        s"user ${r.getLong(2)}: state ${r.getLong(4)} leaks past valid cut $validCut")
    }
  }

  // ─── sample_strat_neyman ───

  test("sample_strat_neyman: allocations sum to budget, follow N_h*S_h") {
    val rows = Pipeline.sampleStratNeyman(spark, dir).collect()
    assert(rows.map(_.getLong(4)).sum == 100L,
      "Hamilton rounding lands exactly on the budget")
    rows.foreach { r =>
      assert(r.getLong(1) >= 1 && r.getLong(2) >= 0 && r.getLong(3) >= 0)
      assert(r.getLong(4) >= 0 && r.getLong(4) <= 100)
    }
    // heavier weight never gets a smaller allocation (Hamilton is
    // monotone up to the +1 remainder seat)
    val byW = rows.sortBy(_.getLong(3))
    byW.zip(byW.tail).foreach { case (a, b) =>
      assert(b.getLong(4) >= a.getLong(4) - 1,
        s"${b.getString(0)} outweighs ${a.getString(0)} but allocates less")
    }
  }

  // ─── ev_markov_stationary ───

  test("ev_markov_stationary: proper distribution, fixed under one more step") {
    val pi = Events.evMarkovStationary(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val types = pi.keySet
    pi.values.foreach(p => assert(p >= 0 && p <= 10000))
    val mass = pi.values.sum
    assert(mass <= 10000 && mass >= 10000 - 8L * types.size,
      s"mass $mass outside the documented flooring leak envelope")
    // applying one more integer power step moves nothing materially:
    // the chain mixes geometrically and the integer map reaches (or
    // oscillates within a few bp of) its fixed point by k=8
    val trans = Events.evMarkov(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    types.foreach { t =>
      val next = types.toSeq
        .map(f => pi(f) * trans.getOrElse((f, t), 0L)).sum / 10000
      assert(math.abs(next - pi(t)) <= 15,
        s"$t: one more step moves ${pi(t)} -> $next")
    }
  }

  // ─── ev_funnel_steps ───

  test("ev_funnel_steps: monotone funnel, consistent with the 2-step ops") {
    val rows = Events.evFunnelSteps(spark, dir).orderBy(col("step")).collect()
    assert(rows.length == 3)
    assert(rows.map(_.getString(1)).toSeq == Seq("signup", "click", "purchase"))
    val ns = rows.map(_.getLong(2))
    assert(ns(0) >= ns(1) && ns(1) >= ns(2), "funnel counts are monotone")
    assert(rows(0).getLong(3) == 10000 && rows(0).getLong(4) == 10000)
    assert(rows(1).getLong(3) == ns(1) * 10000 / ns(0))
    assert(rows(2).getLong(3) == ns(2) * 10000 / ns(1))
    assert(rows(2).getLong(4) == ns(2) * 10000 / ns(0))
    // step 1 = users with a signup (ev_funnel's base population)
    val nSignup = Events.evFunnel(spark, dir)
      .filter(col("signup_epoch").isNotNull).count()
    assert(ns(0) == nSignup, "step-1 base matches ev_funnel")
  }

  test("ev_funnel_steps: the chained step windows share one user shuffle") {
    val p = plan(Events.evFunnelSteps(spark, dir))
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"expected exactly 1 hash exchange, got $n")
  }

  // ─── ts_m4 ───

  test("ts_m4: per-bucket extremes bound the endpoints, counts partition") {
    val rows = Events.tsM4(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, mn, mx, f, l) = (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))
      assert(n >= 1)
      assert(mn <= mx)
      assert(f >= mn && f <= mx, "first inside [min, max]")
      assert(l >= mn && l <= mx, "last inside [min, max]")
      if (n == 1) assert(mn == mx && f == l && f == mn)
    }
    val total = Tables(spark, dir).events.count()
    assert(rows.map(_.getLong(2)).sum == total,
      "buckets partition the event stream")
  }

  // ─── text_rake ───

  test("text_rake: stopword-free phrases, contiguous per-doc ranks") {
    val rows = TextAnalysis.textRake(spark, dir).collect()
    assert(rows.nonEmpty)
    val stop = Set("the", "a", "of", "and", "to", "in")
    rows.foreach { r =>
      val words = r.getString(2).split(" ")
      assert(words.nonEmpty && words.forall(w => !stop(w)),
        s"phrase '${r.getString(2)}' leaks a stopword")
      assert(words.length.toLong == r.getLong(3), "plen matches the phrase")
      assert(r.getLong(4) >= 100,
        "every member word scores deg/freq >= 1 by construction")
    }
    rows.groupBy(_.getLong(0)).foreach { case (doc, rs) =>
      assert(rs.map(_.getLong(1)).sorted.toSeq == (1L to rs.length).toSeq,
        s"doc $doc: ranks contiguous from 1")
      assert(rs.length <= 3)
    }
  }

  test("text_rake: longest collocation wins on a crafted corpus") {
    // 'data quality gate' appears twice and as the longest run;
    // RAKE's deg/freq scoring must rank it over the short fillers.
    import spark.implicits._
    val docs = Seq(
      (1L, "data quality gate in the data quality gate of things", "en", "s0"),
      (2L, "other words and data quality gate to follow", "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-rake").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextAnalysis.textRake(spark, tmp).collect()
    val top1 = out.filter(r => r.getLong(1) == 1L)
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(top1(1L) == "data quality gate" && top1(2L) == "data quality gate",
      s"RAKE must surface the repeated long collocation: $top1")
  }

  // ─── graph_walk ───

  test("graph_walk: full visit budget on a sink-free graph, closed node set") {
    val rows = Graph.graphWalk(spark, dir).collect()
    val types = Tables(spark, dir).events
      .select(col("event_type")).distinct().collect()
      .map(_.getString(0)).toSet
    rows.foreach { r =>
      assert(types(r.getString(0)) && types(r.getString(1)),
        "walks stay on graph nodes")
      assert(r.getLong(2) >= 1)
    }
    // the sf transition graph is strongly connected (graph_scc test),
    // so no walk ever stops early: every start spends W*L = 32 visits
    rows.groupBy(_.getString(0)).foreach { case (start, vs) =>
      assert(vs.map(_.getLong(2)).sum == 8L * 4L,
        s"$start: walks must spend the full visit budget")
    }
  }

  test("graph_walk: weighted choice respects the interval partition") {
    // Crafted sink-free triangle with asymmetric weights: a emits 1x
    // to b and 3x to c; every step lands on a real out-neighbor and
    // budgets stay exact.
    import spark.implicits._
    val now = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(s: Int) = new java.sql.Timestamp(now.getTime + s * 1000L)
    // one user: a->b->a->c->a->c->a->c (edges a->b x1, a->c x3,
    // b->a x1, c->a x3)
    val walk = Seq("a", "b", "a", "c", "a", "c", "a", "c")
    val ev = walk.zipWithIndex.map { case (t, i) =>
      (i.toLong, at(i), 1L, t, 0.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = java.nio.file.Files.createTempDirectory("graft-walk").toString
    ev.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val rows = Graph.graphWalk(spark, tmp).collect()
    val visited = rows.map(r => (r.getString(0), r.getString(1))).toSet
    assert(visited.forall { case (s, n) =>
      Set("a", "b", "c")(s) && Set("a", "b", "c")(n) })
    rows.groupBy(_.getString(0)).foreach { case (start, vs) =>
      assert(vs.map(_.getLong(2)).sum == 8L * 4L,
        s"$start: sink-free graph spends the full budget")
    }
    // b and c only lead to a: from start b, half of all visits are a
    val fromB = rows.filter(r => r.getString(0) == "b")
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(fromB("a") == 16L, "alternating walk from b hits a every 2nd step")
  }

  // ─── ev_stickiness ───

  test("ev_stickiness: DAU bounded by MAU, ties to ev_wau's window family") {
    val rows = Events.evStickiness(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 1 && r.getLong(1) <= r.getLong(2),
        "DAU is a subset of the trailing-28d actives")
      assert(r.getLong(3) >= 1 && r.getLong(3) <= 10000)
      assert(r.getLong(3) == r.getLong(1) * 10000 / r.getLong(2))
    }
    // the 28-day window dominates the 7-day one wherever both exist
    val wau = Events.evWau(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      wau.get(r.getLong(0)).foreach(w =>
        assert(r.getLong(2) >= w, s"day ${r.getLong(0)}: MAU below WAU"))
    }
  }

  // ─── ts_sax ───

  test("ts_sax: valid alphabet, both sides of the mean represented") {
    val rows = Events.tsSax(spark, dir).collect()
    assert(rows.nonEmpty)
    val alphabet = Set("a", "b", "c", "d")
    rows.foreach(r => assert(alphabet(r.getString(4))))
    rows.groupBy(_.getString(0)).foreach { case (tpe, segs) =>
      assert(segs.map(_.getLong(1)).distinct.length == segs.length,
        s"$tpe: one symbol per segment")
      // any non-constant series has mass below AND above its mean
      if (segs.map(_.getLong(2)).distinct.length > 1) {
        val syms = segs.map(_.getString(4)).toSet
        assert(syms.exists(Set("a", "b")) && syms.exists(Set("c", "d")),
          s"$tpe: z-normalization must straddle the mean, got $syms")
      }
    }
  }

  // ─── mix_ess ───

  test("mix_ess: recomputes from mix_reweight, bounded by n") {
    val r = Pipeline.mixEss(spark, dir).collect().head
    val rw = Pipeline.mixReweight(spark, dir).collect()
    val n = rw.map(_.getLong(1)).sum
    val sw = rw.map(x => x.getLong(1) * x.getLong(4)).sum
    val sw2 = rw.map(x => x.getLong(1) * x.getLong(4) * x.getLong(4)).sum
    assert(r.getLong(0) == n)
    assert(r.getLong(1) == sw * sw * 100 / sw2,
      "ESS recomputes from the reweight frame")
    assert(r.getLong(1) <= n * 100, "ESS cannot exceed the doc count")
    assert(r.getLong(2) >= 1 && r.getLong(2) <= 10000,
      "efficiency is a proper fraction of n")
  }

  // ─── profile_corr ───

  test("profile_corr: full pair grid off one aggregate pass") {
    val rows = ScaleOps.profileCorr(spark, dir).collect()
    assert(rows.length == 6, "C(4,2) measure pairs")
    val n = rows.head.getLong(2)
    val names = Seq("quantity", "price", "discount", "tax")
    val expectPairs = (for {
      (a, i) <- names.zipWithIndex; (b, j) <- names.zipWithIndex if i < j
    } yield (a, b)).toSet
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSet == expectPairs)
    rows.foreach { r =>
      assert(r.getLong(2) == n, "every pair reads the same single pass")
      assert(math.abs(r.getLong(3)) <= 10000, "correlation within [-1, 1]")
    }
    // one corpus scan: exactly one scan node over lineitem in the plan
    val p = plan(ScaleOps.profileCorr(spark, dir))
    assert("lineitem".r.findAllIn(p).length <= 2,
      "the moment matrix must not re-scan lineitem per pair")
  }

  // ─── sample_priority ───

  test("sample_priority: DLT invariants — priorities, tau, estimator") {
    val rows = Pipeline.samplePriority(spark, dir).orderBy(col("rank")).collect()
    assert(rows.length == 64, "exactly k sampled docs")
    assert(rows.map(_.getLong(0)).toSeq == (1L to 64L).toSeq)
    val pris = rows.map(_.getLong(3))
    assert(pris.zip(pris.tail).forall { case (a, b) => a >= b },
      "priorities non-increasing in rank")
    val tau = rows.head.getLong(4)
    rows.foreach { r =>
      assert(r.getLong(3) >= r.getLong(2), "priority = w/u >= w for u <= 1")
      assert(r.getLong(3) >= tau, "every sampled priority clears tau")
    }
    // estimator identity: est = sum(max(w, tau)) over the sample
    val est = rows.map(r => math.max(r.getLong(2), tau)).sum
    assert(est == rows.head.getLong(5), "estimator recomputes from the rows")
    val exact = Tables(spark, dir).documents
      .agg(sum(col("n_chars"))).collect().head.getLong(0)
    assert(rows.head.getLong(6) == exact)
    // k=64 of 500 docs: the subset-sum estimate lands within ~30%
    assert(rows.head.getLong(7) <= 3000,
      s"estimator error ${rows.head.getLong(7)}bp implausibly large")
  }

  // ─── ev_power ───

  test("ev_power: consistent with ev_ab_test, sane sample-size math") {
    val r = Events.evPower(spark, dir).collect().head
    val ab = Events.evAbTest(spark, dir).collect().head
    assert(r.getLong(0) == ab.getLong(0) && r.getLong(1) == ab.getLong(1) &&
      r.getLong(2) == ab.getLong(2) && r.getLong(3) == ab.getLong(3),
      "same arms and conversions as ev_ab_test")
    val (deltaBp, nReq, powered) = (r.getLong(4), r.getLong(5), r.getLong(6))
    if (deltaBp != 0) {
      assert(nReq > 0, "nonzero observed effect needs a finite sample size")
      val expected = if (r.getLong(0) >= nReq && r.getLong(2) >= nReq) 1L else 0L
      assert(powered == expected, "powered flag recomputes from the row")
    } else assert(nReq == 0 && powered == 0)
  }

  // ─── graph_condense ───

  test("graph_condense: exact levels of a crafted three-SCC chain") {
    // Reuse graph_scc's fixture: {a,b} -> {c,d} -> e condenses to a
    // 3-node path with levels 0, 1, 2.
    import spark.implicits._
    val now = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(s: Int) = new java.sql.Timestamp(now.getTime + s * 1000L)
    val walk = Seq("a", "b", "a", "c", "d", "c", "e")
    val ev = walk.zipWithIndex.map { case (t, i) =>
      (i.toLong, at(i), 1L, t, 0.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = java.nio.file.Files.createTempDirectory("graft-cond").toString
    ev.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = Graph.graphCondense(spark, tmp).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out == Map(
      "a" -> ((0L, 2L, 1L)),   // source SCC {a,b}: level 0, 1 out-edge
      "c" -> ((1L, 2L, 1L)),   // middle SCC {c,d}
      "e" -> ((2L, 1L, 0L))),  // sink singleton
      s"condensation mismatch: $out")
  }

  test("graph_condense: sf transition graph condenses to one level-0 node") {
    val rows = Graph.graphCondense(spark, dir).collect()
    assert(rows.length == 1 && rows.head.getLong(1) == 0L &&
      rows.head.getLong(3) == 0L,
      "a single SCC has no quotient edges and sits at level 0")
  }

  // ─── text_winnowing ───

  test("text_winnowing: density bounds hold per doc") {
    val rows = TextAnalysis.textWinnowing(spark, dir).collect()
    assert(rows.nonEmpty)
    val w = 4
    rows.foreach { r =>
      val (nSpans, nFp, density, shared) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nFp >= 1 && nFp <= nSpans, "fingerprints bounded by spans")
      assert(shared >= 0 && shared <= nFp)
      assert(density == nFp * 10000 / nSpans)
      // winnowing guarantee: every w-window contains a selected
      // fingerprint, so gaps <= w and nFp >= ceil(nWindows / w)
      if (nSpans >= w) {
        val nWindows = nSpans - w + 1
        assert(nFp >= (nWindows + w - 1) / w,
          s"selection too sparse: $nFp of $nSpans spans")
      }
    }
  }

  test("text_winnowing: shared passage >= w+k-1 tokens guarantees a shared fingerprint") {
    // The paper's detection guarantee, on the dedup_substring fixture:
    // w=4 windows of k=5-token spans detect any shared run of
    // >= w+k-1 = 8 tokens. Docs 3/4 share exactly an 8-token passage.
    import spark.implicits._
    val pad = (i: Int) => (1 to 10).map(j => s"u${i}w$j").mkString(" ")
    val passage = "the shared passage tokens run exactly nine long"
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "en", "s0"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta", "en", "s0"),
      (3L, s"${pad(3)} $passage ${pad(33)}", "en", "s1"),
      (4L, s"${pad(4)} $passage ${pad(44)}", "en", "s1"),
      (5L, pad(5), "en", "s2"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-win").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextAnalysis.textWinnowing(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(4))).toMap
    // identical docs share every fingerprint
    assert(out(1L)._1 == out(1L)._2 && out(2L)._1 == out(2L)._2,
      "exact copies share all fingerprints")
    // the embedded 8-token passage must surface in both carriers
    assert(out(3L)._2 >= 1 && out(4L)._2 >= 1,
      "shared passage must yield a shared fingerprint")
    assert(out(5L)._2 == 0, "unique doc shares nothing")
  }

  // ─── layout_compact ───

  test("layout_compact: bins are contiguous, conservative, near-capacity") {
    val rows = ScaleOps.layoutCompact(spark, dir).collect()
    val total = rows.map(_.getLong(2)).sum
    val bins = rows.map(r => r.getLong(4) -> r.getLong(5)).distinct
    assert(bins.map(_._1).sorted.toSeq ==
      (0L until bins.length).toSeq, "bin ids are contiguous from 0")
    assert(bins.map(_._2).sum == total,
      "bin masses partition the total char mass")
    rows.foreach { r =>
      // a straddling file can push a bin past cap, but never past 2x
      assert(r.getLong(6) <= 20000,
        s"bin ${r.getLong(4)} fill ${r.getLong(6)}bp exceeds the FFD bound")
    }
    // the plan actually compacts: fewer bins than files
    assert(bins.length < rows.length,
      "compaction must merge small files into fewer bins")
  }

  // ─── ann_filtered ───

  test("ann_filtered: every hit satisfies the predicate, ranks contiguous") {
    val rows = Similarity.annFiltered(spark, dir).collect()
    assert(rows.nonEmpty)
    val lab = Tables(spark, dir).embeddings.collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("label")).toMap
    rows.groupBy(_.getLong(0)).foreach { case (qid, hits) =>
      assert(hits.map(_.getLong(1)).sorted.toSeq == (1L to hits.length).toSeq,
        s"query $qid: ranks are 1..k")
      hits.foreach { h =>
        assert(h.getInt(3) == lab(qid),
          s"query $qid: neighbor ${h.getLong(2)} violates the label filter")
        assert(h.getLong(2) != qid, "self excluded")
      }
    }
  }

  test("ann_filtered: predicate evaluated in-cell, no cartesian, bounded broadcasts") {
    // The only nested-loop joins allowed are the bounded centroid
    // broadcasts inside nearestCells (the annIvf shape); the
    // probe-to-inverted-file join itself must be a cell-keyed hash join.
    val p = plan(Similarity.annFiltered(spark, dir))
    assert(!p.contains("CartesianProduct"), "no cartesian product")
    // Catalyst folds the label predicate INTO the join keys — the
    // probe-to-file join must key on cell (with or without the label)
    assert("""(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[[^\]]*cell#"""
      .r.findFirstIn(p).isDefined,
      "probes meet the inverted file on the cell key")
  }

  // ─── ev_did ───

  test("ev_did: interaction consistent with its cells, groups match ev_cuped") {
    val r = Events.evDid(spark, dir).collect().head
    val (nA, nB) = (r.getLong(0), r.getLong(1))
    val users = Tables(spark, dir).events
      .select(col("user_id")).distinct().count()
    assert(nA + nB == users, "parity groups partition the users")
    val cuped = Events.evCuped(spark, dir).collect().head
    assert(nA == cuped.getLong(0) && nB == cuped.getLong(1),
      "same md5-parity assignment as ev_cuped")
    // the double-precision interaction must agree with the integer
    // cell means up to their four floor-roundings
    val cellDid = (r.getLong(3) - r.getLong(2)) - (r.getLong(5) - r.getLong(4))
    assert(math.abs(r.getLong(6) - cellDid) <= 4,
      s"did ${r.getLong(6)} vs cell-mean read $cellDid")
  }

  test("graph_scc: sf transition graph is one strongly connected block") {
    // Generated user behavior cycles through all event types, so the
    // type graph is strongly connected — and the derivation shuffles
    // on user_id, not a cross product
    val df = Graph.graphScc(spark, dir)
    val rows = df.collect()
    val nTypes = Tables(spark, dir).events
      .select(col("event_type")).distinct().count()
    assert(rows.length.toLong == nTypes, "one row per node")
    assert(rows.map(_.getString(1)).distinct.length == 1,
      "dense transition graph collapses to a single SCC")
    assert(rows.forall(_.getLong(2) == nTypes))
  }

  // ─── ev_activity_gini ───

  test("ev_activity_gini: Lorenz curve and Gini match a direct computation") {
    val rows = Events.evActivityGini(spark, dir)
      .collect().sortBy(_.getLong(0))
    // Direct recomputation from the per-user counts (sf0.001 is small).
    val counts = Tables(spark, dir).events
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (u, c) => (c, u) }
    val n = counts.length.toLong
    val sX = counts.map(_._2).sum
    val sRx = counts.zipWithIndex
      .map { case ((_, c), i) => BigInt(c) * (i + 1) }.sum
    val expGini = ((2 * sRx - BigInt(n + 1) * sX) * 10000 /
      (BigInt(n) * sX)).toLong
    assert(rows.length == 10, "ten decile rows")
    assert(rows.map(_.getLong(0)).toSeq == (1L to 10L), "deciles 1..10")
    assert(rows.map(_.getLong(1)).sum == n, "decile user counts partition users")
    assert(rows.map(_.getLong(2)).sum == sX, "decile event sums partition events")
    val cum = rows.map(_.getLong(3))
    assert(cum.zip(cum.tail).forall { case (a, b) => a <= b },
      "Lorenz curve monotone")
    assert(cum.last == 10000L, "curve ends at full share")
    assert(rows.forall(_.getLong(4) == expGini),
      s"gini_bp ${rows.head.getLong(4)} != direct $expGini")
    assert(expGini >= 0 && expGini < 10000)
  }

  // ─── ev_lift ───

  test("ev_lift: identity vs recomputed marginals, pairs canonical") {
    val rows = Events.evLift(spark, dir).collect()
    assert(rows.nonEmpty)
    val baskets = Tables(spark, dir).events
      .select(col("user_id"),
        floor(unix_timestamp(date_trunc("day", col("ts"))) / 86400L).as("day"),
        col("event_type"))
      .distinct().collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getString(2)))
    val nB = baskets.map(_._1).distinct.length.toLong
    val marg = baskets.groupBy(_._2).map { case (t, xs) => t -> xs.length.toLong }
    rows.foreach { r =>
      val (a, b, nAb, lift) =
        (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))
      assert(a < b, "pair keys canonical")
      assert(nAb <= math.min(marg(a), marg(b)), "pair count bounded by marginals")
      assert(lift == nAb * nB * 10000L / (marg(a) * marg(b)),
        s"lift identity broken for ($a,$b)")
    }
  }

  // ─── graph_reciprocity ───

  test("graph_reciprocity: exact on a crafted one-way/two-way graph") {
    // Walk a,b,a,c gives edges a->b, b->a, a->c: a has 2 out-edges of
    // which 1 reciprocated; b has 1/1; c has no out-edges (no row).
    import spark.implicits._
    val now = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(s: Int) = new java.sql.Timestamp(now.getTime + s * 1000L)
    val ev = Seq("a", "b", "a", "c").zipWithIndex.map { case (t, i) =>
      (i.toLong, at(i), 1L, t, 0.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = java.nio.file.Files.createTempDirectory("graft-recip").toString
    ev.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = Graph.graphReciprocity(spark, tmp).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out == Map(
      "*ALL*" -> ((3L, 2L, 6666L)),
      "a" -> ((2L, 1L, 5000L)),
      "b" -> ((1L, 1L, 10000L))), s"reciprocity mismatch: $out")
  }

  test("graph_reciprocity: global row consistent with per-node rows") {
    val rows = Graph.graphReciprocity(spark, dir).collect()
    val (all, nodes) = rows.partition(_.getString(0) == "*ALL*")
    assert(all.length == 1)
    assert(all.head.getLong(1) == nodes.map(_.getLong(1)).sum,
      "global out-degree = sum of per-node")
    assert(all.head.getLong(2) == nodes.map(_.getLong(2)).sum,
      "global reciprocal count = sum of per-node")
    assert(all.head.getLong(2) % 2 == 0,
      "reciprocal edges come in pairs")
    assert(rows.forall(r => r.getLong(3) <= 10000L && r.getLong(3) >= 0L))
  }

  // ─── ts_bollinger ───

  test("ts_bollinger: constant series never flags, a spike flags exactly once") {
    import spark.implicits._
    val now = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(h: Int) = new java.sql.Timestamp(now.getTime + h * 3600000L)
    // 30 constant hours, then one 100x spike hour.
    val ev = (0 until 31).map { h =>
      (h.toLong, at(h), 1L, "load", if (h == 30) 100.0 else 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = java.nio.file.Files.createTempDirectory("graft-boll").toString
    ev.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val rows = Events.tsBollinger(spark, tmp).collect()
    assert(rows.length == 31, "one row per observed hour")
    val outliers = rows.filter(_.getBoolean(4))
    assert(outliers.length == 1 && outliers.head.getLong(2) == 10000L,
      "only the spike hour flags")
    // Constant-band mean is exact: 100 cents * 100 = 10000.
    assert(rows.filter(!_.getBoolean(4)).forall(_.getLong(3) == 10000L))
  }

  test("ts_bollinger: one row per (type, hour), outliers need a warm band") {
    val rows = Events.tsBollinger(spark, dir).collect()
    val nHourly = Tables(spark, dir).events
      .groupBy(col("event_type"),
        floor(unix_timestamp(col("ts")) / 3600L).as("h"))
      .count().count()
    assert(rows.length.toLong == nHourly)
    // Warm-up discipline: the first 7 rows of each type never flag.
    rows.groupBy(_.getString(1)).foreach { case (_, rs) =>
      rs.sortBy(_.getLong(0)).take(7).foreach(r => assert(!r.getBoolean(4)))
    }
  }

  // ─── profile_freq ───

  test("profile_freq: ranks contiguous, shares exact, domains fully covered") {
    val rows = ScaleOps.profileFreq(spark, dir).collect()
    val li = Tables(spark, dir).lineitem.count()
    val ord = Tables(spark, dir).orders.count()
    val byCol = rows.groupBy(r => (r.getString(0), r.getString(1)))
    assert(byCol.keySet == Set(
      ("orders", "o_orderstatus"), ("orders", "o_orderpriority"),
      ("lineitem", "l_returnflag"), ("lineitem", "l_linestatus")))
    byCol.foreach { case ((table, _), rs) =>
      val sorted = rs.sortBy(_.getLong(3))
      assert(sorted.map(_.getLong(3)).toSeq == (1L to rs.length))
      val cnts = sorted.map(_.getLong(4))
      assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b },
        "counts non-increasing down the ranks")
      val n = if (table == "orders") ord else li
      // All four profiled domains have <= 5 values, so the top-5
      // rows partition the table exactly.
      assert(cnts.sum == n, "top-5 covers the whole domain here")
      sorted.foreach(r => assert(r.getLong(5) == r.getLong(4) * 10000L / n))
    }
  }

  // ─── cdc_delete_vector ───

  test("cdc_delete_vector: files partition the table, actions match thresholds") {
    val rows = Cdc.cdcDeleteVector(spark, dir).collect()
    val li = Tables(spark, dir).lineitem.count()
    assert(rows.map(_.getLong(1)).sum == li, "files partition the rows")
    rows.foreach { r =>
      val (nRows, nDel, liveBp, action) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
      assert(nDel <= nRows)
      assert(liveBp == (nRows - nDel) * 10000L / nRows)
      val expected =
        if (nDel * 10 > nRows * 3) "rewrite"
        else if (nDel > 0) "keep-dv" else "none"
      assert(action == expected)
    }
    assert(rows.exists(_.getString(4) == "rewrite") ||
      rows.exists(_.getString(4) == "keep-dv"),
      "returned lines exist at every SF, so deletes must appear")
  }

  // ─── mm_tile_plan ───

  test("mm_tile_plan: tiles exactly partition every image's pixel grid") {
    val rows = Multimodal.mmTilePlan(spark, dir).collect()
    val byDoc = rows.groupBy(_.getLong(0))
    val nDocs = Tables(spark, dir).documents.count()
    assert(byDoc.size.toLong == nDocs, "every image gets a plan")
    byDoc.foreach { case (_, ts) =>
      val (w, h, n) = (ts.head.getLong(1), ts.head.getLong(2), ts.head.getLong(3))
      assert(ts.length.toLong == n, "n_tiles rows per image")
      val area = ts.map(r => (r.getLong(8) - r.getLong(6)) *
        (r.getLong(9) - r.getLong(7))).sum
      assert(area == w * h, "tile areas sum to the image area")
      ts.foreach { r =>
        assert(r.getLong(6) >= 0 && r.getLong(6) < r.getLong(8) &&
          r.getLong(8) <= w, "x bounds ordered and clipped")
        assert(r.getLong(7) >= 0 && r.getLong(7) < r.getLong(9) &&
          r.getLong(9) <= h, "y bounds ordered and clipped")
      }
      // Tile ids are dense over the grid.
      assert(ts.map(r => (r.getLong(5), r.getLong(4))).toSet.size == ts.length)
    }
  }

  // ─── split_leakage / ev_week_over_week ───

  test("split_leakage: cells partition the dup pairs, leakage flags exact") {
    val rows = Pipeline.splitLeakage(spark, dir).collect()
    val assign = Pipeline.splitHash(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val pairs = Dedup.dedupMinhashLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.map(_.getLong(2)).sum == pairs.length.toLong)
    val expect = pairs.groupBy { case (a, b) =>
      val (sa, sb) = (assign(a), assign(b))
      (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
    }.map { case (k, xs) => k -> xs.length.toLong }
    rows.foreach { r =>
      val k = (r.getString(0), r.getString(1))
      assert(expect(k) == r.getLong(2), s"cell $k")
      assert(r.getBoolean(4) == (k._1 != k._2))
    }
  }

  test("ev_week_over_week: growth identity, first weeks null") {
    val rows = Events.evWeekOverWeek(spark, dir).collect()
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.head.isNullAt(3) && sorted.head.isNullAt(4),
        "first week has no denominator")
      sorted.zip(sorted.tail).foreach { case (prev, cur) =>
        assert(cur.getLong(3) == prev.getLong(2), "prev_n chains")
        assert(cur.getLong(4) ==
          (cur.getLong(2) - cur.getLong(3)) * 10000L / cur.getLong(3))
      }
    }
  }

  // ─── q42_string_agg / ann_dim_stats ───

  test("q42_string_agg: sorted roster equals a direct recomputation") {
    val rows = RelationalExt.q42StringAgg(spark, dir).collect()
    val sup = Tables(spark, dir).supplier
      .join(Tables(spark, dir).nation,
        col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("s_name")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val expect = sup.groupBy(_._1).map { case (n, xs) =>
      n -> ((xs.length.toLong, xs.map(_._2).sorted.mkString(",")))
    }
    assert(rows.length == expect.size)
    rows.foreach { r =>
      val (n, roster) = expect(r.getString(0))
      assert(r.getLong(1) == n && r.getString(2) == roster, r.getString(0))
    }
  }

  test("ann_dim_stats: exact quantized moments per dimension") {
    val rows = Similarity.annDimStats(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(rows.keySet == (0L until 64L).toSet)
    val embs = Tables(spark, dir).embeddings
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    (0 until 64).foreach { d =>
      val qs = embs.map(e => math.floor(e(d).toDouble * 1000000.0).toLong)
      val n = qs.length.toLong
      val s1 = qs.sum
      val s2 = qs.map(q => BigInt(q) * q).sum
      val (gn, mean, varU) = rows(d.toLong)
      assert(gn == n)
      assert(mean == s1 / n, s"dim $d mean")
      assert(BigInt(varU) == (BigInt(n) * s2 - BigInt(s1) * s1) / (BigInt(n) * n),
        s"dim $d variance")
    }
  }

  // ─── mix_unique_tokens ───

  test("mix_unique_tokens: ties to dedup_cluster's canonicals exactly") {
    val rows = Pipeline.mixUniqueTokens(spark, dir).collect()
    val dropped = Dedup.dedupCluster(spark, dir).collect()
      .filter(!_.getBoolean(2)).map(_.getLong(0)).toSet
    val docs = Tables(spark, dir).documents
      .select(col("doc_id"), col("source"),
        size(filter(split(col("text"), " "), w => w =!= "")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val bySource = docs.groupBy(_._2)
    assert(rows.map(_.getString(0)).toSet == bySource.keySet)
    val rawTotal = docs.map(_._3).sum
    val uniqTotal = docs.filter(d => !dropped(d._1)).map(_._3).sum
    rows.foreach { r =>
      val xs = bySource(r.getString(0))
      val raw = xs.map(_._3).sum
      val uniq = xs.filter(d => !dropped(d._1)).map(_._3).sum
      assert(r.getLong(1) == raw && r.getLong(2) == uniq)
      assert(r.getLong(3) == (raw - uniq) * 10000L / raw)
      assert(r.getLong(4) ==
        raw * 10000L / rawTotal - uniq * 10000L / uniqTotal)
    }
    assert(rows.exists(_.getLong(3) > 0L),
      "the sf corpus has near-dups, so some source must lose tokens")
  }

  // ─── ev_audience_overlap ───

  test("ev_audience_overlap: identities vs recomputed audiences") {
    val rows = Events.evAudienceOverlap(spark, dir).collect()
    val tu = Tables(spark, dir).events
      .select(col("event_type"), col("user_id")).distinct().collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val aud = tu.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toSet }
    val types = aud.keys.toSeq.sorted
    assert(rows.length == types.combinations(2).length,
      "one row per unordered type pair")
    rows.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      assert(a < b)
      val (sa, sb) = (aud(a), aud(b))
      val both = (sa & sb).size.toLong
      assert(r.getLong(2) == sa.size.toLong && r.getLong(3) == sb.size.toLong)
      assert(r.getLong(4) == both)
      assert(r.getLong(5) == both * 10000L / (sa.size + sb.size - both))
      assert(r.getLong(6) == both * 10000L / sa.size)
      assert(r.getLong(7) == both * 10000L / sb.size)
    }
  }

  // ─── text_source_quality / ev_lateness_hist ───

  test("text_source_quality: per-source means equal text_quality's rollup") {
    val bySource = Tables(spark, dir).documents
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val perDoc = TextAnalysis.textQuality(spark, dir).collect()
      .map(r => (bySource(r.getLong(0)), r.getLong(1), r.getLong(3),
        r.getLong(4), r.getLong(6)))
    val rows = TextAnalysis.textSourceQuality(spark, dir).collect()
    rows.foreach { r =>
      val xs = perDoc.filter(_._1 == r.getString(0))
      val n = xs.length.toLong
      assert(r.getLong(1) == n)
      assert(r.getLong(2) == xs.map(_._2).sum * 100 / n, "mean chars")
      assert(r.getLong(4) == xs.map(_._3).sum / n, "mean distinct_bp")
      assert(r.getLong(5) == xs.map(_._4).sum / n, "mean stop_bp")
      assert(r.getLong(6) == xs.map(_._5).sum / n, "mean quality_bp")
    }
    val qs = rows.map(_.getLong(6))
    assert(qs.zip(qs.tail).forall { case (a, b) => a <= b }, "worst-first order")
  }

  test("ev_lateness_hist: bins partition events, coverage curve telescopes") {
    val rows = Events.evLatenessHist(spark, dir).collect()
      .sortBy(_.getLong(0))
    assert(rows.map(_.getLong(1)).sum == Tables(spark, dir).events.count())
    val cum = rows.map(_.getLong(4))
    assert(cum.last == 10000L && cum.zip(cum.tail).forall(p => p._1 <= p._2))
    rows.foreach { r =>
      val (bin, maxLate) = (r.getLong(0), r.getLong(2))
      if (bin == -1L) assert(maxLate == 0L, "in-order bin has zero lateness")
      else {
        assert(maxLate >= (1L << bin.toInt) && maxLate < (1L << (bin.toInt + 1)),
          s"bin $bin bounds its lateness range")
      }
    }
    assert(rows.nonEmpty)
  }

  test("ev_lateness_hist: crafted late arrivals land in the right bins") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def at(s: Long) = new java.sql.Timestamp(base + s * 1000L)
    // Arrival order (event_id): t=0, t=100, then a 70s-late event
    // (t=30: late by 70 -> bin 6), then t=200, then a 5s-late event
    // (t=195: bin 2), then an in-order t=300.
    val ev = Seq(
      (0L, at(0), 1L, "a", 0.0, "{}"),
      (1L, at(100), 1L, "a", 0.0, "{}"),
      (2L, at(30), 1L, "a", 0.0, "{}"),
      (3L, at(200), 1L, "a", 0.0, "{}"),
      (4L, at(195), 1L, "a", 0.0, "{}"),
      (5L, at(300), 1L, "a", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = java.nio.file.Files.createTempDirectory("graft-late").toString
    ev.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = Events.evLatenessHist(spark, tmp).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map(
      -1L -> ((4L, 0L)),  // four in-order arrivals
      2L -> ((1L, 5L)),   // 5s late: floor(log2 5) = 2
      6L -> ((1L, 70L))), // 70s late: floor(log2 70) = 6
      s"lateness bins: $out")
  }

  // ─── q41_paginate / ts_theil_sen ───

  test("q41_paginate: exactly page 2 of each group's stable ranking") {
    val rows = RelationalExt.q41Paginate(spark, dir).collect()
    val data = Tables(spark, dir).lineitem
      .select(col("l_returnflag"), col("l_orderkey"),
        col("l_linenumber").cast("long"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    data.groupBy(_._1).foreach { case (f, xs) =>
      val page = xs.sortBy(x => (-x._4, x._2, x._3)).slice(5, 10)
      val got = rows.filter(_.getString(0) == f).sortBy(_.getLong(1))
      assert(got.length == page.length)
      got.zip(page).zipWithIndex.foreach { case ((g, e), i) =>
        assert(g.getLong(1) == i + 6L, "ranks 6..10")
        assert((g.getLong(2), g.getInt(3).toLong, g.getLong(4)) ==
          ((e._2, e._3, e._4)), s"flag $f rank ${i + 6}")
        assert(g.getLong(5) == xs.length.toLong, "total carried for page count")
      }
    }
  }

  test("ts_theil_sen: median pair slope equals a direct recomputation") {
    val rows = Events.tsTheilSen(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val hourly = Tables(spark, dir).events
      .groupBy(col("event_type"),
        floor(unix_timestamp(col("ts")) / 3600L).as("h"))
      .agg(floor(sum(col("value")) * 100 + 0.5).cast("long").as("hc"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    hourly.groupBy(_._1).foreach { case (t, hs) =>
      val pts = hs.map(x => (x._2, x._3)).sortBy(_._1)
      val slopes = (for {
        i <- pts.indices; j <- (i + 1) until pts.length
      } yield {
        val num = (pts(j)._2 - pts(i)._2) * 10000L
        num / (pts(j)._1 - pts(i)._1) // both engines truncate toward 0
      }).sorted
      val (nPairs, med) = rows(t)
      assert(nPairs == slopes.length.toLong)
      assert(med == slopes((slopes.length + 1) / 2 - 1),
        s"type $t lower median")
    }
  }

  // ─── profile_drift / ev_incidents ───

  test("profile_drift: identities hold, parity split drifts little") {
    val rows = ScaleOps.profileDrift(spark, dir).collect()
    assert(rows.map(_.getString(0)).toSet ==
      Set("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    rows.foreach { r =>
      val (ma, mb, drift) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(drift == math.abs(ma - mb) * 10000L / ma, "drift identity")
      assert(drift < 500L,
        s"${r.getString(0)}: a random parity split must not drift >5%")
      assert(r.getLong(4) > 0 && r.getLong(5) > 0)
    }
  }

  test("ev_incidents: maximal runs of ev_burn_rate's ticket hours") {
    val tickets = Events.evBurnRate(spark, dir).collect()
      .filter(_.getBoolean(6))
      .map(r => (r.getLong(0), r.getLong(4))).sortBy(_._1)
    val incidents = Events.evIncidents(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(incidents.map(_._4).sum == tickets.length.toLong,
      "incident hours partition the ticket hours")
    // Re-derive the runs directly.
    val runs = tickets.foldLeft(List.empty[List[(Long, Long)]]) {
      case (acc, t) => acc match {
        case cur :: rest if t._1 - cur.head._1 <= 1 => (t :: cur) :: rest
        case _ => List(t) :: acc
      }
    }.reverse.map(_.reverse)
    assert(incidents.length == runs.length, "one incident per maximal run")
    incidents.zip(runs).foreach { case ((_, s, e, n, peak), run) =>
      assert(s == run.head._1 && e == run.last._1 && n == run.length.toLong)
      assert(peak == run.map(_._2).max)
    }
    incidents.zip(incidents.tail).foreach { case ((_, _, e1, _, _), (_, s2, _, _, _)) =>
      assert(s2 - e1 > 1, "adjacent incidents separated by a quiet hour")
    }
  }

  // ─── mm_shot_plan / ann_shard_fanout / text_length_hist ───

  test("mm_shot_plan: shot counts bounded by frames, frame grid matches") {
    val rows = Multimodal.mmShotPlan(spark, dir).collect()
    val frames = Multimodal.mmFrameSample(spark, dir).collect()
      .groupBy(_.getLong(0)).map { case (d, fs) => d -> fs.length.toLong }
    assert(rows.map(_.getLong(0)).toSet == frames.keySet)
    rows.foreach { r =>
      val (d, nF, nS, avg) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nF == frames(d), "rides mm_frame_sample's exact grid")
      assert(nS >= 1 && nS <= nF, "between one shot and all-cuts")
      assert(avg == nF * 100 / nS)
    }
  }

  test("ann_shard_fanout: distribution over queries, fanout bounded by nprobe") {
    val rows = Similarity.annShardFanout(spark, dir).collect()
    assert(rows.map(_.getLong(1)).sum == 20L, "every query accounted for")
    rows.foreach { r =>
      assert(r.getLong(0) >= 1L && r.getLong(0) <= 2L,
        "nprobe=2 probes touch at most 2 shards")
      assert(r.getLong(2) == r.getLong(1) * 10000L / 20L)
    }
  }

  test("text_length_hist: bins partition the corpus, coverage telescopes") {
    val out = TextAnalysis.textLengthHist(spark, dir).collect()
    val docs = Tables(spark, dir).documents
      .select(greatest(size(filter(split(col("text"), " "),
        w => w =!= "")).cast("long"), lit(1L)).as("n")).collect()
      .map(_.getLong(0))
    assert(out.map(_.getLong(1)).sum == docs.length.toLong)
    assert(out.map(_.getLong(2)).sum == docs.sum)
    val expBins = docs.groupBy(n => 63 - java.lang.Long.numberOfLeadingZeros(n))
      .map { case (b, xs) => b.toLong -> xs.length.toLong }
    assert(out.map(r => r.getLong(0) -> r.getLong(1)).toMap == expBins)
    assert(out.maxBy(_.getLong(0)).getLong(5) == 10000L,
      "cumulative coverage ends at 100%")
  }

  // ─── ts_drawdown / cdc_merge_stats ───

  test("ts_drawdown: equals a direct peak-trough recomputation") {
    val rows = Events.tsDrawdown(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    val hourly = Tables(spark, dir).events
      .groupBy(col("event_type"),
        floor(unix_timestamp(col("ts")) / 3600L).as("h"))
      .agg(floor(sum(col("value")) * 100 + 0.5).cast("long").as("hc"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    hourly.groupBy(_._1).foreach { case (t, hs) =>
      val sorted = hs.sortBy(_._2)
      var cum = 0L; var peak = Long.MinValue
      var trough = 0L; var bestDd = -1L
      // argmin(struct(-dd, hour)): largest dd wins, earliest hour on
      // ties — ascending hour order makes first-max the winner.
      sorted.foreach { case (_, h, hc) =>
        cum += hc; peak = math.max(peak, cum)
        val dd = peak - cum
        if (dd > bestDd) { bestDd = dd; trough = h }
      }
      val (peakC, maxDraw, troughHour, finalC) = rows(t)
      assert(peakC == peak && maxDraw == bestDd && finalC == cum, s"type $t")
      assert(troughHour == trough, s"type $t trough argmin")
    }
  }

  test("cdc_merge_stats: all four categories exact on a crafted changelog") {
    import spark.implicits._
    def at(s: String) = java.sql.Timestamp.valueOf(s)
    // cutoff is 2024-01-15: user 1 base-only, 2 delta-only (insert),
    // 3 updated (payload changes), 4 identical (same type+value again).
    val ev = Seq(
      (1L, at("2024-01-10 00:00:00"), 1L, "view", 1.0, "{}"),
      (2L, at("2024-01-20 00:00:00"), 2L, "click", 2.0, "{}"),
      (3L, at("2024-01-10 00:00:00"), 3L, "view", 3.0, "{}"),
      (4L, at("2024-01-20 00:00:00"), 3L, "purchase", 9.0, "{}"),
      (5L, at("2024-01-10 00:00:00"), 4L, "view", 4.0, "{}"),
      (6L, at("2024-01-20 00:00:00"), 4L, "view", 4.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = java.nio.file.Files.createTempDirectory("graft-ms").toString
    ev.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = Cdc.cdcMergeStats(spark, tmp).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("untouched" -> 1L, "inserted" -> 1L,
      "updated" -> 1L, "identical" -> 1L), s"categories: $out")
  }

  test("cdc_merge_stats: categories partition keys, tie to cdc_merge") {
    val rows = Cdc.cdcMergeStats(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val users = Tables(spark, dir).events
      .select(col("user_id")).distinct().count()
    assert(rows.values.sum == users, "categories partition the key space")
    val mergeSrc = Cdc.cdcMerge(spark, dir).collect()
      .groupBy(_.getString(4)).map { case (s, rs) => s -> rs.length.toLong }
    assert(rows.getOrElse("inserted", 0L) + rows.getOrElse("updated", 0L) +
      rows.getOrElse("identical", 0L) == mergeSrc.getOrElse("delta", 0L),
      "delta-side categories sum to cdc_merge's delta rows")
    assert(rows.getOrElse("untouched", 0L) == mergeSrc.getOrElse("base", 0L))
  }

  // ─── ev_mttr / text_vocab_growth ───

  test("ev_mttr: identities hold, incident counts tie to ev_outage") {
    val rows = Events.evMttr(spark, dir).collect()
    val outages = Events.evOutage(spark, dir).collect()
      .groupBy(_.getString(0)).map { case (t, rs) => t -> rs.length.toLong }
    rows.foreach { r =>
      val (t, span, n, down, mttr, mtbf, avail) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6))
      assert(down <= span, "downtime bounded by observation span")
      assert(n == outages.getOrElse(t, 0L), s"$t: incident count vs ev_outage")
      if (n > 0) {
        assert(mttr == down / n && mtbf == (span - down) / n)
      } else assert(mttr == 0L && mtbf == span && down == 0L)
      assert(avail == (span - down) * 10000L / span)
    }
  }

  test("text_vocab_growth: telescoping totals, monotone curves") {
    val out = TextAnalysis.textVocabGrowth(spark, dir).collect()
      .sortBy(_.getLong(0))
    val docsDf = Tables(spark, dir).documents
      .select(explode(filter(split(col("text"), " "), w => w =!= "")).as("t"))
    val totTokens = docsDf.count()
    val totVocab = docsDf.distinct().count()
    assert(out.last.getLong(2) == totTokens, "cumulative tokens telescope")
    assert(out.last.getLong(4) == totVocab, "final vocab = corpus distinct terms")
    assert(out.map(_.getLong(3)).sum == totVocab, "every term counted once")
    val cums = out.map(r => (r.getLong(2), r.getLong(4)))
    cums.zip(cums.tail).foreach { case ((t1, v1), (t2, v2)) =>
      assert(t1 < t2 && v1 <= v2, "both curves monotone")
    }
  }

  // ─── ann_nprobe_curve / ev_velocity_flags ───

  test("ann_nprobe_curve: monotone tradeoff, nprobe=2 ties to ann_ivf") {
    val rows = Similarity.annNprobeCurve(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(rows.keySet == Set(1L, 2L, 3L, 4L))
    (1L to 3L).foreach { p =>
      assert(rows(p)._2 <= rows(p + 1)._2, "recall never drops with wider probes")
      assert(rows(p)._4 <= rows(p + 1)._4, "scanned candidates grow with probes")
    }
    rows.values.foreach { case (nTrue, nHit, bp, _) =>
      assert(nTrue == 60L && nHit <= nTrue && bp == nHit * 10000L / nTrue)
    }
    // ann_ivf ships nprobe=2: its hits against brute force must equal
    // the curve's nprobe=2 point.
    val bf = Similarity.annBruteforce(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivfHits = Similarity.annIvf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).count(bf.contains)
    assert(rows(2L)._2 == ivfHits.toLong, "curve point 2 == shipped index recall")
  }

  test("ev_velocity_flags: equals a direct trailing-window recomputation") {
    val rows = Events.evVelocityFlags(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val ev = Tables(spark, dir).events
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("e"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expect = ev.groupBy(_._2).toSeq.flatMap { case (_, es) =>
      es.toSeq.map { case (id, _, e) =>
        id -> es.count(x => x._3 > e - 86400L && x._3 <= e).toLong
      }
    }.filter(_._2 >= 8L).toMap
    assert(rows == expect, s"${rows.size} flagged vs ${expect.size} expected")
  }

  // ─── ann_centroid_stats / ev_heatmap ───

  test("ann_centroid_stats: occupancy partitions the corpus, load identity") {
    val rows = Similarity.annCentroidStats(spark, dir).collect()
    val nVecs = Tables(spark, dir).embeddings.count()
    val total = rows.map(_.getLong(1)).sum
    assert(total == nVecs, "every vector lands in exactly one cell")
    val k = rows.length.toLong
    rows.foreach { r =>
      assert(r.getLong(2) == r.getLong(1) * 10000L / total)
      assert(r.getLong(3) == r.getLong(1) * k * 100L / total)
    }
    // A perfectly balanced index would read 100 everywhere; assert the
    // average load is 100 by construction (k cells, fair share n/k).
    assert(rows.map(_.getLong(3)).sum / k >= 50L,
      "load normalization is per fair share")
  }

  test("ev_heatmap: grid partitions the stream, dow anchored to Monday") {
    import spark.implicits._
    // 2024-01-01 00:30 UTC was a Monday -> dow 0, hod 0.
    val ev = Seq((1L, java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-01T00:30:00Z")),
      1L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = java.nio.file.Files.createTempDirectory("graft-heat").toString
    ev.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val one = Events.evHeatmap(spark, tmp).collect()
    assert(one.length == 1 && one.head.getLong(0) == 0L &&
      one.head.getLong(1) == 0L, "epoch-arithmetic dow anchors to Monday")
    val rows = Events.evHeatmap(spark, dir).collect()
    assert(rows.map(_.getLong(2)).sum == Tables(spark, dir).events.count())
    rows.foreach { r =>
      assert(r.getLong(0) >= 0 && r.getLong(0) <= 6)
      assert(r.getLong(1) >= 0 && r.getLong(1) <= 23)
    }
    assert(rows.length <= 168)
  }

  // ─── cdc_snapshot_chunks ───

  test("cdc_snapshot_chunks: chunks bracket the key space exactly") {
    val rows = Cdc.cdcSnapshotChunks(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val nKeys = Tables(spark, dir).events
      .select(col("user_id")).distinct().count()
    assert(rows.map(_._4).sum == nKeys, "chunks partition the key set")
    assert(rows.map(_._1).toSeq == rows.indices.map(_.toLong), "dense chunk ids")
    rows.init.foreach { case (_, _, _, n) => assert(n == 10L) }
    assert(rows.last._4 <= 10L)
    rows.foreach { case (_, lo, hi, _) => assert(lo <= hi) }
    rows.zip(rows.tail).foreach { case ((_, _, hi1, _), (_, lo2, _, _)) =>
      assert(hi1 < lo2, "brackets are disjoint and ordered")
    }
  }

  // ─── q40_percentile_cont ───

  test("q40_percentile_cont: equals direct interpolation on sorted cents") {
    val rows = RelationalExt.q40PercentileCont(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    val data = Tables(spark, dir).lineitem
      .select(col("l_returnflag"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (f, xs) => f -> xs.map(_._2).sorted }
    data.foreach { case (f, xs) =>
      val n = xs.length.toLong
      for ((num, den, pct) <- Seq((1L, 2L, 50L), (9L, 10L, 90L))) {
        val k = num * (n - 1) / den
        val rem = num * (n - 1) % den
        val lo = xs(k.toInt)
        val hi = if (rem > 0) xs(k.toInt + 1) else lo
        val expect = lo * 100 + (hi - lo) * 100 * rem / den
        assert(rows((f, pct)) == expect, s"flag $f p$pct")
      }
    }
  }

  // ─── sample_class_weights ───

  test("sample_class_weights: balanced identities, rare classes up-weight") {
    val rows = Pipeline.sampleClassWeights(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val total = rows.map(_._2).sum
    val k = rows.length.toLong
    rows.foreach { case (_, n, share, w, wEff) =>
      assert(share == n * 10000L / total)
      assert(w == total * 10000L / (k * n))
      assert(wEff == total * 10000L / (k * math.min(n, 1000L)))
      assert(wEff >= w, "capping the count never down-weights")
    }
    // Inverse-frequency: ordering of weights is the reverse of counts.
    val sorted = rows.sortBy(_._2)
    sorted.zip(sorted.tail).foreach { case ((_, n1, _, w1, _), (_, n2, _, w2, _)) =>
      if (n1 < n2) assert(w1 >= w2)
    }
  }

  // ─── ts_seasonal_strength ───

  test("ts_seasonal_strength: pure diurnal signal scores ~1, flat signal 0") {
    import spark.implicits._
    val now = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // 10 days hourly: 'diurnal' has value = f(hour-of-day) only;
    // 'flat' is constant.
    val ev = (0 until 240).flatMap { h =>
      Seq((h.toLong * 2, new java.sql.Timestamp(now.getTime + h * 3600000L),
          1L, "diurnal", 1.0 + (h % 24), "{}"),
        (h.toLong * 2 + 1, new java.sql.Timestamp(now.getTime + h * 3600000L),
          1L, "flat", 5.0, "{}"))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = java.nio.file.Files.createTempDirectory("graft-seas").toString
    ev.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = Events.tsSeasonalStrength(spark, tmp).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out("diurnal") >= 9990L,
      s"pure hod signal must explain ~all variance: ${out("diurnal")}")
    assert(out("flat") == 0L, "zero-variance series scores 0 by the guard")
  }

  test("ts_seasonal_strength: bounded on the sf stream") {
    Events.tsSeasonalStrength(spark, dir).collect().foreach { r =>
      assert(r.getLong(2) >= 0L && r.getLong(2) <= 10000L)
      assert(r.getLong(1) > 0L)
    }
  }

  // ─── ev_cohort_ltv ───

  test("ev_cohort_ltv: fixed denominator, running curve is monotone") {
    val rows = Events.evCohortLtv(spark, dir).collect()
    assert(rows.nonEmpty)
    val sizes = Tables(spark, dir).events
      .filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(min(floor(unix_timestamp(col("ts")) / 604800L)).as("w"))
      .groupBy(col("w")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.groupBy(_.getLong(0)).foreach { case (cw, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      sorted.foreach { r =>
        assert(r.getLong(1) >= 0L, "age starts at the cohort week")
        assert(r.getLong(2) == sizes(cw), "head-count is the signup cohort size")
      }
      var cum = 0L
      sorted.foreach { r =>
        cum += r.getLong(3)
        assert(r.getLong(4) == cum / r.getLong(2), "ltv identity")
      }
      val ltvs = sorted.map(_.getLong(4))
      assert(ltvs.zip(ltvs.tail).forall { case (a, b) => a <= b },
        "nonnegative spend makes the curve monotone")
    }
  }

  // ─── mm_audio_frames ───

  test("mm_audio_frames: snip-edges frame arithmetic per payload") {
    val rows = Multimodal.mmAudioFrames(spark, dir).collect()
    val lens = Tables(spark, dir).documents
      .select(col("doc_id"), length(col("text")).cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc.keySet == lens.filter(_._2 >= 400).keys.toSet,
      "exactly the payloads long enough for one full frame")
    byDoc.foreach { case (id, fs) =>
      val len = lens(id)
      assert(fs.length.toLong == (len - 400) / 160 + 1, s"doc $id frame count")
      val sorted = fs.sortBy(_.getLong(1))
      sorted.zipWithIndex.foreach { case (r, i) =>
        assert(r.getLong(1) == i && r.getLong(2) == i * 160L)
        assert(r.getString(3).length == 32)
      }
      assert(sorted.last.getLong(2) + 400 <= len, "last frame stays in bounds")
    }
  }

  // ─── shard_rebalance ───

  test("shard_rebalance: moves level every shard to its Hamilton target") {
    val moves = ScaleOps.shardRebalance(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val counts = ScaleOps.shardSkew(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    val n = counts.size.toLong
    val target = counts.keys.map { s =>
      s -> (total / n + (if (s < total % n) 1L else 0L))
    }.toMap
    moves.foreach { case (f, t, m) => assert(f != t && m > 0) }
    counts.keys.foreach { s =>
      val out = moves.filter(_._1 == s).map(_._3).sum
      val in = moves.filter(_._2 == s).map(_._3).sum
      assert(counts(s) - out + in == target(s),
        s"shard $s not leveled: ${counts(s)} -$out +$in != ${target(s)}")
    }
    val surplus = counts.map { case (s, c) => math.max(0L, c - target(s)) }.sum
    assert(moves.map(_._3).sum == surplus,
      "total movement equals total surplus (minimal plan)")
  }

  // ─── ev_burn_rate ───

  test("ev_burn_rate: multiwindow debounce on a crafted outage") {
    import spark.implicits._
    val now = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // 12 quiet hours (1 error in 10), then a 6-hour full outage.
    val rows = (0 until 18).flatMap { h =>
      (0 until 10).map { i =>
        val t = if (h >= 12 || i == 0) "error" else "view"
        ((h * 10 + i).toLong,
          new java.sql.Timestamp(now.getTime + (h * 3600L + i) * 1000L),
          1L, t, 0.0, "{}")
      }
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = java.nio.file.Files.createTempDirectory("graft-burn").toString
    rows.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = Events.evBurnRate(spark, tmp).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4),
        r.getBoolean(5), r.getBoolean(6))))
    val byHour = out.toMap
    val h0 = out.map(_._1).min
    // Quiet hours: burn_1h = 1000*100/500 = 200, never page/ticket
    // until outage errors enter the 6h window.
    (0 until 11).foreach { h =>
      val (b1, _, page, _) = byHour(h0 + h)
      assert(b1 == 200L && !page)
    }
    // Outage hour 12: short window hot (2000) but the long window
    // still dilutes - multiwindow debounce holds the page.
    assert(byHour(h0 + 12)._1 == 2000L && !byHour(h0 + 12)._3,
      "single hot hour must not page")
    // By hour 17 the 6h window is pure outage: both hot, page fires.
    assert(byHour(h0 + 17)._1 == 2000L && byHour(h0 + 17)._2 == 2000L &&
      byHour(h0 + 17)._3, "sustained outage must page")
    // Ticket (6h burn >= 6x) precedes the page.
    assert(out.filter(_._2._4).map(_._1).min < h0 + 17)
  }

  test("ev_burn_rate: identities hold on the sf stream, no page at baseline") {
    val rows = Events.evBurnRate(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "errors bounded by total")
      assert(r.getBoolean(5) ==
        (r.getLong(3) >= 1440L && r.getLong(4) >= 1440L))
      assert(r.getBoolean(6) == (r.getLong(4) >= 600L))
    }
    assert(!rows.exists(_.getBoolean(5)),
      "the ~20% synthetic baseline never reaches a 72% double-window burn")
  }

  // ─── ann_recall_curve / dedup_threshold_sweep ───

  test("ann_recall_curve: pooled truth counts, k=3 row matches ann_recall") {
    val rows = Similarity.annRecallCurve(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(rows.keySet == Set(1L, 2L, 3L))
    rows.foreach { case (k, (nTrue, nHit, bp)) =>
      assert(nTrue == 20L * k, "every query contributes k truth rows")
      assert(nHit <= nTrue)
      assert(bp == nHit * 10000L / nTrue)
    }
    val aggRecall = Similarity.annRecall(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(rows(3L)._1 == aggRecall.map(_._1).sum,
      "k=3 truth pool equals ann_recall's")
    assert(rows(3L)._2 == aggRecall.map(_._2).sum,
      "k=3 hits equal ann_recall's")
  }

  test("dedup_threshold_sweep: monotone curve, consistent with dedup_embedding") {
    val rows = Dedup.dedupThresholdSweep(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq ==
      Seq(2000L, 3000L, 4000L, 5000L, 6000L, 7000L, 8000L, 9000L))
    rows.zip(rows.tail).foreach { case ((_, p1, d1), (_, p2, d2)) =>
      assert(p1 >= p2 && d1 >= d2, "tightening the cutoff never adds pairs")
    }
    rows.foreach { case (_, p, d) =>
      assert(d <= 2 * p, "implicated docs bounded by pair endpoints")
      assert(p == 0L || d >= 2L, "any pair implicates two docs")
    }
    // dedup_embedding ships cutoff 0.4; its pair count can differ from
    // the bp-rounded sweep only on cos values straddling the rounding
    // boundary, so the sweep@4000 row must dominate it.
    val shipped = Dedup.dedupEmbedding(spark, dir).count()
    assert(rows.find(_._1 == 4000L).get._2 >= shipped)
  }

  // ─── mix_anneal ───

  test("mix_anneal: natural->uniform interpolation, each phase exhausts its slice") {
    val rows = Pipeline.mixAnneal(spark, dir).collect()
    val byPhase = rows.groupBy(_.getLong(0))
    assert(byPhase.keySet == (0L to 4L).toSet)
    byPhase.foreach { case (_, rs) =>
      assert(rs.map(_.getLong(3)).sum == 200000L,
        "phase allocation exhausts the 200k slice exactly")
    }
    // Phase 4 is the uniform mix; phase 0 is the natural (token-share) mix.
    val k = byPhase(0L).length
    byPhase(4L).foreach { r =>
      assert(r.getLong(2) == 10000L / k, "final phase is the uniform mix")
    }
    val toks = Tables(spark, dir).documents
      .select(col("source"), size(filter(split(col("text"), " "),
        w => w =!= "")).cast("long").as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("tokens"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = toks.values.sum
    byPhase(0L).foreach { r =>
      assert(r.getLong(2) == toks(r.getString(1)) * 10000L / total,
        "first phase is the natural mix")
    }
    // Interpolation is monotone per source between its endpoints.
    rows.groupBy(_.getString(1)).foreach { case (_, rs) =>
      val ws = rs.sortBy(_.getLong(0)).map(_.getLong(2))
      val dir0 = (ws.last - ws.head).sign
      ws.zip(ws.tail).foreach { case (a, b) =>
        assert((b - a).sign == dir0 || b == a, "weights drift monotonically")
      }
    }
  }

  // ─── ev_conversion_window ───

  test("ev_conversion_window: agrees with a direct recomputation") {
    val rows = Events.evConversionWindow(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val ev = Tables(spark, dir).events
      .filter(col("event_type").isin("signup", "purchase"))
      .select(col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("e"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val perUser = ev.groupBy(_._1).flatMap { case (_, es) =>
      val signup = es.filter(_._2 == "signup").map(_._3).minOption
      signup.map { s =>
        (s, es.filter(x => x._2 == "purchase" && x._3 > s).map(_._3).minOption)
      }
    }.toSeq
    assert(rows.keySet == Set(3600L, 86400L, 604800L))
    rows.foreach { case (w, (nS, nC, bp)) =>
      assert(nS == perUser.length.toLong)
      val expC = perUser.count { case (s, fp) => fp.exists(_ - s <= w) }.toLong
      assert(nC == expC, s"window $w: $nC vs $expC")
      assert(bp == nC * 10000L / nS)
    }
    // Monotone in the window width.
    assert(rows(3600L)._2 <= rows(86400L)._2 &&
      rows(86400L)._2 <= rows(604800L)._2)
  }

  // ─── graph_eccentricity ───

  test("graph_eccentricity: exact on a crafted path graph") {
    import spark.implicits._
    val now = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(s: Int) = new java.sql.Timestamp(now.getTime + s * 1000L)
    val ev = Seq("a", "b", "c").zipWithIndex.map { case (t, i) =>
      (i.toLong, at(i), 1L, t, 0.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = java.nio.file.Files.createTempDirectory("graft-ecc").toString
    ev.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = Graph.graphEccentricity(spark, tmp).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getBoolean(5), r.getBoolean(6)))).toMap
    assert(out == Map(
      "a" -> ((2L, 2L, 1L, 2L, false, true)),  // rim: farthest reach 2
      "b" -> ((1L, 1L, 1L, 2L, true, false)),  // center: radius 1
      "c" -> ((0L, 0L, 1L, 2L, false, false))), // sink: no reach
      s"eccentricity mismatch: $out")
  }

  test("graph_eccentricity: consistent with graph_closeness's frame") {
    val ecc = Graph.graphEccentricity(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val close = Graph.graphCloseness(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(ecc.keySet == close.keySet)
    ecc.foreach { case (v, (e, nR)) =>
      val (nR2, sumD) = close(v)
      assert(nR == nR2, s"$v: reach count differs between the two readouts")
      // max distance bounded by sum and at least the average.
      if (nR > 0) assert(e <= sumD && e * nR >= sumD)
    }
  }

  // ─── graph_closeness ───

  test("graph_closeness: exact on a crafted path graph") {
    import spark.implicits._
    val now = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(s: Int) = new java.sql.Timestamp(now.getTime + s * 1000L)
    val ev = Seq("a", "b", "c").zipWithIndex.map { case (t, i) =>
      (i.toLong, at(i), 1L, t, 0.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = java.nio.file.Files.createTempDirectory("graft-close").toString
    ev.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = Graph.graphCloseness(spark, tmp).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out == Map(
      "a" -> ((2L, 3L, 6666L)),  // d(a,b)=1, d(a,c)=2
      "b" -> ((1L, 1L, 10000L)),
      "c" -> ((0L, 0L, 0L))), s"closeness mismatch: $out")
  }

  test("graph_closeness: the sf transition graph reaches everywhere") {
    val rows = Graph.graphCloseness(spark, dir).collect()
    val n = rows.length.toLong
    // graph_scc proves the sf type graph is one SCC, so every node
    // reaches all n-1 others and sum_d >= n-1.
    rows.foreach { r =>
      assert(r.getLong(1) == n - 1, s"${r.getString(0)}: partial reach")
      assert(r.getLong(2) >= n - 1)
      assert(r.getLong(3) == r.getLong(1) * 10000L / r.getLong(2))
    }
  }

  // ─── q38_asof_nearest ───

  test("q38_asof_nearest: agrees with a direct per-user recomputation") {
    val rows = RelationalExt.q38AsofNearest(spark, dir).collect()
    val ev = Tables(spark, dir).events
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("e"), col("ts"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getTimestamp(4)))
    val byUser = ev.groupBy(_._1)
    val expect = byUser.values.flatMap { es =>
      val sorted = es.sortBy(x => (x._5.getTime, x._2))
      sorted.zipWithIndex.collect { case ((u, id, "purchase", e, _), i) =>
        val back = sorted.take(i).filter(_._3 == "click").map(_._4).lastOption
        val fwd = sorted.drop(i + 1).filter(_._3 == "click").map(_._4).headOption
        val (near, gap, dirn) = (back, fwd) match {
          case (None, None) => (null, null, "none")
          case (Some(b), None) => (b: Any, (e - b): Any, "backward")
          case (None, Some(f)) => (f: Any, (f - e): Any, "forward")
          case (Some(b), Some(f)) =>
            if (e - b <= f - e) (b: Any, (e - b): Any, "backward")
            else (f: Any, (f - e): Any, "forward")
        }
        id -> ((near, gap, dirn))
      }
    }.toMap
    assert(rows.length == expect.size)
    rows.foreach { r =>
      val id = r.getLong(0)
      val got = (if (r.isNullAt(3)) null else r.getLong(3),
        if (r.isNullAt(4)) null else r.getLong(4), r.getString(5))
      assert(got == expect(id), s"purchase $id: $got vs ${expect(id)}")
    }
  }

  // ─── ev_srm / ev_session_hist / sample_bootstrap ───

  test("ev_srm: chi-square identity over the exact unit split") {
    val r = Events.evSrm(spark, dir).collect()
    assert(r.length == 1)
    val (nA, nB, chi2, srm) =
      (r.head.getLong(0), r.head.getLong(1), r.head.getLong(2), r.head.getBoolean(3))
    val users = Tables(spark, dir).events
      .select(col("user_id")).distinct().count()
    assert(nA + nB == users, "split partitions the units")
    assert(chi2 == (nA - nB) * (nA - nB) * 100 / (nA + nB))
    assert(srm == (chi2 > 384L))
    assert(!srm, "a healthy md5 hash split must not trip the guardrail")
  }

  test("ev_session_hist: exactly the histogram of ev_sessionize's lengths") {
    val hist = Events.evSessionHist(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val lens = Events.evSessionize(spark, dir).collect().map(_.getLong(4))
    val expect = lens.groupBy(n => 63 - java.lang.Long.numberOfLeadingZeros(n))
      .map { case (b, xs) => b.toLong -> ((xs.length.toLong, xs.sum)) }
    assert(hist.keySet == expect.keySet)
    expect.foreach { case (b, (n, s)) =>
      assert(hist(b)._1 == n && hist(b)._2 == s, s"bin $b mismatch")
      assert(hist(b)._3 == n * 10000L / lens.length)
    }
  }

  test("sample_bootstrap: 32 replicates, draws near n, means bounded") {
    val rows = Pipeline.sampleBootstrap(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSeq.sorted == (0L until 32L))
    val purch = Tables(spark, dir).events
      .filter(col("event_type") === "purchase")
      .select(floor(col("value") * 100 + 0.5).cast("long")).collect()
      .map(_.getLong(0))
    val n = purch.length.toLong
    rows.foreach { r =>
      // Poisson(1) resample size concentrates at n (sd = sqrt(n)).
      assert(math.abs(r.getLong(1) - n) < 6 * math.sqrt(n.toDouble) + 10,
        s"replicate ${r.getLong(0)}: n_draws ${r.getLong(1)} vs $n")
      assert(r.getLong(2) >= purch.min * 100 && r.getLong(2) <= purch.max * 100,
        "replicate mean inside the support")
    }
    // The replicate spread is the SE of the mean — it must be small
    // relative to the mean itself on thousands of draws.
    val means = rows.map(_.getLong(2))
    assert((means.max - means.min).toDouble / means.max < 0.2)
  }

  // ─── mix_token_budget ───

  test("mix_token_budget: equal Hamilton split, exact epoch accounting") {
    val rows = Pipeline.mixTokenBudget(spark, dir).collect()
    assert(rows.nonEmpty)
    val allocs = rows.map(_.getLong(2))
    assert(allocs.sum == 1000000L, "allocation exhausts the budget exactly")
    assert(allocs.max - allocs.min <= 1L, "equal split up to Hamilton remainder")
    rows.foreach { r =>
      val (tokens, alloc, epochs, over) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))
      assert(tokens > 0)
      assert(epochs == alloc * 10000L / tokens, "epoch identity")
      assert(over == (epochs > 40000L), "over_repeat flags >4 epochs")
    }
  }

  // ─── q39_qualify ───

  test("q39_qualify: keeps exactly each customer's latest-year orders") {
    val rows = RelationalExt.q39Qualify(spark, dir).collect()
    val orders = Tables(spark, dir).orders
      .select(col("o_custkey"), year(col("o_orderdate")).cast("long").as("yr"),
        col("o_orderkey"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val latest = orders.groupBy(_._1).map { case (c, os) => c -> os.map(_._2).max }
    rows.foreach { r =>
      assert(r.getLong(1) == latest(r.getLong(0)),
        s"customer ${r.getLong(0)}: row year is the latest year")
    }
    val expected = orders.filter { case (c, y, _) => y == latest(c) }
      .map(o => (o._1, o._3)).toSet
    assert(rows.map(r => (r.getLong(0), r.getLong(2))).toSet == expected,
      "ALL latest-year orders survive (dense_rank ties), nothing else")
  }

  // ─── graph_hits ───

  test("graph_hits: mutual reinforcement on a crafted bipartite graph") {
    import spark.implicits._
    val now = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(s: Int) = new java.sql.Timestamp(now.getTime + s * 1000L)
    // user 1 is the heavy hub (6×x, 2×y); x is the consensus authority.
    val evs = (Seq.fill(6)((1L, "x")) ++ Seq.fill(2)((1L, "y")) ++
      Seq((2L, "x"), (3L, "y"))).zipWithIndex.map { case ((u, t), i) =>
      (i.toLong, at(i), u, t, 0.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = java.nio.file.Files.createTempDirectory("graft-hits").toString
    evs.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val rows = Graph.graphHits(spark, tmp).collect()
    val hubs = rows.filter(_.getString(0) == "hub")
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    val auths = rows.filter(_.getString(0) == "auth")
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(auths.keySet == Set("x", "y") && hubs.keySet == Set("1", "2", "3"))
    assert(auths("x") > auths("y"), "consensus behavior out-ranks the minor one")
    assert(hubs("1") > hubs("2") && hubs("1") > hubs("3"),
      "the heavy user is the top hub")
    assert(rows.forall(_.getLong(2) >= 0), "scores are non-negative")
  }

  test("graph_hits: sf output is bounded and normalized") {
    val rows = Graph.graphHits(spark, dir).collect()
    val hubs = rows.filter(_.getString(0) == "hub")
    val auths = rows.filter(_.getString(0) == "auth")
    assert(hubs.length <= 20, "hub side is the top-20 cut")
    assert(auths.nonEmpty)
    // Division-first renormalization keeps each half-round's total in
    // the [S/2, 2S] band (d floors at most halve, never double).
    val authSum = auths.map(_.getLong(2)).sum
    assert(authSum >= 50000000L && authSum <= 200000000L,
      s"authority mass near the 1e8 scale, got $authSum")
  }

  // ─── ann_range_search ───

  test("ann_range_search: threshold semantics and hit accounting") {
    val rows = Similarity.annRangeSearch(spark, dir).collect()
    assert(rows.nonEmpty, "τ=0.3 fires on the synthetic embeddings")
    rows.foreach { r =>
      assert(r.getLong(2) >= 3000L - 1, s"cos_bp ${r.getLong(2)} above τ")
    }
    val byQuery = rows.groupBy(_.getLong(0))
    byQuery.foreach { case (q, rs) =>
      assert(rs.forall(_.getLong(3) == rs.length),
        s"query $q: n_hits equals the group's row count")
    }
    // Same blocking index as ann_lsh: every top-k hit above τ must
    // also be a range hit (range search is the un-truncated read).
    val rangePairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    Similarity.annLsh(spark, dir).collect()
      .filter(_.getLong(3) >= 3000L)
      .foreach { r =>
        assert(rangePairs.contains((r.getLong(0), r.getLong(2))),
          s"lsh hit (${r.getLong(0)}, ${r.getLong(2)}) missing from range")
      }
  }

  // ─── pack_efficiency ───

  test("pack_efficiency: identities across the context sweep") {
    val rows = Pipeline.packEfficiency(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(512L, 1024L, 2048L, 4096L))
    val totals = rows.map(_.getLong(1)).distinct
    assert(totals.length == 1, "total_tokens is context-independent")
    rows.foreach { r =>
      val (ctx, total, pad, packed) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(pad >= packed, "packing never needs more sequences")
      assert(r.getLong(4) == pad * ctx - total, "pad_tokens identity")
      assert(r.getLong(4) >= 0L)
      assert(r.getLong(5) == total * 10000 / (pad * ctx), "util_pad identity")
      assert(r.getLong(6) >= r.getLong(5), "packing utilizes at least as well")
      assert(r.getLong(7) == (pad - packed) * 10000 / pad, "savings identity")
    }
    // More padding waste at longer contexts for the pad-to-ctx scheme.
    val padTok = rows.map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(padTok(4096L) >= padTok(512L), "longer contexts pad more")
  }

  // ─── graph_coreness ───

  test("graph_coreness: triangle+pendant is core-exact; h-index converged") {
    import spark.implicits._
    // triangle {1,2,3} (coreness 2) with pendant 4 on node 1 (coreness 1)
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val out = Graph.coreness(edges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == ((2L, 3L)) && out(2L) == ((2L, 2L)) &&
      out(3L) == ((2L, 2L)), "triangle nodes sit in the 2-core")
    assert(out(4L) == ((1L, 1L)), "pendant has coreness 1")
    // Fixpoint on the real pair graph: one more h-index round is a no-op.
    val real = Dedup.pairEdges(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val c = Graph.coreness(real).select(col("node"),
        col("coreness").as("c"))
      val again = Graph.hIndexRound(real, c)
        .select(col("node"), col("c").as("c2"))
      assert(c.join(again, Seq("node"))
        .filter(col("c") =!= col("c2")).count() == 0,
        "corenessRounds reaches the h-index fixpoint at this SF")
      // coreness never exceeds degree
      Graph.coreness(real).collect().foreach { r =>
        assert(r.getLong(1) <= r.getLong(2), "coreness ≤ degree")
      }
    } finally real.unpersist(blocking = false)
  }

  // ─── graph_rich_club ───

  test("graph_rich_club: density identities and monotone club size") {
    val rows = Graph.graphRichClub(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    val nks = rows.map(_.getLong(1))
    assert(nks.zip(nks.drop(1)).forall { case (a, b) => b <= a },
      "raising the degree bar never grows the club")
    rows.foreach { r =>
      val (nk, ek) = (r.getLong(1), r.getLong(2))
      if (nk >= 2) {
        assert(ek <= nk * (nk - 1) / 2, "edges bounded by the complete club")
        assert(r.getLong(3) == 2 * ek * 10000 / (nk * (nk - 1)),
          "phi identity")
        assert(r.getLong(3) <= 10000L)
      } else assert(r.isNullAt(3), "phi undefined below two members")
    }
  }

  // ─── cdc_offset_gaps ───

  test("cdc_offset_gaps: gap accounting matches the loss filter exactly") {
    val rows = Cdc.cdcOffsetGaps(spark, dir).collect()
    assert(rows.nonEmpty)
    var totSeen = 0L; var totMissing = 0L
    rows.foreach { r =>
      val (n, lo, hi, miss) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(lo <= hi && n >= 1)
      assert(miss == hi - lo + 1 - n, "inner-gap identity")
      assert(miss >= 0)
      assert(r.getLong(5) == miss * 10000 / (hi - lo + 1))
      totSeen += n; totMissing += miss
    }
    val total = Tables(spark, dir).events.count()
    assert(totSeen < total, "the lossy stream dropped something")
    // inner gaps can't exceed everything dropped (range-edge drops
    // fall outside any observed span)
    assert(totMissing <= total - totSeen)
    assert(totMissing > 0, "a 2% loss leaves visible inner gaps")
  }

  // ─── ts_winsorize ───

  test("ts_winsorize: clip accounting and tail-robustness identities") {
    val rows = Events.tsWinsorize(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, lo, hi) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val (mean, wmean) = (r.getLong(4), r.getLong(5))
      val (clo, chi) = (r.getLong(6), r.getLong(7))
      assert(lo <= hi, "p05 <= p95")
      assert(wmean >= lo && wmean <= hi, "winsorized mean inside the cuts")
      assert(clo <= n / 20 && chi <= n - (n * 19 + 19) / 20 + n / 20 + 1,
        "clip counts near the 5% tails")
      assert(clo + chi < n, "never clips everything")
      // right-skewed positive values: winsorizing pulls the mean down
      // or holds it (clipping a lower tail of bounded mass can't push
      // it above the raw mean by more than it pulls the upper tail)
      assert(mean >= 0 && wmean >= 0)
    }
  }

  // ─── cdc_reconcile ───

  test("cdc_reconcile: lossy replica diverges, checksum finds the buckets") {
    val rows = Cdc.cdcReconcile(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 64)
    val bad = rows.filter(!_.getBoolean(5))
    assert(bad.nonEmpty, "a 2% delivery loss must corrupt some bucket")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1),
        "the lossy side never has MORE keys")
      assert(r.getBoolean(5) == (r.getLong(1) == r.getLong(2)
        && r.getLong(3) == r.getLong(4)), "consistent flag identity")
    }
    // every count-divergent bucket is flagged; content-only divergence
    // (same count, different final version) is also caught
    bad.foreach { r =>
      assert(r.getLong(1) != r.getLong(2) || r.getLong(3) != r.getLong(4))
    }
  }

  // ─── dedup_lsh_tuning ───

  test("dedup_lsh_tuning: candidate sets nest, precision/recall trade monotone") {
    val rows = Dedup.dedupLshTuning(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("b32r2", "b16r4", "b8r8"))
    // a 2r-row band match implies both r-row halves match → nesting
    assert(rows("b8r8").getLong(1) <= rows("b16r4").getLong(1) &&
      rows("b16r4").getLong(1) <= rows("b32r2").getLong(1),
      "candidate volume grows as bands get shorter")
    assert(rows("b8r8").getLong(2) <= rows("b16r4").getLong(2) &&
      rows("b16r4").getLong(2) <= rows("b32r2").getLong(2),
      "true-pair yield nests the same way")
    rows.values.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "true pairs bounded by candidates")
      assert(r.getLong(2) <= r.getLong(3), "yield bounded by union truth")
      assert(r.getLong(4) == r.getLong(2) * 10000
        / math.max(1L, r.getLong(1)), "precision identity")
      assert(r.getLong(5) == r.getLong(2) * 10000
        / math.max(1L, r.getLong(3)), "recall identity")
    }
    // the widest config sees every true pair in the union by nesting
    assert(rows("b32r2").getLong(5) == 10000L ||
      rows("b32r2").getLong(3) == 0L,
      "b32r2 recall is 100% of the union truth (it contains the union)")
  }

  // ─── ev_bot_score ───

  test("ev_bot_score: metronome flags, bursty human does not") {
    import spark.implicits._
    val now = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(s: Int) = new java.sql.Timestamp(now.getTime + s * 1000L)
    // user 1: a script — exactly every 60 s. user 2: human — bursts
    // with gaps 1,1,1,3600,1,1 (CV >> 1/2). Both have >= 5 gaps.
    val script = (0 until 10).map(i => (i.toLong, at(i * 60), 1L, "click", 0.0, "{}"))
    val humanGaps = Seq(0, 1, 2, 3, 3603, 3604, 3605)
    val human = humanGaps.zipWithIndex.map { case (s, i) =>
      ((100 + i).toLong, at(s), 2L, "click", 0.0, "{}")
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft-bot").toString
    (script ++ human).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val rows = Events.evBotScore(spark, tmp).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getBoolean(5), "the 60s metronome is flagged regular")
    assert(!rows(2L).getBoolean(5), "the bursty human is not")
    assert(rows(1L).getLong(2) == 60L, "mean gap exact")
    assert(rows(1L).getLong(1) == 10L && rows(2L).getLong(1) == 7L)
  }

  // ─── layout_advisor ───

  test("layout_advisor: each linear layout wins its own axis; zorder is balanced") {
    val rows = ScaleOps.layoutAdvisor(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("linear_x", "linear_y", "zorder"))
    rows.values.foreach { r =>
      assert(r.getLong(1) >= 1L && r.getLong(1) <= 64L, "file budget held")
      assert(r.getLong(3) <= r.getLong(6) && r.getLong(5) <= r.getLong(6),
        "scanned rows bounded by total")
      assert(r.getLong(7) == (r.getLong(3) + r.getLong(5)) * 10000
        / (2 * r.getLong(6)), "scan_bp identity")
    }
    // A layout clustered on one axis prunes that axis at least as
    // well as the layout clustered on the other axis.
    assert(rows("linear_x").getLong(3) <= rows("linear_y").getLong(3),
      "x-sorted scans no more rows than y-sorted under the x probe")
    assert(rows("linear_y").getLong(5) <= rows("linear_x").getLong(5),
      "y-sorted scans no more rows than x-sorted under the y probe")
    // z-order is never worse on a probe than the linear layout
    // clustered on the OTHER axis (the whole point of interleaving).
    assert(rows("zorder").getLong(3) <= rows("linear_y").getLong(3))
    assert(rows("zorder").getLong(5) <= rows("linear_x").getLong(5))
  }

  // ─── sample_kcenter ───

  test("sample_kcenter: radius curve is non-increasing and picks are maximal") {
    val rows = Similarity.sampleKcenter(spark, dir).collect()
    assert(rows.length == 8, "k = 8 picks")
    assert(rows.map(_.getLong(0)).toSeq == (0L until 8L), "pick order 0..7")
    val radii = rows.drop(1).map(_.getLong(2))
    assert(radii.zip(radii.drop(1)).forall { case (a, b) => b <= a },
      "covering radius² never grows as centers are added")
    assert(radii.head > 0L, "second pick is strictly away from the seed")
    assert(rows.map(_.getLong(1)).distinct.length == 8,
      "all centers distinct on this corpus")
  }
}

package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Semantic invariants of the round-13 additions — properties the
  * row-hash oracle can't state: AMS estimator error bands, histogram
  * mass conservation, crafted-conflict exactness, the entropy
  * surrogate's exact value at powers of two, the Holt recursion
  * re-derived directly, Lloyd-step SSE descent, KL's zero at identical
  * distributions, and truss exactness on a crafted clique.
  */
class Round13OpsSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.test
  private val dir = "/root/testdata/sf0.001"

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // ─── sketch_ams ───

  test("sketch_ams: exact side matches a direct recompute; estimate in band") {
    val rows = ScaleOps.sketchAms(spark, dir).collect()
    val direct = Tables(spark, dir).events
      .groupBy(col("event_type"), col("user_id")).agg(count(lit(1)).as("c"))
      .groupBy(col("event_type"))
      .agg(sum(col("c") * col("c")).as("f2"), sum(col("c")).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (tpe, n, f2x, f2e, errBp) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(direct(tpe) == ((f2x, n)), s"$tpe: exact F2/n must match recompute")
      assert(f2x >= n, "F2 >= n always (sum of c^2 >= sum of c)")
      assert(f2e > 0, s"$tpe: AMS estimate positive")
      // S=32 counters: std ≈ F2·√(2/32) ≈ 0.25·F2. 8σ band = ±2·F2
      // (±20000 bp) — loose enough to never flake, tight enough to
      // catch a broken sign hash (which reads ~0 or ~n²).
      assert(math.abs(errBp) <= 20000, s"$tpe: |err| ${errBp}bp outside 8σ")
      assert(errBp == (f2e - f2x) * 10000 / f2x, "err_bp accounting")
    }
  }

  // ─── profile_histogram ───

  test("profile_histogram: mass conserved, edges aligned, shares near 10000") {
    val rows = ScaleOps.profileHistogram(spark, dir).collect()
    val nLi = Tables(spark, dir).lineitem.count()
    val byCol = rows.groupBy(_.getString(0))
    assert(byCol.keySet == Set("l_extendedprice", "l_quantity", "l_discount"))
    byCol.foreach { case (cname, rs) =>
      val bins = rs.map(_.getLong(1))
      assert(bins.forall(b => b >= 0 && b <= 15), s"$cname: bin out of range")
      assert(bins.distinct.length == bins.length, s"$cname: duplicate bin")
      assert(rs.map(_.getLong(4)).sum == nLi, s"$cname: histogram loses rows")
      val w = rs.head.getLong(3) - rs.head.getLong(2) + 1
      rs.foreach { r =>
        assert(r.getLong(3) - r.getLong(2) + 1 == w, s"$cname: uneven bin width")
        assert(r.getLong(2) == rs.head.getLong(2) + (r.getLong(1) - rs.head.getLong(1)) * w,
          s"$cname: bin edge misaligned")
        assert(r.getLong(5) >= 0 && r.getLong(5) <= 10000)
      }
      val shareSum = rs.map(_.getLong(5)).sum
      assert(shareSum >= 10000 - 16 && shareSum <= 10000,
        s"$cname: share_bp sums to $shareSum")
    }
  }

  // ─── cdc_conflict ───

  test("cdc_conflict: crafted writer collisions score exactly") {
    import spark.implicits._
    val t0 = 1700000000000L
    val ev = Seq(
      // user 100: writerA then writerB 30s later = 1 conflict; the
      // overwritten value is writerA's 1.50
      (1L, new Timestamp(t0), 100L, "a", 1.50, "{}"),
      (2L, new Timestamp(t0 + 30000), 100L, "b", 2.25, "{}"),
      // user 200: same writer burst — never a conflict
      (3L, new Timestamp(t0), 200L, "a", 1.0, "{}"),
      (4L, new Timestamp(t0 + 10000), 200L, "a", 2.0, "{}"),
      // user 300: different writers but 120s apart — outside window
      (5L, new Timestamp(t0), 300L, "a", 1.0, "{}"),
      (6L, new Timestamp(t0 + 120000), 300L, "b", 2.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = tmpDir("graft-conflict")
    ev.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = Cdc.cdcConflict(spark, tmp).collect()
    assert(out.length == 1, "only user 100 conflicts")
    val r = out.head
    assert(r.getLong(0) == 100L && r.getLong(1) == 2L && r.getLong(2) == 1L
      && r.getLong(3) == 2L && r.getLong(4) == 150L,
      s"unexpected conflict row: $r")
  }

  test("cdc_conflict: flagged rows are internally consistent at SF") {
    val rows = Cdc.cdcConflict(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getLong(2) >= 1, "only conflicted keys surface")
      assert(r.getLong(2) <= r.getLong(1) - 1, "conflicts are adjacent pairs")
      assert(r.getLong(3) >= 2, "a conflict needs two distinct writers")
    }
  }

  // ─── ev_entropy ───

  test("ev_entropy: exact at powers of two on a crafted user set") {
    import spark.implicits._
    val t0 = 1700000000000L
    // user 1: 4 types × 4 events → n=16, c=4: term = 4·(fl2(16)−fl2(4))
    // = 4·2 per type, H = 32·1000/16 = 2000 milli (exactly 2 bits).
    // user 2: single type → 0 milli.
    val rows = (for {
      (tpe, i) <- Seq("a", "b", "c", "d").zipWithIndex
      j <- 0 until 4
    } yield (i * 4L + j + 1, new Timestamp(t0 + i * 1000 + j), 1L, tpe, 1.0, "{}")) ++
      Seq((100L, new Timestamp(t0), 2L, "a", 1.0, "{}"),
        (101L, new Timestamp(t0 + 1), 2L, "a", 1.0, "{}"))
    val tmp = tmpDir("graft-entropy")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = Events.evEntropy(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(4L) == ((1L, 2000L, 2000L)), "uniform-4 user sits at 2000 milli")
    assert(out(0L) == ((1L, 0L, 0L)), "single-type user sits at 0 milli")
  }

  test("ev_entropy: histogram covers every user exactly once at SF") {
    val rows = Events.evEntropy(spark, dir).collect()
    val nUsers = Tables(spark, dir).events.select(col("user_id")).distinct().count()
    assert(rows.map(_.getLong(1)).sum == nUsers, "bucket counts sum to users")
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(0) * 500, "bucket min inside bucket")
      assert(r.getLong(3) < (r.getLong(0) + 1) * 500, "bucket max inside bucket")
    }
  }

  // ─── ev_rolling_uniques ───

  test("ev_rolling_uniques: window dominates daily; spot row re-derived") {
    val rows = Events.evRollingUniques(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) >= r.getLong(2),
        "7-day uniques can never undercut the day's own uniques")
    }
    // Spot-check the densest (type, day) directly.
    val top = rows.maxBy(_.getLong(3))
    val (tpe, day) = (top.getString(0), top.getDate(1))
    val lo = java.sql.Date.valueOf(day.toLocalDate.minusDays(6))
    val direct = Tables(spark, dir).events
      .filter(col("event_type") === tpe &&
        to_date(col("ts")) >= lit(lo) && to_date(col("ts")) <= lit(day))
      .select(col("user_id")).distinct().count()
    assert(direct == top.getLong(3), s"$tpe/$day: recompute ${direct} != ${top.getLong(3)}")
  }

  // ─── ts_holt ───

  test("ts_holt: the integer recursion re-derived directly per type") {
    val daily = Tables(spark, dir).events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(expr(s"${Tables.centsSql("sum(value)")} div count(*)").as("x"))
      .orderBy(col("event_type"), col("day")).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(2)).toSeq).toMap
    val out = Events.tsHolt(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val xs = daily(r.getString(0))
      var l = xs(0); var b = xs(1) - xs(0)
      xs.drop(2).foreach { x =>
        val l1 = (x + 3 * (l + b)) / 4
        b = ((l1 - l) + 3 * b) / 4
        l = l1
      }
      assert(r.getLong(1) == xs.length, "n_days")
      assert(r.getLong(2) == l && r.getLong(3) == b,
        s"${r.getString(0)}: level/trend diverge from the direct fold")
      assert(r.getLong(4) == l + 7 * b, "forecast accounting")
    }
  }

  // ─── ann_kmeans_step ───

  test("ann_kmeans_step: Lloyd M-step never worsens SSE beyond truncation") {
    val rows = Similarity.annKmeansStep(spark, dir).collect()
    val emb = Tables(spark, dir).embeddings
    val n = emb.count()
    val dims = emb.select(size(col("embedding"))).first().getInt(0)
    assert(rows.map(_.getLong(1)).sum == n, "every vector assigned once")
    rows.foreach { r =>
      val (nv, sse0, sse1, shift, imp) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      // floor-mean is within 1 milli/dim of the real mean, so the
      // refined SSE can exceed the optimum by at most n·dims.
      assert(sse1 <= sse0 + nv * dims,
        s"cell ${r.getLong(0)}: M-step worsened SSE past truncation slack")
      assert(shift >= 0)
      assert(imp == (sse0 - sse1) * 10000 / math.max(1, sse0), "improve_bp accounting")
    }
    assert(rows.map(_.getLong(2)).sum > rows.map(_.getLong(3)).sum,
      "one Lloyd round improves total SSE on real data")
  }

  // ─── mix_kl ───

  test("mix_kl: zero divergence when a source matches the corpus mix") {
    import spark.implicits._
    // Two sources with IDENTICAL word multisets: each source's
    // distribution equals the blended corpus distribution, so every
    // fl2 term cancels exactly (c·N = 2c·n_s with N = 2n_s).
    val docs = Seq(
      (1L, "alpha beta beta gamma", "en", "s0"),
      (2L, "alpha beta beta gamma", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val tmp = tmpDir("graft-kl")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Pipeline.mixKl(spark, tmp).collect()
    assert(out.length == 2)
    out.foreach(r => assert(r.getLong(3) == 0L,
      s"${r.getString(0)}: identical mix must read 0 milli-bits, got ${r.getLong(3)}"))
  }

  test("mix_kl: per-source totals line up with mix_tv's world at SF") {
    val rows = Pipeline.mixKl(spark, dir).collect()
    assert(rows.nonEmpty)
    val nTok = Tables(spark, dir).documents
      .select(explode(filter(split(col("text"), " "), w => w =!= "")).as("w"))
      .count()
    assert(rows.map(_.getLong(1)).sum == nTok, "token mass conserved")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "types bounded by tokens")
      // the fl2 surrogate loses <1 bit per term; real KL >= 0, so the
      // surrogate can only dip marginally below zero.
      assert(r.getLong(3) >= -1000, s"${r.getString(0)}: surrogate KL far negative")
    }
  }

  // ─── ev_periodogram ───

  test("ev_periodogram: full correlogram per type; lag-1 agrees with ev_autocorr") {
    val rows = Events.evPeriodogram(spark, dir).collect()
    val byType = rows.groupBy(_.getString(0))
    byType.foreach { case (tpe, rs) =>
      assert(rs.map(_.getLong(1)).sorted.toSeq == (1L to 24L), s"$tpe: 24 lags")
      assert(rs.count(_.getBoolean(4)) == 1, s"$tpe: exactly one winning lag")
      val best = rs.find(_.getBoolean(4)).get
      assert(rs.forall(r => r.getLong(3) <= best.getLong(3)),
        s"$tpe: is_best row must carry the max r")
      rs.foreach(r => assert(math.abs(r.getLong(3)) <= 10000))
    }
    val auto = Events.evAutocorr(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    byType.foreach { case (tpe, rs) =>
      val lag1 = rs.find(_.getLong(1) == 1L).get
      assert(lag1.getLong(3) == auto(tpe),
        s"$tpe: periodogram lag-1 must equal ev_autocorr's r1")
    }
  }

  // ─── profile_fd ───

  test("profile_fd: g3 and the FD flag agree; row mass is the table's") {
    val rows = ScaleOps.profileFd(spark, dir).collect()
    assert(rows.length == 4)
    val nOrders = Tables(spark, dir).orders.count()
    val nLi = Tables(spark, dir).lineitem.count()
    rows.foreach { r =>
      val (tbl, nLhs, nPairs, holds, g3) = (r.getString(0), r.getLong(3),
        r.getLong(4), r.getBoolean(5), r.getLong(6))
      assert(nPairs >= nLhs, "at least one rhs per lhs value")
      assert(holds == (nPairs == nLhs), "fd_holds accounting")
      assert(g3 >= 0 && g3 <= 10000, s"$tbl: g3 out of range")
      if (holds) assert(g3 == 0, "an exact FD has zero g3 error")
    }
    // Re-derive one direction directly: the distinct pair count for
    // orders status→priority.
    val direct = Tables(spark, dir).orders
      .select(col("o_orderstatus"), col("o_orderpriority")).distinct().count()
    val r0 = rows.find(r => r.getString(0) == "orders"
      && r.getString(1) == "o_orderstatus").get
    assert(r0.getLong(4) == direct, "n_pairs re-derived")
  }

  // ─── split_group ───

  test("split_group: group split never fragments a user; masses conserved") {
    val rows = Pipeline.splitGroup(spark, dir).collect()
    assert(rows.length == 6, "2 methods × 3 splits")
    val ev = Tables(spark, dir).events
    val nEvents = ev.count()
    val nUsers = ev.select(col("user_id")).distinct().count()
    Seq("event", "group").foreach { m =>
      val rs = rows.filter(_.getString(0) == m)
      assert(rs.map(_.getLong(2)).sum == nEvents, s"$m: event mass conserved")
      val frag = rs.head.getLong(4)
      assert(rs.forall(_.getLong(4) == frag), s"$m: frag count is method-level")
      if (m == "group") {
        assert(frag == 0, "group split must never fragment a user")
        assert(rs.map(_.getLong(3)).sum == nUsers, "group user mass conserved")
      } else {
        assert(frag > 0, "row-level split fragments users at this density")
        assert(rs.map(_.getLong(3)).sum >= nUsers + frag,
          "fragmented users are double-counted across splits")
      }
    }
  }

  // ─── ev_lifecycle ───

  test("ev_lifecycle: crafted cohort transitions account exactly") {
    import spark.implicits._
    // Mondays of three consecutive ISO weeks.
    val w1 = Timestamp.valueOf("2026-01-05 10:00:00")
    val w2 = Timestamp.valueOf("2026-01-12 10:00:00")
    val w3 = Timestamp.valueOf("2026-01-19 10:00:00")
    // u1: w1+w2 (retained at w2); u2: w1 only (churned at w2);
    // u3: w2 only (new at w2); u4: w1+w3 (resurrected at w3).
    val ev = Seq((1L, w1, 1L), (2L, w2, 1L), (3L, w1, 2L), (4L, w2, 3L),
      (5L, w1, 4L), (6L, w3, 4L))
      .map { case (id, ts, u) => (id, ts, u, "click", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = tmpDir("graft-lifecycle")
    ev.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = Events.evLifecycle(spark, tmp).collect()
      .map(r => r.getDate(0).toString ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out("2026-01-05") == ((3L, 3L, 0L, 0L, 0L)), "w1: all new")
    assert(out("2026-01-12") == ((2L, 1L, 1L, 0L, 2L)),
      "w2: u3 new, u1 retained, u2+u4 churned")
    assert(out("2026-01-19") == ((1L, 0L, 0L, 1L, 2L)),
      "w3: u4 resurrected, u1+u3 churned")
  }

  test("ev_lifecycle: decomposition identities hold at SF") {
    val rows = Events.evLifecycle(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3) + r.getLong(4),
        s"${r.getDate(0)}: active must split into new+retained+resurrected")
      assert(r.getLong(5) >= 0, "churn can't be negative")
    }
    val nUsers = Tables(spark, dir).events
      .select(col("user_id")).distinct().count()
    assert(rows.map(_.getLong(2)).sum == nUsers,
      "every user is new exactly once")
  }

  // ─── profile_benford ───

  test("profile_benford: constants, accounting, and the MAD verdict line up") {
    val rows = ScaleOps.profileBenford(spark, dir).collect()
    assert(rows.length == 18, "9 digits × 2 columns")
    val byCol = rows.groupBy(_.getString(0))
    assert(byCol("o_totalprice").map(_.getLong(4)).sum == 10000,
      "Benford expected bp must sum to exactly 10000")
    byCol.foreach { case (cname, rs) =>
      assert(rs.map(_.getLong(1)).sorted.toSeq == (1L to 9L), s"$cname: digits 1..9")
      val madExpect = rs.map(_.getLong(5)).sum / 9
      rs.foreach { r =>
        assert(r.getLong(5) == math.abs(r.getLong(3) - r.getLong(4)), "dev accounting")
        assert(r.getLong(6) == madExpect, s"$cname: MAD mismatch")
        assert(r.getBoolean(7) == (madExpect > 60), s"$cname: verdict")
      }
    }
    // TPC-H uniform prices are NOT Benford — the screen must fire.
    assert(rows.exists(_.getBoolean(7)),
      "uniform synthetic prices should trip the Benford screen")
  }

  // ─── ann_label_knn ───

  test("ann_label_knn: perfectly separated clusters classify perfectly") {
    import spark.implicits._
    // Two orthogonal clusters: label 0 hugs e₀, label 1 hugs e₁ —
    // every 5-NN vote is unanimous, so accuracy must be 10000 bp and
    // the winner's vote share 10000 bp for both classes.
    val vecs = (0 until 20).map { i =>
      val lbl = i / 10
      val base = Array.fill(8)(0.001f * (i % 10))
      base(lbl) = 1.0f
      (i.toLong, base.toSeq, lbl)
    }
    val tmp = tmpDir("graft-knn")
    vecs.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val out = Similarity.annLabelKnn(spark, tmp).collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getLong(1) == 10, "ten queries per class")
      assert(r.getLong(3) == 10000, s"label ${r.getLong(0)}: accuracy must be perfect")
      assert(r.getLong(4) == 10000, s"label ${r.getLong(0)}: votes must be unanimous")
    }
  }

  test("ann_label_knn: query mass and vote-share bounds at SF") {
    val rows = Similarity.annLabelKnn(spark, dir).collect()
    assert(rows.map(_.getLong(1)).sum == 20, "every query classified once")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getLong(3) == r.getLong(2) * 10000 / r.getLong(1), "acc accounting")
      // the majority label carries at least 1 of 5 votes
      assert(r.getLong(4) >= 2000 && r.getLong(4) <= 10000)
    }
  }

  // ─── graph_ktruss ───

  test("graph_ktruss: crafted clique + triangle + pendant peel exactly") {
    import spark.implicits._
    // K4 on 1-4 (every edge in 2 in-clique triangles), a lone triangle
    // 7-8-9 (support 1 each), a pendant path 4-5-6 (support 0).
    val canon = (for {
      a <- 1 to 4; b <- (a + 1) to 4
    } yield (a.toLong, b.toLong)) ++
      Seq((7L, 8L), (7L, 9L), (8L, 9L), (4L, 5L), (5L, 6L))
    var cur3 = canon.toDF("a", "b")
    var cur4 = canon.toDF("a", "b")
    (1 to 3).foreach { _ =>
      cur3 = Graph.peelOnce(cur3, 1).localCheckpoint(true)
      cur4 = Graph.peelOnce(cur4, 2).localCheckpoint(true)
    }
    val t3 = cur3.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val t4 = cur4.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val k4 = (for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)).toSet
    assert(t3 == k4 ++ Set((7L, 8L), (7L, 9L), (8L, 9L)),
      "3-truss keeps every triangle edge, sheds the pendant path")
    assert(t4 == k4, "4-truss is exactly the clique")
  }

  // ─── ts_cusum ───

  test("ts_cusum: reflection identity equals the direct recursion; alarms monotone in threshold") {
    val rows = Events.tsCusum(spark, dir).collect()
    assert(rows.nonEmpty)
    // Alarm count must be non-increasing in the threshold multiplier.
    rows.groupBy(_.getString(0)).foreach { case (tpe, rs) =>
      val byMult = rs.map(r => r.getLong(1) -> r.getLong(2)).toMap
      assert(byMult.keySet == Set(4L, 8L, 16L))
      assert(byMult(4L) >= byMult(8L) && byMult(8L) >= byMult(16L),
        s"$tpe: alarm hours must shrink as the threshold rises")
      rs.foreach { r =>
        assert(r.getLong(4) >= 0, s"$tpe: max_s is a running max of a floor-0 stat")
        assert((r.getLong(2) > 0) == !r.isNullAt(3),
          s"$tpe: first_alarm_epoch iff any alarm hour")
      }
    }
    // Direct recursion for one type: S_t = max(0, S_{t-1} + d_t - k)
    // over the zero-filled hourly series must reproduce max_s and the
    // mult=4 alarm-hour count (the reflection identity, re-derived).
    val ev = Tables(spark, dir).events
      .select(col("event_type"), unix_timestamp(date_trunc("hour", col("ts"))).as("h"))
    val tpe = ev.select(min(col("event_type"))).head.getString(0)
    val counts = ev.groupBy(col("h")).agg(
      sum(when(col("event_type") === tpe, 1L).otherwise(0L)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (h0, h1) = (counts.keys.min, counts.keys.max)
    val grid = (h0 to h1 by 3600L).map(h => counts.getOrElse(h, 0L))
    val n = grid.length.toLong
    val total = grid.sum
    val dev = grid.map(_ * n - total)
    val mad = dev.map(math.abs).sum / n
    val k = dev.map(math.abs).sum / (2 * n)
    var s = 0L; var maxS = 0L; var alarm4 = 0L
    dev.foreach { d =>
      s = math.max(0L, s + d - k)
      maxS = math.max(maxS, s)
      if (mad > 0 && s >= 4 * mad) alarm4 += 1
    }
    val got = rows.filter(r => r.getString(0) == tpe && r.getLong(1) == 4L).head
    assert(got.getLong(4) == maxS, s"$tpe: max_s ${got.getLong(4)} != direct $maxS")
    assert(got.getLong(2) == alarm4, s"$tpe: mult=4 alarm hours")
    assert(got.getLong(5) == mad, s"$tpe: mad")
  }

  // ─── profile_entropy ───

  test("profile_entropy: every column equals a direct fl2 recompute") {
    def fl2(x: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val rows = ScaleOps.profileEntropy(spark, dir).collect()
    assert(rows.map(_.getString(1)).toSet.contains("event_type"))
    val byCol = Map[(String, String), org.apache.spark.sql.DataFrame](
      ("events", "event_type") -> Tables(spark, dir).events.select(col("event_type")),
      ("documents", "lang") -> Tables(spark, dir).documents.select(col("lang")))
    rows.filter(r => byCol.contains((r.getString(0), r.getString(1)))).foreach { r =>
      val cnts = byCol((r.getString(0), r.getString(1)))
        .groupBy(col(r.getString(1))).count().collect().map(_.getLong(1))
      val n = cnts.sum
      val h = cnts.map(c => c * (fl2(n) - fl2(c))).sum * 1000 / n
      assert(r.getLong(2) == n, s"${r.getString(1)}: n_rows")
      assert(r.getLong(3) == cnts.length.toLong, s"${r.getString(1)}: n_distinct")
      assert(r.getLong(4) == h, s"${r.getString(1)}: h_milli ${r.getLong(4)} != $h")
      assert(r.getLong(6) == cnts.max * 10000 / n, s"${r.getString(1)}: top_share_bp")
      val hmax = fl2(cnts.length.toLong) * 1000
      assert(r.getLong(5) == hmax && r.getLong(7) == h * 10000 / math.max(1, hmax))
    }
  }

  // ─── split_time ───

  test("split_time: bands partition the log, boundaries ordered, straddle exact") {
    val rows = Pipeline.splitTime(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("train", "embargo", "test"))
    val ev = Tables(spark, dir).events
      .select(col("user_id"), unix_timestamp(col("ts")).as("e"))
    assert(rows.values.map(_.getLong(1)).sum == ev.count(),
      "the three bands partition the event log")
    assert(rows("train").getLong(4) < rows("embargo").getLong(3) &&
      rows("embargo").getLong(4) < rows("test").getLong(3),
      "band epoch ranges must be disjoint and ordered")
    // ~70/5/25 of the SPAN (not the volume): train holds the majority.
    assert(rows("train").getLong(1) > rows("test").getLong(1))
    // Straddle recompute: users with ≥1 train AND ≥1 test event.
    val agg = ev.crossJoin(broadcast(ev.agg(min(col("e")).as("t0"), max(col("e")).as("t1"))))
    val straddle = agg
      .select(col("user_id"),
        (col("e") < expr("t0 + (t1 - t0) * 70 div 100")).as("tr"),
        (col("e") >= expr("t0 + (t1 - t0) * 75 div 100")).as("te"))
      .groupBy(col("user_id"))
      .agg(max(col("tr")).as("tr"), max(col("te")).as("te"))
      .filter(col("tr") && col("te")).count()
    assert(rows.values.forall(_.getLong(5) == straddle), "straddle_users")
  }

  // ─── profile_outliers ───

  test("profile_outliers: quantiles and fence counts equal a sorted recompute") {
    val rows = ScaleOps.profileOutliers(spark, dir).collect()
    assert(rows.map(_.getString(0)).toSet == Set("lineitem.l_quantity",
      "lineitem.l_discount", "lineitem.l_tax", "events.value"))
    val sources = Map(
      "lineitem.l_quantity" -> Tables(spark, dir).lineitem.select(col("l_quantity")),
      "events.value" -> Tables(spark, dir).events.select(col("value")))
    rows.filter(r => sources.contains(r.getString(0))).foreach { r =>
      val vs = sources(r.getString(0))
        .collect().map(x => math.floor(x.getDouble(0) * 100 + 0.5).toLong).sorted
      val n = vs.length.toLong
      val q1 = vs(((n + 3) / 4 - 1).toInt)
      val q3 = vs(((3 * n + 3) / 4 - 1).toInt)
      val iqr = q3 - q1
      assert(r.getLong(1) == n && r.getLong(2) == q1 && r.getLong(3) == q3,
        s"${r.getString(0)}: n/q1/q3 vs direct ($n, $q1, $q3)")
      assert(r.getLong(5) == vs.count(v => 2 * v < 2 * q1 - 3 * iqr).toLong,
        s"${r.getString(0)}: n_low")
      assert(r.getLong(6) == vs.count(v => 2 * v > 2 * q3 + 3 * iqr).toLong,
        s"${r.getString(0)}: n_high")
    }
  }

  // ─── graph_squares ───

  test("graph_squares: crafted cycle, clique, and path count exactly") {
    import spark.implicits._
    def sym(und: Seq[(Long, Long)]) =
      (und ++ und.map(_.swap)).toDF("src", "dst")
    def counts(und: Seq[(Long, Long)]): Map[Long, Long] =
      Graph.squareCounts(sym(und)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // A plain 4-cycle: one square, every node in it.
    val c4 = counts(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)))
    assert(c4 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, -1L -> 1L))
    // K4: 3 quadrilaterals (chorded included), each node in all 3.
    val k4 = counts(for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b))
    assert(k4 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, -1L -> 3L))
    // A path has no cycles: only the global zero row.
    assert(counts(Seq((1L, 2L), (2L, 3L))) == Map(-1L -> 0L))
  }

  // ─── ann_knn_graph ───

  test("ann_knn_graph: every readout re-derives from knn_join's edges") {
    val r = Similarity.annKnnGraph(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    // knn_join columns: vec_id, rank, neighbor_id, cell, cos_bp.
    val edges = Similarity.knnJoin(spark, dir).collect()
      .map(e => (e.getLong(0), e.getLong(2), e.getLong(4)))
    val dir2 = edges.map(e => (e._1, e._2)).toSet
    val mutual = edges.count(e => dir2.contains((e._2, e._1))).toLong
    assert(row.getLong(1) == edges.length.toLong, "n_edges")
    assert(row.getLong(2) == mutual && mutual % 2 == 0,
      "mutual edges count pairwise (always even)")
    assert(row.getLong(3) == mutual * 10000 / edges.length, "mutual_bp")
    assert(row.getLong(4) == edges.map(_._3).sum / edges.length, "mean_cos_bp")
    val indeg = edges.groupBy(_._2).map(_._2.length.toLong)
    assert(row.getLong(5) == indeg.max, "max_indeg")
    assert(row.getLong(6) == row.getLong(0) - indeg.size.toLong, "n_orphans")
  }

  // ─── filter_bloom_curve ───

  test("filter_bloom_curve: fill and FPR shrink as the filter widens; accounting exact") {
    val rows = ScaleOps.filterBloomCurve(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1024L, 4096L, 16384L))
    rows.foreach { r =>
      val (m, nKeys, bits, fill) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(bits <= math.min(3 * nKeys, m), "K·n keys cap and M cap")
      assert(fill == bits * 10000 / m, "fill_bp accounting")
      assert(r.getLong(5) <= r.getLong(4), "n_fp <= n_nonmember")
      assert(r.getLong(7) == fill * fill * fill / 100000000L,
        "(fill)^K prediction accounting")
    }
    // Wider filters can only improve precision (4x steps dwarf noise).
    assert(rows.map(_.getLong(6)).sliding(2).forall(p => p(0) >= p(1)),
      "measured FPR non-increasing in M")
    assert(rows.map(_.getLong(3)).sliding(2).forall(p => p(0) > p(1)),
      "fill strictly decreasing in M")
  }

  // ─── ts_hampel ───

  test("ts_hampel: median, MAD, and the flag count equal a sorted recompute") {
    val rows = Events.tsHampel(spark, dir).collect()
    assert(rows.nonEmpty)
    val byType = Tables(spark, dir).events
      .select(col("event_type"), col("value")).collect()
      .map(r => r.getString(0) -> math.floor(r.getDouble(1) * 100 + 0.5).toLong)
      .groupBy(_._1).map { case (t, vs) => t -> vs.map(_._2).sorted }
    rows.foreach { r =>
      val vs = byType(r.getString(0))
      val n = vs.length.toLong
      def medOf(s: Seq[Long]) = s(((s.length + 1) / 2 - 1))
      val med = medOf(vs)
      val mad = medOf(vs.map(v => math.abs(v - med)).sorted)
      val nOut = vs.count(v => math.abs(v - med) > 5 * mad).toLong
      assert(r.getLong(1) == n && r.getLong(2) == med && r.getLong(3) == mad,
        s"${r.getString(0)}: n/median/mad vs direct ($n, $med, $mad)")
      assert(r.getLong(4) == nOut && r.getLong(5) == nOut * 10000 / n,
        s"${r.getString(0)}: outlier tally")
    }
  }

  // ─── ev_gap_quantiles ───

  test("ev_gap_quantiles: ledger percentiles equal a sorted recompute per type") {
    val rows = Events.evGapQuantiles(spark, dir).collect()
    assert(rows.nonEmpty)
    val ev = Tables(spark, dir).events
      .select(col("event_type"), unix_timestamp(col("ts")).as("e"),
        col("event_id")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    rows.foreach { r =>
      val gaps = ev(r.getString(0)).sortBy(t => (t._2, t._3))
        .map(_._2).sliding(2).map(p => p(1) - p(0)).toArray.sorted
      val n = gaps.length.toLong
      def at(k: Long) = gaps((k - 1).toInt)
      assert(r.getLong(1) == n, s"${r.getString(0)}: n_gaps")
      assert(r.getLong(2) == at((n + 1) / 2), s"${r.getString(0)}: p50")
      assert(r.getLong(3) == at((9 * n + 9) / 10), s"${r.getString(0)}: p90")
      assert(r.getLong(4) == at((99 * n + 99) / 100), s"${r.getString(0)}: p99")
      assert(r.getLong(2) <= r.getLong(3) && r.getLong(3) <= r.getLong(4))
    }
  }

  // ─── cdc_key_skew ───

  test("cdc_key_skew: histogram equals a direct per-key recompute; mass telescopes") {
    def fl2(x: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val rows = Cdc.cdcKeySkew(spark, dir).collect()
    val perKey = Tables(spark, dir).events
      .groupBy(col("user_id")).count().collect().map(_.getLong(1))
    val total = perKey.sum
    val byBucket = perKey.groupBy(fl2)
    assert(rows.length == byBucket.size)
    rows.foreach { r =>
      val b = byBucket(r.getLong(0))
      assert(r.getLong(1) == b.length.toLong, s"bucket ${r.getLong(0)}: n_keys")
      assert(r.getLong(2) == b.sum, s"bucket ${r.getLong(0)}: n_changes")
      assert(r.getLong(3) == b.max, s"bucket ${r.getLong(0)}: max_changes")
      assert(r.getLong(4) == b.sum * 10000 / total, "changes_bp")
    }
    assert(rows.map(_.getLong(2)).sum == total, "histogram loses changes")
    assert(rows.last.getLong(5) == 10000L, "cumulative coverage closes at 10000")
    assert(rows.map(_.getLong(5)).sliding(2).forall(p => p(0) <= p(1)),
      "cum_bp monotone")
  }

  // ─── mm_quality_gate ───

  test("mm_quality_gate: gate decisions equal a per-blob recompute") {
    val rows = Multimodal.mmQualityGate(spark, dir).collect()
    val docs = Tables(spark, dir).documents
      .selectExpr("source",
        "cast(conv(substr(md5(cast(text as binary)), 1, 15), 16, 10) as bigint) as h",
        "length(cast(text as binary)) as bl").collect()
      .map { r =>
        val h = r.getLong(1)
        (r.getString(0), h % 1920 + 1, (h >> 11) % 1080 + 1, r.getInt(2).toLong)
      }
    assert(rows.map(_.getLong(1)).sum == docs.length.toLong,
      "every blob is gated exactly once")
    rows.foreach { r =>
      val g = docs.filter(_._1 == r.getString(0))
      val tooSmall = g.count(d => d._2 < 320 || d._3 < 240).toLong
      val aspect = g.count(d => d._2 > d._3 * 4 || d._3 > d._2 * 4).toLong
      val tiny = g.count(_._4 < 64).toLong
      val pass = g.count(d => !(d._2 < 320 || d._3 < 240) &&
        !(d._2 > d._3 * 4 || d._3 > d._2 * 4) && d._4 >= 64).toLong
      assert(r.getLong(1) == g.length.toLong && r.getLong(2) == pass &&
        r.getLong(3) == tooSmall && r.getLong(4) == aspect &&
        r.getLong(5) == tiny,
        s"${r.getString(0)}: gate counts vs recompute")
      assert(r.getLong(6) == pass * 10000 / g.length, "pass_bp")
    }
  }

  // ─── q44_asof_tolerance ───

  test("q44_asof_tolerance: the window gates q16's matches, never falls back") {
    val q16 = RelationalExt.q44AsofTolerance _ // silence unused-import styles
    val base = Relational.q16AsofJoin(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    val rows = RelationalExt.q44AsofTolerance(spark, dir).collect()
    assert(rows.length == base.size, "same purchase set as q16")
    var attributed = 0
    rows.foreach { r =>
      val (pe, click) = base(r.getLong(0))
      assert(r.getLong(2) == pe)
      val inWindow = click.exists(c => pe - c <= 3600L)
      assert(r.getBoolean(4) == inWindow, s"attributed flag for ${r.getLong(0)}")
      if (inWindow) {
        assert(r.getLong(3) == click.get,
          "in-window purchase keeps q16's click (no re-matching)")
        attributed += 1
      } else assert(r.isNullAt(3),
        "out-of-window purchase must NOT fall back to an older click")
    }
    assert(attributed > 0 && attributed < rows.length,
      "the window must bite at this SF for the test to mean anything")
  }

  // ─── ev_next_entropy ───

  test("ev_next_entropy: per-type and pooled entropy re-derive from ev_markov's counts") {
    def fl2(x: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val rows = Events.evNextEntropy(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val trans = Events.evMarkov(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(2))).groupBy(_._1)
      .map { case (t, xs) => t -> xs.map(_._2) }
    trans.foreach { case (cur, cs) =>
      val n = cs.sum
      val h = cs.map(c => c * (fl2(n) - fl2(c))).sum * 1000 / n
      val r = rows(cur)
      assert(r.getLong(1) == n && r.getLong(2) == cs.length.toLong &&
        r.getLong(3) == h, s"$cur: entropy recompute")
      assert(r.getLong(4) == fl2(cs.length.toLong) * 1000, s"$cur: ceiling")
    }
    val total = trans.values.map(_.sum).sum
    val pooled = trans.values.map { cs =>
      val n = cs.sum; n * (cs.map(c => c * (fl2(n) - fl2(c))).sum * 1000 / n)
    }.sum / total
    assert(rows("__all__").getLong(1) == total)
    assert(rows("__all__").getLong(3) == pooled,
      "__all__ is the transition-mass-weighted mean")
  }

  // ─── cdc_apply_plan ───

  test("cdc_apply_plan: COW accounting exact; hash layout touches ~every file") {
    val rows = Cdc.cdcApplyPlan(spark, dir).collect()
    val nUsers = Tables(spark, dir).events
      .select(col("user_id")).distinct().count()
    assert(rows.map(_.getLong(1)).sum == nUsers,
      "base files partition the key set")
    rows.foreach { r =>
      val (nb, nd, nk) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nk <= math.min(nb, nd), "touched keys bounded by both sides")
      assert(r.getBoolean(4) == (nd > 0))
      assert(r.getLong(5) == (if (nd > 0) nb else 0L), "COW rewrites all-or-none")
      assert(r.getLong(6) == r.getLong(5) * 100 / math.max(1, nd))
    }
    // The op's point: under a hash layout a uniform delta touches
    // nearly every file (the re-bucketing argument).
    assert(rows.count(_.getBoolean(4)) >= rows.length / 2,
      "uniform delta must splash across the hash layout at this SF")
  }

  // ─── ann_label_sep ───

  test("ann_label_sep: centroids, scatter, and separations equal a direct recompute") {
    val rows = Similarity.annLabelSep(spark, dir).collect()
    val vecs = Tables(spark, dir).embeddings
      .selectExpr("cast(label as long) as label",
        "transform(cast(embedding as array<double>)," +
          " x -> cast(floor(x * 1000 + 0.5) as long)) as vm")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).groupBy(_._1)
      .map { case (l, vs) => l -> vs.map(_._2) }
    def centroid(vs: Array[Array[Long]]): Array[Long] = {
      val d = vs.head.length
      Array.tabulate(d)(i => vs.map(_(i)).sum / vs.length)
    }
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val cents = vecs.map { case (l, vs) => l -> centroid(vs) }
    val within = vecs.map { case (l, vs) =>
      l -> vs.map(v => d2(v, cents(l))).sum / vs.length }
    assert(rows.length == cents.size * (cents.size + 1) / 2)
    rows.foreach { r =>
      val (la, lb) = (r.getLong(0), r.getLong(1))
      assert(r.getLong(2) == vecs(la).length.toLong &&
        r.getLong(3) == vecs(lb).length.toLong)
      if (la == lb) {
        assert(r.getLong(4) == within(la), s"($la,$lb): within scatter")
        assert(r.isNullAt(5), "diagonal has no separation ratio")
      } else {
        val between = d2(cents(la), cents(lb))
        assert(r.getLong(4) == between, s"($la,$lb): centroid distance")
        assert(r.getLong(5) ==
          between * 200 / math.max(1L, within(la) + within(lb)),
          s"($la,$lb): sep_x100")
      }
    }
  }

  // ─── sample_allocated ───

  test("sample_allocated: draws exactly the Neyman quota, and exactly those docs") {
    val rows = Pipeline.sampleAllocated(spark, dir).collect()
    val alloc = Pipeline.sampleStratNeyman(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    val docs = Tables(spark, dir).documents
      .selectExpr("lang", "doc_id",
        "cast(conv(substr(md5('salloc:' || cast(doc_id as string)), 1, 15)," +
          " 16, 10) as long) as h")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    rows.foreach { r =>
      val lang = r.getString(0)
      val pop = docs(lang)
      assert(r.getLong(1) == pop.length.toLong, s"$lang: n_pop")
      assert(r.getLong(2) == alloc(lang), s"$lang: target carries through")
      assert(r.getLong(3) == math.min(alloc(lang), pop.length.toLong),
        s"$lang: fulfillment is exact, not in-expectation")
      val expected = pop.sortBy(d => (d._3, d._2))
        .take(alloc(lang).toInt).map(_._2).sum
      assert(r.getLong(4) == expected,
        s"$lang: the drawn SET must be the hash-order prefix")
    }
  }

  // ─── layout_partition ───

  test("layout_partition: shares and verdicts equal a direct recompute") {
    val rows = ScaleOps.layoutPartition(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val direct = Map(
      ("documents", "lang") -> Tables(spark, dir).documents.groupBy(col("lang")).count(),
      ("events", "event_type") -> Tables(spark, dir).events.groupBy(col("event_type")).count(),
      ("events", "day") -> Tables(spark, dir).events
        .groupBy(date_trunc("day", col("ts"))).count())
    direct.foreach { case ((tn, cn), df) =>
      val cnts = df.collect().map(_.getLong(1))
      val r = rows((tn, cn))
      assert(r.getLong(2) == cnts.sum && r.getLong(3) == cnts.length.toLong &&
        r.getLong(5) == cnts.max, s"$tn.$cn: counts")
      assert(r.getLong(6) == cnts.max * 10000 / cnts.sum, s"$tn.$cn: share")
      val expect =
        if (cnts.length < 4) "too_coarse"
        else if (cnts.length > 10000) "too_fine"
        else if (cnts.max * 10000 / cnts.sum > 2000) "skewed"
        else "ok"
      assert(r.getString(7) == expect, s"$tn.$cn: verdict")
    }
    // The advisor's point at this data: day partitioning is usable,
    // a 4-value enum is not automatically okay (share rules bite).
    assert(rows(("events", "day")).getLong(3) >= 4)
  }

  // ─── ev_dormancy ───

  test("ev_dormancy: buckets partition the user base; doubling brackets hold") {
    val rows = Events.evDormancy(spark, dir).collect()
    val nUsers = Tables(spark, dir).events
      .select(col("user_id")).distinct().count()
    assert(rows.map(_.getLong(1)).sum == nUsers,
      "every user is in exactly one dormancy bucket")
    rows.foreach { r =>
      val b = r.getLong(0)
      // bucket = fl2(days+1): days+1 in [2^b, 2^(b+1)).
      assert(r.getLong(2) + 1 >= (1L << b) && r.getLong(3) + 1 < (1L << (b + 1)),
        s"bucket $b: [${r.getLong(2)}, ${r.getLong(3)}] outside its bracket")
      assert(r.getLong(2) <= r.getLong(3))
    }
    assert(rows.last.getLong(5) == 10000L, "cumulative coverage closes")
  }

  // ─── profile_unique_keys ───

  test("profile_unique_keys: verdicts match ground truth on the synthetic keys") {
    val rows = ScaleOps.profileUniqueKeys(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    // Real keys of the testdata schema must audit as keys…
    Seq(("events", "event_id"), ("orders", "o_orderkey"),
      ("documents", "doc_id"), ("customer", "c_custkey")).foreach { k =>
      assert(rows(k).getBoolean(5), s"$k must be a key")
      assert(rows(k).getLong(4) == 0L)
    }
    // …and BOTH lineitem candidates must fail: l_orderkey repeats per
    // line by construction, and the generator also repeats line
    // numbers within an order — the TPC-H-assumed composite PK does
    // NOT hold on this synthetic data, which is exactly the violation
    // this audit exists to catch before a MERGE trusts it. Widening
    // the key must still shrink the duplicate mass.
    val lk = rows(("lineitem", "l_orderkey"))
    val comp = rows(("lineitem", "l_orderkey~l_linenumber"))
    assert(!lk.getBoolean(5) && lk.getLong(4) > 0)
    assert(!comp.getBoolean(5) && comp.getLong(4) > 0,
      "the synthetic composite is genuinely non-unique")
    assert(comp.getLong(4) < lk.getLong(4), "wider key, fewer duplicates")
    rows.values.foreach(r =>
      assert(r.getLong(4) == r.getLong(2) - r.getLong(3), "dup accounting"))
  }

  // ─── dedup_source_matrix ───

  test("dedup_source_matrix: cells re-derive from the candidate pairs; mass conserved") {
    val rows = Dedup.dedupSourceMatrix(spark, dir).collect()
    val srcOf = Tables(spark, dir).documents
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = Dedup.dedupMinhashLsh(spark, dir)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val direct = pairs.map { case (a, b) =>
      val (sa, sb) = (srcOf(a), srcOf(b))
      (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
    }.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    assert(rows.map(_.getLong(2)).sum == pairs.length.toLong,
      "every candidate pair lands in exactly one cell")
    rows.foreach { r =>
      val cell = (r.getString(0), r.getString(1))
      assert(r.getLong(2) == direct(cell), s"$cell: pair count")
      assert(r.getBoolean(3) == (r.getString(0) != r.getString(1)))
      assert(r.getLong(4) == r.getLong(2) * 10000 / pairs.length, s"$cell: share")
    }
    assert(rows.length == direct.size)
  }

  // ─── cdc_retention_gc ───

  test("cdc_retention_gc: buckets partition the history; GC rules re-derive") {
    val rows = Cdc.cdcRetentionGc(spark, dir).collect()
    val hist = Cdc.cdcScd2(spark, dir).collect()
    val span = Tables(spark, dir).events
      .agg(min(unix_timestamp(col("ts"))), max(unix_timestamp(col("ts"))))
      .head
    val (t0, t1) = (span.getLong(0), span.getLong(1))
    val cut = t0 + (t1 - t0) * 50 / 100
    assert(rows.map(_.getLong(1)).sum == hist.length.toLong,
      "every version is in exactly one age bucket")
    val current = rows.find(_.getLong(0) == -1L).get
    assert(current.getLong(2) == 0L,
      "current versions are never reclaimable")
    rows.filter(_.getLong(0) >= 0).foreach { r =>
      val w = r.getLong(0)
      val inBucket = hist.filter(h => !h.getBoolean(5) &&
        (t1 - h.getLong(4)) / 604800 == w)
      assert(r.getLong(1) == inBucket.length.toLong, s"week $w: n_versions")
      assert(r.getLong(2) ==
        inBucket.count(h => h.getLong(4) < cut).toLong, s"week $w: reclaimable")
    }
    assert(rows.map(_.getLong(2)).sum > 0,
      "the 50% horizon must reclaim something at this SF")
  }

  test("graph_ktruss: 3 peel rounds reach the fixpoint at SF") {
    // Eager checkpoints per round: each peel references its input
    // THREE times (sym union + support join), so an uncheckpointed
    // 4-round chain re-plans 3⁴ copies of the LSH candidate machinery
    // — the graph_hits plan-doubling hazard, here in the spec itself.
    val canon0 = Dedup.pairEdges(spark, dir).filter(col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("b")).localCheckpoint(true)
    Seq(1L, 2L).foreach { minSup =>
      var cur = canon0
      (1 to 3).foreach(_ => cur = Graph.peelOnce(cur, minSup).localCheckpoint(true))
      val atR = cur.count()
      assert(Graph.peelOnce(cur, minSup).count() == atR,
        s"minSup=$minSup: a 4th peel round still removes edges — bump trussRounds")
    }
  }
}

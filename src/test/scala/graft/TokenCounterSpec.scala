package graft

import graft.operators.Pipeline
import graft.operators.Pipeline.TokenCounter
import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The pack/mix family on REAL token counts (round-15 rewiring): the
  * registered queries key on the whitespace approximation (oracled,
  * hash-stable), but the library ships the same operators under
  * Pipeline.TokenCounter.Bpe — per-doc subword counts from the mined
  * merge list actually applied (TextAnalysis.bpeTokenCounts). These
  * specs pin that the switch preserves every accounting invariant the
  * family is trusted for, so a user can flip the counter without
  * re-auditing the operators. */
class TokenCounterSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.test
  private val dir = "/root/testdata/sf0.001"

  test("packChunksWith(Bpe) conserves the corpus subword mass exactly") {
    val bpeTotal = TextAnalysis.bpeTokenCounts(spark, dir)
      .agg(sum(col("bpe_tokens"))).collect()(0).getLong(0)
    val chunkTotal = Pipeline.packChunksWith(spark, dir, TokenCounter.Bpe)
      .agg(sum(col("chunk_tokens"))).collect()(0).getLong(0)
    assert(chunkTotal == bpeTotal,
      s"chunk masses must sum to the subword corpus mass: $chunkTotal != $bpeTotal")
  }

  test("packChunksWith: Bpe and Whitespace genuinely differ (real counts, not a relabel)") {
    val ws = Pipeline.packChunksWith(spark, dir, TokenCounter.Whitespace)
      .agg(sum(col("chunk_tokens"))).collect()(0).getLong(0)
    val bpe = Pipeline.packChunksWith(spark, dir, TokenCounter.Bpe)
      .agg(sum(col("chunk_tokens"))).collect()(0).getLong(0)
    val chars = TextAnalysis.bpeTokenCounts(spark, dir)
      .agg(sum(col("base_tokens"))).collect()(0).getLong(0)
    // Structural bounds, not corpus luck ("bpe > ws"
    // held for the pinned corpus but could silently flip if the test
    // data or merge count changes): every merge strictly reduces the
    // character-token count, so chars > bpe; and the two counters must
    // genuinely differ — equality would mean the Bpe path silently
    // relabeled the whitespace counts.
    assert(chars > bpe,
      s"applied merges must shrink the char-token mass: chars=$chars bpe=$bpe")
    assert(bpe != ws,
      s"BPE subword mass ($bpe) must differ from the whitespace word mass ($ws)")
  }

  test("packChunksWith(Bpe) chunk ids are dense from 0 per language") {
    val bad = Pipeline.packChunksWith(spark, dir, TokenCounter.Bpe)
      .groupBy(col("lang"))
      .agg(min(col("chunk_id")).as("lo"), max(col("chunk_id")).as("hi"),
        countDistinct(col("chunk_id")).as("n"))
      .filter(col("lo") =!= 0L || col("n") =!= col("hi") + 1)
      .count()
    assert(bad == 0L, "chunk ids must be dense 0..max per language")
  }

  test("mixTokenBudgetWith(Bpe) allocations still sum to the budget exactly") {
    val total = Pipeline.mixTokenBudgetWith(spark, dir, TokenCounter.Bpe)
      .agg(sum(col("alloc_tokens"))).collect()(0).getLong(0)
    assert(total == 1000000L, s"Σalloc must equal the budget: got $total")
  }

  test("mixApportionWith(Bpe) is exact Hamilton: Σalloc = budget, per-source within ±1 of quota") {
    val rows = Pipeline.mixApportionWith(spark, dir, TokenCounter.Bpe)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val totalTok = rows.map(_._2).sum
    assert(rows.map(_._3).sum == 1000000L, "Σalloc must equal the budget")
    rows.foreach { case (src, tok, alloc) =>
      // Recompute the quota in exact integer arithmetic (BigInt) to
      // match the operator's own math: the operator guarantees alloc ∈
      // {⌊q⌋, ⌊q⌋+1}, and a Double-recomputed quota with tolerance
      // exactly 1.0 could sit right on the boundary.
      val qFloor = (BigInt(tok) * 1000000 / totalTok).toLong
      assert(alloc == qFloor || alloc == qFloor + 1,
        s"$src: Hamilton allocation $alloc must be ⌊quota⌋ or ⌊quota⌋+1 " +
          s"(⌊quota⌋=$qFloor)")
    }
  }

  test("packEfficiencyWith(Bpe): packing utilization dominates padding at every context") {
    val bad = Pipeline.packEfficiencyWith(spark, dir, TokenCounter.Bpe)
      .filter(col("util_packed_bp") < col("util_pad_bp")).count()
    assert(bad == 0L, "concat-packing must never utilize worse than pad-to-ctx")
  }
}

package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over the `documents` table:
  * deterministic train/val/test splitting, stratified sampling,
  * sequence packing, and a composed clean→dedup→stats pipeline.
  *
  * All assignment decisions are content/key-hashed (md5-derived),
  * never RNG-sampled: the split a document lands in must be a pure
  * function of the document so that (a) re-runs and late-arriving
  * shards agree, (b) both engines can replay the decision exactly,
  * and (c) no driver-side coordination or seed plumbing is needed —
  * the hash IS the coordination. Everything is a narrow projection
  * or a single keyed shuffle; nothing collects to the driver.
  */
object Pipeline {
  import Relational.epochS

  /** Deterministic bucket in [0, 100): top 60 bits of md5(salt:key)
    * mod 100. Same construction as Dedup.h31 — verified identical
    * across Spark `conv` and DuckDB hex-cast. */
  private def bucket100(salt: String, key: Column): Column =
    conv(substring(md5(concat(lit(salt + ":"), key.cast("string"))), 1, 15), 16, 10)
      .cast("long") % 100

  private def bucket100Sql(salt: String, key: String): String =
    s"(CAST(('0x' || substr(md5('$salt:' || CAST($key AS VARCHAR)), 1, 15)) AS BIGINT) % 100)"

  /** Finer 10 000-bucket variant for fractional-bp sampling rates. */
  private def bucket10k(salt: String, key: Column): Column =
    conv(substring(md5(concat(lit(salt + ":"), key.cast("string"))), 1, 15), 16, 10)
      .cast("long") % 10000

  private def bucket10kSql(salt: String, key: String): String =
    s"(CAST(('0x' || substr(md5('$salt:' || CAST($key AS VARCHAR)), 1, 15)) AS BIGINT) % 10000)"

  // ─── split_hash: deterministic 80/10/10 train/val/test split ───
  // Hash-assignment, not `randomSplit`: randomSplit re-samples per
  // run (and per partition layout), so a doc could migrate between
  // train and test across pipeline runs — silent leakage. The hash
  // split is stable under re-partitioning, backfills, and incremental
  // arrival.
  def splitHash(spark: SparkSession, dir: String): DataFrame = {
    val b = bucket100("split", col("doc_id"))
    Tables(spark, dir).documents
      .select(col("doc_id"), col("lang"), b.as("bucket"),
        when(b < 80, "train").when(b < 90, "val").otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  val splitHashSql: String = {
    val b = bucket100Sql("split", "doc_id")
    s"""SELECT doc_id, lang, $b AS bucket,
       |  CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'val'
       |    ELSE 'test' END AS split
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ─── sample_stratified: deterministic ~15% sample per language ───
  // Stratification here = the rate applies within each language
  // independently (the hash is uniform within any stratum), so small
  // languages are not crowded out the way a global top-N would.
  // Distinct salt from split_hash: the sample must not be a biased
  // slice of one split.
  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .filter(bucket100("sample", col("doc_id")) < 15)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))

  val sampleStratifiedSql: String =
    s"""SELECT doc_id, lang, n_chars FROM documents
       |WHERE ${bucket100Sql("sample", "doc_id")} < 15
       |ORDER BY doc_id""".stripMargin

  // ─── sample_temperature: α-balanced multilingual sampling ───
  // The standard multilingual-corpus rebalance (exponentially-
  // smoothed sampling as in the mBERT/XLM-R/mT5 recipes — cf. Xue et
  // al., "mT5", NAACL 2021 §3): sample language i with probability
  // ∝ p_i^α / p_i so
  // rare languages are upsampled relative to their share. α = 0.5
  // deliberately: the per-language keep rate reduces to
  // sqrt(p_min / p_i) — division and square root are both
  // correctly-rounded IEEE-754 ops, so Spark and DuckDB compute the
  // SAME threshold bit-for-bit and the decision hash-matches (a
  // general pow(x, 0.3) would be libm-dependent). Rates derive from
  // a tiny per-language aggregate that broadcasts back onto the
  // corpus — one shuffle for the stats, a broadcast join for the
  // decision, no driver round-trip.
  def sampleTemperature(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val stats = docs.groupBy(col("lang"))
      .agg(count(lit(1)).cast("double").as("n_lang"))
    val tot = docs.agg(count(lit(1)).cast("double").as("n_tot"))
    val ps = stats.crossJoin(broadcast(tot))
      .withColumn("p", col("n_lang") / col("n_tot"))
    val mn = ps.agg(min(col("p")).as("p_min"))
    val rates = ps.crossJoin(broadcast(mn))
      .select(col("lang"),
        floor(sqrt(col("p_min") / col("p")) * 10000).cast("long").as("thr_bp"))
    docs.join(broadcast(rates), Seq("lang"))
      .filter(bucket10k("temp", col("doc_id")) < col("thr_bp"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("thr_bp"))
      .orderBy(col("doc_id"))
  }

  val sampleTemperatureSql: String =
    s"""WITH st AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n_lang
       |            FROM documents GROUP BY lang),
       |tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_tot FROM documents),
       |ps AS (SELECT lang, n_lang / n_tot AS p FROM st, tot),
       |mn AS (SELECT min(p) AS p_min FROM ps),
       |rates AS (SELECT lang,
       |    CAST(floor(sqrt(p_min / p) * 10000) AS BIGINT) AS thr_bp
       |  FROM ps, mn)
       |SELECT d.doc_id, d.lang, d.n_chars, r.thr_bp
       |FROM documents d JOIN rates r USING (lang)
       |WHERE ${bucket10kSql("temp", "d.doc_id")} < r.thr_bp
       |ORDER BY d.doc_id""".stripMargin

  // ─── token counters: whitespace approximation vs real BPE ───
  /** Every packing/mixture decision in this family keys on a per-doc
    * token count. Two counters ship: `Whitespace` — the zero-extra-
    * pass approximation (split on ' ') the registered driver queries
    * use, so every oracle hash is unchanged — and `Bpe` — the REAL
    * subword count from TextAnalysis.bpeTokenCounts (the mined merge
    * list actually applied), which is what a production corpus build
    * keys on once a tokenizer exists. The Bpe path joins the counts
    * back by doc_id: one equi-join against a frame derived from the
    * same documents scan, linear at any SF (the merge table itself is
    * a broadcast 1-row array). TokenCounterSpec pins the family's
    * invariants under Bpe: chunk masses sum to the corpus's subword
    * mass, allocations still sum to the budget exactly, and packing
    * utilization still dominates padding. */
  sealed trait TokenCounter
  object TokenCounter {
    case object Whitespace extends TokenCounter
    case object Bpe extends TokenCounter
  }

  /** (doc_id, lang, source, n_tokens) under the chosen counter. The
    * `filtered` flag reproduces each op's exact Whitespace semantics:
    * pack_chunks counts raw split pieces; the mix_* ops drop empty
    * strings. (Bpe has no such ambiguity — subword counts are counts.) */
  private def docTokens(spark: SparkSession, dir: String,
      tc: TokenCounter, filtered: Boolean): DataFrame = tc match {
    case TokenCounter.Whitespace =>
      // graft_ntokens (round 17): token COUNT in one native scan —
      // the filtered variant's filter() HOF ran interpreted, and both
      // variants materialized the token array just to take size().
      val n = call_function("graft_ntokens", col("text"),
        lit(if (filtered) 1 else 0))
      Tables(spark, dir).documents
        .select(col("doc_id"), col("lang"), col("source"),
          n.as("n_tokens"))
    case TokenCounter.Bpe =>
      // bpeTokenCounts carries lang/source off its own documents scan,
      // so the real counter needs no join back to the table (the old
      // doc_id equi-join re-scanned the corpus).
      graft.operators.TextAnalysis.bpeTokenCounts(spark, dir)
        .select(col("doc_id"), col("lang"), col("source"),
          col("bpe_tokens").as("n_tokens"))
  }

  // ─── pack_chunks: concat-then-chunk sequence packing ───
  // Documents are concatenated per language in doc_id order and cut
  // into context windows of `chunkTokens`: chunk = floor(cumulative
  // tokens before this doc / chunkTokens). One window shuffle on the
  // language key; at 100 TB the order/partition key would be
  // (lang, shard) so each shard packs independently — the chunk
  // function itself is already shard-local.
  private val chunkTokens = 2048L

  def packChunks(spark: SparkSession, dir: String): DataFrame =
    packChunksWith(spark, dir, TokenCounter.Whitespace)

  def packChunksWith(spark: SparkSession, dir: String,
      tc: TokenCounter): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docTokens(spark, dir, tc, filtered = false)
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("chunk_id", floor(col("cum_before") / chunkTokens))
      .groupBy(col("lang"), col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("chunk_tokens"))
      .orderBy(col("lang"), col("chunk_id"))
  }

  val packChunksSql: String =
    s"""SELECT lang, chunk_id, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS chunk_tokens
       |FROM (
       |  SELECT lang,
       |    CAST(floor(coalesce(CAST(sum(n_tokens) OVER (
       |      PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
       |      / $chunkTokens) AS BIGINT) AS chunk_id,
       |    n_tokens
       |  FROM (SELECT doc_id, lang,
       |      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |    FROM documents)
       |) GROUP BY lang, chunk_id ORDER BY lang, chunk_id""".stripMargin

  // ─── pack_chunks_bpe: packing on REAL subword counts ───
  // pack_chunks under TokenCounter.Bpe (round-15 verdict: promote one
  // real-token query to the driver gate): the same concat-then-chunk
  // packing, keyed on per-doc BPE subword counts instead of the
  // whitespace approximation — the form a production corpus build
  // runs once a tokenizer exists. The oracle composes TextAnalysis.
  // bpeTokensCtes (per-doc bpe_tokens with lang carried through the
  // merge rounds) with the identical window/chunk SQL, so the real
  // token accounting is hash-checked end to end, not just spec-pinned.
  def packChunksBpe(spark: SparkSession, dir: String): DataFrame =
    packChunksWith(spark, dir, TokenCounter.Bpe)

  val packChunksBpeSql: String =
    s"""WITH ${TextAnalysis.bpeTokensCtes(Seq("lang" -> "lang"))}
       |SELECT lang, chunk_id, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS chunk_tokens
       |FROM (
       |  SELECT lang,
       |    CAST(floor(coalesce(CAST(sum(n_tokens) OVER (
       |      PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
       |      / $chunkTokens) AS BIGINT) AS chunk_id,
       |    n_tokens
       |  FROM (SELECT doc_id, lang, bpe_tokens AS n_tokens FROM bpe_counts)
       |) GROUP BY lang, chunk_id ORDER BY lang, chunk_id""".stripMargin

  // ─── pack_efficiency: padding-waste sweep over context lengths ───
  // The sizing study behind pack_chunks' 2048: for each candidate
  // context length, what do the two packing schemes cost? Pad-to-ctx
  // (one doc per sequence, ceil(t/ctx) sequences each — the naive
  // fine-tuning layout) vs concat-packing (per-language streams cut
  // at ctx — pack_chunks' scheme, ceil(Σt/ctx) per language).
  // util_*_bp = useful tokens per slot, savings_bp = sequences
  // avoided by packing. All integer off the per-doc token counts:
  // two map-side-combined aggregates over the token projection and a
  // constant ×4 context fan-out — nothing corpus-scale survives the
  // first groupBy, at any SF.
  private val packContexts = Seq(512L, 1024L, 2048L, 4096L)

  def packEfficiency(spark: SparkSession, dir: String): DataFrame =
    packEfficiencyWith(spark, dir, TokenCounter.Whitespace)

  def packEfficiencyWith(spark: SparkSession, dir: String,
      tc: TokenCounter): DataFrame = {
    import spark.implicits._
    val toks = docTokens(spark, dir, tc, filtered = false)
      .select(col("lang"), col("n_tokens").as("t"))
    val ctx = packContexts.toDF("ctx")
    val pad = toks.crossJoin(broadcast(ctx))
      .groupBy(col("ctx"))
      .agg(sum(expr("(t + ctx - 1) div ctx")).as("n_seq_pad"),
        sum(col("t")).as("total_tokens"))
    val packed = toks.groupBy(col("lang")).agg(sum(col("t")).as("lt"))
      .crossJoin(broadcast(ctx))
      .groupBy(col("ctx"))
      .agg(sum(expr("(lt + ctx - 1) div ctx")).as("n_seq_packed"))
    pad.join(packed, Seq("ctx"))
      .select(col("ctx"), col("total_tokens"), col("n_seq_pad"),
        col("n_seq_packed"),
        expr("n_seq_pad * ctx - total_tokens").as("pad_tokens"),
        expr("total_tokens * 10000 div (n_seq_pad * ctx)").as("util_pad_bp"),
        expr("total_tokens * 10000 div (n_seq_packed * ctx)").as("util_packed_bp"),
        expr("(n_seq_pad - n_seq_packed) * 10000 div n_seq_pad").as("savings_bp"))
      .orderBy(col("ctx"))
  }

  val packEfficiencySql: String =
    s"""WITH toks AS (
       |  SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS t
       |  FROM documents),
       |ctx(ctx) AS (VALUES ${packContexts.map(c => s"($c::BIGINT)").mkString(", ")}),
       |pad AS (
       |  SELECT ctx, CAST(sum((t + ctx - 1) // ctx) AS BIGINT) AS n_seq_pad,
       |    CAST(sum(t) AS BIGINT) AS total_tokens
       |  FROM toks, ctx GROUP BY ctx),
       |lt AS (SELECT lang, sum(t) AS lt FROM toks GROUP BY lang),
       |packed AS (
       |  SELECT ctx, CAST(sum((lt + ctx - 1) // ctx) AS BIGINT) AS n_seq_packed
       |  FROM lt, ctx GROUP BY ctx)
       |SELECT p.ctx, p.total_tokens, p.n_seq_pad, k.n_seq_packed,
       |  p.n_seq_pad * p.ctx - p.total_tokens AS pad_tokens,
       |  p.total_tokens * 10000 // (p.n_seq_pad * p.ctx) AS util_pad_bp,
       |  p.total_tokens * 10000 // (k.n_seq_packed * p.ctx) AS util_packed_bp,
       |  (p.n_seq_pad - k.n_seq_packed) * 10000 // p.n_seq_pad AS savings_bp
       |FROM pad p JOIN packed k USING (ctx) ORDER BY p.ctx""".stripMargin

  // ─── doc_pipeline: clean → exact-dedup → per-language stats ───
  // The composed shape of a corpus build: length filter, exact dedup
  // on content hash keeping the smallest doc_id (window min — one
  // shuffle, no self-join), then per-language rollup. Demonstrates
  // that the individual operators compose into one Catalyst plan —
  // the filter pushes below the dedup window, and the rollup reuses
  // nothing from the driver.
  def docPipeline(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("text_hash"))
    Tables(spark, dir).documents
      .filter(length(col("text")) >= 200)
      .withColumn("text_hash", md5(col("text")))
      .withColumn("keep_id", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("keep_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("sum_tokens"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))
  }

  val docPipelineSql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM (
      |  SELECT lang, n_chars,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
      |  FROM documents WHERE length(text) >= 200
      |) WHERE doc_id = keep_id GROUP BY lang ORDER BY lang""".stripMargin

  // ─── decontam_ngram: train/benchmark contamination sweep ───
  // Before training, every corpus must be checked for eval-set
  // leakage: find training documents sharing word-3-gram shingles
  // with any benchmark document (the n-gram-overlap decontamination
  // reported for the big LLM corpora). Shape is the asymmetric twin
  // of dedup_ngram_jaccard: the benchmark side is SMALL by nature
  // (an eval suite, not a corpus), so its exploded shingles broadcast
  // and the training corpus streams past map-side — the corpus never
  // shuffles, no df-cap needed because the broadcast side bounds the
  // join fan-out. contam_bp normalizes by the training doc's shingle
  // count: the score that decides quarantine.
  // Benchmark stand-in: every 50th doc_id (an eval-suite fixture).
  private val benchMod = 50

  def decontamNgram(spark: SparkSession, dir: String): DataFrame = {
    val ex = graft.operators.Dedup.shingleRows(spark, dir)
      .select(col("doc_id"), col("n_sh"), col("shingle").as("s"))
    val bench = ex.filter(col("doc_id") % benchMod === 0)
      .select(col("doc_id").as("bench_doc"), col("s").as("bs"))
    val train = ex.filter(col("doc_id") % benchMod =!= 0)
    train.join(broadcast(bench), col("s") === col("bs"))
      .groupBy(col("doc_id").as("train_doc"), col("bench_doc"),
        col("n_sh"))
      .agg(count(lit(1)).as("n_shared"))
      .select(col("train_doc"), col("bench_doc"), col("n_shared"),
        floor(col("n_shared") * 10000.0 / col("n_sh") + 0.5)
          .cast("long").as("contam_bp"))
      .orderBy(col("train_doc"), col("bench_doc"))
  }

  val decontamNgramSql: String =
    s"""WITH ${graft.operators.Dedup.docShinglesSql},
       |sr AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM shdocs),
       |bench AS (SELECT doc_id AS bench_doc, s FROM sr
       |          WHERE doc_id % $benchMod = 0),
       |train AS (SELECT doc_id, n_sh, s FROM sr WHERE doc_id % $benchMod <> 0),
       |shared AS (
       |  SELECT t.doc_id AS train_doc, b.bench_doc, t.n_sh,
       |    count(*) AS n_shared
       |  FROM train t JOIN bench b ON t.s = b.s GROUP BY 1, 2, 3)
       |SELECT train_doc, bench_doc, n_shared,
       |  CAST(floor(n_shared * 10000.0 / n_sh + 0.5) AS BIGINT) AS contam_bp
       |FROM shared ORDER BY train_doc, bench_doc""".stripMargin

  // ─── sample_reservoir: exact-k deterministic sample per stratum ───
  // Rate sampling (sample_stratified) yields a BINOMIAL count per
  // stratum; eval sets and per-language probes need EXACTLY k rows —
  // the reservoir guarantee. The distributed equivalent of reservoir
  // sampling with a fixed seed: rank every row by a uniform
  // deterministic hash within its stratum and keep the k smallest
  // (Algorithm-A-style priority sampling; one shuffle on the stratum
  // key, linear window scan, no per-row randomness to reconcile
  // across engines). Hash ties are impossible at k ≪ 2⁶⁰/100... but
  // doc_id tie-breaks anyway to keep the window total-ordered.
  private val reservoirK = 20
  def sampleReservoir(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("hkey"), col("doc_id"))
    Tables(spark, dir).documents
      .withColumn("hkey", bucket10k("reservoir", col("doc_id")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= reservoirK)
      .select(col("lang"), col("rk"), col("doc_id"), col("n_chars"))
      .orderBy(col("lang"), col("rk"))
  }

  val sampleReservoirSql: String =
    s"""SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id, n_chars FROM (
       |  SELECT *, row_number() OVER (PARTITION BY lang
       |    ORDER BY ${bucket10kSql("reservoir", "doc_id")}, doc_id) AS rk
       |  FROM documents)
       |WHERE rk <= $reservoirK ORDER BY lang, rk""".stripMargin

  // ─── split_kfold: deterministic k-fold cross-validation assignment ───
  // Fold = content-hash bucket mod k — the same hash-IS-the-
  // coordination discipline as split_hash, so folds are stable under
  // re-runs, shard arrival order, and engine replay. Output is the
  // per-(fold, lang) census a CV harness needs to verify balance.
  // Map-only assignment + one small-keyed aggregate; no shuffle of
  // the corpus itself.
  private val kFolds = 5

  def splitKfold(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .withColumn("fold", (bucket100("kfold", col("doc_id")) % kFolds).cast("long"))
      .groupBy(col("fold"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
      .orderBy(col("fold"), col("lang"))

  val splitKfoldSql: String =
    s"""SELECT CAST(${bucket100Sql("kfold", "doc_id")} % $kFolds AS BIGINT) AS fold,
       |  lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
       |FROM documents GROUP BY 1, 2 ORDER BY fold, lang""".stripMargin

  // ─── mix_apportion: exact token-budget apportionment across sources ───
  // Domain-mixing allocation: a fixed training-token budget is split
  // across sources proportionally to their token mass using LARGEST-
  // REMAINDER apportionment (Hamilton's method), entirely in integer
  // arithmetic — quota = budget·tokens DIV total, then the leftover
  // seats go to the largest integer remainders (source-name
  // tie-break) — so the allocations sum to the budget EXACTLY and
  // hash-match across engines (no double rounding anywhere). One
  // corpus aggregate with map-side combine down to |sources| rows;
  // the windows run on that broadcast-sized table only.
  private val mixBudget = 1000000L

  def mixApportion(spark: SparkSession, dir: String): DataFrame =
    mixApportionWith(spark, dir, TokenCounter.Whitespace)

  def mixApportionWith(spark: SparkSession, dir: String,
      tc: TokenCounter): DataFrame = {
    val all = Window.partitionBy(lit(1))
    val byRem = Window.partitionBy(lit(1))
      .orderBy(col("rem").desc, col("source"))
    docTokens(spark, dir, tc, filtered = true)
      .groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("tokens"))
      .withColumn("total", sum(col("tokens")).over(all))
      .withColumn("quota_num", col("tokens") * mixBudget)
      .withColumn("base", floor(col("quota_num") / col("total")).cast("long"))
      .withColumn("rem", col("quota_num") - col("base") * col("total"))
      .withColumn("leftover", (lit(mixBudget) - sum(col("base")).over(all)).cast("long"))
      .withColumn("rk", row_number().over(byRem).cast("long"))
      .select(col("source"), col("tokens"),
        (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
          .as("alloc_tokens"))
      .orderBy(col("source"))
  }

  val mixApportionSql: String =
    s"""WITH src AS (
       |  SELECT source,
       |    CAST(sum(len(list_filter(string_split(text, ' '), w -> w <> '')))
       |      AS BIGINT) AS tokens
       |  FROM documents GROUP BY 1),
       |q AS (
       |  SELECT source, tokens,
       |    sum(tokens) OVER () AS total,
       |    tokens * $mixBudget AS quota_num
       |  FROM src),
       |b AS (
       |  SELECT source, tokens,
       |    CAST(quota_num // total AS BIGINT) AS base,
       |    quota_num % total AS rem
       |  FROM q),
       |r AS (
       |  SELECT *,
       |    CAST($mixBudget - sum(base) OVER () AS BIGINT) AS leftover,
       |    row_number() OVER (ORDER BY rem DESC, source) AS rk
       |  FROM b)
       |SELECT source, tokens,
       |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
       |    AS alloc_tokens
       |FROM r ORDER BY source""".stripMargin

  // ─── sample_balanced: exact class balancing to the minority size ───
  // Downsample every language to EXACTLY the smallest language's
  // count (the class-balancing eval-set builder): per-language counts
  // are a broadcast-sized aggregate, the global min rides along as a
  // 1-row broadcast join, and membership is the same deterministic
  // hash-rank-within-stratum as sample_reservoir — so the output is
  // a pure function of the corpus, stable under re-runs and shard
  // order. One shuffle on lang; nothing corpus-sized is ever sorted
  // globally.
  def sampleBalanced(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, dir).documents
    val kMin = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .agg(min(col("n")).as("k"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("hkey"), col("doc_id"))
    docs
      .withColumn("hkey", bucket10k("balance", col("doc_id")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .join(broadcast(kMin))
      .filter(col("rk") <= col("k"))
      .select(col("lang"), col("rk"), col("doc_id"), col("n_chars"))
      .orderBy(col("lang"), col("rk"))
  }

  val sampleBalancedSql: String =
    s"""WITH k AS (SELECT min(n) AS k FROM (
       |    SELECT lang, count(*) AS n FROM documents GROUP BY 1)),
       |r AS (
       |  SELECT lang, doc_id, n_chars,
       |    CAST(row_number() OVER (PARTITION BY lang
       |      ORDER BY ${bucket10kSql("balance", "doc_id")}, doc_id) AS BIGINT) AS rk
       |  FROM documents)
       |SELECT lang, rk, doc_id, n_chars FROM r, k
       |WHERE rk <= k.k ORDER BY lang, rk""".stripMargin

  // ─── mix_dedup_rate: per-source duplication-rate profile ───
  // The corpus-health number a mixing decision needs next to
  // mix_apportion: how much of each source is redundant. Normalized
  // content hash (same normalization as dedup_exact), per-hash copy
  // counts, then a per-source rollup of docs living in multi-copy
  // groups. Two keyed aggregates, both with map-side combine; the
  // hash join-back is co-keyed with the count it joins to.
  def mixDedupRate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).parallelized("documents", "doc_id")
      .withColumn("text_md5",
        md5(trim(regexp_replace(lower(col("text")), "[ \t\n\f\r]+", " "))))
    val copies = docs.groupBy(col("text_md5")).agg(count(lit(1)).as("n_copies"))
    docs.join(copies, Seq("text_md5"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_copies") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
      .withColumn("dup_bp",
        floor(col("n_dup_docs") * 10000L / col("n_docs")).cast("long"))
      .orderBy(col("source"))
  }

  val mixDedupRateSql: String =
    """WITH d AS (
      |  SELECT source,
      |    md5(trim(regexp_replace(lower(text), '[ \t\n\f\r]+', ' ', 'g')))
      |      AS text_md5
      |  FROM documents),
      |c AS (SELECT text_md5, count(*) AS n_copies FROM d GROUP BY 1)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN c.n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup_docs,
      |  CAST(sum(CASE WHEN c.n_copies > 1 THEN 1 ELSE 0 END) * 10000
      |    // count(*) AS BIGINT) AS dup_bp
      |FROM d JOIN c USING (text_md5)
      |GROUP BY 1 ORDER BY source""".stripMargin

  // ─── sample_curriculum: difficulty stages + language interleave ───
  // Curriculum data ordering: train on easy documents first, harder
  // later, WITHOUT de-mixing languages inside a stage (a stage that
  // happens to be all-English skews the early gradient steps).
  // Difficulty proxy = n_chars (short docs first); stage = ntile(10)
  // over (difficulty, doc_id); within a stage the emit order
  // round-robins across languages: rank within (stage, lang) is the
  // round number, and ordering by (round, lang, doc_id) yields
  // L1,L2,…,Ln, L1,L2,… — the deterministic interleave.
  //
  // NO single-partition pass anywhere (the top defect class —
  // the old ntile-over-everything window sorted the whole corpus in
  // one task):
  //  - stage is ntile over the exact global rank from Ranks
  //    .groupedRank — ledger bounded by |distinct n_chars| ×
  //    (id-range >> 20);
  //  - round is the per-(stage, lang) rank, ledger-decomposed the
  //    same way;
  //  - seq (the interleave position within the stage) is CLOSED FORM
  //    from the broadcast per-(stage, lang) counts — a row at round r
  //    of language l is preceded by min(cnt_l', r−1) rows of every
  //    language l' (their earlier rounds) plus one row for each
  //    l' < l still alive at round r — so no window at all touches
  //    the data for it.
  // The oracle keeps the plain ntile/row_number formulation; the
  // decomposition reproduces those semantics exactly.
  private val curriculumStages = 10

  def sampleCurriculum(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val staged = Ranks.groupedRank(docs, Nil,
        Seq(col("n_chars"), shiftright(col("doc_id"), 20)),
        Seq(col("n_chars"), col("doc_id")), "__rank", "__n")
      .withColumn("stage",
        Ranks.ntileFromRank(col("__rank"), col("__n"), curriculumStages))
      .drop("__rank", "__n")
    val rounded = Ranks.groupedRank(staged, Seq("stage", "lang"),
        Seq(shiftright(col("doc_id"), 20)), Seq(col("doc_id")),
        "round", "__gn")
      .drop("__gn")
    // Per-stage language census: ≤ stages × |langs| rows, broadcast.
    val langCounts = rounded.groupBy(col("stage"), col("lang"))
      .agg(count(lit(1)).as("lcnt"))
      .groupBy(col("stage"))
      .agg(sort_array(collect_list(struct(col("lang"), col("lcnt")))).as("lc"))
    rounded.join(broadcast(langCounts), Seq("stage"))
      .withColumn("seq", expr(
        """aggregate(lc, 0L, (acc, x) ->
          |  acc + least(x.lcnt, round - 1L)
          |      + IF(x.lang < lang AND x.lcnt >= round, 1L, 0L)) + 1L""".stripMargin))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("stage"),
        col("round"), col("seq"))
      .orderBy(col("stage"), col("seq"))
  }

  val sampleCurriculumSql: String =
    s"""WITH st AS (
       |  SELECT doc_id, lang, n_chars,
       |    CAST(ntile($curriculumStages) OVER (ORDER BY n_chars, doc_id)
       |      AS BIGINT) AS stage
       |  FROM documents),
       |rr AS (
       |  SELECT doc_id, lang, n_chars, stage,
       |    CAST(row_number() OVER (PARTITION BY stage, lang ORDER BY doc_id)
       |      AS BIGINT) AS round
       |  FROM st)
       |SELECT doc_id, lang, n_chars, stage, round,
       |  CAST(row_number() OVER (PARTITION BY stage
       |    ORDER BY round, lang, doc_id) AS BIGINT) AS seq
       |FROM rr ORDER BY stage, seq""".stripMargin

  // ─── mix_reweight: resampling weights toward a target mixture ───
  // The domain-mixture knob of corpus assembly: given the observed
  // per-language share, the multiplier each language needs to hit the
  // TARGET mixture (uniform here — the shape generalizes to any
  // broadcast target table). weight_bp = N·10⁴ div (L·n_lang), all
  // integer. A language over target gets < 10⁴ (downsample), under
  // target > 10⁴ (upsample/repeat) — exactly the number a
  // sample_temperature-style pass consumes. One map-side-combining
  // aggregate + a 1-row broadcast crossJoin; nothing driver-side.
  def mixReweight(spark: SparkSession, dir: String): DataFrame = {
    val perLang = Tables(spark, dir).documents
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val totals = perLang.agg(sum(col("n_docs")).as("n_total"),
      count(lit(1)).as("n_langs"))
    perLang.crossJoin(broadcast(totals))
      .select(col("lang"), col("n_docs"),
        expr("n_docs * 10000 div n_total").as("share_bp"),
        expr("10000 div n_langs").as("target_bp"),
        expr("n_total * 10000 div (n_langs * n_docs)").as("weight_bp"))
      .orderBy(col("lang"))
  }

  val mixReweightSql: String =
    """WITH pl AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
      |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
      |        count(*) AS n_langs FROM pl)
      |SELECT lang, n_docs,
      |  n_docs * 10000 // n_total AS share_bp,
      |  10000 // n_langs AS target_bp,
      |  n_total * 10000 // (n_langs * n_docs) AS weight_bp
      |FROM pl CROSS JOIN t ORDER BY lang""".stripMargin

  // ─── mix_source_overlap: cross-source near-dup contamination matrix ───
  // Which sources are feeding you the same content? The per-source-
  // PAIR rollup of the MinHash candidate graph (mix_dedup_rate's
  // cross-source sibling): near-dup pair counts between every source
  // pair, normalized to parts-per-million of the possible pairs —
  // the number that tells you a crawl and a curated set overlap
  // before you pay for a full dedup. Pairs ride the shared LSH
  // fixture; the source tags join on the (already tiny) pair frame;
  // output is |sources|²-bounded.
  // ─── mix_novelty: marginal-contribution curve via KMV prefix unions ───
  // The data-acquisition question mix_source_overlap can't answer:
  // "in ingestion order, how much NEW distinct content does each
  // source add on top of everything before it?" Exact answer needs a
  // cumulative distinct over the corpus per prefix — O(S·n). Sketch
  // answer: per-source KMV sketches (k smallest 52-bit hashes of the
  // distinct content set — the same hash/k as ScaleOps.sketch_kmv, so
  // the two dashboards agree), then every PREFIX union is a union of
  // ≤ S·k sketch values: est_cum(i) = (k−1)·2^52 / v_k of the prefix
  // union (exact below k), and novelty(i) = est_cum(i) − est_cum(i−1).
  // KMV unions are exact sketch algebra (the k smallest of a union of
  // k-smallest sets IS the union's sketch), so the whole curve costs
  // one corpus distinct + bounded-frame work. The k-smallest selection
  // is the same two-level bound as sketch_kmv; prefix membership and
  // the union rank ride broadcast frames of ≤ S·k rows. Monotone by
  // construction (a prefix's v_k never increases when a source joins),
  // so est_new ≥ 0. Integer arithmetic throughout — DuckDB replays
  // the sketches bit-for-bit.
  private val novK = 128
  private val novBits = 52

  def mixNovelty(spark: SparkSession, dir: String): DataFrame = {
    val dv = Tables(spark, dir).documents
      .select(col("source"),
        conv(substring(md5(concat(lit("kmv:"), col("text"))), 1, 13), 16, 10)
          .cast("long").as("v"))
      .distinct()
    val localTop = dv
      .withColumn("pid", spark_partition_id())
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source"), col("pid")).orderBy(col("v"))))
      .filter(col("rn") <= novK).drop("rn", "pid")
    val sk = localTop
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("v"))))
      .filter(col("rn") <= novK).drop("rn")
    // Prefix membership in source-name order (the fixed ingestion
    // order): member m belongs to every prefix anchored at s ≥ m.
    val srcs = sk.select(col("source")).distinct()
    val pref = srcs.select(col("source").as("anchor"))
      .join(broadcast(srcs.select(col("source").as("member"))),
        col("member") <= col("anchor"))
    val rk = pref.groupBy(col("anchor")).agg(count(lit(1)).as("rnk"))
    val uni = broadcast(pref)
      .join(sk.withColumnRenamed("source", "member"), Seq("member"))
      .groupBy(col("anchor"))
      .agg(sort_array(collect_set(col("v"))).as("vs"))
    val est = uni.join(broadcast(rk), Seq("anchor"))
      .select(col("anchor"), col("rnk"),
        expr(s"CASE WHEN size(vs) < $novK THEN CAST(size(vs) AS BIGINT) " +
          s"ELSE ${(novK - 1).toLong << novBits} DIV element_at(vs, $novK) END")
          .as("est_cum"))
    est.as("a")
      .join(broadcast(est.as("b")), col("a.rnk") === col("b.rnk") + 1, "left")
      .select(col("a.anchor").as("source"), col("a.rnk").as("rnk"),
        col("a.est_cum").as("est_cum"),
        (col("a.est_cum") - coalesce(col("b.est_cum"), lit(0L))).as("est_new"))
      .orderBy(col("rnk"))
  }

  val mixNoveltySql: String =
    s"""WITH dv AS (
       |  SELECT DISTINCT source,
       |    CAST(('0x' || substr(md5('kmv:' || text), 1, 13)) AS BIGINT) AS v
       |  FROM documents),
       |rk0 AS (
       |  SELECT source, v,
       |    row_number() OVER (PARTITION BY source ORDER BY v) AS rn
       |  FROM dv),
       |sk AS (SELECT source, v FROM rk0 WHERE rn <= $novK),
       |srcs AS (SELECT DISTINCT source FROM sk),
       |pref AS (
       |  SELECT a.source AS anchor, b.source AS member
       |  FROM srcs a JOIN srcs b ON b.source <= a.source),
       |rk AS (SELECT anchor, count(*) AS rnk FROM pref GROUP BY 1),
       |uni AS (
       |  SELECT p.anchor, list_sort(list(DISTINCT s.v)) AS vs
       |  FROM pref p JOIN sk s ON s.source = p.member GROUP BY 1),
       |est AS (
       |  SELECT u.anchor, r.rnk,
       |    CAST(CASE WHEN len(vs) < $novK THEN len(vs)
       |         ELSE ${(novK - 1).toLong << novBits} // vs[$novK] END AS BIGINT)
       |      AS est_cum
       |  FROM uni u JOIN rk r USING (anchor))
       |SELECT a.anchor AS source, a.rnk, a.est_cum,
       |  CAST(a.est_cum - COALESCE(b.est_cum, 0) AS BIGINT) AS est_new
       |FROM est a LEFT JOIN est b ON a.rnk = b.rnk + 1
       |ORDER BY a.rnk""".stripMargin

  def mixSourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.pairEdges(spark, dir).filter(col("src") < col("dst"))
    val srcs = Tables(spark, dir).documents.select(col("doc_id"), col("source"))
    val per = srcs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    pairs
      .join(srcs.select(col("doc_id").as("src"), col("source").as("sa")), Seq("src"))
      .join(srcs.select(col("doc_id").as("dst"), col("source").as("sb")), Seq("dst"))
      .select(least(col("sa"), col("sb")).as("src_lo"),
        greatest(col("sa"), col("sb")).as("src_hi"))
      .groupBy(col("src_lo"), col("src_hi")).agg(count(lit(1)).as("n_pairs"))
      .join(broadcast(per.select(col("source").as("src_lo"), col("n_docs").as("n_lo"))),
        Seq("src_lo"))
      .join(broadcast(per.select(col("source").as("src_hi"), col("n_docs").as("n_hi"))),
        Seq("src_hi"))
      .select(col("src_lo"), col("src_hi"), col("n_pairs"), col("n_lo"), col("n_hi"),
        expr("CASE WHEN src_lo = src_hi" +
          " THEN n_pairs * 1000000 div (n_lo * (n_lo - 1) div 2)" +
          " ELSE n_pairs * 1000000 div (n_lo * n_hi) END").as("rate_ppm"))
      .orderBy(col("src_lo"), col("src_hi"))
  }

  val mixSourceOverlapSql: String =
    s"""WITH ${Dedup.edgesCtes},
       |per AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
       |tagged AS (
       |  SELECT least(da.source, db.source) AS src_lo,
       |    greatest(da.source, db.source) AS src_hi, count(*) AS n_pairs
       |  FROM cand c
       |  JOIN documents da ON c.doc_a = da.doc_id
       |  JOIN documents db ON c.doc_b = db.doc_id
       |  GROUP BY 1, 2)
       |SELECT src_lo, src_hi, n_pairs, pl.n_docs AS n_lo, ph.n_docs AS n_hi,
       |  CASE WHEN src_lo = src_hi
       |    THEN n_pairs * 1000000 // (pl.n_docs * (pl.n_docs - 1) // 2)
       |    ELSE n_pairs * 1000000 // (pl.n_docs * ph.n_docs) END AS rate_ppm
       |FROM tagged
       |JOIN per pl ON src_lo = pl.source
       |JOIN per ph ON src_hi = ph.source
       |ORDER BY src_lo, src_hi""".stripMargin

  // ─── mix_waterfill: token-budget allocation across languages ───
  // The corpus-assembly allocator: given a total token budget (¾ of
  // the corpus's chars here — ¾ rather than ½ so that at every SF the
  // skewed language distribution exercises BOTH branches: small
  // languages saturate, the en giant does not) and each language's
  // available volume, water-fill: every language gets the common
  // level λ except languages whose supply is below λ, which are
  // taken whole ("saturated"), with λ chosen so the allocations sum
  // EXACTLY to the budget. Closed form, no iteration: sort
  // languages by supply ascending, one is saturated iff its supply
  // ≤ the budget left after all smaller languages are taken whole,
  // split evenly among it and everything larger — a condition
  // monotone in the sort, so the saturated set is a prefix found by
  // one max(). The integer remainder of the final division goes one
  // char each to the first unsaturated languages in sort order
  // (Hamilton-style, as mix_apportion), so Σalloc = budget exactly.
  // Everything after the per-language rollup runs on a |langs|-row
  // frame (the ranking window there is bounded by key cardinality,
  // not data — the mix_apportion precedent).
  def mixWaterfill(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables(spark, dir).documents
      .groupBy(col("lang")).agg(sum(col("n_chars")).as("avail"))
    val tot = per.agg(sum(col("avail")).as("total"), count(lit(1)).as("m"))
    val w = Window.orderBy(col("avail"), col("lang"))
    val s = per.crossJoin(broadcast(tot))
      .withColumn("budget", expr("total * 3 div 4"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("avail"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("sat",
        col("avail") * (col("m") - col("rk") + 1) <=
          col("budget") - col("cum") + col("avail"))
    val ks = s.agg(
      coalesce(max(when(col("sat"), col("rk"))), lit(0L)).as("ksat"),
      coalesce(max(when(col("sat"), col("cum"))), lit(0L)).as("satcum"))
    s.crossJoin(broadcast(ks))
      .withColumn("n_unsat", greatest(col("m") - col("ksat"), lit(1L)))
      .withColumn("rem", col("budget") - col("satcum"))
      .withColumn("alloc", when(col("sat"), col("avail"))
        .otherwise(expr("rem div n_unsat") +
          when(col("rk") - col("ksat") <= pmod(col("rem"), col("n_unsat")),
            lit(1L)).otherwise(lit(0L))))
      .select(col("lang"), col("avail"), col("alloc"),
        when(col("sat"), lit(1L)).otherwise(lit(0L)).as("saturated"),
        expr("alloc * 10000 div budget").as("share_bp"))
      .orderBy(col("lang"))
  }

  val mixWaterfillSql: String =
    """WITH per AS (
      |  SELECT lang, CAST(sum(n_chars) AS BIGINT) AS avail
      |  FROM documents GROUP BY lang),
      |t AS (SELECT CAST(sum(avail) AS BIGINT) AS total,
      |        CAST(count(*) AS BIGINT) AS m FROM per),
      |s AS (
      |  SELECT lang, avail, total * 3 // 4 AS budget, m,
      |    CAST(row_number() OVER (ORDER BY avail, lang) AS BIGINT) AS rk,
      |    CAST(sum(avail) OVER (ORDER BY avail, lang
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM per CROSS JOIN t),
      |s2 AS (
      |  SELECT *, avail * (m - rk + 1) <= budget - cum + avail AS sat FROM s),
      |k AS (
      |  SELECT coalesce(max(rk) FILTER (WHERE sat), 0) AS ksat,
      |    coalesce(max(cum) FILTER (WHERE sat), 0) AS satcum
      |  FROM s2)
      |SELECT lang, avail,
      |  CASE WHEN sat THEN avail
      |    ELSE (budget - satcum) // greatest(m - ksat, 1)
      |      + CASE WHEN rk - ksat <=
      |          (budget - satcum) % greatest(m - ksat, 1)
      |        THEN 1 ELSE 0 END END AS alloc,
      |  CAST(CASE WHEN sat THEN 1 ELSE 0 END AS BIGINT) AS saturated,
      |  (CASE WHEN sat THEN avail
      |    ELSE (budget - satcum) // greatest(m - ksat, 1)
      |      + CASE WHEN rk - ksat <=
      |          (budget - satcum) % greatest(m - ksat, 1)
      |        THEN 1 ELSE 0 END END) * 10000 // budget AS share_bp
      |FROM s2 CROSS JOIN k ORDER BY lang""".stripMargin

  // ─── sample_epoch_order: deterministic per-epoch training shuffle ───
  // The epoch-shuffle a training loader needs, as a pure function:
  // epoch e's order is the rank of md5("epoch<e>:doc_id") — a fresh,
  // decorrelated permutation per epoch that any worker (or a restart,
  // or a re-run on re-partitioned shards) reproduces independently,
  // with no shared RNG state and no materialized permutation table.
  // The rank is exact via Ranks.groupedRank partitioned by epoch with
  // the hash's first hex byte as the bucket (a lexicographic prefix
  // is monotone in the full hash order; 256 buckets × epochs is the
  // whole ledger) — per-task input is one hash band, never an epoch's
  // full corpus. Two epochs here demonstrate the independence.
  private val epochCount = 2

  def sampleEpochOrder(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).documents.select(col("doc_id"))
      .withColumn("epoch",
        explode(array((0 until epochCount).map(i => lit(i.toLong)): _*)))
      .withColumn("h", md5(concat(lit("epoch"), col("epoch").cast("string"),
        lit(":"), col("doc_id").cast("string"))))
    Ranks.groupedRank(e, Seq("epoch"), Seq(substring(col("h"), 1, 2)),
        Seq(col("h"), col("doc_id")), "pos", "__n")
      .select(col("epoch"), col("pos"), col("doc_id"))
      .orderBy(col("epoch"), col("pos"))
  }

  val sampleEpochOrderSql: String =
    s"""WITH e AS (
       |  SELECT doc_id, CAST(epoch AS BIGINT) AS epoch,
       |    md5('epoch' || CAST(epoch AS VARCHAR) || ':'
       |      || CAST(doc_id AS VARCHAR)) AS h
       |  FROM documents,
       |    (SELECT unnest(range(0, $epochCount)) AS epoch))
       |SELECT epoch, CAST(row_number() OVER (PARTITION BY epoch
       |    ORDER BY h, doc_id) AS BIGINT) AS pos, doc_id
       |FROM e ORDER BY epoch, pos""".stripMargin

  // ─── sample_strat_neyman: Neyman-optimal stratified allocation ───
  // Stratified sampling's textbook answer to "how many samples per
  // stratum": allocate ∝ N_h·S_h (Neyman 1934) — big AND internally
  // varied strata get more budget, minimizing the estimator variance
  // for a fixed total n. Per-language doc-length std comes from exact
  // integer moments; the ONLY double is one fixed-shape per-stratum
  // expression QUANTIZED immediately (w_h = ⌊N_h·S_h/100⌋), and the
  // allocation itself is mix_apportion's integer Hamilton rounding
  // over those integer weights — allocations sum to the budget
  // exactly and hash-match cross-engine. One corpus aggregate to the
  // |langs| frame; every window runs on that frame.
  private val neymanBudget = 100L

  def sampleStratNeyman(spark: SparkSession, dir: String): DataFrame = {
    val all = Window.partitionBy(lit(1))
    val byRem = Window.partitionBy(lit(1))
      .orderBy(col("rem").desc, col("lang"))
    val st = Tables(spark, dir).documents
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_h"), sum(col("n_chars")).as("s1"),
        sum(col("n_chars") * col("n_chars")).as("s2"))
      .withColumn("var",
        (col("s2").cast("double") / col("n_h")) -
          (col("s1").cast("double") / col("n_h")) *
          (col("s1").cast("double") / col("n_h")))
      .withColumn("w",
        floor(col("n_h").cast("double") * sqrt(col("var")) / 100).cast("long"))
    st.withColumn("total", sum(col("w")).over(all))
      .withColumn("quota_num", col("w") * neymanBudget)
      .withColumn("base", expr("quota_num div total"))
      .withColumn("rem", col("quota_num") - col("base") * col("total"))
      .withColumn("leftover",
        (lit(neymanBudget) - sum(col("base")).over(all)).cast("long"))
      .withColumn("rk", row_number().over(byRem).cast("long"))
      .select(col("lang"), col("n_h"),
        floor(sqrt(col("var")) * 100).cast("long").as("std_x100"),
        col("w").as("weight"),
        (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
          .as("alloc"))
      .orderBy(col("lang"))
  }

  val sampleStratNeymanSql: String =
    s"""WITH st AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n_h,
       |    CAST(sum(n_chars) AS BIGINT) AS s1,
       |    CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
       |  FROM documents GROUP BY lang),
       |wv AS (
       |  SELECT lang, n_h,
       |    CAST(s2 AS DOUBLE) / n_h
       |      - (CAST(s1 AS DOUBLE) / n_h) * (CAST(s1 AS DOUBLE) / n_h)
       |      AS var,
       |    CAST(floor(CAST(n_h AS DOUBLE) * sqrt(CAST(s2 AS DOUBLE) / n_h
       |      - (CAST(s1 AS DOUBLE) / n_h) * (CAST(s1 AS DOUBLE) / n_h))
       |      / 100) AS BIGINT) AS w
       |  FROM st),
       |q AS (
       |  SELECT lang, n_h, var, w,
       |    CAST(sum(w) OVER () AS BIGINT) AS total,
       |    w * $neymanBudget AS quota_num
       |  FROM wv),
       |b AS (
       |  SELECT *, CAST(quota_num // total AS BIGINT) AS base,
       |    quota_num % total AS rem
       |  FROM q),
       |r AS (
       |  SELECT *,
       |    CAST($neymanBudget - sum(base) OVER () AS BIGINT) AS leftover,
       |    row_number() OVER (ORDER BY rem DESC, lang) AS rk
       |  FROM b)
       |SELECT lang, n_h,
       |  CAST(floor(sqrt(var) * 100) AS BIGINT) AS std_x100,
       |  w AS weight,
       |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
       |    AS alloc
       |FROM r ORDER BY lang""".stripMargin

  // ─── mix_ess: effective sample size of the reweighted corpus ───
  // The diagnostic that tells you whether mix_reweight's importance
  // weights are safe to train on: ESS = (Σw)²/Σw² — how many
  // EFFECTIVE docs the weighted corpus is worth; ESS ≪ n means a few
  // heavy languages dominate and the mixture knob is too aggressive
  // (Kong 1992, the importance-sampling ESS). Weights are constant
  // per language, so both sums collapse onto the ≤|langs| frame —
  // Σw = Σ n_l·w_l, Σw² = Σ n_l·w_l² — exact integers at any corpus
  // size. The squaring is the scale hazard: sw ≈ n_total·10⁴ bp, so
  // sw²·100 passes i64 already at ~3·10⁴ docs (the sf1 step-up run
  // caught exactly this) — the square rides DECIMAL(38,0) /
  // HUGEINT, 38 digits ⇒ exact to n_total ~10¹⁴ docs, and only the
  // metadata-sized QUOTIENT (ess_x100 ≤ n_total·100) returns to i64.
  def mixEss(spark: SparkSession, dir: String): DataFrame =
    mixReweight(spark, dir)
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_docs") * col("weight_bp")).as("sw"),
        sum(col("n_docs") * col("weight_bp") * col("weight_bp")).as("sw2"))
      .select(col("n_docs"),
        expr("cast(cast(sw AS decimal(38,0)) * sw * 100 div sw2 AS bigint)")
          .as("ess_x100"),
        // off ess_x100, not sw²·10⁴ — the second ratio never needs
        // the wide lane
        expr("cast(cast(sw AS decimal(38,0)) * sw * 100 div sw2 AS bigint)" +
          " * 100 div n_docs").as("efficiency_bp"))

  val mixEssSql: String =
    """WITH pl AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
      |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
      |        count(*) AS n_langs FROM pl),
      |w AS (
      |  SELECT n_docs,
      |    n_total * 10000 // (n_langs * n_docs) AS weight_bp
      |  FROM pl CROSS JOIN t),
      |s AS (
      |  SELECT CAST(sum(n_docs) AS BIGINT) AS n_docs,
      |    CAST(sum(n_docs * weight_bp) AS BIGINT) AS sw,
      |    CAST(sum(n_docs * weight_bp * weight_bp) AS BIGINT) AS sw2
      |  FROM w)
      |SELECT n_docs,
      |  CAST(CAST(sw AS HUGEINT) * sw * 100 // sw2 AS BIGINT) AS ess_x100,
      |  CAST(CAST(sw AS HUGEINT) * sw * 100 // sw2 AS BIGINT) * 100 // n_docs
      |    AS efficiency_bp
      |FROM s""".stripMargin

  // ─── sample_priority: weighted subset-sum sample (DLT) ───
  // Priority sampling (Duffield–Lund–Thorup, JACM 2007): a fixed-k
  // WEIGHTED sample that answers subset-sum queries nearly optimally.
  // Each doc gets priority p = w/u with u uniform in (0,1]; keep the
  // k highest priorities; with τ = the (k+1)th priority, Σ max(wᵢ, τ)
  // over the sample is an unbiased estimate of Σw — the sketch that
  // lets a 100 TB corpus answer "how many chars does this slice hold"
  // from k rows. Determinism discipline: u comes from 48 md5 bits so
  // p = w·2⁴⁸ div (h+1) is EXACT integer arithmetic in both engines
  // (w ≤ ~10⁶ keeps w·2⁴⁸ inside i64); top-(k+1) is orderBy+limit
  // (TakeOrdered — distributed partial top-k), and the rank window
  // runs on k+1 rows (the text_zipf bounded-frame shape). The exact
  // total rides a 1-row O(1) aggregate — an audit column, not a sort.
  private val priK = 64
  private val priScaleBits = 48

  def samplePriority(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byP = Window.partitionBy(lit(1))
      .orderBy(col("priority").desc, col("doc_id"))
    val pri = Tables(spark, dir).documents
      .select(col("doc_id"), col("n_chars").as("w_chars"))
      .withColumn("h",
        conv(substring(md5(concat(lit("pri:"), col("doc_id").cast("string"))),
          1, 12), 16, 10).cast("long"))
      .withColumn("priority",
        expr(s"w_chars * ${1L << priScaleBits} div (h + 1)"))
      .orderBy(col("priority").desc, col("doc_id")).limit(priK + 1)
      .withColumn("rank", row_number().over(byP).cast("long"))
    val tau = pri.filter(col("rank") === priK + 1)
      .select(col("priority").as("tau"))
    val exact = Tables(spark, dir).documents
      .agg(sum(col("n_chars")).as("exact_chars"))
    val est = pri.filter(col("rank") <= priK)
      .crossJoin(broadcast(tau))
      .groupBy(col("tau"))
      .agg(sum(greatest(col("w_chars"), col("tau"))).as("est_chars"))
    pri.filter(col("rank") <= priK)
      .crossJoin(broadcast(est))
      .crossJoin(broadcast(exact))
      .select(col("rank"), col("doc_id"), col("w_chars"), col("priority"),
        col("tau"), col("est_chars"), col("exact_chars"),
        expr("abs(est_chars - exact_chars) * 10000 div exact_chars")
          .as("err_bp"))
      .orderBy(col("rank"))
  }

  val samplePrioritySql: String = {
    val scale = 1L << priScaleBits
    s"""WITH pri AS (
       |  SELECT doc_id, n_chars AS w_chars,
       |    n_chars * $scale
       |      // (CAST(('0x' || substr(md5('pri:' || CAST(doc_id AS VARCHAR)),
       |           1, 12)) AS BIGINT) + 1) AS priority
       |  FROM documents
       |  ORDER BY priority DESC, doc_id LIMIT ${priK + 1}),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (ORDER BY priority DESC, doc_id)
       |    AS BIGINT) AS rank
       |  FROM pri),
       |tau AS (SELECT priority AS tau FROM ranked WHERE rank = ${priK + 1}),
       |exact AS (SELECT CAST(sum(n_chars) AS BIGINT) AS exact_chars
       |          FROM documents),
       |est AS (
       |  SELECT t.tau, CAST(sum(greatest(r.w_chars, t.tau)) AS BIGINT)
       |    AS est_chars
       |  FROM ranked r CROSS JOIN tau t WHERE r.rank <= $priK
       |  GROUP BY t.tau)
       |SELECT r.rank, r.doc_id, r.w_chars, r.priority, e.tau, e.est_chars,
       |  x.exact_chars,
       |  abs(e.est_chars - x.exact_chars) * 10000 // x.exact_chars AS err_bp
       |FROM ranked r CROSS JOIN est e CROSS JOIN exact x
       |WHERE r.rank <= $priK
       |ORDER BY r.rank""".stripMargin
  }

  // ─── mix_tv_distance: pairwise source-distribution divergence ───
  // How differently do two sources use language? Total-variation
  // distance between per-source unigram distributions — the libm-free
  // divergence (½·Σ|p−q| needs only integer cross-products, where KL/
  // JS would drag in logs and last-ulp drift; same design rule as
  // text_diversity's Gini-Simpson). Handling of disjoint support is
  // exact: the self-join on the word key only sees the COMMON vocab,
  // so the absent-word mass is closed-form from the common-word sums
  // (Σ_only-P p = 1 − Σ_common p), giving
  //   tv_bp = (Σ_common|c₁N₂−c₂N₁| + (N₁−s₁)N₂ + (N₂−s₂)N₁)·10⁴
  //           div (2·N₁·N₂).
  // vocab_jacc_bp (type overlap) rides along off the same join.
  // Plan: one (source, word) count (map-side combined, vocab-sized),
  // a word-keyed self-join restricted to src_a < src_b (never a
  // source cross join — pairs materialize only where vocab overlaps),
  // and a broadcast of the |sources|-row totals. Cross-product terms
  // c·N are i64-safe to ~3·10⁹ tokens/source; beyond that, scale
  // counts to a common denominator first (the comparison is scale-
  // free in the distributions).
  def mixTvDistance(spark: SparkSession, dir: String): DataFrame = {
    val toks = filter(split(col("text"), " "), w => w =!= "")
    val sw = Tables(spark, dir).parallelized("documents", "doc_id")
      .select(col("source"), explode(toks).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
    val tot = sw.groupBy(col("source"))
      .agg(sum(col("c")).as("n_tok"), count(lit(1)).as("n_types"))
    val a = sw.select(col("source").as("src_a"), col("w"), col("c").as("c_a"))
    val b = sw.select(col("source").as("src_b"), col("w"), col("c").as("c_b"))
    a.join(b, Seq("w")).filter(col("src_a") < col("src_b"))
      .join(broadcast(tot.select(col("source").as("src_a"),
        col("n_tok").as("n_toka"), col("n_types").as("n_typesa"))), Seq("src_a"))
      .join(broadcast(tot.select(col("source").as("src_b"),
        col("n_tok").as("n_tokb"), col("n_types").as("n_typesb"))), Seq("src_b"))
      .groupBy(col("src_a"), col("src_b"), col("n_toka"), col("n_tokb"),
        col("n_typesa"), col("n_typesb"))
      .agg(count(lit(1)).as("n_common"),
        sum(col("c_a")).as("s_a"), sum(col("c_b")).as("s_b"),
        sum(abs(col("c_a") * col("n_tokb") - col("c_b") * col("n_toka")))
          .as("sum_abs"))
      .select(col("src_a"), col("src_b"), col("n_common"),
        expr("""(sum_abs + (n_toka - s_a) * n_tokb
               + (n_tokb - s_b) * n_toka) * 10000
               div (2 * n_toka * n_tokb)""").as("tv_bp"),
        expr("n_common * 10000 div (n_typesa + n_typesb - n_common)")
          .as("vocab_jacc_bp"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val mixTvDistanceSql: String =
    """WITH sw AS (
      |  SELECT source, w, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT source,
      |          unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      |        FROM documents)
      |  GROUP BY source, w),
      |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tok,
      |          CAST(count(*) AS BIGINT) AS n_types
      |        FROM sw GROUP BY source),
      |p AS (
      |  SELECT a.source AS src_a, b.source AS src_b,
      |    ta.n_tok AS n_toka, tb.n_tok AS n_tokb,
      |    ta.n_types AS n_typesa, tb.n_types AS n_typesb,
      |    CAST(count(*) AS BIGINT) AS n_common,
      |    CAST(sum(a.c) AS BIGINT) AS s_a,
      |    CAST(sum(b.c) AS BIGINT) AS s_b,
      |    CAST(sum(abs(a.c * tb.n_tok - b.c * ta.n_tok)) AS BIGINT) AS sum_abs
      |  FROM sw a
      |  JOIN sw b ON a.w = b.w AND a.source < b.source
      |  JOIN tot ta ON ta.source = a.source
      |  JOIN tot tb ON tb.source = b.source
      |  GROUP BY 1, 2, 3, 4, 5, 6)
      |SELECT src_a, src_b, n_common,
      |  (sum_abs + (n_toka - s_a) * n_tokb + (n_tokb - s_b) * n_toka) * 10000
      |    // (2 * n_toka * n_tokb) AS tv_bp,
      |  n_common * 10000 // (n_typesa + n_typesb - n_common) AS vocab_jacc_bp
      |FROM p ORDER BY src_a, src_b""".stripMargin

  // ─── split_leakage: near-dup contamination across split boundaries ───
  // The eval-hygiene check the decontam family implies but rarely
  // gets run per-split: a near-duplicate PAIR straddling train/test is
  // leakage no matter how clean the exact-match split is. Joins
  // dedup_minhash_lsh's candidate-verified pairs against split_hash's
  // assignments (two doc_id-keyed joins, pair frame ≪ corpus),
  // canonicalizes the split pair, and reports per-cell counts with
  // the leakage flag — the off-diagonal share is the number an eval
  // card must disclose.
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val all = Window.partitionBy(lit(1))
    val assign = splitHash(spark, dir).select(col("doc_id"), col("split"))
    val pairs = Dedup.dedupMinhashLsh(spark, dir)
      .select(col("doc_a"), col("doc_b"))
    pairs
      .join(assign.select(col("doc_id").as("doc_a"), col("split").as("sa")),
        Seq("doc_a"))
      .join(assign.select(col("doc_id").as("doc_b"), col("split").as("sb")),
        Seq("doc_b"))
      .groupBy(least(col("sa"), col("sb")).as("split_lo"),
        greatest(col("sa"), col("sb")).as("split_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("share_bp",
        Ranks.idiv(col("n_pairs") * 10000L, sum(col("n_pairs")).over(all)))
      .withColumn("is_leakage", col("split_lo") =!= col("split_hi"))
      .orderBy(col("split_lo"), col("split_hi"))
  }

  lazy val splitLeakageSql: String =
    s"""WITH pr AS (SELECT doc_a, doc_b FROM (${Dedup.dedupMinhashLshSql})),
       |asg AS (SELECT doc_id, split FROM ($splitHashSql)),
       |cells AS (
       |  SELECT least(a.split, b.split) AS split_lo,
       |    greatest(a.split, b.split) AS split_hi,
       |    CAST(count(*) AS BIGINT) AS n_pairs
       |  FROM pr
       |  JOIN asg a ON a.doc_id = pr.doc_a
       |  JOIN asg b ON b.doc_id = pr.doc_b
       |  GROUP BY 1, 2)
       |SELECT split_lo, split_hi, n_pairs,
       |  CAST(n_pairs * 10000 // (sum(n_pairs) OVER ()) AS BIGINT)
       |    AS share_bp,
       |  split_lo <> split_hi AS is_leakage
       |FROM cells ORDER BY split_lo, split_hi""".stripMargin

  // ─── mix_unique_tokens: dedup-aware token accounting per source ───
  // Raw token counts LIE about a source's real contribution: a feed
  // that is 30 % near-duplicates brings 30 % fewer unique tokens
  // than its size claims, and every mixture weight computed on raw
  // counts over-feeds it. Canonical docs come from dedup_cluster's
  // exact LSH-component labels (non-clustered docs are their own
  // canonicals); per source: raw vs unique tokens, the duplicated
  // share, and the mixture-share shift (raw share − unique share,
  // signed bp) that quantifies HOW WRONG a raw-count mixture is.
  // The cluster frame joins on doc_id — co-partitioned, dwarfed by
  // the corpus scan.
  def mixUniqueTokens(spark: SparkSession, dir: String): DataFrame = {
    val all = Window.partitionBy(lit(1))
    val canon = Dedup.dedupCluster(spark, dir)
      .select(col("doc_id"), col("is_canonical"))
    Tables(spark, dir).parallelized("documents", "doc_id")
      .select(col("doc_id"), col("source"),
        size(filter(split(col("text"), " "), w => w =!= ""))
          .cast("long").as("n_tok"))
      .join(canon, Seq("doc_id"), "left")
      .withColumn("keep", coalesce(col("is_canonical"), lit(true)))
      .groupBy(col("source"))
      .agg(sum(col("n_tok")).as("tokens_raw"),
        sum(when(col("keep"), col("n_tok")).otherwise(0L)).as("tokens_unique"))
      .withColumn("dup_bp",
        expr("(tokens_raw - tokens_unique) * 10000 div tokens_raw"))
      .withColumn("raw_total", sum(col("tokens_raw")).over(all))
      .withColumn("uniq_total", sum(col("tokens_unique")).over(all))
      .withColumn("share_shift_bp",
        expr("tokens_raw * 10000 div raw_total" +
          " - tokens_unique * 10000 div uniq_total"))
      .drop("raw_total", "uniq_total")
      .orderBy(col("source"))
  }

  val mixUniqueTokensSql: String =
    s"""WITH RECURSIVE ${Dedup.ccReachCtes},
       |clusters AS (
       |  SELECT node AS doc_id, (node = MIN(x)) AS is_canonical
       |  FROM reach GROUP BY node),
       |toks AS (
       |  SELECT d.source,
       |    CAST(len(list_filter(string_split(d.text, ' '), w -> w <> ''))
       |      AS BIGINT) AS n_tok,
       |    coalesce(c.is_canonical, true) AS keep
       |  FROM documents d LEFT JOIN clusters c USING (doc_id)),
       |g AS (
       |  SELECT source, CAST(sum(n_tok) AS BIGINT) AS tokens_raw,
       |    CAST(sum(CASE WHEN keep THEN n_tok ELSE 0 END) AS BIGINT)
       |      AS tokens_unique
       |  FROM toks GROUP BY source)
       |SELECT source, tokens_raw, tokens_unique,
       |  (tokens_raw - tokens_unique) * 10000 // tokens_raw AS dup_bp,
       |  CAST(tokens_raw * 10000 // CAST(sum(tokens_raw) OVER () AS BIGINT)
       |    - tokens_unique * 10000
       |      // CAST(sum(tokens_unique) OVER () AS BIGINT)
       |    AS BIGINT) AS share_shift_bp
       |FROM g ORDER BY source""".stripMargin

  // ─── sample_class_weights: inverse-frequency class weighting ───
  // The class-imbalance standard (sklearn's "balanced" heuristic):
  // weight(c) = N / (k·n_c), so rare classes up-weight exactly in
  // proportion to their scarcity and the weighted class masses come
  // out equal. Exact integer bp over the language label. The second
  // column caps the count at 1000 effective samples before inverting
  // — the integer-exact stand-in for effective-number weighting
  // (Cui et al., CVPR 2019, motivates the cap: marginal samples stop
  // adding information, so abundant classes shouldn't be punished
  // without bound), keeping every output engine-exact where the
  // β-geometric formula would float. One corpus aggregate;
  // everything after runs on the ≤‖langs‖ frame.
  def sampleClassWeights(spark: SparkSession, dir: String): DataFrame = {
    val all = Window.partitionBy(lit(1))
    Tables(spark, dir).documents
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .withColumn("total", sum(col("n_docs")).over(all))
      .withColumn("k", count(lit(1)).over(all))
      .select(col("lang"), col("n_docs"),
        expr("n_docs * 10000 div total").as("share_bp"),
        expr("total * 10000 div (k * n_docs)").as("weight_bp"),
        expr("total * 10000 div (k * least(n_docs, 1000))")
          .as("weight_eff_bp"))
      .orderBy(col("lang"))
  }

  val sampleClassWeightsSql: String =
    """WITH c AS (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
      |  FROM documents GROUP BY lang),
      |g AS (
      |  SELECT lang, n_docs,
      |    CAST(sum(n_docs) OVER () AS BIGINT) AS total,
      |    CAST(count(*) OVER () AS BIGINT) AS k
      |  FROM c)
      |SELECT lang, n_docs,
      |  n_docs * 10000 // total AS share_bp,
      |  total * 10000 // (k * n_docs) AS weight_bp,
      |  total * 10000 // (k * least(n_docs, 1000)) AS weight_eff_bp
      |FROM g ORDER BY lang""".stripMargin

  // ─── mix_anneal: phased mixture annealing schedule ───
  // The curriculum the big pretrains actually run: start at the
  // corpus's NATURAL source mix and anneal linearly to UNIFORM over
  // P+1 phases (up-weighting scarce high-value sources late, the
  // data-mixing analogue of LR decay). Per (phase, source):
  // weight = ((P−p)·natural + p·uniform)/P held as the exact integer
  // fraction w_num/w_den (nat = tokens/total, uni = 1/k — common
  // denominator total·k·P), then each phase's equal budget slice is
  // Hamilton-rounded per source so every phase exhausts its slice
  // EXACTLY. All frames after the one corpus rollup are |sources|- or
  // |phases×sources|-bounded; the remainder rank partitions by phase.
  private val annealPhases = 4 // interpolation steps; phases 0..4

  def mixAnneal(spark: SparkSession, dir: String): DataFrame = {
    val all = Window.partitionBy(lit(1))
    val byPhase = Window.partitionBy(col("phase"))
    val byRem = byPhase.orderBy(col("rem").desc, col("source"))
    val perPhase = mixBudget / (annealPhases + 1)
    Tables(spark, dir).documents
      .select(col("source"),
        size(filter(split(col("text"), " "), w => w =!= ""))
          .cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(sum(col("n_tok")).as("tokens"))
      .withColumn("total", sum(col("tokens")).over(all))
      .withColumn("k", count(lit(1)).over(all))
      .withColumn("phase", explode(sequence(lit(0L), lit(annealPhases.toLong))))
      // w = ((P-p)·tokens·k + p·total) / (total·k·P), exact integers.
      .withColumn("w_num",
        (lit(annealPhases.toLong) - col("phase")) * col("tokens") * col("k")
          + col("phase") * col("total"))
      .withColumn("w_den", col("total") * col("k") * annealPhases.toLong)
      .withColumn("base", expr(s"$perPhase * w_num div w_den"))
      .withColumn("rem", expr(s"$perPhase * w_num % w_den"))
      .withColumn("leftover",
        lit(perPhase) - sum(col("base")).over(byPhase))
      .withColumn("rk", row_number().over(byRem).cast("long"))
      .select(col("phase"), col("source"),
        expr("w_num * 10000 div w_den").as("weight_bp"),
        (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
          .as("alloc_tokens"))
      .orderBy(col("phase"), col("source"))
  }

  val mixAnnealSql: String = {
    val p = annealPhases
    val perPhase = mixBudget / (p + 1)
    s"""WITH src AS (
       |  SELECT source,
       |    CAST(sum(len(list_filter(string_split(text, ' '), w -> w <> '')))
       |      AS BIGINT) AS tokens
       |  FROM documents GROUP BY 1),
       |g AS (
       |  SELECT source, tokens,
       |    sum(tokens) OVER () AS total, count(*) OVER () AS k
       |  FROM src),
       |ph AS (
       |  SELECT source, tokens, total, k,
       |    unnest(range(0, ${p + 1})) AS phase
       |  FROM g),
       |w AS (
       |  SELECT phase, source,
       |    CAST(($p - phase) * tokens * k + phase * total AS BIGINT) AS w_num,
       |    CAST(total * k * $p AS BIGINT) AS w_den
       |  FROM ph),
       |b AS (
       |  SELECT phase, source, w_num, w_den,
       |    CAST($perPhase * w_num // w_den AS BIGINT) AS base,
       |    CAST($perPhase * w_num % w_den AS BIGINT) AS rem
       |  FROM w),
       |r AS (
       |  SELECT *,
       |    CAST($perPhase - sum(base) OVER (PARTITION BY phase) AS BIGINT)
       |      AS leftover,
       |    row_number() OVER (PARTITION BY phase ORDER BY rem DESC, source)
       |      AS rk
       |  FROM b)
       |SELECT phase, source,
       |  CAST(w_num * 10000 // w_den AS BIGINT) AS weight_bp,
       |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
       |    AS alloc_tokens
       |FROM r ORDER BY phase, source""".stripMargin
  }

  // ─── sample_bootstrap: deterministic Poisson(1) bootstrap ───
  // The map-reduce bootstrap (resampling-with-replacement does not
  // distribute; per-row Poisson(1) weights do — Chamandy et al.,
  // "Estimating Uncertainty for Massive Data Streams", Google 2012):
  // each purchase row contributes w ~ Poisson(1) copies to each of
  // B=32 replicates, w drawn by inverse-CDF over a 60-bit md5
  // uniform — thresholds are precomputed integer literals (⌊cdf·2⁶⁰⌋,
  // tail capped at 8), so BOTH engines replay every draw bit-for-bit
  // with zero floats. The explode is a constant ×32 fan-out feeding
  // a map-combining aggregate: ~the cost of 32 corpus scans batched
  // into one, the documented price of uncertainty at scale. Output:
  // per-replicate resample size and integer mean — the spread across
  // the 32 rows IS the standard-error estimate.
  private val bootB = 32
  // ⌊P(Poisson(1) ≤ k)·2⁶⁰⌋ for k = 0..7.
  private val bootCdf = Seq(424136118829305344L, 848272237658610688L,
    1060340297073263360L, 1131029650211480960L, 1148701988496035328L,
    1152236456152946176L, 1152825534095764608L, 1152909688087595776L)

  def sampleBootstrap(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir).parallelized("events")
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), Relational.cents(col("value")).as("c"))
    // Round 17: all B per-row draws from one native kernel
    // (graft_boot_weights) — the old ×B explode built the salted
    // string, md5-hex'd, substring'd, conv-parsed and CASE-chained
    // once PER (row, replicate); the kernel walks the digest bytes
    // and the CDF directly (same md5 inputs — TextKernelsSpec).
    // posexplode's pos IS the replicate id.
    base
      .select(col("c"), posexplode(call_function("graft_boot_weights",
        col("event_id").cast("string"),
        array(bootCdf.map(lit): _*), lit(bootB))).as(Seq("b", "w")))
      .groupBy(col("b").cast("long").as("replicate"))
      .agg(sum(col("w")).as("n_draws"),
        sum(col("w") * col("c")).as("s_wc"))
      .select(col("replicate"), col("n_draws"),
        expr("s_wc * 100 div n_draws").as("mean_c100"))
      .orderBy(col("replicate"))
  }

  val sampleBootstrapSql: String = {
    val cases = bootCdf.zipWithIndex
      .map { case (t, k) => s"WHEN h < $t THEN $k" }
      .mkString(" ")
    s"""WITH p AS (
       |  SELECT event_id, ${Tables.centsSql("value")} AS c
       |  FROM events WHERE event_type = 'purchase'),
       |drawn AS (
       |  SELECT b, c,
       |    CASE $cases ELSE 8 END AS w
       |  FROM (
       |    SELECT event_id, c, b,
       |      CAST(('0x' || substr(md5('boot:' || CAST(b AS VARCHAR) || ':'
       |        || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
       |    FROM p, (SELECT unnest(range(0, $bootB)) AS b))),
       |r AS (
       |  SELECT b AS replicate, CAST(sum(w) AS BIGINT) AS n_draws,
       |    CAST(sum(w * c) AS BIGINT) AS s_wc
       |  FROM drawn GROUP BY b)
       |SELECT replicate, n_draws, s_wc * 100 // n_draws AS mean_c100
       |FROM r ORDER BY replicate""".stripMargin
  }

  // ─── mix_token_budget: per-source epoch/repetition accounting ───
  // The pre-flight every mixture plan needs: if the training budget
  // were split EQUALLY across sources (Hamilton-rounded, remainder
  // to the first sources by name), how many epochs of each source
  // does its share demand? epochs_bp > 10⁴ means the source repeats;
  // over_repeat flags > 4 epochs (past the point where repeated data
  // stops helping — Muennighoff et al. 2023, "Scaling Data-
  // Constrained Language Models", arXiv:2305.16264). One corpus
  // aggregate to per-source token sums; every window after that
  // runs on the |sources| frame (bounded), so the plan is one
  // shuffle + a metadata tail. All-integer arithmetic.
  def mixTokenBudget(spark: SparkSession, dir: String): DataFrame =
    mixTokenBudgetWith(spark, dir, TokenCounter.Whitespace)

  def mixTokenBudgetWith(spark: SparkSession, dir: String,
      tc: TokenCounter): DataFrame = {
    val all = Window.partitionBy(lit(1))
    val byName = Window.partitionBy(lit(1)).orderBy(col("source"))
    docTokens(spark, dir, tc, filtered = true)
      .groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("tokens"))
      .withColumn("k", count(lit(1)).over(all))
      .withColumn("rk", row_number().over(byName).cast("long"))
      .withColumn("alloc_tokens",
        expr(s"$mixBudget div k") +
          when(col("rk") <= lit(mixBudget) % col("k"), 1L).otherwise(0L))
      .select(col("source"), col("tokens"), col("alloc_tokens"),
        expr("alloc_tokens * 10000 div tokens").as("epochs_bp"))
      .withColumn("over_repeat", (col("epochs_bp") > 40000L).cast("boolean"))
      .orderBy(col("source"))
  }

  val mixTokenBudgetSql: String =
    s"""WITH src AS (
       |  SELECT source,
       |    CAST(sum(len(list_filter(string_split(text, ' '), w -> w <> '')))
       |      AS BIGINT) AS tokens
       |  FROM documents GROUP BY 1),
       |a AS (
       |  SELECT source, tokens,
       |    CAST($mixBudget // count(*) OVER ()
       |      + CASE WHEN row_number() OVER (ORDER BY source)
       |          <= $mixBudget % (count(*) OVER ()) THEN 1 ELSE 0 END
       |      AS BIGINT) AS alloc_tokens
       |  FROM src)
       |SELECT source, tokens, alloc_tokens,
       |  alloc_tokens * 10000 // tokens AS epochs_bp,
       |  alloc_tokens * 10000 // tokens > 40000 AS over_repeat
       |FROM a ORDER BY source""".stripMargin

  // ─── mix_kl: per-source KL divergence from the corpus mix ───
  // mix_tv_distance prices how far two sources sit from EACH OTHER;
  // KL(source ‖ corpus) prices how surprising a source's unigram
  // distribution is under the blended training mix — the directional
  // signal mixture reweighting actually wants (TV is symmetric and
  // saturates). log₂ is banned (libm), so the ratio term uses the
  // fl2 = length(bin(x))−1 surrogate exactly as ev_entropy /
  // text_lm_score do: log₂(p/q) = log₂(c·N_corpus) − log₂(q_w·n_src)
  // → fl2 difference, ±1 bit calibration error, zero engine error.
  // Source vocab ⊆ corpus vocab, so q_w > 0 always — no disjoint-mass
  // correction needed (the TV op's closed form). Plan: one (source,
  // word) count (map-combining, vocab-sized), a word-keyed equijoin
  // to corpus counts, two broadcast-sized total joins — never a
  // source×source or word×word product. c·N_corpus stays in BIGINT to
  // ~10¹⁸ token-count products; DECIMAL(38,0) beyond.
  def mixKl(spark: SparkSession, dir: String): DataFrame = {
    val toks = filter(split(col("text"), " "), w => w =!= "")
    val sw = Tables(spark, dir).parallelized("documents", "doc_id")
      .select(col("source"), explode(toks).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
    val qw = sw.groupBy(col("w")).agg(sum(col("c")).as("q"))
    val ns = sw.groupBy(col("source"))
      .agg(sum(col("c")).as("n_s"), count(lit(1)).as("n_types"))
    val tot = sw.agg(sum(col("c")).as("n_q"))
    sw.join(qw, Seq("w"))
      .join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(tot))
      .withColumn("term",
        expr("c * (length(bin(c * n_q)) - length(bin(q * n_s)))"))
      .groupBy(col("source"), col("n_s"), col("n_types"))
      .agg(sum(col("term")).as("t"))
      .select(col("source"), col("n_s").as("n_tok"), col("n_types"),
        expr("t * 1000 div n_s").as("kl_milli"))
      .orderBy(col("source"))
  }

  val mixKlSql: String =
    """WITH sw AS (
      |  SELECT source, w, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT source,
      |          unnest(list_filter(string_split(text, ' '), x -> x <> ''))
      |            AS w
      |        FROM documents)
      |  GROUP BY 1, 2),
      |qw AS (SELECT w, CAST(sum(c) AS BIGINT) AS q FROM sw GROUP BY w),
      |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s,
      |  CAST(count(*) AS BIGINT) AS n_types FROM sw GROUP BY source),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_q FROM sw)
      |SELECT s.source, ns.n_s AS n_tok, ns.n_types,
      |  CAST(sum(s.c * (length(bin(s.c * t.n_q))
      |       - length(bin(q.q * ns.n_s)))) * 1000 // ns.n_s AS BIGINT)
      |    AS kl_milli
      |FROM sw s JOIN qw q USING (w) JOIN ns ON ns.source = s.source
      |CROSS JOIN tot t
      |GROUP BY s.source, ns.n_s, ns.n_types
      |ORDER BY s.source""".stripMargin

  // ─── split_group: group-consistent splitting vs row-level hashing ───
  // split_hash splits DOCUMENTS; on the events log the unit that
  // leaks is the USER — a row-level hash scatters one user's events
  // across train and test, and any model that memorizes user behavior
  // evaluates on its own training subject. The group split hashes the
  // GROUP key, so every event of a user lands in one split by
  // construction. This op quantifies the difference on the same log:
  // for each method × split, event/user volumes, plus the method's
  // count of FRAGMENTED users (present in >1 split) — the leakage
  // head-count an audit wants; exactly 0 for the group method (the
  // spec pins it). Two map-combining rollups over one scan each;
  // fragmentation is a |users|-bounded distinct-splits count, never a
  // user×user comparison.
  def splitGroup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    def splitOf(b: Column): Column =
      when(b < 80, "train").when(b < 90, "val").otherwise("test")
    def summarize(tagged: DataFrame, method: String): DataFrame = {
      val frag = tagged.select(col("user_id"), col("split")).distinct()
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_splits"))
        .filter(col("n_splits") > 1)
        .agg(count(lit(1)).as("frag_users"))
      tagged.groupBy(col("split"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .crossJoin(broadcast(frag))
        .select(lit(method).as("method"), col("split"), col("n_events"),
          col("n_users"), col("frag_users"))
    }
    val byEvent = ev.select(col("user_id"),
      splitOf(bucket100("gsplit", col("event_id"))).as("split"))
    val byGroup = ev.select(col("user_id"),
      splitOf(bucket100("gsplit", col("user_id"))).as("split"))
    summarize(byEvent, "event")
      .unionByName(summarize(byGroup, "group"))
      .orderBy(col("method"), col("split"))
  }

  val splitGroupSql: String = {
    def cse(keyExpr: String, method: String) = {
      val b = bucket100Sql("gsplit", keyExpr)
      s"""${method}_tagged AS (
         |  SELECT user_id,
         |    CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'val'
         |      ELSE 'test' END AS split
         |  FROM events),
         |${method}_frag AS (
         |  SELECT CAST(count(*) AS BIGINT) AS frag_users FROM (
         |    SELECT user_id FROM (
         |      SELECT DISTINCT user_id, split FROM ${method}_tagged)
         |    GROUP BY user_id HAVING count(*) > 1)),
         |${method}_sum AS (
         |  SELECT '$method' AS method, split,
         |    CAST(count(*) AS BIGINT) AS n_events,
         |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         |  FROM ${method}_tagged GROUP BY split)""".stripMargin
    }
    s"""WITH ${cse("event_id", "event")},
       |${cse("user_id", "group")}
       |SELECT s.method, s.split, s.n_events, s.n_users, f.frag_users
       |FROM event_sum s CROSS JOIN event_frag f
       |UNION ALL
       |SELECT s.method, s.split, s.n_events, s.n_users, f.frag_users
       |FROM group_sum s CROSS JOIN group_frag f
       |ORDER BY method, split""".stripMargin
  }

  // ─── split_time: temporal backtest split with an embargo gap ───
  // The split a FORECASTING model needs: hash splits (split_hash,
  // split_group) answer "did the model memorize this unit"; a model
  // predicting the future must instead train strictly before and
  // evaluate strictly after a point in time, with an EMBARGO band
  // between them wide enough that label windows / session carryover
  // anchored near the boundary cannot touch both sides (the purged
  // walk-forward split of financial ML). Cuts at 70 %/75 % of the
  // exact epoch span, pure integer arithmetic off one broadcast
  // min/max row — every executor derives the same boundary with no
  // driver round-trip. Reports per-band volumes and the
  // straddle_users head-count (users active in BOTH train and test):
  // unlike split_group's fragmentation this is not leakage — it is
  // the POPULATION OVERLAP a temporal eval must disclose, because a
  // user-level feature store computed over train users partially
  // covers test traffic. One scan + a distinct (user, band) rollup.
  def splitTime(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("user_id"), epochS(col("ts")).as("e"))
    val span = ev.agg(min(col("e")).as("t0"), max(col("e")).as("t1"))
    val tagged = ev.crossJoin(broadcast(span))
      .withColumn("split",
        when(col("e") < expr("t0 + (t1 - t0) * 70 div 100"), "train")
          .when(col("e") < expr("t0 + (t1 - t0) * 75 div 100"), "embargo")
          .otherwise("test"))
    val straddle = tagged.filter(col("split") =!= "embargo")
      .select(col("user_id"), col("split")).distinct()
      .groupBy(col("user_id")).agg(count(lit(1)).as("ns"))
      .filter(col("ns") > 1)
      .agg(count(lit(1)).as("straddle_users"))
    tagged.groupBy(col("split"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("e")).as("first_epoch"), max(col("e")).as("last_epoch"))
      .crossJoin(broadcast(straddle))
      .orderBy(col("split"))
  }

  val splitTimeSql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS e FROM events),
      |span AS (SELECT min(e) AS t0, max(e) AS t1 FROM e),
      |tagged AS (
      |  SELECT user_id, e,
      |    CASE WHEN e < t0 + (t1 - t0) * 70 // 100 THEN 'train'
      |         WHEN e < t0 + (t1 - t0) * 75 // 100 THEN 'embargo'
      |         ELSE 'test' END AS split
      |  FROM e CROSS JOIN span),
      |straddle AS (
      |  SELECT CAST(count(*) AS BIGINT) AS straddle_users FROM (
      |    SELECT user_id FROM (
      |      SELECT DISTINCT user_id, split FROM tagged
      |      WHERE split <> 'embargo')
      |    GROUP BY user_id HAVING count(*) > 1))
      |SELECT t.split, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(count(DISTINCT t.user_id) AS BIGINT) AS n_users,
      |  min(t.e) AS first_epoch, max(t.e) AS last_epoch,
      |  s.straddle_users
      |FROM tagged t CROSS JOIN straddle s
      |GROUP BY t.split, s.straddle_users
      |ORDER BY t.split""".stripMargin

  // ─── sample_allocated: execute Neyman allocations EXACTLY ───
  // sample_strat_neyman decides how many documents each stratum gets;
  // this op actually draws them — and rate-based hash sampling
  // (sample_stratified's shape) can only hit a quota in expectation.
  // Drawing EXACTLY n_h per stratum needs a deterministic total order
  // per stratum and a rank cutoff: order by a salted md5 of the key
  // (so the draw is reproducible, partition-independent, and
  // uncorrelated with any earlier split/sample salt), rank via
  // Ranks.groupedRank's bucket ledger (top 12 hash bits as the
  // bucket — never a per-stratum full-sort window), take rk ≤ alloc.
  // Output is the per-stratum fulfillment table with the sampled
  // set's id-sum as a set checksum — the oracle replaying the same
  // sum proves the exact same documents were drawn, not just as many.
  def sampleAllocated(spark: SparkSession, dir: String): DataFrame = {
    val alloc = sampleStratNeyman(spark, dir).select(col("lang"), col("alloc"))
    val keyed = Tables(spark, dir).documents
      .select(col("lang"), col("doc_id"))
      .withColumn("h", conv(substring(md5(concat(lit("salloc:"),
        col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long"))
    val ranked = Ranks.groupedRank(keyed, Seq("lang"),
      Seq(shiftright(col("h"), 48)), Seq(col("h"), col("doc_id")),
      "rk", "n_pop")
    ranked.join(broadcast(alloc), Seq("lang"))
      .groupBy(col("lang"))
      .agg(max(col("n_pop")).as("n_pop"),
        max(col("alloc")).as("n_target"),
        sum(when(col("rk") <= col("alloc"), 1L).otherwise(0L)).as("n_taken"),
        sum(when(col("rk") <= col("alloc"), col("doc_id")).otherwise(0L))
          .as("sum_taken_ids"))
      .orderBy(col("lang"))
  }

  val sampleAllocatedSql: String =
    s"""WITH neyman AS ($sampleStratNeymanSql),
       |keyed AS (
       |  SELECT lang, doc_id,
       |    CAST(('0x' || substr(md5('salloc:' || CAST(doc_id AS VARCHAR)),
       |      1, 15)) AS BIGINT) AS h
       |  FROM documents),
       |ranked AS (
       |  SELECT lang, doc_id,
       |    CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id)
       |      AS BIGINT) AS rk,
       |    CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_pop
       |  FROM keyed)
       |SELECT r.lang, max(r.n_pop) AS n_pop, max(n.alloc) AS n_target,
       |  CAST(sum(CASE WHEN r.rk <= n.alloc THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_taken,
       |  CAST(sum(CASE WHEN r.rk <= n.alloc THEN r.doc_id ELSE 0 END)
       |    AS BIGINT) AS sum_taken_ids
       |FROM ranked r JOIN neyman n USING (lang)
       |GROUP BY r.lang ORDER BY r.lang""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sample_allocated" -> sampleAllocated,
    "split_time" -> splitTime,
    "split_group" -> splitGroup,
    "mix_kl" -> mixKl,
    "sample_class_weights" -> sampleClassWeights,
    "mix_unique_tokens" -> mixUniqueTokens,
    "split_leakage" -> splitLeakage,
    "mix_anneal" -> mixAnneal,
    "sample_bootstrap" -> sampleBootstrap,
    "mix_token_budget" -> mixTokenBudget,
    "sample_strat_neyman" -> sampleStratNeyman,
    "mix_ess" -> mixEss,
    "sample_priority" -> samplePriority,
    "mix_tv_distance" -> mixTvDistance,
    "sample_epoch_order" -> sampleEpochOrder,
    "mix_waterfill" -> mixWaterfill,
    "mix_source_overlap" -> mixSourceOverlap,
    "mix_novelty" -> mixNovelty,
    "mix_reweight" -> mixReweight,
    "sample_curriculum" -> sampleCurriculum,
    "mix_dedup_rate" -> mixDedupRate,
    "sample_balanced" -> sampleBalanced,
    "split_kfold" -> splitKfold,
    "mix_apportion" -> mixApportion,
    "sample_reservoir" -> sampleReservoir,
    "decontam_ngram" -> decontamNgram,
    "split_hash" -> splitHash,
    "sample_stratified" -> sampleStratified,
    "pack_chunks" -> packChunks,
    "pack_chunks_bpe" -> packChunksBpe,
    "pack_efficiency" -> packEfficiency,
    "doc_pipeline" -> docPipeline,
    "sample_temperature" -> sampleTemperature)

  val oracle: Map[String, String] = Map(
    "sample_allocated" -> sampleAllocatedSql,
    "split_time" -> splitTimeSql,
    "split_group" -> splitGroupSql,
    "mix_kl" -> mixKlSql,
    "sample_class_weights" -> sampleClassWeightsSql,
    "mix_unique_tokens" -> mixUniqueTokensSql,
    "split_leakage" -> splitLeakageSql,
    "mix_anneal" -> mixAnnealSql,
    "sample_bootstrap" -> sampleBootstrapSql,
    "mix_token_budget" -> mixTokenBudgetSql,
    "sample_strat_neyman" -> sampleStratNeymanSql,
    "mix_ess" -> mixEssSql,
    "sample_priority" -> samplePrioritySql,
    "mix_tv_distance" -> mixTvDistanceSql,
    "sample_epoch_order" -> sampleEpochOrderSql,
    "mix_waterfill" -> mixWaterfillSql,
    "mix_source_overlap" -> mixSourceOverlapSql,
    "mix_novelty" -> mixNoveltySql,
    "mix_reweight" -> mixReweightSql,
    "sample_curriculum" -> sampleCurriculumSql,
    "mix_dedup_rate" -> mixDedupRateSql,
    "sample_balanced" -> sampleBalancedSql,
    "split_kfold" -> splitKfoldSql,
    "mix_apportion" -> mixApportionSql,
    "sample_reservoir" -> sampleReservoirSql,
    "decontam_ngram" -> decontamNgramSql,
    "split_hash" -> splitHashSql,
    "sample_stratified" -> sampleStratifiedSql,
    "pack_chunks" -> packChunksSql,
    "pack_chunks_bpe" -> packChunksBpeSql,
    "pack_efficiency" -> packEfficiencySql,
    "doc_pipeline" -> docPipelineSql,
    "sample_temperature" -> sampleTemperatureSql)
}

package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over the `documents` table: exact hash
  * dedup, MinHash+LSH banding, SimHash fingerprints, inverted-index
  * n-gram Jaccard verification, and embedding-cosine near-dup pairs.
  *
  * Scale posture (SURVEY §5): nothing here is O(n²) except the
  * embedding-cosine baseline. Candidate generation is always a
  * bucket-equijoin (LSH band hash, SimHash chunk, shared shingle), so
  * the shuffle keys on the bucket and candidate volume tracks true
  * duplicate density, not the pair count. The shared-shingle join caps
  * document frequency to bound skew on stop-shingles (the classic
  * prefix-filtering/df-cap trick). Everything is whole-stage-codegen
  * array expressions — no UDFs.
  */
object Dedup {

  // ─── shared: distinct word-3-shingles via the native span kernel ───
  /** Distinct 3-word shingles in one native codegen pass
    * (graft_spans — TextKernels.scala, round 17): the old
    * filter(split) tokenizer + transform/concat_ws shingle lambda ran
    * INTERPRETED (HOFs are CodegenFallback) and was the dedup
    * family's dominant per-row cost at the sf10 decade. Contract
    * pinned by TextKernelsSpec: identical tokens, spans, first-
    * occurrence distinct order, and the empty array below 3 tokens
    * that the old when(size≥3) guard produced. */
  private[operators] def docShingles(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      // Hash-repartition on the downstream groupBy key straight off
      // the scan: small testdata arrives as one parquet split, which
      // would serialize all tokenize/shingle work onto one core (and
      // AQE would coalesce a size-based repartition right back to one
      // partition — hence the explicit, AQE-pinned count). The later
      // groupBy(doc_id) reuses this partitioning: no second exchange.
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
        call_function("graft_spans", col("text"), lit(3), lit(1), lit(1)).as("sh"))
      .withColumn("n_sh", size(col("sh")))

  /** DuckDB twin of docShingles (list comprehension over 1-based w). */
  private[operators] val docShinglesSql: String =
    """shdocs AS (
      |  SELECT doc_id,
      |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                   for i in range(1, len(w) - 1)]) AS sh
      |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w
      |        FROM documents))""".stripMargin

  // ─── dedup_exact: normalized-text hash groupBy, keep min doc_id ───
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).parallelized("documents", "doc_id")
      // explicit class, not \s: Java \s includes \x0B where RE2's (the
      // oracle's regex engine) does not
      .withColumn("text_md5",
        md5(trim(regexp_replace(lower(col("text")), "[ \t\n\f\r]+", " "))))
      .groupBy(col("text_md5"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_doc_id"))

  val dedupExactSql: String =
    """SELECT md5(trim(regexp_replace(lower(text), '[ \t\n\f\r]+', ' ', 'g'))) AS text_md5,
      |  min(doc_id) AS keep_doc_id, count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY keep_doc_id""".stripMargin

  // ─── dedup_ngram_jaccard: inverted-index join + exact Jaccard ───
  // Candidate pairs via shared-shingle equijoin (shuffle on shingle),
  // df-capped at 100 docs/shingle to bound hot-key skew; exact Jaccard
  // from shared count + per-doc shingle totals. Note: `shared` counts
  // df-filtered shingles while the denominator uses the full per-doc
  // totals — the standard conservative estimate under df-capping.
  private val dfCap = 100
  private val minShared = 3

  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // explode_outer (in the shared fixture), not explode:
    // InferFiltersFromGenerate would clone the whole (interpreted,
    // HOF-heavy) shingle expression into a pushed-down scan filter
    // for a plain explode — a ~10× slowdown. Outer generates skip
    // that rule; the null row of a shingle-less doc is filtered on
    // the cheap attribute instead.
    // Join/group on h60 (the fixture's 8-byte md5-derived shingle
    // hash), not the ~20-byte shingle string: same inverted index,
    // ~2.5× less shuffle and integer hash/compare in its hottest
    // exchange. The SEMANTIC is hash-keyed in both engines (the
    // oracle buckets by the identical md5 prefix), so a 60-bit
    // collision — ~n²/2⁶¹, vanishing at any real shingle count —
    // would merge the same postings lists on both sides and still
    // hash-match.
    // Round 18 (guide §2.3 — shuffle keys, not payloads): the
    // inverted-index self-join used to carry n_a/n_b THROUGH the pair
    // exchange and the groupBy key — Σdf² pair rows × 4 longs where 2
    // suffice ((doc_a, doc_b) determines n_a/n_b). The per-doc totals
    // are re-attached AFTER the shared ≥ 3 filter, to the
    // duplicate-density-bounded survivor set, via one narrow
    // aggregate over the checkpointed fixture — the pair exchange and
    // its hash-agg keys are half the bytes at any scale. Same groups
    // (n_* are functionally dependent on the ids), same survivors,
    // same arithmetic — output identical.
    val ex = shingleRows(spark, dir)
      .select(col("doc_id"), col("h60"))
    val keep = ex.groupBy(col("h60")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
    val f = ex.join(keep.select("h60"), Seq("h60"))
    // Alias self-join (not two renamed projections): both sides
    // canonicalize to the same subplan, so ReuseExchange computes the
    // shuffle over `f` once.
    val shared = f.as("a").join(f.as("b"),
        col("a.h60") === col("b.h60") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    val totals = shingleRows(spark, dir)
      .groupBy(col("doc_id")).agg(max(col("n_sh")).as("n_sh"))
    shared
      .join(totals.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")),
        Seq("doc_a"))
      .join(totals.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")),
        Seq("doc_b"))
      .withColumn("jaccard_bp",
        floor(col("shared") * 10000.0 / (col("n_a") + col("n_b") - col("shared")) + 0.5)
          .cast("long"))
      .select(col("doc_a"), col("doc_b"), col("shared"), col("jaccard_bp"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val dedupNgramJaccardSql: String =
    s"""WITH $docShinglesSql,
       |d AS (SELECT doc_id, len(sh) AS n_sh,
       |  CAST(('0x' || substr(md5(unnest(sh)), 1, 15)) AS BIGINT) AS h60
       |  FROM shdocs),
       |keep AS (SELECT h60 FROM d GROUP BY h60 HAVING count(*) <= $dfCap),
       |f AS (SELECT d.* FROM d JOIN keep USING (h60)),
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS shared
       |  FROM f a JOIN f b ON a.h60 = b.h60 AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4 HAVING count(*) >= $minShared)
       |SELECT doc_a, doc_b, shared,
       |  CAST(floor(shared * 10000.0 / (n_a + n_b - shared) + 0.5) AS BIGINT) AS jaccard_bp
       |FROM p ORDER BY doc_a, doc_b""".stripMargin

  // ─── dedup_minhash_lsh: 64-perm MinHash, 16 bands × 4 rows ───
  // Shingle s hashes to a 60-bit int via md5 (the one cryptographic
  // hash both engines share, so the oracle replays EXACTLY — full SQL
  // hash-match, not a rows-only check); permutation j is the classic
  // universal hash (a_j·h + b_j) mod p over p = 2³¹−1, coefficients
  // seed-deterministic and emitted into both the Spark plan and the
  // generated DuckDB SQL from the same Scala values. The signature is
  // the per-permutation min; band hashes bucket 4 rows at a time;
  // candidates are pairs sharing ≥1 band bucket (equijoin on
  // (band, hash) — never a cross join). est_bp is the
  // signature-agreement estimate of Jaccard.
  //
  // Shape: shingles are EXPLODED to rows once, then the 64 minhashes
  // are 64 plain min() aggregate columns — hash-aggregate with
  // map-side partial combine, no nested-array lambdas (projection
  // collapse would inline those into every downstream reference).
  // One shuffle on doc_id, one on (band, bh); est re-joins the small
  // signature frame instead of dragging arrays through the pair join.
  private val nPerms = 64
  private val nBands = 16
  private val P31 = 2147483647L // 2^31 − 1, prime

  /** (a_j, b_j) universal-hash coefficients, seed-deterministic. */
  private lazy val permCoef: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(2042)
    Seq.fill(nPerms)((1L + rnd.nextInt((P31 - 1).toInt), rnd.nextInt(P31.toInt).toLong))
  }

  /** md5-based 60-bit shingle hash reduced mod p — identical in both
    * engines (verified: conv/Spark vs hex-cast/DuckDB agree). The
    * Spark side is shingleRows' h60 column mod P31. */
  private def h31Sql(s: String): String =
    s"(CAST(('0x' || substr(md5($s), 1, 15)) AS BIGINT) % $P31)"

  private def bandHash(m: Int => Column): Column =
    (0 until 4).map(m).reduce((acc, x) => acc * 31 + x)

  /** Session-shared tokenized-shingle fixture (`dedup_shingles`): the
    * exploded (doc_id, n_sh, shingle, h60) rows every shingle-based
    * operator starts from — h60 is the md5-derived 60-bit shingle hash
    * (h31 = h60 mod p reuses it). This is the FIRST materialization
    * point of a dedup pipeline: tokenize+shingle+md5 is the
    * scan-dominating cost, computed once per corpus snapshot and read by
    * ngram Jaccard, containment, SimHash, the MinHash signature build and
    * decontamination alike, so the batch twins share one materialization
    * per (session, dir) too (`Checkpoints.fixture`). */
  private[operators] def shingleRows(spark: SparkSession, dir: String): DataFrame =
    Checkpoints.fixture("dedup_shingles", spark, dir) {
      // explode_outer: see dedupNgramJaccard note.
      val r = docShingles(spark, dir)
        .select(col("doc_id"), col("n_sh"),
          explode_outer(col("sh")).as("shingle"))
        .filter(col("shingle").isNotNull)
        .withColumn("h60",
          conv(substring(md5(col("shingle")), 1, 15), 16, 10).cast("long"))
        .localCheckpoint(eager = false)
      r.count()
      r
    }

  /** One (doc_id, band, bh) row per band — the LSH band index. */
  private def bandedOf(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
      posexplode(array((0 until nBands).map(b =>
        bandHash(k => col(s"m${b * 4 + k}"))): _*)).as(Seq("band", "bh")))

  /** Signatures + banded candidate pairs — shared by dedupMinhashLsh
    * (which adds the estimated-similarity verify columns) and
    * dedupCluster (which only needs the pair graph). Seven queries
    * branch off this prefix (dedup_minhash_lsh, dedup_cluster,
    * dedup_incremental and the four graph_* analytics): in a production
    * dedup pipeline the signature table and the candidate pair graph
    * are materialization points, computed once per corpus snapshot and
    * read by every downstream consumer, so both are fixtures
    * (`dedup_signatures`, `dedup_pair_graph`), always built together. */
  private def minhashSigsAndCand(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val hashRows = shingleRows(spark, dir)
      .select(col("doc_id"), (col("h60") % P31).as("h")) // = h31(shingle)
    // Signatures are referenced 4× downstream (banded self-join ×2,
    // sx, sy); without a materialization Spark re-runs the whole
    // shingle→hash→64-min aggregate per reference. At 100 TB
    // signatures are a materialization point by design — a few
    // hundred bytes/doc versus re-tokenizing the corpus.
    val sigs = Checkpoints.fixture("dedup_signatures", spark, dir) {
      val s = hashRows
        .groupBy(col("doc_id"))
        .agg(
          min((col("h") * permCoef(0)._1 + permCoef(0)._2) % P31).as("m0"),
          (1 until nPerms).map { j =>
            min((col("h") * permCoef(j)._1 + permCoef(j)._2) % P31).as(s"m$j")
          }: _*)
        .localCheckpoint(eager = false)
      s.count()
      s
    }
    // The pair graph too: cand is the second materialization point
    // (bounded by duplicate density, far smaller than the corpus) —
    // the four graph_* analytics read it without re-running the
    // banded self-join.
    val cand = Checkpoints.fixture("dedup_pair_graph", spark, dir) {
      val banded = bandedOf(sigs)
      val c = banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_bands"))
        .localCheckpoint(eager = false)
      c.count()
      c
    }
    (sigs, cand)
  }

  // ─── dedup_lsh_tuning: band/row operating points of the 64-perm sketch ───
  // The calibration table behind the shipped 16×4 choice: regroup the
  // SAME 64 minhashes into 32×2 / 16×4 / 8×8 bands and report each
  // configuration's candidate volume, true-pair yield (est ≥ 0.5),
  // precision and recall. The nesting is exact — a 2r-row band match
  // implies both r-row halves match — so cand(8×8) ⊆ cand(16×4) ⊆
  // cand(32×2) and the table IS the monotone precision/recall
  // trade-off (spec-asserted). One pass over the checkpointed
  // signature fixture with a ×56 band fan-out; similarity is scored
  // once per DISTINCT pair (union across configs), never per config.
  // Band keys are md5 over the comma-joined row values: the shipped
  // 31-ary polynomial overflows a long at r=8, md5 never does.
  private val tuneConfigs = Seq(32 -> 2, 16 -> 4, 8 -> 8)
  private val tuneTauBp = 5000L

  def dedupLshTuning(spark: SparkSession, dir: String): DataFrame = {
    val (sigs, _) = minhashSigsAndCand(spark, dir)
    def bandedCfg(b: Int, r: Int): DataFrame =
      sigs.select(lit(s"b${b}r$r").as("config"), col("doc_id"),
        posexplode(array((0 until b).map(i =>
          md5(concat_ws(",", (0 until r).map(k => col(s"m${i * r + k}")): _*))): _*))
          .as(Seq("band", "bh")))
    val banded = tuneConfigs.map { case (b, r) => bandedCfg(b, r) }
      .reduce(_ unionByName _)
    val cand = banded.as("a").join(banded.as("b"),
        col("a.config") === col("b.config") &&
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.config").as("config"),
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .localCheckpoint(eager = false)
    val sx = sigs.select(col("doc_id").as("xid") +:
      (0 until nPerms).map(j => col(s"m$j").as(s"x$j")): _*)
    val sy = sigs.select(col("doc_id").as("yid") +:
      (0 until nPerms).map(j => col(s"m$j").as(s"y$j")): _*)
    val est = cand.select(col("doc_a"), col("doc_b")).distinct()
      .join(sx, col("doc_a") === col("xid"))
      .join(sy, col("doc_b") === col("yid"))
      .withColumn("est_bp",
        floor((0 until nPerms)
          .map(j => when(col(s"x$j") === col(s"y$j"), 1).otherwise(0))
          .reduce(_ + _) * 10000.0 / nPerms + 0.5).cast("long"))
      .select(col("doc_a"), col("doc_b"), col("est_bp"))
      .localCheckpoint(eager = false)
    val nTrueAll = est.filter(col("est_bp") >= tuneTauBp)
      .agg(count(lit(1)).as("n_true_all"))
    cand.join(est, Seq("doc_a", "doc_b"))
      .groupBy(col("config"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("est_bp") >= tuneTauBp, 1L).otherwise(0L)).as("n_true"))
      .crossJoin(broadcast(nTrueAll))
      .select(col("config"), col("n_pairs"), col("n_true"), col("n_true_all"),
        expr("n_true * 10000 div greatest(1, n_pairs)").as("precision_bp"),
        expr("n_true * 10000 div greatest(1, n_true_all)").as("recall_bp"))
      .orderBy(col("config"))
  }

  val dedupLshTuningSql: String = {
    val minCols = (0 until nPerms).map { j =>
      s"min((h * ${permCoef(j)._1} + ${permCoef(j)._2}) % $P31) AS m$j"
    }.mkString(",\n    ")
    val bandBranches = tuneConfigs.flatMap { case (b, r) =>
      (0 until b).map { i =>
        val cols = (0 until r).map(k => s"CAST(m${i * r + k} AS VARCHAR)")
          .mkString(", ")
        s"SELECT 'b${b}r$r' AS config, doc_id, $i AS band, md5(concat_ws(',', $cols)) AS bh FROM sigs"
      }
    }.mkString("\n  UNION ALL ")
    val eqSum = (0 until nPerms)
      .map(j => s"CASE WHEN x.m$j = y.m$j THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $docShinglesSql,
       |srows AS (SELECT doc_id, unnest(sh) AS s FROM shdocs),
       |hs AS (SELECT doc_id, ${h31Sql("s")} AS h FROM srows),
       |sigs AS MATERIALIZED (SELECT doc_id,
       |    $minCols
       |  FROM hs GROUP BY doc_id),
       |bands AS MATERIALIZED (
       |  $bandBranches),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.config, a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.config = b.config AND a.band = b.band AND a.bh = b.bh
       |    AND a.doc_id < b.doc_id),
       |est AS MATERIALIZED (
       |  SELECT p.doc_a, p.doc_b,
       |    CAST(floor(($eqSum) * 10000.0 / $nPerms + 0.5) AS BIGINT) AS est_bp
       |  FROM (SELECT DISTINCT doc_a, doc_b FROM cand) p
       |    JOIN sigs x ON p.doc_a = x.doc_id
       |    JOIN sigs y ON p.doc_b = y.doc_id),
       |ta AS (SELECT CAST(count(*) AS BIGINT) AS n_true_all
       |  FROM est WHERE est_bp >= $tuneTauBp)
       |SELECT c.config, CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(CASE WHEN e.est_bp >= $tuneTauBp THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_true,
       |  (SELECT n_true_all FROM ta) AS n_true_all,
       |  CAST(sum(CASE WHEN e.est_bp >= $tuneTauBp THEN 1 ELSE 0 END) AS BIGINT)
       |    * 10000 // greatest(1, count(*)) AS precision_bp,
       |  CAST(sum(CASE WHEN e.est_bp >= $tuneTauBp THEN 1 ELSE 0 END) AS BIGINT)
       |    * 10000 // greatest(1, (SELECT n_true_all FROM ta)) AS recall_bp
       |FROM cand c JOIN est e USING (doc_a, doc_b)
       |GROUP BY c.config ORDER BY c.config""".stripMargin
  }

  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val (sigs, cand) = minhashSigsAndCand(spark, dir)
    val sx = sigs.select(col("doc_id").as("xid") +:
      (0 until nPerms).map(j => col(s"m$j").as(s"x$j")): _*)
    val sy = sigs.select(col("doc_id").as("yid") +:
      (0 until nPerms).map(j => col(s"m$j").as(s"y$j")): _*)
    cand
      .join(sx, col("doc_a") === col("xid"))
      .join(sy, col("doc_b") === col("yid"))
      .withColumn("est_bp",
        floor((0 until nPerms)
          .map(j => when(col(s"x$j") === col(s"y$j"), 1).otherwise(0))
          .reduce(_ + _) * 10000.0 / nPerms + 0.5).cast("long"))
      .select(col("doc_a"), col("doc_b"), col("n_bands"), col("est_bp"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val dedupMinhashLshSql: String = {
    val minCols = (0 until nPerms).map { j =>
      s"min((h * ${permCoef(j)._1} + ${permCoef(j)._2}) % $P31) AS m$j"
    }.mkString(",\n    ")
    val bandBranches = (0 until nBands).map { b =>
      val bh = (0 until 4).map(k => s"m${b * 4 + k}")
        .reduce((acc, x) => s"($acc * 31 + $x)")
      s"SELECT doc_id, $b AS band, $bh AS bh FROM sigs"
    }.mkString("\n  UNION ALL ")
    val eqSum = (0 until nPerms)
      .map(j => s"CASE WHEN x.m$j = y.m$j THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $docShinglesSql,
       |srows AS (SELECT doc_id, unnest(sh) AS s FROM shdocs),
       |hs AS (SELECT doc_id, ${h31Sql("s")} AS h FROM srows),
       |sigs AS (SELECT doc_id,
       |    $minCols
       |  FROM hs GROUP BY doc_id),
       |bands AS (
       |  $bandBranches),
       |cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT c.doc_a, c.doc_b, c.n_bands,
       |  CAST(floor(($eqSum) * 10000.0 / $nPerms + 0.5) AS BIGINT) AS est_bp
       |FROM cand c
       |  JOIN sigs x ON c.doc_a = x.doc_id
       |  JOIN sigs y ON c.doc_b = y.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Oracle CTE prefix ending in `lshest(doc_a, doc_b, est_bp)` — the
    * MinHash candidate pairs with their signature-agreement Jaccard
    * estimate. Shared by consumers that rank candidates by estimated
    * similarity (Similarity.ann_hybrid_rrf) without wanting the full
    * dedup_minhash_lsh projection. */
  private[operators] lazy val minhashEstCtes: String = {
    val minCols = (0 until nPerms).map { j =>
      s"min((h * ${permCoef(j)._1} + ${permCoef(j)._2}) % $P31) AS m$j"
    }.mkString(",\n    ")
    val bandBranches = (0 until nBands).map { b =>
      val bh = (0 until 4).map(k => s"m${b * 4 + k}")
        .reduce((acc, x) => s"($acc * 31 + $x)")
      s"SELECT doc_id, $b AS band, $bh AS bh FROM sigs"
    }.mkString("\n  UNION ALL ")
    val eqSum = (0 until nPerms)
      .map(j => s"CASE WHEN x.m$j = y.m$j THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""$docShinglesSql,
       |srows AS (SELECT doc_id, unnest(sh) AS s FROM shdocs),
       |hs AS (SELECT doc_id, ${h31Sql("s")} AS h FROM srows),
       |sigs AS (SELECT doc_id,
       |    $minCols
       |  FROM hs GROUP BY doc_id),
       |bands AS (
       |  $bandBranches),
       |mcand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |lshest AS (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(floor(($eqSum) * 10000.0 / $nPerms + 0.5) AS BIGINT) AS est_bp
       |  FROM mcand c
       |    JOIN sigs x ON c.doc_a = x.doc_id
       |    JOIN sigs y ON c.doc_b = y.doc_id)""".stripMargin
  }

  // ─── decontam_minhash: fuzzy train/benchmark decontamination ───
  // The MinHash companion of Pipeline.decontam_ngram: exact shingle
  // overlap misses paraphrased leakage, so production decontamination
  // ALSO runs the eval suite through the corpus LSH index and
  // quarantines near-duplicates. Report shape: ONE ROW PER BENCHMARK
  // DOC always (not per matched pair — SURVEY §7 flagged the
  // rows-may-be-zero flakiness of a pair-shaped fuzzy decontam at
  // small SF; a per-bench report with explicit zero rows is also
  // what a decontamination audit actually files). Shape: the
  // benchmark side is an eval suite — tiny by nature — so its band
  // index broadcasts; the corpus streams past map-side, exactly the
  // dedup_incremental asymmetry with roles swapped. best_train ties
  // resolve to the smallest doc_id via min(CASE) against the
  // windowed max (argmax tie order differs across engines).
  // Bench split = doc_id % 5 (20 % of docs): r8's % 50 left exactly ONE
  // train×bench LSH candidate pair at sf0.01 — a single data tweak from
  // an untested code path. % 5 yields 14 candidate pairs / 13 matched
  // bench docs at sf0.01, so the pair-scoring path is exercised at
  // every SF (a real eval suite is smaller, but the ASYMMETRY is what
  // is being modeled: bench bands broadcast, corpus streams).
  private val decontamBenchMod = 5
  private val decontamThreshBp = 5000

  def decontamMinhash(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (sigs, _) = minhashSigsAndCand(spark, dir)
    val isBench = col("doc_id") % decontamBenchMod === 0
    val benchSigs = sigs.filter(isBench)
    val bb = bandedOf(benchSigs)
      .select(col("doc_id").as("bench_doc"), col("band"), col("bh"))
    val tb = bandedOf(sigs.filter(!isBench))
    val candPairs = tb.join(broadcast(bb), Seq("band", "bh"))
      .select(col("doc_id").as("train_doc"), col("bench_doc")).distinct()
    val sx = sigs.select(col("doc_id").as("xid") +:
      (0 until nPerms).map(j => col(s"m$j").as(s"x$j")): _*)
    val sy = sigs.select(col("doc_id").as("yid") +:
      (0 until nPerms).map(j => col(s"m$j").as(s"y$j")): _*)
    val est = candPairs
      .join(sx, col("train_doc") === col("xid"))
      .join(sy, col("bench_doc") === col("yid"))
      .withColumn("est_bp",
        floor((0 until nPerms)
          .map(j => when(col(s"x$j") === col(s"y$j"), 1).otherwise(0))
          .reduce(_ + _) * 10000.0 / nPerms + 0.5).cast("long"))
      .select(col("bench_doc"), col("train_doc"), col("est_bp"))
    val perBench = est
      .withColumn("max_est",
        max(col("est_bp")).over(Window.partitionBy(col("bench_doc"))))
      .groupBy(col("bench_doc"))
      .agg(count(lit(1)).as("n_cand"),
        max(col("est_bp")).as("best_est_bp"),
        min(when(col("est_bp") === col("max_est"), col("train_doc")))
          .as("best_train"))
    benchSigs.select(col("doc_id").as("bench_doc"))
      .join(perBench, Seq("bench_doc"), "left")
      .select(col("bench_doc"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("best_train"), lit(-1L)).as("best_train"),
        coalesce(col("best_est_bp"), lit(0L)).as("best_est_bp"))
      .withColumn("contaminated", col("best_est_bp") >= decontamThreshBp)
      .orderBy(col("bench_doc"))
  }

  val decontamMinhashSql: String = {
    val minCols = (0 until nPerms).map { j =>
      s"min((h * ${permCoef(j)._1} + ${permCoef(j)._2}) % $P31) AS m$j"
    }.mkString(",\n    ")
    def bandBranches(src: String) = (0 until nBands).map { b =>
      val bh = (0 until 4).map(k => s"m${b * 4 + k}")
        .reduce((acc, x) => s"($acc * 31 + $x)")
      s"SELECT doc_id, $b AS band, $bh AS bh FROM $src"
    }.mkString("\n  UNION ALL ")
    val eqSum = (0 until nPerms)
      .map(j => s"CASE WHEN x.m$j = y.m$j THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $docShinglesSql,
       |srows AS (SELECT doc_id, unnest(sh) AS s FROM shdocs),
       |hs AS (SELECT doc_id, ${h31Sql("s")} AS h FROM srows),
       |sigs AS (SELECT doc_id,
       |    $minCols
       |  FROM hs GROUP BY doc_id),
       |bsig AS (SELECT * FROM sigs WHERE doc_id % $decontamBenchMod = 0),
       |tsig AS (SELECT * FROM sigs WHERE doc_id % $decontamBenchMod <> 0),
       |bbands AS (
       |  ${bandBranches("bsig")}),
       |tbands AS (
       |  ${bandBranches("tsig")}),
       |cand AS (
       |  SELECT DISTINCT t.doc_id AS train_doc, b.doc_id AS bench_doc
       |  FROM tbands t JOIN bbands b ON t.band = b.band AND t.bh = b.bh),
       |est AS (
       |  SELECT c.bench_doc, c.train_doc,
       |    CAST(floor(($eqSum) * 10000.0 / $nPerms + 0.5) AS BIGINT) AS est_bp
       |  FROM cand c
       |    JOIN sigs x ON c.train_doc = x.doc_id
       |    JOIN sigs y ON c.bench_doc = y.doc_id),
       |mx AS (
       |  SELECT bench_doc, train_doc, est_bp,
       |    max(est_bp) OVER (PARTITION BY bench_doc) AS max_est
       |  FROM est),
       |agg AS (
       |  SELECT bench_doc, count(*) AS n_cand, max(est_bp) AS best_est_bp,
       |    min(CASE WHEN est_bp = max_est THEN train_doc END) AS best_train
       |  FROM mx GROUP BY bench_doc)
       |SELECT b.doc_id AS bench_doc,
       |  COALESCE(a.n_cand, 0) AS n_cand,
       |  COALESCE(a.best_train, -1) AS best_train,
       |  COALESCE(a.best_est_bp, 0) AS best_est_bp,
       |  COALESCE(a.best_est_bp, 0) >= $decontamThreshBp AS contaminated
       |FROM bsig b LEFT JOIN agg a ON b.doc_id = a.bench_doc
       |ORDER BY bench_doc""".stripMargin
  }

  // ─── dedup_cluster: connected components over the pair graph ───
  // Pairs are not clusters: a production dedup pipeline must merge
  // transitively-connected near-dup pairs (A~B, B~C ⇒ {A,B,C}) and
  // elect one canonical doc per component. The iteration lives in
  // Graph.connectedComponents (min-label propagation + pointer
  // jumping, O(log d) rounds, per-round checkpoint-block hygiene);
  // this query supplies the MinHash pair graph and the output shape.

  /** Both directions of the candidate pair graph, via ONE explode
    * pass over cand — a union(cand, cand.flipped) would read the
    * checkpointed cand twice (harmless now, but the single-pass shape
    * also holds where cand is a live plan). Callers iterating over
    * the edges should persist the frame. */
  private[graft] def pairEdges(spark: SparkSession, dir: String): DataFrame = {
    val (_, cand) = minhashSigsAndCand(spark, dir)
    cand.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
  }

  def dedupCluster(spark: SparkSession, dir: String): DataFrame = {
    val edges = pairEdges(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      Graph.connectedComponents(edges, "dedupCluster")
        .select(col("node").as("doc_id"), col("lbl").as("cluster_id"),
          (col("node") === col("lbl")).as("is_canonical"))
        .orderBy(col("doc_id"))
    } finally edges.unpersist(blocking = false)
  }

  /** Shared oracle prefix: the MinHash pair graph's edges plus its
    * transitive closure (`reach`) by recursive CTE, component id =
    * min reachable node (including self). Fine at oracle scale; the
    * Spark side uses label propagation instead because a closure is
    * quadratic in component size. Callers prepend WITH RECURSIVE.
    * Shared with Graph.graphComponentsSql. */
  /** Oracle CTE prefix ending in `edges` — both directions of the
    * MinHash pair graph. Shared by every graph-operator oracle
    * (degrees, triangles, PageRank) that needs the edge set but not
    * the transitive closure. */
  private[operators] lazy val edgesCtes: String = {
    val minCols = (0 until nPerms).map { j =>
      s"min((h * ${permCoef(j)._1} + ${permCoef(j)._2}) % $P31) AS m$j"
    }.mkString(",\n    ")
    val bandBranches = (0 until nBands).map { b =>
      val bh = (0 until 4).map(k => s"m${b * 4 + k}")
        .reduce((acc, x) => s"($acc * 31 + $x)")
      s"SELECT doc_id, $b AS band, $bh AS bh FROM sigs"
    }.mkString("\n  UNION ALL ")
    s"""$docShinglesSql,
       |srows AS (SELECT doc_id, unnest(sh) AS s FROM shdocs),
       |hs AS (SELECT doc_id, ${h31Sql("s")} AS h FROM srows),
       |sigs AS (SELECT doc_id,
       |    $minCols
       |  FROM hs GROUP BY doc_id),
       |bands AS (
       |  $bandBranches),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM cand
       |          UNION SELECT doc_b, doc_a FROM cand)""".stripMargin
  }

  private[operators] lazy val ccReachCtes: String =
    s"""$edgesCtes,
       |reach(node, x) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT r.node, e.dst FROM reach r JOIN edges e ON r.x = e.src)""".stripMargin

  val dedupClusterSql: String =
    s"""WITH RECURSIVE $ccReachCtes
       |SELECT node AS doc_id, MIN(x) AS cluster_id,
       |  (node = MIN(x)) AS is_canonical
       |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin

  // ─── dedup_incremental: delta-vs-corpus LSH dedup ───
  // The production shape for "dedupe today's crawl against the
  // corpus": only the DELTA (here: the top 10% of doc_ids, standing
  // in for the newest ingest batch) is shingled, hashed and banded
  // per increment; it joins against the full band index, which at
  // 100 TB is a MATERIALIZED table maintained incrementally — never
  // recomputed from the corpus (this query recomputes it only
  // because testdata has no persisted index). The small delta side
  // is broadcast, so the corpus-sized index never shuffles — the
  // increment streams past it map-side. Pairs are oriented
  // doc_a < doc_b; since delta ids are the highest, every emitted
  // pair has doc_b in the delta, and kind says whether doc_a is an
  // old corpus doc (base-delta) or a same-batch twin (delta-delta).
  private val deltaFrac = 0.9

  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val (sigs, _) = minhashSigsAndCand(spark, dir)
    // Index-maintenance metadata, driver-computed like table stats.
    // max() over an empty corpus is NULL — treat as cutoff 0 (no
    // delta, empty output) instead of crashing the first-ever run.
    val maxRow = Tables(spark, dir).documents.agg(max(col("doc_id"))).head
    val cutoff =
      if (maxRow.isNullAt(0)) 0L
      else math.floor(maxRow.getLong(0) * deltaFrac).toLong
    val index = bandedOf(sigs)
    val delta = index.filter(col("doc_id") >= cutoff)
    // The broadcast hint assumes a GENUINELY small ingest batch (the
    // production contract: one crawl increment vs the whole corpus).
    // The 10%-of-corpus delta below is only the test-data stand-in —
    // at a real 100 TB deployment the increment is orders of magnitude
    // below the broadcast threshold; if a caller ever feeds a large
    // delta, drop the hint and let AQE pick the join side.
    index.as("a").join(broadcast(delta.as("b")),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_bands"))
      .withColumn("kind",
        when(col("doc_a") >= cutoff, "delta-delta").otherwise("base-delta"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val dedupIncrementalSql: String = {
    val minCols = (0 until nPerms).map { j =>
      s"min((h * ${permCoef(j)._1} + ${permCoef(j)._2}) % $P31) AS m$j"
    }.mkString(",\n    ")
    val bandBranches = (0 until nBands).map { b =>
      val bh = (0 until 4).map(k => s"m${b * 4 + k}")
        .reduce((acc, x) => s"($acc * 31 + $x)")
      s"SELECT doc_id, $b AS band, $bh AS bh FROM sigs"
    }.mkString("\n  UNION ALL ")
    s"""WITH $docShinglesSql,
       |srows AS (SELECT doc_id, unnest(sh) AS s FROM shdocs),
       |hs AS (SELECT doc_id, ${h31Sql("s")} AS h FROM srows),
       |sigs AS (SELECT doc_id,
       |    $minCols
       |  FROM hs GROUP BY doc_id),
       |bands AS (
       |  $bandBranches),
       |mx AS (SELECT CAST(floor(max(doc_id) * $deltaFrac) AS BIGINT) AS cutoff
       |       FROM documents)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands,
       |  CASE WHEN a.doc_id >= (SELECT cutoff FROM mx)
       |       THEN 'delta-delta' ELSE 'base-delta' END AS kind
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
       |WHERE b.doc_id >= (SELECT cutoff FROM mx)
       |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin
  }

  // ─── dedup_simhash: 60-bit SimHash + 4×15-bit chunk blocking ───
  // Per-bit vote over md5-derived 60-bit shingle hashes → fingerprint;
  // candidates share an exact 15-bit chunk (pigeonhole: catches all
  // pairs with hamming ≤ 3 and most below the cutoff); verified by
  // bit_count of the XOR. md5 gives both engines the same bits, so
  // this carries a full SQL oracle. Votes are 60 sum() aggregate
  // columns over exploded shingle-hash rows (map-side combine, no
  // array lambdas — same rationale as dedupMinhashLsh).
  // Codegen width measured (round 5, sf0.1): the 60-column aggregate
  // emits no hugeMethodLimit/64KB splits and no "Broadcasting large
  // task binary" growth — runtime is dominated by the shared
  // shingle+md5 pipeline, so lane-packing the votes would not pay.
  private val nBits = 60
  private val chunkBits = 15
  private val hammingMax = 16

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val hashRows = shingleRows(spark, dir)
      .select(col("doc_id"), col("h60").as("h"))
    val votes = hashRows
      .groupBy(col("doc_id"))
      .agg(sum(expr("((h >> 0) & 1) * 2 - 1")).as("b0"),
        (1 until nBits).map(i => sum(expr(s"((h >> $i) & 1) * 2 - 1")).as(s"b$i")): _*)
    val fps = votes.select(col("doc_id"),
      (0 until nBits).map(i =>
        when(col(s"b$i") > 0, lit(1L << i)).otherwise(0L)).reduce(_ + _).as("fp"))
    val chunked = fps.select(col("doc_id"), col("fp"),
      posexplode(expr(
        s"transform(sequence(0, 3), c -> (fp >> (c * $chunkBits)) & ${(1 << chunkBits) - 1})"))
        .as(Seq("chunk", "cv")))
    chunked.as("a").join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.cv") === col("b.cv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.fp ^ b.fp)").cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= hammingMax)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val dedupSimhashSql: String = {
    val voteCols = (0 until nBits)
      .map(i => s"sum(((h >> $i) & 1) * 2 - 1) AS b$i").mkString(",\n    ")
    val fpSum = (0 until nBits)
      .map(i => s"CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END")
      .mkString(" + ")
    val chunkBranches = (0 until 4).map { c =>
      s"SELECT doc_id, fp, $c AS chunk, (fp >> ${c * chunkBits}) & ${(1 << chunkBits) - 1} AS cv FROM fps"
    }.mkString("\n  UNION ALL ")
    s"""WITH $docShinglesSql,
       |srows AS (SELECT doc_id, unnest(sh) AS s FROM shdocs),
       |hs AS (SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h FROM srows),
       |votes AS (SELECT doc_id,
       |    $voteCols
       |  FROM hs GROUP BY doc_id),
       |fps AS (SELECT doc_id, $fpSum AS fp FROM votes),
       |chunked AS (
       |  $chunkBranches)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
       |FROM chunked a JOIN chunked b
       |  ON a.chunk = b.chunk AND a.cv = b.cv AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.fp, b.fp)) <= $hammingMax
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ─── dedup_embedding: cosine near-dup pairs (threshold 0.4) ───
  // Production shape: hyperplane-LSH bucketed candidates (the SAME
  // seed-42 blocking index as ann_lsh, so the DuckDB twin replays it
  // bit-exactly) verified by exact cosine. Candidate volume tracks
  // bucket occupancy, not the O(n²) pair count, and the vector arrays
  // join in by vec_id AFTER the pair dedup — never a broadcast
  // nested-loop over the corpus. DedupSimilaritySpec measures recall
  // against the all-pairs baseline kept below.
  private val cosThreshold = 0.4

  import graft.functions.VectorOps.{dot, vecs, vecsSql, dotSqlOf}

  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    // Salted index (round-17): hot buckets split into occupancy-sized
    // sub-buckets so the self-join cost is Σ occ·target, not Σ occ² —
    // see Similarity.saltedBucketIds for the recall-trade contract.
    val b = Similarity.saltedBucketIds(spark, dir)
    val cand = b.as("a").join(b.as("b"),
        col("a.table") === col("b.table") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.salt") === col("b.salt") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    val va = vecs(spark, dir)
      .select(col("vec_id").as("vec_a"), col("v").as("va"), col("norm").as("na"))
    val vb = vecs(spark, dir)
      .select(col("vec_id").as("vec_b"), col("v").as("vb"), col("norm").as("nb"))
    cand.join(va, Seq("vec_a")).join(vb, Seq("vec_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= cosThreshold)
      .select(col("vec_a"), col("vec_b"),
        floor(col("cos") * 10000 + 0.5).cast("long").as("cos_bp"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  val dedupEmbeddingSql: String =
    s"""WITH n AS (${vecsSql("vec_id")}),
       |${Similarity.lshSaltedCtes},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM sbuckets a JOIN sbuckets b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.salt = b.salt
       |    AND a.vec_id < b.vec_id)
       |SELECT c.vec_a, c.vec_b,
       |  CAST(floor((${dotSqlOf("x.v", "y.v")}) / (x.norm * y.norm) * 10000 + 0.5) AS BIGINT) AS cos_bp
       |FROM cand c JOIN n x ON c.vec_a = x.vec_id JOIN n y ON c.vec_b = y.vec_id
       |WHERE (${dotSqlOf("x.v", "y.v")}) / (x.norm * y.norm) >= $cosThreshold
       |ORDER BY vec_a, vec_b""".stripMargin

  /** All-pairs exact baseline — spec-only recall oracle for the
    * bucketed dedupEmbedding above; O(n²), never shipped in queries. */
  private[graft] def dedupEmbeddingExact(spark: SparkSession, dir: String): DataFrame = {
    val a = vecs(spark, dir)
      .select(col("vec_id").as("vec_a"), col("v").as("va"), col("norm").as("na"))
    val b = vecs(spark, dir)
      .select(col("vec_id").as("vec_b"), col("v").as("vb"), col("norm").as("nb"))
    a.join(broadcast(b), col("vec_a") < col("vec_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= cosThreshold)
      .select(col("vec_a"), col("vec_b"),
        floor(col("cos") * 10000 + 0.5).cast("long").as("cos_bp"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  // ─── dedup_threshold_sweep: dup-rate curve over cosine cutoffs ───
  // The calibration run before anyone picks dedup_embedding's 0.4:
  // for each candidate cutoff, how many pairs fire and how many
  // distinct documents get implicated? The LSH candidate set is
  // cutoff-INDEPENDENT (bucket blocking, not score blocking), so the
  // whole curve costs ONE candidate generation + exact-cosine pass —
  // scored pairs localCheckpointed once, then a constant ×8 cutoff
  // fan-out and two bounded rollups. Thresholds left-join the counts
  // so a cutoff nothing reaches still reports 0 (the signal that the
  // corpus is clean there).
  private val sweepThresholds = Seq(2000L, 3000L, 4000L, 5000L,
    6000L, 7000L, 8000L, 9000L)

  def dedupThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Same salted index as dedup_embedding — the sweep prices the
    // same candidate generation it calibrates.
    val b = Similarity.saltedBucketIds(spark, dir)
    val cand = b.as("a").join(b.as("b"),
        col("a.table") === col("b.table") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.salt") === col("b.salt") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    val va = vecs(spark, dir)
      .select(col("vec_id").as("vec_a"), col("v").as("va"), col("norm").as("na"))
    val vb = vecs(spark, dir)
      .select(col("vec_id").as("vec_b"), col("v").as("vb"), col("norm").as("nb"))
    val pairs = cand.join(va, Seq("vec_a")).join(vb, Seq("vec_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .select(col("vec_a"), col("vec_b"),
        floor(col("cos") * 10000 + 0.5).cast("long").as("cos_bp"))
      .localCheckpoint(eager = false)
    val hits = pairs
      .withColumn("threshold_bp", explode(lit(sweepThresholds.toArray)))
      .filter(col("cos_bp") >= col("threshold_bp"))
    val pc = hits.groupBy(col("threshold_bp"))
      .agg(count(lit(1)).as("n_pairs"))
    val dc = hits
      .select(col("threshold_bp"),
        explode(array(col("vec_a"), col("vec_b"))).as("vid"))
      .distinct()
      .groupBy(col("threshold_bp")).agg(count(lit(1)).as("n_docs_dupped"))
    sweepThresholds.toDF("threshold_bp")
      .join(pc, Seq("threshold_bp"), "left")
      .join(dc, Seq("threshold_bp"), "left")
      .select(col("threshold_bp"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_dupped"), lit(0L)).as("n_docs_dupped"))
      .orderBy(col("threshold_bp"))
  }

  val dedupThresholdSweepSql: String =
    s"""WITH n AS (${vecsSql("vec_id")}),
       |${Similarity.lshSaltedCtes},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM sbuckets a JOIN sbuckets b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.salt = b.salt
       |    AND a.vec_id < b.vec_id),
       |pairs AS (
       |  SELECT c.vec_a, c.vec_b,
       |    CAST(floor((${dotSqlOf("x.v", "y.v")}) / (x.norm * y.norm)
       |      * 10000 + 0.5) AS BIGINT) AS cos_bp
       |  FROM cand c JOIN n x ON c.vec_a = x.vec_id
       |  JOIN n y ON c.vec_b = y.vec_id),
       |thr AS (
       |  SELECT CAST(unnest([${sweepThresholds.mkString(", ")}]) AS BIGINT)
       |    AS threshold_bp),
       |hits AS (
       |  SELECT t.threshold_bp, p.vec_a, p.vec_b
       |  FROM thr t JOIN pairs p ON p.cos_bp >= t.threshold_bp),
       |pc AS (
       |  SELECT threshold_bp, CAST(count(*) AS BIGINT) AS n_pairs
       |  FROM hits GROUP BY 1),
       |dc AS (
       |  SELECT threshold_bp, CAST(count(*) AS BIGINT) AS n_docs_dupped
       |  FROM (
       |    SELECT DISTINCT threshold_bp, vid FROM (
       |      SELECT threshold_bp, unnest([vec_a, vec_b]) AS vid FROM hits))
       |  GROUP BY 1)
       |SELECT t.threshold_bp,
       |  coalesce(pc.n_pairs, 0) AS n_pairs,
       |  coalesce(dc.n_docs_dupped, 0) AS n_docs_dupped
       |FROM thr t
       |LEFT JOIN pc USING (threshold_bp)
       |LEFT JOIN dc USING (threshold_bp)
       |ORDER BY threshold_bp""".stripMargin

  // ─── dedup_containment: asymmetric (sub/superset) near-dup pairs ───
  // Jaccard misses one-sided duplication: a document EMBEDDED in a
  // much larger one scores low symmetric overlap but ~100%
  // containment |A∩B|/|A| — the quote/boilerplate/expansion case a
  // training-data pipeline must catch separately (Broder's
  // resemblance-vs-containment distinction, 1997). Same bounded
  // inverted-index candidate generation as dedup_ngram_jaccard
  // (shared-shingle equijoin under the df cap, ReuseExchange'd alias
  // self-join), then exact containment both directions and a flag for
  // pairs where either direction crosses 80%.
  private val contBp = 8000L
  def dedupContainment(spark: SparkSession, dir: String): DataFrame = {
    // h60-keyed like dedupNgramJaccard — see the note there; the pair
    // exchange is likewise narrowed to (doc_a, doc_b) with the per-doc
    // totals re-attached to the shared ≥ 3 survivors (round 18, guide
    // §2.3 — same argument, same output).
    val ex = shingleRows(spark, dir)
      .select(col("doc_id"), col("h60"))
    val keep = ex.groupBy(col("h60")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
    val f = ex.join(keep.select("h60"), Seq("h60"))
    val shared = f.as("a").join(f.as("b"),
        col("a.h60") === col("b.h60") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    val totals = shingleRows(spark, dir)
      .groupBy(col("doc_id")).agg(max(col("n_sh")).as("n_sh"))
    shared
      .join(totals.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")),
        Seq("doc_a"))
      .join(totals.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")),
        Seq("doc_b"))
      .withColumn("cont_a_bp", expr("shared * 10000 div n_a"))
      .withColumn("cont_b_bp", expr("shared * 10000 div n_b"))
      .withColumn("one_sided",
        col("cont_a_bp") >= contBp || col("cont_b_bp") >= contBp)
      .select(col("doc_a"), col("doc_b"), col("shared"),
        col("cont_a_bp"), col("cont_b_bp"), col("one_sided"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val dedupContainmentSql: String =
    s"""WITH $docShinglesSql,
       |d AS (SELECT doc_id, len(sh) AS n_sh,
       |  CAST(('0x' || substr(md5(unnest(sh)), 1, 15)) AS BIGINT) AS h60
       |  FROM shdocs),
       |keep AS (SELECT h60 FROM d GROUP BY h60 HAVING count(*) <= $dfCap),
       |f AS (SELECT d.* FROM d JOIN keep USING (h60)),
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS shared
       |  FROM f a JOIN f b ON a.h60 = b.h60 AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4 HAVING count(*) >= $minShared)
       |SELECT doc_a, doc_b, shared,
       |  shared * 10000 // n_a AS cont_a_bp,
       |  shared * 10000 // n_b AS cont_b_bp,
       |  (shared * 10000 // n_a >= $contBp OR shared * 10000 // n_b >= $contBp)
       |    AS one_sided
       |FROM p ORDER BY doc_a, doc_b""".stripMargin

  // ─── dedup_est_error: MinHash estimate vs exact Jaccard ───
  // The sketch-validation gate (ann_recall's twin for dedup): for
  // every candidate pair that both the LSH path and the exact
  // inverted-index path surface, the signed error of the 64-perm
  // signature estimate against exact Jaccard, rolled up to one
  // calibration row. Proves the estimator inside the engine — at
  // scale this runs on a pair SAMPLE, and both inputs are the
  // already-materialized fixture branches.
  def dedupEstError(spark: SparkSession, dir: String): DataFrame = {
    val est = dedupMinhashLsh(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("est_bp"))
    val exact = dedupNgramJaccard(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("jaccard_bp"))
    est.join(exact, Seq("doc_a", "doc_b"))
      .withColumn("abs_err", abs(col("est_bp") - col("jaccard_bp")))
      .agg(count(lit(1)).as("n_pairs"),
        floor(sum(col("abs_err")) / count(lit(1))).cast("long")
          .as("mean_abs_err_bp"),
        max(col("abs_err")).as("max_abs_err_bp"),
        sum(when(col("abs_err") > 1000, 1L).otherwise(0L)).as("n_gross"))
  }

  val dedupEstErrorSql: String =
    s"""WITH est AS (SELECT doc_a, doc_b, est_bp FROM ($dedupMinhashLshSql)),
       |exact AS (SELECT doc_a, doc_b, jaccard_bp FROM ($dedupNgramJaccardSql)),
       |j AS (
       |  SELECT abs(est_bp - jaccard_bp) AS abs_err
       |  FROM est JOIN exact USING (doc_a, doc_b))
       |SELECT count(*) AS n_pairs,
       |  CAST(sum(abs_err) // count(*) AS BIGINT) AS mean_abs_err_bp,
       |  max(abs_err) AS max_abs_err_bp,
       |  CAST(sum(CASE WHEN abs_err > 1000 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_gross
       |FROM j""".stripMargin

  // ─── dedup_substring: exact duplicated-SPAN detection ───
  // Document-level dedup (exact/LSH above) misses the dominant failure
  // mode in web corpora: distinct documents sharing long verbatim
  // passages (licenses, boilerplate paragraphs, quoted articles). The
  // span-level answer (the "deduplicating training data" suffix-array
  // result, recast for a distributed engine): slide a W-token window
  // over every document, fingerprint each span, and a span whose
  // fingerprint appears in ≥2 DISTINCT documents is verbatim cross-
  // document duplication. Per doc: span count, duplicated-span count,
  // duplicated fraction (bp), and the longest CONSECUTIVE duplicated
  // run (gaps-and-islands over duplicated positions — consecutive
  // duplicated W-spans = one duplicated passage of run+W−1 tokens).
  // Scale shape: the span index is linear in corpus tokens and keys
  // every shuffle on an 8-byte span hash (distinct → map-side-
  // combinable df count → equijoin back); the dup-hash frame is sized
  // by true duplication, never |corpus|²; the islands window is
  // partitioned per doc (input bounded by doc length). Within-doc
  // repeats are text_repetition's job — df counts distinct docs, so a
  // span repeated only inside one doc does not mark.
  private val subW = 5

  def dedupSubstring(spark: SparkSession, dir: String): DataFrame = {
    // Span fingerprints via the fused native kernel (graft_span_hashes,
    // round 17): tokenize + W-token span + md5 + hex-prefix-to-long in
    // ONE codegen pass per document, replacing the interpreted
    // transform/concat_ws lambda + per-span conv(substring(md5)) chain
    // (~22 CPU-s at sf0.1, 56 s at the sf10 decade). n_spans =
    // size(hashes) ≡ greatest(tokens − W + 1, 0) — same value the old
    // token-count arithmetic produced (TextKernelsSpec).
    val base = Tables(spark, dir).documents
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
        call_function("graft_span_hashes",
          col("text"), lit("sub:"), lit(subW), lit(13)).as("hs"))
      .withColumn("n_spans", size(col("hs")).cast("long"))
    val spans = base
      .filter(col("n_spans") > 0)
      .select(col("doc_id"), posexplode(col("hs")).as(Seq("pos", "h")))
    val dupset = spans.select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select(col("h"))
    val isl = spans.join(dupset, Seq("h"))
      .select(col("doc_id"), col("pos"))
      .withColumn("grp", col("pos") - row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
    val runs = isl.groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("rl"))
    val agg = runs.groupBy(col("doc_id"))
      .agg(sum(col("rl")).as("dup_spans"), max(col("rl")).as("dup_run"))
    // The report side needs only n_spans — count tokens natively
    // (graft_ntokens) instead of re-deriving the hash array; same
    // value (n_spans = max(tokens − W + 1, 0)), a fraction of the cost.
    Tables(spark, dir).documents
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
        greatest(call_function("graft_ntokens", col("text"), lit(1))
          - (subW - 1), lit(0L)).as("n_spans"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_run"), lit(0L)).as("max_dup_run"))
      .withColumn("dup_bp", expr(
        "CASE WHEN n_spans = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE (n_dup_spans * 10000) DIV n_spans END"))
      .orderBy(col("doc_id"))
  }

  val dedupSubstringSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w
       |  FROM documents),
       |sp AS (
       |  SELECT doc_id, i - 1 AS pos,
       |    CAST(('0x' || substr(md5('sub:' || w[i] || ' ' || w[i+1] || ' ' ||
       |      w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]), 1, 13)) AS BIGINT) AS h
       |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - ${subW - 2})) AS i
       |        FROM tok)),
       |dupset AS (
       |  SELECT h FROM (SELECT DISTINCT h, doc_id FROM sp)
       |  GROUP BY h HAVING count(*) >= 2),
       |isl AS (
       |  SELECT s.doc_id, s.pos,
       |    s.pos - row_number() OVER (PARTITION BY s.doc_id ORDER BY s.pos)
       |      AS grp
       |  FROM sp s JOIN dupset USING (h)),
       |runs AS (SELECT doc_id, grp, count(*) AS rl FROM isl GROUP BY 1, 2),
       |agg AS (
       |  SELECT doc_id, CAST(sum(rl) AS BIGINT) AS n_dup_spans,
       |    max(rl) AS max_dup_run
       |  FROM runs GROUP BY 1)
       |SELECT t.doc_id,
       |  greatest(len(w) - ${subW - 1}, 0) AS n_spans,
       |  COALESCE(a.n_dup_spans, 0) AS n_dup_spans,
       |  COALESCE(a.max_dup_run, 0) AS max_dup_run,
       |  CAST(CASE WHEN len(w) - ${subW - 1} <= 0 THEN 0
       |       ELSE (COALESCE(a.n_dup_spans, 0) * 10000)
       |            // (len(w) - ${subW - 1}) END AS BIGINT) AS dup_bp
       |FROM tok t LEFT JOIN agg a USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin

  // ─── dedup_keep_best: quality-aware canonical election ───
  // dedup_cluster elects the min-id doc as canonical — fine for a
  // stable identity, wrong for a training corpus, where you keep the
  // BEST copy of each near-dup family. Policy here: longest document
  // (n_chars, tie → min doc_id), the standard keep-longest heuristic
  // of crawl dedup. Rides the shared CC labels, joins the documents
  // payload on the already-shrunk label frame, and reports what the
  // election saved (chars_dropped = corpus bytes the dedup pass
  // removes) — the number a 100 TB dedup run is judged by.
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val labels = dedupCluster(spark, dir)
      .select(col("doc_id"), col("cluster_id"))
    val sized = labels.join(
      Tables(spark, dir).documents.select(col("doc_id"), col("n_chars")),
      Seq("doc_id"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    sized.withColumn("rn", row_number().over(w))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("n_chars")).as("total_chars"),
        max(when(col("rn") === 1, col("doc_id"))).as("kept_doc"),
        max(when(col("rn") === 1, col("n_chars"))).as("kept_chars"))
      .select(col("cluster_id"), col("n_members"), col("kept_doc"),
        col("kept_chars"),
        (col("total_chars") - col("kept_chars")).as("chars_dropped"))
      .orderBy(col("cluster_id"))
  }

  val dedupKeepBestSql: String =
    s"""WITH RECURSIVE $ccReachCtes,
       |comp AS (SELECT node AS doc_id, MIN(x) AS cluster_id
       |         FROM reach GROUP BY node),
       |sized AS (
       |  SELECT c.cluster_id, c.doc_id, d.n_chars,
       |    row_number() OVER (PARTITION BY c.cluster_id
       |      ORDER BY d.n_chars DESC, c.doc_id) AS rn
       |  FROM comp c JOIN documents d ON c.doc_id = d.doc_id)
       |SELECT cluster_id, count(*) AS n_members,
       |  max(CASE WHEN rn = 1 THEN doc_id END) AS kept_doc,
       |  max(CASE WHEN rn = 1 THEN n_chars END) AS kept_chars,
       |  CAST(sum(n_chars) AS BIGINT)
       |    - max(CASE WHEN rn = 1 THEN n_chars END) AS chars_dropped
       |FROM sized GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  // ─── dedup_source_matrix: where does the duplication FLOW? ───
  // mix_source_overlap crosses sources on exact content hashes; this
  // is its near-dup twin over the LSH candidate pairs — the matrix
  // that separates "source X re-posts source Y's articles" (heavy
  // off-diagonal cell → fix the crawl, not the dedup) from "source X
  // is internally boilerplate-ridden" (heavy diagonal → fix the
  // extractor). Canonicalized (source_a ≤ source_b) cells with pair
  // counts and the share of all candidate mass; the pair frame joins
  // `documents` twice on doc_id (two key joins over the pair list —
  // pairs ∝ true dups by the banding argument, never corpus²).
  def dedupSourceMatrix(spark: SparkSession, dir: String): DataFrame = {
    val pairs = pairEdges(spark, dir).filter(col("src") < col("dst"))
    val srcOf = Tables(spark, dir).documents
      .select(col("doc_id"), col("source"))
    val tagged = pairs
      .join(srcOf.select(col("doc_id").as("src"), col("source").as("sa")),
        Seq("src"))
      .join(srcOf.select(col("doc_id").as("dst"), col("source").as("sb")),
        Seq("dst"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
    tagged.groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("cross_source", col("source_a") =!= col("source_b"))
      .withColumn("share_bp",
        expr("n_pairs * 10000 div sum(n_pairs) over ()"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val dedupSourceMatrixSql: String =
    s"""WITH $edgesCtes,
       |p AS (SELECT src, dst FROM edges WHERE src < dst),
       |tagged AS (
       |  SELECT least(da.source, db.source) AS source_a,
       |    greatest(da.source, db.source) AS source_b
       |  FROM p
       |  JOIN documents da ON da.doc_id = p.src
       |  JOIN documents db ON db.doc_id = p.dst),
       |cells AS (
       |  SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
       |  FROM tagged GROUP BY 1, 2)
       |SELECT source_a, source_b, n_pairs,
       |  source_a <> source_b AS cross_source,
       |  n_pairs * 10000 // CAST(sum(n_pairs) OVER () AS BIGINT) AS share_bp
       |FROM cells ORDER BY source_a, source_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_source_matrix" -> dedupSourceMatrix,
    "dedup_keep_best" -> dedupKeepBest,
    "decontam_minhash" -> decontamMinhash,
    "dedup_est_error" -> dedupEstError,
    "dedup_containment" -> dedupContainment,
    "dedup_exact" -> dedupExact,
    "dedup_ngram_jaccard" -> dedupNgramJaccard,
    "dedup_minhash_lsh" -> dedupMinhashLsh,
    "dedup_lsh_tuning" -> dedupLshTuning,
    "dedup_simhash" -> dedupSimhash,
    "dedup_threshold_sweep" -> dedupThresholdSweep,
    "dedup_embedding" -> dedupEmbedding,
    "dedup_cluster" -> dedupCluster,
    "dedup_incremental" -> dedupIncremental,
    "dedup_substring" -> dedupSubstring)

  val oracle: Map[String, String] = Map(
    "dedup_source_matrix" -> dedupSourceMatrixSql,
    "dedup_keep_best" -> dedupKeepBestSql,
    "decontam_minhash" -> decontamMinhashSql,
    "dedup_est_error" -> dedupEstErrorSql,
    "dedup_containment" -> dedupContainmentSql,
    "dedup_exact" -> dedupExactSql,
    "dedup_ngram_jaccard" -> dedupNgramJaccardSql,
    "dedup_minhash_lsh" -> dedupMinhashLshSql,
    "dedup_lsh_tuning" -> dedupLshTuningSql,
    "dedup_simhash" -> dedupSimhashSql,
    "dedup_threshold_sweep" -> dedupThresholdSweepSql,
    "dedup_embedding" -> dedupEmbeddingSql,
    "dedup_cluster" -> dedupClusterSql,
    "dedup_incremental" -> dedupIncrementalSql,
    "dedup_substring" -> dedupSubstringSql)
}

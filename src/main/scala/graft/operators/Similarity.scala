package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * Three tiers: brute-force cosine top-k (the correctness baseline and
  * oracle), random-hyperplane LSH (multi-table bucket equijoin — the
  * scale path: candidates per query track bucket occupancy, not corpus
  * size), and IVF (coarse centroid cells, nprobe=2 — distance evals
  * limited to probed cells). All vector math is codegen'd array
  * expressions (zip_with/aggregate); hyperplanes and the probe logic
  * are seed-deterministic so results are stable across runs.
  *
  * Scale posture: queries×corpus work only appears in the brute-force
  * baseline (explicitly bounded to a small query set). LSH and IVF are
  * equijoins on (table, bucket)/(cell); the centroid and hyperplane
  * "models" ride along as broadcast literals or tiny broadcast frames,
  * never driver-side collect loops.
  */
object Similarity {

  private val topK = 3
  /** Query set: the first 20 vectors. */
  private val nQueries = 20

  import graft.functions.VectorOps.{dot, vecs, dotSqlOf, dist2SqlOf, vecsSql}

  // ─── ann_bruteforce: exact cosine top-k (oracle baseline) ───
  def annBruteforce(spark: SparkSession, dir: String): DataFrame = {
    val q = vecs(spark, dir).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qn"))
    val c = vecs(spark, dir)
      .select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("norm").as("cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        floor(col("cos") * 10000 + 0.5).cast("long").as("cos_bp"))
      .orderBy(col("query_id"), col("rank"))
  }

  val annBruteforceSql: String =
    s"""WITH n AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(embedding, x -> CAST(x AS DOUBLE) * x)), (s, x) -> s + x)) AS norm
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_zip(q.v, c.v), z -> CAST(z[1] AS DOUBLE) * z[2])),
       |      (s, x) -> s + x) / (q.norm * c.norm) AS cos
       |  FROM n q JOIN n c ON q.vec_id < $nQueries AND q.vec_id <> c.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (
       |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id,
       |  CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS cos_bp
       |FROM ranked WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin

  // ─── ann_lsh: random-hyperplane LSH, 12 tables × occupancy-scaled bits ───
  // Sign-of-projection signatures against seed-42 Gaussian hyperplanes
  // (compile-time literals — zero per-row model cost at scale).
  // Candidates share a bucket in ≥1 of 12 tables; exact cosine
  // re-ranks candidates only. The hyperplanes are emitted into the
  // generated DuckDB SQL as double literals (Double.toString
  // round-trips), so even this approximate op hash-matches the oracle;
  // the spec additionally measures recall against ann_bruteforce.
  //
  // BITS SCALE WITH THE CORPUS (the round-14 sf1 finding): with a
  // fixed 4-bit bucket space, occupancy = n/16 grows linearly and the
  // within-bucket candidate join grows QUADRATICALLY — dedup_embedding
  // measured 24× wall for 10× data. bitsFor(n) picks the smallest
  // bucket space that keeps expected occupancy ≤ occupancyTarget, so
  // candidate volume stays ~n·occupancy — linear. Each table uses a
  // PREFIX of its 16-plane pool slice, and both engines derive bits
  // from the same integer-exact count, so the blocking replays
  // bit-for-bit in DuckDB at every SF. The recall knob at scale is the
  // TABLE count (L must grow like 1/p₁^bits to hold recall for
  // threshold-grade pairs); the engine keeps L=12 and surfaces the
  // achieved recall through its own calibration ops (ann_recall,
  // dedup_threshold_sweep) rather than silently degrading candidates
  // into an O(n²) join.
  private val nTables = 12
  private val minBits = 4
  private val maxBits = 16
  private val occupancyTarget = 16L

  /** Smallest b with 2^b ≥ ceil(n / occupancyTarget), clamped to
    * [minBits, maxBits] — a pure-integer formula (no float log2) so
    * the SQL twin in lshBucketCtes computes the identical value. */
  private[operators] def bitsFor(n: Long): Int = {
    val bn = (n + occupancyTarget - 1) / occupancyTarget
    var b = 0
    while ((1L << b) < bn && b < maxBits) b += 1
    math.max(minBits, b)
  }

  private lazy val planes: Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(nTables * maxBits)(Seq.fill(64)(rnd.nextGaussian()))
  }

  /** Corpus size per (session, dir) — one stats-only parquet count,
    * memoized so repeated plan builds don't re-run the job. */
  private[operators] def nVecs(spark: SparkSession, dir: String): Long =
    Checkpoints.memo("n_vecs", spark, dir)(graft.Tables(spark, dir).embeddings.count())

  /** (vec_id, table, bucket) for every vector: bucket = the sign bits
    * of this table's hyperplane projections packed into an int. Only
    * the bits(n) planes actually used are shipped into the plan.
    *
    * Round-17 (guide §4): the sign bits come from the native
    * graft_lsh_buckets expression (one JIT loop per row inside
    * WholeStageCodegen) instead of a transform(planesLit, …) lambda —
    * higher-order functions evaluate INTERPRETED, and the nTables·bits
    * interpreted dot products per row dominated every LSH consumer's
    * CPU (the salted self-joins evaluate this pipeline on both join
    * sides). Bit-exact by construction: ascending-index dot fold,
    * strict d > 0 bit test, identical plane order (see
    * LshBuckets.scala); the DuckDB twin is untouched. */
  private[operators] def bucketed(spark: SparkSession, dir: String): DataFrame = {
    val bits = bitsFor(nVecs(spark, dir))
    val used = (0 until nTables)
      .flatMap(t => planes.slice(t * maxBits, t * maxBits + bits))
      .flatten
    vecs(spark, dir)
      .select(col("vec_id"), col("v"), col("norm"),
        posexplode(call_function("graft_lsh_buckets", col("v"),
          typedLit(used), lit(nTables), lit(bits)))
          .as(Seq("table", "bucket")))
  }

  /** Just the (vec_id, table, bucket) triples — the blocking index
    * shared by annLsh and Dedup.dedupEmbedding. */
  private[operators] def bucketIds(spark: SparkSession, dir: String): DataFrame =
    bucketed(spark, dir).select(col("vec_id"), col("table"), col("bucket"))

  /** Bucket-occupancy skew cap for the SELF-join consumers (round-17:
    * dedup_embedding measured ×52 at the sf10 decade). bitsFor holds
    * MEAN occupancy ≤ 16, but the self-join cost is Σ|bucket|² per
    * table — skew-blind: on a near-dup-heavy corpus popular sign
    * patterns concentrate mass and hot buckets go quadratic. */
  private[operators] val saltCap: Long = 4L * occupancyTarget

  /** The blocking index with HOT buckets (occ > saltCap) split into
    * ⌈occ/occupancyTarget⌉ salted sub-buckets by an md5-derived hash
    * of vec_id — the q25_skew_salt discipline applied to the LSH
    * self-join: per-bucket pair cost drops from occ² to ~occ·target.
    * The DOCUMENTED recall trade: a pair inside a hot bucket survives
    * only if both sides draw the same salt — but a true near-dup pair
    * collides in up to 12 tables, so the multi-table redundancy
    * cushions the loss (DedupSimilaritySpec pins recall vs the exact
    * baseline). The hot list is tiny by construction (≤ n/saltCap
    * entries, realistically the few pathological sign patterns), so
    * it broadcasts. Both engines derive the salt from the same
    * md5-prefix integer, so the split replays bit-for-bit in DuckDB
    * (lshSaltedCtes). Cold buckets keep salt 0 — below the cap the
    * index is EXACTLY bucketIds and results are unchanged. */
  private[operators] def saltedBucketIds(spark: SparkSession, dir: String): DataFrame = {
    val b = bucketIds(spark, dir)
    val hot = b.groupBy(col("table"), col("bucket"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") > saltCap)
    b.join(broadcast(hot), Seq("table", "bucket"), "left")
      .withColumn("salt",
        when(col("occ").isNull, lit(0L))
          .otherwise(
            conv(substring(md5(col("vec_id").cast("string")), 1, 6), 16, 10)
              .cast("long") %
              expr(s"(occ + ${occupancyTarget - 1}) div $occupancyTarget")))
      .select(col("vec_id"), col("table"), col("bucket"), col("salt"))
  }

  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val b = bucketIds(spark, dir)
    val q = b.filter(col("vec_id") < nQueries)
      .select(col("table"), col("bucket"), col("vec_id").as("query_id"))
    val c = b.select(col("table"), col("bucket"), col("vec_id").as("neighbor_id"))
    // Dedup candidate PAIRS (ids only — a pair may collide in several
    // tables), then re-join the vectors: keeps the 64-double arrays
    // out of the bucket-join and distinct shuffles (~100× less shuffle
    // payload), mirroring the oracle's own shape.
    val cand = q.join(c, Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    // Broadcast ONLY the bounded query side: query_id < nQueries by
    // construction, so the hint must sit above that filter — a
    // broadcast of the unfiltered corpus OOMs the driver at 100 TB.
    val vx = vecs(spark, dir).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qn"))
    val vy = vecs(spark, dir)
      .select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("norm").as("cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand
      .join(broadcast(vx), Seq("query_id"))
      .join(vy, Seq("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        floor(col("cos") * 10000 + 0.5).cast("long").as("cos_bp"))
      .orderBy(col("query_id"), col("rank"))
  }

  // ─── ann_ivf: coarse-quantizer cells, nprobe=2 ───
  // Cells seeded from a √n-sized deterministic sample (the round-12
  // fix: the old every-50th-vector quantizer grew the centroid set —
  // and therefore the broadcast and the n·(n/50) assignment cost —
  // linearly with the corpus). Centroids are the ⌈√n⌉ vectors ranked
  // first by md5(vec_id) — a uniform, order-independent sample both
  // engines replay exactly (same init-only data-derived-model trick as
  // ann_pq's codebooks). Cells then average √n vectors, and a query's
  // nprobe cells hold ~2√n candidates — the standard IVF scaling.
  //
  // ASSIGNMENT IS A PROJECTION, NOT A JOIN (the round-17 fix): the old
  // inverted-file build cross-joined the corpus with the broadcast
  // centroid frame and ranked n·k rows in a per-vector window — an
  // n^1.5-row sort shuffle, measured ×12–24 at the sf10 decade across
  // the whole IVF family. Now the O(√n) model (cell ids + flattened
  // centroid matrix) is collected once per session (a bounded
  // TakeOrdered job, cached per (session, dir)) and rides the plan as
  // array literals into graft_nearest_cells — a native expression
  // computing the top-keep cells per row inside WholeStageCodegen:
  // zero extra rows, zero assignment shuffle. Above `twoLevelMin`
  // centroids the model goes TWO-LEVEL (⌈√k⌉ md5-ranked representative
  // cells, each vector probing its 2 nearest groups), cutting per-row
  // work from O(k·d) to O(√k·d) — n·n^(1/4) total, the hierarchical
  // coarse quantizer that retires the n^1.5 family. Below the
  // threshold the model is a single group = the exhaustive scan, so
  // every small-SF result is bit-identical to the exact assignment.
  // The DuckDB twins replay the same two levels via ivfAdCtes.
  private val nprobe = 2
  private[operators] val twoLevelMin = 64
  private val groupProbes = 2

  /** Centroid count for an n-vector corpus: ⌈√n/2⌉, floored at 4 —
    * the √n family (broadcast stays O(√n)) with cells of ~2√n, which
    * keeps nprobe=2's candidate budget at the level the recall spec
    * (DedupSimilaritySpec) anchors against brute force. */
  private def ivfK(n: Long): Int =
    math.max(4, math.ceil(math.sqrt(n.toDouble) / 2).toInt)

  /** √n md5-sampled coarse-quantizer cells; `cell` is the centroid's
    * own vec_id (an opaque, engine-agnostic cell label). The sort is
    * TakeOrdered (O(n log k), no full-sort shuffle) and the result is
    * k rows — broadcast-sized by construction. The count() that sizes
    * k is a parquet-metadata aggregate, not a data scan. */
  private def ivfCents(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables(spark, dir).embeddings.count()
    vecs(spark, dir)
      .withColumn("hkey", md5(col("vec_id").cast("string")))
      .orderBy(col("hkey"), col("vec_id"))
      .limit(ivfK(n))
      .select(col("vec_id").as("cell"), col("v").as("centv"))
  }

  /** DuckDB twin of ivfCents — expects a preceding `n` CTE in vecsSql
    * shape; shared by the ann_ivf / knn_join / hard_neg_mine oracles. */
  private lazy val ivfCentsSql: String =
    """cents AS (
      |  SELECT vec_id AS cell, v AS centv FROM n
      |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      |  LIMIT greatest(4, CAST(ceil(sqrt(
      |    (SELECT count(*) FROM embeddings)) / 2) AS BIGINT)))""".stripMargin

  /** DuckDB twin of the two-level graft_nearest_cells assignment
    * (NearestCells.scala): replays the model's exact structure —
    * k1 = smallest m with m·m ≥ k when k ≥ twoLevelMin else 1 (one
    * group = the exhaustive scan), representatives = the first k1
    * centroids by (md5(cell), cell), each centroid grouped under its
    * nearest representative by (d2, rcell), each vector probing its
    * `groupProbes` nearest representatives. The emitted `ad` CTE keeps
    * the OLD ad's columns and name, so every downstream
    * row_number-over-(d2, cell) CTE is textually unchanged.
    *
    * `cols` is the ad projection (e.g. "n.vec_id, n.v, n.norm");
    * `vpWhere` optionally bounds the assigned vector set (e.g.
    * " WHERE n.vec_id < 20" for query-side-only twins). */
  private def ivfAdCtes(cols: String, vpWhere: String = ""): String =
    s"""k1cfg AS (
       |  SELECT CASE WHEN (SELECT count(*) FROM cents) >= $twoLevelMin THEN
       |    (SELECT min(m) FROM range(1, 100000) t(m)
       |     WHERE m * m >= (SELECT count(*) FROM cents))
       |    ELSE 1 END AS k1),
       |reps AS (
       |  SELECT cell AS rcell, centv AS rv FROM (
       |    SELECT cell, centv, row_number() OVER (
       |      ORDER BY md5(CAST(cell AS VARCHAR)), cell) AS rr FROM cents)
       |  WHERE rr <= (SELECT k1 FROM k1cfg)),
       |cgrp AS (
       |  SELECT cell, centv, rcell FROM (
       |    SELECT c.cell, c.centv, r.rcell, row_number() OVER (
       |      PARTITION BY c.cell
       |      ORDER BY (${dist2SqlOf("c.centv", "r.rv")}), r.rcell) AS gr
       |    FROM cents c, reps r)
       |  WHERE gr = 1),
       |vp AS (
       |  SELECT vec_id, rcell FROM (
       |    SELECT n.vec_id, r.rcell, row_number() OVER (
       |      PARTITION BY n.vec_id
       |      ORDER BY (${dist2SqlOf("n.v", "r.rv")}), r.rcell) AS pr
       |    FROM n, reps r$vpWhere)
       |  WHERE pr <= $groupProbes),
       |ad AS (
       |  SELECT $cols, g.cell,
       |    (${dist2SqlOf("n.v", "g.centv")}) AS d2
       |  FROM n JOIN vp ON n.vec_id = vp.vec_id
       |  JOIN cgrp g ON g.rcell = vp.rcell)""".stripMargin

  /** Driver-collected coarse-quantizer model: (cell ids, flattened
    * centroid matrix). Bounded O(√n) by construction (ivfCents is a
    * TakeOrdered sample); memoized per (session, dir) so the whole IVF
    * family shares ONE model-build job per chunk. */
  private def ivfModelArrays(spark: SparkSession,
      dir: String): (Array[Long], Array[Double]) =
    Checkpoints.memo("ivf_model", spark, dir) {
      val rows = ivfCents(spark, dir).collect()
      val cells = rows.map(_.getLong(0))
      val mat = rows.flatMap(_.getSeq[Double](1)).toArray
      (cells, mat)
    }

  /** Top-`keep` cells of `vcol` in (d2, cell) rank order — the
    * graft_nearest_cells projection over the plan-literal model (task
    * binaries broadcast once per stage, so the model ships exactly
    * like a broadcast variable; see NearestCells.scala). */
  private def nearestCellsCol(spark: SparkSession, dir: String,
      vcol: Column, keep: Int): Column = {
    val (cells, mat) = ivfModelArrays(spark, dir)
    call_function("graft_nearest_cells", vcol,
      typedLit(cells.toSeq), typedLit(mat.toSeq),
      lit(keep), lit(twoLevelMin))
  }

  /** Each vector of `df` paired with its `keep` nearest cells: the
    * inverted-file build (keep=1) and the probe step (keep=nprobe)
    * share this — as do annIvf and the IVF-composed miners
    * (hardNegMine). One generated projection + explode; no join, no
    * window, no shuffle. */
  private def nearestCells(spark: SparkSession, dir: String,
      df: DataFrame, keep: Int): DataFrame =
    df.withColumn("cell",
      explode(nearestCellsCol(spark, dir, col("v"), keep)))

  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir)
    val assigned = nearestCells(spark, dir, v, 1)
      .select(col("cell"), col("vec_id").as("neighbor_id"),
        col("v").as("cv"), col("norm").as("cn"))
    val probes = nearestCells(spark, dir, v.filter(col("vec_id") < nQueries), nprobe)
      .select(col("cell"), col("vec_id").as("query_id"),
        col("v").as("qv"), col("norm").as("qn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    probes.join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cell"),
        floor(col("cos") * 10000 + 0.5).cast("long").as("cos_bp"))
      .orderBy(col("query_id"), col("rank"))
  }


  /** DuckDB twin of bucketIds — planes/bits/buckets CTEs; expects a
    * preceding `n` CTE in vecsSql shape. Shared with
    * Dedup.dedupEmbeddingSql so both engines block identically. */
  private[operators] lazy val lshBucketCtes: String = {
    val planeRows = planes.zipWithIndex.map { case (p, pid) =>
      s"($pid, [${p.mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n    ")
    // bcfg mirrors bitsFor(n) with the same pure-integer formula
    // (count of b in [0, maxBits) with 2^b < ceil(n/target), clamped),
    // so both engines pick the identical occupancy-scaled bucket width.
    s"""planes(pid, p) AS (VALUES
       |    $planeRows),
       |bcfg AS (
       |  SELECT GREATEST($minBits, (
       |    SELECT count(*) FROM range(0, $maxBits) t(b)
       |    WHERE (CAST(1 AS BIGINT) << CAST(b AS INT)) <
       |      ((SELECT count(*) + $occupancyTarget - 1 FROM n) // $occupancyTarget)
       |  )) AS bits),
       |bits AS (
       |  SELECT n.vec_id, pl.pid,
       |    CASE WHEN (${dotSqlOf("n.v", "pl.p")}) > 0 THEN 1 ELSE 0 END AS bit
       |  FROM n, planes pl, bcfg WHERE (pl.pid % $maxBits) < bcfg.bits),
       |buckets AS (
       |  SELECT vec_id, (pid // $maxBits) AS tbl,
       |    sum(bit << (bcfg.bits - 1 - (pid % $maxBits))) AS bucket
       |  FROM bits, bcfg GROUP BY vec_id, (pid // $maxBits), bcfg.bits)""".stripMargin
  }

  /** DuckDB twin of saltedBucketIds — lshBucketCtes plus the hot-bucket
    * occupancy census and the md5-prefix salt, bit-for-bit with the
    * Spark side (conv(md5-prefix, 16, 10) == ('0x'||prefix)::BIGINT). */
  private[operators] lazy val lshSaltedCtes: String =
    s"""$lshBucketCtes,
       |hot AS (
       |  SELECT tbl, bucket, count(*) AS occ FROM buckets
       |  GROUP BY 1, 2 HAVING count(*) > $saltCap),
       |sbuckets AS (
       |  SELECT b.vec_id, b.tbl, b.bucket,
       |    CASE WHEN h.occ IS NULL THEN 0
       |      ELSE CAST(('0x' || substr(md5(CAST(b.vec_id AS VARCHAR)), 1, 6))
       |             AS BIGINT)
       |           % ((h.occ + ${occupancyTarget - 1}) // $occupancyTarget)
       |    END AS salt
       |  FROM buckets b LEFT JOIN hot h
       |    ON b.tbl = h.tbl AND b.bucket = h.bucket)""".stripMargin

  val annLshSql: String = {
    s"""WITH n AS (${vecsSql("vec_id")}),
       |$lshBucketCtes,
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM buckets q JOIN buckets c
       |    ON q.tbl = c.tbl AND q.bucket = c.bucket
       |    AND q.vec_id < $nQueries AND q.vec_id <> c.vec_id),
       |scored AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    (${dotSqlOf("x.v", "y.v")}) / (x.norm * y.norm) AS cos
       |  FROM cand
       |    JOIN n x ON cand.query_id = x.vec_id
       |    JOIN n y ON cand.neighbor_id = y.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (
       |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id,
       |  CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS cos_bp
       |FROM ranked WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin
  }

  val annIvfSql: String =
    s"""WITH n AS (${vecsSql("vec_id")}),
       |$ivfCentsSql,
       |${ivfAdCtes("n.vec_id, n.v, n.norm")},
       |assigned AS (
       |  SELECT cell, vec_id AS neighbor_id, v AS cv, norm AS cn FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY d2, cell) AS r FROM ad)
       |  WHERE r <= 1),
       |probes AS (
       |  SELECT cell, vec_id AS query_id, v AS qv, norm AS qn FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY d2, cell) AS r
       |    FROM ad WHERE vec_id < $nQueries)
       |  WHERE r <= $nprobe),
       |scored AS (
       |  SELECT p.query_id, a.neighbor_id, p.cell,
       |    (${dotSqlOf("p.qv", "a.cv")}) / (p.qn * a.cn) AS cos
       |  FROM probes p JOIN assigned a
       |    ON p.cell = a.cell AND p.query_id <> a.neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cell, cos,
       |    CAST(row_number() OVER (
       |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id, cell,
       |  CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS cos_bp
       |FROM ranked WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin

  // ─── ann_retrieve: vector search joined back to the payload ───
  // The retrieval composition (the RAG shape): top-k neighbor ids
  // from the LSH INDEX (annLsh — candidates per query track bucket
  // occupancy, never the corpus; annBruteforce stays its own oracle
  // baseline), then ONE equijoin to fetch the documents' payload.
  // The hit set is tiny (queries × k) so it broadcasts; the
  // corpus-sized documents table never shuffles — at 100 TB the
  // payload fetch is a broadcast-hash probe into the doc store, not
  // a join of two big sides. Snippet is a deterministic prefix (both
  // engines count characters, so zh text round-trips).
  def annRetrieve(spark: SparkSession, dir: String): DataFrame = {
    val hits = annLsh(spark, dir)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
    Tables(spark, dir).documents
      .join(broadcast(hits), col("doc_id") === col("neighbor_id"))
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("lang"), col("n_chars"),
        substring(col("text"), 1, 40).as("snippet"))
      .orderBy(col("query_id"), col("rank"))
  }

  val annRetrieveSql: String =
    s"""WITH hits AS (
       |  SELECT query_id, rank, neighbor_id FROM ($annLshSql))
       |SELECT h.query_id, h.rank, h.neighbor_id, d.lang, d.n_chars,
       |  substr(d.text, 1, 40) AS snippet
       |FROM hits h JOIN documents d ON d.doc_id = h.neighbor_id
       |ORDER BY h.query_id, h.rank""".stripMargin

  // ─── ann_range_search: radius query around each probe vector ───
  // The "everything within cosine ≥ τ" API (faiss range_search):
  // unlike annLsh's fixed top-k, the result-set size is data-driven —
  // the caller wants ALL neighbors above the floor (dedup candidates
  // for one incoming document, near-claim retrieval, abuse-cluster
  // expansion). Same seed-42 LSH blocking index as annLsh, so
  // candidate volume tracks bucket occupancy, never the corpus, and
  // the DuckDB twin replays the blocking bit-exactly. A per-query
  // n_hits column rides a window over the (tiny) post-threshold hit
  // set — the saturation signal: a probe whose hit count approaches
  // its candidate budget needs more tables/bits, not a bigger k.
  private val rangeTau = 0.3

  def annRangeSearch(spark: SparkSession, dir: String): DataFrame = {
    val b = bucketIds(spark, dir)
    val q = b.filter(col("vec_id") < nQueries)
      .select(col("table"), col("bucket"), col("vec_id").as("query_id"))
    val c = b.select(col("table"), col("bucket"), col("vec_id").as("neighbor_id"))
    val cand = q.join(c, Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    val vq = vecs(spark, dir).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qn"))
    val vc = vecs(spark, dir)
      .select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("norm").as("cn"))
    val w = Window.partitionBy(col("query_id"))
    cand.join(broadcast(vq), Seq("query_id"))
      .join(vc, Seq("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .filter(col("cos") >= rangeTau)
      .withColumn("n_hits", count(lit(1)).over(w))
      .select(col("query_id"), col("neighbor_id"),
        floor(col("cos") * 10000 + 0.5).cast("long").as("cos_bp"), col("n_hits"))
      .orderBy(col("query_id"), col("cos_bp").desc, col("neighbor_id"))
  }

  val annRangeSearchSql: String =
    s"""WITH n AS (${vecsSql("vec_id")}),
       |$lshBucketCtes,
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM buckets q JOIN buckets c
       |    ON q.tbl = c.tbl AND q.bucket = c.bucket
       |    AND q.vec_id < $nQueries AND q.vec_id <> c.vec_id),
       |hits AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    (${dotSqlOf("x.v", "y.v")}) / (x.norm * y.norm) AS cos
       |  FROM cand
       |    JOIN n x ON cand.query_id = x.vec_id
       |    JOIN n y ON cand.neighbor_id = y.vec_id
       |  WHERE (${dotSqlOf("x.v", "y.v")}) / (x.norm * y.norm) >= $rangeTau)
       |SELECT query_id, neighbor_id,
       |  CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS cos_bp,
       |  count(*) OVER (PARTITION BY query_id) AS n_hits
       |FROM hits ORDER BY query_id, cos_bp DESC, neighbor_id""".stripMargin

  // ─── ann_sq: int8 scalar quantization + exact rescore ───
  // The SQ tier (faiss IndexScalarQuantizer shape): embeddings are
  // unit-norm, so a FIXED symmetric scale maps each component to a
  // small integer with no corpus statistics — q_i = floor(200·x_i+0.5)
  // (|x_i| ≤ 1 ⇒ |q_i| ≤ 200, int8-packable). The scan phase scores
  // candidates with an INTEGER dot product over the codes — exact in
  // both engines (no float summation-order hazard), and at 100 TB the
  // quantized corpus is ¼ the bytes of float32, which is the point:
  // the full-scan cost is memory bandwidth. A 10-deep shortlist per
  // query is then rescored with the exact double cosine. Composes
  // with IVF at scale (probe cells, SQ-scan within cells); recall vs
  // the exact baseline is measured in ScaleOpsSpec's sibling
  // (SimilaritySpec-style) recall check below the oracle gate.
  private val sqScale = 200
  private val sqShortlist = 10

  def annSq(spark: SparkSession, dir: String): DataFrame = {
    // Codes kept as doubles so the scan rides the codegen'd dot
    // product: every |code| ≤ 200, so products (≤ 4·10⁴) and their
    // 64-term sums (≤ 2.6·10⁶) are exactly representable — the double
    // dot IS integer arithmetic here, and the final cast to long is
    // lossless in both engines.
    val coded = vecs(spark, dir).withColumn("q",
      transform(col("v"), x => floor(x * sqScale + 0.5).cast("double")))
    val q = coded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("q").as("qq"),
        col("v").as("qv"), col("norm").as("qn"))
    val c = coded.select(col("vec_id").as("neighbor_id"), col("q").as("cq"),
      col("v").as("cv"), col("norm").as("cn"))
    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("ascore").desc, col("neighbor_id"))
    val we = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("ascore", dot(col("qq"), col("cq")).cast("long"))
      .withColumn("arank", row_number().over(wa))
      .filter(col("arank") <= sqShortlist)
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(we).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        floor(col("cos") * 10000 + 0.5).cast("long").as("cos_bp"),
        col("ascore"))
      .orderBy(col("query_id"), col("rank"))
  }

  val annSqSql: String =
    s"""WITH n AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(embedding, x -> CAST(x AS DOUBLE) * x)), (s, x) -> s + x)) AS norm,
       |    list_transform(embedding,
       |      x -> floor(CAST(x AS DOUBLE) * $sqScale + 0.5)) AS q
       |  FROM embeddings),
       |approx AS (
       |  SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    qs.v AS qv, qs.norm AS qn, c.v AS cv, c.norm AS cn,
       |    CAST(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_zip(qs.q, c.q), z -> z[1] * z[2])),
       |      (s, x) -> s + x) AS BIGINT) AS ascore
       |  FROM n qs JOIN n c ON qs.vec_id < $nQueries AND qs.vec_id <> c.vec_id),
       |short AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY query_id ORDER BY ascore DESC, neighbor_id) AS arank
       |    FROM approx)
       |  WHERE arank <= $sqShortlist),
       |exact AS (
       |  SELECT query_id, neighbor_id, ascore,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_zip(qv, cv), z -> CAST(z[1] AS DOUBLE) * z[2])),
       |      (s, x) -> s + x) / (qn * cn) AS cos
       |  FROM short),
       |ranked AS (
       |  SELECT query_id, neighbor_id, ascore, cos,
       |    CAST(row_number() OVER (
       |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM exact)
       |SELECT query_id, rank, neighbor_id,
       |  CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS cos_bp, ascore
       |FROM ranked WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin

  // ─── ann_pq: product quantization + asymmetric-distance scan ───
  // The PQ tier (Jégou et al. 2011, faiss IndexPQ shape): 64 dims
  // split into 8 subspaces of 8; each subvector is replaced by the id
  // of its nearest codeword, so a vector stores as 8 small codes —
  // the memory tier below SQ. Scoring is asymmetric: the query
  // precomputes its dot against every codeword (an 8×16 ADC table),
  // and a candidate's score is 8 table lookups summed — no per-pair
  // float math at scan time. Kept bit-exact cross-engine by composing
  // PQ OVER SQ CODES: codebooks and queries live in the integer
  // sq-code domain, so every distance/score is an integer-valued
  // double and the group-by sum is order-independent. The codebook is
  // the first 16 vectors' coded subvectors (the same deterministic
  // data-derived "model" trick as ann_ivf's sampled centroids —
  // init-only k-means, broadcast as a 128-row frame, never collected).
  // Shortlist 10 per query by ADC score, exact-cosine rescore, top 3.
  private val pqSub = 8       // subspaces
  private val pqDim = 8       // dims per subspace
  private val pqK = 16        // codewords per subspace

  def annPq(spark: SparkSession, dir: String): DataFrame = {
    val coded = vecs(spark, dir).withColumn("q",
      transform(col("v"), x => floor(x * sqScale + 0.5).cast("double")))
    // (vec_id, s, sq): the vector's coded subvector per subspace.
    val sub = coded.select(col("vec_id"), col("v"), col("norm"),
      posexplode(transform(sequence(lit(0), lit(pqSub - 1)),
        s => slice(col("q"), s * pqDim + 1, lit(pqDim)))).as(Seq("s", "sq")))
    val cb = sub.filter(col("vec_id") < pqK)
      .select(col("s"), col("vec_id").as("k"), col("sq").as("cq"))
    val d2 = aggregate(zip_with(col("sq"), col("cq"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (s, x) => s + x)
    val wEnc = Window.partitionBy(col("vec_id"), col("s"))
      .orderBy(col("d2"), col("k"))
    val enc = sub.join(broadcast(cb), Seq("s"))
      .withColumn("d2", d2)
      .withColumn("rn", row_number().over(wEnc))
      .filter(col("rn") === 1)
      .select(col("vec_id").as("neighbor_id"), col("s"), col("k"))
    val qadc = sub.filter(col("vec_id") < nQueries)
      .join(broadcast(cb), Seq("s"))
      .select(col("vec_id").as("query_id"), col("s"), col("k"),
        dot(col("sq"), col("cq")).as("qd"))
    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("pq_score").desc, col("neighbor_id"))
    val we = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val vx = vecs(spark, dir).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qn"))
    val vy = vecs(spark, dir)
      .select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("norm").as("cn"))
    enc.join(broadcast(qadc), Seq("s", "k"))
      .filter(col("query_id") =!= col("neighbor_id"))
      // Map-side partial combine collapses the 8 per-subspace rows of
      // a (query, neighbor) pair before the shuffle: the shuffled
      // volume is queries×corpus, same as the SQ scan's window input.
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("qd")).cast("long").as("pq_score"))
      .withColumn("arank", row_number().over(wa))
      .filter(col("arank") <= sqShortlist)
      .join(broadcast(vx), Seq("query_id"))
      .join(vy, Seq("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(we).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        floor(col("cos") * 10000 + 0.5).cast("long").as("cos_bp"),
        col("pq_score"))
      .orderBy(col("query_id"), col("rank"))
  }

  val annPqSql: String =
    s"""WITH n AS (
       |  ${vecsSql("vec_id").replace("\n", "\n  ")}
       |), cv AS (
       |  SELECT vec_id, v, norm,
       |    list_transform(v, x -> CAST(floor(x * $sqScale + 0.5) AS DOUBLE)) AS q
       |  FROM n
       |), sub AS (
       |  SELECT vec_id, CAST(r.range AS BIGINT) AS s,
       |    q[CAST(r.range * $pqDim + 1 AS BIGINT) :
       |      CAST(r.range * $pqDim + $pqDim AS BIGINT)] AS sq
       |  FROM cv, range(0, $pqSub) r
       |), cb AS (
       |  SELECT s, vec_id AS k, sq AS cq FROM sub WHERE vec_id < $pqK
       |), enc AS (
       |  SELECT vec_id AS neighbor_id, s, k FROM (
       |    SELECT su.vec_id, su.s, cb.k, row_number() OVER (
       |      PARTITION BY su.vec_id, su.s
       |      ORDER BY ${dist2SqlOf("su.sq", "cb.cq").replace("\n", "\n      ")}, cb.k) AS rn
       |    FROM sub su JOIN cb ON cb.s = su.s)
       |  WHERE rn = 1
       |), qadc AS (
       |  SELECT su.vec_id AS query_id, su.s, cb.k,
       |    ${dotSqlOf("su.sq", "cb.cq").replace("\n", "\n    ")} AS qd
       |  FROM sub su JOIN cb ON cb.s = su.s WHERE su.vec_id < $nQueries
       |), score AS (
       |  SELECT qa.query_id, e.neighbor_id, CAST(sum(qa.qd) AS BIGINT) AS pq_score
       |  FROM enc e JOIN qadc qa ON qa.s = e.s AND qa.k = e.k
       |  WHERE qa.query_id <> e.neighbor_id
       |  GROUP BY 1, 2
       |), short AS (
       |  SELECT query_id, neighbor_id, pq_score FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY query_id ORDER BY pq_score DESC, neighbor_id) AS arank
       |    FROM score)
       |  WHERE arank <= $sqShortlist
       |), exact AS (
       |  SELECT s.query_id, s.neighbor_id, s.pq_score,
       |    ${dotSqlOf("q.v", "c.v").replace("\n", "\n    ")} / (q.norm * c.norm) AS cos
       |  FROM short s
       |  JOIN n q ON q.vec_id = s.query_id
       |  JOIN n c ON c.vec_id = s.neighbor_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, pq_score, cos,
       |    CAST(row_number() OVER (
       |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM exact)
       |SELECT query_id, rank, neighbor_id,
       |  CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS cos_bp, pq_score
       |FROM ranked WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin

  // ─── ann_ivf_pq: IVF cells × PQ codes (the faiss IndexIVFPQ shape) ───
  // The production composition the two tiers above exist for: the
  // coarse quantizer restricts a query's scan to its nprobe cells
  // (~2√n candidates instead of n), and WITHIN those cells scoring is
  // the PQ asymmetric-distance table — 8 integer lookups per
  // candidate, no per-pair float math — then the usual bounded
  // shortlist gets the exact-cosine rescore. Memory story at 100 TB:
  // the scan path touches only cell-assignment + 8-byte PQ codes, the
  // full float vectors are read for the |queries|·shortlist rescore
  // rows alone. Everything is the same deterministic machinery the
  // oracles already replay (md5-sampled √n centroids, first-16
  // codebooks in the integer SQ-code domain), so the composition
  // stays bit-exact cross-engine.
  //
  // nprobe is doubled and the rescore shortlist tripled vs the
  // single-tier scans: two lossy tiers stack, and the standard
  // compensation (the faiss guidance for IVFPQ) is probing wider and
  // rescoring deeper — both knobs cost bounded work (ADC lookups per
  // candidate, |queries|·shortlist exact rescores) and together lift
  // sf0.01 recall@3 vs brute force to 0.52, ABOVE either tier alone
  // (IVF 0.33, PQ 0.38) — the Round12OpsSpec anchor.
  private val ivfPqProbe = 2 * nprobe
  // Wider exact-rescore shortlist than the single-tier scans: two
  // lossy tiers stack, and the rescore stays |queries|·shortlist —
  // the cheapest place in this plan to buy recall back.
  private val ivfPqShortlist = 3 * sqShortlist

  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir)
    // inverted file + probe lists (the annIvf build, reused verbatim)
    val assigned = nearestCells(spark, dir, v, 1)
      .select(col("cell"), col("vec_id").as("neighbor_id"))
    val probes = nearestCells(spark, dir, v.filter(col("vec_id") < nQueries),
        ivfPqProbe)
      .select(col("cell"), col("vec_id").as("query_id"))
    // PQ encode (the annPq build): per-subspace codes vs the first-16
    // codebook, all in the integer SQ-code domain.
    val coded = v.withColumn("q",
      transform(col("v"), x => floor(x * sqScale + 0.5).cast("double")))
    val sub = coded.select(col("vec_id"),
      posexplode(transform(sequence(lit(0), lit(pqSub - 1)),
        s => slice(col("q"), s * pqDim + 1, lit(pqDim)))).as(Seq("s", "sq")))
    val cb = sub.filter(col("vec_id") < pqK)
      .select(col("s"), col("vec_id").as("k"), col("sq").as("cq"))
    val d2 = aggregate(zip_with(col("sq"), col("cq"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (s, x) => s + x)
    val enc = sub.join(broadcast(cb), Seq("s"))
      .withColumn("d2", d2)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id"), col("s")).orderBy(col("d2"), col("k"))))
      .filter(col("rn") === 1)
      .select(col("vec_id").as("neighbor_id"), col("s"), col("k"))
    val qadc = sub.filter(col("vec_id") < nQueries)
      .join(broadcast(cb), Seq("s"))
      .select(col("vec_id").as("query_id"), col("s"), col("k"),
        dot(col("sq"), col("cq")).as("qd"))
    // candidate pairs from the probed cells ONLY, then ADC-score them:
    // the scan volume is Σ|probed cell| per query, never the corpus.
    val cand = probes.join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("pq_score").desc, col("neighbor_id"))
    val we = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val vx = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qn"))
    val vy = v.select(col("vec_id").as("neighbor_id"),
      col("v").as("cv"), col("norm").as("cn"))
    cand.join(enc, Seq("neighbor_id"))
      .join(broadcast(qadc), Seq("query_id", "s", "k"))
      .groupBy(col("query_id"), col("neighbor_id"), col("cell"))
      .agg(sum(col("qd")).cast("long").as("pq_score"))
      .withColumn("arank", row_number().over(wa))
      .filter(col("arank") <= ivfPqShortlist)
      .join(broadcast(vx), Seq("query_id"))
      .join(vy, Seq("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(we).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cell"),
        floor(col("cos") * 10000 + 0.5).cast("long").as("cos_bp"),
        col("pq_score"))
      .orderBy(col("query_id"), col("rank"))
  }

  lazy val annIvfPqSql: String =
    s"""WITH n AS (
       |  ${vecsSql("vec_id").replace("\n", "\n  ")}
       |),
       |$ivfCentsSql,
       |${ivfAdCtes("n.vec_id")},
       |assigned AS (
       |  SELECT cell, vec_id AS neighbor_id FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY d2, cell) AS r FROM ad)
       |  WHERE r <= 1),
       |probes AS (
       |  SELECT cell, vec_id AS query_id FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY d2, cell) AS r
       |    FROM ad WHERE vec_id < $nQueries)
       |  WHERE r <= $ivfPqProbe),
       |cv AS (
       |  SELECT vec_id, v, norm,
       |    list_transform(v, x -> CAST(floor(x * $sqScale + 0.5) AS DOUBLE)) AS q
       |  FROM n),
       |sub AS (
       |  SELECT vec_id, CAST(r.range AS BIGINT) AS s,
       |    q[CAST(r.range * $pqDim + 1 AS BIGINT) :
       |      CAST(r.range * $pqDim + $pqDim AS BIGINT)] AS sq
       |  FROM cv, range(0, $pqSub) r),
       |cb AS (
       |  SELECT s, vec_id AS k, sq AS cq FROM sub WHERE vec_id < $pqK),
       |enc AS (
       |  SELECT vec_id AS neighbor_id, s, k FROM (
       |    SELECT su.vec_id, su.s, cb.k, row_number() OVER (
       |      PARTITION BY su.vec_id, su.s
       |      ORDER BY ${dist2SqlOf("su.sq", "cb.cq").replace("\n", "\n      ")}, cb.k) AS rn
       |    FROM sub su JOIN cb ON cb.s = su.s)
       |  WHERE rn = 1),
       |qadc AS (
       |  SELECT su.vec_id AS query_id, su.s, cb.k,
       |    ${dotSqlOf("su.sq", "cb.cq").replace("\n", "\n    ")} AS qd
       |  FROM sub su JOIN cb ON cb.s = su.s WHERE su.vec_id < $nQueries),
       |cand AS (
       |  SELECT p.query_id, a.neighbor_id, p.cell
       |  FROM probes p JOIN assigned a ON a.cell = p.cell
       |  WHERE p.query_id <> a.neighbor_id),
       |score AS (
       |  SELECT c.query_id, c.neighbor_id, c.cell,
       |    CAST(sum(qa.qd) AS BIGINT) AS pq_score
       |  FROM cand c
       |  JOIN enc e ON e.neighbor_id = c.neighbor_id
       |  JOIN qadc qa ON qa.query_id = c.query_id AND qa.s = e.s AND qa.k = e.k
       |  GROUP BY 1, 2, 3),
       |short AS (
       |  SELECT query_id, neighbor_id, cell, pq_score FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY query_id ORDER BY pq_score DESC, neighbor_id) AS arank
       |    FROM score)
       |  WHERE arank <= $ivfPqShortlist),
       |exact AS (
       |  SELECT s.query_id, s.neighbor_id, s.cell, s.pq_score,
       |    ${dotSqlOf("q.v", "c.v").replace("\n", "\n    ")} / (q.norm * c.norm) AS cos
       |  FROM short s
       |  JOIN n q ON q.vec_id = s.query_id
       |  JOIN n c ON c.vec_id = s.neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cell, pq_score, cos,
       |    CAST(row_number() OVER (
       |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM exact)
       |SELECT query_id, rank, neighbor_id, cell,
       |  CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS cos_bp, pq_score
       |FROM ranked WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin

  // ─── knn_join: cell-blocked k-NN self-join (the kNN-graph pass) ───
  // EVERY vector gets its 2 nearest within-cell neighbors — the
  // kNN-graph construction that feeds diversity filtering and
  // graph-based dedup, as opposed to the query-set shape of ann_*.
  // Blocking reuses the IVF coarse quantizer: assignment is a
  // broadcast join + per-vector min; the candidate join is then an
  // EQUIJOIN on cell, so pair count tracks Σ|cell|² (bounded by the
  // quantizer's granularity), never corpus². Within-cell semantics
  // are deterministic, so the oracle replays them exactly; recall
  // beyond the cell boundary is ann_lsh/ann_ivf's multi-probe
  // territory.
  private val knnK = 2

  // ─── knn_seed fixture: the edge substrate three operators share ───
  // knn_join's edge table is read by knn_join itself, by
  // ann_knn_graph's health readout, and by ann_nndescent (plus its
  // convergence variant) as the descent seed. Round-15 measured the
  // cost of NOT sharing it: ann_nndescent recomputed centroids + the
  // full cell self-join + two ranking windows inside every invocation
  // — 35 s at sf0.1 for what is milliseconds of candidate math. Same
  // discipline as Dedup's signature/pair-graph fixtures: built once
  // per (session, dir) by `Checkpoints.fixture` (Bench prices the
  // build as its own "knn_seed" line item, never charging it to
  // whichever consumer runs first).
  //   knnEdges: (vec_id, rank, neighbor_id, cell, cos_bp) — knn_join's
  //     exact output, |V|·k rows.
  //   seedEdges: (vec_id, neighbor_id) — knnEdges ∪ one BRIDGE edge
  //     per node (its nearest neighbor inside its 2nd-nearest cell):
  //     the connected NN-Descent seed (see annNndescent).
  /** The UNCHECKPOINTED (knnEdges, bridge) plans — the fixture's
    * builder, exposed to PlanShapeSpec so the cell-equijoin shape
    * stays auditable after the fixture hides it behind a LogicalRDD. */
  private[graft] def knnSeedPlans(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val v = vecs(spark, dir)
    // One cell ranking serves both consumers: rank 1 is the IVF
    // assignment (knn's blocking), rank 2 the multiprobe direction
    // (the bridge's target cell). posexplode of the rank-ordered
    // graft_nearest_cells array IS the ranking — no join, no window.
    val cellRanked = v.select(col("vec_id"), col("v"), col("norm"),
      posexplode(nearestCellsCol(spark, dir, col("v"), 2))
        .as(Seq("pos", "cell")))
      .withColumn("cell_rank", col("pos") + 1)
    val assigned = cellRanked.filter(col("cell_rank") === 1)
      .select(col("cell"), col("vec_id"), col("v"), col("norm"))
    val left = assigned.select(col("cell"), col("vec_id"),
      col("v").as("lv"), col("norm").as("ln"))
    val right = assigned.select(col("cell"),
      col("vec_id").as("neighbor_id"),
      col("v").as("rv"), col("norm").as("rn"))
    val wTop = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val e = left.join(right, Seq("cell"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("lv"), col("rv")) / (col("ln") * col("rn")))
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= knnK)
      .select(col("vec_id"), col("rank"), col("neighbor_id"), col("cell"),
        floor(col("cos") * 10000 + 0.5).cast("long").as("cos_bp"))
    val probe2 = cellRanked.filter(col("cell_rank") === 2)
      .select(col("cell"), col("vec_id"),
        col("v").as("qv"), col("norm").as("qn"))
    val cand = assigned.select(col("cell"),
      col("vec_id").as("neighbor_id"),
      col("v").as("cv"), col("norm").as("cn"))
    val bridge = probe2.join(cand, Seq("cell"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("r", row_number().over(wTop))
      .filter(col("r") === 1)
      .select(col("vec_id"), col("neighbor_id"))
    (e, bridge)
  }

  private def knnSeed(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    Checkpoints.fixture("knn_seed", spark, dir) {
      val (ePlan, bridge) = knnSeedPlans(spark, dir)
      val e = ePlan.localCheckpoint(eager = false)
      e.count()
      val s = e.select(col("vec_id"), col("neighbor_id")).union(bridge)
        .localCheckpoint(eager = false)
      s.count()
      (e, s)
    }

  def knnJoin(spark: SparkSession, dir: String): DataFrame =
    knnSeed(spark, dir)._1.orderBy(col("vec_id"), col("rank"))

  val knnJoinSql: String =
    s"""WITH n AS (${vecsSql("vec_id")}),
       |$ivfCentsSql,
       |${ivfAdCtes("n.vec_id, n.v, n.norm")},
       |assigned AS (
       |  SELECT cell, vec_id, v, norm FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY d2, cell) AS r FROM ad)
       |  WHERE r = 1),
       |scored AS (
       |  SELECT a.vec_id, b.vec_id AS neighbor_id, a.cell,
       |    (${dotSqlOf("a.v", "b.v")}) / (a.norm * b.norm) AS cos
       |  FROM assigned a JOIN assigned b
       |    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
       |ranked AS (
       |  SELECT vec_id, neighbor_id, cell, cos,
       |    CAST(row_number() OVER (
       |      PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT vec_id, rank, neighbor_id, cell,
       |  CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS cos_bp
       |FROM ranked WHERE rank <= $knnK ORDER BY vec_id, rank""".stripMargin

  // ─── ann_knn_graph: health readout of the kNN graph ───
  // The index-quality numbers read off knn_join's edges before anyone
  // builds on them: reciprocity (what share of directed kNN edges are
  // MUTUAL — low reciprocity is the hubness signature of
  // high-dimensional embedding spaces, where a few exemplars are
  // everyone's neighbor but reciprocate nobody), mean edge cosine,
  // the max in-degree (the hub itself), and the orphan count (vectors
  // that are nobody's neighbor — the anti-hubs that graph-based ANN
  // search cannot reach). One |V|·k edge frame (knn_join's output,
  // re-derived in-plan), one swapped-pair self-join on it, two
  // metadata-sized rollups; nothing here rescans the corpus.
  def annKnnGraph(spark: SparkSession, dir: String): DataFrame = {
    // The edge frame is the session's checkpointed knn_seed fixture —
    // the self-join and rollups below read materialized blocks, not a
    // re-derived cell self-join (the round-15 lineage lesson).
    val e = knnSeed(spark, dir)._1
      .select(col("vec_id"), col("neighbor_id"), col("cos_bp"))
    val mutual = e.as("a").join(e.as("b"),
      col("a.vec_id") === col("b.neighbor_id") &&
        col("a.neighbor_id") === col("b.vec_id"), "left_semi")
    val indeg = e.groupBy(col("neighbor_id")).agg(count(lit(1)).as("d"))
    val nNodes = vecs(spark, dir).select(col("vec_id"))
    val stats = e.agg(count(lit(1)).as("n_edges"),
      sum(col("cos_bp")).as("sum_cos"))
    stats
      .crossJoin(broadcast(mutual.agg(count(lit(1)).as("n_mutual"))))
      .crossJoin(broadcast(indeg.agg(max(col("d")).as("max_indeg"),
        count(lit(1)).as("n_reached"))))
      .crossJoin(broadcast(nNodes.agg(count(lit(1)).as("n_nodes"))))
      .select(col("n_nodes"), col("n_edges"),
        col("n_mutual"),
        expr("n_mutual * 10000 div n_edges").as("mutual_bp"),
        expr("sum_cos div n_edges").as("mean_cos_bp"),
        col("max_indeg"),
        (col("n_nodes") - col("n_reached")).as("n_orphans"),
        expr("(n_nodes - n_reached) * 10000 div n_nodes").as("orphan_bp"))
  }

  val annKnnGraphSql: String =
    s"""WITH n AS (${vecsSql("vec_id")}),
       |$ivfCentsSql,
       |${ivfAdCtes("n.vec_id, n.v, n.norm")},
       |assigned AS (
       |  SELECT cell, vec_id, v, norm FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY d2, cell) AS r FROM ad)
       |  WHERE r = 1),
       |scored AS (
       |  SELECT a.vec_id, b.vec_id AS neighbor_id, a.cell,
       |    (${dotSqlOf("a.v", "b.v")}) / (a.norm * b.norm) AS cos
       |  FROM assigned a JOIN assigned b
       |    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
       |knn AS (
       |  SELECT vec_id, neighbor_id,
       |    CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS cos_bp
       |  FROM (
       |    SELECT vec_id, neighbor_id, cos, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rank
       |    FROM scored)
       |  WHERE rank <= $knnK),
       |mut AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_mutual
       |  FROM knn a WHERE EXISTS (
       |    SELECT 1 FROM knn b
       |    WHERE a.vec_id = b.neighbor_id AND a.neighbor_id = b.vec_id)),
       |ind AS (
       |  SELECT CAST(max(d) AS BIGINT) AS max_indeg,
       |    CAST(count(*) AS BIGINT) AS n_reached
       |  FROM (SELECT neighbor_id, count(*) AS d FROM knn GROUP BY 1)),
       |es AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_edges,
       |    CAST(sum(cos_bp) AS BIGINT) AS sum_cos
       |  FROM knn),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM n)
       |SELECT nn.n_nodes, es.n_edges, mut.n_mutual,
       |  mut.n_mutual * 10000 // es.n_edges AS mutual_bp,
       |  es.sum_cos // es.n_edges AS mean_cos_bp,
       |  ind.max_indeg, nn.n_nodes - ind.n_reached AS n_orphans,
       |  (nn.n_nodes - ind.n_reached) * 10000 // nn.n_nodes AS orphan_bp
       |FROM es CROSS JOIN mut CROSS JOIN ind CROSS JOIN nn""".stripMargin

  // ─── ann_nndescent: one NN-Descent round over the cell-blocked seed ───
  // Completes the vector-index tier (IVF/PQ/SQ/LSH are quantizer-
  // style; HNSW/NN-Descent is the neighbor-GRAPH style modern vector
  // DBs default to). knn_join's seed graph cannot cross an IVF cell
  // boundary — the blocker's one structural recall loss — and a graph
  // whose every edge is within-cell stays within-cell under ANY number
  // of hop compositions, so the descent seed must bridge cells first.
  // The seed here is knn_join's edges ∪ one BRIDGE edge per node: its
  // single nearest neighbor inside its SECOND-nearest cell (the IVF
  // multiprobe direction — for a node near a cell boundary, the 2nd
  // cell is exactly where its missed true neighbors live). On that
  // connected seed, one NN-Descent round (Dong et al., WWW'11: a
  // neighbor's neighbor is likely a neighbor): candidates = seed ∪
  // forward 2-hop equijoin on the edge set, exact-cosine re-score,
  // keep best k per node. Work is linear in |V| at fixed k:
  // |E| ≤ |V|·(k+1), |2-hop| ≤ |V|·(k+1)², and the re-score touches
  // candidates only — each extra round multiplies by (k+1), never by
  // |V|. The recall gain over the IVF seed is pinned against brute
  // force in DedupSimilaritySpec via the ann_recall discipline.
  def annNndescent(spark: SparkSession, dir: String): DataFrame = {
    // Seed = the session's checkpointed knn_seed fixture (knn edges ∪
    // bridges): the round-15 35 s wall was this operator re-deriving
    // centroids + the cell self-join + two ranking windows per call;
    // now it reads |V|·(k+1) materialized rows and pays only its own
    // 2-hop + re-score.
    val v = vecs(spark, dir)
    val edges = knnSeed(spark, dir)._2
    val hop = edges.as("a")
      .join(edges.as("b"), col("a.neighbor_id") === col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"),
        col("b.neighbor_id").as("neighbor_id"))
      .filter(col("vec_id") =!= col("neighbor_id"))
    val cand = edges.union(hop).distinct()
    val l = v.select(col("vec_id"),
      col("v").as("lv"), col("norm").as("ln"))
    val r = v.select(col("vec_id").as("neighbor_id"),
      col("v").as("rv"), col("norm").as("rn"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand.join(l, Seq("vec_id")).join(r, Seq("neighbor_id"))
      .withColumn("cos", dot(col("lv"), col("rv")) / (col("ln") * col("rn")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= knnK)
      .select(col("vec_id"), col("rank"), col("neighbor_id"),
        floor(col("cos") * 10000 + 0.5).cast("long").as("cos_bp"))
      .orderBy(col("vec_id"), col("rank"))
  }

  /** Shared CTE prefix deriving the NN-Descent seed (n … edges): the
    * knn CTE replays knn_join (same cells, same ranks), bridge replays
    * the 2nd-cell top-1 with the identical (cos DESC, neighbor_id)
    * total order. Used by annNndescentSql and annNndescentConvSql. */
  private lazy val descentSeedCtes: String =
    s"""n AS (${vecsSql("vec_id")}),
       |$ivfCentsSql,
       |${ivfAdCtes("n.vec_id, n.v, n.norm")},
       |ranked_cells AS MATERIALIZED (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY d2, cell) AS r FROM ad),
       |assigned AS MATERIALIZED (
       |  SELECT cell, vec_id, v, norm FROM ranked_cells WHERE r = 1),
       |probe2 AS MATERIALIZED (
       |  SELECT cell, vec_id, v, norm FROM ranked_cells WHERE r = 2),
       |scored AS MATERIALIZED (
       |  SELECT a.vec_id, b.vec_id AS neighbor_id,
       |    (${dotSqlOf("a.v", "b.v")}) / (a.norm * b.norm) AS cos
       |  FROM assigned a JOIN assigned b
       |    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
       |knn AS MATERIALIZED (
       |  SELECT vec_id, neighbor_id FROM (
       |    SELECT vec_id, neighbor_id, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rank
       |    FROM scored)
       |  WHERE rank <= $knnK),
       |bridge AS MATERIALIZED (
       |  SELECT vec_id, neighbor_id FROM (
       |    SELECT p.vec_id, a.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY p.vec_id ORDER BY
       |        (${dotSqlOf("p.v", "a.v")}) / (p.norm * a.norm) DESC,
       |        a.vec_id) AS br
       |    FROM probe2 p JOIN assigned a
       |      ON p.cell = a.cell AND p.vec_id <> a.vec_id)
       |  WHERE br = 1),
       |edges AS MATERIALIZED (
       |  SELECT vec_id, neighbor_id FROM knn
       |  UNION ALL
       |  SELECT vec_id, neighbor_id FROM bridge)""".stripMargin

  /** DuckDB twin: seed from descentSeedCtes, hop is the same bounded
    * 2-hop equijoin, and the re-score ranks the UNION (set semantics,
    * matching the Spark side's distinct()). */
  val annNndescentSql: String =
    s"""WITH $descentSeedCtes,
       |hop AS (
       |  SELECT a.vec_id, b.neighbor_id
       |  FROM edges a JOIN edges b ON a.neighbor_id = b.vec_id
       |  WHERE a.vec_id <> b.neighbor_id),
       |cand AS (
       |  SELECT vec_id, neighbor_id FROM edges
       |  UNION
       |  SELECT vec_id, neighbor_id FROM hop),
       |resc AS (
       |  SELECT cand.vec_id, cand.neighbor_id,
       |    (${dotSqlOf("x.v", "y.v")}) / (x.norm * y.norm) AS cos
       |  FROM cand
       |    JOIN n x ON cand.vec_id = x.vec_id
       |    JOIN n y ON cand.neighbor_id = y.vec_id),
       |rr AS (
       |  SELECT vec_id, neighbor_id, cos,
       |    CAST(row_number() OVER (
       |      PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS BIGINT)
       |      AS rank
       |  FROM resc)
       |SELECT vec_id, rank, neighbor_id,
       |  CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS cos_bp
       |FROM rr WHERE rank <= $knnK ORDER BY vec_id, rank""".stripMargin

  // ─── ann_nndescent_conv: NN-Descent iterated to (capped) fixpoint ───
  // Finishes what ann_nndescent starts: the real algorithm (Dong et
  // al., WWW'11) iterates "candidates = current ∪ neighbors-of-
  // neighbors, keep best k" until the edge set stops changing. Each
  // round here is exactly ann_nndescent's round — forward 2-hop
  // equijoin, set-union, exact-cosine re-score, keep-k — unrolled a
  // fixed descentRounds times (the graph_ktruss discipline: a FIXED
  // unroll is what a SQL oracle can replay; the convergence READOUT
  // replaces a data-dependent stop). Per round the output row carries
  // the convergence curve: n_edges, n_new (edges not present in the
  // previous round's set — 0 means the descent is done) and recall_bp
  // (recall@k vs exact brute force over the nQueries query nodes).
  // Recall is provably monotone: candidates always include the current
  // edges, and a true top-k neighbor, once present, can only be
  // displaced by another true top-k neighbor — DedupSimilaritySpec
  // pins the monotone curve. Work per round is |V|·(k+1)² candidates —
  // linear in |V| at fixed k; the per-round count()s are convergence
  // scalars (the Graph.iterate discipline), never data collects.
  private val descentRounds = 3

  def annNndescentConv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val v = vecs(spark, dir)
    val l = v.select(col("vec_id"), col("v").as("lv"), col("norm").as("ln"))
    val r = v.select(col("vec_id").as("neighbor_id"),
      col("v").as("rv"), col("norm").as("rn"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    // Per-call checkpoints truncate the round-over-round lineage (each
    // e_i is |V|·k rows); all are released before returning — the
    // result is a 3-row driver-local stats frame.
    val ckpts = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.rdd.RDD[_]]
    // Round-17 (guide §1.2): checkpoints register LAZY — each round's
    // single stats aggregation is the action that materializes them,
    // so a round costs ONE job instead of the old four (ckpt count +
    // count + anti-join count + semi-join count).
    def ckptLazy(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(eager = false)
      ckpts ++= Checkpoints.ckptRdds(c)
      c
    }
    try {
      // Exact ground truth on the query nodes only (nQueries·|V| —
      // row-linear, the ann_bruteforce broadcast shape). bfN's count
      // is bf's materializing action.
      val q = v.filter(col("vec_id") < nQueries)
        .select(col("vec_id"), col("v").as("lv"), col("norm").as("ln"))
      val bf = ckptLazy(r.join(broadcast(q), col("vec_id") =!= col("neighbor_id"))
        .withColumn("cos", dot(col("lv"), col("rv")) / (col("ln") * col("rn")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= knnK)
        .select(col("vec_id"), col("neighbor_id")))
      val bfN = bf.count()
      var e = knnSeed(spark, dir)._2
      val stats = (1 to descentRounds).map { i =>
        val hop = e.as("a")
          .join(e.as("b"), col("a.neighbor_id") === col("b.vec_id"))
          .select(col("a.vec_id").as("vec_id"),
            col("b.neighbor_id").as("neighbor_id"))
          .filter(col("vec_id") =!= col("neighbor_id"))
        val cand = e.union(hop).distinct()
        val next = ckptLazy(cand.join(l, Seq("vec_id")).join(r, Seq("neighbor_id"))
          .withColumn("cos", dot(col("lv"), col("rv")) / (col("ln") * col("rn")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= knnK)
          .select(col("vec_id"), col("neighbor_id")))
        // Round-17 (guide §1.2): the three stats actions per round
        // (count + anti-join count + semi-join count) collapse into
        // ONE aggregation job. Both right sides are unique on
        // (vec_id, neighbor_id) — e via the explicit distinct, bf by
        // its per-vec row_number rank — so the left joins preserve
        // next's row count and the flag counts equal the old
        // semi/anti-join counts exactly.
        val st = next
          .join(e.distinct().withColumn("__old", lit(1)),
            Seq("vec_id", "neighbor_id"), "left")
          .join(bf.withColumn("__tru", lit(1)),
            Seq("vec_id", "neighbor_id"), "left")
          .agg(count(lit(1)),
            sum(when(col("__old").isNull, 1L).otherwise(0L)),
            sum(when(col("__tru").isNotNull, 1L).otherwise(0L)))
          .head
        val nEdges = st.getLong(0)
        val nNew = if (st.isNullAt(1)) 0L else st.getLong(1)
        val matches = if (st.isNullAt(2)) 0L else st.getLong(2)
        e = next
        // bfN = 0 on an empty embeddings table (row-82 empty-input
        // contract): recall over an empty truth set reads as 0 bp.
        (i.toLong, nEdges, nNew, if (bfN == 0L) 0L else matches * 10000L / bfN)
      }
      stats.toDF("round", "n_edges", "n_new", "recall_bp")
        .orderBy(col("round"))
    } finally ckpts.foreach(rd => scala.util.Try(rd.unpersist(blocking = false)))
  }

  /** DuckDB twin: the same fixed unroll — each round's CTEs replay
    * hop/union/re-score off the previous round's edge set, and the
    * stats rows replay the set-difference (NOT EXISTS) and the
    * brute-force recall join with integer // division. */
  val annNndescentConvSql: String = {
    def roundCtes(i: Int): String = {
      val prev = if (i == 1) "edges" else s"e${i - 1}"
      s"""hop$i AS MATERIALIZED (
         |  SELECT a.vec_id, b.neighbor_id
         |  FROM $prev a JOIN $prev b ON a.neighbor_id = b.vec_id
         |  WHERE a.vec_id <> b.neighbor_id),
         |cand$i AS MATERIALIZED (
         |  SELECT vec_id, neighbor_id FROM $prev
         |  UNION
         |  SELECT vec_id, neighbor_id FROM hop$i),
         |e$i AS MATERIALIZED (
         |  SELECT vec_id, neighbor_id FROM (
         |    SELECT c.vec_id, c.neighbor_id, row_number() OVER (
         |      PARTITION BY c.vec_id ORDER BY
         |        (${dotSqlOf("x.v", "y.v")}) / (x.norm * y.norm) DESC,
         |        c.neighbor_id) AS rank
         |    FROM cand$i c
         |      JOIN n x ON c.vec_id = x.vec_id
         |      JOIN n y ON c.neighbor_id = y.vec_id)
         |  WHERE rank <= $knnK)"""
    }
    val stats = (1 to descentRounds).map { i =>
      val prev = if (i == 1) "edges" else s"e${i - 1}"
      s"""SELECT CAST($i AS BIGINT) AS round,
         |  (SELECT count(*) FROM e$i) AS n_edges,
         |  (SELECT count(*) FROM e$i s WHERE NOT EXISTS (
         |     SELECT 1 FROM $prev p
         |     WHERE p.vec_id = s.vec_id AND p.neighbor_id = s.neighbor_id))
         |    AS n_new,
         |  (SELECT count(*) FROM e$i s WHERE EXISTS (
         |     SELECT 1 FROM bf WHERE bf.vec_id = s.vec_id
         |       AND bf.neighbor_id = s.neighbor_id)) * 10000
         |    // greatest((SELECT count(*) FROM bf), 1) AS recall_bp"""
    }.mkString("\nUNION ALL\n")
    s"""WITH $descentSeedCtes,
       |bf AS MATERIALIZED (
       |  SELECT vec_id, neighbor_id FROM (
       |    SELECT q.vec_id, c.vec_id AS neighbor_id, row_number() OVER (
       |      PARTITION BY q.vec_id ORDER BY
       |        (${dotSqlOf("q.v", "c.v")}) / (q.norm * c.norm) DESC,
       |        c.vec_id) AS rank
       |    FROM n q JOIN n c ON q.vec_id < $nQueries AND q.vec_id <> c.vec_id)
       |  WHERE rank <= $knnK),
       |${(1 to descentRounds).map(roundCtes).mkString(",\n")}
       |$stats
       |ORDER BY round""".stripMargin
  }

  // ─── ann_label_sep: class-separability audit of the embedding space ───
  // The embedding-quality readout BEFORE anyone trains on the labels
  // (the Davies-Bouldin shape, integer-exact): per ordered label pair
  // a ≤ b, the diagonal rows carry each class's within-scatter (mean
  // squared distance of members to their own centroid) and the
  // off-diagonal rows the centroid-to-centroid squared distance plus
  // sep_x100 = between ÷ mean-within — pairs under ~100 are the
  // classes a kNN/linear probe will confuse. All arithmetic runs on
  // ×1000-quantized integer components (the ann_kmeans_step milli
  // discipline): centroids are exact integer dim-wise means, scatter
  // and separations exact integer squared distances — both engines
  // agree to the digit, no norms, no sqrt. One posexplode M-step
  // (map-combining, (label, dim)-keyed), one broadcast of the
  // ‖labels‖-row centroid frame back over the corpus, then a
  // ‖labels‖² metadata join.
  def annLabelSep(spark: SparkSession, dir: String): DataFrame = {
    def milli(c: Column): Column =
      transform(c, x => floor(x * 1000 + lit(0.5)).cast("long"))
    def d2m(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0L), (s, x) => s + x)
    val v = Tables(spark, dir).parallelized("embeddings")
      .select(col("label").cast("long").as("label"),
        milli(col("embedding").cast("array<double>")).as("vm"))
    val cent = v.select(col("label"), posexplode(col("vm")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("cnt"))
      .withColumn("c", expr("sx div cnt"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        e => e("c")).as("cm"), max(col("cnt")).as("n"))
    val labs = v.join(broadcast(cent), Seq("label"))
      .withColumn("d2", d2m(col("vm"), col("cm")))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), expr("sum(d2) div count(1)").as("within_m2"),
        first(col("cm")).as("cm"))
    val a = labs.select(col("label").as("label_a"), col("n").as("n_a"),
      col("within_m2").as("w_a"), col("cm").as("cm_a"))
    val b = labs.select(col("label").as("label_b"), col("n").as("n_b"),
      col("within_m2").as("w_b"), col("cm").as("cm_b"))
    a.join(b, col("label_a") <= col("label_b"))
      .withColumn("between_m2", d2m(col("cm_a"), col("cm_b")))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        when(col("label_a") === col("label_b"), col("w_a"))
          .otherwise(col("between_m2")).as("m2"),
        expr("CASE WHEN label_a < label_b THEN" +
          " between_m2 * 200 div greatest(1, w_a + w_b) END").as("sep_x100"))
      .orderBy(col("label_a"), col("label_b"))
  }

  val annLabelSepSql: String = {
    def d2mSql(x: String, y: String) =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(list_zip($x, $y),
         |        z -> (z[1] - z[2]) * (z[1] - z[2]))), (s, x) -> s + x)""".stripMargin
    s"""WITH vq AS (
       |  SELECT CAST(label AS BIGINT) AS label,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS vm
       |  FROM embeddings),
       |dims AS (
       |  SELECT label, u.pos, u.x FROM (
       |    SELECT label, unnest(vm) AS x,
       |      unnest(range(1, len(vm) + 1)) AS pos
       |    FROM vq) u),
       |cstep AS (
       |  SELECT label, pos, CAST(sum(x) AS BIGINT) // CAST(count(*) AS BIGINT)
       |    AS c
       |  FROM dims GROUP BY label, pos),
       |cent AS (
       |  SELECT label, list(c ORDER BY pos) AS cm FROM cstep GROUP BY label),
       |labs AS (
       |  SELECT vq.label, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(${d2mSql("vq.vm", "cent.cm")}) AS BIGINT)
       |      // CAST(count(*) AS BIGINT) AS within_m2,
       |    any_value(cent.cm) AS cm
       |  FROM vq JOIN cent USING (label) GROUP BY vq.label)
       |SELECT a.label AS label_a, b.label AS label_b, a.n AS n_a, b.n AS n_b,
       |  CASE WHEN a.label = b.label THEN a.within_m2
       |    ELSE ${d2mSql("a.cm", "b.cm")} END AS m2,
       |  CASE WHEN a.label < b.label THEN
       |    CAST(${d2mSql("a.cm", "b.cm")} * 200 AS BIGINT)
       |      // greatest(1, a.within_m2 + b.within_m2) END AS sep_x100
       |FROM labs a JOIN labs b ON a.label <= b.label
       |ORDER BY label_a, label_b""".stripMargin
  }

  // ─── ann_recall: LSH recall measured against the exact baseline ───
  // The ANN quality gate, in-engine: join the LSH top-k against the
  // brute-force top-k per query and report hits and recall (bp). At
  // scale the exact side runs over a SAMPLED query set (it already
  // does — nQueries) while LSH serves everything; the join cost is
  // |queries|·k, nothing corpus-sized. Composition of two existing
  // operators into one plan — Catalyst dedups nothing here (the two
  // pipelines differ from the scan up), which is the honest cost of
  // an independent check.
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val bf = annBruteforce(spark, dir)
      .select(col("query_id"), col("neighbor_id"))
    val lsh = annLsh(spark, dir)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    bf.join(lsh, Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_true"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
      .withColumn("recall_bp",
        floor(col("n_hit") * 10000L / col("n_true")).cast("long"))
      .orderBy(col("query_id"))
  }

  val annRecallSql: String =
    s"""WITH bf AS (SELECT query_id, neighbor_id FROM (${annBruteforceSql})),
       |lsh AS (SELECT query_id, neighbor_id, 1 AS hit FROM (${annLshSql}))
       |SELECT bf.query_id, count(*) AS n_true,
       |  CAST(coalesce(sum(lsh.hit), 0) AS BIGINT) AS n_hit,
       |  CAST(coalesce(sum(lsh.hit), 0) * 10000 // count(*) AS BIGINT)
       |    AS recall_bp
       |FROM bf LEFT JOIN lsh
       |  ON bf.query_id = lsh.query_id AND bf.neighbor_id = lsh.neighbor_id
       |GROUP BY 1 ORDER BY bf.query_id""".stripMargin

  // ─── ann_dim_stats: per-dimension embedding diagnostics ───
  // The pre-index health check: a dimension with ~zero variance is
  // dead weight every distance computation pays for (PCA/SQ
  // calibration reads exactly this table), and a dimension whose
  // mean is far off zero breaks inner-product shortcuts. Components
  // are quantized ONCE to ×10⁶ integers, so the per-dim moments are
  // exact integer sums — no cross-row float accumulation (the
  // ts_seasonal_strength discipline). posexplode fans each vector
  // to its 64 dims (constant ×d), one map-combining rollup.
  def annDimStats(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables(spark, dir).embeddings
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"),
        floor(col("x").cast("double") * 1000000.0).cast("long").as("q"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("s1"),
        sum(expr("CAST(q AS DECIMAL(38,0)) * q")).as("s2"))
      .select(col("dim"), col("n"),
        expr("s1 div n").as("mean_u"),
        // population variance ×10¹²: (n·Σq² − (Σq)²) div n² — exact
        // integers end to end, one truncating division at the close.
        expr("CAST((CAST(n AS DECIMAL(38,0)) * s2" +
          " - CAST(s1 AS DECIMAL(38,0)) * s1)" +
          " div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)").as("var_u2"))
      .orderBy(col("dim"))
  }

  val annDimStatsSql: String =
    """WITH d AS (SELECT unnest(range(0, 64)) AS dim),
      |e AS (
      |  SELECT d.dim,
      |    CAST(floor(CAST(emb.embedding[CAST(d.dim AS INTEGER) + 1] AS DOUBLE)
      |      * 1000000.0) AS BIGINT) AS q
      |  FROM embeddings emb, d),
      |g AS (
      |  SELECT dim, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(q) AS BIGINT) AS s1,
      |    CAST(sum(CAST(q AS HUGEINT) * q) AS HUGEINT) AS s2
      |  FROM e GROUP BY dim)
      |SELECT dim, n, s1 // n AS mean_u,
      |  CAST((CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1)
      |    // (CAST(n AS HUGEINT) * n) AS BIGINT) AS var_u2
      |FROM g ORDER BY dim""".stripMargin

  // ─── ann_shard_fanout: scatter-gather cost of a sharded index ───
  // Distributed ANN serves from S shards each owning a set of IVF
  // cells; a query fans out to every shard its probed cells touch.
  // This emits the design readout for S=4 cell-hashed shards: the
  // distribution of shards-touched per query at the shipped nprobe
  // (fanout 1 = single-shard fast path, fanout 4 = full scatter) —
  // the number that decides cell→shard placement. One probe
  // assignment (broadcast centroids), |queries|-bounded rollups.
  private val fanoutShards = 4L

  def annShardFanout(spark: SparkSession, dir: String): DataFrame = {
    val all = Window.partitionBy(lit(1))
    nearestCells(spark, dir,
        vecs(spark, dir).filter(col("vec_id") < nQueries), nprobe)
      .select(col("vec_id").as("query_id"),
        pmod(col("cell"), lit(fanoutShards)).as("shard"))
      .distinct()
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_shards"))
      .groupBy(col("n_shards")).agg(count(lit(1)).as("n_queries"))
      .withColumn("share_bp",
        graft.operators.Ranks.idiv(col("n_queries") * 10000L,
          sum(col("n_queries")).over(all)))
      .orderBy(col("n_shards"))
  }

  val annShardFanoutSql: String =
    s"""WITH n AS (${vecsSql("vec_id")}),
       |$ivfCentsSql,
       |${ivfAdCtes("n.vec_id", s" WHERE n.vec_id < $nQueries")},
       |probes AS (
       |  SELECT DISTINCT vec_id AS query_id, cell % $fanoutShards AS shard
       |  FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY d2, cell) AS r FROM ad)
       |  WHERE r <= $nprobe),
       |pq AS (
       |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_shards
       |  FROM probes GROUP BY 1),
       |h AS (
       |  SELECT n_shards, CAST(count(*) AS BIGINT) AS n_queries
       |  FROM pq GROUP BY 1)
       |SELECT n_shards, n_queries,
       |  CAST(n_queries * 10000 // (sum(n_queries) OVER ()) AS BIGINT)
       |    AS share_bp
       |FROM h ORDER BY n_shards""".stripMargin

  // ─── ann_nprobe_curve: recall/cost tradeoff across probe widths ───
  // THE IVF tuning decision: each extra probed cell buys recall and
  // costs scanned candidates — this emits the whole curve from ONE
  // assignment pass (queries keep their 4 nearest cells with the
  // probe rank; widening nprobe is then a FILTER, not a re-run).
  // Per nprobe 1..4: macro recall@k against the brute-force truth
  // and the exact number of candidate pairs scanned — the two axes
  // of the operating-point chart. Candidate scoring fans out ×probe
  // width once; everything downstream is |queries|·k-bounded.
  private val curveProbes = 4

  def annNprobeCurve(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir)
    val assigned = nearestCells(spark, dir, v, 1)
      .select(col("cell"), col("vec_id").as("neighbor_id"),
        col("v").as("cv"), col("norm").as("cn"))
    // probe_rank = position in the rank-ordered nearest-cells array.
    val probes = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("v"), col("norm"),
        posexplode(nearestCellsCol(spark, dir, col("v"), curveProbes))
          .as(Seq("pos", "cell")))
      .withColumn("probe_rank", (col("pos") + 1).cast("long"))
      .select(col("cell"), col("probe_rank"), col("vec_id").as("query_id"),
        col("v").as("qv"), col("norm").as("qn"))
    val cand = probes.join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .select(col("query_id"), col("neighbor_id"), col("probe_rank"), col("cos"))
      .withColumn("nprobe", explode(sequence(lit(1L), lit(curveProbes.toLong))))
      .filter(col("probe_rank") <= col("nprobe"))
      .localCheckpoint(eager = false)
    val scanned = cand.groupBy(col("nprobe"))
      .agg(count(lit(1)).as("n_scanned"))
    val wTop = Window.partitionBy(col("nprobe"), col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val top = cand
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= topK)
      .select(col("nprobe"), col("query_id"), col("neighbor_id"),
        lit(1L).as("hit"))
    val bf = annBruteforce(spark, dir)
      .select(col("query_id"), col("neighbor_id"))
      .withColumn("nprobe", explode(sequence(lit(1L), lit(curveProbes.toLong))))
    bf.join(top, Seq("nprobe", "query_id", "neighbor_id"), "left_outer")
      .groupBy(col("nprobe"))
      .agg(count(lit(1)).as("n_true"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
      .join(scanned, Seq("nprobe"))
      .select(col("nprobe"), col("n_true"), col("n_hit"),
        expr("n_hit * 10000 div n_true").as("recall_bp"), col("n_scanned"))
      .orderBy(col("nprobe"))
  }

  val annNprobeCurveSql: String =
    s"""WITH n AS (${vecsSql("vec_id")}),
       |$ivfCentsSql,
       |${ivfAdCtes("n.vec_id, n.v, n.norm")},
       |assigned AS (
       |  SELECT cell, vec_id AS neighbor_id, v AS cv, norm AS cn FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY d2, cell) AS r FROM ad)
       |  WHERE r = 1),
       |probes AS (
       |  SELECT cell, r AS probe_rank, vec_id AS query_id,
       |    v AS qv, norm AS qn
       |  FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY d2, cell) AS r
       |    FROM ad WHERE vec_id < $nQueries)
       |  WHERE r <= $curveProbes),
       |cand AS (
       |  SELECT p.query_id, a.neighbor_id, p.probe_rank,
       |    (${dotSqlOf("p.qv", "a.cv")}) / (p.qn * a.cn) AS cos,
       |    x.nprobe
       |  FROM probes p JOIN assigned a USING (cell)
       |  CROSS JOIN (SELECT unnest(range(1, ${curveProbes + 1})) AS nprobe) x
       |  WHERE p.query_id <> a.neighbor_id AND p.probe_rank <= x.nprobe),
       |scanned AS (
       |  SELECT nprobe, CAST(count(*) AS BIGINT) AS n_scanned
       |  FROM cand GROUP BY 1),
       |top AS (
       |  SELECT nprobe, query_id, neighbor_id, 1 AS hit FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY nprobe, query_id
       |      ORDER BY cos DESC, neighbor_id) AS rank
       |    FROM cand)
       |  WHERE rank <= $topK),
       |bf AS (
       |  SELECT b.query_id, b.neighbor_id, x.nprobe
       |  FROM (SELECT query_id, neighbor_id FROM ($annBruteforceSql)) b
       |  CROSS JOIN (SELECT unnest(range(1, ${curveProbes + 1})) AS nprobe) x),
       |rec AS (
       |  SELECT bf.nprobe, CAST(count(*) AS BIGINT) AS n_true,
       |    CAST(coalesce(sum(top.hit), 0) AS BIGINT) AS n_hit
       |  FROM bf LEFT JOIN top
       |    ON bf.nprobe = top.nprobe AND bf.query_id = top.query_id
       |    AND bf.neighbor_id = top.neighbor_id
       |  GROUP BY 1)
       |SELECT r.nprobe, r.n_true, r.n_hit,
       |  r.n_hit * 10000 // r.n_true AS recall_bp, s.n_scanned
       |FROM rec r JOIN scanned s USING (nprobe)
       |ORDER BY nprobe""".stripMargin

  // ─── ann_centroid_stats: IVF index-health occupancy readout ───
  // The maintenance signal every IVF deployment watches: cell
  // occupancy skew. A cell at many times its fair share turns every
  // probe touching it into a near-linear scan (the recall/latency
  // cliff), and empty cells mean wasted probes — either way the
  // answer is "re-train the quantizer". One assignment pass (the
  // SAME broadcast-centroid nearest-cell join ann_ivf serves from),
  // then a ‖cells‖-bounded rollup: per-cell count, share, and load
  // vs the fair share ×100 (load_x100 = n·k·100 div N).
  def annCentroidStats(spark: SparkSession, dir: String): DataFrame = {
    val all = Window.partitionBy(lit(1))
    nearestCells(spark, dir, vecs(spark, dir), 1)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
      .withColumn("total", sum(col("n_vecs")).over(all))
      .withColumn("k", count(lit(1)).over(all))
      .select(col("cell"), col("n_vecs"),
        expr("n_vecs * 10000 div total").as("share_bp"),
        expr("n_vecs * k * 100 div total").as("load_x100"))
      .orderBy(col("cell"))
  }

  val annCentroidStatsSql: String =
    s"""WITH n AS (${vecsSql("vec_id")}),
       |$ivfCentsSql,
       |${ivfAdCtes("n.vec_id")},
       |assigned AS (
       |  SELECT cell FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY d2, cell) AS r FROM ad)
       |  WHERE r = 1),
       |occ AS (
       |  SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs
       |  FROM assigned GROUP BY cell),
       |g AS (
       |  SELECT cell, n_vecs,
       |    CAST(sum(n_vecs) OVER () AS BIGINT) AS total,
       |    CAST(count(*) OVER () AS BIGINT) AS k
       |  FROM occ)
       |SELECT cell, n_vecs,
       |  n_vecs * 10000 // total AS share_bp,
       |  n_vecs * k * 100 // total AS load_x100
       |FROM g ORDER BY cell""".stripMargin

  // ─── ann_recall_curve: recall@j for j = 1..k, macro-averaged ───
  // ann_recall's single number hides WHERE the index loses truth —
  // recall@1 (the "did the top hit survive" number a RAG stack cares
  // about) can be far below recall@k. One (query, neighbor)-keyed
  // left join of the two top-k lists — each |queries|·k rows — then
  // a constant ×k cutoff fan-out; a truth row at rank r counts as a
  // hit at cutoff j iff the index ranked it ≤ j too. Macro recall
  // (pool all queries' truth rows per cutoff) in exact bp.
  def annRecallCurve(spark: SparkSession, dir: String): DataFrame = {
    val bf = annBruteforce(spark, dir)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("true_rank"))
    val lsh = annLsh(spark, dir)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("lsh_rank"))
    bf.join(lsh, Seq("query_id", "neighbor_id"), "left_outer")
      .withColumn("k", explode(sequence(lit(1L), lit(topK.toLong))))
      .filter(col("true_rank") <= col("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_true"),
        sum(when(col("lsh_rank").isNotNull &&
          col("lsh_rank") <= col("k"), 1L).otherwise(0L)).as("n_hit"))
      .select(col("k"), col("n_true"), col("n_hit"),
        expr("n_hit * 10000 div n_true").as("recall_bp"))
      .orderBy(col("k"))
  }

  val annRecallCurveSql: String =
    s"""WITH bf AS (
       |  SELECT query_id, neighbor_id, rank AS true_rank
       |  FROM (${annBruteforceSql})),
       |lsh AS (
       |  SELECT query_id, neighbor_id, rank AS lsh_rank
       |  FROM (${annLshSql})),
       |j AS (
       |  SELECT bf.query_id, bf.true_rank, lsh.lsh_rank
       |  FROM bf LEFT JOIN lsh
       |    ON bf.query_id = lsh.query_id
       |    AND bf.neighbor_id = lsh.neighbor_id),
       |x AS (
       |  SELECT *, unnest(range(1, ${topK + 1})) AS k FROM j)
       |SELECT k, CAST(count(*) AS BIGINT) AS n_true,
       |  CAST(sum(CASE WHEN lsh_rank IS NOT NULL AND lsh_rank <= k
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  CAST(sum(CASE WHEN lsh_rank IS NOT NULL AND lsh_rank <= k
       |    THEN 1 ELSE 0 END) AS BIGINT) * 10000 // count(*) AS recall_bp
       |FROM x WHERE true_rank <= k
       |GROUP BY k ORDER BY k""".stripMargin

  // ─── ann_hybrid_rrf: reciprocal-rank fusion of vector + lexical ───
  // Hybrid search, the production retrieval default: a dense
  // (embedding-cosine) ranking and a sparse/lexical (MinHash
  // estimated-Jaccard over the shared LSH candidates) ranking, fused
  // with RRF — pts = 10⁴ div (60 + rank), summed per (query, doc),
  // re-ranked. Integer throughout (rank arithmetic only), so fusion
  // is hash-exact cross-engine even though the two underlying scores
  // live on incommensurable scales — exactly why RRF is the fusion
  // operator of choice at scale (no score normalization to keep
  // consistent across shards). The lexical side reads the SAME
  // persisted signature/candidate fixture as the dedup family; the
  // vector side is the bounded query set vs corpus with the codegen'd
  // dot product. doc_id ≡ vec_id in the testdata (row-aligned
  // tables), which is the contract a production corpus satisfies by
  // construction.
  private val hybridDepth = 10
  private val hybridTopK = 5
  private val rrfC = 60

  def annHybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val q = vecs(spark, dir).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qn"))
    val c = vecs(spark, dir)
      .select(col("vec_id").as("d"), col("v").as("cv"), col("norm").as("cn"))
    val wv = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("d"))
    val vecrank = c.join(broadcast(q), col("qid") =!= col("d"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(wv).cast("long"))
      .filter(col("rank") <= hybridDepth)
      .select(col("qid"), col("d"), col("rank"))
    val pairs = Dedup.dedupMinhashLsh(spark, dir)
    val sym = pairs.filter(col("doc_a") < nQueries)
      .select(col("doc_a").as("qid"), col("doc_b").as("d"), col("est_bp"))
      .union(pairs.filter(col("doc_b") < nQueries)
        .select(col("doc_b").as("qid"), col("doc_a").as("d"), col("est_bp")))
    val wl = Window.partitionBy(col("qid")).orderBy(col("est_bp").desc, col("d"))
    val lexrank = sym
      .withColumn("rank", row_number().over(wl).cast("long"))
      .filter(col("rank") <= hybridDepth)
      .select(col("qid"), col("d"), col("rank"))
    val wf = Window.partitionBy(col("qid")).orderBy(col("rrf").desc, col("d"))
    vecrank.union(lexrank)
      .select(col("qid"), col("d"),
        expr(s"10000 div ($rrfC + rank)").as("pts"))
      .groupBy(col("qid"), col("d")).agg(sum(col("pts")).as("rrf"))
      .withColumn("rank", row_number().over(wf).cast("long"))
      .filter(col("rank") <= hybridTopK)
      .select(col("qid").as("query_id"), col("rank"), col("d").as("doc_id"),
        col("rrf"))
      .orderBy(col("query_id"), col("rank"))
  }

  val annHybridRrfSql: String =
    s"""WITH ${Dedup.minhashEstCtes},
       |vn AS (${vecsSql("vec_id")}),
       |scored AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS d,
       |    ${dotSqlOf("q.v", "c.v")} / (q.norm * c.norm) AS cos
       |  FROM vn q JOIN vn c ON q.vec_id < $nQueries AND q.vec_id <> c.vec_id),
       |vecrank AS (
       |  SELECT qid, d, rank FROM (
       |    SELECT qid, d, CAST(row_number() OVER (
       |      PARTITION BY qid ORDER BY cos DESC, d) AS BIGINT) AS rank
       |    FROM scored) WHERE rank <= $hybridDepth),
       |lexsym AS (
       |  SELECT doc_a AS qid, doc_b AS d, est_bp FROM lshest WHERE doc_a < $nQueries
       |  UNION ALL
       |  SELECT doc_b, doc_a, est_bp FROM lshest WHERE doc_b < $nQueries),
       |lexrank AS (
       |  SELECT qid, d, rank FROM (
       |    SELECT qid, d, CAST(row_number() OVER (
       |      PARTITION BY qid ORDER BY est_bp DESC, d) AS BIGINT) AS rank
       |    FROM lexsym) WHERE rank <= $hybridDepth),
       |contrib AS (
       |  SELECT qid, d, 10000 // ($rrfC + rank) AS pts FROM vecrank
       |  UNION ALL
       |  SELECT qid, d, 10000 // ($rrfC + rank) AS pts FROM lexrank),
       |fused AS (
       |  SELECT qid, d, CAST(sum(pts) AS BIGINT) AS rrf
       |  FROM contrib GROUP BY qid, d)
       |SELECT qid AS query_id, rank, d AS doc_id, rrf FROM (
       |  SELECT qid, d, rrf, CAST(row_number() OVER (
       |    PARTITION BY qid ORDER BY rrf DESC, d) AS BIGINT) AS rank
       |  FROM fused) WHERE rank <= $hybridTopK
       |ORDER BY query_id, rank""".stripMargin

  // ─── sample_hard_negatives: contrastive-training negative mining ───
  // For each query vector, the most-similar vectors with a DIFFERENT
  // label — the hard negatives contrastive/embedding training feeds
  // next to each positive. Same bounded-query broadcast shape as
  // ann_bruteforce (the query set is small by contract; the corpus
  // side streams) — this is the EXACT baseline the index-composed
  // miner (hard_neg_mine below) is measured against, exactly as
  // ann_bruteforce anchors the ann_* tiers.
  def sampleHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val lab = Tables(spark, dir).embeddings.select(col("vec_id"), col("label"))
    val q = vecs(spark, dir).filter(col("vec_id") < nQueries)
      .join(lab, Seq("vec_id"))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qn"), col("label").as("q_label"))
    val c = vecs(spark, dir).join(lab, Seq("vec_id"))
      .select(col("vec_id").as("neg_id"), col("v").as("cv"),
        col("norm").as("cn"), col("label").as("neg_label"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neg_id"))
    c.join(broadcast(q), col("q_label") =!= col("neg_label"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("neg_id"), col("neg_label"),
        floor(col("cos") * 10000 + 0.5).cast("long").as("cos_bp"))
      .orderBy(col("query_id"), col("rank"))
  }

  val sampleHardNegativesSql: String =
    s"""WITH n AS (${vecsSql("vec_id")}),
       |l AS (SELECT vec_id, label FROM embeddings),
       |q AS (SELECT n.vec_id AS query_id, v AS qv, norm AS qn, label AS q_label
       |      FROM n JOIN l ON n.vec_id = l.vec_id WHERE n.vec_id < $nQueries),
       |c AS (SELECT n.vec_id AS neg_id, v AS cv, norm AS cn, label AS neg_label
       |      FROM n JOIN l ON n.vec_id = l.vec_id),
       |scored AS (
       |  SELECT query_id, neg_id, neg_label,
       |    (${dotSqlOf("q.qv", "c.cv")}) / (q.qn * c.cn) AS cos
       |  FROM q JOIN c ON q.q_label <> c.neg_label),
       |ranked AS (
       |  SELECT query_id, neg_id, neg_label, cos,
       |    CAST(row_number() OVER (
       |      PARTITION BY query_id ORDER BY cos DESC, neg_id) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neg_id, neg_label,
       |  CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS cos_bp
       |FROM ranked WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin

  // ─── hard_neg_mine: IVF-composed hard-negative mining ───
  // The SCALE path for negative mining: the same semantics as
  // sample_hard_negatives (top-k by cosine among label-mismatches) but
  // candidates come from the IVF index — each query probes its nprobe
  // nearest cells and scores only those cells' vectors, so per-query
  // work tracks cell occupancy (corpus/nCells) instead of the corpus.
  // This is the composition the round-9 audit asked for: at 100 TB the
  // bruteforce miner's corpus scan per mining batch is the dominant
  // cost, while the inverted file is built once per corpus snapshot
  // and amortized across every mining run, retrieval, and dedup pass
  // that reads it. Labels ride a co-partitioned equijoin on vec_id
  // (corpus-sized, never broadcast); the mined set's recall against
  // the exact miner is asserted in DedupSimilaritySpec, mirroring
  // ann_ivf vs ann_bruteforce.
  def hardNegMine(spark: SparkSession, dir: String): DataFrame = {
    val lab = Tables(spark, dir).embeddings.select(col("vec_id"), col("label"))
    val v = vecs(spark, dir)
    val assigned = nearestCells(spark, dir, v, 1)
      .join(lab, Seq("vec_id"))
      .select(col("cell"), col("vec_id").as("neg_id"),
        col("v").as("cv"), col("norm").as("cn"), col("label").as("neg_label"))
    val probes = nearestCells(spark, dir, v.filter(col("vec_id") < nQueries), nprobe)
      .join(lab, Seq("vec_id"))
      .select(col("cell"), col("vec_id").as("query_id"),
        col("v").as("qv"), col("norm").as("qn"), col("label").as("q_label"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neg_id"))
    probes.join(assigned, Seq("cell"))
      .filter(col("q_label") =!= col("neg_label"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("neg_id"), col("neg_label"),
        floor(col("cos") * 10000 + 0.5).cast("long").as("cos_bp"))
      .orderBy(col("query_id"), col("rank"))
  }

  val hardNegMineSql: String =
    s"""WITH n AS (${vecsSql("vec_id")}),
       |l AS (SELECT vec_id, label FROM embeddings),
       |$ivfCentsSql,
       |${ivfAdCtes("n.vec_id, n.v, n.norm")},
       |assigned AS (
       |  SELECT a.cell, a.vec_id AS neg_id, a.v AS cv, a.norm AS cn,
       |    l.label AS neg_label
       |  FROM (SELECT *, row_number() OVER (
       |          PARTITION BY vec_id ORDER BY d2, cell) AS r FROM ad) a
       |  JOIN l ON a.vec_id = l.vec_id
       |  WHERE a.r <= 1),
       |probes AS (
       |  SELECT p.cell, p.vec_id AS query_id, p.v AS qv, p.norm AS qn,
       |    l.label AS q_label
       |  FROM (SELECT *, row_number() OVER (
       |          PARTITION BY vec_id ORDER BY d2, cell) AS r
       |        FROM ad WHERE vec_id < $nQueries) p
       |  JOIN l ON p.vec_id = l.vec_id
       |  WHERE p.r <= $nprobe),
       |scored AS (
       |  SELECT p.query_id, a.neg_id, a.neg_label,
       |    (${dotSqlOf("p.qv", "a.cv")}) / (p.qn * a.cn) AS cos
       |  FROM probes p JOIN assigned a
       |    ON p.cell = a.cell AND p.q_label <> a.neg_label),
       |ranked AS (
       |  SELECT query_id, neg_id, neg_label, cos,
       |    CAST(row_number() OVER (
       |      PARTITION BY query_id ORDER BY cos DESC, neg_id) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neg_id, neg_label,
       |  CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS cos_bp
       |FROM ranked WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin

  // ─── ann_diverse: label-stratified diversified retrieval ───
  // Result diversification without MMR's sequential greed: the top
  // hit per label (the per-stratum representative), re-ranked by
  // similarity, top-5 — one window pass per level, both over frames
  // the blocking already shrank, fully order-deterministic. The
  // "don't show 5 copies of the same thing" production default.
  private val diverseK = 5

  def annDiverse(spark: SparkSession, dir: String): DataFrame = {
    val lab = Tables(spark, dir).embeddings.select(col("vec_id"), col("label"))
    val q = vecs(spark, dir).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qn"))
    val c = vecs(spark, dir).join(lab, Seq("vec_id"))
      .select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
        col("norm").as("cn"), col("label"))
    val wStratum = Window.partitionBy(col("query_id"), col("label"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val wFinal = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("srank", row_number().over(wStratum))
      .filter(col("srank") === 1)
      .withColumn("rank", row_number().over(wFinal).cast("long"))
      .filter(col("rank") <= diverseK)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("label"),
        floor(col("cos") * 10000 + 0.5).cast("long").as("cos_bp"))
      .orderBy(col("query_id"), col("rank"))
  }

  val annDiverseSql: String =
    s"""WITH n AS (${vecsSql("vec_id")}),
       |l AS (SELECT vec_id, label FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, l.label,
       |    (${dotSqlOf("q.v", "c.v")}) / (q.norm * c.norm) AS cos
       |  FROM n q JOIN n c ON q.vec_id < $nQueries AND q.vec_id <> c.vec_id
       |  JOIN l ON c.vec_id = l.vec_id),
       |reps AS (
       |  SELECT query_id, neighbor_id, label, cos FROM (
       |    SELECT query_id, neighbor_id, label, cos,
       |      row_number() OVER (PARTITION BY query_id, label
       |        ORDER BY cos DESC, neighbor_id) AS srank
       |    FROM scored) WHERE srank = 1),
       |ranked AS (
       |  SELECT query_id, neighbor_id, label, cos,
       |    CAST(row_number() OVER (
       |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM reps)
       |SELECT query_id, rank, neighbor_id, label,
       |  CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS cos_bp
       |FROM ranked WHERE rank <= $diverseK ORDER BY query_id, rank""".stripMargin

  // ─── ann_filtered: metadata-filtered vector search ───
  // The vector-DB feature every production deployment hits first:
  // top-k under a metadata PREDICATE (here: neighbor label must match
  // the query's label — the "same collection/tenant/class" filter).
  // Composition, not a new index: the IVF inverted file already
  // carries the payload row, so the filter is a join-side predicate
  // evaluated inside the probed cells — never a post-filter of an
  // unfiltered top-k (which silently returns < k), and never a
  // pre-filtered brute-force scan. Because the predicate prunes
  // candidates (here to ~1/|labels| of each cell), probes widen to
  // 2·nprobe — the standard filtered-search compensation, same spirit
  // as ann_ivf_pq's doubled probe width.
  private val filteredProbe = 2 * nprobe

  def annFiltered(spark: SparkSession, dir: String): DataFrame = {
    val lab = Tables(spark, dir).embeddings.select(col("vec_id"), col("label"))
    val v = vecs(spark, dir)
    val assigned = nearestCells(spark, dir, v, 1)
      .join(lab, Seq("vec_id"))
      .select(col("cell"), col("vec_id").as("neighbor_id"),
        col("v").as("cv"), col("norm").as("cn"), col("label"))
    val probes = nearestCells(spark, dir, v.filter(col("vec_id") < nQueries),
        filteredProbe)
      .join(lab, Seq("vec_id"))
      .select(col("cell"), col("vec_id").as("query_id"),
        col("v").as("qv"), col("norm").as("qn"), col("label").as("qlabel"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    probes.join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id") &&
        col("label") === col("qlabel"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("label"),
        floor(col("cos") * 10000 + 0.5).cast("long").as("cos_bp"))
      .orderBy(col("query_id"), col("rank"))
  }

  val annFilteredSql: String =
    s"""WITH n AS (${vecsSql("vec_id")}),
       |$ivfCentsSql,
       |l AS (SELECT vec_id, label FROM embeddings),
       |${ivfAdCtes("n.vec_id, n.v, n.norm")},
       |assigned AS (
       |  SELECT a.cell, a.vec_id AS neighbor_id, a.v AS cv, a.norm AS cn,
       |    l.label
       |  FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY d2, cell) AS r FROM ad) a
       |  JOIN l ON a.vec_id = l.vec_id
       |  WHERE a.r <= 1),
       |probes AS (
       |  SELECT p.cell, p.vec_id AS query_id, p.v AS qv, p.norm AS qn,
       |    l.label AS qlabel
       |  FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY d2, cell) AS r
       |    FROM ad WHERE vec_id < $nQueries) p
       |  JOIN l ON p.vec_id = l.vec_id
       |  WHERE p.r <= $filteredProbe),
       |scored AS (
       |  SELECT p.query_id, a.neighbor_id, a.label,
       |    (${dotSqlOf("p.qv", "a.cv")}) / (p.qn * a.cn) AS cos
       |  FROM probes p JOIN assigned a
       |    ON p.cell = a.cell AND p.query_id <> a.neighbor_id
       |    AND a.label = p.qlabel),
       |ranked AS (
       |  SELECT query_id, neighbor_id, label, cos,
       |    CAST(row_number() OVER (
       |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id, label,
       |  CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS cos_bp
       |FROM ranked WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin

  // ─── sample_kcenter: Gonzalez greedy k-center coreset ───
  // The diversity-first subset selection behind coreset distillation
  // and eval-set seeding: pick the md5-min vector, then k−1 times the
  // point FARTHEST from everything chosen so far (a 2-approximation
  // of the optimal k-center cover — Gonzalez 1985). Each round is one
  // broadcast of the single new center + a map-side least() over the
  // running min-distance column + a TakeOrdered argmax — k passes,
  // zero shuffles of the corpus, and the distance fold is the same
  // ascending-index sum both engines replay. r2_e6 logs the covering
  // radius² at each pick: the radius curve IS the coverage report
  // (how much of embedding space the first k exemplars span).
  private val kcenterK = 8

  def sampleKcenter(spark: SparkSession, dir: String): DataFrame = {
    val dist2 = (a: Column, b: Column) => aggregate(
      zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (s, x) => s + x)
    val v = vecs(spark, dir).select(col("vec_id"), col("v"))
    val seed = v.withColumn("hkey", md5(col("vec_id").cast("string")))
      .orderBy(col("hkey"), col("vec_id")).limit(1)
      .select(col("vec_id").as("center_id"), col("v").as("cv"))
    var picks = seed.select(lit(0L).as("pick"), col("center_id"),
      lit(0L).as("r2_e6"))
    // Round-17 (guide §1.2: don't recompute what you already have):
    // the running min-distance state is lazily checkpointed per round,
    // materialized for free by the SAME TakeOrdered job that picks the
    // next center — without it, round t's argmax re-derived all t
    // distance folds from the parquet scan, an O(k²·n·d) recompute for
    // an O(k·n·d) algorithm. The state blocks are released as soon as
    // the successor round's state is live; the returned `picks` frame
    // depends only on the 1-row eager checkpoints, never on state.
    var state = v.crossJoin(broadcast(seed.select(col("cv"))))
      .withColumn("d", dist2(col("v"), col("cv"))).drop("cv")
      .localCheckpoint(eager = false)
    var stateRdds = Checkpoints.ckptRdds(state)
    var prevRdds: Seq[org.apache.spark.rdd.RDD[_]] = Nil
    for (t <- 1 until kcenterK) {
      val nxt = state.orderBy(col("d").desc, col("vec_id")).limit(1)
        .select(col("vec_id").as("center_id"), col("v").as("cv"),
          col("d").as("dmax"))
        .localCheckpoint(eager = true) // 1 row; truncates the k-deep lineage
      // nxt's job materialized `state`; the PREVIOUS round's state (the
      // current one's parent) is dead weight from here on.
      prevRdds.foreach(r => scala.util.Try(r.unpersist(blocking = false)))
      picks = picks.unionByName(nxt.select(lit(t.toLong).as("pick"),
        col("center_id"),
        floor(col("dmax") * 1e6 + 0.5).cast("long").as("r2_e6")))
      prevRdds = stateRdds
      state = state.crossJoin(broadcast(nxt.select(col("cv"))))
        .withColumn("d", least(col("d"), dist2(col("v"), col("cv"))))
        .drop("cv")
        .localCheckpoint(eager = false)
      stateRdds = Checkpoints.ckptRdds(state)
    }
    // The last two state generations were never (or just) materialized
    // and picks does not reference them — drop the block references.
    (prevRdds ++ stateRdds).foreach(r =>
      scala.util.Try(r.unpersist(blocking = false)))
    picks.select(col("pick"), col("center_id"), col("r2_e6"))
      .orderBy(col("pick"))
  }

  val sampleKcenterSql: String = {
    val round = (i: Int) =>
      s"""s$i AS MATERIALIZED (
         |  SELECT vec_id AS center_id, v AS cv, d AS dmax FROM m${i - 1}
         |  ORDER BY d DESC, vec_id LIMIT 1),
         |m$i AS (
         |  SELECT m.vec_id, m.v,
         |    least(m.d, ${dist2SqlOf("m.v", "s.cv")}) AS d
         |  FROM m${i - 1} m, s$i s)""".stripMargin
    s"""WITH n AS (${vecsSql("vec_id")}),
       |s0 AS MATERIALIZED (
       |  SELECT vec_id AS center_id, v AS cv FROM n
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1),
       |m0 AS (
       |  SELECT n.vec_id, n.v, (${dist2SqlOf("n.v", "s.cv")}) AS d
       |  FROM n, s0 s),
       |${(1 until kcenterK).map(round).mkString(",\n")}
       |SELECT * FROM (
       |  SELECT CAST(0 AS BIGINT) AS pick, center_id,
       |    CAST(0 AS BIGINT) AS r2_e6 FROM s0
       |  ${(1 until kcenterK).map(i =>
             s"UNION ALL SELECT CAST($i AS BIGINT), center_id, " +
             s"CAST(floor(dmax * 1e6 + 0.5) AS BIGINT) FROM s$i").mkString("\n  ")}
       |) ORDER BY pick""".stripMargin
  }

  // ─── ann_kmeans_step: one Lloyd iteration over the IVF cells ───
  // The index-maintenance move ann_centroid_stats motivates: the
  // md5-sampled coarse quantizer is cheap but arbitrary; ONE Lloyd
  // round (assign → per-cell mean → re-measure) is the standard
  // refinement, and this op reports exactly what it buys per cell —
  // SSE against the seed centroid vs against the refined one, the
  // centroid shift, and the improvement in bp. Distributed k-means,
  // the Spark-native way: assignment is the broadcast-centroid
  // nearest-cell join ann_ivf already uses (n·k integer distance
  // evals); the M-step is a (cell, dim)-keyed map-combining SUM —
  // never a per-cell collect; the refined centroid array reassembles
  // with an ORDER-BY-pos list aggregate over dim-bounded frames. All
  // arithmetic in integer millis (coords quantized once up front), so
  // group sums are order-independent and DuckDB replays bit-for-bit
  // — the float-determinism discipline applied to k-means. BIGINT
  // holds Σd² to ~10¹¹ vectors×32 dims; DECIMAL(38,0) beyond.
  def annKmeansStep(spark: SparkSession, dir: String): DataFrame = {
    def milli(c: Column): Column =
      transform(c, x => floor(x * 1000 + lit(0.5)).cast("long"))
    def d2m(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0L), (s, x) => s + x)
    import spark.implicits._
    val v = vecs(spark, dir).select(col("vec_id"), milli(col("v")).as("vm"))
    // Milli-quantized model from the SAME driver-collected arrays the
    // double-domain family shares (floor(x·1000+0.5) per coordinate —
    // identical IEEE ops to the milli() column above), assigned via
    // the graft_nearest_cells_milli projection: integer distances,
    // no n·k join/window (see NearestCells.scala).
    val (cells, mat) = ivfModelArrays(spark, dir)
    val dimLen = if (cells.isEmpty) 0 else mat.length / cells.length
    val matM = mat.map(x => math.floor(x * 1000 + 0.5).toLong)
    val c0 = cells.zipWithIndex.toSeq
      .map { case (c, i) => (c, matM.slice(i * dimLen, (i + 1) * dimLen).toSeq) }
      .toDF("cell", "cm")
    val assigned = v
      .withColumn("cell", explode(call_function("graft_nearest_cells_milli",
        col("vm"), typedLit(cells.toSeq), typedLit(matM.toSeq),
        lit(1), lit(twoLevelMin))))
      .join(broadcast(c0), Seq("cell"))
      .withColumn("d2", d2m(col("vm"), col("cm")))
      .select(col("cell"), col("vec_id"), col("vm"), col("d2"))
    val c1 = assigned
      .select(col("cell"), posexplode(col("vm")).as(Seq("pos", "x")))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("cnt"))
      .withColumn("c", expr("sx div cnt"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        e => e("c")).as("cm1"))
    assigned.join(broadcast(c1), Seq("cell"))
      .withColumn("d2new", d2m(col("vm"), col("cm1")))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("d2")).as("sse0"),
        sum(col("d2new")).as("sse1"))
      .join(broadcast(c0.join(c1, Seq("cell"))
        .select(col("cell"), d2m(col("cm1"), col("cm")).as("shift_m2"))),
        Seq("cell"))
      .select(col("cell"), col("n_vecs"), col("sse0"), col("sse1"),
        col("shift_m2"),
        expr("(sse0 - sse1) * 10000 div greatest(1, sse0)").as("improve_bp"))
      .orderBy(col("cell"))
  }

  val annKmeansStepSql: String = {
    def d2mSql(a: String, b: String) =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(list_zip($a, $b),
         |        z -> (z[1] - z[2]) * (z[1] - z[2]))), (s, x) -> s + x)""".stripMargin
    s"""WITH n AS (${vecsSql("vec_id")}),
       |$ivfCentsSql,
       |vq AS (SELECT vec_id,
       |  list_transform(v, x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS vm
       |  FROM n),
       |cq AS (SELECT cell,
       |  list_transform(centv, x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS cm
       |  FROM cents),
       |k1m AS (
       |  SELECT CASE WHEN (SELECT count(*) FROM cq) >= $twoLevelMin THEN
       |    (SELECT min(m) FROM range(1, 100000) t(m)
       |     WHERE m * m >= (SELECT count(*) FROM cq))
       |    ELSE 1 END AS k1),
       |mreps AS (
       |  SELECT cell AS rcell, cm AS rm FROM (
       |    SELECT cell, cm, row_number() OVER (
       |      ORDER BY md5(CAST(cell AS VARCHAR)), cell) AS rr FROM cq)
       |  WHERE rr <= (SELECT k1 FROM k1m)),
       |mgrp AS (
       |  SELECT cell, cm, rcell FROM (
       |    SELECT c.cell, c.cm, r.rcell, row_number() OVER (
       |      PARTITION BY c.cell
       |      ORDER BY (${d2mSql("c.cm", "r.rm")}), r.rcell) AS gr
       |    FROM cq c, mreps r)
       |  WHERE gr = 1),
       |mvp AS (
       |  SELECT vec_id, rcell FROM (
       |    SELECT vq.vec_id, r.rcell, row_number() OVER (
       |      PARTITION BY vq.vec_id
       |      ORDER BY (${d2mSql("vq.vm", "r.rm")}), r.rcell) AS pr
       |    FROM vq, mreps r)
       |  WHERE pr <= 2),
       |pairs AS (
       |  SELECT vq.vec_id, g.cell, vq.vm, g.cm,
       |    ${d2mSql("vq.vm", "g.cm")} AS d2
       |  FROM vq JOIN mvp ON vq.vec_id = mvp.vec_id
       |  JOIN mgrp g ON g.rcell = mvp.rcell),
       |assigned AS MATERIALIZED (
       |  SELECT cell, vec_id, vm, d2 FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY d2, cell) AS rk FROM pairs)
       |  WHERE rk = 1),
       |dims AS (
       |  SELECT cell, generate_subscripts(vm, 1) AS pos, unnest(vm) AS x
       |  FROM assigned),
       |c1 AS MATERIALIZED (
       |  SELECT cell, list(c ORDER BY pos) AS cm1 FROM (
       |    SELECT cell, pos, CAST(sum(x) AS BIGINT) // count(*) AS c
       |    FROM dims GROUP BY 1, 2)
       |  GROUP BY cell),
       |stats AS (
       |  SELECT a.cell, CAST(count(*) AS BIGINT) AS n_vecs,
       |    CAST(sum(a.d2) AS BIGINT) AS sse0,
       |    CAST(sum(${d2mSql("a.vm", "c.cm1")}) AS BIGINT) AS sse1
       |  FROM assigned a JOIN c1 c USING (cell)
       |  GROUP BY a.cell)
       |SELECT s.cell, s.n_vecs, s.sse0, s.sse1,
       |  ${d2mSql("c.cm1", "q.cm")} AS shift_m2,
       |  (s.sse0 - s.sse1) * 10000 // greatest(1, s.sse0) AS improve_bp
       |FROM stats s JOIN c1 c USING (cell) JOIN cq q USING (cell)
       |ORDER BY s.cell""".stripMargin
  }

  // ─── ann_label_knn: kNN-classifier evaluation over the label column ───
  // The embeddings table ships a supervised `label` no retrieval op
  // has touched: the standard embedding-quality probe is a kNN
  // classifier — if 5-NN majority vote recovers a query's own label,
  // the space clusters by class. Per-class accuracy + the majority
  // predicted label's vote share; the vote is integer (count, then
  // lowest label on ties) so both engines pick identical winners.
  // Shape: the annBruteforce broadcast-query scan (corpus × 20
  // queries, one pass), a |queries|·k vote rollup, per-class rollup —
  // query count is the bounded side at any corpus size.
  private val voteK = 5

  def annLabelKnn(spark: SparkSession, dir: String): DataFrame = {
    val lbl = Tables(spark, dir).embeddings
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val q = vecs(spark, dir).filter(col("vec_id") < nQueries)
      .join(lbl, Seq("vec_id"))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qn"), col("label").as("qlabel"))
    val c = vecs(spark, dir).join(lbl, Seq("vec_id"))
      .select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
        col("norm").as("cn"), col("label").as("nlabel"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val top = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= voteK)
    val byVotes = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("nlabel"))
    val pred = top.groupBy(col("query_id"), col("qlabel"), col("nlabel"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(byVotes))
      .filter(col("vr") === 1)
    pred.groupBy(col("qlabel").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("nlabel") === col("qlabel"), 1L).otherwise(0L))
          .as("n_correct"),
        sum(col("votes")).as("winner_votes"))
      .select(col("label"), col("n_queries"), col("n_correct"),
        expr("n_correct * 10000 div n_queries").as("acc_bp"),
        expr(s"winner_votes * 10000 div (n_queries * $voteK)")
          .as("vote_share_bp"))
      .orderBy(col("label"))
  }

  val annLabelKnnSql: String =
    s"""WITH n AS (${vecsSql("vec_id")}),
       |lbl AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
       |q AS (SELECT n.vec_id AS query_id, n.v AS qv, n.norm AS qn,
       |    l.label AS qlabel
       |  FROM n JOIN lbl l USING (vec_id) WHERE n.vec_id < $nQueries),
       |scored AS (
       |  SELECT q.query_id, q.qlabel, c.vec_id AS neighbor_id,
       |    l.label AS nlabel,
       |    ${dotSqlOf("q.qv", "c.v")} / (q.qn * c.norm) AS cos
       |  FROM n c JOIN lbl l USING (vec_id) CROSS JOIN q
       |  WHERE q.query_id <> c.vec_id),
       |top AS (
       |  SELECT query_id, qlabel, nlabel FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
       |  WHERE rank <= $voteK),
       |pred AS (
       |  SELECT query_id, qlabel, nlabel, votes FROM (
       |    SELECT query_id, qlabel, nlabel,
       |      CAST(count(*) AS BIGINT) AS votes,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY count(*) DESC, nlabel) AS vr
       |    FROM top GROUP BY 1, 2, 3)
       |  WHERE vr = 1)
       |SELECT qlabel AS label, CAST(count(*) AS BIGINT) AS n_queries,
       |  CAST(sum(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_correct,
       |  CAST(sum(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END) * 10000
       |    // count(*) AS BIGINT) AS acc_bp,
       |  CAST(sum(votes) * 10000 // (count(*) * $voteK) AS BIGINT)
       |    AS vote_share_bp
       |FROM pred GROUP BY qlabel
       |ORDER BY label""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_label_knn" -> annLabelKnn,
    "ann_kmeans_step" -> annKmeansStep,
    "sample_kcenter" -> sampleKcenter,
    "ann_filtered" -> annFiltered,
    "hard_neg_mine" -> hardNegMine,
    "sample_hard_negatives" -> sampleHardNegatives,
    "ann_diverse" -> annDiverse,
    "ann_hybrid_rrf" -> annHybridRrf,
    "ann_nprobe_curve" -> annNprobeCurve,
    "ann_shard_fanout" -> annShardFanout,
    "ann_dim_stats" -> annDimStats,
    "ann_centroid_stats" -> annCentroidStats,
    "ann_recall_curve" -> annRecallCurve,
    "ann_recall" -> annRecall,
    "ann_knn_graph" -> annKnnGraph,
    "ann_nndescent" -> annNndescent,
    "ann_nndescent_conv" -> annNndescentConv,
    "ann_label_sep" -> annLabelSep,
    "knn_join" -> knnJoin,
    "ann_pq" -> annPq,
    "ann_sq" -> annSq,
    "ann_bruteforce" -> annBruteforce,
    "ann_lsh" -> annLsh,
    "ann_ivf" -> annIvf,
    "ann_ivf_pq" -> annIvfPq,
    "ann_range_search" -> annRangeSearch,
    "ann_retrieve" -> annRetrieve)

  val oracle: Map[String, String] = Map(
    "ann_label_knn" -> annLabelKnnSql,
    "ann_kmeans_step" -> annKmeansStepSql,
    "sample_kcenter" -> sampleKcenterSql,
    "ann_filtered" -> annFilteredSql,
    "hard_neg_mine" -> hardNegMineSql,
    "sample_hard_negatives" -> sampleHardNegativesSql,
    "ann_diverse" -> annDiverseSql,
    "ann_hybrid_rrf" -> annHybridRrfSql,
    "ann_nprobe_curve" -> annNprobeCurveSql,
    "ann_shard_fanout" -> annShardFanoutSql,
    "ann_dim_stats" -> annDimStatsSql,
    "ann_centroid_stats" -> annCentroidStatsSql,
    "ann_recall_curve" -> annRecallCurveSql,
    "ann_recall" -> annRecallSql,
    "ann_knn_graph" -> annKnnGraphSql,
    "ann_nndescent" -> annNndescentSql,
    "ann_nndescent_conv" -> annNndescentConvSql,
    "ann_label_sep" -> annLabelSepSql,
    "knn_join" -> knnJoinSql,
    "ann_pq" -> annPqSql,
    "ann_sq" -> annSqSql,
    "ann_bruteforce" -> annBruteforceSql,
    "ann_lsh" -> annLshSql,
    "ann_ivf" -> annIvfSql,
    "ann_ivf_pq" -> annIvfPqSql,
    "ann_range_search" -> annRangeSearchSql,
    "ann_retrieve" -> annRetrieveSql)
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only data scale-up: replicate an existing testdata SF dir ×k
  * with deterministic, referential-integrity-preserving key shifts —
  * the tool behind the round-14 sf1 scaling run (VERDICT r13 task 1:
  * "turn the 100× posture from argued into observed").
  *
  * NOT a new generator: the driver's synthetic distributions are the
  * contract (TESTDATA.md, seed=42, read-only), so sf1 is built FROM
  * sf0.1 by stacking k key-shifted replicas. Design choices that keep
  * per-replica structure intact while keeping cross-replica structure
  * from exploding super-linearly:
  *
  *  - Dimension tables (region, nation) copy through unchanged; fact
  *    and entity keys shift by replica · (max_key + 1), so every FK
  *    chain (orders→customer, lineitem→orders/part/supplier,
  *    events.user_id, embeddings.vec_id) stays valid and every
  *    replica's join fan-outs match the source's exactly.
  *  - documents.text is alphabet-ROTATED per replica (translate with
  *    a Caesar-shifted lowercase alphabet): within a replica the
  *    shingle/near-dup structure is byte-for-byte the source's; across
  *    replicas the vocabularies are disjoint, so the MinHash pair
  *    graph grows ×k (linear, like a real corpus), not ×k² (as exact
  *    text copies would — every doc would gain k−1 exact duplicates
  *    and the "bounded by duplicate density" posture would be tested
  *    against data no real pipeline has).
  *  - embeddings.embedding gets a seeded per-replica INDEX PERMUTATION
  *    (see vecPerm): norms and all intra-replica dot products are
  *    exactly preserved (same permutation both sides), while
  *    cross-replica cosines decorrelate — again ×k growth in
  *    near-neighbor structure, and (unlike the earlier cyclic
  *    rotation) stable under chained runs.
  *  - events keep their timestamps: ×k rows in the same time range
  *    models k× traffic density (more users, same behavior per user),
  *    which is how event volume actually scales.
  *
  * Zero randomness — same inputs, same k, same bytes out. Output is
  * one single parquet FILE per table (coalesce(1) + rename) because
  * the DuckDB side of tools/crosscheck.py reads '<dir>/<t>.parquet'
  * as a file path.
  *
  * Usage: runMain graft.GenScale <srcDir> <dstDir> <k>
  */
object GenScale {

  /** Replicate ×k, shifting each key column by replica · modulus.
    * EVERY modulus is the max key of the table that OWNS the id space
    * (+1) — a child FK (o_custkey, l_orderkey, embeddings.vec_id ≡
    * doc_id) must shift by its PARENT's modulus, or replicas' FK
    * chains cross-wire wherever the child doesn't reference the
    * parent's max row. */
  private def shifted(df: DataFrame, shifts: Seq[(String, Long)],
      copies: DataFrame): DataFrame = {
    val rep = df.crossJoin(copies)
    shifts.foldLeft(rep) { case (d, (c, m)) =>
      d.withColumn(c, col(c) + col("__copy") * m)
    }.drop("__copy")
  }

  private val alpha = "abcdefghijklmnopqrstuvwxyz"

  /** Per-copy alphabet PERMUTATION (not cyclic rotation): rotations
    * compose additively, so chaining GenScale runs (sf0.1→sf1→sf10)
    * collides — replicas (r1, r2) and (r1', r2') with r1+r2 = r1'+r2'
    * produce byte-identical text and the exact-dup count explodes
    * ~100× past linear (measured: 84,880 dup groups at a chained sf10
    * vs the ~800 a linear corpus implies). Seeded Fisher-Yates
    * permutations live in S₂₆ (4·10²⁶ elements): distinct per copy,
    * and the composition of two seeded permutations is a fresh
    * permutation, so chained runs stay vocabulary-disjoint at any k.
    * Copy 0 is the identity — replica 0 reproduces the source bytes.
    *
    * The seed folds in a per-RUN stage tag (the dst directory's
    * basename): with a stage-independent family, chained runs collide
    * through the identity — stage pairs (a, 0) and (0, a) both compose
    * to perm(a) and yield byte-identical documents, ~(k−1)·n_src extra
    * exact-dup pairs. Distinct stage families make every composed
    * permutation across stages distinct (two independently seeded
    * members of S₂₆ coincide with probability ~2.5e-27). Determinism
    * holds per argument vector: same (src, dst, k) → same bytes. */
  private var stageSeed: Long = 0L

  private def perm(c: Int): String =
    if (c == 0) alpha
    else new String(new scala.util.Random(stageSeed + c)
      .shuffle(alpha.toVector).toArray)

  /** Per-copy EMBEDDING INDEX PERMUTATION, same reasoning one level
    * up: the previous cyclic rotation composes additively (S₆₄ has
    * only 64 rotations), so a chained sf10 gives every source vector
    * ~C(count(a+b=s),2) exact-duplicate copies — quadratic growth in
    * the near-neighbor structure the ANN/dedup family is graded on.
    * A seeded permutation of the 64 indices preserves norms and all
    * intra-replica dot products exactly (same permutation both sides),
    * decorrelates cross-replica cosines, and composes with any earlier
    * stage's rotation/permutation into a fresh permutation. */
  private def vecPerm(c: Int, dim: Int): Seq[Int] =
    if (c == 0) 0 until dim
    else new scala.util.Random(stageSeed + 7000000 + c)
      .shuffle((0 until dim).toVector)

  def main(args: Array[String]): Unit = {
    val Array(src, dst, kStr) = args.take(3)
    val k = kStr.toInt
    // Stage tag: the dst basename's (spec-stable) String.hashCode,
    // spread by a prime so "sf1" and "sf10" families share no seeds
    // with each other or with the historical fixed base (1000 + c).
    stageSeed = 1000L +
      (java.nio.file.Paths.get(dst).getFileName.toString.hashCode.toLong
        & 0x7fffffffL) * 65537L
    val spark = GraftSession.live(GraftSession.builder(GraftSession.cpus))
    import java.nio.file.{Files, Paths, StandardCopyOption}
    Files.createDirectories(Paths.get(dst))

    val copies = spark.range(0, k).select(col("id").as("__copy"))
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")

    // The ×k translate of documents.text: one chained translate per
    // replica index, dispatched by __copy (k is tiny; the CASE is
    // codegen'd). Replica 0 is the untouched source bytes.
    def rotText(cCol: org.apache.spark.sql.Column,
        text: org.apache.spark.sql.Column) =
      (1 until k).foldLeft(when(cCol === 0, text)) { (acc, c) =>
        acc.when(cCol === c, translate(text, alpha, perm(c)))
      }

    // Id-space moduli, each owned by ONE table and reused by every FK
    // into it. doc_id ≡ vec_id in the testdata (row-aligned; see
    // Similarity.scala), so embeddings shift by the DOCUMENTS modulus.
    def maxOf(t: String, c: String): Long =
      read(t).agg(max(col(c))).head.getLong(0) + 1L
    val mCust = maxOf("customer", "c_custkey")
    val mSupp = maxOf("supplier", "s_suppkey")
    val mPart = maxOf("part", "p_partkey")
    val mOrd = maxOf("orders", "o_orderkey")
    val mEvent = maxOf("events", "event_id")
    val mUser = maxOf("events", "user_id")
    val mDoc = maxOf("documents", "doc_id")

    val outs: Seq[(String, DataFrame)] = Seq(
      "region" -> read("region"),
      "nation" -> read("nation"),
      // c_name follows the shifted key (the source invariant is exact:
      // name = printf('Customer#%09d', custkey); replica 0 reproduces
      // the source bytes). Leaving names verbatim would hand every
      // customer k-1 exact-duplicate names — fuzzy_join's edit-distance
      // neighbor density would grow with k instead of staying the
      // source's, which is not how ×k more real customers behave.
      "customer" -> shifted(read("customer"), Seq("c_custkey" -> mCust), copies)
        .withColumn("c_name", format_string("Customer#%09d", col("c_custkey"))),
      "supplier" -> shifted(read("supplier"), Seq("s_suppkey" -> mSupp), copies),
      "part" -> shifted(read("part"), Seq("p_partkey" -> mPart), copies),
      "orders" -> shifted(read("orders"),
        Seq("o_orderkey" -> mOrd, "o_custkey" -> mCust), copies),
      "lineitem" -> shifted(read("lineitem"),
        Seq("l_orderkey" -> mOrd, "l_partkey" -> mPart, "l_suppkey" -> mSupp),
        copies),
      "events" -> shifted(read("events"),
        Seq("event_id" -> mEvent, "user_id" -> mUser), copies),
      "documents" -> read("documents")
        .crossJoin(copies)
        .withColumn("text", rotText(col("__copy"), col("text")))
        .withColumn("doc_id", col("doc_id") + col("__copy") * mDoc)
        .drop("__copy"),
      "embeddings" -> {
        val e = read("embeddings")
        val dim = e.select(size(col("embedding"))).head.getInt(0)
        // One CASE branch per copy applying that copy's fixed index
        // permutation (element_at is 1-based); k is tiny, the CASE is
        // codegen'd, and copy 0 passes the source array through.
        def permuted(cCol: org.apache.spark.sql.Column,
            emb: org.apache.spark.sql.Column) =
          (1 until k).foldLeft(when(cCol === 0, emb)) { (acc, c) =>
            acc.when(cCol === c,
              array(vecPerm(c, dim).map(i => element_at(emb, i + 1)): _*))
          }
        e.crossJoin(copies)
          .withColumn("embedding", permuted(col("__copy"), col("embedding")))
          .withColumn("vec_id", col("vec_id") + col("__copy") * mDoc)
          .drop("__copy")
      })

    // Primary-key sort before the single-file write: replicas land as
    // contiguous key ranges (the layout a real append-per-batch ingest
    // produces) and parquet row-group min/max stats stay tight for the
    // pruning operators.
    val sortKeys: Map[String, Seq[String]] = Map(
      "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey"),
      "lineitem" -> Seq("l_orderkey", "l_linenumber"),
      "events" -> Seq("event_id"), "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))

    outs.foreach { case (t, df0) =>
      val df = sortKeys.get(t)
        .map(ks => df0.orderBy(ks.map(col): _*)).getOrElse(df0)
      val tmp = s"$dst/__tmp_$t"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
        .filter(p => p.endsWith(".parquet")).head
      Files.move(Paths.get(part), Paths.get(s"$dst/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      // clean the tmp dir (part file already moved out)
      Files.walk(Paths.get(tmp)).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
      val n = spark.read.parquet(s"$dst/$t.parquet").count()
      System.err.println(s"[genscale] $t: $n rows -> $dst/$t.parquet")
    }
    spark.stop()
  }
}

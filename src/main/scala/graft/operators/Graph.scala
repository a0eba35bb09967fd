package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import Checkpoints.{Converge, EarlyStop, FixedRounds, iterate, retain}

/** The graph operators: connected components over the near-duplicate
  * pair graph and the analytics built on it, plus the event-type
  * transition graph's SCC family. Iterative ones run on
  * `Checkpoints.iterate`, which owns their checkpoint blocks.
  */
object Graph {

  /** Connected components by min-label propagation with
    * pointer jumping — the DataFrame rendition of the alternating
    * large-star/small-star algorithms in Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014. O(log d) rounds;
    * per-round state is bounded by the EDGE set (never the corpus).
    *
    * `edges` must hold both directions of every edge (src, dst) and
    * should be persisted by the caller (it is joined every round).
    * Returns (node, lbl): lbl = the component's minimum node id.
    * Convergence: labels are monotone non-increasing positive ids, so
    * an unchanged label sum ⇔ a fixpoint. Pointer jumping (adopt the
    * label OF my label — every label is itself a node) doubles the
    * propagation distance per round, so maxRounds=50 covers diameters
    * past 2^49. */
  def connectedComponents(
      edges: DataFrame, opName: String, maxRounds: Int = 50): DataFrame = {
    val init = edges.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
    // Round-17 (guide §3.1) hinted broadcast on ALL THREE per-round
    // joins; round-18 reverts two of them after the driver measured
    // the cold sf0.1 run at 1.09 → 4.31 s (1.72 s at 8 cores): each
    // bcastIf is a collect-and-rebuild cycle per round in a cold JVM,
    // and only ONE of the three joins actually touches edge-scale
    // data. The label vector keeps its hint — broadcasting |V| rows
    // there is what keeps the CACHED edge frame exchange-free at any
    // scale below the cap (pagerank/hits/coreness broadcast exactly
    // one frame per round and show no cold penalty). The propagate
    // and pointer-jump joins are |V|-vs-|V|: their inputs are
    // shuffle outputs whose runtime size AQE already sees, so it
    // converts them to BHJ for free when small — no driver-side
    // broadcast build needed. min/least on integer labels is
    // order-insensitive, so join strategy cannot change any output
    // bit. Above the cap: SMJ everywhere, unchanged.
    val small = init.count() <= bcastRowCap
    iterate(init, maxRounds, opName, Converge) { labels =>
      val nbrMin = edges.join(bcastIf(labels, small),
          edges("src") === labels("node"))
        .groupBy(col("dst")).agg(min(col("lbl")).as("nlbl"))
      val propagated = labels.join(nbrMin,
          labels("node") === nbrMin("dst"), "left")
        .select(col("node"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
      val m = propagated.select(col("node").as("k"), col("lbl").as("v"))
      propagated.join(m, propagated("lbl") === m("k"), "left")
        .select(col("node"),
          least(col("lbl"), coalesce(col("v"), col("lbl"))).as("lbl"))
    } { df =>
      Option(df.agg(sum(col("lbl").cast("decimal(38,0)"))).head.getDecimal(0))
        .map(BigDecimal(_))
    }
  }

  // ─── graph_components: per-component stats over the pair graph ───
  // Downstream of clustering, a dedup pipeline reports its component
  // structure (how big are the duplicate groups? how densely
  // connected?) before electing canonicals. One CC run + two
  // aggregations over the edge/label frames; n_edges counts each
  // undirected edge once.
  def graphComponents(spark: SparkSession, dir: String): DataFrame = {
    val edges = Dedup.pairEdges(spark, dir)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val labels = connectedComponents(edges, "graphComponents")
      val sizes = labels.groupBy(col("lbl").as("cluster_id"))
        .agg(count(lit(1)).as("n_docs"), max(col("node")).as("max_doc"))
      val edgeCounts = edges.join(labels, edges("src") === labels("node"))
        .groupBy(col("lbl").as("cluster_id"))
        .agg((count(lit(1)) / 2).cast("long").as("n_edges"))
      sizes.join(edgeCounts, Seq("cluster_id"))
        .select(col("cluster_id"), col("n_docs"), col("n_edges"), col("max_doc"))
        .orderBy(col("cluster_id"))
    } finally edges.unpersist(blocking = false)
  }

  val graphComponentsSql: String =
    s"""WITH RECURSIVE ${Dedup.ccReachCtes},
       |comp AS (SELECT node AS doc_id, MIN(x) AS cluster_id
       |         FROM reach GROUP BY node),
       |sizes AS (SELECT cluster_id, count(*) AS n_docs, max(doc_id) AS max_doc
       |          FROM comp GROUP BY cluster_id),
       |ec AS (SELECT c.cluster_id, CAST(count(*) // 2 AS BIGINT) AS n_edges
       |       FROM edges e JOIN comp c ON e.src = c.doc_id
       |       GROUP BY c.cluster_id)
       |SELECT s.cluster_id, s.n_docs, ec.n_edges, s.max_doc
       |FROM sizes s JOIN ec ON s.cluster_id = ec.cluster_id
       |ORDER BY s.cluster_id""".stripMargin

  /** Broadcast hint gated on a MEASURED row count (guide §3.1: hint
    * when you KNOW a side is small — the iterative loops' state frames
    * are RDD-backed after localCheckpoint, their size estimate
    * defaults to "huge", and the planner would never pick a broadcast
    * join on its own, so every round paid a full SMJ: two exchanges
    * plus two sorts over KB-sized state). The cap is in rows: loop
    * states here are ≤ 3 numeric fields (~50 B framed), so 2 M rows
    * ≈ 100 MB — inside the guide's "a few hundred MB is usually fine"
    * and far from the 8 GB broadcast cap. Above the cap the frame is
    * returned unhinted and the join stays sort-merge — the 100 TB
    * posture, where node-scale state must not be broadcast. */
  private[operators] val bcastRowCap = 2L * 1000 * 1000
  private[operators] def bcastIf(df: DataFrame, small: Boolean): DataFrame =
    if (small) broadcast(df) else df

  // ─── graph_degrees: degree histogram of the pair graph ───
  // The first diagnostic over any similarity graph: how skewed is it?
  // A heavy tail here predicts hot keys in every downstream bucket
  // join. Two map-side-combining aggregations; never materializes
  // anything per-pair beyond the edge list itself.
  def graphDegrees(spark: SparkSession, dir: String): DataFrame =
    Dedup.pairEdges(spark, dir)
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      .groupBy(col("deg"))
      .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"))
      .orderBy(col("deg"))

  val graphDegreesSql: String =
    s"""WITH ${Dedup.edgesCtes},
       |deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src)
       |SELECT deg, count(*) AS n_nodes, min(node) AS min_node
       |FROM deg GROUP BY deg ORDER BY deg""".stripMargin

  // ─── graph_triangles: per-node triangle counts ───
  // Triangle participation separates true near-dup cliques from
  // chains of borderline pairs (a clique of k dups has (k−1)(k−2)/2
  // triangles per node; a chained false-positive path has none).
  // Degree-ordered node-iterator (Schank & Wagner 2005): orient each
  // undirected edge from its lower-(degree, id) endpoint, pair
  // out-neighbors, close against the oriented edge set. Out-degrees
  // are bounded by O(√m), so the wedge join is arboricity-bounded —
  // the 100 TB-safe form — and every triangle matches exactly once
  // (its unique 2-out-degree vertex), with no DISTINCT pass.
  /** Per-node triangle participation counts over a symmetric edge
    * frame (both directions present). Exposed for spec graphs. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src").as("n")).agg(count(lit(1)).as("d"))
    val ore = edges
      .join(deg.select(col("n").as("sn"), col("d").as("sd")), col("src") === col("sn"))
      .join(deg.select(col("n").as("dn"), col("d").as("dd")), col("dst") === col("dn"))
      .filter(struct(col("sd"), col("src")) < struct(col("dd"), col("dst")))
      .select(col("src"), col("dst"))
    val tri = ore.as("e1")
      .join(ore.as("e2"), col("e1.src") === col("e2.src"))
      .join(ore.as("e3"),
        col("e1.dst") === col("e3.src") && col("e2.dst") === col("e3.dst"))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"), col("e2.dst").as("w"))
    tri.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
  }

  def graphTriangles(spark: SparkSession, dir: String): DataFrame = {
    val edges = Dedup.pairEdges(spark, dir)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try triangleCounts(edges).orderBy(col("node"))
    finally edges.unpersist(blocking = false)
  }

  val graphTrianglesSql: String =
    s"""WITH ${Dedup.edgesCtes},
       |deg AS MATERIALIZED (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src),
       |ore AS MATERIALIZED (SELECT e.src, e.dst FROM edges e
       |        JOIN deg ds ON ds.node = e.src
       |        JOIN deg dd ON dd.node = e.dst
       |        WHERE (ds.deg, e.src) < (dd.deg, e.dst)),
       |tri AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
       |        FROM ore e1 JOIN ore e2 ON e1.src = e2.src
       |        JOIN ore e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
       |tn AS (SELECT u AS node FROM tri
       |       UNION ALL SELECT v FROM tri
       |       UNION ALL SELECT w FROM tri)
       |SELECT node, count(*) AS n_tri FROM tn GROUP BY node ORDER BY node""".stripMargin

  // ─── graph_squares: 4-cycle (quadrilateral) counts per node ───
  // The motif one step up from triangles: in a near-dup graph,
  // squares without triangles are the signature of TEMPLATE families
  // (A≈B, B≈C, C≈D, D≈A via shared boilerplate, no direct A≈C edge)
  // — chained borderline similarity that a triangle census reads as
  // clean. Counting identity: every 4-cycle u–v–w–x has two diagonal
  // pairs {u,w} and {v,x}; a wedge u–v–w (center v, endpoints u<w)
  // contributes one center to pair (u,w), so squares through diagonal
  // (u,w) = C(common-neighbors, 2), and each node sits in exactly one
  // diagonal of each of its squares — summing C(c,2) over the pairs
  // containing a node counts its squares exactly once (chorded
  // quadrilaterals included, as in the sequential Chiba–Nishizeki
  // C4 census). The wedge fan-out is Σ_v C(deg v, 2): bounded here
  // because pairEdges degrees are capped by the LSH band construction
  // (Dedup.scala df caps); on an uncapped hub graph the mitigation is
  // the same degree-ordering trick graphTriangles uses, applied per
  // center. Everything after the wedge join is pair-frame metadata.
  /** Per-node 4-cycle participation over a symmetric edge frame.
    * Exposed for spec graphs. */
  def squareCounts(edges: DataFrame): DataFrame = {
    val wed = edges.as("e1")
      .join(edges.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.dst").as("u"), col("e2.dst").as("w"))
    val pairs = wed.groupBy(col("u"), col("w"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2)
      .withColumn("s", expr("c * (c - 1) div 2"))
    val perNode = pairs
      .select(explode(array(col("u"), col("w"))).as("node"), col("s"))
      .groupBy(col("node")).agg(sum(col("s")).as("n_sq"))
    // Global row at node = −1: total squares (each counted by both
    // diagonals, hence div 2). Present even when the graph has none —
    // the readout must distinguish "no squares" from "didn't run".
    val total = pairs.agg(
      coalesce(expr("sum(s) div 2"), lit(0L)).as("n_sq"))
      .select(lit(-1L).as("node"), col("n_sq"))
    perNode.unionByName(total)
  }

  def graphSquares(spark: SparkSession, dir: String): DataFrame = {
    val edges = Dedup.pairEdges(spark, dir)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try squareCounts(edges).orderBy(col("node"))
    finally edges.unpersist(blocking = false)
  }

  val graphSquaresSql: String =
    s"""WITH ${Dedup.edgesCtes},
       |wed AS (SELECT e1.dst AS u, e2.dst AS w
       |        FROM edges e1 JOIN edges e2
       |          ON e1.src = e2.src AND e1.dst < e2.dst),
       |pairs AS (SELECT u, w, CAST(count(*) AS BIGINT) AS c
       |          FROM wed GROUP BY u, w HAVING count(*) >= 2),
       |contrib AS (
       |  SELECT u AS node, c * (c - 1) // 2 AS s FROM pairs
       |  UNION ALL
       |  SELECT w AS node, c * (c - 1) // 2 AS s FROM pairs)
       |SELECT node, CAST(sum(s) AS BIGINT) AS n_sq
       |FROM contrib GROUP BY node
       |UNION ALL
       |SELECT CAST(-1 AS BIGINT) AS node,
       |  CAST(coalesce(sum(c * (c - 1) // 2) // 2, 0) AS BIGINT) AS n_sq
       |FROM pairs
       |ORDER BY node""".stripMargin

  // ─── graph_pagerank: power iteration over the pair graph ───
  // Canonical-doc election by centrality: inside a duplicate cluster
  // the highest-PageRank doc is the one most corroborated by its
  // neighbors — a better canonical than min-id when clusters chain.
  // Fixed 10 rounds of the power method (d = 0.85); the symmetric
  // edge set means groupBy(dst) already covers every node, so a round
  // is ONE equijoin against the persisted (src, dst, deg) frame plus
  // one aggregation — state per round is the rank vector, never the
  // corpus. Rounds run on the fixed-rounds policy of the one loop.
  // Oracle: the same 10 rounds unrolled as chained DuckDB CTEs.
  private val prRounds = 10

  /** Power-iteration PageRank over a symmetric edge frame; returns
    * (node, r, deg). Checkpointed rounds via `iterate`, so the
    * result is self-contained once returned. Exposed for spec graphs. */
  def pagerank(edges: DataFrame, rounds: Int = prRounds): DataFrame = {
    val deg = edges.groupBy(col("src").as("n")).agg(count(lit(1)).as("deg"))
    val edeg = edges.join(deg, col("src") === col("n"))
      .select(col("src"), col("dst"), col("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = edeg.select(col("src")).distinct().count()
      // Empty graph: 0.15/n would constant-fold into an ANSI
      // divide-by-zero at plan time — short-circuit to the (empty)
      // result frame instead.
      if (n == 0)
        return edeg.select(col("src").as("node"), lit(0.0).as("r"), col("deg"))
      val init = edeg.select(col("src").as("node")).distinct()
        .withColumn("r", lit(1.0) / n)
      // The rank vector is |V|-rows; n is already measured for the
      // 0.15/n constant, so when it fits the broadcast cap each round
      // is one BroadcastHashJoin against the CACHED edge frame (zero
      // exchanges on the join) + the one unavoidable groupBy(dst)
      // exchange — versus the SMJ's two exchanges + two sorts per
      // round that the planner picked because checkpointed state has
      // no size estimate (guide §2.4/§3.1). Above the cap: unchanged.
      val small = n <= bcastRowCap
      val pr = iterate(init, rounds, "pagerank", FixedRounds) { prev =>
        edeg.join(bcastIf(prev, small), col("src") === col("node"))
          .groupBy(col("dst"))
          .agg(sum(col("r") / col("deg")).as("c"))
          .select(col("dst").as("node"),
            (lit(0.15) / n + lit(0.85) * col("c")).as("r"))
      }(_.count())
      // The deg join re-reads edeg (persisted) — materialize before the
      // finally releases that cache.
      retain(pr.join(deg, col("node") === col("n"))
        .select(col("node"), col("r"), col("deg"))
        .localCheckpoint(eager = true))
    } finally edeg.unpersist(blocking = false)
  }

  def graphPagerank(spark: SparkSession, dir: String): DataFrame = {
    val edges = Dedup.pairEdges(spark, dir)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try
      pagerank(edges)
        .select(col("node"),
          floor(col("r") * 1e7 + 0.5).cast("long").as("rank_e7"), col("deg"))
        .orderBy(col("node"))
    finally edges.unpersist(blocking = false)
  }

  val graphPagerankSql: String = {
    val rounds = (1 to prRounds).map { i =>
      s"""pr$i AS MATERIALIZED (SELECT e.dst AS node,
         |  0.15 / (SELECT n FROM nn) + 0.85 * sum(p.r / d.deg) AS r
         |  FROM edges e
         |  JOIN pr${i - 1} p ON p.node = e.src
         |  JOIN deg d ON d.node = e.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${Dedup.edgesCtes},
       |deg AS MATERIALIZED (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src),
       |nn AS (SELECT count(*) AS n FROM deg),
       |pr0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS r FROM deg),
       |$rounds
       |SELECT p.node, CAST(floor(p.r * 1e7 + 0.5) AS BIGINT) AS rank_e7, d.deg
       |FROM pr$prRounds p JOIN deg d ON d.node = p.node
       |ORDER BY p.node""".stripMargin
  }

  // ─── graph_bfs: multi-source shortest hop-distance ───
  // "How far is every doc from a trusted seed set?" — the propagation
  // query behind quality-rank seeding (e.g. pages within k hops of
  // curated sources) and blast-radius analysis of a contaminated doc
  // set. Seeds = nodes ≡ 0 (mod 11); per round, every reached node
  // offers dist+1 to its neighbors and keeps the min — frontier-free
  // min-plus relaxation whose per-round state is the reached set only.
  // Rounds = graph eccentricity (near-dup components are shallow);
  // convergence when (reached-count, dist-sum) repeats: count is
  // monotone non-decreasing, the sum over a fixed reached set is
  // non-increasing, so a repeat ⇔ fixpoint.
  private val bfsSeedMod = 11
  /** DuckDB walk-depth cap; must exceed the true max distance (loud
    * divergence from the Spark fixpoint otherwise, which iterate's
    * require(converged) would surface first anyway). */
  private val bfsOracleCap = 30

  /** Min-plus BFS from `seeds` (a (node) frame, dist 0) over a
    * symmetric persisted edge frame; returns (node, dist) for reached
    * nodes only. Exposed for spec graphs. */
  def shortestDistances(edges: DataFrame, seeds: DataFrame,
      opName: String): DataFrame = {
    val init = seeds.select(col("node")).withColumn("dist", lit(0L))
    iterate(init, 50, opName, Converge) { dist =>
      val relaxed = edges.join(dist, edges("src") === dist("node"))
        .select(col("dst").as("node"), (col("dist") + 1).as("dist"))
      dist.unionByName(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
    } { df =>
      val r = df.agg(count(lit(1)), sum(col("dist"))).head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
  }

  def graphBfs(spark: SparkSession, dir: String): DataFrame = {
    val edges = Dedup.pairEdges(spark, dir)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val seeds = edges.select(col("src").as("node")).distinct()
        .filter(pmod(col("node"), lit(bfsSeedMod)) === 0)
      shortestDistances(edges, seeds, "graphBfs").orderBy(col("node"))
    } finally edges.unpersist(blocking = false)
  }

  val graphBfsSql: String =
    s"""WITH RECURSIVE ${Dedup.edgesCtes},
       |seeds AS (SELECT DISTINCT src AS node FROM edges WHERE src % $bfsSeedMod = 0),
       |walk(node, dist) AS (
       |  SELECT node, CAST(0 AS BIGINT) FROM seeds
       |  UNION
       |  SELECT e.dst, w.dist + 1 FROM walk w
       |  JOIN edges e ON e.src = w.node
       |  WHERE w.dist < $bfsOracleCap)
       |SELECT node, min(dist) AS dist FROM walk
       |GROUP BY node ORDER BY node""".stripMargin

  // ─── graph_jaccard: neighborhood similarity of connected pairs ───
  // Link-quality scoring for the near-dup graph: an edge whose
  // endpoints also share most of their OTHER neighbors sits inside a
  // dense duplicate clique; an edge with no common neighbors is a
  // lone (often false-positive) bridge — structural Jaccard is the
  // standard edge-strength signal (common-neighbors / union, as in
  // SimRank-lite link prediction). Common neighbors per edge via two
  // equijoins against the adjacency (pairs → wedges → close on the
  // composite (endpoint, neighbor) key — work ∝ Σ deg(a), never a
  // cross join); degrees from one map-side-combining aggregate;
  // integer-exact basis points via BIGINT division.
  def graphJaccard(spark: SparkSession, dir: String): DataFrame = {
    val edges = Dedup.pairEdges(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val deg = edges.groupBy(col("src").as("n")).agg(count(lit(1)).as("d"))
      val pairs = edges.filter(col("src") < col("dst"))
        .select(col("src").as("a"), col("dst").as("b"))
      val common = pairs
        .join(edges.select(col("src").as("pa"), col("dst").as("x")),
          col("a") === col("pa"))
        .join(edges.select(col("src").as("pb"), col("dst").as("y")),
          col("b") === col("pb") && col("x") === col("y"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
      pairs
        .join(common, Seq("a", "b"), "left")
        .na.fill(0L, Seq("common"))
        .join(deg.select(col("n").as("a"), col("d").as("deg_a")), Seq("a"))
        .join(deg.select(col("n").as("b"), col("d").as("deg_b")), Seq("b"))
        .select(col("a").as("src"), col("b").as("dst"), col("common"),
          col("deg_a"), col("deg_b"),
          expr("common * 10000 div (deg_a + deg_b - common)").as("jaccard_bp"))
        .orderBy(col("src"), col("dst"))
    } finally edges.unpersist(blocking = false)
  }

  val graphJaccardSql: String =
    s"""WITH ${Dedup.edgesCtes},
       |deg AS (SELECT src AS n, count(*) AS d FROM edges GROUP BY src),
       |pairs AS (SELECT src AS a, dst AS b FROM edges WHERE src < dst),
       |cm AS (
       |  SELECT p.a, p.b, count(*) AS common
       |  FROM pairs p
       |  JOIN edges e1 ON e1.src = p.a
       |  JOIN edges e2 ON e2.src = p.b AND e2.dst = e1.dst
       |  GROUP BY p.a, p.b)
       |SELECT p.a AS src, p.b AS dst,
       |  coalesce(cm.common, 0) AS common, da.d AS deg_a, db.d AS deg_b,
       |  coalesce(cm.common, 0) * 10000
       |    // (da.d + db.d - coalesce(cm.common, 0)) AS jaccard_bp
       |FROM pairs p
       |LEFT JOIN cm ON cm.a = p.a AND cm.b = p.b
       |JOIN deg da ON da.n = p.a
       |JOIN deg db ON db.n = p.b
       |ORDER BY src, dst""".stripMargin

  // ─── graph_kcore: bounded-round 2-core peeling ───
  // The densest-region extractor (Seidman 1983; Batagelj–Zaveršnik
  // peeling): repeatedly drop nodes with degree < k — what survives
  // for k=2 is the cycle-bearing core of the near-dup graph, the part
  // where transitive duplicate clusters actually live (trees and
  // chains of borderline pairs peel away). Run as a FIXED 12-round
  // peel on the one checkpointed loop (peeling is monotone,
  // so extra rounds past the fixpoint are no-ops and the oracle can
  // unroll the same 12 rounds as chained CTEs — the pagerank
  // precedent). Per round: one degree aggregate + two semi-join-
  // shaped equijoins over the EDGE set only; state never exceeds the
  // edge list. Output: every node of the pair graph with its
  // in-core flag and surviving degree.
  private val kcoreK = 2
  private val kcoreRounds = 12

  def graphKcore(spark: SparkSession, dir: String): DataFrame = {
    val edges0 = Dedup.pairEdges(spark, dir)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // Round-17: the peel only ever REMOVES edges, so an unchanged
      // count means an unchanged set and every further round is the
      // identity — the early-stop policy stops there instead of paying
      // all 12 fixed rounds' shuffles (the DuckDB twin's remaining unrolled
      // rounds are identities on the converged set, so outputs are
      // bit-identical). The qualifying-node set `ok` is |V|-bounded:
      // broadcast when the measured edge count (an upper bound on
      // |V| for this symmetric graph) fits, killing both per-round
      // join exchanges against the peeled edge state (guide §3.1).
      val small = edges0.count() <= bcastRowCap
      val core = iterate(edges0.select(col("src"), col("dst")),
        kcoreRounds, "graphKcore", EarlyStop) { e =>
        val ok = e.groupBy(col("src").as("n")).agg(count(lit(1)).as("d"))
          .filter(col("d") >= kcoreK).select(col("n"))
        e.join(bcastIf(ok.withColumnRenamed("n", "src"), small), Seq("src"))
          .join(bcastIf(ok.withColumnRenamed("n", "dst"), small), Seq("dst"))
          .select(col("src"), col("dst"))
      }(_.count())
      val coreDeg = core.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("core_deg"))
      edges0.select(col("src").as("node")).distinct()
        .join(coreDeg, Seq("node"), "left")
        .select(col("node"), col("core_deg").isNotNull.as("in_core"),
          coalesce(col("core_deg"), lit(0L)).as("core_deg"))
        .orderBy(col("node"))
    } finally edges0.unpersist(blocking = false)
  }

  val graphKcoreSql: String = {
    // AS MATERIALIZED throughout: DuckDB inlines plain CTEs, so a
    // 12-deep chain would replay the whole upstream pipeline
    // exponentially (same reason graphTrianglesSql materializes).
    val rounds = (1 to kcoreRounds).map { i =>
      s"""e$i AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM e${i - 1} e
         |  JOIN (SELECT src AS n FROM e${i - 1} GROUP BY src
         |        HAVING count(*) >= $kcoreK) oa ON e.src = oa.n
         |  JOIN (SELECT src AS n FROM e${i - 1} GROUP BY src
         |        HAVING count(*) >= $kcoreK) ob ON e.dst = ob.n)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${Dedup.edgesCtes},
       |e0 AS MATERIALIZED (SELECT src, dst FROM edges),
       |$rounds,
       |cd AS (SELECT src AS node, count(*) AS core_deg
       |       FROM e$kcoreRounds GROUP BY src)
       |SELECT n.node, cd.node IS NOT NULL AS in_core,
       |  coalesce(cd.core_deg, 0) AS core_deg
       |FROM (SELECT DISTINCT src AS node FROM edges) n
       |LEFT JOIN cd ON cd.node = n.node
       |ORDER BY n.node""".stripMargin
  }

  // ─── graph_clustering: local clustering coefficient ───
  // cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) in basis points, integer
  // division so both engines agree exactly. Composes the
  // arboricity-bounded triangle count with the degree aggregate —
  // nothing new touches edge-scale data beyond those two passes.
  // High cc + high degree = true near-dup clique; high degree + cc≈0
  // = a hub stitching unrelated docs (the false-positive signature).
  def graphClustering(spark: SparkSession, dir: String): DataFrame = {
    val edges = Dedup.pairEdges(spark, dir)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val deg = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= 2)
      deg.join(triangleCounts(edges), Seq("node"), "left_outer")
        .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
        .withColumn("cc_bp",
          floor(col("n_tri") * 2 * 10000L / (col("deg") * (col("deg") - 1)))
            .cast("long"))
        .select(col("node"), col("deg"), col("n_tri"), col("cc_bp"))
        .orderBy(col("node"))
    } finally edges.unpersist(blocking = false)
  }

  val graphClusteringSql: String =
    s"""WITH ${Dedup.edgesCtes},
       |deg AS MATERIALIZED (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src),
       |ore AS MATERIALIZED (SELECT e.src, e.dst FROM edges e
       |        JOIN deg ds ON ds.node = e.src
       |        JOIN deg dd ON dd.node = e.dst
       |        WHERE (ds.deg, e.src) < (dd.deg, e.dst)),
       |tri AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
       |        FROM ore e1 JOIN ore e2 ON e1.src = e2.src
       |        JOIN ore e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
       |tn AS (SELECT u AS node FROM tri
       |       UNION ALL SELECT v FROM tri
       |       UNION ALL SELECT w FROM tri),
       |tc AS (SELECT node, count(*) AS n_tri FROM tn GROUP BY node)
       |SELECT deg.node, deg.deg,
       |  CAST(coalesce(tc.n_tri, 0) AS BIGINT) AS n_tri,
       |  CAST(coalesce(tc.n_tri, 0) * 2 * 10000
       |    // (deg.deg * (deg.deg - 1)) AS BIGINT) AS cc_bp
       |FROM deg LEFT JOIN tc ON tc.node = deg.node
       |WHERE deg.deg >= 2 ORDER BY deg.node""".stripMargin

  // ─── graph_cc_hist: component size distribution ───
  // The one-glance answer to "what did dedup find": how many
  // singleton pairs vs large near-dup families. One CC run + two
  // tiny aggregations over the label frame — the labels are already
  // the expensive part and they're shared machinery
  // (connectedComponents with checkpoint hygiene).
  def graphCcHist(spark: SparkSession, dir: String): DataFrame = {
    val edges = Dedup.pairEdges(spark, dir)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      connectedComponents(edges, "graphCcHist")
        .groupBy(col("lbl").as("cluster_id"))
        .agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("comp_size"))
        .agg(count(lit(1)).as("n_components"),
          min(col("cluster_id")).as("min_cluster"))
        .orderBy(col("comp_size"))
    } finally edges.unpersist(blocking = false)
  }

  val graphCcHistSql: String =
    s"""WITH RECURSIVE ${Dedup.ccReachCtes},
       |comp AS (SELECT node AS doc_id, MIN(x) AS cluster_id
       |         FROM reach GROUP BY node),
       |sizes AS (SELECT cluster_id, count(*) AS sz FROM comp GROUP BY cluster_id)
       |SELECT sz AS comp_size, count(*) AS n_components,
       |  min(cluster_id) AS min_cluster
       |FROM sizes GROUP BY sz ORDER BY comp_size""".stripMargin

  // ─── graph_assortativity: degree correlation of the pair graph ───
  // Do high-degree docs pair with other high-degree docs (template
  // families — assortative) or with leaves (hub-and-spoke false
  // positives — disassortative)? Pearson correlation of endpoint
  // degrees over the symmetric edge set, via the exact-sum technique
  // (q35_corr): integer sums in the aggregate, one fixed-shape IEEE
  // expression at the end, zero-variance guarded identically in both
  // engines. One degree aggregate + two broadcastable joins + a
  // single-row reduce.
  def graphAssortativity(spark: SparkSession, dir: String): DataFrame = {
    val edges = Dedup.pairEdges(spark, dir)
    val deg = edges.groupBy(col("src").as("n")).agg(count(lit(1)).as("d"))
    val xy = edges
      .join(deg.select(col("n").as("sn"), col("d").as("x")), col("src") === col("sn"))
      .join(deg.select(col("n").as("dn"), col("d").as("y")), col("dst") === col("dn"))
      .select(col("x"), col("y"))
    val agg = xy.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
      sum(col("x") * col("y")).as("sum_xy"),
      sum(col("x") * col("x")).as("sum_x2"),
      sum(col("y") * col("y")).as("sum_y2"))
    val nd = col("n").cast("double")
    val num = nd * col("sum_xy") - col("sum_x").cast("double") * col("sum_y")
    val dx = nd * col("sum_x2") - col("sum_x").cast("double") * col("sum_x")
    val dy = nd * col("sum_y2") - col("sum_y").cast("double") * col("sum_y")
    agg.select(col("n").as("n_edges"),
      when(dx * dy > 0, floor(num * 10000 / sqrt(dx * dy)).cast("long"))
        .otherwise(lit(0L)).as("r_bp"))
  }

  val graphAssortativitySql: String =
    s"""WITH ${Dedup.edgesCtes},
       |deg AS (SELECT src AS n, count(*) AS d FROM edges GROUP BY src),
       |xy AS (
       |  SELECT ds.d AS x, dd.d AS y
       |  FROM edges e
       |  JOIN deg ds ON e.src = ds.n
       |  JOIN deg dd ON e.dst = dd.n),
       |s AS (
       |  SELECT count(*) AS n,
       |    CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
       |    CAST(sum(x * y) AS BIGINT) AS sum_xy,
       |    CAST(sum(x * x) AS BIGINT) AS sum_x2,
       |    CAST(sum(y * y) AS BIGINT) AS sum_y2
       |  FROM xy)
       |SELECT n AS n_edges,
       |  CASE WHEN (CAST(n AS DOUBLE) * sum_x2 - CAST(sum_x AS DOUBLE) * sum_x)
       |          * (CAST(n AS DOUBLE) * sum_y2 - CAST(sum_y AS DOUBLE) * sum_y) > 0
       |    THEN CAST(floor((CAST(n AS DOUBLE) * sum_xy
       |        - CAST(sum_x AS DOUBLE) * sum_y) * 10000
       |      / sqrt((CAST(n AS DOUBLE) * sum_x2 - CAST(sum_x AS DOUBLE) * sum_x)
       |           * (CAST(n AS DOUBLE) * sum_y2 - CAST(sum_y AS DOUBLE) * sum_y)))
       |      AS BIGINT)
       |    ELSE 0 END AS r_bp
       |FROM s""".stripMargin

  // ─── graph_2hop: friend-of-friend link prediction ───
  // The recommendation twin of graph_jaccard: graph_jaccard scores
  // EXISTING edges by shared neighborhood; this one scores the
  // MISSING edges two hops out (common-neighbors link prediction,
  // the classic baseline) — for the dedup graph, "these two docs
  // never collided in a band but share k near-dup neighbors" is
  // exactly the transitive-duplicate candidate a second LSH pass
  // would chase. One wedge equijoin over the symmetric adjacency
  // (work ∝ Σ deg², the same arboricity argument as
  // graph_triangles), minus the existing edges via LEFT ANTI, then
  // a per-node top-3 window over the (already aggregated) candidate
  // frame.
  private val twoHopTopK = 3

  def graph2hop(spark: SparkSession, dir: String): DataFrame = {
    val edges = Dedup.pairEdges(spark, dir)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // Existing edges stay in the frame with is_new = false: in a
      // band-clique graph (every LSH bucket is complete) the strictly
      // novel 2-hop set can be EMPTY, and the ranked neighborhood
      // with the novelty flag is the more useful product anyway —
      // consumers filter is_new for pure link prediction.
      val cand = edges.select(col("src").as("a"), col("dst").as("b"))
        .join(edges.select(col("src").as("b2"), col("dst").as("x")),
          col("b") === col("b2"))
        .filter(col("a") < col("x"))
        .groupBy(col("a"), col("x")).agg(count(lit(1)).as("common"))
        .join(edges.select(col("src").as("a"), col("dst").as("x"),
          lit(1L).as("is_edge")), Seq("a", "x"), "left")
        .withColumn("is_new", col("is_edge").isNull)
        .drop("is_edge")
      val sym = cand.select(explode(array(
          struct(col("a").as("node"), col("x").as("rec"), col("common"), col("is_new")),
          struct(col("x").as("node"), col("a").as("rec"), col("common"), col("is_new")))).as("r"))
        .select(col("r.node").as("node"), col("r.rec").as("rec"),
          col("r.common").as("common"), col("r.is_new").as("is_new"))
      val w = Window.partitionBy(col("node")).orderBy(col("common").desc, col("rec"))
      sym.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= twoHopTopK)
        .select(col("node"), col("rank"), col("rec"), col("common"), col("is_new"))
        .orderBy(col("node"), col("rank"))
    } finally edges.unpersist(blocking = false)
  }

  val graph2hopSql: String =
    s"""WITH ${Dedup.edgesCtes},
       |fof AS (
       |  SELECT e1.src AS a, e2.dst AS x, count(*) AS common
       |  FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
       |  WHERE e1.src < e2.dst
       |  GROUP BY 1, 2),
       |flg AS (
       |  SELECT f.a, f.x, f.common, e3.src IS NULL AS is_new
       |  FROM fof f LEFT JOIN edges e3 ON e3.src = f.a AND e3.dst = f.x),
       |sym AS (
       |  SELECT a AS node, x AS rec, common, is_new FROM flg
       |  UNION ALL SELECT x, a, common, is_new FROM flg),
       |ranked AS (
       |  SELECT node, rec, common, is_new, CAST(row_number() OVER (
       |    PARTITION BY node ORDER BY common DESC, rec) AS BIGINT) AS rank
       |  FROM sym)
       |SELECT node, rank, rec, common, is_new FROM ranked
       |WHERE rank <= $twoHopTopK ORDER BY node, rank""".stripMargin

  // ─── graph_label_prop: majority label propagation over the pair graph ───
  // Semi-supervised source attribution: seed every doc with its
  // source label, then run two synchronous rounds of majority-vote
  // propagation over the near-dup edges (new label = mode of neighbor
  // labels, ties → lexicographically smallest; isolated nodes keep
  // their seed). Two rounds reaches across any path of length ≤ 2 —
  // enough to pull a dup cluster onto one label without the fixpoint
  // machinery (graph_components already proves the fixpoint loop).
  // The deterministic mode is min(struct(−cnt, label)) — never a
  // per-node sort. Reported as the seed→final transition matrix
  // (≤ |sources|² rows) with per-seed share in bp. Each round is two
  // hash shuffles (neighbor-label count, per-node argmax) — linear in
  // edges, the 100 TB-safe shape.
  private def propRound(edges: DataFrame, l: DataFrame): DataFrame = {
    val nb = edges
      .join(l.select(col("node").as("dst"), col("label")), Seq("dst"))
      .groupBy(col("src"), col("label")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("src"))
      .agg(min(struct((-col("cnt")).as("nc"), col("label").as("lb"))).as("m"))
      .select(col("src").as("node"), col("m.lb").as("nlabel"))
    l.join(nb, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("nlabel"), col("label")).as("label"))
  }

  def graphLabelProp(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(spark, dir).documents
      .select(col("doc_id").as("node"), col("source"))
    val edges = Dedup.pairEdges(spark, dir)
    val l0 = docs.select(col("node"), col("source").as("label"))
    val fin = propRound(edges, propRound(edges, l0))
    val cell = docs.join(fin, Seq("node"))
      .groupBy(col("source"), col("label")).agg(count(lit(1)).as("n_docs"))
    val per = cell.groupBy(col("source")).agg(sum(col("n_docs")).as("n_seed"))
    cell.join(broadcast(per), Seq("source"))
      .select(col("source"), col("label"), col("n_docs"),
        expr("n_docs * 10000 div n_seed").as("share_bp"))
      .orderBy(col("source"), col("label"))
  }

  val graphLabelPropSql: String = {
    def round(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT l.node, coalesce(nb.nlabel, l.label) AS label
         |  FROM $prev l LEFT JOIN (
         |    SELECT src AS node, label AS nlabel FROM (
         |      SELECT src, label, row_number() OVER (PARTITION BY src
         |        ORDER BY cnt DESC, label) AS rn
         |      FROM (SELECT e.src, l2.label, count(*) AS cnt
         |        FROM edges e JOIN $prev l2 ON e.dst = l2.node
         |        GROUP BY e.src, l2.label))
         |    WHERE rn = 1) nb USING (node))"""
    s"""WITH ${Dedup.edgesCtes},
       |l0 AS (SELECT doc_id AS node, source AS label FROM documents),
       |${round("l0", "l1").stripMargin},
       |${round("l1", "l2").stripMargin},
       |c AS (
       |  SELECT d.source, f.label, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM (SELECT doc_id AS node, source FROM documents) d
       |  JOIN l2 f USING (node) GROUP BY d.source, f.label),
       |p AS (SELECT source, CAST(sum(n_docs) AS BIGINT) AS n_seed
       |      FROM c GROUP BY source)
       |SELECT c.source, c.label, c.n_docs,
       |  c.n_docs * 10000 // p.n_seed AS share_bp
       |FROM c JOIN p USING (source) ORDER BY c.source, c.label""".stripMargin
  }

  // ─── graph_modularity: partition quality of the label-prop communities ───
  // Closes the community loop: label_prop assigns communities,
  // modularity says whether that assignment beats chance — per
  // community, Q_c = e_c/m − (d_c/2m)², the fraction of edges inside
  // the community minus the expectation under the degree-preserving
  // null model. Kept cross-engine exact the assortativity way: all
  // sums are integers (m, e_c, d_c), the per-community numerator
  // q_num = 4m·e_c − d_c² is exact BIGINT algebra (so its SIGN — the
  // better/worse-than-chance verdict — is exact), and only the final
  // bp rendering is ONE fixed-shape double division both engines
  // evaluate identically. Scale shape: two linear prop rounds, degree
  // and intra-edge counts are edge-keyed aggregates, the community
  // frame is ≤ |labels| rows, and m rides a broadcast 1-row cross.
  def graphModularity(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(spark, dir).documents
      .select(col("doc_id").as("node"), col("source"))
    val edges = Dedup.pairEdges(spark, dir)
    val fin = propRound(edges,
      propRound(edges, docs.select(col("node"), col("source").as("label"))))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))
    val comm = fin.join(deg, Seq("node"), "left")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(coalesce(col("deg"), lit(0L))).as("d_sum"))
    val intra = edges.filter(col("src") < col("dst"))
      .join(fin.select(col("node").as("src"), col("label").as("la")), Seq("src"))
      .join(fin.select(col("node").as("dst"), col("label").as("lb")), Seq("dst"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la")).agg(count(lit(1)).as("e_intra"))
      .select(col("la").as("label"), col("e_intra"))
    val mrow = edges.filter(col("src") < col("dst"))
      .agg(count(lit(1)).as("m"))
    comm.join(intra, Seq("label"), "left")
      .select(col("label"), col("n_nodes"), col("d_sum"),
        coalesce(col("e_intra"), lit(0L)).as("e_intra"))
      .crossJoin(broadcast(mrow))
      .withColumn("q_num",
        lit(4L) * col("m") * col("e_intra") - col("d_sum") * col("d_sum"))
      .withColumn("q_contrib_bp",
        floor((col("q_num") * lit(10000L)).cast("double")
          / (lit(4.0) * col("m") * col("m")) + lit(0.5)).cast("long"))
      .select(col("label"), col("n_nodes"), col("e_intra"), col("d_sum"),
        col("q_num"), col("q_contrib_bp"))
      .orderBy(col("label"))
  }

  val graphModularitySql: String = {
    def round(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT l.node, coalesce(nb.nlabel, l.label) AS label
         |  FROM $prev l LEFT JOIN (
         |    SELECT src AS node, label AS nlabel FROM (
         |      SELECT src, label, row_number() OVER (PARTITION BY src
         |        ORDER BY cnt DESC, label) AS rn
         |      FROM (SELECT e.src, l2.label, count(*) AS cnt
         |        FROM edges e JOIN $prev l2 ON e.dst = l2.node
         |        GROUP BY e.src, l2.label))
         |    WHERE rn = 1) nb USING (node))"""
    s"""WITH ${Dedup.edgesCtes},
       |l0 AS (SELECT doc_id AS node, source AS label FROM documents),
       |${round("l0", "l1").stripMargin},
       |${round("l1", "l2").stripMargin},
       |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
       |        FROM edges GROUP BY 1),
       |comm AS (
       |  SELECT l.label, CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(sum(COALESCE(d.deg, 0)) AS BIGINT) AS d_sum
       |  FROM l2 l LEFT JOIN deg d USING (node) GROUP BY 1),
       |intra AS (
       |  SELECT la.label, CAST(count(*) AS BIGINT) AS e_intra
       |  FROM edges e
       |  JOIN l2 la ON e.src = la.node
       |  JOIN l2 lb ON e.dst = lb.node
       |  WHERE e.src < e.dst AND la.label = lb.label GROUP BY 1),
       |mrow AS (SELECT CAST(count(*) AS BIGINT) AS m FROM edges
       |         WHERE src < dst),
       |pre AS (
       |  SELECT c.label, c.n_nodes, COALESCE(i.e_intra, 0) AS e_intra,
       |    c.d_sum,
       |    4 * mrow.m * COALESCE(i.e_intra, 0) - c.d_sum * c.d_sum AS q_num,
       |    mrow.m AS m
       |  FROM comm c LEFT JOIN intra i USING (label), mrow)
       |SELECT label, n_nodes, e_intra, d_sum, q_num,
       |  CAST(floor(CAST(q_num * 10000 AS DOUBLE) / (4.0 * m * m) + 0.5)
       |    AS BIGINT) AS q_contrib_bp
       |FROM pre ORDER BY label""".stripMargin
  }

  // ─── graph_louvain: one distributed Louvain refinement round ───
  // The community-detection workhorse (Blondel et al. 2008), in its
  // distributed semi-synchronous form: starting from the label-prop
  // assignment, every ACTIVE node (md5-parity half — the standard
  // coloring trick that damps the synchronous-swap oscillation)
  // evaluates moving to each neighbor community and takes the best
  // strictly-positive modularity gain. Gains are the exact-integer
  // one-move formula scaled by 2m²: moving i from a to c wins
  // G_move(c) = 2m·e_{i→c} − d_i·d_c over staying's
  // G_stay = 2m·e_{i→a} − d_i·(d_a − d_i) — all BIGINT, so move
  // decisions (the algorithm's branch points) are bit-exact
  // cross-engine; ties keep the current community. The output is the
  // post-round community table in graph_modularity's schema plus the
  // per-community move-in count, so the two queries compose into a
  // before/after dashboard (Round12OpsSpec asserts every mover had a
  // strictly positive local gain and the partition identities hold).
  // Scale shape: neighbor-community counts are one edge-keyed
  // aggregate; community degree totals are a ≤|labels| broadcast
  // frame; the argmax is a per-node window (input bounded by node
  // degree); then the modularity block reruns on the new labels.
  def graphLouvain(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(spark, dir).documents
      .select(col("doc_id").as("node"), col("source"))
    val edges = Dedup.pairEdges(spark, dir)
    // Round 17 tried lazy localCheckpoints on fin (read 2×) and picked
    // (read 3×) WITHOUT hints: sf0.1 4.07 → 3.47 s but sf10 9.1 →
    // 15.7 s — the checkpoint turns the frames into LogicalRDDs whose
    // sizes the planner no longer knows, and the edge-scale joins
    // (ecnt, intra) lost their broadcast shape. Round 18 retries WITH
    // the measured-count bcastIf gates (the connectedComponents /
    // pagerank discipline): the count that materializes each
    // checkpoint also decides whether its |V|-row frame broadcasts
    // into the edge-scale joins. Above the cap: SMJ, the 100 TB
    // posture, but the frames are still computed once.
    val fin = propRound(edges,
      propRound(edges, docs.select(col("node"), col("source").as("label"))))
      .localCheckpoint(eager = false)
    val smallFin = fin.count() <= bcastRowCap
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))
    val nodes = fin.join(deg, Seq("node"), "left")
      .select(col("node"), col("label").as("a"),
        coalesce(col("deg"), lit(0L)).as("d_i"))
    val dcom = nodes.groupBy(col("a")).agg(sum(col("d_i")).as("d_c"))
      .select(col("a").as("lbl"), col("d_c"))
    val mrow = edges.filter(col("src") < col("dst"))
      .agg(count(lit(1)).as("m"))
    // e_{i→c}: edges from each node into each neighboring community
    val ecnt = edges
      .join(bcastIf(
        fin.select(col("node").as("dst"), col("label").as("cand")), smallFin),
        Seq("dst"))
      .groupBy(col("src"), col("cand")).agg(count(lit(1)).as("e_ic"))
      .select(col("src").as("node"), col("cand"), col("e_ic"))
    // stay option: e_{i→a} (0 when no neighbor shares i's community)
    val stay = nodes
      .join(ecnt.withColumnRenamed("cand", "a"), Seq("node", "a"), "left")
      .select(col("node"), col("a"), col("d_i"), col("a").as("cand"),
        coalesce(col("e_ic"), lit(0L)).as("e_ic"), lit(1).as("is_stay"))
    val moves = nodes.join(ecnt, Seq("node"))
      .filter(col("cand") =!= col("a"))
      .select(col("node"), col("a"), col("d_i"), col("cand"), col("e_ic"),
        lit(0).as("is_stay"))
    val wPick = Window.partitionBy(col("node"))
      .orderBy(col("g").desc, col("is_stay").desc, col("cand"))
    val picked = stay.unionByName(moves)
      .join(broadcast(dcom.select(col("lbl").as("cand"), col("d_c"))), Seq("cand"))
      .join(broadcast(dcom.select(col("lbl").as("a"), col("d_c").as("d_a"))), Seq("a"))
      .crossJoin(broadcast(mrow))
      .withColumn("g",
        when(col("is_stay") === 1,
          lit(2L) * col("m") * col("e_ic") - col("d_i") * (col("d_a") - col("d_i")))
        .otherwise(lit(2L) * col("m") * col("e_ic") - col("d_i") * col("d_c")))
      .withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1)
      .withColumn("active",
        conv(substring(md5(concat(lit("lv:"), col("node").cast("string"))),
          1, 15), 16, 10).cast("long") % 2 === 0)
      .select(col("node"), col("a"),
        when(col("active"), col("cand")).otherwise(col("a")).as("label"))
      .localCheckpoint(eager = false)
    val smallPicked = picked.count() <= bcastRowCap
    // post-round community table (the graph_modularity block on the
    // new labels) + move-in counts
    val comm = picked
      .join(deg, Seq("node"), "left")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(when(col("label") =!= col("a"), 1L).otherwise(0L)).as("n_moved_in"),
        sum(coalesce(col("deg"), lit(0L))).as("d_sum"))
    val lab = picked.select(col("node"), col("label"))
    val intra = edges.filter(col("src") < col("dst"))
      .join(bcastIf(
        lab.select(col("node").as("src"), col("label").as("la")), smallPicked),
        Seq("src"))
      .join(bcastIf(
        lab.select(col("node").as("dst"), col("label").as("lb")), smallPicked),
        Seq("dst"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la")).agg(count(lit(1)).as("e_intra"))
      .select(col("la").as("label"), col("e_intra"))
    comm.join(intra, Seq("label"), "left")
      .select(col("label"), col("n_nodes"), col("n_moved_in"), col("d_sum"),
        coalesce(col("e_intra"), lit(0L)).as("e_intra"))
      .crossJoin(broadcast(mrow))
      .withColumn("q_num",
        lit(4L) * col("m") * col("e_intra") - col("d_sum") * col("d_sum"))
      .withColumn("q_contrib_bp",
        floor((col("q_num") * lit(10000L)).cast("double")
          / (lit(4.0) * col("m") * col("m")) + lit(0.5)).cast("long"))
      .select(col("label"), col("n_nodes"), col("n_moved_in"), col("e_intra"),
        col("d_sum"), col("q_num"), col("q_contrib_bp"))
      .orderBy(col("label"))
  }

  val graphLouvainSql: String = {
    def round(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT l.node, coalesce(nb.nlabel, l.label) AS label
         |  FROM $prev l LEFT JOIN (
         |    SELECT src AS node, label AS nlabel FROM (
         |      SELECT src, label, row_number() OVER (PARTITION BY src
         |        ORDER BY cnt DESC, label) AS rn
         |      FROM (SELECT e.src, l2.label, count(*) AS cnt
         |        FROM edges e JOIN $prev l2 ON e.dst = l2.node
         |        GROUP BY e.src, l2.label))
         |    WHERE rn = 1) nb USING (node))"""
    s"""WITH ${Dedup.edgesCtes},
       |l0 AS (SELECT doc_id AS node, source AS label FROM documents),
       |${round("l0", "l1").stripMargin},
       |${round("l1", "l2").stripMargin},
       |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
       |        FROM edges GROUP BY 1),
       |nodes AS (
       |  SELECT l.node, l.label AS a, COALESCE(d.deg, 0) AS d_i
       |  FROM l2 l LEFT JOIN deg d USING (node)),
       |dcom AS (SELECT a AS lbl, CAST(sum(d_i) AS BIGINT) AS d_c
       |         FROM nodes GROUP BY 1),
       |mrow AS (SELECT CAST(count(*) AS BIGINT) AS m FROM edges
       |         WHERE src < dst),
       |ecnt AS (
       |  SELECT e.src AS node, f.label AS cand, CAST(count(*) AS BIGINT) AS e_ic
       |  FROM edges e JOIN l2 f ON e.dst = f.node GROUP BY 1, 2),
       |stay AS (
       |  SELECT n.node, n.a, n.d_i, n.a AS cand,
       |    COALESCE(ec.e_ic, 0) AS e_ic, 1 AS is_stay
       |  FROM nodes n LEFT JOIN ecnt ec
       |    ON ec.node = n.node AND ec.cand = n.a),
       |moves AS (
       |  SELECT n.node, n.a, n.d_i, ec.cand, ec.e_ic, 0 AS is_stay
       |  FROM nodes n JOIN ecnt ec ON ec.node = n.node
       |  WHERE ec.cand <> n.a),
       |opts AS (
       |  SELECT o.node, o.a, o.cand,
       |    CASE WHEN o.is_stay = 1
       |      THEN 2 * mrow.m * o.e_ic - o.d_i * (da.d_c - o.d_i)
       |      ELSE 2 * mrow.m * o.e_ic - o.d_i * dc.d_c END AS g,
       |    o.is_stay
       |  FROM (SELECT * FROM stay UNION ALL SELECT * FROM moves) o
       |  JOIN dcom dc ON dc.lbl = o.cand
       |  JOIN dcom da ON da.lbl = o.a, mrow),
       |picked AS (
       |  SELECT node, a,
       |    CASE WHEN CAST(('0x' || substr(md5('lv:' || CAST(node AS VARCHAR)), 1, 15))
       |        AS BIGINT) % 2 = 0 THEN cand ELSE a END AS label
       |  FROM (
       |    SELECT *, row_number() OVER (PARTITION BY node
       |      ORDER BY g DESC, is_stay DESC, cand) AS rn
       |    FROM opts) WHERE rn = 1),
       |comm AS (
       |  SELECT p.label, CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(sum(CASE WHEN p.label <> p.a THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_moved_in,
       |    CAST(sum(COALESCE(d.deg, 0)) AS BIGINT) AS d_sum
       |  FROM picked p LEFT JOIN deg d USING (node) GROUP BY 1),
       |intra AS (
       |  SELECT la.label, CAST(count(*) AS BIGINT) AS e_intra
       |  FROM edges e
       |  JOIN picked la ON e.src = la.node
       |  JOIN picked lb ON e.dst = lb.node
       |  WHERE e.src < e.dst AND la.label = lb.label GROUP BY 1),
       |pre AS (
       |  SELECT c.label, c.n_nodes, c.n_moved_in,
       |    COALESCE(i.e_intra, 0) AS e_intra, c.d_sum,
       |    4 * mrow.m * COALESCE(i.e_intra, 0) - c.d_sum * c.d_sum AS q_num,
       |    mrow.m AS m
       |  FROM comm c LEFT JOIN intra i USING (label), mrow)
       |SELECT label, n_nodes, n_moved_in, e_intra, d_sum, q_num,
       |  CAST(floor(CAST(q_num * 10000 AS DOUBLE) / (4.0 * m * m) + 0.5)
       |    AS BIGINT) AS q_contrib_bp
       |FROM pre ORDER BY label""".stripMargin
  }

  // ─── graph_scc: strongly connected components (directed) ───
  // The one semantics the undirected family can't express: mutual
  // reachability on a DIRECTED graph — here the event-type transition
  // graph (the ev_markov derivation: adjacent same-user event pairs,
  // distinct), where an SCC is a set of behaviors users cycle among
  // and a 1-node SCC is a funnel stage they pass through one way.
  // Naive (f(v), b(v)) min-ancestor/min-descendant labeling is WRONG
  // (two parallel SCCs sharing an entry and an exit collide), so this
  // computes the exact transitive closure as a pair frame — reach ∪
  // (reach ⋈ edges) to an `iterate` fixpoint — then
  // scc_id(v) = min{u : v→*u ∧ u→*v} via one self-join of the closure
  // on the swapped pair. Scale note: the closure is quadratic in
  // NODES by design — this targets metadata-scale derived graphs
  // (event taxonomies, |V| = event types, closure ≤ |V|²) sitting on
  // a corpus-scale edge DERIVATION (the lag window + distinct do the
  // 100 TB work); corpus-node graphs route to graph_components.
  /** Session-shared SCC labeling (node, scc_id, scc_size): the
    * `graph_scc_closure` fixture. Two queries consume it (graph_scc
    * itself and graph_condense's quotient build); before this fixture
    * each ran its OWN transitive-closure iterate — two corpus-scale
    * closure builds per round, the round-13 verdict's "weak #2". The
    * scc frame is eagerly localCheckpoint'ed so it stands on its own
    * blocks: the closure's final-round blocks are retained until the
    * chunk boundary regardless, but the fixture must not silently
    * depend on them. */
  private def sccOf(spark: SparkSession, dir: String): DataFrame =
    Checkpoints.fixture("graph_scc_closure", spark, dir) {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val ev = graft.Tables(spark, dir).events
      val edges = ev
        .withColumn("f", lag(col("event_type"), 1).over(w))
        .filter(col("f").isNotNull)
        .select(col("f"), col("event_type").as("t")).distinct()
      val nodes = ev.select(col("event_type").as("v")).distinct()
      val init = nodes.select(col("v").as("src"), col("v").as("dst"))
        .union(edges.select(col("f").as("src"), col("t").as("dst")))
        .distinct()
      val closure = iterate(init, 50, "graph_scc", Converge) { reach =>
        reach.union(
          reach.join(edges, reach("dst") === edges("f"))
            .select(reach("src"), edges("t").as("dst")))
          .distinct()
      }(_.count())
      val sccRaw = closure.as("r1")
        .join(closure.as("r2"),
          col("r1.src") === col("r2.dst") && col("r1.dst") === col("r2.src"))
        .select(col("r1.src").as("node"), col("r1.dst").as("m"))
        .groupBy(col("node")).agg(min(col("m")).as("scc_id"))
      val sizes = sccRaw.groupBy(col("scc_id"))
        .agg(count(lit(1)).as("scc_size"))
      sccRaw.join(broadcast(sizes), Seq("scc_id"))
        .select(col("node"), col("scc_id"), col("scc_size"))
        .localCheckpoint(eager = true)
    }

  def graphScc(spark: SparkSession, dir: String): DataFrame =
    sccOf(spark, dir).orderBy(col("node"))

  val graphSccSql: String =
    """WITH RECURSIVE pairs AS (
      |  SELECT user_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS prev_type
      |  FROM events),
      |edges AS (
      |  SELECT DISTINCT prev_type AS f, event_type AS t
      |  FROM pairs WHERE prev_type IS NOT NULL),
      |nodes AS (SELECT DISTINCT event_type AS v FROM events),
      |reach(src, dst) AS (
      |  SELECT v, v FROM nodes
      |  UNION
      |  SELECT r.src, e.t AS dst FROM reach r JOIN edges e ON r.dst = e.f),
      |scc AS (
      |  SELECT r1.src AS node, min(r1.dst) AS scc_id
      |  FROM reach r1
      |  JOIN reach r2 ON r1.src = r2.dst AND r1.dst = r2.src
      |  GROUP BY r1.src),
      |sizes AS (SELECT scc_id, CAST(count(*) AS BIGINT) AS scc_size
      |          FROM scc GROUP BY scc_id)
      |SELECT s.node, s.scc_id, z.scc_size
      |FROM scc s JOIN sizes z USING (scc_id) ORDER BY node""".stripMargin

  // ─── graph_walk: deterministic weighted random walks ───
  // The sampling primitive under node2vec/DeepWalk-style graph
  // embeddings and personalized-PageRank estimation: from every node,
  // W walks of L steps, each step choosing an out-edge with
  // probability ∝ transition count. Determinism discipline: the
  // "coin" for (walk, step, node) is md5-derived, and the weighted
  // choice is an INTERVAL LOOKUP — out-edges carry [lo, hi) prefix-
  // sum intervals (a window over the ≤|V| out-edges of one node), so
  // x = h mod total selects exactly one edge via a join-side range
  // predicate, no argmin or sampling state. Both engines replay every
  // step bit-for-bit. Shape: the corpus builds the transition counts
  // once (the ev_markov derivation); the walk frontier is
  // (nodes × W) rows joined L times against the broadcast edge
  // table — metadata-scale compute on a corpus-scale derivation, like
  // graph_scc. Walks stop early at sinks (the join drops them).
  private val walkW = 8
  private val walkL = 4

  def graphWalk(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val counts = graft.Tables(spark, dir).events
      .withColumn("f", lag(col("event_type"), 1).over(w))
      .filter(col("f").isNotNull)
      .groupBy(col("f"), col("event_type").as("t"))
      .agg(count(lit(1)).as("n"))
    val byF = Window.partitionBy(col("f")).orderBy(col("t"))
    val edges = counts
      .withColumn("hi",
        sum(col("n")).over(byF.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("lo", col("hi") - col("n"))
      .withColumn("tot", sum(col("n")).over(Window.partitionBy(col("f"))))
    val starts = counts.select(col("f").as("node")).distinct()
      .select(col("node").as("start_type"),
        explode(array((0 until walkW).map(i => lit(i.toLong)): _*)).as("walk"),
        col("node"))
    var pos = starts
    val stepVisits = (1 to walkL).map { s =>
      val coin = conv(substring(md5(concat(lit("walk:"),
        col("walk").cast("string"), lit(s":$s:"), pos("node"))), 1, 12),
        16, 10).cast("long")
      pos = pos.join(broadcast(edges), pos("node") === edges("f"))
        .withColumn("x", coin % col("tot"))
        .filter(col("lo") <= col("x") && col("x") < col("hi"))
        .select(col("start_type"), col("walk"), col("t").as("node"))
      pos
    }
    stepVisits.map(_.select(col("start_type"), col("node")))
      .reduce(_.union(_))
      .groupBy(col("start_type"), col("node"))
      .agg(count(lit(1)).as("n_visits"))
      .orderBy(col("start_type"), col("node"))
  }

  val graphWalkSql: String = {
    // NOTE: no continuation line may START with "||" — the enclosing
    // template's stripMargin would eat up to that pipe and corrupt
    // the SQL (observed: '|(VARCHAR, STRING_LITERAL)' binder error).
    def coin(s: Int): String =
      s"(CAST(('0x' || substr(md5('walk:' || CAST(p.walk AS VARCHAR) || " +
        s"':$s:' || p.node), 1, 12)) AS BIGINT) % e.tot)"
    def step(s: Int, prev: String): String =
      s"""p$s AS (
         |  SELECT p.start_type, p.walk, e.t AS node
         |  FROM $prev p JOIN edges e ON p.node = e.f
         |   AND ${coin(s)} >= e.lo
         |   AND ${coin(s)} < e.hi)""".stripMargin
    s"""WITH pairs AS (
       |  SELECT user_id, event_type,
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      AS prev_type
       |  FROM events),
       |counts AS (
       |  SELECT prev_type AS f, event_type AS t, CAST(count(*) AS BIGINT) AS n
       |  FROM pairs WHERE prev_type IS NOT NULL GROUP BY 1, 2),
       |edges AS (
       |  SELECT f, t, n,
       |    CAST(sum(n) OVER (PARTITION BY f ORDER BY t
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS hi,
       |    CAST(sum(n) OVER (PARTITION BY f ORDER BY t
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS BIGINT)
       |      AS lo,
       |    CAST(sum(n) OVER (PARTITION BY f) AS BIGINT) AS tot
       |  FROM counts),
       |p0 AS (
       |  SELECT node AS start_type, walk, node
       |  FROM (SELECT DISTINCT f AS node FROM counts),
       |    (SELECT CAST(unnest(range(0, $walkW)) AS BIGINT) AS walk)),
       |${(1 to walkL).map(s => step(s, s"p${s - 1}")).mkString(",\n")}
       |SELECT start_type, node, CAST(count(*) AS BIGINT) AS n_visits
       |FROM (${(1 to walkL).map(s => s"SELECT start_type, node FROM p$s")
          .mkString(" UNION ALL ")})
       |GROUP BY start_type, node
       |ORDER BY start_type, node""".stripMargin
  }

  // ─── graph_condense: condensation DAG of the SCCs ───
  // The quotient graph graph_scc implies: contract each SCC to one
  // node, keep distinct cross-SCC edges, and read the acyclic level
  // structure (level = longest path from any source SCC — the "how
  // deep into the flow is this behavior cluster" axis a funnel
  // analysis wants). Levels by iterated relaxation to an `iterate`
  // fixpoint — level(v) ← max(level(v), level(pred)+1) — which
  // terminates because the condensation is a DAG by construction
  // (same closure-frame scale posture as graph_scc: quadratic in
  // metadata-scale NODES, corpus touched once by the edge
  // derivation). Output: one row per SCC with its level, member
  // count, and quotient out-degree.
  def graphCondense(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ev = graft.Tables(spark, dir).parallelized("events", "user_id")
    val edges = ev
      .withColumn("f", lag(col("event_type"), 1).over(w))
      .filter(col("f").isNotNull)
      .select(col("f"), col("event_type").as("t")).distinct()
    // Shared fixture — ONE closure build serves graph_scc + condense.
    val scc = sccOf(spark, dir)
      .select(col("node"), col("scc_id"), col("scc_size"))
    // Materialized once: every relaxation round and the out-degree
    // read it, and unmaterialized it re-ran the lag window per round.
    val qEdges = retain(edges
      .join(scc.select(col("node").as("f"), col("scc_id").as("src")), Seq("f"))
      .join(scc.select(col("node").as("t"), col("scc_id").as("dst")), Seq("t"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
      .localCheckpoint(eager = true))
    // Longest-path relaxation on the ≤|V|-row quotient frame. Level
    // sums only grow, so a repeated sum is a fixpoint; on a cyclic
    // quotient they grow forever and the loop fails at its cap. With
    // no quotient edges every level is 0 and no round can change that.
    // `init` is an aggregate so that its `level` is nullable, as the
    // loop's output is: both paths write the same schema.
    val init = scc.groupBy(col("scc_id")).agg(max(lit(0L)).as("level"))
    val levels = if (qEdges.isEmpty) init
    else try iterate(init, 50, "graph_condense", Converge) { cur =>
      val relaxed = qEdges
        .join(cur.select(col("scc_id").as("src"), col("level").as("plvl")),
          Seq("src"))
        .select(col("dst").as("scc_id"), (col("plvl") + 1).as("level"))
      cur.union(relaxed)
        .groupBy(col("scc_id")).agg(max(col("level")).as("level"))
    }(_.agg(coalesce(sum(col("level")), lit(0L))).collect()(0).getLong(0))
    catch { case e: IllegalArgumentException => throw new IllegalArgumentException(
      "graph_condense: level relaxation did not converge (cyclic quotient?)", e) }
    val outDeg = qEdges.groupBy(col("src").as("scc_id"))
      .agg(count(lit(1)).as("out_degree"))
    scc.select(col("scc_id"), col("scc_size")).distinct()
      .join(levels, Seq("scc_id"))
      .join(outDeg, Seq("scc_id"), "left")
      .na.fill(0L, Seq("out_degree"))
      .select(col("scc_id"), col("level"), col("scc_size"), col("out_degree"))
      .orderBy(col("scc_id"))
  }

  val graphCondenseSql: String =
    """WITH RECURSIVE pairs AS (
      |  SELECT user_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS prev_type
      |  FROM events),
      |edges AS (
      |  SELECT DISTINCT prev_type AS f, event_type AS t
      |  FROM pairs WHERE prev_type IS NOT NULL),
      |nodes AS (SELECT DISTINCT event_type AS v FROM events),
      |reach(src, dst) AS (
      |  SELECT v, v FROM nodes
      |  UNION
      |  SELECT r.src, e.t AS dst FROM reach r JOIN edges e ON r.dst = e.f),
      |scc AS (
      |  SELECT r1.src AS node, min(r1.dst) AS scc_id
      |  FROM reach r1
      |  JOIN reach r2 ON r1.src = r2.dst AND r1.dst = r2.src
      |  GROUP BY r1.src),
      |sizes AS (SELECT scc_id, CAST(count(*) AS BIGINT) AS scc_size
      |          FROM scc GROUP BY scc_id),
      |qedges AS (
      |  SELECT DISTINCT sf.scc_id AS src, st.scc_id AS dst
      |  FROM edges e
      |  JOIN scc sf ON sf.node = e.f
      |  JOIN scc st ON st.node = e.t
      |  WHERE sf.scc_id <> st.scc_id),
      |walks(scc_id, d) AS (
      |  SELECT scc_id, CAST(0 AS BIGINT) FROM sizes
      |  UNION
      |  SELECT q.dst, w.d + 1 FROM walks w JOIN qedges q ON w.scc_id = q.src),
      |levels AS (SELECT scc_id, max(d) AS level FROM walks GROUP BY scc_id),
      |outdeg AS (SELECT src AS scc_id, CAST(count(*) AS BIGINT) AS out_degree
      |           FROM qedges GROUP BY src)
      |SELECT s.scc_id, l.level, s.scc_size,
      |  coalesce(o.out_degree, 0) AS out_degree
      |FROM sizes s
      |JOIN levels l USING (scc_id)
      |LEFT JOIN outdeg o USING (scc_id)
      |ORDER BY s.scc_id""".stripMargin

  // ─── graph_closeness: out-closeness centrality, exact distances ───
  // Which behavior reaches the rest of the taxonomy fastest? Exact
  // single-source shortest-path distances on the directed transition
  // graph via min-plus relaxation to an `iterate` fixpoint —
  // distance frame ≤ |V|² pairs (the graph_scc closure posture:
  // metadata-scale node set on a corpus-scale edge derivation), one
  // relaxation join + min-aggregate per round, per-round blocks
  // released. Self-pairs enter at d=0 so cycles can never masquerade
  // as self-distance; the readout keeps d>0 only. closeness_bp =
  // n_reach·10⁴ div Σd (the Sabidussi inverse-farness, ×10⁴), 0 for
  // sinks that reach nobody.
  /** Nodes + exact positive shortest-path pairs (src, dst, d) of the
    * transition graph — the shared frame under graph_closeness and
    * graph_eccentricity. Self-pairs enter relaxation at d=0 (cycles
    * can't masquerade as self-distance) and are dropped on return. */
  private def transitionDistances(
      spark: SparkSession, dir: String, opName: String): (DataFrame, DataFrame) = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ev = graft.Tables(spark, dir).events
    val edges = ev
      .withColumn("f", lag(col("event_type"), 1).over(w))
      .filter(col("f").isNotNull && col("f") =!= col("event_type"))
      .select(col("f"), col("event_type").as("t")).distinct()
      .localCheckpoint(eager = false)
    val nodes = ev.select(col("event_type").as("v")).distinct()
      .localCheckpoint(eager = false)
    val init = nodes.select(col("v").as("src"), col("v").as("dst"), lit(0L).as("d"))
      .union(edges.select(col("f").as("src"), col("t").as("dst"), lit(1L).as("d")))
      .groupBy(col("src"), col("dst")).agg(min(col("d")).as("d"))
    val dist = iterate(init, 32, opName, Converge) { cur =>
      cur.union(
        cur.join(edges, cur("dst") === edges("f"))
          .select(cur("src"), edges("t").as("dst"), (cur("d") + 1L).as("d")))
        .groupBy(col("src"), col("dst")).agg(min(col("d")).as("d"))
    } { df =>
      df.agg(count(lit(1)), sum(col("d"))).head.toSeq
    }
    (nodes, dist.filter(col("d") > 0))
  }

  def graphCloseness(spark: SparkSession, dir: String): DataFrame = {
    val (nodes, dist) = transitionDistances(spark, dir, "graph_closeness")
    val reach = dist
      .groupBy(col("src").as("v"))
      .agg(count(lit(1)).as("n_reach"), sum(col("d")).as("sum_d"))
    nodes.join(reach, Seq("v"), "left")
      .select(col("v").as("node"),
        coalesce(col("n_reach"), lit(0L)).as("n_reach"),
        coalesce(col("sum_d"), lit(0L)).as("sum_d"))
      .withColumn("closeness_bp",
        when(col("sum_d") > 0, expr("n_reach * 10000 div sum_d"))
          .otherwise(lit(0L)))
      .orderBy(col("node"))
  }

  val graphClosenessSql: String =
    """WITH RECURSIVE e AS (
      |  SELECT DISTINCT f, t FROM (
      |    SELECT lag(event_type) OVER (
      |        PARTITION BY user_id ORDER BY ts, event_id) AS f,
      |      event_type AS t
      |    FROM events)
      |  WHERE f IS NOT NULL AND f <> t),
      |nodes AS (SELECT DISTINCT event_type AS v FROM events),
      |nv AS (SELECT count(*) AS n FROM nodes),
      |paths(src, dst, d) AS (
      |  SELECT f, t, CAST(1 AS BIGINT) FROM e
      |  UNION
      |  SELECT p.src, e.t, p.d + 1
      |  FROM paths p JOIN e ON p.dst = e.f, nv
      |  WHERE p.d + 1 < nv.n),
      |dist AS (
      |  SELECT src, dst, min(d) AS d FROM paths
      |  WHERE src <> dst GROUP BY src, dst),
      |reach AS (
      |  SELECT src AS v, CAST(count(*) AS BIGINT) AS n_reach,
      |    CAST(sum(d) AS BIGINT) AS sum_d
      |  FROM dist GROUP BY src)
      |SELECT n.v AS node,
      |  coalesce(r.n_reach, 0) AS n_reach,
      |  coalesce(r.sum_d, 0) AS sum_d,
      |  CASE WHEN coalesce(r.sum_d, 0) > 0
      |    THEN r.n_reach * 10000 // r.sum_d ELSE 0 END AS closeness_bp
      |FROM nodes n LEFT JOIN reach r USING (v)
      |ORDER BY node""".stripMargin

  // ─── graph_eccentricity: per-node eccentricity, radius, diameter ───
  // The other shape readout off the SAME distance frame as
  // graph_closeness: a node's eccentricity is its farthest shortest
  // path; the graph's radius/diameter are the min/max eccentricity
  // among reaching nodes; center/periphery flags mark which
  // behaviors sit at the taxonomy's core vs its rim. Everything
  // after the relaxation runs on the ≤‖V‖ node frame.
  def graphEccentricity(spark: SparkSession, dir: String): DataFrame = {
    val (nodes, dist) = transitionDistances(spark, dir, "graph_eccentricity")
    val all = Window.partitionBy(lit(1))
    val ecc = dist.groupBy(col("src").as("v"))
      .agg(max(col("d")).as("ecc"), count(lit(1)).as("n_reach"))
    nodes.join(ecc, Seq("v"), "left")
      .select(col("v").as("node"),
        coalesce(col("ecc"), lit(0L)).as("ecc"),
        coalesce(col("n_reach"), lit(0L)).as("n_reach"))
      .withColumn("radius",
        min(when(col("n_reach") > 0, col("ecc"))).over(all))
      .withColumn("diameter", max(col("ecc")).over(all))
      .select(col("node"), col("ecc"), col("n_reach"),
        col("radius"), col("diameter"),
        (col("n_reach") > 0 && col("ecc") === col("radius")).as("is_center"),
        (col("n_reach") > 0 && col("ecc") === col("diameter")).as("is_periphery"))
      .orderBy(col("node"))
  }

  val graphEccentricitySql: String =
    """WITH RECURSIVE e AS (
      |  SELECT DISTINCT f, t FROM (
      |    SELECT lag(event_type) OVER (
      |        PARTITION BY user_id ORDER BY ts, event_id) AS f,
      |      event_type AS t
      |    FROM events)
      |  WHERE f IS NOT NULL AND f <> t),
      |nodes AS (SELECT DISTINCT event_type AS v FROM events),
      |nv AS (SELECT count(*) AS n FROM nodes),
      |paths(src, dst, d) AS (
      |  SELECT f, t, CAST(1 AS BIGINT) FROM e
      |  UNION
      |  SELECT p.src, e.t, p.d + 1
      |  FROM paths p JOIN e ON p.dst = e.f, nv
      |  WHERE p.d + 1 < nv.n),
      |dist AS (
      |  SELECT src, dst, min(d) AS d FROM paths
      |  WHERE src <> dst GROUP BY src, dst),
      |ec AS (
      |  SELECT src AS v, CAST(max(d) AS BIGINT) AS ecc,
      |    CAST(count(*) AS BIGINT) AS n_reach
      |  FROM dist GROUP BY src),
      |j AS (
      |  SELECT n.v AS node, coalesce(ec.ecc, 0) AS ecc,
      |    coalesce(ec.n_reach, 0) AS n_reach
      |  FROM nodes n LEFT JOIN ec ON ec.v = n.v),
      |g AS (
      |  SELECT *,
      |    min(CASE WHEN n_reach > 0 THEN ecc END) OVER () AS radius,
      |    max(ecc) OVER () AS diameter
      |  FROM j)
      |SELECT node, ecc, n_reach, radius, diameter,
      |  n_reach > 0 AND ecc = radius AS is_center,
      |  n_reach > 0 AND ecc = diameter AS is_periphery
      |FROM g ORDER BY node""".stripMargin

  // ─── graph_reciprocity: two-way rate of the transition graph ───
  // For each behavior, how many of its out-transitions also flow
  // back (a↔b loops = browse cycles; one-way edges = funnel stages)?
  // Directed DISTINCT edge set (self-loops excluded — trivially
  // reciprocal), reciprocal test via a left-semi self-join on the
  // swapped pair: both sides are the same |types|²-bounded edge
  // frame off one corpus-scale lag derivation, so the join is
  // metadata-sized no matter the input volume. Global row appended
  // under node='*ALL*' (whole-graph reciprocity, the Garlaschelli-
  // Loffredo numerator) from the same two frames.
  def graphReciprocity(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val edges = graft.Tables(spark, dir).events
      .withColumn("f", lag(col("event_type"), 1).over(w))
      .filter(col("f").isNotNull && col("f") =!= col("event_type"))
      .select(col("f"), col("event_type").as("t"))
      .distinct()
      .localCheckpoint(eager = false)
    val recip = edges.join(
      edges.select(col("t").as("f"), col("f").as("t")), Seq("f", "t"), "left_semi")
    val perNode = edges.groupBy(col("f").as("node"))
      .agg(count(lit(1)).as("n_out"))
      .join(recip.groupBy(col("f").as("node"))
        .agg(count(lit(1)).as("n_recip")), Seq("node"), "left")
      .withColumn("n_recip", coalesce(col("n_recip"), lit(0L)))
    val global = edges.agg(count(lit(1)).as("n_out"))
      .crossJoin(recip.agg(count(lit(1)).as("n_recip")))
      .select(lit("*ALL*").as("node"), col("n_out"), col("n_recip"))
    perNode.select(col("node"), col("n_out"), col("n_recip"))
      .union(global)
      .select(col("node"), col("n_out"), col("n_recip"),
        expr("n_recip * 10000 div n_out").as("recip_bp"))
      .orderBy(col("node"))
  }

  val graphReciprocitySql: String =
    """WITH e AS (
      |  SELECT DISTINCT f, t FROM (
      |    SELECT lag(event_type) OVER (
      |        PARTITION BY user_id ORDER BY ts, event_id) AS f,
      |      event_type AS t
      |    FROM events)
      |  WHERE f IS NOT NULL AND f <> t),
      |r AS (
      |  SELECT e.f, e.t FROM e
      |  WHERE EXISTS (SELECT 1 FROM e b WHERE b.f = e.t AND b.t = e.f)),
      |pn AS (
      |  SELECT o.node, o.n_out, coalesce(rc.n_recip, 0) AS n_recip
      |  FROM (SELECT f AS node, CAST(count(*) AS BIGINT) AS n_out
      |        FROM e GROUP BY f) o
      |  LEFT JOIN (SELECT f AS node, CAST(count(*) AS BIGINT) AS n_recip
      |             FROM r GROUP BY f) rc USING (node)),
      |gl AS (
      |  SELECT '*ALL*' AS node,
      |    (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_out,
      |    (SELECT CAST(count(*) AS BIGINT) FROM r) AS n_recip)
      |SELECT node, n_out, n_recip,
      |  n_recip * 10000 // n_out AS recip_bp
      |FROM (SELECT * FROM pn UNION ALL SELECT * FROM gl)
      |ORDER BY node""".stripMargin

  // ─── graph_rich_club: do the hubs club together? ───
  // Rich-club coefficient φ(k) = 2·E_k / (N_k·(N_k−1)) over the
  // near-dup pair graph: among nodes of degree > k, what fraction of
  // possible edges exists? Rising φ(k) = template hubs densely
  // cross-linked (one boilerplate family), flat φ(k) = independent
  // duplicate clusters. The symmetric edge frame double-counts each
  // undirected edge, so the count IS 2·E_k directly. Degrees join
  // onto both endpoints, a constant ×|ks| fan-out on the pair-graph
  // METADATA, and φ is exact integer bp (NULL when N_k < 2 — both
  // engines agree on the undefined case).
  private val richKs = Seq(1L, 2L, 3L, 4L)

  def graphRichClub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = Dedup.pairEdges(spark, dir)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val deg = edges.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg"))
      val ks = richKs.toDF("k")
      // ks-anchored: a k no node clears still reports n_k = 0 — an
      // empty club is a finding, not a missing row.
      val nk = ks.join(deg.crossJoin(broadcast(ks))
          .filter(col("deg") > col("k"))
          .groupBy(col("k")).agg(count(lit(1)).as("cnt")), Seq("k"), "left")
        .select(col("k"), coalesce(col("cnt"), lit(0L)).as("n_k"))
      val e2 = edges
        .join(deg.select(col("node").as("src"), col("deg").as("ds")), Seq("src"))
        .join(deg.select(col("node").as("dst"), col("deg").as("dd")), Seq("dst"))
        .crossJoin(broadcast(ks))
        .filter(col("ds") > col("k") && col("dd") > col("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("e2_k"))
      val out = nk.join(e2, Seq("k"), "left")
        .select(col("k"), col("n_k"),
          (coalesce(col("e2_k"), lit(0L)) / 2).cast("long").as("e_k"),
          when(col("n_k") >= 2,
            expr("coalesce(e2_k, 0) * 10000 div (n_k * (n_k - 1))"))
            .as("phi_bp"))
        .orderBy(col("k"))
        .localCheckpoint(eager = true)
      out
    } finally edges.unpersist(blocking = false)
  }

  val graphRichClubSql: String = {
    val kvals = richKs.map(k => s"($k::BIGINT)").mkString(", ")
    s"""WITH ${Dedup.edgesCtes},
       |deg AS MATERIALIZED (
       |  SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
       |  FROM edges GROUP BY src),
       |ks(k) AS (VALUES $kvals),
       |nk AS (
       |  SELECT ks.k, coalesce(c.cnt, 0) AS n_k
       |  FROM ks LEFT JOIN (
       |    SELECT k, CAST(count(*) AS BIGINT) AS cnt
       |    FROM deg, ks WHERE deg > k GROUP BY k) c USING (k)),
       |e2 AS (
       |  SELECT ks.k, CAST(count(*) AS BIGINT) AS e2_k
       |  FROM edges e
       |    JOIN deg a ON a.node = e.src
       |    JOIN deg b ON b.node = e.dst, ks
       |  WHERE a.deg > ks.k AND b.deg > ks.k
       |  GROUP BY ks.k)
       |SELECT nk.k, nk.n_k,
       |  CAST(coalesce(e2.e2_k, 0) / 2 AS BIGINT) AS e_k,
       |  CASE WHEN nk.n_k >= 2
       |    THEN coalesce(e2.e2_k, 0) * 10000 // (nk.n_k * (nk.n_k - 1))
       |    END AS phi_bp
       |FROM nk LEFT JOIN e2 USING (k) ORDER BY nk.k""".stripMargin
  }

  // ─── graph_coreness: full k-core decomposition via h-index rounds ───
  // graph_kcore answers "is this node in the 2-core?"; coreness
  // answers "how deep does every node sit?" — the full decomposition
  // that ranks template hubs above chance pairings in one number.
  // Algorithm: Lü et al. 2016 — iterate c(v) ← H({c(u): u∈N(v)})
  // from c₀ = deg; the h-index fixpoint IS the coreness. Each round
  // is one equijoin against the persisted edge frame + a
  // degree-bounded per-node window (partitioned by the high-
  // cardinality node key) + an aggregate — never a global sort, and
  // state per round is the |V|-row score frame. Rounds run under
  // the one checkpointed loop; Round12OpsSpec asserts
  // one more round is a fixpoint (the convergence guarantee) and
  // pins a crafted triangle+pendant graph core-exact.
  private val corenessRounds = 10

  /** h-index iteration over a symmetric edge frame; returns
    * (node, coreness, deg). Exposed for spec graphs. */
  def coreness(edges: DataFrame, rounds: Int = corenessRounds): DataFrame = {
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // Round-17: h-index values are monotone non-increasing from
      // c₀ = deg (Lü et al.), and the node set is fixed, so an
      // unchanged (count, sum) is a fixpoint and the remaining fixed
      // rounds are identities — stop there (bit-identical to the
      // oracle's full unroll). The |V|-row score vector broadcasts
      // when measured small, making the per-round join exchange-free;
      // the window exchange on src remains (it is the round's real
      // shuffle). All-integer state: order-insensitive.
      val small = deg.count() <= bcastRowCap
      val fin = iterate(deg.select(col("node"), col("deg").as("c")),
        rounds, "graphCoreness", EarlyStop) { prev =>
        hIndexRound(edges, bcastIf(prev, small))
      } { df =>
        val r = df.agg(count(lit(1)), sum(col("c"))).head
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      }
      retain(fin.join(deg, Seq("node"))
        .select(col("node"), col("c").as("coreness"), col("deg"))
        .localCheckpoint(eager = true))
    } finally deg.unpersist(blocking = false)
  }

  /** One h-index refinement: c'(src) = max over neighbor ranks r
    * (values desc) of min(r, value) — the h-index of the neighbor
    * value multiset, tie-order-independent by construction. */
  private[graft] def hIndexRound(edges: DataFrame, prev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("src")).orderBy(col("v").desc)
    edges.join(prev, edges("dst") === prev("node"))
      .select(col("src"), col("c").as("v"))
      .withColumn("r", row_number().over(w).cast("long"))
      .groupBy(col("src"))
      .agg(max(least(col("r"), col("v"))).as("c"))
      .select(col("src").as("node"), col("c"))
  }

  def graphCoreness(spark: SparkSession, dir: String): DataFrame =
    coreness(Dedup.pairEdges(spark, dir)).orderBy(col("node"))

  val graphCorenessSql: String = {
    val round = (i: Int) =>
      s"""c$i AS MATERIALIZED (
         |  SELECT src AS node, CAST(max(least(r, v)) AS BIGINT) AS c FROM (
         |    SELECT e.src, p.c AS v,
         |      row_number() OVER (PARTITION BY e.src ORDER BY p.c DESC) AS r
         |    FROM edges e JOIN c${i - 1} p ON p.node = e.dst)
         |  GROUP BY src)""".stripMargin
    s"""WITH ${Dedup.edgesCtes},
       |deg AS MATERIALIZED (
       |  SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
       |  FROM edges GROUP BY src),
       |c0 AS (SELECT node, deg AS c FROM deg),
       |${(1 to corenessRounds).map(round).mkString(",\n")}
       |SELECT c.node, c.c AS coreness, d.deg
       |FROM c$corenessRounds c JOIN deg d USING (node)
       |ORDER BY c.node""".stripMargin
  }

  // ─── graph_hits: hubs & authorities on the user↔behavior graph ───
  // Kleinberg's HITS on the bipartite engagement graph: users are
  // hubs (who exercises the product broadly/heavily), event types are
  // authorities (which behaviors the heavy users concentrate on) —
  // the mutual-reinforcement ranking a plain count can't give,
  // because an authority weighted by WHO does it separates power-user
  // behaviors from drive-by noise. Cross-engine float discipline as
  // ev_markov_stationary: matrix-vector products sum in engine-
  // dependent order, so the whole iteration is INTEGER — raw scores
  // are exact long sums of w·score, and each half-round renormalizes
  // by the DIVISION-FIRST rule s·? → raw div max(1, Σraw div S),
  // keeping every value ≤ ~2S with no long overflow (raw ≤ S·Σw).
  // The edge frame is the (user, type, count) aggregate — corpus-
  // shrunk once, then 4 rounds of metadata-scale joins against it.
  // Output: top-20 hubs via global sort-limit (TakeOrdered — no
  // full-sort shuffle) + all |types| authorities.
  private val hitsRounds = 4
  private val hitsScale = 100000000L // 10⁸ — score resolution

  def graphHits(spark: SparkSession, dir: String): DataFrame = {
    val edges = graft.Tables(spark, dir).events
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Per-round EAGER checkpoints are load-bearing: the normalizer
    // aggregate re-embeds the raw-score subtree under the crossJoin,
    // so an unbroken lineage doubles the plan every half-round (2¹⁶
    // nodes by round 4 — analysis alone hangs). Checkpointing rawA/a/
    // rawH/h keeps every round's plan constant-size; the frames are
    // |types|- and |users|-rowed, so the materializations are noise.
    val temps = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def ckpt(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(eager = true)
      temps += c
      c
    }
    try {
      var h = ckpt(edges.select(col("user_id")).distinct()
        .withColumn("score", lit(hitsScale)))
      // Round-17 (guide §2.4, §3.1): per half-round the ONLY
      // corpus-scale work is one join+aggregate over the cached edge
      // frame. The score vectors are |users|- and |types|-rows —
      // measured here (cheap counts on materialized checkpoints) and
      // broadcast when they fit, so the join is a BroadcastHashJoin
      // with ZERO exchanges on the cached side instead of the SMJ's
      // two exchanges + sorts (checkpointed state has no size
      // estimate, so the planner could never pick this itself at plan
      // time; locally AQE often recovers it at runtime, but the hint
      // guarantees the shape at any scale where the count fits). All
      // arithmetic is integer (exact longs), so join strategy and
      // aggregation order cannot change a single output bit.
      val smallH = h.count() <= bcastRowCap
      // |a| = the set of event types with ≥1 contributing edge — fixed
      // after the first half-round, so one count on the materialized
      // checkpoint gates all later rounds.
      var smallA = false
      var a: DataFrame = null
      for (i <- 1 to hitsRounds) {
        // rawA/rawH stay eagerly checkpointed: the normalizer reads the
        // raw frame twice (dA + the projection), and an un-materialized
        // rawA re-runs the join+aggregate once per reference (measured
        // this round: 6.6 s → 11.7 s when the ckpt was dropped).
        val rawA = ckpt(edges.join(bcastIf(h, smallH), Seq("user_id"))
          .groupBy(col("event_type"))
          .agg(sum(col("w") * col("score")).as("raw")))
        val dA = rawA.agg(greatest(lit(1L),
          expr(s"sum(raw) div $hitsScale")).as("d"))
        a = ckpt(rawA.crossJoin(broadcast(dA))
          .select(col("event_type"), expr("raw div d").as("score")))
        if (i == 1) smallA = a.count() <= bcastRowCap
        val rawH = ckpt(edges.join(bcastIf(a, smallA), Seq("event_type"))
          .groupBy(col("user_id"))
          .agg(sum(col("w") * col("score")).as("raw")))
        val dH = rawH.agg(greatest(lit(1L),
          expr(s"sum(raw) div $hitsScale")).as("d"))
        h = ckpt(rawH.crossJoin(broadcast(dH))
          .select(col("user_id"), expr("raw div d").as("score")))
      }
      val hubs = h
        .select(lit("hub").as("kind"), col("user_id").cast("string").as("node"),
          col("score"))
        .orderBy(col("score").desc, col("node")).limit(20)
      val auths = a
        .select(lit("auth").as("kind"), col("event_type").as("node"), col("score"))
      // Eager checkpoint: the 8 join rounds would otherwise re-run per
      // downstream action.
      val out = hubs.unionByName(auths)
        .orderBy(col("kind"), col("score").desc, col("node"))
        .localCheckpoint(eager = true)
      // out is materialized: every per-round temp block is dead now.
      Checkpoints.release(temps.toSeq: _*)
      retain(out)
    } finally edges.unpersist(blocking = false)
  }

  val graphHitsSql: String = {
    // Each normalization reads its raw CTE ONCE, with the round total as
    // sum(raw) OVER () in the same scan. The first cut used a scalar
    // subquery `(SELECT sum(raw) FROM rawa$i)` — a SECOND reference to
    // the CTE, which DuckDB INLINES rather than materializes, doubling
    // the expanded plan per round: 2^10 copies of the e⋈h join chain,
    // 563 s at sf0.01, and (round-12 post-mortem) enough to starve the
    // driver's whole correctness gate. Window-total keeps it linear:
    // same integer values, ~1 s.
    val round = (i: Int) =>
      s"""rawa$i AS (SELECT e.event_type, sum(e.w * h.score) AS raw
         |  FROM e JOIN h${i - 1} h USING (user_id) GROUP BY e.event_type),
         |a$i AS (SELECT event_type,
         |  raw // greatest(1, sum(raw) OVER () // $hitsScale) AS score
         |  FROM rawa$i),
         |rawh$i AS (SELECT e.user_id, sum(e.w * a.score) AS raw
         |  FROM e JOIN a$i a USING (event_type) GROUP BY e.user_id),
         |h$i AS (SELECT user_id,
         |  raw // greatest(1, sum(raw) OVER () // $hitsScale) AS score
         |  FROM rawh$i)""".stripMargin
    s"""WITH e AS (
       |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS w
       |  FROM events GROUP BY 1, 2),
       |h0 AS (SELECT DISTINCT user_id, $hitsScale AS score FROM e),
       |${(1 to hitsRounds).map(round).mkString(",\n")},
       |hubs AS (
       |  SELECT 'hub' AS kind, CAST(user_id AS VARCHAR) AS node,
       |    CAST(score AS BIGINT) AS score
       |  FROM h$hitsRounds ORDER BY score DESC, node LIMIT 20),
       |auths AS (
       |  SELECT 'auth' AS kind, event_type AS node, CAST(score AS BIGINT) AS score
       |  FROM a$hitsRounds)
       |SELECT * FROM (SELECT * FROM hubs UNION ALL SELECT * FROM auths)
       |ORDER BY kind, score DESC, node""".stripMargin
  }

  // ─── graph_ktruss: truss decomposition of the dup-pair graph ───
  // The edge-strength refinement of k-core: a k-truss keeps only
  // edges supported by ≥ k−2 triangles WITHIN the surviving subgraph
  // — the standard community-core extractor (cohesive dup cliques
  // survive, chained false-positive bridges peel away; exactly the
  // separation graph_triangles motivates, made recursive). Peeling is
  // FIXED at trussRounds=3 rounds — the round count is part of the
  // semantics, like graph_coreness — with the fixpoint-at-test-SF
  // asserted by spec (one more round changes nothing), because the
  // DuckDB twin unrolls the same 3 rounds as MATERIALIZED CTEs (the
  // graph_hits lesson: multi-referenced CTEs must materialize, or the
  // unroll goes exponential). Per round: the Schank–Wagner oriented
  // wedge join from triangleCounts (out-degrees O(√m) ⇒ arboricity-
  // bounded — the 100 TB-safe triangle shape), support per canonical
  // edge via a 3-way explode + one map-combining count, an equijoin
  // filter. State between rounds is the canonical edge list,
  // localCheckpointed per round by the one checkpointed loop.
  private val trussRounds = 3

  private[graft] def peelOnce(canon: DataFrame, minSup: Long,
      small: Boolean = false): DataFrame = {
    val sym = canon.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(canon.select(col("b").as("src"), col("a").as("dst")))
    // deg is |V|-bounded: broadcast when the caller measured the graph
    // small (guide §3.1) — the two degree-attach joins then add no
    // exchange; the wedge self-join below stays SMJ at any size (it is
    // edge-scale on both sides — the 100 TB shape must not broadcast).
    val deg = sym.groupBy(col("src").as("n")).agg(count(lit(1)).as("d"))
    val ore = sym
      .join(bcastIf(deg.select(col("n").as("sn"), col("d").as("sd")), small),
        col("src") === col("sn"))
      .join(bcastIf(deg.select(col("n").as("dn"), col("d").as("dd")), small),
        col("dst") === col("dn"))
      .filter(struct(col("sd"), col("src")) < struct(col("dd"), col("dst")))
      .select(col("src"), col("dst"))
    val tri = ore.as("e1")
      .join(ore.as("e2"), col("e1.src") === col("e2.src"))
      .join(ore.as("e3"),
        col("e1.dst") === col("e3.src") && col("e2.dst") === col("e3.dst"))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"), col("e2.dst").as("w"))
    val sup = tri.select(explode(array(
        struct(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b")),
        struct(least(col("u"), col("w")).as("a"), greatest(col("u"), col("w")).as("b")),
        struct(least(col("v"), col("w")).as("a"), greatest(col("v"), col("w")).as("b"))))
        .as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("sup"))
    canon.join(sup, Seq("a", "b"))
      .filter(col("sup") >= minSup)
      .select(col("a"), col("b"))
  }

  def graphKtruss(spark: SparkSession, dir: String): DataFrame = {
    val edges = Dedup.pairEdges(spark, dir)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val canon0 = edges.filter(col("src") < col("dst"))
        .select(col("src").as("a"), col("dst").as("b"))
      // Round-17: peeling only removes edges — unchanged count ⇒
      // unchanged set ⇒ all later rounds are identities (the oracle's
      // full 3-round unroll produces the same set), so stop early; and
      // the per-round degree frame broadcasts when the measured edge
      // count fits.
      val small = edges.count() <= bcastRowCap
      val perK = Seq(3L, 4L).map { k =>
        val fin = iterate(canon0, trussRounds, s"graphKtruss k=$k", EarlyStop)(
          peelOnce(_, k - 2, small))(_.count())
        val nE = fin.agg(count(lit(1)).as("n_edges"))
        val nN = fin.select(col("a").as("nd"))
          .unionByName(fin.select(col("b").as("nd"))).distinct()
          .agg(count(lit(1)).as("n_nodes"))
        nE.crossJoin(nN).select(lit(k).as("k"), col("n_edges"), col("n_nodes"))
      }
      retain(perK.reduce(_ unionByName _).orderBy(col("k"))
        .localCheckpoint(eager = true))
    } finally edges.unpersist(blocking = false)
  }

  val graphKtrussSql: String = {
    def round(k: Int, r: Int): String = {
      val prev = s"canon${k}_${r - 1}"
      s"""sym${k}_$r AS (SELECT a AS src, b AS dst FROM $prev
         |  UNION ALL SELECT b, a FROM $prev),
         |deg${k}_$r AS (SELECT src AS n, count(*) AS d FROM sym${k}_$r GROUP BY src),
         |ore${k}_$r AS MATERIALIZED (SELECT e.src, e.dst FROM sym${k}_$r e
         |  JOIN deg${k}_$r ds ON ds.n = e.src
         |  JOIN deg${k}_$r dd ON dd.n = e.dst
         |  WHERE (ds.d, e.src) < (dd.d, e.dst)),
         |tri${k}_$r AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
         |  FROM ore${k}_$r e1 JOIN ore${k}_$r e2 ON e1.src = e2.src
         |  JOIN ore${k}_$r e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
         |sup${k}_$r AS (SELECT a, b, count(*) AS sup FROM (
         |    SELECT least(u, v) AS a, greatest(u, v) AS b FROM tri${k}_$r
         |    UNION ALL SELECT least(u, w), greatest(u, w) FROM tri${k}_$r
         |    UNION ALL SELECT least(v, w), greatest(v, w) FROM tri${k}_$r)
         |  GROUP BY 1, 2),
         |canon${k}_$r AS MATERIALIZED (
         |  SELECT c.a, c.b FROM $prev c
         |  JOIN sup${k}_$r s ON s.a = c.a AND s.b = c.b
         |  WHERE s.sup >= ${k - 2})""".stripMargin
    }
    def perK(k: Int): String =
      (s"""canon${k}_0 AS MATERIALIZED (
          |  SELECT src AS a, dst AS b FROM edges WHERE src < dst)""".stripMargin
        +: (1 to trussRounds).map(round(k, _))).mkString(",\n")
    s"""WITH ${Dedup.edgesCtes},
       |${perK(3)},
       |${perK(4)}
       |SELECT CAST(3 AS BIGINT) AS k,
       |  (SELECT CAST(count(*) AS BIGINT) FROM canon3_$trussRounds) AS n_edges,
       |  (SELECT CAST(count(*) AS BIGINT) FROM (
       |     SELECT a AS nd FROM canon3_$trussRounds
       |     UNION SELECT b FROM canon3_$trussRounds)) AS n_nodes
       |UNION ALL
       |SELECT CAST(4 AS BIGINT),
       |  (SELECT CAST(count(*) AS BIGINT) FROM canon4_$trussRounds),
       |  (SELECT CAST(count(*) AS BIGINT) FROM (
       |     SELECT a AS nd FROM canon4_$trussRounds
       |     UNION SELECT b FROM canon4_$trussRounds))
       |ORDER BY k""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_ktruss" -> graphKtruss,
    "graph_coreness" -> graphCoreness,
    "graph_rich_club" -> graphRichClub,
    "graph_hits" -> graphHits,
    "graph_closeness" -> graphCloseness,
    "graph_eccentricity" -> graphEccentricity,
    "graph_reciprocity" -> graphReciprocity,
    "graph_walk" -> graphWalk,
    "graph_condense" -> graphCondense,
    "graph_scc" -> graphScc,
    "graph_louvain" -> graphLouvain,
    "graph_modularity" -> graphModularity,
    "graph_label_prop" -> graphLabelProp,
    "graph_2hop" -> graph2hop,
    "graph_cc_hist" -> graphCcHist,
    "graph_assortativity" -> graphAssortativity,
    "graph_clustering" -> graphClustering,
    "graph_kcore" -> graphKcore,
    "graph_jaccard" -> graphJaccard,
    "graph_bfs" -> graphBfs,
    "graph_components" -> graphComponents,
    "graph_degrees" -> graphDegrees,
    "graph_squares" -> graphSquares,
    "graph_triangles" -> graphTriangles,
    "graph_pagerank" -> graphPagerank)

  val oracle: Map[String, String] = Map(
    "graph_ktruss" -> graphKtrussSql,
    "graph_coreness" -> graphCorenessSql,
    "graph_rich_club" -> graphRichClubSql,
    "graph_hits" -> graphHitsSql,
    "graph_closeness" -> graphClosenessSql,
    "graph_eccentricity" -> graphEccentricitySql,
    "graph_reciprocity" -> graphReciprocitySql,
    "graph_walk" -> graphWalkSql,
    "graph_condense" -> graphCondenseSql,
    "graph_scc" -> graphSccSql,
    "graph_louvain" -> graphLouvainSql,
    "graph_modularity" -> graphModularitySql,
    "graph_label_prop" -> graphLabelPropSql,
    "graph_2hop" -> graph2hopSql,
    "graph_cc_hist" -> graphCcHistSql,
    "graph_assortativity" -> graphAssortativitySql,
    "graph_clustering" -> graphClusteringSql,
    "graph_kcore" -> graphKcoreSql,
    "graph_jaccard" -> graphJaccardSql,
    "graph_bfs" -> graphBfsSql,
    "graph_components" -> graphComponentsSql,
    "graph_degrees" -> graphDegreesSql,
    "graph_squares" -> graphSquaresSql,
    "graph_triangles" -> graphTrianglesSql,
    "graph_pagerank" -> graphPagerankSql)
}

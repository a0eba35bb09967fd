package graft

import scala.collection.mutable.ArrayBuffer

import graft.operators.{Dedup, Graph}
import graft.telemetry.Telemetry
import graft.telemetry.Telemetry.{LogBackend, LogEvent}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The reusable fixpoint loop and the graph operators built on it. */
class GraphSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.test
  private val dir = "/root/testdata/sf0.001"

  /** Both directions of an undirected edge list as a DataFrame. */
  private def edgeDf(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
  }

  test("connectedComponents labels a long chain (pointer jumping works)") {
    // A 40-node path needs ~40 rounds with plain neighbor-min; pointer
    // jumping must finish it well inside the 50-round cap.
    val chain = edgeDf((0L until 39L).map(i => (i, i + 1)))
    val lbl = Graph.connectedComponents(chain, "chainTest").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lbl.size == 40)
    assert(lbl.values.forall(_ == 0L), "one component rooted at the min node")
  }

  test("connectedComponents separates disjoint components") {
    val lbl = Graph
      .connectedComponents(edgeDf(Seq((1L, 2L), (2L, 3L), (10L, 11L))), "twoComp")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lbl == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents on an empty edge set returns no rows") {
    val empty = edgeDf(Seq.empty)
    assert(Graph.connectedComponents(empty, "emptyTest").count() == 0)
  }

  test("graph_components agrees with dedup_cluster's label frame") {
    val stats = Graph.graphComponents(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val clusters = Dedup.dedupCluster(spark, dir)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n"), max(col("doc_id")).as("mx")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(stats.keySet == clusters.keySet)
    stats.foreach { case (cid, (nDocs, nEdges, maxDoc)) =>
      assert((nDocs, maxDoc) == clusters(cid))
      // A connected n-node component has between n−1 and n(n−1)/2 edges.
      assert(nEdges >= nDocs - 1 && nEdges <= nDocs * (nDocs - 1) / 2,
        s"component $cid: $nEdges edges for $nDocs docs")
    }
  }

  test("triangleCounts: K4 has 3 triangles per node, C4 has none") {
    // Complete graph on {0,1,2,3}: each node sits in C(3,2) = 3
    // triangles. A 4-cycle {10,11,12,13} (no diagonals) has zero —
    // chained borderline pairs must not read as a clique.
    val k4 = for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)
    val c4 = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L))
    val got = Graph.triangleCounts(edgeDf(k4 ++ c4)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("pagerank: star center outranks leaves; ranks sum to 1") {
    // K1,4 star rooted at 0 — the center must dominate, and with no
    // dangling nodes the power method conserves total mass.
    val star = edgeDf((1L to 4L).map(i => (0L, i)))
    val pr = Graph.pagerank(star).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr.size == 5)
    assert(math.abs(pr.values.sum - 1.0) < 1e-9, s"mass: ${pr.values.sum}")
    (1L to 4L).foreach(i => assert(pr(0L) > pr(i) * 2))
    // Leaves are symmetric — identical ranks.
    assert((1L to 4L).map(pr).toSet.size == 1)
  }

  test("iterate releases every superseded round's checkpoint blocks") {
    // After the loop, only the FINAL round's blocks may remain
    // persisted (they back the returned frame); every earlier round
    // must have been unpersisted — the round-4 leak regression, where
    // accumulated checkpoint blocks degraded an unrelated downstream
    // query 6×. A 20-node chain runs several rounds, so a leak shows
    // up as several extra persisted RDDs.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val chain = edgeDf((0L until 20L).map(i => (i, i + 1)))
    val result = Graph.connectedComponents(chain, "hygieneTest")
    result.count() // materialize the caller's action
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1,
      s"leaked checkpoint RDDs beyond the final round: ${leaked.size}")
  }

  test("shortestDistances: multi-source BFS distances on a barbell") {
    import spark.implicits._
    // Path 0-1-2-3-4 plus disjoint pair {10,11}; seeds {0, 10}.
    // Unreached nodes don't appear; distances are exact hop counts.
    val edges = edgeDf(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)))
    val seeds = Seq(0L, 10L).toDF("node")
    val got = Graph.shortestDistances(edges, seeds, "bfsSpec").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L,
      10L -> 0L, 11L -> 1L))
  }

  test("graph_condense on an edgeless quotient puts every SCC at level 0 without a loop") {
    // The testdata's transition graph is one SCC, so the quotient has
    // no edges: there is nothing to relax.
    val events = ArrayBuffer.empty[LogEvent]
    val old = Telemetry.installed
    Telemetry.install(Seq(new LogBackend {
      val minLevel: Telemetry.Level = Telemetry.Debug
      def emit(e: LogEvent): Unit = events.synchronized(events += e)
    }))
    val rows = try Graph.graphCondense(spark, dir).collect() finally Telemetry.install(old)
    val sccIds = Graph.graphScc(spark, dir).select(col("scc_id")).distinct()
      .collect().map(_.get(0)).toSet
    assert(rows.map(_.getAs[Any]("scc_id")).toSet == sccIds)
    assert(rows.forall(r => r.getAs[Long]("level") == 0L && r.getAs[Long]("out_degree") == 0L))
    val loops = events.filter(e => e.message == "iterate" &&
      e.metadata.get("op").contains("graph_condense"))
    assert(loops.isEmpty, s"graph_condense entered its loop: ${loops.map(_.metadata)}")
    Families.invalidateFixtures()
  }
}

package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The batch harness every query main (Bench, Verify, Probe, Explain)
  * runs on. Fixture-sharing and same-table queries group together so a
  * chunk's session-scoped fixtures (Trike frames, Dedup shingles/
  * signatures) build once, and oversized families split at a cap so no
  * chunk's session lives long enough to accumulate JVM pressure (the
  * round-9 lesson: one 167-query session made late families report
  * 3–8× their isolated cost). Each chunk gets a fresh session, and a
  * chunk that throws — an executor OOM can stop the context mid-chunk —
  * fails only its unfinished queries; the next chunk starts on a new
  * context.
  */
object Families {

  type Query = (SparkSession, String) => DataFrame

  /** Queries per chunk: the largest family slice one session runs. */
  private val ChunkCap = 12

  /** Family key: qN_* all share the TPC-H tables and group as "rel";
    * everything else groups by its key prefix. */
  private def family(key: String): String =
    if (key.matches("q\\d+_.*")) "rel"
    else {
      val p = key.takeWhile(_ != '_')
      if (p.isEmpty) key else p
    }

  /** Stable chunking: families in name order, each family's queries in
    * name order, oversized families split — every run processes the
    * same query in the same chunk position. */
  private def chunked[A](all: Seq[(String, A)], cap: Int): Seq[Seq[(String, A)]] =
    all.sortBy(_._1)
      .groupBy { case (name, _) => family(name) }
      .toSeq.sortBy(_._1)
      .flatMap { case (_, qs) => qs.grouped(cap) }

  /** Initial shuffle partitions by input scale (see GraftSession): ≥1 GiB
    * of parquet gets the sf10 spill-safe 8× cores; smaller inputs keep
    * `cores` so sub-second stages aren't taxed by wide shuffle setup (the
    * r16 sketch-family regression, isolated in round 17). An unreadable
    * dir counts as big. */
  private def initialParts(sfDir: String, cores: Int): Int = {
    val bytes = scala.util.Try {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(sfDir))
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }.getOrElse(Long.MaxValue)
    if (bytes >= (1L << 30)) cores * 8 else cores
  }

  /** One chunk on its own session. The body runs each query through
    * `attempt`; a query that never completes an attempt counts as
    * failed. */
  final class Chunk(val spark: SparkSession, val queries: Seq[(String, Query)],
      tag: String) {
    private[Families] val ok = ConcurrentHashMap.newKeySet[String]()

    /** Run `work` for `name`. An error is the query's own failure and
      * the chunk goes on; a fatal one (an OOM) aborts the chunk. */
    def attempt(name: String)(work: => Unit): Boolean =
      try { work; ok.add(name); true }
      catch { case NonFatal(e) =>
        System.err.println(s"[$tag] $name failed: ${e.getMessage}")
        false
      }
  }

  /** A run's settings and what it has produced so far. */
  final class Run(val cpus: Int, val initialParts: Int) {
    val failed = mutable.ArrayBuffer.empty[String]
    val fixtures = mutable.ArrayBuffer.empty[(String, Double)]
  }

  /** Run `queries` whose key passes `only`, chunk by chunk. Each chunk
    * gets a fresh session; afterwards its fixture builds are drained
    * into the run, its fixtures invalidated, its session stopped and
    * `afterChunk` called before a GC nudge, so the next chunk starts
    * from a near-fresh heap rather than inheriting this one's garbage.
    * Janino's codegen cache is JVM-static and survives recycling. */
  def run(tag: String, sfDir: String, only: Option[Set[String]],
      queries: Seq[(String, Query)] = SparkEntry.queries.toSeq)(
      body: Chunk => Unit, afterChunk: Run => Unit = _ => ()): Run = {
    only.foreach(_.diff(queries.map(_._1).toSet).toSeq.sorted
      .foreach(k => System.err.println(s"[$tag] unknown key $k")))
    val r = new Run(GraftSession.cpus, initialParts(sfDir, GraftSession.cpus))
    System.err.println(s"[$tag] cpus ${r.cpus} initialPartitionNum ${r.initialParts}")
    chunked(queries.filter { case (k, _) => only.forall(_.contains(k)) }, ChunkCap)
      .foreach { qs =>
        var c: Chunk = null
        try {
          c = new Chunk(
            GraftSession.live(GraftSession.builder(r.cpus, r.initialParts)), qs, tag)
          body(c)
        } catch { case e: Throwable =>
          System.err.println(s"[$tag] chunk starting at ${qs.head._1} aborted: $e")
        } finally {
          // Kept on an aborted chunk too: its finished queries' timings
          // stay, so its fixture builds must as well.
          r.fixtures ++= drainFixtureTimes()
          scala.util.Try(invalidateFixtures())
          if (c != null) scala.util.Try(c.spark.stop())
        }
        r.failed ++= qs.map(_._1).filterNot(k => c != null && c.ok.contains(k))
        afterChunk(r)
        System.gc()
      }
    r
  }

  /** Release the chunk's fixtures and retained result blocks
    * (`Checkpoints.invalidate`) so a stop()+gc() actually frees them. */
  def invalidateFixtures(): Unit = graft.operators.Checkpoints.invalidate()

  /** Fixture-build ledger (the round-13 fix for fixture attribution):
    * `Checkpoints.fixture` records (name, seconds) here when it actually
    * BUILDS — memoized hits record nothing — so Bench can report
    * fixture builds as their own line items instead of
    * charging them to whichever query touches the fixture first in its
    * chunk (round-13's driver-vs-builder "regressions" were exactly
    * such attribution flips: graph_clustering 0.55 s vs 3.78 s, same
    * code, different chunk paying the shared pair-graph build). */
  private val fixtureTimes = new ConcurrentLinkedQueue[(String, Double)]

  def recordFixtureBuild(name: String, secs: Double): Unit =
    fixtureTimes.add((name, secs))

  /** Drain (name, seconds) entries recorded since the last drain. A
    * name can repeat across drains — each chunk's fresh session
    * rebuilds its fixtures. */
  def drainFixtureTimes(): Seq[(String, Double)] = {
    val b = Seq.newBuilder[(String, Double)]
    var e = fixtureTimes.poll()
    while (e != null) { b += e; e = fixtureTimes.poll() }
    b.result()
  }
}

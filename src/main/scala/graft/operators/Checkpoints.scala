package graft.operators

import java.util.concurrent.ConcurrentHashMap

import scala.util.Try

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

import graft.telemetry.Telemetry

/** When a localCheckpoint's blocks are released: the one policy the
  * session fixtures, the frames operators return and the iterative
  * loops share.
  *
  * localCheckpoint is the cheap lineage truncation iterative DataFrame
  * code needs (without one the plan doubles every round), but the
  * ContextCleaner releases its blocks only lazily. Round 4 measured the
  * cost of leaving it to the cleaner: blocks leaked by dedup_cluster's
  * loop slowed an unrelated later query 6×. So each checkpoint block
  * made outside a single query's own scope has one of three owners:
  *
  *  - a session fixture (`fixture`, `memo`): one value per name, keyed
  *    by (session, dir); the predecessor's blocks are released when the
  *    key changes;
  *  - a frame handed back to a caller (`retain`): kept until the next
  *    `invalidate()`, because the caller may still run actions on it;
  *  - a loop round (`iterate`): released as soon as the next round has
  *    been measured.
  *
  * LONG-LIVED-SESSION CONTRACT: retained blocks are released only by
  * `invalidate()` (`Families.invalidateFixtures`), which the batch
  * harness calls at every chunk boundary. A resident service that runs
  * these operators indefinitely must call it at its own batch
  * boundaries, or it keeps one result's blocks per query: each
  * edge-set-sized, never corpus-sized, but unbounded in count. Entries
  * whose SparkContext has stopped are pruned on every `retain` (their
  * blocks died with the context; only the references would pile up).
  */
object Checkpoints {

  /** The checkpoint RDDs a frame's plan rests on (a localCheckpoint'ed
    * Dataset plans as a LogicalRDD). */
  private[graft] def ckptRdds(df: Dataset[_]): Seq[RDD[_]] =
    df.queryExecution.logical.collect { case l: LogicalRDD => l.rdd }

  // Try: the owning context may already be stopped (the harness
  // recycles sessions per chunk), and unpersist on a stopped context
  // throws from the block-manager master lookup.
  private def drop(rdds: Seq[RDD[_]]): Unit =
    rdds.foreach(r => Try(r.unpersist(blocking = false)))

  /** Release the blocks under `dfs` now: a query's own temporary
    * checkpoints, once its result no longer reads them. */
  def release(dfs: DataFrame*): Unit = drop(dfs.flatMap(ckptRdds))

  // ─── session fixtures ───

  /** One named fixture: the key it was built for, its value, and the
    * blocks that value rests on. Its monitor serializes the builds of
    * this name only: fixtures of different names build concurrently
    * (Verify runs a chunk's queries on 4 threads), and a build may take
    * another fixture's monitor inside its own without deadlock, because
    * fixtures depend on each other in one direction only (shingles ←
    * signatures ← pair graph). */
  private final class Slot {
    var key: (SparkSession, String) = _
    var value: Any = _
    var rdds: Seq[RDD[_]] = Nil
  }
  private val slots = new ConcurrentHashMap[String, Slot]

  /** Fixture `name` for (spark, dir). `build` runs on the first touch of
    * a key, after the previous key's blocks are released, and its time
    * goes into the Families ledger under `name` (cache hits record
    * nothing). `build` returns its frames, alone or in a tuple, already
    * materialized, so the build's cost lands on the fixture and not on
    * the first query that reads it.
    *
    * SEQUENTIAL-EXECUTION ASSUMPTION: a key switch releases the blocks
    * under frames the previous key's queries returned; run each returned
    * frame's action before asking for another dir. The value is the data
    * as of first touch: a caller that rewrites `dir` in place within a
    * session must `invalidate()`. */
  def fixture[A](name: String, spark: SparkSession, dir: String)(build: => A): A =
    cached(name, spark, dir, ledger = true)(build)

  /** `fixture` without a ledger entry: a small in-memory value (a
    * count, a collected model) that must still not outlive its session
    * or serve a stale dir. */
  def memo[A](name: String, spark: SparkSession, dir: String)(build: => A): A =
    cached(name, spark, dir, ledger = false)(build)

  private def cached[A](name: String, spark: SparkSession, dir: String,
      ledger: Boolean)(build: => A): A = {
    val slot = slots.computeIfAbsent(name, _ => new Slot)
    slot.synchronized {
      val key = (spark, dir)
      if (slot.key != key) {
        clear(slot)
        val t0 = System.nanoTime()
        val v = build
        if (ledger)
          graft.Families.recordFixtureBuild(name, (System.nanoTime() - t0) / 1e9)
        slot.value = v
        slot.rdds = rddsOf(v)
        slot.key = key
      }
      slot.value.asInstanceOf[A]
    }
  }

  private def clear(slot: Slot): Unit = {
    drop(slot.rdds)
    slot.key = null
    slot.value = null
    slot.rdds = Nil
  }

  private def rddsOf(v: Any): Seq[RDD[_]] = v match {
    case d: Dataset[_] => ckptRdds(d)
    case p: Product => p.productIterator.flatMap(rddsOf).toSeq
    case _ => Nil
  }

  // ─── returned frames ───

  private var retained: Seq[RDD[_]] = Nil

  /** Keep `df`'s checkpoint blocks until the next `invalidate()`, and
    * return `df`. Never sooner: releasing them when the next query
    * finished its loop broke Verify's thread pool, where query A's
    * parquet write can still be reading A's result while B runs. The
    * lineage is truncated, so the blocks cannot be recomputed and A
    * failed (a flaky graph_closeness in round 13). */
  def retain(df: DataFrame): DataFrame = {
    val rdds = ckptRdds(df)
    synchronized {
      retained = retained.filterNot(r =>
        Try(r.sparkContext.isStopped).getOrElse(true)) ++ rdds
    }
    df
  }

  /** Release every fixture and every retained frame: at a chunk
    * boundary before the owning session stops, or after a dir was
    * rewritten in place. */
  def invalidate(): Unit = {
    slots.values.forEach(s => s.synchronized(clear(s)))
    synchronized {
      drop(retained)
      retained = Nil
    }
  }

  // ─── the iterate loop ───

  /** When `iterate` stops. */
  sealed abstract class Stop(val name: String)

  /** When `measure` repeats; fails at the cap rather than return a
    * partial fixpoint. */
  case object Converge extends Stop("converge")

  /** When `measure` repeats or at the cap, whichever is first, without
    * failing. Sound only when a repeat proves `step` is the identity
    * from then on: true for the monotone peels (kcore, ktruss: the step's
    * output is a subset of its input, so an unchanged count is an
    * unchanged set; coreness: h-index values only fall from c₀ = deg, so
    * an unchanged sum is an unchanged frame). Stopping there is then
    * bit-identical to the fixed unroll the DuckDB twins replay. */
  case object EarlyStop extends Stop("early_stop")

  /** Exactly `cap` rounds, for algorithms whose round count is part of
    * the semantics (power iteration). */
  case object FixedRounds extends Stop("fixed_rounds")

  /** Run `step` from `init` for at most `cap` rounds under `stop`. Each
    * round is lazily localCheckpoint'ed and `measure` is its ONE action,
    * which also materializes that checkpoint; the previous round's
    * blocks are released once the new round is measured, so at most two
    * rounds' blocks are live at a time. The last round's blocks are
    * retained. Frames `step` reads besides its argument (the edge set)
    * should be persisted by the caller; they are re-read every round.
    * Each call emits one `iterate` telemetry event with `op`, `rounds`,
    * `cap`, `policy` and `converged` (the stop test fired; never for
    * fixed rounds): rounds that grow with the data size are the signal
    * an iterative operator does not scale. */
  def iterate[S](init: DataFrame, cap: Int, opName: String, stop: Stop)(
      step: DataFrame => DataFrame)(measure: DataFrame => S): DataFrame = {
    var cur = init.localCheckpoint(eager = false)
    var prev: Option[S] = None
    var converged = false
    var rounds = 0
    while (!converged && rounds < cap) {
      val next = step(cur).localCheckpoint(eager = false)
      val m = measure(next)
      release(cur)
      cur = next
      converged = stop != FixedRounds && prev.contains(m)
      prev = Some(m)
      rounds += 1
    }
    Telemetry.info("iterate", "op" -> opName, "rounds" -> rounds.toString,
      "cap" -> cap.toString, "policy" -> stop.name,
      "converged" -> converged.toString)
    retain(cur)
    require(converged || stop != Converge, s"$opName: did not converge in $cap rounds")
    cur
  }
}

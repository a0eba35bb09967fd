package graft

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import graft.operators.Checkpoints
import graft.operators.Checkpoints.{Converge, EarlyStop, FixedRounds}
import graft.telemetry.Telemetry
import graft.telemetry.Telemetry.{LogBackend, LogEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint-block lifetime: session fixtures, retained results and
  * the one iterate loop. Blocks are read off the context's persistent
  * RDD registry, which a localCheckpoint joins as soon as it is
  * planned. Leaves a live `GraftSession.test` behind. */
class CheckpointsSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.test

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def ids(df: DataFrame): Set[Int] = Checkpoints.ckptRdds(df).map(_.id).toSet

  /** A materialized checkpoint of `n` rows, counting its builds. */
  private var builds = 0
  private def build(n: Int): DataFrame = {
    builds += 1
    val df = spark.range(n).toDF().localCheckpoint(eager = false)
    df.count()
    df
  }

  test("a fixture builds once per (session, dir) and releases its predecessor") {
    Families.drainFixtureTimes()
    builds = 0
    val a1 = Checkpoints.fixture("spec_frames", spark, "dir_a")(build(3))
    val a2 = Checkpoints.fixture("spec_frames", spark, "dir_a")(build(3))
    assert(a2 eq a1)
    assert(builds == 1)
    assert(Families.drainFixtureTimes().map(_._1) == Seq("spec_frames"))
    assert(ids(a1).nonEmpty && ids(a1).subsetOf(persisted))

    val b = Checkpoints.fixture("spec_frames", spark, "dir_b")(build(4))
    assert(builds == 2)
    assert(ids(a1).intersect(persisted).isEmpty, "the predecessor's blocks must be released")
    assert(ids(b).subsetOf(persisted))
    assert(b.count() == 4)
    Families.drainFixtureTimes()
  }

  test("fixtures of different names build concurrently, and builds nest") {
    // Each build waits for the other to start: under one shared lock the
    // second build could not start and both awaits would time out.
    val started = new java.util.concurrent.CountDownLatch(2)
    def meet(name: String): Future[Boolean] = Future {
      Checkpoints.memo(name, spark, "dir_lock") {
        started.countDown()
        started.await(30, java.util.concurrent.TimeUnit.SECONDS)
      }
    }
    val both = Future.sequence(Seq(meet("spec_lock_a"), meet("spec_lock_b")))
    assert(Await.result(both, 60.seconds) == Seq(true, true))
    val nested = Checkpoints.memo("spec_outer", spark, "dir_lock") {
      Checkpoints.memo("spec_inner", spark, "dir_lock")(1) + 1
    }
    assert(nested == 2)
    Families.invalidateFixtures()
  }

  test("invalidateFixtures leaves no fixture or retained checkpoint persisted") {
    val fix = Checkpoints.fixture("spec_frames", spark, "dir_c")(build(2))
    val kept = Checkpoints.retain(spark.range(5).toDF().localCheckpoint(eager = true))
    val looped = Checkpoints.iterate(spark.range(3).toDF(), 2, "specRetain", FixedRounds)(
      _.select(col("id")))(_.count())
    val all = ids(fix) ++ ids(kept) ++ ids(looped)
    assert(all.size == 3 && all.subsetOf(persisted))
    Families.invalidateFixtures()
    assert(all.intersect(persisted).isEmpty)
    Families.drainFixtureTimes()
  }

  test("the three stop policies: converge-or-fail, early stop, fixed rounds") {
    var rounds = 0
    def step(f: DataFrame => DataFrame): DataFrame => DataFrame = { df => rounds += 1; f(df) }
    val sumId: DataFrame => Long = _.agg(sum(col("id"))).head.getLong(0)

    // A counter that never repeats fails at the cap.
    val e = intercept[IllegalArgumentException] {
      Checkpoints.iterate(spark.range(1).toDF(), 3, "specGrow", Converge)(
        step(_.select((col("id") + 1).as("id"))))(sumId)
    }
    assert(e.getMessage.contains("specGrow: did not converge in 3 rounds"))
    assert(rounds == 3)

    // 0 → 1 → 2 → 3 → 3: the fourth round repeats and the loop stops.
    rounds = 0
    val capped = Checkpoints.iterate(spark.range(1).toDF(), 10, "specCapped", EarlyStop)(
      step(_.select(least(col("id") + 1, lit(3L)).as("id"))))(sumId)
    assert(rounds == 4)
    assert(capped.head.getLong(0) == 3L)

    // The measure repeats from round 2 on; fixed rounds ignores it.
    rounds = 0
    Checkpoints.iterate(spark.range(4).toDF(), 5, "specFixed", FixedRounds)(
      step(_.select(col("id"))))(_.count())
    assert(rounds == 5)
    Families.invalidateFixtures()
  }

  test("during a loop at most two rounds' blocks are live") {
    val before = persisted
    val live = ArrayBuffer.empty[Int]
    val out = Checkpoints.iterate(spark.range(10).toDF(), 6, "specLive", FixedRounds)(
      _.select((col("id") + 1).as("id"))) { df =>
      val n = df.count()
      live += (persisted -- before).size
      n
    }
    assert(live.size == 6)
    assert(live.max == 2, s"live checkpoint RDDs per round: $live")
    // Only the last round's blocks outlive the loop, retained for the caller.
    assert((persisted -- before) == ids(out))
    Families.invalidateFixtures()
  }

  test("each loop emits one iterate event with its fields") {
    val events = ArrayBuffer.empty[LogEvent]
    val old = Telemetry.installed
    Telemetry.install(Seq(new LogBackend {
      val minLevel: Telemetry.Level = Telemetry.Debug
      def emit(e: LogEvent): Unit = events.synchronized(events += e)
    }))
    try {
      Checkpoints.iterate(spark.range(1).toDF(), 10, "specEvent", EarlyStop)(
        _.select(least(col("id") + 1, lit(2L)).as("id")))(_.agg(sum(col("id"))).head.getLong(0))
    } finally Telemetry.install(old)
    val it = events.filter(_.message == "iterate")
    assert(it.size == 1)
    assert(it.head.level == Telemetry.Info)
    assert(it.head.metadata.filter { case (k, _) =>
      Set("op", "rounds", "cap", "policy", "converged")(k) } == Map(
      "op" -> "specEvent", "rounds" -> "3", "cap" -> "10",
      "policy" -> "early_stop", "converged" -> "true"))
    Families.invalidateFixtures()
  }
}

package graft

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The batch harness's fault paths: a chunk whose context dies fails
  * only its own unfinished queries, and the sessions after a stopped
  * context are new and live. Every test leaves a live
  * `GraftSession.test` behind for the suites that run after it. */
class HarnessSpec extends AnyFunSuite {

  test("a chunk whose context dies fails its unfinished queries; the next chunk runs on a new session") {
    // (query, session it ran on, was that session's context stopped)
    val ran = mutable.ArrayBuffer.empty[(String, SparkSession, Boolean)]
    def query(name: String)(work: SparkSession => Unit): (String, Families.Query) =
      name -> { (s: SparkSession, _: String) =>
        ran += ((name, s, s.sparkContext.isStopped))
        work(s)
        s.range(3).toDF()
      }
    // Families "a" and "b" are two chunks. a_2 stops its context and
    // throws fatally, as an executor OOM can: the error escapes the
    // query's attempt and aborts the chunk.
    val queries = Seq(
      query("a_1")(_ => ()),
      query("a_2") { s =>
        s.sparkContext.stop()
        throw new OutOfMemoryError("stub executor OOM")
      },
      query("a_3")(_ => ()),
      query("b_1")(_ => ()))
    val sf = java.nio.file.Files.createTempDirectory("harness_sf").toString
    try {
      val run = Families.run("harness", sf, None, queries)(c =>
        c.queries.foreach { case (name, fn) =>
          c.attempt(name)(assert(fn(c.spark, sf).count() == 3))
        })
      assert(run.failed.toSet == Set("a_2", "a_3"))
      assert(ran.map(_._1) == Seq("a_1", "a_2", "b_1"), "a_3 must not run")
      val (_, first, _) = ran.head
      val (_, second, secondStopped) = ran.last
      assert(first.sparkContext.isStopped)
      assert(second ne first)
      assert(second.sparkContext ne first.sparkContext)
      assert(!secondStopped, "the next chunk must run on a live context")
    } finally assert(!GraftSession.test.sparkContext.isStopped)
  }

  test("shared test session rebuilds when its context is stopped") {
    try {
      val s1 = GraftSession.test
      assert(!s1.sparkContext.isStopped)
      assert(GraftSession.test eq s1) // stable while alive
      s1.stop()
      val s2 = GraftSession.test
      assert(s2 ne s1)
      assert(!s2.sparkContext.isStopped)
      // and it works
      assert(s2.range(3).count() == 3)
    } finally assert(!GraftSession.test.sparkContext.isStopped)
  }
}
